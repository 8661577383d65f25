package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

/** One timed call into a layer. Spans of one operation share `op`;
  * `parent` is the enclosing span on the same thread (0 = none). */
final case class Span(id: Long, parent: Long, op: Long, name: String,
    startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** In-memory span recorder around the benchmark's calls into each layer.
  * Disabled, [[span]] is a plain call. Spans are kept until [[write]]. */
final class Tracer(val enabled: Boolean) {
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val current = new ThreadLocal[Span]()

  def span[A](name: String, op: Long = -1L)(f: => A): A =
    if (!enabled) f
    else {
      val parent = current.get()
      val opId = if (op >= 0) op else if (parent != null) parent.op else -1L
      val open = Span(ids.incrementAndGet(),
        if (parent != null) parent.id else 0L, opId, name, System.nanoTime(), 0L)
      current.set(open)
      try f
      finally {
        spans.add(open.copy(endNs = System.nanoTime()))
        current.set(parent)
      }
    }

  def all: Seq[Span] = spans.asScala.toSeq
  def ms(name: String): Seq[Double] = all.filter(_.name == name).map(_.ms)

  /** One JSON object per span, in start order. */
  def write(path: java.nio.file.Path): Unit = {
    val lines = all.sortBy(_.startNs).map(s =>
      s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":"${s.name}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}""")
    java.nio.file.Files.write(path, lines.asJava)
  }
}

/** Spark work per job group. The benchmark sets the group
  * `"<class>:<phase>#<op>"` on the calling thread for every operation, so
  * concurrent operations attribute exactly; totals key on the part before
  * `#`. Jobs without a group land in `"other"`. */
final class LayerListener extends SparkListener {
  final class Acc {
    var jobs, stages, tasks, runMs, shuffleBytes, spillBytes, schedDelayMs = 0L
    var peakExecMem = 0L
  }
  private val acc = mutable.Map.empty[String, Acc]
  private val stageGroup = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  private val stageSubmitMs = new java.util.concurrent.ConcurrentHashMap[Int, Long]()

  private def of(group: String): Acc = acc.getOrElseUpdate(group, new Acc)
  private def key(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .map(_.takeWhile(_ != '#')).getOrElse("other")

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = key(e.properties)
    e.stageIds.foreach(stageGroup.put(_, g))
    of(g).jobs += 1
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    stageSubmitMs.put(e.stageInfo.stageId,
      e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    of(stageGroup.getOrDefault(e.stageInfo.stageId, "other")).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = of(stageGroup.getOrDefault(e.stageId, "other"))
    a.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      a.runMs += m.executorRunTime
      a.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      a.peakExecMem = math.max(a.peakExecMem, m.peakExecutionMemory)
    }
    val submitted = stageSubmitMs.get(e.stageId)
    if (submitted != 0L)
      a.schedDelayMs += math.max(0L, e.taskInfo.launchTime - submitted)
  }

  /** Snapshot of totals per group key. */
  def totals: Map[String, Acc] = synchronized(acc.toMap)
}

object Plans {
  /** Rows produced by the file scans of an executed plan (adaptive stages
    * and subqueries included; reused exchanges count once). */
  def scanRows(plan: SparkPlan): Long = plan match {
    case a: AdaptiveSparkPlanExec => scanRows(a.executedPlan)
    case q: QueryStageExec => scanRows(q.plan)
    case p =>
      val own =
        if (p.nodeName.contains("Scan") && p.children.isEmpty &&
            !p.nodeName.contains("ExistingRDD") && !p.nodeName.contains("LocalTable"))
          p.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
        else 0L
      own + p.children.map(scanRows).sum + p.subqueries.map(scanRows).sum
  }
}
