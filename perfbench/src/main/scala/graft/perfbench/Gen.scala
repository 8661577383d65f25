package graft.perfbench

import java.util.SplittableRandom

import graft.metric.Sample
import graft.streaming.RemoteWrite

/** Seeded metric generator with closed-form values.
  *
  * Series `i` of a [[Fleet]] belongs to metric `Metrics(i % 4)` and
  * carries `job`, `instance` and `pod` labels. Every value is an integer
  * computed from (series, scrape index) alone, so sums and counts are
  * exact in doubles and any answer can be checked against [[value]]
  * without running a second engine. Counters grow by a per-series rate
  * each scrape; gauges cycle with a per-series phase.
  */
object Gen {
  /** 12 h segment-aligned epoch (2023-11-15T00:00Z): every run's data
    * starts on a segment boundary, so segment layout repeats exactly. */
  val T0 = 1700006400000L

  val Metrics = Seq("bench_requests_total", "bench_cpu_seconds_total",
    "bench_memory_bytes", "bench_queue_depth")
  val Jobs = 5
  val ProbeMetric = "bench_probe"

  def isCounter(metric: String): Boolean = metric.endsWith("_total")

  /** A fixed set of `n` series whose label values and value parameters are
    * drawn from `seed`. Scrape `k` is at `T0 + k * scrapeMs`. */
  final class Fleet(val n: Int, val seed: Long, val scrapeMs: Long) {
    private val rnd = new SplittableRandom(seed)
    // seeded permutation of instance numbers: label values differ per
    // seed, series identity (index i) does not
    private val perm: Array[Int] = {
      val a = Array.tabulate(n)(identity)
      for (i <- n - 1 to 1 by -1) {
        val j = rnd.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t
      }
      a
    }
    private val rate = Array.fill(n)(1 + rnd.nextInt(10))
    private val phase = Array.fill(n)(rnd.nextInt(1000))

    def metric(i: Int): String = Metrics(i % Metrics.size)
    def job(i: Int): String = s"job-${(i / Metrics.size) % Jobs}"
    def instance(i: Int): String = f"host-${perm(i)}%05d"
    def labels(i: Int): Map[String, String] = Map(
      "job" -> job(i), "instance" -> instance(i),
      "pod" -> s"pod-${perm(i)}")

    def ts(k: Long): Long = T0 + k * scrapeMs

    /** The closed form: series `i` at scrape `k`. */
    def value(i: Int, k: Long): Double =
      if (isCounter(metric(i))) (rate(i) * k).toDouble
      else ((phase(i) + 17L * k) % 1000L).toDouble

    def sample(i: Int, k: Long): Sample = Sample(metric(i), labels(i), ts(k), value(i, k))

    /** Scrapes `[k0, k1)` of every series. */
    def scrapes(k0: Long, k1: Long): Seq[Sample] =
      for (k <- k0 until k1; i <- 0 until n) yield sample(i, k)

    /** Closed form of `sum by (job) (metric)` at scrape `k`. */
    def sumByJob(metric: String, k: Long): Map[String, Double] =
      (0 until n).filter(this.metric(_) == metric)
        .groupBy(job).map { case (j, is) => j -> is.map(value(_, k)).sum }

    /** Series index by instance label (instances are unique per fleet). */
    lazy val byInstance: Map[String, Int] =
      (0 until n).map(i => instance(i) -> i).toMap
  }

  /** Snappy-framed remote-write body; odd payloads ship remote-write 2.0
    * (what Prometheus 3.x sends), even ones 1.0. */
  def body(samples: Seq[Sample], payloadNo: Long): Array[Byte] =
    org.xerial.snappy.Snappy.compress(
      if (payloadNo % 2 == 1) RemoteWrite.encodeV2(samples)
      else RemoteWrite.encode(samples))

  /** The probe series a `serve` writer payload carries: new per payload,
    * so freshness measures series registration plus data visibility. */
  def probe(payloadNo: Long, tsMs: Long): Sample =
    Sample(ProbeMetric, Map("probe" -> s"p$payloadNo"), tsMs, payloadNo.toDouble)
}
