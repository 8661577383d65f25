package graft.tools

import java.nio.file.Files
import java.util.concurrent.Executors

import graft.storage.{Manifest, SstFile, TimeRange}
import graft.streaming.RemoteWrite

/** JVM-side mirror of the reference's Criterion micro-bench suite
  * (src/benchmarks/benches/bench.rs) — the only benchmarks the reference
  * defines (BASELINE.md "benchmark definitions"). Same inputs, same
  * shapes, so the numbers are directly comparable to a local run of the
  * reference's suite:
  *
  *  1. Remote-write parse (bench.rs:61-170): decode the captured 1.7 MB
  *     Prometheus workload `1709380533560664458.data`, sequential at the
  *     reference's scales (1/5/10/20/50/100 parses per iteration) and
  *     concurrent (num-cpus threads, like its tokio pool).
  *  2. Manifest snapshot encoding (bench.rs:42-59, encoding_bench.rs):
  *     the do_merge procedure — load a 1000-record snapshot, append 100
  *     records, serialize back. Reference benches pure bytes in memory;
  *     the graft analog runs through the real Manifest (JSON-lines +
  *     local-FS I/O included), so its number is an upper bound.
  *
  * Without the capture the parse lanes run on [[RemoteWriteWorkload]]'s
  * synthetic payload; the first `[codec] workload:` line says which input
  * was used.
  *
  * Run: `sbt "runMain graft.tools.CodecBench [capture.data]"`; results in
  * SCALE.md.
  */
object CodecBench {
  /** Warm-up budget of every lane. */
  private val WarmupNs = 2000L * 1000 * 1000

  def main(args: Array[String]): Unit = {
    val workload = RemoteWriteWorkload.load(args.headOption)
    val bytes = workload.bytes
    val mb = bytes.length / 1e6

    val nSamples = RemoteWrite.decode(bytes).size
    println(f"[codec] workload: ${workload.label}, ${bytes.length} bytes, " +
      f"$nSamples samples")

    // Each lane first runs at least 3 calls and `warmNs` of warm-up, so a
    // small payload times the codec rather than the JIT compiling it.
    def timed(iters: Int, warmNs: Long)(f: => Unit): Double = {
      val warm = System.nanoTime() + warmNs
      var n = 0
      while (n < 3 || System.nanoTime() < warm) { f; n += 1 }
      val t0 = System.nanoTime()
      (1 to iters).foreach(_ => f)
      (System.nanoTime() - t0) / 1e6 / iters
    }
    def bench(label: String, iters: Int, warmNs: Long)(f: => Unit): Double = {
      val per = timed(iters, warmNs)(f)
      println(f"[codec] $label%-42s $per%9.2f ms/iter")
      per
    }

    // sequential parse at the reference's scales (config.toml
    // sequential_scales), in ascending and then descending order so that
    // no scale always runs first; each scale times 300 parses and reports
    // its faster pass and its per-parse time, which should agree across
    // scales
    val scales = Seq(1, 5, 10, 20, 50, 100)
    val seqMs = (scales ++ scales.reverse).map { scale =>
      scale -> timed(iters = 300 / scale, WarmupNs) {
        var i = 0
        while (i < scale) { RemoteWrite.decode(bytes); i += 1 }
      }
    }.groupMapReduce(_._1)(_._2)(math.min)
    for (scale <- scales) {
      val per = seqMs(scale)
      println(f"[codec] ${s"remote_write_sequential/graft/$scale"}%-42s " +
        f"$per%9.2f ms/iter ${per / scale}%7.3f ms/parse")
      if (scale == 1)
        println(f"[codec]   => ${mb / (per / 1000)}%.0f MB/s, " +
          f"${nSamples / (per / 1000)}%.0f samples/s single-thread")
    }

    // remote-write 2.0: the same captured workload transcoded to the
    // symbol-interned v2 wire (decode → encodeRequestV2), parsed through
    // the SAME auto-sniffed decode() entry point. v2 bodies are smaller
    // (strings interned once) and decode allocates one String per symbol
    // instead of one per label occurrence.
    val reqV1 = RemoteWrite.decodeRequest(bytes)
    val bytesV2 = RemoteWrite.encodeRequestV2(reqV1)
    require(RemoteWrite.decode(bytesV2).size == nSamples,
      "v2 transcode must preserve the sample count")
    val mbV2 = bytesV2.length / 1e6
    println(f"[codec] v2 transcode: ${bytesV2.length} bytes " +
      f"(${100.0 * bytesV2.length / bytes.length}%.0f%% of v1)")
    val perV2 = bench("remote_write_sequential/graft-v2/1", iters = 60, WarmupNs) {
      RemoteWrite.decode(bytesV2)
    }
    println(f"[codec]   => ${mbV2 / (perV2 / 1000)}%.0f MB/s wire, " +
      f"${nSamples / (perV2 / 1000)}%.0f samples/s single-thread")

    // concurrent parse: num-cpus tasks each doing `scale` parses
    val cpus = Runtime.getRuntime.availableProcessors()
    val pool = Executors.newFixedThreadPool(cpus)
    for (scale <- Seq(10, 50)) {
      val per = bench(s"remote_write_concurrent/graft/${cpus}x$scale", iters = 3,
          WarmupNs) {
        val futs = (1 to cpus).map(_ => pool.submit(new Runnable {
          def run(): Unit = {
            var i = 0
            while (i < scale) { RemoteWrite.decode(bytes); i += 1 }
          }
        }))
        futs.foreach(_.get())
      }
      println(f"[codec]   => ${cpus * scale * mb / (per / 1000)}%.0f MB/s aggregate")
    }
    pool.shutdown()

    // manifest snapshot encoding: 1000-record snapshot + 100 appends →
    // merge (encoding_bench.rs raw_bytes_bench, through the real store)
    val root = Files.createTempDirectory("graft-codec-manifest").toString
    val seed = new Manifest(root, mergeThreshold = Int.MaxValue)
    seed.update((1 to 1000).map(i =>
      SstFile(i.toLong, s"/data/$i.parquet", 1, 1, TimeRange(1, 2))))
    seed.mergeSnapshot()
    var nextId = 10000L
    // every call grows the snapshot by 100 records, so this lane keeps
    // the 3-call warm-up and times a snapshot of 1,300 to 3,300 records
    bench("manifest_encoding/snapshot_1000+100", iters = 20, warmNs = 0) {
      val m = new Manifest(root, mergeThreshold = Int.MaxValue) // load 1000
      m.update((1 to 100).map { _ =>
        nextId += 1
        SstFile(nextId, s"/data/$nextId.parquet", 1, 1, TimeRange(1, 2))
      })
      m.mergeSnapshot() // serialize 1000+appends back
    }
    println("[codec] OK")
  }
}
