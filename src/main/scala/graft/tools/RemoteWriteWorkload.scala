package graft.tools

import java.nio.file.{Files, Paths}

import graft.metric.Sample
import graft.streaming.RemoteWrite

/** The remote-write payload `CodecBench` parses and `HttpSoak` replays:
  * the reference's captured Prometheus workload
  * (`src/remote_write/tests/workloads/1709380533560664458.data` in the
  * reference tree) when `capture` names a readable file, else a synthetic
  * 2,000-sample payload over 16 series of one metric. */
final case class RemoteWriteWorkload(label: String, samples: Seq[Sample],
    bytes: Array[Byte])

object RemoteWriteWorkload {
  def load(capture: Option[String]): RemoteWriteWorkload =
    capture.map(Paths.get(_)).filter(Files.isRegularFile(_)) match {
      case Some(path) =>
        val bytes = Files.readAllBytes(path)
        RemoteWriteWorkload(s"captured workload $path", RemoteWrite.decode(bytes), bytes)
      case None =>
        val samples = (0 until 2000).map(i => Sample("soak_http_metric",
          Map("worker" -> s"w${i % 4}", "host" -> s"h${i % 16}"),
          1723680000000L + i * 250L, i * 0.5))
        RemoteWriteWorkload("synthetic 2000-sample payload (no capture given)",
          samples, RemoteWrite.encode(samples))
    }
}
