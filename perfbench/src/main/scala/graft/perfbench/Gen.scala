package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.mutable

import graft.prometheus.PrometheusRemote
import graft.prometheus.PrometheusRemote.ProtoWriter

/** One generated series and the wire format its device pushes in.
  * `name` is the sensor name the gateway derives, so selectors match
  * it exactly: Influx series are `measurement field` with a space.
  */
final case class Series(format: String, name: String, labels: Seq[(String, String)]) {
  def selector: String =
    (("__name__" -> name) +: labels)
      .map { case (k, v) => s"""$k="$v"""" }.mkString("{", ",", "}")
  def key: String = selector
}

final case class Sample(series: Series, tsMs: Long, value: Double)

/** One request body with the samples it carries (the ground truth a
  * successful acknowledgement adds).
  */
final case class Payload(format: String, body: Array[Byte], samples: Seq[Sample]) {
  def size: Int = samples.size
}

object Gen {
  val Formats: Seq[String] = Seq("influx", "remote", "csv", "senml")
  val Regions = 4

  /** `n` series spread round-robin over the four formats. `prefix`
    * separates fleets that share one store (mixed writes new series
    * beside the preloaded dashboard fleet).
    */
  def fleet(n: Int, prefix: String = ""): Seq[Series] = (0 until n).map { i =>
    val region = "region" -> s"r${i / Formats.size % Regions}"
    Formats(i % Formats.size) match {
      case "influx" =>
        Series("influx", s"${prefix}cpu usage", Seq("host" -> f"h$i%04d", region))
      case "remote" =>
        Series("remote", s"${prefix}http_requests_total",
          Seq("instance" -> f"i$i%04d", region))
      case "csv" => Series("csv", f"${prefix}power_$i%04d", Nil)
      case _ => Series("senml", f"urn:${prefix}dev:$i%04d:temp", Nil)
    }
  }

  /** Influx field/measurement split of a `measurement field` name. */
  private def influxParts(name: String): (String, String) = {
    val i = name.indexOf(' ')
    (name.substring(0, i), name.substring(i + 1))
  }

  def encode(format: String, samples: Seq[Sample]): Payload = {
    val body = format match {
      case "influx" =>
        val sb = new StringBuilder
        samples.foreach { s =>
          val (m, f) = influxParts(s.series.name)
          sb ++= m
          s.series.labels.foreach { case (k, v) => sb ++= s",$k=$v" }
          sb ++= s" $f=${s.value} ${s.tsMs * 1000000L}\n"
        }
        sb.result().getBytes(UTF_8)
      case "remote" =>
        val w = new ProtoWriter
        samples.groupBy(_.series).toSeq.sortBy(_._1.key).foreach { case (ser, ss) =>
          val tw = new ProtoWriter
          (("__name__" -> ser.name) +: ser.labels).sortBy(_._1).foreach { case (k, v) =>
            val lw = new ProtoWriter
            lw.string(1, k); lw.string(2, v)
            tw.message(1, lw)
          }
          ss.sortBy(_.tsMs).foreach { x =>
            val sw = new ProtoWriter
            sw.double(1, x.value); sw.int64(2, x.tsMs)
            tw.message(2, sw)
          }
          w.message(1, tw)
        }
        PrometheusRemote.snappyCompressLiteral(w.result())
      case "csv" =>
        val sb = new StringBuilder("datetime,sensor_name,value\n")
        samples.foreach { s =>
          sb ++= s"${java.time.Instant.ofEpochMilli(s.tsMs)},${s.series.name},${s.value}\n"
        }
        sb.result().getBytes(UTF_8)
      case "senml" =>
        samples.map { s =>
          s"""{"n":"${s.series.name}","u":"Cel","t":${s.tsMs / 1000},"v":${s.value}}"""
        }.mkString("[", ",", "]").getBytes(UTF_8)
    }
    Payload(format, body, samples)
  }

  /** Gateway write route and request headers per format. */
  def route(format: String): (String, Seq[(String, String)]) = format match {
    case "influx" => ("/api/v2/write?bucket=bench&org=bench", Seq("content-type" -> "text/plain"))
    case "remote" => ("/api/v1/prometheus_remote_write", Seq(
      "content-type" -> "application/x-protobuf", "content-encoding" -> "snappy",
      "x-prometheus-remote-write-version" -> "0.1.0"))
    case "csv" => ("/publish", Seq("content-type" -> "text/csv"))
    case _ => ("/publish", Seq("content-type" -> "application/json"))
  }
}

/** Per-series sample clock and ground truth. Timestamps are whole
  * seconds counting back from `t0Ms` (the run start), so no two samples
  * of a series share a timestamp and none sits on a query-window edge:
  * series `s` gets samples at `t0 - (k + 0.5) * stepMs` for k = 0, 1, ...
  */
final class Truth(t0Ms: Long, stepMs: Long) {
  require(stepMs % 2000 == 0, "step must be an even number of seconds")
  private val next = mutable.Map.empty[Series, Int].withDefaultValue(0)
  private val acked = mutable.Map.empty[Series, mutable.ArrayBuffer[Long]]
  private val pending = mutable.Map.empty[Series, Int].withDefaultValue(0)

  /** Draw `k` new samples for `series` (not yet acknowledged). */
  def draw(series: Series, k: Int, valueOf: Int => Double): Seq[Sample] = synchronized {
    val base = next(series)
    next(series) = base + k
    (0 until k).map { j =>
      val i = base + j
      Sample(series, t0Ms - i * stepMs - stepMs / 2, valueOf(i))
    }
  }

  def ack(p: Payload): Unit = synchronized {
    p.samples.foreach(s => acked.getOrElseUpdate(s.series, mutable.ArrayBuffer.empty) += s.tsMs)
  }

  /** A write that failed without an acknowledgement may still land
    * (a 408 leaves its job running), so reads may see up to this many
    * extra samples per series.
    */
  def unacked(p: Payload): Unit = synchronized {
    p.samples.groupBy(_.series).foreach { case (s, ss) => pending(s) += ss.size }
  }

  def series: Seq[Series] = synchronized(acked.keys.toSeq.sortBy(_.key))
  def count(s: Series): Int = synchronized(acked.get(s).map(_.size).getOrElse(0))
  def slack(s: Series): Int = synchronized(pending(s))
  def total: Long = synchronized(acked.values.map(_.size.toLong).sum)

  /** Acknowledged samples of the matching series inside [loMs, hiMs]. */
  def countIn(p: Series => Boolean, loMs: Long, hiMs: Long): Int = synchronized {
    acked.iterator.filter(e => p(e._1)).map(_._2.count(t => t >= loMs && t <= hiMs)).sum
  }
}
