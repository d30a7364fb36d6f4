package graft.perfbench

import java.net.URLEncoder
import java.nio.charset.StandardCharsets.UTF_8

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

import graft.prometheus.PrometheusRemote.{ProtoReader, ProtoWriter}
import graft.prometheus.PrometheusRemote

/** The dashboard read mix over a preloaded fleet, each read with the
  * answer the ground truth predicts. Windows are placed so that no
  * sample sits on an edge while the run lasts (samples are stamped at
  * half steps back from `t0Ms`, see [[Truth]]).
  */
final class Reads(client: Client, truth: Truth, fleet: Seq[Series], t0Ms: Long,
    uuids: Map[String, String]) {
  import Reads._

  private val hour = 3600000L
  private def enc(s: String) = URLEncoder.encode(s, UTF_8)
  private def of(format: String) = fleet.filter(_.format == format)
  private val hosts = of("influx")
  private val instances = of("remote")
  private val exports = of("csv") ++ of("senml")

  /** Read kinds and their weights in the mix. The weights are assumed,
    * not taken from a measured dashboard; run.py prints the latency of
    * every kind, so no weight can hide a change in one kind.
    */
  val mix: Seq[(String, Int)] = Seq(
    "range_rate" -> 4, "range_count" -> 3, "query_senml" -> 2, "query_csv" -> 1,
    "query_extended" -> 2, "catalog" -> 1, "series_export" -> 2, "discovery" -> 2,
    "remote_read" -> 2)

  /** The first `n` reads all clients take in turn. The kinds follow a
    * smooth weighted round robin, so the reads a run gets through hold
    * the mix in its weights whatever their number; `rnd` draws each
    * read's variant.
    */
  def sequence(rnd: scala.util.Random, n: Int): IndexedSeq[(String, () => Outcome)] = {
    val total = mix.map(_._2).sum
    val credit = Array.fill(mix.size)(0)
    (0 until n).map { _ =>
      mix.indices.foreach(i => credit(i) += mix(i)._2)
      val i = mix.indices.maxBy(credit(_))
      credit(i) -= total
      val k = mix(i)._1
      k -> op(k, rnd)
    }
  }

  /** Builds one read of `kind`; the variant (series, window, format) is
    * drawn from `rnd`.
    */
  def op(kind: String, rnd: scala.util.Random): () => Outcome = {
    def pick[T](xs: Seq[T]) = xs(rnd.nextInt(xs.size))
    kind match {
      case "range_rate" =>
        val hours = pick(Seq(1, 6))
        val q = """avg by (region) (rate({__name__="http_requests_total"}[2h]))"""
        () => {
          val r = client.get(s"/api/v1/query_range?query=${enc(q)}" +
            s"&start=${(t0Ms - hours * hour) / 1000}&end=${t0Ms / 1000}&step=1800")
          Outcome.checked(r, 0) { r =>
            val rows = jsonl(r)
            val regions = rows.flatMap(labelOf(_, "region")).toSet
            if (rows.isEmpty) Some("no rows")
            else if (regions.size != Gen.Regions) Some(s"regions $regions")
            else None
          }
        }
      case "range_count" =>
        val hours = pick(Seq(6, 24, 72))
        val region = s"r${rnd.nextInt(Gen.Regions)}"
        val q = s"""sum by (region) (count_over_time({__name__="cpu usage",region="$region"}[1h]))"""
        val expect = truth.countIn(s => s.name == "cpu usage" && s.labels.contains("region" -> region),
          t0Ms - hours * hour, t0Ms)
        () => {
          val r = client.get(s"/api/v1/query_range?query=${enc(q)}" +
            s"&start=${(t0Ms - (hours - 1) * hour) / 1000}&end=${t0Ms / 1000}&step=3600")
          Outcome.checked(r, expect) { r =>
            val got = jsonl(r).map(_.get("value").asDouble).sum
            if (got != expect) Some(s"count $got != $expect") else None
          }
        }
      case "query_senml" | "query_csv" =>
        val s = if (kind == "query_senml") pick(hosts) else pick(instances)
        val hours = pick(Seq(1, 6))
        val fmt = kind.stripPrefix("query_")
        val expect = truth.countIn(_ == s, t0Ms - hours * hour, t0Ms)
        () => {
          val r = client.get(s"/api/v1/query?query=${enc(s"${s.selector}[${hours}h]")}&format=$fmt")
          Outcome.checked(r, expect) { r =>
            val got = if (fmt == "senml") mapper.readTree(r.body).size
              else r.text.linesIterator.count(_.nonEmpty) - 1
            if (got != expect) Some(s"$fmt rows $got != $expect") else None
          }
        }
      case "query_extended" =>
        val region = s"r${rnd.nextInt(Gen.Regions)}"
        val q = s"""sum(count_over_time({__name__="cpu usage",region="$region"}[4d]))"""
        val expect = truth.countIn(s => s.name == "cpu usage" && s.labels.contains("region" -> region),
          t0Ms - 96 * hour, t0Ms)
        () => {
          val r = client.get(s"/api/v1/query_extended?query=${enc(q)}")
          Outcome.checked(r, expect) { r =>
            val got = jsonl(r).map(_.get("value").asDouble).sum
            if (got != expect) Some(s"count $got != $expect") else None
          }
        }
      case "catalog" =>
        () => {
          val r = client.get("/series")
          Outcome.checked(r, 0) { r =>
            val n = mapper.readTree(r.body).get("dcat:dataset").size
            if (n != fleet.size) Some(s"catalog size $n != ${fleet.size}") else None
          }
        }
      case "series_export" =>
        val s = pick(exports)
        val arrow = rnd.nextBoolean()
        val expect = truth.count(s)
        () => {
          val r = client.get(s"/series/${uuids(s.name)}?format=${if (arrow) "arrow" else "csv"}")
          Outcome.checked(r, expect) { r =>
            val got = if (arrow) graft.sources.ArrowIO.decodeFloatSeries(r.body).size
              else r.text.linesIterator.count(_.nonEmpty) - 1
            if (got != expect) Some(s"export rows $got != $expect") else None
          }
        }
      case "discovery" =>
        pick(Seq("labels", "values", "series")) match {
          case "labels" => () => {
            val r = client.get("/api/v1/labels")
            Outcome.checked(r, 0) { r =>
              val names = data(r).map(_.asText).toSet
              if (!Set("host", "instance", "region").subsetOf(names)) Some(s"labels $names")
              else None
            }
          }
          case "values" => () => {
            val r = client.get("/api/v1/label/host/values")
            Outcome.checked(r, 0) { r =>
              if (data(r).size != hosts.size) Some(s"hosts ${data(r).size} != ${hosts.size}")
              else None
            }
          }
          case _ => () => {
            val sel = """{__name__="http_requests_total"}"""
            val r = client.get(s"/api/v1/series?match[]=${enc(sel)}")
            Outcome.checked(r, 0) { r =>
              if (data(r).size != instances.size)
                Some(s"series ${data(r).size} != ${instances.size}") else None
            }
          }
        }
      case "remote_read" =>
        val region = s"r${rnd.nextInt(Gen.Regions)}"
        val expect = truth.countIn(
          s => s.name == "http_requests_total" && s.labels.contains("region" -> region),
          t0Ms - 73 * hour, t0Ms)
        val body = readRequest(t0Ms - 73 * hour, t0Ms,
          Seq("__name__" -> "http_requests_total", "region" -> region))
        () => {
          val r = client.post("/api/v1/prometheus_remote_read", body, Seq(
            "content-type" -> "application/x-protobuf", "content-encoding" -> "snappy",
            "x-prometheus-remote-read-version" -> "0.1.0"))
          Outcome.checked(r, expect) { r =>
            val got = chunkedSamples(r.body)
            if (got != expect) Some(s"remote read samples $got != $expect") else None
          }
        }
    }
  }

  /** `/api/v1/query` for a series that has not reported yet, in one
    * export format: the answer should be an empty export. NOTES.md
    * records why csv, jsonl and arrow answer 500 instead.
    */
  def absent(format: String): () => Outcome = () => {
    val sel = """{__name__="not_reported_yet"}[1h]"""
    val r = client.get(s"/api/v1/query?query=${enc(sel)}&format=$format")
    Outcome.checked(r, 0) { r =>
      val rows = format match {
        case "arrow" => graft.sources.ArrowIO.decodeLongFormat(r.body).size
        case "csv" => r.text.linesIterator.count(_.nonEmpty) - 1
        case "senml" => mapper.readTree(r.body).size
        case _ => r.text.linesIterator.count(_.nonEmpty)
      }
      if (rows > 0) Some(s"absent series returned $rows rows") else None
    }
  }
}

object Reads {
  val mapper = new ObjectMapper()

  def jsonl(r: Resp): Seq[JsonNode] =
    r.text.linesIterator.filter(_.nonEmpty).map(l => mapper.readTree(l)).toSeq

  def data(r: Resp): Seq[JsonNode] = mapper.readTree(r.body).get("data").elements.asScala.toSeq

  /** A label value from a query_range row, wherever the row keeps its
    * labels (`labels` for series rows, `group_labels` for aggregations,
    * or a top-level column).
    */
  def labelOf(row: JsonNode, name: String): Option[String] =
    Seq(row.get("labels"), row.get("group_labels"), row).iterator
      .filter(n => n != null && n.has(name)).map(_.get(name).asText).nextOption()

  /** Snappy-framed remote-read request for one query, asking for
    * STREAMED_XOR_CHUNKS.
    */
  def readRequest(startMs: Long, endMs: Long, eq: Seq[(String, String)]): Array[Byte] = {
    val q = new ProtoWriter
    q.int64(1, startMs); q.int64(2, endMs)
    eq.foreach { case (k, v) =>
      val m = new ProtoWriter
      m.string(2, k); m.string(3, v)
      q.message(3, m)
    }
    val w = new ProtoWriter
    w.message(1, q)
    w.int64(2, 1) // STREAMED_XOR_CHUNKS
    PrometheusRemote.snappyCompressLiteral(w.result())
  }

  /** Total samples over every XOR chunk of a framed ChunkedReadResponse
    * stream (each chunk starts with its big-endian sample count).
    */
  def chunkedSamples(bytes: Array[Byte]): Long = {
    var pos = 0
    var total = 0L
    while (pos < bytes.length) {
      var len = 0L
      var shift = 0
      var b = 0
      do {
        b = bytes(pos) & 0xff; pos += 1
        len |= (b & 0x7fL) << shift; shift += 7
      } while ((b & 0x80) != 0)
      pos += 4 // CRC32C
      val end = pos + len.toInt
      val r = new ProtoReader(bytes, pos, end)
      while (r.hasMore) r.tag() match {
        case (1, 2) =>
          val (sf, st) = r.lenDelimited()
          val sr = new ProtoReader(bytes, sf, st)
          while (sr.hasMore) sr.tag() match {
            case (2, 2) =>
              val (cf, ct) = sr.lenDelimited()
              val cr = new ProtoReader(bytes, cf, ct)
              while (cr.hasMore) cr.tag() match {
                case (4, 2) =>
                  val (df, _) = cr.lenDelimited()
                  total += ((bytes(df) & 0xff) << 8) | (bytes(df + 1) & 0xff)
                case (_, w) => cr.skip(w)
              }
            case (_, w) => sr.skip(w)
          }
        case (_, w) => r.skip(w)
      }
      pos = end
    }
    total
  }
}
