package graft.perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.util.Random

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

import graft.GraftSession
import graft.http.Gateway
import graft.store.SensorStore

/** Benchmark harness: boots the engine, sets up the gateway over a
  * fresh store several times, drives one workload for a fixed time and
  * writes every raw measurement as JSON for `run.py` to summarise.
  *
  * Usage: `Harness <workload> <seed> <seconds> <trace 0|1> <workDir> <out.json> [tablesDir]`
  */
object Harness {
  val Setups = 3

  def main(args: Array[String]): Unit = {
    val Array(workload, seed, seconds, trace, work, out) = args.take(6)
    val tables = args.lift(6)
    val t0Ms = System.currentTimeMillis() / 1000 * 1000
    val load0 = Host.loadavg
    val spark = GraftSession.local(Runtime.getRuntime.availableProcessors())
    val traced = trace == "1"
    val meter = new Meter
    if (traced) {
      spark.sparkContext.addSparkListener(meter)
      spark.listenerManager.register(meter)
    }
    val bootS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
    val result = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed.toLong, "seconds" -> seconds.toInt,
      "trace" -> traced, "boot_s" -> bootS)
    val run = new Workload(spark, new Tracer(traced), workload, seed.toLong,
      seconds.toInt, work, t0Ms)
    val code = try {
      result ++= run.execute()
      if (traced) result ++= Probes.all(spark, meter, run, tables, seed.toLong)
      result ++= Map("loadavg_start" -> load0, "loadavg_end" -> Host.loadavg,
        "peak_rss_mb" -> Host.peakRssMb)
      val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
      mapper.writeValue(new java.io.File(out), result)
      0
    } catch {
      case e: Throwable => e.printStackTrace(); 1
    } finally {
      run.close()
      spark.stop()
    }
    // exit explicitly: the JDK HTTP client keeps non-daemon threads alive
    sys.exit(code)
  }
}

/** One set-up's store and gateway, and the ground truth of the fleet
  * (preloaded) and of the series written while measuring (live).
  */
final case class Env(root: String, store: SensorStore, gateway: Gateway, client: Client,
    truth: Truth, liveTruth: Truth, uuids: Map[String, String])

/** One workload: its fleet, rates and read mix, and its phases.
  *
  *  - `ingest`: writes only. Open loop from 4 connections at a ladder
  *    of fixed offered rates, then a fixed batch in the same mix from 4
  *    closed-loop writers, for capacity and write latency; device-sized
  *    pushes beside relay-sized batches, cycling through the four write
  *    formats.
  *  - `dashboard`: 3 closed-loop readers over a fleet preloaded through
  *    the write routes; no writes while measuring.
  */
final class Workload(val spark: SparkSession, val tracer: Tracer,
    val name: String, seed: Long, seconds: Int, work: String, val t0Ms: Long) {
  require(name == "ingest" || name == "dashboard", s"unknown workload $name")

  /** Ingest ladder in write requests per second: from about 40% of the
    * gateway's write capacity on 4 cores when this benchmark was
    * introduced (about 2 requests/s of this mix, by the capacity batch)
    * to about 80% of it.
    */
  val IngestRates = Seq(0.8, 1.2, 1.6)
  /** A rung passes when its write tail stays under this limit. */
  val WriteLimitMs = 5000.0
  /** Device push sizes, cycled in this order, and the share of relays
    * (one write in `RelayEvery`): assumed, not measured on a fleet;
    * run.py prints push and relay latency apart.
    */
  val PushSizes = Seq(20, 40, 60, 30, 50)
  val RelaySamples = 10000
  val RelayEvery = 8
  /** Writes of the capacity batch: three relays among device pushes. */
  val CapacityWrites = 24
  val IngestSeries = 16
  /** Preloaded fleet: series x samples at hourly steps (3 days). */
  val FleetSeries = 160
  val FleetSamples = 72
  val Readers = 3

  val rnd = new Random(seed)
  val ops = new OpLog
  private val ingest = name == "ingest"
  val fleet: Seq[Series] = if (ingest) Nil else Gen.fleet(FleetSeries)
  /** Series written while measuring. */
  val live: Seq[Series] = if (ingest) Gen.fleet(IngestSeries) else Nil

  var env: Env = _
  /** The measured phase on the run clock (ms). */
  var measureWindow: (Double, Double) = (0.0, 0.0)
  /** The largest payload sent per format, for the layer probes. */
  val probePayloads = mutable.Map.empty[String, Payload]

  /** The seed moves values by a fixed step: the store compresses every
    * seed's samples alike.
    */
  private val offset = rnd.nextInt(8) * 0.125
  private def value(s: Series)(i: Int): Double =
    if (s.format == "remote") 1000000.0 - i * 1.5 + offset else 20.25 + (i % 40) * 0.5 + offset

  private def record(kind: String, opName: String, due: Long, s: Long, e: Long,
      o: Outcome, tag: String = ""): Op = {
    val op = Op(kind, opName, due, s, e, o.status, o.ok, o.samples, o.error, tag)
    ops.add(op)
    op
  }

  /** Sends one write; acknowledged samples enter the ground truth. */
  def write(client: Client, truth: Truth, p: Payload): Outcome = {
    val (path, headers) = Gen.route(p.format)
    val out = Outcome.guard(Outcome.checked(client.post(path, p.body, headers), p.size)(_ => None))
    if (out.ok) truth.ack(p) else truth.unacked(p)
    probePayloads.synchronized {
      if (probePayloads.get(p.format).forall(_.size < p.size)) probePayloads(p.format) = p
    }
    out
  }

  def smallPush(truth: Truth, s: Series, size: Int): Payload =
    Gen.encode(s.format, truth.draw(s, size, value(s)))

  private var relays = 0

  /** A relay batch; relays cycle through the formats in a fixed order. */
  private def relay(truth: Truth): Payload = {
    val f = Gen.Formats(relays % Gen.Formats.size)
    relays += 1
    relayOf(truth, f)
  }

  private def relayOf(truth: Truth, f: String): Payload = {
    val of = live.filter(_.format == f)
    Gen.encode(f, of.flatMap(s => truth.draw(s, RelaySamples / of.size, value(s))))
  }

  private var pushes = 0
  /** Each format's series in the seed's order. */
  private val pushOrder = Gen.Formats.map(f => f -> rnd.shuffle(live.filter(_.format == f))).toMap

  /** Write payloads of one ladder rung or of the capacity batch: every
    * `RelayEvery`-th (at a fixed position) is a relay batch, the rest
    * device pushes cycling through the formats, each format's series in
    * the seed's order, and the push sizes. So every seed offers the same
    * load, spread alike.
    */
  private def payloads(n: Int, truth: Truth): Seq[Payload] =
    (0 until n).map { j =>
      if (j % RelayEvery == RelayEvery / 2 - 1) relay(truth)
      else {
        val of = pushOrder(Gen.Formats(pushes % Gen.Formats.size))
        val s = of(pushes / Gen.Formats.size % of.size)
        val size = PushSizes(pushes % PushSizes.size)
        pushes += 1
        smallPush(truth, s, size)
      }
    }

  /** Counts one series back through `query_range`; the answer must
    * hold every acknowledged sample.
    */
  private def countRead(e: Env, s: Series): () => Outcome = () => {
    val nowS = System.currentTimeMillis() / 1000
    val q = java.net.URLEncoder.encode(s"count_over_time(${s.selector}[2d])", "UTF-8")
    val want = e.liveTruth.count(s)
    val r = e.client.get(s"/api/v1/query_range?query=$q&start=$nowS&end=$nowS&step=60")
    Outcome.checked(r, want) { r =>
      val got = Reads.jsonl(r).map(_.get("value").asDouble).sum
      if (got < want || got > want + e.liveTruth.slack(s))
        Some(s"${s.key}: count $got, acknowledged $want") else None
    }
  }

  /** One set-up: fresh store and gateway, and for dashboard the fleet
    * preloaded through the write routes, then one vacuum. Then one
    * concurrent pass over every operation kind: the first pays the JIT
    * and code generation, once per process; for ingest every set-up
    * repeats it, as the store has no preload to warm it.
    */
  private def setUp(i: Int): Env = {
    val root = s"$work/store$i"
    deleteTree(root)
    val store = new SensorStore(spark, root)
    val gateway = new Gateway(spark, store, "perfbench")
    val client = new Client(gateway.start(0))
    val truth = new Truth(t0Ms, 3600000L)
    val liveTruth = new Truth(t0Ms, 2000L)
    val last = i == Harness.Setups
    if (!ingest) {
      val queue = new java.util.concurrent.ConcurrentLinkedQueue[Payload]()
      Gen.Formats.foreach { f =>
        fleet.filter(_.format == f).grouped(20).foreach { ss =>
          queue.add(Gen.encode(f, ss.flatMap(s => truth.draw(s, FleetSamples, value(s)))))
        }
      }
      // the warm set-ups' preloads are measured: the first pays the JIT
      val kind = if (i == 1) "preload_discarded" else "preload"
      ClosedLoop.run(4, Long.MaxValue)((_, _) => Option(queue.poll()).map(p =>
        "fleet" -> (() => write(client, truth, p)))
      )((k, s, e, o) => record(kind, k, s, s, e, o, s"setup$i"))
      val v0 = System.nanoTime()
      val vr = Outcome.guard(Outcome.checked(client.get("/api/v1/admin/vacuum"), 0)(_ => None))
      record(if (last) "vacuum" else "vacuum_discarded", "setup", v0, v0, System.nanoTime(), vr)
    }
    val e0 = Env(root, store, gateway, client, truth, liveTruth, Map.empty)
    val e = if (ingest) e0 else e0.copy(uuids =
      store.sensors.select("name", "uuid").collect().map(r => r.getString(0) -> r.getString(1)).toMap)
    if (i == 1 || ingest) {
      val warm = new java.util.concurrent.ConcurrentLinkedQueue[(String, () => Outcome)]()
      suiteOps(e, new Random(i)).foreach(warm.add)
      // the JIT also needs the relay-sized path of every write format
      if (ingest && i == 1) Gen.Formats.foreach { f =>
        warm.add(s"relay_$f" -> (() => write(client, liveTruth, relayOf(liveTruth, f))))
      }
      ClosedLoop.run(4, Long.MaxValue)((_, _) => Option(warm.poll()))(
        (k, s, e, o) => record("warm", k, s, s, e, o))
    }
    e
  }

  /** The fixed serial operation suite of this workload: one push per
    * write format and one count read (ingest), or one read of every
    * kind in the mix (dashboard).
    */
  def suiteOps(e: Env, r: Random): Seq[(String, () => Outcome)] =
    if (ingest) {
      val writes = Gen.Formats.map { f =>
        val s = live.filter(_.format == f).head
        s"write_$f" -> (() => write(e.client, e.liveTruth, smallPush(e.liveTruth, s, 40)))
      }
      // a series the pushes above do not touch, so a concurrent pass
      // cannot race its count
      writes :+ ("count" -> countRead(e, live.last))
    } else {
      val rd = reads(e)
      rd.mix.map { case (k, _) => k -> rd.op(k, r) }
    }

  def reads(e: Env): Reads = new Reads(e.client, e.truth, fleet, t0Ms, e.uuids)

  private def timedOp(kind: String, opName: String, f: () => Outcome): Op =
    tracer.span("http", opName, tracer.newRequest()) {
      val s = System.nanoTime()
      val o = Outcome.guard(f())
      record(kind, opName, s, s, System.nanoTime(), o)
    }

  private def scrape(): Map[(String, String, Int), (Long, Long)] =
    GatewayMetrics.parse(env.client.get("/api/v1/admin/metrics").text)

  /** Runs every phase and returns the raw measurements. */
  def execute(): Map[String, Any] = {
    val setups = (1 to Harness.Setups).map { i =>
      val s = System.nanoTime()
      if (env != null) { env.gateway.stop(); deleteTree(env.root) }
      env = setUp(i)
      (System.nanoTime() - s) / 1e9
    }
    // the control operation: noise evidence, settled by data
    (1 to 3).foreach(_ => timedOp("control", "catalog", () =>
      Outcome.checked(env.client.get("/series"), 0)(_ => None)))

    // dashboard reads, 40 a second: far more than a run gets through
    // (about 3 a second when this benchmark was introduced)
    val sequence = if (ingest) IndexedSeq.empty
      else reads(env).sequence(new Random(seed * 31), 40 * seconds)
    val http0 = scrape()
    val rungs = mutable.ArrayBuffer.empty[Map[String, Any]]
    val startNs = System.nanoTime() + 100000000L
    val late = mutable.ArrayBuffer.empty[Long]
    if (ingest) {
      val span = seconds * 1e9 / IngestRates.size
      val schedule = IngestRates.zipWithIndex.flatMap { case (rate, k) =>
        val n = math.max(1, (span / 1e9 * rate).round.toInt)
        val ps = payloads(n, env.liveTruth)
        rungs += Map("rate_rps" -> rate, "start_ms" -> Clock.ms(startNs + (k * span).toLong),
          "end_ms" -> Clock.ms(startNs + ((k + 1) * span).toLong),
          "offered_samples" -> ps.map(_.size).sum)
        ps.zipWithIndex.map { case (p, j) =>
          ((k * span + (j + 0.5) / rate * 1e9).toLong, (s"rung$k", p))
        }
      }
      val loop = new OpenLoop(4)
      loop.run(startNs, schedule) { case (_, p) => write(env.client, env.liveTruth, p) } {
        case ((tag, p), due, s, e, o) => record("write", p.format, due, s, e, o, tag)
      }
      loop.lateNs.forEach(l => late += l)
      // capacity: 4 closed-loop writers drain a fixed batch in the
      // ladder's mix, so the batch's wall time is the program's own
      val batch = new java.util.concurrent.ConcurrentLinkedQueue[Payload]()
      payloads(CapacityWrites, env.liveTruth).foreach(batch.add)
      ClosedLoop.run(4, Long.MaxValue)((_, _) => Option(batch.poll()).map(p =>
        p.format -> (() => write(env.client, env.liveTruth, p))))(
        (k, s, e, o) => record("capacity", k, s, s, e, o))
    } else {
      val next = new java.util.concurrent.atomic.AtomicInteger()
      ClosedLoop.run(Readers, startNs + seconds * 1000000000L)((_, _) =>
        sequence.lift(next.getAndIncrement()))((k, s, e, o) => record("read", k, s, s, e, o))
    }
    measureWindow = (Clock.ms(startNs), Clock.now)
    val http = GatewayMetrics.diff(http0, scrape())
    val store = StoreState.of(env.root)

    // bytes per sample of the compacted layout: before compaction the
    // byte count depends on when the store last compacted itself
    val v0 = System.nanoTime()
    val vr = Outcome.guard(Outcome.checked(env.client.get("/api/v1/admin/vacuum"), 0)(_ => None))
    record("vacuum", "final", v0, v0, System.nanoTime(), vr)
    env.store.compactCatalog()
    val compacted = StoreState.of(env.root)
    val storedSamples = env.truth.total + env.liveTruth.total

    // every acknowledged sample is still readable after compaction:
    // per-series counts
    val verifyQueue = new java.util.concurrent.ConcurrentLinkedQueue[Series]()
    env.liveTruth.series.foreach(verifyQueue.add)
    ClosedLoop.run(Readers, Long.MaxValue)((_, _) =>
      Option(verifyQueue.poll()).map(s => "count" -> countRead(env, s)))(
      (k, s, e, o) => record("verify", k, s, s, e, o))

    // traced runs: the fixed serial suite, whose operations run alone,
    // so the Spark jobs inside each one are its own
    val suiteWall = if (!tracer.enabled) 0.0 else {
      val s = System.nanoTime()
      suiteOps(env, new Random(seed)).foreach { case (k, f) => timedOp("suite", k, f) }
      (System.nanoTime() - s) / 1e9
    }

    // the known defect, kept visible outside the workload's operations:
    // a selector matching no series, once per export format
    Seq("senml", "csv", "jsonl", "arrow").foreach { f =>
      val s = System.nanoTime()
      val o = Outcome.guard(reads(env).absent(f)())
      record("defect", s"absent_$f", s, s, System.nanoTime(), o)
    }

    Map(
      "setup_s" -> setups,
      "measure" -> Map("start_ms" -> measureWindow._1, "end_ms" -> measureWindow._2),
      "rungs" -> rungs.toSeq,
      "write_limit_ms" -> WriteLimitMs,
      "generator_late_ms" -> late.toSeq.map(_ / 1e6),
      "http" -> http.toSeq.map { case ((m, p, st), (c, us)) =>
        Map("method" -> m, "route" -> p, "status" -> st, "count" -> c, "handler_us" -> us) },
      "store" -> Map("bytes" -> compacted.bytes, "data_files" -> store.dataFiles,
        "samples" -> storedSamples),
      "suite_wall_s" -> suiteWall,
      "ops" -> ops.all.map(o => Seq(o.kind, o.name, Clock.ms(o.dueNs), Clock.ms(o.startNs),
        Clock.ms(o.endNs), o.status, o.ok, o.samples, o.error.take(300), o.tag)))
  }

  def close(): Unit = if (env != null) env.gateway.stop()

  def deleteTree(root: String): Unit = {
    val p = java.nio.file.Paths.get(root)
    if (java.nio.file.Files.exists(p)) {
      val s = java.nio.file.Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => java.nio.file.Files.delete(f))
      finally s.close()
    }
  }
}
