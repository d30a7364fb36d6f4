package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.graft.ListenerBarrier
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.exporters.Exporters
import graft.infer.TypeInference
import graft.model.SensorType
import graft.operators.{LabelMatcher, Matchers}
import graft.prometheus.{PrometheusRemote, RemoteRead, XorChunk}
import graft.promql.{ExtendedPromQL, SimplePromQL}
import graft.sources.{CsvImporter, InfluxLineProtocol, SenML}

/** Traced-run measurements of single layers, each taken from outside
  * the engine by calling a module's public functions on the run's own
  * payloads and store, plus the Spark cost of the measured phase and a
  * pass over one query of each registry family.
  */
object Probes {

  /** Modules reported in `spark.jobs_by_module.*`. */
  val Modules: Seq[String] = Seq("http", "store", "sources", "prometheus", "promql",
    "operators", "catalog", "exporters", "pipeline", "queries", "other")

  def all(spark: SparkSession, meter: Meter, run: Workload, tables: Option[String],
      seed: Long): Map[String, Any] = {
    val e = run.env
    val tracer = run.tracer
    val layers = mutable.LinkedHashMap.empty[String, Double]
    val req = tracer.newRequest()
    def probe[T](layer: String, name: String)(body: => T): (T, Double) =
      tracer.span(layer, name, req) {
        val s = System.nanoTime()
        val out = body
        (out, (System.nanoTime() - s) / 1e6)
      }
    import spark.implicits._
    def lines(p: Payload) = spark.createDataset(new String(p.body, UTF_8).linesIterator.toSeq)

    // sources and infer: parse the run's own payloads, per 1k samples
    val pl = run.probePayloads
    val (_, influxMs) = probe("sources", "influx")(
      InfluxLineProtocol.parse(lines(pl("influx")), "bench", "bench").count())
    layers("sources.influx_parse_ms_per_1k") = influxMs * 1000 / pl("influx").size
    val (_, csvMs) = probe("sources", "csv")(CsvImporter.importFrames(spark,
      spark.read.option("header", "true").option("inferSchema", "false")
        .csv(lines(pl("csv")))).sampleCount())
    layers("sources.csv_parse_ms_per_1k") = csvMs * 1000 / pl("csv").size
    val (_, senmlMs) = probe("sources", "senml")(SenML.importJson(
      spark.createDataset(Seq(new String(pl("senml").body, UTF_8)))).values.map(_.count()).sum)
    layers("sources.senml_parse_ms_per_1k") = senmlMs * 1000 / pl("senml").size
    val values = pl("csv").samples.map(_.value.toString)
    val reps = 20
    val (_, inferMs) = probe("infer", "column")(
      (1 to reps).foreach(_ => TypeInference.inferColumnType(values)))
    layers("infer.type_ms_per_1k") = inferMs / reps * 1000 / values.size

    // prometheus: write decode, chunk size, remote read
    val remote = pl("remote")
    val (_, decodeMs) = probe("prometheus", "write_decode")((1 to reps).foreach { _ =>
      PrometheusRemote.writeRequestRows(PrometheusRemote.parseWriteRequest(
        PrometheusRemote.snappyDecompress(remote.body, Long.MaxValue)))
    })
    layers("prometheus.write_decode_ms_per_1k") = decodeMs / reps * 1000 / remote.size
    val chunkSamples = remote.samples.groupBy(_.series).values.head.sortBy(_.tsMs)
      .map(s => XorChunk.Sample(s.tsMs, s.value))
    layers("prometheus.chunk_bytes_per_sample") =
      XorChunk.encode(chunkSamples).length.toDouble / chunkSamples.size
    val hour = 3600000L
    def floatView(lo: Long, hi: Long): DataFrame =
      e.store.samplesInRange(SensorType.Float, Some(lo), Some(hi))
        .select(col("sensor_id"), col("timestamp_us"), col("value").cast("double").as("value"))
    val remoteName = remote.samples.head.series.name
    val (_, readMs) = probe("prometheus", "remote_read")(RemoteRead.chunkedResponse(
      e.store.sensors, floatView((run.t0Ms - 96 * hour) * 1000, run.t0Ms * 1000),
      Seq(RemoteRead.Query(run.t0Ms - 96 * hour, run.t0Ms,
        Seq(LabelMatcher.eq_("__name__", remoteName))))).length)
    layers("prometheus.remote_read_ms") = readMs

    // catalog and operators
    val cpu = pl("influx").samples.head.series.name
    val (_, matchMs) = probe("catalog", "match")(Matchers.sensorsByLabels(e.store.sensors,
      Seq(LabelMatcher.eq_("__name__", cpu), LabelMatcher.eq_("region", "r1"))).collect())
    layers("catalog.match_ms") = matchMs
    layers("catalog.sensors_files") =
      StoreState.of(s"${e.root}/sensors").files.keys.count(_.endsWith(".parquet")).toDouble

    // promql and exporters
    val nowUs = System.currentTimeMillis() * 1000
    val sel = s"""{__name__="$cpu",region="r1"}[1h]"""
    val expr = s"""avg by (region) (rate({__name__="$cpu"}[2h]))"""
    val parses = 200
    val (_, parseMs) = probe("promql", "parse")((1 to parses).foreach { _ =>
      SimplePromQL.parse(sel, nowUs); ExtendedPromQL.parse(expr, nowUs)
    })
    layers("promql.parse_us") = parseMs * 1000 / (2 * parses)
    val (_, evalMs) = probe("promql", "eval_range")(ExtendedPromQL.evalRangeApi(expr,
      (run.t0Ms - 6 * hour) * 1000, run.t0Ms * 1000, 1800L * 1000000,
      ms => Matchers.sensorsByLabels(e.store.sensors, ms, numericOnly = true)
        .select(col("uuid").as("sensor_id"), col("labels")),
      (lo, hi) => floatView(lo, hi)).count())
    layers("promql.eval_ms") = evalMs
    val long = e.store.samplesInRange(SensorType.Float, None, None)
      .join(broadcast(e.store.sensors.select(col("uuid").as("sensor_id"),
        col("name").as("sensor_name"), col("labels"))), "sensor_id")
      .select(col("timestamp_us"), col("sensor_id"), col("sensor_name"),
        col("value").cast("string").as("value"), lit("Float").as("type"), col("labels"))
    val (rows, exportMs) = probe("exporters", "csv_multi")(Exporters.toCsvMulti(long)._2.count())
    layers("exporters.rows_per_s") = rows / (exportMs / 1000)

    // store: serial writes (jobs and files per write), then one vacuum
    val before = StoreState.of(e.root)
    val probeSeries = Gen.fleet(Gen.Formats.size, "probe_")
    val writeWin = probeSeries.map { s =>
      probe("store", s"write_${s.format}") {
        val t = Clock.now
        run.write(e.client, e.liveTruth, run.smallPush(e.liveTruth, s, 40))
        (t, Clock.now)
      }._1
    }
    val afterWrites = StoreState.of(e.root)
    layers("store.files_per_write") =
      (afterWrites.dataFiles - before.dataFiles).toDouble / probeSeries.size
    val (_, vacuumMs) = probe("store", "vacuum")(e.client.get("/api/v1/admin/vacuum"))
    val afterVacuum = StoreState.of(e.root)
    layers("store.vacuum_ms") = vacuumMs
    layers("store.vacuum_bytes_rewritten") =
      afterVacuum.files.filter { case (f, _) => !afterWrites.files.contains(f) }.values.sum.toDouble

    val queries = tables.map(querySuite(spark, meter, tracer, _, seed)).getOrElse(Nil)

    // Spark cost: drain the listener bus, then read the windows
    ListenerBarrier.drain(spark.sparkContext)
    layers("store.jobs_per_write") =
      writeWin.map { case (a, b) => meter.window(a, b).jobs.size }.sum.toDouble / writeWin.size
    val reads = run.ops.all.filter(o => o.kind == "suite" && !o.name.startsWith("write") ||
      o.kind == "verify")
    val readPlans = reads.flatMap(o => meter.window(Clock.ms(o.startNs), Clock.ms(o.endNs)).plans)
    layers("store.scan_files_per_read") = readPlans.map(_.scanFiles).sum.toDouble / reads.size.max(1)
    layers("store.scan_bytes_per_read") = readPlans.map(_.scanBytes).sum.toDouble / reads.size.max(1)

    val (m0, m1) = run.measureWindow
    val measured = run.ops.all.count(o => Set("write", "capacity", "read")(o.kind) &&
      Clock.ms(o.dueNs) >= m0 && Clock.ms(o.dueNs) <= m1).max(1)
    val cost = meter.window(m0, m1)
    val cores = Runtime.getRuntime.availableProcessors()
    layers("spark.jobs_per_op") = cost.jobs.size.toDouble / measured
    layers("spark.broadcast_jobs_per_op") = cost.jobs.count(_.broadcast).toDouble / measured
    layers("spark.tasks_per_op") = cost.tasks.size.toDouble / measured
    layers("spark.task_run_ms_per_op") = cost.taskRunMs / measured
    layers("spark.task_cpu_ms_per_op") = cost.taskCpuMs / measured
    layers("spark.plan_ms_per_op") = cost.plans.map(_.planMs).sum / measured
    layers("spark.shuffle_write_bytes") = cost.tasks.map(_.shuffleWrite).sum.toDouble
    layers("spark.spill_bytes") = cost.tasks.map(_.spill).sum.toDouble
    layers("spark.peak_task_mem_bytes") = (0L +: cost.tasks.map(_.peakMem)).max.toDouble
    layers("spark.driver_share") = 1 - cost.taskRunMs / (cores * (m1 - m0))
    val byModule = cost.byModule
    Modules.foreach(m => layers(s"spark.jobs_by_module.$m") =
      byModule.getOrElse(m, 0).toDouble / measured)

    // Spark jobs become child spans of the serial operations and probes
    val spans = tracer.spans.asScala.toSeq
    spans.foreach(s => tracer.addJobs(s, meter.window(s.startMs, s.endMs).jobs))
    layers("trace.overhead_ms") = (tracer.selfNs.get + meter.selfNs.get) / 1e6

    Map(
      "layers" -> layers.toMap,
      "queries" -> queries,
      "spans" -> tracer.spans.asScala.toSeq.map(s =>
        Seq(s.id, s.parent, s.req, s.layer, s.name, s.startMs, s.endMs)))
  }

  /** The first query of each registry family, in seed-shuffled order:
    * time to build the DataFrame (eager jobs inside the registry
    * function), time of the `count()` action, and their Spark jobs.
    * A query that throws is recorded as an error, never timed.
    */
  def querySuite(spark: SparkSession, meter: Meter, tracer: Tracer, tables: String,
      seed: Long): Seq[Map[String, Any]] = {
    import graft.queries._
    val families = Seq(
      "sensor" -> SensorQueries.registry, "promql" -> PromqlQueries.registry,
      "dedup" -> DedupQueries.registry, "similarity" -> SimilarityQueries.registry,
      "multimodal" -> MultimodalQueries.registry, "text" -> TextQueries.registry,
      "sampling" -> SamplingQueries.registry, "graph" -> GraphQueries.registry,
      "sketch" -> SketchQueries.registry, "profiling" -> ProfilingQueries.registry,
      "streaming" -> StreamingQueries.registry, "behavior" -> BehaviorQueries.registry,
      "stats" -> StatsQueries.registry)
    val picks = new Random(seed).shuffle(families.map { case (f, r) => (f, r.head) })
    val req = tracer.newRequest()
    val raw = picks.map { case (family, q) =>
      val t0 = Clock.now
      val out = tracer.span("queries", q.name, req) {
        try {
          val df = q.fn(spark, tables)
          val t1 = Clock.now
          val rows = df.count()
          val t2 = Clock.now
          graft.pipeline.PipelineCache.free(df)
          Right((t1, t2, rows))
        } catch { case e: Throwable => Left(String.valueOf(e).take(300)) }
      }
      (family, q.name, t0, out)
    }
    ListenerBarrier.drain(spark.sparkContext)
    raw.map {
      case (family, name, t0, Right((t1, t2, rows))) =>
        val build = meter.window(t0, t1)
        val all = meter.window(t0, t2)
        Map("family" -> family, "name" -> name, "ok" -> true, "rows" -> rows,
          "oracle" -> graft.SparkEntry.oracleSql.getOrElse(name, ""),
          "build_s" -> (t1 - t0) / 1000, "action_s" -> (t2 - t1) / 1000,
          "jobs" -> all.jobs.size, "build_jobs" -> build.jobs.size,
          "checkpoint_jobs" -> all.jobs.count(_.checkpoint),
          "plan_s" -> all.plans.map(_.planMs).sum / 1000)
      case (family, name, _, Left(err)) =>
        Map("family" -> family, "name" -> name, "ok" -> false, "error" -> err)
    }
  }
}
