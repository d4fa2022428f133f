package perfbench

import java.time.{Duration, Instant}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The benchmark's JVM side. `run.py` writes a plan file (workload, timed
  * seconds, query set and seed or fixture directory, trace flag) and reads back
  * one result file: set-up times, every op's wall time and outcome, peak
  * RSS, and — in a traced run — the per-layer metrics.
  *
  * Usage: java -cp <classes>:<spark jars> perfbench.Main <plan.json> <result.json>
  */
object Main {
  final case class Op(name: String, wallS: Double, ok: Boolean, error: String)

  final class Plan(node: JsonNode) {
    def str(k: String): String = node.get(k).asText()
    def int(k: String): Int = node.get(k).asInt()
    def long(k: String): Long = node.get(k).asLong()
    def strs(k: String): Seq[String] = node.get(k).elements().asScala.map(_.asText()).toSeq
  }

  def main(args: Array[String]): Unit = {
    val plan = new Plan(new ObjectMapper().readTree(new java.io.File(args(0))))
    val result = plan.str("workload") match {
      case "etl-cycles" => EtlWorkload.run(plan)
      case _ => CatalogWorkload.run(plan)
    }
    val mapper = new ObjectMapper()
    java.nio.file.Files.writeString(java.nio.file.Paths.get(args(1)),
      mapper.writeValueAsString(toJava(result + ("rss_peak_mb" -> rssPeakMb()))))
  }

  def session(plan: Plan, catalogProfile: Boolean): SparkSession = {
    val cores = plan.int("cores").toString
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", plan.str("scratch_dir"))
    // The catalog runs under graft.Bench's settings, the ETL cycles under
    // graft.etl.Main's, so each workload times the configuration its own
    // entry point ships.
    val s = (if (catalogProfile) b
        .config("spark.sql.shuffle.partitions", cores)
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "4m")
        .config("spark.sql.files.maxPartitionBytes", "8m")
      else b).getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Seconds since the launcher started the process (its epoch-µs stamp). */
  def sinceLaunch(plan: Plan): Double = {
    val now = Instant.now()
    (now.getEpochSecond * 1000000L + now.getNano / 1000 - plan.long("t0_us")) / 1e6
  }

  def timeOp(name: String)(body: => Unit): Op = {
    val t0 = System.nanoTime()
    val err =
      try { body; null }
      catch { case e: Throwable => s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300) }
    Op(name, (System.nanoTime() - t0) / 1e9, err == null, err)
  }

  def opsJson(ops: Seq[Op]): Seq[Map[String, Any]] = ops.map(o =>
    Map("name" -> o.name, "wall_s" -> o.wallS, "ok" -> o.ok, "error" -> o.error))

  def mean(xs: Iterable[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Layer metrics every workload has: Spark scheduler, executor, shuffle
    * and I/O counters (per op, from each op's listener deltas), the span
    * set-up times, and the traced loop's rate.
    */
  def commonLayers(spans: Spans, perOp: Seq[Map[String, Double]], ops: Seq[Op],
                   loopS: Double, cores: Int): Map[String, Double] = {
    val n = ops.size.toDouble
    def sum(k: String) = perOp.map(_.getOrElse(k, 0.0)).sum
    Map(
      "session.start_s" -> spans.totalSeconds("session"),
      "session.warmup_s" -> spans.totalSeconds("warmup"),
      "spark.scheduler.jobs" -> sum("jobs") / n,
      "spark.scheduler.stages" -> sum("stages") / n,
      "spark.scheduler.tasks" -> sum("tasks") / n,
      "spark.scheduler.idle_s" -> sum("idle_s") / n,
      "spark.scheduler.task_overhead_s" -> (sum("task_s") - sum("run_s")) / n,
      "spark.scheduler.task_failures" -> sum("task_failures"),
      "spark.scheduler.stage_retries" -> sum("stage_retries"),
      "ops.executor_run_s" -> sum("run_s") / n,
      "ops.executor_cpu_s" -> sum("cpu_s") / n,
      "ops.jvm_gc_s" -> sum("gc_s") / n,
      "ops.busy_frac" -> sum("run_s") / (ops.map(_.wallS).sum * cores),
      "spark.shuffle.write_bytes" -> sum("shuffle_write_bytes") / n,
      "spark.shuffle.read_bytes" -> sum("shuffle_read_bytes") / n,
      "spark.shuffle.fetch_wait_s" -> sum("fetch_wait_s") / n,
      "spark.io.input_bytes" -> sum("input_bytes") / n,
      "spark.io.output_bytes" -> sum("output_bytes") / n,
      "spark.io.spill_bytes" -> sum("spill_bytes") / n,
      "trace.ops_per_s" -> n / loopS)
  }

  /** A traced run's result extras: its layer metrics and every span. */
  def traced(spans: Spans, layers: Map[String, Double]): Map[String, Any] = Map(
    "layers" -> layers,
    "spans" -> spans.done.map(s => Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
      "op" -> s.op, "start_ns" -> s.startNs, "end_ns" -> s.endNs)))

  /** Peak resident set (VmHWM) of this process, in MB. */
  def rssPeakMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  private def toJava(v: Any): AnyRef = v match {
    case m: Map[_, _] =>
      val out = new java.util.LinkedHashMap[String, AnyRef]()
      m.foreach { case (k, x) => out.put(k.toString, toJava(x)) }
      out
    case s: Iterable[_] => s.map(toJava).toSeq.asJava
    case d: Double => java.lang.Double.valueOf(d)
    case i: Int => java.lang.Integer.valueOf(i)
    case l: Long => java.lang.Long.valueOf(l)
    case b: Boolean => java.lang.Boolean.valueOf(b)
    case null => null
    case x => x.toString
  }
}

/** catalog-short / catalog-long: each op builds one catalog query (its
  * function call, including any eager jobs) and materializes every output
  * column with a `noop` write.
  */
object CatalogWorkload {
  import Main._

  def run(plan: Plan): Map[String, Any] = {
    val dir = plan.str("data_dir")
    val queries = plan.strs("queries")
    val fns = graft.SparkEntry.queries
    // The frozen workload lists and the catalog must agree exactly: a
    // listed query that is gone, or a catalog query in neither list, fails
    // the run before anything is timed.
    val listed = plan.strs("listed").toSet
    val missing = (listed ++ queries).filterNot(fns.contains)
    val unlisted = fns.keySet.filterNot(listed)
    require(missing.isEmpty, s"listed queries missing from SparkEntry.queries: ${missing.mkString(", ")}")
    require(unlisted.isEmpty, s"catalog queries in no workload list: ${unlisted.mkString(", ")}")
    val spans = new Spans(plan.int("trace") == 1)
    val counters = new Counters
    val gateDir = plan.str("gate_dir")

    def action(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

    val gate = ArrayBuffer.empty[Map[String, Any]]
    var spark: SparkSession = null
    spans("setup") {
      spark = spans("session")(session(plan, catalogProfile = true))
      // Warm-up doubles as the correctness gate's Spark side: each distinct
      // query of the run is computed once, untimed, and written single-file
      // (as graft.Verify writes it) for run.py's DuckDB oracle compare.
      // First-run codegen and class loading land here, not in the timed ops,
      // and an *_indexed query builds its stored index here, lazily.
      spans("warmup")(queries.foreach { q =>
        spark.catalog.clearCache()
        val o = timeOp(q)(fns(q)(spark, dir).coalesce(1).write.mode("overwrite")
          .parquet(s"$gateDir/$q"))
        gate += Map("name" -> q, "ok" -> o.ok, "error" -> o.error,
          "oracle_sql" -> graft.SparkEntry.oracleSql.getOrElse(q, null))
      })
    }
    val setupS = sinceLaunch(plan)
    if (spans.on) spark.sparkContext.addSparkListener(counters)

    // Timed closed loop, one op in flight: whole rounds over the query
    // set, each in a fresh seeded order, until the run's seconds are up
    // (the round in flight at the deadline completes). Whole rounds keep
    // every run's mix of queries the same.
    val rng = new scala.util.Random(plan.long("seed"))
    val ops = ArrayBuffer.empty[Op]
    val perOp = ArrayBuffer.empty[Map[String, Double]]
    val deadline = System.nanoTime() + plan.int("seconds") * 1000000000L
    val loopT0 = System.nanoTime()
    while (System.nanoTime() < deadline) rng.shuffle(queries).foreach { q =>
      spark.catalog.clearCache()
      if (spans.on) Counters.drain(spark)
      spans.op = ops.size
      val startMs = System.currentTimeMillis()
      var c1 = Map.empty[String, Double]
      var c2 = Map.empty[String, Double]
      val op = spans("op")(timeOp(q) {
        if (spans.on) {
          val (df, d1) = Counters.delta(spark, counters)(spans("construct")(fns(q)(spark, dir)))
          c1 = d1
          c2 = Counters.delta(spark, counters)(spans("action")(action(df)))._2
        } else action(fns(q)(spark, dir))
      })
      ops += op
      if (spans.on) perOp += (c1.map { case (k, v) => s"construct.$k" -> v } ++
        c1.keySet.map(k => k -> (c1(k) + c2.getOrElse(k, 0.0))) +
        ("idle_s" -> counters.idleSeconds(startMs, System.currentTimeMillis())))
    }
    val loopS = (System.nanoTime() - loopT0) / 1e9
    spans.op = -1

    // Table opens and the full stored-index build are measured after the
    // loop, so a traced run sets up exactly like an untraced one: the
    // catalog calls Tables.load inside each query function, out of the
    // benchmark's reach, and prewarm builds every index, where the warm-up
    // builds only those its queries use. A fresh session has no index yet.
    val tableOpens = if (!spans.on) Seq.empty else graft.tables.Tables.All.map { t =>
      Counters.delta(spark, counters)(spans("tables.open")(graft.tables.Tables.load(spark, dir, t)))._2
    }
    if (spans.on) spans("prewarm")(graft.catalog.StoredIndexes.prewarm(spark.newSession(), dir))
    spark.stop()

    val base = Map[String, Any]("setup_s" -> setupS, "ops" -> opsJson(ops.toSeq),
      "loop_s" -> loopS, "gate" -> gate.toSeq)
    if (!spans.on) base
    else {
      val n = ops.size.toDouble
      val self = spans.selfSeconds
      base ++ traced(spans, commonLayers(spans, perOp.toSeq, ops.toSeq, loopS, plan.int("cores")) ++ Map(
        "catalog.StoredIndexes.prewarm_s" -> spans.totalSeconds("prewarm"),
        "tables.open_s" -> spans.totalSeconds("tables.open") / graft.tables.Tables.All.size,
        "tables.open_jobs" -> mean(tableOpens.map(_("jobs"))),
        "catalog.construct_s" -> self.getOrElse("construct", 0.0) / n,
        "catalog.construct_jobs" -> perOp.map(_("construct.jobs")).sum / n,
        "catalog.action_s" -> self.getOrElse("action", 0.0) / n,
        "trace.unattributed_s" -> self.getOrElse("op", 0.0) / n))
    }
  }
}

/** etl-cycles: each op is one `Pipeline.run()` cycle over seeded fixture
  * JSON read through `Extract.FileTransport`, into a fresh warehouse. The
  * injected clock advances 6 h per cycle, so every cycle gets its own
  * second-granular run id.
  */
object EtlWorkload {
  import Main._
  import graft.etl._

  /** FileTransport that counts fetch attempts and successes. */
  final class CountingTransport(dir: String) extends Extract.Transport {
    private val inner = new Extract.FileTransport(dir)
    var fetches = 0L
    var ok = 0L
    def fetch(url: String): scala.util.Try[String] = {
      fetches += 1
      val r = inner.fetch(url)
      if (r.isSuccess) ok += 1
      r
    }
  }

  def run(plan: Plan): Map[String, Any] = {
    val spans = new Spans(plan.int("trace") == 1)
    val counters = new Counters
    val transport = new CountingTransport(plan.str("fixtures_dir"))
    var now = Instant.parse(plan.str("clock_start"))
    val clock = () => now
    val logger = new RunLogger(None, "ERROR")
    def config(wh: String) = PipelineConfig(warehouse = wh, requestDelayMs = 0)

    var spark: SparkSession = null
    spans("setup") {
      spark = spans("session")(session(plan, catalogProfile = false))
      // Warm-up cycles into their own warehouse: the first cycles of a JVM
      // pay class loading and codegen several times over.
      spans("warmup") {
        val p = new Pipeline(spark, config(s"${plan.str("scratch_dir")}/warm-warehouse"),
          transport, clock, logger)
        (0 until plan.int("warm_cycles")).foreach { _ =>
          p.run(); now = now.plus(Duration.ofHours(6))
        }
      }
    }
    val setupS = sinceLaunch(plan)
    if (spans.on) spark.sparkContext.addSparkListener(counters)

    val wh = plan.str("warehouse_dir")
    val cfg = config(wh)
    val pipeline = new Pipeline(spark, cfg, transport, clock, logger)
    val fetches0 = transport.fetches
    val ok0 = transport.ok
    val ops = ArrayBuffer.empty[Op]
    val perCycle = ArrayBuffer.empty[Map[String, Double]]
    val runIds = ArrayBuffer.empty[String]
    var rowsLoaded = 0L
    val deadline = System.nanoTime() + plan.int("seconds") * 1000000000L
    val loopT0 = System.nanoTime()
    var i = 0
    while (System.nanoTime() < deadline) {
      spans.op = i
      if (spans.on) Counters.drain(spark)
      val startMs = System.currentTimeMillis()
      var c = Map.empty[String, Double]
      val op = spans("cycle")(timeOp(s"cycle-$i") {
        if (spans.on) {
          val ((r, loadJobs), d) = Counters.delta(spark, counters)(tracedCycle(spark, cfg,
            pipeline, transport, clock, spans, counters))
          c = d + ("load.jobs" -> loadJobs) +
            ("idle_s" -> counters.idleSeconds(startMs, System.currentTimeMillis()))
          runIds += r.runId; rowsLoaded += r.totalRows
        } else {
          val r = pipeline.run()
          require(r.status == "Success", s"cycle status ${r.status}")
          runIds += r.runId; rowsLoaded += r.totalRows
        }
      })
      ops += op
      perCycle += c
      now = now.plus(Duration.ofHours(6))
      i += 1
    }
    val loopS = (System.nanoTime() - loopT0) / 1e9
    spark.stop()

    val base = Map[String, Any]("setup_s" -> setupS, "ops" -> opsJson(ops.toSeq),
      "loop_s" -> loopS, "run_ids" -> runIds.toSeq, "rows_loaded" -> rowsLoaded)
    if (!spans.on) base
    else {
      val n = ops.size.toDouble
      def sum(k: String) = perCycle.map(_.getOrElse(k, 0.0)).sum
      def selfMean(name: String) = spans.selfSeconds.getOrElse(name, 0.0) / n
      val fetches = (transport.fetches - fetches0).toDouble
      base ++ traced(spans, commonLayers(spans, perCycle.toSeq, ops.toSeq, loopS, plan.int("cores")) ++ Map(
        "etl.Extract.extractAll_s" -> selfMean("extract"),
        "etl.Extract.fetches" -> fetches / n,
        "etl.Extract.fetch_ok_frac" -> (transport.ok - ok0) / fetches,
        "etl.Transforms.transformAll_s" -> selfMean("transform"),
        "etl.Load.loadAll_s" -> selfMean("load"),
        "etl.Load.upsertRow_s" -> selfMean("upsert"),
        "etl.Load.jobs_per_cycle" -> sum("load.jobs") / n,
        "etl.Load.bytes_written_per_row" -> sum("output_bytes") / rowsLoaded.max(1L),
        "trace.unattributed_s" -> selfMean("cycle")))
    }
  }

  /** One cycle with a span per phase, calling the same public functions
    * `Pipeline.run` calls, in the same order (success path only — a failed
    * phase throws and the op counts as failed).
    */
  private def tracedCycle(spark: SparkSession, cfg: PipelineConfig, pipeline: Pipeline,
                          transport: Extract.Transport, clock: () => Instant,
                          spans: Spans, counters: Counters): (RunResult, Double) = {
    val iso = java.time.format.DateTimeFormatter.ISO_OFFSET_DATE_TIME
      .withZone(java.time.ZoneOffset.UTC)
    val load = new Load(cfg.warehouse)
    val runId = pipeline.newRunId()
    val startedAt = iso.format(clock())
    val t0 = System.nanoTime()
    val raw = spans("extract")(Extract.extractAll(spark, transport, cfg.baseUrl,
      cfg.endpoints, cfg.requestDelayMs, cfg.retryAttempts))
    val transformed = spans("transform")(Transforms.transformAll(raw))
    val (rows, d) = Counters.delta(spark, counters)(spans("load") {
      try load.loadAll(transformed, runId, iso.format(clock()))
      finally raw.values.foreach(_.unpersist())
    })
    val total = rows.values.sum
    val duration = math.rint((System.nanoTime() - t0) / 1e9 * 100) / 100
    spans("upsert")(load.upsertRow(spark, "etl_runs", Seq("run_id"),
      load.metricsRow(spark, runId, startedAt, iso.format(clock()), "Success",
        rows.count(_._2 > 0), total, duration)))
    (RunResult(runId, "Success", rows, total), d("jobs"))
  }
}
