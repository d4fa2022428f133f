package graft.etl

import org.apache.spark.sql.SparkSession
import java.time.{Instant, ZoneOffset}
import java.time.format.DateTimeFormatter

/** Run lifecycle — reference parity for `ETLPipeline.run`
  * (etl/pipeline.py:314-354): run-id stamp → extract → transform → load →
  * metrics row; failures record a `Failed: <msg>` row and re-raise.
  *
  * In Spark the extract→transform chain per table is ONE lazy plan; the only
  * actions are the load phase's per-table writes, one job each with the row
  * count riding the write, which run concurrently (`Load.loadAll`), and the
  * one-job `etl_runs` upsert. An empty table is skipped with a WARN, as the
  * reference does (pipeline.py:273-275). The load returns or throws only
  * after every table has finished, so a failed run's `Failed: <msg>` row is
  * written after the last table write, and the cached fan-out frames are
  * unpersisted only once nothing reads them.
  */
final case class RunResult(runId: String, status: String,
                           rowsByTable: Map[String, Long], totalRows: Long)

final class Pipeline(spark: SparkSession, config: PipelineConfig,
                     transport: Extract.Transport,
                     clock: () => Instant = () => Instant.now(),
                     logger: RunLogger = new RunLogger()) {

  private val iso = DateTimeFormatter.ISO_OFFSET_DATE_TIME.withZone(ZoneOffset.UTC)
  private def nowIso(): String = iso.format(clock())

  /** Run-id format mirrors the reference (strftime('%Y%m%d_%H%M%S'),
    * pipeline.py:326).
    */
  def newRunId(): String =
    DateTimeFormatter.ofPattern("yyyyMMdd_HHmmss").withZone(ZoneOffset.UTC)
      .format(clock())

  def run(): RunResult = {
    val load = new Load(config.warehouse)
    val runId = newRunId()
    val startedAt = nowIso()
    val t0 = System.nanoTime()
    logger.info(s"Starting ETL run $runId")
    try {
      val raw = Extract.extractAll(spark, transport, config.baseUrl,
        config.endpoints, config.requestDelayMs, config.retryAttempts)
      // rows per endpoint are deliberately NOT counted here — extract →
      // transform → load is one lazy plan, and counting now would run it
      // twice; the per-table counts come back from the load actions below.
      logger.info(s"Extract complete: ${raw.size}/${config.endpoints.size} " +
        s"endpoints responded (${raw.keys.toSeq.sorted.mkString(", ")})")
      val transformed = Transforms.transformAll(raw)
      logger.info(s"Transform complete: ${transformed.size} tables mapped")
      val rows =
        try load.loadAll(transformed, runId, nowIso())
        // transformAll caches fan-out endpoints (agents/weapons feed two
        // tables each); release them so scheduled runs don't accumulate
        // dead cache entries. unpersist on a never-cached frame is a no-op.
        finally raw.values.foreach(_.unpersist())
      rows.toSeq.sortBy(_._1).foreach { case (table, n) =>
        if (n > 0) logger.info(s"Loaded $table: $n rows")
        else logger.warn(s"No data to load for $table, skipped")
      }
      val total = rows.values.sum
      val duration = math.rint((System.nanoTime() - t0) / 1e9 * 100) / 100
      load.upsertRow(spark, "etl_runs", Seq("run_id"),
        load.metricsRow(spark, runId, startedAt, nowIso(), "Success",
          rows.count(_._2 > 0), total, duration))
      logger.info(s"ETL run $runId completed: Success, " +
        s"${rows.count(_._2 > 0)} tables, $total rows, ${duration}s")
      RunResult(runId, "Success", rows, total)
    } catch {
      case e: Throwable =>
        val duration = math.rint((System.nanoTime() - t0) / 1e9 * 100) / 100
        val msg = Option(e.getMessage).getOrElse(e.getClass.getSimpleName)
        logger.error(s"ETL run $runId failed after ${duration}s: $msg")
        load.upsertRow(spark, "etl_runs", Seq("run_id"),
          load.metricsRow(spark, runId, startedAt, nowIso(),
            s"Failed: $msg", 0, 0L, duration))
        throw e
    }
  }

  /** Scheduled mode — the reference's sleep loop (pipeline.py:357-388)
    * expressed as bounded iterations for testability; production would use
    * Structured Streaming `Trigger.ProcessingTime` or an external scheduler
    * (SURVEY §2.8).
    */
  def runScheduled(maxRuns: Int, sleep: Long => Unit = Thread.sleep): Seq[RunResult] =
    (0 until maxRuns).map { i =>
      if (i > 0 || !config.runOnStart) sleep(config.intervalHours * 3600 * 1000L)
      run()
    }
}
