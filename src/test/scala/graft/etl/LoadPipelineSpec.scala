package graft.etl

import graft.SparkSpec
import graft.ops.Relational
import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import org.apache.spark.sql.functions.col
import scala.util.{Failure, Success, Try}

/** K1-K5, A1-A2 and the run lifecycle (reference etl/pipeline.py:239-354). */
class LoadPipelineSpec extends SparkSpec {

  import spark.implicits._

  test("K1: full refresh replaces prior table contents") {
    val load = new Load(tmpDir("wh"))
    assert(load.fullRefresh(Seq(1, 2, 3).toDF("n"), "t") == 3L)
    assert(load.fullRefresh(Seq(9).toDF("n"), "t") == 1L)
    assert(spark.read.parquet(load.tablePath("t")).as[Int].collect().toSeq == Seq(9))
  }

  test("K2: empty DataFrame skipped, no table created") {
    val load = new Load(tmpDir("wh"))
    assert(load.fullRefresh(Seq.empty[Int].toDF("n"), "empty") == 0L)
    assert(!new java.io.File(load.tablePath("empty")).exists())
  }

  test("K2: an empty refresh over an existing table keeps its rows, leaves no staging dir") {
    val load = new Load(tmpDir("wh"))
    assert(load.fullRefresh(Seq(1, 2).toDF("n"), "t") == 2L)
    assert(load.fullRefresh(Seq.empty[Int].toDF("n"), "t") == 0L)
    assert(spark.read.parquet(load.tablePath("t")).as[Int].collect().sorted.toSeq == Seq(1, 2))
    assert(!new java.io.File(s"${load.tablePath("t")}.staging").exists())
  }

  test("K4: lineage columns constant per run") {
    val load = new Load(tmpDir("wh"))
    val rows = load.withLineage(Seq(1, 2).toDF("n"), "run1", "2026-08-12T00:00:00Z")
      .collect()
    assert(rows.forall(_.getAs[String]("_etl_run_id") == "run1"))
    assert(rows.forall(_.getAs[String]("_etl_loaded_at") == "2026-08-12T00:00:00Z"))
  }

  test("partitioned full refresh: partition dirs, pruning-ready layout, dynamic overwrite") {
    val load = new Load(tmpDir("wh"))
    val v1 = Seq(("a", 1), ("a", 2), ("b", 3)).toDF("part", "v")
    assert(load.fullRefreshPartitioned(v1, "t", Seq("part"), 2) == 3L)
    val root = new java.io.File(load.tablePath("t"))
    assert(root.listFiles().map(_.getName).toSet.filter(_.startsWith("part="))
      == Set("part=a", "part=b"))
    // incremental mode: rewriting only part=a leaves part=b intact
    val v2 = Seq(("a", 9)).toDF("part", "v")
    load.fullRefreshPartitioned(v2, "t", Seq("part"), onlyTouchedPartitions = true)
    val out = spark.read.parquet(load.tablePath("t"))
      .select("part", "v").as[(String, Int)].collect().toSet
    assert(out == Set(("a", 9), ("b", 3)))
    // default = TRUE full refresh: absent partition values are removed,
    // not served stale
    load.fullRefreshPartitioned(v2, "t", Seq("part"))
    val out2 = spark.read.parquet(load.tablePath("t"))
      .select("part", "v").as[(String, Int)].collect().toSet
    assert(out2 == Set(("a", 9)))
  }

  test("compact: fragmented table rewritten to fewer files, data identical") {
    val load = new Load(tmpDir("wh"))
    val frag = spark.range(0, 10000).toDF("n").repartition(50)
    assert(load.fullRefresh(frag, "frag") == 10000L)
    val before = spark.read.parquet(load.tablePath("frag"))
      .as[Long].collect().sorted.toSeq
    val (nBefore, nAfter) =
      Load.compact(spark, load.tablePath("frag"), targetFileBytes = 1L << 30)
    assert(nBefore >= 50 && nAfter == 1, s"$nBefore -> $nAfter files")
    val after = spark.read.parquet(load.tablePath("frag"))
      .as[Long].collect().sorted.toSeq
    assert(after == before)
    // already compact → no rewrite (file count unchanged, returns as-is)
    assert(Load.compact(spark, load.tablePath("frag"),
      targetFileBytes = 1L << 30) == (1, 1))
  }

  test("compact refuses streaming-sink and partitioned tables; no-ops on empty") {
    val load = new Load(tmpDir("wh"))
    // empty dir → (0, 0), not a crash
    val emptyPath = load.tablePath("empty")
    new java.io.File(emptyPath).mkdirs()
    assert(Load.compact(spark, emptyPath) == (0, 0))
    // streaming file-sink table (_spark_metadata) → refuse: a rewrite would
    // orphan the sink log and hide rows from readers
    val sinkPath = load.tablePath("sink")
    load.fullRefresh(Seq(1, 2).toDF("n"), "sink")
    new java.io.File(s"$sinkPath/_spark_metadata").mkdirs()
    intercept[IllegalArgumentException] { Load.compact(spark, sinkPath) }
    // partitioned layout → refuse: a flat rewrite destroys pruning
    load.fullRefreshPartitioned(
      Seq(("a", 1), ("b", 2)).toDF("part", "v"), "parted", Seq("part"))
    intercept[IllegalArgumentException] {
      Load.compact(spark, load.tablePath("parted"))
    }
  }

  test("fullRefresh computes its input ONCE (row count rides the write, no pre-count scan)") {
    // A per-row accumulator probe: the old shape (df.count() then write)
    // evaluated every input row twice. The single-scan contract allows only
    // the write pass itself, which carries the row count as an observe
    // metric — nowhere near a second full pass.
    val load = new Load(tmpDir("wh"))
    val acc = spark.sparkContext.longAccumulator("rows-evaluated")
    val n = 10000L
    val probed = spark.range(n).repartition(4)
      .map { x => acc.add(1); x }.toDF("n")
    assert(load.fullRefresh(probed, "once") == n)
    assert(spark.read.parquet(load.tablePath("once")).count() == n)
    assert(acc.value >= n, s"write pass saw only ${acc.value} rows")
    assert(acc.value < 2 * n,
      s"input evaluated ${acc.value}x rows — the load is scanning twice")
  }

  test("compactPartitioned: each leaf compacted in place, layout + pruning preserved") {
    val load = new Load(tmpDir("wh"))
    val path = load.tablePath("parts")
    // simulate micro-batch fragmentation: 5 small appends per partition value
    (1 to 5).foreach { b =>
      Seq(("a", b), ("b", b)).toDF("part", "v")
        .write.mode(org.apache.spark.sql.SaveMode.Append)
        .partitionBy("part").parquet(path)
    }
    val before = spark.read.parquet(path)
      .select("part", "v").as[(String, Int)].collect().toSet
    val (nBefore, nAfter) =
      Load.compactPartitioned(spark, path, targetFileBytes = 1L << 30)
    assert(nBefore >= 10 && nAfter == 2, s"$nBefore -> $nAfter files")
    assert(new java.io.File(path).listFiles().map(_.getName)
      .filter(_.startsWith("part=")).toSet == Set("part=a", "part=b"))
    assert(!new java.io.File(s"$path/.compact-staging").exists())
    val reread = spark.read.parquet(path)
    assert(reread.select("part", "v").as[(String, Int)].collect().toSet == before)
    // partition pruning must still happen at PLAN time after the rewrite
    val filtered = reread.filter($"part" === "a")
    val scans = filtered.queryExecution.sparkPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    val files = scans.head.relation.location
      .listFiles(scans.head.partitionFilters, scans.head.dataFilters)
      .flatMap(_.files.map(_.getPath.toString))
    assert(files.nonEmpty && files.forall(_.contains("part=a")),
      s"scan still touches: ${files.filterNot(_.contains("part=a")).take(3)}")
    // idempotent: already-compact leaves untouched
    assert(Load.compactPartitioned(spark, path, targetFileBytes = 1L << 30) == (2, 2))
  }

  test("compactPartitionedByRewrite: one job compacts all fragmented leaves, pruning preserved") {
    val load = new Load(tmpDir("wh"))
    val path = load.tablePath("parts1j")
    (1 to 5).foreach { b =>
      Seq(("a", b), ("b", b)).toDF("part", "v")
        .write.mode(org.apache.spark.sql.SaveMode.Append)
        .partitionBy("part").parquet(path)
    }
    // one leaf is already compact — the rewrite must not touch it
    Seq(("c", 99)).toDF("part", "v")
      .write.mode(org.apache.spark.sql.SaveMode.Append)
      .partitionBy("part").parquet(path)
    val cFile = new java.io.File(s"$path/part=c").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getName).toSet
    val before = spark.read.parquet(path)
      .select("part", "v").as[(String, Int)].collect().toSet
    val (nBefore, nAfter) =
      Load.compactPartitionedByRewrite(spark, path, targetFileBytes = 1L << 30)
    assert(nBefore >= 11 && nAfter == 3, s"$nBefore -> $nAfter files")
    // untouched leaf kept its exact files (dynamic overwrite touched only
    // the fragmented partition values)
    assert(new java.io.File(s"$path/part=c").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getName).toSet == cFile)
    val reread = spark.read.parquet(path)
    assert(reread.select("part", "v").as[(String, Int)].collect().toSet == before)
    // partition pruning must still happen at PLAN time after the rewrite
    val filtered = reread.filter($"part" === "a")
    val scans = filtered.queryExecution.sparkPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    val files = scans.head.relation.location
      .listFiles(scans.head.partitionFilters, scans.head.dataFilters)
      .flatMap(_.files.map(_.getPath.toString))
    assert(files.nonEmpty && files.forall(_.contains("part=a")),
      s"scan still touches: ${files.filterNot(_.contains("part=a")).take(3)}")
    // idempotent: nothing fragmented → no job, counts unchanged
    assert(Load.compactPartitionedByRewrite(spark, path,
      targetFileBytes = 1L << 30) == (3, 3))
  }

  test("compactPartitionedByRewrite: zero-padded partition values round-trip exactly") {
    // hour=00 vs hour=0: with partition type inference on, the rewrite
    // would read "00" back as int 0, write a NEW hour=0 leaf, and dynamic
    // overwrite would leave the original hour=00 leaf in place — readers
    // would then see those rows TWICE. The fix reads partition values as
    // strings so directory names reproduce byte-identically.
    val load = new Load(tmpDir("wh"))
    val path = load.tablePath("padded")
    (1 to 4).foreach { b =>
      Seq(("00", b), ("7", b)).toDF("hour", "v")
        .write.mode(org.apache.spark.sql.SaveMode.Append)
        .partitionBy("hour").parquet(path)
    }
    assert(new java.io.File(s"$path/hour=00").isDirectory)
    val before = spark.read.parquet(path)
      .selectExpr("CAST(hour AS STRING)", "v").as[(String, Int)].collect().toSeq
        .groupBy(identity).view.mapValues(_.size).toMap
    val (nb, na) = Load.compactPartitionedByRewrite(spark, path,
      targetFileBytes = 1L << 30)
    assert(nb == 8 && na == 2, s"$nb -> $na files")
    // the zero-padded leaf was rewritten IN PLACE — no hour=0 twin appeared
    assert(new java.io.File(s"$path/hour=00").isDirectory)
    assert(!new java.io.File(s"$path/hour=0").exists())
    val after = spark.read.parquet(path)
      .selectExpr("CAST(hour AS STRING)", "v").as[(String, Int)].collect().toSeq
        .groupBy(identity).view.mapValues(_.size).toMap
    assert(after == before, "row multiplicities changed — duplicate leaves")
  }

  test("parquetRowCount: missing table counts 0; uncommitted _temporary files don't count") {
    val load = new Load(tmpDir("wh"))
    // a not-yet-created table must read as empty, not throw — this is the
    // before-count of a bootstrap appendBucketed
    assert(Load.parquetRowCount(spark, load.tablePath("nope")) == 0L)
    val path = load.tablePath("with_temp")
    Seq(1, 2, 3).toDF("n").write.parquet(path)
    assert(Load.parquetRowCount(spark, path) == 3L)
    // simulate a crashed concurrent writer: an uncommitted attempt file
    // under _temporary (and a dot-dir variant) must not inflate the count
    Seq(4, 5).toDF("n").write.parquet(s"$path/_temporary/0/task_attempt_1")
    Seq(6).toDF("n").write.parquet(s"$path/.staging-xyz")
    assert(Load.parquetRowCount(spark, path) == 3L)
  }

  test("bucketed write + append report exact footer-based row counts") {
    val load = new Load(tmpDir("wh"))
    try {
      val base = (1L to 1000L).map(i => (i % 50, i)).toDF("k", "v")
      assert(load.writeBucketed(base, "bkt_cnt", 4, Seq("k")) == 1000L)
      val batch = (1001L to 1300L).map(i => (i % 50, i)).toDF("k", "v")
      // append returns the BATCH's rows, not the table total
      assert(load.appendBucketed(batch, "bkt_cnt", 4, Seq("k")) == 300L)
      assert(spark.table("bkt_cnt").count() == 1300L)
      // and the footer counter itself agrees with a full scan
      assert(Load.parquetRowCount(spark, load.tablePath("bkt_cnt")) == 1300L)
    } finally spark.sql("DROP TABLE IF EXISTS bkt_cnt")
  }

  test("compactPartitioned recovery: a mid-swap crash leaves the partition restorable") {
    val load = new Load(tmpDir("wh"))
    val path = load.tablePath("crashy")
    Seq(("a", 1), ("b", 2)).toDF("part", "v")
      .write.partitionBy("part").parquet(path)
    val before = spark.read.parquet(path)
      .select("part", "v").as[(String, Int)].collect().toSet
    // Simulate a crash between the two swap renames: the original leaf has
    // been moved to .compact-trash but the staged copy never landed — the
    // trash now holds the ONLY copy of part=a.
    val trashDir = new java.io.File(s"$path/.compact-trash")
    assert(trashDir.mkdirs())
    assert(new java.io.File(s"$path/part=a")
      .renameTo(new java.io.File(s"$path/.compact-trash/part=a")))
    assert(!new java.io.File(s"$path/part=a").exists())
    // The next run must restore the orphaned leaf BEFORE dropping trash.
    Load.compactPartitioned(spark, path, targetFileBytes = 1L << 30)
    assert(new java.io.File(s"$path/part=a").exists())
    assert(!new java.io.File(s"$path/.compact-trash").exists())
    assert(spark.read.parquet(path)
      .select("part", "v").as[(String, Int)].collect().toSet == before)
  }

  test("compactPartitioned refuses flat and streaming-sink layouts") {
    val load = new Load(tmpDir("wh"))
    load.fullRefresh(Seq(1, 2).toDF("n"), "flat")
    intercept[IllegalArgumentException] {
      Load.compactPartitioned(spark, load.tablePath("flat"))
    }
    val sinkPath = load.tablePath("psink")
    Seq(("a", 1)).toDF("part", "v").write.partitionBy("part").parquet(sinkPath)
    new java.io.File(s"$sinkPath/_spark_metadata").mkdirs()
    intercept[IllegalArgumentException] {
      Load.compactPartitioned(spark, sinkPath)
    }
  }

  test("envelope unwrap survives malformed payloads (corrupt body → empty, not throw)") {
    assert(Extract.unwrapEnvelope(spark, "agents", "not json at all").count() == 0)
    assert(Extract.unwrapEnvelope(spark, "agents", """{"status":200}""").count() == 0)
    assert(Extract.unwrapEnvelope(spark, "agents",
      """{"status":200,"data":"oops-not-an-array"}""").count() == 0)
  }

  test("K3+K5: upsertRow creates table if absent, then replaces by key") {
    val load = new Load(tmpDir("wh"))
    def row(id: String, status: String) =
      load.metricsRow(spark, id, "s", "c", status, 6, 239L, 0.07)
    load.upsertRow(spark, "etl_runs", Seq("run_id"), row("r1", "Success"))
    load.upsertRow(spark, "etl_runs", Seq("run_id"), row("r2", "Success"))
    load.upsertRow(spark, "etl_runs", Seq("run_id"), row("r1", "Failed: x"))
    val out = spark.read.parquet(load.tablePath("etl_runs"))
      .select("run_id", "status").as[(String, String)].collect().toMap
    assert(out == Map("r1" -> "Failed: x", "r2" -> "Success"))
  }

  test("upsertRow reads the stored table with the row's schema; drift throws") {
    val load = new Load(tmpDir("wh"))
    val row = load.metricsRow(spark, "r1", "s", "c", "Success", 6, 239L, 0.07)
    // A declared-schema read alone would return a missing column as NULL
    // and drop an extra one; the footer check turns each into an error.
    Seq(
      "missing" -> row.drop("duration_seconds"),
      "retyped" -> row.withColumn("tables_loaded", col("tables_loaded").cast("long")),
      "extra" -> row.withColumn("note", col("status"))
    ).foreach { case (name, stored) =>
      stored.write.parquet(load.tablePath(name))
      val e = intercept[IllegalArgumentException] {
        load.upsertRow(spark, name, Seq("run_id"), row)
      }
      assert(e.getMessage.contains("schema drift"), e.getMessage)
      assert(spark.read.parquet(load.tablePath(name)).columns.toSeq == stored.columns.toSeq)
    }
    // a matching table reads without a schema-inference job (a schema-less
    // read of the same path launches one)
    load.upsertRow(spark, "etl_runs", Seq("run_id"), row)
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    def jobsDuring(body: => Unit): Int = {
      org.apache.spark.sql.graftbridge.ColumnBridge.drainListenerBus(spark)
      jobs.set(0)
      body
      org.apache.spark.sql.graftbridge.ColumnBridge.drainListenerBus(spark)
      jobs.get
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      assert(jobsDuring(Load.readDeclared(spark, load.tablePath("etl_runs"), row.schema)) == 0)
      assert(jobsDuring(spark.read.parquet(load.tablePath("etl_runs"))) >= 1)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("upsertRow matches Relational.upsertByKey when a stored or the update run_id is NULL") {
    // run_id is declared non-null; these frames relax that to carry NULLs
    val schema = org.apache.spark.sql.types.StructType(
      Schemas.EtlRuns.map(_.copy(nullable = true)))
    def rows(ids: (String, String)*) = spark.createDataFrame(
      java.util.Arrays.asList(ids.map { case (id, status) =>
        org.apache.spark.sql.Row(id, "s", "c", status, 6, 239L, 0.07) }: _*), schema)
    val stored = rows("r1" -> "old", (null, "stored-null"))
    // a NULL update key replaces nothing; a stored NULL-key row is never matched
    Seq(
      rows((null, "update-null")) -> Seq("[null,stored-null]", "[null,update-null]", "[r1,old]"),
      rows("r1" -> "new") -> Seq("[null,stored-null]", "[r1,new]")
    ).foreach { case (update, want) =>
      val load = new Load(tmpDir("wh"))
      val path = load.tablePath("etl_runs")
      stored.write.parquet(path)
      def sorted(df: org.apache.spark.sql.DataFrame) =
        df.select("run_id", "status").collect().map(_.toString).sorted.toSeq
      val expected = sorted(Relational.upsertByKey(spark.read.parquet(path), update, Seq("run_id")))
      assert(expected == want)
      load.upsertRow(spark, "etl_runs", Seq("run_id"), update)
      assert(sorted(spark.read.parquet(path)) == expected)
    }
  }

  test("a failed swap keeps the old table: put back, else kept in <table>.old") {
    spark.sparkContext.hadoopConfiguration.set("fs.failrename.impl",
      classOf[RenameFailingFs].getName)
    val wh = tmpDir("wh")
    val path = s"failrename://$wh/t"
    def stored(p: String) = spark.read.parquet(p).as[Int].collect().sorted.toSeq
    Load.replaceTable(spark, Seq(1, 2).toDF("n"), path)
    try {
      RenameFailingFs.fails = (src, _) => src.getName == "t.staging"
      intercept[RuntimeException](Load.replaceTable(spark, Seq(9).toDF("n"), path))
      assert(stored(s"$wh/t") == Seq(1, 2))
      // the old table cannot be put back either: its rows stay aside
      RenameFailingFs.fails = (_, dst) => dst.getName == "t"
      intercept[RuntimeException](Load.replaceTable(spark, Seq(9).toDF("n"), path))
      assert(!new java.io.File(s"$wh/t").exists())
      assert(stored(s"$wh/t.old") == Seq(1, 2))
    } finally RenameFailingFs.fails = (_, _) => false
    assert(!new java.io.File(s"$wh/t.staging").exists())
  }

  test("upsertRow rejects a frame that is not one row, also when the table is absent") {
    val load = new Load(tmpDir("wh"))
    val two = Seq("r1", "r2").map(id =>
      load.metricsRow(spark, id, "s", "c", "Success", 6, 239L, 0.07)).reduce(_ union _)
    intercept[IllegalArgumentException](load.upsertRow(spark, "etl_runs", Seq("run_id"), two))
    assert(!new java.io.File(load.tablePath("etl_runs")).exists())
  }

  test("every ETL table write is one Spark job") {
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    def jobsDuring(body: => Unit): Int = {
      org.apache.spark.sql.graftbridge.ColumnBridge.drainListenerBus(spark)
      jobs.set(0)
      body
      org.apache.spark.sql.graftbridge.ColumnBridge.drainListenerBus(spark)
      jobs.get
    }
    val load = new Load(tmpDir("wh"))
    val cfg = PipelineConfig()
    val raw = Extract.extractAll(spark, fixtureTransport, cfg.baseUrl, cfg.endpoints)
    val tables = Transforms.transformAll(raw)
    val row = load.metricsRow(spark, "r2", "s", "c", "Success", 6, 239L, 0.07)
    load.upsertRow(spark, "etl_runs", Seq("run_id"),
      load.metricsRow(spark, "r1", "s", "c", "Success", 6, 239L, 0.07))
    spark.sparkContext.addSparkListener(listener)
    try {
      // distributed inputs: an emptiness probe of a driver-local frame
      // would run without a job and go unseen here
      assert(jobsDuring(load.fullRefresh(spark.range(3).toDF("n"), "rows")) == 1)
      assert(jobsDuring(load.fullRefresh(spark.range(0).toDF("n"), "empty")) == 1)
      assert(jobsDuring(load.upsertRow(spark, "etl_runs", Seq("run_id"), row)) == 1)
      assert(tables.size == 6)
      assert(jobsDuring(load.loadAll(tables, "run1", "at")) == 6)
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      raw.values.foreach(_.unpersist())
    }
    assert(spark.read.parquet(load.tablePath("etl_runs")).count() == 2L)
  }

  test("loadAll runs the per-table loads concurrently") {
    // Each table's one row releases its own latch, then waits for the
    // other table's. Only loads that overlap can both pass: a serial
    // loadAll leaves the first table waiting out the timeout.
    val id = java.util.UUID.randomUUID().toString
    Seq("a", "b").foreach(t => LoadPipelineSpec.latches.put(s"$id-$t", new CountDownLatch(1)))
    def gated(mine: String, other: String) = spark.range(0, 1, 1, 1).map { _ =>
      LoadPipelineSpec.latches.get(s"$id-$mine").countDown()
      LoadPipelineSpec.latches.get(s"$id-$other").await(30, TimeUnit.SECONDS)
    }.toDF("met")
    try {
      val load = new Load(tmpDir("wh"))
      val rows = load.loadAll(Map("a" -> gated("a", "b"), "b" -> gated("b", "a")),
        "run1", "2026-08-12T00:00:00Z")
      assert(rows == Map("a" -> 1L, "b" -> 1L))
      Seq("a", "b").foreach { t =>
        assert(spark.read.parquet(load.tablePath(t)).select("met").as[Boolean]
          .collect().toSeq == Seq(true), s"table $t waited out its timeout")
      }
    } finally Seq("a", "b").foreach(t => LoadPipelineSpec.latches.remove(s"$id-$t"))
  }

  test("loadAll waits for every table, then rethrows the first failure with " +
      "the others suppressed") {
    // The slow table is still writing when both failures are known: a
    // loadAll that threw on the first failure would return before it
    // committed.
    def failing(name: String) = spark.range(0, 1, 1, 1).map { x =>
      if (x >= 0) throw new IllegalStateException(s"$name failed"); x }.toDF("n")
    val slow = spark.range(0, 1, 1, 1).map { x => Thread.sleep(1500); x }.toDF("n")
    val load = new Load(tmpDir("wh"))
    val e = intercept[Exception] {
      load.loadAll(Map("slow" -> slow, "bad1" -> failing("bad1"),
        "bad2" -> failing("bad2")), "run1", "2026-08-12T00:00:00Z")
    }
    assert(e.getMessage.contains("bad1 failed"), e.getMessage)
    // Spark itself may attach its caller-trace marker to a failed first
    // action; any other suppressed exception must be bad2's.
    assert(e.getSuppressed.filterNot(_.getClass.getName ==
        "org.apache.spark.util.Utils$OriginalTryStackTraceException")
      .map(_.getMessage).toSeq match {
      case Seq(m) => m.contains("bad2 failed")
      case _ => false
    }, e.getSuppressed.toSeq)
    assert(new java.io.File(s"${load.tablePath("slow")}/_SUCCESS").exists())
    assert(spark.read.parquet(load.tablePath("slow")).count() == 1L)
  }

  test("loadAll gives the same rows and tables as fullRefresh per table, " +
      "empty input still skipped (K2)") {
    val raw = Seq((1, "x"), (2, "y"), (3, "z")).toDF("k", "v").cache()
    // two tables over one cached frame, as agents/weapons fan out
    val tables = Map(
      "evens" -> raw.filter(col("k") % 2 === 0),
      "keys" -> raw.select(col("k")),
      "empty" -> raw.filter(col("k") > 9),
      "other" -> Seq(7).toDF("n"))
    val (runId, at) = ("run1", "2026-08-12T00:00:00Z")
    try {
      val concurrent = new Load(tmpDir("wh"))
      val serial = new Load(tmpDir("wh"))
      val rows = concurrent.loadAll(tables, runId, at)
      val expected = tables.map { case (n, df) =>
        n -> serial.fullRefresh(serial.withLineage(df, runId, at), n) }
      assert(rows == expected)
      assert(rows == Map("evens" -> 1L, "keys" -> 3L, "empty" -> 0L, "other" -> 1L))
      def contents(l: Load, n: String) = {
        val df = spark.read.parquet(l.tablePath(n))
        (df.schema, df.collect().map(_.toString).sorted.toSeq)
      }
      (tables.keySet - "empty").foreach(n =>
        assert(contents(concurrent, n) == contents(serial, n), n))
      Seq(concurrent, serial).foreach(l =>
        assert(!new java.io.File(l.tablePath("empty")).exists()))
    } finally raw.unpersist()
  }

  private val fixtureBodies = Map(
    "agents" ->
      """{"status":200,"data":[
         {"uuid":"u1","displayName":"Gekko","isPlayableCharacter":true,
          "role":{"displayName":"Initiator"},
          "abilities":[{"slot":"A1","displayName":"Wingman"}]}]}""",
    "weapons" ->
      """{"status":200,"data":[
         {"uuid":"w1","displayName":"Vandal",
          "category":"EEquippableCategory::Rifle",
          "weaponStats":{"damageRanges":[
            {"rangeStartMeters":0,"rangeEndMeters":30,"headDamage":160.0,
             "bodyDamage":40,"legDamage":34.0}]}}]}""",
    "maps" -> """{"status":200,"data":[{"uuid":"m1","displayName":"Ascent"}]}""",
    "gamemodes" -> """{"status":200,"data":[{"uuid":"g1","displayName":"Std"}]}""",
    "competitivetiers" -> """{"status":200,"data":[{"uuid":"c1"}]}"""
  ).map { case (k, v) => k -> v.replaceAll("\n\\s*", "") }

  private def fixtureTransport: Extract.Transport = new Extract.Transport {
    def fetch(url: String): Try[String] = {
      val ep = url.split("/").last.takeWhile(_ != '?')
      fixtureBodies.get(ep).map(Success(_))
        .getOrElse(Failure(new RuntimeException(s"no fixture $ep")))
    }
  }

  test("pipeline run: success path loads 5 tables + etl_runs metrics row") {
    val cfg = PipelineConfig(warehouse = tmpDir("wh"), requestDelayMs = 0)
    val clock = java.time.Instant.parse("2026-08-12T06:00:00Z")
    val result = new Pipeline(spark, cfg, fixtureTransport, () => clock).run()
    assert(result.status == "Success")
    assert(result.runId == "20260812_060000")
    assert(result.rowsByTable == Map("agents" -> 1L, "abilities" -> 1L,
      "weapons" -> 1L, "weapon_damage" -> 1L, "maps" -> 1L, "gamemodes" -> 1L))
    assert(result.totalRows == 6L)
    val runs = spark.read.parquet(s"${cfg.warehouse}/etl_runs").collect()
    assert(runs.length == 1)
    assert(runs.head.getAs[String]("status") == "Success")
    assert(runs.head.getAs[Int]("tables_loaded") == 6)
    assert(runs.head.getAs[Long]("total_rows") == 6L)
    // loaded tables carry lineage columns
    val agents = spark.read.parquet(s"${cfg.warehouse}/agents")
    assert(agents.columns.contains("_etl_run_id"))
    assert(agents.head.getAs[String]("_etl_run_id") == "20260812_060000")
  }

  test("pipeline run: a failed table write fails the run after every other " +
      "table committed, with one Failed etl_runs row") {
    val cfg = PipelineConfig(warehouse = tmpDir("wh"), requestDelayMs = 0)
    // maps' table path is a link into a regular file: its staged write job
    // succeeds, but nothing can be renamed onto the link, so its swap fails
    // (a plain file at the path would simply be renamed aside and replaced).
    val blocker = java.nio.file.Paths.get(tmpDir("blk"), "file")
    java.nio.file.Files.writeString(blocker, "not a directory")
    java.nio.file.Files.createSymbolicLink(
      java.nio.file.Paths.get(cfg.warehouse, "maps"), blocker.resolve("maps"))
    val clock = java.time.Instant.parse("2026-08-12T06:00:00Z")
    intercept[Exception](new Pipeline(spark, cfg, fixtureTransport, () => clock).run())
    val runs = spark.read.parquet(s"${cfg.warehouse}/etl_runs")
      .select("run_id", "status").as[(String, String)].collect()
    assert(runs.length == 1)
    assert(runs.head._1 == "20260812_060000")
    assert(runs.head._2.startsWith("Failed: "), runs.head._2)
    Seq("agents", "abilities", "weapons", "weapon_damage", "gamemodes").foreach { t =>
      assert(new java.io.File(s"${cfg.warehouse}/$t/_SUCCESS").exists(),
        s"$t had not committed when run() threw")
      assert(spark.read.parquet(s"${cfg.warehouse}/$t").count() == 1L, t)
    }
    assert(new java.io.File(cfg.warehouse).list().filter(_.endsWith(".staging")).isEmpty,
      new java.io.File(cfg.warehouse).list().toSeq)
  }

  test("pipeline run: extraction failure degrades to empty tables, still Success") {
    val downTransport = new Extract.Transport {
      def fetch(url: String): Try[String] = Failure(new RuntimeException("down"))
    }
    val cfg = PipelineConfig(warehouse = tmpDir("wh"), requestDelayMs = 0,
      retryAttempts = 1)
    val result = new Pipeline(spark, cfg, downTransport).run()
    assert(result.status == "Success") // reference degrades, doesn't abort
    assert(result.totalRows == 0L)
    val runs = spark.read.parquet(s"${cfg.warehouse}/etl_runs").collect()
    assert(runs.head.getAs[Int]("tables_loaded") == 0)
  }

  test("S6: config file in the reference's JSON shape loads with path fallback") {
    val dir = tmpDir("cfg")
    val path = s"$dir/pipeline_config.json"
    val json =
      """{
        |  "api": {
        |    "base_url": "https://example.test/v1",
        |    "endpoints": ["agents", "maps"],
        |    "request_delay_seconds": 0.25,
        |    "timeout_seconds": 7,
        |    "retry_attempts": 7
        |  },
        |  "database": {"path": "/app/data/x.db", "local_path": "data/local-wh"},
        |  "schedule": {"interval_hours": 12, "run_on_start": false},
        |  "logging": {"level": "DEBUG",
        |    "log_file": "/app/data/etl.log", "local_log_file": "data/etl.log"}
        |}""".stripMargin
    java.nio.file.Files.write(java.nio.file.Paths.get(path), json.getBytes("UTF-8"))
    // appRoot points at a nonexistent dir → "not in a container" → the
    // local_* path variants win (reference pipeline.py:46-48)
    val cfg = PipelineConfig.load(Seq(s"$dir/nope.json", path),
      appRoot = s"$dir/no-such-app")
    assert(cfg.baseUrl == "https://example.test/v1")
    assert(cfg.endpoints == Seq("agents", "maps"))
    assert(cfg.requestDelayMs == 250L)
    assert(cfg.timeoutSeconds == 7)
    assert(cfg.retryAttempts == 7)
    assert(cfg.warehouse == "data/local-wh")
    assert(cfg.logFile.contains("data/etl.log"))
    // appRoot exists → container paths win
    val inApp = PipelineConfig.fromFile(path, appRoot = dir)
    assert(inApp.warehouse == "/app/data/x.db")
    assert(inApp.logFile.contains("/app/data/etl.log"))
    assert(cfg.logLevel == "DEBUG")
    assert(cfg.intervalHours == 12)
    assert(!cfg.runOnStart)
    // partial config keeps compiled defaults for everything absent
    val partialPath = s"$dir/partial.json"
    java.nio.file.Files.write(java.nio.file.Paths.get(partialPath),
      """{"api": {"base_url": "https://partial.test"}}""".getBytes("UTF-8"))
    val partial = PipelineConfig.fromFile(partialPath)
    assert(partial.baseUrl == "https://partial.test")
    assert(partial.endpoints == PipelineConfig().endpoints)
    assert(partial.intervalHours == PipelineConfig().intervalHours)
    // no path exists → error like the reference; lenient variant → defaults
    intercept[java.io.FileNotFoundException] {
      PipelineConfig.load(Seq(s"$dir/a.json", s"$dir/b.json"))
    }
    assert(PipelineConfig.loadOrDefaults(Seq(s"$dir/a.json")) == PipelineConfig())
  }

  test("run lifecycle logs per-stage lines + summary to the configured file") {
    val dir = tmpDir("log")
    val logPath = s"$dir/etl.log"
    val cfg = PipelineConfig(warehouse = tmpDir("wh"), requestDelayMs = 0)
    val logger = new RunLogger(Some(logPath))
    // the second cycle's maps endpoint returns no rows: maps is skipped
    // with a WARN, as the reference warns on empty tables
    val noMaps = new Extract.Transport {
      def fetch(url: String): Try[String] =
        if (url.split("/").last.startsWith("maps?")) Success("""{"status":200,"data":[]}""")
        else fixtureTransport.fetch(url)
    }
    try {
      val clock = java.time.Instant.parse("2026-08-12T06:00:00Z")
      new Pipeline(spark, cfg, fixtureTransport, () => clock, logger).run()
      new Pipeline(spark, cfg, noMaps, () => clock.plusSeconds(6 * 3600), logger).run()
    } finally logger.close()
    val lines = scala.io.Source.fromFile(logPath).getLines().toSeq
    assert(lines.filter(_.contains("[WARNING]")).map(_.split("] ", 2)(1)) ==
      Seq("No data to load for maps, skipped"))
    assert(lines.count(_.contains("Loaded maps: ")) == 1)
    assert(lines.exists(_.contains(
      "ETL run 20260812_120000 completed: Success, 5 tables, 5 rows")))
    assert(lines.exists(_.contains("Starting ETL run 20260812_060000")))
    assert(lines.exists(_.contains("Extract complete: 5/5 endpoints")))
    assert(lines.exists(_.contains("Loaded agents: 1 rows")))
    assert(lines.exists(_.contains(
      "ETL run 20260812_060000 completed: Success, 6 tables, 6 rows")))
    // reference line format: 'YYYY-MM-DD HH:MM:SS [LEVEL] message'
    assert(lines.forall(_.matches("""\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2} \[\w+\] .*""")))
  }

  test("RunLogger level threshold filters below-level lines; WARN is a WARNING alias") {
    val dir = tmpDir("log2")
    val logPath = s"$dir/etl.log"
    val logger = new RunLogger(Some(logPath), level = "ERROR")
    try {
      logger.info("hidden info")
      logger.error("visible error")
    } finally logger.close()
    val lines = scala.io.Source.fromFile(logPath).getLines().toSeq
    assert(lines.length == 1 && lines.head.contains("visible error"))
    val warnPath = s"$dir/warn.log"
    val warnLogger = new RunLogger(Some(warnPath), level = "WARN")
    try {
      warnLogger.info("hidden at warn")
      warnLogger.warn("visible warn")
    } finally warnLogger.close()
    val warnLines = scala.io.Source.fromFile(warnPath).getLines().toSeq
    assert(warnLines.length == 1 && warnLines.head.contains("visible warn"))
  }

  test("runScheduled: run_on_start + interval sleeps between runs") {
    val cfg = PipelineConfig(warehouse = tmpDir("wh"), requestDelayMs = 0,
      intervalHours = 6)
    val sleeps = scala.collection.mutable.ArrayBuffer.empty[Long]
    val ticks = Iterator.iterate(java.time.Instant.parse("2026-08-12T06:00:00Z"))(
      _.plusSeconds(1))
    val results = new Pipeline(spark, cfg, fixtureTransport, () => ticks.next())
      .runScheduled(2, sleeps += _)
    assert(results.map(_.status) == Seq("Success", "Success"))
    assert(sleeps.toSeq == Seq(6L * 3600 * 1000))
  }
}

object LoadPipelineSpec {
  /** Latches the concurrency spec's task closures reach by key: a closure
    * is serialized into its task, so a captured latch would be a copy.
    */
  val latches = new ConcurrentHashMap[String, CountDownLatch]()
}

/** The local file system under the `failrename` scheme, with every rename
  * for which `RenameFailingFs.fails(src, dst)` holds reporting failure.
  */
final class RenameFailingFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("failrename:///")
  override def getScheme: String = "failrename"
  override def rename(src: org.apache.hadoop.fs.Path, dst: org.apache.hadoop.fs.Path): Boolean =
    !RenameFailingFs.fails(src, dst) && super.rename(src, dst)
}

object RenameFailingFs {
  @volatile var fails: (org.apache.hadoop.fs.Path, org.apache.hadoop.fs.Path) => Boolean =
    (_, _) => false
}
