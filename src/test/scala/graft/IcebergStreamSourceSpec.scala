package graft

import java.nio.file.Files

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryException, Trigger}

import graft.sinks.IcebergMetadata

/** DSv2 streaming source over the engine's Iceberg tables
  * (`spark.readStream.format("graft-iceberg")`): real streaming runs
  * with AvailableNow, checkpoint resume across separate queries,
  * Iceberg's overwrite fail/skip rules through the DSv2 path, and the
  * executor-side Group reader's type coverage. */
class IcebergStreamSourceSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def rows(ids: Range) = spark.range(ids.start, ids.end)
    .select(col("id"), (col("id") * 10).as("v"))

  /** Run the stream to completion (AvailableNow), collecting every
    * delivered microbatch on the driver. */
  private def runToDone(tableDir: String, ckpt: String,
                        opts: Map[String, String] = Map.empty)
      : Seq[(Long, Seq[Row])] = {
    val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, Seq[Row])]
    val q = opts.foldLeft(spark.readStream.format("graft-iceberg")) {
        case (r, (k, v)) => r.option(k, v)
      }.load(tableDir)
      .writeStream
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (df: DataFrame, id: Long) =>
        seen += ((id, df.collect().toSeq)): Unit
      }
      .start()
    q.awaitTermination()
    seen.toSeq
  }

  test("readStream replays the append history, resumes from the " +
    "checkpoint across two separate runs, and no-op runs deliver " +
    "nothing") {
    val tmp = Files.createTempDirectory("graft_dsv2_tail").toString
    val ckpt = s"$tmp/ckpt"
    rows(0 until 10).coalesce(1).write.parquet(s"$tmp/d0")
    IcebergMetadata.commit(spark, tmp, s"$tmp/d0"): Unit
    rows(10 until 13).coalesce(1).write.parquet(s"$tmp/d1")
    IcebergMetadata.appendCommit(spark, tmp, s"$tmp/d1"): Unit

    // run 1: from earliest — the full write history in one batch
    val run1 = runToDone(tmp, ckpt)
    assert(run1.flatMap(_._2).map(_.getLong(0)).toSet ==
      (0L until 13L).toSet)

    // run 2, same checkpoint, table unmoved: nothing delivered
    assert(runToDone(tmp, ckpt).flatMap(_._2).isEmpty)

    // two more appends land; run 3 delivers exactly those
    rows(13 until 16).coalesce(1).write.parquet(s"$tmp/d2")
    IcebergMetadata.appendCommit(spark, tmp, s"$tmp/d2"): Unit
    rows(16 until 20).coalesce(1).write.parquet(s"$tmp/d3")
    IcebergMetadata.appendCommit(spark, tmp, s"$tmp/d3"): Unit
    val run3 = runToDone(tmp, ckpt)
    assert(run3.flatMap(_._2).map(_.getLong(0)).toSet ==
      (13L until 20L).toSet)
  }

  test("startSnapshot=latest tails only post-start commits; a replace " +
    "advances the stream with nothing delivered") {
    val tmp = Files.createTempDirectory("graft_dsv2_latest").toString
    rows(0 until 8).coalesce(1).write.parquet(s"$tmp/d0")
    IcebergMetadata.commit(spark, tmp, s"$tmp/d0"): Unit

    // latest: the pre-existing table is NOT replayed
    val ckpt = s"$tmp/ckpt"
    assert(runToDone(tmp, ckpt, Map("startSnapshot" -> "latest"))
      .flatMap(_._2).isEmpty)
    rows(8 until 11).coalesce(1).write.parquet(s"$tmp/d1")
    IcebergMetadata.appendCommit(spark, tmp, s"$tmp/d1"): Unit
    assert(runToDone(tmp, ckpt, Map("startSnapshot" -> "latest"))
      .flatMap(_._2).map(_.getLong(0)).toSet == (8L until 11L).toSet)

    // a compaction (replace) commit: no logical change, no rows, but
    // the offset advances past it
    IcebergMetadata.binpackRewrite(spark, tmp,
      targetBytes = 512L * 1024 * 1024, minInputFiles = 2): Unit
    assert(runToDone(tmp, ckpt, Map("startSnapshot" -> "latest"))
      .flatMap(_._2).isEmpty)
  }

  test("an overwrite fails the stream by default (resync contract); " +
    "skipOverwrites skips the commit whole, never partially") {
    val tmp = Files.createTempDirectory("graft_dsv2_ow").toString
    rows(0 until 6).coalesce(1).write.parquet(s"$tmp/d0")
    IcebergMetadata.commit(spark, tmp, s"$tmp/d0"): Unit
    val ckpt = s"$tmp/ckpt"
    assert(runToDone(tmp, ckpt).flatMap(_._2).size == 6)

    rows(0 until 4).coalesce(1).write.parquet(s"$tmp/d1")
    IcebergMetadata.commit(spark, tmp, s"$tmp/d1",
      operation = "overwrite"): Unit
    rows(20 until 23).coalesce(1).write.parquet(s"$tmp/d2")
    IcebergMetadata.appendCommit(spark, tmp, s"$tmp/d2"): Unit

    val ex = intercept[StreamingQueryException] {
      runToDone(tmp, ckpt)
    }
    assert(ex.getMessage.contains("overwrite") ||
      Option(ex.getCause).exists(_.getMessage.contains("overwrite")))

    // fresh checkpoint with skipOverwrites: the overwrite's rows are
    // absent entirely, the appends before and after all present
    val all = runToDone(tmp, s"$tmp/ckpt2",
      Map("skipOverwrites" -> "true")).flatMap(_._2)
    assert(all.map(_.getLong(0)).toSet ==
      ((0L until 6L) ++ (20L until 23L)).toSet)
  }

  test("ref option tails a branch; maxFilesPerTrigger bounds each " +
    "microbatch by appended files while commits never split") {
    val tmp = Files.createTempDirectory("graft_dsv2_ref").toString
    rows(0 until 6).coalesce(1).write.parquet(s"$tmp/d0")
    IcebergMetadata.commit(spark, tmp, s"$tmp/d0"): Unit
    rows(100 until 104).coalesce(1).write.parquet(s"$tmp/db")
    IcebergMetadata.commitToBranch(spark, tmp, s"$tmp/db", "audit"): Unit
    // the branch stream replays base + staged; main sees only base
    val br = runToDone(tmp, s"$tmp/ckb", Map("ref" -> "audit"))
      .flatMap(_._2).map(_.getLong(0)).toSet
    assert(br == ((0L until 6L) ++ (100L until 104L)).toSet)
    val mn = runToDone(tmp, s"$tmp/ckm").flatMap(_._2)
      .map(_.getLong(0)).toSet
    assert(mn == (0L until 6L).toSet)

    // four single-file appends, 2 files per trigger → the AvailableNow
    // run drains in MULTIPLE batches, each ≤ 2 commits, union complete
    (0 until 4).foreach { k =>
      rows(10 + 2 * k until 12 + 2 * k).coalesce(1)
        .write.parquet(s"$tmp/a$k")
      IcebergMetadata.appendCommit(spark, tmp, s"$tmp/a$k"): Unit
    }
    val batches = runToDone(tmp, s"$tmp/ckm",
      Map("maxFilesPerTrigger" -> "2")).filter(_._2.nonEmpty)
    assert(batches.size >= 2,
      s"expected multiple bounded batches, got ${batches.size}")
    assert(batches.forall(_._2.size <= 4),
      "a batch exceeded 2 single-file commits")
    assert(batches.flatMap(_._2).map(_.getLong(0)).toSet ==
      (10L until 18L).toSet)
  }

  test("startSnapshot=timestamp:<ms> replays from the first commit at " +
    "or after the instant") {
    val tmp = Files.createTempDirectory("graft_dsv2_ts").toString
    rows(0 until 5).coalesce(1).write.parquet(s"$tmp/d0")
    IcebergMetadata.commit(spark, tmp, s"$tmp/d0"): Unit
    Thread.sleep(20)
    val cut = System.currentTimeMillis()
    Thread.sleep(20)
    rows(10 until 14).coalesce(1).write.parquet(s"$tmp/d1")
    IcebergMetadata.appendCommit(spark, tmp, s"$tmp/d1"): Unit
    rows(20 until 23).coalesce(1).write.parquet(s"$tmp/d2")
    IcebergMetadata.appendCommit(spark, tmp, s"$tmp/d2"): Unit
    val got = runToDone(tmp, s"$tmp/ck",
        Map("startSnapshot" -> s"timestamp:$cut"))
      .flatMap(_._2).map(_.getLong(0)).toSet
    assert(got == ((10L until 14L) ++ (20L until 23L)).toSet,
      s"expected only post-cut commits, got $got")
    // an instant before everything replays the whole history
    val all = runToDone(tmp, s"$tmp/ck0",
        Map("startSnapshot" -> "timestamp:0"))
      .flatMap(_._2).map(_.getLong(0)).toSet
    assert(all == ((0L until 5L) ++ (10L until 14L) ++
      (20L until 23L)).toSet)
  }

  test("filter pushdown prunes whole files from manifest bounds at " +
    "plan time; filtered stream results stay exact") {
    import org.apache.spark.sql.sources.{Filter, GreaterThanOrEqual}
    val tmp = Files.createTempDirectory("graft_dsv2_filter").toString
    // three single-file commits with DISJOINT id ranges
    rows(0 until 10).coalesce(1).write.parquet(s"$tmp/d0")
    IcebergMetadata.commit(spark, tmp, s"$tmp/d0"): Unit
    rows(100 until 110).coalesce(1).write.parquet(s"$tmp/d1")
    IcebergMetadata.appendCommit(spark, tmp, s"$tmp/d1"): Unit
    rows(200 until 210).coalesce(1).write.parquet(s"$tmp/d2")
    IcebergMetadata.appendCommit(spark, tmp, s"$tmp/d2"): Unit
    val schema = IcebergMetadata.currentSparkSchema(tmp)
    // plan-level pin: with id >= 200 pushed, only ONE file plans
    val stream = new graft.sources.replication.IcebergSnapshotStream(
      tmp, schema, skipOverwrites = false, startSnapshot = "earliest",
      filters = Array[Filter](GreaterThanOrEqual("id", 200L)))
    val parts = stream.planInputPartitions(
      stream.initialOffset(), stream.latestOffset())
    assert(parts.length == 1,
      s"expected 1 surviving file, planned ${parts.length}")
    // end-to-end: Spark pushes the .where into the scan and the
    // result is exact (residual row filtering still applies)
    val seen = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q = spark.readStream.format("graft-iceberg").load(tmp)
      .where(col("id") >= 105)
      .writeStream.option("checkpointLocation", s"$tmp/ck")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (df: DataFrame, _: Long) =>
        seen ++= df.select("id").collect().map(_.getLong(0)): Unit
      }.start()
    q.awaitTermination()
    assert(seen.toSet == ((105L until 110L) ++ (200L until 210L)).toSet)
  }

  test("column pruning reaches the scan: the pruned schema is the " +
    "scan's readSchema, and a projected stream delivers correct rows") {
    val tmp = Files.createTempDirectory("graft_dsv2_prune").toString
    rows(0 until 8).coalesce(1).write.parquet(s"$tmp/d0")
    IcebergMetadata.commit(spark, tmp, s"$tmp/d0"): Unit
    // the ScanBuilder honors pruneColumns
    val schema = IcebergMetadata.currentSparkSchema(tmp)
    val b = new graft.sources.replication.IcebergStreamScanBuilder(
      tmp, schema, skipOverwrites = false, startSnapshot = "earliest",
      ref = None, maxFilesPerTrigger = 0)
    val prunedTo = org.apache.spark.sql.types.StructType(
      schema.fields.filter(_.name == "v"))
    b.pruneColumns(prunedTo)
    assert(b.build().readSchema() == prunedTo)
    // behavioral: a projected stream (Spark prunes through the DSv2
    // scan) delivers the right values
    val seen = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q = spark.readStream.format("graft-iceberg").load(tmp)
      .select("v")
      .writeStream.option("checkpointLocation", s"$tmp/ck")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (df: DataFrame, _: Long) =>
        assert(df.columns.toSeq == Seq("v"))
        seen ++= df.collect().map(_.getLong(0)): Unit
      }.start()
    q.awaitTermination()
    assert(seen.toSet == (0L until 8L).map(_ * 10).toSet)
  }

  test("SQL catalog: spark.sql plans over engine tables through " +
    "graft.<ns>.<tbl>; SHOW TABLES lists committed tables; a missing " +
    "table raises the standard analysis error") {
    val wh = Files.createTempDirectory("graft_sqlcat").toString
    rows(0 until 10).coalesce(1).write.parquet(s"$wh/stage0")
    IcebergMetadata.commit(spark, s"$wh/lake/t1", s"$wh/stage0"): Unit
    rows(50 until 55).coalesce(1).write.parquet(s"$wh/stage1")
    IcebergMetadata.appendCommit(spark, s"$wh/lake/t1",
      s"$wh/stage1"): Unit
    spark.conf.set("spark.sql.catalog.graftsql",
      classOf[graft.sources.replication.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graftsql.warehouse", wh)
    val got = spark.sql(
        "SELECT id, v FROM graftsql.lake.t1 WHERE id >= 5 ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq == ((5L until 10L) ++ (50L until 55L))
      .map(i => (i, i * 10)))
    val agg = spark.sql(
      "SELECT count(*) AS n, sum(v) AS s FROM graftsql.lake.t1")
      .head
    assert(agg.getLong(0) == 15L &&
      agg.getLong(1) == ((0L until 10L) ++ (50L until 55L))
        .map(_ * 10).sum)
    val listed = spark.sql("SHOW TABLES IN graftsql.lake")
      .collect().map(_.getString(1))
    assert(listed.toSeq == Seq("t1"))
    val ex = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT * FROM graftsql.lake.nope").collect()
    }
    assert(ex.getMessage.toLowerCase.contains("table"))
  }

  test("batch read face: spark.read over an engine table with time " +
    "travel, filter pruning, and the merge-on-read algebra served " +
    "in place of the old refusal") {
    val tmp = Files.createTempDirectory("graft_dsv2_batch").toString
    rows(0 until 10).coalesce(1).write.parquet(s"$tmp/d0")
    val c0 = IcebergMetadata.commit(spark, tmp, s"$tmp/d0")
    rows(100 until 105).coalesce(1).write.parquet(s"$tmp/d1")
    IcebergMetadata.appendCommit(spark, tmp, s"$tmp/d1"): Unit
    // current snapshot
    val cur = spark.read.format("graft-iceberg").load(tmp)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(cur == ((0L until 10L) ++ (100L until 105L)).toSet)
    // time travel to the first commit
    val asOf = spark.read.format("graft-iceberg")
      .option("asOfSnapshot", c0.snapshotId.toString).load(tmp)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(asOf == (0L until 10L).toSet)
    // filtered read stays exact (bounds prune + residual)
    val filtered = spark.read.format("graft-iceberg").load(tmp)
      .where(col("id") >= 100).select("v").collect()
      .map(_.getLong(0)).toSet
    assert(filtered == (100L until 105L).map(_ * 10).toSet)
    // a MoR table no longer refuses: the batch scan SERVES the merge
    // (r15 refused raw-file reads; r16 filters each data file by its
    // delete state inside the partition reader)
    val morT = Files.createTempDirectory("graft_dsv2_mor_t").toString
    val morI = Files.createTempDirectory("graft_dsv2_mor_i").toString
    import graft.operators.SystemColumns.{OlakeId, OpType, CdcTimestamp}
    spark.range(5).select(col("id").cast("string").as(OlakeId),
        col("id").as("v")).write.parquet(s"$morT/base")
    graft.sinks.DeltaSegments.writeSegment(
      spark.range(2).select(col("id").cast("string").as(OlakeId),
        (col("id") + 50).as("v"), lit("u").as(OpType),
        current_timestamp().as(CdcTimestamp), col("id").as("lsn")),
      morT, 1L)
    IcebergMetadata.publishMoR(spark, morI, morT): Unit
    val merged = spark.read.format("graft-iceberg").load(morI)
      .select("v").collect().map(_.getLong(0)).toSet
    assert(merged == Set(50L, 51L, 2L, 3L, 4L),
      s"batch face did not serve the merge: $merged")
  }

  test("executor-side Group reader covers the engine's written types: " +
    "string, decimal, timestamp, date, array, map, struct, binary") {
    val tmp = Files.createTempDirectory("graft_dsv2_types").toString
    val df = spark.range(0, 5).select(
      col("id"),
      concat(lit("name_"), col("id")).as("s"),
      col("id").cast("decimal(12,2)").as("dec"),
      to_timestamp(lit("2026-01-15 10:30:00")).as("ts"),
      to_date(lit("2026-01-15")).as("d"),
      array(col("id"), col("id") * 2).as("arr"),
      map(lit("k"), col("id")).as("m"),
      struct(col("id").as("a"), lit("x").as("b")).as("st"),
      col("id").cast("string").cast("binary").as("bin"),
      (col("id") % 2 === 0).as("flag"),
      col("id").cast("double").as("dbl"),
      col("id").cast("int").as("i32"))
    df.coalesce(1).write.parquet(s"$tmp/d0")
    IcebergMetadata.commit(spark, tmp, s"$tmp/d0"): Unit

    val got = runToDone(tmp, s"$tmp/ckpt").flatMap(_._2)
    val expected = df.collect().toSeq
    def key(r: Row) = r.getLong(r.fieldIndex("id"))
    assert(got.size == expected.size)
    got.sortBy(key).zip(expected.sortBy(key)).foreach { case (g, e) =>
      // Row equality covers nested arrays/maps/structs; binary needs
      // a deep compare
      val gi = g.getValuesMap[Any](df.columns.filterNot(_ == "bin"))
      val ei = e.getValuesMap[Any](df.columns.filterNot(_ == "bin"))
      assert(gi("arr") == ei("arr") && gi("m") == ei("m") &&
        gi("st") == ei("st") && gi("dec") == ei("dec") &&
        gi("ts") == ei("ts") && gi("d") == ei("d") &&
        gi("s") == ei("s") && gi("flag") == ei("flag") &&
        gi("dbl") == ei("dbl") && gi("i32") == ei("i32"))
      assert(java.util.Arrays.equals(
        g.getAs[Array[Byte]]("bin"), e.getAs[Array[Byte]]("bin")))
    }
  }

  // ---------- MoR-aware batch face ----------

  /** A tiny CDC-shaped MoR table: base keys 0..9, one segment that
    * updates keys < 3 (with key 1 duplicated → a positional delete),
    * deletes keys >= 8, inserts keys 100..101. */
  private def publishMorFixture(): String = {
    import graft.operators.SystemColumns
    val tmp = Files.createTempDirectory("graft_dsv2_mor").toString
    val table = s"$tmp/table"; val ice = s"$tmp/ice"
    val base = spark.range(0, 10).select(
      col("id").cast("string").as(SystemColumns.OlakeId),
      col("id"), (col("id") * 10).as("v"))
    base.coalesce(1).write.parquet(s"$table/base")
    val upd = spark.range(0, 3).select(
      col("id").cast("string").as(SystemColumns.OlakeId),
      col("id"), (col("id") * 10 + 1).as("v"),
      lit("u").as(SystemColumns.OpType))
    val del = spark.range(8, 10).select(
      col("id").cast("string").as(SystemColumns.OlakeId),
      col("id"), (col("id") * 10).as("v"),
      lit("d").as(SystemColumns.OpType))
    val ins = spark.range(100, 102).select(
      col("id").cast("string").as(SystemColumns.OlakeId),
      col("id"), (col("id") * 10).as("v"),
      lit("c").as(SystemColumns.OpType))
    graft.sinks.DeltaSegments.writeSegment(
      upd.unionByName(upd.where(col("id") === 1))
        .unionByName(del).unionByName(ins)
        .withColumn(SystemColumns.CdcTimestamp, current_timestamp()),
      table, 1L)
    IcebergMetadata.publishMoR(spark, ice, table): Unit
    ice
  }

  test("batch face serves the merge-on-read algebra on a delete-bearing " +
    "table: equality deletes, positional deletes (intra-batch dup), and " +
    "column pruning that drops the key column still filters correctly") {
    val ice = publishMorFixture()
    val stats = IcebergMetadata.dataFileStats(ice)
    assert(stats.exists(_.content == 1), "fixture lost its pos-delete")
    assert(stats.exists(_.content == 2), "fixture lost its eq-deletes")
    val expected = IcebergMetadata.readMoRAlgebra(spark, ice)
      .select("id", "v").collect().toSet
    val got = spark.read.format("graft-iceberg").load(ice)
      .select("id", "v").collect().toSet
    assert(got == expected)
    // merge semantics spot-check: updates win, deletes gone, inserts in,
    // the duplicated update nets to ONE row
    val byId = got.toSeq.map(r => r.getLong(0) -> r.getLong(1))
    assert(byId.count(_._1 == 1L) == 1, s"dup not netted: $byId")
    assert(byId.toMap.get(1L).contains(11L))
    assert(byId.toMap.contains(100L) && byId.toMap.contains(101L))
    assert(!byId.toMap.contains(8L) && !byId.toMap.contains(9L))
    // a projection WITHOUT the key column still merges (the key is
    // force-read for the filter, then projected out)
    val vOnly = spark.read.format("graft-iceberg").load(ice)
      .select("v").collect().map(_.getLong(0)).sorted.toSeq
    assert(vOnly == expected.toSeq.map(_.getLong(1)).sorted)
  }

  test("SQL catalog serves MoR tables and time travel: VERSION AS OF " +
    "and TIMESTAMP AS OF resolve snapshots") {
    val ice = publishMorFixture()
    val wh = new java.io.File(ice).getParent
    spark.conf.set("spark.sql.catalog.gmor",
      classOf[graft.sources.replication.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gmor.warehouse", wh)
    val viaSql = spark.sql("SELECT id, v FROM gmor.ice")
      .collect().toSet
    val expected = IcebergMetadata.readMoRAlgebra(spark, ice)
      .select("id", "v").collect().toSet
    assert(viaSql == expected)
    // time travel on an append table through the same catalog
    val tt = Files.createTempDirectory("graft_dsv2_tt").toString
    rows(0 until 5).coalesce(1).write.parquet(s"$tt/d0")
    val c0 = IcebergMetadata.commit(spark, s"$tt/lake/t", s"$tt/d0")
    rows(5 until 9).coalesce(1).write.parquet(s"$tt/d1")
    val c1 = IcebergMetadata.appendCommit(spark, s"$tt/lake/t", s"$tt/d1")
    spark.conf.set("spark.sql.catalog.gtt",
      classOf[graft.sources.replication.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gtt.warehouse", tt)
    assert(spark.sql(
        s"SELECT id FROM gtt.lake.t VERSION AS OF ${c0.snapshotId}")
      .collect().map(_.getLong(0)).toSet == (0L until 5L).toSet)
    import scala.jdk.CollectionConverters._
    val ts1 = IcebergMetadata.currentMetadata(s"$tt/lake/t").get._2
      .withArray[com.fasterxml.jackson.databind.node.ArrayNode](
        "snapshots").asScala
      .find(_.get("snapshot-id").asLong == c1.snapshotId).get
      .get("timestamp-ms").asLong
    val tsStr = java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd HH:mm:ss.SSS")
      .withZone(java.time.ZoneOffset.UTC)
      .format(java.time.Instant.ofEpochMilli(ts1))
    assert(spark.sql(
        s"SELECT id FROM gtt.lake.t TIMESTAMP AS OF '$tsStr'")
      .collect().map(_.getLong(0)).toSet == (0L until 9L).toSet)
    // a VERSION AS OF a nonexistent ref refuses loudly
    assert(scala.util.Try(spark.sql(
      "SELECT id FROM gtt.lake.t VERSION AS OF nope").collect()).isFailure)
  }

  test("clean batch scans read COLUMNAR (vectorized) and agree with the " +
    "row path; MoR scans answer row-based") {
    val tmp = Files.createTempDirectory("graft_dsv2_col").toString
    rows(0 until 1000).coalesce(2).write.parquet(s"$tmp/d0")
    IcebergMetadata.commit(spark, tmp, s"$tmp/d0"): Unit
    val scan = new graft.sources.replication.IcebergBatchScan(
      tmp, IcebergMetadata.currentSparkSchema(tmp), None, Array.empty, None)
    val parts = scan.planInputPartitions()
    val factory = scan.createReaderFactory()
    assert(parts.nonEmpty &&
      parts.forall(factory.supportColumnarReads),
      "clean flat-schema batch scan must answer columnar")
    val got = spark.read.format("graft-iceberg").load(tmp)
    assert(got.count() == 1000L)
    assert(got.agg(sum("v")).collect().head.getLong(0) ==
      (0L until 1000L).map(_ * 10).sum)
    // MoR (r17): stays COLUMNAR — the delete filter becomes a row-id
    // mapping over the decoded batch (Iceberg's vectorized-MoR shape);
    // results must equal the engine's join algebra
    val ice = publishMorFixture()
    val mScan = new graft.sources.replication.IcebergBatchScan(
      ice, IcebergMetadata.currentSparkSchema(ice), None, Array.empty,
      None)
    val mParts = mScan.planInputPartitions()
    val mFactory = mScan.createReaderFactory()
    assert(mParts.nonEmpty &&
      mParts.forall(mFactory.supportColumnarReads),
      "flat-schema MoR batch scan must answer columnar (row-id mapped)")
    val viaDsv2 = spark.read.format("graft-iceberg").load(ice)
      .select("id", "v").collect().toSet
    val viaMor = IcebergMetadata.readMoRAlgebra(spark, ice)
      .select("id", "v").collect().toSet
    assert(viaDsv2 == viaMor)
    // a projection dropping the key column still merges columnar
    // (key force-read, projected out of the batch)
    val vOnly = spark.read.format("graft-iceberg").load(ice)
      .select("v").collect().map(_.getLong(0)).sorted.toSeq
    assert(vOnly == viaMor.toSeq.map(_.getLong(1)).sorted)
  }

  test("SQL metadata tables: snapshots/files/partitions/manifests all " +
    "answer through the catalog with zero data-file IO") {
    val tmp = Files.createTempDirectory("graft_sqlmeta_spec").toString
    val ice = s"$tmp/t"
    rows(0 until 10).coalesce(2).write.parquet(s"$tmp/d0")
    IcebergMetadata.commit(spark, ice, s"$tmp/d0"): Unit
    val cat = "gm_" + java.util.UUID.randomUUID().toString.take(8)
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.replication.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", tmp)
    val snaps = spark.sql(s"SELECT operation FROM $cat.t.snapshots")
      .collect().map(_.getString(0)).toSeq
    assert(snaps == Seq("append"))
    assert(spark.sql(s"SELECT file_path FROM $cat.t.files").count() ==
      IcebergMetadata.dataFileStats(ice).size.toLong)
    assert(spark.sql(s"SELECT row_count FROM $cat.t.partitions")
      .collect().map(_.getLong(0)).sum == 10L)
    assert(spark.sql(s"SELECT path FROM $cat.t.manifests").count() >= 1L)
    // a bogus suffix on a real table is still a missing table
    assert(intercept[Exception] {
      spark.sql(s"SELECT * FROM $cat.t.nope").collect()
    }.getMessage.toLowerCase.contains("table"))
  }

  test("concurrent SQL INSERTs into one table both land (the commit " +
    "CAS serializes them), including the first-publish race") {
    val tmp = Files.createTempDirectory("graft_sqlrace").toString
    val cat = "gw_" + java.util.UUID.randomUUID().toString.take(8)
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.replication.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", tmp)
    spark.sql(s"CREATE TABLE $cat.race_t (id BIGINT, v BIGINT)")
    rows(0 until 50).createOrReplaceTempView("race_src")
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    val start = new java.util.concurrent.CountDownLatch(1)
    try {
      val futs = (0 until 2).map { w =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          override def call(): Unit = {
            start.await()
            spark.sql(s"INSERT INTO $cat.race_t " +
              s"SELECT id + ${w * 1000}, v FROM race_src"): Unit
          }
        })
      }
      start.countDown()
      futs.foreach(_.get())
    } finally pool.shutdownNow()
    // BOTH writers' rows live — the loser of the first-publish race
    // must have re-dispatched as an append, never a replace
    assert(spark.sql(s"SELECT id FROM $cat.race_t").count() == 100L)
    assert(spark.sql(s"SELECT count(*) FROM $cat.race_t WHERE id < 1000")
      .collect().head.getLong(0) == 50L)
  }

  test("SupportsNamespaces: CREATE/SHOW/DROP NAMESPACE through SQL; " +
    "dropping a non-empty namespace refuses") {
    val tmp = Files.createTempDirectory("graft_ns").toString
    val cat = "gns_" + java.util.UUID.randomUUID().toString.take(8)
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.replication.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", tmp)
    spark.sql(s"CREATE NAMESPACE $cat.lakens")
    assert(spark.sql(s"SHOW NAMESPACES IN $cat").collect()
      .map(_.getString(0)).contains("lakens"))
    spark.sql(s"CREATE TABLE $cat.lakens.t1 (id BIGINT)")
    assert(intercept[Exception] {
      spark.sql(s"DROP NAMESPACE $cat.lakens")
    }.getMessage.contains("not empty"))
    spark.sql(s"DROP TABLE $cat.lakens.t1") // marker-only: allowed
    spark.sql(s"DROP NAMESPACE $cat.lakens")
    assert(!spark.sql(s"SHOW NAMESPACES IN $cat").collect()
      .map(_.getString(0)).contains("lakens"))
  }

  test("streaming sink: the epoch replay fence makes a re-offered " +
    "epoch a no-op, and empty epochs commit nothing") {
    import graft.sources.replication.{IcebergDataWriter, IcebergStreamingWrite}
    val tmp = Files.createTempDirectory("graft_sinkfence").toString
    val sch = new org.apache.spark.sql.types.StructType()
      .add("id", org.apache.spark.sql.types.LongType)
    // seed v1 so the fence walks a real history
    spark.range(0, 5).coalesce(1).write.parquet(s"$tmp/d0")
    IcebergMetadata.commit(spark, tmp, s"$tmp/d0"): Unit
    val w = new IcebergStreamingWrite(tmp, sch, "qfence",
      overwriteAll = false, Map.empty)
    def stage(epoch: Long): graft.sources.replication.StagedFileMessage = {
      // unique file per attempt, like the real factory's task UUIDs —
      // a replayed epoch RE-stages into the same dir beside the
      // committed first attempt's files
      val dw = new IcebergDataWriter(
        s"$tmp/data/stream-qfence/epoch-$epoch/" +
          s"${java.util.UUID.randomUUID()}.parquet", sch, Map.empty)
      (10L until 13L).foreach(i => dw.write(
        new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          Array[Any](i))))
      dw.commit().asInstanceOf[graft.sources.replication.StagedFileMessage]
    }
    w.commit(0L, Array(stage(0L)))
    val after1 = IcebergMetadata.dataFileStats(tmp).size
    // the SAME epoch re-offered (crash between our commit and Spark's
    // checkpoint write): must be a clean no-op — AND must not touch
    // the committed first attempt's files (they share the epoch dir)
    w.commit(0L, Array(stage(0L)))
    assert(IcebergMetadata.dataFileStats(tmp).size == after1,
      "replayed epoch committed twice")
    assert(IcebergMetadata.readTable(spark, tmp).count() == 8L,
      "replay cleanup destroyed committed data files")
    // an empty epoch commits nothing
    w.commit(1L, Array.empty)
    assert(IcebergMetadata.dataFileStats(tmp).size == after1)
    // the next real epoch lands
    w.commit(2L, Array(stage(2L)))
    assert(IcebergMetadata.readTable(spark, tmp).count() == 11L)
  }

  test("streaming sink in COMPLETE output mode replaces the table " +
    "each epoch (aggregation dashboard shape)") {
    val tmp = Files.createTempDirectory("graft_sinkcomplete").toString
    val a = s"$tmp/src"
    rows(0 until 10).coalesce(1).write.parquet(s"$tmp/d0")
    IcebergMetadata.commit(spark, a, s"$tmp/d0"): Unit
    val cat = "gsc_" + java.util.UUID.randomUUID().toString.take(8)
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.replication.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", tmp)
    def run(): Unit = {
      val q = spark.readStream.format("graft-iceberg").load(a)
        .groupBy((col("id") % 2).as("bucket"))
        .agg(count(lit(1)).as("n"))
        .writeStream
        .option("checkpointLocation", s"$tmp/ckpt")
        .outputMode("complete")
        .trigger(Trigger.AvailableNow())
        .toTable(s"$cat.agg_t")
      q.awaitTermination()
    }
    run()
    assert(spark.sql(s"SELECT bucket, n FROM $cat.agg_t").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      Map(0L -> 5L, 1L -> 5L))
    rows(10 until 16).coalesce(1).write.parquet(s"$tmp/d1")
    IcebergMetadata.appendCommit(spark, a, s"$tmp/d1"): Unit
    run() // the epoch REPLACES the table with the updated aggregate
    assert(spark.sql(s"SELECT bucket, n FROM $cat.agg_t").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      Map(0L -> 8L, 1L -> 8L))
  }

  test("SQL-face gates are idempotent across repeated invocations — " +
    "the bench's best-of-2 (Spark caches catalogs BY NAME, so each " +
    "invocation must register a fresh one)") {
    Seq("q_iceberg_sql_insert", "q_iceberg_sql_ctas",
        "q_iceberg_sql_timetravel", "q_iceberg_sql_catalog",
        "q_iceberg_sql_mor", "q_iceberg_stream_sink",
        "q_iceberg_sql_meta").foreach { q =>
      val fn = graft.SparkEntry.queries(q)
      val a = fn(spark, "/root/testdata/sf0.001").count()
      val b = fn(spark, "/root/testdata/sf0.001").count()
      assert(a == b && a > 0, s"$q not idempotent: $a vs $b")
    }
  }

  // ---------- changelog streaming mode ----------

  test("mode=changelog delivers insert/delete rows with per-commit " +
    "ordinals; replaying the batches rebuilds the final state across " +
    "an overwrite and an append, with checkpoint resume") {
    val tmp = Files.createTempDirectory("graft_dsv2_cl").toString
    val ckpt = s"$tmp/ckpt"
    def runCl(): Seq[(Long, Seq[Row])] =
      runToDone(tmp, ckpt, Map("mode" -> "changelog"))
    rows(0 until 10).coalesce(1).write.parquet(s"$tmp/d0")
    IcebergMetadata.commit(spark, tmp, s"$tmp/d0"): Unit
    val run1 = runCl()
    assert(run1.flatMap(_._2).forall(_.getAs[String]("change_type")
      == "insert"))
    assert(run1.flatMap(_._2).map(_.getLong(0)).toSet ==
      (0L until 10L).toSet)
    // overwrite: keep even ids only, v doubled; then append 20..22
    rows(0 until 10).where(col("id") % 2 === 0)
      .withColumn("v", col("v") * 2)
      .coalesce(1).write.parquet(s"$tmp/d1")
    IcebergMetadata.commit(spark, tmp, s"$tmp/d1",
      operation = "overwrite"): Unit
    rows(20 until 23).coalesce(1).write.parquet(s"$tmp/d2")
    IcebergMetadata.appendCommit(spark, tmp, s"$tmp/d2"): Unit
    val run2 = runCl()
    val delivered2 = run2.flatMap(_._2)
    assert(delivered2.exists(_.getAs[String]("change_type") == "delete"),
      "the overwrite's removed rows were not delivered")
    // the append's ordinal is AFTER the overwrite's
    val ordsByType = delivered2.groupBy(_.getAs[String]("change_type"))
      .view.mapValues(_.map(_.getAs[Int]("change_ordinal")).toSet).toMap
    assert(ordsByType("delete").forall(_ == 1) &&
      ordsByType("insert").contains(2))
    // replay run1 + run2 per ordinal: equals the final table state
    def replay(batches: Seq[Seq[Row]]): Map[Long, Long] = {
      var state = Map.empty[(Long, Long), Int].withDefaultValue(0)
      for (b <- batches;
           ord <- b.map(_.getAs[Int]("change_ordinal")).distinct.sorted) {
        val rowsOfOrd = b.filter(_.getAs[Int]("change_ordinal") == ord)
        rowsOfOrd.filter(_.getAs[String]("change_type") == "delete")
          .foreach { r =>
            val k = (r.getLong(0), r.getLong(1))
            state = state.updated(k, state(k) - 1)
          }
        rowsOfOrd.filter(_.getAs[String]("change_type") == "insert")
          .foreach { r =>
            val k = (r.getLong(0), r.getLong(1))
            state = state.updated(k, state(k) + 1)
          }
      }
      assert(state.values.forall(c => c == 0 || c == 1),
        s"replay produced duplicate rows: $state")
      state.collect { case ((id, v), 1) => id -> v }
    }
    val finalState = replay(run1.map(_._2) ++ run2.map(_._2))
    val expected = spark.read.format("graft-iceberg").load(tmp)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(finalState == expected)
    // no-op tick delivers nothing
    assert(runCl().flatMap(_._2).isEmpty)
  }

  test("mode=changelog over a merge-on-read publish delivers the rows " +
    "the new delete files killed, and only those") {
    import graft.operators.SystemColumns
    val tmp = Files.createTempDirectory("graft_dsv2_clmor").toString
    val table = s"$tmp/table"; val ice = s"$tmp/ice"
    val ckpt = s"$tmp/ckpt"
    val base = spark.range(0, 10).select(
      col("id").cast("string").as(SystemColumns.OlakeId),
      col("id"), (col("id") * 10).as("v"))
    base.coalesce(1).write.parquet(s"$table/base")
    IcebergMetadata.publishMoR(spark, ice, table): Unit
    val run1 = runToDone(ice, ckpt, Map("mode" -> "changelog"))
    assert(run1.flatMap(_._2).map(_.getLong(1)).toSet ==
      (0L until 10L).toSet)
    // segment: update key 2, delete keys 8,9 → republish (the engine's
    // own CDC apply shape: same base files survive, delete files added)
    val seg = spark.range(2, 3).select(
        col("id").cast("string").as(SystemColumns.OlakeId),
        col("id"), lit(999L).as("v"), lit("u").as(SystemColumns.OpType))
      .unionByName(spark.range(8, 10).select(
        col("id").cast("string").as(SystemColumns.OlakeId),
        col("id"), (col("id") * 10).as("v"),
        lit("d").as(SystemColumns.OpType)))
      .withColumn(SystemColumns.CdcTimestamp, current_timestamp())
    graft.sinks.DeltaSegments.writeSegment(seg, table, 1L)
    IcebergMetadata.publishMoR(spark, ice, table): Unit
    val run2 = runToDone(ice, ckpt, Map("mode" -> "changelog"))
    val d2 = run2.flatMap(_._2)
    val dels = d2.filter(_.getAs[String]("change_type") == "delete")
      .map(_.getLong(1)).toSet
    val ins = d2.filter(_.getAs[String]("change_type") == "insert")
      .map(r => (r.getLong(1), r.getLong(2))).toSet
    // killed: the OLD rows of keys 2 (upserted) and 8,9 (deleted)
    assert(dels == Set(2L, 8L, 9L), s"wrong kill set: $dels")
    assert(ins.contains((2L, 999L)), s"upsert's new row missing: $ins")
    // replayed state equals the merged view
    val stateAfter = (run1.flatMap(_._2)
      .map(r => (r.getLong(1), r.getLong(2))).toSet
      -- d2.filter(_.getAs[String]("change_type") == "delete")
        .map(r => (r.getLong(1), r.getLong(2))).toSet) ++ ins
    val expected = IcebergMetadata.readMoRAlgebra(spark, ice)
      .select("id", "v").collect().map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    assert(stateAfter == expected)
    // a third publish re-derives segment 1 and adds an update of key 3:
    // the base rows segment 1 already killed must not die a second time
    graft.sinks.DeltaSegments.writeSegment(spark.range(3, 4).select(
        col("id").cast("string").as(SystemColumns.OlakeId),
        col("id"), lit(333L).as("v"), lit("u").as(SystemColumns.OpType),
        current_timestamp().as(SystemColumns.CdcTimestamp)), table, 2L)
    IcebergMetadata.publishMoR(spark, ice, table): Unit
    val d3 = runToDone(ice, ckpt, Map("mode" -> "changelog")).flatMap(_._2)
    def rowsOf(t: String) = d3.filter(_.getAs[String]("change_type") == t)
      .map(r => (r.getLong(1), r.getLong(2)))
    // key 3's old row, plus segment 1's row moving to its new file
    assert(rowsOf("delete").toSet == Set((3L, 30L), (2L, 999L)),
      s"wrong kill set: ${rowsOf("delete")}")
    assert(rowsOf("insert").toSet == Set((3L, 333L), (2L, 999L)))
  }

  // ---- round 17: partitioned SQL/streaming writes, truncate
  //      semantics, exclusive CREATE, and the null-key MoR fast path ----

  test("CREATE TABLE PARTITIONED BY (days(ts)) + INSERT INTO commits " +
    "tuple-bearing manifests; appends carry prior manifests; INSERT " +
    "OVERWRITE replaces; an empty-source OVERWRITE truncates") {
    val wh = Files.createTempDirectory("graft_sqlpart").toString
    val cat = "gp_" + java.util.UUID.randomUUID().toString.take(8)
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.replication.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    spark.sql(s"CREATE TABLE $cat.lake.ev " +
      "(id BIGINT, ts TIMESTAMP, v BIGINT) PARTITIONED BY (days(ts))")
    val dir = s"$wh/lake/ev"
    // 30 rows over 3 distinct days
    val src = spark.range(30).select(col("id"),
      to_timestamp(lit("2024-03-01 00:00:00")).plus(
        expr("make_interval(0, 0, 0, CAST(id % 3 AS INT), 0, 0, id)"))
        .as("ts"),
      (col("id") * 7).as("v"))
    src.createOrReplaceTempView("part_src")
    spark.sql(s"INSERT INTO $cat.lake.ev SELECT id, ts, v FROM part_src")
    // read-back through SQL equals the source
    val got = spark.sql(s"SELECT id, v FROM $cat.lake.ev")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == (0L until 30L).map(i => (i, i * 7)).toSet)
    // every data entry carries a day partition tuple matching its rows
    val stats0 = IcebergMetadata.dataFileStats(dir)
    assert(stats0.nonEmpty)
    val day0 = java.time.LocalDate.of(2024, 3, 1).toEpochDay.toInt
    assert(stats0.forall(e => e.partition.nonEmpty &&
      Set(day0, day0 + 1, day0 + 2).contains(
        e.partition.head.asInstanceOf[Int])),
      s"bad tuples: ${stats0.map(_.partition)}")
    // second INSERT appends: prior manifest rows carried, both live
    spark.sql(s"INSERT INTO $cat.lake.ev " +
      "SELECT id + 100, ts, v FROM part_src")
    assert(spark.sql(s"SELECT count(*) FROM $cat.lake.ev")
      .collect().head.getLong(0) == 60L)
    // manifest-level field summaries exist for the partition field
    assert(IcebergMetadata.manifestSummaries(dir)
      .exists(_.partitions.nonEmpty), "no partition field summaries")
    // ts-bound file pruning through the DSv2 planner: a one-day
    // predicate plans fewer file partitions than the full scan
    val full = spark.read.format("graft-iceberg").load(dir)
    val all = full.rdd.getNumPartitions
    val oneDay = full.where(col("ts") <
        to_timestamp(lit("2024-03-01 12:00:00")))
      .rdd.getNumPartitions
    assert(oneDay < all, s"no file pruning: $oneDay vs $all")
    // INSERT OVERWRITE replaces the whole table (tuples intact)
    spark.sql(s"INSERT OVERWRITE $cat.lake.ev " +
      "SELECT id, ts, v FROM part_src WHERE id < 9")
    assert(spark.sql(s"SELECT count(*) FROM $cat.lake.ev")
      .collect().head.getLong(0) == 9L)
    assert(IcebergMetadata.dataFileStats(dir).forall(_.partition.nonEmpty))
    // empty-source OVERWRITE = truncate (one metadata-only delete
    // snapshot; Iceberg/Spark SQL semantics)
    spark.sql(s"INSERT OVERWRITE $cat.lake.ev " +
      "SELECT id, ts, v FROM part_src WHERE id < 0")
    assert(spark.sql(s"SELECT count(*) FROM $cat.lake.ev")
      .collect().head.getLong(0) == 0L)
    val (_, meta) = IcebergMetadata.currentMetadata(dir).get
    import scala.jdk.CollectionConverters._
    val lastOp = meta.withArray[
        com.fasterxml.jackson.databind.node.ArrayNode]("snapshots")
      .asScala.maxBy(_.get("sequence-number").asLong)
      .get("summary").get("operation").asText
    assert(lastOp == "delete", s"truncate wrote op $lastOp")
  }

  test("INSERT INTO an engine-published partitioned table appends " +
    "under the committed spec (identity + bucket transforms)") {
    val tmp = Files.createTempDirectory("graft_sqlpart2").toString
    val dir = s"$tmp/lake/t2"
    val df0 = spark.range(20).select(col("id"),
      (col("id") % 4).as("grp"), (col("id") * 3).as("v"))
    IcebergMetadata.publishPartitioned(spark, dir, df0,
      "/{grp,identity}/{id,bucket[4]}"): Unit
    val cat = "gp2_" + java.util.UUID.randomUUID().toString.take(8)
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.replication.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", tmp)
    df0.createOrReplaceTempView("part_src2")
    spark.sql(s"INSERT INTO $cat.lake.t2 " +
      "SELECT id + 100, grp, v FROM part_src2")
    val got = spark.sql(s"SELECT id FROM $cat.lake.t2")
      .collect().map(_.getLong(0)).toSet
    assert(got == ((0L until 20L) ++ (100L until 120L)).toSet)
    // the appended files carry (grp identity, bucket) tuples under
    // the SAME spec as the publish; bucket values match the spec
    // murmur3
    val stats = IcebergMetadata.dataFileStats(dir)
    assert(stats.forall(_.partition.size == 2))
    assert(stats.forall { e =>
      val b = e.partition(1).asInstanceOf[Int]; b >= 0 && b < 4 })
  }

  test("writeStream.toTable into a PARTITIONED table commits " +
    "tuple-bearing epoch snapshots") {
    val tmp = Files.createTempDirectory("graft_streampart").toString
    val srcDir = s"$tmp/src"
    val df0 = spark.range(12).select(col("id"),
      (col("id") % 3).as("grp"), (col("id") * 2).as("v"))
    df0.coalesce(1).write.parquet(s"$tmp/d0")
    IcebergMetadata.commit(spark, srcDir, s"$tmp/d0"): Unit
    val cat = "gsp_" + java.util.UUID.randomUUID().toString.take(8)
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.replication.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", tmp)
    spark.sql(s"CREATE TABLE $cat.lake.psink " +
      "(id BIGINT, grp BIGINT, v BIGINT) PARTITIONED BY (grp)")
    def run(): Unit = {
      val q = spark.readStream.format("graft-iceberg").load(srcDir)
        .writeStream
        .option("checkpointLocation", s"$tmp/ckpt")
        .trigger(Trigger.AvailableNow())
        .toTable(s"$cat.lake.psink")
      q.awaitTermination()
    }
    run()
    df0.withColumn("id", col("id") + 100).coalesce(1)
      .write.parquet(s"$tmp/d1")
    IcebergMetadata.appendCommit(spark, srcDir, s"$tmp/d1"): Unit
    run()
    val sink = s"$tmp/lake/psink"
    val got = spark.sql(s"SELECT id FROM $cat.lake.psink")
      .collect().map(_.getLong(0)).toSet
    assert(got == ((0L until 12L) ++ (100L until 112L)).toSet)
    val stats = IcebergMetadata.dataFileStats(sink)
    assert(stats.nonEmpty && stats.forall(e =>
      e.partition.size == 1 &&
        Set(0L, 1L, 2L).contains(e.partition.head.asInstanceOf[Long])),
      s"bad tuples: ${stats.map(_.partition)}")
    // epoch stamps ride the partitioned commits (the replay fence)
    import scala.jdk.CollectionConverters._
    val snaps = IcebergMetadata.currentMetadata(sink).get._2
      .withArray[com.fasterxml.jackson.databind.node.ArrayNode](
        "snapshots").asScala.toSeq
    assert(snaps.size == 2 && snaps.forall(sn =>
      Option(sn.get("summary").get("graft-stream-epoch")).isDefined))
  }

  test("two CREATE TABLEs race through the exclusive-create marker: " +
    "exactly one wins, the loser gets TableAlreadyExistsException") {
    val wh = Files.createTempDirectory("graft_createcas").toString
    val cat = "gcc_" + java.util.UUID.randomUUID().toString.take(8)
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.replication.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    spark.sql(s"CREATE TABLE $cat.cas_t (id BIGINT)")
    val e = intercept[Exception] {
      spark.sql(s"CREATE TABLE $cat.cas_t (id BIGINT, v BIGINT)")
    }
    assert(e.getMessage.toLowerCase.contains("exists") ||
      e.getCause != null &&
        e.getCause.getMessage.toLowerCase.contains("exists"))
  }

  test("DELETE FROM with a pushable predicate is a delete-file " +
    "APPEND: no data rewrite, op=delete, MoR read-back exact") {
    val wh = Files.createTempDirectory("graft_sqldelete").toString
    val ice = s"$wh/t"
    rows(0 until 30).coalesce(2).write.parquet(s"$wh/d0")
    IcebergMetadata.commit(spark, ice, s"$wh/d0"): Unit
    val cat = "gd_" + java.util.UUID.randomUUID().toString.take(8)
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.replication.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    val before = IcebergMetadata.dataFileStats(ice)
      .filter(_.content == 0).map(_.path).toSet
    spark.sql(s"DELETE FROM $cat.t WHERE id >= 20")
    val after = IcebergMetadata.dataFileStats(ice)
    // the commit appended ONE positional-delete file and rewrote no
    // data file (the delete-file-append contract)
    assert(after.filter(_.content == 0).map(_.path).toSet == before)
    assert(after.count(_.content == 1) == 1)
    assert(spark.sql(s"SELECT id FROM $cat.t").collect()
      .map(_.getLong(0)).toSet == (0L until 20L).toSet)
    // routed through the commit CAS with op=delete
    import scala.jdk.CollectionConverters._
    val ops = IcebergMetadata.currentMetadata(ice).get._2
      .withArray[com.fasterxml.jackson.databind.node.ArrayNode](
        "snapshots").asScala
      .map(_.get("summary").get("operation").asText).toSeq
    assert(ops == Seq("append", "delete"), s"ops: $ops")
    // DELETE with no matches commits NOTHING (Iceberg semantics)
    spark.sql(s"DELETE FROM $cat.t WHERE id >= 1000")
    assert(IcebergMetadata.currentMetadata(ice).get._2
      .withArray[com.fasterxml.jackson.databind.node.ArrayNode](
        "snapshots").size == 2)
    // a non-pushable predicate takes the row-level delta plan
    spark.sql(s"DELETE FROM $cat.t WHERE id % 3 = 1")
    assert(spark.sql(s"SELECT id FROM $cat.t").collect()
      .map(_.getLong(0)).toSet ==
      (0L until 20L).filter(_ % 3 != 1).toSet)
  }

  test("UPDATE and MERGE INTO run the delta-based row-level plan: " +
    "positional deletes + new data files, untouched files intact") {
    val wh = Files.createTempDirectory("graft_sqlupd").toString
    val ice = s"$wh/t"
    rows(0 until 20).coalesce(2).write.parquet(s"$wh/d0")
    IcebergMetadata.commit(spark, ice, s"$wh/d0"): Unit
    val cat = "gu_" + java.util.UUID.randomUUID().toString.take(8)
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.replication.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    val before = IcebergMetadata.dataFileStats(ice)
      .filter(_.content == 0).map(_.path).toSet
    spark.sql(s"UPDATE $cat.t SET v = v + 1 WHERE id < 5")
    val after = IcebergMetadata.dataFileStats(ice)
    assert(before.subsetOf(
      after.filter(_.content == 0).map(_.path).toSet),
      "UPDATE rewrote untouched data files")
    assert(after.exists(_.content == 1), "UPDATE wrote no pos-deletes")
    val got = spark.sql(s"SELECT id, v FROM $cat.t").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert((0L until 20L).forall(i =>
      got(i) == (if (i < 5) i * 10 + 1 else i * 10)), s"got $got")
    // MERGE: delete evens <10, update odds <10, insert 100..104
    spark.range(0, 10).select(col("id"), lit(-1L).as("v"))
      .unionByName(spark.range(100, 105)
        .select(col("id"), (col("id") * 2).as("v")))
      .createOrReplaceTempView("msrc")
    spark.sql(s"""MERGE INTO $cat.t t USING msrc s ON t.id = s.id
      WHEN MATCHED AND s.id % 2 = 0 THEN DELETE
      WHEN MATCHED THEN UPDATE SET v = 999
      WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.v)""")
    val got2 = spark.sql(s"SELECT id, v FROM $cat.t").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val expect = ((0L until 20L).flatMap { i =>
      if (i < 10 && i % 2 == 0) None           // deleted
      else if (i < 10) Some(i -> 999L)          // updated
      else Some(i -> (if (i < 5) i * 10 + 1 else i * 10))
    } ++ (100L until 105L).map(i => i -> i * 2)).toMap
    assert(got2 == expect, s"got $got2\nexp $expect")
  }

  test("UPDATE on a PARTITIONED table lands replacement rows in " +
    "their (possibly new) partitions via the fanout writer") {
    val wh = Files.createTempDirectory("graft_sqlupdp").toString
    val ice = s"$wh/t"
    val df0 = spark.range(12).select(col("id"),
      (col("id") % 3).as("grp"), (col("id") * 10).as("v"))
    IcebergMetadata.publishPartitioned(spark, ice, df0,
      "/{grp,identity}"): Unit
    val cat = "gup_" + java.util.UUID.randomUUID().toString.take(8)
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.replication.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    // moves rows from grp 0 to grp 7 — a partition-crossing update
    spark.sql(s"UPDATE $cat.t SET grp = 7 WHERE grp = 0")
    val got = spark.sql(s"SELECT id, grp FROM $cat.t").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert((0L until 12L).forall(i =>
      got(i) == (if (i % 3 == 0) 7L else i % 3)), s"got $got")
    // the new rows carry the NEW partition tuple in the manifests
    val tuples = IcebergMetadata.dataFileStats(ice)
      .filter(_.content == 0).map(_.partition.head)
    assert(tuples.contains(7L), s"tuples: $tuples")
  }

  test("ALTER TABLE ADD COLUMN + type widening evolve the committed " +
    "schema metadata-only; both eras read back; others refuse") {
    val wh = Files.createTempDirectory("graft_sqlalter").toString
    val cat = "ga_" + java.util.UUID.randomUUID().toString.take(8)
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.replication.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    rows(0 until 10).coalesce(1).write.parquet(s"$wh/d0")
    IcebergMetadata.commit(spark, s"$wh/t", s"$wh/d0"): Unit
    val snapsBefore = IcebergMetadata.currentMetadata(s"$wh/t").get._2
      .withArray[com.fasterxml.jackson.databind.node.ArrayNode](
        "snapshots").size
    spark.sql(s"ALTER TABLE $cat.t ADD COLUMN note STRING")
    // metadata-only: no new snapshot
    assert(IcebergMetadata.currentMetadata(s"$wh/t").get._2
      .withArray[com.fasterxml.jackson.databind.node.ArrayNode](
        "snapshots").size == snapsBefore)
    // old files read back with the new column null
    val got = spark.sql(s"SELECT id, v, note FROM $cat.t").collect()
    assert(got.length == 10 && got.forall(_.isNullAt(2)))
    // an INSERT with the new column lands; both eras read
    spark.sql(s"INSERT INTO $cat.t VALUES (100, 1000, 'x')")
    val got2 = spark.sql(
      s"SELECT id, note FROM $cat.t WHERE note IS NOT NULL").collect()
    assert(got2.map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((100L, "x")))
    // widening: v long already; add an int column, then widen it
    val e = intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.t DROP COLUMN note")
    }
    assert(e.getMessage.toLowerCase.contains("alter") ||
      e.getMessage.toLowerCase.contains("support"))
    // DESCRIBE and SHOW CREATE TABLE answer through the catalog
    val desc = spark.sql(s"DESCRIBE TABLE $cat.t").collect()
      .map(_.getString(0))
    assert(desc.contains("note"), s"DESCRIBE lost the added column")
    assert(spark.sql(s"SHOW CREATE TABLE $cat.t").collect()
      .head.getString(0).contains("note"))
    // time travel resolves the SNAPSHOT's schema: the pre-ALTER
    // snapshot must NOT surface the added column
    import scala.jdk.CollectionConverters._
    val firstSnap = IcebergMetadata.currentMetadata(s"$wh/t").get._2
      .withArray[com.fasterxml.jackson.databind.node.ArrayNode](
        "snapshots").asScala
      .minBy(_.get("sequence-number").asLong).get("snapshot-id").asLong
    val old = spark.sql(
      s"SELECT * FROM $cat.t VERSION AS OF $firstSnap")
    assert(!old.columns.contains("note"),
      s"time travel served the post-evolution schema: ${
        old.columns.toSeq}")
    assert(old.count() == 10)
    // an empty VERSION string refuses cleanly (no NumberFormat blowup)
    val e2 = intercept[Exception] {
      spark.sql(s"SELECT * FROM $cat.t VERSION AS OF ''").collect()
    }
    assert(e2.getMessage.contains("does not exist") ||
      Option(e2.getCause).exists(_.getMessage.contains("does not exist")))
  }

  test("DESCRIBE TABLE on a partitioned table surfaces the partition " +
    "transforms") {
    val wh = Files.createTempDirectory("graft_desc").toString
    val dir = s"$wh/t"
    val df0 = spark.range(10).select(col("id"),
      (col("id") % 2).as("grp"), (col("id") * 3).as("v"))
    IcebergMetadata.publishPartitioned(spark, dir, df0,
      "/{grp,identity}/{id,bucket[4]}"): Unit
    val cat = "gds_" + java.util.UUID.randomUUID().toString.take(8)
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.replication.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    val desc = spark.sql(s"DESCRIBE TABLE $cat.t").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
    assert(desc.exists(_._2 == "grp"),
      s"identity transform missing from DESCRIBE: $desc")
    assert(desc.exists(_._2.startsWith("bucket")),
      s"bucket transform missing from DESCRIBE: $desc")
  }

  test("changelogUpdates pairs an overwrite's delete+insert rows by " +
    "key into update_before/update_after; carryovers net away") {
    import graft.streaming.IcebergTail
    val tmp = Files.createTempDirectory("graft_chupd").toString
    rows(0 until 10).coalesce(1).write.parquet(s"$tmp/d0")
    val c0 = IcebergMetadata.commit(spark, tmp, s"$tmp/d0")
    // drop id 3; change v for ids 0 and 5; rewrite the rest verbatim
    rows(0 until 10)
      .where(col("id") =!= 3)
      .withColumn("v", when(col("id").isin(0, 5), col("v") + 1)
        .otherwise(col("v")))
      .coalesce(1).write.parquet(s"$tmp/d1")
    IcebergMetadata.commit(spark, tmp, s"$tmp/d1",
      operation = "overwrite"): Unit
    val log = IcebergMetadata.changelogScan(spark, tmp, c0.snapshotId)
      .drop("commit_snapshot_id")
    val got = IcebergTail.changelogUpdates(log, Seq("id")).collect()
      .map(r => (r.getLong(0), r.getLong(1),
        r.getString(2))).toSet
    val expect = Set(
      (3L, 30L, "delete"),
      (0L, 0L, "update_before"), (0L, 1L, "update_after"),
      (5L, 50L, "update_before"), (5L, 51L, "update_after"))
    assert(got == expect, s"got $got")
  }

  test("changelogNet nets the whole window bag-wise: insert-then-" +
    "delete vanishes, delete-then-reinsert vanishes, multiplicities " +
    "and last-ordinal stamps are exact") {
    import graft.streaming.IcebergTail
    import spark.implicits._
    val log = Seq(
      // appeared then disappeared inside the window → no net change
      (1L, "a", "insert", 1), (1L, "a", "delete", 2),
      // present before, deleted, re-inserted verbatim → no net change
      (2L, "b", "delete", 1), (2L, "b", "insert", 3),
      // a value transition at one ordinal
      (3L, "c", "delete", 2), (3L, "c2", "insert", 2),
      // duplicate inserts net to multiplicity 2, stamped ordinal 3
      (4L, "d", "insert", 1), (4L, "d", "insert", 3),
      // duplicate deletes net to multiplicity 2, stamped ordinal 2
      (5L, "e", "delete", 1), (5L, "e", "delete", 2))
      .toDF("id", "v", "change_type", "change_ordinal")
    val got = IcebergTail.changelogNet(log).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getInt(3))).toSeq.sorted
    val expect = Seq(
      (3L, "c", "delete", 2), (3L, "c2", "insert", 2),
      (4L, "d", "insert", 3), (4L, "d", "insert", 3),
      (5L, "e", "delete", 2), (5L, "e", "delete", 2)).sorted
    assert(got == expect, s"got $got")
  }

  test("spark.wap.branch stages SQL INSERTs on the audit branch: " +
    "main unchanged until fast_forward; overwrite under WAP refuses") {
    val wh = Files.createTempDirectory("graft_wap").toString
    val ice = s"$wh/t"
    rows(0 until 10).coalesce(1).write.parquet(s"$wh/d0")
    IcebergMetadata.commit(spark, ice, s"$wh/d0"): Unit
    val cat = "gwap_" + java.util.UUID.randomUUID().toString.take(8)
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.replication.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    spark.conf.set("spark.wap.branch", "audit")
    try {
      spark.sql(s"INSERT INTO $cat.t VALUES (100, 1000), (101, 1010)")
      // main readers see nothing; the audit branch holds the stage
      assert(spark.sql(s"SELECT count(*) FROM $cat.t")
        .collect().head.getLong(0) == 10L,
        "WAP INSERT leaked onto main")
      assert(spark.sql(
          s"SELECT count(*) FROM $cat.t VERSION AS OF 'audit'")
        .collect().head.getLong(0) == 12L)
      val e = intercept[Exception] {
        spark.sql(s"INSERT OVERWRITE $cat.t VALUES (1, 1)")
      }
      assert(e.getMessage.contains("spark.wap.branch") ||
        Option(e.getCause).exists(
          _.getMessage.contains("spark.wap.branch")))
    } finally spark.conf.unset("spark.wap.branch")
    // publish: fast_forward moves main to the audited stage
    spark.sql(s"CALL $cat.system.fast_forward('t', 'audit')").collect()
    assert(spark.sql(s"SELECT count(*) FROM $cat.t")
      .collect().head.getLong(0) == 12L)
  }

  test("changelogNet over the raw changelog agrees with " +
    "changelogScan(netChanges = true) on the surviving row values") {
    import graft.streaming.IcebergTail
    val tmp = Files.createTempDirectory("graft_chnet_agree").toString
    rows(0 until 10).coalesce(1).write.parquet(s"$tmp/d0")
    val c0 = IcebergMetadata.commit(spark, tmp, s"$tmp/d0")
    rows(0 until 10).where(col("id") =!= 3)
      .withColumn("v", when(col("id").isin(0, 5), col("v") + 1)
        .otherwise(col("v")))
      .coalesce(1).write.parquet(s"$tmp/d1")
    IcebergMetadata.commit(spark, tmp, s"$tmp/d1",
      operation = "overwrite"): Unit
    rows(20 until 23).coalesce(1).write.parquet(s"$tmp/d2")
    IcebergMetadata.appendCommit(spark, tmp, s"$tmp/d2"): Unit
    def collectSet(df: org.apache.spark.sql.DataFrame) = df
      .select("id", "v", "change_type").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
      .sorted
    val viaFrame = collectSet(IcebergTail.changelogNet(
      IcebergMetadata.changelogScan(spark, tmp, c0.snapshotId)
        .drop("commit_snapshot_id")))
    val viaPlan = collectSet(
      IcebergMetadata.changelogScan(spark, tmp, c0.snapshotId,
        netChanges = true))
    assert(viaFrame == viaPlan,
      s"frame-netting != plan-netting:\n$viaFrame\n$viaPlan")
    assert(viaFrame.nonEmpty)
  }

  test("DELETE FROM by a COMPOSITE identifier key commits one " +
    "zero-scan equality-delete row; the MoR read honors the " +
    "multi-column key") {
    // a composite-identifier table is the externally-registered shape
    // (the engine's own sync synthesizes a single string key):
    // publish, then declare identifier-field-ids the way an external
    // writer's metadata would carry them
    val tmp = Files.createTempDirectory("graft_compkey").toString
    val ice = s"$tmp/lake/ck"
    spark.range(0, 20).select(
        (col("id") % 5).as("k1"),
        concat(lit("g"), col("id") % 4).as("k2"),
        (col("id") * 10).as("v"))
      .coalesce(1).write.parquet(s"$tmp/d0")
    IcebergMetadata.commit(spark, ice, s"$tmp/d0"): Unit
    locally {
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val mdFile = new java.io.File(s"$ice/metadata/v1.metadata.json")
      val root = mapper.readTree(mdFile)
        .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
      val schema = root.withArray("schemas").get(0)
        .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
      val byName = {
        import scala.jdk.CollectionConverters._
        schema.withArray("fields").elements().asScala
          .map(f => f.get("name").asText -> f.get("id").asInt).toMap
      }
      val ids = schema.putArray("identifier-field-ids")
      ids.add(byName("k1")); ids.add(byName("k2"))
      java.nio.file.Files.writeString(mdFile.toPath, root.toString)
    }
    assert(IcebergMetadata.identifierColumns(ice)
      .map(_._1) == Seq("k1", "k2"))
    val cat = "gck_" + java.util.UUID.randomUUID().toString.take(8)
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.replication.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", tmp)
    val dataBefore = IcebergMetadata.dataFileStats(ice)
      .filter(_.content == 0).map(_.path).toSet
    // ids 3, 8, 13, 18 have (k1=3); k2 cycles g3,g0,g1,g2 → exactly
    // id=3 matches (3, 'g3')
    spark.sql(s"DELETE FROM $cat.lake.ck WHERE k1 = 3 AND k2 = 'g3'")
    val stats = IcebergMetadata.dataFileStats(ice)
    assert(stats.filter(_.content == 0).map(_.path).toSet == dataBefore,
      "composite-key DELETE rewrote data files")
    val eqs = stats.filter(_.content == 2)
    assert(eqs.size == 1 && eqs.head.recordCount == 1L,
      s"expected one 1-row equality delete, got $eqs")
    assert(eqs.head.equalityIds.size == 2,
      s"equality ids: ${eqs.head.equalityIds}")
    val left = spark.sql(s"SELECT v FROM $cat.lake.ck")
      .collect().map(_.getLong(0)).toSet
    assert(left == (0L until 20L).filter(_ != 3L).map(_ * 10).toSet,
      s"MoR read after composite delete: $left")
  }

  test("DELETE FROM by the declared identifier key commits ONE " +
    "equality-delete file with zero scan") {
    val ice = publishMorFixture()
    val wh = new java.io.File(ice).getParent
    val cat = "gek_" + java.util.UUID.randomUUID().toString.take(8)
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.replication.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    val name = new java.io.File(ice).getName
    val before = spark.sql(s"SELECT id FROM $cat.$name").collect()
      .map(_.getLong(0)).toSet
    assert(before.contains(2L))
    val eqBefore = IcebergMetadata.dataFileStats(ice)
      .count(_.content == 2)
    spark.sql(s"DELETE FROM $cat.$name WHERE _olake_id = '2'")
    val after = spark.sql(s"SELECT id FROM $cat.$name").collect()
      .map(_.getLong(0)).toSet
    assert(after == before - 2L, s"got $after")
    val stats = IcebergMetadata.dataFileStats(ice)
    assert(stats.count(_.content == 2) == eqBefore + 1,
      "key DELETE did not append an equality-delete file")
    import scala.jdk.CollectionConverters._
    val last = IcebergMetadata.currentMetadata(ice).get._2
      .withArray[com.fasterxml.jackson.databind.node.ArrayNode](
        "snapshots").asScala
      .maxBy(_.get("sequence-number").asLong).get("summary")
    assert(last.get("operation").asText == "delete")
    assert(Option(last.get("graft-sql-op"))
      .exists(_.asText == "delete-by-key"))
    // IN (...) takes the same path; the join algebra agrees with the
    // DSv2 face
    spark.sql(s"DELETE FROM $cat.$name WHERE _olake_id IN ('3', '4')")
    val after2 = spark.sql(s"SELECT id FROM $cat.$name").collect()
      .map(_.getLong(0)).toSet
    assert(after2 == before -- Set(2L, 3L, 4L), s"got $after2")
    val viaMor = IcebergMetadata.readMoRAlgebra(spark, ice)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(viaMor == after2)
  }

  test("CALL procedures: set_ref / rollback_to_snapshot / " +
    "rewrite_manifests / expire_snapshots through plain SQL") {
    val wh = Files.createTempDirectory("graft_sqlcall").toString
    val ice = s"$wh/t"
    rows(0 until 5).coalesce(1).write.parquet(s"$wh/d0")
    val c0 = IcebergMetadata.commit(spark, ice, s"$wh/d0")
    rows(5 until 9).coalesce(1).write.parquet(s"$wh/d1")
    IcebergMetadata.appendCommit(spark, ice, s"$wh/d1"): Unit
    val cat = "gc_" + java.util.UUID.randomUUID().toString.take(8)
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.replication.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    // tag the first snapshot, then roll the table back to it
    val tagged = spark.sql(s"CALL $cat.system.set_ref('t', 'v1', " +
      s"${c0.snapshotId}, 'tag')").collect()
    assert(tagged.head.getString(0) == "v1")
    val rolled = spark.sql(
      s"CALL $cat.system.rollback_to_snapshot('t', ${c0.snapshotId})")
      .collect()
    assert(rolled.head.getLong(1) == c0.snapshotId,
      s"rollback result: ${rolled.toSeq}")
    assert(spark.sql(s"SELECT count(*) FROM $cat.t")
      .collect().head.getLong(0) == 5L)
    // named-arg form + a metadata-only rewrite
    val rm = spark.sql(s"CALL $cat.system.rewrite_manifests(" +
      s"table => 't')").collect()
    assert(rm.head.getLong(0) == c0.snapshotId) // previous = rolled-to
    // expire everything older than now, keeping the current chain
    val expired = spark.sql(s"CALL $cat.system.expire_snapshots('t', " +
      s"${System.currentTimeMillis() + 1000}, 1)").collect()
    assert(expired.head.getInt(0) >= 1, s"expired: ${expired.toSeq}")
    assert(spark.sql(s"SELECT count(*) FROM $cat.t")
      .collect().head.getLong(0) == 5L)
    // the tag must have survived expiration (refs pin snapshots)
    assert(spark.sql(s"SELECT count(*) FROM $cat.t VERSION AS OF 'v1'")
      .collect().head.getLong(0) == 5L)
    // unknown procedure refuses with the available list
    val e = intercept[Exception] {
      spark.sql(s"CALL $cat.system.nope('t')").collect()
    }
    assert(e.getMessage.contains("rollback_to_snapshot") ||
      Option(e.getCause).exists(
        _.getMessage.contains("rollback_to_snapshot")))
    // partition-spec evolution from SQL: the unpartitioned table
    // gains a bucket spec, which becomes the write target (the next
    // INSERT lands tuple-bearing files)
    val sid = spark.sql(s"CALL $cat.system.evolve_partition_spec(" +
      "'t', '/{id,bucket[4]}')").collect().head.getInt(0)
    assert(sid == 1, s"new spec id $sid")
    spark.sql(s"INSERT INTO $cat.t VALUES (500, 5000)")
    val tuples = IcebergMetadata.dataFileStats(ice)
      .filter(_.partition.nonEmpty).map(_.partition.head)
    assert(tuples.nonEmpty && tuples.forall(t =>
      t.asInstanceOf[Int] >= 0 && t.asInstanceOf[Int] < 4),
      s"post-evolution insert lost its bucket tuple: $tuples")
    // SHOW PROCEDURES lists the ops surface
    val listed = spark.sql(s"SHOW PROCEDURES IN $cat.system")
      .collect().flatMap(_.toSeq).collect {
        case s: String => s }.toSet
    assert(Set("rollback_to_snapshot", "expire_snapshots",
      "rewrite_data_files", "set_ref").subsetOf(listed),
      s"SHOW PROCEDURES: $listed")
  }

  test("CALL rewrite_data_files strategy 'sort' / 'zorder(...)' " +
    "recluster through SQL; bad strategies refuse") {
    val wh = Files.createTempDirectory("graft_sqlsort").toString
    val ice = s"$wh/t"
    import spark.implicits._
    // two columns, hash-spread across 4 files → no bounds locality
    (0L until 40000L).map(i => ((i * 2654435761L) % 1000, i % 1000))
      .toDF("a", "b").repartition(4)
      .write.parquet(s"$wh/d0")
    IcebergMetadata.commit(spark, ice, s"$wh/d0"): Unit
    val cat = "gs_" + java.util.UUID.randomUUID().toString.take(8)
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.replication.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    val before = spark.sql(s"SELECT * FROM $cat.t").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted
    // small target → enough z-bins that the average-area guarantee
    // has margin (2 bins would just halve one axis: area ~0.5 each)
    val res = spark.sql(s"CALL $cat.system.rewrite_data_files(" +
      "table => 't', target_bytes => 16384, strategy => 'sort', " +
      "sort_order => 'zorder(a,b)')").collect()
    assert(res.head.getLong(1) != res.head.getLong(0),
      "zorder rewrite committed no snapshot")
    val after = spark.sql(s"SELECT * FROM $cat.t").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(after.toSeq == before.toSeq, "zorder rewrite changed the data")
    // clustering narrowed per-file bounds: the hash-spread originals
    // each covered ~the full (a × b) domain, so their average bounds
    // AREA was ~1.0 of it; z-clustered files cover contiguous Morton
    // runs whose average area is ~1/files (a straddling run can still
    // span one axis — the average is the guarantee, not each file)
    val fidA = IcebergMetadata.currentFieldId(ice, "a")
    val fidB = IcebergMetadata.currentFieldId(ice, "b")
    val areas = IcebergMetadata.dataFileStats(ice)
      .filter(_.content == 0).map { st =>
        def span(fid: Int): Double =
          (IcebergMetadata.boundLong(st.stats.upper(fid)) -
            IcebergMetadata.boundLong(st.stats.lower(fid))).toDouble
        span(fidA) * span(fidB) / (1000.0 * 1000.0)
      }
    assert(areas.size > 1 &&
        areas.sum / areas.size < 0.5,
      s"zorder produced un-clustered bounds, area fractions: $areas")
    // plain sort strategy works too, and bad inputs refuse loudly
    spark.sql(s"CALL $cat.system.rewrite_data_files(table => 't', " +
      "strategy => 'sort', sort_order => 'a')").collect()
    assert(spark.sql(s"SELECT count(*) FROM $cat.t")
      .collect().head.getLong(0) == 40000L)
    val bad = intercept[Exception] {
      spark.sql(s"CALL $cat.system.rewrite_data_files(table => 't', " +
        "strategy => 'shuffle')").collect()
    }
    assert(bad.getMessage.contains("binpack") ||
      Option(bad.getCause).exists(_.getMessage.contains("binpack")))
    val bad2 = intercept[Exception] {
      spark.sql(s"CALL $cat.system.rewrite_data_files(table => 't', " +
        "strategy => 'sort')").collect()
    }
    assert(bad2.getMessage.contains("sort_order") ||
      Option(bad2.getCause).exists(_.getMessage.contains("sort_order")))
  }

  test("write.sort-order + range distribution: SQL writes stage " +
    "key-clustered files with disjoint bounds; TBLPROPERTIES " +
    "round-trip through CREATE / ALTER / SHOW") {
    val wh = Files.createTempDirectory("graft_sortprop").toString
    val cat = "gw_" + java.util.UUID.randomUUID().toString.take(8)
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.replication.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    spark.sql(s"""CREATE TABLE $cat.lake.sorted_t (k BIGINT, v DOUBLE)
      TBLPROPERTIES('write.sort-order'='k',
                    'write.distribution-mode'='range')""")
    // declared properties surface BEFORE the first write (the marker)
    def shown(): Map[String, String] =
      spark.sql(s"SHOW TBLPROPERTIES $cat.lake.sorted_t").collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(shown().get("write.sort-order").contains("k"))
    import spark.implicits._
    (0L until 20000L).map(i => ((i * 2654435761L) % 100000, i * 1.0))
      .toDF("k", "v").repartition(4).createOrReplaceTempView("sort_src")
    // AQE would coalesce this small input to one partition and make
    // the disjointness assertion vacuous — pin the exchange shape
    val aqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try spark.sql(
      s"INSERT INTO $cat.lake.sorted_t SELECT k, v FROM sort_src")
    finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
    val ice = s"$wh/lake/sorted_t"
    // the property survived the first commit into metadata.json
    assert(IcebergMetadata.tableProperties(ice)
      .get("write.sort-order").contains("k"))
    // range-distributed + sorted: per-file k bounds are DISJOINT
    val fid = IcebergMetadata.currentFieldId(ice, "k")
    val bounds = IcebergMetadata.dataFileStats(ice)
      .filter(_.content == 0)
      .map(st => (IcebergMetadata.boundLong(st.stats.lower(fid)),
        IcebergMetadata.boundLong(st.stats.upper(fid))))
      .sortBy(_._1)
    assert(bounds.size > 1, s"expected several files, got $bounds")
    bounds.sliding(2).foreach {
      case Seq(a, b) => assert(b._1 > a._2,
        s"overlapping file bounds under range write: $bounds")
      case _ => ()
    }
    assert(spark.sql(s"SELECT count(*) FROM $cat.lake.sorted_t")
      .collect().head.getLong(0) == 20000L)
    // ALTER SET/UNSET round-trips on the committed table
    spark.sql(s"ALTER TABLE $cat.lake.sorted_t " +
      "UNSET TBLPROPERTIES('write.distribution-mode')")
    spark.sql(s"ALTER TABLE $cat.lake.sorted_t " +
      "SET TBLPROPERTIES('write.sort-order'='v')")
    val p2 = shown()
    assert(p2.get("write.sort-order").contains("v") &&
      !p2.contains("write.distribution-mode"), s"props: $p2")
    // a sort-order naming a missing column refuses the write loudly
    spark.sql(s"ALTER TABLE $cat.lake.sorted_t " +
      "SET TBLPROPERTIES('write.sort-order'='nope')")
    val e = intercept[Exception] {
      spark.sql(
        s"INSERT INTO $cat.lake.sorted_t SELECT k, v FROM sort_src")
    }
    assert(e.getMessage.contains("write.sort-order") ||
      Option(e.getCause).exists(
        _.getMessage.contains("write.sort-order")))
  }

  test("fanout writer under adversarial row order: LRU eviction past " +
    "MaxOpenWriters costs extra files, never correctness") {
    val wh = Files.createTempDirectory("graft_fanout").toString
    val cat = "gf_" + java.util.UUID.randomUUID().toString.take(8)
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.replication.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    // bucket transform: no clustered distribution is requested
    // (identity-only), so ONE task sees all 100 bucket values in
    // murmur3-shuffled order — the writer's 64-writer LRU must evict
    // and reopen
    spark.sql(s"CREATE TABLE $cat.t (id BIGINT, grp BIGINT, v BIGINT) " +
      "PARTITIONED BY (bucket(100, id))")
    val n = 1000
    spark.range(n).select(col("id"), (col("id") % 100).as("grp"),
        (col("id") * 3).as("v"))
      .coalesce(1)
      .createOrReplaceTempView("fanout_src")
    spark.sql(s"INSERT INTO $cat.t SELECT id, grp, v FROM fanout_src")
    val got = spark.sql(s"SELECT id, grp, v FROM $cat.t").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == (0L until n).map(i => (i, i % 100, i * 3)).toSet)
    val stats = IcebergMetadata.dataFileStats(s"$wh/t")
    assert(stats.forall(_.partition.nonEmpty))
    // eviction produced more files than partitions (reopened leaves),
    // proving the memory bound engaged rather than unbounded writers
    assert(stats.size > 100,
      s"expected evict-and-reopen extra files, got ${stats.size}")
  }

  test("identity-partitioned INSERT requests a clustered " +
    "distribution: one data file per partition value, however many " +
    "source tasks") {
    val wh = Files.createTempDirectory("graft_cluster").toString
    val cat = "gcl_" + java.util.UUID.randomUUID().toString.take(8)
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.replication.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    spark.sql(s"CREATE TABLE $cat.t (id BIGINT, grp BIGINT, v BIGINT) " +
      "PARTITIONED BY (grp)")
    // 8 source partitions, 5 grp values: without the clustered
    // exchange this would stage up to 40 files
    spark.range(0, 1000, 1, 8).select(col("id"),
        (col("id") % 5).as("grp"), (col("id") * 2).as("v"))
      .createOrReplaceTempView("cluster_src")
    spark.sql(s"INSERT INTO $cat.t SELECT id, grp, v FROM cluster_src")
    val stats = IcebergMetadata.dataFileStats(s"$wh/t")
    assert(stats.size == 5,
      s"expected one file per partition value, got ${stats.size}")
    assert(spark.sql(s"SELECT count(*) FROM $cat.t")
      .collect().head.getLong(0) == 1000L)
  }

  test("null-keyed equality delete takes the single-string-key fast " +
    "path: kills null-keyed rows and never a row keyed 'ull'") {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    import graft.sources.replication.{IcebergFilePartition, IcebergFileReaderFactory, MorSpec}
    val tmp = Files.createTempDirectory("graft_nullkey").toString
    val schema = StructType(Seq(
      StructField("_olake_id", StringType),
      StructField("v", LongType)))
    spark.createDataFrame(
      java.util.Arrays.asList(
        Row("ull", 1L), Row(null, 2L), Row("a", 3L), Row(null, 4L)),
      schema).coalesce(1).write.parquet(s"$tmp/data")
    val file = new java.io.File(s"$tmp/data").listFiles()
      .find(_.getName.endsWith(".parquet")).get.getAbsolutePath
    // delete state: the null key and key "a" die at sequence 5; the
    // data file sits at sequence 1 (strictly older -> killed)
    val mor = MorSpec(Seq(("_olake_id", StringType)),
      Map(0L -> Map("\u0002null" -> 5L, "s:a" -> 5L)))
    val factory = new IcebergFileReaderFactory(schema,
      Map.empty, mor = Some(spark.sparkContext.broadcast(mor)))
    val reader = factory.createReader(
      IcebergFilePartition(file, seq = 1L, eqState = 0L))
    val out = scala.collection.mutable.ArrayBuffer.empty[(Any, Long)]
    while (reader.next()) {
      val r = reader.get()
      out += ((if (r.isNullAt(0)) null else r.getUTF8String(0).toString,
        r.getLong(1)))
    }
    reader.close()
    // null-keyed rows (v=2,4) and "a" (v=3) dead; "ull" (v=1) alive
    assert(out.toSet == Set(("ull", 1L)), s"got $out")
  }
}
