package graft

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Physical-plan audits: the properties that decide whether these
  * operators survive a 100× scale-up — filters reach the parquet scan,
  * projections prune the read schema, small sides broadcast, candidate
  * joins are keyed (never cartesian), and aggregates combine map-side.
  * Asserted on the optimized plans so regressions fail loudly. */
class PlanAuditSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.extensions", "graft.functions.GraftExtensions")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val dir = "/root/testdata/sf0.001"

  private def plan(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  private def q(name: String): DataFrame =
    SparkEntry.queries(name)(spark, dir)

  test("AQE skew-join: a pathologically hot key splits into " +
       "subpartitions (isSkew in the final adaptive plan)") {
    // the runtime answer to skew the engine leans on at 100 TB when a
    // key is hot but not known in advance (the planned answer —
    // explicit salting — is q_salted_join). Thresholds shrunk so the
    // ~MB test fixture trips the same code path a TB-scale hot key
    // would; restored after.
    val restore = Seq(
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.autoBroadcastJoinThreshold",
      "spark.sql.autoBroadcastJoinThreshold")
      .map(k => k -> spark.conf.getOption(k)).toMap
    try {
      spark.conf.set(
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
        "64KB")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes",
        "64KB")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor",
        "2")
      // force a sort-merge join so the skew handler (not a broadcast)
      // is what resolves the hot side
      spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold",
        "-1")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      import spark.implicits._
      val hot = spark.range(200000)
        .select((col("id") % 50).multiply(lit(0))
          .plus(when(col("id") % 10 === 0, col("id") % 7)
            .otherwise(lit(1L))).as("k"),
          md5(col("id").cast("string")).as("payload"))
      val dim = spark.range(2000)
        .select((col("id") % 100).as("k"),
          col("id").as("dim_val"))
      val j = hot.join(dim, "k")
      j.collect(): Unit
      val p = j.queryExecution.executedPlan.toString
      assert(p.contains("SortMergeJoin"), p)
      assert(p.contains("isSkew=true") || p.contains("skew=true"), p)
    } finally restore.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
  }

  test("q_project prunes the parquet read schema to the selected columns") {
    val p = plan(q("q_project"))
    assert(p.contains("ReadSchema"))
    val read = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(read.contains("c_custkey") && read.contains("c_acctbal"))
    assert(!read.contains("c_address") && !read.contains("c_comment"),
      s"unselected columns in scan: $read")
  }

  test("q_filter_and pushes both predicates into the scan") {
    val p = plan(q("q_filter_and"))
    val pushed = p.linesIterator.find(_.contains("PushedFilters")).get
    assert(pushed.contains("LessThan(l_quantity"), pushed)
    // plan strings truncate long filter lists; the prefix is enough
    assert(pushed.contains("GreaterThanOrEqual(l_sh"), pushed)
  }

  test("incremental delta scan predicates reach the scan (no full read)") {
    val p = plan(q("q_incremental_delta"))
    val pushed = p.linesIterator.find(_.contains("PushedFilters"))
    assert(pushed.exists(l => l.contains("o_orderdate") || l.contains("Or(")),
      s"no pushed filters in:\n$p")
  }

  test("q1_agg combines map-side (partial + final HashAggregate)") {
    val p = plan(q("q1_agg"))
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
  }

  test("brute-force ANN broadcasts the query side, never the corpus") {
    val p = plan(q("q_ann_topk"))
    assert(p.contains("Broadcast"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("minhash candidate join is keyed on band — no cartesian anywhere") {
    val p = plan(q("q_minhash_neardup"))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("LSH cosine near-dup joins on code — no cartesian") {
    val p = plan(q("q_cosine_neardup_lsh"))
    assert(!p.contains("CartesianProduct"), p)
  }

  test("multi-table ANN LSH: keyed candidate join, no cartesian") {
    val p = plan(q("q_ann_lsh"))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("incremental minhash: band-keyed probe join, no cartesian against the corpus") {
    val p = plan(q("q_minhash_incremental"))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("incremental cosine: code-keyed probe join, no cartesian against the corpus") {
    val p = plan(q("q_cosine_incremental"))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("image near-dup: aHash band join is keyed — no cartesian") {
    val p = plan(q("q_image_neardup"))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("temperature sampling: quota side broadcast, corpus never shuffled for the join") {
    val p = plan(q("q_sample_temperature"))
    // ≤|languages| quota rows ride a broadcast; the only corpus
    // exchanges are the two window partitionings
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("stored-index minhash probe: broadcast band join with zero corpus-side " +
       "exchanges; shingle lookup bucket-prunes files") {
    import graft.llm.Dedup
    val root = new java.io.File("/tmp/graft_mh_audit")
    def rm(f: java.io.File): Unit = if (f.exists) {
      if (f.isDirectory) f.listFiles.foreach(rm)
      f.delete(): Unit
    }
    rm(root)
    val d = Tables.load(spark, dir, "documents").where(col("doc_id") < 400)
    Dedup.minhashIndexStore(d.where(col("doc_id") % 10 =!= 0),
      "text", "doc_id", "graft_mh_audit", root.toString, buckets = 4,
      native = true)
    val (cross, verified, cand) = Dedup.minhashStoredProbe(
      d.where(col("doc_id") % 10 === 0), "text", "doc_id", "graft_mh_audit",
      3, 64, 16, 0.9, native = true)
    // candidate generation: the stored band table streams through a
    // broadcast hash join — no shuffle exchange anywhere in the probe
    val pc = cross.queryExecution.executedPlan.toString
    assert(pc.contains("BroadcastHashJoin"), pc)
    assert(!pc.contains("Exchange hashpartitioning") &&
           !pc.contains("Exchange rangepartitioning"),
      s"corpus-side shuffle in stored probe:\n$pc")
    // verify step: the corpus-side shingle read is file-pruned by the
    // candidate-id literals against the bucketed layout
    val pv = verified.queryExecution.executedPlan.toString
    assert(pv.contains("SelectedBucketsCount"), pv)
    assert(!pv.contains("CartesianProduct") &&
           !pv.contains("BroadcastNestedLoopJoin"), pv)
    assert(verified.count() > 0)
    cand.unpersist()
  }

  test("stored cosine probe: broadcast code join with zero corpus-side " +
       "exchanges; vector fetch bucket-prunes files") {
    import graft.llm.Dedup
    val root = new java.io.File("/tmp/graft_cos_audit")
    def rm(f: java.io.File): Unit = if (f.exists) {
      if (f.isDirectory) f.listFiles.foreach(rm)
      f.delete(): Unit
    }
    rm(root)
    val emb = Tables.load(spark, dir, "embeddings")
    Dedup.cosineIndexStore(emb.where(col("vec_id") % 10 =!= 0),
      "vec_id", "embedding", "graft_cos_audit", root.toString,
      buckets = 4, native = true)
    val (cross, verified, cand) = Dedup.cosineStoredProbe(
      emb.where(col("vec_id") % 10 === 0), "vec_id", "embedding",
      "graft_cos_audit", 0.35, 4, 64, 4, 2, native = true)
    val pc = cross.queryExecution.executedPlan.toString
    assert(pc.contains("BroadcastHashJoin"), pc)
    assert(!pc.contains("Exchange hashpartitioning") &&
           !pc.contains("Exchange rangepartitioning"),
      s"corpus-side shuffle in stored probe:\n$pc")
    val pv = verified.queryExecution.executedPlan.toString
    assert(pv.contains("SelectedBucketsCount"), pv)
    assert(!pv.contains("CartesianProduct") &&
           !pv.contains("BroadcastNestedLoopJoin"), pv)
    assert(verified.count() > 0)
    cand.unpersist()
  }

  test("stored exact-dedup probe: bloom pass never reads the digest store; " +
       "verify lookup partition-prunes slots") {
    import graft.llm.Dedup
    val root = new java.io.File("/tmp/graft_ex_audit")
    def rm(f: java.io.File): Unit = if (f.exists) {
      if (f.isDirectory) f.listFiles.foreach(rm)
      f.delete(): Unit
    }
    rm(root)
    val d = Tables.load(spark, dir, "documents").where(col("doc_id") < 500)
    Dedup.exactIndexStore(d, "text", "doc_id", "graft_ex_audit",
      root.toString, slots = 8)
    val batch = d.where(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 100000L).as("doc_id"), col("text"))
    val (positives, result) = Dedup.exactStoredProbe(batch, "text",
      "doc_id", "graft_ex_audit", slots = 8)
    // the membership pass reads only the O(slots) bloom table — the
    // digest store must be absent from its plan entirely
    val pp = positives.queryExecution.executedPlan.toString
    assert(!pp.contains("digests"), s"digest store read in bloom pass:\n$pp")
    assert(pp.contains("blooms"), pp)
    // the verify lookup partition-prunes the slot-partitioned store
    // (directory-level pruning survives the broadcast, where bucket
    // pruning would not) and the (tiny) hit set broadcasts into the
    // final left join; the digest-IN filter is pushed for row-group
    // pruning within the surviving slots
    val pr = result.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*slot".r.findFirstIn(pr).isDefined, pr)
    assert(pr.contains("PushedFilters: [In(digest"), pr)
    assert(pr.contains("BroadcastHashJoin"), pr)
    assert(!pr.contains("CartesianProduct") &&
           !pr.contains("BroadcastNestedLoopJoin"), pr)
    assert(result.count() == batch.count())
  }

  test("stored-index ANN probe: broadcast code join with zero corpus-side " +
       "exchanges; vector fetch bucket-prunes files") {
    import graft.llm.Similarity
    val root = new java.io.File("/tmp/graft_ann_audit")
    def rm(f: java.io.File): Unit = if (f.exists) {
      if (f.isDirectory) f.listFiles.foreach(rm)
      f.delete(): Unit
    }
    rm(root)
    val emb = Tables.load(spark, dir, "embeddings")
    Similarity.lshIndexStore(emb, "graft_ann_audit", root.toString,
      buckets = 4, native = true)
    val (cand, result) = Similarity.lshStoredProbe(
      emb.where(col("vec_id") < 5), k = 5, "graft_ann_audit",
      4, 64, 6, 2, "vec_id", "embedding", native = true)
    val pc = cand.queryExecution.executedPlan.toString
    assert(pc.contains("BroadcastHashJoin"), pc)
    val pr = result.queryExecution.executedPlan.toString
    assert(pr.contains("SelectedBucketsCount"), pr)
    assert(!pr.contains("CartesianProduct") &&
           !pr.contains("BroadcastNestedLoopJoin"), pr)
    assert(result.count() > 0)
    cand.unpersist()
  }

  test("tpch q3/q5: customer join strategy from STATS, not hints; AQE picks broadcast at gate scale") {
    // customer is linear in SF (15 M rows at sf100): a forced broadcast
    // hint OOMs at the 100× target, so the query must carry NO hint on
    // the customer join and let size-based selection decide. At gate
    // scale the filtered customer IS small, so the final (post-AQE)
    // plan must still broadcast it — proving the decision rides stats.
    // Q6: all three range predicates reach the parquet scan; map-side
    // partial agg; no join anywhere
    val p6 = plan(q("q_tpch_q6"))
    // plan strings truncate long filter lists; prefixes are enough
    val pushed6 = p6.linesIterator.find(_.contains("PushedFilters")).get
    assert(pushed6.contains("IsNotNull(l_discount") &&
      pushed6.contains("GreaterThanOrEqual(l_shipda"), pushed6)
    assert(!p6.contains("Join"), p6)
    assert("HashAggregate".r.findAllIn(p6).size >= 2, p6)
    val d3 = q("q_tpch_q3")
    // no hint anywhere in q3 (the only dimension is customer)
    assert(!d3.queryExecution.analyzed.toString.contains("ResolvedHint"),
      d3.queryExecution.analyzed.toString)
    d3.collect(): Unit // run so AQE finalizes join strategies
    val p3 = d3.queryExecution.executedPlan.toString
    assert(p3.contains("BroadcastHashJoin"), p3)
    assert(!p3.contains("CartesianProduct") &&
      !p3.contains("BroadcastNestedLoopJoin"), p3)
    assert(p3.contains("partial_sum") || p3.contains("HashAggregate"), p3)
    val d5 = q("q_tpch_q5")
    // exactly the region/nation/supplier hints remain (constant-size
    // dims); customer's join is unhinted
    assert(d5.queryExecution.analyzed.toString
      .linesIterator.count(_.contains("ResolvedHint")) == 3,
      d5.queryExecution.analyzed.toString)
    d5.collect(): Unit
    val p5 = d5.queryExecution.executedPlan.toString
    // region→nation→supplier chain + the stats-selected customer join
    // all ride broadcasts; only the lineitem⋈orders join may shuffle
    assert(p5.linesIterator.count(_.contains("BroadcastHashJoin")) >= 4, p5)
    assert(!p5.contains("CartesianProduct") &&
      !p5.contains("BroadcastNestedLoopJoin"), p5)
    // filters reach the scans
    assert(p5.contains("PushedFilters"), p5)
  }

  test("tpch q10/q14/q18: SF-linear dims unhinted (AQE-selected); filters " +
       "pushed; q18's lineitem agg is map-side partial") {
    // q10: only nation (constant 25 rows) is hint-broadcast; customer
    // rides stats. The returnflag + date filters reach the scans.
    val d10 = q("q_tpch_q10")
    assert(d10.queryExecution.analyzed.toString
      .linesIterator.count(_.contains("ResolvedHint")) == 1,
      d10.queryExecution.analyzed.toString)
    d10.collect(): Unit
    val p10 = d10.queryExecution.executedPlan.toString
    assert(p10.contains("BroadcastHashJoin"), p10)
    assert(!p10.contains("CartesianProduct") &&
      !p10.contains("BroadcastNestedLoopJoin"), p10)
    assert(p10.linesIterator.exists(l => l.contains("PushedFilters") &&
      l.contains("EqualTo(l_returnflag,R)")), p10)
    // q14: part is linear in SF — NO hint anywhere; the month filter is
    // pushed so only ~1/84 of lineitem reaches the join
    val d14 = q("q_tpch_q14")
    assert(!d14.queryExecution.analyzed.toString.contains("ResolvedHint"),
      d14.queryExecution.analyzed.toString)
    d14.collect(): Unit
    val p14 = d14.queryExecution.executedPlan.toString
    assert(!p14.contains("CartesianProduct") &&
      !p14.contains("BroadcastNestedLoopJoin"), p14)
    assert(p14.linesIterator.exists(l => l.contains("PushedFilters") &&
      l.contains("GreaterThanOrEqual(l_shipda")), p14)
    // q18: the lineitem quantity rollup partial-aggregates map-side
    // before its one shuffle; the HAVING survivor set joins without
    // nested loops; no hints anywhere
    val d18 = q("q_tpch_q18")
    assert(!d18.queryExecution.analyzed.toString.contains("ResolvedHint"),
      d18.queryExecution.analyzed.toString)
    d18.collect(): Unit
    val p18 = d18.queryExecution.executedPlan.toString
    assert("HashAggregate".r.findAllIn(p18).size >= 2, p18)
    assert(!p18.contains("CartesianProduct") &&
      !p18.contains("BroadcastNestedLoopJoin"), p18)
  }

  test("tpch q7/q8/q13/q15/q17: constant dims (nation/region) are the " +
       "only hints; no nested-loop joins; q15's max is one broadcast row") {
    // q7: exactly the two broadcast(nation) hints; q8: region + the
    // two nation broadcasts = 3; everything SF-linear rides stats
    for ((name, hints) <- Seq(("q_tpch_q7", 2), ("q_tpch_q8", 3),
        ("q_tpch_q13", 0), ("q_tpch_q17", 0))) {
      val d = q(name)
      assert(d.queryExecution.analyzed.toString
        .linesIterator.count(_.contains("ResolvedHint")) == hints,
        s"$name: " + d.queryExecution.analyzed.toString)
      d.collect(): Unit
      val p = d.queryExecution.executedPlan.toString
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"), s"$name: $p")
      assert("HashAggregate".r.findAllIn(p).size >= 2, s"$name: $p")
    }
    // q15: the max revenue is a single broadcast row equality-joined
    // back — no window over the supplier set, no second lineitem scan
    val d15 = q("q_tpch_q15")
    d15.collect(): Unit
    val p15 = d15.queryExecution.executedPlan.toString
    assert(p15.contains("BroadcastHashJoin"), p15)
    assert(!p15.contains("CartesianProduct") &&
      !p15.contains("BroadcastNestedLoopJoin"), p15)
    assert(!p15.toLowerCase.contains("window"), p15)
  }

  test("stored IVF-PQ probe: code-only serving — no vector store exists, " +
       "broadcast probes, zero corpus-side exchange before the top-k") {
    import graft.llm.Similarity
    val root = new java.io.File("/tmp/graft_ivfpq_audit")
    def rm(f: java.io.File): Unit = if (f.exists) {
      if (f.isDirectory) f.listFiles.foreach(rm)
      f.delete(): Unit
    }
    rm(root)
    val emb = Tables.load(spark, dir, "embeddings")
    val cb = Similarity.pqTrain(emb, "vec_id", "embedding",
      m = 8, ksub = 16, iters = 0)
    val coarse = emb.where(col("vec_id") < 8)
      .select(col("vec_id"),
        transform(col("embedding"), _.cast("double")).as("v"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toSeq
    Similarity.ivfPqIndexStore(emb, "graft_ivfpq_audit", root.toString,
      coarse, cb, buckets = 4)
    // the store holds ONLY the code buckets + JSON metadata — no raw
    // vectors anywhere (the 32× point of PQ)
    assert(new java.io.File(root, "pq").exists)
    assert(new java.io.File(root, "pq_meta.json").exists)
    assert(!new java.io.File(root, "vecs").exists)
    val result = Similarity.ivfPqTopKStored(
      emb.where(col("vec_id") < 5), k = 5, "graft_ivfpq_audit",
      root.toString, nprobe = 2)
    val p = result.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct") &&
           !p.contains("BroadcastNestedLoopJoin"), p)
    // the only hash exchange is the per-query top-k window; the code
    // table itself streams through the broadcast joins unshuffled
    assert(p.linesIterator.count(_.contains("Exchange hashpartitioning"))
      <= 1, p)
    assert(result.count() > 0)
  }

  test("iceberg bucket[N] transform is codegen'd — no UDF in the write path") {
    import graft.sinks.PartitionTransforms
    import graft.sinks.PartitionTransforms.PartitionField
    val df = Tables.load(spark, dir, "orders")
    val out = PartitionTransforms.withPartitionColumns(df, Seq(
      PartitionField("o_orderkey", "bucket[16]"),
      PartitionField("o_orderpriority", "bucket[8]"),
      PartitionField("o_orderdate", "bucket[4]")))
    val p = plan(out)
    assert(!p.contains("ScalaUDF") && !p.contains("BatchEvalPython"), p)
    assert(p.contains("graft_iceberg_bucket"), p)
    // spec Appendix B parity against the row kernels, all three types
    val rows = out.select(col("o_orderkey"), col("o_orderpriority"),
        unix_micros(col("o_orderdate").cast("timestamp")).as("micros"),
        col("o_orderkey_bucket"), col("o_orderpriority_bucket"),
        col("o_orderdate_bucket"))
      .limit(200).collect()
    rows.foreach { r =>
      assert(r.getInt(3) ==
        PartitionTransforms.bucketLong(r.getLong(0), 16))
      assert(r.getInt(4) ==
        PartitionTransforms.bucketString(r.getString(1), 8))
      assert(r.getInt(5) ==
        PartitionTransforms.bucketLong(r.getLong(2), 4))
    }
  }

  test("simhash exact-dup tier: keyed band join, no cartesian") {
    val p = plan(q("q_simhash_neardup"))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("JDBC CDC poll pushes the LSN range into the database scan") {
    val p = plan(q("q_cdc_mssql_jdbc"))
    assert(p.contains("PushedFilters"), p)
    val pushed = p.linesIterator.filter(_.contains("PushedFilters"))
      .mkString("\n")
    assert(pushed.contains("__$start_lsn"), pushed) // range runs in the DB
  }

  test("limit/offset scan is a distributed top-k, not a global window shuffle") {
    val p = plan(q("q_limit_offset"))
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("map-only operators introduce zero exchanges") {
    // flatten, system columns, the wire decoders, the wide-type
    // coercion projection, the registry-resolved Avro decode, and the
    // executable chunk scans (unions of per-range filters) are
    // single-pass: any Exchange appearing here is a regression
    Seq("q_flatten", "q_system_cols", "q_cdc_pgoutput", "q_cdc_binlog",
        "q_wide_types", "q_avro_registry", "q_ctid_scan", "q_rowid_scan",
        "q_physloc_scan", "q_rid_scan")
      .foreach { name =>
        val p = plan(q(name))
        assert(!p.contains("Exchange"), s"$name shuffles:\n$p")
      }
  }

  test("wide-type coercion stays inside whole-stage codegen (no UDF, native kernels)") {
    val p = plan(q("q_wide_types"))
    assert(!p.contains("BatchEvalPython") && !p.contains("ScalaUDF"), p)
    // the custom kernels appear as expressions in the codegen'd project
    assert(p.contains("graft_wkb_wkt") && p.contains("graft_objectid_hex")
      && p.contains("graft_sniff_ts"), p)
    // the coercion Project carries a whole-stage-codegen marker (*(n))
    val projectLine = p.linesIterator.find(_.contains("col_bigint")).get
    assert(projectLine.trim.startsWith("*("), projectLine)
  }

  test("delta-segment read: base joins the small delta by broadcast, never shuffled") {
    import graft.sinks.DeltaSegments
    import graft.operators.SystemColumns
    val table = java.nio.file.Files.createTempDirectory("graft_mor").toString
    // base: 10k keyed rows; delta: one 20-row segment
    val base = spark.range(10000).select(
      col("id").cast("string").as(SystemColumns.OlakeId), col("id").as("v"))
    base.write.parquet(s"$table/base")
    val seg = spark.range(20).select(
      concat(lit("k"), col("id")).as(SystemColumns.OlakeId),
      col("id").as("v"), lit("c").as(SystemColumns.OpType),
      current_timestamp().as(SystemColumns.CdcTimestamp), col("id").as("lsn"))
    DeltaSegments.writeSegment(seg, table, 1L)
    val read = DeltaSegments.read(spark, table)
    assert(read.count() == 10020)
    val finalPlan = read.queryExecution.executedPlan.toString
    assert(finalPlan.contains("BroadcastHashJoin") ||
      finalPlan.contains("BroadcastNestedLoopJoin"),
      s"delta side not broadcast:\n$finalPlan")
    // the base scan must not be exchanged for the anti join
    assert(!finalPlan.contains("SortMergeJoin"), finalPlan)
  }

  test("windowed rates shuffle once, with partial aggregation before it") {
    val p = plan(q("q_windowed_rates"))
    assert("Exchange".r.findAllIn(p).size == 1, p)
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
  }

  test("bucketed co-located join elides both join-side exchanges") {
    import graft.sinks.Bucketed
    val tmp = java.nio.file.Files.createTempDirectory("graft_bkt_t").toString
    val o = SparkEntry.queries("q_project")(spark, dir) // any frame with a key
      .withColumnRenamed("c_custkey", "custkey")
    Bucketed.writeBucketed(o, "t_bkt_a", s"$tmp/a", Seq("custkey"), 4)
    Bucketed.writeBucketed(o.select("custkey", "c_acctbal"), "t_bkt_b",
      s"$tmp/b", Seq("custkey"), 4)
    // at fixture scale the planner (rightly) prefers broadcast; disable
    // it so the assertion exercises the big-big co-located path
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = Bucketed.joinColocated(spark, "t_bkt_a", "t_bkt_b",
        Seq("custkey"))
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"), p)
      // the join itself must not introduce an exchange on either side
      assert(!p.contains("Exchange hashpartitioning"), p)
      assert(joined.count() == o.count())
    } finally
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("upsert-apply join and dedup shuffle on the key exactly once each") {
    val p = plan(q("q_upsert_apply"))
    assert(!p.contains("CartesianProduct"), p)
    // dedup window + anti-join both key on _olake_id
    assert(p.contains("_olake_id"), p)
  }

  test("repetition signals aggregate partially before both keyed shuffles") {
    val p = plan(q("q_repetition"))
    assert(!p.contains("CartesianProduct"), p)
    // (doc,gram) and (doc) aggs both run map-side partials
    assert("partial".r.findAllIn(p.toLowerCase).size >= 2, p)
    assert(!p.toLowerCase.contains("udf"), p)
  }

  test("decontamination broadcasts the held-out grams; the train corpus is never shuffled before the match") {
    val p = plan(q("q_decontaminate"))
    // the gram match must be a broadcast join — a SortMergeJoin here
    // would shuffle the exploded TRAIN corpus on gram hash
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
    // the STREAMED side of the join (printed between BroadcastHashJoin
    // and its BroadcastExchange subtree) is the exploded train corpus —
    // it must reach the join with no Exchange of its own
    val streamed = p.substring(p.indexOf("BroadcastHashJoin"),
      p.indexOf("BroadcastExchange"))
    assert(!streamed.contains("Exchange"), s"train side shuffled:\n$p")
  }

  test("ngram vocab mining: partial aggregation + TakeOrdered, never a global vocabulary sort") {
    val p = plan(q("q_ngram_vocab"))
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.toLowerCase.contains("partial"), p)
    assert(!p.contains("GlobalSort") && !p.toLowerCase.contains("udf"), p)
  }

  test("fuzzy decontamination: benchmark index and shingles broadcast, candidate joins keyed, no cartesian") {
    val p = plan(q("q_decontaminate_fuzzy"))
    // band candidates + both verify-side benchmark joins broadcast;
    // the corpus-scale scans only ever sit on the streamed side
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.toLowerCase.contains("udf"), p)
  }

  test("mixture sampling is map-only: the membership predicate introduces zero exchanges") {
    val p = plan(q("q_sample_mix"))
    assert(!p.contains("Exchange"), s"sample_mix shuffles:\n$p")
    assert(!p.contains("ScalaUDF") && !p.contains("BatchEvalPython"), p)
  }

  test("sequence packing shuffles once (bucket-keyed window), never a single global sort partition") {
    val p = plan(q("q_pack_sequences"))
    // exactly one hash exchange on the bucket key feeds the window —
    // parallelism = bucket count; a rangepartitioning(1)/global sort
    // here would serialize the whole corpus through one task
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p)
    assert(!p.contains("Exchange rangepartitioning"), p)
    assert(!p.contains("SinglePartition"), p)
  }

  test("readMoR never shuffles data files: the scan filters each file, " +
    "the join algebra applies positional deletes by broadcast anti-join") {
    import graft.sinks.{DeltaSegments, IcebergMetadata}
    import graft.operators.SystemColumns
    val table = java.nio.file.Files.createTempDirectory("graft_pos_t").toString
    val ice = java.nio.file.Files.createTempDirectory("graft_pos_i").toString
    spark.range(5000).select(col("id").cast("string")
      .as(SystemColumns.OlakeId), col("id").as("v"))
      .write.parquet(s"$table/base")
    // one segment with an intra-batch dup → a positional-delete file
    import spark.implicits._
    val seg = Seq(("1", 101L, "u"), ("1", 102L, "u"), ("2", 201L, "u"))
      .toDF(SystemColumns.OlakeId, "v", SystemColumns.OpType)
      .withColumn(SystemColumns.CdcTimestamp, current_timestamp())
      .coalesce(1)
    DeltaSegments.writeSegment(seg, table, 1L)
    IcebergMetadata.publishMoR(spark, ice, table)
    assert(IcebergMetadata.dataFileStats(ice).exists(_.content == 1))
    val scan = plan(IcebergMetadata.readMoR(spark, ice))
    assert(scan.contains("BatchScan graft-iceberg"), scan)
    assert(!scan.contains("Exchange") && !scan.contains("Join"), scan)
    val p = plan(IcebergMetadata.readMoRAlgebra(spark, ice))
    assert(p.contains("BroadcastHashJoin") ||
      p.contains("BroadcastNestedLoopJoin"), p)
    // neither delete flavor may force a sort-merge shuffle of the data
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("unigram scoring broadcasts the vocab; top-K is TakeOrdered, never a global sort") {
    val p = plan(q("q_unigram_score"))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Exchange rangepartitioning"), p)
  }

  test("clustered semdedup: pair join keyed on cluster — never a cartesian") {
    val p = plan(q("q_semdedup_clustered"))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("kmeans assignment is map-only: no exchange, no join — centroids " +
       "ride as literals") {
    val p = plan(q("q_kmeans_assign"))
    assert(!p.contains("Exchange"), p)
    assert(!p.contains("Join"), p)
  }

  test("bigram scoring broadcasts the pruned vocab; top-K is TakeOrdered; " +
       "per-doc sum is partial-agg'd") {
    val p = plan(q("q_bigram_score"))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Exchange rangepartitioning"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("partial_count") || p.contains("partial_sum"), p)
  }

  test("string-PK boundary alignment is one keyed aggregation pass (no per-candidate scans)") {
    import graft.operators.ChunkPlanner
    val c = Tables.load(spark, dir, "customer")
    // audit the ALIGNMENT pass itself: floor-candidate bucket + min
    val cands = Array("customer#000000001", "customer#000000750")
    val candArr = org.apache.spark.sql.functions.array(cands.map(
      org.apache.spark.sql.functions.lit): _*)
    val aligned = c.select(ChunkPlanner.collated(
        org.apache.spark.sql.functions.col("c_name"), "x_ci").as("k"))
      .groupBy(org.apache.spark.sql.functions.array_max(
        org.apache.spark.sql.functions.filter(candArr,
          x => x <= org.apache.spark.sql.functions.col("k"))).as("floor"))
      .agg(org.apache.spark.sql.functions.min("k"))
    val p = plan(aligned)
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p)
    assert(p.toLowerCase.contains("partial"), p) // map-side combine
  }

  test("segment dedup: keyed shuffles only (segment hash + doc id), no cartesian, partial combine") {
    val p = plan(q("q_segment_dedup"))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("Exchange rangepartitioning") &&
      !p.contains("SinglePartition"), p)
    // the first-occurrence pass must combine map-side before its
    // segment-keyed exchange
    assert(p.toLowerCase.contains("partial"), p)
    assert(!p.toLowerCase.contains("udf"), p)
  }

  test("DSIR scoring: weights ride as a literal array (no join at " +
       "all); the exploded corpus meets exactly one exchange — the " +
       "per-doc rollup's") {
    // r18 tightened the r17 shape: the <=256-bucket weight table folds
    // driver-side and scoring is a pure projection (O(1) literal-array
    // lookup per token), so the former broadcast join is gone and the
    // only exchange left is the groupBy(doc) aggregation's
    val p = plan(q("q_dsir_score"))
    assert(!p.contains("Join"), s"scoring re-grew a join:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    assert("Exchange".r.findAllIn(p).size == 1,
      s"expected exactly the rollup exchange:\n$p")
    assert(!p.toLowerCase.contains("udf"), p)
  }

  test("substring dedup: digest-keyed first-occurrence shuffle, no cartesian, partial combine") {
    val p = plan(q("q_substring_dedup"))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("Exchange rangepartitioning") &&
      !p.contains("SinglePartition"), p)
    assert(p.toLowerCase.contains("partial"), p)
    assert(!p.toLowerCase.contains("udf"), p)
  }

  test("semantic dedup: drop-side join keyed, never a cartesian") {
    val p = plan(q("q_semdedup"))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.toLowerCase.contains("udf"), p)
  }

  test("random projection is map-only: no exchange, no join, no udf") {
    val p = plan(q("q_vec_project"))
    assert(!p.contains("Exchange"), p)
    assert(!p.contains("Join"), p)
    assert(!p.toLowerCase.contains("udf"), p)
  }

  test("composed curation pipeline: exactly ONE exchange (the dedup), no udf") {
    val p = plan(q("q_pipeline_e2e"))
    val exchanges = "(?<!Reused)Exchange".r.findAllIn(p).length
    assert(exchanges == 1, s"$exchanges exchanges:\n$p")
    assert(!p.toLowerCase.contains("udf"), p)
  }

  test("keyword search: literal term filter prunes pre-shuffle, df table " +
       "broadcasts, top-k is TakeOrdered") {
    val p = plan(q("q_keyword_search"))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Exchange rangepartitioning"), p)
    // the isin filter sits below the first aggregate, so only matching
    // postings enter any exchange
    val filterIdx = p.linesIterator.indexWhere(l =>
      l.contains("Filter") && l.contains("vector"))
    assert(filterIdx >= 0, s"no literal term filter:\n$p")
  }

  test("stored keyword search: bucket-pruned postings read, no re-tokenize") {
    val root = new java.io.File("/tmp/graft_kw_audit")
    def rm(f: java.io.File): Unit = if (f.exists) {
      if (f.isDirectory) f.listFiles.foreach(rm)
      f.delete(): Unit
    }
    rm(root)
    val docs = Tables.load(spark, dir, "documents")
    graft.llm.Search.keywordIndexStore(docs, "text", "doc_id",
      "graft_kw_audit", root.toString, buckets = 4)
    val p = plan(graft.llm.Search.keywordSearchStored(spark,
      "graft_kw_audit", Seq("vector", "merge"), k = 10))
    // the bucketed layout prunes: SelectedBucketsCount appears and is
    // smaller than the full bucket count
    assert(p.contains("SelectedBucketsCount"), p)
    assert(!p.contains("explode"), s"stored probe re-tokenized:\n$p")
  }

  test("rank buckets: per-band window (hash exchange), never a single " +
       "global sort partition") {
    val docs = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("n_chars").cast("double").as("s"))
    val p = plan(graft.llm.Selection.rankBuckets(docs, col("s"),
      "doc_id", buckets = 3, shards = 8))
    assert(p.contains("Exchange hashpartitioning"), p)
    assert(!p.contains("Exchange SinglePartition"), p)
    assert(!p.contains("Exchange rangepartitioning"), p)
  }

  test("prototype prune: map-only argmin + one keyed window exchange") {
    val p = plan(q("q_prototype_prune"))
    assert(!p.contains("Join"), p)
    val exchanges = "(?<!Reused)Exchange".r.findAllIn(p).length
    assert(exchanges == 1, s"$exchanges exchanges:\n$p")
  }

  test("catalog merge broadcasts the old catalog; the fresh discovery never shuffles") {
    val p = plan(q("q_discover_merge"))
    assert(p.contains("BroadcastHashJoin"), s"no broadcast join:\n$p")
    assert(!p.contains("SortMergeJoin"), s"merge shuffled the catalogs:\n$p")
  }

  test("catalog diff broadcasts the old catalog and keys on (namespace, stream)") {
    val p = plan(q("q_discover_diff"))
    assert(p.contains("BroadcastHashJoin"), s"no broadcast join:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"diff shuffled or crossed the catalogs:\n$p")
  }

  test("knn label vote: queries broadcast against the labeled corpus, labels joined keyed") {
    val p = plan(q("q_knn_label"))
    // the all-pairs scoring is the declared exact tier: query side
    // broadcast (bounded), corpus streamed once — never a shuffle of
    // corpus × corpus
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"), s"query side not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian:\n$p")
  }

  test("kafka balancer window rides the partition-count frame, not record data") {
    val p = plan(q("q_kafka_balance"))
    // the counts aggregate is partial+final; the global-order window
    // exists but over topics×16 rows of planner metadata
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
    assert(p.contains("Window"), p)
  }

  test("winnow near-dup joins keyed on the fingerprint hash, never cartesian") {
    val p = plan(q("q_winnow_neardup"))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), s"unkeyed join:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2, p) // partial pair count
  }

  test("doc chunking is map-only: no exchange, no join, one scan") {
    val p = plan(q("q_doc_chunks"))
    assert(!p.contains("Exchange"), s"chunking shuffled:\n$p")
    assert(!p.contains("Join"), s"chunking joined:\n$p")
    assert("Scan parquet".r.findAllIn(p).size == 1, s"multiple scans:\n$p")
  }

  test("HLL registers: one scan, partial max before the single ≤256×cols-row exchange") {
    val p = plan(q("q_profile_hll"))
    // no per-value distinct shuffle — the exchange carries only the
    // partial-agg'd (column, register) rows
    assert("Scan parquet".r.findAllIn(p).size == 1, s"multiple scans:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2, p) // partial + final
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      s"register sketch should shuffle exactly once:\n$p")
  }

  test("HLL estimate: rmax side broadcast, never a sort-merge over registers") {
    val p = plan(q("q_profile_hll_estimate"))
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      s"rmax join not broadcast:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), s"unkeyed join:\n$p")
  }

  test("CMS sketch: one scan, partial counts before the single ≤d×w-row exchange") {
    val p = plan(q("q_profile_cms"))
    assert("Scan parquet".r.findAllIn(p).size == 1, s"multiple scans:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2, p) // partial + final
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      s"sketch should shuffle exactly once:\n$p")
  }

  test("heavy hitters: CMS candidate filter sits before the exact-count exchange; no join") {
    val p = plan(q("q_profile_topk"))
    assert(!p.contains("Join"), s"sketch must ride as literals, not a join:\n$p")
    // the least(element_at(...)) estimate filter must sit in the
    // scan-side stage — BELOW the one exact-count exchange in the tree
    // (the plan prints root-first), so only candidate keys shuffle
    val exch = p.indexOf("Exchange hashpartitioning")
    val filt = p.indexOf("least(")
    assert(exch >= 0 && filt >= 0, s"missing filter or exchange:\n$p")
    assert(filt > exch, s"candidate filter is above the exchange:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      s"exact count should shuffle exactly once:\n$p")
  }

  test("perceptron serving is map-only: literal weights, no join/explode/shuffle") {
    val p = plan(q("q_perceptron_apply"))
    assert(!p.contains("Join"), s"weights must ride as literals:\n$p")
    assert(!p.contains("Exchange"), s"serving must not shuffle:\n$p")
    assert(!p.contains("Generate"), s"the HOF dot product must not explode:\n$p")
    assert("Scan parquet".r.findAllIn(p).size == 1, s"multiple scans:\n$p")
  }

  test("C4 rules: map-only — line filtering rides array HOFs, never an explode/shuffle") {
    val p = plan(q("q_c4_rules"))
    assert("Scan parquet".r.findAllIn(p).size == 1, s"multiple scans:\n$p")
    assert(!p.contains("Exchange"), s"shuffle in a per-row rule table:\n$p")
    assert(!p.contains("Generate"), s"explode in a per-row rule table:\n$p")
  }

  test("quantile sample: the hash predicate is a map-side filter on the scan stage") {
    val p = plan(q("q_profile_quantile_sample"))
    assert("Scan parquet".r.findAllIn(p).size == 1, s"multiple scans:\n$p")
    assert(p.contains("Filter"), s"sample predicate missing:\n$p")
    assert(!p.contains("Join"), s"unexpected join:\n$p")
  }

  test("epochShuffle at n=4096: offsets decode via BROADCAST hash join, " +
       "never a per-partition when-chain (codegen's 64 KB method limit); " +
       "order stays byte-identical to the global-rank oracle") {
    val docs = spark.range(2000)
      .select(col("id").cast("string").as("doc_id"))
    val out = graft.llm.TextAnalysis.epochShuffle(docs, "doc_id", "seed-1",
      partitions = 4096)
    val p = plan(out)
    assert(p.contains("BroadcastHashJoin"),
      s"offset decode must be a broadcast join:\n$p")
    // the old folded literal decode rendered as a 4096-branch CASE WHEN
    // — at that width codegen falls back to interpreted eval
    assert(!p.contains("CASE WHEN"), s"when-chain decode resurfaced:\n$p")
    // the window partitions by bucket — never one global sort partition
    assert(!p.contains("SinglePartition"), s"global-window shuffle:\n$p")
    val got = out.orderBy("shuffle_pos").select("doc_id")
      .collect().map(_.getString(0)).toSeq
    val want = docs.select(col("doc_id"),
        md5(concat(lit("seed-1-"), col("doc_id"))).as("h"))
      .orderBy("h", "doc_id").select("doc_id")
      .collect().map(_.getString(0)).toSeq
    assert(got == want)
    // positions are a dense 0..n-1 permutation
    val pos = out.select("shuffle_pos").collect().map(_.getLong(0)).sorted
    assert(pos.toSeq == (0L until 2000L).toSeq)
    // the position of a document is a GLOBAL rank, so it is identical
    // at ANY bucket count — a training run can retune partitions
    // without changing the epoch's order (the replayability contract)
    val p7 = graft.llm.TextAnalysis.epochShuffle(docs, "doc_id", "seed-1",
        partitions = 7).select("doc_id", "shuffle_pos")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val p4096 = out.select("doc_id", "shuffle_pos")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(p7 == p4096)
  }

  test("DSv2 batch face executes COLUMNAR on a clean table (vectorized " +
    "parquet into whole-stage codegen) and row-based under MoR") {
    import graft.sinks.IcebergMetadata
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_plan_dsv2col").toString
    spark.range(0, 100)
      .select(col("id"), (col("id") * 2).as("v"))
      .coalesce(1).write.parquet(s"$tmp/d0")
    IcebergMetadata.commit(spark, tmp, s"$tmp/d0"): Unit
    val df = spark.read.format("graft-iceberg").load(tmp)
      .agg(sum("v"))
    // execute FIRST: under AQE the final physical plan only
    // materializes at execution
    assert(df.collect().head.getLong(0) == (0L until 100L).map(_ * 2).sum)
    val executed = df.queryExecution.executedPlan.toString
    // a columnar DSv2 scan surfaces as ColumnarToRow over BatchScan
    // (the vectorized batches feed codegen without per-row
    // materialization in the source)
    assert(executed.contains("ColumnarToRow"),
      s"clean DSv2 batch scan is not columnar:\n$executed")
  }

  // ---- r17 optimization-shape pins: the plan properties behind the
  // ---- measured wins, asserted so a refactor or Spark upgrade cannot
  // ---- silently revert them.

  test("wal2json decode: no from_json in any Filter — the " +
       "InferFiltersFromGenerate dodge holds (r17: 6.95x)") {
    // a plain explode lets the optimizer synthesize a
    // size(from_json(<whole payload chain>)) > 0 scan-side predicate
    // that re-parses every scanned row; decode() uses explode_outer +
    // isNotNull precisely to keep from_json out of every Filter
    val p = plan(q("q_cdc_wal2json"))
    val bad = p.linesIterator
      .filter(l => l.contains("Filter") && l.contains("from_json"))
      .toList
    assert(bad.isEmpty,
      s"from_json re-appeared in a Filter:\n${bad.mkString("\n")}")
  }

  test("imageNearDup join job: zero object boundaries, both sides read " +
       "the materialized fingerprint parquet (r17: 1.87x)") {
    val p = plan(q("q_image_neardup"))
    // the decode+hash pipeline must NOT run inside the join job — both
    // join sides read the ~16-byte/image fingerprint table
    for (node <- Seq("MapPartitions", "SerializeFromObject",
                     "DeserializeToObject"))
      assert(!p.contains(node),
        s"object boundary '$node' re-appeared in the join job:\n$p")
    assert(p.contains("graft-dedup"),
      s"join job does not scan the materialized fingerprint table:\n$p")
    assert("Scan parquet".r.findAllIn(p).size >= 2,
      s"expected both join sides to scan parquet fingerprints:\n$p")
  }

  test("imageNearDup: the hamming<=3 predicate sits BELOW the distinct " +
       "exchange — far pairs never shuffle (r17 filter-before-distinct)") {
    val lines = plan(q("q_image_neardup")).linesIterator.toVector
    val shown = lines.mkString("\n")
    // the distinct is the first key-only HashAggregate; its OWN exchange
    // is the one hash-partitioned on exactly its keys (another exchange
    // elsewhere in the plan must not satisfy the pin)
    val distinct = """HashAggregate\(keys=\[([^\]]*)\], functions=\[\]""".r
    val (aggIdx, keys) = lines.zipWithIndex.collectFirst(Function.unlift {
      case (l, i) => distinct.findFirstMatchIn(l).map(m => (i, m.group(1)))
    }).getOrElse(fail(s"no distinct aggregate:\n$shown"))
    val exchangeIdx = lines.indexWhere(
      _.contains(s"Exchange hashpartitioning($keys, "), aggIdx)
    assert(exchangeIdx >= 0, s"no exchange on the distinct keys:\n$shown")
    // the tree prints a node's subtree below it, indented deeper: the
    // hamming predicate must sit inside the exchange's subtree
    def column(l: String) = l.indexWhere(c => !" :+-".contains(c))
    val below = lines.drop(exchangeIdx + 1)
      .takeWhile(l => column(l) > column(lines(exchangeIdx)))
    assert(below.exists(l => l.contains("bit_count") && l.contains("<= 3")),
      "hamming filter evaluates above the distinct exchange — far " +
        s"pairs shuffle again:\n$shown")
  }
}
