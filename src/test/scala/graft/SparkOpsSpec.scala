package graft

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.llm.{Dedup, Multimodal, Similarity}
import graft.operators.{Evolve, Merge, SystemColumns}
import graft.sources.KafkaDecode

/** Operator specs that need a SparkSession — one shared local session. */
class SparkOpsSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.extensions", "graft.functions.GraftExtensions")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def sf(name: String): DataFrame =
    Tables.load(spark, "/root/testdata/sf0.001", name)

  // ---- S6 string leg: collation-aware string-PK chunking ----

  test("charset encode/decode is a bijection, order-preserving on equal-length strings") {
    import graft.operators.ChunkPlanner._
    for (s <- Seq("", "0", " ", "Customer#000000001", "zz@ ", "ABC 123"))
      assert(decodeCharsetString(encodeCharsetString(s)) == s)
    // 1-based bijective numeration: the last alphabet char (space, idx
    // 95) exercises the zero-remainder borrow
    assert(decodeCharsetString(encodeCharsetString("  ")) == "  ")
    // arithmetic order == string order at equal length
    val ordered = Seq("aa00", "aa01", "ab00", "b000")
    val encoded = ordered.map(encodeCharsetString)
    assert(encoded == encoded.sorted)
  }

  test("numeric distribution guard: dense keys pass with row-targeted stride, sparse keys fall back") {
    import spark.implicits._
    import graft.operators.ChunkPlanner
    // dense: ids 0..999, factor 1.0 → stride == chunkSize rows
    val dense = (0L until 1000L).toDF("k")
    val chunks = ChunkPlanner.planNumericAuto(dense, "k", 100L).get
    assert(chunks.length == 10)
    val counts = chunks.map(c => dense.where(c.toColumn("k")).count())
    assert(counts.sum == 1000L && counts.forall(_ == 100L))
    // sparse: factor 1e6 → outside [0.05, 1000] → fall back (None)
    val sparse = (0L until 100L).map(_ * 1000000L).toDF("k")
    assert(ChunkPlanner.planNumericAuto(sparse, "k", 100L).isEmpty)
    // semi-sparse factor 4: stride covers ~chunkSize ROWS, not keys
    val gappy = (0L until 1000L).map(_ * 4).toDF("k")
    val g = ChunkPlanner.planNumericAuto(gappy, "k", 100L).get
    val gCounts = g.map(c => gappy.where(c.toColumn("k")).count())
    assert(gCounts.sum == 1000L)
    assert(gCounts.forall(_ <= 101L), s"rows per chunk: $gCounts")
  }

  test("planStringChunks: boundaries are actual aligned values, chunks partition the table") {
    import graft.operators.ChunkPlanner
    val c = sf("customer")
    val chunks = ChunkPlanner.planStringChunks(c, "c_name", 6)
    assert(chunks.length >= 3, s"expected several chunks, got $chunks")
    assert(chunks.head.lo.isEmpty && chunks.last.hi.isEmpty)
    // interior boundaries are REAL c_name values (alignment semantics:
    // every boundary is some probe's first-at-or-after result)
    val names = c.select("c_name").collect().map(_.getString(0)).toSet
    chunks.flatMap(_.lo).foreach(b => assert(names.contains(b), b))
    // chunks tile the key space: total coverage, no overlap
    val total = c.count()
    val scanned = ChunkPlanner.scanStringChunked(c, "c_name", chunks)
    assert(scanned.count() == total)
    val perChunk = chunks.map(ch =>
      c.where(ch.toColumn("c_name")).count())
    assert(perChunk.sum == total)
    assert(perChunk.count(_ > 0) >= 3) // split actually spreads rows
  }

  test("planStringChunks under a _ci collation folds case; coverage still exact") {
    import spark.implicits._
    import graft.operators.ChunkPlanner
    val df = Seq("Apple", "apricot", "BANANA", "banoffee", "Cherry",
      "citrus", "DATE", "damson").toDF("k")
    val chunks = ChunkPlanner.planStringChunks(df, "k", 4,
      collation = "utf8mb4_0900_ai_ci")
    // boundaries live in folded space
    chunks.flatMap(_.lo).foreach(b => assert(b == b.toLowerCase, b))
    assert(ChunkPlanner.scanStringChunked(df, "k", chunks,
      "utf8mb4_0900_ai_ci").count() == 8)
    // case variants of one word land in the same chunk
    val probe = Seq("BANANA", "banana").toDF("k")
    val hits = chunks.map(ch =>
      probe.where(ch.toColumn("k", "utf8mb4_0900_ai_ci")).count())
    assert(hits.count(_ == 2) == 1 && hits.sum == 2)
  }

  // ---- P5 flatten: nested → JSON text, binary → string ----

  test("flatten: struct/array → JSON, binary → string, names normalized (flatten.go:57-84)") {
    import spark.implicits._
    import graft.operators.Flatten
    val df = Seq((1L, "x")).toDF("id", "s")
      .select(col("id"), struct(col("id"), col("s")).as("Nested Val!"),
        array(lit(1), lit(2)).as("arr"),
        encode(col("s"), "UTF-8").as("bin"))
    val flat = Flatten.flatten(df)
    assert(flat.columns.toSeq == Seq("id", "nested_val_", "arr", "bin"))
    val r = flat.head
    assert(r.getString(1) == """{"id":1,"s":"x"}""")
    assert(r.getString(2) == "[1,2]")
    assert(r.getString(3) == "x")
  }

  test("readCsv skipRows drops the per-file preamble (S14 config parity)") {
    import graft.sources.FileSources
    val dir = java.nio.file.Files.createTempDirectory("graft_csv_skip")
    java.nio.file.Files.write(dir.resolve("a.csv"),
      "junk preamble\nmore junk\nid,name\n1,x\n2,y".getBytes)
    val df = FileSources.readCsv(spark, Seq(dir.toString + "/a.csv"),
      FileSources.CsvConfig(skipRows = 2))
    assert(df.columns.toSeq == Seq("id", "name"))
    assert(df.count() == 2)
    assert(df.where(col("id") === 1).head.getString(1) == "x")
  }

  test("readCsvQuarantine: any token-count mismatch quarantines with " +
       "provenance; clean lines pass") {
    import graft.sources.FileSources
    import org.apache.spark.sql.types._
    val dir = java.nio.file.Files.createTempDirectory("graft_csv_dlq")
    java.nio.file.Files.write(dir.resolve("a.csv"),
      "1,alpha\n2,beta\n3,gamma,EXTRA,TOKENS\n4\n5,delta".getBytes)
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("name", StringType)))
    val (good, bad) = FileSources.readCsvQuarantine(spark,
      Seq(dir.toString + "/a.csv"), schema)
    val g = good.collect().map(r =>
      (r.getAs[Long]("id"), r.getAs[String]("name"))).toSet
    assert(g == Set((1L, "alpha"), (2L, "beta"), (5L, "delta")),
      g.toString)
    // both the long line AND the short line are dead-lettered
    val b = bad.collect().map(_.getAs[String]("raw_line")).toSet
    assert(b == Set("3,gamma,EXTRA,TOKENS", "4"), b.toString)
    assert(bad.head.getAs[String]("source_file").contains("a.csv"))
  }

  test("readJsonlQuarantine: null-struct lines (whitespace, bare array, " +
       "bare null) dead-letter instead of passing as all-null rows") {
    import graft.sources.FileSources
    import org.apache.spark.sql.types._
    val dir = java.nio.file.Files.createTempDirectory("graft_json_dlq")
    java.nio.file.Files.write(dir.resolve("a.jsonl"),
      ("""{"id":1,"name":"x"}""" + "\n" +
        "   \n" +                    // whitespace-only → null struct
        "[1,2,3]\n" +                // valid JSON, not an object
        "null\n" +                   // valid JSON, not an object
        "{broken\n" +                // syntactically invalid
        """{"id":2,"name":"y"}""").getBytes)
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("name", StringType)))
    val (good, bad) = FileSources.readJsonlQuarantine(spark,
      Seq(dir.toString + "/a.jsonl"), schema)
    val g = good.collect().map(r =>
      (r.getAs[Long]("id"), r.getAs[String]("name"))).toSet
    assert(g == Set((1L, "x"), (2L, "y")), g.toString)
    val b = bad.collect().map(_.getAs[String]("raw_line")).toSet
    assert(b == Set("   ", "[1,2,3]", "null", "{broken"), b.toString)
    // CSV twin: an empty line must not pass as an all-null row
    java.nio.file.Files.write(dir.resolve("b.csv"),
      "1,alpha\n\n2,beta".getBytes)
    val (g2, b2) = FileSources.readCsvQuarantine(spark,
      Seq(dir.toString + "/b.csv"), schema)
    assert(g2.count() == 2)
    assert(b2.collect().map(_.getAs[String]("raw_line")).toSet == Set(""))
  }

  test("readZippedJsonl: multi-entry archives parse line-by-line; blank lines skipped") {
    import graft.sources.FileSources
    import org.apache.spark.sql.types._
    val dir = java.nio.file.Files.createTempDirectory("graft_zipjson")
    val zout = new java.util.zip.ZipOutputStream(
      new java.io.FileOutputStream(dir.resolve("a.zip").toFile))
    zout.putNextEntry(new java.util.zip.ZipEntry("p1.jsonl"))
    zout.write("""{"id":1,"s":"x"}""".getBytes)
    zout.write("\n\n".getBytes) // blank line must not produce a row
    zout.write("""{"id":2,"s":"y"}""".getBytes)
    zout.closeEntry()
    zout.putNextEntry(new java.util.zip.ZipEntry("p2.jsonl"))
    zout.write("""{"id":3,"s":"z"}""".getBytes)
    zout.closeEntry()
    zout.close()
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("s", StringType)))
    val rows = FileSources.readZippedJsonl(spark,
        dir.toString + "/*.zip", schema)
      .collect().map(r => (r.getLong(0), r.getString(1))).sorted
    assert(rows.toSeq == Seq((1L, "x"), (2L, "y"), (3L, "z")))
  }

  test("discoverStreams: custom stream_pattern capture group overrides level-1 grouping; extension rule filters") {
    import graft.sources.FileSources
    val dir = java.nio.file.Files.createTempDirectory("graft_disc")
    def put(rel: String): Unit = {
      val f = dir.resolve(rel)
      java.nio.file.Files.createDirectories(f.getParent)
      java.nio.file.Files.write(f, "a\n1\n".getBytes): Unit
    }
    put("t1/2024/jan.csv"); put("t1/2024/feb.csv")
    put("t2/2024/jan.csv"); put("decoy.txt"); put("zipped.csv.gz")
    // level-1 default; .gz excluded under compression=none
    val lvl1 = FileSources.discoverStreams(spark, dir.toString, "csv")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(lvl1 == Map("t1" -> 2L, "t2" -> 1L))
    // gzip compression admits the .csv.gz root file as its own stream
    val gz = FileSources.discoverStreams(spark, dir.toString, "csv",
      compression = "gzip").collect().map(_.getString(0)).toSet
    assert(gz.contains("zipped.csv.gz"))
    // the Phase-2 stream_pattern: group by the YEAR segment instead
    val byYear = FileSources.discoverStreams(spark, dir.toString, "csv",
        streamPattern = Some("""[^/]+/(\d{4})/"""))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byYear == Map("2024" -> 3L))
  }

  // ---- I4 S3 incremental: mtime discriminates files ----

  test("incrementalScan picks up only files modified after the cursor") {
    import graft.sources.FileSources
    val dir = java.nio.file.Files.createTempDirectory("graft_inc").toString
    val old = s"$dir/old"; val fresh = s"$dir/fresh"
    sf("nation").limit(5).write.parquet(old)
    sf("nation").limit(3).write.parquet(fresh)
    val cut = System.currentTimeMillis() + 60000
    // age the "old" files well before the cursor, the "fresh" ones after
    def setMtime(d: String, t: Long): Unit =
      new java.io.File(d).listFiles().foreach(_.setLastModified(t))
    setMtime(old, cut - 120000); setMtime(fresh, cut + 120000)
    val rows = FileSources.incrementalScan(spark, "parquet",
      Seq(s"$old/*.parquet", s"$fresh/*.parquet"), afterMillis = cut)
    assert(rows.count() == 3)
    assert(rows.agg(max(col("_file_modified"))).head
      .getTimestamp(0).getTime > cut)
  }

  // ---- K9 writer stats observed on the write job ----

  test("writeWithStats returns the records-written counter") {
    import graft.sinks.ParquetSink
    val out = java.nio.file.Files.createTempDirectory("graft_wstats").toString
    val stats = ParquetSink.writeWithStats(sf("nation"), out, append = false)
    assert(stats("records_written") == 25L)
    assert(spark.read.parquet(out).count() == 25)
  }

  test("ivfTopK recalls a usable fraction of brute-force neighbours") {
    import graft.llm.Similarity
    val emb = Tables.load(spark, "/root/testdata/sf0.01", "embeddings")
    val queries = emb.where(col("vec_id") < 10)
    val exact = Similarity.bruteForceTopK(emb, queries, k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.ivfTopK(emb, queries, k = 5, nprobe = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (ivf & exact).size.toDouble / exact.size
    assert(recall >= 0.3, s"IVF recall $recall (${(ivf & exact).size}/${exact.size})")
  }

  test("pqTrain: error non-increasing over iterations, deterministic; encode round-trips through codes") {
    import graft.llm.Similarity
    val emb = Tables.load(spark, "/root/testdata/sf0.01", "embeddings")
    val cb0 = Similarity.pqTrain(emb, "vec_id", "embedding",
      m = 8, ksub = 16, iters = 0)
    val cb2 = Similarity.pqTrain(emb, "vec_id", "embedding",
      m = 8, ksub = 16, iters = 2)
    val (e0, e2) = (Similarity.pqError(emb, "embedding", cb0),
      Similarity.pqError(emb, "embedding", cb2))
    assert(e2 <= e0, s"training increased quantization error: $e0 -> $e2")
    // deterministic: same call, same codebook
    val cb2b = Similarity.pqTrain(emb, "vec_id", "embedding",
      m = 8, ksub = 16, iters = 2)
    assert(cb2.centroids.flatten.map(_.toSeq) ==
      cb2b.centroids.flatten.map(_.toSeq))
    // codes are in range and a codebook row encodes to itself at iters=0
    val codes = Similarity.pqEncode(emb, "vec_id", "embedding", cb0)
    val bad = codes.where(exists(col("codes"),
      c => c < 0 || c >= 16)).count()
    assert(bad == 0)
    val self = codes.where(col("vec_id") < 16)
      .select(col("vec_id"), col("codes")).collect()
    self.foreach(r => assert(r.getSeq[Int](1).forall(_ == r.getLong(0)),
      s"seed row ${r.getLong(0)} not its own nearest codebook entry"))
  }

  test("ivfPqTopK: usable recall vs brute force; corpus vectors stay off the candidate join") {
    import graft.llm.Similarity
    val emb = Tables.load(spark, "/root/testdata/sf0.01", "embeddings")
    val queries = emb.where(col("vec_id") < 10)
    val cb = Similarity.pqTrain(emb, "vec_id", "embedding",
      m = 8, ksub = 16, iters = 2)
    val coarse = emb.where(col("vec_id") < 8)
      .select(col("vec_id"),
        transform(col("embedding"), _.cast("double")).as("v"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toSeq
    val exact = Similarity.bruteForceTopK(emb, queries, k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val pq = Similarity.ivfPqTopK(emb, queries, k = 5, coarse, cb,
      nprobe = 4)
    val got = pq.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // cosine top-k vs L2 ADC on unnormalized vectors differ by design;
    // the bar is a usable candidate overlap, exactness is q_ann_ivfpq's
    val recall = (got & exact).size.toDouble / exact.size
    assert(recall >= 0.2, s"IVF-PQ recall $recall")
    assert(got.groupBy(_._1).forall(_._2.size == 5))
  }

  test("parity API surface: snapshotMax, appendOnly, readModifiedAfter, minhashSignature") {
    import graft.operators.{Incremental, Merge}
    val orders = sf("orders")
    val (p, s) = Incremental.snapshotMax(orders,
      Incremental.Cursor("o_orderdate", Some("o_orderkey")))
    assert(p.isDefined && s.isDefined)
    assert(s.get == orders.agg(max("o_orderkey")).head.get(0))
    assert(Merge.appendOnly(orders).count() == orders.count())
    // modifiedAfter with an ancient cursor returns everything
    val dir = java.nio.file.Files.createTempDirectory("graft_ma").toString
    sf("nation").write.parquet(s"$dir/n")
    assert(graft.sources.FileSources.readModifiedAfter(spark, "parquet",
      s"$dir/n", "2000-01-01T00:00:00").count() == 25)
    import org.apache.spark.sql.functions.col
    val sig = sf("nation").select(graft.llm.Dedup.minhashSignature(
      graft.llm.Dedup.shingles(col("n_name"), 3), 16).as("sig"))
    assert(sig.head.getSeq[Long](0).size == 16)
  }

  test("prefix-filtered Jaccard equals the all-pairs form exactly") {
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
    def pairs(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val allPairs = pairs(graft.llm.Dedup.jaccardPairs(docs, "text", "doc_id", 0.8))
    val prefix = pairs(graft.llm.Dedup.jaccardPairsPrefix(docs, "text", "doc_id", 0.8))
    assert(allPairs == prefix)
    assert(allPairs.nonEmpty)
  }

  /** `body` with session conf `key` set to `value`, unset after. */
  private def withConf[T](key: String, value: String)(body: => T): T = {
    spark.conf.set(key, value)
    try body finally spark.conf.unset(key)
  }

  test("a malformed jaccardPrefix.materializeRows fails naming the key and value") {
    import spark.implicits._
    val key = "spark.graft.jaccardPrefix.materializeRows"
    val docs = Seq((1L, "a b c"), (2L, "a b d")).toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException](withConf(key, "2k")(
      graft.llm.Dedup.jaccardPairsPrefix(docs, "text", "doc_id", 0.5)))
    assert(e.getMessage.contains(key) && e.getMessage.contains("'2k'"),
      e.getMessage)
  }

  test("a malformed bpe.localVocabRows fails naming the key and value") {
    import spark.implicits._
    val key = "spark.graft.bpe.localVocabRows"
    val docs = Seq("ab ab", "ba").toDF("text")
    val e = intercept[IllegalArgumentException](withConf(key, "1e5")(
      graft.llm.TextAnalysis.bpeTrain(docs, "text", rounds = 2)))
    assert(e.getMessage.contains(key) && e.getMessage.contains("'1e5'"),
      e.getMessage)
  }

  test("cosinePairsLsh recalls a usable fraction of exact cosine pairs") {
    val emb = Tables.load(spark, "/root/testdata/sf0.01", "embeddings")
      .where(col("vec_id") < 300)
    val exact = graft.llm.Dedup.cosinePairs(emb, "vec_id", "embedding", 0.35)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = graft.llm.Dedup.cosinePairsLsh(emb, "vec_id", "embedding", 0.35)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(exact)) // exact cosine verification → no false positives
    assert(exact.nonEmpty)
    val recall = lsh.size.toDouble / exact.size
    assert(recall >= 0.3, s"recall $recall too low (${lsh.size}/${exact.size})")
  }

  test("dedupKeepLatestAgg matches the window variant on a total order") {
    import graft.operators.{Merge, SystemColumns}
    val ev = Tables.load(spark, "/root/testdata/sf0.001", "events")
    val changes = ev.select(
      col("user_id").cast("string").as(SystemColumns.OlakeId),
      when(col("event_type") === "error", "d")
        .when(col("event_type") === "purchase", "u").otherwise("c")
        .as(SystemColumns.OpType),
      col("ts").as(SystemColumns.CdcTimestamp),
      col("event_id"), col("value"))
    val win = Merge.dedupKeepLatest(changes,
        extraOrder = Seq(col("event_id").desc))
      .orderBy(SystemColumns.OlakeId).collect()
    val agg = Merge.dedupKeepLatestAgg(changes,
        orderCols = Seq(col(SystemColumns.CdcTimestamp),
          Merge.opPriority(col(SystemColumns.OpType)), col("event_id")))
      .orderBy(SystemColumns.OlakeId).collect()
    assert(win.length == agg.length)
    assert(win.map(_.getAs[Long]("event_id")).toSeq ==
      agg.map(_.getAs[Long]("event_id")).toSeq)
    // the aggregate plan partially combines before the shuffle
    val p = Merge.dedupKeepLatestAgg(changes).queryExecution
      .executedPlan.toString
    assert("HashAggregate|SortAggregate|ObjectHashAggregate".r
      .findAllIn(p).size >= 2, p)
  }

  test("native SimHash64 expression: kernel parity, null, type check, codegen body") {
    import graft.functions.SimHash64
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{LongType, StringType}
    import org.apache.spark.unsafe.types.UTF8String
    // kernel: case/whitespace-insensitive like the HOF tokenization
    val fp = SimHash64.compute(UTF8String.fromString("the quick brown fox"))
    assert(fp == SimHash64.compute(UTF8String.fromString("THE  quick brown fox ")))
    // expression eval + null propagation
    val e = SimHash64(Literal(UTF8String.fromString("the quick brown fox"), StringType))
    assert(e.dataType == LongType && e.eval(null) == fp)
    assert(SimHash64(Literal(null, StringType)).eval(null) == null)
    // analysis-time type check
    assert(SimHash64(Literal(1)).checkInputDataTypes() !=
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess)
    // the generated code is one static call — stays inside codegen stages
    // (full plan path exercised by the oracled q_simhash_native query,
    // which also pins native == HOF on every document row)
    import org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext
    val ctx = new CodegenContext
    val code = e.genCode(ctx).code.toString
    assert(code.contains("graft.functions.SimHash64.compute"), code)
  }

  // ---- retry with backoff + non-retryable classification ----

  test("retry: backoff doubles, non-retryable aborts immediately (utils.go:462-537)") {
    val delays = scala.collection.mutable.ArrayBuffer.empty[Long]
    var calls = 0
    intercept[RuntimeException] {
      Retry.withBackoff(attempts = 3, baseDelayMs = 100, sleep = delays += _) {
        calls += 1; throw new RuntimeException("flaky")
      }
    }
    assert(calls == 3 && delays.toSeq == Seq(100L, 200L))
    var nrCalls = 0
    intercept[Retry.NonRetryableException] {
      Retry.withBackoff(attempts = 3, baseDelayMs = 1, sleep = _ => ()) {
        nrCalls += 1; throw new Retry.NonRetryableException("auth")
      }
    }
    assert(nrCalls == 1)
    assert(Retry.isNonRetryable(new RuntimeException("permission denied for table x")))
    assert(!Retry.isNonRetryable(new RuntimeException("connection reset")))
    // succeeds on second attempt
    var n = 0
    val out = Retry.withBackoff(attempts = 3, baseDelayMs = 1, sleep = _ => ()) {
      n += 1; if (n < 2) throw new RuntimeException("once") else 42
    }
    assert(out == 42)
  }

  // ---- K7 parquet evolve-by-rewrite ----

  test("appendEvolving: widening rewrites, new columns append (parquet.go evolve)") {
    import spark.implicits._
    import graft.sinks.ParquetSink
    val path = java.nio.file.Files.createTempDirectory("graft_ev").toString + "/t"
    ParquetSink.appendEvolving(Seq((1, "a")).toDF("id", "s"), path)
    // widen id int→long: must rewrite existing files
    ParquetSink.appendEvolving(
      Seq((2L, "b")).toDF("id", "s"), path)
    val afterWiden = spark.read.option("mergeSchema", "true").parquet(path)
    assert(afterWiden.schema("id").dataType ==
      org.apache.spark.sql.types.LongType)
    assert(afterWiden.count() == 2)
    // add a new column: append-only, no rewrite of the old rows
    ParquetSink.appendEvolving(
      Seq((3L, "c", 1.5)).toDF("id", "s", "score"), path)
    val fin = spark.read.option("mergeSchema", "true").parquet(path)
    assert(fin.count() == 3)
    assert(fin.where(col("score").isNotNull).count() == 1)
  }

  // ---- _olake_id byte parity with reference GetKeysHash ----

  test("_olake_id composite key: md5 with trailing pipe (utils.go:278-284)") {
    import spark.implicits._
    val df = Seq((1, "x")).toDF("a", "b")
    val id = SystemColumns.attach(df, Seq("a", "b"), SystemColumns.OpRead)
      .select(SystemColumns.OlakeId).head.getString(0)
    // pinned: md5("1|x|") — the reference appends '|' after EVERY value
    assert(id == "6826d722d895aa416b12c49a98fc3fff")
  }

  test("_olake_id single PK is the raw value; no-PK hashes all columns") {
    import spark.implicits._
    val df = Seq((7, "x")).toDF("a", "b")
    val single = SystemColumns.attach(df, Seq("a"), "r")
      .select(SystemColumns.OlakeId).head.getString(0)
    assert(single == "7")
    val noPk = SystemColumns.attach(df, Nil, "r")
      .select(SystemColumns.OlakeId).head.getString(0)
    // reference GetHash = GetKeysHash over ALL columns: md5("7|x|"),
    // cross-checked against an independent JVM digest
    val expected = java.security.MessageDigest.getInstance("MD5")
      .digest("7|x|".getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(noPk == expected)
  }

  // ---- Merge: dedup-keep-latest + apply-changes ----

  test("dedupKeepLatest: latest timestamp wins, priority breaks ties") {
    import spark.implicits._
    val changes = Seq(
      // key k1: u@t2 beats c@t1
      ("k1", "c", "2024-01-01 00:00:01", 1),
      ("k1", "u", "2024-01-01 00:00:02", 2),
      // key k2: same ts — d (priority 4) beats u (priority 3)
      ("k2", "u", "2024-01-01 00:00:05", 3),
      ("k2", "d", "2024-01-01 00:00:05", 4)
    ).toDF(SystemColumns.OlakeId, SystemColumns.OpType, "ts_s", "payload")
      .withColumn(SystemColumns.CdcTimestamp, to_timestamp(col("ts_s")))
    val out = Merge.dedupKeepLatest(changes)
      .select(SystemColumns.OlakeId, SystemColumns.OpType)
      .as[(String, String)].collect().toMap
    assert(out == Map("k1" -> "u", "k2" -> "d"))
  }

  test("applyChanges: delete removes, update replaces, insert adds") {
    import spark.implicits._
    val base = Seq(("1", "one"), ("2", "two"), ("3", "three"))
      .toDF(SystemColumns.OlakeId, "v")
    val changes = Seq(
      ("2", "TWO", "u"), ("3", "x", "d"), ("4", "four", "c"))
      .toDF(SystemColumns.OlakeId, "v", SystemColumns.OpType)
      .withColumn(SystemColumns.CdcTimestamp,
        to_timestamp(lit("2024-01-01 00:00:00")))
    val out = Merge.applyChanges(base, changes)
      .as[(String, String)].collect().toMap
    assert(out == Map("1" -> "one", "2" -> "TWO", "4" -> "four"))
  }

  // ---- Evolve ----

  test("evolveAll widens int→long and adds new columns") {
    import spark.implicits._
    val b1 = Seq((1, "a")).toDF("id", "name")
    val b2 = Seq((2L, 1.5)).toDF("id", "score")
    val out = Evolve.evolveAll(Seq(b1, b2))
    assert(out.schema("id").dataType.typeName == "long")
    assert(out.columns.toSeq == Seq("id", "name", "score"))
    assert(out.count() == 2)
  }

  // ---- MinHash LSH recall on planted exact duplicates ----

  test("minhash LSH finds planted near-identical duplicates") {
    val docs = sf("documents").where(col("doc_id") < 60)
      .select("doc_id", "text")
    val planted = docs.union(
      docs.withColumn("doc_id", col("doc_id") + 10000))
    val pairs = Dedup.minhashPairs(planted, "text", "doc_id",
        estThreshold = 0.9)
      .where(col("id_b") === col("id_a") + 10000)
      .count()
    // every doc has an exact copy planted at id+10000: identical shingle
    // sets ⇒ identical signatures ⇒ identical band keys. 100% recall.
    assert(pairs == 60L, s"found $pairs of 60 planted duplicates")
  }

  test("simhash of identical texts is identical; distance detects dupes") {
    val docs = sf("documents").where(col("doc_id") < 40)
      .select("doc_id", "text")
    val planted = docs.union(docs.withColumn("doc_id", col("doc_id") + 10000))
    val found = Dedup.simhashPairs(planted, "text", "doc_id", maxHamming = 0)
      .where(col("id_b") === col("id_a") + 10000).count()
    assert(found == 40L)
  }

  test("JDBC chunked read: one partition per chunk; resume skips done chunks") {
    import graft.operators.ChunkPlanner
    import graft.sources.JdbcSource
    val li = sf("lineitem").where(col("l_orderkey") <= 300)
      .select("l_orderkey", "l_linenumber", "l_quantity")
    val db = java.nio.file.Files.createTempDirectory("graft_derby_t")
      .toString + "/db"
    val url = JdbcSource.derbyUrl(db)
    JdbcSource.load(li, url, "LI")
    val (mn, mx) = JdbcSource.minMax(spark, url, "LI", "\"l_orderkey\"")
    assert(mn >= 0 && mx <= 300 && mn < mx)
    val chunks = ChunkPlanner.strideChunks(mn, mx, 50)
    val full = JdbcSource.readWithChunks(spark, url, "LI", "\"l_orderkey\"", chunks)
    assert(full.rdd.getNumPartitions == chunks.length) // one scan per chunk
    assert(full.count() == li.count())
    // resume: drop the first (completed) chunk — its rows disappear,
    // everything else survives (backfill.go:61-64 chunk-state shape)
    val resumed = JdbcSource.readWithChunks(spark, url, "LI",
      "\"l_orderkey\"", chunks.drop(1))
    val expect = li.where(!chunks.head.toColumn("l_orderkey")).count()
    assert(resumed.count() == expect)
    // pushdown composes: extra filter ANDs into every chunk predicate
    val filtered = JdbcSource.readWithChunks(spark, url, "LI",
      "\"l_orderkey\"", chunks, extraFilter = Some("\"l_linenumber\" = 1"))
    assert(filtered.count() == li.where(col("l_linenumber") === 1).count())
  }

  test("minhashIncrementalVerified: batch pairs found, corpus-internal dups silent") {
    val docs = sf("documents").where(col("doc_id") < 30)
      .select("doc_id", "text")
    // corpus contains an internal dup pair (id, id+10000) per doc; the
    // batch replants 10 of the same texts at +20000
    val corpus = docs.union(docs.withColumn("doc_id", col("doc_id") + 10000))
    val batch = docs.where(col("doc_id") < 10)
      .withColumn("doc_id", col("doc_id") + 20000)
    val out = Dedup.minhashIncrementalVerified(corpus, batch,
      "text", "doc_id", threshold = 0.9).collect()
    // every emitted pair touches the batch; the 30 corpus-internal
    // (id, id+10000) dup pairs must NOT re-emit
    assert(out.forall(r => r.getAs[Long]("id_b") >= 20000))
    // each batch doc matches both corpus copies of its text
    val hits = out.filter(r => r.getAs[Double]("jaccard") == 1.0)
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    (0L until 10L).foreach { i =>
      assert(hits.contains((i, i + 20000)), s"corpus copy $i missed")
      assert(hits.contains((i + 10000, i + 20000)), s"corpus copy ${i + 10000} missed")
    }
  }

  test("cosineIncrementalVerified: batch matches corpus copies, corpus pairs silent") {
    val e = sf("embeddings").where(col("vec_id") < 30)
      .select("vec_id", "embedding")
    val corpus = e.union(e.withColumn("vec_id", col("vec_id") + 10000))
    val batch = e.where(col("vec_id") < 10)
      .withColumn("vec_id", col("vec_id") + 20000)
    val out = Dedup.cosineIncrementalVerified(corpus, batch,
      "vec_id", "embedding", threshold = 0.99).collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")))
    assert(out.forall(_._2 >= 20000), "corpus-internal pair leaked")
    (0L until 10L).foreach { i =>
      assert(out.contains((i, i + 20000)), s"corpus copy $i missed")
      assert(out.contains((i + 10000, i + 20000)), s"copy ${i + 10000} missed")
    }
  }

  test("minhashPairsVerified: planted dupes at jaccard 1.0, no false positives") {
    val docs = sf("documents").where(col("doc_id") < 30)
      .select("doc_id", "text")
    val planted = docs.union(docs.withColumn("doc_id", col("doc_id") + 10000))
    val out = Dedup.minhashPairsVerified(planted, "text", "doc_id",
      threshold = 0.9).collect()
    val plantedPairs = out.filter(r =>
      r.getAs[Long]("id_b") == r.getAs[Long]("id_a") + 10000)
    assert(plantedPairs.length == 30)
    assert(plantedPairs.forall(_.getAs[Double]("jaccard") == 1.0))
    // exact verification: every emitted pair truly meets the threshold —
    // recompute J from the shingle sets and compare
    val sh = planted.select(col("doc_id"),
      array_distinct(Dedup.shingles(col("text"), 3)).as("sh"))
    val checked = Dedup.minhashPairsVerified(planted, "text", "doc_id",
        threshold = 0.9)
      .join(sh.select(col("doc_id").as("id_a"), col("sh").as("sa")), "id_a")
      .join(sh.select(col("doc_id").as("id_b"), col("sh").as("sb")), "id_b")
      .withColumn("truej", size(array_intersect(col("sa"), col("sb"))) /
        (size(col("sa")) + size(col("sb")) -
          size(array_intersect(col("sa"), col("sb")))).cast("double"))
      .where(col("truej") < 0.9).count()
    assert(checked == 0L)
  }

  test("dedup tiers release every cached block before returning") {
    import spark.implicits._
    val docs = sf("documents").where(col("doc_id") < 40)
      .select("doc_id", "text")
    val emb = sf("embeddings").where(col("vec_id") < 40)
    val ids = docs.select(col("doc_id").as("id"))
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    def pinned(): Set[Int] =
      spark.sparkContext.getPersistentRDDs.keySet.toSet
    val before = pinned()
    // each tier materializes its result internally (or here, for the
    // lazy ones) and must leave nothing newly cached behind
    Dedup.minhashPairs(docs, "text", "doc_id").count()
    assert(pinned() == before, "minhashPairs leaked cached blocks")
    Dedup.minhashPairsVerified(docs, "text", "doc_id",
      threshold = 0.9).count()
    assert(pinned() == before, "minhashPairsVerified leaked cached blocks")
    Dedup.simhashExactDups(docs, "text", "doc_id").count()
    assert(pinned() == before, "simhashExactDups leaked cached blocks")
    Dedup.cosinePairs(emb, "vec_id", "embedding", 0.9).count()
    assert(pinned() == before, "cosinePairs leaked cached blocks")
    Dedup.cosinePairsLsh(emb, "vec_id", "embedding", 0.9).count()
    assert(pinned() == before, "cosinePairsLsh leaked cached blocks")
    Dedup.canonicalize(ids, pairs, "id").count()
    assert(pinned() == before, "canonicalize leaked cached blocks")
    Dedup.keepCanonical(ids, pairs, "id").count()
    assert(pinned() == before, "keepCanonical leaked cached blocks")
  }

  test("dedup scratch: all materializations under ONE registered parent, recursive cleanup removes it") {
    val docs = sf("documents").where(col("doc_id") < 40)
      .select("doc_id", "text")
    Dedup.minhashPairsVerified(docs, "text", "doc_id", threshold = 0.9).count()
    Dedup.simhashExactDups(docs, "text", "doc_id").count()
    val parent = Dedup.Scratch.parentPath
      .getOrElse(fail("no scratch parent registered"))
    val dir = new java.io.File(parent)
    assert(dir.isDirectory, "scratch parent must exist on disk")
    // every tier call materialized under the SAME parent (m1, m2, …),
    // so one recursive delete reclaims everything — the round-6 defect
    // was per-call temp dirs whose parquet contents deleteOnExit never
    // covered
    val children = dir.listFiles()
    assert(children != null && children.nonEmpty,
      "materializations must land under the parent")
    assert(children.forall(_.getName.startsWith("m")))
    // the shutdown hook's body, invoked now: parent is gone after
    Dedup.Scratch.cleanupNow(docs)
    assert(!dir.exists, "recursive cleanup must remove the parent")
    assert(Dedup.Scratch.parentPath.isEmpty, "registration resets")
    // a later tier call re-registers a fresh parent and still works
    Dedup.minhashPairs(docs, "text", "doc_id").count()
    assert(Dedup.Scratch.parentPath.exists(p => new java.io.File(p).isDirectory))
  }

  test("packSequences: greedy budget packing per bucket, deterministic, bounded slack") {
    import graft.llm.Sampling
    val docs = sf("documents")
    val packed = Sampling.packSequences(docs, "doc_id",
      length(col("text")), budget = 4000L, buckets = 4)
      .select(col("doc_id"), col("bucket"), col("pack_id"),
        length(col("text")).cast("long").as("cost"))
      .collect()
    // every pack's cost stays under budget + one straddling document
    val maxCost = packed.map(_.getAs[Long]("cost")).max
    packed.groupBy(_.getAs[Long]("pack_id")).foreach { case (pid, rows) =>
      val total = rows.map(_.getAs[Long]("cost")).sum
      assert(total <= 4000L + maxCost, s"pack $pid holds $total")
    }
    // a bucket's packs are dense from its base id (greedy, no gaps)
    packed.groupBy(_.getAs[Long]("bucket")).foreach { case (b, rows) =>
      val ids = rows.map(_.getAs[Long]("pack_id")).distinct.sorted
      assert(ids.head == b * 1000000L)
      assert(ids.toSeq == (ids.head to ids.last).toSeq)
    }
    // deterministic: a second run assigns identical pack ids
    val again = Sampling.packSequences(docs, "doc_id",
      length(col("text")), budget = 4000L, buckets = 4)
      .select("doc_id", "pack_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    packed.foreach(r => assert(
      again(r.getAs[Long]("doc_id")) == r.getAs[Long]("pack_id")))
    // mixture sampling: rates honored within tolerance and reproducible
    val kept = Sampling.sampleMix(docs, "doc_id", "lang",
      Seq("en" -> 0.5, "de" -> 0.0), defaultRate = 1.0).collect()
    assert(!kept.exists(_.getAs[String]("lang") == "de"))
    val enAll = docs.where(col("lang") === "en").count().toDouble
    val enKept = kept.count(_.getAs[String]("lang") == "en")
    assert(math.abs(enKept / enAll - 0.5) < 0.2)
    assert(kept.count(r => !Set("en", "de")(r.getAs[String]("lang"))) ==
      docs.where(!col("lang").isin("en", "de")).count())
  }

  test("capPerSource: two-phase skew-safe rank selects exactly the single-phase top-cap") {
    import graft.llm.Sampling
    import org.apache.spark.sql.expressions.Window
    // skewed fixture: one giant source, several small ones
    val docs = spark.range(2000).select(
      col("id").as("doc_id"),
      when(col("id") < 1500, "giant")
        .otherwise(concat(lit("s"), pmod(col("id"), lit(7)))).as("source"))
    val got = Sampling.capPerSource(docs, "source", "doc_id",
        cap = 20, salts = 8)
      .select("doc_id").collect().map(_.getLong(0)).sorted
    // reference: naive single-phase rank over the same md5 order
    val naive = docs
      .withColumn("rn", row_number().over(Window.partitionBy("source")
        .orderBy(md5(concat(col("source"), lit(":"),
          col("doc_id").cast("string"))), col("doc_id"))))
      .where(col("rn") <= 20)
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(got.sameElements(naive))
    // each source capped; the giant source contributes exactly 20
    val bySrc = Sampling.capPerSource(docs, "source", "doc_id", 20)
      .groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySrc("giant") == 20)
    assert(bySrc.values.forall(_ <= 20))
  }

  test("uniMaxCap: integer level-waterfill — largest T with sum min(c,T) <= budget") {
    import graft.llm.Sampling.uniMaxCap
    val counts = Seq("fr" -> 64L, "de" -> 70L, "es" -> 73L,
      "zh" -> 75L, "en" -> 218L)
    // 64+70+72+72+72 = 350 exactly; T=73 would give 353
    assert(uniMaxCap(counts, 350L) == 72L)
    // budget >= total: cap at the largest inventory, keep everything
    assert(uniMaxCap(counts, 10000L) >= 218L)
    // budget below the group count: uniform integer share
    assert(uniMaxCap(counts, 4L) == 0L)
    assert(uniMaxCap(counts, 5L) == 1L)
    assert(uniMaxCap(Nil, 100L) == 0L)
    // exhaustive cross-check against brute force on small instances —
    // compare the induced QUOTAS min(c, T): above saturation every
    // level yields the same membership, so the raw T may differ
    for (b <- 0L to 40L) {
      val cs = Seq("a" -> 3L, "b" -> 7L, "c" -> 12L, "d" -> 1L)
      def quotas(t: Long) = cs.map { case (_, c) => math.min(c, t) }
      val brute = (0L to 30L).filter(t => quotas(t).sum <= b).max
      assert(quotas(uniMaxCap(cs, b)) == quotas(brute), s"budget $b")
    }
  }

  test("uniMaxSample: budget consumed level-wise, small groups whole, big capped") {
    import graft.llm.Sampling
    val docs = sf("documents").select(col("doc_id"), col("lang"))
    val total = docs.count()
    val kept = Sampling.uniMaxSample(docs, "lang", "doc_id",
      budget = total / 2)
    val byLang = kept.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val inv = docs.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byLang.values.sum <= total / 2)
    val t = byLang.values.max // the level
    byLang.foreach { case (l, n) => assert(n == math.min(inv(l), t)) }
    // leftover strictly smaller than the group count
    assert(total / 2 - byLang.values.sum < byLang.size)
  }

  test("temperatureQuotas: isqrt weights, largest-remainder split sums to budget") {
    import graft.llm.Sampling.temperatureQuotas
    val counts = Seq("fr" -> 64L, "de" -> 70L, "es" -> 73L,
      "zh" -> 75L, "en" -> 218L)
    val q = temperatureQuotas(counts, 350L).toMap
    // quotas sum EXACTLY to the budget (largest-remainder apportionment)
    assert(q.values.sum == 350L)
    // isqrt weights: 8,8,8,8,14 — en dampened from 62% to 14/46 = 30%
    assert(q("en") == 350L * 14 / 46 || q("en") == 350L * 14 / 46 + 1)
    // equal-weight groups differ by at most the remainder doc
    val small = Seq("fr", "de", "es", "zh").map(q)
    assert(small.max - small.min <= 1)
    // edge cases: empty, zero budget, zero counts
    assert(temperatureQuotas(Nil, 100L).isEmpty)
    assert(temperatureQuotas(counts, 0L).map(_._2).sum == 0L)
    assert(temperatureQuotas(Seq("a" -> 0L, "b" -> 0L), 10L)
      .forall(_._2 == 0L))
    // isqrt correction survives perfect squares and off-by-ones
    for (c <- Seq(1L, 3L, 4L, 8L, 9L, 10L, 288L, 289L, 290L)) {
      val w = temperatureQuotas(Seq("x" -> c, "y" -> c), 2L).toMap
      assert(w("x") == 1L && w("y") == 1L, s"count $c")
    }
  }

  test("temperatureSample: per-group counts hit the quotas; membership is md5 top-quota") {
    import graft.llm.Sampling
    import org.apache.spark.sql.expressions.Window
    val docs = sf("documents").select(col("doc_id"), col("lang"))
    val inv = docs.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toSeq.sortBy(_._1)
    val quotas = Sampling.temperatureQuotas(inv, 350L).toMap
    val kept = Sampling.temperatureSample(docs, "lang", "doc_id", 350L)
    val byLang = kept.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    quotas.foreach { case (l, q) =>
      assert(byLang.getOrElse(l, 0L) ==
        math.min(q, inv.toMap.apply(l)), s"lang $l")
    }
    // membership equals the naive single-phase md5 rank
    val naive = docs
      .withColumn("rn", row_number().over(Window.partitionBy("lang")
        .orderBy(md5(concat(col("lang"), lit(":"),
          col("doc_id").cast("string"))), col("doc_id"))))
      .collect()
      .filter(r => r.getAs[Int]("rn") <=
        quotas(r.getAs[String]("lang")))
      .map(_.getAs[Long]("doc_id")).sorted
    val got = kept.select("doc_id").collect().map(_.getLong(0)).sorted
    assert(got.sameElements(naive))
  }

  test("rankBuckets: banded rank equals the global row_number; buckets are terciles") {
    import graft.llm.Selection
    import org.apache.spark.sql.expressions.Window
    val docs = sf("documents").select(col("doc_id"),
      col("n_chars").cast("double").as("s"))
    val got = Selection.rankBuckets(docs, col("s"), "doc_id",
        buckets = 3, shards = 8)
      .select("doc_id", "rank", "ppl_bucket").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val n = docs.count()
    val naive = docs.withColumn("rank",
        row_number().over(Window.orderBy(col("s").desc, col("doc_id")))
          .cast("long"))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("rank"))
      .toMap
    naive.foreach { case (id, rk) =>
      assert(got(id)._1 == rk, s"doc $id")
      assert(got(id)._2 == (rk - 1) * 3 / n + 1)
    }
    // shard-count invariance: boundaries don't change the output
    val one = Selection.rankBuckets(docs, col("s"), "doc_id", 3, shards = 1)
      .select("doc_id", "rank").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(one == naive)
  }

  test("prototypePrune: drops exactly the dropPerCluster closest per cluster") {
    val e = sf("embeddings")
    val cents = e.where(col("vec_id") < 4)
      .select(col("vec_id"),
        transform(col("embedding"), _.cast("double")).as("v"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray)
      .toSeq.sortBy(_._1)
    val assigned = Similarity.kmeansAssign(e, "vec_id", "embedding", cents)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val kept = Similarity.prototypePrune(e, "vec_id", "embedding", cents,
      dropPerCluster = 5).collect()
    // survivors carry their kmeansAssign cluster
    kept.foreach(r =>
      assert(assigned(r.getLong(0)) == r.getLong(1)))
    // per cluster: survivors = max(size - 5, 0)
    val sizes = assigned.values.groupBy(identity).map { case (c, v) => c -> v.size }
    val keptSizes = kept.groupBy(_.getLong(1)).map { case (c, v) => c -> v.size }
    sizes.foreach { case (c, sz) =>
      assert(keptSizes.getOrElse(c, 0) == math.max(sz - 5, 0), s"cluster $c")
    }
  }

  test("keywordSearch: rational-idf scoring, AND-filterable, stored tier identical") {
    import graft.llm.Search
    val docs = sf("documents")
    val terms = Seq("vector", "merge")
    val res = Search.keywordSearch(docs, "text", "doc_id", terms, k = 20)
      .collect()
    assert(res.nonEmpty && res.length <= 20)
    // scores descending with doc_id tie-break
    val scores = res.map(r => (r.getAs[Long]("score"), r.getAs[Long]("doc_id")))
    assert(scores.sameElements(scores.sortBy { case (s, id) => (-s, id) }))
    // n_hit bounded by the query size; a hand-computed score spot check
    assert(res.forall(_.getAs[Long]("n_hit") <= terms.size))
    val n = docs.count()
    val postings = Search.invertedIndex(docs, "text", "doc_id")
      .where(col("term").isin(terms: _*)).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    val dfByTerm = postings.keys.groupBy(_._1).map { case (t, v) => t -> v.size }
    val top = res.head
    val expected = terms.flatMap { tm =>
      postings.get(tm -> top.getAs[Long]("doc_id"))
        .map(_ * (n * 1000000L / dfByTerm(tm)))
    }.sum
    assert(top.getAs[Long]("score") == expected)
    // stored tier: byte-identical results
    val root = new java.io.File("/tmp/graft_kw_spec")
    def rm(f: java.io.File): Unit = if (f.exists) {
      if (f.isDirectory) f.listFiles.foreach(rm)
      f.delete(): Unit
    }
    rm(root)
    Search.keywordIndexStore(docs, "text", "doc_id", "graft_kw_spec",
      root.toString, buckets = 4)
    val stored = Search.keywordSearchStored(spark, "graft_kw_spec",
      terms, k = 20).collect()
    assert(stored.map(_.toSeq).toSeq == res.map(_.toSeq).toSeq)
  }

  test("filterBySourceQuality drops exactly the flagged domains' docs") {
    import graft.llm.TextAnalysis
    val docs = sf("documents").where(col("doc_id") < 2000)
    val stats = TextAnalysis.sourceQualityStats(docs, "text", "source",
      TextAnalysis.Markers.head._2)
    val droppedSrcs = stats.where(col("dropped"))
      .select("source").collect().map(_.getString(0)).toSet
    assert(droppedSrcs.nonEmpty && droppedSrcs.size < 20) // both classes
    val kept = TextAnalysis.filterBySourceQuality(docs, "text", "source",
      TextAnalysis.Markers.head._2)
    assert(!kept.select("source").distinct().collect()
      .map(_.getString(0)).exists(droppedSrcs))
    assert(kept.count() ==
      docs.where(!col("source").isin(droppedSrcs.toSeq: _*)).count())
  }

  test("l2Normalize: unit vectors out, zero vector quarantined as null") {
    import spark.implicits._
    import graft.llm.Similarity
    val df = Seq((1L, Seq(3.0f, 4.0f)), (2L, Seq(0.0f, 0.0f)))
      .toDF("id", "v")
      .select(col("id"), Similarity.l2Normalize(col("v")).as("u"))
    val rows = df.collect().sortBy(_.getLong(0))
    assert(rows(0).getSeq[Double](1) == Seq(0.6, 0.8))
    assert(rows(1).isNullAt(1))
  }

  test("stripBoilerplate: hot lines drop, order survives, fully-boilerplate docs come back empty") {
    import spark.implicits._
    import graft.llm.TextAnalysis
    val docs = Seq(
      (1L, "HEADER\nalpha\nFOOTER"),
      (2L, "HEADER\nbeta\ngamma\nFOOTER"),
      (3L, "HEADER\nFOOTER"),
      (4L, "HEADER\ndelta\nFOOTER")).toDF("doc_id", "text")
    val out = TextAnalysis.stripBoilerplate(docs, "text", "doc_id",
        maxDocFreq = 3, sep = "\n")
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(out(1L) == "alpha" && out(2L) == "beta\ngamma" &&
      out(3L) == "" && out(4L) == "delta")
  }

  test("cleanText: NFC composes decomposed accents, controls strip, whitespace collapses") {
    import spark.implicits._
    import graft.llm.TextAnalysis
    val dirty = "cafe\u0301   du\u0007monde\t x " // decomposed accent + BEL
    val out = Seq(dirty).toDF("t")
      .select(TextAnalysis.cleanText(col("t"))).head.getString(0)
    assert(out == "caf\u00e9 dumonde x") // BEL strips with no space
  }

  test("canonicalize: chain components need multiple rounds; singletons self-map") {
    import spark.implicits._
    // chain 1-2-3-4-5 (diameter 4), clique {10,11}, singleton 20
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (10L, 11L))
      .toDF("id_a", "id_b")
    val ids = Seq(1L, 2L, 3L, 4L, 5L, 10L, 11L, 20L).toDF("id")
    val out = Dedup.canonicalize(ids, pairs, "id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert((1L to 5L).forall(out(_) == 1L))
    assert(out(10L) == 10L && out(11L) == 10L && out(20L) == 20L)
    // the retention filter keeps exactly one doc per cluster
    val kept = Dedup.keepCanonical(ids, pairs, "id")
      .collect().map(_.getLong(0)).sorted
    assert(kept.toSeq == Seq(1L, 10L, 20L))
  }

  test("canonicalize: empty pair set converges — every id self-maps") {
    import spark.implicits._
    val ids = Seq(1L, 2L, 3L).toDF("id")
    val noPairs = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    val out = Dedup.canonicalize(ids, noPairs, "id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(out == Map(1L -> 1L, 2L -> 2L, 3L -> 3L))
    // and an entirely empty corpus returns an empty mapping, not a throw
    val empty = Seq.empty[Long].toDF("id")
    assert(Dedup.canonicalize(empty, noPairs, "id").count() == 0L)
    assert(Dedup.keepCanonical(ids, noPairs, "id").count() == 3L)
  }

  test("simhashExactDups: token-order-insensitive, content-sensitive") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the quick brown fox"),
      (2L, "fox brown quick the"),   // same token SET → dup of 1
      (3L, "the quick brown wolf"),  // one token differs → not a dup
      (4L, "the quick brown fox")    // identical → dup of 1 and 2
    ).toDF("doc_id", "text")
    val pairs = Dedup.simhashExactDups(docs, "text", "doc_id")
      .as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L), (1L, 4L), (2L, 4L)))
  }

  // ---- ANN: LSH recall vs brute force ----

  test("lshTopK recalls a usable fraction of brute-force neighbours") {
    import spark.implicits._
    val emb = sf("embeddings")
    val queries = emb.where(col("vec_id") < 20)
    val exact = Similarity.bruteForceTopK(emb, queries, k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val approx = Similarity.lshTopK(emb, queries, k = 5, planes = 4)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (exact intersect approx).size.toDouble / exact.size
    // 4 planes / 16 buckets over 500 vectors — same-bucket neighbours only.
    // Random-projection LSH at this density should keep a meaningful
    // fraction; exact threshold is data-dependent, we pin a floor.
    assert(recall >= 0.2, s"recall $recall")
    // approx results are always a subset of each query's bucket — sanity:
    assert(approx.nonEmpty)
  }

  // ---- Kafka Avro decode (S16) with avro core ----

  test("avro confluent-style decode roundtrip") {
    import spark.implicits._
    val schemaJson =
      """{"type":"record","name":"r","fields":[
        |{"name":"id","type":"long"},{"name":"name","type":["null","string"]}
        |]}""".stripMargin
    val schema = new org.apache.avro.Schema.Parser().parse(schemaJson)
    def enc(id: Long, name: String): Array[Byte] = {
      val rec = new org.apache.avro.generic.GenericData.Record(schema)
      rec.put("id", id)
      rec.put("name", name)
      val out = new java.io.ByteArrayOutputStream()
      val e = org.apache.avro.io.EncoderFactory.get().binaryEncoder(out, null)
      new org.apache.avro.generic.GenericDatumWriter[Any](schema).write(rec, e)
      e.flush(); out.toByteArray
    }
    val df = Seq(enc(1L, "a"), enc(2L, "b")).toDF("payload")
    val decoded = KafkaDecode.decodeAvroAsJson(spark, df, "payload", schemaJson)
      .collect().map(_.getString(0)).sorted
    assert(decoded.length == 2)
    assert(decoded(0).contains("\"id\": 1") && decoded(0).contains("a"))
  }

  test("registry decode: per-record schema id, union unwrap, decimal→double, JSON passthrough") {
    import spark.implicits._
    val avroSchema =
      """{"type":"record","name":"r","fields":[
        |{"name":"id","type":"long"},
        |{"name":"who","type":["null","string"],"default":null},
        |{"name":"amt","type":{"type":"bytes","logicalType":"decimal","precision":9,"scale":2}}
        |]}""".stripMargin
    val schema = new org.apache.avro.Schema.Parser().parse(avroSchema)
    def enc(id: Long, who: String, cents: Long): Array[Byte] = {
      val rec = new org.apache.avro.generic.GenericData.Record(schema)
      rec.put("id", id); rec.put("who", who)
      rec.put("amt", java.nio.ByteBuffer.wrap(
        java.math.BigInteger.valueOf(cents).toByteArray))
      val out = new java.io.ByteArrayOutputStream()
      val e = org.apache.avro.io.EncoderFactory.get().binaryEncoder(out, null)
      new org.apache.avro.generic.GenericDatumWriter[Any](schema).write(rec, e)
      e.flush(); out.toByteArray
    }
    val resolver = KafkaDecode.MapResolver(Map(
      1 -> KafkaDecode.RegisteredSchema(avroSchema), // no type → AVRO default
      2 -> KafkaDecode.RegisteredSchema("{}", "JSON")))
    val df = Seq(
      (1, enc(5L, null, 123L)),
      (1, enc(6L, "x", -45L)),
      (2, """{"id":7}""".getBytes("UTF-8"))).toDF("sid", "body")
    val out = KafkaDecode.decodeWithRegistry(spark, df, "sid", "body", resolver)
      .collect().map(r => (r.getInt(0), r.getString(1))).sortBy(_._2)
    assert(out.contains((1, """{"id":5,"who":null,"amt":1.23}""")))
    assert(out.contains((1, """{"id":6,"who":"x","amt":-0.45}""")))
    assert(out.contains((2, """{"id":7}""")))
    val unknown = intercept[org.apache.spark.SparkException] {
      KafkaDecode.decodeWithRegistry(spark,
        Seq((3, Array[Byte]())).toDF("sid", "body"), "sid", "body", resolver)
        .collect()
    }
    assert(unknown.getMessage.contains("schema id 3"))

    // the QUARANTINE variant must survive every failure mode the strict
    // decode throws on — registry miss, truncated body, unsupported
    // type — and carry raw bytes + the caller's provenance columns
    val mixed = Seq(
      (0, 10L, 1, enc(5L, null, 123L)),           // good AVRO
      (1, 11L, 2, """{"id":7}""".getBytes("UTF-8")), // good JSON
      (2, 12L, 3, Array[Byte](1, 2)),             // registry miss
      (3, 13L, 1, Array[Byte](0x02)),             // truncated AVRO
      (0, 14L, 4, Array[Byte](9)))                // unsupported type
      .toDF("part", "off", "sid", "body")
    val resolver2 = KafkaDecode.MapResolver(Map(
      1 -> KafkaDecode.RegisteredSchema(avroSchema),
      2 -> KafkaDecode.RegisteredSchema("{}", "JSON"),
      4 -> KafkaDecode.RegisteredSchema("{}", "PROTOBUF")))
    val q = KafkaDecode.decodeWithRegistryQuarantine(spark, mixed,
        "sid", "body", resolver2, metaCols = Seq("part", "off"))
      .collect().map(r => (r.getAs[Long]("off"),
        Option(r.getAs[String]("json")),
        Option(r.getAs[Array[Byte]]("raw")).map(_.length),
        Option(r.getAs[String]("error")))).sortBy(_._1)
    assert(q(0) == ((10L, Some("""{"id":5,"who":null,"amt":1.23}"""),
      None, None)))
    assert(q(1) == ((11L, Some("""{"id":7}"""), None, None)))
    assert(q(2)._2.isEmpty && q(2)._3.contains(2) &&
      q(2)._4.exists(_.contains("schema id 3")))
    assert(q(3)._2.isEmpty && q(3)._3.contains(1))   // raw byte kept
    assert(q(4)._2.isEmpty &&
      q(4)._4.exists(_.contains("unsupported schema type")))
  }

  test("HTTP registry resolver: Confluent wire surface, auth, caching, errors, executor-lazy decode") {
    import spark.implicits._
    val avroSchema =
      """{"type":"record","name":"r","fields":[{"name":"id","type":"long"}]}"""
    val schema = new org.apache.avro.Schema.Parser().parse(avroSchema)
    def enc(id: Long): Array[Byte] = {
      val rec = new org.apache.avro.generic.GenericData.Record(schema)
      rec.put("id", id)
      val out = new java.io.ByteArrayOutputStream()
      val e = org.apache.avro.io.EncoderFactory.get().binaryEncoder(out, null)
      new org.apache.avro.generic.GenericDatumWriter[Any](schema).write(rec, e)
      e.flush(); out.toByteArray
    }
    val srv = new KafkaDecode.SchemaRegistryServer(Map(
      1 -> KafkaDecode.RegisteredSchema(avroSchema),
      2 -> KafkaDecode.RegisteredSchema("{}", "JSON")),
      requireBearer = "tok")
    try {
      // wrong/missing auth → 401 surfaces as an error
      val anon = KafkaDecode.HttpResolver(srv.endpoint)
      val denied = intercept[java.io.IOException](anon.resolve(1))
      assert(denied.getMessage.contains("401"))
      val http = KafkaDecode.HttpResolver(srv.endpoint, bearerToken = "tok")
      assert(http.validate())
      // schemaType omitted on the wire → AVRO default (the Confluent
      // contract the reference encodes, schema_registry.go:74-76)
      assert(http.resolve(1).resolvedType == "AVRO")
      assert(http.resolve(2).resolvedType == "JSON")
      // unknown id → registry 404 propagated
      val nf = intercept[java.io.IOException](http.resolve(99))
      assert(nf.getMessage.contains("404"))
      // per-id cache: repeated resolves do not re-fetch
      val before = srv.hits.get()
      http.resolve(1); http.resolve(1)
      assert(srv.hits.get() == before)
      // the LAZY executor-side path: tasks fetch over live HTTP
      val df = Seq((1, enc(5L)), (1, enc(6L))).toDF("sid", "body")
      val out = KafkaDecode.decodeWithRegistry(spark, df, "sid", "body", http)
        .collect().map(_.getString(1)).sorted
      assert(out.toSeq == Seq("""{"id":5}""", """{"id":6}"""))
    } finally srv.close()
  }

  test("decontamination: n-gram overlap flags leaked docs, clean drops them, corpus never shuffled") {
    import spark.implicits._
    import graft.llm.Decontaminate
    val train = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "completely unrelated text about spark plans"),
      (3L, "a benchmark answer string appears verbatim here today")).toDF("doc_id", "text")
    val heldout = Seq(
      (100L, "the benchmark answer string appears verbatim in eval"),
      (101L, "quick brown fox jumps over everything")).toDF("doc_id", "text")
    val hits = Decontaminate.overlap(train, heldout, "text", "doc_id", n = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // doc 1 shares "quick brown fox jumps over" (1 gram); doc 3 shares
    // "benchmark answer string appears verbatim" (1 gram); doc 2 clean
    assert(hits == Map(1L -> 1L, 3L -> 1L))
    val cleaned = Decontaminate.clean(train, heldout, "text", "doc_id", n = 5)
    assert(cleaned.select("doc_id").collect().map(_.getLong(0)).toSeq == Seq(2L))
    // scale shape: the held-out side broadcasts into the train-side join
    val plan = Decontaminate.overlap(train, heldout, "text", "doc_id", n = 5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("exact-substring decontamination: verbatim leaks flagged, token-normalized ones not") {
    import spark.implicits._
    import graft.llm.Decontaminate
    val train = Seq(
      (1L, "prefix THE SECRET Answer: 42!? suffix"),       // verbatim
      (2L, "prefix the secret answer 42 suffix"),          // normalized — not verbatim
      (3L, "two leaks: THE SECRET Answer: 42!? and also pi=3.14159"),
      (4L, "nothing to see")).toDF("doc_id", "text")
    val secrets = Seq("THE SECRET Answer: 42!?", "pi=3.14159").toDF("s")
    val hits = Decontaminate.exactOverlap(train, secrets, "text", "doc_id", "s")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hits == Map(1L -> 1L, 3L -> 2L))
    val cleaned = Decontaminate.exactClean(train, secrets, "text", "doc_id", "s")
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(cleaned == Seq(2L, 4L))
    // scale shape: secrets broadcast; corpus side not shuffled
    val plan = Decontaminate.exactOverlap(train, secrets, "text", "doc_id", "s")
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("semantic decontamination: exact == LSH == brute force, clean drops flagged, corpus map-only") {
    import graft.llm.Decontaminate
    import graft.llm.Similarity.{dot, norm}
    val e = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val bench = e.where(col("vec_id") < 20)
    val corpus = e.where(col("vec_id") >= 20 && col("vec_id") < 220)
    def pairs(df: org.apache.spark.sql.DataFrame) = df
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(Decontaminate.embeddingOverlap(
      corpus, bench, "vec_id", "embedding", 0.35))
    // brute force re-derived independently with the same double math
    val brute = pairs(corpus.select(col("vec_id").as("id"),
        col("embedding").as("cv"), norm(col("embedding")).as("cn"))
      .crossJoin(bench.select(col("vec_id").as("bench_id"),
        col("embedding").as("bv"), norm(col("embedding")).as("bn")))
      .where(dot(col("cv"), col("bv")) / (col("cn") * col("bn")) >= 0.35)
      .select("id", "bench_id"))
    assert(exact == brute && exact.nonEmpty)
    // LSH tier: exact recall at the gate regime
    val lsh = pairs(Decontaminate.embeddingOverlapLsh(
      corpus, bench, "vec_id", "embedding", 0.35, native = true))
    assert(lsh == exact)
    // clean removes exactly the flagged ids
    val flagged = exact.map(_._1)
    val kept = Decontaminate.embeddingClean(
        corpus, bench, "vec_id", "embedding", 0.35)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(kept == pairs(corpus.select(col("vec_id"), col("vec_id")))
      .map(_._1) -- flagged)
    // scale shape: benchmark broadcast; no corpus-side hash exchange in
    // the exact tier (the only allowed exchange feeds the final select)
    val p = Decontaminate.embeddingOverlap(
      corpus, bench, "vec_id", "embedding", 0.35)
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("Broadcast"), p)
    assert(!p.contains("Exchange hashpartitioning"), p)
  }

  test("PCA: one-pass covariance matches the exact-integer statistics; eigen orthonormal; projection decorrelates") {
    import graft.llm.Similarity
    val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    // the scalable treeAggregate covariance vs a brute-force driver
    // recomputation on the collected fixture
    val (n, mean, cov) = Similarity.covariance(emb, "embedding")
    val local = emb.select("embedding").collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
    assert(n == local.length)
    val d = local.head.length
    val bMean = (0 until d).map(i => local.map(_(i)).sum / n)
    (0 until d).foreach(i => assert(math.abs(mean(i) - bMean(i)) < 1e-9))
    for (i <- 0 until 5; j <- 0 until 5) {
      val b = local.map(v => (v(i) - bMean(i)) * (v(j) - bMean(j))).sum /
        (n - 1)
      assert(math.abs(cov(i)(j) - b) < 1e-7, s"cov($i)($j)")
    }
    // Jacobi eigen: descending values, orthonormal rows, A·v = λ·v
    val (vals, vecs) = Similarity.jacobiEigen(cov)
    vals.sliding(2).foreach { case Array(a, b) => assert(a >= b - 1e-9)
    case _ => () }
    for (r <- 0 until 4; s2 <- r until 4) {
      val dp = (0 until d).map(k => vecs(r)(k) * vecs(s2)(k)).sum
      assert(math.abs(dp - (if (r == s2) 1.0 else 0.0)) < 1e-8,
        s"orthonormality ($r,$s2)")
    }
    for (r <- 0 until 3) {
      val av = (0 until d).map(i =>
        (0 until d).map(j => cov(i)(j) * vecs(r)(j)).sum)
      (0 until d).foreach(i =>
        assert(math.abs(av(i) - vals(r) * vecs(r)(i)) < 1e-7, s"Av=λv $r"))
    }
    // map-only projection: matches driver math on sample rows, and the
    // projected dims are decorrelated with variances = eigenvalues
    val (m2, pcs, evs) = Similarity.pcaFit(emb, "embedding", 4)
    val proj = emb.limit(50).select(col("vec_id"),
      Similarity.pcaProject(col("embedding"), m2, pcs).as("p"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    val byId = emb.limit(50).select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
    byId.take(5).foreach { case (id, v) =>
      val want = pcs.map(pc =>
        pc.zipWithIndex.map { case (w, i) => (v(i) - m2(i)) * w }.sum)
      proj(id).zip(want).foreach { case (a, b) =>
        assert(math.abs(a - b) < 1e-9) }
    }
    val projAll = emb.select(
      Similarity.pcaProject(col("embedding"), m2, pcs).as("p"))
      .collect().map(_.getSeq[Double](0).toArray)
    for (r <- 0 until 2) {
      val xs = projAll.map(_(r))
      val mu = xs.sum / xs.length
      val variance = xs.map(x => (x - mu) * (x - mu)).sum / (xs.length - 1)
      assert(math.abs(variance - evs(r)) / evs(r) < 1e-6, s"var=λ $r")
    }
    // whitening: every output component has unit variance
    val white = emb.select(
      Similarity.pcaWhiten(col("embedding"), m2, pcs, evs).as("w"))
      .collect().map(_.getSeq[Double](0).toArray)
    for (r <- 0 until 4) {
      val xs = white.map(_(r))
      val mu = xs.sum / xs.length
      val variance = xs.map(x => (x - mu) * (x - mu)).sum / (xs.length - 1)
      assert(math.abs(variance - 1.0) < 1e-6, s"whitened var $r = $variance")
    }
  }

  test("split assignment: deterministic, layout-independent, ~permille-accurate") {
    import spark.implicits._
    import graft.llm.TextAnalysis
    val ids = spark.range(100000).toDF("id")
    val split = ids.select(TextAnalysis.assignSplit(col("id")).as("s"))
      .groupBy("s").count().collect().map(r => r.getString(0) -> r.getLong(1))
      .toMap
    assert(math.abs(split("train") - 95000L) < 500, split.toString)
    assert(math.abs(split("validation") - 2500L) < 200, split.toString)
    assert(math.abs(split("test") - 2500L) < 200, split.toString)
    // layout-independent: identical labels after an arbitrary repartition
    val a = ids.select(col("id"), TextAnalysis.assignSplit(col("id")).as("s"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val b = ids.repartition(13).select(col("id"),
        TextAnalysis.assignSplit(col("id")).as("s"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(a == b)
  }

  test("PII scrubbing: emails, IPs, phones redacted; clean text untouched") {
    import spark.implicits._
    import graft.llm.TextAnalysis
    val rows = Seq(
      "mail a.b%c+d@sub.example.org here",
      "host 10.0.255.7 up",
      "ring +1 (415) 555-0199 or +4915123456789 now",
      "nothing sensitive in this line at all",
      "order 1234567890123456 shipped", // 16 digits: not a phone (E.164 max 15)
      "phone 5551234567.",
      // adjacent numbers split by ONE non-digit: the consumed trailing
      // boundary used to leave every other number unscrubbed (a PII
      // leak); the double-pass replace scrubs them all
      "1234567,7654321",
      "5550001,5550002,5550003,5550004 end")
      .toDF("t").select(TextAnalysis.scrubPii(col("t")).as("s"))
      .collect().map(_.getString(0))
    assert(rows(0) == "mail <EMAIL> here")
    assert(rows(1) == "host <IP> up")
    assert(rows(2) == "ring <PHONE> or <PHONE> now")
    assert(rows(3) == "nothing sensitive in this line at all")
    // digit-bounded: a >15-digit run survives whole, never piecewise
    assert(rows(4) == "order 1234567890123456 shipped")
    assert(rows(5) == "phone <PHONE>.")
    assert(rows(6) == "<PHONE>,<PHONE>")
    assert(rows(7) == "<PHONE>,<PHONE>,<PHONE>,<PHONE> end")
  }

  test("repetition signals: hand-computed fractions on a known doc") {
    import spark.implicits._
    import graft.llm.TextAnalysis
    // tokens: a b a b a  → 5 tokens, 2 distinct → dup_token_frac 0.6
    // bigrams: "a b","b a","a b","b a" → both occur twice → dup_gram_frac 1.0
    // top gram: count 2 × len 3 = 6 chars / 9 text chars = 0.666667
    val df = Seq((1L, "a b a b a"), (2L, "all words differ here")).toDF("doc_id", "text")
    val out = TextAnalysis.repetition(df, "text", "doc_id")
      .collect().map(r => r.getLong(0) ->
        (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    assert(out(1L) == ((0.6, 1.0, 0.666667)))
    // doc 2: all distinct; top bigram "words differ" = 12 chars / 21
    assert(out(2L) == ((0.0, 0.0, 0.571429)))
  }

  test("int8 quantization: dequant error ≤ scale/2 per element, constant vectors exact") {
    import spark.implicits._
    import graft.llm.Similarity
    val emb = Tables.load(spark, "/root/testdata/sf0.01", "embeddings")
      .where(col("vec_id") < 200)
    val q = Similarity.quantize(col("embedding"))
    val checked = emb.select(
      col("vec_id"), q.as("qs"),
      Similarity.dequantize(q).as("back"), col("embedding"))
      .select(col("vec_id"), col("qs.scale").as("scale"),
        aggregate(zip_with(col("embedding"), col("back"),
          (a, b) => abs(a.cast("double") - b.cast("double"))),
          lit(0.0), (acc, e) => greatest(acc, e)).as("max_err"))
      .collect()
    checked.foreach { r =>
      assert(r.getDouble(2) <= r.getDouble(1) / 2 + 1e-6,
        s"vec ${r.getLong(0)}: err ${r.getDouble(2)} vs scale ${r.getDouble(1)}")
    }
    // constant vector: scale 0, exact reconstruction
    val const = Seq((1L, Array(0.5f, 0.5f, 0.5f))).toDF("vec_id", "embedding")
    val cq = Similarity.quantize(col("embedding"))
    val back = const.select(Similarity.dequantize(cq).as("b")).head
      .getSeq[Float](0)
    assert(back.toSeq == Seq(0.5f, 0.5f, 0.5f))
    // storage really is int8
    assert(const.select(cq.getField("q")).schema.head.dataType ==
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.ByteType, containsNull = false) ||
      const.select(cq.getField("q")).schema.head.dataType.toString
        .contains("ByteType"))
  }

  // ---- Multimodal plumbing ----

  test("multimodal decode stub: deterministic features, stable schema") {
    val media = Multimodal.asMedia(sf("documents").limit(50), "doc_id", "text")
    val feats = Multimodal.decodeFeatures(spark, media, featureDim = 8)
    val rows = feats.collect()
    assert(rows.length == 50)
    assert(rows.forall(_.feature.length == 8))
    assert(rows.forall(r => r.checksum.length == 32 && r.n_bytes > 0))
    // determinism: same input → same features
    val again = Multimodal.decodeFeatures(spark, media, featureDim = 8)
      .collect().map(r => r.doc_id -> r.feature.toSeq).toMap
    assert(rows.forall(r => again(r.doc_id) == r.feature.toSeq))
  }

  test("real image decode: ImageIO dims + exact channel means over a non-uniform raster; resize resamples pixels") {
    import spark.implicits._
    // 4×2 image, left half red (255,0,0), right half blue (0,0,255):
    // means are exactly (127, 0, 127) under integer division
    val img = new java.awt.image.BufferedImage(4, 2,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 2; x <- 0 until 4)
      img.setRGB(x, y, if (x < 2) 0xff0000 else 0x0000ff)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val media = Seq(
      Multimodal.MediaRecord(1L, "image", bos.toByteArray, 4, 2)).toDF()
    val f = Multimodal.decodeFeatures(spark, media).head()
    assert(f.width == 4 && f.height == 2)
    assert(f.mean_r == 127 && f.mean_g == 0 && f.mean_b == 127)
    assert(f.feature(0) == 127 / 256.0f && f.feature(2) == 127 / 256.0f)
    // resize 4×2 → 2×1 nearest-neighbor keeps one red + one blue pixel,
    // and the output is a REAL PNG that decodes again
    val r = Multimodal.resize(spark, media, maxW = 2, maxH = 2).head()
    assert(r.width == 2 && r.height == 1)
    val back = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(r.payload))
    assert(back.getWidth == 2 && back.getHeight == 1)
    assert((back.getRGB(0, 0) & 0xffffff) == 0xff0000)
    assert((back.getRGB(1, 0) & 0xffffff) == 0x0000ff)
    // PNG fixture generator: decoded dims/color match the formulas
    val png = Multimodal.asPngMedia(
      Seq((42L, "x" * 100)).toDF("doc_id", "text"), "doc_id", "text")
    val pf = Multimodal.decodeFeatures(spark, png).head()
    assert(pf.width == 100 % 64 + 1 && pf.height == 100 % 48 + 1)
    assert(pf.mean_r == 42 && pf.mean_g == 42 * 7 % 256 && pf.mean_b == 42 * 13 % 256)
  }

  test("imageNearDup: banded pairs == brute-force hamming<=3; null hashes excluded") {
    import spark.implicits._
    val media = Multimodal.asPatternPngMedia(
      sf("documents").limit(120), "doc_id", "text")
    val hashes = Multimodal.aHash64(spark, media).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    def ham(a: String, b: String): Int =
      a.zip(b).count { case (x, y) => x != y }
    // brute-force reference over all pairs
    val ids = hashes.keys.toSeq.sorted
    val brute = (for {
      i <- ids; j <- ids if i < j
      h = ham(hashes(i), hashes(j)) if h <= 3
    } yield (i, j, h)).toSet
    val got = Multimodal.imageNearDup(spark, media, maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // pigeonhole completeness: 4 bands of 16 bits, hamming <= 3 pairs
    // must share a band — the banded join finds EVERY brute pair
    assert(got == brute, s"got ${got.size} vs brute ${brute.size}")
    // a non-decodable payload yields a NULL hash and never pairs
    val poisoned = media.union(Seq(
      Multimodal.MediaRecord(999999L, "image",
        Array[Byte](1, 2, 3), 0, 0)).toDF())
    val withBad = Multimodal.imageNearDup(spark, poisoned, maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(withBad == brute)
  }

  test("frame sampling shape: stride-4 over 64-byte frames") {
    val media = Multimodal.asMedia(sf("documents").limit(10), "doc_id", "text")
    val frames = Multimodal.sampleFrames(media)
    val counts = frames.groupBy("doc_id").count().collect()
    assert(counts.forall(_.getLong(1) >= 1))
  }

  test("distributed lexicographic walk: full coverage, bounded chunks, no overlap") {
    import graft.operators.ChunkPlanner
    val li = sf("lineitem")
    val pks = Seq("l_orderkey", "l_linenumber")
    val total = li.count()
    val chunkSize = 500L
    val chunks = ChunkPlanner.planLexicographic(li, pks, chunkSize)
    // coverage: the union of chunk scans is exactly the table
    assert(ChunkPlanner.scanLexicographic(li, pks, chunks).count() == total)
    // disjoint + bounded: per-chunk counts sum to the total (no
    // overlap) and the seam boundaries make every chunk ≤ chunkSize +
    // duplicate-key slack BY CONSTRUCTION — independent of the range
    // sampler's skew (the fixture's PK pairs are intentionally
    // non-unique, so each chunk END may take up to multiplicity−1
    // extra occurrences of its boundary key)
    val maxMult = li.groupBy(pks.map(col): _*).count()
      .agg(max("count")).head.getLong(0)
    val sizes = chunks.map(ch => li.where(ch.toColumn(pks)).count())
    assert(sizes.sum == total)
    assert(sizes.forall(_ <= chunkSize + 2 * (maxMult - 1)),
      s"chunk over bound: ${sizes.max} (maxMult=$maxMult)")
    assert(chunks.size >= (total / chunkSize).toInt)
    // boundaries strictly increase lexicographically
    val bs = chunks.flatMap(_.hi).map(_.values)
    import scala.math.Ordering.Implicits._
    assert(bs == bs.sorted && bs.distinct.size == bs.size)
  }

  test("BPE driver-local trainer ≡ the distributed round loop " +
       "(merges, counts, and tie-breaks)") {
    val docs = sf("documents")
    def train(): Seq[(Int, String, String, Long)] =
      graft.llm.TextAnalysis.bpeTrain(docs, "text", rounds = 6)
        .collect().toSeq
        .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    val local = train()                  // default threshold: local path
    spark.conf.set("spark.graft.bpe.localVocabRows", "0")
    try {
      val dist = train()                 // forced distributed rounds
      assert(local == dist, s"local=$local dist=$dist")
    } finally spark.conf.unset("spark.graft.bpe.localVocabRows")
  }

  test("native minhash ≡ the HOF form over the FULL documents corpus " +
       "(the proof the sampled q_minhash_native gate leans on)") {
    import spark.implicits._
    val docs = sf("documents").select(col("text"))
      .union(Seq("", " ", "one", "a b c d e f",
        "\t\nweird  spacing\r").toDF("text"))
    val native = call_function("graft_minhash", col("text"),
      lit(3), lit(64), lit(16))
    val hof = Dedup.sigWithBands(Dedup.shingles(col("text"), 3), 64, 16)
    assert(docs.where(not(native === hof)).count() == 0)
  }

  test("native simhash64 ≡ the HOF form over the FULL documents corpus " +
       "(the proof the sampled q_simhash_native gate leans on)") {
    import spark.implicits._
    val docs = sf("documents").select(col("text"))
      .union(Seq("", " ", "one", "a b c d e f",
        "\t\nweird  spacing\r").toDF("text"))
    assert(docs.where(not(call_function("graft_simhash64", col("text")) ===
      Dedup.simhash64(col("text")))).count() == 0)
  }

  test("native hyperplane codes ≡ the HOF form (incl. empty vector)") {
    import spark.implicits._
    val emb = sf("embeddings").where(col("vec_id") < 100)
      .select(col("embedding"))
      .union(Seq(Seq.empty[Float]).toDF("embedding"))
    val native = call_function("graft_hyperplane_codes",
      col("embedding"), lit(4), lit(6))
    val hof = array((0 until 6).map(t =>
      Similarity.lshCode(col("embedding"), 4, 64, seed = t)): _*)
    assert(emb.where(not(native === hof)).count() == 0)
    // double-typed input takes the other element accessor
    val dbl = sf("embeddings").where(col("vec_id") < 20)
      .select(col("embedding").cast("array<double>").as("embedding"))
    val nd = call_function("graft_hyperplane_codes",
      col("embedding"), lit(4), lit(3))
    val hd = array((0 until 3).map(t =>
      Similarity.lshCode(col("embedding"), 4, 64, seed = t)): _*)
    assert(dbl.where(not(nd === hd)).count() == 0)
  }

  test("resize survives an empty payload (emits zero-filled output)") {
    import spark.implicits._
    val media = Seq(
      Multimodal.MediaRecord(1L, "image", Array.emptyByteArray, 800, 600),
      Multimodal.MediaRecord(2L, "image", Array[Byte](1, 2, 3), 800, 600),
      Multimodal.MediaRecord(3L, "image", Array[Byte](7), 0, 0)).toDF()
    val out = Multimodal.resize(spark, media, maxW = 64, maxH = 64)
      .collect().map(r => r.doc_id -> r).toMap
    assert(out(1L).width == 64 && out(1L).height == 48)
    assert(out(1L).payload.length == 64 * 48 && out(1L).payload.forall(_ == 0))
    assert(out(2L).payload.length == 64 * 48 && out(2L).payload(0) == 1)
    // degenerate 0×0 source clamps to 1×1
    assert(out(3L).width == 1 && out(3L).height == 1)
  }

  test("semDedup keep set == NOT-EXISTS over exact cosine pairs") {
    val emb = Tables.load(spark, "/root/testdata/sf0.01", "embeddings")
      .where(col("vec_id") < 200)
    val pairs = Dedup.cosinePairs(emb, "vec_id", "embedding", 0.35)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val expectDrop = pairs.map(_._2).toSet
    val out = Dedup.semDedup(emb, "vec_id", "embedding", 0.35)
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(out.size == emb.count())
    assert(out.filterNot(_._2).keySet == expectDrop)
    assert(expectDrop.nonEmpty, "fixture has no near-dups at 0.35")
  }

  test("segmentDedup keeps first occurrences and rewrites later docs") {
    import spark.implicits._
    val ten = (1 to 10).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (1L, s"$ten alpha beta"),          // segs: [ten], [alpha beta]
      (2L, s"$ten gamma delta"),         // seg0 duplicates doc 1 → dropped
      (3L, s"alpha beta $ten")           // distinct segs (different windows)
    ).toDF("doc_id", "text")
    val out = Dedup.segmentDedup(docs, "text", "doc_id", segTokens = 10)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getInt(2), r.getInt(3)))).toMap
    assert(out(1L) == ((s"$ten alpha beta", 2, 0)))
    assert(out(2L) == (("gamma delta", 2, 1)))
    // doc 3's windows are "alpha beta w1..w8" and "w9 w10" — neither
    // string-equal to an earlier segment, so nothing is dropped
    assert(out(3L)._2 == 2 && out(3L)._3 == 0)
  }

  test("segmentDedup drops a fully-duplicated doc to empty text") {
    import spark.implicits._
    val docs = Seq((1L, "x y z"), (2L, "x y z")).toDF("doc_id", "text")
    val out = Dedup.segmentDedup(docs, "text", "doc_id", segTokens = 10)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getInt(3)))).toMap
    assert(out(1L) == (("x y z", 0)))
    assert(out(2L) == (("", 1)))
  }

  test("dedupSubstrings removes a shifted duplicated passage, keeps the first") {
    import spark.implicits._
    val run = (1 to 15).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (1L, s"$run tail1 tail2"),       // first occurrence — untouched
      (2L, s"lead1 lead2 $run fin"),   // passage at offset 2 — removed
      (3L, "short doc only")           // < minTokens — never enters
    ).toDF("doc_id", "text")
    val out = Dedup.dedupSubstrings(docs, "text", "doc_id", minTokens = 15)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getInt(2), r.getInt(3)))).toMap
    assert(out(1L) == ((s"$run tail1 tail2", 17, 0)))
    assert(out(2L) == (("lead1 lead2 fin", 18, 15)))
    assert(out(3L) == (("short doc only", 3, 0)))
  }

  test("dedupSubstrings overlapping windows coalesce through per-token coverage") {
    import spark.implicits._
    // doc 2 repeats doc 1's 16-token run: BOTH 15-token windows of the
    // run are duplicated; their spans overlap on tokens 1..14 and the
    // union removes all 16 tokens exactly once
    val run = (1 to 16).map(i => s"v$i").mkString(" ")
    val docs = Seq((1L, run), (2L, s"$run extra")).toDF("doc_id", "text")
    val out = Dedup.dedupSubstrings(docs, "text", "doc_id", minTokens = 15)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getInt(3)))).toMap
    assert(out(1L) == ((run, 0)))
    assert(out(2L) == (("extra", 16)))
  }

  test("dsirWeights: integer probability-ratio math, target slice scores higher") {
    import spark.implicits._
    // raw = {aa aa bb, cc cc dd}; target = first doc. Bucket counts are
    // per md5 prefix, but with 4 distinct tokens collisions are
    // astronomically unlikely to matter for the ORDERING assertion.
    val raw = Seq((1L, "aa aa bb"), (2L, "cc cc dd")).toDF("doc_id", "text")
    val target = raw.where(col("doc_id") === 1L)
    val out = graft.llm.Selection.dsirWeights(raw, target, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // target doc: each token's bucket has tc=rc → w = (tc*6*1e6)/(rc*3)
    //   = 2e6 per token → score 6e6; off-target doc: tc=0 → 0
    assert(out(1L) == ((3L, 6000000L)))
    assert(out(2L) == ((3L, 0L)))
  }

  test("property: selectUnderBudget equals the in-memory global cut on " +
       "seeded random corpora (ties included)") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    for (trial <- 1 to 3) {
      val n = 50 + rnd.nextInt(100)
      val rows = (1 to n).map(i => (i.toLong, 1L + rnd.nextInt(20)))
      val budget = rows.map(_._2).sum / (2 + rnd.nextInt(3))
      val want = rows.sortBy { case (id, tok) => (-tok, id) }
        .scanLeft((0L, 0L)) { case ((_, cum), (id, tok)) => (id, cum + tok) }
        .drop(1).takeWhile(_._2 <= budget).toSet
      val got = graft.llm.Selection.selectUnderBudget(
          rows.toDF("doc_id", "n_tok"), col("n_tok"), "doc_id",
          col("n_tok"), budget, shards = 1 + rnd.nextInt(6))
        .select("doc_id", "cum_tokens").as[(Long, Long)].collect().toSet
      assert(got == want, s"trial $trial n=$n budget=$budget")
    }
  }

  test("property: exactIncrementalStored equals the in-memory membership " +
       "map on seeded random corpora") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    for (trial <- 1 to 2) {
      val root = new java.io.File(s"/tmp/graft_ex_prop$trial")
      def rm(f: java.io.File): Unit = if (f.exists) {
        if (f.isDirectory) f.listFiles.foreach(rm)
        f.delete(): Unit
      }
      rm(root)
      val words = Vector("ant", "bee", "cat", "dog", "elk", "fox")
      def text() = Seq.fill(3 + rnd.nextInt(4))(
        words(rnd.nextInt(words.size))).mkString(" ")
      val corpus = (1 to 60).map(i => (i.toLong, text()))
      val batch = (101 to 140).map(i => (i.toLong, text()))
      val first = corpus.groupBy(_._2).map { case (t, rs) =>
        t -> rs.map(_._1).min }
      Dedup.exactIndexStore(corpus.toDF("doc_id", "text"), "text",
        "doc_id", s"graft_exp$trial", root.toString, slots = 4)
      val got = Dedup.exactIncrementalStored(batch.toDF("doc_id", "text"),
          "text", "doc_id", s"graft_exp$trial", slots = 4)
        .select("id", "dup_of").collect()
        .map(r => r.getLong(0) -> Option(r.get(1)).map(_.asInstanceOf[Long]))
        .toMap
      val want = batch.map { case (id, t) => id -> first.get(t) }.toMap
      assert(got == want, s"trial $trial")
    }
  }

  test("kmeansFit converges on a separable fixture; assignment ties break " +
       "to the lowest centroid id") {
    import spark.implicits._
    // two tight groups around (0,0) and (10,10); seeds = ids 1,2 start
    // both in the left group, the update pass must pull centroid 2 over
    val docs = Seq(
      (1L, Array(0f, 0f)), (2L, Array(1f, 1f)), (3L, Array(0f, 1f)),
      (10L, Array(10f, 10f)), (11L, Array(9f, 10f)), (12L, Array(10f, 9f))
    ).toDF("vec_id", "embedding")
    val (assigned, cents) = Similarity.kmeansFit(docs, "vec_id",
      "embedding", k = 2, iters = 3)
    val m = assigned.as[(Long, Long)].collect().toMap
    assert(Set(m(1L), m(2L), m(3L)).size == 1)
    assert(Set(m(10L), m(11L), m(12L)).size == 1)
    assert(m(1L) != m(10L))
    val byId = cents.toMap
    // converged centroids are the exact group means (sums are exact in
    // binary floating point for these values)
    val left = byId(m(1L)); val right = byId(m(10L))
    assert(left.toSeq == Seq(1.0 / 3, 2.0 / 3))
    assert(right.toSeq == Seq(29.0 / 3, 29.0 / 3))
    // equidistant point ties to the LOWEST centroid id
    val tied = Similarity.kmeansAssign(
      Seq((7L, Array(5f, 5f))).toDF("vec_id", "embedding"),
      "vec_id", "embedding",
      Seq(0L -> Array(0.0, 0.0), 1L -> Array(10.0, 10.0)))
    assert(tied.as[(Long, Long)].head() == ((7L, 0L)))
  }

  test("selectUnderBudget equals the global running-total cut for any shard " +
       "count; boundary doc excluded") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val docs = Seq((1L, 100L), (2L, 900L), (3L, 500L), (4L, 500L),
      (5L, 250L), (6L, 900L), (7L, 10L)).toDF("doc_id", "n_tok")
    // ground truth: one global window (fine at 7 rows)
    val g = Window.orderBy(col("n_tok").desc, col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val want = docs.withColumn("cum", sum("n_tok").over(g))
      .where(col("cum") <= 2000L)
      .select("doc_id", "cum").as[(Long, Long)].collect().toSet
    // order: 2(900)→900, 6(900)→1800, 3(500)→2300 excluded...
    assert(want == Set((2L, 900L), (6L, 1800L)))
    for (shards <- Seq(1, 3, 5))
      assert(graft.llm.Selection.selectUnderBudget(docs, col("n_tok"),
          "doc_id", col("n_tok"), budget = 2000L, shards = shards)
        .select("doc_id", "cum_tokens").as[(Long, Long)].collect().toSet
        == want, s"shards=$shards")
  }

  test("exactIncrementalStored: hits map to stored min-id, misses NULL, " +
       "bloom positives cover every true hit") {
    import spark.implicits._
    val root = new java.io.File("/tmp/graft_ex_spec")
    def rm(f: java.io.File): Unit = if (f.exists) {
      if (f.isDirectory) f.listFiles.foreach(rm)
      f.delete(): Unit
    }
    rm(root)
    // corpus has a duplicated text (ids 1,4) — the store must keep min(id)=1
    val corpus = Seq((1L, "the quick brown fox"), (2L, "jumps over"),
      (3L, "lazy dog"), (4L, "the quick brown fox")).toDF("doc_id", "text")
    Dedup.exactIndexStore(corpus, "text", "doc_id", "graft_ex_spec",
      root.toString, slots = 4)
    val batch = Seq((10L, "jumps over"), (11L, "brand new content"),
      (12L, "the quick brown fox")).toDF("doc_id", "text")
    val (positives, result) = Dedup.exactStoredProbe(batch, "text",
      "doc_id", "graft_ex_spec", slots = 4)
    val out = result.collect()
      .map(r => r.getLong(0) -> Option(r.get(2)).map(_.asInstanceOf[Long]))
      .toMap
    assert(out == Map(10L -> Some(2L), 11L -> None, 12L -> Some(1L)))
    // no false negatives: every true hit is bloom-positive
    val pos = positives.select("id").as[Long].collect().toSet
    assert(Set(10L, 12L).subsetOf(pos))
  }

  test("winnowing: detection guarantee holds, density ~2/(w+1), short docs emit nothing") {
    import graft.llm.TextAnalysis
    import spark.implicits._
    val k = 4; val w = 5
    val shared = (1 to 10).map(i => s"shared$i").mkString(" ") // >= w+k-1 = 8 tokens
    val docs = Seq(
      (1L, s"alpha beta gamma delta $shared one two three"),
      (2L, s"x1 y2 $shared z9 q8 r7 s6"),
      (3L, "too short")) // < k tokens → no fingerprints
      .toDF("doc_id", "text")
    val out = TextAnalysis.winnowFingerprints(docs, "doc_id", "text", k, w)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    // the guarantee: a shared run of length >= w+k-1 yields a shared hash
    val fps1 = out.filter(_._1 == 1L).map(_._3).toSet
    val fps2 = out.filter(_._1 == 2L).map(_._3).toSet
    assert((fps1 & fps2).nonEmpty, "shared run produced no shared fingerprint")
    assert(!out.exists(_._1 == 3L))
    // density: selected per doc ≲ windows, ≥ ceil(m / w) (each window
    // selects one, a selection can cover at most w windows)
    val doc1 = docs.where($"doc_id" === 1L).select($"text").head.getString(0)
    val n = doc1.split("\\s+").length - k + 1
    val m = math.max(1, n - w + 1)
    val sel1 = out.count(_._1 == 1L)
    assert(sel1 >= (m + w - 1) / w && sel1 <= m)
    // positions are valid gram indexes and hashes match their position
    assert(out.forall { case (_, pos, _) => pos >= 0 })
  }

  test("kafka balancer: inactive partitions skipped, round-robin matches the reference's doc table") {
    import graft.sources.BoundedRead
    import spark.implicits._
    val parts = Seq(
      ("a", 0L, 5L), ("a", 1L, 3L), ("a", 2L, 0L), // a/2 inactive
      ("b", 0L, 9L), ("b", 1L, 1L), ("b", 2L, 2L),
      ("b", 3L, 0L), ("c", 0L, 4L))                // b/3 inactive
      .toDF("topic", "part_id", "msg_count")
    // 6 active partitions / 3 members → 2,2,2 (balancer.go doc table)
    val m3 = BoundedRead.assignActivePartitions(parts, members = 3)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(3)))
    assert(m3.length === 6)
    assert(!m3.exists(p => (p._1, p._2) == ("a", 2L) ||
      (p._1, p._2) == ("b", 3L)))
    assert(m3.groupBy(_._3).view.mapValues(_.length).toMap ===
      Map(0 -> 2, 1 -> 2, 2 -> 2))
    // deal order is (topic, part_id): a0→0, a1→1, b0→2, b1→0, b2→1, c0→2
    assert(m3.map(p => (p._1, p._2) -> p._3).toMap === Map(
      ("a", 0L) -> 0, ("a", 1L) -> 1, ("b", 0L) -> 2,
      ("b", 1L) -> 0, ("b", 2L) -> 1, ("c", 0L) -> 2))
    // 6 active / 4 members → 2,2,1,1
    val m4 = BoundedRead.assignActivePartitions(parts, members = 4)
      .collect().map(_.getInt(3))
    assert(m4.groupBy(identity).view.mapValues(_.length).toMap ===
      Map(0 -> 2, 1 -> 2, 2 -> 1, 3 -> 1))
  }

  test("knnLabel: separable clusters label correctly; vote ties break to the smallest label") {
    import graft.llm.Similarity
    import spark.implicits._
    // two well-separated directions; labels 1 and 2
    val labeled = Seq(
      (10L, Array(1f, 0f, 0.1f), 1), (11L, Array(1f, 0.1f, 0f), 1),
      (12L, Array(0.9f, 0f, 0f), 1),
      (20L, Array(0f, 1f, 0.1f), 2), (21L, Array(0.1f, 1f, 0f), 2),
      (22L, Array(0f, 0.9f, 0f), 2)).toDF("vec_id", "embedding", "label")
    val queries = Seq(
      (1L, Array(1f, 0.05f, 0f)),   // x-direction → label 1
      (2L, Array(0.05f, 1f, 0f)),   // y-direction → label 2
      (3L, Array(1f, 1f, 0f)))      // equidistant → 2-2 among k=4 → tie → 1
      .toDF("vec_id", "embedding")
    val out = Similarity.knnLabel(labeled, queries, k = 4)
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2))).toMap
    assert(out(1L)._1 === 1 && out(2L)._1 === 2)
    assert(out(3L) === ((1, 2))) // tie at 2 votes each, smallest label wins
  }

  test("gopherRules: each rule trips on its crafted violator and only that rule") {
    import graft.llm.TextAnalysis
    import spark.implicits._
    val good = (1 to 8).map(_ => "the quick brown fox jumps over a lazy dog " +
      "and runs far to find food in every field for fun").mkString(" ")
    val docs = Seq(
      (1L, good),                                            // keeps
      (2L, "too short for the corpus and its rules"),        // r_words
      (3L, good + " " + (1 to 20).map(_ => "#").mkString(" ")), // r_symbol
      (4L, (1 to 60).map(i => s"- bullet $i").mkString("\n")), // r_bullet
      (5L, good.split(" ").grouped(6).map(_.mkString(" ") + " ...")
        .mkString("\n")),                                    // r_ellipsis
      (6L, (1 to 30).map(_ => "the 123 456 789").mkString(" ")), // r_alpha
      (7L, (1 to 60).map(i => s"w$i xyz").mkString(" ")),    // r_stop (w1 has a letter)
      (8L, (1 to 60).map(_ => "incomprehensibilities").mkString(" "))) // r_mean_len
      .toDF("doc_id", "text")
    val out = TextAnalysis.gopherRules(docs, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getAs[Boolean]("keep"))
    def failsOnly(id: Long, rule: String): Unit = {
      val r = out(id)
      assert(!r.getAs[Boolean]("keep"), s"doc $id kept")
      assert(!r.getAs[Boolean](rule), s"doc $id passed $rule")
    }
    failsOnly(2L, "r_words")
    failsOnly(3L, "r_symbol")
    failsOnly(4L, "r_bullet")
    failsOnly(5L, "r_ellipsis")
    failsOnly(6L, "r_alpha")
    failsOnly(7L, "r_stop")
    failsOnly(8L, "r_mean_len")
  }

  test("chunkDocs: count formula, full coverage, exact overlap, short docs intact") {
    import graft.llm.TextAnalysis
    import spark.implicits._
    val doc = (1 to 150).map(i => s"w$i").mkString(" ")
    val df = Seq((1L, doc), (2L, "just three tokens"), (3L, "")).toDF("doc_id", "text")
    val out = TextAnalysis.chunkDocs(df, "doc_id", "text",
      window = 64, stride = 48).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getInt(3)))
    val d1 = out.filter(_._1 == 1L).sortBy(_._2)
    // 150 tokens → 1 + ceil((150-64)/48) = 3 chunks
    assert(d1.length === 3)
    assert(d1.map(_._4).toSeq === Seq(64, 64, 54))
    // chunk k starts at token k*48+1
    assert(d1(0)._3.startsWith("w1 ") && d1(1)._3.startsWith("w49 ") &&
      d1(2)._3.startsWith("w97 "))
    // the 16-token overlap: chunk 0's tail == chunk 1's head
    assert(d1(0)._3.split(" ").drop(48).toSeq ===
      d1(1)._3.split(" ").take(16).toSeq)
    // every token covered in order
    assert(d1.flatMap(_._3.split(" ")).distinct.length === 150)
    // short doc: one chunk, unchanged
    val d2 = out.filter(_._1 == 2L)
    assert(d2.length === 1 && d2(0)._3 === "just three tokens" &&
      d2(0)._4 === 3)
    assert(out.count(_._1 == 3L) === 1) // empty text still yields a row
  }

  // ---- profiler HLL tier: from-scratch register sketch ----

  /** JVM reference of the md5-register derivation (independent of the
    * Column-DSL path under test). */
  private def refHll(values: Seq[String]): Map[Int, Int] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    values.foldLeft(Map.empty[Int, Int]) { (regs, v) =>
      val hx = md.digest(v.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      val reg = Integer.parseInt(hx.take(2), 16)
      val frag = BigInt(hx.slice(2, 15), 16)
      // leading zeros of the 52-bit frag, +1 (all-zero frag → 53)
      val rank = if (frag == 0) 53 else 52 - frag.toString(2).length + 1
      regs.updated(reg, math.max(regs.getOrElse(reg, 0), rank))
    }
  }

  test("hllRegisters matches an independent JVM md5 reference; merge law holds") {
    import graft.sources.Discover
    val docs = sf("documents")
    val got = Discover.hllRegisters(docs, Seq("doc_id")).collect()
      .map(r => r.getInt(1) -> r.getInt(2)).toMap
    val ids = docs.select(col("doc_id").cast("string"))
      .na.drop().collect().map(_.getString(0)).toSeq
    assert(got === refHll(ids))
    // mergeability — union of halves == element-wise register max —
    // is what lets a sync fold new batches into a persisted sketch
    // without rescanning history
    val (a, b) = (docs.where(col("doc_id") % 2 === 0),
      docs.where(col("doc_id") % 2 =!= 0))
    def regsOf(df: DataFrame) =
      Discover.hllRegisters(df, Seq("doc_id")).collect()
        .map(r => r.getInt(1) -> r.getInt(2)).toMap
    val merged = (regsOf(a).toSeq ++ regsOf(b).toSeq)
      .groupMapReduce(_._1)(_._2)(math.max)
    assert(merged === got)
  }

  test("hllEstimate: within 10% of truth on every column, exact agreement with fixed-point formula") {
    import graft.sources.Discover
    val docs = sf("documents")
    val cols = Seq("doc_id", "lang", "source")
    val est = Discover.hllEstimate(Discover.hllRegisters(docs, cols))
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    for (c <- cols) {
      val truth = docs.select(col(c)).na.drop().distinct().count()
      val e = est(c)
      assert(math.abs(e - truth) <= math.max(1L, truth / 10),
        s"$c: estimate $e vs truth $truth")
    }
    // replay the fixed-point + linear-counting math on the reference
    // registers — pins the estimate independent of the Column DSL
    val ids = docs.select(col("doc_id").cast("string"))
      .na.drop().collect().map(_.getString(0)).toSeq
    val regs = refHll(ids)
    val rmax = regs.values.max
    val denom = regs.values.map(r => BigInt(1) << (rmax - r)).sum +
      BigInt(256 - regs.size) * (BigInt(1) << rmax)
    val raw = (BigInt("470727126712022335488") * (BigInt(1) << rmax) /
      (denom * BigInt(10).pow(16))).toLong
    val zeros = 256 - regs.size
    val expected = if (raw <= 640 && zeros > 0)
      math.round(256.0 * math.log(256.0 / zeros)) else raw
    assert(est("doc_id") === expected)
  }

  // ---- BPE training loop ----

  /** JVM reference BPE trainer (sequence-of-symbols form, independent
    * of the string-replace representation under test). */
  private def refBpe(words: Map[String, Long],
                     rounds: Int): Seq[(Int, String, String, Long)] = {
    var vocab = words.toSeq.map { case (w, f) =>
      (w.map(_.toString).toVector, f) }
    val out = Seq.newBuilder[(Int, String, String, Long)]
    for (r <- 1 to rounds) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      for ((syms, f) <- vocab; i <- 0 until syms.length - 1) {
        val k = (syms(i), syms(i + 1))
        counts(k) = counts.getOrElse(k, 0L) + f
      }
      val ((a, b), c) = counts.toSeq.minBy { case ((x, y), n) =>
        (-n, x + "\u0001" + y) }
      out += ((r, a, b, c))
      vocab = vocab.map { case (syms, f) =>
        val merged = Vector.newBuilder[String]
        var i = 0
        while (i < syms.length) {
          if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
            merged += (a + b); i += 2
          } else { merged += syms(i); i += 1 }
        }
        (merged.result(), f)
      }
    }
    out.result()
  }

  test("bpeTrain matches a symbol-sequence JVM reference; trained vocab folds back to the words") {
    import graft.llm.TextAnalysis
    val d = sf("documents")
    val got = TextAnalysis.bpeTrain(d, "text", rounds = 8).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
      .toSeq
    val words = d.select(explode(TextAnalysis.tokens(col("text"))).as("w"))
      .groupBy("w").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === refBpe(words, 8))
    // merges actually merge: every learned pair's halves concatenate to
    // a symbol that appears in the trained vocab spellings
    val vocab = TextAnalysis.bpeTrainedVocab(d, "text", rounds = 8)
      .collect().map(r => r.getString(0) -> r.getLong(1))
    val syms = vocab.flatMap(_._1.split(" ")).toSet
    val firstMerge = got.head._2 + got.head._3
    assert(syms.exists(_.contains(firstMerge)))
    // removing the separators reconstructs exactly the corpus vocabulary
    assert(vocab.map { case (s, f) => s.replace(" ", "") -> f }.toMap
      === words)
    // and symbols shrink monotonically vs the raw character count
    val rawSyms = words.keysIterator.map(_.length.toLong).sum
    val trainedSyms = vocab.map(_._1.split(" ").length.toLong).sum
    assert(trainedSyms < rawSyms)
  }

  // ---- in-engine classifier training (batch perceptron) ----

  /** JVM reference of hashed-BoW batch-perceptron training, independent
    * of the Column-DSL path under test. */
  private def refPerceptron(docs: Seq[(String, Int)], dim: Int,
                            epochs: Int): Array[Long] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    def buck(tok: String): Int = {
      val hx = md.digest(tok.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      Integer.parseInt(hx.take(4), 16) % dim
    }
    def toks(t: String): Seq[Int] = t.toLowerCase
      .replaceAll("\\s+", " ").trim.split(" ", -1).toSeq.map(buck)
    var w = Array.fill(dim)(0L)
    val avg = Array.fill(dim)(0L)
    for (_ <- 1 to epochs) {
      val upd = Array.fill(dim)(0L)
      for ((t, y) <- docs) {
        val bs = toks(t)
        if (y * bs.map(w(_)).sum <= 0) bs.foreach(b => upd(b) += y)
      }
      w = w.zip(upd).map { case (a, b) => a + b }
      for (i <- 0 until dim) avg(i) += w(i)
    }
    avg
  }

  test("perceptronFit matches an independent JVM reference on the corpus") {
    import graft.llm.Classifier
    // the synthetic corpus gives every language the SAME 31-word
    // vocabulary, so this label carries no signal — which makes it the
    // determinism check (training must still be bit-reproducible);
    // learnability is proven on the marker fixture below
    val d = sf("documents").withColumn("y",
      when(col("lang") === "en", 1).otherwise(-1))
    val got = Classifier.perceptronFit(d, "text", "y", dim = 1024,
      epochs = 2)
    val docs = d.select("text", "y").collect()
      .map(r => r.getString(0) -> r.getInt(1)).toSeq
    assert(got.toSeq === refPerceptron(docs, 1024, 2).toSeq)
  }

  test("perceptron learns a separable concept: marker vocabularies classify perfectly") {
    import spark.implicits._
    import graft.llm.Classifier
    // two classes sharing filler words but with disjoint markers —
    // the averaged model must recover the markers and classify 100%
    val filler = "the data table row value"
    val docs = (0 until 200).map { i =>
      if (i % 2 == 0) (i.toLong, s"$filler alpha beta gamma item $i", 1)
      else (i.toLong, s"$filler delta epsilon zeta item $i", -1)
    }.toDF("id", "text", "y")
    val w = Classifier.perceptronFit(docs, "text", "y", dim = 1024,
      epochs = 3)
    val applied = Classifier.perceptronApply(docs, "id", "text", "y",
      w.toSeq)
    assert(applied.where(!col("correct")).count() === 0L)
    // and the averaged model is what makes that stable: per-epoch
    // weights oscillate with class imbalance, the sum keeps markers
    val skewed = (0 until 300).map { i =>
      if (i % 3 == 0) (i.toLong, s"$filler alpha beta gamma item $i", 1)
      else (i.toLong, s"$filler delta epsilon zeta item $i", -1)
    }.toDF("id", "text", "y")
    val w2 = Classifier.perceptronFit(skewed, "text", "y", 1024, 3)
    val acc2 = Classifier.perceptronApply(skewed, "id", "text", "y",
      w2.toSeq)
    assert(acc2.where(!col("correct")).count() === 0L)
  }

  test("thresholdCurve: confusion counts verified against brute force at every threshold") {
    import graft.llm.Classifier
    val d = sf("documents").withColumn("y",
      when(col("lang") === "en", 1).otherwise(-1))
    val w = Classifier.perceptronFit(d, "text", "y", 1024, 2)
    val applied = Classifier.perceptronApply(d, "doc_id", "text", "y",
      w.toSeq)
    val rows = applied.select("score", "y").collect()
      .map(r => (r.getLong(0), r.getInt(1)))
    val curve = Classifier.thresholdCurve(applied).collect()
    assert(curve.nonEmpty)
    for (c <- curve) {
      val t = c.getLong(0)
      val tp = rows.count { case (s, y) => s >= t && y == 1 }
      val fp = rows.count { case (s, y) => s >= t && y == -1 }
      val fn = rows.count { case (s, y) => s < t && y == 1 }
      assert((c.getLong(1), c.getLong(2), c.getLong(3)) === ((tp, fp, fn)),
        s"threshold $t")
      assert(c.getDouble(4) === 2.0 * tp / (2 * tp + fp + fn))
    }
  }

  // ---- C4 line-level cleaning rules ----

  test("c4Rules: line filter (terminal punct, ≥5 words, no javascript) and page rules") {
    import spark.implicits._
    import graft.llm.TextAnalysis
    val docs = Seq(
      (1L, "the quick brown fox jumps high.\nshort one.\n" +
        "does this javascript line vanish entirely?\n" +
        "a second proper sentence right here!\nand one more to reach three?"),
      (2L, "lorem ipsum dolor sit amet.\nthe quick brown fox jumps high.\n" +
        "a second proper sentence right here!\nand one more to reach three?"),
      (3L, "config block { nested } here.\nthe quick brown fox jumps high.\n" +
        "a second proper sentence right here!\nand one more to reach three?"),
      (4L, "no terminal punctuation on this line\n" +
        "the quick brown fox jumps high.\nonly two sentences survive here!"),
      (5L, "he said \"this line truly ends well.\"\n" +
        "the quick brown fox jumps high.\na third one for good measure.")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.c4Rules(docs, "doc_id", "text").collect()
      .map(r => r.getLong(0) ->
        (r.getInt(1), r.getInt(2), r.getInt(3), r.getBoolean(4), r.getString(5)))
      .toMap
    // doc 1: short + javascript lines drop; 3 good lines stay → kept
    assert(out(1L)._2 === 3 && out(1L)._4,
      s"doc1: ${out(1L)}")
    assert(!out(1L)._5.contains("javascript") && !out(1L)._5.contains("short one"))
    // doc 2: lorem ipsum kills the page even though its lines pass
    assert(out(2L)._2 === 4 && !out(2L)._4)
    // doc 3: the brace kills the page
    assert(!out(3L)._4)
    // doc 4: only 2 sentences remain → dropped by the ≥3 rule
    assert(out(4L)._2 === 2 && out(4L)._3 === 2 && !out(4L)._4)
    // doc 5: a line ending in a double quote counts as terminal
    assert(out(5L)._2 === 3 && out(5L)._4)
  }

  // ---- profiler Count-Min tier ----

  /** JVM reference of the md5 bucket derivation. */
  private def refCms(values: Seq[String], d: Int = 4,
                     w: Int = 1024): Map[(Int, Int), Long] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val cells = scala.collection.mutable.Map.empty[(Int, Int), Long]
    for (v <- values; r <- 0 until d) {
      val hx = md.digest(s"$r:$v".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      val b = (java.lang.Long.parseLong(hx.take(8), 16) % w).toInt
      cells((r, b)) = cells.getOrElse((r, b), 0L) + 1
    }
    cells.toMap
  }

  test("cmsSketch matches an independent JVM md5 reference; cells merge by sum") {
    import graft.sources.Discover
    val ev = sf("events")
    def cellsOf(df: DataFrame) =
      Discover.cmsSketch(df, "user_id").collect()
        .map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    val got = cellsOf(ev)
    val vals = ev.select(col("user_id").cast("string")).na.drop()
      .collect().map(_.getString(0)).toSeq
    assert(got === refCms(vals))
    // mergeability: sketch(a) + sketch(b) cell-wise == sketch(a ∪ b),
    // which is what lets incremental syncs fold batches into a stored
    // sketch without rescanning history
    val (a, b) = (ev.where(col("event_id") % 2 === 0),
      ev.where(col("event_id") % 2 =!= 0))
    val merged = (cellsOf(a).toSeq ++ cellsOf(b).toSeq)
      .groupMapReduce(_._1)(_._2)(_ + _)
    assert(merged === got)
  }

  test("heavyHitters equals the exact top-k (sketch filter has no false negatives)") {
    import graft.sources.Discover
    val ev = sf("events")
    val got = Discover.heavyHitters(ev, "user_id", k = 15, fracDen = 100)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
    val n = ev.where(col("user_id").isNotNull).count()
    val thr = math.max(1L, n / 100)
    val want = ev.where(col("user_id").isNotNull)
      .groupBy(col("user_id").cast("string").as("v")).count()
      .where(col("count") >= thr)
      .collect().map(r => r.getString(0) -> r.getLong(1))
      .sortBy { case (v, c) => (-c, v) }.take(15).toSeq
    assert(got === want)
  }

  test("quantileSample: deterministic, and quantiles equal the exact tier on the same subset") {
    import graft.sources.Discover
    val ev = sf("events")
    val s1 = Discover.quantileSample(ev, "event_id", Seq("value"),
      Seq(0.25, 0.5, 0.75), bar = 64).collect().toSeq
    val s2 = Discover.quantileSample(ev, "event_id", Seq("value"),
      Seq(0.25, 0.5, 0.75), bar = 64).collect().toSeq
    assert(s1 === s2) // pure hash predicate — no RNG, reruns identical
    // sample rate lands near bar/256 of the rows
    val kept = ev.where(conv(substring(md5(concat(col("event_id")
        .cast("string"), lit(":qs"))), 1, 2), 16, 10).cast("int") < 64)
    val (nk, nn) = (kept.count().toDouble, ev.count().toDouble)
    assert(math.abs(nk / nn - 0.25) < 0.05, s"sample rate ${nk / nn}")
    val exact = Discover.profileQuantiles(kept, Seq("value"),
      Seq(0.25, 0.5, 0.75)).collect().toSeq
    assert(s1.toSet === exact.toSet)
  }

  test("profileDrift: identical snapshots report zero drift; injected drift is itemized") {
    import graft.sources.Discover
    val ev = sf("events").select("user_id", "event_type")
    val same = Discover.profileDrift(Discover.profileFrame(ev),
      Discover.profileFrame(ev)).collect()
    assert(same.length === 2)
    for (r <- same) {
      assert(!r.getBoolean(1) && r.getLong(2) === 0L &&
        r.getLong(3) === 0L && !r.getBoolean(4) && !r.getBoolean(5),
        s"phantom drift: $r")
    }
    // inject: drop the max user_id and null out some event_types
    val maxId = sf("events").agg(max("user_id")).collect()(0).getLong(0)
    val cur = sf("events")
      .where(col("user_id") =!= maxId || col("user_id").isNull)
      .select(col("user_id"),
        when(col("event_id") % 7 === 0, lit(null).cast("string"))
          .otherwise(col("event_type")).as("event_type"))
    val drift = Discover.profileDrift(
        Discover.profileFrame(sf("events").select("user_id", "event_type")),
        Discover.profileFrame(cur))
      .collect().map(r => r.getString(0) -> r).toMap
    assert(drift("user_id").getLong(3) === -1L)     // one distinct gone
    assert(drift("user_id").getBoolean(5))           // max moved
    assert(drift("event_type").getLong(2) > 0L)      // nulls appeared
    assert(!drift("event_type").getBoolean(4))       // min intact
  }

  test("profileSketch: nulls/bounds match the exact profile, HLL distincts within 10%") {
    import graft.sources.Discover
    def byCol(df: DataFrame) = df.collect()
      .map(r => r.getString(0) -> r).toMap
    val exact = byCol(Discover.profile(spark, "/root/testdata/sf0.001", "documents"))
    val sketch = byCol(Discover.profileSketch(spark, "/root/testdata/sf0.001", "documents"))
    assert(sketch.keySet === exact.keySet)
    for ((c, e) <- exact) {
      val s = sketch(c)
      assert(s.getLong(2) === e.getLong(2), s"$c nulls") // n_nulls
      assert(s.getString(4) === e.getString(4) &&
             s.getString(5) === e.getString(5), s"$c bounds")
      val (truth, est) = (e.getLong(3), s.getLong(3))
      assert(math.abs(est - truth) <= math.max(1L, truth / 10),
        s"$c: sketch $est vs exact $truth")
    }
  }

  test("mmrRerank: pure relevance at λ=100, diversity bites below it, " +
    "a corpus-sized candidate set refuses") {
    import org.apache.spark.sql.functions._
    import graft.llm.Similarity
    // two identical max-relevance vectors + one orthogonal slightly-
    // less-relevant one (64-dim so the integer dot term is material
    // against the rel·100000 scale): λ=100 keeps both twins; λ=50
    // must demote the redundant twin below the orthogonal vector
    val twin = Seq.fill(64)(1.0f)
    val orth = (0 until 64).map(i => if (i % 2 == 0) 1.0f else -1.0f)
    val cand = spark.createDataFrame(Seq(
      (0L, 100L, twin),
      (1L, 100L, twin),
      (2L, 98L, orth)
    )).toDF("vec_id", "rel", "embedding")
    def picks(lambda: Int) = Similarity
      .mmrRerank(cand, k = 3, lambdaPct = lambda)
      .orderBy("mmr_rank").collect().map(_.getLong(0)).toSeq
    assert(picks(100) == Seq(0L, 1L, 2L))
    assert(picks(50) == Seq(0L, 2L, 1L),
      "λ=50 must pick the orthogonal vector over the redundant twin")
    // rerank, not a scan: an unbounded candidate set refuses
    val big = spark.range(5000).select(col("id").as("vec_id"),
      lit(1L).as("rel"), array(lit(1.0f)).as("embedding"))
    val ex = intercept[IllegalArgumentException] {
      Similarity.mmrRerank(big, k = 3)
    }
    assert(ex.getMessage.contains("bounded top-N"))
  }
}
