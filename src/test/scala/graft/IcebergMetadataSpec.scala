package graft

import java.io.File
import java.nio.file.Files

import org.apache.avro.file.DataFileReader
import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession

import graft.sinks.{DeltaSegments, IcebergMetadata}

/** The Iceberg v2 metadata tree (K2): structural assertions against the
  * public table spec — metadata.json fields, manifest-list and manifest
  * Avro with the spec's field-ids, sequence-number chaining across
  * commits, and the reader walk from version-hint down to data files. */
class IcebergMetadataSpec extends AnyFunSuite with BeforeAndAfterAll
    with SparkJobCounting {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def avroSchemaOf(f: File): org.apache.avro.Schema = {
    val r = new DataFileReader(f, new GenericDatumReader[GenericRecord]())
    try r.getSchema finally r.close()
  }

  test("commit writes a connected v2 tree: metadata.json, manifest list, manifest, data files") {
    val tmp = Files.createTempDirectory("graft_ice").toString
    val base = s"$tmp/data"
    Tables.load(spark, "/root/testdata/sf0.001", "nation").write.parquet(base)
    val c1 = IcebergMetadata.commit(spark, tmp, base, operation = "append",
      summary = Map("olake_2pc" -> """{"stream":"nation","lsn":42}"""))
    assert(c1.version == 1 && c1.sequenceNumber == 1 && c1.addedRows == 25)

    val (v, meta) = IcebergMetadata.currentMetadata(tmp).get
    assert(v == 1)
    assert(meta.get("format-version").asInt == 2)
    assert(meta.get("last-sequence-number").asLong == 1)
    assert(meta.get("current-snapshot-id").asLong == c1.snapshotId)
    assert(meta.get("refs").get("main").get("snapshot-id").asLong == c1.snapshotId)
    assert(meta.get("refs").get("main").get("type").asText == "branch")
    // fresh field ids 1..3 on nation's three columns
    val fields = meta.get("schemas").get(0).get("fields")
    assert(fields.size == 3)
    assert((0 until 3).map(i => fields.get(i).get("id").asInt) == Seq(1, 2, 3))
    assert(meta.get("last-column-id").asInt == 3)
    // snapshot summary carries the 2PC state like the reference's
    // olake_2pc table property (iceberg.go:521-545)
    val snap = meta.get("snapshots").get(0)
    assert(snap.get("summary").get("operation").asText == "append")
    assert(snap.get("summary").get("olake_2pc").asText.contains("\"lsn\":42"))
    assert(snap.get("sequence-number").asLong == 1)

    // manifest list: spec field-ids and counts
    val listFile = new File(snap.get("manifest-list").asText)
    assert(listFile.getName.startsWith(s"snap-${c1.snapshotId}-1-"))
    val listSchema = avroSchemaOf(listFile)
    assert(listSchema.getName == "manifest_file")
    assert(listSchema.getField("manifest_path").getObjectProp("field-id") == 500)
    assert(listSchema.getField("added_snapshot_id").getObjectProp("field-id") == 503)
    assert(listSchema.getField("sequence_number").getObjectProp("field-id") == 515)
    val listRows = {
      val r = new DataFileReader(listFile, new GenericDatumReader[GenericRecord]())
      try { import scala.jdk.CollectionConverters._; r.iterator().asScala.toList }
      finally r.close()
    }
    assert(listRows.length == 1)
    assert(listRows.head.get("added_rows_count") == 25L)
    assert(listRows.head.get("content") == 0)

    // manifest: entry schema field-ids, real on-disk length recorded
    val manifestFile = new File(listRows.head.get("manifest_path").toString)
    assert(listRows.head.get("manifest_length") == manifestFile.length())
    val entrySchema = avroSchemaOf(manifestFile)
    assert(entrySchema.getName == "manifest_entry")
    assert(entrySchema.getField("status").getObjectProp("field-id") == 0)
    val dataFileSchema = entrySchema.getField("data_file").schema()
    assert(entrySchema.getField("data_file").getObjectProp("field-id") == 2)
    assert(dataFileSchema.getField("file_path").getObjectProp("field-id") == 100)
    assert(dataFileSchema.getField("record_count").getObjectProp("field-id") == 103)

    // the reader walk: version-hint → … → data files, rows intact
    val files = IcebergMetadata.dataFilePaths(tmp)
    assert(files.nonEmpty && files.forall(_.endsWith(".parquet")))
    assert(spark.read.parquet(files: _*).count() == 25)
  }

  test("spec cross-vectors: COMPLETE field-id tables, manifest metadata keys, Appendix D bound bytes") {
    // The official iceberg-spark-runtime cannot enter this sandbox (no
    // jar on disk, zero egress — SCALING.md r11), so the external-reader
    // trust chain is pinned here instead: (1) the COMPLETE field-id
    // tables transcribed from the published table spec (§Manifest Lists,
    // §Manifests) — both directions, so an extra or missing field fails;
    // (2) the Avro file metadata keys a reader dispatches on; (3) the
    // Appendix D single-value byte encodings recomputed independently in
    // this test and compared with the bytes on disk. The Avro container
    // layer itself is written by the canonical org.apache.avro library.
    val tmp = Files.createTempDirectory("graft_icevec").toString
    val base = s"$tmp/data"
    Tables.load(spark, "/root/testdata/sf0.001", "nation").write.parquet(base)
    IcebergMetadata.commit(spark, tmp, base)
    val (_, meta) = IcebergMetadata.currentMetadata(tmp).get
    val listFile = new File(
      meta.get("snapshots").get(0).get("manifest-list").asText)

    // ---- §Manifest Lists: manifest_file, all 14 fields ----
    val listIds = Map(
      "manifest_path" -> 500, "manifest_length" -> 501,
      "partition_spec_id" -> 502, "content" -> 517,
      "sequence_number" -> 515, "min_sequence_number" -> 516,
      "added_snapshot_id" -> 503, "added_files_count" -> 504,
      "existing_files_count" -> 505, "deleted_files_count" -> 506,
      "added_rows_count" -> 512, "existing_rows_count" -> 513,
      "deleted_rows_count" -> 514, "partitions" -> 507)
    val listSchema = avroSchemaOf(listFile)
    import scala.jdk.CollectionConverters._
    assert(listSchema.getFields.asScala.map(_.name).toSet == listIds.keySet)
    for ((f, id) <- listIds)
      assert(listSchema.getField(f).getObjectProp("field-id") == id, f)
    // field_summary: element-id 508, fields 509/518/510/511
    val partsF = listSchema.getField("partitions")
    val arr = partsF.schema().getTypes.get(1)
    assert(arr.getObjectProp("element-id") == 508)
    val fsIds = Map("contains_null" -> 509, "contains_nan" -> 518,
      "lower_bound" -> 510, "upper_bound" -> 511)
    val fs = arr.getElementType
    assert(fs.getFields.asScala.map(_.name).toSet == fsIds.keySet)
    for ((f, id) <- fsIds)
      assert(fs.getField(f).getObjectProp("field-id") == id, f)

    // ---- §Manifests: manifest_entry + data_file ----
    val listRows = {
      val r = new DataFileReader(listFile,
        new GenericDatumReader[GenericRecord]())
      try r.iterator().asScala.toList finally r.close()
    }
    val manifestFile = new File(listRows.head.get("manifest_path").toString)
    val entrySchema = avroSchemaOf(manifestFile)
    val entryIds = Map("status" -> 0, "snapshot_id" -> 1,
      "sequence_number" -> 3, "file_sequence_number" -> 4, "data_file" -> 2)
    assert(entrySchema.getFields.asScala.map(_.name).toSet == entryIds.keySet)
    for ((f, id) <- entryIds)
      assert(entrySchema.getField(f).getObjectProp("field-id") == id, f)
    val dfS = entrySchema.getField("data_file").schema()
    val dataFileIds = Map("content" -> 134, "file_path" -> 100,
      "file_format" -> 101, "partition" -> 102, "record_count" -> 103,
      "file_size_in_bytes" -> 104, "column_sizes" -> 108,
      "value_counts" -> 109, "null_value_counts" -> 110,
      "lower_bounds" -> 125, "upper_bounds" -> 128, "equality_ids" -> 135)
    assert(dfS.getFields.asScala.map(_.name).toSet == dataFileIds.keySet)
    for ((f, id) <- dataFileIds)
      assert(dfS.getField(f).getObjectProp("field-id") == id, f)
    // nested map key/value ids (spec: column_sizes k117/v118, value_counts
    // k119/v120, null_value_counts k121/v122, lower k126/v127, upper
    // k129/v130; equality_ids element 136)
    def kvIds(field: String): (Any, Any) = {
      val it = dfS.getField(field).schema().getTypes.get(1).getElementType
      (it.getField("key").getObjectProp("field-id"),
        it.getField("value").getObjectProp("field-id"))
    }
    assert(kvIds("column_sizes") == ((117, 118)))
    assert(kvIds("value_counts") == ((119, 120)))
    assert(kvIds("null_value_counts") == ((121, 122)))
    assert(kvIds("lower_bounds") == ((126, 127)))
    assert(kvIds("upper_bounds") == ((129, 130)))
    assert(dfS.getField("equality_ids").schema().getTypes.get(1)
      .getObjectProp("element-id") == 136)

    // ---- manifest file metadata keys a reader dispatches on ----
    val mr = new DataFileReader(manifestFile,
      new GenericDatumReader[GenericRecord]())
    val (mMeta, entries) =
      try ((Seq("schema", "partition-spec", "partition-spec-id",
          "format-version", "content")
          .map(k => k -> Option(mr.getMetaString(k))).toMap),
        mr.iterator().asScala.toList)
      finally mr.close()
    assert(mMeta("format-version").contains("2"))
    assert(mMeta("content").contains("data"))
    assert(mMeta("partition-spec").contains("[]"))
    assert(mMeta("partition-spec-id").contains("0"))
    assert(mMeta("schema").exists(_.contains("\"type\":\"struct\"")))

    // ---- Appendix D: bound bytes on disk vs independent re-encoding.
    // nation: n_nationkey int32 (field 1) min 0 max 24; n_name string
    // (field 2) min "NATION_0" max "NATION_9" (lexicographic over the
    // synthetic names) — int = 4-byte little endian, string = raw
    // UTF-8 ----
    def boundMap(e: GenericRecord, field: String): Map[Int, Array[Byte]] = {
      val a = e.get("data_file").asInstanceOf[GenericRecord].get(field)
      if (a == null) Map.empty
      else a.asInstanceOf[java.util.Collection[GenericRecord]].asScala.map {
        kv =>
          val bb = kv.get("value").asInstanceOf[java.nio.ByteBuffer]
          val b = new Array[Byte](bb.remaining()); bb.duplicate().get(b)
          kv.get("key").asInstanceOf[Int] -> b
      }.toMap
    }
    def leInt(i: Int): Array[Byte] = Array(
      (i & 0xff).toByte, ((i >> 8) & 0xff).toByte,
      ((i >> 16) & 0xff).toByte, ((i >> 24) & 0xff).toByte)
    // single data file expected for 25 rows, so entry 0's bounds ARE the
    // table bounds
    assert(entries.size == 1)
    val e0lo = boundMap(entries.head, "lower_bounds")
    val e0hi = boundMap(entries.head, "upper_bounds")
    assert(e0lo(1).toSeq == leInt(0).toSeq, "n_nationkey lower")
    assert(e0hi(1).toSeq == leInt(24).toSeq, "n_nationkey upper")
    assert(new String(e0lo(2), "UTF-8") == "NATION_0", "n_name lower")
    assert(new String(e0hi(2), "UTF-8") == "NATION_9", "n_name upper")
    assert(e0lo(3).toSeq == leInt(0).toSeq, "n_regionkey lower")
    assert(e0hi(3).toSeq == leInt(4).toSeq, "n_regionkey upper")
  }

  test("second commit chains: version 2, sequence 2, parent snapshot, history kept") {
    val tmp = Files.createTempDirectory("graft_ice2").toString
    val base = s"$tmp/data"
    Tables.load(spark, "/root/testdata/sf0.001", "region").write.parquet(base)
    val c1 = IcebergMetadata.commit(spark, tmp, base)
    val c2 = IcebergMetadata.commit(spark, tmp, base, operation = "overwrite",
      summary = Map("olake_2pc" -> """{"lsn":99}"""))
    assert(c2.version == 2 && c2.sequenceNumber == 2)
    val (v, meta) = IcebergMetadata.currentMetadata(tmp).get
    assert(v == 2)
    assert(meta.get("current-snapshot-id").asLong == c2.snapshotId)
    assert(meta.get("snapshots").size == 2)
    val snap2 = meta.get("snapshots").get(1)
    assert(snap2.get("parent-snapshot-id").asLong == c1.snapshotId)
    assert(snap2.get("summary").get("operation").asText == "overwrite")
    assert(meta.get("snapshot-log").size == 2)
    // v1 metadata still on disk (time travel), hint points at v2
    assert(new File(s"$tmp/metadata/v1.metadata.json").exists)
    assert(Files.readString(
      java.nio.file.Paths.get(s"$tmp/metadata/version-hint.text")).trim == "2")
  }

  test("schemaJson: nested types get unique fresh ids; spark→iceberg type names") {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("tags", ArrayType(StringType)),
      StructField("meta", StructType(Seq(
        StructField("k", StringType), StructField("v", DoubleType)))),
      StructField("ts", TimestampType)))
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(IcebergMetadata.schemaJson(schema))
    val top = json.get("fields")
    assert(top.get(0).get("required").asBoolean)
    assert(top.get(0).get("type").asText == "long")
    assert(top.get(1).get("type").get("type").asText == "list")
    assert(top.get(3).get("type").asText == "timestamptz")
    // every assigned id distinct
    val ids = scala.collection.mutable.ArrayBuffer.empty[Int]
    def collect(n: com.fasterxml.jackson.databind.JsonNode): Unit = {
      if (n.has("id")) ids += n.get("id").asInt
      if (n.has("element-id")) ids += n.get("element-id").asInt
      n.forEach(collect)
    }
    collect(json)
    assert(ids.distinct.length == ids.length)
  }

  test("publishMoR: eq-delete manifests replay to the DeltaSegments view; 2PC state round-trips") {
    import org.apache.spark.sql.functions._
    import graft.operators.SystemColumns.{OlakeId, OpType, CdcTimestamp}
    val table = Files.createTempDirectory("graft_morpub").toString
    val ice = Files.createTempDirectory("graft_morice").toString
    spark.range(100).select(
      col("id").cast("string").as(OlakeId), col("id").as("v"))
      .write.parquet(s"$table/base")
    def change(ids: Range, op: String, vOff: Long = 0, pfx: String = "") =
      spark.range(ids.start, ids.end).select(
        concat(lit(pfx), col("id")).as(OlakeId), (col("id") + vOff).as("v"),
        lit(op).as(OpType), current_timestamp().as(CdcTimestamp),
        col("id").as("lsn"))
    // batch 1: update 0-9, delete 90-99, insert n100-n104
    DeltaSegments.writeSegment(
      change(0 until 10, "u", vOff = 1000)
        .unionByName(change(90 until 100, "d"))
        .unionByName(change(100 until 105, "c", pfx = "n")), table, 1L)
    // batch 2: re-update key 0, delete the fresh n100, insert n200
    DeltaSegments.writeSegment(
      change(0 until 1, "u", vOff = 5000)
        .unionByName(change(100 until 101, "d", pfx = "n"))
        .unionByName(change(200 until 201, "c", pfx = "n")), table, 2L)

    val c = IcebergMetadata.publishMoR(spark, ice, table,
      summary = Map("olake_2pc" -> """{"stream":"t","lsn":77}"""))
    assert(c.sequenceNumber == 3) // base=1, batch1=2, batch2=3

    // the manifest replay must equal the sink's own merged view
    def snap(df: org.apache.spark.sql.DataFrame) = df
      .select(OlakeId, "v").collect()
      .map(r => (r.getString(0), r.getLong(1))).sortBy(_._1).toSeq
    val expect = snap(DeltaSegments.read(spark, table))
    val got = snap(IcebergMetadata.readMoR(spark, ice))
    assert(got == expect)
    assert(got.size == 100 - 10 + 5 - 1 + 1) // 95 live keys
    assert(got.toMap.apply("0") == 5000L)    // batch-2 update won

    // structural: one data + one delete manifest; delete entries carry
    // content=2 and equality_ids pointing at the key column
    val (dataFiles, delFiles) = IcebergMetadata.manifestEntries(ice)
    assert(dataFiles.map(_._2).distinct.sorted == Seq(1L, 2L, 3L))
    assert(delFiles.nonEmpty && delFiles.map(_._2).distinct.sorted == Seq(2L, 3L))
    val (_, meta) = IcebergMetadata.currentMetadata(ice).get
    val snapNode = meta.get("snapshots").get(meta.get("snapshots").size - 1)
    val listRows = {
      val r = new DataFileReader(new File(snapNode.get("manifest-list").asText),
        new GenericDatumReader[GenericRecord]())
      try { import scala.jdk.CollectionConverters._; r.iterator().asScala.toList }
      finally r.close()
    }
    assert(listRows.map(_.get("content")).toSet == Set(0, 1))
    val delManifest = listRows.find(_.get("content") == 1).get
    val delEntries = {
      val r = new DataFileReader(
        new File(delManifest.get("manifest_path").toString),
        new GenericDatumReader[GenericRecord]())
      try { import scala.jdk.CollectionConverters._; r.iterator().asScala.toList }
      finally r.close()
    }
    val dataFileRec = delEntries.head.get("data_file")
      .asInstanceOf[GenericRecord]
    assert(dataFileRec.get("content") == 2)
    assert(dataFileRec.get("equality_ids") != null)

    // the reference's restart path: 2PC state read back from the summary
    assert(IcebergMetadata.commitState(ice)
      .contains("""{"stream":"t","lsn":77}"""))
  }

  test("intra-batch dupes publish as positional deletes: n-1 occurrences die, the last written survives") {
    import org.apache.spark.sql.functions._
    import graft.operators.SystemColumns.{OlakeId, OpType, CdcTimestamp}
    val table = Files.createTempDirectory("graft_morpos").toString
    val ice = Files.createTempDirectory("graft_morposice").toString
    spark.range(5).select(
      col("id").cast("string").as(OlakeId), col("id").as("v"))
      .write.parquet(s"$table/base")
    // a segment that was NOT pre-deduped: key "1" occurs three times
    // (v=101,102,103 in write order), key "2" twice (201 then a delete)
    import spark.implicits._
    val seg = Seq(
      ("1", 101L, "u", 1L), ("1", 102L, "u", 2L), ("1", 103L, "u", 3L),
      ("2", 201L, "u", 4L), ("2", -1L, "d", 5L),
      ("7", 700L, "c", 6L))
      .toDF(OlakeId, "v", OpType, "ord")
      .withColumn(CdcTimestamp, current_timestamp())
      .coalesce(1).sortWithinPartitions("ord").drop("ord")
    DeltaSegments.writeSegment(seg, table, 1L)
    val c = IcebergMetadata.publishMoR(spark, ice, table)

    // the delete manifest carries BOTH flavors: content=1 positional
    // (file_path/pos coordinates) and content=2 equality entries
    val (_, delFiles) = IcebergMetadata.manifestEntries(ice)
    assert(delFiles.exists(_._3 == 1), "positional-delete entry missing")
    assert(delFiles.exists(_._3 == 2), "equality-delete entry missing")
    val posRows = spark.read.parquet(
        delFiles.collect { case (p, _, 1) => p }: _*)
      .collect()
    // n−1 logic for "1" (2 earlier occurrences) + "2"'s lone data row
    // (its last in-batch occurrence is the tombstone) = 3
    assert(posRows.length == 3)
    assert(posRows.forall(r => r.schema.fieldNames.toSeq ==
      Seq("file_path", "pos")))

    // replay: "1" keeps its LAST occurrence, "2" died to the in-batch
    // delete, "7" inserted, base keys 0,3,4 untouched
    val got = IcebergMetadata.readMoR(spark, ice)
      .select(OlakeId, "v").collect()
      .map(r => (r.getString(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(got == Seq("0" -> 0L, "1" -> 103L, "3" -> 3L, "4" -> 4L,
      "7" -> 700L))
  }

  test("schema evolution: existing columns keep their field ids, new columns extend, schema history accrues") {
    import org.apache.spark.sql.functions._
    import graft.operators.SystemColumns.{OlakeId, OpType, CdcTimestamp}
    val table = Files.createTempDirectory("graft_evo").toString
    val ice = Files.createTempDirectory("graft_evoice").toString
    spark.range(10).select(
      col("id").cast("string").as(OlakeId), col("id").as("v"))
      .write.parquet(s"$table/base")
    def seg(extra: Boolean, ids: Range, batch: Long): Unit = {
      val base = spark.range(ids.start, ids.end).select(
        col("id").cast("string").as(OlakeId), (col("id") + 100).as("v"),
        lit("u").as(OpType), current_timestamp().as(CdcTimestamp))
      DeltaSegments.writeSegment(
        if (extra) base.withColumn("note", concat(lit("n"), col(OlakeId)))
        else base, table, batch)
    }
    seg(extra = false, 0 until 2, 1L)
    IcebergMetadata.publishMoR(spark, ice, table)
    val (_, m1) = IcebergMetadata.currentMetadata(ice).get
    import scala.jdk.CollectionConverters._
    val s1 = m1.get("schemas").get(0)
    val ids1 = s1.get("fields").elements.asScala
      .map(f => f.get("name").asText -> f.get("id").asInt).toMap
    val lastCol1 = m1.get("last-column-id").asInt

    // a mid-stream ALTER adds `note`: the view schema gains a column
    seg(extra = true, 2 until 4, 2L)
    IcebergMetadata.publishMoR(spark, ice, table)
    val (_, m2) = IcebergMetadata.currentMetadata(ice).get
    assert(m2.get("schemas").size == 2, "evolved schema must append")
    assert(m2.get("current-schema-id").asInt == 1)
    val s2 = m2.get("schemas").get(1)
    val ids2 = s2.get("fields").elements.asScala
      .map(f => f.get("name").asText -> f.get("id").asInt).toMap
    // stability: every pre-existing column keeps its EXACT field id
    ids1.foreach { case (n, id) => assert(ids2(n) == id, s"column $n moved") }
    // the new column takes a fresh id above the old last-column-id
    assert(ids2("note") > lastCol1)
    assert(m2.get("last-column-id").asInt >= ids2("note"))

    // an unchanged re-publish appends NO new schema entry
    seg(extra = true, 4 until 5, 3L)
    IcebergMetadata.publishMoR(spark, ice, table)
    val (_, m3) = IcebergMetadata.currentMetadata(ice).get
    assert(m3.get("schemas").size == 2)
    assert(m3.get("current-schema-id").asInt == 1)

    // the merged view still replays: old rows read `note` as null
    val got = IcebergMetadata.readMoR(spark, ice)
      .select(OlakeId, "note").collect()
      .map(r => (r.getString(0), Option(r.getString(1)))).toMap
    assert(got("2") == Some("n2") && got("4") == Some("n4"))
    assert(got("7") == None) // untouched base row: evolved column null
  }

  test("removeOrphans: grace window protects young files; 0-age sweeps " +
       "strays and emptied dirs, referenced files survive") {
    import org.apache.spark.sql.functions._
    import graft.operators.SystemColumns.OlakeId
    val table = Files.createTempDirectory("graft_orph_t").toString
    val ice = Files.createTempDirectory("graft_orph_i").toString
    spark.range(20).select(
        col("id").cast("string").as(OlakeId), col("id").as("v"))
      .write.parquet(s"$table/base")
    IcebergMetadata.publishMoR(spark, ice, table)
    val before = IcebergMetadata.readMoR(spark, ice).count()
    val stray = new File(s"$ice/data/424242")
    spark.range(3).write.parquet(stray.toString)
    // grace window: fresh files stay
    assert(IcebergMetadata.removeOrphans(ice, minAgeMs = 3600000L) == 0)
    assert(stray.isDirectory)
    // zero-age: strays and their emptied dir go; the table is unchanged
    val n = Option(stray.listFiles).get
      .count(_.getName.endsWith(".parquet"))
    assert(IcebergMetadata.removeOrphans(ice) == n && n > 0)
    assert(!stray.exists)
    assert(IcebergMetadata.readMoR(spark, ice).count() == before)
    // idempotent: nothing left to sweep
    assert(IcebergMetadata.removeOrphans(ice) == 0)
  }

  test("re-publish never clobbers earlier snapshots: files immutable, time travel works, expire cleans up") {
    import org.apache.spark.sql.functions._
    import graft.operators.SystemColumns.{OlakeId, OpType, CdcTimestamp}
    val table = Files.createTempDirectory("graft_morimm").toString
    val ice = Files.createTempDirectory("graft_morimmice").toString
    spark.range(10).select(
      col("id").cast("string").as(OlakeId), col("id").as("v"))
      .write.parquet(s"$table/base")
    def change(ids: Range, op: String, vOff: Long = 0) =
      spark.range(ids.start, ids.end).select(
        col("id").cast("string").as(OlakeId), (col("id") + vOff).as("v"),
        lit(op).as(OpType), current_timestamp().as(CdcTimestamp),
        col("id").as("lsn"))
    DeltaSegments.writeSegment(change(0 until 2, "u", vOff = 100), table, 1L)
    val c1 = IcebergMetadata.publishMoR(spark, ice, table)
    val snap1Files = IcebergMetadata.dataFilePaths(ice)
    val view1 = IcebergMetadata.readMoR(spark, ice)
      .select(OlakeId, "v").collect()
      .map(r => (r.getString(0), r.getLong(1))).sortBy(_._1).toSeq

    // second publish with one more segment: snapshot 1's files survive
    DeltaSegments.writeSegment(change(5 until 6, "d"), table, 2L)
    val c2 = IcebergMetadata.publishMoR(spark, ice, table)
    assert(c2.snapshotId != c1.snapshotId)
    snap1Files.foreach(p =>
      assert(new File(p).exists, s"snapshot-1 file vanished: $p"))
    // time travel: the FIRST snapshot replays identically post-re-publish
    val travel = IcebergMetadata
      .readMoR(spark, ice, asOfSnapshotId = Some(c1.snapshotId))
      .select(OlakeId, "v").collect()
      .map(r => (r.getString(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(travel == view1)
    // and the current snapshot sees the delete
    assert(IcebergMetadata.readMoR(spark, ice).count() == 9)

    // expire: snapshot 1 leaves the history, its derived dir is removed,
    // the current snapshot stays fully readable
    assert(IcebergMetadata.expireSnapshots(ice, keepLast = 1) == 1)
    assert(!new File(new File(ice, "data"), c1.snapshotId.toString).exists)
    assert(new File(new File(ice, "data"), c2.snapshotId.toString).exists)
    assert(IcebergMetadata.readMoR(spark, ice).count() == 9)
    intercept[IllegalArgumentException] {
      IcebergMetadata.readMoR(spark, ice,
        asOfSnapshotId = Some(c1.snapshotId)).count()
    }
  }

  test("CdcStream.applyBatch publishes an Iceberg snapshot per batch when configured") {
    import org.apache.spark.sql.functions._
    import graft.operators.SystemColumns.{OlakeId, CdcTimestamp}
    val root = Files.createTempDirectory("graft_cdc_ice").toString
    val table = s"$root/t"; val ice = s"$root/ice"; val state = s"$root/s.json"
    // lsn must advance monotonically ACROSS batches (the committed-LSN
    // replay filter drops anything at or below the last commit)
    def batch(ids: Range, kind: String, lsnOff: Long, vOff: Long = 0) =
      spark.range(ids.start, ids.end).select(
        col("id").cast("string").as(OlakeId),
        (col("id") + lsnOff).as("lsn"),
        lit(kind).as("kind"), current_timestamp().as(CdcTimestamp),
        (col("id") + vOff).as("v"))
    graft.streaming.CdcStream.applyBatch(
      batch(0 until 50, "insert", lsnOff = 0), 1L, table, state, "s",
      icebergDir = Some(ice))
    // snapshot 1: table view == manifest replay; 2PC state round-trips
    assert(IcebergMetadata.readMoR(spark, ice).count() == 50)
    assert(IcebergMetadata.commitState(ice).exists(_.contains("\"batchId\":1")))
    graft.streaming.CdcStream.applyBatch(
      batch(40 until 45, "delete", lsnOff = 1000) unionByName
        batch(100 until 110, "insert", lsnOff = 1000, vOff = 7),
      2L, table, state, "s", icebergDir = Some(ice))
    val (v, _) = IcebergMetadata.currentMetadata(ice).get
    assert(v == 2)
    val fromManifests = IcebergMetadata.readMoR(spark, ice)
      .select(OlakeId, "v").collect()
      .map(r => (r.getString(0), r.getLong(1))).sortBy(_._1).toSeq
    val fromTable = graft.streaming.CdcStream.readTable(spark, table)
      .select(OlakeId, "v").collect()
      .map(r => (r.getString(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(fromManifests == fromTable)
    assert(fromManifests.size == 50 - 5 + 10)
    assert(IcebergMetadata.commitState(ice).exists(_.contains("\"batchId\":2")))
  }

  test("CdcStream.applyBatch with partition_regex publishes partitioned (multi-spec) snapshots") {
    import org.apache.spark.sql.functions._
    import graft.operators.SystemColumns.{OlakeId, CdcTimestamp}
    val root = Files.createTempDirectory("graft_cdc_icep").toString
    val table = s"$root/t"; val ice = s"$root/ice"; val state = s"$root/s.json"
    def batch(ids: Range, lsnOff: Long) = spark.range(ids.start, ids.end)
      .select(
        col("id").cast("string").as(OlakeId),
        (col("id") + lsnOff).as("lsn"),
        lit("insert").as("kind"), current_timestamp().as(CdcTimestamp),
        date_add(lit(java.sql.Date.valueOf("1970-01-01")),
          (col("id") % 8).cast("int")).as("d"),
        col("id").as("v"))
    // batch 1 folds into the (unpartitioned, spec-0) base — the
    // no-base compaction rule; batch 2 stays a delta segment under the
    // high thresholds and publishes day-partitioned at spec 1
    val noCompact = DeltaSegments.CompactionPolicy(maxSegments = 100,
      maxDeltaRatio = 1e9)
    graft.streaming.CdcStream.applyBatch(batch(0 until 40, 0), 1L,
      table, state, "s", policy = noCompact,
      icebergDir = Some(ice), partitionRegex = Some("/{d,day}"))
    graft.streaming.CdcStream.applyBatch(batch(40 until 60, 1000), 2L,
      table, state, "s", policy = noCompact,
      icebergDir = Some(ice), partitionRegex = Some("/{d,day}"))
    val (_, meta) = IcebergMetadata.currentMetadata(ice).get
    assert(meta.get("partition-specs").size == 2)
    assert(meta.get("default-spec-id").asInt == 1)
    val sums = IcebergMetadata.manifestSummaries(ice)
      .filter(m => m.content == 0 && m.partitions.nonEmpty)
    assert(sums.nonEmpty)
    assert(IcebergMetadata.boundLong(sums.head.partitions.head.lower.get) == 0)
    assert(IcebergMetadata.boundLong(sums.head.partitions.head.upper.get) == 7)
    // pruned read over days [2,3] equals the day filter on the view
    val pruned = IcebergMetadata.readMoR(spark, ice,
        partPrune = Some((2L, 3L)))
      .where(datediff(col("d"), lit("1970-01-01")).between(2, 3))
    assert(pruned.count() == 16) // ids 0..59 with id%8 ∈ {2,3}

    // partition-AWARE compaction: force a fold with the regex — the
    // new base lands hive-partitioned, the re-publish emits it at
    // spec 1 with tuples, and EVERY data file now prunes
    DeltaSegments.compact(spark, table, Some("/{d,day}"))
    assert(DeltaSegments.listSegments(table).isEmpty)
    graft.streaming.CdcStream.applyBatch(batch(60 until 70, 2000), 3L,
      table, state, "s", policy = noCompact,
      icebergDir = Some(ice), partitionRegex = Some("/{d,day}"))
    val stats = IcebergMetadata.dataFileStats(ice).filter(_.content == 0)
    assert(stats.nonEmpty && stats.forall(_.partition.nonEmpty))
    val prunedAll = IcebergMetadata.readMoR(spark, ice,
        partPrune = Some((2L, 3L)))
      .where(datediff(col("d"), lit("1970-01-01")).between(2, 3))
    assert(prunedAll.count() == 18) // ids 0..69 with id%8 ∈ {2,3}
    // the view itself is unchanged by the layout (no __p_ leakage)
    val view = graft.streaming.CdcStream.readTable(spark, table)
    assert(!view.columns.exists(_.startsWith("__p_")))
    assert(view.count() == 70)
  }

  test("metadata over a DeltaSegments compacted base (the MoR sink's data files)") {
    import org.apache.spark.sql.functions._
    val tmp = Files.createTempDirectory("graft_ice3").toString
    val nation = Tables.load(spark, "/root/testdata/sf0.001", "nation")
      .select(col("n_nationkey").as("_olake_id"), col("n_name"))
    nation.write.parquet(DeltaSegments.baseDir(tmp).getPath)
    val c = IcebergMetadata.commit(spark, tmp, DeltaSegments.baseDir(tmp).getPath,
      operation = "overwrite", summary = Map("olake_2pc" -> """{"compacted":true}"""))
    assert(c.addedRows == 25)
    assert(spark.read.parquet(IcebergMetadata.dataFilePaths(tmp): _*)
      .count() == 25)
  }

  test("manifest column stats round-trip: value/null counts and bounds match the data; pruning opens only overlapping files") {
    import org.apache.spark.sql.functions._
    val tmp = Files.createTempDirectory("graft_icestats").toString
    val base = s"$tmp/data"
    // 4 range-partitioned files over id 0..99, with a nullable column
    spark.range(100).select(col("id"),
        when(col("id") % 10 === 0, lit(null: String))
          .otherwise(concat(lit("s"), col("id"))).as("s"))
      .repartitionByRange(4, col("id"))
      .write.parquet(base)
    IcebergMetadata.commit(spark, tmp, base)
    val fid = IcebergMetadata.currentFieldId(tmp, "id")
    val fidS = IcebergMetadata.currentFieldId(tmp, "s")
    val stats = IcebergMetadata.dataFileStats(tmp).filter(_.content == 0)
    assert(stats.length == 4)
    // per file, the manifest stats equal a full rescan of that file
    stats.foreach { e =>
      val df = spark.read.parquet(e.path)
      val r = df.agg(min("id"), max("id"), count(lit(1)),
        sum(col("s").isNull.cast("long"))).head
      assert(IcebergMetadata.boundLong(e.stats.lower(fid)) == r.getLong(0))
      assert(IcebergMetadata.boundLong(e.stats.upper(fid)) == r.getLong(1))
      assert(e.stats.valueCounts(fid) == r.getLong(2))
      assert(e.recordCount == r.getLong(2))
      assert(e.stats.nullCounts(fidS) == r.getLong(3))
      assert(e.stats.nullCounts(fid) == 0L)
      // string bounds are raw UTF-8 per the spec's single-value format
      val loS = new String(e.stats.lower(fidS), "UTF-8")
      assert(loS == df.where(col("s").isNotNull).agg(min("s")).head.getString(0))
      assert(e.stats.sizes.contains(fid))
    }
    // bounds cover disjoint quarters → a range predicate keeps only
    // the overlapping files
    val kept = IcebergMetadata.pruneDataFiles(tmp, "id", 30, 40)
    assert(kept.nonEmpty && kept.length < 4)
    val keptRows = spark.read.parquet(kept: _*)
      .where(col("id").between(30, 40)).count()
    assert(keptRows == 11)
  }

  test("readMoR prune: file skipping via manifest bounds, result identical to the unpruned read on the predicate") {
    import org.apache.spark.sql.functions._
    import graft.operators.SystemColumns.{OlakeId, OpType, CdcTimestamp}
    val table = Files.createTempDirectory("graft_prunet").toString
    val ice = Files.createTempDirectory("graft_prunei").toString
    spark.range(100).select(
        col("id").cast("string").as(OlakeId), col("id"), col("id").as("v"))
      .repartitionByRange(4, col("id"))
      .write.parquet(s"$table/base")
    val upd = spark.range(10, 20).select(
      col("id").cast("string").as(OlakeId), col("id"),
      (col("id") + 1000).as("v"), lit("u").as(OpType),
      current_timestamp().as(CdcTimestamp))
    DeltaSegments.writeSegment(upd, table, 1L)
    IcebergMetadata.publishMoR(spark, ice, table)
    val full = IcebergMetadata.readMoR(spark, ice)
      .where(col("id").between(10, 30))
    val pruned = IcebergMetadata.readMoR(spark, ice,
      prune = Some(("id", 10L, 30L)))
      .where(col("id").between(10, 30))
    val f = full.select("id", "v").collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    val p = pruned.select("id", "v").collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(f.sameElements(p))
    assert(p.length == 21 && p.count(_._2 >= 1000) == 10)
    // and the prune really dropped files
    val all = IcebergMetadata.dataFileStats(ice).count(_.content == 0)
    val kept = IcebergMetadata.pruneDataFiles(ice, "id", 10, 30).length
    assert(kept < all, s"expected pruning: $kept of $all")
  }

  test("publishPartitioned: spec in metadata.json, partition tuples in manifests, list summaries prune whole manifests, two-level read matches") {
    import org.apache.spark.sql.functions._
    val ice = Files.createTempDirectory("graft_part").toString
    // 40 ids → day values 0..39 via a synthetic date column
    val df = spark.range(200).select(
      col("id"),
      date_add(lit(java.sql.Date.valueOf("1970-01-01")),
        (col("id") % 40).cast("int")).as("d"),
      (col("id") * 2).as("v"))
    val c = IcebergMetadata.publishPartitioned(spark, ice, df,
      "/{d,day}", groupSize = 10)
    assert(c.addedFiles == 40 && c.addedRows == 200)

    // metadata.json carries the real spec
    val (_, meta) = IcebergMetadata.currentMetadata(ice).get
    val sf = meta.get("partition-specs").get(0).get("fields").get(0)
    assert(sf.get("name").asText == "d_day")
    assert(sf.get("transform").asText == "day")
    assert(sf.get("field-id").asInt == 1000)
    assert(meta.get("last-partition-id").asInt == 1000)

    // 4 manifests of 10 contiguous day values each, summaries decoded
    val sums = IcebergMetadata.manifestSummaries(ice)
    assert(sums.length == 4)
    val ranges = sums.map { m =>
      val s = m.partitions.head
      assert(!s.containsNull)
      (IcebergMetadata.boundLong(s.lower.get),
        IcebergMetadata.boundLong(s.upper.get))
    }.sorted
    assert(ranges == Seq((0L, 9L), (10L, 19L), (20L, 29L), (30L, 39L)))

    // manifest entries carry the tuple; data files keep the source cols
    val stats = IcebergMetadata.dataFileStats(ice)
    assert(stats.length == 40)
    assert(stats.flatMap(_.partition).map(_.asInstanceOf[Int]).sorted ==
      (0 until 40))
    // manifest-level pruning: [12, 27] keeps exactly 2 of 4 manifests
    assert(IcebergMetadata.pruneManifests(ice, 12, 27).length == 2)
    // the two-level pruned read equals the predicate on the raw frame
    val got = IcebergMetadata.readPartitionPruned(spark, ice, 12, 27)
      .select("id", "v").collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    val want = df.where((col("id") % 40).between(12, 27))
      .select("id", "v").collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(got.sameElements(want) && got.length == 80)
  }

  test("partition metadata roundtrip survives randomized specs: per-file tuple == recomputed transform, pruned read == filter") {
    import org.apache.spark.sql.functions._
    import graft.sinks.PartitionTransforms
    val rnd = new scala.util.Random(42)
    val transforms = Seq("day", "month", "bucket[5]", "truncate[100]",
      "identity")
    for (t <- transforms) {
      val ice = Files.createTempDirectory(s"graft_prop_$t".takeWhile(_ != '['))
        .toString
      val n = 100 + rnd.nextInt(200)
      val df = spark.range(n).select(
        col("id"),
        date_add(lit(java.sql.Date.valueOf("1970-01-01")),
          (col("id") % (3 + rnd.nextInt(20))).cast("int")).as("d"),
        (col("id") * 7 % 1000).as("v"))
      // column + expected-value function per transform
      val (c, exp): (String, org.apache.spark.sql.Row => Any) = t match {
        case "day" => ("d", r => r.getAs[java.sql.Date]("d")
          .toLocalDate.toEpochDay.toInt)
        case "month" => ("d", { r =>
          val ld = r.getAs[java.sql.Date]("d").toLocalDate
          (ld.getYear - 1970) * 12 + ld.getMonthValue - 1 })
        case "bucket[5]" => ("v",
          r => PartitionTransforms.bucketLong(r.getAs[Long]("v"), 5))
        case "truncate[100]" => ("v",
          r => r.getAs[Long]("v") / 100 * 100)
        case "identity" => ("v", r => r.getAs[Long]("v"))
      }
      IcebergMetadata.publishPartitioned(spark, ice, df, s"/{$c,$t}",
        groupSize = 4)
      // every file's manifest tuple equals the transform recomputed
      // from the file's own rows (and is single-valued per file)
      val stats = IcebergMetadata.dataFileStats(ice)
      stats.foreach { e =>
        val vals = spark.read.parquet(e.path).collect()
          .map(exp).map {
            case i: Int => i.toLong
            case l: Long => l
          }.distinct
        val tup = e.partition.head match {
          case i: Int => i.toLong
          case l: Long => l
        }
        assert(vals.toSeq == Seq(tup),
          s"$t: file tuple $tup vs data ${vals.toSeq}")
      }
      // pruned read equivalence on a random window over tuple values
      val tups = stats.map(_.partition.head match {
        case i: Int => i.toLong; case l: Long => l
      }).sorted
      val lo = tups(rnd.nextInt(tups.length))
      val hi = lo + rnd.nextInt(5)
      val got = IcebergMetadata.readPartitionPruned(spark, ice, lo, hi)
        .collect().map(_.getAs[Long]("id")).sorted
      val want = df.collect()
        .filter { r => val v = exp(r) match {
          case i: Int => i.toLong; case l: Long => l }
          v >= lo && v <= hi }
        .map(_.getAs[Long]("id")).sorted
      assert(got.sameElements(want), s"$t: pruned read mismatch")
    }
  }

  test("null partition values: hive default dir round-trips, contains_null set, pruning never drops the null partition") {
    import org.apache.spark.sql.functions._
    val ice = Files.createTempDirectory("graft_partnull").toString
    // days 0..9 plus a fifth of rows with NULL d
    val df = spark.range(50).select(
      col("id"),
      when(col("id") % 5 === 0, lit(null).cast("date"))
        .otherwise(date_add(lit(java.sql.Date.valueOf("1970-01-01")),
          (col("id") % 10).cast("int"))).as("d"))
    IcebergMetadata.publishPartitioned(spark, ice, df, "/{d,day}",
      groupSize = 100)
    val stats = IcebergMetadata.dataFileStats(ice)
    // the null tuple decoded back as null, the rest as ints
    assert(stats.exists(_.partition.head == null))
    // days 0 and 5 only arise from %5 ids (all null) → 8 real days
    assert(stats.count(_.partition.head != null) == 8)
    val sums = IcebergMetadata.manifestSummaries(ice)
    assert(sums.length == 1)
    val s = sums.head.partitions.head
    assert(s.containsNull) // the summary records null presence
    // bounds cover only the non-null values
    assert(IcebergMetadata.boundLong(s.lower.get) == 1
      && IcebergMetadata.boundLong(s.upper.get) == 9)
    // a window that excludes every non-null day STILL keeps the
    // manifest (contains_null → cannot prune) and the null files
    assert(IcebergMetadata.pruneManifests(ice, 100, 200).length == 1)
    val got = IcebergMetadata.readPartitionPruned(spark, ice, 3L, 5L)
      .where(col("d").isNull ||
        datediff(col("d"), lit("1970-01-01")).between(3, 5))
      .select("id").collect().map(_.getLong(0)).sorted
    val want = df.where(col("d").isNull ||
        datediff(col("d"), lit("1970-01-01")).between(3, 5))
      .select("id").collect().map(_.getLong(0)).sorted
    assert(got.sameElements(want))
    // 10 null-day rows + days {3,4} (5 each; day-5 ids are all %5 → null)
    assert(got.length == 20)
  }

  test("multi-field partition spec (day + bucket): tuples, spec json, summaries per field, identity keeps source column") {
    import org.apache.spark.sql.functions._
    import graft.sinks.PartitionTransforms
    val ice = Files.createTempDirectory("graft_part2").toString
    val df = spark.range(120).select(
      col("id"),
      date_add(lit(java.sql.Date.valueOf("1970-01-01")),
        (col("id") % 6).cast("int")).as("d"),
      concat(lit("u"), (col("id") % 4)).as("user"))
    val c = IcebergMetadata.publishPartitioned(spark, ice, df,
      "/{d,day}/{user,bucket[3]}", groupSize = 100)
    // 6 days × (≤3 buckets over 4 users); every tuple has 2 values
    val stats = IcebergMetadata.dataFileStats(ice)
    assert(stats.forall(_.partition.length == 2))
    assert(c.addedRows == 120)
    val days = stats.map(_.partition.head.asInstanceOf[Int]).distinct.sorted
    assert(days == (0 until 6))
    val buckets = stats.map(_.partition(1).asInstanceOf[Int]).distinct
    assert(buckets.forall(b => b >= 0 && b < 3))
    // bucket values match the codegen'd Iceberg murmur3 exactly
    val expect = (0 until 4).map(u =>
      PartitionTransforms.bucketString(s"u$u", 3)).toSet
    assert(buckets.toSet == expect)
    // spec json carries both fields in order with ids 1000/1001
    val (_, meta) = IcebergMetadata.currentMetadata(ice).get
    val fs = meta.get("partition-specs").get(0).get("fields")
    assert(fs.get(0).get("name").asText == "d_day"
      && fs.get(0).get("field-id").asInt == 1000)
    assert(fs.get(1).get("name").asText == "user_bucket"
      && fs.get(1).get("field-id").asInt == 1001)
    // one manifest (groupSize=100): per-FIELD summaries decode
    val sums = IcebergMetadata.manifestSummaries(ice)
    assert(sums.length == 1 && sums.head.partitions.length == 2)
    assert(IcebergMetadata.boundLong(sums.head.partitions.head.lower.get) == 0)
    assert(IcebergMetadata.boundLong(sums.head.partitions.head.upper.get) == 5)
    // data files keep the source columns (nothing was hive-dropped)
    val back = spark.read.parquet(stats.map(_.path): _*)
    assert(back.columns.sorted.toSeq == Seq("d", "id", "user"))
    assert(back.count() == 120)
  }

  test("partitioned publishMoR: multi-spec metadata, per-segment summarized manifests, global deletes, partition-pruned read") {
    import org.apache.spark.sql.functions._
    import graft.operators.SystemColumns.{OlakeId, OpType, CdcTimestamp}
    val table = Files.createTempDirectory("graft_morp_t").toString
    val ice = Files.createTempDirectory("graft_morp_i").toString
    // base: ids 0..99, day d = id % 20 (20 day-partitions worth of data)
    val mk = spark.range(100).select(
      col("id").cast("string").as(OlakeId), col("id"),
      date_add(lit(java.sql.Date.valueOf("1970-01-01")),
        (col("id") % 20).cast("int")).as("d"),
      col("id").as("v"))
    mk.repartitionByRange(4, col("id")).write.parquet(s"$table/base")
    // segment 1: update ids 10..19 (days 10..19) → v + 1000
    DeltaSegments.writeSegment(
      mk.where(col("id").between(10, 19))
        .withColumn("v", col("v") + 1000)
        .withColumn(OpType, lit("u"))
        .withColumn(CdcTimestamp, current_timestamp()), table, 1L)
    // segment 2: delete ids 0..4 (days 0..4)
    DeltaSegments.writeSegment(
      mk.where(col("id") < 5)
        .withColumn(OpType, lit("d"))
        .withColumn(CdcTimestamp, current_timestamp()), table, 2L)
    IcebergMetadata.publishMoR(spark, ice, table,
      partitionRegex = Some("/{d,day}"))

    // multi-spec metadata: spec 0 unpartitioned, spec 1 = day(d), default 1
    val (_, meta) = IcebergMetadata.currentMetadata(ice).get
    val specs = meta.get("partition-specs")
    assert(specs.size == 2)
    assert(specs.get(0).get("fields").size == 0)
    assert(specs.get(1).get("fields").get(0).get("name").asText == "d_day")
    assert(meta.get("default-spec-id").asInt == 1)

    // manifests: base (no summaries) + one summarized manifest per
    // data-bearing segment + the delete manifest
    val sums = IcebergMetadata.manifestSummaries(ice)
    val dataSums = sums.filter(_.content == 0)
    val withSummary = dataSums.filter(_.partitions.nonEmpty)
    assert(dataSums.exists(_.partitions.isEmpty)) // the spec-0 base
    assert(withSummary.length == 1) // seg 2 is all deletes → no data files
    val s1 = withSummary.head.partitions.head
    assert(IcebergMetadata.boundLong(s1.lower.get) == 10
      && IcebergMetadata.boundLong(s1.upper.get) == 19)
    assert(sums.count(_.content == 1) == 1)

    // full read: deletes applied across partitions, updates win
    val full = IcebergMetadata.readMoR(spark, ice)
    val ids = full.select("id").collect().map(_.getLong(0)).sorted
    assert(ids.toSeq == (5L until 100L))
    assert(full.where(col("id") === 15).select("v").head().getLong(0) == 1015L)

    // partition-pruned read over days [10, 14]: equals the full read's
    // day filter, and base files (no tuple) are never dropped
    val pruned = IcebergMetadata.readMoR(spark, ice,
        partPrune = Some((10L, 14L)))
      .where(datediff(col("d"), lit("1970-01-01")).between(10, 14))
    val wantRows = full
      .where(datediff(col("d"), lit("1970-01-01")).between(10, 14))
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("id", "v").collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(pairs(pruned).sameElements(pairs(wantRows)))
    // and the prune really dropped the segment's out-of-window files
    val statsAll = IcebergMetadata.dataFileStats(ice).filter(_.content == 0)
    val partFiles = statsAll.filter(_.partition.nonEmpty)
    assert(partFiles.nonEmpty)
    assert(partFiles.count(e => e.partition.head.asInstanceOf[Int] > 14) > 0)
  }

  test("type promotion keeps the field id and widens the type (int→long, float→double); illegal change renumbers") {
    import org.apache.spark.sql.functions._
    val tmp = Files.createTempDirectory("graft_icepromo").toString
    spark.range(5).select(col("id").cast("int").as("a"),
        col("id").cast("float").as("f"), col("id").cast("long").as("k"))
      .write.parquet(s"$tmp/d1")
    IcebergMetadata.commit(spark, tmp, s"$tmp/d1")
    val idA = IcebergMetadata.currentFieldId(tmp, "a")
    val idF = IcebergMetadata.currentFieldId(tmp, "f")
    val idK = IcebergMetadata.currentFieldId(tmp, "k")
    // int→long and float→double are legal promotions; long→int is not
    spark.range(5).select(col("id").cast("long").as("a"),
        col("id").cast("double").as("f"), col("id").cast("int").as("k"))
      .write.parquet(s"$tmp/d2")
    IcebergMetadata.commit(spark, tmp, s"$tmp/d2")
    val (_, meta) = IcebergMetadata.currentMetadata(tmp).get
    assert(meta.get("schemas").size == 2)
    val cur = meta.get("schemas").get(1)
    import scala.jdk.CollectionConverters._
    val byName = cur.get("fields").elements.asScala
      .map(f => f.get("name").asText ->
        (f.get("id").asInt, f.get("type").asText)).toMap
    assert(byName("a") == ((idA, "long")), "int→long keeps id, widens")
    assert(byName("f") == ((idF, "double")), "float→double keeps id, widens")
    assert(byName("k")._1 != idK, "long→int is NOT a promotion: new id")
    assert(byName("k")._2 == "int")
  }

  test("REST catalog: racing commits on the same parent — exactly one wins, loser 409s") {
    import graft.sinks.IcebergRestCatalog
    val tmp = Files.createTempDirectory("graft_rest_race").toString
    val srv = new IcebergRestCatalog.Server(Map(("g", "t") -> tmp))
    try {
      val c = new IcebergRestCatalog.Client(srv.endpoint)
      c.createNamespace("g"); c.createTable("g", "t")
      Tables.load(spark, "/root/testdata/sf0.001", "nation")
        .write.parquet(s"$tmp/d0")
      val s0 = IcebergMetadata.stageSnapshot(spark, tmp, s"$tmp/d0", 1L)
      c.commitSnapshot("g", "t", None, s0)
      val parent = c.loadTable("g", "t").currentSnapshotId
      // two staged snapshots, both claiming the same parent
      val s1 = IcebergMetadata.stageSnapshot(spark, tmp, s"$tmp/d0", 2L)
      val s2 = IcebergMetadata.stageSnapshot(spark, tmp, s"$tmp/d0", 2L)
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration._
      import scala.concurrent.ExecutionContext.Implicits.global
      val results = Await.result(Future.sequence(Seq(s1, s2).map(st =>
        Future {
          try { c.commitSnapshot("g", "t", parent, st); "ok" }
          catch { case _: IcebergRestCatalog.CommitConflictException => "409" }
        })), 30.seconds).toList
      assert(results.sorted == List("409", "ok"), results.toString)
      // the winner's snapshot is current; only v1 (first commit) and
      // v2 (the race winner) exist — the loser wrote NO metadata
      val cur = c.loadTable("g", "t").currentSnapshotId.get
      assert(cur == s1.snapshotId || cur == s2.snapshotId)
      assert(new File(s"$tmp/metadata").listFiles
        .count(_.getName.endsWith(".metadata.json")) == 2)
    } finally srv.close()
  }

  test("HMS thrift: lock queue — second locker WAITS, acquires after unlock, commits serialize") {
    import graft.sinks.HiveMetastore
    import HiveMetastore.{HmsClient, HmsServer, HmsTable}
    val srv = new HmsServer
    val a = new HmsClient("127.0.0.1", srv.port)
    val b = new HmsClient("127.0.0.1", srv.port)
    try {
      a.createDatabase("g")
      a.createTable(HmsTable("g", "t", Map.empty))
      val (la, sa) = a.lock("g", "t")
      assert(sa == HiveMetastore.Acquired)
      val (lb, sb) = b.lock("g", "t")
      assert(sb == HiveMetastore.Waiting, "second EXCLUSIVE lock must wait")
      assert(b.checkLock(lb) == HiveMetastore.Waiting)
      a.unlock(la)
      assert(b.checkLock(lb) == HiveMetastore.Acquired,
        "queue head after unlock")
      b.unlock(lb)
      // full commit flow through the lock, twice, with conflict detect
      HiveMetastore.commitWithLock(a, "g", "t", None, "loc1")
      intercept[graft.sinks.IcebergRestCatalog.CommitConflictException](
        HiveMetastore.commitWithLock(b, "g", "t", None, "loc2"))
      HiveMetastore.commitWithLock(b, "g", "t", Some("loc1"), "loc2")
      assert(a.getTable("g", "t").parameters("metadata_location") == "loc2")
      assert(a.getTable("g", "t")
        .parameters("previous_metadata_location") == "loc1")
    } finally { a.close(); b.close(); srv.close() }
  }

  test("REST remove-snapshots: explicit ids expire, current survives, files clean up") {
    import graft.sinks.IcebergRestCatalog
    val tmp = Files.createTempDirectory("graft_rest_exp").toString
    val srv = new IcebergRestCatalog.Server(Map(("g", "t") -> tmp))
    try {
      val c = new IcebergRestCatalog.Client(srv.endpoint)
      c.createNamespace("g"); c.createTable("g", "t")
      val n = Tables.load(spark, "/root/testdata/sf0.001", "nation")
      var parent: Option[Long] = None
      val snapIds = (1 to 3).map { i =>
        n.write.parquet(s"$tmp/d$i")
        val st = IcebergMetadata.stageSnapshot(spark, tmp, s"$tmp/d$i", i.toLong)
        c.commitSnapshot("g", "t", parent, st,
          operation = if (i == 1) "append" else "replace")
        parent = Some(st.snapshotId)
        st.snapshotId
      }
      // expire the two oldest; asking to remove the CURRENT too is
      // ignored (always retained)
      val loc = c.removeSnapshots("g", "t", snapIds.last,
        Seq(snapIds(0), snapIds(1), snapIds.last))
      // judge by the snapshots ARRAY: the kept snapshot's
      // parent-snapshot-id legitimately still names its expired parent
      // (real Iceberg leaves the dangling parent id after expiry)
      val metaNode = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(Files.readString(java.nio.file.Paths.get(loc)))
      import scala.jdk.CollectionConverters._
      val liveIds = metaNode.get("snapshots").elements.asScala
        .map(_.get("snapshot-id").asLong).toSet
      assert(liveIds == Set(snapIds.last), liveIds.toString)
      // current snapshot still reads
      assert(spark.read.parquet(
        IcebergMetadata.dataFilePathsAt(loc): _*).count() == 25L)
      // the expired snapshots' manifest lists are gone from disk
      val lists = new File(s"$tmp/metadata").listFiles
        .count(_.getName.startsWith("snap-"))
      assert(lists == 1, s"$lists manifest lists remain")
    } finally srv.close()
  }

  test("publishMoR schema carries identifier-field-ids for the upsert key, forced required") {
    import graft.operators.SystemColumns
    val table = Files.createTempDirectory("graft_idf_t").toString
    val ice = Files.createTempDirectory("graft_idf_i").toString
    import spark.implicits._
    Seq(("1", 1L, "a"), ("2", 2L, "b"))
      .toDF(SystemColumns.OlakeId, "k", "v")
      .write.parquet(s"$table/base")
    IcebergMetadata.publishMoR(spark, ice, table)
    val (_, meta) = IcebergMetadata.currentMetadata(ice).get
    val schema = meta.withArray[com.fasterxml.jackson.databind.node.ArrayNode]("schemas").get(0)
    val ids = schema.withArray[com.fasterxml.jackson.databind.node.ArrayNode]("identifier-field-ids")
    assert(ids.size == 1)
    import scala.jdk.CollectionConverters._
    val keyField = schema.withArray[com.fasterxml.jackson.databind.node.ArrayNode]("fields")
      .asScala.find(_.get("name").asText == SystemColumns.OlakeId).get
    assert(keyField.get("id").asInt == ids.get(0).asInt)
    assert(keyField.get("required").asBoolean,
      "identifier fields must be required (spec §Schemas)")
    // republishing the unchanged data schema keeps the current schema,
    // identifier-field-ids included, and appends no schema
    for (n <- 2 to 3) {
      IcebergMetadata.publishMoR(spark, ice, table)
      val (_, m) = IcebergMetadata.currentMetadata(ice).get
      assert(m.withArray[com.fasterxml.jackson.databind.node.ArrayNode]("schemas").size == 1,
        s"publish $n appended a schema for an unchanged data schema")
      assert(IcebergMetadata.identifierColumns(ice) ==
          Seq(SystemColumns.OlakeId -> ids.get(0).asInt),
        s"publish $n dropped the identifier-field-ids")
    }
  }

  test("every snapshot commit carries tags, properties, the sort order and identifier-field-ids forward") {
    import graft.operators.SystemColumns.{OlakeId, OpType, CdcTimestamp}
    import org.apache.spark.sql.functions._
    import scala.jdk.CollectionConverters._
    val table = Files.createTempDirectory("graft_carry_t").toString
    val ice = Files.createTempDirectory("graft_carry_i").toString
    val data = Files.createTempDirectory("graft_carry_d").toString
    def rows(lo: Long, hi: Long) = spark.range(lo, hi).select(
      col("id").cast("string").as(OlakeId), col("id").as("v"))
    rows(0, 50).write.parquet(s"$table/base")
    IcebergMetadata.publishMoR(spark, ice, table)
    val keyId = IcebergMetadata.identifierColumns(ice)
    assert(keyId.map(_._1) == Seq(OlakeId))
    IcebergMetadata.sortRewrite(spark, ice, targetBytes = 1L << 20,
      sortCols = Seq("v"))
    val (_, sorted) = IcebergMetadata.currentMetadata(ice).get
    val sortId = sorted.get("default-sort-order-id").asInt
    assert(sortId != 0)
    val tagged = sorted.get("current-snapshot-id").asLong
    IcebergMetadata.setRef(ice, "trained-run", tagged)
    IcebergMetadata.setTableProperties(ice, Map("owner" -> "ingest"))

    def counts = {
      val (_, m) = IcebergMetadata.currentMetadata(ice).get
      (m.withArray[com.fasterxml.jackson.databind.node.ArrayNode]("metadata-log").size,
        m.withArray[com.fasterxml.jackson.databind.node.ArrayNode]("snapshots").size)
    }
    def carried(op: String)(commit: => Unit): Unit = {
      val (logs, snaps) = counts
      commit
      val (_, m) = IcebergMetadata.currentMetadata(ice).get
      assert(counts == (logs + 1, snaps + 1),
        s"$op: metadata-log/snapshots ${(logs, snaps)} -> $counts")
      assert(IcebergMetadata.refSnapshotId(ice, "trained-run") ==
        Some(tagged), s"$op dropped the tag")
      assert(IcebergMetadata.tableProperties(ice).get("owner") ==
        Some("ingest"), s"$op dropped the property")
      assert(m.get("default-sort-order-id").asInt == sortId &&
        m.get("sort-orders").elements.asScala
          .exists(_.get("order-id").asInt == sortId),
        s"$op dropped the sort order")
      assert(IcebergMetadata.identifierColumns(ice) == keyId,
        s"$op dropped the identifier-field-ids")
    }

    DeltaSegments.writeSegment(rows(0, 5).withColumn(OpType, lit("u"))
      .withColumn(CdcTimestamp, current_timestamp()), table, 1L)
    carried("publishMoR 1")(IcebergMetadata.publishMoR(spark, ice, table))
    carried("publishMoR 2")(IcebergMetadata.publishMoR(spark, ice, table))
    rows(100, 110).write.parquet(s"$data/commit")
    carried("commit")(IcebergMetadata.commit(spark, ice, s"$data/commit"))
    rows(110, 120).write.parquet(s"$data/append")
    carried("appendCommit")(
      IcebergMetadata.appendCommit(spark, ice, s"$data/append"))
    rows(120, 130).write.parquet(s"$data/branch")
    var staged = 0L
    carried("commitToBranch") {
      staged = IcebergMetadata.commitToBranch(spark, ice, s"$data/branch",
        "audit").snapshotId
    }
    carried("cherrypickSnapshot")(
      IcebergMetadata.cherrypickSnapshot(ice, staged))
    carried("rewriteManifests")(IcebergMetadata.rewriteManifests(spark, ice))
    carried("truncateCommit")(IcebergMetadata.truncateCommit(spark, ice))
  }

  test("commitAgainst: metadata-log names the catalog-staged file the version was built on") {
    val tmp = Files.createTempDirectory("graft_stagelog").toString
    spark.range(5).write.parquet(s"$tmp/d1")
    spark.range(5, 9).write.parquet(s"$tmp/d2")
    val c1 = IcebergMetadata.commitAgainst(spark, s"$tmp/t", s"$tmp/d1", None)
    val c2 = IcebergMetadata.commitAgainst(spark, s"$tmp/t", s"$tmp/d2",
      Some(c1.metadataPath))
    val log = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new File(c2.metadataPath)).get("metadata-log")
    assert(log.size == 1)
    val logged = new File(log.get(0).get("metadata-file").asText)
    assert(logged.exists &&
      logged.getCanonicalPath == new File(c1.metadataPath).getCanonicalPath,
      s"metadata-log names $logged, the base was ${c1.metadataPath}")
  }

  test("commitAgainst: a failed-CAS orphan never leaks into the retry's history") {
    val tmp = Files.createTempDirectory("graft_orphan").toString
    val cat = new graft.sinks.IcebergJdbcCatalog(
      graft.sources.JdbcSource.derbyUrl(s"$tmp/cat"), "g")
    cat.initialize(); cat.createNamespace("n"); cat.createTable("n", "t")
    Tables.load(spark, "/root/testdata/sf0.001", "nation")
      .write.parquet(s"$tmp/d1")
    val c1 = IcebergMetadata.commitAgainst(spark, tmp, s"$tmp/d1", None)
    val loc1 = c1.metadataPath
    assert(loc1.matches(""".*/v1-\d+\.metadata\.json"""),
      s"catalog staging must be snapshot-qualified: $loc1")
    assert(cat.commitTable("n", "t", None, loc1))
    // attempt 2 writes its metadata but the CAS never happens (crash):
    // the staging is now an ORPHAN
    Tables.load(spark, "/root/testdata/sf0.001", "region")
      .write.parquet(s"$tmp/d2")
    val orphan = IcebergMetadata.commitAgainst(spark, tmp, s"$tmp/d2",
      Some(loc1), operation = "replace")
    // the RETRY rebuilds from the catalog's committed base (v1), not
    // the hint: its history must not contain the orphan's snapshot,
    // its sequence number must not skip, and its staging must land
    // under its OWN snapshot-qualified name (never overwrite the
    // orphan's — two stagers against one base can never collide)
    val retry = IcebergMetadata.commitAgainst(spark, tmp, s"$tmp/d2",
      Some(loc1), operation = "replace")
    assert(retry.metadataPath != orphan.metadataPath,
      "orphan staging overwritten")
    val orphanMeta = new String(Files.readAllBytes(
      java.nio.file.Paths.get(orphan.metadataPath)), "UTF-8")
    assert(orphanMeta.contains(orphan.snapshotId.toString),
      "orphan staging content clobbered")
    assert(retry.sequenceNumber == 2L)
    val locR = retry.metadataPath
    val meta = new String(Files.readAllBytes(
      java.nio.file.Paths.get(locR)), "UTF-8")
    assert(!meta.contains(orphan.snapshotId.toString),
      "orphaned snapshot leaked into the retry's history")
    assert(meta.contains(c1.snapshotId.toString), "base history lost")
    // the hint machinery never sees catalog stagings: no hint was
    // written, and a filesystem read of the dir reports no committed
    // version (the catalog pointer is this table's only truth)
    assert(IcebergMetadata.currentMetadata(tmp).isEmpty,
      "catalog staging leaked into the filesystem-hint view")
    assert(cat.commitTable("n", "t", Some(loc1), locR))
    // the committed pointer reads region (5 rows), not nation
    assert(spark.read.parquet(
      IcebergMetadata.dataFilePathsAt(locR): _*).count() == 5L)
  }

  test("HMS thrift roundtrip property: random names/parameters survive create→get→alter→get") {
    import graft.sinks.HiveMetastore
    import HiveMetastore.{HmsClient, HmsServer, HmsTable}
    val srv = new HmsServer
    val c = new HmsClient("127.0.0.1", srv.port)
    try {
      c.createDatabase("propdb")
      val rnd = new scala.util.Random(42)
      def randStr(): String = {
        // exercise multi-byte UTF-8, quotes, separators — the codec is
        // length-prefixed so none of it may matter
        val pool = "abcXYZ019 _-./:{}\"'\\βαγ✓漢"
        (0 until (1 + rnd.nextInt(24)))
          .map(_ => pool(rnd.nextInt(pool.length))).mkString
      }
      (0 until 25).foreach { i =>
        val name = s"t$i"
        val params = (0 until rnd.nextInt(8))
          .map(k => s"k${i}_$k" -> randStr()).toMap
        c.createTable(HmsTable("propdb", name, params))
        assert(c.getTable("propdb", name).parameters == params,
          s"create/get mismatch for $name")
        val params2 = params ++ (0 until rnd.nextInt(4))
          .map(k => s"m${i}_$k" -> randStr()).toMap
        c.alterTable("propdb", name, HmsTable("propdb", name, params2))
        assert(c.getTable("propdb", name).parameters == params2,
          s"alter/get mismatch for $name")
      }
    } finally { c.close(); srv.close() }
  }

  test("HMS thrift error shapes: NoSuchObject, AlreadyExists, unknown method") {
    import graft.sinks.HiveMetastore
    import HiveMetastore.{HmsClient, HmsException, HmsServer, HmsTable}
    val srv = new HmsServer
    val c = new HmsClient("127.0.0.1", srv.port)
    try {
      c.createDatabase("g")
      val e1 = intercept[HmsException](c.getTable("g", "nope"))
      assert(e1.errType == "NoSuchObjectException")
      val e2 = intercept[HmsException](c.createDatabase("g"))
      assert(e2.errType == "AlreadyExistsException")
      c.createTable(HmsTable("g", "t", Map("k" -> "v")))
      val e3 = intercept[HmsException](
        c.createTable(HmsTable("g", "t", Map.empty)))
      assert(e3.errType == "AlreadyExistsException")
      assert(c.getTable("g", "t").parameters == Map("k" -> "v"))
    } finally { c.close(); srv.close() }
  }

  test("REST catalog auth: bearer, OAuth2 client-credentials flow, SigV4 — wrong creds 401") {
    import graft.sinks.IcebergRestCatalog._
    import graft.sources.S3Wire.SigV4
    val creds = SigV4.Credentials("AKREST", "restsecret", "eu-central-1")
    val srv = new Server(Map.empty,
      bearerTokens = Set("static-token-1"),
      oauthClients = Map("svc-account" -> "s3cret"),
      sigv4 = Some((creds, "execute-api")))
    try {
      // anonymous → 401
      val anon = new Client(srv.endpoint)
      val e = intercept[IllegalArgumentException](anon.config())
      assert(e.getMessage.contains("401"))
      // static bearer
      new Client(srv.endpoint, Bearer("static-token-1")).config()
      val eBad = intercept[IllegalArgumentException](
        new Client(srv.endpoint, Bearer("wrong")).config())
      assert(eBad.getMessage.contains("401"))
      // OAuth2: the spec's /v1/oauth/tokens client-credentials flow
      val oc = new Client(srv.endpoint, OAuth2("svc-account", "s3cret"))
      oc.config()
      oc.createNamespace("authns") // token reused on a POST with body
      val eOauth = intercept[IllegalArgumentException](
        new Client(srv.endpoint, OAuth2("svc-account", "nope")).config())
      assert(eOauth.getMessage.toLowerCase.contains("oauth"))
      // SigV4-signed catalog (S3 Tables shape): GET + body-carrying POST
      val sc = new Client(srv.endpoint, AwsSigV4(creds))
      sc.config()
      sc.createNamespace("signs")
      val eSig = intercept[IllegalArgumentException](
        new Client(srv.endpoint,
          AwsSigV4(creds.copy(secretKey = "bad"))).config())
      assert(eSig.getMessage.contains("401"))
    } finally srv.close()
  }

  test("REST catalog error shapes: unknown table 404, double create 409, unregistered storage 400") {
    import graft.sinks.IcebergRestCatalog
    val tmp = Files.createTempDirectory("graft_rest_err").toString
    val srv = new IcebergRestCatalog.Server(Map(("g", "t") -> tmp))
    try {
      val c = new IcebergRestCatalog.Client(srv.endpoint)
      c.createNamespace("g")
      val e404 = intercept[IllegalArgumentException](c.loadTable("g", "nope"))
      assert(e404.getMessage.contains("404"))
      c.createTable("g", "t")
      val e409 = intercept[IllegalArgumentException](c.createTable("g", "t"))
      assert(e409.getMessage.contains("409"))
      val e400 = intercept[IllegalArgumentException](
        c.createTable("g", "unregistered"))
      assert(e400.getMessage.contains("400"))
    } finally srv.close()
  }

  test("binpackRewrite: small files merge under a replace snapshot; " +
       "at-size files carry forward with their original sequence; " +
       "time travel still reads the pre-rewrite layout") {
    import org.apache.spark.sql.functions._
    val tmp = Files.createTempDirectory("graft_binpack").toString
    val o = Tables.load(spark, "/root/testdata/sf0.001", "orders")
      .select("o_orderkey", "o_totalprice")
    // one at-size file (~1000 rows) + 8 streaming-sized fragments
    // (sf0.001 orderkeys are dense 0..1499)
    o.where(col("o_orderkey") < 1000).coalesce(1)
      .write.parquet(s"$tmp/data")
    o.where(col("o_orderkey") >= 1000).repartition(8)
      .write.mode("append").parquet(s"$tmp/data")
    val c1 = IcebergMetadata.commit(spark, tmp, s"$tmp/data")
    val before = IcebergMetadata.dataFilePaths(tmp)
    assert(before.size == 9)
    val bigFile = before.map(new File(_)).maxBy(_.length)
    val smallBytes = before.map(new File(_))
      .filterNot(_ == bigFile).map(_.length).sum

    val c2 = IcebergMetadata.binpackRewrite(spark, tmp,
      targetBytes = 1L << 20, minFileBytes = bigFile.length).get
    assert(c2.sequenceNumber == c1.sequenceNumber + 1)

    // layout: the 8 fragments became ONE new file; the big file's
    // bytes never moved
    val after = IcebergMetadata.dataFileStats(tmp)
    assert(after.size == 2, after.map(_.path))
    val kept = after.find(_.path == bigFile.getAbsolutePath).get
    val fresh = after.find(_.path != bigFile.getAbsolutePath).get
    assert(kept.seq == c1.sequenceNumber)    // original data sequence
    assert(fresh.seq == c2.sequenceNumber)
    assert(fresh.path.contains("-binpack"))
    // spec §Manifests: the carried-forward file is an EXISTING entry
    // (status 0) under its ORIGINAL adding snapshot id; the manifest
    // list counts it under existing_*, never added_* — an external
    // incremental/append reader must not re-see kept files as new on
    // every rewrite
    assert(kept.addedSnapshotId == c1.snapshotId)
    assert(fresh.addedSnapshotId == c2.snapshotId)
    val (_, metaBp) = IcebergMetadata.currentMetadata(tmp).get
    val curSnapBp = {
      val ss = metaBp.get("snapshots")
      (0 until ss.size).map(ss.get)
        .find(_.get("snapshot-id").asLong == c2.snapshotId).get
    }
    val bpListRows = {
      val r = new DataFileReader(
        new File(curSnapBp.get("manifest-list").asText),
        new GenericDatumReader[GenericRecord]())
      try { import scala.jdk.CollectionConverters._
        r.iterator().asScala.toList }
      finally r.close()
    }
    assert(bpListRows.map(m => (m.get("added_files_count"),
      m.get("existing_files_count"))).toSet == Set((1, 0), (0, 1)),
      bpListRows.toString)
    val keptManifest = bpListRows
      .find(_.get("existing_files_count") == 1).get
    val keptEntries = {
      val r = new DataFileReader(
        new File(keptManifest.get("manifest_path").toString),
        new GenericDatumReader[GenericRecord]())
      try { import scala.jdk.CollectionConverters._
        r.iterator().asScala.toList }
      finally r.close()
    }
    assert(keptEntries.map(_.get("status")) == List(0)) // EXISTING
    assert(keptEntries.head.get("snapshot_id") == c1.snapshotId)
    assert(keptManifest.get("existing_rows_count") == kept.recordCount)
    // row set identical to the source (merge lost/duplicated nothing)
    val got = spark.read
      .parquet(IcebergMetadata.dataFilePaths(tmp): _*)
      .select("o_orderkey").collect().map(_.getLong(0)).sorted.toSeq
    val want = o.select("o_orderkey").collect()
      .map(_.getLong(0)).sorted.toSeq
    assert(got == want)
    // snapshot summary records the maintenance action
    val (_, meta) = IcebergMetadata.currentMetadata(tmp).get
    val snaps = meta.get("snapshots")
    val last = snaps.get(snaps.size - 1).get("summary")
    assert(last.get("operation").asText == "replace")
    assert(last.get("rewritten-data-files").asText == "8")
    assert(last.get("added-data-files").asText == "1")
    assert(last.get("rewritten-bytes").asText.toLong == smallBytes)
    // history: time travel to the pre-rewrite snapshot still reads the
    // 9-file layout (maintenance never rewrites the past)
    val old = IcebergMetadata.dataFileStats(tmp, Some(c1.snapshotId))
    assert(old.map(_.path).toSet == before.toSet)
    // idempotence frontier: nothing left under the threshold → None
    assert(IcebergMetadata.binpackRewrite(spark, tmp,
      targetBytes = 1L << 20, minFileBytes = 1024).isEmpty)
  }

  test("sortRewrite: clustering tightens file bounds so pruning pays; " +
       "sort order lands in metadata; row set is a pure permutation") {
    import org.apache.spark.sql.functions._
    val tmp = Files.createTempDirectory("graft_sortrw").toString
    val li = Tables.load(spark, "/root/testdata/sf0.001", "lineitem")
      .select("l_orderkey", "l_partkey", "l_linenumber")
    li.repartition(16).write.parquet(s"$tmp/data")
    val c1 = IcebergMetadata.commit(spark, tmp, s"$tmp/data")
    // random layout: a 10%-of-keyspace range (orderkeys are dense
    // 0..1499 at sf0.001) cannot prune — every file spans nearly the
    // whole key range
    val beforeFiles = IcebergMetadata.dataFilePaths(tmp).size
    val beforePruned =
      IcebergMetadata.pruneDataFiles(tmp, "l_orderkey", 100, 250).size
    assert(beforePruned == beforeFiles) // nothing skippable

    val c2 = IcebergMetadata.sortRewrite(spark, tmp,
      targetBytes = 4L << 10, sortCols = Seq("l_orderkey"))
    assert(c2.sequenceNumber == c1.sequenceNumber + 1)
    val afterFiles = IcebergMetadata.dataFilePaths(tmp).size
    assert(afterFiles >= 8) // enough granularity for the bound below
    val afterPruned =
      IcebergMetadata.pruneDataFiles(tmp, "l_orderkey", 100, 250).size
    // each sorted file covers a compact ~1/afterFiles slice: the 10%
    // box's aligned ideal is ceil(0.10*afterFiles)+1 straddle; a third
    // of the files is a conservative ceiling over that for any
    // afterFiles >= 8 (sampled range boundaries can straddle)
    assert(afterPruned * 3 <= afterFiles,
      s"pruned $afterPruned of $afterFiles sorted files")
    // row set identical
    def snap(paths: Seq[String]) = spark.read.parquet(paths: _*)
      .select("l_orderkey", "l_partkey", "l_linenumber").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted.toSeq
    assert(snap(IcebergMetadata.dataFilePaths(tmp)) ==
      li.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
        .sorted.toSeq)
    // spec §Sort Orders: order 1 = identity/asc/nulls-first on the
    // sort column, and it is the table default after the rewrite
    val (_, meta) = IcebergMetadata.currentMetadata(tmp).get
    assert(meta.get("default-sort-order-id").asInt == 1)
    val o1 = meta.get("sort-orders").get(1)
    assert(o1.get("order-id").asInt == 1)
    val f0 = o1.get("fields").get(0)
    assert(f0.get("transform").asText == "identity")
    assert(f0.get("direction").asText == "asc")
    assert(f0.get("null-order").asText == "nulls-first")
    assert(f0.get("source-id").asInt ==
      IcebergMetadata.currentFieldId(tmp, "l_orderkey"))
    val snaps = meta.get("snapshots")
    val sum = snaps.get(snaps.size - 1).get("summary")
    assert(sum.get("operation").asText == "replace")
    assert(sum.get("sort-columns").asText == "l_orderkey")

    // z-order variant: 2-column box pruning; columns ride the summary
    // (no spec sort-order form for z-order), order reverts to unsorted
    val c3 = IcebergMetadata.sortRewrite(spark, tmp,
      targetBytes = 4L << 10,
      sortCols = Seq("l_orderkey", "l_partkey"), zorder = true)
    val zFiles = IcebergMetadata.dataFilePaths(tmp).size
    val zPrunedX =
      IcebergMetadata.pruneDataFiles(tmp, "l_orderkey", 100, 250).size
    assert(zPrunedX < zFiles) // one-axis slice still prunes under z
    val (_, meta3) = IcebergMetadata.currentMetadata(tmp).get
    assert(meta3.get("default-sort-order-id").asInt == 0)
    val snaps3 = meta3.get("snapshots")
    assert(snaps3.get(snaps3.size - 1).get("summary")
      .get("zorder-columns").asText == "l_orderkey,l_partkey")
    assert(c3.sequenceNumber == c2.sequenceNumber + 1)
  }

  test("refs + metadata-log: a tag survives commits, pins its snapshot " +
       "against expiration, and time-travels by name; metadata-log " +
       "lists every prior version in order") {
    import org.apache.spark.sql.functions.col
    import scala.jdk.CollectionConverters._
    val tmp = Files.createTempDirectory("graft_refs").toString
    val nation = Tables.load(spark, "/root/testdata/sf0.001", "nation")
    nation.write.parquet(s"$tmp/d1")
    val c1 = IcebergMetadata.commit(spark, tmp, s"$tmp/d1")
    // tag the audit cut, then keep committing past it
    IcebergMetadata.setRef(tmp, "audit-cut", c1.snapshotId)
    nation.withColumn("n_nationkey", col("n_nationkey") + 100)
      .write.parquet(s"$tmp/d2")
    val c2 = IcebergMetadata.commit(spark, tmp, s"$tmp/d2")
    nation.withColumn("n_nationkey", col("n_nationkey") + 200)
      .write.parquet(s"$tmp/d3")
    val c3 = IcebergMetadata.commit(spark, tmp, s"$tmp/d3")
    // the tag survived both commits and resolves by name
    assert(IcebergMetadata.refSnapshotId(tmp, "audit-cut")
      .contains(c1.snapshotId))
    // time travel by ref reads the tagged layout
    val tagged = IcebergMetadata.dataFileStats(tmp,
      IcebergMetadata.refSnapshotId(tmp, "audit-cut"))
    assert(tagged.forall(_.path.contains("/d1/")), tagged.map(_.path))
    // expiration retains the tagged snapshot (c2 is the only casualty)
    assert(IcebergMetadata.expireSnapshots(tmp, keepLast = 1) == 1)
    val (_, metaAfter) = IcebergMetadata.currentMetadata(tmp).get
    val ids = metaAfter.withArray[com.fasterxml.jackson.databind.node
        .ArrayNode]("snapshots").asScala
      .map(_.get("snapshot-id").asLong).toSet
    assert(ids == Set(c1.snapshotId, c3.snapshotId), ids.toString)
    // dropping the tag makes it expirable; the dangling ref is gone
    IcebergMetadata.dropRef(tmp, "audit-cut")
    assert(IcebergMetadata.refSnapshotId(tmp, "audit-cut").isEmpty)
    assert(IcebergMetadata.expireSnapshots(tmp, keepLast = 1) == 1)
    // metadata-log: every version lists its predecessors in order
    val (v, meta) = IcebergMetadata.currentMetadata(tmp).get
    val logged = meta.withArray[com.fasterxml.jackson.databind.node
        .ArrayNode]("metadata-log").asScala
      .map(_.get("metadata-file").asText).toSeq
    // commits append (v1, v2); ref/expire mutations carry the log
    // forward verbatim — so the three commit-era predecessors appear
    assert(logged.take(2) ==
      Seq(s"$tmp/metadata/v1.metadata.json",
          s"$tmp/metadata/v2.metadata.json").map(p =>
        new java.io.File(p).getAbsolutePath), logged.toString)
    assert(v >= 6) // 3 commits + tag + drop + 2 expires → hint advanced
  }

  test("write-audit-publish: a branch commit is invisible to main until " +
       "fastForward; an abandoned branch drops and expires clean") {
    import org.apache.spark.sql.functions.col
    import scala.jdk.CollectionConverters._
    val tmp = Files.createTempDirectory("graft_wap").toString
    val nation = Tables.load(spark, "/root/testdata/sf0.001", "nation")
    nation.write.parquet(s"$tmp/d1")
    val c1 = IcebergMetadata.commit(spark, tmp, s"$tmp/d1")
    // write: stage the risky batch on the audit branch
    nation.withColumn("n_nationkey", col("n_nationkey") + 100)
      .write.parquet(s"$tmp/d2")
    val cb = IcebergMetadata.commitToBranch(spark, tmp, s"$tmp/d2", "audit")
    assert(cb.sequenceNumber == c1.sequenceNumber + 1)
    // main still serves d1; the audit reader opts in by ref
    assert(IcebergMetadata.dataFilePaths(tmp)
      .forall(_.contains("/d1/")))
    val (_, m1) = IcebergMetadata.currentMetadata(tmp).get
    assert(m1.get("current-snapshot-id").asLong == c1.snapshotId)
    val auditFiles = IcebergMetadata.dataFileStats(tmp,
      IcebergMetadata.refSnapshotId(tmp, "audit")).map(_.path)
    assert(auditFiles.nonEmpty && auditFiles.forall(_.contains("/d2/")),
      auditFiles.toString)
    // audit passed → publish: one ref-move commit, main flips to d2
    IcebergMetadata.fastForward(tmp, "audit")
    assert(IcebergMetadata.dataFilePaths(tmp)
      .forall(_.contains("/d2/")))
    val keys = spark.read
      .parquet(IcebergMetadata.dataFilePaths(tmp): _*)
      .select("n_nationkey").collect().map(_.getInt(0)).sorted.toSeq
    assert(keys == (100 until 125).toSeq, keys.toString)
    // both snapshots remain in history (time travel to pre-publish ok)
    val (_, m2) = IcebergMetadata.currentMetadata(tmp).get
    assert(m2.withArray[com.fasterxml.jackson.databind.node.ArrayNode](
        "snapshots").asScala.map(_.get("snapshot-id").asLong).toSet ==
      Set(c1.snapshotId, cb.snapshotId))
    // an abandoned second audit branch: drop + expire reclaims it
    nation.withColumn("n_nationkey", col("n_nationkey") + 500)
      .write.parquet(s"$tmp/d3")
    val cb2 = IcebergMetadata.commitToBranch(spark, tmp, s"$tmp/d3", "audit2")
    IcebergMetadata.dropRef(tmp, "audit2")
    IcebergMetadata.expireSnapshots(tmp, keepLast = 1): Unit
    val (_, m3) = IcebergMetadata.currentMetadata(tmp).get
    val left = m3.withArray[com.fasterxml.jackson.databind.node.ArrayNode](
        "snapshots").asScala.map(_.get("snapshot-id").asLong).toSet
    assert(!left.contains(cb2.snapshotId), left.toString)
    assert(left.contains(cb.snapshotId)) // published current survives
  }

  test("majorCompactMoR: deletes bake into a delete-free replace " +
       "snapshot; pre-compaction MoR history survives; binpack unlocks") {
    import org.apache.spark.sql.functions._
    import graft.operators.SystemColumns.{OlakeId, OpType, CdcTimestamp}
    val table = Files.createTempDirectory("graft_mjc").toString
    val ice = Files.createTempDirectory("graft_mjcice").toString
    spark.range(100).select(
      col("id").cast("string").as(OlakeId), col("id").as("v"))
      .write.parquet(s"$table/base")
    DeltaSegments.writeSegment(
      spark.range(10).select(col("id").cast("string").as(OlakeId),
          (col("id") + 1000).as("v"), lit("u").as(OpType),
          current_timestamp().as(CdcTimestamp), col("id").as("lsn"))
        .unionByName(spark.range(90, 100).select(
          col("id").cast("string").as(OlakeId), col("id").as("v"),
          lit("d").as(OpType), current_timestamp().as(CdcTimestamp),
          col("id").as("lsn"))), table, 1L)
    val c1 = IcebergMetadata.publishMoR(spark, ice, table)
    val (_, delBefore) = IcebergMetadata.manifestEntries(ice)
    assert(delBefore.nonEmpty) // the fixture really is delete-bearing

    val c2 = IcebergMetadata.majorCompactMoR(spark, ice,
      targetBytes = 2L << 10) // tiny target → several files, so the
                              // binpack pass below has victims to merge
    // delete-free: no delete entries; raw parquet = resolved view
    val (dataAfter, delAfter) = IcebergMetadata.manifestEntries(ice)
    assert(delAfter.isEmpty, delAfter.toString)
    val raw = spark.read.parquet(dataAfter.map(_._1): _*)
      .select(OlakeId, "v").collect()
      .map(r => (r.getString(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(raw.size == 90)
    assert(raw.toMap.apply("0") == 1000L) // update applied
    assert(!raw.exists(_._1 == "99"))     // delete applied
    // time travel: the pre-compaction snapshot still MoR-reads whole
    val old = IcebergMetadata.readMoR(spark, ice,
      asOfSnapshotId = Some(c1.snapshotId))
    assert(old.count() == 90)
    // the delete-free tree now accepts a binpack pass
    assert(c2.sequenceNumber == c1.sequenceNumber + 1)
    IcebergMetadata.binpackRewrite(spark, ice, targetBytes = 512L << 20,
      minFileBytes = 1L << 30): Unit // all files victims → merges fine
    val (_, m) = IcebergMetadata.currentMetadata(ice).get
    val snaps = m.get("snapshots")
    assert(snaps.get(snaps.size - 2).get("summary")
      .get("operation").asText == "replace")
  }

  test("binpackRewrite refuses a delete-bearing (MoR) table") {
    import org.apache.spark.sql.functions._
    import graft.operators.SystemColumns.{OlakeId, OpType, CdcTimestamp}
    val table = Files.createTempDirectory("graft_bpmor").toString
    val ice = Files.createTempDirectory("graft_bpmorice").toString
    spark.range(50).select(
      col("id").cast("string").as(OlakeId), col("id").as("v"))
      .write.parquet(s"$table/base")
    DeltaSegments.writeSegment(
      spark.range(5).select(col("id").cast("string").as(OlakeId),
        (col("id") + 100).as("v"), lit("u").as(OpType),
        current_timestamp().as(CdcTimestamp), col("id").as("lsn")),
      table, 1L)
    IcebergMetadata.publishMoR(spark, ice, table)
    val e = intercept[IllegalArgumentException](
      IcebergMetadata.binpackRewrite(spark, ice, targetBytes = 1L << 20))
    assert(e.getMessage.contains("compact the segment view first"))
  }

  test("PARTITIONED majorCompactMoR: deletes bake in per partition, the " +
       "spec-0 base is absorbed into the __p_ layout, tuples + field " +
       "summaries survive, and partition pruning still works") {
    import org.apache.spark.sql.functions._
    import graft.operators.SystemColumns.{OlakeId, OpType, CdcTimestamp}
    val table = Files.createTempDirectory("graft_pcmp").toString
    val ice = Files.createTempDirectory("graft_pcmpice").toString
    // base day 2024-03-05; segment upserts 5 rows onto day 2024-03-06
    // and deletes ids 90..99
    spark.range(100).select(
        col("id").cast("string").as(OlakeId), col("id").as("v"),
        to_timestamp(lit("2024-03-05 00:00:00")).as("ts"))
      .write.parquet(s"$table/base")
    DeltaSegments.writeSegment(
      spark.range(5).select(col("id").cast("string").as(OlakeId),
          (col("id") + 100).as("v"),
          to_timestamp(lit("2024-03-06 00:00:00")).as("ts"),
          lit("u").as(OpType),
          current_timestamp().as(CdcTimestamp), col("id").as("lsn"))
        .unionByName(spark.range(90, 100).select(
          col("id").cast("string").as(OlakeId), col("id").as("v"),
          to_timestamp(lit("2024-03-05 00:00:00")).as("ts"),
          lit("d").as(OpType), current_timestamp().as(CdcTimestamp),
          col("id").as("lsn"))), table, 1L)
    val c1 = IcebergMetadata.publishMoR(spark, ice, table,
      partitionRegex = Some("/{ts,day}"))
    val c2 = IcebergMetadata.majorCompactMoR(spark, ice,
      targetBytes = 512L << 20)
    assert(c2.sequenceNumber == c1.sequenceNumber + 1)
    // delete-free, and EVERY file (the old spec-0 base included) now
    // carries a day tuple
    val (dataAfter, delAfter) = IcebergMetadata.manifestEntries(ice)
    assert(delAfter.isEmpty)
    val stats = IcebergMetadata.dataFileStats(ice)
    assert(stats.nonEmpty && stats.forall(_.partition.length == 1),
      stats.map(_.partition).toString)
    val day5 = java.time.LocalDate.of(2024, 3, 5).toEpochDay.toInt
    val day6 = java.time.LocalDate.of(2024, 3, 6).toEpochDay.toInt
    assert(stats.map(_.partition.head).toSet == Set(day5, day6))
    // raw parquet = resolved rows (deletes truly baked in)
    val raw = spark.read.parquet(dataAfter.map(_._1): _*)
      .select(OlakeId, "v").collect()
      .map(r => (r.getString(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(raw.size == 90)
    assert(raw.toMap.apply("0") == 100L)  // upsert applied
    assert(!raw.exists(_._1 == "99"))     // delete applied
    // specs carried forward verbatim (multi-spec: unpartitioned 0 +
    // day spec 1, default still the partitioned one)
    val (_, meta) = IcebergMetadata.currentMetadata(ice).get
    assert(meta.get("partition-specs").size == 2)
    assert(meta.get("default-spec-id").asInt == 1)
    // partition pruning still works end-to-end on the compacted tree
    val only6 = IcebergMetadata.readPartitionPruned(spark, ice,
      day6, day6).select(OlakeId).collect().map(_.getString(0)).sorted
    assert(only6.toSeq == (0 until 5).map(_.toString).sorted.toSeq)
  }

  test("PARTITIONED binpackRewrite: victim sets form WITHIN each day, " +
       "outputs land under the same __p_ layout, below-floor days carry " +
       "forward as EXISTING with tuples verbatim, pruning intact") {
    import org.apache.spark.sql.functions._
    val ice = Files.createTempDirectory("graft_pbp").toString
    val day = (d: Int) => s"2024-03-0$d 00:00:00"
    // skewed days: day 5 holds 4000 rows, days 6/7 hold 100 each —
    // after fragmentation only day 5 accrues a mergeable victim set
    val df = spark.range(4200).select(col("id"),
      concat(lit("payload-"), col("id")).as("body"),
      to_timestamp(
        when(col("id") < 4000, day(5))
          .when(col("id") < 4100, day(6)).otherwise(day(7))).as("ts"))
    IcebergMetadata.publishPartitioned(spark, ice, df, "/{ts,day}"): Unit
    // fragment everything (tiny target, floor 1): day 5 splits into
    // several small files; days 6/7 are too small to split (1 file)
    val c2 = IcebergMetadata.binpackRewrite(spark, ice,
      targetBytes = 4L << 10, minFileBytes = 1L << 30,
      minInputFiles = 1).get
    val frag = IcebergMetadata.dataFileStats(ice)
    val day5 = java.time.LocalDate.of(2024, 3, 5).toEpochDay.toInt
    val perDay = frag.groupBy(_.partition.head).view.mapValues(_.size).toMap
    assert(perDay(day5) >= 2, perDay.toString)
    assert(perDay.size == 3)
    val keepSmallDays = frag.filterNot(_.partition.head == day5)
    assert(keepSmallDays.forall(_.addedSnapshotId == c2.snapshotId))
    // merge with the default floor (2): ONLY day 5's group qualifies;
    // days 6/7 carry forward as EXISTING — tuple, sequence number and
    // ORIGINAL adding snapshot id all verbatim
    val c3 = IcebergMetadata.binpackRewrite(spark, ice,
      targetBytes = 512L << 20).get
    assert(c3.sequenceNumber == c2.sequenceNumber + 1)
    val merged = IcebergMetadata.dataFileStats(ice)
    assert(merged.count(_.partition.head == day5) == 1,
      merged.map(_.path).toString)
    assert(merged.forall(_.partition.length == 1))
    val keptAfter = merged.filterNot(_.partition.head == day5)
    assert(keptAfter.map(_.path).toSet == keepSmallDays.map(_.path).toSet)
    keptAfter.foreach { k =>
      val orig = keepSmallDays.find(_.path == k.path).get
      assert(k.partition == orig.partition)             // tuple verbatim
      assert(k.seq == orig.seq)                         // data sequence
      assert(k.addedSnapshotId == orig.addedSnapshotId) // original snap
    }
    // row set identical through both rewrites
    val got = spark.read.parquet(merged.map(_.path): _*)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(got == (0L until 4200L).toSeq)
    // manifests still summarize partition ranges → the pruned read
    // returns exactly day 5 from the rewritten tree
    val kept5 = IcebergMetadata.readPartitionPruned(spark, ice, day5, day5)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(kept5 == (0L until 4000L).toSeq)
    // per-partition idempotence frontier: no day has a mergeable set
    assert(IcebergMetadata.binpackRewrite(spark, ice,
      targetBytes = 512L << 20).isEmpty)
  }

  test("PARTITIONED sortRewrite: per-partition clustering — scans prune " +
       "on BOTH the partition tuple and the per-file sort-column bounds") {
    import org.apache.spark.sql.functions._
    val ice = Files.createTempDirectory("graft_psort").toString
    val day = (d: Int) => s"2024-03-0$d 00:00:00"
    // v is key-scrambled within each day so the pre-rewrite file
    // bounds are useless
    val df = spark.range(4000).select(col("id"),
      pmod(col("id") * 2654435761L, lit(4000L)).as("v"),
      to_timestamp(when(col("id") % 2 === 0, day(5)).otherwise(day(6)))
        .as("ts"))
    IcebergMetadata.publishPartitioned(spark, ice, df, "/{ts,day}")
    // fragment each day so there are multiple files to cluster
    IcebergMetadata.binpackRewrite(spark, ice,
      targetBytes = 4L << 10, minFileBytes = 1L << 30): Unit
    val beforeFiles = IcebergMetadata.dataFileStats(ice)
    val beforePruned =
      IcebergMetadata.pruneDataFiles(ice, "v", 100, 500).size
    assert(beforePruned == beforeFiles.size) // scrambled → no pruning

    val c = IcebergMetadata.sortRewrite(spark, ice,
      targetBytes = 4L << 10, sortCols = Seq("v"))
    val after = IcebergMetadata.dataFileStats(ice)
    assert(after.forall(_.partition.length == 1)) // tuples survive
    assert(after.size >= 8)
    // file-bound pruning now pays: the 10% v-box keeps a minority
    val afterPruned = IcebergMetadata.pruneDataFiles(ice, "v", 100, 500)
    assert(afterPruned.size * 2 <= after.size,
      s"pruned ${afterPruned.size} of ${after.size}")
    // AND partition pruning still works on the re-clustered tree
    val day5 = java.time.LocalDate.of(2024, 3, 5).toEpochDay.toInt
    val got5 = IcebergMetadata.readPartitionPruned(spark, ice, day5, day5)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(got5 == (0L until 4000L by 2).toSeq)
    // row set is a pure permutation
    val all = spark.read.parquet(after.map(_.path): _*)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(all == (0L until 4000L).toSeq)
    // the identity order landed as the table default
    val (_, meta) = IcebergMetadata.currentMetadata(ice).get
    assert(meta.get("default-sort-order-id").asInt == 1)
    val snaps = meta.get("snapshots")
    assert(snaps.get(snaps.size - 1).get("summary")
      .get("sort-columns").asText == "v")
    assert(c.addedFiles == after.size)
  }

  test("fast-append: the new manifest list = prior rows VERBATIM + one " +
       "new manifest — O(new files) metadata; time travel and expiry " +
       "still work over the accumulated tree") {
    import org.apache.spark.sql.functions.col
    import scala.jdk.CollectionConverters._
    val tmp = Files.createTempDirectory("graft_fastapp").toString
    val nation = Tables.load(spark, "/root/testdata/sf0.001", "nation")
    nation.write.parquet(s"$tmp/d1")
    val c1 = IcebergMetadata.commit(spark, tmp, s"$tmp/d1")
    nation.withColumn("n_nationkey", col("n_nationkey") + 100)
      .write.parquet(s"$tmp/d2")
    val c2 = IcebergMetadata.appendCommit(spark, tmp, s"$tmp/d2")
    def rows(f: File) = {
      val r = new DataFileReader(f, new GenericDatumReader[GenericRecord]())
      try r.iterator().asScala.toList finally r.close()
    }
    def listOf(c: IcebergMetadata.Commit) =
      rows(new File(c.manifestListPath))
    val l1 = listOf(c1); val l2 = listOf(c2)
    assert(l1.size == 1 && l2.size == 2)
    // row 0 of the append's list IS the prior row, field for field —
    // same manifest file on disk, same adding snapshot, same counts
    for (f <- Seq("manifest_path", "manifest_length", "added_snapshot_id",
        "added_files_count", "added_rows_count", "sequence_number"))
      assert(l2.head.get(f) == l1.head.get(f), f)
    assert(l2(1).get("added_snapshot_id") == c2.snapshotId)
    // sequence chain + accumulated read
    assert(c2.sequenceNumber == c1.sequenceNumber + 1)
    val keys = spark.read
      .parquet(IcebergMetadata.dataFilePaths(tmp): _*)
      .select("n_nationkey").collect().map(_.getInt(0)).sorted.toSeq
    assert(keys == ((0 until 25) ++ (100 until 125)).toSeq)
    // time travel to the base still reads only d1
    assert(IcebergMetadata.dataFileStats(tmp, Some(c1.snapshotId))
      .forall(_.path.contains("/d1/")))
    // expiring the base snapshot must NOT delete the shared manifest
    // the append's list still references
    assert(IcebergMetadata.expireSnapshots(tmp, keepLast = 1) == 1)
    val after = spark.read
      .parquet(IcebergMetadata.dataFilePaths(tmp): _*)
      .select("n_nationkey").collect().map(_.getInt(0)).sorted.toSeq
    assert(after == keys, "shared manifest must survive base expiry")
  }

  test("autoMaintain: the composed table service — MoR compacts then " +
       "binpacks; an append-accumulated table consolidates manifests; " +
       "history expires to the floor and orphans sweep; rows intact") {
    import org.apache.spark.sql.functions._
    import graft.operators.SystemColumns.{OlakeId, OpType, CdcTimestamp}
    import scala.jdk.CollectionConverters._
    // scenario 1: delete-bearing MoR table
    val table = Files.createTempDirectory("graft_am_t").toString
    val ice = Files.createTempDirectory("graft_am_i").toString
    spark.range(100).select(
        col("id").cast("string").as(OlakeId), col("id").as("v"))
      .write.parquet(s"$table/base")
    DeltaSegments.writeSegment(
      spark.range(10).select(col("id").cast("string").as(OlakeId),
          (col("id") + 1000).as("v"), lit("u").as(OpType),
          current_timestamp().as(CdcTimestamp), col("id").as("lsn"))
        .unionByName(spark.range(90, 100).select(
          col("id").cast("string").as(OlakeId), col("id").as("v"),
          lit("d").as(OpType), current_timestamp().as(CdcTimestamp),
          col("id").as("lsn"))), table, 1L)
    IcebergMetadata.publishMoR(spark, ice, table)
    val steps = IcebergMetadata.autoMaintain(spark, ice,
      targetBytes = 512L << 20)
    assert(steps("compact").contains("applied"), steps.toString)
    val (_, delAfter) = IcebergMetadata.manifestEntries(ice)
    assert(delAfter.isEmpty)
    val rows = spark.read
      .parquet(IcebergMetadata.dataFilePaths(ice): _*)
      .select(OlakeId, "v").collect()
      .map(r => (r.getString(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(rows.size == 90 && rows.toMap.apply("0") == 1000L)
    // history trimmed to the keepLast floor
    val (_, m1) = IcebergMetadata.currentMetadata(ice).get
    assert(m1.withArray[com.fasterxml.jackson.databind.node.ArrayNode](
      "snapshots").size <= 2)

    // scenario 2: fast-append accumulation → manifests consolidate
    val tmp = Files.createTempDirectory("graft_am_fa").toString
    val nation = Tables.load(spark, "/root/testdata/sf0.001", "nation")
    nation.write.parquet(s"$tmp/d0")
    IcebergMetadata.commit(spark, tmp, s"$tmp/d0"): Unit
    (1 to 6).foreach { i =>
      nation.withColumn("n_nationkey", col("n_nationkey") + i * 100)
        .write.parquet(s"$tmp/d$i")
      IcebergMetadata.appendCommit(spark, tmp, s"$tmp/d$i"): Unit
    }
    val steps2 = IcebergMetadata.autoMaintain(spark, tmp,
      targetBytes = 1L << 20)
    assert(steps2("compact").contains("skip"), steps2.toString)
    // either binpack already merged everything into one manifest or
    // the consolidation step did — both end consolidated
    val (_, m2) = IcebergMetadata.currentMetadata(tmp).get
    val curId = m2.get("current-snapshot-id").asLong
    val listN = {
      val lf = m2.withArray[com.fasterxml.jackson.databind.node
          .ArrayNode]("snapshots").asScala
        .find(_.get("snapshot-id").asLong == curId).get
        .get("manifest-list").asText
      val r = new DataFileReader(new File(lf),
        new GenericDatumReader[GenericRecord]())
      try r.iterator().asScala.size finally r.close()
    }
    assert(listN <= 2, s"append accumulation must consolidate: $listN")
    val keys = spark.read
      .parquet(IcebergMetadata.dataFilePaths(tmp): _*)
      .select("n_nationkey").collect().map(_.getInt(0)).sorted.toSeq
    assert(keys == (0 to 6).flatMap(i => (i * 100) until (i * 100 + 25)))
  }

  test("PARTITIONED fast-append: new day lands under the __p_ layout " +
       "with tuples + summaries, prior manifests ride verbatim, both " +
       "pruning levels work; a later rewriteManifests re-groups tuples") {
    import org.apache.spark.sql.functions._
    import scala.jdk.CollectionConverters._
    val ice = Files.createTempDirectory("graft_pfa").toString
    val day = (d: Int) => s"2024-03-0$d 00:00:00"
    def rowsFor(dNum: Int, lo: Long, hi: Long) =
      spark.range(lo, hi).select(col("id"),
        to_timestamp(lit(day(dNum))).as("ts"))
    IcebergMetadata.publishPartitioned(spark, ice,
      rowsFor(5, 0, 500).unionByName(rowsFor(6, 500, 1000)),
      "/{ts,day}"): Unit
    val c2 = IcebergMetadata.appendCommitPartitioned(spark, ice,
      rowsFor(7, 1000, 1500))
    // prior manifest rows verbatim + the appended day prunable
    val (_, meta) = IcebergMetadata.currentMetadata(ice).get
    val snap = meta.withArray[com.fasterxml.jackson.databind.node
        .ArrayNode]("snapshots").asScala
      .find(_.get("snapshot-id").asLong == c2.snapshotId).get
    val l2 = {
      val r = new DataFileReader(
        new File(snap.get("manifest-list").asText),
        new GenericDatumReader[GenericRecord]())
      try r.iterator().asScala.toList finally r.close()
    }
    assert(l2.size == 2)
    assert(l2.last.get("added_snapshot_id") == c2.snapshotId)
    val day5 = java.time.LocalDate.of(2024, 3, 5).toEpochDay.toInt
    val day7 = java.time.LocalDate.of(2024, 3, 7).toEpochDay.toInt
    val got7 = IcebergMetadata.readPartitionPruned(spark, ice, day7, day7)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(got7 == (1000L until 1500L).toSeq)
    val got5 = IcebergMetadata.readPartitionPruned(spark, ice, day5, day5)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(got5 == (0L until 500L).toSeq)
    // manifest-level pruning skips the pre-append manifest for day 7
    val kept7 = IcebergMetadata.pruneManifests(ice, day7, day7)
    assert(kept7.size == 1, kept7.toString)
    // consolidation after appends keeps tuples + the full row set
    IcebergMetadata.rewriteManifests(spark, ice): Unit
    val stats = IcebergMetadata.dataFileStats(ice)
    assert(stats.forall(_.partition.length == 1))
    val all = spark.read.parquet(stats.map(_.path): _*)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(all == (0L until 1500L).toSeq)
  }

  test("rewriteManifests: per-append manifests consolidate (planning " +
       "rows drop), EXISTING entries keep original ids, delete " +
       "manifests carry verbatim and the MoR algebra still resolves") {
    import org.apache.spark.sql.functions._
    import graft.operators.SystemColumns.{OlakeId, OpType, CdcTimestamp}
    import scala.jdk.CollectionConverters._
    def listRows(dir: String) = {
      val (_, meta) = IcebergMetadata.currentMetadata(dir).get
      val id = meta.get("current-snapshot-id").asLong
      val snap = meta.withArray[com.fasterxml.jackson.databind.node
          .ArrayNode]("snapshots").asScala
        .find(_.get("snapshot-id").asLong == id).get
      val r = new DataFileReader(
        new File(snap.get("manifest-list").asText),
        new GenericDatumReader[GenericRecord]())
      try r.iterator().asScala.toList finally r.close()
    }
    // plain fast-append cadence: 1 base + 4 appends = 5 manifests → 1
    val tmp = Files.createTempDirectory("graft_rwm").toString
    val nation = Tables.load(spark, "/root/testdata/sf0.001", "nation")
    nation.write.parquet(s"$tmp/d0")
    IcebergMetadata.commit(spark, tmp, s"$tmp/d0"): Unit
    (1 to 4).foreach { i =>
      nation.withColumn("n_nationkey", col("n_nationkey") + i * 100)
        .write.parquet(s"$tmp/d$i")
      IcebergMetadata.appendCommit(spark, tmp, s"$tmp/d$i"): Unit
    }
    assert(listRows(tmp).size == 5)
    IcebergMetadata.rewriteManifests(spark, tmp): Unit
    val consolidated = listRows(tmp)
    assert(consolidated.size == 1, consolidated.size)
    // consolidated entries are EXISTING, counted as existing_*
    assert(consolidated.head.get("added_files_count") == 0)
    assert(consolidated.head.get("existing_files_count")
      .asInstanceOf[Int] >= 5)
    val keys = spark.read
      .parquet(IcebergMetadata.dataFilePaths(tmp): _*)
      .select("n_nationkey").collect().map(_.getInt(0)).sorted.toSeq
    assert(keys == (0 to 4).flatMap(i => (i * 100) until (i * 100 + 25)))

    // MoR table: the delete manifest rides verbatim; the resolved view
    // is unchanged after consolidation
    val table = Files.createTempDirectory("graft_rwm_t").toString
    val ice = Files.createTempDirectory("graft_rwm_i").toString
    spark.range(50).select(
        col("id").cast("string").as(OlakeId), col("id").as("v"))
      .write.parquet(s"$table/base")
    DeltaSegments.writeSegment(
      spark.range(5).select(col("id").cast("string").as(OlakeId),
        (col("id") + 100).as("v"), lit("u").as(OpType),
        current_timestamp().as(CdcTimestamp), col("id").as("lsn")),
      table, 1L)
    IcebergMetadata.publishMoR(spark, ice, table)
    val beforeRows = IcebergMetadata.readMoR(spark, ice)
      .select(OlakeId, "v").collect()
      .map(r => (r.getString(0), r.getLong(1))).sorted.toSeq
    val delBefore = listRows(ice).count(
      _.get("content").asInstanceOf[Int] == 1)
    assert(delBefore >= 1)
    IcebergMetadata.rewriteManifests(spark, ice): Unit
    assert(listRows(ice).count(
      _.get("content").asInstanceOf[Int] == 1) == delBefore)
    val afterRows = IcebergMetadata.readMoR(spark, ice)
      .select(OlakeId, "v").collect()
      .map(r => (r.getString(0), r.getLong(1))).sorted.toSeq
    assert(afterRows == beforeRows)
  }

  test("PARTITIONED z-order rewrite: per-partition Morton clustering — " +
       "single-axis boxes prune inside each day; the scratch __z never " +
       "lands in the data files; order reverts to unsorted") {
    import org.apache.spark.sql.functions._
    val ice = Files.createTempDirectory("graft_pzord").toString
    val day = (d: Int) => s"2024-03-0$d 00:00:00"
    // x/y are key-scrambled so pre-rewrite bounds are useless
    val df = spark.range(4000).select(
      col("id"),
      pmod(col("id") * 2654435761L, lit(2000L)).as("x"),
      pmod(col("id") * 40503L, lit(2000L)).as("y"),
      to_timestamp(when(col("id") % 2 === 0, day(5)).otherwise(day(6)))
        .as("ts"))
    IcebergMetadata.publishPartitioned(spark, ice, df, "/{ts,day}"): Unit
    IcebergMetadata.sortRewrite(spark, ice, targetBytes = 4L << 10,
      sortCols = Seq("x", "y"), zorder = true): Unit
    val stats = IcebergMetadata.dataFileStats(ice)
    assert(stats.forall(_.partition.length == 1)) // tuples survive
    assert(stats.size >= 8)
    // the scratch z column must not leak into the data files
    val cols = spark.read.parquet(stats.head.path).columns.toSet
    assert(cols == Set("id", "x", "y", "ts"), cols.toString)
    // a 10% single-axis box prunes under z (both axes interleave)
    val prunedX = IcebergMetadata.pruneDataFiles(ice, "x", 100, 300)
    assert(prunedX.size < stats.size,
      s"z-order must prune: kept ${prunedX.size} of ${stats.size}")
    // row set is a pure permutation
    val all = spark.read.parquet(stats.map(_.path): _*)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(all == (0L until 4000L).toSeq)
    // z-order has no spec sort-order form: default stays/reverts to 0,
    // columns ride the snapshot summary
    val (_, meta) = IcebergMetadata.currentMetadata(ice).get
    assert(meta.get("default-sort-order-id").asInt == 0)
    val snaps = meta.get("snapshots")
    assert(snaps.get(snaps.size - 1).get("summary")
      .get("zorder-columns").asText == "x,y")
    // partition pruning still works on the z-clustered tree
    val day6 = java.time.LocalDate.of(2024, 3, 6).toEpochDay.toInt
    val got6 = IcebergMetadata.readPartitionPruned(spark, ice, day6, day6)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(got6 == (1L until 4000L by 2).toSeq)
  }

  test("maintenance replace snapshots re-walk under the independent " +
       "decoder: EXISTING/ADDED statuses, per-entry snapshot ids, " +
       "manifest-list counts and partition field-ids all reconcile") {
    // extends the spec cross-vector trust chain (the external-reader
    // stand-in while no official Iceberg jar can enter the sandbox) to
    // the NEW snapshot producers: a binpack merge whose snapshot mixes
    // ADDED rewrite outputs with EXISTING carry-forwards is re-walked
    // with a raw Avro reader and reconciled field by field.
    import org.apache.spark.sql.functions._
    import scala.jdk.CollectionConverters._
    val ice = Files.createTempDirectory("graft_mvec").toString
    val day = (d: Int) => s"2024-03-0$d 00:00:00"
    val df = spark.range(2200).select(col("id"),
      concat(lit("body-"), col("id")).as("body"),
      to_timestamp(when(col("id") < 2000, day(5)).otherwise(day(6)))
        .as("ts"))
    IcebergMetadata.publishPartitioned(spark, ice, df, "/{ts,day}"): Unit
    // fragment (everything rewrites), then merge: the merge snapshot
    // carries ADDED (day-5 rewrite output) and EXISTING (day-6
    // below-floor carry-forward) entries in the same tree
    val cSplit = IcebergMetadata.binpackRewrite(spark, ice,
      targetBytes = 4L << 10, minFileBytes = 1L << 30,
      minInputFiles = 1).get
    val cMerge = IcebergMetadata.binpackRewrite(spark, ice,
      targetBytes = 512L << 20).get
    val (_, meta) = IcebergMetadata.currentMetadata(ice).get
    val snap = meta.withArray[com.fasterxml.jackson.databind.node
        .ArrayNode]("snapshots").asScala
      .find(_.get("snapshot-id").asLong == cMerge.snapshotId).get
    assert(snap.get("summary").get("operation").asText == "replace")
    val listFile = new File(snap.get("manifest-list").asText)
    assert(listFile.getName.startsWith(s"snap-${cMerge.snapshotId}-"))
    def rows(f: File) = {
      val r = new DataFileReader(f, new GenericDatumReader[GenericRecord]())
      try r.iterator().asScala.toList finally r.close()
    }
    val listRows = rows(listFile)
    var added = 0; var existing = 0
    var addedRows = 0L; var existingRows = 0L
    var sawExisting = false; var sawAdded = false
    listRows.foreach { m =>
      added += m.get("added_files_count").asInstanceOf[Int]
      existing += m.get("existing_files_count").asInstanceOf[Int]
      addedRows += m.get("added_rows_count").asInstanceOf[Long]
      existingRows += m.get("existing_rows_count").asInstanceOf[Long]
      val entries = rows(new File(m.get("manifest_path").toString))
      // per-manifest counts reconcile against the entries themselves
      assert(entries.count(_.get("status") == 1) ==
        m.get("added_files_count"))
      assert(entries.count(_.get("status") == 0) ==
        m.get("existing_files_count"))
      // sequence rollups
      val seqs = entries.map(_.get("sequence_number").asInstanceOf[Long])
      assert(m.get("sequence_number") == seqs.max)
      assert(m.get("min_sequence_number") == seqs.min)
      entries.foreach { e =>
        val st = e.get("status").asInstanceOf[Int]
        assert(st == 0 || st == 1)
        if (st == 1) { sawAdded = true
          assert(e.get("snapshot_id") == cMerge.snapshotId)
        } else { sawExisting = true
          // EXISTING keeps the ORIGINAL adding snapshot + data sequence
          assert(e.get("snapshot_id") == cSplit.snapshotId)
          assert(e.get("sequence_number") == cSplit.sequenceNumber)
        }
        // partition record: spec field-id 1000; the tuple value matches
        // the file's hive dir
        val dfr = e.get("data_file").asInstanceOf[GenericRecord]
        val pRec = dfr.get("partition").asInstanceOf[GenericRecord]
        val pf = pRec.getSchema.getFields.asScala.toSeq
        assert(pf.map(_.getObjectProp("field-id")) == Seq(1000))
        val pVal = pRec.get(pf.head.name()).asInstanceOf[Int]
        assert(dfr.get("file_path").toString.contains(s"=$pVal"),
          dfr.get("file_path").toString)
      }
    }
    assert(sawAdded && sawExisting, "fixture must exercise both statuses")
    // totals reconcile with the table: every live row counted once
    assert(addedRows + existingRows == 2200L)
    assert(added + existing == IcebergMetadata.dataFilePaths(ice).size)
  }

  test("refs survive fastForward/rollback; sort orders survive appends; " +
       "age-based expiration honors tag pins and the retain-last floor") {
    import org.apache.spark.sql.functions.col
    import scala.jdk.CollectionConverters._
    val tmp = Files.createTempDirectory("graft_refsafety").toString
    val nation = Tables.load(spark, "/root/testdata/sf0.001", "nation")
    nation.write.parquet(s"$tmp/d1")
    val c1 = IcebergMetadata.commit(spark, tmp, s"$tmp/d1")
    IcebergMetadata.setRef(tmp, "train-run-1", c1.snapshotId) // tag pin
    // a sort rewrite stamps order 1 as the default
    IcebergMetadata.sortRewrite(spark, tmp, targetBytes = 1L << 20,
      sortCols = Seq("n_nationkey")): Unit
    // WAP: stage on a branch, then publish via fastForward — the
    // fast-forward is a ref-only metadata commit and MUST carry every
    // other ref (the tag, the branch itself) forward verbatim
    nation.withColumn("n_nationkey", col("n_nationkey") + 100)
      .write.parquet(s"$tmp/d2")
    val cb = IcebergMetadata.commitToBranch(spark, tmp, s"$tmp/d2", "audit")
    IcebergMetadata.fastForward(tmp, "audit")
    val (_, m) = IcebergMetadata.currentMetadata(tmp).get
    val refNames = m.get("refs").fieldNames.asScala.toSet
    assert(refNames == Set("main", "train-run-1", "audit"), refNames)
    assert(m.get("refs").get("train-run-1").get("snapshot-id").asLong ==
      c1.snapshotId)
    assert(m.get("refs").get("audit").get("snapshot-id").asLong ==
      cb.snapshotId)
    // sort orders: the fast-forward (an ordinary metadata mutation)
    // and a later plain append both PRESERVE order 1 as the default —
    // the clustering advertisement must not reset to unsorted
    nation.withColumn("n_nationkey", col("n_nationkey") + 300)
      .write.parquet(s"$tmp/d3")
    IcebergMetadata.commit(spark, tmp, s"$tmp/d3"): Unit
    val (_, m2) = IcebergMetadata.currentMetadata(tmp).get
    assert(m2.get("default-sort-order-id").asInt == 1)
    assert(m2.get("sort-orders").size == 2)
    assert(m2.get("sort-orders").get(1).get("order-id").asInt == 1)
    // age-based expiration: everything predates the horizon, but the
    // tag pins c1, the current snapshot always survives, and
    // retain-last floors the main lineage
    val horizon = System.currentTimeMillis() + 3600_000L
    val n1 = IcebergMetadata.expireSnapshotsOlderThan(tmp, horizon,
      retainLast = 1)
    val (_, m3) = IcebergMetadata.currentMetadata(tmp).get
    val left = m3.withArray[com.fasterxml.jackson.databind.node.ArrayNode](
      "snapshots").asScala.map(_.get("snapshot-id").asLong).toSet
    assert(left.contains(c1.snapshotId))   // tag-pinned survives
    assert(left.contains(m3.get("current-snapshot-id").asLong))
    assert(n1 >= 1)
    // a horizon in the past expires nothing
    assert(IcebergMetadata.expireSnapshotsOlderThan(tmp, 1000L) == 0)
    // dropping the tag releases the pin
    IcebergMetadata.dropRef(tmp, "train-run-1")
    val n2 = IcebergMetadata.expireSnapshotsOlderThan(tmp, horizon)
    val (_, m4) = IcebergMetadata.currentMetadata(tmp).get
    val left2 = m4.withArray[com.fasterxml.jackson.databind.node.ArrayNode](
      "snapshots").asScala.map(_.get("snapshot-id").asLong).toSet
    assert(!left2.contains(c1.snapshotId) || left2.size == 1, left2)
    assert(n2 >= 1)
  }

  test("fast-append snapshots re-walk under the independent decoder: " +
       "carried manifest-list rows are VERBATIM copies of the base " +
       "snapshot's rows, plus exactly one ADDED manifest") {
    // extends the external-reader trust chain (official jar still
    // blocked) to the appendCommit manifest LIST: an incremental
    // reader keys "what changed since snapshot X" on exactly these
    // carried fields, so any drift (re-stamped added_snapshot_id,
    // recomputed counts) silently corrupts incremental consumption.
    import org.apache.spark.sql.functions._
    import scala.jdk.CollectionConverters._
    val ice = Files.createTempDirectory("graft_favec").toString
    val nation = Tables.load(spark, "/root/testdata/sf0.001", "nation")
    nation.write.parquet(s"$ice/d0")
    val c0 = IcebergMetadata.commit(spark, ice, s"$ice/d0")
    def listRowsOf(snapId: Long): Seq[GenericRecord] = {
      val (_, meta) = IcebergMetadata.currentMetadata(ice).get
      val snap = meta.withArray[com.fasterxml.jackson.databind.node
          .ArrayNode]("snapshots").asScala
        .find(_.get("snapshot-id").asLong == snapId).get
      val f = new File(snap.get("manifest-list").asText)
      val r = new DataFileReader(f, new GenericDatumReader[GenericRecord]())
      try r.iterator().asScala.toList finally r.close()
    }
    val baseRows = listRowsOf(c0.snapshotId)
    nation.withColumn("n_nationkey", col("n_nationkey") + 100)
      .write.parquet(s"$ice/d1")
    val c1 = IcebergMetadata.appendCommit(spark, ice, s"$ice/d1")
    nation.withColumn("n_nationkey", col("n_nationkey") + 200)
      .write.parquet(s"$ice/d2")
    val c2 = IcebergMetadata.appendCommit(spark, ice, s"$ice/d2")
    val rows1 = listRowsOf(c1.snapshotId)
    val rows2 = listRowsOf(c2.snapshotId)
    // append k's list = append k-1's rows VERBATIM ++ one new manifest
    assert(rows1.size == baseRows.size + 1)
    assert(rows2.size == rows1.size + 1)
    rows2.init.zip(rows1).foreach { case (carried, orig) =>
      assert(carried.toString == orig.toString,
        s"carried row drifted:\n$carried\nvs\n$orig")
    }
    rows1.init.zip(baseRows).foreach { case (carried, orig) =>
      assert(carried.toString == orig.toString)
    }
    // the one new row: this snapshot's id, ADDED counts only, its own
    // sequence number — and its manifest's entries all status 1
    val fresh = rows2.last
    assert(fresh.get("added_snapshot_id") == c2.snapshotId)
    assert(fresh.get("sequence_number") == c2.sequenceNumber)
    assert(fresh.get("min_sequence_number") == c2.sequenceNumber)
    assert(fresh.get("existing_files_count") == Int.box(0))
    assert(fresh.get("added_rows_count") == Long.box(25L))
    val r = new DataFileReader(
      new File(fresh.get("manifest_path").toString),
      new GenericDatumReader[GenericRecord]())
    val entries = try r.iterator().asScala.toList finally r.close()
    assert(entries.nonEmpty)
    entries.foreach { e =>
      assert(e.get("status") == Int.box(1))
      assert(e.get("snapshot_id") == c2.snapshotId)
      assert(e.get("sequence_number") == c2.sequenceNumber)
    }
    // carried prefix still names live manifests whose entry walk
    // reaches all three commits' rows exactly once
    assert(IcebergMetadata.dataFileStats(ice).map(_.recordCount).sum == 75L)
  }

  test("rewrite-manifests snapshots re-walk under the independent " +
       "decoder: data entries EXISTING under original ids/sequences, " +
       "delete-manifest rows carried verbatim, rollups reconcile") {
    import org.apache.spark.sql.functions._
    import scala.jdk.CollectionConverters._
    import graft.operators.SystemColumns.{OlakeId, OpType, CdcTimestamp}
    // delete-BEARING fixture: a MoR publish (eq-delete manifest) plus
    // two fast-appends accumulating small manifests
    val table = Files.createTempDirectory("graft_rmvec_t").toString
    val ice = Files.createTempDirectory("graft_rmvec_i").toString
    spark.range(50).select(col("id").cast("string").as(OlakeId),
        col("id").as("v"))
      .write.parquet(s"$table/base")
    DeltaSegments.writeSegment(
      spark.range(5).select(col("id").cast("string").as(OlakeId),
        (col("id") + 500).as("v"), lit("u").as(OpType),
        current_timestamp().as(CdcTimestamp), col("id").as("lsn")),
      table, 1L)
    val cPub = IcebergMetadata.publishMoR(spark, ice, table)
    def listRows(snapId: Long): Seq[GenericRecord] = {
      val (_, meta) = IcebergMetadata.currentMetadata(ice).get
      val snap = meta.withArray[com.fasterxml.jackson.databind.node
          .ArrayNode]("snapshots").asScala
        .find(_.get("snapshot-id").asLong == snapId).get
      val r = new DataFileReader(
        new File(snap.get("manifest-list").asText),
        new GenericDatumReader[GenericRecord]())
      try r.iterator().asScala.toList finally r.close()
    }
    val delRowsBefore = listRows(cPub.snapshotId)
      .filter(_.get("content") == Int.box(1))
    assert(delRowsBefore.nonEmpty, "fixture must carry a delete manifest")
    // live entries BEFORE, keyed by path → (seq, adding snapshot)
    val before = IcebergMetadata.dataFileStats(ice)
      .filter(_.content == 0)
      .map(e => e.path -> (e.seq, e.addedSnapshotId)).toMap
    val cRw = IcebergMetadata.rewriteManifests(spark, ice, groupSize = 4)
    val rowsAfter = listRows(cRw.snapshotId)
    // delete rows VERBATIM from the previous list
    val delRowsAfter = rowsAfter.filter(_.get("content") == Int.box(1))
    assert(delRowsAfter.map(_.toString) == delRowsBefore.map(_.toString))
    // data manifests: every entry EXISTING (status 0) under its
    // ORIGINAL adding-snapshot id and sequence number; list-row
    // rollups reconcile against the re-walked entries
    val dataRows = rowsAfter.filter(_.get("content") == Int.box(0))
    dataRows.foreach { m =>
      assert(m.get("added_snapshot_id") == cRw.snapshotId)
      val r2 = new DataFileReader(
        new File(m.get("manifest_path").toString),
        new GenericDatumReader[GenericRecord]())
      val entries = try r2.iterator().asScala.toList finally r2.close()
      assert(entries.count(_.get("status") == Int.box(0)) ==
        m.get("existing_files_count"))
      assert(m.get("added_files_count") == Int.box(0))
      val seqs = entries.map(_.get("sequence_number").asInstanceOf[Long])
      assert(m.get("sequence_number") == seqs.max)
      assert(m.get("min_sequence_number") == seqs.min)
      entries.foreach { e =>
        val p = e.get("data_file").asInstanceOf[GenericRecord]
          .get("file_path").toString
        val (seq, addedBy) = before(p)
        assert(e.get("status") == Int.box(0))
        assert(e.get("sequence_number") == Long.box(seq),
          s"sequence re-stamped for $p")
        assert(e.get("snapshot_id") == Long.box(addedBy),
          s"adding snapshot re-stamped for $p")
      }
    }
    // coverage: every live data path appears exactly once after rewrite
    val pathsAfter = IcebergMetadata.dataFileStats(ice)
      .filter(_.content == 0).map(_.path)
    assert(pathsAfter.sorted == before.keys.toSeq.sorted)
    assert(pathsAfter.distinct.size == pathsAfter.size)
    // and the MoR read algebra still resolves identically
    val got = IcebergMetadata.readMoR(spark, ice)
      .select(col(OlakeId), col("v")).collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(got.size == 50 && got("0") == 500L && got("10") == 10L)
  }

  test("cherry-pick snapshots re-walk under the independent decoder: " +
       "head manifests carried verbatim, picked entries re-sequenced " +
       "at the new commit's sequence, source-snapshot-id recorded") {
    // extends the external-reader trust chain to the WAP publish-onto-
    // moved-head path: a consumer replays the pick as a plain append
    // whose files are the branch snapshot's files IN PLACE (zero
    // copies) at a FRESH sequence — any drift (head rows re-stamped,
    // picked entries keeping the branch sequence) double-counts or
    // time-travels rows for an incremental reader.
    import org.apache.spark.sql.functions._
    import scala.jdk.CollectionConverters._
    val ice = Files.createTempDirectory("graft_cpvec").toString
    val nation = Tables.load(spark, "/root/testdata/sf0.001", "nation")
    nation.write.parquet(s"$ice/d0")
    IcebergMetadata.commit(spark, ice, s"$ice/d0"): Unit
    nation.withColumn("n_nationkey", col("n_nationkey") + 100)
      .write.parquet(s"$ice/d1")
    val cb = IcebergMetadata.commitToBranch(spark, ice, s"$ice/d1",
      "audit")
    nation.withColumn("n_nationkey", col("n_nationkey") + 200)
      .write.parquet(s"$ice/d2")
    val c2 = IcebergMetadata.appendCommit(spark, ice, s"$ice/d2")
    def listRows(snapId: Long): Seq[GenericRecord] = {
      val (_, meta) = IcebergMetadata.currentMetadata(ice).get
      val snap = meta.withArray[com.fasterxml.jackson.databind.node
          .ArrayNode]("snapshots").asScala
        .find(_.get("snapshot-id").asLong == snapId).get
      val r = new DataFileReader(
        new File(snap.get("manifest-list").asText),
        new GenericDatumReader[GenericRecord]())
      try r.iterator().asScala.toList finally r.close()
    }
    val headRows = listRows(c2.snapshotId)
    val branchPaths = {
      val r = new DataFileReader(
        new File(listRows(cb.snapshotId).head
          .get("manifest_path").toString),
        new GenericDatumReader[GenericRecord]())
      try r.iterator().asScala.toList.map(_.get("data_file")
        .asInstanceOf[GenericRecord].get("file_path").toString)
      finally r.close()
    }
    val cp = IcebergMetadata.cherrypickSnapshot(ice, cb.snapshotId)
    val rowsAfter = listRows(cp.snapshotId)
    // head rows VERBATIM + exactly one fresh manifest
    assert(rowsAfter.size == headRows.size + 1)
    rowsAfter.init.zip(headRows).foreach { case (carried, orig) =>
      assert(carried.toString == orig.toString,
        s"carried head row drifted:\n$carried\nvs\n$orig")
    }
    val fresh = rowsAfter.last
    assert(fresh.get("added_snapshot_id") == cp.snapshotId)
    assert(fresh.get("sequence_number") == cp.sequenceNumber)
    assert(cp.sequenceNumber > c2.sequenceNumber &&
      cp.sequenceNumber > cb.sequenceNumber)
    val r3 = new DataFileReader(
      new File(fresh.get("manifest_path").toString),
      new GenericDatumReader[GenericRecord]())
    val picked = try r3.iterator().asScala.toList finally r3.close()
    // the picked entries: branch FILES verbatim (in place, no copy),
    // ADDED under the pick's id at the pick's sequence
    assert(picked.map(_.get("data_file").asInstanceOf[GenericRecord]
      .get("file_path").toString).sorted == branchPaths.sorted)
    picked.foreach { e =>
      assert(e.get("status") == Int.box(1))
      assert(e.get("snapshot_id") == cp.snapshotId)
      assert(e.get("sequence_number") == cp.sequenceNumber)
    }
    // provenance recorded the Iceberg way
    val (_, meta) = IcebergMetadata.currentMetadata(ice).get
    val snap = meta.withArray[com.fasterxml.jackson.databind.node
        .ArrayNode]("snapshots").asScala
      .find(_.get("snapshot-id").asLong == cp.snapshotId).get
    assert(snap.get("summary").get("source-snapshot-id").asText ==
      cb.snapshotId.toString)
    // all three writes live exactly once
    assert(IcebergMetadata.dataFileStats(ice)
      .filter(_.content == 0).map(_.recordCount).sum == 75L)
  }

  test("pos-delete rewrite snapshots re-walk under the independent " +
       "decoder: data rows verbatim, ONE consolidated delete " +
       "manifest, eq entries original, pos rows position-sorted") {
    import org.apache.spark.sql.functions._
    import scala.jdk.CollectionConverters._
    import graft.operators.SystemColumns.{OlakeId, OpType, CdcTimestamp}
    val table = Files.createTempDirectory("graft_prvec_t").toString
    val ice = Files.createTempDirectory("graft_prvec_i").toString
    spark.range(30).select(col("id").cast("string").as(OlakeId),
        col("id").as("v"))
      .write.parquet(s"$table/base")
    // two dup-bearing segments → one positional-delete file each
    def dupSeg(ids: Range, vOff: Long) = {
      val one = spark.range(ids.start, ids.end).select(
        col("id").cast("string").as(OlakeId), (col("id") + vOff).as("v"),
        lit("u").as(OpType), current_timestamp().as(CdcTimestamp),
        col("id").as("lsn"))
      one.unionByName(one)
    }
    DeltaSegments.writeSegment(dupSeg(0 until 4, 100), table, 1L)
    DeltaSegments.writeSegment(dupSeg(10 until 14, 500), table, 2L)
    val cPub = IcebergMetadata.publishMoR(spark, ice, table)
    def listRows(snapId: Long): Seq[GenericRecord] = {
      val (_, meta) = IcebergMetadata.currentMetadata(ice).get
      val snap = meta.withArray[com.fasterxml.jackson.databind.node
          .ArrayNode]("snapshots").asScala
        .find(_.get("snapshot-id").asLong == snapId).get
      val r = new DataFileReader(
        new File(snap.get("manifest-list").asText),
        new GenericDatumReader[GenericRecord]())
      try r.iterator().asScala.toList finally r.close()
    }
    def entriesOf(m: GenericRecord): Seq[GenericRecord] = {
      val r = new DataFileReader(
        new File(m.get("manifest_path").toString),
        new GenericDatumReader[GenericRecord]())
      try r.iterator().asScala.toList finally r.close()
    }
    val dataRowsBefore = listRows(cPub.snapshotId)
      .filter(_.get("content") == Int.box(0))
    val eqBefore = IcebergMetadata.dataFileStats(ice)
      .filter(_.content == 2)
      .map(e => (e.path, e.seq, e.addedSnapshotId)).toSet
    val posSeqMax = IcebergMetadata.dataFileStats(ice)
      .filter(_.content == 1).map(_.seq).max
    val cRw = IcebergMetadata.rewritePositionDeletes(spark, ice).get
    val rowsAfter = listRows(cRw.snapshotId)
    // data manifest rows VERBATIM — data never moves
    assert(rowsAfter.filter(_.get("content") == Int.box(0))
      .map(_.toString) == dataRowsBefore.map(_.toString))
    // exactly ONE delete manifest; its entries: eq files EXISTING
    // under original ids/sequences, ONE consolidated pos file ADDED
    // at the max original pos sequence
    val delManifests = rowsAfter.filter(_.get("content") == Int.box(1))
    assert(delManifests.size == 1)
    val delEntries = entriesOf(delManifests.head)
    val (posE, eqE) = delEntries.partition(
      _.get("data_file").asInstanceOf[GenericRecord]
        .get("content") == Int.box(1))
    assert(eqE.map(e => (e.get("data_file").asInstanceOf[GenericRecord]
        .get("file_path").toString,
        e.get("sequence_number").asInstanceOf[Long],
        e.get("snapshot_id").asInstanceOf[Long])).toSet == eqBefore)
    eqE.foreach(e => assert(e.get("status") == Int.box(0)))
    assert(posE.size == 1)
    assert(posE.head.get("status") == Int.box(1))
    assert(posE.head.get("snapshot_id") == cRw.snapshotId)
    assert(posE.head.get("sequence_number") == Long.box(posSeqMax))
    // the consolidated file is sorted by (file_path, pos) — the spec's
    // required ordering — and every named file is a live data file
    val posPath = posE.head.get("data_file")
      .asInstanceOf[GenericRecord].get("file_path").toString
    val rows = spark.read.parquet(posPath)
      .select("file_path", "pos").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(rows == rows.sortBy(identity), "pos rows not sorted")
    val live = IcebergMetadata.dataFileStats(ice)
      .filter(_.content == 0).map(_.path.replaceFirst("^file:/+", "/"))
      .toSet
    assert(rows.map(_._1.replaceFirst("^file:/+", "/"))
      .forall(live.contains), "pos delete names a dead file")
    // merged view identical through the algebra
    val got = IcebergMetadata.readMoR(spark, ice)
      .select(col(OlakeId), col("v")).collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(got.size == 30 && got("0") == 100L && got("10") == 510L &&
      got("20") == 20L)
  }

  test("spec-evolution lifecycle re-walks under the independent " +
       "decoder: both specs in metadata with cross-spec-unique field " +
       "ids, per-manifest spec ids, tuples typed and valued per spec") {
    import org.apache.spark.sql.functions._
    import scala.jdk.CollectionConverters._
    val ice = Files.createTempDirectory("graft_sevec").toString
    val day = (d: Int) => s"2024-03-0$d 00:00:00"
    val df1 = spark.range(200).select(col("id"),
      to_timestamp(when(col("id") < 100, day(5)).otherwise(day(6)))
        .as("ts"))
    IcebergMetadata.publishPartitioned(spark, ice, df1, "/{ts,day}"): Unit
    val hourSid = IcebergMetadata.evolvePartitionSpec(ice, "/{ts,hour}")
    val df2 = spark.range(200, 260).select(col("id"),
      to_timestamp(lit(day(7))).as("ts"))
    IcebergMetadata.appendCommitPartitioned(spark, ice, df2): Unit
    // metadata.json (the raw file, via a plain JSON read): all specs
    // present, default = the evolved one, partition field-ids UNIQUE
    // ACROSS SPECS (the v2 rule external readers key the common
    // partition struct on)
    val metaText = java.nio.file.Files.readString(java.nio.file.Paths
      .get(s"$ice/metadata").resolve(
        s"v${IcebergMetadata.currentMetadata(ice).get._1}.metadata.json"))
    val root = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(metaText)
    assert(root.get("default-spec-id").asInt == hourSid)
    val specs = root.withArray[com.fasterxml.jackson.databind.node
      .ArrayNode]("partition-specs").asScala.toSeq
    val fieldIds = specs.flatMap(_.withArray[com.fasterxml.jackson
        .databind.node.ArrayNode]("fields").asScala
      .map(_.get("field-id").asInt))
    assert(fieldIds.distinct.size == fieldIds.size,
      s"partition field-ids collide across specs: $fieldIds")
    assert(root.get("last-partition-id").asInt == fieldIds.max)
    // manifest walk: every manifest declares its spec id in Avro file
    // metadata, and its entries' tuples are typed/valued per THAT spec
    val headId = root.get("current-snapshot-id").asLong
    val snap = root.withArray[com.fasterxml.jackson.databind.node
        .ArrayNode]("snapshots").asScala
      .find(_.get("snapshot-id").asLong == headId).get
    val lr = new DataFileReader(
      new File(snap.get("manifest-list").asText),
      new GenericDatumReader[GenericRecord]())
    val listRows = try lr.iterator().asScala.toList finally lr.close()
    val specFieldId: Map[Int, Seq[Int]] = specs.map(s =>
      s.get("spec-id").asInt -> s.withArray[com.fasterxml.jackson
        .databind.node.ArrayNode]("fields").asScala
        .map(_.get("field-id").asInt).toSeq).toMap
    var sawDay = false; var sawHour = false
    var totalRows = 0L
    listRows.foreach { m =>
      val mr = new DataFileReader(
        new File(m.get("manifest_path").toString),
        new GenericDatumReader[GenericRecord]())
      val sid = Option(mr.getMetaString("partition-spec-id"))
        .map(_.toInt).getOrElse(0)
      val entries = try mr.iterator().asScala.toList finally mr.close()
      entries.foreach { e =>
        val dfr = e.get("data_file").asInstanceOf[GenericRecord]
        totalRows += dfr.get("record_count").asInstanceOf[Long]
        val pRec = dfr.get("partition").asInstanceOf[GenericRecord]
        val pf = pRec.getSchema.getFields.asScala.toSeq
        assert(pf.map(_.getObjectProp("field-id")
          .asInstanceOf[Number].intValue) == specFieldId(sid),
          s"manifest spec $sid tuple field-ids drifted")
        if (pf.nonEmpty) {
          val v = pRec.get(pf.head.name()).asInstanceOf[Int]
          assert(dfr.get("file_path").toString.contains(s"=$v"))
          if (sid == hourSid) {
            sawHour = true
            assert(v >= 19789 * 24, s"hour tuple out of range: $v")
          } else if (pf.nonEmpty) { sawDay = true
            assert(v >= 19787 && v <= 19790, s"day tuple: $v")
          }
        }
      }
    }
    assert(sawDay && sawHour,
      "fixture must exercise both specs' manifests")
    assert(totalRows == 260L)
  }

  test("maintenance planning issues ZERO per-file parquet stat probes: " +
       "sizes come from the manifests' file_size_in_bytes") {
    import org.apache.spark.sql.functions.col
    val ice = Files.createTempDirectory("graft_zstat").toString
    val nation = Tables.load(spark, "/root/testdata/sf0.001", "nation")
    nation.repartition(4).write.parquet(s"$ice/d0")
    IcebergMetadata.commit(spark, ice, s"$ice/d0"): Unit
    (1 to 2).foreach { i =>
      nation.withColumn("n_nationkey", col("n_nationkey") + i * 100)
        .repartition(4).write.parquet(s"$ice/d$i")
      IcebergMetadata.appendCommit(spark, ice, s"$ice/d$i"): Unit
    }
    // the manifests' size field IS the on-disk truth (cross-check)
    val stats = IcebergMetadata.dataFileStats(ice)
    assert(stats.nonEmpty)
    stats.foreach(e =>
      assert(e.sizeBytes == new File(e.path).length, e.path))
    IcebergMetadata.resetParquetStatProbes()
    // planning-only pass: stats walk, a binpack whose threshold
    // qualifies nothing (pure victim selection), a pure-metadata
    // manifest consolidation, expiration, an orphan sweep
    IcebergMetadata.dataFileStats(ice): Unit
    assert(IcebergMetadata.binpackRewrite(spark, ice,
      targetBytes = 1L).isEmpty)
    IcebergMetadata.rewriteManifests(spark, ice): Unit
    IcebergMetadata.expireSnapshots(ice, keepLast = 2): Unit
    IcebergMetadata.removeOrphans(ice, minAgeMs = 3600000L): Unit
    assert(IcebergMetadata.parquetStatProbes == 0,
      s"planner statted data files ${IcebergMetadata.parquetStatProbes}×")
    // even a FULL rewrite plans from metadata alone — its fresh
    // outputs stat batched through one directory listing, never a
    // per-file probe
    IcebergMetadata.binpackRewrite(spark, ice,
      targetBytes = 512L << 20): Unit
    assert(IcebergMetadata.parquetStatProbes == 0)
  }

  test("metadata-version expiry: dead vN.metadata.json files trim to " +
       "previous-versions-max; snapshots, reads and time travel survive") {
    import org.apache.spark.sql.functions.col
    val tmp = Files.createTempDirectory("graft_mdexp").toString
    val nation = Tables.load(spark, "/root/testdata/sf0.001", "nation")
      .select("n_nationkey", "n_name")
    nation.write.parquet(s"$tmp/d0")
    val c0 = IcebergMetadata.commit(spark, tmp, s"$tmp/d0")
    (1 to 6).foreach { i =>
      nation.withColumn("n_nationkey", col("n_nationkey") + i * 100)
        .write.parquet(s"$tmp/d$i")
      IcebergMetadata.appendCommit(spark, tmp, s"$tmp/d$i"): Unit
    }
    def versionFiles = new File(s"$tmp/metadata").listFiles
      .map(_.getName).filter(_.matches("v\\d+\\.metadata\\.json")).sorted
    assert(versionFiles.length == 7)
    val n = IcebergMetadata.expireMetadataVersions(tmp, keepLast = 3)
    assert(n == 4, s"expected 4 dead versions removed, got $n")
    // v1..v4 gone; the kept floor + the current + the trim commit stay
    val left = versionFiles
    assert(!left.contains("v1.metadata.json") &&
      !left.contains("v4.metadata.json"), left.toSeq)
    assert(left.contains("v8.metadata.json")) // the trim commit itself
    val (_, meta) = IcebergMetadata.currentMetadata(tmp).get
    assert(meta.withArray[com.fasterxml.jackson.databind.node.ArrayNode](
      "metadata-log").size == 3)
    // snapshot history untouched: all 7 snapshots, time travel works
    assert(meta.withArray[com.fasterxml.jackson.databind.node.ArrayNode](
      "snapshots").size == 7)
    assert(IcebergMetadata.dataFileStats(tmp, Some(c0.snapshotId))
      .map(_.recordCount).sum == 25L)
    assert(spark.read.parquet(
      IcebergMetadata.dataFilePaths(tmp): _*).count() == 175L)
    // idempotent: nothing more to drop → no new version written
    val vBefore = IcebergMetadata.currentMetadata(tmp).get._1
    assert(IcebergMetadata.expireMetadataVersions(tmp, keepLast = 3) == 0)
    assert(IcebergMetadata.currentMetadata(tmp).get._1 == vBefore)
  }

  test("incremental append scan: empty range, expired-from refusal, " +
       "replace-in-range refusal; metadata tables read zero data files") {
    import org.apache.spark.sql.functions.col
    val tmp = Files.createTempDirectory("graft_incrspec").toString
    val nation = Tables.load(spark, "/root/testdata/sf0.001", "nation")
      .select("n_nationkey", "n_name")
    nation.write.parquet(s"$tmp/d0")
    val c0 = IcebergMetadata.commit(spark, tmp, s"$tmp/d0")
    // empty range: no later snapshot → zero rows, schema intact
    val empty = IcebergMetadata.readAppendsSince(spark, tmp, c0.snapshotId)
    assert(empty.count() == 0 &&
      empty.columns.toSeq == Seq("n_nationkey", "n_name"))
    nation.withColumn("n_nationkey", col("n_nationkey") + 100)
      .repartition(3).write.parquet(s"$tmp/d1")
    val c1 = IcebergMetadata.appendCommit(spark, tmp, s"$tmp/d1")
    assert(IcebergMetadata.readAppendsSince(spark, tmp, c0.snapshotId)
      .count() == 25)
    // a replace inside the range rewrote row positions — refuse
    IcebergMetadata.binpackRewrite(spark, tmp,
      targetBytes = 512L << 20): Unit
    val ex = intercept[IllegalArgumentException] {
      IcebergMetadata.readAppendsSince(spark, tmp, c0.snapshotId)
    }
    assert(ex.getMessage.contains("replace"))
    // an unknown/expired from-snapshot refuses (consumer must resync)
    intercept[IllegalArgumentException] {
      IcebergMetadata.readAppendsSince(spark, tmp, 424242L)
    }
    // metadata tables: pure manifest/metadata walks — zero parquet
    // stat probes AND consistent rollups
    IcebergMetadata.resetParquetStatProbes()
    val parts = IcebergMetadata.partitionsTable(spark, tmp).collect()
    val files = IcebergMetadata.filesTable(spark, tmp).collect()
    val snaps = IcebergMetadata.snapshotsTable(spark, tmp).collect()
    val mans = IcebergMetadata.manifestsTable(spark, tmp).collect()
    assert(IcebergMetadata.parquetStatProbes == 0)
    assert(parts.map(_.getLong(3)).sum == 50L) // rows both halves
    assert(files.map(_.getLong(5)).sum == 50L)
    assert(files.length == parts.map(_.getLong(2)).sum)
    assert(snaps.map(_.getString(3)).toSet == Set("append", "replace"))
    assert(snaps.length == 3 && mans.nonEmpty)
    // incremental read resumes cleanly from the replace snapshot
    val cR = IcebergMetadata.currentMetadata(tmp).get._2
      .get("current-snapshot-id").asLong
    nation.withColumn("n_nationkey", col("n_nationkey") + 300)
      .write.parquet(s"$tmp/d2")
    IcebergMetadata.appendCommit(spark, tmp, s"$tmp/d2"): Unit
    val resumed = IcebergMetadata.readAppendsSince(spark, tmp, cR)
    assert(resumed.count() == 25 &&
      resumed.agg(org.apache.spark.sql.functions.min("n_nationkey"))
        .head.getInt(0) == 300)
    assert(c1.snapshotId != cR)
  }

  test("merge-on-read maintenance over the s3wire object store: MoR " +
       "publish, major compaction, expire and orphan sweep all run " +
       "against the wire; the resolved rows survive") {
    import org.apache.spark.sql.functions._
    import graft.operators.SystemColumns.{OlakeId, OpType, CdcTimestamp}
    import graft.sources.S3Wire
    val table = Files.createTempDirectory("graft_s3mor_t").toString
    val bucketDir = Files.createTempDirectory("graft_s3mor_b").toFile
    val srv = new S3Wire.S3LoopbackServer("lake", bucketDir)
    try {
      val hc = spark.sparkContext.hadoopConfiguration
      hc.set("fs.s3wire.impl",
        classOf[graft.sources.S3WireFileSystem].getName)
      hc.set("fs.s3wire.impl.disable.cache", "true")
      hc.set("fs.s3wire.endpoint", srv.endpoint)
      val ice = "s3wire://lake/warehouse/mor_maint"
      spark.range(60).select(col("id").cast("string").as(OlakeId),
          col("id").as("v"))
        .write.parquet(s"$table/base")
      DeltaSegments.writeSegment(
        spark.range(10).select(col("id").cast("string").as(OlakeId),
          (col("id") + 700).as("v"), lit("u").as(OpType),
          current_timestamp().as(CdcTimestamp), col("id").as("lsn")),
        table, 1L)
      DeltaSegments.writeSegment(
        spark.range(50, 55).select(col("id").cast("string").as(OlakeId),
          col("id").as("v"), lit("d").as(OpType),
          current_timestamp().as(CdcTimestamp), col("id").as("lsn")),
        table, 2L)
      IcebergMetadata.publishMoR(spark, ice, table): Unit
      val before = srv.requests.get()
      val steps = IcebergMetadata.autoMaintain(spark, ice,
        targetBytes = 512L << 20, graceMs = 0L)
      assert(steps("compact").contains("applied"), steps.toString)
      assert(srv.requests.get() > before,
        "maintenance issued no wire traffic")
      val (_, delAfter) = IcebergMetadata.manifestEntries(ice)
      assert(delAfter.isEmpty, "compaction left delete files")
      // every surviving data file lives BEHIND the wire
      val paths = IcebergMetadata.dataFilePaths(ice)
      assert(paths.nonEmpty && paths.forall(_.startsWith("s3wire://")),
        paths.take(3))
      val got = spark.read.parquet(paths: _*)
        .select(col(OlakeId), col("v")).collect()
        .map(r => (r.getString(0), r.getLong(1))).toMap
      assert(got.size == 55 && got("0") == 700L && !got.contains("52"))
      // the readMoR algebra over the wire agrees
      val viaMor = IcebergMetadata.readMoR(spark, ice).count()
      assert(viaMor == 55L)
    } finally srv.close()
  }

  test("readMoR's join algebra at high commit count: one scan per side " +
       "plus a broadcast (file→seq) map, the SAME rows as the DSv2 scan") {
    import org.apache.spark.sql.functions._
    import graft.operators.SystemColumns.{OlakeId, OpType, CdcTimestamp}
    val table = Files.createTempDirectory("graft_morseq_t").toString
    val ice = Files.createTempDirectory("graft_morseq_i").toString
    spark.range(30).select(col("id").cast("string").as(OlakeId),
        col("id").as("v"))
      .write.parquet(s"$table/base")
    // three segments: update, delete, re-insert — every delete flavor
    // and the strictly-greater-sequence rule must survive the switch
    DeltaSegments.writeSegment(
      spark.range(10).select(col("id").cast("string").as(OlakeId),
        (col("id") + 100).as("v"), lit("u").as(OpType),
        current_timestamp().as(CdcTimestamp), col("id").as("lsn")),
      table, 1L)
    DeltaSegments.writeSegment(
      spark.range(20, 25).select(col("id").cast("string").as(OlakeId),
        col("id").as("v"), lit("d").as(OpType),
        current_timestamp().as(CdcTimestamp), col("id").as("lsn")),
      table, 2L)
    DeltaSegments.writeSegment(
      spark.range(22, 23).select(col("id").cast("string").as(OlakeId),
        (col("id") + 200).as("v"), lit("u").as(OpType),
        current_timestamp().as(CdcTimestamp), col("id").as("lsn")),
      table, 3L)
    IcebergMetadata.publishMoR(spark, ice, table): Unit
    def rowsOf(df: org.apache.spark.sql.DataFrame) = df
      .select(col(OlakeId), col("v")).collect()
      .map(r => (r.getString(0), r.getLong(1))).sortBy(_._1).toSeq
    val viaScan = rowsOf(spark.read.format("graft-iceberg").load(ice))
    val viaMap = rowsOf(IcebergMetadata.readMoRAlgebra(spark, ice))
    assert(viaMap == viaScan)
    assert(viaMap.toMap.apply("0") == 100L)
    assert(viaMap.toMap.apply("22") == 222L)
    assert(!viaMap.exists(_._1 == "23"))
    // the plan claim itself: ONE parquet scan node, not one per seq
    val plan = IcebergMetadata.readMoRAlgebra(spark, ice)
      .queryExecution.optimizedPlan
    val scans = plan.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation => r
      case r: org.apache.spark.sql.catalyst.plans.logical.LeafNode => r
    }
    // data single-scan + eq-delete single-scan + pos-delete side +
    // broadcast maps (local relations) — far below one-per-sequence
    assert(scans.size <= 6, s"plan width grew with commits: ${scans.size}")
  }

  test("readMoR reads through its join algebra every delete state the " +
    "DSv2 scan cannot hold: a decimal key, a key that is not the " +
    "equality field, mixed equality-id sets") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
    import graft.operators.SystemColumns.OlakeId
    def rowsOf(ids: org.apache.spark.sql.Column) = spark.range(10).where(ids).select(
      col("id").cast("string").as(OlakeId), col("id").as("k"),
      (col("id") / 4).cast("decimal(10,2)").as("amt")).coalesce(1)
    def table(): String = {
      val dir = Files.createTempDirectory("graft_morroute").toString
      rowsOf(lit(true)).write.parquet(s"$dir/d0")
      IcebergMetadata.commit(spark, s"$dir/ice", s"$dir/d0"): Unit
      dir
    }
    // one equality-delete file keyed on `on`; it carries every column,
    // so whichever key the algebra joins on is present
    def deletes(dir: String, ids: Seq[Long], on: String): Unit = {
      val d = Files.createTempDirectory(java.nio.file.Paths.get(dir), "del").toString
      rowsOf(col("id").isin(ids: _*)).write.mode("overwrite").parquet(d)
      IcebergMetadata.rowDeltaCommitStaged(spark, s"$dir/ice", None, None,
        Some(d), None, deleteContent = 2,
        equalityIds = Seq(IcebergMetadata.currentFieldIds(s"$dir/ice")(on)))
        : Unit
    }
    def read(dir: String, keyCol: String = OlakeId) = {
      val df = IcebergMetadata.readMoR(spark, s"$dir/ice", keyCol)
      val scanned = df.queryExecution.optimizedPlan.collect {
        case r: DataSourceV2ScanRelation => r }.nonEmpty
      (scanned, df.select(OlakeId).collect().map(_.getString(0)).toSet)
    }
    def live(dead: Long*) =
      (0L until 10L).filterNot(dead.contains).map(_.toString).toSet
    // control: string equality key, the scan serves it
    val fits = table(); deletes(fits, Seq(1L), OlakeId)
    assert(read(fits) == ((true, live(1L))))
    // a decimal key: the scan's key canonicalization refuses it
    val dec = table(); deletes(dec, Seq(2L, 3L), "amt")
    assert(read(dec, keyCol = "amt") == ((false, live(2L, 3L))))
    // the equality field is `k`, the read is keyed on `_olake_id`
    val other = table(); deletes(other, Seq(4L), "k")
    assert(read(other) == ((false, live(4L))))
    // two equality-id sets
    val mixed = table()
    deletes(mixed, Seq(5L), OlakeId); deletes(mixed, Seq(6L), "k")
    assert(read(mixed) == ((false, live(5L, 6L))))
  }

  test("partition spec evolution day→hour: metadata-only commit, new " +
       "writes under the new spec, per-spec pruned reads, maintenance " +
       "carries other-spec files forward verbatim") {
    import org.apache.spark.sql.functions._
    val ice = Files.createTempDirectory("graft_evolve").toString
    def rows(n: Int, base: Int, ts: String) =
      spark.range(n).select((col("id") + base).as("id"),
        concat(lit("d-"), col("id") + base).as("body"),
        to_timestamp(lit(ts)).as("ts"))
    // day-grain era: two days
    val eraDay = rows(400, 0, "2024-03-05 10:00:00")
      .unionByName(rows(400, 400, "2024-03-06 10:00:00"))
    IcebergMetadata.publishPartitioned(spark, ice, eraDay, "/{ts,day}",
      groupSize = 2): Unit
    val vBefore = IcebergMetadata.currentMetadata(ice).get._1
    // EVOLVE: pure metadata — version bumps, snapshot does not
    val hourSid = IcebergMetadata.evolvePartitionSpec(ice, "/{ts,hour}")
    assert(hourSid == 1)
    val (vAfter, mAfter) = IcebergMetadata.currentMetadata(ice).get
    assert(vAfter == vBefore + 1)
    assert(mAfter.get("default-spec-id").asInt == 1)
    assert(mAfter.get("partition-specs").size == 2)
    assert(mAfter.withArray[com.fasterxml.jackson.databind.node.ArrayNode](
      "snapshots").size == 1, "evolution must not add a snapshot")
    // hour-grain era: two appends into the same two hours (so each
    // hour tuple holds 2 small files — binpack bait)
    val hourA = rows(200, 800, "2024-03-07 01:30:00")
      .unionByName(rows(200, 1000, "2024-03-07 02:30:00"))
    val hourB = rows(200, 1200, "2024-03-07 01:45:00")
      .unionByName(rows(200, 1400, "2024-03-07 02:45:00"))
    IcebergMetadata.appendCommitPartitioned(spark, ice, hourA): Unit
    IcebergMetadata.appendCommitPartitioned(spark, ice, hourB): Unit
    val stats = IcebergMetadata.dataFileStats(ice)
    assert(stats.exists(_.specId == 0) && stats.exists(_.specId == 1),
      "both eras must be live")
    stats.filter(_.specId == 1).foreach(e =>
      assert(e.path.contains("__p_ts_hour="), e.path))
    // per-spec pruned read: ONE window (day 2024-03-06 .. 03-07)
    // expressed per spec — must see day-6 rows AND both hour batches
    val d6 = java.time.LocalDate.parse("2024-03-06").toEpochDay
    val d7 = d6 + 1
    val got = IcebergMetadata.readPartitionPrunedBySpec(spark, ice, sid =>
        if (sid == hourSid) Some((d6 * 24, d7 * 24 + 23))
        else Some((d6, d7)))
      .agg(count(lit(1)), min(col("id")), max(col("id"))).head()
    assert(got.getLong(0) == 400 + 800, got.toString)
    assert(got.getLong(1) == 400 && got.getLong(2) == 1599)
    // manifest-level pruning bites across the boundary: a day-5-only
    // window keeps no hour-spec manifest
    val d5 = d6 - 1
    val keptSums = IcebergMetadata.manifestSummaries(ice).filter(m =>
      m.content == 0 && {
        val b = if (m.specId == hourSid) (d5 * 24, d5 * 24 + 23)
          else (d5, d5)
        m.partitions.headOption.forall(s =>
          (s.lower, s.upper) match {
            case (Some(l), Some(u)) =>
              IcebergMetadata.boundLong(l) <= b._2 &&
                IcebergMetadata.boundLong(u) >= b._1
            case _ => true
          })
      })
    assert(keptSums.nonEmpty &&
      keptSums.forall(_.specId == 0), keptSums.map(m => (m.specId, m.path)))
    // BINPACK on the evolved table: day-spec files are NOT candidates —
    // they carry forward verbatim (path, seq, adding snapshot); the
    // hour-spec small files merge per hour tuple
    val day0 = stats.filter(_.specId == 0)
      .map(e => (e.path, e.seq, e.addedSnapshotId)).toSet
    val c = IcebergMetadata.binpackRewrite(spark, ice,
      targetBytes = 512L << 20)
    assert(c.nonEmpty, "hour-spec small files must merge")
    val after = IcebergMetadata.dataFileStats(ice)
    assert(after.filter(_.specId == 0)
      .map(e => (e.path, e.seq, e.addedSnapshotId)).toSet == day0,
      "day-spec files must carry forward verbatim")
    assert(after.count(_.specId == 1) < stats.count(_.specId == 1))
    // manifest consolidation keeps per-spec manifests + tuples
    IcebergMetadata.rewriteManifests(spark, ice, groupSize = 2): Unit
    val after2 = IcebergMetadata.dataFileStats(ice)
    assert(after2.map(e => (e.path, e.specId)).sorted ==
      after.map(e => (e.path, e.specId)).sorted)
    // full row set intact across the whole lifecycle
    val n = spark.read.parquet(
      IcebergMetadata.dataFilePaths(ice): _*).count()
    assert(n == 1600L)
  }

  test("a maintenance commit never clobbers the 2PC recovery fence: " +
       "olake_2pc re-anchors on the maintenance snapshot's summary") {
    import org.apache.spark.sql.functions._
    import graft.operators.SystemColumns.{OlakeId, OpType, CdcTimestamp}
    val table = Files.createTempDirectory("graft_fence_t").toString
    val ice = Files.createTempDirectory("graft_fence_i").toString
    spark.range(40).select(col("id").cast("string").as(OlakeId),
        col("id").as("v"))
      .write.parquet(s"$table/base")
    DeltaSegments.writeSegment(
      spark.range(4).select(col("id").cast("string").as(OlakeId),
        (col("id") + 900).as("v"), lit("u").as(OpType),
        current_timestamp().as(CdcTimestamp), col("id").as("lsn")),
      table, 1L)
    val fence = """{"stream":"s","batchId":7,"lsn":703}"""
    IcebergMetadata.publishMoR(spark, ice, table,
      summary = Map("olake_2pc" -> fence)): Unit
    assert(IcebergMetadata.commitState(ice).contains(fence))
    // the live-sync hook's shape: read the fence, re-anchor it on
    // every maintenance commit (compact + binpack + expire + orphans)
    val carried = IcebergMetadata.commitState(ice)
      .map("olake_2pc" -> _).toMap
    IcebergMetadata.autoMaintain(spark, ice, targetBytes = 512L << 20,
      graceMs = 0L, summary = carried): Unit
    assert(IcebergMetadata.commitState(ice).contains(fence),
      "maintenance clobbered the recovery fence")
    // recovery-equivalent read still resolves the merged view
    val got = IcebergMetadata.readMoR(spark, ice)
      .select(col(OlakeId), col("v")).collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(got.size == 40 && got("0") == 900L)
  }

  test("partition spec evolution allocates field-ids unique ACROSS " +
    "specs, reuses the id of an identical field, and later commits " +
    "preserve them verbatim") {
    import org.apache.spark.sql.functions._
    import scala.jdk.CollectionConverters._
    val ice = Files.createTempDirectory("graft_specids").toString
    val ev = spark.range(100).select(col("id"),
      (expr("timestamp'2024-03-01 00:00:00'") +
        expr("make_interval(0,0,0,0,cast(id as int),0,0)")).as("ts"))
    IcebergMetadata.publishPartitioned(spark, ice, ev, "/{ts,day}"): Unit
    def specFields() = IcebergMetadata.currentMetadata(ice).get._2
      .withArray[com.fasterxml.jackson.databind.node.ArrayNode](
        "partition-specs").asScala.toSeq.map(sp =>
        sp.withArray[com.fasterxml.jackson.databind.node.ArrayNode](
          "fields").asScala.toSeq.map(f =>
          (f.get("transform").asText, f.get("field-id").asInt)))
    // fresh partitioned publish: one spec, day at 1000
    assert(specFields() == Seq(Seq(("day", 1000))))
    // day→hour: a DIFFERENT field must get a FRESH id, not recycle 1000
    IcebergMetadata.evolvePartitionSpec(ice, "/{ts,hour}"): Unit
    assert(specFields() == Seq(Seq(("day", 1000)), Seq(("hour", 1001))))
    val (_, m1) = IcebergMetadata.currentMetadata(ice).get
    assert(m1.get("last-partition-id").asInt == 1001)
    // hour→day again: the IDENTICAL field (same transform + source)
    // reuses its original id, Iceberg's own evolution rule
    IcebergMetadata.evolvePartitionSpec(ice, "/{ts,day}"): Unit
    assert(specFields().last == Seq(("day", 1000)))
    // a later commit rebuilds metadata from specsFromMeta — the
    // explicit ids must survive the round-trip, never reset to 1000+i
    IcebergMetadata.appendCommitPartitioned(spark, ice,
      ev.where(col("id") < 5)): Unit
    assert(specFields() == Seq(Seq(("day", 1000)), Seq(("hour", 1001)),
      Seq(("day", 1000))))
    val ids = specFields().flatten
    assert(ids.distinct.size == ids.map(_._2).distinct.size,
      s"field-ids must map 1:1 to distinct fields: $ids")
  }

  test("changelogScan: append fast path, COW overwrite diff, replace " +
    "emits nothing, net-changes collapse, expired-from refusal") {
    import org.apache.spark.sql.functions._
    val tmp = Files.createTempDirectory("graft_changelog").toString
    def rows(ids: Range, tagv: Long) = spark.range(ids.start, ids.end)
      .select(col("id"), (col("id") * 10 + tagv).as("v"))
    rows(0 until 10, 0).coalesce(1).write.parquet(s"$tmp/d0")
    val a = IcebergMetadata.commit(spark, tmp, s"$tmp/d0")
    // append: fast path, rows off the added files alone
    rows(10 until 15, 0).coalesce(1).write.parquet(s"$tmp/d1")
    IcebergMetadata.appendCommit(spark, tmp, s"$tmp/d1"): Unit
    // replace (binpack the two small files): NO changelog rows
    IcebergMetadata.binpackRewrite(spark, tmp, targetBytes = 1L << 30): Unit
    // COW overwrite: ids 0-2 re-valued, id 5 dropped, rest carried
    rows(0 until 15, 0).where(col("id") =!= 5)
      .withColumn("v", when(col("id") < 3, col("v") + 1).otherwise(col("v")))
      .coalesce(1).write.parquet(s"$tmp/d2")
    IcebergMetadata.commit(spark, tmp, s"$tmp/d2",
      operation = "overwrite"): Unit

    val log = IcebergMetadata.changelogScan(spark, tmp, a.snapshotId)
      .select(col("id"), col("v"), col("change_type"),
        col("change_ordinal")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getInt(3)))
      .toSet
    val appendRows = (10 until 15).map(i =>
      (i.toLong, i * 10L, "insert", 1)).toSet
    // the replace consumed ordinal 2 and emitted nothing
    assert(!log.exists(_._4 == 2), "replace snapshot leaked changelog rows")
    val overwriteRows =
      (0 until 3).map(i => (i.toLong, i * 10L + 1, "insert", 3)).toSet ++
      (0 until 3).map(i => (i.toLong, i * 10L, "delete", 3)).toSet +
      ((5L, 50L, "delete", 3))
    assert(log == appendRows ++ overwriteRows)

    // the long-tail path (ONE scan + broadcast tag map) is
    // byte-equivalent to the per-snapshot unions
    val logMap = IcebergMetadata.changelogScan(spark, tmp, a.snapshotId,
        unionSnapLimit = 0)
      .select(col("id"), col("v"), col("change_type"),
        col("change_ordinal")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getInt(3)))
      .toSet
    assert(logMap == log)

    // net-changes: one endpoint diff; carried rows cancel out entirely
    val net = IcebergMetadata.changelogScan(spark, tmp, a.snapshotId,
        netChanges = true)
      .select(col("id"), col("v"), col("change_type")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    val netExpected =
      (10 until 15).map(i => (i.toLong, i * 10L, "insert")).toSet ++
      (0 until 3).map(i => (i.toLong, i * 10L + 1, "insert")).toSet ++
      (0 until 3).map(i => (i.toLong, i * 10L, "delete")).toSet +
      ((5L, 50L, "delete"))
    assert(net == netExpected)

    // empty range: from == current → zero rows, schema intact
    val cur = IcebergMetadata.currentMetadata(tmp)
      .get._2.get("current-snapshot-id").asLong
    val empty = IcebergMetadata.changelogScan(spark, tmp, cur)
    assert(empty.count() == 0 &&
      empty.columns.contains("change_type"))

    // an expired `from` refuses like readAppendsSince: consumer resyncs
    val ex = intercept[IllegalArgumentException] {
      IcebergMetadata.changelogScan(spark, tmp, 999999999L)
    }
    assert(ex.getMessage.contains("resync"))
  }

  test("rewritePositionDeletes: per-batch positional delete files " +
    "consolidate to one, MoR view unchanged, equality entries ride " +
    "verbatim, steady state is a no-op") {
    import org.apache.spark.sql.functions._
    import graft.operators.SystemColumns.{OlakeId, OpType, CdcTimestamp}
    val table = Files.createTempDirectory("graft_posrw").toString
    val ice = Files.createTempDirectory("graft_posrwice").toString
    spark.range(10).select(
      col("id").cast("string").as(OlakeId), col("id").as("v"))
      .write.parquet(s"$table/base")
    // each segment holds every key TWICE (intra-batch dup → one
    // positional-delete file per segment)
    def dupSeg(ids: Range, vOff: Long) = {
      val one = spark.range(ids.start, ids.end).select(
        col("id").cast("string").as(OlakeId), (col("id") + vOff).as("v"),
        lit("u").as(OpType), current_timestamp().as(CdcTimestamp),
        col("id").as("lsn"))
      one.unionByName(one)
    }
    DeltaSegments.writeSegment(dupSeg(0 until 3, 100), table, 1L)
    DeltaSegments.writeSegment(dupSeg(5 until 8, 500), table, 2L)
    IcebergMetadata.publishMoR(spark, ice, table): Unit
    val statsBefore = IcebergMetadata.dataFileStats(ice)
    assert(statsBefore.count(_.content == 1) >= 2,
      "fixture must produce one pos-delete file per dup-bearing segment")
    val eqBefore = statsBefore.filter(_.content == 2)
      .map(e => (e.path, e.seq, e.addedSnapshotId, e.equalityIds)).toSet
    assert(eqBefore.nonEmpty && eqBefore.forall(_._4.nonEmpty),
      "equality entries must carry equality_ids")
    def viewNow() = IcebergMetadata.readMoR(spark, ice)
      .select(col(OlakeId), col("v")).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    val before = viewNow()

    val c = IcebergMetadata.rewritePositionDeletes(spark, ice).get
    val statsAfter = IcebergMetadata.dataFileStats(ice)
    assert(statsAfter.count(_.content == 1) == 1,
      "positional deletes must consolidate to one file")
    // equality entries untouched: same paths, sequences, provenance,
    // equality_ids
    assert(statsAfter.filter(_.content == 2)
      .map(e => (e.path, e.seq, e.addedSnapshotId, e.equalityIds))
      .toSet == eqBefore)
    // data manifest rows carried verbatim → identical merged view
    assert(viewNow() == before)
    // the replace snapshot records what it did
    import scala.jdk.CollectionConverters._
    val (_, meta) = IcebergMetadata.currentMetadata(ice).get
    val head = meta.withArray[com.fasterxml.jackson.databind.node.ArrayNode](
      "snapshots").elements.asScala.find(
        _.get("snapshot-id").asLong == c.snapshotId).get
    assert(head.get("summary").get("operation").asText == "replace")
    assert(head.get("summary")
      .get("dangling-position-deletes-dropped").asText == "0")
    // steady state: one consolidated file, nothing dangling → no-op
    assert(IcebergMetadata.rewritePositionDeletes(spark, ice).isEmpty)
  }

  test("rewriteEqualityDeletes: hot-key eq files collapse by " +
    "subsumption, a disjoint-key file keeps its own sequence, MoR " +
    "view unchanged, late re-inserts survive, steady state no-op") {
    import org.apache.spark.sql.functions._
    import graft.operators.SystemColumns.{OlakeId, OpType, CdcTimestamp}
    val table = Files.createTempDirectory("graft_eqrw").toString
    val ice = Files.createTempDirectory("graft_eqrwice").toString
    spark.range(20).select(
      col("id").cast("string").as(OlakeId), col("id").as("v"))
      .write.parquet(s"$table/base")
    def seg(ids: Range, vOff: Long, op: String = "u") =
      spark.range(ids.start, ids.end).select(
        col("id").cast("string").as(OlakeId), (col("id") + vOff).as("v"),
        lit(op).as(OpType), current_timestamp().as(CdcTimestamp),
        col("id").as("lsn"))
    // three hot-key segments over 0-5 (each subsumes the previous),
    // then: a DELETE of key 7 followed by a RE-INSERT of key 7 at a
    // later sequence — the re-insert must survive consolidation (its
    // own batch's delete has the key's max sequence; the strictly-
    // smaller rule spares the same batch's data row)
    DeltaSegments.writeSegment(seg(0 until 5, 100), table, 1L)
    DeltaSegments.writeSegment(seg(0 until 5, 200), table, 2L)
    DeltaSegments.writeSegment(seg(0 until 5, 300), table, 3L)
    DeltaSegments.writeSegment(seg(7 until 8, 0, "d"), table, 4L)
    DeltaSegments.writeSegment(seg(7 until 8, 700, "c"), table, 5L)
    IcebergMetadata.publishMoR(spark, ice, table): Unit
    val eq0 = IcebergMetadata.dataFileStats(ice).filter(_.content == 2)
    assert(eq0.size >= 5, s"fixture produced only ${eq0.size} eq files")
    def viewNow() = IcebergMetadata.readMoR(spark, ice)
      .select(col(OlakeId), col("v")).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    val before = viewNow()
    assert(before.contains(("7", 707L)), "re-insert must be live")
    assert(before.contains(("0", 300L)), "hot key must be at V3")

    IcebergMetadata.rewriteEqualityDeletes(spark, ice).getOrElse(
      fail("expected a consolidation commit"))
    val eq1 = IcebergMetadata.dataFileStats(ice).filter(_.content == 2)
    assert(eq1.size < eq0.size,
      s"file count must drop: ${eq0.size} -> ${eq1.size}")
    // hot keys 0-5 collapse to the max sequence; key 7's delete rides
    // its re-insert batch's sequence — never raised beyond it
    assert(viewNow() == before, "MoR view changed")
    // steady state: nothing subsumes any more
    assert(IcebergMetadata.rewriteEqualityDeletes(spark, ice).isEmpty)
  }

  test("autoMaintain delete-ratio routing: a light-delete table takes " +
    "minor delete compaction and stays MoR; a heavy-delete table " +
    "major-compacts and unlocks binpack") {
    import org.apache.spark.sql.functions._
    import graft.operators.SystemColumns.{OlakeId, OpType, CdcTimestamp}
    def mkMoR(baseRows: Int): (String, String) = {
      val table = Files.createTempDirectory("graft_amr").toString
      val ice = Files.createTempDirectory("graft_amrice").toString
      spark.range(baseRows).select(
        col("id").cast("string").as(OlakeId), col("id").as("v"))
        .coalesce(2).write.parquet(s"$table/base")
      def dupSeg(ids: Range, lsn: Long) = {
        val one = spark.range(ids.start, ids.end).select(
          col("id").cast("string").as(OlakeId), (col("id") + 100).as("v"),
          lit("u").as(OpType), current_timestamp().as(CdcTimestamp),
          col("id").as("lsn"))
        DeltaSegments.writeSegment(one.unionByName(one), table, lsn)
      }
      dupSeg(0 until 3, 1L); dupSeg(3 until 6, 2L)
      IcebergMetadata.publishMoR(spark, ice, table): Unit
      (table, ice)
    }
    // 5000 base rows, ~24 delete rows → ratio ≪ 0.1: minor path
    val (_, light) = mkMoR(5000)
    def view(ice: String) = IcebergMetadata.readMoR(spark, ice)
      .select(col(OlakeId), col("v")).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    val lightBefore = view(light)
    assert(IcebergMetadata.dataFileStats(light)
      .count(_.content == 1) >= 2)
    val outL = IcebergMetadata.autoMaintain(spark, light,
      targetBytes = 512L << 20, graceMs = 0L)
    assert(outL("compact").startsWith("skip (delete ratio"))
    assert(outL("posdeletes").contains("consolidated"))
    assert(outL("binpack").startsWith("skip (delete-bearing"))
    // still MoR (equality deletes remain), pos files consolidated,
    // view identical
    assert(IcebergMetadata.dataFileStats(light).count(_.content == 1) == 1)
    assert(IcebergMetadata.dataFileStats(light).exists(_.content == 2))
    assert(view(light) == lightBefore)

    // 10 base rows, same deletes → ratio ≥ 0.1: major path, binpack
    // eligible again
    val (_, heavy) = mkMoR(10)
    val heavyBefore = view(heavy)
    val outH = IcebergMetadata.autoMaintain(spark, heavy,
      targetBytes = 512L << 20, graceMs = 0L)
    assert(outH("compact").contains("applied"))
    assert(!outH.contains("posdeletes"))
    assert(!outH("binpack").startsWith("skip (delete-bearing"))
    assert(IcebergMetadata.dataFileStats(heavy).forall(_.content == 0))
    assert(view(heavy) == heavyBefore)
  }

  test("cherrypickSnapshot: an audit-branch append transplants onto a " +
    "moved main head; double-pick and non-append sources refuse") {
    import org.apache.spark.sql.functions._
    val tmp = Files.createTempDirectory("graft_cherry").toString
    def rows(ids: Range) = spark.range(ids.start, ids.end)
      .select(col("id"), (col("id") * 10).as("v"))
    rows(0 until 10).coalesce(1).write.parquet(s"$tmp/d0")
    IcebergMetadata.commit(spark, tmp, s"$tmp/d0"): Unit
    // WAP write half: stage 10-15 on an audit branch
    rows(10 until 15).coalesce(1).write.parquet(s"$tmp/d1")
    val staged = IcebergMetadata.commitToBranch(spark, tmp, s"$tmp/d1",
      "audit")
    // main advances while the branch is under review — fastForward
    // would now ROLL BACK the concurrent append; cherry-pick is the
    // only safe publish
    rows(20 until 25).coalesce(1).write.parquet(s"$tmp/d2")
    val mainB = IcebergMetadata.appendCommit(spark, tmp, s"$tmp/d2")
    // a BRANCH snapshot is not on the main lineage: consumers must
    // refuse it as a changelog start (it was never published)
    val exBr = intercept[IllegalArgumentException] {
      IcebergMetadata.changelogScan(spark, tmp, staged.snapshotId)
    }
    assert(exBr.getMessage.contains("main lineage"))
    val c = IcebergMetadata.cherrypickSnapshot(tmp, staged.snapshotId)
    assert(c.addedRows == 5)
    val got = spark.read.parquet(
        IcebergMetadata.dataFilePaths(tmp): _*)
      .select(col("id")).collect().map(_.getLong(0)).sorted.toSeq
    assert(got == ((0L until 10L) ++ (10L until 15L) ++
      (20L until 25L)).sorted)
    // provenance rides the snapshot summary, Iceberg's own key
    import scala.jdk.CollectionConverters._
    val (_, meta) = IcebergMetadata.currentMetadata(tmp).get
    val head = meta.withArray[com.fasterxml.jackson.databind.node.ArrayNode](
      "snapshots").elements.asScala.find(
        _.get("snapshot-id").asLong == c.snapshotId).get
    assert(head.get("summary").get("source-snapshot-id").asText ==
      staged.snapshotId.toString)
    // the changelog (from the pre-pick MAIN head) sees the pick as a
    // plain append of the 5 rows
    val log = IcebergMetadata.changelogScan(spark, tmp, mainB.snapshotId)
      .where(col("commit_snapshot_id") === c.snapshotId)
      .select(col("id"), col("change_type")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(log == (10L until 15L).map((_, "insert")).toSet)
    // double-pick: the files are already live at head
    val ex = intercept[IllegalArgumentException] {
      IcebergMetadata.cherrypickSnapshot(tmp, staged.snapshotId)
    }
    assert(ex.getMessage.contains("already applied"))
    // non-append source: an overwrite's removals don't transplant
    rows(0 until 3).coalesce(1).write.parquet(s"$tmp/d3")
    val ow = IcebergMetadata.commit(spark, tmp, s"$tmp/d3",
      operation = "overwrite")
    rows(30 until 32).coalesce(1).write.parquet(s"$tmp/d4")
    IcebergMetadata.appendCommit(spark, tmp, s"$tmp/d4"): Unit
    val ex2 = intercept[IllegalArgumentException] {
      IcebergMetadata.cherrypickSnapshot(tmp, ow.snapshotId)
    }
    assert(ex2.getMessage.contains("only append snapshots"))
  }

  test("changelogScan on a merge-on-read table: new delete files force " +
    "the full-state diff and the emitted deletes match the view delta") {
    import org.apache.spark.sql.functions._
    import graft.operators.SystemColumns.{OlakeId, OpType, CdcTimestamp}
    val table = Files.createTempDirectory("graft_clmor").toString
    val ice = Files.createTempDirectory("graft_clmorice").toString
    spark.range(10).select(
      col("id").cast("string").as(OlakeId), col("id").as("v"))
      .write.parquet(s"$table/base")
    def change(ids: Range, op: String, vOff: Long = 0) =
      spark.range(ids.start, ids.end).select(
        col("id").cast("string").as(OlakeId), (col("id") + vOff).as("v"),
        lit(op).as(OpType), current_timestamp().as(CdcTimestamp),
        col("id").as("lsn"))
    DeltaSegments.writeSegment(change(0 until 2, "u", vOff = 100), table, 1L)
    val c1 = IcebergMetadata.publishMoR(spark, ice, table)
    // second publish adds an eq-delete segment: the changelog between
    // the two snapshots must equal the MoR view delta, deletes included
    DeltaSegments.writeSegment(change(5 until 6, "d"), table, 2L)
    val c2 = IcebergMetadata.publishMoR(spark, ice, table)
    def view(id: Long) = IcebergMetadata
      .readMoR(spark, ice, asOfSnapshotId = Some(id))
      .select(col(OlakeId), col("v")).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    val (v1, v2) = (view(c1.snapshotId), view(c2.snapshotId))
    val log = IcebergMetadata.changelogScan(spark, ice, c1.snapshotId)
      .select(col(OlakeId), col("v"), col("change_type")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet
    assert(log.collect { case (k, v, "insert") => (k, v) } == v2 -- v1)
    assert(log.collect { case (k, v, "delete") => (k, v) } == v1 -- v2)
    assert(log.exists(_._3 == "delete"), "eq-delete row not emitted")
  }

  test("publishMoR: a key-unique segment skips the positional pass " +
    "(no pos-delete file, at most 6 jobs); a key that repeats only " +
    "through its tombstone still dies positionally") {
    import org.apache.spark.sql.functions._
    import graft.operators.SystemColumns.{OlakeId, OpType, CdcTimestamp}
    def mk(): (String, String) = {
      val table = Files.createTempDirectory("graft_uniq").toString
      spark.range(50).select(
        col("id").cast("string").as(OlakeId), col("id").as("v"))
        .write.parquet(s"$table/base")
      (table, Files.createTempDirectory("graft_uniqice").toString)
    }
    def change(ids: Range, op: String, vOff: Long = 0) =
      spark.range(ids.start, ids.end).select(
        col("id").cast("string").as(OlakeId), (col("id") + vOff).as("v"),
        lit(op).as(OpType), current_timestamp().as(CdcTimestamp))
    def snap(df: org.apache.spark.sql.DataFrame) = df
      .select(OlakeId, "v").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    def posDirs(ice: String) = new File(s"$ice/data").listFiles
      .flatMap(_.listFiles).map(_.getName).filter(_.endsWith("-posdeletes"))

    // the CDC apply shape: updates, deletes, inserts, one row per key
    val (table, ice) = mk()
    DeltaSegments.writeSegment(change(0 until 10, "u", vOff = 100)
      .unionByName(change(40 until 50, "d"))
      .unionByName(change(50 until 60, "c")), table, 1L)
    val (_, jobs) = jobsOf(IcebergMetadata.publishMoR(spark, ice, table))
    // the eq-delete write and the data write: schemas come from footers
    assert(jobs <= 3, s"key-unique publish ran $jobs Spark jobs")
    assert(posDirs(ice).isEmpty, "key-unique segment wrote pos deletes")
    assert(IcebergMetadata.dataFileStats(ice).forall(_.content != 1))
    assert(snap(IcebergMetadata.readMoR(spark, ice)) ==
      snap(DeltaSegments.read(spark, table)))

    // key "7" written, then deleted, in ONE segment: the counts differ,
    // so the positional pass runs and kills its data row
    val (table2, ice2) = mk()
    import spark.implicits._
    val seg = Seq(("7", 700L, "u", 1L), ("7", -1L, "d", 2L),
        ("8", 800L, "u", 3L))
      .toDF(OlakeId, "v", OpType, "ord")
      .withColumn(CdcTimestamp, current_timestamp())
      .coalesce(1).sortWithinPartitions("ord").drop("ord")
    DeltaSegments.writeSegment(seg, table2, 1L)
    IcebergMetadata.publishMoR(spark, ice2, table2): Unit
    assert(posDirs(ice2).length == 1)
    val got = snap(IcebergMetadata.readMoR(spark, ice2)).toMap
    assert(!got.contains("7") && got("8") == 800L && got.size == 49)
  }

  test("publishMoR: a segment marked _unique_keys publishes its " +
    "equality deletes without a shuffle (at most 2 jobs); without the " +
    "marker the footer proof gives the same table") {
    import org.apache.spark.sql.functions._
    import graft.operators.Merge
    import graft.operators.SystemColumns.{OlakeId, OpType, CdcTimestamp}
    val table = Files.createTempDirectory("graft_marked").toString
    spark.range(50).select(
      col("id").cast("string").as(OlakeId), col("id").as("v"))
      .write.parquet(s"$table/base")
    def change(ids: Range, op: String, vOff: Long = 0) =
      spark.range(ids.start, ids.end).select(
        col("id").cast("string").as(OlakeId), (col("id") + vOff).as("v"),
        lit(op).as(OpType), current_timestamp().as(CdcTimestamp))
    // keys 0-9 and 40-59 change twice (a day-old read, then the change
    // that wins the dedup); keys 10-39 only through the read
    val changes = change(0 until 10, "u", vOff = 100)
      .unionByName(change(40 until 50, "d"))
      .unionByName(change(50 until 60, "c"))
    DeltaSegments.writeSegment(Merge.dedupKeepLatestAgg(
      changes.unionByName(change(0 until 60, "r", vOff = -1)
        .withColumn(CdcTimestamp, col(CdcTimestamp) - expr("INTERVAL 1 DAY")))),
      table, 1L)
    val seg = DeltaSegments.segDir(table, 1L)
    assert(DeltaSegments.markedKeyUnique(seg), "dedup segment not marked")
    def snap(df: org.apache.spark.sql.DataFrame) = df
      .select(OlakeId, "v").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    def posDirs(ice: String) = new File(s"$ice/data").listFiles
      .flatMap(_.listFiles).map(_.getName).filter(_.endsWith("-posdeletes"))
    val want = snap(DeltaSegments.read(spark, table))
    assert(want.size == 50 && want.contains(("3", 103L)) &&
      !want.exists(_._1 == "45") && want.contains(("55", 55L)))

    val ice = Files.createTempDirectory("graft_markedice").toString
    val (_, jobs) = jobsOf(IcebergMetadata.publishMoR(spark, ice, table))
    // the map-only eq-delete write and the data write
    assert(jobs <= 2, s"marked publish ran $jobs Spark jobs")
    assert(posDirs(ice).isEmpty, "marked segment wrote pos deletes")
    assert(snap(IcebergMetadata.readMoR(spark, ice)) == want)

    // the marker only records the proof: without it the footer counts
    // find the segment key-unique and publish the same table
    assert(new File(seg, DeltaSegments.UniqueKeysMarker).delete())
    val ice2 = Files.createTempDirectory("graft_unmarkedice").toString
    IcebergMetadata.publishMoR(spark, ice2, table): Unit
    assert(posDirs(ice2).isEmpty)
    assert(snap(IcebergMetadata.readMoR(spark, ice2)) == want)
  }

  test("readMoR: reads after further publishes compile no generated " +
    "class, whether a publish follows a compaction or adds a live " +
    "sequence") {
    import org.apache.spark.sql.functions._
    import graft.operators.SystemColumns.{OlakeId, OpType, CdcTimestamp}
    val table = Files.createTempDirectory("graft_readcg").toString
    val ice = Files.createTempDirectory("graft_readcgice").toString
    spark.range(50).select(
      col("id").cast("string").as(OlakeId), col("id").as("v"))
      .write.parquet(s"$table/base")
    def change(ids: Range, op: String) =
      spark.range(ids.start, ids.end).select(
        col("id").cast("string").as(OlakeId), (col("id") + 100).as("v"),
        lit(op).as(OpType), current_timestamp().as(CdcTimestamp))
    def rows(df: org.apache.spark.sql.DataFrame) = df.select(OlakeId, "v")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    def read() = rows(IcebergMetadata.readMoR(spark, ice))
    def liveSeqs() = IcebergMetadata.dataFileStats(ice)
      .filter(_.content == 0).map(_.seq).distinct.size
    // a publish after a compaction reads the compacted base and one
    // segment; one without adds a live sequence to the read
    def publish(seq: Long, compact: Boolean): Unit = {
      val lo = (seq.toInt - 1) * 10
      if (compact) DeltaSegments.compact(spark, table)
      DeltaSegments.writeSegment(change(lo until lo + 10, "u")
        .unionByName(change(lo + 45 until lo + 50, "d")), table, seq)
      IcebergMetadata.publishMoR(spark, ice, table): Unit
    }
    publish(1L, compact = true)
    publish(2L, compact = true)
    read(): Unit
    val seqsAfter = Seq(3L -> true, 4L -> false, 5L -> false).map {
      case (seq, compact) =>
        publish(seq, compact)
        val want = rows(DeltaSegments.read(spark, table))
        val (got, compiles) = codegenCompilesOf(read())
        assert(compiles == 0,
          s"the read after publish $seq compiled $compiles classes")
        assert(got == want, s"publish $seq")
        liveSeqs()
    }
    assert(seqsAfter == Seq(2, 3, 4), s"live sequences: $seqsAfter")
  }

  test("publishMoR: a segment that predates an added column publishes " +
    "it typed, so readMoR's one-scan shape merges the data files") {
    import org.apache.spark.sql.functions._
    import graft.operators.SystemColumns.{OlakeId, OpType, CdcTimestamp}
    val table = Files.createTempDirectory("graft_typednull").toString
    val ice = Files.createTempDirectory("graft_typednullice").toString
    spark.range(10).select(
      col("id").cast("string").as(OlakeId), col("id").as("v"))
      .write.parquet(s"$table/base")
    def change(ids: Range) = spark.range(ids.start, ids.end).select(
      col("id").cast("string").as(OlakeId), (col("id") + 100).as("v"),
      lit("u").as(OpType), current_timestamp().as(CdcTimestamp))
    DeltaSegments.writeSegment(change(0 until 2), table, 1L)
    DeltaSegments.writeSegment(change(2 until 4)
      .withColumn("note", lit("n")), table, 2L)
    IcebergMetadata.publishMoR(spark, ice, table): Unit
    def snap(df: org.apache.spark.sql.DataFrame) = df
      .select(OlakeId, "v", "note").collect()
      .map(r => (r.getString(0), r.getLong(1), Option(r.getString(2)))).toSet
    // every column of every row: the scan, not just the plan, must work
    val oneScan = IcebergMetadata.readMoRAlgebra(spark, ice)
    assert(snap(oneScan) == snap(DeltaSegments.read(spark, table)))
    assert(snap(oneScan).collect { case (k, _, Some("n")) => k } == Set("2", "3"))
  }

  test("no Spark job opens a table: Tables.load of a Spark-written " +
    "directory, commit, readTable") {
    import org.apache.spark.sql.functions._
    val src = Files.createTempDirectory("graft_nojob_src").toString
    spark.range(25).select(col("id").as("n_nationkey"),
        concat(lit("nation-"), col("id")).as("n_name"),
        timestamp_micros(col("id")).as("n_ts"))
      .write.parquet(s"$src/nation.parquet")
    val (nation, loadJobs) = jobsOf(Tables.load(spark, src, "nation"))
    assert(loadJobs == 0, s"Tables.load ran $loadJobs Spark jobs")
    val data = Files.createTempDirectory("graft_nojob_data").toString
    nation.write.mode("overwrite").parquet(data)
    val ice = Files.createTempDirectory("graft_nojob_ice").toString
    val (_, commitJobs) = jobsOf(IcebergMetadata.commit(spark, ice, data))
    assert(commitJobs == 0, s"commit ran $commitJobs Spark jobs")
    val (table, readJobs) = jobsOf(IcebergMetadata.readTable(spark, ice))
    assert(readJobs == 0, s"building readTable ran $readJobs Spark jobs")
    assert(table.count() == 25)
  }

  test("no Spark job builds a merge-on-read view or a post-compaction " +
    "publish: DeltaSegments.read, readMoR, readTable") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    import graft.operators.SystemColumns.{OlakeId, OpType, CdcTimestamp}
    val table = Files.createTempDirectory("graft_nojob_mor").toString
    val ice = Files.createTempDirectory("graft_nojob_morice").toString
    spark.range(20).select(
      col("id").cast("string").as(OlakeId), col("id").as("v"))
      .write.parquet(s"$table/base")
    DeltaSegments.writeSegment(spark.range(0, 5).select(
      col("id").cast("string").as(OlakeId), (col("id") + 100).as("v"),
      lit("u").as(OpType), current_timestamp().as(CdcTimestamp)), table, 1L)
    // a key written then deleted in one segment: a positional delete
    DeltaSegments.writeSegment(Seq(("7", 700L, "u", 1L), ("7", -1L, "d", 2L))
      .toDF(OlakeId, "v", OpType, "ord")
      .withColumn(CdcTimestamp, current_timestamp())
      .coalesce(1).sortWithinPartitions("ord").drop("ord"), table, 2L)
    IcebergMetadata.publishMoR(spark, ice, table): Unit
    assert(IcebergMetadata.dataFileStats(ice).exists(_.content == 1))
    def snap(df: org.apache.spark.sql.DataFrame) = df
      .select(OlakeId, "v").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    val views = Seq[(String, () => org.apache.spark.sql.DataFrame)](
      "DeltaSegments.read" -> (() => DeltaSegments.read(spark, table)),
      "readMoR" -> (() => IcebergMetadata.readMoR(spark, ice)),
      "readMoRAlgebra" -> (() => IcebergMetadata.readMoRAlgebra(spark, ice)),
      "readTable" -> (() => IcebergMetadata.readTable(spark, ice)))
    val want = snap(DeltaSegments.read(spark, table))
    views.foreach { case (name, build) =>
      val (df, jobs) = jobsOf(build())
      assert(jobs == 0, s"building $name ran $jobs Spark jobs")
      assert(snap(df) == want, name)
    }
    DeltaSegments.compact(spark, table)
    val (_, jobs) = jobsOf(IcebergMetadata.publishMoR(spark, ice, table))
    assert(jobs == 0, s"post-compaction publish ran $jobs Spark jobs")
    assert(snap(IcebergMetadata.readMoR(spark, ice)) == want)
  }

  test("publishMoR: sequence numbers never decrease across a " +
    "compaction; a carried base file keeps its sequence") {
    import org.apache.spark.sql.functions._
    import scala.jdk.CollectionConverters._
    import graft.operators.SystemColumns.{OlakeId, OpType, CdcTimestamp}
    val table = Files.createTempDirectory("graft_seqmono").toString
    val ice = Files.createTempDirectory("graft_seqmonoice").toString
    spark.range(20).select(
      col("id").cast("string").as(OlakeId), col("id").as("v"))
      .write.parquet(s"$table/base")
    def seg(ids: Range, batch: Long): Unit = DeltaSegments.writeSegment(
      spark.range(ids.start, ids.end).select(
        col("id").cast("string").as(OlakeId), (col("id") + batch).as("v"),
        lit("u").as(OpType), current_timestamp().as(CdcTimestamp)),
      table, batch)
    def snap(df: org.apache.spark.sql.DataFrame) = df
      .select(OlakeId, "v").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    def baseSeqs() = IcebergMetadata.dataFileStats(ice)
      .filter(_.path.contains("/base/")).map(_.seq).toSet
    def publish(): IcebergMetadata.Commit = {
      val c = IcebergMetadata.publishMoR(spark, ice, table)
      assert(snap(IcebergMetadata.readMoR(spark, ice)) ==
        snap(DeltaSegments.read(spark, table)))
      c
    }
    seg(0 until 5, 1L)
    val c1 = publish()
    assert(c1.sequenceNumber == 2) // first publish: base=1, batch 1=2
    seg(5 until 10, 2L)
    publish(): Unit
    assert(baseSeqs() == Set(1L), "carried base must keep sequence 1")
    DeltaSegments.compact(spark, table) // base rewritten, segments gone
    publish(): Unit
    seg(10 until 15, 3L)
    val c4 = publish()
    val (_, meta) = IcebergMetadata.currentMetadata(ice).get
    val seqs = meta.withArray[com.fasterxml.jackson.databind.node
        .ArrayNode]("snapshots").asScala.map(_.get("sequence-number").asLong)
      .toSeq
    assert(seqs.size == 4)
    assert(seqs.zip(seqs.tail).forall { case (a, b) => a < b },
      s"snapshot sequence numbers not increasing: $seqs")
    assert(meta.get("last-sequence-number").asLong == seqs.last)
    assert(c4.sequenceNumber == seqs.last)
    // the compacted base took one number above the parent's and kept
    // it when the next publish carried it
    assert(baseSeqs() == Set(seqs(2)))
  }

  test("snapshot schema-id follows evolution: the current snapshot's " +
    "schema has the column a later segment added") {
    import org.apache.spark.sql.functions._
    import graft.operators.SystemColumns.{OlakeId, OpType, CdcTimestamp}
    val table = Files.createTempDirectory("graft_snapsid").toString
    val ice = Files.createTempDirectory("graft_snapsidice").toString
    spark.range(10).select(
      col("id").cast("string").as(OlakeId), col("id").as("v"))
      .write.parquet(s"$table/base")
    def change(ids: Range) = spark.range(ids.start, ids.end).select(
      col("id").cast("string").as(OlakeId), (col("id") + 100).as("v"),
      lit("u").as(OpType), current_timestamp().as(CdcTimestamp))
    DeltaSegments.writeSegment(change(0 until 2), table, 1L)
    val c1 = IcebergMetadata.publishMoR(spark, ice, table)
    DeltaSegments.writeSegment(change(2 until 4)
      .withColumn("note", lit("n")), table, 2L)
    val c2 = IcebergMetadata.publishMoR(spark, ice, table)
    assert(IcebergMetadata.sparkSchemaForSnapshot(ice, c2.snapshotId)
      .fieldNames.contains("note"))
    assert(!IcebergMetadata.sparkSchemaForSnapshot(ice, c1.snapshotId)
      .fieldNames.contains("note"))
  }
}
