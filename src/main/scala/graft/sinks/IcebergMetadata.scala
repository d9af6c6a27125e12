package graft.sinks

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}
import org.apache.avro.file.{DataFileReader, DataFileWriter, SeekableByteArrayInput}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Iceberg **v2 table-format metadata writer**, from the public table
  * spec (https://iceberg.apache.org/spec/): `vN.metadata.json` +
  * manifest-list Avro + manifest Avro with the spec's field-ids, over
  * parquet data files the sink already produced. This closes as much of
  * the reference's Iceberg commit path
  * (`IcebergTableOperator.java:83-227`,
  * `destination/iceberg/iceberg.go:521-545`) as a jar-less sandbox
  * allows: the sidecar's RPC commit becomes a metadata-tree commit an
  * Iceberg reader can walk, and the reference's `olake_2pc` state rides
  * the snapshot summary exactly like its table-property twin.
  *
  * Two publishing modes:
  *  - `commit`: the parquet files of one directory as the next
  *    append/overwrite snapshot (one data manifest);
  *  - `publishMoR`: a full MERGE-ON-READ snapshot of a `DeltaSegments`
  *    table — base files at sequence 1, one derived data file + one
  *    EQUALITY-DELETE file per delta segment at sequence k+2, emitted
  *    through a data manifest and a delete manifest (`content=1`), the
  *    exact file algebra the reference's Arrow writer produces
  *    per batch (`arrow-writer/writer.go:155-271`: every upsert batch
  *    is an eq-delete file over the key plus a data file). `readMoR`
  *    replays that algebra from the manifests alone — a row survives
  *    iff no equality delete on its key carries a strictly greater
  *    sequence number — and is pinned equal to `DeltaSegments.read`.
  *
  * Layout produced under `tableDir`:
  * {{{
  *   metadata/v1.metadata.json      // + v2… on later commits
  *   metadata/version-hint.text     // current version number
  *   metadata/snap-<id>-1-<uuid>.avro   // manifest list (one per commit)
  *   metadata/<uuid>-m<i>.avro          // manifests
  *   data/…                         // derived MoR data/delete files
  * }}}
  * Manifests carry absolute paths (the spec allows fully-qualified
  * locations), so base parquet is referenced in place — zero copy.
  *
  * Sequence numbers follow v2 semantics: `last-sequence-number` is the
  * highest stamped; every manifest entry carries its own.
  *
  * Every new table version — snapshot commits and metadata-only ops
  * alike — goes through ONE transition, shaped like Iceberg's
  * `TableMetadata.buildFrom(base)` ([[Base.write]]): the base version
  * is read once per commit attempt, deep-copied (a fresh root for a
  * new table), patched, given its `metadata-log` entry and
  * `last-updated-ms`, and written one of two ways — the filesystem CAS
  * (claim `v<base+1>.metadata.json`, then flip the version hint) or,
  * for [[commitAgainst]], the catalog proposal
  * `v<base+1>-<snapshotId>.metadata.json` a catalog pointer swap
  * commits. Snapshot producers share one patch ([[addSnapshot]]), so
  * whatever they do not touch — refs, properties, sort orders, schemas
  * and logs — carries forward as is.
  */
object IcebergMetadata {

  private[sinks] val mapper = new ObjectMapper()

  case class Commit(version: Int, snapshotId: Long, sequenceNumber: Long,
                    manifestPath: String, manifestListPath: String,
                    addedFiles: Int, addedRows: Long,
                    /** Absolute path of the staged metadata file. For
                      * hint-arbitrated (filesystem) commits this is the
                      * claimed `vN.metadata.json`; for catalog-arbitrated
                      * staging it is the snapshot-qualified
                      * `vN-<snapshotId>.metadata.json` the caller hands
                      * to the catalog CAS. */
                    metadataPath: String = "")

  /** Per-file column statistics keyed by Iceberg field id, as the spec's
    * optional data_file stat maps. Bound values use the spec's binary
    * single-value serialization (little-endian numerics, raw UTF-8 for
    * strings). The library writer populates these automatically; they
    * are what makes 100 TB scan planning skip files. */
  case class ColStats(sizes: Map[Int, Long] = Map.empty,
                      valueCounts: Map[Int, Long] = Map.empty,
                      nullCounts: Map[Int, Long] = Map.empty,
                      lower: Map[Int, Array[Byte]] = Map.empty,
                      upper: Map[Int, Array[Byte]] = Map.empty)

  /** One physical file headed for a manifest. `content`: 0 data,
    * 2 equality deletes (per the data_file spec). `partition` holds the
    * file's partition tuple (one value per spec field, null allowed)
    * when the table is partitioned. `entryStatus` is the manifest-entry
    * status (spec §Manifests: 0 EXISTING, 1 ADDED) — a rewrite carries
    * untouched files forward as EXISTING with their ORIGINAL
    * `entrySnapshotId` (None = the committing snapshot), so external
    * incremental/append scans never re-see a kept file as new. */
  case class FileEntry(path: String, sizeBytes: Long, rows: Long,
                       seq: Long, content: Int = 0,
                       equalityIds: Seq[Int] = Nil,
                       stats: ColStats = ColStats(),
                       partition: Seq[Any] = Nil,
                       entryStatus: Int = 1,
                       entrySnapshotId: Option[Long] = None)

  /** A manifest entry read back with its stats — the planner's view.
    * `addedSnapshotId` is the entry's own snapshot_id (the snapshot
    * that first added the file — preserved across rewrites). */
  case class DataFileStat(path: String, seq: Long, content: Int,
                          recordCount: Long, stats: ColStats,
                          partition: Seq[Any] = Nil,
                          addedSnapshotId: Long = 0L,
                          sizeBytes: Long = 0L,
                          specId: Int = 0,
                          equalityIds: Seq[Int] = Nil) {
    /** This file carried into a new manifest: an EXISTING entry with
      * its original snapshot id, sequence, stats and tuple. */
    def existing: FileEntry = FileEntry(path, sizeBytes, recordCount, seq,
      content, equalityIds, stats, partition, entryStatus = 0,
      entrySnapshotId = Some(addedSnapshotId))
  }

  /** One partition-spec field as written to metadata + manifests:
    * `avroType` is the transform RESULT type ("int" | "long" |
    * "string"), `sourceId` the source column's Iceberg field id.
    * Spec field ids start at 1000 in declaration order. */
  case class PartSpecField(name: String, avroType: String,
                           sourceId: Int, transform: String,
                           fieldId: Int = -1)

  /** Resolved partition field-id: explicit when the spec carries one
    * (post-evolution specs allocate fresh ids above last-partition-id
    * — v2 requires field-ids unique ACROSS specs), else the spec-0
    * positional default 1000+i. */
  private def specFieldId(p: PartSpecField, i: Int): Int =
    if (p.fieldId >= 0) p.fieldId else 1000 + i

  /** A manifest-list `field_summary` (spec field-ids 509/518/510/511):
    * the per-partition-field aggregate over one manifest's entries that
    * lets a planner skip the WHOLE manifest without opening it. */
  case class PartFieldSummary(containsNull: Boolean,
                              lower: Option[Array[Byte]],
                              upper: Option[Array[Byte]])

  /** Manifest paths and Spark's `_metadata.file_path` render the URI
    * scheme differently ("/x" vs "file:///x"); every path join
    * normalizes BOTH sides to the path part with this one regex. */
  private[graft] val SchemeRe = "^[A-Za-z][A-Za-z0-9+.-]*:/+"

  /** Decode a numeric bound from Iceberg single-value serialization
    * (4-byte LE int / 8-byte LE long). */
  def boundLong(b: Array[Byte]): Long = {
    val buf = java.nio.ByteBuffer.wrap(b)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    if (b.length == 4) buf.getInt.toLong else buf.getLong
  }

  // All table IO goes through the TPath seam (local file or any Hadoop
  // FileSystem scheme — s3wire://), so every commit/maintenance op in
  // this object runs against the storage the table actually lives on.
  private def metaDir(tableDir: String): TPath =
    TableIO(tableDir).child("metadata")

  /** The manifest_entry Avro schema (spec §Manifests, v2 required
    * fields + equality_ids; remaining column stats are spec-optional).
    * The `partition` record (field-id 102) carries one field per
    * partition-spec field — ids 1000+ in spec order — so the schema is
    * built per spec; the unpartitioned shape is cached below. */
  private def entrySchemaFor(parts: Seq[PartSpecField])
      : org.apache.avro.Schema = {
    val partFields = parts.zipWithIndex.map { case (p, i) =>
      s"""{"name": "${p.name}", "type": ["null", "${p.avroType}"],
         | "default": null, "field-id": ${specFieldId(p, i)}}""".stripMargin
    }.mkString(",")
    new org.apache.avro.Schema.Parser().parse(s"""{
      "type": "record", "name": "manifest_entry", "fields": [
        {"name": "status", "type": "int", "field-id": 0},
        {"name": "snapshot_id", "type": ["null", "long"], "default": null, "field-id": 1},
        {"name": "sequence_number", "type": ["null", "long"], "default": null, "field-id": 3},
        {"name": "file_sequence_number", "type": ["null", "long"], "default": null, "field-id": 4},
        {"name": "data_file", "field-id": 2, "type": {
          "type": "record", "name": "r2", "fields": [
            {"name": "content", "type": "int", "field-id": 134},
            {"name": "file_path", "type": "string", "field-id": 100},
            {"name": "file_format", "type": "string", "field-id": 101},
            {"name": "partition", "field-id": 102,
             "type": {"type": "record", "name": "r102", "fields": [$partFields]}},
            {"name": "record_count", "type": "long", "field-id": 103},
            {"name": "file_size_in_bytes", "type": "long", "field-id": 104},
            {"name": "column_sizes", "default": null, "field-id": 108,
             "type": ["null", {"type": "array", "logicalType": "map",
               "items": {"type": "record", "name": "k117_v118", "fields": [
                 {"name": "key", "type": "int", "field-id": 117},
                 {"name": "value", "type": "long", "field-id": 118}]}}]},
            {"name": "value_counts", "default": null, "field-id": 109,
             "type": ["null", {"type": "array", "logicalType": "map",
               "items": {"type": "record", "name": "k119_v120", "fields": [
                 {"name": "key", "type": "int", "field-id": 119},
                 {"name": "value", "type": "long", "field-id": 120}]}}]},
            {"name": "null_value_counts", "default": null, "field-id": 110,
             "type": ["null", {"type": "array", "logicalType": "map",
               "items": {"type": "record", "name": "k121_v122", "fields": [
                 {"name": "key", "type": "int", "field-id": 121},
                 {"name": "value", "type": "long", "field-id": 122}]}}]},
            {"name": "lower_bounds", "default": null, "field-id": 125,
             "type": ["null", {"type": "array", "logicalType": "map",
               "items": {"type": "record", "name": "k126_v127", "fields": [
                 {"name": "key", "type": "int", "field-id": 126},
                 {"name": "value", "type": "bytes", "field-id": 127}]}}]},
            {"name": "upper_bounds", "default": null, "field-id": 128,
             "type": ["null", {"type": "array", "logicalType": "map",
               "items": {"type": "record", "name": "k129_v130", "fields": [
                 {"name": "key", "type": "int", "field-id": 129},
                 {"name": "value", "type": "bytes", "field-id": 130}]}}]},
            {"name": "equality_ids", "default": null, "field-id": 135,
             "type": ["null", {"type": "array", "items": "int", "element-id": 136}]}
          ]}}
      ]}""")
  }

  private val manifestEntrySchema: org.apache.avro.Schema =
    entrySchemaFor(Nil)

  /** The manifest_file Avro schema for the manifest list (spec
    * §Manifest Lists, v2 required fields + the `partitions`
    * field-summary list, field-id 507, that prunes whole manifests on
    * partitioned tables). */
  private val manifestFileSchema: org.apache.avro.Schema =
    new org.apache.avro.Schema.Parser().parse("""{
      "type": "record", "name": "manifest_file", "fields": [
        {"name": "manifest_path", "type": "string", "field-id": 500},
        {"name": "manifest_length", "type": "long", "field-id": 501},
        {"name": "partition_spec_id", "type": "int", "field-id": 502},
        {"name": "content", "type": "int", "field-id": 517},
        {"name": "sequence_number", "type": "long", "field-id": 515},
        {"name": "min_sequence_number", "type": "long", "field-id": 516},
        {"name": "added_snapshot_id", "type": "long", "field-id": 503},
        {"name": "added_files_count", "type": "int", "field-id": 504},
        {"name": "existing_files_count", "type": "int", "field-id": 505},
        {"name": "deleted_files_count", "type": "int", "field-id": 506},
        {"name": "added_rows_count", "type": "long", "field-id": 512},
        {"name": "existing_rows_count", "type": "long", "field-id": 513},
        {"name": "deleted_rows_count", "type": "long", "field-id": 514},
        {"name": "partitions", "default": null, "field-id": 507,
         "type": ["null", {"type": "array", "element-id": 508,
           "items": {"type": "record", "name": "r508", "fields": [
             {"name": "contains_null", "type": "boolean", "field-id": 509},
             {"name": "contains_nan", "type": ["null", "boolean"],
              "default": null, "field-id": 518},
             {"name": "lower_bound", "type": ["null", "bytes"],
              "default": null, "field-id": 510},
             {"name": "upper_bound", "type": ["null", "bytes"],
              "default": null, "field-id": 511}
           ]}}]}
      ]}""")

  /** Spark type → Iceberg type JSON (spec §Schemas). `nextId` hands out
    * fresh field ids for nested fields, matching Iceberg's fresh-id
    * assignment on table creation. */
  private def icebergType(dt: DataType, nextId: () => Int): Any = dt match {
    case BooleanType => "boolean"
    case IntegerType | ShortType | ByteType => "int"
    case LongType => "long"
    case FloatType => "float"
    case DoubleType => "double"
    case StringType => "string"
    case BinaryType => "binary"
    case DateType => "date"
    case TimestampType => "timestamptz"
    case TimestampNTZType => "timestamp"
    case d: DecimalType => s"decimal(${d.precision}, ${d.scale})"
    case s: StructType =>
      val node = mapper.createObjectNode()
      node.put("type", "struct")
      val fields = node.putArray("fields")
      s.fields.foreach { f =>
        val id = nextId()
        val fn = fields.addObject()
        fn.put("id", id); fn.put("name", f.name)
        fn.put("required", !f.nullable)
        putType(fn, "type", icebergType(f.dataType, nextId))
      }
      node
    case a: ArrayType =>
      val node = mapper.createObjectNode()
      node.put("type", "list"); node.put("element-id", nextId())
      putType(node, "element", icebergType(a.elementType, nextId))
      node.put("element-required", !a.containsNull)
      node
    case m: MapType =>
      val node = mapper.createObjectNode()
      node.put("type", "map")
      node.put("key-id", nextId())
      putType(node, "key", icebergType(m.keyType, nextId))
      node.put("value-id", nextId())
      putType(node, "value", icebergType(m.valueType, nextId))
      node.put("value-required", !m.valueContainsNull)
      node
    case other => throw new IllegalArgumentException(s"unsupported: $other")
  }

  private def putType(node: ObjectNode, key: String, t: Any): Unit = t match {
    case s: String => node.put(key, s): Unit
    case n: JsonNode => node.set[JsonNode](key, n): Unit
  }

  /** Iceberg schema JSON for a Spark schema (schema-id 0, fresh ids). */
  def schemaJson(schema: StructType): String = schemaJson(schema, Nil)

  /** `identifierFields` become the schema's `identifier-field-ids` —
    * Iceberg's ROW IDENTITY (spec §Schemas), what real readers use to
    * interpret v2 equality deletes. The reference's Java writer adds
    * the PK field the same way (`SchemaConvertor.java:46-48`,
    * toggleable via the `no_identifier_fields` config for catalogs
    * like Unity that reject them). The spec requires identifier fields
    * to be `required`, so they are forced non-null here. */
  def schemaJson(schema: StructType,
                 identifierFields: Seq[String]): String = {
    var id = 0
    def nextId() = { id += 1; id }
    val root = icebergType(schema, () => nextId()).asInstanceOf[ObjectNode]
    root.put("schema-id", 0)
    if (identifierFields.nonEmpty) {
      val fields = root.withArray[ArrayNode]("fields")
      val idArr = root.putArray("identifier-field-ids")
      identifierFields.foreach { name =>
        val f = fields.asScala.map(_.asInstanceOf[ObjectNode])
          .find(_.get("name").asText == name).getOrElse(
            throw new IllegalArgumentException(
              s"identifier field $name not in schema"))
        f.put("required", true)
        idArr.add(f.get("id").asInt): Unit
      }
    }
    // last assigned id rides along for metadata.json's last-column-id
    root.put("x-last-column-id", id)
    mapper.writeValueAsString(root)
  }

  /** Iceberg type JSON → Spark type — the exact inverse of
    * [[icebergType]], used by the DSv2 streaming source to answer
    * `inferSchema` from the table's own metadata (no data-file probe).
    * Spec §Schemas: primitives are strings, compound types are nodes
    * with a `type` discriminator. */
  private def sparkType(t: JsonNode): DataType =
    if (t.isTextual) t.asText match {
      case "boolean" => BooleanType
      case "int" => IntegerType
      case "long" => LongType
      case "float" => FloatType
      case "double" => DoubleType
      case "string" => StringType
      case "binary" => BinaryType
      case "date" => DateType
      case "timestamptz" => TimestampType
      case "timestamp" => TimestampNTZType
      case s if s.startsWith("decimal(") =>
        val Array(p, sc) = s.stripPrefix("decimal(").stripSuffix(")")
          .split(",").map(_.trim.toInt)
        DecimalType(p, sc)
      case other =>
        throw new IllegalArgumentException(s"unsupported type: $other")
    } else t.get("type").asText match {
      case "struct" => StructType(
        t.withArray[ArrayNode]("fields").asScala.toSeq.map(f =>
          StructField(f.get("name").asText, sparkType(f.get("type")),
            nullable = !f.get("required").asBoolean)))
      case "list" => ArrayType(sparkType(t.get("element")),
        containsNull = !t.get("element-required").asBoolean)
      case "map" => MapType(sparkType(t.get("key")),
        sparkType(t.get("value")),
        valueContainsNull = !t.get("value-required").asBoolean)
      case other =>
        throw new IllegalArgumentException(s"unsupported type: $other")
    }

  /** Spark schema of a table's CURRENT Iceberg schema — metadata-only
    * (one version-hint + one metadata.json read). */
  def currentSparkSchema(tableDir: String): StructType = {
    val (_, meta) = currentMetadata(tableDir).getOrElse(
      throw new IllegalStateException(s"no committed version at $tableDir"))
    val sid = meta.get("current-schema-id").asInt
    val node = meta.withArray[ArrayNode]("schemas").asScala
      .find(_.get("schema-id").asInt == sid).getOrElse(
        throw new IllegalStateException(s"schema $sid missing"))
    sparkType(node).asInstanceOf[StructType]
  }

  /** Spark schema of one SNAPSHOT's own schema-id — what Iceberg time
    * travel serves (`VERSION AS OF` resolves the snapshot's schema,
    * not the table's current one, so post-evolution reads of old
    * snapshots don't surface later-added columns). Falls back to the
    * current schema when the snapshot predates schema-id tracking. */
  def sparkSchemaForSnapshot(tableDir: String,
                             snapshotId: Long): StructType = {
    val (_, meta) = currentMetadata(tableDir).getOrElse(
      throw new IllegalStateException(s"no committed version at $tableDir"))
    val sid = meta.withArray[ArrayNode]("snapshots").asScala
      .find(_.get("snapshot-id").asLong == snapshotId)
      .flatMap(s => Option(s.get("schema-id")).map(_.asInt))
      .getOrElse(meta.get("current-schema-id").asInt)
    val node = meta.withArray[ArrayNode]("schemas").asScala
      .find(_.get("schema-id").asInt == sid).getOrElse(
        throw new IllegalStateException(s"schema $sid missing"))
    sparkType(node).asInstanceOf[StructType]
  }

  /** The current schema's `identifier-field-ids` as (name, field-id)
    * pairs — the row-identity columns the engine's MoR publishes
    * declare (reference SchemaConvertor.java:46-48). Empty when the
    * table declares none. */
  def identifierColumns(tableDir: String): Seq[(String, Int)] =
    currentMetadata(tableDir).toSeq.flatMap { case (_, meta) =>
      val sid = meta.get("current-schema-id").asInt
      val node = meta.withArray[ArrayNode]("schemas").asScala
        .find(_.get("schema-id").asInt == sid).get
      val byId = node.withArray[ArrayNode]("fields").asScala
        .map(f => f.get("id").asInt -> f.get("name").asText).toMap
      Option(node.get("identifier-field-ids")).toSeq
        .flatMap(_.asScala.map(_.asInt))
        .flatMap(id => byId.get(id).map(_ -> id))
    }

  /** Field id of a top-level column in a `schemaJson` result. */
  def fieldId(schemaStr: String, name: String): Int = {
    val fields = mapper.readTree(schemaStr).withArray[ArrayNode]("fields")
    fields.asScala.find(_.get("name").asText == name)
      .map(_.get("id").asInt)
      .getOrElse(throw new IllegalArgumentException(s"no field $name"))
  }

  /** Parquet footer row count + per-column stats — no data scan. The
    * footer's row-group statistics aggregate into the manifest's
    * value/null counts and min/max bounds keyed by Iceberg field id
    * (only top-level primitive columns present in `fieldIds`; a column
    * whose footer lacks stats in ANY row group gets no bounds — absent
    * stats must read as "cannot prune", never as a wrong bound). */
  private def footerInfo(spark: SparkSession, path: String,
                         fieldIds: Map[String, Int]): (Long, ColStats) = {
    import org.apache.parquet.column.statistics.Statistics
    val r = ParquetFooters.open(spark, path)
    try {
      if (fieldIds.isEmpty) (r.getRecordCount, ColStats())
      else {
        val sizes = scala.collection.mutable.Map.empty[Int, Long]
        val values = scala.collection.mutable.Map.empty[Int, Long]
        val nulls = scala.collection.mutable.Map.empty[Int, Long]
        val merged = scala.collection.mutable.Map.empty[Int, Statistics[_]]
        val unbounded = scala.collection.mutable.Set.empty[Int]
        val nullsUnknown = scala.collection.mutable.Set.empty[Int]
        r.getRowGroups.asScala.foreach { bl =>
          bl.getColumns.asScala.foreach { cc =>
            val path = cc.getPath.toArray
            if (path.length == 1) fieldIds.get(path(0)).foreach { id =>
              sizes(id) = sizes.getOrElse(id, 0L) + cc.getTotalSize
              values(id) = values.getOrElse(id, 0L) + cc.getValueCount
              val st = cc.getStatistics
              if (st == null || st.isEmpty || !st.hasNonNullValue)
                unbounded += id
              else {
                // a footer may carry min/max but leave num_nulls unset
                // (getNumNulls = -1): treat the column's null count as
                // missing rather than corrupting the manifest with -1s
                if (st.isNumNullsSet)
                  nulls(id) = nulls.getOrElse(id, 0L) + st.getNumNulls
                else nullsUnknown += id
                merged.get(id) match {
                  case Some(acc) => mergeStats(acc, st)
                  case None => merged(id) = st.copy()
                }
              }
            }
          }
        }
        unbounded.foreach { id => merged.remove(id); nulls.remove(id) }
        nullsUnknown.foreach { id => nulls.remove(id): Unit }
        val bounds = merged.toMap.flatMap { case (id, st) =>
          serializeBound(st.genericGetMin)
            .zip(serializeBound(st.genericGetMax))
            .map { case (lo, hi) => id -> (lo, hi) }
        }
        (r.getRecordCount, ColStats(sizes.toMap, values.toMap, nulls.toMap,
          bounds.map { case (id, (lo, _)) => id -> lo },
          bounds.map { case (id, (_, hi)) => id -> hi }))
      }
    } finally r.close()
  }

  @SuppressWarnings(Array("unchecked"))
  private def mergeStats(acc: org.apache.parquet.column.statistics.Statistics[_],
                         st: org.apache.parquet.column.statistics.Statistics[_]): Unit = {
    // the two Statistics instances are the same concrete subtype (same
    // parquet column across row groups); the raw call is safe
    type S = org.apache.parquet.column.statistics.Statistics[T] forSome {
      type T <: Comparable[T]
    }
    acc.asInstanceOf[S].mergeStatistics(st.asInstanceOf[acc.type])
  }

  /** Iceberg binary single-value serialization of a parquet stat value
    * (spec Appendix D: little-endian numerics, UTF-8 strings). */
  private def serializeBound(v: Any): Option[Array[Byte]] = {
    import java.nio.{ByteBuffer, ByteOrder}
    v match {
      case i: java.lang.Integer =>
        Some(ByteBuffer.allocate(4).order(ByteOrder.LITTLE_ENDIAN)
          .putInt(i).array())
      case l: java.lang.Long =>
        Some(ByteBuffer.allocate(8).order(ByteOrder.LITTLE_ENDIAN)
          .putLong(l).array())
      case f: java.lang.Float =>
        Some(ByteBuffer.allocate(4).order(ByteOrder.LITTLE_ENDIAN)
          .putFloat(f).array())
      case d: java.lang.Double =>
        Some(ByteBuffer.allocate(8).order(ByteOrder.LITTLE_ENDIAN)
          .putDouble(d).array())
      case b: java.lang.Boolean =>
        Some(Array[Byte](if (b) 1 else 0))
      case bin: org.apache.parquet.io.api.Binary => Some(bin.getBytes)
      case _ => None
    }
  }

  // Sizes ride the directory LISTING (one call per dir), never a
  // per-file stat — the only files statted here are freshly written
  // outputs whose sizes exist in no manifest yet.
  private def parquetFilesIn(dir: String): Seq[TPath] =
    TableIO(dir).list
      .filter(f => f.isFile && f.name.endsWith(".parquet"))
      .sortBy(_.name)

  /** Top-level (column name → field id) of a `schemaJson` result. */
  private[sinks] def topLevelFieldIds(schemaStr: String): Map[String, Int] =
    mapper.readTree(schemaStr).withArray[ArrayNode]("fields").asScala
      .map(f => f.get("name").asText -> f.get("id").asInt).toMap

  private[sinks] def entriesFor(spark: SparkSession, dir: String, seq: Long,
                         content: Int = 0,
                         equalityIds: Seq[Int] = Nil,
                         fieldIds: Map[String, Int] = Map.empty,
                         partition: Seq[Any] = Nil,
                         onlyFiles: Option[Set[String]] = None)
      : Seq[FileEntry] =
    parquetFilesIn(dir)
      // `onlyFiles` (the DSv2 write faces): commit EXACTLY the files
      // the winning task attempts reported — a crashed or speculative
      // attempt's stray file in the staged dir must neither be
      // committed (duplicate rows) nor footer-read (it may be cut)
      .filter(f => onlyFiles.forall(_.contains(f.canonical)))
      .map { f =>
        val (rows, stats) = footerInfo(spark, f.abs, fieldIds)
        FileEntry(f.abs, f.length, rows, seq, content,
          equalityIds, stats, partition)
      }

  /** The partition-spec JSON written to manifest metadata and
    * `metadata.json` (spec §Partition Specs). */
  private def partSpecJson(parts: Seq[PartSpecField]): String =
    parts.zipWithIndex.map { case (p, i) =>
      s"""{"name":"${p.name}","transform":"${p.transform}",""" +
        s""""source-id":${p.sourceId},"field-id":${specFieldId(p, i)}}"""
    }.mkString("[", ",", "]")

  /** Write one manifest Avro with ADDED entries. */
  private[sinks] def writeManifest(md: TPath, entries: Seq[FileEntry],
                            snapshotId: Long, schemaStr: String,
                            content: String, index: Int,
                            parts: Seq[PartSpecField] = Nil,
                            specId: Int = 0): TPath = {
    val entrySchema = if (parts.isEmpty) manifestEntrySchema
      else entrySchemaFor(parts)
    val f = md.child(s"${java.util.UUID.randomUUID()}-m$index.avro")
    val w = new DataFileWriter(
      new GenericDatumWriter[GenericRecord](entrySchema))
    w.setMeta("schema", stripInternal(schemaStr))
    w.setMeta("partition-spec", partSpecJson(parts))
    w.setMeta("partition-spec-id", specId.toString)
    w.setMeta("format-version", "2")
    w.setMeta("content", content)
    w.create(entrySchema, f.createOutput())
    try entries.foreach { e =>
      val df = new GenericData.Record(
        entrySchema.getField("data_file").schema())
      df.put("content", e.content)
      df.put("file_path", e.path)
      df.put("file_format", "PARQUET")
      val pRec = new GenericData.Record(
        entrySchema.getField("data_file").schema()
          .getField("partition").schema())
      parts.zip(e.partition).foreach { case (p, v) =>
        pRec.put(p.name, v match {
          case null => null
          case i: Int => Int.box(i)
          case l: Long => Long.box(l)
          case s: String => s
          case other => throw new IllegalArgumentException(
            s"unsupported partition value type: ${other.getClass}")
        })
      }
      df.put("partition", pRec)
      df.put("record_count", e.rows)
      df.put("file_size_in_bytes", e.sizeBytes)
      val dfSchema = entrySchema.getField("data_file").schema()
      def kvArray[T](field: String, m: Map[Int, T])(put: (GenericData.Record, T) => Unit): Unit =
        if (m.nonEmpty) {
          val arrSchema = dfSchema.getField(field).schema().getTypes.get(1)
          val itemSchema = arrSchema.getElementType
          val arr = new GenericData.Array[GenericRecord](m.size, arrSchema)
          m.toSeq.sortBy(_._1).foreach { case (k, v) =>
            val kv = new GenericData.Record(itemSchema)
            kv.put("key", k); put(kv, v); arr.add(kv)
          }
          df.put(field, arr)
        }
      kvArray("column_sizes", e.stats.sizes)((r, v) => r.put("value", v))
      kvArray("value_counts", e.stats.valueCounts)((r, v) => r.put("value", v))
      kvArray("null_value_counts", e.stats.nullCounts)((r, v) => r.put("value", v))
      kvArray("lower_bounds", e.stats.lower)((r, v) =>
        r.put("value", java.nio.ByteBuffer.wrap(v)))
      kvArray("upper_bounds", e.stats.upper)((r, v) =>
        r.put("value", java.nio.ByteBuffer.wrap(v)))
      if (e.equalityIds.nonEmpty)
        df.put("equality_ids", e.equalityIds.map(Int.box).asJava)
      val entry = new GenericData.Record(entrySchema)
      // 1 ADDED for fresh files; 0 EXISTING for carried-forward files,
      // whose snapshot_id stays the ORIGINAL adding snapshot (spec
      // §Manifests — an incremental reader keys "new since snapshot X"
      // on exactly these two fields)
      entry.put("status", e.entryStatus)
      entry.put("snapshot_id", e.entrySnapshotId.getOrElse(snapshotId))
      entry.put("sequence_number", e.seq)
      entry.put("file_sequence_number", e.seq)
      entry.put("data_file", df)
      w.append(entry)
    } finally w.close()
    f
  }

  /** Serialize one partition VALUE with the spec's binary single-value
    * serialization (same rules `serializeBound` applies to parquet
    * stats — Appendix D). */
  private def serializePartValue(avroType: String, v: Any): Array[Byte] = {
    import java.nio.{ByteBuffer, ByteOrder}
    (avroType, v) match {
      case ("int", i: Int) =>
        ByteBuffer.allocate(4).order(ByteOrder.LITTLE_ENDIAN).putInt(i).array()
      case ("long", l: Long) =>
        ByteBuffer.allocate(8).order(ByteOrder.LITTLE_ENDIAN).putLong(l).array()
      case ("string", s: String) =>
        s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      case _ => throw new IllegalArgumentException(
        s"unsupported partition bound: $avroType / $v")
    }
  }

  /** field_summary rows for one manifest: per spec field, null-presence
    * and min/max over the manifest's entries — what `partitions`
    * (field-id 507) carries so a planner prunes manifests unopened. */
  private def partSummaries(parts: Seq[PartSpecField],
                            entries: Seq[FileEntry])
      : Seq[PartFieldSummary] =
    parts.zipWithIndex.map { case (p, i) =>
      val vs = entries.map(e => e.partition.lift(i).orNull)
      val nonNull = vs.filter(_ != null)
      val ordered: Option[(Any, Any)] = p.avroType match {
        case _ if nonNull.isEmpty => None
        case "int" =>
          val xs = nonNull.map(_.asInstanceOf[Int]); Some((xs.min, xs.max))
        case "long" =>
          val xs = nonNull.map(_.asInstanceOf[Long]); Some((xs.min, xs.max))
        case "string" =>
          val xs = nonNull.map(_.asInstanceOf[String]); Some((xs.min, xs.max))
        case _ => None
      }
      PartFieldSummary(vs.exists(_ == null),
        ordered.map { case (lo, _) => serializePartValue(p.avroType, lo) },
        ordered.map { case (_, hi) => serializePartValue(p.avroType, hi) })
    }

  /** One manifest headed for the manifest list: `content` 0 data /
    * 1 deletes, plus the partition spec its entries were written under
    * (`parts` empty = unpartitioned; a multi-spec table mixes both —
    * e.g. an unpartitioned base at spec 0 and partitioned CDC segments
    * at spec 1). */
  private case class ManifestOut(file: TPath, content: Int,
                                 entries: Seq[FileEntry],
                                 parts: Seq[PartSpecField] = Nil,
                                 specId: Int = 0)

  /** Write the manifest list: one row per manifest. A manifest written
    * under a partitioned spec also carries the `partitions`
    * field-summary list computed over its entries. `carryForward` rows
    * (a fast-append's prior-snapshot manifests, read back with the
    * same writer schema) are re-emitted FIRST, byte-equivalent — their
    * added_snapshot_id / counts / summaries stay the original ones. */
  private[sinks] def writeManifestList(md: TPath, snapshotId: Long,
                                manifests: Seq[ManifestOut],
                                carryForward: Seq[GenericRecord] = Nil)
      : TPath = {
    val f = md.child(
      s"snap-$snapshotId-1-${java.util.UUID.randomUUID()}.avro")
    val w = new DataFileWriter(
      new GenericDatumWriter[GenericRecord](manifestFileSchema))
    w.setMeta("format-version", "2")
    w.create(manifestFileSchema, f.createOutput())
    try {
    carryForward.foreach(w.append)
    manifests.foreach { mo =>
      val entries = mo.entries
      val m = new GenericData.Record(manifestFileSchema)
      m.put("manifest_path", mo.file.abs)
      m.put("manifest_length", mo.file.length)
      m.put("partition_spec_id", mo.specId)
      m.put("content", mo.content)
      m.put("sequence_number", entries.map(_.seq).max)
      m.put("min_sequence_number", entries.map(_.seq).min)
      m.put("added_snapshot_id", snapshotId)
      // EXISTING entries (rewrite carry-forwards) count under the
      // existing_* fields, per the manifest_file spec — an external
      // reader's "added this snapshot" math must not re-count them
      val (addedE, existingE) = entries.partition(_.entryStatus == 1)
      m.put("added_files_count", addedE.length)
      m.put("existing_files_count", existingE.length)
      m.put("deleted_files_count", 0)
      m.put("added_rows_count", addedE.map(_.rows).sum)
      m.put("existing_rows_count", existingE.map(_.rows).sum)
      m.put("deleted_rows_count", 0L)
      if (mo.parts.nonEmpty) {
        val arrSchema = manifestFileSchema.getField("partitions")
          .schema().getTypes.get(1)
        val itemSchema = arrSchema.getElementType
        val arr = new GenericData.Array[GenericRecord](mo.parts.size, arrSchema)
        partSummaries(mo.parts, entries).foreach { s =>
          val r = new GenericData.Record(itemSchema)
          r.put("contains_null", s.containsNull)
          s.lower.foreach(b =>
            r.put("lower_bound", java.nio.ByteBuffer.wrap(b)))
          s.upper.foreach(b =>
            r.put("upper_bound", java.nio.ByteBuffer.wrap(b)))
          arr.add(r)
        }
        m.put("partitions", arr)
      }
      w.append(m)
    }
    } finally w.close()
    f
  }

  private def newSnapshotId(): Long =
    java.util.UUID.randomUUID().getMostSignificantBits.abs

  /** The current schema node of a table's metadata. */
  private def currentSchema(meta: JsonNode): JsonNode = {
    val id = meta.get("current-schema-id").asInt
    meta.withArray[ArrayNode]("schemas").asScala
      .find(_.get("schema-id").asInt == id).getOrElse(
        throw new IllegalStateException(s"schema $id missing"))
  }

  /** `root`'s object under `key`, created when absent. */
  private def objectAt(root: ObjectNode, key: String): ObjectNode =
    root.get(key) match {
      case o: ObjectNode => o
      case _ => root.putObject(key)
    }

  /** One commit attempt's base: the committed version (`head`, None for
    * a table with no version yet) the new version is built from. It is
    * read ONCE per attempt inside [[withCommitRetry]] and the new
    * version is claimed at exactly head+1, so a commit that lands after
    * the read surfaces as [[CommitConflictException]] and the retry
    * re-reads; reading the head again later in the attempt would let a
    * racing commit slip in between and drop its files from the new
    * manifest list. Also carries what snapshot producers derive from
    * the base: the new snapshot's id and sequence number, the current
    * schema, the partition specs and the live file entries. */
  private final class Base(val tableDir: String,
                           val head: Option[(Int, JsonNode)],
                           headFile: Option[String] = None) {
    val md: TPath = metaDir(tableDir)
    lazy val snapshotId: Long = newSnapshotId()
    val seq: Long =
      head.fold(0L)(_._2.get("last-sequence-number").asLong) + 1
    def meta: JsonNode = head.getOrElse(throw new IllegalStateException(
      s"no committed version at $tableDir"))._2
    lazy val schemaStr: String = currentSchema(meta).toString
    lazy val specs: Seq[Seq[PartSpecField]] = specsFromMeta(meta)
    private def currentId: Long = meta.get("current-snapshot-id").asLong
    /** Manifest-list rows of the current snapshot (fast-append carry). */
    def headManifests: Seq[GenericRecord] = readAvro(TableIO(
      snapshotNode(meta, currentId, tableDir).get("manifest-list").asText))
    /** Live manifest entries of a snapshot, the current one by default. */
    def stats(snapshot: Long = currentId): Seq[DataFileStat] =
      snapshotStats(snapshotNode(meta, snapshot, tableDir))

    /** The one transition to a new table version, see the object
      * header: copy the head (or [[freshRoot]]), stamp
      * `last-updated-ms`, apply `patch`, log the head in
      * `metadata-log`, then claim head+1 ([[claimVersion]] +
      * [[flipHint]]) or, with `stage`, write the catalog proposal
      * [[stagedMetadataPath]]. Returns the version written. */
    def write(stage: Boolean = false)(patch: ObjectNode => Unit): Int = {
      val root = head.fold(freshRoot(tableDir))(_._2.deepCopy[ObjectNode]())
      root.put("last-updated-ms", System.currentTimeMillis())
      patch(root)
      head.foreach { case (v, m) =>
        appendMetadataLog(root,
          headFile.getOrElse(md.child(s"v$v.metadata.json").abs),
          m.get("last-updated-ms").asLong)
      }
      val content = mapper.writerWithDefaultPrettyPrinter
        .writeValueAsString(root)
      val version = head.fold(0)(_._1) + 1
      if (stage) {
        val staged = TableIO(stagedMetadataPath(tableDir, version,
          snapshotId))
        require(staged.createExclusive(content),
          s"catalog staging name already taken: ${staged.abs}")
        version
      } else {
        // the claimed NAME may land past head+1 when unlinked orphan
        // files occupy names in between
        val claimed = claimVersion(md, version - 1, content)
        flipHint(md, claimed)
        claimed
      }
    }

    /** Data manifests for `entries` under the default spec: one
      * unpartitioned manifest, or partitioned ones of `groupSize`
      * tuples each. */
    def dataManifests(entries: Seq[FileEntry],
                      groupSize: Int): Seq[ManifestOut] =
      if (specs.last.isEmpty)
        Seq(ManifestOut(writeManifest(md, entries, snapshotId, schemaStr,
          "data", 0), 0, entries))
      else partitionedManifests(md, entries, specs.last, specs.length - 1,
        snapshotId, schemaStr, groupSize, 0)

    /** Commit this base's snapshot through [[addSnapshot]]; `added` are
      * the files its summary counts. */
    def commit(manifest: TPath, list: TPath, operation: String,
               summary: Map[String, String], added: Seq[FileEntry],
               schema: String = schemaStr, sequence: Long = seq,
               specs: Option[Seq[Seq[PartSpecField]]] = None,
               sortOrder: Option[Seq[Int]] = None,
               branch: String = "main", stage: Boolean = false): Commit = {
      val rows = added.map(_.rows).sum
      val version = write(stage)(addSnapshot(_, schema, snapshotId,
        sequence, list, operation, summary, added.length, rows, specs,
        sortOrder, branch))
      Commit(version, snapshotId, sequence, manifest.abs, list.abs,
        added.length, rows)
    }
  }

  /** The base of a commit that may create the table. */
  private def headOf(tableDir: String): Base =
    new Base(tableDir, currentMetadata(tableDir))

  /** The base of a commit that needs a committed table. */
  private def committedHead(tableDir: String): Base =
    currentMetadata(tableDir) match {
      case None => throw new IllegalStateException(
        s"no committed version at $tableDir")
      case head => new Base(tableDir, head)
    }

  /** Root of a new table: uuid, location, no schema yet, the
    * unpartitioned spec 0, the unsorted order 0, and the CREATE
    * marker's declared properties. */
  private def freshRoot(tableDir: String): ObjectNode = {
    val root = mapper.createObjectNode()
    root.put("format-version", 2)
    root.put("table-uuid", java.util.UUID.randomUUID().toString)
    root.put("location", TableIO(tableDir).abs)
    root.putArray("schemas")
    root.put("default-spec-id", 0)
    root.putArray("partition-specs").addObject()
      .put("spec-id", 0).putArray("fields")
    root.put("last-partition-id", 999)
    root.putArray("sort-orders").addObject()
      .put("order-id", 0).putArray("fields")
    root.put("default-sort-order-id", 0)
    val props = root.putObject("properties")
    val marker = metaDir(tableDir).child("created.properties.json")
    if (marker.exists)
      mapper.readTree(marker.readString).fields().asScala
        .foreach(e => props.put(e.getKey, e.getValue.asText()): Unit)
    root
  }

  /** The patch every snapshot producer commits through: make
    * `schemaStr` the current schema ([[evolveSchema]]), add the
    * snapshot node parented on the ref's head, advance
    * last-sequence-number and move the ref — `main` takes
    * current-snapshot-id and a snapshot-log entry with it, an audit
    * `branch` leaves both alone (the log tracks current-state changes
    * only). Every other ref, property, sort order and log of the base
    * carries forward untouched, except the engine's merge-on-read write
    * modes, which every snapshot pins (its writes are always MoR).
    *
    * `specs` None keeps the base's partition specs; Some replaces them,
    * the LAST being the default (spec-ids are the list positions).
    * `sortOrder` (spec §Sort Orders, append-only): None keeps the
    * default order, so the clustering advertisement planners read
    * survives later appends; Some(Nil) is a layout rewrite that voids
    * identity clustering (z-order) and reverts to order 0; Some(ids) is
    * a sort rewrite, whose identity/asc/nulls-first order is appended
    * (or an identical one reused) and made the default. */
  private def addSnapshot(root: ObjectNode, schemaStr: String,
                          snapshotId: Long, seq: Long, listFile: TPath,
                          operation: String,
                          summary: Map[String, String],
                          addedFiles: Int, addedRows: Long,
                          specs: Option[Seq[Seq[PartSpecField]]],
                          sortOrder: Option[Seq[Int]],
                          branch: String): Unit = {
    val nowMs = root.get("last-updated-ms").asLong
    val schemaId = evolveSchema(root, schemaStr)
    val props = objectAt(root, "properties")
    Seq("delete", "update", "merge").foreach(op =>
      props.put(s"write.$op.mode", "merge-on-read"))
    specs.foreach { specs =>
      root.put("default-spec-id", specs.length - 1)
      val specArr = root.putArray("partition-specs")
      specs.zipWithIndex.foreach { case (parts, sid) =>
        val spec = specArr.addObject()
        spec.put("spec-id", sid)
        val specFields = spec.putArray("fields")
        parts.zipWithIndex.foreach { case (p, i) =>
          val fNode = specFields.addObject()
          fNode.put("name", p.name); fNode.put("transform", p.transform)
          fNode.put("source-id", p.sourceId)
          fNode.put("field-id", specFieldId(p, i))
        }
      }
      // spec: 1000 is the first partition field id; evolved specs may
      // carry explicit ids above it (never recycled across specs)
      root.put("last-partition-id", (999 +: specs.flatMap(parts =>
        parts.zipWithIndex.map { case (p, i) => specFieldId(p, i) })).max)
    }
    sortOrder.foreach {
      case Nil => root.put("default-sort-order-id", 0)
      case ids =>
        // reuse comparison covers the FULL field identity incl.
        // null-order: an order differing only in null-order is a
        // different order and must not silently alias an existing id
        val orders = root.withArray[ArrayNode]("sort-orders")
        def fieldsOf(o: JsonNode): Seq[(Int, String, String, String)] =
          o.withArray[ArrayNode]("fields").asScala.toSeq.map(f =>
            (f.get("source-id").asInt, f.get("transform").asText,
              f.get("direction").asText, f.get("null-order").asText))
        val wanted = ids.map(sid => (sid, "identity", "asc", "nulls-first"))
        val oid = orders.asScala.find(o => fieldsOf(o) == wanted)
          .map(_.get("order-id").asInt).getOrElse {
            val next = orders.asScala.map(_.get("order-id").asInt).max + 1
            val o1 = orders.addObject()
            o1.put("order-id", next)
            val fs = o1.putArray("fields")
            ids.foreach { sid =>
              val f = fs.addObject()
              f.put("transform", "identity"); f.put("source-id", sid)
              f.put("direction", "asc"); f.put("null-order", "nulls-first")
            }
            next
          }
        root.put("default-sort-order-id", oid)
    }
    val refs = objectAt(root, "refs")
    val parent = Option(refs.get(branch)).map(_.get("snapshot-id"))
      .orElse(Option(root.get("current-snapshot-id")))
    root.put("last-sequence-number", seq)
    val snap = root.withArray[ArrayNode]("snapshots").addObject()
    snap.put("snapshot-id", snapshotId)
    parent.foreach(p => snap.put("parent-snapshot-id", p.asLong))
    snap.put("timestamp-ms", nowMs)
    snap.put("sequence-number", seq)
    snap.put("schema-id", schemaId)
    snap.put("manifest-list", listFile.abs)
    val sum = snap.putObject("summary")
    sum.put("operation", operation)
    sum.put("added-data-files", addedFiles.toString)
    sum.put("added-records", addedRows.toString)
    summary.foreach { case (k, v) => sum.put(k, v) }
    val ref = refs.putObject(branch)
    ref.put("snapshot-id", snapshotId); ref.put("type", "branch")
    if (branch == "main") {
      root.put("current-snapshot-id", snapshotId)
      val log = root.withArray[ArrayNode]("snapshot-log").addObject()
      log.put("snapshot-id", snapshotId)
      log.put("timestamp-ms", nowMs)
    }
  }

  /** A copy of a schema node without its id slots — the shape two
    * schemas or fields are compared by. */
  private def stripIds(n: JsonNode): JsonNode = {
    val c = n.deepCopy[JsonNode]()
    def walk(x: JsonNode): Unit = x match {
      case o: ObjectNode =>
        o.remove("id"); o.remove("schema-id")
        o.remove("element-id"); o.remove("key-id"); o.remove("value-id")
        o.fields().asScala.foreach(e => walk(e.getValue))
      case a: ArrayNode => a.asScala.foreach(walk)
      case _ => ()
    }
    walk(c); c
  }

  /** Give every id slot of `x` (field, element, key and value ids) a
    * fresh id above `last`, depth-first; returns the last id used. */
  private def renumber(x: JsonNode, last: Int): Int = {
    var id = last
    def walk(n: JsonNode): Unit = n match {
      case o: ObjectNode =>
        Seq("id", "element-id", "key-id", "value-id").foreach { k =>
          if (o.has(k)) { id += 1; o.put(k, id): Unit }
        }
        o.fields().asScala.foreach(e => walk(e.getValue))
      case a: ArrayNode => a.asScala.foreach(walk)
      case _ => ()
    }
    walk(x); id
  }

  /** A legal Iceberg primitive type promotion (spec §Schema Evolution:
    * int→long, float→double, decimal precision widening at the same
    * scale — the reference's promotionTransitions in
    * destination/iceberg/iceberg.go). It keeps the field id; treating
    * it as drop+add would renumber the column and make readers resolve
    * pre-promotion data files to null. */
  private def promotable(from: String, to: String): Boolean =
    (from == "int" && to == "long") ||
      (from == "float" && to == "double") || {
        val dec = """decimal\((\d+),\s*(\d+)\)""".r
        (from, to) match {
          case (dec(p1, s1), dec(p2, s2)) =>
            s1 == s2 && p2.toInt >= p1.toInt
          case _ => false
        }
      }

  /** Make `schemaStr` (a [[schemaJson]] result) the root's current
    * schema under Iceberg's field-id stability contract (spec §Schemas;
    * the reference's EVOLVE_SCHEMA path adds columns the same way): a
    * column whose name and shape are unchanged keeps its field node, a
    * [[promotable]] column keeps its id and takes the wider type, any
    * other column takes fresh ids above last-column-id. The
    * `identifier-field-ids` are the schema's own identifier columns,
    * else the current schema's that are still present, which keep
    * their current nullability (a data file's footer does not carry
    * it). An unchanged schema keeps its schema-id and adds nothing; a
    * new table takes the schema's fresh ids as schema 0. Returns the
    * current schema-id. */
  private def evolveSchema(root: ObjectNode, schemaStr: String): Int = {
    val fresh = mapper.readTree(schemaStr).asInstanceOf[ObjectNode]
    val freshLastId = fresh.path("x-last-column-id").asInt
    fresh.remove("x-last-column-id")
    val schemas = root.withArray[ArrayNode]("schemas")
    if (schemas.isEmpty) {
      fresh.put("schema-id", 0)
      schemas.add(fresh)
      root.put("last-column-id", freshLastId)
      root.put("current-schema-id", 0)
      return 0
    }
    val cur = currentSchema(root)
    def fields(s: JsonNode) = s.withArray[ArrayNode]("fields").asScala.toSeq
    def identifierNames(s: JsonNode): Seq[String] = {
      val byId = fields(s).map(f => f.get("id").asInt -> f.get("name").asText)
        .toMap
      Option(s.get("identifier-field-ids")).toSeq
        .flatMap(_.asScala.map(_.asInt)).flatMap(byId.get)
    }
    val declared = identifierNames(fresh)
    val identifiers =
      if (declared.nonEmpty) declared else identifierNames(cur)
    var lastId = root.get("last-column-id").asInt
    val evolved = mapper.createObjectNode()
    evolved.put("type", "struct")
    val evolvedFields = evolved.putArray("fields")
    fields(fresh).foreach { f0 =>
      val f = f0.deepCopy[ObjectNode]()
      val name = f.get("name").asText
      val byName = fields(cur).filter(_.get("name").asText == name)
      if (declared.isEmpty && identifiers.contains(name))
        f.put("required", byName.head.get("required").asBoolean)
      val prior = byName.find(p => stripIds(p) == stripIds(f))
      val promoted = byName.find { p =>
        p.get("type").isTextual && f.get("type").isTextual &&
          promotable(p.get("type").asText, f.get("type").asText) &&
          p.get("required").asBoolean == f.get("required").asBoolean
      }
      (prior, promoted) match {
        case (Some(p), _) => evolvedFields.add(p.deepCopy[JsonNode]())
        case (None, Some(p)) =>
          f.put("id", p.get("id").asInt) // keep the id, widen the type
          evolvedFields.add(f)
        case (None, None) =>
          lastId = renumber(f, lastId)
          evolvedFields.add(f)
      }
    }
    val idByName = fields(evolved)
      .map(f => f.get("name").asText -> f.get("id").asInt).toMap
    val identifierIds = identifiers.flatMap(idByName.get)
    if (identifierIds.nonEmpty) {
      val arr = evolved.putArray("identifier-field-ids")
      identifierIds.foreach(arr.add(_))
    }
    val schemaId =
      if (stripIds(cur) == stripIds(evolved)) cur.get("schema-id").asInt
      else {
        val id = schemas.asScala.map(_.get("schema-id").asInt).max + 1
        evolved.put("schema-id", id)
        schemas.add(evolved)
        id
      }
    root.put("current-schema-id", schemaId)
    root.put("last-column-id", lastId)
    schemaId
  }

  /** Name of the metadata file [[Base.write]] stages for a catalog CAS:
    * snapshot-qualified, so two concurrent stagers never overwrite each
    * other and the filesystem-hint machinery ([[claimVersion]]'s
    * `vN.metadata.json` claims, [[chainHead]]'s walk) never claims,
    * conflicts on or adopts a staging. */
  private def stagedMetadataPath(tableDir: String, version: Int,
                                 snapshotId: Long): String =
    metaDir(tableDir).child(s"v$version-$snapshotId.metadata.json").abs

  /** Write one data manifest for `dataDir`'s parquet files (`onlyFiles`
    * of them when set) at `seq`, and a manifest list holding it after
    * the `carried` rows: the body every plain data commit shares. */
  private def dataSnapshot(spark: SparkSession, md: TPath, snapshotId: Long,
                           seq: Long, dataDir: String, schemaStr: String,
                           onlyFiles: Option[Set[String]] = None,
                           carried: Seq[GenericRecord] = Nil)
      : (TPath, TPath, Seq[FileEntry]) = {
    val entries = entriesFor(spark, dataDir, seq,
      fieldIds = topLevelFieldIds(schemaStr), onlyFiles = onlyFiles)
    require(entries.nonEmpty, s"no parquet data files under $dataDir")
    val manifest = writeManifest(md, entries, snapshotId, schemaStr,
      "data", 0)
    val list = writeManifestList(md, snapshotId,
      Seq(ManifestOut(manifest, 0, entries)), carryForward = carried)
    (manifest, list, entries)
  }

  private def stripInternal(schemaStr: String): String = {
    val node = mapper.readTree(schemaStr).asInstanceOf[ObjectNode]
    node.remove("x-last-column-id")
    mapper.writeValueAsString(node)
  }

  /** A staged-but-uncommitted snapshot: the CLIENT half of a
    * REST-catalog commit. Manifests and the manifest list are written
    * (the engine owns those, spec-wise), `metadata.json` deliberately
    * is NOT — the catalog service owns that write, which is the whole
    * point of a REST catalog (the server serializes commits, the
    * client retries on conflict with a fresh base). */
  case class StagedSnapshot(snapshotId: Long, sequenceNumber: Long,
                            manifestListPath: String, schemaStr: String,
                            addedFiles: Int, addedRows: Long)

  /** Iceberg schema JSON of `dataDir`'s parquet files (`onlyFiles` of
    * them when set): positional field ids, which [[evolveSchema]]
    * reconciles against the committed schema. */
  private def filesSchema(spark: SparkSession, dataDir: String,
                          onlyFiles: Option[Set[String]] = None): String =
    schemaJson(ParquetFooters.read(spark,
      onlyFiles.fold(Seq(dataDir))(_.toSeq)).schema)

  /** Stage `dataDir`'s parquet files as a snapshot at `sequenceNumber`
    * without touching metadata.json — pair with
    * [[IcebergRestCatalog.Client.commitSnapshot]]. */
  def stageSnapshot(spark: SparkSession, tableDir: String, dataDir: String,
                    sequenceNumber: Long): StagedSnapshot = {
    val md = metaDir(tableDir)
    md.mkdirs()
    val snapshotId = newSnapshotId()
    val schemaStr = filesSchema(spark, dataDir)
    val (_, list, entries) = dataSnapshot(spark, md, snapshotId,
      sequenceNumber, dataDir, schemaStr)
    StagedSnapshot(snapshotId, sequenceNumber, list.abs,
      schemaStr, entries.length, entries.map(_.rows).sum)
  }

  /** SERVER half of a REST commit: append the staged snapshot to the
    * table's metadata tree and flip the version hint. Exposed for
    * [[IcebergRestCatalog.Server]]. */
  private[sinks] def applyStagedCommit(tableDir: String,
                                       staged: StagedSnapshot,
                                       operation: String,
                                       summary: Map[String, String]): Int =
    headOf(tableDir).write()(addSnapshot(_, staged.schemaStr,
      staged.snapshotId, staged.sequenceNumber,
      TableIO(staged.manifestListPath), operation, summary,
      staged.addedFiles, staged.addedRows, specs = Some(Seq(Nil)),
      sortOrder = None, branch = "main"))

  /** Roll the main branch back to an EXISTING snapshot: a new metadata
    * version whose current-snapshot-id / refs point at `toSnapshotId`
    * — no snapshot is added or removed (history is immutable; rollback
    * is a ref move, spec §References). Server half of a REST
    * `set-snapshot-ref`-only commit. */
  private[sinks] def applyRollback(tableDir: String,
                                   toSnapshotId: Long): Int =
    moveMain(committedHead(tableDir), toSnapshotId)

  private def moveMain(b: Base, toSnapshotId: Long): Int = {
    require(b.meta.withArray[ArrayNode]("snapshots").asScala
      .exists(_.get("snapshot-id").asLong == toSnapshotId),
      s"snapshot $toSnapshotId not in table history")
    b.write() { root =>
      root.put("current-snapshot-id", toSnapshotId)
      // every non-main ref (tags, audit branches) carries forward: a
      // rollback / WAP fast-forward is a MAIN move and must never drop
      // a tag (spec §References)
      val main = objectAt(root, "refs").putObject("main")
      main.put("snapshot-id", toSnapshotId); main.put("type", "branch")
      val log = root.withArray[ArrayNode]("snapshot-log").addObject()
      log.put("snapshot-id", toSnapshotId)
      log.put("timestamp-ms", root.get("last-updated-ms").asLong)
    }
  }

  /** Catalog-pointer variant of [[commit]]: the previous metadata is
    * the catalog's CURRENT pointer (None = table has no committed
    * metadata yet), never the FS version-hint — the retry-after-CAS-
    * failure path must not inherit an orphaned file's uncommitted
    * snapshot. Use with [[IcebergJdbcCatalog]] / Glue / HMS flows:
    * `commitAgainst(..., cat.loadTable(...))` then CAS the returned
    * version's path. */
  def commitAgainst(spark: SparkSession, tableDir: String, dataDir: String,
                    baseMetadata: Option[String],
                    operation: String = "append",
                    summary: Map[String, String] = Map.empty): Commit = {
    // both name shapes: a hint-claimed `vN.metadata.json` (a table
    // registered into a catalog from its filesystem history) and a
    // catalog-staged `vN-<snapshotId>.metadata.json`, which is also the
    // file the new version's metadata-log names
    val base = baseMetadata.map(TableIO(_))
    val b = new Base(tableDir, base.map(f =>
      (f.name.stripPrefix("v").takeWhile(_.isDigit).toInt,
        mapper.readTree(f.readString))), base.map(_.abs))
    b.md.mkdirs()
    val schemaStr = filesSchema(spark, dataDir)
    val (manifest, list, entries) = dataSnapshot(spark, b.md,
      b.snapshotId, b.seq, dataDir, schemaStr)
    val c = b.commit(manifest, list, operation, summary, entries,
      schema = schemaStr, specs = Some(Seq(Nil)), stage = true)
    c.copy(metadataPath =
      stagedMetadataPath(tableDir, c.version, c.snapshotId))
  }

  /** FAST-APPEND commit — Iceberg's `newFastAppend` shape, the only
    * append that survives a table with millions of files: the new
    * snapshot's manifest LIST carries every prior manifest row
    * VERBATIM (zero manifest rewrites, zero reads of existing data or
    * manifest files — the rows keep their original added_snapshot_id,
    * counts, sequence numbers and partition summaries) plus ONE new
    * manifest for `dataDir`'s files. Metadata cost is O(new files) per
    * commit, where [[commit]] / [[publishMoR]] rebuild the full
    * manifest set (replace semantics). The reference's writer appends
    * per micro-batch the same way through the library's AppendFiles
    * (`destination/iceberg/iceberg.go` commit path). */
  def appendCommit(spark: SparkSession, tableDir: String, dataDir: String,
                   summary: Map[String, String] = Map.empty,
                   onlyFiles: Option[Set[String]] = None): Commit = withCommitRetry(tableDir) {
    val b = committedHead(tableDir)
    require(b.specs.last.isEmpty,
      "table's default spec is partitioned: append through " +
        "appendCommitPartitioned so the new manifest carries tuples")
    val schemaStr = filesSchema(spark, dataDir, onlyFiles)
    val (manifest, list, entries) = dataSnapshot(spark, b.md,
      b.snapshotId, b.seq, dataDir, schemaStr, onlyFiles, b.headManifests)
    b.commit(manifest, list, "append", summary, entries, schema = schemaStr)
  }

  /** [[appendCommit]] for a PARTITIONED table: `df`'s rows land under
    * the table's `__p_` hive layout (partition values recomputed from
    * the source columns via the committed spec's transforms), the new
    * manifests carry the tuples + field summaries grouped by
    * contiguous tuple ranges, and every prior manifest row still rides
    * verbatim — O(new files) metadata, pruning intact. */
  def appendCommitPartitioned(spark: SparkSession, tableDir: String,
                              df: DataFrame, groupSize: Int = 8,
                              summary: Map[String, String] = Map.empty)
      : Commit = withCommitRetry(tableDir) {
    val b = committedHead(tableDir)
    val parts = b.specs.last
    require(parts.nonEmpty,
      "table's default spec is unpartitioned: use appendCommit")
    val outDir =
      TableIO(tableDir).child("data").child(s"${b.snapshotId}-append")
    writePartitionedFiles(df, partitionFieldsFor(b.meta, parts), parts,
      outDir.abs)
    val entries = leafEntries(spark, outDir, parts, b.seq,
      topLevelFieldIds(b.schemaStr))
    require(entries.nonEmpty, "nothing to append")
    val manifests = b.dataManifests(entries, groupSize)
    val list = writeManifestList(b.md, b.snapshotId, manifests,
      carryForward = b.headManifests)
    b.commit(manifests.head.file, list, "append", summary, entries)
  }

  /** The table's DEFAULT (write-target) partition spec as the
    * parse-side view the DSv2 write face routes rows with: one
    * `(source column + transform, spec field name)` pair per spec
    * field, in spec order. Empty = unpartitioned (or no committed
    * version). The spec field name is what the hive `__p_<name>=`
    * layout and the manifests use. */
  def defaultSpecView(tableDir: String)
      : Seq[(PartitionTransforms.PartitionField, String)] =
    currentMetadata(tableDir) match {
      case None => Nil
      case Some((_, meta)) =>
        val parts = specsFromMeta(meta).last
        if (parts.isEmpty) Nil
        else partitionFieldsFor(meta, parts).zip(parts.map(_.name))
    }

  /** The same view derived from an engine partition-regex — the
    * created-but-never-written (CTAS / DDL marker) case, where no
    * metadata exists yet. Names follow [[specFieldsFor]]'s rule so
    * the staged layout round-trips through [[partitionedLeaves]]. */
  def specViewFromRegex(regex: String)
      : Seq[(PartitionTransforms.PartitionField, String)] =
    PartitionTransforms.parseRegex(regex).map(f =>
      (f, if (f.transform == "identity") s"${f.column}_id"
          else f.outputName))

  /** Commit task-staged hive-layout (`__p_<field>=<value>`) files into
    * a PARTITIONED table — the DSv2 write faces' driver step. The
    * executors already fanout-wrote each row into its partition leaf
    * (rows never cross the driver; this step is footer stats +
    * manifests + the commit CAS, O(new files)):
    *
    *  - no committed version (CTAS / CREATE TABLE … PARTITIONED BY
    *    marker): FIRST publish — the spec comes from `regexIfFirst`
    *    and `schema` (the declared write schema), exactly the
    *    [[publishPartitioned]] metadata shape;
    *  - committed: APPEND under the default spec with every prior
    *    manifest row carried forward verbatim (fast-append), or a
    *    REPLACE (INSERT OVERWRITE) that drops them.
    *
    * Runs inside [[withCommitRetry]], so a first-publish race
    * resolves naturally: the loser's retry re-reads the head and
    * re-dispatches as an append on the winner's base. */
  def commitPartitionedStaged(spark: SparkSession, tableDir: String,
                              stagedRoot: String, schema: StructType,
                              onlyFiles: Option[Set[String]] = None,
                              summary: Map[String, String] = Map.empty,
                              overwrite: Boolean = false,
                              regexIfFirst: Option[String] = None,
                              groupSize: Int = 8): Commit =
      withCommitRetry(tableDir) {
    val b = headOf(tableDir)
    b.md.mkdirs()
    b.head match {
      case Some(_) =>
        val parts = b.specs.last
        require(parts.nonEmpty,
          s"$tableDir default spec is unpartitioned: stage through the " +
            "plain append path")
        val entries = leafEntries(spark, TableIO(stagedRoot), parts, b.seq,
          topLevelFieldIds(b.schemaStr), onlyFiles)
        require(entries.nonEmpty, s"no staged files under $stagedRoot")
        val manifests = b.dataManifests(entries, groupSize)
        val list = writeManifestList(b.md, b.snapshotId, manifests,
          carryForward = if (overwrite) Nil else b.headManifests)
        b.commit(manifests.head.file, list,
          if (overwrite) "overwrite" else "append", summary, entries)
      case None =>
        val regex = regexIfFirst.getOrElse(
          throw new IllegalStateException(
            s"no committed version and no declared partition spec at " +
              s"$tableDir"))
        val fields = PartitionTransforms.parseRegex(regex)
        require(fields.nonEmpty, s"no partition fields in '$regex'")
        val schemaStr = schemaJson(schema)
        val parts = specFieldsFor(schema, schemaStr, fields)
        val entries = leafEntries(spark, TableIO(stagedRoot), parts, b.seq,
          topLevelFieldIds(schemaStr), onlyFiles)
        require(entries.nonEmpty, s"no staged files under $stagedRoot")
        val manifests = partitionedManifests(b.md, entries, parts, 0,
          b.snapshotId, schemaStr, groupSize, 0)
        val list = writeManifestList(b.md, b.snapshotId, manifests)
        b.commit(manifests.head.file, list, "append", summary, entries,
          schema = schemaStr, specs = Some(Seq(parts)))
    }
  }

  /** ROW-DELTA commit — the SQL DELETE/UPDATE/MERGE landing: one
    * snapshot appending new data files (staged under the default
    * spec's hive layout when partitioned) AND/OR one-or-more
    * positional-delete files, with every prior manifest row carried
    * forward verbatim. This is Iceberg's merge-on-read row delta: no
    * untouched data file is rewritten, planning cost is O(new files).
    * Delete manifests write under spec 0 (table-wide), like the
    * engine's CDC publishes. A table with no committed version
    * accepts only the pure-insert shape (MERGE's not-matched inserts
    * into a created-but-empty table) and dispatches to the first
    * publish. */
  def rowDeltaCommitStaged(spark: SparkSession, tableDir: String,
                           stagedDataRoot: Option[String],
                           onlyData: Option[Set[String]],
                           deleteDir: Option[String],
                           onlyDeletes: Option[Set[String]],
                           summary: Map[String, String] = Map.empty,
                           operation: String = "overwrite",
                           regexIfFirst: Option[String] = None,
                           groupSize: Int = 8,
                           // content 1 = positional (default); 2 with
                           // `equalityIds` = equality-delete files
                           // (the key-predicate DELETE fast path)
                           deleteContent: Int = 1,
                           equalityIds: Seq[Int] = Nil): Commit = {
    if (currentMetadata(tableDir).isEmpty) {
      require(deleteDir.isEmpty,
        s"row delta with deletes needs a committed table at $tableDir")
      val dataRoot = stagedDataRoot.getOrElse(
        throw new IllegalStateException("empty row delta"))
      return regexIfFirst match {
        case Some(_) =>
          commitPartitionedStaged(spark, tableDir, dataRoot,
            ParquetFooters.read(spark, onlyData.get.toSeq).schema,
            onlyFiles = onlyData, summary = summary,
            regexIfFirst = regexIfFirst, groupSize = groupSize)
        case None =>
          // race-safe first-publish-or-append (a concurrent writer's
          // first commit must not be built over)
          appendOrFirstCommit(spark, tableDir, dataRoot,
            summary = summary, onlyFiles = onlyData)
      }
    }
    withCommitRetry(tableDir) {
      val b = committedHead(tableDir)
      val parts = b.specs.last
      val statIds = topLevelFieldIds(b.schemaStr)
      val dataEntries = stagedDataRoot.toSeq.flatMap { root =>
        if (parts.nonEmpty)
          leafEntries(spark, TableIO(root), parts, b.seq, statIds, onlyData)
        else entriesFor(spark, root, b.seq, fieldIds = statIds,
          onlyFiles = onlyData)
      }
      val deleteEntries = deleteDir.toSeq.flatMap(dir =>
        entriesFor(spark, dir, b.seq, content = deleteContent,
          equalityIds = equalityIds, onlyFiles = onlyDeletes))
      require(dataEntries.nonEmpty || deleteEntries.nonEmpty,
        "empty row delta")
      val dataManifests =
        if (dataEntries.isEmpty) Nil
        else b.dataManifests(dataEntries, groupSize)
      val deleteManifests =
        if (deleteEntries.isEmpty) Nil
        else Seq(ManifestOut(writeManifest(b.md, deleteEntries, b.snapshotId,
          b.schemaStr, "deletes", dataManifests.length), 1, deleteEntries))
      val list = writeManifestList(b.md, b.snapshotId,
        dataManifests ++ deleteManifests, carryForward = b.headManifests)
      val fullSummary = summary ++ Map(
        "added-delete-files" -> deleteEntries.size.toString,
        (if (deleteContent == 2) "added-equality-deletes"
         else "added-position-deletes") ->
          deleteEntries.map(_.rows).sum.toString)
      b.commit((dataManifests ++ deleteManifests).head.file, list,
        operation, fullSummary, dataEntries)
        .copy(addedFiles = dataEntries.length + deleteEntries.length)
    }
  }

  /** TRUNCATE — replace the table with EMPTY state in one snapshot
    * (the Iceberg semantics of `INSERT OVERWRITE` from an empty
    * source): a manifest list with ZERO manifests under operation
    * `delete`. Metadata-only — the old rows stay reachable through
    * history/time-travel until expiration. */
  def truncateCommit(spark: SparkSession, tableDir: String,
                     summary: Map[String, String] = Map.empty): Commit =
      withCommitRetry(tableDir) {
    val b = committedHead(tableDir)
    val list = writeManifestList(b.md, b.snapshotId, Nil)
    b.commit(list, list, "delete", summary, Nil)
  }

  /** REWRITE MANIFESTS — Iceberg's RewriteManifests action, the
    * metadata-side complement of [[binpackRewrite]]: a fast-append
    * cadence leaves one small manifest per commit, and scan PLANNING
    * cost grows with manifest count even when the data layout is fine.
    * This consolidates every live DATA entry into `groupSize`-tuple
    * manifests (sorted, so partitioned tables keep selective field
    * summaries) as EXISTING entries under their ORIGINAL snapshot ids
    * and sequence numbers; delete-manifest rows carry forward VERBATIM
    * from the previous manifest list. No data file is read or moved —
    * a pure metadata commit, O(live entries). */
  def rewriteManifests(spark: SparkSession, tableDir: String,
                       groupSize: Int = 8,
                       summary: Map[String, String] = Map.empty): Commit = withCommitRetry(tableDir) {
    val b = committedHead(tableDir)
    // delete manifests (content 1) ride along untouched — their rows
    // re-emit verbatim from the old list
    val prevListRows = b.headManifests
    val deleteRows = prevListRows.filter(
      _.get("content").asInstanceOf[Int] == 1)
    val dataStats = b.stats().filter(_.content == 0)
    require(dataStats.nonEmpty, "nothing to rewrite")
    // spec membership from each manifest's partition-spec-id (arity
    // cannot distinguish same-arity specs after day→hour evolution)
    val (tupledStats, otherStats) =
      dataStats.partition(_.specId == b.specs.length - 1)
    val partM = b.dataManifests(tupledStats.map(_.existing), groupSize)
    val manifests =
      partM ++ otherSpecManifests(b, otherStats, groupSize, partM.length)
    val list = writeManifestList(b.md, b.snapshotId, manifests,
      carryForward = deleteRows)
    b.commit(manifests.head.file, list, "replace",
      summary ++ Map(
        "manifests-replaced" ->
          (prevListRows.length - deleteRows.length).toString,
        "manifests-created" -> manifests.length.toString), Nil)
  }

  /** MINOR delete compaction (Iceberg's
    * `rewrite_position_delete_files`): consolidate the per-batch
    * POSITIONAL delete files into one and drop DANGLING rows — those
    * naming (file_path, pos) coordinates of data files no longer live
    * (a prior rewrite/expire removed their targets, so the rows are
    * dead weight every MoR read still scans and anti-joins).
    *
    * Equality-delete entries re-emit VERBATIM (EXISTING status,
    * original snapshot-ids/sequences/equality_ids) — their key-vs-
    * sequence algebra is untouchable without a major compact. Data
    * manifest rows carry forward verbatim from the prior list (zero
    * data IO — this is the cheap cadence op between major compacts:
    * cost ∝ position-delete rows, not table size). The consolidated
    * file takes the MAX original sequence, safe because positional
    * deletes name exact coordinates — a data file added later has a
    * different path and can never be falsely matched.
    *
    * No-op (None) when the table has no positional deletes, or exactly
    * one file with nothing dangling. */
  def rewritePositionDeletes(spark: SparkSession, tableDir: String,
                             summary: Map[String, String] = Map.empty)
      : Option[Commit] = withCommitRetry(tableDir) {
    val b = committedHead(tableDir)
    val stats = b.stats()
    val posStats = stats.filter(_.content == 1)
    if (posStats.isEmpty) return None
    import spark.implicits._
    val liveDf = stats.collect { case e if e.content == 0 =>
      e.path.replaceFirst(SchemeRe, "/") }.toDF("__fpn")
    // total comes from the manifests' own record counts (free); the
    // semi-join is cached so count + write pay the scan once
    val total = posStats.map(_.recordCount).sum
    val kept = spark.read.parquet(posStats.map(_.path): _*)
      .withColumn("__fpn",
        regexp_replace(col("file_path"), SchemeRe, "/"))
      .join(liveDf, Seq("__fpn"), "left_semi")
      .drop("__fpn")
      .persist()
    val keptN = kept.count()
    val dangling = total - keptN
    if (posStats.size == 1 && dangling == 0) {
      kept.unpersist(): Unit
      return None
    }
    val posEntries =
      if (keptN == 0) Nil
      else {
        val outDir = TableIO(tableDir).child("data")
          .child(b.snapshotId.toString).child("posdeletes")
        kept.orderBy("file_path", "pos") // spec: sorted by position
          .coalesce(1).write.mode("overwrite").parquet(outDir.abs)
        entriesFor(spark, outDir.abs, posStats.map(_.seq).max,
          content = 1)
      }
    kept.unpersist(): Unit
    val delEntries = stats.filter(_.content == 2).map(_.existing) ++
      posEntries
    val manifests =
      if (delEntries.isEmpty) Nil
      else Seq(ManifestOut(writeManifest(b.md, delEntries, b.snapshotId,
        b.schemaStr, "deletes", 0), 1, delEntries))
    val list = writeManifestList(b.md, b.snapshotId, manifests,
      carryForward = b.headManifests.filter(
        _.get("content").asInstanceOf[Int] == 0))
    Some(b.commit(manifests.headOption.map(_.file).getOrElse(list), list,
      "replace",
      summary ++ Map(
        "position-delete-files-removed" -> posStats.size.toString,
        "position-delete-files-added" -> posEntries.size.toString,
        "dangling-position-deletes-dropped" -> dangling.toString), Nil)
      .copy(addedFiles = posEntries.size, addedRows = keptN))
  }

  /** EQUALITY-DELETE minor compaction — the cadence op a long CDC run
    * needs between major compacts: every upsert batch adds one
    * equality-delete file, and every [[readMoR]] reads each one.
    * Consolidation uses the only rewrite the
    * strictly-smaller-sequence rule makes unconditionally safe:
    *
    *  - SUBSUMPTION: a key present in delete files at sequences
    *    s₁ < s₂ is redundant at s₁ — the s₂ entry's kill set
    *    (`seq < s₂`) contains the s₁ entry's (`seq < s₁`). Per key,
    *    only the MAX-sequence entry survives.
    *  - SAME-SEQUENCE MERGE: surviving keys regroup into ONE file per
    *    (equality-ids, partition, spec, sequence) — a file's sequence
    *    is a manifest-entry property, so entries at the same sequence
    *    merge freely.
    *
    * A hot-key CDC stream (the common shape — the same rows update
    * over and over) collapses to a handful of files; raising a key's
    * sequence beyond its own max is deliberately NOT done (it would
    * kill re-inserts that landed between the two sequences). Data
    * manifests carry forward verbatim — data never moves, pos-deletes
    * carry verbatim, cost ∝ equality-delete rows. No-op (None) when
    * fewer than two files share a group or nothing subsumes. */
  def rewriteEqualityDeletes(spark: SparkSession, tableDir: String,
                             summary: Map[String, String] = Map.empty)
      : Option[Commit] = withCommitRetry(tableDir) {
    val b = committedHead(tableDir)
    val stats = b.stats()
    val eqStats = stats.filter(_.content == 2)
    if (eqStats.size < 2) return None
    val groups = eqStats.groupBy(e =>
      (e.equalityIds, e.partition, e.specId))
    val outRoot = TableIO(tableDir).child("data")
      .child(b.snapshotId.toString).child("eqdeletes")
    var produced = 0
    // files-removed counts ONLY groups that actually rewrote — a
    // mixed table's non-subsumed groups carry forward as EXISTING
    // entries and are not consolidation work done
    var removedFiles = 0
    val newEntries = groups.toSeq.flatMap {
      case ((ids, part, _), fs) if fs.size >= 2 =>
        // per-key max sequence via ONE shuffle over the delete rows
        // (key columns only — tiny next to the data they guard)
        val perFile = fs.map(f =>
          spark.read.parquet(f.path)
            .withColumn("__seq", lit(f.seq)))
        val keyCols = perFile.head.columns.filterNot(_ == "__seq").toSeq
        val dedup = perFile.reduce(_ unionByName _)
          .groupBy(keyCols.map(col): _*)
          .agg(max(col("__seq")).as("__seq"))
          .persist()
        val seqs = dedup.select("__seq").distinct()
          .collect().map(_.getLong(0)).sorted
        val entries =
          if (seqs.length >= fs.size) Nil // nothing subsumes: keep as-is
          else seqs.toSeq.flatMap { s =>
            val dir = outRoot.child(
              s"g$produced-s$s-${java.util.UUID.randomUUID()}")
            dedup.where(col("__seq") === s).drop("__seq")
              .coalesce(1).write.parquet(dir.abs)
            entriesFor(spark, dir.abs, s, content = 2,
              equalityIds = ids, partition = part)
          }
        dedup.unpersist(): Unit
        if (entries.isEmpty) fs.map(_.existing)
        else { produced += entries.size; removedFiles += fs.size; entries }
      case ((_, _, _), fs) => fs.map(_.existing)
    }
    if (produced == 0) return None
    val delEntries = newEntries ++ stats.filter(_.content == 1).map(_.existing)
    val manifests = Seq(ManifestOut(writeManifest(b.md, delEntries,
      b.snapshotId, b.schemaStr, "deletes", 0), 1, delEntries))
    val list = writeManifestList(b.md, b.snapshotId, manifests,
      carryForward = b.headManifests.filter(
        _.get("content").asInstanceOf[Int] == 0))
    // report ADDED consolidation outputs only — carried-forward
    // EXISTING entries of non-subsumed groups are not work done, and
    // the CLI verb prints these counts
    val addedOnly = newEntries.filter(_.entryStatus == 1)
    Some(b.commit(manifests.head.file, list, "replace",
      summary ++ Map(
        "equality-delete-files-removed" -> removedFiles.toString,
        "equality-delete-files-added" -> addedOnly.size.toString), Nil)
      .copy(addedFiles = addedOnly.size, addedRows = addedOnly.map(_.rows).sum))
  }

  /** INSERT-INTO semantics for a table that may not exist yet: the
    * first publish when the directory has no committed version, an
    * APPEND otherwise — with the decision safe under a first-publish
    * RACE. `commit()`'s own conflict retry re-reads the base and
    * rebuilds, which for a replace-shaped commit silently drops a
    * racing writer's v1 from the new head (its manifest list holds
    * only this call's files); here the first attempt runs with ONE
    * retry so the conflict surfaces, and the loser re-dispatches as
    * an append on the racer's base — both writers' rows live. */
  def appendOrFirstCommit(spark: SparkSession, tableDir: String,
                          dataDir: String,
                          summary: Map[String, String] = Map.empty,
                          onlyFiles: Option[Set[String]] = None)
      : Commit =
    if (currentMetadata(tableDir).isDefined)
      appendCommit(spark, tableDir, dataDir, summary, onlyFiles)
    else
      try commit(spark, tableDir, dataDir, summary = summary,
        retryAttempts = 1, onlyFiles = onlyFiles)
      catch { case _: CommitConflictException =>
        appendCommit(spark, tableDir, dataDir, summary, onlyFiles)
      }

  /** Commit the parquet files under `dataDir` as the next snapshot of
    * the Iceberg table rooted at `tableDir`. `operation` is the spec's
    * snapshot summary operation (`append` for incremental segments,
    * `overwrite` after a compaction rewrote the base); `summary` extras
    * land in the snapshot summary — the reference stores its 2PC state
    * there via the `olake_2pc` property (iceberg.go:521-545), so pass
    * `Map("olake_2pc" -> stateJson)` for the commit-position analog. */
  def commit(spark: SparkSession, tableDir: String, dataDir: String,
             operation: String = "append",
             summary: Map[String, String] = Map.empty,
             retryAttempts: Int = 12,
             onlyFiles: Option[Set[String]] = None): Commit =
      withCommitRetry(tableDir, retryAttempts) {
    val b = headOf(tableDir)
    b.md.mkdirs()
    val schemaStr = filesSchema(spark, dataDir, onlyFiles)
    val (manifest, list, entries) = dataSnapshot(spark, b.md,
      b.snapshotId, b.seq, dataDir, schemaStr, onlyFiles)
    b.commit(manifest, list, operation, summary, entries,
      schema = schemaStr, specs = Some(Seq(Nil)))
  }

  /** WRITE-AUDIT-PUBLISH, the write half: commit `dataDir` as a new
    * snapshot on a named BRANCH while `main` — and every reader that
    * does not opt in by ref — keeps serving the previous table state.
    * The snapshot enters history with the next sequence number and the
    * branch ref points at it; `current-snapshot-id`, the `main` ref
    * and the snapshot-log are untouched (the spec's log tracks
    * current-state changes only). Audit queries read it via
    * `dataFileStats(dir, refSnapshotId(dir, branch))`; once clean,
    * [[fastForward]] publishes atomically. An abandoned audit branch
    * is just [[dropRef]] + expiration. Schema is the table's committed
    * current schema (field ids must not fork on a branch). */
  def commitToBranch(spark: SparkSession, tableDir: String,
                     dataDir: String, branch: String,
                     summary: Map[String, String] = Map.empty,
                     onlyFiles: Option[Set[String]] = None,
                     carryForward: Boolean = false): Commit = withCommitRetry(tableDir) {
    require(branch != "main", "main moves via commit/fastForward")
    val b = committedHead(tableDir)
    // successive stages CHAIN on the branch: the snapshot's parent is
    // the branch's own head when the ref exists, main's for the FIRST
    // stage. `carryForward` makes it a FAST-APPEND on that parent
    // (Iceberg's wap.branch INSERT shape: branch state = parent state +
    // new files); the default keeps the auditor's stage-only lists
    val carried =
      if (!carryForward) Nil
      else {
        val parentId = Option(b.meta.path("refs").get(branch))
          .map(_.get("snapshot-id").asLong)
          .getOrElse(b.meta.get("current-snapshot-id").asLong)
        b.meta.withArray[ArrayNode]("snapshots").asScala
          .find(_.get("snapshot-id").asLong == parentId)
          .map(s => readAvro(TableIO(s.get("manifest-list").asText)))
          .getOrElse(Nil)
      }
    val (manifest, list, entries) = dataSnapshot(spark, b.md,
      b.snapshotId, b.seq, dataDir, b.schemaStr, onlyFiles, carried)
    b.commit(manifest, list, "append", summary, entries, branch = branch)
  }

  /** ROLLBACK main to a prior snapshot in history (Iceberg's
    * `rollback_to_snapshot`): a ref-only metadata commit — the
    * abandoned commits stay in the array for time travel until
    * expiration, but leave the main lineage (consumer walks skip
    * them). */
  def rollbackTo(tableDir: String, snapshotId: Long): Int =
    withCommitRetry(tableDir) { applyRollback(tableDir, snapshotId) }

  /** WRITE-AUDIT-PUBLISH, the publish half: move `main` (and the
    * current snapshot) to a branch head — a ref-only metadata commit,
    * atomic at the version-hint flip, no data movement. */
  def fastForward(tableDir: String, branch: String): Int = withCommitRetry(tableDir) {
    val b = committedHead(tableDir)
    moveMain(b, Option(b.meta.path("refs").get(branch))
      .map(_.get("snapshot-id").asLong)
      .getOrElse(throw new IllegalArgumentException(s"no ref $branch")))
  }

  /** CHERRY-PICK (Iceberg's `cherrypick_snapshot`): apply an APPEND
    * snapshot's added files onto the CURRENT main head as a NEW
    * commit — the publish path when [[fastForward]] no longer applies
    * because main advanced while the audit branch was under review
    * (the common WAP race: CDC keeps appending to main during audit).
    *
    * Metadata-only, O(picked files): the source snapshot's ADDED data
    * entries are re-emitted in one new manifest at the NEW commit's
    * sequence number (entries bake explicit sequences here, so picking
    * must re-sequence — same reason Iceberg re-commits rather than
    * re-pointing), and the head's manifest rows carry forward VERBATIM
    * like a fast-append. The new snapshot records
    * `source-snapshot-id`, Iceberg's own provenance key.
    *
    * Refused, per Iceberg's own rules: non-append sources (an
    * overwrite's removals don't transplant), sources whose files are
    * already live at head (double-pick or fast-forward-then-pick would
    * double-count rows), and partitioned-spec sources (branch commits
    * here are spec-0; transplanting tuples across specs is a
    * different op). */
  def cherrypickSnapshot(tableDir: String, sourceSnapshotId: Long,
                         summary: Map[String, String] = Map.empty)
      : Commit = withCommitRetry(tableDir) {
    val b = committedHead(tableDir)
    val src = snapshotNode(b.meta, sourceSnapshotId, tableDir)
    val op = src.get("summary").get("operation").asText
    require(op == "append",
      s"cherry-pick source is '$op': only append snapshots transplant " +
        "(an overwrite's file removals don't apply onto a moved head)")
    val picked = b.stats(sourceSnapshotId)
      .filter(e => e.content == 0 &&
        e.addedSnapshotId == sourceSnapshotId)
    require(picked.nonEmpty, s"snapshot $sourceSnapshotId added no files")
    require(picked.forall(_.partition.isEmpty),
      "cherry-pick of a partitioned-spec snapshot is not supported: " +
        "fast-forward the branch or re-append through the table's spec")
    val headLive = b.stats().collect {
      case e if e.content == 0 => e.path }.toSet
    require(!picked.exists(e => headLive.contains(e.path)),
      s"snapshot $sourceSnapshotId is already applied at the current " +
        "head (its files are live) — nothing to cherry-pick")
    val entries = picked.map(e =>
      FileEntry(e.path, e.sizeBytes, e.recordCount, b.seq, 0, Nil,
        e.stats, Nil))
    val manifest = writeManifest(b.md, entries, b.snapshotId, b.schemaStr,
      "data", 0)
    val list = writeManifestList(b.md, b.snapshotId,
      Seq(ManifestOut(manifest, 0, entries)), carryForward = b.headManifests)
    b.commit(manifest, list, "append",
      summary + ("source-snapshot-id" -> sourceSnapshotId.toString), entries)
  }

  /** Small-file BINPACK rewrite — the RewriteDataFiles maintenance
    * action every long-lived 100 TB table needs: streaming commits
    * leave thousands of KB-scale files whose per-file open/plan cost
    * eventually dominates scans. Files under `minFileBytes` (default
    * 3/4 of target — Iceberg's own min-file-size ratio) are read once,
    * shuffled round-robin into ceil(victimBytes/targetBytes) evenly
    * sized outputs, and committed as a `replace` snapshot; files
    * already at size are carried forward UNTOUCHED in a second manifest
    * with their ORIGINAL data sequence numbers — their bytes never
    * move, so the rewrite cost is proportional to the small-file set,
    * not the table. History stays time-travelable (the pre-rewrite
    * snapshot's manifests still reference the old files, reclaimed
    * later by `expireSnapshots` + `removeOrphans`).
    *
    * The reference leans on the Iceberg library's maintenance actions
    * for this (destination/iceberg/iceberg.go treats compaction as
    * out-of-band table service); here it is a first-class engine op
    * with the same plan shape as Iceberg's Spark binpack action: ONE
    * round-robin exchange sized to the victim bytes.
    *
    * PARTITION-AWARE, like Iceberg's own RewriteDataFiles: the
    * planning unit is the per-partition FILE GROUP — victim sets form
    * WITHIN each partition tuple, each group rewrites as its own
    * independent job (parallelizable; the commit lands only after all
    * groups succeed), outputs land under the same `__p_` hive layout,
    * and the new manifests carry the partition tuples + field_summary
    * bounds verbatim so pruning is unaffected. Files of another spec
    * (an unpartitioned spec-0 base) always carry forward untouched.
    *
    * Returns None when no partition has `minInputFiles` qualifying
    * files (rewriting one small file alone buys nothing). Refuses
    * delete-bearing (MoR) tables: binpack moves row positions, which
    * would orphan positional deletes — compact the segment view first
    * (`DeltaSegments.compact`), then publish and binpack. */
  def binpackRewrite(spark: SparkSession, tableDir: String,
                     targetBytes: Long,
                     minFileBytes: Long = 0L,
                     minInputFiles: Int = 2,
                     summary: Map[String, String] = Map.empty,
                     groupSize: Int = 8,
                     maxConcurrentGroups: Int = 0)
      : Option[Commit] = withCommitRetry(tableDir) {
    val b = committedHead(tableDir)
    val all = b.stats()
    require(all.forall(_.content == 0),
      "binpack over a delete-bearing (MoR) table would orphan its " +
        "positional deletes: compact the segment view first")
    val specs = b.specs
    val parts = specs.last // the default spec (writers keep it last)
    val threshold = if (minFileBytes > 0) minFileBytes else targetBytes * 3 / 4
    // spec membership comes from each manifest's partition-spec-id,
    // never tuple arity — two specs can share an arity (day→hour
    // evolution) and only default-spec files are rewrite candidates
    val (tupled, otherSpec) =
      all.partition(_.specId == specs.length - 1)
    // (tuple, victims, kept) per file group; a group under the
    // rewrite-worthiness floor keeps ALL its files
    val planned = tupled.groupBy(_.partition).toSeq
      .sortBy(_._1)(tupleOrdering)
      .map { case (tuple, fs) =>
        val (v, k) = fs.partition(_.sizeBytes < threshold)
        if (v.size < minInputFiles) (tuple, Seq.empty[DataFileStat], fs)
        else (tuple, v, k)
      }
    val victims = planned.flatMap(_._2)
    if (victims.isEmpty) None
    else {
      // the TABLE's committed current schema, not a re-derived one —
      // field ids must survive the rewrite verbatim (an evolved table's
      // stat maps would otherwise key on the wrong ids)
      val statIds = topLevelFieldIds(b.schemaStr)
      val outDir =
        TableIO(tableDir).child("data").child(s"${b.snapshotId}-binpack")
      // each rewritten group round-robins its victim bytes into
      // ceil(bytes/target) outputs — the rewrite reads ONLY victim
      // files, so cost ∝ small-file set, not the table. Groups are
      // independent jobs and run CONCURRENTLY (bounded pool — Iceberg's
      // max-concurrent-file-group-rewrites): at a day-partitioned
      // year's ~365 groups, serial job-submit overhead would dominate
      // the tiny per-group work.
      val rewriteGroups = planned.filter(_._2.nonEmpty)
      // Iceberg's max-concurrent-file-group-rewrites: 0 = derive from
      // the cluster (defaultParallelism-bounded — on a real cluster
      // the cap tracks executor capacity, not a local constant)
      val maxGroups =
        if (maxConcurrentGroups > 0) maxConcurrentGroups
        else math.max(2, spark.sparkContext.defaultParallelism / 4)
      val pool = new java.util.concurrent.ForkJoinPool(
        math.min(maxGroups, math.max(1, rewriteGroups.size)))
      val newEntries =
        try {
          import scala.collection.parallel.CollectionConverters._
          val par = rewriteGroups.par
          par.tasksupport =
            new scala.collection.parallel.ForkJoinTaskSupport(pool)
          par.map { case (tuple, v, _) =>
            val bytes = v.map(_.sizeBytes).sum
            val bins =
              math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
            val dir = tupleDir(outDir, parts, tuple)
            spark.read.parquet(v.map(_.path): _*)
              .repartition(bins)
              .write.mode("overwrite").parquet(dir.abs)
            entriesFor(spark, dir.abs, b.seq, fieldIds = statIds,
              partition = tuple)
          }.seq.flatten.toSeq
        } finally pool.shutdown()
      // kept files: EXISTING entries rebuilt from the MANIFESTS alone
      // (zero footer reads) — original sequence numbers, original
      // adding-snapshot ids, original stats and tuples, all verbatim
      val keptTupled = planned.flatMap(_._3).map(_.existing)
      val victimBytes = victims.map(_.sizeBytes).sum
      val manifests =
        if (parts.isEmpty)
          Seq(ManifestOut(
            writeManifest(b.md, newEntries, b.snapshotId, b.schemaStr,
              "data", 0),
            0, newEntries)) ++
            (if (keptTupled.isEmpty) Nil
             else Seq(ManifestOut(
               writeManifest(b.md, keptTupled, b.snapshotId, b.schemaStr,
                 "data", 1), 0, keptTupled)))
        else {
          val partM = partitionedManifests(b.md, newEntries ++ keptTupled,
            parts, specs.length - 1, b.snapshotId, b.schemaStr, groupSize, 0)
          // files of EVERY other spec carry forward verbatim — each
          // spec keeps its own manifests, tuples intact, so per-spec
          // pruning survives the rewrite
          partM ++ otherSpecManifests(b, otherSpec, groupSize, partM.length)
        }
      val list = writeManifestList(b.md, b.snapshotId, manifests)
      Some(b.commit(manifests.head.file, list, "replace",
        summary ++ Map(
          "rewritten-data-files" -> victims.size.toString,
          "added-data-files" -> newEntries.size.toString,
          "rewritten-bytes" -> victimBytes.toString), newEntries))
    }
  }

  /** MAJOR COMPACTION of a merge-on-read table: apply every delete —
    * positional and equality — and commit the resolved rows as a
    * delete-free `replace` snapshot in ceil(bytes/target) files. The
    * read-side merge cost a long-lived CDC table accrues (every scan
    * re-applies the delete algebra) is paid once here; afterwards the
    * tree carries plain data manifests, which is also what unlocks
    * [[binpackRewrite]]/[[sortRewrite]] on it (both refuse
    * delete-bearing trees). History stays time-travelable; the old
    * delete-bearing snapshots reclaim via the usual expire/orphans.
    * Plan: ONE [[readMoR]] pass (data never shuffled) + a round-robin
    * write exchange. */
  def majorCompactMoR(spark: SparkSession, tableDir: String,
                      targetBytes: Long,
                      keyCol: String =
                        graft.operators.SystemColumns.OlakeId,
                      summary: Map[String, String] = Map.empty,
                      groupSize: Int = 8): Commit = withCommitRetry(tableDir) {
    val b = committedHead(tableDir)
    val allStats = b.stats()
    val dataFiles = allStats.collect {
      case e if e.content == 0 => (e.path, e.seq) }
    val parts = b.specs.last
    val statIds = topLevelFieldIds(b.schemaStr)
    // sizes from the manifests (field 104) — zero per-file stat calls
    val totalBytes = allStats.filter(_.content == 0).map(_.sizeBytes).sum
    val bins =
      math.max(1L, (totalBytes + targetBytes - 1) / targetBytes).toInt
    val outDir =
      TableIO(tableDir).child("data").child(s"${b.snapshotId}-compacted")
    val resolved = readMoR(spark, tableDir, keyCol)
    val entries =
      if (parts.isEmpty) {
        resolved.repartition(bins)
          .write.mode("overwrite").parquet(outDir.abs)
        entriesFor(spark, outDir.abs, b.seq, fieldIds = statIds)
      } else {
        // PARTITIONED compaction: partition values recompute from the
        // source columns (the tuple is derived metadata), outputs land
        // under the same __p_ hive layout via ONE range exchange on
        // (partition dirs ++ key) — an unpartitioned spec-0 base is
        // ABSORBED into the partitioned layout, upgrading the whole
        // table to prunable files. Specs carry forward verbatim; new
        // manifests write under the default spec with tuples +
        // field_summary bounds intact.
        writePartitionedFiles(resolved, partitionFieldsFor(b.meta, parts),
          parts, outDir.abs, overwrite = true, bins = bins,
          clusterCols = Seq(keyCol))
        leafEntries(spark, outDir, parts, b.seq, statIds)
      }
    val manifests = b.dataManifests(entries, groupSize)
    val list = writeManifestList(b.md, b.snapshotId, manifests)
    b.commit(manifests.head.file, list, "replace",
      summary ++ Map(
        "compacted-data-files" -> dataFiles.size.toString,
        "added-data-files" -> entries.size.toString), entries)
  }

  /** SORT / Z-ORDER rewrite — the clustering counterpart to
    * [[binpackRewrite]] (Iceberg's sort strategy): the WHOLE live file
    * set is re-laid-out so each output file covers a compact range of
    * the sort key (or of the Morton z-value over 2..4 keys), which is
    * what makes per-file min/max bounds tight enough for
    * [[pruneDataFiles]] to skip most of a selective scan. Plan shape:
    * ONE range exchange (Spark's sampled range partitioner balances
    * files even under skew) + per-file local sort — the TeraSort shape
    * that moves 100 TB routinely; nothing driver-side beyond the
    * z-bounds row. The identity sort order lands in metadata.json as
    * the spec's order-id 1 (z-order has no spec sort-order form — the
    * clustering columns ride the snapshot summary instead, as Iceberg's
    * own action reports them).
    *
    * Unlike binpack this rewrites every file (clustering is global by
    * nature) — run it at the cadence scan-selectivity decay justifies,
    * binpack at small-file-accumulation cadence. */
  def sortRewrite(spark: SparkSession, tableDir: String,
                  targetBytes: Long, sortCols: Seq[String],
                  zorder: Boolean = false,
                  summary: Map[String, String] = Map.empty,
                  groupSize: Int = 8): Commit = withCommitRetry(tableDir) {
    require(sortCols.nonEmpty, "sortRewrite needs at least one column")
    require(!zorder || (sortCols.size >= 2 && sortCols.size <= 4),
      "z-order clusters 2..4 columns")
    val b = committedHead(tableDir)
    val allStats = b.stats()
    val dataFiles = allStats.collect {
      case e if e.content == 0 => (e.path, e.seq) }
    require(allStats.forall(_.content == 0),
      "sort rewrite over a delete-bearing (MoR) table would orphan its " +
        "positional deletes: compact the segment view first")
    val parts = b.specs.last
    val statIds = topLevelFieldIds(b.schemaStr)
    // sizes from the manifests (field 104) — zero per-file stat calls
    val totalBytes = allStats.map(_.sizeBytes).sum
    val bins =
      math.max(1L, (totalBytes + targetBytes - 1) / targetBytes).toInt
    val outDir =
      TableIO(tableDir).child("data").child(s"${b.snapshotId}-sorted")
    val df = spark.read.parquet(dataFiles.map(_._1): _*)
    val entries =
      if (parts.nonEmpty) {
        // PARTITIONED sort rewrite, Iceberg's per-partition clustering:
        // ONE range exchange on (partition dirs ++ cluster key) lays
        // each partition out as a contiguous run of key-sorted files —
        // the table then prunes on BOTH the partition tuple (manifest
        // field summaries) and the per-file bounds. The cluster key is
        // the sort columns, or the Morton z-value over them (z-order is
        // per-partition here too, like Iceberg's action; the scratch
        // __z column never lands in the data files). Partition values
        // recompute from the source columns; specs carry forward
        // verbatim.
        val fields = partitionFieldsFor(b.meta, parts)
        val (src, clusterCols, scratch) =
          if (!zorder) (df, sortCols, Nil)
          else {
            val b = ZOrder.bounds(df, sortCols)
            val z =
              if (sortCols.size == 2) {
                val (xLo, xHi) = b(sortCols(0))
                val (yLo, yHi) = b(sortCols(1))
                ZOrder.zValue2(col(sortCols(0)), xLo, xHi,
                  col(sortCols(1)), yLo, yHi)
              } else ZOrder.zValueK(sortCols.map(c =>
                (col(c), b(c)._1, b(c)._2)))
            (df.withColumn("__z", z), Seq("__z"), Seq("__z"))
          }
        writePartitionedFiles(src, fields, parts, outDir.abs,
          overwrite = true, bins = bins, clusterCols = clusterCols,
          dropCols = scratch)
        leafEntries(spark, outDir, parts, b.seq, statIds)
      } else {
        val clustered =
          if (zorder) {
            val b = ZOrder.bounds(df, sortCols)
            val z =
              if (sortCols.size == 2) {
                val (xLo, xHi) = b(sortCols(0))
                val (yLo, yHi) = b(sortCols(1))
                ZOrder.zValue2(col(sortCols(0)), xLo, xHi,
                  col(sortCols(1)), yLo, yHi)
              } else ZOrder.zValueK(sortCols.map(c =>
                (col(c), b(c)._1, b(c)._2)))
            df.withColumn("__z", z)
              .repartitionByRange(bins, col("__z"))
              .sortWithinPartitions("__z")
              .drop("__z")
          } else
            df.repartitionByRange(bins, sortCols.map(col): _*)
              .sortWithinPartitions(sortCols.map(col): _*)
        clustered.write.mode("overwrite").parquet(outDir.abs)
        entriesFor(spark, outDir.abs, b.seq, fieldIds = statIds)
      }
    val manifests = b.dataManifests(entries, groupSize)
    val list = writeManifestList(b.md, b.snapshotId, manifests)
    val sortIds =
      if (zorder) Nil else sortCols.map(c => fieldId(b.schemaStr, c))
    b.commit(manifests.head.file, list, "replace",
      summary ++ Map(
        "rewritten-data-files" -> dataFiles.size.toString,
        "added-data-files" -> entries.size.toString,
        (if (zorder) "zorder-columns" else "sort-columns") ->
          sortCols.mkString(",")), entries, sortOrder = Some(sortIds))
  }

  /** Resolve a parsed partition-regex field list against a frame's
    * schema into spec fields (transform result type + source ids). */
  private def specFieldsFor(schema: StructType, schemaStr: String,
                            fields: Seq[PartitionTransforms.PartitionField])
      : Seq[PartSpecField] = {
    val argRe = """(bucket|truncate)\[(\d+)\]""".r
    def avroTypeOf(f: PartitionTransforms.PartitionField): String =
      f.transform match {
        case "year" | "month" | "day" | "hour" => "int"
        case argRe("bucket", _) => "int"
        case argRe("truncate", _) =>
          if (schema(f.column).dataType == StringType) "string" else "long"
        case "identity" => schema(f.column).dataType match {
          case IntegerType => "int"
          case LongType => "long"
          case StringType => "string"
          case other => throw new IllegalArgumentException(
            s"identity partition on unsupported type $other")
        }
        case other =>
          throw new IllegalArgumentException(s"unsupported transform $other")
      }
    fields.map(f => PartSpecField(
      (if (f.transform == "identity") s"${f.column}_id" else f.outputName),
      avroTypeOf(f), fieldId(schemaStr, f.column), f.transform))
  }

  /** Iceberg spec conformance for the engine's OWN data-file writes:
    * timestamps are int64 MICROS. Spark's default parquet output for
    * TimestampType is INT96, which (a) is outside the Iceberg spec and
    * (b) carries NO parquet min/max statistics — every manifest bound
    * for the column would be missing and a timestamp predicate could
    * never prune a file. Pinned for the body, restored after. */
  private[sinks] def withMicrosTimestamps[T](spark: SparkSession)
                                            (body: => T): T = {
    val prev =
      spark.conf.getOption("spark.sql.parquet.outputTimestampType")
    spark.conf.set("spark.sql.parquet.outputTimestampType",
      "TIMESTAMP_MICROS")
    try body
    finally prev match {
      case Some(v) =>
        spark.conf.set("spark.sql.parquet.outputTimestampType", v)
      case None =>
        spark.conf.unset("spark.sql.parquet.outputTimestampType")
    }
  }

  /** Write `df` under hive-style `__p_<name>=<value>` dirs — one file
    * per partition tuple (at real scale the same layout comes from
    * repartitioning on the transform columns, whatever the file count
    * per tuple). The `__p_` prefix keeps identity source columns IN
    * the data files; the transform's own output column is dropped so
    * files hold exactly the source schema. */
  private def writePartitionedFiles(df: DataFrame,
                                    fields: Seq[PartitionTransforms.PartitionField],
                                    parts: Seq[PartSpecField],
                                    destDir: String,
                                    overwrite: Boolean = false,
                                    bins: Int = 0,
                                    clusterCols: Seq[String] = Nil,
                                    dropCols: Seq[String] = Nil): Unit =
    withMicrosTimestamps(df.sparkSession) {
      writePartitionedFilesInner(df, fields, parts, destDir, overwrite,
        bins, clusterCols, dropCols)
    }

  private def writePartitionedFilesInner(df: DataFrame,
                                    fields: Seq[PartitionTransforms.PartitionField],
                                    parts: Seq[PartSpecField],
                                    destDir: String,
                                    overwrite: Boolean,
                                    bins: Int,
                                    clusterCols: Seq[String],
                                    dropCols: Seq[String]): Unit = {
    import PartitionTransforms.withPartitionColumns
    val dirCols = parts.map(p => s"__p_${p.name}")
    val withP = fields.zip(dirCols).foldLeft(df) { case (acc, (f, pc)) =>
      val added = withPartitionColumns(acc, Seq(f))
      val renamed = added.withColumn(pc, col(f.outputName))
      if (f.transform == "identity") renamed else renamed.drop(f.outputName)
    }
    // bins > 0: the maintenance-rewrite shape — ONE range exchange on
    // (partition dirs ++ cluster cols). Range partitioning allocates
    // output tasks ∝ row share, so a skewed partition automatically
    // gets more ~target-sized files while small partitions share a
    // task; each task covers a contiguous (tuple, key) run, so file
    // min/max bounds stay tight. `dropCols` are scratch cluster keys
    // (a Morton z-value) that must not land in the data files.
    // bins == 0: the publish shape (one file per tuple).
    val shaped =
      if (bins <= 0) withP.repartition(dirCols.map(col): _*)
      else {
        val keys = (dirCols ++ clusterCols).map(col)
        withP.repartitionByRange(bins, keys: _*)
          .sortWithinPartitions(keys: _*)
      }
    dropCols.foldLeft(shaped)(_ drop _)
      .write.mode(if (overwrite) "overwrite" else "errorifexists")
      .partitionBy(dirCols: _*)
      .parquet(destDir)
  }

  /** `DeltaSegments.compact`'s partition-aware base write: the folded
    * base lands under the same `__p_<field>` hive layout the publish
    * uses, so `publishMoR` emits the compacted base with partition
    * tuples (spec 1) instead of the unprunable spec-0 shape. */
  private[sinks] def writePartitionedForCompaction(df: DataFrame,
                                                   partitionRegex: String,
                                                   destDir: String): Unit = {
    val fields = PartitionTransforms.parseRegex(partitionRegex)
    val parts = specFieldsFor(df.schema, schemaJson(df.schema), fields)
    writePartitionedFiles(df, fields, parts, destDir, overwrite = true)
  }

  /** Reconstruct the table's committed partition-spec list from
    * metadata (spec-id order) — the rewrite strategies must carry the
    * specs forward VERBATIM, and their new manifests write under the
    * default (last) spec. Transform result types re-derive from the
    * current schema exactly as [[specFieldsFor]] derived them. */
  private def specsFromMeta(meta: JsonNode): Seq[Seq[PartSpecField]] = {
    val typeById = currentSchema(meta).withArray[ArrayNode]("fields").asScala
      .map(f => f.get("id").asInt ->
        (if (f.get("type").isTextual) f.get("type").asText else "")).toMap
    val argRe = """(bucket|truncate)\[(\d+)\]""".r
    Option(meta.get("partition-specs")).map(_.asScala.toSeq.map { sp =>
      sp.withArray[ArrayNode]("fields").asScala.toSeq.map { f =>
        val tr = f.get("transform").asText
        val srcId = f.get("source-id").asInt
        val srcType = typeById.getOrElse(srcId, "")
        val avroType = tr match {
          case "year" | "month" | "day" | "hour" => "int"
          case argRe("bucket", _) => "int"
          case argRe("truncate", _) => if (srcType == "string") "string"
            else "long"
          case "identity" => srcType match {
            case "int" | "long" | "string" => srcType
            case other => throw new IllegalArgumentException(
              s"identity partition on unsupported type $other")
          }
          case other => throw new IllegalArgumentException(
            s"unsupported transform $other")
        }
        PartSpecField(f.get("name").asText, avroType, srcId, tr,
          fieldId = Option(f.get("field-id")).map(_.asInt).getOrElse(-1))
      }
    }).getOrElse(Seq(Nil))
  }

  /** Committed partition specs keyed by their declared spec-id — the
    * per-file planner view (manifest entries carry a spec id; a
    * spec-evolved table's older files prune under THEIR spec, not the
    * default). Empty for an uncommitted table. */
  def specsById(tableDir: String): Map[Int, Seq[PartSpecField]] =
    currentMetadata(tableDir) match {
      case None => Map.empty
      case Some((_, meta)) =>
        val ids = Option(meta.get("partition-specs"))
          .map(_.asScala.toSeq.map(_.get("spec-id").asInt))
          .getOrElse(Seq(0))
        ids.zip(specsFromMeta(meta)).toMap
    }

  /** The parse-side [[PartitionTransforms.PartitionField]] view of a
    * committed spec — what a rewrite needs to RECOMPUTE partition
    * values from source columns (the tuple is derived metadata; the
    * sources ride in the data files). */
  private def partitionFieldsFor(meta: JsonNode, parts: Seq[PartSpecField])
      : Seq[PartitionTransforms.PartitionField] = {
    val nameById = currentSchema(meta).withArray[ArrayNode]("fields").asScala
      .map(f => f.get("id").asInt -> f.get("name").asText).toMap
    parts.map(p =>
      PartitionTransforms.PartitionField(nameById(p.sourceId), p.transform))
  }

  /** Lexicographic order over partition tuples (nulls first) — sorted
    * tuples give each manifest a CONTIGUOUS partition range, which is
    * what makes its field summaries selective. */
  private val tupleOrdering: Ordering[Seq[Any]] = (a, b) => {
    val cmp = a.zip(b).iterator.map {
      case (null, null) => 0
      case (null, _) => -1
      case (_, null) => 1
      case (x: Int, y: Int) => x.compare(y)
      case (x: Long, y: Long) => x.compare(y)
      case (x, y) => x.toString.compare(y.toString)
    }.find(_ != 0)
    cmp.getOrElse(0)
  }

  /** Hive-style leaf dir for one partition tuple under `root`
    * (the exact layout [[partitionedLeaves]] walks back). Escaping is
    * Spark's own partitionBy rule (`ExternalCatalogUtils
    * .escapePathName`), NOT URL-encoding: URL form turns space into
    * '+' and escapes a different reserved set, so a string identity
    * value containing a space or '+' would produce `=value` segments
    * that disagree with the publish layout and break the
    * tuple-vs-path cross-check. */
  private def tupleDir(root: TPath, parts: Seq[PartSpecField],
                       tuple: Seq[Any]): TPath =
    parts.zip(tuple).foldLeft(root) { case (dir, (p, v)) =>
      val raw = if (v == null) "__HIVE_DEFAULT_PARTITION__"
        else org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
          .escapePathName(v.toString)
      dir.child(s"__p_${p.name}=$raw")
    }

  /** Carried-forward manifests for files of NON-default specs during a
    * rewrite: one manifest group per spec id, each written under ITS
    * OWN spec (entry schema, tuples, field summaries intact) as
    * EXISTING entries with original snapshot ids and sequences — the
    * multi-spec invariant partition evolution relies on. */
  private def otherSpecManifests(b: Base, stats: Seq[DataFileStat],
                                 groupSize: Int, startIndex: Int)
      : Seq[ManifestOut] = {
    var idx = startIndex
    stats.groupBy(_.specId).toSeq.sortBy(_._1).flatMap { case (sid, ss) =>
      val theirParts = b.specs(sid)
      val es = ss.map(_.existing)
      val out =
        if (theirParts.isEmpty)
          Seq(ManifestOut(writeManifest(b.md, es, b.snapshotId, b.schemaStr,
            "data", idx), 0, es))
        else partitionedManifests(b.md, es, theirParts, sid, b.snapshotId,
          b.schemaStr, groupSize, idx)
      idx += out.length
      out
    }
  }

  /** Group tuple-carrying entries into manifests of `groupSize`
    * contiguous tuples each (the [[publishPartitioned]] shape: each
    * manifest's field summary covers a compact range, so planners
    * prune whole manifests unopened). Entries keep their own
    * status/snapshot-id — kept (EXISTING) and fresh (ADDED) files mix
    * freely inside one manifest, per the spec. */
  private def partitionedManifests(md: TPath, entries: Seq[FileEntry],
                                   parts: Seq[PartSpecField], specId: Int,
                                   snapshotId: Long, schemaStr: String,
                                   groupSize: Int, startIndex: Int)
      : Seq[ManifestOut] = {
    val byTuple = entries.groupBy(_.partition).toSeq
      .sortBy(_._1)(tupleOrdering)
    byTuple.grouped(math.max(1, groupSize)).toSeq.zipWithIndex.map {
      case (grp, i) =>
        val es = grp.flatMap(_._2)
        ManifestOut(writeManifest(md, es, snapshotId, schemaStr, "data",
          startIndex + i, parts, specId), 0, es, parts, specId)
    }
  }

  /** Manifest entries at `seq` of the hive-laid-out files under `root`,
    * each carrying its leaf's partition tuple. */
  private def leafEntries(spark: SparkSession, root: TPath,
                          parts: Seq[PartSpecField], seq: Long,
                          statIds: Map[String, Int],
                          onlyFiles: Option[Set[String]] = None)
      : Seq[FileEntry] =
    partitionedLeaves(root, parts).flatMap { case (tup, dir) =>
      entriesFor(spark, dir.abs, seq, fieldIds = statIds, partition = tup,
        onlyFiles = onlyFiles)
    }

  /** Walk hive-style dirs back into (partition tuple, leaf dir). */
  private def partitionedLeaves(root: TPath, parts: Seq[PartSpecField])
      : Seq[(Seq[Any], TPath)] = {
    def leaves(dir: TPath, tuple: List[Any]): Seq[(Seq[Any], TPath)] =
      if (tuple.length == parts.length) Seq((tuple.reverse, dir))
      else dir.list
        .filter(_.isDirectory).flatMap { sub =>
          val Array(_, raw) = sub.name.split("=", 2)
          // inverse of the writer's Hive escaping (URLDecoder would
          // corrupt a literal '+' in the value into a space)
          val dec = org.apache.spark.sql.catalyst.catalog
            .ExternalCatalogUtils.unescapePathName(raw)
          val p = parts(tuple.length)
          val v: Any =
            if (dec == "__HIVE_DEFAULT_PARTITION__") null
            else p.avroType match {
              case "int" => dec.toInt
              case "long" => dec.toLong
              case _ => dec
            }
          leaves(sub, v :: tuple)
        }
    leaves(root, Nil)
  }

  /** PARTITION SPEC EVOLUTION (Iceberg spec §Partition Evolution): a
    * metadata-ONLY commit that appends a NEW spec (e.g. hour-grain
    * after a day-grain year) and makes it the default. No snapshot is
    * added and no data moves: existing files keep their original spec
    * (manifests carry `partition-spec-id`), new writes land under the
    * new spec via [[appendCommitPartitioned]], readers prune each
    * manifest under ITS OWN spec ([[readPartitionPrunedBySpec]]), and
    * maintenance carries other-spec files forward verbatim until a
    * [[majorCompactMoR]]/[[sortRewrite]] absorbs them into the default
    * layout. Returns the new spec id. */
  def evolvePartitionSpec(tableDir: String,
                          partitionRegex: String): Int = withCommitRetry(tableDir) {
    val b = committedHead(tableDir)
    val fields = PartitionTransforms.parseRegex(partitionRegex)
    require(fields.nonEmpty, s"no partition fields in '$partitionRegex'")
    // transform result types derive against the COMMITTED current
    // schema — field ids must reference committed columns
    val cur = currentSchema(b.meta)
    val parts = specFieldsFor(sparkType(cur).asInstanceOf[StructType],
      cur.toString, fields)
    val specArr = b.meta.withArray[ArrayNode]("partition-specs")
    val newSid = specArr.size
    // v2: partition field-ids are unique ACROSS specs (external
    // readers build the common partition struct keyed on them) —
    // reuse an id only for an IDENTICAL field (same transform +
    // source, Iceberg's own evolution rule), otherwise allocate fresh
    // above last-partition-id
    val existing: Map[(String, Int), Int] = specArr.asScala.flatMap(sp =>
      sp.withArray[ArrayNode]("fields").asScala.zipWithIndex.map {
        case (f, i) =>
          (f.get("transform").asText, f.get("source-id").asInt) ->
            Option(f.get("field-id")).map(_.asInt).getOrElse(1000 + i)
      }).toMap
    var nextId = math.max(b.meta.path("last-partition-id").asInt(999),
      (999 +: existing.values.toSeq).max)
    val withIds = parts.map { p =>
      existing.get((p.transform, p.sourceId)) match {
        case Some(id) => p.copy(fieldId = id)
        case None => nextId += 1; p.copy(fieldId = nextId)
      }
    }
    b.write() { root =>
      val fArr = root.withArray[ArrayNode]("partition-specs").addObject()
        .put("spec-id", newSid).putArray("fields")
      withIds.foreach { p =>
        val fNode = fArr.addObject()
        fNode.put("name", p.name); fNode.put("transform", p.transform)
        fNode.put("source-id", p.sourceId); fNode.put("field-id", p.fieldId)
      }
      root.put("default-spec-id", newSid)
      root.put("last-partition-id", nextId)
    }
    newSid
  }

  /** ALTER TABLE schema evolution — a metadata-ONLY commit (no
    * snapshot, Iceberg's ALTER semantics): `adds` appends nullable
    * columns with fresh field ids above last-column-id; `widens`
    * applies the spec's legal primitive promotions (int→long,
    * float→double, decimal precision at the same scale) keeping the
    * field id so pre-promotion files still resolve. Everything else
    * refuses. Returns the new schema id. */
  def evolveTableSchema(tableDir: String,
                        adds: Seq[StructField] = Nil,
                        widens: Seq[(String, String)] = Nil): Int =
      withCommitRetry(tableDir) {
    val b = committedHead(tableDir)
    val evolved = currentSchema(b.meta).deepCopy[ObjectNode]()
    val fields = evolved.withArray[ArrayNode]("fields")
    var lastCol = b.meta.get("last-column-id").asInt
    widens.foreach { case (name, toType) =>
      val f = fields.asScala.find(_.get("name").asText == name)
        .getOrElse(throw new IllegalArgumentException(
          s"no column $name at $tableDir")).asInstanceOf[ObjectNode]
      val from = if (f.get("type").isTextual) f.get("type").asText else ""
      require(promotable(from, toType),
        s"ALTER can only widen int->long, float->double, or decimal " +
          s"precision: $name is $from, asked $toType")
      f.put("type", toType): Unit
    }
    adds.foreach { add =>
      // render through schemaJson for the full nested-type mapping,
      // then renumber every id above last-column-id
      val node = mapper.readTree(schemaJson(StructType(Seq(add))))
        .withArray[ArrayNode]("fields").get(0).deepCopy[ObjectNode]()
      require(fields.asScala.forall(_.get("name").asText !=
          node.get("name").asText),
        s"column ${node.get("name").asText} already exists")
      // ADD COLUMN is always nullable in Iceberg (existing rows have
      // no value for it)
      node.put("required", false)
      lastCol = renumber(node, lastCol)
      fields.add(node): Unit
    }
    val newId = b.meta.withArray[ArrayNode]("schemas").asScala
      .map(_.get("schema-id").asInt).max + 1
    evolved.put("schema-id", newId)
    b.write() { root =>
      root.withArray[ArrayNode]("schemas").add(evolved)
      root.put("current-schema-id", newId)
      root.put("last-column-id", lastCol)
    }
    newId
  }

  /** The table's properties: the committed metadata's `properties`
    * map, or (created-but-never-written) the CREATE marker's declared
    * map. What SHOW TBLPROPERTIES surfaces and the write faces read
    * `write.sort-order` / `write.distribution-mode` from. */
  def tableProperties(tableDir: String): Map[String, String] =
    currentMetadata(tableDir) match {
      case Some((_, meta)) =>
        Option(meta.get("properties")).map(_.fields().asScala
          .map(e => e.getKey -> e.getValue.asText()).toMap)
          .getOrElse(Map.empty)
      case None =>
        val marker = metaDir(tableDir).child("created.properties.json")
        if (marker.exists)
          mapper.readTree(marker.readString).fields().asScala
            .map(e => e.getKey -> e.getValue.asText()).toMap
        else Map.empty
    }

  /** ALTER TABLE SET/UNSET TBLPROPERTIES: a METADATA-ONLY version
    * bump (no snapshot, files untouched) through the same commit
    * retry the schema evolution uses — every later version carries
    * the map forward. */
  def setTableProperties(tableDir: String, set: Map[String, String],
                         unset: Seq[String] = Nil): Unit =
      withCommitRetry(tableDir) {
    committedHead(tableDir).write() { root =>
      val props = objectAt(root, "properties")
      set.foreach { case (k, v) => props.put(k, v): Unit }
      unset.foreach(k => props.remove(k): Unit)
    }: Unit
  }

  /** Commit `df` as a PARTITIONED first snapshot: the K5 transforms
    * (`PartitionTransforms.parseRegex` syntax, e.g. `/{ts,day}`) drive
    * the file layout, each data file's partition tuple lands in its
    * manifest entry (r102, spec field-ids 1000+), the partition spec in
    * `metadata.json`, and — the piece that matters at 100 TB — the
    * manifest LIST rows carry per-field `field_summary` bounds over
    * sorted partition-value groups of `groupSize`, so a planner skips
    * whole manifests (thousands of files each) without opening them.
    * The reference's Java writer gets the same summaries from the
    * Iceberg library on its partitioned tables
    * (`destination/iceberg/iceberg.go:521-545` partition_regex path).
    *
    * Data layout: one file per partition tuple under hive-style
    * `__p_<name>=<value>` dirs (the `__p_` prefix keeps identity
    * source columns IN the data files, as the spec expects — the
    * partition tuple is derived metadata, not a dropped column). */
  def publishPartitioned(spark: SparkSession, tableDir: String,
                         df: DataFrame, partitionRegex: String,
                         groupSize: Int = 8,
                         summary: Map[String, String] = Map.empty): Commit = withCommitRetry(tableDir) {
    // the claim at v1 makes a commit racing the long partitioned write
    // surface as CommitConflictException instead of being built over
    val b = headOf(tableDir)
    b.md.mkdirs()
    require(b.head.isEmpty,
      s"publishPartitioned writes the FIRST snapshot; $tableDir has history")
    val fields = PartitionTransforms.parseRegex(partitionRegex)
    require(fields.nonEmpty, s"no partition fields in '$partitionRegex'")
    val schemaStr = schemaJson(df.schema)
    val parts = specFieldsFor(df.schema, schemaStr, fields)
    val dataRoot = TableIO(tableDir).child("data")
    writePartitionedFiles(df, fields, parts, dataRoot.abs)
    val entries = leafEntries(spark, dataRoot, parts, b.seq,
      topLevelFieldIds(schemaStr))
    require(entries.nonEmpty, s"no partitioned files under $dataRoot")
    val manifests = partitionedManifests(b.md, entries, parts, 0,
      b.snapshotId, schemaStr, groupSize, 0)
    val list = writeManifestList(b.md, b.snapshotId, manifests)
    b.commit(manifests.head.file, list, "append", summary, entries,
      schema = schemaStr, specs = Some(Seq(parts)))
  }

  /** One manifest-list row of the current snapshot, with its decoded
    * `partitions` field summaries — the planner view for
    * manifest-level pruning. */
  case class ManifestSummary(path: String, content: Int,
                             addedFiles: Int, addedRows: Long,
                             partitions: Seq[PartFieldSummary],
                             specId: Int = 0)

  def manifestSummaries(tableDir: String,
                        asOfSnapshotId: Option[Long] = None)
      : Seq[ManifestSummary] = {
    val (_, meta) = currentMetadata(tableDir).getOrElse(
      throw new IllegalStateException(s"no committed version at $tableDir"))
    val snapId = asOfSnapshotId.getOrElse(
      meta.get("current-snapshot-id").asLong)
    val snap = meta.withArray[ArrayNode]("snapshots").asScala
      .find(_.get("snapshot-id").asLong == snapId).getOrElse(
        throw new IllegalArgumentException(s"snapshot $snapId not found"))
    readAvro(TableIO(snap.get("manifest-list").asText)).map { mf =>
      val sums = Option(mf.get("partitions")).map(
        _.asInstanceOf[java.util.List[GenericRecord]].asScala.toSeq.map { r =>
          def bytes(f: String): Option[Array[Byte]] =
            Option(r.get(f)).map { bb0 =>
              val bb = bb0.asInstanceOf[java.nio.ByteBuffer]
              val a = new Array[Byte](bb.remaining()); bb.duplicate().get(a)
              a
            }
          PartFieldSummary(r.get("contains_null").asInstanceOf[Boolean],
            bytes("lower_bound"), bytes("upper_bound"))
        }).getOrElse(Nil)
      ManifestSummary(mf.get("manifest_path").toString,
        mf.get("content").asInstanceOf[Int],
        mf.get("added_files_count").asInstanceOf[Int],
        mf.get("added_rows_count").asInstanceOf[Long], sums,
        mf.get("partition_spec_id").asInstanceOf[Int])
    }
  }

  /** Manifest paths whose FIRST partition-field summary can overlap
    * `[lo, hi]` — the manifest-level pruning step a planner runs
    * BEFORE opening any manifest (a missing summary keeps the
    * manifest: absent stats never mean "skip"). */
  def pruneManifests(tableDir: String, lo: Long, hi: Long,
                     asOfSnapshotId: Option[Long] = None): Seq[String] =
    manifestSummaries(tableDir, asOfSnapshotId).filter { m =>
      m.content != 0 || m.partitions.headOption.forall { s =>
        s.containsNull ||
          ((s.lower, s.upper) match {
            case (Some(l), Some(u)) => boundLong(l) <= hi && boundLong(u) >= lo
            case _ => true
          })
      }
    }.map(_.path)

  /** Read the current snapshot through BOTH pruning levels — skip
    * manifests by their field summaries WITHOUT opening them, then
    * files inside the kept manifests by their partition value — and
    * return the surviving rows. This is the planner walk an Iceberg
    * engine runs on a partitioned table; at 100 TB the first level is
    * what keeps scan planning itself sub-linear in file count. */
  def readPartitionPruned(spark: SparkSession, tableDir: String,
                          lo: Long, hi: Long): DataFrame =
    // the single-spec special case: every manifest prunes under the
    // same window
    readPartitionPrunedBySpec(spark, tableDir, _ => Some((lo, hi)))

  /** Two-level pruned read of a MULTI-SPEC table (post partition
    * evolution): each manifest prunes under ITS OWN spec — the caller
    * maps a spec id to the [lo, hi] window in THAT spec's transform
    * units (e.g. one timestamp window expressed as days-since-epoch
    * for the day-grain spec and hours-since-epoch for the hour-grain
    * one); `None` = this spec cannot express the predicate, keep its
    * manifests/files (absent stats never mean "skip"). Level 1 skips
    * whole manifests by field summary, level 2 files inside kept
    * manifests by tuple value — planning stays sub-linear in file
    * count across the evolution boundary. */
  def readPartitionPrunedBySpec(spark: SparkSession, tableDir: String,
                                boundsForSpec: Int => Option[(Long, Long)])
      : DataFrame = {
    import scala.jdk.CollectionConverters._
    def inRange(v: Any, b: Option[(Long, Long)]): Boolean = b match {
      case None => true
      case Some((lo, hi)) => v match {
        case null => true
        case i: java.lang.Integer => i >= lo && i <= hi
        case l: java.lang.Long => l >= lo && l <= hi
        case _ => true
      }
    }
    // this reader serves only data manifests (deletes are readMoR's
    // business): drop content!=0 up front, then level-1 skip by the
    // spec-correct field summary
    val keptManifests = manifestSummaries(tableDir).filter { m =>
      m.content == 0 && boundsForSpec(m.specId).forall { case (lo, hi) =>
        m.partitions.headOption.forall { s =>
          s.containsNull ||
            ((s.lower, s.upper) match {
              case (Some(l), Some(u)) =>
                boundLong(l) <= hi && boundLong(u) >= lo
              case _ => true
            })
        }
      }
    }
    val keptFiles = keptManifests.map(m => (m.path, m.specId))
      .sortBy(_._1).flatMap { case (mPath, sid) =>
        val bounds = boundsForSpec(sid)
        readAvro(TableIO(mPath)).collect {
          case e if e.get("status").asInstanceOf[Int] != 2 =>
            e.get("data_file").asInstanceOf[GenericRecord]
        }.filter { df =>
          df.get("content").asInstanceOf[Int] == 0 && {
            val pRec = df.get("partition").asInstanceOf[GenericRecord]
            pRec.getSchema.getFields.asScala.headOption
              .map(f => pRec.get(f.name()))
              .forall(inRange(_, bounds))
          }
        }.map(_.get("file_path").toString)
      }
    require(keptFiles.nonEmpty, "no files survive partition pruning")
    ParquetFooters.read(spark, keptFiles)
  }

  /** Publish a `DeltaSegments` table as ONE merge-on-read snapshot.
    * With `s` the parent's `last-sequence-number` (0 on the first
    * publish): base files in place, zero copy, at sequence s+1 (or the
    * sequence the parent already gave them); per delta segment k
    * (batch order) at sequence s+k+2 an EQUALITY-DELETE file (every
    * key the segment touched — an upsert is delete+insert at the same
    * sequence, exactly the reference writer's per-batch eq-delete
    * emission) and a derived data file (the segment's non-tombstone
    * rows, internal columns dropped; a column the segment predates is
    * a typed null). A segment that repeats a key also gets a
    * POSITIONAL-delete file for the occurrences that must not survive.
    * A segment carrying the `_unique_keys` marker (written by
    * `DeltaSegments.writeSegment` when the segment frame's plan proved
    * `_olake_id` unique, as `CdcStream.applyBatch`'s dedup does) is
    * taken as key-unique: its equality-delete file is its key column,
    * written map-only with no `distinct()` shuffle, and it gets no
    * positional pass. For an unmarked segment, whether a key repeats is
    * read from footers (the eq-delete file's row count = distinct keys
    * vs the segment's row count), so a key-unique one still costs no
    * positional pass. Every schema it needs (the view's, each
    * segment's) is read from parquet footers on the driver
    * ([[ParquetFooters]]), so a key-unique segment's only Spark jobs
    * are its two writes, and a publish with no segment (right after a
    * compaction) starts none. `summary`
    * should carry the 2PC state (`olake_2pc`), recoverable via
    * `commitState` — the reference's restart path reads the same
    * property back (iceberg.go:521-545). */
  def publishMoR(spark: SparkSession, tableDir: String, tablePath: String,
                 summary: Map[String, String] = Map.empty,
                 partitionRegex: Option[String] = None): Commit = withCommitRetry(tableDir) { withMicrosTimestamps(spark) {
    import graft.operators.SystemColumns
    // the base is read once: a commit landing during the (long) segment
    // rewrite below surfaces as CommitConflictException at the claim
    // and the retry rebuilds on the fresh base
    val b = headOf(tableDir)
    b.md.mkdirs()
    // sequence numbers continue the parent's, so they never decrease
    // across snapshots (a compaction between two publishes would
    // otherwise restart them): new files number above the parent's
    // last-sequence-number, and a base file the parent already lists
    // keeps the data sequence number it was added with, as any carried
    // file does. Only the order is read back, so readMoR is unchanged.
    val seqBase = b.seq - 1
    val parentSeqs: Map[String, Long] = b.head.fold(Map.empty[String, Long])(
      _ => b.stats().collect { case e if e.content == 0 => e.path -> e.seq }
        .toMap)
    val keyCol = SystemColumns.OlakeId
    val viewSchema = DeltaSegments.read(spark, tablePath).schema
    // the upsert key doubles as the schema's identifier-field-ids (row
    // identity; reference SchemaConvertor.java:46-48) so a real v2
    // reader knows how to interpret the equality deletes
    val schemaStr = schemaJson(viewSchema, identifierFields = Seq(keyCol))
    val eqIds = Seq(fieldId(schemaStr, keyCol))
    val dataCols = viewSchema.fieldNames.toSeq
    // partitioned tables are MULTI-SPEC: the base published in place
    // stays at spec 0 (unpartitioned — its layout predates the spec,
    // exactly Iceberg's partition-spec-evolution story), segment data
    // files land under spec 1 via the K5 transforms, and delete files
    // stay at spec 0 so equality deletes apply table-wide (the spec's
    // global-delete shape; our readMoR algebra is key-scoped, not
    // partition-scoped)
    val partFields = partitionRegex
      .map(PartitionTransforms.parseRegex).getOrElse(Nil)
    val parts = specFieldsFor(viewSchema, schemaStr, partFields)

    val statIds = topLevelFieldIds(schemaStr)
    val base = LocalTPath(DeltaSegments.baseDir(tablePath))
    // a partition-aware-compacted base is hive-laid-out (`__p_*` dirs):
    // its files carry partition tuples and publish under spec 1 like
    // the segments, so the WHOLE table prunes; a plain base stays the
    // unprunable-but-legal spec-0 shape
    val baseIsPartitioned = parts.nonEmpty && base.exists &&
      base.list.exists(f => f.isDirectory && f.name.startsWith("__p_"))
    val baseEntries = (
      if (!base.exists) Nil
      else if (baseIsPartitioned)
        leafEntries(spark, base, parts, seqBase + 1, statIds)
      else entriesFor(spark, base.abs, seq = seqBase + 1, fieldIds = statIds)
    ).map(e => parentSeqs.get(e.path).fold(e)(s => e.copy(seq = s)))

    val segs = DeltaSegments.listSegments(tablePath)
    // derived files are IMMUTABLE, as the Iceberg spec assumes: each
    // publish writes under its own snapshot-id directory, so the files
    // an EARLIER snapshot's manifests reference are never overwritten —
    // time travel to any snapshot in the carried-forward history stays
    // valid, and a reader concurrent with a re-publish never sees its
    // files vanish. Old snapshots are expired explicitly
    // (`expireSnapshots`), never silently orphaned.
    val derived = TableIO(tableDir).child("data").child(b.snapshotId.toString)
    derived.mkdirs()
    val segResults = segs.zipWithIndex.map { case (seg, k) =>
      val seq = seqBase + k + 2L
      val segDf = ParquetFooters.read(spark, Seq(seg.getPath))
      // a column the segment predates is null OF THE VIEW'S TYPE: an
      // untyped null would write a VOID parquet column that no later
      // schema merge (readMoRAlgebra's one scan) accepts
      def projected(df: DataFrame) = df.select(dataCols.map(c =>
        if (df.columns.contains(c)) col(c)
        else lit(null).cast(viewSchema(c).dataType).as(c)): _*)
      // a segment marked `_unique_keys` (DeltaSegments) holds each key
      // once, so its key column IS the equality-delete file: a map-only
      // projection, no shuffle. Otherwise the equality-delete file is
      // the distinct keys, and its footer row count against the
      // segment's footer row count decides below whether the
      // positional pass can find anything at all
      val marked = DeltaSegments.markedKeyUnique(seg)
      val delDir = derived.child(s"${seg.getName}-deletes")
      val keys = segDf.select(col(keyCol))
      (if (marked) keys else keys.distinct())
        .write.mode("overwrite").parquet(delDir.abs)
      val eqEntries = entriesFor(spark, delDir.abs, seq, content = 2,
        equalityIds = eqIds, fieldIds = statIds)
      val dataDir = derived.child(s"${seg.getName}-data")
      val liveRows = projected(segDf.where(col(SystemColumns.OpType) =!=
        SystemColumns.OpDelete))
      if (parts.isEmpty)
        liveRows.write.mode("overwrite").parquet(dataDir.abs)
      else
        writePartitionedFiles(liveRows, partFields, parts, dataDir.abs)
      // intra-batch duplicates (several occurrences of one key in ONE
      // segment) become a POSITIONAL-delete file, exactly the
      // reference Arrow writer's n−1 logic (arrow-writer/writer.go:
      // 174-195): every occurrence lands in the data file; all but the
      // last-written per key are marked dead by (file_path, pos). The
      // positions come from the parquet files just written
      // (`_metadata.file_path`/`row_index`), so the delete file names
      // real row coordinates, per the spec's position-delete schema.
      // (a partitioned all-delete segment writes NO data files — hive
      // layout has no empty-file carrier — so the positional pass has
      // nothing to read and nothing to kill; eq-deletes do all the work)
      // A key-unique segment (marked, or as many distinct keys as rows)
      // has no earlier occurrence to kill, and its tombstones carry no
      // data row, so the pass is skipped; both counts are footer reads,
      // no job.
      val keyUnique = marked || eqEntries.map(_.rows).sum ==
        segDf.inputFiles.toSeq.map(f => footerInfo(spark, f, Map.empty)._1).sum
      val dataLeaves =
        if (parts.isEmpty) Nil else partitionedLeaves(dataDir, parts)
      val writtenOpt =
        if (keyUnique) None
        else if (parts.isEmpty)
          Some(ParquetFooters.read(spark, Seq(dataDir.abs)))
        else if (dataLeaves.isEmpty) None
        else Some(ParquetFooters.read(spark, dataLeaves.map(_._2.abs)))
      val posEntries = writtenOpt.toSeq.flatMap { raw =>
        val written = raw.select(
          col(keyCol),
          col("_metadata.file_path").as("file_path"),
          col("_metadata.row_index").as("pos"))
        val wOrd = org.apache.spark.sql.expressions.Window
          .partitionBy(col(keyCol))
          .orderBy(col("file_path").desc, col("pos").desc)
        // a key whose LAST in-batch occurrence (tombstones included, in
        // segment write order) is a delete leaves NO live row: equality
        // deletes never apply at their own sequence, so its data rows
        // must die positionally — all n of them, not n−1
        val lastOp = segDf.select(
            col(keyCol), col(SystemColumns.OpType).as("__op"),
            struct(col("_metadata.file_path"),
              col("_metadata.row_index")).as("__ord"))
          .groupBy(col(keyCol))
          .agg(max_by(col("__op"), col("__ord")).as("__last_op"))
        val deadKeys = lastOp
          .where(col("__last_op") === SystemColumns.OpDelete)
          .select(col(keyCol))
        val losers = written
          .withColumn("_rn", row_number().over(wOrd))
          .where(col("_rn") > 1)
          .select(col("file_path"), col("pos"))
          .unionByName(written.join(deadKeys, Seq(keyCol), "left_semi")
            .select(col("file_path"), col("pos")))
          .distinct()
        if (losers.isEmpty) Nil
        else {
          val posDir = derived.child(s"${seg.getName}-posdeletes")
          losers.orderBy("file_path", "pos") // spec: sorted by position
            .write.mode("overwrite").parquet(posDir.abs)
          entriesFor(spark, posDir.abs, seq, content = 1)
        }
      }
      val segDataEntries =
        if (parts.isEmpty)
          entriesFor(spark, dataDir.abs, seq, fieldIds = statIds)
        else dataLeaves.flatMap { case (tup, dir) =>
          entriesFor(spark, dir.abs, seq, fieldIds = statIds,
            partition = tup)
        }
      (segDataEntries, posEntries ++ eqEntries)
    }

    val segDataBySeg = segResults.map(_._1)
    val dataEntries = baseEntries ++ segDataBySeg.flatten
    val deleteEntries = segResults.flatMap(_._2) // pos + equality
    require(dataEntries.nonEmpty || deleteEntries.nonEmpty,
      s"nothing to publish under $tablePath")
    // a republish that only carries files still takes a new number
    val seqMax = ((dataEntries ++ deleteEntries).map(_.seq) :+
      (seqBase + 1)).max
    val manifests =
      if (parts.isEmpty)
        Seq(ManifestOut(writeManifest(b.md, dataEntries, b.snapshotId,
          schemaStr, "data", 0), 0, dataEntries)) ++
        (if (deleteEntries.nonEmpty)
          Seq(ManifestOut(writeManifest(b.md, deleteEntries, b.snapshotId,
            schemaStr, "deletes", 1), 1, deleteEntries))
        else Nil)
      else {
        // partitioned: base (if any) keeps its own spec-0 manifest; ONE
        // spec-1 manifest per segment, so each manifest's partition
        // field-summary covers just that batch's touched partitions —
        // the shape that lets a recent-window query prune every old
        // batch's manifest unopened
        val baseM =
          if (baseEntries.isEmpty) Nil
          else if (baseIsPartitioned)
            Seq(ManifestOut(writeManifest(b.md, baseEntries, b.snapshotId,
              schemaStr, "data", 0, parts, specId = 1), 0, baseEntries,
              parts, specId = 1))
          else Seq(ManifestOut(writeManifest(b.md, baseEntries, b.snapshotId,
            schemaStr, "data", 0), 0, baseEntries))
        val segM = segDataBySeg.zipWithIndex
          .filter(_._1.nonEmpty).map { case (es, i) =>
            ManifestOut(writeManifest(b.md, es, b.snapshotId, schemaStr,
              "data", i + 1, parts, specId = 1), 0, es, parts, specId = 1)
          }
        val delM =
          if (deleteEntries.isEmpty) Nil
          else Seq(ManifestOut(writeManifest(b.md, deleteEntries, b.snapshotId,
            schemaStr, "deletes", segDataBySeg.length + 1), 1,
            deleteEntries))
        baseM ++ segM ++ delM
      }
    val list = writeManifestList(b.md, b.snapshotId, manifests)
    b.commit(manifests.head.file, list, "overwrite", summary, dataEntries,
      schema = schemaStr, sequence = seqMax,
      specs = Some(if (parts.isEmpty) Seq(Nil) else Seq(Nil, parts)))
  } }

  /** Merge-on-read READ of a snapshot (current unless `asOfSnapshotId`
    * time-travels), both v2 delete flavors: POSITIONAL deletes (content
    * 1) kill exact (file_path, pos) rows; an EQUALITY delete (content 2)
    * kills the rows of its key in data files of a STRICTLY smaller
    * sequence (so an upsert's paired data row lives).
    *
    * One reader serves it: the DSv2 batch scan (`graft-iceberg`), which
    * builds the delete state once on the driver and filters each data
    * file in its own partition — no shuffle, no join, one plan shape
    * however many sequences are live. A state the scan cannot hold
    * ([[scanServes]]), or a `prune`/`partPrune` read (whole-file
    * skipping: a kept file returns all its rows, which no scan filter
    * reproduces), reads through [[readMoRAlgebra]]. With equality
    * deletes live the key column leads, as the algebra's key join
    * orders it. */
  def readMoR(spark: SparkSession, tableDir: String,
              keyCol: String = graft.operators.SystemColumns.OlakeId,
              asOfSnapshotId: Option[Long] = None,
              prune: Option[(String, Long, Long)] = None,
              partPrune: Option[(Long, Long)] = None)
      : DataFrame = {
    val stats = dataFileStats(tableDir, asOfSnapshotId)
    if (prune.nonEmpty || partPrune.nonEmpty ||
        !scanServes(tableDir, stats, keyCol))
      return readMoRAlgebra(spark, tableDir, keyCol, asOfSnapshotId, prune,
        partPrune)
    val reader = spark.read.format("graft-iceberg")
    val df = asOfSnapshotId.fold(reader)(id =>
      reader.option("asOfSnapshot", id)).load(tableDir)
    if (!stats.exists(_.content == 2)) df
    else df.select((keyCol +: df.columns.filterNot(_ == keyCol))
      .map(c => df.col("`" + c.replace("`", "``") + "`")): _*)
  }

  /** Whether the DSv2 scan serves this snapshot, from its manifest
    * entries alone: at most `MorPlan.MaxDeleteRows` delete rows, and
    * equality deletes keyed on `keyCol` alone, of a type the scan's key
    * canonicalization encodes (string, integral, boolean). */
  private def scanServes(tableDir: String, stats: Seq[DataFileStat],
                         keyCol: String): Boolean = {
    import graft.sources.replication.MorPlan
    val dels = stats.filter(_.content != 0)
    val eqIds = dels.filter(_.content == 2).map(_.equalityIds).distinct
    dels.map(_.recordCount).sum <= MorPlan.MaxDeleteRows && (eqIds.isEmpty ||
      eqIds == Seq(currentFieldIds(tableDir).get(keyCol).toSeq) &&
        currentSparkSchema(tableDir).find(_.name == keyCol)
          .exists(f => MorPlan.canonKeyType(f.dataType)))
  }

  /** The merge-on-read algebra as DataFrame joins: [[readMoR]]'s reader
    * for the delete states the DSv2 scan cannot hold, and the
    * independent implementation the scan is cross-checked against.
    * Each side is ONE parquet scan whose rows take their file's sequence
    * from a broadcast (file → sequence) map, so the plan's width does
    * not grow with the live sequences (ScaleCheck `morseq`). Positional
    * deletes apply by a broadcast anti-join on `_metadata` coordinates,
    * equality deletes by a join on `keyCol`; the data never shuffles.
    * `partPrune` skips data files whose first partition value (in the
    * default spec's units) is outside [lo, hi], `prune` those whose
    * manifest bounds on a column cannot overlap [lo, hi]; delete files
    * are never skipped. */
  private[graft] def readMoRAlgebra(spark: SparkSession, tableDir: String,
      keyCol: String = graft.operators.SystemColumns.OlakeId,
      asOfSnapshotId: Option[Long] = None,
      prune: Option[(String, Long, Long)] = None,
      partPrune: Option[(Long, Long)] = None): DataFrame = {
    val stats = dataFileStats(tableDir, asOfSnapshotId)
    // spec-0 files (no tuple) and other-spec files (other units) are kept
    val dataFilesP = partPrune.fold(stats.filter(_.content == 0)) {
      case (lo, hi) =>
        val defaultSid = currentMetadata(tableDir)
          .map(_._2.path("default-spec-id").asInt(0)).getOrElse(0)
        stats.filter(e => e.content == 0 &&
          (e.specId != defaultSid || (e.partition.headOption match {
            case Some(i: Int) => i >= lo && i <= hi
            case Some(l: Long) => l >= lo && l <= hi
            case _ => true
          })))
    }
    val dataFiles = prune.fold(dataFilesP) { case (c, lo, hi) =>
      val keep = pruneDataFiles(tableDir, c, lo, hi, asOfSnapshotId).toSet
      dataFilesP.filter(f => keep.contains(f.path))
    }
    val eqFiles = stats.filter(_.content == 2)
    val posFiles = stats.filter(_.content == 1)
    // manifest paths and `_metadata.file_path` render the scheme
    // differently ("/x" vs "file:///x"): the sequence join normalizes
    def scan(files: Seq[DataFileStat], cols: Option[Seq[String]],
             withSeq: Boolean, withPos: Boolean): DataFrame = {
      val raw = ParquetFooters.read(spark, files.map(_.path), merge = true)
      val picked = cols.fold(Seq(col("*")))(_.map(col)) ++
        (if (withPos) Seq(col("_metadata.file_path").as("__fp"),
          col("_metadata.row_index").as("__pos")) else Nil)
      if (!withSeq) return raw.select(picked: _*)
      import spark.implicits._
      val seqMap = broadcast(files
        .map(f => (f.path.replaceFirst(SchemeRe, "/"), f.seq))
        .toDF("__fpn", "__seq"))
      // LEFT join + loud failure: a normalization miss must error, never
      // silently drop every row of that file
      raw.select(picked :+
          regexp_replace(col("_metadata.file_path"), SchemeRe, "/")
            .as("__fpn"): _*)
        .join(seqMap, Seq("__fpn"), "left")
        .withColumn("__seq", coalesce(col("__seq"), raise_error(
          concat(lit("readMoR: no manifest sequence for data file "),
            col("__fpn"))).cast("long")))
        .drop("__fpn")
    }
    val data0 = scan(dataFiles, None, withSeq = eqFiles.nonEmpty,
      withPos = posFiles.nonEmpty)
    val data =
      if (posFiles.isEmpty) data0
      else {
        val pd = ParquetFooters.read(spark, posFiles.map(_.path))
          .select(col("file_path").as("__fp"), col("pos").as("__pos"))
        data0.join(pd, Seq("__fp", "__pos"), "left_anti")
          .drop("__fp", "__pos")
      }
    if (eqFiles.isEmpty) return data
    val dels = scan(eqFiles, Some(Seq(keyCol)), withSeq = true,
        withPos = false)
      .groupBy(keyCol).agg(max(col("__seq")).as("__del_seq"))
    data.join(dels, Seq(keyCol), "left")
      .where(col("__del_seq").isNull || col("__seq") >= col("__del_seq"))
      .drop("__seq", "__del_seq")
  }

  /** One-call TABLE SERVICE pass — the maintenance loop a production
    * deployment schedules per table (the order matters and encodes the
    * ops' preconditions):
    *
    *  1. a delete-bearing (MoR) tree gets [[majorCompactMoR]] first —
    *     read-side merge cost paid once, and it is what unlocks binpack
    *     (which refuses delete-bearing trees);
    *  2. [[binpackRewrite]] at `targetBytes` (a None result = no
    *     partition had a mergeable small-file set — steady state);
    *  3. [[rewriteManifests]] when the manifest list has outgrown the
    *     grouped layout (more rows than 2× the grouped count — the
    *     fast-append accumulation signature);
    *  4. [[expireSnapshots]] keeps the last `keepLast` (tags always
    *     pin), reclaiming the pre-rewrite history;
    *  5. [[removeOrphans]] sweeps unreferenced files older than
    *     `graceMs` — defaulting to ONE HOUR, never zero: a scheduled
    *     service pass must not delete parquet a concurrent publish
    *     has staged but not yet committed (Iceberg's own
    *     remove_orphan_files defaults to a 3-day horizon for the
    *     same reason);
    *  6. [[expireMetadataVersions]] trims dead vN.metadata.json files
    *     past `metadataKeepLast` (previous-versions-max).
    *
    * Every step reuses the individually audited op; the returned map
    * records each step's outcome for the operator's log. */
  def autoMaintain(spark: SparkSession, tableDir: String,
                   targetBytes: Long, keepLast: Int = 2,
                   graceMs: Long = 3600000L, groupSize: Int = 8,
                   summary: Map[String, String] = Map.empty,
                   metadataKeepLast: Int = 10,
                   majorDeleteRatio: Double = 0.1)
      : Map[String, String] = {
    val out = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val stats0 = dataFileStats(tableDir)
    val delFiles = stats0.filter(_.content != 0)
    var delsRemain = delFiles.nonEmpty
    if (delFiles.nonEmpty) {
      // a major compact rewrites EVERY data row; pay that only when
      // deletes have accumulated (Iceberg's delete_file_threshold
      // idea, expressed as a row ratio computed from the manifests
      // alone). Under the threshold the cheap minor compaction
      // consolidates positional-delete files and the tree stays MoR.
      val delRows = delFiles.map(_.recordCount).sum
      val dataRows = stats0.collect {
        case e if e.content == 0 => e.recordCount }.sum
      val ratio = delRows.toDouble / math.max(1L, dataRows)
      if (ratio >= majorDeleteRatio) {
        val c = majorCompactMoR(spark, tableDir, targetBytes,
          groupSize = groupSize, summary = summary)
        out("compact") = s"applied ${delFiles.size} delete files " +
          s"into snapshot ${c.snapshotId}"
        delsRemain = false
      } else {
        out("compact") = f"skip (delete ratio $ratio%.3f < " +
          f"$majorDeleteRatio%.2f)"
        rewritePositionDeletes(spark, tableDir, summary = summary) match {
          case Some(c) => out("posdeletes") =
            s"consolidated into snapshot ${c.snapshotId} " +
              s"(${c.addedFiles} files, ${c.addedRows} rows)"
          case None => out("posdeletes") = "skip (already consolidated)"
        }
        rewriteEqualityDeletes(spark, tableDir, summary = summary) match {
          case Some(c) => out("eqdeletes") =
            s"consolidated into snapshot ${c.snapshotId} " +
              s"(${c.addedFiles} files, ${c.addedRows} rows)"
          case None => out("eqdeletes") = "skip (nothing subsumes)"
        }
      }
    } else out("compact") = "skip (delete-free)"
    if (delsRemain)
      out("binpack") = "skip (delete-bearing: binpack moves row " +
        "positions; compaction unlocks it)"
    else binpackRewrite(spark, tableDir, targetBytes,
      groupSize = groupSize, summary = summary) match {
      case Some(c) => out("binpack") =
        s"merged into snapshot ${c.snapshotId} (${c.addedFiles} files)"
      case None => out("binpack") = "skip (no mergeable small-file set)"
    }
    val (_, meta) = currentMetadata(tableDir).get
    val snapId = meta.get("current-snapshot-id").asLong
    val listFile = meta.withArray[ArrayNode]("snapshots").asScala
      .find(_.get("snapshot-id").asLong == snapId).get
      .get("manifest-list").asText
    val listRows = readAvro(TableIO(listFile))
    val tuples = dataFileStats(tableDir).map(_.partition).distinct.size
    val grouped = math.max(1,
      (tuples + groupSize - 1) / math.max(1, groupSize))
    if (listRows.size > 2 * grouped) {
      val c = rewriteManifests(spark, tableDir, groupSize,
        summary = summary)
      out("manifests") =
        s"${listRows.size} manifests consolidated (snapshot ${c.snapshotId})"
    } else out("manifests") = s"skip (${listRows.size} manifests)"
    out("expire") =
      s"${expireSnapshots(tableDir, keepLast)} snapshots removed"
    out("orphans") = s"${removeOrphans(tableDir, graceMs)} files swept"
    out("metadata") =
      s"${expireMetadataVersions(tableDir, metadataKeepLast)} " +
        "dead metadata versions removed"
    out.toMap
  }

  /** Expire old snapshots — the spec's expire-snapshots maintenance
    * action. Keeps the most recent `keepLast` snapshots (the current
    * one always survives), writes a new metadata version with the
    * trimmed history, then deletes what only the expired snapshots
    * referenced: their manifest lists, manifests no kept snapshot
    * references, and the per-snapshot derived data directory
    * (`data/<snapshot-id>`) `publishMoR` wrote for them. Base files
    * published in place (outside `data/`) are shared across snapshots
    * and never touched. Returns the number of snapshots expired. */
  def expireSnapshots(tableDir: String, keepLast: Int = 1): Int = withCommitRetry(tableDir) {
    val (_, meta) = currentMetadata(tableDir).getOrElse(
      throw new IllegalStateException(s"no committed version at $tableDir"))
    val snaps = meta.withArray[ArrayNode]("snapshots").asScala.toSeq
    // retained: the last `keepLast` of the MAIN lineage (the
    // snapshot-log tracks current-state history — a branch-only
    // snapshot never enters it), the current snapshot, and — spec
    // §References — any snapshot a ref (tag / audit branch) points at.
    // Everything else, including an orphaned branch commit whose ref
    // was dropped, is reclaimable.
    val refIds = meta.path("refs").asScala
      .map(_.get("snapshot-id").asLong).toSet
    val keepRecent = meta.withArray[ArrayNode]("snapshot-log").asScala
      .map(_.get("snapshot-id").asLong).toSeq
      .takeRight(math.max(1, keepLast)).toSet
    val currentId = meta.get("current-snapshot-id").asLong
    val candidates = snaps.map(_.get("snapshot-id").asLong)
      .filterNot(id =>
        refIds.contains(id) || keepRecent.contains(id) || id == currentId)
    if (candidates.isEmpty) return 0
    removeSnapshotIds(tableDir, candidates.toSet)
  }

  /** TIMESTAMP-BASED snapshot expiration — the standard production
    * retention policy (Iceberg's `expire_snapshots(older_than => ts)`):
    * drop every snapshot whose `timestamp-ms` predates `olderThanMs`,
    * EXCEPT the current snapshot, the most recent `retainLast` of the
    * main lineage (Iceberg's retain_last floor — a bad clock must not
    * empty the history), and — spec §References — any snapshot a ref
    * (tag / audit branch) points at: a pinned "trained-run-X" tag
    * protects its snapshot however old it gets, until the tag is
    * dropped. Returns the number of snapshots expired. */
  def expireSnapshotsOlderThan(tableDir: String, olderThanMs: Long,
                               retainLast: Int = 1): Int = withCommitRetry(tableDir) {
    val (_, meta) = currentMetadata(tableDir).getOrElse(
      throw new IllegalStateException(s"no committed version at $tableDir"))
    val snaps = meta.withArray[ArrayNode]("snapshots").asScala.toSeq
    val refIds = meta.path("refs").asScala
      .map(_.get("snapshot-id").asLong).toSet
    // retain_last floor counts DISTINCT snapshots, not log entries: a
    // rollback re-appends an old snapshot-id to the log, so a raw
    // takeRight over entries could hold fewer than retainLast distinct
    // snapshots. Keep each id's LAST occurrence, then take the floor.
    val logIds = meta.withArray[ArrayNode]("snapshot-log").asScala
      .map(_.get("snapshot-id").asLong).toSeq
    val keepRecent = logIds.reverse.distinct
      .take(math.max(1, retainLast)).toSet
    val currentId = meta.get("current-snapshot-id").asLong
    val candidates = snaps
      .filter(_.get("timestamp-ms").asLong < olderThanMs)
      .map(_.get("snapshot-id").asLong)
      .filterNot(id =>
        refIds.contains(id) || keepRecent.contains(id) || id == currentId)
    if (candidates.isEmpty) return 0
    removeSnapshotIds(tableDir, candidates.toSet)
  }

  /** METADATA-VERSION expiry — Iceberg's
    * `write.metadata.previous-versions-max` +
    * `delete-after-commit.enabled`: every commit writes a new
    * vN.metadata.json and a busy table accrues thousands of dead
    * versions. Trims the metadata-log to the newest `keepLast`
    * predecessors (the current version always survives) in a new
    * metadata version, then deletes the dropped files — snapshots,
    * manifests and data are untouched (snapshot history is carried in
    * CURRENT metadata; only metadata-location time travel to the
    * dropped versions goes away, exactly Iceberg's trade). Returns the
    * number of files removed; writes nothing when there is nothing to
    * drop. */
  def expireMetadataVersions(tableDir: String, keepLast: Int = 5): Int = withCommitRetry(tableDir) {
    val b = committedHead(tableDir)
    val floor = math.max(1, keepLast)
    // guard on the COMMITTED predecessor count so a steady-state
    // service pass is a no-op (no version written), not a
    // version-per-pass treadmill
    val log = b.meta.withArray[ArrayNode]("metadata-log").asScala.toSeq
    if (log.size <= floor) return 0
    // the write logs the head itself, so floor-1 entries stay before it
    val (dropped, kept) = log.splitAt(log.size - floor + 1)
    b.write() { root =>
      val newLog = root.putArray("metadata-log")
      kept.foreach(newLog.add(_): Unit)
    }
    // physical deletes only AFTER the trimmed version is live
    var n = 0
    dropped.foreach { e =>
      val f = TableIO(e.get("metadata-file").asText)
      if (f.exists) { f.delete(); n += 1 }
    }
    n
  }

  /** Create or move a named REF (spec §References): a `tag` pins a
    * snapshot against expiration (audit cuts, "the snapshot we trained
    * run X on"); a `branch` is a movable head. Writes a new metadata
    * version; data is untouched. `main` is managed by commits/rollback
    * and refused here. */
  def setRef(tableDir: String, name: String, snapshotId: Long,
             refType: String = "tag"): Int = withCommitRetry(tableDir) {
    require(name != "main", "main moves via commit/rollback")
    require(refType == "tag" || refType == "branch", s"bad type $refType")
    val b = committedHead(tableDir)
    require(b.meta.withArray[ArrayNode]("snapshots").asScala
      .exists(_.get("snapshot-id").asLong == snapshotId),
      s"snapshot $snapshotId not in table history")
    b.write() { root =>
      val r = objectAt(root, "refs").putObject(name)
      r.put("snapshot-id", snapshotId); r.put("type", refType)
    }
  }

  /** Drop a named ref (the snapshot becomes expirable again). */
  def dropRef(tableDir: String, name: String): Int = withCommitRetry(tableDir) {
    require(name != "main", "main cannot be dropped")
    committedHead(tableDir).write() { root =>
      root.path("refs") match {
        case o: ObjectNode if o.has(name) => o.remove(name): Unit
        case _ => throw new IllegalArgumentException(s"no ref $name")
      }
    }
  }

  /** Resolve a ref name to its snapshot id (time travel by name:
    * `dataFileStats(dir, refSnapshotId(dir, "audit-2024"))`). */
  def refSnapshotId(tableDir: String, name: String): Option[Long] = {
    val (_, meta) = currentMetadata(tableDir).getOrElse(
      throw new IllegalStateException(s"no committed version at $tableDir"))
    Option(meta.path("refs").get(name)).map(_.get("snapshot-id").asLong)
  }

  /** Append the predecessor's metadata file to a new root's
    * `metadata-log` (spec §Table Metadata: every previous metadata file
    * with its timestamp — what catalogs walk for metadata time travel
    * and stale-file cleanup, and what [[chainHead]] links versions by). */
  private def appendMetadataLog(root: ObjectNode, prevFile: String,
                                prevUpdatedMs: Long): Unit = {
    val e = root.withArray[ArrayNode]("metadata-log").addObject()
    e.put("metadata-file", prevFile)
    e.put("timestamp-ms", prevUpdatedMs): Unit
  }

  /** Thrown when a concurrent committer claimed the next metadata
    * version first — retryable: re-read the committed base (now
    * including the winner) and rebuild. [[withCommitRetry]] does
    * exactly that. */
  final class CommitConflictException(version: Int)
      extends RuntimeException(
        s"metadata version v$version was claimed by a concurrent " +
          "committer; re-read the committed base and retry")

  /** The filesystem-table commit CAS: atomically claim a version file
    * with the commit's full content (exclusive create — local
    * hard-link, s3wire conditional PUT), starting at `baseVersion + 1`.
    *
    * A blocked name is inspected before conceding: a blocker whose
    * metadata-log chains AT or PAST our base is a COMPETING commit —
    * [[CommitConflictException]], the caller rebuilds on the fresh
    * base. A blocker chained BEFORE our base (a failed catalog-CAS
    * orphan staged against an older era, or unparseable debris) can
    * never be a commit on our chain, so its NAME is skipped and the
    * claim moves to the next number — without this, one crashed
    * catalog writer's orphan at prev+1 would livelock every
    * filesystem commit on the table forever (version numbers need not
    * be consecutive; the chain linkage lives in each file's
    * metadata-log, which is what [[healHint]] walks).
    *
    * Returns the version actually claimed. */
  private def claimVersion(md: TPath, baseVersion: Int,
                           content: String): Int = {
    var v = baseVersion + 1
    while (!md.child(s"v$v.metadata.json").createExclusive(content)) {
      val linkedVersion: Int = try {
        val m = mapper.readTree(md.child(s"v$v.metadata.json").readString)
        Option(m.get("metadata-log")).filter(_.size() > 0).map { log =>
          val f = log.get(log.size() - 1).get("metadata-file").asText
          f.split("/").last.stripPrefix("v")
            .stripSuffix(".metadata.json").toInt
        }.getOrElse(0) // empty log = a first commit (chains at v0)
      } catch { case scala.util.control.NonFatal(_) => -1 }
      if (linkedVersion >= baseVersion)
        throw new CommitConflictException(v)
      v += 1
      if (v > baseVersion + 1000) throw new IllegalStateException(
        s"over 1000 orphaned metadata names past v$baseVersion at " +
          s"${md.abs} — clean the directory (removeOrphans)")
    }
    v
  }

  /** Monotonic hint flip: never move the hint BACKWARDS — a slower
    * committer must not clobber a racing winner's higher version. The
    * read-check-write pair is not atomic, but any stale flip is healed
    * by the next committer's [[healHint]] probe (the hint is a cache;
    * the claimed chain of version files is the truth — Iceberg's own
    * version-hint semantics). */
  private def flipHint(md: TPath, nv: Int): Unit = {
    val hint = md.child("version-hint.text")
    val cur =
      if (!hint.exists) 0
      else scala.util.Try(hint.readString.trim.toInt).getOrElse(0)
    if (nv > cur) hint.writeAtomic(nv.toString)
  }

  /** Advance a lagging version-hint along the CHAIN-LINKED claimed
    * version files: v(N+1) counts as committed iff its metadata-log's
    * last entry names vN (every mutation appends its predecessor
    * there), so a claimed-but-unlinked file — e.g. a failed catalog
    * CAS orphan staged against an older base — never gets adopted.
    * Claims are atomic-with-content, so any existing claim file is
    * complete and parseable. */
  private def healHint(tableDir: String): Unit = {
    val md = metaDir(tableDir)
    // currentMetadata itself probes forward now, so this is the
    // explicit flip for the commit-retry path (and a no-op when the
    // read already healed the hint)
    currentMetadata(tableDir).foreach { case (v, _) => flipHint(md, v) }
  }

  /** Furthest committed version reachable from `v0` along the
    * chain-linked claimed version files: v(N+1) counts as committed
    * iff its metadata-log's last entry names vN (every mutation
    * appends its predecessor there). Walks EXISTING names — claims
    * skip only names that exist as orphans, so the first missing name
    * ends the walk; names may have gaps when a claim skipped unlinked
    * orphans. Catalog-staged `vN-<snapshotId>` files are invisible to
    * the probe by name shape — a catalog-rejected staging is never
    * adopted. */
  private def chainHead(md: TPath, v0: Int): Int = {
    var v = v0
    var probe = v0 + 1
    var continue = true
    while (continue) {
      val nxt = md.child(s"v$probe.metadata.json")
      if (!nxt.exists) continue = false
      else {
        val linked = try {
          val m = mapper.readTree(nxt.readString)
          Option(m.get("metadata-log")).exists { log =>
            log.size() > 0 && log.get(log.size() - 1)
              .get("metadata-file").asText
              .endsWith(s"v$v.metadata.json")
          }
        } catch { case scala.util.control.NonFatal(_) => false }
        if (linked) v = probe
        probe += 1
      }
    }
    v
  }

  /** Run a commit body with conflict retries: on
    * [[CommitConflictException]] the hint heals forward to the racing
    * winner's version and the WHOLE body re-runs — it re-reads
    * `currentMetadata`, so the rebuilt snapshot chains on the winner
    * (no lost update, linear history). Jittered backoff between
    * attempts. */
  def withCommitRetry[T](tableDir: String, attempts: Int = 12)
                        (body: => T): T = {
    var i = 0
    while (true) {
      try return body
      catch {
        case _: CommitConflictException if i < attempts - 1 =>
          i += 1
          healHint(tableDir)
          // exponential backoff with full jitter (Iceberg's own retry
          // shape): a losing writer's rebuild costs real work, so
          // under N-way contention the sleep must grow past the
          // winners' commit time or the loser starves its budget
          val cap = math.min(1000L, 25L << math.min(i, 5))
          Thread.sleep(java.util.concurrent.ThreadLocalRandom
            .current().nextLong(cap + 1))
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Remove EXPLICIT snapshot ids (the REST catalog's
    * `remove-snapshots` update action; the current snapshot is always
    * retained). Returns how many were dropped. */
  def removeSnapshotIds(tableDir: String, ids: Set[Long]): Int = withCommitRetry(tableDir) {
    val b = committedHead(tableDir)
    val snaps = b.meta.withArray[ArrayNode]("snapshots").asScala.toSeq
    val currentId = b.meta.get("current-snapshot-id").asLong
    val (dropped, kept) = snaps.partition(s =>
      ids.contains(s.get("snapshot-id").asLong) &&
        s.get("snapshot-id").asLong != currentId)
    if (dropped.isEmpty) return 0
    val keptIds = kept.map(_.get("snapshot-id").asLong).toSet
    // manifests still reachable from any kept snapshot stay on disk
    val keptManifests = kept.flatMap(s =>
      readAvro(TableIO(s.get("manifest-list").asText))
        .map(_.get("manifest_path").toString)).toSet

    val droppedIds = dropped.map(_.get("snapshot-id").asLong).toSet
    b.write() { root =>
      val newSnaps = root.putArray("snapshots")
      kept.foreach(newSnaps.add(_): Unit)
      // refs pointing at removed snapshots would dangle — drop them
      // (spec: cleaning refs is part of snapshot removal)
      val refs = objectAt(root, "refs")
      refs.fields().asScala
        .filter(e => droppedIds.contains(
          e.getValue.get("snapshot-id").asLong))
        .map(_.getKey).toList.foreach(refs.remove(_): Unit)
      val newLog = root.putArray("snapshot-log")
      b.meta.withArray[ArrayNode]("snapshot-log").asScala
        .filter(e => keptIds.contains(e.get("snapshot-id").asLong))
        .foreach(newLog.add(_): Unit)
    }

    // physical cleanup only AFTER the trimmed metadata is live
    dropped.foreach { s =>
      val listFile = TableIO(s.get("manifest-list").asText)
      if (listFile.exists)
        readAvro(listFile).map(_.get("manifest_path").toString)
          .filterNot(keptManifests.contains)
          .foreach(p => TableIO(p).delete())
      listFile.delete()
      val derived = TableIO(tableDir).child("data")
        .child(s.get("snapshot-id").asLong.toString)
      if (derived.isDirectory) derived.deleteRecursive()
    }
    dropped.length
  }

  /** Orphan DETECTION alone — the `--dry-run` an operator runs before
    * trusting a sweep on a production table: the same referenced-set
    * walk as [[removeOrphans]], nothing deleted. */
  def listOrphans(tableDir: String, minAgeMs: Long = 0L): Seq[String] =
    orphanFiles(tableDir, minAgeMs).map(_.abs)

  private def orphanFiles(tableDir: String, minAgeMs: Long): Seq[TPath] = {
    val meta = currentMetadata(tableDir) match {
      case Some((_, m)) => m
      case None => return Nil
    }
    val snapIds = meta.withArray[ArrayNode]("snapshots").asScala
      .map(_.get("snapshot-id").asLong).toSeq
    val referenced = snapIds.flatMap(id =>
      dataFileStats(tableDir, Some(id))
        .map(e => TableIO(e.path).canonical)).toSet
    val dataRoot = TableIO(tableDir).child("data")
    if (!dataRoot.isDirectory) return Nil
    val now = System.currentTimeMillis()
    def walk(f: TPath): Seq[TPath] =
      if (f.isDirectory) f.list.flatMap(walk) else Seq(f)
    walk(dataRoot).filter { f =>
      f.name.endsWith(".parquet") &&
        !referenced.contains(f.canonical) &&
        now - f.lastModified >= minAgeMs
    }
  }

  /** Remove ORPHAN files under `tableDir/data` — the complement of
    * [[expireSnapshots]]: a publish that crashed between writing its
    * parquet and committing its metadata leaves data files no
    * snapshot references (the reference's Java writer inherits the
    * same hazard and leans on Iceberg's `remove_orphan_files`). Walks
    * every snapshot in the CURRENT metadata (data + delete files),
    * deletes unreferenced parquet older than `minAgeMs` (the grace
    * window that protects an in-flight publish, same rule as the
    * Iceberg procedure), and prunes emptied snapshot dirs. Returns the
    * number of files deleted. */
  def removeOrphans(tableDir: String, minAgeMs: Long = 0L): Int = {
    // no committed metadata = possibly a FIRST publish in flight
    // (publishPartitioned writes data/ before v1.metadata.json):
    // touch NOTHING, not even the empty-dir sweep — a concurrent
    // writer's _temporary attempt dirs must survive
    if (currentMetadata(tableDir).isEmpty) return 0
    val orphans = orphanFiles(tableDir, minAgeMs)
    val dataRoot = TableIO(tableDir).child("data")
    if (!dataRoot.isDirectory) return 0
    orphans.foreach(_.delete())
    // sweep emptied dirs bottom-up (write-side markers like _SUCCESS
    // go with their dir)
    def sweep(d: TPath): Unit = if (d.isDirectory) {
      d.list.foreach(sweep)
      val left = d.list
      if (d.canonical != dataRoot.canonical &&
          left.forall(f => !f.isDirectory &&
            (f.name.startsWith("_") || f.name.startsWith(".")))) {
        left.foreach(_.delete())
        d.delete()
      }
    }
    sweep(dataRoot)
    orphans.length
  }

  /** Audit hook (this thread): individual stat probes issued against
    * parquet data files since [[resetParquetStatProbes]]. The planner
    * contract is ZERO — file sizes come from the manifests' own
    * `file_size_in_bytes`, never a driver-side per-file stat loop (a
    * million-file table must plan from metadata alone; freshly written
    * outputs stat batched through ONE directory listing). */
  def parquetStatProbes: Int = TableIO.parquetStats.sum().toInt
  def resetParquetStatProbes(): Unit = TableIO.parquetStats.reset()

  /** The 2PC state stored in the current snapshot's summary — the
    * reference's restart recovery reads the same `olake_2pc` property
    * (iceberg.go:521-545). */
  def commitState(tableDir: String): Option[String] =
    currentMetadata(tableDir).flatMap { case (_, meta) =>
      val snapId = meta.get("current-snapshot-id").asLong
      meta.withArray[ArrayNode]("snapshots").asScala
        .find(_.get("snapshot-id").asLong == snapId)
        .flatMap(s => Option(s.get("summary").get("olake_2pc"))
          .map(_.asText))
    }

  /** (version, parsed metadata.json) of the current table version. */
  def currentMetadata(tableDir: String): Option[(Int, JsonNode)] = {
    val md = metaDir(tableDir)
    val hint = md.child("version-hint.text")
    if (!hint.exists) None
    else {
      // HadoopTableOperations findVersion semantics: the hint is a
      // CACHE — probe forward along the chain-linked claimed version
      // files, so a read that lands after a racing flipHint pair
      // regressed the hint (or before the winner flipped it) still
      // sees the committed head. The normal cost is ONE existence
      // miss at v+1; read-only consumers of an idle table are never
      // pinned to a pre-regression head. The healed value is flipped
      // back best-effort (monotonic; a read-only mount may refuse).
      val v0 = hint.readString.trim.toInt
      val v = chainHead(md, v0)
      if (v > v0)
        try flipHint(md, v)
        catch { case scala.util.control.NonFatal(_) => () }
      Some((v, mapper.readTree(md.child(s"v$v.metadata.json").readString)))
    }
  }

  // One full read per metadata Avro (manifests are small and object
  // stores bill per request, not per byte of a small GET).
  private def readAvro(p: TPath): Seq[GenericRecord] = {
    val r = new DataFileReader[GenericRecord](
      new SeekableByteArrayInput(p.readBytes),
      new GenericDatumReader[GenericRecord]())
    try r.iterator().asScala.toList finally r.close()
  }

  /** A manifest's rows plus its `partition-spec-id` file metadata —
    * the field a multi-spec reader keys tuple interpretation on (two
    * specs can share an arity, e.g. day→hour evolution, so entry
    * shape alone cannot identify the spec). */
  private def readManifestRows(p: TPath): (Seq[GenericRecord], Int) = {
    val r = new DataFileReader[GenericRecord](
      new SeekableByteArrayInput(p.readBytes),
      new GenericDatumReader[GenericRecord]())
    try {
      val sid = Option(r.getMetaString("partition-spec-id"))
        .map(_.toInt).getOrElse(0)
      (r.iterator().asScala.toList, sid)
    } finally r.close()
  }

  /** Live manifest entries of a snapshot (current unless
    * `asOfSnapshotId` time-travels), with the per-column stats read
    * back from the manifest Avro — the exact planner view an Iceberg
    * engine builds before deciding which files to open. */
  def dataFileStats(tableDir: String,
                    asOfSnapshotId: Option[Long] = None): Seq[DataFileStat] = {
    val b = committedHead(tableDir)
    asOfSnapshotId.fold(b.stats())(b.stats(_))
  }

  /** The snapshot node `snapId` of a table's metadata. */
  private def snapshotNode(meta: JsonNode, snapId: Long,
                           tableDir: String): JsonNode =
    meta.withArray[ArrayNode]("snapshots").asScala
      .find(_.get("snapshot-id").asLong == snapId).getOrElse(
        throw new IllegalArgumentException(
          s"snapshot $snapId not in table history at $tableDir"))

  /** Live manifest entries of a snapshot node. */
  private def snapshotStats(snap: JsonNode): Seq[DataFileStat] =
    readAvro(TableIO(snap.get("manifest-list").asText)).flatMap { mf =>
      val (rows, manifestSpecId) =
        readManifestRows(TableIO(mf.get("manifest_path").toString))
      rows.collect {
        case e if e.get("status").asInstanceOf[Int] != 2 => // not DELETED
          entryToStat(e, manifestSpecId)
      }
    }

  private def avroLongMap(df: GenericRecord,
                          field: String): Map[Int, Long] =
    Option(df.get(field)).map(_.asInstanceOf[java.util.List[GenericRecord]]
      .asScala.map(kv => kv.get("key").asInstanceOf[Int] ->
        kv.get("value").asInstanceOf[Long]).toMap).getOrElse(Map.empty)

  private def avroBytesMap(df: GenericRecord,
                           field: String): Map[Int, Array[Byte]] =
    Option(df.get(field)).map(_.asInstanceOf[java.util.List[GenericRecord]]
      .asScala.map { kv =>
        val bb = kv.get("value").asInstanceOf[java.nio.ByteBuffer]
        val a = new Array[Byte](bb.remaining()); bb.duplicate().get(a)
        kv.get("key").asInstanceOf[Int] -> a
      }.toMap).getOrElse(Map.empty)

  /** One manifest entry → the planner's [[DataFileStat]] view. */
  private def entryToStat(e: GenericRecord,
                          manifestSpecId: Int): DataFileStat = {
    val df = e.get("data_file").asInstanceOf[GenericRecord]
    // decode the partition tuple (r102) in writer-schema field
    // order; Avro Utf8 → String so callers compare naturally
    val pRec = df.get("partition").asInstanceOf[GenericRecord]
    val pVals = pRec.getSchema.getFields.asScala.toSeq.map { f =>
      pRec.get(f.name()) match {
        case u: org.apache.avro.util.Utf8 => u.toString
        case v => v
      }
    }
    DataFileStat(df.get("file_path").toString,
      e.get("sequence_number").asInstanceOf[Long],
      df.get("content").asInstanceOf[Int],
      df.get("record_count").asInstanceOf[Long],
      ColStats(avroLongMap(df, "column_sizes"),
        avroLongMap(df, "value_counts"),
        avroLongMap(df, "null_value_counts"),
        avroBytesMap(df, "lower_bounds"),
        avroBytesMap(df, "upper_bounds")),
      pVals,
      e.get("snapshot_id").asInstanceOf[Long],
      // field 104 — the manifest's own size record; planners read
      // THIS, never a per-file stat syscall (a million-file table
      // must plan from metadata alone)
      sizeBytes = df.get("file_size_in_bytes").asInstanceOf[Long],
      specId = manifestSpecId,
      equalityIds = Option(df.get("equality_ids"))
        .map(_.asInstanceOf[java.util.List[Integer]]
          .asScala.map(_.intValue).toSeq).getOrElse(Nil))
  }

  /** Live DATA-file paths of the current snapshot of the metadata file
    * at `metadataJsonPath` — the CATALOG-POINTER read path: JDBC and
    * REST catalogs address a table by metadata location, not by the
    * FS version-hint convention. */
  def dataFilePathsAt(metadataJsonPath: String): Seq[String] = {
    val meta = mapper.readTree(TableIO(metadataJsonPath).readString)
    val snapId = meta.get("current-snapshot-id").asLong
    val snap = meta.withArray[ArrayNode]("snapshots").asScala
      .find(_.get("snapshot-id").asLong == snapId).getOrElse(
        throw new IllegalStateException(
          s"snapshot $snapId missing from $metadataJsonPath"))
    readAvro(TableIO(snap.get("manifest-list").asText)).flatMap { mf =>
      readAvro(TableIO(mf.get("manifest_path").toString)).collect {
        case e if e.get("status").asInstanceOf[Int] != 2 =>
          val df = e.get("data_file").asInstanceOf[GenericRecord]
          (df.get("content").asInstanceOf[Int],
            df.get("file_path").toString)
      }.collect { case (0, p) => p }
    }
  }

  /** Live (path, sequence) data entries and (path, sequence, content)
    * delete entries — content 1 = positional, 2 = equality — of a
    * snapshot (current unless `asOfSnapshotId` time-travels). */
  def manifestEntries(tableDir: String,
                      asOfSnapshotId: Option[Long] = None)
      : (Seq[(String, Long)], Seq[(String, Long, Int)]) = {
    val all = dataFileStats(tableDir, asOfSnapshotId)
    (all.collect { case e if e.content == 0 => (e.path, e.seq) },
     all.collect { case e if e.content != 0 => (e.path, e.seq, e.content) })
  }

  /** Field ids of every TOP-LEVEL column of the current schema — ONE
    * metadata read (the per-plan streaming pushdown path must not pay
    * a version-hint + metadata.json read per column per microbatch). */
  def currentFieldIds(tableDir: String): Map[String, Int] = {
    val (_, meta) = currentMetadata(tableDir).getOrElse(
      throw new IllegalStateException(s"no committed version at $tableDir"))
    val id = meta.get("current-schema-id").asInt
    meta.withArray[ArrayNode]("schemas").asScala
      .find(_.get("schema-id").asInt == id).get
      .withArray[ArrayNode]("fields").asScala
      .map(f => f.get("name").asText -> f.get("id").asInt).toMap
  }

  /** Field id of a top-level column in the CURRENT committed schema. */
  def currentFieldId(tableDir: String, name: String): Int = {
    val (_, meta) = currentMetadata(tableDir).getOrElse(
      throw new IllegalStateException(s"no committed version at $tableDir"))
    val id = meta.get("current-schema-id").asInt
    val schema = meta.withArray[ArrayNode]("schemas").asScala
      .find(_.get("schema-id").asInt == id).get
    schema.withArray[ArrayNode]("fields").asScala
      .find(_.get("name").asText == name)
      .map(_.get("id").asInt)
      .getOrElse(throw new IllegalArgumentException(s"no field $name"))
  }

  /** Data-file paths of a snapshot that can contain rows with
    * `column` in `[lo, hi]`, judged from the manifest bounds alone — a
    * file without bounds for the column is conservatively kept (absent
    * stats mean "cannot prune", never "skip"). */
  def pruneDataFiles(tableDir: String, column: String, lo: Long, hi: Long,
                     asOfSnapshotId: Option[Long] = None): Seq[String] = {
    val fid = currentFieldId(tableDir, column)
    dataFileStats(tableDir, asOfSnapshotId).filter(_.content == 0)
      .filter { e =>
        (e.stats.lower.get(fid), e.stats.upper.get(fid)) match {
          case (Some(l), Some(u)) =>
            boundLong(l) <= hi && boundLong(u) >= lo
          case _ => true
        }
      }.map(_.path)
  }

  /** Walk version-hint → metadata.json → manifest list → manifests and
    * return the live DATA file paths of the current snapshot — the read
    * path an Iceberg-aware engine runs, proving the tree is connected. */
  def dataFilePaths(tableDir: String): Seq[String] =
    manifestEntries(tableDir)._1.map(_._1)

  /** INCREMENTAL APPEND SCAN — Iceberg's `start-snapshot-id` read, the
    * downstream-consumption shape (a training-data pipeline tails a
    * table by snapshot, never re-reading history): rows of data files
    * first ADDED by snapshots AFTER `fromSnapshotId` in the current
    * history. This is exactly why the fast-append/rewrite paths carry
    * entries with their ORIGINAL adding snapshot-id — the incremental
    * reader keys on that field. Like Iceberg, the range must contain
    * only `append` snapshots: a replace/overwrite in the range rewrote
    * row positions and an append-only consumer would double-count, so
    * it refuses (the caller resyncs from the replace). */
  def readAppendsSince(spark: SparkSession, tableDir: String,
                       fromSnapshotId: Long): DataFrame = {
    val (_, meta) = currentMetadata(tableDir).getOrElse(
      throw new IllegalStateException(s"no committed version at $tableDir"))
    // MAIN lineage, not the snapshots array: a branch snapshot or a
    // rolled-back-over commit in the array must neither deliver rows
    // nor trip the append-only check
    val lineage = mainLineage(meta)
    val fromIdx = lineage.indexWhere(
      _.get("snapshot-id").asLong == fromSnapshotId)
    if (fromIdx < 0) throw new IllegalArgumentException(
      s"snapshot $fromSnapshotId not on the current main lineage " +
        "(expired, rolled back over, or a branch snapshot? resync " +
        "from a full read)")
    val later = lineage.drop(fromIdx + 1)
    later.foreach { s =>
      val op = s.get("summary").get("operation").asText
      require(op == "append",
        s"snapshot ${s.get("snapshot-id").asLong} is '$op': an " +
          "incremental append scan cannot cross a replace/overwrite — " +
          "resync from that snapshot")
    }
    val laterIds = later.map(_.get("snapshot-id").asLong).toSet
    val files = dataFileStats(tableDir)
      .filter(e => e.content == 0 && laterIds.contains(e.addedSnapshotId))
      .map(_.path)
    if (files.isEmpty)
      ParquetFooters.read(spark, dataFilePaths(tableDir)).limit(0)
    else ParquetFooters.read(spark, files)
  }

  /** Snapshot nodes on the CURRENT head's ancestry chain — the MAIN
    * lineage, oldest first. The spec defines history by parent
    * pointers, not array membership: an unpublished audit-branch
    * snapshot and a rolled-back-over commit both sit in the
    * `snapshots` array (reachable for time travel) but are NOT
    * ancestors of the head, and every consumer walk (tail, changelog,
    * append scan) must never deliver them. The chain stops at an
    * expired parent. */
  private def mainLineage(meta: JsonNode,
                          headId: Option[Long] = None): Seq[JsonNode] = {
    val byId = meta.withArray[ArrayNode]("snapshots").asScala
      .map(s => s.get("snapshot-id").asLong -> s).toMap
    val head = headId.getOrElse(meta.get("current-snapshot-id").asLong)
    Iterator.iterate(byId.get(head))(_.flatMap(s =>
        Option(s.get("parent-snapshot-id")).map(_.asLong).flatMap(byId.get)))
      .takeWhile(_.isDefined).map(_.get).toSeq.reverse
  }

  /** `(snapshot-id, operation)` of every MAIN-lineage snapshot up to
    * `toSnapshotId` (the head when None), in commit order — the
    * per-commit planning walk of the DSv2 changelog stream
    * ([[graft.sources.replication.IcebergSnapshotStream]]). Metadata
    * only: one currentMetadata read, no manifest opens. */
  def mainLineageOps(tableDir: String,
                     toSnapshotId: Option[Long] = None)
      : Seq[(Long, String)] = {
    val (_, meta) = currentMetadata(tableDir).getOrElse(
      throw new IllegalStateException(s"no committed version at $tableDir"))
    mainLineage(meta, toSnapshotId).map(s => (
      s.get("snapshot-id").asLong,
      s.get("summary").get("operation").asText))
  }

  /** Data-file paths first ADDED by snapshot node `s` — list rows
    * filter by `added_snapshot_id` before any manifest opens, so the
    * walk costs O(new manifests), never O(table). */
  private def addedDataFilesOf(s: JsonNode): Seq[String] = {
    val id = s.get("snapshot-id").asLong
    readAvro(TableIO(s.get("manifest-list").asText))
      .filter(_.get("added_snapshot_id").asInstanceOf[Long] == id)
      .flatMap { m =>
        readManifestRows(TableIO(m.get("manifest_path").toString))._1
          .collect {
            case e if e.get("status").asInstanceOf[Int] == 1 &&
              e.get("snapshot_id").asInstanceOf[Long] == id &&
              e.get("data_file").asInstanceOf[GenericRecord]
                .get("content").asInstanceOf[Int] == 0 =>
              e.get("data_file").asInstanceOf[GenericRecord]
                .get("file_path").toString
          }
      }.sorted
  }

  /** Full logical state of the table at a snapshot (current by
    * default): the MoR algebra when delete files are live there, a
    * plain scan of the live data files otherwise — the read every
    * consumer backfill must use (raw `dataFilePaths` would resurrect
    * rows the live deletes killed). */
  def readTable(spark: SparkSession, tableDir: String,
                keyCol: String = graft.operators.SystemColumns.OlakeId,
                asOfSnapshotId: Option[Long] = None): DataFrame = {
    val stats = dataFileStats(tableDir, asOfSnapshotId)
    if (stats.exists(_.content != 0))
      readMoR(spark, tableDir, keyCol, asOfSnapshotId = asOfSnapshotId)
    else {
      val paths = stats.collect { case e if e.content == 0 => e.path }
      require(paths.nonEmpty, s"no live data files at $tableDir")
      ParquetFooters.read(spark, paths)
    }
  }

  /** Data-file paths ADDED by the append snapshots after
    * `fromSnapshotId` on the MAIN lineage, bounded at `toSnapshotId`
    * when given (a poller pins the head it checkpointed, so a commit
    * racing the poll is never half-delivered) — the planning walk of a
    * streaming table tail ([[graft.streaming.IcebergTail]]): list rows
    * filter by `added_snapshot_id` before any manifest opens, so a
    * poll costs O(new manifests) metadata however long the table's
    * history. `replace` commits contribute nothing (no logical
    * change); an overwrite/delete commit throws unless
    * `failOnOverwrite = false` (Iceberg's
    * `streaming-skip-overwrite-snapshots`), in which case its changes
    * are SKIPPED entirely, never partially delivered. */
  def appendedFilesSince(tableDir: String, fromSnapshotId: Long,
                         failOnOverwrite: Boolean = true,
                         toSnapshotId: Option[Long] = None): Seq[String] = {
    val (_, meta) = currentMetadata(tableDir).getOrElse(
      throw new IllegalStateException(s"no committed version at $tableDir"))
    val lineage = mainLineage(meta, toSnapshotId)
    // sentinel: replay the WHOLE main lineage (a stream starting from
    // `earliest` — Iceberg's own streaming read starts at the oldest
    // ancestor and delivers every append)
    if (fromSnapshotId == BeforeAllSnapshots)
      return lineage.flatMap(appendedOf(_, failOnOverwrite))
    val fromIdx = lineage.indexWhere(
      _.get("snapshot-id").asLong == fromSnapshotId)
    if (fromIdx < 0) throw new IllegalArgumentException(
      s"snapshot $fromSnapshotId not on the current main lineage " +
        "(expired, rolled back over, or a branch snapshot? resync " +
        "from a full read)")
    lineage.drop(fromIdx + 1).flatMap(appendedOf(_, failOnOverwrite))
  }

  /** "Before everything" sentinel for [[appendedFilesSince]]. */
  val BeforeAllSnapshots: Long = Long.MinValue

  /** The last main-lineage snapshot committed STRICTLY BEFORE
    * `timestampMs` — the start offset of a stream-from-timestamp read
    * (everything at or after the instant replays). The sentinel when
    * even the first snapshot qualifies. */
  def snapshotBefore(tableDir: String, timestampMs: Long): Long = {
    val (_, meta) = currentMetadata(tableDir).getOrElse(
      throw new IllegalStateException(s"no committed version at $tableDir"))
    mainLineage(meta)
      .takeWhile(_.get("timestamp-ms").asLong < timestampMs)
      .lastOption.map(_.get("snapshot-id").asLong)
      .getOrElse(BeforeAllSnapshots)
  }

  /** Admission control for the streaming source
    * (`maxFilesPerTrigger`): the farthest snapshot — walking the main
    * lineage from `fromSnapshotId` toward `toSnapshotId` — whose
    * cumulative appended-file count stays within `maxFiles`, always
    * advancing at least one snapshot so a single oversized commit
    * still delivers whole (commits never split across batches).
    * Metadata cost O(new manifests); an off-lineage start falls
    * through to `toSnapshotId` and lets the plan path raise its own
    * resync error. */
  def boundedAppendHead(tableDir: String, fromSnapshotId: Long,
                        toSnapshotId: Long, maxFiles: Int): Long = {
    val (_, meta) = currentMetadata(tableDir).getOrElse(
      throw new IllegalStateException(s"no committed version at $tableDir"))
    val lineage = mainLineage(meta, Some(toSnapshotId))
    val fromIdx =
      if (fromSnapshotId == BeforeAllSnapshots) -1
      else lineage.indexWhere(
        _.get("snapshot-id").asLong == fromSnapshotId)
    if (fromSnapshotId != BeforeAllSnapshots && fromIdx < 0)
      return toSnapshotId
    var cum = 0
    var head = fromSnapshotId
    var advanced = false
    lineage.drop(fromIdx + 1).foreach { s =>
      val op = s.get("summary").get("operation").asText
      val cnt = if (op == "append") addedDataFilesOf(s).size else 0
      if (advanced && cum + cnt > maxFiles) return head
      cum += cnt
      head = s.get("snapshot-id").asLong
      advanced = true
      if (cum >= maxFiles) return head
    }
    head
  }

  private def appendedOf(s: JsonNode,
                         failOnOverwrite: Boolean): Seq[String] = {
    val id = s.get("snapshot-id").asLong
    val op = s.get("summary").get("operation").asText
    if (op == "replace") Nil
    else if (op != "append") {
      if (failOnOverwrite) throw new IllegalArgumentException(
        s"snapshot $id is '$op': an append tail cannot cross an " +
          "overwrite — resync from a full read, or skip overwrite " +
          "snapshots explicitly")
      Nil
    } else addedDataFilesOf(s)
  }

  /** Stats-bearing variant of [[appendedFilesSince]]: the same walk,
    * but each added file arrives with its manifest entry's column
    * bounds — what the streaming source's filter pushdown prunes files
    * on at PLAN time (a filtered tail of a 100 TB table opens only the
    * files whose stats overlap the predicate). Same O(new manifests)
    * cost: list rows filter by `added_snapshot_id` before any manifest
    * opens. */
  def appendedStatsSince(tableDir: String, fromSnapshotId: Long,
                         failOnOverwrite: Boolean = true,
                         toSnapshotId: Option[Long] = None)
      : Seq[DataFileStat] = {
    val (_, meta) = currentMetadata(tableDir).getOrElse(
      throw new IllegalStateException(s"no committed version at $tableDir"))
    val lineage = mainLineage(meta, toSnapshotId)
    def statsOf(s: JsonNode): Seq[DataFileStat] = {
      val id = s.get("snapshot-id").asLong
      val op = s.get("summary").get("operation").asText
      if (op == "replace") Nil
      else if (op != "append") {
        if (failOnOverwrite) throw new IllegalArgumentException(
          s"snapshot $id is '$op': an append tail cannot cross an " +
            "overwrite — resync from a full read, or skip overwrite " +
            "snapshots explicitly")
        Nil
      } else {
        readAvro(TableIO(s.get("manifest-list").asText))
          .filter(_.get("added_snapshot_id").asInstanceOf[Long] == id)
          .flatMap { m =>
            val (rows, sid) =
              readManifestRows(TableIO(m.get("manifest_path").toString))
            rows.collect {
              case e if e.get("status").asInstanceOf[Int] == 1 &&
                e.get("snapshot_id").asInstanceOf[Long] == id &&
                e.get("data_file").asInstanceOf[GenericRecord]
                  .get("content").asInstanceOf[Int] == 0 =>
                entryToStat(e, sid)
            }
          }
      }
    }
    if (fromSnapshotId == BeforeAllSnapshots)
      return lineage.flatMap(statsOf)
    val fromIdx = lineage.indexWhere(
      _.get("snapshot-id").asLong == fromSnapshotId)
    if (fromIdx < 0) throw new IllegalArgumentException(
      s"snapshot $fromSnapshotId not on the current main lineage " +
        "(expired, rolled back over, or a branch snapshot? resync " +
        "from a full read)")
    lineage.drop(fromIdx + 1).flatMap(statsOf)
  }

  /** CHANGELOG SCAN — Iceberg's `create_changelog_view` shape: the
    * row-level change stream `(rows, change_type, change_ordinal,
    * commit_snapshot_id)` a CDC consumer replays for the snapshots
    * AFTER `fromSnapshotId` (up to `toSnapshotId`, default current).
    * Where [[readAppendsSince]] REFUSES a range crossing an
    * overwrite (an append-only consumer would double-count), this is
    * the general consumer: every commit kind maps to changes.
    *
    * Per snapshot, cheapest-exact-path first:
    *  - `replace` (compaction / sort / manifest rewrite): NO logical
    *    change by definition — emits nothing, costs nothing.
    *  - `append`: inserts = rows of the data files first added by the
    *    snapshot, straight off the manifest walk (zero diffing). Exact
    *    even on a MoR table: an equality delete applies only to
    *    STRICTLY SMALLER sequences and a positional delete names
    *    already-written files, so no pre-existing delete can touch
    *    rows appended after it.
    *  - `overwrite`/`delete` without new delete files (copy-on-write):
    *    diff RESTRICTED to the files the snapshot touched. With
    *    U = rows of files live in both snapshots, R = removed files'
    *    rows, A = added files' rows, the state multisets are
    *    prev = U⊎R and cur = U⊎A, so prev∖cur = R∖A and
    *    cur∖prev = A∖R — untouched files never need reading, the diff
    *    is bag-exact, and its cost is bounded by the commit's own
    *    footprint, not table size.
    *  - `overwrite` that adds delete files (merge-on-read): new
    *    deletes can kill rows inside UNTOUCHED data files, so the
    *    restricted algebra no longer cancels — the snapshot pair is
    *    diffed as full [[readMoR]] states. This is the one expensive
    *    case; a table under `autoMaintain` compacts deletes away on a
    *    cadence, so ranges are short and the COW/append paths carry
    *    the tail.
    *
    * `netChanges = true` collapses the range to ONE diff of the
    * endpoint states (Iceberg's net_changes view): intermediate
    * insert+delete churn of the same row cancels, and the cost is two
    * state reads total regardless of how many commits the range holds.
    * Expired `from` snapshots are refused like readAppendsSince —
    * the consumer resyncs from a full read. */
  def changelogScan(spark: SparkSession, tableDir: String,
                    fromSnapshotId: Long,
                    toSnapshotId: Option[Long] = None,
                    keyCol: String = graft.operators.SystemColumns.OlakeId,
                    netChanges: Boolean = false,
                    unionSnapLimit: Int = 64): DataFrame = {
    // branch-scoped consumption goes through the CALLER resolving the
    // ref head and pinning it via `toSnapshotId`
    // ([[graft.streaming.IcebergTail.pollChangelog]]) — one
    // ref-or-refuse lookup, not three copies
    val (_, meta) = currentMetadata(tableDir).getOrElse(
      throw new IllegalStateException(s"no committed version at $tableDir"))
    // MAIN-lineage selection (parent chain from the head, or from the
    // pinned `toSnapshotId`): branch snapshots and rolled-back commits
    // sit in the snapshots array but are NOT history — delivering them
    // would hand a consumer rows that never existed on main (and twice,
    // if a branch is later cherry-picked)
    val lineage = mainLineage(meta, toSnapshotId)
    val fromIdx = lineage.indexWhere(
      _.get("snapshot-id").asLong == fromSnapshotId)
    if (fromIdx < 0) throw new IllegalArgumentException(
      s"snapshot $fromSnapshotId not on the current main lineage " +
        "(expired, rolled back over, or a branch snapshot? resync " +
        "from a full read)")
    val range = lineage.drop(fromIdx + 1)
    // full logical state at a snapshot: the MoR algebra if any delete
    // file is live there, a plain scan of the live data files otherwise
    def state(id: Long): DataFrame = {
      val stats = dataFileStats(tableDir, Some(id))
      if (!stats.exists(_.content == 0)) null
      else readTable(spark, tableDir, keyCol, Some(id))
    }
    // bag-diff with schema alignment (an overwrite may have widened the
    // schema mid-range; missing columns compare as null)
    def aligned(df: DataFrame, cols: Seq[String]): DataFrame =
      df.select(cols.map(c =>
        if (df.columns.contains(c)) col(c) else lit(null).as(c)): _*)
    def tag(df: DataFrame, kind: String, ord: Int, snap: Long) = df
      .withColumn("change_type", lit(kind))
      .withColumn("change_ordinal", lit(ord))
      .withColumn("commit_snapshot_id", lit(snap))
    // built only when a path needs it (the common non-empty scan never
    // pays this metadata walk); a table with no live data files at
    // either endpoint degrades to a tags-only empty frame
    lazy val emptyTagged = {
      val base = state(fromSnapshotId) match {
        case null => state(lineage.last.get("snapshot-id").asLong)
        case s => s
      }
      if (base == null)
        spark.range(0).select(lit("").as("change_type"),
          lit(0).as("change_ordinal"), lit(0L).as("commit_snapshot_id"))
      else tag(base, "insert", 0, 0L).limit(0)
    }
    if (netChanges) {
      val prev = state(fromSnapshotId)
      val cur = state(range.lastOption.fold(fromSnapshotId)(
        _.get("snapshot-id").asLong))
      if (range.isEmpty || prev == null && cur == null) return emptyTagged
      val cols =
        (if (cur != null) cur.columns.toSeq else prev.columns.toSeq)
      val p = if (prev == null) aligned(cur, cols).limit(0)
              else aligned(prev, cols)
      val c = if (cur == null) aligned(prev, cols).limit(0)
              else aligned(cur, cols)
      val snap = range.last.get("snapshot-id").asLong
      return tag(c.exceptAll(p), "insert", range.size, snap)
        .unionByName(tag(p.exceptAll(c), "delete", range.size, snap))
    }
    // appends collect (file, ordinal, snapshot) triples; below
    // `unionSnapLimit` snapshots each becomes its own tagged scan,
    // above it ALL append files read as ONE scan with the tags
    // rejoined from a broadcast map — plan WIDTH stays O(overwrites
    // + 1) however long the tail (same shape as readMoRAlgebra)
    val appendAdds =
      scala.collection.mutable.ArrayBuffer.empty[(String, Int, Long)]
    val parts = range.zipWithIndex.flatMap { case (s, i) =>
      val id = s.get("snapshot-id").asLong
      val ord = i + 1
      val op = s.get("summary").get("operation").asText
      if (op == "replace") Nil
      else if (op == "append") {
        // O(new manifests) per append snapshot, never quadratic in
        // table history (the added_snapshot_id list filter)
        addedDataFilesOf(s).foreach(p => appendAdds += ((p, ord, id)))
        Nil
      } else {
        val curStats = dataFileStats(tableDir, Some(id))
        val prevId = lineage(fromIdx + i).get("snapshot-id").asLong
        val prevStats = dataFileStats(tableDir, Some(prevId))
        val prevData = prevStats.collect {
          case e if e.content == 0 => e.path }.toSet
        val curData = curStats.collect {
          case e if e.content == 0 => e.path }.toSet
        val newDeletes = {
          val prevDel = prevStats.collect {
            case e if e.content != 0 => e.path }.toSet
          curStats.exists(e => e.content != 0 && !prevDel.contains(e.path))
        }
        if (!newDeletes) {
          val added = (curData -- prevData).toSeq.sorted
          val removed = (prevData -- curData).toSeq.sorted
          def rows(ps: Seq[String], other: Seq[String]) =
            if (ps.nonEmpty) Some(ParquetFooters.read(spark, ps))
            else if (other.nonEmpty)
              Some(ParquetFooters.read(spark, other).limit(0))
            else None
          (rows(added, removed), rows(removed, added)) match {
            case (Some(a), Some(r)) =>
              val cols = a.columns.toSeq
              val rA = aligned(r, cols)
              Seq(tag(a.exceptAll(rA), "insert", ord, id),
                tag(rA.exceptAll(a), "delete", ord, id))
            case _ => Nil
          }
        } else {
          val prev = state(prevId); val cur = state(id)
          if (prev == null && cur == null) Nil
          else {
            val cols =
              (if (cur != null) cur.columns.toSeq else prev.columns.toSeq)
            val p = if (prev == null) aligned(cur, cols).limit(0)
                    else aligned(prev, cols)
            val c = if (cur == null) aligned(prev, cols).limit(0)
                    else aligned(cur, cols)
            Seq(tag(c.exceptAll(p), "insert", ord, id),
              tag(p.exceptAll(c), "delete", ord, id))
          }
        }
      }
    }
    val appendParts: Seq[DataFrame] =
      if (appendAdds.isEmpty) Nil
      else if (appendAdds.map(_._3).distinct.size <= unionSnapLimit)
        appendAdds.groupBy(a => (a._2, a._3)).toSeq.sortBy(_._1._1)
          .map { case ((ord, id), as) =>
            tag(ParquetFooters.read(spark, as.map(_._1).toSeq),
              "insert", ord, id)
          }
      else {
        // long-tail shape: ONE scan over every appended file, ordinal
        // and snapshot-id rejoined from a broadcast (file → tag) map.
        // Manifest paths and `_metadata.file_path` render the scheme
        // differently, so both sides normalize to the path part.
        import spark.implicits._
        val tags = appendAdds.toSeq
          .map { case (p, o, i) => (p.replaceFirst(SchemeRe, "/"), o, i) }
          .toDF("__fpn", "change_ordinal", "commit_snapshot_id")
        // LEFT join + loud failure, same guard as readMoRAlgebra's seqMap
        // join: a normalization miss must error, never silently drop
        // every row of that file
        Seq(ParquetFooters.read(spark, appendAdds.map(_._1).toSeq, merge = true)
          .withColumn("__fpn",
            regexp_replace(col("_metadata.file_path"), SchemeRe, "/"))
          .join(broadcast(tags), Seq("__fpn"), "left")
          .withColumn("change_ordinal",
            coalesce(col("change_ordinal"), raise_error(
              concat(lit("changelogScan: no snapshot tag for file "),
                col("__fpn"))).cast("int")))
          .withColumn("commit_snapshot_id",
            coalesce(col("commit_snapshot_id"), raise_error(
              concat(lit("changelogScan: no snapshot tag for file "),
                col("__fpn"))).cast("long")))
          .drop("__fpn")
          .withColumn("change_type", lit("insert")))
      }
    val all = parts ++ appendParts
    if (all.isEmpty) emptyTagged
    else all.reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** Iceberg-style METADATA TABLES (`SELECT * FROM t.partitions` /
    * `t.files` / `t.snapshots` / `t.manifests`): the inspection
    * surface operators query for health checks and maintenance
    * triggers. Built from the same manifest/metadata walk the planner
    * runs — ZERO data-file IO (row counts and sizes come from the
    * manifests' own fields). */
  def partitionsTable(spark: SparkSession, tableDir: String): DataFrame = {
    import spark.implicits._
    dataFileStats(tableDir).filter(_.content == 0)
      .groupBy(e => (e.specId, e.partition)).toSeq
      .map { case ((sid, tup), es) =>
        (sid,
          if (tup.isEmpty) null
          else tup.map(v => String.valueOf(v)).mkString("/"),
          es.size.toLong, es.map(_.recordCount).sum,
          es.map(_.sizeBytes).sum)
      }
      .sortBy(r => (r._1, Option(r._2).getOrElse("")))
      .toDF("spec_id", "partition", "file_count", "row_count",
        "size_bytes")
  }

  def filesTable(spark: SparkSession, tableDir: String): DataFrame = {
    import spark.implicits._
    dataFileStats(tableDir).map(e =>
        (e.path, e.content, e.specId,
          if (e.partition.isEmpty) null
          else e.partition.map(v => String.valueOf(v)).mkString("/"),
          e.seq, e.recordCount, e.sizeBytes, e.addedSnapshotId))
      .toDF("file_path", "content", "spec_id", "partition",
        "sequence_number", "record_count", "file_size_in_bytes",
        "added_snapshot_id")
  }

  def snapshotsTable(spark: SparkSession, tableDir: String): DataFrame = {
    import spark.implicits._
    val (_, meta) = currentMetadata(tableDir).getOrElse(
      throw new IllegalStateException(s"no committed version at $tableDir"))
    meta.withArray[ArrayNode]("snapshots").asScala.toSeq.map { s =>
      (s.get("snapshot-id").asLong, s.get("sequence-number").asLong,
        s.get("timestamp-ms").asLong,
        s.get("summary").get("operation").asText,
        Option(s.get("summary").get("added-records"))
          .map(_.asText.toLong).getOrElse(0L))
    }.toDF("snapshot_id", "sequence_number", "timestamp_ms",
      "operation", "added_records")
  }

  /** Iceberg's `refs` metadata table: every named ref plus the
    * implicit `main` branch at the current snapshot. */
  def refsTable(spark: SparkSession, tableDir: String): DataFrame = {
    import spark.implicits._
    val (_, meta) = currentMetadata(tableDir).getOrElse(
      throw new IllegalStateException(s"no committed version at $tableDir"))
    val named = Option(meta.get("refs")).toSeq.flatMap { refs =>
      refs.properties().asScala.map { e =>
        (e.getKey, e.getValue.get("type").asText,
          e.getValue.get("snapshot-id").asLong)
      }
    }.filterNot(_._1 == "main")
    (("main", "branch", meta.get("current-snapshot-id").asLong) +: named)
      .toDF("name", "type", "snapshot_id")
  }

  /** Iceberg's `history` metadata table: the snapshot-log (every
    * current-state change, in order) with the is-current-ancestor
    * flag a rollback consumer filters on. */
  def historyTable(spark: SparkSession, tableDir: String): DataFrame = {
    import spark.implicits._
    val (_, meta) = currentMetadata(tableDir).getOrElse(
      throw new IllegalStateException(s"no committed version at $tableDir"))
    // ancestry = the parent chain from the current head (a rolled-back
    // commit stays in the log but is no longer an ancestor)
    val byId = meta.withArray[ArrayNode]("snapshots").asScala
      .map(s => s.get("snapshot-id").asLong -> s).toMap
    val ancestors = Iterator
      .iterate(Option(meta.get("current-snapshot-id").asLong)) { cur =>
        cur.flatMap(id => byId.get(id))
          .flatMap(s => Option(s.get("parent-snapshot-id"))
            .filterNot(_.isNull).map(_.asLong))
      }
      .takeWhile(_.isDefined).flatten.toSet
    meta.withArray[ArrayNode]("snapshot-log").asScala.toSeq.map { e =>
      val id = e.get("snapshot-id").asLong
      (e.get("timestamp-ms").asLong, id,
        byId.get(id).flatMap(s => Option(s.get("parent-snapshot-id")))
          .filterNot(_.isNull).map(_.asLong),
        ancestors.contains(id))
    }.toDF("made_current_at", "snapshot_id", "parent_id",
      "is_current_ancestor")
  }

  def manifestsTable(spark: SparkSession, tableDir: String): DataFrame = {
    import spark.implicits._
    val (_, meta) = currentMetadata(tableDir).getOrElse(
      throw new IllegalStateException(s"no committed version at $tableDir"))
    val snapId = meta.get("current-snapshot-id").asLong
    val snap = meta.withArray[ArrayNode]("snapshots").asScala
      .find(_.get("snapshot-id").asLong == snapId).get
    readAvro(TableIO(snap.get("manifest-list").asText)).map { m =>
      (m.get("manifest_path").toString,
        m.get("manifest_length").asInstanceOf[Long],
        m.get("partition_spec_id").asInstanceOf[Int],
        m.get("content").asInstanceOf[Int],
        m.get("added_files_count").asInstanceOf[Int],
        m.get("existing_files_count").asInstanceOf[Int],
        m.get("min_sequence_number").asInstanceOf[Long],
        m.get("sequence_number").asInstanceOf[Long])
    }.toDF("path", "length", "partition_spec_id", "content",
      "added_files_count", "existing_files_count",
      "min_sequence_number", "sequence_number")
  }
}
