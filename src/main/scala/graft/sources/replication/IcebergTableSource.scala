package graft.sources.replication

import java.util

import scala.collection.mutable

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.Group
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetReader}
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.{GroupType, LogicalTypeAnnotation, PrimitiveType, Type => PType}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.sql.vectorized.ColumnarBatch
import org.apache.spark.unsafe.types.UTF8String

import graft.sinks.IcebergMetadata

/** `graft-iceberg`: a DSv2 **streaming source over the engine's own
  * Iceberg tables** — `spark.readStream.format("graft-iceberg")
  * .load(tableDir)` — so a downstream consumer tails a live-published
  * table CONTINUOUSLY, composing with the engine's watermarks, windowed
  * aggregations and stream-stream joins, instead of cron-ing one-poll
  * CLI invocations ([[graft.streaming.IcebergTail]] keeps the
  * cron-able shape; this is the production one). This is the shape of
  * Iceberg's own `spark.readStream.format("iceberg")` and the read
  * side the reference's examples stack exists for (consumers read the
  * written tables from Spark/Trino — `examples/README.md`).
  *
  * Semantics (Iceberg's streaming-read rules):
  *  - the OFFSET is the snapshot id on the MAIN lineage; a microbatch
  *    is the set of data files first added by the append snapshots in
  *    `(start, end]` — planning filters manifest-list rows by
  *    `added_snapshot_id` BEFORE any manifest opens, so a batch costs
  *    O(new manifests) metadata however long the table's history;
  *  - the stream starts from `earliest` by default — it REPLAYS the
  *    write history from the oldest main-lineage ancestor (Iceberg's
  *    own start position), so the union of delivered batches is the
  *    table's append history; `startSnapshot=latest` tails only
  *    commits after stream start; a numeric `startSnapshot` resumes
  *    exclusive of that snapshot;
  *  - a `replace` (compaction) commit delivers NOTHING — no logical
  *    change; an overwrite/delete commit FAILS the stream unless
  *    `skipOverwrites=true` (Iceberg's
  *    `streaming-skip-overwrite-snapshots`), which skips the commit
  *    whole — never partially — or unless `mode=changelog` (below);
  *  - each data file is one `InputPartition`: files distribute across
  *    executors and rows never flow through the driver. Offsets live
  *    in Spark's own checkpoint log, so restarts (incl.
  *    `Trigger.AvailableNow` run-to-done invocations) resume exactly
  *    after the last committed batch.
  *
  * **`mode=changelog`** is the CDC face: rows carry a `change_type`
  * column (`insert` / `delete`), overwrite commits deliver their
  * file-level diff instead of failing the stream, and commits that add
  * DELETE files (the engine's merge-on-read CDC tables) deliver the
  * rows those deletes killed as `delete` rows — computed per data-file
  * partition from the before/after delete state, never through the
  * driver. A consumer replays a batch as `(state EXCEPT ALL deletes)
  * UNION ALL inserts`; the fold over all delivered batches equals the
  * table's final state. This is the streaming analog of
  * [[graft.streaming.IcebergTail.pollChangelog]], expressible per-file
  * (the poll's bag-diff `EXCEPT ALL` needs a shuffle; the stream gets
  * the same replayed state from raw add/kill row sets, Iceberg's own
  * changelog-scan-with-carryovers shape).
  *
  * `inferSchema` answers from the table's CURRENT Iceberg schema
  * (metadata-only — [[IcebergMetadata.currentSparkSchema]]); files
  * written before a widening/evolution convert by NAME with absent
  * columns null and narrower physical types widened, the same
  * mergeSchema semantics the batch readers use.
  */
class IcebergTableSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-iceberg"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val dir = IcebergTableSource.dir(options)
    // a created-but-never-written table answers from its CREATE marker
    // (the catalog's snapshot-less created state) so the streaming
    // sink / empty scans work by path too
    val marker = graft.sinks.TableIO(dir)
      .child("metadata").child("created.schema.json")
    val base =
      if (IcebergMetadata.currentMetadata(dir).isDefined)
        IcebergMetadata.currentSparkSchema(dir)
      else if (marker.exists)
        org.apache.spark.sql.types.DataType.fromJson(marker.readString)
          .asInstanceOf[StructType]
      else throw new IllegalStateException(
        s"no committed version at $dir — commit a first snapshot, or " +
          "CREATE TABLE through the graft catalog to declare a schema")
    if (options.getOrDefault("mode", "append") == "changelog")
      // change_ordinal = commit index within the delivered batch: a
      // replayer folds per ordinal — (state EXCEPT ALL deletes) UNION
      // ALL inserts — so a row inserted by one commit and deleted by a
      // later commit in the SAME microbatch replays correctly
      // (Iceberg's own changelog scan carries _change_ordinal for the
      // same reason)
      base.add("change_type", StringType, nullable = false)
        .add("change_ordinal", IntegerType, nullable = false)
    else base
  }
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    new IcebergStreamTable(IcebergTableSource.dir(opts), schema,
      skipOverwrites = opts.getBoolean("skipOverwrites", false),
      startSnapshot = opts.getOrDefault("startSnapshot", "earliest"),
      ref = Option(opts.get("ref")),
      maxFilesPerTrigger = opts.getInt("maxFilesPerTrigger", 0),
      asOfSnapshot = Option(opts.get("asOfSnapshot")).map(_.toLong),
      mode = opts.getOrDefault("mode", "append"))
  }
}

object IcebergTableSource {
  private def dir(options: CaseInsensitiveStringMap): String =
    Option(options.get("path")).getOrElse(
      throw new IllegalArgumentException(
        "graft-iceberg needs the table directory: .load(tableDir)"))

  /** The `fs.*` Hadoop entries, captured on the DRIVER (where the
    * session's `s3wire://` endpoint/credential config lives) and
    * rebuilt executor-side — `Configuration` itself is not
    * serializable. */
  private[replication] def fsConf(): Map[String, String] = {
    val conf = SparkSession.active.sparkContext.hadoopConfiguration
    val it = conf.iterator()
    val b = Map.newBuilder[String, String]
    while (it.hasNext) {
      val e = it.next()
      if (e.getKey.startsWith("fs.")) b += e.getKey -> e.getValue
    }
    b.result()
  }
}

class IcebergStreamTable(tableDir: String, tableSchema: StructType,
                         skipOverwrites: Boolean, startSnapshot: String,
                         ref: Option[String],
                         maxFilesPerTrigger: Int,
                         asOfSnapshot: Option[Long] = None,
                         mode: String = "append")
    extends Table with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns
    with org.apache.spark.sql.connector.catalog.SupportsDelete
    with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations {
  override def name(): String = s"graft-iceberg(`$tableDir`)"
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE, TableCapability.OVERWRITE_BY_FILTER,
      TableCapability.STREAMING_WRITE)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new IcebergStreamScanBuilder(tableDir, tableSchema, skipOverwrites,
      startSnapshot, ref, maxFilesPerTrigger, asOfSnapshot, mode)
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder =
    new IcebergWriteBuilder(tableDir, info)

  /** The table's default partition spec as DSv2 transforms — what
    * `DESCRIBE TABLE` / `SHOW CREATE TABLE` render (the consumer
    * walkthrough surface). Derived from committed metadata, or from
    * the CREATE marker for a declared-but-never-written table. */
  override def partitioning(): Array[Transform] = {
    import org.apache.spark.sql.connector.expressions.Expressions
    val view =
      if (IcebergMetadata.currentMetadata(tableDir).isDefined)
        IcebergMetadata.defaultSpecView(tableDir)
      else {
        val pm = graft.sinks.TableIO(tableDir)
          .child("metadata").child("created.partition.txt")
        if (pm.exists)
          IcebergMetadata.specViewFromRegex(pm.readString.trim)
        else Nil
      }
    val argRe = """(bucket|truncate)\[(\d+)\]""".r
    view.map { case (pf, _) =>
      pf.transform match {
        case "identity" => Expressions.identity(pf.column)
        case "year" => Expressions.years(pf.column)
        case "month" => Expressions.months(pf.column)
        case "day" => Expressions.days(pf.column)
        case "hour" => Expressions.hours(pf.column)
        case argRe("bucket", n) => Expressions.bucket(n.toInt, pf.column)
        case argRe("truncate", w) => Expressions.apply("truncate",
          Expressions.column(pf.column), Expressions.literal(w.toInt))
        case other => Expressions.apply(other,
          Expressions.column(pf.column))
      }
    }.toArray
  }

  /** Key table properties for DESCRIBE EXTENDED / SHOW CREATE TABLE:
    * format + location + the current snapshot, from the metadata
    * tree (one metadata read, no data IO). */
  override def properties(): util.Map[String, String] = {
    val m = new util.HashMap[String, String]()
    m.put("provider", "graft-iceberg")
    m.put("format", "iceberg/parquet")
    m.put("location", tableDir)
    // persisted table properties (metadata.json `properties` / the
    // CREATE marker) — what SHOW TBLPROPERTIES surfaces
    IcebergMetadata.tableProperties(tableDir)
      .foreach { case (k, v) => m.put(k, v) }
    IcebergMetadata.currentMetadata(tableDir).foreach { case (v, meta) =>
      m.put("format-version", meta.get("format-version").asText)
      m.put("metadata-version", v.toString)
      m.put("current-snapshot-id",
        meta.get("current-snapshot-id").asText)
    }
    m
  }

  /** Iceberg's row-coordinate metadata columns: `_file` (the data
    * file's path) and `_pos` (the row's position in it) — the row id
    * the DELETE/UPDATE/MERGE delta write addresses positional deletes
    * with. Served virtually by the partition readers (never read from
    * parquet). */
  override def metadataColumns()
      : Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    Array(IcebergMetaCol("_file", StringType),
      IcebergMetaCol("_pos", LongType))

  /** DELETE FROM with a fully-pushable predicate — the metadata-path
    * delete: matching row coordinates become ONE positional-delete
    * file appended in ONE snapshot (no data rewrite), through the same
    * commit CAS as every other commit. The scan that finds the
    * coordinates is a distributed Spark job over the live data files
    * (predicate pushed into the parquet scan); only the matched
    * (file, pos) pairs — delete-sized, the MoR premise — flow back. */
  override def canDeleteWhere(
      filters: Array[org.apache.spark.sql.sources.Filter]): Boolean =
    asOfSnapshot.isEmpty && ref.isEmpty &&
      filters.forall(FilterColumns.translatable)

  override def deleteWhere(
      filters: Array[org.apache.spark.sql.sources.Filter]): Unit =
    IcebergRowLevel.deleteWhere(tableDir, tableSchema, filters)

  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder = {
    require(asOfSnapshot.isEmpty && ref.isEmpty,
      "row-level operations target the table head, not a time-travel " +
        "or branch read")
    () => new IcebergRowLevelOperation(tableDir, tableSchema,
      skipOverwrites, info.command())
  }
}

/** One virtual metadata column (SupportsMetadataColumns). */
case class IcebergMetaCol(colName: String, dt: DataType)
    extends org.apache.spark.sql.connector.catalog.MetadataColumn {
  override def name(): String = colName
  override def dataType(): DataType = dt
  override def isNullable: Boolean = false
}

/** Column pruning reaches the parquet reader: the pruned schema flows
  * through the scan into each partition reader, which projects the
  * parquet read itself (`parquet.read.schema`) — a two-column consumer
  * of a wide table reads two column chunks, not the row. Filter
  * pushdown prunes whole FILES at plan time from the manifests' column
  * bounds (every pushed filter is also returned as residual — the
  * source prunes files, Spark filters rows, the parquet contract). */
class IcebergStreamScanBuilder(tableDir: String, tableSchema: StructType,
                               skipOverwrites: Boolean,
                               startSnapshot: String, ref: Option[String],
                               maxFilesPerTrigger: Int,
                               asOfSnapshot: Option[Long] = None,
                               mode: String = "append")
    extends ScanBuilder
    with org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns
    with org.apache.spark.sql.connector.read.SupportsPushDownFilters
    with org.apache.spark.sql.connector.read.SupportsPushDownAggregates
    with org.apache.spark.sql.connector.read.SupportsPushDownLimit
    with org.apache.spark.sql.connector.read.SupportsPushDownTopN {
  private var pruned: StructType = tableSchema
  private var prunable: Array[org.apache.spark.sql.sources.Filter] =
    Array.empty
  private var limit: Int = 0
  private var topN: Option[TopNPrune.Spec] = None

  /** LIMIT n plans only enough FILES to cover n rows (manifest record
    * counts; clean snapshots only — the batch side re-checks): a
    * `LIMIT 10` over a million-file table plans one partition. Always
    * partial — Spark keeps its own row-level Limit on top. */
  override def pushLimit(l: Int): Boolean = { limit = l; true }
  /** ORDER BY … LIMIT n plans only files that can hold the top-n rows
    * ([[TopNPrune]]); always partial (Spark's TopN runs on top). */
  override def pushTopN(
      orders: Array[org.apache.spark.sql.connector.expressions.SortOrder],
      n: Int): Boolean = {
    topN = TopNPrune.parse(orders, n, tableSchema)
    topN.isDefined
  }
  override def isPartiallyPushed(): Boolean = true
  override def pruneColumns(requiredSchema: StructType): Unit =
    pruned = requiredSchema
  override def pushFilters(
      filters: Array[org.apache.spark.sql.sources.Filter])
      : Array[org.apache.spark.sql.sources.Filter] = {
    prunable = filters.filter(StatsPrune.supported)
    filters // ALL residual: file-level pruning is best-effort
  }
  override def pushedFilters()
      : Array[org.apache.spark.sql.sources.Filter] = prunable

  // COUNT/MIN/MAX answered from manifest stats ([[ManifestAgg]]):
  // Spark asks supportCompletePushDown then pushAggregation with the
  // same Aggregation — memoize the (driver-side, metadata-only) plan
  // so the manifests are folded once. Pushed filters block aggregate
  // pushdown upstream (every filter stays residual here, so Spark
  // keeps the Filter node and never offers the aggregate).
  private var aggMemo
      : Option[(String, Option[(StructType, Seq[Array[Any]])])] = None
  private def planAgg(agg: org.apache.spark.sql.connector.expressions
      .aggregate.Aggregation): Option[(StructType, Seq[Array[Any]])] = {
    if (mode == "changelog") return None
    val key = agg.toString
    aggMemo match {
      case Some((k, r)) if k == key => r
      case _ =>
        val r = ManifestAgg.plan(tableDir, tableSchema, ref,
          asOfSnapshot, agg)
        aggMemo = Some((key, r))
        r
    }
  }
  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate
        .Aggregation): Boolean = planAgg(agg).isDefined
  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate
        .Aggregation): Boolean = planAgg(agg).isDefined

  override def build(): Scan = aggMemo.flatMap(_._2) match {
    case Some((sch, vals)) => new IcebergAggScan(sch, vals)
    case None => new IcebergStreamScan(tableDir, pruned,
      skipOverwrites, startSnapshot, ref, maxFilesPerTrigger, prunable,
      asOfSnapshot, mode, limit, topN)
  }
}

class IcebergStreamScan(tableDir: String, tableSchema: StructType,
                        skipOverwrites: Boolean, startSnapshot: String,
                        ref: Option[String], maxFilesPerTrigger: Int,
                        filters: Array[org.apache.spark.sql.sources.Filter]
                          = Array.empty,
                        asOfSnapshot: Option[Long] = None,
                        mode: String = "append",
                        limit: Int = 0,
                        topN: Option[TopNPrune.Spec] = None)
    extends Scan
    with org.apache.spark.sql.connector.read.SupportsReportStatistics
    with org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering {
  override def readSchema(): StructType = tableSchema
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new IcebergSnapshotStream(tableDir, tableSchema, skipOverwrites,
      startSnapshot, ref, maxFilesPerTrigger, filters, mode)

  /** Runtime (join-driven) predicates, delivered by Spark AFTER
    * initial planning; `toBatch` is re-invoked afterwards, so the
    * fresh batch re-plans its file partitions against them. */
  private var runtimePreds
      : Array[org.apache.spark.sql.connector.expressions.filter
        .Predicate] = Array.empty

  /** Advertise the partition-spec SOURCE columns: the columns whose
    * IN sets actually prune files (tuple match and/or tight per-file
    * bounds). A selective join on one of these becomes dynamic file
    * pruning — the 100 TB fact-dim join reads the dim-matched files
    * only. */
  override def filterAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    if (mode == "changelog") Array.empty
    else RuntimePrune.filterColumns(tableDir)
      .map(org.apache.spark.sql.connector.expressions.Expressions.column)
      .toArray

  override def filter(
      predicates: Array[org.apache.spark.sql.connector.expressions
        .filter.Predicate]): Unit =
    runtimePreds = predicates

  /** The no-runtime-filter batch, shared between `estimateStatistics`
    * (logical planning) and `toBatch` (physical planning) so one
    * query costs one manifest read, not two. A runtime-filtered
    * re-plan builds fresh — the predicates arrived after this batch
    * planned. */
  private lazy val cleanBatch =
    new IcebergBatchScan(tableDir, tableSchema, ref, filters, asOfSnapshot,
      limit = limit, topN = topN)

  private def batchFor(): IcebergBatchScan =
    if (runtimePreds.isEmpty) cleanBatch
    else new IcebergBatchScan(tableDir, tableSchema, ref, filters,
      asOfSnapshot, runtimePreds, limit, topN)

  /** Manifest-derived size/rows of the (filter-pruned) scan — what
    * Spark's join planning consumes: a small engine table reports a
    * small sizeInBytes and gets BROADCAST, with zero file IO spent
    * finding that out. Rows net out the live delete-file records (an
    * estimate; the optimizer needs magnitude, not exactness). */
  override def estimateStatistics()
      : org.apache.spark.sql.connector.read.Statistics = {
    val est =
      try batchFor().estimate()
      catch { case scala.util.control.NonFatal(_) => None }
    new org.apache.spark.sql.connector.read.Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        est.map(e => java.util.OptionalLong.of(e._1))
          .getOrElse(java.util.OptionalLong.empty())
      override def numRows(): java.util.OptionalLong =
        est.map(e => java.util.OptionalLong.of(e._2))
          .getOrElse(java.util.OptionalLong.empty())
    }
  }

  /** BATCH face of the same table: the live data files of one
    * snapshot (current, `asOfSnapshot` time travel, or a `ref` head),
    * stats-pruned by the pushed filters, one file per partition — so
    * `spark.read.format("graft-iceberg")` (and the
    * [[GraftCatalog]] SQL face) serves engine tables directly.
    *
    * A table with LIVE delete files serves the merge-on-read ALGEBRA,
    * not a raw file scan (which would resurrect deleted rows): the
    * delete side — tiny next to the data it guards — is read ONCE at
    * plan time and shipped to executors in the reader factory (one
    * copy per executor via the task binary broadcast); each data-file
    * partition then filters its own rows by (position, equality-key
    * sequence) with zero shuffle and zero driver data flow. Clean
    * (delete-free) tables read COLUMNAR through Spark's vectorized
    * parquet reader. */
  override def toBatch: org.apache.spark.sql.connector.read.Batch = {
    require(mode != "changelog",
      "mode=changelog is a streaming read: use spark.readStream")
    batchFor()
  }
}

/** The DSv2 batch scan body — shared lazy state between partition
  * planning and reader-factory creation so the MoR delete side is
  * read exactly once. */
class IcebergBatchScan(tableDir: String, tableSchema: StructType,
                       ref: Option[String],
                       filters: Array[org.apache.spark.sql.sources.Filter],
                       asOfSnapshot: Option[Long],
                       runtime: Array[org.apache.spark.sql.connector
                         .expressions.filter.Predicate] = Array.empty,
                       limit: Int = 0,
                       topN: Option[TopNPrune.Spec] = None)
    extends org.apache.spark.sql.connector.read.Batch {

  private lazy val asOf: Option[Long] =
    ManifestAgg.resolveAsOf(tableDir, ref, asOfSnapshot)

  // a CREATEd-but-never-written table (CTAS / DDL marker shape) has
  // no committed version: it scans as empty and its factory must not
  // touch the (nonexistent) manifests
  private lazy val committed =
    IcebergMetadata.currentMetadata(tableDir).isDefined
  private lazy val stats =
    if (!committed) Nil else IcebergMetadata.dataFileStats(tableDir, asOf)
  private lazy val hasDeletes = stats.exists(_.content != 0)

  /** Delete state, read once on the driver (`None` for clean tables).
    * State id 0 = the scanned snapshot's own live delete state. */
  private lazy val morState
      : (Option[MorSpec], Map[String, Array[Long]]) =
    if (!hasDeletes) (None, Map.empty)
    else {
      val conf = SparkSession.active.sparkContext.hadoopConfiguration
      val cache: MorPlan.Cache = mutable.HashMap.empty
      // key types resolve against the FULL table schema — `tableSchema`
      // here is the consumer's PRUNED projection, which may not carry
      // the equality-key column at all
      val eq = MorPlan.eqStateOf(stats, tableDir,
        IcebergMetadata.currentSparkSchema(tableDir), conf, cache)
      val pos = MorPlan.posStateOf(stats, conf, cache)
      val spec = MorSpec(eq.keyFields.map(f => (f.name, f.dataType)),
        if (eq.byKey.nonEmpty) Map(0L -> eq.byKey) else Map.empty)
      (Some(spec), pos)
    }

  /** The data files the scan will read: manifest entries surviving
    * BOTH the plan-time filter bounds prune and the runtime
    * (join-driven) prune — shared by partition planning and the
    * statistics estimate. */
  private lazy val prunedDataStats: Seq[IcebergMetadata.DataFileStat] =
    if (!committed) Nil
    else {
    val dataStats = stats.filter(_.content == 0)
    val runtimeVals = RuntimePrune.parse(runtime)
    val fidByName =
      if (filters.isEmpty && runtimeVals.isEmpty) Map.empty[String, Int]
      else IcebergMetadata.currentFieldIds(tableDir)
    val specs =
      if (runtimeVals.isEmpty)
        Map.empty[Int, Seq[IcebergMetadata.PartSpecField]]
      else scala.util.Try(IcebergMetadata.specsById(tableDir))
        .getOrElse(Map.empty)
    // stats-pruning data files stays CORRECT under MoR: deletes only
    // remove rows, so a file whose bounds cannot match the predicate
    // still cannot contribute rows after the merge
    dataStats.filter { st =>
      def bounds(c: String): Option[(Long, Long)] =
        fidByName.get(c).flatMap { fid =>
          (st.stats.lower.get(fid), st.stats.upper.get(fid)) match {
            case (Some(l), Some(u)) => Some(
              (IcebergMetadata.boundLong(l),
                IcebergMetadata.boundLong(u)))
            case _ => None
          }
        }
      filters.forall(f => StatsPrune.mightMatch(f, bounds)) &&
        (runtimeVals.isEmpty ||
          RuntimePrune.keep(st, runtimeVals, fidByName, specs))
    }
    }

  /** (sizeBytes, rows) of the pruned scan for the optimizer — rows
    * net out live delete-file records as an estimate. */
  def estimate(): Option[(Long, Long)] = {
    if (!committed) return Some((0L, 0L))
    val delRows = stats.filter(_.content != 0).map(_.recordCount).sum
    Some((prunedDataStats.map(_.sizeBytes).sum,
      math.max(0L, prunedDataStats.map(_.recordCount).sum - delRows)))
  }

  /** LIMIT file truncation: enough files to cover `limit` rows by
    * manifest record counts. ONLY on a clean unfiltered scan — a
    * delete file could kill rows (undercounting), and a residual
    * filter means Spark kept a Filter node (it would not have pushed
    * the limit past one anyway, but re-check — correctness must not
    * depend on the optimizer's rule order). */
  private def limited(sts: Seq[IcebergMetadata.DataFileStat])
      : Seq[IcebergMetadata.DataFileStat] =
    if (hasDeletes || filters.nonEmpty || runtime.nonEmpty) sts
    else topN match {
      // ORDER BY … LIMIT: bounds-driven top-n superset ([[TopNPrune]])
      case Some(spec) =>
        IcebergMetadata.currentFieldIds(tableDir).get(spec.col) match {
          case Some(fid) => TopNPrune.prune(sts, spec, fid)
          case None => sts
        }
      case None if limit > 0 =>
        var acc = 0L
        sts.takeWhile { st =>
          val needMore = acc < limit
          acc += st.recordCount
          needMore
        }
      case None => sts
    }

  override def planInputPartitions(): Array[InputPartition] = {
    if (!committed) return Array.empty
    val (morSpec, posState) = morState
    limited(prunedDataStats).map { st =>
      IcebergFilePartition(st.path, seq = st.seq,
        sizeBytes = st.sizeBytes,
        deadPos = posState.getOrElse(MorPlan.norm(st.path), Array.empty),
        eqState =
          if (morSpec.exists(_.eqStates.nonEmpty)) 0L else -1L)
        : InputPartition
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new IcebergFileReaderFactory(tableSchema, IcebergTableSource.fsConf(),
      // the delete state ships as a REAL Spark broadcast: a task
      // binary is deserialized PER TASK, so embedding the map there
      // would rebuild a delete-sized structure for every file
      // partition — the broadcast deserializes once per executor,
      // [[MorShared]] caches the built probe
      // maps so tasks share them too, and the broadcast itself is
      // REUSED across queries over the same delete state (keyed by
      // the immutable delete-file set) so repeated plans never
      // re-serialize a delete-sized map
      mor = morState._1.map { spec =>
        val fp = tableDir + "|" + stats.filter(_.content != 0)
          .map(e => s"${e.path}#${e.seq}").sorted.mkString(",")
        MorShared.broadcastSpec(fp)(
          SparkSession.active.sparkContext.broadcast(spec))
      },
      // flat schemas read COLUMNAR — including under MoR, where the
      // delete filter becomes a row-id mapping over the decoded batch
      // ([[MorColumnarReader]]). Virtual metadata columns (_file/_pos,
      // a row-level operation's scan) are filled by the ROW reader,
      // never decoded from parquet.
      columnar = MorPlan.atomicOnly(tableSchema) &&
        !tableSchema.fieldNames.exists(n => n == "_file" || n == "_pos"))
}

/** File-level predicate evaluation against Iceberg manifest bounds —
  * the planner half of filter pushdown. Integral comparisons only (the
  * bounds decode via the spec's little-endian single-value
  * serialization); anything else is conservatively unprunable. A file
  * missing bounds for a column is KEPT (absent stats mean "cannot
  * prune", never "skip"). */
object StatsPrune {
  import org.apache.spark.sql.sources._

  private def num(v: Any): Option[Long] = v match {
    case i: Int => Some(i.toLong)
    case l: Long => Some(l)
    case s: Short => Some(s.toLong)
    case b: Byte => Some(b.toLong)
    // temporal predicates compare in the bounds' own units: Iceberg
    // serializes timestamp bounds as MICROS since epoch (8 bytes LE)
    // and date bounds as days (4 bytes) — exactly what these convert to
    case t: java.sql.Timestamp =>
      Some(org.apache.spark.sql.catalyst.util.DateTimeUtils
        .fromJavaTimestamp(t))
    case i: java.time.Instant =>
      Some(org.apache.spark.sql.catalyst.util.DateTimeUtils
        .instantToMicros(i))
    case d: java.sql.Date =>
      Some(org.apache.spark.sql.catalyst.util.DateTimeUtils
        .fromJavaDate(d).toLong)
    case d: java.time.LocalDate => Some(d.toEpochDay)
    case _ => None
  }

  def supported(f: Filter): Boolean = f match {
    case EqualTo(_, v) => num(v).isDefined
    case GreaterThan(_, v) => num(v).isDefined
    case GreaterThanOrEqual(_, v) => num(v).isDefined
    case LessThan(_, v) => num(v).isDefined
    case LessThanOrEqual(_, v) => num(v).isDefined
    case And(l, r) => supported(l) && supported(r)
    case _ => false
  }

  /** Can a file with these bounds possibly hold a matching row? */
  def mightMatch(f: Filter,
                 bounds: String => Option[(Long, Long)]): Boolean =
    f match {
      case EqualTo(c, v) => num(v).forall(x =>
        bounds(c).forall { case (lo, hi) => lo <= x && x <= hi })
      case GreaterThan(c, v) => num(v).forall(x =>
        bounds(c).forall { case (_, hi) => hi > x })
      case GreaterThanOrEqual(c, v) => num(v).forall(x =>
        bounds(c).forall { case (_, hi) => hi >= x })
      case LessThan(c, v) => num(v).forall(x =>
        bounds(c).forall { case (lo, _) => lo < x })
      case LessThanOrEqual(c, v) => num(v).forall(x =>
        bounds(c).forall { case (lo, _) => lo <= x })
      case And(l, r) => mightMatch(l, bounds) && mightMatch(r, bounds)
      case _ => true
    }
}

/** The snapshot id as a streaming Offset. */
case class SnapshotOffset(snapshotId: Long) extends Offset {
  override def json(): String = s"""{"snapshotId":$snapshotId}"""
}

object SnapshotOffset {
  def parse(json: String): SnapshotOffset = SnapshotOffset(
    new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(json).get("snapshotId").asLong)
}

class IcebergSnapshotStream(tableDir: String, tableSchema: StructType,
                            skipOverwrites: Boolean, startSnapshot: String,
                            ref: Option[String] = None,
                            maxFilesPerTrigger: Int = 0,
                            filters:
                              Array[org.apache.spark.sql.sources.Filter] =
                              Array.empty,
                            mode: String = "append")
    extends MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {

  private val changelog = mode == "changelog"
  /** Delete-state map accumulated by changelog planning, consumed by
    * [[createReaderFactory]] — Spark plans partitions before creating
    * the factory for the batch, both on the driver. */
  private val eqStates = mutable.HashMap.empty[Long, Map[String, Long]]
  private var eqKeyFields: Seq[(String, DataType)] = Nil

  private def headId: Long = {
    val meta = IcebergMetadata.currentMetadata(tableDir) match {
      // a created-but-never-written table: the stream idles politely
      // at the before-all offset until the first commit lands
      case None => return IcebergMetadata.BeforeAllSnapshots
      case Some((_, m)) => m
    }
    ref match {
      case None => meta.get("current-snapshot-id").asLong
      case Some(r) =>
        // branch-scoped stream (the WAP auditor tails the audit
        // branch); a dropped ref refuses — never a silent main switch
        Option(meta.path("refs").get(r))
          .map(_.get("snapshot-id").asLong).getOrElse(
            throw new IllegalArgumentException(
              s"ref '$r' does not exist at $tableDir"))
    }
  }

  /** Trigger.AvailableNow contract: the end offset is pinned ONCE at
    * stream start — commits landing mid-run wait for the next
    * invocation, so a run-to-done query terminates even against a
    * live table. */
  private var availableNowEnd: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowEnd = Some(headId)

  override def getDefaultReadLimit
      : org.apache.spark.sql.connector.read.streaming.ReadLimit =
    org.apache.spark.sql.connector.read.streaming.ReadLimit.allAvailable()

  override def latestOffset(start: Offset,
      limit: org.apache.spark.sql.connector.read.streaming.ReadLimit)
      : Offset = {
    val target = availableNowEnd.getOrElse(headId)
    val s = start.asInstanceOf[SnapshotOffset].snapshotId
    SnapshotOffset(
      if (changelog || maxFilesPerTrigger <= 0 || s == target) target
      else IcebergMetadata.boundedAppendHead(tableDir, s, target,
        maxFilesPerTrigger))
  }

  override def reportLatestOffset(): Offset = SnapshotOffset(headId)

  override def initialOffset(): Offset = startSnapshot match {
    case "earliest" =>
      SnapshotOffset(IcebergMetadata.BeforeAllSnapshots)
    case "latest" => SnapshotOffset(headId)
    case ts if ts.startsWith("timestamp:") =>
      // Iceberg's stream-from-timestamp: deliver every main-lineage
      // snapshot committed AT or AFTER the instant — the offset is
      // the last snapshot strictly before it
      SnapshotOffset(IcebergMetadata.snapshotBefore(tableDir,
        ts.stripPrefix("timestamp:").toLong))
    case id => SnapshotOffset(id.toLong)
  }

  override def latestOffset(): Offset = SnapshotOffset(headId)

  override def deserializeOffset(json: String): Offset =
    SnapshotOffset.parse(json)

  override def planInputPartitions(start: Offset,
                                   end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[SnapshotOffset].snapshotId
    val e = end.asInstanceOf[SnapshotOffset].snapshotId
    if (s == e) return Array.empty
    if (changelog) return planChangelog(s, e)
    // pinned at `e` (the offset this batch committed to): a commit
    // racing the poll lands in the NEXT batch, never splits this one.
    // Both branches plan from the manifests' stats rows, so every
    // partition carries the file's size from `file_size_in_bytes` —
    // the reader never stats a file (the planner contract).
    if (filters.isEmpty)
      IcebergMetadata.appendedStatsSince(tableDir, s,
          failOnOverwrite = !skipOverwrites, toSnapshotId = Some(e))
        .map(st => IcebergFilePartition(st.path, seq = st.seq,
          sizeBytes = st.sizeBytes): InputPartition).toArray
    else {
      // pushed filters prune whole FILES from the manifests' column
      // bounds before any partition is planned — the filtered tail of
      // a huge table opens only overlapping files
      val fidByName: Map[String, Int] =
        IcebergMetadata.currentFieldIds(tableDir)
      IcebergMetadata.appendedStatsSince(tableDir, s,
          failOnOverwrite = !skipOverwrites, toSnapshotId = Some(e))
        .filter { st =>
          def bounds(c: String): Option[(Long, Long)] =
            fidByName.get(c).flatMap { fid =>
              (st.stats.lower.get(fid), st.stats.upper.get(fid)) match {
                case (Some(l), Some(u)) => Some(
                  (IcebergMetadata.boundLong(l),
                    IcebergMetadata.boundLong(u)))
                case _ => None
              }
            }
          filters.forall(f => StatsPrune.mightMatch(f, bounds))
        }
        .map(st => IcebergFilePartition(st.path, seq = st.seq,
          sizeBytes = st.sizeBytes): InputPartition).toArray
    }
  }

  /** CHANGELOG planning for `(from, to]` — one pass per commit (the
    * same per-commit shape as [[IcebergMetadata.changelogScan]]'s
    * ordinals), all of it metadata + the tiny delete side; data rows
    * never touch the driver:
    *
    *  - `append`: the commit's added data files → `insert` partitions
    *    (O(new manifests) planning via the added_snapshot_id filter);
    *  - `replace` (compaction / delete consolidation): no logical
    *    change → nothing;
    *  - overwrite/delete commits: added data files → `insert`
    *    partitions under the commit's own delete state (so an upsert
    *    segment's intra-batch positional deletes apply); removed data
    *    files → `delete` partitions emitting rows that were ALIVE
    *    under the pre-commit state (rows an earlier delete already
    *    killed were never in the replica and must not be "deleted"
    *    again); surviving data files whose delete state changed →
    *    `delete` partitions emitting exactly the rows alive BEFORE and
    *    dead AFTER (the rows this commit's new equality/positional
    *    delete files killed).
    *
    * A replayer folds each batch as `(state EXCEPT ALL deletes) UNION
    * ALL inserts`; the fold over all batches equals the table's state
    * at `to`. Carryover pairs (a row rewritten verbatim by an
    * overwrite emits delete+insert) are allowed, as in Iceberg's own
    * changelog scan — netting them needs a shuffle, which a file-
    * partition source must not pay. */
  private def planChangelog(from: Long, to: Long): Array[InputPartition] = {
    // per-batch state: each batch's factory snapshots eqStates.toMap,
    // so clearing here never disturbs an in-flight batch and a
    // long-lived stream never accumulates dead delete maps
    eqStates.clear()
    val lineage = IcebergMetadata.mainLineageOps(tableDir, Some(to))
    val fromIdx =
      if (from == IcebergMetadata.BeforeAllSnapshots) -1
      else lineage.indexWhere(_._1 == from)
    if (from != IcebergMetadata.BeforeAllSnapshots && fromIdx < 0)
      throw new IllegalArgumentException(
        s"snapshot $from not on the current main lineage (expired or " +
          "rolled back over?) — resync the changelog stream from a " +
          "fresh checkpoint")
    val window = lineage.drop(fromIdx + 1)
    val conf = SparkSession.active.sparkContext.hadoopConfiguration
    val cache: MorPlan.Cache = mutable.HashMap.empty
    val parts = mutable.ArrayBuffer.empty[InputPartition]
    var prevId: Option[Long] = if (fromIdx >= 0) Some(lineage(fromIdx)._1)
                               else None

    // (posState, eqNonEmpty) per snapshot, registering the eq map
    // under the snapshot id for the reader factory; memoized — two
    // consecutive overwrites share the middle state
    val stateMemo =
      mutable.HashMap.empty[Long, (Map[String, Array[Long]], Boolean)]
    def stateOf(id: Long): (Map[String, Array[Long]], Boolean) =
      stateMemo.getOrElseUpdate(id, {
        val st = IcebergMetadata.dataFileStats(tableDir, Some(id))
        // FULL schema, not the consumer's pruned projection — the
        // equality-key column may be pruned out of the output
        val eq = MorPlan.eqStateOf(st, tableDir,
          IcebergMetadata.currentSparkSchema(tableDir), conf, cache)
        if (eq.byKey.nonEmpty) {
          eqStates(id) = eq.byKey
          eqKeyFields = eq.keyFields.map(f => (f.name, f.dataType))
        }
        (MorPlan.posStateOf(st, conf, cache), eq.byKey.nonEmpty)
      })

    for (((cid, op), i) <- window.zipWithIndex; ord = i + 1) op match {
      case "replace" => prevId = Some(cid)
      case "append" =>
        IcebergMetadata.appendedStatsSince(tableDir,
            prevId.getOrElse(IcebergMetadata.BeforeAllSnapshots),
            failOnOverwrite = false, toSnapshotId = Some(cid))
          .foreach { st =>
            parts += IcebergFilePartition(st.path, seq = st.seq,
              sizeBytes = st.sizeBytes, changeType = "insert",
              changeOrdinal = ord)
          }
        prevId = Some(cid)
      case _ => // overwrite / delete: file-level diff + delete-state diff
        val prevStats = prevId.map(p =>
          IcebergMetadata.dataFileStats(tableDir, Some(p))).getOrElse(Nil)
        val curStats = IcebergMetadata.dataFileStats(tableDir, Some(cid))
        val prevData = prevStats.filter(_.content == 0)
          .map(e => MorPlan.norm(e.path) -> e).toMap
        val curData = curStats.filter(_.content == 0)
          .map(e => MorPlan.norm(e.path) -> e).toMap
        val (posCur, eqCur) = stateOf(cid)
        val (posPrev, eqPrev) = prevId.map(stateOf)
          .getOrElse((Map.empty[String, Array[Long]], false))
        val curStateId = if (eqCur) cid else -1L
        val prevStateId = prevId.filter(_ => eqPrev).getOrElse(-1L)
        // added data files: rows alive under the commit's OWN state
        (curData -- prevData.keys).values.foreach { e =>
          parts += IcebergFilePartition(e.path, seq = e.seq,
            sizeBytes = e.sizeBytes,
            deadPos = posCur.getOrElse(MorPlan.norm(e.path), Array.empty),
            eqState = curStateId, changeType = "insert",
            changeOrdinal = ord)
        }
        // removed data files: rows that were alive BEFORE are deletes
        (prevData -- curData.keys).values.foreach { e =>
          parts += IcebergFilePartition(e.path, seq = e.seq,
            sizeBytes = e.sizeBytes,
            deadPos = posPrev.getOrElse(MorPlan.norm(e.path), Array.empty),
            eqState = prevStateId, changeType = "delete",
            changeOrdinal = ord)
        }
        // surviving files whose delete state changed: emit exactly the
        // rows this commit's new delete files killed
        val newEqSeqMax = {
          val prevEq = prevStats.filter(_.content == 2).map(_.path).toSet
          val fresh = curStats.filter(e =>
            e.content == 2 && !prevEq.contains(e.path))
          if (fresh.isEmpty) Long.MinValue else fresh.map(_.seq).max
        }
        curData.keys.filter(prevData.contains).foreach { k =>
          val e = curData(k)
          val before = posPrev.getOrElse(k, Array.empty[Long])
          val after = posCur.getOrElse(k, Array.empty[Long])
          val posGrew = after.length > before.length
          val eqHits = eqCur && e.seq < newEqSeqMax
          if (posGrew || eqHits)
            parts += IcebergFilePartition(e.path, seq = e.seq,
              sizeBytes = e.sizeBytes,
              deadPos = after, eqState = curStateId,
              beforeDeadPos = before, beforeEqState = prevStateId,
              emitKilled = true, changeType = "delete",
              changeOrdinal = ord)
        }
        prevId = Some(cid)
    }
    parts.toArray
  }

  override def commit(end: Offset): Unit = ()

  override def createReaderFactory(): PartitionReaderFactory =
    new IcebergFileReaderFactory(tableSchema, IcebergTableSource.fsConf(),
      mor =
        if (eqStates.isEmpty) None
        else Some(SparkSession.active.sparkContext.broadcast(
          MorSpec(eqKeyFields, eqStates.toMap))))

  override def stop(): Unit = ()
}

/** One data file → one partition. Beyond the path, the fields carry
  * the file's MoR/changelog read spec (all defaults = a plain full
  * read):
  *  - `seq`: the file's Iceberg data sequence number (equality deletes
  *    apply only to strictly older sequences);
  *  - `deadPos`: sorted row positions dead under the EMIT state
  *    (positional deletes naming this file);
  *  - `eqState`: key into [[MorSpec.eqStates]] for the emit state's
  *    equality-delete map (-1 = none);
  *  - `emitKilled` + `beforeDeadPos`/`beforeEqState`: changelog
  *    delete-emission — emit rows alive under the BEFORE state and
  *    dead under the after state, instead of rows alive after;
  *  - `changeType`/`changeOrdinal`: non-null in changelog mode — the
  *    literals filled into the output's `change_type` /
  *    `change_ordinal` columns (never read from parquet). */
case class IcebergFilePartition(path: String,
                                seq: Long = 0L,
                                sizeBytes: Long = -1L,
                                deadPos: Array[Long] = Array.empty,
                                beforeDeadPos: Array[Long] = Array.empty,
                                eqState: Long = -1L,
                                beforeEqState: Long = -1L,
                                emitKilled: Boolean = false,
                                changeType: String = null,
                                changeOrdinal: Int = 0)
    extends InputPartition

/** The broadcast-sized MoR delete state shipped once per executor in
  * the reader factory (DSv2 serializes the factory into the task
  * binary, which Spark broadcasts): equality-key → max delete
  * sequence, per state id. The delete side is tiny next to the data it
  * guards; [[MorPlan]] refuses past a row cap rather than ship an
  * unbounded map. */
case class MorSpec(keyFields: Seq[(String, DataType)],
                   eqStates: Map[Long, Map[String, Long]])

/** Driver-side MoR planning: read the (small) delete files once,
  * canonicalize equality keys, build the per-file position sets. */
private[graft] object MorPlan {
  import graft.sinks.IcebergMetadata.DataFileStat

  /** (column names, rows) of one delete parquet file. */
  type DeleteRows = (Seq[String], Seq[Array[Any]])
  type Cache = mutable.Map[String, DeleteRows]

  /** Ship-to-executor cap: past this many delete rows the scan refuses
    * loudly rather than serialize an unbounded map into every task
    * binary ([[IcebergMetadata.readMoR]] reads such a state through its
    * join algebra). */
  val MaxDeleteRows = 5000000

  /** Where a state this scan refuses is read instead. */
  private val Refused =
    " — IcebergMetadata.readMoR serves such a table through its join algebra"

  def norm(p: String): String =
    p.replaceFirst(IcebergMetadata.SchemeRe, "/")

  /** Columnar (vectorized) reads need flat schemas; nested columns
    * fall back to the row reader. */
  def atomicOnly(st: StructType): Boolean = st.fields.forall(_.dataType match {
    case _: StructType | _: ArrayType | _: MapType => false
    case _ => true
  })

  /** canon(null) — the single form the driver-side map build and the
    * executor-side single-string-key fast path must agree on (the
    * U+0002 prefix keeps it disjoint from every "s:"/"l:"/"b:" value
    * form, so a string key whose VALUE is "null" can never collide). */
  val canonNull = "\u0002null"

  /** Canonical string form of an equality-key value, identical for
    * the driver-side (parquet Group) and executor-side (Catalyst)
    * decodings and stable across integral widening. */
  def canon(v: Any): String = v match {
    case null => canonNull
    case s: UTF8String => "s:" + s.toString
    case s: String => "s:" + s
    case i: Int => "l:" + i
    case l: Long => "l:" + l
    case s: Short => "l:" + s
    case b: Byte => "l:" + b
    case b: Boolean => "b:" + b
    case other => throw new UnsupportedOperationException(
      "equality-delete key type not supported for DSv2 MoR reads: " +
        other.getClass.getName + Refused)
  }

  /** The key types [[canon]] encodes. */
  def canonKeyType(dt: DataType): Boolean = dt match {
    case StringType | LongType | IntegerType | ShortType | ByteType |
         BooleanType => true
    case _ => false
  }

  /** Read one delete parquet file entirely on the DRIVER — delete
    * files are tiny next to the data they guard. Delete
    * files are engine-written and flat: string/integral key columns
    * (equality) or (file_path, pos) coordinates (positional).
    *
    * Decode is VECTORIZED (Spark's parquet reader in row mode — the
    * Group API was the planning bottleneck at 100k+ delete rows), and
    * results cache globally by path: delete files are IMMUTABLE once
    * committed (the Iceberg contract), so repeated plans over the
    * same snapshot pay the read once per driver. */
  def readDeleteFile(path: String, conf: Configuration): DeleteRows =
    MorShared.deleteRows(path) {
      val hPath = new Path(path)
      val fileSchema = {
        val r = ParquetFileReader.open(
          HadoopInputFile.fromPath(hPath, conf))
        try r.getFooter.getFileMetaData.getSchema finally r.close()
      }
      import scala.jdk.CollectionConverters._
      val fields = fileSchema.getFields.asScala.toSeq
      val names = fields.map(_.getName)
      val sparkFields = fields.map { f =>
        val pt = f.asPrimitiveType()
        val dt: DataType = pt.getPrimitiveTypeName match {
          case BINARY | FIXED_LEN_BYTE_ARRAY
            if pt.getLogicalTypeAnnotation.isInstanceOf[
              LogicalTypeAnnotation.StringLogicalTypeAnnotation] =>
            StringType
          case INT32 => IntegerType
          case INT64 => LongType
          case BOOLEAN => BooleanType
          case other => throw new UnsupportedOperationException(
            s"delete-file column ${f.getName}: $other")
        }
        StructField(f.getName, dt)
      }
      val st = StructType(sparkFields)
      val src = new VectorizedRowSource(
        IcebergFilePartition(path), st, conf)
      val rows = mutable.ArrayBuffer.empty[Array[Any]]
      try {
        while (src.advance()) {
          val row = src.row
          val arr = new Array[Any](sparkFields.length)
          var i = 0
          while (i < sparkFields.length) {
            arr(i) =
              if (row.isNullAt(i)) null
              else sparkFields(i).dataType match {
                case StringType => row.getUTF8String(i).toString
                // canon treats int and long alike; widen at read like
                // the old extractor did
                case IntegerType => row.getInt(i).toLong
                case LongType => row.getLong(i)
                case BooleanType => row.getBoolean(i)
                case other => throw new IllegalStateException(
                  other.toString)
              }
            i += 1
          }
          rows += arr
        }
      } finally src.close()
      (names, rows.toSeq)
    }

  case class EqState(keyFields: Seq[StructField],
                     byKey: Map[String, Long])

  /** Equality-delete state of a snapshot: canonical key → max delete
    * sequence (a data row of sequence s is killed iff maxSeq > s). */
  def eqStateOf(stats: Seq[DataFileStat], tableDir: String,
                tableSchema: StructType, conf: Configuration,
                cache: Cache): EqState = {
    val eqFiles = stats.filter(_.content == 2)
    if (eqFiles.isEmpty) return EqState(Nil, Map.empty)
    val idSets = eqFiles.map(_.equalityIds).distinct
    require(idSets.size == 1,
      s"mixed equality-delete key sets at $tableDir: $idSets" + Refused)
    val byId = IcebergMetadata.currentFieldIds(tableDir).map(_.swap)
    val keyNames = idSets.head.map(id => byId.getOrElse(id,
      throw new IllegalStateException(
        s"equality field id $id not in the current schema at $tableDir")))
    val keyFields = keyNames.map(n =>
      tableSchema.fields(tableSchema.fieldIndex(n)))
    val byKey = mutable.HashMap.empty[String, Long]
    eqFiles.foreach { f =>
      val (cols, rows) =
        cache.getOrElseUpdate(f.path, readDeleteFile(f.path, conf))
      val idx = keyNames.map(cols.indexOf(_)).toArray
      require(idx.forall(_ >= 0),
        s"equality-delete file ${f.path} lacks key columns $keyNames")
      require(byKey.size + rows.size <= MaxDeleteRows,
        s"over $MaxDeleteRows live equality-delete rows at $tableDir " +
          "(maintain compaction folds them)" + Refused)
      rows.foreach { r =>
        val k = idx.map(i => canon(r(i))).mkString("\u0000")
        val cur = byKey.getOrElse(k, Long.MinValue)
        if (f.seq > cur) byKey(k) = f.seq
      }
    }
    EqState(keyFields, byKey.toMap)
  }

  /** Positional-delete state: normalized data-file path → sorted dead
    * row positions. */
  def posStateOf(stats: Seq[DataFileStat], conf: Configuration,
                 cache: Cache): Map[String, Array[Long]] = {
    val posFiles = stats.filter(_.content == 1)
    if (posFiles.isEmpty) return Map.empty
    val m = mutable.HashMap.empty[String, mutable.ArrayBuffer[Long]]
    var total = 0L
    posFiles.foreach { f =>
      val (cols, rows) =
        cache.getOrElseUpdate(f.path, readDeleteFile(f.path, conf))
      val fp = cols.indexOf("file_path")
      val pp = cols.indexOf("pos")
      require(fp >= 0 && pp >= 0,
        s"positional-delete file ${f.path} lacks (file_path, pos)")
      total += rows.size
      require(total <= MaxDeleteRows,
        s"over $MaxDeleteRows live positional-delete rows " +
          "(maintain compaction folds them)" + Refused)
      rows.foreach { r =>
        m.getOrElseUpdate(norm(r(fp).asInstanceOf[String]),
          mutable.ArrayBuffer.empty[Long]) += r(pp).asInstanceOf[Long]
      }
    }
    m.map { case (k, v) => k -> v.toArray.sorted }.toMap
  }
}

/** Executor-side reader factory.
  *
  * CLEAN batch scans of flat schemas read COLUMNAR through Spark's
  * vectorized parquet reader (`supportColumnarReads` — the whole scan
  * answers uniformly, as Spark requires): batches of 4096 rows decode
  * straight into column vectors and flow into whole-stage codegen
  * without per-row materialization, the same engine
  * `spark.read.parquet` uses. MoR/changelog partitions need per-row
  * (position, key-sequence) filtering and read row-at-a-time via the
  * public parquet Group API — commit-sized streaming batches, where
  * the file-per-partition fan-out carries the scale.
  *
  * Column pruning reaches the parquet read in BOTH paths (vectorized:
  * the requested-schema conf; row: `parquet.read.schema`): a
  * pruned-away column of a wide table costs zero IO. Equality-key
  * columns are force-read when a partition's filter needs them, then
  * projected out of the emitted row. */
class IcebergFileReaderFactory(schema: StructType,
                               fsConf: Map[String, String],
                               mor: Option[org.apache.spark.broadcast
                                 .Broadcast[MorSpec]] = None,
                               columnar: Boolean = false)
    extends PartitionReaderFactory {

  // executor-side view of the broadcast delete state: the broadcast
  // VALUE deserializes once per executor (BlockManager-cached); the
  // id keys [[MorShared]]'s built-probe cache so tasks also share the
  // UTF8String hash maps
  @transient private lazy val morSpec: Option[MorSpec] =
    mor.map(_.value)
  private def morBcastId: Long = mor.map(_.id).getOrElse(-1L)

  private def hadoopConf(): Configuration = {
    val c = new Configuration()
    fsConf.foreach { case (k, v) => c.set(k, v) }
    c
  }

  override def supportColumnarReads(p: InputPartition): Boolean = columnar

  override def createColumnarReader(p: InputPartition)
      : PartitionReader[ColumnarBatch] = {
    import org.apache.spark.sql.execution.datasources.parquet.{ParquetReadSupport, VectorizedParquetRecordReader}
    val part = p.asInstanceOf[IcebergFilePartition]
    val conf = hadoopConf()
    // delete-bearing partitions stay COLUMNAR through the row-id
    // mapped reader (Iceberg's vectorized-MoR shape): same page
    // decode, the delete filter becomes an index mapping
    if (part.deadPos.nonEmpty || part.eqState >= 0)
      return new MorColumnarReader(part, schema, morSpec, morBcastId,
        conf)
    conf.set(org.apache.parquet.hadoop.ParquetInputFormat.READ_SUPPORT_CLASS,
      classOf[ParquetReadSupport].getName)
    conf.set(ParquetReadSupport.SPARK_ROW_REQUESTED_SCHEMA, schema.json)
    conf.setBoolean("spark.sql.parquet.binaryAsString", false)
    conf.setBoolean("spark.sql.parquet.int96AsTimestamp", true)
    conf.setBoolean("spark.sql.caseSensitive", false)
    conf.setBoolean("spark.sql.parquet.inferTimestampNTZ.enabled", true)
    conf.setBoolean("spark.sql.legacy.parquet.nanosAsLong", false)
    val path = new Path(part.path)
    // file length from the MANIFEST's own size record — no stat call
    val length =
      if (part.sizeBytes >= 0) part.sizeBytes
      else HadoopInputFile.fromPath(path, conf).getLength
    // mapred.FileSplit (which extends the mapreduce one): Spark's
    // reader base casts to the old-API class internally
    val split = new org.apache.hadoop.mapred.FileSplit(
      path, 0, length, Array.empty[String])
    val ctx = new org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl(
      conf, new org.apache.hadoop.mapreduce.TaskAttemptID())
    val reader = new VectorizedParquetRecordReader(
      null, "CORRECTED", "UTC", "CORRECTED", "UTC",
      /* useOffHeap = */ false, /* capacity = */ 4096)
    var ok = false
    try {
      reader.initialize(split, ctx)
      reader.initBatch(new StructType(), InternalRow.empty)
      reader.enableReturningBatches()
      ok = true
    } finally if (!ok) reader.close()
    new PartitionReader[ColumnarBatch] {
      override def next(): Boolean = reader.nextKeyValue()
      override def get(): ColumnarBatch =
        reader.getCurrentValue.asInstanceOf[ColumnarBatch]
      override def close(): Unit = reader.close()
    }
  }

  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val part = p.asInstanceOf[IcebergFilePartition]
    val conf = hadoopConf()
    // `change_type`/`change_ordinal` are VIRTUAL in changelog mode:
    // filled from the partition's tags, never read from parquet.
    // `_file`/`_pos` (the Iceberg row-coordinate metadata columns the
    // row-level DELETE/UPDATE/MERGE writes address) are virtual too:
    // the file path is the partition's own, the position the reader's
    // running row index — exactly the coordinates positional deletes
    // name.
    val virtuals: Map[String, Any] = {
      val base: Map[String, Any] =
        if (part.changeType == null) Map.empty
        else Map(
          "change_type" -> UTF8String.fromString(part.changeType),
          "change_ordinal" -> part.changeOrdinal)
      base + ("_file" -> UTF8String.fromString(part.path))
    }
    val virtIdx: Set[Int] = schema.fieldNames.zipWithIndex
      .collect { case (n, i)
        if virtuals.contains(n) || n == "_pos" => i }.toSet
    val parquetOut: Array[StructField] = schema.fields
      .zipWithIndex
      .collect { case (f, i) if !virtIdx.contains(i) => f }
    // equality keys are read even when pruned out of the output
    val needEq = part.eqState >= 0 || part.beforeEqState >= 0
    val keyExtra: Seq[StructField] =
      if (!needEq) Nil
      else morSpec.get.keyFields
        .filterNot(k => parquetOut.exists(_.name == k._1))
        .map { case (n, dt) => StructField(n, dt) }
    val extSchema = StructType(parquetOut ++ keyExtra)
    // the row SOURCE: flat read schemas (the engine's CDC tables)
    // decode through Spark's VECTORIZED parquet reader in row mode —
    // columnar decode speed with per-row access for the delete
    // filter; nested columns fall back to the public Group API
    val source: RowSource =
      if (MorPlan.atomicOnly(extSchema))
        new VectorizedRowSource(part, extSchema, conf)
      else new GroupRowSource(part.path, extSchema, conf)

    new PartitionReader[InternalRow] {
      private val extTypes: Array[DataType] = extSchema.fields.map(_.dataType)
      private def valAt(row: InternalRow, i: Int): Any =
        if (row.isNullAt(i)) null else row.get(i, extTypes(i))
      private val keyIdx: Array[Int] =
        if (!needEq) Array.empty
        else morSpec.get.keyFields
          .map(k => extSchema.fieldNames.indexOf(k._1)).toArray
      // per-row equality lookup, prepared ONCE per task: the engine's
      // standard key (one string column, _olake_id) probes a
      // UTF8String-keyed hash map with the row's own UTF8String —
      // zero per-row conversions or canon allocations; composite /
      // non-string keys take the generic canon path
      private val singleStrKey =
        keyIdx.length == 1 && extTypes(keyIdx(0)) == StringType
      private def mkLookup(stateId: Long): InternalRow => Long =
        if (stateId < 0 || keyIdx.length == 0) null
        else if (singleStrKey) {
          // built once per (broadcast, state) and shared across the
          // executor's tasks via [[MorShared]]
          val (m, ns) = MorShared.strKeyMap(morBcastId, stateId,
            morSpec.get.eqStates(stateId))
          val ki = keyIdx(0)
          row => {
            if (row.isNullAt(ki)) ns
            else {
              val v = m.get(row.getUTF8String(ki))
              if (v == null) Long.MinValue else v.longValue
            }
          }
        } else {
          val eq = morSpec.get.eqStates(stateId)
          row => eq.getOrElse(keyOf(row), Long.MinValue)
        }
      // output projection: extSchema index per output field, -1 for
      // virtual columns; identity when nothing was appended
      private val outMap: Array[Int] =
        if (virtIdx.isEmpty && keyExtra.isEmpty) null
        else schema.fields.zipWithIndex.map { case (f, i) =>
          if (virtIdx.contains(i)) -1
          else extSchema.fieldNames.indexOf(f.name)
        }
      private val virtByOut: Array[Any] =
        schema.fields.map(f => virtuals.getOrElse(f.name, null))
      // `_pos` is dynamic (the running row index), not a constant
      private val posOut: Array[Boolean] =
        schema.fields.map(_.name == "_pos")
      private val filtering = part.deadPos.nonEmpty ||
        part.emitKilled || part.eqState >= 0 || part.beforeEqState >= 0
      private var pos: Long = -1L
      private var current: InternalRow = _

      private def keyOf(row: InternalRow): String = {
        if (keyIdx.length == 1) MorPlan.canon(valAt(row, keyIdx(0)))
        else {
          val sb = new java.lang.StringBuilder
          var i = 0
          while (i < keyIdx.length) {
            if (i > 0) sb.append('\u0000')
            sb.append(MorPlan.canon(valAt(row, keyIdx(i))))
            i += 1
          }
          sb.toString
        }
      }

      private lazy val afterLookup: InternalRow => Long =
        mkLookup(part.eqState)
      private lazy val beforeLookup: InternalRow => Long =
        mkLookup(part.beforeEqState)

      private def alive(deadPos: Array[Long],
                        lookup: InternalRow => Long,
                        row: InternalRow): Boolean =
        (deadPos.length == 0 ||
          java.util.Arrays.binarySearch(deadPos, pos) < 0) &&
        (lookup == null || lookup(row) <= part.seq)

      private def projectOut(row: InternalRow): InternalRow =
        if (outMap == null) row
        else {
          val vals = new Array[Any](outMap.length)
          var i = 0
          while (i < outMap.length) {
            vals(i) =
              if (outMap(i) >= 0) valAt(row, outMap(i))
              else if (posOut(i)) pos
              else virtByOut(i)
            i += 1
          }
          new GenericInternalRow(vals)
        }

      override def next(): Boolean = {
        while (source.advance()) {
          pos += 1
          val row = source.row
          if (!filtering) { current = projectOut(row); return true }
          val aliveAfter = alive(part.deadPos, afterLookup, row)
          val emit =
            if (!part.emitKilled) aliveAfter
            else !aliveAfter && alive(part.beforeDeadPos, beforeLookup, row)
          if (emit) { current = projectOut(row); return true }
        }
        false
      }
      override def get(): InternalRow = current
      override def close(): Unit = source.close()
    }
  }
}

/** One data file as a sequence of InternalRows of a requested (ext)
  * schema, in FILE ORDER — row index == parquet `row_index`, which is
  * what positional deletes address. */
private[replication] trait RowSource {
  /** Move to the next row; the row is valid until the next advance. */
  def advance(): Boolean
  def row: InternalRow
  def close(): Unit
}

/** Vectorized decode, row-at-a-time surface: Spark's
  * VectorizedParquetRecordReader WITHOUT `enableReturningBatches` —
  * columnar page decode (the expensive part), `ColumnarBatchRow`
  * iteration on top. Handles missing columns (schema evolution →
  * null vectors) and integral widening via the requested-schema
  * machinery, same as Spark's own scans. */
private[replication] class VectorizedRowSource(part: IcebergFilePartition,
                                               extSchema: StructType,
                                               conf: Configuration)
    extends RowSource {
  import org.apache.spark.sql.execution.datasources.parquet.{ParquetReadSupport, VectorizedParquetRecordReader}
  conf.set(org.apache.parquet.hadoop.ParquetInputFormat.READ_SUPPORT_CLASS,
    classOf[ParquetReadSupport].getName)
  conf.set(ParquetReadSupport.SPARK_ROW_REQUESTED_SCHEMA, extSchema.json)
  conf.setBoolean("spark.sql.parquet.binaryAsString", false)
  conf.setBoolean("spark.sql.parquet.int96AsTimestamp", true)
  conf.setBoolean("spark.sql.caseSensitive", false)
  conf.setBoolean("spark.sql.parquet.inferTimestampNTZ.enabled", true)
  conf.setBoolean("spark.sql.legacy.parquet.nanosAsLong", false)
  private val path = new Path(part.path)
  private val length =
    if (part.sizeBytes >= 0) part.sizeBytes
    else HadoopInputFile.fromPath(path, conf).getLength
  private val reader = new VectorizedParquetRecordReader(
    null, "CORRECTED", "UTC", "CORRECTED", "UTC", false, 4096)
  locally {
    var ok = false
    try {
      reader.initialize(
        new org.apache.hadoop.mapred.FileSplit(
          path, 0, length, Array.empty[String]),
        new org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl(
          conf, new org.apache.hadoop.mapreduce.TaskAttemptID()))
      reader.initBatch(new StructType(), InternalRow.empty)
      ok = true
    } finally if (!ok) reader.close()
  }
  private var cur: InternalRow = _
  override def advance(): Boolean = {
    val has = reader.nextKeyValue()
    if (has) cur = reader.getCurrentValue.asInstanceOf[InternalRow]
    has
  }
  override def row: InternalRow = cur
  override def close(): Unit = reader.close()
}

/** Group-API fallback for NESTED read schemas (arrays/maps/structs):
  * row-at-a-time via parquet-hadoop's public example API, converted
  * once per row by [[GroupRows]]. Projection is pushed into the
  * parquet read itself; an EMPTY projection (count-style plans) still
  * needs row COUNTS, so the narrowest single column is read and rows
  * convert to empty tuples. */
private[replication] class GroupRowSource(filePath: String,
                                          extSchema: StructType,
                                          conf: Configuration)
    extends RowSource {
  private val hPath = new Path(filePath)
  private val fileSchema = {
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(hPath, conf))
    try r.getFooter.getFileMetaData.getSchema finally r.close()
  }
  private val projected = {
    import scala.jdk.CollectionConverters._
    val wanted = extSchema.fieldNames.toSet
    val keep = fileSchema.getFields.asScala
      .filter(f => wanted.contains(f.getName))
    val fields =
      if (keep.nonEmpty) keep
      else fileSchema.getFields.asScala.take(1)
    new org.apache.parquet.schema.MessageType(
      fileSchema.getName, fields.asJava)
  }
  private val convert: Group => InternalRow =
    if (extSchema.fields.isEmpty) { _ =>
      new GenericInternalRow(Array.empty[Any])
    } else GroupRows.structConverter(extSchema, projected)
  private val reader: ParquetReader[Group] = {
    if (projected.getFieldCount < fileSchema.getFieldCount)
      conf.set(org.apache.parquet.hadoop.api.ReadSupport
        .PARQUET_READ_SCHEMA, projected.toString)
    ParquetReader.builder(new GroupReadSupport(), hPath)
      .withConf(conf).build()
  }
  private var cur: InternalRow = _
  override def advance(): Boolean = {
    val g = reader.read()
    if (g == null) false
    else { cur = convert(g); true }
  }
  override def row: InternalRow = cur
  override def close(): Unit = reader.close()
}


/** parquet Group → Catalyst InternalRow converters, built ONCE per
  * (Spark schema, file schema) pair — per row is just an array of
  * closure applications. Covers the types the engine writes (Spark's
  * parquet layout: 3-level lists, key_value maps, INT64 timestamps,
  * int/long/fixed decimals) and widens narrower physical types into
  * an evolved logical schema (int→long/double, float→double), the
  * same semantics as the batch readers' mergeSchema. */
object GroupRows {

  def structConverter(st: StructType,
                      gt: GroupType): Group => InternalRow = {
    val fields: Array[Group => Any] = st.fields.map { f =>
      if (!gt.containsField(f.name)) (_: Group) => null
      else {
        val idx = gt.getFieldIndex(f.name)
        val conv = valueConverter(f.dataType, gt.getType(idx), f.name)
        (g: Group) =>
          if (g.getFieldRepetitionCount(idx) == 0) null
          else conv(g, idx)
      }
    }
    g => {
      val vals = new Array[Any](fields.length)
      var i = 0
      while (i < fields.length) { vals(i) = fields(i)(g); i += 1 }
      new GenericInternalRow(vals)
    }
  }

  private type Conv = (Group, Int) => Any

  private def valueConverter(dt: DataType, ft: PType,
                             name: String): Conv = dt match {
    case s: StructType =>
      val conv = structConverter(s, ft.asGroupType())
      (g, i) => conv(g.getGroup(i, 0))
    case a: ArrayType =>
      // Spark's 3-level list: group (LIST) { repeated group list
      // { element } }
      val repG = ft.asGroupType().getType(0).asGroupType()
      val elemConv = valueConverter(a.elementType, repG.getType(0), name)
      (g, i) => {
        val lg = g.getGroup(i, 0)
        val n = lg.getFieldRepetitionCount(0)
        val arr = new Array[Any](n)
        var j = 0
        while (j < n) {
          val eg = lg.getGroup(0, j)
          arr(j) =
            if (eg.getFieldRepetitionCount(0) == 0) null
            else elemConv(eg, 0)
          j += 1
        }
        new GenericArrayData(arr)
      }
    case m: MapType =>
      // group (MAP) { repeated group key_value { key; value } }
      val kvG = ft.asGroupType().getType(0).asGroupType()
      val kConv = valueConverter(m.keyType, kvG.getType(0), name)
      val vConv = valueConverter(m.valueType, kvG.getType(1), name)
      (g, i) => {
        val mg = g.getGroup(i, 0)
        val n = mg.getFieldRepetitionCount(0)
        val ks = new Array[Any](n); val vs = new Array[Any](n)
        var j = 0
        while (j < n) {
          val kv = mg.getGroup(0, j)
          ks(j) = kConv(kv, 0)
          vs(j) =
            if (kv.getFieldRepetitionCount(1) == 0) null
            else vConv(kv, 1)
          j += 1
        }
        ArrayBasedMapData(ks, vs)
      }
    case _ => primitiveConverter(dt, ft.asPrimitiveType(), name)
  }

  private def primitiveConverter(dt: DataType, pt: PrimitiveType,
                                 name: String): Conv = {
    val phys = pt.getPrimitiveTypeName
    (dt, phys) match {
      case (BooleanType, BOOLEAN) => (g, i) => g.getBoolean(i, 0)
      case (IntegerType, INT32) => (g, i) => g.getInteger(i, 0)
      case (ShortType, INT32) => (g, i) => g.getInteger(i, 0).toShort
      case (ByteType, INT32) => (g, i) => g.getInteger(i, 0).toByte
      case (DateType, INT32) => (g, i) => g.getInteger(i, 0)
      case (LongType, INT64) => (g, i) => g.getLong(i, 0)
      case (LongType, INT32) => (g, i) => g.getInteger(i, 0).toLong
      case (FloatType, FLOAT) => (g, i) => g.getFloat(i, 0)
      case (DoubleType, DOUBLE) => (g, i) => g.getDouble(i, 0)
      case (DoubleType, FLOAT) => (g, i) => g.getFloat(i, 0).toDouble
      case (DoubleType, INT32) => (g, i) => g.getInteger(i, 0).toDouble
      case (DoubleType, INT64) => (g, i) => g.getLong(i, 0).toDouble
      case (StringType, BINARY) =>
        (g, i) => UTF8String.fromBytes(g.getBinary(i, 0).getBytes)
      case (BinaryType, BINARY | FIXED_LEN_BYTE_ARRAY) =>
        (g, i) => g.getBinary(i, 0).getBytes
      case (TimestampType | TimestampNTZType, INT64) =>
        val unit = pt.getLogicalTypeAnnotation match {
          case ts: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
            ts.getUnit
          case _ => LogicalTypeAnnotation.TimeUnit.MICROS
        }
        unit match {
          case LogicalTypeAnnotation.TimeUnit.MICROS =>
            (g, i) => g.getLong(i, 0)
          case LogicalTypeAnnotation.TimeUnit.MILLIS =>
            (g, i) => g.getLong(i, 0) * 1000L
          case LogicalTypeAnnotation.TimeUnit.NANOS =>
            (g, i) => g.getLong(i, 0) / 1000L
        }
      case (TimestampType | TimestampNTZType, INT96) =>
        // Spark's default parquet timestamp: 12 bytes — 8-byte LE
        // nanos-of-day + 4-byte LE Julian day (epoch day 2440588)
        (g, i) => {
          val buf = java.nio.ByteBuffer
            .wrap(g.getInt96(i, 0).getBytes)
            .order(java.nio.ByteOrder.LITTLE_ENDIAN)
          val nanos = buf.getLong
          val julianDay = buf.getInt
          (julianDay - 2440588L) * 86400000000L + nanos / 1000L
        }
      case (d: DecimalType, INT32) =>
        (g, i) => Decimal(g.getInteger(i, 0).toLong, d.precision, d.scale)
      case (d: DecimalType, INT64) =>
        (g, i) => Decimal(g.getLong(i, 0), d.precision, d.scale)
      case (d: DecimalType, BINARY | FIXED_LEN_BYTE_ARRAY) =>
        (g, i) => Decimal(new java.math.BigDecimal(
          new java.math.BigInteger(g.getBinary(i, 0).getBytes),
          d.scale), d.precision, d.scale)
      case other => throw new UnsupportedOperationException(
        s"graft-iceberg reader: column `$name` $other (file " +
          s"${pt.getLogicalTypeAnnotation})")
    }
  }
}
