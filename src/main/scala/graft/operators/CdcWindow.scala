package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** CDC op-type mapping + the insert-dedup window state machine.
  *
  * Reference (`drivers/abstract/cdc.go:117-179`):
  *  - every change carries a kind (`insert`/`update`/`delete`);
  *  - `delete → "d"`, `update → "u"`;
  *  - inserts depend on the per-stream `dedupInserts` flag: the FIRST CDC
  *    pass after a backfill overlaps the snapshot, so inserts emit `"i"`
  *    (equality-delete-then-insert kills overlap duplicates); once a pass
  *    commits, the flag flips to false (persisted in the Iceberg 2PC
  *    metadata, `types/metadata_state.go:13-15`) and steady-state inserts
  *    emit `"c"` (plain write, no delete lookup).
  *
  * The flag is driver-side per-stream state — a scalar, not data — so in
  * Spark it lives in the ingest state store and parameterizes the batch
  * expression; nothing here shuffles.
  */
object CdcWindow {

  /** `mapChangeKindToOperationType` (cdc.go:167-179) as a Column. */
  def opType(kind: Column, dedupInserts: Boolean): Column =
    when(kind === "delete", SystemColumns.OpDelete)
      .when(kind === "update", SystemColumns.OpUpdate)
      .otherwise(lit(if (dedupInserts) SystemColumns.OpInsertDedup
                     else SystemColumns.OpCreate))

  /** Scala-side mapping for planner/tests (byte-for-byte cdc.go parity). */
  def mapKind(kind: String, dedupInserts: Boolean): String = kind match {
    case "delete" => "d"
    case "update" => "u"
    case _        => if (dedupInserts) "i" else "c"
  }

  /** Per-stream dedup-window state. Starts open (`true`) for every stream
    * (cdc.go:131: `dedupInserts[stream.ID()] = true` unless the writer's
    * persisted metadata says otherwise); `commitPass` closes the window
    * after a CDC pass commits.
    */
  case class DedupState(open: Map[String, Boolean]) {
    def isOpen(stream: String): Boolean = open.getOrElse(stream, true)
    def commitPass(stream: String): DedupState =
      copy(open = open.updated(stream, false))
  }
  object DedupState {
    def initial: DedupState = DedupState(Map.empty)
    /** Restore from persisted writer metadata (the 2PC `dedup_inserts`
      * field): a stream present in the map keeps its committed flag. */
    def restore(persisted: Map[String, Boolean]): DedupState =
      DedupState(persisted)
  }
}
