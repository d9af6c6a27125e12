package org.apache.spark.sql.graft

import org.apache.spark.SparkException
import org.apache.spark.sql.errors.QueryExecutionErrors
import org.apache.spark.sql.types.StructType

/** Spark's own parquet schema merge, for footer schemas read on the
  * driver. `StructType.merge` and the error Spark raises when two
  * footers conflict are `private[sql]`; this forwarder re-exports both,
  * so a merged footer schema (and its failure) is exactly what
  * `spark.read.option("mergeSchema", "true").parquet(...)` infers. */
object SchemaMerge {
  def merge(left: StructType, right: StructType,
            caseSensitive: Boolean): StructType =
    try left.merge(right, caseSensitive) catch {
      case cause: SparkException =>
        throw QueryExecutionErrors.failedMergingSchemaError(left, right, cause)
    }
}
