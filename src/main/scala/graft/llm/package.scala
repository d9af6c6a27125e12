package graft

import org.apache.spark.sql.SparkSession

package object llm {

  /** The whole-number session conf `key`, or `default` when it is unset.
    * Any other value fails naming the key and the value, instead of a
    * bare NumberFormatException from deep inside an operator. */
  private[llm] def longConf(spark: SparkSession, key: String,
                            default: Long): Long =
    spark.conf.getOption(key).fold(default)(v =>
      v.trim.toLongOption.getOrElse(throw new IllegalArgumentException(
        s"$key must be a whole number, got '$v'")))
}
