package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Data SELECTION for training pipelines: score every raw document by
  * how much it resembles a small trusted target domain, so the mixture
  * step can up-weight domain-relevant data (the DSIR recipe — Xie et
  * al. 2023, "Data Selection for Language Models via Importance
  * Resampling": importance weights from hashed n-gram bag-of-words
  * models of target vs raw).
  *
  * Everything is integer arithmetic over md5-prefix hash buckets, so
  * the scores are byte-identical on any engine, partition layout, or
  * cluster size — a selection decision that cannot be replayed exactly
  * is a lineage hole at 100 TB.
  */
object Selection {

  /** Hashed-unigram bucket: first two md5 hex chars → 256 buckets.
    * Collisions are the POINT of hashed n-gram features (they bound the
    * model size at any vocabulary), and every engine agrees on md5. */
  def bucket(tok: Column): Column = substring(md5(tok), 1, 2)

  /** DSIR-style importance score per raw document.
    *
    * Both corpora are reduced to 256-bucket hashed-unigram histograms;
    * a bucket's weight is the scaled integer probability ratio
    * `(targetCount · rawTotal · scale) div (rawCount · targetTotal)`
    * — >scale where the target over-represents the bucket — and a
    * document's score is the sum of its tokens' bucket weights. The
    * paper works in log space with floats; the integer ratio keeps the
    * SAME ranking for unigram features and is exactly reproducible
    * (floats would drift across libm implementations).
    *
    * Scale shape: token bucketing is per-row map work; the two
    * histograms partial-aggregate down to ≤256 rows each (collected as
    * planner metadata — bounded by construction); scoring is a
    * BROADCAST join of the 256-row weight table onto the exploded
    * tokens plus ONE keyed shuffle (groupBy doc) for the per-document
    * sums. The raw corpus is never shuffled whole.
    *
    * At 100 TB the `tc·rawTotal·scale` numerator can pass 2^63 —
    * switch the weight expression to DECIMAL(38,0) there; longs are
    * exact at gate scale and keep whole-stage codegen tight. */
  def dsirWeights(raw: DataFrame, target: DataFrame, textCol: String,
                  idCol: String, scale: Long = 1000000L): DataFrame = {
    val rawTok = raw.select(col(idCol).as("id"),
        explode(Dedup.tokens(col(textCol))).as("t"))
      .withColumn("b", bucket(col("t")))
    val tgtTok = target.select(explode(Dedup.tokens(col(textCol))).as("t"))
      .withColumn("b", bucket(col("t")))
    val rawHist = rawTok.groupBy("b").agg(count(lit(1)).as("rc"))
    val tgtHist = tgtTok.groupBy("b").agg(count(lit(1)).as("tc"))
    // ≤256-row histograms: collect BOTH in one job (side-tagged union)
    // and fold the weight table driver-side — the r17 shape re-ran the
    // raw-corpus histogram twice (once for its total, once inside the
    // weight build) and paid a broadcast join per scored token; the
    // weights are planner metadata by construction, so scoring becomes
    // a pure projection (O(1) literal-array lookup per token) + the one
    // keyed groupBy(doc) shuffle. Corpus passes: 3 → 2.
    val cells = rawHist.withColumn("side", lit("r"))
      .unionByName(tgtHist.withColumnRenamed("tc", "rc")
        .withColumn("side", lit("t")))
      .collect().map(r => (r.getAs[String]("side"), r.getAs[String]("b"),
        r.getAs[Long]("rc")))
    val rawCells = cells.collect { case ("r", b, c) => b -> c }.toMap
    val tgtCells = cells.collect { case ("t", b, c) => b -> c }.toMap
    val rawTotal = rawCells.values.sum
    val tgtTotal = tgtCells.values.sum
    require(tgtTotal > 0, "target corpus has no tokens")
    // long `/` on the non-negative operands here == Spark's
    // IntegralDivide == DuckDB's `//` — the exact division the oracle
    // replays. Buckets with rc == 0 never occur in rawTok rows, so
    // their array slots are inert.
    val wArr: Seq[Long] = (0 until 256).map { i =>
      val hex = f"$i%02x"
      val rc = rawCells.getOrElse(hex, 0L)
      if (rc == 0L) 0L
      else tgtCells.getOrElse(hex, 0L) * rawTotal * scale / (rc * tgtTotal)
    }
    rawTok
      .withColumn("w", element_at(typedLit(wArr),
        conv(col("b"), 16, 10).cast("int") + 1))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_tok"), sum(col("w")).as("dsir_score"))
  }

  /** TOKEN-BUDGET selection: keep the best documents — ordered by
    * (score desc, id asc) — whose running token total fits `budget`.
    * The "train on the top N tokens" cut every budgeted run makes,
    * emitted with the running total (`cum_tokens`) so downstream
    * audits can see exactly where the knife fell.
    *
    * Scale shape: a naive global cumulative sum is one window over ONE
    * sort partition — a non-starter. Instead the corpus is banded by
    * score quantiles (approxQuantile on the driver, `shards`-bounded
    * metadata), the running sum is computed per band in parallel
    * (ONE keyed shuffle — the window's hash exchange on band), and
    * band prefix offsets are added back from a ≤`shards`-entry map
    * literal. Equal scores always land in the same band, so
    * band-major order composes with the in-band (score desc, id)
    * order into the exact global order — the output is invariant to
    * where the quantile boundaries fall. Degenerate case: a corpus
    * dominated by one score value collapses to one band (the same
    * trade packSequences documents for hot buckets). */
  /** GLOBAL-RANK bucketing — the CCNet head/middle/tail split (Wenzek
    * et al. 2020): order the corpus by an LM-quality score and cut it
    * into `buckets` equal-rank slices, so downstream sampling can keep
    * the head whole and thin the tail. Emits `rank` (1-based global
    * rank by score desc, id asc) and `ppl_bucket` (1..buckets,
    * `(rank-1)·buckets div N + 1` — integer arithmetic, so any engine
    * replays the bucket boundaries exactly).
    *
    * Scale shape: the same banded construction as
    * [[selectUnderBudget]] — score-quantile bands from a driver-side
    * approxQuantile, per-band `row_number` in parallel (ONE keyed
    * shuffle), band prefix COUNTS added back from a ≤`shards`-entry
    * literal map. Equal scores always share a band, so band-major +
    * in-band order is exactly the global order; a global
    * `row_number() OVER (ORDER BY ...)` — one sort partition — never
    * appears. The corpus streams twice (band counts, then ranks);
    * persist upstream if the score is expensive. */
  def rankBuckets(df: DataFrame, scoreCol: Column, idCol: String,
                  buckets: Int, shards: Int = 64): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = df.withColumn("__score", scoreCol.cast("double"))
    val probs = (1 until shards).map(_.toDouble / shards).toArray
    val cuts =
      if (probs.isEmpty) Array.empty[Double]
      else base.stat.approxQuantile("__score", probs, 0.001)
        .distinct.sorted
    val band = cuts.foldLeft(lit(0)) { (acc, c) =>
      acc + when(col("__score") > c, 1).otherwise(0)
    }
    val w = Window.partitionBy(col("__band"))
      .orderBy(col("__score").desc, col(idCol))
    val local = base.withColumn("__band", band)
      .withColumn("__rn", row_number().over(w))
    val counts = local.groupBy("__band").agg(count(lit(1)).as("c"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val n = counts.values.sum.max(1L)
    val bandsDesc = counts.keys.toSeq.sorted.reverse
    val offsets = bandsDesc.zip(
      bandsDesc.scanLeft(0L)((acc, b) => acc + counts(b))).toMap
    val offExpr = offsets.foldLeft(lit(0L)) { case (acc, (b, off)) =>
      when(col("__band") === b, off).otherwise(acc)
    }
    local
      .withColumn("rank", col("__rn") + offExpr)
      .withColumn("ppl_bucket",
        (call_function("div", (col("rank") - 1L) * buckets, lit(n)) +
          1L).cast("long"))
      .drop("__score", "__band", "__rn")
  }

  def selectUnderBudget(df: DataFrame, scoreCol: Column, idCol: String,
                        tokenCol: Column, budget: Long,
                        shards: Int = 64): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = df.withColumn("__score", scoreCol.cast("double"))
      .withColumn("__tok", tokenCol.cast("long"))
    val probs = (1 until shards).map(_.toDouble / shards).toArray
    val cuts =
      if (probs.isEmpty) Array.empty[Double] // shards=1 → single band
      else base.stat.approxQuantile("__score", probs, 0.001)
        .distinct.sorted
    // band = #boundaries strictly below the score ⇒ equal scores share
    // a band regardless of boundary placement
    val band = cuts.foldLeft(lit(0)) { (acc, c) =>
      acc + when(col("__score") > c, 1).otherwise(0)
    }
    val w = Window.partitionBy(col("__band"))
      .orderBy(col("__score").desc, col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // per-band totals: ≤ shards rows — planner metadata, same class as
    // chunk boundaries. They never needed the running-sum window, so
    // they aggregate straight off the banded scan — the r17 shape
    // persisted the windowed frame (cache populate + the window
    // shuffle) just to sum a column the window does not touch, then
    // paid an off-cache parquet round-trip to release the cache. The
    // window now runs exactly once, inside the consumer's own action,
    // with nothing persisted.
    val totals = base.withColumn("__band", band)
      .groupBy("__band").agg(sum(col("__tok")).as("t"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val bandsDesc = totals.keys.toSeq.sorted.reverse
    val offsets = bandsDesc.zip(
      bandsDesc.scanLeft(0L)((acc, b) => acc + totals(b))).toMap
    val offExpr = offsets.foldLeft(lit(0L)) { case (acc, (b, off)) =>
      when(col("__band") === b, off).otherwise(acc)
    }
    base.withColumn("__band", band)
      .withColumn("__cum_local", sum(col("__tok")).over(w))
      .withColumn("cum_tokens", col("__cum_local") + offExpr)
      .where(col("cum_tokens") <= budget)
      .drop("__score", "__tok", "__band", "__cum_local")
  }

  /** MIXTURE ASSEMBLY: per-group token-budget selection — the step
    * that composes a training mix from per-domain/per-language token
    * targets ("100B en, 30B code, 10B de"): within each group, keep
    * the best documents (score desc, id asc) until the group's budget
    * fills, emitting the running `cum_tokens` so the audit sees where
    * each group's knife fell. Groups without a budget are dropped.
    *
    * Scale shape: ONE keyed shuffle — the per-group running-sum window
    * (a RUNNING frame, O(n) per partition). Parallelism = #groups: the
    * normal mixture regime (tens to thousands of sources) spreads
    * fine; a single dominant group serializes through one sort, and
    * the escape hatch is [[selectUnderBudget]]'s banded construction
    * on that group alone (same output, driver-side quantile bands).
    * Budgets ride as a literal CASE — planner metadata. */
  def assembleMixture(df: DataFrame, groupCol: String, scoreCol: Column,
                      idCol: String, tokenCol: Column,
                      budgets: Map[String, Long]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(budgets.nonEmpty, "no budgets")
    val budget = budgets.foldLeft(lit(null).cast("long")) {
      case (acc, (g, b)) => when(col(groupCol) === g, b).otherwise(acc)
    }
    val w = Window.partitionBy(col(groupCol))
      .orderBy(scoreCol.cast("double").desc, col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("__budget", budget)
      .where(col("__budget").isNotNull)
      .withColumn("cum_tokens", sum(tokenCol.cast("long")).over(w))
      .where(col("cum_tokens") <= col("__budget"))
      .drop("__budget")
  }
}
