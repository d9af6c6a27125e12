package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Document deduplication for training-data pipelines.
  *
  * Six tiers, cheapest-first — no UDFs anywhere; per-row work is
  * Catalyst columns or (for the two hottest kernels) custom codegen'd
  * expressions from `graft.functions`:
  *  - exact: hash-groupBy on a content digest. One shuffle of (digest,
  *    id), never the text itself.
  *  - n-gram Jaccard, count-join form: exact all-pairs via token
  *    inverted index. The small-scale ORACLE for the approximate tiers;
  *    also the faster exact tier on dup-heavy corpora.
  *  - n-gram Jaccard, prefix-filtered (AllPairs/PPJoin): exact, prunes
  *    hot tokens from the index — the exact tier for corpora where
  *    common tokens dominate.
  *  - MinHash + LSH: per-row signature (strings hashed once, k cheap
  *    permutations), banded into b buckets, candidates pair only within
  *    buckets. The near-dup scale path; native kernel available.
  *  - SimHash: 64-bit per-row fingerprint; near-dups differ in ≤ 3 bits.
  *    Hamming-ball blocking via 4 band keys (Pigeonhole: any 3-bit
  *    difference leaves one 16-bit band intact). Native kernel available.
  *  - embedding cosine: exact all-pairs oracle + hyperplane-LSH bucket
  *    join with exact verification (the scale path).
  */
object Dedup {

  /** Normalized token array: lowercase, split on whitespace. */
  def tokens(text: Column): Column =
    // one regex pass instead of two: trim the exact Java \s set
    // ([ \t\n\x0B\f\r]) from both ends, then split on \s+ — equal to
    // the previous collapse(\s+→" ")→trim→split(" ") on every input
    // (incl. empty/all-whitespace → [""], interior runs, VT/FF/CR
    // edges; TokensSpec property-checks new ≡ old on fixtures and
    // adversarial strings) but without the regexp_replace rewrite
    // allocation per row. The VT is written as an escape — a raw
    // 0x0B byte here is invisible in diffs and was misread as absent.
    split(trim(lower(text), " \t\n\u000B\f\r"), "\\s+")

  /** Session-scoped scratch space for off-cache materialization.
    *
    * Location: `spark.graft.scratchDir` if set — point it at SHARED
    * storage (HDFS/S3A/NFS) on a real cluster, where executors and the
    * driver must see the same filesystem; a driver-local temp dir is
    * only correct in local mode and is therefore just the default, not
    * the contract. All materializations live under ONE parent dir per
    * JVM, and a single shutdown hook deletes that parent recursively
    * through the Hadoop FileSystem API (`File.deleteOnExit` cannot
    * remove non-empty directories — the round-6 disk-leak defect). */
  private[graft] object Scratch {
    private val counter = new java.util.concurrent.atomic.AtomicLong()
    @volatile private[graft] var parentPath: Option[String] = None

    private def parent(df: DataFrame): String = synchronized {
      parentPath.getOrElse {
        val spark = df.sparkSession
        val base = spark.conf.getOption("spark.graft.scratchDir")
          .getOrElse(java.nio.file.Files
            .createTempDirectory("graft-scratch-").toString)
        val p = s"$base/graft-dedup-${java.util.UUID.randomUUID()}"
        val hp = new org.apache.hadoop.fs.Path(p)
        val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
        fs.mkdirs(hp)
        Runtime.getRuntime.addShutdownHook(new Thread(() => cleanup(fs)))
        parentPath = Some(p)
        p
      }
    }

    private[graft] def cleanup(fs: org.apache.hadoop.fs.FileSystem): Unit =
      parentPath.foreach { p =>
        fs.delete(new org.apache.hadoop.fs.Path(p), true): Unit
        synchronized { parentPath = None }
      }

    /** Delete everything materialized so far (test hook / eager reclaim
      * once all returned frames have been consumed). */
    private[graft] def cleanupNow(df: DataFrame): Unit =
      parentPath.foreach { p =>
        cleanup(new org.apache.hadoop.fs.Path(p)
          .getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration))
      }

    private[graft] def next(df: DataFrame): String =
      s"${parent(df)}/m${counter.incrementAndGet()}"
  }

  /** Materialize a SMALL result frame off-cache: one distributed
    * write + read through the session scratch dir. Breaks lineage
    * (so cached inputs can be released with zero recompute on the
    * caller's later actions) without pinning a single block — the
    * tiers' contract is that `getPersistentRDDs` is empty again the
    * moment they return. Only ever called on pair/label frames, which
    * are O(duplicates), never O(corpus). The returned frame reads
    * lazily, so deletion is deferred to the JVM-exit hook (or an
    * explicit `Scratch.cleanupNow`), never eager. */
  private[llm] def materializeOffCache(df: DataFrame): DataFrame = {
    val path = Scratch.next(df)
    df.write.mode("overwrite").parquet(path)
    df.sparkSession.read.parquet(path)
  }

  /** Dev-tool access to [[materializeOffCache]] (probe experiments). */
  private[graft] def materializeOffCacheDev(df: DataFrame): DataFrame =
    materializeOffCache(df)

  /** Exact dedup: keep the lowest id per content digest. One shuffle. */
  def exact(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val w = Window.partitionBy(md5(col(textCol))).orderBy(col(idCol))
    df.withColumn("_rn", row_number().over(w))
      .where(col("_rn") === 1).drop("_rn")
  }

  /** Word n-gram shingles as an array column (per-row, no shuffle).
    *
    * Built by zipping n shifted slices of the token array rather than
    * indexing `toks` inside a per-position lambda: a higher-order
    * function re-evaluates every non-lambda expression it references on
    * EACH element, so `element_at(toks, i+j)` re-ran the whole
    * lower/regex/split pipeline 3× per shingle position. Slices keep
    * `toks` in evaluated-once-per-row argument positions.
    */
  def shingles(text: Column, n: Int): Column = {
    val toks = tokens(text)
    val m = size(toks) - n + 1
    val zipped = (2 to n).foldLeft(slice(toks, lit(1), m))((acc, j) =>
      zip_with(acc, slice(toks, lit(j), m), (a, b) => concat(a, lit(" "), b)))
    when(size(toks) < n, array(concat_ws(" ", toks))).otherwise(zipped)
  }

  /** N-GRAM NOVELTY — per-document count of its distinct n-grams that
    * no EARLIER document (ascending id = arrival order) contains: the
    * contribution signal dedup-aware samplers rank by (a document
    * whose n-grams are all re-runs of the existing corpus adds
    * nothing even when no single near-duplicate pair fires).
    *
    * Shape: per-doc distinct shingles reshape to (md5 digest, doc)
    * rows — the TEXT never shuffles, only 16-byte digests — one
    * digest-keyed aggregation finds each gram's first owner, and the
    * per-doc rollup is a second keyed aggregation over the same rows.
    * Linear in corpus tokens; the digest shuffle is the same exchange
    * the exact-dedup path already pays. */
  def ngramNovelty(df: DataFrame, textCol: String, idCol: String,
                   n: Int = 3): DataFrame = {
    val sh = df.select(col(idCol).as("doc"),
        explode(array_distinct(shingles(col(textCol), n))).as("g"))
      .select(col("doc"), md5(col("g")).as("d"))
    val owner = sh.groupBy("d").agg(min("doc").as("owner"))
    sh.join(owner, "d")
      .groupBy(col("doc"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("owner") === col("doc"), 1L).otherwise(0L))
          .as("n_novel"))
  }

  /** Exact pairwise Jaccard over distinct tokens via an inverted index:
    * explode → self-join on token → |A∩B| counts → sizes → J.
    * Shuffles on token; token frequency skew makes this the SMALL-scale
    * oracle — LSH below is the scale path.
    */
  def jaccardPairs(df: DataFrame, textCol: String, idCol: String,
                   threshold: Double): DataFrame = {
    val toks = df.select(col(idCol).as("id"),
        explode(array_distinct(tokens(col(textCol)))).as("tok"))
    val sizes = toks.groupBy("id").agg(count(lit(1)).as("sz"))
    val a = toks.as("a"); val b = toks.as("b")
    val common = a.join(b, col("a.tok") === col("b.tok") &&
        col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("common"))
    common
      .join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("sz", "sz_a"), "id_a")
      .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("sz", "sz_b"), "id_b")
      .withColumn("jaccard",
        round(col("common") / (col("sz_a") + col("sz_b") - col("common")), 6))
      .where(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** EXACT Jaccard pairs via prefix filtering (the AllPairs/PPJoin
    * family — see the distributed set-similarity-join literature in
    * PAPERS.md): a pair with J ≥ t must share at least one token among
    * each document's (n − ⌈t·n⌉ + 1) globally-rarest tokens, so only
    * those PREFIX tokens enter the inverted index. Results equal
    * jaccardPairs exactly (asserted in spec; same DuckDB oracle).
    *
    * Trade-off, measured on the fixtures: prefix filtering wins when
    * the index is dominated by HOT tokens joining non-duplicate docs
    * (its pruning removes them); on dup-heavy short-doc corpora the
    * candidates ≈ the true pairs, pruning buys nothing, and the
    * count-join form (jaccardPairs) is ~2× faster because its
    * group-count IS the verification. Pick by corpus shape; both are
    * exact.
    */
  def jaccardPairsPrefix(df: DataFrame, textCol: String, idCol: String,
                         threshold: Double): DataFrame = {
    // Scale-adaptive materialization (r17-verdict item 5): the exploded
    // token table is consumed 3× (dfreq, per-doc rollup, prefix join)
    // and the rollup 3× (prefix length filter + both verify legs).
    // Below the doc threshold those recomputes pipeline inside one job
    // and win (r17 A/B: 1.95 s recompute vs 2.34 s materialized at
    // 1000 docs); above it the recomputation explodes with the corpus
    // (measured at 5×: 36.3 s recompute vs 7.7 s materialized — the
    // JpProbe numbers in OPTIMIZATION_r18.md), so both frames are
    // materialized off-cache once. The crossover costs one cheap
    // column-pruned count; `spark.graft.jaccardPrefix.materializeRows`
    // overrides the default for cluster tuning.
    val matThreshold = longConf(df.sparkSession,
      "spark.graft.jaccardPrefix.materializeRows", 2000L)
    val materialize = df.count() > matThreshold
    val toks0 = df.select(col(idCol).as("id"),
      explode(array_distinct(tokens(col(textCol)))).as("tok"))
    val toks = if (materialize) materializeOffCache(toks0) else toks0
    val dfreq = toks.groupBy("tok").agg(count(lit(1)).as("dfreq"))
    val full0 = toks.groupBy("id").agg(
      sort_array(collect_list(col("tok"))).as("all_toks"),
      count(lit(1)).as("n"))
    val full = if (materialize) materializeOffCache(full0) else full0
    // per-doc prefix: rarest (n - ceil(t*n) + 1) tokens by global dfreq
    val w = Window.partitionBy("id").orderBy(col("dfreq"), col("tok"))
    val prefix = toks.join(dfreq, "tok")
      .withColumn("_rn", row_number().over(w))
      .join(full.select(col("id"), col("n")), "id")
      .where(col("_rn") <= col("n") - ceil(lit(threshold) * col("n")) + 1)
      .select("id", "tok", "n")
    // PPJoin length filter inside the candidate join: J(A,B) ≥ t forces
    // t·|B| ≤ |A| ≤ |B|/t, so size-incompatible pairs never reach the
    // distinct or the exact verify — this prunes exactly the pairs a
    // shared rare token would otherwise emit between different-length
    // non-duplicates
    val cand = prefix.as("a").join(prefix.as("b"),
        col("a.tok") === col("b.tok") && col("a.id") < col("b.id") &&
        col("a.n") >= ceil(lit(threshold) * col("b.n")) &&
        col("b.n") >= ceil(lit(threshold) * col("a.n")))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b")).distinct()
    cand
      .join(full.select(col("id").as("id_a"), col("all_toks").as("ta"),
        col("n").as("na")), "id_a")
      .join(full.select(col("id").as("id_b"), col("all_toks").as("tb"),
        col("n").as("nb")), "id_b")
      .withColumn("common", size(array_intersect(col("ta"), col("tb"))))
      .withColumn("jaccard",
        round(col("common") / (col("na") + col("nb") - col("common")), 6))
      .where(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** MinHash signature + LSH band keys in ONE per-row expression.
    *
    * sig[j] = min over shingles of h_j(s), with h_j(s) =
    * xxhash64(j, xxhash64(s)): each shingle STRING is hashed once, the
    * k permutations are cheap fixed-width re-hashes of that base hash.
    * Band b's key is a hash of sig[b·r .. b·r+r).
    *
    * Structured so every expensive sub-expression sits in an
    * evaluated-once position: the shingle array is the `aggregate`
    * input (one eval/row), the k-way fold runs as one pass over the
    * base hashes, and the band keys are derived in the aggregate's
    * `finish` lambda where `sig` is an already-computed bound variable.
    * The naive form (k × array_min(transform(shingles, ...))) re-ran
    * the tokenize/shingle pipeline k times per row — 50× slower.
    */
  def sigWithBands(shinglesCol: Column, k: Int, bands: Int): Column = {
    val rows = k / bands
    aggregate(
      transform(shinglesCol, s => xxhash64(s)),
      array_repeat(lit(Long.MaxValue), k),
      (acc, h) => zip_with(acc,
        transform(sequence(lit(0), lit(k - 1)), j => xxhash64(j, h)),
        (x, y) => least(x, y)),
      sig => struct(sig.as("sig"),
        transform(sequence(lit(0), lit(bands - 1)),
          b => xxhash64(b, to_json(slice(sig, b * rows + 1, lit(rows)))))
          .as("bands")))
  }

  /** Duplicate-cluster resolution: map every id to its cluster's
    * CANONICAL (minimum) id, where clusters are the connected
    * components of the near-dup pair graph — the final step of a
    * dedup pipeline (pairs say "these match"; this decides which copy
    * survives). Singletons map to themselves.
    *
    * Algorithm: iterative min-label propagation — the standard
    * join-based connected-components for data-parallel engines:
    * each round, a node's label becomes the min of its own and its
    * neighbors' labels; converged when no label changes. Rounds =
    * O(component diameter) — near-dup clusters are shallow (a dup
    * cluster is near-cliquey), so a handful of rounds; each round is
    * one keyed shuffle of (node, label) + an edge join, never
    * all-pairs. For adversarially deep graphs swap in the
    * large-star/small-star variant; `maxIter` guards the loop either
    * way (throws rather than silently emitting unconverged labels).
    */
  def canonicalize(ids: DataFrame, pairs: DataFrame, idCol: String,
                   maxIter: Int = 20): DataFrame = {
    val labels = propagateMinLabels(pairs, maxIter)
    // One corpus-sized join at the very END maps untouched ids to
    // themselves; every per-round shuffle above was bounded by the
    // dup-graph size. The label side is |dup vertices| rows — tiny vs
    // the corpus in the normal (singleton-dominated) case, so Spark
    // broadcasts it and the corpus is never shuffled here either.
    ids.select(col(idCol))
      .join(labels.withColumnRenamed("x", idCol), Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("lbl"), col(idCol).cast("long")).as("canonical"))
  }

  /** QUALITY-AWARE cluster resolution: within each duplicate cluster
    * keep the highest-scoring member (ties → larger id) instead of the
    * arbitrary min-id canonical — what a production dedup pass actually
    * retains. Returns (id, canonical, keep): one row per input doc,
    * `keep` true for exactly one member per cluster.
    *
    * Scale shape on top of [[canonicalize]]: the winner argmax is one
    * keyed aggregation over (cluster → (score, id)) — partial map-side,
    * output |clusters| rows, broadcast back over the labeled corpus. */
  def keepBestPerCluster(docs: DataFrame, pairs: DataFrame, idCol: String,
                         scoreCol: Column, maxIter: Int = 20): DataFrame = {
    val labeled = canonicalize(docs.select(col(idCol)), pairs, idCol, maxIter)
      .join(docs.select(col(idCol), scoreCol.as("__score")), Seq(idCol))
    val winners = labeled.groupBy(col("canonical"))
      .agg(max_by(col(idCol), struct(col("__score"), col(idCol)))
        .as("__winner"))
    labeled.join(broadcast(winners), Seq("canonical"))
      .select(col(idCol), col("canonical"),
        (col(idCol) === col("__winner")).as("keep"))
  }

  /** Min-label propagation over the dup-graph VERTEX set only — the
    * ids that appear in at least one pair. At 100 TB with a sparse dup
    * graph (singletons dominate) this is the whole trick: each round
    * shuffles O(|dup vertices| + |edges|), never O(corpus). Returns
    * (x, lbl) for dup-graph vertices; callers map the untouched rest.
    */
  private def propagateMinLabels(pairs: DataFrame, maxIter: Int): DataFrame = {
    val sc = pairs.sparkSession.sparkContext
    // the rounds' lazy localCheckpoints below pin rdd-level blocks the
    // CacheManager cannot see; snapshot what was pinned before the call
    // so everything this call adds can be swept on the way out
    val pinnedBefore = sc.getPersistentRDDs.keySet
    // hash-partition the edge cache on the per-round join key: every
    // round joins edges on y, so caching them already-partitioned lets
    // each round reuse the cached layout instead of re-exchanging the
    // edge side N times (one up-front shuffle, paid once)
    val edges = pairs.select(col("id_a").as("x"), col("id_b").as("y"))
      .unionAll(pairs.select(col("id_b").as("x"), col("id_a").as("y")))
      .repartition(col("y"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var labels = edges.select(col("x")).distinct()
      .select(col("x"), col("x").cast("long").as("lbl"))
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      val viaNeighbor = edges
        .join(labels.select(col("x").as("y"), col("lbl")), "y")
        .select(col("x"), col("lbl"))
      // LAZY localCheckpoint, not persist: the round's self-joins make
      // each logical plan contain the previous one twice, so with
      // persist alone (which caches execution but NOT analysis) the
      // analyzer/optimizer re-walks an exponentially growing tree —
      // measured at 20+ s of pure driver time by round 3 on a
      // 300-vertex graph. Truncating lineage keeps every round's plan
      // flat. Still one job per round: the convergence probe below is
      // the action that materializes the checkpoint.
      val hop = labels.unionAll(viaNeighbor)
        .groupBy("x").agg(min("lbl").as("lbl"), max("lbl").as("maxLbl"))
        .localCheckpoint(false)
      // one aggregation carries BOTH the new label (min) and the
      // convergence signal: the previous label is one of the grouped
      // rows and min ≤ prev ≤ max, so min == max for every node ⟺ no
      // label changed anywhere. A null aggregate ⟺ no vertices at all
      // (empty pair set) — that is converged, not an error.
      converged = Option(hop.agg(max(col("maxLbl") - col("lbl"))).head().get(0))
        .forall(_ == 0L)
      val hopLabels = hop.select(col("x"), col("lbl"))
      // pointer jump (label ← label's label) once plain propagation has
      // NOT converged in the first two rounds: near-clique dup clusters
      // finish by then (the common case — the jump would be pure
      // overhead), while deep chain components switch to O(log
      // diameter) rounds. Min-labels are monotone (lbl(x) ≤ x), so the
      // jump is one keyed self-join over the checkpointed hop.
      labels = if (converged || i < 2) hopLabels
        else hopLabels.as("a")
          .join(hopLabels.select(col("x").as("lbl"), col("lbl").as("lbl2")).as("b"),
            Seq("lbl"), "left")
          .select(col("x"), coalesce(col("lbl2"), col("lbl")).as("lbl"))
      i += 1
    }
    edges.unpersist()
    // labels is |dup vertices| rows — materialize it off-cache, then
    // release every block the rounds pinned (edge cache + each round's
    // localCheckpoint), so the tier returns with nothing cached
    val out = materializeOffCache(labels)
    sc.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!pinnedBefore.contains(id)) rdd.unpersist(blocking = false)
    }
    if (!converged)
      throw new IllegalStateException(s"not converged after $maxIter rounds")
    lastPropagationRounds = i
    out
  }

  /** Rounds the latest propagation took — dev observability for scale
    * checks: rounds must track component DIAMETER (near-cliquey dup
    * clusters → a handful), never corpus size. */
  @volatile var lastPropagationRounds: Int = 0

  /** Keep one document per duplicate cluster (the canonical one):
    * the filter step a dedup pipeline runs after `canonicalize`.
    * Only the non-canonical dup ids (the "losers") need to leave the
    * corpus, so this is one broadcast anti-join against a frame of
    * |dup vertices − clusters| rows — the corpus is never shuffled.
    */
  def keepCanonical(df: DataFrame, pairs: DataFrame, idCol: String): DataFrame = {
    val losers = propagateMinLabels(pairs, maxIter = 20)
      .where(col("x").cast("long") =!= col("lbl"))
      .select(col("x").as(idCol))
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** MinHash signature alone (see sigWithBands for the layout). */
  def minhashSignature(shinglesCol: Column, k: Int): Column =
    sigWithBands(shinglesCol, k, 1).getField("sig")

  /** MinHash/LSH near-dup candidate pairs with their estimated Jaccard
    * (fraction of matching signature positions). Join is keyed on band
    * values — never a cartesian. The banded signature frame is
    * persisted so the self-join materializes it once instead of
    * re-hashing every document on both sides; at cluster scale it is
    * ~600 B/doc, far smaller than the corpus.
    */
  def minhashPairs(df: DataFrame, textCol: String, idCol: String,
                   shingleN: Int = 3, k: Int = 64, bands: Int = 16,
                   estThreshold: Double = 0.5,
                   native: Boolean = false): DataFrame = {
    // native = the codegen'd MinHashSigBands expression (bit-identical,
    // pinned by q_minhash_native); requires GraftExtensions registered
    val sigExpr =
      if (native) call_function("graft_minhash", col(textCol),
        lit(shingleN), lit(k), lit(bands))
      else sigWithBands(shingles(col(textCol), shingleN), k, bands)
    val sb = df.select(col(idCol).as("id"), sigExpr.as("sb"))
    val sigs = sb
      .select(col("id"), col("sb.sig").as("sig"),
        explode(col("sb.bands")).as("band"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val a = sigs.as("a"); val b = sigs.as("b")
    val pairs = a
      .join(b, col("a.band") === col("b.band") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        (size(filter(zip_with(col("a.sig"), col("b.sig"), (x, y) => x === y),
          b => b)) / lit(k.toDouble)).as("est_jaccard"))
      // filter BEFORE the dedup exchange (est is a function of the
      // pair, filter∘distinct ≡ distinct∘filter): sub-threshold
      // candidates never shuffle (§2.3)
      .where(col("est_jaccard") >= estThreshold)
      .distinct()
    // the O(corpus × bands) signature cache lives only for this call:
    // the (small) pair result is materialized off-cache, then released
    val out = materializeOffCache(pairs)
    sigs.unpersist()
    out
  }

  /** Banded candidate PAIRS only (no signature similarity): the shape
    * the verified tier consumes — a pair that collides in any band goes
    * straight to the exact check, so estimating Jaccard from the
    * signatures per collision (up to `bands`× per pair) would be pure
    * waste. Join stays band-keyed; output is deduped ids. */
  /** Returns (lazy candidate pairs, the persisted band-row frame the
    * pair join reads on both legs). The CALLER unpersists the band
    * frame after its consuming action — candidate generation fuses into
    * the caller's verify job instead of paying a separate
    * persist+count barrier (the r17 shape spent one extra job per
    * query releasing the band cache a stage early; the band rows are
    * (id, band-hash) — bounded per doc — so holding them through the
    * verify write is spill-safe at any scale). */
  private def minhashCandidates(df: DataFrame, textCol: String, idCol: String,
                                shingleN: Int, k: Int, bands: Int,
                                native: Boolean): (DataFrame, DataFrame) = {
    val sigExpr =
      if (native) call_function("graft_minhash", col(textCol),
        lit(shingleN), lit(k), lit(bands))
      else sigWithBands(shingles(col(textCol), shingleN), k, bands)
    val bandRows = df
      .select(col(idCol).as("id"), explode(sigExpr.getField("bands")).as("band"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cand = bandRows.as("a").join(bandRows.as("b"),
        col("a.band") === col("b.band") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    (cand, bandRows)
  }

  /** Band-index rows (id, band): the per-corpus state an INCREMENTAL
    * dedup pipeline persists — O(corpus × bands) rows, ~600 B/doc. At
    * cluster scale this is a stored table bucketed by `band`, so the
    * probe join below is co-located and touches only matching buckets,
    * never the corpus itself. */
  def minhashIndex(df: DataFrame, textCol: String, idCol: String,
                   shingleN: Int = 3, k: Int = 64, bands: Int = 16,
                   native: Boolean = false): DataFrame = {
    val sigExpr =
      if (native) call_function("graft_minhash", col(textCol),
        lit(shingleN), lit(k), lit(bands))
      else sigWithBands(shingles(col(textCol), shingleN), k, bands)
    df.select(col(idCol).as("id"),
      explode(sigExpr.getField("bands")).as("band"))
  }

  /** Incremental near-dup: match a NEW batch against an existing corpus
    * via the band index, plus within-batch pairs — the realistic
    * 100 TB shape, where re-pairing the whole corpus per arriving batch
    * (O(corpus²)) is impossible. Corpus-side work is ONE band-keyed
    * join probing O(batch × bands) rows; corpus-internal pairs are by
    * construction not re-emitted (the corpus is already deduped).
    * Candidates are verified by exact shingle Jaccard like
    * [[minhashPairsVerified]] (same recall algebra: equality with the
    * exact predicate needs threshold ≥ ~0.9 at k=64/b=16). Batch and
    * corpus ids must be disjoint; pairs emit as id_a < id_b. */
  def minhashIncrementalVerified(corpus: DataFrame, batch: DataFrame,
                                 textCol: String, idCol: String,
                                 shingleN: Int = 3, k: Int = 64,
                                 bands: Int = 16, threshold: Double = 0.5,
                                 native: Boolean = false): DataFrame = {
    val idx = minhashIndex(corpus, textCol, idCol, shingleN, k, bands, native)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bb = minhashIndex(batch, textCol, idCol, shingleN, k, bands, native)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cross = bb.as("a").join(idx.as("b"), col("a.band") === col("b.band"))
      .select(least(col("a.id"), col("b.id")).as("id_a"),
        greatest(col("a.id"), col("b.id")).as("id_b"))
    val within = bb.as("a").join(bb.as("b"),
        col("a.band") === col("b.band") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
    val cand = cross.unionByName(within).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    cand.count()
    idx.unpersist(); bb.unpersist()
    // exact verify needs shingles for both sides — but ONLY for
    // candidate rows. The candidate id set is O(batch × dup-degree),
    // so it broadcasts; semi-joining it into the corpus scan prunes
    // the shingle computation to the touched rows instead of
    // re-shingling the whole corpus per arriving batch.
    val candIds = cand.select(col("id_a").as("id"))
      .unionByName(cand.select(col("id_b").as("id"))).distinct()
    val sh = corpus.unionByName(batch)
      .join(broadcast(candIds), col(idCol) === col("id"), "left_semi")
      .select(col(idCol).as("id"),
        array_distinct(shingles(col(textCol), shingleN)).as("sh"))
    val verified = cand
      .join(sh.select(col("id").as("id_a"), col("sh").as("sa")), "id_a")
      .join(sh.select(col("id").as("id_b"), col("sh").as("sb")), "id_b")
      .withColumn("common", size(array_intersect(col("sa"), col("sb"))))
      .withColumn("jaccard", round(col("common") /
        (size(col("sa")) + size(col("sb")) - col("common")), 6))
      .where(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
    val out = materializeOffCache(verified)
    cand.unpersist()
    out
  }

  /** Persist the corpus-side dedup state as bucketed+sorted tables —
    * the stored-index shape a production pipeline keeps between
    * arriving batches (the reference's state-between-syncs idea,
    * `types/metadata_state.go:9-16`, applied to the index itself).
    *
    * Two external tables under `path`:
    *   - `<prefix>_bands`: (id, band) bucketed+sorted by `band` — what
    *     candidate generation probes, band-keyed;
    *   - `<prefix>_shingles`: (id, sh) bucketed+sorted by `id` — what
    *     exact verification reads, bucket-PRUNED to candidate ids so
    *     the verify step touches matching files only.
    *
    * Build cost is one corpus pass, paid ONCE; after that every batch
    * probe is corpus-scan-free ([[minhashIncrementalStored]]). Bucket
    * count should follow chunk-planning arithmetic (one bucket ≈ one
    * task at target scale). */
  def minhashIndexStore(corpus: DataFrame, textCol: String, idCol: String,
                        prefix: String, path: String, buckets: Int = 32,
                        shingleN: Int = 3, k: Int = 64, bands: Int = 16,
                        native: Boolean = false): Unit = {
    graft.sinks.Bucketed.writeBucketed(
      minhashIndex(corpus, textCol, idCol, shingleN, k, bands, native),
      s"${prefix}_bands", s"$path/bands", Seq("band"), buckets)
    graft.sinks.Bucketed.writeBucketed(
      corpus.select(col(idCol).as("id"),
        array_distinct(shingles(col(textCol), shingleN)).as("sh")),
      s"${prefix}_shingles", s"$path/shingles", Seq("id"), buckets)
  }

  /** The lazily-built probe frames against a stored index — split out
    * so PlanAuditSpec can assert the physical shapes before
    * materialization. Returns (crossCandidates, verified, candCache);
    * the caller must unpersist `candCache` after consuming `verified`.
    *
    * Shapes audited:
    *   - `cross` = stored band table ⋈ broadcast(batch bands): a
    *     BroadcastHashJoin with ZERO exchanges — the stored side
    *     streams, nothing corpus-sized ever shuffles;
    *   - `verified`'s corpus-side read is the shingle store filtered by
    *     candidate-id LITERALS, so the bucketed+sorted layout prunes
    *     files (SelectedBucketsCount) and row groups — never a scan. */
  /** Candidate-row fetch from a bucketed store. Small candidate sets
    * become literals (`In`), which the bucketed + sorted layout turns
    * into file and row-group pruning; past [[LiteralLookupMax]] the ids
    * ride a broadcast LEFT SEMI join instead — a 10^5-literal In()
    * expression is a planner denial-of-service (minutes of driver time
    * at 100× corpus, measured), and at that candidate volume the probe
    * touches most buckets anyway, so the streamed scan is the cheaper
    * honest plan. `ids` must be a single-column frame. */
  private[graft] val LiteralLookupMax = 16384
  private[graft] def storeLookup(store: DataFrame, keyCol: String,
                                 ids: DataFrame): DataFrame = {
    val sample = ids.limit(LiteralLookupMax + 1).collect()
    if (sample.length <= LiteralLookupMax)
      store.where(col(keyCol).isInCollection(
        sample.map(_.get(0)).toSeq))
    else store.join(broadcast(ids.toDF(keyCol)), Seq(keyCol), "left_semi")
  }

  private[graft] def minhashStoredProbe(batch: DataFrame, textCol: String,
      idCol: String, prefix: String, shingleN: Int, k: Int, bands: Int,
      threshold: Double, native: Boolean)
      : (DataFrame, DataFrame, DataFrame) = {
    val spark = batch.sparkSession
    val bb = minhashIndex(batch, textCol, idCol, shingleN, k, bands, native)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val idx = spark.table(s"${prefix}_bands")
    // batch side broadcasts — O(batch × bands) rows, small relative to
    // any corpus: the stored index streams through the join unshuffled
    val cross = idx.as("b").join(broadcast(bb.as("a")),
        col("a.band") === col("b.band"))
      .select(least(col("a.id"), col("b.id")).as("id_a"),
        greatest(col("a.id"), col("b.id")).as("id_b"))
    val within = bb.as("a").join(bb.as("b"),
        col("a.band") === col("b.band") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
    val cand = cross.unionByName(within).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    cand.count()
    bb.unpersist()
    // candidate ids are usually batch-bounded (O(batch × dup-degree))
    // and become LITERALS so the shingle store's bucketing prunes whole
    // files; storeLookup switches to a broadcast semi-join when the
    // candidate set is too large to be a sane In() plan. Batch ids are
    // disjoint from the store by contract, so the union below never
    // double-serves a document.
    val candIdsDf = cand.select(col("id_a").as("id"))
      .unionByName(cand.select(col("id_b").as("id"))).distinct()
    val corpusSh = storeLookup(spark.table(s"${prefix}_shingles"), "id",
      candIdsDf)
    val batchSh = batch.select(col(idCol).as("id"),
      array_distinct(shingles(col(textCol), shingleN)).as("sh"))
    val sh = batchSh.unionByName(corpusSh)
    val verified = cand
      .join(sh.select(col("id").as("id_a"), col("sh").as("sa")), "id_a")
      .join(sh.select(col("id").as("id_b"), col("sh").as("sb")), "id_b")
      .withColumn("common", size(array_intersect(col("sa"), col("sb"))))
      .withColumn("jaccard", round(col("common") /
        (size(col("sa")) + size(col("sb")) - col("common")), 6))
      .where(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
    (cross, verified, cand)
  }

  /** Incremental near-dup against a STORED index
    * ([[minhashIndexStore]]): the only shape that holds at 100 TB —
    * the corpus is never read, shingled, or shuffled per arriving
    * batch. Probe cost is O(batch × bands) broadcast rows against the
    * bucketed band table plus file-pruned shingle lookups for the
    * candidates; wall time is a function of BATCH size and dup degree,
    * not corpus size (measured flat in SCALING.md). Same verify
    * algebra and output as [[minhashIncrementalVerified]] — counts are
    * identical by construction. Batch and corpus ids must be
    * disjoint; pairs emit as id_a < id_b. */
  def minhashIncrementalStored(batch: DataFrame, textCol: String,
                               idCol: String, prefix: String,
                               shingleN: Int = 3, k: Int = 64,
                               bands: Int = 16, threshold: Double = 0.5,
                               native: Boolean = false): DataFrame = {
    val (_, verified, cand) = minhashStoredProbe(batch, textCol, idCol,
      prefix, shingleN, k, bands, threshold, native)
    val out = materializeOffCache(verified)
    cand.unpersist()
    out
  }

  /** MinHash-LSH candidates VERIFIED by exact shingle Jaccard: the
    * production near-dup shape (banded candidates, then one exact check
    * per candidate — never per pair), and the oracle-able one: output
    * pairs satisfy `jaccard(shingles(a), shingles(b)) >= threshold`
    * exactly, so DuckDB can replay the predicate. A true pair can only
    * be missed if NO band matches, with probability (1 − J^r)^b —
    * identical documents (J = 1) are caught with certainty. Oracle
    * EQUALITY (emitted == all exact pairs ≥ t) therefore only holds
    * when (1 − t^r)^b is negligible: with the default (k=64, b=16,
    * r=4) that means t ≥ ~0.9 (miss ≈ 4e-8); at t = 0.5 recall is only
    * ~65% per true pair and equality would be fixture-dependent.
    * Precision is always exact (the verify step filters candidates by
    * the true Jaccard).
    */
  def minhashPairsVerified(df: DataFrame, textCol: String, idCol: String,
                           shingleN: Int = 3, k: Int = 64, bands: Int = 16,
                           threshold: Double = 0.5,
                           native: Boolean = false): DataFrame = {
    val (cand, bandRows) = minhashCandidates(df, textCol, idCol, shingleN,
      k, bands, native)
    val sh = df.select(col(idCol).as("id"),
      array_distinct(shingles(col(textCol), shingleN)).as("sh"))
    val verified = cand
      .join(sh.select(col("id").as("id_a"), col("sh").as("sa")), "id_a")
      .join(sh.select(col("id").as("id_b"), col("sh").as("sb")), "id_b")
      .withColumn("common", size(array_intersect(col("sa"), col("sb"))))
      .withColumn("jaccard", round(col("common") /
        (size(col("sa")) + size(col("sb")) - col("common")), 6))
      .where(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
    // candidate generation + verify fuse into the single off-cache
    // write; the band cache releases after it — nothing stays pinned
    // past the tier's return
    val out = materializeOffCache(verified)
    bandRows.unpersist()
    out
  }

  /** SimHash-blocked EXACT bag-of-words duplicates: candidates from the
    * band join with Hamming distance 0, verified by distinct-token-set
    * equality. Identical token sets hash to identical fingerprints, so
    * recall is 1.0 by construction — which makes this tier exactly
    * SQL-replayable (the oracle compares sorted distinct token lists).
    * The hamming ≤ 3 near-dup tier (simhashPairs) keeps its unit-spec
    * coverage; its extra pairs depend on hash bit-flips and are not
    * SQL-expressible.
    */
  def simhashExactDups(df: DataFrame, textCol: String, idCol: String,
                       native: Boolean = false): DataFrame = {
    val cand = simhashPairs(df, textCol, idCol, maxHamming = 0,
      native = native).select("id_a", "id_b")
    val ts = df.select(col(idCol).as("id"),
      sort_array(array_distinct(tokens(col(textCol)))).as("ts"))
    cand
      .join(ts.select(col("id").as("id_a"), col("ts").as("ta")), "id_a")
      .join(ts.select(col("id").as("id_b"), col("ts").as("tb")), "id_b")
      .where(col("ta") === col("tb"))
      .select("id_a", "id_b")
  }

  /** Embedding-cosine near-dup pairs, exact: all pairs (a < b) with
    * cosine ≥ threshold. O(n²·d) — the small-scale ORACLE for the LSH
    * tier below, mirroring jaccardPairs vs minhashPairs. */
  def cosinePairs(df: DataFrame, idCol: String, vecCol: String,
                  threshold: Double): DataFrame = {
    import graft.llm.Similarity.{dot, norm}
    // one lazy plan, no persist/materialize barriers: the self-join
    // recomputes the normed side per leg, but that is two linear
    // scan+norm passes against the O(n²) pair work this exact tier
    // exists to pay — the r17 persist + off-cache write spent two jobs
    // (cache populate + parquet write) to save a cost that does not
    // register at any scale where this oracle tier is runnable at all.
    val side = df.select(col(idCol).as("id"), col(vecCol).as("vec"),
      norm(col(vecCol)).as("nrm"))
    val a = side.as("a"); val b = side.as("b")
    a.join(b, col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        (dot(col("a.vec"), col("b.vec")) / (col("a.nrm") * col("b.nrm")))
          .as("cos"))
      .where(col("cos") >= threshold)
      .select("id_a", "id_b")
  }

  /** Embedding-cosine near-dup, LSH-bucketed (the scale path):
    * `tables` independent hyperplane-code tables; vectors sharing any
    * probed (table, code) key — the probe side flips up to `maxFlips`
    * code bits — become candidates, deduped, then exact cosine
    * verifies. Join keyed on (table, code) — never a cartesian; full
    * recall vs cosinePairs at gate scale (measured down to 2 tables;
    * 4 keeps margin), equality asserted by the oracle. */
  def cosinePairsLsh(df: DataFrame, idCol: String, vecCol: String,
                     threshold: Double, planes: Int = 4,
                     dims: Int = 64, tables: Int = 4,
                     maxFlips: Int = 2, native: Boolean = false): DataFrame = {
    import graft.llm.Similarity.{dot, norm, probeMasks, tableCodes}
    // candidate ids from any shared (table, probe-code) key; pairs are
    // deduped before vectors are re-joined, so the exact-cosine verify
    // runs once per candidate pair no matter how many tables caught it.
    // The hyperplane codes are computed ONCE per vector into a persisted
    // frame (as minhashPairs does its signatures); both join legs —
    // including the probe side, whose flipped keys are cheap XORs of the
    // stored codes — read it instead of re-running the planes×dims
    // projection per side.
    val codes0 = df.select(col(idCol).as("id"),
        tableCodes(col(vecCol), planes, dims, tables, native).as("tcs"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val coded = codes0.select(col("id"), explode(col("tcs")).as("tc"))
    val masks = probeMasks(planes, maxFlips)
    val probed = codes0.select(col("id"),
      explode(flatten(transform(col("tcs"), tc =>
        array(masks.map(m => struct(tc.getField("t").as("t"),
          tc.getField("code").bitwiseXOR(lit(m)).as("code"))): _*))))
        .as("probe"))
    // candidate generation and exact verify FUSE into the single
    // off-cache write job: `cand` appears once in the verified plan, so
    // no persist/count barrier is needed to avoid recompute — the r17
    // two-barrier shape (cand.persist + count, then verify) paid one
    // extra job per query purely to release codes0 a stage earlier.
    // codes0 stays cached through the write instead: it is (id,
    // tables×int) — ~32 B/vector, MEMORY_AND_DISK — so holding it to
    // the end of the job is bounded and spill-safe at any scale, and
    // the cache-release invariant (getPersistentRDDs empty on return)
    // still holds.
    val cand = probed.as("a").join(coded.as("b"),
        col("a.probe") === col("b.tc") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b")).distinct()
    val side = df.select(col(idCol).as("id"), col(vecCol).as("vec"),
      norm(col(vecCol)).as("nrm"))
    val verified = cand
      .join(side.select(col("id").as("id_a"), col("vec").as("va"),
        col("nrm").as("na")), "id_a")
      .join(side.select(col("id").as("id_b"), col("vec").as("vb"),
        col("nrm").as("nb")), "id_b")
      .where(dot(col("va"), col("vb")) / (col("na") * col("nb")) >= threshold)
      .select("id_a", "id_b")
    val out = materializeOffCache(verified)
    codes0.unpersist()
    out
  }

  /** Incremental embedding near-dup: an arriving batch probed against
    * the corpus's hyperplane-code index plus within-batch pairs — the
    * cosine analog of [[minhashIncrementalVerified]]. The corpus-side
    * state is the (id, table-code) frame (bucketed by code at cluster
    * scale); the multi-probe bit flips apply to the BATCH side only, so
    * probe volume is O(batch × tables × probes) regardless of corpus
    * size. Candidates verify by exact cosine. Ids must be disjoint;
    * pairs emit as id_a < id_b. */
  def cosineIncrementalVerified(corpus: DataFrame, batch: DataFrame,
                                idCol: String, vecCol: String,
                                threshold: Double, planes: Int = 4,
                                dims: Int = 64, tables: Int = 4,
                                maxFlips: Int = 2,
                                native: Boolean = false): DataFrame = {
    import graft.llm.Similarity.{dot, norm, probeMasks, tableCodes}
    val cIdx = corpus.select(col(idCol).as("id"),
        explode(tableCodes(col(vecCol), planes, dims, tables, native))
          .as("tc"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bCodes0 = batch.select(col(idCol).as("id"),
        tableCodes(col(vecCol), planes, dims, tables, native).as("tcs"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bCoded = bCodes0.select(col("id"), explode(col("tcs")).as("tc"))
    val masks = probeMasks(planes, maxFlips)
    val bProbed = bCodes0.select(col("id"),
      explode(flatten(transform(col("tcs"), tc =>
        array(masks.map(m => struct(tc.getField("t").as("t"),
          tc.getField("code").bitwiseXOR(lit(m)).as("code"))): _*))))
        .as("probe"))
    val cross = bProbed.as("a").join(cIdx.as("b"),
        col("a.probe") === col("b.tc"))
      .select(least(col("a.id"), col("b.id")).as("id_a"),
        greatest(col("a.id"), col("b.id")).as("id_b"))
    val within = bProbed.as("a").join(bCoded.as("b"),
        col("a.probe") === col("b.tc") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
    val cand = cross.unionByName(within).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    cand.count()
    cIdx.unpersist(); bCodes0.unpersist()
    // prune the exact-cosine verify to candidate rows (the id set is
    // batch-sized and broadcasts) — never a full-corpus norm pass
    val candIds = cand.select(col("id_a").as("cid"))
      .unionByName(cand.select(col("id_b").as("cid"))).distinct()
    val side = corpus.unionByName(batch)
      .join(broadcast(candIds), col(idCol) === col("cid"), "left_semi")
      .select(col(idCol).as("id"),
        col(vecCol).as("vec"), norm(col(vecCol)).as("nrm"))
    val verified = cand
      .join(side.select(col("id").as("id_a"), col("vec").as("va"),
        col("nrm").as("na")), "id_a")
      .join(side.select(col("id").as("id_b"), col("vec").as("vb"),
        col("nrm").as("nb")), "id_b")
      .where(dot(col("va"), col("vb")) / (col("na") * col("nb")) >= threshold)
      .select("id_a", "id_b")
    val out = materializeOffCache(verified)
    cand.unpersist()
    out
  }

  /** Persist the cosine near-dup index for a corpus — the stored
    * counterpart of [[cosineIncrementalVerified]]'s in-session state,
    * closing its one linear term (the per-batch corpus∪batch vector
    * scan, pruned but still a scan):
    *  - `{prefix}_codes` — (id, t, code) hyperplane codes,
    *    bucketed+sorted by (t, code): the candidate-generation side.
    *  - `{prefix}_vecs` — (id, vec, nrm), bucketed by id: the
    *    exact-cosine verify side, fetched by candidate-id literals so
    *    the bucketed layout prunes files — never a corpus scan. */
  def cosineIndexStore(corpus: DataFrame, idCol: String, vecCol: String,
                       prefix: String, path: String, buckets: Int = 32,
                       planes: Int = 4, dims: Int = 64, tables: Int = 4,
                       native: Boolean = false): Unit = {
    import graft.llm.Similarity.{norm, tableCodes}
    graft.sinks.Bucketed.writeBucketed(
      corpus.select(col(idCol).as("id"),
          explode(tableCodes(col(vecCol), planes, dims, tables, native))
            .as("tc"))
        .select(col("id"), col("tc.t").as("t"), col("tc.code").as("code")),
      s"${prefix}_codes", s"$path/codes", Seq("t", "code"), buckets)
    graft.sinks.Bucketed.writeBucketed(
      corpus.select(col(idCol).as("id"), col(vecCol).as("vec"),
        norm(col(vecCol)).as("nrm")),
      s"${prefix}_vecs", s"$path/vecs", Seq("id"), buckets)
  }

  /** The (codes, vectors) delta frames for appending `batch` to a
    * stored cosine index — the per-batch increment the streaming
    * pipeline writes next to [[cosineIndexStore]]'s base tables. */
  def cosineIndexDelta(batch: DataFrame, idCol: String, vecCol: String,
                       planes: Int = 4, dims: Int = 64, tables: Int = 4,
                       native: Boolean = false)
      : (DataFrame, DataFrame) = {
    import graft.llm.Similarity.{norm, tableCodes}
    (batch.select(col(idCol).as("id"),
        explode(tableCodes(col(vecCol), planes, dims, tables, native))
          .as("tc"))
      .select(col("id"), col("tc.t").as("t"), col("tc.code").as("code")),
     batch.select(col(idCol).as("id"), col(vecCol).as("vec"),
       norm(col(vecCol)).as("nrm")))
  }

  /** Lazily-built probe frames against a stored cosine index (split
    * out for PlanAuditSpec). Returns (cross, verified, candCache); the
    * caller unpersists `candCache` after consuming `verified`. Shapes
    * mirror [[minhashStoredProbe]]: the stored code table streams
    * through a broadcast hash join against the batch's multi-probe
    * keys (zero corpus-side exchanges); candidate vectors come from
    * the bucketed vector store via id LITERALS (file-pruned), unioned
    * with the batch's own vectors — the corpus is never scanned. */
  private[graft] def cosineStoredProbe(batch: DataFrame, idCol: String,
      vecCol: String, prefix: String, threshold: Double, planes: Int,
      dims: Int, tables: Int, maxFlips: Int, native: Boolean)
      : (DataFrame, DataFrame, DataFrame) = {
    import graft.llm.Similarity.{dot, norm, probeMasks, tableCodes}
    val spark = batch.sparkSession
    val bCodes0 = batch.select(col(idCol).as("id"),
        tableCodes(col(vecCol), planes, dims, tables, native).as("tcs"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bCoded = bCodes0.select(col("id"), explode(col("tcs")).as("tc"))
    val masks = probeMasks(planes, maxFlips)
    val bProbed = bCodes0.select(col("id"),
      explode(flatten(transform(col("tcs"), tc =>
        array(masks.map(m => struct(tc.getField("t").as("t"),
          tc.getField("code").bitwiseXOR(lit(m)).as("code"))): _*))))
        .as("probe"))
    val idx = spark.table(s"${prefix}_codes")
    // multi-probe flips ride the BATCH side only — O(batch × tables ×
    // probes) broadcast rows; the stored code table streams unshuffled
    val cross = idx.as("b").join(broadcast(bProbed.as("a")),
        col("a.probe.t") === col("b.t") &&
        col("a.probe.code") === col("b.code"))
      .select(least(col("a.id"), col("b.id")).as("id_a"),
        greatest(col("a.id"), col("b.id")).as("id_b"))
    val within = bProbed.as("a").join(bCoded.as("b"),
        col("a.probe") === col("b.tc") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
    val cand = cross.unionByName(within).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    cand.count()
    bCodes0.unpersist()
    // candidate ids (batch × bucket occupancy) become LITERALS against
    // the bucketed vector store while small; at realistic occupancy the
    // set can approach the corpus, so storeLookup switches to a
    // broadcast semi-join past the literal budget. Batch ids are
    // disjoint from the store by contract so the union double-serves
    // nothing
    val candIdsDf = cand.select(col("id_a").as("id"))
      .unionByName(cand.select(col("id_b").as("id"))).distinct()
    val corpusVecs = storeLookup(spark.table(s"${prefix}_vecs"), "id",
      candIdsDf)
    val batchVecs = batch.select(col(idCol).as("id"),
      col(vecCol).as("vec"), norm(col(vecCol)).as("nrm"))
    val side = batchVecs.unionByName(corpusVecs)
    val verified = cand
      .join(side.select(col("id").as("id_a"), col("vec").as("va"),
        col("nrm").as("na")), "id_a")
      .join(side.select(col("id").as("id_b"), col("vec").as("vb"),
        col("nrm").as("nb")), "id_b")
      .where(dot(col("va"), col("vb")) / (col("na") * col("nb")) >= threshold)
      .select("id_a", "id_b")
    (cross, verified, cand)
  }

  /** Incremental embedding near-dup against a STORED index
    * ([[cosineIndexStore]]): the corpus is never read, coded, or
    * normed per arriving batch — probe cost is O(batch × tables ×
    * probes) broadcast rows against the bucketed code table plus
    * file-pruned vector fetches for candidates. Wall time is a
    * function of BATCH size and bucket occupancy, not corpus size —
    * PROVIDED the code space is sized to the corpus: occupancy per
    * (table, code) bucket is ~corpus/2^planes, so a growing corpus
    * needs planes ∝ log2(corpus) to keep probes flat (measured in
    * SCALING.md's 100× tier: a fixed 4-bit space degraded 65×, the
    * scaled 11-bit space stayed flat at the same recall config).
    * Same candidate algebra and verify as
    * [[cosineIncrementalVerified]] — outputs are identical by
    * construction. Ids must be disjoint; pairs emit as id_a < id_b. */
  def cosineIncrementalStored(batch: DataFrame, idCol: String,
                              vecCol: String, prefix: String,
                              threshold: Double, planes: Int = 4,
                              dims: Int = 64, tables: Int = 4,
                              maxFlips: Int = 2,
                              native: Boolean = false): DataFrame = {
    val (_, verified, cand) = cosineStoredProbe(batch, idCol, vecCol,
      prefix, threshold, planes, dims, tables, maxFlips, native)
    val out = materializeOffCache(verified)
    cand.unpersist()
    out
  }

  /** SimHash-64: per token-hash, vote +1/-1 on each bit; the fingerprint
    * sets bit i when votes are positive. Expressed as 64 per-row
    * aggregates over the token array — no shuffle, codegen'd.
    */
  def simhash64(text: Column): Column = {
    val hashes = transform(array_distinct(tokens(text)), t => xxhash64(t))
    // Single pass over the token hashes with a 64-counter array state
    // (the naive 64 × aggregate(hashes, ...) re-tokenized the text 64×
    // per row); the fingerprint is assembled in the `finish` lambda
    // where `votes` is an already-computed bound variable.
    aggregate(hashes, array_repeat(lit(0), 64),
      (acc, h) => zip_with(acc,
        // branch-free ±1: (bit·2 − 1) ≡ when(bit==1, 1).otherwise(-1)
        // with two fewer interpreted nodes per bit lane (HOFs never
        // reach codegen, so node count is the per-element cost)
        transform(sequence(lit(0), lit(63)), i =>
          (call_function("shiftright", h, i).bitwiseAND(1) * 2 - 1)
            .cast("int")),
        (a, b) => a + b),
      votes => aggregate(
        zip_with(votes, sequence(lit(0), lit(63)), (v, i) =>
          when(v > 0, call_function("shiftleft", lit(1L), i))
            .otherwise(lit(0L))),
        lit(0L), (a, b) => a.bitwiseOR(b)))
  }

  /** SimHash near-dup pairs: block on 4 × 16-bit bands (any pair within
    * Hamming distance ≤ 3 shares at least one intact band), verify exact
    * Hamming distance via bit_count(xor).
    */
  def simhashPairs(df: DataFrame, textCol: String, idCol: String,
                   maxHamming: Int = 3, native: Boolean = false): DataFrame = {
    // native = codegen'd SimHash64 expression (bit-identical, pinned by
    // q_simhash_native); requires GraftExtensions registered
    val sigExpr = if (native) call_function("graft_simhash64", col(textCol))
      else simhash64(col(textCol))
    val sigs = df.select(col(idCol).as("id"), sigExpr.as("sig"))
      .withColumn("band", explode(array((0 until 4).map(b =>
        struct(lit(b).as("b"),
          shiftright(col("sig"), b * 16).bitwiseAND(0xffffL).as("v"))): _*)))
    val a = sigs.as("a"); val b = sigs.as("b")
    a.join(b, col("a.band") === col("b.band") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        bit_count(col("a.sig").bitwiseXOR(col("b.sig"))).as("hamming"))
      // hamming ≤ maxHamming BEFORE the dedup exchange: hamming is a
      // function of the pair, so filter∘distinct ≡ distinct∘filter —
      // far-pair candidates never shuffle (the r17 imageNearDup move,
      // §2.3 shuffle fewer bytes)
      .where(col("hamming") <= maxHamming)
      .distinct()
  }

  /** SEMANTIC DEDUP (the SemDeDup family, Abbas et al. 2023): drop an
    * embedding when a LOWER-ID embedding lies within the cosine
    * threshold, keeping exactly one representative per ε-ball chain.
    * The drop rule is non-greedy (any lower-id neighbor disqualifies,
    * kept or not) so the kept set is declarative — independent of
    * execution order and recomputable by a plain NOT-EXISTS query —
    * where the paper's greedy per-cluster walk depends on visit order.
    *
    * Scale shape: candidate pairs come from [[cosinePairsLsh]] (keyed
    * (table, code) joins — never a cartesian; full recall at gate
    * config, measured by AnnRecall), then one keyed anti-join marks the
    * dropped side. Emits (id, keep) for the whole corpus so downstream
    * filters — or audits of the drop rate — are a predicate away. */
  def semDedup(df: DataFrame, idCol: String, vecCol: String,
               threshold: Double, planes: Int = 4, dims: Int = 64,
               tables: Int = 4, maxFlips: Int = 2,
               native: Boolean = false): DataFrame = {
    val pairs = cosinePairsLsh(df, idCol, vecCol, threshold, planes,
      dims, tables, maxFlips, native)
    // a vector is dropped iff it appears as the HIGHER id of any pair
    val drops = pairs.select(col("id_b").as("__drop")).distinct()
    df.join(drops, col(idCol) === col("__drop"), "left")
      .select(col(idCol), col("__drop").isNull.as("keep"))
  }

  /** EXACT-SUBSTRING dedup — the sliding-window flavor (Lee et al.
    * 2021, "Deduplicating Training Data Makes Language Models Better"):
    * every `minTokens`-token window is fingerprinted; a window seen
    * earlier in the corpus (by (doc id, position) order) marks its span
    * for removal, overlapping marked spans coalesce implicitly through
    * per-token coverage, and documents are rewritten without the
    * covered tokens. Unlike [[segmentDedup]]'s fixed tiling this
    * catches duplicated passages at ANY offset — the suffix-array
    * result, re-expressed as gram algebra that shuffles instead of
    * building a global index. Degenerate self-repeats (aaa…) collapse
    * to their first window, which is exactly what substring dedup is
    * for.
    *
    * Scale shape: window construction is per-row HOF work; the
    * first-occurrence pass shuffles (md5(window), occurrence-key) ONCE
    * keyed by the 32-char digest — never the window text; span
    * collection is one doc-keyed shuffle of only the DUPLICATED
    * windows; the rewrite is a per-row filter over the collected span
    * list. Docs shorter than `minTokens` never enter the shuffle. */
  def dedupSubstrings(df: DataFrame, textCol: String, idCol: String,
                      minTokens: Int = 15): DataFrame = {
    require(minTokens > 1, "minTokens must be > 1")
    val L = minTokens
    val toks = tokens(col(textCol))
    val n = size(toks)
    val gramsCol = when(n >= L,
      transform(sequence(lit(0), n - L), p =>
        struct(p.as("p"),
          md5(array_join(slice(toks, p + 1, lit(L)), " ")).as("h"))))
      .otherwise(array().cast("array<struct<p:int,h:string>>"))
    val base = df.select(col(idCol).as("id"), toks.as("toks"),
      n.as("n"), gramsCol.as("grams"))
    val occ = base.select(col("id"), explode(col("grams")).as("g"))
      .select(col("id"), col("g.p").as("p"), col("g.h").as("h"))
      .withColumn("okey", col("id") * 1000000L + col("p"))
    val firsts = occ.groupBy(col("h")).agg(min(col("okey")).as("fk"))
    val spans = occ.join(firsts, "h").where(col("okey") =!= col("fk"))
      .groupBy(col("id"))
      .agg(collect_list(struct(col("p").as("s"),
        (col("p") + lit(L - 1)).as("e"))).as("sp"))
    base.join(spans, Seq("id"), "left")
      .select(col("id"), col("n"), col("toks"),
        coalesce(col("sp"),
          array().cast("array<struct<s:int,e:int>>")).as("sp"))
      .select(col("id"), col("n"),
        filter(col("toks"), (_, q) =>
          !exists(col("sp"), s2 =>
            s2.getField("s") <= q && q <= s2.getField("e"))).as("kept"))
      .select(col("id"),
        array_join(col("kept"), " ").as("clean_text"),
        col("n").as("n_tokens"),
        (col("n") - size(col("kept"))).as("n_removed"))
  }

  /** SEGMENT-LEVEL corpus dedup — the C4/RefinedWeb "line dedup" step:
    * any text segment that occurs more than once ACROSS THE CORPUS is
    * kept only at its first occurrence (ordered by (doc id, position))
    * and removed everywhere else, then documents are reassembled from
    * their surviving segments. Boilerplate (headers, footers, license
    * blocks) dies corpus-wide in one pass without a curated list.
    *
    * Real web text segments on newlines; this corpus is single-line, so
    * the segmenter is fixed `segTokens`-token windows — the semantics
    * (hash → first-occurrence → rewrite) are separator-independent.
    *
    * Scale shape: segment construction is per-row HOF work (no
    * explode-then-window); the first-occurrence pass is ONE shuffle of
    * (segment, occurrence-key) keyed by segment hash — the same
    * cardinality as exact dedup's — and reassembly is one shuffle of
    * the SURVIVING segments keyed by doc id. The occurrence key packs
    * (doc id, position) into a single long so "first" is the same total
    * order on any engine. */
  def segmentDedup(df: DataFrame, textCol: String, idCol: String,
                   segTokens: Int = 10): DataFrame = {
    require(segTokens > 0, "segTokens must be positive")
    val toks = tokens(col(textCol))
    val nseg = ceil(size(toks) / lit(segTokens.toDouble)).cast("int")
    val segsCol = when(size(toks) > 0,
      transform(sequence(lit(0), nseg - 1), i =>
        array_join(slice(toks, i * segTokens + 1, lit(segTokens)), " ")))
      .otherwise(array().cast("array<string>"))
    val base = df.select(col(idCol).as("id"), nseg.as("nseg"),
      segsCol.as("segs"))
    val occ = base.select(col("id"), col("nseg"),
        posexplode(col("segs")).as(Seq("seg_no", "seg")))
      // position budget: 1e6 segments per document (a 10M-token doc at
      // the default window) before keys could collide
      .withColumn("okey", col("id") * 1000000L + col("seg_no"))
    val firsts = occ.groupBy(col("seg"))
      .agg(min(col("okey")).as("first_okey"))
    val kept = occ.join(firsts, "seg")
      .where(col("okey") === col("first_okey"))
    val reassembled = kept.groupBy(col("id"))
      .agg(
        array_join(transform(array_sort(
            collect_list(struct(col("seg_no"), col("seg")))),
          s => s.getField("seg")), " ").as("clean_text"),
        count(lit(1)).as("n_kept"))
    base.select(col("id"), col("nseg"))
      .join(reassembled, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        col("nseg").as("n_segments"),
        (col("nseg") - coalesce(col("n_kept"), lit(0L))).cast("int")
          .as("n_dropped"))
  }

  /** SemDeDup with the paper's ACTUAL candidate structure (Abbas et
    * al. 2023 §3): k-means-cluster the embeddings first, then compare
    * pairs only WITHIN a cluster — the clustering is what turns an
    * O(n²) all-pairs cosine into k independent O((n/k)²) blocks that
    * each fit a task. Same non-greedy drop rule as [[semDedup]] (any
    * lower-id same-cluster neighbor within the threshold disqualifies)
    * so the kept set replays as a declarative NOT-EXISTS restricted to
    * equal cluster assignment.
    *
    * Scale shape: assignment is map-only ([[Similarity.kmeansAssign]]
    * with driver-bounded centroid literals); the pair join is keyed on
    * cluster — one shuffle, never a cartesian — and cluster sizes are
    * bounded by k (size skew is the operator's tuning knob, exactly as
    * in the paper). Trade vs the LSH tier: recall is exact WITHIN
    * clusters and zero ACROSS them — the paper accepts cross-cluster
    * misses by design; the LSH tier catches them probabilistically. */
  def semDedupClustered(df: DataFrame, idCol: String, vecCol: String,
                        centroids: Seq[(Long, Array[Double])],
                        threshold: Double): DataFrame = {
    import graft.llm.Similarity.{dot, norm}
    val assigned = graft.llm.Similarity.kmeansAssign(df, idCol, vecCol,
      centroids)
    // one lazy plan, no persist/materialize barriers: each self-join
    // leg recomputes scan + assign + norm — map-only linear passes
    // (assignment is codegen'd graft_l2sq against literal centroids)
    // against the per-PAIR dot work of the cluster-keyed join. The r17
    // persist cached corpus-sized (vec, nrm) rows and paid a cache
    // populate + an off-cache write job to release it; re-scanning the
    // column-pruned parquet is cheaper at fixture scale and no worse
    // at 100 TB.
    val side = df.join(assigned, idCol)
      .select(col(idCol).as("id"), col("cluster"), col(vecCol).as("vec"),
        norm(col(vecCol)).as("nrm"))
    val drops = side.as("a").join(side.as("b"),
        col("a.cluster") === col("b.cluster") && col("a.id") < col("b.id"))
      .where(dot(col("a.vec"), col("b.vec")) /
        (col("a.nrm") * col("b.nrm")) >= threshold)
      .select(col("b.id").as("__drop")).distinct()
    df.join(drops, col(idCol) === col("__drop"), "left")
      .join(assigned, idCol)
      .select(col(idCol), col("cluster"),
        col("__drop").isNull.as("keep"))
  }

  /** WITHIN-document segment dedup — the per-doc half of the C4-style
    * repetition cleanup: tile each doc into `n`-token segments, keep
    * each segment's FIRST occurrence within its own document, and
    * reassemble. Catches the "same paragraph pasted five times" page
    * without any cross-document state: pure per-row column work, ZERO
    * shuffle (contrast [[segmentDedup]], which dedups corpus-wide and
    * pays two keyed exchanges). `array_distinct` preserves
    * first-occurrence order, which is exactly the rewrite rule. */
  def dedupSegmentsWithinDoc(df: DataFrame, textCol: String,
                             idCol: String, n: Int = 10): DataFrame = {
    val toks = tokens(col(textCol))
    // `/` is double division in Spark — cast back for sequence()
    val m = ((size(toks) + n - 1) / n).cast("int") // ≥ 1: tokens("") is [""]
    val tiles = transform(sequence(lit(0), m - 1),
      i => array_join(slice(toks, i * n + 1, lit(n)), " "))
    df.select(col(idCol).as("id"), tiles.as("__t"))
      .select(col("id"),
        array_join(array_distinct(col("__t")), " ").as("clean_text"),
        size(col("__t")).as("n_segments"),
        size(array_distinct(col("__t"))).as("n_kept"))
  }

  // --------------------------------------------------------------------
  // Exact dedup against a STORED membership index (Bloom + digest store)
  // --------------------------------------------------------------------

  /** Slot key for the stored exact-dedup state: first 4 hex chars of
    * the md5 digest, mod `slots`. Digests are uniform, so slots are
    * balanced by construction. [[digestSlotOf]] is the driver-side
    * twin — the probe computes candidate slots as literals with it. */
  private def digestSlot(digest: Column, slots: Int): Column =
    pmod(conv(substring(digest, 1, 4), 16, 10).cast("int"), lit(slots))

  private def digestSlotOf(digest: String, slots: Int): Int =
    java.lang.Integer.parseInt(digest.substring(0, 4), 16) % slots

  /** Build the stored EXACT-dedup membership state for a corpus —
    * the 100 TB shape for "have we seen this content before":
    *
    *  - `{prefix}_digests` — (digest, min id), PARTITIONED by digest
    *    slot and sorted by digest within files: the exact-verify
    *    store. Directory-level partition pruning survives EVERY join
    *    strategy (bucket pruning is lost once the probe's hit side
    *    broadcasts — the planner drops bucketed scans that feed no
    *    distribution), and the in-file sort gives row-group pruning
    *    under the pushed digest-IN filter.
    *  - `{prefix}_blooms` — one Bloom filter per digest slot
    *    (`spark.util.sketch.BloomFilter`, ~9.6 bits/item at 1% fpp):
    *    the map-side membership test. Partitioned by slot so that at
    *    corpus scale no single filter must hold the whole key set —
    *    size `slots` so one slot's digests fit a task (the same
    *    arithmetic as chunk planning; 10^11 docs at 4096 slots ≈ 29 MB
    *    of filter per slot at 1% fpp).
    *
    * One corpus shuffle on digest (the groupBy), one on slot (the
    * clustered write + filter build) — both ONE-TIME costs the
    * incremental probes amortize. */
  def exactIndexStore(corpus: DataFrame, textCol: String, idCol: String,
                      prefix: String, path: String,
                      slots: Int = 64, fpp: Double = 0.01): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val dig = corpus
      .select(md5(col(textCol)).as("digest"), col(idCol).cast("long").as("id"))
      .groupBy("digest").agg(min("id").as("id"))
      .withColumn("slot", digestSlot(col("digest"), slots))
    dig.repartition(col("slot")).sortWithinPartitions("digest")
      .write.mode("overwrite").partitionBy("slot")
      .option("path", s"$path/digests")
      .saveAsTable(s"${prefix}_digests")
    // per-slot Bloom build: each slot's digests stream into one task;
    // the buffer exists because BloomFilter.create needs the expected
    // cardinality up front — bounded by corpus/slots via the contract
    // above
    spark.table(s"${prefix}_digests")
      .select(col("slot").cast("int"), col("digest"))
      .as[(Int, String)]
      .groupByKey(_._1)
      .mapGroups { (slot, it) =>
        val items = it.map(_._2).toArray
        val bf = org.apache.spark.util.sketch.BloomFilter
          .create(math.max(items.length, 1).toLong, fpp)
        items.foreach(bf.putString)
        val bos = new java.io.ByteArrayOutputStream()
        bf.writeTo(bos)
        (slot, items.length.toLong, bos.toByteArray)
      }
      .toDF("slot", "n_digests", "bloom")
      .write.mode("overwrite").option("path", s"$path/blooms")
      .saveAsTable(s"${prefix}_blooms")
  }

  /** The lazily-built probe frames against a stored exact-dedup index
    * (split out so PlanAuditSpec can assert shapes). Returns
    * (bloomPositives, result). Shapes:
    *  - the Bloom pass cogroups the batch with the filter table on
    *    slot — the batch shuffles (batch-sized), the filter table is
    *    O(slots) rows, each slot's filter deserializes ONCE and the
    *    slot's rows stream through it. The corpus is NOT read.
    *  - Bloom NEGATIVES are definitive (no false negatives): those
    *    rows never consult the store at all — at a 1% fpp this is
    *    ~99% of genuinely-new content skipping the store entirely.
    *  - Bloom POSITIVES verify against `{prefix}_digests` by slot +
    *    digest LITERALS (driver-bounded: |batch| at most), so the
    *    slot-partitioned store prunes whole directories and the
    *    in-file digest sort prunes row groups; false positives simply
    *    find no store row and come back dup_of = NULL — output is
    *    exact regardless of fpp. */
  private[graft] def exactStoredProbe(batch: DataFrame, textCol: String,
      idCol: String, prefix: String, slots: Int)
      : (DataFrame, DataFrame) = {
    val spark = batch.sparkSession
    import spark.implicits._
    val b = batch.select(col(idCol).cast("long").as("id"),
      md5(col(textCol)).as("digest"))
    val bk = b.select(digestSlot(col("digest"), slots).as("slot"),
        col("id"), col("digest"))
      .as[(Int, Long, String)].groupByKey(_._1)
    val gk = spark.table(s"${prefix}_blooms")
      .select(col("slot"), col("bloom")).as[(Int, Array[Byte])]
      .groupByKey(_._1)
    val positives = bk.cogroup(gk) { (_, rows, bfs) =>
      bfs.toSeq.headOption match {
        // no corpus digest hashes to this slot → every row is new
        case None => Iterator.empty
        case Some((_, bytes)) =>
          val bf = org.apache.spark.util.sketch.BloomFilter
            .readFrom(new java.io.ByteArrayInputStream(bytes))
          rows.collect { case (_, id, dg) if bf.mightContainString(dg) =>
            (id, dg) }
      }
    }.toDF("id", "digest")
    val candDigests = positives.select("digest").distinct()
      .collect().map(_.getString(0)).toSeq
    val candSlots = candDigests.map(digestSlotOf(_, slots)).distinct
    val hits = spark.table(s"${prefix}_digests")
      .where(col("slot").isInCollection(candSlots) &&
        col("digest").isInCollection(candDigests))
      .select(col("digest"), col("id").as("dup_of"))
    (positives,
      b.join(hits, Seq("digest"), "left").select("id", "digest", "dup_of"))
  }

  /** Incremental EXACT dedup against the STORED membership index
    * ([[exactIndexStore]]): emits every batch row with `dup_of` = the
    * stored corpus id owning identical content, or NULL for new
    * content. The corpus is never scanned — Bloom negatives are
    * definitive map-side, Bloom positives become digest literals that
    * file-prune the bucketed digest store. Wall time is a function of
    * BATCH size and hit rate, not corpus size. */
  def exactIncrementalStored(batch: DataFrame, textCol: String,
                             idCol: String, prefix: String,
                             slots: Int = 64): DataFrame = {
    val (_, result) = exactStoredProbe(batch, textCol, idCol, prefix, slots)
    result
  }
}
