package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-quality analysis for training-data pipelines: stats, quality
  * scoring, language ID, token counting, fingerprinting.
  *
  * Everything is per-row Catalyst column math — whole-stage codegen, no
  * UDFs, no shuffle — so all of it runs at scan speed over 100 TB and
  * composes with filters (quality thresholds prune before any downstream
  * shuffle).
  */
object TextAnalysis {

  def tokens(text: Column): Column = Dedup.tokens(text)

  /** Per-document stats: characters, tokens, mean token length,
    * punctuation ratio, whitespace ratio. */
  def stats(df: DataFrame, textCol: String): DataFrame = {
    val t = col(textCol)
    val toks = tokens(t)
    df.withColumn("n_chars2", length(t))
      .withColumn("n_tokens", size(toks))
      .withColumn("avg_token_len",
        // sum of token lengths == non-whitespace chars (tokens partition
        // the text) — avoids a fold, ports to any SQL engine
        round(length(regexp_replace(t, "\\s", "")) /
          size(toks).cast("double"), 6))
      .withColumn("punct_ratio",
        round(length(regexp_replace(t, "[A-Za-z0-9\\s]", "")) /
          length(t).cast("double"), 6))
      .withColumn("space_ratio",
        round((length(t) - length(regexp_replace(t, "\\s", ""))) /
          length(t).cast("double"), 6))
  }

  /** Stopword ratio against a fixed list (quality signal). */
  def stopwordRatio(text: Column, stopwords: Seq[String]): Column = {
    val toks = tokens(text)
    round(size(filter(toks, x => x.isInCollection(stopwords))) /
      size(toks).cast("double"), 6)
  }

  /** Composite quality score in [0,1]: rewards mid-length docs, prose
    * punctuation levels, and a healthy stopword ratio — the usual
    * C4/Gopher-style cheap filters.
    */
  def qualityScore(text: Column, stopwords: Seq[String]): Column = {
    val lenScore = least(length(text) / lit(500.0), lit(1.0))
    val punct = length(regexp_replace(text, "[A-Za-z0-9\\s]", "")) /
      length(text).cast("double")
    val punctScore = when(punct <= 0.1, lit(1.0)).otherwise(
      greatest(lit(0.0), lit(1.0) - (punct - 0.1) * 5))
    val stopScore = least(stopwordRatio(text, stopwords) * 5, lit(1.0))
    round((lenScore + punctScore + stopScore) / 3, 6)
  }

  /** VOCABULARY MINING: the corpus's top-k word n-grams by DOCUMENT
    * frequency (distinct per doc — the signal stopword/boilerplate
    * lists and tokenizer-merge seeds are built from). Deterministic
    * selection: ties at the k-th count break on the gram string, so
    * the result is engine-exact.
    *
    * Scale shape: explode + one partially-aggregated groupBy(gram),
    * then TakeOrdered over the (gram, count) aggregate — the top-k
    * never materializes a global sort of the vocabulary. */
  def topNgrams(df: DataFrame, textCol: String, n: Int, k: Int): DataFrame =
    df.select(explode(array_distinct(
        Dedup.shingles(col(textCol), n))).as("gram"))
      .groupBy("gram").agg(count(lit(1)).as("docs"))
      .orderBy(col("docs").desc, col("gram").asc)
      .limit(k)

  /** DOMAIN-level quality stats: sources whose share of low-quality
    * documents exceeds `maxBadPct` percent — the C4/RefinedWeb-style
    * step that drops a whole bad domain instead of sieving it doc by
    * doc. The verdict is pure integer arithmetic (`bad × 100 > n ×
    * maxBadPct`) so it is engine-exact; the per-doc predicate reuses
    * [[qualityScore]], whose rounded values already oracle hash-exact.
    *
    * Scale shape: per-row scoring is map-only, the per-source counts
    * partial-aggregate map-side, and the resulting source stats are
    * tiny (≪ doc count) — at 100 TB this is one pass + one small
    * keyed agg. */
  def sourceQualityStats(df: DataFrame, textCol: String, srcCol: String,
                         stopwords: Seq[String],
                         docThreshold: Double = 0.6,
                         maxBadPct: Int = 40): DataFrame =
    df.withColumn("__q", qualityScore(col(textCol), stopwords))
      .groupBy(col(srcCol))
      .agg(count(lit(1)).as("n"),
        count(when(col("__q") < docThreshold, 1)).as("bad"))
      .withColumn("dropped", col("bad") * 100 > col("n") * maxBadPct)

  /** Corpus minus bad domains: broadcast anti-join on the flagged
    * sources, corpus never shuffled. */
  def filterBySourceQuality(df: DataFrame, textCol: String, srcCol: String,
                            stopwords: Seq[String],
                            docThreshold: Double = 0.6,
                            maxBadPct: Int = 40): DataFrame =
    df.join(
      broadcast(sourceQualityStats(df, textCol, srcCol, stopwords,
          docThreshold, maxBadPct)
        .where(col("dropped")).select(srcCol)),
      Seq(srcCol), "left_anti")

  /** Language-marker token lists. Deterministic scoring: distinct-token
    * overlap with each marker list; CJK characters short-circuit to zh.
    */
  val Markers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "is", "to", "in", "that"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "zu"),
    "fr" -> Seq("le", "la", "les", "et", "est", "un", "une", "dans"),
    "es" -> Seq("el", "los", "las", "es", "un", "una", "que", "para"))

  /** n-gram-heuristic language ID. Ties resolve in Markers order
    * (en > de > fr > es); no marker hit → 'und' (undetermined). */
  def langId(text: Column): Column = {
    val toks = array_distinct(tokens(text))
    val scores = Markers.map { case (lang, words) =>
      lang -> size(array_intersect(toks, array(words.map(lit): _*)))
    }
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    val pick = scores.reverse.foldLeft(lit("und")) { case (acc, (lang, s)) =>
      when(s === best && s > 0, lang).otherwise(acc)
    }
    when(length(regexp_replace(text, "[^\\u4e00-\\u9fff]", "")) > 0, "zh")
      .otherwise(pick)
  }

  /** Token counting: whitespace tokens, BPE-ish subword pieces (letter
    * runs / digit runs / single punctuation), and the chars/4 estimate.
    */
  def tokenCounts(df: DataFrame, textCol: String): DataFrame = {
    val t = col(textCol)
    df.withColumn("ws_tokens", size(tokens(t)))
      .withColumn("bpe_tokens",
        size(regexp_extract_all(lower(t), lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0))))
      .withColumn("est_tokens", ceil(length(t) / 4.0).cast("long"))
  }

  /** Content fingerprints: md5 of whitespace-normalized text, and a
    * polynomial rolling hash over tokens
    * (acc = (acc*131 + ascii(first char) + len) mod 1e9+7). The modulus
    * keeps every intermediate < 2^37 so the arithmetic is portable —
    * BIGINT-safe in engines that error on int64 overflow.
    */
  def fingerprint(df: DataFrame, textCol: String): DataFrame = {
    val t = col(textCol)
    val normalized = trim(regexp_replace(t, "\\s+", " "))
    val p = lit(1000000007L)
    df.withColumn("fp_md5", md5(normalized))
      .withColumn("fp_roll",
        aggregate(tokens(t), lit(0L),
          (acc, x) => pmod(acc * 131 + ascii(x) + length(x), p)))
  }

  /** Boilerplate removal by segment document-frequency (the CCNet /
    * RefinedWeb line-dedup family): split each document on `sep`, drop
    * every segment that occurs in MORE than `maxDocFreq` distinct
    * documents (headers, footers, nav chrome — at web scale `sep` is
    * `"\n"` and the hot set is tiny), reassemble survivors in original
    * order. Documents whose every segment was boilerplate come back
    * empty, not missing.
    *
    * Scale shape: one distinct+agg for segment document frequencies
    * (map-side combined), the hot-segment set broadcast into a
    * left-anti join (it is small BY DEFINITION — only segments in
    * > maxDocFreq docs), one groupBy(doc) to reassemble. Never an
    * all-pairs anything.
    */
  def stripBoilerplate(df: DataFrame, textCol: String, idCol: String,
                       maxDocFreq: Long, sep: String = "\n"): DataFrame = {
    val quoted = java.util.regex.Pattern.quote(sep)
    val segs = df.select(col(idCol).as("id"),
        posexplode(split(col(textCol), quoted)).as(Seq("i", "seg")))
    val hot = segs.select("seg", "id").distinct()
      .groupBy("seg").agg(count(lit(1)).as("dfreq"))
      .where(col("dfreq") > maxDocFreq).select("seg")
    val kept = segs.join(broadcast(hot), Seq("seg"), "left_anti")
    val rebuilt = kept.groupBy("id").agg(
      array_join(transform(array_sort(collect_list(struct(col("i"), col("seg")))),
        s => s.getField("seg")), sep).as("clean_text"))
    df.select(col(idCol).as("id")).join(rebuilt, Seq("id"), "left")
      .select(col("id").as(idCol),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  /** Text cleaning: NFC unicode normalization (via the codegen'd
    * `graft_nfc` kernel), control/format-character strip, whitespace
    * collapse, trim — the canonicalization pass that runs before any
    * hashing/dedup so visually-identical text hashes identically. */
  def cleanText(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(call_function("graft_nfc", text),
        "[\\x00-\\x08\\x0B-\\x1F\\x7F]", ""),
      "\\s+", " "))

  /** Deterministic train/validation/test SPLIT assignment by id-hash
    * bucket — the reproducible alternative to `sample()`, whose output
    * depends on partition layout and so cannot be re-derived, audited,
    * or joined against later. The first 4 hex chars of md5(id) give a
    * uniform 16-bit bucket; at fixed width, lexicographic order on
    * lowercase hex IS numeric order, so the split is two string
    * compares — codegen'd, engine-portable (DuckDB replays it
    * verbatim), no shuffle. Permille thresholds: default 950/25/25. */
  def assignSplit(id: Column, trainPermille: Int = 950,
                  valPermille: Int = 25): Column = {
    require(trainPermille + valPermille <= 1000)
    val h = substring(md5(id.cast("string")), 1, 4)
    val t1 = f"${65536L * trainPermille / 1000}%04x"
    val t2 = f"${65536L * (trainPermille + valPermille) / 1000}%04x"
    when(h < t1, "train").when(h < t2, "validation").otherwise("test")
  }

  /** Deterministic EPOCH SHUFFLE: a reproducible global permutation of
    * the corpus per (seed, epoch) — what a training run needs instead
    * of `orderBy(rand())`, whose order depends on partition layout and
    * can never be replayed for a crashed run or audited against a loss
    * spike. Position = global rank of md5(seed ‖ id); different seeds
    * give independent permutations (epoch k uses seed "base-k"), and
    * any engine rederives byte-identical order.
    *
    * Scale shape — the standard two-phase distributed rank, NOT a
    * global `Window.orderBy` (which executes single-partition). The
    * hash key buys a shortcut over the generic TeraSort shape: md5 is
    * UNIFORM, so `bucket = floor(first32bits(h) · n / 2³²)` is a
    * DETERMINISTIC, balanced, order-preserving range partitioning
    * (bucket is monotone in h) — no sampled range partitioner, hence
    * no materialization barrier to freeze sampled boundaries
    * (recomputation reproduces identical buckets, unlike the
    * parquet-scratch variant this replaced). Pass 1 partial-aggregates
    * bucket counts map-side (an n-row exchange — planner metadata,
    * like chunk boundaries); pass 2 is ONE hash exchange + per-bucket
    * sort (the window partitions by bucket, never a single global
    * partition) with the prefix-sum offsets added back as a literal
    * decode. */
  def epochShuffle(df: DataFrame, idCol: String, seed: String,
                   partitions: Int = 0): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val n = if (partitions > 0) partitions
      else df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val h = md5(concat(lit(seed), lit("-"), col(idCol).cast("string")))
    // first 8 hex chars = top 32 bits; ·n/2³² keeps the bucket id
    // monotone in the full hash (lowercase hex sorts numerically)
    val bucket = (conv(substring(col("__h"), 1, 8), 16, 10).cast("long") *
      n / 4294967296L).cast("long")
    val withB = df.withColumn("__h", h).withColumn("__b", bucket)
    val counts = withB.groupBy("__b").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).sortBy(_._1)
    val offsets = counts.scanLeft(0L)(_ + _._2).zip(counts)
      .map { case (off, (b, _)) => b -> off }
    // prefix-sum offsets rejoin as a BROADCAST hash join on __b, not a
    // folded when-chain: one branch per shuffle partition would blow
    // codegen's 64 KB method limit at production partition counts
    // (2,000–10,000) and fall back to interpreted eval; the broadcast
    // side is n rows of planner metadata (pinned in PlanAuditSpec at
    // n=4096)
    val spark = df.sparkSession
    val offsetsDf = spark.createDataFrame(offsets.toSeq)
      .toDF("__b", "__off")
    val w = Window.partitionBy(col("__b")).orderBy(col("__h"), col(idCol))
    withB.join(broadcast(offsetsDf), Seq("__b"))
      .withColumn("shuffle_pos",
        col("__off") + row_number().over(w).cast("long") - 1)
      .drop("__h", "__b", "__off")
  }

  /** PII scrubbing — the redaction pass every public training-data
    * pipeline runs before release: emails, IPv4 addresses, and phone
    * numbers become typed placeholder tokens. A pure `regexp_replace`
    * chain — codegen'd, no shuffle, scan speed over 100 TB. The
    * patterns stay inside the RE2 ∩ java.util.regex dialect so the
    * exact same strings run on any engine (pinned by the DuckDB-oracle
    * gate). Order matters: emails first (their dots must not look like
    * IPs), IPs before phones (so digit runs left by neither). */
  def scrubPii(text: Column): Column = {
    // the bare-digit alternative is digit-BOUNDED without lookbehind
    // (RE2-compatible): a run of 7–15 digits only scrubs when it is
    // not embedded in a longer digit run, so order ids / epoch
    // timestamps / 16-digit PANs survive intact instead of being
    // scrubbed piecewise; the consumed boundary chars are restored
    // via group references (empty when the parenthesized-phone
    // alternative matched). Because the trailing boundary char is
    // CONSUMED, non-overlapping matching skips every other number in a
    // run like "1234567,7654321" — so the phone replace runs TWICE:
    // pass one scrubs alternating numbers, leaving each survivor
    // bounded by non-digits, and pass two scrubs the rest.
    val phone = "\\+?\\d{1,3}[-. ]?\\(\\d{2,4}\\)[-. ]?\\d{3,4}[-. ]?\\d{3,4}" +
      "|([^0-9]|^)\\+?\\d{7,15}([^0-9]|$)"
    val noEmailIp = regexp_replace(regexp_replace(text,
      "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
      "\\b(\\d{1,3}\\.){3}\\d{1,3}\\b", "<IP>")
    regexp_replace(
      regexp_replace(noEmailIp, phone, "$1<PHONE>$2"),
      phone, "$1<PHONE>$2")
  }

  /** REPETITION signals — the published Gopher quality rules (Rae et
    * al. 2021, appendix A1.1) re-expressed at token/n-gram level:
    *
    *  - `dup_token_frac`: 1 − distinct/total tokens (per-row, no
    *    shuffle);
    *  - `dup_gram_frac`: fraction of word n-grams (with multiplicity)
    *    whose gram occurs more than once in the document;
    *  - `top_gram_char_frac`: characters covered by the most frequent
    *    n-gram — max over grams of count × gram length (spaces
    *    included) ÷ document characters. Using the max PRODUCT makes
    *    ties irrelevant, so the metric is deterministic without a
    *    tie-break rule.
    *
    * Scale shape: one explode + two keyed aggregations (doc, gram) →
    * (doc) — both map-side combinable — then a keyed join back to the
    * per-row token stats; nothing touches the corpus twice. High values
    * mean machine-generated/boilerplate repetition; threshold and drop
    * before any downstream shuffle. */
  /** Unigram corpus-frequency scoring — the LM-quality signal family
    * (CCNet scores documents by LM perplexity; at unigram granularity
    * the same signal is the tokens' corpus frequency) kept fully
    * ENGINE-EXACT: every output is a ratio of integers rounded to 6
    * places, so a DuckDB oracle replays it hash-identically — a true
    * log-perplexity would hang cross-engine equality on transcendental
    * libm ULPs.
    *
    * Outputs per document: `n_tok`; `oov_rate` (fraction of tokens
    * outside the top-`vocabSize` corpus vocabulary — high = rare or
    * garbled text); `mean_freq_ppm` (mean corpus frequency of the
    * document's tokens in parts-per-million, OOV counting 0 — low =
    * unusual text).
    *
    * Scale shape: vocabulary = top-K by (freq DESC, token ASC) — a
    * TakeOrdered over the token aggregate, K bounded by config, never
    * a global sort; the vocab then BROADCASTS into the scoring join;
    * both aggregations combine map-side. The corpus streams through
    * once for the vocab and once for the score. */
  def unigramScore(df: DataFrame, textCol: String, idCol: String,
                   vocabSize: Int = 50000): DataFrame = {
    val tok = df.select(col(idCol), explode(tokens(col(textCol))).as("t"))
    val total = tok.count() // scalar planner metadata, like cursor maxes
    val vocab = tok.groupBy("t").agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("t")).limit(vocabSize)
    tok.join(broadcast(vocab), Seq("t"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tok"),
        sum(when(col("freq").isNull, 1L).otherwise(0L)).as("n_oov"),
        sum(coalesce(col("freq"), lit(0L))).as("sumfreq"))
      .select(col(idCol), col("n_tok"),
        round(col("n_oov") / col("n_tok"), 6).as("oov_rate"),
        round((col("sumfreq") * 1e6) /
          (col("n_tok") * lit(total.toDouble)), 6).as("mean_freq_ppm"))
  }

  /** BPE merge-pair mining — the first step of byte-pair-encoding
    * tokenizer training: count adjacent character pairs across the
    * corpus, weighted by word frequency, and emit the top-k merge
    * candidates. The iteration that BPE training loops (merge the top
    * pair, recount) is driver-bounded by the merge budget; this op is
    * the per-round corpus pass.
    *
    * Scale shape: pair extraction runs over the DISTINCT-WORD
    * vocabulary (one map-side-combinable groupBy), never the raw
    * token stream — a 100 TB corpus has billions of tokens but a
    * vocab-bounded word table, so the char-pair explode touches
    * vocab×wordlen rows. Top-k is TakeOrdered with a (count desc,
    * pair asc) total order. */
  def bpePairCounts(df: DataFrame, textCol: String,
                    k: Int = 1000): DataFrame = {
    val words = df.select(explode(tokens(col(textCol))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("freq"))
    // guard: sequence(1, 0) would generate a DESCENDING range for
    // 1-char words, not an empty one
    val pairs = words.select(col("freq"),
      explode(when(length(col("w")) >= 2,
          transform(sequence(lit(1), length(col("w")) - 1),
            i => col("w").substr(i, lit(2))))
        .otherwise(array().cast("array<string>"))).as("pair"))
    pairs.groupBy("pair").agg(sum(col("freq")).as("cnt"))
      .orderBy(col("cnt").desc, col("pair")).limit(k)
  }

  /** BPE TRAINING — learn the merge table itself (Sennrich et al.
    * 2016; [[bpePairCounts]] mines the round-1 candidates,
    * [[bpeTokenCount]] applies a finished table, this is the loop
    * between them). Spellings ride as chr(1)-separated symbol strings,
    * merges apply as plain string `replace` — left-to-right and
    * non-overlapping in both engines — so the DuckDB oracle replays
    * EVERY ROUND: pair argmax (ties by pair string) and merge apply,
    * exactly.
    *
    * Scale shape: training runs on the (word, freq) VOCABULARY, the
    * way published BPE trainers do — one corpus pass builds it, and
    * each round is then a pass over vocab rows: pair counts
    * partial-agg down to a single collected argmax (planner
    * metadata), and the merge is a codegen'd replace. The declarative
    * lineage recomputes the vocab chain per round at gate scale; a
    * long production run would persist the vocab between rounds, which
    * changes nothing the oracle sees. */
  def bpeTrain(df: DataFrame, textCol: String,
               rounds: Int): DataFrame = {
    val sep = "\u0001"
    val sepL = lit(sep)
    def pairsOf(s: Column): Column = {
      val syms = split(s, sep)
      when(size(syms) >= 2,
        transform(sequence(lit(1), size(syms) - 1), i =>
          concat(element_at(syms, i), sepL, element_at(syms, i + 1))))
        .otherwise(array().cast("array<string>"))
    }
    // materialize the word-frequency vocab ONCE: every round's argmax
    // collect is an action, and without this each of the `rounds`
    // actions re-ran the corpus tokenize + groupBy from scratch — the
    // corpus is scanned once, the per-round jobs touch only the
    // (distinct-word, freq) table (bounded by vocabulary size, tiny vs
    // the corpus at any scale)
    var vocab = Dedup.materializeOffCache(
      df.select(explode(tokens(col(textCol))).as("w"))
        .groupBy("w").agg(count(lit(1)).as("freq"))
        .select(rtrim(regexp_replace(col("w"), "(.)", "$1" + sep), sep)
          .as("s"), col("freq")))
    // Scale-adaptive rounds: the vocab is bounded by vocabulary size —
    // when it fits the driver (threshold conf-overridable via
    // spark.graft.bpe.localVocabRows), the `rounds` argmax actions run
    // as one local loop over the collected (spelling, freq) rows
    // instead of `rounds` scheduler round-trips (the IVF-fit precedent:
    // codebook-class driver state). The local trainer replays the
    // distributed algebra EXACTLY — per-occurrence pair counts, argmax
    // by (cnt desc, pair asc in UTF-8 binary order — Spark's default
    // string ordering), left-to-right non-overlapping literal replace —
    // and the q_bpe_train/q_bpe_pairs oracles pin the equality. Above
    // the threshold the per-round jobs still touch only the vocab
    // table, never the corpus.
    val localThreshold = longConf(df.sparkSession,
      "spark.graft.bpe.localVocabRows", 100000L)
    val merges = Seq.newBuilder[(Int, String, String, Long)]
    // `sep` is a literal, never a regex
    val sepRe = java.util.regex.Pattern.quote(sep)
    if (vocab.count() <= localThreshold) {
      var rows = vocab.collect().map(r => (r.getString(0), r.getLong(1)))
      for (r <- 1 to rounds) {
        val cnt = scala.collection.mutable.HashMap.empty[String, Long]
        for ((s, f) <- rows) {
          val syms = s.split(sepRe, -1)
          var i = 0
          while (i < syms.length - 1) {
            val p = syms(i) + sep + syms(i + 1)
            cnt.update(p, cnt.getOrElse(p, 0L) + f)
            i += 1
          }
        }
        require(cnt.nonEmpty, s"no pairs left to merge at round $r")
        var bestPair: String = null
        var bestCnt = Long.MinValue
        for ((p, c) <- cnt)
          if (c > bestCnt || (c == bestCnt && utf8Less(p, bestPair)))
            { bestPair = p; bestCnt = c }
        val Array(a, b) = bestPair.split(sepRe)
        merges += ((r, a, b, bestCnt))
        val from = a + sep + b; val to = a + b
        rows = rows.map { case (s, f) => (s.replace(from, to), f) }
      }
    } else {
      for (r <- 1 to rounds) {
        val best = vocab
          .select(col("freq"), explode(pairsOf(col("s"))).as("pair"))
          .groupBy("pair").agg(sum("freq").as("cnt"))
          .orderBy(col("cnt").desc, col("pair")).limit(1)
          .collect()(0)                  // one row — planner metadata
        val Array(a, b) = best.getString(0).split(sepRe)
        merges += ((r, a, b, best.getLong(1)))
        vocab = vocab.select(
          replace(col("s"), lit(a + sep + b), lit(a + b)).as("s"),
          col("freq"))
      }
    }
    import df.sparkSession.implicits._
    merges.result().toDF("round", "a", "b", "cnt")
  }

  /** Unsigned UTF-8 byte-order comparison — Spark's default
    * (UTF8_BINARY) string ordering, which the local BPE argmax
    * tie-break must replay exactly (Java String order diverges for
    * supplementary characters). */
  private def utf8Less(x: String, y: String): Boolean = {
    val a = x.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val b = y.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val n = math.min(a.length, b.length)
    var i = 0
    while (i < n) {
      val ai = a(i) & 0xff; val bi = b(i) & 0xff
      if (ai != bi) return ai < bi
      i += 1
    }
    a.length < b.length
  }

  /** The trained vocabulary after `rounds` merges: each word's final
    * symbol spelling (space-joined for readability) with its corpus
    * frequency — what a tokenizer export would serialize. */
  def bpeTrainedVocab(df: DataFrame, textCol: String,
                      rounds: Int): DataFrame = {
    val sep = "\u0001"
    val table = bpeTrain(df, textCol, rounds).collect()
      .map(r => (r.getString(1), r.getString(2)))
    // same single-materialization as bpeTrain: the merge-apply layers
    // stack on the (distinct-word, freq) table, not on corpus lineage
    var vocab = Dedup.materializeOffCache(
      df.select(explode(tokens(col(textCol))).as("w"))
        .groupBy("w").agg(count(lit(1)).as("freq"))
        .select(rtrim(regexp_replace(col("w"), "(.)", "$1" + sep), sep)
          .as("s"), col("freq")))
    for ((a, b) <- table)
      vocab = vocab.select(
        replace(col("s"), lit(a + sep + b), lit(a + b)).as("s"),
        col("freq"))
    vocab.select(replace(col("s"), lit(sep), lit(" ")).as("spelling"),
      col("freq"))
  }

  /** Apply a FIXED ranked BPE merge table and count tokens per
    * document — the tokenize-at-scale half of BPE ([[bpePairCounts]]
    * being the mining half): training learns merges once on a sample;
    * APPLYING them to the full corpus is the op that actually runs at
    * 100 TB, and that op must be map-only. Each word becomes its
    * separator-joined character sequence; each merge (a, b) → "ab"
    * rewrites every adjacent occurrence left-to-right in rank order —
    * the classic greedy BPE apply loop — expressed as a compile-time
    * fold of codegen'd `replace` calls inside a `transform` lambda.
    * No UDF, no shuffle, no stored vocab join: the merge table rides
    * the plan itself (it is tokenizer-sized, i.e. tiny). */
  def bpeTokenCount(df: DataFrame, textCol: String, idCol: String,
                    merges: Seq[(String, String)]): DataFrame = {
    val sep = "\u0001"
    val words = filter(tokens(col(textCol)), w => w =!= "")
    val perWord = transform(words, w => {
      // split(w, "") carries a trailing "" element (Java split, limit
      // -1) — drop empties before joining or every word gains a
      // phantom symbol
      val spaced = array_join(
        filter(split(w, ""), s => s =!= ""), sep)
      val merged = merges.foldLeft(spaced) { case (c, (a, b)) =>
        replace(c, lit(a + sep + b), lit(a + b))
      }
      size(split(merged, sep))
    })
    df.select(col(idCol),
      size(words).as("n_words"),
      aggregate(perWord, lit(0L), (acc, x) => acc + x.cast("long"))
        .as("n_bpe_tokens"))
  }

  /** Bigram-LM quality signal — the CCNet-family scorer one order up
    * from [[unigramScore]]: each adjacent token pair contributes its
    * corpus conditional-probability estimate B(w1,w2)/U(w1), summed
    * per document as SCALED INTEGER ratios (`B·10⁶ div U` — a real
    * log-perplexity would hang the cross-engine oracle on libm ULPs,
    * the same trade unigramScore documents). High scores = text whose
    * transitions the corpus has seen often; boilerplate-ish and
    * disfluent text scores low.
    *
    * Scale shape: bigram vocab is TakeOrdered top-K (never a full
    * sort); prefix unigram counts come from one map-side-combinable
    * groupBy and are pruned to the K vocab prefixes BEFORE the
    * broadcast, so the scoring join broadcasts ≤ K rows no matter the
    * corpus; the per-doc aggregate is partial-agg'd. One corpus
    * shuffle each for the two count tables, one for the per-doc sum. */
  def bigramScore(df: DataFrame, textCol: String, idCol: String,
                  vocabSize: Int = 10000): DataFrame = {
    val bg = df.select(col(idCol),
      explode(Dedup.shingles(col(textCol), 2)).as("g"))
    val vocab = bg.groupBy("g").agg(count(lit(1)).as("b_cnt"))
      .orderBy(col("b_cnt").desc, col("g")).limit(vocabSize)
    val uni = df.select(explode(tokens(col(textCol))).as("t"))
      .groupBy("t").agg(count(lit(1)).as("u_cnt"))
    // substring_index = the pair's prefix token (a degenerate
    // single-token "bigram" from a short doc is its own prefix)
    val scored = vocab
      .withColumn("p", substring_index(col("g"), " ", 1))
      .join(uni, col("p") === col("t"))
      .select(col("g"), col("b_cnt"), col("u_cnt"))
    bg.join(broadcast(scored), Seq("g"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_big"),
        sum(when(col("b_cnt").isNull, 1L).otherwise(0L)).as("n_oov_big"),
        sum(coalesce(expr("b_cnt * 1000000 DIV u_cnt"), lit(0L)))
          .as("lm_score"))
  }

  def repetition(df: DataFrame, textCol: String, idCol: String,
                 n: Int = 2): DataFrame = {
    val t = col(textCol)
    val tokStats = df.select(col(idCol),
      size(tokens(t)).as("n_tok"),
      size(array_distinct(tokens(t))).as("n_tok_d"))
    val grams = df.select(col(idCol), length(t).as("n_chars"),
      explode(Dedup.shingles(t, n)).as("g"))
    val gramStats = grams
      .groupBy(col(idCol), col("n_chars"), col("g"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col(idCol))
      .agg(first(col("n_chars")).as("n_chars"),
        sum(col("c")).as("n_grams"),
        sum(when(col("c") > 1, col("c")).otherwise(0L)).as("dup_grams"),
        max(col("c") * length(col("g"))).as("top_chars"))
    tokStats.join(gramStats, Seq(idCol))
      .select(col(idCol),
        round(lit(1.0) - col("n_tok_d") / col("n_tok"), 6)
          .as("dup_token_frac"),
        round(col("dup_grams") / col("n_grams"), 6).as("dup_gram_frac"),
        round(col("top_chars") / col("n_chars"), 6)
          .as("top_gram_char_frac"))
  }

  /** Winnowing fingerprints (Schleimer, Wilkerson & Aiken, SIGMOD'03 —
    * the local fingerprinting algorithm with the detection GUARANTEE:
    * any shared token run of length ≥ w+k−1 yields at least one shared
    * fingerprint, at expected density 2/(w+1)). Per doc: hash every
    * token k-gram (portable polynomial mod 1e9+7, the [[fingerprint]]
    * fold), slide a window of w hashes, select each window's minimum
    * (rightmost on ties — the argmin expressed as
    * `t + |ws| − position(reverse(ws), min(ws))` so both engines
    * compute it identically), dedupe positions. Map-only HOFs — the
    * whole op runs at scan speed; fingerprints then join/group like
    * any digest. Docs with fewer than k tokens have no k-grams and
    * emit nothing. */
  def winnowFingerprints(df: DataFrame, idCol: String, textCol: String,
                         k: Int, w: Int): DataFrame = {
    require(k >= 1 && w >= 1, "need k >= 1 and w >= 1")
    val p = 1000000007L
    val hashed = df.select(col(idCol), tokens(col(textCol)).as("toks"))
      .where(size(col("toks")) >= k)
      .withColumn("n", size(col("toks")) - (k - 1))
      .select(col(idCol),
        transform(sequence(lit(0), col("n") - 1), i =>
          aggregate(slice(col("toks"), i + 1, lit(k)), lit(0L),
            (acc, tkn) => (acc * 131L +
              (ascii(tkn) * 31 + length(tkn)).cast("long")) % p))
          .as("hashes"))
    // MATERIALIZE the hash array before the window-argmin pass. Catalyst
    // inlines single-use aliases into downstream lambdas, and HOF
    // lambdas evaluate interpreted with no common-subexpression reuse —
    // inlined, every one of the ~n window positions would recompute the
    // whole n×k hash pipeline (tokens included), turning a per-doc
    // O(n·w) selection into O(n²·k·|text|); at sf0.1 that is a
    // 30-CPU-minute straggler task (measured). The RDD round-trip is a
    // plan barrier: one row-encode per doc, zero shuffle, and the
    // selection below reads `hashes` as plain row data.
    val mat = df.sparkSession.createDataFrame(hashed.rdd, hashed.schema)
    mat
      .withColumn("m", greatest(lit(1), size(col("hashes")) - (w - 1)))
      .withColumn("sel", array_distinct(
        transform(sequence(lit(0), col("m") - 1), t => {
          val ws = slice(col("hashes"), t + 1, lit(w))
          (t + size(ws) -
            array_position(reverse(ws), array_min(ws)).cast("int"))
        })))
      .select(col(idCol), col("hashes"), explode(col("sel")).as("pos"))
      .select(col(idCol), col("pos"),
        element_at(col("hashes"), col("pos") + 1).as("fp"))
  }

  /** Near-duplicate pairs by SHARED winnow fingerprints — the use the
    * algorithm exists for: docs sharing ≥ `minShared` selected hashes
    * are candidates, and the winnowing guarantee makes every shared
    * run of ≥ w+k−1 tokens detectable. Scale shape: one keyed
    * self-join on the fingerprint hash (selected prints are a
    * 2/(w+1) sample of grams, so the join input is ~7× smaller than a
    * full shingle join at w=12) + a partial-agg pair count — never a
    * cartesian. */
  def winnowNearDup(df: DataFrame, idCol: String, textCol: String,
                    k: Int, w: Int, minShared: Int): DataFrame = {
    val fps = winnowFingerprints(df, idCol, textCol, k, w)
      .select(col(idCol), col("fp")).distinct()
    val a = fps.select(col(idCol).as("id_a"), col("fp"))
    val b = fps.select(col(idCol).as("id_b"), col("fp"))
    a.join(b, Seq("fp")).where(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).cast("int").as("shared"))
      .where(col("shared") >= minShared)
  }

  /** The published Gopher quality-rule set (Rae et al. 2021 §A1.1) as
    * a per-document decision table — the repetition rules live in
    * [[repetition]]; this covers the structural/lexical ones:
    *
    *   r_words:    50 ≤ word count ≤ 100,000
    *   r_mean_len: 3 ≤ mean word length ≤ 10
    *   r_symbol:   (# + …) symbols ≤ 0.1 per word
    *   r_bullet:   ≤ 90% of lines start with a bullet (- * •)
    *   r_ellipsis: ≤ 30% of lines end with …/...
    *   r_alpha:    ≥ 80% of words contain a letter
    *   r_stop:     ≥ 2 of the 8 canonical stop words present
    *
    * Every ratio test is cross-multiplied to INTEGER arithmetic
    * (10·sym ≤ words, not sym/words ≤ 0.1) so the decision is
    * engine-exact at the boundaries. Map-only. */
  def gopherRules(df: DataFrame, idCol: String,
                  textCol: String): DataFrame = {
    val t = col(textCol)
    val toks = tokens(t)
    val stops = Seq("the", "and", "of", "to", "in", "a", "is", "for")
    df.select(col(idCol), t.as("_t"), toks.as("_toks"))
      .withColumn("n_words", size(col("_toks")).cast("long"))
      .withColumn("sum_len", aggregate(col("_toks"), lit(0L),
        (acc, x) => acc + length(x)))
      .withColumn("n_sym",
        (regexp_count(col("_t"), lit("#")) +
          regexp_count(col("_t"), lit("\\.\\.\\.|…"))).cast("long"))
      .withColumn("_lines", split(col("_t"), "\n"))
      .withColumn("n_lines", size(col("_lines")).cast("long"))
      .withColumn("n_bullet", size(filter(col("_lines"),
        l => ltrim(l).rlike("^[-*•] "))).cast("long"))
      .withColumn("n_ellipsis", size(filter(col("_lines"),
        l => rtrim(l).rlike("(\\.\\.\\.|…)$"))).cast("long"))
      .withColumn("n_alpha", size(filter(col("_toks"),
        w => w.rlike("[a-z]"))).cast("long"))
      .withColumn("n_stop", size(array_intersect(
        array_distinct(col("_toks")),
        array(stops.map(lit): _*))).cast("long"))
      .select(col(idCol), col("n_words"),
        (col("n_words") >= 50 && col("n_words") <= 100000).as("r_words"),
        (col("sum_len") >= col("n_words") * 3 &&
          col("sum_len") <= col("n_words") * 10).as("r_mean_len"),
        (col("n_sym") * 10 <= col("n_words")).as("r_symbol"),
        (col("n_bullet") * 10 <= col("n_lines") * 9).as("r_bullet"),
        (col("n_ellipsis") * 10 <= col("n_lines") * 3).as("r_ellipsis"),
        (col("n_alpha") * 5 >= col("n_words") * 4).as("r_alpha"),
        (col("n_stop") >= 2).as("r_stop"))
      .withColumn("keep",
        col("r_words") && col("r_mean_len") && col("r_symbol") &&
          col("r_bullet") && col("r_ellipsis") && col("r_alpha") &&
          col("r_stop"))
  }

  /** The published C4 cleaning rule set (Raffel et al. 2020 §2.2) —
    * LINE-level where [[gopherRules]] is document-level:
    *
    *   line kept iff: ends in terminal punctuation (. ! ? ")
    *                  AND has ≥ 5 words
    *                  AND does not mention "javascript"
    *   page kept iff: ≥ 3 sentences remain after line filtering
    *                  AND no "lorem ipsum", no "{", no bad-word hit
    *
    * (C4's remaining rule — three-sentence-span dedup — is the
    * corpus-wide [[Dedup.segmentDedup]] family.) Sentence counting is
    * the terminal-punctuation count of the CLEANED text, so every
    * decision is string/integer-exact cross-engine. Map-only: line
    * filtering is an array HOF inside the row, no explode, no shuffle. */
  def c4Rules(df: DataFrame, idCol: String, textCol: String,
              badWords: Seq[String] = Seq("viagra")): DataFrame = {
    val t = col(textCol)
    val lines = split(t, "\n")
    val kept = filter(lines, l =>
      substring(rtrim(l), -1, 1).isin(".", "!", "?", "\"") &&
        size(split(trim(l), "\\s+")) >= 5 &&
        !lower(l).contains("javascript"))
    val clean = array_join(kept, "\n")
    val nSent = length(regexp_replace(clean, "[^.!?]", ""))
    val low = lower(t)
    val badHit = badWords.map(w => low.contains(w.toLowerCase))
      .reduce(_ || _)
    df.select(col(idCol), size(lines).as("n_lines"),
        size(kept).as("n_kept"), nSent.cast("int").as("n_sentences"),
        (!badHit && !low.contains("lorem ipsum") && !t.contains("{") &&
          nSent >= 3).as("kept"),
        clean.as("clean_text"))
  }

  /** Overlapping token-window chunking — the standard pre-embedding /
    * context-length preparation shape (chunk k covers tokens
    * [k·stride, k·stride+window)). A doc with ≤`window` tokens is one
    * chunk; otherwise 1 + ⌈(n−window)/stride⌉ chunks, so every token
    * is covered and the final chunk keeps its left overlap. Map-only
    * (tokenize once, explode the chunk-index sequence, slice) —
    * zero-shuffle at any corpus size; chunk ordering is (doc, k), no
    * global state. */
  def chunkDocs(df: DataFrame, idCol: String, textCol: String,
                window: Int, stride: Int): DataFrame = {
    require(window > 0 && stride > 0 && stride <= window,
      s"need 0 < stride <= window, got window=$window stride=$stride")
    df.select(col(idCol), tokens(col(textCol)).as("toks"))
      .withColumn("n", size(col("toks")))
      .withColumn("n_chunks",
        when(col("n") <= window, lit(1)).otherwise(
          lit(1) + ceil((col("n") - lit(window)).cast("double") / stride)
            .cast("int")))
      .select(col(idCol),
        explode(sequence(lit(0), col("n_chunks") - 1)).as("chunk_id"),
        col("toks"), col("n"))
      .select(col(idCol), col("chunk_id").cast("int").as("chunk_id"),
        concat_ws(" ",
          slice(col("toks"), col("chunk_id") * stride + 1, lit(window)))
          .as("chunk_text"),
        least(lit(window), col("n") - col("chunk_id") * stride)
          .cast("int").as("n_tok"))
  }
}
