package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.llm.{Decontaminate, Dedup}
import graft.streaming.DedupStream

/** Seeded arrival batches for curated ingest. Every doc is planted as
  * one funnel outcome, so the expected funnel is known exactly:
  *  - unique: 40-120 words of the corpus vocabulary plus a token naming
  *    the doc, so no two unique texts collide (kept);
  *  - duplicate: the exact text of an earlier kept doc (dropped as dup);
  *  - contaminated: a unique text with five consecutive words of a
  *    benchmark doc spliced in (benchmark words share no vocabulary
  *    with the corpus, so only planted docs match; dropped);
  *  - low quality: under 20 or over 400 words (dropped first).
  * The seed draws the duplicate (12-18%), contamination (8-12%) and
  * low-quality (4-6%) rates, then every doc. */
final class CurateGen(seed: Long, val baseDocs: Int, val perBatch: Int) {
  private val rnd = new java.util.Random(seed)
  val dupRate: Double = 0.12 + 0.06 * rnd.nextDouble()
  val contamRate: Double = 0.08 + 0.04 * rnd.nextDouble()
  val lowRate: Double = 0.04 + 0.02 * rnd.nextDouble()
  private def word(): String = "w" + Integer.toString(rnd.nextInt(5000), 36)
  private def words(n: Int): Seq[String] = Seq.fill(n)(word())
  private def unique(id: Long): Seq[String] = {
    val ws = words(40 + rnd.nextInt(81))
    ws.patch(rnd.nextInt(ws.size), Seq(s"u$id"), 0)
  }
  val benchmark: Seq[(Long, String)] = (1 to 200).map { i =>
    (i.toLong, Seq.fill(30)("zq" + Integer.toString(rnd.nextInt(3000), 36)).mkString(" "))
  }
  val base: Seq[(Long, String)] =
    (1 to baseDocs).map(i => (i.toLong, unique(i).mkString(" ")))
  /** Texts a duplicate may copy: every kept doc so far. */
  private val kept = mutable.ArrayBuffer.from(base.map(_._2))

  final case class Funnel(nIn: Long, quality: Long, contaminated: Long, dup: Long, kept: Long)
  final case class Batch(docs: Seq[(Long, String)], funnel: Funnel, keptDocs: Seq[(Long, String)])

  def batch(b: Int): Batch = {
    val docs = mutable.ArrayBuffer.empty[(Long, String)]
    val keep = mutable.ArrayBuffer.empty[(Long, String)]
    var q = 0L; var c = 0L; var d = 0L
    (0 until perBatch).foreach { j =>
      val id = 1000000000L + b * 1000000L + j
      val r = rnd.nextDouble()
      val text =
        if (r < lowRate) { q += 1
          (if (rnd.nextInt(4) == 0) words(410 + rnd.nextInt(40)) else words(3 + rnd.nextInt(14))).mkString(" ") }
        else if (r < lowRate + contamRate) { c += 1
          val src = benchmark(rnd.nextInt(benchmark.size))._2.split(" ")
          val at = rnd.nextInt(src.length - 5)
          val ws = unique(id)
          ws.patch(rnd.nextInt(ws.size), src.slice(at, at + 5).toSeq, 0).mkString(" ") }
        else if (r < lowRate + contamRate + dupRate) { d += 1
          kept(rnd.nextInt(kept.size)) }
        else { val t = unique(id).mkString(" "); keep += (id -> t); t }
      docs += (id -> text)
    }
    kept ++= keep.map(_._2)
    Batch(docs.toSeq, Funnel(perBatch, q, c, d, keep.size), keep.toSeq)
  }
}

/** Curated ingest: an exact-dedup index built from a base corpus with
  * `Dedup.exactIndexStore`, then seeded arrival batches through
  * `DedupStream.applyBatchCurated` (quality gate, 5-gram
  * decontamination, stored Bloom probe, append). The read is
  * `DedupStream.readCorpus` with full output. */
final class Curate(spark: SparkSession, root: String, seed: Long,
                   baseDocs: Int, perBatch: Int, maxBatches: Int) extends Workload {
  import spark.implicits._
  val name = "curate"
  val setupContains = Seq("generate the base corpus, benchmark docs and arrival batches as parquet",
    "build the exact-dedup index with Dedup.exactIndexStore")
  val warmupContains = "one small batch, then a read, on a small index"

  private val slots = 16
  private val minTokens = 20
  private val maxTokens = 400
  private val prefix = "pb_curate"
  private val Docs = "doc_id long, text string"
  private var batches: Seq[CurateGen#Batch] = Nil
  private var gen: CurateGen = _

  private def prepare(dir: String, g: CurateGen, bs: Seq[CurateGen#Batch], pfx: String): Unit = {
    g.base.toDF("doc_id", "text").repartition(4).write.mode("overwrite")
      .parquet(s"$dir/corpus/base")
    g.benchmark.toDF("doc_id", "text").write.mode("overwrite").parquet(s"$dir/benchmark")
    bs.zipWithIndex.flatMap { case (b, i) => b.docs.map { case (id, t) => (i, id, t) } }
      .toDF("batch", "doc_id", "text").repartition(col("batch"))
      .write.mode("overwrite").partitionBy("batch").parquet(s"$dir/arrivals")
    Dedup.exactIndexStore(spark.read.parquet(s"$dir/corpus/base"), "text", "doc_id",
      pfx, s"$dir/index", slots = slots)
  }

  private def apply(t: Tracer, dir: String, pfx: String, i: Int): Double = {
    val batch = spark.read.schema(Docs).parquet(s"$dir/arrivals/batch=$i")
    val bench = spark.read.schema(Docs).parquet(s"$dir/benchmark")
    def run(): Unit = DedupStream.applyBatchCurated(batch, i, pfx, s"$dir/index",
      s"$dir/corpus", s"$dir/state.json", slots, bench, minTokens, maxTokens, gramN = 5)
    if (!t.enabled) { run(); 0.0 }
    else {
      // the funnel's layers are fused inside applyBatchCurated: each
      // is timed by difference over successively longer chains of the
      // same public calls, before the batch is applied
      val nTok = size(Dedup.tokens(col("text")))
      val quality = batch.where(nTok >= minTokens && nTok <= maxTokens)
      val cleaned = Decontaminate.clean(quality, bench, "text", "doc_id", n = 5)
      val (_, legS) = Meter.seconds {
        qualityOut += t.span("leg.quality", i)(Meter.drainCount(quality))
        cleanOut += t.span("leg.quality_decon", i)(Meter.drainCount(cleaned))
        probeOut += t.span("leg.quality_decon_probe", i) {
          DedupStream.registerIndex(spark, pfx, s"$dir/index")
          Meter.drainCount(Dedup.exactIncrementalStored(cleaned, "text", "doc_id", pfx, slots))
        }
      }
      val before = Files2.files(new File(dir)).size
      t.span("streaming.curate_apply", i)(run())
      filesOut += Files2.files(new File(dir)).size - before
      traced += 1
      legS
    }
  }
  private var traced = 0; private var filesOut = 0L
  private var qualityOut = 0L; private var cleanOut = 0L; private var probeOut = 0L

  def setup(rep: Int): Unit = {
    Files2.rm(new File(root))
    gen = new CurateGen(seed, baseDocs, perBatch)
    batches = (0 until maxBatches).map(gen.batch)
    prepare(root, gen, batches, prefix)
  }

  def warmup(): Unit = {
    val w = s"$root/warm"
    val wg = new CurateGen(seed + 1, 300, 200)
    prepare(w, wg, Seq(wg.batch(0)), "pb_warm")
    apply(new Tracer(spark, "warm", false), w, "pb_warm", 0)
    Meter.drain(DedupStream.readCorpus(spark, s"$w/corpus"))
    Files2.rm(new File(w))
  }

  def hasNext(i: Int): Boolean = i < batches.size

  def inputs(ops: Int): String = {
    val fs = batches.take(ops).map(_.funnel)
    val n = math.max(fs.map(_.nIn).sum, 1L).toDouble
    def pct(x: Long) = f"${100.0 * x / n}%.1f%%"
    f"${fs.size} batches of $perBatch docs over a $baseDocs-doc base; planted shares " +
      s"(assumed, no measured source): low quality ${pct(fs.map(_.quality).sum)}, " +
      s"contaminated ${pct(fs.map(_.contaminated).sum)}, exact duplicate ${pct(fs.map(_.dup).sum)}"
  }

  def step(i: Int, t: Tracer): Workload.Op = {
    val legS = apply(t, root, prefix, i)
    Workload.Op(perBatch.toLong, 1, legS)
  }

  def read(t: Tracer): Unit = t.span("sinks.corpus.read") {
    Meter.drain(DedupStream.readCorpus(spark, s"$root/corpus"))
  }

  private val statsRe = """"(\w+)":(-?\d+)""".r
  /** The funnel `applyBatchCurated` wrote for batch `i`. */
  private def funnel(i: Int): Map[String, Long] = {
    val f = new File(s"$root/corpus/_stats/b$i.json")
    if (!f.exists) Map.empty
    else statsRe.findAllMatchIn(java.nio.file.Files.readString(f.toPath))
      .map(m => m.group(1) -> m.group(2).toLong).toMap
  }

  def checks(ops: Int): Seq[(Check, Seq[Int])] = {
    val applied = batches.take(ops)
    val perBatch = applied.zipWithIndex.map { case (b, i) =>
      val p = b.funnel
      val want = Map("n_in" -> p.nIn, "n_quality_dropped" -> p.quality,
        "n_contaminated" -> p.contaminated, "n_dup" -> p.dup, "n_kept" -> p.kept)
      val got = funnel(i) - "batchId"
      (Check(s"curate.batch$i.funnel", got == want, s"wrote $got, planted $want"), Seq(i))
    }
    val expected = (gen.base ++ applied.flatMap(_.keptDocs)).toDF("doc_id", "text")
    val want = Digest.of(expected, Seq("doc_id", "text"))
    val got = Digest.of(DedupStream.readCorpus(spark, s"$root/corpus"), Seq("doc_id", "text"))
    perBatch :+ ((Check("curate.final_corpus", want == got,
      s"docs ${got.rows} vs expected ${want.rows}, digest ${if (want.sameContent(got)) "equal" else "differs"}"),
      applied.indices))
  }

  override def counters: Map[String, Double] = {
    val fs = (0 until traced).map(funnel)
    def total(k: String) = fs.map(_.getOrElse(k, 0L)).sum.toDouble
    val clean = total("n_in") - total("n_quality_dropped") - total("n_contaminated")
    def per(x: Long) = if (traced == 0) 0.0 else x.toDouble / traced
    Map(
      "llm.quality.rows_out" -> per(qualityOut),
      "llm.decontaminate.rows_out" -> per(cleanOut),
      "llm.dedup_probe.rows_out" -> per(probeOut),
      "llm.funnel.n_quality_dropped" -> total("n_quality_dropped"),
      "llm.funnel.n_contaminated" -> total("n_contaminated"),
      "llm.funnel.n_dup" -> total("n_dup"),
      "llm.funnel.n_kept" -> total("n_kept"),
      "llm.dedup_probe.dup_hit_ratio" -> (if (clean > 0) total("n_dup") / clean else 0.0),
      "streaming.curate_apply.files_out" -> (if (traced == 0) 0.0 else filesOut.toDouble / traced))
  }
}
