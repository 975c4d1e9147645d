package perfbench

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.FrameCache
import graft.dedup.{Clusters, Dedup}
import graft.functions.GraftFunctions.{minhash_signature, shingle_hashes}
import graft.text.{Curation, TextAnalysis}

/** Seeded mutated-copy corpus: `base` independent documents, each
  * followed by `copies - 1` edited copies (the NearDupSoak recipe:
  * copy `i` of a document gets id `doc + i * CopyShift`, source
  * `<source>_i`, and a `q<i>` suffix on each token whose hash — seeded
  * — falls in one of `editMod` buckets). One base document in 50 is
  * too short to pass the quality gate, and so are its copies.
  */
final case class Corpus(seed: Long, base: Int, copies: Int, editMod: Int) {
  val CopyShift = 10000000L
  private val stop = Array("the", "of", "and", "to", "in", "a", "is", "that")
  private val vocab: Array[String] = Array.tabulate(6000) { w =>
    val len = 3 + Hash.below(Hash.of(seed, w, 20), 7).toInt
    (0 until len).map(j => ('a' + Hash.below(Hash.of(seed, w, 21 + j), 26)).toChar).mkString
  }
  def short(d: Int): Boolean = d % 50 == 7
  def tokens(d: Int): Array[String] = {
    val n = if (short(d)) 8 + d % 6 else 90 + Hash.below(Hash.of(seed, d, 30), 70).toInt
    Array.tabulate(n) { j =>
      val h = Hash.of(seed, d.toLong << 16 | j, 31)
      if (Hash.below(h, 5) == 0) stop(Hash.below(h >>> 8, stop.length).toInt)
      else vocab(Hash.below(h >>> 16, vocab.length).toInt)
    }
  }
  private val sources = Array.tabulate(base / 10)(s => f"src$s%03d")
  def source(d: Int): String = sources(d % sources.length)
  def docs: Iterator[(Long, String, String)] = (0 until base).iterator.flatMap { d =>
    val t = tokens(d)
    (0 until copies).iterator.map { i =>
      if (i == 0) (d.toLong, source(d), t.mkString(" "))
      else (d + i * CopyShift, s"${source(d)}_$i", t.indices.map { j =>
        if (Hash.below(Hash.of(seed ^ i, d.toLong << 16 | j, 40), editMod) == 0) s"${t(j)}q$i"
        else t(j)
      }.mkString(" "))
    }
  }
  def size: Int = base * copies
}

/** `curate`: the training-data half — one `Curation.curateNearDup`
  * call per rep over the mutated-copy corpus, with the frame cache
  * cleared first, so each rep pays what a one-shot curation job pays.
  */
final class Curate(a: Main.Args) extends Workload {
  private val corpus = Corpus(a.seed, base = 400, copies = 8, editMod = 16)
  private val path = a.work.resolve("curate/documents.parquet").toString
  private val Cap = 20
  /** Copies the curation must fold into their original, as a share
    * of all copies of full-length documents. MinHash-LSH at 16 bands
    * of 8 rows finds a pair of Jaccard 0.7 about half the time; a
    * copy also goes when it meets its original through another copy.
    */
  private val RecallFloor = 0.5

  def generate(spark: SparkSession): Unit = {
    import spark.implicits._
    corpus.docs.toSeq.toDF("doc_id", "source", "text").repartition(8)
      .write.mode("overwrite").parquet(path)
  }

  private def curate(spark: SparkSession, in: String): Set[Long] = {
    FrameCache.clear()
    Curation.curateNearDup(spark.read.parquet(in)).select("doc_id").collect()
      .map(_.getLong(0)).toSet
  }

  /** Two untimed reps on the full corpus: less leaves the timed reps
    * still paying JIT compilation.
    */
  def warmup(spark: SparkSession): Unit = (1 to 2).foreach(_ => curate(spark, path))

  /** Storage the session holds in cached blocks right now. */
  private def storageBytes(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum.toDouble

  def measure(ctx: Ctx): Outcome = {
    val tr = ctx.tracer
    val off = new Tracer(false, ctx.spark.sparkContext)
    val bad = mutable.ArrayBuffer.empty[String]
    val plain = mutable.ArrayBuffer.empty[Double]
    val traced = mutable.ArrayBuffer.empty[Double]
    val storage = mutable.ArrayBuffer.empty[Double]
    var first: Set[Long] = null
    val deadline = System.nanoTime() + a.seconds * 1000000000L
    var i = 0
    while (System.nanoTime() < deadline || plain.isEmpty || (a.trace && traced.isEmpty)) {
      val on = a.trace && i % 2 == 0
      if (on) tr.attach()
      val t0 = System.nanoTime()
      val kept = (if (on) tr else off).span("curation.curateNearDup", s"rep$i") {
        val k = curate(ctx.spark, path)
        if (on) storage += storageBytes(ctx.spark)
        k
      }
      val s = (System.nanoTime() - t0) / 1e9
      if (on) { tr.detach(); traced += s } else plain += s
      if (first == null) first = kept
      else if (kept != first) bad += s"rep $i kept ${kept.size} docs, rep 0 kept ${first.size}"
      ctx.log(f"curate rep $i${if (on) " (traced)" else ""}: $s%.3f s, kept ${kept.size}")
      i += 1
    }

    // the curated set against the planted structure
    val full = (0 until corpus.base).filterNot(corpus.short).map(_.toLong).toSet
    val missing = full -- first
    if (missing.nonEmpty) bad += s"${missing.size} original documents dropped, e.g. ${missing.take(3)}"
    val shortKept = (0 until corpus.base).filter(corpus.short).count(d => first(d.toLong))
    if (shortKept > 0) bad += s"$shortKept documents below the quality gate kept"
    val all = corpus.docs.map(_._1).toSet
    val foreign = first -- all
    if (foreign.nonEmpty) bad += s"${foreign.size} kept ids not in the corpus"
    val perSource = corpus.docs.filter(d => first(d._1)).toSeq.groupBy(_._2).values.map(_.size)
    if (perSource.exists(_ > Cap)) bad += s"a source keeps more than $Cap documents"
    val copiesTotal = full.size * (corpus.copies - 1)
    val folded = full.toSeq.map(d => (1 until corpus.copies).count(i => !first(d + i * corpus.CopyShift))).sum
    ctx.log(s"planted recall: $folded of $copiesTotal copies folded into their original")
    if (folded < RecallFloor * copiesTotal)
      bad += s"planted recall $folded below the floor ${(RecallFloor * copiesTotal).toLong} of $copiesTotal"

    var layers = Map.empty[String, Double]
    if (a.trace) {
      tr.attach()
      layers = steps(ctx) ++ Layers.engine(tr, tr.named("curation.curateNearDup"), traced.length) ++ Map(
        "FrameCache.storage_bytes" -> Stats.median(storage.toSeq),
        "trace.overhead_ms" -> (Stats.median(traced.toSeq) - Stats.median(plain.toSeq)) * 1000)
      tr.detach()
    }
    bad.foreach(b => ctx.log(s"WRONG: $b"))
    val reps = plain.toSeq
    Outcome(bad.isEmpty, attempted = reps.length + traced.length, failed = 0,
      headline = Map("rate_per_s" -> corpus.size / Stats.median(reps),
        "latency_p50_ms" -> Stats.median(reps) * 1000,
        "latency_tail_ms" -> reps.max * 1000),
      layers = layers ++ Map("curate.planted_recall" -> folded.toDouble))
  }

  /** The chain's public steps, each in its own span, so the `text`,
    * `functions` and `dedup` layers can be told apart.
    */
  private def steps(ctx: Ctx): Map[String, Double] = {
    val tr = ctx.tracer
    val spark = ctx.spark
    FrameCache.clear()
    def run(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    val survivors = tr.span("text.score_dedup", "steps") {
      val docs = spark.read.parquet(path)
      val scored = TextAnalysis.qualityScore(
        docs.withColumn("text", Curation.normalizeRedact(col("text"))))
        .filter(col("quality_score") >= 0.5)
      val keep = scored.groupBy(md5(col("text")).as("h"))
        .agg(min(col("doc_id")).as("doc_id")).select("doc_id")
      scored.join(keep, "doc_id").localCheckpoint()
    }
    tr.span("functions.signatures", "steps") {
      run(survivors.select(minhash_signature(shingle_hashes(col("text")), 128).as("sig")))
    }
    val pairs = tr.span("dedup.lsh", "steps") {
      Dedup.minhashLshPairsJoinback(survivors, threshold = 0.5).localCheckpoint()
    }
    val verified = pairs.count().toDouble
    val candidates = tr.span("dedup.candidates", "steps") {
      Dedup.minhashLshPairsJoinback(survivors, threshold = 0.0).count().toDouble
    }
    val cc = tr.span("dedup.cc", "steps") {
      Clusters.connectedComponents(survivors.select("doc_id"), pairs.select("a_id", "b_id"))
        .localCheckpoint()
    }
    tr.span("text.cap", "steps") {
      run(Curation.capPerSource(
        survivors.join(cc.filter(col("doc_id") === col("cluster_id")).select("doc_id"), "doc_id"),
        "source", col("quality_score"), col("doc_id"), Cap))
    }
    def one(name: String): Span = tr.named(name).head
    def ms(name: String): Double = { val s = one(name); s.endMs - s.startMs }
    val lsh = tr.counters(one("dedup.lsh"))
    Map(
      "text.score_dedup_ms" -> ms("text.score_dedup"),
      "functions.signature_task_ms" -> tr.counters(one("functions.signatures")).runMs.toDouble,
      "dedup.lsh_ms" -> ms("dedup.lsh"),
      "dedup.band_shuffle_bytes" -> lsh.shuffleWriteBytes.toDouble,
      "dedup.candidate_pairs" -> candidates,
      "dedup.verified_pairs" -> verified,
      "dedup.candidate_precision" -> (if (candidates > 0) verified / candidates else 0.0),
      "dedup.cc_ms" -> ms("dedup.cc"))
  }
}
