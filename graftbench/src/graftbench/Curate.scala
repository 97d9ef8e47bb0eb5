package graftbench

import scala.collection.mutable.ArrayBuffer

import graft.operators.{Curation, Dedup}
import org.apache.spark.sql.{DataFrame, Observation, Row}
import org.apache.spark.sql.functions._

/** curate_batch: one client runs the curation funnel over a seeded
  * corpus again and again — exact dedup, MinHash near-dedup,
  * decontamination against an eval slice, quality metric and a
  * token-budget selection, into a noop sink. */
object Curate {

  val Docs = 4000
  val WarmRuns = 3
  val EvalMod = 97
  val VocabSize = 5000

  def evalPred = pmod(col("doc_id"), lit(EvalMod)) === 0

  /** Corpus texts by doc_id. Eval docs (doc_id % 97 == 0) are fresh text
    * and never copied, so dedup never removes one; of the rest ~5% are
    * exact copies and ~5% near copies of an earlier non-eval doc, and ~1%
    * quote an 8-word passage of an eval doc (contaminated). */
  def texts(seed: Long, n: Int): Array[String] = {
    val r = Gen.rng(seed, 3)
    val v = Gen.vocab(r, VocabSize)
    def fresh() = Gen.words(r, v, 40 + r.nextInt(120))
    val out = new Array[String](n)
    for (i <- 0 until n by EvalMod) out(i) = fresh().mkString(" ")
    val pool = ArrayBuffer.empty[Int]
    for (i <- 0 until n if i % EvalMod != 0) {
      val u = r.nextDouble()
      out(i) =
        if (u < 0.05 && pool.nonEmpty) out(pool(r.nextInt(pool.size)))
        else if (u < 0.10 && pool.nonEmpty)
          Gen.perturb(r, v, out(pool(r.nextInt(pool.size))).split(" "), 0.05).mkString(" ")
        else if (u < 0.11) {
          val e = out(EvalMod * r.nextInt((n - 1) / EvalMod + 1)).split(" ")
          val at = r.nextInt(e.length - 8)
          val base = fresh()
          val cut = r.nextInt(base.length)
          (base.take(cut) ++ e.slice(at, at + 8) ++ base.drop(cut)).mkString(" ")
        } else fresh().mkString(" ")
      pool += i
    }
    out
  }

  def writeCorpus(ctx: Ctx, dir: String, ts: Array[String]): Unit = {
    import ctx.spark.implicits._
    ts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toSeq
      .toDF("doc_id", "text").repartition(ctx.cpus)
      .write.mode("overwrite").parquet(dir)
  }

  /** The funnel. Exact and near dedup land their output in session-temp
    * parquet (`materialize`), the funnel's own policy for a relation that
    * several plan branches read; the near-dup stage also lands its
    * shingles, which `Dedup.nearDupPairs` reads from five branches. */
  def stages(ctx: Ctx): Seq[Curation.Stage] = Seq(
    Curation.exactDedup().copy(materialize = true),
    Curation.materialized("near_dedup") { d =>
      val tmp = graft.SessionTemp.dir("graftbench_shingles_")
      Dedup.shingles(d).write.mode("overwrite").parquet(tmp)
      val sh = ctx.spark.read.parquet(tmp)
      d.join(Dedup.dropIds(Dedup.nearDupPairs(ctx.spark, sh)), Seq("doc_id"), "left_anti")
    },
    Curation.decontaminate(evalPred),
    Curation.qualityMetric(),
    Curation.selectTokenBudget(1, 2))

  /** Metric names of the funnel's stages, in order. */
  val StageNames = Seq("exact_dedup", "near_dedup", "decontaminate", "quality", "token_budget")

  def run(ctx: Ctx): Unit = {
    val dir = ctx.dir("corpus")
    ctx.phase("setup") {
      for (_ <- 0 until 3) ctx.setupRep(writeCorpus(ctx, dir, texts(ctx.seed, Docs)))
    }
    val corpus = ctx.spark.read.parquet(dir)
    val curated = ctx.dir("curated")
    /** One funnel run into the noop sink, or into parquet for the output
      * checks; returns the kept-set digest (count, xor of doc_id hashes),
      * observed on the way out. */
    def once(tag: String, toParquet: Boolean = false): (Long, Long) =
      ctx.trace.span("operators", s"funnel $tag") {
        ctx.tagJobs()
        val obs = Observation(s"kept_$tag")
        val w = Curation.funnel(corpus, stages(ctx))
          .observe(obs, count(lit(1)).as("n"), bit_xor(xxhash64(col("doc_id"))).as("x"))
          .write
        if (toParquet) w.parquet(curated) else w.format("noop").mode("overwrite").save()
        val m = obs.get
        (m("n").asInstanceOf[Long], m("x").asInstanceOf[Long])
      }
    val warm = System.nanoTime()
    // the driver-side planning of a 34-job funnel keeps getting faster for
    // several runs in a fresh JVM (measured at 4,000 docs: ~15 s, then
    // 6, 6.0, 5.5, 5.0, 4.6 s)
    val reference = ctx.phase("warmup") {
      val d = once("warm0", toParquet = true)
      for (i <- 1 until WarmRuns) once(s"warm$i")
      d
    }
    ctx.warmupS = (System.nanoTime() - warm) / 1e9
    val digests = ArrayBuffer.empty[(Long, Long)]
    ctx.phase("timed") {
      ctx.windowStart = Clock.nowMs
      var i = 0
      while (i == 0 || Clock.nowMs - ctx.windowStart < ctx.seconds * 1000) {
        val s = Clock.nowMs
        digests += once(s"r$i")
        ctx.units += Map("kind" -> "funnel", "start" -> s, "end" -> Clock.nowMs,
          "due" -> s, "rows" -> Docs.toLong)
        ctx.records += Docs
        i += 1
      }
      ctx.windowEnd = Clock.nowMs
    }
    ctx.phase("check")(check(ctx, corpus, curated, reference +: digests.toSeq))
    if (ctx.trace.enabled) ctx.phase("layers")(layers(ctx, corpus))
  }

  /** No two kept docs share md5(text); no kept doc is an eval doc or
    * shares a word 4-gram with one (grams built here with plain SQL, not
    * the library's kernel); kept tokens fit the budget; every run's
    * observed digest matches the kept set the first warm-up run wrote. */
  private def check(ctx: Ctx, corpus: DataFrame, curated: String,
      digests: Seq[(Long, Long)]): Unit = {
    val kept = ctx.spark.read.parquet(curated)
    val keptDocs = corpus.join(kept.select("doc_id", "n_tok"), "doc_id")
    val Row(n: Long, x: Long) = kept.agg(count(lit(1)), bit_xor(xxhash64(col("doc_id")))).head()
    val dupDocs = keptDocs.groupBy(md5(col("text"))).count().filter(col("count") > 1)
      .agg(coalesce(sum("count"), lit(0L))).head().getLong(0)
    val evalDocs = keptDocs.filter(evalPred).count()
    def grams(d: DataFrame) = d.select(col("doc_id"), explode(expr(
      "transform(sequence(0, size(split(text, ' ')) - 4), " +
        "i -> concat_ws(' ', slice(split(text, ' '), i + 1, 4)))")).as("g"))
    val evalGrams = grams(corpus.filter(evalPred)).select("g").distinct()
    val contaminated = grams(keptDocs).join(evalGrams, Seq("g"), "left_semi")
      .select("doc_id").distinct().count()
    val Row(keptTok: Long, recount: Long) = keptDocs.agg(sum("n_tok"),
      sum(size(split(col("text"), " ")).cast("long"))).head()
    val corpusTok = corpus.agg(sum(size(split(col("text"), " ")).cast("long"))).head().getLong(0)
    val overBudget = keptTok > corpusTok / 2 || keptTok != recount || n == 0
    val digestMisses = digests.count(_ != ((n, x)))
    ctx.attempted = ctx.records
    ctx.failed = dupDocs + evalDocs + contaminated +
      (if (overBudget) n else 0L) + digestMisses * Docs
    ctx.checks("curate") = Map("kept" -> n, "kept_digest" -> x,
      "dup_docs" -> dupDocs, "eval_docs" -> evalDocs,
      "contaminated" -> contaminated, "kept_tokens" -> keptTok,
      "corpus_tokens" -> corpusTok, "digest_misses" -> digestMisses)
  }

  /** Traced run only: each stage timed alone over the previous stage's
    * output materialized, and the shingle+band kernels alone. */
  private def layers(ctx: Ctx, corpus: DataFrame): Unit = {
    var cur = corpus
    for ((st, name) <- stages(ctx).zip(StageNames)) {
      val dir = ctx.dir(s"stage_$name")
      val s = System.nanoTime()
      ctx.trace.span("operators", name) {
        ctx.tagJobs()
        st.transform(cur).write.parquet(dir)
      }
      ctx.layer(s"$name.ms") = (System.nanoTime() - s) / 1e6
      cur = ctx.spark.read.parquet(dir)
      ctx.layer(s"$name.rows_out") = cur.count()
    }
    ctx.layer("shingle_band_ms") = shingleBand(ctx, corpus)
  }

  /** `Dedup.bandTable(Dedup.shingles(docs))` into a noop sink, three
    * times. */
  def shingleBand(ctx: Ctx, docs: DataFrame): Seq[Double] =
    Seq.fill(3)(ctx.trace.span("functions", "shingle+band") {
      ctx.tagJobs()
      val s = System.nanoTime()
      Dedup.bandTable(Dedup.shingles(docs)).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - s) / 1e6
    })
}
