package graftbench

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.er.{Corpus, Pipeline}
import graft.ops.Caches

/** `er-batch`: `Pipeline.runPipeline` on the seeded corpus at the graded
  * probe size, repeated for the run's length. Blocking and scoring do
  * most of the work; clustering is a small share; no `graft.ops` query
  * runs. */
object ErBatch {
  val Pages = 50000L
  val Entities = 3000
  val PinnedSeed = 42L
  val PinnedCandidatePairs = 3314715L
  val MinF1 = 0.99
  val Phases = Seq("corpus", "extract", "intern", "block", "score", "cluster")

  def config(seed: Long, workDir: String): Pipeline.Config =
    Pipeline.Config(seed = seed, nPages = Pages, nEntities = Entities,
      workDir = workDir, collectStats = false)

  /** One untimed run at the measured size: a smaller corpus leaves the
    * first timed run about 40% slower than the ones after it. */
  def warmUp(ctx: Ctx): Unit = {
    val o = Pipeline.runPipeline(ctx.spark, config(ctx.seed, ctx.freshDir("er-warmup")))
    Pipeline.release(o)
    Caches.releaseAll()
  }

  /** One timed `runPipeline`; the caller releases the output. */
  def timedRun(ctx: Ctx, workDir: String): (Double, Pipeline.PipelineOutput) = {
    val t0 = System.nanoTime()
    val o = Pipeline.runPipeline(ctx.spark, config(ctx.seed, workDir))
    (Clock.seconds(t0), o)
  }

  def measure(ctx: Ctx): Measured = {
    val times = ArrayBuffer.empty[Double]
    val candidates = ArrayBuffer.empty[Long]
    var attempted = 0
    var failed = 0
    var last: Option[Pipeline.PipelineOutput] = None
    var firstAt = Double.NaN
    val t0 = System.nanoTime()
    while (attempted == 0 || Clock.seconds(t0) < ctx.seconds) {
      last.foreach(Pipeline.release)
      last = None
      Caches.releaseAll()
      val dir = ctx.freshDir(s"er-rep-$attempted")
      if (firstAt.isNaN) firstAt = Clock.nowMs
      attempted += 1
      try {
        val (s, o) = timedRun(ctx, dir)
        times += s
        candidates += o.stats.candidatePairs
        last = Some(o)
      } catch {
        case NonFatal(e) =>
          failed += 1
          Console.err.println(s"er-batch: pipeline run failed: $e")
      }
      ctx.heap.sample()
    }

    val checks = ArrayBuffer.empty[Check]
    val display = ArrayBuffer.empty[Metric]
    last match {
      case None => checks += Check("er_pipeline_ran", ok = false, "no run succeeded")
      case Some(o) =>
        val f1 = f1Of(ctx, o)
        Pipeline.release(o)
        checks += Check("er_f1", f1 >= MinF1, f"f1=$f1%.5f, required >= $MinF1")
        checks += Check("er_candidate_pairs_repeat", candidates.distinct.size == 1,
          s"candidate pairs per run: ${candidates.mkString(",")}")
        if (ctx.seed == PinnedSeed)
          checks += Check("er_candidate_pairs_pinned",
            candidates.forall(_ == PinnedCandidatePairs),
            s"${candidates.head} at seed $PinnedSeed, pinned $PinnedCandidatePairs")
        display += Metric("er_f1", f1, "ratio")
        display += Metric("er_candidate_pairs", candidates.head.toDouble, "count")
        display += Metric("er_pages_per_s", Pages / Stats.median(times.toSeq), "1/s")
    }
    Measured(attempted, failed, times.toSeq, times.toSeq, firstAt, checks.toSeq, display.toSeq)
  }

  /** Pairwise F1 of a run's clusters against the generator's truth
    * (untimed). */
  def f1Of(ctx: Ctx, o: Pipeline.PipelineOutput): Double = {
    val truth = Pipeline.withMentionIds(
      Corpus.truth(ctx.spark, Pages, Entities, ctx.seed).toDF())
    Pipeline.evaluateWeighted(o.pairs, o.strings, o.membership, truth, o.stringLabels).f1
  }

  /** Sample of the traced run's own strings and pairs for the text layer. */
  final case class TextSample(raws: Array[String], keyPairs: Array[(String, String)])

  /** The traced run: each public phase called on its own, its output
    * materialized inside its span, so time lands on the phase whose jobs
    * ran. The label expand step of `runPipeline` has no public entry point
    * and is not run here. Returns the per-layer metrics, the text sample,
    * the traced wall time and the candidate-pair check. */
  def traced(ctx: Ctx, tracing: Tracing, sampleSize: Int)
      : (Seq[Metric], TextSample, Double, Seq[Check]) = {
    val spark = ctx.spark
    import spark.implicits._
    val tr = ctx.tracer
    val cfg = config(ctx.seed, ctx.freshDir("er-traced"))
    def keep(df: DataFrame): DataFrame = df.persist(StorageLevel.MEMORY_AND_DISK)

    val t0 = System.nanoTime()
    val (frames, counts) = tracing.traced(tr.span("er.pipeline") {
      val pages = tr.span("er.corpus") {
        val p = keep(Corpus.pages(spark, Pages, Entities, ctx.seed).toDF()); p.count(); p
      }
      val (mentions, nMentions) = tr.span("er.extract") {
        val m = keep(Pipeline.extractMentions(pages)); (m, m.count())
      }
      val (strings, membership, nStrings) = tr.span("er.intern") {
        val (s0, m0) = Pipeline.internStrings(mentions)
        val (s, m) = (keep(s0), keep(m0))
        val n = s.count(); m.count()
        (s, m, n)
      }
      val (pairs, stats) = tr.span("er.block") {
        Pipeline.candidatePairs(strings, cfg.copy(collectStats = true))
      }
      val (accepted, nAccepted) = tr.span("er.score") {
        val a = keep(Pipeline.matchEdges(pairs, strings, cfg)); (a, a.count())
      }
      val rounds = tr.span("er.cluster") {
        Pipeline.forestLabels(strings.select($"string_id"), accepted, cfg)._2.size
      }
      (Seq(pages, mentions, strings, membership, pairs, accepted),
        (nMentions, nStrings, stats, nAccepted, rounds))
    })
    val wall = Clock.seconds(t0)
    val (nMentions, nStrings, stats, nAccepted, rounds) = counts
    val Seq(_, mentions, strings, _, pairs, _) = frames

    val raws = mentions.select($"raw").distinct()
      .orderBy(xxhash64($"raw"), $"raw").limit(sampleSize).as[String].collect()
    val keys = strings.select($"string_id", $"match_key")
    val keyPairs = pairs.orderBy(xxhash64($"src", $"dst"), $"src", $"dst").limit(sampleSize)
      .join(keys.toDF("src", "a"), "src").join(keys.toDF("dst", "b"), "dst")
      .select($"a", $"b").as[(String, String)].collect()
    frames.foreach(_.unpersist())
    Caches.releaseAll()

    val perPhase = Phases.flatMap { ph =>
      val g = tracing.recorder.group(s"er.$ph")
      val s = tr.named(s"er.$ph").head.seconds
      Seq(
        Metric(s"er.$ph.s", s, "s"),
        Metric(s"er.$ph.tasks", g.tasks.toDouble, "count"),
        Metric(s"er.$ph.shuffle_mb", g.shuffleWriteBytes / 1e6, "MB"),
        Metric(s"er.$ph.spill_mb", g.spillBytes / 1e6, "MB"),
        Metric(s"er.$ph.skew", g.skew, "ratio"),
        Metric(s"er.$ph.gc_share", g.gcShare, "ratio"))
    }
    val counters = Seq(
      Metric("er.block.candidate_pairs", stats.candidatePairs.toDouble, "count"),
      Metric("er.block.hot_keys_dropped", stats.hotKeysDropped.toDouble, "count"),
      Metric("er.block.hot_volume_dropped", stats.hotVolumeDropped.toDouble, "count"),
      Metric("er.score.accepted_pairs", nAccepted.toDouble, "count"),
      Metric("er.score.accept_ratio", nAccepted.toDouble / stats.candidatePairs, "ratio"),
      Metric("er.intern.distinct_ratio", nStrings.toDouble / nMentions, "ratio"),
      Metric("er.cluster.rounds", rounds.toDouble, "count"))
    val checks =
      if (ctx.seed != PinnedSeed) Nil
      else Seq(Check("er_candidate_pairs_pinned", stats.candidatePairs == PinnedCandidatePairs,
        s"${stats.candidatePairs} at seed $PinnedSeed, pinned $PinnedCandidatePairs"))
    (perPhase ++ counters, TextSample(raws, keyPairs), wall, checks)
  }
}
