package graftbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.concurrent.{ConcurrentHashMap, LinkedBlockingQueue, TimeUnit}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.types._
import graft.er.{Corpus, Pipeline}
import graft.streaming.StreamOps

/** `er-stream`: the seeded corpus, staged as parquet files, fed one file
  * at a time (a closed loop with one file in flight) through
  * `Pipeline.extractMentions` and `StreamOps.incrementalIntern`; the new
  * strings of each micro-batch go on through
  * `StreamOps.incrementalScoredPairs`. Both stages keep per-key state that
  * is written every micro-batch, with no global prefix ranking and no
  * dedup exchange, and share the scoring kernel and key functions with
  * `er-batch`.
  *
  * The two stateful stages are two queries chained through foreachBatch:
  * the intern query collects its output into the intern sink (held in
  * this process's memory), writes the batch's new strings as one file
  * into the scoring query's input, and waits for the scoring query to
  * commit it; the scoring query's sink keeps its counts and accepted
  * pairs in memory too. A file's latency runs from its landing in the
  * intern query's input to the intern query's commit.
  */
object ErStream {
  val Pages = 3000L
  val Entities = 300
  val FileCount = 12
  val PinnedSeed = 42L
  val PinnedAcceptedPairs = 2265L

  /** The staged input of one corpus: one parquet file per micro-batch,
    * plus the batch counts the streamed sink must reproduce. `pinned`
    * marks the measured corpus at the seed its accepted pairs are pinned
    * for. */
  final case class Staged(dir: Path, files: Seq[String], schema: StructType,
      mentions: Long, strings: Long, pinned: Boolean)

  def stage(spark: SparkSession, dir: String, seed: Long, pages: Long,
      entities: Int, files: Int): Staged = {
    Corpus.pages(spark, pages, entities, seed).toDF()
      .repartition(files).write.mode("overwrite").parquet(dir)
    val staged = spark.read.parquet(dir)
    val mentions = Pipeline.extractMentions(staged)
    val names = Files.list(Paths.get(dir)).iterator().asScala
      .map(_.getFileName.toString).filter(_.endsWith(".parquet")).toSeq.sorted
    Staged(Paths.get(dir), names, staged.schema, mentions.count(),
      mentions.select("match_key").distinct().count(),
      pinned = seed == PinnedSeed && pages == Pages && entities == Entities && files == FileCount)
  }

  /** Routes every query's progress events to a queue per query. */
  final class Progress extends StreamingQueryListener {
    private val queues = new ConcurrentHashMap[java.util.UUID, LinkedBlockingQueue[StreamingQueryProgress]]()
    def queue(id: java.util.UUID): LinkedBlockingQueue[StreamingQueryProgress] =
      queues.computeIfAbsent(id, _ => new LinkedBlockingQueue())
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      // idle-trigger reports carry no addBatch: only executed batches count
      if (e.progress.durationMs.containsKey("addBatch")) queue(e.progress.id).put(e.progress)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  /** One pass: every staged file streamed through both queries. */
  final case class Pass(latencies: Seq[Double], failed: Int, internProgress: Seq[StreamingQueryProgress],
      scoreProgress: Seq[StreamingQueryProgress], checks: Seq[Check], emitted: Long, accepted: Long,
      acceptedPairs: Long)

  def pass(ctx: Ctx, listener: Progress, staged: Staged, name: String,
      cfg: Pipeline.Config, onFirstLanding: () => Unit): Pass = {
    val spark = ctx.spark
    import spark.implicits._
    val root = Paths.get(ctx.freshDir(name))
    val src = root.resolve("src")
    Files.createDirectories(src)
    staged.files.foreach(f => Files.copy(staged.dir.resolve(f), src.resolve(f)))
    val landing = Files.createDirectories(root.resolve("in"))
    val fresh = Files.createDirectories(root.resolve("new_strings"))
    val stringsSchema = StructType(Seq(
      StructField("string_id", LongType), StructField("match_key", StringType)))

    val strings = spark.readStream.schema(stringsSchema).parquet(fresh.toString)
    // the pair sink keeps counts and the accepted pairs in memory
    var emitted, accepted = 0L
    val acceptedPairs = scala.collection.mutable.HashSet.empty[(Long, Long)]
    val scoreBatch: (DataFrame, Long) => Unit = { (b, _) =>
      val obs = Observation()
      val acc = b.observe(obs, count(lit(1)).as("n")).filter($"accepted")
        .select($"src", $"dst").as[(Long, Long)].collect()
      emitted += obs.get("n").asInstanceOf[Long]
      accepted += acc.length
      acceptedPairs ++= acc
    }
    val scoring = StreamOps.incrementalScoredPairs(spark, strings, cfg)
      .writeStream.option("checkpointLocation", root.resolve("ck_score").toString)
      .foreachBatch(scoreBatch).start()

    // the intern sink is held in memory, like Spark's memory sink
    val interned = ArrayBuffer.empty[Row]
    var internSchema: StructType = null
    val pages = spark.readStream.schema(staged.schema)
      .option("maxFilesPerTrigger", "1").parquet(landing.toString)
    val internBatch: (DataFrame, Long) => Unit = { (b, _) =>
      val rows = b.collect()
      internSchema = b.schema
      interned ++= rows
      val created = rows.filter(_.getAs[Boolean]("is_new_string"))
        .map(r => Row(r.getAs[Long]("string_id"), r.getAs[String]("match_key")))
      spark.createDataFrame(created.toSeq.asJava, stringsSchema)
        .coalesce(1).write.mode("append").parquet(fresh.toString)
      scoring.processAllAvailable()
    }
    val intern = StreamOps.incrementalIntern(spark, Pipeline.extractMentions(pages)).toDF()
      .writeStream.option("checkpointLocation", root.resolve("ck_intern").toString)
      .foreachBatch(internBatch).start()

    val done = listener.queue(intern.id)
    val internP = ArrayBuffer.empty[StreamingQueryProgress]
    val latencies = ArrayBuffer.empty[Double]
    var failed = 0
    try staged.files.foreach { f =>
      if (failed == 0) {
        if (latencies.isEmpty) onFirstLanding()
        val t0 = System.nanoTime()
        ctx.tracer.span("stream.batch") {
          Files.move(src.resolve(f), landing.resolve(f), StandardCopyOption.ATOMIC_MOVE)
          awaitBatch(intern, done) match {
            case Some(p) =>
              latencies += Clock.seconds(t0)
              internP += p
            case None => failed += 1
          }
        }
      } else failed += 1
    } finally {
      intern.stop()
      scoring.stop()
    }
    ctx.heap.sample()
    org.apache.spark.graftbench.Bus.drain(spark.sparkContext)
    val scoreP = drainAll(listener.queue(scoring.id))

    val checks = ArrayBuffer.empty[Check]
    if (failed == 0) {
      val sink = spark.createDataFrame(interned.asJava, internSchema)
      val rows = interned.size.toLong
      val created = interned.count(_.getAs[Boolean]("is_new_string")).toLong
      checks += Check("stream_interned_mentions", rows == staged.mentions,
        s"$rows interned, ${staged.mentions} extracted in batch")
      checks += Check("stream_new_strings", created == staged.strings,
        s"$created new strings, ${staged.strings} distinct match keys in batch")
      checks += (try {
        StreamOps.assertNoInternCollisions(sink)
        Check("stream_no_intern_collisions", ok = true, "no string id carries two keys")
      } catch { case NonFatal(e) => Check("stream_no_intern_collisions", ok = false, e.getMessage) })
      if (staged.pinned)
        checks += Check("stream_accepted_pairs_pinned", acceptedPairs.size == PinnedAcceptedPairs,
          s"${acceptedPairs.size} at seed $PinnedSeed, pinned $PinnedAcceptedPairs")
    } else checks += Check("stream_batches", ok = false, s"$failed batches failed")
    Pass(latencies.toSeq, failed, internP.toSeq, scoreP, checks.toSeq, emitted, accepted,
      acceptedPairs.size.toLong)
  }

  private def awaitBatch(q: StreamingQuery,
      done: LinkedBlockingQueue[StreamingQueryProgress]): Option[StreamingQueryProgress] = {
    val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(60)
    var got: Option[StreamingQueryProgress] = None
    while (got.isEmpty && q.isActive && System.nanoTime() < deadline)
      got = Option(done.poll(5, TimeUnit.MILLISECONDS))
    if (got.isEmpty) q.exception.foreach(e => Console.err.println(s"er-stream: batch failed: $e"))
    got
  }

  private def drainAll(q: LinkedBlockingQueue[StreamingQueryProgress]): Seq[StreamingQueryProgress] = {
    val out = new java.util.ArrayList[StreamingQueryProgress]()
    q.drainTo(out)
    out.asScala.toSeq
  }

  def config(seed: Long, workDir: String): Pipeline.Config =
    Pipeline.Config(seed = seed, nPages = Pages, nEntities = Entities, workDir = workDir)

  /** Stages the measured corpus and streams a small one once. */
  def setUp(ctx: Ctx, listener: Progress): (Staged, Seq[Check]) = {
    val staged = stage(ctx.spark, ctx.freshDir("stream-stage"), ctx.seed, Pages, Entities, FileCount)
    val small = stage(ctx.spark, ctx.freshDir("stream-warmup-stage"), ctx.seed, 600, 100, 3)
    val warm = pass(ctx, listener, small, "stream-warmup", config(ctx.seed, ctx.freshDir("stream-warmup-er")), () => ())
    (staged, warm.checks.filterNot(_.ok).map(c => c.copy(name = s"warm_up_${c.name}")))
  }

  def measure(ctx: Ctx, listener: Progress, staged: Staged): Measured = {
    val lat = ArrayBuffer.empty[Double]
    val passes = ArrayBuffer.empty[Double]
    val checks = ArrayBuffer.empty[Check]
    val acceptedPairs = ArrayBuffer.empty[Long]
    var attempted = 0
    var failed = 0
    var firstAt = Double.NaN
    val t0 = System.nanoTime()
    var i = 0
    while (i == 0 || Clock.seconds(t0) < ctx.seconds) {
      val p = pass(ctx, listener, staged, s"stream-pass-$i",
        config(ctx.seed, ctx.freshDir(s"stream-er-$i")),
        () => if (firstAt.isNaN) firstAt = Clock.nowMs)
      attempted += staged.files.size
      failed += p.failed
      lat ++= p.latencies
      if (p.failed == 0) {
        passes += p.latencies.sum
        acceptedPairs += p.acceptedPairs
      }
      checks ++= (if (i == 0) p.checks else p.checks.filterNot(_.ok))
      i += 1
    }
    checks += Check("stream_accepted_pairs_repeat", acceptedPairs.distinct.size <= 1,
      s"accepted pairs per pass: ${acceptedPairs.mkString(",")}")
    val display =
      if (passes.isEmpty) Nil
      else Seq(
        Metric("stream_pages_per_s", Pages / Stats.median(passes.toSeq), "1/s"),
        Metric("batch_p50_s", Stats.median(lat.toSeq), "s"),
        Metric("batch_tail_s", Stats.tail(lat.toSeq), "s"),
        Metric("stream_accepted_pairs", acceptedPairs.head.toDouble, "count"))
    Measured(attempted, failed, lat.toSeq, passes.toSeq, firstAt, checks.toSeq, display)
  }

  /** Per-layer numbers of one pass, read from StreamingQueryProgress. */
  def layerMetrics(p: Pass): Seq[Metric] = {
    def d(pr: StreamingQueryProgress, k: String): Double =
      Option(pr.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
    def commit(pr: StreamingQueryProgress): Double =
      d(pr, "walCommit") + d(pr, "commitOffsets") + pr.stateOperators.map(_.commitTimeMs).sum
    val all = p.internProgress ++ p.scoreProgress
    val last = Seq(p.internProgress, p.scoreProgress).flatMap(_.lastOption)
    Seq(
      Metric("streaming.add_batch_ms", Stats.median(p.internProgress.map(d(_, "addBatch"))), "ms"),
      Metric("streaming.commit_ms", Stats.median(p.internProgress.map(commit)) +
        Stats.median(p.scoreProgress.map(commit)), "ms"),
      Metric("streaming.state_rows", last.flatMap(_.stateOperators).map(_.numRowsTotal).sum.toDouble, "count"),
      Metric("streaming.state_mb", last.flatMap(_.stateOperators).map(_.memoryUsedBytes).sum / 1e6, "MB"),
      Metric("streaming.state_rows_updated", all.flatMap(_.stateOperators).map(_.numRowsUpdated).sum.toDouble, "count"),
      Metric("streaming.pairs_emitted", p.emitted.toDouble, "count"),
      Metric("streaming.accept_ratio", if (p.emitted == 0) 0.0 else p.accepted.toDouble / p.emitted, "ratio"))
  }
}
