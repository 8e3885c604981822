package graft.ops

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.hadoop.fs.{FileSystem, Path}
import java.nio.file.{Files, Paths}
import graft.{functions => gf}
import StageTiming.timed

/** Connected components, the union-find / transitive-closure analogue of
  * the reference's duplicate merging (generalized per north_rule), built
  * on ONE pointer-doubling loop ([[pointerDoubling]]) whose checkpointing
  * is a parameter: in-query callers ([[connectedComponents]], q33/q45/q55/
  * q61, SparkEntry.entry) cut lineage with `localCheckpoint`; the ER
  * pipeline (er.Pipeline.forestLabels) checkpoints every round to parquet
  * for crash resume ([[Parquet]]).
  */
object Components {
  import Tables.load

  /** One pointer-doubling round. `advanced` counts the rows whose parent
    * moved up this round. `rows` and `partitions` describe the round's
    * checkpoint table; both are `None` when the loop collects no stats
    * (in-query mode, or a [[Parquet]] mode with `collectStats = false`). */
  final case class IterationMetrics(
      iteration: Int, advanced: Long, rows: Option[Long], partitions: Option[Int])

  /** How [[pointerDoubling]] materializes each round and cuts its lineage. */
  sealed trait Checkpoint {
    /** The first round to run and the parent map it starts from: round 0
      * and `parents`, unless a resumable mode finds earlier checkpoints. */
    private[ops] def start(parents: DataFrame): (Int, DataFrame)
    /** Materializes round `iter` of (id, par, adv); returns the (id, par)
      * frame with its lineage cut and the round's metrics. */
    private[ops] def save(jumped: DataFrame, iter: Int): (DataFrame, IterationMetrics)
    private[ops] def describe: String
  }

  /** `localCheckpoint(eager)` per round: lineage-free, not resumable. For
    * closures that run inside one query. */
  case object InQuery extends Checkpoint {
    // round 0 self-joins the parent map, so an uncut input (the
    // neighbour-min aggregate) would be computed twice in that one job
    private[ops] def start(parents: DataFrame) = (0, parents.localCheckpoint(true))
    private[ops] def save(jumped: DataFrame, iter: Int) = {
      val cut = jumped.localCheckpoint(true)
      val advanced = cut.agg(coalesce(sum(col("adv")), lit(0L))).collect()(0).getLong(0)
      (cut.select(col("id"), col("par")), IterationMetrics(iter, advanced, None, None))
    }
    private[ops] def describe = "in-query"
  }

  /** Parquet checkpoints under `workDir`, the ER pipeline's resumable
    * contract:
    *  - round k writes `parents_iter_k`; its advance count rides the write
    *    as an `observe` aggregate (no extra job);
    *  - `resume = true` restarts after the highest COMPLETE checkpoint;
    *    a fresh run first deletes every `parents_iter_*` and
    *    `labels_iter_*` a previous run left, so no stale higher-indexed
    *    table shadows this run's output;
    *  - `collectStats = true` appends per-partition row counts as
    *    `parent_metrics_iter_k.jsonl` (one extra scan per round).
    * The caller writes its final labels to [[labelPath]] at the round
    * index the loop returns. */
  final case class Parquet(workDir: String, resume: Boolean, collectStats: Boolean)
      extends Checkpoint {
    private def parPath(i: Int) = s"$workDir/parents_iter_$i"
    def labelPath(i: Int): String = s"$workDir/labels_iter_$i"

    /** Index and path of each `<prefix><k>` entry in the workDir, listed
      * through the Hadoop filesystem — java.io.File would silently no-op
      * on hdfs:///s3a:// workDirs (listFiles returns null), leaving stale
      * checkpoints live and making resume silently restart from 0. */
    private def iterEntries(spark: SparkSession, prefix: String)
        : (FileSystem, Vector[(Int, Path)]) = {
      val dir = new Path(workDir)
      val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.mkdirs(dir): Unit
      (fs, fs.listStatus(dir).toVector.flatMap { st =>
        val n = st.getPath.getName
        if (n.startsWith(prefix))
          scala.util.Try(n.stripPrefix(prefix).toInt).toOption.map(i => (i, st.getPath))
        else None
      })
    }

    private[ops] def start(parents: DataFrame) = {
      val spark = parents.sparkSession
      if (resume) {
        // A directory that merely exists is not a checkpoint — a job
        // killed mid-write leaves a partial task-file subset (committer
        // v2 / object stores) or only `_temporary` (v1); resuming from
        // either silently drops rows. Completeness = the committer's
        // `_SUCCESS` marker (needs the default
        // `mapreduce.fileoutputcommitter.marksuccessfuljobs=true`);
        // Iceberg commits atomically, so a readable table IS committed.
        // Incomplete leftovers above the resume point are overwritten.
        val (fs, entries) = iterEntries(spark, "parents_iter_")
        def complete(p: Path): Boolean =
          fs.exists(if (TableIO.format == "iceberg") p else new Path(p, "_SUCCESS"))
        val done = entries.collect { case (i, p) if complete(p) => i }
        if (done.isEmpty) (0, parents)
        else (done.max + 1, TableIO.read(spark, parPath(done.max)))
      } else {
        // a failed delete FAILS LOUD: a survivor would be read by
        // max-index consumers in place of this run's output
        for (prefix <- Seq("parents_iter_", "labels_iter_")) {
          val (fs, entries) = iterEntries(spark, prefix)
          for ((_, p) <- entries if !fs.delete(p, true) && fs.exists(p))
            throw new java.io.IOException(
              s"cannot remove stale checkpoint $p — it would shadow this run's output")
        }
        (0, parents)
      }
    }

    private[ops] def save(jumped: DataFrame, iter: Int) = {
      val obs = org.apache.spark.sql.Observation(s"parents_iter_$iter")
      jumped.observe(obs, sum(col("adv")).as("advanced"))
        .select(col("id"), col("par"))
        .write.mode(SaveMode.Overwrite).format(TableIO.format).save(parPath(iter))
      val advanced = obs.get.apply("advanced") match {
        case null => 0L
        case l: java.lang.Long => l.longValue()
      }
      val par = TableIO.read(jumped.sparkSession, parPath(iter))
      if (!collectStats) (par, IterationMetrics(iter, advanced, None, None))
      else {
        val perPartition = timed(s"doubling.metrics_$iter") {
          par.groupBy(spark_partition_id().as("partition_id"))
            .agg(count(lit(1)).as("rows")).collect()
        }
        // JSON lines via NIO: durable per round without spinning a Spark
        // job for a handful of rows
        val json = perPartition.sortBy(_.getInt(0)).map(r =>
          s"""{"iteration":$iter,"partition_id":${r.getInt(0)},""" +
            s""""rows":${r.getLong(1)},"advanced":$advanced}""").mkString("", "\n", "\n")
        Files.writeString(Paths.get(s"$workDir/parent_metrics_iter_$iter.jsonl"), json)
        (par, IterationMetrics(iter, advanced,
          Some(perPartition.map(_.getLong(1)).sum), Some(perPartition.length)))
      }
    }

    private[ops] def describe = s"workDir=$workDir; resume with a higher maxIterations"
  }

  /** Shuffle width for a loop over `rows` rows. Two regimes, capped at the
    * session's shuffle partitions: big graphs get ≥ cores partitions (full
    * scheduling waves, ~2M rows per partition as the memory bound); tiny
    * graphs get only as many partitions as have ≥~512 rows of real work —
    * 32 near-empty tasks per stage cost ~1 s per round of pure scheduling
    * overhead on a 100-row graph. */
  private[graft] def loopWidth(spark: SparkSession, rows: Long): Int =
    math.min(spark.conf.get("spark.sql.shuffle.partitions").toLong, math.max(
      rows / 2000000L + 1L,
      math.min(spark.sparkContext.defaultParallelism.toLong, rows / 512L + 1L))).toInt

  /** Runs `body` with the session's shuffle partitions set to `parts`. */
  private[graft] def atWidth[T](spark: SparkSession, parts: Int)(body: => T): T = {
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", parts.toString)
    try body finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  /** Pointer doubling (par ← par∘par) over a parent map `(id, par)` that is
    * acyclic apart from self-loops: a root either has no row or has
    * par = id. A depth-d tree resolves in ⌈log₂ d⌉ rounds. A round
    * converges when nothing advanced, or, after an advancing round, when
    * an early-out probe finds no parent that still has a parent — which
    * saves the pure confirm round. A resumed checkpoint is probed before
    * the first round, so a resumed converged run does not iterate.
    *
    * Returns (id, root) with one row per row of `parents`, the metrics of
    * the rounds this call ran, and the index after the last completed
    * round (resumed rounds included). Throws IllegalStateException when
    * `maxIter` rounds do not converge: assembling labels from non-root
    * parents would silently split clusters. */
  def pointerDoubling(parents: DataFrame, mode: Checkpoint, maxIter: Int)
      : (DataFrame, Vector[IterationMetrics], Int) = {
    def settled(par: DataFrame): Boolean = par
      .join(par.select(col("id").as("par"), col("par").as("gpar")), Seq("par"))
      .filter(col("gpar") =!= col("par")).limit(1).isEmpty
    val (startIter, par0) = mode.start(parents.select(col("id"), col("par")))
    var par = par0
    var iter = startIter
    var converged = startIter > 0 && timed("doubling.resume_probe")(settled(par))
    val metrics = Vector.newBuilder[IterationMetrics]
    while (!converged && iter < maxIter) {
      val jumped = par
        .join(par.select(col("id").as("par"), col("par").as("gpar")), Seq("par"), "left")
        .select(col("id"), coalesce(col("gpar"), col("par")).as("par"),
          (col("gpar").isNotNull && col("gpar") =!= col("par")).cast("long").as("adv"))
      val (next, m) = timed(s"doubling.write_$iter")(mode.save(jumped, iter))
      metrics += m
      par = next
      converged = m.advanced == 0L || timed(s"doubling.probe_$iter")(settled(par))
      iter += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"pointer doubling not converged within $maxIter rounds (${mode.describe})")
    (par.select(col("id"), col("par").as("root")), metrics.result(), iter)
  }

  /** Min-member-id labels of an undirected graph. vertices: (id); edges:
    * (src, dst). Output: (id, label) for every vertex.
    *
    * Star contraction: parent(x) = min(neighbours ∪ x) is a DECREASING
    * forest, so [[pointerDoubling]] takes every touched vertex to its
    * tree root — for the clique/star components of near-dup graphs the
    * tree depth is 1 and one round settles it. An edge whose endpoints
    * landed in different trees ("two leaves of one centre": {1–3, 2–3}
    * roots both 1 and 2) re-enters as a contracted edge between roots,
    * and this function recurses on that residual label graph, which is
    * usually empty. Recursion terminates: the largest vertex of every
    * residual component has a smaller neighbour, so it is not a root and
    * each level has strictly fewer vertices. The component minimum has no
    * smaller neighbour, so it is always a root, and composing the levels'
    * labels yields exactly min-member-id labels (ComponentsSpec checks
    * them against a driver-side union-find).
    *
    * Only vertices touched by an edge can leave label = id, so the loop
    * runs over the edge-induced subgraph and untouched vertices join back
    * as identity. Doubling rounds across all levels count against
    * `maxIter`; exhausting it throws IllegalStateException. */
  def connectedComponents(vertices: DataFrame, edges: DataFrame, maxIter: Int = 25): DataFrame = {
    val spark = vertices.sparkSession
    val und = edges.select(col("src").as("a"), col("dst").as("b"))
      .unionByName(edges.select(col("dst").as("a"), col("src").as("b")))
      .persist() // scoped: released in the finally below, not at harness drain
    // the count also materializes the persisted edge table before round 0
    try atWidth(spark, loopWidth(spark, und.count())) {
      val parents = und.groupBy(col("a").as("id"))
        .agg(min(col("b")).as("nmin"))
        .select(col("id"), least(col("nmin"), col("id")).as("par"))
      val (roots, _, rounds) = pointerDoubling(parents, InQuery, maxIter)
      val lab = roots.select(col("id"), col("root").as("label"))
      // NO checkpoint: the residual is consumed EAGERLY (the isEmpty probe;
      // on the rare non-empty path the recursion's own edge count) while
      // `und` is still persisted, and the returned plan never references
      // it — the recursion's result is built from its own checkpoints
      // plus `lab` (checkpointed by the loop)
      val residual = und
        .join(lab.select(col("id").as("a"), col("label").as("la")), Seq("a"))
        .join(lab.select(col("id").as("b"), col("label").as("lb")), Seq("b"))
        .filter(col("la") =!= col("lb"))
        .select(col("la").as("src"), col("lb").as("dst")).distinct()
      val resolved =
        if (residual.isEmpty) lab
        else {
          val merged = connectedComponents(
            lab.select(col("label").as("id")).distinct(), residual, maxIter - rounds)
          lab.join(
              merged.select(col("id").as("label"), col("label").as("mlabel")),
              Seq("label"))
            .select(col("id"), col("mlabel").as("label"))
        }
      vertices.select(col("id"))
        .join(resolved.withColumnRenamed("label", "touched_label"), Seq("id"), "left")
        .select(col("id"), coalesce(col("touched_label"), col("id")).as("label"))
    } finally und.unpersist()
  }

  /** Incremental cluster maintenance: merge a batch of NEW edges into an
    * existing labeling without re-clustering the full edge history.
    *
    * A component's label is its minimum member id, so a prior labeling is
    * a lossless contraction of the prior edge set: the star
    * {(id, label) | label ≠ id} reproduces exactly the prior components,
    * with depth 1. Clustering (prior star ∪ new edges) therefore yields
    * labels BIT-IDENTICAL to re-clustering (all prior edges ∪ new edges)
    * — but the loop input is one row per previously-clustered vertex
    * instead of the whole edge history, and it converges in ~1 doubling
    * round unless the new edges chain many old components together
    * (ComponentsSpec proves the bit-equality both ways).
    *
    * This is the micro-batch companion of [[StreamOps.incrementalBlocking]]:
    * ingest streams pairs continuously, and each maintenance window folds
    * the new accepted edges into the persisted labels — the labels table
    * IS the checkpoint, as in the [[Parquet]] checkpoint mode's resume
    * contract.
    *
    * prior: (id, label) — min-member-id labels (from
    * [[connectedComponents]] or er.Pipeline.forestLabels);
    * newEdges: (src, dst). Output: (id, label) covering prior ids ∪ new
    * edge endpoints. */
  def incrementalComponents(prior: DataFrame, newEdges: DataFrame): DataFrame = {
    val star = prior.filter(col("label") =!= col("id"))
      .select(col("id").as("src"), col("label").as("dst"))
    val vertices = prior.select(col("id"))
      .unionByName(newEdges.select(col("src").as("id")))
      .unionByName(newEdges.select(col("dst").as("id")))
      .distinct()
    // star ∪ new-edges is the IDEAL input for star contraction: the prior
    // labeling is already depth-1 (every satellite points at its
    // component min), so one pointer-doubling round resolves it and only
    // the handful of NEW cross-component bridges reach the residual label
    // graph (ComponentsSpec proves incremental == full re-clustering)
    connectedComponents(vertices,
      star.unionByName(newEdges.select(col("src"), col("dst"))))
  }

  /** Entity clusters over distinct part names: intern (D2 street-interning
    * analogue) → trigram blocking (A2/A3 filters) → JW ≥ 0.9 edges →
    * connected components; label = min reachable name_id. */
  def q33Components(spark: SparkSession, dir: String): DataFrame = {
    val (interned, edges) = nameGraph(spark, dir)
    connectedComponents(interned.select(col("name_id").as("id")), edges)
      .select(col("id").as("name_id"), col("label"))
  }

  /** The q33 match graph as data: interned part names + JW-accepted
    * blocking edges (shared by q33 and the incremental variant q45). */
  private[graft] def nameGraph(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val interned = Caches.persist(load(spark, dir, "part")
      .select(gf.normalize_text(col("p_name")).as("name"), col("p_partkey"))
      .groupBy(col("name")).agg(min(col("p_partkey")).as("name_id")))
      // referenced by the trigram index, the name join, AND the vertex set
      // — persist once instead of recomputing the scan+groupBy per branch;
      // registered with Caches so the harness releases it after the
      // query's sink action (q33 and q45 each build the graph)
    val withTris = interned
      .withColumn("tris", TextOps.trigramStrings(col("name")))
      .withColumn("n", size(col("tris")))
    val keyed = withTris.select(col("name_id"), col("n"), explode(col("tris")).as("gram"))
    // hot-gram cap (same rule + oracle mirror as q13/q23): no gram block
    // may expand quadratically at corpus scale
    val keptGrams = keyed.groupBy(col("gram"))
      .agg(count(lit(1)).as("gcnt"))
      .filter(col("gcnt").between(2, Dedup.MaxBlock))
      .select(col("gram"))
    val capped = keyed.join(keptGrams, Seq("gram"))
    val counted = capped.as("a").join(capped.as("b"),
        col("a.gram") === col("b.gram") && col("a.name_id") < col("b.name_id"))
      .groupBy(col("a.name_id").as("src"), col("b.name_id").as("dst"),
        col("a.n").as("n1"), col("b.n").as("n2"))
      .agg(count(lit(1)).as("shared"))
    val minN = least(col("n1"), col("n2")).cast("int")
    val mmc = lit(2) + floor(minN / (lit(4) + floor(minN / lit(10))))
    val cand = counted.filter(col("shared") >= mmc.cast("long") &&
      (col("shared") * col("shared")).cast("double") >= lit(0.17) * col("n1") * col("n2"))
    val kv = interned.select(col("name_id"), col("name"))
    val edges = cand
      .join(kv.withColumnRenamed("name_id", "src").withColumnRenamed("name", "name_src"), Seq("src"))
      .join(kv.withColumnRenamed("name_id", "dst").withColumnRenamed("name", "name_dst"), Seq("dst"))
      .filter(gf.jaro_winkler(col("name_src"), col("name_dst")) >= 0.9)
      .select(col("src"), col("dst"))
    // the undirected expansion inside connectedComponents references the
    // edge frame twice — persist (harness-released) so blocking+JW runs once
    (interned, Caches.persist(edges))
  }

  /** Incremental maintenance, driver-checked (q45): the SAME match graph
    * as q33 arrives in two ingest windows — edges with even src+dst are
    * the "already clustered" history, odd ones are the maintenance
    * window's new batch. Spark clusters the history, then folds the new
    * batch in with [[incrementalComponents]]; the DuckDB oracle computes
    * components over ALL edges from scratch and never sees the split —
    * a hash match certifies incremental == full re-clustering on real
    * blocking/JW edges (ComponentsSpec proves it on synthetic graphs). */
  def q45IncrementalComponents(spark: SparkSession, dir: String): DataFrame = {
    val (interned, edges) = nameGraph(spark, dir)
    val oldEdges = edges.filter(pmod(col("src") + col("dst"), lit(2)) === 0)
    val newEdges = edges.filter(pmod(col("src") + col("dst"), lit(2)) === 1)
    val prior = connectedComponents(
      interned.select(col("name_id").as("id")), oldEdges)
    incrementalComponents(prior, newEdges)
      .select(col("id").as("name_id"), col("label"))
  }

  private val componentsSql: String =
      """WITH RECURSIVE interned AS (
        |  SELECT lower(p_name) AS name, CAST(min(p_partkey) AS BIGINT) AS name_id
        |  FROM part GROUP BY 1),
        |g AS (
        |  SELECT DISTINCT t.name_id, substr(t.name, i.i, 3) AS gram
        |  FROM interned t, LATERAL (SELECT unnest(generate_series(1, len(t.name) - 2)) AS i) i
        |  WHERE len(t.name) >= 3 AND substr(t.name, i.i, 3) NOT LIKE '% %'),
        |n AS (SELECT name_id, count(*) AS n FROM g GROUP BY 1),
        |kf AS (SELECT gram FROM g GROUP BY 1 HAVING count(*) BETWEEN 2 AND 256),
        |gk AS (SELECT g.name_id, g.gram FROM g JOIN kf USING (gram)),
        |counted AS (
        |  SELECT a.name_id AS src, b.name_id AS dst, count(*) AS shared
        |  FROM gk a JOIN gk b ON a.gram = b.gram AND a.name_id < b.name_id
        |  GROUP BY 1, 2),
        |cand AS (
        |  SELECT src, dst FROM counted
        |  JOIN n n1 ON n1.name_id = src JOIN n n2 ON n2.name_id = dst
        |  WHERE shared >= 2 + floor(least(n1.n, n2.n) / (4 + floor(least(n1.n, n2.n) / 10)))
        |    AND CAST(shared * shared AS DOUBLE) >= 0.17 * n1.n * n2.n),
        |edges AS (
        |  SELECT src, dst FROM cand
        |  JOIN interned sa ON sa.name_id = src JOIN interned sb ON sb.name_id = dst
        |  WHERE jaro_winkler_similarity(sa.name, sb.name) >= 0.9),
        |undirected AS (
        |  SELECT src AS a, dst AS b FROM edges
        |  UNION ALL SELECT dst AS a, src AS b FROM edges),
        |reach(id, lab) AS (
        |  SELECT name_id, name_id FROM interned
        |  UNION
        |  SELECT u.b, r.lab FROM reach r JOIN undirected u ON u.a = r.id)
        |SELECT id AS name_id, CAST(min(lab) AS BIGINT) AS label
        |FROM reach GROUP BY 1""".stripMargin

  val oracles: Map[String, String] = Map(
    "q33_components" -> componentsSql,
    // q45's oracle is q33's verbatim: the oracle computes components over
    // the FULL edge set from scratch; only the Spark side splits the
    // edges into history + maintenance window. Identical output = the
    // incremental fold is exact.
    "q45_incremental_components" -> componentsSql
  )
}
