package graft.er

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.SparkTestSession
import graft.ops.ReferenceComponents

/** End-to-end pipeline gates from BASELINE.json:
  * - pairwise F1 ≥ 0.99 on labeled pairs sharing a blocking key
  * - partition-count invariance (the sandbox proxy for N-vs-4N identical
  *   output clusters)
  * - resumability from checkpoint
  * plus blocking recall and extraction determinism.
  */
class ErPipelineSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def freshDir(tag: String): String = {
    val d = s"/tmp/graft_test_$tag"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(d))
    d
  }

  test("pairwise F1 >= 0.99 on labeled same-blocking-key pairs (seed 42)") {
    val cfg = Pipeline.Config(seed = 42L, nPages = 800, nEntities = 150,
      workDir = freshDir("f1_s42"))
    val res = Pipeline.run(spark, cfg)
    assert(res.eval.f1 >= 0.99, s"F1 gate failed: $res")
    assert(res.eval.precision >= 0.99, s"precision: ${res.eval}")
    assert(res.eval.recall >= 0.99, s"recall: ${res.eval}")
  }

  test("pairwise F1 >= 0.99 holds on a different seed") {
    val cfg = Pipeline.Config(seed = 7L, nPages = 800, nEntities = 150,
      workDir = freshDir("f1_s7"))
    val res = Pipeline.run(spark, cfg)
    assert(res.eval.f1 >= 0.99, s"F1 gate failed on seed 7: $res")
  }

  test("weighted string-level evaluation equals the expanded mention-level one") {
    val cfg = Pipeline.Config(seed = 13L, nPages = 600, nEntities = 120,
      workDir = freshDir("weval"))
    val out = Pipeline.runPipeline(spark, cfg)
    val truth = Pipeline.withMentionIds(
      Corpus.truth(spark, cfg.nPages, cfg.nEntities, cfg.seed).toDF())
    val expanded = Pipeline.evaluate(
      Pipeline.labeledPairUniverse(out.pairs, out.membership), truth, out.labels)
    val weighted = Pipeline.evaluateWeighted(
      out.pairs, out.strings, out.membership, truth, out.stringLabels)
    assert(weighted.tp == expanded.tp, s"tp: $weighted vs $expanded")
    assert(weighted.fp == expanded.fp, s"fp: $weighted vs $expanded")
    assert(weighted.fn == expanded.fn, s"fn: $weighted vs $expanded")
    assert(weighted.labeledPairs == expanded.labeledPairs,
      s"universe size: $weighted vs $expanded")
  }

  test("forestLabels equals driver-side union-find labels on real match edges") {
    val cfg = Pipeline.Config(seed = 42L, nPages = 800, nEntities = 150,
      workDir = freshDir("forest_eq"))
    val pages = Corpus.pages(spark, cfg.nPages, cfg.nEntities, cfg.seed).toDF()
    val mentions = Pipeline.extractMentions(pages)
    val (strings, _) = Pipeline.internStrings(mentions)
    val (pairs, _) = Pipeline.candidatePairs(strings, cfg)
    val edges = Pipeline.matchEdges(pairs, strings, cfg).cache()
    val vertices = strings.select($"string_id")
    // forest precondition: one out-edge per satellite, strictly acyclic
    assert(edges.groupBy($"src").count().filter($"count" > 1).isEmpty,
      "matchEdges must emit at most one out-edge per node")
    val (forest, fm) = Pipeline.forestLabels(vertices, edges,
      cfg.copy(workDir = freshDir("forest_eq_f")))
    assert(ReferenceComponents.collected(forest) ==
      ReferenceComponents.labels(vertices, edges),
      "forest labels diverge from the driver-side union-find")
    assert(fm.nonEmpty && fm.size <= 3,
      s"variant forest should resolve in <=3 pointer-jump rounds, took ${fm.size}")
  }

  test("extraction is byte-identical per url regardless of partitioning") {
    val pages1 = Corpus.pages(spark, 200, 50, 42L).toDF().repartition(1)
    val pages2 = Corpus.pages(spark, 200, 50, 42L).toDF().repartition(17)
    val m1 = Pipeline.extractMentions(pages1).select($"url", $"seq", $"raw", $"norm")
    val m2 = Pipeline.extractMentions(pages2).select($"url", $"seq", $"raw", $"norm")
    assert(m1.count() == m2.count())
    assert(m1.exceptAll(m2).isEmpty && m2.exceptAll(m1).isEmpty)
  }

  test("identical clusters at different parallelism (N vs 4N proxy)") {
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "2")
      val o1 = Pipeline.runPipeline(spark, Pipeline.Config(seed = 11L, nPages = 400,
        nEntities = 80, workDir = freshDir("inv2")))
      val l1 = o1.stringLabels.collect().map(r => (r.getLong(0), r.getLong(1))).sorted
      spark.conf.set("spark.sql.shuffle.partitions", "8")
      val o2 = Pipeline.runPipeline(spark, Pipeline.Config(seed = 11L, nPages = 400,
        nEntities = 80, workDir = freshDir("inv8")))
      val l2 = o2.stringLabels.collect().map(r => (r.getLong(0), r.getLong(1))).sorted
      assert(l1.sameElements(l2), "cluster labels differ across parallelism levels")
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  test("clustering resumes from checkpoint to the same fixpoint") {
    val dirFull = freshDir("resume_full")
    val dirPart = freshDir("resume_part")
    val cfgBase = Pipeline.Config(seed = 5L, nPages = 300, nEntities = 60)

    val pages = Corpus.pages(spark, cfgBase.nPages, cfgBase.nEntities, cfgBase.seed).toDF()
    val mentions = Pipeline.extractMentions(pages).cache()
    val (strings, membership) = Pipeline.internStrings(mentions)
    val (pairs, _) = Pipeline.candidatePairs(strings, cfgBase)
    val edges = Pipeline.matchEdges(pairs, strings, cfgBase).cache()
    val vertices = strings.select($"string_id")

    // full run on the corpus edges; collected now, because the resumed run
    // rewrites the same labels table and a lazy read would go stale
    val (labelsFull, mFull) = Pipeline.forestLabels(vertices, edges,
      cfgBase.copy(workDir = dirFull))
    val full = ReferenceComponents.collected(labelsFull)
    // resume from a CONVERGED checkpoint: the resume-entry probe must
    // certify it without spending a confirm round, and labels must match
    val (labelsResumed, mResumed) = Pipeline.forestLabels(vertices, edges,
      cfgBase.copy(workDir = dirFull, resume = true))
    assert(mResumed.isEmpty,
      "resume from a converged checkpoint must probe, not re-iterate")
    assert(full == ReferenceComponents.collected(labelsResumed),
      "resumed labels differ from uninterrupted run")
    assert(mFull.nonEmpty && mFull.forall(m => m.rows.isDefined && m.partitions.isDefined))

    // mid-run interruption needs a forest that CANNOT converge in one
    // doubling round: the chain 1→2→…→9 (depth 8 takes three rounds).
    // Hitting the cap unconverged must FAIL LOUD (silently returning
    // intermediate ancestors = split clusters)...
    val chainEdges = (1L until 9L).map(i => (i, i + 1)).toDF("src", "dst")
    val chainVerts = (1L to 9L).map(Tuple1(_)).toDF("id")
    intercept[IllegalStateException] {
      Pipeline.forestLabels(chainVerts, chainEdges,
        cfgBase.copy(workDir = dirPart, maxIterations = 1))
    }
    // ...and resume must pick up AT iteration 1 from the complete
    // checkpoint and reach the same fixpoint as an uninterrupted run
    val (chainFull, mChainFull) = Pipeline.forestLabels(chainVerts, chainEdges,
      cfgBase.copy(workDir = freshDir("resume_chain_full"), collectStats = false))
    assert(mChainFull.nonEmpty && mChainFull.forall(m => m.rows.isEmpty && m.partitions.isEmpty),
      "collectStats = false must report no checkpoint rows or partitions")
    val (chainResumed, mChain) = Pipeline.forestLabels(chainVerts, chainEdges,
      cfgBase.copy(workDir = dirPart, resume = true))
    assert(mChain.head.iteration == 1, "resume must continue at iteration 1")
    assert(chainFull.exceptAll(chainResumed).isEmpty &&
      chainResumed.exceptAll(chainFull).isEmpty,
      "chain resumed labels differ from uninterrupted run")
    assert(chainResumed.select("label").distinct().count() == 1L,
      "the chain is one component: every vertex must carry label 1")
  }

  test("context evidence disambiguates an equidistant satellite (A6 analogue)") {
    // Two entities whose canonical keys are 2 edits apart (so no direct
    // edge links them: sift 2 needs the freq-ratio gate, and freqs are
    // equal) and a typo satellite exactly 1 edit from EACH. Distance and
    // frequency are both ties — no pairwise string score can choose. The
    // satellite's page co-mentions entity A's city, so context must send
    // it to A.
    val a = "bergstrasse" // key A
    val b = "burgstrosse" // key B (2 subs from A)
    val mid = "burgstrasse" // 1 edit from A (e->u), 1 from B (a->o)
    val idA = Pipeline.stringIdHash(a)
    val idB = Pipeline.stringIdHash(b)
    // context city is attached to the hub the id-tiebreak would NOT pick,
    // so a context-blind run provably chooses the other hub
    val (ctxName, otherName) =
      if (idA < idB) ("Darmstadt", "Berlin") else ("Berlin", "Darmstadt")
    val ctxHub = if (idA < idB) b else a // larger id = not the id-tiebreak pick
    val hubName = if (ctxHub == a) "Bergstrasse" else "Burgstrosse"
    val otherHubName = if (ctxHub == a) "Burgstrosse" else "Bergstrasse"
    val pages = ((1 to 5).map(i =>
      (s"https://x.example/hub$i", "de", s"loc: $hubName\nloc: $ctxName\n")) ++
      (1 to 5).map(i =>
        (s"https://x.example/other$i", "de", s"loc: $otherHubName\nloc: $otherName\n")) ++
      Seq(("https://x.example/sat", "de", s"loc: Burgstrasse\nloc: $ctxName\n")))
      .toDF("url", "lang", "text")
    val cfg = Pipeline.Config(contextEvidence = true, workDir = freshDir("ctx"))
    val mentions = Pipeline.extractMentions(pages).cache()
    val (strings, _) = Pipeline.internStrings(mentions)
    val (pairs, _) = Pipeline.candidatePairs(strings, cfg)
    val idMid = Pipeline.stringIdHash(mid)
    val idCtxHub = Pipeline.stringIdHash(ctxHub)
    val idOtherHub = Pipeline.stringIdHash(if (ctxHub == a) b else a)

    // context-blind: the satellite goes to the smaller-id hub (pure tie)
    val blind = Pipeline.matchEdges(pairs, strings, cfg.copy(contextEvidence = false))
      .filter($"src" === idMid).collect()
    assert(blind.length == 1 && blind(0).getLong(1) == math.min(idCtxHub, idOtherHub),
      s"context-blind tie-break should pick the smaller id: ${blind.toSeq}")

    // with context: the satellite must go to the hub sharing its city
    val ctxEdges = Pipeline.matchEdges(pairs, strings, cfg, Some(mentions))
      .filter($"src" === idMid).collect()
    assert(ctxEdges.length == 1 && ctxEdges(0).getLong(1) == idCtxHub,
      s"context should route the satellite to the co-occurring hub: ${ctxEdges.toSeq}")
    // and no direct edge may fuse the two entities
    val fused = Pipeline.matchEdges(pairs, strings, cfg, Some(mentions))
      .filter(($"src" === idCtxHub && $"dst" === idOtherHub) ||
        ($"src" === idOtherHub && $"dst" === idCtxHub)).count()
    assert(fused == 0, "entities two edits apart with equal freq must not link")
  }

  /** Test-only oracle: the former pair stage. Trigram-prefix blocks and
    * phonetic blocks, each exploded to all member pairs, unioned, then
    * deduplicated on (src, dst). */
  private def explodeDedupPairs(strings: DataFrame, cfg: Pipeline.Config): DataFrame = {
    import graft.{functions => gf}
    val keyed = strings.select($"string_id", explode(gf.trigram_keys($"match_key")).as("key"))
    val freq = keyed.groupBy($"key").agg(count(lit(1)).as("cnt"))
    val prefixed = keyed.join(freq.filter($"cnt" >= 2), Seq("key"))
      .groupBy($"string_id")
      .agg(slice(array_sort(collect_list(struct($"cnt", $"key"))), 1, cfg.prefixKeys).as("topk"))
      .select($"string_id", explode($"topk").as("e"))
      .select($"string_id", $"e.key".as("key"))
    val pfreq = prefixed.groupBy($"key").agg(count(lit(1)).as("cnt"))
    val kept = pfreq.filter($"cnt" >= 2 && $"cnt" <= cfg.maxBlockSize)
    val trigramPairs = prefixed.join(kept.select($"key"), Seq("key"))
      .groupBy($"key").agg(collect_list($"string_id").as("members"))
      .select(explode($"members").as("src"), $"members")
      .select($"src", explode($"members").as("dst"))
      .filter($"src" < $"dst")
    val phonKeyed = strings
      .select($"string_id",
        explode(array_distinct(transform(split($"match_key", " "),
          t => gf.double_metaphone(t)))).as("pkey"))
      .filter(length($"pkey") >= 3)
    val phonFreq = phonKeyed.groupBy($"pkey").agg(count(lit(1)).as("cnt"))
    val phonPairs = phonKeyed
      .join(phonFreq.filter($"cnt" >= 2 && $"cnt" <= cfg.maxBlockSize).select($"pkey"), Seq("pkey"))
      .groupBy($"pkey").agg(collect_list($"string_id").as("ids"))
      .select(explode($"ids").as("src"), $"ids")
      .select($"src", explode($"ids").as("dst"))
      .filter($"src" < $"dst")
    trigramPairs.unionByName(phonPairs).dropDuplicates("src", "dst")
  }

  /** candidatePairs equals the explode+dedup oracle as a set and emits
    * no (src, dst) twice; returns the pairs. */
  private def assertSameAsDedup(strings: DataFrame, cfg: Pipeline.Config,
      tag: String): (DataFrame, Pipeline.BlockingStats) = {
    val (pairs, stats) = Pipeline.candidatePairs(strings, cfg)
    val oracle = explodeDedupPairs(strings, cfg)
    val n = pairs.count()
    assert(n == stats.candidatePairs, s"[$tag] stats disagree with the pairs")
    assert(n == pairs.select($"src", $"dst").distinct().count(),
      s"[$tag] a (src, dst) pair was emitted more than once")
    assert(pairs.exceptAll(oracle).isEmpty && oracle.exceptAll(pairs).isEmpty,
      s"[$tag] pair set differs from explode+dedup: ${n} vs ${oracle.count()}")
    (pairs, stats)
  }

  test("least-common-key pairs equal the explode+dedup pair set on two seeds") {
    for (seed <- Seq(42L, 7L)) {
      val pages = Corpus.pages(spark, 800, 150, seed).toDF()
      val (strings, _) = Pipeline.internStrings(Pipeline.extractMentions(pages))
      val (pairs, _) = assertSameAsDedup(strings,
        Pipeline.Config(seed = seed, workDir = freshDir(s"lcb_$seed")), s"seed $seed")
      assert(pairs.count() > 1000, s"seed $seed: too few pairs to mean anything")
    }
  }

  test("least-common-key pairs: hot least key, phonetic-only and two-family pairs") {
    import graft.text.Ngrams.trigramBlockingKeys
    // maxBlockSize 3: the gram "qza" is offered by six strings and is
    // capped, yet it is the least gram "qzaxyw" and "qzaxywk" share, so
    // their pair must come from their next kept gram ("xyw")
    val hotPair = (1L, "qzaxyw") -> (2L, "qzaxywk")
    val hot = Seq((3L, "qzab"), (4L, "qzac"), (5L, "qzad"), (6L, "qzaf"))
    // no shared gram; both Double-Metaphone to FKS
    val phonPair = (7L, "fax") -> (8L, "phacks")
    // shared grams and a shared code (HPTSTR)
    val bothPair = (9L, "hauptstrasse") -> (10L, "hauptstrase")
    val all = Seq(hotPair, phonPair, bothPair).flatMap { case (a, b) => Seq(a, b) } ++ hot
    val strings = all.toDF("string_id", "match_key")
    val cfg = Pipeline.Config(maxBlockSize = 3, workDir = freshDir("lcb_hand"))

    def grams(s: String) = trigramBlockingKeys(s).toSet
    val hotShared = grams("qzaxyw") intersect grams("qzaxywk")
    val qza = trigramBlockingKeys("qza").head
    assert(hotShared.min == qza && hotShared.size > 1,
      "precondition: the capped gram is the least of several shared grams")
    assert((grams("fax") intersect grams("phacks")).isEmpty,
      "precondition: the phonetic pair shares no gram")

    val (pairs, stats) = assertSameAsDedup(strings, cfg, "hand-built")
    assert(stats.hotKeysDropped >= 1 && stats.hotVolumeDropped >= 6,
      s"the capped gram must be reported: $stats")
    for (((a, _), (b, _)) <- Seq(hotPair, phonPair, bothPair))
      assert(pairs.filter($"src" === a && $"dst" === b).count() == 1,
        s"pair ($a, $b) must be emitted exactly once")
  }

  test("blocking stats are reported (no silent caps)") {
    val cfg = Pipeline.Config(seed = 42L, nPages = 400, nEntities = 80,
      workDir = freshDir("stats"))
    val pages = Corpus.pages(spark, cfg.nPages, cfg.nEntities, cfg.seed).toDF()
    val mentions = Pipeline.extractMentions(pages)
    val (strings, _) = Pipeline.internStrings(mentions)
    val (pairs, stats) = Pipeline.candidatePairs(strings, cfg)
    assert(stats.candidatePairs == pairs.count())
    assert(stats.totalKeys > 0)
    // keptKeys counts keys that actually generate blocks (2 ≤ pfreq ≤
    // cap); the remainder besides hot keys is prefix-SINGLETON keys —
    // grams globally shared but surviving into only one string's 6-slot
    // prefix after rank truncation. The old `total - hot` identity
    // overcounted exactly those phantom blocks.
    assert(stats.keptKeys > 0)
    assert(stats.keptKeys + stats.hotKeysDropped <= stats.totalKeys)
  }

  test("a pathological hot block is capped, logged, and does not hurt recall") {
    // 400 DISTINCT strings whose every repeated trigram (and every
    // Double-Metaphone token code) is shared by all 400 — the worst-case
    // Zipf head. Uncapped blocking would emit 400·399/2 = 79 800 pairs
    // from this one block; the cap (maxBlockSize = 256) must drop it
    // whole and say so in the stats, while an ordinary 1-edit pair
    // elsewhere in the corpus still blocks together.
    val uniq = for (a <- 'a' to 't'; b <- 'a' to 't') yield s"$a$b"
    val hot = uniq.take(400).zipWithIndex.map { case (u, i) =>
      (1000L + i, s"${u(0)} ${u(1)} commonhotkey")
    }
    val needle = Seq((1L, "berlin hauptstrasse"), (2L, "berlin hauptstrase"))
    val strings = (hot ++ needle).toDF("string_id", "match_key")
    val cfg = Pipeline.Config(workDir = freshDir("skew"))
    val (pairs, stats) = Pipeline.candidatePairs(strings, cfg)
    assert(stats.hotKeysDropped > 0, "the hot block must be dropped, not silently kept")
    assert(stats.hotVolumeDropped >= 400, "dropped volume must count the hot block's members")
    assert(stats.candidatePairs < 2000,
      s"capped blocking must stay far below the 79 800-pair quadratic blow-up, got ${stats.candidatePairs}")
    assert(pairs.filter(col("src") === 1L && col("dst") === 2L).count() == 1,
      "the near-duplicate pair outside the hot block must still be generated")
  }
}
