package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.SparkTestSession

class ComponentsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** Deterministic multi-component graph: vertices 0..59, a chain inside
    * each residue class mod 6 with some edges withheld as the "new"
    * batch — including edges that BRIDGE two old components (the case
    * where incremental maintenance must actually merge clusters, not
    * just extend one). */
  private def graph() = {
    val all = (0 until 54).map(i => (i.toLong, (i + 6).toLong)) // chains mod 6
    val bridges = Seq((1L, 2L), (3L, 4L)) // merge components 1∪2 and 3∪4
    val extra = Seq((48L, 54L), (55L, 55L)) // tail extension + self-loop
    (all, bridges ++ extra)
  }

  test("incrementalComponents over prior labels equals full re-clustering") {
    val (oldEdges, newEdges) = graph()
    val vertices = (0L to 59L).toDF("id")
    val oldDf = oldEdges.toDF("src", "dst")
    val newDf = newEdges.toDF("src", "dst")

    val prior = Components.connectedComponents(vertices, oldDf)
    val incremental = Components.incrementalComponents(prior, newDf)
    val full = Components.connectedComponents(
      vertices, oldDf.unionByName(newDf))

    // min-label semantics make both labelings canonical (label = min
    // member id), so the comparison is exact equality, not isomorphism
    assert(incremental.exceptAll(full).isEmpty &&
      full.exceptAll(incremental).isEmpty,
      "incremental labels diverge from full re-clustering")
    assert(ReferenceComponents.collected(full) ==
      ReferenceComponents.labels(vertices, oldDf.unionByName(newDf)),
      "full re-clustering diverges from the driver-side union-find")
    // the bridge edges really did merge old components
    val labelOf = incremental.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labelOf(1L) == labelOf(2L) && labelOf(1L) == labelOf(8L))
    assert(labelOf(3L) == labelOf(4L))
    assert(labelOf(0L) != labelOf(1L), "unbridged components must stay apart")
  }

  test("incrementalComponents with empty new batch is the identity") {
    val (oldEdges, _) = graph()
    val vertices = (0L to 59L).toDF("id")
    val prior = Components.connectedComponents(vertices, oldEdges.toDF("src", "dst"))
    val same = Components.incrementalComponents(prior,
      Seq.empty[(Long, Long)].toDF("src", "dst"))
    assert(same.exceptAll(prior).isEmpty && prior.exceptAll(same).isEmpty)
  }

  test("incrementalComponents admits brand-new vertices from the edge batch") {
    val prior = Seq((10L, 10L), (11L, 10L)).toDF("id", "label")
    val out = Components.incrementalComponents(prior,
      Seq((11L, 100L), (200L, 201L)).toDF("src", "dst"))
    val m = out.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m(100L) == 10L, "new vertex must join the old cluster through the bridge")
    assert(m(200L) == 200L && m(201L) == 200L, "disjoint new pair forms its own cluster")
    assert(m.keySet == Set(10L, 11L, 100L, 200L, 201L))
  }

  test("connectedComponents equals a driver-side union-find on eight graphs") {
    def check(name: String, vs: Seq[Long], es: Seq[(Long, Long)]): Unit = {
      val got = ReferenceComponents.collected(
        Components.connectedComponents(vs.toDF("id"), es.toDF("src", "dst")))
      val want = ReferenceComponents.labels(vs, es)
      assert(got == want, s"$name: got=$got want=$want")
    }
    // clique (the near-dup group shape): one doubling round resolves it
    check("clique", 1L to 5L,
      (1L to 5L).combinations(2).map(c => (c(0), c(1))).toSeq)
    // the shape that BREAKS a bare min-neighbor pass: 3's neighbors are
    // {1,2}, so 1 and 2 both root their own trees and only the residual
    // contracted edge (1,2) merges them
    check("leaf-pair", Seq(1L, 2L, 3L), Seq((2L, 3L), (1L, 3L)))
    // a long chain: pointer doubling must walk log(depth) rounds
    check("chain", 1L to 12L, (1L until 12L).map(i => (i, i + 1)))
    // a path visiting 1,12,2,11,…,6,7: half its vertices are min-neighbor
    // roots, and only the recursion on the residual root chain 1–2–…–6
    // joins them
    val path = Seq(1L, 12L, 2L, 11L, 3L, 10L, 4L, 9L, 5L, 8L, 6L, 7L)
    check("interleaved path", 1L to 12L, path.zip(path.tail))
    // isolated vertices + multiple components + reversed edge orientation
    check("mixed", 1L to 10L, Seq((7L, 2L), (2L, 9L), (5L, 4L), (10L, 10L)))
    check("empty", 1L to 5L, Seq.empty)
    check("self-loops", 1L to 5L, Seq((1L, 1L), (3L, 3L), (5L, 5L)))
    // deterministic pseudo-random graph (LCG — no Math.random in tests
    // either, same reproducibility discipline as the mains)
    var s = 42L
    def nxt(n: Long): Long = { s = (s * 6364136223846793005L + 1442695040888963407L) & Long.MaxValue; s % n }
    val rv = 1L to 60L
    val re = (1 to 80).map(_ => (nxt(60) + 1, nxt(60) + 1)).filter(p => p._1 != p._2)
    check("random", rv, re)
  }

  test("connectedComponents throws when maxIter rounds do not converge") {
    // a 12-vertex chain needs ⌈log₂ 11⌉ doubling rounds; returning the
    // one-round labels would silently split the component
    intercept[IllegalStateException] {
      Components.connectedComponents((1L to 12L).toDF("id"),
        (1L until 12L).map(i => (i, i + 1)).toDF("src", "dst"), maxIter = 1).collect()
    }
  }
}
