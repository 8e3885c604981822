package graftbench

import org.apache.spark.unsafe.types.UTF8String
import graft.functions.ExprKernels
import graft.text.{MatchKeys, Ngrams, Normalize}

/** `graft.text` kernels timed on one thread over the traced `er-batch`
  * run's own strings and candidate pairs. The pair kernels are called
  * through the same entry points the codegen'd expressions call. */
object TextLayer {
  private val Reps = 7
  // results land here so the JIT cannot drop the timed calls
  @volatile private var blackhole = 0L

  /** Median over `Reps` timed passes of nanoseconds per call, after two
    * untimed passes. */
  private def nsPerCall[A](xs: Array[A])(f: A => Int): Double = {
    var sink = 0L
    def once(): Long = {
      val t0 = System.nanoTime()
      var i = 0
      while (i < xs.length) { sink += f(xs(i)); i += 1 }
      System.nanoTime() - t0
    }
    once(); once()
    val ts = (1 to Reps).map(_ => once().toDouble / xs.length)
    blackhole += sink
    Stats.median(ts)
  }

  def metrics(sample: ErBatch.TextSample): Seq[Metric] = {
    val raws = sample.raws
    val keys = raws.map(MatchKeys.matchKey)
    val pairs = sample.keyPairs.map { case (a, b) => (UTF8String.fromString(a), UTF8String.fromString(b)) }
    Seq(
      Metric("text.normalize.ns", nsPerCall(raws)(s => Normalize.canonical(s).length), "ns"),
      Metric("text.match_key.ns", nsPerCall(raws)(s => MatchKeys.matchKey(s).length), "ns"),
      Metric("text.trigram_keys.ns", nsPerCall(keys)(s => Ngrams.trigramBlockingKeys(s).length), "ns"),
      Metric("text.jaro_winkler.ns",
        nsPerCall(pairs)(p => (ExprKernels.jaroWinkler(p._1, p._2) * 1000).toInt), "ns"),
      Metric("text.sift4_cp.ns", nsPerCall(pairs)(p => ExprKernels.sift4Cp(p._1, p._2)), "ns"))
  }
}
