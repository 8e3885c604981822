package graft.ops

/** Driver-side stage timing for dev runs: with GRAFT_STAGE_TIMING set,
  * prints `[stage] <tag>: <seconds> s` after `body` returns. */
object StageTiming {
  def timed[T](tag: String)(body: => T): T = {
    val t0 = System.nanoTime()
    val r = body
    if (sys.env.contains("GRAFT_STAGE_TIMING"))
      println(f"[stage] $tag: ${(System.nanoTime() - t0) / 1e9}%.2f s")
    r
  }
}
