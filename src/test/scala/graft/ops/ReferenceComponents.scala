package graft.ops

import org.apache.spark.sql.DataFrame

/** Driver-side union-find over collected edges: the reference the Spark
  * closures (Components.connectedComponents, er.Pipeline.forestLabels)
  * are checked against. Test-sized graphs only. */
object ReferenceComponents {
  /** Min-member-id label of every vertex, with components formed by
    * `edges` (endpoints outside `vertices` still connect). */
  def labels(vertices: Seq[Long], edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    @annotation.tailrec
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else find(p)
    }
    // linking the larger root under the smaller keeps each root its
    // component's minimum
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    vertices.map(v => v -> find(v)).toMap
  }

  /** The same over frames: vertices (id), edges (src, dst). */
  def labels(vertices: DataFrame, edges: DataFrame): Map[Long, Long] =
    labels(vertices.collect().map(_.getLong(0)).toSeq,
      edges.select("src", "dst").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq)

  /** (id, label) rows collected to a map; an id listed twice fails. */
  def collected(labels: DataFrame): Map[Long, Long] = {
    val rows = labels.select("id", "label").collect().map(r => r.getLong(0) -> r.getLong(1))
    require(rows.map(_._1).distinct.length == rows.length, "duplicate ids in labels")
    rows.toMap
  }
}
