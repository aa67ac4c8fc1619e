package graft.ops

/** In-JVM union-find: the reference the components-kernel specs compare
  * against. A union points the larger root at the smaller, so every root
  * is its component's minimum and the labels are min-ids like the
  * kernel's. */
object UnionFindRef {
  def labels(vertices: Iterable[Long], edges: Iterable[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map(vertices.map(i => i -> i).toSeq: _*)
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val nx = parent(c); parent(c) = r; c = nx }
      r
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    vertices.map(i => i -> find(i)).toMap
  }
}
