package graft.operators

/** Driver-side union-find over long ids whose component label is the
  * smallest id in it: path compression, and union by min (the smaller
  * root stays the root). The local fast paths of [[Dedup.clusterReps]] and
  * [[GraphStore]]'s append share it, so both label components exactly as
  * their distributed min-label propagation does.
  */
private[graft] final class MinLabelUnionFind {
  private val parent = scala.collection.mutable.HashMap.empty[Long, Long]

  def find(x: Long): Long = {
    var r = x
    while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
    var c = x
    while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
    r
  }

  def union(a: Long, b: Long): Unit = {
    val (ra, rb) = (find(a), find(b))
    if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
  }

  /** Track `x` so [[labels]] reports it even while it is its own root. */
  def add(x: Long): Unit = parent.getOrElseUpdate(x, find(x))

  /** (id, label) for every id added or unioned away from its own root. */
  def labels: Seq[(Long, Long)] = parent.keys.map(id => (id, find(id))).toSeq
}
