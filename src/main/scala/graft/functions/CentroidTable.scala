package graft.functions

/** A coarse quantizer held on the driver: centroid ids and their exact
  * doubles, row-aligned. The nearest-centroid expressions carry it
  * through the codegen references array, so it ships inside the
  * stage's broadcast task binary: no plan literal, no size ceiling, no
  * join fallback. `toString` names the shape only, so plans and SQL UI
  * events never print the centroids. */
final class CentroidTable(val ids: Array[Long], val vecs: Array[Array[Double]])
    extends Serializable {
  require(ids.length == vecs.length, "one vector per centroid id")

  def size: Int = ids.length
  def isEmpty: Boolean = ids.isEmpty
  def dim: Int = if (isEmpty) 0 else vecs(0).length
  def rows: Seq[(Long, Seq[Double])] = ids.toSeq.zip(vecs.toSeq.map(_.toSeq))

  @transient private lazy val slots: Map[Long, Int] = ids.zipWithIndex.toMap

  /** Row of `cid` (the last one when ids repeat); -1 when absent. */
  def indexOf(cid: Long): Int = slots.getOrElse(cid, -1)

  override def toString: String = s"CentroidTable(${size}x$dim)"
}

object CentroidTable {
  def apply(rows: Seq[(Long, Seq[Double])]): CentroidTable =
    new CentroidTable(rows.map(_._1).toArray, rows.map(_._2.toArray).toArray)
}
