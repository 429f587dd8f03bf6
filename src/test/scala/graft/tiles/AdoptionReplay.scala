package graft.tiles

import scala.collection.mutable

/** The adoption rule of [[Clustering.incrementalClusters]], replayed
  * with a plain flood fill over (x, y) cells: a new component takes the
  * smallest 4-adjacent existing id, else max existing id + its rank by
  * min packed id among the components that adopt nothing. Returns the
  * existing labels plus the new cells' labels.
  */
object AdoptionReplay {
  type Cell = (Long, Long)

  def nbrs(c: Cell): Seq[Cell] =
    Seq((c._1 + 1, c._2), (c._1 - 1, c._2), (c._1, c._2 + 1), (c._1, c._2 - 1))

  def adopt(existing: Map[Cell, Long], cells: Seq[Cell]): Map[Cell, Long] = {
    val live = cells.toSet
    val tmp = mutable.Map.empty[Cell, Long]
    cells.foreach { c0 =>
      if (!tmp.contains(c0)) {
        val comp = mutable.ArrayBuffer(c0)
        val seen = mutable.Set(c0)
        var i = 0
        while (i < comp.size) {
          nbrs(comp(i)).filter(n => live(n) && seen.add(n)).foreach(comp += _)
          i += 1
        }
        val id = comp.map(c => c._1 * Clustering.IdShift + c._2).min
        comp.foreach(tmp(_) = id)
      }
    }
    val members = tmp.toSeq.groupMap(_._2)(_._1)
    val adopted = members.flatMap { case (t, cs) =>
      cs.flatMap(nbrs).flatMap(existing.get).minOption.map(t -> _)
    }
    val maxId = existing.values.maxOption.getOrElse(0L)
    val fresh = members.keys.filterNot(adopted.contains).toSeq.sorted
      .zipWithIndex.map { case (t, i) => t -> (maxId + i + 1) }.toMap
    existing ++ tmp.map { case (c, t) => c -> adopted.getOrElse(t, fresh(t)) }
  }
}
