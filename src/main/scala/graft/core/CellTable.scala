package graft.core

import scala.collection.mutable

/**
 * Cell → ordinals table shared by the plan-reference indexes
 * ([[graft.operators.PipIndex]], [[graft.operators.KnnIndex]]): open
 * addressing over a primitive long key array, power-of-two capacity, `mix64`
 * hash, linear probing. A java.util.HashMap[java.lang.Long, _] would box the
 * key on every probe — one boxed Long per scanned row. An empty slot holds a
 * null bucket, so `get` allocates nothing and returns null on a miss.
 */
final class CellTable private (keys: Array[Long], vals: Array[Array[Int]])
    extends Serializable {
  private val mask = keys.length - 1

  /** Ordinals filed under `cell`, in insertion order; null on a miss. */
  def get(cell: Long): Array[Int] = {
    var slot = (Hashing.mix64(cell) & mask).toInt
    while (true) {
      val v = vals(slot)
      if (v == null || keys(slot) == cell) return v
      slot = (slot + 1) & mask
    }
    null
  }
}

object CellTable {

  /** Build from (cell, ordinal) pairs; load factor ≤ 1/4. */
  def apply(pairs: Iterator[(Long, Int)]): CellTable = {
    val tmp = mutable.LongMap.empty[mutable.ArrayBuilder.ofInt]
    pairs.foreach { case (cell, i) => tmp.getOrElseUpdate(cell, new mutable.ArrayBuilder.ofInt) += i }
    var cap = 16
    while (cap < tmp.size * 4) cap <<= 1
    val keys = new Array[Long](cap)
    val vals = new Array[Array[Int]](cap)
    val mask = cap - 1
    tmp.foreachEntry { (cell, b) =>
      var slot = (Hashing.mix64(cell) & mask).toInt
      while (vals(slot) != null) slot = (slot + 1) & mask
      keys(slot) = cell
      vals(slot) = b.result()
    }
    new CellTable(keys, vals)
  }
}
