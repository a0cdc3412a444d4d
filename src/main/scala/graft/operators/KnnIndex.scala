package graft.operators

import graft.core.{CellTable, HexGrid}

/**
 * Serializable kNN index over target centroids for the codegen kNN path
 * (same plan-reference-object pattern as [[PipIndex]]): ships inside the
 * query plan, generated code calls `matches(x, y)` directly — no join, no
 * shuffle, no Encoder round-trip on the probe scan.
 *
 * Two internal strategies, selected once at build time:
 *  - `n ≤ linearLimit`: a linear scan over primitive coordinate arrays with
 *    an insertion top-k (k·n flops, zero per-candidate allocation) — for
 *    city-scale target sets this beats walking hex rings, especially for
 *    far-field probes whose ring radius would be huge;
 *  - otherwise: hex-cell ring expansion with the provable stop bound
 *    ([[KnnJoin.ringLowerBound]], tabulated once per index for rings
 *    0..maxR+1), buckets in a [[CellTable]] (the primitive-key table
 *    [[PipIndex]] probes too). The rings are walked in place through
 *    [[HexGrid.ringCell]], so a round allocates no cell array; if `maxR`
 *    rings do not reach the stop bound, the exact linear scan answers.
 *
 * The top-k state (distances, ordinals, filled count) lives in two
 * per-probe primitive arrays passed explicitly to private methods, so
 * nothing is boxed per candidate; the only other allocations are the
 * output rows.
 *
 * Tie-break: (d2, target_id) ascending — targets are pre-sorted by id, so
 * ordinal order IS id order and the insertion sort compares ordinals.
 *
 * `matches` returns ArrayData of struct<target_id:string,d2:double,rnk:int>
 * (rank precomputed — no downstream window needed).
 */
final class KnnIndex(targets: Seq[(String, Double, Double)], val k: Int,
                     res: Int = 12, maxR: Int = 64, linearLimit: Int = 512)
    extends Serializable {

  private val sorted: Array[(String, Double, Double)] =
    targets.sortBy(_._1).toArray
  private val n = sorted.length
  private val txs: Array[Double] = sorted.map(_._2)
  private val tys: Array[Double] = sorted.map(_._3)
  private val linear = n <= linearLimit

  @transient private lazy val tids: Array[org.apache.spark.unsafe.types.UTF8String] =
    sorted.map(t => org.apache.spark.unsafe.types.UTF8String.fromString(t._1))

  @transient private lazy val table: CellTable =
    CellTable(Iterator.tabulate(n)(i => HexGrid.encode(txs(i), tys(i), res) -> i))

  // ringLowerBound(res, r) for r in 0..maxR+1, the stop bound after ring r - 1
  @transient private lazy val lowerBound: Array[Double] =
    Array.tabulate(maxR + 2)(r => KnnJoin.ringLowerBound(res, r))

  private val EmptyArray =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(new Array[Any](0))

  /** k nearest targets of (x, y) as struct rows, ranked 1..k. */
  def matches(x: Double, y: Double): org.apache.spark.sql.catalyst.util.ArrayData = {
    if (n == 0) return EmptyArray
    val kk = math.min(k, n)
    val bd = new Array[Double](kk)
    val bi = new Array[Int](kk)
    var filled = if (linear) -1 else ringWalk(x, y, bd, bi)
    // linear strategy, or the ring budget ran out before the stop bound
    // (far-field probe or sparse targets): the exact linear scan instead of a
    // silently truncated/incomplete top-k
    if (filled < 0) filled = scanAll(x, y, bd, bi)

    val out = new Array[Any](filled)
    var r = 0
    while (r < filled) {
      out(r) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](tids(bi(r)), bd(r), r + 1))
      r += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /**
   * Hex rings 0, 1, … around the probe's cell, walked in place through
   * [[HexGrid.ringCell]], until the k-th best distance beats the stop bound of
   * the next ring. Returns the filled count, or -1 if `maxR` ran out first.
   */
  private def ringWalk(x: Double, y: Double, bd: Array[Double], bi: Array[Int]): Int = {
    val kk = bd.length
    val c0 = HexGrid.encode(x, y, res)
    val tbl = table
    var filled = 0
    var r = 0
    while (r <= maxR) {
      val cells = if (r == 0) 1 else 6 * r
      var ci = 0
      while (ci < cells) {
        val cand = tbl.get(HexGrid.ringCell(c0, r, ci))
        if (cand != null) {
          var j = 0
          while (j < cand.length) {
            val i = cand(j)
            val dx = txs(i) - x; val dy = tys(i) - y
            filled = consider(bd, bi, filled, i, dx * dx + dy * dy)
            j += 1
          }
        }
        ci += 1
      }
      // strict <: unseen targets are then strictly farther, so no tie with
      // the k-th candidate can be missed
      if (filled == kk && math.sqrt(bd(kk - 1)) < lowerBound(r + 1)) return filled
      r += 1
    }
    -1
  }

  /** Every target, in ordinal order; returns the filled count. */
  private def scanAll(x: Double, y: Double, bd: Array[Double], bi: Array[Int]): Int = {
    var filled = 0
    var i = 0
    while (i < n) {
      val dx = txs(i) - x; val dy = tys(i) - y
      filled = consider(bd, bi, filled, i, dx * dx + dy * dy)
      i += 1
    }
    filled
  }

  /**
   * (d2, ordinal) lexicographic insertion of target i into the top-k
   * (bd, bi) holding `filled` entries — ordinal order == target_id order.
   * Returns the new filled count.
   */
  private def consider(bd: Array[Double], bi: Array[Int], filled: Int, i: Int, d2: Double): Int = {
    val kk = bd.length
    if (filled == kk &&
        (d2 > bd(kk - 1) || (d2 == bd(kk - 1) && i > bi(kk - 1)))) return filled
    var p = if (filled < kk) filled else kk - 1
    while (p > 0 && (d2 < bd(p - 1) || (d2 == bd(p - 1) && i < bi(p - 1)))) {
      bd(p) = bd(p - 1); bi(p) = bi(p - 1); p -= 1
    }
    bd(p) = d2; bi(p) = i
    if (filled < kk) filled + 1 else filled
  }
}
