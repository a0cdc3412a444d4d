package graft.operators

import graft.core.Geom.{Polygon, PreparedPolygon, Pt}
import graft.core.{CellTable, HexGrid}
import graft.model.Footprint
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}

/**
 * Serializable cell-bucketed polygon index for the codegen PIP path.
 * Ships inside the query plan (reference-object in generated code); the
 * prepared-geometry buckets are @transient and rebuilt lazily per
 * deserialization — build cost is O(polygons), negligible next to a task.
 *
 * `matches(x, y)` returns Catalyst ArrayData of matched feature ids
 * (UTF8Strings precomputed once). A miss returns a SHARED empty array and a
 * single hit — the usual case, footprints do not overlap — a SHARED
 * one-element array per polygon, built once; only 2 or more hits allocate,
 * in candidate order. Consumers only read these arrays, like the empty one.
 * So the per-row cost on the 10^12-row scan is: one hex encode (primitive
 * math), one [[CellTable]] probe, and — only for candidate cells — the exact
 * boundary-inclusive refine ([[PreparedPolygon]]). Zero allocation on the
 * miss and single-hit paths.
 */
final class PipIndex(polys: Seq[Footprint], res: Int) extends Serializable {

  private case class Entry(id: String, ring: Array[Pt], holes: Array[Array[Pt]])
  private val entries: Array[Entry] = polys.map { f =>
    Entry(f.feature_id, f.ring.map(p => Pt(p.x, p.y)).toArray,
      f.holes.map(_.map(p => Pt(p.x, p.y)).toArray).toArray)
  }.toArray

  @transient private lazy val ids: Array[org.apache.spark.unsafe.types.UTF8String] =
    entries.map(e => org.apache.spark.unsafe.types.UTF8String.fromString(e.id))

  @transient private lazy val table: CellTable = CellTable(
    entries.iterator.zipWithIndex.flatMap { case (e, i) =>
      HexGrid.cover(Polygon(e.ring, e.holes), res).iterator.map(_ -> i)
    })

  @transient private lazy val prepared: Array[PreparedPolygon] =
    entries.map(e => new PreparedPolygon(Polygon(e.ring, e.holes)))

  @transient private lazy val singles: Array[ArrayData] =
    ids.map(id => new GenericArrayData(Array[Any](id)))

  private val EmptyArray = new GenericArrayData(new Array[Any](0))

  /** Matched feature ids as ArrayData (shared instances for 0 and 1 hits). */
  def matches(x: Double, y: Double): ArrayData = {
    val cand = table.get(HexGrid.encode(x, y, res))
    if (cand == null) return EmptyArray
    var first = -1
    var i = 0
    while (i < cand.length) {
      val c = cand(i)
      if (prepared(c).covers(x, y)) {
        if (first >= 0) return multi(cand, first, i, x, y)
        first = c
      }
      i += 1
    }
    if (first < 0) EmptyArray else singles(first)
  }

  /** 2+ hits: `first` and cand(at) cover (x, y); refine the rest of `cand` after `at`. */
  private def multi(cand: Array[Int], first: Int, at: Int, x: Double, y: Double): ArrayData = {
    val hit = new Array[Any](cand.length - at + 1)
    hit(0) = ids(first); hit(1) = ids(cand(at))
    var n = 2
    var i = at + 1
    while (i < cand.length) {
      val c = cand(i)
      if (prepared(c).covers(x, y)) { hit(n) = ids(c); n += 1 }
      i += 1
    }
    if (n == hit.length) new GenericArrayData(hit)
    else new GenericArrayData(java.util.Arrays.copyOf(hit.asInstanceOf[Array[AnyRef]], n).asInstanceOf[Array[Any]])
  }
}
