package graft

import graft.core.Geom.{Polygon, Pt}
import graft.model.{Env6, Footprint, XY}

/**
 * Synthetic footprints shaped like a UTM city block, shared by the probe
 * kernel specs: 0.25 m-lattice rectangles (some deliberately overlapping),
 * concave L-shapes, a courtyard with a hole, a 256-vertex round footprint, a
 * block with 70 holes, and zero-height degenerate rings (a flat outer ring
 * and a slit hole). Probe points are seeded uniforms around every footprint
 * plus points planted on every vertex and edge midpoint of every ring.
 */
object ProbeFixtures {

  val X0 = 457800.0
  val Y0 = 5439000.0

  private def ring(xy: (Double, Double)*): Array[Pt] = xy.map { case (x, y) => Pt(X0 + x, Y0 + y) }.toArray

  private def rect(x: Double, y: Double, w: Double, h: Double): Array[Pt] =
    ring((x, y), (x + w, y), (x + w, y + h), (x, y + h))

  /** Non-overlapping footprints: every point lies in at most one of them. */
  lazy val disjoint: Seq[(String, Polygon)] = {
    val rnd = new scala.util.Random(7)
    def q(v: Double) = math.rint(v * 4) / 4 // snap to the 0.25 m lattice
    val rects = for (i <- 0 until 5; j <- 0 until 4) yield
      s"rect_${i}_$j" -> Polygon(rect(i * 30.0, j * 30.0, q(8 + rnd.nextDouble() * 18), q(8 + rnd.nextDouble() * 18)))
    val round = {
      val (cx, cy, r) = (X0 + 230.0, Y0 + 40.0, 17.5)
      "round" -> Polygon(Array.tabulate(256) { i =>
        val a = 2 * math.Pi * i / 256
        Pt(cx + r * math.cos(a), cy + r * math.sin(a))
      })
    }
    val holey = "holes70" -> Polygon(rect(0, 200, 100, 70),
      (for (i <- 0 until 10; j <- 0 until 7) yield rect(2.0 + i * 10, 202.0 + j * 10, 4.5, 4.0)).toArray)
    rects ++ Seq(
      "ell_a" -> Polygon(ring((160, 0), (175, 0), (175, 5), (165, 5), (165, 20), (160, 20))),
      "ell_b" -> Polygon(ring((160, 30), (162.5, 30), (162.5, 42.5), (175, 42.5), (175, 45), (160, 45))),
      "court" -> Polygon(rect(0, 130, 30, 30), Array(rect(10, 140, 10, 10))),
      "slit" -> Polygon(rect(40, 130, 20, 20), Array(ring((45, 140), (55, 140), (50, 140)))),
      "flat" -> Polygon(ring((70, 130), (80, 130), (75, 130))),
      round, holey)
  }

  /** Two rectangles overlapping the disjoint set, so some points match 2 or 3 footprints. */
  lazy val overlapping: Seq[(String, Polygon)] = disjoint ++ Seq(
    "over_a" -> Polygon(rect(5, 5, 40, 40)),
    "over_b" -> Polygon(rect(20, 20, 15, 15)))

  /** JTS accepts the zero-height rings but treats them as invalid; compare JTS on valid shapes only. */
  def degenerate(id: String): Boolean = id == "flat" || id == "slit"

  /** Planted boundary points: (id, x, y, onAxisAlignedEdge) for every vertex and edge midpoint. */
  def planted(polys: Seq[(String, Polygon)]): Seq[(String, Double, Double, Boolean)] =
    polys.flatMap { case (id, p) =>
      (p.ring +: p.holes.toSeq).zipWithIndex.flatMap { case (r, ri) =>
        r.indices.flatMap { k =>
          val a = r(k); val b = r((k + 1) % r.length)
          Seq((s"${id}_v${ri}_$k", a.x, a.y, true),
            (s"${id}_e${ri}_$k", (a.x + b.x) / 2, (a.y + b.y) / 2, a.x == b.x || a.y == b.y))
        }
      }
    }

  /** Seeded uniform probes over each footprint's envelope grown by 3 m. */
  def seeded(polys: Seq[(String, Polygon)], perPoly: Int, seed: Long): Seq[(String, Double, Double)] = {
    val rnd = new scala.util.Random(seed)
    polys.flatMap { case (id, p) =>
      val e = p.env
      Seq.tabulate(perPoly) { i =>
        (s"${id}_r$i", e.minx - 3 + rnd.nextDouble() * (e.maxx - e.minx + 6),
          e.miny - 3 + rnd.nextDouble() * (e.maxy - e.miny + 6))
      }
    }
  }

  /** All probes: seeded plus planted, as (id, x, y). */
  def probes(polys: Seq[(String, Polygon)], perPoly: Int = 400, seed: Long = 11): Seq[(String, Double, Double)] =
    seeded(polys, perPoly, seed) ++ planted(polys).map { case (id, x, y, _) => (id, x, y) }

  def footprint(id: String, p: Polygon): Footprint = {
    val e = p.env
    Footprint(id, "Building", 0, p.ring.map(v => XY(v.x, v.y)).toSeq,
      p.holes.map(_.map(v => XY(v.x, v.y)).toSeq).toSeq,
      Env6(e.minx, e.miny, 0, e.maxx, e.maxy, 0), XY(p.centroid.x, p.centroid.y), Map.empty)
  }
}
