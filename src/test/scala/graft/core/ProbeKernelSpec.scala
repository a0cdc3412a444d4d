package graft.core

import org.scalatest.funsuite.AnyFunSuite

import graft.ProbeFixtures
import graft.core.Geom.{PreparedPolygon, Pt}

/**
 * The per-row kernels behind `Pipeline.enrich` against independent
 * formulations: `HexGrid.encode` against the defining pow + cube-round
 * formula, `HexGrid.ring` against the filtered k-ring, and
 * `PreparedPolygon.covers` against `Polygon.covers` and JTS `covers`.
 */
class ProbeKernelSpec extends AnyFunSuite {

  /** The defining formula: edge = Edge0 / sqrt(7)^res, then cube rounding. */
  private def formulaEncode(x: Double, y: Double, res: Int): Long = {
    val size = HexGrid.Edge0 / math.pow(math.sqrt(7.0), res)
    val q = (2.0 / 3.0 * x) / size
    val r = (-1.0 / 3.0 * x + math.sqrt(3.0) / 3.0 * y) / size
    val s = -q - r
    var qi = math.round(q).toInt
    var ri = math.round(r).toInt
    val si = math.round(s).toInt
    val dq = math.abs(qi - q); val dr = math.abs(ri - r); val ds = math.abs(si - s)
    if (dq > dr && dq > ds) qi = -ri - si
    else if (dr > ds) ri = -qi - si
    HexGrid.pack(res, qi, ri)
  }

  test("HexGrid.encode is bit-identical to the pow formula on 100k seeded points at every res") {
    val rnd = new scala.util.Random(3)
    val pts = Array.tabulate(100000) { i =>
      i % 4 match {
        case 0 => (ProbeFixtures.X0 + rnd.nextDouble() * 5000, ProbeFixtures.Y0 + rnd.nextDouble() * 5000)
        case 1 => ((rnd.nextDouble() - 0.5) * 2e7, (rnd.nextDouble() - 0.5) * 2e7)
        case 2 => ((rnd.nextDouble() - 0.5) * 10, (rnd.nextDouble() - 0.5) * 10)
        case _ => // a cell corner: the rounding is a near tie
          val c = HexGrid.corners(HexGrid.encode(rnd.nextDouble() * 1e6, rnd.nextDouble() * 1e7, rnd.nextInt(16)))
          val p = c(rnd.nextInt(6)); (p.x, p.y)
      }
    }
    for (res <- 0 to HexGrid.MaxRes) {
      var i = 0
      while (i < pts.length) {
        val (x, y) = pts(i)
        val got = HexGrid.encode(x, y, res)
        if (got != formulaEncode(x, y, res)) fail(s"encode($x, $y, $res) = $got differs")
        i += 1
      }
      assert(HexGrid.edge(res) == HexGrid.Edge0 / math.pow(math.sqrt(7.0), res))
      assert(HexGrid.apothem(res) == HexGrid.Edge0 / math.pow(math.sqrt(7.0), res) * math.sqrt(3.0) / 2.0)
    }
  }

  test("an out-of-range res fails with 'res out of range', never an index error") {
    for (res <- Seq(-1, 16, Int.MinValue, Int.MaxValue)) {
      val calls: Seq[() => Any] = Seq(() => HexGrid.encode(1.0, 2.0, res), () => HexGrid.edge(res),
        () => HexGrid.apothem(res), () => HexGrid.pack(res, 0, 0))
      calls.foreach { call =>
        val e = intercept[IllegalArgumentException](call())
        assert(e.getMessage === s"requirement failed: res out of range: $res")
      }
    }
  }

  test("hex_encode(x, y, 16) fails in Spark with 'res out of range'") {
    val spark = graft.TestSpark.spark
    import org.apache.spark.sql.functions.{col, lit}
    import spark.implicits._
    val df = Seq((1.0, 2.0)).toDF("x", "y")
    val e = intercept[Throwable](
      df.select(graft.functions.GeoFunctions.hex_encode(col("x"), col("y"), lit(16))).collect())
    val msgs = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).map(t => String.valueOf(t.getMessage))
    assert(msgs.exists(_.contains("res out of range: 16")), e.toString)
  }

  test("HexGrid.ring: 6k distinct cells, set-equal to the filtered k-ring, k in 0..12") {
    val cells = Seq(HexGrid.encode(ProbeFixtures.X0, ProbeFixtures.Y0, 11), HexGrid.encode(-3e5, -7e5, 9),
      HexGrid.pack(0, 0, 0), HexGrid.pack(15, -12345, 6789))
    for (c <- cells; k <- 0 to 12) {
      val ring = HexGrid.ring(c, k)
      assert(ring.length === (if (k == 0) 1 else 6 * k))
      assert(ring.distinct.length === ring.length, s"duplicates in ring($c, $k)")
      assert(ring.toSet === HexGrid.kRing(c, k).filter(HexGrid.dist(c, _) == k).toSet)
      assert(ring.indices.forall(i => HexGrid.ringCell(c, k, i) == ring(i)))
    }
  }

  private lazy val jtsFactory = new org.locationtech.jts.geom.GeometryFactory()

  private def jts(p: Geom.Polygon): org.locationtech.jts.geom.Polygon = {
    def lr(r: Array[Pt]) = jtsFactory.createLinearRing(
      (r :+ r.head).map(v => new org.locationtech.jts.geom.Coordinate(v.x, v.y)))
    jtsFactory.createPolygon(lr(p.ring), p.holes.map(lr))
  }

  test("PreparedPolygon.covers == Polygon.covers == JTS covers on city footprints") {
    var jtsChecked = 0
    for ((id, poly) <- ProbeFixtures.disjoint) {
      val prepared = new PreparedPolygon(poly)
      val j = if (ProbeFixtures.degenerate(id)) None else Some(jts(poly))
      j.foreach(g => assert(g.isValid, s"$id should be a valid JTS polygon"))
      val one = Seq(id -> poly)
      for ((pid, x, y) <- ProbeFixtures.seeded(one, 2000, 5)) {
        val got = prepared.covers(x, y)
        assert(got === poly.covers(x, y), s"$pid ($x, $y)")
        j.foreach { g =>
          val pt = jtsFactory.createPoint(new org.locationtech.jts.geom.Coordinate(x, y))
          if (g.getBoundary.distance(pt) > 1e-9) { assert(got === g.covers(pt), s"$pid ($x, $y) vs JTS"); jtsChecked += 1 }
        }
      }
      for ((pid, x, y, exact) <- ProbeFixtures.planted(one)) {
        val got = prepared.covers(x, y)
        assert(got === poly.covers(x, y), s"$pid ($x, $y)")
        // vertices and axis-aligned edge midpoints lie exactly on the boundary
        if (exact) {
          assert(got, s"$pid ($x, $y) is on the boundary")
          j.foreach(g => assert(g.covers(jtsFactory.createPoint(new org.locationtech.jts.geom.Coordinate(x, y))), pid))
        }
      }
    }
    assert(jtsChecked > 20000)
  }

  test("PreparedPolygon.covers: 70 holes, hole interiors miss, hole boundaries and the web between hit") {
    val (_, poly) = ProbeFixtures.disjoint.find(_._1 == "holes70").get
    assert(poly.holes.length === 70)
    val prepared = new PreparedPolygon(poly)
    for ((h, i) <- poly.holes.zipWithIndex) {
      val e = Geom.Polygon(h).env
      assert(!prepared.covers((e.minx + e.maxx) / 2, (e.miny + e.maxy) / 2), s"inside hole $i")
      assert(prepared.covers(e.minx, (e.miny + e.maxy) / 2), s"on hole $i")
      assert(prepared.covers(e.maxx + 1, (e.miny + e.maxy) / 2), s"right of hole $i")
    }
    // the zero-height rings: only their segments are covered
    val (_, flat) = ProbeFixtures.disjoint.find(_._1 == "flat").get
    val flatP = new PreparedPolygon(flat)
    assert(flatP.covers(ProbeFixtures.X0 + 72.25, ProbeFixtures.Y0 + 130))
    assert(!flatP.covers(ProbeFixtures.X0 + 72.25, ProbeFixtures.Y0 + 130.5))
    val (_, slit) = ProbeFixtures.disjoint.find(_._1 == "slit").get
    val slitP = new PreparedPolygon(slit)
    assert(slitP.covers(ProbeFixtures.X0 + 50, ProbeFixtures.Y0 + 140))
    assert(slitP.covers(ProbeFixtures.X0 + 50, ProbeFixtures.Y0 + 140.5))
  }
}
