package graft.operators

import org.scalatest.funsuite.AnyFunSuite

import graft.ProbeFixtures
import org.apache.spark.sql.catalyst.util.ArrayData

/**
 * The plan-reference probe indexes against independent answers:
 * `PipIndex.matches` against `PipJoin.bruteForce` (multi-hit order, shared
 * miss and single-hit instances), and the `KnnIndex` ring walk against its
 * exact linear scan and a sort by (d2, target_id).
 */
class ProbeIndexSpec extends AnyFunSuite {

  private def ids(a: ArrayData): Seq[String] = Seq.tabulate(a.numElements())(a.getUTF8String(_).toString)

  private def check(polys: Seq[(String, graft.core.Geom.Polygon)]): Map[String, Seq[String]] = {
    val fps = polys.map { case (id, p) => ProbeFixtures.footprint(id, p) }
    val probes = ProbeFixtures.probes(polys)
    val index = new PipIndex(fps, PipJoin.DefaultRes)
    val got = probes.map { case (id, x, y) => id -> ids(index.matches(x, y)) }.toMap
    assert(got.toSeq.flatMap { case (id, fs) => fs.map(id -> _) }.toSet === PipJoin.bruteForce(probes, fps))
    // several hits come in footprint order (the order the cell buckets are filled)
    val order = fps.map(_.feature_id).zipWithIndex.toMap
    got.values.foreach(fs => assert(fs === fs.sortBy(order)))
    // a miss and every single hit return one shared instance per outcome
    val byHit = probes.groupBy { case (id, _, _) => got(id) }
    byHit.foreach { case (fs, ps) if fs.size <= 1 && ps.size > 1 =>
        val (_, x0, y0) = ps.head; val (_, x1, y1) = ps.last
        assert(index.matches(x0, y0) eq index.matches(x1, y1), s"not shared: $fs")
      case _ =>
    }
    got
  }

  test("PipIndex.matches == bruteForce, non-overlapping footprints: shared single hits") {
    val got = check(ProbeFixtures.disjoint)
    assert(got.values.forall(_.size <= 1))
    assert(got.values.count(_.size == 1) > 5000 && got.values.count(_.isEmpty) > 1000)
  }

  test("PipIndex.matches == bruteForce, overlapping footprints: 2 and 3 hits in candidate order") {
    val got = check(ProbeFixtures.overlapping)
    assert(got.values.exists(_.size == 2) && got.values.exists(_.size == 3))
  }

  private def rows(a: ArrayData): Seq[(String, Double, Int)] = Seq.tabulate(a.numElements()) { i =>
    val s = a.getStruct(i, 3); (s.getUTF8String(0).toString, s.getDouble(1), s.getInt(2))
  }

  test("KnnIndex ring walk == exact linear scan == sort by (d2, id): ties and far-field probes") {
    val rnd = new scala.util.Random(17)
    val (x0, y0) = (ProbeFixtures.X0, ProbeFixtures.Y0)
    // 1200 scattered targets, duplicate coordinates under distinct ids, and
    // four targets 5 m from (cx, cy), 200 m off the scatter (exact d2 ties)
    val scattered = Seq.tabulate(1200)(i => (f"t$i%05d", x0 + rnd.nextDouble() * 800, y0 + rnd.nextDouble() * 800))
    val dupes = scattered.take(50).map { case (id, x, y) => (id + "_dup", x, y) }
    val (cx, cy) = (x0 + 1000, y0 + 1000)
    val cross = Seq((5.0, 0.0), (-5.0, 0.0), (0.0, 5.0), (0.0, -5.0))
      .zipWithIndex.map { case ((dx, dy), i) => (s"cross$i", cx + dx, cy + dy) }
    val targets = rnd.shuffle(scattered ++ dupes ++ cross)
    val probes = Seq.tabulate(600)(_ => (x0 - 50 + rnd.nextDouble() * 900, y0 - 50 + rnd.nextDouble() * 900)) ++
      dupes.take(20).map(t => (t._2, t._3)) ++ Seq((cx, cy)) ++
      // far field: 64 res-12 rings (~1 km) never reach the stop bound
      Seq((x0 + 2e5, y0), (x0 - 3e4, y0 + 9e4), (x0 + 400, y0 - 5e3))
    for (k <- Seq(1, 3, 5)) {
      val grid = new KnnIndex(targets, k, linearLimit = 0)
      val linear = new KnnIndex(targets, k, linearLimit = Int.MaxValue)
      for ((x, y) <- probes) {
        val want = targets.map { case (id, tx, ty) => (id, (tx - x) * (tx - x) + (ty - y) * (ty - y)) }
          .sortBy { case (id, d2) => (d2, id) }.take(k).zipWithIndex.map { case ((id, d2), r) => (id, d2, r + 1) }
        assert(rows(grid.matches(x, y)) === want, s"grid k=$k at ($x, $y)")
        assert(rows(linear.matches(x, y)) === want, s"linear k=$k at ($x, $y)")
      }
      // the tie probe sees exactly the four equidistant targets, in id order
      assert(rows(grid.matches(cx, cy)).map(_._1).take(4) === Seq("cross0", "cross1", "cross2", "cross3").take(k))
    }
  }
}
