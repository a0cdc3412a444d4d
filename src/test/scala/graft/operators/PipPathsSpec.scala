package graft.operators

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.model._

/**
 * The two PIP join paths and their one decision, on synthetic footprints:
 * axis-aligned squares (two of them overlapping, so some points match twice),
 * concave L-shapes and a courtyard with a hole, probed by seeded points plus
 * points planted on every vertex and edge midpoint — ring and hole. Every
 * path must return exactly the brute-force row set, boundary-inclusive.
 */
class PipPathsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val X0 = 457800.0
  private val Y0 = 5439000.0

  private def footprint(id: String, ring: Seq[(Double, Double)],
                        holes: Seq[Seq[(Double, Double)]] = Nil): Footprint = {
    val r = ring.map { case (x, y) => XY(X0 + x, Y0 + y) }
    val xs = r.map(_.x); val ys = r.map(_.y)
    Footprint(id, "Building", 0, r, holes.map(_.map { case (x, y) => XY(X0 + x, Y0 + y) }),
      Env6(xs.min, ys.min, 0, xs.max, ys.max, 0), XY(xs.sum / xs.size, ys.sum / ys.size), Map.empty)
  }

  private def square(id: String, x: Double, y: Double, w: Double): Footprint =
    footprint(id, Seq((x, y), (x + w, y), (x + w, y + w), (x, y + w)))

  lazy val polys: Seq[Footprint] =
    (for (i <- 0 until 4; j <- 0 until 3) yield square(s"sq_${i}_$j", i * 14.0, j * 14.0, 9.0)) ++
      Seq(
        square("sq_over", 5.0, 5.0, 8.0), // overlaps sq_0_0: two matches per shared point
        footprint("ell_a", Seq((60, 0), (75, 0), (75, 5), (65, 5), (65, 20), (60, 20))),
        footprint("ell_b", Seq((60, 30), (62.5, 30), (62.5, 42.5), (75, 42.5), (75, 45), (60, 45))),
        footprint("court", Seq((0, 50), (30, 50), (30, 80), (0, 80)),
          holes = Seq(Seq((10, 60), (20, 60), (20, 70), (10, 70)))))

  lazy val points: Seq[(String, Double, Double)] = {
    val seeded = (0L until 3000L).map { i =>
      (s"r$i", X0 - 5.0 + graft.core.Hashing.uniform(11, 2 * i) * 90.0,
        Y0 - 5.0 + graft.core.Hashing.uniform(11, 2 * i + 1) * 90.0)
    }
    val planted = polys.flatMap { f =>
      (f.ring +: f.holes).zipWithIndex.flatMap { case (ring, ri) =>
        ring.indices.flatMap { k =>
          val a = ring(k); val b = ring((k + 1) % ring.size)
          Seq((s"${f.feature_id}_v${ri}_$k", a.x, a.y),
            (s"${f.feature_id}_e${ri}_$k", (a.x + b.x) / 2, (a.y + b.y) / 2))
        }
      }
    }
    // strictly inside the courtyard's hole (must miss) and inside its ring
    val courtyard = Seq(("hole_in", X0 + 15.0, Y0 + 65.0), ("court_in", X0 + 5.0, Y0 + 55.0))
    seeded ++ planted ++ courtyard
  }

  private def pairs(df: org.apache.spark.sql.DataFrame): Set[(String, String)] =
    df.select("image_id", "feature_id").as[(String, String)].collect().toSet

  private def withConfs[A](kv: (String, String)*)(body: => A): A = {
    val prev = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def finalPlan(df: org.apache.spark.sql.DataFrame): String = {
    df.collect() // execute so AQE finalizes this query's plan
    df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
  }

  test("all paths == brute force: expr, cell (broadcast + shuffled), auto") {
    val pts = points.toDF("image_id", "x", "y")
    val want = PipJoin.bruteForce(points, polys)
    // the fixture exercises what it claims: multi-matches, planted boundary
    // hits on rings and holes, and strict hole interiors that must miss
    assert(want.groupBy(_._1).exists(_._2.size > 1), "overlap should give multi-matches")
    assert(want.contains(("court_v1_0", "court")) && want.contains(("court_e1_0", "court")))
    assert(want.contains(("ell_a_v0_3", "ell_a")) && want.contains(("ell_b_e0_2", "ell_b")))
    assert(!want.exists(_._1 == "hole_in") && want.contains(("court_in", "court")))

    assert(pairs(PipJoin.exprJoin(pts, polys)) === want)
    val ds = spark.createDataset(polys)
    assert(pairs(PipJoin.cellJoin(pts, ds)) === want)
    withConfs("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      assert(pairs(PipJoin.cellJoin(pts, ds)) === want)
    }
    assert(pairs(PipJoin.auto(pts, polys)) === want)
    assert(pairs(PipJoin.auto(pts, polys, exprLimit = 0)) === want)
  }

  test("cellJoin plan: BroadcastHashJoin by default, SortMergeJoin at -1") {
    val pts = points.toDF("image_id", "x", "y")
    val ds = spark.createDataset(polys)
    val byDefault = finalPlan(PipJoin.cellJoin(pts, ds))
    assert(byDefault.contains("BroadcastHashJoin"), byDefault)
    assert(!byDefault.contains("SortMergeJoin"), byDefault)
    withConfs("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val shuffled = finalPlan(PipJoin.cellJoin(pts, ds))
      assert(shuffled.contains("SortMergeJoin"), shuffled)
      assert(!shuffled.contains("BroadcastHashJoin"), shuffled)
    }
  }

  test("enrich at pipExprVertexLimit=0: cell join, rows == brute force") {
    val images = points.toDF("image_id", "x", "y")
    def rows(): Set[(String, String)] = graft.app.Pipeline.enrich(images, polys)
      .select("image_id", "feature_id").as[(String, String)].collect().toSet
    val want = PipJoin.bruteForce(points, polys)
    assert(rows() === want)
    withConfs("spark.graft.pipeline.pipExprVertexLimit" -> "0") {
      val q = graft.app.Pipeline.enrich(images, polys)
      assert(finalPlan(q).contains("Join"), "vertex limit 0 must take the cell join")
      assert(rows() === want)
    }
  }
}
