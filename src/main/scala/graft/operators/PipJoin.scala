package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.core.Geom
import graft.core.Geom.Pt
import graft.functions.GeoFunctions._
import graft.model.Footprint

/**
 * Filter–refine point-in-polygon spatial join (the engine's flagship operator;
 * BASELINE.json north_star).
 *
 * Replaces the reference's per-partition R*-tree + AABB walk
 * (`CityGMLV2DB.java:211-231`, `Neo4jDB.java:373-385`) with index-as-data.
 * Two physical paths, one decision ([[auto]], by total polygon vertices):
 *
 *  - [[exprJoin]]: the polygon index rides in the plan and the scan-side
 *    generated code probes it per row — no join operator at all;
 *  - [[cellJoin]]: the same filter–refine as data —
 *
 *      polygons --hex_cover(res)--> (cell, polygon)        [small side]
 *      points   --hex_encode(res)--> cell                  [10^12-row side, codegen]
 *      equi-join on cell                                   [Catalyst/AQE pick exec]
 *      refine: st_covers(ring, holes, x, y)                [exact, boundary-incl.]
 *
 * The cell join carries no hint. Catalyst broadcasts the polygon cells when
 * their size estimate is under `spark.sql.autoBroadcastJoinThreshold` (the
 * big side then never shuffles); otherwise it shuffles both sides and AQE's
 * skew join splits a dense urban cell key across map-output blocks. It is
 * the plan [[org.apache.spark.sql.graft.SpatialJoinRewrite]] builds for the
 * declarative SQL form.
 */
object PipJoin {

  val DefaultRes = 11 // hex edge ≈ 25 m — sized to the building-footprint scale

  /**
   * Cell equi-join path. Points DataFrame must carry (x, y) columns; all its
   * columns are kept, plus `feature_id`.
   */
  def cellJoin(points: DataFrame, polys: Dataset[Footprint], res: Int = DefaultRes): DataFrame = {
    val cells = polys.withColumn("cell", explode(hex_cover(col("ring"), lit(res))))
      .select(col("cell"), col("feature_id"), col("ring"), col("holes"))
    points.withColumn("cell", hex_encode(col("x"), col("y"), lit(res)))
      .join(cells, Seq("cell"))
      .where(st_covers(col("ring"), col("holes"), col("x"), col("y")))
      .drop("cell", "ring", "holes")
  }

  /**
   * Fully-codegen expression path: no join operator at all — the polygon
   * index rides in the plan as a reference object and the scan-side generated
   * code calls it per row (see PipMatchesExpr). Fastest variant when the
   * polygon set fits in the plan; output rows identical to cellJoin.
   */
  def exprJoin(points: DataFrame, polys: Seq[Footprint], res: Int = DefaultRes): DataFrame = {
    val index = new PipIndex(polys, res)
    points.withColumn("feature_id",
      explode(org.apache.spark.sql.graft.GeoFunctionsImpl.pip_matches(col("x"), col("y"), index)))
  }

  /**
   * Path selection: the polygon side rides in the plan ([[exprJoin]]) while
   * its total vertex count is at most `exprLimit`; above that it is too big
   * to serialize into every task and takes the [[cellJoin]].
   */
  def auto(points: DataFrame, polys: Seq[Footprint], res: Int = DefaultRes,
           exprLimit: Int = 100000): DataFrame = {
    val vertices = polys.iterator.map(f => (f.ring.size + f.holes.map(_.size).sum).toLong).sum
    if (vertices <= exprLimit) exprJoin(points, polys, res)
    else {
      val spark = points.sparkSession
      import spark.implicits._
      cellJoin(points, spark.createDataset(polys), res)
    }
  }

  /** Driver-side brute-force oracle for tests (O(n·m), small scale only). */
  def bruteForce(points: Seq[(String, Double, Double)],
                 polys: Seq[Footprint]): Set[(String, String)] = {
    val prepared = polys.map { f =>
      val ring = f.ring.map(p => Pt(p.x, p.y)).toArray
      val holes = f.holes.map(_.map(p => Pt(p.x, p.y)).toArray).toArray
      (f.feature_id, Geom.Polygon(ring, holes))
    }
    (for {
      (id, x, y) <- points
      (fid, poly) <- prepared
      if poly.covers(x, y)
    } yield (id, fid)).toSet
  }
}
