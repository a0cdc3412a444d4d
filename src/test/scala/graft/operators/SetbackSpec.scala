package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark

/**
 * Setback (nearest-footprint-boundary distance): the cell-prefiltered ring
 * search must return BIT-IDENTICAL rows to the exact broadcast path — same
 * kernel expression, same order-free min, the prefilter only skips provably
 * non-minimal candidates — and `auto` must route by ring-side size without a
 * full point×ring expansion above the threshold.
 */
class SetbackSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // 150 scattered axis-aligned square rings (the q91 footprint shape, spread
  // over a ~100 m extent) + 400 points, including three far-field stragglers
  // ~1 km out that outlive small ring budgets
  private lazy val rings = spark.range(150).select(
    concat(lit("b"), col("id")).as("fid"),
    (lit(457840.0) + (col("id") % 12).cast("double") * 8.0).as("minx"),
    (lit(5439081.0) + expr("id div 12").cast("double") * 7.0).as("miny"))
    .select(col("fid"),
      array(col("minx"), col("minx") + 1.3, col("minx") + 1.3, col("minx")).as("xs"),
      array(col("miny"), col("miny"), col("miny") + 1.1, col("miny") + 1.1).as("ys"))

  private lazy val points = spark.range(400).select(
    col("id").as("event_id"),
    when(col("id") >= 397, lit(458900.0) + col("id").cast("double"))
      .otherwise(lit(457838.0) + ((col("id") * 7919) % 10000).cast("double") * 0.01)
      .as("x"),
    when(col("id") >= 397, lit(5440180.0) + col("id").cast("double"))
      .otherwise(lit(5439079.0) + ((col("id") * 104729) % 9000).cast("double") * 0.01)
      .as("y"))

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.as[(Long, Double, Double, String)].collect().toSet

  test("ringSearch == broadcastExact bit-exact (incl. far-field stragglers)") {
    val want = rows(Setback.broadcastExact(points, rings))
    assert(want.size === 400)
    val got = rows(Setback.ringSearch(points, rings))
    assert(got === want)
    // partition-layout independence rides the same oracle
    val got13 = rows(Setback.ringSearch(
      points.repartition(13), rings.repartition(7)))
    assert(got13 === want)
  }

  test("exhausted ring budget falls back to the exact score, not a truncated answer") {
    val want = rows(Setback.broadcastExact(points, rings))
    val got = rows(Setback.ringSearch(points, rings, maxR = 1))
    assert(got === want, "maxR=1 leaves most points open; fallback must stay exact")
  }

  test("auto routes by ring count; no point-x-ring expansion above the threshold") {
    val want = rows(Setback.broadcastExact(points, rings))
    // default threshold (4096): 150 rings take the broadcast path — the plan
    // carries the broadcast cross product
    val viaBroadcast = Setback.auto(points, rings)
    assert(viaBroadcast.queryExecution.executedPlan.toString
      .contains("BroadcastNestedLoopJoin"), "small ring side must broadcast")
    assert(rows(viaBroadcast) === want)
    // threshold below the ring count: same call must take the ring search —
    // the returned plan is unions of checkpointed round blocks, with no
    // nested-loop expansion anywhere
    spark.conf.set(Setback.BroadcastRingLimitConf, "8")
    try {
      val viaRings = Setback.auto(points, rings)
      assert(!viaRings.queryExecution.executedPlan.toString
        .contains("BroadcastNestedLoopJoin"),
        "large ring side must not expand point x ring")
      assert(rows(viaRings) === want)
    } finally spark.conf.unset(Setback.BroadcastRingLimitConf)
  }

  test("auto: a non-numeric ring-limit conf fails naming the key") {
    spark.conf.set(Setback.BroadcastRingLimitConf, "lots")
    try {
      val e = intercept[IllegalArgumentException](Setback.auto(points, rings))
      assert(e.getMessage.contains(Setback.BroadcastRingLimitConf), e.getMessage)
    } finally spark.conf.unset(Setback.BroadcastRingLimitConf)
  }

  test("auto: an Int.MaxValue ring limit broadcasts, rows == ringSearch") {
    val want = rows(Setback.ringSearch(points, rings))
    spark.conf.set(Setback.BroadcastRingLimitConf, Int.MaxValue.toString)
    try {
      val q = Setback.auto(points, rings)
      assert(q.queryExecution.executedPlan.toString.contains("BroadcastNestedLoopJoin"),
        "Int.MaxValue must take the broadcast path, not overflow into the ring search")
      assert(rows(q) === want)
    } finally spark.conf.unset(Setback.BroadcastRingLimitConf)
  }
}
