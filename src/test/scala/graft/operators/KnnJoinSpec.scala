package graft.operators

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.graft.ListenerBusSync
import org.apache.spark.sql.types.{DoubleType, IntegerType, StringType}
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

class KnnJoinSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def withConfs[A](kv: (String, String)*)(body: => A): A = {
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally kv.foreach { case (k, _) => spark.conf.unset(k) }
  }

  private def rowSet(df: DataFrame): Set[(String, String, Double, Int)] =
    df.select("probe_id", "target_id", "d2", "rnk").as[(String, String, Double, Int)].collect().toSet

  // Spark jobs started while `body` runs
  private def jobsOf(body: => Any): Int = {
    val sc = spark.sparkContext
    val n = new java.util.concurrent.atomic.AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    ListenerBusSync.drain(sc)
    sc.addSparkListener(l)
    try { body; ListenerBusSync.drain(sc); n.get } finally sc.removeSparkListener(l)
  }

  // the driver regime returns local rows; the big regime, checkpointed blocks
  private def onDriver(df: DataFrame): Boolean =
    df.queryExecution.analyzed.collectLeaves().forall(_.isInstanceOf[LocalRelation])

  // seeded random probes + targets in a 200x200 m window (UTM-like offsets)
  val rnd = new scala.util.Random(42)
  val targets: Seq[(String, Double, Double)] = (0 until 300).map { i =>
    (f"t$i%03d", 457800.0 + rnd.nextDouble() * 200, 5439000.0 + rnd.nextDouble() * 200)
  }
  val probes: Seq[(String, Double, Double)] = (0 until 500).map { i =>
    (f"p$i%03d", 457790.0 + rnd.nextDouble() * 220, 5438990.0 + rnd.nextDouble() * 220)
  }

  test("broadcastGrid kNN == brute force at several resolutions (stop-bound proof)") {
    val want = KnnJoin.bruteForce(probes, targets, 3).toSet
    for (res <- Seq(10, 11, 12, 13)) {
      val got = KnnJoin.broadcastGrid(
        probes.toDF("probe_id", "x", "y"), targets, k = 3, res = res, linearLimit = 0)
        .as[(String, String, Double, Int)].collect().toSet
      assert(got === want, s"res=$res")
    }
  }

  test("broadcastGrid kNN with clustered targets (dense-cell skew)") {
    // all targets inside one 10x10 m cell neighbourhood
    val dense = (0 until 200).map { i =>
      (f"d$i%03d", 457848.0 + (i % 20) * 0.3, 5439088.0 + (i / 20) * 0.3)
    }
    val want = KnnJoin.bruteForce(probes, dense, 5).toSet
    val got = KnnJoin.broadcastGrid(probes.toDF("probe_id", "x", "y"), dense, 5, res = 12,
      maxR = 256, linearLimit = 0).as[(String, String, Double, Int)].collect().toSet
    assert(got === want)
  }

  test("linear fast path (small target set) ≡ grid ring path ≡ brute force") {
    val want = KnnJoin.bruteForce(probes, targets, 3).toSet
    // default linearLimit=512 routes 300 targets to the linear scan
    val linear = KnnJoin.broadcastGrid(probes.toDF("probe_id", "x", "y"), targets, k = 3)
      .as[(String, String, Double, Int)].collect().toSet
    val grid = KnnJoin.broadcastGrid(probes.toDF("probe_id", "x", "y"), targets, k = 3,
      linearLimit = 0).as[(String, String, Double, Int)].collect().toSet
    assert(linear === want)
    assert(linear === grid)
  }

  test("distributed ringJoin kNN == brute force") {
    val ps = probes.take(60)
    val want = KnnJoin.bruteForce(ps, targets, 3).toSet
    // n probes at smallProbeLimit n keep their round state on the driver; at
    // n - 1 the big-probe regime runs (tcell-partitioned target cache +
    // shuffle joins). Rows must be identical: the split is an execution
    // choice only
    for ((limit, driver) <- Seq(60 -> true, 59 -> false)) {
      val got = withConfs("spark.graft.knn.smallProbeLimit" -> limit.toString) {
        KnnJoin.ringJoin(ps.toDF("probe_id", "x", "y"),
          targets.toDF("target_id", "cx", "cy"), k = 3, res = 11, maxR = 24)
      }
      assert(onDriver(got) === driver, s"smallProbeLimit=$limit")
      assert(rowSet(got) === want, s"smallProbeLimit=$limit")
    }
  }

  test("ring-budget exhaustion falls back to exact results (no silent truncation)") {
    // probes far outside the target window: the k-th neighbour lies beyond
    // any small ring budget, so the capped ring walk alone would truncate
    val far = (0 until 20).map { i => (f"f$i%03d", 450000.0 + i * 3.0, 5432000.0) }
    val want = KnnJoin.bruteForce(far, targets, 3).toSet
    // codegen-index path, hex-ring strategy forced, tiny cap
    val gotIdx = KnnJoin.broadcastGrid(far.toDF("probe_id", "x", "y"), targets, k = 3,
      res = 12, maxR = 2, linearLimit = 0)
      .as[(String, String, Double, Int)].collect().toSet
    assert(gotIdx === want, "KnnIndex must fall back to the linear scan at the maxR cap")
    // distributed ringJoin path, tiny cap
    val gotRing = KnnJoin.ringJoin(far.toDF("probe_id", "x", "y"),
      targets.toDF("target_id", "cx", "cy"), k = 3, res = 12, maxR = 2)
      .select("probe_id", "target_id", "d2", "rnk")
      .as[(String, String, Double, Int)].collect().toSet
    assert(gotRing === want, "ringJoin must finish pending probes exactly at the maxR cap")
  }

  test("ringJoin with reliable checkpoints (executor-loss-safe) == brute force") {
    val ckDir = java.nio.file.Files.createTempDirectory("graft_ring_ck").toString
    val want = KnnJoin.bruteForce(probes.take(40), targets, 3).toSet
    // checkpoints belong to the big-probe regime only
    val got = withConfs("spark.graft.knn.smallProbeLimit" -> "0") {
      rowSet(KnnJoin.ringJoin(
        probes.take(40).toDF("probe_id", "x", "y"),
        targets.toDF("target_id", "cx", "cy"), k = 3, res = 11, maxR = 24,
        checkpointDir = Some(ckDir)))
    }
    assert(got === want)
    // the driver regime checkpoints nothing, so it leaves SparkContext's one
    // global checkpoint dir where it was
    val dirBefore = spark.sparkContext.getCheckpointDir
    val otherDir = java.nio.file.Files.createTempDirectory("graft_ring_ck2").toString
    val small = KnnJoin.ringJoin(
      probes.take(40).toDF("probe_id", "x", "y"),
      targets.toDF("target_id", "cx", "cy"), k = 3, res = 11, maxR = 24,
      checkpointDir = Some(otherDir))
    assert(rowSet(small) === want)
    assert(spark.sparkContext.getCheckpointDir === dirBefore)
  }

  test("ringJoin driver regime: one probe per chunk at broadcastRowsLimit = 1") {
    val ps = probes.take(30)
    val got = withConfs("spark.graft.knn.broadcastRowsLimit" -> "1") {
      rowSet(KnnJoin.ringJoin(ps.toDF("probe_id", "x", "y"),
        targets.toDF("target_id", "cx", "cy"), k = 3, res = 11, maxR = 24))
    }
    assert(got === KnnJoin.bruteForce(ps, targets, 3).toSet)
  }

  test("ringJoin with k above the target count: every probe takes the exact fallback") {
    val ps = probes.take(20)
    val few = targets.take(5)
    val want = KnnJoin.bruteForce(ps, few, 8).toSet
    assert(want.size === 20 * 5)
    for (limit <- Seq("65536", "0")) {
      val got = withConfs("spark.graft.knn.smallProbeLimit" -> limit) {
        rowSet(KnnJoin.ringJoin(ps.toDF("probe_id", "x", "y"),
          few.toDF("target_id", "cx", "cy"), k = 8, res = 11, maxR = 4))
      }
      assert(got === want, s"smallProbeLimit=$limit")
    }
  }

  test("ringJoin: repeated probe ids share one top-k, rows equal in both regimes") {
    // "d" sits at two places; "e" is one far-field row repeated verbatim, so
    // no ring reaches a target and it takes the exact fallback, whose
    // candidates the big regime de-duplicates
    val few = targets.take(5)
    val ps = Seq(("d", 457850.0, 5439050.0), ("d", 457950.0, 5439150.0),
      ("e", 450000.0, 5432000.0), ("e", 450000.0, 5432000.0))
    def run(limit: String, k: Int, ts: Seq[(String, Double, Double)]) =
      withConfs("spark.graft.knn.smallProbeLimit" -> limit) {
        KnnJoin.ringJoin(ps.toDF("probe_id", "x", "y"), ts.toDF("target_id", "cx", "cy"),
          k = k, res = 11, maxR = 24).select("probe_id", "target_id", "d2", "rnk")
          .as[(String, String, Double, Int)].collect().sorted.toSeq
      }
    for ((k, ts) <- Seq(3 -> targets, 8 -> few)) {
      val driver = run("65536", k, ts)
      assert(driver === run("0", k, ts), s"k=$k")
      assert(driver.count(_._1 == "d") === k, s"k=$k")
      val e = driver.filter(_._1 == "e").map(_._2)
      assert(e.size === k.min(ts.size) && e.distinct === e, s"k=$k: fallback rows are distinct")
    }
  }

  test("ringJoin breaks exact distance ties by target id in both regimes") {
    // integral offsets: every d2 below is exact, so the ties are real
    val (x0, y0) = (457900.0, 5439100.0)
    val tied = Seq(("t9", x0 + 3, y0), ("t2", x0 - 3, y0), ("t7", x0, y0 - 3),
      ("t5", x0, y0 + 3), ("t1", x0 + 4, y0), ("t0", x0 + 9, y0 + 12))
    val ps = Seq(("a", x0, y0), ("b", x0 + 0.5, y0))
    val want = KnnJoin.bruteForce(ps, tied, 3).toSet
    assert(want.filter(_._1 == "a").map(_._2) === Set("t2", "t5", "t7"))
    for (limit <- Seq("65536", "0")) {
      val got = withConfs("spark.graft.knn.smallProbeLimit" -> limit) {
        rowSet(KnnJoin.ringJoin(ps.toDF("probe_id", "x", "y"),
          tied.toDF("target_id", "cx", "cy"), k = 3, res = 11, maxR = 24))
      }
      assert(got === want, s"smallProbeLimit=$limit")
    }
  }

  test("ringJoin: an empty probe side returns no rows with the result columns") {
    val got = KnnJoin.ringJoin(Seq.empty[(String, Double, Double)].toDF("probe_id", "x", "y"),
      targets.toDF("target_id", "cx", "cy"), k = 3)
    assert(got.schema.map(f => (f.name, f.dataType)) === Seq("probe_id" -> StringType,
      "target_id" -> StringType, "d2" -> DoubleType, "rnk" -> IntegerType))
    assert(got.count() === 0)
  }

  test("ringJoin: null probe coordinates and null target columns yield no rows") {
    val ps = probes.take(20).map { case (id, x, y) => (id, Option(x), Option(y)) } ++
      Seq(("nx", None, Some(5439050.0)), ("ny", Some(457850.0), None), ("nxy", None, None))
    val ts = targets.map { case (id, x, y) => (id, Option(x), Option(y)) } ++
      Seq((null, Some(457850.0), Some(5439050.0)), ("tnx", None, Some(5439050.0)),
        ("tny", Some(457850.0), None))
    val want = KnnJoin.bruteForce(probes.take(20), targets, 3).toSet
    for (limit <- Seq("65536", "0")) {
      val got = withConfs("spark.graft.knn.smallProbeLimit" -> limit) {
        rowSet(KnnJoin.ringJoin(ps.toDF("probe_id", "x", "y"),
          ts.toDF("target_id", "cx", "cy"), k = 3, res = 11, maxR = 24))
      }
      assert(got === want, s"smallProbeLimit=$limit")
    }
    // the driver regime drops null-coordinate probes before round 0: they
    // cost no exact fallback scan, so the job count matches the clean input
    def jobs(pDf: DataFrame): Int = jobsOf(rowSet(KnnJoin.ringJoin(pDf,
      targets.toDF("target_id", "cx", "cy"), k = 3, res = 11, maxR = 24)))
    assert(jobs(ps.toDF("probe_id", "x", "y")) ===
      jobs(probes.take(20).toDF("probe_id", "x", "y")))
  }

  test("ringJoin driver regime leaves no persisted or checkpointed RDD behind") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val n = KnnJoin.ringJoin(probes.take(60).toDF("probe_id", "x", "y"),
      targets.toDF("target_id", "cx", "cy"), k = 3, res = 11, maxR = 24).count()
    assert(n === 60 * 3)
    assert(spark.sparkContext.getPersistentRDDs.keySet === before)
  }

  test("knn_topk aggregate == row_number window top-k (random data incl. d2 ties)") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val r3 = new scala.util.Random(99)
    // ties on purpose: d2 drawn from a small integer set
    val rows = (0 until 5000).map { i =>
      (s"p${r3.nextInt(40)}", s"t$i", r3.nextInt(20).toDouble)
    }
    val df = rows.toDF("probe_id", "target_id", "d2").repartition(7)
    val w = Window.partitionBy("probe_id").orderBy(col("d2"), col("target_id"))
    for (k <- Seq(1, 3, 10)) {
      val want = df.withColumn("rnk", row_number().over(w)).where(col("rnk") <= k)
        .as[(String, String, Double, Int)].collect().toSet
      val got = df.groupBy("probe_id")
        .agg(org.apache.spark.sql.graft.GeoFunctionsImpl
          .knn_topk(col("d2"), col("target_id"), k).as("nn"))
        .select(col("probe_id"), explode(col("nn")).as("m"))
        .select(col("probe_id"), col("m.target_id"), col("m.d2"), col("m.rnk"))
        .as[(String, String, Double, Int)].collect().toSet
      assert(got === want, s"k=$k")
    }
    // plan gate: partial (map-side) + final aggregate — the whole point vs a
    // window, whose sort must see every candidate row
    val plan = df.groupBy("probe_id")
      .agg(org.apache.spark.sql.graft.GeoFunctionsImpl
        .knn_topk(col("d2"), col("target_id"), 3).as("nn"))
      .queryExecution.executedPlan.toString
    assert("ObjectHashAggregate".r.findAllMatchIn(plan).size >= 2,
      s"expected partial+final ObjectHashAggregate:\n$plan")
    // SQL surface
    graft.functions.GeoFunctions.register(spark)
    df.createOrReplaceTempView("topk_in")
    val sqlGot = spark.sql(
      """SELECT probe_id, m.target_id, m.d2, m.rnk
         FROM (SELECT probe_id, explode(knn_topk(d2, target_id, 3)) AS m
               FROM topk_in GROUP BY probe_id)""")
      .as[(String, String, Double, Int)].collect().toSet
    val sqlWant = df.withColumn("rnk", row_number().over(w)).where(col("rnk") <= 3)
      .as[(String, String, Double, Int)].collect().toSet
    assert(sqlGot === sqlWant)
  }

  test("idw_fold: hand-computed estimate, order sensitivity contract, empty input") {
    graft.functions.GeoFunctions.register(spark)
    val r = spark.sql(
      """SELECT idw_fold(array(1.0d, 4.0d), array(10.0d, 20.0d)) AS a,
                idw_fold(CAST(array() AS ARRAY<DOUBLE>),
                         CAST(array() AS ARRAY<DOUBLE>)) AS b""").head()
    // weights 1, 0.25 → (1*10 + 0.25*20) / 1.25 = 12
    assert(r.getDouble(0) === 12.0)
    assert(r.getDouble(1).isNaN, "empty neighbor set → NaN, never a crash")
  }

  test("ringLowerBound is a true lower bound (random sampling)") {
    val res = 11
    val r2 = new scala.util.Random(7)
    for (_ <- 1 to 20000) {
      val x1 = r2.nextDouble() * 10000; val y1 = r2.nextDouble() * 10000
      val x2 = r2.nextDouble() * 10000; val y2 = r2.nextDouble() * 10000
      val h = graft.core.HexGrid.dist(
        graft.core.HexGrid.encode(x1, y1, res), graft.core.HexGrid.encode(x2, y2, res))
      val d = math.hypot(x1 - x2, y1 - y2)
      assert(d >= KnnJoin.ringLowerBound(res, h) - 1e-9,
        s"d=$d h=$h bound=${KnnJoin.ringLowerBound(res, h)}")
    }
  }
}
