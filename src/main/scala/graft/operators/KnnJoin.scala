package graft.operators

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.TopKBuffer
import org.apache.spark.sql.types.{DoubleType, IntegerType, StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String

import graft.core.{CellTable, HexGrid}

/**
 * k-nearest-neighbour join against city-object centroids (BASELINE.json
 * north_star: "kNN via cell-ring expansion"). No reference counterpart exists
 * (SURVEY.md §2.3) — the reference only does bbox range queries — so semantics
 * are defined here: k nearest targets by squared Euclidean distance,
 * deterministic tie-break on target id ascending.
 *
 * Two physical paths:
 *
 *  1. [[broadcastGrid]] — targets fit in a broadcast (buildings ≤ millions):
 *     targets are bucketed into hex cells at a resolution sized to the target
 *     density; every probe expands k-rings locally until the provable stop
 *     bound. Zero shuffle on the probe side — the 10^12-row-scan shape.
 *
 *  2. [[ringJoin]] — giant target side: iterative ring-r expansion against
 *     the targets by cell, accumulating candidates until every probe holds k
 *     neighbours within the ring-r guarantee radius. A small probe side keeps
 *     its round state on the driver (one target scan per round); a big one
 *     runs shuffle-join rounds over checkpointed state. Rounds are bounded by
 *     the stop bound below.
 *
 * Stop bound: for hexagons with apothem a, two cells at hex distance h have
 * center distance ≥ √3·a·h (tight along the alternating-neighbor direction),
 * and any point lies within one circumradius 2a/√3 of its cell center, so a
 * target in a cell at hex distance ≥ h is at Euclidean distance
 * ≥ √3·a·h − 2·(2a/√3) = √3·a·(h − 4/3). Once the current k-th candidate
 * distance ≤ √3·a·(R+1 − 4/3), no cell beyond ring R can improve the result.
 * (Property-tested against the brute-force oracle in KnnJoinSpec.)
 */
object KnnJoin {

  /** Provable lower bound on distance to any target in cells at hex dist ≥ r. */
  def ringLowerBound(res: Int, r: Int): Double = {
    val a = HexGrid.apothem(res)
    math.max(0.0, math.sqrt(3.0) * a * (r - 4.0 / 3.0))
  }

  final case class Neighbor(target_id: String, d2: Double)

  /**
   * Broadcast-grid path. `targets`: (target_id, cx, cy). Output columns:
   * probe_id, target_id, d2, rnk (1-based by (d2, target_id)).
   */
  def broadcastGrid(probes: DataFrame, targets: Seq[(String, Double, Double)],
                    k: Int, res: Int = 12, maxR: Int = 64,
                    linearLimit: Int = 512): DataFrame = {
    // the index rides the plan as a reference object; the probe scan stays one
    // whole-stage-codegen span (scan → knn_matches → explode), no join, no
    // shuffle, no Encoder round-trip (see KnnIndex for the strategy split)
    val index = new KnnIndex(targets, k, res, maxR, linearLimit)
    probes
      .select(col("probe_id").cast("string").as("probe_id"),
        explode(org.apache.spark.sql.graft.GeoFunctionsImpl.knn_matches(
          col("x").cast("double"), col("y").cast("double"), index)).as("m"))
      .select(col("probe_id"), col("m.target_id").as("target_id"),
        col("m.d2").as("d2"), col("m.rnk").as("rnk"))
  }

  /**
   * Distributed ring-expansion path for huge target sides: per round r,
   * unfinished probes meet the targets in their ring-r..rHi cells; a probe
   * finishes when its k-th best distance beats the ring bound. Rounds double
   * their ring span (0-1, 2-4, 5-10, 11-22, …), and probes still open after
   * `maxR` rings get an exact scan of every target instead of a silently
   * truncated top-k.
   *
   * Two regimes, chosen once by a limited collect of the probe side:
   *
   *  - SMALL probe side (≤ `spark.graft.knn.smallProbeLimit`, default 65,536):
   *    the round state — pending probes and a k-entry top-k per probe — is
   *    small by definition, so the driver holds it. Each round broadcasts a
   *    [[CellTable]] of the pending probes' ring cells with their
   *    coordinates, and ONE `mapPartitions` over the target rows keeps a
   *    per-partition top-k per hit probe; the driver merges these k-bounded
   *    buffers and drops finished probes. No shuffle, no checkpoint, no
   *    persist: a round is one job, and the result is a local DataFrame.
   *    `spark.graft.knn.broadcastRowsLimit` caps the probe-ring rows (pending
   *    probes × ring cells) shipped per broadcast; a round over it scans the
   *    targets once per chunk of pending probes.
   *  - BIG probe side: the target table is pre-partitioned by cell and
   *    persisted, and each round shuffles only the exploded ring cells of the
   *    still-pending probes (persist carries the partitioning through AQE
   *    where a checkpoint would not — see the PlanQualitySpec gate). The
   *    accumulator is pruned to the running top-k per probe after every
   *    round's ranking — safe because d2 is static, so a candidate outside
   *    the current top-k can never re-enter — and finished probes leave the
   *    loop with their final rows.
   *
   * Both regimes compute d2 as `(cx - x) * (cx - x) + (cy - y) * (cy - y)` and
   * rank with the same [[TopKBuffer]] order (d2, target_id), one top-k per
   * probe_id, so their rows are identical. Probes with a null coordinate and
   * targets with a null column yield no rows.
   *
   * `checkpointDir` (big regime only): see [[graft.core.Checkpoints]] — unset
   * uses local checkpoints (fastest; local-mode/testing), set uses reliable
   * checkpoints that survive executor loss on a real cluster.
   */
  def ringJoin(probes: DataFrame, targets: DataFrame,
               k: Int, res: Int = 12, maxR: Int = 16,
               ringsPerRound: Int = 2,
               checkpointDir: Option[String] = None): DataFrame = {
    require(k >= 1, s"ringJoin: k must be >= 1, got $k")
    val spark = probes.sparkSession
    val smallProbeLimit = graft.core.Confs.longConf(spark,
      "spark.graft.knn.smallProbeLimit", 65536L, min = 0L)
    val broadcastRowsLimit = graft.core.Confs.longConf(spark,
      "spark.graft.knn.broadcastRowsLimit", 4L << 20, min = 1L)
    val p = probes.select(col("probe_id").cast("string"),
      col("x").cast("double"), col("y").cast("double"))
    val t = targets.select(col("target_id").cast("string"),
      col("cx").cast("double"), col("cy").cast("double"))
    // one limited collect both sizes the probe side and, when small, ships it
    val head = p.limit((math.min(smallProbeLimit, Int.MaxValue - 1L) + 1L).toInt).collect()
    if (head.length <= smallProbeLimit)
      driverRounds(spark, head, t, k, res, maxR, ringsPerRound, broadcastRowsLimit)
    else shuffleRounds(p, t, k, res, maxR, ringsPerRound, checkpointDir)
  }

  private val ResultSchema = new StructType()
    .add("probe_id", StringType).add("target_id", StringType)
    .add("d2", DoubleType).add("rnk", IntegerType)

  private def localResult(spark: SparkSession, rows: java.util.List[Row]): DataFrame =
    spark.createDataFrame(rows, ResultSchema)

  /**
   * The probes one target scan meets: coordinates, each probe's top-k slot
   * among `nSlots`, and the table of their ring cells this round (null: every
   * probe meets every target — the exact fallback).
   */
  private final class ScanSide(val xs: Array[Double], val ys: Array[Double],
                               val slot: Array[Int], val nSlots: Int,
                               val cells: CellTable) extends Serializable

  /** Small-probe regime of [[ringJoin]]: round state on the driver. */
  private def driverRounds(spark: SparkSession, probeRows: Array[Row], targets: DataFrame,
                           k: Int, res: Int, maxR: Int, ringsPerRound: Int,
                           rowsLimit: Long): DataFrame = {
    // a null coordinate meets no ring cell and scores a null d2 in the exact
    // fallback, which the ranking skips: such probes can never yield a row
    val live = probeRows.filter(r => !r.isNullAt(1) && !r.isNullAt(2))
    val xs = live.map(_.getDouble(1))
    val ys = live.map(_.getDouble(2))
    // one top-k per probe_id, as the big regime's ranking groups by it
    val groupOf = mutable.LinkedHashMap.empty[String, Int]
    val group = live.map(r => groupOf.getOrElseUpdate(r.getString(0), groupOf.size))
    val ids = groupOf.keysIterator.toArray
    val best = Array.fill(ids.length)(new TopKBuffer(k))
    val rows = targets.queryExecution.toRdd

    // one target scan for the probe rows `chunk`, merged into `best`
    def scan(chunk: Array[Int], cells: CellTable, distinct: Boolean): Unit = {
      val slotOf = mutable.LinkedHashMap.empty[Int, Int]
      val slot = chunk.map(i => slotOf.getOrElseUpdate(group(i), slotOf.size))
      val slotGroup = slotOf.keysIterator.toArray
      val bc = spark.sparkContext.broadcast(
        new ScanSide(chunk.map(xs), chunk.map(ys), slot, slotGroup.length, cells))
      val parts = try rows.mapPartitions(it => scanPartition(it, bc.value, res, k, distinct)).collect()
      finally bc.destroy()
      parts.foreach { case (s, b) =>
        val into = best(slotGroup(s))
        var i = 0
        while (i < b.n) { insert(into, b.d2s(i), b.ids(i), distinct); i += 1 }
      }
    }

    var pending = live.indices.toArray
    var r = 0
    while (r <= maxR && pending.nonEmpty) {
      // same ring span as the big regime's rounds
      val rHi = math.min(maxR, math.max(r + ringsPerRound - 1, 2 * r))
      val ringCells = (r to rHi).map(rr => if (rr == 0) 1L else 6L * rr).sum
      val perChunk = math.min(math.max(1L, rowsLimit / ringCells), pending.length.toLong).toInt
      pending.grouped(perChunk).foreach { chunk =>
        val cells = CellTable(chunk.indices.iterator.flatMap { i =>
          val c0 = HexGrid.encode(xs(chunk(i)), ys(chunk(i)), res)
          (r to rHi).iterator.flatMap(rr => HexGrid.ring(c0, rr).iterator.map(_ -> i))
        })
        scan(chunk, cells, distinct = false)
      }
      // the big regime's exit test: k filled and the k-th beats the next
      // ring's bound; a null probe_id never matches its done-set join
      val bound = ringLowerBound(res, rHi + 1)
      val done = best.indices.map { g =>
        ids(g) != null && best(g).n == k && math.sqrt(best(g).d2s(k - 1)) < bound
      }
      pending = pending.filterNot(i => done(group(i)))
      r = rHi + 1
    }
    if (pending.nonEmpty) {
      // ring budget exhausted: exact scan into fresh buffers. `distinct`
      // mirrors the big regime's distinct() over this tail's candidates
      pending.foreach(i => best(group(i)) = new TopKBuffer(k))
      scan(pending, null, distinct = true)
    }
    val out = new java.util.ArrayList[Row]()
    for (g <- ids.indices; i <- 0 until best(g).n)
      out.add(Row(ids(g), best(g).ids(i).toString, best(g).d2s(i), i + 1))
    localResult(spark, out)
  }

  /** Per-partition top-k of each probe slot the partition's targets reach. */
  private def scanPartition(it: Iterator[InternalRow], s: ScanSide, res: Int, k: Int,
                            distinct: Boolean): Iterator[(Int, TopKBuffer)] = {
    val bufs = new Array[TopKBuffer](s.nSlots)
    while (it.hasNext) {
      val t = it.next()
      if (!t.isNullAt(0) && !t.isNullAt(1) && !t.isNullAt(2)) {
        val cx = t.getDouble(1); val cy = t.getDouble(2)
        val hits = if (s.cells == null) null else s.cells.get(HexGrid.encode(cx, cy, res))
        val n = if (s.cells == null) s.xs.length else if (hits == null) 0 else hits.length
        var j = 0
        while (j < n) {
          val p = if (hits == null) j else hits(j)
          val x = s.xs(p); val y = s.ys(p)
          val d2 = (cx - x) * (cx - x) + (cy - y) * (cy - y)
          var b = bufs(s.slot(p))
          if (b == null) { b = new TopKBuffer(k); bufs(s.slot(p)) = b }
          insert(b, d2, t.getUTF8String(0), distinct)
          j += 1
        }
      }
    }
    bufs.iterator.zipWithIndex.collect { case (b, i) if b != null => (i, b) }
  }

  /** TopKBuffer insert; `distinct` skips an entry equal to one held (NaN equal
    * to NaN, as distinct() compares). An equal entry evicted earlier lost to
    * k strictly better ones, so the buffer stays the top-k of distinct entries. */
  private def insert(b: TopKBuffer, d2: Double, id: UTF8String, distinct: Boolean): Unit = {
    // held entries are sorted: one equal to (d2, id) cannot follow a d2 above the last
    if (distinct && b.n > 0 && !(d2 > b.d2s(b.n - 1))) {
      var i = 0
      while (i < b.n) {
        if ((b.d2s(i) == d2 || (b.d2s(i).isNaN && d2.isNaN)) && b.ids(i) == id) return
        i += 1
      }
    }
    b.insert(d2, id)
  }

  /** Big-probe regime of [[ringJoin]]: round state in checkpointed DataFrames. */
  private def shuffleRounds(probes: DataFrame, targets: DataFrame, k: Int, res: Int,
                            maxR: Int, ringsPerRound: Int,
                            checkpointDir: Option[String]): DataFrame = {
    val spark = probes.sparkSession
    graft.functions.GeoFunctions.register(spark)
    val ck = graft.core.Checkpoints.strategy(probes, checkpointDir)
    val probes0 = ck(probes)
    val nProbes0 = probes0.count()
    val t = targets
      .withColumn("tcell", graft.functions.GeoFunctions.hex_encode(col("cx"), col("cy"), lit(res)))
      .repartition(col("tcell")).persist()
    try {
    // candidates carry (probe_id, target_id, d2) ONLY — the probe coordinates
    // live in `pending` and would otherwise ride every ranking shuffle
    def candOf(p: DataFrame): DataFrame = p
      .select(col("probe_id"), col("target_id"),
        ((col("cx") - col("x")) * (col("cx") - col("x")) +
         (col("cy") - col("y")) * (col("cy") - col("y"))).as("d2"))
    // ranking = the bounded top-k AGGREGATE, not a row_number window: the
    // window shuffles and sorts every candidate row; the aggregate keeps a
    // k-bounded buffer per probe on the map side, so the shuffle carries
    // k-entry buffers — candidate-count-independent (see TopKAgg.scala)
    def rankTopK(cands: DataFrame): DataFrame = cands
      .groupBy("probe_id")
      .agg(org.apache.spark.sql.graft.GeoFunctionsImpl
        .knn_topk(col("d2"), col("target_id"), k).as("nn"))
      .select(col("probe_id"), explode(col("nn")).as("m"))
      .select(col("probe_id"), col("m.target_id").as("target_id"),
        col("m.d2").as("d2"), col("m.rnk").as("rnk"))
    // eager checkpoints: each round's accumulator and pending set materialize
    // ONCE and truncate lineage — a lazy checkpoint re-ran the whole round
    // chain on every action (recompute amplification across rounds)
    var pending = probes0
    var nPending = nProbes0
    // acc = running top-k candidates of UNFINISHED probes only (no rnk col)
    var acc: DataFrame = candOf(pending.limit(0).crossJoin(t.limit(0)))
    // finalized (probe_id, target_id, d2, rnk) blocks — checkpointed leaves
    var doneParts: List[DataFrame] = Nil
    var r = 0
    while (r <= maxR && nPending != 0) {
      // batch rings geometrically: each round costs a fixed number of jobs
      // (join, checkpoint, rank, anti-join, count) regardless of data volume,
      // so the barrier count — the dominant cost once candidates are pruned —
      // must not grow linearly in maxR. Round spans double (0-1, 2-4, 5-10,
      // 11-22, …): dense-area probes finish in the cheap early rounds, and
      // far-field stragglers get their rings in O(log maxR) rounds. Worst-
      // case candidate overshoot of a doubled span is a constant factor
      // (area of rings r..2r ≈ 3r² vs r² needed), paid only by the few
      // probes still pending at large r. (A one-shot jump to maxR was tried
      // and measured WORSE: it bounds explode volume but not candidate
      // volume — with dense targets the single round ranks tens of millions
      // of candidate rows that doubling would never have fetched.)
      val rHi = math.min(maxR, math.max(r + ringsPerRound - 1, 2 * r))
      val ringCells = flatten(array((r to rHi).map(rr =>
        graft.functions.GeoFunctions.hex_ring(col("x"), col("y"), lit(res), lit(rr))): _*))
      val exploded = pending.withColumn("pcell", explode(ringCells))
      val cand = candOf(exploded.join(t, col("pcell") === col("tcell")))
      // rank old top-k ∪ new candidates, keep top-k — the only rows a later
      // round could ever emit (d2 never changes; candidates only accumulate)
      val topk = ck(rankTopK(acc.unionByName(cand)))
      val bound = ringLowerBound(res, rHi + 1)
      val doneProbes = topk.where(col("rnk") === k && sqrt(col("d2")) < bound)
        .select(col("probe_id").as("done_id"))
      // finished probes exit the loop: their top-k (incl. rnk) is final —
      // no later ring can beat the bound — and never re-sorts again
      doneParts ::= topk.join(doneProbes, col("probe_id") === col("done_id"), "left_semi")
      acc = topk.join(doneProbes, col("probe_id") === col("done_id"), "left_anti").drop("rnk")
      pending = ck(pending.join(doneProbes, col("probe_id") === col("done_id"), "left_anti"))
      nPending = pending.count()
      r = rHi + 1
    }
    if (nPending > 0) {
      // ring budget exhausted with probes still open (far-field stragglers —
      // by construction a small set): exact fallback join instead of a
      // silently truncated top-k; distinct() drops the re-met candidates
      // (duplicate rows are identical in every column, scalars only).
      // Materialize the tail ranking eagerly so the returned plan references
      // only checkpointed blocks — the finally below can then release the
      // (huge by premise) persisted target table on every exit path
      val openRows = acc.unionByName(candOf(pending.crossJoin(t))).distinct()
      val tail = ck(rankTopK(openRows))
      doneParts.foldLeft(tail)(_ unionByName _)
    } else {
      // every probe finished through the ring bound: acc is empty — union
      // the checkpointed result blocks directly, no tail ranking stage
      doneParts.reduceOption(_ unionByName _)
        .getOrElse(localResult(spark, java.util.Collections.emptyList[Row]()))
    }
    } finally t.unpersist(blocking = false) // result = checkpointed blocks only
  }

  /** Driver-side brute-force oracle (tests). */
  def bruteForce(probes: Seq[(String, Double, Double)],
                 targets: Seq[(String, Double, Double)], k: Int): Seq[(String, String, Double, Int)] =
    probes.flatMap { case (pid, x, y) =>
      targets.map { case (tid, cx, cy) =>
        val dx = cx - x; val dy = cy - y
        (tid, dx * dx + dy * dy)
      }.sortBy(c => (c._2, c._1)).take(k).zipWithIndex.map {
        case ((tid, d2), i) => (pid, tid, d2, i + 1)
      }
    }
}
