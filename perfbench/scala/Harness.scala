package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.app.Pipeline
import graft.core.{HexGrid, Tiles}
import graft.model.{Env6, Footprint, XY}
import graft.operators.{Dedup, KnnIndex, KnnJoin, PipIndex, PipJoin}
import graft.sources.IceLite

/** One benchmark run of one workload in one JVM: set up, measure a closed
  * loop of the workload's operation, verify, and (traced runs) profile the
  * layers. Everything goes through graft's public entry points; results are
  * written as one JSON object for `run.py`. */
object Harness {
  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    new Run(kv("workload"), kv("stage"), kv("work"), kv("out"),
      kv("seconds").toDouble, kv("trace") == "1", kv("cores").toInt).run()
  }
}

final class Run(workload: String, stage: String, work: String, out: String,
                seconds: Double, traced: Boolean, cores: Int) {

  private var spark: SparkSession = _
  private var polys: Seq[Footprint] = Nil
  private val result = mutable.LinkedHashMap.empty[String, Any]
  private val checks = mutable.ArrayBuffer.empty[Map[String, Any]]
  private var attempted = 0
  private var failed = 0
  private val counters = new Counters

  // ------------------------------------------------------------ session

  /** The session a user gets from `Pipeline.main`: local[cores], shuffle
    * partitions = cores, AQE on, Spark's default split size. Only the
    * scratch locations are pointed into the run's work directory. */
  private def start(n: Int): Unit = {
    if (spark != null) spark.stop()
    spark = SparkSession.builder()
      .master(s"local[$n]")
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .appName("graft-pipeline")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  private def loadCity(): Seq[Footprint] =
    spark.read.parquet(s"$stage/footprints").collect().toSeq.map { r =>
      def pts(s: scala.collection.Seq[Row]) = s.map(p => XY(p.getDouble(0), p.getDouble(1))).toSeq
      val ring = pts(r.getAs[scala.collection.Seq[Row]]("ring"))
      val holes = r.getAs[scala.collection.Seq[scala.collection.Seq[Row]]]("holes").map(pts).toSeq
      Footprint(r.getAs[String]("feature_id"), "Building", 0, ring, holes,
        Env6(ring.map(_.x).min, ring.map(_.y).min, 0, ring.map(_.x).max, ring.map(_.y).max, 0),
        XY(r.getAs[Double]("cx"), r.getAs[Double]("cy")), Map.empty)
    }.sortBy(_.feature_id)

  // ------------------------------------------------------------ helpers

  /** One checked outcome; failures are kept with their detail. */
  private def check(name: String, ok: Boolean, detail: => String = ""): Unit = {
    attempted += 1
    if (!ok) {
      failed += 1
      checks += Map("name" -> name, "ok" -> false, "detail" -> detail)
    }
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private def time(body: => Unit): Double = { val t0 = System.nanoTime(); body; secs(t0) }

  /** Order-independent fingerprint of a whole output: rows and Σ xxhash64. */
  private def fingerprint(df: DataFrame): String = {
    val r = df.agg(count(lit(1)), coalesce(sum(xxhash64(df.columns.toSeq.map(col): _*)
      .cast("decimal(38,0)")), lit(0))).head()
    s"${r.getLong(0)}:${r.get(1)}"
  }

  private def rowsJson(df: DataFrame): Map[String, Any] =
    Map("columns" -> df.columns.toSeq, "rows" -> df.collect().toSeq.map(_.toSeq))

  private def rmrf(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.iterator().asScala.toSeq.reverse.foreach(Files.delete) finally s.close()
  }

  private def copyTree(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.iterator().asScala.foreach { f =>
      val t = to.resolve(from.relativize(f).toString)
      if (Files.isDirectory(f)) Files.createDirectories(t)
      else Files.copy(f, t, StandardCopyOption.COPY_ATTRIBUTES)
    } finally s.close()
  }

  private def dirBytes(p: Path): Long = {
    val s = Files.walk(p)
    try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum finally s.close()
  }

  private def lineage(table: String): Seq[(String, Long, String)] =
    IceLite.currentSnapshot(table).partitions.map(p => (p.partition, p.rows, p.checksum))
      .sortBy(_._1)

  /** Per-bucket rows and Σ xxhash64 recomputed with plain Spark from the data
    * files, independently of IceLite's own audit. */
  private def recomputeLineage(table: String): Seq[(String, Long, String)] = {
    val df = spark.read.option("recursiveFileLookup", "true").parquet(s"$table/data")
    df.groupBy(col("bucket").cast("string").as("pv"))
      .agg(count(lit(1)), coalesce(sum(xxhash64(df.columns.toSeq.map(col): _*)
        .cast("decimal(38,0)")), lit(0)))
      .collect().toSeq.map(r => (r.getString(0), r.getLong(1), r.get(2).toString)).sortBy(_._1)
  }

  private def sampleIds: Seq[String] =
    Files.readAllLines(Paths.get(stage, "sample.txt")).asScala.toSeq.filter(_.nonEmpty)

  private def peakRssMb: Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)

  private def procIo(field: String): Long =
    Files.readAllLines(Paths.get("/proc/self/io")).asScala
      .find(_.startsWith(field + ":")).map(_.split("\\s+")(1).toLong).getOrElse(0L)

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  private def clearCaches(): Int = {
    val sc = spark.sparkContext
    val left = sc.getPersistentRDDs.size
    spark.catalog.clearCache()
    sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    left
  }

  // ------------------------------------------------------------ workloads

  /** One workload: the timed operation per op kind, untimed preparation and
    * checks around it, the final verification and the layer profile. */
  private abstract class Workload {
    def rows: Long
    /** the workload's input table; it has columns image_id, x and y */
    def points: DataFrame
    def kinds: Seq[String] = Seq("fresh")
    def beforeLoop(): Unit = ()
    def prepare(kind: String, rep: Int): Unit = ()
    def op(kind: String, rep: Int): Unit
    def after(kind: String, rep: Int): Unit = ()
    def verify(): Unit
    def layers(t: Tracer): Unit = ()
  }

  private def read(name: String): DataFrame = spark.read.parquet(s"$stage/$name")

  private final class Join extends Workload {
    val rows: Long = read("points").count()
    def points: DataFrame = read("points")
    private def enriched = Pipeline.enrich(points, polys)
    def op(kind: String, rep: Int): Unit = noop(enriched)
    def verify(): Unit = {
      result("fingerprint") = fingerprint(enriched)
      result("sample") = rowsJson(enriched.where(col("image_id").isin(sampleIds: _*)))
    }
  }

  /** Buckets a resumed table already holds, of 16 (Pipeline.run's default). */
  private val ResumeCommitted = 12

  /** `Pipeline.run` into a fresh IceLite table per rep, and twice as often
    * as a resume of a table that already holds 12 of its 16 buckets; each
    * rep's lineage is compared bucket by bucket with the first rep's. */
  private final class PipelineWl extends Workload {
    private val input = s"$stage/images"
    val rows: Long = read("images").count()
    def points: DataFrame = read("images")
    override def kinds: Seq[String] = Seq("fresh", "fresh", "resume")
    private var reference: Seq[(String, Long, String)] = Nil
    private var keep: String = _
    private var ret: (Int, Int, Int) = _
    private val template = s"$work/tables/template"
    private def table(kind: String, rep: Int) = s"$work/tables/$kind-$rep"

    def op(kind: String, rep: Int): Unit = ret = Pipeline.run(spark, input, polys, table(kind, rep))

    override def after(kind: String, rep: Int): Unit = {
      val t = table(kind, rep)
      val lin = lineage(t)
      if (reference.isEmpty) reference = lin
      val n = reference.size
      val want = if (kind == "resume") (n - ResumeCommitted, ResumeCommitted, n) else (n, 0, n)
      check(s"pipeline.$kind.run_counts", ret == want, s"got $ret, want $want")
      check(s"pipeline.$kind.lineage_equals_fresh", lin == reference, s"$lin vs $reference")
      if (keep != null && keep != t) rmrf(Paths.get(keep))
      keep = t
    }

    def verify(): Unit = {
      check("pipeline.audit_recompute", recomputeLineage(keep) == reference, keep)
      check("pipeline.verifyLineage", IceLite.verifyLineage(spark, keep, "bucket").forall(_._2), keep)
      result("fingerprint") = reference.map(l => s"${l._1}:${l._2}:${l._3}").mkString(",")
      result("sample") = rowsJson(spark.read.option("recursiveFileLookup", "true")
        .parquet(s"$keep/data").where(col("image_id").isin(sampleIds: _*)))
    }

    /** The same run interrupted after its first 12 bucket commits: the
      * resumable write of only those buckets' rows. */
    override def beforeLoop(): Unit = {
      val all = Pipeline.enrich(points, polys)
      val buckets = all.select(col("bucket").cast("string")).distinct().collect()
        .map(_.getString(0)).sorted.take(ResumeCommitted)
      IceLite.writeResumable(all.where(col("bucket").cast("string").isin(buckets: _*)),
        template, "bucket")
    }

    override def prepare(kind: String, rep: Int): Unit =
      if (kind == "resume") copyTree(Paths.get(template), Paths.get(table(kind, rep)))

    /** The curation layers over the same table's captions; the survivors go
      * to the oracle, which knows the planted near-duplicate families. */
    override def layers(t: Tracer): Unit = {
      val docs = points.select(col("image_id").as("doc_id"), col("caption").as("text"))
      val edges = t.span("operators.dedup.lsh") {
        Dedup.lshPairs(docs).select(col("doc_a").as("a"), col("doc_b").as("b"))
          .localCheckpoint(eager = true)
      }
      result("layer.operators.dedup.pairs") = edges.count()
      t.span("operators.cc") {
        val (labels, rounds) = Dedup.connectedComponentsWithRounds(edges)
        labels.count()
        result("layer.operators.cc.rounds") = rounds
      }
      clearCaches()
      t.span("app.curate") {
        result("curated") = rowsJson(Pipeline.curate(points).select("image_id", "split"))
      }
      clearCaches()
    }
  }

  private final class Ring extends Workload {
    val rows: Long = read("probes").count()
    def points: DataFrame = read("probes").withColumnRenamed("probe_id", "image_id")
    private def joined = KnnJoin.ringJoin(read("probes"), read("targets"), k = KnnK)
    private var n = -1L
    private var last = -1L
    private var lastDf: DataFrame = _
    def op(kind: String, rep: Int): Unit = { lastDf = joined; last = lastDf.count() }
    override def after(kind: String, rep: Int): Unit = {
      if (n < 0) n = last
      check("knn-ring.count_stable", last == n, s"$last vs $n")
    }
    def verify(): Unit = {
      result("fingerprint") = fingerprint(lastDf)
      result("sample") = rowsJson(lastDf)
      val limit = spark.conf.getOption("spark.graft.knn.smallProbeLimit").map(_.toLong)
        .getOrElse(65536L)
      result("regime") = if (rows <= limit)
        s"small-probe broadcast rounds ($rows probes <= spark.graft.knn.smallProbeLimit $limit)"
      else s"big-probe shuffle rounds ($rows probes > spark.graft.knn.smallProbeLimit $limit)"
    }
    override def layers(t: Tracer): Unit = {
      t.span("operators.ring") { joined.count() }
      clearCaches()
    }
  }

  private val KnnK = 3

  private def makeWorkload(): Workload = workload match {
    case "join" => new Join
    case "pipeline" => new PipelineWl
    case "knn-ring" => new Ring
  }

  // ------------------------------------------------------------ run

  def run(): Unit = {
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    rmrf(Paths.get(work))
    Files.createDirectories(Paths.get(work, "tables"))
    // set-up: JVM start to the end of the first (warm-up) operation: session
    // start, city load, index build (inside the operation) and JIT warm-up.
    // It is paid once per process; repeating it in the same JVM would time a
    // warm restart instead, so it is measured once per run.
    start(cores)
    polys = loadCity()
    val wl = makeWorkload()
    var wrep = -1
    var warm = guarded(s"$workload.warmup") { wl.op(wl.kinds.head, wrep) }
    val w0 = System.nanoTime()
    while (warm && secs(w0) < WarmupS) {
      wl.after(wl.kinds.head, wrep)
      clearCaches()
      wrep -= 1
      warm = guarded(s"$workload.warmup") { wl.op(wl.kinds.head, wrep) }
    }
    result("setup_s") = (System.currentTimeMillis() - jvmStart) / 1e3
    result("env") = environment()
    if (warm) {
      wl.after(wl.kinds.head, wrep)
      guarded(s"$workload.verify") { wl.verify() }
    }
    clearCaches()
    wl.beforeLoop()
    clearCaches()

    val times = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    val tracedTimes = mutable.ArrayBuffer.empty[Double]
    val handles = mutable.ArrayBuffer.empty[Int]
    val opCounters = mutable.ArrayBuffer.empty[Map[String, Double]]
    val tracer = if (traced) new Tracer(spark.sparkContext, counters) else null
    val sc = spark.sparkContext
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val minReps = 2 * wl.kinds.size
    var rep = 0
    while (rep < minReps || System.nanoTime() < deadline) {
      val kind = wl.kinds(rep % wl.kinds.size)
      // traced runs alternate untraced and traced rounds of the op kinds
      val traceThis = traced && (rep / wl.kinds.size) % 2 == 1
      wl.prepare(kind, rep)
      if (traceThis) { sc.addSparkListener(counters); counters.resetStages() }
      val c0 = if (traceThis) counters.snapshot(sc) else null
      val g0 = gcMs
      val t0 = System.nanoTime()
      val ok = guarded(s"$workload.$kind") {
        if (traceThis) { tracer.op = rep; tracer.span(s"op.$workload.$kind") { wl.op(kind, rep) } }
        else wl.op(kind, rep)
      }
      val dt = secs(t0)
      if (traceThis) {
        val d = Counters.delta(c0, counters.snapshot(sc))
        if (kind == wl.kinds.head) {
          tracedTimes += dt
          opCounters += Map(
            "spark.jobs" -> d(Counters.Jobs).toDouble,
            "spark.stages" -> d(Counters.Stages).toDouble,
            "spark.tasks" -> d(Counters.Tasks).toDouble,
            "spark.shuffle_bytes" -> d(Counters.ShuffleBytes).toDouble,
            "spark.spill_bytes" -> d(Counters.SpillBytes).toDouble,
            "spark.gc_frac" -> (gcMs - g0) / 1e3 / dt,
            "spark.cpu_util" -> d(Counters.CpuNs) / 1e9 / (dt * cores),
            "spark.task_skew" -> counters.taskSkew(sc),
            "sources.scan.reads_per_row" -> d(Counters.InRecords).toDouble / wl.rows)
        }
        sc.removeSparkListener(counters)
      }
      val left = clearCaches()
      if (ok) {
        if (!traceThis) times.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += dt
        if (kind == wl.kinds.head) handles += left
        wl.after(kind, rep)
      }
      rep += 1
    }
    result("times") = times.toMap
    result("handles_left") = handles.toSeq
    result("rows") = wl.rows


    if (traced) {
      result("traced_times") = tracedTimes.toSeq
      result("op_counters") = opCounters.toSeq
      sc.addSparkListener(counters)
      guarded(s"$workload.layers") { profile(wl, tracer) }
      sc.removeSparkListener(counters)
      result("spans") = tracer.all.map(s => Map("id" -> s.id, "parent" -> s.parent, "op" -> s.op,
        "name" -> s.name, "start_ns" -> s.startNs, "end_ns" -> s.endNs,
        "counters" -> Counters.Fields.zip(s.counters).toMap))
      result("self_table") = tracer.selfTable.map { case (n, calls, tot, self, cs) =>
        Map("layer" -> n, "calls" -> calls, "total_s" -> tot, "self_s" -> self,
          "self_counters" -> Counters.Fields.zip(cs).toMap)
      }
    } else if (workload == "join") scaling()

    result("peak_rss_mb") = peakRssMb
    result("checks") = checks.toSeq
    result("attempted") = attempted
    result("failed") = failed
    spark.stop()
    Files.write(Paths.get(out), Json.render(result).getBytes(StandardCharsets.UTF_8))
  }

  /** Runs one operation; one that throws counts as failed. */
  private def guarded(name: String)(body: => Unit): Boolean =
    try { body; check(name, ok = true); true }
    catch { case e: Throwable => check(name, ok = false, e.toString.take(2000)); false }

  /** r4 / (4 * r1): enrich -> noop throughput over half of the point files
    * in a fresh local[1] session, then in a fresh local[cores] session. */
  private def scaling(): Unit = {
    val files = Files.list(Paths.get(stage, "points")).iterator().asScala.map(_.toString)
      .filter(_.endsWith(".parquet")).toSeq.sorted
    val half = files.take(math.max(1, files.size / 2))
    val r = Seq(1, cores).map { n =>
      start(n)
      val pts = spark.read.parquet(half: _*)
      val rows = pts.count()
      noop(Pipeline.enrich(pts, polys))
      n -> rows / time(noop(Pipeline.enrich(pts, polys)))
    }.toMap
    result("scale") = Map("r1" -> r(1), s"r$cores" -> r(cores), "scale_eff" -> r(cores) / (cores * r(1)))
  }

  /** Warm-up: after the first (cold) operation, operations are repeated
    * until this much more time has passed, so the JIT has settled before
    * the measured loop. */
  private val WarmupS = 5.0

  // ------------------------------------------------------------ layers

  /** Layer profile on the workload's own point table: nested prefix plans
    * of the enrichment to the noop sink, single-thread loops over the
    * per-row kernels, IceLite over a staged copy of the enriched rows, and
    * the workload's own operator layers. */
  private def profile(wl: Workload, t: Tracer): Unit = {
    t.op = -1
    val pts = wl.points.select("image_id", "x", "y")
    val centroids = polys.map(f => (f.feature_id, f.centroid.x, f.centroid.y))
    def med3(name: String, df: => DataFrame): Double = {
      noop(df)
      val ts = (0 until 3).map(_ => time(t.span(name)(noop(df)))).sorted
      ts(1)
    }
    val c0 = counters.snapshot(spark.sparkContext)
    val r0 = procIo("rchar")
    val scan = med3("sources.scan", pts)
    val r1 = procIo("rchar")
    val scanD = Counters.delta(c0, counters.snapshot(spark.sparkContext))
    result("layer.sources.scan.s") = scan
    result("layer.sources.scan.tasks") = scanD(Counters.Tasks) / 4.0
    // bytes the process read through read(2) per scanned row: Spark's input
    // byte counter misses parquet's vectored reads
    result("layer.sources.scan.bytes_per_row") = (r1 - r0) / 4.0 / wl.rows
    val withHex = pts.withColumn("cell", graft.functions.GeoFunctions.hex_encode(
      col("x"), col("y"), lit(PipJoin.DefaultRes)))
    val hex = med3("core.hex", withHex)
    val withPip = PipJoin.exprJoin(withHex, polys)
    val pip = med3("operators.pip", withPip)
    val withKnn = withPip.withColumn("nn", explode(
        org.apache.spark.sql.graft.GeoFunctionsImpl.knn_matches(col("x"), col("y"),
          new KnnIndex(centroids, 1))))
      .where(col("nn.rnk") === 1)
    val knn = med3("operators.knn", withKnn)
    val tiles = med3("core.tiles", withKnn.withColumn("tile_id",
      graft.functions.GeoFunctions.tile_of(col("x"), col("y"), lit(20))))
    val full = med3("app.enrich", Pipeline.enrich(pts, polys))
    result("layer.core.hex.s") = hex - scan
    result("layer.operators.pip.s") = pip - hex
    result("layer.operators.knn.s") = knn - pip
    result("layer.core.tiles.s") = tiles - knn
    result("layer.app.enrich.s") = full

    kernels(pts, centroids, t)

    // IceLite over a staged copy of the enriched rows: upstream compute excluded
    val copy = s"$work/enriched-copy"
    Pipeline.enrich(pts, polys).write.mode("overwrite").parquet(copy)
    val table = s"$work/tables/icelite-layer"
    val w0 = procIo("wchar")
    val s0 = counters.snapshot(spark.sparkContext)
    val write = time(t.span("sources.icelite.write") {
      IceLite.writeResumable(spark.read.parquet(copy), table, "bucket") })
    val s1 = counters.snapshot(spark.sparkContext)
    val w1 = procIo("wchar")
    val audit = time(t.span("sources.icelite.audit") {
      check(s"$workload.layer_audit", IceLite.verifyLineage(spark, table, "bucket").forall(_._2)) })
    result("layer.sources.icelite.write_s") = write
    result("layer.sources.icelite.audit_s") = audit
    result("layer.sources.icelite.jobs") = Counters.delta(s0, s1)(Counters.Jobs)
    result("layer.sources.icelite.write_amp") = (w1 - w0).toDouble / dirBytes(Paths.get(table))
    rmrf(Paths.get(table)); rmrf(Paths.get(copy))
    clearCaches()

    wl.layers(t)
    val ring = t.all.filter(_.name == "operators.ring")
    val rd = if (ring.isEmpty) new Array[Long](Counters.Fields.length) else ring.last.counters
    result("layer.operators.ring.jobs") = rd(Counters.Jobs)
    result("layer.operators.ring.stages") = rd(Counters.Stages)
    result("layer.operators.ring.shuffle_bytes") = rd(Counters.ShuffleBytes)
    if (!result.contains("layer.operators.dedup.pairs")) result("layer.operators.dedup.pairs") = 0L
    if (!result.contains("layer.operators.cc.rounds")) result("layer.operators.cc.rounds") = 0
  }

  /** Single-thread loops on the Spark driver over a sample of the workload's points:
    * ns per call of each per-row kernel, and index build + first probe.
    * Cell encode and PIP see every point; the kNN probe and the tile only
    * see points with a PIP match, as in the enrichment plan. */
  private def kernels(pts: DataFrame, centroids: Seq[(String, Double, Double)], t: Tracer): Unit = {
    val sample = pts.limit(KernelSample).select("x", "y").collect()
    val xs = sample.map(_.getDouble(0)); val ys = sample.map(_.getDouble(1))
    var sink = 0L
    def loop(name: String, idx: Array[Int])(f: Int => Long): Double = t.span(name) {
      var calls = 0L
      var k = 0
      val t0 = System.nanoTime()
      while ((calls & 63) != 0 || System.nanoTime() - t0 < KernelNs) {
        sink += f(idx(k))
        k = if (k + 1 == idx.length) 0 else k + 1
        calls += 1
      }
      (System.nanoTime() - t0).toDouble / calls
    }
    val all = xs.indices.toArray
    result("layer.core.hex.ns_per_call") =
      loop("core.hex.kernel", all)(i => HexGrid.encode(xs(i), ys(i), PipJoin.DefaultRes))
    var pip: PipIndex = null
    result("layer.operators.pip.build_s") = time(t.span("operators.pip.build") {
      pip = new PipIndex(polys, PipJoin.DefaultRes); sink += pip.matches(xs(0), ys(0)).numElements() })
    result("layer.operators.pip.ns_per_probe") =
      loop("operators.pip.kernel", all)(i => pip.matches(xs(i), ys(i)).numElements())
    val hits = all.map(i => pip.matches(xs(i), ys(i)).numElements())
    result("layer.operators.pip.hits_per_row") = hits.sum.toDouble / xs.length
    val matched = all.filter(hits(_) > 0)
    val probed = if (matched.isEmpty) all else matched
    result("layer.core.tiles.ns_per_call") =
      loop("core.tiles.kernel", probed)(i => Tiles.pack(Tiles.tileOf(xs(i), ys(i), 20)))
    var knn: KnnIndex = null
    result("layer.operators.knn.build_s") = time(t.span("operators.knn.build") {
      knn = new KnnIndex(centroids, 1); sink += knn.matches(xs(0), ys(0)).numElements() })
    result("layer.operators.knn.ns_per_probe") =
      loop("operators.knn.kernel", probed)(i => knn.matches(xs(i), ys(i)).numElements())
    result("kernel_sink") = sink
  }

  private val KernelSample = 20000
  private val KernelNs = 300L * 1000 * 1000

  private def environment(): Map[String, Any] = {
    val sqlKeys = Seq("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled",
      "spark.sql.files.maxPartitionBytes", "spark.sql.files.openCostInBytes",
      "spark.sql.autoBroadcastJoinThreshold", "spark.sql.adaptive.coalescePartitions.enabled",
      "spark.sql.adaptive.skewJoin.enabled", "spark.sql.codegen.wholeStage",
      "spark.sql.session.timeZone")
    Map(
      "cores" -> cores,
      "available_processors" -> Runtime.getRuntime.availableProcessors,
      "jvm_flags" -> ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toSeq,
      "java_version" -> System.getProperty("java.version"),
      "spark_version" -> org.apache.spark.SPARK_VERSION,
      "spark_sql" -> sqlKeys.map(k => k -> scala.util.Try(spark.conf.get(k)).getOrElse("")).toMap)
  }
}

/** Minimal JSON rendering for the result object (no external dependency). */
object Json {
  def render(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: java.lang.Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\""); case '\\' => sb.append("\\\\")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }
}
