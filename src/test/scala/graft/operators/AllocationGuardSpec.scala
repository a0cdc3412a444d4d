package graft.operators

import java.lang.management.ManagementFactory

import org.scalatest.funsuite.AnyFunSuite

import graft.ProbeFixtures
import graft.core.Geom.PreparedPolygon
import graft.core.HexGrid

/**
 * The per-row kernels of `Pipeline.enrich` allocate nothing on their common
 * paths: `HexGrid.encode`, `PreparedPolygon.covers`, and `PipIndex.matches`
 * on misses and single hits. Each is measured with the JVM's per-thread
 * allocation counter over 200k calls after a warm-up, both in the test JVM
 * and in a child JVM run with `-Xint`. The JIT's escape analysis can remove
 * an allocation the bytecode still makes (a tuple or a `require` message
 * closure that never escapes), so only the interpreter run pins the bytecode.
 */
class AllocationGuardSpec extends AnyFunSuite {

  private def check(perCall: Seq[(String, Double)]): Unit = {
    assert(perCall.map(_._1) === AllocationProbe.Kernels)
    val over = perCall.filter(_._2 >= 1.0)
    assert(over.isEmpty, over.map { case (kernel, b) => s"$kernel: $b bytes per call" }.mkString("; "))
  }

  test("encode, covers and the miss/single-hit matches allocate < 1 byte per call, JIT-compiled") {
    assume(AllocationProbe.supported)
    check(AllocationProbe.measure())
  }

  test("encode, covers and the miss/single-hit matches allocate < 1 byte per call, interpreted (-Xint)") {
    assume(AllocationProbe.supported)
    val javaBin = java.nio.file.Paths.get(System.getProperty("java.home"), "bin", "java").toString
    val opens = ManagementFactory.getRuntimeMXBean.getInputArguments.toArray.map(_.toString)
      .filter(_.startsWith("--add-opens"))
    val cmd = Seq(javaBin, "-Xint", "-Xmx512m") ++ opens ++
      Seq("-cp", System.getProperty("java.class.path"), AllocationProbe.getClass.getName.stripSuffix("$"))
    val proc = new ProcessBuilder(cmd: _*).redirectErrorStream(true).start()
    val out = scala.io.Source.fromInputStream(proc.getInputStream).getLines().toList
    assert(proc.waitFor() === 0, out.mkString("\n"))
    check(out.filter(_.startsWith("alloc\t")).map { l =>
      val Array(_, kernel, b) = l.split('\t'); kernel -> b.toDouble
    })
  }
}

/** Measures the guarded kernels on the current thread; `main` prints one `alloc<TAB>kernel<TAB>bytes` line each. */
object AllocationProbe {

  val Calls = 200000
  val Kernels = Seq("HexGrid.encode", "PreparedPolygon.covers", "PipIndex.matches miss", "PipIndex.matches single hit")

  private val mx = ManagementFactory.getThreadMXBean.asInstanceOf[com.sun.management.ThreadMXBean]

  def supported: Boolean = mx.isThreadAllocatedMemorySupported && mx.isThreadAllocatedMemoryEnabled

  /** Average bytes the current thread allocates per call of `body(i)`, i cycling over `n` inputs. */
  private def bytesPerCall(n: Int)(body: Int => Int): Double = {
    var sink = 0
    var i = 0
    while (i < n) { sink += body(i); i += 1 } // warm-up: lazy state, class loading
    val tid = Thread.currentThread().getId
    val before = mx.getThreadAllocatedBytes(tid)
    i = 0
    while (i < Calls) { sink += body(i % n); i += 1 }
    val after = mx.getThreadAllocatedBytes(tid)
    if (sink == Int.MinValue) println(sink) // keeps the results live
    (after - before).toDouble / Calls
  }

  def measure(): Seq[(String, Double)] = {
    val polys = ProbeFixtures.disjoint
    val probes = ProbeFixtures.probes(polys)
    val xs = probes.map(_._2).toArray; val ys = probes.map(_._3).toArray

    // covers on probes seeded around each footprint's own envelope, so most
    // calls pass the envelope test and walk a stripe
    val prepared = polys.map { case (_, p) => new PreparedPolygon(p) }.toArray
    val own = ProbeFixtures.seeded(polys, 200, 23)
    val owner = own.indices.map(_ / 200).toArray
    val ox = own.map(_._2).toArray; val oy = own.map(_._3).toArray

    val index = new PipIndex(polys.map { case (id, p) => ProbeFixtures.footprint(id, p) }, PipJoin.DefaultRes)
    val hits = Array.tabulate(xs.length)(i => index.matches(xs(i), ys(i)).numElements())
    def withHits(h: Int) = { val sel = hits.indices.filter(hits(_) == h); (sel.map(xs).toArray, sel.map(ys).toArray) }
    val (mx0, my0) = withHits(0)
    val (mx1, my1) = withHits(1)
    require(mx0.length > 500 && mx1.length > 500, s"${mx0.length} misses, ${mx1.length} single hits")

    Seq(
      bytesPerCall(xs.length)(i => HexGrid.encode(xs(i), ys(i), PipJoin.DefaultRes).toInt),
      bytesPerCall(ox.length)(i => if (prepared(owner(i)).covers(ox(i), oy(i))) 1 else 0),
      bytesPerCall(mx0.length)(i => index.matches(mx0(i), my0(i)).numElements()),
      bytesPerCall(mx1.length)(i => index.matches(mx1(i), my1(i)).numElements())
    ).zip(Kernels).map(_.swap)
  }

  def main(args: Array[String]): Unit =
    measure().foreach { case (kernel, b) => println(s"alloc\t$kernel\t$b") }
}
