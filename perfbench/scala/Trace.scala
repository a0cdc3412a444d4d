package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Engine counters summed over every task that ends while the listener is
  * attached: one `SparkListener`, read only after the bus is drained.
  * Spark's input-bytes counter misses parquet's vectored reads, so input is
  * counted in records; bytes read are taken from the process (`rchar`). */
final class Counters extends SparkListener {
  import Counters._
  private val v = new Array[Long](Fields.length)
  // (stage, attempt) -> task durations, plus each stage's wall time
  private val taskMs = mutable.Map.empty[(Int, Int), mutable.ArrayBuffer[Long]]
  private val stageWallMs = mutable.Map.empty[(Int, Int), Long]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { v(Jobs) += 1 }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    v(Stages) += 1
    val i = e.stageInfo
    for (s <- i.submissionTime; c <- i.completionTime)
      stageWallMs((i.stageId, i.attemptNumber())) = c - s
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    v(Tasks) += 1
    taskMs.getOrElseUpdate((e.stageId, e.stageAttemptId), mutable.ArrayBuffer.empty) +=
      e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      v(InRecords) += m.inputMetrics.recordsRead
      v(OutBytes) += m.outputMetrics.bytesWritten
      v(ShuffleBytes) += m.shuffleWriteMetrics.bytesWritten
      v(SpillBytes) += m.memoryBytesSpilled + m.diskBytesSpilled
      v(CpuNs) += m.executorCpuTime
      v(RunMs) += m.executorRunTime
      v(GcMs) += m.jvmGCTime
    }
  }

  def snapshot(sc: SparkContext): Array[Long] = {
    org.apache.spark.sql.graft.ListenerBusSync.drain(sc)
    synchronized(v.clone())
  }

  /** max / median task time in the stage with the longest wall time since
    * the last `resetStages` (1.0 when no stage ran). */
  def taskSkew(sc: SparkContext): Double = {
    org.apache.spark.sql.graft.ListenerBusSync.drain(sc)
    synchronized {
      if (stageWallMs.isEmpty) 1.0
      else {
        val longest = stageWallMs.maxBy(_._2)._1
        val ds = taskMs.getOrElse(longest, mutable.ArrayBuffer(1L)).sorted
        val med = ds(ds.size / 2).max(1L)
        ds.last.toDouble / med
      }
    }
  }

  def resetStages(): Unit = synchronized { taskMs.clear(); stageWallMs.clear() }
}

object Counters {
  val Fields = Array("jobs", "stages", "tasks", "input_records", "output_bytes", "shuffle_bytes",
    "spill_bytes", "cpu_ns", "run_ms", "task_gc_ms")
  val Jobs = 0; val Stages = 1; val Tasks = 2; val InRecords = 3; val OutBytes = 4
  val ShuffleBytes = 5; val SpillBytes = 6; val CpuNs = 7; val RunMs = 8; val GcMs = 9

  def delta(a: Array[Long], b: Array[Long]): Array[Long] = b.zip(a).map { case (x, y) => x - y }
}

/** In-memory spans recorded around the benchmark's calls into each layer:
  * name, start, end, parent and operation id, plus the counter delta of the
  * span. Written out once, when the run ends. */
final class Tracer(sc: SparkContext, counters: Counters) {
  final case class Span(id: Int, parent: Int, op: Int, name: String,
                        startNs: Long, endNs: Long, counters: Array[Long])
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0
  var op = 0

  def span[T](name: String)(body: => T): T = {
    val id = nextId; nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    stack = id :: stack
    val c0 = counters.snapshot(sc)
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      val c1 = counters.snapshot(sc)
      stack = stack.tail
      spans += Span(id, parent, op, name, t0, t1, Counters.delta(c0, c1))
    }
  }

  def all: Seq[Span] = spans.toSeq

  /** Per layer: calls, total and self seconds (span time minus the time its
    * child spans cover), and self counters. */
  def selfTable: Seq[(String, Int, Double, Double, Array[Long])] = {
    val children = spans.groupBy(_.parent)
    spans.groupBy(_.name).toSeq.sortBy(_._1).map { case (name, ss) =>
      var total = 0L; var self = 0L
      val cs = new Array[Long](Counters.Fields.length)
      ss.foreach { s =>
        val kids = children.getOrElse(s.id, Nil)
        total += s.endNs - s.startNs
        self += (s.endNs - s.startNs) - covered(kids.map(k => (k.startNs, k.endNs)).toSeq)
        val own = kids.foldLeft(s.counters)((acc, k) => Counters.delta(k.counters, acc))
        own.indices.foreach(i => cs(i) += own(i))
      }
      (name, ss.size, total / 1e9, self / 1e9, cs)
    }
  }

  private def covered(iv: Seq[(Long, Long)]): Long = {
    var sum = 0L; var end = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      val from = math.max(s, end)
      if (e > from) { sum += e - from; end = e }
    }
    sum
  }
}
