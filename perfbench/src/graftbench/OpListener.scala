package graftbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Per-op Spark execution profile, aggregated from task metrics: CPU,
  * run and GC time, shuffle and spill bytes, peak execution memory, task
  * and stage counts, and per-stage task-time skew. Ops are tagged with a
  * local property before their actions run ([[tag]]); the listener bus is
  * asynchronous, so results are read after `SparkContext.stop()` drains it. */
final class OpListener extends SparkListener {
  final class Agg {
    var cpuNs = 0L; var runMs = 0L; var gcMs = 0L
    var shuffleRead = 0L; var shuffleWrite = 0L; var spill = 0L
    var peakExecMem = 0L; var tasks = 0L; var stages = 0L
    var firstJobMs = Long.MaxValue
    val taskMs = new scala.collection.mutable.HashMap[Int, ArrayBuffer[Long]]
    val stageSpans = ArrayBuffer.empty[(Int, Long, Long)]
    /** Max over stages with two or more tasks of max ÷ median task time. */
    def skew: Double = taskMs.values.filter(_.size >= 2).map { ts =>
      val med = Stats.median(ts.map(_.toDouble).toSeq)
      if (med > 0) ts.max / med else 1.0
    }.foldLeft(1.0)(math.max)
  }

  private val byOp = new ConcurrentHashMap[String, Agg]()
  private val stageOp = new ConcurrentHashMap[Int, String]()
  private def agg(op: String): Agg = byOp.computeIfAbsent(op, _ => new Agg)

  def get(op: String): Option[Agg] = Option(byOp.get(op))

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val op = Option(e.properties).map(_.getProperty(OpListener.Key)).orNull
    if (op != null) {
      val a = agg(op)
      a.synchronized { a.firstJobMs = math.min(a.firstJobMs, e.time) }
      e.stageIds.foreach(s => stageOp.put(s, op))
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val op = Option(e.properties).map(_.getProperty(OpListener.Key)).orNull
    if (op != null) stageOp.put(e.stageInfo.stageId, op)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val op = stageOp.get(e.stageId)
    if (op == null) return
    val a = agg(op)
    val m = e.taskMetrics
    a.synchronized {
      a.tasks += 1
      a.taskMs.getOrElseUpdate(e.stageId, ArrayBuffer.empty) += e.taskInfo.duration
      if (m != null) {
        a.cpuNs += m.executorCpuTime
        a.runMs += m.executorRunTime
        a.gcMs += m.jvmGCTime
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        a.peakExecMem = math.max(a.peakExecMem, m.peakExecutionMemory)
      }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    val op = stageOp.get(info.stageId)
    if (op == null) return
    val a = agg(op)
    a.synchronized {
      a.stages += 1
      for (s <- info.submissionTime; c <- info.completionTime) a.stageSpans += ((info.stageId, s, c))
    }
  }
}

object OpListener {
  val Key = "graftbench.op"
  def tag(sc: SparkContext, op: String): Unit = sc.setLocalProperty(Key, op)
  def untag(sc: SparkContext): Unit = sc.setLocalProperty(Key, null)
}
