package graftbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec

/** Spark-side plumbing shared by the Spark workloads: the session, op
  * tagging for [[OpListener]], the segments each `graft-segments` scan
  * planned, and the per-op spans and metrics derived after the run. */
object SparkOps extends AdaptiveSparkPlanHelper {
  def session(ctx: Ctx): SparkSession = {
    val spark = graft.core.FastLocalDir.configure(SparkSession.builder())
      .master(s"local[${ctx.nproc}]")
      .config("spark.sql.shuffle.partitions", ctx.nproc.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // all scratch space inside the run directory
      .config("spark.local.dir", ctx.sub("spark-local").toString)
      .config("spark.sql.warehouse.dir", ctx.sub("warehouse").toString)
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Planned `graft-segments` partitions of an executed query: (segment
    * key, whether the scan reads log bytes) per planned partition. */
  def plannedSegments(df: DataFrame): Seq[(String, Boolean)] =
    collect(df.queryExecution.executedPlan) { case b: BatchScanExec => b }.flatMap { b =>
      val rowScan = !b.scan.isInstanceOf[graft.sources.v2.SegmentsAggScan]
      b.inputPartitions.collect { case p: graft.sources.v2.SegmentPartition => (p.segKey, rowScan) }
    }

  final case class OpRec(key: String, cls: String, name: String, t: Trace.Timed[_],
                         planned: Seq[(String, Boolean)], traced: Boolean,
                         columns: Seq[String] = Nil, driverCpuNs: Long = 0L, poolCpuNs: Long = 0L)

  /** Runs tagged Spark ops and keeps their records. */
  final class Runner(val spark: SparkSession) {
    val listener = new OpListener
    spark.sparkContext.addSparkListener(listener)
    val ops = ArrayBuffer.empty[OpRec]

    private val seq = new java.util.concurrent.atomic.AtomicInteger

    /** One query: plan + execute + collect, timed as one op. */
    def query(cls: String, name: String, layer: String = "query")(df: => DataFrame): (Array[Row], OpRec) = {
      var frame: DataFrame = null
      val (rows, rec) = timedOp(cls, name, layer) { frame = df; frame.collect() }
      (rows, record(rec.copy(planned = plannedSegments(frame), columns = frame.schema.fieldNames.toSeq)))
    }

    def op[T](cls: String, name: String, layer: String)(body: => T): (T, OpRec) = {
      val (v, rec) = timedOp(cls, name, layer)(body)
      (v, record(rec))
    }

    private def timedOp[T](cls: String, name: String, layer: String)(body: => T): (T, OpRec) = {
      val key = s"$cls:$name:${seq.getAndIncrement()}"
      val p0 = Jvm.engineThreadCpuNanos()
      val c0 = Jvm.threadCpuNanos()
      val t = Trace.timed(s"$cls.$name", layer, newOp = true, ambient = true) {
        OpListener.tag(spark.sparkContext, key)
        try body finally OpListener.untag(spark.sparkContext)
      }
      val driverCpu = Jvm.threadCpuNanos() - c0
      (t.value, OpRec(key, cls, name, t, Nil, Trace.on, driverCpuNs = driverCpu,
        poolCpuNs = Jvm.engineThreadCpuNanos() - p0))
    }

    private def record(r: OpRec): OpRec = { ops.synchronized(ops += r); r }

    /** Stops Spark (draining the listener bus), then records each op's
      * plan / execute / stage spans. */
    def stop(): Unit = {
      spark.stop()
      for (r <- ops if r.traced; a <- listener.get(r.key)) {
        val opSpan = Span(r.t.id, r.t.id, 0L, r.name, "query", r.t.start, r.t.end)
        val firstJob = math.max(r.t.start, math.min(Trace.fromEpochMs(a.firstJobMs), r.t.end))
        if (a.firstJobMs != Long.MaxValue) {
          Trace.add(opSpan, "plan", "plan", r.t.start, firstJob)
          val exec = Trace.add(opSpan, "execute", "spark.driver", firstJob, r.t.end)
          a.stageSpans.foreach { case (id, s, c) =>
            Trace.add(exec, s"stage$id", "spark.stage",
              math.max(firstJob, Trace.fromEpochMs(s)), math.min(r.t.end, Trace.fromEpochMs(c)))
          }
        }
      }
    }

    /** CPU time of an op, ms: its driver thread, its executor tasks, and
      * the engine's pool threads while it ran (chunk prefetch, which
      * fetches and detransforms every chunk after a segment's first).
      * Ops run one at a time, so the pool's CPU is theirs. */
    def cpuMs(r: OpRec): Double =
      (r.driverCpuNs + r.poolCpuNs + listener.get(r.key).map(_.cpuNs).getOrElse(0L)) / 1e6

    /** A measured op for [[Jvm.opMetrics]]: class `cls.name`. */
    def asOp(r: OpRec): Op = Op(s"${r.cls}.${r.name}", r.t.ms, cpuMs(r), r.traced)

    /** Plan time of an op: start to its first Spark job, ms. */
    def planMs(r: OpRec): Double = listener.get(r.key).filter(_.firstJobMs != Long.MaxValue)
      .map(a => (math.min(Trace.fromEpochMs(a.firstJobMs), r.t.end) - r.t.start) / 1e6)
      .getOrElse(r.t.ms)

    /** `spark.*` per-layer metrics: means per op over `recs`. */
    def sparkMetrics(recs: Seq[OpRec], res: Result): Unit = {
      val aggs = recs.flatMap(r => listener.get(r.key))
      val n = math.max(1, recs.size).toDouble
      def per(f: listener.Agg => Double) = aggs.map(f).sum / n
      res.layer("spark.cpu_s") = (per(_.cpuNs / 1e9), "s")
      res.layer("spark.run_s") = (per(_.runMs / 1e3), "s")
      res.layer("spark.gc_s") = (per(_.gcMs / 1e3), "s")
      res.layer("spark.shuffle_read_bytes") = (per(_.shuffleRead.toDouble), "bytes")
      res.layer("spark.shuffle_write_bytes") = (per(_.shuffleWrite.toDouble), "bytes")
      res.layer("spark.spill_bytes") = (per(_.spill.toDouble), "bytes")
      res.layer("spark.peak_exec_mem_mb") =
        (aggs.map(_.peakExecMem).foldLeft(0L)(math.max) / 1048576.0, "MB")
      res.layer("spark.tasks") = (per(_.tasks.toDouble), "count")
      res.layer("spark.stages") = (per(_.stages.toDouble), "count")
      res.layer("spark.skew") = (aggs.map(_.skew).foldLeft(1.0)(math.max), "ratio")
    }

    /** Per-op profile artifact: one object per op with its listener totals. */
    def writeProfile(path: java.nio.file.Path): Unit = {
      val rows = ops.map { r =>
        val a = listener.get(r.key)
        Map("op" -> r.key, "class" -> r.cls, "name" -> r.name, "wall_ms" -> r.t.ms,
          "plan_ms" -> planMs(r), "planned_partitions" -> r.planned.size,
          "cpu_s" -> a.map(_.cpuNs / 1e9), "run_s" -> a.map(_.runMs / 1e3),
          "gc_s" -> a.map(_.gcMs / 1e3), "shuffle_read_bytes" -> a.map(_.shuffleRead),
          "shuffle_write_bytes" -> a.map(_.shuffleWrite), "spill_bytes" -> a.map(_.spill),
          "peak_exec_mem_bytes" -> a.map(_.peakExecMem), "tasks" -> a.map(_.tasks),
          "stages" -> a.map(_.stages), "skew" -> a.map(_.skew))
      }
      java.nio.file.Files.writeString(path, Json(rows.toSeq))
    }
  }

  /** Order-insensitive fingerprint of a result: row count plus the sum
    * and xor of per-row hashes. */
  def fingerprint(rows: Array[Row]): String = {
    var sum = 0L
    var xor = 0L
    rows.foreach { r =>
      val h = scala.util.hashing.MurmurHash3.stringHash(r.toString).toLong * 0x9E3779B97F4A7C15L +
        scala.util.hashing.MurmurHash3.seqHash(r.toSeq.map(String.valueOf))
      sum += h; xor ^= h
    }
    f"${rows.length}:$sum%016x:$xor%016x"
  }
}
