package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Arguments and scratch space of one benchmark run. */
final case class Ctx(workload: String, seed: Long, seconds: Double, trace: Boolean,
                     nproc: Int, dir: Path) {
  def sub(name: String): Path = dir.resolve(name)
}

/** What a run measured and checked; written to `result.json`. */
final class Result {
  var attempted = 0L
  var failed = 0L
  val e2e = mutable.LinkedHashMap.empty[String, (Double, String)]
  val layer = mutable.LinkedHashMap.empty[String, (Double, String)]
  val failures = mutable.ArrayBuffer.empty[String]
  val info = mutable.LinkedHashMap.empty[String, Any]

  def check(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) { failed += 1; if (failures.size < 50) failures += what }
  }
}

/** One measured foreground op: its class, wall and CPU time, and whether
  * spans were recorded for it. */
final case class Op(cls: String, wallMs: Double, cpuMs: Double, traced: Boolean)

/** Entry point of the benchmark JVM:
  * `graftbench.Main --workload W --seed N --seconds S --trace 0|1 --out DIR --nproc P`. */
object Main {
  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val ctx = Ctx(kv("workload"), kv("seed").toLong, kv("seconds").toDouble, kv("trace") == "1",
      kv("nproc").toInt, Paths.get(kv("out")).toAbsolutePath)
    Files.createDirectories(ctx.dir)
    Trace.on = ctx.trace
    val res = new Result
    val gcBefore = Jvm.gcMillis()
    Jvm.peakHeapMb() // starts the heap sampler
    val runSpan = Trace.timed("run", "bench", newOp = true) {
      ctx.workload match {
        case "serve" => Serve.run(ctx, res)
        case "tiered_sql" => TieredSql.run(ctx, res)
        case "curation" => Curation.run(ctx, res)
        case w => throw new IllegalArgumentException(s"unknown workload '$w'")
      }
    }
    res.e2e("peak_rss_mb") = (Jvm.peakRssMb(), "MB")
    res.layer("jvm.gc_ms") = (Jvm.gcMillis() - gcBefore, "ms")
    res.layer("jvm.peak_heap_mb") = (Jvm.peakHeapMb(), "MB")
    res.layer("failed_frac") = (if (res.attempted == 0) 0.0 else res.failed.toDouble / res.attempted, "ratio")
    if (ctx.trace) SelfTime.report(ctx, res, runSpan)
    res.info("nproc") = ctx.nproc
    res.info("jdk") = System.getProperty("java.vm.name") + " " + System.getProperty("java.version")
    res.info("heap_max_mb") = Runtime.getRuntime.maxMemory() / (1 << 20)
    res.info("run_s") = runSpan.ms / 1000
    def metrics(m: mutable.LinkedHashMap[String, (Double, String)]) =
      m.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }
    Files.writeString(ctx.sub("result.json"), Json(Map(
      "attempted" -> res.attempted, "failed" -> res.failed, "failures" -> res.failures.toSeq,
      "e2e" -> metrics(res.e2e), "layer" -> metrics(res.layer), "info" -> res.info)))
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession).foreach(_.stop())
    sys.exit(0) // no lingering non-daemon thread may hold the process open
  }
}

/** Process-level resource readings. */
object Jvm {
  import java.lang.management.ManagementFactory
  import scala.jdk.CollectionConverters._

  /** VmHWM: the process's peak resident set, MB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines().find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
  }

  private val threads = ManagementFactory.getThreadMXBean
  /** CPU time of the calling thread, ns. */
  def threadCpuNanos(): Long = threads.getCurrentThreadCpuTime

  /** CPU time of the engine's own pool threads (named `graft-…`, such as
    * the chunk prefetch pool), summed over those alive now, ns. */
  def engineThreadCpuNanos(): Long =
    threads.getThreadInfo(threads.getAllThreadIds).iterator
      .filter(t => t != null && t.getThreadName.startsWith("graft-"))
      .map(t => math.max(0L, threads.getThreadCpuTime(t.getThreadId))).sum

  /** CPU time of the whole process (every thread: tasks, GC, JIT), ns. */
  def processCpuNanos(): Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** Runs `body` `n` times and reports the median set-up cost: process CPU
    * seconds as `setup_s`, wall seconds as the `setup_wall_s` layer metric. */
  def setups(res: Result, n: Int = 3)(body: => Unit): Unit = {
    val runs = (1 to n).map { _ =>
      val c0 = processCpuNanos()
      val t = Trace.timed("setup", "setup")(body)
      ((processCpuNanos() - c0) / 1e9, t.ms / 1e3)
    }
    res.e2e("setup_s") = (Stats.median(runs.map(_._1)), "s")
    res.layer("setup_wall_s") = (Stats.median(runs.map(_._2)), "s")
  }

  /** The gated throughput and latency of a measured phase.
    *  - `op_cpu_ms`: the geometric mean over op classes of each class's
    *    CPU time per op. A class's figure is the geometric mean over its
    *    kinds (`class.kind`) of their median. So every class, and every
    *    kind in it, weighs the same whatever the mix and sample counts;
    *  - `ops_per_cpu_s`: every foreground op over the process CPU seconds
    *    of the measured phase.
    * Their wall-clock counterparts are layer metrics; per class counts,
    * figures and CPU shares go to `info.op_classes`. */
  def opMetrics(res: Result, ops: Seq[Op], wallS: Double, processCpuS: Double): Unit = {
    val byCls = ops.groupBy(_.cls.takeWhile(_ != '.')).toSeq.sortBy(_._1)
    def figure(xs: Seq[Op])(f: Op => Double): Double =
      Stats.geomean(xs.groupBy(_.cls).values.toSeq.map(k => Stats.median(k.map(f))))
    res.e2e("op_cpu_ms") = (Stats.geomean(byCls.map(c => figure(c._2)(_.cpuMs))), "ms")
    res.e2e("ops_per_cpu_s") = (ops.size / processCpuS, "1/s")
    res.layer("op_p50_ms") = (Stats.geomean(byCls.map(c => figure(c._2)(_.wallMs))), "ms")
    res.layer("ops_per_s") = (ops.size / wallS, "1/s")
    val cpuTotal = ops.map(_.cpuMs).sum
    res.info("op_classes") = byCls.map { case (c, xs) =>
      c -> Map("ops" -> xs.size, "cpu_ms" -> figure(xs)(_.cpuMs), "wall_ms" -> figure(xs)(_.wallMs),
        "cpu_share" -> xs.map(_.cpuMs).sum / cpuTotal)
    }.toMap
    res.info("op_tail") = Stats.tail(ops.map(_.wallMs))
    if (Trace.on) res.layer("trace.overhead_ratio") = (tracingOverhead(ops), "ratio")
  }

  /** Traced ÷ untraced median wall time, geometric mean over the op kinds
    * that have both; the two are interleaved in one measured phase. */
  def tracingOverhead(ops: Seq[Op]): Double = Stats.geomean(ops.groupBy(_.cls).values.toSeq.flatMap { xs =>
    val (t, u) = xs.partition(_.traced)
    if (t.isEmpty || u.isEmpty) None else Some(Stats.median(t.map(_.wallMs)) / Stats.median(u.map(_.wallMs)))
  })

  /** (steal, total) jiffies of all CPUs from /proc/stat: the share of CPU
    * time the hypervisor gave to other guests. */
  def cpuTicks(): (Long, Long) = {
    val f = scala.io.Source.fromFile("/proc/stat").getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
    (if (f.length > 7) f(7) else 0L, f.take(8).sum)
  }
  def stealFrac(a: (Long, Long), b: (Long, Long)): Double =
    if (b._2 > a._2) (b._1 - a._1).toDouble / (b._2 - a._2) else 0.0

  def gcMillis(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum.toDouble

  /** Highest heap occupancy seen by a 20 ms sampler started with the run. */
  def peakHeapMb(): Double = peakHeap.get / 1048576.0
  private val peakHeap = new java.util.concurrent.atomic.AtomicLong
  private val sampler = {
    val t = new Thread(() => while (true) {
      peakHeap.accumulateAndGet(ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed, math.max)
      Thread.sleep(20)
    }, "perfbench-heap-sampler")
    t.setDaemon(true)
    t.start()
    t
  }

  /** Run `f` over `items` on `threads` threads; returns results in order. */
  def parallel[A, B](items: IndexedSeq[A], threads: Int)(f: A => B): IndexedSeq[B] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try {
      val fs = items.map(a => pool.submit(new java.util.concurrent.Callable[B] { def call(): B = f(a) }))
      fs.map(_.get())
    } finally { pool.shutdown(); pool.awaitTermination(60, java.util.concurrent.TimeUnit.SECONDS) }
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(x => Files.delete(x))
    finally s.close()
  }
}
