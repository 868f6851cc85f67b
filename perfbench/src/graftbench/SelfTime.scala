package graftbench

/** The traced run's report: per-layer self time (span minus the union of
  * its children), how much of the run's wall time the op spans account
  * for, and the span dump itself (`trace.jsonl`, `selftime.json`). */
object SelfTime {
  /** Layers named in the per-layer metrics, in report order. */
  val Layers: Seq[String] = Seq("bench", "setup", "operators", "sources", "v2.write", "query",
    "plan", "spark.driver", "spark.stage", "twin", "untraced")

  def report(ctx: Ctx, res: Result, run: Trace.Timed[_]): Unit = {
    val spans = Trace.nest(Trace.all)
    val self = Trace.selfNanos(spans)
    val byLayer = spans.groupBy(_.layer).map { case (l, ss) =>
      l -> (ss.map(s => self(s.id)).sum / 1e6, ss.size)
    }
    val runNanos = run.end - run.start
    val runSelf = spans.find(_.id == run.id).map(s => self(s.id)).getOrElse(runNanos)
    val accounted = 1.0 - runSelf.toDouble / runNanos
    Layers.foreach(l => res.layer(s"self.${l}_s") = (byLayer.get(l).map(_._1).getOrElse(0.0) / 1e3, "s"))
    res.layer("trace.accounted_frac") = (accounted, "ratio")
    res.layer("trace.spans") = (spans.size.toDouble, "count")
    Trace.writeJsonLines(spans, ctx.sub("trace.jsonl"))
    java.nio.file.Files.writeString(ctx.sub("selftime.json"), Json(Map(
      "workload" -> ctx.workload, "seed" -> ctx.seed, "run_ms" -> runNanos / 1e6,
      "accounted_frac" -> accounted,
      "layers" -> byLayer.toSeq.sortBy(-_._2._1).map { case (l, (ms, n)) =>
        Map("layer" -> l, "self_ms" -> ms, "spans" -> n) })))
    System.err.println(f"[perfbench] self time by layer (${ctx.workload}, run ${runNanos / 1e6}%.0f ms, " +
      f"op spans cover ${accounted * 100}%.1f%% of it; threads overlap, so sums can exceed the run):")
    byLayer.toSeq.sortBy(-_._2._1).foreach { case (l, (ms, n)) =>
      System.err.println(f"[perfbench]   $l%-14s $ms%12.1f ms  $n%8d spans")
    }
  }
}
