package graftbench

import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.storage.StorageLevel

import graft.records.{KafkaWireCodec, RowSchema}
import graft.sources.v2.GraftSegments

/** `tiered_sql`: an analyst's Spark SQL over the tiered store.
  *  - write: seeded event records are tiered out with
  *    `write.format("graft-segments")`, encryption on;
  *  - scan queries read every segment through prefetch and a chunk cache
  *    a quarter the size of the store;
  *  - pruned queries repeat over a recent hot set that fits the cache:
  *    a stats-pruned time range, a metadata-only aggregate, an offset
  *    tail and an offset page.
  * Storage is reached only through [[ProbeProvider]] (`backend.provider`).
  * Every result must match the same SQL over a parquet copy of the rows
  * (the twin), and the store's record count must round-trip. */
object TieredSql {
  val Segments = 12
  /** ~6 MiB of original bytes per segment: two 4 MiB chunks. */
  val SegmentBatches = 140
  /** Writes of the store per run; `v2.write_ms` is their median. */
  val WriteRepeats = 3
  /** Pruned queries run this many times per round for each scan query.
    * An assumption, as no source gives an analyst's mix: it keeps a
    * round short while giving the pruned class enough samples (see the
    * README for each class's measured CPU share). */
  val PrunedRepeats = 3
  val Prefix = "events-bench/0/"

  private val v = "CAST(value_raw AS STRING)"
  val ScanSql: Seq[(String, String)] = Seq(
    "json_groupby" ->
      s"""SELECT get_json_object($v, '$$.event') AS event, count(*) AS n,
         |  sum(length(value_raw)) AS bytes
         |FROM t GROUP BY 1""".stripMargin,
    "top_users" ->
      """SELECT CAST(key_raw AS STRING) AS user, count(*) AS n, max(kafka.timestamp) AS last_ts
        |FROM t GROUP BY 1 ORDER BY n DESC, user LIMIT 20""".stripMargin,
    "minute_window" ->
      """SELECT window(timestamp_millis(kafka.timestamp), '1 minute').start AS minute,
        |  count(*) AS n, count(DISTINCT key_raw) AS users
        |FROM t GROUP BY 1""".stripMargin)

  def prunedSql(hotTs: Long, pageOffset: Long): Seq[(String, String)] = Seq(
    "time_range" ->
      s"""SELECT count(*) AS n, sum(length(value_raw)) AS bytes,
         |  count(DISTINCT key_raw) AS users
         |FROM t WHERE kafka.timestamp >= $hotTs""".stripMargin,
    "metadata_only" ->
      """SELECT count(*) AS n, min(kafka.offset) AS lo, max(kafka.offset) AS hi,
        |  min(kafka.timestamp) AS t0, max(kafka.timestamp) AS t1 FROM t""".stripMargin,
    "tail" ->
      s"""SELECT kafka.offset AS off, CAST(key_raw AS STRING) AS k, $v AS v
         |FROM t ORDER BY kafka.offset DESC LIMIT 100""".stripMargin,
    // no ORDER BY: a prefix-scoped store is read in offset order, so the
    // page is exact (the twin's copy of this query sorts; see twinSql)
    "page" ->
      s"""SELECT kafka.offset AS off, CAST(key_raw AS STRING) AS k
         |FROM t LIMIT 100 OFFSET $pageOffset""".stripMargin)

  /** The same query over the parquet twin, which has no read order. */
  def twinSql(q: String): String =
    q.replace("FROM t LIMIT", "FROM t ORDER BY kafka.offset LIMIT").replaceAll("FROM t\\b", "FROM twin")

  /** Rows of the raw record schema plus `segment_key`, one partition per segment. */
  def records(spark: SparkSession, segs: IndexedSeq[(String, Array[Byte])]): DataFrame = {
    val rdd = spark.sparkContext.parallelize(segs, segs.size).flatMap { case (key, bytes) =>
      KafkaWireCodec.parseSegment(bytes).iterator.flatMap(b =>
        b.records.iterator.map(r => Row.fromSeq(key +: RowSchema.recordRow(b, r, 0).toSeq)))
    }
    spark.createDataFrame(rdd, GraftSegments.fullSchema)
  }

  def run(ctx: Ctx, res: Result): Unit = {
    val spark = Trace.timed("spark-session", "setup")(SparkOps.session(ctx)).value
    val runner = new SparkOps.Runner(spark)
    val keys = graft.operators.SegmentJobConfig.withGeneratedKeys("")
    val enc = java.util.Base64.getEncoder
    val storeDir = ctx.sub("tiered-store")
    val twinDir = ctx.sub("twin.parquet")

    // set-up, three times: generated segments → cached record rows →
    // parquet twin
    var rows: DataFrame = null
    var segBytes: IndexedSeq[(String, Array[Byte])] = null
    Jvm.setups(res) {
        if (rows != null) rows.unpersist(true)
        Jvm.deleteTree(twinDir); Jvm.deleteTree(storeDir); Files.createDirectories(storeDir)
        segBytes = Jvm.parallel(0 until Segments, ctx.nproc) { i =>
          (graft.sources.ObjectKey.filePrefix("events", "bench", 0,
            Gen.segmentBaseOffset(i, SegmentBatches), "seg"),
            Gen.eventSegment(ctx.seed, i, SegmentBatches))
        }
        rows = records(spark, segBytes).persist(StorageLevel.MEMORY_ONLY)
        rows.count()
        rows.write.parquet(twinDir.toString)
    }
    val origBytes = segBytes.map(_._2.length.toLong).sum
    val nRecords = Segments.toLong * SegmentBatches * Gen.BatchRecords
    val cacheBytes = origBytes / 4
    segBytes = null

    // write: WriteRepeats times, each into a fresh store root; the
    // queries read the last one, so its caches start cold
    def store(root: java.nio.file.Path) = Map("root" -> Probe.rootFor(root.toString),
      "backend.provider" -> classOf[ProbeProvider].getName,
      "rsaPublicKeyB64" -> enc.encodeToString(keys.rsaPublicKey),
      "rsaPrivateKeyB64" -> enc.encodeToString(keys.rsaPrivateKey))
    val p0 = Probe.snapshot()
    val writeCpu0 = Jvm.processCpuNanos()
    val writes = (0 until WriteRepeats).map { i =>
      val root = storeDir.resolve(s"w$i")
      Files.createDirectories(root)
      runner.op("write", "dsv2_write", "v2.write") {
        rows.write.format("graft-segments").options(store(root)).mode("append").save()
      }._2
    }
    val writeCpu = (Jvm.processCpuNanos() - writeCpu0) / 1e9
    val p1 = Probe.snapshot()
    rows.unpersist(true)
    val liveDir = storeDir.resolve(s"w${WriteRepeats - 1}")
    (0 until WriteRepeats - 1).foreach(i => Jvm.deleteTree(storeDir.resolve(s"w$i")))

    // the store as written: per segment its transformed log size and chunk count
    val probe = Probe.storage(liveDir.toString)
    val manifests = probe.listKeys(Prefix).filter(_.endsWith(".rsm-manifest"))
    val segInfo: Map[String, (Long, Int)] = manifests.map { mk =>
      val m = graft.core.SegmentManifest.fromJson(new String(probe.fetchBytes(mk), "UTF-8"))
      mk.stripSuffix(".rsm-manifest") -> (m.chunkIndex.transformedFileSize, m.chunkIndex.chunkCount)
    }.toMap
    val storedBytes = probe.listKeys("").map(probe.size).sum
    res.check(segInfo.size == Segments, s"store holds ${segInfo.size} segments, wrote $Segments")

    spark.read.format("graft-segments").options(store(liveDir)).option("prefix", Prefix)
      .option("read.prefetch.bytes", (8L << 20).toString)
      .option("read.cache.bytes", cacheBytes.toString)
      .load().createOrReplaceTempView("t")
    spark.read.parquet(twinDir.toString).createOrReplaceTempView("twin")

    // the hot set: the last two segments
    val hotTs = Gen.BaseTimestamp + Gen.segmentBaseOffset(Segments - 2, SegmentBatches) * Gen.RecordStepMs
    val pruned = prunedSql(hotTs, nRecords - 1000)
    val r = Gen.rng(ctx.seed, 11)
    def shuffle[A](xs: Seq[A]): Seq[A] = xs.map(x => (r.nextLong(), x)).sortBy(_._1).map(_._2)
    val round: Seq[(String, String, String)] =
      shuffle(ScanSql).map { case (n, q) => ("scan", n, q) } ++
        (1 to PrunedRepeats).flatMap(_ => shuffle(pruned).map { case (n, q) => ("pruned", n, q) })

    // queries: a fixed number of whole rounds, one per 3 s of run time. A
    // deadline would let a fast run squeeze in one more, warmer round and
    // shift its medians. A traced run records spans for every other query
    // (alternating between rounds), so traced and untraced queries
    // interleave for the overhead ratio
    val results = mutable.ArrayBuffer.empty[(String, String)]
    val nRounds = math.max(2, math.round(ctx.seconds / 3).toInt)
    Trace.untraced("warmup") {
      (ScanSql ++ pruned).foreach { case (n, q) =>
        results += n -> SparkOps.fingerprint(runner.query("warmup", n)(spark.sql(q))._1)
      }
    }
    val p2 = Probe.snapshot()
    val ticks = Jvm.cpuTicks()
    val c0 = Jvm.processCpuNanos()
    val recs = mutable.ArrayBuffer.empty[SparkOps.OpRec]
    val queries = Trace.timed("queries", "bench") {
      (0 until nRounds).foreach { k =>
        round.zipWithIndex.foreach { case ((cls, name, q), i) =>
          def run() = runner.query(cls, name)(spark.sql(q))
          val (out, rec) = if ((k + i) % 2 == 0) run() else Trace.untraced(s"$cls.$name")(run())
          results += name -> SparkOps.fingerprint(out)
          recs += rec
        }
      }
    }
    val queryCpu = (Jvm.processCpuNanos() - c0) / 1e9
    res.info("steal_frac") = Jvm.stealFrac(ticks, Jvm.cpuTicks())
    val p3 = Probe.snapshot()

    // the twin's answers, timed: the parquet read of the same rows
    val expected = mutable.Map.empty[String, String]
    val twinScan = mutable.ArrayBuffer.empty[Double]
    (ScanSql ++ pruned).foreach { case (n, q) =>
      val (out, rec) = runner.query("twin", n, "twin")(spark.sql(twinSql(q)))
      expected(n) = SparkOps.fingerprint(out)
      if (ScanSql.exists(_._1 == n)) twinScan += rec.t.ms / 1e3
    }
    results.foreach { case (n, fp) =>
      res.check(fp == expected(n), s"$n: tiered result $fp differs from twin ${expected(n)}")
    }
    val (cnt, _) = runner.query("twin", "count", "twin")(spark.sql("SELECT count(*) FROM twin"))
    res.check(cnt.head.getLong(0) == nRecords, s"twin holds ${cnt.head.getLong(0)} records, wrote $nRecords")
    val (cnt2, _) = runner.query("check", "count")(spark.sql("SELECT count(*) FROM t WHERE length(value_raw) > 0"))
    res.check(cnt2.head.getLong(0) == nRecords, s"store scan returned ${cnt2.head.getLong(0)} records, wrote $nRecords")
    runner.stop()

    // end-to-end metrics over the writes and the query rounds together
    Jvm.opMetrics(res, (writes ++ recs).map(runner.asOp), writes.map(_.t.ms / 1e3).sum + queries.ms / 1e3,
      writeCpu + queryCpu)

    val scans = recs.filter(_.cls == "scan").toSeq
    val prunes = recs.filter(_.cls == "pruned").toSeq
    val writeMs = Stats.median(writes.map(_.t.ms))
    res.layer("tierout_mbps") = (origBytes / 1e6 / (writeMs / 1e3), "MB/s")
    res.layer("scan_query_s") = (Stats.median(scans.map(_.t.ms / 1e3)), "s")
    res.layer("pruned_query_s") = (Stats.median(prunes.map(_.t.ms / 1e3)), "s")
    res.layer("space_amp") = (storedBytes.toDouble / origBytes, "ratio")
    res.layer("twin.parquet_scan_s") = (Stats.median(twinScan.toSeq), "s")
    res.layer("twin.read_tax") = (Stats.median(scans.map(_.t.ms / 1e3)) / Stats.median(twinScan.toSeq), "ratio")

    // v2: planning and pruning of the measured queries
    val q = recs.toSeq
    res.layer("v2.plan_ms") = (Stats.median(q.map(runner.planMs)), "ms")
    val dq = p3 - p2
    res.layer("v2.segments_listed") = (dq.listedManifests.toDouble / q.size, "count")
    res.layer("v2.partitions_planned") = (q.map(_.planned.size).sum.toDouble / q.size, "count")
    res.layer("v2.planned_frac") =
      (prunes.map(_.planned.size).sum.toDouble / math.max(1, prunes.size * Segments), "ratio")
    val rowScans = q.flatMap(_.planned.filter(_._2).map(_._1))
    val chunksRead = rowScans.map(k => segInfo.get(k).map(_._2).getOrElse(0)).sum
    val transformedRead = rowScans.map(k => segInfo.get(k).map(_._1).getOrElse(0L)).sum
    res.layer("v2.cache_hit_frac") = (1.0 - dq.logGets.toDouble / math.max(1, chunksRead), "ratio")
    res.layer("v2.write_ms") = (writeMs, "ms")
    if (Trace.on) {
      val spans = Trace.nest(Trace.all)
      val selfMs = writes.map { w =>
        val puts = spans.filter(s => s.layer == "sources" && s.op == w.t.id).map(s => (s.start, s.end))
        (w.t.end - w.t.start - Trace.unionNanos(puts, w.t.start, w.t.end)) / 1e6
      }
      res.layer("v2.write_self_ms") = (Stats.median(selfMs), "ms")
    }
    Probe.report(res, (p1 - p0) + dq)
    res.layer("sources.read_amp") = (dq.bytes("get").toDouble / math.max(1L, transformedRead), "ratio")
    runner.sparkMetrics(q, res)
    runner.writeProfile(ctx.sub("spark_profile.json"))
    res.info("orig_bytes") = origBytes
    res.info("stored_bytes") = storedBytes
    res.info("records") = nRecords
    res.info("cache_bytes") = cacheBytes
    res.info("store_fs") = Files.getFileStore(storeDir).`type`()
    Jvm.deleteTree(storeDir); Jvm.deleteTree(twinDir)
  }
}
