package graftbench

import java.nio.channels.FileChannel
import java.nio.file.{Files, Path, StandardOpenOption}
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import graft.core.BytesRange
import graft.operators.{SegmentFetchJob, SegmentJobConfig, SegmentUploadJob}

/** `serve`: the broker's path, no Spark. Seeded Kafka-v2 segments are
  * tiered out through `SegmentUploadJob.uploadOne` (zstd, AES-GCM, 4 MiB
  * chunks), then a closed loop of `nproc` consumer threads, each waiting
  * for its reply, fetches ranges through `SegmentFetchJob.fetchRange`:
  *  - catchup: sequential 1 MiB ranges that cross chunk boundaries;
  *  - seek: 64 KiB ranges at Zipf-chosen positions, each of which must
  *    detransform a whole 4 MiB chunk.
  * Every upload must succeed and every fetched range must equal the
  * original bytes. */
object Serve {
  val Segments = 32
  /** ~31 MiB of original bytes per segment, ~1 GiB in all. */
  val SegmentBatches = 1050
  val ChunkSize: Int = 4 << 20
  val CatchupBytes: Int = 1 << 20
  val SeekBytes: Int = 64 << 10

  final case class Seg(key: String, file: Path, size: Long)
  /** Share of fetches that are seeks. No source gives a broker's mix of
    * catch-up reads and seeks, so this is an assumption: it gives the two
    * classes about equal CPU shares (median CPU per op measured on 4
    * cores: catchup 8.9 ms, seek 7.7 ms; see the README). */
  val SeekShare = 0.54

  final case class Fetch(op: Op, bytes: Long, span: Long)

  def run(ctx: Ctx, res: Result): Unit = {
    val nproc = ctx.nproc
    val keys = SegmentJobConfig.withGeneratedKeys("")
    val origDir = ctx.sub("serve-orig")
    val storeDir = ctx.sub("serve-store")

    // set-up, three times: corpus files + an empty store + job config
    var segs: IndexedSeq[Seg] = null
    var cfg: SegmentJobConfig = null
    Jvm.setups(res) {
        Jvm.deleteTree(origDir); Jvm.deleteTree(storeDir)
        Files.createDirectories(origDir); Files.createDirectories(storeDir)
        segs = Jvm.parallel(0 until Segments, nproc) { i =>
          val key = graft.sources.ObjectKey.filePrefix("events", "bench", 0,
            Gen.segmentBaseOffset(i, SegmentBatches), "seg")
          val bytes = Gen.eventSegment(ctx.seed, i, SegmentBatches)
          val f = origDir.resolve(f"$i%04d.log")
          Files.write(f, bytes)
          Seg(key, f, bytes.length.toLong)
        }
        cfg = keys.copy(storageRoot = storeDir.toString, chunkSize = ChunkSize)
    }
    val storage = Probe.storage(storeDir.toString)
    val origBytes = segs.map(_.size).sum
    val p0 = Probe.snapshot()

    // tier-out: every upload is a foreground op of the measured phase
    val next = new AtomicInteger(0)
    val uploads = new java.util.concurrent.ConcurrentLinkedQueue[(Op, Long)]()
    val tierCpu0 = Jvm.processCpuNanos()
    val tierOut = Trace.timed("tierout", "bench") {
      Jvm.parallel(0 until nproc, nproc) { _ =>
        var i = next.getAndIncrement()
        while (i < segs.size) {
          val s = segs(i)
          val payload = Files.readAllBytes(s.file)
          val c0 = Jvm.threadCpuNanos()
          val t = Trace.timed("upload", "operators", newOp = true) {
            SegmentUploadJob.uploadOne(storage, cfg.ring, None, cfg, s.key, payload)
          }
          val cpu = Jvm.threadCpuNanos() - c0
          res.check(t.value.success, s"upload ${s.key}: ${t.value.error}")
          uploads.add((Op("upload", t.ms, cpu / 1e6, Trace.on), t.id))
          i = next.getAndIncrement()
        }
      }
    }
    val tierCpu = (Jvm.processCpuNanos() - tierCpu0) / 1e9
    val p1 = Probe.snapshot()
    val stored = storage.listKeys("").map(storage.size).sum

    // fetch: closed loop; in a traced run each thread records spans for
    // every other fetch, so traced and untraced fetches interleave
    val originals = segs.map(s => FileChannel.open(s.file, StandardOpenOption.READ))
    val zipf = new Gen.Zipf(1 << 14, 1.0)
    val slotsPerSeg = (segs.map(_.size).min / SeekBytes).toInt
    val totalSlots = slotsPerSeg.toLong * segs.size
    def loop(seconds: Double, phase: Int): (Vector[Fetch], Double, Double) = {
      val deadline = System.nanoTime() + (seconds * 1e9).toLong
      val c0 = Jvm.processCpuNanos()
      val t = Trace.timed("fetch-loop", "bench") {
        Jvm.parallel(0 until nproc, nproc) { th =>
          val r = Gen.rng(ctx.seed, 7, phase, th)
          var seg = r.nextInt(segs.size)
          // catchup cursors start half a range off the 1 MiB grid, so every
          // fourth range straddles a 4 MiB chunk boundary
          val start = ChunkSize / 2L + CatchupBytes / 2
          var pos = start + r.nextInt(4) * CatchupBytes.toLong
          val out = ArrayBuffer.empty[Fetch]
          while (System.nanoTime() < deadline) {
            val catchup = r.nextDouble() >= SeekShare
            val (si, from, len) =
              if (catchup) {
                if (pos >= segs(seg).size) { seg = r.nextInt(segs.size); pos = start }
                val x = (seg, pos, math.min(CatchupBytes.toLong, segs(seg).size - pos))
                pos += CatchupBytes
                x
              } else {
                // Zipf rank → slot through a fixed odd-multiplier scatter,
                // so hot slots are spread over the corpus
                val slot = ((zipf.draw(r).toLong * 0x9E3779B1L + ctx.seed) & Long.MaxValue) % totalSlots
                ((slot % segs.size).toInt, (slot / segs.size) * SeekBytes, SeekBytes.toLong)
              }
            val s = segs(si)
            val cls = if (catchup) "catchup" else "seek"
            val traced = Trace.on && out.size % 2 == 0
            def fetch() = {
              val c0 = Jvm.threadCpuNanos()
              val op = Trace.timed(s"fetch.$cls", "operators", newOp = true) {
                SegmentFetchJob.fetchRange(storage, cfg, s.key, BytesRange(from, from + len - 1))
              }
              (op, Jvm.threadCpuNanos() - c0)
            }
            val (op, cpu) = if (traced) fetch() else Trace.quiet(s"fetch.$cls")(fetch())
            val got = op.value
            val want = java.nio.ByteBuffer.allocate(len.toInt)
            while (want.hasRemaining && originals(si).read(want, from + want.position()) > 0) ()
            want.flip()
            res.synchronized {
              res.check(got.length == len && java.nio.ByteBuffer.wrap(got).equals(want),
                s"fetch ${s.key} [$from, ${from + len}) returned ${got.length} bytes that differ")
            }
            out += Fetch(Op(cls, op.ms, cpu / 1e6, traced), got.length.toLong, op.id)
          }
          out.toVector
        }.flatten.toVector
      }
      (t.value, t.ms / 1e3, (Jvm.processCpuNanos() - c0) / 1e9)
    }
    Trace.untraced("warmup")(loop(1.0, 2)) // JIT-compile the read path before measuring
    val p3 = Probe.snapshot()
    val ticks = Jvm.cpuTicks()
    val (fetches, fetchWall, fetchCpu) = loop(ctx.seconds, 1)
    res.info("steal_frac") = Jvm.stealFrac(ticks, Jvm.cpuTicks())
    val p4 = Probe.snapshot()

    // end-to-end metrics over tier-out and fetch together
    val upl = uploads.asScala.toVector
    Jvm.opMetrics(res, upl.map(_._1) ++ fetches.map(_.op), tierOut.ms / 1e3 + fetchWall, tierCpu + fetchCpu)

    // per-layer metrics
    val lat = fetches.map(_.op.wallMs)
    res.layer("tierout_mbps") = (origBytes / 1e6 / (tierOut.ms / 1e3), "MB/s")
    res.layer("fetch_mbps") = (fetches.map(_.bytes).sum / 1e6 / fetchWall, "MB/s")
    res.layer("fetch_p50_ms") = (Stats.median(lat), "ms")
    res.layer("fetch_p99_ms") = (Stats.quantile(lat, 0.99), "ms")
    res.layer("space_amp") = (stored.toDouble / origBytes, "ratio")
    def cls(c: String) = fetches.filter(_.op.cls == c).map(_.op.wallMs)
    res.layer("operators.fetch_catchup_p50_ms") = (Stats.median(cls("catchup")), "ms")
    res.layer("operators.fetch_seek_p50_ms") = (Stats.median(cls("seek")), "ms")
    res.layer("operators.fetch_seek_p99_ms") = (Stats.quantile(cls("seek"), 0.99), "ms")
    res.layer("operators.upload_p50_ms") = (Stats.median(upl.map(_._1.wallMs)), "ms")
    if (Trace.on) {
      val self = Trace.selfNanos(Trace.all)
      def selfMs(ids: Seq[Long]) = Stats.median(ids.map(id => self.getOrElse(id, 0L) / 1e6))
      res.layer("operators.fetch_self_ms") = (selfMs(fetches.filter(_.op.traced).map(_.span)), "ms")
      res.layer("operators.upload_self_ms") = (selfMs(upl.map(_._2)), "ms")
    }
    Probe.report(res, (p1 - p0) + (p4 - p3))
    res.layer("sources.read_amp") =
      ((p4 - p3).bytes("get").toDouble / math.max(1L, fetches.map(_.bytes).sum), "ratio")
    res.info("orig_bytes") = origBytes
    res.info("stored_bytes") = stored
    res.info("segments") = segs.size
    res.info("store_fs") = Files.getFileStore(storeDir).`type`()
    originals.foreach(_.close())
    Jvm.deleteTree(origDir); Jvm.deleteTree(storeDir)
  }
}
