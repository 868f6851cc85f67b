package graftbench

import java.io.{FilterInputStream, InputStream}
import java.util.concurrent.atomic.AtomicLong

import graft.core.BytesRange
import graft.sources.{FileSystemStorage, StorageBackend, StorageBackends}

/** The benchmark's only view of storage: every call into the `sources`
  * layer is counted and timed by op type (get, put, list, meta, delete).
  * Serving-path callers get a [[ProbeStorage]] directly; the DSv2 source
  * reaches it through its public `backend.provider` option and a
  * `graftbench://<dir>` root. Counters are process-wide, so Spark tasks
  * in local mode land in the same totals; phases take differences of
  * [[snapshot]]s. */
object Probe {
  val Scheme = "graftbench"
  val Ops: Seq[String] = Seq("get", "put", "list", "meta", "delete")

  final class OpStat {
    val count = new AtomicLong
    val bytes = new AtomicLong
    val nanos = new AtomicLong
  }
  private val stats: Map[String, OpStat] = Ops.map(_ -> new OpStat).toMap
  private val errorCount = new AtomicLong
  private val listed = new AtomicLong
  private val logGetCount = new AtomicLong

  /** Immutable counter values; `-` gives the work of one phase. Listing
    * counts segments (manifest keys) returned; `logGets` counts GETs of
    * segment log objects (one per chunk fetched on the chunk-cache path). */
  final case class Snap(count: Map[String, Long], bytes: Map[String, Long],
                        nanos: Map[String, Long], errors: Long, listedManifests: Long,
                        logGets: Long) {
    def -(o: Snap): Snap = Snap(
      count.map { case (k, v) => k -> (v - o.count(k)) },
      bytes.map { case (k, v) => k -> (v - o.bytes(k)) },
      nanos.map { case (k, v) => k -> (v - o.nanos(k)) },
      errors - o.errors, listedManifests - o.listedManifests, logGets - o.logGets)
    def +(o: Snap): Snap = Snap(
      count.map { case (k, v) => k -> (v + o.count(k)) },
      bytes.map { case (k, v) => k -> (v + o.bytes(k)) },
      nanos.map { case (k, v) => k -> (v + o.nanos(k)) },
      errors + o.errors, listedManifests + o.listedManifests, logGets + o.logGets)
    def ms(op: String): Double = nanos(op) / 1e6
  }

  def snapshot(): Snap = Snap(
    stats.map { case (k, s) => k -> s.count.get }, stats.map { case (k, s) => k -> s.bytes.get },
    stats.map { case (k, s) => k -> s.nanos.get }, errorCount.get, listed.get, logGetCount.get)

  /** `sources.*` per-layer metrics from a snapshot difference. */
  def report(res: Result, d: Snap): Unit = {
    res.layer("sources.get_count") = (d.count("get").toDouble, "count")
    res.layer("sources.get_bytes") = (d.bytes("get").toDouble, "bytes")
    res.layer("sources.get_ms") = (d.ms("get"), "ms")
    res.layer("sources.put_count") = (d.count("put").toDouble, "count")
    res.layer("sources.put_bytes") = (d.bytes("put").toDouble, "bytes")
    res.layer("sources.put_ms") = (d.ms("put"), "ms")
    res.layer("sources.list_count") = (d.count("list").toDouble, "count")
    res.layer("sources.list_ms") = (d.ms("list"), "ms")
    res.layer("sources.meta_count") = (d.count("meta").toDouble, "count")
    res.layer("sources.errors") = (d.errors.toDouble, "count")
  }

  def rootFor(dir: String): String = s"$Scheme://$dir"
  def storage(dir: String): StorageBackend = new ProbeStorage(FileSystemStorage(dir))

  private[graftbench] def record(op: String, bytes: Long, t0: Long, busyNanos: Long, t1: Long): Unit = {
    val s = stats(op)
    s.count.incrementAndGet()
    s.bytes.addAndGet(bytes)
    s.nanos.addAndGet(busyNanos)
    Trace.leaf(s"storage.$op", "sources", t0, t1)
  }
  private[graftbench] def failed(): Unit = errorCount.incrementAndGet()
  private[graftbench] def addListed(n: Int): Unit = listed.addAndGet(n.toLong)
  private[graftbench] def logGet(): Unit = logGetCount.incrementAndGet()
}

/** Counting/timing decorator over any [[StorageBackend]]. Whole-object
  * and ranged reads are timed to the last byte: byte-array calls around
  * the inner call, stream calls across their reads until `close`. */
final class ProbeStorage(inner: StorageBackend) extends StorageBackend {
  private def timed[T](op: String, key: String)(body: => T)(bytes: T => Long): T = {
    if (op == "get" && key.endsWith(".log")) Probe.logGet()
    val t0 = System.nanoTime()
    val r = try body catch { case e: Throwable => Probe.failed(); throw e }
    val t1 = System.nanoTime()
    Probe.record(op, bytes(r), t0, t1 - t0, t1)
    r
  }

  private def stream(key: String)(open: => InputStream): InputStream = {
    if (key.endsWith(".log")) Probe.logGet()
    val t0 = System.nanoTime()
    val in = try open catch { case e: Throwable => Probe.failed(); throw e }
    val opened = System.nanoTime() - t0
    new FilterInputStream(in) {
      private var n = 0L
      private var busy = opened
      private var closed = false
      override def read(): Int = {
        val t = System.nanoTime()
        val b = super.read()
        busy += System.nanoTime() - t
        if (b >= 0) n += 1
        b
      }
      override def read(b: Array[Byte], off: Int, len: Int): Int = {
        val t = System.nanoTime()
        val r = super.read(b, off, len)
        busy += System.nanoTime() - t
        if (r > 0) n += r
        r
      }
      override def close(): Unit = {
        super.close()
        if (!closed) { closed = true; Probe.record("get", n, t0, busy, System.nanoTime()) }
      }
    }
  }

  override def upload(in: InputStream, key: String): Long =
    timed("put", key)(inner.upload(in, key))(identity)
  override def uploadBytes(bytes: Array[Byte], key: String): Long =
    timed("put", key)(inner.uploadBytes(bytes, key))(identity)
  override def fetch(key: String): InputStream = stream(key)(inner.fetch(key))
  override def fetchBytes(key: String): Array[Byte] =
    timed("get", key)(inner.fetchBytes(key))(_.length.toLong)
  override def fetchRange(key: String, range: BytesRange): InputStream =
    stream(key)(inner.fetchRange(key, range))
  override def fetchRangeBytes(key: String, range: BytesRange): Array[Byte] =
    timed("get", key)(inner.fetchRangeBytes(key, range))(_.length.toLong)
  override def delete(key: String): Unit = timed("delete", key)(inner.delete(key))(_ => 0L)
  override def exists(key: String): Boolean = timed("meta", key)(inner.exists(key))(_ => 0L)
  override def size(key: String): Long = timed("meta", key)(inner.size(key))(_ => 0L)
  override def listKeys(prefix: String): Vector[String] = {
    val keys = timed("list", prefix)(inner.listKeys(prefix))(_ => 0L)
    Probe.addListed(keys.count(_.endsWith(".rsm-manifest")))
    keys
  }
}

/** `backend.provider` class for the DSv2 source: binds `graftbench://`
  * roots to a [[ProbeStorage]] over the local directory after the scheme. */
final class ProbeProvider extends StorageBackends.Provider {
  override def scheme: String = Probe.Scheme
  override def create(root: String): StorageBackend =
    Probe.storage(root.stripPrefix(s"${Probe.Scheme}://"))
}
