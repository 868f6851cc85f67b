package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

/** One timed interval. Spans of one op share `op`; `parent` is the span
  * that caused this one (0 for the root). Times are `System.nanoTime`. */
final case class Span(id: Long, op: Long, parent: Long, name: String, layer: String,
                      start: Long, end: Long) {
  def nanos: Long = end - start
}

/** In-memory span recorder, written out once at exit. Off unless the run
  * is traced; op timing for the end-to-end metrics goes through [[timed]]
  * either way, so traced and untraced runs time the same calls. */
object Trace {
  @volatile var on = false
  private val ids = new AtomicLong
  private val spans = new ConcurrentLinkedQueue[Span]()
  private final case class Ctx(id: Long, op: Long)
  private val NoCtx = Ctx(0L, 0L)
  private val ctx = new ThreadLocal[Ctx]
  /** Set on a thread while [[quiet]] keeps its own spans off. */
  private val muted = ThreadLocal.withInitial[java.lang.Boolean](() => false)
  private def recording: Boolean = on && !muted.get
  /** Parent for calls made on threads the benchmark does not own (Spark
    * task threads, prefetch pools): the Spark op in flight. */
  @volatile private var ambient: Ctx = NoCtx

  val baseNanos: Long = System.nanoTime()
  val baseMs: Long = System.currentTimeMillis()
  /** Epoch milliseconds (Spark listener event times) on the span clock. */
  def fromEpochMs(ms: Long): Long = baseNanos + (ms - baseMs) * 1000000L

  private def current: Ctx = Option(ctx.get).getOrElse(ambient)

  final case class Timed[T](value: T, id: Long, start: Long, end: Long) {
    def ms: Double = (end - start) / 1e6
  }

  /** Time `body`; when tracing, record it as a span under this thread's
    * current span. `newOp` starts a new op id; `ambient` makes the span
    * the parent of calls from threads without a span of their own. */
  def timed[T](name: String, layer: String, newOp: Boolean = false,
               ambient: Boolean = false)(body: => T): Timed[T] = {
    val parent = current
    val id = ids.incrementAndGet()
    val me = Ctx(id, if (newOp || parent.id == 0L) id else parent.op)
    val prevAmbient = this.ambient
    val rec = recording
    if (rec) { ctx.set(me); if (ambient) this.ambient = me }
    val t0 = System.nanoTime()
    var t1 = t0
    try {
      val v = body
      t1 = System.nanoTime()
      Timed(v, id, t0, t1)
    } finally {
      if (t1 == t0) t1 = System.nanoTime()
      if (rec) {
        spans.add(Span(id, me.op, parent.id, name, layer, t0, t1))
        ctx.set(if (parent eq NoCtx) null else parent)
        if (ambient) this.ambient = prevAmbient
      }
    }
  }

  /** Runs `body` with span recording off, as one `untraced` span when
    * tracing is on — so the untraced part of a traced run (measured for
    * the overhead ratio) still shows in the run's accounting. */
  def untraced[T](name: String)(body: => T): T =
    if (!recording) body
    else timed(name, "untraced") { on = false; try body finally on = true }.value

  /** As [[untraced]], but for the calling thread only, so one of several
    * concurrent client threads can run an op untraced. Spans of threads
    * without a span of their own (Spark tasks) still record. */
  def quiet[T](name: String)(body: => T): T =
    if (!recording) body
    else timed(name, "untraced") { muted.set(true); try body finally muted.set(false) }.value

  /** A completed call of a lower layer, under the current span. */
  def leaf(name: String, layer: String, t0: Long, t1: Long): Unit = if (recording) {
    val p = current
    spans.add(Span(ids.incrementAndGet(), p.op, p.id, name, layer, t0, t1))
  }

  /** A span measured elsewhere (Spark stages from the listener). */
  def add(parent: Span, name: String, layer: String, t0: Long, t1: Long): Span = {
    val s = Span(ids.incrementAndGet(), parent.op, parent.id, name, layer, t0, t1)
    if (on) spans.add(s)
    s
  }

  def all: Vector[Span] = spans.asScala.toVector

  /** Moves each `sources` leaf from its recorded parent down to the
    * deepest non-leaf descendant whose interval holds the leaf's start —
    * calls made on Spark task threads are recorded under the op and
    * belong to the plan, execute or stage span they fell in. */
  def nest(in: Vector[Span]): Vector[Span] = {
    val kids = in.filter(_.layer != "sources").groupBy(_.parent)
    def place(p: Long, t: Long): Long =
      kids.getOrElse(p, Vector.empty).find(k => k.start <= t && t <= k.end) match {
        case Some(k) => place(k.id, t)
        case None => p
      }
    in.map(s => if (s.layer == "sources") s.copy(parent = place(s.parent, s.start)) else s)
  }

  /** Length covered by the union of intervals, clipped to [lo, hi]. */
  def unionNanos(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }.filter(x => x._2 > x._1)
      .sortBy(_._1).foreach { case (s, e) =>
        if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
        else curE = math.max(curE, e)
      }
    if (curE > curS) total += curE - curS
    total
  }

  /** Self time of every span: its duration minus the part of it that its
    * children cover. */
  def selfNanos(in: Vector[Span]): Map[Long, Long] = {
    val kids = in.groupBy(_.parent)
    in.map { s =>
      val covered = unionNanos(kids.getOrElse(s.id, Vector.empty).map(k => (k.start, k.end)),
        s.start, s.end)
      s.id -> (s.nanos - covered)
    }.toMap
  }

  def writeJsonLines(in: Vector[Span], path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder
    in.sortBy(_.start).foreach { s =>
      sb.append(s"""{"id":${s.id},"op":${s.op},"parent":${s.parent},"name":${Json.str(s.name)},""")
        .append(s""""layer":${Json.str(s.layer)},"start_us":${(s.start - baseNanos) / 1000},""")
        .append(s""""end_us":${(s.end - baseNanos) / 1000}}""").append('\n')
    }
    java.nio.file.Files.writeString(path, sb.toString)
  }
}
