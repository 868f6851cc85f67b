package graft.sources

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite

/** C1–C6: hit/miss stats, byte-weighted eviction, TTL, single-flight, disk
  * atomicity — mirrors `fetch/cache/ChunkCacheTest.java` / `DiskChunkCacheTest.java`. */
class CachesSpec extends AnyFunSuite {

  test("lru: byte-weighted eviction in access order") {
    val c = new LruByteCache(maxWeightBytes = 100)
    c.put("a", new Array[Byte](40))
    c.put("b", new Array[Byte](40))
    assert(c.get("a").isDefined) // touch a -> b is now eldest
    c.put("c", new Array[Byte](40)) // over weight -> evict b
    assert(c.get("b").isEmpty)
    assert(c.get("a").isDefined && c.get("c").isDefined)
    assert(c.stats.evictions == 1)
  }

  test("lru: TTL expiry") {
    var now = 0L
    val c = new LruByteCache(1000, ttlMillis = 100, clock = () => now)
    c.put("k", Array[Byte](1))
    assert(c.get("k").isDefined)
    now = 200
    assert(c.get("k").isEmpty)
  }

  test("lru: single-flight loads once under concurrency") {
    val c = new LruByteCache(1 << 20)
    val loads = new java.util.concurrent.atomic.AtomicInteger(0)
    val threads = (1 to 8).map { _ =>
      new Thread(() => {
        c.getOrLoad("key") {
          loads.incrementAndGet()
          Thread.sleep(50)
          Array[Byte](7)
        }
        ()
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    assert(loads.get() == 1, s"expected one load, got ${loads.get()}")
    assert(c.stats.hits + c.stats.misses >= 8)
  }

  test("lru: waiters see the load's failure, but load again when only the loader was cancelled") {
    val c = new LruByteCache(1 << 20)
    def waiterOf(fail: Throwable): Either[Throwable, Array[Byte]] = {
      val started = new java.util.concurrent.CountDownLatch(1)
      val release = new java.util.concurrent.CountDownLatch(1)
      val key = fail.getClass.getName
      val loader = new Thread(() => {
        try c.getOrLoad(key) { started.countDown(); release.await(); throw fail }
        catch { case _: Throwable => () }
      })
      loader.start()
      started.await()
      @volatile var got: Either[Throwable, Array[Byte]] = null
      val waiter = new Thread(() => {
        got = try Right(c.getOrLoad(key)(Array[Byte](5))) catch { case t: Throwable => Left(t) }
      })
      waiter.start()
      // release the load only once the waiter is parked on it
      val deadline = System.nanoTime() + 10_000_000_000L
      while (waiter.getState != Thread.State.TIMED_WAITING && System.nanoTime() < deadline)
        Thread.sleep(5)
      release.countDown()
      loader.join(10000); waiter.join(10000)
      got
    }
    val bad = new IllegalStateException("tag mismatch")
    assert(waiterOf(bad) == Left(bad), "a failed load reaches its waiters unwrapped")
    assert(waiterOf(new java.nio.channels.ClosedByInterruptException).exists(_.sameElements(Array[Byte](5))),
      "a cancelled loader must not fail the other callers of the same key")
  }

  test("lru: invalidateIf drops only the matching entries and their weight") {
    val c = new LruByteCache(1 << 20)
    Seq("a#0" -> 10, "a#1" -> 20, "b#0" -> 40).foreach { case (k, n) => c.put(k, new Array[Byte](n)) }
    c.invalidateIf(_.startsWith("a#"))
    assert(c.cachedKeys == Vector("b#0") && c.currentWeight == 40)
  }

  test("lru: hit/miss stats") {
    val c = new LruByteCache(1000)
    c.getOrLoad("x")(Array[Byte](1))
    c.getOrLoad("x")(Array[Byte](1))
    assert(c.stats.hits == 1 && c.stats.misses >= 1)
  }

  test("disk cache: atomic write, eviction deletes files") {
    val dir = Files.createTempDirectory("graft-disk-cache")
    val d = new DiskChunkCache(dir, maxWeightBytes = 100)
    d.put("a", new Array[Byte](60))
    d.put("b", new Array[Byte](60)) // evicts a
    assert(d.get("a").isEmpty && d.get("b").isDefined)
    assert(d.evictionCount == 1)
    import scala.jdk.CollectionConverters._
    val files = Files.list(dir).iterator().asScala.toVector
    assert(files.size == 1 && !files.exists(_.toString.endsWith(".tmp")))
  }

  test("caching fetcher: read-through + prefetch warms subsequent chunks") {
    import graft.operators._
    // build one stored segment directly via the core library
    val store = Files.createTempDirectory("graft-cf-store").toString
    val cfg = SegmentJobConfig.withGeneratedKeys(store).copy(chunkSize = 1024)
    val payload = new Array[Byte](10000)
    new java.util.Random(3).nextBytes(payload)
    val r = SegmentUploadJob.uploadOne(FileSystemStorage(store), cfg.ring, None, cfg, "seg", payload)
    assert(r.success)

    val cache = new LruByteCache(1 << 22)
    val fetcher = new CachingChunkFetcher(cfg, cache, prefetchMaxBytes = 4096)
    val c0 = fetcher.getChunk("seg", 0)
    assert(java.util.Arrays.equals(c0, java.util.Arrays.copyOfRange(payload, 0, 1024)))
    // wait for prefetch worker to land chunks 1..4
    val deadline = System.currentTimeMillis + 5000
    while (cache.size < 5 && System.currentTimeMillis < deadline) Thread.sleep(20)
    assert(cache.size >= 5, s"prefetch expected to warm chunks 1..4, cache size=${cache.size}")
    // chunk 1 must now be a cache hit
    val before = cache.stats.hits
    fetcher.getChunk("seg", 1)
    assert(cache.stats.hits > before)
    fetcher.shutdown()
  }
}
