package graft.operators

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.core.BytesRange
import graft.sources.FileSystemStorage
import graft.testkit.SparkSpec

/** End-to-end segment layer on Spark (SURVEY §3.1/§3.2): upload job →
  * storage layout + manifests; fetch → byte equality; failure semantics. */
class SegmentJobsSpec extends SparkSpec {

  private def tmpDir(prefix: String) = Files.createTempDirectory(prefix).toString

  private def makeSegments(dir: String, n: Int, size: Int): Vector[(String, Array[Byte])] = {
    val rnd = new java.util.Random(7)
    (0 until n).toVector.map { i =>
      val b = new Array[Byte](size + i * 1000)
      rnd.nextBytes(b)
      // make it compressible half the time
      if (i % 2 == 0) java.util.Arrays.fill(b, b.length / 2, b.length, 42.toByte)
      val p = java.nio.file.Paths.get(dir, f"seg$i%03d.bin")
      Files.write(p, b)
      (s"file:$p".replaceFirst("^file:/+", "").replace('/', '_').replace(':', '_'), b)
    }
  }

  test("upload job tiers out all segments; fetch returns exact ranges") {
    val in = tmpDir("graft-segs-in")
    val store = tmpDir("graft-store")
    val segs = makeSegments(in, 4, 50000)
    val cfg = SegmentJobConfig.withGeneratedKeys(store).copy(chunkSize = 4096)

    val results = SegmentUploadJob.run(spark, in, cfg).collect()
    assert(results.length == 4)
    assert(results.forall(_.getAs[Boolean]("success")))

    val storage = FileSystemStorage(store)
    val keys = storage.listKeys("")
    assert(keys.count(_.endsWith(".log")) == 4)
    assert(keys.count(_.endsWith(".rsm-manifest")) == 4)

    // serving-path fetch: several ranges, byte-for-byte
    segs.foreach { case (segKey, payload) =>
      val whole = SegmentFetchJob.fetchRange(cfg, segKey, BytesRange(0, payload.length - 1L))
      assert(java.util.Arrays.equals(whole, payload), s"whole fetch mismatch for $segKey")
      val mid = SegmentFetchJob.fetchRange(cfg, segKey, BytesRange(1234, 9876))
      assert(java.util.Arrays.equals(mid, java.util.Arrays.copyOfRange(payload, 1234, 9877)))
      // range beyond EOF clamps
      val tail = SegmentFetchJob.fetchRange(cfg, segKey, BytesRange(payload.length - 10L, payload.length + 500L))
      assert(java.util.Arrays.equals(tail, java.util.Arrays.copyOfRange(payload, payload.length - 10, payload.length)))
    }
  }

  test("compression predicate: incompressible segments stored uncompressed") {
    val in = tmpDir("graft-segs-in2")
    val store = tmpDir("graft-store2")
    makeSegments(in, 4, 50000)
    val cfg = SegmentJobConfig.withGeneratedKeys(store).copy(chunkSize = 4096)
    val res = SegmentUploadJob.run(spark, in, cfg).collect()
    val bySeg = res.map(r => r.getAs[String]("segment_key") -> r.getAs[Boolean]("compressed")).toMap
    // even indices end with a long constant run -> compressible; odd are pure random
    assert(bySeg.exists(_._2) && bySeg.exists(!_._2),
      s"expected a mix of compressed/uncompressed, got $bySeg")
  }

  test("distributed chunk fetch: range predicate prunes, bytes reassemble") {
    val in = tmpDir("graft-segs-in3")
    val store = tmpDir("graft-store3")
    val segs = makeSegments(in, 2, 30000)
    val cfg = SegmentJobConfig.withGeneratedKeys(store).copy(chunkSize = 4096)
    SegmentUploadJob.run(spark, in, cfg).collect()

    val chunks = SegmentFetchJob.chunksAsDataFrame(spark, cfg)
    assert(chunks.count() > 2)

    val range = BytesRange(5000, 12000)
    val fetched = SegmentFetchJob.fetchChunksDF(spark, cfg, range)
      .orderBy(col("segment_key"), col("chunk_id"))
      .collect()
    // only chunks 1..2 (4096-grid) per segment overlap [5000, 12000]
    assert(fetched.map(_.getAs[Int]("chunk_id")).toSet == Set(1, 2))
    segs.foreach { case (segKey, payload) =>
      val mine = fetched.filter(_.getString(0) == segKey)
      val joined = mine.flatMap(_.getAs[Array[Byte]]("bytes"))
      assert(java.util.Arrays.equals(joined, java.util.Arrays.copyOfRange(payload, 4096, 3 * 4096)))
    }
  }

  test("interrupted fetch returns an empty result, not an error (R3 cancellation)") {
    val in = tmpDir("graft-segs-in5")
    val store = tmpDir("graft-store5")
    val segs = makeSegments(in, 1, 30000)
    val cfg = SegmentJobConfig.withGeneratedKeys(store).copy(chunkSize = 4096)
    SegmentUploadJob.run(spark, in, cfg).collect()
    val segKey = segs.head._1
    // sanity: uninterrupted fetch returns bytes
    assert(SegmentFetchJob.fetchRange(cfg, segKey, BytesRange(0, 999)).length == 1000)
    Thread.currentThread().interrupt()
    try {
      val r = SegmentFetchJob.fetchRange(cfg, segKey, BytesRange(0, 999))
      assert(r.isEmpty, "cancelled fetch must yield an empty stream, not data or an exception")
    } finally {
      Thread.interrupted() // clear the flag for subsequent tests
    }
  }

  /** Storage that records every ranged GET of a log object. */
  private final class CountingStorage(real: graft.sources.StorageBackend)
      extends graft.sources.StorageBackend {
    val logGets = new java.util.concurrent.ConcurrentLinkedQueue[BytesRange]()
    def logGetCount: Int = logGets.size
    override def upload(in: java.io.InputStream, key: String): Long = real.upload(in, key)
    override def fetch(key: String) = real.fetch(key)
    override def fetchRange(key: String, range: BytesRange) = {
      if (key.endsWith(".log")) logGets.add(range)
      real.fetchRange(key, range)
    }
    override def delete(key: String): Unit = real.delete(key)
    override def exists(key: String) = real.exists(key)
    override def size(key: String) = real.size(key)
    override def listKeys(prefix: String) = real.listKeys(prefix)
  }

  /** One compressed + encrypted 30000-byte segment in 4 KiB chunks (8 of
    * them), in a fresh store, behind a [[CountingStorage]]. */
  private def servingSegment(): (SegmentJobConfig, CountingStorage, String, Array[Byte]) = {
    val store = tmpDir("graft-serve-cache")
    val cfg = SegmentJobConfig.withGeneratedKeys(store).copy(chunkSize = 4096)
    val payload = new Array[Byte](30000)
    new java.util.Random(5).nextBytes(payload)
    java.util.Arrays.fill(payload, 15000, 30000, 3.toByte)
    val storage = new CountingStorage(FileSystemStorage(store))
    assert(SegmentUploadJob.uploadOne(storage, cfg.ring, None, cfg, "serve-seg", payload).success)
    (cfg, storage, "serve-seg", payload)
  }

  private def slice(b: Array[Byte], from: Long, to: Long) =
    java.util.Arrays.copyOfRange(b, from.toInt, (math.min(to, b.length - 1L) + 1).toInt)

  test("chunk cache: consecutive sub-chunk ranges cost one storage GET per chunk") {
    val (cfg, storage, seg, payload) = servingSegment()
    val hits0 = SegmentFetchJob.chunkCacheStats.hits
    // 1000-byte catch-up reads over the 4096-byte grid: every fourth or so
    // straddles a chunk boundary, and every chunk is touched several times
    (0L until payload.length.toLong by 1000L).foreach { from =>
      val got = SegmentFetchJob.fetchRange(storage, cfg, seg, BytesRange(from, from + 999))
      assert(java.util.Arrays.equals(got, slice(payload, from, from + 999)), s"range at $from")
    }
    import scala.jdk.CollectionConverters._
    val gets = storage.logGets.asScala.toVector
    assert(gets.size == 8 && gets.distinct.size == 8, s"one GET per chunk expected, got $gets")
    assert(SegmentFetchJob.chunkCacheStats.hits - hits0 >= 30 - 8)
    // a whole-segment read is now served from memory
    val whole = SegmentFetchJob.fetchRange(storage, cfg, seg, BytesRange(0, payload.length - 1L))
    assert(java.util.Arrays.equals(whole, payload) && storage.logGetCount == 8)
  }

  test("chunk cache: cancellation on a cache hit still returns an empty result") {
    val (cfg, storage, seg, payload) = servingSegment()
    assert(SegmentFetchJob.fetchRange(storage, cfg, seg, BytesRange(0, 999)).length == 1000)
    val gets = storage.logGetCount
    Thread.currentThread().interrupt()
    try {
      val r = SegmentFetchJob.fetchRange(storage, cfg, seg, BytesRange(0, 999))
      assert(r.isEmpty, "a cancelled fetch yields an empty result even when the chunk is cached")
    } finally Thread.interrupted()
    assert(storage.logGetCount == gets)
    assert(java.util.Arrays.equals(
      SegmentFetchJob.fetchRange(storage, cfg, seg, BytesRange(0, 999)), slice(payload, 0, 999)))
  }

  test("chunk cache: a tampered chunk fails on every fetch (failures are never cached)") {
    val (cfg, storage, seg, payload) = servingSegment()
    // chunk 0 cached before the tamper; chunk 2 never fetched
    assert(SegmentFetchJob.fetchRange(storage, cfg, seg, BytesRange(0, 99)).length == 100)
    val m = SegmentFetchJob.loadManifest(storage, seg)
    val c2 = m.chunkIndex.chunks(2)
    val log = java.nio.file.Paths.get(cfg.storageRoot, s"$seg.log")
    val bytes = Files.readAllBytes(log)
    val at = c2.transformedPosition + c2.transformedSize / 2
    bytes(at) = (bytes(at) ^ 0x01).toByte
    Files.write(log, bytes)
    val inChunk2 = BytesRange(2 * 4096L + 10, 2 * 4096L + 20)
    (1 to 3).foreach { i =>
      val before = storage.logGetCount
      intercept[Exception](SegmentFetchJob.fetchRange(storage, cfg, seg, inChunk2))
      assert(storage.logGetCount == before + 1, s"attempt $i must re-read storage")
    }
    // the untouched, cached chunk still serves
    assert(java.util.Arrays.equals(
      SegmentFetchJob.fetchRange(storage, cfg, seg, BytesRange(0, 99)), slice(payload, 0, 99)))
  }

  test("chunk cache: weight never exceeds the budget; CacheStats count evictions") {
    assert(SegmentFetchJob.ChunkCacheBytes ==
      math.min(256L << 20, Runtime.getRuntime.maxMemory / 8))
    val (cfg, storage, seg, payload) = servingSegment()
    // the serving code path over a three-chunk budget, from 4 threads
    val budget = 3L * 4096
    val cache = new graft.sources.LruByteCache(budget)
    val over = new java.util.concurrent.atomic.AtomicLong(0L)
    val bad = new java.util.concurrent.atomic.AtomicInteger(0)
    val threads = (0 until 4).map { t =>
      new Thread(() => {
        val r = new java.util.Random(t)
        (0 until 50).foreach { _ =>
          val from = r.nextInt(payload.length).toLong
          val to = from + r.nextInt(6000)
          val got = SegmentFetchJob.fetchRangeVia(cache, storage, cfg, seg, BytesRange(from, to))
          if (!java.util.Arrays.equals(got, slice(payload, from, to))) bad.incrementAndGet()
          over.accumulateAndGet(cache.currentWeight, (a, b) => math.max(a, b))
        }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join(60000))
    assert(!threads.exists(_.isAlive))
    assert(bad.get == 0)
    assert(over.get <= budget, s"weight ${over.get} over budget $budget")
    val st = cache.stats
    assert(st.evictions > 0 && st.hits > 0 && st.misses > 0, st.toString)
    assert(SegmentFetchJob.chunkCacheWeight <= SegmentFetchJob.ChunkCacheBytes)
  }

  test("chunk cache: a key written again or deleted in this process is not served from the cache") {
    val (cfg, storage, seg, payload) = servingSegment()
    assert(java.util.Arrays.equals(
      SegmentFetchJob.fetchRange(storage, cfg, seg, BytesRange(0, payload.length - 1L)), payload))
    val next = payload.map(b => (b ^ 0x5a).toByte)
    assert(SegmentUploadJob.uploadOne(storage, cfg.ring, None, cfg, seg, next).success)
    assert(java.util.Arrays.equals(
      SegmentFetchJob.fetchRange(storage, cfg, seg, BytesRange(0, payload.length - 1L)), next),
      "the re-uploaded payload must be served, not the cached one")
    assert(RetentionJob.deleteSegments(cfg, _ == seg).segmentsDeleted == 1)
    intercept[Exception](SegmentFetchJob.fetchRange(storage, cfg, seg, BytesRange(0, 99)))
  }

  test("caches carry the key material: a foreign key pair cannot read a cached segment") {
    val (cfg, storage, seg, payload) = servingSegment()
    // the right keys fill the manifest/data-key cache and the chunk cache
    assert(java.util.Arrays.equals(
      SegmentFetchJob.fetchRange(storage, cfg, seg, BytesRange(0, payload.length - 1L)), payload))
    val foreign = SegmentJobConfig.withGeneratedKeys(cfg.storageRoot).copy(chunkSize = 4096)
    intercept[Exception](SegmentFetchJob.fetchRange(storage, foreign, seg, BytesRange(0, 99)))
    intercept[Exception](SegmentFetchJob.fetchRange(foreign, seg, BytesRange(0, 99)))
    // an equal config (same key material) still reads from the caches
    val gets = storage.logGetCount
    val same = cfg.copy(rsaPublicKey = cfg.rsaPublicKey.clone(), rsaPrivateKey = cfg.rsaPrivateKey.clone())
    assert(java.util.Arrays.equals(
      SegmentFetchJob.fetchRange(storage, same, seg, BytesRange(0, 99)), slice(payload, 0, 99)))
    assert(storage.logGetCount == gets)
  }

  test("incompatible manifest fields fail fast with a clear message (wrapAlg / codec)") {
    import graft.core.SegmentManifest
    val in = tmpDir("graft-compat-in")
    val store = tmpDir("graft-compat-store")
    makeSegments(in, 1, 20000)
    val cfg = SegmentJobConfig.withGeneratedKeys(store).copy(chunkSize = 4096)
    assert(SegmentUploadJob.run(spark, in, cfg).collect().forall(_.getAs[Boolean]("success")))
    val storage = FileSystemStorage(store)
    val manifestKey = storage.listKeys("").find(_.endsWith(".rsm-manifest")).get
    val segKey = manifestKey.stripSuffix(".rsm-manifest")
    val m = SegmentManifest.fromJson(new String(storage.fetchBytes(manifestKey), "UTF-8"))

    // foreign key-wrap algorithm (SHA3-512 — the reference's — is readable
    // since r3, so use a genuinely unknown one) — exercised via a copied
    // segment under a fresh key (the manifest cache keys by segment, so the
    // original's cached spec is not consulted)
    val badWrap = m.copy(encryption = m.encryption.map(_.copy(wrapAlg = "RSA-OAEP-SHA1")))
    storage.uploadBytes(badWrap.toJson.getBytes("UTF-8"), s"$segKey-wrap.rsm-manifest")
    storage.uploadBytes(storage.fetchBytes(s"$segKey.log"), s"$segKey-wrap.log")
    val e2 = intercept[IllegalStateException](
      SegmentFetchJob.fetchRange(cfg, s"$segKey-wrap", BytesRange(0, 10)))
    assert(e2.getMessage.contains("incompatible key-wrap algorithm"))

    // foreign codec this engine genuinely has no decoder for ("zstd" used to
    // live here — it is now a first-class readable codec, tested below)
    val badCodec = m.copy(compressionCodec = "snappy")
    storage.uploadBytes(badCodec.toJson.getBytes("UTF-8"), s"$segKey-z.rsm-manifest")
    storage.uploadBytes(storage.fetchBytes(s"$segKey.log"), s"$segKey-z.log")
    if (badCodec.compression) {
      val e3 = intercept[IllegalStateException](
        SegmentFetchJob.fetchRange(cfg, s"$segKey-z", BytesRange(0, 10)))
      assert(e3.getMessage.contains("incompatible compression codec"))
    }
  }

  test("zstd-codec segments upload and serve ranged fetches byte-identically") {
    val in = tmpDir("graft-zstd-in")
    val store = tmpDir("graft-zstd-store")
    val segs = makeSegments(in, 2, 30000)
    val cfg = SegmentJobConfig.withGeneratedKeys(store)
      .copy(chunkSize = 4096, compressionCodec = graft.core.SegmentManifest.CodecZstdName)
    assert(SegmentUploadJob.run(spark, in, cfg).collect().forall(_.getAs[Boolean]("success")))
    val storage = FileSystemStorage(store)
    // Compressed manifests must declare zstd (seg 0 is the compressible one).
    val codecs = storage.listKeys("").filter(_.endsWith(".rsm-manifest")).map { k =>
      graft.core.SegmentManifest.fromJson(new String(storage.fetchBytes(k), "UTF-8"))
    }.filter(_.compression).map(_.compressionCodec)
    assert(codecs.nonEmpty && codecs.forall(_ == graft.core.SegmentManifest.CodecZstdName))
    // Byte-identity against the original payloads across range shapes.
    segs.foreach { case (segKey, payload) =>
      val full = SegmentFetchJob.fetchRange(cfg, segKey, BytesRange(0, payload.length - 1L))
      assert(java.util.Arrays.equals(full, payload))
      val mid = SegmentFetchJob.fetchRange(cfg, segKey, BytesRange(1000, 9999))
      assert(java.util.Arrays.equals(mid, java.util.Arrays.copyOfRange(payload, 1000, 10000)))
    }
  }

  test("segments wrapped with the pre-r3 SHA-256 algorithm still serve fetches") {
    val in = tmpDir("graft-oldwrap-in")
    val store = tmpDir("graft-oldwrap-store")
    val segs = makeSegments(in, 1, 25000)
    val base = SegmentJobConfig.withGeneratedKeys(store).copy(chunkSize = 4096)
    val oldCfg = base.copy(wrapAlg = graft.core.SegmentManifest.WrapAlgOaepSha256)
    assert(SegmentUploadJob.run(spark, in, oldCfg).collect().forall(_.getAs[Boolean]("success")))
    // Read back with a DEFAULT-config (SHA3-512-wrapping) engine holding the
    // same keys: the manifest's declared wrapAlg must drive the unwrap.
    segs.foreach { case (segKey, payload) =>
      val full = SegmentFetchJob.fetchRange(base, segKey, BytesRange(0, payload.length - 1L))
      assert(java.util.Arrays.equals(full, payload))
    }
  }

  test("upload failure leaves no partial objects (compensating delete)") {
    val store = tmpDir("graft-store4")
    val cfg = SegmentJobConfig.withGeneratedKeys(store)
    // storage root that cannot be written: point at a file
    val bad = Files.createTempFile("not-a-dir", ".txt")
    val badCfg = cfg.copy(storageRoot = bad.toString + "/sub")
    val r = SegmentUploadJob.uploadOne(FileSystemStorage(store), badCfg.ring, None, badCfg.copy(storageRoot = store),
      "seg-x", Array[Byte](1, 2, 3))
    assert(r.success)
    // failure mid-upload (r6: config validation now rejects a bad chunk
    // size at construction, so inject the failure at the manifest commit
    // point instead — .log already landed, compensating delete must clean)
    val real = FileSystemStorage(store)
    val failing = new graft.sources.StorageBackend {
      override def upload(in: java.io.InputStream, key: String): Long =
        if (key.endsWith(".rsm-manifest"))
          throw new java.io.IOException("injected manifest failure")
        else real.upload(in, key)
      override def fetch(key: String) = real.fetch(key)
      override def fetchRange(key: String, range: graft.core.BytesRange) =
        real.fetchRange(key, range)
      override def delete(key: String): Unit = real.delete(key)
      override def exists(key: String) = real.exists(key)
      override def size(key: String) = real.size(key)
      override def listKeys(prefix: String) = real.listKeys(prefix)
    }
    val r2 = SegmentUploadJob.uploadOne(failing, cfg.ring, None,
      cfg, "seg-y", Array[Byte](1, 2, 3))
    assert(!r2.success && r2.error.nonEmpty)
    assert(!real.listKeys("").exists(_.startsWith("seg-y")))
  }

  test("upload result carries the tagged-field custom metadata; wire decodes to the real sizes") {
    import scala.collection.immutable.TreeMap
    val store = java.nio.file.Files.createTempDirectory("graft-cmeta").toString
    val cfg = SegmentJobConfig.withGeneratedKeys(store).copy(chunkSize = 4096)
    val payload = new Array[Byte](20000)
    new java.util.Random(3).nextBytes(payload)
    val storage = FileSystemStorage(store)
    val r = SegmentUploadJob.uploadOne(storage, cfg.ring, None, cfg, "cm-seg", payload)
    assert(r.success && r.custom_metadata.nonEmpty)
    val fields = SegmentCustomMetadata.deserialize(r.custom_metadata)
    assert(fields(SegmentCustomMetadata.ObjectKeyTag) == "cm-seg")
    assert(fields(SegmentCustomMetadata.ObjectPrefixTag) == "")
    // remote_size == the actual bytes sitting in the store for this segment
    val stored = storage.listKeys("").filter(_.startsWith("cm-seg"))
      .map(storage.size).sum
    assert(fields(SegmentCustomMetadata.RemoteSizeTag) == stored,
      s"wire remote_size ${fields(SegmentCustomMetadata.RemoteSizeTag)} != stored $stored")
    // failure rows carry no metadata
    assert(TreeMap.empty[Int, Any] == SegmentCustomMetadata.deserialize(Array.emptyByteArray))
  }
}
