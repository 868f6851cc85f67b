package graftbench

import java.util.SplittableRandom

import graft.records.KafkaWireCodec

/** Seeded input generators. Every generator is a pure function of its
  * seed and index arguments, so a segment or table can be rebuilt
  * independently (and in parallel) and the same seed gives the same bytes. */
object Gen {
  /** Stream of independent generators derived from (seed, stream ids). */
  def rng(seed: Long, ids: Long*): SplittableRandom =
    new SplittableRandom(ids.foldLeft(seed * 0x9E3779B97F4A7C15L)((h, i) =>
      java.lang.Long.rotateLeft(h ^ (i * 0xC2B2AE3D27D4EB4FL), 29) * 0x165667B19E3779F9L))

  /** Zipf(s) over ranks 0 until n, drawn by inverse CDF. */
  final class Zipf(n: Int, s: Double) {
    private val cdf: Array[Double] = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1.0, s))
      val tot = w.sum
      var acc = 0.0
      w.map { x => acc += x / tot; acc }
    }
    def draw(r: SplittableRandom): Int = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      math.min(if (i >= 0) i else -i - 1, n - 1)
    }
  }

  // ---------------------------------------------------------------------
  // Kafka event records (serve corpus, tiered_sql store)
  // ---------------------------------------------------------------------

  val EventTypes: Array[String] = Array("view", "click", "scroll", "search", "add_to_cart",
    "purchase", "login", "logout", "share", "comment", "error", "signup")
  private val eventWeights = new Zipf(EventTypes.length, 0.9)
  private val pages = Array("home", "product", "cart", "checkout", "search", "account", "help", "blog")
  val Users = 20000
  private val users = new Zipf(Users, 1.1)
  /** Records per producer batch. */
  val BatchRecords = 200
  /** Timestamp step between consecutive records, ms. */
  val RecordStepMs = 37L
  val BaseTimestamp = 1704067200000L // 2024-01-01T00:00:00Z

  /** One uncompressed producer batch of JSON-like event records; record
    * offsets and timestamps are a function of `firstOffset` only, so they
    * are monotone across batches and segments. */
  def eventBatch(seed: Long, firstOffset: Long): Array[Byte] = {
    val r = rng(seed, 1, firstOffset)
    val recs = (0 until BatchRecords).map { i =>
      val u = users.draw(r)
      val ev = EventTypes(eventWeights.draw(r))
      val sb = new java.lang.StringBuilder(200)
      sb.append("{\"user_id\":").append(u).append(",\"event\":\"").append(ev)
        .append("\",\"session\":\"").append(Integer.toHexString(r.nextInt() | 0x10000000))
        .append("\",\"page\":\"/").append(pages(r.nextInt(pages.length))).append('/')
        .append(r.nextInt(5000)).append("\",\"ms\":").append(r.nextInt(3000))
        .append(",\"ok\":").append(r.nextInt(20) != 0)
        .append(",\"amount\":").append(r.nextInt(100000) / 100.0)
        .append(",\"props\":{\"k\":").append(r.nextInt(100)).append(",\"ab\":\"")
        .append(if (r.nextBoolean()) "a" else "b").append("\"}}")
      (("u" + u).getBytes("UTF-8"), sb.toString.getBytes("UTF-8"), Seq.empty[KafkaWireCodec.Header])
    }
    KafkaWireCodec.writeBatch(KafkaWireCodec.buildBatch(firstOffset,
      BaseTimestamp + firstOffset * RecordStepMs, recs, producerId = 1000L,
      producerEpoch = 0, baseSequence = (firstOffset % Int.MaxValue).toInt,
      timestampDeltaPerRecord = RecordStepMs))
  }

  /** Segment `idx` of a log whose segments hold `batches` batches each:
    * the concatenated wire bytes. */
  def eventSegment(seed: Long, idx: Int, batches: Int): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(batches * BatchRecords * 230)
    (0 until batches).foreach { b =>
      out.write(eventBatch(seed, (idx.toLong * batches + b) * BatchRecords))
    }
    out.toByteArray
  }

  def segmentBaseOffset(idx: Int, batches: Int): Long = idx.toLong * batches * BatchRecords

  // ---------------------------------------------------------------------
  // Curation tables: the engine's ten-table corpus at scale factor `sf`
  // ---------------------------------------------------------------------

  import scala.jdk.CollectionConverters._
  import org.apache.spark.sql.{Row, SparkSession}
  import org.apache.spark.sql.types._

  private val Vocab = Array("the", "a", "data", "table", "row", "column", "key", "value", "scan",
    "join", "hash", "sort", "merge", "filter", "group", "agg", "window", "stream", "batch",
    "query", "spark", "order", "customer", "part", "line", "vector", "big", "small", "fast", "slow")
  private val Langs = Array("en", "en", "en", "zh", "es", "de", "fr")
  private val Segments = Array("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val Priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val Colors = Array("red", "blue", "green", "black", "white", "small", "large", "shiny")
  private val Nouns = Array("widget", "anvil", "ring", "bolt", "gear", "pipe", "valve", "spring")
  private val PartTypes = Array("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
  private val Regions = Array("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  private val CurationEvents = Array("click", "error", "purchase", "signup", "view")
  private val Day = 86400L * 1000000L
  private val Y1995 = 788918400L * 1000000L // 1995-01-01T00:00:00Z, micros
  private val Y2024 = 1704067200L * 1000000L

  /** Zone-less timestamps (parquet isAdjustedToUTC=false), as the
    * queries' oracle SQL expects. */
  private def ts(micros: Long) = java.time.LocalDateTime.ofEpochSecond(
    micros / 1000000L, ((micros % 1000000L) * 1000L).toInt, java.time.ZoneOffset.UTC)
  private def cents(r: SplittableRandom, lo: Int, hi: Int): Double =
    (lo * 100L + r.nextLong((hi - lo) * 100L + 1)) / 100.0

  final case class Table(name: String, schema: StructType, rows: Seq[Row])

  private def f(n: String, t: DataType) = StructField(n, t, nullable = true)

  /** The corpus at `sf` (1.0 = 6M lineitems): same tables, columns and
    * value domains the queries are written against. */
  def curationTables(seed: Long, sf: Double): Seq[Table] = {
    def n(base: Double) = math.max(1, (base * sf).round.toInt)
    val nCust = n(150000); val nOrd = n(1500000); val nLine = n(6000000)
    val nPart = n(200000); val nSupp = n(10000); val nEv = n(1000000)
    val nDoc = n(50000); val nEmb = math.max(200, n(20000))
    val nUsers = math.max(50, n(15000))
    def r(t: Int) = rng(seed, 100 + t)

    val region = Table("region", StructType(Seq(f("r_regionkey", IntegerType), f("r_name", StringType))),
      Regions.indices.map(i => Row(i, Regions(i))))
    val nation = Table("nation", StructType(Seq(f("n_nationkey", IntegerType), f("n_name", StringType),
      f("n_regionkey", IntegerType))), (0 until 25).map(i => Row(i, s"NATION_$i", i % 5)))
    val customer = { val g = r(1); Table("customer", StructType(Seq(f("c_custkey", LongType),
      f("c_name", StringType), f("c_nationkey", IntegerType), f("c_acctbal", DoubleType),
      f("c_mktsegment", StringType))), (0 until nCust).map(i => Row(i.toLong, f"Customer#$i%09d",
      g.nextInt(25), cents(g, -999, 9999), Segments(g.nextInt(5))))) }
    val supplier = { val g = r(2); Table("supplier", StructType(Seq(f("s_suppkey", LongType),
      f("s_name", StringType), f("s_nationkey", IntegerType), f("s_acctbal", DoubleType))),
      (0 until nSupp).map(i => Row(i.toLong, f"Supplier#$i%09d", g.nextInt(25), cents(g, -999, 9999)))) }
    val part = { val g = r(3); Table("part", StructType(Seq(f("p_partkey", LongType),
      f("p_name", StringType), f("p_brand", StringType), f("p_type", StringType),
      f("p_size", IntegerType), f("p_retailprice", DoubleType))), (0 until nPart).map(i =>
      Row(i.toLong, s"${Colors(g.nextInt(8))} ${Nouns(g.nextInt(8))}", s"Brand#${1 + g.nextInt(25)}",
        PartTypes(g.nextInt(6)), 1 + g.nextInt(50), 900.0 + (i % 1000) / 10.0))) }
    val orders = { val g = r(4); Table("orders", StructType(Seq(f("o_orderkey", LongType),
      f("o_custkey", LongType), f("o_orderstatus", StringType), f("o_totalprice", DoubleType),
      f("o_orderdate", TimestampNTZType), f("o_orderpriority", StringType))), (0 until nOrd).map(i =>
      Row(i.toLong, g.nextInt(nCust).toLong, Seq("F", "O", "P")(g.nextInt(3)), cents(g, 1000, 500000),
        ts(Y1995 + g.nextInt(2404) * Day), Priorities(g.nextInt(5))))) }
    val lineitem = { val g = r(5); Table("lineitem", StructType(Seq(f("l_orderkey", LongType),
      f("l_partkey", LongType), f("l_suppkey", LongType), f("l_linenumber", IntegerType),
      f("l_quantity", DoubleType), f("l_extendedprice", DoubleType), f("l_discount", DoubleType),
      f("l_tax", DoubleType), f("l_returnflag", StringType), f("l_linestatus", StringType),
      f("l_shipdate", TimestampNTZType))), (0 until nLine).map(_ =>
      Row(g.nextInt(nOrd).toLong, g.nextInt(nPart).toLong, g.nextInt(nSupp).toLong, 1 + g.nextInt(7),
        (1 + g.nextInt(50)).toDouble, cents(g, 900, 105000), g.nextInt(11) / 100.0, g.nextInt(9) / 100.0,
        Seq("A", "N", "R")(g.nextInt(3)), Seq("F", "O")(g.nextInt(2)),
        ts(Y1995 + (1 + g.nextInt(2498)) * Day)))) }
    val events = { val g = r(6); var t = Y2024; Table("events", StructType(Seq(f("event_id", LongType),
      f("ts", TimestampNTZType), f("user_id", LongType), f("event_type", StringType),
      f("value", DoubleType), f("props", StringType))), (0 until nEv).map { i =>
      t += 1 + g.nextLong(30L * Day / nEv * 2)
      Row(i.toLong, ts(t), g.nextInt(nUsers).toLong, CurationEvents(g.nextInt(5)),
        (math.round(-math.log(1 - g.nextDouble()) * 2000) / 100.0), s"""{"k": ${g.nextInt(100)}}""")
    }) }
    val documents = { val g = r(7); val texts = new Array[String](nDoc)
      Table("documents", StructType(Seq(f("doc_id", LongType), f("text", StringType),
        f("lang", StringType), f("source", StringType), f("n_chars", LongType))), (0 until nDoc).map { i =>
        // one in eight documents is a near-copy of an earlier one (an
        // appended "dup"), so dedup and span queries find real work
        val text =
          if (i > 10 && g.nextInt(8) == 0) texts(g.nextInt(i)) + " dup"
          else (0 until 8 + g.nextInt(82)).map(_ => Vocab(g.nextInt(Vocab.length))).mkString(" ")
        texts(i) = text
        Row(i.toLong, text, Langs(g.nextInt(Langs.length)), s"src${g.nextInt(20)}", text.length.toLong)
      }) }
    val embeddings = { val g = r(8); Table("embeddings", StructType(Seq(f("vec_id", LongType),
      f("embedding", ArrayType(FloatType, containsNull = true)), f("label", IntegerType))),
      (0 until nEmb).map { i =>
        val label = g.nextInt(10)
        Row(i.toLong, (0 until 64).map(d => (((label * 7 + d) % 13) / 13.0 + g.nextGaussian() * 0.3).toFloat),
          label)
      }) }
    Seq(region, nation, customer, supplier, part, orders, lineitem, events, documents, embeddings)
  }

  /** Writes each table as `<dir>/<name>.parquet`, one file per table. */
  def writeTables(spark: SparkSession, tables: Seq[Table], dir: String): Unit =
    tables.foreach { t =>
      spark.createDataFrame(t.rows.asJava, t.schema).coalesce(1).write.mode("overwrite").parquet(s"$dir/${t.name}.parquet")
    }
}
