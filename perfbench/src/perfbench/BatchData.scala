package perfbench

import java.time.{LocalDateTime, ZoneOffset}

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded generator of the tables the batch queries read: a TPC-H-like
  * star schema (region, nation, customer, supplier, part, orders,
  * lineitem), an `events` click stream, a `documents` text corpus with
  * planted near-duplicates and an `embeddings` table of clustered
  * 64-dimensional vectors. Row counts scale with `sf` (lineitem is
  * about 6M x sf rows). Timestamps are written as TIMESTAMP_NTZ, the
  * encoding the program's table loaders normalise. */
object BatchData {
  val Tables = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  private val Words = ("key agg row scan slow fast table value part hash " +
    "merge batch spark a the line sort window join small customer query " +
    "data column order group filter big stream vector index shard plan " +
    "cache node cluster token").split(" ")
  private val Segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val Priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val Types = Seq("ECONOMY", "STANDARD", "LARGE", "PROMO", "SMALL", "MEDIUM")
  private val Adj = Seq("blue", "hot", "small", "old", "red", "new", "cold")
  private val Noun = Seq("bolt", "gear", "ring", "rod", "plate", "anvil", "widget")
  private val EventTypes = Seq("click", "signup", "error", "view", "purchase")
  private val Langs = Seq("en", "en", "en", "es", "zh", "de", "fr")

  private def cents(r: java.util.SplittableRandom, lo: Double, hi: Double): Double =
    math.round((lo + r.nextDouble() * (hi - lo)) * 100) / 100.0

  def write(spark: SparkSession, dir: String, sf: Double, seed: Long): Unit = {
    val r = new java.util.SplittableRandom(seed)
    val nCust = math.max(10, (150000 * sf).toInt)
    val nSupp = math.max(4, (10000 * sf).toInt)
    val nPart = math.max(10, (200000 * sf).toInt)
    val nOrd = math.max(10, (1500000 * sf).toInt)
    val nEvents = math.max(10, (1000000 * sf).toInt)
    val nDocs = math.max(20, (50000 * sf).toInt)
    val nVecs = math.max(20, (50000 * sf).toInt)
    val base = LocalDateTime.of(1995, 1, 1, 0, 0)

    // rows are drawn in a fixed order on this thread; the writes run
    // concurrently
    import scala.concurrent.{Await, Future, ExecutionContext}
    implicit val ec: ExecutionContext = ExecutionContext.global
    val writes = mutable.ArrayBuffer.empty[Future[Unit]]
    def save(name: String, schema: StructType, rows: Seq[Row]): Unit = writes += Future {
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
        .write.mode("overwrite").parquet(s"$dir/$name.parquet")
    }
    def f(n: String, t: DataType) = StructField(n, t)

    save("region", StructType(Seq(f("r_regionkey", IntegerType), f("r_name", StringType))),
      Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").zipWithIndex
        .map { case (n, i) => Row(i, n) })
    save("nation", StructType(Seq(f("n_nationkey", IntegerType), f("n_name", StringType),
      f("n_regionkey", IntegerType))),
      (0 until 25).map(i => Row(i, s"NATION_$i", i % 5)))
    save("customer", StructType(Seq(f("c_custkey", LongType), f("c_name", StringType),
      f("c_nationkey", IntegerType), f("c_acctbal", DoubleType), f("c_mktsegment", StringType))),
      (0 until nCust).map(i => Row(i.toLong, f"Customer#$i%09d", r.nextInt(25),
        cents(r, -999, 9999), Segments(r.nextInt(5)))))
    save("supplier", StructType(Seq(f("s_suppkey", LongType), f("s_name", StringType),
      f("s_nationkey", IntegerType), f("s_acctbal", DoubleType))),
      (0 until nSupp).map(i => Row(i.toLong, f"Supplier#$i%09d", r.nextInt(25),
        cents(r, -999, 9999))))
    save("part", StructType(Seq(f("p_partkey", LongType), f("p_name", StringType),
      f("p_brand", StringType), f("p_type", StringType), f("p_size", IntegerType),
      f("p_retailprice", DoubleType))),
      (0 until nPart).map(i => Row(i.toLong, s"${Adj(r.nextInt(7))} ${Noun(r.nextInt(7))}",
        s"Brand#${1 + r.nextInt(25)}", Types(r.nextInt(6)), 1 + r.nextInt(50),
        900.0 + (i % 1000) / 10.0)))
    val orderDates = new Array[LocalDateTime](nOrd)
    save("orders", StructType(Seq(f("o_orderkey", LongType), f("o_custkey", LongType),
      f("o_orderstatus", StringType), f("o_totalprice", DoubleType),
      f("o_orderdate", TimestampNTZType), f("o_orderpriority", StringType))),
      (0 until nOrd).map { i =>
        orderDates(i) = base.plusDays(r.nextInt(2400).toLong)
        Row(i.toLong, r.nextInt(nCust).toLong, Seq("P", "O", "F")(r.nextInt(3)),
          cents(r, 1000, 500000), orderDates(i), Priorities(r.nextInt(5)))
      })
    val li = scala.collection.mutable.ArrayBuffer.empty[Row]
    (0 until nOrd).foreach { o =>
      val lines = 1 + r.nextInt(7)
      (1 to lines).foreach { ln =>
        val qty = (1 + r.nextInt(50)).toDouble
        li += Row(o.toLong, r.nextInt(nPart).toLong, r.nextInt(nSupp).toLong, ln, qty,
          cents(r, 900, 105000), r.nextInt(11) / 100.0, r.nextInt(9) / 100.0,
          Seq("A", "N", "R")(r.nextInt(3)), Seq("O", "F")(r.nextInt(2)),
          orderDates(o).plusDays(1L + r.nextInt(120)))
      }
    }
    save("lineitem", StructType(Seq(f("l_orderkey", LongType), f("l_partkey", LongType),
      f("l_suppkey", LongType), f("l_linenumber", IntegerType), f("l_quantity", DoubleType),
      f("l_extendedprice", DoubleType), f("l_discount", DoubleType), f("l_tax", DoubleType),
      f("l_returnflag", StringType), f("l_linestatus", StringType),
      f("l_shipdate", TimestampNTZType))), li.toSeq)
    val evBase = LocalDateTime.of(2024, 1, 1, 0, 0).toEpochSecond(ZoneOffset.UTC) * 1000000L
    var evUs = evBase
    save("events", StructType(Seq(f("event_id", LongType), f("ts", TimestampNTZType),
      f("user_id", LongType), f("event_type", StringType), f("value", DoubleType),
      f("props", StringType))),
      (0 until nEvents).map { i =>
        evUs += 1 + r.nextLong(2L * 30 * 86400L * 1000000L / nEvents)
        val ts = LocalDateTime.ofEpochSecond(evUs / 1000000L, ((evUs % 1000000L) * 1000).toInt,
          ZoneOffset.UTC)
        Row(i.toLong, ts, r.nextInt(150).toLong, EventTypes(r.nextInt(5)),
          cents(r, 0.01, 490), s"""{"k": ${r.nextInt(100)}}""")
      })
    // about one document in six is a near-duplicate of an earlier one
    // (a few words replaced), so the dedup and clustering queries have
    // real clusters to find
    val texts = new Array[Array[String]](nDocs)
    save("documents", StructType(Seq(f("doc_id", LongType), f("text", StringType),
      f("lang", StringType), f("source", StringType), f("n_chars", LongType))),
      (0 until nDocs).map { i =>
        texts(i) =
          if (i > 0 && r.nextInt(6) == 0) {
            val t = texts(r.nextInt(i)).clone()
            (0 until 1 + r.nextInt(3)).foreach(_ => t(r.nextInt(t.length)) = Words(r.nextInt(Words.length)))
            t
          } else Array.fill(8 + r.nextInt(70))(Words(r.nextInt(Words.length)))
        val text = texts(i).mkString(" ")
        Row(i.toLong, text, Langs(r.nextInt(Langs.size)), s"src${i % 20}", text.length.toLong)
      })
    val centroids = Array.fill(10, 64)(r.nextDouble() * 2 - 1)
    save("embeddings", StructType(Seq(f("vec_id", LongType),
      f("embedding", ArrayType(FloatType)), f("label", IntegerType))),
      (0 until nVecs).map { i =>
        val label = r.nextInt(10)
        val v = Array.tabulate(64)(d => centroids(label)(d) * 0.3 + (r.nextDouble() * 2 - 1) * 0.2)
        val n = math.sqrt(v.map(x => x * x).sum)
        Row(i.toLong, v.map(x => (x / n).toFloat).toSeq, label)
      })
    writes.foreach(Await.result(_, scala.concurrent.duration.Duration.Inf))
  }
}
