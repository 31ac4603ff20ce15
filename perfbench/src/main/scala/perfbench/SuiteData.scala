package perfbench

import java.sql.Timestamp
import java.util.SplittableRandom

import org.apache.spark.sql.{Dataset, SparkSession}

/** Seeded star-schema tables in the shape the driver queries read
  * (`SparkEntry.queries` over `<dir>/<table>.parquet`), at the row counts of
  * scale factor [[Scale]]. Every row is a pure function of (seed, table,
  * row id), so the tables do not depend on partitioning.
  */
object SuiteData {
  final case class Region(r_regionkey: Int, r_name: String)
  final case class Nation(n_nationkey: Int, n_name: String, n_regionkey: Int)
  final case class Customer(c_custkey: Long, c_name: String, c_nationkey: Int,
      c_acctbal: Double, c_mktsegment: String)
  final case class Supplier(s_suppkey: Long, s_name: String, s_nationkey: Int,
      s_acctbal: Double)
  final case class Part(p_partkey: Long, p_name: String, p_brand: String,
      p_type: String, p_size: Int, p_retailprice: Double)
  final case class Order(o_orderkey: Long, o_custkey: Long,
      o_orderstatus: String, o_totalprice: Double, o_orderdate: Timestamp,
      o_orderpriority: String)
  final case class LineItem(l_orderkey: Long, l_partkey: Long,
      l_suppkey: Long, l_linenumber: Int, l_quantity: Double,
      l_extendedprice: Double, l_discount: Double, l_tax: Double,
      l_returnflag: String, l_linestatus: String, l_shipdate: Timestamp)
  final case class Event(event_id: Long, ts: Timestamp, user_id: Long,
      event_type: String, value: Double, props: String)
  final case class Document(doc_id: Long, text: String, lang: String,
      source: String, n_chars: Long)
  final case class Embedding(vec_id: Long, embedding: Array[Float], label: Int)

  /** sf0.01: lineitem 60k rows, documents 500. */
  val Scale = 0.01

  private def rows(perSf1: Long): Long = math.round(perSf1 * Scale)
  private val Customers = rows(150000)
  private val Suppliers = rows(10000)
  private val Parts = rows(200000)
  private val Orders = rows(1500000)

  val Tables: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  private val Regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  private val Segments =
    Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val Priorities =
    Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val PartWords = Seq("large", "small", "hot", "cold", "ring", "bolt",
    "nut", "gear", "pipe", "valve", "brass", "steel")
  private val PartTypes = Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "STANDARD")
  private val EventTypes = Seq("click", "error", "purchase", "signup", "view")
  private val Words = Seq("a", "agg", "batch", "big", "column", "customer",
    "data", "fast", "filter", "group", "hash", "join", "key", "line", "merge",
    "order", "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window")
  private val Langs = Seq("de", "en", "en", "en", "es", "fr", "zh")

  private val Day = 86400000L
  private val Y1995 = 788918400000L // 1995-01-01 UTC
  private val Y2024 = 1704067200000L // 2024-01-01 UTC

  private def rng(seed: Long, table: Int, id: Long) =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + table * 1000003L + id)

  private def money(r: SplittableRandom, lo: Double, hi: Double): Double =
    math.round((lo + r.nextDouble() * (hi - lo)) * 100) / 100.0

  private def pick[T](r: SplittableRandom, xs: Seq[T]): T = xs(r.nextInt(xs.length))

  /** Words of a document: near-duplicates (1 in 20) copy an earlier
    * document and mark one word, exact duplicates (1 in 500) copy one.
    */
  private def docWords(seed: Long, id: Long): Seq[String] =
    if (id % 500 == 3) docWords(seed, id - 3)
    else if (id % 20 == 7) docWords(seed, id - 7).dropRight(1) :+ "dup"
    else {
      val r = rng(seed, 9, id)
      Seq.fill(8 + r.nextInt(88))(pick(r, Words))
    }

  def write(spark: SparkSession, dir: java.nio.file.Path, seed: Long): Unit = {
    import spark.implicits._
    val parts = spark.sparkContext.defaultParallelism
    def save[T](name: String, ds: Dataset[T]): Unit =
      ds.coalesce(1).write.mode("overwrite")
        .parquet(dir.resolve(s"$name.parquet").toString)
    def gen[T: org.apache.spark.sql.Encoder](table: Int, n: Long)(
        f: (Long, SplittableRandom) => T): Dataset[T] =
      spark.range(0, n, 1, math.min(parts.toLong, math.max(1L, n / 1000)).toInt)
        .as[Long].mapPartitions(_.map(i => f(i, rng(seed, table, i))))

    save("region", gen(0, 5)((i, _) => Region(i.toInt, Regions(i.toInt))))
    save("nation", gen(1, 25)((i, _) =>
      Nation(i.toInt, s"NATION_$i", (i % 5).toInt)))
    save("customer", gen(2, Customers)((i, r) =>
      Customer(i, f"Customer#$i%09d", r.nextInt(25), money(r, -999, 9999),
        pick(r, Segments))))
    save("supplier", gen(3, Suppliers)((i, r) =>
      Supplier(i, f"Supplier#$i%09d", r.nextInt(25), money(r, -999, 9999))))
    save("part", gen(4, Parts)((i, r) =>
      Part(i, s"${pick(r, PartWords)} ${pick(r, PartWords)}",
        s"Brand#${1 + r.nextInt(25)}", pick(r, PartTypes), 1 + r.nextInt(50),
        money(r, 900, 2000))))
    save("orders", gen(5, Orders)((i, r) =>
      Order(i, r.nextInt(Customers.toInt).toLong, pick(r, Seq("F", "O", "P")),
        money(r, 1000, 500000),
        new Timestamp(Y1995 + r.nextInt(2405) * Day), pick(r, Priorities))))
    save("lineitem", gen(6, rows(6000000))((i, r) => {
      val qty = (1 + r.nextInt(50)).toDouble
      LineItem(r.nextInt(Orders.toInt).toLong, r.nextInt(Parts.toInt).toLong,
        r.nextInt(Suppliers.toInt).toLong, 1 + r.nextInt(7), qty,
        math.round(qty * money(r, 900, 2000) * 100) / 100.0,
        r.nextInt(11) / 100.0, r.nextInt(9) / 100.0,
        pick(r, Seq("A", "N", "R")), pick(r, Seq("F", "O")),
        new Timestamp(Y1995 + r.nextInt(2500) * Day))
    }))
    save("events", gen(7, rows(1000000))((i, r) =>
      Event(i, new Timestamp(Y2024 + (r.nextDouble() * 30 * Day).toLong),
        r.nextInt(1500).toLong, pick(r, EventTypes), money(r, 0, 560),
        s"""{"k": ${r.nextInt(100)}}""")))
    save("documents", gen(8, rows(50000))((i, r) => {
      val text = docWords(seed, i).mkString(" ")
      Document(i, text, pick(r, Langs), s"src${r.nextInt(20)}",
        text.length.toLong)
    }))
    save("embeddings", gen(10, math.max(500L, rows(20000)))((i, r) => {
      val v = Array.fill(64)((r.nextDouble() * 2 - 1).toFloat * 0.3f)
      Embedding(i, v, r.nextInt(10))
    }))
  }
}
