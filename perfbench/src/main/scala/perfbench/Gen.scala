package perfbench

import java.time.{LocalDate, LocalDateTime}
import java.util.SplittableRandom

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded generator of the star-schema tables the repo's `Tables` loaders
  * read (lineitem, orders, customer, part, supplier, nation, region, events,
  * documents, embeddings), one single-file parquet table each, in the shape
  * and value ranges of the TPC-H-like test data the engine is developed on.
  *
  * Row counts follow the scale factor `sf` (lineitem = 6M x sf). Every value
  * is drawn in one thread from one `SplittableRandom(seed)`, so a (seed, sf)
  * pair yields the same tables on any machine.
  */
object Gen {

  final case class Sizes(lineitem: Int, orders: Int, customer: Int, part: Int,
      supplier: Int, events: Int, documents: Int, embeddings: Int) {
    def total: Long = Seq(lineitem, orders, customer, part, supplier, events,
      documents, embeddings).map(_.toLong).sum + 25 + 5
  }

  def sizes(sf: Double): Sizes = Sizes(
    lineitem = (6000000 * sf).round.toInt,
    orders = (1500000 * sf).round.toInt,
    customer = (150000 * sf).round.toInt,
    part = (200000 * sf).round.toInt,
    supplier = math.max(10, (10000 * sf).round.toInt),
    events = (1000000 * sf).round.toInt,
    documents = math.max(500, (50000 * sf).round.toInt),
    embeddings = math.max(500, (20000 * sf).round.toInt))

  private val regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  private val segments = Seq("MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE")
  private val partTypes = Seq("ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO")
  private val adjectives = Seq("blue", "hot", "small", "old", "red", "cold", "new", "large")
  private val nouns = Seq("bolt", "gear", "anvil", "ring", "widget", "rod", "plate", "gizmo")
  private val priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val eventTypes = Seq("signup", "click", "error", "purchase", "view")
  private val langs = Seq("en", "en", "en", "zh", "de", "fr", "es")
  private val vocab = Seq("join", "hash", "row", "batch", "scan", "customer", "column",
    "filter", "small", "slow", "merge", "order", "vector", "line", "data", "table", "agg",
    "value", "key", "stream", "window", "spark", "a", "group", "part", "big", "sort",
    "query", "fast", "the")

  private val firstShip = LocalDate.of(1995, 1, 2)
  private val shipDays = 2498 // through 2001-11-04
  private val firstEvent = LocalDateTime.of(2024, 1, 1, 0, 0)

  private def money(r: SplittableRandom, lo: Double, hi: Double): Double =
    math.rint((lo + r.nextDouble() * (hi - lo)) * 100) / 100

  private def pick[T](r: SplittableRandom, xs: Seq[T]): T = xs(r.nextInt(xs.size))

  /** Writes all ten tables under `dir`. */
  def write(spark: SparkSession, dir: String, sf: Double, seed: Long): Unit = {
    val n = sizes(sf)
    val r = new SplittableRandom(seed)
    def save(name: String, schema: StructType, rows: Seq[Row]): Unit =
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
        .write.mode("overwrite").parquet(s"$dir/$name.parquet")
    def f(name: String, t: DataType) = StructField(name, t)

    save("region", StructType(Seq(f("r_regionkey", IntegerType), f("r_name", StringType))),
      regions.zipWithIndex.map { case (name, i) => Row(i, name) })
    save("nation", StructType(Seq(f("n_nationkey", IntegerType), f("n_name", StringType),
      f("n_regionkey", IntegerType))),
      (0 until 25).map(i => Row(i, s"NATION_$i", i % 5)))

    val suppNation = Array.fill(n.supplier)(r.nextInt(25))
    save("supplier", StructType(Seq(f("s_suppkey", LongType), f("s_name", StringType),
      f("s_nationkey", IntegerType), f("s_acctbal", DoubleType))),
      (0 until n.supplier).map(i =>
        Row(i.toLong, f"Supplier#$i%09d", suppNation(i), money(r, -999, 9999))))

    val retail = Array.tabulate(n.part)(i => math.rint((900.0 + (i % 1000) * 0.1) * 10) / 10)
    save("part", StructType(Seq(f("p_partkey", LongType), f("p_name", StringType),
      f("p_brand", StringType), f("p_type", StringType), f("p_size", IntegerType),
      f("p_retailprice", DoubleType))),
      (0 until n.part).map(i => Row(i.toLong, s"${pick(r, adjectives)} ${pick(r, nouns)}",
        s"Brand#${1 + r.nextInt(25)}", pick(r, partTypes), 1 + r.nextInt(50), retail(i))))

    save("customer", StructType(Seq(f("c_custkey", LongType), f("c_name", StringType),
      f("c_nationkey", IntegerType), f("c_acctbal", DoubleType), f("c_mktsegment", StringType))),
      (0 until n.customer).map(i => Row(i.toLong, f"Customer#$i%09d", r.nextInt(25),
        money(r, -999, 9999), pick(r, segments))))

    save("orders", StructType(Seq(f("o_orderkey", LongType), f("o_custkey", LongType),
      f("o_orderstatus", StringType), f("o_totalprice", DoubleType),
      f("o_orderdate", TimestampNTZType), f("o_orderpriority", StringType))),
      (0 until n.orders).map(i => Row(i.toLong, r.nextInt(n.customer).toLong,
        pick(r, Seq("F", "O", "P")), money(r, 1000, 500000),
        firstShip.plusDays(r.nextInt(shipDays - 90).toLong).atStartOfDay(),
        pick(r, priorities))))

    val liRows = (0 until n.lineitem).map { _ =>
      val supp = r.nextInt(n.supplier)
      val part = r.nextInt(n.part)
      val qty = (1 + r.nextInt(50)).toDouble
      val ship = firstShip.plusDays(r.nextInt(shipDays).toLong)
      Row(r.nextInt(n.orders).toLong, part.toLong, supp.toLong, 1 + r.nextInt(7), qty,
        math.rint(qty * retail(part) * (1.0 + r.nextDouble()) * 100) / 100,
        r.nextInt(11) / 100.0, r.nextInt(9) / 100.0, pick(r, Seq("A", "N", "R")),
        pick(r, Seq("O", "F")), ship.atStartOfDay())
    }
    save("lineitem", StructType(Seq(f("l_orderkey", LongType), f("l_partkey", LongType),
      f("l_suppkey", LongType), f("l_linenumber", IntegerType), f("l_quantity", DoubleType),
      f("l_extendedprice", DoubleType), f("l_discount", DoubleType), f("l_tax", DoubleType),
      f("l_returnflag", StringType), f("l_linestatus", StringType),
      f("l_shipdate", TimestampNTZType))), liRows)

    val users = math.max(150, n.events / 60)
    var clock = firstEvent
    save("events", StructType(Seq(f("event_id", LongType), f("ts", TimestampNTZType),
      f("user_id", LongType), f("event_type", StringType), f("value", DoubleType),
      f("props", StringType))),
      (0 until n.events).map { i =>
        // mean gap spreads the stream over the 30 days of January 2024
        clock = clock.plusNanos((r.nextDouble() * 2 * 2.592e15 / n.events).toLong)
        Row(i.toLong, clock, r.nextInt(users).toLong, pick(r, eventTypes),
          money(r, 0.01, 490), s"""{"k": ${r.nextInt(100)}}""")
      })

    val texts = new Array[String](n.documents)
    save("documents", StructType(Seq(f("doc_id", LongType), f("text", StringType),
      f("lang", StringType), f("source", StringType), f("n_chars", LongType))),
      (0 until n.documents).map { i =>
        // ~5% near-duplicates of an earlier document, so the dedup paths match
        texts(i) =
          if (i > 10 && r.nextInt(20) == 0) texts(r.nextInt(i)) + " dup"
          else Seq.fill(8 + r.nextInt(80))(pick(r, vocab)).mkString(" ")
        Row(i.toLong, texts(i), pick(r, langs), s"src${r.nextInt(20)}", texts(i).length.toLong)
      })

    val dim = 64
    val centers = Array.fill(10, dim)(r.nextGaussian())
    save("embeddings", StructType(Seq(f("vec_id", LongType),
      f("embedding", ArrayType(FloatType, containsNull = false)), f("label", IntegerType))),
      (0 until n.embeddings).map { i =>
        val label = r.nextInt(10)
        val v = Array.tabulate(dim)(k => centers(label)(k) + 1.5 * r.nextGaussian())
        val norm = math.sqrt(v.map(x => x * x).sum)
        Row(i.toLong, v.map(x => (x / norm).toFloat).toSeq, label)
      })
  }
}
