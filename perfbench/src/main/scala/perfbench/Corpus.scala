package perfbench

import java.time.LocalDateTime
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** The operator queries' input tables (the TPC-H-like star schema plus
  * `events`, `documents` and `embeddings`), at the row counts and value
  * domains of the smallest scale the queries are checked at (sf0.001).
  *
  * Table CONTENTS are a fixed function of `ContentSeed`, so one set of
  * recorded goldens holds for every run; the run's `--seed` only permutes
  * the row order each table is written in.
  */
object Corpus {
  import Rng._

  val ContentSeed = 42L

  val Orders = 1500
  val Lineitems = 6000
  val Customers = 150
  val Suppliers = 10
  val Parts = 200
  val Events = 1000
  val Documents = 500
  val Embeddings = 500
  val Dim = 64

  private def r(table: Int, key: Long, slot: Long): Long =
    at(ContentSeed + table, key, slot)
  private def pick[T](xs: IndexedSeq[T], x: Long): T = xs(below(x, xs.length).toInt)
  private def cents(x: Long, lo: Double, hi: Double): Double =
    math.round((lo + unit(x) * (hi - lo)) * 100) / 100.0

  private val Regions = IndexedSeq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  private val Segments = IndexedSeq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val Adjectives = IndexedSeq("blue", "cold", "large", "new", "old", "small")
  private val Nouns = IndexedSeq("anvil", "bolt", "gizmo", "plate", "ring", "rod", "widget")
  private val PartTypes = IndexedSeq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
  private val Statuses = IndexedSeq("F", "O", "P")
  private val Priorities = IndexedSeq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val EventTypes = IndexedSeq("click", "error", "purchase", "signup", "view")
  private val Langs = IndexedSeq("en", "en", "en", "de", "es", "fr", "zh")
  private val Words = IndexedSeq("a", "agg", "batch", "big", "column", "customer", "data",
    "fast", "filter", "group", "hash", "join", "key", "line", "merge", "order", "part",
    "query", "row", "scan", "slow", "small", "sort", "spark", "stream", "table", "the",
    "value", "vector", "window")

  private val Epoch1995 = LocalDateTime.of(1995, 1, 1, 0, 0)
  private val Epoch2024 = LocalDateTime.of(2024, 1, 1, 0, 0)

  def orderDate(o: Long): LocalDateTime = Epoch1995.plusDays(below(r(6, o, 4), 2404))

  private def docText(d: Long): String = {
    // about one document in sixteen is a near-duplicate of an earlier one
    if (d > 0 && below(r(9, d, 0), 16) == 0) docText(below(r(9, d, 1), d)) + " dup"
    else {
      val n = 5 + below(r(9, d, 2), 86).toInt
      (0 until n).map(k => pick(Words, r(9, d, 10L + k))).mkString(" ")
    }
  }

  private def embedding(v: Long, label: Int): Seq[Float] = {
    val raw = (0 until Dim).map { k =>
      val centre = unit(r(10, 1000L + label, k)) - 0.5
      centre + 0.35 * (unit(r(10, v, 10L + k)) - 0.5)
    }
    val norm = math.sqrt(raw.map(x => x * x).sum)
    raw.map(x => (x / norm).toFloat)
  }

  private def f(name: String, dt: DataType) = StructField(name, dt)

  /** (table name, schema, rows in key order). */
  def tables: Seq[(String, StructType, IndexedSeq[Row])] = Seq(
    ("region", StructType(Seq(f("r_regionkey", IntegerType), f("r_name", StringType))),
      Regions.indices.map(i => Row(i, Regions(i)))),
    ("nation", StructType(Seq(f("n_nationkey", IntegerType), f("n_name", StringType),
      f("n_regionkey", IntegerType))),
      (0 until 25).map(i => Row(i, s"NATION_$i", i % 5))),
    ("customer", StructType(Seq(f("c_custkey", LongType), f("c_name", StringType),
      f("c_nationkey", IntegerType), f("c_acctbal", DoubleType), f("c_mktsegment", StringType))),
      (0L until Customers).map(c => Row(c, f"Customer#$c%09d",
        below(r(3, c, 0), 25).toInt, cents(r(3, c, 1), -999.99, 9999.99),
        pick(Segments, r(3, c, 2))))),
    ("supplier", StructType(Seq(f("s_suppkey", LongType), f("s_name", StringType),
      f("s_nationkey", IntegerType), f("s_acctbal", DoubleType))),
      (0L until Suppliers).map(s => Row(s, f"Supplier#$s%09d",
        below(r(4, s, 0), 25).toInt, cents(r(4, s, 1), -999.99, 9999.99)))),
    ("part", StructType(Seq(f("p_partkey", LongType), f("p_name", StringType),
      f("p_brand", StringType), f("p_type", StringType), f("p_size", IntegerType),
      f("p_retailprice", DoubleType))),
      (0L until Parts).map(p => Row(p,
        pick(Adjectives, r(5, p, 0)) + " " + pick(Nouns, r(5, p, 1)),
        s"Brand#${1 + below(r(5, p, 2), 25)}", pick(PartTypes, r(5, p, 3)),
        1 + below(r(5, p, 4), 50).toInt, math.round(9000 + p % 200) / 10.0))),
    ("orders", StructType(Seq(f("o_orderkey", LongType), f("o_custkey", LongType),
      f("o_orderstatus", StringType), f("o_totalprice", DoubleType),
      f("o_orderdate", TimestampNTZType), f("o_orderpriority", StringType))),
      (0L until Orders).map(o => Row(o, below(r(6, o, 0), Customers),
        pick(Statuses, r(6, o, 1)), cents(r(6, o, 2), 1000, 500000), orderDate(o),
        pick(Priorities, r(6, o, 3))))),
    ("lineitem", StructType(Seq(f("l_orderkey", LongType), f("l_partkey", LongType),
      f("l_suppkey", LongType), f("l_linenumber", IntegerType), f("l_quantity", DoubleType),
      f("l_extendedprice", DoubleType), f("l_discount", DoubleType), f("l_tax", DoubleType),
      f("l_returnflag", StringType), f("l_linestatus", StringType),
      f("l_shipdate", TimestampNTZType))),
      (0L until Lineitems).map { l =>
        val o = below(r(7, l, 0), Orders)
        val qty = (1 + below(r(7, l, 3), 50)).toDouble
        Row(o, below(r(7, l, 1), Parts), below(r(7, l, 2), Suppliers),
          1 + below(r(7, l, 4), 7).toInt, qty, cents(r(7, l, 5), 900 * qty, 2100 * qty),
          below(r(7, l, 6), 11) / 100.0, below(r(7, l, 7), 9) / 100.0,
          pick(IndexedSeq("A", "N", "R"), r(7, l, 8)), pick(IndexedSeq("F", "O"), r(7, l, 9)),
          orderDate(o).plusDays(1 + below(r(7, l, 10), 121)))
      }),
    ("events", StructType(Seq(f("event_id", LongType), f("ts", TimestampNTZType),
      f("user_id", LongType), f("event_type", StringType), f("value", DoubleType),
      f("props", StringType))), {
      var micros = 0L
      (0L until Events).map { e =>
        micros += below(r(8, e, 0), 5184000000L) // mean gap 43 min
        Row(e, Epoch2024.plusNanos(micros * 1000), below(r(8, e, 1), 15),
          pick(EventTypes, r(8, e, 2)), cents(r(8, e, 3), 0, 330),
          s"""{"k": ${below(r(8, e, 4), 100)}}""")
      }
    }),
    ("documents", StructType(Seq(f("doc_id", LongType), f("text", StringType),
      f("lang", StringType), f("source", StringType), f("n_chars", LongType))),
      (0L until Documents).map { d =>
        val t = docText(d)
        Row(d, t, pick(Langs, r(9, d, 3)), s"src${d % 20}", t.length.toLong)
      }),
    ("embeddings", StructType(Seq(f("vec_id", LongType),
      f("embedding", ArrayType(FloatType, containsNull = true)), f("label", IntegerType))),
      (0L until Embeddings).map { v =>
        val label = below(r(10, v, 0), 10).toInt
        Row(v, embedding(v, label), label)
      }))

  /** A table's rows in the order the run `seed` writes them. */
  def order(name: String, rows: IndexedSeq[Row], seed: Long): IndexedSeq[Row] =
    rows.indices.sortBy(i => at(seed, name.hashCode.toLong, i.toLong)).map(rows)

  /** Writes every table as parquet under `dir`, one file each. */
  def write(spark: SparkSession, dir: String, seed: Long): Unit =
    tables.foreach { case (name, schema, rows) =>
      spark.createDataFrame(spark.sparkContext.parallelize(order(name, rows, seed), 1), schema)
        .write.parquet(s"$dir/$name.parquet")
    }
}
