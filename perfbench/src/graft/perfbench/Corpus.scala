package graft.perfbench

import java.time.LocalDateTime
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded generator for a corpus shaped like the repository's test corpus
  * (TESTDATA.md): the same ten tables, column names and Spark types, with
  * row counts scaled by `sf` the same way (lineitem = 6M × sf, ...).
  *
  * Every value is a pure function of (seed, table, row index, column), so a
  * table can be produced in parallel by Spark (parquet inputs) or row by row
  * on the driver (JDBC inputs) and the two agree, and the same seed always
  * gives the same corpus.
  */
object Corpus {

  val tables: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  private val ntz = TimestampNTZType
  val schemas: Map[String, StructType] = Map(
    "region" -> st("r_regionkey" -> IntegerType, "r_name" -> StringType),
    "nation" -> st("n_nationkey" -> IntegerType, "n_name" -> StringType,
      "n_regionkey" -> IntegerType),
    "customer" -> st("c_custkey" -> LongType, "c_name" -> StringType,
      "c_nationkey" -> IntegerType, "c_acctbal" -> DoubleType,
      "c_mktsegment" -> StringType),
    "supplier" -> st("s_suppkey" -> LongType, "s_name" -> StringType,
      "s_nationkey" -> IntegerType, "s_acctbal" -> DoubleType),
    "part" -> st("p_partkey" -> LongType, "p_name" -> StringType,
      "p_brand" -> StringType, "p_type" -> StringType, "p_size" -> IntegerType,
      "p_retailprice" -> DoubleType),
    "orders" -> st("o_orderkey" -> LongType, "o_custkey" -> LongType,
      "o_orderstatus" -> StringType, "o_totalprice" -> DoubleType,
      "o_orderdate" -> ntz, "o_orderpriority" -> StringType),
    "lineitem" -> st("l_orderkey" -> LongType, "l_partkey" -> LongType,
      "l_suppkey" -> LongType, "l_linenumber" -> IntegerType,
      "l_quantity" -> DoubleType, "l_extendedprice" -> DoubleType,
      "l_discount" -> DoubleType, "l_tax" -> DoubleType,
      "l_returnflag" -> StringType, "l_linestatus" -> StringType,
      "l_shipdate" -> ntz),
    "events" -> st("event_id" -> LongType, "ts" -> ntz, "user_id" -> LongType,
      "event_type" -> StringType, "value" -> DoubleType, "props" -> StringType),
    "documents" -> st("doc_id" -> LongType, "text" -> StringType,
      "lang" -> StringType, "source" -> StringType, "n_chars" -> LongType),
    "embeddings" -> st("vec_id" -> LongType,
      "embedding" -> ArrayType(FloatType, containsNull = true),
      "label" -> IntegerType))

  private def st(fs: (String, DataType)*): StructType =
    StructType(fs.map { case (n, t) => StructField(n, t, nullable = true) })

  /** Row counts at scale factor `sf`, as in the test corpus. */
  def rows(table: String, sf: Double): Long = {
    def n(perSf: Double, min: Long = 1L) = math.max(min, math.round(perSf * sf))
    table match {
      case "region" => 5
      case "nation" => 25
      case "customer" => n(150000)
      case "supplier" => n(10000)
      case "part" => n(200000)
      case "orders" => n(1500000)
      case "lineitem" => n(6000000)
      case "events" => n(1000000)
      case "documents" => n(50000, 500)
      case "embeddings" => n(20000, 500)
    }
  }

  // ------------------------------------------------------------ randomness

  /** SplitMix64 finaliser: a strong 64-bit mix of one long. */
  def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  final class Rng(seed: Long, table: String, i: Long) {
    private val base = mix(mix(seed) ^ table.hashCode.toLong * 0x2545F4914F6CDD1DL ^ mix(i))
    def bits(col: Int): Long = mix(base + col * 0x632BE59BD9B4E019L)
    def int(col: Int, n: Int): Int = java.lang.Long.remainderUnsigned(bits(col), n.toLong).toInt
    def long(col: Int, n: Long): Long = java.lang.Long.remainderUnsigned(bits(col), n)
    def unit(col: Int): Double = (bits(col) >>> 11) * (1.0 / (1L << 53))
    def cents(col: Int, lo: Double, hi: Double): Double =
      math.round((lo + unit(col) * (hi - lo)) * 100) / 100.0
  }

  private val regions = Array("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  private val segments = Array("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val adjectives = Array("small", "large", "red", "blue", "new", "old", "hot", "cold")
  private val nouns = Array("ring", "widget", "gizmo", "plate", "gear", "rod", "anvil", "bolt")
  private val partTypes = Array("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
  private val statuses = Array("F", "O", "P")
  private val returnFlags = Array("A", "N", "R")
  private val lineStatuses = Array("F", "O")
  private val priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val eventTypes = Array("view", "view", "view", "click", "click", "purchase", "signup", "error")
  private val langs = Array("en", "en", "de", "es", "fr", "zh")
  private val vocab = Array("a", "agg", "batch", "big", "column", "customer", "data",
    "fast", "filter", "group", "hash", "join", "key", "line", "merge", "order", "part",
    "query", "row", "scan", "slow", "small", "sort", "spark", "stream", "table", "the",
    "value", "vector", "window")
  private val day0 = LocalDateTime.of(1995, 1, 1, 0, 0)
  private val event0 = LocalDateTime.of(2024, 1, 1, 0, 0)

  private def docText(seed: Long, i: Long): String = {
    val r = new Rng(seed, "documents.text", i)
    val n = 10 + r.int(0, 91)
    (0 until n).map(k => vocab(r.int(k + 1, vocab.length))).mkString(" ")
  }

  /** Row `i` of `table`. Foreign keys stay inside the scaled key ranges. */
  def row(seed: Long, table: String, sf: Double, i: Long): Row = {
    val r = new Rng(seed, table, i)
    table match {
      case "region" => Row(i.toInt, regions(i.toInt))
      case "nation" => Row(i.toInt, s"NATION_$i", (i % 5).toInt)
      case "customer" =>
        Row(i, f"Customer#$i%09d", r.int(0, 25), r.cents(1, -999.99, 9999.99),
          segments(r.int(2, segments.length)))
      case "supplier" =>
        Row(i, f"Supplier#$i%09d", r.int(0, 25), r.cents(1, -999.99, 9999.99))
      case "part" =>
        Row(i, adjectives(r.int(0, 8)) + " " + nouns(r.int(1, 8)),
          s"Brand#${1 + r.int(2, 25)}", partTypes(r.int(3, partTypes.length)),
          1 + r.int(4, 50), 900.0 + (i % 1000) / 10.0)
      case "orders" =>
        Row(i, r.long(0, rows("customer", sf)), statuses(r.int(1, 3)),
          r.cents(2, 1000.0, 500000.0), day0.plusDays(r.int(3, 2405)),
          priorities(r.int(4, priorities.length)))
      case "lineitem" =>
        Row(r.long(0, rows("orders", sf)), r.long(1, rows("part", sf)),
          r.long(2, rows("supplier", sf)), 1 + r.int(3, 7), (1 + r.int(4, 50)).toDouble,
          r.cents(5, 900.0, 105000.0), r.int(6, 11) / 100.0, r.int(7, 9) / 100.0,
          returnFlags(r.int(8, 3)), lineStatuses(r.int(9, 2)),
          day0.plusDays(1 + r.int(10, 2500)))
      case "events" =>
        val n = rows("events", sf)
        val span = 30L * 86400L * 1000000L
        val micros = i * (span / n) + r.long(0, math.max(1L, span / n))
        val value = math.min(490.0, math.max(0.01,
          math.round(-math.log(1.0 - r.unit(3)) * 5000) / 100.0))
        Row(i, event0.plusNanos(micros * 1000L), r.long(1, math.max(150L, rows("customer", sf) / 10)),
          eventTypes(r.int(2, eventTypes.length)), value, s"""{"k": ${r.int(4, 100)}}""")
      case "documents" =>
        // one document in ten repeats an earlier one exactly and one in ten
        // is a one-word edit of another, so the dedup queries find pairs
        val text = i % 10 match {
          case 9 => docText(seed, i - 9)
          case 8 => docText(seed, i - 7).split(" ").updated(0, "dup").mkString(" ")
          case _ => docText(seed, i)
        }
        Row(i, text, langs(r.int(0, langs.length)), s"src${r.int(1, 20)}",
          text.length.toLong)
      case "embeddings" =>
        val label = r.int(0, 10)
        val centre = new Rng(seed, "embeddings.centre", label)
        val v = Array.tabulate(64) { d =>
          val noise = (0 until 4).map(k => r.unit(8 + d * 4 + k)).sum - 2.0
          (centre.unit(d) - 0.5) * 2.0 + noise * 0.6
        }
        val norm = math.sqrt(v.map(x => x * x).sum)
        Row(i, v.map(x => java.lang.Float.valueOf((x / norm).toFloat)).toSeq, label)
    }
  }

  /** Write all ten tables as one parquet file each under `dir`, the layout
    * `graft.sources.Tables.load` reads. */
  def writeParquet(spark: SparkSession, seed: Long, sf: Double, dir: String,
                   only: Seq[String] = tables): Unit =
    only.foreach { t =>
      val n = rows(t, sf)
      val parts = math.max(1, math.min(spark.sparkContext.defaultParallelism,
        (n / 20000L).toInt))
      val rdd = spark.sparkContext.range(0L, n, 1L, parts)
        .map(i => row(seed, t, sf, i))
      spark.createDataFrame(rdd, schemas(t)).coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/$t.parquet")
    }
}
