package graft.perfbench

import java.sql.Timestamp
import scala.util.Random
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, lit, translate}
import org.apache.spark.sql.types._

/** Seeded generators for every input the benchmark feeds the engine.
  *
  * The shapes follow the engine's fixture schemas (a TPC-H-like star,
  * a word-salad document corpus, 64-dim unit embeddings), so the
  * engine's own query functions run on them unchanged. Everything is
  * a pure function of the seed: the same seed yields byte-identical
  * tables. Unlike the fixture data, (l_orderkey, l_linenumber) is
  * unique, so the migration source can declare it as a primary key.
  */
object Data {

  /** Row counts of the star schema at a scale factor (sf 0.01 gives
    * ~79k rows, lineitem averaging four lines per order). */
  final case class Scale(customers: Int, suppliers: Int, parts: Int,
      orders: Int)
  def scale(sf: Double): Scale =
    Scale((150000 * sf).toInt, (10000 * sf).toInt, (200000 * sf).toInt,
      (1500000 * sf).toInt)

  final case class Table(name: String, schema: StructType, rows: Seq[Row])

  private val regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE",
    "MIDDLE EAST")
  private val segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE",
    "HOUSEHOLD", "MACHINERY")
  private val partTypes = Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO",
    "SMALL", "STANDARD")
  private val adjectives = Seq("blue", "old", "red", "small", "new", "hot",
    "large", "cold")
  private val nouns = Seq("widget", "gizmo", "ring", "gear", "bolt", "plate",
    "anvil", "rod")
  private val priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM",
    "4-NOT SPECIFIED", "5-LOW")
  private val DayMs = 86400000L
  private val FirstOrderDay = 9131L // 1995-01-01
  private val OrderDays = 2404      // through 2001-08-01

  private def money(r: Random, lo: Double, hi: Double): Double =
    math.round((lo + r.nextDouble() * (hi - lo)) * 100) / 100.0

  private def field(n: String, t: DataType, nullable: Boolean = false) =
    StructField(n, t, nullable)

  /** The seven star-schema tables, dimension tables first. */
  def star(seed: Long, s: Scale): Seq[Table] = {
    val r = new Random(seed)
    val region = Table("region", StructType(Seq(
        field("r_regionkey", IntegerType), field("r_name", StringType))),
      regions.zipWithIndex.map { case (n, i) => Row(i, n) })
    val nation = Table("nation", StructType(Seq(
        field("n_nationkey", IntegerType), field("n_name", StringType),
        field("n_regionkey", IntegerType))),
      (0 until 25).map(i => Row(i, s"NATION_$i", i % 5)))
    val customer = Table("customer", StructType(Seq(
        field("c_custkey", LongType), field("c_name", StringType),
        field("c_nationkey", IntegerType), field("c_acctbal", DoubleType),
        field("c_mktsegment", StringType))),
      (0 until s.customers).map(i => Row(i.toLong, f"Customer#$i%09d",
        r.nextInt(25), money(r, -999.99, 9999.99),
        segments(r.nextInt(segments.size)))))
    val supplier = Table("supplier", StructType(Seq(
        field("s_suppkey", LongType), field("s_name", StringType),
        field("s_nationkey", IntegerType), field("s_acctbal", DoubleType))),
      (0 until s.suppliers).map(i => Row(i.toLong, f"Supplier#$i%09d",
        r.nextInt(25), money(r, -999.99, 9999.99))))
    val retail = (0 until s.parts).map(i => 900.0 + (i % 1000) / 10.0)
    val part = Table("part", StructType(Seq(
        field("p_partkey", LongType), field("p_name", StringType),
        field("p_brand", StringType), field("p_type", StringType),
        field("p_size", IntegerType), field("p_retailprice", DoubleType))),
      (0 until s.parts).map(i => Row(i.toLong,
        adjectives(r.nextInt(adjectives.size)) + " " +
          nouns(r.nextInt(nouns.size)),
        s"Brand#${1 + r.nextInt(25)}", partTypes(r.nextInt(partTypes.size)),
        1 + r.nextInt(50), retail(i))))
    val orderRows = Seq.newBuilder[Row]
    val lineRows = Seq.newBuilder[Row]
    (0 until s.orders).foreach { o =>
      val day = FirstOrderDay + r.nextInt(OrderDays)
      orderRows += Row(o.toLong, r.nextInt(s.customers).toLong,
        Seq("F", "O", "P")(r.nextInt(3)), money(r, 1000.0, 500000.0),
        new Timestamp(day * DayMs), priorities(r.nextInt(priorities.size)))
      (1 to 1 + r.nextInt(7)).foreach { ln =>
        val pk = r.nextInt(s.parts)
        val qty = (1 + r.nextInt(50)).toDouble
        lineRows += Row(o.toLong, pk.toLong, r.nextInt(s.suppliers).toLong,
          ln, qty, math.round(qty * retail(pk) * 100) / 100.0,
          r.nextInt(11) / 100.0, r.nextInt(9) / 100.0,
          Seq("A", "N", "R")(r.nextInt(3)), Seq("F", "O")(r.nextInt(2)),
          new Timestamp((day + 1 + r.nextInt(121)) * DayMs))
      }
    }
    val orders = Table("orders", StructType(Seq(
        field("o_orderkey", LongType), field("o_custkey", LongType),
        field("o_orderstatus", StringType), field("o_totalprice", DoubleType),
        field("o_orderdate", TimestampType),
        field("o_orderpriority", StringType))), orderRows.result())
    val lineitem = Table("lineitem", StructType(Seq(
        field("l_orderkey", LongType), field("l_partkey", LongType),
        field("l_suppkey", LongType), field("l_linenumber", IntegerType),
        field("l_quantity", DoubleType), field("l_extendedprice", DoubleType),
        field("l_discount", DoubleType), field("l_tax", DoubleType),
        field("l_returnflag", StringType), field("l_linestatus", StringType),
        field("l_shipdate", TimestampType))), lineRows.result())
    Seq(region, nation, customer, supplier, part, orders, lineitem)
  }

  private val vocab = Seq("spark", "window", "merge", "table", "column",
    "vector", "stream", "value", "data", "small", "join", "filter", "big",
    "group", "hash", "customer", "sort", "order", "slow", "line", "part",
    "fast", "row", "the", "agg", "key", "query", "a", "scan", "batch")
  private val langs = Seq("en", "en", "en", "es", "zh", "de", "fr")

  /** Word-salad documents with the composition of the engine's sf0.1
    * `documents` fixture (5000 documents, measured): 10–99 words drawn
    * uniformly from the same 30-word vocabulary, so texts of fewer than
    * about 25 words fail the quality filter; one document in 20 is an
    * earlier document plus the word "dup" (a near duplicate), and exact
    * copies arise only when two of those pick the same original. Like
    * the fixture, the texts carry no PII. The fixture's funnel is
    * 5000 → 4042 → 4035 → 3850: 81% pass quality, 0.17% of those are
    * exact copies and 4.6% of the rest near duplicates. */
  def documents(seed: Long, n: Int): Table = {
    val r = new Random(seed)
    val texts = new Array[String](n)
    val rows = (0 until n).map { i =>
      val text =
        if (i > 0 && r.nextInt(20) == 0) texts(r.nextInt(i)) + " dup"
        else Seq.fill(10 + r.nextInt(90))(vocab(r.nextInt(vocab.size)))
          .mkString(" ")
      texts(i) = text
      Row(i.toLong, text, langs(r.nextInt(langs.size)), s"src${i % 20}",
        text.length.toLong)
    }
    Table("documents", StructType(Seq(field("doc_id", LongType),
      field("text", StringType), field("lang", StringType),
      field("source", StringType), field("n_chars", LongType))), rows)
  }

  /** Letters of the English stopwords the quality score counts ("the",
    * "a", "and", "of", "to"); shard permutations leave them in place. */
  private val StopLetters = "adefhnot"

  /** `shards` letter-permuted copies of a corpus (doc_id offset 1e6 per
    * shard), built like the engine's `ScaleRehearsal.docsNx`: no text is
    * shared across shards. Unlike `docsNx`, every shard is permuted and
    * the permutations fix the stopword letters, so a permuted word is a
    * stopword exactly when the original is. Every shard then scores,
    * dedups and near-dedups like the base corpus. The seed picks the
    * permutations. */
  def docShards(docs: DataFrame, seed: Long, shards: Int): DataFrame = {
    val moved = "abcdefghijklmnopqrstuvwxyz".filterNot(StopLetters.contains(_))
    val r = new Random(seed ^ 0x5eedL)
    (0 until shards).map { s =>
      docs.select((col("doc_id") + lit(s * 1000000L)).as("doc_id"),
        col("source"), col("lang"),
        translate(col("text"), moved, r.shuffle(moved.toSeq).mkString)
          .as("text"))
    }.reduce(_ unionAll _)
  }

  /** Unit vectors in 64 dimensions around `clusters` random centres. */
  def embeddings(seed: Long, n: Int, clusters: Int = 10): Table = {
    val r = new Random(seed)
    val centres = Array.fill(clusters)(unit(Array.fill(64)(r.nextGaussian())))
    val rows = (0 until n).map { i =>
      val label = r.nextInt(clusters)
      val v = unit(centres(label).map(_ + 0.05 * r.nextGaussian()))
      Row(i.toLong, v.map(_.toFloat).toSeq, label)
    }
    Table("embeddings", StructType(Seq(field("vec_id", LongType),
      field("embedding", ArrayType(FloatType, containsNull = false)),
      field("label", IntegerType))), rows)
  }

  def unit(v: Array[Double]): Array[Double] = {
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(_ / n)
  }

  def frame(spark: SparkSession, t: Table): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(t.rows, 4), t.schema)

  /** Write tables as `<dir>/<name>.parquet`, the layout `graft.Tables`
    * reads. */
  def writeParquet(spark: SparkSession, dir: String, tables: Seq[Table]): Unit =
    tables.foreach(t => frame(spark, t).write.parquet(s"$dir/${t.name}.parquet"))
}
