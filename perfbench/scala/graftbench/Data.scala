package graftbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import java.time.LocalDate

/** Seeded input generators. The same seed gives the same rows; the
  * shapes follow the sf0.1 tables the repo's gates run on (TPC-H-like
  * orders/lineitem, a small-vocabulary document corpus with 64-dim
  * embeddings, and a click-stream event table). */
object Data {
  private val Priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

  /** Orders and lineitems for every day in [from, to]: 62 orders and
    * 245 lineitems a day, whatever the seed (the seed draws the values).
    * Lineitems ship on the order day or the day after. */
  def ordersAndLineitem(spark: SparkSession, seed: Long, from: LocalDate,
                        to: LocalDate): (DataFrame, DataFrame) = {
    val rnd = new java.util.SplittableRandom(seed)
    val orders = Seq.newBuilder[Row]
    val lines = Seq.newBuilder[Row]
    var key = 1L
    var day = from
    while (!day.isAfter(to)) {
      (0 until 62).foreach { o =>
        val nLines = 1 + o % 7
        var total = 0.0
        (1 to nLines).foreach { ln =>
          val qty = 1 + rnd.nextInt(50)
          val price = math.round(qty * (900 + rnd.nextInt(100000) / 100.0) * 100) / 100.0
          val disc = rnd.nextInt(11) / 100.0
          val ship = if (rnd.nextInt(4) == 0) day.plusDays(1) else day
          total += price
          lines += Row(key, 1L + rnd.nextInt(20000), 1L + rnd.nextInt(1000), ln, qty.toDouble,
            price, disc, rnd.nextInt(9) / 100.0, "ARN".charAt(rnd.nextInt(3)).toString,
            if (rnd.nextBoolean()) "O" else "F", java.sql.Date.valueOf(ship))
        }
        orders += Row(key, 1L + rnd.nextInt(15000), "OFP".charAt(rnd.nextInt(3)).toString,
          math.round(total * 100) / 100.0, java.sql.Date.valueOf(day),
          Priorities(rnd.nextInt(Priorities.length)))
        key += 1
      }
      day = day.plusDays(1)
    }
    val oSchema = StructType(Seq(
      StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
      StructField("o_orderstatus", StringType), StructField("o_totalprice", DoubleType),
      StructField("o_orderdate", DateType), StructField("o_orderpriority", StringType)))
    val lSchema = StructType(Seq(
      StructField("l_orderkey", LongType), StructField("l_partkey", LongType),
      StructField("l_suppkey", LongType), StructField("l_linenumber", IntegerType),
      StructField("l_quantity", DoubleType), StructField("l_extendedprice", DoubleType),
      StructField("l_discount", DoubleType), StructField("l_tax", DoubleType),
      StructField("l_returnflag", StringType), StructField("l_linestatus", StringType),
      StructField("l_shipdate", DateType)))
    (spark.createDataFrame(java.util.Arrays.asList(orders.result(): _*), oSchema),
      spark.createDataFrame(java.util.Arrays.asList(lines.result(): _*), lSchema))
  }

  private val Vocab = Array("batch", "part", "spark", "line", "column", "order", "small", "sort",
    "fast", "value", "scan", "hash", "slow", "group", "agg", "filter", "query", "big", "key",
    "window", "customer", "stream", "table", "join", "data", "vector", "merge", "index", "shard",
    "page", "cache", "plan", "row", "file", "node", "task")
  private val Stop = Map(
    "en" -> Array("the", "and", "of", "to", "is", "with", "for", "a"),
    "de" -> Array("der", "die", "und", "ist", "mit", "ein"),
    "fr" -> Array("le", "la", "les", "et", "est", "pour"),
    "es" -> Array("el", "los", "las", "con", "para", "por"),
    "zh" -> Array("数据", "表"))
  private val Langs = Array("en", "en", "en", "de", "fr", "es", "zh")

  /** `n` documents (doc_id, text, lang, source, n_chars). Every 500th
    * doc repeats its predecessor's text (exact duplicates); every 50th
    * doc is its predecessor with the last token replaced (a near
    * duplicate, 3-shingle jaccard well above 0.8). Other docs are
    * independent draws, so their pairwise jaccard stays far below it. */
  def documents(spark: SparkSession, seed: Long, n: Int): DataFrame = {
    val rnd = new java.util.SplittableRandom(seed ^ 0x5DEECE66DL)
    val texts = new Array[String](n)
    val rows = (0 until n).map { i =>
      val lang = Langs(rnd.nextInt(Langs.length))
      texts(i) =
        if (i > 0 && i % 500 == 0) texts(i - 1)
        else if (i > 0 && i % 50 == 0) {
          val toks = texts(i - 1).split(" ")
          toks(toks.length - 1) = Vocab(rnd.nextInt(Vocab.length)) + "x"
          toks.mkString(" ")
        } else {
          val len = 30 + rnd.nextInt(60)
          val stop = Stop(lang)
          (0 until len).map { _ =>
            if (rnd.nextInt(5) == 0) stop(rnd.nextInt(stop.length)) else Vocab(rnd.nextInt(Vocab.length))
          }.mkString(" ")
        }
      Row(i.toLong, texts(i), lang, s"src${i % 20}", texts(i).length.toLong)
    }
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }

  /** `n` gaussian 64-dim embeddings (vec_id, embedding, label); every
    * 10th vector's successor is its bit-identical twin, so semantic
    * dedup drops exactly the ids with id % 10 == 1. Independent
    * gaussian vectors in 64 dims stay far below cosine 0.9. */
  def embeddings(spark: SparkSession, seed: Long, n: Int, dim: Int = 64): DataFrame = {
    val rnd = new java.util.Random(seed ^ 0x9E3779B97F4A7C15L)
    var prev: Array[Float] = null
    val rows = (0 until n).map { i =>
      val v = if (i % 10 == 1 && prev != null) prev.clone()
        else Array.fill(dim)(rnd.nextGaussian().toFloat)
      prev = v
      Row(i.toLong, v.toSeq, i % 10)
    }
    val schema = StructType(Seq(
      StructField("vec_id", LongType), StructField("embedding", ArrayType(FloatType, containsNull = false)),
      StructField("label", IntegerType)))
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }

  private val EventTypes = Array("click", "view", "purchase", "signup", "error")

  /** Batch `k` of the event stream: `perBatch` events with ids
    * [k·perBatch, (k+1)·perBatch). The base events depend only on the
    * seed and the id within the batch; batch k is the base shifted by
    * k·perBatch ids and k days, like the sf0.1 events replicated with
    * shifted keys. */
  def eventBatch(spark: SparkSession, seed: Long, k: Int, perBatch: Long,
                 day0: LocalDate, partitions: Int): DataFrame = {
    def h(salt: Int) = pmod(xxhash64(col("id"), lit(seed), lit(salt)), lit(Long.MaxValue))
    spark.range(0, perBatch, 1, partitions)
      .select(
        (col("id") + lit(k * perBatch)).as("event_id"),
        timestamp_seconds(lit(day0.plusDays(k).toEpochDay * 86400L) + col("id") * 86400L / perBatch)
          .as("ts"),
        (h(1) % 1500).as("user_id"),
        element_at(typedLit(EventTypes.toSeq), (h(2) % EventTypes.length).cast("int") + 1).as("event_type"),
        ((h(3) % 20000) / 100.0).as("value"),
        concat(lit("{\"k\": "), (h(4) % 100).cast("string"), lit("}")).as("props"))
  }
}
