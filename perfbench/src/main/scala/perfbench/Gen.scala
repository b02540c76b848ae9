package perfbench

import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Seeded input generators. The seed is the only source of variation:
  * the same seed gives the same documents, tables and event sequence.
  * The program under test only ever sees the generated inputs.
  */
object Gen {

  /** The word list and shape of the testdata `documents` table: 10–100
    * words drawn uniformly from 30 words, ~5 % of documents ending in
    * the label word "dup", 20 round-robin sources, en-heavy languages.
    */
  private val vocab = Array("spark", "window", "merge", "table", "column",
    "vector", "stream", "value", "data", "small", "join", "filter", "big",
    "group", "hash", "customer", "sort", "order", "slow", "line", "part",
    "fast", "row", "the", "agg", "key", "query", "a", "scan", "batch")
  private val langs = Array("en", "zh", "de", "es", "fr")

  final case class Doc(id: Long, words: Array[String], lang: String) {
    def text: String = words.mkString(" ")
    def source: String = s"src${id % 20}"
  }

  def docs(rng: SplittableRandom, n: Int, idBase: Long = 0L): Array[Doc] = {
    val out = Array.tabulate(n) { i =>
      val len = 10 + rng.nextInt(91)
      val w = Array.fill(len)(vocab(rng.nextInt(vocab.length)))
      val u = rng.nextDouble()
      val lang = if (u < 0.41) "en" else langs(1 + rng.nextInt(4))
      Doc(idBase + i, w, lang)
    }
    // exactly one in twenty (at least one) carries the label word, as
    // in the testdata: the classifier gates need both classes present
    val order = out.indices.toArray
    (0 until math.max(1, n / 20)).foreach { k =>
      val j = k + rng.nextInt(n - k)
      val t = order(k); order(k) = order(j); order(j) = t
      val w = out(order(k)).words
      w(w.length - 1) = "dup"
    }
    out
  }

  def jsonString(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').result()
  }

  // ------------------------------------------------------------ documents

  /** The Kafka JSON value schema of `docPayload`. */
  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("occurred_at_ms", LongType)))

  def docPayload(id: Long, text: String, ts: Long): Array[Byte] =
    s"""{"doc_id":$id,"text":${jsonString(text)},"occurred_at_ms":$ts}"""
      .getBytes("UTF-8")

  // ------------------------------------------------------------- rideshare

  /** Open-loop rideshare events: Zipf-skewed driver keys, integer speeds
    * (so sums, and so averages, are exact in double on both sides of the
    * reference check), a share of events stamped up to `oooMaxMs` in the
    * past (out of order but inside the watermark delay) and a share
    * stamped beyond the delay (late).
    */
  final class Rides(seed: Long, keys: Int, zipfS: Double, oooShare: Double,
                    oooMaxMs: Long, lateShare: Double, lateMinMs: Long,
                    lateMaxMs: Long) {
    private val rng = new SplittableRandom(seed)
    private val cdf = {
      val w = Array.tabulate(keys)(i => 1.0 / math.pow(i + 1, zipfS))
      val s = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / s)
    }
    /** (key index, speed, event time ms, kind: 0 on time, 1 out of
      * order, 2 late) for an event created at `dueMs`.
      */
    def next(dueMs: Long): (Int, Int, Long, Int) = {
      val u = rng.nextDouble()
      var k = java.util.Arrays.binarySearch(cdf, u)
      if (k < 0) k = -k - 1
      k = math.min(k, keys - 1)
      val speed = rng.nextInt(200)
      val v = rng.nextDouble()
      if (v < lateShare)
        (k, speed, dueMs - lateMinMs - rng.nextLong(lateMaxMs - lateMinMs), 2)
      else if (v < lateShare + oooShare)
        (k, speed, dueMs - 1 - rng.nextLong(oooMaxMs), 1)
      else (k, speed, dueMs, 0)
    }
  }

  def ridePayload(key: Int, speed: Int, ts: Long): Array[Byte] =
    s"""{"driver_id":"d$key","speed":$speed,"occurred_at_ms":$ts}"""
      .getBytes("UTF-8")

  // -------------------------------------------------------------- tables

  /** The four testdata tables the curation gates read, in the testdata
    * schemas (timestamps as naive TIMESTAMP, which both the library's
    * loader and DuckDB read without conversion).
    */
  def tables(spark: SparkSession, seed: Long, nDocs: Int, nEmb: Int,
             nEvents: Int, nLineitem: Int): Map[String, DataFrame] = {
    val rng = new SplittableRandom(seed)

    val docRows = docs(rng, nDocs).toSeq.map { d =>
      val t = d.text
      Row(d.id, t, d.lang, d.source, t.length.toLong)
    }
    val documents = spark.createDataFrame(
      spark.sparkContext.parallelize(docRows, 1), StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType),
        StructField("lang", StringType), StructField("source", StringType),
        StructField("n_chars", LongType))))

    // ten Gaussian clusters on the unit sphere, as the testdata's
    // embeddings (64-d float, cluster id as label)
    val centers = Array.fill(10, 64)(gauss(rng))
    val embRows = (0 until nEmb).map { i =>
      val c = rng.nextInt(10)
      val v = Array.tabulate(64)(j => centers(c)(j) + 1.5 * gauss(rng))
      val norm = math.sqrt(v.map(x => x * x).sum)
      Row(i.toLong, v.map(x => (x / norm).toFloat).toSeq, c)
    }
    val embeddings = spark.createDataFrame(
      spark.sparkContext.parallelize(embRows, 1), StructType(Seq(
        StructField("vec_id", LongType),
        StructField("embedding", ArrayType(FloatType)),
        StructField("label", IntegerType))))

    // a month of events, event_id in time order, ~67 events per user
    val jan1Us = 1704067200000000L
    val monthUs = 30L * 86400L * 1000000L
    val tsUs = Array.fill(nEvents)(jan1Us + rng.nextLong(monthUs)).sorted
    val users = math.max(1, nEvents * 3 / 200)
    val types = Array("signup", "click", "error", "view", "purchase")
    val evRows = tsUs.indices.map { i =>
      val value = math.round(-50.0 * math.log(1.0 - rng.nextDouble()) * 100) / 100.0
      Row(i.toLong, tsUs(i), rng.nextInt(users).toLong,
        types(rng.nextInt(types.length)), value,
        s"""{"k": ${rng.nextInt(100)}}""")
    }
    val events = spark.createDataFrame(
        spark.sparkContext.parallelize(evRows, 1), StructType(Seq(
          StructField("event_id", LongType), StructField("ts_us", LongType),
          StructField("user_id", LongType),
          StructField("event_type", StringType),
          StructField("value", DoubleType), StructField("props", StringType))))
      .select(col("event_id"),
        timestamp_micros(col("ts_us")).cast("timestamp_ntz").as("ts"),
        col("user_id"), col("event_type"), col("value"), col("props"))

    // lineitem from seeded column generators over a fixed partitioning
    // (Spark's rand(seed) is deterministic per partition index)
    val s = seed
    val flags = array(lit("A"), lit("N"), lit("R"))
    val lineitem = spark.range(0, nLineitem, 1, 4).select(
      (col("id") / 4).cast("long").as("l_orderkey"),
      (rand(s + 1) * (nLineitem / 30 + 1)).cast("long").as("l_partkey"),
      (rand(s + 2) * (nLineitem / 600 + 1)).cast("long").as("l_suppkey"),
      (pmod(col("id"), lit(7)) + 1).cast("int").as("l_linenumber"),
      floor(rand(s + 3) * 50 + 1).cast("double").as("l_quantity"),
      round(rand(s + 4) * 104100 + 900, 2).as("l_extendedprice"),
      (floor(rand(s + 5) * 11) / 100).as("l_discount"),
      (floor(rand(s + 6) * 9) / 100).as("l_tax"),
      element_at(flags, (floor(rand(s + 7) * 3) + 1).cast("int"))
        .as("l_returnflag"),
      when(rand(s + 8) < 0.5, lit("O")).otherwise(lit("F"))
        .as("l_linestatus"),
      date_add(lit("1995-01-02").cast("date"),
          (rand(s + 9) * 2500).cast("int")).cast("timestamp_ntz")
        .as("l_shipdate"))

    Map("documents" -> documents, "embeddings" -> embeddings,
      "events" -> events, "lineitem" -> lineitem)
  }

  private def gauss(rng: SplittableRandom): Double = {
    // Box–Muller; SplittableRandom has no nextGaussian
    val u1 = 1.0 - rng.nextDouble()
    val u2 = rng.nextDouble()
    math.sqrt(-2.0 * math.log(u1)) * math.cos(2 * math.Pi * u2)
  }
}
