package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.api.Context

/** Standalone batch calls into one layer each, on a workload's own
  * inputs: the Kafka JSON decode (formats, reached through api) and the
  * SimHash signature expression (expressions). Rows per second, median
  * of three passes over cached input.
  */
object Micro {
  private def eps(spark: SparkSession, input: DataFrame, n: Long,
                  name: String, layer: String, tracer: Tracer)
                 (plan: DataFrame => DataFrame): Double = {
    val cached = input.repartition(spark.sessionState.conf.numShufflePartitions)
      .cache()
    cached.count()
    val ms = (1 to 3).map { _ =>
      val t0 = Clock.nowMs
      tracer.span(name, layer) {
        plan(cached).write.format("noop").mode("overwrite").save()
      }
      Clock.nowMs - t0
    }
    cached.unpersist()
    n / (Stats.median(ms) / 1000.0)
  }

  def decodeEps(spark: SparkSession, payloads: Seq[(Array[Byte], Long)],
                schema: StructType, tracer: Tracer): Double = {
    import spark.implicits._
    val raw = payloads.toDF("value", "ts_ms").select(col("value"),
      timestamp_millis(col("ts_ms")).as("timestamp"))
    eps(spark, raw, payloads.size, "decodeKafkaJson", "formats", tracer) {
      Context.decodeKafkaJson(_, schema, Some("occurred_at_ms"))
    }
  }

  def simhashEps(spark: SparkSession, texts: Seq[String],
                 tracer: Tracer): Double = {
    import spark.implicits._
    eps(spark, texts.toDF("text"), texts.size, "simhash64_text",
        "expressions", tracer) {
      _.select(graft.functions.simhash64_text(col("text")).as("sig"))
    }
  }
}
