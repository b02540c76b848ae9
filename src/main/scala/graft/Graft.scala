package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session + table helpers shared by Verify / Bench / tests.
  *
  * Config notes (scale-oriented, per SURVEY.md §7):
  *  - shuffle.partitions sized to cores for local mode; on a real
  *    cluster this is driven by AQE coalescing anyway.
  *  - AQE on: runtime re-plan (skew-join splitting, partition
  *    coalescing) is the 100TB safety net for every groupBy/join here.
  *  - UTC session timezone for deterministic timestamp semantics
  *    (oracle parity with DuckDB, which is timezone-naive).
  *  - `fs.file.impl` / `fs.AbstractFileSystem.file.impl` point the
  *    `file:` scheme at [[ForkFreeLocalFileSystem]] / [[ForkFreeLocalFs]]:
  *    without the native-hadoop library, stock Hadoop spawns a `chmod`
  *    per created file and a `readlink` per `FileContext` rename, ~60
  *    processes per checkpointed micro-batch. `.crc` sidecars and
  *    Spark's checkpoint checksums are unchanged. `FileSystem.CACHE`
  *    is per JVM: a `file:` instance created before the first session
  *    (from a conf without these keys) stays stock.
  *  - RocksDB changelog checkpointing: a state commit writes one
  *    changelog file instead of a snapshot + SST upload + zip + `rm -rf`
  *    per batch; every 10th commit snapshots, and the maintenance thread
  *    uploads it. Checkpoints written with it off resume with it on, and
  *    back (RecoverySpec).
  */
object Graft {

  val TableNames: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  def session(cores: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"),
              appName: String = "graft"): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .config("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
        "true")
      .config("spark.hadoop.fs.file.impl", classOf[ForkFreeLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
        classOf[ForkFreeLocalFs].getName)
      // testdata events.parquet carries TIMESTAMP(NANOS) which Spark has
      // no native type for; read as Long and normalize in table().
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.GraftFunctions.registerAll(spark)
    spark
  }

  /** Normalize an events-style `ts` column to Spark TimestampType,
    * whatever physical encoding the fixture was generated with: Long
    * epoch-nanos (TIMESTAMP(NANOS) parquet read under nanosAsLong —
    * microsecond floor matches DuckDB's µs truncation), TIMESTAMP_NTZ
    * (µs parquet, naive — reinterpreted as a UTC instant; the session
    * timezone is pinned UTC so the micros value is unchanged), or
    * already TimestampType (no-op). Generated testdata has switched
    * encodings across rounds; correctness must not depend on which
    * one this round's generator picked.
    */
  def normalizeTs(df: DataFrame, tsCol: String = "ts"): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types._
    df.schema(tsCol).dataType match {
      // integer `div` (not `/`): Long/Long → Double would lose precision
      // on epoch-nanos (~1.7e18 > 2^53).
      case LongType =>
        df.withColumn(tsCol, expr(s"timestamp_micros($tsCol div 1000)"))
      case TimestampNTZType =>
        df.withColumn(tsCol, col(tsCol).cast(TimestampType))
      case _ => df
    }
  }

  /** Load one testdata table (parquet) from an sf directory, with
    * events.ts normalized via [[normalizeTs]].
    */
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val df = spark.read.parquet(s"$sfDir/$name.parquet")
    if (name == "events") normalizeTs(df) else df
  }

  /** Register every testdata table as a temp view (for spark.sql paths). */
  def registerAll(spark: SparkSession, sfDir: String): Unit =
    TableNames.foreach { n =>
      if (new java.io.File(s"$sfDir/$n.parquet").exists())
        table(spark, sfDir, n).createOrReplaceTempView(n)
    }

  /** Partition count the frame would execute with, read from the
    * NON-ADAPTIVE physical plan. `df.rdd.getNumPartitions` is the
    * obvious spelling, but under AQE `Dataset.rdd` materializes every
    * upstream shuffle stage just to resolve the adaptive plan — a
    * silent full execution of the pipeline per probe (round-10 find:
    * the audio gates paid a hidden encode+shuffle re-run per bench
    * rep, ~30% of their wall-clock). `sparkPlan.execute()` only
    * BUILDS the RDD lazily — exchanges become ShuffledRowRDDs whose
    * dependencies are not yet computed — so no job runs. Falls back
    * to the eager spelling for plans that refuse non-adaptive
    * execution (streaming relations mid-plan, etc.).
    */
  def staticNumPartitions(df: DataFrame): Int =
    try df.queryExecution.sparkPlan.execute().getNumPartitions
    catch {
      case scala.util.control.NonFatal(_) => df.rdd.getNumPartitions
    }

  /** Spread a compact source across the session's shuffle parallelism
    * before a CPU-heavy scan-stage pass (digest/signature/codec/encode
    * work): a single-file fixture arrives in 1–2 splits and
    * serializes the whole pass onto 1–2 cores (measured: a 66 MB
    * 500k-doc file left 31 of 32 cores idle for ~13 s of digesting).
    * Only fires when the source is under-parallel — a production-scale
    * scan already has thousands of splits and must not pay a
    * gratuitous shuffle. Apply it BEFORE the heavy select, so the
    * expensive expressions evaluate after the exchange.
    */
  def spread(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sessionState.conf.numShufflePartitions
    if (staticNumPartitions(df) < target) df.repartition(target) else df
  }
}
