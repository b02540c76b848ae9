package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Storage-layout operators for 100TB tables: bucketing for
  * shuffle-free co-located joins/aggregations, date-partitioning for
  * partition pruning. On a petabyte fact table these two layouts are
  * the difference between a per-query shuffle of the whole table and
  * none at all.
  */
object Storage {

  /** Write `df` bucketed (and sorted) by `keyCol` into `nBuckets` as a
    * managed table. Two tables bucketed identically join/aggregate on
    * the key with ZERO exchange — Catalyst sees the matching output
    * partitioning (verified in StorageSpec by plan assertion).
    */
  def writeBucketed(df: DataFrame, table: String, keyCol: String,
                    nBuckets: Int,
                    mode: SaveMode = SaveMode.Overwrite): Unit =
    df.write.mode(mode)
      .bucketBy(nBuckets, keyCol).sortBy(keyCol)
      .format("parquet").saveAsTable(table)

  /** Write partitioned by (low-cardinality) `partCols`; readers with
    * equality/range predicates on them scan only matching directories
    * (PartitionFilters in the scan node).
    */
  def writePartitioned(df: DataFrame, path: String,
                       partCols: Seq[String],
                       mode: SaveMode = SaveMode.Overwrite): Unit =
    df.write.mode(mode).partitionBy(partCols: _*).parquet(path)

  def readTable(spark: SparkSession, table: String): DataFrame =
    spark.table(table)

  /** Small-file compaction for a parquet directory — the maintenance
    * pass every long-lived 100 TB table needs: streaming sinks and
    * per-partition writers accrete thousands of KB-sized part files,
    * and scan cost becomes file-open dominated (driver listing, task
    * scheduling, footer reads) instead of byte dominated. Rewrites
    * the directory so output files target `targetFileBytes` of
    * on-disk (compressed) size, sized from the ACTUAL listed input
    * bytes, then atomically-ish swaps directories (write to a temp
    * sibling, rename away the original, rename the temp in, delete
    * the original — the file-level primitive; table formats make the
    * swap transactional, this operator is the rewrite underneath).
    *
    * Scale shape: `rebalance = false` (default) uses `coalesce` — NO
    * shuffle; each output task just reads and re-writes several
    * input files, so the job moves every byte exactly once. Pass
    * `rebalance = true` only when input files are badly skewed and
    * the one-time full shuffle (`repartition`) is worth even output
    * sizes.
    *
    * @return (input file count, output file count)
    */
  def compact(spark: SparkSession, path: String,
              targetFileBytes: Long = 128L << 20,
              rebalance: Boolean = false): (Int, Int) = {
    import org.apache.hadoop.fs.{FileStatus, Path}
    require(targetFileBytes > 0, "targetFileBytes must be positive")
    val hPath = new Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // listStatus walks, not fs.listFiles: its LocatedFileStatus reads
    // each file's permission, which the local filesystem without
    // libhadoop gets by running `ls -ld` — one process per file
    def parquetFiles(dir: Path): Seq[FileStatus] =
      fs.listStatus(dir).toSeq.flatMap { e =>
        if (e.isDirectory) parquetFiles(e.getPath)
        else if (e.getPath.getName.endsWith(".parquet")) Seq(e)
        else Nil
      }
    // A hive-partitioned root must go through compactPartitioned: a
    // flat rewrite here would silently FLATTEN the key=value columns
    // into the data files and destroy partition pruning.
    val hasHiveSubdirs = fs.listStatus(hPath).exists(e =>
      e.isDirectory && e.getPath.getName.contains("="))
    require(!hasHiveSubdirs,
      s"$path contains key=value partition directories — a flat " +
        "compact would destroy the partition layout; use " +
        "compactPartitioned()")
    val inputs = parquetFiles(hPath)
    val inFiles = inputs.size
    val totalBytes = inputs.map(_.getLen).sum
    require(inFiles > 0, s"no parquet files under $path")
    val nOut = math.max(1L,
      (totalBytes + targetFileBytes - 1) / targetFileBytes).toInt
    val df = spark.read.parquet(path)
    val sized = if (rebalance) df.repartition(nOut) else df.coalesce(nOut)
    val tmp = new Path(hPath.getParent, hPath.getName + "__compact_tmp")
    val old = new Path(hPath.getParent, hPath.getName + "__compact_old")
    fs.delete(tmp, true)
    sized.write.mode("overwrite").parquet(tmp.toString)
    // report what was actually WRITTEN: coalesce cannot raise the
    // partition count above the scan's, so when the target size asks
    // for more files than input partitions, the true output count is
    // the smaller one — callers sizing downstream work need the real
    // number, not the request
    val outFiles = parquetFiles(tmp).size
    fs.delete(old, true)
    require(fs.rename(hPath, old), s"could not move $hPath aside")
    // The window between the two renames is the only moment the table
    // path doesn't exist. If the second rename fails, best-effort roll
    // the original back so the table is never left missing with its
    // data stranded in the __compact_old sibling.
    val swappedIn =
      try fs.rename(tmp, hPath)
      catch { case scala.util.control.NonFatal(_) => false }
    if (!swappedIn) {
      val rolledBack =
        try fs.rename(old, hPath)
        catch { case scala.util.control.NonFatal(_) => false }
      throw new IllegalStateException(
        s"could not move compacted dir $tmp into place" +
          (if (rolledBack) s"; original restored at $hPath"
           else s"; ROLLBACK ALSO FAILED — original data is at $old"))
    }
    fs.delete(old, true)
    (inFiles, outFiles)
  }

  /** [[compact]] for a hive-partitioned directory (the
    * [[writePartitioned]] layout): each `key=value` leaf directory
    * compacts independently — the partition-pruning layout survives
    * byte-identical, and each leaf's output count is sized from its
    * OWN listed bytes (a global rewrite would both destroy the
    * layout and mis-size hot vs cold partitions). Sequential over
    * partitions by design: each inner compact is already a parallel
    * Spark job, and compaction is a maintenance pass where bounding
    * cluster load matters more than wall-clock.
    *
    * @return per-partition (relative path, input files, output files)
    */
  def compactPartitioned(spark: SparkSession, path: String,
                         targetFileBytes: Long = 128L << 20,
                         rebalance: Boolean = false)
      : Seq[(String, Int, Int)] = {
    import org.apache.hadoop.fs.Path
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)

    // leaves = directories that contain parquet files directly; walk
    // nested key1=v/key2=v levels
    def leaves(dir: Path): Seq[Path] = {
      val entries = fs.listStatus(dir).toSeq
      val subdirs = entries.filter(e =>
        e.isDirectory && e.getPath.getName.contains("="))
      if (subdirs.isEmpty) Seq(dir)
      else subdirs.flatMap(e => leaves(e.getPath))
    }
    val qualifiedRoot = fs.makeQualified(root)
    val parts = leaves(qualifiedRoot).filter(_ != qualifiedRoot)
    require(parts.nonEmpty,
      s"$path has no key=value partition directories — use compact()")
    parts.map { p =>
      val (in, out) = compact(spark, p.toString, targetFileBytes,
        rebalance)
      (p.toString.stripPrefix(qualifiedRoot.toString)
        .stripPrefix("/"), in, out)
    }
  }

  /** Morton (Z-order) code: interleave the low `bits` bits of each
    * column, column c's bit j landing at position j·n+c. Inputs must
    * already be quantized to non-negative ints < 2^bits (e.g.
    * `pmod(hash(col), 2^bits)` or a rank bucket); the result fits a
    * long for bits·n ≤ 63. Pure bit arithmetic over built-ins —
    * whole-stage codegen, no UDF.
    */
  def mortonCode(cols: Seq[Column], bits: Int = 16): Column = {
    require(cols.size >= 2, "interleave needs >= 2 columns")
    require(bits * cols.size <= 63, "morton code must fit a long")
    val n = cols.size
    (for (j <- 0 until bits; (cl, ci) <- cols.zipWithIndex) yield
      shiftleft(shiftright(cl.cast("long"), j).bitwiseAND(lit(1L)),
        j * n + ci))
      .reduce(_ + _)
  }

  /** Z-order cluster `df` by `cols` for multi-dimensional file
    * skipping: rows close in EVERY dimension land in the same file,
    * so min/max footer stats prune scans with predicates on ANY
    * subset of the dimensions — the public Delta/Iceberg OPTIMIZE
    * ZORDER technique, expressed as repartitionByRange + in-partition
    * sort on the interleaved code. One range exchange (sampled
    * bounds), then a local sort: the same cost shape as a global
    * orderBy, amortized over every future scan of the table.
    *
    * `quantize` maps each raw column into [0, 2^bits) — default is a
    * non-negative hash bucket, which spreads skewed domains evenly;
    * pass rank-based quantization when locality of the NATURAL order
    * matters (range predicates).
    */
  def zorderBy(df: DataFrame, cols: Seq[String], bits: Int = 16,
               numPartitions: Int = 0,
               quantize: Column => Column = null): DataFrame = {
    val q = Option(quantize).getOrElse((c: Column) =>
      pmod(xxhash64(c), lit(1L << bits)).cast("long"))
    val z = mortonCode(cols.map(c => q(col(c))), bits)
    val withZ = df.withColumn("__z", z)
    val parted =
      if (numPartitions > 0) withZ.repartitionByRange(numPartitions,
        col("__z"))
      else withZ.repartitionByRange(col("__z"))
    parted.sortWithinPartitions(col("__z")).drop("__z")
  }
}
