package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Persistable decontamination indexes. The decontamination family
  * ([[Dedup.minhashOverlap]], [[Dedup.winnowOverlapStats]] and their
  * one-call `*Decontaminate` forms) recomputes the reference-side
  * index on every run; at 100 TB scale the reference set (eval
  * benchmarks, heldout splits) changes rarely while corpus drops
  * arrive continuously, so the index should be built ONCE per
  * reference drop and reused. This object writes the two index
  * shapes as schema-versioned parquet with a JSON sidecar pinning
  * the build parameters, and refuses to read an index whose
  * parameters don't match the caller's — a silently mismatched
  * (n, window) or shingleN would produce an index that LOOKS valid
  * but misses every true overlap, the worst failure mode a
  * decontamination pass can have.
  *
  * Reading back is a plain schema-pinned parquet scan; the returned
  * frames plug into [[Dedup.minhashOverlapFromIndex]] /
  * [[Dedup.winnowOverlapStatsFromIndex]] and are gated bit-identical
  * to the inline build (d32/d33).
  */
object DedupIndex {

  private val Version = 1

  private def fs(spark: SparkSession, path: String) = {
    val p = new org.apache.hadoop.fs.Path(path)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  /** The sidecar is written LAST (after the parquet commit), so its
    * presence marks a complete index; a crashed build leaves no
    * sidecar and readers refuse the directory.
    */
  private def writeMeta(spark: SparkSession, path: String, kind: String,
                        params: Seq[(String, Int)]): Unit = {
    val (f, p) = fs(spark, path)
    val json = (Seq("\"kind\": \"" + kind + "\"",
      "\"version\": " + Version) ++
      params.map { case (k, v) => "\"" + k + "\": " + v })
      .mkString("{", ", ", "}")
    val out = f.create(
      new org.apache.hadoop.fs.Path(p, "_graft_index.json"), true)
    try out.write(json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  private def readMeta(spark: SparkSession, path: String)
      : Map[String, String] = {
    val (f, p) = fs(spark, path)
    val mp = new org.apache.hadoop.fs.Path(p, "_graft_index.json")
    require(f.exists(mp),
      s"$path has no _graft_index.json sidecar — not a complete " +
        "graft dedup index (crashed build, or a plain parquet dir)")
    val in = f.open(mp)
    val raw = try new String(in.readAllBytes(),
      java.nio.charset.StandardCharsets.UTF_8) finally in.close()
    // flat string/int fields only — parse with a pair regex instead
    // of pulling a JSON dependency into the library
    "\"([a-z_]+)\"\\s*:\\s*\"?([A-Za-z0-9_]+)\"?".r
      .findAllMatchIn(raw)
      .map(m => m.group(1) -> m.group(2)).toMap
  }

  /** Bounded retry for readers racing [[replaceWith]]'s two-rename
    * swap: between `rename(path, old)` and `rename(tmp, path)` the
    * index path is briefly ABSENT — a clean failure (never a torn
    * read; the sidecar-last discipline guarantees that), but a
    * spurious one. A reader that lands in that microsecond window
    * retries for up to ~1 s before surfacing the error, so concurrent
    * refresh + read sees old-index-or-new-index, never
    * file-not-found. Only swap-shaped failures retry (path/sidecar
    * absent); parameter-mismatch refusals from [[check]] surface
    * immediately. Cost on genuine user error (not an index at all):
    * the ~1 s of retries before the usual message. Races WITHIN an
    * already-planned scan (executor reading a file deleted by a
    * later swap) are out of scope — pin long-running jobs to one
    * index generation by reading before kicking off the refresh.
    */
  private def readRetrying[T](f: => T): T = {
    // swap-shaped failures can surface wrapped (the parquet open runs
    // a distributed footer-read job, so a file deleted between
    // listing and footer read arrives as SparkException → cause chain
    // → FileNotFoundException) — walk the causes, bounded
    def isSwapGap(e: Throwable): Boolean = {
      def one(t: Throwable): Boolean = t match {
        case _: java.io.FileNotFoundException => true
        case a: org.apache.spark.sql.AnalysisException =>
          val m = Option(a.getMessage).getOrElse("")
          m.contains("PATH_NOT_FOUND") || m.contains("Path does not exist")
        case i: IllegalArgumentException =>
          Option(i.getMessage).exists(_.contains("_graft_index.json"))
        case _ => false
      }
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(10)
        .exists(one)
    }
    var attempt = 0
    var last: Throwable = null
    while (attempt < 40) {
      try return f
      catch {
        case scala.util.control.NonFatal(e) if isSwapGap(e) =>
          last = e; Thread.sleep(25); attempt += 1
      }
    }
    throw last
  }

  private def check(meta: Map[String, String], kind: String,
                    params: Seq[(String, Int)], path: String): Unit = {
    require(meta.get("kind").contains(kind),
      s"$path is a '${meta.getOrElse("kind", "?")}' index, not '$kind'")
    require(meta.get("version").contains(Version.toString),
      s"$path was written by index version ${meta.getOrElse("version",
        "?")}; this library reads version $Version")
    params.foreach { case (k, v) =>
      require(meta.get(k).contains(v.toString),
        s"$path was built with $k=${meta.getOrElse(k, "?")} but the " +
          s"caller asked for $k=$v — rebuild the index or match the " +
          "parameters (a mismatched index silently misses overlaps)")
    }
  }

  /** Build and persist the MinHash decontamination index: one row
    * per reference doc with its distinct shingle-hash set. numHashes/
    * bands/threshold are NOT baked in — they derive at query time —
    * so only shingleN pins the build.
    */
  def writeMinhash(reference: DataFrame, textCol: String, path: String,
                   shingleN: Int = 3): Unit = {
    Dedup.minhashReferenceIndex(reference, textCol, shingleN)
      .write.mode("errorifexists").parquet(path)
    writeMeta(reference.sparkSession, path, "minhash",
      Seq("shingle_n" -> shingleN))
  }

  def readMinhash(spark: SparkSession, path: String,
                  shingleN: Int = 3): DataFrame = readRetrying {
    check(readMeta(spark, path), "minhash",
      Seq("shingle_n" -> shingleN), path)
    spark.read.parquet(path).select("rsh")
  }

  /** Build and persist the exact-decontamination index: the reference
    * corpus's distinct content digests
    * ([[Dedup.exactReferenceIndex]]). No geometry parameters — the
    * digest algorithm (md5 of the raw text) is pinned by the kind.
    * The read-back frame plugs into [[Dedup.decontaminateFromIndex]]
    * on batch AND streaming corpora (the anti-join is stateless on
    * the corpus side), gated bit-identical to the inline build (d34).
    */
  def writeExact(reference: DataFrame, textCol: String,
                 path: String): Unit = {
    Dedup.exactReferenceIndex(reference, textCol)
      .write.mode("errorifexists").parquet(path)
    writeMeta(reference.sparkSession, path, "exact", Seq.empty)
  }

  def readExact(spark: SparkSession, path: String): DataFrame =
    readRetrying {
      check(readMeta(spark, path), "exact", Seq.empty, path)
      spark.read.parquet(path).select("digest")
    }

  /** Build and persist the winnowing decontamination index: the
    * reference corpus's distinct fingerprint set. (n, window) pin
    * the build — fingerprints from a different gram/window geometry
    * never collide meaningfully.
    */
  def writeWinnow(reference: DataFrame, textCol: String, path: String,
                  n: Int = 5, window: Int = 4): Unit = {
    Dedup.winnowReferenceIndex(reference, textCol, n, window)
      .write.mode("errorifexists").parquet(path)
    writeMeta(reference.sparkSession, path, "winnow",
      Seq("n" -> n, "window" -> window))
  }

  def readWinnow(spark: SparkSession, path: String, n: Int = 5,
                 window: Int = 4): DataFrame = readRetrying {
    check(readMeta(spark, path), "winnow",
      Seq("n" -> n, "window" -> window), path)
    spark.read.parquet(path).select("fp")
  }

  /** Atomic refresh of a live index directory (the [[Storage.compact]]
    * swap discipline): the replacement builds at a temp sibling —
    * readers of `path` never observe partial state — and only a
    * COMPLETE build (sidecar present, which [[writeMeta]] writes
    * last) is swapped in. A build that dies mid-flight leaves the
    * temp sibling behind (cleaned up by the next replace) and the
    * live index untouched; a swap whose second rename fails rolls the
    * original back. Refreshing a shared 100 TB-corpus index on a new
    * eval drop therefore cannot leave a torn directory — the failure
    * mode of the naive "delete + rebuild in place".
    *
    * `build` receives the temp path and must produce a complete index
    * there — pass one of the `write*` methods: e.g.
    * `replaceWith(spark, path)(DedupIndex.writeWinnow(ref, "text", _))`.
    */
  def replaceWith(spark: SparkSession, path: String)
                 (build: String => Unit): Unit = {
    import org.apache.hadoop.fs.Path
    val (f, p) = fs(spark, path)
    val tmp = new Path(p.getParent, p.getName + "__replace_tmp")
    val old = new Path(p.getParent, p.getName + "__replace_old")
    f.delete(tmp, true)
    build(tmp.toString)
    require(f.exists(new Path(tmp, "_graft_index.json")),
      s"replacement build for $path did not produce a complete index " +
        "(no sidecar) — live index left untouched")
    f.delete(old, true)
    val hadOld = f.exists(p)
    if (hadOld) require(f.rename(p, old), s"could not move $p aside")
    val swappedIn =
      try f.rename(tmp, p)
      catch { case scala.util.control.NonFatal(_) => false }
    if (!swappedIn) {
      val rolledBack = hadOld && {
        try f.rename(old, p)
        catch { case scala.util.control.NonFatal(_) => false }
      }
      throw new IllegalStateException(
        s"could not move replacement index $tmp into place" +
          (if (rolledBack) s"; original restored at $p"
           else if (hadOld) s"; ROLLBACK ALSO FAILED — original at $old"
           else ""))
    }
    if (hadOld) f.delete(old, true)
  }

  /** Build and persist the IVF ANN index: KMeans centroid table +
    * per-row cell assignments ([[Similarity.fitIvfIndex]]), two
    * parquet subdirectories under one index root. The fit — the only
    * iterative full-corpus pass of the ANN pipeline — then runs once
    * per corpus drop; every query batch reads the index and pays
    * just the broadcast-probe join. Persisting also freezes the
    * fit, so query results stop depending on KMeans run-to-run
    * partitioning sensitivity. nCentroids pins the build; nProbe/k
    * stay query-time choices.
    */
  def writeIvf(corpus: DataFrame, embCol: String, idCol: String,
               path: String, nCentroids: Int = 16, seed: Long = 42L,
               maxIter: Int = 20,
               fitSampleFraction: Double = 1.0): Unit = {
    val (centroids, indexed) = Similarity.fitIvfIndex(corpus, embCol,
      idCol, nCentroids, seed, maxIter, fitSampleFraction)
    centroids.write.mode("errorifexists").parquet(s"$path/centroids")
    indexed.write.mode("errorifexists").parquet(s"$path/assignments")
    writeMeta(corpus.sparkSession, path, "ivf",
      Seq("n_centroids" -> nCentroids))
  }

  /** @return (centroids, assignments) for
    *         [[Similarity.ivfTopKFromIndex]]
    */
  def readIvf(spark: SparkSession, path: String,
              nCentroids: Int = 16): (DataFrame, DataFrame) =
    readRetrying {
      check(readMeta(spark, path), "ivf",
        Seq("n_centroids" -> nCentroids), path)
      (spark.read.parquet(s"$path/centroids"),
        spark.read.parquet(s"$path/assignments"))
    }

  /** Build and persist the product-quantization ANN index: the m
    * per-subspace codebooks plus the m-byte-per-vector corpus codes
    * ([[Similarity.fitPqCodebooks]] / [[Similarity.pqEncode]]). The
    * codes table is the 100 TB payoff — the candidate-scoring scan
    * reads the ~32×-compressed codes instead of the float vectors —
    * and persisting freezes both the KMeans fit and the encode, so
    * query results stop depending on fit sensitivity. (dim, m,
    * n_codes) pin the build; k/nCandidates stay query-time choices.
    */
  def writePq(corpus: DataFrame, embCol: String, idCol: String,
              path: String, dim: Int, m: Int = 8, nCodes: Int = 16,
              seed: Long = 42L, maxIter: Int = 20,
              fitSampleFraction: Double = 1.0,
              rotation: Option[Array[Array[Double]]] = None): Unit = {
    // rotation: fit AND encode in OPQ-rotated space (the opqPqTopK
    // geometry); the sidecar records opq=1 so readers/appenders that
    // don't pass the rotation back are REFUSED instead of silently
    // scoring mixed-geometry codes
    rotation.foreach(r => require(r.length == dim &&
      r.forall(_.length == dim), s"rotation must be $dim×$dim"))
    import org.apache.spark.sql.functions.col
    val fitFrame = rotation.fold(corpus)(r => corpus.select(
      col(idCol), Similarity.opqRotate(col(embCol), r).as("__re")))
    val codebooks = rotation.fold(
      Similarity.fitPqCodebooks(corpus, embCol, dim, m, nCodes, seed,
        maxIter, fitSampleFraction))(_ =>
      Similarity.fitPqCodebooks(fitFrame, "__re", dim, m, nCodes,
        seed, maxIter, fitSampleFraction, normalize = false))
    val cb = Similarity.collectCodebooks(codebooks, m, nCodes)
    codebooks.write.mode("errorifexists").parquet(s"$path/codebooks")
    Similarity.pqEncode(corpus, embCol, idCol, cb, dim, rotation)
      .write.mode("errorifexists").parquet(s"$path/codes")
    writeMeta(corpus.sparkSession, path, "pq",
      Seq("dim" -> dim, "m" -> m, "n_codes" -> nCodes) ++
        (if (rotation.isDefined) Seq("opq" -> 1) else Seq.empty))
  }

  /** Persist a learned OPQ rotation ([[Similarity.fitOpqRotation]])
    * as its own frozen artifact: one row per output dimension
    * (`__row INT, __coefs ARRAY<DOUBLE>`), dim pinned in the
    * sidecar, errorifexists like every index write. An OPQ-PQ
    * deployment persists the rotation NEXT TO its
    * [[writePq]]`(rotation = …)` dir — the PQ sidecar then records
    * `opq=1`, and [[readPq]]/[[appendPq]] (like the IVF-PQ twins)
    * REFUSE a rotated/unrotated mismatch, because geometry drift
    * between a rotation and codebooks fitted in a different rotated
    * space scores garbage silently.
    */
  def writeRotation(spark: SparkSession,
                    rotation: Array[Array[Double]],
                    path: String): Unit = {
    import spark.implicits._
    val dim = rotation.length
    require(dim > 0 && rotation.forall(_.length == dim),
      "rotation must be square and non-empty")
    rotation.zipWithIndex
      .map { case (row, i) => (i, row.toSeq) }.toSeq
      .toDF("__row", "__coefs")
      .repartition(1)
      .write.mode("errorifexists").parquet(s"$path/rotation")
    writeMeta(spark, path, "opq_rotation", Seq("dim" -> dim))
  }

  /** Read back a [[writeRotation]] artifact (bounded: dim rows). */
  def readRotation(spark: SparkSession, path: String, dim: Int)
      : Array[Array[Double]] = readRetrying {
    check(readMeta(spark, path), "opq_rotation", Seq("dim" -> dim),
      path)
    val rows = spark.read.parquet(s"$path/rotation")
      .select("__row", "__coefs").collect()
    require(rows.length == dim,
      s"$path/rotation has ${rows.length} rows, expected $dim")
    val r = Array.ofDim[Array[Double]](dim)
    rows.foreach { row =>
      val i = row.getInt(0)
      require(i >= 0 && i < dim && r(i) == null,
        s"$path/rotation has a duplicate or out-of-range row id $i")
      val coefs = row.getSeq[Double](1)
      require(coefs.length == dim,
        s"$path/rotation row $i has ${coefs.length} coefs, " +
          s"expected $dim")
      r(i) = coefs.toArray
    }
    r
  }

  /** Persist a TRAINED hashed-linear classifier
    * ([[TextAnalysis.learnHashedLinear]]'s milli-unit weight table,
    * plus optionally the Platt calibration
    * ([[TextAnalysis.calibrateLogits]]'s micro-unit (a, b)) fitted
    * on its logits) — the frozen-model artifact the
    * train-offline/score-online story needs: every other learned
    * model here (codebooks, rotations, centroids, merges, baselines)
    * persists with a sidecar and refusals, and the classifier that
    * gates what enters the training corpus deserves no less. One
    * (bucket, weight_milli) row per bucket; the sidecar pins `dim`
    * (the bucket-space geometry — scoring with a different dim
    * hashes every token into the wrong bucket, silently) and
    * `ngrams` (the feature space — unigram weights applied to
    * unigram+bigram features score garbage the same silent way),
    * plus `calibrated=1` when (a, b) ride along. errorifexists like
    * every index write; refresh via [[replaceWith]].
    */
  def writeLinear(spark: SparkSession, weightsMilli: Seq[Long],
                  path: String,
                  calibration: Option[(Long, Long)] = None,
                  ngrams: Int = 1): Unit = {
    import spark.implicits._
    val dim = weightsMilli.length
    require(dim > 0, "writeLinear: empty weight table")
    require(ngrams == 1 || ngrams == 2,
      s"writeLinear: ngrams must be 1 or 2, got $ngrams")
    weightsMilli.zipWithIndex
      .map { case (w, b) => (b, w) }.toSeq
      .toDF("bucket", "weight_milli")
      .repartition(1)
      .write.mode("errorifexists").parquet(s"$path/weights")
    calibration.foreach { case (a, b) =>
      Seq((a, b)).toDF("a_micro", "b_micro")
        .repartition(1)
        .write.mode("errorifexists").parquet(s"$path/calibration")
    }
    writeMeta(spark, path, "linear",
      Seq("dim" -> dim, "ngrams" -> ngrams) ++
        (if (calibration.isDefined) Seq("calibrated" -> 1)
         else Seq.empty))
  }

  /** Read back a [[writeLinear]] artifact (bounded: dim rows + one
    * calibration row). The weight array feeds
    * [[TextAnalysis.hashedLinearScoreWith]] (with the SAME `ngrams`
    * the sidecar pins); the calibration pair — `None` when the
    * artifact was written uncalibrated — feeds
    * [[TextAnalysis.calibratedProb]]. Foreign parquet, a crashed
    * build (no sidecar), a wrong dim/ngrams, and an incomplete or
    * duplicated weight table are all refused.
    *
    * @return (weightsMilli, Option(aMicro, bMicro))
    */
  def readLinear(spark: SparkSession, path: String, dim: Int,
                 ngrams: Int = 1)
      : (Array[Long], Option[(Long, Long)]) = readRetrying {
    val meta = readMeta(spark, path)
    check(meta, "linear", Seq("dim" -> dim, "ngrams" -> ngrams), path)
    val rows = spark.read.parquet(s"$path/weights")
      .select("bucket", "weight_milli").collect()
    require(rows.length == dim,
      s"$path/weights has ${rows.length} rows, expected $dim")
    val w = Array.ofDim[Long](dim)
    val seen = Array.ofDim[Boolean](dim)
    rows.foreach { r =>
      val b = r.getInt(0)
      require(b >= 0 && b < dim && !seen(b),
        s"$path/weights has a duplicate or out-of-range bucket $b")
      seen(b) = true
      w(b) = r.getLong(1)
    }
    val cal =
      if (meta.get("calibrated").contains("1")) {
        val c = spark.read.parquet(s"$path/calibration")
          .select("a_micro", "b_micro").collect()
        require(c.length == 1,
          s"$path/calibration has ${c.length} rows, expected 1")
        Some((c(0).getLong(0), c(0).getLong(1)))
      } else None
    (w, cal)
  }

  /** `expectRotated` must say whether the caller will query with an
    * OPQ rotation — mismatches against the sidecar's opq flag refuse
    * both ways (the [[readIvfPq]] discipline).
    *
    * @return (encoded codes frame, driver-side codebooks) for
    *         [[Similarity.pqTopKFromIndex]]
    */
  def readPq(spark: SparkSession, path: String, dim: Int, m: Int = 8,
             nCodes: Int = 16, expectRotated: Boolean = false)
      : (DataFrame, Array[Array[Array[Double]]]) = readRetrying {
    val meta = readMeta(spark, path)
    check(meta, "pq",
      Seq("dim" -> dim, "m" -> m, "n_codes" -> nCodes), path)
    checkOpq(meta, expectRotated, path, "query")
    (spark.read.parquet(s"$path/codes"),
      Similarity.collectCodebooks(
        spark.read.parquet(s"$path/codebooks"), m, nCodes))
  }

  /** Build and persist the residual IVF-PQ ANN index
    * ([[Similarity.fitIvfPq]] — FAISS's billion-scale default
    * shape): coarse centroids + residual codebooks + the
    * (id, cell, codes) table. The codes table carries BOTH scale
    * wins: a query's candidate scan touches only its probed cells
    * (selectivity) and reads m ints per vector there (compression).
    * (dim, n_centroids, m, n_codes) pin the build; nProbe/
    * nCandidates/k stay query-time choices.
    */
  def writeIvfPq(corpus: DataFrame, embCol: String, idCol: String,
                 path: String, dim: Int, nCentroids: Int = 16,
                 m: Int = 8, nCodes: Int = 16, seed: Long = 42L,
                 maxIter: Int = 20,
                 fitSampleFraction: Double = 1.0,
                 rotation: Option[Array[Array[Double]]] = None)
      : Unit = {
    // rotation: build the whole index in OPQ-rotated space (persist
    // the rotation itself with writeRotation and pass the SAME
    // artifact to appendIvfPq / ivfPqTopKFromIndex)
    val (centroids, codebooks, encoded) = Similarity.fitIvfPq(corpus,
      embCol, idCol, dim, nCentroids, m, nCodes, seed, maxIter,
      fitSampleFraction, rotation)
    centroids.write.mode("errorifexists").parquet(s"$path/centroids")
    codebooks.write.mode("errorifexists").parquet(s"$path/codebooks")
    encoded.write.mode("errorifexists").parquet(s"$path/codes")
    writeMeta(corpus.sparkSession, path, "ivfpq",
      Seq("dim" -> dim, "n_centroids" -> nCentroids, "m" -> m,
        "n_codes" -> nCodes) ++
        (if (rotation.isDefined) Seq("opq" -> 1) else Seq.empty))
  }

  /** True when an index sidecar records an OPQ-rotated build. */
  private def isOpq(meta: Map[String, String]): Boolean =
    meta.get("opq").contains("1")

  /** Refuse a rotated/unrotated mismatch between an index's sidecar
    * and what the caller is about to do — codes from one geometry
    * scored (or appended) in the other are garbage with no error.
    */
  private def checkOpq(meta: Map[String, String], rotated: Boolean,
                       path: String, verb: String): Unit = {
    if (isOpq(meta) && !rotated) throw new IllegalArgumentException(
      s"$path was built in OPQ-ROTATED space (sidecar opq=1) but the " +
        s"caller is trying to $verb it without the rotation — read " +
        "the rotation artifact (DedupIndex.readRotation) and pass it, " +
        "or results/appends are silently garbage")
    if (!isOpq(meta) && rotated) throw new IllegalArgumentException(
      s"$path was built WITHOUT an OPQ rotation but the caller " +
        s"passed one to $verb it — drop the rotation or rebuild the " +
        "index rotated")
  }

  /** @return (centroids frame, driver-side codebooks, encoded codes
    *         frame) for [[Similarity.ivfPqTopKFromIndex]]
    */
  def readIvfPq(spark: SparkSession, path: String, dim: Int,
                nCentroids: Int = 16, m: Int = 8, nCodes: Int = 16,
                expectRotated: Boolean = false)
      : (DataFrame, Array[Array[Array[Double]]], DataFrame) =
    readRetrying {
      val meta = readMeta(spark, path)
      check(meta, "ivfpq",
        Seq("dim" -> dim, "n_centroids" -> nCentroids, "m" -> m,
          "n_codes" -> nCodes), path)
      checkOpq(meta, expectRotated, path, "query")
      (spark.read.parquet(s"$path/centroids"),
        Similarity.collectCodebooks(
          spark.read.parquet(s"$path/codebooks"), m, nCodes),
        spark.read.parquet(s"$path/codes"))
    }

  /** Append a new corpus drop to a live IVF-PQ index: assign the new
    * drop's NORMALIZED vectors to the FROZEN coarse centroids (the
    * [[appendIvf]] argmin-as-scan-projection), subtract to
    * residuals, encode with the FROZEN codebooks — one scan of just
    * the new drop — merge, atomic swap. Geometry pinned by the live
    * sidecar (mixed-geometry codes score garbage silently, hence the
    * refusal). Re-fit policy: both the coarse geometry and the
    * codebooks stay fitted to the original corpus, so partial-probe
    * recall degrades as the appended fraction grows (full-probe
    * results and re-rank precision are unaffected — why the append
    * gate shares the full-probe exact oracle); schedule
    * `replaceWith(spark, path)(writeIvfPq(corpus, …, _))` once
    * appends exceed roughly a third of the index.
    */
  def appendIvfPq(newCorpus: DataFrame, embCol: String, idCol: String,
                  path: String, dim: Int, nCentroids: Int = 16,
                  m: Int = 8, nCodes: Int = 16,
                  rotation: Option[Array[Array[Double]]] = None)
      : Unit = {
    import org.apache.spark.sql.functions.{broadcast, col, element_at, zip_with}
    val spark = newCorpus.sparkSession
    val meta = readMeta(spark, path)
    check(meta, "ivfpq",
      Seq("dim" -> dim, "n_centroids" -> nCentroids, "m" -> m,
        "n_codes" -> nCodes), path)
    checkOpq(meta, rotation.isDefined, path, "append to")
    val centFrame = spark.read.parquet(s"$path/centroids")
    val rows = centFrame.select(col("__cell"), col("__centroid"))
      .collect()
    val cents = Array.ofDim[Array[Double]](nCentroids)
    rows.foreach { r =>
      val c = r.getInt(0)
      require(c >= 0 && c < nCentroids && cents(c) == null,
        s"$path/centroids has a duplicate or out-of-range cell id $c")
      cents(c) = r.getSeq[Double](1).toArray
    }
    (0 until nCentroids).foreach(c => require(cents(c) != null,
      s"$path/centroids is missing cell $c — not a complete IVF-PQ " +
        "index"))
    val cb = Similarity.collectCodebooks(
      spark.read.parquet(s"$path/codebooks"), m, nCodes)
    // an index built with an OPQ rotation must append THROUGH the
    // same rotation (pass the artifact read back via readRotation) —
    // mixed-geometry codes score garbage silently
    val assignedNew = graft.Graft.spread(newCorpus)
      .select(col(idCol).as("neighbor_id"),
        rotation.fold(Similarity.l2Normalize(col(embCol)))(r =>
          Similarity.opqRotate(col(embCol), r)).as("__nv"))
      .withColumn("__cell", element_at(graft.functions.pq_assign(
        col("__nv"), Array(cents), normalize = false), 1))
      .join(broadcast(centFrame), Seq("__cell"))
      .select(col("neighbor_id"), col("__cell"),
        graft.functions.pq_assign(
          zip_with(col("__nv"), col("__centroid"), (x, c) => x - c),
          cb, normalize = false).as("__codes"))
    val mergedCodes = spark.read.parquet(s"$path/codes")
      .unionByName(assignedNew).distinct()
    val cbFrame = spark.read.parquet(s"$path/codebooks")
    replaceWith(spark, path) { tmp =>
      centFrame.write.mode("errorifexists").parquet(s"$tmp/centroids")
      cbFrame.write.mode("errorifexists").parquet(s"$tmp/codebooks")
      mergedCodes.write.mode("errorifexists").parquet(s"$tmp/codes")
      writeMeta(spark, tmp, "ivfpq",
        Seq("dim" -> dim, "n_centroids" -> nCentroids, "m" -> m,
          "n_codes" -> nCodes) ++
          (if (rotation.isDefined) Seq("opq" -> 1) else Seq.empty))
    }
  }

  /** Build and persist a corpus's KMV bottom-k distinct sketch
    * ([[Sketches.kmvSketch]]): ONE bounded-buffer aggregation pass
    * at ingest, a ≤ k-long array on disk — after which every
    * distinct-count/overlap/Jaccard question against any OTHER
    * sketched drop ([[Sketches.corpusOverlapFromSketches]]) is
    * arithmetic on two tiny arrays, with neither corpus rescanned.
    * k pins the build: sketches of different k still merge (min-k of
    * the union), but the estimator's k must be the SMALLEST build k
    * involved, so mismatched reads are refused like every other
    * index kind.
    */
  def writeKmv(corpus: DataFrame, valueCol: String, path: String,
               k: Int = 1024): Unit = {
    import org.apache.spark.sql.functions.col
    corpus.agg(Sketches.kmvSketch(col(valueCol), k).as("sketch"))
      .write.mode("errorifexists").parquet(path)
    writeMeta(corpus.sparkSession, path, "kmv", Seq("k" -> k))
  }

  def readKmv(spark: SparkSession, path: String,
              k: Int = 1024): DataFrame = readRetrying {
    check(readMeta(spark, path), "kmv", Seq("k" -> k), path)
    spark.read.parquet(path).select("sketch")
  }

  /** Build and persist a baseline HISTOGRAM for the drift monitors
    * ([[graft.api.DataStream.driftMonitor]]): quantile
    * bucket boundaries ([[Drift.quantileBoundaries]] — one
    * mergeable-sketch pass) plus the EXACT per-bucket fractions
    * ([[Drift.histFractions]] — one conditional-count pass), a
    * ≤ nBuckets-row artifact on disk. Built once per baseline drop;
    * every later window's drift question is B+2 counts against these
    * literals — the baseline corpus is never rescanned. nBuckets
    * pins the build (heavy point masses can collapse quantiles, so
    * the stored bucket count may be smaller; the pin is the
    * REQUESTED geometry, which is what a caller reasons about).
    */
  def writeHist(baseline: DataFrame, valueCol: String, path: String,
                nBuckets: Int = 10, accuracy: Int = 10000): Unit = {
    val bounds = Drift.quantileBoundaries(baseline, valueCol,
      nBuckets, accuracy)
    writeHistRows(baseline.sparkSession, path, bounds,
      Drift.histCounts(baseline, valueCol, bounds), nBuckets, accuracy)
  }

  private def writeHistRows(spark: SparkSession, path: String,
                            bounds: Seq[Double], counts: Array[Long],
                            nBuckets: Int, accuracy: Int): Unit = {
    import spark.implicits._
    // one row per bucket: (bucket, lower boundary — null for the
    // open-below bucket 0, exact count, exact fraction); counts ride
    // along so appendHist can merge exactly
    val fracs = Drift.fractionsOf(counts, "histogram")
    counts.toSeq.zipWithIndex
      .map { case (n, i) =>
        (i, if (i == 0) None else Some(bounds(i - 1)), n, fracs(i)) }
      .toDF("bucket", "lower", "n", "frac")
      .coalesce(1).write.mode("errorifexists").parquet(path)
    writeMeta(spark, path, "hist",
      Seq("n_buckets" -> nBuckets, "accuracy" -> accuracy))
  }

  /** @return (boundaries, baselineFracs) ready for
    *         [[graft.api.DataStream.driftMonitor]].
    */
  def readHist(spark: SparkSession, path: String,
               nBuckets: Int = 10): (Seq[Double], Seq[Double]) = {
    val (bounds, _, fracs) = readHistFull(spark, path, nBuckets)
    (bounds, fracs)
  }

  private def readHistFull(spark: SparkSession, path: String,
                           nBuckets: Int)
      : (Seq[Double], Array[Long], Seq[Double]) = readRetrying {
    check(readMeta(spark, path), "hist",
      Seq("n_buckets" -> nBuckets), path)
    val rows = spark.read.parquet(path)
      .select("bucket", "lower", "n", "frac").orderBy("bucket")
      .collect()
    require(rows.nonEmpty, s"$path holds an empty histogram")
    (rows.drop(1).map(_.getDouble(1)).toSeq,
      rows.map(_.getLong(2)).toArray,
      rows.map(_.getDouble(3)).toSeq)
  }

  /** Append a new drop to a persisted histogram baseline: ONE
    * conditional-count pass over the new rows with the FROZEN
    * boundaries (the live sidecar's geometry — boundaries never move
    * on append, so every historical drift number stays comparable),
    * exact count merge, atomic swap. Re-fit policy: as the appended
    * fraction grows the frozen quantile boundaries drift from the
    * true quantiles — the buckets stay VALID (counts and fractions
    * are exact over them) but less evenly loaded; schedule a
    * [[writeHist]] re-fit when bucket loads skew far from 1/B.
    */
  def appendHist(newRows: DataFrame, valueCol: String,
                 path: String): Unit = {
    val spark = newRows.sparkSession
    val meta = readMeta(spark, path)
    check(meta, "hist", Seq.empty, path)
    val nBuckets = meta("n_buckets").toInt
    val accuracy = meta("accuracy").toInt
    val (bounds, live, _) = readHistFull(spark, path, nBuckets)
    val fresh = Drift.histCounts(newRows, valueCol, bounds)
    val merged = live.zip(fresh).map { case (a, b) => a + b }
    replaceWith(spark, path) { tmp =>
      writeHistRows(spark, tmp, bounds, merged, nBuckets, accuracy)
    }
  }

  /** Build and persist a baseline CATEGORY DISTRIBUTION for the
    * categorical drift monitor
    * ([[graft.api.DataStream.categoryDriftMonitor]]): the
    * top-N categories by exact count plus the pooled
    * [[Drift.OtherCategory]] row (always present, possibly 0, so the
    * artifact stays mergeable). top_n pins the build; the CATEGORY
    * SET freezes at build time — appends count new drops over the
    * frozen set (a new category rising after the freeze lands in
    * __other__ until a scheduled re-fit, the same re-fit policy as
    * [[appendHist]]).
    */
  def writeCats(baseline: DataFrame, catCol: String, path: String,
                topN: Int = 20): Unit = {
    writeCatRows(baseline.sparkSession, path,
      Drift.categoryCounts(baseline, catCol, topN), topN)
  }

  private def writeCatRows(spark: SparkSession, path: String,
                           counts: Seq[(String, Long)],
                           topN: Int): Unit = {
    import spark.implicits._
    val tot = counts.map(_._2).sum.toDouble
    require(tot > 0, "category baseline is empty")
    counts.zipWithIndex
      .map { case ((c, n), i) => (i, c, n, n / tot) }
      .toDF("rank", "category", "n", "frac")
      .coalesce(1).write.mode("errorifexists").parquet(path)
    writeMeta(spark, path, "cats", Seq("top_n" -> topN))
  }

  /** @return (category, frac) pairs ready for
    *         [[graft.api.DataStream.categoryDriftMonitor]] (the
    *         pooled __other__ row included when non-zero, matching
    *         [[Drift.categoryFractions]]).
    */
  def readCats(spark: SparkSession, path: String,
               topN: Int = 20): Seq[(String, Double)] = {
    readCatsFull(spark, path, topN)
      .filterNot { case (c, n, _) =>
        c == Drift.OtherCategory && n == 0 }
      .map { case (c, _, f) => c -> f }
  }

  private def readCatsFull(spark: SparkSession, path: String,
                           topN: Int): Seq[(String, Long, Double)] =
    readRetrying {
      check(readMeta(spark, path), "cats", Seq("top_n" -> topN), path)
      val rows = spark.read.parquet(path)
        .select("rank", "category", "n", "frac").orderBy("rank")
        .collect()
      require(rows.nonEmpty, s"$path holds an empty category baseline")
      rows.map(r => (r.getString(1), r.getLong(2), r.getDouble(3)))
        .toSeq
    }

  /** Append a new drop to a persisted category baseline: one
    * conditional-count pass over the new rows against the FROZEN
    * category set, exact count merge, atomic swap.
    */
  def appendCats(newRows: DataFrame, catCol: String,
                 path: String): Unit = {
    val spark = newRows.sparkSession
    val meta = readMeta(spark, path)
    check(meta, "cats", Seq.empty, path)
    val topN = meta("top_n").toInt
    val live = readCatsFull(spark, path, topN)
    val fresh = Drift.categoryCountsFrozen(newRows, catCol,
      live.map(_._1))
    val freshMap = fresh.toMap
    val merged = live.map { case (c, n, _) => c -> (n + freshMap(c)) }
    replaceWith(spark, path) { tmp =>
      writeCatRows(spark, tmp, merged, topN)
    }
  }

  /** Build and persist a baseline CENTROID for the embedding-drift
    * monitor ([[graft.api.DataStream.embeddingDriftMonitor]]): the
    * element-wise SUM vector of the baseline corpus's embeddings
    * ([[Drift.sumVector]] — one native-aggregate pass) plus its row
    * count, a dim-row artifact on disk. The SUM, not the mean —
    * cosine is scale-invariant and sums compose under [[appendVec]]
    * (sum-of-union = element-wise add), so a growing baseline never
    * rescans old drops. dim pins the build.
    */
  def writeVec(baseline: DataFrame, embCol: String, path: String): Unit = {
    val s = Drift.sumVector(baseline, embCol)
    val spark = baseline.sparkSession
    import spark.implicits._
    s.toSeq.zipWithIndex.map { case (v, i) => (i, v) }
      .toDF("pos", "v")
      .coalesce(1).write.mode("errorifexists").parquet(path)
    writeMeta(spark, path, "vec", Seq("dim" -> s.length))
  }

  def readVec(spark: SparkSession, path: String,
              dim: Int): Array[Double] = readRetrying {
    check(readMeta(spark, path), "vec", Seq("dim" -> dim), path)
    val rows = spark.read.parquet(path).select("pos", "v")
      .orderBy("pos").collect()
    require(rows.length == dim,
      s"$path holds ${rows.length} centroid components, sidecar " +
        s"says $dim — torn write?")
    rows.map(_.getDouble(1))
  }

  /** Append a new drop to a persisted centroid: ONE aggregate pass
    * over the new rows, element-wise add to the live sum, atomic
    * swap. dim pinned by the LIVE sidecar (a mismatched embedding
    * model must refuse, not average into nonsense).
    */
  def appendVec(newRows: DataFrame, embCol: String,
                path: String): Unit = {
    val spark = newRows.sparkSession
    val meta = readMeta(spark, path)
    check(meta, "vec", Seq.empty, path)
    val dim = meta("dim").toInt
    val fresh = Drift.sumVector(newRows, embCol)
    require(fresh.length == dim,
      s"appendVec: new drop has ${fresh.length}-dim embeddings but " +
        s"$path was built at dim=$dim — rebuild the baseline or fix " +
        "the pipeline (a silent mix corrupts the centroid)")
    val live = readVec(spark, path, dim)
    val merged = live.zip(fresh).map { case (a, b) => a + b }
    import spark.implicits._
    replaceWith(spark, path) { tmp =>
      merged.toSeq.zipWithIndex.map { case (v, i) => (i, v) }
        .toDF("pos", "v")
        .coalesce(1).write.mode("errorifexists").parquet(tmp)
      writeMeta(spark, tmp, "vec", Seq("dim" -> dim))
    }
  }

  // ─────────────────────────── incremental append ───────────────────────────
  //
  // A reference set GROWS far more often than it changes shape: a new
  // eval drop adds benchmarks, last month's heldout split joins this
  // month's. Rebuilding a shared index from the full reference corpus
  // on every drop re-pays the whole build; append processes ONLY the
  // new documents, merges with the live index's rows, and swaps
  // atomically via [[replaceWith]] — readers never see a torn or
  // partial state, and a crashed append leaves the old index intact.
  // Parameters are pinned by the LIVE index's sidecar (checked before
  // any work), so an append can't silently mix geometries.

  /** Shared append shape: read the live rows, union with the
    * newly-built rows, distinct, write at a temp sibling, swap.
    */
  private def appendUnion(spark: SparkSession, path: String,
                          kind: String, params: Seq[(String, Int)],
                          newRows: DataFrame): Unit = {
    check(readMeta(spark, path), kind, params, path)
    // materialize the merge BEFORE the swap so the union never reads
    // `path` after it has been renamed aside: parquet scans are lazy,
    // and a lazily-read `old` evaluated inside the build closure is
    // safe (the build writes to the temp sibling while `path` is
    // still live), but the distinct here also dedups new-vs-old rows
    val merged = spark.read.parquet(path)
      .unionByName(newRows).distinct()
    replaceWith(spark, path) { tmp =>
      merged.write.mode("errorifexists").parquet(tmp)
      writeMeta(spark, tmp, kind, params)
    }
  }

  /** Append a new reference drop to a live exact-digest index. */
  def appendExact(newReference: DataFrame, textCol: String,
                  path: String): Unit =
    appendUnion(newReference.sparkSession, path, "exact", Seq.empty,
      Dedup.exactReferenceIndex(newReference, textCol))

  /** Append a new reference drop to a live MinHash shingle index. */
  def appendMinhash(newReference: DataFrame, textCol: String,
                    path: String, shingleN: Int = 3): Unit =
    appendUnion(newReference.sparkSession, path, "minhash",
      Seq("shingle_n" -> shingleN),
      Dedup.minhashReferenceIndex(newReference, textCol, shingleN))

  /** Append a new reference drop to a live winnowing index. */
  def appendWinnow(newReference: DataFrame, textCol: String,
                   path: String, n: Int = 5, window: Int = 4): Unit =
    appendUnion(newReference.sparkSession, path, "winnow",
      Seq("n" -> n, "window" -> window),
      Dedup.winnowReferenceIndex(newReference, textCol, n, window))

  /** Append a new corpus drop to a live IVF ANN index: the new rows
    * are assigned to cells with the FROZEN centroids — one scan of
    * only the new drop (the [[appendKmv]] discipline), no re-fit —
    * then merged with the live assignments and swapped atomically
    * via [[replaceWith]]. Geometry (n_centroids) is pinned by the
    * live sidecar before any work. Assignment reuses the native
    * [[graft.expressions.PqAssign]] argmin with the centroid table
    * as a single-subspace codebook: nearest-centroid by squared L2,
    * ties to the lowest cell id — the same rule the KMeans fit's own
    * transform applies — as a pure scan projection (the ~KiB centroid
    * array rides as a literal; the new drop never shuffles for the
    * assignment).
    *
    * Re-fit policy: appending never re-places centroids, so as the
    * appended fraction grows the cell geometry drifts from the data
    * distribution — partial-probe RECALL degrades gracefully (cells
    * get unbalanced; full-probe results and re-rank precision are
    * unaffected, which is also why the append gate can share the
    * full-probe oracle). Schedule a full re-fit
    * (`replaceWith(spark, path)(writeIvf(corpus, …, _))`) once
    * appended rows exceed roughly a third of the index, or when
    * partial-probe recall monitoring dips.
    */
  def appendIvf(newCorpus: DataFrame, embCol: String, idCol: String,
                path: String, nCentroids: Int = 16): Unit = {
    import org.apache.spark.sql.functions.{col, element_at}
    val spark = newCorpus.sparkSession
    check(readMeta(spark, path), "ivf",
      Seq("n_centroids" -> nCentroids), path)
    val rows = spark.read.parquet(s"$path/centroids")
      .select(col("__cell"), col("__centroid")).collect()
    val cents = Array.ofDim[Array[Double]](nCentroids)
    rows.foreach { r =>
      val c = r.getInt(0)
      require(c >= 0 && c < nCentroids && cents(c) == null,
        s"$path/centroids has a duplicate or out-of-range cell id $c")
      cents(c) = r.getSeq[Double](1).toArray
    }
    (0 until nCentroids).foreach(c => require(cents(c) != null,
      s"$path/centroids is missing cell $c — not a complete IVF index"))
    val assignedNew = graft.Graft.spread(newCorpus)
      .select(col(idCol).as("neighbor_id"), col(embCol).as("__ce"))
      .withColumn("__cell", element_at(graft.functions.pq_assign(
        col("__ce"), Array(cents), normalize = false), 1))
    // lazy reads of the live subdirs are safe inside the build
    // closure — the build writes at the temp sibling while `path` is
    // still live; distinct makes re-appending the same drop a no-op
    val mergedAssignments = spark.read.parquet(s"$path/assignments")
      .unionByName(assignedNew).distinct()
    val centFrame = spark.read.parquet(s"$path/centroids")
    replaceWith(spark, path) { tmp =>
      centFrame.write.mode("errorifexists").parquet(s"$tmp/centroids")
      mergedAssignments.write.mode("errorifexists")
        .parquet(s"$tmp/assignments")
      writeMeta(spark, tmp, "ivf", Seq("n_centroids" -> nCentroids))
    }
  }

  /** Append a new corpus drop to a live PQ ANN index: the new rows
    * are encoded with the FROZEN codebooks ([[Similarity.pqEncode]] —
    * one codes-only scan of just the new drop), merged with the live
    * codes, and swapped atomically. (dim, m, n_codes) are pinned by
    * the live sidecar, so an append can never mix quantization
    * geometries — codes from a different codebook LOOK valid but
    * score garbage, the silent failure the refusal exists for.
    *
    * Re-fit policy: the codebooks stay fitted to the original
    * corpus, so quantization error on appended rows grows with
    * distribution drift — candidate RECALL degrades (the exact
    * re-rank keeps final precision exact regardless). Schedule a
    * full re-fit (`replaceWith(spark, path)(writePq(corpus, …, _))`)
    * once appended rows exceed roughly a third of the index, or when
    * recall against a brute-force probe set dips.
    */
  def appendPq(newCorpus: DataFrame, embCol: String, idCol: String,
               path: String, dim: Int, m: Int = 8,
               nCodes: Int = 16,
               rotation: Option[Array[Array[Double]]] = None): Unit = {
    val spark = newCorpus.sparkSession
    val meta = readMeta(spark, path)
    check(meta, "pq",
      Seq("dim" -> dim, "m" -> m, "n_codes" -> nCodes), path)
    // an OPQ-rotated index appends THROUGH the same rotation (read
    // the artifact back via readRotation and pass it) — the sidecar
    // refuses the mismatch both ways
    checkOpq(meta, rotation.isDefined, path, "append to")
    val cb = Similarity.collectCodebooks(
      spark.read.parquet(s"$path/codebooks"), m, nCodes)
    val mergedCodes = spark.read.parquet(s"$path/codes")
      .unionByName(Similarity.pqEncode(newCorpus, embCol, idCol, cb,
        dim, rotation))
      .distinct()
    val cbFrame = spark.read.parquet(s"$path/codebooks")
    replaceWith(spark, path) { tmp =>
      cbFrame.write.mode("errorifexists").parquet(s"$tmp/codebooks")
      mergedCodes.write.mode("errorifexists").parquet(s"$tmp/codes")
      writeMeta(spark, tmp, "pq",
        Seq("dim" -> dim, "m" -> m, "n_codes" -> nCodes) ++
          (if (rotation.isDefined) Seq("opq" -> 1) else Seq.empty))
    }
  }

  /** Append a new corpus drop to a live KMV sketch: the merged
    * sketch IS the sketch of the union (bottom-k composes), so only
    * the new rows are scanned.
    */
  def appendKmv(newCorpus: DataFrame, valueCol: String, path: String,
                k: Int = 1024): Unit = {
    import org.apache.spark.sql.functions.col
    val spark = newCorpus.sparkSession
    check(readMeta(spark, path), "kmv", Seq("k" -> k), path)
    val merged = spark.read.parquet(path).select("sketch")
      .crossJoin(newCorpus
        .agg(Sketches.kmvSketch(col(valueCol), k).as("__new")))
      .select(Sketches.kmvMerge(col("sketch"), col("__new"), k)
        .as("sketch"))
    replaceWith(spark, path) { tmp =>
      merged.write.mode("errorifexists").parquet(tmp)
      writeMeta(spark, tmp, "kmv", Seq("k" -> k))
    }
  }
}
