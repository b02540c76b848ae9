package perfbench

import java.io.File

import org.apache.spark.sql.SparkSession

/** What one workload run hands back: its checked operations, its
  * end-to-end metrics, its per-layer metrics (traced runs only) and
  * anything else worth keeping in the run artifact (named readings,
  * sample counts, spans).
  */
final case class Outcome(attempted: Long, failed: Long,
                         e2e: Map[String, Double],
                         layer: Map[String, Double],
                         extra: Map[String, Any])

/** Everything a workload needs to know about its run. */
final case class RunCtx(workload: String, seed: Long, seconds: Int,
                        trace: Boolean, params: Params, work: File,
                        artifacts: File, mainEntryMs: Double) {
  def cores: String = params.int("cores").toString
  def setupPasses: Int = params.int("setup_passes")
  def tag: String = s"$workload-seed$seed-trace${if (trace) 1 else 0}"
  def dir(name: String): File = { val f = new File(work, name); f.mkdirs(); f }
}

/** Entry point: `perfbench.Main --workload W --seed N --seconds S
  * --trace 0|1 --params workloads.json --work DIR --artifacts DIR`.
  * Prints one `PERFBENCH_RESULT {...}` line on stdout and writes the
  * stamped run artifact.
  */
object Main {
  def main(args: Array[String]): Unit =
    try run(args)
    catch { case e: Throwable =>
      e.printStackTrace()
      // Spark leaves non-daemon threads behind; do not wait for them
      System.exit(1)
    }

  private def run(args: Array[String]): Unit = {
    val entry = Clock.nowMs
    val a = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val ctx = RunCtx(workload, a("seed").toLong, a("seconds").toInt,
      a("trace") == "1", Params.load(new File(a("params")), workload),
      new File(a("work")), new File(a("artifacts")), entry)
    val load0 = Proc.loadAvg
    val jiffies0 = Proc.cpuJiffies
    Proc.watchHeap()
    val out = workload match {
      case "window-steady" => WindowSteady.run(ctx)
      case "curation-batch" => CurationBatch.run(ctx)
      case other => throw new IllegalArgumentException(s"workload $other")
    }
    SparkSession.getActiveSession.foreach(_.stop())
    val e2e = out.e2e
    val stamp = Map("workload" -> workload, "seed" -> ctx.seed,
      "seconds" -> ctx.seconds, "trace" -> ctx.trace, "nproc" -> Proc.nproc,
      "loadavg_start" -> load0, "loadavg_end" -> Proc.loadAvg,
      "steal_share" -> {
        val (steal1, total1) = Proc.cpuJiffies
        (steal1 - jiffies0._1).toDouble / math.max(1L, total1 - jiffies0._2)
      },
      "rss_peak_mb" -> Proc.rssPeakMb, "heap_peak_mb" -> Proc.liveHeapPeakMb,
      "params" -> ctx.params.values)
    val result = Map("attempted" -> out.attempted, "failed" -> out.failed,
      "metrics" -> (if (ctx.trace) out.layer else e2e))
    Json.writeFile(new File(ctx.artifacts, s"${ctx.tag}.json"),
      stamp ++ result ++ out.extra ++ Map("e2e" -> e2e))
    println("PERFBENCH_RESULT " + Json.write(result))
    System.out.flush()
    // Spark leaves non-daemon threads behind; the run is over
    System.exit(0)
  }
}
