package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, StandardCopyOption}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.DataFrame

/** One clock for every timestamp the benchmark compares: epoch
  * milliseconds advanced by the monotonic nano timer, so event times,
  * sink receipts and span bounds never jump with wall-clock
  * adjustments.
  */
object Clock {
  private val wall0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs: Double = wall0 + (System.nanoTime() - nano0) / 1e6
}

object Stats {
  /** Linear-interpolated quantile (the `inclusive` method). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def medianOr0(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else median(xs)
}

/** Process-level readings: CPU time, peak RSS, machine load. */
object Proc {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuSeconds: Double = os.getProcessCpuTime / 1e9

  /** VmHWM: the resident-set high-water mark of this JVM, in MB. */
  def rssPeakMb: Double = statusKb("VmHWM") / 1024.0

  private def statusKb(field: String): Double =
    Files.readAllLines(Path.of("/proc/self/status")).asScala
      .find(_.startsWith(field + ":"))
      .map(_.split("\\s+")(1).toDouble).getOrElse(0.0)

  /** Peak of the heap in use right after a garbage collection (the
    * live set, summed over pools) since [[watchHeap]]: steadier than
    * VmHWM, which follows how far G1 happened to grow the heap.
    */
  @volatile private var liveHeapPeak = 0L
  def liveHeapPeakMb: Double = liveHeapPeak / 1048576.0
  def watchHeap(): Unit =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: javax.management.NotificationEmitter =>
        e.addNotificationListener((n: javax.management.Notification, _: Any) => {
          if (n.getType == com.sun.management.GarbageCollectionNotificationInfo
              .GARBAGE_COLLECTION_NOTIFICATION) {
            val info = com.sun.management.GarbageCollectionNotificationInfo
              .from(n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
            val used = info.getGcInfo.getMemoryUsageAfterGc.asScala.values
              .map(_.getUsed).sum
            if (used > liveHeapPeak) liveHeapPeak = used
          }
        }, null, null)
      case _ => ()
    }

  def loadAvg: Seq[Double] =
    Files.readString(Path.of("/proc/loadavg")).trim.split("\\s+")
      .take(3).map(_.toDouble).toSeq

  def nproc: Int = Runtime.getRuntime.availableProcessors()

  /** (steal, total) jiffies of the machine so far: the share of CPU time
    * the hypervisor gave to other guests tells a contended host apart
    * from slower code.
    */
  def cpuJiffies: (Long, Long) = {
    val f = Files.readAllLines(Path.of("/proc/stat")).get(0).trim
      .split("\\s+").drop(1).map(_.toLong)
    (if (f.length > 7) f(7) else 0L, f.sum)
  }
}

object Json {
  val mapper = new ObjectMapper()
  def read(f: File): JsonNode = mapper.readTree(f)

  /** Scala maps/seqs/options to Jackson-writable Java collections. */
  def toJava(v: Any): Any = v match {
    case m: scala.collection.Map[_, _] =>
      val out = new java.util.LinkedHashMap[String, Any]()
      m.foreach { case (k, x) => out.put(k.toString, toJava(x)) }
      out
    case s: Iterable[_] => s.map(toJava).toSeq.asJava
    case a: Array[_] => a.toSeq.map(toJava).asJava
    case Some(x) => toJava(x)
    case None => null
    case x => x
  }
  def write(v: Any): String = mapper.writeValueAsString(toJava(v))
  def writeFile(f: File, v: Any): Unit = {
    f.getParentFile.mkdirs()
    Files.writeString(f.toPath,
      mapper.writerWithDefaultPrettyPrinter().writeValueAsString(toJava(v)))
  }
}

object Files2 {
  def size(f: File): Long =
    if (!f.exists()) 0L
    else if (f.isFile) f.length()
    else Option(f.listFiles()).map(_.map(size).sum).getOrElse(0L)

  def delete(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(delete))
    f.delete()
  }

  /** Write `df` as ONE parquet file at `target` (the fixture layout the
    * library's table loader and the DuckDB oracle both read).
    */
  def writeSingleParquet(df: DataFrame, target: File): Unit = {
    val tmp = new File(target.getParentFile, "__tmp_" + target.getName)
    df.coalesce(1).write.mode("overwrite").parquet(tmp.getPath)
    val part = tmp.listFiles().filter(_.getName.endsWith(".parquet")).head
    Files.move(part.toPath, target.toPath,
      StandardCopyOption.REPLACE_EXISTING)
    delete(tmp)
  }
}
