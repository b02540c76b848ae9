package graft

import org.scalatest.funsuite.AnyFunSuite

/** Driver-contract invariants over the whole query surface. */
class ContractSpec extends AnyFunSuite with SparkSpec {

  test("every oracleSql key has a queries entry") {
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracle without query: $orphans")
  }

  test("every bench_records.json row is a query or a Bench extra row") {
    // a renamed or dropped Bench runner would silently orphan its
    // pinned record (and its spike re-run guard)
    val f = new java.io.File("bench_records.json")
    assert(f.exists(), s"no bench_records.json at ${f.getAbsolutePath}")
    import scala.jdk.CollectionConverters._
    val recorded = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(f).get("records").fieldNames().asScala
    val known = SparkEntry.queries.keySet ++ Bench.extraRows
    val orphans = recorded.filterNot(known).toSeq
    assert(orphans.isEmpty, s"records with no runner: $orphans")
  }

  test("the library reads exactly one spark.graft conf") {
    // a conf that picks between two code paths doubles what must be
    // kept correct; a second path stays only with a measurement that
    // shows it wins. cc.localEdgeLimit is the one survivor: the code
    // picks the path from the observed edge count, and the conf is how
    // specs reach the distributed loop on a small graph
    val literal = "\"(spark\\.graft\\.[^\"]*)\"".r
    def scalaFiles(d: java.io.File): Seq[java.io.File] =
      d.listFiles().toSeq.flatMap { f =>
        if (f.isDirectory) scalaFiles(f)
        else if (f.getName.endsWith(".scala")) Seq(f) else Nil
      }
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"no sources at ${root.getAbsolutePath}")
    val confs = scalaFiles(root).flatMap { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try literal.findAllMatchIn(src.mkString).map(_.group(1)).toList
      finally src.close()
    }.toSet
    assert(confs == Set("spark.graft.cc.localEdgeLimit"),
      s"spark.graft confs read by the library: $confs")
  }

  test("every monitor takes its window as a WindowShape: no session or " +
      "from-index monitor twins") {
    // a twin per window shape or per baseline source multiplies the
    // public surface by the shapes; the shape is one value and a
    // persisted baseline is what DedupIndex.readX returns
    val twin = ".*Monitor(Session|FromIndex(es)?)$".r
    val twins = classOf[graft.api.DataStream].getMethods.toSeq
      .map(_.getName).filter(twin.matches).distinct
    assert(twins.isEmpty, s"monitor twins: $twins")
    val monitors = classOf[graft.api.DataStream].getMethods.toSeq
      .filter(_.getName.endsWith("Monitor"))
    assert(monitors.map(_.getName).toSet == Set("distinctMonitor",
      "overlapMonitor", "driftMonitor", "categoryDriftMonitor",
      "embeddingDriftMonitor", "healthMonitor", "validationMonitor",
      "trendingMonitor"))
    monitors.foreach { m =>
      assert(m.getParameterTypes.contains(classOf[graft.api.WindowShape]),
        s"${m.getName} takes no WindowShape")
    }
  }

  test("entry() returns rows (driver smoke contract)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every query is deterministic across two runs (sf0.001)") {
    // catches nondeterministic ordering/tie-breaks before the driver's
    // hash compare does
    val flaky = SparkEntry.queries.keys.toSeq.sorted.filter { name =>
      def run() = SparkEntry.queries(name)(spark, sf)
        .collect().map(_.toString).toSeq
      run() != run()
    }
    assert(flaky.isEmpty, s"nondeterministic queries: $flaky")
  }
}
