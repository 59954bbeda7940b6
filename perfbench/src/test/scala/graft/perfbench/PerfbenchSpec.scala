package graft.perfbench

import java.nio.file.Files
import scala.util.chaining._
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.crawl.{CrawlConfig, CrawlLoop, EpochMetrics}

/** The traced epoch must be the pipeline the end-to-end runs time:
  * stepping `CrawlLoop.runEpoch`'s composition layer by layer has to
  * reproduce its counters and its seen delta exactly. */
class PerfbenchSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder().master("local[2]")
    .appName("perfbench-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
    .tap(_.sparkContext.setLogLevel("ERROR"))

  private val cfg = CrawlConfig(workDir = "", totalUrls = 6000, epochs = 4,
    numHosts = 40, buckets = 8, budgetPerHost = 25, latestCompactEvery = 4)

  /** Equal in every deterministic counter (wall-clock fields ignored). */
  private def sameCounters(a: EpochMetrics, b: EpochMetrics): Boolean =
    a.copy(duration_ms = 0, urls_per_sec = 0, progress_pct = 0, eta_ms = 0) ==
      b.copy(duration_ms = 0, urls_per_sec = 0, progress_pct = 0, eta_ms = 0)

  private def seenDelta(wd: String, epoch: Int): Seq[(Long, Int)] = {
    import spark.implicits._
    spark.read.parquet(s"$wd/seen/epoch=$epoch")
      .select($"url_hash", $"host_bucket".cast("int")).as[(Long, Int)]
      .collect().toSeq.sorted
  }

  test("traced epoch reproduces runEpoch's counters and seen delta") {
    val a = cfg.copy(workDir = Files.createTempDirectory("perfbench-a").toString)
    val b = cfg.copy(workDir = Files.createTempDirectory("perfbench-b").toString)
    val last = cfg.epochs - 1
    val full = CrawlLoop.run(spark, a)
    val prior = CrawlLoop.run(spark, b, stopAfter = last)
    val tr = new Tracer(spark.sparkContext)
    val traced = tr.span("crawl.epoch")(TracedEpoch.run(spark, b, last, prior.lastOption, tr))
    tr.finish()

    assert(sameCounters(full.last, traced), s"runEpoch=${full.last} traced=$traced")
    assert(seenDelta(a.workDir, last) == seenDelta(b.workDir, last))
    assert(new Crawl.Reference(spark, b).check(prior :+ traced).isEmpty)

    // every layer ran at least one job inside its own span
    val spans = TracedEpoch.Phases.map(p => p -> tr.named(p))
    assert(spans.forall(_._2.size == 1), spans.filter(_._2.size != 1).map(_._1))
    val idle = spans.filter { case (p, s) => p != "crawl.maintenance" && s.head.own.jobs == 0 }
    assert(idle.isEmpty, s"phases without jobs: ${idle.map(_._1)}")
    Seq(a, b).foreach(c => org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(c.workDir)))
  }

  test("job costs roll up to the parent span; driver gap counts taskless wall time") {
    val tr = new Tracer(spark.sparkContext)
    tr.span("outer") {
      tr.span("inner")(spark.range(100000).selectExpr("sum(id)").collect())
      Thread.sleep(200)
    }
    tr.finish()
    val outer = tr.named("outer").head
    val inner = tr.named("inner").head
    assert(tr.total(outer).jobs >= 1 && outer.own.jobs == 0)
    assert(tr.driverGapS(outer) >= 0.2 && tr.driverGapS(outer) <= outer.wallS)
  }
}
