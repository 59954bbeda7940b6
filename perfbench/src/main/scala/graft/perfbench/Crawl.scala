package graft.perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import graft.crawl._

/** The crawl workload: one pass = one whole crawl from an empty work dir
  * through `CrawlLoop.run`, so every pass does identical work. */
object Crawl {

  /** Several small epochs over the same hosts and budget, so the fixed
    * per-epoch driver cost dominates. The latest view is compacted after
    * every epoch (the default cadence is 8), so every epoch sample after
    * the first holds a `LatestView.compact`. */
  val Steady = CrawlConfig(workDir = "", totalUrls = 3 * 2000L, epochs = 3,
    numHosts = 400, buckets = 8, budgetPerHost = 60, latestCompactEvery = 1)

  final case class Pass(wallS: Double, epochWallsS: Seq[Double],
      storedBytes: Long, failures: Seq[String])

  /** Records when each epoch's metrics row is written — the last step
    * before its commit marker. Delegates every write to `PayloadSink`. */
  private final class TimedStore extends PayloadStore {
    val marks = mutable.ArrayBuffer.empty[Long]
    def writePayload(r: Dataset[FetchResult], wd: String, e: Int): Unit = PayloadSink.writePayload(r, wd, e)
    def writeLineage(l: Dataset[PartitionLineage], wd: String, e: Int): Unit = PayloadSink.writeLineage(l, wd, e)
    def writeMetrics(m: EpochMetrics, wd: String, s: SparkSession): Unit = {
      PayloadSink.writeMetrics(m, wd, s)
      marks += System.nanoTime()
    }
    def writeSeenDelta(d: DataFrame, wd: String, e: Int): Unit = PayloadSink.writeSeenDelta(d, wd, e)
    def writeCarry(c: DataFrame, dir: String): Unit = PayloadSink.writeCarry(c, dir)
  }

  /** One timed crawl in a fresh `workDir`; the seen set and counters are
    * checked against `ref` (evaluated only then) after the clock stops.
    * Epoch sample k runs from epoch k-1's metrics write (the crawl's start
    * for k = 0) to epoch k's; the last runs on until `CrawlLoop.run`
    * returns. So a sample holds one epoch's stages plus the commit and
    * maintenance of the epoch before it (the last also its own), and the
    * samples sum to the pass's wall time. */
  def pass(spark: SparkSession, cfg: CrawlConfig, ref: => Reference): Pass = {
    val store = new TimedStore
    val t0 = System.nanoTime()
    val ms = CrawlLoop.run(spark, cfg, store = store)
    val t1 = System.nanoTime()
    val ends = store.marks.toSeq.dropRight(1) :+ t1
    val walls = (t0 +: ends).sliding(2).map(p => (p(1) - p(0)) / 1e9).toSeq
    Pass((t1 - t0) / 1e9, walls, dirBytes(Paths.get(cfg.workDir)),
      ref.check(ms) ++ ref.checkSeen(spark, cfg.workDir))
  }

  def dirBytes(p: Path): Long = {
    val s = Files.walk(p)
    try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
    finally s.close()
  }

  /** Counter invariants that hold for every epoch of every crawl. */
  def invariantFailures(m: EpochMetrics): Seq[String] = {
    val parts = m.n_dup_in_epoch + m.n_seen_skipped + m.n_robots_denied +
      m.n_admitted + m.n_deferred
    val fetched = m.n_processed + m.n_failed + m.n_rejected
    Seq(
      (m.n_candidates != parts) -> s"epoch ${m.epoch}: candidates ${m.n_candidates} != dup+seen+denied+admitted+deferred $parts",
      (m.n_admitted != fetched) -> s"epoch ${m.epoch}: admitted ${m.n_admitted} != processed+failed+rejected $fetched",
    ).collect { case (true, msg) => msg }
  }

  /** `crawl.Simulator` run on the same config and seed: the expected
    * per-epoch counters and final seen set, for any seed. */
  final class Reference(spark: SparkSession, cfg: CrawlConfig) {
    private val sim = {
      val entries = (0 until cfg.epochs).map { e =>
        e -> FrontierSynth.frontier(spark, cfg.urlsPerEpoch, cfg.numHosts,
            cfg.seed, e, epochOffset = e * cfg.urlsPerEpoch)
          .select("url", "host", "sitemap_seq", "entry_seq", "discovered_epoch")
          .collect().toSeq
          .map(r => Simulator.Entry(r.getString(0), r.getString(1),
            r.getLong(2), r.getLong(3), r.getInt(4)))
      }.toMap
      Simulator.run(entries, cfg.epochs, cfg.budgetPerHost,
        Robots.syntheticRules(cfg.numHosts, cfg.seed))
    }
    private val byStatus: Map[(Int, String), Long] =
      sim.statuses.toSeq.groupBy { case ((e, _), st) => (e, st) }
        .map { case (k, v) => k -> v.size.toLong }

    def expected(e: Int): Seq[(String, Long)] = {
      def st(s: String) = byStatus.getOrElse((e, s), 0L)
      Seq(
        "n_dup_in_epoch" -> sim.dupPerEpoch.getOrElse(e, 0L),
        "n_seen_skipped" -> sim.seenSkippedPerEpoch.getOrElse(e, 0L),
        "n_robots_denied" -> sim.deniedPerEpoch.getOrElse(e, 0L),
        "n_deferred" -> sim.deferredPerEpoch.getOrElse(e, 0L),
        "n_processed" -> st(Status.Processed),
        "n_failed" -> st(Status.Failed),
        "n_rejected" -> st(Status.Rejected))
    }

    private def actual(m: EpochMetrics): Map[String, Long] = Map(
      "n_dup_in_epoch" -> m.n_dup_in_epoch, "n_seen_skipped" -> m.n_seen_skipped,
      "n_robots_denied" -> m.n_robots_denied, "n_deferred" -> m.n_deferred,
      "n_processed" -> m.n_processed, "n_failed" -> m.n_failed,
      "n_rejected" -> m.n_rejected)

    /** Failures of one epoch's counters: invariants, then the simulator. */
    def checkEpoch(m: EpochMetrics): Seq[String] =
      invariantFailures(m) ++ expected(m.epoch).collect {
        case (k, v) if actual(m)(k) != v => s"epoch ${m.epoch}: $k ${actual(m)(k)} != simulator $v"
      }

    def check(ms: Seq[EpochMetrics]): Seq[String] =
      (if (ms.size != cfg.epochs) Seq(s"${ms.size} epochs committed, expected ${cfg.epochs}")
       else Nil) ++ ms.flatMap(checkEpoch)

    def checkSeen(spark: SparkSession, workDir: String): Seq[String] = {
      import spark.implicits._
      val got = spark.read.parquet(s"$workDir/seen/epoch=*")
        .select("url_hash").as[Long].collect().toSet
      if (got == sim.seen) Nil
      else Seq(s"seen set: ${got.size} keys vs simulator ${sim.seen.size}")
    }
  }
}
