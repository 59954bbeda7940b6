package graft.perfbench

import java.nio.file.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.crawl.{CrawlConfig, EpochMetrics, FrontierSynth}
import graft.functions.SimilarityFunctions

/** The per-layer metrics of a traced run. Every traced run reports the
  * whole list; a layer the workload never enters reads 0. */
object Layers {

  private val PhaseStats = Seq("wall_s" -> "s", "exec_cpu_s" -> "s",
    "shuffle_bytes_per_url" -> "B/url", "spill_bytes" -> "B", "jobs" -> "count")

  val Kernels: Seq[String] = Seq("text_stats", "word_ngrams", "minhash",
    "extract_eclis", "url_key")

  /** Every per-layer metric name with its unit, in report order. */
  val All: Seq[(String, String)] =
    TracedEpoch.Phases.flatMap(p => PhaseStats.map { case (s, u) => s"$p.$s" -> u }) ++
    Seq("sink.stored_bytes_per_url" -> "B/url",
      "crawl.driver_gap_s" -> "s", "crawl.gc_s" -> "s", "crawl.dup_frac" -> "ratio",
      "seen.skip_frac" -> "ratio", "crawl.admit_frac" -> "ratio",
      "crawl.carry_rows" -> "count", "crawl.fetch_ok_frac" -> "ratio",
      "readside.jobs" -> "count", "readside.tasks" -> "count",
      "readside.exec_cpu_s" -> "s", "readside.core_busy_frac" -> "ratio",
      "readside.driver_gap_s" -> "s", "readside.shuffle_bytes" -> "B",
      "readside.spill_bytes" -> "B", "readside.gc_s" -> "s",
      "readside.queries_s" -> "s", "sources.snapshot_s" -> "s") ++
    Readside.Ids.map(l => s"readside.${l}_s" -> "s") ++
    ("scan" +: Kernels).map(k => s"functions.${k}_s" -> "s") ++
    Seq("trace.pass_s" -> "s")

  def zeroMissing(res: Main.Result): Unit = {
    val have = res.metrics.toMap
    res.metrics.clear()
    All.foreach { case (n, u) => res.put(n, have.get(n).map(_._1).getOrElse(0.0), u) }
  }

  private def ratio(a: Long, b: Long): Double = if (b == 0) 0.0 else a.toDouble / b

  /** Phase costs of the traced epoch plus its counter ratios. */
  def crawl(tr: Tracer, m: EpochMetrics, cfg: CrawlConfig, res: Main.Result): Unit = {
    TracedEpoch.Phases.foreach { p =>
      tr.named(p).foreach { s =>
        val c = tr.total(s)
        res.put(s"$p.wall_s", s.wallS, "s")
        res.put(s"$p.exec_cpu_s", c.cpuNs / 1e9, "s")
        res.put(s"$p.shuffle_bytes_per_url", c.shuffleBytes.toDouble / cfg.urlsPerEpoch, "B/url")
        res.put(s"$p.spill_bytes", c.spillBytes.toDouble, "B")
        res.put(s"$p.jobs", c.jobs.toDouble, "count")
      }
    }
    val epoch = tr.named("crawl.epoch").head
    res.put("crawl.driver_gap_s", tr.driverGapS(epoch), "s")
    res.put("crawl.gc_s", tr.total(epoch).gcMs / 1e3, "s")
    val live = m.n_candidates - m.n_dup_in_epoch
    res.put("crawl.dup_frac", ratio(m.n_dup_in_epoch, m.n_candidates), "ratio")
    res.put("seen.skip_frac", ratio(m.n_seen_skipped, live), "ratio")
    res.put("crawl.admit_frac", ratio(m.n_admitted, live - m.n_seen_skipped), "ratio")
    res.put("crawl.carry_rows", (m.n_deferred + m.n_failed).toDouble, "count")
    res.put("crawl.fetch_ok_frac", ratio(m.n_processed, m.n_admitted), "ratio")
  }

  /** Pass totals, family sums and the named leaves of a traced pass. */
  def readside(tr: Tracer, cores: Int, res: Main.Result): Unit = {
    val pass = tr.named("readside.pass").head
    val c = tr.total(pass)
    res.put("readside.jobs", c.jobs.toDouble, "count")
    res.put("readside.tasks", c.tasks.toDouble, "count")
    res.put("readside.exec_cpu_s", c.cpuNs / 1e9, "s")
    res.put("readside.core_busy_frac", tr.busyS(pass) / (pass.wallS * cores), "ratio")
    res.put("readside.driver_gap_s", tr.driverGapS(pass), "s")
    res.put("readside.shuffle_bytes", c.shuffleBytes.toDouble, "B")
    res.put("readside.spill_bytes", c.spillBytes.toDouble, "B")
    res.put("readside.gc_s", c.gcMs / 1e3, "s")
    val entries = tr.children(pass)
    def sumOf(p: String => Boolean) = entries.filter(e => p(e.name.take(3))).map(_.wallS).sum
    res.put("readside.queries_s", sumOf(_.startsWith("q")), "s")
    res.put("sources.snapshot_s", sumOf(id => id >= "c20" && id <= "c22"), "s")
    Readside.Ids.foreach(l => res.put(s"readside.${l}_s", sumOf(_ == l), "s"))
  }

  /** A short citing sentence: the input shape `extractEclis` gets in q35. */
  private val EcliBody = "ruling ECLI:DE:BGH:2023:%d cites ecli:de:bag:2021:%d and ECLI:XX:BGH:2023:1"

  /** `graft.functions` kernels: median of three noop writes each, minus
    * the same scan with a trivial projection. The crawl's traced run times
    * the URL kernel over 20k synthetic frontier URLs, the read side's the
    * text kernels over its documents (so `functions.scan_s` is the read
    * side's scan). The MinHash input is the documents' `charShingles`,
    * written out first: `minhashSignature` composed directly on
    * `charShingles` re-evaluates the shingle expression once per hash
    * function and took minutes. */
  def kernels(spark: SparkSession, base: Path, data: Path, crawl: Boolean,
      res: Main.Result): Unit = {
    val dir = base.resolve("kernel-input").toString
    val input =
      if (crawl) FrontierSynth.frontier(spark, 20000, 400, 42L, 0).select("url")
      else spark.read.parquet(s"$data/documents.parquet").select(col("text"),
        format_string(EcliBody, col("doc_id"), col("doc_id")).as("body"),
        SimilarityFunctions.charShingles(col("text"), 5).as("shingles"))
    input.repartition(spark.sparkContext.defaultParallelism).write.parquet(dir)
    val times = Readside.kernels(spark.read.parquet(dir), crawl).map { case (name, df) =>
      Main.note(s"kernel $name")
      name -> Stats.median((0 until 3).map { _ =>
        val t = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t) / 1e9
      })
    }.toMap
    if (!crawl) res.put("functions.scan_s", times("scan"), "s")
    (times - "scan").foreach { case (k, t) => res.put(s"functions.${k}_s", t - times("scan"), "s") }
  }
}

object Stats {
  /** Median (mean of the middle two for an even count); NaN when empty. */
  def median(xs: collection.Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val m = s.size / 2
      if (s.size % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
    }

  /** Geometric mean over operations (epochs by index, or read-side
    * entries) of each one's median time over the run's passes. Every
    * operation weighs the same, so a change to any of them moves it,
    * which a median over mixed operations, sitting between two of them,
    * does not. NaN when empty. */
  def geomeanOfMedians[K](samples: collection.Seq[(K, Double)]): Double =
    if (samples.isEmpty) Double.NaN
    else {
      val meds = samples.groupBy(_._1).values.map(v => median(v.map(_._2))).toSeq
      math.exp(meds.map(math.log).sum / meds.size)
    }
}

object Json {
  private def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else v.toString

  private def any(v: Any): String = v match {
    case d: Double => num(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case s => str(s.toString)
  }

  def result(r: Main.Result): String = {
    val metrics = r.metrics.map { case (k, (v, u)) =>
      s"${str(k)}: {\"value\": ${num(v)}, \"unit\": ${str(u)}}" }.mkString("{", ", ", "}")
    val context = r.context.map { case (k, v) => s"${str(k)}: ${any(v)}" }.mkString("{", ", ", "}")
    val failures = r.failures.map(str).mkString("[", ", ", "]")
    s"""{"correct": ${r.failures.isEmpty}, "attempted": ${r.attempted}, "failed": ${r.failed}, """ +
      s""""metrics": $metrics, "context": $context, "failures": $failures}""" + "\n"
  }
}
