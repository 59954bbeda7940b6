package graft.perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType
import graft.crawl.{CrawlConfig, CrawlLoop}

/** The benchmark's JVM side. perfbench/run.py builds and launches it:
  *
  *   graft.perfbench.Main <workload> <seed> <seconds> <trace 0|1> <base> <result.json> <golden> <data>
  *
  * One driver thread submits work in a closed loop with one client: the
  * next epoch or query starts only after the previous one finished.
  * Passes (one whole crawl, or one round of the read-side entries) repeat
  * until `seconds` have passed; the first pass runs in a fresh JVM, as in
  * `graft.Bench`'s fresh-JVM crawl protocol. All work and scratch dirs
  * live under `<base>`, which run.py deletes. The result file holds
  * `correct`, `attempted`, `failed`, `metrics` (the end-to-end set, or
  * with trace=1 the per-layer set), `context` and `failures`. */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, base: Path, out: Path, golden: Path, data: Path)

  /** Run-level outcome: ops attempted/failed, metrics, context, why. */
  final class Result {
    var attempted = 0L
    var failed = 0L
    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    val context = mutable.LinkedHashMap.empty[String, Any]
    val failures = mutable.ArrayBuffer.empty[String]
    def put(name: String, v: Double, unit: String): Unit = metrics(name) = (v, unit)
  }

  def main(argv: Array[String]): Unit = {
    val a = Args(argv(0), argv(1).toLong, argv(2).toDouble, argv(3) == "1",
      Paths.get(argv(4)).toAbsolutePath, Paths.get(argv(5)).toAbsolutePath,
      Paths.get(argv(6)).toAbsolutePath, Paths.get(argv(7)).toAbsolutePath)
    val res = new Result
    res.context("membw_gbps_1t_before") = membw()
    val cores = Runtime.getRuntime.availableProcessors()
    note("session")
    val spark = session(cores, a.base)
    res.context("nproc") = cores
    res.context("master") = spark.sparkContext.master
    res.context("xmx_bytes") = Runtime.getRuntime.maxMemory()
    try a.workload match {
      case "crawl_steady" => crawl(spark, Crawl.Steady, a, res)
      case "readside" => readside(spark, a, res)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    } finally spark.stop()
    res.context("membw_gbps_1t_after") = membw()
    Files.writeString(a.out, Json.result(res))
  }

  /** The session `graft.Bench` uses — AQE on, shuffle partitions = 2 ×
    * cores, FastLocalFileSystem — with its local and scratch dirs under
    * the run's base instead of a machine-wide tmpfs path. */
  def session(cores: Int, base: Path): SparkSession = {
    val local = Files.createDirectories(base.resolve("local"))
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", (cores * 2).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.inMemoryColumnarStorage.compressed", "false")
      .config("spark.hadoop.fs.file.impl", classOf[graft.fs.FastLocalFileSystem].getName)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", local.toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    sys.props("graft.scratch.dir") = Files.createDirectories(base.resolve("scratch")).toString
    s
  }

  /** `graft.WindowMark`'s 1-thread memory-bus reading, in GB/s. */
  private def membw(): Double = {
    val buf = new java.io.ByteArrayOutputStream()
    Console.withOut(buf)(graft.WindowMark.main(Array("300")))
    "membw_gbps_1t=([0-9.]+)".r.findFirstMatchIn(buf.toString).map(_.group(1).toDouble)
      .getOrElse(Double.NaN)
  }

  /** Progress line on stderr (run.py keeps it in the run's log). */
  def note(msg: String): Unit =
    System.err.println(f"[perfbench ${sinceJvmStartS()}%8.2f s] $msg")

  private def sinceJvmStartS(): Double =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3

  private def elapsedS(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private def cores(spark: SparkSession): Int = spark.sparkContext.defaultParallelism

  private def rmrf(p: Path): Unit = org.apache.commons.io.FileUtils.deleteQuietly(p.toFile)

  // ------------------------------------------------------------------ crawl

  private def crawl(spark: SparkSession, shape: CrawlConfig, a: Args, res: Result): Unit = {
    val cfg = shape.copy(seed = a.seed)
    val root = Files.createDirectories(a.base.resolve("crawl"))
    var n = 0
    def fresh(): CrawlConfig = { n += 1; cfg.copy(workDir = root.resolve(s"pass-$n").toString) }
    lazy val ref = { note("simulator reference"); new Crawl.Reference(spark, cfg) }
    def timedPass(): Crawl.Pass = {
      val c = fresh()
      note(s"pass $n")
      try Crawl.pass(spark, c, ref)
      catch { case e: Exception => Crawl.Pass(0, Nil, 0, Seq(s"crawl threw: $e")) }
      finally rmrf(Paths.get(c.workDir))
    }
    val setupS = sinceJvmStartS()
    res.context("fresh_urls_per_pass") = cfg.totalUrls
    res.context("epochs_per_pass") = cfg.epochs
    if (!a.trace) {
      val passes = mutable.ArrayBuffer.empty[Crawl.Pass]
      val t0 = System.nanoTime()
      while (passes.isEmpty || elapsedS(t0) < a.seconds) passes += timedPass()
      // an epoch is one operation; a failed pass fails all its epochs
      res.attempted = passes.size.toLong * cfg.epochs
      val good = passes.filter(_.failures.isEmpty)
      res.failed = (passes.size - good.size).toLong * cfg.epochs
      passes.flatMap(_.failures).foreach(res.failures += _)
      val epochs = good.flatMap(_.epochWallsS)
      val passS = Stats.median(good.map(_.wallS))
      res.put("setup_s", setupS, "s")
      res.put("pass_s", passS, "s")
      val byIndex = good.flatMap(_.epochWallsS.zipWithIndex.map(_.swap))
      res.put("op_s_geomean", Stats.geomeanOfMedians(byIndex), "s")
      res.context("passes") = passes.size
      res.context("op_samples") = epochs.size
      res.context("op_s_p50") = Stats.median(epochs)
      res.context("crawl_urls_per_s") = cfg.totalUrls / passS
      res.context("stored_bytes_per_url") = Stats.median(good.map(_.storedBytes.toDouble)) / cfg.totalUrls
      res.context("epoch_s") = epochs.map(s => f"$s%.3f").mkString(",")
    } else {
      // the epochs before the last run as in an untraced pass; the last
      // is stepped layer by layer inside spans
      val c = fresh()
      val last = cfg.epochs - 1
      note("traced pass")
      val t0 = System.nanoTime()
      val prior = CrawlLoop.run(spark, c, stopAfter = last)
      val tr = new Tracer(spark.sparkContext)
      val m = tr.span("crawl.epoch")(TracedEpoch.run(spark, c, last, prior.lastOption, tr))
      tr.finish()
      res.put("trace.pass_s", elapsedS(t0), "s")
      res.put("sink.stored_bytes_per_url", Crawl.dirBytes(Paths.get(c.workDir)).toDouble / cfg.totalUrls, "B/url")
      val failures = ref.check(prior :+ m) ++ ref.checkSeen(spark, c.workDir)
      rmrf(Paths.get(c.workDir))
      res.attempted = cfg.epochs
      res.failed = if (failures.isEmpty) 0 else cfg.epochs
      failures.foreach(res.failures += _)
      Layers.crawl(tr, m, cfg, res)
      Layers.kernels(spark, a.base, a.data, crawl = true, res)
      Layers.zeroMissing(res)
    }
  }

  // --------------------------------------------------------------- readside

  private type Out = (StructType, Array[Row])
  private type Wrap = String => (=> Out) => Out

  private def readside(spark: SparkSession, a: Args, res: Result): Unit = {
    val golden = Readside.readGolden(a.golden)
    val record = sys.props.get("perfbench.record").map(Paths.get(_))
    val dir = a.data.toString
    // Untimed warm-up: every entry once, so the timed passes find Spark's
    // classes loaded and its generated code compiled whatever the entry
    // order. Its cost is mostly driver-side class loading, planning and
    // code generation, which one thread cannot spread over the cores, so
    // the entries warm up on one thread per core. A warm-up throw is not
    // an operation; the timed passes meet it again and count it there.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(cores(spark))
    try {
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      val warmups = Readside.order(a.seed, 0).map { case (name, fn) =>
        Future {
          try { fn(spark, dir).collect(); None }
          catch { case e: Exception => Some(s"warmup_${name.take(3)}" -> e.toString) }
        }
      }
      Await.result(Future.sequence(warmups), Duration.Inf).flatten
        .foreach { case (k, v) => res.context(k) = v }
    } finally pool.shutdownNow()
    val setupS = sinceJvmStartS()
    res.context("entries_per_pass") = Readside.entries.size

    // One pass: each entry is built and its rows collected inside the
    // clock (some entries run jobs while building their DataFrame), then
    // counted and hashed against the golden file outside it. A throw or
    // a golden mismatch fails the operation and drops its time.
    val recorded = mutable.Map.empty[String, String]
    def pass(p: Int, wrap: Wrap): Seq[(String, Option[Double])] =
      Readside.order(a.seed, p).map { case (name, fn) =>
        note(s"pass $p $name")
        val t = System.nanoTime()
        try {
          val (schema, rows) = wrap(name) { val df = fn(spark, dir); (df.schema, df.collect()) }
          val s = elapsedS(t)
          val (n, hash) = Readside.digest(schema, rows)
          recorded(name) = s"$name $n $hash"
          golden.get(name) match {
            case Some((gn, gh)) if gn == n && gh == hash => name -> Some(s)
            case g =>
              res.failures += s"$name: $n rows $hash, golden ${g.getOrElse("missing")}"
              name -> None
          }
        } catch { case e: Exception =>
          res.failures += s"$name threw: $e"
          name -> None
        }
      }
    val plain: Wrap = _ => body => body

    if (!a.trace) {
      val passes = mutable.ArrayBuffer.empty[(Double, Seq[(String, Option[Double])])]
      val t0 = System.nanoTime()
      while (passes.isEmpty || elapsedS(t0) < a.seconds) {
        val tp = System.nanoTime()
        val ops = pass(passes.size + 1, plain)
        passes += ((elapsedS(tp), ops))
      }
      val ops = passes.flatMap(_._2)
      val ok = ops.flatMap(_._2)
      res.attempted = ops.size
      res.failed = ops.size - ok.size
      res.put("setup_s", setupS, "s")
      res.put("pass_s", Stats.median(passes.map(_._1)), "s")
      res.put("op_s_geomean", Stats.geomeanOfMedians(ops.collect { case (n, Some(t)) => n -> t }), "s")
      res.context("passes") = passes.size
      res.context("op_samples") = ok.size
      res.context("op_s_p50") = Stats.median(ok)
      res.context("op_s") = ops.map { case (n, t) => s"${n.take(3)}=${t.map(x => f"$x%.3f").getOrElse("failed")}" }
        .mkString(",")
    } else {
      val tr = new Tracer(spark.sparkContext)
      val ops = tr.span("readside.pass")(pass(1, name => body => tr.span(name)(body)))
      tr.finish()
      res.attempted = ops.size
      res.failed = ops.count(_._2.isEmpty)
      Layers.readside(tr, spark.sparkContext.defaultParallelism, res)
      res.put("trace.pass_s", tr.named("readside.pass").head.wallS, "s")
      Layers.kernels(spark, a.base, a.data, crawl = false, res)
      Layers.zeroMissing(res)
    }
    record.foreach(p => Files.writeString(p,
      recorded.values.toSeq.sorted.mkString("", "\n", "\n")))
  }
}
