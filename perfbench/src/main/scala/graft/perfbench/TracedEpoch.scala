package graft.perfbench

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Dataset, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.crawl._
import graft.seen.{SeenDeletes, SeenSet}

/** `CrawlLoop.runEpoch`'s composition, stepped one layer at a time with
  * every layer boundary materialized, so each layer's jobs land in a span
  * of their own. The layer calls, their arguments and their order are the
  * epoch loop's; only the extra materializations differ, which is why
  * PerfbenchSpec checks that the counters and the seen delta come out
  * exactly as `runEpoch` writes them. Call it for the epoch after the
  * last committed one, with the previous epoch's metrics as `prior`.
  *
  * Span names are the benchmark's layer names (see perfbench/README.md). */
object TracedEpoch {

  val Phases: Seq[String] = Seq(
    "crawl.synth_key", "crawl.dedup", "seen.probe", "crawl.schedule",
    "crawl.fetch", "sink.payload", "sink.lineage", "sink.seen_delta",
    "sink.carry", "crawl.latest_delta", "seen.bloom_merge",
    "crawl.maintenance")

  def run(spark: SparkSession, cfg: CrawlConfig, epoch: Int,
      prior: Option[EpochMetrics], tr: Tracer): EpochMetrics = {
    import spark.implicits._
    val store = PayloadSink
    val sc = spark.sparkContext
    val t0 = System.nanoTime()
    val priorSeenFrac = prior.filter(_.n_candidates > 0)
      .map(p => p.n_seen_skipped.toDouble / p.n_candidates).getOrElse(0.0)
    val priorCarried = prior.map(p => p.n_deferred + p.n_failed).getOrElse(0L)
    val bcShared = sc.broadcast(Robots.syntheticRules(cfg.numHosts, cfg.seed))

    val candidates = tr.span("crawl.synth_key") {
      val slice = FrontierSynth.frontier(spark, cfg.urlsPerEpoch, cfg.numHosts,
        cfg.seed, epoch, epochOffset = epoch * cfg.urlsPerEpoch)
      val newKeyed = FrontierSynth.key(slice, cfg.buckets)
      val carried = CrawlLoop.readCarried(spark, s"${cfg.workDir}/carry/epoch=${epoch - 1}")
      val c = newKeyed.unionByName(carried).persist(StorageLevel.MEMORY_AND_DISK)
      c.count()
      c
    }

    val obsDedup = Observation(s"bench_dedup_$epoch")
    val dedupTagged = tr.span("crawl.dedup") {
      val d = Politeness.dedupFlagged(candidates)
        .observe(obsDedup, count(when(col("is_dup__"), 1)).as("dup"),
          count(lit(1)).as("total"))
        .persist(frontierLevel(spark, cfg, priorCarried))
      d.count()
      d
    }
    candidates.unpersist()
    val deduped = dedupTagged.filter(!col("is_dup__")).drop("is_dup__").as[KeyedUrl]

    val expectedPerBucket = math.max(64L, cfg.totalUrls / cfg.buckets)
    var segsFallback: Option[Dataset[(Int, Array[Byte])]] = None
    lazy val segmentsDs: Dataset[(Int, Array[Byte])] =
      CrawlLoop.loadSegmentsDs(spark, cfg, epoch - 1, expectedPerBucket).getOrElse {
        val rebuilt = SeenSet.bloomSegments(CrawlLoop.readSeen(spark, cfg.workDir, epoch),
          cfg.buckets, expectedPerBucket, cfg.bloomFpp)
          .persist(StorageLevel.MEMORY_AND_DISK)
        segsFallback = Some(rebuilt)
        rebuilt
      }
    val (seen, unseen, seenCleanup) = tr.span("seen.probe") {
      val seen = CrawlLoop.readSeen(spark, cfg.workDir, epoch)
      val (u, cleanup): (Dataset[KeyedUrl], () => Unit) =
        if (cfg.forceUpdate || seen == null) (deduped, () => ())
        else if (cfg.useBloom) {
          if (priorSeenFrac <= cfg.maxSeenFracForBroadcast)
            SeenSet.unseenTwoTierBroadcast(deduped, seen, segmentsDs)
          else SeenSet.unseenTwoTier(deduped, seen, segmentsDs)
        } else (SeenSet.unseenExact(deduped, seen), () => ())
      val p = u.persist(StorageLevel.MEMORY_AND_DISK)
      p.count()
      (seen, p, cleanup)
    }

    val obsSched = Observation(s"bench_sched_$epoch")
    val scheduled = tr.span("crawl.schedule") {
      val (ds, _) = Politeness.scheduleTracked(unseen, bcShared.value,
        cfg.budgetPerHost, sharedRules = Some(bcShared))
      val s = ds.observe(obsSched,
          count(when(col("_2") === Politeness.Sched.Denied, 1)).as("denied"),
          count(when(col("_2") === Politeness.Sched.Admitted, 1)).as("admitted"),
          count(when(col("_2") === Politeness.Sched.Deferred, 1)).as("deferred"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      s.count()
      s
    }
    val admitted = scheduled.filter(col("_2") === Politeness.Sched.Admitted)
      .select(col("_1.*"), col("_3").as("slot")).as[AdmittedUrl]
    val deferred = scheduled.filter(col("_2") === Politeness.Sched.Deferred)
      .select(col("_1.*")).as[KeyedUrl]

    val results = tr.span("crawl.fetch") {
      val r = Fetch.fetch(admitted, epoch).persist(StorageLevel.MEMORY_AND_DISK)
      r.count()
      r
    }
    tr.span("sink.payload")(store.writePayload(results, cfg.workDir, epoch))
    results.unpersist()
    seenCleanup()
    unseen.unpersist()
    dedupTagged.unpersist()

    val obsWritten = Observation(s"bench_written_$epoch")
    val obsLineage = Observation(s"bench_lineage_$epoch")
    val written = tr.span("sink.lineage") {
      val fs = new Path(cfg.workDir).getFileSystem(sc.hadoopConfiguration)
      val leaves = (0 until cfg.buckets)
        .map(b => s"${cfg.workDir}/payload/host_bucket=$b/crawl_epoch=$epoch")
        .filter(d => fs.exists(new Path(d)))
      val full =
        if (leaves.isEmpty) spark.read.parquet(s"${cfg.workDir}/payload")
          .filter(col("crawl_epoch") === epoch)
        else spark.read.option("basePath", s"${cfg.workDir}/payload").parquet(leaves: _*)
      val w = full.select(col("url_hash"), col("status"), col("n_bytes"),
          col("host"), col("host_bucket"), col("crawl_epoch"))
        .observe(obsWritten,
          count(when(col("status") === Status.Processed, 1)).as("p"),
          count(when(col("status") === Status.Failed, 1)).as("f"),
          count(when(col("status") === Status.Rejected, 1)).as("r"),
          coalesce(sum(col("n_bytes")), lit(0L)).as("b"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      store.writeLineage(PayloadSink.lineage(w, epoch)
          .observe(obsLineage, coalesce(sum(col("n_hosts")), lit(0L)).as("hosts")),
        cfg.workDir, epoch)
      w
    }
    if (cfg.maintainLatest)
      tr.span("crawl.latest_delta")(LatestView.appendDelta(spark, cfg.workDir, epoch, written))
    tr.span("sink.seen_delta") {
      store.writeSeenDelta(written.filter(col("status") === Status.Processed)
          .select(col("url_hash"), col("host_bucket").cast("int").as("host_bucket")),
        cfg.workDir, epoch)
    }
    if (cfg.useBloom && !cfg.forceUpdate) tr.span("seen.bloom_merge") {
      val deltaKeys = written.filter(col("status") === Status.Processed)
        .select(col("host_bucket").cast("int").as("host_bucket"), col("url_hash"))
      val prevSegs =
        if (seen == null) spark.emptyDataset[(Int, Array[Byte])] else segmentsDs
      SeenSet.mergeDeltaIntoSegments(deltaKeys, prevSegs, expectedPerBucket, cfg.bloomFpp)
        .toDF("host_bucket", "bloom")
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .parquet(CrawlLoop.bloomDir(cfg.workDir, epoch))
      segsFallback.foreach(_.unpersist(blocking = false))
      val fs = new Path(cfg.workDir).getFileSystem(sc.hadoopConfiguration)
      val meta = fs.create(new Path(s"${CrawlLoop.bloomDir(cfg.workDir, epoch)}/_graft_meta.json"), true)
      meta.write(
        s"""{"buckets":${cfg.buckets},"expectedPerBucket":$expectedPerBucket,"fpp":${cfg.bloomFpp}}"""
          .getBytes("UTF-8"))
      meta.close()
      fs.delete(new Path(CrawlLoop.bloomDir(cfg.workDir, epoch - 1)), true)
    }
    tr.span("sink.carry") {
      val failedKeys = written.filter(col("status") === Status.Failed).select("url_hash")
      val retryRows = admitted.toDF()
        .join(broadcast(failedKeys), Seq("url_hash"), "left_semi")
        .as[AdmittedUrl].map(_.toKeyed)
      store.writeCarry(
        deferred.toDF().withColumn("queue", lit("deferred"))
          .unionByName(retryRows.toDF().withColumn("queue", lit("retry"))),
        s"${cfg.workDir}/carry/epoch=$epoch")
    }

    val d = obsDedup.get; val s = obsSched.get
    val w = obsWritten.get; val l = obsLineage.get
    val nDup = d("dup").asInstanceOf[Long]
    val nCand = d("total").asInstanceOf[Long]
    val nDenied = s("denied").asInstanceOf[Long]
    val nAdmitted = s("admitted").asInstanceOf[Long]
    val nDeferred = s("deferred").asInstanceOf[Long]
    written.unpersist()
    val m = EpochMetrics(epoch, nCand, nDenied,
      n_dup_in_epoch = nDup,
      n_seen_skipped = nCand - nDup - nDenied - nAdmitted - nDeferred,
      n_admitted = nAdmitted,
      n_deferred = nDeferred,
      n_processed = w("p").asInstanceOf[Long],
      n_failed = w("f").asInstanceOf[Long],
      n_rejected = w("r").asInstanceOf[Long],
      bytes_written = w("b").asInstanceOf[Long],
      n_hosts = l("hosts").asInstanceOf[Long],
      duration_ms = (System.nanoTime() - t0) / 1000000L)
    store.writeMetrics(m, cfg.workDir, spark)
    commit(spark, cfg.workDir, m)
    scheduled.unpersist()
    bcShared.unpersist()

    tr.span("crawl.maintenance") {
      if (cfg.consolidateEvery > 0 && (epoch + 1) % cfg.consolidateEvery == 0)
        SeenDeletes.consolidate(spark, cfg.workDir, epoch + 1)
      if (cfg.maintainLatest && cfg.latestCompactEvery > 0 &&
          (epoch + 1) % cfg.latestCompactEvery == 0)
        LatestView.compact(spark, cfg.workDir)
    }
    m
  }

  /** The frontier cache tier `runEpoch` would pick (same estimate). */
  private def frontierLevel(spark: SparkSession, cfg: CrawlConfig,
      priorCarried: Long): StorageLevel = {
    val heap = Runtime.getRuntime.maxMemory()
    val estRows = cfg.urlsPerEpoch + priorCarried
    if (estRows * 224L <= (heap * 0.35).toLong) StorageLevel.MEMORY_AND_DISK
    else if (estRows * 96L <= (heap * 0.25).toLong) StorageLevel.MEMORY_AND_DISK_SER
    else StorageLevel.DISK_ONLY
  }

  /** The epoch loop's commit marker, so the work dir reads as committed. */
  private def commit(spark: SparkSession, workDir: String, m: EpochMetrics): Unit = {
    val fs = new Path(workDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new Path(s"$workDir/_commits"))
    val out = fs.create(new Path(s"$workDir/_commits/epoch_${m.epoch}.json"), true)
    out.write(
      s"""{"epoch":${m.epoch},"candidates":${m.n_candidates},"admitted":${m.n_admitted},"processed":${m.n_processed}}"""
        .getBytes("UTF-8"))
    out.close()
  }
}
