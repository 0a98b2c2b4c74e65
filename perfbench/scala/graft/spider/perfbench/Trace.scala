package graft.spider.perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.GraftListenerBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, ShuffledHashJoinExec}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.spider.CrawlEngine
import graft.spider.core.{Corpus, CrawlConfig, HostState, RoundCounters}
import graft.spider.expr.SpiderFunctions.{bloom_sharded_might_contain, extract_page, url_canonicalize, url_host}
import graft.spider.sketch.Sketches
import graft.spider.state.{CrawlCatalog, SketchParams}
import PerfBench.{log, median, Metric, Opts}

/** Task metrics of the Spark jobs started while a span is open, per layer.
  * The benchmark labels its own thread with the layer as the job group.
  * Jobs the engine starts from its pool threads may carry another thread's
  * group, so a job is charged to the span open when it starts (the replay
  * opens one span at a time: the layer that caused it). */
final class LayerListener extends SparkListener {
  @volatile var open: String = null
  private val stageLayer = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  final class Acc {
    var shuffleBytes = 0L
    var spillBytes = 0L
    val taskMs = mutable.Map[Int, mutable.ArrayBuffer[Long]]()
  }
  val acc = mutable.Map[String, Acc]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    Option(open).orElse(group).foreach(l => e.stageIds.foreach(stageLayer.put(_, l)))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val layer = stageLayer.get(e.stageId)
    val m = e.taskMetrics
    if (layer != null && m != null) synchronized {
      val a = acc.getOrElseUpdate(layer, new Acc)
      a.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      a.spillBytes += m.diskBytesSpilled
      a.taskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer[Long]()) += e.taskInfo.duration
    }
  }

  def shuffleMb(layer: String): Double = synchronized(acc.get(layer).map(_.shuffleBytes).getOrElse(0L) / 1048576.0)
  def spillMb(layer: String): Double = synchronized(acc.get(layer).map(_.spillBytes).getOrElse(0L) / 1048576.0)

  /** Largest max÷median task time over the layer's stages that ran at
    * least four tasks of a median of 5 ms or more (shorter medians are
    * scheduling noise); 1 when no stage qualifies. */
  def skew(layer: String): Double = synchronized {
    val ratios = acc.get(layer).toSeq.flatMap(_.taskMs.values).filter(_.size >= 4).flatMap { ts =>
      val med = median(ts.map(_.toDouble).toSeq)
      if (med >= 5.0) Some(ts.max / med) else None
    }
    if (ratios.isEmpty) 1.0 else ratios.max
  }
}

/** The traced run (`--trace 1`): per-layer metrics from spans recorded in the
  * benchmark's own code around calls into each layer's entry point. */
object Trace {

  /** A span: name, parent, start and end (nanoTime). */
  final case class Span(name: String, parent: String, start: Long, end: Long) {
    def secs: Double = (end - start) / 1e9
  }

  val CrawlLayers = Seq("frontier", "fetch", "extract", "discovery", "seen", "commit", "maint")

  final class Recorder(spark: SparkSession) {
    val listener = new LayerListener
    val spans = mutable.ArrayBuffer[Span]()
    spark.sparkContext.addSparkListener(listener)

    def span[T](layer: String, parent: String)(f: => T): T = {
      val sc = spark.sparkContext
      sc.setJobGroup(layer, s"$parent/$layer", interruptOnCancel = false)
      listener.open = layer
      val t0 = System.nanoTime()
      try f finally {
        spans += Span(layer, parent, t0, System.nanoTime())
        listener.open = null
        sc.clearJobGroup()
      }
    }

    /** Self time of a layer: its spans never nest, so their summed length. */
    def selfSecs(name: String): Double = spans.filter(_.name == name).map(_.secs).sum

    /** Stops listening and writes every span to stderr: name, parent, and
      * start and end in seconds since the first span started. */
    def close(): Unit = {
      GraftListenerBridge.waitUntilEmpty(spark.sparkContext)
      spark.sparkContext.removeSparkListener(listener)
      val t0 = spans.headOption.map(_.start).getOrElse(0L)
      spans.foreach(sp => System.err.println(f"span ${sp.name} ${sp.parent} " +
        f"${(sp.start - t0) / 1e9}%.3f ${(sp.end - t0) / 1e9}%.3f"))
    }
  }

  /** A CrawlConfig field read by name, so that the benchmark does not break
    * when a strategy switch is removed from CrawlConfig (the engine then no
    * longer has that choice, and the default below is what it does). */
  private def setting[T](cfg: CrawlConfig, name: String, default: T): T =
    cfg.productElementNames.zip(cfg.productIterator).collectFirst {
      case (`name`, v) => v.asInstanceOf[T]
    }.getOrElse(default)

  /** Bytes and files under a directory; `fresh` counts only files with one
    * link (written here, not carried forward by a hard link). */
  private def du(dir: Path, fresh: Boolean = false): (Long, Long) =
    if (!Files.exists(dir)) (0L, 0L)
    else {
      val s = Files.walk(dir)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .filter(p => !fresh || Files.getAttribute(p, "unix:nlink").asInstanceOf[Int] == 1)
        .foldLeft((0L, 0L)) { case ((b, n), p) => (b + Files.size(p), n + 1) }
      finally s.close()
    }

  private def roundDir(root: String, table: String, r: Int): Path =
    Paths.get(root, table, "data", "r%05d".format(r))

  /** Wait until no Spark job is running (the staged table writes of a
    * commit run on the engine's pool threads). */
  private def awaitIdle(spark: SparkSession): Unit = {
    var quiet = 0
    while (quiet < 3) {
      Thread.sleep(10)
      quiet = if (spark.sparkContext.statusTracker.getActiveJobIds().isEmpty) quiet + 1 else 0
    }
  }

  /** Counts and sizes the replay measures beside the spans. */
  final class Tally {
    var rowsIn, dequeued, blocked, fetched, htmlBytes, links, cand, bloomNew, dups = 0L
    var historyRows, commitBytes, commitFiles, rewrittenBytes, filesDeleted = 0L
    var shuffledFetchRounds, flipRounds = 0L
  }

  /** Replays every round of the crawl, one layer entry point at a time, into
    * a fresh catalog under `dir`: each round reads the previous round's
    * committed state, and its counters must equal the engine's. Returns the
    * number of rounds whose counters differ. */
  def replay(spark: SparkSession, in: CrawlInputs, cfg: CrawlConfig,
      engine: Seq[RoundCounters], dir: String, rec: Recorder, t: Tally): Int = {
    import spark.implicits._
    val rc = new CrawlCatalog(dir, spark)
    val buckets = cfg.seenBuckets
    val params = SketchParams(buckets, cfg.bloomShards, cfg.bloomExpectedItems, cfg.bloomFpp)
    val perShard = math.max(1024L, cfg.bloomExpectedItems / cfg.bloomShards)
    val bloomOn = setting(cfg, "bloomPrefilter", true)
    def bloomOf(keys: DataFrame): Option[Array[Byte]] =
      if (!bloomOn) None
      else Some(keys.agg(Sketches.shardedBloomAgg(col("url_hash"), cfg.bloomShards, perShard,
        cfg.bloomFpp)).head().getAs[Array[Byte]](0))
    def seenRows(df: DataFrame) = df.select(col("url_hash"), col("url"))
      .withColumn("seen_bucket", CrawlEngine.seenBucketCol(col("url_hash"), buckets))

    val robots = in.robots.toDF().persist()
    val robotsRows = robots.count()
    val seeds = in.seeds.toDF().persist()
    val nSeeds = seeds.count()
    rc.commitRound(0, seeds, seenRows(seeds), spark.emptyDataset[HostState].toDF(), None,
      bloomOf(seeds), params, RoundCounters(0, 0, 0, 0, 0, 0, 0, nSeeds, 0, nSeeds, nSeeds))
    seeds.unpersist()

    var mismatches = 0
    for (r <- 1 to cfg.rounds) {
      val parent = s"round-$r"
      val frontierIn = rc.manifest(r - 1).get("tables").get("frontier").get("rows").asLong()
      val prevLinks = rc.countersOf(r - 1).links_extracted
      val history = rc.seenRowsThrough(r - 1)
      val bloomPrev = rc.readBloom(r - 1)
      val frontier = rc.readFrontier(r - 1)
      val seen = rc.readSeenBucketed(r - 1)
      val hostPrev = rc.readHostState(r - 1)
      val cached = mutable.ArrayBuffer[DataFrame]()
      def keep(df: DataFrame): DataFrame = { cached += df.persist(StorageLevel.MEMORY_AND_DISK); df }

      // frontier: robots gate, priority cutoff, per-host rank window
      val (dq, eligibleN, dequeuedN) = rec.span("frontier", parent) {
        val d = CrawlEngine.buildDequeue(spark, in.pages, robots, frontier, r, cfg,
          frontierIn, robotsRows)
        (d, d.eligible.count(), d.dequeued.count())
      }
      // the fetch join as the engine planned it for this round
      val shuffled = dq.extracted.queryExecution.sparkPlan.collectFirst {
        case _: ShuffledHashJoinExec => true
        case _: BroadcastHashJoinExec => false
      }.getOrElse(false)
      val dqSel = dq.dequeued.select("url", "url_hash", "host", "rank_in_host", "crawl_delay_ms")
      val (fetchedDf, fetchedN) = rec.span("fetch", parent) {
        val f = keep(in.pages.join(
          if (shuffled) dqSel.hint("shuffle_hash") else broadcast(dqSel), Seq("url")))
        (f, f.count())
      }
      val htmlBytes = fetchedDf.agg(coalesce(sum(length(col("html"))), lit(0L))).head().getLong(0)
      val fetchTs = timestamp_micros(
        lit(Corpus.FetchBaseMicros + r.toLong * cfg.roundLenMs * 1000L) +
          (col("rank_in_host") - 1).cast("long") * col("crawl_delay_ms") * lit(1000L))
      val (extracted, linksN) = rec.span("extract", parent) {
        val e = keep(fetchedDf
          .withColumn("page", extract_page(col("html"), col("host")))
          .withColumn("outlinks", col("page.outlinks"))
          .withColumn("etext", col("page.text"))
          .withColumn("n_links", size(col("outlinks")).cast("int"))
          .withColumn("fetch_ts", fetchTs)
          .drop("page", "html"))
        (e, e.agg(coalesce(sum("n_links"), lit(0L))).head().getLong(0))
      }
      // discovery: outlinks, canonical form, host, in-batch dedup, hash
      val (cand, candN) = rec.span("discovery", parent) {
        val c = keep(extracted
          .select(col("warc_ts").as("parent_ts"), explode(col("outlinks")).as("raw_url"))
          .withColumn("url", url_canonicalize(col("raw_url")))
          .withColumn("host", url_host(col("url")))
          .filter(col("host").isNotNull)
          .groupBy("url")
          .agg(min(col("parent_ts")).as("warc_ts"), min(col("host")).as("host"))
          .withColumn("url_hash", xxhash64(col("url"))))
        (c, c.count())
      }
      // seen: sharded Bloom prefilter + exact membership, the engine's rule
      // for the flipped (scan the history) or classic join
      val flip = prevLinks <= setting(cfg, "seenFlipMax", 2000000L) &&
        history.toDouble >= setting(cfg, "seenFlipRatio", 4.0) * math.max(1L, prevLinks)
      val bloomBc = bloomPrev.filter(_ => bloomOn)
        .map(b => spark.sparkContext.broadcast(Sketches.shardedFrom(b)))
      val (flagged, _) = rec.span("seen", parent) {
        val f = keep(CrawlEngine.flagAgainstSeen(cand,
          CrawlEngine.SeenInput.plain(seen), bloomBc, cfg, flip))
        (f, f.filter(col("is_new")).count())
      }
      val bloomPass = bloomBc.map(bc =>
        cand.filter(!bloom_sharded_might_contain(bc, col("url_hash"))).count()).getOrElse(0L)
      // admission: the per-host cap over the round's new urls (frontier work)
      val newEntries = flagged.filter(col("is_new")).select(col("url"), col("url_hash"),
        col("host"), xxhash64(col("host")).as("host_hash"),
        lit(Corpus.priorityAtRound(r)).as("priority"), lit(r).as("discovered_round"),
        col("warc_ts"))
      val (admitted, enqueuedN) = rec.span("frontier", parent) {
        val a = keep(if (cfg.maxNewPerHost > 0) CrawlEngine.capPerHost(newEntries, cfg)
          else newEntries)
        (a, a.count())
      }
      val counters = RoundCounters(r, frontierIn, frontierIn - eligibleN, dequeuedN, fetchedN,
        dequeuedN - fetchedN, linksN, candN, candN - enqueuedN, enqueuedN,
        (eligibleN - dequeuedN) + enqueuedN)
      if (counters != engine(r - 1)) {
        mismatches += 1
        log(s"replayed round $r differs from the engine's manifest:\n" +
          s"  replay $counters\n  engine ${engine(r - 1)}")
      }

      // commit: the round's tables through a staged commit
      val roundHost = extracted.groupBy("host").agg(count(lit(1)).as("n"),
        max(col("fetch_ts")).as("last_fetch_ts"), first(col("crawl_delay_ms")).as("delay"))
      val hostNext = hostPrev
        .select(col("host"), col("next_allowed_ts").as("prev_ts"),
          col("crawl_delay_ms").as("prev_delay"), col("fetched_total").as("prev_total"))
        .join(roundHost, Seq("host"), "full_outer")
        .select(col("host"), xxhash64(col("host")).as("host_hash"),
          coalesce(timestamp_micros(unix_micros(col("last_fetch_ts")) + col("delay") * lit(1000L)),
            col("prev_ts")).as("next_allowed_ts"),
          coalesce(col("delay"), col("prev_delay")).as("crawl_delay_ms"),
          (coalesce(col("prev_total"), lit(0L)) + coalesce(col("n"), lit(0L))).as("fetched_total"))
      val crawled = extracted.select(col("url"), col("url_hash"), col("host"),
        lit(r).as("round"), col("rank_in_host"), col("fetch_ts"), col("etext").as("text"),
        col("lang"), col("n_links"))
      val bloomAfter = (bloomPrev, bloomOf(admitted)) match {
        case (Some(p), Some(d)) if enqueuedN > 0 => Some(Sketches.mergeShardedBlobs(p, d))
        case (p, _) => p
      }
      val compact = cfg.compactSeenEvery > 0 && r % cfg.compactSeenEvery == 0
      val pc = rec.span("commit", parent) {
        val pc = rc.beginCommit(r)
        pc.stage("crawled", crawled)
        pc.stage("hoststate", hostNext)
        pc.stage("frontier", dq.residual.unionByName(admitted))
        pc.stage("seen", seenRows(admitted))
        if (compact) awaitIdle(spark) else pc.finalizeCommit(bloomAfter, params, counters)
        pc
      }
      // maintenance: incremental seen compaction rides the commit; expiry
      if (compact) rec.span("maint", parent) {
        pc.stageSeenCompaction(cfg.compactMaxFilesPerBucket)
        pc.finalizeCommit(bloomAfter, params, counters)
      }
      Seq("crawled", "hoststate", "frontier", "seen").foreach { tb =>
        val (b, n) = du(roundDir(dir, tb, r))
        t.commitBytes += b; t.commitFiles += n
      }
      t.rewrittenBytes += du(roundDir(dir, "seen_base", r), fresh = true)._1
      if (cfg.expireKeepLast > 0 && cfg.expireEveryRounds > 0 && r % cfg.expireEveryRounds == 0)
        expire(rc, cfg.expireKeepLast, dir, parent, rec, t)

      t.rowsIn += frontierIn; t.dequeued += dequeuedN; t.blocked += frontierIn - eligibleN
      t.fetched += fetchedN; t.htmlBytes += htmlBytes; t.links += linksN; t.cand += candN
      t.bloomNew += bloomPass; t.dups += candN - enqueuedN; t.historyRows = history
      if (shuffled) t.shuffledFetchRounds += 1
      if (flip) t.flipRounds += 1
      cached.foreach(_.unpersist())
      dq.eligible.unpersist(); dq.hb.unpersist(); dq.ranked.unpersist(); dq.extracted.unpersist()
      bloomBc.foreach(_.destroy())
    }
    if (cfg.expireKeepLast > 0) expire(rc, cfg.expireKeepLast, dir, "post-crawl", rec, t)
    robots.unpersist()
    mismatches
  }

  private def expire(rc: CrawlCatalog, keepLast: Int, dir: String, parent: String,
      rec: Recorder, t: Tally): Unit = {
    val before = du(Paths.get(dir))._2
    rec.span("maint", parent)(rc.expireSnapshots(keepLast))
    t.filesDeleted += before - du(Paths.get(dir))._2
  }

  /** Per-layer metrics: every name, zero where the workload has no such
    * work, so all workloads print the same set. */
  private def layerMetrics(rec: Option[Recorder], t: Tally, queries: Map[String, Double],
      overhead: Double, untracedSecs: Double, roundGaps: Seq[Double] = Nil): Seq[Metric] = {
    def self(l: String) = rec.map(_.selfSecs(l)).getOrElse(0.0)
    def shuffle(l: String) = rec.map(_.listener.shuffleMb(l)).getOrElse(0.0)
    def skew(l: String) = rec.map(_.listener.skew(l)).getOrElse(1.0)
    def ratio(a: Long, b: Long) = if (b > 0) a.toDouble / b else 0.0
    val layerSum = CrawlLayers.map(self).sum + queries.values.sum
    Seq(
      Metric("frontier.busy_s", self("frontier"), "s"),
      Metric("frontier.rows_in", t.rowsIn.toDouble, "count"),
      Metric("frontier.rows_out", t.dequeued.toDouble, "count"),
      Metric("frontier.robots_blocked", t.blocked.toDouble, "count"),
      Metric("frontier.shuffle_mb", shuffle("frontier"), "MB"),
      Metric("frontier.spill_mb", rec.map(_.listener.spillMb("frontier")).getOrElse(0.0), "MB"),
      Metric("frontier.skew", skew("frontier"), "ratio"),
      Metric("fetch.busy_s", self("fetch"), "s"),
      Metric("fetch.rows_out", t.fetched.toDouble, "count"),
      Metric("fetch.useful_ratio", ratio(t.fetched, t.dequeued), "ratio"),
      Metric("fetch.shuffle_mb", shuffle("fetch"), "MB"),
      Metric("fetch.skew", skew("fetch"), "ratio"),
      Metric("fetch.shuffled_rounds", t.shuffledFetchRounds.toDouble, "count"),
      Metric("extract.busy_s", self("extract"), "s"),
      Metric("extract.mb_in", t.htmlBytes / 1048576.0, "MB"),
      Metric("extract.links_out", t.links.toDouble, "count"),
      Metric("discovery.busy_s", self("discovery"), "s"),
      Metric("discovery.links_in", t.links.toDouble, "count"),
      Metric("discovery.candidates_out", t.cand.toDouble, "count"),
      Metric("seen.busy_s", self("seen"), "s"),
      Metric("seen.bloom_new_ratio", ratio(t.bloomNew, t.cand), "ratio"),
      Metric("seen.dup_ratio", ratio(t.dups, t.links), "ratio"),
      Metric("seen.history_rows", t.historyRows.toDouble, "count"),
      Metric("seen.shuffle_mb", shuffle("seen"), "MB"),
      Metric("seen.flip_rounds", t.flipRounds.toDouble, "count"),
      Metric("commit.busy_s", self("commit"), "s"),
      Metric("commit.mb_written", t.commitBytes / 1048576.0, "MB"),
      Metric("commit.files", t.commitFiles.toDouble, "count"),
      Metric("maint.busy_s", self("maint"), "s"),
      Metric("maint.mb_rewritten", t.rewrittenBytes / 1048576.0, "MB"),
      Metric("maint.files_deleted", t.filesDeleted.toDouble, "count")) ++
    QuerySweep.Kernels.map(q => Metric(s"datapipe.${q}_s", queries.getOrElse(q, 0.0), "s")) ++
    Seq(
      Metric("datapipe.dedup_s", QuerySweep.DedupLeaves.map(queries.getOrElse(_, 0.0)).sum, "s"),
      Metric("trace.overhead_s", overhead, "s"),
      Metric("trace.layer_sum_s", layerSum, "s"),
      Metric("trace.overlap_s", untracedSecs - layerSum, "s"),
      Metric("trace.round_p50_s", if (roundGaps.isEmpty) 0.0 else median(roundGaps), "s"),
      Metric("trace.rounds", roundGaps.size.toDouble, "count"))
  }

  /** Traced run of a crawl workload (after the warm-up crawl): one untraced
    * crawl, the same crawl with the layer listener on (their wall-time
    * difference is the tracing overhead), then the replay. Returns the
    * metrics and the number of failed checks (replayed rounds that differ
    * count as one). */
  def crawl(spark: SparkSession, o: Opts, in: CrawlInputs, cfg: CrawlConfig,
      onePass: () => Option[CrawlPass]): (Seq[Metric], Int) = {
    val untraced = onePass()
    val rec = new Recorder(spark)
    val traced = rec.span("crawl", "run")(onePass())
    val t = new Tally
    val mismatches = untraced.map(u =>
      replay(spark, in, cfg, u.counters, s"${o.work}/replay", rec, t)).getOrElse(1)
    rec.close()
    val overhead = (for (u <- untraced; tr <- traced) yield tr.secs - u.secs).getOrElse(0.0)
    log(f"replayed ${cfg.rounds} rounds, $mismatches differ; layer seconds " +
      CrawlLayers.map(l => f"$l ${rec.selfSecs(l)}%.2f").mkString(", "))
    (layerMetrics(Some(rec), t, Map.empty, overhead, untraced.map(_.roundGaps.sum).getOrElse(0.0),
      untraced.map(_.roundGaps).getOrElse(Nil)),
      if (mismatches == 0) 0 else 1)
  }

  /** Traced run of query_sweep (after a warm-up sweep): one untraced sweep,
    * then one with each query in its own span. Returns the metrics and both
    * sweeps. */
  def querySweep(spark: SparkSession, sweep: Option[Recorder] => QuerySweep.Sweep)
      : (Seq[Metric], Seq[QuerySweep.Sweep]) = {
    val untraced = sweep(None)
    val rec = new Recorder(spark)
    val traced = sweep(Some(rec))
    rec.close()
    val times = traced.collect { case (k, Some((s, _))) => k -> s }.toMap
    val tracedSecs = times.values.sum
    val untracedSecs = untraced.flatMap(_._2.map(_._1)).sum
    (layerMetrics(None, new Tally, times, tracedSecs - untracedSecs, untracedSecs),
      Seq(untraced, traced))
  }
}
