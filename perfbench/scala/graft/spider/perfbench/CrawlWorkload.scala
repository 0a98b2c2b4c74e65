package graft.spider.perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.spider.{CrawlDriver, CrawlOracle}
import graft.spider.core.{Corpus, CrawlConfig, FrontierEntry, Hash64, RobotsRule, RoundCounters}
import graft.spider.expr.SpiderFunctions.{url_host, wrap_html}
import graft.spider.state.CrawlCatalog
import graft.spider.synth.PagesSynth
import PerfBench.{log, median, seconds, Metric, Opts, Result}

/** The crawl engine's generated inputs: everything `CrawlDriver.run` gets. */
final case class CrawlInputs(pages: DataFrame, seeds: Dataset[FrontierEntry],
    robots: Dataset[RobotsRule]) {
  def release(): Unit = Seq(pages, seeds, robots)
    .flatMap(org.apache.spark.sql.GraftColumnBridge.checkpointRdd(_))
    .foreach(_.unpersist(blocking = true))
}

/** A catalog that notes when each round's manifest is committed. The commit
  * is the rename inside `persistManifestNode`, so the gaps between these
  * stamps are the engine's round times as a reader of the catalog sees them
  * (expiration later deletes old manifests, so they cannot be read back). */
final class TimedCatalog(root: String, spark: SparkSession) extends CrawlCatalog(root, spark) {
  val commits = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long)]()
  override protected def persistManifestNode(round: Int, json: String): Unit = {
    super.persistManifestNode(round, json)
    commits.add(round -> System.nanoTime())
  }
}

/** One `CrawlDriver.run` call (its seconds less steal time) and what it
  * committed. */
final case class CrawlPass(secs: Double, counters: Seq[RoundCounters],
    crawledHash: (Long, Long), roundGaps: Seq[Double]) {
  def fetched: Long = counters.map(_.fetched).sum
}

object CrawlWorkload {

  /** The crawl_skew corpus and crawl. One mega-host holds `megaPermille`
    * per mille of the pages; one trap host links into an unbounded space of
    * URLs that no page answers. Short rounds give every host a budget of 2
    * to 6 fetches, `seedsPerHost` is above every budget so the budgets bind
    * from round 1 (the fetch volume does not depend on the seed), and the
    * admission cap, seen compaction and snapshot expiry all act inside the
    * crawl. Only workload-shape fields of CrawlConfig are set: rounds,
    * roundLenMs, nSeeds, maxNewPerHost and the maintenance cadence. */
  final case class SkewShape(pages: Long, hosts: Int, megaPermille: Int,
      popularPages: Long, popularPct: Int, trapLinks: Int, seedsPerHost: Int,
      rounds: Int, roundLenMs: Long, maxNewPerHost: Int, maintEvery: Int, keepLast: Int)

  val skew = SkewShape(pages = 10000L, hosts = 40, megaPermille = 400,
    popularPages = 400L, popularPct = 60, trapLinks = 12, seedsPerHost = 10,
    rounds = 4, roundLenMs = 3000L, maxNewPerHost = 30, maintEvery = 2, keepLast = 3)

  /** Setup repetitions: setup_s is the median of these. */
  val SetupReps = 3

  /** Rounds of the untimed warm-up crawl. The first round in a JVM pays
    * most of the JIT and codegen work, and how long that takes swings from
    * run to run far more than the crawl itself. */
  val WarmupRounds = 1

  def config(nSeeds: Int): CrawlConfig =
    CrawlConfig(rounds = skew.rounds, roundLenMs = skew.roundLenMs, nSeeds = nSeeds,
      maxNewPerHost = skew.maxNewPerHost, compactSeenEvery = skew.maintEvery,
      expireEveryRounds = skew.maintEvery, expireKeepLast = skew.keepLast)

  // ---------------------------------------------------------------- inputs

  /** The skewed corpus. Host k is `h<k>.example.com`; the seed picks which
    * host is the mega-host and which the trap, and every link target. */
  def skewPages(spark: SparkSession, docsDir: String, seed: Long): DataFrame = {
    val s = skew
    val mega = Hash64.pmod(Hash64.string(s"mega#$seed"), s.hosts)
    val trap = (mega + 1 + Hash64.pmod(Hash64.string(s"trap#$seed"), s.hosts - 1)) % s.hosts
    val docs = spark.read.parquet(s"$docsDir/documents.parquet").select("doc_id", "text", "lang")
    val nDocs = docs.count()
    def hostOf(i: org.apache.spark.sql.Column) = concat(lit("h"),
      when(pmod(xxhash64(i, lit(seed)), lit(1000L)) < s.megaPermille, lit(mega))
        .otherwise(pmod(xxhash64(i, lit(seed + 1)), lit(s.hosts.toLong))).cast("string"),
      lit(".example.com"))
    def urlOf(i: org.apache.spark.sql.Column) =
      concat(lit("https://"), hostOf(i), lit("/doc/"), i.cast("string"))
    val trapHost = s"h$trap.example.com"
    val base = spark.range(s.pages).select(col("id").as("i"))
      .withColumn("host", hostOf(col("i")))
      .withColumn("url", urlOf(col("i")))
      .withColumn("doc_id", pmod(col("i"), lit(nDocs)))
    // normal pages: 1-4 links, popularPct% of them into a small popular set
    // (so most discoveries repeat), the rest uniform over the corpus; trap
    // pages: `trapLinks` fresh URLs that no page answers
    val t = xxhash64(col("url"), col("j"), lit(seed))
    val normal = base.filter(col("host") =!= trapHost)
      .select(col("i"), explode(sequence(lit(1),
        (pmod(xxhash64(col("url")), lit(4L)) + 1).cast("int"))).as("j"), col("url"))
      .withColumn("k", when(pmod(t, lit(100L)) < s.popularPct,
          pmod(xxhash64(t, lit(1L)), lit(s.popularPages)))
        .otherwise(pmod(xxhash64(t, lit(2L)), lit(s.pages))))
      .select(col("i"), col("j"), urlOf(col("k")).as("tgt"))
    val trapped = base.filter(col("host") === trapHost)
      .select(col("i"), explode(sequence(lit(1), lit(s.trapLinks))).as("j"))
      .select(col("i"), col("j"), concat(lit(s"https://$trapHost/cal/"),
        col("i").cast("string"), lit("/"), col("j").cast("string")).as("tgt"))
    val links = normal.unionByName(trapped).groupBy("i")
      .agg(transform(sort_array(collect_list(struct(col("j"), col("tgt")))),
        x => x.getField("tgt")).as("outlinks"))
    base.join(broadcast(docs), "doc_id").join(links, "i")
      .withColumn("warc_ts", timestamp_micros(
        lit(Corpus.WarcBaseMicros) + col("i") * lit(Corpus.MicrosPerMinute)))
      .withColumn("html", wrap_html(col("i"), col("text"), col("outlinks"), col("host")))
      .select("url", "warc_ts", "html", "text", "lang")
  }

  /** Seeds: `perHost` pages of every host, chosen by a hash of (url, seed). */
  def seeds(spark: SparkSession, pages: DataFrame, perHost: Int, seed: Long,
      cfg: CrawlConfig): Dataset[FrontierEntry] = {
    import spark.implicits._
    val w = Window.partitionBy("host").orderBy(col("pick"), col("url"))
    pages.select(col("url"), col("warc_ts"))
      .withColumn("host", url_host(col("url")))
      .withColumn("pick", xxhash64(col("url"), lit(seed)))
      .withColumn("n", row_number().over(w))
      .filter(col("n") <= perHost)
      .select(col("url"), xxhash64(col("url")).as("url_hash"), col("host"),
        xxhash64(col("host")).as("host_hash"), lit(cfg.seedPriority).as("priority"),
        lit(0).as("discovered_round"), col("warc_ts"))
      .as[FrontierEntry]
  }

  /** Build and materialize the inputs: pages, seeds, robots rules. Each is
    * an eager local checkpoint, so the engine gets cached data behind a
    * one-node plan, as if it had read them from storage, and none of the
    * generator's plan is analyzed again inside the crawl. */
  def inputs(spark: SparkSession, o: Opts): CrawlInputs = {
    val p0 = skewPages(spark, s"${o.data}/crawl", o.seed)
    val par = spark.sparkContext.defaultParallelism
    val p = (if (p0.rdd.getNumPartitions < par) p0.repartition(par) else p0)
      .localCheckpoint(eager = true)
    val sd = seeds(spark, p, skew.seedsPerHost, o.seed, config(0))
      .localCheckpoint(eager = true)
    val rb = PagesSynth.robotsFor(spark,
      p.select(url_host(col("url")).as("host")).distinct()).localCheckpoint(eager = true)
    CrawlInputs(p, sd, rb)
  }

  // ------------------------------------------------------------ one crawl

  /** Order-insensitive digest of a crawled table: (rows, xor of a hash of
    * url_hash, round, rank_in_host and a hash of the text). */
  def crawledHash(df: DataFrame): (Long, Long) = {
    val r = df.select(xxhash64(col("url_hash"), col("round"), col("rank_in_host"),
        xxhash64(col("text"))).as("h"))
      .agg(count(lit(1)), coalesce(bit_xor(col("h")), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  def crawl(spark: SparkSession, in: CrawlInputs, cfg: CrawlConfig, dir: String): CrawlPass = {
    var cat: TimedCatalog = null
    val (_, secs) = PerfBench.timed(CrawlDriver.run(spark, in.pages, in.seeds, in.robots, cfg,
      dir, (d, s) => { cat = new TimedCatalog(d, s); cat }))
    val counters = (1 to cfg.rounds).map(cat.countersOf)
    val hash = crawledHash(cat.readCrawled(cfg.rounds))
    val stamps = cat.commits.asScala.toSeq.sortBy(_._1).map(_._2)
    val gaps = stamps.zip(stamps.drop(1)).map { case (a, b) => (b - a) / 1e9 }
    CrawlPass(secs, counters, hash, gaps)
  }

  def deleteTree(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.deleteIfExists(f))
      finally s.close()
    }
  }

  // ---------------------------------------------------------------- oracle

  /** The single-threaded reference crawl over the same generated pages and
    * seeds. */
  def oracle(spark: SparkSession, pages: DataFrame, seeds: Dataset[FrontierEntry],
      cfg: CrawlConfig): CrawlOracle.Result = {
    import spark.implicits._
    val ps = pages.select(col("url"), unix_micros(col("warc_ts")), col("html"),
        col("text"), col("lang")).collect()
      .map(r => CrawlOracle.OraclePage(r.getString(0), r.getLong(1),
        r.getAs[Array[Byte]](2), r.getString(3), r.getString(4)))
    val ss = seeds.toDF().select(col("url"), col("url_hash"), col("host"), col("priority"),
        col("discovered_round"), unix_micros(col("warc_ts"))).collect()
      .map(r => CrawlOracle.Entry(r.getString(0), r.getLong(1), r.getString(2),
        r.getInt(3), r.getInt(4), r.getLong(5)))
    CrawlOracle.run(ps.toSeq, ss.toSeq, cfg)
  }

  /** The oracle's counters and crawled digest through round `rounds`. */
  def expected(spark: SparkSession, res: CrawlOracle.Result,
      rounds: Int): (Seq[RoundCounters], (Long, Long)) = {
    import spark.implicits._
    val crawled = res.crawled.filter(_.round <= rounds)
      .map(c => (c.urlHash, c.round, c.rankInHost, c.text))
      .toDF("url_hash", "round", "rank_in_host", "text")
    (res.counters.take(rounds), crawledHash(crawled))
  }

  // ----------------------------------------------------------- the workload

  def run(spark: SparkSession, o: Opts): Result = {
    // setup: corpus build + page cache + seeds + robots, several times (once
    // in the traced run, which does not report setup_s); the last build is
    // kept for the timed region
    var in: CrawlInputs = null
    val setupSecs = (1 to (if (o.trace) 1 else SetupReps)).map { _ =>
      if (in != null) in.release()
      val (built, secs) = PerfBench.timed(inputs(spark, o))
      in = built
      secs
    }
    val nSeeds = in.seeds.count().toInt
    val cfg = config(nSeeds)

    // output check: the single-threaded oracle on the same inputs; every
    // engine crawl must match it through the rounds it ran
    var attempted = 0L
    var failed = 0L
    val reference = oracle(spark, in.pages, in.seeds, cfg)
    var pass = 0
    def onePass(c: CrawlConfig): Option[CrawlPass] = {
      pass += 1
      val dir = s"${o.work}/state-$pass"
      attempted += 1
      val p =
        try Some(crawl(spark, in, c, dir))
        catch { case e: Exception =>
          log(s"crawl $pass failed: $e"); None }
      finally deleteTree(dir)
      val want = expected(spark, reference, c.rounds)
      val ok = p.exists(q => q.counters == want._1 && q.crawledHash == want._2)
      if (!ok) {
        failed += 1
        log(s"crawl $pass differs from the oracle:\n" +
          s"  engine ${p.map(q => s"${q.counters.mkString(" ")} ${q.crawledHash}")}\n" +
          s"  oracle ${want._1.mkString(" ")} ${want._2}")
      }
      p
    }
    log(s"setup done (${setupSecs.map(s => f"$s%.2f").mkString(" ")} s), oracle ready")
    // warm-up: a one-round crawl over the same inputs, checked, not timed
    onePass(cfg.copy(rounds = WarmupRounds))
    if (o.trace) {
      val (metrics, replayFailed) = Trace.crawl(spark, o, in, cfg, () => onePass(cfg))
      return Result(attempted + 1, failed + replayFailed, metrics)
    }

    val passes = Seq.newBuilder[CrawlPass]
    var heapMb = 0.0
    val t0 = System.nanoTime()
    do {
      onePass(cfg).foreach(passes += _)
      heapMb = math.max(heapMb, PerfBench.liveHeapMb())
    } while (seconds(t0) < o.seconds)
    val ps = passes.result()
    if (ps.isEmpty) return Result(attempted, failed, Nil)
    val gaps = ps.flatMap(_.roundGaps)
    log(f"${ps.size} timed crawls, round gaps ${gaps.map(g => f"$g%.2f").mkString(" ")}, " +
      f"fetched ${ps.head.fetched}/crawl, crawl secs ${ps.map(_.secs).mkString(" ")}")
    Result(attempted, failed, Seq(
      Metric("throughput_per_s", median(ps.map(p => p.fetched / p.secs)), "1/s"),
      Metric("setup_s", median(setupSecs), "s"),
      Metric("live_heap_mb", heapMb, "MB")))
  }
}
