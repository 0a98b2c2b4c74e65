package graft.spider.perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkEntry
import PerfBench.{log, median, seconds, Metric, Opts, Result}

/** query_sweep: declared `SparkEntry.queries` that run the datapipe kernels,
  * over the sf0.01 tables in perfbench/data/query, one after another in an
  * order picked by the seed. Each result is consumed in full by an
  * order-insensitive digest, which is checked against
  * perfbench/expected/query_sweep.tsv. LSH state is released between
  * sweeps, as graft.Bench does, so every sweep builds it cold.
  *
  * The queries: the six Dedup leaves and one query each of LinkRank,
  * Similarity, TextStats and Multimodal. The other declared queries are
  * left out to fit the benchmark's time budget: one sweep of all of them
  * takes about 45 s from a cold JVM on a 4-core box, and seven need the
  * crawl catalogs of `Demos.prewarm`, about 130 s more. */
object QuerySweep {

  val Kernels = Seq("dedup_exact", "dedup_canonical", "dedup_clusters", "dedup_minhash",
    "dedup_simhash", "host_mirror", "link_rank", "embed_ann_lsh", "text_quality",
    "multimodal_features")

  /** The Dedup leaves whose sum is `datapipe.dedup_s`. */
  val DedupLeaves = Kernels.take(6)

  /** The tables the kernel queries read. */
  val Tables = Seq("documents", "embeddings")

  val SetupReps = 3

  /** Expected (rows, digest) per query: perfbench/expected/query_sweep.tsv. */
  def expected(o: Opts): Map[String, (Long, Long)] = {
    val f = Paths.get(o.data).resolveSibling("expected").resolve("query_sweep.tsv")
    Files.readAllLines(f).toArray.toSeq.map(_.toString).filter(_.nonEmpty).map { l =>
      val Array(k, n, h) = l.split("\t"); k -> (n.toLong, h.toLong)
    }.toMap
  }

  /** A column in a form that hashes the same on every run: floating-point
    * values cut to 6 significant digits (aggregation order may move their
    * last bits), maps and structs as JSON (xxhash64 takes no maps). */
  private def stable(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType => format_string("%.6g", c)
    case ArrayType(DoubleType | FloatType, _) => transform(c, x => format_string("%.6g", x))
    case _: MapType | _: StructType | ArrayType(_: StructType, _) => to_json(c)
    case _ => c
  }

  /** Order-insensitive digest of a result: (rows, xor of per-row hashes). */
  def digest(df: DataFrame): (Long, Long) = {
    val cols = df.schema.fields.toSeq.map(f => stable(col(s"`${f.name}`"), f.dataType))
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val r = df.select(h.as("h")).agg(count(lit(1)), coalesce(bit_xor(col("h")), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  /** Per query: its seconds (less steal time) and output digest, or None if
    * it threw. */
  type Sweep = Seq[(String, Option[(Double, (Long, Long))])]

  /** One sweep. The digest consumes every column of every row, so what is
    * timed is the full materialization (no count-side pruning). With a
    * recorder, each query runs in its own span. LSH state is released
    * afterwards, so the next sweep builds it again. */
  def sweep(spark: SparkSession, dir: String, order: Seq[String],
      rec: Option[Trace.Recorder] = None): Sweep = {
    val out = order.map { k =>
      def once(): Option[(Double, (Long, Long))] =
        try {
          val (d, secs) = PerfBench.timed(digest(SparkEntry.queries(k)(spark, dir)))
          Some((secs, d))
        } catch { case e: Exception => log(s"query $k failed: $e"); None }
      k -> rec.fold(once())(_.span(k, "sweep")(once()))
    }
    graft.datapipe.Dedup.releaseLshState()
    out
  }

  /** Copy the tables into a fresh directory: Demos caches its page corpus
    * per directory, so each setup repetition builds it anew. */
  def tablesCopy(o: Opts, rep: Int): String = {
    val dst = Paths.get(o.work, s"tables-$rep")
    Files.createDirectories(dst)
    Tables.foreach(t => Files.copy(Paths.get(o.data, "query", s"$t.parquet"),
      dst.resolve(s"$t.parquet"), StandardCopyOption.REPLACE_EXISTING))
    dst.toString
  }

  def run(spark: SparkSession, o: Opts): Result = {
    // setup: the synthesized page corpus the demos share (cached per
    // directory), built by the first query that reads it; several times,
    // once in the traced run, which does not report setup_s
    var dir = ""
    val setupSecs = (1 to (if (o.trace) 1 else SetupReps)).map { rep =>
      dir = tablesCopy(o, rep)
      PerfBench.timed(SparkEntry.queries("scan_pages")(spark, dir).write.format("noop")
        .mode("overwrite").save())._2
    }
    val order = new scala.util.Random(o.seed).shuffle(Kernels)
    val record = sys.env.contains("PERFBENCH_RECORD")
    val want = if (record) Map.empty[String, (Long, Long)] else expected(o)
    /** Failed queries of a sweep: thrown, or output not as recorded. */
    def failures(s: Sweep): Int = s.count {
      case (k, Some((_, d))) =>
        if (record) System.err.println(s"RECORD\t$k\t${d._1}\t${d._2}")
        val bad = !record && !want.get(k).contains(d)
        if (bad) log(s"$k: got $d, expected ${want.get(k)}")
        bad
      case (_, None) => true
    }

    if (o.trace) {
      // a warm-up sweep first, so that both measured sweeps run warm
      val warmup = sweep(spark, dir, order)
      val (metrics, sweeps) = Trace.querySweep(spark, rec => sweep(spark, dir, order, rec))
      val all = warmup +: sweeps
      return Result(all.map(_.size).sum.toLong, all.map(failures).sum.toLong, metrics)
    }

    val sweeps = Seq.newBuilder[Sweep]
    var heapMb = 0.0
    val t0 = System.nanoTime()
    do {
      sweeps += sweep(spark, dir, order)
      heapMb = math.max(heapMb, PerfBench.liveHeapMb())
    } while (seconds(t0) < o.seconds)
    val ss = sweeps.result()
    val attempted = ss.map(_.size).sum.toLong
    val failed = ss.map(failures).sum.toLong
    val full = ss.filter(_.forall(_._2.isDefined)).map(_.map(_._2.get._1))
    if (full.isEmpty) return Result(attempted, failed, Nil)
    log(f"${ss.size} sweeps of ${order.size} queries: " +
      full.map(_.sum).map(s => f"$s%.2f").mkString(" ") + " s; slowest " +
      ss.last.collect { case (k, Some((t, _))) => k -> t }.sortBy(-_._2).take(12)
        .map { case (k, t) => f"$k $t%.2f" }.mkString(", "))
    Result(attempted, failed, Seq(
      Metric("throughput_per_s", median(full.map(s => s.size / s.sum)), "1/s"),
      Metric("setup_s", median(setupSecs), "s"),
      Metric("live_heap_mb", heapMb, "MB")))
  }
}
