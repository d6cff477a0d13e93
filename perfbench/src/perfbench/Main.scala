package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.Pipeline
import graft.dict.{DictBuild, DictSpec}
import graft.graph.PageRank
import graft.model.Bow

/** One benchmark run in one JVM:
  *   perfbench.Main --workload W --seed N --seconds S --trace 0|1 --out DIR
  *
  * Untraced (--trace 0) runs report the end-to-end metrics; traced runs
  * report the per-layer metrics and write the spans to DIR. Every run checks
  * its outputs; the last stdout line is the result object.
  */
object Main {

  val Cores = 4

  final class Ctx(val spark: SparkSession, val workload: String, val seed: Long,
      val seconds: Double, val trace: Boolean, val out: String, val sessionS: Double) {
    val tracer = new Tracer(spark, s"$workload-$seed-${System.currentTimeMillis()}")
    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]
    var attempted = 0
    var failed = 0

    def metric(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)

    /** Records a named output check; a false check fails the run. */
    def check(name: String, ok: Boolean, detail: => String = ""): Unit = {
      val d = if (ok) "" else detail
      checks += ((name, ok, d))
      println(s"""{"check": ${Json.str(name)}, "ok": $ok, "detail": ${Json.str(d)}}""")
    }

    /** Runs `body` as one untimed phase, printed as a sample line (and a
      * span in traced runs). */
    def phase[T](kind: String)(body: => T): T = {
      val w0 = Weather.now()
      val t0 = System.nanoTime()
      try tracer.span(kind)(body)
      finally sample(kind, 0, (System.nanoTime() - t0) / 1e9, Weather.now() - w0)
    }

    def sample(kind: String, i: Int, wallS: Double, w: Weather, extra: (String, Double)*): Unit = {
      val ex = extra.map { case (k, v) => s""", ${Json.str(k)}: ${Json.num(v)}""" }.mkString
      println(s"""{"sample": ${Json.str(kind)}, "i": $i, "wall_s": ${Json.num(wallS)}, """ +
        s""""cpu_s": ${Json.num(w.cpuS)}, "steal_s": ${Json.num(w.stealS)}, "sys_s": ${Json.num(w.sysS)}$ex}""")
    }
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  /** The highest percentile at or above the median that keeps at least 10
    * samples beyond it, with that percentile; the median below 20 samples. */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val s = xs.sorted
    val k = s.length - 11 // index with exactly 10 samples above it
    if (k < s.length / 2) (median(s), 50.0) else (s(k), 100.0 * (k + 1) / s.length)
  }

  final case class Built(a: Pipeline.Artifacts, weightedEdges: Long, seconds: Double)

  /** The offline artifact build, Pipeline.buildArtifacts' calls with one
    * span per layer: dump parse -> dictionary -> keys, BOW, PageRank. */
  def buildArtifacts(ctx: Ctx, lines: => Dataset[String]): Built = {
    val spark = ctx.spark
    val tr = ctx.tracer
    val t0 = System.nanoTime()
    val (items, dict, keys, maxN, dictCount) = tr.span("dict_build") {
      val items = DictBuild.parseDump(lines).persist()
      val closures = DictSpec.profile.restrictTypes.map { c =>
        c.qid -> DictBuild.subclassClosure(spark, DictBuild.p279Edges(items), c.qid.drop(1).toInt)
      }.toMap
      val dict = DictBuild.entityToDocument(items, DictSpec.profile, closures).persist()
      val keys = DictBuild.dictKeys(dict, DictSpec.profile.solrconfig).persist()
      val maxN = keys.agg(max(col("n_tokens"))).head().getInt(0)
      (items, dict, keys, maxN, dict.count())
    }
    val bow = tr.span("bow")(Bow.buildModel(items))
    val (pr, nEdges) = tr.span("page_rank") {
      val (weighted, lastQid) = PageRank.normalizeEdges(PageRank.rawEdgesFromItems(items))
      val pr = PageRank.run(spark, weighted, lastQid)
      pr.ranks.persist().count()
      (pr, if (ctx.trace) weighted.count() else 0L)
    }
    items.unpersist()
    Built(Pipeline.Artifacts(dict, keys, maxN, bow, pr, dictCount, DictSpec.profile.solrconfig),
      nEdges, (System.nanoTime() - t0) / 1e9)
  }

  /** setup_s = session start + one cold artifact build, up to the first
    * timed operation. Traced runs record the build's layers instead. */
  def setup(ctx: Ctx, lines: => Dataset[String]): Pipeline.Artifacts = {
    val w0 = Weather.now()
    val b = buildArtifacts(ctx, lines)
    ctx.sample("setup", 0, b.seconds, Weather.now() - w0)
    if (ctx.trace) {
      ctx.metric("dict_build.s", ctx.tracer.seconds("dict_build"), "s")
      ctx.metric("dict_build.entities", b.a.dictCount.toDouble, "count")
      ctx.metric("dict_build.keys", b.a.dictKeys.count().toDouble, "count")
      ctx.metric("bow.s", ctx.tracer.seconds("bow"), "s")
      ctx.metric("page_rank.s", ctx.tracer.seconds("page_rank"), "s")
      ctx.metric("page_rank.edges", b.weightedEdges.toDouble, "count")
      val bcBytes = org.apache.spark.util.SizeEstimator.estimate(
        graft.link.FusedAnnotate.qidFeatures(b.a)) +
        org.apache.spark.util.SizeEstimator.estimate(b.a.bow)
      ctx.metric("fused_annotate.broadcast_mb", bcBytes / 1048576.0, "MB")
    } else ctx.metric("setup_s", ctx.sessionS + b.seconds, "s")
    b.a
  }

  final case class Op(wallS: Double, weather: Weather, pages: Long)

  /** Closed loop: runs `op` until `seconds` have passed, at least once;
    * each op is one sample with its own weather. An op that throws counts
    * as failed. */
  def timedLoop(ctx: Ctx, kind: String, seconds: Double)(op: Int => Long): Seq[Op] = {
    val ops = mutable.ArrayBuffer.empty[Op]
    val start = System.nanoTime()
    var i = 0
    while (i == 0 || (System.nanoTime() - start) / 1e9 < seconds) {
      val w0 = Weather.now()
      val t0 = System.nanoTime()
      ctx.attempted += 1
      val pages =
        try op(i)
        catch {
          case e: Exception =>
            ctx.failed += 1
            System.err.println(s"$kind $i failed: $e")
            e.printStackTrace()
            0L
        }
      val o = Op((System.nanoTime() - t0) / 1e9, Weather.now() - w0, pages)
      ctx.sample(kind, i, o.wallS, o.weather, "pages" -> pages.toDouble)
      ops += o
      i += 1
    }
    ops.toSeq
  }

  /** End-to-end metrics over the timed ops. */
  def endToEnd(ctx: Ctx, ops: Seq[Op]): Unit = {
    val pages = ops.map(_.pages).sum.toDouble
    val wall = ops.map(_.wallS).sum
    val cpu = ops.map(_.weather.cpuS).sum
    val walls = ops.map(_.wallS)
    val (t, pct) = tail(walls)
    ctx.metric("pages_per_s", pages / wall, "pages/s")
    ctx.metric("cpu_ms_per_page", 1000.0 * cpu / pages, "ms")
    ctx.metric("op_p50_s", median(walls), "s")
    println(s"""{"op_tail_s": ${Json.num(t)}, "op_tail_percentile": ${Json.num(pct)}, "ops": ${ops.length}, """ +
      s""""steal_s": ${Json.num(ops.map(_.weather.stealS).sum)}, "sys_s": ${Json.num(ops.map(_.weather.sysS).sum)}}""")
  }

  /** Traced run: half the run's seconds of untraced ops, then half of
    * traced ops, each op a span `kind` over its layer spans. Records
    * trace.overhead_frac and the engine-wide metrics per traced op, and
    * returns the traced ops. */
  def tracedOps(ctx: Ctx, kind: String, op: Int => Long): Seq[Op] = {
    val tr = ctx.tracer
    tr.disable()
    val plain = timedLoop(ctx, s"$kind-untraced", ctx.seconds / 2)(op)
    tr.enable()
    val (j0, s0, t0, sw0, sp0) = tr.totals()
    val gc0 = Weather.gcSeconds()
    val fromMs = System.currentTimeMillis()
    val traced = timedLoop(ctx, s"$kind-traced", ctx.seconds / 2)(i => tr.span(kind)(op(i)))
    val toMs = System.currentTimeMillis()
    val gc = Weather.gcSeconds() - gc0
    val (j1, s1, t1, sw1, sp1) = tr.totals()
    tr.disable()
    val n = traced.length.toDouble
    ctx.metric("trace.overhead_frac", median(traced.map(_.wallS)) / median(plain.map(_.wallS)) - 1, "ratio")
    ctx.metric("spark.jobs", (j1 - j0) / n, "count")
    ctx.metric("spark.stages", (s1 - s0) / n, "count")
    ctx.metric("spark.tasks", (t1 - t0) / n, "count")
    ctx.metric("spark.gc_s", gc / n, "s")
    ctx.metric("spark.shuffle_write_mb", (sw1 - sw0) / n, "MB")
    ctx.metric("spark.spill_mb", (sp1 - sp0) / n, "MB")
    ctx.metric("spark.driver_gap_s", tr.driverGapSeconds(fromMs, toMs) / n, "s")
    traced
  }

  /** Order-independent digest of a frame: row count and sum of row hashes. */
  def digest(df: DataFrame): (Long, Long) = {
    val r = df.agg(count(lit(1)),
      coalesce(sum(hash(df.columns.map(col).toIndexedSeq: _*).cast("long")), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  private def arg(args: Array[String], name: String): String = {
    val i = args.indexOf(name)
    require(i >= 0 && i + 1 < args.length, s"missing $name")
    args(i + 1)
  }

  def main(args: Array[String]): Unit = {
    val workload = arg(args, "--workload")
    val seed = arg(args, "--seed").toLong
    val seconds = arg(args, "--seconds").toDouble
    val trace = arg(args, "--trace") == "1"
    val out = arg(args, "--out")
    val localDir = new java.io.File(out, "run/spark-local").getAbsolutePath
    HeapPeak.install()
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName(s"perfbench-$workload")
      .config("spark.local.dir", localDir)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val ctx = new Ctx(spark, workload, seed, seconds, trace, out, sessionS)
    try {
      workload match {
        case "bulk-cluster" => BulkCluster.run(ctx)
        case "delta-ingest" => DeltaIngest.run(ctx)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      if (trace) {
        ctx.metric("spark.heap_peak_mb", HeapPeak.mb, "MB")
        ctx.tracer.writeJson(s"$out/trace/$workload-seed$seed.json",
          Map("workload" -> workload, "seed" -> seed.toString, "cores" -> Cores.toString))
      } else println(s"""{"heap_peak_mb": ${Json.num(HeapPeak.mb)}}""")
      val correct = ctx.checks.nonEmpty && ctx.checks.forall(_._2) && ctx.failed == 0
      val ms = ctx.metrics.map { case (k, (v, u)) =>
        s"""${Json.str(k)}: {"value": ${Json.num(v)}, "unit": ${Json.str(u)}}"""
      }
      println(s"""{"correct": $correct, "attempted": ${ctx.attempted}, "failed": ${ctx.failed}, """ +
        s""""metrics": {${ms.mkString(", ")}}}""")
    } finally spark.stop()
  }
}
