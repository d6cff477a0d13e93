package perfbench

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Pipeline
import graft.ckpt.Snapshots
import graft.dict.DictBuild
import graft.link.{ConnectedComponents, FusedAnnotate, Mentions, Pairs, Scoring}

import Main.Ctx

/** Output checks shared by the workloads. Each comparison also runs on a
  * deliberately corrupted copy, which must be rejected. */
object Checks {
  final case class L(surface: String, qid: String, score: Double, normKey: String)
  type Links = Map[(Long, Int, Int), L]

  def links(df: DataFrame): Links =
    df.select(col("doc_id").cast("long"), col("start"), col("end"), col("surface"),
      col("best_qid"), col("score"), col("norm_key")).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2)) ->
        L(r.getString(3), r.getString(4), r.getDouble(5), r.getString(6)))
      .toMap

  def sameLinks(a: Links, b: Links): Boolean =
    a.nonEmpty && a.keySet == b.keySet && a.forall { case (k, x) =>
      val y = b(k)
      x.surface == y.surface && x.qid == y.qid && math.abs(x.score - y.score) < 1e-9
    }

  def corrupt(l: Links): Links = {
    val (k, x) = l.minBy(_._1)
    l.updated(k, x.copy(qid = x.qid + "0"))
  }

  /** Staged path: Mentions.extract -> candidates -> Scoring.bestLinks. */
  def staged(a: Pipeline.Artifacts, docs: DataFrame): DataFrame =
    Scoring.bestLinks(
      Mentions.candidates(Mentions.extract(docs, a.dictKeys, a.maxKeyTokens, a.analyzer),
        a.dictKeys, a.entityDict, a.pagerank, a.bow),
      Scoring.Params(), Scoring.defaultModel())

  def annotate(a: Pipeline.Artifacts, docs: DataFrame): DataFrame =
    FusedAnnotate.annotate(docs, a, Scoring.Params(), Scoring.defaultModel())

  /** The timed run's links of a seeded page sample equal the staged
    * path's links of those pages. */
  def fusedEqualsStaged(ctx: Ctx, a: Pipeline.Artifacts, sample: DataFrame, timed: Links): Unit = {
    val st = links(staged(a, sample))
    val ids = sample.select(col("doc_id").cast("long")).collect().map(_.getLong(0)).toSet
    val fu = timed.filter { case ((d, _, _), _) => ids(d) }
    ctx.check("fused_equals_staged", sameLinks(fu, st), s"fused ${fu.size} links vs staged ${st.size}")
    ctx.check("selftest.corrupted_links_rejected", st.nonEmpty && !sameLinks(corrupt(fu), st))
  }

  /** Traced runs materialize a layer's output on its own, so the layer gets
    * its own span: an eager local checkpoint keeps the adaptive (coalesced)
    * partitioning that the untraced flow hands to the next layer, where a
    * cache would keep every pre-coalesce shuffle partition. */
  def materialize(df: DataFrame): DataFrame = df.localCheckpoint()

  /** A seeded share of a frame's pages, in pages per thousand. */
  def sample(df: DataFrame, seed: Long, perMille: Int): DataFrame =
    df.filter(pmod(xxhash64(col("doc_id"), lit(seed)), lit(1000L)) < lit(perMille.toLong))
}

/** Annotate -> sorted-neighbourhood pairs -> connected components over
  * sf0.1-shaped pages with the built-in dictionary. */
object BulkCluster {
  val Pages = 2000L

  final case class PassOut(best: DataFrame, pairs: DataFrame, digest: (Long, Long, Long),
      rounds: Int, pairRows: Long)

  /** One linked mention as the checks see it. */
  final case class Link(block: String, id: Long, qid: String)

  /** The same digest in plain Scala: Spark's hash(node, component) is
    * Murmur3 over the two longs, seeded with 42. */
  def componentDigest(uf: Seq[(Long, Long)]): (Long, Long, Long) = {
    import org.apache.spark.unsafe.hash.Murmur3_x86_32.hashLong
    (uf.length.toLong, uf.count { case (n, c) => n == c }.toLong,
      uf.map { case (n, c) => hashLong(c, hashLong(n, 42)).toLong }.sum)
  }

  def componentDigest(all: DataFrame): (Long, Long, Long) = {
    val r = all.agg(count(lit(1)),
      sum(when(col("node") === col("component"), 1L).otherwise(0L)),
      coalesce(sum(hash(col("node"), col("component")).cast("long")), lit(0L))).head()
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }

  def pass(ctx: Ctx, docs: DataFrame, a: Pipeline.Artifacts): PassOut = {
    val tr = ctx.tracer
    // uncached, as in the engine's scale path: blockSeq snapshots its input,
    // and the isolated-node join recomputes the links
    val best = tr.span("fused_annotate") {
      val b = Checks.annotate(a, docs)
      if (tr.enabled) Checks.materialize(b) else b
    }
    // the pair count rides along the components' own scan of the pairs
    // (Dataset.observe): no extra job in the timed pass
    val observed = org.apache.spark.sql.Observation("pairs")
    val pairs = tr.span("pairs") {
      val p = Pairs.candidatePairs(best).observe(observed, count(lit(1)).as("rows"))
      if (tr.enabled) Checks.materialize(p) else p
    }
    var rounds = 0
    val digest = tr.span("connected_components") {
      val comp = ConnectedComponents.run(ctx.spark, Pairs.sameEntityEdges(pairs),
        onRound = r => rounds = r)
      // the isolated-node join, as ConnectedComponents.runWithIsolated does it
      val nodes = best.select(Pairs.mentionIdCol.cast("long").as("node")).distinct()
      componentDigest(nodes.join(comp, Seq("node"), "left")
        .select(col("node"), coalesce(col("component"), col("node")).as("component")))
    }
    PassOut(best, pairs, digest, rounds, observed.get("rows").asInstanceOf[Long])
  }

  def release(p: PassOut): Unit =
    Seq(p.pairs, p.best).foreach(org.apache.spark.sql.graftbridge.Bridge.unpersistLocalCheckpoint)

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    if (ctx.trace) ctx.tracer.enable()
    val a = Main.setup(ctx, DictBuild.syntheticDump(spark))
    val docs = Inputs.sfPages(spark, ctx.seed, Pages, Main.Cores * 4).persist()
    docs.count()
    ctx.tracer.disable()
    // a cold pass takes about twice as long as a warm one, and the next
    // pass is still ~10% slower than later ones (JIT); only steady passes
    // are timed
    (1 to 2).foreach(_ => ctx.phase("warmup")(release(pass(ctx, docs, a))))

    val outs = mutable.ArrayBuffer.empty[PassOut]
    def op(i: Int): Long = {
      outs.lastOption.foreach(release)
      outs += pass(ctx, docs, a)
      Pages
    }
    if (!ctx.trace) Main.endToEnd(ctx, Main.timedLoop(ctx, "pass", ctx.seconds)(op))
    else {
      val traced = Main.tracedOps(ctx, "pass", op)
      val last = outs.last
      val n = traced.length.toDouble
      val tr = ctx.tracer
      Layers.annotate(ctx, n, last.best.count().toDouble)
      val l = tr.layer("pairs")
      ctx.metric("pairs.s", tr.seconds("pairs") / n, "s")
      ctx.metric("pairs.cpu_s", l.cpuS / n, "s")
      ctx.metric("pairs.rows", last.pairRows.toDouble, "count")
      val same = last.pairs.filter(col("same_entity")).count()
      ctx.metric("pairs.same_entity_ratio", same.toDouble / last.pairRows, "ratio")
      ctx.metric("pairs.block_max",
        links(Checks.links(last.best)).groupBy(_.block).values.map(_.length).max.toDouble, "count")
      ctx.metric("pairs.shuffle_write_mb", l.shuffleWriteMb / n, "MB")
      ctx.metric("pairs.task_skew", l.skew, "ratio")
      ctx.metric("pairs.exchanges", l.exchanges / n, "count")
      ctx.metric("pairs.jobs", l.jobs / n, "count")
      val c = tr.layer("connected_components")
      ctx.metric("connected_components.s", tr.seconds("connected_components") / n, "s")
      ctx.metric("connected_components.cpu_s", c.cpuS / n, "s")
      ctx.metric("connected_components.edges_in", same.toDouble, "count")
      ctx.metric("connected_components.path", if (last.rounds > 0) 1.0 else 0.0, "path")
      ctx.metric("connected_components.rounds", last.rounds.toDouble, "count")
      ctx.metric("connected_components.jobs", c.jobs / n, "count")
      ctx.metric("connected_components.components", last.digest._2.toDouble, "count")
      ctx.metric("connected_components.shuffle_write_mb", c.shuffleWriteMb / n, "MB")
      Layers.mentions(ctx, a, docs)
      Kernels.run(ctx, a, Checks.sample(docs, ctx.seed, 4))
    }
    ctx.phase("checks")(check(ctx, a, Checks.sample(docs, ctx.seed, 8), outs.toSeq))
  }

  /** Block key (first token of the normalized surface) and mention id. */
  def links(all: Checks.Links): Array[Link] =
    all.iterator.map { case ((d, st, e), l) =>
      Link(l.normKey.takeWhile(_ != ' '), d * 100000000L + st * 10000L + e, l.qid)
    }.toArray

  /** Sorted-neighbourhood pairs in plain Scala: within each block, in
    * mention-id order, each link pairs with its next WindowSize links;
    * same-entity pairs are the edges. Returns (pair count, edges). */
  def expectedPairs(links: Array[Link]): (Long, Seq[(Long, Long)]) = {
    var n = 0L
    val edges = Seq.newBuilder[(Long, Long)]
    links.groupBy(_.block).values.foreach { b =>
      val s = b.sortBy(_.id)
      for (i <- s.indices; k <- 1 to Pairs.WindowSize if i + k < s.length) {
        n += 1
        if (s(i).qid != null && s(i).qid == s(i + k).qid) edges += ((s(i).id, s(i + k).id))
      }
    }
    (n, edges.result())
  }

  /** Components by union-find, each node mapped to its smallest member. */
  def unionFind(nodes: Seq[Long], edges: Seq[(Long, Long)]): Seq[(Long, Long)] = {
    val parent = new java.util.HashMap[Long, Long](nodes.length * 2)
    nodes.foreach(n => parent.put(n, n))
    def find(x: Long): Long = {
      var r = x
      while (parent.get(r) != r) r = parent.get(r)
      var c = x
      while (c != r) { val nx = parent.get(c); parent.put(c, r); c = nx }
      r
    }
    edges.foreach { case (s, d) =>
      val (rs, rd) = (find(s), find(d))
      if (rs < rd) parent.put(rd, rs) else if (rd < rs) parent.put(rs, rd)
    }
    nodes.map(n => (n, find(n)))
  }

  /** Untraced runs check the timed result against plain-Scala oracles;
    * traced runs also compare it with the staged path (whose cold planning,
    * ~20 s, does not fit the per-run budget of the timed runs). */
  def check(ctx: Ctx, a: Pipeline.Artifacts, sample: DataFrame, outs: Seq[PassOut]): Unit = {
    val last = outs.last
    ctx.check("passes_agree", outs.map(p => (p.digest, p.pairRows)).distinct.size == 1,
      outs.map(p => (p.digest, p.pairRows)).mkString(" "))
    val all = Checks.links(last.best)
    if (ctx.trace) Checks.fusedEqualsStaged(ctx, a, sample, all)

    val ls = links(all)
    val formula = ls.groupBy(_.block).values.map { b =>
      (1 to Pairs.WindowSize).map(k => math.max(0L, b.length.toLong - k)).sum
    }.sum
    val (pairCount, edges) = expectedPairs(ls)
    ctx.check("pair_count_matches_block_sizes", last.pairRows == formula && pairCount == formula,
      s"engine pairs ${last.pairRows}, block-size formula $formula, plain Scala $pairCount")
    ctx.check("selftest.corrupted_pair_count_rejected", last.pairRows + 1 != formula)

    val uf = unionFind(ls.map(_.id).toSeq, edges)
    val expected = componentDigest(uf)
    ctx.check("components_equal_union_find", expected == last.digest,
      s"union-find $expected vs engine ${last.digest}")
    val bad = uf.updated(uf.length - 1, (uf.last._1, -1L))
    ctx.check("selftest.corrupted_components_rejected", componentDigest(bad) != last.digest)
  }
}

/** Closed loop, one client: small crawl deltas, part of each re-delivering
  * committed pages; each batch anti-joins the committed processed set,
  * annotates the new pages and commits annotations and processed set as
  * snapshots with lineage (Pipeline.annotateIncremental's pattern). */
object DeltaIngest {
  val BatchPages = 300
  val RedeliverPercent = 20
  val CycleBatches = 25
  val IdSpace = 100000000L

  final case class Snap(path: String, m: Snapshots.Manifest)

  final class Cycle(val root: String) {
    var ann: Option[Snap] = None
    var proc: Option[Snap] = None
    /** page indices of the seeded stream delivered in this cycle */
    val delivered = mutable.LinkedHashSet.empty[Long]
    var batches = 0
  }

  def dirBytes(path: String): Long = {
    val f = new java.io.File(path)
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).map(x => dirBytes(x.getPath)).sum
    else f.length()
  }

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    if (ctx.trace) ctx.tracer.enable()
    val a = Main.setup(ctx, DictBuild.syntheticDump(spark))
    ctx.tracer.disable()
    val tr = ctx.tracer
    val cycles = mutable.ArrayBuffer.empty[Cycle]
    val base = new java.io.File(ctx.out, s"run/delta/seed${ctx.seed}-${System.nanoTime()}").getAbsolutePath
    var nextPage = 0L
    var batchNo = 0
    // per-batch traced counters
    var writtenBytes = 0L
    var newAnnBytes = 0.0
    var readback = 0L
    var deliveredN = 0L
    var annotatedN = 0L
    var linksN = 0L

    def batch(): Long = {
      if (cycles.isEmpty || cycles.last.batches == CycleBatches)
        cycles += new Cycle(s"$base/cycle-${cycles.length}")
      val cy = cycles.last
      val r = Inputs.rng(ctx.seed, 6, batchNo)
      val old = cy.delivered.toArray
      val nRe = if (old.isEmpty) 0 else BatchPages * RedeliverPercent / 100
      val re = (0 until nRe).map(_ => old(r.nextInt(old.length))).distinct
      val fresh = (nextPage until nextPage + BatchPages - re.length).toSeq
      nextPage += fresh.length
      val rows = Inputs.sfPagesLocal(ctx.seed, re ++ fresh, IdSpace)
      batchNo += 1
      cy.batches += 1

      val delta = rows.toDF("doc_id", "text")
      val newPages = tr.span("delta.anti_join") {
        val d = cy.proc.fold(delta)(p => delta.join(spark.read.parquet(p.path), Seq("doc_id"), "left_anti"))
        if (tr.enabled) Checks.materialize(d) else d
      }
      val ann = tr.span("fused_annotate") {
        val l = Checks.annotate(a, newPages)
        if (tr.enabled) Checks.materialize(l) else l
      }
      val lineage = Seq(cy.ann.fold("annotations:none")(s => s"annotations:${s.m.snapshotId}"),
        cy.proc.fold("processed:none")(s => s"processed:${s.m.snapshotId}"), s"crawl:batch$batchNo")
      val (annPath, am) = tr.span("snapshots") {
        Snapshots.commit(cy.ann.fold(ann)(s => spark.read.parquet(s.path).unionByName(ann)),
          cy.root, "annotations", lineage)
      }
      val ids = newPages.select("doc_id")
      val (procPath, pm) = tr.span("snapshots") {
        Snapshots.commit(cy.proc.fold(ids)(s => spark.read.parquet(s.path).unionByName(ids)),
          cy.root, "processed", lineage)
      }
      if (tr.enabled) {
        val annBytes = dirBytes(annPath)
        writtenBytes += annBytes + dirBytes(procPath)
        val newRows = am.rows - cy.ann.fold(0L)(_.m.rows)
        if (am.rows > 0) newAnnBytes += annBytes.toDouble * newRows / am.rows
        readback += cy.proc.fold(0L)(_.m.rows)
        deliveredN += rows.length
        annotatedN += pm.rows - cy.proc.fold(0L)(_.m.rows)
        linksN += newRows
        Seq(newPages, ann).foreach(org.apache.spark.sql.graftbridge.Bridge.unpersistLocalCheckpoint)
      }
      cy.ann = Some(Snap(annPath, am))
      cy.proc = Some(Snap(procPath, pm))
      cy.delivered ++= re ++ fresh
      rows.length
    }

    (1 to 8).foreach(_ => batch()) // JIT warm-up, in its own cycle
    cycles.last.batches = CycleBatches
    if (!ctx.trace) Main.endToEnd(ctx, Main.timedLoop(ctx, "batch", ctx.seconds)(_ => batch()))
    else {
      val traced = Main.tracedOps(ctx, "batch", _ => batch())
      val n = traced.length.toDouble
      Layers.annotate(ctx, n, linksN / n)
      val commits = tr.durations("snapshots")
      ctx.metric("snapshots.commit_s", Main.median(commits), "s")
      ctx.metric("snapshots.commits", commits.length / n, "count")
      ctx.metric("snapshots.written_mb", writtenBytes / 1048576.0 / n, "MB")
      ctx.metric("snapshots.write_amp", writtenBytes / newAnnBytes, "ratio")
      ctx.metric("snapshots.readback_rows", readback / n, "count")
      ctx.metric("delta.useful_ratio", annotatedN.toDouble / deliveredN, "ratio")
      val firstPages = Inputs.sfPagesLocal(ctx.seed, 0L until BatchPages.toLong, IdSpace).toDF("doc_id", "text")
      Layers.mentions(ctx, a, firstPages)
      Kernels.run(ctx, a, firstPages)
    }

    ctx.phase("checks")(check(ctx, a, cycles.toSeq))
  }

  /** Every cycle's final snapshot equals a one-shot annotate of everything
    * it delivered, and no page was annotated twice. */
  def check(ctx: Ctx, a: Pipeline.Artifacts, cycles: Seq[Cycle]): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    cycles.zipWithIndex.foreach { case (cy, k) =>
      val ids = cy.delivered.toSeq
      val all = spark.read.parquet(cy.proc.get.path)
      val committed = spark.read.parquet(cy.ann.get.path)
      val oneShotDocs = Inputs.sfPagesLocal(ctx.seed, ids, IdSpace).toDF("doc_id", "text")
      val want = Main.digest(Checks.annotate(a, oneShotDocs))
      val got = Main.digest(committed)
      ctx.check(s"cycle$k.committed_equals_one_shot", want == got, s"one-shot $want vs committed $got")
      val dupAnn = committed.groupBy("doc_id", "start", "end").count().filter(col("count") > 1).count()
      val procRows = all.count()
      val procDistinct = all.distinct().count()
      ctx.check(s"cycle$k.no_page_annotated_twice", dupAnn == 0 && procRows == procDistinct &&
        procDistinct == ids.size, s"dup links $dupAnn, processed $procRows/$procDistinct of ${ids.size}")
      if (k == 0) ctx.check("selftest.corrupted_snapshot_rejected",
        Main.digest(committed.limit(math.max(0, got._1.toInt - 1))) != want)
    }
  }
}

/** Per-layer metrics shared by the workloads. */
object Layers {
  /** fused_annotate.* over the traced ops, per op. */
  def annotate(ctx: Ctx, n: Double, links: Double): Unit = {
    val l = ctx.tracer.layer("fused_annotate")
    ctx.metric("fused_annotate.map_s", l.mapWallS / n, "s")
    ctx.metric("fused_annotate.reduce_s", l.reduceWallS / n, "s")
    ctx.metric("fused_annotate.cpu_s", l.cpuS / n, "s")
    ctx.metric("fused_annotate.links", links, "count")
    ctx.metric("fused_annotate.shuffle_write_mb", l.shuffleWriteMb / n, "MB")
    ctx.metric("fused_annotate.spill_mb", l.spillMb / n, "MB")
    ctx.metric("fused_annotate.task_skew", l.skew, "ratio")
    ctx.metric("fused_annotate.exchanges", l.exchanges / n, "count")
    ctx.metric("fused_annotate.jobs", l.jobs / n, "count")
  }

  /** mentions.* and fused_annotate.hit_ratio: span generation with and
    * without the first-token filter, and the spans with a dictionary hit. */
  def mentions(ctx: Ctx, a: Pipeline.Artifacts, docs: DataFrame): Unit = {
    val tr = ctx.tracer
    tr.enable()
    val filter = Mentions.firstTokenFilter(a.dictKeys)
    val spans = Mentions.candidateSpans(docs, a.maxKeyTokens, a.analyzer, Some(filter))
    val kept = tr.span("mentions")(spans.count())
    val all = Mentions.candidateSpans(docs, a.maxKeyTokens, a.analyzer).count()
    val hits = spans.join(a.dictKeys.select("norm_key"), Seq("norm_key"), "left_semi").count()
    tr.disable()
    ctx.metric("mentions.s", tr.seconds("mentions"), "s")
    ctx.metric("mentions.spans", kept.toDouble, "count")
    ctx.metric("mentions.filter_keep_ratio", kept.toDouble / all, "ratio")
    ctx.metric("fused_annotate.hit_ratio", hits.toDouble / kept, "ratio")
  }
}
