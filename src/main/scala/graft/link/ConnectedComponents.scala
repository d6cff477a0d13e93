package graft.link

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Transitive clustering: connected components via alternating
  * large-star / small-star DataFrame self-joins (north_rule; Kiveris et al.,
  * "Connected Components in MapReduce and Beyond", SoCC'14). No RDDs, no
  * GraphX: each round is groupBy(min) + join, working set persisted per
  * round (one materializing job each), converging in O(log n) rounds even
  * on the path-shaped blocks sorted-neighborhood pairing produces.
  *
  * Input: undirected edge list (src, dst) of same-entity links (longs).
  * Output: (node, component) where component = min node id reachable.
  */
object ConnectedComponents {

  /** large-star: for each node u, connect every strictly-larger neighbor v
    * to m = min(N(u) ∪ {u}). */
  private def largeStar(edges: DataFrame): DataFrame = {
    val bi = edges.select(col("src").as("u"), col("dst").as("v"))
      .unionByName(edges.select(col("dst").as("u"), col("src").as("v")))
    val mins = bi.groupBy("u").agg(least(min(col("v")), col("u")).as("m"))
    // pin shuffle-hash: per-round AQE broadcast decisions on the shrinking
    // working set are unstable (an occasional 20-40s round from a bad pick)
    bi.join(mins.hint("shuffle_hash"), "u")
      .filter(col("v") > col("u"))
      .select(col("v").as("src"), col("m").as("dst"))
  }

  /** Path compression (pointer jumping) on a min-oriented edge set
    * (every edge has dst < src, which both stars guarantee): map each edge
    * (a, b) to (a, f(b)) where f(x) = min out-neighbor of x, or x at a
    * root. Connectivity is preserved — the chain b > f(b) > f²(b) > …
    * telescopes, and each link (fᵏ(b), fᵏ⁺¹(b)) is itself an edge whose
    * image keeps the chain connected — and no self-loops can appear
    * (f(b) ≤ b < a). One groupBy + one edge-sized equi-join per
    * application; the sorted-neighborhood mention graph is path-shaped
    * (chains of seq→seq±{1,2} links), where plain alternating stars need
    * ~log₂(chain length) rounds with the edge count barely shrinking —
    * compression halves the remaining chain depth each round on top of
    * that, cutting rounds ~2x (measured 14 → 8 at sf0.1). Emits duplicate
    * edges; callers feed it into smallStar whose leading distinct dedups. */
  private def compress(edges: DataFrame): DataFrame = {
    val f = edges.groupBy(col("src")).agg(min(col("dst")).as("fm"))
      .select(col("src").as("via"), col("fm"))
    edges.join(f.hint("shuffle_hash"), col("dst") === col("via"), "left")
      .select(col("src"), coalesce(col("fm"), col("dst")).as("dst"))
  }

  /** small-star: orient edges large->small; connect each small neighbor
    * (and u itself) to the minimum. Deduplicates its input and output (the
    * only distincts in a round). */
  private def smallStar(edges: DataFrame): DataFrame = {
    val oriented = edges.select(
      greatest(col("src"), col("dst")).as("u"),
      least(col("src"), col("dst")).as("v"))
      .distinct()
    val mins = oriented.groupBy("u").agg(min(col("v")).as("m"))
    val nbr = oriented.join(mins.hint("shuffle_hash"), "u")
      .filter(col("v") =!= col("m"))
      .select(col("v").as("src"), col("m").as("dst"))
    val self = mins.select(col("u").as("src"), col("m").as("dst"))
    nbr.unionByName(self).distinct()
  }

  /** Runs to fixpoint; returns (node, component).
    *
    * Rounds run through [[graft.ckpt.RoundLoop]]: each is cut to its
    * edge-set signature job. With `ckptRoot`, every `ckptEvery`-th round is
    * committed (state token `sig:`), and a rerun on the SAME input
    * (identified by the post-cascade edge-set signature) resumes from the
    * last committed round instead of round 0, kill-tested in PairsCcSpec.
    * `onRound` observes each executed round index (tests use it to prove a
    * resumed run skipped the committed prefix). */
  def run(spark: SparkSession, edges: DataFrame, maxRounds: Int = 50,
      ckptRoot: Option[String] = None, ckptEvery: Int = 3,
      onRound: Int => Unit = _ => ()): DataFrame = {
    val loop = new graft.ckpt.RoundLoop(spark, "cc_rounds", ckptRoot, ckptEvery)
    // the signature aggregation is each cut's one materializing job. No
    // explicit repartition: the round body ends in a distinct(), which
    // already hash-partitions at AQE-coalesced width
    def materialize(df: DataFrame): (DataFrame, (Long, Long)) =
      loop.cut(df) { p =>
        val r = p.agg(count(lit(1)),
          coalesce(sum(hash(col("src"), col("dst")).cast("long")), lit(0L))).head()
        (r.getLong(0), r.getLong(1))
      }

    // Orient min-ward (dst < src) and materialize the deduped input at
    // session width (one shuffle over the raw edges).
    var (cur, sig) = materialize(
      edges.filter(col("src") =!= col("dst"))
        .select(col("src").cast("long").as("s"), col("dst").cast("long").as("d"))
        .select(greatest(col("s"), col("d")).as("src"),
          least(col("s"), col("d")).as("dst"))
        .distinct())
    val origParts = spark.conf.get("spark.sql.shuffle.partitions")

    // Size-gated local endgame (the standard big-graph CC design, e.g.
    // GraphFrames' aggregateMessages loop with a local finisher): the
    // same-entity edge set of a mention graph is tiny relative to the
    // corpus — when it fits trivially on the driver (default
    // RoundLoop.LocalSolveEdges; conf spark.graft.cc.localSolveEdges, 0
    // disables), a driver-side union-find replaces the whole compression
    // cascade + star loop, whose cost at this size is pure scheduling
    // latency. Checked on the INITIAL signature so the eligible path pays
    // for no distributed rounds at all. At 10^12-document scale the edge set of a GLOBAL
    // graph exceeds any driver, so the loop path stays the default
    // whenever durability is requested (ckptRoot set) or the set is
    // large; the gate is measured per-input, exactly like a
    // broadcast-join threshold.
    val localMax =
      spark.conf.getOption("spark.graft.cc.localSolveEdges")
        .map(_.toLong).getOrElse(graft.ckpt.RoundLoop.LocalSolveEdges)
    if (!loop.durable && sig._1 <= localMax) {
      val rows = cur.select(col("src"), col("dst")).collect()
      loop.release()
      val parent = new java.util.HashMap[Long, Long](rows.length * 2)
      def find(x: Long): Long = {
        var r = x
        while (parent.get(r) != r) r = parent.get(r)
        var c = x
        while (c != r) { val n = parent.get(c); parent.put(c, r); c = n }
        r
      }
      var i = 0
      while (i < rows.length) {
        val s = rows(i).getLong(0); val d = rows(i).getLong(1)
        if (!parent.containsKey(s)) parent.put(s, s)
        if (!parent.containsKey(d)) parent.put(d, d)
        val (a, b) = (find(s), find(d))
        // min-id root: matches the loop's component = min reachable node
        if (a < b) parent.put(b, a) else if (b < a) parent.put(a, b)
        i += 1
      }
      import scala.jdk.CollectionConverters._
      val out = parent.keySet().asScala.toSeq.map(n => (n, find(n)))
      import spark.implicits._
      // broadcast hint: the result is a driver-local relation bounded by
      // the localSolveEdges gate, but without the hint the callers'
      // join-backs (runWithIsolated, cluster canonical attach) planned a
      // shuffle join — the corpus-node side rode an Exchange and the local
      // relation was re-serialized into shuffle tasks with multi-second GC
      // (profiled: the two heaviest stages of el_clusters' tail). As a
      // broadcast build side it ships once and the node side stays in place.
      return broadcast(out.toDF("node", "component"))
    }

    // Size the loop's shuffles to the WORKING SET, not the session default:
    // the CC edge list is tiny relative to the corpus, and each round runs
    // ~5 shuffles — at full session width el_clusters spent more time on
    // task scheduling (hundreds of sub-second stages) than on data.
    val loopParts = math.max(4L, math.min(origParts.toLong, sig._1 / 250000L + 4L))
    spark.conf.set("spark.sql.shuffle.partitions", loopParts.toString)
    // Pre-loop compression cascade: 5 chained pointer jumps cut residual
    // chain depth ~32x before the first (much more expensive) star round —
    // the sorted-neighborhood mention graph is path-shaped, where the stars
    // alone need ~log2(chain) rounds. compress maps edges 1:1 (no growth),
    // so one trailing distinct washes all five applications.
    val pre = materialize(
      compress(compress(compress(compress(compress(cur))))).distinct())
    cur = pre._1
    sig = pre._2
    var prevSig = (-1L, 0L)
    var rounds = 0
    loop.resume(s"cc-input:${sig._1}:${sig._2}").foreach { case (committed, done, state) =>
      val s = state.head.stripPrefix("sig:").split(":")
      cur = committed
      rounds = done
      sig = (s(0).toLong, s(1).toLong)
    }

    try {
      while (sig != prevSig && rounds < maxRounds) {
        prevSig = sig
        // exactly ONE alternation per materialization: largeStar/smallStar
        // each read their input several times (union + aggregate + join),
        // so chaining two rounds unmaterialized re-executes the inner
        // round's whole subtree multiplicatively (measured 7x slower)
        val (next, nextSig) = materialize(smallStar(compress(largeStar(cur))))
        sig = nextSig
        rounds += 1
        onRound(rounds)
        cur = loop.commit(next, rounds, Seq(s"sig:${sig._1}:${sig._2}"))
      }
    } finally spark.conf.set("spark.sql.shuffle.partitions", origParts)
    require(sig == prevSig,
      s"connected components did not converge in ${maxRounds}x2 rounds")
    // fixpoint: every edge is (node -> component root)
    val members = cur.select(col("src").as("node"), col("dst").as("component"))
    val roots = cur.select(col("dst").as("node"), col("dst").as("component")).distinct()
    members.unionByName(roots).distinct()
  }

  /** Components including isolated nodes (component = the node itself). */
  def runWithIsolated(spark: SparkSession, nodes: DataFrame, edges: DataFrame): DataFrame = {
    val comp = run(spark, edges)
    val named = nodes.select(col(nodes.columns.head).cast("long").as("node")).distinct()
    named.join(comp, Seq("node"), "left")
      .select(col("node"), coalesce(col("component"), col("node")).as("component"))
  }
}
