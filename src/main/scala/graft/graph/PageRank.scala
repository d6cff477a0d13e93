package graft.graph

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.ckpt.RoundLoop

/** PageRank over the entity graph, reproducing the reference power method
  * exactly (wikidatagraph.py:123-157):
  *
  *   v_0 = uniform 1/N over indices [0, N);  N = lastSourceQid + 1
  *   v'  = v · M          (M row-normalized, targets > lastQid dropped)
  *   v'' = v' + (1 - ‖v'‖₁)/N    (uniform loss compensation)
  *   16 fixed iterations.
  *
  * Scale-first formulation: the dense vector is represented SPARSELY as
  * (rank rows for target nodes) + one scalar `background` shared by every
  * index that never receives edge mass. Those indices all hold exactly the
  * compensation value after each iteration, so a 10^8-wide vector costs
  * one scalar. A graph of at most [[graft.ckpt.RoundLoop.LocalSolveEdges]]
  * edges is solved on the driver in arrays; above that, each iteration is
  * one join + one aggregation, lineage truncated per round by
  * [[graft.ckpt.RoundLoop]] (SURVEY.md §4).
  */
object PageRank {

  final case class Result(ranks: DataFrame, background: Double, n: Long, lastQid: Long)

  /** Raw (src, dst) multiplicity edges -> row-normalized weighted edges
    * following load_from_preprocessed_dump (wikidatagraph.py:62-121):
    * targets beyond the last source qid are dropped BEFORE normalization.
    * Input: edges(src long, dst long) with multiplicity rows.
    * Output: (src, dst, weight) with weight = count/sum(count) per src. */
  def normalizeEdges(raw: DataFrame): (DataFrame, Long) = {
    val lastQid = raw.agg(max(col("src"))).head().getLong(0)
    val counted = raw
      .filter(col("dst") <= lit(lastQid))
      .groupBy(col("src"), col("dst"))
      .agg(count(lit(1)).as("cnt"))
    // row normalization via a second aggregation (no window: a groupBy
    // + join keeps both sides partial-aggregated and AQE-coalesced)
    val totals = counted.groupBy(col("src")).agg(sum(col("cnt")).as("tot"))
    val weighted = counted.join(totals, "src")
      .select(col("src"), col("dst"), (col("cnt") / col("tot")).as("weight"))
    (weighted, lastQid)
  }

  /** 16-iteration power method. `edges` must be row-normalized.
    * Returns explicit ranks for every node that ever receives edge mass,
    * plus the shared background value for all other indices in [0, N).
    *
    * Size-gated local solve (the design of [[graft.link.ConnectedComponents]]'
    * endgame): without `ckptRoot` and at most
    * [[graft.ckpt.RoundLoop.LocalSolveEdges]] edges (sized by the signature
    * aggregate the loop needs anyway), the edges are collected once and the
    * iterations run in primitive arrays on the driver; `ranks` is then a
    * broadcast driver-local relation. Inside `run` that path is two
    * queries (the aggregate and the collect) instead of ~8 jobs per round,
    * whose cost at this size is pure scheduling latency.
    *
    * Above the gate, or whenever `ckptRoot` is set, rounds run through
    * [[graft.ckpt.RoundLoop]]: each is cut to its l1 aggregation job, and
    * with `ckptRoot` every `ckptEvery`-th iteration and the final one
    * commit the rank vector (state token `bg:`). A rerun on the same graph
    * (identified by edge count, content hash and lastQid) resumes from the
    * last committed iteration, including a rerun asking for MORE iterations
    * (PageRankSpec pins the extended run equal to a fresh full run up to
    * aggregation-order ulps). */
  def run(spark: SparkSession, edges: DataFrame, lastQid: Long,
      iterations: Int = 16, ckptRoot: Option[String] = None,
      ckptEvery: Int = 4): Result =
    solve(spark, edges, lastQid, iterations, ckptRoot, ckptEvery)

  /** [[run]] with the local-solve gate exposed: tests pass
    * `localSolveEdges = 0` to force the distributed loop. */
  private[graft] def solve(spark: SparkSession, edges: DataFrame, lastQid: Long,
      iterations: Int = 16, ckptRoot: Option[String] = None, ckptEvery: Int = 4,
      localSolveEdges: Long = RoundLoop.LocalSolveEdges): Result = {
    val n = lastQid + 1
    // one agg job yields both the size (local-solve gate, partitioning) and
    // a content signature (resume identity): count alone let a DIFFERENT
    // graph with the same edge count + max qid silently resume from a stale
    // committed snapshot — weight changes flip the hash, matching the CC
    // loop's edge-set signature discipline
    val sigRow = edges.agg(
      count(lit(1)),
      coalesce(sum(hash(col("src"), col("dst"), col("weight")).cast("long")),
        lit(0L))).head()
    val eCount = sigRow.getLong(0)
    val eHash = sigRow.getLong(1)
    val swd = edges.select(col("src"), col("dst"), col("weight"))
    val loop = new RoundLoop(spark, "pr_ranks", ckptRoot, ckptEvery)
    if (!loop.durable && eCount <= localSolveEdges)
      return solveLocal(spark, swd.collect(), n, lastQid, iterations)

    // partition the working set proportionally to its size: a per-iteration
    // job over 64 near-empty partitions costs more in scheduling than in
    // compute (the graph is joined 16x, so per-round latency multiplies)
    val parts = math.max(1, math.min(spark.sparkContext.defaultParallelism * 2,
      (eCount / 100000L).toInt + 1))
    val e = swd.repartition(parts, col("src"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    e.count() // materialize once; reused 16x

    var ranks: DataFrame = null // (qid, rank) for explicit nodes
    var background = 1.0 / n
    var startIt = 0
    loop.resume(s"pr-input:$eCount:$eHash:$lastQid", upTo = iterations)
      .foreach { case (committed, rounds, state) =>
        ranks = committed
        background = state.head.stripPrefix("bg:").toDouble
        startIt = rounds
      }

    for (it <- startIt until iterations) {
      val srcRank =
        if (ranks == null) e.withColumn("srank", lit(background))
        else e.join(ranks.withColumnRenamed("qid", "src"), Seq("src"), "left")
          .withColumn("srank", coalesce(col("rank"), lit(background)))
      val nv = srcRank
        .groupBy(col("dst"))
        .agg(sum(col("srank") * col("weight")).as("mass"))
      // the cut truncates the logical plan (16 nested join+agg rounds
      // otherwise OOM the driver during planning); l1 is its one job
      val next = nv.select(col("dst").as("qid"), col("mass").as("rank"))
        .repartition(parts, col("qid"))
      val (newRanks, l1) = loop.cut(next)(_.agg(sum(col("rank"))).head().getDouble(0))
      background = (1.0 - l1) / n
      ranks = loop.commit(newRanks.withColumn("rank", col("rank") + lit(background)),
        it + 1, Seq(s"bg:$background"), last = it == iterations - 1)
    }
    e.unpersist()
    Result(ranks, background, n, lastQid)
  }

  /** The power method on the driver over one collect of the edges, with
    * the loop's semantics: round 1 reads `background` for every source,
    * later rounds a source's explicit rank if it received mass, else
    * `background`; mass(dst) = Σ srank·weight, l1 = Σ mass,
    * background = (1 − l1)/n, explicit rank = mass + background. */
  private def solveLocal(spark: SparkSession, rows: Array[Row], n: Long, lastQid: Long,
      iterations: Int): Result = {
    val w = rows.map(_.getDouble(2))
    // explicit nodes = edge targets, as dense slots; a source that is no
    // target reads the background (slot -1)
    val targets = rows.map(_.getLong(1)).distinct.sorted
    val slot = new java.util.HashMap[Long, Int](targets.length * 2)
    targets.indices.foreach(k => slot.put(targets(k), k))
    val dstSlot = rows.map(r => slot.get(r.getLong(1)))
    val srcSlot = rows.map(r => slot.getOrDefault(r.getLong(0), -1))

    var background = 1.0 / n
    val rank = Array.fill(targets.length)(background) // round 1: all background
    val mass = new Array[Double](targets.length)
    for (_ <- 0 until iterations) {
      java.util.Arrays.fill(mass, 0.0)
      var i = 0
      while (i < rows.length) {
        val s = srcSlot(i)
        mass(dstSlot(i)) += (if (s < 0) background else rank(s)) * w(i)
        i += 1
      }
      background = (1.0 - mass.sum) / n
      i = 0
      while (i < mass.length) { rank(i) = mass(i) + background; i += 1 }
    }
    import spark.implicits._
    // broadcast hint, as CC's local endgame: up to gate-many rows, left-
    // joined against corpus-sized sides (annotate, mentions), would
    // otherwise be re-serialized into shuffle tasks
    Result(broadcast(targets.toSeq.zip(rank).toDF("qid", "rank")), background, n, lastQid)
  }

  /** pagerank lookup semantics incl. defaults (wikidatagraph.py:165-170):
    * explicit rank, else background for in-range ids, else 0.01/N. */
  def lookupExpr(qidNumCol: String, rankCol: String, res: Result) =
    when(col(rankCol).isNotNull, col(rankCol))
      .when(col(qidNumCol) <= lit(res.lastQid), lit(res.background))
      .otherwise(lit(0.01 / res.n))

  /** Raw graph edges (incl. P31, incl. qualifiers, with multiplicity) from a
    * parsed dump DataFrame — the preprocess_dump stage
    * (wikidatagraph.py:23-59) as a projection. */
  def rawEdgesFromItems(items: DataFrame): DataFrame =
    items
      .filter(col("it.id").startsWith("Q"))
      .select(
        expr("cast(substring(it.id, 2) as long)").as("src"),
        explode(expr(
          """filter(
            |  flatten(transform(flatten(map_values(coalesce(it.claims, map()))),
            |    c -> concat(
            |      array(try_variant_get(c.mainsnak.datavalue, '$.value["numeric-id"]', 'int')),
            |      transform(flatten(map_values(coalesce(c.qualifiers, map()))),
            |        q -> try_variant_get(q.datavalue, '$.value["numeric-id"]', 'int'))))),
            |  x -> x is not null)""".stripMargin)).as("dst32"))
      .select(col("src"), col("dst32").cast("long").as("dst"))
}
