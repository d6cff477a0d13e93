package graft.link

import org.apache.spark.TaskContext
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.JaroWinkler.jaroWinkler

/** Pairwise mention scoring at the blocking key (north_rule): mentions that
  * share a normalized-surface blocking key are candidate same-entity pairs,
  * scored with Jaro-Winkler + Levenshtein surface similarity and the linked
  * entity agreement.
  *
  * Scale design: a naive within-block self-join is quadratic in the hot
  * (Zipfian) keys — "scan" alone would produce 10^10 pairs at web scale. We
  * use sorted-neighborhood pairing inside each block: mentions are ordered
  * deterministically within their block (mention_id ~ doc_id, start) and
  * each mention is paired with its next `windowSize` neighbors — linear in
  * block size.
  *
  * Distribution: a plain `lead() over (partition by block_key)` puts the
  * hottest Zipfian block on ONE task (AQE skew splitting applies to joins,
  * not window partitions). Instead the pairs come from one range sort:
  *
  *   1. `repartitionByRange(block_key, mention_id)` + `sortWithinPartitions`:
  *      balanced partitions whose concatenation in partition order is the
  *      global (block_key, mention_id) order, so a hot block occupies a
  *      contiguous run of partitions;
  *   2. in-partition pairs: one pass per partition with a ring buffer of the
  *      last `windowSize` rows;
  *   3. boundary stitching: a second pass over the same sorted partitions
  *      emits each partition's first and last `windowSize` rows, tagged with
  *      (partition index, position, partition size). Those
  *      <= 2 * windowSize * parts rows meet in one single-partition group,
  *      where the prefix sums of the partition sizes give their global ranks
  *      and the pairs whose two rows lie in different partitions are formed.
  *
  * Both passes read the same range Exchange (reused, not re-shuffled). No
  * window, no join, no per-block task.
  */
object Pairs {

  val WindowSize = 2

  /** Range partitions are sized to about this many mentions each, capped at
    * twice the default parallelism: a small mention set would otherwise
    * pay per-task overhead for nearly empty partitions. */
  private val RowsPerPart = 20000L

  /** Stable numeric mention id: doc_id * 10^8 + start * 10^4 + end offset
    * (spans are < 10^4 by the tagger text cap). */
  def mentionIdCol: Column =
    (col("doc_id").cast("long") * lit(100000000L)) +
      (col("start").cast("long") * lit(10000L)) + col("end").cast("long")

  /** One blocked mention, as the range sort orders it. */
  final case class Blocked(block_key: String, mention_id: Long, surface: String,
      best_qid: String)

  /** One candidate pair before scoring; id1 is the earlier mention. */
  final case class RawPair(block_key: String, id1: Long, id2: Long,
      surface1: String, surface2: String, qid1: String, qid2: String)

  /** A partition's head or tail row: its partition index, its position in
    * the partition and the partition's size. */
  final case class EdgeRow(part: Int, pos: Long, size: Long, m: Blocked)

  /** Block key (first token of the normalized surface) and mention id of
    * linked mentions: coarse enough that one block mixes different entities
    * ("merge" / "merge join" / "sort merge join" variants), the realistic
    * record-linkage setup. */
  private[graft] def blocked(mentions: DataFrame): DataFrame =
    mentions
      .withColumn("mention_id", mentionIdCol)
      .withColumn("block_key", split(col("norm_key"), " ").getItem(0))
      .select("block_key", "mention_id", "surface", "best_qid")

  /** Sorted-neighborhood candidate pairs within each blocking key.
    * Input: linked mentions (doc_id, start, end, surface, norm_key,
    * best_qid). Output: one row per pair with surface similarities and the
    * same_entity decision (= linked entity agreement). */
  def candidatePairs(mentions: DataFrame, windowSize: Int = WindowSize): DataFrame = {
    val (m, rows) = snapshot(blocked(mentions))
    val cap = mentions.sparkSession.sparkContext.defaultParallelism * 2L
    sortedNeighbourPairs(m, math.max(4L, math.min(cap, rows / RowsPerPart + 1L)).toInt,
      windowSize)
  }

  /** `candidatePairs` over blocked mentions (`blocked`) with an explicit
    * range-partition count. `m` must be cheap to scan twice and must not
    * be a cached relation (see `snapshot`). */
  private[graft] def sortedNeighbourPairs(m: DataFrame, parts: Int,
      windowSize: Int): DataFrame = {
    val spark = m.sparkSession
    import spark.implicits._
    // both passes must read ONE range shuffle: a second one would sample
    // its own range bounds and partition the rows differently
    require(spark.conf.get("spark.sql.exchange.reuse", "true").toBoolean,
      "sorted-neighbourhood pairs need spark.sql.exchange.reuse=true")
    val sorted = m
      .repartitionByRange(parts, col("block_key"), col("mention_id"))
      .sortWithinPartitions("block_key", "mention_id")
      .as[Blocked]
    val inner = sorted.mapPartitions(inPartition(_, windowSize))
    val stitched = sorted.mapPartitions(edgeRows(_, windowSize))
      .repartition(1)
      .mapPartitions(stitch(_, windowSize))
    scorePairs(inner.union(stitched).toDF())
  }

  private def sameBlock(a: Blocked, b: Blocked): Boolean =
    java.util.Objects.equals(a.block_key, b.block_key)

  private def pair(a: Blocked, b: Blocked): RawPair =
    RawPair(a.block_key, a.mention_id, b.mention_id, a.surface, b.surface,
      a.best_qid, b.best_qid)

  /** Each row paired with its next `w` rows of the same block, inside one
    * sorted partition. */
  private def inPartition(rows: Iterator[Blocked], w: Int): Iterator[RawPair] = {
    val last = new Array[Blocked](w) // row i sits at i % w
    var i = 0
    rows.flatMap { r =>
      val out = (1 to math.min(w, i)).map(k => last((i - k) % w))
        .filter(sameBlock(_, r)).map(pair(_, r))
      last(i % w) = r
      i += 1
      out
    }
  }

  /** The first and last `w` rows of one sorted partition, each once. */
  private def edgeRows(rows: Iterator[Blocked], w: Int): Iterator[EdgeRow] = {
    val part = TaskContext.getPartitionId()
    val head = new Array[Blocked](w)
    val tail = new Array[Blocked](w) // row i sits at i % w
    var n = 0L
    rows.foreach { r =>
      if (n < w) head(n.toInt) = r
      tail((n % w).toInt) = r
      n += 1
    }
    (0L until math.min(n, w.toLong)).iterator.map(i => EdgeRow(part, i, n, head(i.toInt))) ++
      (math.max(w.toLong, n - w) until n).iterator.map(i =>
        EdgeRow(part, i, n, tail((i % w).toInt)))
  }

  /** Pairs across partition boundaries from all partitions' edge rows. A
    * row's global rank is its position plus the sizes of all earlier
    * partitions; the k-th successor (k <= w) of a row in another partition
    * is always among that partition's first w rows, and a row with such a
    * successor is among its own partition's last w rows, so the edge rows
    * hold every cross-partition pair. */
  private def stitch(rows: Iterator[EdgeRow], w: Int): Iterator[RawPair] = {
    val es = rows.toArray.sortBy(e => (e.part, e.pos))
    val sizes = es.map(e => e.part -> e.size).distinct
    val offset = sizes.map(_._1).zip(sizes.scanLeft(0L)(_ + _._2)).toMap
    val rank = es.map(e => offset(e.part) + e.pos)
    for {
      i <- es.indices.iterator
      j <- (i + 1 until es.length).iterator.takeWhile(j => rank(j) - rank(i) <= w)
      if es(j).part != es(i).part && sameBlock(es(i).m, es(j).m)
    } yield pair(es(i).m, es(j).m)
  }

  /** The input written ONCE to a scratch parquet snapshot and read back
    * (the north_rule's stage-checkpoint pattern), with its row count from
    * the snapshot's footers.
    *
    * The range Exchange runs a separate sampling job over its child, so an
    * unmaterialized input (annotate!) would execute once for the samples
    * and once for the shuffle. A cached input is snapshotted too: adaptive
    * execution wraps each consumer's scan of a cached relation in its own
    * query stage, which keeps the range Exchange above it from being
    * reused, and two range Exchanges sample their bounds independently.
    * A persisted, eagerly checkpointed input is no substitute: under AQE the
    * sampling job, the shuffle map stage and the checkpoint job race to
    * build the same cached blocks and re-run annotate a nondeterministic
    * number of times. A committed file snapshot has no such race and
    * survives executor loss on a real cluster. It must outlive the returned
    * (lazy) frame, so it is removed by the exit cleanup, not here. */
  private def snapshot(m: DataFrame): (DataFrame, Long) = {
    val spark = m.sparkSession
    val dir = s"${scratchDir(spark)}/m"
    m.write.parquet(dir)
    val rows = graft.ckpt.Snapshots.footerRowCounts(spark, dir).map(_._2).sum
    (spark.read.parquet(dir), rows)
  }

  /** Per-call scratch directory for stage snapshots, on the Spark local
    * dir (tmpfs on this box). Unique per call: a lazily-consumed frame
    * from a previous call must never see its files overwritten. */
  private def scratchDir(spark: SparkSession): String = {
    val base = spark.conf.getOption("spark.local.dir")
      .orElse(sys.env.get("SPARK_LOCAL_DIRS"))
      .getOrElse(System.getProperty("java.io.tmpdir"))
    val dir = s"$base/graft-stage/${java.util.UUID.randomUUID()}"
    cleanupOnExit(dir)
    dir
  }

  private[graft] def rmDir(d: String): Unit = {
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
      f.delete(); ()
    }
    rm(new java.io.File(d))
  }

  private lazy val exitCleanup: scala.collection.mutable.Buffer[String] = {
    val dirs = scala.collection.mutable.Buffer.empty[String]
    Runtime.getRuntime.addShutdownHook(new Thread(() => dirs.foreach(rmDir)))
    dirs
  }

  private[graft] def cleanupOnExit(dir: String): Unit =
    exitCleanup.synchronized { exitCleanup += dir; () }

  /** Reference implementation of the same pairing via a per-block global
    * window — the semantic oracle for `candidatePairs` (PairsCcSpec pins
    * them equal). NOT scalable: the hottest block lands on one task. */
  private[graft] def candidatePairsViaWindow(
      mentions: DataFrame, windowSize: Int = WindowSize): DataFrame = {
    val m = blocked(mentions)
    val w = Window.partitionBy(col("block_key")).orderBy(col("mention_id"))
    val withNext = (1 to windowSize).foldLeft(m) { (df, k) =>
      df.withColumn(s"next_id_$k", lead(col("mention_id"), k).over(w))
        .withColumn(s"next_surface_$k", lead(col("surface"), k).over(w))
        .withColumn(s"next_qid_$k", lead(col("best_qid"), k).over(w))
    }
    val pairCols = (1 to windowSize).map { k =>
      struct(col(s"next_id_$k").as("id2"), col(s"next_surface_$k").as("surface2"),
        col(s"next_qid_$k").as("qid2"))
    }
    scorePairs(withNext
      .select(col("block_key"), col("mention_id").as("id1"),
        col("surface").as("surface1"), col("best_qid").as("qid1"),
        explode(array(pairCols: _*)).as("p"))
      .filter(col("p.id2").isNotNull)
      .select(
        col("block_key"), col("id1"), col("p.id2").as("id2"),
        col("surface1"), col("p.surface2").as("surface2"),
        col("qid1"), col("p.qid2").as("qid2")))
  }

  /** Surface-similarity + linkage-agreement scoring of raw id pairs. */
  private def scorePairs(pairs: DataFrame): DataFrame =
    pairs
      .select(col("block_key"), col("id1"), col("id2"),
        col("surface1"), col("surface2"), col("qid1"), col("qid2"))
      .withColumn("lev", levenshtein(col("surface1"), col("surface2")))
      .withColumn("jw", round(jaroWinkler(col("surface1"), col("surface2")), 6))
      .withColumn("same_entity",
        col("qid1").isNotNull && col("qid2").isNotNull && col("qid1") === col("qid2"))

  /** same-entity edges for transitive clustering. */
  def sameEntityEdges(pairs: DataFrame): DataFrame =
    pairs.filter(col("same_entity"))
      .select(col("id1").as("src"), col("id2").as("dst"))

  /** Pairwise precision/recall/F1 of predicted same_entity labels vs gold
    * labels over the SAME pair universe (the gate in BASELINE.json). */
  def pairwiseF1(pairs: DataFrame, goldCol: String): (Double, Double, Double) = {
    val r = pairs.agg(
      sum(when(col("same_entity") && col(goldCol), 1L).otherwise(0L)).as("tp"),
      sum(when(col("same_entity") && !col(goldCol), 1L).otherwise(0L)).as("fp"),
      sum(when(!col("same_entity") && col(goldCol), 1L).otherwise(0L)).as("fn"))
      .head()
    val tp = r.getLong(0).toDouble
    val fp = r.getLong(1).toDouble
    val fn = r.getLong(2).toDouble
    val p = if (tp + fp > 0) tp / (tp + fp) else 1.0
    val rec = if (tp + fn > 0) tp / (tp + fn) else 1.0
    val f1 = if (p + rec > 0) 2 * p * rec / (p + rec) else 0.0
    (p, rec, f1)
  }
}
