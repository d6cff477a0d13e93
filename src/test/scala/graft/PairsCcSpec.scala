package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.functions.JaroWinkler
import graft.link.{ConnectedComponents, Pairs}
import graft.dict.DictSpec

class PairsCcSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("jaro-winkler matches the classic published goldens") {
    assert(math.abs(JaroWinkler.similarity("MARTHA", "MARHTA") - 0.9611111111) < 1e-9)
    assert(math.abs(JaroWinkler.similarity("DWAYNE", "DUANE") - 0.84) < 1e-9)
    assert(math.abs(JaroWinkler.similarity("DIXON", "DICKSONX") - 0.8133333333) < 1e-9)
    assert(JaroWinkler.similarity("same", "same") == 1.0)
    assert(JaroWinkler.similarity("abc", "xyz") == 0.0)
  }

  test("jaro-winkler as Catalyst expression inside a plan") {
    val df = Seq(("MARTHA", "MARHTA"), ("abc", "abc")).toDF("a", "b")
      .select(JaroWinkler.jaroWinkler(col("a"), col("b")).as("jw"))
    val got = df.collect().map(_.getDouble(0))
    assert(math.abs(got(0) - 0.9611111111) < 1e-9)
    assert(got(1) == 1.0)
  }

  test("connected components on a crafted graph") {
    // components: {1,2,3,7}, {4,5}, isolated {9}
    val edges = Seq((2L, 1L), (3L, 2L), (7L, 3L), (5L, 4L)).toDF("src", "dst")
    val nodes = Seq(1L, 2L, 3L, 4L, 5L, 7L, 9L).toDF("node")
    val got = ConnectedComponents.runWithIsolated(spark, nodes, edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 1L,
      4L -> 4L, 5L -> 4L, 9L -> 9L))
  }

  test("connected components on a long path (log-round convergence)") {
    val n = 64
    val edges = (1 until n).map(i => (i.toLong, (i + 1).toLong)).toDF("src", "dst")
    val got = ConnectedComponents.run(spark, edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size == n)
    assert(got.values.toSet == Set(1L))
  }

  test("CC local union-find endgame == distributed loop on a random graph") {
    // deterministic random graph: mixes chains, stars and isolated pairs
    val rnd = new scala.util.Random(42)
    val edges = Seq.tabulate(4000) { i =>
      val a = rnd.nextInt(1500).toLong
      val b = rnd.nextInt(1500).toLong
      (a + 1, b + 1)
    }.filter { case (a, b) => a != b }.toDF("src", "dst")
    // default conf: local solve engages (4k edges << 2M gate)
    val local = ConnectedComponents.run(spark, edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // force the distributed loop path
    spark.conf.set("spark.graft.cc.localSolveEdges", "0")
    try {
      val loop = ConnectedComponents.run(spark, edges)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(local == loop)
    } finally spark.conf.unset("spark.graft.cc.localSolveEdges")
  }

  test("CC loop resumes from committed snapshots after a mid-run kill") {
    // north_rule: "resumable from checkpoint with per-partition lineage +
    // metrics". Kill = a run bounded to too few rounds (its committed
    // snapshots survive, like a crashed driver's would); the rerun must
    // pick up at the committed round, not round 0, and still converge to
    // the same components as an un-checkpointed fresh run.
    val n = 4096
    val edges = (1 until n).map(i => (i.toLong, (i + 1).toLong)).toDF("src", "dst")
    val root = java.nio.file.Files.createTempDirectory("graft_cc_ckpt").toString
    intercept[IllegalArgumentException] {
      ConnectedComponents.run(spark, edges, maxRounds = 2,
        ckptRoot = Some(root), ckptEvery = 1)
    }
    val committed = graft.ckpt.Snapshots.latest(spark, root, "cc_rounds")
    assert(committed.nonEmpty, "the killed run left no committed snapshot")
    assert(committed.get._2.inputs(1) == "round:2")
    assert(committed.get._2.rows > 0) // per-partition counters were recorded

    val executed = scala.collection.mutable.Buffer.empty[Int]
    val resumed = ConnectedComponents.run(spark, edges,
      ckptRoot = Some(root), ckptEvery = 1, onRound = executed += _)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // the resumed run continued AFTER the committed prefix
    assert(executed.nonEmpty && executed.head == 3,
      s"expected resume at round 3, executed rounds: $executed")
    assert(resumed.size == n)
    assert(resumed.values.toSet == Set(1L))
    // and equals a fresh, un-checkpointed run
    val fresh = ConnectedComponents.run(spark, edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(resumed == fresh)
    graft.link.Pairs.rmDir(root)
  }

  test("boundary stitching: range-sorted pairs == window oracle at any partition count") {
    // one hot block (80 rows, two surfaces), a cold block, singleton blocks,
    // null links, doc ids shuffled against the row order
    val rnd = new scala.util.Random(17)
    val docIds = rnd.shuffle((1 to 120).map(_.toLong))
    val keys = (1 to 80).map(i => if (i % 3 == 0) "hot spot" else "hot") ++
      Seq.fill(13)("cold") ++ (1 to 5).map(i => s"solo$i")
    val rows = rnd.shuffle(keys.zipWithIndex.map { case (k, i) =>
      val qid = if (i % 7 == 0) null else s"Q${i % 3}"
      (docIds(i), i % 40, i % 40 + k.length, k, k, qid)
    })
    val mentions = rows.toDF("doc_id", "start", "end", "surface", "norm_key", "best_qid")
    def key(df: org.apache.spark.sql.DataFrame) =
      df.select("block_key", "id1", "id2", "surface1", "surface2", "qid1",
        "qid2", "lev", "jw", "same_entity").collect().map(_.toSeq).toSeq
    def layout(parts: Int) =
      Pairs.blocked(mentions)
        .repartitionByRange(parts, col("block_key"), col("mention_id"))
        .select(spark_partition_id(), col("block_key")).collect()
        .map(r => r.getInt(0) -> r.getString(1)).toSeq
    // the layouts exercise the stitching: the hot block spans >= 3
    // partitions, and at 100 partitions some hold fewer than W rows
    assert(layout(5).filter(_._2 == "hot").map(_._1).distinct.size >= 3)
    assert(layout(100).groupBy(_._1).values.exists(_.size < Pairs.WindowSize))
    for (w <- Seq(Pairs.WindowSize, 3); parts <- Seq(1, 5, 16, 100)) {
      val got = key(Pairs.sortedNeighbourPairs(Pairs.blocked(mentions), parts, w))
      val want = key(Pairs.candidatePairsViaWindow(mentions, w))
      assert(got.size == got.toSet.size, s"duplicate pairs at w=$w parts=$parts")
      assert(got.toSet == want.toSet, s"w=$w parts=$parts")
    }
  }

  test("distributed candidatePairs == window-oracle candidatePairs") {
    val best = Pipeline.annotate(spark, "/root/testdata/sf0.001")
    def key(df: org.apache.spark.sql.DataFrame) =
      df.select("block_key", "id1", "id2", "surface1", "surface2", "qid1",
        "qid2", "lev", "jw", "same_entity")
        .collect().map(_.toSeq).toSet
    val dist = key(Pairs.candidatePairs(best))
    val win = key(Pairs.candidatePairsViaWindow(best))
    assert(dist.nonEmpty)
    assert(dist == win)
  }

  test("GATE: pairwise F1 >= 0.99 vs gold mention-pair labels at the blocking key") {
    val pairs = Pipeline.pairs(spark, "/root/testdata/sf0.001").cache()
    assert(pairs.count() > 100)

    // gold: the planted surface -> entity mapping (DictSpec.goldQidByKey);
    // a pair is gold-same iff both mentions' surfaces map to the same entity
    val goldMap = DictSpec.goldQidByKey
    val goldUdf = udf { (s1: String, s2: String) =>
      (goldMap.get(s1), goldMap.get(s2)) match {
        case (Some(a), Some(b)) => a == b
        case _ => false
      }
    }
    val withGold = pairs
      .withColumn("gold_same", goldUdf(col("surface1"), col("surface2")))
    val (p, r, f1) = Pairs.pairwiseF1(withGold, "gold_same")
    info(f"pairwise precision=$p%.4f recall=$r%.4f f1=$f1%.4f")
    assert(f1 >= 0.99, f"pairwise F1 gate failed: $f1%.4f")

    // the evaluation is non-degenerate: both classes present
    val counts = withGold.groupBy("gold_same").count().collect()
      .map(r => r.getBoolean(0) -> r.getLong(1)).toMap
    assert(counts.getOrElse(true, 0L) > 0 && counts.getOrElse(false, 0L) > 0,
      s"gold labels degenerate: $counts")
  }

  test("clusters: all mentions of one entity land in one component") {
    val docs = Seq(
      (0L, "spark stream merge"),
      (1L, "the spark is big"),
      (2L, "spark table scan")).toDF("doc_id", "text")
    val a = Pipeline.artifacts(spark)
    val tags = graft.link.Mentions.candidates(
      graft.link.Mentions.extract(docs, a.dictKeys, a.maxKeyTokens),
      a.dictKeys, a.entityDict, a.pagerank, a.bow)
    val best = graft.link.Scoring.bestLinks(tags, graft.link.Scoring.Params(),
      graft.link.Scoring.defaultModel())
    val linked = best.withColumn("mention_id", Pairs.mentionIdCol)
    val edges = Pairs.sameEntityEdges(Pairs.candidatePairs(best))
    val comp = ConnectedComponents.runWithIsolated(
      spark, linked.select("mention_id"), edges)
    val byMention = linked.select(col("mention_id"), col("best_qid"))
      .join(comp, col("mention_id") === col("node"))
      .collect().map(r => r.getAs[String]("best_qid") -> r.getAs[Long]("component"))
    val sparkComponents = byMention.filter(_._1 == "Q6").map(_._2).toSet
    assert(sparkComponents.size == 1, s"spark mentions split: $byMention")
  }
}
