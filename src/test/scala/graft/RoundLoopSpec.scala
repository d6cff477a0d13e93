package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import graft.dict.DictBuild
import graft.graph.PageRank
import graft.link.ConnectedComponents

/** The shared round loop frees each round's checkpoint blocks: once a
  * loop's result is collected, the only block-backed RDD it may leave
  * persisted is the last round's, and only when the returned frame reads
  * it. */
class RoundLoopSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** RDDs the frame's plan reads through a checkpoint. */
  private def backing(df: DataFrame): Set[Int] = df match {
    case c: org.apache.spark.sql.classic.Dataset[_] =>
      c.queryExecution.analyzed.collect { case l: LogicalRDD => l.rdd.id }.toSet
    case _ => Set.empty
  }

  private def assertOnlyLastRoundLeft(run: => DataFrame): Unit = {
    val before = persisted
    val out = run
    out.collect()
    val left = persisted -- before
    assert(left.size <= 1 && left.subsetOf(backing(out)),
      s"persisted after the run: $left, read by the result: ${backing(out)}")
  }

  test("a forced-loop CC run frees every round's blocks but the last") {
    val edges = (1 until 256).map(i => (i.toLong, (i + 1).toLong)).toDF("src", "dst")
    spark.conf.set("spark.graft.cc.localSolveEdges", "0")
    try {
      var rounds = 0
      assertOnlyLastRoundLeft(ConnectedComponents.run(spark, edges, onRound = rounds = _))
      assert(rounds >= 2)
    } finally spark.conf.unset("spark.graft.cc.localSolveEdges")
  }

  test("a PageRank run frees every round's blocks, with and without ckptRoot") {
    val items = DictBuild.parseDump(DictBuild.syntheticDump(spark))
    val (weighted, lastQid) = PageRank.normalizeEdges(PageRank.rawEdgesFromItems(items))
    // the loop without ckptRoot runs only above the local-solve gate
    assertOnlyLastRoundLeft(PageRank.solve(spark, weighted, lastQid, iterations = 5,
      localSolveEdges = 0).ranks)
    // below it the driver solve persists nothing
    val before = persisted
    PageRank.run(spark, weighted, lastQid, iterations = 5).ranks.collect()
    assert(persisted == before, s"persisted by the local solve: ${persisted -- before}")
    val root = java.nio.file.Files.createTempDirectory("graft_pr_free").toString
    try assertOnlyLastRoundLeft(PageRank.run(spark, weighted, lastQid, iterations = 5,
      ckptRoot = Some(root), ckptEvery = 2).ranks)
    finally graft.link.Pairs.rmDir(root)
  }
}
