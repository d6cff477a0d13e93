package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.dict.{DictBuild, DictSpec}
import graft.graph.PageRank

class PageRankSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  lazy val result: PageRank.Result = {
    val items = DictBuild.parseDump(DictBuild.syntheticDump(spark))
    val (weighted, lastQid) = PageRank.normalizeEdges(PageRank.rawEdgesFromItems(items))
    PageRank.run(spark, weighted, lastQid)
  }

  test("normalized edges match plain-Scala preprocessing") {
    val items = DictBuild.parseDump(DictBuild.syntheticDump(spark))
    val (weighted, lastQid) = PageRank.normalizeEdges(PageRank.rawEdgesFromItems(items))
    assert(lastQid + 1 == DictSpec.graphN)
    val got = weighted.collect()
      .map(r => (r.getLong(0).toInt, r.getLong(1).toInt, r.getDouble(2))).toSet
    val exp = DictSpec.weightedEdges.toSet
    assert(got.map(e => (e._1, e._2)) == exp.map(e => (e._1, e._2)))
    got.foreach { case (s, d, w) =>
      val ew = DictSpec.weightedEdges.find(e => e._1 == s && e._2 == d).get._3
      assert(math.abs(w - ew) < 1e-12, s"weight($s,$d)")
    }
  }

  test("16-iteration power method matches dense plain-Scala oracle") {
    val got = result.ranks.collect()
      .map(r => r.getLong(0).toInt -> r.getDouble(1)).toMap
    // every explicit node agrees
    got.foreach { case (q, r) =>
      assert(math.abs(r - DictSpec.expectedPagerank(q)) < 1e-12, s"pagerank(Q$q)")
    }
    // background value = compensation, identical for all non-target indices
    val nonTargets = (0 until DictSpec.graphN).filterNot(got.contains)
    nonTargets.foreach { q =>
      assert(math.abs(result.background - DictSpec.expectedPagerank(q)) < 1e-12,
        s"background(Q$q)")
    }
    // mass conservation
    val totalMass = got.values.sum + nonTargets.size * result.background
    assert(math.abs(totalMass - 1.0) < 1e-9)
  }

  test("the driver solve below the gate equals the distributed loop") {
    val items = DictBuild.parseDump(DictBuild.syntheticDump(spark))
    val (weighted, lastQid) = PageRank.normalizeEdges(PageRank.rawEdgesFromItems(items))
    val w = weighted.persist()
    val local = PageRank.run(spark, w, lastQid)
    val loop = PageRank.solve(spark, w, lastQid, localSolveEdges = 0)
    val a = local.ranks.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val b = loop.ranks.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(a.keySet == b.keySet)
    a.foreach { case (q, r) => assert(math.abs(r - b(q)) < 1e-12, s"rank(Q$q)") }
    assert(math.abs(local.background - loop.background) < 1e-12)
    assert(local.ranks.schema.map(f => f.name -> f.dataType) ==
      loop.ranks.schema.map(f => f.name -> f.dataType))
    w.unpersist()
  }

  test("power method resumes from committed snapshots (partial -> full run)") {
    val items = DictBuild.parseDump(DictBuild.syntheticDump(spark))
    val (weighted, lastQid) = PageRank.normalizeEdges(PageRank.rawEdgesFromItems(items))
    val w = weighted.persist()
    val root = java.nio.file.Files.createTempDirectory("graft_pr_ckpt").toString
    // "killed" run: only 6 of 16 iterations; commits at it=3 and it=5
    PageRank.run(spark, w, lastQid, iterations = 6,
      ckptRoot = Some(root), ckptEvery = 4)
    val snap = graft.ckpt.Snapshots.latest(spark, root, "pr_ranks")
    assert(snap.nonEmpty && snap.get._2.inputs(1) == "round:6")
    // rerun asking for the full 16: must resume at it=6 and end equal to an
    // un-checkpointed fresh 16-iteration run (up to the summation-order ulp
    // of the l1 aggregation — the parquet snapshot partitions differently
    // than the in-memory checkpoint)
    val resumed = PageRank.run(spark, w, lastQid, iterations = 16,
      ckptRoot = Some(root), ckptEvery = 4)
    val fresh = PageRank.run(spark, w, lastQid, iterations = 16)
    val a = resumed.ranks.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val b = fresh.ranks.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(a.keySet == b.keySet)
    a.foreach { case (q, r) => assert(math.abs(r - b(q)) < 1e-12, s"rank(Q$q)") }
    assert(math.abs(resumed.background - fresh.background) < 1e-15)
    w.unpersist()
    graft.link.Pairs.rmDir(root)
  }

  test("resume identity is content-based: changed weights refuse a stale snapshot") {
    val items = DictBuild.parseDump(DictBuild.syntheticDump(spark))
    val (weighted, lastQid) = PageRank.normalizeEdges(PageRank.rawEdgesFromItems(items))
    val w = weighted.persist()
    val root = java.nio.file.Files.createTempDirectory("graft_pr_sig").toString
    PageRank.run(spark, w, lastQid, iterations = 6,
      ckptRoot = Some(root), ckptEvery = 4)
    assert(graft.ckpt.Snapshots.latest(spark, root, "pr_ranks").nonEmpty)
    // same edge COUNT and same lastQid, different weights: redistribute
    // each src's mass proportionally to dst+1 (still row-normalized, no
    // longer uniform) — a count-only identity (round-4 regression: inputId
    // was pr-input:count:lastQid) would resume from the stale ranks above
    // and converge to the WRONG vector
    val tot = sum(col("dst") + lit(1.0)).over(
      org.apache.spark.sql.expressions.Window.partitionBy(col("src")))
    val reweighted = w.withColumn("weight", (col("dst") + lit(1.0)) / tot)
    assert(reweighted.except(w).count() > 0, "reweighting must change the graph")
    val fromSnap = PageRank.run(spark, reweighted, lastQid, iterations = 16,
      ckptRoot = Some(root), ckptEvery = 100) // ckptEvery>its: no new commits
    val fresh = PageRank.run(spark, reweighted, lastQid, iterations = 16)
    val a = fromSnap.ranks.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val b = fresh.ranks.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(a.keySet == b.keySet)
    a.foreach { case (q, r) => assert(math.abs(r - b(q)) < 1e-12, s"rank(Q$q)") }
    w.unpersist()
    graft.link.Pairs.rmDir(root)
  }

  test("ambiguous surface 'merge': Q8 must outrank Q2 (gold design invariant)") {
    assert(DictSpec.pagerankOf(8) > DictSpec.pagerankOf(2))
    assert(DictSpec.goldQidByKey("merge") == "Q8")
  }

  test("OOV default is 0.01/N (wikidatagraph.py:165-170)") {
    assert(DictSpec.pagerankOf(99999) == 0.01 / DictSpec.graphN)
  }
}
