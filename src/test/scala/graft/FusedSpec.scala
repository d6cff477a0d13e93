package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.link.{FusedAnnotate, Mentions, Scoring}

/** The fused pipeline (shuffle-free on the broadcast strategy, one
  * doc-keyed shuffle on join/salted) must equal the staged declarative
  * pipeline end-to-end (same best links, same scores). */
class FusedSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("fused annotate equals staged annotate on sf0.001") {
    val a = Pipeline.artifacts(spark)
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .filter(col("doc_id") < 60)
    val params = Scoring.Params()
    val model = Scoring.defaultModel()

    val staged = Scoring.bestLinks(
      Mentions.candidates(Mentions.extract(docs, a.dictKeys, a.maxKeyTokens),
        a.dictKeys, a.entityDict, a.pagerank, a.bow), params, model)
      .select("doc_id", "start", "end", "surface", "best_qid", "score")
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2)) ->
        (r.getString(3), r.getString(4), r.getDouble(5)))
      .toMap

    val fused = FusedAnnotate.annotate(docs, a, params, model)
      .select("doc_id", "start", "end", "surface", "best_qid", "score")
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2)) ->
        (r.getString(3), r.getString(4), r.getDouble(5)))
      .toMap

    assert(fused.keySet == staged.keySet)
    assert(fused.nonEmpty)
    fused.foreach { case (k, (surf, qid, score)) =>
      val (s2, q2, sc2) = staged(k)
      assert(surf == s2 && qid == q2, s"$k link mismatch")
      assert(math.abs(score - sc2) < 1e-9, s"$k score mismatch")
    }
  }

  test("join strategy (no driver dict collect) equals broadcast strategy") {
    val a = Pipeline.artifacts(spark)
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .filter(col("doc_id") < 60)
    val params = Scoring.Params()
    val model = Scoring.ctxModel() // non-trivial: scores must agree too
    def run(strategy: String) =
      FusedAnnotate.annotate(docs, a, params, model, strategy)
        .select("doc_id", "start", "end", "surface", "best_qid", "score")
        .collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getInt(2)) ->
          (r.getString(3), r.getString(4), r.getDouble(5)))
        .toMap
    val bc = run("broadcast")
    val jn = run("join")
    assert(bc.nonEmpty)
    assert(bc.keySet == jn.keySet)
    bc.foreach { case (k, (surf, qid, score)) =>
      val (s2, q2, sc2) = jn(k)
      assert(surf == s2 && qid == q2, s"$k link mismatch")
      assert(math.abs(score - sc2) < 1e-9, s"$k score mismatch")
    }
  }

  test("salted join strategy equals broadcast (hot alias keys salted)") {
    val a = Pipeline.artifacts(spark)
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .filter(col("doc_id") < 60)
    val params = Scoring.Params()
    val model = Scoring.ctxModel()
    def run(strategy: String, thr: Long) =
      FusedAnnotate.annotate(docs, a, params, model, strategy, thr)
        .select("doc_id", "start", "end", "surface", "best_qid", "score")
        .collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getInt(2)) ->
          (r.getString(3), r.getString(4), r.getDouble(5)))
        .toMap
    val bc = run("broadcast", 500000L)
    // threshold 5: at this corpus size the Zipf-hot surfaces genuinely
    // trip the estimator, so the salted plan (dim replicas + fact salt) is
    // actually exercised, not short-circuited to a plain join
    val salted = run("salted", 5L)
    assert(bc.nonEmpty && salted.keySet == bc.keySet)
    bc.foreach { case (k, (surf, qid, score)) =>
      val (s2, q2, sc2) = salted(k)
      assert(surf == s2 && qid == q2, s"$k link mismatch")
      assert(math.abs(score - sc2) < 1e-9, s"$k score mismatch")
    }
  }

  test("SaltedJoin: planted Zipf key joins exactly like a plain join") {
    import spark.implicits._
    // fact: one hot key (80% of rows), many cold; dim: 2 rows per key so
    // replication/dedup bugs would change the multiset
    val fact = ((1 to 800).map(i => ("hot", i)) ++
      (1 to 200).map(i => (s"cold${i % 20}", i))).toDF("k", "v")
    val dim = (Seq("hot") ++ (0 until 20).map(i => s"cold$i"))
      .flatMap(k => Seq((k, k + "_a"), (k, k + "_b"))).toDF("k", "payload")
    val plain = fact.join(dim, Seq("k")).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getString(2)))
      .groupBy(identity).view.mapValues(_.length).toMap
    // estimator path: hot key found from the sample alone
    val est = graft.plans.SaltedJoin.hotKeys(fact, "k",
      hotThreshold = 100, sampleFraction = 0.5)
    assert(est.contains("hot") && !est.exists(_.startsWith("cold")))
    val salted = graft.plans.SaltedJoin.join(fact, dim, "k",
      salts = 8, hotThreshold = 100, hot = Some(Seq("hot")))
      .select("k", "v", "payload").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getString(2)))
      .groupBy(identity).view.mapValues(_.length).toMap
    assert(salted == plain)
    // no hot keys -> identical plain-join short circuit
    val none = graft.plans.SaltedJoin.join(fact, dim, "k",
      salts = 8, hotThreshold = 100, hot = Some(Seq.empty))
      .select("k", "v", "payload").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getString(2)))
      .groupBy(identity).view.mapValues(_.length).toMap
    assert(none == plain)
  }
}
