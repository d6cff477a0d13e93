package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.dict.{DictBuild, DictSpec}

/** The Spark/Catalyst dictionary build must agree with the independent
  * plain-Scala re-derivation of the reference semantics in DictSpec. */
class DictBuildSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  lazy val items = DictBuild.parseDump(DictBuild.syntheticDump(spark)).cache()

  test("dump reader skips bracket lines and strips trailing commas") {
    assert(items.count() == DictSpec.allEntities.size)
  }

  test("P279 subclass closure matches plain-Scala fixpoint") {
    import spark.implicits._
    val dump = DictBuild.p279Edges(items)
    val twoCycle = Seq((1, 2), (2, 1), (3, 2)).toDF("child", "parent")
    val selfLoop = Seq((5, 5), (6, 5)).toDF("child", "parent")
    def closure(edges: org.apache.spark.sql.DataFrame, root: Int) =
      DictBuild.subclassClosure(spark, edges, root)
    assert(closure(dump, 200) == DictSpec.subclassClosure(200))
    assert(closure(dump, 200) == Set(200, 201, 202))
    assert(closure(dump, 210) == Set(210, 211))
    // 201 is no P279 parent: its closure is itself
    assert(closure(dump, 201) == DictSpec.subclassClosure(201))
    assert(closure(dump, 201) == Set(201))
    assert(closure(twoCycle, 1) == Set(1, 2, 3))
    assert(closure(twoCycle, 3) == Set(3))
    assert(closure(selfLoop, 5) == Set(5, 6))
  }

  test("entity_to_document matches plain-Scala projection row by row") {
    val closures = Map("Q200" -> DictSpec.subclassClosure(200))
    val dict = DictBuild.entityToDocument(items, DictSpec.profile, closures)
    val got = dict.collect().map { r =>
      r.getAs[String]("id") -> r
    }.toMap

    val expected = DictSpec.expectedDict
    assert(got.keySet == expected.map(_.id).toSet)
    expected.foreach { e =>
      val r = got(e.id)
      assert(r.getAs[String]("label") == e.label, s"${e.id} label")
      assert(r.getAs[String]("desc") == e.desc, s"${e.id} desc")
      assert(r.getAs[Long]("revid") == e.revid, s"${e.id} revid")
      assert(r.getAs[scala.collection.Seq[Int]]("edges").toSeq == e.edges, s"${e.id} edges")
      assert(r.getAs[scala.collection.Seq[String]]("aliases").toSet == e.aliases.toSet, s"${e.id} aliases")
      assert(r.getAs[scala.collection.Seq[String]]("extra_aliases").toSeq == e.extraAliases, s"${e.id} extra")
      assert(r.getAs[Int]("nb_statements") == e.nbStatements, s"${e.id} nb_statements")
      assert(r.getAs[Int]("nb_sitelinks") == e.nbSitelinks, s"${e.id} nb_sitelinks")
      assert(r.getAs[Map[String, Boolean]]("types") == e.types, s"${e.id} types")
    }
  }

  test("exclusions: wrong type filtered, missing label filtered, fallback label kept") {
    val ids = DictSpec.expectedDict.map(_.id).toSet
    assert(!ids.contains("Q13")) // animal-typed (reference: Q8502 mountain)
    assert(!ids.contains("Q30")) // no label
    assert(ids.contains("Q31"))
    assert(DictSpec.expectedDict.find(_.id == "Q31").get.label == "jointure")
    // type entities themselves are not typed under Q200 -> excluded
    assert(!ids.contains("Q200") && !ids.contains("Q201"))
  }

  test("extra aliases carry the @ prefix (reference: @IRIF_Paris golden)") {
    assert(DictSpec.expectedDict.find(_.id == "Q6").get.extraAliases == Seq("@sparkengine"))
  }

  test("dict keys match plain-Scala expectation") {
    val dict = DictBuild.entityToDocument(items, DictSpec.profile,
      Map("Q200" -> DictSpec.subclassClosure(200)))
    val got = DictBuild.dictKeys(dict)
      .collect().map(r => (r.getString(r.fieldIndex("norm_key")),
        r.getString(r.fieldIndex("qid")), r.getInt(r.fieldIndex("n_tokens")))).toSet
    assert(got == DictSpec.expectedDictKeys.toSet)
    // the ambiguous surface has two candidates
    assert(got.filter(_._1 == "merge").map(_._2) == Set("Q2", "Q8"))
  }

  test("bow build matches plain-Scala train_from_dump") {
    val (bowDf, total) = graft.model.Bow.build(items)
    val got = bowDf.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(total == DictSpec.expectedBowTotal)
    assert(got == DictSpec.expectedBowCounts.filter(_._2 >= 2L))
    // threshold: words seen once are dropped
    assert(DictSpec.expectedBowCounts.exists(_._2 == 1L))
    assert(!got.values.exists(_ < 2L))
  }
}
