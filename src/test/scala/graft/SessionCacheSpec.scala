package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.storage.StorageLevel

/** The per-application cache behind Pipeline, FusedAnnotate and Mentions:
  * what its application end drops, and the per-session sfDir switch. */
class SessionCacheSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val testdata = "/root/testdata"
  val sf = s"$testdata/sf0.001"

  test("application end evicts every entry: artifacts, broadcasts, stage frames") {
    val sc = spark.sparkContext
    val a0 = Pipeline.artifacts(spark)
    val docs0 = Pipeline.docsWide(spark, sf)
    val ft0 = graft.link.Mentions.firstTokenFilter(a0.dictKeys)
    val dump0 = Pipeline.parsedDump(spark)
    val annotated0 = Pipeline.annotate(spark, sf)
    // the shared test session must stay up, so drive the eviction its
    // application end would run
    SessionCache.end(sc)
    Seq(docs0, dump0, annotated0).foreach(_.unpersist(false))
    val a1 = Pipeline.artifacts(spark)
    try {
      assert(a1 ne a0, "artifacts survived the application end")
      assert(Pipeline.docsWide(spark, sf) ne docs0)
      assert(Pipeline.parsedDump(spark) ne dump0)
      assert(Pipeline.annotate(spark, sf) ne annotated0)
      assert(graft.link.Mentions.firstTokenFilter(a0.dictKeys) ne ft0)
    } finally {
      // later suites get the artifacts they were built against back, and
      // no frame built on the rebuilt ones
      SessionCache.remove(sc)(_ => true)
      Pipeline.primeArtifacts(spark, a0)
    }
    assert(Pipeline.artifacts(spark) eq a0)
  }

  test("switching sfDir in one session releases the other working set") {
    val small = Pipeline.docsWide(spark, sf)
    val big = Pipeline.docsWide(spark, s"$testdata/sf0.01")
    try {
      assert(small.storageLevel == StorageLevel.NONE,
        "the sf0.001 frame stayed persisted after switching to sf0.01")
      assert(big.storageLevel == StorageLevel.MEMORY_AND_DISK)
      assert(Pipeline.docsWide(spark, s"$testdata/sf0.01") eq big)
    } finally {
      // back to sf0.001 for later suites: this releases the sf0.01 frame
      Pipeline.docsWide(spark, sf)
    }
    assert(big.storageLevel == StorageLevel.NONE)
  }
}
