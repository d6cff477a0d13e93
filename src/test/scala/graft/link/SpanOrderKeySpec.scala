package graft.link

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.{Gen, Prop, Test => SC}
import org.scalacheck.rng.Seed

/** The packed span-order key of the fused per-document pass: over
  * distinct spans inside the text cap and indices below 2^20, keys never
  * collide, sort as (start asc, end desc) and give the index back. */
class SpanOrderKeySpec extends AnyFunSuite {

  private val Max = Mentions.MaxLength
  private val IdxLimit = 1 << 20

  /** Positions biased to the edges of [0, Max]. */
  private def pos(lo: Int, hi: Int): Gen[Int] =
    Gen.frequency(3 -> Gen.chooseNum(lo, hi), 1 -> Gen.oneOf(lo, hi))

  private val span: Gen[(Int, Int)] =
    pos(0, Max - 1).flatMap(s => pos(s + 1, Max).map(e => (s, e)))

  private val boundarySpans =
    Seq((0, 1), (0, Max), (Max - 1, Max), (Max / 2, Max), (0, Max / 2))

  /** Distinct spans, each with a distinct index; indices 0 and 2^20 - 1
    * always present. */
  private val spans: Gen[Seq[(Int, Int, Int)]] = for {
    n <- Gen.chooseNum(0, 300)
    drawn <- Gen.listOfN(n, span)
    drawnIdx <- Gen.listOfN(n + boundarySpans.size, Gen.chooseNum(1, IdxLimit - 2))
  } yield {
    val distinct = (boundarySpans ++ drawn).distinct
    val idx = (LazyList(IdxLimit - 1, 0) ++ drawnIdx ++ LazyList.from(1)).distinct
    distinct.zip(idx).map { case ((s, e), i) => (s, e, i) }
  }

  test("packed span-order key is collision-free and sorts (start asc, end desc)") {
    val prop = Prop.forAll(spans) { sp =>
      val keys = sp.map { case (s, e, i) => FusedAnnotate.spanOrderKey(s, e, i) }
      val bySortedKey = keys.sorted.map(k => (k & (IdxLimit - 1)).toInt)
      val byOrder = sp.sortBy { case (s, e, _) => (s, -e) }.map(_._3)
      keys.distinct.size == sp.size && bySortedKey == byOrder
    }
    val res = SC.check(SC.Parameters.default.withMinSuccessfulTests(200)
      .withInitialSeed(Seed(0x5BA11L)), prop)
    assert(res.passed, res.status.toString)
  }
}
