package perfbench

import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Seeded inputs. The same seed gives the same pages; the engine sees only
  * the generated frames. */
object Inputs {

  def rng(seed: Long, stream: Long, i: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ (stream << 40) ^ i)

  /** A seeded bijection of [0, n): i -> (a*i + b) mod n with gcd(a, n) = 1. */
  final case class Perm(a: Long, b: Long, n: Long) {
    def apply(i: Long): Long = java.lang.Math.floorMod(a * i + b, n)
  }

  def perm(seed: Long, stream: Long, n: Long): Perm = {
    val r = rng(seed, stream, 0)
    def gcd(x: Long, y: Long): Long = if (y == 0) x else gcd(y, x % y)
    var a = 1L + r.nextLong(math.max(1L, n - 1))
    while (gcd(a, n) != 1) a += 1
    Perm(a, r.nextLong(n), n)
  }

  // ---- sf0.1-shaped pages ---------------------------------------------------
  // The testdata `documents` table: 10-100 tokens per page drawn uniformly
  // from a 30-word vocabulary (every word starts a built-in dictionary key),
  // plus a rare "dup" token. Generated here from the seed instead of read,
  // so the benchmark needs nothing outside its checkout.
  val SfWords: Array[String] = Array("spark", "window", "merge", "table", "column",
    "vector", "stream", "value", "data", "small", "join", "filter", "big", "group",
    "hash", "customer", "sort", "order", "slow", "line", "part", "fast", "row",
    "the", "agg", "key", "query", "a", "scan", "batch")

  def sfText(seed: Long, page: Long): String = {
    val r = rng(seed, 1, page)
    val n = 10 + r.nextInt(91)
    val sb = new java.lang.StringBuilder(n * 6)
    var i = 0
    while (i < n) {
      if (i > 0) sb.append(' ')
      sb.append(if (r.nextInt(1000) == 0) "dup" else SfWords(r.nextInt(SfWords.length)))
      i += 1
    }
    sb.toString
  }

  /** The first `pages` pages of the seeded stream as (doc_id, text); doc
    * ids are a seeded permutation of [0, pages), so sorted-neighbourhood
    * order within a block differs per seed. */
  def sfPages(spark: SparkSession, seed: Long, pages: Long, slices: Int): DataFrame = {
    import spark.implicits._
    val p = perm(seed, 2, pages)
    spark.range(0, pages, 1, slices).as[Long]
      .map(i => (p(i), sfText(seed, i)))
      .toDF("doc_id", "text")
  }

  /** Pages of the given stream indices, doc ids permuted over [0, total). */
  def sfPagesLocal(seed: Long, pages: Seq[Long], total: Long): Seq[(Long, String)] = {
    val p = perm(seed, 2, total)
    pages.map(i => (p(i), sfText(seed, i)))
  }
}
