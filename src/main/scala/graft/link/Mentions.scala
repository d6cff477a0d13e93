package graft.link

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.text.TextOps
import graft.model.Bow
import graft.graph.PageRank

/** Mention extraction + candidate generation: the Spark-native replacement
  * for the Solr FST dictionary tagger (tagger.py:35-119 +
  * managed-schema:63-75).
  *
  * Plan shape (one QueryExecution, scale-first):
  *   pages scan -> per-row flatMap (tokenize + n-gram spans; NO shuffle,
  *   candidate generation is document-local) -> broadcast equi-join on the
  *   normalized blocking key -> doc-local NO_SUB anti-join (doc-keyed
  *   shuffle, bounded per-doc fan-out) -> prune filter -> broadcast join of
  *   entity features + pagerank -> window top-10 per mention.
  *
  * At dictionary sizes beyond the broadcast threshold the key join flips to
  * a shuffle hash join; Zipfian hot keys (stopword-like aliases) are handled
  * by AQE skew-join splitting plus the early prune filter (SURVEY.md §4).
  *
  * This staged plan is the semantic oracle. Production annotate
  * ([[FusedAnnotate]]) runs the same steps per document: no shuffle while
  * the dictionary is broadcast, one doc-keyed shuffle on the join and
  * salted strategies.
  */
object Mentions {

  final case class DocRow(doc_id: Long, text: String)
  final case class SpanRow(doc_id: Long, norm_key: String, n_tokens: Int,
                           start: Int, end: Int, surface: String)

  val MaxLength = 10000 // tagger.py:33,41
  val TagsLimitPerDoc = 500 // tagger.py:45 (Solr tagsLimit)
  val TopTagsPerMention = 10 // tagger.py:118

  /** Document text capped at MaxLength chars (tagger.py:41); null text is
    * empty text, so it yields no spans. */
  def cappedText(text: String): String =
    if (text == null) ""
    else if (text.length > MaxLength) text.substring(0, MaxLength)
    else text

  /** Membership test over the dictionary's FIRST normalized tokens — the
    * other half of the FST-equivalence plan (SURVEY §4; with
    * maxKeyTokens bounding n-gram length). Exact HashSet while the
    * distinct first-token set is small; Bloom filter (~10 bits/token at
    * fpp 0.01) past the gate, where a 10^7-entry string set would strain
    * the broadcast. Bloom false positives only admit extra spans that the
    * dictionary equi-join then drops — the mention set is exact under
    * either representation. */
  sealed trait TokenFilter extends Serializable { def ok(t: String): Boolean }
  object TokenFilter {
    val ExactLimit = 2000000L
    final case class Exact(tokens: java.util.HashSet[String]) extends TokenFilter {
      override def ok(t: String): Boolean = tokens.contains(t)
    }
    final case class Bloom(bf: org.apache.spark.util.sketch.BloomFilter) extends TokenFilter {
      override def ok(t: String): Boolean = bf.mightContainString(t)
    }
    def fromDictKeys(dictKeys: DataFrame,
        exactLimit: Long = ExactLimit): TokenFilter = {
      val ft = dictKeys
        .select(substring_index(col("norm_key"), " ", 1).as("ft")).distinct()
      val n = ft.count()
      if (n <= exactLimit) {
        val s = new java.util.HashSet[String](math.max(16, n.toInt * 2))
        ft.collect().foreach(r => s.add(r.getString(0)))
        Exact(s)
      } else Bloom(ft.stat.bloomFilter("ft", n, 0.01))
    }
  }

  // One TokenFilter broadcast per (context, dictKeys frame): the filter is
  // an offline-artifact derivative (the reference compiles its FST once at
  // index time), so repeated annotate/extract calls must not rebuild it.
  def firstTokenFilter(dictKeys: DataFrame)
      : org.apache.spark.broadcast.Broadcast[TokenFilter] =
    graft.SessionCache.broadcast(dictKeys.sparkSession.sparkContext,
      (dictKeys, "first_token_filter"))(TokenFilter.fromDictKeys(dictKeys))

  /** Candidate spans: token n-grams (1..maxN) with offsets; document-
    * local, emitted from a typed flatMap (the engine's Generator-shaped op,
    * SURVEY.md §2.9). Text is capped at 10k chars first (tagger.py:41);
    * null text emits nothing.
    * With `firstTok` set, n-grams are emitted only at token positions whose
    * first normalized token can start a dictionary key — see
    * [[TokenFilter]]; without it every position emits maxN spans. */
  def candidateSpans(docs: DataFrame, maxN: Int,
      analyzer: String = "tapioca",
      firstTok: Option[org.apache.spark.broadcast.Broadcast[TokenFilter]] = None): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id").cast("long"), col("text"))
      .as[DocRow]
      .flatMap { d =>
        // deref the broadcast INSIDE the task (executor-side lazy fetch)
        val pred: String => Boolean = firstTok match {
          case Some(b) => b.value.ok _
          case None => null
        }
        val text = cappedText(d.text)
        TextOps.ngramSpansFor(analyzer, text, maxN, pred).map { s =>
          SpanRow(d.doc_id, s.key, s.nTokens, s.start, s.end,
            text.substring(s.start, s.end))
        }
      }
      .toDF()
  }

  /** Dictionary match: equi-join spans x blocking keys. The dictionary is
    * broadcast (it is the small side by construction); output one row per
    * (span, qid). */
  def matchSpans(spans: DataFrame, dictKeys: DataFrame): DataFrame =
    spans.join(broadcast(dictKeys.select("norm_key", "qid")), Seq("norm_key"))

  /** Distinct matched spans per doc with Solr NO_SUB overlap resolution
    * (tagger.py:44, solrconfig TaggerRequestHandler): drop any span strictly
    * contained in another matched span. Then the per-request tagsLimit cap
    * (first 500 spans in document order) and the prune filter
    * (tagger.py:71-89). The self-anti-join is doc-partitioned: per-doc span
    * counts are bounded, so the join is an equi-join on doc_id with a tiny
    * quadratic residual. */
  def resolveSpans(matched: DataFrame): DataFrame = {
    // the distinct span set feeds both sides of the containment anti-join;
    // both sides share the distinct's shuffle, so ReuseExchange runs the
    // scan->flatMap->join front half once per action — no persist needed
    // (round 2 persisted here and never released: a session-lifetime leak
    // per extract() call)
    val spans = matched
      .select("doc_id", "start", "end", "surface", "norm_key").distinct()
    val container = spans.select(
      col("doc_id").as("c_doc"), col("start").as("c_start"), col("end").as("c_end"))
    val noSub = spans.join(container,
      col("doc_id") === col("c_doc") &&
        col("c_start") <= col("start") && col("end") <= col("c_end") &&
        !(col("c_start") === col("start") && col("c_end") === col("end")),
      "left_anti")
    val wDoc = Window.partitionBy(col("doc_id")).orderBy(col("start"), col("end"))
    noSub
      .withColumn("span_rank", row_number().over(wDoc))
      .filter(col("span_rank") <= lit(TagsLimitPerDoc))
      .drop("span_rank")
      .filter(!(
        regexp_like(col("surface"), lit("(?U)^(\\w\\w?|[\\d ]{0,4})$")) &&
          col("surface") === lower(col("surface"))))
  }

  /** Full mention extraction: spans (first-token prefiltered) -> dict
    * match -> NO_SUB -> prune. Returns one row per surviving mention span
    * (doc_id, start, end, surface). */
  def extract(docs: DataFrame, dictKeys: DataFrame, maxN: Int,
      analyzer: String = "tapioca"): DataFrame =
    resolveSpans(matchSpans(
      candidateSpans(docs, maxN, analyzer, Some(firstTokenFilter(dictKeys))),
      dictKeys))

  /** Candidate enrichment + ranking (tagger.py:91-119): explode mention x
    * candidate qid, join entity features (broadcast), pagerank lookup with
    * OOV default, rank = 23 + ln(pagerank), BOW negative log-likelihood of
    * the surface, keep top-10 candidates per mention by rank (ties by qid
    * for determinism). */
  def candidates(
      mentions: DataFrame,
      dictKeys: DataFrame,
      entityDict: DataFrame,
      pr: PageRank.Result,
      bow: Bow.Model): DataFrame = {

    val withQids = mentions
      // BOW negative log-likelihood depends only on the surface, so compute
      // it BEFORE the candidate-qid join: the previous placement evaluated
      // the phrase tokenizer + word lookups once per (mention x candidate)
      // row — the widest fan-out in the plan — instead of once per mention
      // (guide §1.2: don't compute things you throw away / recompute)
      .withColumn("log_likelihood",
        graft.functions.BowLL.bowNegLL(bow, col("surface")))
      .join(broadcast(dictKeys.select("norm_key", "qid")), Seq("norm_key"))

    val features = entityDict.select(
      col("id").as("qid"), col("label"), col("edges"),
      col("nb_statements"), col("nb_sitelinks"))

    val ranksByQid = pr.ranks
      .select(col("qid").cast("long").as("qid_num"), col("rank").as("pr_rank"))

    val enriched = withQids
      .join(broadcast(features), Seq("qid"))
      .withColumn("qid_num", expr("cast(substring(qid, 2) as long)"))
      .join(broadcast(ranksByQid), Seq("qid_num"), "left")
      .withColumn("pagerank", PageRank.lookupExpr("qid_num", "pr_rank", pr))
      .withColumn("rank", lit(23.0) + log(col("pagerank")))

    val wMention = Window.partitionBy(col("doc_id"), col("start"), col("end"))
      .orderBy(col("rank").desc, col("qid"))
    enriched
      .withColumn("tag_order", row_number().over(wMention))
      .filter(col("tag_order") <= lit(TopTagsPerMention))
      .select("doc_id", "start", "end", "surface", "norm_key", "log_likelihood",
        "qid", "qid_num", "label", "edges", "nb_statements", "nb_sitelinks",
        "pagerank", "rank", "tag_order")
  }
}
