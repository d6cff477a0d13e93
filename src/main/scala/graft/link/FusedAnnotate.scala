package graft.link

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.{Pipeline, SessionCache}
import graft.model.Bow
import graft.text.TextOps

/** Fused annotate pipeline (the 100 TB shape): span generation, dictionary
  * probe, NO_SUB overlap resolution, the tagsLimit cap, the prune filter,
  * per-mention top-10 by rank and the full context classifier
  * (DocClassifier.scoreDoc) for one document at a time.
  *
  * Feature attachment has two strategies (size-gated, differential-tested
  * equal):
  *  - "broadcast": NO shuffle. The dictionary is collected once per
  *    Artifacts into a norm_key -> (qid, features) map and broadcast; each
  *    document row is tagged inside one map pass over the input (cap ->
  *    first-token-filtered n-gram spans -> map probe -> processDoc), the
  *    way the reference's Solr FST tagger serves one request per document.
  *    Right while the dictionary fits comfortably on the driver
  *    (<= BroadcastDictLimit rows).
  *  - "join" / "salted": spans explode into rows, equi-join the dictionary
  *    keys and the per-qid feature frame, then groupByKey(doc_id) — the ONE
  *    shuffle — regroups them for processDoc. No driver-side collect whose
  *    volume scales with dictionary size: the 10^7-10^8-item path.
  *
  * Every per-document step is bounded (<= 500 spans x 10 tags), so each
  * document costs O(1) memory. The declarative stages (Mentions/Scoring)
  * remain the semantic oracle: FusedSpec pins this path equal to the
  * staged path, and the DuckDB oracles (scripts/check_oracles.py) check
  * the staged path independently.
  */
object FusedAnnotate {

  /** Above this dictionary size the "auto" strategy flips from the
    * collect+broadcast map to the qid equi-join. */
  val BroadcastDictLimit = 1000000L

  /** per-qid static features, rank = 23 + ln(pagerank) folded in. */
  final case class QidFeat(label: String, edges: Array[Int],
      nbStatements: Int, nbSitelinks: Int, rank: Double)

  /** A span hit with its entity features attached (processDoc's input; the
    * join strategy's shuffle row). */
  final case class FeatHit(doc_id: Long, norm_key: String, start: Int, end: Int,
      surface: String, qid: String, label: String, edges: Seq[Int],
      nb_statements: Int, nb_sitelinks: Int, rank: Double)

  /** Per-qid feature FRAME (no driver collect): entity dict left-joined
    * with pagerank, OOV defaults folded in (wikidatagraph.py:165-170). */
  def qidFeatureFrame(a: Pipeline.Artifacts): DataFrame = {
    val pr = a.pagerank
    a.entityDict
      .select(col("id").as("qid"), col("label"), col("edges"),
        col("nb_statements"), col("nb_sitelinks"),
        expr("cast(substring(id, 2) as long)").as("qid_num"))
      .join(pr.ranks.select(col("qid").cast("long").as("qid_num"),
        col("rank").as("pr_rank")), Seq("qid_num"), "left")
      .withColumn("rank",
        lit(23.0) + log(graft.graph.PageRank.lookupExpr("qid_num", "pr_rank", pr)))
      .drop("qid_num", "pr_rank")
  }

  def qidFeatures(a: Pipeline.Artifacts): Map[String, QidFeat] =
    qidFeatureFrame(a)
      .select("qid", "label", "edges", "nb_statements", "nb_sitelinks", "rank")
      .collect().map { r =>
        r.getString(0) -> QidFeat(r.getString(1),
          r.getAs[scala.collection.Seq[Int]](2).toArray,
          r.getInt(3), r.getInt(4), r.getDouble(5))
      }.toMap

  /** The broadcast strategy's dictionary: norm_key -> every candidate
    * (qid, features) of that key. One map replaces both the dictKeys join
    * and the qid -> features lookup; a dictKeys qid without an entity row
    * is dropped, as the inner feature join drops it. */
  private def keyCandidates(a: Pipeline.Artifacts): Map[String, Array[(String, QidFeat)]] = {
    val feats = qidFeatures(a)
    a.dictKeys.select("norm_key", "qid").collect()
      .flatMap(r => feats.get(r.getString(1)).map(f => r.getString(0) -> (r.getString(1), f)))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
  }

  /** Sort key of a span `idx` of one document: ascending keys order the
    * spans by (start asc, end desc), and the low 20 bits give `idx` back.
    * Sound for distinct spans with 0 <= start < end <= Mentions.MaxLength
    * (start and 16383 - end each fit 14 bits) and idx < 2^20. */
  private[link] def spanOrderKey(start: Int, end: Int, idx: Int): Long =
    ((start.toLong << 14 | (16383 - end).toLong) << 20) | idx.toLong

  /** Doc-local pipeline: NO_SUB -> tagsLimit -> prune -> top-10 by rank ->
    * context classifier -> per-mention argmax. Shared by both strategies. */
  private def processDoc(docId: Long, all: Array[FeatHit], bm: Bow.Model,
      params: Scoring.Params, model: Scoring.SvmModel): Iterator[DocClassifier.BestLink] = {
    // Flat-array rewrite of the per-document tagger stage: the original
    // groupBy/exists version allocated a HashMap + per-span arrays and ran
    // an O(spans^2) containment scan; at 32 threads the allocation traffic
    // alone capped parallel scaling on this box. Semantics are pinned equal
    // to the staged declarative path by FusedSpec.
    if (all.isEmpty) return Iterator.empty
    // sort hits by (start, end); contiguous runs are the distinct spans in
    // document order (Solr returns spans ordered)
    java.util.Arrays.sort(all, (a: FeatHit, b: FeatHit) =>
      if (a.start != b.start) Integer.compare(a.start, b.start)
      else Integer.compare(a.end, b.end))
    // span run boundaries
    val runStart = new scala.collection.mutable.ArrayBuffer[Int](64)
    var i = 0
    while (i < all.length) {
      if (i == 0 || all(i).start != all(i - 1).start || all(i).end != all(i - 1).end)
        runStart += i
      i += 1
    }
    val nSpans = runStart.length
    // NO_SUB: a span is dropped iff strictly contained in another span.
    // Walk spans ordered by (start asc, end desc); every candidate
    // container precedes the contained span in that order, so one running
    // max over end positions replaces the O(spans^2) exists scan.
    val spanStart = new Array[Int](nSpans)
    val spanEnd = new Array[Int](nSpans)
    i = 0
    while (i < nSpans) {
      spanStart(i) = all(runStart(i)).start; spanEnd(i) = all(runStart(i)).end
      i += 1
    }
    // (start asc, end desc) order via a primitive packed-key sort: no
    // Integer per span in the engine's hottest per-document pass
    val packed = new Array[Long](nSpans)
    i = 0
    while (i < nSpans) {
      packed(i) = spanOrderKey(spanStart(i), spanEnd(i), i)
      i += 1
    }
    java.util.Arrays.sort(packed)
    val contained = new Array[Boolean](nSpans)
    var maxEnd = Int.MinValue
    i = 0
    while (i < nSpans) {
      val k = (packed(i) & 0xFFFFFL).toInt
      if (spanEnd(k) <= maxEnd) contained(k) = true
      else maxEnd = spanEnd(k)
      i += 1
    }
    // tagsLimit cap (document order) THEN prune filter (tagger.py:71-89)
    val keptIdx = new scala.collection.mutable.ArrayBuffer[Int](64)
    var taken = 0
    i = 0
    while (i < nSpans && taken < Mentions.TagsLimitPerDoc) {
      if (!contained(i)) {
        taken += 1
        if (!TextOps.prunePhrase(all(runStart(i)).surface)) keptIdx += i
      }
      i += 1
    }
    if (keptIdx.isEmpty) return Iterator.empty
    // per-mention candidates: dedup by qid (first hit wins), top-10 by
    // rank desc / qid asc, assembled directly in (start, end, tag_order)
    // order so the scoring pass needs no re-sort
    val tags = new scala.collection.mutable.ArrayBuffer[DocClassifier.TagRow](keptIdx.length * 4)
    keptIdx.foreach { k =>
      val lo = runStart(k)
      val hi = if (k + 1 < nSpans) runStart(k + 1) else all.length
      val surface = all(lo).surface
      val normKey = all(lo).norm_key
      val ll = -bm.phraseLL(surface)
      // dedup qid keeping first occurrence (run is small: <= a few dozen)
      val uniq = new scala.collection.mutable.ArrayBuffer[FeatHit](hi - lo)
      var j = lo
      while (j < hi) {
        val h = all(j)
        var seen = false
        var u = 0
        while (u < uniq.length && !seen) { if (uniq(u).qid == h.qid) seen = true; u += 1 }
        if (!seen) uniq += h
        j += 1
      }
      val byRank = uniq.toArray
      java.util.Arrays.sort(byRank, (a: FeatHit, b: FeatHit) =>
        if (a.rank != b.rank) java.lang.Double.compare(b.rank, a.rank)
        else a.qid.compareTo(b.qid))
      val top = math.min(byRank.length, Mentions.TopTagsPerMention)
      var t = 0
      while (t < top) {
        val h = byRank(t)
        tags += DocClassifier.TagRow(docId, spanStart(k), spanEnd(k), surface,
          normKey, ll, h.qid, h.qid.drop(1).toLong, h.label, h.edges,
          h.nb_statements, h.nb_sitelinks, h.rank, t + 1)
        t += 1
      }
    }
    val sorted = tags.toArray
    DocClassifier.bestPerMention(sorted, DocClassifier.scoreDoc(sorted, params, model))
  }

  /** Annotate end-to-end. Returns BestLink rows.
    * strategy: "auto" (size-gated), "broadcast", "join", or "salted"
    * ("join" with the norm_key equi-join routed through
    * [[graft.plans.SaltedJoin]] — the explicit hot-alias-key salting path
    * for Zipfian web-mention skew once the dictionary outgrows broadcast;
    * `saltHotThreshold` is the estimated per-key row count above which a
    * key is salted).
    *
    * The broadcast strategy runs no shuffle: one map pass over `docs` at
    * their own partitioning. It tags each input ROW as one document, so
    * `docs` must hold one row per doc_id (the documents table, an
    * anti-joined delta); join/salted regroup by doc_id in their shuffle.
    * Null text is empty text: no spans, no links. */
  def annotate(docs: DataFrame, a: Pipeline.Artifacts,
      params: Scoring.Params, model: Scoring.SvmModel,
      strategy: String = "auto",
      saltHotThreshold: Long = 500000L): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._

    // broadcast once per (context, Artifacts instance), never per call, as
    // the reference builds its Solr index once; keyed by reference, since an
    // Artifacts' case-class hash walks its whole BOW map
    val sc = spark.sparkContext
    val byRef = new SessionCache.Ref(a)
    val bow = SessionCache.broadcast(sc, (byRef, "bow"))(a.bow)
    val firstTok = Mentions.firstTokenFilter(a.dictKeys)

    val useBroadcast = strategy match {
      case "broadcast" => true
      case "join" | "salted" => false
      case "auto" => a.dictCount <= BroadcastDictLimit
      case other => throw new IllegalArgumentException(s"unknown strategy: $other")
    }

    if (useBroadcast) {
      // only this strategy collects the dictionary to the driver
      val dict = SessionCache.broadcast(sc, (byRef, "key_candidates"))(keyCandidates(a))
      val (maxN, analyzer) = (a.maxKeyTokens, a.analyzer)
      docs.select(col("doc_id").cast("long"), col("text"))
        .as[Mentions.DocRow]
        .flatMap { d =>
          // deref the broadcasts INSIDE the task (executor-side lazy fetch)
          val cands = dict.value
          val text = Mentions.cappedText(d.text)
          val hits = new scala.collection.mutable.ArrayBuffer[FeatHit](64)
          TextOps.ngramSpansFor(analyzer, text, maxN, firstTok.value.ok _).foreach { s =>
            cands.get(s.key).foreach { cs =>
              val surface = text.substring(s.start, s.end)
              cs.foreach { case (qid, f) =>
                hits += FeatHit(d.doc_id, s.key, s.start, s.end, surface, qid,
                  f.label, scala.collection.immutable.ArraySeq.unsafeWrapArray(f.edges),
                  f.nbStatements, f.nbSitelinks, f.rank)
              }
            }
          }
          processDoc(d.doc_id, hits.toArray, bow.value, params, model)
        }.toDF()
    } else {
      // join strategy: features flow through the shuffle; the dict never
      // lands on the driver. dictKeys join stays an equi-join (Spark picks
      // broadcast vs shuffle by stats); feature join keys on qid. "salted"
      // additionally scatters hot norm_keys over 16 shuffle partitions.
      val spans = Mentions.candidateSpans(docs, a.maxKeyTokens, a.analyzer,
        Some(firstTok))
      val dictKeys = a.dictKeys.select("norm_key", "qid")
      val keyed =
        if (strategy == "salted")
          graft.plans.SaltedJoin.join(spans, dictKeys, "norm_key",
            salts = 16, hotThreshold = saltHotThreshold)
        else spans.join(dictKeys, Seq("norm_key"))
      val hits = keyed
        .join(qidFeatureFrame(a), Seq("qid"))
        .select(col("doc_id"), col("norm_key"), col("start"), col("end"),
          col("surface"), col("qid"), col("label"), col("edges"),
          col("nb_statements"), col("nb_sitelinks"), col("rank"))
        .as[FeatHit]
      hits.groupByKey(_.doc_id).flatMapGroups { (docId, it) =>
        processDoc(docId, it.toArray, bow.value, params, model)
      }.toDF()
    }
  }
}
