package graft.textstats

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines:
  * language id, quality scoring, token counting, document fingerprinting.
  * All per-row projections (no shuffle), codegen-friendly (built-in
  * functions only), each with an exact DuckDB-oracle formulation.
  */
object TextStats {

  /** stopword marker lists per language (deterministic heuristic; the
    * real-world version would be char-n-gram profiles — same plan shape). */
  val Markers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "is"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "fr" -> Seq("le", "la", "et", "est", "un"),
    "es" -> Seq("el", "la", "y", "es", "un"))

  /** language-id: per language score = #marker words of that language
    * present in the doc (distinct-token membership); predicted = argmax
    * score, ties alphabetically, 'und' if zero hits. Explode + window
    * argmax keeps the tie-break identical in Spark and the SQL oracle. */
  def langId(docs: DataFrame): DataFrame = {
    val scored = docs.select(col("doc_id"),
      explode(array(Markers.map { case (lang, words) =>
        struct(lit(lang).as("lang"),
          size(array_intersect(split(col("text"), " "), typedLit(words)))
            .as("hits"))
      }: _*)).as("s"))
      .select(col("doc_id"), col("s.lang").as("lang"), col("s.hits").as("hits"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("hits").desc, col("lang"))
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("doc_id"),
        when(col("hits") > 0, col("lang")).otherwise(lit("und")).as("pred_lang"),
        col("hits").cast("int").as("marker_hits"))
  }

  /** quality score: length, mean word length, stopword ratio, distinct
    * ratio — the standard web-text quality features, as pure arithmetic. */
  def quality(docs: DataFrame): DataFrame = {
    val toks = split(col("text"), " ")
    val nTok = size(toks)
    val distinctRatio = size(array_distinct(toks)).cast("double") / nTok.cast("double")
    val stop = typedLit(Markers.flatMap(_._2).distinct.sorted)
    val stopRatio = size(array_intersect(toks, stop)).cast("double") / nTok.cast("double")
    val meanLen = (length(col("text")) - (nTok - lit(1))).cast("double") / nTok.cast("double")
    docs.select(
      col("doc_id"),
      nTok.cast("int").as("n_tokens"),
      round(distinctRatio, 6).as("distinct_ratio"),
      round(stopRatio, 6).as("stopword_ratio"),
      round(meanLen, 6).as("mean_word_len"),
      round(
        lit(0.4) * distinctRatio + lit(0.3) * (lit(1.0) - stopRatio) +
          lit(0.3) * least(meanLen / lit(8.0), lit(1.0)), 6).as("quality"))
  }

  /** token counts: whitespace tokens + BPE-ish subword estimate (ceil of
    * chars/4 per token, the common rough token estimator). */
  def tokenCounts(docs: DataFrame): DataFrame = {
    val toks = split(col("text"), " ")
    docs.select(
      col("doc_id"),
      size(toks).cast("int").as("ws_tokens"),
      aggregate(toks, lit(0L),
        (acc, t) => acc + ceil(length(t).cast("double") / lit(4.0)).cast("long"))
        .as("bpe_tokens"))
  }

  /** Sequence packing: shard the corpus token stream (documents
    * concatenated in doc_id order) into contiguous training shards of
    * `capacity` whitespace tokens; a document belongs to the shard where
    * its first token lands — the pack-then-chunk shape that turns a corpus
    * into fixed-budget pretraining batches. Scale path: the global token
    * prefix sum is TWO-PHASE (per-range-partition local cumsum + broadcast
    * partition-boundary offsets) — no single-partition window over the
    * data anywhere; the only global window runs over numParts boundary
    * rows on the driver side of a broadcast. */
  def pack(docs: DataFrame, capacity: Long = 2048L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = docs.sparkSession
    val numParts = spark.sparkContext.defaultParallelism * 2
    val toks = docs.select(col("doc_id"),
      size(split(col("text"), " ")).cast("long").as("tokens"))
    val part = toks
      .repartitionByRange(numParts, col("doc_id"))
      .withColumn("pid", spark_partition_id())
    val wOff = Window.orderBy("pid").rowsBetween(Window.unboundedPreceding, -1)
    val offs = part.groupBy("pid").agg(sum("tokens").as("ptok"))
      .withColumn("off", coalesce(sum(col("ptok")).over(wOff), lit(0L)))
      .select("pid", "off")
    val wLocal = Window.partitionBy("pid").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    part
      .withColumn("local_off", coalesce(sum(col("tokens")).over(wLocal), lit(0L)))
      .join(broadcast(offs), Seq("pid"))
      .withColumn("stream_offset", col("off") + col("local_off"))
      .select(col("doc_id"), col("tokens"), col("stream_offset"),
        floor(col("stream_offset") / lit(capacity.toDouble)).as("shard_id"))
  }

  /** word n-grams with multiplicity (positions kept — unlike the dedup
    * shingles, repetition analysis needs the duplicate instances). */
  private def ngramsCol(n: Int): Column =
    when(size(split(col("text"), " ")) >= n,
      expr(s"transform(sequence(0, size(split(text, ' ')) - $n), " +
        s"i -> concat_ws(' ', slice(split(text, ' '), i + 1, $n)))"))
      .otherwise(array())

  /** Deterministic repetition augmentation for small scale factors: every
    * 50th doc (with >= 10 tokens) gains a pathological variant — its first
    * 10 words repeated 5 times — so the repetition filter has true
    * positives to catch at test scale (the analogue of Dedup.augment). */
  def augmentRepetition(docs: DataFrame): DataFrame = {
    val toks = split(col("text"), " ")
    val ten = array_join(slice(toks, 1, 10), " ")
    val variant = docs
      .filter(col("doc_id") % 50 === 0 && size(toks) >= 10)
      .select((col("doc_id") + lit(2000000L)).as("doc_id"),
        concat(ten, repeat(concat(lit(" "), ten), 4)).as("text"))
    docs.select(col("doc_id"), col("text")).unionByName(variant)
  }

  /** Gopher-style within-document repetition filter: the fraction of word
    * 2-grams / 3-grams that are duplicate instances (1 - distinct/total).
    * Boilerplate-heavy or looping generator output scores high; natural
    * web text stays low (corpus p99 ~0.10). Pure per-row projection over
    * codegen'd array functions — no shuffle, the 100 TB shape; threshold
    * 0.3 sits between the natural max (0.13) and the planted repeats
    * (~0.8). Rae et al. 2021 (Gopher), "repetitious text" filters. */
  def repetition(docs: DataFrame, threshold: Double = 0.3): DataFrame = {
    def dupFrac(g: Column): Column =
      when(size(g) > 0,
        round((size(g) - size(array_distinct(g))).cast("double")
          / size(g).cast("double"), 6))
        .otherwise(lit(0.0))
    docs.select(
      col("doc_id"),
      size(split(col("text"), " ")).cast("int").as("n_tokens"),
      dupFrac(ngramsCol(2)).as("dup_bigram_frac"),
      dupFrac(ngramsCol(3)).as("dup_trigram_frac"))
      .withColumn("repetitive", col("dup_bigram_frac") >= lit(threshold))
  }

  // ---- PII detection & redaction (C4/CCNet-style scrub) -------------------

  /** PII patterns, written to mean the same thing in Java regex (Spark's
    * codegen'd regexp_* expressions) and RE2 (the DuckDB oracle): ASCII
    * `\d`/`\b`, bounded classes, no lookaround/backrefs. */
  val PiiEmail = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PiiPhone = "\\b\\d{3}[-. ]\\d{3}[-. ]\\d{4}\\b"
  val PiiIp = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"

  /** Deterministic PII augmentation for small scale factors: every 25th doc
    * gains a variant (id +4*10^6) with one email, two phone formats and one
    * IPv4 appended, so the scrubber has true positives at test scale. */
  def augmentPii(docs: DataFrame): DataFrame = {
    val variant = docs.filter(col("doc_id") % 25 === 0)
      .select((col("doc_id") + lit(4000000L)).as("doc_id"),
        concat(col("text"),
          lit(" contact user"), col("doc_id").cast("string"),
          lit("@mail-example.org or call 555-123-4567 alt 310 555 0199"),
          lit(" from 203.0.113."), (col("doc_id") % 200).cast("string"))
          .as("text"))
    docs.select(col("doc_id"), col("text")).unionByName(variant)
  }

  /** PII scrub: count emails / phone numbers / IPv4s on the raw text, then
    * redact them in a fixed order (email, phone, ip). Pure per-row
    * projection over codegen'd regexp expressions — no shuffle, the 100 TB
    * shape (the C4 pipeline's PII pass; Raffel et al. 2020 §2.2). */
  def piiScrub(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      size(regexp_extract_all(col("text"), lit(PiiEmail), lit(0)))
        .cast("int").as("n_emails"),
      size(regexp_extract_all(col("text"), lit(PiiPhone), lit(0)))
        .cast("int").as("n_phones"),
      size(regexp_extract_all(col("text"), lit(PiiIp), lit(0)))
        .cast("int").as("n_ips"),
      regexp_replace(regexp_replace(regexp_replace(col("text"),
        PiiEmail, "<EMAIL>"), PiiPhone, "<PHONE>"), PiiIp, "<IP>")
        .as("clean_text"))

  // ---- stratified language-quota sampling ----------------------------------

  /** keep-permille per predicted language: downsample the dominant web
    * language, keep low-resource ones — the CCNet/ROOTS rebalancing shape. */
  val SampleQuota: Seq[(String, Int)] = Seq(
    "en" -> 500, "de" -> 1000, "fr" -> 1000, "es" -> 1000, "und" -> 200)

  /** Stratified sampling by language quota. The keep decision is a
    * deterministic multiplicative scatter of doc_id (Knuth constant, mod a
    * 20-bit prime) — NOT rand(): reproducible across runs, cluster sizes
    * and partitionings, and exactly restatable in the SQL oracle. One
    * shuffle total (langId's per-doc argmax); the sample filter itself is
    * per-row arithmetic. */
  def sampleByLanguage(docs: DataFrame): DataFrame = {
    val bucket = ((col("doc_id") * lit(2654435761L)) % lit(1000003L)) % lit(1000L)
    val quota = SampleQuota.tail
      .foldLeft(when(col("pred_lang") === SampleQuota.head._1,
        lit(SampleQuota.head._2))) { case (acc, (l, p)) =>
        acc.when(col("pred_lang") === l, lit(p))
      }.otherwise(lit(0))
    langId(docs)
      .select(col("doc_id"), col("pred_lang"),
        bucket.cast("int").as("bucket"),
        quota.cast("int").as("quota_permille"))
      .filter(col("bucket") < col("quota_permille"))
  }

  // ---- unigram-LM quality score --------------------------------------------

  /** Unigram-LM document score (the CCNet perplexity-filter shape): train
    * the corpus unigram LM, then score each document by its mean token
    * negative log-likelihood under the reference's BOW smoothing
    * (languagemodel.py:54-66: ll(w) = ln(1 + c(w)) − ln(1 + V + total)).
    * Scale: vocabulary counting is one hash aggregate; scoring joins tokens
    * to the vocab on word (broadcast at test scale, shuffle-hash at 100 TB)
    * and re-aggregates per doc — the BOW-ingest cost class. The grand
    * totals are one scalar aggregate fetched to the driver (a single row,
    * same pattern as PageRank's loss compensation). */
  def lmScore(docs: DataFrame,
      broadcastVocabLimit: Long = 2000000L): DataFrame = {
    val toks = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      .filter(length(col("word")) > 0)
    val vocab = toks.groupBy(col("word")).agg(count(lit(1)).as("c"))
    val stats = vocab.agg(sum(col("c")).as("total"), count(lit(1)).as("v")).head()
    val logDenom = math.log(1.0 + stats.getLong(1) + stats.getLong(0))
    // size-gated broadcast (same pattern as FusedAnnotate.BroadcastDictLimit):
    // a web-corpus unigram vocabulary is billions of rows — past the limit
    // the hint is dropped and the token->vocab attach becomes a shuffled
    // equi-join on word, which is the 100 TB shape. The vocab row count is
    // already on the driver from the stats aggregate above, so the gate
    // costs nothing extra.
    val vocabSide =
      if (stats.getLong(1) <= broadcastVocabLimit) broadcast(vocab) else vocab
    toks.join(vocabSide, Seq("word"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("int").as("n_tokens"),
        avg(log(lit(1.0) + col("c"))).as("mll"))
      .select(col("doc_id"), col("n_tokens"),
        round(lit(logDenom) - col("mll"), 6).as("avg_nll"))
  }

  /** deterministic word ids: dense rank over the sorted corpus vocabulary —
    * cross-engine oracle parity at test scale, NOT a scale path (one-task
    * window). [[fingerprint]] with idMode="xxhash64" is the 100 TB path. */
  def wordRanks(docs: DataFrame): DataFrame =
    docs.select(explode(split(col("text"), " ")).as("word"))
      .filter(length(col("word")) > 0)
      .distinct()
      .withColumn("wid", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy(col("word"))).cast("long"))

  /** rolling-hash document fingerprint: sum over tokens of
    * wid(token) * (position multiplier) mod P — position-sensitive
    * (anagram docs get different prints), portable arithmetic. idMode:
    * "rank" joins the dense vocabulary table (oracle parity); "xxhash64"
    * computes wid inline per row — no vocabulary, no join, no window. The
    * induced duplicate-grouping is pinned equal across modes in-suite. */
  def fingerprint(docs: DataFrame, idMode: String = "rank"): DataFrame = {
    val p = graft.dedup.Dedup.P
    val toks = docs.select(col("doc_id"), posexplode(split(col("text"), " ")))
      .withColumnRenamed("pos", "pos").withColumnRenamed("col", "word")
      .filter(length(col("word")) > 0)
    val withWid = idMode match {
      case "rank" => toks.join(broadcast(wordRanks(docs)), Seq("word"))
      case "xxhash64" =>
        toks.withColumn("wid", pmod(xxhash64(col("word")), lit(p)))
      case other => throw new IllegalArgumentException(s"unknown idMode: $other")
    }
    withWid
      .withColumn("mult", (lit(1L) + lit(37L) * (col("pos") % lit(64))) % lit(p))
      .groupBy(col("doc_id"))
      .agg((sum((col("wid") * col("mult")) % lit(p)) % lit(p)).as("fingerprint"))
  }

  /** Per-language corpus profile (the "know your data" curation report):
    * doc counts, token totals, and EXACT type-7 length percentiles — the
    * numbers a 100 TB curation run publishes per shard before filtering
    * thresholds are chosen.
    *
    * Exact (not approx_percentile) is affordable here because Spark's
    * `percentile` aggregates a counts-map over DISTINCT values per group:
    * state is bounded by the value domain (document lengths, ~10^6
    * distinct at any corpus size), not by row count — and the group key
    * (lang) has trivial cardinality. Both engines use the same type-7
    * linear interpolation, so percentiles compare exactly after the
    * repo's round-to-6 convention. One shuffle on lang, partial
    * aggregation map-side. */
  def profile(docs: DataFrame): DataFrame =
    docs
      .select(col("lang"), col("n_chars"),
        size(split(col("text"), " ")).as("n_tokens"))
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).cast("long").as("total_tokens"),
        round(avg(col("n_chars")), 6).as("mean_chars"),
        round(percentile(col("n_chars"), lit(0.5)), 6).as("p50_chars"),
        round(percentile(col("n_chars"), lit(0.9)), 6).as("p90_chars"),
        round(percentile(col("n_chars"), lit(0.99)), 6).as("p99_chars"),
        min(col("n_chars")).as("min_chars"),
        max(col("n_chars")).as("max_chars"))
}
