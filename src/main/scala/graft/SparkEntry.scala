package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.dict.DictSpec
import graft.graph.PageRank

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  * Every entry in `queries` has either a full DuckDB oracle in `oracleSql`
  * (generated in graft.Oracles from the same deterministic spec) or a
  * rows-only check. Column names and types are aligned between both sides.
  */
object SparkEntry {

  private def read(spark: SparkSession, dir: String, table: String): DataFrame =
    spark.read.parquet(s"$dir/$table.parquet")

  /** Flagship query on sf=0.001: the full annotate pipeline (mention
    * extraction -> candidate ranking -> similarity graph -> feature
    * propagation -> SVM scoring -> best link) under the frozen NON-TRIVIAL
    * context model (Scoring.ctxModel). */
  def entry(spark: SparkSession): DataFrame =
    Pipeline.annotate(spark, "/root/testdata/sf0.001", Pipeline.Linker.Ctx)

  /** The annotate queries' rows: one best link per mention, with its
    * score and log-likelihood when the model makes them checkable. */
  private def links(best: DataFrame, scored: Boolean = false): DataFrame = {
    val link = Seq(col("doc_id"), col("start").as("m_start"), col("end").as("m_end"),
      col("surface"), col("best_qid"))
    val score = Seq(round(col("score"), 6).as("score"),
      round(col("log_likelihood"), 6).as("log_likelihood"))
    best.select(link ++ (if (scored) score else Nil): _*)
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- relational coverage over the TPC-H-ish star ----------------------
    "q1_agg" -> ((s, dir) => {
      read(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit(java.sql.Timestamp.valueOf("1997-01-01 00:00:00")))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          round(sum(col("l_quantity")), 2).as("sum_qty"),
          round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("revenue"),
          count(lit(1)).as("n_rows"))
    }),
    "q2_join_topk" -> ((s, dir) => {
      val o = read(s, dir, "orders")
      val c = read(s, dir, "customer")
      o.join(c, o("o_custkey") === c("c_custkey"))
        .groupBy(col("c_custkey"), col("c_name"))
        .agg(round(sum(col("o_totalprice")), 2).as("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(10)
    }),
    "q3_window_topk" -> ((s, dir) => {
      val w = Window.partitionBy(col("c_nationkey"))
        .orderBy(col("c_acctbal").desc, col("c_custkey"))
      read(s, dir, "customer")
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= lit(3))
        .select(col("c_nationkey"), col("c_custkey"), col("rnk"))
    }),
    "q4_anti_join" -> ((s, dir) => {
      val c = read(s, dir, "customer")
      val o = read(s, dir, "orders")
        .filter(col("o_orderpriority") === lit("1-URGENT"))
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .select(col("c_custkey"))
    }),

    // ---- entity-linking pipeline ------------------------------------------
    "el_dict" -> ((s, _) => {
      Pipeline.artifacts(s).entityDict.select(
        col("id"), col("revid"), col("label"), col("desc"),
        size(col("edges")).as("n_edges"),
        size(col("aliases")).as("n_aliases"),
        size(col("extra_aliases")).as("n_extra"),
        col("nb_statements"), col("nb_sitelinks"),
        col("types")("Q200").as("type_ok"),
        col("types")("P2002").as("prop_ok"))
    }),
    "el_dict_keys" -> ((s, _) =>
      Pipeline.artifacts(s).dictKeys.select("norm_key", "qid", "n_tokens")),
    "el_bow" -> ((s, _) => {
      val items = Pipeline.parsedDump(s)
      val (bow, _) = graft.model.Bow.build(items)
      bow.select(col("word"), col("count"))
    }),
    "el_pagerank" -> ((s, _) => {
      val a = Pipeline.artifacts(s)
      val items = Pipeline.parsedDump(s)
      val (weighted, _) = PageRank.normalizeEdges(PageRank.rawEdgesFromItems(items))
      val nodes = weighted.select(col("src").as("n"))
        .union(weighted.select(col("dst").as("n"))).distinct()
      nodes.join(a.pagerank.ranks, nodes("n") === a.pagerank.ranks("qid"), "left")
        .select(col("n").cast("int").as("qid_num"),
          round(coalesce(col("rank"), lit(a.pagerank.background)), 6).as("rank"))
    }),
    "el_mentions" -> ((s, dir) =>
      Pipeline.mentions(s, dir)
        .select(col("doc_id"), col("start").as("m_start"), col("end").as("m_end"),
          col("surface"))),
    "el_candidates" -> ((s, dir) =>
      Pipeline.candidates(s, dir)
        .select(col("doc_id"), col("start").as("m_start"), col("end").as("m_end"),
          col("qid"), round(col("rank"), 6).as("rank"), col("tag_order"))),
    "el_annotate" -> ((s, dir) => links(Pipeline.annotate(s, dir))),
    "el_annotate_salted" -> ((s, dir) =>
      // the Zipf-skew scale mode driven through the driver contract: the
      // 16-way hot-key scatter join (SaltedJoin) replaces the broadcast
      // dict attach; rows must equal el_annotate's oracle exactly
      links(Pipeline.annotate(s, dir, Pipeline.Linker.Salted))),
    "el_annotate_incr" -> ((s, dir) =>
      // incremental crawl-delta annotate through committed snapshots: the
      // two-phase (day1 commit -> day2 anti-join delta -> union commit)
      // state must equal the one-shot batch annotate — same oracle
      links(Pipeline.annotateIncremental(s, dir))),
    "el_annotate_ctx" -> ((s, dir) =>
      // frozen NON-TRIVIAL model: similarity graph + 2-step propagation +
      // SVM arithmetic + BOW log-likelihood all drive the checked output
      links(Pipeline.annotate(s, dir, Pipeline.Linker.Ctx), scored = true)),
    "el_annotate_trained" -> ((s, dir) =>
      // frozen spark.ml-TRAINED model (TrainFreeze/LinearSVC): the weights
      // in the served decision function provably came from training —
      // closing the reference's train-classifier entry point (cli.py:176)
      links(Pipeline.annotate(s, dir, Pipeline.Linker.Trained), scored = true)),
    "el_annotations" -> ((s, dir) => {
      // JSON annotation sink exercised for real: serialize per-doc JSON,
      // parse it back, project per-doc aggregates the oracle re-derives
      // relationally — a malformed/incomplete document cannot hash-match
      val js = graft.link.Annotations.toJsonPerDoc(
        Pipeline.annotate(s, dir), Pipeline.candidates(s, dir))
      val schema = org.apache.spark.sql.types.DataType.fromDDL(
        """struct<doc_id: long, annotations: array<struct<
          |  phrase: string, start: int, end: int, log_likelihood: double,
          |  best_qid: string, best_tag_label: string,
          |  tags: array<struct<id: string, label: string, rank: double,
          |    nb_statements: int, nb_sitelinks: int, tag_order: int>>>>>""".stripMargin)
      js.select(from_json(col("json"), schema).as("j"))
        .select(col("j.doc_id").as("doc_id"),
          size(col("j.annotations")).as("n_annotations"),
          expr("array_join(transform(j.annotations, a -> a.best_qid), ',')").as("qids"),
          round(expr("aggregate(transform(j.annotations, a -> a.log_likelihood), 0d, (acc, x) -> acc + x)"), 4).as("sum_ll"),
          expr("aggregate(transform(j.annotations, a -> size(a.tags)), 0, (acc, x) -> acc + x)").as("n_tags"))
    }),
    "el_pairs" -> ((s, dir) =>
      Pipeline.pairs(s, dir)
        .select(col("block_key"), col("id1"), col("id2"), col("lev"), col("jw"),
          col("same_entity"))),
    "el_cc_alias" -> ((s, _) => {
      // connected components over the alias-sharing qid graph (tiny,
      // SQL-oracled); the full mention-cluster CC runs in el_clusters
      val keys = Pipeline.artifacts(s).dictKeys
      val a = keys.select(col("norm_key"), expr("cast(substring(qid, 2) as long)").as("qa"))
      val b = keys.select(col("norm_key").as("nk2"), expr("cast(substring(qid, 2) as long)").as("qb"))
      val edges = a.join(b, a("norm_key") === b("nk2") && col("qa") < col("qb"))
        .select(col("qa").as("src"), col("qb").as("dst")).distinct()
      val nodes = keys.select(expr("cast(substring(qid, 2) as long)").as("node")).distinct()
      graft.link.ConnectedComponents.runWithIsolated(s, nodes, edges)
    }),
    "el_sim" -> ((s, _) => {
      // the reference's THREE similarity kernels (similarities.py:28-69)
      // over every candidate-entity pair sharing a blocking key, computed
      // by the production Scoring column functions; the oracle re-derives
      // each kernel arithmetically in SQL from the dict + edge literals
      val a = Pipeline.artifacts(s)
      val keys = a.dictKeys.select(col("norm_key"), col("qid")).distinct()
      val ents = a.entityDict.select(col("id").as("qid"),
        expr("cast(substring(id, 2) as int)").as("qn"), col("edges"))
      val l = keys.join(ents, "qid")
        .select(col("norm_key"), col("qid").as("qid_a"), col("qn").as("na"),
          col("edges").as("edges_a"))
      val r = keys.join(ents, "qid")
        .select(col("norm_key").as("nk2"), col("qid").as("qid_b"),
          col("qn").as("nb"), col("edges").as("edges_b"))
      import graft.link.Scoring
      l.join(r, l("norm_key") === r("nk2") && col("qid_a") < col("qid_b"))
        .select(col("norm_key"), col("qid_a"), col("qid_b"),
          round(Scoring.directLinkSim(col("na"), col("edges_a"), col("nb"), col("edges_b")), 6)
            .as("sim_direct"),
          round(Scoring.edgeRatioSim(col("na"), col("edges_a"), col("nb"), col("edges_b")), 6)
            .as("sim_edge_ratio"),
          round(Scoring.oneStepSim(0.85)(col("na"), col("edges_a"), col("nb"), col("edges_b")), 6)
            .as("sim_one_step"))
    }),
    "el_eval" -> ((s, dir) => {
      // evaluate_model (classifier.py:221-260) as a one-row distributed
      // aggregation: the spark.ml-TRAINED model's best links scored with
      // the frozen ctx model's best links as the judgment set — exercising
      // the production P/R/F1 evaluation path end-to-end; the oracle
      // re-derives both annotate chains AND the evaluation arithmetic
      val best = Pipeline.annotate(s, dir, Pipeline.Linker.Trained)
        .select(col("doc_id"), col("start"), col("end"), col("best_qid"))
      val gold = Pipeline.annotate(s, dir, Pipeline.Linker.Ctx)
        .select(col("doc_id"), col("start"), col("end"),
          col("best_qid").as("qid"))
      graft.link.Trainer.evaluateDf(best, gold)
    }),
    "el_gold" -> ((s, dir) => {
      // gold-phrase match join (the training path's labeling step): every
      // candidate tag labeled against the planted gold judgment set via the
      // production plantedGold + labelTags used by TrainFreeze/crossfit —
      // the last previously unit-only join now driver-oracled
      val cands = Pipeline.candidates(s, dir)
      val gold = graft.link.Trainer.plantedGold(cands)
      graft.link.Trainer.labelTags(cands, gold)
        .select(col("doc_id"), col("start").as("m_start"),
          col("end").as("m_end"), col("qid"), col("label"))
    }),
    "el_nif" -> ((s, _) =>
      // NIF/Turtle gold-corpus scan (classifier.py:184-195) end-to-end over
      // a staged deterministic corpus: contexts + gold mentions + the
      // single-pass escape decoder all drive the checked rows
      graft.sources.NifGold.syntheticDemo(s)),
    "el_norm" -> ((s, _) => {
      // Qid/Pid URL normalization (utils.py:3-34) over the doctest-shaped
      // URL inventory; the oracle re-derives both extractions with DuckDB's
      // own regex engine
      import s.implicits._
      Seq(
        "http://www.wikidata.org/entity/Q42",
        "https://www.wikidata.org/wiki/Q8502",
        "Q3918",
        "http://www.wikidata.org/prop/direct/P2427",
        "http://www.wikidata.org/entity/P31",
        "P2002",
        "http://www.wikidata.org/entity/statement/Q42-F078",
        "Q042",
        "q42",
        "http://example.org/other").toDF("url")
        .select(col("url"),
          graft.dict.DictBuild.qidFromUrl(col("url")).as("qid"),
          graft.dict.DictBuild.pidFromUrl(col("url")).as("pid"))
    }),
    "el_fold" -> ((s, _) => {
      // unidecode (languagemodel.py:16) and Lucene-ASCIIFolding asciiFold
      // over a fixture covering accents, ligatures, ß, curly quotes and
      // unmapped scripts; the oracle re-derives both via strip_accents +
      // explicit ligature folds + a non-ASCII strip in DuckDB
      import s.implicits._
      Seq("café", "Ångström naïve", "Señor Peña", "l’œuvre de Æsop",
        "straße", "plain ASCII", "中文 mixed λ")
        .map(t => (t, graft.text.TextOps.unidecode(t),
          graft.text.TextOps.asciiFold(t)))
        .toDF("raw", "uni", "folded")
    }),
    "el_clusters" -> ((s, dir) =>
      // full transitive clustering of same-entity mention pairs; the oracle
      // re-derives components from the pairing structure (same-qid runs at
      // block-seq gap <= windowSize), independent of the large-star /
      // small-star algorithm under test
      Pipeline.clusters(s, dir)
        .select(col("node").cast("long").as("node"),
          col("component").cast("long").as("component"))),

    // ---- dedup suite --------------------------------------------------------
    // The dd_* family shares two cached stages (Pipeline.docsWide /
    // Pipeline.augShingleIds): every query below previously re-read the
    // 1-split documents scan and re-ran the shingle-id subtree from
    // scratch — the dominant repeated cost in the per-query table, and a
    // 1-2 task bottleneck at local[32] (see OPTIMIZATION_r06.md).
    "dd_exact" -> ((s, dir) =>
      graft.dedup.Dedup.exactDups(Pipeline.docsWide(s, dir))),
    "dd_minhash" -> ((s, dir) =>
      graft.dedup.Dedup.minhashCandidates(
        graft.dedup.Dedup.augment(Pipeline.docsWide(s, dir)),
        ids = Some(Pipeline.augShingleIds(s, dir)))),
    "dd_simhash" -> ((s, dir) =>
      graft.dedup.Dedup.simhash(Pipeline.augShingleIds(s, dir))),
    "dd_simhash_pairs" -> ((s, dir) =>
      // Manku-style Hamming banding over the dd_simhash fingerprints:
      // equi-join on (band, 8-bit block), exact bit_count(xor)<=3 verify
      // on candidates only — the SimHash analogue of MinHash LSH
      graft.dedup.Dedup.simhashCandidates(
        graft.dedup.Dedup.simhash(Pipeline.augShingleIds(s, dir)))),
    "dd_jaccard" -> ((s, dir) => {
      // the shingle-id table feeds BOTH the LSH candidate generation and the
      // exact-Jaccard verify — one persisted copy shared with the whole
      // dd_* family (at 100 TB this is the materialized intermediate the
      // stages share)
      val docs = graft.dedup.Dedup.augment(Pipeline.docsWide(s, dir))
      val ids = Pipeline.augShingleIds(s, dir)
      graft.dedup.Dedup.jaccardVerify(docs,
        graft.dedup.Dedup.minhashCandidates(docs, ids = Some(ids)), 0.5,
        precomputedIds = Some(ids))
    }),

    "dd_clusters" -> ((s, dir) =>
      // crawl dedup end-to-end: LSH -> Jaccard verify -> connected
      // components -> canonical doc per near-dup cluster (keep-decision)
      graft.dedup.Dedup.nearDupClusters(s,
        graft.dedup.Dedup.augment(Pipeline.docsWide(s, dir)),
        precomputedIds = Some(Pipeline.augShingleIds(s, dir)))),

    "dd_incr" -> ((s, dir) =>
      // incremental crawl-delta dedup: day 1 (original docs) commits the
      // MinHash index to snapshot tables; day 2 (the augmented re-crawl
      // variants, doc_id >= 10^6) is deduped against the COMMITTED index
      // plus itself — per-day work scales with the delta, not the corpus
      graft.dedup.Dedup.incrementalNearDups(s,
        graft.dedup.Dedup.augment(Pipeline.docsWide(s, dir)),
        col("doc_id") >= 1000000L,
        precomputedIds = Some(Pipeline.augShingleIds(s, dir)))),

    "dd_pipeline" -> ((s, dir) =>
      // the composed nightly cleaning decision: boilerplate removal ->
      // exact dedup on cleaned text -> quality + langid -> kept verdict,
      // all as one declarative plan (each stage is its oracled operator)
      graft.dedup.Dedup.cleanCorpus(Pipeline.docsWide(s, dir))),

    "dd_substr" -> ((s, dir) =>
      // exact-substring duplication (Lee et al. 2022): tokens covered by a
      // 20-token span occurring verbatim in another doc; digest-keyed gram
      // counts + per-doc merge-intervals window (no corpus window)
      graft.dedup.Dedup.substrDups(
        graft.dedup.Dedup.augment(Pipeline.docsWide(s, dir)))),

    "dd_lines" -> ((s, dir) =>
      // line-level boilerplate removal (CCNet-style): drop lines occurring
      // in >= 10 distinct docs over deterministically composed pages
      // (site header/footer templates), reassemble in original order
      graft.dedup.Dedup.lineDedup(
        graft.dedup.Dedup.composePages(Pipeline.docsWide(s, dir)))),

    "dd_embed" -> ((s, dir) =>
      // embedding-cosine near-dup: LSH buckets -> exact cosine verify,
      // over the deterministically-augmented embeddings (planted dups)
      graft.sim.Ann.embedNearDups(
        graft.sim.Ann.augmentEmbeddings(Pipeline.embWide(s, dir)))),

    // ---- similarity search --------------------------------------------------
    "ann_topk" -> ((s, dir) =>
      graft.sim.Ann.bruteForceTopK(Pipeline.embWide(s, dir))),
    "ann_lsh" -> ((s, dir) =>
      // LSH-bucketed variant — the signature arithmetic is deterministic
      // and portable, so the oracle recomputes signatures, bucket join and
      // re-rank exactly in SQL
      graft.sim.Ann.lshTopK(Pipeline.embWide(s, dir))),
    "ann_ivf" -> ((s, dir) =>
      // inverted-file variant — deterministic centroids, so the oracle
      // re-derives cells, probes and ranks exactly in SQL
      graft.sim.Ann.ivfTopK(Pipeline.embWide(s, dir))),

    // ---- text analysis ------------------------------------------------------
    "ts_langid" -> ((s, dir) =>
      graft.textstats.TextStats.langId(Pipeline.docsWide(s, dir))),
    "ts_quality" -> ((s, dir) =>
      graft.textstats.TextStats.quality(Pipeline.docsWide(s, dir))),
    "ts_tokens" -> ((s, dir) =>
      graft.textstats.TextStats.tokenCounts(Pipeline.docsWide(s, dir))),
    "ts_profile" -> ((s, dir) =>
      // per-language curation report: doc counts, token totals, exact
      // type-7 length percentiles (counts-map state, one lang shuffle)
      graft.textstats.TextStats.profile(Pipeline.docsWide(s, dir))),
    "ts_fingerprint" -> ((s, dir) =>
      graft.textstats.TextStats.fingerprint(Pipeline.docsWide(s, dir))),
    "ts_bm25" -> ((s, dir) =>
      // BM25 ranked retrieval — the reference's Solr query side
      // (tagger.py:45-60) as declarative Spark: broadcast query terms,
      // one per-doc aggregation, TakeOrderedAndProject top-k
      graft.search.Bm25.search(Pipeline.docsWide(s, dir),
        Seq("merge", "window", "scan", "vector", "customer"))),
    "ts_pack" -> ((s, dir) =>
      // sequence packing into 2048-token training shards via a two-phase
      // distributed prefix sum (no single-partition window over the data)
      graft.textstats.TextStats.pack(Pipeline.docsWide(s, dir))),
    "ts_repetition" -> ((s, dir) =>
      // Gopher-style within-doc repetition filter (duplicate n-gram
      // fraction) over the corpus + planted pathological repeats
      graft.textstats.TextStats.repetition(
        graft.textstats.TextStats.augmentRepetition(Pipeline.docsWide(s, dir)))),
    "ts_pii" -> ((s, dir) =>
      // C4-style PII scrub: email/phone/IPv4 counts + fixed-order redaction
      // as codegen'd regexp projections, over the corpus + planted PII
      graft.textstats.TextStats.piiScrub(
        graft.textstats.TextStats.augmentPii(Pipeline.docsWide(s, dir)))),
    "ts_sample" -> ((s, dir) =>
      // stratified language-quota sampling with a deterministic
      // multiplicative scatter (reproducible across cluster sizes — no rand)
      graft.textstats.TextStats.sampleByLanguage(Pipeline.docsWide(s, dir))),
    "ts_lm" -> ((s, dir) =>
      // CCNet-style unigram-LM quality score under the reference's BOW
      // smoothing: corpus LM fit + per-doc mean negative log-likelihood
      graft.textstats.TextStats.lmScore(Pipeline.docsWide(s, dir))),
    "dd_decontam" -> ((s, dir) =>
      // benchmark n-gram decontamination: broadcast benchmark 8-gram set,
      // per-row n-gram generator, equi-join match, one doc-keyed aggregate
      graft.dedup.Dedup.decontaminate(Pipeline.docsWide(s, dir))),
    "dd_decontam_bloom" -> ((s, dir) =>
      // same semantics via the past-broadcast-limit path: Bloom pre-filter
      // on the exploded n-grams + exact residual join; row-identical to
      // dd_decontam by construction, so it shares that oracle verbatim
      graft.dedup.Dedup.decontaminateBloom(Pipeline.docsWide(s, dir))),

    // ---- streaming ----------------------------------------------------------
    "stream_window" -> ((s, dir) =>
      graft.streaming.EventStream.windowedCounts(s, dir)),
    "stream_window_append" -> ((s, dir) =>
      // append-mode file-sink variant with checkpoint: the watermark
      // finalizes every data window (sentinel protocol), so the emitted
      // files equal the batch aggregation — the scale-path streaming shape
      graft.streaming.EventStream.windowedCountsAppend(s, dir)),
    "stream_dedup" -> ((s, dir) =>
      // streaming exact dedup with keyed state (dropDuplicatesWithinWatermark):
      // events + a full duplicate copy stream through two micro-batches; the
      // emitted set equals DISTINCT input (oracle = the events table)
      graft.streaming.EventStream.dedupWithinWatermark(s, dir)),
    "stream_upsert" -> ((s, _) =>
      // REAL Structured Streaming edit-stream upsert: readStream over staged
      // dump files -> foreachBatch merge -> one committed snapshot per batch
      graft.streaming.EventStream.dictUpsertStreamDemo(s)
        .select(col("id"), col("revid"), col("label"),
          size(col("edges")).as("n_edges"), size(col("aliases")).as("n_aliases"),
          col("nb_statements"), col("nb_sitelinks"))),

    // ---- multimodal / pages -------------------------------------------------
    "mm_extract" -> ((s, dir) => {
      val pages = graft.sources.Pages.fromDocuments(Pipeline.docsWide(s, dir))
      pages.select(col("url"), col("warc_ts").cast("long").as("warc_ts"),
        length(col("html")).as("html_len"),
        length(col("text")).as("text_len"),
        (graft.sources.Pages.extractTextUdf(col("html")) === col("text"))
          .as("extract_ok"))
    }),
    "dd_url" -> ((s, dir) =>
      // canonical-URL dedup over the crawl: syntactic URL variants (case,
      // www., default port, tracking query/fragment/trailing slash)
      // collapse to one canonical key; keep the latest crawl per key
      graft.sources.Pages.urlDedup(graft.sources.Pages.withUrlVariants(
        graft.sources.Pages.fromDocuments(Pipeline.docsWide(s, dir))))),
    "dd_hostcap" -> ((s, dir) =>
      // per-host anti-domination quota: keep the 10 earliest-crawled pages
      // per site via two salted aggregations (no corpus-sized host window)
      graft.sources.Pages.hostQuota(
        graft.sources.Pages.fromDocuments(Pipeline.docsWide(s, dir)))),
    "mm_features" -> ((s, dir) =>
      // batched binary feature extraction; the stub decode is a
      // deterministic byte histogram, so the DuckDB oracle re-derives f0
      // arithmetically (round-2's last no_oracle row, now closed)
      graft.sources.Pages.extractFeatures(
        graft.sources.Pages.fromDocuments(Pipeline.docsWide(s, dir)))
        .select(col("url"), col("n_bytes"),
          round(element_at(col("features"), 1), 6).as("f0"))),

    // ---- SQL function surface -------------------------------------------------
    "fn_sql" -> ((s, dir) => {
      // end-to-end through the registered SQL functions (GraftExtensions):
      // the custom Catalyst expressions must be reachable from plain SQL,
      // not just the Column API
      graft.functions.GraftExtensions.register(s)
      read(s, dir, "documents").createOrReplaceTempView("fn_docs")
      read(s, dir, "embeddings").createOrReplaceTempView("fn_emb")
      s.sql("""
        SELECT 'jw' AS fn, a.doc_id AS id,
               round(jaro_winkler(substring(a.text, 1, 40),
                                  substring(b.text, 1, 40)), 6) AS val
        FROM fn_docs a JOIN fn_docs b ON b.doc_id = a.doc_id + 1
        UNION ALL
        SELECT 'cos' AS fn, e1.vec_id AS id,
               round(cosine_sim(cast(e1.embedding AS array<double>),
                                cast(e2.embedding AS array<double>)), 6) AS val
        FROM fn_emb e1 JOIN fn_emb e2 ON e2.vec_id = e1.vec_id + 1
      """)
    }),
  )

  def oracleSql: Map[String, String] = Map(
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |round(sum(l_quantity), 2) AS sum_qty,
        |round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue,
        |CAST(count(*) AS BIGINT) AS n_rows
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1997-01-01 00:00:00'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin,
    "q2_join_topk" ->
      """SELECT c_custkey, c_name, round(sum(o_totalprice), 2) AS revenue
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_custkey, c_name
        |ORDER BY revenue DESC, c_custkey
        |LIMIT 10""".stripMargin,
    "q3_window_topk" ->
      """SELECT c_nationkey, c_custkey, CAST(rnk AS INTEGER) AS rnk FROM (
        |  SELECT c_nationkey, c_custkey,
        |         row_number() OVER (PARTITION BY c_nationkey
        |                            ORDER BY c_acctbal DESC, c_custkey) AS rnk
        |  FROM customer)
        |WHERE rnk <= 3""".stripMargin,
    "q4_anti_join" ->
      """SELECT c_custkey FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o
        |  WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT')""".stripMargin,
    "el_dict" -> Oracles.elDictSql,
    "el_dict_keys" -> Oracles.elDictKeysSql,
    "el_bow" -> Oracles.elBowSql,
    "el_pagerank" -> Oracles.elPagerankSql,
    "el_mentions" -> Oracles.elMentionsSql,
    "el_candidates" -> Oracles.elCandidatesSql,
    "el_annotate" -> Oracles.elAnnotateSql,
    "el_annotate_incr" -> Oracles.elAnnotateSql,
    // salted scale mode is result-exact by construction: same oracle
    "el_annotate_salted" -> Oracles.elAnnotateSql,
    "el_annotate_ctx" -> Oracles.elAnnotateCtxSql,
    "el_annotate_trained" -> Oracles.elAnnotateTrainedSql,
    "el_annotations" -> Oracles.elAnnotationsSql,
    "el_pairs" -> Oracles.elPairsSql,
    "el_sim" -> Oracles.elSimSql,
    "el_eval" -> Oracles.elEvalSql,
    "el_cc_alias" -> Oracles.elCcAliasSql,
    "el_gold" -> Oracles.elGoldSql,
    "el_nif" -> Oracles.elNifSql,
    "el_norm" -> Oracles.elNormSql,
    "el_fold" -> Oracles.elFoldSql,
    "el_clusters" -> Oracles.elClustersSql,
    "ann_lsh" -> Oracles.annLshSql,
    "ann_ivf" -> Oracles.annIvfSql,
    "dd_exact" -> Oracles.ddExactSql,
    "dd_minhash" -> Oracles.ddMinhashSql,
    "dd_simhash" -> Oracles.ddSimhashSql,
    "dd_simhash_pairs" -> Oracles.ddSimhashPairsSql,
    "dd_jaccard" -> Oracles.ddJaccardSql,
    "dd_incr" -> Oracles.ddIncrSql,
    "dd_substr" -> Oracles.ddSubstrSql,
    "dd_pipeline" -> Oracles.ddPipelineSql,
    "dd_lines" -> Oracles.ddLinesSql,
    "dd_clusters" -> Oracles.ddClustersSql,
    "dd_embed" -> Oracles.ddEmbedSql,
    "ann_topk" -> Oracles.annTopkSql,
    "ts_langid" -> Oracles.tsLangidSql,
    "ts_quality" -> Oracles.tsQualitySql,
    "ts_tokens" -> Oracles.tsTokensSql,
    "ts_profile" -> Oracles.tsProfileSql,
    "ts_bm25" -> Oracles.tsBm25Sql,
    "ts_fingerprint" -> Oracles.tsFingerprintSql,
    "ts_pack" -> Oracles.tsPackSql,
    "ts_repetition" -> Oracles.tsRepetitionSql,
    "ts_pii" -> Oracles.tsPiiSql,
    "ts_sample" -> Oracles.tsSampleSql,
    "ts_lm" -> Oracles.tsLmSql,
    "dd_decontam" -> Oracles.ddDecontamSql,
    // exact-by-construction Bloom variant: same result set, same oracle
    "dd_decontam_bloom" -> Oracles.ddDecontamSql,
    "dd_url" -> Oracles.ddUrlSql,
    "dd_hostcap" -> Oracles.ddHostcapSql,
    "stream_dedup" -> Oracles.streamDedupSql,
    "stream_window" -> Oracles.streamWindowSql,
    // append mode emits exactly the finalized data windows => same oracle
    "stream_window_append" -> Oracles.streamWindowSql,
    "stream_upsert" -> Oracles.streamUpsertSql,
    "mm_extract" -> Oracles.mmExtractSql,
    "mm_features" -> Oracles.mmFeaturesSql,
    "fn_sql" -> Oracles.fnSqlSql,
  )
}
