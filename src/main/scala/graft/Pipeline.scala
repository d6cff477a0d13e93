package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.dict.{DictBuild, DictSpec}
import graft.graph.PageRank
import graft.link.{FusedAnnotate, Mentions, Pairs, Scoring}
import graft.model.Bow

/** End-to-end wiring of the offline artifacts (dictionary, BOW, PageRank)
  * and the online annotation pipeline. The artifacts, the parsed dump and
  * the stage frames are built once per session from the deterministic
  * synthetic dump and held in [[SessionCache]] until the application ends.
  */
object Pipeline {

  final case class Artifacts(
      entityDict: DataFrame,
      dictKeys: DataFrame,
      maxKeyTokens: Int,
      bow: Bow.Model,
      pagerank: PageRank.Result,
      dictCount: Long,
      analyzer: String = "tapioca")

  private def artifactsKey(spark: SparkSession) = (spark, "artifacts")

  def artifacts(spark: SparkSession): Artifacts =
    SessionCache(spark.sparkContext, artifactsKey(spark))(buildArtifacts(spark))

  def buildArtifacts(spark: SparkSession): Artifacts = {
    val lines = DictBuild.syntheticDump(spark)
    val items = DictBuild.parseDump(lines).persist()
    val closures = DictSpec.profile.restrictTypes.map { c =>
      c.qid -> DictBuild.subclassClosure(spark, DictBuild.p279Edges(items), c.qid.drop(1).toInt)
    }.toMap
    val dict = DictBuild.entityToDocument(items, DictSpec.profile, closures).persist()
    val keys = DictBuild.dictKeys(dict, DictSpec.profile.solrconfig).persist()
    val maxN = keys.agg(max(col("n_tokens"))).head().getInt(0)
    val bow = Bow.buildModel(items)
    val (weighted, lastQid) = PageRank.normalizeEdges(PageRank.rawEdgesFromItems(items))
    val pr = PageRank.run(spark, weighted, lastQid)
    pr.ranks.persist().count()
    items.unpersist()
    Artifacts(dict, keys, maxN, bow, pr, dict.count(), DictSpec.profile.solrconfig)
  }

  /** Persist the offline artifacts as parquet tables (the reference's
    * "index once, serve many" lifecycle): benchmark children and repeated
    * sessions load them instead of re-running the dump build. */
  def saveArtifacts(a: Artifacts, dir: String): Unit = {
    val spark = a.entityDict.sparkSession
    import spark.implicits._
    a.entityDict.write.mode("overwrite").parquet(s"$dir/entity_dict")
    a.dictKeys.write.mode("overwrite").parquet(s"$dir/dict_keys")
    a.pagerank.ranks.write.mode("overwrite").parquet(s"$dir/pagerank")
    a.bow.wordCount.toSeq.toDF("word", "count")
      .write.mode("overwrite").parquet(s"$dir/bow")
    Seq((a.maxKeyTokens, a.bow.totalCount, a.pagerank.background,
      a.pagerank.n, a.pagerank.lastQid, a.dictCount, a.analyzer))
      .toDF("max_key_tokens", "bow_total", "pr_background", "pr_n",
        "pr_last_qid", "dict_count", "analyzer")
      .write.mode("overwrite").parquet(s"$dir/meta")
  }

  def loadArtifacts(spark: SparkSession, dir: String): Artifacts = {
    val meta = spark.read.parquet(s"$dir/meta").head()
    val bowMap = spark.read.parquet(s"$dir/bow").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    Artifacts(
      entityDict = spark.read.parquet(s"$dir/entity_dict"),
      dictKeys = spark.read.parquet(s"$dir/dict_keys"),
      maxKeyTokens = meta.getAs[Int]("max_key_tokens"),
      bow = Bow.Model(bowMap, meta.getAs[Long]("bow_total")),
      pagerank = PageRank.Result(
        ranks = spark.read.parquet(s"$dir/pagerank"),
        background = meta.getAs[Double]("pr_background"),
        n = meta.getAs[Long]("pr_n"),
        lastQid = meta.getAs[Long]("pr_last_qid")),
      dictCount = meta.getAs[Long]("dict_count"),
      analyzer = meta.getAs[String]("analyzer"))
  }

  /** Pre-seed the per-session artifact cache (benchmark children load
    * artifacts from parquet instead of rebuilding). */
  def primeArtifacts(spark: SparkSession, a: Artifacts): Unit =
    SessionCache.put(spark.sparkContext, artifactsKey(spark), a)

  def documents(spark: SparkSession, sfDir: String): DataFrame =
    spark.read.parquet(s"$sfDir/documents.parquet")

  /** Widen a frame whose scan parallelism collapsed below the session's
    * core count (guide §2.5 "input skew — repartition immediately after the
    * read"): the driver's corpus tables are single small parquet files with
    * one row group, so every CPU-heavy per-row stage downstream (shingling,
    * n-gram explode, URL canonicalization, vector kernels) runs on 1-2
    * tasks at local[32] without this. Adaptive, not constant: a production
    * corpus arrives in thousands of splits, `getNumPartitions >= cores`
    * holds, and no extra exchange is inserted. */
  private def widen(df: DataFrame): DataFrame = {
    // 8 slices, not defaultParallelism: measured on the query corpus, a
    // 32-wide cache made every downstream shuffle write cores*shufflePartitions
    // tiny blocks (5-7 s of shuffle-write/sys churn per stage) and turned
    // each cache re-scan into a 32-task scheduling round, costing more than
    // the extra parallelism bought; 8 slices amortize the per-task overhead
    // while cutting the former 1-2-task CPU bottleneck 4-8x. Inputs that
    // already arrive well-split (any real corpus) are left untouched.
    val target = math.min(8, df.sparkSession.sparkContext.defaultParallelism)
    if (df.rdd.getNumPartitions < target) df.repartition(target) else df
  }

  /** The documents table, width-adapted and cached per (session, sfDir):
    * the dedup/textstats/pages query families each re-read and re-project
    * this scan; sharing one cached, well-partitioned copy removes both the
    * repeated read and the 1-task scan bottleneck. */
  def docsWide(spark: SparkSession, sfDir: String): DataFrame =
    cached(spark, sfDir, "docs_wide") { widen(documents(spark, sfDir)) }

  /** The embeddings table, width-adapted and cached (ann_* / dd_embed all
    * run per-row vector kernels over it). */
  def embWide(spark: SparkSession, sfDir: String): DataFrame =
    cached(spark, sfDir, "emb_wide") {
      widen(spark.read.parquet(s"$sfDir/embeddings.parquet"))
    }

  /** Shared shingle-id stage for the dedup family: dd_minhash, dd_simhash,
    * dd_simhash_pairs, dd_jaccard, dd_clusters and dd_incr all start from
    * docShingleIds(augment(documents)) — previously recomputed per query
    * (the single most expensive repeated subtree in the per-query table).
    * One cached build, first user pays (the same contract as the el_*
    * stage caches). */
  def augShingleIds(spark: SparkSession, sfDir: String): DataFrame =
    cached(spark, sfDir, "dd_shingle_ids") {
      graft.dedup.Dedup.docShingleIds(
        graft.dedup.Dedup.augment(docsWide(spark, sfDir)))
    }

  // Parsed synthetic dump, cached per session: el_bow and el_pagerank
  // re-derive their models from the dump (the reference's train-bow /
  // compute-pagerank entry points), and re-parsing the dump inside each
  // query body is a fixed multi-second cost the round-4 rehearsal surfaced
  // as an apparent el_bow regression (1.1 -> 5.5 s vs r3, which reused the
  // session artifacts). Parsing once per session restores artifact reuse
  // without changing either query's checked output.
  def parsedDump(spark: SparkSession): DataFrame =
    SessionCache.frame(spark.sparkContext, (spark, "parsed_dump")) {
      DictBuild.parseDump(DictBuild.syntheticDump(spark))
    }

  private final case class Stage(spark: SparkSession, sfDir: String, name: String)

  // Stage-level caches: repeated driver queries (el_mentions, el_candidates,
  // el_annotate, el_pairs, el_clusters) share the expensive upstream stages
  // within a session instead of recomputing the whole pipeline.
  private def cached(spark: SparkSession, sfDir: String, stage: String)(
      build: => DataFrame): DataFrame =
    SessionCache.frame(spark.sparkContext, Stage(spark, sfDir, stage)) {
      // switching scale factors within one session: release the other
      // working set instead of accumulating cached blocks for the session
      // lifetime (round-1 leak)
      SessionCache.remove(spark.sparkContext) {
        case Stage(s, d, _) => (s eq spark) && d != sfDir
        case _ => false
      }
      build
    }

  /** mention spans over the documents table. */
  def mentions(spark: SparkSession, sfDir: String): DataFrame =
    cached(spark, sfDir, "mentions") {
      val a = artifacts(spark)
      Mentions.extract(docsWide(spark, sfDir), a.dictKeys, a.maxKeyTokens, a.analyzer)
    }

  /** ranked candidates (top-10 per mention). */
  def candidates(spark: SparkSession, sfDir: String): DataFrame =
    cached(spark, sfDir, "candidates") {
      val a = artifacts(spark)
      Mentions.candidates(mentions(spark, sfDir), a.dictKeys, a.entityDict, a.pagerank, a.bow)
    }

  /** How [[annotate]] links a mention: its scoring model and dictionary
    * strategy. The case's name is its stage-cache key (an `SvmModel` holds
    * arrays, so two equal models do not compare equal). */
  sealed abstract class Linker(model: SparkSession => Scoring.SvmModel,
      strategy: String = "auto") {
    // saltHotThreshold = 1 salts every sampled key; only "salted" reads it
    def link(docs: DataFrame, a: Artifacts): DataFrame =
      FusedAnnotate.annotate(docs, a, Scoring.Params(), model(docs.sparkSession),
        strategy, saltHotThreshold = 1L)
  }

  object Linker {
    /** The flagship default model on the "auto" strategy: shuffle-free
      * while the dictionary is broadcast (one map pass over the widened
      * documents); the staged declarative path is the semantic oracle,
      * pinned equal by ScoringSpec/FusedSpec. */
    case object Default extends Linker(_ => Scoring.defaultModel())

    /** The default model through the SALTED hot-key join — the documented
      * 100 TB path once the dictionary outgrows broadcast AND the mention
      * key distribution is Zipf-skewed. saltHotThreshold=1 forces every
      * sampled key hot so the 16-way scatter (SaltedJoin.join) actually
      * executes; results are exact by construction and share el_annotate's
      * DuckDB oracle, so the driver row checks the scale-mode plan, not
      * just the oracle-parity broadcast mode. */
    case object Salted extends Linker(_ => Scoring.defaultModel(), "salted")

    /** The frozen NON-TRIVIAL context model (Scoring.ctxModel): similarity
      * graph, decay, normalization, 2-step propagation and the SVM
      * arithmetic all affect the output — the driver's el_annotate_ctx
      * oracle unrolls the same math in SQL. */
    case object Ctx extends Linker(_ => Scoring.ctxModel())

    /** The spark.ml-TRAINED model, served THROUGH the model sink: weights
      * are read back from the committed parquet table at
      * [[trainedModelPath]] (written by TrainFreeze via Scoring.saveModel)
      * — not from in-code literals — so a driver-green el_annotate_trained
      * row checks the sink's round-trip too. The DuckDB oracle inlines the
      * same learned values (Scoring.trainedModel, pinned equal to the sink
      * by TrainerSpec): any drift between the committed model file and the
      * frozen literals hash-mismatches the row. */
    case object Trained extends Linker(Scoring.loadModel(_, trainedModelPath))
  }

  /** best entity link per mention over the widened documents, stage-cached
    * per linker. */
  def annotate(spark: SparkSession, sfDir: String,
      linker: Linker = Linker.Default): DataFrame =
    cached(spark, sfDir, s"annotate:$linker") {
      linker.link(docsWide(spark, sfDir), artifacts(spark))
    }

  /** Committed parquet model sink (written by graft.TrainFreeze through
    * Scoring.saveModel). A launcher's working directory is not always the
    * repo root (scripts, forked test JVMs, spark-submit from elsewhere), so
    * the relative path is resolved by walking UP from the cwd to the first
    * ancestor that actually contains the artifact; SPARK_GRAFT_MODEL_DIR
    * overrides outright (the deploy shape: model table at an explicit
    * warehouse path). */
  def trainedModelPath: String =
    sys.env.getOrElse("SPARK_GRAFT_MODEL_DIR", {
      val rel = "models/trained_svm"
      Iterator.iterate(new java.io.File(".").getAbsoluteFile)(_.getParentFile)
        .takeWhile(_ != null)
        .map(d => new java.io.File(d, rel))
        .collectFirst { case f if f.exists() => f.getAbsolutePath }
        .getOrElse(new java.io.File(rel).getAbsolutePath)
    })

  /** Incremental annotate — the daily-crawl-delta pattern at 100 TB. The
    * first ingest annotates the day-1 pages and commits BOTH the
    * annotations and the processed-page set as snapshots; when the grown
    * crawl arrives, only pages NOT in the committed processed set are
    * annotated (left_anti on doc_id — annotate is doc-local, so per-doc
    * results are independent of the batch split) and the union is
    * committed with lineage pointing at the previous snapshot. The final
    * state must equal the one-shot batch annotate over the full corpus,
    * which is exactly el_annotate's DuckDB oracle — so the driver row
    * checks the resume/delta machinery end-to-end, not just the math. */
  def annotateIncremental(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.ckpt.Snapshots
    val root = java.nio.file.Files.createTempDirectory("graft_incr").toString
    val docs = docsWide(spark, sfDir)
    val a = artifacts(spark)
    // day 1: even pages crawled first
    val day1 = docs.filter(col("doc_id") % 2 === 0)
    val (annPath1, m1) = Snapshots.commit(Linker.Default.link(day1, a), root,
      "annotations", Seq("crawl:day1"))
    val (procPath1, mp1) = Snapshots.commit(day1.select("doc_id"), root,
      "processed", Seq("crawl:day1"))
    // day 2: the full crawl arrives; anti-join against the COMMITTED
    // processed set selects the delta (never re-annotating day-1 pages)
    val delta = docs.join(spark.read.parquet(procPath1), Seq("doc_id"), "left_anti")
    val (annPath2, _) = Snapshots.commit(
      spark.read.parquet(annPath1).unionByName(Linker.Default.link(delta, a)), root,
      "annotations",
      Seq(s"annotations:${m1.snapshotId}", s"processed:${mp1.snapshotId}",
        "crawl:day2"))
    // return the committed snapshot read directly — a corpus-sized result
    // must never be collect()ed to the driver inside a contract query
    // (round-4 advice). The scratch root is registered with the shared
    // exit-cleanup hook instead of being deleted eagerly, because the
    // returned frame reads from it lazily.
    graft.link.Pairs.cleanupOnExit(root)
    spark.read.parquet(annPath2)
  }

  /** blocked candidate pairs with surface similarity + linkage decision.
    * Stage-cached: el_pairs and el_clusters share one range sort +
    * scoring pass instead of re-running the whole pairing per query. */
  def pairs(spark: SparkSession, sfDir: String): DataFrame =
    cached(spark, sfDir, "pairs")(Pairs.candidatePairs(annotate(spark, sfDir)))

  /** mention clusters: transitive closure of same-entity pairs. */
  def clusters(spark: SparkSession, sfDir: String): DataFrame = {
    val best = annotate(spark, sfDir)
    val linked = best.withColumn("mention_id", Pairs.mentionIdCol)
    val edges = Pairs.sameEntityEdges(pairs(spark, sfDir))
    graft.link.ConnectedComponents.runWithIsolated(
      spark, linked.select(col("mention_id")), edges)
  }
}
