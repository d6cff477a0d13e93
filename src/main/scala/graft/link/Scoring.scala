package graft.link

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Context-compatibility scoring: the reference classifier's per-document
  * numpy pipeline (classifier.py:262-375) re-expressed as document-keyed
  * DataFrame joins and aggregations.
  *
  *  - similarity edges: doc-partitioned self-join of candidate tags across
  *    mention pairs with distance decay + smoothing + per-tag normalization
  *    (compute_similarities, classifier.py:341-375);
  *  - feature propagation: nb_steps unrolled rounds of
  *    F'[dst] = sum over in-edges w * F[src] (adj . F, classifier.py:289-308),
  *    with the 5 base features kept as flat double columns so every round is
  *    pure codegen'd arithmetic (no arrays, no UDFs);
  *  - SVM decision function: w . ((x - mean)/scale) + intercept as a literal
  *    column expression (classifier.py:214-219,320);
  *  - per-mention argmax with score > 0 (classify_mentions,
  *    classifier.py:323-338).
  */
object Scoring {

  /** Defaults from SimpleTagClassifier.__init__ (classifier.py:18). */
  final case class Params(
      nbSteps: Int = 2,
      maxSimilarityDistance: Int = 100,
      similaritySmoothing: Double = 0.1,
      similarity: String = "direct_link", // direct_link | edge_ratio | one_step
      beta: Double = 0.85)

  /** Frozen linear model: decision = w.((x-mean)/scale) + intercept.
    * Feature layout: 5*(nbSteps+1) columns [ll, rank, nb_statements,
    * nb_sitelinks, 1] x propagation steps. The default model ranks by
    * popularity (the pagerank-derived `rank` feature), the reference
    * feature with by far the largest trained weight; training via
    * spark.ml LinearSVC can replace it without touching the plan. */
  final case class SvmModel(
      weights: Array[Double], mean: Array[Double], scale: Array[Double],
      intercept: Double)

  def defaultModel(nbSteps: Int = 2): SvmModel = {
    val dim = 5 * (nbSteps + 1)
    val w = Array.fill(dim)(0.0)
    w(1) = 1.0 // rank = 23 + ln(pagerank) — strictly positive in practice
    SvmModel(w, Array.fill(dim)(0.0), Array.fill(dim)(1.0), 0.0)
  }

  /** Frozen NON-TRIVIAL model: every feature (ll, rank, counts, bias) at
    * every propagation step carries nonzero weight, so the similarity
    * graph, distance decay, normalization and propagation all influence
    * the served score. Used by the driver-checked `el_annotate_ctx` query
    * (the DuckDB oracle unrolls the same propagation in SQL) and by
    * ScoringSpec's differential tests. */
  def ctxModel(nbSteps: Int = 2): SvmModel = {
    val dim = 5 * (nbSteps + 1)
    SvmModel(
      Array.tabulate(dim)(k => 0.05 * (k % 5) + 0.01 * k + 0.1),
      Array.tabulate(dim)(k => 0.2 * k),
      Array.tabulate(dim)(k => 1.0 + 0.1 * k),
      -0.3)
  }

  /** Frozen TRAINED model — ORACLE-SIDE copy of the committed model sink.
    * The exact output of the reference's train-classifier path run on
    * spark.ml (graft.TrainFreeze: sf0.001 corpus, planted gold, LinearSVC
    * c=0.01/maxIter=50 with balanced weights + StandardScaler; pairwise
    * F1 = 0.9934 on the training gold). The SERVED query
    * (el_annotate_trained) reads the committed parquet model at
    * models/trained_svm through Scoring.loadModel (Pipeline.Linker.Trained)
    * — these literals exist so the DuckDB oracle can inline the same
    * decision function; TrainerSpec pins sink == literals and that
    * re-running the training reproduces this model's predictions. */
  def trainedModel(): SvmModel = SvmModel(
    weights = Array(0.6461002145223834, -0.8428738914783259, -0.7573486254458125, 1.9298270027645845, 0.0, 0.07859029482094167, 0.003000142267483328, -0.12227172953717111, 0.04558991323615065, 0.05432808244103846, 0.066413719059914, 0.019137192009774893, -0.10360064110185373, 0.003261394148393873, 0.024302660216218092),
    mean = Array(3.6913565344209838, 17.871585697219636, 2.231544832553115, 41.203096867122795, 1.0, 3.6913565344209847, 17.871585697219643, 2.231544832553115, 41.203096867122795, 1.0000000000000002, 3.6913565344209838, 17.871585697219643, 2.231544832553115, 41.20309686712279, 1.0),
    scale = Array(0.73196256271966, 0.5540402341551494, 0.7040099373992567, 13.024882382969945, 1.0, 1.2449416155306507, 5.865178239724898, 0.8757418135516468, 14.970981591393684, 0.323652543897715, 1.4660529547229761, 7.014311784365915, 0.9542868339294813, 16.792637105863644, 0.3894905031442687),
    intercept = 3.0791329545509325)

  /** Model sink: persist a frozen SvmModel as a one-row parquet table
    * (weights/mean/scale arrays + intercept) — the engine's equivalent of
    * the reference's pickled classifier (classifier.py:64-71). */
  def saveModel(spark: org.apache.spark.sql.SparkSession, m: SvmModel,
      path: String): Unit = {
    import spark.implicits._
    Seq((m.weights.toSeq, m.mean.toSeq, m.scale.toSeq, m.intercept))
      .toDF("weights", "mean", "scale", "intercept")
      .write.mode("overwrite").parquet(path)
  }

  def loadModel(spark: org.apache.spark.sql.SparkSession, path: String): SvmModel = {
    val r = spark.read.parquet(path).head()
    SvmModel(
      r.getAs[scala.collection.Seq[Double]]("weights").toArray,
      r.getAs[scala.collection.Seq[Double]]("mean").toArray,
      r.getAs[scala.collection.Seq[Double]]("scale").toArray,
      r.getDouble(r.fieldIndex("intercept")))
  }

  /** DirectLinkSimilarity (similarities.py:28-39): 1 per direction of
    * (equality or direct edge). */
  def directLinkSim(qidA: Column, edgesA: Column, qidB: Column, edgesB: Column): Column =
    when(qidA === qidB, lit(1.0))
      .otherwise(when(array_contains(edgesA, qidB.cast("int")), lit(1.0)).otherwise(lit(0.0))) +
      when(qidB === qidA, lit(1.0))
        .otherwise(when(array_contains(edgesB, qidA.cast("int")), lit(1.0)).otherwise(lit(0.0)))

  /** EdgeRatioSimilarity (similarities.py:41-49): self-loops added, then
    * 0.5*(|A∩B|/|A| + |A∩B|/|B|). NB the reference mutates the edge SETS
    * (dedup) before the ratio. */
  def edgeRatioSim(qidA: Column, edgesA: Column, qidB: Column, edgesB: Column): Column = {
    val a = array_union(array_distinct(edgesA), array(qidA.cast("int")))
    val b = array_union(array_distinct(edgesB), array(qidB.cast("int")))
    val common = size(array_intersect(a, b)).cast("double")
    lit(0.5) * (common / size(a).cast("double") + common / size(b).cast("double"))
  }

  /** OneStepSimilarity(beta) (similarities.py:52-69) over deduped edge
    * sets (no self-loop injection here, matching the reference). */
  def oneStepSim(beta: Double)(qidA: Column, edgesA: Column, qidB: Column, edgesB: Column): Column = {
    val a = array_distinct(edgesA)
    val b = array_distinct(edgesB)
    val common = size(array_intersect(a, b)).cast("double")
    val t1 = when(qidA === qidB, lit(beta * beta)).otherwise(lit(0.0))
    val t2 = when(array_contains(a, qidB.cast("int")),
      lit((1 - beta) * beta) / size(a).cast("double")).otherwise(lit(0.0))
    val t3 = when(array_contains(b, qidA.cast("int")),
      lit(beta * (1 - beta)) / size(b).cast("double")).otherwise(lit(0.0))
    val t4 = when(common > 0,
      lit((1 - beta) * (1 - beta)) * (common / size(a).cast("double")) *
        (common / size(b).cast("double"))).otherwise(lit(0.0))
    t1 + t2 + t3 + t4
  }

  def similarityFn(params: Params): (Column, Column, Column, Column) => Column =
    params.similarity match {
      case "direct_link" => directLinkSim
      case "edge_ratio" => edgeRatioSim
      case "one_step" => oneStepSim(params.beta)
      case other => throw new IllegalArgumentException(s"unknown similarity: $other")
    }

  /** Normalized similarity edge list (doc, src tag -> dst tag, weight):
    * src is the tag whose similarity list the entry lives in; propagation
    * sends features src -> dst (adj[dst, src] = w). Self-edges carry the
    * smoothing seed (classifier.py:348). Entries with decayed score <= 0
    * are dropped before normalization (classifier.py:359-363). */
  def similarityEdges(tags: DataFrame, params: Params): DataFrame = {
    val left = tags.select(
      col("doc_id"), col("start"), col("end"), col("qid"), col("qid_num"),
      col("edges"))
    val right = tags.select(
      col("doc_id").as("r_doc"), col("start").as("r_start"), col("end").as("r_end"),
      col("qid").as("r_qid"), col("qid_num").as("r_qid_num"), col("edges").as("r_edges"))

    val distance = greatest(col("start") - col("r_end"), col("r_start") - col("end"))
    val d = lit(params.maxSimilarityDistance.toDouble)

    val sim = similarityFn(params)
    val cross = left.join(right,
      col("doc_id") === col("r_doc") &&
        !(col("start") === col("r_start") && col("end") === col("r_end")) &&
        distance <= lit(params.maxSimilarityDistance))
      .withColumn("raw_sim",
        (lit(params.similaritySmoothing) +
          sim(col("qid_num"), col("edges"), col("r_qid_num"), col("r_edges"))) *
          ((d - distance.cast("double")) / d))
      .filter(col("raw_sim") > lit(0.0))
      .select(col("doc_id"),
        col("start").as("src_start"), col("end").as("src_end"), col("qid").as("src_qid"),
        col("r_start").as("dst_start"), col("r_end").as("dst_end"), col("r_qid").as("dst_qid"),
        col("raw_sim"))

    val selfEdges = tags.select(col("doc_id"),
      col("start").as("src_start"), col("end").as("src_end"), col("qid").as("src_qid"),
      col("start").as("dst_start"), col("end").as("dst_end"), col("qid").as("dst_qid"),
      lit(params.similaritySmoothing).as("raw_sim"))

    val all = cross.unionByName(selfEdges)
    val wSrc = Window.partitionBy(col("doc_id"), col("src_start"), col("src_end"), col("src_qid"))
    all.withColumn("weight", col("raw_sim") / sum(col("raw_sim")).over(wSrc))
      .drop("raw_sim")
  }

  /** Attach propagated feature columns f{step}_{i} for i in 0..4,
    * step in 0..nbSteps (build_feature_vectors_for_doc,
    * classifier.py:262-308). Returns the tags frame with
    * 5*(nbSteps+1) feature columns. */
  def propagateFeatures(tags: DataFrame, edges: DataFrame, params: Params,
      caches: scala.collection.mutable.Buffer[DataFrame] = scala.collection.mutable.Buffer.empty
  ): DataFrame = {
    var feat = tags.select(
      (Seq(col("doc_id"), col("start"), col("end"), col("qid")) ++
        Seq(col("log_likelihood").cast("double").as("f0_0"),
          col("rank").cast("double").as("f0_1"),
          col("nb_statements").cast("double").as("f0_2"),
          col("nb_sitelinks").cast("double").as("f0_3"),
          lit(1.0).as("f0_4"))): _*)

    val e = edges.select(
      col("doc_id").as("e_doc"),
      col("src_start"), col("src_end"), col("src_qid"),
      col("dst_start"), col("dst_end"), col("dst_qid"), col("weight"))
    for (step <- 1 to params.nbSteps) {
      // each step reads the previous feat TWICE (propagation join + carry
      // join): persist it or the whole upstream pipeline re-executes
      // exponentially in nbSteps. Every persisted frame is registered in
      // `caches` so the caller can unpersist after its materialization
      // (round-2 leaked one frame per step per call; Trainer.crossfit
      // multiplied that across the whole hyperparameter grid).
      feat = feat.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      caches += feat
      val prev = (0 until 5).map(i => col(s"f${step - 1}_$i"))
      val j = e.join(feat,
        col("e_doc") === feat("doc_id") &&
          col("src_start") === feat("start") && col("src_end") === feat("end") &&
          col("src_qid") === feat("qid"))
      val agg = j.groupBy(col("e_doc").as("doc_id"),
        col("dst_start").as("start"), col("dst_end").as("end"), col("dst_qid").as("qid"))
        .agg(
          sum(col("weight") * prev(0)).as(s"f${step}_0"),
          sum(col("weight") * prev(1)).as(s"f${step}_1"),
          sum(col("weight") * prev(2)).as(s"f${step}_2"),
          sum(col("weight") * prev(3)).as(s"f${step}_3"),
          sum(col("weight") * prev(4)).as(s"f${step}_4"))
      feat = feat.join(agg, Seq("doc_id", "start", "end", "qid"), "left")
        // a tag with no in-edges receives the zero vector (row absent from
        // adj.F); self-edges make this unreachable in practice
        .na.fill(0.0, (0 until 5).map(i => s"f${step}_$i"))
    }
    feat
  }

  /** decision_function as a literal column expression. */
  def svmScore(model: SvmModel, nbSteps: Int): Column = {
    val dim = 5 * (nbSteps + 1)
    require(model.weights.length == dim)
    (0 until dim).map { k =>
      val c = col(s"f${k / 5}_${k % 5}")
      lit(model.weights(k)) * ((c - lit(model.mean(k))) / lit(model.scale(k)))
    }.reduce(_ + _) + lit(model.intercept)
  }

  /** Score all tags and pick the best per mention (score > 0,
    * classifier.py:323-338). Returns mention-level rows with best_qid. */
  def bestLinks(tags0: DataFrame, params: Params, model: SvmModel): DataFrame = {
    // tags feeds the similarity self-join (x2), the feature base and the
    // final score join: persist once, or the whole upstream extraction
    // pipeline re-executes for every branch. Spark persist is NOT
    // refcounted: only unpersist it here if WE persisted it — a caller that
    // cached the frame for reuse (TrainFreeze, crossfit) must keep its cache
    val caches = scala.collection.mutable.Buffer.empty[DataFrame]
    val callerPersisted =
      tags0.storageLevel != org.apache.spark.storage.StorageLevel.NONE
    val tags =
      if (callerPersisted) tags0
      else tags0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    if (!callerPersisted) caches += tags
    val edges = similarityEdges(tags, params)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    caches += edges
    val feats = propagateFeatures(tags, edges, params, caches)
    val scored = tags
      .select("doc_id", "start", "end", "surface", "norm_key", "log_likelihood",
        "qid", "label", "tag_order")
      .join(feats.withColumn("score", svmScore(model, params.nbSteps))
        .select("doc_id", "start", "end", "qid", "score"),
        Seq("doc_id", "start", "end", "qid"))
    val wMention = Window.partitionBy(col("doc_id"), col("start"), col("end"))
      .orderBy(col("score").desc, col("tag_order"))
    val best = scored
      .withColumn("rn", row_number().over(wMention))
      .filter(col("rn") === lit(1) && col("score") > lit(0.0))
      .select(col("doc_id"), col("start"), col("end"), col("surface"), col("norm_key"),
        col("log_likelihood"),
        col("qid").as("best_qid"), col("label").as("best_label"), col("score"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // materialize the (small: one row per mention) result while the
    // intermediates are cached, then free them — round-2 left tags, edges
    // and one frame per propagation step cached for the session lifetime
    best.count()
    caches.foreach(_.unpersist(false))
    best
  }
}
