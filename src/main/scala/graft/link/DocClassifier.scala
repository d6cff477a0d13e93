package graft.link

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Fused, document-local execution of the context classifier
  * (classifier.py:262-375): similarity graph, feature propagation and SVM
  * scoring computed per document inside one `flatMapGroups`.
  *
  * Why this exists alongside the declarative Scoring path: the classifier
  * is strictly doc-local with a bounded working set (<= 500 spans x 10 tags
  * per document, tagger.py:45,118), so expressing it as six doc-keyed
  * DataFrame joins shuffles the same rows repeatedly. Fusing turns the
  * whole stage into ONE shuffle (groupBy doc) + in-memory arithmetic —
  * exactly the reference's per-document numpy execution, distributed over
  * documents. The declarative path remains the semantic oracle; a
  * differential test pins fused == declarative.
  */
object DocClassifier {

  final case class TagRow(
      doc_id: Long, start: Int, end: Int, surface: String, norm_key: String,
      log_likelihood: Double, qid: String, qid_num: Long, label: String,
      edges: Seq[Int], nb_statements: Int, nb_sitelinks: Int,
      rank: Double, tag_order: Int)

  final case class BestLink(
      doc_id: Long, start: Int, end: Int, surface: String, norm_key: String,
      log_likelihood: Double, best_qid: String, best_label: String, score: Double)

  private def simFn(params: Scoring.Params): (Long, Set[Long], Long, Set[Long]) => Double =
    params.similarity match {
      case "direct_link" => (qa, ea, qb, eb) => {
        val d1 = if (qa == qb || ea.contains(qb)) 1.0 else 0.0
        val d2 = if (qb == qa || eb.contains(qa)) 1.0 else 0.0
        d1 + d2
      }
      case "edge_ratio" => (qa, ea, qb, eb) => {
        val a = ea + qa
        val b = eb + qb
        val common = a.intersect(b).size.toDouble
        0.5 * (common / a.size + common / b.size)
      }
      case "one_step" =>
        val beta = params.beta
        (qa, ea, qb, eb) => {
          val common = ea.intersect(eb).size.toDouble
          var p = 0.0
          if (qa == qb) p += beta * beta
          if (ea.contains(qb)) p += (1 - beta) * beta / ea.size
          if (eb.contains(qa)) p += beta * (1 - beta) / eb.size
          if (common > 0) p += (1 - beta) * (1 - beta) * (common / ea.size) * (common / eb.size)
          p
        }
      case other => throw new IllegalArgumentException(s"unknown similarity: $other")
    }

  /** Score every tag of one document; returns (tagIndex -> score).
    * Allocation-free inner loops (primitive arrays, no boxing): this is
    * the engine's hottest code path and runs once per (doc, tag-pair). */
  def scoreDoc(tags: Array[TagRow], params: Scoring.Params,
      model: Scoring.SvmModel): Array[Double] = {
    val n = tags.length
    // direct_link (the default + served similarity) gets an allocation-free
    // pair function: sorted int arrays + binary search instead of boxed
    // Set[Long] per probe — this is the O(tags^2) inner loop of the engine
    val simAt: (Int, Int) => Double = params.similarity match {
      case "direct_link" =>
        val edgeArr = tags.map { t =>
          val a = t.edges.toArray
          java.util.Arrays.sort(a)
          a
        }
        def has(arr: Array[Int], q: Long): Boolean =
          q >= Int.MinValue && q <= Int.MaxValue &&
            java.util.Arrays.binarySearch(arr, q.toInt) >= 0
        (i, j) => {
          val qa = tags(i).qid_num; val qb = tags(j).qid_num
          val d1 = if (qa == qb || has(edgeArr(i), qb)) 1.0 else 0.0
          val d2 = if (qb == qa || has(edgeArr(j), qa)) 1.0 else 0.0
          d1 + d2
        }
      case _ =>
        val sim = simFn(params)
        val edgeSets = tags.map(_.edges.iterator.map(_.toLong).toSet)
        (i, j) => sim(tags(i).qid_num, edgeSets(i), tags(j).qid_num, edgeSets(j))
    }
    val d = params.maxSimilarityDistance

    // similarity lists per tag (compute_similarities): src tag i -> parallel
    // (dst index, weight) arrays; self entry first with the smoothing seed.
    //
    // Windowed scan (round 6): tags arrive sorted by (start, end,
    // tag_order), and any pair whose starts are further apart than
    // d + max-span-length provably fails the distance gate — so instead of
    // scanning all n tags per tag (the former O(n^2) inner loop, the
    // hottest stage of the scale pipeline at ~100 cpu-s/trial), scan the
    // contiguous start-window only. The window is found by walking from i
    // and entries are still visited in ascending j order, so the weight
    // lists — and therefore every floating-point sum downstream — are
    // bit-identical to the full scan (pinned by FusedSpec's differential).
    var lMax = 0
    var p = 0
    while (p < n) {
      val len = tags(p).end - tags(p).start
      if (len > lMax) lMax = len
      p += 1
    }
    val adjIdx = new Array[Array[Int]](n)
    val adjW = new Array[Array[Double]](n)
    val tmpIdx = new Array[Int](n + 1)
    val tmpW = new Array[Double](n + 1)
    var i = 0
    while (i < n) {
      val ti = tags(i)
      var m = 0
      tmpIdx(m) = i; tmpW(m) = params.similaritySmoothing; m += 1
      // lower window edge: first j (walking back from i) whose start could
      // still be within distance d of ti (tj.end <= tj.start + lMax)
      val loBound = ti.start - d - lMax
      var lo = i
      while (lo > 0 && tags(lo - 1).start >= loBound) lo -= 1
      val hiBound = ti.end + d
      var j = lo
      while (j < n && tags(j).start <= hiBound) {
        val tj = tags(j)
        val distance = math.max(ti.start - tj.end, tj.start - ti.end)
        if (!(tj.start == ti.start && tj.end == ti.end) && distance <= d) {
          val s = (params.similaritySmoothing + simAt(i, j)) *
            (d - distance).toDouble / d
          if (s > 0.0) { tmpIdx(m) = j; tmpW(m) = s; m += 1 }
        }
        j += 1
      }
      var total = 0.0
      var k = 0
      while (k < m) { total += tmpW(k); k += 1 }
      val outI = new Array[Int](m)
      val outW = new Array[Double](m)
      k = 0
      while (k < m) { outI(k) = tmpIdx(k); outW(k) = tmpW(k) / total; k += 1 }
      adjIdx(i) = outI
      adjW(i) = outW
      i += 1
    }

    // propagation: F'[dst] += w(src->dst) * F[src]; features flat in one
    // (nbSteps+1)*5-wide row-major buffer per tag
    val dim = 5 * (params.nbSteps + 1)
    val stacked = new Array[Double](n * dim)
    i = 0
    while (i < n) {
      val t = tags(i)
      val o = i * dim
      stacked(o) = t.log_likelihood
      stacked(o + 1) = t.rank
      stacked(o + 2) = t.nb_statements.toDouble
      stacked(o + 3) = t.nb_sitelinks.toDouble
      stacked(o + 4) = 1.0
      i += 1
    }
    var step = 0
    while (step < params.nbSteps) {
      val pOff = step * 5
      val cOff = pOff + 5
      var src = 0
      while (src < n) {
        val srcBase = src * dim + pOff
        val idx = adjIdx(src)
        val w = adjW(src)
        var e = 0
        while (e < idx.length) {
          val dstBase = idx(e) * dim + cOff
          val weight = w(e)
          var k = 0
          while (k < 5) { stacked(dstBase + k) += weight * stacked(srcBase + k); k += 1 }
          e += 1
        }
        src += 1
      }
      step += 1
    }

    val out = new Array[Double](n)
    i = 0
    while (i < n) {
      val o = i * dim
      var s = model.intercept
      var k = 0
      while (k < dim) {
        s += model.weights(k) * ((stacked(o + k) - model.mean(k)) / model.scale(k))
        k += 1
      }
      out(i) = s
      i += 1
    }
    out
  }

  /** Per-mention argmax (classify_mentions, classifier.py:323-338): for
    * each (start, end) run of `tags`, sorted by (start, end, tag_order),
    * the tag of highest score > 0; ties go to the first, lowest tag_order.
    * `scores(i)` is the score of `tags(i)`. */
  def bestPerMention(tags: Array[TagRow], scores: Array[Double]): Iterator[BestLink] = {
    val out = new scala.collection.mutable.ArrayBuffer[BestLink](tags.length)
    var i = 0
    while (i < tags.length) {
      val s = tags(i).start; val e = tags(i).end
      var hi = i
      while (hi < tags.length && tags(hi).start == s && tags(hi).end == e) hi += 1
      var bestI = -1
      var bestScore = 0.0
      var j = i
      while (j < hi) {
        if (scores(j) > 0.0 && (bestI < 0 || scores(j) > bestScore)) {
          bestI = j; bestScore = scores(j)
        }
        j += 1
      }
      if (bestI >= 0) {
        val t = tags(bestI)
        out += BestLink(t.doc_id, t.start, t.end, t.surface, t.norm_key,
          t.log_likelihood, t.qid, t.label, scores(bestI))
      }
      i = hi
    }
    out.iterator
  }

  /** Fused best-link stage: one doc-keyed shuffle, in-memory classifier. */
  def bestLinks(tags: DataFrame, params: Scoring.Params,
      model: Scoring.SvmModel): DataFrame = {
    val spark = tags.sparkSession
    import spark.implicits._
    val typed: Dataset[TagRow] = tags.select(
      col("doc_id").cast("long"), col("start"), col("end"), col("surface"),
      col("norm_key"), col("log_likelihood").cast("double"), col("qid"),
      col("qid_num").cast("long"), col("label"), col("edges"),
      col("nb_statements").cast("int"), col("nb_sitelinks").cast("int"),
      col("rank").cast("double"), col("tag_order").cast("int")).as[TagRow]

    typed.groupByKey(_.doc_id).flatMapGroups { (_, it) =>
      val docTags = it.toArray.sortBy(t => (t.start, t.end, t.tag_order))
      bestPerMention(docTags, scoreDoc(docTags, params, model))
    }.toDF()
  }
}
