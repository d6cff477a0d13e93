package perfbench

import org.apache.spark.sql.DataFrame

import graft.Pipeline
import graft.functions.JaroWinkler
import graft.link.{DocClassifier, Mentions, Scoring}
import graft.text.TextOps

/** Plain System.nanoTime microbench of the JVM hot loops reachable through
  * the public API, fed with the workload's own pages, surfaces and tag
  * arrays. FusedAnnotate.processDoc is private; fused_annotate.reduce_s
  * covers it. */
object Kernels {

  /** Nanoseconds per call of `body`, after warming it. */
  private def timeNs(body: => Unit): Double = {
    val warm = System.nanoTime()
    var w = 0
    while (w < 3 || System.nanoTime() - warm < 300000000L) { body; w += 1 }
    val t0 = System.nanoTime()
    var n = 0
    while (n < 3 || System.nanoTime() - t0 < 500000000L) { body; n += 1 }
    (System.nanoTime() - t0).toDouble / n
  }

  def run(ctx: Main.Ctx, a: Pipeline.Artifacts, sample: DataFrame): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val texts = sample.select("text").as[String].collect()
      .map(t => if (t.length > Mentions.MaxLength) t.substring(0, Mentions.MaxLength) else t)
    val filter = Mentions.firstTokenFilter(a.dictKeys).value
    val pred: String => Boolean = filter.ok
    val chars = texts.map(_.length.toLong).sum
    var sink = 0L
    val ngramNs = timeNs(texts.foreach { t =>
      sink += TextOps.ngramSpansFor(a.analyzer, t, a.maxKeyTokens, pred).length
    })
    ctx.metric("text_ops.ngram_ns_per_char", ngramNs / chars, "ns")

    val params = Scoring.Params()
    val model = Scoring.defaultModel(params.nbSteps)
    val tags = Mentions.candidates(
      Mentions.extract(sample, a.dictKeys, a.maxKeyTokens, a.analyzer),
      a.dictKeys, a.entityDict, a.pagerank, a.bow)
      .select("doc_id", "start", "end", "surface", "norm_key", "log_likelihood", "qid",
        "qid_num", "label", "edges", "nb_statements", "nb_sitelinks", "rank", "tag_order")
      .as[DocClassifier.TagRow].collect()
    val docs = tags.groupBy(_.doc_id).values.map(_.sortBy(t => (t.start, t.end, t.tag_order))).toArray
    val scoreNs = timeNs(docs.foreach(d => sink += DocClassifier.scoreDoc(d, params, model).length))
    ctx.metric("doc_classifier.score_doc_us", scoreNs / math.max(1, docs.length) / 1e3, "us")

    // sorted-neighbourhood surface pairs: adjacent mentions of one block
    val mentions = tags.map(t => (t.norm_key.takeWhile(_ != ' '), t.doc_id, t.start, t.surface))
      .distinct.sorted
    val pairs = mentions.sliding(2).collect {
      case Array(x, y) if x._1 == y._1 => (x._4, y._4)
    }.toArray
    var acc = 0.0
    val jwNs = timeNs(pairs.foreach { case (x, y) => acc += JaroWinkler.similarity(x, y) })
    ctx.metric("jaro_winkler.ns_per_pair", jwNs / math.max(1, pairs.length), "ns")
    println(s"""{"kernels": {"texts": ${texts.length}, "chars": $chars, "docs": ${docs.length}, """ +
      s""""pairs": ${pairs.length}, "sink": ${sink + acc.toLong % 2}}}""")
  }
}
