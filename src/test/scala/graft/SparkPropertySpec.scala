package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.textstats.TextStats

/** Randomized invariants for distributed algorithms whose driver oracle
  * only exercises one fixed corpus. Deterministic seeds; each case is
  * checked against a plain-Scala sequential re-computation, so a
  * partition-boundary bug (empty range partitions, pid/order skew, the
  * two-phase offset hand-off) fails here instead of at scale. */
class SparkPropertySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("pack: two-phase distributed prefix sum == sequential cumsum") {
    import spark.implicits._
    for (seed <- Seq(1, 7, 42, 99, 2026)) {
      val rnd = new scala.util.Random(seed)
      val n = 50 + rnd.nextInt(400)
      // sparse, shuffled doc ids (the contract orders by doc_id, not by
      // insertion); token counts 1..40 via k space-joined words
      val ids = rnd.shuffle((0 until 4 * n).map(_.toLong).toList).take(n)
      val rows = ids.map { id =>
        val k = 1 + rnd.nextInt(40)
        (id, Seq.fill(k)("w").mkString(" "))
      }
      val capacity = 1L + rnd.nextInt(50)
      val got = TextStats.pack(rows.toDF("doc_id", "text"), capacity)
        .collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
        .toMap
      // sequential oracle
      var off = 0L
      val expected = rows.sortBy(_._1).map { case (id, text) =>
        val toks = text.split(" ").length.toLong
        val e = id -> ((toks, off, off / capacity))
        off += toks
        e
      }.toMap
      assert(got == expected,
        s"seed=$seed n=$n capacity=$capacity: distributed packing diverged")
    }
  }

  private def randomCorpus(seed: Int, n: Int, dupShare: Double) = {
    val rnd = new scala.util.Random(seed)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta")
    val texts = scala.collection.mutable.ArrayBuffer.empty[String]
    (0 until n).map { i =>
      val text =
        if (texts.nonEmpty && rnd.nextDouble() < dupShare)
          texts(rnd.nextInt(texts.length)) // planted exact duplicate
        else {
          val t = Seq.fill(5 + rnd.nextInt(15))(vocab(rnd.nextInt(vocab.size)))
            .mkString(" ")
          texts += t; t
        }
      (i.toLong * 3 + 1, text) // sparse ids
    }
  }

  test("exactDups (hash-first): groups == plain groupBy(text) oracle") {
    import spark.implicits._
    for (seed <- Seq(3, 17, 2026)) {
      val rows = randomCorpus(seed, 300, 0.4)
      val got = graft.dedup.Dedup.exactDups(rows.toDF("doc_id", "text"))
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      val expected = rows.groupBy(_._2).values.flatMap { g =>
        val ids = g.map(_._1)
        ids.map(_ -> ((ids.min, ids.size.toLong)))
      }.toMap
      assert(got == expected, s"seed=$seed: hash-first dedup diverged")
    }
  }

  test("minhash LSH: identical texts always collide (rank and xxhash64 ids)") {
    import spark.implicits._
    val rows = randomCorpus(seed = 11, n = 200, dupShare = 0.35)
    val mustPair = rows.groupBy(_._2).values.filter(_.size > 1).flatMap { g =>
      val ids = g.map(_._1).sorted
      for (a <- ids; b <- ids if a < b) yield (a, b)
    }.toSet
    assert(mustPair.nonEmpty, "corpus generator planted no duplicates")
    for (idMode <- Seq("rank", "xxhash64")) {
      val cands = graft.dedup.Dedup
        .minhashCandidates(rows.toDF("doc_id", "text"), idMode = idMode)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      // identical shingle sets -> identical signatures -> same bucket in
      // EVERY band: exact duplicates can never be missed, in either the
      // oracle-parity (rank) or the 100 TB (xxhash64) id path
      assert(mustPair.subsetOf(cands),
        s"idMode=$idMode missed ${(mustPair -- cands).size} exact-dup pairs")
    }
  }

  test("simhash banding == all-pairs Hamming scan (pigeonhole is exact)") {
    import spark.implicits._
    for (seed <- Seq(5, 23)) {
      val rnd = new scala.util.Random(seed)
      val fps = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      for (i <- 0 until 200) {
        val fp =
          if (fps.nonEmpty && rnd.nextDouble() < 0.3) {
            // planted near-dup: flip 1..4 bits of an existing fingerprint
            // (4 > maxHamming=3, so some planted pairs must be EXCLUDED)
            var f = fps(rnd.nextInt(fps.length))._2
            for (_ <- 0 to rnd.nextInt(4)) f ^= (1L << rnd.nextInt(32))
            f
          } else rnd.nextLong() & 0xFFFFFFFFL
        fps += ((i.toLong, fp))
      }
      val got = graft.dedup.Dedup
        .simhashCandidates(fps.toSeq.toDF("doc_id", "simhash"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      // Manku pigeonhole: hamming <= 3 differing bits cannot touch all four
      // 8-bit blocks, so the banding join finds EVERY close pair — the
      // candidate set equals the quadratic scan exactly, never a subset
      val expected = (for {
        (a, fa) <- fps; (b, fb) <- fps if a < b
        h = java.lang.Long.bitCount(fa ^ fb).toLong if h <= 3
      } yield (a, b, h)).toSet
      assert(got == expected, s"seed=$seed: banding != all-pairs scan")
    }
  }

  test("fused == staged annotate on adversarial documents") {
    import spark.implicits._
    import graft.link.{FusedAnnotate, Mentions, Scoring}
    import org.apache.spark.sql.functions.col
    val a = Pipeline.artifacts(spark)
    val keys = a.dictKeys.select("norm_key").distinct().limit(8)
      .collect().map(_.getString(0))
    val rnd = new scala.util.Random(13)
    val junk = Seq("", " ", "   ", "!!!", "(??)", "...,;:", "émile's",
      "ŒUF Δx", "@handle #tag", "a" * 60, "1 2 3 4")
    // hostile shapes the fixture corpus never produces: null/empty/blank
    // docs, punctuation storms, keys gummed to punctuation or possessives,
    // unicode around keys (astral-plane surrogate pairs, combining marks,
    // ZWJ sequences), a doc at the 10k truncation boundary
    val astral = "\uD835\uDD18\uD835\uDD2B\uD83D\uDE00" // 𝔘𝔫😀
    val zwj = "\uD83D\uDC69\u200D\uD83D\uDC69\u200D\uD83D\uDC67" // 👩‍👩‍👧
    val docs: Seq[(Long, String)] =
      junk.zipWithIndex.map { case (j, i) => (i.toLong, j) } ++
        Seq((50L, null), (51L, astral), (52L, zwj), (53L, "e\u0301\u0308 \u0301")) ++
        keys.zipWithIndex.flatMap { case (k, i) =>
          val base = 100L + i * 10
          Seq(
            (base, k),                                    // doc IS the key
            (base + 1, s"$k's (${k}) , $k"),              // possessive+parens
            (base + 2, s"${junk(rnd.nextInt(junk.length))} $k naïve $k"),
            (base + 3, ("x " * 4990) + k + (" y" * 2600)), // spans 10k cut
            (base + 4, s"$astral$k$astral $k $astral"),   // surrogates around
            (base + 5, s"$k\u0301 ${k}e\u0301 $k \u0301$k"), // combining marks
            (base + 6, s"$zwj $k$zwj$k $zwj $k")          // ZWJ sequences
          )
        }
    // documents at the 500-span tagsLimit cap: the shortest key repeated
    // exactly up to the cap, and past it (the cap truncates in doc order)
    val short = keys.minBy(_.length)
    val capped = Seq(
      (1000L, Seq.fill(Mentions.TagsLimitPerDoc)(short).mkString(" , ")),
      (1001L, Seq.fill(Mentions.TagsLimitPerDoc + 40)(short).mkString(" ; ")))
    assert(capped.forall(_._2.length <= Mentions.MaxLength))
    val df = (docs ++ capped).toDF("doc_id", "text")
    val params = Scoring.Params()
    val model = Scoring.ctxModel()
    def collectMap(res: org.apache.spark.sql.DataFrame) = res
      .select("doc_id", "start", "end", "surface", "best_qid", "score")
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2)) ->
        (r.getString(3), r.getString(4), r.getDouble(5)))
      .toMap
    val staged = collectMap(Scoring.bestLinks(
      Mentions.candidates(Mentions.extract(df, a.dictKeys, a.maxKeyTokens),
        a.dictKeys, a.entityDict, a.pagerank, a.bow), params, model))
    val fused = collectMap(FusedAnnotate.annotate(df, a, params, model))
    assert(staged.nonEmpty, "adversarial corpus produced no mentions at all")
    assert(!fused.keySet.exists(_._1 == 50L), "null text must link nothing")
    assert(fused.keySet.count(_._1 == 1000L) <= Mentions.TagsLimitPerDoc &&
      fused.keySet.count(_._1 == 1001L) <= Mentions.TagsLimitPerDoc)
    assert(fused.keySet == staged.keySet)
    fused.foreach { case (k, (surf, qid, score)) =>
      val (s2, q2, sc2) = staged(k)
      assert(surf == s2 && qid == q2, s"$k link mismatch")
      assert(math.abs(score - sc2) < 1e-9, s"$k score mismatch")
    }
  }

  test("bm25 == independent plain-Scala scorer on random corpora") {
    import spark.implicits._
    val vocab = Vector("ant", "bee", "cat", "dog", "elk", "fox", "gnu")
    for (seed <- Seq(2, 31)) {
      val rnd = new scala.util.Random(seed)
      val docs = (0 until 120).map { i =>
        (i.toLong, Seq.fill(3 + rnd.nextInt(25))(vocab(rnd.nextInt(vocab.size)))
          .mkString(" "))
      }
      val terms = rnd.shuffle(vocab.toList).take(1 + rnd.nextInt(3))
      val k = 15
      val got = graft.search.Bm25
        .search(docs.toDF("doc_id", "text"), terms, k)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toList
      // independent scorer, same k1/b defaults and rounding convention
      val (k1, b) = (1.2, 0.75)
      val toks = docs.map { case (id, t) => id -> t.split(" ").toSeq }.toMap
      val n = docs.size.toDouble
      val avgdl = docs.map(_._2.split(" ").length).sum / n
      val df = terms.map(t => t -> toks.values.count(_.contains(t)).toDouble).toMap
      val expected = docs.flatMap { case (id, _) =>
        val dl = toks(id).length.toDouble
        val s = terms.map { t =>
          val tf = toks(id).count(_ == t).toDouble
          if (tf == 0 || df(t) == 0) 0.0
          else math.log(1.0 + (n - df(t) + 0.5) / (df(t) + 0.5)) *
            tf * (k1 + 1.0) / (tf + k1 * (1.0 - b + b * dl / avgdl))
        }.sum
        if (terms.forall(t => !toks(id).contains(t))) None
        else Some(id -> BigDecimal(s)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }.sortBy { case (id, s) => (-s, id) }.take(k).toList
      assert(got.map(_._1) == expected.map(_._1),
        s"seed=$seed: top-k row set/order diverged")
      got.zip(expected).foreach { case ((_, g), (_, e)) =>
        assert(math.abs(g - e) < 2e-6, s"seed=$seed: score diverged: $g vs $e")
      }
    }
  }

  test("pagerank conserves total mass exactly at every compensation step") {
    import spark.implicits._
    // each seed on the driver solve (default gate) and the distributed loop (0)
    for (seed <- Seq(8, 77); gate <- Seq(graft.ckpt.RoundLoop.LocalSolveEdges, 0L)) {
      val rnd = new scala.util.Random(seed)
      val raw = Seq.fill(600)((rnd.nextInt(80).toLong, rnd.nextInt(120).toLong))
        .filter { case (s, d) => s != d }
        .toDF("src", "dst")
      val (edges, lastQid) = graft.graph.PageRank.normalizeEdges(raw)
      val res = graft.graph.PageRank.solve(spark, edges, lastQid, iterations = 6,
        localSolveEdges = gate)
      val explicitRanks = res.ranks.collect()
        .map(r => r.getLong(0) -> r.getDouble(1))
      assert(explicitRanks.forall(_._2 > 0.0), s"seed=$seed gate=$gate: nonpositive rank")
      assert(res.background > 0.0)
      // ranks = mass + comp for receiving nodes, background = comp for the
      // rest, so sum(explicit) + (n - |explicit|) * background == 1 exactly
      // (up to fp summation) after EVERY iteration — the loss-compensation
      // contract (wikidatagraph.py:130-141 semantics)
      val total = explicitRanks.map(_._2).sum +
        (res.n - explicitRanks.length) * res.background
      assert(math.abs(total - 1.0) < 1e-9,
        s"seed=$seed gate=$gate: total mass $total != 1")
    }
  }

  test("CC distributed loop == union-find on pathological graph shapes") {
    import spark.implicits._
    // shapes that stress different loop behaviors: a deep chain (many
    // pointer-jumping rounds), a hot star (one node on every edge — the
    // skew case), and two dense cliques joined by a single bridge edge
    val chain = (1L until 3000L).map(i => (i, i + 1))
    val star = (2L to 400L).map(i => (5000L, 5000L + i))
    val cliqueA = for (a <- 9000L to 9040L; b <- 9000L to 9040L if a < b)
      yield (a, b)
    val cliqueB = for (a <- 9500L to 9540L; b <- 9500L to 9540L if a < b)
      yield (a, b)
    val bridge = Seq((9040L, 9500L))
    val all = chain ++ star ++ cliqueA ++ cliqueB ++ bridge
    // independent oracle: path-compressing union-find
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    all.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expected = parent.keys.map(x => x -> find(x)).toMap
    spark.conf.set("spark.graft.cc.localSolveEdges", "0") // force the loop
    try {
      val got = graft.link.ConnectedComponents
        .run(spark, all.toDF("src", "dst"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == expected, "distributed CC diverged from union-find")
      // the chain, star and bridged cliques each collapse to one root
      assert(got(3000L) == 1L && got(5400L) == 5000L && got(9540L) == 9000L)
    } finally spark.conf.unset("spark.graft.cc.localSolveEdges")
  }

  test("lineDedup == sequential line-frequency oracle on random pages") {
    import spark.implicits._
    for (seed <- Seq(3, 17, 2026)) {
      val rnd = new scala.util.Random(seed)
      val pool = (0 until 30).map(i => s"line$i content ${i % 5}")
      val minDocs = 3L + rnd.nextInt(4)
      val rows = (0 until 80 + rnd.nextInt(120)).map { i =>
        (i.toLong * 7 + 2,
          Seq.fill(3 + rnd.nextInt(6))(pool(rnd.nextInt(pool.size)))
            .mkString("\n"))
      }
      // sequential oracle: a line is hot when it appears in >= minDocs
      // DISTINCT docs; rebuild each doc from its surviving lines in order
      val docsPerLine = rows
        .flatMap { case (id, t) => t.split("\n", -1).distinct.map(_ -> id) }
        .groupBy(_._1).map { case (l, g) => l -> g.size.toLong }
      val expected = rows.map { case (id, t) =>
        val lines = t.split("\n", -1)
        val kept = lines.filter(l => docsPerLine(l) < minDocs)
        id -> ((kept.mkString("\n"), lines.length.toLong,
          (lines.length - kept.length).toLong))
      }.toMap
      val got = graft.dedup.Dedup
        .lineDedup(rows.toDF("doc_id", "text"), minDocs)
        .collect()
        .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3))))
        .toMap
      assert(got == expected, s"seed=$seed minDocs=$minDocs: diverged")
    }
  }

  test("hostQuota == sequential per-host top-k under every fanout") {
    import spark.implicits._
    for (seed <- Seq(5, 42)) {
      val rnd = new scala.util.Random(seed)
      val hosts = (0 until 6).map(i => s"site$i")
      val k = 2 + rnd.nextInt(5)
      val rows = (0 until 150 + rnd.nextInt(150)).map { i =>
        val h = hosts(rnd.nextInt(hosts.size))
        // unique urls; ts collisions allowed (url breaks the tie)
        (s"https://h.test/$h/p$i", 1700000000L + rnd.nextInt(500))
      }
      val pages = rows.toDF("url", "ts")
        .select($"url", $"ts".cast("timestamp").as("warc_ts"))
      val expected = rows
        .map { case (u, t) => (u.split("/")(3), u, t) }
        .groupBy(_._1).flatMap { case (_, g) =>
          g.sortBy(r => (r._3, r._2)).take(k)
        }
        .map(r => (r._1, r._2, r._3)).toSet
      for (fanout <- Seq(1, 8, 32)) {
        val got = graft.sources.Pages.hostQuota(pages, k, fanout)
          .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
          .toSet
        assert(got == expected, s"seed=$seed k=$k fanout=$fanout: diverged")
      }
    }
  }

  test("substrDups == sequential gram-coverage oracle with planted spans") {
    import spark.implicits._
    val L = 20
    for (seed <- Seq(11, 77, 2026)) {
      val rnd = new scala.util.Random(seed)
      val vocab = Vector("a", "b", "c", "d", "e", "f")
      val built = scala.collection.mutable.ArrayBuffer.empty[Array[String]]
      val rows = (0 until 60 + rnd.nextInt(60)).map { i =>
        val base = Array.fill(25 + rnd.nextInt(60))(vocab(rnd.nextInt(vocab.size)))
        // plant a shared span: splice a random >=L slice of an earlier doc
        val t = if (built.nonEmpty && rnd.nextDouble() < 0.4) {
          val src = built(rnd.nextInt(built.length))
          val len = math.min(src.length, L + rnd.nextInt(16))
          val from = rnd.nextInt(src.length - len + 1)
          val at = rnd.nextInt(base.length + 1)
          base.take(at) ++ src.slice(from, from + len) ++ base.drop(at)
        } else base
        built += t
        (i.toLong * 3 + 1, t.mkString(" "))
      }
      // sequential oracle: grams in >=2 distinct docs; covered = union of
      // [p, p+L) over matched gram positions
      val toks = rows.map { case (id, t) => id -> t.split(" ", -1) }.toMap
      val gramDocs = rows
        .flatMap { case (id, _) =>
          val tk = toks(id)
          (0 to tk.length - L).map(p => (tk.slice(p, p + L).mkString(" "), id))
        }
        .distinct.groupBy(_._1).map { case (g, xs) => g -> xs.size }
      val expected = rows.map { case (id, _) =>
        val tk = toks(id)
        val matched = (0 to tk.length - L)
          .filter(p => gramDocs(tk.slice(p, p + L).mkString(" ")) >= 2)
        id -> ((tk.length, matched.flatMap(p => p until p + L).distinct.size.toLong))
      }.toMap
      val got = graft.dedup.Dedup.substrDups(rows.toDF("doc_id", "text"), L)
        .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getLong(2)))).toMap
      assert(got == expected, s"seed=$seed: coverage diverged")
    }
  }
}
