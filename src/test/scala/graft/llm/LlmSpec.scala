package graft.llm

import org.apache.spark.sql.functions._
import graft.{SparkSpec, Tables}

/** Invariant tests for the LLM operators whose hashes are engine-
  * specific (no SQL oracle): SimHash, ANN-LSH, multimodal stubs. The
  * oracle-checked operators (minhash/jaccard) double as ground truth
  * here: planted near-duplicates in `documents` have word-3gram
  * Jaccard ≈ 0.98, so hash-based detectors must find them. */
class LlmSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.01"
  private lazy val docs = Tables.documents(spark, dir).cache()
  private lazy val emb = Tables.embeddings(spark, dir).cache()

  private lazy val trueDups: Set[(Long, Long)] =
    Dedup.ngramJaccardPairs(docs, "text", "doc_id", k = 5, maxDf = 5,
        minJaccard = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("simhash finds the planted near-duplicates") {
    assert(trueDups.size >= 20) // ~25 planted pairs at sf0.01
    val simPairs = Dedup.simhashPairs(
        Dedup.simhash(docs, "text", "doc_id", k = 2), "doc_id",
        maxHamming = 7, bands = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = trueDups.count(simPairs.contains).toDouble / trueDups.size
    assert(recall >= 0.8, s"simhash recall $recall over ${trueDups.size} true pairs")
  }

  test("minhash LSH finds the planted near-duplicates") {
    val lsh = Dedup.minhashLsh(docs, "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = trueDups.count(lsh.contains).toDouble / trueDups.size
    assert(recall >= 0.9, s"lsh recall $recall")
  }

  test("naiveBayes: recovers the planted labels exactly; model is dense and deterministic") {
    val planted = Dedup.withPlantedBoilerplate(
      docs.select(col("doc_id"), col("text")), "text", "doc_id")
    val label = when(pmod(col("doc_id"), lit(3)) === 0, 1L).otherwise(-1L)
    val scored = TextAnalysis.naiveBayesClassify(planted, "text", "doc_id",
        label, width = 1024)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(3)))
    val acc = scored.count { case (_, y, keep) => keep == (y == 1L) }
      .toDouble / scored.length
    assert(acc == 1.0, s"training accuracy $acc")
    val model = TextAnalysis.naiveBayesModel(planted, "text", "doc_id",
        label, width = 1024)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(model.length == 1024 && model.map(_._1).distinct.length == 1024)
    // banner-only buckets carry strongly positive weights
    val bannerBuckets = model.filter { case (_, (cp, cn, _)) => cp > 50 && cn == 0 }
    assert(bannerBuckets.nonEmpty)
    bannerBuckets.foreach { case (b, (_, _, w)) =>
      assert(w > 65536L, s"bucket $b weight $w")
    }
    val again = TextAnalysis.naiveBayesModel(planted, "text", "doc_id",
      label, width = 1024).collect().map(_.toSeq)
    assert(model.length == again.length &&
      TextAnalysis.naiveBayesModel(planted, "text", "doc_id", label, 1024)
        .exceptAll(TextAnalysis.naiveBayesModel(planted, "text", "doc_id",
          label, 1024)).isEmpty)
  }

  test("containmentPairs: planted containers found at containment 1.0, invisible to Jaccard") {
    val planted = Dedup.withPlantedExtensions(
      docs.select(col("doc_id"), col("text")), "text", "doc_id", every = 20)
    val expected = docs.select("doc_id").collect().map(_.getLong(0))
      .filter(_ % 20 == 0).map(i => (i, i + 3000000L)).toSet
    assert(expected.size >= 20)
    val cont = Dedup.containmentPairs(planted, "text", "doc_id",
        k = 5, maxDf = 5, minContainment = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    // every planted (orig, container) pair surfaces, orig fully contained
    expected.foreach { p =>
      assert(cont.contains(p), s"missed planted pair $p")
      assert(cont(p)._1 == 10000L, s"$p: cont_a ${cont(p)._1} bp != 10000")
      assert(cont(p)._2 < 9000L, s"$p: container side should be partial")
    }
    // the symmetric gate misses them: pair Jaccard ~ 1/3 < 0.5
    val jacc = Dedup.ngramJaccardPairs(planted, "text", "doc_id",
        k = 5, maxDf = 5, minJaccard = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(expected.forall(!jacc.contains(_)),
      "planted containment pairs must sit below the resemblance gate")
  }

  test("minhashLshReranked: sketch candidates carry exact Jaccard scores") {
    val reranked = Dedup.minhashLshReranked(docs, "text", "doc_id",
        shingleK = 5, numPerms = 8, bands = 4, minJaccard = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // recall on the planted high-jaccard pairs: the sketch proposes
    val recall = trueDups.count(reranked.keySet.contains).toDouble / trueDups.size
    assert(recall >= 0.9, s"reranked recall $recall over ${trueDups.size}")
    // every emitted pair is an LSH band candidate (the rerank only
    // filters and scores, never invents pairs)...
    val cand = Dedup.minhashLsh(docs, "text", "doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(reranked.keySet.subsetOf(cand))
    // ...and carries the EXACT score the posting-list path computes
    val exact = Dedup.ngramJaccardPairs(docs, "text", "doc_id", k = 5,
        maxDf = 5, minJaccard = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val scored = reranked.keySet.intersect(exact.keySet)
    assert(scored.nonEmpty)
    scored.foreach(p => assert(reranked(p) == exact(p),
      s"$p: reranked ${reranked(p)} bp vs exact ${exact(p)} bp"))
  }

  test("repeatedSpans/cutRepeatedSpans: copies cut to nothing, keeper intact, spans maximal") {
    import spark.implicits._
    val common = (1 to 30).map(i => s"tok$i").mkString(" ")
    val df = Seq(
      (1L, common),                                   // keeper (min (doc, pos))
      (2L, common),                                   // exact copy
      (3L, s"$common extra unique tail tokens here"), // repeated prefix
      (4L, (100 to 140).map(i => s"only$i").mkString(" "))) // unique
      .toDF("doc_id", "text")
    val spans = Dedup.repeatedSpans(df, "text", "doc_id", gramLen = 20)
      .collect()
    // every duplicated gram's min-(doc,pos) occurrence is doc 1's — the
    // keeper carries no spans, and the unique doc none either
    assert(!spans.exists(r => r.getLong(0) == 1L || r.getLong(0) == 4L))
    // the copy's 11 duplicated gram starts merge into ONE maximal span
    // covering all 30 tokens: [1, 31)
    val s2 = spans.filter(_.getLong(0) == 2L)
    assert(s2.length == 1 && s2.head.getLong(2) == 1L
      && s2.head.getLong(3) == 31L)
    // the prefix-sharing doc cuts exactly the shared prefix
    val s3 = spans.filter(_.getLong(0) == 3L)
    assert(s3.length == 1 && s3.head.getLong(2) == 1L
      && s3.head.getLong(3) == 31L)
    val cut = Dedup.cutRepeatedSpans(df, "text", "doc_id", gramLen = 20)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2)))
      .toMap
    assert(cut(1L)._2 == 0L && cut(4L)._2 == 0L) // keeper + unique intact
    assert(cut(2L)._2 == 30L)                    // copy fully cut
    assert(cut(2L)._1 == "d41d8cd98f00b204e9800998ecf8427e") // md5("")
    assert(cut(3L)._2 == 30L)                    // prefix cut, tail kept
    val tailMd5 = java.security.MessageDigest.getInstance("MD5")
      .digest("extra unique tail tokens here".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    assert(cut(3L)._1 == tailMd5)
  }

  test("cutLongRepeats: SA rank-pair cut equals the gram-hash cut at the same length") {
    import spark.implicits._
    val common = (1 to 30).map(i => s"tok$i").mkString(" ")
    val df = Seq(
      (1L, common),
      (2L, common),
      (3L, s"$common extra unique tail tokens here"),
      (4L, (100 to 140).map(i => s"only$i").mkString(" ")),
      (5L, s"front matter differs ${(5 to 29).map(i => s"tok$i").mkString(" ")}"))
      .toDF("doc_id", "text")
    // non-power-of-two length exercises the off != 0 rank-pair key;
    // power-of-two exercises the single-rank fast path
    for (len <- Seq(20, 16)) {
      val sa = Dedup.cutLongRepeats(df, "text", "doc_id", minLen = len)
        .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2)))
        .toMap
      val gram = Dedup.cutRepeatedSpans(df, "text", "doc_id", gramLen = len)
        .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2)))
        .toMap
      assert(sa == gram, s"len=$len: SA cut diverged from gram cut")
    }
    // and the cut is real: the exact copy vanishes, the keeper survives
    val sa20 = Dedup.cutLongRepeats(df, "text", "doc_id", minLen = 20)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(sa20(1L) == 0L && sa20(2L) == 30L && sa20(4L) == 0L)
  }

  test("lineDedup: drops exactly the >= minDf lines, reassembles in position order") {
    import spark.implicits._
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    // 30 docs: a shared header on even ids (df = 15 ≥ 10 → dropped), a
    // shared-but-rare line on ids < 3 (df = 3 < 10 → kept), and one
    // unique body line each (kept)
    val df = (0L until 30L).map { i =>
      val ls = (if (i % 2 == 0) Seq("shared chrome header") else Nil) ++
        Seq(s"unique body line $i") ++
        (if (i < 3) Seq("rare shared line") else Nil)
      (i, ls.mkString("\n"))
    }.toDF("doc_id", "text")
    val out = Dedup.lineDedup(df, "text", "doc_id", minDf = 10L)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3))))
      .toMap
    assert(out.size == 30)
    assert(out(0L) == ((3L, 1L, md5hex("unique body line 0\nrare shared line"))))
    assert(out(1L) == ((2L, 0L, md5hex("unique body line 1\nrare shared line"))))
    assert(out(2L) == ((3L, 1L, md5hex("unique body line 2\nrare shared line"))))
    assert(out(4L) == ((2L, 1L, md5hex("unique body line 4"))))
    assert(out(5L) == ((1L, 0L, md5hex("unique body line 5"))))
    // odd ids never lose a line; even ids lose exactly the header
    (0L until 30L).foreach { i =>
      assert(out(i)._2 == (if (i % 2 == 0) 1L else 0L), s"doc $i")
    }
  }

  test("cmsTokenEstimates: estimates dominate exact counts; wide sketch is exact") {
    val out = TextAnalysis.cmsTokenEstimates(docs, "text", width = 256, k = 25)
      .collect()
    assert(out.length == 25)
    // the CMS guarantee: never an underestimate
    out.foreach(r =>
      assert(r.getLong(2) >= r.getLong(1),
        s"cms underestimated '${r.getString(0)}': ${r.getLong(2)} < ${r.getLong(1)}"))
    // a sketch much wider than the vocabulary is collision-free → exact
    import spark.implicits._
    val small = Seq((1L, "a b a c"), (2L, "b a")).toDF("doc_id", "text")
    val est = TextAnalysis.cmsTokenEstimates(small, "text", width = 1 << 16, k = 3)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(est == Map("a" -> ((3L, 3L)), "b" -> ((2L, 2L)), "c" -> ((1L, 1L))))
  }

  test("repeatedSpans: agrees with a brute-force reference on a deterministic corpus") {
    import spark.implicits._
    // deterministic pseudo-random corpus with engineered overlaps:
    // vocabulary small enough that repeated windows arise naturally
    def tok(seed: Long, i: Int): String = {
      val x = (seed * 6364136223846793005L + i * 1442695040888963407L)
      s"w${math.floorMod(x >> 33, 40)}"
    }
    val L = 5
    val corpus = (0 until 24).map { d =>
      val n = 12 + (d % 9)
      val base = (0 until n).map(i => tok(d % 6, i)) // 6 families → repeats
      (d.toLong, base.mkString(" "))
    }
    // brute-force reference: every L-gram occurrence, keeper = min
    // (doc, pos), others marked, intervals merged
    val occ = scala.collection.mutable.Map.empty[String, List[(Long, Int)]]
    corpus.foreach { case (d, text) =>
      val t = text.split(" ")
      (0 to t.length - L).foreach { p =>
        val g = t.slice(p, p + L).mkString(" ")
        occ(g) = (d, p + 1) :: occ.getOrElse(g, Nil)
      }
    }
    val marked = occ.values.filter(_.size >= 2).flatMap { os =>
      val keep = os.minBy { case (d, p) => (d, p) }
      os.filterNot(_ == keep)
    }.toSeq
    val expected = marked.groupBy(_._1).flatMap { case (d, ps) =>
      val sorted = ps.map(_._2).distinct.sorted
      val spans = scala.collection.mutable.Buffer.empty[(Int, Int)]
      sorted.foreach { p =>
        if (spans.nonEmpty && p <= spans.last._2) {
          val (s0, e0) = spans.last
          spans(spans.length - 1) = (s0, math.max(e0, p + L))
        } else spans += ((p, p + L))
      }
      spans.map { case (s0, e0) => (d, s0.toLong, e0.toLong) }
    }.toSet
    val got = Dedup.repeatedSpans(corpus.toDF("doc_id", "text"), "text",
        "doc_id", gramLen = L)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3))).toSet
    assert(expected.nonEmpty, "corpus produced no repeats — test is vacuous")
    assert(got == expected,
      s"only in spark: ${(got -- expected).take(5)}; only in ref: ${(expected -- got).take(5)}")
  }

  test("targetDomainWeights: target-domain docs outscore the rest, identity-target is flat") {
    val w = TextAnalysis.targetDomainWeights(docs,
        docs.filter(col("source") === "src0"), "text", "doc_id")
      .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
      .cache()
    // the target domain's own documents must average a higher weight
    // than out-of-domain documents — the signal DSIR selects on
    val avg = w.groupBy(col("source") === "src0")
      .agg(org.apache.spark.sql.functions.avg(col("dsir_q20")).as("m"))
      .collect().map(r => r.getBoolean(0) -> r.getDouble(1)).toMap
    assert(avg(true) > avg(false),
      s"src0 mean ${avg(true)} !> rest mean ${avg(false)}")
    // target == corpus → every token ratio is exactly (c+1)(R+V) /
    // ((c+1)(R+V)) = 1 → every score is exactly 2^20
    val self = TextAnalysis.targetDomainWeights(docs, docs, "text", "doc_id")
    assert(self.filter(col("dsir_q20") =!= (1L << 20)).count() == 0)
  }

  test("decontaminate: flags exactly the train docs sharing a k-gram, broadcast plan") {
    import spark.implicits._
    val train = Seq((1L, "a b c d e"), (2L, "p q r s t"), (3L, "a b c x y"))
      .toDF("doc_id", "text")
    val bench = Seq((10L, "z z a b c"), (11L, "m n o u v"), (12L, "b c x q j"))
      .toDF("doc_id", "text")
    val out = Dedup.decontaminate(train, bench, "text", "doc_id", k = 3)
    // doc 1 leaks "a b c" (bench 10); doc 3 leaks "a b c" (10) and
    // "b c x" (12); doc 2 leaks nothing
    val got = out.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1).toSeq
    assert(got == Seq((1L, 1L, 1L), (3L, 2L, 2L)))
    // the benchmark side must broadcast — the corpus side never shuffles
    assert(out.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"))
  }

  test("repetitionSignals: hand-computed fractions, short docs dropped") {
    import spark.implicits._
    val df = Seq((1L, "a b a b a"), (2L, "x y z w"), (3L, "solo"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.repetitionSignals(df, "text", "doc_id", k = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1).toSeq
    // doc 1: grams (a b, b a, a b, b a) → n=4, all repeated → 10000 bp,
    // top gram 2/4 → 5000 bp. doc 2: 3 unique grams → 0 bp, top 1/3 →
    // 3333 bp. doc 3: 1 token < k → no row.
    assert(got == Seq((1L, 4L, 10000L, 5000L), (2L, 3L, 0L, 3333L)))
  }

  test("tfidfTopTerms: hand-computed scores, total tie-break, log variant ranks rarer higher") {
    import spark.implicits._
    val df = Seq((1L, "apple apple banana"), (2L, "banana cherry"),
      (3L, "cherry cherry cherry")).toDF("doc_id", "text")
    val got = TextAnalysis.tfidfTopTerms(df, "text", "doc_id", k = 2)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
      .sortBy(t => (t._1, t._6)).toSeq
    // N=3; score = tf·(N+1)/(df+1): apple 2·4/2=4, banana@1 4/3,
    // banana@2 = cherry@2 = 4/3 (tie → term asc), cherry@3 3·4/3=4
    assert(got == Seq(
      (1L, "apple", 2L, 1L, 4000000L, 1L),
      (1L, "banana", 1L, 2L, 1333333L, 2L),
      (2L, "banana", 1L, 2L, 1333333L, 1L),
      (2L, "cherry", 1L, 2L, 1333333L, 2L),
      (3L, "cherry", 3L, 2L, 4000000L, 1L)), got.toString)
    // log variant: same pipeline, rarer term still outranks given equal tf
    val logTop = TextAnalysis.tfidfTopTerms(df, "text", "doc_id", k = 1,
        logIdf = true)
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(logTop(1L) == "apple" && logTop(3L) == "cherry")
  }

  test("crossDocDuplication: hand-computed shares, short docs dropped") {
    import spark.implicits._
    // A and B share the 5-gram "a b c d e"; C is disjoint; D is too
    // short for any 5-gram
    val df = Seq((1L, "a b c d e f"), (2L, "a b c d e x"),
      (3L, "p q r s t"), (4L, "x y")).toDF("doc_id", "text")
    val got = TextAnalysis.crossDocDuplication(df, "text", "doc_id",
        k = 5, minDf = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).sortBy(_._1)
    assert(got.toSeq == Seq(
      (1L, 2L, 5000L, 2L),   // 1 of 2 gram occurrences shared
      (2L, 2L, 5000L, 2L),
      (3L, 1L, 0L, 1L)), got.toSeq.toString)
  }

  test("bm25TopK: self-retrieval tops, rare terms outrank common, query side broadcast") {
    import spark.implicits._
    // doc 1 is the query; doc 2 shares its RARE term, doc 3 only the
    // common one, doc 4 shares nothing
    // term df: zebra 2 (docs 1,2), common 3 (docs 1,3,4) — so for a
    // single-term hit, zebra's idf (5/5=1.0) beats common's (3/7)
    val df = Seq(
      (1L, "zebra common alpha"),
      (2L, "zebra beta gamma"),
      (3L, "common common delta epsilon"),
      (4L, "phi chi psi common")).toDF("doc_id", "text")
    val qs = Dedup.tokenize(df.filter(col("doc_id") === 1L), "text", "doc_id")
      .select(col("doc_id").as("query_id"), explode(col("toks")).as("term"))
    val ranked = TextAnalysis.bm25TopK(df, "text", "doc_id", qs, k = 10)
    val got = ranked.collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .sortBy(_._4)
    // (doc_id, n_hit_terms, score_e6, rank): the query doc itself wins
    // (it matches ALL its terms), the rare-term doc beats both
    // common-term docs, higher tf beats lower tf on the same term
    assert(got.map(_._1).toSeq == Seq(1L, 2L, 3L, 4L))
    assert(got.head._2 == 3L)                  // self hit on all 3 terms
    assert(got(1)._3 > got(2)._3)              // zebra (rare) > common tf=2
    assert(got(2)._3 > got(3)._3)              // common tf=2 > common tf=1
    assert(got.forall(_._3 > 0L))
    // the query side reaches the inverted index as a broadcast join
    val plan = ranked.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("duplicateClusters: driver union-find and distributed label propagation agree") {
    val pairs = Dedup.ngramJaccardPairs(docs, "text", "doc_id",
        k = 5, maxDf = 5, minJaccard = 0.5)
      .select(col("a"), col("b")).cache()
    val fast = Dedup.duplicateClusters(pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val distributed = Dedup.duplicateClusters(pairs, driverThreshold = 0L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(fast == distributed && fast.nonEmpty)
  }

  test("driver-pairs bound: the over-bound rerank and cluster paths equal the driver paths") {
    val key = "spark.graft.rerank.driverPairs.max"
    // the pairs memo keys on the input plan, not on the bound, so each
    // run reads its own freshly built frame — a shared one would serve
    // the first side's memoized pairs to the second
    var salt = 0L
    def corpus() = { salt += 1; docs.filter(col("doc_id") =!= -salt) }
    def planted() = Curation.withPlantedEverything(corpus(), "text", "doc_id")
    def sorted(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq.mkString(",")).sorted.toSeq
    def runAll() = {
      val jacc = Dedup.ngramJaccardPairs(corpus(), "text", "doc_id")
      val lsh = Dedup.minhashLshReranked(corpus(), "text", "doc_id")
      val local = jacc.queryExecution.optimizedPlan
        .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation]
      (local, Seq(sorted(jacc), sorted(lsh),
        sorted(Curation.pipelineNearDup(planted(), "text", "doc_id")),
        sorted(Curation.pipelineNearDup(planted(), "text", "doc_id",
          pairSource = Curation.lshPairSource()))))
    }
    val prev = spark.conf.getOption(key)
    try {
      spark.conf.unset(key)
      val (fastLocal, fast) = runAll()
      spark.conf.set(key, "1")
      val (slowLocal, slow) = runAll()
      // the two sides really took different paths
      assert(fastLocal && !slowLocal)
      Seq("ngramJaccardPairs", "minhashLshReranked", "pipelineNearDup",
          "pipelineNearDup/lsh").zip(fast.zip(slow)).foreach { case (what, (f, s)) =>
        assert(f.nonEmpty, s"$what: empty at the default bound")
        assert(f == s, s"$what: over-bound rows differ from the driver path")
      }
    } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    val pairs = Dedup.ngramJaccardPairs(corpus(), "text", "doc_id")
    val clusters = sorted(Dedup.duplicateClusters(pairs))
    assert(clusters.nonEmpty &&
      clusters == sorted(Dedup.duplicateClusters(pairs, driverThreshold = 1L)))
  }

  test("ann lsh results are bucket-consistent, correctly scored, deterministic") {
    val queries = emb.filter(col("vec_id") < 10)
    def run() = Similarity.annTopK(emb, queries, "vec_id", "embedding",
      k = 5, numPlanes = 4).collect()
    val a = run(); val b = run()
    assert(a.map(_.toString).sorted.sameElements(b.map(_.toString).sorted))
    // every hit must share the query's bucket
    val planes = Similarity.planes(4, 64)
    val buckets = Similarity.withLshBucket(emb, "embedding", planes)
      .select(col("vec_id"), col("lsh_bucket"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(a.forall(r => buckets(r.getLong(0)) == buckets(r.getLong(1))))
    // ann scores can never beat brute-force top-1 for the same query
    val bf = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", k = 1)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(a.forall(r => r.getDouble(2) <= bf(r.getLong(0)) + 1e-12))
  }

  test("embeddingHygiene: flags exactly the planted defects, plant order respected") {
    val out = Similarity.embeddingHygiene(
        Similarity.withPlantedBadVectors(emb, "vec_id", "embedding"),
        "vec_id", "embedding", expectedDim = 64)
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getBoolean(2), r.getBoolean(3), r.getBoolean(4), r.getBoolean(5))))
      .toMap
    assert(out.size == 500)
    out.foreach { case (id, (nan, inf, zero, ok)) =>
      val expZero = id % 41 == 0
      val expNan = !expZero && id % 31 == 0
      val expInf = !expZero && id % 31 != 0 && id % 37 == 0
      assert((nan, inf, zero) == ((expNan, expInf, expZero)), s"vec $id flags")
      assert(ok == !(expNan || expInf || expZero), s"vec $id verdict")
    }
    // non-vacuous: some of every defect class at 500 vectors
    assert(out.values.count(_._1) > 0 && out.values.count(_._2) > 0 &&
      out.values.count(_._3) > 0)
  }

  test("int8 quantization: range, round-trip error bound, zero-vector safety") {
    import spark.implicits._
    val q = Similarity.quantizeInt8(emb, "embedding")
      .select(col("vec_id"), col("scale"), col("q"), col("embedding")).collect()
    assert(q.length == 500)
    q.foreach { r =>
      val scale = r.getDouble(1)
      val qs = r.getSeq[Byte](2)
      val xs = r.getSeq[Float](3)
      assert(qs.forall(v => v >= -127 && v <= 127))
      // dequantization error is bounded by half a step
      qs.zip(xs).foreach { case (qi, x) =>
        assert(math.abs(x.toDouble - qi * scale) <= scale / 2 + 1e-12) }
    }
    // zero vector → scale 0, all-zero codes, no NaNs
    val z = Similarity.quantizeInt8(
        Seq((1L, Array.fill(4)(0.0f))).toDF("vec_id", "embedding"), "embedding")
      .select(col("scale"), col("q")).collect().head
    assert(z.getDouble(0) == 0.0 && z.getSeq[Byte](1).forall(_ == 0))
  }

  test("quantized top-k tracks the exact ranking closely") {
    val queries = emb.filter(col("vec_id") < 10)
    val qk = Similarity.quantizedTopK(emb, queries, "vec_id", "embedding", k = 5)
      .collect().map(r => (r.getLong(0), r.getInt(3)) -> r.getLong(1)).toMap
    val bf = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", k = 5)
      .collect().map(r => (r.getLong(0), r.getInt(3)) -> r.getLong(1)).toMap
    // int8 codes keep ~7 bits of precision — top-5 sets should overlap
    // heavily with the float ranking
    val overlap = (0L until 10L).map { q =>
      val a = (1 to 5).flatMap(r => qk.get((q, r))).toSet
      val b = (1 to 5).flatMap(r => bf.get((q, r))).toSet
      a.intersect(b).size
    }.sum
    assert(overlap >= 40, s"top-5 overlap only $overlap/50")
  }

  test("Md5Hash64Expr equals the composable hex form (the oracle contract)") {
    graft.functions.Md5Hash64Expr.register(spark)
    val hexForm = shiftleft(
        conv(substring(md5(col("text").cast("binary")), 1, 8), 16, 10).cast("long"), 32)
      .bitwiseOR(conv(substring(md5(col("text").cast("binary")), 9, 8), 16, 10).cast("long"))
    val diff = docs.select(
        graft.functions.Md5Hash64Expr.of(col("text").cast("binary")).as("fast"),
        hexForm.as("slow"))
      .filter(col("fast") =!= col("slow")).count()
    assert(diff == 0)
  }

  test("Md5LanesExpr equals the composable hex-lane form (the oracle contract)") {
    graft.functions.Md5LanesExpr.register(spark)
    val m = md5(col("text").cast("binary"))
    val hexLanes = (0 until 4).map(i =>
      conv(substring(m, i * 8 + 1, 8), 16, 10).cast("long"))
    val fast = graft.functions.Md5LanesExpr.of(col("text").cast("binary"))
    val diff = docs.select(
        (0 until 4).map(i =>
          (element_at(fast, i + 1) =!= hexLanes(i)).as(s"d$i")): _*)
      .filter(col("d0") || col("d1") || col("d2") || col("d3")).count()
    assert(diff == 0)
  }

  test("pq codes + ADC retrieval: planted dups recovered, natural recall honest, deterministic") {
    val cbs = Similarity.trainPqCodebooks(
      emb.filter(pmod(col("vec_id"), lit(2)) === 0), "embedding",
      m = 16, k = 16, iters = 3)
    assert(cbs.length == 16 && cbs.forall(_.length == 16) &&
      cbs.forall(_.forall(_.length == 4)))
    // planted protocol: cosine-0.999 copies quantize to near-identical
    // codes, so ADC must surface the copy as its base's top hit
    val planted = Similarity.withPlantedDups(emb, "vec_id", "embedding",
      every = 20)
    val bases = emb.select("vec_id").collect().map(_.getLong(0))
      .filter(_ % 20 == 0)
    val queries = planted.filter(col("vec_id") >= 1000000L)
    val top1 = Similarity.pqTopK(planted, queries, "vec_id", "embedding",
        k = 1, cbs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val hit = bases.count(b => top1.get(b + 1000000L).contains(b))
    assert(hit.toDouble / bases.length >= 0.9,
      s"planted top-1 recall ${hit.toDouble / bases.length}")
    // natural top-10 recall vs brute force: the corpus's neighbors sit
    // at cosine ~0.3, barely above the bulk, so 16x16 PQ (16 nibbles
    // per vector) keeps only part of the ranking - the honest tradeoff
    // this operator prices (0.375 measured; widen k/m for more)
    val q20 = emb.filter(col("vec_id") < 20)
    val pq = Similarity.pqTopK(emb, q20, "vec_id", "embedding", k = 10, cbs)
      .collect().groupBy(_.getLong(0))
      .map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    val exact = Similarity.bruteForceTopK(emb, q20, "vec_id", "embedding",
        k = 10)
      .collect().groupBy(_.getLong(0))
      .map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    // (.keys is a Set — mapping it directly would collapse duplicate
    // per-query recall values before the mean)
    val recall = exact.keys.toSeq.map(q =>
      (pq(q) intersect exact(q)).size.toDouble / exact(q).size)
      .sum / exact.size
    assert(recall >= 0.25, s"PQ natural recall@10 $recall")
    // deterministic end to end
    val again = Similarity.trainPqCodebooks(
      emb.filter(pmod(col("vec_id"), lit(2)) === 0), "embedding",
      m = 16, k = 16, iters = 3)
    assert(cbs.flatten.flatten.toSeq == again.flatten.flatten.toSeq)
  }

  test("ngramPrecision: identity pairs score 10000 bp; injected boilerplate scores lower") {
    val pairs = docs.select(col("doc_id"),
      when(pmod(col("doc_id"), lit(3)) === 0,
        concat(lit(Dedup.BoilerplateBanner + " "), col("text")))
        .otherwise(col("text")).as("cand"),
      col("text").as("ref"))
    val r = TextAnalysis.ngramPrecision(pairs, "doc_id", "cand", "ref",
        maxN = 2)
      .collect().map(x => (x.getLong(0), x.getInt(1)) ->
        (x.getLong(4), x.getLong(5), x.getLong(6))).toMap
    r.foreach { case ((id, n), (pbp, lc, lr)) =>
      if (id % 3 != 0) {
        assert(pbp == 10000L, s"identity pair ($id, n=$n) scored $pbp")
        assert(lc == lr)
      } else {
        assert(pbp < 10000L, s"injected pair ($id, n=$n) scored $pbp")
        assert(lc > lr)
      }
    }
    // bigram precision penalizes the injection at least as hard as
    // unigram (the banner's interior bigrams may exist, its seams
    // don't)
    val injected = r.keys.filter(_._1 % 3 == 0).map(_._1).toSeq.distinct
    injected.foreach { id =>
      assert(r((id, 2))._1 <= r((id, 1))._1 + 100, s"doc $id")
    }
  }

  test("trigramSearch: index+verify equals the full scan; pruning actually prunes") {
    val idx = TextAnalysis.trigramIndex(docs, "text", "doc_id")
      .localCheckpoint()
    def scan(q: String) = docs.filter(col("text").contains(q))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    def viaIndex(q: String) = TextAnalysis
      .trigramSearch(docs, "text", "doc_id", idx, q)
      .collect().map(_.getLong(0)).toSet
    // hit-rich, rare, absent, and short-fallback queries
    for (q <- Seq("hash join", "customer", "zz-not-present-zz", "ha"))
      assert(viaIndex(q) == scan(q), s"query '$q' diverged from the scan")
    // pruning: candidates for a present phrase are far below the corpus
    val qTris = "hash join".sliding(3).toSeq.distinct
    val nCand = idx.filter(col("tri").isInCollection(qTris))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("m"))
      .filter(col("m") === qTris.length).count()
    val n = docs.count()
    assert(nCand < n / 2, s"candidates $nCand of $n — index not pruning")
  }

  test("trigramSearch: replayed (duplicated) index partition loses no matches") {
    val idx = TextAnalysis.trigramIndex(docs, "text", "doc_id")
      .localCheckpoint()
    // simulate a replayed micro-batch: every index row appears twice
    val replayed = idx.unionAll(idx).localCheckpoint()
    def scan(q: String) = docs.filter(col("text").contains(q))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    for (q <- Seq("hash join", "customer")) {
      val got = TextAnalysis
        .trigramSearch(docs, "text", "doc_id", replayed, q)
        .collect().map(_.getLong(0)).toSet
      assert(got == scan(q), s"query '$q' diverged on the replayed index")
    }
  }

  test("knBigramScore matches a brute-force KN reference in quantized-log units") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "the cat sat on the mat"),
      (2L, "the dog sat on the rug"),
      (3L, "a cat and a dog"),
      (4L, "solo"), // < 2 tokens -> no row
      (5L, "the cat sat"))
    val got = TextAnalysis.knBigramScore(corpus.toDF("doc_id", "text"),
        "text", "doc_id")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    // brute force: exact integer counts + the same common-denominator
    // rational + the same fixed-point log2
    val bigrams = corpus.flatMap { case (i, t) =>
      val w = t.split(" "); if (w.length < 2) Nil
      else w.sliding(2).map(p => (i, p(0), p(1))).toSeq
    }
    val c12 = bigrams.groupBy(b => (b._2, b._3)).view.mapValues(_.size.toLong).toMap
    val c1 = c12.groupBy(_._1._1).view.mapValues(_.values.sum).toMap
    val n1p = c12.groupBy(_._1._1).view.mapValues(_.size.toLong).toMap
    val n1c = c12.groupBy(_._1._2).view.mapValues(_.size.toLong).toMap
    val n1pp = c12.size.toLong
    def lq(x: Long) = graft.functions.Log2FixedExpr.log2q(x)
    val want = bigrams.groupBy(_._1).map { case (i, bs) =>
      i -> (bs.size.toLong, bs.map { case (_, w1, w2) =>
        val num = (4L * c12((w1, w2)) - 3L) * n1pp + 3L * n1p(w1) * n1c(w2)
        val den = 4L * c1(w1) * n1pp
        lq(num) - lq(den)
      }.sum)
    }
    assert(got == want)
    assert(!got.contains(4L))
    // every score is a negative log-prob sum (probabilities < 1)
    got.values.foreach { case (_, q) => assert(q < 0L) }
  }

  test("cooccurrencePmi: one-token and empty docs don't crash and add no pairs") {
    import spark.implicits._
    val tiny = Seq(
      (1L, "alpha beta gamma"), (2L, "alpha beta gamma"),
      (3L, "solo"), (4L, ""), (5L, "   "), (6L, "beta alpha"))
      .toDF("doc_id", "text")
    val r = TextAnalysis.cooccurrencePmi(tiny, "text", "doc_id",
      minDf = 2L, topK = 10)
      .collect().map(x => (x.getString(0), x.getString(1)) -> x.getLong(2))
      .toMap
    // pairs only from multi-token docs; df_ab counts are exact
    assert(r(("alpha", "beta")) == 3L)
    assert(r(("alpha", "gamma")) == 2L)
    assert(!r.keySet.exists(p => p._1 == "solo" || p._2 == "solo"))
    assert(!r.keySet.exists(p => p._1 == p._2), "self-pairs leaked")
  }

  test("ivfpq: planted copies found through the composed index, results within probed lists") {
    val evens = emb.filter(pmod(col("vec_id"), lit(2)) === 0)
    val coarse = Similarity.trainIvfCentroids(evens, "embedding",
      nLists = 8, iters = 5)
    val cbs = Similarity.trainPqCodebooks(evens, "embedding",
      m = 16, k = 16, iters = 3)
    val planted = Similarity.withPlantedDups(emb, "vec_id", "embedding",
      every = 20)
    val queries = planted.filter(col("vec_id") >= 1000000L)
    val top1 = Similarity.ivfPqTopK(planted, queries, "vec_id", "embedding",
        k = 1, nLists = 8, nProbe = 2, coarse, cbs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val bases = emb.select("vec_id").collect().map(_.getLong(0))
      .filter(_ % 20 == 0)
    // a 0.999-cosine copy lands in its base's coarse list and top-1s
    // through the nibble codes
    val hit = bases.count(b => top1.get(b + 1000000L).contains(b))
    assert(hit.toDouble / bases.length >= 0.85,
      s"ivfpq planted top-1 ${hit.toDouble / bases.length}")
    // deterministic
    val again = Similarity.ivfPqTopK(planted, queries, "vec_id",
        "embedding", k = 1, nLists = 8, nProbe = 2, coarse, cbs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(again == top1)
  }

  test("ivf top-k: deterministic, never beats brute force, prunes candidates") {
    val queries = emb.filter(col("vec_id") < 10)
    def run() = Similarity.ivfTopK(emb, queries, "vec_id", "embedding",
      k = 5, nLists = 8, nProbe = 2).collect()
    val a = run(); val b = run()
    assert(a.map(_.toString).sorted.sameElements(b.map(_.toString).sorted))
    assert(a.length == 50) // 10 queries × top-5
    // ivf scores can never beat brute-force top-1 for the same query
    val bf = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", k = 1)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(a.forall(r => r.getDouble(2) <= bf(r.getLong(0)) + 1e-12))
    // nProbe/nLists of the corpus is actually probed: every hit lies in
    // one of the query's two nearest lists
    val plan = Similarity.ivfTopK(emb, queries, "vec_id", "embedding",
      k = 5, nLists = 8, nProbe = 2).queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("Cartesian"))
  }

  test("k-means-trained IVF centroids: deterministic, recall not worse than fixed") {
    val queries = emb.filter(col("vec_id") < 10)
    def recall(centroids: Option[Array[Array[Double]]]): Double = {
      val got = Similarity.ivfTopK(emb, queries, "vec_id", "embedding",
          k = 5, nLists = 8, nProbe = 2, centroids = centroids)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val truth = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding",
          k = 5).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      truth.count(got.contains).toDouble / truth.size
    }
    val trained = Similarity.trainIvfCentroids(emb, "embedding", nLists = 8,
      iters = 5)
    // fixed iteration count + deterministic init → retraining reproduces
    // the identical index
    val again = Similarity.trainIvfCentroids(emb, "embedding", nLists = 8,
      iters = 5)
    assert(trained.flatten.toSeq == again.flatten.toSeq)
    val rFixed = recall(None)
    val rTrained = recall(Some(trained))
    // training tightens lists around the data: recall at equal probe
    // budget must not degrade (and usually improves)
    assert(rTrained >= rFixed - 1e-9, s"trained $rTrained < fixed $rFixed")
    assert(rTrained >= 0.5, s"trained recall $rTrained implausibly low")
  }

  test("marginMining: ratio margin picks the true pair where absolute cosine picks the hub") {
    // Geometry (dim 16): hub = u (all-ones); source i = u + 1.75·v_i,
    // true target i = u + 8·v_i with v_i = e_2i − e_2i+1 orthogonal to
    // u and to each other. Then cos(s_i, hub) ≈ 0.85 for EVERY source
    // (the hub phenomenon) while cos(s_i, t_i) ≈ 0.78 — absolute
    // cosine ranks the hub first for every source, but the hub's own
    // k-NN mean (≈ 0.85 to all sources) deflates its margin below the
    // true pair's (whose target neighborhood is weak, ≈ 0.41).
    val dim = 16
    def vec(a: Double, i: Int): Seq[Double] =
      (0 until dim).map { d =>
        1.0 + (if (d == 2 * i) a else if (d == 2 * i + 1) -a else 0.0)
      }
    val srcRows = (0 until 6).map(i => (i.toLong * 2, vec(1.75, i)))
    val tgtRows = (0 until 6).map(i => (101L + 2 * i, vec(8.0, i))) :+
      ((1001L, Seq.fill(dim)(1.0)))
    import spark.implicits._
    val srcDf = srcRows.toList.toDF("vec_id", "embedding")
    val tgtDf = tgtRows.toList.toDF("vec_id", "embedding")
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    // sanity on the constructed geometry: hub is the absolute argmax
    srcRows.foreach { case (sid, sv) =>
      val best = tgtRows.maxBy(t => cos(sv, t._2))
      assert(best._1 == 1001L, s"hub not absolute-best for $sid")
    }
    val mined = Similarity.marginMining(srcDf, tgtDf, "vec_id", "embedding",
        k = 4, marginThresholdE6 = 0L, bands = 16, rowsPerBand = 1,
        dim = dim)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(3))).toMap
    (0 until 6).foreach { i =>
      val (tgt, margin) = mined(i.toLong * 2)
      assert(tgt == 101L + 2 * i,
        s"source ${i * 2} matched $tgt, expected true pair ${101 + 2 * i}")
      assert(margin > 1000000L, s"true-pair margin $margin should exceed 1.0")
    }
    // the margin is exact integer arithmetic: recompute one pair by hand
    // q = round(cos * 1e6); neighborhood sums over the k best candidates
    val qs = for {
      (sid, sv) <- srcRows
      (tid, tv) <- tgtRows
      q = math.floor(cos(sv, tv) * 1e6 + 0.5).toLong
      if q > 0
    } yield (sid, tid, q)
    def topk(xs: Seq[(Long, Long)]): Seq[Long] =
      xs.sortBy { case (id, q) => (-q, id) }.take(4).map(_._2)
    val s0 = topk(qs.collect { case (0L, t, q) => (t, q) })
    val t0 = topk(qs.collect { case (s, 101L, q) => (s, q) })
    val q0 = qs.collectFirst { case (0L, 101L, q) => q }.get
    val expected = 2L * q0 * s0.length * t0.length * 1000000L /
      (s0.sum * t0.length + t0.sum * s0.length)
    assert(mined(0L)._2 == expected,
      s"margin ${mined(0L)._2} != hand-computed $expected")
  }

  test("banded nearDupPairs: equi-join plan, full agreement with exact pairs") {
    val banded = Similarity.nearDupPairs(emb, "vec_id", "embedding", threshold = 0.45)
    // the scale contract: candidates come from equi-joins, never a
    // quadratic nested-loop/cartesian pair enumeration
    val plan = banded.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("Cartesian"),
      s"near-dup plan fell back to an all-pairs join:\n$plan")
    val exact = Similarity.exactNearDupPairs(emb, "vec_id", "embedding", 0.45)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = banded.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == exact, s"banded vs exact: missed ${exact.diff(got)}, extra ${got.diff(exact)}")
  }

  test("incremental minhash-LSH equals the full recompute restricted to the batch") {
    val isNew = pmod(col("doc_id"), lit(5)) === 4
    val oldSigs = Dedup.minhashSignatures(
      Dedup.shinglesFromToks(
        Dedup.tokenize(docs.filter(!isNew), "text", "doc_id"),
        "doc_id", 5, dedup = false), "doc_id", numPerms = 8)
    val inc = Dedup.minhashLshIncremental(docs.filter(isNew), oldSigs,
        "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val full = Dedup.minhashLsh(docs, "text", "doc_id")
      .filter(pmod(col("a"), lit(5)) === 4 || pmod(col("b"), lit(5)) === 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(inc == full,
      s"missed ${full.diff(inc)}, extra ${inc.diff(full)}")
    assert(inc.nonEmpty, "batch should contain some planted duplicates")
  }

  test("pairs memo: hits on semantically-equal plans, never cross-serves different inputs") {
    // identical input plan + params → the memoized instance is served
    val first = Dedup.ngramJaccardPairs(docs, "text", "doc_id",
      k = 5, maxDf = 5, minJaccard = 0.5)
    val second = Dedup.ngramJaccardPairs(docs, "text", "doc_id",
      k = 5, maxDf = 5, minJaccard = 0.5)
    assert(first eq second, "memo missed for an identical plan")
    // a DIFFERENT input plan with the same parameter key must not be
    // served the cached pair set (the lookup confirms sameResult on the
    // stored canonicalized plan, not a hash): a subset of the corpus
    // can't contain pairs with ids outside it
    val subset = Dedup.ngramJaccardPairs(docs.filter(col("doc_id") < 250),
      "text", "doc_id", k = 5, maxDf = 5, minJaccard = 0.5)
    assert(!(subset eq first))
    val subsetIds = subset.collect().flatMap(r => Seq(r.getLong(0), r.getLong(1)))
    assert(subsetIds.nonEmpty && subsetIds.forall(_ < 250))
    val fullIds = first.collect().flatMap(r => Seq(r.getLong(0), r.getLong(1)))
    assert(fullIds.exists(_ >= 250), "test needs pairs above the subset cut")
    // and the subset plan is itself memoized now
    assert(Dedup.ngramJaccardPairs(docs.filter(col("doc_id") < 250),
      "text", "doc_id", k = 5, maxDf = 5, minJaccard = 0.5) eq subset)
  }

  test("scale-config banding (32 bands × 8 planes): equi-join plan, exact-precision subset") {
    // the corpus has no natural pairs at threshold 0.8, so this spec
    // exercises the same banding non-vacuously at 0.4
    val banded = Similarity.nearDupPairs(emb, "vec_id", "embedding",
      threshold = 0.4, bands = 32, rowsPerBand = 8)
    val plan = banded.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("Cartesian"),
      s"scale-config near-dup plan fell back to an all-pairs join:\n$plan")
    val got = banded.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val exact = Similarity.exactNearDupPairs(emb, "vec_id", "embedding", 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // precision is exact (rerank); recall < 1 by construction at this
    // low threshold, but the banding must still surface real pairs
    assert(got.nonEmpty, "32×8 banding found nothing at 0.4")
    got.foreach { case (pair, score) =>
      assert(exact.contains(pair), s"banded pair $pair not in exact set")
      assert(score == exact(pair), s"score mismatch for $pair")
    }
  }

  test("planted near-dups: the 0.8/32x12 gate config recovers every planted pair") {
    // the llm_embedding_neardup_scale gate row runs this exact pipeline:
    // every 20th vector gains a jittered copy (cosine ~0.999), and the
    // scale-safe banding must recover all of them with exact scores
    val aug = Similarity.withPlantedDups(emb, "vec_id", "embedding", every = 20)
    val nPlanted = emb.filter(pmod(col("vec_id"), lit(20)) === 0).count()
    val got = Similarity.nearDupPairs(aug, "vec_id", "embedding",
        threshold = 0.8, bands = 32, rowsPerBand = 12)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
    assert(got.nonEmpty, "planted pairs not recovered")
    // every recovered pair is a planted (v, v+1e6) pair with the
    // expected near-1 cosine, and none of the planted pairs is missed
    got.foreach { case ((a, b), score) =>
      assert(b == a + 1000000L, s"unexpected non-planted pair ($a, $b)")
      assert(score > 0.99 && score <= 1.0, s"planted pair score $score")
    }
    assert(got.length == nPlanted,
      s"recovered ${got.length} of $nPlanted planted pairs")
    // the log₂(n)-sized bucket config (16 planes/band — the 100k-row
    // shape, see the nearDupPairs scale model) must also be full-recall
    // on near-1-cosine pairs
    val wide = Similarity.nearDupPairs(aug, "vec_id", "embedding",
        threshold = 0.8, bands = 16, rowsPerBand = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(wide == got.map(_._1).toSet,
      s"16x16 recovered ${wide.size} of ${got.length} planted pairs")
  }

  test("BandKeysExpr equals the composable per-plane form (bit-identical signs)") {
    import graft.functions.{BandKeysExpr, VectorFunctions}
    val (bands, rpb) = (8, 4)
    val ps = Similarity.planes(bands * rpb, 64)
    VectorFunctions.register(spark)
    BandKeysExpr.register(spark)
    val asDouble = transform(col("embedding"), x => x.cast("double"))
    val composable = array((0 until bands).map { b =>
      (0 until rpb).map { r =>
        when(VectorFunctions.dot(asDouble, typedlit(ps(b * rpb + r).toSeq)) > 0,
          lit(1 << r)).otherwise(lit(0))
      }.reduce(_ + _)
    }: _*)
    val both = emb.select(col("vec_id"),
      BandKeysExpr.of(asDouble, ps, rpb).as("native"),
      composable.as("composed"))
    assert(both.filter(col("native") =!= col("composed")).isEmpty,
      "native band keys diverge from the composable form")
  }

  test("extractFeatures: schema, batch shape, determinism, normalization") {
    val withBin = Multimodal.asBinary(docs.limit(50), "text", "payload")
    val feats = Multimodal.extractFeatures(withBin, "payload", dim = 64)
    assert(feats.schema("features").dataType ==
      org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType))
    val rows = feats.select(col("doc_id"), col("features")).collect()
    assert(rows.length == 50)
    val f = rows.head.getSeq[Float](1)
    assert(f.length == 64)
    assert(math.abs(f.sum - 1.0f) < 1e-3) // histogram normalized
    val again = Multimodal.extractFeatures(withBin, "payload", dim = 64)
      .select(col("doc_id"), col("features")).collect()
    assert(rows.map(_.toString).sorted.sameElements(again.map(_.toString).sorted))
  }

  test("real image decode: pixel dimensions and luminance features from a PNG") {
    import spark.implicits._
    // 7x5 PNG rendered in-memory: black except one white pixel
    val img = new java.awt.image.BufferedImage(7, 5,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    img.setRGB(3, 2, 0xFFFFFF)
    val baos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", baos)
    val png = baos.toByteArray
    val df = Seq((1L, png), (2L, "not an image".getBytes("UTF-8")))
      .toDF("doc_id", "payload")

    val meta = Multimodal.withDecodedMeta(df, "payload")
      .select(col("doc_id"), col("media_meta.format"),
        col("media_meta.width"), col("media_meta.height"))
      .orderBy(col("doc_id")).collect()
    assert(meta(0).getString(1) == "png")
    assert(meta(0).getInt(2) == 7 && meta(0).getInt(3) == 5) // real dims
    assert(meta(1).getString(1) == "unknown")
    assert(meta(1).isNullAt(2) && meta(1).isNullAt(3))

    val feats = Multimodal.extractFeatures(df, "payload", dim = 64)
      .orderBy(col("doc_id")).collect().map(_.getSeq[Float](2))
    // 34 black pixels → bin 0, 1 white pixel (lum 255) → last bin
    assert(math.abs(feats(0)(0) - 34f / 35) < 1e-6)
    assert(math.abs(feats(0)(63) - 1f / 35) < 1e-6)
    assert(math.abs(feats(0).sum - 1f) < 1e-5)
    // non-image payload falls back to the byte histogram
    assert(feats(1).toArray.sameElements(
      Multimodal.fakeDecode("not an image".getBytes("UTF-8"), 64)))
  }

  test("resizeImages rescales decodable payloads, passes others through") {
    import spark.implicits._
    val img = new java.awt.image.BufferedImage(16, 12,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    img.setRGB(8, 6, 0xFF0000)
    val baos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", baos)
    val df = Seq((1L, baos.toByteArray), (2L, "plain text".getBytes("UTF-8")))
      .toDF("doc_id", "payload")
    val resized = Multimodal.resizeImages(df, "payload", w = 4, h = 3)
    val dims = Multimodal.withDecodedMeta(resized, "payload")
      .select(col("doc_id"), col("media_meta.width"), col("media_meta.height"))
      .orderBy(col("doc_id")).collect()
    assert(dims(0).getInt(1) == 4 && dims(0).getInt(2) == 3)
    assert(dims(1).isNullAt(1)) // non-image untouched, still not an image
    val passthrough = resized.filter(col("doc_id") === 2)
      .select(col("payload")).collect().head.getAs[Array[Byte]](0)
    assert(new String(passthrough, "UTF-8") == "plain text")
  }

  test("audio meta: real WAV header decode, nulls for non-audio") {
    import spark.implicits._
    import javax.sound.sampled.{AudioFormat, AudioInputStream, AudioSystem, AudioFileFormat}
    val fmt = new AudioFormat(8000f, 16, 1, true, false)
    val pcm = new Array[Byte](1600 * 2) // 1600 mono 16-bit frames
    val ais = new AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, 1600)
    val baos = new java.io.ByteArrayOutputStream()
    AudioSystem.write(ais, AudioFileFormat.Type.WAVE, baos)
    val df = Seq((1L, baos.toByteArray), (2L, "not audio".getBytes("UTF-8")))
      .toDF("doc_id", "payload")
    val meta = Multimodal.withAudioMeta(df, "payload")
      .select(col("doc_id"), col("audio_meta.sample_rate"),
        col("audio_meta.channels"), col("audio_meta.n_frames"))
      .orderBy(col("doc_id")).collect()
    assert(meta(0).getFloat(1) == 8000f)
    assert(meta(0).getInt(2) == 1)
    assert(meta(0).getLong(3) == 1600L)
    assert(meta(1).isNullAt(1) && meta(1).isNullAt(2) && meta(1).isNullAt(3))
  }

  test("media meta: byte length and format sniffing") {
    val withBin = Multimodal.asBinary(docs.limit(5), "text", "payload")
    val meta = Multimodal.withMediaMeta(withBin, "payload")
      .select(col("media_meta.n_bytes"), col("media_meta.format")).collect()
    assert(meta.forall(_.getLong(0) > 0))
    assert(meta.forall(_.getString(1) == "unknown")) // text payloads
  }

  test("sampleFrames demuxes real animated-GIF frames") {
    import spark.implicits._
    // author a 5-frame 4x3 animated GIF in-memory (pure JVM writer)
    val baos = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(baos)
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
    writer.setOutput(ios)
    writer.prepareWriteSequence(null)
    val colors = Seq(0xFF0000, 0x00FF00, 0x0000FF, 0xFFFF00, 0x00FFFF)
    colors.foreach { c =>
      val img = new java.awt.image.BufferedImage(4, 3,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (x <- 0 until 4; y <- 0 until 3) img.setRGB(x, y, c)
      writer.writeToSequence(new javax.imageio.IIOImage(img, null, null), null)
    }
    writer.endWriteSequence(); ios.close(); writer.dispose()

    val df = Seq((1L, baos.toByteArray)).toDF("doc_id", "payload")
    val frames = Multimodal.sampleFrames(df, "payload", frames = 8, stride = 2)
      .orderBy(col("frame_idx")).collect()
    // real demux: the container has 5 frames, so stride-2 sampling stops
    // at index 4 — NOT the fallback's 0,2,4,6 chunk indices
    assert(frames.map(_.getInt(1)).toSeq == Seq(0, 2, 4))
    frames.foreach { r =>
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(r.getAs[Array[Byte]](2)))
      assert(img.getWidth == 4 && img.getHeight == 3) // real pixel dims
    }
    // frame 2 (index 2) was authored blue — the demuxed content is real
    val f2 = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(frames(1).getAs[Array[Byte]](2)))
    val rgb = f2.getRGB(1, 1)
    assert((rgb & 0xFF) > 200 && ((rgb >> 16) & 0xFF) < 64,
      f"frame 2 not blue: 0x$rgb%08x")
  }

  test("sampleFrames emits stride-sampled chunks") {
    val withBin = Multimodal.asBinary(docs.limit(3), "text", "payload")
    val frames = Multimodal.sampleFrames(withBin, "payload", frames = 8, stride = 2)
    val perDoc = frames.groupBy(col("doc_id")).count().collect()
    assert(perDoc.forall(_.getLong(1) == 4)) // 0,2,4,6
  }

  test("audioDecode: real PCM RMS envelope — burst loud, silence quiet") {
    // synthesize a WAV: first half a full-scale square wave, second half
    // silence — the envelope must light up the first windows only
    val sampleRate = 8000f
    val n = 8000
    val pcm = new Array[Byte](n * 2)
    var i = 0
    while (i < n / 2) {
      val v: Short = if ((i / 20) % 2 == 0) 20000 else -20000
      pcm(2 * i) = (v & 0xFF).toByte
      pcm(2 * i + 1) = ((v >> 8) & 0xFF).toByte
      i += 1
    }
    val fmt = new javax.sound.sampled.AudioFormat(sampleRate, 16, 1, true, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, n.toLong)
    val baos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, baos)
    val wav = baos.toByteArray

    val env = Multimodal.audioDecode(wav, 8).get
    assert(env.length == 8)
    assert(env.take(4).forall(_ > 0.9f), env.toSeq.toString)  // the burst
    assert(env.drop(4).forall(_ < 0.05f), env.toSeq.toString) // the silence
    // non-audio bytes decline; extractFeatures routes audio for real
    assert(Multimodal.audioDecode(Array.fill[Byte](64)(3), 8).isEmpty)
    import spark.implicits._
    val df = Seq((1L, wav)).toDF("id", "payload")
    val feats = Multimodal.extractFeatures(df, "payload", dim = 8)
      .select(col("features")).head.getSeq[Float](0)
    assert(feats.take(4).forall(_ > 0.9f) && feats.drop(4).forall(_ < 0.05f))
  }

  test("demuxAviFrames: real MJPEG-AVI demux, stride sampling, codec fallback") {
    import spark.implicits._
    // assemble a real RIFF/AVI container: 6 solid-color JPEG frames in
    // a movi list (frame 3 wrapped in a nested 'rec ' group, as
    // interleaved AVIs do), plus a dummy hdrl list
    def le32(n: Int): Array[Byte] =
      Array((n & 0xFF).toByte, ((n >> 8) & 0xFF).toByte,
        ((n >> 16) & 0xFF).toByte, ((n >> 24) & 0xFF).toByte)
    def cc(s: String): Array[Byte] = s.getBytes("ISO-8859-1")
    def chunk(id: String, data: Array[Byte]): Array[Byte] =
      cc(id) ++ le32(data.length) ++ data ++
        (if (data.length % 2 == 1) Array(0.toByte) else Array.empty[Byte])
    def jpegFrame(shade: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(16, 12,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      val g = img.createGraphics()
      g.setColor(new java.awt.Color(shade, shade, shade))
      g.fillRect(0, 0, 16, 12); g.dispose()
      val baos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "jpeg", baos)
      baos.toByteArray
    }
    val frames = (0 until 6).map(i => jpegFrame(30 + i * 40))
    val moviBody = cc("movi") ++
      frames.take(3).flatMap(f => chunk("00dc", f)) ++
      chunk("LIST", cc("rec ") ++ chunk("00dc", frames(3))) ++
      frames.drop(4).flatMap(f => chunk("00dc", f))
    val hdrl = chunk("LIST", cc("hdrl") ++ chunk("avih", new Array[Byte](56)))
    val riffBody = cc("AVI ") ++ hdrl ++ chunk("LIST", moviBody)
    val avi = cc("RIFF") ++ le32(riffBody.length) ++ riffBody

    // direct demux: stride 2 below 6 frames → indices 0, 2, 4
    val got = Multimodal.demuxAviFrames(avi, frames = 6, stride = 2).get
    assert(got.map(_._1) == Seq(0, 2, 4))
    got.foreach { case (i, png) =>
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(png))
      assert(img.getWidth == 16 && img.getHeight == 12)
      // the sampled frame carries ITS shade (jpeg-lossy, so approximate)
      val want = 30 + i * 40
      val lum = img.getRGB(8, 6) & 0xFF
      assert(math.abs(lum - want) < 16, s"frame $i: got $lum want ~$want")
    }
    // through the operator: AVI rows demux, garbage rows byte-chunk
    val df = Seq((1L, avi), (2L, Array.fill[Byte](100)(7)))
      .toDF("id", "payload")
    val out = Multimodal.sampleFrames(df, "payload", frames = 6, stride = 2)
      .collect()
    assert(out.count(_.getLong(0) == 1L) == 3)  // real demux
    assert(out.count(_.getLong(0) == 2L) == 3)  // fallback chunks (0,2,4)
    // a RIFF that is not AVI, and an AVI whose chunks are not JPEG,
    // both decline (fallback path) rather than throw
    assert(Multimodal.demuxAviFrames(
      cc("RIFF") ++ le32(4) ++ cc("WAVE"), 6, 2).isEmpty)
    val junk = cc("RIFF") ++ le32(100) ++ cc("AVI ") ++
      chunk("LIST", cc("movi") ++ chunk("00dc", Array.fill[Byte](32)(1)))
    assert(Multimodal.demuxAviFrames(
      cc("RIFF") ++ le32(junk.length - 8) ++ junk.drop(8), 6, 2).isEmpty)

    // adversarially deep nesting: 200k nested 'rec ' LISTs (12 bytes
    // each) around one real frame must NOT StackOverflowError — the
    // walk is iterative — and still finds the frame at the bottom.
    // Built flat in one buffer (header-chain left-to-right) to avoid
    // O(depth^2) concatenation.
    val depth = 200000
    val innermost = chunk("00dc", frames(0))
    val nested = new Array[Byte](12 * depth + innermost.length)
    var k = 0
    while (k < depth) {
      val off = 12 * k
      System.arraycopy(cc("LIST"), 0, nested, off, 4)
      System.arraycopy(le32(nested.length - off - 8), 0, nested, off + 4, 4)
      System.arraycopy(cc("rec "), 0, nested, off + 8, 4)
      k += 1
    }
    System.arraycopy(innermost, 0, nested, 12 * depth, innermost.length)
    val deepBody = cc("AVI ") ++ chunk("LIST", cc("movi") ++ nested)
    val deepAvi = cc("RIFF") ++ le32(deepBody.length) ++ deepBody
    val deepGot = Multimodal.demuxAviFrames(deepAvi, frames = 6, stride = 1).get
    assert(deepGot.map(_._1) == Seq(0))
  }

  test("imageAHash/imageNearDupPairs: recompressed near-dups pair up, distinct images don't") {
    import spark.implicits._
    def png(f: (Int, Int) => Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(64, 64,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      (0 until 64).foreach(y => (0 until 64).foreach { x =>
        val v = f(x, y) & 0xFF; img.setRGB(x, y, (v << 16) | (v << 8) | v)
      })
      val baos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", baos)
      baos.toByteArray
    }
    def jpeg(p: Array[Byte]): Array[Byte] = { // lossy re-encode = near-dup
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(p))
      val baos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "jpeg", baos)
      baos.toByteArray
    }
    val gradient = png((x, y) => x * 4)            // left-dark → right-bright
    val gradientJpg = jpeg(gradient)               // recompressed near-dup
    val inverse = png((x, y) => 255 - x * 4)       // opposite structure
    val checker = png((x, y) => if (((x / 8) + (y / 8)) % 2 == 0) 230 else 20)
    val df = Seq((1L, gradient), (2L, gradientJpg), (3L, inverse),
      (4L, checker), (5L, Array.fill[Byte](64)(9))) // 5 = not an image
      .toDF("img_id", "payload")
    // hash determinism + structure: gradient vs inverse differ in many bits
    val h1 = Multimodal.imageAHash(gradient).get
    assert(Multimodal.imageAHash(gradient).get == h1)
    val h3 = Multimodal.imageAHash(inverse).get
    assert(java.lang.Long.bitCount(h1 ^ h3) > 20)
    assert(Multimodal.imageAHash(Array.fill[Byte](64)(9)).isEmpty)
    val pairs = Multimodal.imageNearDupPairs(df, "payload", "img_id",
        maxHamming = 7, bands = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // the recompressed pair is found at small hamming; nothing else is
    assert(pairs.map(p => (p._1, p._2)).toSet == Set((1L, 2L)),
      s"got ${pairs.mkString(", ")}")
    assert(pairs.head._3 <= 7)
  }

  test("meanPoolEmbeddings: exact means, group sizes, single-chunk identity") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
    val out = Similarity.meanPoolEmbeddings(emb,
      (col("vec_id") / lit(8)).cast("long"), "embedding").cache()
    val nVecs = emb.count()
    // every group × dim appears once; chunk counts sum to the corpus
    assert(out.count() == out.select("group_id").distinct().count() * 64)
    assert(out.filter(col("i") === 0).agg(sum(col("n_chunks"))).head.getLong(0)
      == nVecs)
    // pooling a SINGLE chunk returns the (quantized) chunk itself
    val one = Similarity.meanPoolEmbeddings(emb.limit(1), col("vec_id"),
      "embedding")
    val direct = emb.limit(1)
      .select(col("vec_id").as("group_id"),
        posexplode(transform(col("embedding"), x => x.cast("double")))
          .as(Seq("i", "x")))
      .select(col("group_id"), col("i"),
        floor(floor(col("x") * 1048576.0 + 0.5).cast("long") * lit(1e9)
          / lit(1048576.0) + 0.5).cast("long").as("mean_e9"))
    assert(graft.ops.Ops.frameDiff(one.select("group_id", "i", "mean_e9"),
      direct).isEmpty)
    // a hand-built two-chunk group means exactly
    val two = Seq((0L, Seq(1.0f, -1.0f)), (0L, Seq(0.0f, 1.0f)))
      .toDF("g", "embedding")
    val pooled = Similarity.meanPoolEmbeddings(two, col("g"), "embedding")
      .orderBy(col("i")).collect()
    assert(pooled.map(_.getLong(2)).toSeq == Seq(500000000L, 0L)) // .5, 0
  }

  test("lmFluency: deterministic, covers multi-token docs, repetition raises continuation") {
    val out = TextAnalysis.lmFluency(docs, "text", "doc_id").cache()
    // one row per >=2-token document
    val want = docs.filter(size(split(col("text"), " ")) >= 2).count()
    assert(out.count() == want)
    // deterministic: a second run is identical
    assert(graft.ops.Ops.frameDiff(out,
      TextAnalysis.lmFluency(docs, "text", "doc_id")).isEmpty)
    // planted repetition (a 2-gram repeated 30x) pushes the bigram
    // continuation score UP vs the same doc unplanted: the repeated
    // bigram's c2/c1 ratio dominates the mean
    val planted = TextAnalysis.withPlantedRepetition(docs, "text", "doc_id",
      every = 6)
    val pl = TextAnalysis.lmFluency(planted, "text", "doc_id")
      .select(col("doc_id"), col("bi_score_e6").as("pl_bi"))
    val cmp = out.select(col("doc_id"), col("bi_score_e6"))
      .join(pl, Seq("doc_id"))
      .filter(pmod(col("doc_id"), lit(6)) === 0)
    val lowered = cmp.filter(col("pl_bi") < col("bi_score_e6")).count()
    assert(lowered == 0L, s"$lowered repetition-planted docs scored LOWER")
    assert(cmp.filter(col("pl_bi") > col("bi_score_e6")).count() > 0)
    // scores live in their quantized ranges
    assert(out.filter(col("bi_score_e6") < 0 ||
      col("bi_score_e6") > 1000000L).count() == 0)
    assert(out.filter(col("uni_score_e12") <= 0).count() == 0)
  }

  test("classifierScore: exact feature counts, broadcast model, sign flip") {
    import spark.implicits._
    val tiny = Seq((1L, "a b c"), (2L, "x"), (3L, "p q r s"))
      .toDF("doc_id", "text")
    // uniform weights make the logit a pure feature count: an n-token
    // doc has n unigrams + (n-1) bigrams = 2n-1 features
    val plus = spark.range(64).select(col("id").as("bucket"),
      lit(7L).as("w_e6"))
    val out = TextAnalysis.classifierScore(tiny, "text", "doc_id", plus, 64)
      .cache()
    val got = out.collect().map(r => (r.getLong(0), r.getLong(1),
      r.getLong(2), r.getBoolean(3))).sortBy(_._1).toSeq
    assert(got == Seq((1L, 5L, 35L, true), (2L, 1L, 7L, true),
      (3L, 7L, 49L, true)))
    // the model side must broadcast — the corpus side never shuffles
    // before the join
    assert(out.queryExecution.executedPlan.toString
      .contains("BroadcastHashJoin"))
    // all-negative weights flip every verdict (logit strictly < 0)
    val minus = spark.range(64).select(col("id").as("bucket"),
      lit(-1L).as("w_e6"))
    val neg = TextAnalysis.classifierScore(tiny, "text", "doc_id", minus, 64)
    assert(neg.filter(col("keep")).count() == 0)
    // stand-in weights: deterministic across calls, bounded to ±1e6
    val w1 = TextAnalysis.standInWeights(spark, 1024)
    val w2 = TextAnalysis.standInWeights(spark, 1024)
    assert(graft.ops.Ops.frameDiff(w1, w2).isEmpty)
    assert(w1.filter(col("w_e6") < -1000000L || col("w_e6") > 1000000L)
      .count() == 0)
  }

  /** Independent brute-force BPE (symbol vectors, no cell strings):
    * the ground truth for [[Bpe.train]]'s string-replace form. */
  private def refBpeTrain(words: Seq[(String, Long)],
                          rounds: Int): Seq[(String, String, Long)] = {
    var vocab = words.map { case (w, c) => (w.map(_.toString).toVector, c) }
    val out = scala.collection.mutable.Buffer[(String, String, Long)]()
    var done = false
    for (_ <- 1 to rounds if !done) {
      val counts = scala.collection.mutable.Map[(String, String), Long]()
      for ((syms, c) <- vocab; i <- 0 until syms.length - 1)
        counts((syms(i), syms(i + 1))) =
          counts.getOrElse((syms(i), syms(i + 1)), 0L) + c
      if (counts.isEmpty) done = true
      else {
        val ((x, y), c) = counts.toSeq
          .minBy { case ((a, b), n) => (-n, a, b) }
        out += ((x, y, c))
        vocab = vocab.map { case (syms, cnt) =>
          val b = Vector.newBuilder[String]
          var i = 0
          while (i < syms.length) {
            if (i < syms.length - 1 && syms(i) == x && syms(i + 1) == y) {
              b += (x + y); i += 2
            } else { b += syms(i); i += 1 }
          }
          (b.result(), cnt)
        }
      }
    }
    out.toSeq
  }

  test("Bpe.train: agrees with a brute-force reference on the corpus") {
    val words = docs.collect().toSeq
      .flatMap(_.getAs[String]("text").split(" ", -1))
      .filter(w => w.nonEmpty && !w.contains('\u0001'))
      .groupBy(identity).map { case (w, g) => (w, g.size.toLong) }.toSeq
    val want = refBpeTrain(words, rounds = 8)
    val got = Bpe.train(docs, "text", rounds = 8)
      .map(m => (m.lhs, m.rhs, m.count))
    assert(got == want)
    assert(got.size == 8 && got.forall(_._3 > 0))
  }

  test("vocabCoverage: hand-computed OOV rates, deterministic tie-break, zero rows") {
    import spark.implicits._
    // counts: a=3, b=c=d=1; top-2 = (a, then bytewise-smallest b)
    val tiny = Seq((1L, "a a b c"), (2L, "a d"), (3L, " "))
      .toDF("doc_id", "text")
    val out = TextAnalysis.vocabCoverage(tiny, "text", "doc_id", 2)
      .collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(out == Map(
      1L -> ((4L, 1L, 2500L)),  // c is OOV
      2L -> ((2L, 1L, 5000L)),  // d is OOV
      3L -> ((0L, 0L, 0L))))    // no tokens, kept as a zero row
    // the vocabulary side must broadcast back
    val plan = TextAnalysis.vocabCoverage(docs, "text", "doc_id", 1000)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"))
  }

  test("hardNegatives: dup guard kills the mislabeled copy, labels differ, ranks eligible set") {
    val planted = Similarity.withMislabeledDups(emb, "vec_id",
      "embedding", "label", every = 20)
    val queries = planted.filter(col("vec_id") < 10)
    val guarded = Similarity.hardNegatives(planted, queries, "vec_id",
      "embedding", "label", k = 5, dupThreshold = 0.95).cache()
    val g = guarded.collect()
    assert(g.length == 50) // 10 queries x full k
    // query 0's mislabeled jittered copy (id 1000000, label shifted,
    // cosine ~0.9996) is label-eligible but MUST be excluded by the
    // duplicate threshold...
    assert(!g.exists(r => r.getLong(0) == 0L && r.getLong(1) == 1000000L))
    // ...and without the guard it tops the list — the filter is the
    // only thing standing between the copy and rank 1
    val unguarded = Similarity.hardNegatives(planted, queries, "vec_id",
      "embedding", "label", k = 5, dupThreshold = 1.1).collect()
    assert(unguarded.exists(r => r.getLong(0) == 0L
      && r.getLong(1) == 1000000L && r.getInt(3) == 1))
    // no emitted negative shares its query's label
    val labels = planted.select(col("vec_id"), col("label"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    g.foreach(r => assert(labels(r.getLong(0)) != labels(r.getLong(1)),
      s"query ${r.getLong(0)} got same-label negative ${r.getLong(1)}"))
    // scores below the threshold, ranks contiguous per query
    g.foreach(r => assert(r.getDouble(2) < 0.95))
    (0L until 10L).foreach { q =>
      val rns = g.filter(_.getLong(0) == q).map(_.getInt(3)).sorted.toSeq
      assert(rns == (1 to 5), s"query $q ranks $rns")
    }
  }

  test("Bpe: greedy left-to-right merges, early exhaustion, zero rows") {
    import spark.implicits._
    // [a,a,a] merging (a,a) -> [aa,a]: greedy, no rescan of output
    val tri = Seq((1L, "aaa")).toDF("doc_id", "text")
    val m1 = Bpe.train(tri, "text", rounds = 1)
    assert(m1 == Seq(Bpe.Merge(1, "a", "a", 2L)))
    val enc = Bpe.encode(tri, "text", "doc_id", m1).collect()(0)
    assert((enc.getLong(1), enc.getLong(2)) == ((1L, 2L)))
    // a fully merged vocabulary stops training early
    val ab = Seq((1L, "ab")).toDF("doc_id", "text")
    val ms = Bpe.train(ab, "text", rounds = 5)
    assert(ms == Seq(Bpe.Merge(1, "a", "b", 1L)))
    // documents with no countable words report zeros, not a lost row
    val empty = Seq((1L, "x y"), (2L, "  ")).toDF("doc_id", "text")
    val z = Bpe.encode(empty, "text", "doc_id", Nil)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1).toSeq
    assert(z == Seq((1L, 2L, 2L), (2L, 0L, 0L)))
  }

  test("Bpe.encodeTokens/decode: lossless round trip, marker boundaries") {
    import spark.implicits._
    val docs = Seq(
      (1L, "hello world"),
      (2L, "aaa ab aaa"),
      (3L, "  spaced   out  "), // multi-space: normalizes to single
      (4L, "   ")               // no countable words: empty sequence
    ).toDF("doc_id", "text")
    val merges = Bpe.train(docs, "text", rounds = 4)
    val enc = Bpe.encodeTokens(docs, "text", "doc_id", merges)
    // decode inverts exactly to the single-space word normalization
    val rt = enc.select(col("doc_id"), Bpe.decode(col("toks")).as("t"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rt(1L) == "hello world")
    assert(rt(2L) == "aaa ab aaa")
    assert(rt(3L) == "spaced out")
    assert(rt(4L) == "")
    // token counts agree with encode's count projection
    val counts = Bpe.encode(docs, "text", "doc_id", merges)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val nt = enc.select(col("doc_id"), size(col("toks")).cast("long"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(nt == counts)
    // every word's FIRST token (and only it) carries the marker
    val toks2 = enc.filter(col("doc_id") === 2L)
      .select(col("toks")).head().getSeq[String](0)
    assert(toks2.count(_.startsWith(Bpe.Marker)) == 3)
    // merge-free fertility is exactly chars-per-word; word-less groups
    // are dropped, not divided by zero
    val fert = Seq((1L, "ab cd", "en"), (2L, "xyz", "de"), (3L, " ", "fr"))
      .toDF("doc_id", "text", "lang")
    val f = Bpe.fertilityByGroup(fert, "text", "doc_id", "lang", Nil)
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(f == Map("en" -> ((2L, 4L, 20000L)), "de" -> ((1L, 3L, 30000L))))
  }
}
