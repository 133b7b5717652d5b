package graft.llm

import org.apache.spark.sql.functions._
import graft.{SparkSpec, Tables}

/** Invariants of the round-5 curation operators (PII redaction,
  * boilerplate removal, mixture upsampling, semantic dedup) — the
  * oracle rows check exact cross-engine agreement; these check the
  * operators' contracts against the planting rules. */
class CurationSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.01"
  private lazy val docs = Tables.documents(spark, dir).cache()
  private lazy val embs = Tables.embeddings(spark, dir).cache()

  test("redactPii: plants detected per the id rule, redaction is a fixed point") {
    val planted = TextAnalysis.withPlantedPii(docs, "text", "doc_id")
    val out = TextAnalysis.redactPii(planted, "text", "doc_id").cache()
    // counts follow the planting rule exactly (base corpus has no PII)
    val bad = out.filter(
      col("n_email") =!= when(pmod(col("doc_id"), lit(7)) === 0, 1L).otherwise(0L) ||
      col("n_ipv4") =!= when(pmod(col("doc_id"), lit(5)) === 0, 1L).otherwise(0L) ||
      col("n_phone") =!= when(pmod(col("doc_id"), lit(11)) === 0, 1L).otherwise(0L))
    assert(bad.count() == 0)
    // docs with nothing planted are untouched
    val untouched = out
      .join(docs.select(col("doc_id"), md5(col("text").cast("binary")).as("orig_md5")),
        Seq("doc_id"))
      .filter(col("n_email") + col("n_ipv4") + col("n_phone") === 0)
      .filter(col("redacted_md5") =!= col("orig_md5"))
    assert(untouched.count() == 0)
    // redaction is a fixed point: no pattern matches the redacted text
    val redacted = planted.select(col("doc_id"),
      TextAnalysis.PiiPatterns.foldLeft(col("text")) {
        case (c, (_, p, r)) => regexp_replace(c, p, r)
      }.as("text"))
    val residual = TextAnalysis.redactPii(redacted, "text", "doc_id")
      .filter(col("n_email") + col("n_ipv4") + col("n_phone") > 0)
    assert(residual.count() == 0)
  }

  test("removeBoilerplate: strips exactly the planted banner, cleaned = original") {
    val planted = Dedup.withPlantedBoilerplate(docs, "text", "doc_id")
    val out = Dedup.removeBoilerplate(planted, "text", "doc_id",
      k = 5, minDf = 50L).cache()
    val bannerLen = Dedup.BoilerplateBanner.split(" ").length
    // every third doc loses exactly the banner, others lose nothing
    val bad = out.filter(col("n_removed") =!=
      when(pmod(col("doc_id"), lit(3)) === 0, bannerLen.toLong).otherwise(0L))
    assert(bad.count() == 0)
    // cleaning a banner-prefixed doc recovers the original text exactly
    val mismatch = out
      .join(docs.select(col("doc_id"), md5(col("text").cast("binary")).as("orig_md5")),
        Seq("doc_id"))
      .filter(col("cleaned_md5") =!= col("orig_md5"))
    assert(mismatch.count() == 0)
  }

  test("mixtureEpochs: floor of 1, upweighted sources repeat, plan is broadcast") {
    val weights = Map("src0" -> 0.2, "src3" -> 0.1)
    val plan = Sampling.mixtureEpochs(docs, "source", col("n_chars"),
      weights, defaultWeight = 0.04)
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(plan.values.forall(_ >= 1L))
    assert(plan("src0") > plan("src3") && plan("src3") > 1L)
    assert(plan.filterKeys(s => !weights.contains(s)).values.forall(_ == 1L))
    val up = Sampling.mixtureUpsample(docs, "source", col("n_chars"),
      weights, defaultWeight = 0.04)
    // every row repeats exactly its source's epoch count, 0-indexed
    val perDoc = up.groupBy(col("doc_id"), col("source"))
      .agg(count(lit(1)).as("n"), max(col("epoch")).as("max_e"))
      .join(docs.select(col("doc_id")), Seq("doc_id"))
    val wrong = perDoc.filter(col("max_e") =!= col("n") - 1).count() +
      perDoc.withColumn("want",
          weights.toSeq.sortBy(_._1).foldLeft[org.apache.spark.sql.Column](lit(1L)) {
            case (els, (s, _)) => when(col("source") === s, lit(plan(s))).otherwise(els)
          })
        .filter(col("n") =!= col("want")).count()
    assert(wrong == 0)
    // the plan side joins broadcast — the corpus side never shuffles
    assert(up.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"))
  }

  test("removeBoilerplate: all-boilerplate and shorter-than-k documents") {
    import spark.implicits._
    val banner = "x y z w v"                 // 5 tokens = one 5-gram
    val docs = (0L until 60L).map { i =>
      if (i < 58) (i, s"$banner unique$i")   // banner + 1 own token
      else if (i == 58) (i, banner)          // ONLY boilerplate
      else (i, "a b c")                      // shorter than k: no grams
    }.toDF("doc_id", "text")
    val out = Dedup.removeBoilerplate(docs, "text", "doc_id", k = 5, minDf = 50L)
      .collect().map(r => r.getLong(0) -> r).toMap
    // the all-banner doc empties out: md5 of the empty string
    assert(out(58L).getLong(2) == 5L &&
      out(58L).getString(3) == "d41d8cd98f00b204e9800998ecf8427e")
    // a shorter-than-k doc contributes no grams and keeps everything
    assert(out(59L).getLong(2) == 0L)
    // ordinary docs keep exactly their unique token
    assert(out(0L).getLong(1) == 6L && out(0L).getLong(2) == 5L)
  }

  test("redactPii: adjacent and multiple PII in one document") {
    import spark.implicits._
    val docs = Seq(
      (0L, "mail a.b+c@ex-1.co.uk then 192.168.0.1 call +1-415-555-0199"),
      (1L, "two mails x@y.io z@w.ai and ips 1.2.3.4 5.6.7.8"),
      (2L, "no pii here at all")).toDF("doc_id", "text")
    val out = TextAnalysis.redactPii(docs, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(0L).getLong(1) == 1L && out(0L).getLong(2) == 1L &&
      out(0L).getLong(3) == 1L)
    assert(out(1L).getLong(1) == 2L && out(1L).getLong(2) == 2L &&
      out(1L).getLong(3) == 0L)
    assert(out(2L).getLong(1) + out(2L).getLong(2) + out(2L).getLong(3) == 0L)
  }

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  test("stripMarkup: tags, comments, entity order, whitespace collapse") {
    import spark.implicits._
    val docs = Seq(
      (0L, "<div class=\"x\"><p>hello <b>world</b></p></div>"),
      (1L, "<!-- a -- comment -->before<br/>after"),
      // &amp;lt; must decode to the literal text "&lt;", never to "<"
      (2L, "a &amp;lt; b &lt;tag&gt; c &quot;q&quot; &#39;s&#39; &nbsp;d"),
      (3L, "no markup at all"),
      (4L, "spaced   <i>  out  </i>   text")).toDF("doc_id", "text")
    val out = TextAnalysis.stripMarkup(docs, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> r).toMap
    def check(id: Long, nTags: Long, clean: String): Unit = {
      assert(out(id).getLong(1) == nTags, s"doc $id n_tags")
      assert(out(id).getLong(2) == clean.length.toLong, s"doc $id len")
      assert(out(id).getString(3) == md5Hex(clean), s"doc $id md5")
    }
    check(0L, 6L, "hello world")
    // n_tags counts every <...> group of the RAW text — comments too
    check(1L, 2L, "before after")
    check(2L, 0L, "a &lt; b <tag> c \"q\" 's' d")
    check(3L, 0L, "no markup at all")
    check(4L, 2L, "spaced out text")
  }

  test("stripMarkup: unplanted docs of the gate corpus are untouched") {
    val planted = TextAnalysis.withPlantedMarkup(docs, "text", "doc_id")
    val out = TextAnalysis.stripMarkup(planted, "text", "doc_id")
    val unplanted = out
      .filter(pmod(col("doc_id"), lit(3)) =!= 0 &&
        pmod(col("doc_id"), lit(4)) =!= 0 && pmod(col("doc_id"), lit(5)) =!= 0)
      .join(docs.select(col("doc_id"),
        md5(col("text").cast("binary")).as("orig_md5"),
        length(col("text")).cast("long").as("orig_len")), Seq("doc_id"))
    assert(unplanted.count() > 0)
    assert(unplanted.filter(col("n_tags") =!= 0L ||
      col("clean_md5") =!= col("orig_md5") ||
      col("clean_len") =!= col("orig_len")).count() == 0)
  }

  test("qualityGate: each rule fires its own reason bit") {
    import spark.implicits._
    val good = ("alpha the bravo codes delta eagle frost gamma hotel india " +
      "juliet kilos lemon mango north oscar paper quill romeo sugar tango " +
      "uncle")   // 22 tokens, ~5-char mean, has a stopword, all grams unique
    val docs = Seq(
      (0L, good),
      (1L, "too short the text"),                  // bit 1 (4 tokens)
      (2L, good + (" verylongtokenx" * 40)),       // drifts mean length → bit 4
      (3L, ("the spam " * 30).trim),               // bits 8+16 (low ttr, dup grams)
      (4L, good.replaceAll("\\bthe\\b", "thx"))    // no stopwords → bit 32
    ).toDF("doc_id", "text")
    val out = TextAnalysis.qualityGate(docs, "text", "doc_id")
      .collect().map(r => r.getLong(0) ->
        (r.getAs[Long]("reasons"), r.getAs[Boolean]("keep"))).toMap
    assert(out(0L) == (0L, true))
    assert((out(1L)._1 & 1L) != 0 && !out(1L)._2)
    assert((out(2L)._1 & 4L) != 0 && !out(2L)._2)
    assert((out(3L)._1 & 8L) != 0 && (out(3L)._1 & 16L) != 0 && !out(3L)._2)
    assert((out(4L)._1 & 32L) != 0 && !out(4L)._2)
  }

  test("qualityGate: planted repetition always trips the repetition rule") {
    val out = TextAnalysis.qualityGate(
      TextAnalysis.withPlantedRepetition(docs, "text", "doc_id", every = 6),
      "text", "doc_id").cache()
    // keep ⇔ reasons == 0, everywhere
    assert(out.filter(col("keep") =!= (col("reasons") === 0L)).count() == 0)
    // every planted doc has the repetition bit; some unplanted docs keep
    assert(out.filter(pmod(col("doc_id"), lit(6)) === 0)
      .filter((col("reasons").bitwiseAND(16L)) === 0L).count() == 0)
    assert(out.filter(col("keep")).count() > 0)
  }

  test("clusterStats: sizes partition the corpus, assignment matches semDedup") {
    val out = Similarity.clusterStats(embs, "vec_id", "embedding",
      nLists = 8).cache()
    val n = embs.count()
    assert(out.count() == n)
    // cluster_n is consistent: per-cluster row count equals the stat
    assert(out.groupBy(col("list_id"), col("cluster_n"))
      .agg(count(lit(1)).as("c"))
      .filter(col("c") =!= col("cluster_n")).count() == 0)
    assert(out.select(col("list_id"), col("cluster_n")).distinct()
      .agg(sum(col("cluster_n"))).first().getLong(0) == n)
    // same quantizer ⇒ same assignment as semDedup's list_id
    val sd = Similarity.semDedup(embs, "vec_id", "embedding",
      threshold = 0.95, nLists = 8).select(col("vec_id"), col("list_id").as("sd"))
    assert(out.join(sd, Seq("vec_id"))
      .filter(col("list_id") =!= col("sd")).count() == 0)
    // stats come back via a broadcast join — corpus side never reshuffles
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && !plan.contains("Cartesian"))
  }

  test("bloom might-contain: no false negatives, filter prunes") {
    import spark.implicits._
    graft.functions.BloomMightContainExpr.register(spark)
    val members = (0L until 1000L).map(i => i * 2654435761L)
    val bloom = members.toDF("h64").stat.bloomFilter("h64", 1000L, 0.01)
    val probe = (0L until 4000L).map(i => i * 2654435761L).toDF("h64")
    val kept = probe.filter(
        graft.functions.BloomMightContainExpr.of(col("h64"), bloom))
      .collect().map(_.getLong(0)).toSet
    assert(members.forall(kept.contains))          // no false negatives
    assert(kept.size < 1400)                       // and it actually prunes
  }

  test("bloom might-contain: a NULL filter literal fails analysis, not codegen") {
    import spark.implicits._
    graft.functions.BloomMightContainExpr.register(spark)
    // a foldable NULL binary used to pass the type check and NPE later
    // when codegen forced the lazy deserialization — it must be
    // rejected while the error can still say what went wrong
    val e = intercept[Exception] {
      Seq(1L).toDF("h64")
        .filter(org.apache.spark.sql.functions.call_function(
          graft.functions.BloomMightContainExpr.Name,
          col("h64"), lit(null).cast("binary")))
        .collect()
    }
    assert(e.getMessage != null && e.getMessage.toLowerCase.contains("null"),
      s"expected a NULL-filter analysis error, got: $e")
  }

  test("exactIncremental: bloom-pruned result equals the unpruned join") {
    import spark.implicits._
    val batch = docs.filter(pmod(col("doc_id"), lit(10)) === 0)
      .select((col("doc_id") + 100000L).as("doc_id"), col("text"))
      .unionByName(Seq((999999L, "a document the corpus has never seen"))
        .toDF("doc_id", "text"))
    val index = Dedup.exactIndex(docs, "text", "doc_id")
    val got = Dedup.exactIncremental(batch, index, "text", "doc_id").cache()
    val want = index.join(
        Dedup.exactIndex(batch, "text", "doc_id")
          .select(col("doc_id").as("new_id"), col("text_sha")),
        Seq("text_sha"))
      .groupBy(col("new_id"))
      .agg(min(col("doc_id")).as("dup_of"), count(lit(1)).as("n_index_dupes"))
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    // the never-seen doc produced no row
    assert(got.filter(col("new_id") === 999999L).isEmpty)
  }

  test("Curation.pipeline: copies dedup to their base, gate respected, dense order") {
    val planted = Curation.withPlantedEverything(docs, "text", "doc_id")
    val out = Curation.pipeline(planted, "text", "doc_id", shards = 8).cache()
    // no planted copy survives (each is an exact post-redaction dup of
    // a lower-id base), and a surviving base exists for every kept copy
    assert(out.filter(col("doc_id") >= 924000L).count() == 0)
    // survivors are exactly the gate-kept keepers: recompute the gate
    // over the cleaned text and the dedup keeper rule independently
    val cleaned = planted.select(col("doc_id"),
      TextAnalysis.redactText(TextAnalysis.stripMarkupText(col("text")))
        .as("text"))
    val keptIds = TextAnalysis.qualityGate(cleaned, "text", "doc_id")
      .filter(col("keep")).select(col("doc_id"))
    val keepers = cleaned.join(keptIds, Seq("doc_id"), "left_semi")
      .groupBy(md5(col("text").cast("binary"))).agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"))
    assert(out.select("doc_id").exceptAll(keepers).isEmpty &&
      keepers.exceptAll(out.select("doc_id")).isEmpty)
    // per-shard positions are dense 0..n-1
    assert(out.groupBy(col("shard"))
      .agg(count(lit(1)).as("n"), max(col("pos")).as("hi"))
      .filter(col("hi") =!= col("n") - 1).count() == 0)
  }

  test("Curation.audit: verdicts reconcile exactly with the pipeline") {
    val planted = Curation.withPlantedEverything(docs, "text", "doc_id")
    val audit = Curation.audit(planted, "text", "doc_id").cache()
    // one verdict per input document
    assert(audit.count() == planted.count())
    // survived ⇔ emitted by the pipeline
    val survIds = Curation.pipeline(planted, "text", "doc_id")
      .select("doc_id")
    assert(audit.filter(col("survived")).select("doc_id")
      .exceptAll(survIds).isEmpty &&
      survIds.exceptAll(audit.filter(col("survived")).select("doc_id")).isEmpty)
    // duplicate attribution points at a surviving keeper with a lower id
    val dups = audit.filter(col("dup_of").isNotNull).cache()
    assert(dups.count() > 0)
    assert(dups.filter(col("dup_of") >= col("doc_id")).count() == 0)
    assert(dups.select(col("dup_of").as("doc_id"))
      .exceptAll(survIds).isEmpty)
    // verdict algebra: keep ⇔ reasons = 0; survived ⇒ keep ∧ no dup
    assert(audit.filter(col("keep") =!= (col("reasons") === 0L)).count() == 0)
    assert(audit.filter(col("survived") &&
      (!col("keep") || col("dup_of").isNotNull)).count() == 0)
  }

  test("corpusReport: slices partition the corpus, totals match the gate") {
    val rep = TextAnalysis.corpusReport(docs, "text", "doc_id",
      dims = Seq("source", "lang")).cache()
    assert(rep.agg(sum(col("n_docs"))).first().getLong(0) == docs.count())
    assert(rep.filter(col("n_kept") > col("n_docs") ||
      col("sum_kept_tokens") > col("sum_tokens")).count() == 0)
    // corpus-wide kept count matches the gate's own verdicts
    val kept = TextAnalysis.qualityGate(docs, "text", "doc_id")
      .filter(col("keep")).count()
    assert(rep.agg(sum(col("n_kept"))).first().getLong(0) == kept)
    assert(kept > 0 && kept < docs.count())
  }

  test("shuffleOrder: dense per-shard positions, reproducible, salt-sensitive") {
    val a = Sampling.shuffleOrder(docs.select(col("doc_id")), col("doc_id"),
      shards = 8).cache()
    assert(a.count() == docs.count())
    // positions are dense 0..n_shard-1 within every shard
    val dense = a.groupBy(col("shard"))
      .agg(count(lit(1)).as("n"), min(col("pos")).as("lo"), max(col("pos")).as("hi"))
      .filter(col("lo") =!= 0L || col("hi") =!= col("n") - 1)
    assert(dense.count() == 0)
    // same salt reproduces the identical assignment
    val b = Sampling.shuffleOrder(docs.select(col("doc_id")), col("doc_id"),
      shards = 8)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
    // a different salt is a different permutation
    val c = Sampling.shuffleOrder(docs.select(col("doc_id")), col("doc_id"),
      shards = 8, salt = "epoch2")
    assert(a.join(c, Seq("doc_id", "shard", "pos"), "inner").count() <
      docs.count() / 2)
  }

  test("semanticDecontaminate: flags exactly the planted leakage, broadcast eval") {
    val eval = Similarity.withPlantedDups(embs, "vec_id", "embedding",
        every = 20)
      .filter(col("vec_id") >= 1000000L)
    val out = Similarity.semanticDecontaminate(embs, eval, "vec_id",
      "embedding", threshold = 0.8, bands = 32, rowsPerBand = 12).cache()
    val flagged = out.select("vec_id").collect().map(_.getLong(0)).toSet
    val plantedBases = embs.filter(pmod(col("vec_id"), lit(20)) === 0)
      .collect().map(_.getLong(0)).toSet
    assert(flagged == plantedBases)
    assert(out.filter(col("max_cos") < 0.8).count() == 0)
    // the eval side broadcasts; no cartesian anywhere
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && !plan.contains("Cartesian"))
  }

  test("mixtureEpochs: a zero-size source fails loudly, not with MaxValue epochs") {
    import spark.implicits._
    val docs2 = Seq((1L, "srcA", 10L), (2L, "srcB", 0L))
      .toDF("doc_id", "source", "n_chars")
    val ex = intercept[Exception] {
      Sampling.mixtureEpochs(docs2, "source", col("n_chars"),
        weights = Map("srcA" -> 0.5), defaultWeight = 0.1).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ messages(e.getCause))
    assert(messages(ex).exists(_.contains("non-positive total size")))
  }

  test("semDedup: planted copies removed, bases kept, cluster-bounded join") {
    val planted = Similarity.withPlantedDups(embs, "vec_id", "embedding",
      every = 20)
    val out = Similarity.semDedup(planted, "vec_id", "embedding",
      threshold = 0.95, nLists = 8).cache()
    // exactly the planted jittered copies (cosine ≈ 0.999 to their
    // lower-id base, same cluster) are removed; no base vector is
    val removed = out.filter(col("removed")).select("vec_id")
      .collect().map(_.getLong(0)).toSet
    val plantedIds = embs.filter(pmod(col("vec_id"), lit(20)) === 0)
      .collect().map(_.getLong(0) + 1000000L).toSet
    assert(removed == plantedIds)
    // removal verdicts are consistent with the reported max_lower
    assert(out.filter(col("removed") && col("max_lower") < 0.95).count() == 0)
    assert(out.filter(!col("removed") && col("max_lower") >= 0.95).count() == 0)
    // candidates come from the cluster equi-join, never a cross join
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("Cartesian"))
  }

  test("pipelineNearDup: exact survivors minus fuzzy clusters, keeper is min id") {
    val planted = Curation.withPlantedEverything(docs, "text", "doc_id")
    val exact = Curation.pipeline(planted, "text", "doc_id")
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    val fuzzy = Curation.pipelineNearDup(planted, "text", "doc_id")
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    // strictly a subset: the fuzzy stage only removes, never adds —
    // and it must actually remove something on this corpus (the
    // near-dup stage is non-vacuous at test SF)
    assert(fuzzy.subsetOf(exact))
    assert(fuzzy.size < exact.size,
      s"fuzzy stage dropped nothing (${exact.size} survivors)")
    // the dropped set is EXACTLY the non-minimal members of the
    // jaccard components over the exact survivors' cleaned text, and
    // every dropped doc's min-id keeper (its cluster label) survived
    val cleaned = planted.select(col("doc_id"),
      TextAnalysis.redactText(TextAnalysis.stripMarkupText(col("text")))
        .as("text"))
    import spark.implicits._
    val exactSurvTxt = cleaned
      .join(exact.toSeq.toDF("doc_id"), Seq("doc_id"), "left_semi")
    val clusters = Dedup.duplicateClusters(
        Dedup.ngramJaccardPairs(exactSurvTxt, "text", "doc_id")
          .select(col("a"), col("b")))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val wantDropped = clusters.collect { case (id, c) if id != c => id }.toSet
    assert(exact -- fuzzy == wantDropped)
    assert(wantDropped.forall(d => fuzzy.contains(clusters(d))))
    // dense per-shard positions survive the extra stage
    val out = Curation.pipelineNearDup(planted, "text", "doc_id")
    val badShards = out.groupBy(col("shard"))
      .agg(count(lit(1)).as("n"), max(col("pos")).as("mx"))
      .filter(col("mx") =!= col("n") - 1).count()
    assert(badShards == 0L)
  }

  test("pipelineNearDup: the caller's job description survives the call") {
    val sc = spark.sparkContext
    sc.setJobDescription("caller")
    try {
      Curation.pipelineNearDup(
        Curation.withPlantedEverything(docs, "text", "doc_id"), "text", "doc_id")
      assert(sc.getLocalProperty("spark.job.description") == "caller")
    } finally sc.setJobDescription(null)
  }

  test("pipelineNearDup: one collected run stays within its Spark job budget") {
    // the count with the exact keeper materialized once and no size
    // probe in the pair or cluster stage: a reintroduced probe or
    // recomputation shows up here
    val planted = Curation.withPlantedEverything(docs, "text", "doc_id")
    planted.count()
    val jobs = jobsStarted(
      Curation.pipelineNearDup(planted, "text", "doc_id").collect())
    assert(jobs <= 16, s"pipelineNearDup ran $jobs Spark jobs")
  }

  test("pipelineClassified: accept-all model ≡ pipeline, reject-all drops everything") {
    val planted = Curation.withPlantedEverything(docs, "text", "doc_id")
    // uniform positive weights keep every doc (logit = n_feats > 0):
    // the classifier stage must then be invisible — byte-equal output
    val plus = spark.range(64).select(col("id").as("bucket"),
      lit(1L).as("w_e6"))
    val same = Curation.pipelineClassified(planted, "text", "doc_id",
      plus, 64)
    val base = Curation.pipeline(planted, "text", "doc_id")
    assert(graft.ops.Ops.frameDiff(same, base).isEmpty)
    // uniform negative weights reject every doc
    val minus = spark.range(64).select(col("id").as("bucket"),
      lit(-1L).as("w_e6"))
    assert(Curation.pipelineClassified(planted, "text", "doc_id",
      minus, 64).count() == 0L)
  }
}
