package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Large-scale document deduplication operators (BASELINE.json north
  * star): exact, MinHash+LSH, SimHash, and n-gram Jaccard. All shapes
  * are shuffle-bounded: candidates come from equi-joins on computed
  * keys (band signature / rare shingle / simhash band), never from a
  * quadratic cross join, so they survive a 100 TB corpus.
  */
object Dedup {

  /** Exact dedup: one surviving row per identical text, deterministic
    * keeper (min id), duplicate count. A single hash-aggregate — keyed
    * on sha2(text), not the text itself, so the shuffle moves 32-byte
    * digests instead of whole documents (the difference between
    * shuffling ~100 TB and ~100 GB at fleet scale; collision
    * probability of sha-256 is negligible against any corpus size). */
  def exact(df: DataFrame, text: String, id: String): DataFrame =
    df.groupBy(sha2(col(text), 256).as("text_sha"))
      .agg(min(col(id)).as("keep_id"), count(lit(1)).as("n_dupes"))

  /** The persisted exact-dedup index shape: one row per corpus
    * document with its content digest (32-byte shuffle/join key) and
    * the 64-bit [[md5Hash64]] the Bloom prefilter probes. Store this
    * in the lake next to the minhash signature index — each ingest
    * batch dedups against it without ever re-reading corpus text. */
  def exactIndex(df: DataFrame, text: String, id: String): DataFrame = {
    graft.functions.Md5Hash64Expr.register(df.sparkSession)
    df.select(col(id), sha2(col(text), 256).as("text_sha"),
      md5Hash64(col(text)).as("h64"))
  }

  /** Incremental exact dedup: which documents of a NEW batch already
    * exist in the corpus index, with a Bloom prefilter pruning the
    * index scan. Output, one row per batch document with ≥1 exact
    * match: (new_id, dup_of = minimum matching corpus id,
    * n_index_dupes).
    *
    * Scale shape: the batch is ingest-sized (the reference caps pulls
    * at 200k rows), so its 64-bit hashes fit a driver-built
    * [[org.apache.spark.util.sketch.BloomFilter]] of a few MB that
    * ships to every index-scan task as a plan literal
    * ([[graft.functions.BloomMightContainExpr]]). The 100 TB index is
    * then filtered DURING ITS SCAN — only rows whose hash might match
    * reach the confirming equi-join, so the join's shuffle moves
    * ~|batch| candidate rows instead of the whole index. Bloom false
    * positives are discarded by the exact sha-256 join (false
    * negatives are impossible), so the result is byte-identical to the
    * unpruned join — which is why the operator stays under the DuckDB
    * oracle. At `fpp` = 1% the prefilter passes ~|batch| + 0.01·|index|
    * rows; tighten fpp as the index grows (cost is ~1.2 bytes/key per
    * halving). */
  def exactIncremental(batch: DataFrame, index: DataFrame, text: String,
                       id: String, fpp: Double = 0.01): DataFrame = {
    // materialized once: the digest projection otherwise re-hashes the
    // batch text three times (count job, bloom job, confirm join)
    val b = exactIndex(batch, text, id)
      .select(col(id).as("new_id"), col("text_sha"), col("h64"))
      .localCheckpoint()
    // driver-side filter build over the batch hashes — bounded by the
    // ingest batch size, the same class of driver scalar the reference
    // pulls (expected-items from a cheap count; both jobs are tiny).
    // An empty batch skips the build: a zero-row stat.bloomFilter has
    // no backing bits and its probes NPE
    val nBatch = b.count()
    val pruned = if (nBatch == 0) index.limit(0)
    else {
      val bloom = b.stat.bloomFilter("h64", nBatch, fpp)
      graft.functions.BloomMightContainExpr.register(index.sparkSession)
      index.filter(graft.functions.BloomMightContainExpr.of(col("h64"), bloom))
    }
    pruned.join(b.select(col("new_id"), col("text_sha")), Seq("text_sha"))
      .groupBy(col("new_id"))
      .agg(min(col(id)).as("dup_of"), count(lit(1)).as("n_index_dupes"))
  }

  /** Benchmark decontamination: flag training documents that share any
    * word k-gram with an evaluation/benchmark set — the n-gram-overlap
    * protocol used to scrub eval leakage from pretraining corpora
    * (13-grams is the published convention; `k` is a parameter because
    * short synthetic documents need smaller windows). Output, one row
    * per CONTAMINATED training document: (id, n_hit_shingles = distinct
    * leaked k-grams, n_bench_docs = distinct benchmark documents hit).
    * Anti-joining the flagged ids back out of the corpus is the caller's
    * one-line cleanup step.
    *
    * Scale shape: the benchmark side is small by nature (eval suites are
    * MBs against a 100 TB corpus), so its distinct shingle set is
    * broadcast — the corpus-sized side never shuffles; contamination
    * detection runs at scan speed like any broadcast semi-join. Set
    * `broadcastBench = false` for the rare giant-benchmark case to fall
    * back to a shuffle equi-join on the shingle. */
  def decontaminate(train: DataFrame, bench: DataFrame, text: String,
                    id: String, k: Int = 13,
                    broadcastBench: Boolean = true): DataFrame = {
    val trainSh = wordShingles(train, text, id, k)
    val benchSh0 = wordShingles(bench, text, id, k)
      .select(col(id).as("bench_id"), col("shingle"))
    val benchSh = if (broadcastBench) broadcast(benchSh0) else benchSh0
    trainSh.join(benchSh, Seq("shingle"))
      .groupBy(col(id))
      .agg(countDistinct(col("shingle")).as("n_hit_shingles"),
        countDistinct(col("bench_id")).as("n_bench_docs"))
  }

  /** Corpus-level boilerplate removal — the line-dedup step of the
    * CCNet/RefinedWeb pipelines, at word-n-gram granularity (the
    * synthetic corpus has no newlines; the semantics are identical:
    * drop any text unit repeated across ≥ `minDf` documents). A token
    * is removed iff some k-gram window containing it occurs in at
    * least `minDf` DISTINCT documents; the cleaned document is the
    * kept tokens in original order. Output per document: (id,
    * n_tokens, n_removed, cleaned_md5 = md5 of the re-joined kept
    * text; empty-string md5 when everything was boilerplate).
    *
    * Scale shape: k-grams travel as the 64-bit [[md5Hash64]] (8-byte
    * shuffle keys, not strings); document frequency is one keyed
    * aggregation; frequent grams come back via an equi-join on the
    * hash (NOT a broadcast — at fleet scale the frequent-gram set is
    * unbounded); position reassembly is a per-document sort inside one
    * grouped aggregation. Every stage is keyed on (gram) or (id) — no
    * quadratic step, and no per-gram occurrence list is ever
    * materialized (a hot boilerplate gram can occur billions of times
    * at fleet scale — collect-and-filter shapes OOM on exactly the
    * grams this operator exists to remove). The declarative cost: the
    * gram subplan is evaluated twice (df count, cover join) — at fleet
    * scale persist the gram frame, or keep it in the lake like the
    * minhash signature index, and both consumers read one
    * materialization. */
  def removeBoilerplate(df0: DataFrame, text: String, id: String,
                        k: Int = 5, minDf: Long = 50L): DataFrame = {
    graft.functions.Md5Hash64Expr.register(df0.sparkSession)
    val toks = tokenize(df0, text, id)
    val n = size(col("toks"))
    // one row per window start s (1-based, matching slice()). NOT
    // checkpointed: materializing the gram frame for its two consumers
    // was measured SLOWER at bench scale (1.30 → 1.51 s min-of-4 —
    // the narrow tokenize+hash recompute is cheaper than writing ~10M
    // gram rows to block storage); the fleet-scale persist advice in
    // the scaladoc applies when the recompute is no longer scan-cheap
    val grams = toks.filter(n >= k)
      .select(col(id), col("toks"),
        explode(sequence(lit(1), n - (k - 1))).as("s"))
      .select(col(id), col("s"),
        md5Hash64(concat_ws(" ", slice(col("toks"), col("s"), lit(k)))).as("g"))
    val frequent = grams.select(col(id), col("g")).distinct()
      .groupBy(col("g")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDf)
      .select(col("g"))
    // 1-based token positions covered by any frequent window
    val removed = grams.join(frequent, Seq("g"))
      .select(col(id), explode(sequence(col("s"), col("s") + (k - 1))).as("p"))
      .distinct()
    val positions = toks
      .select(col(id), posexplode(col("toks")).as(Seq("p0", "tok")))
      .select(col(id), (col("p0") + 1).as("p"), col("tok"))
    val kept = positions.join(removed, Seq(id, "p"), "left_anti")
      .groupBy(col(id))
      .agg(count(lit(1)).as("n_kept"),
        md5(concat_ws(" ",
          transform(array_sort(collect_list(struct(col("p"), col("tok")))),
            x => x.getField("tok"))).cast("binary")).as("cleaned_md5"))
    toks.select(col(id), n.cast("long").as("n_tokens"))
      .join(kept, Seq(id), "left")
      .select(col(id), col("n_tokens"),
        (col("n_tokens") - coalesce(col("n_kept"), lit(0L))).as("n_removed"),
        coalesce(col("cleaned_md5"), md5(lit("").cast("binary")))
          .as("cleaned_md5"))
  }

  /** Planted boilerplate for gate non-vacuity: the synthetic corpus is
    * i.i.d. word salad, so no k-gram naturally crosses `minDf`
    * documents — prepend a fixed banner to every third document
    * (id%3=0), exactly the repeated-header shape line-dedup exists to
    * strip. Mirrored verbatim in the DuckDB oracle. */
  val BoilerplateBanner =
    "subscribe to our newsletter for updates terms of service apply"

  def withPlantedBoilerplate(df: DataFrame, text: String, id: String): DataFrame =
    df.withColumn(text,
      when(pmod(col(id), lit(3)) === 0,
        concat(lit(BoilerplateBanner + " "), col(text))).otherwise(col(text)))

  /** Planted shared LINES for line-dedup non-vacuity: the synthetic
    * corpus is one unique line per document, so no line naturally
    * crosses `minDf` documents — prepend a cookie-banner header to
    * every 5th document and append a footer to every 3rd (newline
    * separated, the repeated-chrome shape line-wise dedup strips).
    * Mirrored verbatim in the DuckDB oracle. */
  val LineHeader =
    "cookie notice this site uses cookies accept to continue"
  val LineFooter =
    "copyright example site newsletter signup footer navigation links"

  def withPlantedLines(df: DataFrame, text: String, id: String): DataFrame =
    df.withColumn(text,
      concat(
        when(pmod(col(id), lit(5)) === 0, lit(LineHeader + "\n"))
          .otherwise(lit("")),
        col(text),
        when(pmod(col(id), lit(3)) === 0, lit("\n" + LineFooter))
          .otherwise(lit(""))))

  /** Line-wise corpus dedup (the C4/CCNet/RefinedWeb line-level stage,
    * complementing [[removeBoilerplate]]'s token-k-gram granularity):
    * drop every LINE whose exact text occurs in ≥ `minDf` distinct
    * documents — repeated site chrome (cookie banners, nav, footers)
    * — and reassemble each document from its surviving lines in
    * position order. Output per document: `n_lines`, `n_removed`, and
    * `cleaned_md5` over the kept lines rejoined with newlines (the
    * oracle recomputes the whole pipeline, reassembly included).
    *
    * Scale shape: lines travel as their md5 digest (the cross-engine
    * key; 16 bytes regardless of line length — the line TEXT never
    * enters the frequency shuffle). Stages are all keyed: distinct on
    * (id, digest), df-count on digest, anti-join on digest, one
    * per-document reassembly aggregation. No broadcast of the
    * frequent set — like [[removeBoilerplate]]'s frequent grams it is
    * unbounded at fleet scale, so it returns via the equi-join. */
  def lineDedup(df0: DataFrame, text: String, id: String,
                minDf: Long = 20L): DataFrame = {
    val df = graft.ops.Ops.parallelizeInput(df0, col(id))
    val lines = df
      .select(col(id), posexplode(split(col(text), "\n")).as(Seq("pos", "ln")))
      .withColumn("k", md5(col("ln").cast("binary")))
    val frequent = lines.select(col(id), col("k")).distinct()
      .groupBy(col("k")).agg(count(lit(1)).as("line_df"))
      .filter(col("line_df") >= minDf)
      .select(col("k"))
    val kept = lines.join(frequent, Seq("k"), "left_anti")
      .groupBy(col(id))
      .agg(count(lit(1)).as("n_kept"),
        md5(concat_ws("\n",
          transform(array_sort(collect_list(struct(col("pos"), col("ln")))),
            x => x.getField("ln"))).cast("binary")).as("cleaned_md5"))
    df.select(col(id), size(split(col(text), "\n")).cast("long").as("n_lines"))
      .join(kept, Seq(id), "left")
      .select(col(id), col("n_lines"),
        (col("n_lines") - coalesce(col("n_kept"), lit(0L))).as("n_removed"),
        coalesce(col("cleaned_md5"), md5(lit("").cast("binary")))
          .as("cleaned_md5"))
  }

  /** Distinct word k-shingles per document: (id, shingle). Documents
    * with fewer than k tokens produce none. */
  def wordShingles(df: DataFrame, text: String, id: String, k: Int): DataFrame =
    shinglesFromToks(tokenize(df, text, id), id, k)

  /** Word k-shingles computed from a pre-tokenized frame — used
    * internally so `text` need not survive into the explode. `dedup`
    * controls set semantics: jaccard/simhash need distinct shingles
    * (one shuffle), while min-wise hashing is duplicate-invariant and
    * skips it.
    *
    * Deliberately explode-then-project, NOT a higher-order
    * `transform(...)` building a per-row shingle array: Spark
    * evaluates lambda functions interpreted, row by row — measured
    * ~10× slower than this codegen'd projection over the same corpus
    * (the array form also re-boxes every token per shingle). */
  def shinglesFromToks(df: DataFrame, id: String, k: Int,
                       dedup: Boolean = true): DataFrame = {
    val exploded = df.filter(size(col("toks")) >= k)
      .select(col(id), col("toks"),
        explode(sequence(lit(1), size(col("toks")) - (k - 1))).as("i"))
      .select(col(id), concat_ws(" ", slice(col("toks"), col("i"), lit(k))).as("shingle"))
    if (dedup) exploded.distinct() else exploded
  }

  /** Tokenization fans the input out to full parallelism first: every
    * shingle pipeline's per-row work (split, slice, concat, distinct)
    * otherwise runs inside however few scan tasks the file layout
    * produced (see [[graft.ops.Ops.parallelizeInput]]). */
  def tokenize(df: DataFrame, text: String, id: String): DataFrame =
    graft.ops.Ops.parallelizeInput(df, col(id))
      .select(col(id), split(col(text), " ").as("toks"))

  /** MinHash signatures: `numPerms` min-wise hash lanes per document.
    * md5 is deliberately the hash (byte-identical across engines — the
    * DuckDB oracle recomputes it), but each digest supplies FOUR
    * 32-bit lanes, so `numPerms` permutations cost ⌈numPerms/4⌉ md5
    * calls per shingle instead of `numPerms` (lanes of one digest are
    * independent PRF outputs — standard digest splitting). The seeded
    * digests are materialized in a projection FIRST so each md5 is
    * computed exactly once per shingle, then the aggregate takes mins
    * of the parsed hex lanes. One hash-aggregate, no row explosion.
    * Output: (id, h0..h{n-1}) as longs in [0, 2^32). */
  def minhashSignatures(shingles: DataFrame, id: String, numPerms: Int): DataFrame = {
    graft.functions.Md5LanesExpr.register(shingles.sparkSession)
    val nDigests = (numPerms + 3) / 4
    // one native digest-direct evaluation per seeded digest: the
    // composable conv(substring(hex)) form ran four string-radix
    // conversions per digest per shingle and dominated the pipeline
    // (5.9 s of 7.3 s at the 10× probe) — Md5LanesExpr reads the four
    // unsigned-32 lanes straight off the digest bytes, bit-identical
    val withLanes = shingles.select(col(id) +:
      (0 until nDigests).map(d =>
        graft.functions.Md5LanesExpr.of(
          concat(lit(s"$d|"), col("shingle")).cast("binary")).as(s"__l$d")): _*)
    val aggs = (0 until numPerms).map { i =>
      min(element_at(col(s"__l${i / 4}"), i % 4 + 1)).as(s"h$i")
    }
    withLanes.groupBy(col(id)).agg(aggs.head, aggs.tail: _*)
  }

  /** MinHash-LSH parameter PLANNER — the "rowsPerBand is a function of
    * corpus size, not a tuning constant" rule made executable. For a
    * corpus of `n` documents, a dedup threshold `t` (pairs at Jaccard
    * ≥ t must be found) and a recall target, pick (bands, rowsPerBand)
    * from the S-curve: a pair at similarity s collides in one band
    * with probability s^r and survives b bands with 1 − (1 − s^r)^b.
    * For each r, b is the smallest count reaching `targetRecall` at t;
    * among candidates within the `maxHashes` signature budget, choose
    * the one minimizing the TOTAL expected cost
    *
    *   n · b · r            (computing/storing the signatures)
    * + verifyCost · n²/2 · b · bg^r   (reranking random collisions;
    *                                   bg = background similarity of
    *                                   non-dup pairs)
    *
    * — BOTH terms, because the candidate term alone is minimized by
    * the largest r regardless of n (the n² factor scales every r
    * identically and cancels in the argmin): it is the RATIO of the
    * linear hashing cost to the quadratic collision cost that makes
    * corpus size move the optimum. Small corpora sit at few hashes
    * (collisions are cheap to rerank); large corpora are pushed to
    * harder pruning until bucket collisions are priced out. Pure
    * driver-side scalar math (the planner runs before any job);
    * DedupPlanSpec pins the formulas and the monotonicities. Returns
    * (bands, rowsPerBand, recallAtT, expectedTotalCost). */
  def planMinhashBands(n: Long, threshold: Double,
                       targetRecall: Double = 0.95,
                       maxHashes: Int = 256,
                       backgroundSim: Double = 0.05,
                       verifyCost: Double = 10.0
                      ): (Int, Int, Double, Double) = {
    require(n > 0 && threshold > 0 && threshold < 1 &&
      targetRecall > 0 && targetRecall < 1 && maxHashes >= 2 &&
      backgroundSim > 0 && backgroundSim < threshold && verifyCost > 0,
      s"need n>0, 0<backgroundSim<threshold<1 (got backgroundSim=" +
        s"$backgroundSim, threshold=$threshold), 0<recall<1, " +
        "maxHashes>=2, verifyCost>0")
    def recall(b: Int, r: Int, s: Double) =
      1.0 - math.pow(1.0 - math.pow(s, r), b)
    val candidates = for {
      r <- 1 to maxHashes
      // smallest b reaching the recall target at t for this r
      bNeeded = math.ceil(math.log1p(-targetRecall) /
        math.log1p(-math.pow(threshold, r))).toInt.max(1)
      if bNeeded.toLong * r <= maxHashes
    } yield {
      val hashing = n.toDouble * bNeeded * r
      val rerank = verifyCost * 0.5 * n.toDouble * n.toDouble *
        bNeeded * math.pow(backgroundSim, r)
      (bNeeded, r, recall(bNeeded, r, threshold), hashing + rerank)
    }
    require(candidates.nonEmpty,
      s"no (bands, rows) within $maxHashes hashes reaches recall " +
        s"$targetRecall at threshold $threshold - raise maxHashes")
    candidates.minBy { case (b, r, _, cost) => (cost, b * r) }
  }

  /** Per-document (band, sig) LSH keys: the signature split into
    * `bands` bands of `rowsPerBand` hashes, each band fingerprinted.
    * posexplode of per-band signatures, not a bands-way union: one
    * pass over the signature aggregate instead of `bands` recomputes.
    * This IS the persistent dedup index shape — store it in the lake
    * and new batches join against it (see
    * [[lshCandidatePairsIncremental]]). */
  def bandSignatures(sigs: DataFrame, id: String,
                     bands: Int, rowsPerBand: Int): DataFrame = {
    val bandSigs = array((0 until bands).map { b =>
      val hs = (0 until rowsPerBand).map(r =>
        col(s"h${b * rowsPerBand + r}").cast("string"))
      md5(concat_ws("|", hs: _*).cast("binary"))
    }: _*)
    sigs.select(col(id), posexplode(bandSigs).as(Seq("band", "sig")))
  }

  /** LSH banding: split the signature into `bands` bands of
    * `rowsPerBand` hashes; documents sharing any band signature are
    * candidate pairs. The join key is (band, signature) — candidates
    * cost one shuffle regardless of corpus size. Output: (a, b). */
  def lshCandidatePairs(sigs: DataFrame, id: String,
                        bands: Int, rowsPerBand: Int): DataFrame = {
    val all = bandSignatures(sigs, id, bands, rowsPerBand)
    val l = all.select(col(id).as("a"), col("band"), col("sig"))
    val r = all.select(col(id).as("b"), col("band"), col("sig"))
    l.join(r, Seq("band", "sig")).filter(col("a") < col("b"))
      .select(col("a"), col("b")).distinct()
  }

  /** Incremental near-dup candidates: a NEW batch's band signatures
    * joined against the union of the existing index and the batch —
    * exactly the pairs a full recompute would emit that touch the new
    * batch (band signatures are per-document, so batching cannot
    * change them), without ever re-hashing the corpus. This is how a
    * growing 100 TB corpus stays deduped: signatures are computed once
    * per document, banded once, persisted, and each ingest joins only
    * its delta. Output: (a, b) normalized a < b, ≥ 1 side new. */
  def lshCandidatePairsIncremental(newSigs: DataFrame, indexSigs: DataFrame,
                                   id: String, bands: Int,
                                   rowsPerBand: Int): DataFrame = {
    val bNew = bandSignatures(newSigs, id, bands, rowsPerBand)
      .select(col(id).as("a"), col("band"), col("sig"))
    val bAll = bandSignatures(indexSigs, id, bands, rowsPerBand)
      .select(col(id).as("b"), col("band"), col("sig"))
      .unionByName(bNew.select(col("a").as("b"), col("band"), col("sig")))
    bNew.join(bAll, Seq("band", "sig")).filter(col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("a"),
        greatest(col("a"), col("b")).as("b"))
      .distinct()
  }

  /** End-to-end incremental MinHash-LSH: signatures for the new batch
    * only, candidates against the existing signature index. */
  def minhashLshIncremental(newDocs: DataFrame, indexSigs: DataFrame,
                            text: String, id: String, shingleK: Int = 5,
                            numPerms: Int = 8, bands: Int = 4): DataFrame = {
    require(numPerms % bands == 0, "bands must divide numPerms")
    val sh = shinglesFromToks(tokenize(newDocs, text, id), id, shingleK,
      dedup = false)
    lshCandidatePairsIncremental(minhashSignatures(sh, id, numPerms),
      indexSigs, id, bands, numPerms / bands)
  }

  /** End-to-end MinHash-LSH near-dup candidates over a text column. */
  def minhashLsh(df: DataFrame, text: String, id: String, shingleK: Int = 5,
                 numPerms: Int = 8, bands: Int = 4): DataFrame = {
    require(numPerms % bands == 0, "bands must divide numPerms")
    // min() is invariant under duplicate shingles → skip the distinct
    val sh = shinglesFromToks(tokenize(df, text, id), id, shingleK, dedup = false)
    lshCandidatePairs(minhashSignatures(sh, id, numPerms), id, bands, numPerms / bands)
  }

  /** [[minhashLsh]] candidates + EXACT Jaccard rerank — the FLEET-SCALE
    * near-dup pair source: the sketch proposes, the exact measure
    * disposes. Candidates are the documents sharing a (band, sig)
    * bucket of the minhash signatures (one shuffle whose key
    * cardinality is corpus-sized but whose buckets are the near-dup set
    * — never an all-pairs comparison and never posting lists over raw
    * shingles, so unlike [[ngramJaccardPairs]] there is no maxDf recall
    * cliff: a shingle shared by 10⁶ documents costs nothing because
    * only its 8-hash sketch is ever grouped); the rerank recomputes
    * true Jaccard over the candidates' DISTINCT shingle sets, so every
    * emitted pair carries its exact score and sketch false positives
    * are filtered out. False negatives are the LSH recall curve
    * (P[candidate] = 1-(1-j^rows)^bands) — the documented sketch trade
    * every published fuzzy-dedup pipeline (C4, RefinedWeb, Gopher)
    * makes.
    *
    * 100 TB story: the signature aggregate shuffles sketch-width rows
    * per document, the bucket aggregate shuffles ids only, and the
    * rerank re-shingles candidate documents only. Output: (a, b,
    * jacc_bp), a < b, Jaccard ≥ `minJaccard`; `id` must be unique. */
  def minhashLshReranked(df: DataFrame, text: String, id: String,
                         shingleK: Int = 5, numPerms: Int = 8,
                         bands: Int = 4,
                         minJaccard: Double = 0.5): DataFrame = {
    require(numPerms % bands == 0, "bands must divide numPerms")
    // one posting list per band bucket: the lists of the band join, kept
    // grouped so the candidate bound Σ C(n_b, 2) is read off them
    val buckets = bandSignatures(minhashSignatures(
        distinctShingles(df, text, id, shingleK), id, numPerms), id,
        bands, numPerms / bands)
      .groupBy(col("band"), col("sig"))
      .agg(sort_array(collect_set(col(id))).as("ids"))
      .filter(size(col("ids")) >= 2)
    rerankPostings(df, text, id, shingleK, buckets, minJaccard)
  }

  /** [[minhashLshReranked]] with (bands, rowsPerBand) chosen by the
    * [[planMinhashBands]] S-curve solver from the corpus's OWN size —
    * the planner made load-bearing: callers state the dedup threshold
    * and recall target, the banding follows the corpus (one count job
    * up front — driver-scalar, the trainer rule). Exact precision is
    * unchanged (the rerank filters on true Jaccard); only recall
    * follows the planned S-curve. */
  def minhashLshAuto(df: DataFrame, text: String, id: String,
                     shingleK: Int = 5, minJaccard: Double = 0.5,
                     targetRecall: Double = 0.95,
                     maxHashes: Int = 64,
                     backgroundSim: Double = 0.05): DataFrame = {
    val n = df.count()
    require(n > 0, "minhashLshAuto needs a non-empty corpus")
    val (bands, rowsPerBand, _, _) = planMinhashBands(n, minJaccard,
      targetRecall, maxHashes, backgroundSim = backgroundSim)
    minhashLshReranked(df, text, id, shingleK,
      numPerms = bands * rowsPerBand, bands = bands,
      minJaccard = minJaccard)
  }

  /** Session-scoped memo of materialized pair sets: within one session,
    * a semantically-equal input plan with identical parameters returns
    * the already-checkpointed result. Duplicate-cluster queries
    * re-derive exactly the pairs the pair query just computed — that is
    * a common subplan, and an engine materializes it once. Entries are
    * tiny (near-dup pairs) and keyed by session identity, so a stopped
    * session's entries are never served to a new one.
    *
    * Lookup confirms PLAN EQUALITY (`sameResult` on the stored
    * canonicalized plan), never just a hash: a `hashCode` collision
    * between two different input plans would otherwise silently serve
    * the wrong cached pair set — low-probability silent data
    * corruption, the worst failure mode an engine can have. */
  private val pairsMemo =
    new graft.ops.PlanMemo[(Int, String, String, Int, Int, Long), DataFrame]()

  /** Unordered (a, b) pairs generated row-locally from a sorted
    * posting list `ids` of two or more entries (a < b because the list
    * is sorted). The lambda is interpreted, but it only ever touches
    * posting lists — never the corpus-sized frames. */
  private def listPairs(postings: DataFrame): DataFrame = {
    val pairIdx = flatten(transform(
      sequence(lit(0), size(col("ids")) - 2),
      i => transform(sequence(i + 1, size(col("ids")) - 1),
        j => struct(element_at(col("ids"), i + 1).as("a"),
          element_at(col("ids"), j + 1).as("b")))))
    postings.select(explode(pairIdx).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
  }

  /** The DISTINCT word k-shingles of a token array, built row-locally.
    * Rows with fewer than `k` tokens must be filtered out first. */
  private def shingleSet(toks: Column, k: Int): Column =
    array_distinct(transform(sequence(lit(1), size(toks) - (k - 1)),
      i => concat_ws(" ", slice(toks, i, lit(k)))))

  /** (id, shingle): one row per DISTINCT k-shingle of each document. */
  private def distinctShingles(df: DataFrame, text: String, id: String,
                               k: Int): DataFrame =
    tokenize(df, text, id).filter(size(col("toks")) >= k)
      .select(col(id), explode(shingleSet(col("toks"), k)).as("shingle"))

  /** The driver-pairs bound of the near-dup stage: the candidate-pair
    * estimate at or below which [[rerankPostings]] pulls its candidates
    * to the driver, and the edge count at or below which
    * [[duplicateClusters]] runs its union-find on the driver. */
  private[graft] val MaxDriverPairs = 1000000

  /** The driver-pairs bound, conf-overridable
    * (`spark.graft.rerank.driverPairs.max`; set ≤0 to force the fully
    * distributed path) — the deployment-level scale lever, and
    * LlmSpec's switch for the distributed path. */
  private def maxDriverPairs(spark: org.apache.spark.sql.SparkSession): Int =
    spark.conf.getOption("spark.graft.rerank.driverPairs.max")
      .map(_.toInt).getOrElse(MaxDriverPairs)

  /** EXACT Jaccard over the candidate pairs of `postings` (one sorted
    * `ids` list per shingle or band bucket, two or more ids each) — the
    * shared rerank stage of [[ngramJaccardPairs]] and
    * [[minhashLshReranked]]; `df` is their input corpus.
    *
    * The path is chosen from the candidate bound Σ C(n, 2) over the
    * lists, observed in the same pass that materializes them — before
    * any candidate is pulled, and with no size probe:
    *
    *  - at or below [[maxDriverPairs]], the lists are collected, the
    *    distinct pairs are generated on the driver, and each candidate
    *    document looks its pairs up in a broadcast map. The scored pairs
    *    come back as a LocalRelation, which [[duplicateClusters]] reads
    *    without a job.
    *  - above it, nothing is pulled: the candidate pairs are generated
    *    from the lists on the executors and materialized once (each
    *    pair tags both of its documents), and the scored pairs are
    *    checkpointed.
    *
    * Each candidate document's shingle set is built once, row-locally
    * from its text, and travels to its pairs; a pair's two sets meet in
    * one group, where |S_a ∩ S_b|, |S_a| and |S_b| are exact set sizes.
    * Output: (a, b, jacc_bp) with Jaccard ≥ `minJaccard`, exact basis
    * points. */
  private def rerankPostings(df: DataFrame, text: String, id: String,
                             k: Int, postings: DataFrame,
                             minJaccard: Double): DataFrame = {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{ArrayType, LongType, StructType}
    val spark = df.sparkSession
    val idField = df.schema(id)
    val pairType = StructType(Seq(idField.copy(name = "a"), idField.copy(name = "b")))
    val outSchema = pairType.add("jacc_bp", LongType)
    val sizes = new org.apache.spark.sql.Observation()
    val lists = postings.select(col("ids"))
      .observe(sizes, sum(size(col("ids")).cast("long") *
        (size(col("ids")) - 1)).as("twice_pairs"))
      .localCheckpoint()
    val estimate = Option(sizes.get("twice_pairs"))
      .fold(0L)(_.asInstanceOf[Long] / 2)
    if (estimate == 0L)
      return spark.createDataFrame(java.util.Collections.emptyList[Row](),
        outSchema)
    val small = estimate <= math.max(maxDriverPairs(spark), 0)
    // (id, text, ps): every candidate document with the pairs it is in
    val tagged =
      if (small) {
        val pairs = lists.collect().iterator.flatMap { r =>
          val ids = r.getSeq[Any](0)
          for (i <- ids.indices.iterator; j <- (i + 1 until ids.length).iterator)
            yield Row(ids(i), ids(j))
        }.toSet
        // a broadcast variable, not a broadcast join: shipping it starts
        // no Spark job
        val byDoc = spark.sparkContext.broadcast(pairs.toSeq
          .flatMap(p => Seq(p.get(0) -> p, p.get(1) -> p))
          .groupMap(_._1)(_._2))
        val pairsOf = udf(new org.apache.spark.sql.api.java.UDF1[Any, Seq[Row]] {
          def call(d: Any): Seq[Row] = byDoc.value.getOrElse(d, null)
        }, ArrayType(pairType, containsNull = false))
        df.select(col(id), col(text), pairsOf(col(id)).as("ps"))
          .filter(col("ps").isNotNull)
      } else {
        val cand = listPairs(lists).distinct().localCheckpoint()
        val p = struct(col("a"), col("b"))
        df.join(cand.select(col("a").as(id), p.as("p"))
          .union(cand.select(col("b").as(id), p.as("p")))
          .groupBy(col(id)).agg(collect_list(col("p")).as("ps")), Seq(id))
      }
    val out = tagged
      .select(col(id), col("ps"),
        shingleSet(split(col(text), " "), k).as("sh"))
      .select(col(id), explode(col("ps")).as("p"), col("sh"))
      .groupBy(col("p"))
      .agg(sort_array(collect_list(struct(col(id), col("sh")))).as("d"))
      .select(col("p.a").as("a"), col("p.b").as("b"),
        col("d").getItem(0).getField("sh").as("sa"),
        col("d").getItem(1).getField("sh").as("sb"))
      .withColumn("c", size(array_intersect(col("sa"), col("sb"))))
      .withColumn("jacc", lit(1.0) * col("c") /
        (size(col("sa")) + size(col("sb")) - col("c")))
      .filter(col("jacc") >= minJaccard)
      .select(col("a"), col("b"),
        floor(col("jacc") * 10000 + 0.5).cast("long").as("jacc_bp"))
    // materialize the (tiny) pair set eagerly — callers
    // (duplicateClusters chief among them) otherwise re-run the pair
    // stage per action
    if (small) spark.createDataFrame(out.collect().toSeq.asJava, outSchema)
    else out.localCheckpoint()
  }

  /** Exact Jaccard near-dup pairs with a rare-shingle candidate filter:
    * only document pairs sharing a shingle whose document frequency is
    * ≤ `maxDf` are compared (common shingles would otherwise explode
    * the candidate set quadratically — this cap is the scale lever).
    * Output: (a, b, jacc_bp) with Jaccard ≥ `minJaccard`, as exact
    * basis points; `id` must be unique. */
  def ngramJaccardPairs(df: DataFrame, text: String, id: String,
                        k: Int = 5, maxDf: Int = 5,
                        minJaccard: Double = 0.5): DataFrame = {
    val memoKey = (System.identityHashCode(df.sparkSession), text, id, k, maxDf,
      java.lang.Double.doubleToLongBits(minJaccard))
    pairsMemo.getOrCompute(memoKey, df) {
    // candidate pairs via per-shingle posting lists, built in one
    // grouping pass: the row_number cap (planned as a window group
    // limit) keeps at most maxDf + 1 ids per shingle, so list state is
    // bounded by maxDf however common a shingle is, and lists longer
    // than maxDf drop. The shuffle takes an explicit partition count,
    // which AQE leaves uncoalesced: the sort and the grouping after it
    // run at the session's width, not in one task
    val postings = distinctShingles(df, text, id, k)
      .repartition(df.sparkSession.sessionState.conf.numShufflePartitions,
        col("shingle"))
      .withColumn("__r", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("shingle"))
          .orderBy(col(id))))
      .filter(col("__r") <= maxDf + 1)
      .groupBy(col("shingle")).agg(sort_array(collect_list(col(id))).as("ids"))
      .filter(size(col("ids")).between(2, maxDf))
    rerankPostings(df, text, id, k, postings, minJaccard)
    }
  }

  /** Planted CONTAINED documents for containment-dedup non-vacuity:
    * every `every`-th document gains an EXTENDED copy (id + `offset`)
    * — the original text followed by a deterministic pad section one
    * token longer than the original — so the original's shingle set is
    * a strict subset of the copy's while the pair's Jaccard sits near
    * ⅓ (below any resemblance gate). The quote-inclusion /
    * article-plus-boilerplate shape symmetric dedup misses by
    * construction. Mirrored verbatim in the DuckDB oracle. */
  def withPlantedExtensions(df: DataFrame, text: String, id: String,
                            every: Int = 20,
                            offset: Long = 3000000L): DataFrame = {
    val ext = df.filter(pmod(col(id), lit(every)) === 0)
      .withColumn(id, col(id) + offset)
      .withColumn(text, concat(col(text), lit(" "),
        concat_ws(" ", transform(
          sequence(lit(1), size(split(col(text), " ")) + lit(5)),
          i => concat(lit("pad"), col(id).cast("string"), lit("_"),
            i.cast("string"))))))
    df.unionByName(ext)
  }

  /** GLOBAL suffix ranks by prefix doubling — the suffix-array
    * construction behind published exact-substring dedup, as `rounds`
    * distributed sort-rank passes instead of a single-machine sort:
    * r₀ ranks each token against the sorted vocabulary; round k ranks
    * the pair (r_k(pos), r_k(pos+2^k)) — missing halves coalesce to 0
    * so shorter suffixes sort first — via the boundary-independent
    * [[graft.ops.Ops.denseRank]] (the terasort shape: range-sorted
    * distinct keys, keyed per-partition row_number, driver prefix
    * offsets; never a one-task global window). After `rounds` passes
    * two suffixes share a rank iff their first 2^rounds tokens are
    * identical, and rank order IS lexicographic suffix order
    * truncated there (SuffixSpec brute-forces both properties) —
    * giving any-length repeated-substring detection the k-gram
    * [[repeatedSpans]] pass approximates. Per round: one keyed
    * self-join on (id, pos + 2^k) + one denseRank — all shapes
    * corpus-partitionable; rank ids are longs, no combined-integer
    * overflow at any corpus size (the pair ranks stay as two
    * columns). Output: (id, pos, rank), pos 0-based. */
  def suffixRanks(df: DataFrame, text: String, id: String,
                  rounds: Int = 7): DataFrame = {
    // serve from the rank-table memo when another SA consumer
    // ([[longestRepeats]], [[cutLongRepeats]]) already built at least
    // `rounds` levels over the same plan: tables(rounds) IS the
    // all-rounds result, and the early-exit path below is documented
    // result-identical to it — so the memo hit returns the exact same
    // frame for free instead of re-running 3–4 denseRank rounds.
    val plan = df.queryExecution.logical.canonicalized
    val memoKey = (System.identityHashCode(df.sparkSession), text, id)
    rankMemo.getOrElse(memoKey, Nil)
      .collectFirst { case (p, t) if p.sameResult(plan) && t.length > rounds =>
        t(rounds) }
      .foreach(t => return t.select(col(id), col("pos"), col("r").as("rank")))
    val toks = tokenize(df, text, id)
      .select(col(id), posexplode(col("toks")).as(Seq("pos", "tok")))
    val r0 = toks.join(
      graft.ops.Ops.denseRank(toks.select(col("tok")), Seq("tok")),
      Seq("tok"))
      .select(col(id), col("pos"), col("rank").as("r"))
    // early exit (the classic SA-doubling cutoff): once every suffix
    // holds a unique rank — max rank == suffix count — further rounds
    // are provable no-ops (the dense rank of (unique r1, ·) ordered by
    // r1 first is r1 itself), so stopping early is result-identical to
    // running all `rounds`, and the oracle's fixed-length replay still
    // matches bit-for-bit. Natural text discriminates within a few
    // rounds; the cutoff turns the fixed 7-round cost into a
    // data-dependent 3–4 (measured 54 s → 25 s at sf0.1).
    var cur = r0
    var k = 0
    var done = false
    while (k < rounds && !done) {
      val step = 1 << k
      val shifted = cur.select(col(id),
        (col("pos") - step).as("pos"), col("r").as("r2"))
      val paired = cur.join(shifted, Seq(id, "pos"), "left")
        .select(col(id), col("pos"), col("r").as("r1"),
          coalesce(col("r2"), lit(0L)).as("r2"))
      cur = paired.join(
        graft.ops.Ops.denseRank(paired.select(col("r1"), col("r2")),
          Seq("r1", "r2")),
        Seq("r1", "r2"))
        .select(col(id), col("pos"), col("rank").as("r"))
        .localCheckpoint()
      val st = cur.agg(max(col("r")), count(lit(1))).first()
      done = st.getLong(0) == st.getLong(1)
      k += 1
    }
    cur.select(col(id), col("pos"), col("r").as("rank"))
  }

  /** Rank-table memo (the pairsMemo contract): several SA consumers
    * ([[longestRepeats]] at 7 rounds, [[cutLongRepeats]] at
    * ⌊log₂ L⌋) walk the same doubling tables over the same corpus —
    * without the memo each registry row repays every denseRank round
    * (~2 s/round at sf0.1). Keyed by session + columns, guarded by
    * PLAN EQUALITY on the canonicalized input; a shorter request is
    * served as a prefix of a longer cached run, a longer one EXTENDS
    * the cached tables (doubling only ever needs the previous level). */
  private val rankMemo =
    scala.collection.concurrent.TrieMap.empty[(Int, String, String),
      List[(org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
        List[DataFrame])]]

  /** Probe seam: drop every memoized rank table, so a phase-split
    * probe can time a COLD build after a sibling probe warmed the
    * memo ([[graft.ScaleProbe]]'s longest_repeats split). */
  private[graft] def clearRankMemo(): Unit = rankMemo.clear()

  /** All rank tables of the prefix doubling, checkpointed:
    * (ranks_0 … ranks_K) with ranks_k discriminating the first 2^k
    * tokens — the sparse table the LCP computation walks. Unlike
    * [[suffixRanks]] no early exit: the LCP walk needs every level. */
  private[graft] def suffixRankTables(df: DataFrame, text: String, id: String,
                               rounds: Int): Seq[DataFrame] = {
    val plan = df.queryExecution.logical.canonicalized
    val key = (System.identityHashCode(df.sparkSession), text, id)
    val cached = rankMemo.getOrElse(key, Nil)
      .collectFirst { case (p, t) if p.sameResult(plan) => t }
      .getOrElse(Nil)
    if (cached.length > rounds) return cached.take(rounds + 1)
    def stepUp(r: DataFrame, k: Int): DataFrame = {
      val step = 1 << k
      val shifted = r.select(col(id),
        (col("pos") - step).as("pos"), col("r").as("r2"))
      val paired = r.join(shifted, Seq(id, "pos"), "left")
        .select(col(id), col("pos"), col("r").as("r1"),
          coalesce(col("r2"), lit(0L)).as("r2"))
      paired.join(
        graft.ops.Ops.denseRank(paired.select(col("r1"), col("r2")),
          Seq("r1", "r2")),
        Seq("r1", "r2"))
        .select(col(id), col("pos"), col("rank").as("r"))
        .localCheckpoint()
    }
    var tabs = if (cached.nonEmpty) cached else {
      val toks = tokenize(df, text, id)
        .select(col(id), posexplode(col("toks")).as(Seq("pos", "tok")))
      List(toks.join(
          graft.ops.Ops.denseRank(toks.select(col("tok")), Seq("tok")),
          Seq("tok"))
        .select(col(id), col("pos"), col("rank").as("r"))
        .localCheckpoint())
    }
    for (k <- tabs.length - 1 until rounds) tabs = tabs :+ stepUp(tabs(k), k)
    rankMemo.updateWith(key)(old => Some((plan, tabs) ::
      old.getOrElse(Nil).filterNot(_._1.sameResult(plan)).take(3)))
    tabs
  }

  /** Longest repeated token-substrings across the corpus — the
    * suffix-array payoff [[suffixRanks]]' ranks alone don't give: pair
    * every suffix with its successor in global rank order (dense ranks
    * make that a keyed self-join on rank + 1 — adjacent suffixes
    * bound the LCP of ALL suffix pairs, the suffix-array invariant),
    * then compute each pair's longest common prefix by walking the
    * doubling tables high-to-low: if ranks_k agree at the pair's
    * current offsets, the suffixes share 2^k more tokens — h += 2^k
    * and advance; `rounds` keyed join-rounds total, no per-token
    * comparison anywhere. Output: (a_id, a_pos, b_id, b_pos, lcp)
    * for the `topK` longest repeats with lcp ≥ minLcp, ties broken on
    * ids/positions. The any-length exact-repeat detector —
    * [[repeatedSpans]]' fixed-gram pass generalized. */
  def longestRepeats(df: DataFrame, text: String, id: String,
                     rounds: Int = 7, minLcp: Long = 2L,
                     topK: Int = 20): DataFrame = {
    val tables = suffixRankTables(df, text, id, rounds)
    val fin = tables.last
    // the suffix-ARRAY order: final rank, ties (equal truncated
    // suffixes) broken by (id, pos) — a total order, indexed by the
    // scalable dense rank; adjacent entries bound the LCP of all
    // pairs, and equal-rank runs (the exact repeats that matter most)
    // pair consecutively instead of being skipped
    val ordered = graft.ops.Ops.denseRank(fin, Seq("r", id, "pos"),
      out = "sidx")
    val succ = ordered.select((col("sidx") - 1).as("sidx"),
      col(id).as("b_id"), col("pos").as("b_pos"))
    var pairs = ordered
      .select(col("sidx"), col(id).as("a_id"), col("pos").as("a_pos"))
      .join(succ, Seq("sidx"))
      .select(col("a_id"), col("a_pos"), col("b_id"), col("b_pos"),
        lit(0L).as("h"))
    for (k <- (rounds - 1) to 0 by -1) {
      val t = tables(k)
      val ra = t.select(col(id).as("a_id"), col("pos").as("__ap"),
        col("r").as("__ra"))
      val rb = t.select(col(id).as("b_id"), col("pos").as("__bp"),
        col("r").as("__rb"))
      pairs = pairs
        .withColumn("__ap", (col("a_pos") + col("h")).cast("int"))
        .withColumn("__bp", (col("b_pos") + col("h")).cast("int"))
        .join(ra, Seq("a_id", "__ap"), "left")
        .join(rb, Seq("b_id", "__bp"), "left")
        .withColumn("h", when(col("__ra").isNotNull &&
          col("__ra") === col("__rb"), col("h") + (1L << k))
          .otherwise(col("h")))
        .drop("__ap", "__bp", "__ra", "__rb")
    }
    // clamp by remaining suffix lengths: level-k agreement on two
    // suffixes that BOTH end inside the window includes the padding,
    // so the walked h can exceed the real token overlap by up to the
    // pad — the true LCP never exceeds either remaining length
    val lens = tokenize(df, text, id)
      .select(col(id), size(col("toks")).cast("long").as("len"))
    pairs
      .join(lens.select(col(id).as("a_id"), col("len").as("__la")),
        Seq("a_id"))
      .join(lens.select(col(id).as("b_id"), col("len").as("__lb")),
        Seq("b_id"))
      .select(col("a_id"), col("a_pos"), col("b_id"), col("b_pos"),
        least(col("h"), col("__la") - col("a_pos"),
          col("__lb") - col("b_pos")).as("lcp"))
      .filter(col("lcp") >= minLcp)
      .orderBy(col("lcp").desc, col("a_id"), col("a_pos"), col("b_id"),
        col("b_pos"))
      .limit(topK)
  }

  /** Candidate near-dup pairs alone — the maxDf-bounded posting-list
    * stage of [[ngramJaccardPairs]] without the rerank: unordered
    * (a, b) document pairs sharing at least one rare shingle. This IS
    * the duplication-candidate graph ([[graft.ops.Graph.pageRank]]
    * ranks its hubs); pair generation is row-local from sorted posting
    * lists, so no self-join and state bounded by maxDf. */
  def candidatePairs(df: DataFrame, text: String, id: String,
                     k: Int = 5, maxDf: Int = 5): DataFrame = {
    val shD = shinglesFromToks(tokenize(df, text, id), id, k, dedup = false)
      .repartition(col("shingle")).dropDuplicates("shingle", id)
    val dfreq = shD.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
    val rare = dfreq.filter(col("df").between(2, maxDf)).select("shingle")
    val postings = shD.join(rare.hint("shuffle_hash"), Seq("shingle"))
      .groupBy(col("shingle")).agg(sort_array(collect_set(col(id))).as("ids"))
    listPairs(postings).distinct()
  }

  /** CONTAINMENT near-dup pairs — the asymmetric complement of
    * [[ngramJaccardPairs]]: C(a→b) = |Sₐ ∩ S_b| / |Sₐ| scores how much
    * of document a lives inside b, catching full-quote inclusion,
    * article+boilerplate wrappers, and chunk-of-a-larger-doc repeats
    * whose RESEMBLANCE (Jaccard ≈ |Sₐ|/|S_b|) stays under any
    * symmetric threshold when the containing side is much larger.
    * Candidate generation and plan shape are exactly
    * [[ngramJaccardPairs]]'s (maxDf-bounded posting lists, row-local
    * pair expansion, candidate-restricted intersection counts — no
    * self-join, no all-pairs stage); only the rerank formula differs:
    * keep (a, b) iff max(c/nₐ, c/n_b) ≥ `minContainment`, both
    * directions reported in exact basis points (single IEEE divide of
    * exact integers — cross-engine identical, oracle-replayed).
    * Downstream keeps the larger side (the container). */
  def containmentPairs(df: DataFrame, text: String, id: String,
                       k: Int = 5, maxDf: Int = 5,
                       minContainment: Double = 0.9): DataFrame = {
    val shD = shinglesFromToks(tokenize(df, text, id), id, k, dedup = false)
      .dropDuplicates("shingle", id)
      .localCheckpoint()
    val sizes = shD.groupBy(col(id)).agg(count(lit(1)).as("n"))
    val dfreq = shD.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
    val rare = dfreq.filter(col("df").between(2, maxDf)).select("shingle")
    val postings = shD.join(rare.hint("shuffle_hash"), Seq("shingle"))
      .groupBy(col("shingle")).agg(sort_array(collect_set(col(id))).as("ids"))
    val cand = listPairs(postings).distinct().cache()
    val candDocs = cand.select(col("a").as(id))
      .union(cand.select(col("b").as(id))).distinct()
    val shC = shD.join(broadcast(candDocs), Seq(id), "left_semi")
    val interPost = shC.groupBy(col("shingle"))
      .agg(sort_array(collect_set(col(id))).as("ids"))
      .filter(size(col("ids")) >= 2)
    val inter = listPairs(interPost)
      .join(cand, Seq("a", "b"), "left_semi")
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("c"))
    val out = inter
      .join(sizes.select(col(id).as("a"), col("n").as("na")), Seq("a"))
      .join(sizes.select(col(id).as("b"), col("n").as("nb")), Seq("b"))
      .filter(greatest(lit(1.0) * col("c") / col("na"),
        lit(1.0) * col("c") / col("nb")) >= minContainment)
      .select(col("a"), col("b"),
        floor(lit(1.0) * col("c") / col("na") * 10000 + 0.5)
          .cast("long").as("cont_a_bp"),
        floor(lit(1.0) * col("c") / col("nb") * 10000 + 0.5)
          .cast("long").as("cont_b_bp"))
    val snap = out.localCheckpoint()
    cand.unpersist(false)
    snap
  }

  /** EXACT SUBSTRING dedup spans — the "repeated ≥ L-token sequence"
    * pass of published pipeline recipes (suffix-array substring dedup:
    * any sequence appearing more than once in the corpus keeps ONE
    * canonical occurrence; every other occurrence is cut). This is the
    * shuffle-friendly gram-level form of the suffix-array algorithm:
    * every L-token gram is hashed (`md5Hash64`, oracle-replayable), a
    * gram with document frequency ≥ 2 keeps its minimum (doc, pos)
    * occurrence, and all OTHER marked gram starts merge into maximal
    * token spans per document (overlapping or adjacent grams coalesce),
    * which is exactly the token range a suffix-array pass would cut for
    * repeats of length in [L, 2L).
    *
    * Scale shape: one explode + one hash-keyed aggregate for the gram
    * df/keeper (the only corpus-wide shuffle — key space is the gram
    * vocabulary), then three windows ALL partitioned by the document id
    * (previous-max-end, span flag cumsum, span grouping) that share one
    * exchange; marked rows are duplicated-gram occurrences only, far
    * smaller than the corpus. The (doc, pos) keeper is packed as
    * id·2²⁰ + pos for a cross-engine-exact integer min — documents are
    * assumed < 2²⁰ (~10⁶) tokens, true of any pretraining corpus after
    * chunking. Output: (id, span_id, span_start, span_end) — 1-based
    * token intervals [span_start, span_end) to cut, span_id dense per
    * document. */
  def repeatedSpans(df: DataFrame, text: String, id: String,
                    gramLen: Int = 50): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    graft.functions.Md5Hash64Expr.register(df.sparkSession)
    val toks = tokenize(df, text, id)
    val grams = toks.filter(size(col("toks")) >= gramLen)
      .select(col(id),
        explode(sequence(lit(1), size(col("toks")) - (gramLen - 1))).as("pos"),
        col("toks"))
      .select(col(id), col("pos"),
        md5Hash64(concat_ws(" ",
          slice(col("toks"), col("pos"), lit(gramLen)))).as("h"))
    val packed = col(id) * lit(1048576L) + col("pos")
    val dup = grams.groupBy(col("h"))
      .agg(count(lit(1)).as("df"), min(packed).as("keep"))
      .filter(col("df") >= 2)
    val marked = grams.join(dup.select(col("h"), col("keep")), Seq("h"))
      .filter(packed =!= col("keep"))
      .select(col(id), col("pos"))
    mergeSpans(marked, id, gramLen)
  }

  /** Merge marked window starts (1-based `pos`, windows of `spanLen`
    * tokens) into maximal disjoint spans per document — the keyed
    * interval-union window shared by [[repeatedSpans]] and
    * [[cutLongRepeats]]. Output: (id, span_id, span_start, span_end),
    * end exclusive. */
  private def mergeSpans(marked: DataFrame, id: String,
                         spanLen: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(id)).orderBy(col("pos"))
    marked
      .withColumn("__pme", max(col("pos") + spanLen)
        .over(w.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("__ns",
        when(col("__pme").isNull || col("pos") > col("__pme"), 1L)
          .otherwise(0L))
      .withColumn("span_id", sum(col("__ns"))
        .over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col(id), col("span_id"))
      .agg(min(col("pos")).cast("long").as("span_start"),
        (max(col("pos")) + spanLen).cast("long").as("span_end"))
  }

  /** Apply [[repeatedSpans]]: rebuild each document's token stream with
    * every cut span removed (the canonical occurrence, kept by the
    * span marking, survives somewhere in the corpus). Output:
    * (id, cut_md5 = md5 of the space-rejoined surviving tokens,
    * n_tokens_cut) — one row per input document, untouched documents
    * included (their cut_md5 is the rejoined original, so the digest
    * convention is uniform).
    *
    * The token filter is a higher-order lambda (interpreted, not
    * codegen) — acceptable because it is one narrow pass whose
    * per-row work is linear in document length, and the span arrays it
    * probes exist only for marked documents (null for the rest, and
    * the lambda short-circuits on the null guard). A fleet run that
    * measures this projection as a bottleneck would move the cut into
    * `mapPartitions`; the semantics here are the contract. */
  def cutRepeatedSpans(df: DataFrame, text: String, id: String,
                       gramLen: Int = 50): DataFrame =
    applySpanCut(df, text, id, repeatedSpans(df, text, id, gramLen))

  /** Apply a span table: rebuild each document's token stream with
    * every [span_start, span_end) removed and digest the survivors —
    * the shared tail of [[cutRepeatedSpans]] and [[cutLongRepeats]]
    * (see the former's scaladoc for the digest convention and the
    * interpreted-lambda note). */
  private def applySpanCut(df: DataFrame, text: String, id: String,
                           spanTable: DataFrame): DataFrame = {
    val spans = spanTable
      .groupBy(col(id))
      .agg(collect_list(struct(col("span_start"), col("span_end")))
        .as("__spans"))
    val toks = split(col(text), " ")
    val kept = filter(toks, (_, i) =>
      col("__spans").isNull || !exists(col("__spans"), s =>
        (i + 1) >= s.getField("span_start") && (i + 1) < s.getField("span_end")))
    graft.ops.Ops.parallelizeInput(df, col(id))
      .select(col(id), col(text))
      .join(spans, Seq(id), "left")
      .select(col(id),
        md5(concat_ws(" ", kept).cast("binary")).as("cut_md5"),
        (size(toks) - size(kept)).cast("long").as("n_tokens_cut"))
  }

  /** The suffix-array CUT pass — exact-substring dedup's apply step at
    * ANY window length, closing the loop the SA exists for (the
    * published remove-all-but-one-occurrence recipe): every position
    * whose `minLen`-token window occurs elsewhere in the corpus is
    * marked unless it is the window's canonical (minimum (id, pos))
    * occurrence, marks merge to maximal spans, spans are cut and the
    * survivors digested — [[cutRepeatedSpans]] generalized from its
    * fixed-gram hash to the SA's rank tables.
    *
    * Window equality comes from the sparse-table trick: with
    * k = ⌊log₂ minLen⌋, two L-token windows are identical iff their
    * level-k ranks agree at BOTH pos and pos + L − 2ᵏ (the two
    * 2ᵏ-windows cover [pos, pos+L)); both probe positions keep ≥ 2ᵏ
    * remaining tokens whenever pos + L ≤ len, so truncation padding
    * never reaches the key. The mark stage is therefore provably
    * identical to [[repeatedSpans]] at gramLen = minLen (LlmSpec
    * asserts the equivalence) — but each position pays TWO rank
    * lookups however long the window, instead of hashing minLen
    * tokens: the ranks price L out of the per-position work and are
    * shared with every other SA consumer ([[suffixRanks]],
    * [[longestRepeats]]). Scale shape: k denseRank rounds (terasort —
    * never a global window), one keyed group per window key, the
    * span merge keyed per document. */
  def cutLongRepeats(df: DataFrame, text: String, id: String,
                     minLen: Int = 20): DataFrame = {
    require(minLen >= 2, "minLen must be >= 2")
    val k = 63 - java.lang.Long.numberOfLeadingZeros(minLen.toLong)
    val t = suffixRankTables(df, text, id, rounds = k.toInt).last
    val off = minLen - (1 << k)
    // doc lengths from the checkpointed rank table (pos is 0-based and
    // dense per doc) — no second full-text tokenize on warm memo hits
    val lens = t.groupBy(col(id))
      .agg((max(col("pos")) + 1).cast("long").as("__len"))
    val a = t.select(col(id), col("pos"), col("r").as("__ra"))
    val keyed0 =
      if (off == 0) a.withColumn("__rb", col("__ra"))
      else a.join(t.select(col(id), (col("pos") - off).as("pos"),
        col("r").as("__rb")), Seq(id, "pos"))
    val keyed = keyed0.join(lens, Seq(id))
      .filter(col("pos") + minLen <= col("__len"))
      .select(col(id), (col("pos") + 1).as("pos"), col("__ra"), col("__rb"))
    val packed = col(id) * lit(1048576L) + col("pos")
    val dup = keyed.groupBy(col("__ra"), col("__rb"))
      .agg(count(lit(1)).as("df"), min(packed).as("keep"))
      .filter(col("df") >= 2)
    val marked = keyed
      .join(dup.select(col("__ra"), col("__rb"), col("keep")),
        Seq("__ra", "__rb"))
      .filter(packed =!= col("keep"))
      .select(col(id), col("pos"))
    applySpanCut(df, text, id, mergeSpans(marked, id, minLen))
  }

  /** Connected components over near-dup pairs → duplicate clusters:
    * every document labeled with the minimum id in its component, so
    * "keep one per cluster" = keep rows where id == cluster. Output:
    * (id, cluster) for every id appearing in `pairs`.
    *
    * The path follows the pair frame's plan statistics — no size probe.
    * Pairs the statistics put at or below `driverThreshold` (negative:
    * the session's `spark.graft.rerank.driverPairs.max`, the rerank's
    * bound) are collected and merged by a driver-side union-find; a
    * LocalRelation — what the pair sources' driver path returns — is
    * counted exactly and collected without a job. Anything else runs
    * iterative min-label propagation on DataFrames (converges in
    * O(component diameter) rounds — near-dup clusters are shallow),
    * lineage cut per round with localCheckpoint so plans stay bounded.
    * Both give the same min-id labels. */
  def duplicateClusters(pairs: DataFrame, maxIter: Int = 20,
                        driverThreshold: Long = -1L): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    val ab = pairs.select(col("a"), col("b"))
    val bound =
      if (driverThreshold >= 0) driverThreshold
      else math.max(maxDriverPairs(spark), 0).toLong
    // row estimate: the row count when known (local relations report
    // theirs through sizeInBytes, caches once built), else bytes over
    // the row width — without CBO Spark's size estimates only overshoot
    val plan = ab.queryExecution.optimizedPlan
    val rows = plan.stats.rowCount.getOrElse(plan.stats.sizeInBytes /
      org.apache.spark.sql.catalyst.plans.logical.statsEstimation
        .EstimationUtils.getSizePerRow(plan.output))
    if (rows <= bound) {
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent(r)
        var c = x
        while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      ab.as[(Long, Long)].collect().foreach { case (a, b) =>
        parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
      }
      val out = parent.keys.toSeq.sorted.map(n => (n, find(n)))
      return out.toDF("id", "cluster")
    }
    val edges = ab.select(col("a").as("src"), col("b").as("dst"))
      .unionByName(ab.select(col("b").as("src"), col("a").as("dst")))
      .distinct()
    // fleet-scale distributed path: cache edges — every propagation
    // round below re-reads them
    edges.cache()
    var labels = edges.select(col("src").as("n")).distinct()
      .withColumn("label", col("n")).localCheckpoint()
    var changed = 1L
    var i = 0
    while (changed > 0 && i < maxIter) {
      val neighborMin = edges.join(labels, col("dst") === col("n"))
        .groupBy(col("src")).agg(min(col("label")).as("nl"))
      val updated = labels.join(neighborMin,
          labels("n") === neighborMin("src"), "left")
        .select(labels("n"), labels("label"),
          least(labels("label"), coalesce(col("nl"), labels("label"))).as("next"))
        .localCheckpoint()
      changed = updated.filter(col("next") =!= col("label")).count()
      labels = updated.select(col("n"), col("next").as("label"))
      i += 1
    }
    edges.unpersist()
    // silently returning under-merged labels would corrupt downstream
    // "keep one per cluster" dedup — fail loudly instead (components
    // with diameter > maxIter need a larger maxIter)
    if (changed > 0) throw new IllegalStateException(
      s"duplicateClusters: label propagation did not converge in $maxIter rounds")
    labels.select(col("n").as("id"), col("label").as("cluster"))
  }

  /** 64-bit shingle hash derived from md5 — the cross-engine hash (the
    * DuckDB oracle recomputes it as two hex-parsed 32-bit halves).
    * xxhash64 would be ~3× faster but is Spark-only, which demotes the
    * whole operator to a rows-only check; the native
    * [[graft.functions.Md5Hash64Expr]] reads the digest bytes directly,
    * skipping the hex-string materialize/parse of the composable form. */
  def md5Hash64(s: Column): Column =
    graft.functions.Md5Hash64Expr.of(s.cast("binary"))

  /** 64-bit SimHash over word k-shingles: per-bit majority vote of
    * md5-derived shingle hashes (one custom aggregate, one shuffle). */
  def simhash(df: DataFrame, text: String, id: String, k: Int = 2): DataFrame = {
    graft.functions.SimhashAgg.register(df.sparkSession)
    graft.functions.Md5Hash64Expr.register(df.sparkSession)
    shinglesFromToks(tokenize(df, text, id), id, k)
      .withColumn("h", md5Hash64(col("shingle")))
      .groupBy(col(id))
      .agg(graft.functions.SimhashAgg.simhashOf(col("h")).as("simhash"))
  }

  /** SimHash near-dup pairs: candidates share one of `bands` equal-width
    * bit bands — by pigeonhole, any pair within Hamming distance
    * `bands − 1` must agree on ≥1 band — then exact Hamming filter.
    * More bands ⇒ higher detectable distance but coarser keys (bigger
    * candidate buckets): 4×16-bit for tight dedup at corpus scale,
    * 8×8-bit when documents are long enough that near-dups drift
    * several bits. */
  def simhashPairs(sims: DataFrame, id: String, maxHamming: Int = 7,
                   bands: Int = 8): DataFrame = {
    require(64 % bands == 0 && maxHamming < bands,
      "need bands | 64 and maxHamming < bands for the pigeonhole guarantee")
    val width = 64 / bands
    val mask = if (width == 64) -1L else (1L << width) - 1
    // single-pass banding via posexplode (see lshCandidatePairs)
    val keys = array((0 until bands).map(b =>
      shiftrightunsigned(col("simhash"), b * width).bitwiseAND(mask)): _*)
    val banded = sims.select(col(id), col("simhash"),
      posexplode(keys).as(Seq("band", "key")))
    val l = banded.select(col(id).as("a"), col("band"), col("key"), col("simhash").as("sa"))
    val r = banded.select(col(id).as("b"), col("band"), col("key"), col("simhash").as("sb"))
    l.join(r, Seq("band", "key")).filter(col("a") < col("b"))
      .select(col("a"), col("b"),
        bit_count(col("sa").bitwiseXOR(col("sb"))).cast("long").as("hamming")).distinct()
      .filter(col("hamming") <= maxHamming)
  }
}
