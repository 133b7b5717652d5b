package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The end-to-end curation pipeline — the composition a real
  * training-data run executes, as ONE declarative plan: markup strip →
  * PII redaction → quality gate → exact dedup → deterministic shuffle.
  * Each stage is an existing oracle-checked operator; composing them in
  * a single DataFrame expression lets Catalyst pipeline the three
  * narrow text transforms into one scan pass, with only the gate's
  * gram aggregate, the dedup aggregate and the per-shard rank windows
  * as wide stages.
  *
  * Stage order is load-bearing: dedup runs on the CLEANED, REDACTED
  * text (two raw documents that differ only in markup or in the PII
  * they leak are the same training document), and the gate judges the
  * text the model would actually train on.
  */
object Curation {

  /** Materialization strategy for the pipeline's shared intermediates.
    * Batch entry points use [[LocalCheckpoint]] (lineage-truncating;
    * blocks are freed when the RDD is GC'd — fine for a finite job).
    * [[graft.streaming.Streaming.curationStream]] runs the stage once
    * per micro-batch FOREVER, so it uses a [[TrackedPersist]] and
    * releases every block at the end of each batch — otherwise
    * executor block storage grows for the life of the stream. */
  private[graft] sealed trait Materializer {
    def apply(df: DataFrame): DataFrame
    def releaseAll(): Unit
  }

  /** Batch default: eager lineage-truncating local checkpoint. */
  private[graft] object LocalCheckpoint extends Materializer {
    def apply(df: DataFrame): DataFrame = df.localCheckpoint()
    def releaseAll(): Unit = ()
  }

  /** Streaming: eager persist, tracked so the caller can release every
    * intermediate at the end of the micro-batch. MEMORY_AND_DISK (not
    * localCheckpoint) — persisted blocks survive recompute on executor
    * loss, which a long-running stream will eventually see. */
  private[graft] final class TrackedPersist extends Materializer {
    private val frames = scala.collection.mutable.Buffer.empty[DataFrame]
    def apply(df: DataFrame): DataFrame = {
      val p = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // LAZY, unlike localCheckpoint: the micro-batch body consumes
      // each persisted frame sequentially, so the first consumer
      // materializes the cache and the rest reuse it — an eager
      // count() here just added one job per persist per batch
      // (measured ~0.5 s/batch across the four persists at sf0.1)
      frames.synchronized { frames += p }
      p
    }
    def releaseAll(): Unit = frames.synchronized {
      frames.foreach(_.unpersist(blocking = false)); frames.clear()
    }
  }

  /** The clean stage (strip + redact), materialized once — its three
    * gate consumers re-run the 11-step regex chain otherwise (measured
    * 1.99 → 1.46 s at sf0.1). Shared by every entry point below so the
    * batch, audit and streaming paths cannot drift. Executor-local
    * materialization is the single-job trade-off: a fleet-scale run
    * would persist the cleaned text to the lake (one parquet write)
    * and fan consumers out from that table instead of executor-local
    * storage. */
  private def cleanedText(df: DataFrame, text: String, id: String,
                          mat: Materializer): DataFrame = {
    // the fused clean expression (r19): one String materialization and
    // gated regex passes instead of the 13-node chain — byte-identical
    // to redactText(stripMarkupText(_)), pinned by CleanTextSpec
    graft.functions.CleanTextExpr.register(df.sparkSession)
    mat(graft.ops.Ops.parallelizeInput(df, col(id))
      .select(col(id),
        graft.functions.CleanTextExpr.of(col(text)).as(text)))
  }

  /** Gate verdicts over the cleaned text: (id, reasons, keep),
    * materialized — the frame is tiny (three columns) and every caller
    * fans it into ≥ 2 consumers, each of which would otherwise re-run
    * the gate's gram aggregate over the whole corpus. */
  private def gateVerdicts(cleaned: DataFrame, text: String, id: String,
                           mat: Materializer): DataFrame =
    mat(TextAnalysis.qualityGate(cleaned, text, id)
      .select(col(id), col("reasons"), col("keep")))

  /** The per-batch stage SHARED by [[pipeline]], [[audit]] and
    * [[graft.streaming.Streaming.curationStream]] (one definition, so
    * their equivalence specs are structural, not coincidental):
    * clean → gate → the gate-kept rows' digests. Output:
    * (id[, text], clean_md5[, h64]), checkpointed — every caller fans
    * it into multiple consumers (keeper aggregate, bloom build,
    * joins). `h64` (the Bloom probe key) is computed only when asked
    * for — the batch paths never use it. `withText` carries the
    * CLEANED text through (the classifier-gated paths score it; the
    * plain paths drop it before the checkpoint). */
  private[graft] def cleanGateDigest(df: DataFrame, text: String, id: String,
                                     withH64: Boolean = false,
                                     mat: Materializer = LocalCheckpoint,
                                     withText: Boolean = false): DataFrame = {
    val cleaned = cleanedText(df, text, id, mat)
    val gate = gateVerdicts(cleaned, text, id, mat)
    val digests = (if (withText) Seq(col(text)) else Seq.empty) ++
      Seq(md5(col(text).cast("binary")).as("clean_md5")) ++
      (if (withH64) { // registered lazily: only the streaming path needs it
        graft.functions.Md5Hash64Expr.register(df.sparkSession)
        Seq(Dedup.md5Hash64(col(text)).as("h64"))
      } else Seq.empty)
    mat(cleaned.join(gate.filter(col("keep")).select(col(id)), Seq(id))
      .select(col(id) +: digests: _*))
  }

  /** Exact-dedup keeper rule, shared for the same reason: keep the
    * minimum id per cleaned-text digest — one window over the digest
    * partition, so `kept` is read once and shuffled once. */
  private[graft] def keepMinPerDigest(kept: DataFrame, id: String): DataFrame =
    kept.withColumn("__min", min(col(id)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("clean_md5"))))
      .filter(col("clean_md5").isNotNull && col(id) === col("__min"))
      .drop("__min")

  /** A near-dup candidate-pair generator for [[pipelineNearDup]]'s
    * fuzzy stage: (exact-surviving docs with cleaned `text`, text col,
    * id col) → (a, b[, …]) pairs, a < b. The hook is what makes the
    * documented fleet-scale swap a config change, not a fork. */
  type PairSource = (DataFrame, String, String) => DataFrame

  /** The default pair source: exact n-gram Jaccard with maxDf-bounded
    * posting-list candidates — exhaustive recall up to the maxDf cap,
    * right for corpora where the rare-shingle assumption holds. */
  def defaultPairSource(k: Int = 5, maxDf: Int = 5,
                        minJaccard: Double = 0.5): PairSource =
    (d, t, i) => Dedup.ngramJaccardPairs(d, t, i, k, maxDf, minJaccard)

  /** The fleet-scale pair source: banded MinHash-LSH candidates +
    * exact Jaccard rerank ([[Dedup.minhashLshReranked]]) — no maxDf
    * recall cliff, sketch-width shuffle at the candidate stage. */
  def lshPairSource(shingleK: Int = 5, numPerms: Int = 8, bands: Int = 4,
                    minJaccard: Double = 0.5): PairSource =
    (d, t, i) => Dedup.minhashLshReranked(d, t, i, shingleK, numPerms,
      bands, minJaccard)

  /** Run the pipeline; one output row per SURVIVING document:
    * (id, clean_md5 = md5 of the cleaned text, order_key, shard, pos)
    * — the assembled training corpus in its reproducible read order.
    * Dropped documents (gate failures, non-keeper duplicates) simply
    * don't appear; [[audit]] is the companion that attributes every
    * removal. */
  def pipeline(df: DataFrame, text: String, id: String,
               shards: Int = 8): DataFrame = {
    val kept = cleanGateDigest(df, text, id)
    val survivors = keepMinPerDigest(kept, id)
    Sampling.shuffleOrder(survivors.select(col(id), col("clean_md5")),
        col(id), shards)
      .select(col(id), col("clean_md5"), col("order_key"), col("shard"),
        col("pos"))
  }

  /** [[pipeline]] with a FUZZY dedup stage appended — the shape real
    * corpus curation runs (C4/RefinedWeb-style): after the exact
    * min-id keeper, near-duplicate clusters over the cleaned surviving
    * text (n-gram Jaccard candidate pairs, connected components) are
    * collapsed to their min-id representative, then the survivors get
    * the deterministic shuffle order. Exact-first ordering is
    * load-bearing for cost: byte-identical copies never reach the
    * shingle shuffle. The fuzzy stage is the exact-Jaccard primitive
    * ([[Dedup.ngramJaccardPairs]] — posting-list candidates bounded by
    * maxDf, no self-join) and the CC keeper is
    * [[Dedup.duplicateClusters]]' min-label (driver union-find under
    * 1M edges, distributed propagation above); at fleet scale pass
    * `pairSource = Curation.lshPairSource(...)` —
    * [[Dedup.minhashLshReranked]]'s banded-sketch candidates + exact
    * rerank under the SAME composition (oracle-proven by the
    * `llm_curation_neardup_lsh` registry row, not just promised).
    * Output: (id, clean_md5, order_key, shard, pos), one row per
    * surviving document.
    *
    * Cost profile: at the sizes tests and benches run, Spark jobs, not
    * data, set the cost — each job is a scheduling and AQE stage-wait
    * round trip — so every intermediate is computed once and no action
    * runs only to measure a size. The exact survivors are checkpointed
    * once and read by both the shingle pass and the final survivor
    * join. Per collected run with a driver-sized pair set (CurationSpec
    * corpus, default pair source): clean 2 jobs (1 when the input
    * already has the session's width), gate + exact keeper 6, pairs 5
    * (posting lists with their candidate bound, the list pull, the
    * rerank), clusters 0 (the rerank's pairs arrive as a LocalRelation)
    * and the caller's collect 3 — 16 in all (CurationSpec pins the
    * budget). Above the driver-pairs bound the pair and cluster stages
    * go fully distributed ([[Dedup.duplicateClusters]]). */
  def pipelineNearDup(df: DataFrame, text: String, id: String,
                      shards: Int = 8, k: Int = 5, maxDf: Int = 5,
                      minJaccard: Double = 0.5,
                      pairSource: PairSource = null): DataFrame = {
    // phase labels (guide §1.5) are what lets BenchProfile attribute
    // the EAGER stages; the caller's own description comes back after
    val sc = df.sparkSession.sparkContext
    def phase[T](p: String)(f: => T): T = {
      val prev = sc.getLocalProperty("spark.job.description")
      sc.setJobDescription(s"neardup:$p")
      try f finally sc.setJobDescription(prev)
    }
    // clean-stage checkpoint kept: an r19 A/B with NoMaterialize
    // (recompute the fused clean in both consumers) measured SLOWER
    // (7.97 vs 6.96 s BenchOne min) — the stage's parallelizeInput
    // repartition re-runs per consumer and costs more than the
    // materialization
    val cleaned = phase("clean-ckpt")(
      cleanedText(df, text, id, LocalCheckpoint))
    // the gate has exactly ONE consumer here (the keep filter), so the
    // gateVerdicts checkpoint would be a wasted corpus-wide
    // materialization — same rule, no checkpoint
    val gate = TextAnalysis.qualityGate(cleaned, text, id)
      .select(col(id), col("keep"))
    // the exact survivors WITH their text, materialized once: the
    // fuzzy stage shingles them and the final survivor join reads them.
    // The keeper's shuffle takes an explicit partition count, which AQE
    // leaves uncoalesced, so the checkpoint keeps the session's width
    // and its narrow consumers need no repartition of their own
    val exactSurv = phase("gate+kept-ckpt")(keepMinPerDigest(cleaned
      .join(gate.filter(col("keep")).select(col(id)), Seq(id))
      .select(col(id), col(text),
        md5(col(text).cast("binary")).as("clean_md5"))
      .repartition(df.sparkSession.sessionState.conf.numShufflePartitions,
        col("clean_md5")), id)
      .localCheckpoint())
    val src = if (pairSource != null) pairSource
      else defaultPairSource(k, maxDf, minJaccard)
    val pairs = phase("pairs")(
      src(exactSurv, text, id).select(col("a"), col("b")))
    // cluster label IS the min id — every non-label member drops
    val fuzzyDrops = phase("cc")(Dedup.duplicateClusters(pairs))
      .filter(col("id") =!= col("cluster"))
      .select(col("id").as(id))
    val survivors = exactSurv.join(fuzzyDrops, Seq(id), "left_anti")
      .select(col(id), col("clean_md5"))
    Sampling.shuffleOrder(survivors, col(id), shards)
      .select(col(id), col("clean_md5"), col("order_key"), col("shard"),
        col("pos"))
  }

  /** [[pipeline]] with the MODEL-BASED quality filter chained after
    * the heuristic gate — the published two-stage shape (cheap
    * heuristics first, the classifier only on their survivors). The
    * classifier ([[TextAnalysis.classifierScore]]) scores the CLEANED
    * text of gate-kept documents against the broadcast
    * (bucket → weight) model; negative-logit docs drop before the
    * dedup keeper, so copies of a rejected doc never reach the digest
    * aggregate. Output shape identical to [[pipeline]].
    *
    * 100 TB story: unchanged from [[pipeline]] plus the classifier's
    * narrow feature explode + broadcast model join, run over the
    * already gate-reduced survivor set — the model is a few MB
    * however big the corpus, and only (doc, partial-sum) rows cross
    * its exchange.
    *
    * Keeper stability: byte-identical cleaned copies hash to identical
    * features, hence identical logits — copies always agree with their
    * base, so the classifier can never strand a digest group by
    * rejecting its min-id keeper while keeping a copy. That is what
    * makes the streamed form ([[graft.streaming.Streaming
    * .curationStream]] with `classifier` set) equal this batch
    * composition under any arrival order. */
  def pipelineClassified(df: DataFrame, text: String, id: String,
                         weights: DataFrame, width: Int,
                         shards: Int = 8): DataFrame = {
    val kept = classifierKept(
      cleanGateDigest(df, text, id, withText = true), text, id,
      weights, width)
    val survivors = keepMinPerDigest(kept, id)
    Sampling.shuffleOrder(survivors.select(col(id), col("clean_md5")),
        col(id), shards)
      .select(col(id), col("clean_md5"), col("order_key"), col("shard"),
        col("pos"))
  }

  /** The classifier stage shared by [[pipelineClassified]] and the
    * streamed form: score the carried cleaned text, keep non-negative
    * logits, drop the text column. Input must be a
    * `cleanGateDigest(withText = true)` frame. */
  private[graft] def classifierKept(kept0: DataFrame, text: String,
                                    id: String, weights: DataFrame,
                                    width: Int): DataFrame = {
    val clfKept = TextAnalysis.classifierScore(kept0, text, id,
        weights, width)
      .filter(col("keep")).select(col(id))
    kept0.join(clfKept, Seq(id)).drop(text)
  }

  /** Epoch assembly as ONE plan — the last seam of the training-data
    * story fused: survivors (clean → gate → exact min-id keeper) →
    * deterministic shuffle order ([[Sampling.shuffleOrder]]) → greedy
    * context-window packing ([[Chunking.packSequences]]) in the
    * training read order (pos within shard). Output: (id, clean_md5,
    * order_key, shard, pos, n_tokens, cum_tokens, bin, bin_offset) —
    * every surviving document with its shard, read position, and the
    * exact context-window bin its first token falls into.
    *
    * 100 TB story: the two wide stages after the keeper are BOTH
    * per-shard windows over the SAME partitioning key — the rank that
    * assigns `pos` and the running token sum that assigns `bin` share
    * one hash exchange on `shard` (Catalyst plans a single Exchange
    * feeding two Window operators), so no global sort and no
    * single-partition stage ever materializes; each shard's window
    * sorts |corpus|/shards rows. Token counts are a narrow projection
    * of the cleaned text carried through the keeper. */
  def epochAssembly(df: DataFrame, text: String, id: String,
                    shards: Int = 8, budget: Long = 2048L): DataFrame = {
    val cleaned = cleanedText(df, text, id, LocalCheckpoint)
    // one consumer (the keep filter) — same no-checkpoint rule as
    // pipelineNearDup's gate
    val gate = TextAnalysis.qualityGate(cleaned, text, id)
      .select(col(id), col("keep"))
    val keptTxt = cleaned
      .join(gate.filter(col("keep")).select(col(id)), Seq(id))
      .select(col(id), col(text),
        md5(col(text).cast("binary")).as("clean_md5"))
    val survivors = keepMinPerDigest(keptTxt, id)
      .select(col(id), col("clean_md5"),
        TextAnalysis.tokenCount(col(text)).cast("long").as("n_tokens"))
    val ordered = Sampling.shuffleOrder(survivors, col(id), shards)
    Chunking.packSequences(ordered, col("n_tokens"), budget,
        order = Seq(col("pos")), shard = Seq(col("shard")))
      .select(col(id), col("clean_md5"), col("order_key"), col("shard"),
        col("pos"), col("n_tokens"), col("cum_tokens"), col("bin"),
        col("bin_offset"))
  }

  /** Drop forensics for the pipeline — one row per INPUT document
    * (where [[pipeline]] emits only survivors): the gate's reason
    * bitmask, the keeper it duplicated (null unless dropped as a
    * duplicate), and the final verdict. This is the audit table a
    * curation run ships alongside the corpus: every removal is
    * attributable to a rule bit or a keeper id. Built from the same
    * shared clean/gate stages as the pipeline, plus one keeper join
    * back onto the full gate output. Output: (id, reasons, keep,
    * dup_of, survived). */
  def audit(df: DataFrame, text: String, id: String): DataFrame = {
    val cleaned = cleanedText(df, text, id, LocalCheckpoint)
    val gate = gateVerdicts(cleaned, text, id, LocalCheckpoint)
    val kept = cleaned.join(gate.filter(col("keep")).select(col(id)), Seq(id))
      .select(col(id), md5(col(text).cast("binary")).as("clean_md5"))
      .localCheckpoint() // two consumers below re-hash the text otherwise
    val keepers = kept.groupBy(col("clean_md5"))
      .agg(min(col(id)).as("__keeper"))
    val dupOf = kept.join(keepers, Seq("clean_md5"))
      .select(col(id),
        when(col("__keeper") =!= col(id), col("__keeper")).as("dup_of"))
    gate.join(dupOf, Seq(id), "left")
      .select(col(id), col("reasons"), col("keep"), col("dup_of"),
        (col("keep") && col("dup_of").isNull).as("survived"))
  }

  /** Assembly-time keeper reconciliation for
    * [[graft.streaming.Streaming.curationStream]] output: the stream's
    * cross-batch keeper is FIRST ARRIVAL, which equals the batch
    * pipeline's min-id keeper only when arrival order is id order.
    * This pass re-keys every surviving digest to the GLOBAL min id —
    * recoverable because the stream's digest index records each
    * batch's within-batch min id per digest — so the assembled corpus
    * is byte-equal to [[pipeline]]'s under any arrival order. One
    * keyed aggregate over the sketch-width index plus a semi-join
    * against the survivor digests (defensive: a crash between the two
    * sink writes can briefly leave the sets unequal until the batch
    * retries). Output: (id, clean_md5), one row per surviving digest —
    * feed it to [[Sampling.shuffleOrder]] for the training read order,
    * exactly like the batch pipeline does.
    *
    * `compactSurvivors` makes the stream's documented "compact the
    * survivors table at assembly time, if at all" rule executable:
    * before the keeper pass, the per-batch survivors partitions are
    * rewritten through [[graft.streaming.Streaming.compactIndex]]
    * into sealed size-targeted generations (set-equal by construction
    * — the table is a set and compaction only dedups + repartitions),
    * so a 10⁵-batch survivors sink is read here and by every epoch
    * thereafter as a handful of right-sized files instead of 10⁵
    * directories. Assembly time is the right moment: it is the first
    * full read of the table, and per-N-batches compaction of the
    * corpus itself would rewrite corpus bytes continuously. */
  def reconcile(spark: org.apache.spark.sql.SparkSession,
                survivorsDir: String, indexDir: String,
                id: String,
                compactSurvivors: Boolean = false): DataFrame = {
    if (compactSurvivors)
      graft.streaming.Streaming.compactIndex(spark, survivorsDir)
    // fail loudly on an index dir with pre-`id` partitions: a picked or
    // merged footer would otherwise read old partitions' `id` as null
    // and the min(id) keeper below would be silently wrong
    graft.streaming.Streaming.assertIndexSchema(spark, indexDir,
      Seq(id, "clean_md5"))
    val keepers = spark.read.parquet(indexDir)
      .groupBy(col("clean_md5")).agg(min(col(id)).as(id))
    val survived = spark.read.parquet(survivorsDir)
      .select(col("clean_md5")).distinct()
    keepers.join(survived, Seq("clean_md5"), "left_semi")
      .select(col(id), col("clean_md5"))
  }

  /** Compose every planting rule (markup + PII + repetition + exact
    * copies at `id + copyOffset` for each `id % copyEvery = 0`) so one
    * corpus exercises every pipeline stage. `copyOffset` must preserve
    * id mod {3,4,5,6,7,11} — the plant moduli — so a copy gets
    * byte-identical decorations and BECOMES an exact duplicate after
    * redaction (the id-derived PII differs, but redaction collapses
    * it); 924000 = lcm(3,4,5,6,7,11)·200 does, and keeps copy ids
    * disjoint from base ids at any test SF. */
  /** Planted-corpus memo (the pairsMemo contract): seven registry rows
    * build the SAME planted corpus from the same input — without the
    * memo each pays the min/max alias-guard job plus a re-execution of
    * the regex-heavy plant chain inside its own pipeline. Keyed by
    * session + params, guarded by plan equality, served as an eager
    * localCheckpoint so downstream pipelines read materialized rows. */
  private val plantMemo =
    new graft.ops.PlanMemo[(Int, String, String, Int, Long), DataFrame]()

  def withPlantedEverything(df: DataFrame, text: String, id: String,
                            copyEvery: Int = 10,
                            copyOffset: Long = 924000L): DataFrame =
    plantMemo.getOrCompute(
      (System.identityHashCode(df.sparkSession), text, id,
        copyEvery, copyOffset), df) {
      plantedEverythingUncached(df, text, id, copyEvery, copyOffset)
        .localCheckpoint()
    }

  /** Visible to PlanShapeSpec: the memo's checkpoint hides the plant
    * chain's plan from the registry sweep, so the sweep inspects the
    * UNCACHED form directly. */
  private[graft] def plantedEverythingUncached(df: DataFrame, text: String,
                                               id: String, copyEvery: Int,
                                               copyOffset: Long): DataFrame = {
    // guard the protocol's one unstated assumption: no planted copy id
    // (id + copyOffset) may alias a REAL document id, or the plant
    // corrupts silently. Two-tier, both bounded driver pulls: if the id
    // RANGE is narrower than the offset no alias is possible (one
    // shuffle-free min/max scan — the common case); otherwise check
    // exactly with an equi-join — replicated probe corpora have sparse
    // ids far above the offset that still don't alias, and the exact
    // fallback keeps them legal where a plain max(id) < offset would not
    val mm = df.agg(min(col(id).cast("long")), max(col(id).cast("long"))).head
    val rangeSafe = mm.isNullAt(0) || mm.getLong(1) - mm.getLong(0) < copyOffset
    if (!rangeSafe) {
      val aliased = df.select(col(id).cast("long").as("__i"))
        .join(df.filter(pmod(col(id), lit(copyEvery)) === 0)
          .select((col(id).cast("long") + copyOffset).as("__i")),
          Seq("__i"), "left_semi")
        .limit(1).count()
      require(aliased == 0L,
        s"withPlantedEverything: some $id + copyOffset=$copyOffset aliases a real id — planted copies would overwrite real documents")
    }
    val withCopies = df.select(col(id), col(text))
      .unionByName(df.filter(pmod(col(id), lit(copyEvery)) === 0)
        .select((col(id) + copyOffset).as(id), col(text)))
    TextAnalysis.withPlantedRepetition(
      TextAnalysis.withPlantedPii(
        TextAnalysis.withPlantedMarkup(withCopies, text, id), text, id),
      text, id, every = 6)
  }
}
