package graft.v3

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.plans.DataSkipping

/** The event lake: one directory per table, parquet inside, partitioned
  * by `chain_name`.
  *
  * The reference models a table as a flat glob of segment files named
  * `{idx}_{minBlock}_{maxBlock}_{table}.parquet` and rescans everything
  * on every read (reference v3/helpers/data_update.py:29–59,
  * v3/state.py:130). Spark-first redesign:
  *
  *  - `chain_name=` hive partitioning → directory-level pruning for the
  *    per-chain filters every reference query starts with (SURVEY.md §4
  *    "file skipping"), and `drop(chain)` becomes a partition delete
  *    instead of the reference's delete-whole-file-if-any-row-matches
  *    footgun (pool_helpers.py:218–231).
  *  - block-range file skipping comes free from parquet min/max column
  *    stats on `block_number`, so the filename index header (S7) is
  *    unnecessary.
  *  - appends are `mode("append")` atomic-enough part files; segment
  *    bookkeeping lives in the ingest loop, not in filenames.
  */
object Lake {
  /** The highest manifest reader-protocol version this build
    * understands — the published formats' minReaderVersion gate at
    * its smallest. Checkpoint manifests record the version the table
    * REQUIRES as a `#minReader=N[ feature]` header; a build whose
    * supported version is lower refuses the table loudly
    * ([[requireReadable]]) instead of silently misreading a
    * convention it predates.
    *
    * Version history: 1 = every pre-r18 convention (delta bodies,
    * `#ts`/`#op`/`#txn`/`#inc` heads, retention floors, stats
    * sidecars) — all SKIP-SAFE for older parsers (heads are ignored,
    * delta bodies are versioned by file NAME, sidecars are derived
    * caches). 2 = DELETION VECTORS (`#dv` body lines, [[Dv]]): the
    * first convention that is NOT skip-safe — a v1 parser ignoring
    * the `#dv` lines would silently RESURRECT deleted rows — so every
    * commit published while the table's dv map is non-empty stamps
    * `#minReader=2 deletion-vectors` (deltas included: any fold whose
    * chain contains dv state reads at least one gated body). Tables
    * without vectors keep stamping 1, so v1 readers interoperate
    * until the first merge-on-read delete. */
  val SupportedReaderVersion: Long = 2L

  /** The writer-protocol twin ([[requireWritable]]): a build whose
    * supported writer version is below the table's `#minWriter=N`
    * must not WRITE the table — the failure mode is worse than the
    * reader's: an old writer's compaction that ignores deletion
    * vectors rewrites the file WITHOUT the vector's exclusions and
    * drops the reference, resurrecting deleted rows durably for
    * every future reader. Version 2 = deletion vectors (the gate is
    * stamped on every commit while the dv map is non-empty and
    * checked against the LATEST commit's heads before any write
    * transaction lands). */
  val SupportedWriterVersion: Long = 2L

  /** The reader-protocol gate: scan a manifest body's LEADING header
    * lines for `#minReader=N[ feature]` and refuse when N exceeds
    * [[SupportedReaderVersion]], naming the recorded feature. Bodies
    * without the header (pre-gate tables, delta commits) pass. */
  private[v3] def requireReadable(table: String, name: String,
                                  body: String): Unit = {
    var i = 0
    while (i < body.length && body.charAt(i) == '#') {
      val e = body.indexOf('\n', i)
      val line = if (e < 0) body.substring(i) else body.substring(i, e)
      if (line.startsWith("#minReader=")) {
        val rest = line.stripPrefix("#minReader=")
        val cut = rest.indexOf(' ')
        val (numStr, feature) =
          if (cut < 0) (rest, "") else (rest.substring(0, cut),
            rest.substring(cut + 1).trim)
        // an unparsable number is itself a newer convention: refuse
        val n = numStr.trim.toLongOption.getOrElse(Long.MaxValue)
        if (n > SupportedReaderVersion) throw new IllegalStateException(
          s"manifest $name of $table requires reader protocol " +
            s"version ${numStr.trim}" +
            (if (feature.nonEmpty) s" (feature: $feature)" else "") +
            s", but this build supports $SupportedReaderVersion - " +
            "upgrade before reading this table; refusing rather than " +
            "misreading a convention this parser predates")
      }
      i = if (e < 0) body.length else e + 1
    }
  }

  /** Parsed leading headers of one commit: `ts` = -1 encodes "no ts
    * header", `op`/`txn` "" = none; `minWriter` = -1 none (pre-gate
    * commit = version 1 by construction); `dvs` = the RESULTING
    * deletion-vector count the commit left the table with (0 = none —
    * the flag that lets dv-less tables skip every dv body read);
    * `dvc` = this DELTA commit carries `#dv+=`/`#dv-=` change lines. */
  private[v3] case class Heads(ts: Long, op: String, txn: String,
                               minWriter: Long, minWriterFeature: String,
                               dvs: Long, dvc: Boolean) {
    def tsOpt: Option[Long] = if (ts < 0L) None else Some(ts)
  }

  private[v3] object Heads {
    /** A commit written before the headers existed. */
    val none: Heads = Heads(-1L, "", "", -1L, "", 0L, dvc = false)
  }

  /** What the per-commit cache keeps of one commit: its heads, and the
    * bytes a DELTA commit added (None for a checkpoint — its change is
    * a full-set diff). */
  private[v3] case class CommitInfo(heads: Heads, addedBytes: Option[Long])

  /** Result accounting for one [[Lake.upsert]]: how much of the table
    * the merge actually rewrote — the ScaleProbe contract is that
    * `rewrittenBytes` tracks TOUCHED files, not touched chains. */
  case class UpsertStats(chainFiles: Int, touchedFiles: Int,
                         rewrittenBytes: Long, landedFiles: Int)

  /** Accounting for one pruned read: how much of the table the plan
    * actually scheduled. */
  case class ScanStats(files: Int, scanned: Int, scannedBytes: Long,
                       totalBytes: Long)

  /** Accounting for one [[Lake.vacuum]] run. */
  case class VacuumStats(manifestsDeleted: Int, filesDeleted: Int,
                         bytesFreed: Long)

  /** One file of a change-feed side, with its deletion-vector read
    * shape: `exclude` = the vector current for the file AT the side's
    * version (already-deleted rows must not re-emit); `include` =
    * materialized positions (churn-sized diff — "rows newly deleted
    * by this commit" / "rows a restore resurrected") — when set, ONLY
    * those rows read. At most one of the two is set. */
  private[graft] case class ChangeFile(chain: String, path: String,
      bytes: Long, exclude: Option[Dv.Ref] = None,
      include: Option[Array[Long]] = None)

  /** What a [[Lake.txn]] body commits: the files it landed (rel → bytes),
    * the rels it removes, its new or replaced deletion vectors and
    * explicit vector drops (restore), extra commit heads (`#txn=`),
    * the step that runs under the lock after the publish (retire or
    * delete replaced files, drop emptied chain dirs), and the step
    * that rolls back the body's side effects when the fence or the
    * publish fails (only schema creation has any; landed data files
    * stay invisible orphans for [[Lake.vacuum]]'s sweep). */
  private case class Commit(added: Seq[(String, Long)] = Seq.empty,
                            removed: Set[String] = Set.empty,
                            dvChanges: Map[String, Dv.Ref] = Map.empty,
                            dvDrops: Set[String] = Set.empty,
                            heads: Seq[String] = Seq.empty,
                            after: () => Unit = () => (),
                            undo: () => Unit = () => ())

  /** A write lost the optimistic-concurrency race: another writer's
    * commit retired files this write had planned against. The write
    * changed NOTHING (staged output discarded, no manifest published);
    * re-plan against the current table state and retry. */
  class ConcurrentWriteException(msg: String)
    extends java.io.IOException(msg)

  /** Is `t` a lost optimistic-concurrency race in either of its two
    * manifestations — the commit-time [[ConcurrentWriteException]],
    * or a file-not-found surfaced from the loser's unlocked staging
    * scan racing the winner's post-publish delete (Spark wraps the
    * task failure, so the cause chain is walked, bounded against
    * cycles)?
    *
    * A file-not-found counts ONLY when the missing path is under
    * `lakeRoot` — only lake-managed files can vanish to a racing
    * writer's post-publish delete. A FNF naming a foreign path
    * (a bad source path, an externally deleted input the batch
    * DataFrame reads) is genuinely missing data: retrying it would
    * burn every attempt with backoff sleeps re-planning against the
    * same absent file before surfacing the real error. A FNF carrying
    * NO message at all (some streams throw the bare constructor) is
    * classified retryable: this predicate only ever runs on a failure
    * surfaced from a lake operation, and misclassifying a real race
    * as permanent kills a stream, while the converse merely burns the
    * bounded retries before surfacing the genuine error. CAVEAT: the
    * containment test is a message-substring match, so a pathologically
    * short root ("/", "/tmp") over-matches foreign paths — deploy lakes
    * under a dedicated directory, as every probe and spec here does. */
  def isRetryableRace(t: Throwable, lakeRoot: String): Boolean = {
    // the lake root appears in task-failure messages either raw
    // ("/tmp/x/lake/...") or scheme-qualified ("file:/tmp/x/lake/...")
    val deScheme = lakeRoot.replaceFirst("^[A-Za-z][A-Za-z0-9+.-]*:(//)?", "")
    def underRoot(msg: String): Boolean =
      msg != null && (msg.contains(lakeRoot) ||
        (deScheme.nonEmpty && msg.contains(deScheme)))
    var cur = t
    var depth = 0
    while (cur != null && depth < 20) {
      cur match {
        case _: ConcurrentWriteException => return true
        case e: java.io.FileNotFoundException
            if e.getMessage == null || underRoot(e.getMessage) =>
          return true
        // a Spark job failure whose winning task reported the scan's
        // missing file by error class; the FNF cause itself can be
        // absent when a KILLED sibling's failure is what propagated.
        // PATH_NOT_EXIST is the same race one step earlier: the loser
        // PLANS a read over files the winner's post-publish delete
        // already removed, so the analyzer (not a task) reports the
        // missing lake path — compact/clusterCompact's per-bin
        // spark.read over planned paths surfaces exactly this shape
        case e if e.getMessage != null &&
          (e.getMessage.contains("FAILED_READ_FILE.FILE_NOT_EXIST") ||
            e.getMessage.contains("PATH_NOT_FOUND")) &&
          underRoot(e.getMessage) =>
          return true
        case _ => ()
      }
      cur = if (cur.getCause eq cur) null else cur.getCause
      depth += 1
    }
    false
  }
}

class Lake(spark: SparkSession, val root: String) {
  import Lake.{ChangeFile, Commit, CommitInfo, Heads, ScanStats,
    UpsertStats, VacuumStats}

  private def dir(table: String) = s"$root/$table"

  private def fs = new Path(root).getFileSystem(
    spark.sparkContext.hadoopConfiguration)

  def exists(table: String): Boolean = fs.exists(new Path(dir(table)))

  // Hive partition-path escaping: Spark writes chain_name=eip155%3A1
  // for the value "eip155:1". EVERY comparison between a chain VALUE
  // and a directory name must cross this boundary explicitly, or a
  // value with any escapable character silently matches nothing (the
  // upsert planner would then see zero existing files and land the
  // batch as pure inserts - duplicate keys).
  private def escapeChain(chain: String): String =
    org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
      .escapePathName(chain)
  private def unescapeChain(seg: String): String =
    org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
      .unescapePathName(seg)

  /** Restore declared column order: Spark's partitioned reads move
    * `chain_name` to the end; the lake's contract is schema order.
    * A bare projection — free under column pruning. */
  private def inSchemaOrder(df: DataFrame, schema: StructType): DataFrame =
    df.select(schema.fieldNames.toSeq.map(col): _*)

  /** Schema-enforced read; empty (correctly-typed) frame if the table
    * has no data yet. Filters pushed by callers reach the parquet scan
    * (predicate pushdown + partition pruning). Manifest-backed tables
    * plan through a [[graft.plans.ManifestFileIndex]] — partition
    * values, paths and sizes come from the manifest, so the driver
    * performs ZERO filesystem listings or stats to plan the scan;
    * only the fallback (tables never written through this API) lets
    * Spark list the directory. */
  def read(table: String): DataFrame = {
    val schema = effectiveSchema(table)
    // ONE listing decides both the version and the file set: a second
    // listing here could observe a racing commit's NEWER state, or a
    // racing dropTable's absence (NoSuchElement)
    val log = logListing(table)
    log.latest match {
      case Some(v) =>
        // the relation is memoised on the folded state (a version IS a
        // fixed file set and the plan is immutable), so a warm driver's
        // repeated reads skip the O(files) index reconstruction (group
        // + sort + FileStatus per entry — ManifestProbe measured it at
        // seconds per read on a 10⁶-file table); the memo is per
        // schema because evolution changes the read plan without a
        // manifest commit
        val s = stateAt(table, log, v)
        s.relation(schema)(readEntries(table, s.inventory, schema, s.dv))
      case None =>
        if (!exists(table))
          spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
        else
          inSchemaOrder(spark.read.schema(schema)
            .option("basePath", dir(table))
            .parquet(dir(table)), schema)
    }
  }

  /** Plan a scan over exactly `entries` from manifest metadata (no
    * driver-side filesystem access), filtering each DV-bearing file's
    * deleted positions out ([[Dv]]). DV-free entry sets (and tables —
    * `dv` empty is the universal fast path) plan byte-identically to
    * before; DV'd files split into their own sub-scan whose parquet
    * metadata columns feed the codegen'd position filter, so only the
    * DV'd fraction of the table pays the row_index read. */
  private def readEntries(table: String,
                          entries: Seq[(String, String, Long)],
                          schema: StructType,
                          dv: Map[String, Dv.Ref]): DataFrame = {
    def plain(es: Seq[(String, String, Long)]): DataFrame =
      inSchemaOrder(graft.plans.ManifestFileIndex.relation(
        spark, new Path(dir(table)), es.map(e => (e._2, e._3)),
        schema, Seq("chain_name"),
        stats = Some(statsProvider(table))), schema)
    if (entries.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    else if (dv.isEmpty) plain(entries)
    else {
      val (dvd, clean) =
        entries.partition(e => dv.contains(relAnywhere(e._2)))
      if (dvd.isEmpty) plain(entries)
      else {
        val filtered = inSchemaOrder(
          dvExcludeScan(table, dvd.map(e => (e._2, e._3)), schema,
            p => dv.get(relAnywhere(p)),
            partitioned = true), schema)
        if (clean.isEmpty) filtered
        else plain(clean).unionByName(filtered)
      }
    }
  }

  /** A scan over exactly `files` (absPath, bytes) with each file's
    * deletion vector applied as a codegen'd metadata-column filter:
    * the vectors load lazily on the EXECUTORS (the plan carries only
    * their paths). `partitioned` = files live under `chain_name=`
    * dirs (the lake layout); false plans them unpartitioned (staged
    * change files). Column order is the relation's (data-then-
    * partition) — callers re-select. */
  private def dvExcludeScan(table: String, files: Seq[(String, Long)],
                            schema: StructType,
                            refFor: String => Option[Dv.Ref],
                            partitioned: Boolean): DataFrame = {
    val sel: Map[String, graft.functions.DvSel] = files.flatMap {
      case (p, _) => refFor(p).map(r =>
        new Path(p).toUri.getPath ->
          graft.functions.ExcludeDv(dvFilePath(table, r.name)))
    }.toMap
    val rel = graft.plans.ManifestFileIndex.relation(
      spark, new Path(dir(table)), files, schema,
      if (partitioned) Seq("chain_name") else Seq.empty,
      stats = Some(statsProvider(table)))
    rel.filter(dvSelectCol(sel))
  }

  /** The DV row-selection Column over the parquet metadata columns. */
  private def dvSelectCol(sel: Map[String, graft.functions.DvSel])
      : org.apache.spark.sql.Column =
    graft.functions.DvRowSelect.selectCol(spark,
      col("_metadata.file_path"), col("_metadata.row_index"), sel,
      new org.apache.spark.util.SerializableConfiguration(
        spark.sparkContext.hadoopConfiguration))

  /** [[readEntries]] with the parquet metadata columns surfaced as
    * `__file` (the raw file-path string) and `__idx` (the row's
    * physical position in its file) — the DELETE/upsert planners'
    * position-harvest scan. Deletion vectors applied, so an
    * already-deleted row can neither count nor match again. */
  private def scanWithMeta(table: String,
                           entries: Seq[(String, String, Long)],
                           schema: StructType,
                           dv: Map[String, Dv.Ref]): DataFrame = {
    val metaCols = Seq(col("_metadata.file_path").as("__file"),
      col("_metadata.row_index").as("__idx"))
    def project(df: DataFrame): DataFrame =
      df.select(schema.fieldNames.toSeq.map(col) ++ metaCols: _*)
    def relate(es: Seq[(String, String, Long)]) =
      graft.plans.ManifestFileIndex.relation(
        spark, new Path(dir(table)), es.map(e => (e._2, e._3)),
        schema, Seq("chain_name"), stats = Some(statsProvider(table)))
    val (dvd, clean) =
      if (dv.isEmpty) (Seq.empty[(String, String, Long)], entries)
      else entries.partition(e => dv.contains(relAnywhere(e._2)))
    val parts = Seq.newBuilder[DataFrame]
    if (clean.nonEmpty) parts += project(relate(clean))
    if (dvd.nonEmpty) {
      val sel: Map[String, graft.functions.DvSel] = dvd.map(e =>
        new Path(e._2).toUri.getPath -> (graft.functions.ExcludeDv(
          dvFilePath(table, dv(relAnywhere(e._2)).name))
          : graft.functions.DvSel)).toMap
      parts += project(relate(dvd).filter(dvSelectCol(sel)))
    }
    parts.result().reduce(_.unionByName(_))
  }

  /** The merge-on-read knobs: a touched file takes a deletion vector
    * instead of a copy-on-write rewrite when its deleted-row fraction
    * is ≤ `dv.maxFraction` (default 0 = CoW always — vectors are
    * per-table OPT-IN, the published formats' posture) and the
    * commit's total harvested positions stay under
    * `dv.maxPositionsPerCommit` (driver-heap bound; beyond it files
    * demote to CoW, loudly counted in the stats). */
  private def dvKnobs(table: String): (Double, Long) = {
    val props = tableProperties(table)
    (props.get("dv.maxFraction").flatMap(_.toDoubleOption).getOrElse(0.0),
      props.get("dv.maxPositionsPerCommit").flatMap(_.toLongOption)
        .getOrElse(10000000L))
  }

  /** Append one ingested segment: the caller's partitioning lands as
    * part files under each chain directory (the segment-capped ingest
    * loop writes one bounded, single-chain segment at a time, so file
    * counts stay proportional to segments); the accumulated
    * small-files cost is [[compact]]'s job, not the write path's.
    *
    * Writes stage under `_tmp` and land by rename inside a manifest
    * transaction — the appended files enter the table's manifest in
    * the same commit that makes them visible, so readers never need a
    * listing AND a torn append (crash mid-write) is invisible instead
    * of half-visible. Appends remove nothing, so they can never lose
    * the optimistic-concurrency race — concurrent appends serialize on
    * the commit lock and both land. */
  def append(df: DataFrame, table: String): Unit =
    append(df, table, None)

  /** [[append]] carrying a streaming-sink idempotence marker: the
    * commit header records `#txn=appId:batchId` ATOMICALLY with the
    * manifest publish, so a sink crash between its commit and its
    * progress marker cannot double-apply the batch on replay
    * ([[graft.streaming.LakeSink]]; the Delta-style txn action). */
  private[graft] def append(df: DataFrame, table: String,
                            txn: Option[(String, Long)]): Unit = {
    val tmp = stage(table, "append", applyWritePolicies(df, table))
    landCommit(table, "append", "part", tmp, Seq.empty, retain = false,
      Map.empty, heads = txn.toSeq.map { case (a, b) => s"#txn=$a:$b" })
    ()
  }

  // ── Schema evolution ───────────────────────────────────────────────
  //
  // Upstream connectors grow columns (the reference's own NFP family
  // appeared mid-life, allium.py:10–25) and counters outgrow int32 —
  // the lake must absorb both WITHOUT rewriting history. The published
  // formats version the table schema in metadata and resolve each data
  // file against the current schema at read time; this is that, at its
  // smallest: versioned schema JSON under $root/_schema/$table, and
  // every read plans with the EFFECTIVE schema — Spark's parquet
  // reader null-fills columns a file predates and widens narrower
  // physical types (int32→int64, float→double) against an explicit
  // read schema, so v1 files stay byte-identical forever. Only
  // additive/widening changes are legal: drops, renames and narrowing
  // would make old files unreadable or silently lossy, so they fail
  // loudly. Time travel pins DATA, not schema: [[readAt]] replays a
  // pinned file set under the current schema (old snapshots stay
  // readable precisely because evolution is backward-compatible).
  // Visibility: the effective schema is resolved per call (one
  // metadata listing); evolution is a table COMMIT under the same
  // single-writer assumption as every other write here.

  private def schemaDir(table: String) = new Path(s"$root/_schema/$table")

  private def schemaVersions(table: String): Seq[(Long, Path)] = {
    val d = schemaDir(table)
    if (!fs.exists(d)) return Seq.empty
    fs.listStatus(d).toSeq.map(_.getPath)
      .filter(p => p.getName.startsWith("v") && p.getName.endsWith(".json"))
      .map(p => (p.getName.stripPrefix("v").stripSuffix(".json").toLong, p))
      .sortBy(_._1)
  }

  /** The table's current schema: the latest committed evolution if one
    * exists, else the static registry schema ([[Schemas.forTable]]).
    * Tables created via [[createTable]] live entirely in `_schema`. */
  def effectiveSchema(table: String): StructType =
    schemaVersions(table).lastOption match {
      case Some((_, p)) =>
        val in = fs.open(p)
        val body = try new String(
          org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8")
        finally in.close()
        org.apache.spark.sql.types.DataType.fromJson(body)
          .asInstanceOf[StructType]
      case None => Schemas.forTable(table)
    }

  /** Integral / float widenings the parquet reader performs losslessly
    * against an explicit read schema. */
  private def widens(from: org.apache.spark.sql.types.DataType,
                     to: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    val intRank = Map[DataType, Int](ByteType -> 1, ShortType -> 2,
      IntegerType -> 3, LongType -> 4)
    (intRank.contains(from) && intRank.contains(to) &&
      intRank(from) < intRank(to)) ||
      (from == FloatType && to == DoubleType)
  }

  /** Commit `next` as the table's new schema version. Legal changes:
    * add a nullable column, widen an integral column (byte→…→long) or
    * float→double. Everything else — dropping, renaming, narrowing,
    * retyping, touching `chain_name`, non-nullable fields — fails
    * loudly BEFORE anything is written. Returns the committed version
    * (1-based). Commit is atomic publish-by-rename; a lost race to the
    * same version number retries against the then-current state. */
  def evolveSchema(table: String, next: StructType): Long = {
    val current = effectiveSchema(table)
    validateEvolution(table, Some(current), next)
    require(next != current,
      s"schema evolution of $table is a no-op - nothing to commit")
    commitSchema(table, next)
  }

  /** Create a table that has no registry schema: commits `next` as
    * schema v1, after which [[read]]/[[append]]/[[upsert]] and the
    * pruned reads all work on it. Fails if the table already has data
    * or a schema (use [[evolveSchema]] to change one).
    *
    * Also publishes an EMPTY manifest v1 (under the commit lock), so a
    * freshly created table is immediately manifest-served: it appears
    * in [[manifestTables]] (SHOW TABLES through the SQL catalog), its
    * reads plan with zero listings, and the first append lands as an
    * ordinary delta commit instead of an adoption listing. */
  def createTable(table: String, next: StructType): Long = {
    validateEvolution(table, None, next)
    // the existence guards, the schema commit and the empty-manifest
    // publish run as ONE transaction: unlocked, two concurrent CREATEs
    // of the same name could both pass the guards and commit schema v1
    // and v2 with different column sets
    txn(table, "create") { base =>
      require(schemaVersions(table).isEmpty,
        s"table $table already has a committed schema - use evolveSchema")
      require(!exists(table),
        s"table $table already has data files - cannot re-create it")
      require(base.state.isEmpty,
        s"table $table already has a committed manifest - cannot re-create it")
      val v = commitSchema(table, next)
      // all-or-nothing: a schema committed without its manifest would
      // strand a table that can never be re-created (the guard above
      // would refuse forever) — roll back exactly the version this
      // create wrote
      (Commit(undo = () =>
        fs.delete(new Path(schemaDir(table), f"v$v%09d.json"), false)), v)
    }
  }

  /** Does the table have a committed registry schema? (True for
    * schema-only tables created by [[createTable]] before any data
    * lands — the SQL catalog must treat those as existing.) */
  def hasSchema(table: String): Boolean = schemaVersions(table).nonEmpty

  private def validateEvolution(table: String, current: Option[StructType],
                                next: StructType): Unit = {
    require(next.fieldNames.contains("chain_name") &&
        next("chain_name").dataType ==
          org.apache.spark.sql.types.StringType,
      s"schema of $table must keep the string partition column chain_name")
    val dup = next.fieldNames.groupBy(identity).collect {
      case (n, hits) if hits.length > 1 => n
    }
    require(dup.isEmpty, s"duplicate column(s) in schema: ${dup.mkString(", ")}")
    next.fields.foreach(f => require(f.nullable,
      s"column ${f.name} must be nullable - files written before an " +
        "evolution read back as null for columns they predate"))
    current.foreach { cur =>
      cur.fields.foreach { f =>
        val n = next.fieldNames.find(_ == f.name).map(next(_))
        require(n.isDefined,
          s"schema evolution of $table drops column ${f.name} - old " +
            "files would become unreadable; dropping is not supported")
        require(n.get.dataType == f.dataType ||
            widens(f.dataType, n.get.dataType),
          s"schema evolution of $table changes ${f.name} from " +
            s"${f.dataType.simpleString} to " +
            s"${n.get.dataType.simpleString} - only widening " +
            "(byte→short→int→long, float→double) is lossless for " +
            "already-written files")
      }
    }
  }

  private def commitSchema(table: String, next: StructType): Long = {
    val d = schemaDir(table)
    fs.mkdirs(d)
    var tries = 0
    while (tries < 8) {
      val v = schemaVersions(table).lastOption.map(_._1).getOrElse(0L) + 1
      // a lost race means the schema the caller validated against is no
      // longer current: re-validate `next` against the racing WINNER's
      // schema before re-writing, else this commit could silently omit
      // a column the winner just added (dropping it from the effective
      // schema). Identical schema = the winner already committed it.
      if (tries > 0) {
        val cur = effectiveSchema(table)
        if (next == cur) return v - 1
        validateEvolution(table, Some(cur), next)
      }
      val tmp = new Path(d, s".tmp-${java.util.UUID.randomUUID()}")
      val out = fs.create(tmp, false)
      try out.write(next.json.getBytes("UTF-8")) finally out.close()
      // rename is the atomic claim AND publish: it fails if the
      // destination exists (a racing writer won that version)
      if (fs.rename(tmp, new Path(d, f"v$v%09d.json"))) return v
      fs.delete(tmp, false)
      tries += 1
    }
    throw new java.io.IOException(
      s"schema commit of $table lost 8 version races - a runaway " +
        "writer is evolving this table concurrently")
  }

  // ── Table properties ───────────────────────────────────────────────
  //
  // Key→value table configuration, versioned under $root/_props/$table
  // exactly like the schema (latest version wins, atomic
  // publish-by-rename). The published formats hang write-tuning off
  // table properties rather than call sites so every writer — ingest
  // loop, compaction, CDC merge — agrees; `write.bloom.columns` below
  // is the first consumer.

  private def propsDir(table: String) = new Path(s"$root/_props/$table")

  /** The table's committed properties (empty map if none). */
  def tableProperties(table: String): Map[String, String] = {
    val d = propsDir(table)
    if (!fs.exists(d)) return Map.empty
    val latest = fs.listStatus(d).toSeq.map(_.getPath)
      .filter(p => p.getName.startsWith("v") && p.getName.endsWith(".json"))
      .sortBy(_.getName).lastOption
    latest.fold(Map.empty[String, String]) { p =>
      val in = fs.open(p)
      val body = try new String(
        org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8")
      finally in.close()
      body.split("\n").filter(_.contains("\t")).map { l =>
        val i = l.indexOf('\t')
        new String(unb64(l.substring(0, i)), "UTF-8") ->
          new String(unb64(l.substring(i + 1)), "UTF-8")
      }.toMap
    }
  }

  /** Commit an updated property map (merge of current + `kv`; a null
    * value deletes the key). */
  def setTableProperties(table: String, kv: Map[String, String]): Unit = {
    // validate stats.columns AT SET TIME: a typo'd list would
    // otherwise surface only as a swallowed post-commit warning
    // (collectStatsQuietly) - stats silently stop collecting, the
    // silent-wrong-cost twin of a wrong result. Only checkable when
    // the table already has a schema (registry or readable files).
    kv.get("stats.columns").filter(_ != null).foreach { list =>
      val schema =
        try Some(effectiveSchema(table))
        catch { case scala.util.control.NonFatal(_) => None }
      schema.foreach { sch =>
        val cols = list.split(',').map(_.trim).filter(_.nonEmpty)
        val missing = cols.filterNot(sch.fieldNames.contains)
        require(missing.isEmpty,
          s"stats.columns for $table names unknown column(s) " +
            s"${missing.mkString(", ")} (have: " +
            s"${sch.fieldNames.mkString(", ")})")
      }
    }
    // constraint keys validate the EXPRESSION and the table's EXISTING
    // rows at set time (the published formats' ADD CONSTRAINT
    // posture): one O(table) scan per added constraint, loud refusal
    // with a violating-row example — a constraint that admits data it
    // forbids is a wrong result waiting to be read back
    kv.filter { case (k, v) => v != null &&
        (k.startsWith("constraint.check.") || k == "constraint.notnull" ||
          k.startsWith("generated.col.") || k.startsWith("default.col.")) }
      .foreach {
        case (k, sql) if k.startsWith("default.col.") =>
          val name = k.stripPrefix("default.col.")
          val schema = effectiveSchema(table)
          require(schema.fieldNames.contains(name),
            s"default.col.$name for $table names an unknown column")
          require(!(generatedColumns(table).map(_._1).toSet ++
              kv.keys.filter(_.startsWith("generated.col."))
                .map(_.stripPrefix("generated.col."))).contains(name),
            s"column $name of $table cannot be both DEFAULT and " +
              "generated - a default yields to supplied values, a " +
              "generated column refuses them")
          // parse-check the expression now (a typo'd default would
          // otherwise only surface on the next omitting write)
          spark.sessionState.sqlParser.parseExpression(sql)
          ()
        case (k, sql) if k.startsWith("generated.col.") =>
          require(!(defaultColumns(table).map(_._1).toSet ++
              kv.keys.filter(_.startsWith("default.col."))
                .map(_.stripPrefix("default.col.")))
              .contains(k.stripPrefix("generated.col.")),
            s"column ${k.stripPrefix("generated.col.")} of $table " +
              "cannot be both DEFAULT and generated")
          val name = k.stripPrefix("generated.col.")
          val schema = effectiveSchema(table)
          require(schema.fieldNames.contains(name),
            s"generated.col.$name for $table names an unknown column")
          val refs = spark.sessionState.sqlParser.parseExpression(sql)
            .collect { case a: org.apache.spark.sql.catalyst.analysis
                .UnresolvedAttribute => a.name }
          require(!refs.contains(name),
            s"generated column $name of $table references itself")
          val otherGens = (generatedColumns(table).map(_._1).toSet ++
            kv.keys.filter(_.startsWith("generated.col."))
              .map(_.stripPrefix("generated.col."))) - name
          val chained = refs.filter(otherGens)
          require(chained.isEmpty,
            s"generated column $name of $table references generated " +
              s"column(s) ${chained.mkString(", ")} - generation " +
              "expressions must depend on stored columns only")
          val dt = schema(name).dataType
          val bad = read(table)
            .filter(!(col(name) <=> expr(sql).cast(dt)))
            .limit(1).collect()
          require(bad.isEmpty,
            s"cannot declare generated column $name AS ($sql) on " +
              s"$table - an existing row diverges: ${bad.head}")
        case (k, sql) if k.startsWith("constraint.check.") =>
          val name = k.stripPrefix("constraint.check.")
          require(name.nonEmpty &&
            name.forall(c => c.isLetterOrDigit || c == '_'),
            s"CHECK constraint name '$name' must be [A-Za-z0-9_]+")
          val bad = read(table)
            .filter(!coalesce(expr(sql).cast("boolean"), lit(true)))
            .limit(1).collect()
          require(bad.isEmpty,
            s"cannot add CHECK constraint $name ($sql) to $table - an " +
              s"existing row violates it: ${bad.head}")
        case (_, cols) =>
          val names = cols.split(',').map(_.trim).filter(_.nonEmpty)
          val schema = effectiveSchema(table)
          val missing = names.filterNot(schema.fieldNames.contains)
          require(missing.isEmpty,
            s"constraint.notnull for $table names unknown column(s) " +
              s"${missing.mkString(", ")}")
          names.foreach { c =>
            val bad = read(table).filter(col(c).isNull).limit(1).collect()
            require(bad.isEmpty,
              s"cannot add NOT NULL($c) to $table - an existing row " +
                s"is null there: ${bad.head}")
          }
      }
    val next = (tableProperties(table) ++ kv).filter(_._2 != null)
    val d = propsDir(table)
    fs.mkdirs(d)
    val cur = fs.listStatus(d).toSeq.map(_.getPath.getName)
      .filter(n => n.startsWith("v") && n.endsWith(".json"))
      .map(_.stripPrefix("v").stripSuffix(".json").toLong)
      .sorted.lastOption.getOrElse(0L)
    val body = next.toSeq.sortBy(_._1).map { case (k, v) =>
      s"${b64(k.getBytes("UTF-8"))}\t${b64(v.getBytes("UTF-8"))}"
    }.mkString("\n")
    val tmp = new Path(d, s".tmp-${java.util.UUID.randomUUID()}")
    val out = fs.create(tmp, false)
    try out.write(body.getBytes("UTF-8")) finally out.close()
    if (!fs.rename(tmp, new Path(d, f"v${cur + 1}%09d.json"))) {
      fs.delete(tmp, false)
      throw new java.io.IOException(
        s"property commit of $table lost its version race")
    }
  }

  /** Columns the table wants parquet bloom filters on (property
    * `write.bloom.columns`, comma-separated). Every lake write path —
    * [[append]] and the rewrite landings — applies these, so the
    * filters survive compaction and CDC merges. */
  private def bloomColumns(table: String): Seq[String] =
    tableProperties(table).get("write.bloom.columns")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Seq.empty)

  // ── Write constraints ──────────────────────────────────────────────
  //
  // Delta-style invariants, declared as table properties and enforced
  // on every data-adding path:
  //   constraint.check.<name> = SQL boolean expression over the
  //     table's columns — SQL-standard semantics: a row violates only
  //     when the expression evaluates FALSE; NULL passes.
  //   constraint.notnull = comma-separated columns refusing nulls.
  // setTableProperties validates both the expression and the table's
  // EXISTING rows at declaration time, so enforcement only ever
  // guards incoming data. append/ingest/streaming/upsert guard
  // INLINE (a codegen'd assert_true inside the write job — fail-fast,
  // no extra pass, nothing lands); SQL UPDATE/MERGE validate the
  // staged replacement files before the manifest transaction
  // ([[replaceStaged]] — O(staged rows), constraint-bearing tables
  // only). Constraint-free tables pay nothing anywhere.

  /** The table's declared constraints: (check name → SQL expr) sorted
    * by name, plus the NOT NULL column list. */
  private[graft] def tableConstraints(table: String)
      : (Seq[(String, String)], Seq[String]) = {
    val props = tableProperties(table)
    val checks = props.toSeq.collect {
      case (k, v) if k.startsWith("constraint.check.") =>
        (k.stripPrefix("constraint.check."), v)
    }.sortBy(_._1)
    val notnull = props.get("constraint.notnull").toSeq
      .flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty)
    (checks, notnull)
  }

  /** The table's GENERATED columns (Delta's `GENERATED ALWAYS AS`):
    * property `generated.col.<name>` = SQL expression over the
    * table's OTHER columns. A write that omits the column gets it
    * COMPUTED; one that supplies it gets every row VALIDATED
    * (null-safe equality against the expression — a divergent value
    * refuses naming the column). Declaration validates the
    * expression, its references (schema columns, not themselves
    * generated, never the column itself) and the table's existing
    * rows. */
  private[graft] def generatedColumns(table: String): Seq[(String, String)] =
    tableProperties(table).toSeq.collect {
      case (k, v) if k.startsWith("generated.col.") =>
        (k.stripPrefix("generated.col."), v)
    }.sortBy(_._1)

  /** Generated-column gate for one batch: compute absent columns,
    * guard present ones (rows where `exempt` is true skip
    * validation — tombstones). Returns `df` untouched when the table
    * declares none. */
  private[graft] def applyGeneratedColumns(df: DataFrame, table: String,
                                           exempt: Option[Column] = None)
      : DataFrame = {
    val gens = generatedColumns(table)
    if (gens.isEmpty) return df
    val schema = effectiveSchema(table)
    val ex = exempt.getOrElse(lit(false))
    val have = df.columns.toSet
    val rowJson = to_json(struct(df.columns.toSeq.map(col): _*))
    val (toCompute, toValidate) = gens.partition(g => !have(g._1))
    val computed = toCompute.foldLeft(df) { case (acc, (name, sql)) =>
      acc.withColumn(name, expr(sql).cast(schema(name).dataType))
    }
    val guards = toValidate.map { case (name, sql) =>
      assert_true(ex ||
        col(name) <=> expr(sql).cast(schema(name).dataType),
        concat(lit(s"generated column $name must equal $sql - " +
          "violated by row: "), rowJson))
    }
    val tagged = guards.zipWithIndex.foldLeft(computed) {
      case (acc, (g, i)) => acc.withColumn(s"__graft_gen_$i", g)
    }
    guards.indices
      .foldLeft(tagged)((acc, i) =>
        acc.filter(col(s"__graft_gen_$i").isNull))
      .drop(guards.indices.map(i => s"__graft_gen_$i"): _*)
  }

  /** The table's DEFAULT columns (`default.col.<name>` = SQL expr):
    * computed when a batch omits the column, never validated when it
    * supplies one — the SQL `DEFAULT` clause, vs generated columns'
    * always-enforced invariant. A column cannot be both. */
  private[graft] def defaultColumns(table: String): Seq[(String, String)] =
    tableProperties(table).toSeq.collect {
      case (k, v) if k.startsWith("default.col.") =>
        (k.stripPrefix("default.col."), v)
    }.sortBy(_._1)

  private def applyDefaultColumns(df: DataFrame, table: String): DataFrame = {
    val defs = defaultColumns(table).filterNot(d =>
      df.columns.contains(d._1))
    if (defs.isEmpty) return df
    val schema = effectiveSchema(table)
    defs.foldLeft(df) { case (acc, (name, sql)) =>
      acc.withColumn(name, expr(sql).cast(schema(name).dataType))
    }
  }

  /** The combined write gate every data-adding batch passes: DEFAULT
    * columns first, then generated columns, then CHECK / NOT NULL
    * guards (each later stage may reference the earlier ones'
    * output). */
  private[graft] def applyWritePolicies(df: DataFrame, table: String,
                                        exempt: Option[Column] = None)
      : DataFrame =
    enforceConstraints(
      applyGeneratedColumns(applyDefaultColumns(df, table), table, exempt),
      table, exempt)

  /** `df` with every declared constraint compiled to a per-row guard
    * (assert_true: raises naming the constraint and the violating row
    * as JSON; evaluates to null otherwise). Rows where `exempt` is
    * true skip the checks — upsert TOMBSTONES carry no payload, only
    * a key to delete. A CHECK whose referenced columns are absent
    * from `df` (schema-evolution batches predating the column) reads
    * them as null and therefore PASSES — skipped outright; an absent
    * NOT NULL column, by the same reading, would land nulls and
    * refuses loudly instead. */
  private[graft] def enforceConstraints(df: DataFrame, table: String,
                                        exempt: Option[Column] = None)
      : DataFrame = {
    val (checks, notnull) = tableConstraints(table)
    if (checks.isEmpty && notnull.isEmpty) return df
    val have = df.columns.toSet
    notnull.filterNot(have).headOption.foreach(c => throw
      new IllegalArgumentException(
        s"write to $table omits NOT NULL column $c - the batch would " +
          "land nulls the constraint forbids"))
    def referenced(sql: String): Seq[String] =
      spark.sessionState.sqlParser.parseExpression(sql).collect {
        case a: org.apache.spark.sql.catalyst.analysis
            .UnresolvedAttribute => a.name
      }
    val rowJson = to_json(struct(df.columns.toSeq.map(col): _*))
    val ex = exempt.getOrElse(lit(false))
    val guards: Seq[Column] =
      checks.filter(c => referenced(c._2).forall(have))
        .map { case (name, sql) =>
          assert_true(ex || coalesce(expr(sql).cast("boolean"), lit(true)),
            concat(lit(s"CHECK constraint $name ($sql) violated by " +
              "row: "), rowJson))
        } ++
      notnull.map { c =>
        assert_true(ex || col(c).isNotNull,
          concat(lit(s"NOT NULL constraint violated: column $c is " +
            "null in row: "), rowJson))
      }
    val tagged = guards.zipWithIndex.foldLeft(df) { case (acc, (g, i)) =>
      acc.withColumn(s"__graft_ck_$i", g)
    }
    guards.indices
      .foldLeft(tagged)((acc, i) => acc.filter(col(s"__graft_ck_$i").isNull))
      .drop(guards.indices.map(i => s"__graft_ck_$i"): _*)
  }

  /** Constraint gate for write paths that stage through Spark's own
    * parquet writers (SQL UPDATE/MERGE): one validating pass over the
    * staged hive-partitioned output BEFORE the manifest transaction —
    * a violation aborts with nothing published. No-op without
    * constraints. */
  private def validateStagedConstraints(table: String, tmp: Path): Unit = {
    val (checks, notnull) = tableConstraints(table)
    if (checks.isEmpty && notnull.isEmpty &&
      generatedColumns(table).isEmpty) return
    if (!fs.exists(tmp)) return
    val staged = spark.read
      .schema(effectiveSchema(table))
      .option("basePath", tmp.toString)
      .parquet(tmp.toString)
    applyWritePolicies(staged, table).count()
    ()
  }

  /** The table's declared 2-D storage layout (property
    * `write.layout = zorder(x,y)`): the two columns whose interleaved
    * bits [[clusterCompact]] clusters on when no explicit clusterBy is
    * given, so per-file footer stats stay tight on BOTH dimensions and
    * [[readRanges]] prunes on either. Malformed values fail loudly. */
  private def layoutProperty(table: String): Option[(String, String)] =
    tableProperties(table).get("write.layout").map { v =>
      // both column groups exclude ',': zorder(a,b,c) must fail the
      // match and hit the loud error below, not bind y = "b,c"
      val Z = """zorder\(\s*([^,\s()]+)\s*,\s*([^,\s()]+)\s*\)""".r
      v.trim match {
        case Z(x, y) => (x, y)
        case other => throw new IllegalArgumentException(
          s"unsupported write.layout '$other' on $table - expected " +
            "zorder(col1,col2)")
      }
    }

  /** Does the table declare a `write.layout` storage layout? A
    * maintenance caller must let the declared layout drive
    * [[clusterCompact]] (pass no clusterBy) instead of imposing its
    * own 1-D clustering over the table's 2-D tiles. */
  def hasLayout(table: String): Boolean = layoutProperty(table).isDefined

  /** Parquet writer options derived from table properties. */
  private def writeOptions(table: String): Map[String, String] = {
    val props = tableProperties(table)
    val ndv = props.getOrElse("write.bloom.ndv", "1000000")
    bloomColumns(table).flatMap(c => Seq(
      s"parquet.bloom.filter.enabled#$c" -> "true",
      s"parquet.bloom.filter.expected.ndv#$c" -> ndv)).toMap
  }

  /** Local resume point: max block currently in the lake for this
    * chain (optionally one pool) — reference data_update.py:163–189. */
  def maxBlock(table: String, chain: String,
               pool: Option[String] = None): Option[Long] = {
    if (!exists(table)) return None
    val base = read(table).filter(col("chain_name") === chain)
    val filtered = pool.fold(base)(p => base.filter(col("address") === p))
    val row = filtered.agg(max(col("block_number"))).first()
    if (row.isNullAt(0)) None else Some(row.getLong(0))
  }

  /** Drop one chain's rows from a table — a partition-directory delete,
    * fixing the reference's whole-file deletion that could take other
    * chains' rows with it (SURVEY.md §7.4 bug list).
    *
    * CONCURRENCY: the removed set is computed INSIDE the transaction
    * from its base state, never from a pre-lock inventory read — an
    * append to the same chain that commits between planning and the
    * lock is therefore either fully dropped with the chain (it's in
    * the base) or serializes after the drop and re-creates the chain;
    * a stale removed set would delete the racer's file from disk while
    * its manifest entry survived the publish, breaking every read.
    *
    * `retain = true` (manifest-backed tables only) moves the chain's
    * files into the retention area instead of deleting them — still
    * metadata-only (same-filesystem renames), and pinned snapshots /
    * `TIMESTAMP AS OF` reads taken before the drop stay readable
    * until [[vacuum]] expires them; the SQL `DELETE FROM … WHERE
    * chain_name = 'x'` downgrade uses this form. */
  def dropChain(table: String, chain: String,
                retain: Boolean = false): Boolean =
    dropChains(table, Seq(chain), retain)

  /** [[dropChain]] for SEVERAL chains in ONE manifest transaction —
    * what SQL `DELETE FROM t WHERE chain_name IN (a, b, …)` routes
    * through. One-commit atomicity is the point: one transaction per
    * value would let concurrent readers observe partially-deleted
    * state between commits, and a failure mid-loop would leave the
    * statement half-applied.
    *
    * Physical removal (retire-or-delete plus the shell-dir cleanup)
    * runs in the transaction's post-publish step — the
    * [[retireReplaced]] ordering every other rewrite uses. Before the
    * publish nothing has moved, so an aborted transaction (lost
    * publish fence, racing commit) truly changes nothing; after it the
    * files are invisible to every manifest reader, so a partial
    * retire/delete leaves loud ORPHANS (retry-able, vacuum-sweepable),
    * never a half-readable table. Retained files resolve from EITHER
    * location ([[resolveLiveOrRetired]] checks live first), so pinned
    * snapshots stay readable even mid-retirement. */
  def dropChains(table: String, chains: Seq[String],
                 retain: Boolean = false): Boolean = {
    val wanted = chains.distinct
    val dirs = wanted.map(c =>
      new Path(s"${dir(table)}/chain_name=${escapeChain(c)}"))
    if (dirs.forall(p => !fs.exists(p))) return false
    if (hasManifest(table)) {
      val chainSet = wanted.toSet
      txn(table, "dropChain") { base =>
        val rels = base.entries.keySet.filter(r => chainSet(chainOfRel(r)))
        (Commit(removed = rels, after = () => {
          if (retain) retire(table, rels.toSeq.map(r => s"${dir(table)}/$r")
            .filter(a => fs.exists(new Path(a))))
          // the recursive delete clears what remains: the shell dirs,
          // unmanifested stragglers, and (retain = false) the dropped
          // data files themselves. Checked: a refused delete leaves
          // orphans the manifest no longer names — invisible to
          // readers, but they cost storage and would resurface via
          // refreshManifest, so fail loudly
          val leftover = dirs.filter { p =>
            fs.delete(p, true); fs.exists(p)
          }
          if (leftover.nonEmpty) throw new java.io.IOException(
            s"dropChain of $table committed but ${leftover.size} " +
              s"chain dir(s) could not be fully removed - leftover " +
              s"files are orphans: ${leftover.take(3).mkString(", ")}")
        }), rels.nonEmpty)
      }
    } else dirs.map(p => fs.delete(p, true)).exists(identity)
  }

  /** Drop a whole table (its snapshot manifests and retired files go
    * with it — a pinned read of a dropped table has nothing true left
    * to say). The snapshot HIGH-WATER mark survives the drop: a
    * recreate must not reuse the dropped table's snapshot numbers, or
    * a consumer's stored `VERSION AS OF` handle would silently resolve
    * to the NEW table's unrelated snapshot instead of failing loudly
    * (the manifest side gets the same protection from its `.id-`
    * incarnation markers). */
  def dropTable(table: String): Boolean = {
    val p = new Path(dir(table))
    // mark BEFORE destroying (same ordering rule as vacuum's marker):
    // a crash between a wholesale snapDir delete and a marker written
    // after would reopen version recycling. The marker lands alongside
    // the still-live snapshots (harmless — numbering takes the max),
    // then everything EXCEPT markers is swept.
    val snapHi = math.max(
      snapshotVersions(table).lastOption.getOrElse(0L),
      expiredHighWater(table))
    if (snapHi > 0L) {
      fs.mkdirs(snapDir(table))
      fs.create(new Path(snapDir(table), f"v$snapHi%09d.expired"), true)
        .close()
      fs.listStatus(snapDir(table)).map(_.getPath).foreach { q =>
        if (q.getName != f"v$snapHi%09d.expired") trashOne(q)
      }
    } else trashOne(snapDir(table))
    Seq(retiredDir(table), statsDir(table), streamTxnDir(table),
        schemaDir(table), propsDir(table), manifestDir(table))
      .foreach(trashOne)
    statsFoldedShards.remove(table)
    logStates.remove(table)
    commitInfos.keySet.removeIf(_._1 == table)
    val existed = fs.exists(p)
    if (existed) trashOne(p)
    existed && !fs.exists(p)
  }

  /** Dead-tree disposal for [[dropTable]] and every staging-tree
    * cleanup ([[landCommit]]'s finally, [[dropStaging]] —
    * after landing renames the parquet out, the staged dir still holds
    * `_SUCCESS`/`_temporary`/`.crc` trees whose recursive delete was a
    * measured ~140 ms stall inside the DSv2 commit): the caller's
    * contract is
    * "the PATH is gone when this returns", which an O(1) same-device
    * rename into the lake-root trash delivers; the O(files) physical
    * purge runs on [[graft.fs.AsyncPurge]]'s background worker (a
    * drop of a many-thousand-file incarnation was a multi-hundred-ms
    * synchronous stall on the caller — guide §1.2, measured in the
    * BenchProfile deleteImpl samples). Rename failure (cross-device,
    * concurrent recreate of the trash slot) falls back to the old
    * synchronous delete, so the visible postcondition never weakens.
    * Trash lives under `$root/.trash` — dot-hidden from every listing
    * (Spark's and [[listInventory]]'s conventions both skip dot
    * names) — and each disposal also sweeps trash left by a
    * hard-killed predecessor, so a crash leaks at most until the next
    * drop on the same lake root. */
  private def trashOne(q: Path): Unit = {
    if (!fs.exists(q)) return
    val trashRoot = new Path(s"$root/.trash")
    fs.mkdirs(trashRoot)
    val slot = new Path(trashRoot,
      s"${q.getName}-${System.nanoTime()}-${Thread.currentThread().getId}")
    if (fs.rename(q, slot)) {
      val fsRef = fs
      // purge the SLOT just renamed (clear ownership, no redundant
      // full-trash walk per submission — r18 advice §3), plus one
      // sweep of stale sibling slots a hard-killed predecessor left:
      // anything in .trash is disposal-pending by construction, and a
      // sweep racing a concurrent rename-in at worst leaves that slot
      // for ITS OWN queued purge
      graft.fs.AsyncPurge.submit(() => {
        fsRef.delete(slot, true)
        Option(fsRef.globStatus(new Path(trashRoot, "*")))
          .getOrElse(Array.empty).foreach(s => fsRef.delete(s.getPath, true))
        ()
      })
    } else {
      fs.delete(q, true)
      ()
    }
  }

  /** Per-file inventory of one table: (chain_name, path, bytes) —
    * served from the latest committed manifest's [[LogState]] when
    * one exists (every Lake write commits one), falling back to a
    * recursive listing ONLY for tables never written through this API.
    * The small-files problem is what incremental appends produce —
    * every ingest segment lands its own part files, and a year of
    * 200k-row pulls leaves thousands of KB-scale files whose
    * open/footer cost dominates scans; the LISTING of those files is
    * the other half of that cost at fleet scale, which is why planning
    * reads the manifest, never the directory. */
  def fileInventory(table: String): Seq[(String, String, Long)] = {
    val log = logListing(table)
    log.latest.map(stateAt(table, log, _).inventory)
      .getOrElse(listInventory(table))
  }

  /** The recursive-listing fallback — O(files) filesystem metadata
    * calls, the exact cost the manifest exists to remove. [[listCalls]]
    * counts invocations so specs and probes can assert a warm,
    * manifest-backed table plans with ZERO of these. */
  private[graft] def listInventory(table: String): Seq[(String, String, Long)] = {
    if (!exists(table)) return Seq.empty
    listCalls.incrementAndGet()
    val it = fs.listFiles(new Path(dir(table)), true)
    val out = Seq.newBuilder[(String, String, Long)]
    while (it.hasNext) {
      val f = it.next()
      val p = f.getPath.toString
      if (f.isFile && !f.getPath.getName.startsWith("_") &&
          !f.getPath.getName.startsWith(".")) {
        out += ((chainOfRel(p), p, f.getLen))
      }
    }
    out.result().sortBy(t => (t._1, t._2))
  }

  // ── File manifest: the table's commit log ──────────────────────────
  //
  // One versioned file under $root/_manifest/$table listing the
  // table's live data files (table-relative path + byte length). Every
  // write path — append, upsert, compact, clusterCompact, dropChain —
  // publishes the next version under the table's COMMIT LOCK, so the
  // manifest is the single source of truth for reads and planning:
  // [[read]] plans through a [[graft.plans.ManifestFileIndex]] (zero
  // filesystem calls), [[fileInventory]] parses one small file instead
  // of walking the tree, and per-batch CDC planning never lists. The
  // recursive listing survives only as the fallback for tables no Lake
  // write has touched (first write ADOPTS: base inventory = one final
  // listing, then never again). A table written by a FOREIGN writer
  // after adoption needs [[refreshManifest]] — the manifest is
  // authoritative, exactly as in the published table formats.
  //
  // IN MEMORY — one folded state per version: [[stateAt]] folds the
  // log into an immutable [[LogState]] (entries, deletion-vector map,
  // heads — the Snapshot of Delta Lake, VLDB 2020), reading each
  // manifest file once; [[publishManifest]] installs the state it just
  // wrote, so a writer's read-back opens no manifest file. Two caches
  // hold the log: [[logStates]] (the current incarnation's newest
  // [[stateWindow]] versions per table) and [[commitInfos]] (per-commit
  // heads and added bytes, for history walks that never fold).
  //
  // CONCURRENCY — optimistic multi-writer: every commit is one [[txn]],
  // and the commit lock serializes its land+publish step only; planning
  // and staging run unlocked. A rewrite declares the files it read
  // (`removed`); under the lock it verifies every one is still in the
  // CURRENT manifest and fails with
  // [[Lake.ConcurrentWriteException]] if a concurrent commit retired
  // any (overlapping file sets = a real merge conflict; the loser
  // re-plans and retries). Disjoint writers commit in either order —
  // each publishes current-manifest − its-removed + its-added, so the
  // winner's files survive the loser's publish. This replaces the
  // former "single writer per table assumed" contract.
  //
  // CRASH WINDOWS: a writer that dies after landing but before
  // publishing leaves its landed files as manifest-ORPHANS — invisible
  // to every reader (the manifest never named them), swept by
  // [[vacuum]]'s opt-in orphan sweep. A writer that dies holding the
  // commit lock leaves a stale lock that the next writer BREAKS after
  // `staleLockMs`. Both are strictly better than the bare-parquet
  // window this replaces, where a crash mid-rewrite exposed duplicate
  // rows to readers.
  //
  // STORE CONTRACT — what the protocol requires of the filesystem:
  //  (1) atomic create-no-overwrite for the lock claim (POSIX
  //      O_EXCL / HDFS create / S3 conditional PUT If-None-Match) —
  //      mutual exclusion's one mandatory primitive;
  //  (2) atomic single-winner rename, used ONLY to break a stale
  //      claim and to publish a manifest version. On stores where
  //      rename is copy+delete (legacy S3 semantics), (2) degrades:
  //      a breaker's rename can displace a FRESH claim instead of
  //      the crashed one. The protocol stays safe-but-louder: every
  //      commit re-reads the lock's owner token AFTER landing (the
  //      publish fence in [[txn]]) and ABORTS if the claim
  //      changed hands, so a displaced writer publishes nothing and
  //      surfaces [[Lake.ConcurrentWriteException]] — one winner,
  //      never a silent lost update (LakeStoreContractSpec proves
  //      this over a deliberately non-atomic rename). Object-store
  //      manifest publishes are additionally safe because each
  //      version is written to a UNIQUE name (vN under the lock) via
  //      an atomic single-object PUT. Without (1) there is no
  //      mutual exclusion to degrade — front the lake with a locking
  //      service or a conditional-put-capable store.

  /** Recursive-listing fallbacks performed by this Lake instance —
    * specs assert ZERO on warm manifest-backed tables (the
    * [[footerReads]] pattern, applied to the metadata path). */
  val listCalls = new java.util.concurrent.atomic.AtomicLong

  private def manifestDir(table: String) = new Path(s"$root/_manifest/$table")

  /** How long a commit lock may sit before a new writer presumes its
    * holder crashed and breaks it. */
  private val staleLockMs = 3600000L

  /** `vNNN.txt` is a CHECKPOINT (the complete file set — also the
    * only kind written before round 11, so old tables read back
    * unchanged); `vNNN.d.txt` is a DELTA carrying only the commit's
    * own adds/removes, so a steady stream of small commits against a
    * huge table writes O(batch) manifest bytes, not O(table files) —
    * the same reason the published formats log deltas and checkpoint
    * periodically. */
  private def manifestName(v: Long, isDelta: Boolean): String =
    if (isDelta) f"v$v%09d.d.txt" else f"v$v%09d.txt"

  /** ONE listing of the commit-log dir: the on-disk versions
    * (version, isDelta), sorted, plus the table's INCARNATION id — a
    * `.id-<uuid>` marker minted at the incarnation's first manifest
    * publish. dropTable deletes the marker with the dir, so a
    * re-created table carries a NEW id even though its version numbers
    * restart at 1; both commit-log caches ([[logStates]],
    * [[commitInfos]]) key on it, which is what lets a SECOND long-lived
    * Lake instance on the same root survive another instance's
    * dropTable+recreate without per-instance invalidation. Tables
    * committed before the marker existed read back as incarnation ""
    * until their next publish mints one. */
  private case class LogListing(kinds: Seq[(Long, Boolean)], inc: String) {
    def latest: Option[Long] = kinds.lastOption.map(_._1)
    def has(v: Long): Boolean = kinds.exists(_._1 == v)
    def isDelta(v: Long): Boolean = kinds.exists(k => k._1 == v && k._2)
  }

  private def logListing(table: String): LogListing = {
    val d = manifestDir(table)
    if (!fs.exists(d)) return LogListing(Seq.empty, "")
    val names = fs.listStatus(d).toSeq.map(_.getPath.getName)
    val kinds = names.collect {
      case n if n.startsWith("v") && n.endsWith(".d.txt") =>
        (n.stripPrefix("v").stripSuffix(".d.txt").toLong, true)
      case n if n.startsWith("v") && n.endsWith(".txt") =>
        (n.stripPrefix("v").stripSuffix(".txt").toLong, false)
    }.sortBy(_._1)
    // min-sorted for determinism if a foreign copy ever duplicates it
    LogListing(kinds, names.filter(_.startsWith(".id-")).sorted.headOption
      .map(_.stripPrefix(".id-")).getOrElse(""))
  }

  def hasManifest(table: String): Boolean = logListing(table).kinds.nonEmpty

  /** Heads from a commit's `#` lines (`#dv` body lines are skipped by
    * their distinct prefixes). */
  private def parseHeads(lines: Seq[String]): Heads = {
    def value(key: String): Option[String] =
      lines.find(_.startsWith(key)).map(_.stripPrefix(key))
    val (minW, minWFeat) = value("#minWriter=").map { rest =>
      val cut = rest.indexOf(' ')
      if (cut < 0) (rest.trim.toLongOption.getOrElse(Long.MaxValue), "")
      else (rest.substring(0, cut).trim.toLongOption
        .getOrElse(Long.MaxValue), rest.substring(cut + 1).trim)
    }.getOrElse((-1L, ""))
    Heads(value("#ts=").flatMap(_.toLongOption).getOrElse(-1L),
      value("#op=").getOrElse(""), value("#txn=").getOrElse(""),
      minW, minWFeat,
      value("#dvs=").flatMap(_.toLongOption).getOrElse(0L),
      dvc = value("#dvc=").isDefined)
  }

  /** One manifest file, parsed from ONE read: its heads; `added` = a
    * checkpoint's complete entry set or a delta's `+` lines, `removed`
    * = a delta's `-` lines; `dvSet` = a checkpoint's full `#dv=` map or
    * a delta's `#dv+=` set/replace lines, `dvDropped` = `#dv-=`. Line
    * formats: delta `+relB64 TAB bytes` / `-relB64`, checkpoint
    * `relB64 TAB bytes` (kind-aware: base64 may itself begin with
    * '+'). */
  private case class LogFile(heads: Heads, added: Seq[(String, Long)],
                             removed: Set[String],
                             dvSet: Map[String, Dv.Ref],
                             dvDropped: Set[String])

  /** Read and parse one manifest file (gated by the reader protocol),
    * recording its heads and added bytes in [[commitInfos]]. */
  private def readLogFile(table: String, inc: String, v: Long,
                          isDelta: Boolean): LogFile = {
    val name = manifestName(v, isDelta)
    val in = fs.open(new Path(manifestDir(table), name))
    val body =
      try new String(org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8")
      finally in.close()
    Lake.requireReadable(table, name, body)
    def rel(b: String) = new String(unb64(b), "UTF-8")
    val heads = Seq.newBuilder[String]
    val added = scala.collection.immutable.ArraySeq.newBuilder[(String, Long)]
    val removed = Set.newBuilder[String]
    val dvSet = Map.newBuilder[String, Dv.Ref]
    val dvDropped = Set.newBuilder[String]
    body.split("\n").foreach { l =>
      if (l.startsWith("#dv=") || l.startsWith("#dv+=")) dvSet += dvLine(l)
      else if (l.startsWith("#dv-=")) dvDropped += rel(l.substring(5))
      else if (l.startsWith("#")) heads += l
      else if (l.nonEmpty) {
        if (isDelta && l.charAt(0) == '-') removed += rel(l.substring(1))
        else {
          val i = l.indexOf('\t')
          added += ((rel(l.substring(if (isDelta) 1 else 0, i)),
            l.substring(i + 1).toLong))
        }
      }
    }
    val f = LogFile(parseHeads(heads.result()), added.result(),
      removed.result(), dvSet.result(), dvDropped.result())
    rememberCommit(table, inc, v, CommitInfo(f.heads,
      if (isDelta) Some(f.added.iterator.map(_._2).sum) else None))
    f
  }

  /** `tag` + `relB64 TAB name TAB cardinality` per vector, sorted by
    * rel — the `#dv` line format of checkpoints (`#dv=`), deltas
    * (`#dv+=`) and snapshots (`#dv=`); [[dvLine]] parses one back. */
  private def dvLinesOf(tag: String, dv: Map[String, Dv.Ref]): Seq[String] =
    dv.toSeq.sortBy(_._1).map { case (rel, r) =>
      s"$tag${b64(rel.getBytes("UTF-8"))}\t${r.name}\t${r.cardinality}" }

  private def dvLine(l: String): (String, Dv.Ref) = {
    val f = l.substring(l.indexOf('=') + 1).split('\t')
    (new String(unb64(f(0)), "UTF-8"), Dv.Ref(f(1), f(2).toLong))
  }

  /** The folded commit log of one table at one version — the
    * Snapshot shape of the published formats (Delta Lake, VLDB 2020):
    * `entries` = live data files (rel → bytes), `dv` = the
    * deletion-vector map, `heads` = the version's commit heads.
    * Immutable, and the persistent maps share structure with the state
    * they were folded from, so one delta step costs O(batch).
    *
    * Two views derive lazily: the mapped [[inventory]] (chain, absolute
    * path, bytes — the chain-parse + path-qualify + sort over ALL
    * entries, ~10 s per call at 10⁶ files before it was cached) and the
    * DataFrame [[relation]] per schema. The inventory is PATCHED from
    * an earlier state's when one was computed (`patchBase` plus the net
    * change since it: drop removed, merge sorted additions — O(table +
    * batch log batch), no re-parse, no full re-sort; ~5 s per commit at
    * 10⁶ files otherwise, ManifestProbe r14), else built in full. The
    * patch base is dropped once the net change outgrows the table
    * (a full build is then cheaper). */
  private final class LogState(val table: String, val inc: String,
      val version: Long, val heads: Heads,
      val entries: Map[String, Long], val dv: Map[String, Dv.Ref],
      @volatile private var patchBase: LogState,
      patchAdded: Map[String, Long], patchRemoved: Set[String]) {
    @volatile private var inv: Seq[(String, String, Long)] = null
    @volatile private var rel: (StructType, DataFrame) = null

    /** The state one delta commit later — THE fold step. */
    def next(v: Long, f: LogFile): LogState =
      successor(inc, v, f.heads, entries -- f.removed ++ f.added,
        dv -- f.dvDropped ++ f.dvSet, f.added, f.removed)

    /** The state a commit of (`added`, `removed`) leads to, already
      * folded by the caller ([[publishManifest]] computes `entries` and
      * `dv` under the commit lock), carrying the inventory patch base. */
    def successor(inc1: String, v: Long, heads1: Heads,
                  entries1: Map[String, Long], dv1: Map[String, Dv.Ref],
                  added: Seq[(String, Long)],
                  removed: Set[String]): LogState = {
      val base = if (inv != null) this else patchBase
      val (pa, pr) =
        if (base eq this) (added.toMap, removed)
        else (patchAdded -- removed ++ added, patchRemoved ++ removed)
      if (base == null || pa.size + pr.size > entries1.size)
        new LogState(table, inc1, v, heads1, entries1, dv1, null,
          Map.empty, Set.empty)
      else new LogState(table, inc1, v, heads1, entries1, dv1, base, pa, pr)
    }

    def inventory: Seq[(String, String, Long)] = {
      val have = inv
      if (have != null) have
      else synchronized {
        if (inv == null) {
          val base = fs.makeQualified(new Path(dir(table))).toString
          def mapOne(rel: String, bytes: Long): (String, String, Long) =
            (chainOfRel(rel), s"$base/$rel", bytes)
          def sorted(es: Iterator[(String, Long)]) = {
            val a = es.map { case (r, b) => mapOne(r, b) }.toArray
            java.util.Arrays.sort(a, byChainPath)
            scala.collection.immutable.ArraySeq.unsafeWrapArray(a)
          }
          val from = Option(patchBase).map(_.inv).orNull
          inv =
            if (from == null) sorted(entries.iterator)
            else {
              val gone = (patchRemoved ++ patchAdded.keys)
                .map(r => s"$base/$r")
              mergeByChainPath(
                if (gone.isEmpty) from else from.filterNot(e => gone(e._2)),
                sorted(patchAdded.iterator))
            }
          patchBase = null
        }
        inv
      }
    }

    /** The manifest-served relation under `schema`, memoised for the
      * latest schema asked; building one drops the relations of this
      * table's older cached states (one plan per table stays live). */
    def relation(schema: StructType)(build: => DataFrame): DataFrame = {
      val r = rel
      if (r != null && r._1 == schema) r._2
      else {
        val df = build
        rel = (schema, df)
        Option(logStates.get(table)).foreach(_.foreach { o =>
          if (o.version < version) o.rel = null })
        df
      }
    }
  }

  private val byRel: java.util.Comparator[(String, Long)] =
    (x, y) => x._1.compareTo(y._1)

  private val byChainPath: java.util.Comparator[(String, String, Long)] =
    (x, y) => {
      val c = x._1.compareTo(y._1)
      if (c != 0) c else x._2.compareTo(y._2)
    }

  /** How many versions of one table [[logStates]] keeps: the newest
    * `stateWindow` of the current incarnation — enough for a reader
    * that listed just before a publish and for the CDC planners'
    * (v−1, v) pairs. */
  private val stateWindow = 8

  /** Recent folded states per table, newest first, all of ONE
    * incarnation (a state of another incarnation replaces the list:
    * the other one is dead). */
  private val logStates =
    new java.util.concurrent.ConcurrentHashMap[String, List[LogState]]()

  private def cachedState(table: String, inc: String, v: Long): LogState =
    Option(logStates.get(table))
      .flatMap(_.find(s => s.version == v && s.inc == inc)).orNull

  private def cacheState(s: LogState): Unit =
    logStates.compute(s.table, (_, cur) => {
      val all = (s :: Option(cur).getOrElse(Nil)
        .filter(o => o.inc == s.inc && o.version != s.version))
        .sortBy(-_.version)
      all.takeWhile(_.version > all.head.version - stateWindow)
    })

  /** The commit log folded at retained version `v` of `log` — THE
    * fold. Walk BACK from `v` to the nearest reusable base (a cached
    * state or a checkpoint), then apply the deltas FORWARD, reading
    * each manifest file exactly once; only the requested version is
    * cached. A delta commit's fold costs one small read on a warm
    * driver (the v−1 state is cached); a fresh driver pays the
    * checkpoint plus at most `checkpointEvery` delta reads, once. A
    * mid-chain gap (a delta whose v−1 is missing) fails loudly rather
    * than folding from the wrong base. */
  private def stateAt(table: String, log: LogListing, v: Long): LogState = {
    val hit = cachedState(table, log.inc, v)
    if (hit != null) return hit
    var base = v
    var start: LogState = null
    while (log.isDelta(base) && {
      start = cachedState(table, log.inc, base); start == null
    }) {
      // a delta applies to EXACTLY the preceding version — a gap
      // means retention or a foreign actor broke the chain; fold
      // loudly rather than skip a commit
      require(log.has(base - 1),
        s"manifest delta v$base of $table has no base v${base - 1} " +
          "- commit-log chain broken; refreshManifest to recover")
      base -= 1
    }
    var s = if (start != null) start else {
      val f = readLogFile(table, log.inc, base, isDelta = false)
      new LogState(table, log.inc, base, f.heads,
        scala.collection.immutable.HashMap.from(f.added), f.dvSet, null,
        Map.empty, Set.empty)
    }
    ((base + 1) to v).foreach { w =>
      s = s.next(w, readLogFile(table, log.inc, w, isDelta = true))
    }
    cacheState(s)
    s
  }

  /** The dv map at retained version `v`: a cached state's, else empty
    * straight from the `#dvs=` head (one cached head read — dv-less
    * tables never fold for it), else the fold's. */
  private def dvAt(table: String, log: LogListing, v: Long)
      : Map[String, Dv.Ref] = {
    val hit = cachedState(table, log.inc, v)
    if (hit != null) hit.dv
    else if (commitInfo(table, log.inc, v, log.isDelta(v)).heads.dvs == 0L)
      Map.empty
    else stateAt(table, log, v).dv
  }

  // ── Deletion vectors: the manifest's `#dv` state ───────────────────
  //
  // A data file's current deletion vector ([[Dv]]) is COMMIT STATE —
  // it decides which rows exist — so it rides the manifest log, never
  // a side channel: checkpoints carry the full map as
  // `#dv=relB64 TAB name TAB cardinality` lines, deltas carry
  // `#dv+=` (set/replace) and `#dv-=` (drop — written exactly for the
  // files the same commit removes, plus restore's explicit drops).
  // '#'-prefixed lines are invisible to pre-dv parsers, which is why
  // dv-bearing commits ALSO stamp `#minReader=2 deletion-vectors`
  // (ignoring the lines would resurrect deleted rows) and
  // `#minWriter=2 deletion-vectors` (an old compactor would
  // materialize-without-vector). Tables without vectors publish
  // byte-identical manifests to r17 and skip every dv code path via
  // the `#dvs=` head (zero extra I/O).

  private def dvDir(table: String) = new Path(s"$root/_dv/$table")

  /** Absolute path of a table's dv sidecar file. */
  private[v3] def dvFilePath(table: String, name: String): String =
    s"$root/_dv/$table/$name"

  /** Write a new deletion-vector sidecar (UUID-named, immutable,
    * unreferenced until its manifest transaction publishes — a crash
    * leaves an invisible orphan for [[vacuum]]'s dv sweep). */
  private[v3] def writeDvFile(table: String,
                              positions: Array[Long]): Dv.Ref = {
    val d = dvDir(table)
    fs.mkdirs(d)
    val name = s"dv-${java.util.UUID.randomUUID()}.dv"
    val out = fs.create(new Path(d, name), false)
    try out.write(Dv.serialize(positions)) finally out.close()
    Dv.Ref(name, positions.length.toLong)
  }

  /** Driver-side positions of a vector (cached in [[Dv.positions]]). */
  private[v3] def dvPositions(table: String, ref: Dv.Ref): Array[Long] =
    Dv.positions(spark.sparkContext.hadoopConfiguration,
      dvFilePath(table, ref.name))

  /** The CURRENT dv map of a table (rel → vector); empty when the
    * table has no manifest or no vectors. */
  private[graft] def dvMapOf(table: String): Map[String, Dv.Ref] = {
    val log = logListing(table)
    log.latest.map(dvAt(table, log, _)).getOrElse(Map.empty)
  }

  /** The dv map at a RETAINED commit version — `TIMESTAMP AS OF` /
    * CDC replays resolve historical vectors here. */
  private[graft] def dvMapAtCommit(table: String,
                                   version: Long): Map[String, Dv.Ref] = {
    val log = logListing(table)
    if (!log.has(version)) Map.empty else dvAt(table, log, version)
  }

  /** The `chain_name=…/file` table-relative tail of any lake path —
    * live OR retired (retirement preserves the relative path) — the
    * key the dv map is stored under. */
  private def relAnywhere(path: String): String = {
    val i = path.indexOf("chain_name=")
    if (i < 0) path else path.substring(i)
  }

  // ── Commit-time travel: TIMESTAMP AS OF over the commit log ────────

  /** Per-commit heads and added bytes keyed by (table, incarnation,
    * version) — immutable once published. Filled by every manifest
    * read ([[readLogFile]]) and publish, and by [[commitInfo]]'s
    * bounded head reads, so history walks (table_history, TIMESTAMP AS
    * OF, the change feeds' rewrite checks, sink idempotence) never
    * fold. Bounded by [[evictCommits]]. */
  private[v3] val commitInfos = new java.util.concurrent.ConcurrentHashMap[
    (String, String, Long), CommitInfo]()

  private def rememberCommit(table: String, inc: String, v: Long,
                             c: CommitInfo): Unit = {
    commitInfos.put((table, inc, v), c)
    evictCommits(table, inc, v)
  }

  /** The one eviction rule of [[commitInfos]], run when it holds over
    * 4096 commits: the INSERTING table sheds its dead incarnations
    * first (dropTable+recreate restarted the version numbers, so their
    * entries never age out by version), then, if still over, its own
    * versions older than a 1024-commit window. Another table's entries
    * are never touched — one busy table must not force a quiet table's
    * stream to re-read its delta bodies on every latestOffset poll. */
  private[v3] def evictCommits(table: String, inc: String, v: Long): Unit =
    if (commitInfos.size > 4096) {
      commitInfos.keySet.removeIf(k => k._1 == table && k._2 != inc)
      if (commitInfos.size > 4096)
        commitInfos.keySet.removeIf(k => k._1 == table && k._3 < v - 1024)
    }

  /** Heads (and added bytes) of one commit, cached. A miss reads a
    * DELTA whole (one small body) and only the LEADING head lines of a
    * checkpoint — at 10⁶ files its body is megabytes, the heads its
    * first ~100 bytes. A concurrent checkpoint publish's retention cut
    * can delete the oldest listed version between the caller's
    * (unlocked) listing and this open: informational readers
    * (versionAtTimestamp, commitHistory) read it as committed-before-
    * headers rather than crashing a pure read with a raw FNF; STRICT
    * callers — the churn guard's rewrite detection, where a header
    * silently read as "" would hide a rewrite — get the FNF to refuse
    * on. */
  private def commitInfo(table: String, inc: String, v: Long,
                         isDelta: Boolean,
                         strict: Boolean = false): CommitInfo = {
    val hit = commitInfos.get((table, inc, v))
    if (hit != null) return hit
    try {
      if (isDelta) {
        val f = readLogFile(table, inc, v, isDelta = true)
        CommitInfo(f.heads, Some(f.added.iterator.map(_._2).sum))
      } else {
        val in = fs.open(new Path(manifestDir(table), manifestName(v, false)))
        // `#dv` body lines are also '#'-prefixed, so cap the scan —
        // 10 lines cover every head the publisher writes
        val lines = try {
          val rd = new java.io.BufferedReader(
            new java.io.InputStreamReader(in, "UTF-8"), 1024)
          Iterator.continually(Option(rd.readLine()).getOrElse(""))
            .takeWhile(_.startsWith("#")).take(10).toSeq
        } finally in.close()
        val c = CommitInfo(parseHeads(lines), None)
        rememberCommit(table, inc, v, c)
        c
      }
    } catch {
      case e: java.io.FileNotFoundException =>
        if (strict) throw e else CommitInfo(Heads.none, None)
    }
  }

  /** The writer-protocol gate ([[Lake.SupportedWriterVersion]]): the
    * LATEST commit's `#minWriter=N[ feature]` head — stamped on every
    * commit while the table carries deletion vectors — must not
    * exceed this build's supported version, or any write (append,
    * upsert, delete, compaction, refresh) could corrupt a convention
    * it predates (a DV-ignorant compactor resurrects deleted rows).
    * Checked under the commit lock, before anything lands. */
  private def requireWritable(table: String, log: LogListing): Unit =
    log.kinds.lastOption.foreach { case (v, d) =>
      val h = commitInfo(table, log.inc, v, d).heads
      if (h.minWriter > Lake.SupportedWriterVersion)
        throw new IllegalStateException(
          s"table $table requires writer protocol version " +
            s"${h.minWriter}" +
            (if (h.minWriterFeature.nonEmpty)
              s" (feature: ${h.minWriterFeature})" else "") +
            s", but this build supports ${Lake.SupportedWriterVersion} " +
            "- upgrade before writing this table; refusing rather than " +
            "corrupting a convention this writer predates")
    }

  /** The operations whose commits swap files WITHOUT changing row
    * content (`dataChange = false` in the published formats' terms):
    * change feeds must exclude their file swaps, or every compaction
    * would surface the whole rewritten table as delete+insert pairs.
    * `dv-materialize` rewrites a DV-bearing file through its vector
    * and drops the reference — byte-different, row-identical. */
  private[v3] val rewriteOps = Set("compaction", "clustering",
    "dv-materialize")

  /** One retained commit of a history walk, read lazily and at most
    * once: heads from [[commitInfos]] when cached, a delta's body
    * parsed once for its heads, sides and dv lines. */
  private final class CommitView(table: String, log: LogListing,
                                 val v: Long) {
    private val isDelta = log.isDelta(v)
    private lazy val file = readLogFile(table, log.inc, v, isDelta = true)

    /** Strict: a version expired mid-walk throws its FNF. */
    lazy val heads: Heads =
      Option(commitInfos.get((table, log.inc, v))).map(_.heads)
        .getOrElse(if (isDelta) file.heads
          else commitInfo(table, log.inc, v, isDelta, strict = true).heads)

    /** (added, removed) table-relative files of this commit: a delta's
      * own lines; a checkpoint's diff against the state before it (the
      * first commit's against empty). None when that state expired —
      * the commit's change is no longer replayable. */
    lazy val sides: Option[(Set[String], Set[String])] =
      if (isDelta) Some((file.added.map(_._1).toSet, file.removed))
      else if (v != 1L && !log.has(v - 1)) None
      else {
        val prev =
          if (v == 1L) Set.empty[String]
          else stateAt(table, log, v - 1).entries.keySet
        val cur = stateAt(table, log, v).entries.keySet
        Some((cur -- prev, prev -- cur))
      }

    /** The dv map after this commit, given the map before it. */
    def dvAfter(before: Map[String, Dv.Ref]): Map[String, Dv.Ref] =
      if (heads.dvs == 0L) Map.empty
      else if (!isDelta) stateAt(table, log, v).dv
      else if (heads.dvc) before -- file.dvDropped ++ file.dvSet
      else before
  }

  /** The retained commit log as an operator-facing history: (version,
    * commit wall-clock, operation kind, isDelta), ascending — what a
    * `table_history('cat.tbl')` query lists when deciding what to pin
    * or vacuum. ts is None and op "" for commits written before the
    * headers existed. Bounded by manifest retention (~two checkpoint
    * generations), like every commit-log read. */
  def commitHistory(table: String): Seq[(Long, Option[Long], String, Boolean)] = {
    val log = logListing(table)
    log.kinds.map { case (v, d) =>
      val h = commitInfo(table, log.inc, v, d).heads
      (v, h.tsOpt, h.op, d)
    }
  }

  /** Latest committed manifest version (None = no manifest) — the
    * streaming CDC source's latest-offset probe; ONE commit-log
    * listing, no header reads. */
  def latestCommitVersion(table: String): Option[Long] =
    logListing(table).latest

  /** (incarnation id, latest commit version) in ONE commit-log
    * listing — what the streaming CDC source stamps into its offsets
    * so a checkpoint resumed across dropTable+recreate refuses loudly
    * instead of silently mixing two tables' histories. None = no
    * committed manifest. */
  private[graft] def incarnationAndLatest(table: String)
      : Option[(String, Long)] = {
    val log = logListing(table)
    log.latest.map((log.inc, _))
  }

  /** The manifest incarnation id currently serving `table` (None = no
    * committed manifest). Commit VERSION numbers are per-incarnation:
    * a dropTable+recreate restarts them at v1, so a batch CDC consumer
    * that stores versions across runs should store this id alongside
    * and pass it to [[changesBetweenCommits]]'s `expectedIncarnation`
    * — otherwise a recreate in between silently replays the NEW
    * table's commits as a continuation of the old history. (The
    * STREAMING source stamps its offsets with it automatically.) */
  def currentIncarnation(table: String): Option[String] =
    incarnationAndLatest(table).map(_._1)

  /** The retained commit log with wall-clocks: (version, commit epoch
    * millis; None = committed before timestamps existed), ascending.
    * Bounded by manifest retention (~two checkpoint generations). */
  def commitVersions(table: String): Seq[(Long, Option[Long])] =
    commitHistory(table).map(h => (h._1, h._2))

  /** Resolve a wall-clock to the manifest version current AT that
    * instant: the latest commit whose `#ts` ≤ `tsMillis`. Commit
    * times are folded monotone (max-so-far) so an NTP step between
    * two commits cannot make resolution non-monotonic. Refuses
    * loudly when `tsMillis` predates the earliest RETAINED commit —
    * manifest retention expires old versions, exactly like the
    * published formats' timestamp travel after log cleanup. */
  def versionAtTimestamp(table: String, tsMillis: Long): Long = {
    val vs = commitVersions(table)
    require(vs.nonEmpty, s"table $table has no committed manifest - " +
      "nothing to time-travel to")
    var best = -1L
    var runningTs = Long.MinValue
    vs.foreach { case (v, tsOpt) =>
      tsOpt.foreach(t => runningTs = math.max(runningTs, t))
      if (runningTs != Long.MinValue && runningTs <= tsMillis) best = v
    }
    require(best >= 0L, {
      val earliest = vs.collectFirst { case (v, Some(t)) => (v, t) }
      earliest match {
        case Some((v, t)) =>
          s"TIMESTAMP AS OF ${tsMillis} predates the earliest retained " +
            s"commit of $table (v$v at $t) - earlier history has been " +
            "expired by manifest retention"
        case None =>
          s"table $table has no commit timestamps - every retained " +
            "version was committed before timestamps existed; the next " +
            "write (or refreshManifest) stamps one"
      }
    })
    best
  }

  /** (absolute path, bytes) of the file set AT a retained commit-log
    * version — the `TIMESTAMP AS OF` read source. The CURRENT version
    * serves straight from the manifest (zero filesystem calls); an
    * OLDER version resolves each file live-or-retired with one
    * getFileStatus per location (pinned reads only), failing loudly
    * when a file was rewritten without retention or vacuum-expired —
    * the same invalidation contract as [[readAt]]. */
  private[graft] def entriesAtCommit(table: String,
                                     version: Long): Seq[(String, Long)] = {
    val log = logListing(table)
    require(log.has(version),
      s"commit v$version of $table is not retained (expired by " +
        s"manifest retention; retained: ${log.kinds.map(_._1).mkString(",")})")
    val rels = stateAt(table, log, version).entries.toSeq.sortBy(_._1)
    val base = fs.makeQualified(new Path(dir(table))).toString
    if (log.latest.contains(version))
      rels.map { case (rel, b) => (s"$base/$rel", b) }
    else
      // the shared pinned-read resolution (one getFileStatus per
      // location, loud invalidation) — was an inline copy that could
      // drift from the contract
      resolveLiveOrRetired(table, rels.map(_._1), s"commit v$version")
  }

  /** The (adds, removes) of each DELTA commit in `(fromExclusive,
    * toInclusive]`, as (absolute path, bytes) / absolute-path sets —
    * what the SQL catalog's index cache replays to PATCH a cached
    * [[graft.plans.ManifestPartitioningIndex]] forward per commit
    * (O(batch)) instead of rebuilding it O(files) (~3 s at 10⁶
    * entries, ManifestProbe `dsv2_plan_after_commit`). None whenever a
    * replay would be wrong or not worth it: any version in the range
    * is a CHECKPOINT (full manifest — its body is the state, not a
    * diff), the range is no longer retained, the manifest incarnation
    * changed (drop/recreate), or the gap exceeds 64 commits (a full
    * rebuild is cheaper than a long replay). Callers fall back to the
    * full build — the patch is a fast path, never load-bearing for
    * correctness (the cache also fingerprint-checks the result). */
  private[graft] def commitDeltasAbs(table: String, inc: String,
      fromExclusive: Long, toInclusive: Long)
      : Option[Seq[(Seq[(String, Long)], Set[String])]] = {
    if (toInclusive <= fromExclusive ||
        toInclusive - fromExclusive > 64) return None
    val log = logListing(table)
    if (log.inc != inc) return None
    val range = (fromExclusive + 1) to toInclusive
    if (!range.forall(log.isDelta)) return None
    val base = fs.makeQualified(new Path(dir(table))).toString
    try Some(range.map { w =>
      val f = readLogFile(table, inc, w, isDelta = true)
      (f.added.map { case (rel, b) => (s"$base/$rel", b) },
        f.removed.map(r => s"$base/$r"))
    })
    catch { case _: java.io.IOException => None }
  }

  /** Read the table exactly as of wall-clock `tsMillis` — the Scala
    * twin of SQL `TIMESTAMP AS OF` ([[graft.sources.LakeCatalog]]).
    * Rewritten-away files resolve against the retention area; missing
    * history fails loudly ([[entriesAtCommit]]). */
  def readAtTimestamp(table: String, tsMillis: Long): DataFrame = {
    val v = versionAtTimestamp(table, tsMillis)
    val schema = effectiveSchema(table)
    readEntries(table,
      entriesAtCommit(table, v).map { case (p, b) => (chainOfRel(p), p, b) },
      schema, dvMapAtCommit(table, v))
  }

  /** Partition value parsed from a path (manifest-relative or
    * absolute): the `chain_name=` segment, Hive-unescaped. */
  private def chainOfRel(path: String): String =
    path.split('/').collectFirst {
      case seg if seg.startsWith("chain_name=") =>
        unescapeChain(seg.stripPrefix("chain_name="))
    }.getOrElse("")

  /** Tables with a committed manifest — the SQL catalog's SHOW TABLES
    * source (ONE recursive metadata listing of `_manifest/`, never
    * data dirs and never one listing per table: object stores answer
    * a recursive list with one batched LIST, where per-table
    * listStatus would cost N round-trips). A dir holding only a
    * crashed first-writer's lock (mkdirs happens at lock acquisition,
    * before anything commits) is NOT a table — only a committed
    * `v*.txt` makes the name loadable. */
  private[graft] def manifestTables: Seq[String] = {
    val d = new Path(s"$root/_manifest")
    if (!fs.exists(d)) return Seq.empty
    val it = fs.listFiles(d, true)
    val out = scala.collection.mutable.SortedSet.empty[String]
    while (it.hasNext) {
      val f = it.next()
      val n = f.getPath.getName
      if (n.startsWith("v") && n.endsWith(".txt"))
        out += f.getPath.getParent.getName
    }
    out.toSeq
  }

  /** (absolute path, bytes) for the CURRENT table state — what the
    * SQL catalog surface ([[graft.sources.LakeCatalog]]) plans from.
    * Manifest-served (zero listings) when a manifest exists; the
    * listing fallback covers foreign tables, same as [[read]]. */
  private[graft] def currentEntries(table: String): Seq[(String, Long)] =
    fileInventory(table).map(e => (e._2, e._3))

  /** [[currentEntries]] plus the (incarnation, version) identity of
    * the manifest that served them — ONE metadata read decides both,
    * so the pair can never straddle a racing commit. None for
    * manifest-less foreign tables. The identity is what lets the SQL
    * catalog cache its scan INDEX per manifest version (a version IS
    * a fixed file set; rebuilding the index per query cost 7 s/query
    * at 10⁶ files — ManifestProbe's dsv2_plan_pruned_warm). */
  private[graft] def currentEntriesKeyed(table: String)
      : Option[(String, Long, Seq[(String, Long)])] = {
    val log = logListing(table)
    log.latest.map { v =>
      (log.inc, v, stateAt(table, log, v).inventory.map(e => (e._2, e._3)))
    }
  }

  /** [[readAt]]'s live/retired file resolution returning (absolute
    * path, bytes) — the `VERSION AS OF` source for the SQL catalog.
    * O(files) driver stat calls, paid by PINNED reads only (the
    * snapshot manifest stores paths, not sizes; exactly the files
    * [[readAt]] would open). Fails loudly on an invalidated snapshot,
    * same contract as [[readAt]]. */
  private[graft] def snapshotEntries(table: String,
                                     version: Long): Seq[(String, Long)] =
    resolveLiveOrRetired(table, manifestFiles(table, version),
      s"snapshot v$version")

  /** Resolve table-relative paths to (absolute path, bytes), each
    * checked live-then-retired with ONE getFileStatus per location
    * (not exists-then-stat, which is two metadata RPCs and a window
    * where a racing vacuum between them surfaces a raw FNF instead of
    * the invalidation error). Loud failure when a file is in neither
    * place — the shared invalidation contract of every pinned read. */
  private def resolveLiveOrRetired(table: String, rels: Seq[String],
                                   what: String): Seq[(String, Long)] =
    rels.map { r =>
      def statOf(p: Path): Option[org.apache.hadoop.fs.FileStatus] =
        try Some(fs.getFileStatus(p))
        catch { case _: java.io.FileNotFoundException => None }
      val st = statOf(new Path(s"${dir(table)}/$r"))
        .orElse(statOf(new Path(retiredDir(table), r)))
        .getOrElse(throw new IllegalArgumentException(
          s"$what of $table invalidated - missing file " +
            s"(rewritten by compaction or upsert without retention, " +
            s"or vacuum-expired): $r"))
      (st.getPath.toString, st.getLen)
    }

  /** Whether a planned batch needs deletion-vector handling at all —
    * the streaming source's fast-path test (a DV-free range keeps the
    * zero-copy per-file partition plan). */
  private[graft] def changeFilesPlain(fs0: Seq[Lake.ChangeFile]): Boolean =
    fs0.forall(f => f.exclude.isEmpty && f.include.isEmpty)

  /** Scan a change side: plain files through the manifest relation,
    * DV'd files through the exclude filter, diff legs through the
    * include filter — one union, schema order restored. */
  private[graft] def readChangeFiles(table: String,
      files: Seq[ChangeFile], schema: StructType): DataFrame = {
    if (files.isEmpty)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    val plain = files.filter(f => f.exclude.isEmpty && f.include.isEmpty)
    val excl = files.filter(_.exclude.isDefined)
    val incl = files.filter(_.include.isDefined)
    def relate(fs0: Seq[ChangeFile]) =
      graft.plans.ManifestFileIndex.relation(
        spark, new Path(dir(table)), fs0.map(f => (f.path, f.bytes)),
        schema, Seq("chain_name"), stats = Some(statsProvider(table)))
    val parts = Seq.newBuilder[DataFrame]
    if (plain.nonEmpty) parts += inSchemaOrder(relate(plain), schema)
    if (excl.nonEmpty) {
      val byPath = excl.map(f =>
        relAnywhere(f.path) -> f.exclude.get).toMap
      parts += inSchemaOrder(dvExcludeScan(table,
        excl.map(f => (f.path, f.bytes)), schema,
        p => byPath.get(relAnywhere(p)), partitioned = true), schema)
    }
    if (incl.nonEmpty) {
      val sel: Map[String, graft.functions.DvSel] = incl.map(f =>
        new Path(f.path).toUri.getPath ->
          graft.functions.IncludePositions(f.include.get)).toMap
      parts += inSchemaOrder(
        relate(incl).filter(dvSelectCol(sel)), schema)
    }
    parts.result().reduce(_.unionByName(_))
  }

  /** File-granularity CDC between two pinned snapshots — the
    * `table_changes(from, to)` read: every row of a file the `to`
    * snapshot dropped surfaces as `_change_type = 'delete'`, every
    * row of a file it added as `'insert'` (an update is its
    * delete+insert pair, exactly how the published formats
    * reconstruct changes when no per-row change log was written).
    * Both sides resolve live-or-retired, so a retain-mode
    * upsert/compact keeps the delta replayable until [[vacuum]];
    * missing files fail loudly ([[resolveLiveOrRetired]]). The diff
    * itself is a manifest set-difference — zero listings, O(files)
    * driver work only for the CHANGED files. Downstream incremental
    * consumers join deletes against their state by key; pure-append
    * history yields inserts only ([[readSince]] is the cheaper
    * special case). */
  def tableChanges(table: String, fromVersion: Long,
                   toVersion: Long): DataFrame = {
    require(fromVersion <= toVersion,
      s"tableChanges of $table needs fromVersion <= toVersion " +
        s"(got $fromVersion > $toVersion)")
    // each snapshot body is read ONCE (file set + anchor headers)
    val fromBody = snapshotBody(table, fromVersion)
    val toBody = snapshotBody(table, toVersion)
    def filesOf(b: Seq[String]) = b.filterNot(_.startsWith("#")).toSet
    val from = filesOf(fromBody)
    val to = filesOf(toBody)
    // ONE commit-log listing decides the completeness guard AND feeds
    // the rewrite-set walk below: separate listings would let a
    // retention cut between them expire a rewrite the guard had
    // validated as retained, and its churn would flow silently
    val log = logListing(table)
    // dataChange = false guard: a compaction/clustering between the two
    // snapshots swaps files WITHOUT changing rows — diffing through it
    // would surface every row of the rewritten files as delete+insert
    // pairs, churning (or corrupting) downstream state keyed on those
    // rows. The published formats exclude such rewrites from their
    // change feeds; a file-set diff cannot, so it refuses loudly and
    // points at the commit-grain feed, which can.
    // COMPLETENESS: the side-aware check below only sees rewrites the
    // RETAINED commit log still describes. Anchored snapshots (the
    // `#inc=`/`#commit=` headers pinned with the file set) make the
    // check provably complete: every commit between the anchors must
    // still be retained under the same incarnation — otherwise a
    // maintenance rewrite could hide in the expired gap while
    // retain-mode keeps BOTH snapshot sides resolvable from the
    // retention area, and its churn would flow through silently.
    // Refuse loudly instead. Pre-anchor snapshots keep the legacy
    // retained-rewrites-only check.
    (parseSnapshotAnchor(fromBody), parseSnapshotAnchor(toBody)) match {
      case (Some((incF, cFrom)), Some((incT, cTo))) =>
        require(incF == log.inc && incT == log.inc,
          s"table_changes($fromVersion, $toVersion) of $table: the " +
            "snapshots were pinned under a different manifest " +
            "incarnation (the table has been dropped and recreated) - " +
            "their commit anchors have no relation to the current " +
            "history")
        val retained = log.kinds.map(_._1).toSet
        // (cFrom, cTo], NOT [cFrom, cTo]: a rewrite at or before cFrom
        // is already baked into the from-snapshot's pinned file set -
        // only commits strictly after the from-anchor can hide churn,
        // so requiring cFrom itself to stay retained made valid diffs
        // refuse spuriously once the anchor crossed the retention cut
        val missing = ((cFrom + 1) to cTo).filterNot(retained)
        require(missing.isEmpty,
          s"table_changes($fromVersion, $toVersion) of $table: " +
            s"commit(s) ${missing.take(5).mkString(", ")} between the " +
            s"snapshots' anchors [v$cFrom, v$cTo] have been expired " +
            "by manifest retention - a maintenance rewrite there " +
            "would be invisible to the churn guard and its churn " +
            "would replay silently; diff a fresher range or raise " +
            "manifest.minRetainedCommits")
      case _ => ()
    }
    // SIDE-AWARE matching: a snapshot diff straddles a rewrite only
    // when its REMOVED side contains files the rewrite removed, or its
    // ADDED side files the rewrite added. Matching either side against
    // the union would falsely refuse legitimate post-rewrite data
    // changes — e.g. an upsert that rewrites a compacted file: the
    // compaction's OUTPUT is on the diff's removed side, which is fine
    // (the upsert removed it, with real row changes), and would hit a
    // union check forever after one retained compaction.
    val (rwRemoved, rwAdded) = rewriteSwappedRels(table, log,
      what = s"table_changes($fromVersion, $toVersion)")
    val churned = ((from -- to) & rwRemoved) ++ ((to -- from) & rwAdded)
    require(churned.isEmpty,
      s"table_changes($fromVersion, $toVersion) of $table spans a " +
        s"compaction/clustering rewrite - ${churned.size} file(s) in the " +
        "diff were swapped by a dataChange=false maintenance rewrite, so " +
        "the file-set diff would surface logically unchanged rows as " +
        "delete+insert pairs; read changes with changesBetweenCommits " +
        "(the commit-grain feed excludes rewrites), or snapshot on " +
        "either side of maintenance: " + churned.take(3).mkString(", "))
    val schema = effectiveSchema(table)
    // each side reads through ITS snapshot's pinned deletion vectors
    // (a row already deleted at pin time is not part of the diff),
    // and files common to both snapshots whose VECTOR changed emit
    // the position-diff rows — the merge-on-read delete's snapshot
    // diff, which a bare file-set diff cannot see
    val dvFrom = parseSnapshotDvMap(fromBody)
    val dvTo = parseSnapshotDvMap(toBody)
    val (delFiles, insFiles) = changeSides(table,
      s"table_changes($fromVersion, $toVersion)", (from -- to).toSeq,
      (to -- from).toSeq, from & to, dvFrom, dvTo)
    def side(fs0: Seq[ChangeFile], kind: String): DataFrame =
      readChangeFiles(table, fs0, schema)
        .withColumn("_change_type", lit(kind))
    side(delFiles, "delete").unionByName(side(insFiles, "insert"))
  }

  /** The dv map a snapshot body pinned (`#dv=` lines; empty for
    * pre-dv snapshots). */
  private def parseSnapshotDvMap(body: Seq[String])
      : Map[String, Dv.Ref] =
    body.filter(_.startsWith("#dv=")).map(dvLine).toMap

  /** Table-relative paths swapped by RETAINED rewrite-only commits,
    * split by side: (what rewrites REMOVED, what they ADDED) —
    * [[tableChanges]]' churn guard matches each diff side against the
    * corresponding rewrite side, and [[changesBetweenCommits]] skips
    * the commits wholesale. Walks the CALLER's listing (the guard
    * validated its range against the same one — a second listing
    * here would race a retention cut into a silent gap). O(retained
    * commits) cached header reads; bodies are read only for rewrite
    * commits. A version deleted by a concurrent retention cut
    * MID-WALK refuses loudly — skipping it would hide a rewrite from
    * the churn guard, and treating it as header-less would do the
    * same silently. */
  private def rewriteSwappedRels(table: String, log: LogListing,
      what: String): (Set[String], Set[String]) = {
    val rm = Set.newBuilder[String]
    val ad = Set.newBuilder[String]
    log.kinds.foreach { case (v, _) =>
      val c = new CommitView(table, log, v)
      try {
        // a checkpoint whose base expired has nothing diffable left
        if (rewriteOps(c.heads.op) && v != 1L)
          c.sides.foreach { case (added, removed) =>
            ad ++= added; rm ++= removed }
      } catch {
        case _: java.io.FileNotFoundException =>
          throw new IllegalArgumentException(
            s"$what of $table: commit v$v was expired by a concurrent " +
              "retention cut mid-read - retry against fresh snapshots")
      }
    }
    (rm.result(), ad.result())
  }

  /** Row-granularity CDC over the COMMIT LOG: every change committed
    * by manifest versions in `(fromVersion, toVersion]`, each commit's
    * removed files surfacing as `_change_type = 'delete'` rows and its
    * added files as `'insert'` rows, tagged with the committing
    * `_commit_version` — the change feed a downstream incremental
    * consumer (and the streaming CDC source,
    * [[graft.streaming.LakeChangeSource]]) replays in order.
    *
    * Unlike the snapshot diff ([[tableChanges]]) this feed is
    * rewrite-aware: commits whose `#op=` header marks a
    * compaction/clustering ([[rewriteOps]] — `dataChange = false` in
    * the published formats' terms) contribute NOTHING, because their
    * file swaps carry no row changes. Files resolve live-or-retired,
    * so retain-mode rewrites keep history replayable until [[vacuum]];
    * a commit version expired by manifest retention, or a file
    * rewritten without retention, refuses loudly — a change feed that
    * silently skips history corrupts every consumer joining deletes by
    * key. Version numbers are PER-INCARNATION: a consumer storing
    * versions across runs should also store [[currentIncarnation]]
    * and pass it as `expectedIncarnation` — a dropTable+recreate in
    * between otherwise replays the new table's commits as a
    * continuation of the old history (the streaming source's offsets
    * carry the incarnation automatically).
    * Cost: O(commits in range) small manifest reads to plan
    * (checkpoint commits diff two cached folds), one distributed scan
    * over exactly the changed files to execute. */
  def changesBetweenCommits(table: String, fromVersion: Long,
                            toVersion: Long,
                            expectedIncarnation: Option[String] = None)
      : DataFrame = {
    val schema = effectiveSchema(table)
    def emptyOut: DataFrame = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      schema.add("_change_type", org.apache.spark.sql.types.StringType)
        .add("_commit_version", org.apache.spark.sql.types.LongType))
    val parts =
      changePlanBetween(table, fromVersion, toVersion, expectedIncarnation)
      .map { case (v, kind, entries) =>
        readChangeFiles(table, entries, schema)
          .withColumn("_change_type", lit(kind))
          .withColumn("_commit_version", lit(v))
      }
    if (parts.isEmpty) emptyOut else parts.reduce(_.unionByName(_))
  }

  /** Bytes a commit ADDED (the published formats' maxBytesPerTrigger
    * accounting unit) — the streaming CDC source's admission-control
    * estimate. Cheap only for DELTA commits (one small body read,
    * cached in [[commitInfos]]); None for checkpoint commits (their
    * change is a full-set diff — the caller treats None as
    * batch-breaking, which just ends the micro-batch at the every-16th
    * checkpoint) and for expired versions. */
  private[graft] def commitAddedBytes(table: String, v: Long)
      : Option[Long] = {
    val log = logListing(table)
    if (!log.isDelta(v)) None
    else try commitInfo(table, log.inc, v, isDelta = true,
      strict = true).addedBytes
    catch { case _: java.io.IOException => None }
  }

  /** Row-grain CDC enrichment — the published formats' "enriched"
    * change-data-feed mode (Delta CDF's update_preimage/postimage)
    * reconstructed from the file-grain commit feed: for each
    * data-changing commit that REWROTE files (removed AND added in
    * one commit — an upsert, keyed delete, or SQL UPDATE/MERGE), the
    * removed-side rows full-outer-join the added-side rows on the
    * table's declared `keys`, and
    *
    *  - a key on both sides with DIFFERENT non-key columns emits an
    *    `update_preimage` + `update_postimage` pair,
    *  - a key on both sides with identical rows emits NOTHING — the
    *    rewritten file's untouched rows, the churn a file-grain diff
    *    cannot hide,
    *  - a key only on the removed side emits `delete`,
    *  - a key only on the added side emits `insert`.
    *
    * Pure-append commits pass through as plain inserts and pure-drop
    * commits as plain deletes (no join); rewrite-only maintenance
    * commits contribute nothing (inherited from
    * [[changesBetweenCommits]]' plan, as do the loud refusals for
    * expired history and vacuumed files).
    *
    * `keys` must be the table's upsert keys — unique per commit side
    * by the upsert contract; a row with a NULL key never pairs and
    * surfaces as its delete+insert halves. Rows compare under the
    * CURRENT effective schema (evolution is additive, so both sides
    * read comparably).
    *
    * Scale shape: ONE keyed equi-join per rewrite commit, sized by
    * that commit's churned files — never by table size; an
    * append-only history costs no join at all. */
  def changesBetweenCommitsEnriched(table: String, fromVersion: Long,
      toVersion: Long, keys: Seq[String],
      expectedIncarnation: Option[String] = None): DataFrame = {
    val schema = effectiveSchema(table)
    require(keys.nonEmpty,
      s"changesBetweenCommitsEnriched of $table needs the table's keys")
    val missing = keys.filterNot(schema.fieldNames.contains)
    require(missing.isEmpty,
      s"changesBetweenCommitsEnriched of $table: key column(s) " +
        s"${missing.mkString(", ")} not in schema " +
        s"(${schema.fieldNames.mkString(", ")})")
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{ArrayType, StringType, StructField, StructType}
    val outSchema = schema
      .add("_change_type", StringType).add("_commit_version",
        org.apache.spark.sql.types.LongType)
    def emptyOut: DataFrame = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], outSchema)
    val cols = schema.fieldNames.toSeq
    def tagged(df: DataFrame, kind: String, v: Long): DataFrame =
      df.withColumn("_change_type", lit(kind))
        .withColumn("_commit_version", lit(v))
    val plan =
      changePlanBetween(table, fromVersion, toVersion, expectedIncarnation)
    val parts = plan.groupBy(_._1).toSeq.sortBy(_._1).map { case (v, sides) =>
      val del = sides.find(_._2 == "delete").map(_._3)
      val ins = sides.find(_._2 == "insert").map(_._3)
      (del, ins) match {
        case (Some(d), None) =>
          tagged(readChangeFiles(table, d, schema), "delete", v)
        case (None, Some(a)) =>
          tagged(readChangeFiles(table, a, schema), "insert", v)
        case (Some(d), Some(a)) =>
          val pre = readChangeFiles(table, d, schema)
          val post = readChangeFiles(table, a, schema)
          val payloadType = StructType(schema.fields)
          val chType = ArrayType(StructType(Seq(
            StructField("t", StringType),
            StructField("p", payloadType))))
          def packed(df: DataFrame, as: String) = df.select(
            keys.map(col) :+ struct(cols.map(col): _*).as(as): _*)
          val j = packed(pre, "_pre")
            .join(packed(post, "_post"), keys, "full_outer")
          j.select(explode(
              when(col("_pre").isNull,
                array(struct(lit("insert").as("t"),
                  col("_post").as("p"))))
              .when(col("_post").isNull,
                array(struct(lit("delete").as("t"),
                  col("_pre").as("p"))))
              // struct equality is element-wise and null-field-safe
              // (ordering-based): identical rewritten rows vanish here
              .when(col("_pre") === col("_post"),
                array().cast(chType))
              .otherwise(array(
                struct(lit("update_preimage").as("t"),
                  col("_pre").as("p")),
                struct(lit("update_postimage").as("t"),
                  col("_post").as("p"))))).as("ch"))
            .select(
              (cols.map(c => col(s"ch.p.$c").as(c)) :+
                col("ch.t").as("_change_type")) :+
                lit(v).as("_commit_version"): _*)
        case (None, None) => emptyOut
      }
    }
    if (parts.isEmpty) emptyOut
    else parts.reduce(_.unionByName(_))
  }

  /** The driver-side plan behind [[changesBetweenCommits]] and the
    * streaming CDC source ([[graft.streaming]]'s lake-changes format):
    * for each data-changing commit in `(fromVersion, toVersion]`, in
    * order, the resolved file entries of each side —
    * (commitVersion, "delete"|"insert", entries(chain, absPath,
    * bytes)). Rewrite-only commits contribute nothing; expired
    * history and vacuumed files refuse loudly (doc on
    * [[changesBetweenCommits]]). */
  private[graft] def changePlanBetween(table: String, fromVersion: Long,
      toVersion: Long, expectedIncarnation: Option[String] = None)
      : Seq[(Long, String, Seq[ChangeFile])] = {
    require(fromVersion <= toVersion,
      s"changesBetweenCommits of $table needs fromVersion <= toVersion " +
        s"(got $fromVersion > $toVersion)")
    val log = logListing(table)
    // the incarnation check runs against the SAME listing the plan
    // reads from — a separate pre-check would leave a window where a
    // dropTable+recreate lands in between and the plan silently reads
    // the NEW table's commits under the old feed's version numbers
    expectedIncarnation.foreach { want =>
      require(log.inc == want,
        s"changesBetweenCommits($fromVersion, $toVersion) of $table: " +
          s"the stored versions belong to manifest incarnation $want, " +
          s"but the table has been dropped and recreated (current: " +
          s"${log.inc}) - the version numbers have no relation to this " +
          "table's history; restart the feed from a current snapshot")
    }
    if (fromVersion == toVersion) return Seq.empty
    val what = s"changesBetweenCommits($fromVersion, $toVersion)"
    val wanted = (fromVersion + 1) to toVersion
    val missing = wanted.filterNot(log.has)
    require(missing.isEmpty,
      s"$what of $table: commit version(s) " +
        s"${missing.take(5).mkString(", ")} expired by manifest " +
        "retention - that history is gone; restart the change feed " +
        "from a current snapshot of the table")
    // the dv map threads forward through every commit, rewrites
    // included (a dv-materialize changes it); `#dvs` heads keep it free
    // for dv-less history
    var dv =
      if (fromVersion > 0L && log.has(fromVersion)) dvAt(table, log, fromVersion)
      else Map.empty[String, Dv.Ref]
    wanted.flatMap { v =>
      val c = new CommitView(table, log, v)
      // STRICT reads: a version expired by a concurrent retention cut
      // mid-plan must refuse loudly — read as header-less it would be
      // misclassified as data-changing, and a cached fold could then
      // emit the rewrite's file swap as delete+insert churn
      val (op, dvPrev, dvCur) =
        try { val prev = dv; dv = c.dvAfter(prev); (c.heads.op, prev, dv) }
        catch {
          case _: java.io.FileNotFoundException =>
            throw new IllegalArgumentException(
              s"$what of $table: commit v$v was expired by a concurrent " +
                "retention cut mid-read - retry from a current snapshot")
        }
      if (rewriteOps(op)) Seq.empty
      else {
        // a checkpoint commit carries the FULL set; its change is the
        // diff against the previous version's fold
        val (added, removed) = c.sides.getOrElse(throw
          new IllegalArgumentException(s"$what of $table: v${v - 1} " +
            s"(the base of checkpoint v$v) expired by manifest " +
            "retention - restart the change feed from a current snapshot"))
        val (delFiles, insFiles) = changeSides(table, what,
          removed.toSeq, added.toSeq,
          (dvPrev.keySet ++ dvCur.keySet) -- added -- removed, dvPrev, dvCur)
        def side(fs0: Seq[ChangeFile], kind: String)
            : Option[(Long, String, Seq[ChangeFile])] =
          if (fs0.isEmpty) None else Some((v, kind, fs0))
        side(delFiles, "delete").toSeq ++ side(insFiles, "insert")
      }
    }
  }

  /** The (delete, insert) sides of one change: `removed` files read
    * through the vector they carried BEFORE it (already-deleted rows
    * must not re-emit as deletes), `added` through the new map, and
    * each `common` file whose vector CHANGED emits its position diffs
    * — newly-deleted rows as deletes, restore-resurrected rows as
    * inserts (the merge-on-read delete's change, which a bare
    * file-set diff cannot see). Files resolve live-or-retired. */
  private def changeSides(table: String, what: String,
      removed: Seq[String], added: Seq[String], common: Iterable[String],
      dvPrev: Map[String, Dv.Ref], dvCur: Map[String, Dv.Ref])
      : (Seq[ChangeFile], Seq[ChangeFile]) = {
    val grown = common.toSeq.sorted.flatMap { rel =>
      if (dvPrev.get(rel) == dvCur.get(rel)) None
      else {
        val cur = dvCur.get(rel).map(dvPositions(table, _))
          .getOrElse(Array.empty[Long])
        val prev = dvPrev.get(rel).map(dvPositions(table, _))
          .getOrElse(Array.empty[Long])
        Some((rel, Dv.minus(cur, prev), Dv.minus(prev, cur)))
      }
    }
    def files(rels: Seq[String], dvPin: Map[String, Dv.Ref],
              include: Map[String, Array[Long]] = Map.empty)
        : Seq[ChangeFile] =
      resolveLiveOrRetired(table, rels.sorted, what).map { case (p, b) =>
        val rel = relAnywhere(p)
        include.get(rel) match {
          case Some(ps) => ChangeFile(chainOfRel(p), p, b, include = Some(ps))
          case None => ChangeFile(chainOfRel(p), p, b,
            exclude = dvPin.get(rel))
        }
      }
    val dels = grown.collect { case (r, d, _) if d.nonEmpty => (r, d) }
    val ins = grown.collect { case (r, _, u) if u.nonEmpty => (r, u) }
    (files(removed, dvPrev) ++ files(dels.map(_._1), dvPrev, dels.toMap),
      files(added, dvCur) ++ files(ins.map(_._1), dvCur, ins.toMap))
  }

  /** Merge two (chain, path, bytes) seqs each sorted by (chain, path)
    * into one sorted seq — the patch step of the incremental
    * inventory. Iterator-based on purpose: indexed access on a Seq
    * that happens to be a List is O(i) per element and turns this
    * merge quadratic at 10⁶ entries (found by ManifestProbe, which
    * spun for 40+ minutes inside List.drop before the fix). */
  private def mergeByChainPath(a: Seq[(String, String, Long)],
                               b: Seq[(String, String, Long)])
      : Seq[(String, String, Long)] =
    if (b.isEmpty) a
    else if (a.isEmpty) b
    else {
      val out =
        new scala.collection.mutable.ArrayBuffer[(String, String, Long)](
          a.length + b.length)
      val ia = a.iterator.buffered
      val ib = b.iterator.buffered
      while (ia.hasNext && ib.hasNext) {
        val x = ia.head
        val y = ib.head
        val c = x._1.compareTo(y._1)
        if (c < 0 || (c == 0 && x._2.compareTo(y._2) <= 0)) out += ia.next()
        else out += ib.next()
      }
      ia.foreach(out += _)
      ib.foreach(out += _)
      scala.collection.immutable.ArraySeq.unsafeWrapArray(out.toArray)
    }

  /** Acquire the table's commit lock (create-exclusive file carrying
    * a per-claim owner token). Waits a bounded time for a live holder;
    * breaks locks older than [[staleLockMs]] (crashed writer) by
    * ATOMIC RENAME to a tombstone — of the waiters racing to break a
    * stale claim exactly one rename succeeds, where delete-then-create
    * would let a second waiter's queued delete remove the first
    * waiter's fresh lock and admit two writers. Returns (lock path,
    * owner token); release ONLY via [[releaseCommitLock]]. */
  private def acquireCommitLock(table: String,
                                waitMs: Long = 30000L): (Path, String) = {
    val d = manifestDir(table)
    fs.mkdirs(d)
    val lock = new Path(d, ".commit.lock")
    val token = java.util.UUID.randomUUID().toString
    val deadline = System.currentTimeMillis() + waitMs
    while (true) {
      val claimed =
        try {
          val out = fs.create(lock, false)
          try out.write(token.getBytes("UTF-8")) finally out.close()
          true
        } catch { case _: java.io.IOException => false }
      if (claimed) return (lock, token)
      val holder =
        try Option(fs.getFileStatus(lock))
        catch { case _: java.io.FileNotFoundException => None }
      holder match {
        case Some(st) if System.currentTimeMillis() - st.getModificationTime >
            staleLockMs =>
          breakStaleLock(d, staleLockMs) // crashed writer
        case Some(_) =>
          if (System.currentTimeMillis() > deadline)
            throw new Lake.ConcurrentWriteException(
              s"commit lock of $table held beyond ${waitMs}ms - another " +
                "writer is mid-commit; retry")
          Thread.sleep(50)
        case None => () // released between attempts: retry immediately
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Break a dir's `.commit.lock` if STALE, atomically: rename to a
    * tombstone (one winner among racing breakers), then RE-VERIFY the
    * captured claim's age and restore it if the caller's
    * stat-then-rename window captured a fresh re-claim instead of the
    * crashed one. A plain age-gated delete (what [[vacuum]] used to
    * do) re-opens the two-writers hole the rename protocol closes. If
    * the restore itself loses a race (a third writer already
    * re-claimed), the displaced writer's publish fence in
    * [[txn]] aborts its commit rather than racing the new
    * claimant. Tombstones a crashed breaker leaves behind are swept
    * by [[vacuum]]'s manifest-dir pass. */
  private def breakStaleLock(d: Path, staleMs: Long): Unit = {
    val lock = new Path(d, ".commit.lock")
    val tomb = new Path(d,
      s".commit.lock.broken-${java.util.UUID.randomUUID()}")
    try {
      if (fs.rename(lock, tomb)) {
        val got = fs.getFileStatus(tomb)
        if (System.currentTimeMillis() - got.getModificationTime > staleMs)
          fs.delete(tomb, false)
        else if (!fs.rename(tomb, lock)) fs.delete(tomb, false)
      }
    } catch { case _: java.io.IOException => () }
  }

  /** Is the claim at `lock` still OURS (content == our token)? */
  private def ownsLock(lock: Path, token: String): Boolean =
    try {
      val in = fs.open(lock)
      val body = try new String(
        org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8")
      finally in.close()
      body == token
    } catch { case _: java.io.IOException => false }

  /** Release a commit lock, deleting it ONLY while it still carries
    * our token: if a waiter broke our claim as stale (we held it past
    * [[staleLockMs]]) the file on disk is THEIR claim, and a blind
    * delete would re-open the mutual-exclusion hole the atomic break
    * closed. An unreadable or missing lock means there is nothing of
    * ours left to release. */
  private def releaseCommitLock(lock: Path, token: String): Unit =
    if (ownsLock(lock, token)) fs.delete(lock, false)

  /** Run `body` holding the table's commit lock — the ONE caller of
    * [[acquireCommitLock]]. `body` gets the publish fence: a check
    * that the claim is still ours (false once a waiter broke it as
    * stale). */
  private def withCommitLock[A](table: String)(body: (() => Boolean) => A): A = {
    val (lock, token) = acquireCommitLock(table)
    try body(() => ownsLock(lock, token))
    finally releaseCommitLock(lock, token)
  }

  // Manifests are PLANNING state — time travel is [[snapshot]]'s job;
  // version files write-temp-then-rename so readers never observe a
  // torn manifest, and retention is checkpoint-anchored (below).

  /** How many delta commits may stack on a checkpoint before the next
    * commit writes a fresh checkpoint. Bounds a cold driver's fold to
    * one O(files) checkpoint read + 16 O(batch) delta reads, and disk
    * to roughly two checkpoint generations of small files. */
  private val checkpointEvery = 16

  /** Publish version `next = last + 1` of the commit log `log` (the
    * caller's listing, taken under the commit lock). `entries` is the
    * COMPLETE folded file set (always known to callers — they just
    * computed it); `delta = Some((added, removedRel))` lets the commit
    * land as an O(batch)-byte delta file. A checkpoint (full set) is
    * written instead when the caller has no delta (adoption/refresh),
    * the log is empty, or `checkpointEvery` deltas have stacked since
    * the last checkpoint — at which point every version older than
    * the PREVIOUS checkpoint is deleted (two checkpoint generations
    * stay readable, so a reader that listed versions just before this
    * publish still folds its chain). The new version's [[LogState]]
    * (a successor of `base`, the latest state, when the commit is a
    * delta of it) is installed in [[logStates]], so this instance's
    * read-back opens no manifest file. */
  private def publishManifest(table: String, log: LogListing,
                              base: Option[LogState],
                              entries: Map[String, Long],
                              delta: Option[(Seq[(String, Long)],
                                Set[String])] = None,
                              what: String = "",
                              extraHeads: Seq[String] = Seq.empty,
                              dvChanges: Map[String, Dv.Ref] = Map.empty,
                              dvDrops: Set[String] = Set.empty): Long = {
    val d = manifestDir(table)
    val kinds = log.kinds
    // first publish of this incarnation: mint the `.id-` marker the
    // commit-log caches key on (runs under the commit lock, so exactly
    // one writer mints it)
    val inc = if (log.inc.nonEmpty) log.inc else {
      val u = java.util.UUID.randomUUID().toString
      fs.create(new Path(d, s".id-$u"), false).close()
      u
    }
    val v = log.latest.getOrElse(0L) + 1
    val deltasSinceCheckpoint =
      kinds.reverse.takeWhile(_._2).size
    // a full-table rewrite's "delta" (compact/clusterCompact/dropChain
    // remove and re-add everything) would be LARGER than the
    // checkpoint representing the same state — write the checkpoint
    val deltaSmaller = delta.exists { case (added, removed) =>
      added.size + removed.size < entries.size }
    val asDelta = delta.isDefined && kinds.nonEmpty &&
      deltasSinceCheckpoint < checkpointEvery && deltaSmaller
    // ── resulting deletion-vector state ──
    // prev map − (explicit drops ∪ refs whose data file this commit
    // removes) + this commit's new/replaced vectors; restricted to
    // the final entry set (a checkpoint published from a listing may
    // have lost files behind the manifest's back). The data file of
    // every CHANGED vector must be in the final set — a dangling ref
    // is a planning-time wrong result, refuse at the source.
    val outside = dvChanges.keys.filterNot(entries.contains)
    require(outside.isEmpty,
      s"dv publish of $table names data file(s) outside the manifest: " +
        outside.take(3).mkString(", "))
    val prevDv: Map[String, Dv.Ref] = base.map(_.dv)
      .getOrElse(log.latest.map(dvAt(table, log, _)).getOrElse(Map.empty))
    val removedRelSet = delta.map(_._2).getOrElse(Set.empty)
    val dropSet = dvDrops ++ prevDv.keySet.intersect(removedRelSet)
    val resultDv = (prevDv -- dropSet ++ dvChanges)
      .filter { case (rel, _) => entries.contains(rel) }
    val dvGated = resultDv.nonEmpty
    val dvChanged = dvChanges.nonEmpty || dropSet.nonEmpty
    // every commit leads with `#ts=<epoch-millis>` (the wall-clock
    // `TIMESTAMP AS OF` resolves against — [[versionAtTimestamp]]) and
    // `#op=<operation>` (what committed this version — compaction and
    // clustering are `dataChange = false` rewrites the change feeds
    // exclude, and [[commitHistory]] lists every kind). Parsers skip
    // '#' lines, so pre-header manifests read back unchanged.
    // checkpoints additionally carry the PROTOCOL GATE
    // `#minReader=N` (the published formats' minReaderVersion):
    // bumped only when a table starts depending on a convention an
    // OLDER parser would misread — today every added convention is
    // skip-safe (`#` heads are ignored by old parsers, delta bodies
    // are versioned by file NAME, sidecar/stats are derived caches),
    // so N is pinned at [[Lake.SupportedReaderVersion]] = 1.
    // [[readLogFile]] refuses a higher N loudly, naming the
    // feature the writer recorded after the number.
    // the reader gate records what the table REQUIRES, not what this
    // build supports: 2 only while deletion vectors exist (the first
    // non-skip-safe convention), else 1 — so dv-less tables stay
    // readable by v1 builds. Deltas normally carry no gate; a
    // dv-gated delta MUST (any fold containing dv state reads it).
    // The writer gate rides every dv-gated commit for the same
    // reason, checked by [[requireWritable]] against the LATEST
    // commit — which this stamping discipline makes sufficient.
    val minReaderHead =
      if (!asDelta)
        Seq(if (dvGated) "#minReader=2 deletion-vectors"
        else s"#minReader=1")
      else if (dvGated) Seq("#minReader=2 deletion-vectors")
      else Seq.empty
    val heads = Seq(s"#ts=${System.currentTimeMillis()}") ++
      (if (what.nonEmpty) Seq(s"#op=$what") else Seq.empty) ++
      minReaderHead ++
      (if (dvGated) Seq("#minWriter=2 deletion-vectors") else Seq.empty) ++
      extraHeads ++
      (if (dvGated) Seq(s"#dvs=${resultDv.size}") else Seq.empty) ++
      (if (asDelta && dvChanged) Seq("#dvc=1") else Seq.empty)
    // dv body lines ('#'-prefixed: invisible to entry parsers):
    // checkpoints carry the FULL map, deltas only this commit's
    // changes — and only when it has any (#dvc)
    val dvLines =
      if (!asDelta) dvLinesOf("#dv=", resultDv)
      else if (dvChanged)
        dropSet.toSeq.sorted.map(r => s"#dv-=${b64(r.getBytes("UTF-8"))}") ++
          dvLinesOf("#dv+=", dvChanges)
      else Seq.empty
    val body =
      if (asDelta) {
        val (added, removedRel) = delta.get
        (heads ++ dvLines ++
          (removedRel.toSeq.sorted.map(r => s"-${b64(r.getBytes("UTF-8"))}") ++
          added.sortBy(_._1).map { case (rel, b) =>
            s"+${b64(rel.getBytes("UTF-8"))}\t$b" })).mkString("\n")
      } else {
        // the entry map iterates in hash order: sort it on all cores,
        // this runs under the commit lock every checkpointEvery commits
        val sorted = entries.toArray
        java.util.Arrays.parallelSort(sorted, byRel)
        (heads.iterator ++ dvLines ++ sorted.iterator.map { case (rel, b) =>
          s"${b64(rel.getBytes("UTF-8"))}\t$b" }).mkString("\n")
      }
    val name = manifestName(v, asDelta)
    val tmp = new Path(d, s".m-tmp-${java.util.UUID.randomUUID()}")
    val out = fs.create(tmp, false)
    try out.write(body.getBytes("UTF-8")) finally out.close()
    if (!fs.rename(tmp, new Path(d, name))) {
      fs.delete(tmp, false)
      throw new java.io.IOException(
        s"manifest publish of $table v$v failed to rename into place")
    }
    val parsedHeads = parseHeads(heads)
    val state = (base, delta) match {
      case (Some(b), Some((added, removed))) =>
        b.successor(inc, v, parsedHeads, entries, resultDv, added, removed)
      case _ =>
        new LogState(table, inc, v, parsedHeads, entries, resultDv, null,
          Map.empty, Set.empty)
    }
    cacheState(state)
    rememberCommit(table, inc, v, CommitInfo(parsedHeads,
      if (asDelta) Some(delta.get._1.iterator.map(_._2).sum) else None))
    if (!asDelta) {
      // retention anchored to checkpoints, never mid-chain, with a
      // MINIMUM trailing window: the cut is the newest checkpoint
      // that still leaves >= manifest.minRetainedCommits of history
      // (default 48; per-table property). Cutting at the previous
      // checkpoint alone let a compaction checkpoint landing a few
      // commits after a rule checkpoint shrink the retained window to
      // a handful of commits — any CDC consumer lagging slightly lost
      // history (LongStreamProbe cdc mode caught the refusal at
      // commit 27 of 100). The floor's cost is a few tiny delta files
      // kept longer; folds are unaffected (they start at the LATEST
      // checkpoint).
      val minRetain = tableProperties(table)
        .get("manifest.minRetainedCommits").flatMap(_.toLongOption)
        .getOrElse(48L)
      val cut = kinds.filter(!_._2).map(_._1)
        .filter(_ <= v - minRetain).lastOption
      cut.foreach { p =>
        kinds.filter(_._1 < p).foreach { case (old, wasDelta) =>
          fs.delete(new Path(d, manifestName(old, wasDelta)), false)
        }
      }
    }
    v
  }

  /** Probe seam: publish a synthetic manifest version through [[txn]]
    * — the exact lock-held serialize+write every real commit pays —
    * without materializing data files. [[publishManifest]] and
    * [[stateAt]] operate on entry maps, so the million-file probe
    * ([[graft.ManifestProbe]]) sizes the metadata layer without
    * synthesizing a million parquet files; the named files do not
    * exist, so no stats warm-up runs. A `delta` applies to the latest
    * state; without one (or on an empty log) the version is a
    * checkpoint of exactly `entries`. */
  private[graft] def publishSynthetic(table: String,
      entries: Seq[(String, Long)],
      delta: Option[(Seq[(String, Long)], Set[String])] = None,
      what: String = "synthetic"): Unit =
    txn(table, what, warm = false) { base =>
      (delta.filter(_ => base.state.isDefined) match {
        case Some((added, removed)) => Commit(added, removed)
        case None =>
          Commit(entries, base.entries.keySet -- entries.map(_._1))
      }, ())
    }

  /** Test/probe seam: runs after a write has planned (and staged its
    * output, if any) but before its [[txn]] takes the commit lock —
    * the window a concurrent writer races in. */
  private[graft] var preCommitHook: () => Unit = () => ()

  /** Test seam firing after an upsert PLANS (touched set fixed) but
    * before its staging scan runs — the unlocked window where a
    * concurrent winner's post-publish delete turns the loser's scan
    * into a task-level file-not-found (the second manifestation of
    * the lost race; see [[Lake.isRetryableRace]]). */
  private[v3] var preStageHook: () => Unit = () => ()

  /** Test seam firing after a compaction/clustering rewrite PLANS its
    * file set but before it stages — the unlocked window where a
    * rival commit retires the planned files and the rewrite must lose
    * the optimistic race ([[Lake.ConcurrentWriteException]]); what a
    * maintenance-skip spec arms to make the loss deterministic. */
  private[graft] var preRewriteHook: () => Unit = () => ()

  /** Test seam firing INSIDE [[txn]], after the body has landed its
    * files and before the publish fence — the window where a store
    * whose rename is not atomic can let a rival displace this writer's
    * commit claim. The store-contract spec arms it to prove the fence
    * still yields one winner (the displaced writer aborts loudly,
    * publishing nothing). */
  private[graft] var preFenceHook: () => Unit = () => ()

  /** The state a [[txn]] body plans its commit against, read under the
    * lock before the body lands anything: the latest folded
    * [[LogState]], or for a table no Lake write has touched yet an
    * adoption listing. Its checks are the optimistic-concurrency test
    * of the published formats (Delta Lake, VLDB 2020): each throws
    * [[Lake.ConcurrentWriteException]] before anything lands. */
  private final class TxnBase(table: String, what: String,
                              val state: Option[LogState]) {
    val entries: Map[String, Long] = state.map(_.entries).getOrElse {
      val adopted = listInventory(table).map(f => (relOf(table, f._2), f._3))
      requireLakeLayout(table, adopted)
      adopted.toMap
    }

    val dv: Map[String, Dv.Ref] = state.map(_.dv).getOrElse(Map.empty)

    def conflict(files: Iterable[String], why: String): Unit =
      if (files.nonEmpty) throw new Lake.ConcurrentWriteException(
        s"$what of $table conflicts with a concurrent commit - " +
          s"${files.size} file(s) $why: " + files.take(3).mkString(", "))

    /** A rewrite's plan still holds: every file it removes and every
      * file it gives a vector is live, and each carries the vector the
      * write planned with (`planDv`) — a vector a rival added or
      * changed since makes the write's scan stale. */
    def requirePlanned(removed: Iterable[String], planDv: Map[String, Dv.Ref],
                       dvChanges: Map[String, Dv.Ref] = Map.empty): Unit = {
      conflict(removed.filterNot(entries.contains), "this write planned " +
        "against were already retired by another writer (re-plan and retry)")
      conflict(dvChanges.keys.filterNot(entries.contains), "this write " +
        "planned deletion vectors for were already rewritten (re-plan and " +
        "retry)")
      requireVectors(removed ++ dvChanges.keys, planDv)
    }

    /** Every file in `rels` still carries the vector it had at plan
      * time (`planDv`; absent = none). */
    def requireVectors(rels: Iterable[String],
                       planDv: Map[String, Dv.Ref]): Unit =
      conflict(rels.filter(r => dv.get(r) != planDv.get(r)), "this write " +
        "read gained or changed a deletion vector since it planned (its " +
        "scan is stale; re-plan and retry)")

    /** Files in `chains` a concurrent commit added since the write
      * planned over `planned`, as (chain, rel, bytes). */
    def addedSince(chains: Set[String], planned: Set[String])
        : Seq[(String, String, Long)] =
      entries.toSeq.collect {
        case (rel, b) if chains(chainOfRel(rel)) && !planned(rel) =>
          (chainOfRel(rel), rel, b)
      }
  }

  /** THE commit path: every write to a table's commit log is one
    * transaction (Delta Lake's optimistic transaction, VLDB 2020).
    * After [[preCommitHook]], under the table's commit lock: (1) ONE
    * log listing gates the writer protocol and folds the base
    * ([[TxnBase]]); (2) `body` runs its conflict checks on the base,
    * lands its files and returns the [[Commit]] plus its own result —
    * a body that throws aborts with nothing published; (3) the publish
    * fence: if our claim was broken as stale mid-transaction, another
    * writer may already be inside its own, so abort (landed files stay
    * invisible orphans) and let the caller retry; (4) publish base −
    * removed + added with the commit's heads and vectors; (5) the
    * commit's post-publish step, still under the lock, so replaced
    * originals (unmanifested, with OLD mtimes) cannot race [[vacuum]]'s
    * lock-held orphan sweep. Then, outside the lock, the stats warm-up
    * for the landed files (`warm`): footer reads of our own immutable
    * files must not stretch the critical section. */
  private def txn[A](table: String, what: String, warm: Boolean = true)
                    (body: TxnBase => (Commit, A)): A = {
    preCommitHook()
    val (c, result) = withCommitLock(table) { stillOurs =>
      val log = logListing(table)
      requireWritable(table, log)
      val base = new TxnBase(table, what, log.latest.map(stateAt(table, log, _)))
      val out = body(base)
      val c = out._1
      try {
        preFenceHook()
        if (!stillOurs()) throw new Lake.ConcurrentWriteException(
          s"$what of $table lost its commit claim mid-transaction " +
            "(broken as stale) - nothing published; retry")
        publishManifest(table, log, base.state,
          base.entries -- c.removed ++ c.added,
          delta = Some((c.added, c.removed)), what = what,
          extraHeads = c.heads, dvChanges = c.dvChanges, dvDrops = c.dvDrops)
      } catch { case e: Throwable => c.undo(); throw e }
      c.after()
      out
    }
    if (warm && c.added.nonEmpty) collectStatsQuietly(table, c.added)
    result
  }

  /** The lake's physical contract: every data file lives under a
    * `chain_name=` partition directory. Adopting a foreign layout
    * that breaks it would make every manifest-served read rewrite
    * chain_name to "" (the partition value comes from the path, and
    * the manifest relation excludes the data column) — refuse loudly
    * and leave such tables on the listing read path, which surfaces
    * the file's real chain_name column. */
  private def requireLakeLayout(table: String,
                                entries: Seq[(String, Long)]): Unit = {
    val bad = entries.filterNot(_._1.startsWith("chain_name="))
    if (bad.nonEmpty) throw new IllegalStateException(
      s"cannot adopt $table into the manifest: ${bad.size} data " +
        "file(s) are not under a chain_name= partition directory " +
        "(foreign non-partitioned layout) - restructure or re-ingest " +
        "before adopting: " + bad.take(3).map(_._1).mkString(", "))
  }

  /** Re-derive the manifest from a full listing and commit it — the
    * escape hatch for tables a FOREIGN writer appended to behind the
    * manifest's back (the manifest is otherwise authoritative: files
    * it doesn't name are invisible to reads and planning). */
  def refreshManifest(table: String): Long =
    withCommitLock(table) { _ =>
      val log = logListing(table)
      requireWritable(table, log)
      val entries = listInventory(table).map(f => (relOf(table, f._2), f._3))
      requireLakeLayout(table, entries)
      publishManifest(table, log, None, entries.toMap, what = "refresh")
    }

  /** Has any chain fragmented past `maxChainFiles` live files? THE
    * check a maintenance hook polls after each write — manifest-served,
    * so it costs one small-file read per batch, never a listing. A
    * long CDC stream otherwise accumulates files until someone
    * remembers to compact ([[graft.streaming.Streaming.upsertStream]]'s
    * `maintainEvery` wires this to [[clusterCompact]]). */
  def maintenanceNeeded(table: String, maxChainFiles: Int): Boolean =
    fragmentedChains(table, maxChainFiles).nonEmpty

  /** The chains fragmented past `maxChainFiles` live files — what a
    * maintenance hook passes to [[clusterCompact]]/[[compact]] as
    * `onlyChains`, so the rewrite touches the fragmented chains and
    * nothing else (rewriting EVERY chain would make per-batch
    * maintenance cost proportional to total table bytes, not to the
    * fragmentation that triggered it). */
  def fragmentedChains(table: String, maxChainFiles: Int): Seq[String] = {
    require(maxChainFiles > 0, "maxChainFiles must be positive")
    fileInventory(table).groupBy(_._1).collect {
      case (chain, fl) if fl.size > maxChainFiles => chain
    }.toSeq.sorted
  }

  /** Deterministic compaction plan: group each chain's files into
    * target-sized bins by size-descending running-sum bucketing
    * (sorted next-fit — the [[graft.llm.Chunking]] packSequences rule
    * applied to files: sort by (bytes desc, path), bin =
    * cum_before ÷ targetBytes, so every bin except possibly the last
    * holds ≥ targetBytes÷2 once full and a file larger than the
    * target gets its own bin). File inventories are human-sized state
    * (thousands of entries — the model-state rule), so the plan is a
    * driver computation over [[fileInventory]]; EXECUTION is
    * distributed: each bin rewrites via one partitioned read+write.
    * Returns (chain, bin, path, bytes); bins with one file need no
    * rewrite (already compact) and are flagged by the caller. */
  def compactionPlan(table: String,
                     targetBytes: Long): Seq[(String, Int, String, Long)] = {
    require(targetBytes > 0, "targetBytes must be positive")
    fileInventory(table).groupBy(_._1).toSeq.sortBy(_._1).flatMap {
      case (chain, files) =>
        val sorted = files.map(f => (f._2, f._3))
          .sortBy { case (p, b) => (-b, p) }
        var cum = 0L
        sorted.map { case (p, b) =>
          val bin = (cum / targetBytes).toInt
          cum += b
          (chain, bin, p, b)
        }
    }
  }

  // ── Shared landing protocol for every rewrite ──────────────────────
  //
  // Staging lives under $root/_tmp, NEVER inside the table directory:
  // a crash mid-write must not leave staged part files where
  // fileInventory / snapshot / the upsert planner would count them as
  // live rows (read() ignores dot-dirs, but the planning paths walk
  // the listing — a staged duplicate would silently double a chain on
  // the next rewrite). fs.rename signals failure by RETURNING false
  // on HDFS (cross-fs moves, permissions) rather than throwing;
  // landing is all-or-nothing BEFORE any original is deleted, else a
  // failed rename would silently lose rows. Landing runs inside a
  // manifest transaction: readers see the old file set until the
  // manifest publishes, the new set after — a crash anywhere between
  // leaves invisible orphans (vacuum's sweep), never visible
  // duplicates. Only manifest-LESS foreign tables retain the bare
  // land-then-delete window.

  /** Fresh staging dir outside the table directory. */
  private def stagingDir(tag: String): Path =
    new Path(s"$root/_tmp/$tag-${System.nanoTime()}")

  /** A fresh staging location under the lake's `_tmp` for an external
    * writer (the DSv2 row-level write stages Spark's own parquet
    * output here before [[replaceStaged]] lands it). */
  private[graft] def stagingPath(tag: String): Path = stagingDir(tag)

  /** Discard a staging dir (abort path of an external staged write). */
  private[graft] def dropStaging(tmp: Path): Unit = trashOne(tmp)

  /** Stage `df` for [[landCommit]] under a fresh staging dir with the
    * table's writer options: partitioned by `chain_name`, or — for a
    * rewrite of one chain's files (compaction, clustering) — written
    * straight into that chain's `chain_name=` subdirectory, so every
    * staged dir has the same shape. */
  private def stage(table: String, tag: String, df: DataFrame,
                    chain: Option[String] = None): Path = {
    val tmp = stagingDir(s"$tag-$table")
    val w = df.write.mode("overwrite").options(writeOptions(table))
    chain match {
      case Some(c) => w.parquet(s"$tmp/chain_name=${escapeChain(c)}")
      case None => w.partitionBy("chain_name").parquet(tmp.toString)
    }
    tmp
  }

  /** The copy-on-write tail every staging writer shares: land the
    * `chain_name=`-staged dir `tmp` and commit it as ONE [[txn]] that
    * removes `removed` (absolute paths) and sets `dvChanges`. Under
    * the lock the body checks the plan against the base
    * ([[TxnBase.requirePlanned]] with the vector map the write planned
    * against, then `guard`) and renames every staged file into its
    * chain dir under a stamped `prefix` name — all-or-nothing: a
    * failed rename rolls back every file landed so far and aborts with
    * nothing published. After the publish it retires or deletes the
    * replaced files ([[retireReplaced]]). The staging dir is trashed
    * either way. Returns the landed entries. */
  private def landCommit(table: String, what: String, prefix: String,
                         tmp: Path, removed: Seq[String], retain: Boolean,
                         planDv: Map[String, Dv.Ref],
                         dvChanges: Map[String, Dv.Ref] = Map.empty,
                         heads: Seq[String] = Seq.empty,
                         guard: TxnBase => Unit = _ => ())
      : Seq[(String, Long)] =
    try {
      val parts =
        try fs.listStatus(tmp).filter(st => st.isDirectory &&
          st.getPath.getName.startsWith("chain_name="))
        catch {
          case _: java.io.FileNotFoundException =>
            Array.empty[org.apache.hadoop.fs.FileStatus]
        }
      val removedRels = removed.map(relOf(table, _))
      txn(table, what) { base =>
        base.requirePlanned(removedRels, planDv, dvChanges)
        guard(base)
        val stamp = System.nanoTime()
        val landed = scala.collection.mutable.ArrayBuffer.empty[(Path, Long)]
        try parts.foreach { part =>
          // the staged dir name is already Hive-escaped by Spark's
          // write - reuse it verbatim as the target dir name
          val tgt = new Path(s"${dir(table)}/${part.getPath.getName}")
          fs.mkdirs(tgt)
          fs.listStatus(part.getPath)
            .filter(_.getPath.getName.endsWith(".parquet"))
            .zipWithIndex.foreach { case (st, i) =>
              val dst = new Path(tgt, f"$prefix-$stamp-$i%05d.parquet")
              if (!fs.rename(st.getPath, dst))
                throw new java.io.IOException(
                  s"$what of $table failed to land staged files - rolled back")
              landed += ((dst, st.getLen))
            }
        } catch {
          case e: Throwable =>
            landed.foreach(p => fs.delete(p._1, false))
            throw e
        }
        val added = landed.toSeq.map { case (p, b) =>
          (relOf(table, p.toString), b) }
        (Commit(added, removedRels.toSet, dvChanges, heads = heads,
          after = () => retireReplaced(table, what, removed, retain,
            added.map(a => chainOfRel(a._1)).toSet)), added)
      }
    } finally trashOne(tmp)

  /** Remove the files a commit replaced, in its post-publish step:
    * by retention ([[retire]]) or by CHECKED delete, then drop each
    * chain dir the commit emptied (a chain it landed files into is not
    * empty). Manifest-backed readers already stopped seeing the files
    * at the publish, so an undeleted leftover is an invisible ORPHAN,
    * not a visible duplicate — but orphans cost storage and would
    * resurface through [[refreshManifest]], so failures still throw
    * naming the leftovers. Under the lock, the emptied-dir check
    * cannot race a writer landing a fresh file into the chain. */
  private def retireReplaced(table: String, what: String,
                             paths: Seq[String], retain: Boolean,
                             landedChains: Set[String]): Unit = {
    if (retain) retire(table, paths)
    else {
      val undeleted = paths.filterNot(p => fs.delete(new Path(p), false))
      if (undeleted.nonEmpty) throw new java.io.IOException(
        s"$what of $table committed but ${undeleted.size} replaced " +
          s"file(s) could not be deleted - invisible to manifest " +
          s"readers but orphaned on disk: ${undeleted.take(3).mkString(", ")}")
    }
    paths.map(chainOfRel).distinct.filterNot(landedChains).sorted
      .foreach { c =>
        val p = new Path(s"${dir(table)}/chain_name=${escapeChain(c)}")
        if (fs.exists(p) && !fs.listStatus(p).exists(s0 =>
            s0.getPath.getName.endsWith(".parquet")))
          fs.delete(p, true)
      }
  }

  /** Land an externally staged `chain_name=`-partitioned directory as
    * a REPLACE: one transaction that removes `removedAbs` (the files
    * the paired row-level scan planned; a concurrent commit that
    * retired any of them aborts this one with nothing published —
    * [[Lake.ConcurrentWriteException]]) and adds the staged files.
    * `retain = true` moves the replaced originals into the retention
    * area, keeping pinned snapshots readable. The SQL
    * `UPDATE`/`MERGE INTO` commit step
    * ([[graft.sources.LakeRowLevelOperation]]). */
  private[graft] def replaceStaged(table: String, tmp: Path,
                                   removedAbs: Seq[String],
                                   retain: Boolean): Unit = {
    // UPDATE/MERGE rows staged through Spark's own writers never
    // passed the inline guard — validate the replacement files BEFORE
    // the transaction (violation = loud abort, nothing published)
    try validateStagedConstraints(table, tmp)
    catch { case e: Throwable => trashOne(tmp); throw e }
    // the row-level scan reads RAW files (its caller materializes any
    // deletion vectors first), so every replaced file must still be
    // vector-FREE at commit — a vector a rival added since makes this
    // rewrite resurrect its deletes, refuse loudly instead
    landCommit(table, "rowLevelReplace", "replace", tmp, removedAbs, retain,
      planDv = Map.empty)
    ()
  }

  /** Execute a compaction plan for one table: rewrite each multi-file
    * bin into a single coalesced file set, preserving rows exactly
    * (CompactionSpec proves bag equality), one commit per bin. Single-
    * file bins are left untouched — rewriting them would only churn
    * data. `retain = true` moves the replaced originals into the
    * retention area instead of deleting them (see [[upsert]]'s retain).
    * `onlyChains` non-empty bounds the rewrite to the named chains —
    * what a maintenance hook passes so rewrite I/O tracks
    * FRAGMENTATION ([[fragmentedChains]]) instead of table size. */
  def compact(table: String, targetBytes: Long,
              retain: Boolean = false,
              onlyChains: Seq[String] = Seq.empty): Int = {
    val plan = compactionPlan(table, targetBytes)
    val dvAtPlan = dvMapOf(table)
    // single-file bins are normally churn (already compact) — EXCEPT
    // a deletion-vector-bearing file: compaction is the vector's
    // MATERIALIZATION vehicle (rewrite through it, drop the ref), so
    // dv'd singletons rewrite too
    val multi = plan.groupBy(t => (t._1, t._2))
      .filter { case (_, fl) => fl.size > 1 ||
        fl.exists(f => dvAtPlan.contains(relAnywhere(f._3))) }
      .filter { case ((chain, _), _) =>
        onlyChains.isEmpty || onlyChains.contains(chain) }
    if (multi.isEmpty) return 0
    preRewriteHook()
    multi.toSeq.sortBy(_._1).foreach { case ((chain, _), files) =>
      // dv-aware rewrite scan: the output MATERIALIZES each input's
      // vector (deleted rows dropped for good); the publish drops the
      // refs with the removed files
      val merged = readEntries(table, files.map(f => (f._1, f._3, f._4)),
          effectiveSchema(table), dvAtPlan)
        .drop("chain_name")
        .coalesce(1)
      landCommit(table, "compaction", "compacted",
        stage(table, "compact", merged, Some(chain)), files.map(_._3),
        retain, dvAtPlan)
    }
    multi.size
  }

  /** KEY-CLUSTERED compaction — what makes the file-grain [[upsert]]
    * actually prune on real tables. Appends arrive time-ordered while
    * keys (tx hashes) are uniform-random, so EVERY appended file's
    * footer key range spans essentially the whole keyspace and range
    * pruning degenerates to touch-everything. This rewrite
    * range-partitions each chain on `clusterBy` and sorts within
    * partitions, so each output file holds one tight, disjoint key
    * range — after it, a CDC batch over k keys touches O(k) files
    * instead of all of them (ClusterCompactSpec proves the before /
    * after pruning difference; rows are preserved exactly). The
    * single-dimension form of the published formats' OPTIMIZE
    * ZORDER / sort-based clustering. Output file count per chain =
    * ⌈chain bytes ÷ targetBytes⌉ (clamped to 2²⁰ partitions); rewrite
    * is one distributed range-shuffle + sorted write per chain,
    * committed like [[compact]], one commit per chain. `retain` as in
    * [[upsert]]. Returns the number of chains rewritten.
    *
    * With `clusterBy` EMPTY the table's `write.layout` property
    * drives the rewrite instead: `zorder(x,y)` interleaves the two
    * quantized dimensions ([[graft.ops.Layout.zOrderLayout]]) and
    * clusters on the Morton value, so each output file is a 2-D tile
    * — footer [min,max] tight on BOTH x and y, and [[readRanges]]
    * prunes files for a bound on EITHER. `onlyChains` as in
    * [[compact]]: non-empty bounds the rewrite to the named chains so
    * maintenance I/O tracks fragmentation. */
  def clusterCompact(table: String, targetBytes: Long,
                     clusterBy: Seq[String] = Seq.empty,
                     retain: Boolean = false,
                     onlyChains: Seq[String] = Seq.empty): Int = {
    val zorder = if (clusterBy.nonEmpty) None else layoutProperty(table)
    require(clusterBy.nonEmpty || zorder.isDefined,
      "clusterCompact needs cluster columns or a write.layout property")
    require(targetBytes > 0, "targetBytes must be positive")
    val schema = effectiveSchema(table)
    // the z-order pipeline materializes working columns by these
    // names; a data column sharing one would be overwritten and then
    // dropped from the rewrite — an entire column silently erased by
    // a maintenance pass. Refuse before touching anything.
    zorder.foreach { _ =>
      val clash = schema.fieldNames.filter(
        Set("z", "xq", "yq", "file_id"))
      require(clash.isEmpty,
        s"zorder rewrite of $table would overwrite data column(s) " +
          s"${clash.mkString(", ")} - these names are reserved by the " +
          "layout pipeline; rename them or drop the write.layout property")
    }
    val dvAtPlan = dvMapOf(table)
    val byChain = fileInventory(table).groupBy(_._1)
      .filter { case (chain, _) =>
        onlyChains.isEmpty || onlyChains.contains(chain) }
      .toSeq.sortBy(_._1)
    if (byChain.nonEmpty) preRewriteHook()
    def nOut(files: Seq[(String, String, Long)]): Int =
      math.min(1L << 20, math.max(1L,
        (files.map(_._3).sum + targetBytes - 1) / targetBytes)).toInt
    // churn guard (compact's single-file-bin rule): a single-file
    // chain that would rewrite into a single file again gains no
    // pruning granularity — rewriting it only burns I/O and
    // invalidates snapshots. EXCEPT a dv'd file: clustering is a
    // materialization vehicle like compact.
    val todo = byChain.filterNot { case (_, files) =>
      files.size == 1 && nOut(files) == 1 &&
        !dvAtPlan.contains(relAnywhere(files.head._2))
    }
    todo.foreach { case (chain, files) =>
      val base = readEntries(table, files, schema, dvAtPlan)
        .drop("chain_name")
      val clustered = zorder match {
        case None => base
          .repartitionByRange(nOut(files), clusterBy.map(col): _*)
          .sortWithinPartitions(clusterBy.map(col): _*)
        case Some((x, y)) => graft.ops.Layout
          .zOrderLayout(base, col(x), col(y))
          .drop("xq", "yq", "file_id")
          .repartitionByRange(nOut(files), col("z"))
          .sortWithinPartitions(col("z"))
          .drop("z")
      }
      landCommit(table, "clustering", "clustered",
        stage(table, "cluster", clustered, Some(chain)), files.map(_._2),
        retain, dvAtPlan)
    }
    todo.size
  }

  /** Materialize deletion vectors: copy-on-write rewrite of exactly
    * the DV-bearing files (optionally narrowed to `onlyRels`), each
    * read THROUGH its vector so the output drops the deleted rows for
    * good and the manifest publish drops the refs. A rewrite-only
    * commit (`#op=dv-materialize` ∈ [[rewriteOps]]): no logical row
    * changes, invisible to the change feeds. The SQL row-level ops
    * (UPDATE/MERGE) run this first — their group-based rewrite
    * machinery reads raw files and would otherwise resurrect DV'd
    * rows — and operators can call it to shed vector debt without a
    * full compaction. Returns the number of files rewritten. */
  def materializeDvs(table: String,
                     onlyRels: Set[String] = Set.empty): Int = {
    val dvAtPlan = dvMapOf(table)
    if (dvAtPlan.isEmpty) return 0
    val targets = fileInventory(table).filter { e =>
      val rel = relAnywhere(e._2)
      dvAtPlan.contains(rel) && (onlyRels.isEmpty || onlyRels(rel))
    }
    if (targets.isEmpty) return 0
    val tmp = stage(table, "dvmat",
      readEntries(table, targets, effectiveSchema(table), dvAtPlan))
    // retained: pinned snapshots of the pre-materialize state stay
    // readable (file + vector both survive until vacuum)
    landCommit(table, "dv-materialize", "dvmat", tmp, targets.map(_._2),
      retain = true, dvAtPlan)
    targets.size
  }

  // ── Per-file stats: one footer reader, one fill ───────────────────

  /** Footer opens performed by this Lake instance — the sidecar specs
    * and scale probes assert a warm plan costs ZERO of these. */
  val footerReads = new java.util.concurrent.atomic.AtomicLong

  /** Per-file stats keyed by (path, length, column): the column's
    * [min, max] from the parquet footer, and its (null count, row
    * count) under the `column#nulls` pseudo-column. The upsert
    * planner, the pruned reads, SQL data skipping ([[statsProvider]])
    * and the metadata aggregates all read it; [[fillStats]] and the
    * sidecar fold ([[loadStats]]) are its only writers. Rewrites
    * always mint new file names, so a stale entry can never serve a
    * changed file. */
  private[v3] val rangeCache = new java.util.concurrent.ConcurrentHashMap[
    String, Option[(Any, Any)]]()

  /** The driver-heap stop-loss on [[rangeCache]], enforced by both of
    * its writers: the sidecar fold stops AT the bound, and
    * [[fillStats]] clears the cache once it has grown 64k entries past
    * it. Sized for (files × stats columns × 2) entries — each column's
    * [min,max] AND its `#nulls` pseudo-entry — so 4M ≈ a 250k-file
    * table at the 8-column default, or 10⁶ files with stats.columns
    * pinned to the two that matter (~1.6 GB worst case, the
    * snapshot-state budget the published formats' drivers carry at
    * this scale). On a clear the sidecar-folded marker resets too, so
    * the next plan re-folds the persisted stats instead of silently
    * never pruning again. The SLACK above the fold's stop line: a
    * capped fold leaves the cache AT the bound, and clearing at the
    * same threshold would wipe the just-folded entries on the very next
    * fill — then refold, cap, clear again: a thrash loop that destroys
    * every table's stats per plan. Test seam: specs shrink it to drive
    * the overflow paths without 4M real entries. */
  private[graft] var rangeCacheBound: Int = 4000000

  /** Scheme-insensitive cache key: inventory paths are fully qualified
    * (`file:/…`) while table-relative reconstruction uses the raw root,
    * so both must hash to the same entry. */
  private def rangeKey(path: String, bytes: Long, column: String): String =
    s"${new Path(path).toUri.getPath}:$bytes:$column"

  // ── Persisted file-stats sidecar ───────────────────────────────────
  //
  // The in-process rangeCache dies with the driver; a fleet restarting
  // a CDC stream would re-open every footer on its first batch. The
  // sidecar persists each footer-read (file, column) → [min, max] and
  // null count under $root/_filestats/$table as append-only shards — the
  // key-range column a real manifest carries, at its smallest. Entries
  // are keyed by (relative path, byte length): rewrites mint new file
  // names, so a stale entry can never describe live bytes — it just
  // stops matching and is dropped at the next shard compaction.
  //
  // DERIVED-CACHE CONTRACT: the sidecar is never truth about table
  // MEMBERSHIP — the manifest is. Planning intersects sidecar entries
  // with the live inventory, so a crash window leaving an entry whose
  // file was never committed is INERT (never consulted), and a
  // committed file whose entry was never written costs exactly one
  // footer re-read on the next plan (then re-persists) — correctness
  // is unconditional, the sidecar only moves footer I/O
  // (LakeStatsSidecarSpec's crash-window cases). Shards
  // are written by the single writer the lake already assumes; loading
  // tolerates duplicate entries because two entries for the same
  // (path, bytes, column) are the same immutable fact.

  private def statsDir(table: String) = new Path(s"$root/_filestats/$table")

  /** Per table: the sidecar shard NAMES this instance has already
    * folded into the rangeCache. The fold is INCREMENTAL and
    * freshness-checked by shard-set diff (one listStatus per
    * refresh): shards another driver persisted — or a drop+recreate's
    * fresh set — fold in at the next refresh point (provider/relation
    * creation per manifest version, upsert planning, commit-time
    * collection), costing O(new shards), never a re-read of the whole
    * sidecar. A once-per-instance fold marker here once made a
    * catalog's long-lived Lake silently stop pruning files committed
    * through any OTHER Lake instance (including the same process's
    * drop+rebuild) — conservative, but a silent cost regression. */
  private val statsFoldedShards = new java.util.concurrent.ConcurrentHashMap[
    String, Set[String]]()

  private def b64(s: Array[Byte]): String =
    java.util.Base64.getEncoder.encodeToString(s)
  private def unb64(s: String): Array[Byte] =
    java.util.Base64.getDecoder.decode(s)

  /** One sidecar line: relB64 TAB bytes TAB colB64 TAB kind TAB mn TAB mx
    * — kind S = UTF8 byte-order stats (base64), L = integral (decimal),
    * D = widened double (Double.toString, a lossless round-trip),
    * N = footer had no usable stats (persisted too: "unknown" is also
    * worth not re-reading). Null counts ride as ordinary L lines
    * under the `column#nulls` pseudo-column: (nullCount, rowCount). */
  private def statsLine(rel: String, bytes: Long, column: String,
                        r: Option[(Any, Any)]): String = {
    val (kind, mn, mx) = r match {
      case Some((a: Array[Byte], b: Array[Byte])) => ("S", b64(a), b64(b))
      case Some((a: Long, b: Long)) => ("L", a.toString, b.toString)
      case Some((a: Double, b: Double)) => ("D", a.toString, b.toString)
      // wide-decimal bounds: signed big-endian two's complement
      case Some((a: java.math.BigInteger, b: java.math.BigInteger)) =>
        ("B", b64(a.toByteArray), b64(b.toByteArray))
      case Some(other) => throw new IllegalStateException(
        s"unpersistable footer stats $other")
      case None => ("N", "", "")
    }
    s"${b64(rel.getBytes("UTF-8"))}\t$bytes\t" +
      s"${b64(column.getBytes("UTF-8"))}\t$kind\t$mn\t$mx"
  }

  /** Column-name decode memo: a million-line sidecar carries ~8
    * distinct column strings, each base64'd per line — decoding once
    * per distinct value trims the cold fold measurably. Bounded. */
  private val colB64Memo =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def parseStatsLine(line: String)
      : Option[(String, Long, String, Option[(Any, Any)])] = {
    val f = line.split('\t')
    if (f.length < 4) return None
    val rel = new String(unb64(f(0)), "UTF-8")
    if (colB64Memo.size > 512) colB64Memo.clear()
    val col = colB64Memo.computeIfAbsent(f(2),
      k => new String(unb64(k), "UTF-8"))
    val r = f(3) match {
      case "S" => Some((unb64(f(4)): Any, unb64(f(5)): Any))
      case "L" => Some((f(4).toLong: Any, f(5).toLong: Any))
      case "D" => Some((f(4).toDouble: Any, f(5).toDouble: Any))
      case "B" => Some((new java.math.BigInteger(unb64(f(4))): Any,
        new java.math.BigInteger(unb64(f(5))): Any))
      case _ => None
    }
    Some((rel, f(1).toLong, col, r))
  }

  private def relOf(table: String, path: String): String = {
    val base = fs.makeQualified(new Path(dir(table))).toString
    fs.makeQualified(new Path(path)).toString
      .stripPrefix(base).stripPrefix("/")
  }

  /** The table's sidecar shard names: one listing, a missing
    * directory reading as no shards. */
  private def statsShards(table: String): Set[String] =
    try fs.listStatus(statsDir(table)).map(_.getPath.getName)
      .filter(_.startsWith("stats-")).toSet
    catch { case _: java.io.FileNotFoundException => Set.empty }

  /** Parse every entry of shard `p` into `f` — in parallel chunks when
    * the shard is big (a compacted sidecar is one multi-million-line
    * shard, and the serial parse — base64 decodes + cache inserts — was
    * the dominant cold-plan cost at 10⁶ files in ManifestProbe's stats
    * mode), so `f` must be thread-safe. A rival compactor can delete a
    * listed shard mid-read: its entries live on in the rival's merged
    * shard (folded at the next refresh), so it is skipped — pruning
    * just stays conservative for the window. */
  private def readShardEntries(p: Path)(
      f: ((String, Long, String, Option[(Any, Any)])) => Unit): Unit = {
    val lines =
      try {
        val in = fs.open(p)
        try new String(org.apache.commons.io.IOUtils.toByteArray(in),
          "UTF-8").split('\n')
        finally in.close()
      } catch {
        case _: java.io.FileNotFoundException => Array.empty[String]
      }
    def parseRange(from: Int, until: Int): Unit =
      (from until until).foreach { i =>
        if (lines(i).nonEmpty) parseStatsLine(lines(i)).foreach(f)
      }
    val threads = math.min(8, Runtime.getRuntime.availableProcessors)
    if (lines.length < 65536 || threads < 2) parseRange(0, lines.length)
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
      try {
        implicit val ec: scala.concurrent.ExecutionContext =
          scala.concurrent.ExecutionContext.fromExecutor(pool)
        val step = (lines.length + threads - 1) / threads
        scala.concurrent.Await.result(
          scala.concurrent.Future.sequence((0 until threads).map { t =>
            scala.concurrent.Future(parseRange(t * step,
              math.min(lines.length, (t + 1) * step)))
          }), scala.concurrent.duration.Duration.Inf)
      } finally pool.shutdown()
    }
  }

  /** Fold the table's persisted stats shards into the rangeCache,
    * INCREMENTALLY: one listStatus decides which shards are new since
    * the last fold, and only those are read — a refresh after one
    * commit costs O(that commit's shard), never a re-read of the whole
    * sidecar; a no-change refresh costs the listing alone. Compacts
    * the shard set when it fragments, dropping entries for files no
    * longer in the live inventory. Freshness points: each
    * provider/relation creation (per manifest version) and every
    * [[fillStats]] (upsert planning, pruned reads, commit-time
    * collection). */
  private def loadStats(table: String): Unit = {
    val d = statsDir(table)
    val names = statsShards(table)
    val folded = statsFoldedShards.getOrDefault(table, Set.empty)
    if (names == folded) return
    val tablePrefix = dir(table)
    // the rangeCache bound applies HERE too: a sidecar bigger than the
    // cap (10⁶ files × the 8-column default) must not fold unboundedly
    // past the documented envelope. Folding stops at the cap — shards
    // not folded stay OUT of statsFoldedShards, so a later fold (after
    // the overflow clear) can still pick them up; un-folded stats are
    // conservatively correct (files with unknown stats are never
    // pruned).
    val foldedNow = scala.collection.mutable.Set.empty[String]
    var capped = false
    (names -- folded).toSeq.sorted.foreach { name =>
      if (!capped && rangeCache.size > rangeCacheBound) {
        capped = true
        org.slf4j.LoggerFactory.getLogger(classOf[Lake]).warn(
          s"stats fold for $table stopped at the $rangeCacheBound-entry " +
            "rangeCache bound - remaining shards fold after the next " +
            "overflow clear; un-folded files simply skip pruning")
      }
      if (!capped) {
        foldedNow += name
        // concurrent putIfAbsent is safe: entries are independent facts
        readShardEntries(new Path(d, name)) { case (rel, bytes, c, r) =>
          rangeCache.putIfAbsent(rangeKey(s"$tablePrefix/$rel", bytes, c), r)
        }
      }
    }
    statsFoldedShards.put(table,
      if (capped) folded ++ foldedNow else names)
    if (!capped && names.size > 32) { // merge + prune dead entries
      val shards = names.toSeq.sorted.map(new Path(d, _))
      val live = fileInventory(table)
        .map(f => (relOf(table, f._2), f._3)).toSet
      val kept = new java.util.concurrent.ConcurrentLinkedQueue[
        (String, Long, String, Option[(Any, Any)])]()
      shards.foreach(readShardEntries(_)(e =>
        if (live((e._1, e._2))) kept.add(e)))
      import scala.jdk.CollectionConverters._
      writeStatsShard(table, kept.asScala.toSeq
        .distinctBy(e => (e._1, e._2, e._3))
        .map(e => statsLine(e._1, e._2, e._3, e._4)))
      // CONCURRENT compactions are legal (multi-writer commits all
      // refresh; two may cross the >32 threshold together): each
      // writes its own merged shard (duplicate entries are the same
      // immutable facts — tolerated by the sidecar contract) and
      // deletes whatever inputs still exist. A shard that is GONE
      // because the rival already removed it is success, not
      // staleness; only a shard that survives our delete AND still
      // exists is a real leak worth failing loudly over.
      val undeleted = shards.filterNot(p =>
        fs.delete(p, false) || !fs.exists(p))
      if (undeleted.nonEmpty) throw new java.io.IOException(
        s"stats shard compaction of $table left ${undeleted.size} " +
          s"stale shard(s): ${undeleted.take(3).mkString(", ")}")
      // the merged shard folds at the next refresh (all entries are
      // already cached); record the post-compaction set as folded
      statsFoldedShards.put(table, statsShards(table))
    }
  }

  private def writeStatsShard(table: String, lines: Seq[String]): Unit = {
    if (lines.isEmpty) return
    val d = statsDir(table)
    fs.mkdirs(d)
    val p = new Path(d, s"stats-${java.util.UUID.randomUUID()}.txt")
    val out = fs.create(p, false)
    try out.write((lines.mkString("\n") + "\n").getBytes("UTF-8"))
    finally out.close()
  }

  // ── The footer reader and the fill ─────────────────────────────────
  //
  // One footer reader ([[footerRangesMulti]]) extracts every requested
  // column's [min, max] and null count in one open; one fill
  // ([[fillStats]]) caches and persists what it reads. Its callers are
  // the commit warm-up (the table's stats columns over the commit's
  // own files), [[analyzeTable]], the upsert planner and the pruned
  // reads (their key column over the files they plan), so SQL data
  // skipping (graft.plans.DataSkipping — Delta's stats column /
  // Iceberg's manifest bounds, at their smallest) and key planning
  // warm each other. Collection is O(commit); SQL plan time serves
  // from the folded cache and NEVER opens a footer. Driver memory
  // envelope: (live files × stats columns × 2) cache entries — the
  // default caps columns at 8; million-file tables should pin
  // `stats.columns` to the few that queries actually filter on (the
  // published formats make the same tradeoff with their
  // indexed-columns knobs).

  /** Parquet physical types whose footer stats map losslessly into
    * the cmp domain: BINARY+UTF8 → bytes under unsigned order,
    * INT32/INT64 (signed, plain/date/timestamp-micros) → long,
    * FLOAT/DOUBLE → widened double (with NaN/-0.0 care in the
    * extractor — a NaN-bearing file carries NO parquet min/max, the
    * writer omits them, so it reads back unusable and is never
    * pruned). INT96 (deprecated, unordered stats), unsigned ints,
    * millis timestamps (domain mismatch with Spark's micros
    * literals), boolean: skipped — an unprunable column is correct,
    * a mis-ordered one is not.
    *
    * `expected` is the TABLE schema's type for the column: decimal
    * stats are the UNSCALED integer, so they compare against a pushed
    * literal's unscaled value only when the file's declared
    * (scale, precision) actually matches the schema the literal was
    * typed under — every lake-written file does, but a foreign or
    * pre-evolution file at a different scale would silently mis-prune;
    * the check turns that implicit invariant into an enforced one
    * (mismatch → stats skipped, file never pruned). */
  private def statsExtractable(
      pt: org.apache.parquet.schema.PrimitiveType,
      expected: Option[org.apache.spark.sql.types.DataType]): Boolean = {
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    import org.apache.parquet.schema.LogicalTypeAnnotation
    val ann = pt.getLogicalTypeAnnotation
    pt.getPrimitiveTypeName match {
      case BINARY =>
        ann.isInstanceOf[LogicalTypeAnnotation.StringLogicalTypeAnnotation]
      case INT32 | INT64 => ann match {
        case null => true
        case i: LogicalTypeAnnotation.IntLogicalTypeAnnotation => i.isSigned
        case _: LogicalTypeAnnotation.DateLogicalTypeAnnotation => true
        case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
          t.getUnit == LogicalTypeAnnotation.TimeUnit.MICROS
        // int-backed decimals: stats are the UNSCALED integer; a
        // pushed literal always carries the column's exact decimal
        // type (DataSkipping.toCmp), so the unscaled domains line up
        // ONLY when the file's declared scale equals the schema's
        // (and its precision fits) — enforced here, not assumed.
        case dec: LogicalTypeAnnotation.DecimalLogicalTypeAnnotation =>
          expected.exists {
            case d: org.apache.spark.sql.types.DecimalType =>
              dec.getScale == d.scale && dec.getPrecision <= d.precision
            case _ => false
          }
        case _ => false
      }
      case FLOAT | DOUBLE => ann == null
      // FIXED_LEN_BYTE_ARRAY decimals (precision > 18): stats are
      // SIGNED big-endian two's-complement binaries — a distinct cmp
      // domain (BigInteger), same scale/precision gate as above.
      case FIXED_LEN_BYTE_ARRAY => ann match {
        case dec: LogicalTypeAnnotation.DecimalLogicalTypeAnnotation =>
          expected.exists {
            case d: org.apache.spark.sql.types.DecimalType =>
              dec.getScale == d.scale && dec.getPrecision <= d.precision
            case _ => false
          }
        case _ => false
      }
      case _ => false
    }
  }

  /** One footer open, every requested column's [min, max] extracted —
    * the only code that opens a footer for min/max stats. Values are
    * in the [[graft.plans.DataSkipping.cmp]] domain: UTF8 bytes under
    * unsigned order, integrals as longs, floats as doubles, wide
    * decimals as BigIntegers. Each column also yields its
    * `column#nulls` entry. Missing columns, guarded-out physical types
    * and stat-less footers yield None ("known unusable" — persisted
    * too, so the file is never re-opened for them). `expected` is the
    * table schema's type per column (the decimal scale gate in
    * [[statsExtractable]]).
    *
    * HARD WRITER INVARIANT (float/double): NaN-bearing files must
    * carry NO usable min/max — true of every file THIS lake writes
    * (parquet-mr omits/poisons float stats when NaN is present,
    * PARQUET-1225). A spec-compliant foreign writer that EXCLUDES NaN
    * from finite min/max bounds would break it: under Spark's
    * NaN-is-largest ordering, `px > C` over such a file would wrongly
    * skip the NaN rows. Files only enter a lake table through this
    * engine's own writes (append/upsert/ingest — there is no
    * file-adoption path; refreshManifest adopts LOCATIONS, but a
    * foreign parquet file under a lake table dir is already outside
    * every documented contract), so the invariant holds by
    * construction; if an adoption path is ever added, gate
    * double-column extraction on written-by-this-lake provenance. */
  private def footerRangesMulti(path: String, columns: Seq[String],
      expected: String => Option[org.apache.spark.sql.types.DataType])
      : Map[String, Option[(Any, Any)]] = {
    import scala.jdk.CollectionConverters._
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    footerReads.incrementAndGet()
    val in = HadoopInputFile.fromPath(new Path(path),
      spark.sparkContext.hadoopConfiguration)
    val reader = ParquetFileReader.open(in)
    try {
      val blocks = reader.getFooter.getBlocks.asScala
      columns.flatMap { column =>
        def rangeOf: Option[(Any, Any)] = {
          if (blocks.isEmpty) return None
          var mn: Any = null
          var mx: Any = null
          for (b <- blocks) {
            val cc = b.getColumns.asScala
              .find(_.getPath.toDotString == column).orNull
            if (cc == null ||
                !statsExtractable(cc.getPrimitiveType, expected(column)))
              return None
            val st = cc.getStatistics
            if (st == null || st.isEmpty || !st.hasNonNullValue) return None
            val isFlba = cc.getPrimitiveType.getPrimitiveTypeName ==
              org.apache.parquet.schema.PrimitiveType
                .PrimitiveTypeName.FIXED_LEN_BYTE_ARRAY
            val (lo, hi) = (st.genericGetMin, st.genericGetMax) match {
              // FLBA decimals: SIGNED big-endian two's complement —
              // decode to BigInteger (its own cmp domain; the unsigned
              // byte order would invert every negative bound). Binary
              // stats for these are only EXPOSED by parquet-mr when the
              // footer's declared sort order is the correct
              // logical-type order (PARQUET-686 guard), so a legacy
              // unsigned-ordered file reads back stat-less here.
              case (a: org.apache.parquet.io.api.Binary,
                    b2: org.apache.parquet.io.api.Binary) if isFlba =>
                (new java.math.BigInteger(a.getBytes),
                  new java.math.BigInteger(b2.getBytes))
              case (a: org.apache.parquet.io.api.Binary,
                    b2: org.apache.parquet.io.api.Binary) =>
                (a.getBytes, b2.getBytes)
              case (a: java.lang.Long, b2: java.lang.Long) =>
                (a.longValue(), b2.longValue())
              case (a: java.lang.Integer, b2: java.lang.Integer) =>
                (a.longValue(), b2.longValue())
              // float/double → widened double. Guards: a NaN bound is
              // unusable (legacy writers — modern parquet omits the
              // stats entirely when NaN is present, PARQUET-1225; see
              // the NaN writer invariant in the scaladoc above);
              // -0.0 normalizes to 0.0, the same normalization
              // DataSkipping.toCmp applies to literals, so equality
              // across the zeros can never mis-prune
              case (a: java.lang.Double, b2: java.lang.Double) =>
                if (a.isNaN || b2.isNaN) return None
                (if (a.doubleValue() == 0.0d) 0.0d else a.doubleValue(),
                  if (b2.doubleValue() == 0.0d) 0.0d else b2.doubleValue())
              case (a: java.lang.Float, b2: java.lang.Float) =>
                if (a.isNaN || b2.isNaN) return None
                (if (a.floatValue() == 0.0f) 0.0d else a.doubleValue(),
                  if (b2.floatValue() == 0.0f) 0.0d else b2.doubleValue())
              case _ => return None
            }
            mn = if (mn == null || keyOrder(lo, mn) < 0) lo else mn
            mx = if (mx == null || keyOrder(hi, mx) > 0) hi else mx
          }
          Some((mn, mx))
        }
        // per-file NULL COUNT (+ row count), persisted as the
        // `column#nulls` pseudo-column — two longs, so it rides the
        // existing sidecar line format and cache untouched. Usable
        // iff EVERY block reports numNulls for the column (the
        // physical-type guard doesn't apply: null counts are
        // order-free facts, valid even where min/max ordering isn't)
        def nullsOf: Option[(Any, Any)] = {
          var nulls = 0L
          var rows = 0L
          for (b <- blocks) {
            val cc = b.getColumns.asScala
              .find(_.getPath.toDotString == column).orNull
            if (cc == null) return None
            val st = cc.getStatistics
            if (st == null || !st.isNumNullsSet) return None
            nulls += st.getNumNulls
            rows += b.getRowCount
          }
          Some((Long.box(nulls), Long.box(rows)))
        }
        Seq(column -> rangeOf, s"$column#nulls" -> nullsOf)
      }.toMap
    } finally reader.close()
  }

  private def prunableStatsType(
      dt: org.apache.spark.sql.types.DataType): Boolean = dt match {
    case org.apache.spark.sql.types.StringType |
         org.apache.spark.sql.types.ByteType |
         org.apache.spark.sql.types.ShortType |
         org.apache.spark.sql.types.IntegerType |
         org.apache.spark.sql.types.LongType |
         org.apache.spark.sql.types.DateType |
         org.apache.spark.sql.types.TimestampType |
         org.apache.spark.sql.types.DoubleType |
         org.apache.spark.sql.types.FloatType => true
    // decimals of EVERY precision: ≤18 ride INT32/INT64 unscaled
    // longs, >18 ride FIXED_LEN_BYTE_ARRAY signed big-endian →
    // BigInteger (the r18 cmp-domain arm)
    case _: org.apache.spark.sql.types.DecimalType => true
    case _ => false
  }

  /** The columns this table persists data-skipping stats for:
    * `stats.columns` (explicit comma list — the million-file knob)
    * when set, else every prunable-type data column in schema order
    * capped at `stats.maxColumns` (default 8); `stats.collect=false`
    * disables collection. Unknown explicit columns refuse loudly —
    * a typo'd list silently collecting nothing would read as
    * "skipping enabled" while pruning no file, the silent-wrong-cost
    * twin of a wrong result. */
  private[graft] def statsColumns(table: String): Seq[String] = {
    val props = tableProperties(table)
    if (props.get("stats.collect").contains("false")) return Seq.empty
    val schema = effectiveSchema(table)
    props.get("stats.columns") match {
      case Some(list) =>
        val cols = list.split(',').map(_.trim).filter(_.nonEmpty).toSeq
        val missing = cols.filterNot(schema.fieldNames.contains)
        require(missing.isEmpty,
          s"stats.columns of $table names unknown column(s) " +
            s"${missing.mkString(", ")} (have: " +
            s"${schema.fieldNames.mkString(", ")})")
        cols
      case None =>
        val max = props.get("stats.maxColumns").flatMap(_.toIntOption)
          .getOrElse(8)
        schema.fields.iterator
          .filter(f => f.name != "chain_name" && prunableStatsType(f.dataType))
          .map(_.name).take(max).toSeq
    }
  }

  /** Test seam: stats-collection failures swallowed post-commit (the
    * commit is already durable; the sidecar is a derived cache) —
    * never silent, counted and stderr-logged. */
  private[graft] val statsCollectFailures =
    new java.util.concurrent.atomic.AtomicLong

  /** THE stats fill, shared by every planner and the commit warm-up:
    * fold the sidecar ([[loadStats]]), footer-read on one pool the
    * files that lack a range or a `#nulls` entry for any of `columns`
    * (one open per file, its missing columns together), put what it
    * read into [[rangeCache]] under the bound, persist it as one shard,
    * and return the (path, column) ranges of every requested pair —
    * hits are taken when looked up, so a bound clear on a concurrent
    * fill never takes a value from under the caller. Also returns the
    * number of files read. Paths may be qualified (`file:/…`) or built
    * on the raw root ([[rangeKey]] maps both to one entry); the
    * returned map is keyed by the path as given. */
  private def fillStats(table: String, files: Seq[(String, Long)],
                        columns: Seq[String])
      : (Int, Map[(String, String), Option[(Any, Any)]]) = {
    if (files.isEmpty || columns.isEmpty) return (0, Map.empty)
    loadStats(table)
    val hits = Map.newBuilder[(String, String), Option[(Any, Any)]]
    val work = files.flatMap { case (path, bytes) =>
      val missing = columns.filter { c =>
        val r = rangeCache.get(rangeKey(path, bytes, c))
        val hit = r != null &&
          rangeCache.containsKey(rangeKey(path, bytes, s"$c#nulls"))
        if (hit) hits += (((path, c), r))
        !hit
      }
      if (missing.isEmpty) None else Some((path, bytes, missing))
    }
    if (work.isEmpty) return (0, hits.result())
    // schema types feed the extraction's decimal scale/precision gate
    // (statsExtractable): resolved once per fill, not per file
    val schemaTypes = effectiveSchema(table).fields
      .map(f => f.name -> f.dataType).toMap
    val fresh: Seq[(String, Long, Map[String, Option[(Any, Any)]])] = {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(16, work.size))
      try {
        implicit val ec: scala.concurrent.ExecutionContext =
          scala.concurrent.ExecutionContext.fromExecutor(pool)
        scala.concurrent.Await.result(
          scala.concurrent.Future.sequence(work.map {
            case (path, bytes, missing) => scala.concurrent.Future {
              val read = footerRangesMulti(path, missing, schemaTypes.get)
              if (rangeCache.size > rangeCacheBound + 65536) {
                rangeCache.clear()
                statsFoldedShards.clear()
              }
              read.foreach { case (c, r) =>
                rangeCache.put(rangeKey(path, bytes, c), r) }
              (path, bytes, read)
            }
          }), scala.concurrent.duration.Duration.Inf)
      } finally pool.shutdown()
    }
    writeStatsShard(table, fresh.flatMap { case (path, bytes, read) =>
      val rel = relOf(table, path)
      read.map { case (c, r) => statsLine(rel, bytes, c, r) }
    })
    fresh.foreach { case (path, _, read) =>
      read.foreach { case (c, r) => hits += (((path, c), r)) } }
    (work.size, hits.result())
  }

  /** Tables whose commit-time stats collection is SUSPENDED by an
    * enclosing [[deferStats]] scope (the segment-ingest recipe). */
  private val statsDeferred =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Suspend per-commit stats collection for `table` inside `body`,
    * then backfill ONCE at scope exit ([[analyzeTable]]) — the
    * commit-loop recipe: a segmented ingest lands tens of commits
    * back-to-back, and paying the footer pool spin-up + a sidecar
    * shard write + a shard listing PER COMMIT is pure overhead when
    * nothing reads the table mid-loop. Deferred, the same footers are
    * read once at the end into ONE shard. Crash inside `body` leaves
    * stats merely missing (conservatively correct) until the next
    * analyze/backfill; the finally still attempts it. Scopes don't
    * nest per table (a Set, not a counter): a reentrant or concurrent
    * scope on the same table REFUSES LOUDLY below — silently admitting
    * it would re-enable per-commit stats (and double-run the backfill)
    * when the inner scope exits, un-deferring the outer one. */
  def deferStats[A](table: String)(body: => A): A = {
    require(statsDeferred.add(table),
      s"deferStats($table) is already active in this process - scopes " +
        "do not nest per table (the inner exit would silently " +
        "un-defer the outer scope); sequence the loops instead")
    try body
    finally {
      statsDeferred.remove(table)
      try analyzeTable(table)
      catch {
        case scala.util.control.NonFatal(e) =>
          statsCollectFailures.incrementAndGet()
          System.err.println(
            s"[graft.lake] deferred stats backfill for $table failed " +
              s"(pruning stays conservative, run graft_analyze to " +
              s"retry): $e")
      }
      ()
    }
  }

  /** The commit-time stats warm-up: [[fillStats]] of the table's
    * stats columns over THIS commit's just-landed files. Runs OUTSIDE
    * the commit lock, so its cost is O(commit files), never O(table).
    * Derived-cache failure contract: a commit whose warm-up dies must
    * still report success (the manifest is published; pruning just
    * stays conservative for those files until [[analyzeTable]]) — but
    * never silently: counted ([[statsCollectFailures]]) and logged.
    * Skipped wholesale inside a [[deferStats]] scope. */
  private def collectStatsQuietly(table: String,
                                  added: Seq[(String, Long)]): Unit = {
    if (statsDeferred.contains(table)) return
    try fillStats(table,
      added.map { case (rel, bytes) => (s"${dir(table)}/$rel", bytes) },
      statsColumns(table))
    catch {
      case scala.util.control.NonFatal(e) =>
        statsCollectFailures.incrementAndGet()
        System.err.println(
          s"[graft.lake] stats warm-up for $table failed " +
            s"(${added.size} file(s); pruning stays conservative, " +
            s"run graft_analyze to retry): $e")
    }
  }

  /** Backfill data-skipping stats for EVERY live file missing them —
    * the adoption/upgrade path (files committed before stats existed,
    * or before a `stats.columns` change, or whose sidecar predates
    * null-count persistence) and the graft_analyze TVF's engine.
    * Returns the number of files footer-read. Explicitly invoked and
    * O(missing files) — the plan path itself never does this. */
  def analyzeTable(table: String): Long = {
    val cols = statsColumns(table)
    if (cols.isEmpty) 0L
    else fillStats(table, fileInventory(table).map(f => (f._2, f._3)),
      cols)._1.toLong
  }

  // ── Streaming-sink idempotence registry ────────────────────────────
  //
  // writeStream.format("lake") needs exactly-once across restarts:
  // Structured Streaming replays the last un-acknowledged micro-batch
  // after a crash, and an APPEND re-applied is a duplicate. Two
  // complementary records close every window (the Delta txn-action
  // design, at its smallest):
  //  - the commit HEADER `#txn=appId:batchId` — written atomically
  //    with the manifest publish, so a crash between the sink's
  //    commit and anything else still leaves the batch discoverable;
  //    bounded by manifest retention (covers the engine's
  //    one-batch replay window with the minRetainedCommits floor);
  //  - the PROGRESS MARKER under `_streamtxn/` — written after the
  //    commit, survives retention (covers a sink idle long enough
  //    for foreign writers to expire its last commit's header).

  private def streamTxnDir(table: String) =
    new Path(s"$root/_streamtxn/$table")

  private def txnMarkerPath(table: String, appId: String): Path = {
    // appId is commonly a checkpoint PATH — hash to a flat filename
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(appId.getBytes("UTF-8")).map("%02x".format(_)).mkString
    new Path(streamTxnDir(table), s"txn-$h.txt")
  }

  /** Highest batchId this (table, appId) sink durably applied — max
    * of the progress marker and any retained commit's `#txn` header;
    * -1 = none. One marker read + O(retained commits) cached header
    * reads. */
  def lastSinkBatch(table: String, appId: String): Long = {
    val marker: Long = {
      val p = txnMarkerPath(table, appId)
      try {
        val in = fs.open(p)
        val s = try new String(
          org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8").trim
        finally in.close()
        s.toLongOption.getOrElse(-1L)
      } catch { case _: java.io.FileNotFoundException => -1L }
    }
    val log = logListing(table)
    val pre = s"$appId:"
    val fromHeaders = log.kinds.iterator
      .map { case (v, d) => commitInfo(table, log.inc, v, d).heads.txn }
      .filter(_.startsWith(pre))
      .flatMap(_.stripPrefix(pre).toLongOption)
      .foldLeft(-1L)(math.max)
    math.max(marker, fromHeaders)
  }

  /** Advance the sink's progress marker (post-commit; tmp+rename so a
    * concurrent reader never sees a torn value). */
  private[graft] def recordSinkBatch(table: String, appId: String,
                                     batchId: Long): Unit = {
    val d = streamTxnDir(table)
    fs.mkdirs(d)
    val tmp = new Path(d, s".txn-tmp-${java.util.UUID.randomUUID()}")
    val out = fs.create(tmp, true)
    try out.write(batchId.toString.getBytes("UTF-8")) finally out.close()
    val tgt = txnMarkerPath(table, appId)
    fs.delete(tgt, false)
    if (!fs.rename(tmp, tgt)) {
      fs.delete(tmp, false)
      throw new java.io.IOException(
        s"sink progress marker for $table/$appId failed to rename in")
    }
  }

  /** The plan-time stats lookup [[graft.plans.DataSkipping]] consumes:
    * pure cache reads over the folded sidecar — NO footer or
    * filesystem I/O per call (one sidecar fold per table per driver,
    * amortized), unknown = None = keep the file. Handed to every
    * manifest-served index ([[read]]'s V1 relation and the SQL
    * catalog's DSv2 index). */
  private[graft] def statsProvider(table: String)
      : graft.plans.DataSkipping.FileStatsProvider = {
    // freshness at CREATION (once per manifest version — providers
    // ride version-cached indexes/relations), pure cache reads per
    // file×column after: range() runs O(files) times per plan and
    // must never list or open anything
    loadStats(table)
    new graft.plans.DataSkipping.FileStatsProvider {
      override def range(path: org.apache.hadoop.fs.Path, bytes: Long,
                         column: String): Option[(Any, Any)] = {
        // Path.toUri returns the ALREADY-PARSED uri — the same
        // scheme-insensitive key [[rangeKey]] builds, minus the
        // per-call string re-parse that dominated the walk
        val r = rangeCache.get(
          s"${path.toUri.getPath}:$bytes:$column")
        if (r == null) None else r
      }
      override def nulls(path: org.apache.hadoop.fs.Path, bytes: Long,
                         column: String): Option[(Long, Long)] = {
        val r = rangeCache.get(
          s"${path.toUri.getPath}:$bytes:$column#nulls")
        if (r == null) None
        else r.collect { case (nc: Long, rc: Long) => (nc, rc) }
      }
    }
  }

  // ── Metadata-only aggregates ───────────────────────────────────────
  //
  // Bare COUNT(*) / MIN / MAX over a lake table need not schedule a
  // single scan task: the manifest names every live file, and the
  // stats sidecar already persists per-file row counts (the `#nulls`
  // pseudo-entries) and column bounds — Delta/Iceberg answer these
  // from metadata for the same reason. Serving is STRICT: any file
  // missing the needed fact makes the answer None and the caller
  // falls back to the ordinary scan (conservative, never wrong).

  /** The table's exact live row count from manifest + sidecar row
    * counts, deletion-vector cardinalities subtracted; None when any
    * file lacks a known row count (stats disabled, not yet collected,
    * or no numNulls in a foreign footer). Zero data I/O: one folded
    * sidecar + the manifest. */
  private[graft] def metadataRowCount(table: String): Option[Long] =
    metadataRowCountFor(table,
      fileInventory(table).map(e => (e._2, e._3)), dvMapOf(table))

  /** [[metadataRowCount]] over an EXPLICIT (absPath, bytes) entry set
    * + dv map — the SQL path passes the set its table instance is
    * BOUND to, so a pinned `VERSION AS OF` (or a load raced by a
    * newer commit) never answers from a different version's state. */
  private[graft] def metadataRowCountFor(table: String,
      entries: Seq[(String, Long)],
      dv: Map[String, Dv.Ref]): Option[Long] = {
    if (entries.isEmpty) return Some(0L)
    val cols = statsColumns(table)
    if (cols.isEmpty) return None
    loadStats(table)
    var total = 0L
    entries.foreach { case (abs, bytes) =>
      // ANY column's #nulls entry carries the file's row count
      val rc = cols.iterator.map(c =>
        rangeCache.get(rangeKey(abs, bytes, s"$c#nulls")))
        .collectFirst { case r if r != null && r.isDefined =>
          r.get._2.asInstanceOf[Long] }
      rc match {
        case Some(n) => total += n -
          dv.get(relAnywhere(abs)).map(_.cardinality).getOrElse(0L)
        case None => return None
      }
    }
    Some(total)
  }

  /** The table's exact (min, max) of `column` as Catalyst INTERNAL
    * values from the sidecar bounds; `(null, null)` = SQL NULL (empty
    * table or all-null column). None = not provable: any file without
    * usable bounds that is not provably all-null, an unrepresentable
    * column type — or ANY deletion vector on the table (a vector may
    * hold the extremum; sub-file stats can't see which rows died). */
  private[graft] def metadataBounds(table: String,
                                    column: String): Option[(Any, Any)] =
    metadataBoundsFor(table,
      fileInventory(table).map(e => (e._2, e._3)), dvMapOf(table), column)

  /** [[metadataBounds]] over an explicit entry set + dv map (see
    * [[metadataRowCountFor]]'s version-binding rationale). */
  private[graft] def metadataBoundsFor(table: String,
      entries: Seq[(String, Long)], dv: Map[String, Dv.Ref],
      column: String): Option[(Any, Any)] = {
    val schema = effectiveSchema(table)
    if (!schema.fieldNames.contains(column)) return None
    val dt = schema(column).dataType
    if (!prunableStatsType(dt) || column == "chain_name") return None
    if (dv.nonEmpty) return None
    loadStats(table)
    var mn: Any = null
    var mx: Any = null
    entries.foreach { case (abs, bytes) =>
      val r = rangeCache.get(rangeKey(abs, bytes, column))
      if (r != null && r.isDefined) {
        val (lo, hi) = r.get
        mn = if (mn == null || keyOrder(lo, mn) < 0) lo else mn
        mx = if (mx == null || keyOrder(hi, mx) > 0) hi else mx
      } else {
        // no usable bounds: only a provably EMPTY or ALL-NULL file
        // contributes nothing to min/max; anything else unproves
        val nulls = rangeCache.get(rangeKey(abs, bytes, s"$column#nulls"))
        val allNull = nulls != null && nulls.isDefined && {
          val (nc, rc) = nulls.get
          nc.asInstanceOf[Long] == rc.asInstanceOf[Long]
        }
        if (!allNull) return None
      }
    }
    Some((cmpToInternal(mn, dt), cmpToInternal(mx, dt)))
  }

  /** A cmp-domain stats value back to Spark's internal representation
    * under the column's type (the inverse of the extraction mapping). */
  private def cmpToInternal(v: Any,
      dt: org.apache.spark.sql.types.DataType): Any = {
    import org.apache.spark.sql.types._
    if (v == null) return null
    dt match {
      case StringType => org.apache.spark.unsafe.types.UTF8String
        .fromBytes(v.asInstanceOf[Array[Byte]])
      case LongType | TimestampType => v.asInstanceOf[Long]
      case IntegerType | DateType => v.asInstanceOf[Long].toInt
      case ShortType => v.asInstanceOf[Long].toShort
      case ByteType => v.asInstanceOf[Long].toByte
      case DoubleType => v.asInstanceOf[Double]
      case FloatType => v.asInstanceOf[Double].toFloat
      case d: DecimalType if d.precision <= 18 =>
        org.apache.spark.sql.types.Decimal(
          BigDecimal(java.math.BigDecimal.valueOf(
            v.asInstanceOf[Long], d.scale)), d.precision, d.scale)
      case d: DecimalType =>
        org.apache.spark.sql.types.Decimal(
          BigDecimal(new java.math.BigDecimal(
            v.asInstanceOf[java.math.BigInteger], d.scale)),
          d.precision, d.scale)
      case other => throw new IllegalStateException(
        s"no internal mapping for metadata bounds of type $other")
    }
  }

  /** Normalize a driver-side key value into the
    * [[graft.plans.DataSkipping.cmp]] domain (UTF-8 bytes for strings,
    * widened long for integrals) — the domain [[footerRangesMulti]]
    * returns key stats in. */
  private def asCmp(v: Any): Any = v match {
    case s: String => s.getBytes("UTF-8")
    case n: java.lang.Number => n.longValue()
    case other => other
  }

  /** [[graft.plans.DataSkipping.cmp]] for values that must share a
    * domain (a sort, a bound check, a stats fold): two values it cannot
    * compare throw. */
  private def keyOrder(a: Any, b: Any): Int = {
    val c = DataSkipping.cmp(a, b)
    if (c == Int.MinValue) throw new IllegalStateException(
      s"incomparable key stats: ${a.getClass} vs ${b.getClass}")
    c
  }

  /** The key types whose footer order the upsert planner and the
    * pruned reads trust: string and integral. Any other key type keeps
    * every file (upsert) or is refused (pruned reads). */
  private def prunableKeyType(dt: org.apache.spark.sql.types.DataType)
      : Boolean = {
    import org.apache.spark.sql.types._
    dt match {
      case StringType | LongType | IntegerType | ShortType | ByteType => true
      case _ => false
    }
  }

  /** May a file whose key stats are `r` hold a key in [lo, hi]? Unknown
    * stats, or stats in another domain than the keys (schema drift),
    * keep the file. */
  private def mayHold(r: Option[(Any, Any)], lo: Any, hi: Any): Boolean =
    r match {
      case Some((mn, mx)) if DataSkipping.comparable(mn, lo) =>
        DataSkipping.cmp(mn, hi) <= 0 && DataSkipping.cmp(lo, mx) <= 0
      case _ => true
    }

  /** May a file whose key stats are `r` hold one of the `sorted` keys
    * (non-empty, one domain)? Same keep rule as [[mayHold]]. */
  private def mayHoldAny(r: Option[(Any, Any)], sorted: Array[Any]): Boolean =
    r match {
      case Some((mn, mx))
          if DataSkipping.comparable(mn, sorted(0)) =>
        DataSkipping.anyInRange(sorted, mn, mx)
      case _ => true
    }

  /** Keyed UPSERT — the CDC-apply operator (MERGE INTO's
    * insert/update/delete semantics) for the parquet lake: incoming
    * rows replace existing rows with the same key, new keys insert,
    * and rows whose `deleteCol` is true remove their key. The batch
    * must be unique per key (compact a raw change stream with
    * [[graft.ops.Ops.lastPerKey]] first — the require below fails fast
    * otherwise, because silently letting two versions of a key race
    * the union is the classic CDC corruption). `keys` MUST include the
    * partition column `chain_name` — without it a key whose existing
    * row lives in a chain the batch doesn't name would silently
    * survive alongside the inserted row (duplicate key).
    *
    * Scale shape — file-grain copy-on-write: within the chains the
    * batch names, only the files whose parquet footer key ranges
    * (per-file [min, max] of the first — and, for composite keys, the
    * second — non-partition key column) intersect the batch's key
    * envelope are read, anti-joined, and rewritten; every
    * other file — including files in a TOUCHED chain — is never
    * opened and remains byte-identical. Rewrite I/O therefore tracks
    * the number of touched files (≈ batch key spread), not table or
    * partition size. The merged output stages into a temp dir and
    * lands inside one MANIFEST TRANSACTION (no dynamic partition
    * overwrite, no extra localCheckpoint materialization): the commit
    * that renames the staged files in also publishes the manifest
    * naming exactly the new file set, so manifest-backed readers
    * switch atomically — the old land-then-delete duplicate window no
    * longer exists for them (a crash before publish leaves only
    * invisible orphans; see [[vacuum]]). NOTE: like
    * compaction, an upsert rewrites files that earlier snapshot
    * manifests name — [[readAt]]/[[readSince]] over older versions
    * fail loudly afterwards (see the snapshot invalidation contract).
    *
    * `checkUnique = false` skips the per-batch uniqueness aggregate —
    * ONLY for callers that just established it structurally (e.g.
    * [[graft.streaming.Streaming.upsertStream]] compacts with
    * lastPerKey immediately before; re-checking would re-shuffle the
    * batch to prove a property its own plan guarantees).
    *
    * `maxKeyCollect` bounds the driver-side distinct-key collection
    * used for exact file pruning; a batch with more distinct keys
    * falls back to per-chain [min, max] envelope pruning (still
    * correct, possibly more files touched). Tables with bloom
    * filters on the key (`write.bloom.columns`) additionally
    * bloom-test range survivors for point-ish batches (≤ 4096 keys)
    * — the pruning that works BEFORE any clustering rewrite, when
    * every appended file still spans the whole keyspace.
    *
    * PLANNING COST: the batch's lineage executes once per planning
    * job (uniqueness check, profiling aggregate, optional key
    * collect) plus the merge write — callers whose `updates` carry an
    * expensive lineage should localCheckpoint it first
    * ([[graft.streaming.Streaming.upsertStream]] does).
    *
    * CONCURRENCY — optimistic multi-writer: the manifest transaction
    * verifies, under the table's commit lock, that every touched file
    * is still live; a concurrent commit that retired any of them makes
    * THIS merge stale, so it aborts with
    * [[Lake.ConcurrentWriteException]] and nothing landed (re-plan and
    * retry). Disjoint-file upserts commit in either order. A loser
    * whose staging scan raced the winner's post-commit delete can also
    * surface a file-not-found from the scan itself — equally loud,
    * same remedy.
    *
    * `retain = true` moves the rewritten-away files into the retention
    * area instead of deleting them, keeping pre-upsert snapshots
    * READABLE ([[readAt]]) until [[vacuum]] expires them. */
  def upsert(updates0: DataFrame, table: String, keys: Seq[String],
             deleteCol: Option[String] = None,
             checkUnique: Boolean = true,
             maxKeyCollect: Int = 1 << 20,
             retain: Boolean = false,
             // streaming-sink idempotence: lands `#txn=appId:batchId`
             // ATOMICALLY with the merge's manifest publish, exactly
             // as [[append]]'s txn variant does — without it a sink
             // crash between the upsert's publish and its progress
             // marker replays the batch as a DUPLICATE data-changing
             // commit (state-idempotent, but CDC consumers see the
             // rewrite churn twice)
             txn: Option[(String, Long)] = None): UpsertStats = {
    require(keys.nonEmpty, "upsert needs at least one key column")
    require(keys.contains("chain_name"),
      "upsert keys must include the partition column chain_name - " +
        "without it an existing row in an unnamed chain silently " +
        "survives next to its replacement (duplicate key)")
    // constraint guard rides the batch inline (evaluated wherever the
    // plan first executes — fail-fast, nothing lands); TOMBSTONES are
    // exempt: they carry a key to delete, not payload
    val updates = applyWritePolicies(updates0, table,
      exempt = deleteCol.map(col))
    val schema = effectiveSchema(table)
    if (checkUnique) {
      val dups = updates.groupBy(keys.map(col): _*)
        .agg(count(lit(1)).as("__n")).filter(col("__n") > 1).limit(1).count()
      require(dups == 0L,
        s"upsert batch has multiple rows per key ${keys.mkString(",")} - " +
          "compact the change stream to latest-per-key first (Ops.lastPerKey)")
    }
    val dataKeys = keys.filterNot(_ == "chain_name")
    val prunable =
      dataKeys.headOption.exists(k => prunableKeyType(schema(k).dataType))
    // SECOND data-key envelope: composite-key tables (NFP's tx hash +
    // amounts) whose first key cannot exclude a file still prune on
    // the second column's [min, max] — cheap insurance the sidecar
    // already has room for (it is keyed per column)
    val k2Opt = dataKeys.drop(1).headOption
      .filter(k => prunableKeyType(schema(k).dataType))
    // a null in ANY key column never equi-joins, so the row can never
    // be replaced or deleted, only duplicated batch after batch — the
    // guard covers every key, prunable-typed or not
    val anyNullKey =
      if (dataKeys.isEmpty) lit(0L)
      else sum(when(dataKeys.map(col(_).isNull).reduce(_ || _), 1L)
        .otherwise(0L))
    // ONE profiling aggregate yields the named chains AND the per-chain
    // key envelopes (a per-batch Spark job: streamed CDC pays it every
    // micro-batch, so chains + stats must not be two jobs)
    var nullDataKeys = 0L
    // per chain: (≈distinct k1, min/max k1, min/max k2) in cmp domain
    val prof: Map[String, (Long, Any, Any, Any, Any)] =
      if (prunable) {
        val aggs = Seq(
          approx_count_distinct(col(dataKeys.head)).as("__n"),
          min(col(dataKeys.head)).as("__mn"),
          max(col(dataKeys.head)).as("__mx"),
          anyNullKey.as("__nulls")) ++
          k2Opt.toSeq.flatMap(k2 => Seq(
            min(col(k2)).as("__mn2"), max(col(k2)).as("__mx2")))
        updates.groupBy(col("chain_name"))
          .agg(aggs.head, aggs.tail: _*)
          .collect()
          .map { r =>
            nullDataKeys += r.getLong(4)
            val (mn2, mx2) =
              if (k2Opt.isDefined) (asCmp(r.get(5)), asCmp(r.get(6)))
              else (null: Any, null: Any)
            r.getString(0) -> ((r.getLong(1), asCmp(r.get(2)),
              asCmp(r.get(3)), mn2, mx2))
          }.toMap
      } else if (dataKeys.nonEmpty)
        // non-prunable key types (decimal, timestamp, binary, …) still
        // need the null-key guard: without counting nulls HERE the
        // require below passes vacuously and a null-keyed row silently
        // duplicates itself every batch (it never equi-joins)
        updates.groupBy(col("chain_name"))
          .agg(anyNullKey.as("__nulls"))
          .collect()
          .map { r =>
            nullDataKeys += r.getLong(1)
            r.getString(0) ->
              ((0L, null: Any, null: Any, null: Any, null: Any))
          }.toMap
      else updates.select(col("chain_name")).distinct().collect()
        .map(_.getString(0) ->
          ((0L, null: Any, null: Any, null: Any, null: Any))).toMap
    // same cross-batch corruption as a null chain_name: a null data
    // key never equi-joins, so every batch would insert another copy
    // of it and a null-keyed tombstone could never delete anything
    require(nullDataKeys == 0L,
      s"upsert batch has $nullDataKeys row(s) with a null value in a " +
        s"key column (${dataKeys.mkString(", ")}) - a null key can " +
        "never be replaced or deleted, only duplicated; fill or drop " +
        "them first")
    if (prof.isEmpty) return UpsertStats(0, 0, 0L, 0)
    // a NULL chain_name key can never be REPLACED (the equi-join
    // skips null keys), so each batch carrying it would insert yet
    // another copy — the silent cross-batch duplicate-key corruption
    // the per-batch uniqueness guard exists to prevent. Reject loudly.
    require(!prof.contains(null),
      "upsert batch has rows with null chain_name - a null partition " +
        "key can never match an existing row, so every batch would " +
        "insert another copy (duplicate keys); fill or drop them first")
    val chains = prof.keys.toSeq.sorted

    // ── plan: which files can hold a batch key? ──
    val chainFiles = fileInventory(table).filter(f => chains.contains(f._1))
    val touched: Seq[(String, String, Long)] = if (chainFiles.isEmpty) {
      chainFiles // empty table (first load): nothing to prune or merge
    } else if (dataKeys.isEmpty) {
      chainFiles // key IS the partition: whole named chains are touched
    } else {
      val k1 = dataKeys.head // pruning on one key col is conservative
      val totalKeys = prof.values.map(_._1).sum
      // exact-key pruning pays a driver collect of the batch's distinct
      // keys; it only beats the free [min,max] envelope when the batch's
      // keys cluster in gaps BETWEEN many file ranges — with a handful
      // of files per chain the envelope is just as sharp, so skip the
      // collect below the file-count threshold (a per-batch cost that
      // mattered: streamed CDC pays this on every micro-batch).
      // null key values never equi-join (no existing row is replaced
      // by them), so they can't make a file touched — drop from the
      // pruning set; the rows themselves still flow through inserts
      // bloom filters extend exact pruning to files range stats can't
      // exclude (unclustered tables, where every file spans the
      // keyspace) — worth the key collect even below the file-count
      // threshold, but only for point-ish batches (hashing a huge key
      // set against every candidate's blooms would beat the scan cost
      // it saves)
      val bloomOn = bloomColumns(table).contains(k1) &&
        totalKeys <= 4096L
      val collected: Seq[(String, Any)] =
        if (prunable && (chainFiles.size >= 8 || bloomOn) &&
            totalKeys <= maxKeyCollect.toLong)
          updates.select(col("chain_name"), col(k1)).distinct().collect()
            .filter(!_.isNullAt(1))
            .map(r => (r.getString(0), r.get(1))).toSeq
        else Seq.empty
      val exactKeys: Map[String, Array[Any]] =
        collected.groupBy(_._1).map { case (c, rows) =>
          c -> rows.map(r => asCmp(r._2)).toArray.sortWith(keyOrder(_, _) < 0)
        }
      // original-typed values per chain, for bloom hashing
      val rawKeys: Map[String, Seq[Any]] =
        if (bloomOn) collected.groupBy(_._1).map { case (c, rows) =>
          c -> rows.map(_._2)
        } else Map.empty
      if (!prunable) chainFiles
      else {
        // one sidecar-backed range lookup for the whole plan: cache
        // hits are free, misses are thread-pooled footer reads that
        // land in the persisted sidecar for the NEXT driver
        val ranges = fillStats(table,
          chainFiles.map(f => (f._2, f._3)), Seq(k1))._2
        val surv1 = chainFiles.filter { case (chain, path, _) =>
          prof.get(chain) match {
            case None => false // chain named but batch has no rows
            case Some((_, bMn, bMx, _, _)) if bMn == null || bMx == null =>
              false // all batch keys null in this chain: no match
            case Some((_, bMn, bMx, _, _)) =>
              exactKeys.get(chain) match {
                case Some(ks) => mayHoldAny(ranges((path, k1)), ks)
                case None => mayHold(ranges((path, k1)), bMn, bMx)
              }
          }
        }
        // second-key envelope pass, over k1-SURVIVORS only (extra
        // footer columns are read lazily and only where the first key
        // failed to exclude; the sidecar persists them per column)
        val surv2 = k2Opt match {
          case None => surv1
          case Some(k2) =>
            val r2 = fillStats(table,
              surv1.map(f => (f._2, f._3)), Seq(k2))._2
            surv1.filter { case (chain, path, _) =>
              prof.get(chain) match {
                case Some((_, _, _, bMn2, bMx2))
                    if bMn2 != null && bMx2 != null =>
                  mayHold(r2((path, k2)), bMn2, bMx2)
                case _ => true // no k2 envelope: conservative
              }
            }
        }
        // bloom step: a range survivor is still untouched if every
        // row group's bloom proves every batch key absent
        surv2.filter { case (chain, path, fBytes) =>
          rawKeys.get(chain) match {
            case Some(vs) if bloomOn => bloomMayContain(path, fBytes, k1, vs)
            case _ => true
          }
        }
      }
    }

    // ── merge-on-read election (dv.maxFraction > 0) ──
    // A touched file whose matched-key fraction fits takes a vector
    // (its matched rows are the update's pre-images — deleted in
    // place; the update rows land as ordinary appends below) and is
    // never rewritten; the rest copy-on-write as before. Matching is
    // ONE keyed left join over the touched files' dv-aware scan.
    val dvAtPlan = dvMapOf(table)
    val (dvFraction, dvPosCap) = dvKnobs(table)
    def pathKey(p: String): String = new Path(p).toUri.getPath
    val keyDistinct = updates.select(keys.map(col): _*).distinct()
    val (dvChanges: Map[String, Dv.Ref],
         cowTouched: Seq[(String, String, Long)]) =
      if (dvFraction <= 0.0 || touched.isEmpty || dataKeys.isEmpty)
        (Map.empty[String, Dv.Ref], touched)
      else {
        val meta = scanWithMeta(table, touched, schema, dvAtPlan)
        val marked = meta.join(keyDistinct.withColumn("__m", lit(1)),
          keys, "left")
        val counts = marked.groupBy(col("__file"))
          .agg(count(lit(1)).as("__total"),
            sum(when(col("__m").isNotNull, 1L).otherwise(0L))
              .as("__matched"))
          .collect()
          .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        var cum = 0L
        val electRaw = counts.collect {
          case (raw, total, matched)
              if matched > 0L && total > 0L &&
                matched.toDouble / total <= dvFraction &&
                cum + matched <= dvPosCap =>
            cum += matched
            raw
        }.toSeq
        if (electRaw.isEmpty) (Map.empty[String, Dv.Ref], touched)
        else {
          val electKeys = electRaw.map(pathKey).toSet
          val positions = marked.filter(col("__m").isNotNull)
            .filter(col("__file").isInCollection(electRaw))
            .select(col("__file"), col("__idx"))
            .collect()
            .groupBy(r => pathKey(r.getString(0)))
            .map { case (k, rows) => (k, rows.map(_.getLong(1)).sorted) }
          val changes = touched.filter(e => electKeys(pathKey(e._2)))
            .map { e =>
              val rel = relAnywhere(e._2)
              val fresh = positions.getOrElse(pathKey(e._2),
                Array.empty[Long])
              val merged0 = dvAtPlan.get(rel) match {
                case Some(old) => Dv.union(dvPositions(table, old), fresh)
                case None => fresh
              }
              rel -> writeDvFile(table, merged0)
            }.toMap
          (changes, touched.filterNot(e => electKeys(pathKey(e._2))))
        }
      }

    // ── merge: anti-join ONLY the copy-on-write touched files ──
    val touchedPaths = cowTouched.map(_._2)
    val survivors =
      if (touchedPaths.isEmpty)
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      else readEntries(table, cowTouched, schema, dvAtPlan)
        .join(keyDistinct, keys, "left_anti")
    // NULL deleteCol (e.g. a change file written before the column
    // existed, read back as typed nulls) means "not a tombstone" —
    // without the coalesce such rows would be anti-joined out of
    // survivors AND dropped from inserts: a silent delete
    val inserts = deleteCol.fold(updates)(c =>
      updates.filter(!coalesce(col(c), lit(false))).drop(c))
    val cols = schema.fieldNames.toSeq.map(col)
    // align the batch to the effective schema: a producer built before
    // a schema evolution ships batches without the new columns — they
    // land as typed nulls, exactly as its files would read back
    val insertCols = schema.fields.toSeq.map { f =>
      if (inserts.columns.contains(f.name))
        col(f.name).cast(f.dataType).as(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    }
    val merged = survivors.select(cols: _*)
      .unionByName(inserts.select(insertCols: _*))

    // ── land + commit: one transaction ──
    // Stage to a temp dir (unlocked — the expensive distributed write
    // happens outside the commit lock), then under the lock: verify
    // the touched files are still live (optimistic-concurrency check —
    // a concurrent upsert that rewrote any of them makes this merge
    // stale, so it aborts with NOTHING landed), land by rename, and
    // publish the manifest naming exactly the new file set.
    // Insert-insert conflict guard: the removed-files check alone
    // cannot see two racing upserts INSERTING the same new key (both
    // plans touch no common file). Under the commit lock, any file a
    // concurrent commit added to this batch's chains since planning
    // (present in the current manifest, absent from this plan's
    // inventory snapshot) is checked by first-key footer envelope
    // against the batch's per-chain envelope — overlap, or no usable
    // stats, is a loud retryable conflict; a re-plan then merges
    // against the racer's file. Disjoint-key concurrent batches (the
    // post-clustering common case) still both commit.
    val plannedRelSet = chainFiles.map(f => relOf(table, f._2)).toSet
    val intruderGuard: TxnBase => Unit = base => {
      val intr = base.addedSince(chains.toSet, plannedRelSet)
      val conflicting =
        if (intr.isEmpty || dataKeys.isEmpty || !prunable)
          intr.map(_._2) // no envelope: conservative
        else {
          val k1 = dataKeys.head
          val files = intr.map { case (c, rel, b) =>
            (c, s"${dir(table)}/$rel", b) }
          val rngs = fillStats(table, files.map(f => (f._2, f._3)),
            Seq(k1))._2
          files.filter { case (chain, path, _) =>
            prof.get(chain) match {
              case Some((_, bMn, bMx, _, _)) if bMn != null && bMx != null =>
                mayHold(rngs((path, k1)), bMn, bMx) // unknown: conflict
              case _ => true
            }
          }.map(_._2)
        }
      base.conflict(conflicting, "were added to this batch's chain(s) " +
        "after this merge planned, with key ranges the batch may also " +
        "carry (re-plan and retry)")
    }
    preStageHook() // test seam: the unlocked staging-scan race window
    val added = landCommit(table, "upsert", "upsert",
      stage(table, "upsert", merged), touchedPaths, retain, dvAtPlan,
      dvChanges, txn.toSeq.map { case (a, b) => s"#txn=$a:$b" },
      intruderGuard)
    // rewrittenBytes counts COPY-ON-WRITE bytes only: vector-elected
    // files are the bytes merge-on-read saved (ScaleProbe grades the
    // CoW cost; the dv sidecars are O(positions))
    UpsertStats(chainFiles.size, touched.size,
      cowTouched.map(_._3).sum, added.size)
  }

  /** [[upsert]] with bounded optimistic-concurrency retries: a
    * [[Lake.ConcurrentWriteException]] means another writer's commit
    * retired files this merge planned against — every [[upsert]] call
    * plans from a fresh manifest inventory, so simply calling it again
    * IS the re-plan the exception asks for. The SAME lost race has a
    * second manifestation ([[upsert]]'s concurrency note): the loser's
    * unlocked staging scan can hit the winner's post-publish delete
    * and surface a file-not-found from inside the Spark job — that is
    * retried too ([[Lake.isRetryableRace]] walks the cause chain; a
    * table whose files are GENUINELY gone fails every re-plan the
    * same way and still exhausts loudly). Attempts are spaced by
    * jittered linear backoff (`backoffMs * attempt + U[0, backoffMs]`)
    * so two writers that collided once decorrelate instead of
    * colliding on every retry. The batch DataFrame is re-evaluated per
    * attempt — pass a deterministic (or checkpointed) batch, the same
    * contract the streaming sinks already require. Exhausting
    * `maxAttempts` rethrows the last conflict: persistent contention
    * on the same files is a topology problem (split the key space or
    * serialize those writers), not one more retry away.
    *
    * `onConflict` observes each lost race before its backoff sleep —
    * contention telemetry for probes and operators (attempt number
    * that failed, the conflict). Defaults to a no-op. */
  def upsertRetrying(updates: DataFrame, table: String, keys: Seq[String],
                     deleteCol: Option[String] = None,
                     checkUnique: Boolean = true,
                     maxKeyCollect: Int = 1 << 20,
                     retain: Boolean = false,
                     maxAttempts: Int = 5,
                     backoffMs: Long = 50L,
                     onConflict: (Int, Throwable) => Unit = (_, _) => (),
                     txn: Option[(String, Long)] = None)
      : UpsertStats =
    retrying(maxAttempts, backoffMs, onConflict)(upsert(updates, table,
      keys, deleteCol, checkUnique, maxKeyCollect, retain, txn))

  /** The retry loop of [[upsertRetrying]] and [[deleteWhereRetrying]]:
    * run `op` until it succeeds, rethrow anything that is not a lost
    * race ([[Lake.isRetryableRace]]), and rethrow the last race once
    * `maxAttempts` are spent; `onConflict` sees each lost race before
    * its jittered linear backoff. */
  private def retrying[A](maxAttempts: Int, backoffMs: Long,
                          onConflict: (Int, Throwable) => Unit)
                         (op: => A): A = {
    require(maxAttempts >= 1, "maxAttempts must be >= 1")
    require(backoffMs >= 0L, "backoffMs must be >= 0")
    var attempt = 1
    while (true) {
      try return op
      catch {
        case e: Throwable if Lake.isRetryableRace(e, root) =>
          onConflict(attempt, e)
          if (attempt >= maxAttempts) throw e
          Thread.sleep(backoffMs * attempt +
            (if (backoffMs > 0)
              java.util.concurrent.ThreadLocalRandom.current()
                .nextLong(backoffMs + 1)
            else 0L))
          attempt += 1
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Delete every row matching `predicate` — SQL `DELETE FROM`'s lake
    * shape (wired through [[graft.sources.LakeCatalog]]'s DSv2
    * `SupportsDelete`): a COPY-ON-WRITE rewrite of exactly the files
    * that hold matching rows, in one manifest transaction.
    *
    * Plan: one Spark job over the manifest-served relation finds the
    * touched files (`input_file_name()` under the pushed predicate —
    * partition pruning and footer stats skip most files before a row
    * is read; the collect is file-path-sized, the model-state rule).
    * Rewrite: ONLY those files re-write without their matching rows
    * (a row whose predicate evaluates null is KEPT — SQL DELETE
    * semantics); a file whose every row matches simply lands nothing.
    * Commit: the staged survivors land under the commit lock with the
    * optimistic-concurrency check every rewrite pays — a concurrent
    * commit that retired a planned file aborts this delete with
    * nothing published ([[Lake.ConcurrentWriteException]]; use
    * [[deleteWhereRetrying]] under contention). `retain = true` moves
    * the replaced originals to the retention area so pinned snapshots
    * stay readable.
    *
    * Whole-chain deletes (`chain_name = 'x'` and nothing else) should
    * route to [[dropChain]] instead — a metadata-only partition drop;
    * the SQL surface does this downgrade automatically. */
  def deleteWhere(table: String, predicate: Column,
                  retain: Boolean = false): UpsertStats = {
    val schema = effectiveSchema(table)
    val inv = fileInventory(table)
    if (inv.isEmpty) return UpsertStats(0, 0, 0L, 0)
    val dvAtPlan = dvMapOf(table)
    def pathKey(p: String): String = new Path(p).toUri.getPath
    val touchedKeys = read(table).filter(predicate)
      .select(input_file_name().as("f")).distinct()
      .collect().map(r => pathKey(r.getString(0))).toSet
    val touched = inv.filter(e => touchedKeys.contains(pathKey(e._2)))
    if (touched.isEmpty) return UpsertStats(inv.size, 0, 0L, 0)

    // ── merge-on-read election (dv.maxFraction > 0) ──
    // One distributed pass over the touched files (through their
    // existing vectors) yields per-file (live rows, matching rows);
    // files whose matched fraction fits take a VECTOR — positions
    // harvested in a second, predicate-pushed pass, merged with the
    // old vector, written as a fresh immutable sidecar — and are
    // NEVER rewritten; the rest copy-on-write exactly as before.
    val (dvFraction, dvPosCap) = dvKnobs(table)
    val matchCond = coalesce(predicate, lit(false))
    val (dvChanges: Map[String, Dv.Ref], cowTouched) =
      if (dvFraction <= 0.0) (Map.empty[String, Dv.Ref], touched)
      else {
        val meta = scanWithMeta(table, touched, schema, dvAtPlan)
        val counts = meta.groupBy(col("__file"))
          .agg(count(lit(1)).as("__total"),
            sum(when(matchCond, 1L).otherwise(0L)).as("__matched"))
          .collect()
          .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        var cum = 0L
        val electRaw = counts.collect {
          case (raw, total, matched)
              if matched > 0L && total > 0L &&
                matched.toDouble / total <= dvFraction &&
                cum + matched <= dvPosCap =>
            cum += matched
            raw
        }.toSeq
        if (electRaw.isEmpty) (Map.empty[String, Dv.Ref], touched)
        else {
          val electKeys = electRaw.map(pathKey).toSet
          val positions = meta.filter(matchCond)
            .filter(col("__file").isInCollection(electRaw))
            .select(col("__file"), col("__idx"))
            .collect()
            .groupBy(r => pathKey(r.getString(0)))
            .map { case (k, rows) => (k, rows.map(_.getLong(1)).sorted) }
          val changes = touched.filter(e => electKeys(pathKey(e._2)))
            .map { e =>
              val rel = relAnywhere(e._2)
              val fresh = positions.getOrElse(pathKey(e._2),
                Array.empty[Long])
              val merged = dvAtPlan.get(rel) match {
                case Some(old) => Dv.union(dvPositions(table, old), fresh)
                case None => fresh
              }
              rel -> writeDvFile(table, merged)
            }.toMap
          (changes, touched.filterNot(e => electKeys(pathKey(e._2))))
        }
      }

    if (cowTouched.isEmpty) {
      // vector-only delete: one metadata transaction, ZERO data files
      // rewritten — the headline merge-on-read win
      txn(table, "deleteWhere") { base =>
        base.requirePlanned(Seq.empty, dvAtPlan, dvChanges)
        (Commit(dvChanges = dvChanges), ())
      }
      return UpsertStats(inv.size, touched.size, 0L, 0)
    }
    val survivors =
      readEntries(table, cowTouched, schema, dvAtPlan)
        .filter(!matchCond)
        .select(schema.fieldNames.toSeq.map(col): _*)
    preStageHook() // same unlocked staging-scan race window as upsert
    val added = landCommit(table, "deleteWhere", "delete",
      stage(table, "delete", survivors), cowTouched.map(_._2), retain,
      dvAtPlan, dvChanges)
    UpsertStats(inv.size, touched.size,
      cowTouched.map(_._3).sum, added.size)
  }

  /** [[deleteWhere]] with the same bounded optimistic-concurrency
    * retry loop as [[upsertRetrying]] — a lost race re-plans from the
    * fresh manifest and tries again with jittered linear backoff. */
  def deleteWhereRetrying(table: String, predicate: Column,
                          retain: Boolean = false,
                          maxAttempts: Int = 5,
                          backoffMs: Long = 50L): UpsertStats =
    retrying(maxAttempts, backoffMs, (_, _) => ())(
      deleteWhere(table, predicate, retain))

  /** Remove every row — SQL `TRUNCATE`'s lake shape: one metadata-only
    * manifest transaction removing the complete file set (no scan, no
    * rewrite), then retire-or-delete the files under the lock. The
    * removed set is computed from the FRESH base manifest inside the
    * transaction ([[dropChain]]'s pattern), so a racing append either
    * lands before the truncate (and is truncated with the rest) or
    * serializes after it (and survives). */
  def truncateTable(table: String, retain: Boolean = false): Boolean = {
    if (fileInventory(table).isEmpty) return false
    txn(table, "truncate") { base =>
      val removed = base.entries.keySet
      (Commit(removed = removed, after = () => retireReplaced(table,
        "truncate", removed.toSeq.map(rel => s"${dir(table)}/$rel"), retain,
        Set.empty)), removed.nonEmpty)
    }
  }

  // ── Pruned reads: query-side file skipping ─────────────────────────
  //
  // The footer-range planner above exists for CDC merges, but the same
  // stats answer the interactive question "which files can hold key k
  // at all?" — the data-skipping scan every lakehouse pairs with its
  // manifest stats. Parquet row-group skipping via pushed filters
  // still opens every file's footer ON THE EXECUTORS at scan time;
  // this prunes at PLAN time from the (sidecar-persisted) driver
  // stats, so a point lookup against a [[clusterCompact]]ed 100 TB
  // table schedules tasks for a handful of files instead of all of
  // them. Pruning is conservative — files without usable stats are
  // scanned — and the residual filter is always applied, so the
  // result is exactly `read(table).filter(...)`.

  /** Bloom-filter opens performed by this Lake instance (separate from
    * [[footerReads]]: blooms are consulted only for point lookups on
    * files the range test could not exclude). */
  val bloomReads = new java.util.concurrent.atomic.AtomicLong

  /** Per-file bloom filters for one column: one (physical type, bloom)
    * per row group, or None when any group lacks one (absence can then
    * never be proven). Cached per process — blooms live in the data
    * files themselves, exactly where the format keeps them; unlike key
    * ranges they are too large to mirror into the sidecar. */
  private val bloomCache = new java.util.concurrent.ConcurrentHashMap[
    String, Option[Seq[(org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName,
      org.apache.parquet.column.values.bloomfilter.BloomFilter)]]]()

  private def fileBlooms(path: String, bytes: Long, column: String)
      : Option[Seq[(org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName,
        org.apache.parquet.column.values.bloomfilter.BloomFilter)]] = {
    import scala.jdk.CollectionConverters._
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    if (bloomCache.size > 128) bloomCache.clear()
    bloomCache.computeIfAbsent(rangeKey(path, bytes, column) + "#bloom", _ => {
      bloomReads.incrementAndGet()
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(
        new Path(path), spark.sparkContext.hadoopConfiguration))
      try {
        val per = reader.getFooter.getBlocks.asScala.toSeq.map { b =>
          b.getColumns.asScala.find(_.getPath.toDotString == column) match {
            case None => null
            case Some(cc) =>
              val bf = reader.getBloomFilterDataReader(b).readBloomFilter(cc)
              if (bf == null) null
              else (cc.getPrimitiveType.getPrimitiveTypeName, bf)
          }
        }
        if (per.contains(null)) None else Some(per)
      } finally reader.close()
    })
  }

  /** Can `path` possibly contain any of `values` in `column`? False
    * only when every row group's bloom filter proves every value
    * absent — the one direction a bloom can prove. */
  private def bloomMayContain(path: String, bytes: Long, column: String,
                              values: Seq[Any]): Boolean =
    fileBlooms(path, bytes, column) match {
      case None => true // no blooms: cannot prove absence
      case Some(blocks) =>
        import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.{BINARY, INT32, INT64}
        import org.apache.parquet.io.api.Binary
        values.exists(v => blocks.exists { case (t, bf) =>
          (t, v) match {
            case (BINARY, s: String) =>
              bf.findHash(bf.hash(Binary.fromString(s)))
            case (INT64, n: java.lang.Number) =>
              bf.findHash(bf.hash(n.longValue()))
            case (INT32, n: java.lang.Number) =>
              val l = n.longValue()
              // outside int32's domain: cannot be in this file at all
              l >= Int.MinValue && l <= Int.MaxValue &&
                bf.findHash(bf.hash(l.toInt))
            case _ => true // unhandled physical type: stay conservative
          }
        })
    }

  /** The pruned-read loop of [[readRanges]] and [[readKeys]]: each
    * `(column, keep)` test prunes the previous column's SURVIVORS from
    * their filled stats (progressively narrower lookups), `fileKeep`
    * tests the files left (the bloom step), and the survivors' scan is
    * filtered by `residual` — so the result is exactly
    * `read(table).filter(residual)`. */
  private def prunedScan(table: String, schema: StructType,
      residual: Column, tests: Seq[(String, Option[(Any, Any)] => Boolean)],
      fileKeep: (String, Long) => Boolean = (_, _) => true)
      : (DataFrame, ScanStats) = {
    val files = fileInventory(table)
    if (files.isEmpty)
      return (spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
        .filter(residual), ScanStats(0, 0, 0L, 0L))
    val scanned = tests.foldLeft(files) { case (survivors, (key, keep)) =>
      val ranges = fillStats(table,
        survivors.map(f => (f._2, f._3)), Seq(key))._2
      survivors.filter(f => keep(ranges((f._2, key))))
    }.filter(f => fileKeep(f._2, f._3))
    // the scanned subset reads through the manifest index too: the
    // driver already knows (chain, path, bytes) for every survivor, so
    // Spark plans the scan without touching the filesystem
    (readEntries(table, scanned, schema, dvMapOf(table)).filter(residual),
      ScanStats(files.size, scanned.size, scanned.map(_._3).sum,
        files.map(_._3).sum))
  }

  private def requireKeyType(table: String, schema: StructType,
                             key: String): Unit = {
    val dt = schema(key).dataType
    if (!prunableKeyType(dt)) throw new IllegalArgumentException(
      s"pruned reads need a string or integral key column - $key is " +
        s"$dt; use read($table).filter(...) instead")
  }

  /** Key-range read: rows with `lo <= key <= hi`, scheduling only the
    * files whose footer range intersects [lo, hi]. */
  def readRange(table: String, key: String, lo: Any, hi: Any)
      : (DataFrame, ScanStats) =
    readRanges(table, Seq((key, lo, hi)))

  /** Multi-column range read: rows satisfying EVERY `(col, lo, hi)`
    * bound, scheduling only the files whose footer stats intersect ALL
    * of them. Each column prunes over the previous columns' SURVIVORS
    * (progressively narrower footer/sidecar lookups), every residual
    * filter is applied, and files without usable stats for a column
    * pass that column's test conservatively — the result is exactly
    * `read(table).filter(b1 && b2 && …)`. On a 2-D-clustered layout
    * (z-order via `write.layout`, [[clusterCompact]]) this is what
    * makes a bound on EITHER dimension skip most files. */
  def readRanges(table: String, bounds: Seq[(String, Any, Any)])
      : (DataFrame, ScanStats) = {
    require(bounds.nonEmpty, "readRanges needs at least one bound")
    val schema = effectiveSchema(table)
    bounds.foreach { case (key, lo, hi) =>
      require(schema.fieldNames.contains(key),
        s"no column $key in table $table")
      require(lo != null && hi != null,
        s"readRanges bounds must be non-null ($key)")
      require(keyOrder(asCmp(lo), asCmp(hi)) <= 0,
        s"readRanges lo > hi on $key: $lo > $hi")
      requireKeyType(table, schema, key)
    }
    val residual = bounds.map { case (key, lo, hi) =>
      val kt = schema(key).dataType
      col(key) >= lit(lo).cast(kt) && col(key) <= lit(hi).cast(kt)
    }.reduce(_ && _)
    prunedScan(table, schema, residual, bounds.map { case (key, lo, hi) =>
      val (bLo, bHi) = (asCmp(lo), asCmp(hi))
      key -> ((r: Option[(Any, Any)]) => mayHold(r, bLo, bHi))
    })
  }

  /** Point-set read: rows whose `key` is one of `values`, scheduling
    * only the files whose footer range CONTAINS one of them (exact
    * binary-search test per file, same as the upsert planner's). When
    * the table writes bloom filters on `key` (`write.bloom.columns`),
    * range survivors are additionally bloom-tested — on an
    * UNCLUSTERED table, where random-hash keys make every file's
    * range span the keyspace, the bloom is what turns a point lookup
    * from scan-everything into open-almost-nothing. */
  def readKeys(table: String, key: String, values: Seq[Any])
      : (DataFrame, ScanStats) = {
    require(values.nonEmpty, "readKeys needs at least one value")
    require(values.size <= (1 << 16),
      s"readKeys is the point-lookup path (got ${values.size} keys) - " +
        "join against read(table) for bulk key sets")
    require(!values.contains(null), "readKeys values must be non-null")
    val sorted = values.map(asCmp).toArray.sortWith(keyOrder(_, _) < 0)
    val schema = effectiveSchema(table)
    val kt = schema(key).dataType
    requireKeyType(table, schema, key)
    val bloomable = bloomColumns(table).contains(key)
    prunedScan(table, schema,
      col(key).isin(values.map(v => lit(v).cast(kt)): _*),
      Seq(key -> ((r: Option[(Any, Any)]) => mayHoldAny(r, sorted))),
      fileKeep =
        if (!bloomable) (_, _) => true
        else (p, b) => bloomMayContain(p, b, key, values))
  }

  // ── Snapshots: manifest-based time travel ──────────────────────────
  //
  // The exact-reproducibility need every training-data lake hits:
  // "read the corpus EXACTLY as it was when run X trained", while
  // appends keep landing. A snapshot is one manifest file listing the
  // table's data files at commit time (paths relative to the table
  // dir, so the lake can move) — the Iceberg/Delta idea at its
  // smallest: metadata names files, readers plan from metadata, and a
  // version is immutable because parquet files are append-only.
  // Manifests are driver-small (file lists, thousands of entries — the
  // model-state rule); the READ is a normal distributed parquet scan
  // over exactly the named files, partition values still parsed from
  // the paths. COMPACTION and UPSERT rewrite files, so each
  // invalidates snapshots taken before it (an upsert between a
  // readSince base and target is exactly the "rewritten files look
  // new" hazard); [[readAt]] detects missing files and fails loudly
  // with the invalidating paths instead of silently returning a
  // partial corpus — retention policy (keep pre-compaction files until
  // snapshots expire) is a deployment concern layered above, exactly
  // as in the published table formats.

  // manifests live OUTSIDE the table directory: anything under it —
  // even underscore-prefixed — can trip partition discovery on the
  // live read's recursive listing
  private def snapDir(table: String) = new Path(s"$root/_snapshots/$table")

  // the retention area: rewritten-away data files move here (same-fs
  // rename, table-relative paths preserved) so snapshots taken before
  // the rewrite stay READABLE instead of failing — the published
  // formats' keep-until-expiry policy, implemented. Outside the table
  // dir for the same partition-discovery reason as the manifests.
  private def retiredDir(table: String) = new Path(s"$root/_retired/$table")

  /** Move replaced data files into the retention area. Same-filesystem
    * rename — no bytes copied. Fails loudly if any rename fails: at
    * that point the rewrite has already landed but the unmoved
    * originals are still live, so the table shows BOTH versions of
    * their keys (the documented crash-window state) until the caller
    * retries the retire or removes the leftovers. */
  private def retire(table: String, paths: Seq[String]): Unit = {
    if (paths.isEmpty) return
    val base = fs.makeQualified(new Path(dir(table))).toString
    val failed = paths.filterNot { p =>
      val rel = fs.makeQualified(new Path(p)).toString
        .stripPrefix(base).stripPrefix("/")
      val dst = new Path(retiredDir(table), rel)
      fs.mkdirs(dst.getParent)
      !fs.exists(dst) && fs.rename(new Path(p), dst)
    }
    if (failed.nonEmpty) throw new java.io.IOException(
      s"retention retire failed for ${failed.size} file(s) of $table " +
        s"(the rewrite already landed - retry): " +
        failed.take(3).mkString(", "))
  }

  /** Commit the table's current file set as the next snapshot version.
    * Returns the new version number (1-based).
    *
    * COMMIT PROTOCOL (two-phase, torn-read-free): (1) atomically claim
    * the version with a create-exclusive `.lock` file — losers bump to
    * the next number; (2) write the manifest BODY to a hidden temp
    * file, then rename it onto the final `.txt` name. Readers resolve
    * only `.txt` files, and the rename is atomic, so a reader can
    * never observe a half-written manifest (the create-exclusive-only
    * protocol exposed the final path while bytes were still
    * streaming). A writer that crashes mid-commit leaves a stale
    * `.lock`; later writers skip that version number — a gap in the
    * version sequence, never a corrupt snapshot.
    *
    * STORE CONTRACT: requires atomic create-exclusive (`O_EXCL`) and
    * atomic same-directory rename — true on HDFS and POSIX local
    * filesystems. Raw object stores without conditional puts provide
    * NEITHER; deploy there with a coordination layer (conditional-put
    * manifests or an external lock service), exactly as the published
    * table formats do for their commit step.
    *
    * IN-FLIGHT APPENDS: the file listing is STABILIZED — re-listed
    * until two consecutive passes agree — so a snapshot taken while a
    * foreign writer's job commit is renaming part files into place
    * cannot pin half a segment. Appends in this engine are
    * driver-sequential, so the first pass is normally already stable;
    * if the table keeps changing across 8 passes the snapshot fails
    * loudly rather than committing an arbitrary cut. */
  def snapshot(table: String): Long = {
    // a manifest IS a stable listing (one atomic file, committed under
    // the table lock) — pin its file set directly; the re-list-until-
    // stable loop survives only for manifest-less foreign tables,
    // where a racing writer's half-renamed job commit is observable
    // anchor the pin to the manifest commit it was taken at (one
    // listing decides both, so the pair cannot straddle a
    // racing commit): the `#inc=`/`#commit=` headers let tableChanges
    // prove whether any maintenance rewrite could hide in the
    // (fromCommit, toCommit] range after retention expires it —
    // without the anchor that check is impossible and an expired
    // rewrite's churn would flow through silently (parsers skip `#`
    // lines, so pre-anchor snapshots read back unchanged)
    val (files, anchor, pinnedDv) = {
      val log = logListing(table)
      log.latest match {
        case Some(mv) =>
          val s = stateAt(table, log, mv)
          (s.entries.keys.toSeq.sorted, Some((log.inc, mv)), s.dv)
        case None =>
          val base = fs.makeQualified(new Path(dir(table))).toString
          def listing(): Seq[String] = listInventory(table).map(_._2)
            .map(_.stripPrefix(base).stripPrefix("/"))
            .sorted
          var fs0 = listing()
          var again = listing()
          var tries = 0
          while (fs0 != again && tries < 8) {
            fs0 = again; again = listing(); tries += 1
          }
          require(fs0 == again,
            s"table $table is changing beneath snapshot (append in " +
              "flight) - retry when writes quiesce")
          (fs0, None, Map.empty[String, Dv.Ref])
      }
    }
    // the pinned dv refs ride the snapshot body ('#'-prefixed: old
    // parsers skip them): a pinned read must apply the vectors
    // CURRENT AT PIN TIME, not whatever grew later
    val body = anchor.toSeq.flatMap { case (inc, mv) =>
      Seq(s"#inc=$inc", s"#commit=$mv") } ++
      dvLinesOf("#dv=", pinnedDv) ++ files
    fs.mkdirs(snapDir(table))
    var v = math.max(snapshotVersions(table).lastOption.getOrElse(0L),
      expiredHighWater(table)) + 1
    while (true) {
      val lock = new Path(snapDir(table), f"v$v%09d.lock")
      val txt = new Path(snapDir(table), f"v$v%09d.txt")
      if (fs.exists(txt)) v += 1 // committed winner: next number
      else {
        val claimed =
          try { fs.create(lock, false).close(); true }
          catch {
            // a create failure is only a lost RACE if someone's claim
            // or manifest actually exists; otherwise the store itself
            // is broken (unwritable dir, disk full) and retrying with
            // higher numbers would spin forever — fail loudly
            case e: java.io.IOException =>
              if (fs.exists(lock) || fs.exists(txt)) false else throw e
          }
        if (!claimed) v += 1 // held (or crashed) claim: skip the number
        else {
          // from here the claim is OURS: clean it (and the temp) up on
          // ANY failure, else each transient write error would burn a
          // version number and litter the dir until the vacuum sweep
          val tmp = new Path(snapDir(table),
            f".v$v%09d-tmp-${System.nanoTime()}")
          try {
            val out = fs.create(tmp, true)
            out.write(body.mkString("\n").getBytes("UTF-8"))
            out.close()
            if (!fs.rename(tmp, txt))
              throw new java.io.IOException(
                s"snapshot commit failed renaming $tmp -> $txt")
          } catch {
            case e: Throwable =>
              fs.delete(tmp, false)
              fs.delete(lock, false)
              throw e
          }
          fs.delete(lock, false)
          return v
        }
      }
    }
    v // unreachable
  }

  /** Highest version number ever EXPIRED by [[vacuum]] — a zero-byte
    * `vNNN.expired` marker whose name carries the value, so version
    * numbers are never reused after a full vacuum: a consumer's stored
    * version handle must fail loudly ("no snapshot"), never silently
    * resolve to a NEW, unrelated snapshot committed under a recycled
    * number. */
  private def expiredHighWater(table: String): Long = {
    if (!fs.exists(snapDir(table))) return 0L
    fs.listStatus(snapDir(table)).toSeq.map(_.getPath.getName)
      .filter(n => n.startsWith("v") && n.endsWith(".expired"))
      .flatMap(n => n.stripPrefix("v").stripSuffix(".expired").toLongOption)
      .maxOption.getOrElse(0L)
  }

  /** All committed snapshot versions, ascending. */
  def snapshotVersions(table: String): Seq[Long] = {
    if (!fs.exists(snapDir(table))) return Seq.empty
    fs.listStatus(snapDir(table)).toSeq.map(_.getPath.getName)
      .filter(n => n.startsWith("v") && n.endsWith(".txt"))
      .map(n => n.stripPrefix("v").stripSuffix(".txt").toLong)
      .sorted
  }

  /** Incremental read: ONLY the rows appended after snapshot
    * `sinceVersion` — the incremental-ETL primitive (downstream
    * pipelines process what's new, no streaming infrastructure
    * needed). Implemented as a manifest set-difference: files in the
    * target snapshot (or the live inventory when `upTo` is None) that
    * the base manifest doesn't name. Parquet files are append-only, so
    * file-level difference IS row-level difference — as long as no
    * compaction ran in between; a compacted file would appear "new"
    * while carrying old rows, so this fails loudly if any base-
    * manifest file has vanished (same invalidation contract as
    * [[readAt]]). */
  def readSince(table: String, sinceVersion: Long,
                upTo: Option[Long] = None): DataFrame = {
    val baseBody = snapshotBody(table, sinceVersion)
    val baseFiles = baseBody.filterNot(_.startsWith("#")).toSet
    // deletion-vector drift breaks append-only semantics exactly like
    // a CoW rewrite breaks it (rows changed without file swaps), so
    // it refuses the same way: every base file's vector must be
    // UNCHANGED between the base pin and the target state, and no
    // fresh file may carry one
    val baseDv = parseSnapshotDvMap(baseBody)
    val targetDv = upTo match {
      case Some(v) => parseSnapshotDvMap(snapshotBody(table, v))
      case None => dvMapOf(table)
    }
    val dvDrift = baseFiles.filter(r => baseDv.get(r) != targetDv.get(r))
    require(dvDrift.isEmpty,
      s"snapshot v$sinceVersion of $table invalidated for incremental " +
        "read - deletion vectors changed on base file(s) (rows were " +
        "deleted merge-on-read; the table is no longer append-only " +
        s"over the base): ${dvDrift.take(5).mkString(", ")}")
    val gone = baseFiles.filterNot(r =>
      fs.exists(new Path(s"${dir(table)}/$r")))
    // NOTE: retention does NOT rescue incremental reads — a retained
    // base file proves the snapshot is still READABLE (readAt), but
    // the live table is no longer a superset of it, so "files newer
    // than the base" stops meaning "rows appended since": the rewrite
    // output would surface as new rows. Fail either way.
    require(gone.isEmpty,
      s"snapshot v$sinceVersion of $table invalidated (compaction or " +
        s"upsert rewrote files since) - incremental read would mistake " +
        s"rewritten files for new rows (retention cannot restore " +
        s"append-only semantics): ${gone.take(5).mkString(", ")}")
    val target = upTo match {
      case Some(v) => manifestFiles(table, v)
      case None =>
        val base = fs.makeQualified(new Path(dir(table))).toString
        fileInventory(table).map(_._2)
          .map(_.stripPrefix(base).stripPrefix("/"))
    }
    val fresh = target.filterNot(baseFiles)
    if (fresh.isEmpty)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        effectiveSchema(table))
    // the TARGET's files must exist too: a compaction after the target
    // snapshot would otherwise surface as a raw path-not-found (or a
    // silent partial read under ignoreMissingFiles) instead of this
    // API's loud-invalidation contract
    val freshGone = fresh.filterNot(r =>
      fs.exists(new Path(s"${dir(table)}/$r")))
    require(freshGone.isEmpty,
      s"incremental read of $table invalidated - target files missing " +
        s"(rewritten by compaction or upsert, or expired): " +
        s"${freshGone.take(5).mkString(", ")}")
    val freshDvd = fresh.filter(targetDv.contains)
    require(freshDvd.isEmpty,
      s"incremental read of $table invalidated - file(s) appended " +
        "since the base already carry deletion vectors (rows deleted " +
        "merge-on-read; 'files newer than the base' no longer means " +
        s"'rows appended since'): ${freshDvd.take(5).mkString(", ")}")
    val schema = effectiveSchema(table)
    inSchemaOrder(spark.read.schema(schema)
      .option("basePath", dir(table))
      .parquet(fresh.map(r => s"${dir(table)}/$r"): _*), schema)
  }

  private def manifestFiles(table: String, version: Long): Seq[String] =
    snapshotBody(table, version).filterNot(_.startsWith("#"))

  /** The (incarnation, manifest commit) a snapshot was anchored to at
    * pin time, parsed from its already-read body — None for pre-anchor
    * snapshots and manifest-less foreign tables. */
  private def parseSnapshotAnchor(body: Seq[String])
      : Option[(String, Long)] = {
    val heads = body.takeWhile(_.startsWith("#"))
    for {
      inc <- heads.find(_.startsWith("#inc="))
        .map(_.stripPrefix("#inc="))
      mv <- heads.find(_.startsWith("#commit="))
        .flatMap(_.stripPrefix("#commit=").toLongOption)
    } yield (inc, mv)
  }

  private def snapshotBody(table: String, version: Long): Seq[String] = {
    val p = new Path(snapDir(table), f"v$version%09d.txt")
    require(fs.exists(p), s"no snapshot v$version for table $table")
    val in = fs.open(p)
    val body = new String(
      org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8")
    in.close()
    body.split("\n").toSeq.filter(_.nonEmpty)
  }

  /** Read the table EXACTLY as of snapshot `version`. A manifest file
    * no longer live is resolved against the RETENTION area (files a
    * retain-mode [[upsert]]/[[compact]] moved aside) — partition
    * values parse identically there because retirement preserves the
    * table-relative path. Fails loudly if any file is in neither
    * place (rewritten without retention, or [[vacuum]]-expired) — a
    * partial corpus silently standing in for a pinned one is the
    * failure mode this API exists to prevent. */
  def readAt(table: String, version: Long): DataFrame = {
    val body = snapshotBody(table, version)
    val rel = body.filterNot(_.startsWith("#"))
    if (rel.isEmpty)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        effectiveSchema(table))
    val pinnedDv = parseSnapshotDvMap(body)
    val live = rel.filter(r => fs.exists(new Path(s"${dir(table)}/$r")))
    val liveSet = live.toSet
    val retired = rel.filterNot(liveSet)
      .filter(r => fs.exists(new Path(retiredDir(table), r)))
    val missing = rel.filterNot(liveSet).filterNot(retired.toSet)
    require(missing.isEmpty,
      s"snapshot v$version of $table invalidated - missing files " +
        s"(rewritten by compaction or upsert without retention, or " +
        s"vacuum-expired): ${missing.take(5).mkString(", ")}" +
        (if (missing.size > 5) s" (+${missing.size - 5} more)" else ""))
    val schema = effectiveSchema(table)
    // each location splits by pinned-vector presence: clean files read
    // plain, DV'd files read through the vector CURRENT AT PIN TIME
    // (a vector grown since must not hide rows from the pinned view —
    // it is a DIFFERENT, later-named file, so it can't: refs are
    // immutable by name)
    def rd(basePath: String, rels: Seq[String]): Seq[DataFrame] = {
      val (dvd, clean) = rels.partition(pinnedDv.contains)
      val parts = Seq.newBuilder[DataFrame]
      if (clean.nonEmpty)
        parts += inSchemaOrder(spark.read.schema(schema)
          .option("basePath", basePath)
          .parquet(clean.map(r => s"$basePath/$r"): _*), schema)
      if (dvd.nonEmpty) {
        val sel: Map[String, graft.functions.DvSel] = dvd.map(r =>
          new Path(s"$basePath/$r").toUri.getPath ->
            (graft.functions.ExcludeDv(
              dvFilePath(table, pinnedDv(r).name))
              : graft.functions.DvSel)).toMap
        parts += inSchemaOrder(spark.read.schema(schema)
          .option("basePath", basePath)
          .parquet(dvd.map(r => s"$basePath/$r"): _*)
          .filter(dvSelectCol(sel)), schema)
      }
      parts.result()
    }
    val parts =
      (if (live.nonEmpty) rd(dir(table), live) else Seq.empty) ++
      (if (retired.nonEmpty)
        rd(retiredDir(table).toString, retired) else Seq.empty)
    parts.reduce(_.unionByName(_))
  }

  /** The dv map snapshot `version` pinned (empty for pre-dv pins) —
    * the `VERSION AS OF` SQL path's vector source. */
  private[graft] def snapshotDvMap(table: String,
                                   version: Long): Map[String, Dv.Ref] =
    parseSnapshotDvMap(snapshotBody(table, version))

  /** DV-aware scan over an explicit (absPath, bytes) entry set — the
    * SQL catalog's fallback plan for DV-bearing tables (its normal
    * DSv2 parquet scan cannot filter rows by position). Declared
    * column order. */
  private[graft] def scanEntriesWithDv(table: String,
      entries: Seq[(String, Long)], schema: StructType,
      dv: Map[String, Dv.Ref]): DataFrame =
    readEntries(table,
      entries.map(e => (chainOfRel(e._1), e._1, e._2)), schema, dv)

  /** RESTORE the CURRENT table state to a pinned snapshot — the
    * published formats' `RESTORE TABLE … VERSION AS OF`, as one
    * transaction whose resulting file set IS the snapshot's:
    *
    *  - snapshot files that were rewritten away move BACK from the
    *    retention area into the table dir (paths are never reused, so
    *    the slot is free; a file still live stays put);
    *  - current files the snapshot lacks RETIRE (retained — pins
    *    taken after the restore's base state stay readable until
    *    vacuum);
    *  - the commit is DATA-CHANGING (`#op=restore`): CDC consumers
    *    see exactly the delete+insert diff the restore made (or its
    *    enriched update pairs), and the retained-commit vacuum pin
    *    keeps both sides replayable for the window.
    *
    * Loud when the snapshot is missing or invalidated (a needed file
    * vacuum-expired); optimistic-concurrency safe like every other
    * transaction here (the removal set derives from the transaction's
    * base, so a racing append simply lands on the removed side).
    * Returns (files un-retired, files retired).
    * Reference context: the reference engine re-pulls history to
    * recover state (v3/helpers/data_update.py:29–59); the snapshot
    * registry makes recovery a metadata transaction instead. */
  def restoreTable(table: String, version: Long): (Int, Int) = {
    val bodyR = snapshotBody(table, version) // loud when no snapshot
    val rels = bodyR.filterNot(_.startsWith("#"))
    val resolved = resolveLiveOrRetired(table, rels,
      s"restore to snapshot v$version")
    val byRel = rels.zip(resolved).toMap
    val targetSet = rels.toSet
    // the restored state's deletion vectors are the PINNED ones: a
    // vector grown since the pin rolls back (explicit drop — the only
    // operation that ever SHRINKS a file's vector), a pinned vector a
    // later rewrite dropped comes back with its file. Any concurrent
    // vector write between this plan and the commit is a loud
    // retryable conflict (the check covers every restored file).
    val pinnedDv = parseSnapshotDvMap(bodyR)
    val curDv = dvMapOf(table)
    val dvChangesR = pinnedDv.filter { case (rel, ref) =>
      !curDv.get(rel).contains(ref) }
    val dvDropsR = curDv.keySet.filter(r =>
      targetSet(r) && !pinnedDv.contains(r))
    val retiredBase = fs.makeQualified(retiredDir(table)).toString
    txn(table, "restore") { base =>
      base.requireVectors(rels, curDv)
      val removed = base.entries.keySet -- targetSet
      val toUnretire = rels.filterNot(base.entries.contains)
      toUnretire.foreach { rel =>
        val (abs, _) = byRel(rel)
        if (abs.startsWith(retiredBase)) {
          val dst = new Path(s"${dir(table)}/$rel")
          fs.mkdirs(dst.getParent)
          if (!fs.rename(new Path(abs), dst))
            throw new java.io.IOException(
              s"restore of $table to v$version could not move " +
                s"$rel back from the retention area - nothing published")
        } else if (!fs.exists(new Path(s"${dir(table)}/$rel")))
          throw new java.io.IOException(
            s"restore of $table to v$version lost $rel mid-flight " +
              "(concurrent vacuum?) - nothing published")
      }
      (Commit(toUnretire.map(rel => (rel, byRel(rel)._2)), removed,
        dvChangesR, dvDropsR, after = () =>
          retire(table, removed.toSeq.map(r => s"${dir(table)}/$r"))),
        (toUnretire.size, removed.size))
    }
  }

  /** Retention GC: keep the newest `keepLast` snapshot manifests,
    * delete the older ones, then delete every RETIRED file that no
    * kept manifest references. Live table files are never touched —
    * vacuum only ever shrinks history, not the table. After a vacuum,
    * [[readAt]] on an expired version fails with "no snapshot"; on a
    * kept version it still reproduces the corpus bit-for-bit. The
    * walk is driver-side over the retention listing (manifest-sized —
    * the model-state rule), exactly how the published formats' expire
    * + remove-orphans maintenance runs.
    *
    * `staleCommitMs`: snapshot-commit leftovers (`.lock` claims and
    * manifest temp files from crashed writers) older than this are
    * also swept — age-based because a FRESH lock may belong to an
    * in-flight commit. Crashed claims otherwise burn their version
    * number forever and accumulate junk in the snapshot dir.
    *
    * `sweepOrphans = true` additionally deletes LIVE-directory data
    * files the current manifest does not name and that are older than
    * `staleCommitMs` — the leftovers of a writer that crashed between
    * landing and publishing (invisible to every manifest reader, but
    * they cost storage and would resurface via [[refreshManifest]]).
    * Opt-in because on a table a FOREIGN writer appends to behind the
    * manifest's back, this would delete that writer's data — call
    * [[refreshManifest]] first on such tables. */
  def vacuum(table: String, keepLast: Int,
             staleCommitMs: Long = 3600000L,
             sweepOrphans: Boolean = false): VacuumStats = {
    require(keepLast >= 0, "keepLast must be >= 0")
    val versions = snapshotVersions(table)
    val expired = versions.dropRight(keepLast)
    // bump the never-reuse high-water mark BEFORE deleting (name
    // carries the value — no torn-read risk): a crash between delete
    // and a marker written after would reopen version recycling, the
    // silent-wrong-corpus the marker exists to prevent. Marking an
    // INTENDED expiry whose delete then fails merely burns a number
    // (the marker gates new numbering, never reads); drop superseded
    // markers after.
    expired.maxOption.foreach { hi =>
      if (hi > expiredHighWater(table)) {
        fs.create(new Path(snapDir(table), f"v$hi%09d.expired"), true)
          .close()
        fs.listStatus(snapDir(table)).map(_.getPath).foreach { q =>
          val n = q.getName
          if (n.startsWith("v") && n.endsWith(".expired") &&
              n.stripPrefix("v").stripSuffix(".expired")
                .toLongOption.exists(_ < hi))
            fs.delete(q, false)
        }
      }
    }
    // CHECKED expiry: a manifest whose delete failed is still on disk
    // and still readable, so it must keep pinning its retired files —
    // counting it deleted would GC files a live-looking snapshot names
    val reallyExpired = expired.filter(v =>
      fs.delete(new Path(snapDir(table), f"v$v%09d.txt"), false))
    val remaining = versions.filterNot(reallyExpired.toSet)
    // Two pin sources protect retired files from the GC below:
    //  1. surviving SNAPSHOTS (pinned VERSION AS OF reads);
    //  2. the RETAINED COMMIT LOG — every file a retained commit's
    //     change can reference (delta sides; checkpoint commits by
    //     fold diff). A CDC consumer lagging WITHIN the retained
    //     window (the manifest.minRetainedCommits floor) replays
    //     those commits through resolveLiveOrRetired, so vacuuming
    //     them would break a consumer the retention floor promises
    //     to serve — the published formats guard this with a
    //     time-based retention heuristic; the commit log lets this
    //     lake express the replayable window EXACTLY. Files leave
    //     the pin set the moment retention expires their commits,
    //     at which point the feed already refuses loudly BEFORE any
    //     file access (version-range check), so the old
    //     missing-file manifestation is unreachable for streams.
    // The same two sources pin deletion-vector files (the GC at the
    // end): a vector stays while ANY retained commit's dv map or ANY
    // surviving snapshot references it. ONE listing and ONE forward
    // walk of the log collect both pin sets, each commit body read
    // at most once.
    val dvd = dvDir(table)
    val dvGc = fs.exists(dvd)
    val keptRefs = Set.newBuilder[String]
    val pinnedDvNames = Set.newBuilder[String]
    remaining.foreach { v =>
      val body = snapshotBody(table, v)
      keptRefs ++= body.filterNot(_.startsWith("#"))
      parseSnapshotDvMap(body).values.foreach(r => pinnedDvNames += r.name)
    }
    val log = logListing(table)
    // each retained commit's dv map, from the one before it (a racing
    // retention cut's victim keeps the map)
    var dvMap = Map.empty[String, Dv.Ref]
    log.kinds.foreach { case (v, _) =>
      val c = new CommitView(table, log, v)
      // rewrite-only commits (compaction/clustering) are INVISIBLE
      // to the change feeds — changePlanBetween skips them — so
      // their swapped-out files need no replay pin; only
      // DATA-CHANGING commits' sides do (the first commit's side is
      // its full set: a from-0 replay needs every file it named).
      // Header-less legacy commits read op "" and pin conservatively;
      // a checkpoint whose BASE (v-1) has expired is unreplayable
      // (changePlanBetween refuses the range) - no pin needed
      try {
        if (!rewriteOps(c.heads.op))
          c.sides.foreach { case (a, r) => keptRefs ++= a; keptRefs ++= r }
      } catch {
        // a racing retention cut deleted this version mid-walk: its
        // change is no longer replayable, so not pinning its files
        // is correct (FNF only — any other IO failure aborts the
        // vacuum rather than GC a replayable pin)
        case _: java.io.FileNotFoundException => ()
      }
      if (dvGc) {
        try dvMap = c.dvAfter(dvMap)
        catch { case _: java.io.FileNotFoundException => () }
        dvMap.values.foreach(r => pinnedDvNames += r.name)
      }
    }
    // sweep crashed-commit leftovers: a lock whose version already
    // committed is unambiguously stale; any other lock/tmp is stale
    // once older than the in-flight window
    if (fs.exists(snapDir(table))) {
      val now = System.currentTimeMillis()
      val committed = remaining.toSet
      fs.listStatus(snapDir(table)).foreach { st =>
        val n = st.getPath.getName
        val isLock = n.startsWith("v") && n.endsWith(".lock")
        val isTmp = n.startsWith(".v") && n.contains("-tmp-")
        val lockVer =
          if (isLock) n.stripPrefix("v").stripSuffix(".lock").toLongOption
          else None
        val committedLock = lockVer.exists(committed)
        if ((isLock || isTmp) &&
            (committedLock || now - st.getModificationTime > staleCommitMs))
          fs.delete(st.getPath, false)
      }
    }
    // manifest-commit leftovers: a crashed writer's stale commit lock
    // (would otherwise stall the next writer until IT breaks the
    // claim) and torn manifest temps
    if (fs.exists(manifestDir(table))) {
      val now = System.currentTimeMillis()
      fs.listStatus(manifestDir(table)).foreach { st =>
        val n = st.getPath.getName
        if (n == ".commit.lock" &&
            now - st.getModificationTime > staleCommitMs)
          // NOT a plain delete: between our stat and the delete a
          // waiter may have broken this stale claim and re-claimed
          // fresh — the atomic-break protocol re-verifies before
          // discarding, a blind delete would remove the fresh claim
          breakStaleLock(manifestDir(table), staleCommitMs)
        else if ((n.startsWith(".commit.lock.broken-") ||
            n.startsWith(".m-tmp-")) &&
            now - st.getModificationTime > staleCommitMs)
          fs.delete(st.getPath, false)
      }
    }
    var files = 0
    var bytes = 0L
    // The orphan sweep runs UNDER the commit lock: a manifest
    // transaction lands files (rename keeps the staging-write mtime,
    // so a slow distributed write's output can look hours old the
    // moment it lands) BEFORE publishing the manifest that names them
    // — sweeping inside that window would delete just-committed data
    // the published manifest then names. With the lock held no
    // transaction is in flight, so an unmanifested live-dir file is a
    // crashed writer's leftover; the age gate remains as the
    // documented guard for FOREIGN writers appending behind the
    // manifest's back. One recursive listing supplies each file's
    // mtime and length (no per-file re-stat, which costs a round-trip
    // and throws if a racer already removed the file).
    if (sweepOrphans && hasManifest(table)) withCommitLock(table) { _ =>
      val log = logListing(table)
      log.latest.foreach { lv =>
        val live = stateAt(table, log, lv).entries
        val now = System.currentTimeMillis()
        val it = fs.listFiles(new Path(dir(table)), true)
        while (it.hasNext) {
          val f = it.next()
          val name = f.getPath.getName
          if (f.isFile && !name.startsWith("_") && !name.startsWith(".") &&
              !live.contains(relOf(table, f.getPath.toString)) &&
              now - f.getModificationTime > staleCommitMs &&
              fs.delete(f.getPath, false)) {
            files += 1
            bytes += f.getLen
          }
        }
      }
    }
    val rdir = retiredDir(table)
    val kept = keptRefs.result()
    if (fs.exists(rdir)) {
      val base = fs.makeQualified(rdir).toString
      val it = fs.listFiles(rdir, true)
      val doomed = Seq.newBuilder[Path]
      while (it.hasNext) {
        val f = it.next()
        if (f.isFile) {
          val rel = f.getPath.toString.stripPrefix(base).stripPrefix("/")
          if (!kept.contains(rel)) {
            bytes += f.getLen
            files += 1
            doomed += f.getPath
          }
        }
      }
      doomed.result().foreach(p => fs.delete(p, false))
      // drop now-empty partition dirs in the retention area
      Option(fs.listStatus(rdir)).toSeq.flatten.filter(_.isDirectory)
        .foreach { d =>
          if (fs.listStatus(d.getPath).isEmpty) fs.delete(d.getPath, true)
        }
    }
    // ── deletion-vector GC ──
    // an unreferenced vector older than `staleCommitMs` sweeps — the
    // age gate protects vectors staged by an in-flight write that
    // hasn't published yet (they're unreferenced until their commit
    // lands)
    if (dvGc) {
      val pinned = pinnedDvNames.result()
      val now = System.currentTimeMillis()
      fs.listStatus(dvd).foreach { st =>
        if (st.isFile && !pinned(st.getPath.getName) &&
            now - st.getModificationTime > staleCommitMs &&
            fs.delete(st.getPath, false)) {
          files += 1
          bytes += st.getLen
        }
      }
    }
    VacuumStats(reallyExpired.size, files, bytes)
  }

  // ── Materialized views (incremental refresh from the change feed) ──
  //
  // A materialized aggregate over a lake table, stored AS a lake
  // table and refreshed in O(changed files) from the commit log's
  // change feed instead of O(table) recomputation — the incremental
  // materialized view the published warehouses hang off their CDC
  // primitives. Distributive aggregates only (SUM over a SQL
  // expression, plus the row count): each refresh replays
  // `changesBetweenCommits(lastReflected, latest]` — inserts add,
  // deletes subtract, rewrite-only commits (compaction/clustering)
  // contribute nothing — and upserts the touched GROUPS into the view
  // table. AVG derives as sum/count at query time; MIN/MAX are not
  // incrementally maintainable under deletes and are refused at
  // definition by construction (there is no way to declare them).
  //
  // Exactly-once bookkeeping rides the sink-txn machinery: every
  // refresh commit lands `#txn=__mv:<view>:<srcVersion>` ATOMICALLY
  // with the view's manifest publish (plus the durable progress
  // marker), so a crash-replayed refresh dedupes instead of
  // double-applying, and the view's last reflected source version is
  // readable from its own commit log ([[lastSinkBatch]]).

  private def mvAppId(view: String) = s"__mv:$view"

  case class MvRefresh(mode: String, fromVersion: Long, toVersion: Long,
                       stats: Option[UpsertStats])

  /** Define `view` as SUM/COUNT aggregates of `src` grouped by
    * `groupCols` (must include the partition column chain_name).
    * `sums` maps output column → SQL expression over `src`'s columns,
    * summed as BIGINT; the view additionally carries `mv_count` (the
    * group's row count). Creates the view's lake table and persists
    * the definition as its table properties; [[refreshMaterializedView]]
    * does the initial full load. */
  def createMaterializedView(view: String, src: String,
                             groupCols: Seq[String],
                             sums: Map[String, String]): Unit = {
    require(groupCols.contains("chain_name"),
      "materialized view group columns must include chain_name - the " +
        "view is itself a lake table and partitions by it")
    require(sums.nonEmpty, "a materialized view needs at least one SUM")
    val srcSchema = effectiveSchema(src)
    val missing = groupCols.filterNot(srcSchema.fieldNames.contains)
    require(missing.isEmpty,
      s"materialized view group column(s) ${missing.mkString(", ")} " +
        s"not in $src")
    val reserved = (groupCols :+ "mv_count").toSet
    require(sums.keys.forall(o => !reserved(o)),
      "sum output names collide with group columns or mv_count")
    sums.values.foreach(spark.sessionState.sqlParser.parseExpression(_))
    import org.apache.spark.sql.types.{LongType, StructField}
    val schema = StructType(
      groupCols.map(c => srcSchema(c).copy(nullable = true)) ++
        sums.keys.toSeq.sorted.map(StructField(_, LongType,
          nullable = true)) :+
        StructField("mv_count", LongType, nullable = true))
    createTable(view, schema)
    setTableProperties(view, Map(
      "mv.src" -> src,
      "mv.group" -> groupCols.mkString(","),
      "mv.incarnation" -> currentIncarnation(src).getOrElse(
        throw new IllegalArgumentException(
          s"create the materialized view after $src has commits - " +
            "its incarnation identity pins the version numbering"))) ++
      sums.map { case (o, e) => s"mv.sum.$o" -> e })
  }

  /** Bring `view` up to its source's latest commit. Incremental
    * (O(files changed since the last refresh)) when the change
    * window is still retained AND replayable — source updates/deletes
    * must run `retain = true` (the Delta-CDF posture: un-retained
    * rewrites delete their pre-images, so the feed refuses) — else
    * `full` on the initial load or, when `allowFullRebuild`, whenever
    * the window broke (that refusal propagates otherwise). No-op when
    * already current. NULL-valued group keys refuse loudly through
    * the view upsert (the view is KEYED by its groups; coalesce nulls
    * in the source first). Concurrent-safe: the view upsert retries
    * rivals, and a replayed refresh dedupes on the `#txn` header. */
  def refreshMaterializedView(view: String,
                              allowFullRebuild: Boolean = true)
      : MvRefresh = {
    val props = tableProperties(view)
    val src = props.getOrElse("mv.src", throw new IllegalArgumentException(
      s"$view is not a materialized view (no mv.src property)"))
    val groupCols = props("mv.group").split(',').toSeq
    val sums = props.toSeq.collect {
      case (k, e) if k.startsWith("mv.sum.") =>
        (k.stripPrefix("mv.sum."), e)
    }.sortBy(_._1)
    require(currentIncarnation(src).contains(props("mv.incarnation")),
      s"source $src of $view was dropped and recreated since the " +
        "view's definition - its versions restarted; drop and " +
        "recreate the view")
    val v1 = latestCommitVersion(src).getOrElse(
      return MvRefresh("noop", -1L, -1L, None))
    val v0 = lastSinkBatch(view, mvAppId(view))
    if (v0 == v1) return MvRefresh("noop", v0, v1, None)

    def sumCols(sgn: Column): Seq[Column] =
      sums.map { case (o, e) =>
        sum(sgn * coalesce(expr(e).cast("long"), lit(0L))).as(o) } :+
        sum(sgn).cast("long").as("mv_count")
    val gcols = groupCols.map(col)

    def fullLoad(): MvRefresh = {
      // pin the aggregate to ONE source version: plan against the
      // current manifest, then require no commit landed while
      // planning (retry absorbs the race)
      var tries = 0
      while (true) {
        val vPin = latestCommitVersion(src).getOrElse(-1L)
        val plus = sumCols(lit(1L))
        val fresh = read(src).groupBy(gcols: _*).agg(
          plus.head, plus.tail: _*)
        if (latestCommitVersion(src).getOrElse(-1L) == vPin) {
          // tombstone groups that vanished since the last state — an
          // empty view (initial load) provably has none, so skip the
          // exceptAll shuffle + empty-scan leg outright (guide §2.4:
          // remove the pass, don't tune it)
          val out = if (fileInventory(view).isEmpty)
            fresh.withColumn("__del", lit(false))
          else {
            val stale = read(view).select(gcols: _*)
              .exceptAll(fresh.select(gcols: _*))
              .select((groupCols.map(col) ++
                sums.map(s => lit(null).cast("long").as(s._1)) :+
                lit(null).cast("long").as("mv_count")): _*)
              .withColumn("__del", lit(true))
            fresh.withColumn("__del", lit(false))
              .unionByName(stale)
          }
          val st = upsertRetrying(out, view, groupCols,
            deleteCol = Some("__del"), checkUnique = false,
            txn = Some((mvAppId(view), vPin)))
          recordSinkBatch(view, mvAppId(view), vPin)
          return MvRefresh("full", v0, vPin, Some(st))
        }
        tries += 1
        require(tries < 8,
          s"full MV load of $view raced 8 straight commits of $src")
      }
      throw new IllegalStateException("unreachable")
    }

    if (v0 < 0L) return fullLoad()
    val changes =
      try changesBetweenCommits(src, v0, v1,
        expectedIncarnation = Some(props("mv.incarnation")))
      catch {
        case e: IllegalArgumentException if allowFullRebuild =>
          // part of the window expired (manifest retention / vacuum)
          return fullLoad()
      }
    val sgn = when(col("_change_type") === "insert", lit(1L))
      .otherwise(lit(-1L))
    val delta = changes.groupBy(gcols: _*).agg(
      sumCols(sgn).head, sumCols(sgn).tail: _*)
    val cur = read(view)
    // NULL-SAFE group join: a null-valued group key must still find
    // its existing view row (plain equi-join would orphan it into a
    // duplicate)
    val joinCond = groupCols.map(c => col(s"d.$c") <=> col(s"c.$c"))
      .reduce(_ && _)
    val merged = delta.as("d").join(cur.as("c"), joinCond, "left")
      .select((groupCols.map(c => col(s"d.$c").as(c)) ++
        sums.map { case (o, _) =>
          (coalesce(col(s"c.$o"), lit(0L)) + col(s"d.$o")).as(o) } :+
        (coalesce(col("c.mv_count"), lit(0L)) + col("d.mv_count"))
          .as("mv_count")): _*)
      .withColumn("__del", col("mv_count") === 0L)
      // a negative count means the change feed and the view state
      // diverged - refuse loudly rather than materialize garbage
      .withColumn("mv_count", when(col("mv_count") < 0L,
        raise_error(concat(lit(s"materialized view $view went " +
          "negative on group "), to_json(struct(gcols: _*)))))
        .otherwise(col("mv_count")))
    val st = upsertRetrying(merged, view, groupCols,
      deleteCol = Some("__del"), checkUnique = false,
      txn = Some((mvAppId(view), v1)))
    recordSinkBatch(view, mvAppId(view), v1)
    MvRefresh("incremental", v0, v1, Some(st))
  }
}
