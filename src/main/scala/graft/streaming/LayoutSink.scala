package graft.streaming

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.sources.{CommitLog, StatsIndex, ZOrder}

/** Streaming ingest that lands CLUSTERED, INDEXED data — the shape a
  * 100 TB lake actually ingests with: every micro-batch is z-ordered
  * before it touches disk (files are scan-prunable from birth, no
  * "ingest now, OPTIMIZE later" window where queries full-scan fresh
  * data), and the per-file min/max stats index is refreshed after each
  * batch, so [[StatsIndex.readPruned]] never lags the lake.
  *
  * Cost shape per batch: one range exchange + per-file sort on the
  * BATCH (not the lake), then an index refresh that footer-reads only
  * the batch's new files ([[StatsIndex.refresh]] cost ∝ churn).
  * Z-locality is per-batch; cross-batch consolidation is a separate
  * compaction pass (the standard ingest/OPTIMIZE split).
  *
  * Delivery: EXACTLY-ONCE across crash/retry, via a minimal
  * batchId-keyed commit log at `lakeDir/_graft_log/<batchId>.manifest`
  * (the underscore prefix hides it from Spark reads and
  * [[StatsIndex]]'s listing), periodically folded into a snapshot
  * checkpoint ([[graft.sources.CommitLog.checkpoint]]) so log listing
  * cost stays bounded over an ingest's life. Per batch, the
  * single-writer streaming query: (1) skips batches already committed
  * — manifest present or subsumed by a checkpoint (replay
  * after a restart at the checkpoint boundary); (2) STAGES the
  * clustered batch write into a hidden `.occ-*` dir with no lock held
  * (r10 — the expensive part of ingest no longer blocks concurrent
  * DML/OCC commits), then under the writer lock (3) sweeps data files
  * not referenced by any manifest — a previous attempt's
  * crashed-publish debris — renames the staged files in, and commits
  * the file list as one write-then-atomic-rename manifest; (4)
  * refreshes the index — so
  * the plain `spark.read.parquet(lakeDir)` contract holds again the
  * moment a retry runs, and [[readCommitted]] holds even INSIDE the
  * crash window (it scans only manifest-listed files). The index is
  * refreshed only after commit, on a cleaned lake, so it never
  * references an orphan; a replay that finds its manifest already
  * committed refreshes the index anyway (incremental, cost ∝ unseen
  * files) — a crash BETWEEN commit and refresh must not leave the
  * index lagging the lake forever. `LayoutSinkSpec` injects both
  * crash points and asserts each row lands exactly once.
  * [[ZOrder.optimize]] reads the COMMITTED view (never a crash
  * window's orphans) and carries the log's batch ids across its
  * directory swap, so exactly-once holds across a compaction too.
  * The log format and readers live in [[graft.sources.CommitLog]].
  */
object LayoutSink {

  def start(stream: DataFrame, lakeDir: String, indexDir: String,
      checkpointDir: String, zCols: Seq[String], bits: Int = 10,
      filesPerBatch: Int = 2, curve: String = "morton",
      checkpointEvery: Int = 16): StreamingQuery = {
    // fail fast on misconfiguration — an invalid curve name or arity
    // must reject HERE, not kill the query when the first non-empty
    // batch reaches curveWrite mid-ingest
    require(curve == "morton" || curve == "hilbert",
      s"unknown curve '$curve' (morton | hilbert)")
    require(curve != "hilbert" || zCols.size >= 2,
      s"hilbert needs >= 2 clustering columns, got ${zCols.size} " +
        "(use morton for a single-column layout)")
    require(curve != "hilbert" || zCols.size * bits <= 63,
      s"hilbert: dims*bits = ${zCols.size * bits} exceeds long range " +
        "(lower bits for wide clustering column sets)")
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processBatch(batch, batchId, lakeDir, indexDir, zCols, bits,
          filesPerBatch, curve, checkpointEvery = checkpointEvery)
      }
      .start()
  }

  /** One committed micro-batch — the exactly-once unit. Contract:
    * ONE writer (the streaming query; foreachBatch is serial within
    * it). `failAfterWrite` is the spec's crash-injection point:
    * throw after the data lands but before the manifest commits. */
  private[graft] def processBatch(batch: DataFrame, batchId: Long,
      lakeDir: String, indexDir: String, zCols: Seq[String], bits: Int,
      filesPerBatch: Int, curve: String,
      failAfterWrite: Boolean = false,
      failAfterCommit: Boolean = false,
      checkpointEvery: Int = 16,
      commitWaitMs: Long = 30000L): Unit = {
    val spark = batch.sparkSession
    val fs = new Path(lakeDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (CommitLog.isCommitted(fs, lakeDir, batchId)) {
      // replayed after commit: the DATA is done, but the crash may have
      // hit between commit and the index refresh — refresh here too
      // (incremental: footer-reads only files the index hasn't seen;
      // a fully-converged replay is a metadata no-op) so the index can
      // never lag the lake past a retry
      if (CommitLog.dataFileNames(fs, lakeDir).nonEmpty) {
        StatsIndex.refresh(spark, lakeDir,
          zCols.map(graft.sources.ColumnMapping.mapping(fs, lakeDir)
            .physicalOf), indexDir); ()
      }
      return
    }
    // STAGED ingest (r10): the batch's clustered write — a range
    // exchange, per-file sort and parquet encode, the expensive part
    // of ingest — runs with NO lock held, into a hidden `.occ-*`
    // stage under the lake ([[graft.sources.Occ]]'s discipline:
    // invisible to every reader and sweep, exact file attribution
    // from the stage listing). The writer lock is then held only for
    // a METADATA-scale commit section: renames + one manifest rename
    // + the index/fold maintenance. Before r10 the lock spanned the
    // whole write, so a long ingest batch serialized every concurrent
    // DML/OCC commit behind it; now ingest and mutations interleave
    // at commit granularity. The lock section still owns the
    // horizon-0 vacuum (nothing can be mid-publish while it holds)
    // and the first-commit bootstrap.
    //
    // The definitions are read once and PINNED: the FILL below and
    // the staged gates use them, and a Constraints.add landing between
    // the gates and the commit section validated only the committed
    // rows (this stage is invisible to it), so the commit section
    // re-runs the gates when the pin no longer matches.
    def defsPin() = graft.sources.Occ.defsSnapshot(fs, lakeDir)
    val pinnedDefs = defsPin()
    // column mapping first (a stream producing logical names keeps
    // landing the committed physical schema across a rename; the
    // clustering columns translate the same way), then the
    // generated-column FILL: omitted defined columns are computed
    // here, so every staged file already carries them.
    // Pinned once, with the row count and the curve write's scaling
    // ranges observed in the same job: one pass answers "is the batch
    // empty" and the ranges, and the write reads the pinned rows
    // instead of the batch's source files.
    val cmap = graft.sources.ColumnMapping.mapping(fs, lakeDir)
    val zPhys = zCols.map(cmap.physicalOf)
    val (b, rows, ranges) = ZOrder.pinnedRanges(
      graft.sources.GeneratedColumns.fill(
        graft.sources.ColumnMapping.toPhysical(spark, lakeDir, batch),
        pinnedDefs._2), zPhys)
    val stage = graft.sources.Occ.stageDir(lakeDir)
    // the write is the pin's only reader: release it before the gates
    // and the commit section
    val newFiles =
      try {
        if (rows == 0) Seq.empty[String]
        else {
          ZOrder.curveWrite(b, stage, zPhys, bits,
            numFiles = filesPerBatch, mode = "append", curve = curve,
            ranges = Some(ranges))
          graft.sources.Occ.stagedNames(fs, stage)
        }
      } finally graft.sources.Pins.release(b)
    // CHECK-constraint + generated-column gates on exactly the
    // STAGED bytes — zero lock time; a violating batch throws here
    // and its stage is crash debris the aged sweep reclaims
    def validateStaged(defs: (Seq[(String, String)],
        Seq[(String, String, String)])): Unit = {
      graft.sources.Constraints.validatePaths(spark, lakeDir,
        newFiles.map(n => s"$stage/$n"), defs._1)
      graft.sources.GeneratedColumns.validatePaths(spark, lakeDir,
        newFiles.map(n => s"$stage/$n"), defs._2)
    }
    validateStaged(pinnedDefs)
    if (failAfterWrite)
      throw new RuntimeException("injected crash before commit")
    // bounded wait, NOT fail-fast: the concurrent ingest+OCC mix
    // means an OCC verb's ms-scale commit section can be in flight
    // at this acquire — failing the fully-staged batch (and the
    // whole streaming query with it) over a millisecond of
    // contention is the wrong trade; briefly waiting is the same
    // courtesy the OCC verbs extend to the sink
    CommitLog.withWriterLock(fs, lakeDir, waitMs = commitWaitMs) {
      // claim the lake's manifest-id space for epoch replay: an
      // Occ.append claiming max+1 on this lake would collide with a
      // FUTURE batchId of this query and silently skip that epoch's
      // rows (isCommitted reads "id ≤ committed" as done) — the
      // marker makes Occ.append refuse. Idempotent, one probe
      CommitLog.claimEpochOwner(fs, lakeDir, "LayoutSink")
      val defsNow = defsPin()
      if (defsNow != pinnedDefs) validateStaged(defsNow)
      // first commit ever: grandfather pre-existing (bootstrap)
      // files into their own manifest BEFORE anything lands, so a
      // crash on the very first batch still leaves its debris
      // distinguishable from data the sink must never delete. Gate
      // on RECORD count, not dir existence — taking the lock above
      // already created the log dir
      if (CommitLog.recordCount(fs, lakeDir) == 0)
        CommitLog.commit(fs, lakeDir, -1L,
          CommitLog.dataFileNames(fs, lakeDir).toSeq.sorted)
      // a previous attempt of SOME batch may have crashed between
      // its renames and its commit — remove every unreferenced data
      // file (horizon 0: we hold the lock, nothing is mid-publish)
      // and age out crashed attempts' stage dirs
      CommitLog.vacuum(fs, lakeDir, olderThanMs = 0L)
      graft.sources.Occ.sweepStaleStages(fs, lakeDir)
      graft.sources.Occ.renameInto(fs, stage, newFiles, lakeDir)
      CommitLog.commit(fs, lakeDir, batchId, newFiles)
      if (failAfterCommit)
        throw new RuntimeException(
          "injected crash before index refresh")
      // refresh AFTER commit, on a cleaned lake: the index never
      // sees an orphan (mid-crash-window the sink is down, so no
      // refresh runs until the retry has cleaned up)
      if (newFiles.nonEmpty) {
        StatsIndex.refresh(spark, lakeDir, zPhys, indexDir); ()
      }
      // fold the log once it outgrows the threshold, so per-batch
      // listing/parse cost stays O(checkpointEvery), not O(batches
      // ever). Safe here: single writer, data + index already
      // durable; a crash mid-fold leaves redundant subset records.
      if (checkpointEvery > 0 &&
          CommitLog.recordCount(fs, lakeDir) > checkpointEvery)
        CommitLog.checkpoint(fs, lakeDir)
    }
    fs.delete(new Path(stage), true); ()
  }

  /** Exactly-once read surface: only manifest-listed files, so a
    * crash window's uncommitted orphans are invisible. Falls back to
    * the plain directory read when no commit log exists (a compacted
    * or non-sink lake). Fails fast if a committed file is missing —
    * that is real corruption (an external rewrite keeps the log only
    * if it keeps the files; [[ZOrder.optimize]] swaps both away).
    * `mergeSchema = true` unions the files' physical schemas — needed
    * after an additive [[graft.sources.MergeInto.merge]] evolution
    * (carried files keep the old schema, their rows read NULL in the
    * added columns); opt-in because it footer-reads every planned
    * file's schema. */
  def readCommitted(spark: SparkSession, lakeDir: String,
      mergeSchema: Boolean = false): DataFrame = {
    val fs = new Path(lakeDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def rd = spark.read.option("mergeSchema", mergeSchema.toString)
    // no log RECORDS = not a logged lake (the dir alone can exist
    // from a lock acquisition that never committed anything)
    if (!fs.exists(new Path(CommitLog.logDir(lakeDir))) ||
        CommitLog.recordCount(fs, lakeDir) == 0) {
      CommitLog.requireNotHalfClone(fs, lakeDir, "readCommitted")
      return rd.parquet(lakeDir)
    }
    val names = CommitLog.committedNames(fs, lakeDir).toSeq.sorted
    if (names.isEmpty) {
      // committed view is empty; if uncommitted orphans exist they
      // donate the schema (zero rows of it), and a lake with no data
      // files at all has no schema anywhere — return the canonical
      // empty frame instead of letting parquet schema inference throw
      return if (CommitLog.dataFileNames(fs, lakeDir).isEmpty)
        spark.emptyDataFrame
      else spark.read.parquet(lakeDir).limit(0)
    }
    val paths = CommitLog.resolveDataPaths(fs, lakeDir, names)
    names.zip(paths).foreach { case (n, p) =>
      require(fs.exists(new Path(p)),
        s"readCommitted: committed file $n missing from $lakeDir — " +
          "lake rewritten without retiring the commit log")
    }
    // column mapping: physical scan, logical names out (identity on
    // unmapped lakes)
    graft.sources.ColumnMapping.toLogical(spark, lakeDir,
      rd.parquet(paths: _*))
  }

  /** INCREMENTAL read: only the rows batches `(fromExclusive,
    * toInclusive]` added — [[CommitLog.changedNames]]'s files, nothing
    * else planned. The consume loop a 100 TB incremental pipeline
    * runs: remember the last batch id you processed, read the delta,
    * advance. Fails fast past the checkpoint-fold horizon. */
  def readChanges(spark: SparkSession, lakeDir: String,
      fromExclusive: Long, toInclusive: Long): DataFrame = {
    val fs = new Path(lakeDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(new Path(CommitLog.logDir(lakeDir))),
      s"readChanges: $lakeDir has no commit log — no change tracking")
    CommitLog.requireNotHalfClone(fs, lakeDir, "readChanges")
    val names = CommitLog.changedNames(fs, lakeDir, fromExclusive,
      toInclusive).toSeq.sorted
    if (names.isEmpty)
      return if (CommitLog.dataFileNames(fs, lakeDir).isEmpty)
        spark.emptyDataFrame
      else spark.read.parquet(lakeDir).limit(0)
    graft.sources.ColumnMapping.toLogical(spark, lakeDir,
      spark.read.parquet(
        CommitLog.resolveDataPaths(fs, lakeDir, names): _*))
  }

  /** TIMESTAMP AS OF read — Delta's wall-clock time travel: the lake
    * as of the newest version published at-or-before `tsMs`
    * ([[CommitLog.committedViewAtTime]]; loud below the oldest live
    * record, loud past reclaimed bytes, current column map applied).
    * For MoR lakes read the DV-aware twin
    * ([[graft.sources.DeletionVectors.readMorAtTime]]) — this surface
    * serves the DATA FILES of the resolved version only. */
  def readCommittedAtTime(spark: SparkSession, lakeDir: String,
      tsMs: Long): DataFrame = {
    val fs = new Path(lakeDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(new Path(CommitLog.logDir(lakeDir))),
      s"readCommittedAtTime: $lakeDir has no commit log — no history " +
        "to travel")
    CommitLog.requireNotHalfClone(fs, lakeDir, "readCommittedAtTime")
    val ((files, _), _) = CommitLog.committedViewAtTime(fs, lakeDir, tsMs)
    val names = files.toSeq.sorted
    if (names.isEmpty)
      return if (CommitLog.dataFileNames(fs, lakeDir).isEmpty)
        spark.emptyDataFrame
      else spark.read.parquet(lakeDir).limit(0)
    graft.sources.ColumnMapping.toLogical(spark, lakeDir,
      spark.read.parquet(
        CommitLog.resolveDataPaths(fs, lakeDir, names): _*))
  }

  /** TIME TRAVEL read: the lake exactly as of batch `asOf` —
    * [[CommitLog.committedNamesAt]]'s file set (which fails fast past
    * the checkpoint-fold horizon rather than answering from a partial
    * log). Later batches' files and any crash orphans are invisible;
    * [[CommitLog.vacuum]] never deletes a committed file, so an as-of
    * view inside the horizon stays readable across maintenance.
    * Metadata-scale like every log read: the plan lists only the
    * manifest-named files, no directory scan of the data. */
  def readCommittedAt(spark: SparkSession, lakeDir: String,
      asOf: Long): DataFrame = {
    val fs = new Path(lakeDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(new Path(CommitLog.logDir(lakeDir))),
      s"readCommittedAt: $lakeDir has no commit log — no history to " +
        "travel")
    CommitLog.requireNotHalfClone(fs, lakeDir, "readCommittedAt")
    val names = CommitLog.committedNamesAt(fs, lakeDir, asOf).toSeq.sorted
    if (names.isEmpty)
      return if (CommitLog.dataFileNames(fs, lakeDir).isEmpty)
        spark.emptyDataFrame
      else spark.read.parquet(lakeDir).limit(0)
    val paths = CommitLog.resolveDataPaths(fs, lakeDir, names)
    names.zip(paths).foreach { case (n, p) =>
      require(fs.exists(new Path(p)),
        s"readCommittedAt: committed file $n missing from $lakeDir — " +
          "lake rewritten without retiring the commit log")
    }
    // the CURRENT map applies to every travelled version (the map is
    // table metadata, not versioned state — Delta's behavior)
    graft.sources.ColumnMapping.toLogical(spark, lakeDir,
      spark.read.parquet(paths: _*))
  }
}
