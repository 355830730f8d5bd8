package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** OPTIMISTIC CONCURRENCY for lake writers — Delta's commit model on
  * the same [[CommitLog]]: do the EXPENSIVE work (scans, shuffles,
  * parquet encoding) with NO lock held, writing everything into a
  * hidden `.occ-<uuid>/` staging directory, then enter a
  * metadata-scale COMMIT SECTION (a briefly-waited writer lock, held
  * for renames + one record publish — milliseconds) that validates
  * the snapshot and publishes, or reports a conflict for the caller
  * loop to retry on a fresh snapshot.
  *
  * Why this beats the long lock at 100 TB: the classic DML verbs
  * ([[DeletionVectors.mergeMor]] and friends) hold the single writer
  * lock across their WHOLE body, so independent writers sharing one
  * lake serialize their multi-second parquet writes behind each
  * other. Under OCC the writes overlap fully and only the per-commit
  * record publish serializes — exactly the putIfAbsent arbitration
  * Delta's log gives; `OccScale` measures the wall-clock gap and
  * SCALE.md carries the cell. [[graft.streaming.LayoutSink]] ingests
  * with the same staging discipline since r10: its batch write runs
  * unlocked into a stage, so a long ingest batch no longer blocks
  * concurrent commits.
  *
  * Conflict rules (validated inside the commit section):
  *
  *  - [[append]] NEVER conflicts — blind adds commute with everything;
  *    its commit section just claims the next free batch id. Two
  *    racing appenders both land, in either order.
  *  - [[mergeMor]] conflicts when the committed view (file set OR
  *    covered-vector set) CHANGED since its snapshot — its matched-row
  *    discovery read that view, so an interleaved append could hold
  *    matching keys and an interleaved mutation could have killed or
  *    replaced rows it decided on (the lost update). The loser's
  *    staged bytes are deleted and the caller loop re-runs the whole
  *    discovery on a fresh snapshot, up to `maxRetries`.
  *
  * Crash safety is the staging dir's: nothing under `.occ-*` is
  * visible to any reader (hidden prefix — Spark and the name listings
  * both skip it), renames into the live directories happen ONLY
  * inside the commit section right before the atomic record publish,
  * and a crashed preparation's stage ages into [[sweepStaleStages]]
  * (run by every OCC writer on entry). The horizon-0 sweeps the
  * LOCKED verbs run cannot eat an in-flight OCC mutation's bytes
  * precisely because those bytes are not in the live directories
  * until the lock is held. */
object Occ {

  private def fsOf(spark: SparkSession, dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private[graft] def stageDir(lakeDir: String): String =
    s"$lakeDir/.occ-${java.util.UUID.randomUUID()}"

  /** Crashed preparations: `.occ-*` dirs older than `olderThanMs`.
    * Aged, not immediate — a LIVE preparation's stage is in active
    * use; 1 h matches [[CommitLog.vacuum]]'s default horizon. */
  def sweepStaleStages(fs: org.apache.hadoop.fs.FileSystem,
      lakeDir: String, olderThanMs: Long = 3600000L): Unit = {
    val root = new Path(lakeDir)
    if (!fs.exists(root)) return
    val horizon = System.currentTimeMillis() - olderThanMs
    fs.listStatus(root).iterator
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(".occ-"))
      .filter(_.getModificationTime <= horizon)
      .foreach { s => fs.delete(s.getPath, true); () }
  }

  private[graft] def stagedNames(fs: org.apache.hadoop.fs.FileSystem,
      dir: String): Seq[String] = {
    val d = new Path(dir)
    if (!fs.exists(d)) Seq.empty
    else fs.listStatus(d).iterator.map(_.getPath.getName)
      .filter(_.endsWith(".parquet")).toSeq.sorted
  }

  private[graft] def renameInto(fs: org.apache.hadoop.fs.FileSystem,
      from: String, names: Seq[String], into: String): Unit = {
    fs.mkdirs(new Path(into))
    names.foreach { n =>
      require(fs.rename(new Path(from, n), new Path(into, n)),
        s"occ commit: could not publish $n into $into")
    }
  }

  /** The lake's live CHECK-constraint + generated-column definitions,
    * pinned as one comparable value. OCC verbs run the data-quality
    * gates (and generated-column recompute/fill) against STAGED bytes
    * with no lock held, so a definition added or changed between
    * prepare and commit would otherwise publish unvalidated (or
    * stale-generated) rows — [[Constraints.add]] validates only what
    * is COMMITTED at its scan, and a staged-but-unpublished batch is
    * invisible to it. Pinning the definitions into the snapshot and
    * comparing inside the commit section closes that window: the DML
    * verbs treat a definition change as a CONFLICT (full re-prepare —
    * their staged rows may embed the old definitions via recompute/
    * fill), while [[append]] re-validates its unchanged staged bytes
    * under the lock (caller-provided rows; only the gate re-runs).
    * Both records come from one listing of the log. */
  private[graft] def defsSnapshot(fs: org.apache.hadoop.fs.FileSystem,
      lakeDir: String): Defs = {
    val lines = DefRecords.readLinesOf(fs, lakeDir,
      Seq(Constraints.Prefix, GeneratedColumns.Prefix))
    (Constraints.parse(lines(Constraints.Prefix)),
      GeneratedColumns.parse(lines(GeneratedColumns.Prefix)))
  }

  private[graft] type Defs =
    (Seq[(String, String)], Seq[(String, String, String)])

  /** Both staged-bytes gates ([[Constraints.validatePaths]],
    * [[GeneratedColumns.validatePaths]]) against the definitions
    * `defs` an attempt pinned, so the gates read no definition record
    * of their own. */
  private def validateStaged(spark: SparkSession, lakeDir: String,
      paths: Seq[String], defs: Defs): Unit = {
    Constraints.validatePaths(spark, lakeDir, paths, defs._1)
    GeneratedColumns.validatePaths(spark, lakeDir, paths, defs._2)
  }

  /** Runs an OCC verb's unlocked preparation over the snapshot
    * `filesSnap`. A copy-on-write winner vacuums the files it replaced
    * inside its commit section, so a loser still reading them fails on
    * a missing file. That is a commit conflict, not an error: when any
    * snapshot file has left the committed view, a failed preparation
    * returns None and the verb re-prepares on a fresh snapshot (a
    * genuine error then recurs there and is thrown). */
  private def unlessSwept[A](fs: org.apache.hadoop.fs.FileSystem,
      lakeDir: String, filesSnap: Set[String])(prepare: => A): Option[A] =
    try Some(prepare)
    catch {
      case scala.util.control.NonFatal(_)
          if !filesSnap.subsetOf(CommitLog.committedView(fs, lakeDir)._1) =>
        None
    }

  /** Stages `pairs` (a pinned `(file, pos)` frame of `n` > 0 rows) as
    * one sidecar under `stage/dv`. Returns its name and, when the
    * pairs fit the broadcast bound, the pairs themselves for
    * [[publishVectors]] to seed the read memo with. */
  private def stageVectors(spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem, stage: String, pairs: DataFrame,
      n: Long): StagedVectors = {
    pairs.coalesce(1).write.parquet(s"$stage/dv")
    StagedVectors(stagedNames(fs, s"$stage/dv"),
      FileMemo.pairsIfSmall(spark, pairs, n))
  }

  private final case class StagedVectors(names: Seq[String],
      pairs: Option[Map[String, Array[Long]]])

  private val NoVectors = StagedVectors(Nil, None)

  /** Commit-section half of [[stageVectors]]: renames the staged
    * sidecar into `_dv` and seeds the read memo with its pairs, so the
    * next read of the lake reads no sidecar. */
  private def publishVectors(fs: org.apache.hadoop.fs.FileSystem,
      lakeDir: String, stage: String, dv: StagedVectors): Unit = {
    val dvDir = DeletionVectors.dvDir(lakeDir)
    renameInto(fs, s"$stage/dv", dv.names, dvDir)
    for (got <- dv.pairs; name <- dv.names.headOption if dv.names.size == 1)
      FileMemo.seedPairs(fs, dvDir, name, got)
  }

  /** OCC APPEND: stage the parquet write with no lock held, then
    * claim the next batch id and publish the manifest in a
    * metadata-scale commit section. Never conflicts: a blind add
    * commutes with every concurrent commit, so N independent
    * pipelines append to one lake with their data writes fully
    * overlapped — only the ~ms id-claim serializes (the arbitration a
    * putIfAbsent log commit gives; racing id picks without it would
    * silently subsume one manifest under the other's name). File
    * attribution is EXACT: the staged listing is this write's files
    * and nothing else, where a before/after diff of the live dir
    * would blame a concurrent appender's files on this manifest.
    * Returns the committed batch id, or -1 for empty input (no-op —
    * nothing published).
    *
    * ID-SPACE CONTRACT: the claimed id is `max committed + 1`, so OCC
    * appenders and the DML verbs (which publish AT the max) compose
    * freely — but an EPOCH-REPLAYING streaming sink
    * ([[graft.streaming.LayoutSink]], `UpsertSink`'s checkpointed
    * query) must OWN its lake's id space: its restart-replay
    * idempotence reads "id ≤ a committed id" as "already done", so an
    * Occ.append claiming ids ABOVE the sink's next epoch would make
    * the sink silently skip that epoch's rows when its counter
    * reaches the same number (the exact collision
    * [[CommitLog.restore]]'s publishes-at-max convention exists to
    * avoid). One lake, one id-claiming discipline: an epoch sink
    * alone, or OCC appenders (+ DML verbs) alone — ENFORCED at
    * runtime since r11: the sink claims its lake with an
    * [[CommitLog.claimEpochOwner]] marker at first commit, and this
    * verb REFUSES a marked lake up front (before any staged write)
    * and again inside the commit section (a sink may claim between
    * prepare and commit). */
  def append(spark: SparkSession, lakeDir: String, df: DataFrame,
      numFiles: Int = 0, commitWaitMs: Long = 30000L,
      beforeCommit: () => Unit = () => ()): Long = {
    val fs = fsOf(spark, lakeDir)
    def requireNotEpochOwned(): Unit =
      CommitLog.epochOwner(fs, lakeDir).foreach { owner =>
        throw new IllegalStateException(
          s"Occ.append: $lakeDir's id space is owned by an " +
            s"epoch-replaying sink ($owner) — an append claiming " +
            "max+1 would make the sink's replay-idempotence check " +
            "silently skip a future epoch's rows. Ingest through the " +
            "sink, or merge/update via the DML verbs (they publish " +
            "at the current max, never claiming a new id)")
      }
    requireNotEpochOwned()
    sweepStaleStages(fs, lakeDir)
    val stage = stageDir(lakeDir)
    // column mapping: logical names in, PHYSICAL names on disk — a
    // post-rename append shares the committed files' physical schema
    // (identity on unmapped lakes; rejects tombstoned/stale names)
    val mapped = ColumnMapping.toPhysical(spark, lakeDir, df)
    val framed = if (numFiles > 0) mapped.repartition(numFiles) else mapped
    framed.write.mode("overwrite").parquet(stage)
    val names = stagedNames(fs, stage)
    val hasRows = names.nonEmpty &&
      spark.read.parquet(names.map(n => s"$stage/$n"): _*).head(1).nonEmpty
    if (!hasRows) { fs.delete(new Path(stage), true); return -1L }
    // pre-publish gates read the STAGED bytes — zero lock time
    val defsSnap = defsSnapshot(fs, lakeDir)
    validateStaged(spark, lakeDir,
      names.map(n => s"$stage/$n"), defsSnap)
    beforeCommit()
    val id = CommitLog.withWriterLock(fs, lakeDir,
        waitMs = commitWaitMs) {
      requireNotEpochOwned()
      // a constraint/generated-column added between the staged-bytes
      // validation and this commit section was gated against the
      // COMMITTED rows only — re-run the gates on the (unchanged)
      // staged bytes under the lock, so no committed version can
      // violate a live definition. Rare (definition churn), so the
      // usually-metadata-scale section paying one O(batch) re-read
      // here is the cheap arm of the advice's retry-or-revalidate
      val defsNow = defsSnapshot(fs, lakeDir)
      if (defsNow != defsSnap)
        validateStaged(spark, lakeDir, names.map(n => s"$stage/$n"),
          defsNow)
      // first commit ever on a lake with PRE-EXISTING plain files:
      // grandfather them into the bootstrap manifest first (the
      // LayoutSink convention) — without it those files would drop
      // out of the committed view and age into vacuum's sweep as
      // false orphans
      if (CommitLog.recordCount(fs, lakeDir) == 0) {
        val existing = CommitLog.dataFileNames(fs, lakeDir)
        if (existing.nonEmpty)
          CommitLog.commit(fs, lakeDir, -1L, existing.toSeq.sorted)
      }
      renameInto(fs, stage, names, lakeDir)
      val next = math.max(CommitLog.maxCommittedId(fs, lakeDir), -1L) + 1L
      CommitLog.commit(fs, lakeDir, next, names)
      next
    }
    fs.delete(new Path(stage), true)
    id
  }

  /** OCC MERGE-ON-READ DELETE — [[DeletionVectors.deleteMor]]'s
    * semantics with the lock held only for the commit section: the
    * predicate scan and sidecar write run unlocked against a pinned
    * snapshot; the commit publishes IFF nothing moved, else retries.
    * Covers the third conflict class (predicate delete) beside
    * [[append]] (blind add) and [[mergeMor]] (key upsert): two
    * pipelines deleting DIFFERENT users concurrently both land, the
    * loser paying one re-scan. Returns newly-marked rows (0 publishes
    * nothing, idempotent like the locked verb). */
  def deleteMor(spark: SparkSession, lakeDir: String, predicate: String,
      maxRetries: Int = 5, commitWaitMs: Long = 30000L,
      beforeCommit: () => Unit = () => ()): Long = {
    val fs = fsOf(spark, lakeDir)
    require(fs.exists(new Path(CommitLog.logDir(lakeDir))),
      s"deleteMor(occ): $lakeDir has no commit log — cannot publish " +
        "atomically")
    sweepStaleStages(fs, lakeDir)
    var attempt = 0
    while (true) {
      val snap @ (filesSnap, dvSnap) = CommitLog.committedView(fs, lakeDir)
      require(filesSnap.nonEmpty,
        s"deleteMor(occ): no committed files in $lakeDir")
      val committed = filesSnap.toSeq.sorted
      val stage = stageDir(lakeDir)
      val cdcWanted = ChangeDataFeed.isEnabled(fs, lakeDir)
      // ---- PREPARE (no lock) ----
      val prepared = unlessSwept(fs, lakeDir, filesSnap) {
        val lake = FileMemo.readFiles(spark, lakeDir, committed,
          mergeSchema = true)
        val hits = lake.filter(coalesce(expr(predicate), lit(false)))
          .select(DeletionVectors.fileNameCol.as("file"),
            col("_metadata.row_index").as("pos"))
        val fresh = DeletionVectors.vectorsFor(spark, lakeDir, dvSnap)
          .fold(hits)(_.dropDead(hits, "file", "pos"))
        val (pairs, n) = Pins.pinCounted(fresh)
        if (n == 0) (0L, NoVectors)
        else {
          val dv = stageVectors(spark, fs, stage, pairs, n)
          // change feed: stage the dead rows' full images UNLOCKED
          // against the pinned snapshot; the commit section renames
          // them into place iff it wins
          if (cdcWanted)
            lake.withColumn(DeletionVectors.FileCol,
                DeletionVectors.fileNameCol)
              .withColumn(DeletionVectors.PosCol, col("_metadata.row_index"))
              .join(pairs.select(col("file").as(DeletionVectors.FileCol),
                col("pos").as(DeletionVectors.PosCol)),
                Seq(DeletionVectors.FileCol, DeletionVectors.PosCol),
                "left_semi")
              .drop(DeletionVectors.FileCol, DeletionVectors.PosCol)
              .withColumn(ChangeDataFeed.ChangeTypeCol, lit("delete"))
              .write.parquet(s"$stage/cdc")
          (n, dv)
        }
      }
      if (prepared.exists(_._1 == 0L)) return 0L
      // ---- COMMIT SECTION (locked) ----
      val won = prepared.exists { case (_, dv) =>
        beforeCommit()
        CommitLog.withWriterLock(fs, lakeDir, waitMs = commitWaitMs) {
          // the feed flipping ON between staging and here is a conflict:
          // publishing without change data would make every later feed
          // window spanning this version permanently unservable — retry
          // so the restage captures it
          if (CommitLog.committedView(fs, lakeDir) != snap ||
              (!cdcWanted && ChangeDataFeed.isEnabled(fs, lakeDir))) false
          else {
            publishVectors(fs, lakeDir, stage, dv)
            val id = math.max(CommitLog.maxCommittedId(fs, lakeDir), -1L)
            val gen =
              if (!cdcWanted) None
              else {
                val g = CommitLog.nextGen(fs, lakeDir)
                ChangeDataFeed.publishStaged(fs, lakeDir, id, g,
                  s"$stage/cdc")
                Some(g)
              }
            CommitLog.commitMutationCheckpoint(fs, lakeDir, id, committed,
              dvNames = dvSnap.toSeq.sorted ++ dv.names, gen = gen)
            true
          }
        }
      }
      fs.delete(new Path(stage), true)
      if (won) return prepared.get._1
      attempt += 1
      require(attempt < maxRetries,
        s"deleteMor(occ): $maxRetries consecutive commit conflicts on " +
          s"$lakeDir — retry later or use the locked verb")
    }
    throw new IllegalStateException("unreachable")
  }

  /** OCC MERGE-ON-READ UPDATE — [[DeletionVectors.updateMor]]'s
    * semantics (SET evaluated against the pre-update row, cast back
    * to the column type; live rows only) with the lock held only for
    * the commit section. Completes the OCC DML verb set:
    * [[append]] / [[mergeMor]] / [[deleteMor]] / updateMor cover the
    * blind-add, key-upsert, predicate-delete and predicate-update
    * conflict classes. The matched scan, SET projection, staged
    * sidecar + target-sized delta files and the constraint/generated
    * gates all run unlocked against a pinned snapshot; an interleaved
    * commit retries the whole discovery (its rows may have moved).
    * Returns the number of rows updated. */
  def updateMor(spark: SparkSession, lakeDir: String, predicate: String,
      set: Map[String, String],
      targetRowsPerDelta: Long = 1L << 20,
      maxRetries: Int = 5, commitWaitMs: Long = 30000L,
      beforeCommit: () => Unit = () => ()): Long = {
    require(set.nonEmpty, "updateMor(occ) needs at least one SET")
    require(targetRowsPerDelta > 0, "targetRowsPerDelta must be positive")
    val fs = fsOf(spark, lakeDir)
    require(fs.exists(new Path(CommitLog.logDir(lakeDir))),
      s"updateMor(occ): $lakeDir has no commit log — cannot publish " +
        "atomically")
    sweepStaleStages(fs, lakeDir)
    var attempt = 0
    while (true) {
      val snap @ (filesSnap, dvSnap) = CommitLog.committedView(fs, lakeDir)
      // definitions are part of the snapshot: recompute and the gates
      // below embed them into the staged delta, so a mid-prepare
      // add/drop is a conflict exactly like a moved file (checked per
      // attempt — a definition landing mid-loop must not silently
      // override this SET)
      val defsSnap = defsSnapshot(fs, lakeDir)
      GeneratedColumns.requireNoGeneratedSet(defsSnap._2, set.keySet,
        "updateMor(occ)")
      require(filesSnap.nonEmpty,
        s"updateMor(occ): no committed files in $lakeDir — ingest first")
      val committed = filesSnap.toSeq.sorted
      val stage = stageDir(lakeDir)
      val cdcWanted = ChangeDataFeed.isEnabled(fs, lakeDir)
      // ---- PREPARE (no lock) ----
      val prepared = unlessSwept(fs, lakeDir, filesSnap) {
        val lake = FileMemo.readFiles(spark, lakeDir, committed,
          mergeSchema = true)
        DeletionVectors.requireNoClash(lake, "updateMor(occ)")
        val unknown = set.keySet -- lake.columns.toSet
        require(unknown.isEmpty,
          s"updateMor(occ): SET names unknown columns " +
            s"${unknown.toSeq.sorted.mkString(", ")}")
        val positioned = lake
          .withColumn(DeletionVectors.FileCol, DeletionVectors.fileNameCol)
          .withColumn(DeletionVectors.PosCol, col("_metadata.row_index"))
        val live = DeletionVectors.vectorsFor(spark, lakeDir, dvSnap)
          .fold(positioned)(_.dropDead(positioned,
            DeletionVectors.FileCol, DeletionVectors.PosCol))
        val (matched, n) = Pins.pinCounted(live
          .filter(coalesce(expr(predicate), lit(false))))
        if (n == 0) (0L, NoVectors, Seq.empty[String])
        else {
          val dv = stageVectors(spark, fs, stage, matched
            .select(col(DeletionVectors.FileCol).as("file"),
              col(DeletionVectors.PosCol).as("pos")), n)
          val updated = GeneratedColumns.recompute(
            matched.select(lake.schema.fields.map { f =>
              set.get(f.name) match {
                case Some(e) => expr(e).cast(f.dataType).as(f.name)
                case None => col(f.name)
              }
            }.toIndexedSeq: _*), defsSnap._2)
          val nDelta = math.max(1L,
            (n + targetRowsPerDelta - 1) / targetRowsPerDelta).toInt
          updated.repartition(nDelta).write.parquet(s"$stage/data")
          val delta = stagedNames(fs, s"$stage/data")
          validateStaged(spark, lakeDir,
            delta.map(d => s"$stage/data/$d"), defsSnap)
          // change feed: pre/post images staged unlocked off the
          // already-checkpointed `matched` rows, renamed into place iff
          // we win
          if (cdcWanted) {
            val ct = ChangeDataFeed.ChangeTypeCol
            matched.select(lake.schema.fieldNames.map(col).toIndexedSeq: _*)
              .withColumn(ct, lit("update_preimage"))
              .unionByName(updated.withColumn(ct, lit("update_postimage")))
              .write.parquet(s"$stage/cdc")
          }
          (n, dv, delta)
        }
      }
      if (prepared.exists(_._1 == 0L)) return 0L
      // ---- COMMIT SECTION (locked) ----
      val won = prepared.exists { case (_, dv, delta) =>
        beforeCommit()
        CommitLog.withWriterLock(fs, lakeDir, waitMs = commitWaitMs) {
          if (CommitLog.committedView(fs, lakeDir) != snap ||
              defsSnapshot(fs, lakeDir) != defsSnap ||
              (!cdcWanted && ChangeDataFeed.isEnabled(fs, lakeDir))) false
          else {
            publishVectors(fs, lakeDir, stage, dv)
            renameInto(fs, s"$stage/data", delta, lakeDir)
            val id = math.max(CommitLog.maxCommittedId(fs, lakeDir), -1L)
            val gen =
              if (!cdcWanted) None
              else {
                val g = CommitLog.nextGen(fs, lakeDir)
                ChangeDataFeed.publishStaged(fs, lakeDir, id, g,
                  s"$stage/cdc")
                Some(g)
              }
            CommitLog.commitMutationCheckpoint(fs, lakeDir, id,
              committed ++ delta,
              dvNames = dvSnap.toSeq.sorted ++ dv.names,
              added = delta, gen = gen)
            true
          }
        }
      }
      fs.delete(new Path(stage), true)
      if (won) return prepared.get._1
      attempt += 1
      require(attempt < maxRetries,
        s"updateMor(occ): $maxRetries consecutive commit conflicts on " +
          s"$lakeDir — retry later or use the locked verb")
    }
    throw new IllegalStateException("unreachable")
  }

  /** OCC COPY-ON-WRITE MERGE — [[MergeInto.merge]]'s semantics with
    * the writer lock held only for a metadata-scale commit section
    * (r10 VERDICT ask #5: the CoW verbs serialized their whole
    * multi-second rewrites behind the long lock). Prepare (touched-
    * file discovery, the survivors-union rewrite into target-count
    * staged files, the constraint/generated gates) runs unlocked
    * against a pinned snapshot; the commit section validates and
    * publishes, or the loser deletes its staged bytes and re-prepares.
    *
    * CONFLICT = TOUCHED-FILE INTERSECTION (Delta's WriteSerializable
    * arbitration, not full-view equality):
    *
    *  - a concurrent commit that RETIRED any file this merge rewrote
    *    (an overlapping CoW mutation) → conflict, retry;
    *  - deletion vectors appearing/changing → conflict (a CoW rewrite
    *    without them would resurrect DV-deleted rows);
    *  - a constraint/generated-column definition change → conflict
    *    (the staged rows embed the old definitions);
    *  - a concurrent blind APPEND does NOT conflict: its files are
    *    carried into the published version untouched (the carry list
    *    is recomputed FROM THE COMMIT-TIME VIEW, never the snapshot,
    *    so nothing a disjoint writer published is dropped or
    *    resurrected). Rows appended concurrently are semantically
    *    AFTER this merge — they are not matched even if their keys
    *    collide, exactly Delta's WriteSerializable reading.
    *
    * Returns (filesRewritten, filesCarried at commit time). */
  def merge(spark: SparkSession, lakeDir: String, updates0In: DataFrame,
      keys0: Seq[String], filesPerRewrite: Int = 4,
      evolveSchema: Boolean = false, indexDir: Option[String] = None,
      maxRetries: Int = 5, commitWaitMs: Long = 30000L,
      beforeCommit: () => Unit = () => ()): (Int, Int) = {
    val fs = fsOf(spark, lakeDir)
    require(fs.exists(new Path(CommitLog.logDir(lakeDir))),
      s"merge(occ): $lakeDir has no commit log — cannot publish " +
        "atomically")
    // column mapping: logical names in (frame and keys), the shared
    // physical schema on disk — identity on unmapped lakes
    val keys = keys0.map(ColumnMapping.mapping(fs, lakeDir).physicalOf)
    val updates = ColumnMapping.toPhysical(spark, lakeDir, updates0In)
    sweepStaleStages(fs, lakeDir)
    var attempt = 0
    while (true) {
      // ---- PREPARE (no lock) ----
      val (filesSnap, dvSnap) = CommitLog.committedView(fs, lakeDir)
      val defsSnap = defsSnapshot(fs, lakeDir)
      require(dvSnap.isEmpty,
        s"merge(occ): $lakeDir has unapplied deletion vectors — run " +
          "DeletionVectors.compact first (a copy-on-write rewrite " +
          "would resurrect DV-deleted rows)")
      require(filesSnap.nonEmpty,
        s"merge(occ): no committed files in $lakeDir — ingest first")
      // the key set feeds the discovery semi-join, the survivor
      // anti-join and the change feed; it reads the pinned batch
      val batch = UpdateBatch.pin(GeneratedColumns.fill(updates,
        defsSnap._2), keys, "merge(occ)")
      val updates0 = batch.rows
      val updKeys = batch.keys
      val stage = stageDir(lakeDir)
      val cdcWanted = ChangeDataFeed.isEnabled(fs, lakeDir)
      val prepared = unlessSwept(fs, lakeDir, filesSnap) {
        val committed = filesSnap.toSeq.sorted
        val lake = FileMemo.readFiles(spark, lakeDir, committed,
          mergeSchema = true)
        MergeInto.requireFullRowCompatible(lake, updates0, "merge(occ)",
          evolveSchema)
        def touchedIn(base: DataFrame): Set[String] = base
          .select(col("_metadata.file_path").as("__file") +:
            keys.map(col): _*)
          .join(updKeys, keys, "left_semi")
          .select(col("__file")).distinct()
          .collect().map(r => new Path(r.getString(0)).getName).toSet
        val touched = MergeInto.keyCandidateFiles(spark, batch, keys,
            indexDir, committed) match {
          case Some(Seq()) => Set.empty[String] // pure-insert merge
          case Some(cand) => touchedIn(
            FileMemo.readSubset(spark, lake, cand))
          case None => touchedIn(lake)
        }
        val survivors =
          if (touched.isEmpty) updates0
          else FileMemo.readSubset(spark, lake, touched.toSeq.sorted)
            .join(updKeys, keys, "left_anti")
            .unionByName(updates0, allowMissingColumns = true)
        survivors.repartition(filesPerRewrite).write
          .parquet(s"$stage/data")
        val fresh = stagedNames(fs, s"$stage/data")
        validateStaged(spark, lakeDir,
          fresh.map(n => s"$stage/data/$n"), defsSnap)
        // change feed: same images as the locked verb
        // ([[MergeInto.merge]]), staged unlocked off the pinned snapshot
        if (cdcWanted) {
          val ct = ChangeDataFeed.ChangeTypeCol
          val cdc =
            if (touched.isEmpty) updates0.withColumn(ct, lit("insert"))
            else {
              val base = FileMemo.readSubset(spark, lake,
                touched.toSeq.sorted)
              // pinned: feeds two joins below — unpinned, one feed
              // write scans the touched files three times
              val baseKeys = base.select(keys.map(col): _*).distinct()
                .localCheckpoint()
              base.join(updKeys, keys, "left_semi")
                .withColumn(ct, lit("update_preimage"))
                .unionByName(updates0.join(baseKeys, keys, "left_semi")
                  .withColumn(ct, lit("update_postimage")),
                  allowMissingColumns = true)
                .unionByName(updates0.join(baseKeys, keys, "left_anti")
                  .withColumn(ct, lit("insert")),
                  allowMissingColumns = true)
            }
          cdc.write.parquet(s"$stage/cdc")
        }
        (touched, fresh)
      }
      // ---- COMMIT SECTION (locked, metadata-scale) ----
      var carried = -1
      val won = prepared.exists { case (touched, fresh) =>
        beforeCommit()
        CommitLog.withWriterLock(fs, lakeDir, waitMs = commitWaitMs) {
          val (curFiles, curDv) = CommitLog.committedView(fs, lakeDir)
          if (curDv != dvSnap ||
              defsSnapshot(fs, lakeDir) != defsSnap ||
              !touched.subsetOf(curFiles) ||
              (!cdcWanted && ChangeDataFeed.isEnabled(fs, lakeDir))) false
          else {
            renameInto(fs, s"$stage/data", fresh, lakeDir)
            val carry = (curFiles -- touched).toSeq.sorted
            carried = carry.size
            val id = math.max(CommitLog.maxCommittedId(fs, lakeDir), -1L)
            val gen =
              if (!cdcWanted) None
              else {
                val g = CommitLog.nextGen(fs, lakeDir)
                ChangeDataFeed.publishStaged(fs, lakeDir, id, g,
                  s"$stage/cdc")
                Some(g)
              }
            CommitLog.commitMutationCheckpoint(fs, lakeDir, id,
              (carry ++ fresh).sorted,
              added = fresh, removed = touched.toSeq.sorted, gen = gen)
            // the replaced files are unreferenced now; sweep under the
            // lock (nothing can be mid-publish) so the plain directory
            // read converges immediately, as the locked verb does
            CommitLog.vacuum(fs, lakeDir, olderThanMs = 0L)
            indexDir.foreach(idx =>
              StatsIndex.refreshSameColumns(spark, lakeDir, idx))
            true
          }
        }
      }
      fs.delete(new Path(stage), true)
      if (won) return (prepared.get._1.size, carried)
      attempt += 1
      require(attempt < maxRetries,
        s"merge(occ): $maxRetries consecutive commit conflicts on " +
          s"$lakeDir — retry later or use the locked verb")
    }
    throw new IllegalStateException("unreachable")
  }

  /** OCC ONLINE OPTIMIZE — the whole-lake curve rewrite
    * ([[ZOrder.optimize]]'s layout result) as a VALIDATE-AND-RETRY
    * maintenance pass instead of a lock-holding one: the expensive
    * re-cluster (range exchange + per-file sorts + parquet encode of
    * the ENTIRE snapshot) runs unlocked into a stage; the commit
    * section publishes IFF no snapshot file was retired and no
    * deletion vector changed. A concurrent blind APPEND never
    * conflicts — its files are carried into the published version
    * un-optimized (they join the next pass), so ingest keeps flowing
    * through a maintenance rewrite and an appender never vanishes
    * (the r10 OPTIMIZE-racing-appender arm). Deletion vectors pinned
    * at the snapshot are APPLIED by the rewrite (dead rows drop,
    * coverage ends with the published checkpoint); vectors added
    * mid-rewrite → conflict, retry.
    *
    * Publishes a plain (truncating) checkpoint at the current max id
    * — rows are preserved, so this is compaction-class history: time
    * travel below it ends loudly, and a live [[
    * graft.streaming.ChangeStream]] trips its typed cursor guard,
    * exactly as the locked maintenance verbs behave. Returns
    * (snapshotFilesRewritten, appendsCarried). */
  def optimize(spark: SparkSession, lakeDir: String, zCols: Seq[String],
      bits: Int = 10, numFiles: Int = 0, curve: String = "morton",
      maxRetries: Int = 5, commitWaitMs: Long = 30000L,
      beforeCommit: () => Unit = () => ()): (Int, Int) = {
    val fs = fsOf(spark, lakeDir)
    require(fs.exists(new Path(CommitLog.logDir(lakeDir))),
      s"optimize(occ): $lakeDir has no commit log — cannot publish " +
        "atomically")
    sweepStaleStages(fs, lakeDir)
    var attempt = 0
    while (true) {
      // ---- PREPARE (no lock): the full-snapshot re-cluster ----
      val (filesSnap, dvSnap) = CommitLog.committedView(fs, lakeDir)
      require(filesSnap.nonEmpty,
        s"optimize(occ): no committed files in $lakeDir")
      val committed = filesSnap.toSeq.sorted
      val stage = stageDir(lakeDir)
      val prepared = unlessSwept(fs, lakeDir, filesSnap) {
        val base = FileMemo.readFiles(spark, lakeDir, committed,
          mergeSchema = true)
        val input = DeletionVectors.applyVectors(base,
          DeletionVectors.vectorsFor(spark, lakeDir, dvSnap))
        ZOrder.curveWrite(input, stage, zCols, bits, numFiles,
          mode = "append", curve = curve)
        stagedNames(fs, stage)
      }
      // ---- COMMIT SECTION (locked, metadata-scale) ----
      var carriedAppends = -1
      val won = prepared.exists { fresh =>
        beforeCommit()
        CommitLog.withWriterLock(fs, lakeDir, waitMs = commitWaitMs) {
          val (curFiles, curDv) = CommitLog.committedView(fs, lakeDir)
          if (curDv != dvSnap || !filesSnap.subsetOf(curFiles)) false
          else {
            renameInto(fs, stage, fresh, lakeDir)
            val appends = (curFiles -- filesSnap).toSeq.sorted
            carriedAppends = appends.size
            val id = math.max(CommitLog.maxCommittedId(fs, lakeDir), -1L)
            // no dv entries: the snapshot's vectors were applied by the
            // rewrite and nothing else can be covered (a vector landing
            // mid-rewrite is the conflict arm above)
            CommitLog.commitCheckpoint(fs, lakeDir, id,
              (fresh ++ appends).sorted)
            CommitLog.vacuum(fs, lakeDir, olderThanMs = 0L)
            true
          }
        }
      }
      fs.delete(new Path(stage), true)
      if (won) return (committed.size, carriedAppends)
      attempt += 1
      require(attempt < maxRetries,
        s"optimize(occ): $maxRetries consecutive commit conflicts on " +
          s"$lakeDir — the lake is mutating faster than the rewrite; " +
          "retry later or use the locked ZOrder.optimize")
    }
    throw new IllegalStateException("unreachable")
  }

  /** OCC MERGE-ON-READ MERGE — [[DeletionVectors.mergeMor]]'s
    * semantics with the lock held only for the commit section.
    * Prepare (matched-row discovery, sidecar pairs, target-sized
    * delta files, constraint/generated gates) runs unlocked against a
    * pinned snapshot ([[CommitLog.committedView]] — one atomic
    * resolution); the commit section re-reads the view and publishes
    * IFF nothing moved, else deletes the staged bytes and retries the
    * whole discovery on a fresh snapshot (an interleaved commit may
    * hold matching keys or have replaced rows this merge decided on —
    * retrying is what makes the lost update impossible). Two OCC
    * merges race: one wins, the loser re-applies on top; an append
    * racing a merge: the append always lands, the merge retries over
    * it. The commit section also refreshes the index at `indexDir`
    * (see the section's note). `beforeCommit` is a spec hook, invoked
    * after preparation and BEFORE the commit section's lock. Returns
    * (matched, appended).
    *
    * Job budget of one attempt with a small batch (within
    * [[UpdateBatch.DriverBound]] rows) that fits one delta file, over
    * an indexed lake with deletion vectors: the batch's pin with its
    * count, one collect of its key columns (the uniqueness gate and
    * the index key sets, on the driver), discovery (the vector and key
    * broadcasts and the pair pin), the sidecar write and its memo
    * seed, the delta write and the index publish: 9 Spark jobs
    * (`MergeBudgetSpec`). */
  def mergeMor(spark: SparkSession, lakeDir: String, updates0In: DataFrame,
      keys0: Seq[String], evolveSchema: Boolean = false,
      indexDir: Option[String] = None,
      targetRowsPerDelta: Long = 1L << 20,
      maxRetries: Int = 5, commitWaitMs: Long = 30000L,
      beforeCommit: () => Unit = () => ()): (Long, Long) = {
    require(targetRowsPerDelta > 0, "targetRowsPerDelta must be positive")
    val fs = fsOf(spark, lakeDir)
    require(fs.exists(new Path(CommitLog.logDir(lakeDir))),
      s"mergeMor(occ): $lakeDir has no commit log — cannot publish " +
        "atomically")
    // column mapping: logical names in, physical schema on disk
    val keys = keys0.map(ColumnMapping.mapping(fs, lakeDir).physicalOf)
    val updates = ColumnMapping.toPhysical(spark, lakeDir, updates0In)
    sweepStaleStages(fs, lakeDir)
    var attempt = 0
    while (true) {
      // ---- PREPARE (no lock): everything expensive happens here ----
      val snap @ (filesSnap, dvSnap) = CommitLog.committedView(fs, lakeDir)
      // definitions are part of the snapshot (see [[defsSnapshot]]);
      // the generated-column FILL below embeds them into the staged
      // delta, so it re-runs per attempt — a mid-prepare definition
      // change is a conflict, and the retry re-fills under the fresh
      // definitions instead of publishing stale-generated rows
      val defsSnap = defsSnapshot(fs, lakeDir)
      val batch = UpdateBatch.pin(GeneratedColumns.fill(updates,
        defsSnap._2), keys, "mergeMor(occ)")
      val updates0 = batch.rows
      val appended = batch.count
      DeletionVectors.requireNoClash(updates0, "mergeMor(occ)")
      if (appended == 0) return (0L, 0L)
      require(filesSnap.nonEmpty,
        s"mergeMor(occ): no committed files in $lakeDir — ingest first")
      val committed = filesSnap.toSeq.sorted
      val stage = stageDir(lakeDir)
      val cdcWanted = ChangeDataFeed.isEnabled(fs, lakeDir)
      val prepared = unlessSwept(fs, lakeDir, filesSnap) {
        val lake = FileMemo.readFiles(spark, lakeDir, committed,
          mergeSchema = true)
        MergeInto.requireFullRowCompatible(lake, updates0, "mergeMor(occ)",
          evolveSchema)
        def hitsIn(base: DataFrame): DataFrame = base
          .select(Seq(
            DeletionVectors.fileNameCol.as(DeletionVectors.FileCol),
            col("_metadata.row_index").as(DeletionVectors.PosCol)) ++
            keys.map(col): _*)
          .join(batch.keys, keys, "left_semi")
          .select(col(DeletionVectors.FileCol).as("file"),
            col(DeletionVectors.PosCol).as("pos"))
        val hits = MergeInto.keyCandidateFiles(spark, batch, keys,
            indexDir, committed) match {
          case Some(Seq()) => hitsIn(lake).limit(0)
          case Some(cand) => hitsIn(FileMemo.readSubset(spark, lake, cand))
          case None => hitsIn(lake)
        }
        // vectors from the SNAPSHOT's coverage, not a re-resolution — a
        // concurrent mutation between the two reads must not tear the
        // (files, vectors) pair this discovery ran against
        val fresh = DeletionVectors.vectorsFor(spark, lakeDir, dvSnap)
          .fold(hits)(_.dropDead(hits, "file", "pos"))
        val (pairs, matched) = Pins.pinCounted(fresh)
        val dv =
          if (matched == 0) NoVectors
          else stageVectors(spark, fs, stage, pairs, matched)
        val nDelta = math.max(1L,
          (appended + targetRowsPerDelta - 1) / targetRowsPerDelta).toInt
        batch.asFiles(nDelta).write.parquet(s"$stage/data")
        val delta = stagedNames(fs, s"$stage/data")
        validateStaged(spark, lakeDir,
          delta.map(n => s"$stage/data/$n"), defsSnap)
        // change feed: same images as the locked MoR merge
        // ([[DeletionVectors.mergeMor]]), staged unlocked off the pinned
        // snapshot — pre-images resolved by semi-joining the snapshot
        // against the checkpointed pair set
        if (cdcWanted) {
          val ct = ChangeDataFeed.ChangeTypeCol
          val pre = lake
            .withColumn(DeletionVectors.FileCol, DeletionVectors.fileNameCol)
            .withColumn(DeletionVectors.PosCol, col("_metadata.row_index"))
            .join(pairs.select(col("file").as(DeletionVectors.FileCol),
              col("pos").as(DeletionVectors.PosCol)),
              Seq(DeletionVectors.FileCol, DeletionVectors.PosCol),
              "left_semi")
            .drop(DeletionVectors.FileCol, DeletionVectors.PosCol)
          // pinned: feeds two joins below — unpinned, the one staged
          // feed write executes `pre` (full snapshot scan + pair join)
          // three times
          val matchedKeys = pre.select(keys.map(col): _*).distinct()
            .localCheckpoint()
          pre.withColumn(ct, lit("update_preimage"))
            .unionByName(updates0.join(matchedKeys, keys, "left_semi")
              .withColumn(ct, lit("update_postimage")),
              allowMissingColumns = true)
            .unionByName(updates0.join(matchedKeys, keys, "left_anti")
              .withColumn(ct, lit("insert")),
              allowMissingColumns = true)
            .write.parquet(s"$stage/cdc")
        }
        (matched, dv, delta)
      }
      // ---- COMMIT SECTION (locked) ----
      // renames, the manifest write and, when `indexDir` is set, the
      // StatsIndex refresh over the delta files: their footers are
      // read on the driver and the kept stats rows come from the
      // driver-side snapshot, so the lock is held for one Spark job,
      // the index write
      val won = prepared.exists { case (_, dv, delta) =>
        beforeCommit()
        CommitLog.withWriterLock(fs, lakeDir, waitMs = commitWaitMs) {
          if (CommitLog.committedView(fs, lakeDir) != snap ||
              defsSnapshot(fs, lakeDir) != defsSnap ||
              (!cdcWanted && ChangeDataFeed.isEnabled(fs, lakeDir))) false
          else {
            publishVectors(fs, lakeDir, stage, dv)
            renameInto(fs, s"$stage/data", delta, lakeDir)
            val id = math.max(CommitLog.maxCommittedId(fs, lakeDir), -1L)
            val gen =
              if (!cdcWanted) None
              else {
                val g = CommitLog.nextGen(fs, lakeDir)
                ChangeDataFeed.publishStaged(fs, lakeDir, id, g,
                  s"$stage/cdc")
                Some(g)
              }
            CommitLog.commitMutationCheckpoint(fs, lakeDir, id,
              committed ++ delta,
              dvNames = dvSnap.toSeq.sorted ++ dv.names,
              added = delta, gen = gen)
            indexDir.foreach(idx =>
              StatsIndex.refreshSameColumns(spark, lakeDir, idx))
            true
          }
        }
      }
      fs.delete(new Path(stage), true)
      if (won) return (prepared.get._1, appended)
      attempt += 1
      require(attempt < maxRetries,
        s"mergeMor(occ): $maxRetries consecutive commit conflicts on " +
          s"$lakeDir — the lake is mutating faster than this merge " +
          "can re-prepare; retry later or use the locked verb")
    }
    throw new IllegalStateException("unreachable")
  }

  /** OCC `MERGE INTO` with the FULL clause grammar — [[MergeInto
    * .mergeClauses]]'s semantics (conditional matched UPDATE/DELETE,
    * conditional NOT MATCHED INSERT, NOT MATCHED BY SOURCE
    * UPDATE/DELETE) with the writer lock held only for the
    * metadata-scale commit section. The prepare — discovery, clause
    * evaluation, rewrite staging, change images — is the locked verb's
    * OWN plan ([[MergeInto.clausesPlanFor]], one implementation, two
    * publication disciplines) run UNLOCKED against a pinned snapshot.
    * Conflict rules mirror [[merge]]: a touched file retired, a
    * deletion vector or definition change, or the change feed flipping
    * on since staging → delete the staged bytes and retry on a fresh
    * snapshot; a concurrent blind APPEND never conflicts — its files
    * are carried (two clause merges over DISJOINT files both commit,
    * the overlapping pair conflicts exactly once). Returns
    * (filesRewritten, filesCarried at commit time). */
  def mergeClauses(spark: SparkSession, lakeDir: String,
      source0: DataFrame, keys0: Seq[String],
      matched: Seq[MergeInto.MatchedClause] = Nil,
      notMatched: Seq[MergeInto.NotMatchedInsert] = Nil,
      notMatchedBySource: Seq[MergeInto.BySourceClause] = Nil,
      filesPerRewrite: Int = 4, indexDir: Option[String] = None,
      maxRetries: Int = 5, commitWaitMs: Long = 30000L,
      beforeCommit: () => Unit = () => ()): (Int, Int) = {
    val fs = fsOf(spark, lakeDir)
    require(fs.exists(new Path(CommitLog.logDir(lakeDir))),
      s"mergeClauses(occ): $lakeDir has no commit log — cannot " +
        "publish atomically")
    val plan = MergeInto.clausesPlanFor(spark, lakeDir, source0, keys0,
      matched, notMatched, notMatchedBySource, indexDir,
      "mergeClauses(occ)")
    sweepStaleStages(fs, lakeDir)
    var attempt = 0
    while (true) {
      // ---- PREPARE (no lock): the locked verb's plan, pinned ----
      val (filesSnap, dvSnap) = CommitLog.committedView(fs, lakeDir)
      val defsSnap = defsSnapshot(fs, lakeDir)
      require(dvSnap.isEmpty,
        s"mergeClauses(occ): $lakeDir has unapplied deletion vectors " +
          "— run DeletionVectors.compact first (a copy-on-write " +
          "rewrite would resurrect DV-deleted rows)")
      require(filesSnap.nonEmpty,
        s"mergeClauses(occ): no committed files in $lakeDir — ingest " +
          "first")
      val committed = filesSnap.toSeq.sorted
      val cdcWanted = ChangeDataFeed.isEnabled(fs, lakeDir)
      val stage = stageDir(lakeDir)
      val prepared = unlessSwept(fs, lakeDir, filesSnap) {
        val lake = FileMemo.readFiles(spark, lakeDir, committed,
          mergeSchema = true)
        val (touched, survivors, changes) = plan(lake, committed, cdcWanted)
        val fresh = survivors match {
          case None => Seq.empty[String]
          case Some(sv) =>
            sv.repartition(filesPerRewrite).write.parquet(s"$stage/data")
            stagedNames(fs, s"$stage/data")
        }
        validateStaged(spark, lakeDir,
          fresh.map(n => s"$stage/data/$n"), defsSnap)
        if (cdcWanted)
          changes.getOrElse(throw new IllegalStateException(
            "mergeClauses(occ): change feed enabled but no change " +
              "frame built")).write.parquet(s"$stage/cdc")
        (touched, fresh)
      }
      // ---- COMMIT SECTION (locked, metadata-scale) ----
      var carried = -1
      val won = prepared.exists { case (touched, fresh) =>
        beforeCommit()
        CommitLog.withWriterLock(fs, lakeDir, waitMs = commitWaitMs) {
          val (curFiles, curDv) = CommitLog.committedView(fs, lakeDir)
          if (curDv != dvSnap ||
              defsSnapshot(fs, lakeDir) != defsSnap ||
              !touched.subsetOf(curFiles) ||
              (!cdcWanted && ChangeDataFeed.isEnabled(fs, lakeDir))) false
          else {
            renameInto(fs, s"$stage/data", fresh, lakeDir)
            val carry = (curFiles -- touched).toSeq.sorted
            carried = carry.size
            val id = math.max(CommitLog.maxCommittedId(fs, lakeDir), -1L)
            val gen =
              if (!cdcWanted) None
              else {
                val g = CommitLog.nextGen(fs, lakeDir)
                ChangeDataFeed.publishStaged(fs, lakeDir, id, g,
                  s"$stage/cdc")
                Some(g)
              }
            CommitLog.commitMutationCheckpoint(fs, lakeDir, id,
              (carry ++ fresh).sorted,
              added = fresh, removed = touched.toSeq.sorted, gen = gen)
            // replaced files are unreferenced; sweep under the lock so
            // the plain directory read converges immediately
            CommitLog.vacuum(fs, lakeDir, olderThanMs = 0L)
            indexDir.foreach(idx =>
              StatsIndex.refreshSameColumns(spark, lakeDir, idx))
            true
          }
        }
      }
      fs.delete(new Path(stage), true)
      if (won) return (prepared.get._1.size, carried)
      attempt += 1
      require(attempt < maxRetries,
        s"mergeClauses(occ): $maxRetries consecutive commit conflicts " +
          s"on $lakeDir — retry later or use the locked verb")
    }
    throw new IllegalStateException("unreachable")
  }

  /** OCC MERGE-ON-READ clause merge — [[DeletionVectors
    * .mergeClausesMor]]'s semantics (claimed rows DV-marked, post-SET
    * images and inserts appended as target-sized delta files, one
    * checkpoint) with the lock held only for the commit section. The
    * prepare is the locked verb's own pass ([[DeletionVectors
    * .clausesMorPrepare]]) run UNLOCKED against a pinned snapshot's
    * files AND vectors — a torn (files, vectors) pair can never feed
    * the clause evaluation. ANY interleaved commit conflicts (the
    * claimed positions may have moved or died), exactly [[mergeMor]]'s
    * rule; the loser re-prepares on a fresh snapshot. Returns
    * (rowsMarked, rowsAppended); (0, 0) publishes nothing. */
  def mergeClausesMor(spark: SparkSession, lakeDir: String,
      source0: DataFrame, keys0: Seq[String],
      matched: Seq[MergeInto.MatchedClause] = Nil,
      notMatched: Seq[MergeInto.NotMatchedInsert] = Nil,
      notMatchedBySource: Seq[MergeInto.BySourceClause] = Nil,
      indexDir: Option[String] = None,
      targetRowsPerDelta: Long = 1L << 20,
      maxRetries: Int = 5, commitWaitMs: Long = 30000L,
      beforeCommit: () => Unit = () => ()): (Long, Long) = {
    require(targetRowsPerDelta > 0, "targetRowsPerDelta must be positive")
    val fs = fsOf(spark, lakeDir)
    require(fs.exists(new Path(CommitLog.logDir(lakeDir))),
      s"mergeClausesMor(occ): $lakeDir has no commit log — cannot " +
        "publish atomically")
    val prepare = DeletionVectors.clausesMorPrepare(spark, lakeDir,
      source0, keys0, matched, notMatched, notMatchedBySource,
      "mergeClausesMor(occ)")
    sweepStaleStages(fs, lakeDir)
    var attempt = 0
    while (true) {
      // ---- PREPARE (no lock): the locked verb's pass, pinned ----
      val snap @ (filesSnap, dvSnap) = CommitLog.committedView(fs, lakeDir)
      val defsSnap = defsSnapshot(fs, lakeDir)
      require(filesSnap.nonEmpty,
        s"mergeClausesMor(occ): no committed files in $lakeDir — " +
          "ingest first")
      val committed = filesSnap.toSeq.sorted
      val stage = stageDir(lakeDir)
      val cdcWanted = ChangeDataFeed.isEnabled(fs, lakeDir)
      val prepared = unlessSwept(fs, lakeDir, filesSnap) {
        val lake = FileMemo.readFiles(spark, lakeDir, committed,
          mergeSchema = true)
        val prep = prepare(lake,
          DeletionVectors.vectorsFor(spark, lakeDir, dvSnap))
        if (prep.nMarked == 0 && prep.appended == 0)
          (prep, NoVectors, Seq.empty[String])
        else {
          val dv =
            if (prep.nMarked == 0) NoVectors
            else stageVectors(spark, fs, stage, prep.pairs, prep.nMarked)
          val delta =
            if (prep.appended == 0) Seq.empty[String]
            else {
              val nDelta = math.max(1L,
                (prep.appended + targetRowsPerDelta - 1) /
                  targetRowsPerDelta).toInt
              prep.delta0.get.repartition(nDelta).write
                .parquet(s"$stage/data")
              stagedNames(fs, s"$stage/data")
            }
          validateStaged(spark, lakeDir,
            delta.map(n => s"$stage/data/$n"), defsSnap)
          if (cdcWanted)
            DeletionVectors.clausesMorChanges(lake, prep)
              .write.parquet(s"$stage/cdc")
          (prep, dv, delta)
        }
      }
      if (prepared.exists { case (p, _, _) =>
          p.nMarked == 0 && p.appended == 0 }) return (0L, 0L)
      // ---- COMMIT SECTION (locked, metadata-scale) ----
      val won = prepared.exists { case (_, dv, delta) =>
        beforeCommit()
        CommitLog.withWriterLock(fs, lakeDir, waitMs = commitWaitMs) {
          if (CommitLog.committedView(fs, lakeDir) != snap ||
              defsSnapshot(fs, lakeDir) != defsSnap ||
              (!cdcWanted && ChangeDataFeed.isEnabled(fs, lakeDir))) false
          else {
            publishVectors(fs, lakeDir, stage, dv)
            renameInto(fs, s"$stage/data", delta, lakeDir)
            val id = math.max(CommitLog.maxCommittedId(fs, lakeDir), -1L)
            val gen =
              if (!cdcWanted) None
              else {
                val g = CommitLog.nextGen(fs, lakeDir)
                ChangeDataFeed.publishStaged(fs, lakeDir, id, g,
                  s"$stage/cdc")
                Some(g)
              }
            CommitLog.commitMutationCheckpoint(fs, lakeDir, id,
              committed ++ delta,
              dvNames = dvSnap.toSeq.sorted ++ dv.names,
              added = delta, gen = gen)
            indexDir.foreach(idx =>
              StatsIndex.refreshSameColumns(spark, lakeDir, idx))
            true
          }
        }
      }
      fs.delete(new Path(stage), true)
      if (won) {
        val prep = prepared.get._1
        return (prep.nMarked, prep.appended)
      }
      attempt += 1
      require(attempt < maxRetries,
        s"mergeClausesMor(occ): $maxRetries consecutive commit " +
          s"conflicts on $lakeDir — the lake is mutating faster than " +
          "this merge can re-prepare; retry later or use the locked " +
          "verb")
    }
    throw new IllegalStateException("unreachable")
  }
}
