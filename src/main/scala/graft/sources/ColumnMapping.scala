package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** COLUMN MAPPING — RENAME / DROP COLUMN with ZERO data I/O (the
  * Delta column-mapping feature class). Schema evolution here was
  * additive-only (`q59`, mergeSchema unions); renaming or dropping a
  * column would otherwise mean rewriting every committed file at a
  * 100 TB lake. Instead the table keeps a logical→physical name map
  * as a definition record ([[DefRecords]]: `COLMAP.<gen>`, the same
  * generation-versioned atomic-publish discipline as [[Constraints]],
  * replicated across OPTIMIZE's dir swap and into shallow clones):
  *
  *  - [[rename]] updates the map — every committed file keeps its
  *    physical column name; reads project physical→logical
  *    ([[toLogical]], applied by the committed read surfaces:
  *    [[DeletionVectors.readMor]], `LayoutSink.readCommitted` /
  *    `readCommittedAt` / `readChanges`), and writes project
  *    logical→physical ([[toPhysical]], applied by [[Occ.append]]) —
  *    so files appended before and after a rename share one physical
  *    schema and read as one logical one, no mergeSchema divergence.
  *  - [[drop]] tombstones the physical name: reads hide the column
  *    (dead bytes stay in place, invisible), appends that carry a
  *    same-named column are REJECTED rather than silently resurrecting
  *    the dead bytes under a recreated column. (Delta recreates with a
  *    fresh physical UUID; here recreate-after-drop requires a
  *    [[purge]] first — until the dead bytes are physically gone, a
  *    recreated column would silently resurrect them on every
  *    mergeSchema read.)
  *  - [[purge]] is Delta's `REORG TABLE … APPLY (PURGE)`: physically
  *    rewrite ONLY the committed files whose footer schema still
  *    carries a tombstoned physical column (dead bytes reclaimed,
  *    scan width shrinks), carry every clean file by name with zero
  *    I/O, then LIFT the tombstones — the dropped name is appendable
  *    again, behaving like an additively-evolved column (old rows
  *    read NULL under mergeSchema).
  *
  * A lake with no map record pays one log-listing probe per read —
  * every committed read already lists the log, so the mapping is free
  * until first used. [[StatsIndex]] keys its stats by PHYSICAL names
  * (it reads footers); [[physicalName]] is the translation a pruning
  * caller applies, so an index built before a rename keeps pruning
  * unchanged after it — no index rebuild on rename.
  *
  * Limitations (documented, loud): DML predicate surfaces
  * (`deleteMor`/`updateMor`/`mergeMor`) address PHYSICAL names — a
  * logical-name predicate on a renamed column fails to resolve
  * (AnalysisException), never silently matches the wrong rows.
  * [[Constraints]] / [[GeneratedColumns]] definitions resolve in
  * LOGICAL-name space (both `add` and the write-side gates project
  * through [[toLogical]]); [[rename]]/[[drop]] REJECT a column any
  * live definition references, so a definition can never be silently
  * orphaned by a later rename — drop the definition first, exactly
  * Delta's rename-blocked-by-CHECK-constraint behavior.
  *
  * DELIBERATE DIVERGENCE from Delta on time travel: the map here is
  * UNVERSIONED table metadata — a travelled read applies the CURRENT
  * map to every historical version, so old versions surface under
  * post-rename names and dropped columns vanish from all history.
  * Delta versions column-mapping metadata with the table schema and
  * surfaces the as-of names. One map keeps every read surface (plain,
  * travelled, CDC, streaming) a single projection with no per-version
  * schema resolution; consumers that fold history never see a column
  * change names mid-fold, which for a training-data lake is the shape
  * we want. */
object ColumnMapping {

  private[sources] val Prefix = "COLMAP."

  /** `renames`: (logical, physical), one entry per renamed column,
    * logicals and physicals each unique. `dropped`: tombstoned
    * physical names. */
  final case class Mapping(renames: Seq[(String, String)],
      dropped: Seq[String]) {
    def isEmpty: Boolean = renames.isEmpty && dropped.isEmpty
    def physicalOf(logical: String): String =
      renames.find(_._1 == logical).map(_._2).getOrElse(logical)
    def logicalOf(physical: String): Option[String] =
      if (dropped.contains(physical)) None
      else Some(renames.find(_._2 == physical).map(_._1)
        .getOrElse(physical))
  }

  private def fsOf(spark: SparkSession, dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The live map (empty when the lake never renamed/dropped). Lines:
    * `map<TAB>logical<TAB>physical` | `dropped<TAB>physical`. */
  def mapping(fs: org.apache.hadoop.fs.FileSystem,
      lakeDir: String): Mapping = {
    val lines = DefRecords.readLines(fs, lakeDir, Prefix)
    val renames = Seq.newBuilder[(String, String)]
    val dropped = Seq.newBuilder[String]
    lines.foreach { line =>
      line.split('\t') match {
        case Array("map", lg, ph) => renames += ((lg, ph))
        case Array("dropped", ph) => dropped += ph
        case _ => throw new IllegalArgumentException(
          s"corrupt $Prefix record line: '$line'")
      }
    }
    Mapping(renames.result(), dropped.result())
  }

  private def write(fs: org.apache.hadoop.fs.FileSystem, lakeDir: String,
      m: Mapping): Unit =
    DefRecords.writeLines(fs, lakeDir, Prefix,
      m.renames.map { case (lg, ph) => s"map\t$lg\t$ph" } ++
        m.dropped.map(ph => s"dropped\t$ph"))

  /** [[Clone.shallow]] replicates the source's current map lines. */
  private[sources] def rawLines(fs: org.apache.hadoop.fs.FileSystem,
      lakeDir: String): Seq[String] =
    DefRecords.readLines(fs, lakeDir, Prefix)

  private[sources] def replicate(fs: org.apache.hadoop.fs.FileSystem,
      lakeDir: String, lines: Seq[String]): Unit =
    if (lines.nonEmpty) DefRecords.writeLines(fs, lakeDir, Prefix, lines)

  /** PHYSICAL → LOGICAL: the committed-read projection. One select —
    * tombstoned physicals dropped, mapped physicals aliased to their
    * logical names, everything else passed through. Identity (and
    * plan-free) when the lake has no map. */
  def toLogical(spark: SparkSession, lakeDir: String,
      df: DataFrame): DataFrame = {
    val m = mapping(fsOf(spark, lakeDir), lakeDir)
    if (m.isEmpty) return df
    val cols = df.columns.toSeq.flatMap { c =>
      m.logicalOf(c) match {
        case None => None // tombstoned — hidden with zero I/O
        case Some(lg) if lg == c => Some(col(c))
        case Some(lg) => Some(col(c).as(lg))
      }
    }
    df.select(cols: _*)
  }

  /** LOGICAL → PHYSICAL: the write projection. Mapped logicals alias
    * to their physical names; a column named like a tombstoned
    * physical or a remapped-away physical is REJECTED (the first
    * would resurrect dead bytes, the second is a stale producer still
    * writing the pre-rename name). Identity when the lake has no
    * map. */
  def toPhysical(spark: SparkSession, lakeDir: String,
      df: DataFrame): DataFrame = {
    val m = mapping(fsOf(spark, lakeDir), lakeDir)
    if (m.isEmpty) return df
    val logicals = m.renames.map(_._1).toSet
    val remappedAway = m.renames.map(_._2).toSet -- logicals
    val cols = df.columns.toSeq.map { c =>
      if (logicals.contains(c)) col(c).as(m.physicalOf(c))
      else if (m.dropped.contains(c))
        throw new IllegalArgumentException(
          s"column '$c' was DROPPED from $lakeDir — appending it would " +
            "resurrect the dropped bytes under a recreated column; " +
            "rename the new column before appending")
      else if (remappedAway.contains(c))
        throw new IllegalArgumentException(
          s"column '$c' was RENAMED to " +
            s"'${m.renames.find(_._2 == c).get._1}' in $lakeDir — " +
            "write under the current logical name")
      else col(c)
    }
    df.select(cols: _*)
  }

  /** The current LOGICAL column names of the committed view (physical
    * union schema through the map) — the rename/drop validation
    * base. One mergeSchema footer pass, metadata-scale. */
  private def logicalColumns(spark: SparkSession,
      lakeDir: String): Seq[String] = {
    val fs = fsOf(spark, lakeDir)
    val files = CommitLog.committedView(fs, lakeDir)._1
    if (files.isEmpty) return Seq.empty
    val phys = spark.read.option("mergeSchema", "true")
      .parquet(CommitLog.resolveDataPaths(fs, lakeDir,
        files.toSeq.sorted): _*).columns.toSeq
    val m = mapping(fs, lakeDir)
    phys.flatMap(m.logicalOf)
  }

  /** Live definitions (CHECK constraints / generated columns) that
    * reference logical column `column`. Definitions resolve in
    * LOGICAL-name space; renaming or dropping a referenced column
    * would orphan them — the write-side gates would stop resolving
    * and silently pass everything. Catalyst's parser gives the exact
    * attribute set; an unparseable definition (cannot happen — `add`
    * validated it) degrades to a conservative substring match. */
  private def referencingDefs(spark: SparkSession, lakeDir: String,
      column: String): Seq[String] = {
    val fs = fsOf(spark, lakeDir)
    val parser = spark.sessionState.sqlParser
    val target = column.toLowerCase(java.util.Locale.ROOT)
    def references(e: String): Boolean =
      (try {
        parser.parseExpression(e).collect {
          case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
            a.nameParts.head.toLowerCase(java.util.Locale.ROOT)
        }.toSet
      } catch {
        case scala.util.control.NonFatal(_) =>
          if (e.toLowerCase(java.util.Locale.ROOT).contains(target))
            Set(target)
          else Set.empty[String]
      }).contains(target)
    Constraints.list(fs, lakeDir).collect {
      case (n, p) if references(p) => s"CHECK constraint '$n'"
    } ++ GeneratedColumns.list(fs, lakeDir).collect {
      case (c, e, _)
          if c.toLowerCase(java.util.Locale.ROOT) == target ||
            references(e) =>
        s"generated column '$c'"
    }
  }

  private def requireUnreferenced(spark: SparkSession, lakeDir: String,
      column: String, verb: String): Unit = {
    val refs = referencingDefs(spark, lakeDir, column)
    require(refs.isEmpty,
      s"$verb: column '$column' is referenced by " +
        s"${refs.mkString(", ")} — drop the definition(s) first " +
        "(a rename would silently orphan them; Delta blocks this too)")
  }

  /** RENAME COLUMN — metadata-only (one map-record publish under the
    * writer lock; zero data I/O). `from` must be a live logical
    * column; `to` must be free. Renaming back to the physical name
    * removes the entry (identity restored). */
  def rename(spark: SparkSession, lakeDir: String, from: String,
      to: String): Unit = {
    require(from.nonEmpty && to.nonEmpty && from != to,
      s"rename: bad names '$from' -> '$to'")
    require(!Seq(from, to).exists(_.exists(c => c == '\t' || c == '\n')),
      "rename: names must not contain tabs/newlines")
    val fs = fsOf(spark, lakeDir)
    require(fs.exists(new Path(CommitLog.logDir(lakeDir))),
      s"rename: $lakeDir has no commit log — column mapping needs one")
    CommitLog.withWriterLock(fs, lakeDir) {
      val live = logicalColumns(spark, lakeDir)
      require(live.contains(from),
        s"rename: no live column '$from' in $lakeDir " +
          s"(live: ${live.mkString(", ")})")
      require(!live.contains(to),
        s"rename: column '$to' already exists in $lakeDir")
      requireUnreferenced(spark, lakeDir, from, "rename")
      val m = mapping(fs, lakeDir)
      val physical = m.physicalOf(from)
      val kept = m.renames.filterNot(_._1 == from)
      val renames =
        if (to == physical) kept // renamed back — identity again
        else kept :+ ((to, physical))
      write(fs, lakeDir, Mapping(renames, m.dropped))
    }
  }

  /** DROP COLUMN — metadata-only: tombstones the physical name, reads
    * hide it from the next resolution on, bytes stay in place. */
  def drop(spark: SparkSession, lakeDir: String, name: String): Unit = {
    val fs = fsOf(spark, lakeDir)
    require(fs.exists(new Path(CommitLog.logDir(lakeDir))),
      s"drop column: $lakeDir has no commit log — column mapping " +
        "needs one")
    CommitLog.withWriterLock(fs, lakeDir) {
      val live = logicalColumns(spark, lakeDir)
      require(live.contains(name),
        s"drop column: no live column '$name' in $lakeDir " +
          s"(live: ${live.mkString(", ")})")
      requireUnreferenced(spark, lakeDir, name, "drop column")
      val m = mapping(fs, lakeDir)
      val physical = m.physicalOf(name)
      write(fs, lakeDir, Mapping(m.renames.filterNot(_._1 == name),
        m.dropped :+ physical))
    }
  }

  /** The physical name behind a logical column — what a
    * [[StatsIndex]] pruning caller passes as the range column, so an
    * index built before a rename prunes unchanged after it. */
  def physicalName(spark: SparkSession, lakeDir: String,
      logical: String): String = {
    val m = mapping(fsOf(spark, lakeDir), lakeDir)
    require(!m.dropped.contains(m.physicalOf(logical)) ||
        m.renames.exists(_._1 == logical),
      s"physicalName: column '$logical' was dropped from $lakeDir")
    m.physicalOf(logical)
  }

  /** Which of the committed data files `names` still CARRY any of
    * the tombstoned top-level physical columns: the top-level field
    * names of their footer schemas, memoized by [[FileMemo]] — no
    * Spark job, and a footer read on the driver only for a file the
    * memo does not hold yet. */
  private[graft] def filesCarrying(spark: SparkSession, lakeDir: String,
      names: Seq[String], dropped: Set[String]): Seq[String] =
    names.zip(FileMemo.schemasOf(spark, lakeDir, names)).collect {
      case (n, schema) if schema.fieldNames.exists(dropped) => n
    }.sorted

  /** REORG … APPLY (PURGE): physically reclaim the tombstoned
    * columns' bytes and make the dropped names reusable. [[drop]] is
    * metadata-only by design — at a 100 TB lake the dead bytes stay
    * in place, every mergeSchema footer still advertises them, and
    * nothing (not even [[Sources.ZOrder.optimize]], which rewrites
    * RAW physical files and replicates this map exactly so reads stay
    * stable) ever removes them. This is the missing maintenance verb:
    *
    *  - DISCOVERY reads memoized footer schemas on the driver
    *    ([[filesCarrying]], no Spark job) — only files whose physical
    *    schema still holds a tombstoned
    *    column rewrite; a lake whose churn already replaced them
    *    rewrites NOTHING. Cost ∝ carrying files, never lake size
    *    (Delta documents the same REORG cost shape).
    *  - The rewrite reads the carrying files' LIVE rows (their
    *    covered deletion vectors fold in — row identity changes
    *    anyway), drops the tombstoned physical columns, and appends
    *    `filesPerRewrite` replacement files; untouched files carry by
    *    name with zero I/O, their surviving vector pairs re-covered
    *    in a fresh sidecar ([[DeletionVectors.rewriteSurvivorVectors]],
    *    the [[Sources.compactSmall]] discipline).
    *  - ONE mutation checkpoint flips the view (add/rm churn deltas
    *    carried); live rows are preserved, so a change-data-feed lake
    *    gets an EMPTY stamp and feed cursors flow through, while
    *    file-pinned `MorCursor`s trip their resync guard exactly as
    *    on any physical rewrite.
    *  - The tombstones LIFT in the same locked section: from this
    *    version on the dropped name is appendable again ([[toPhysical]]
    *    stops rejecting it), behaving like an additively-evolved
    *    column — old rows read NULL under mergeSchema, nothing can
    *    resurrect because the bytes are gone.
    *
    * Returns (filesRewritten, filesCarried). Idempotent: a second
    * call finds no tombstones and publishes nothing.
    *
    * STAGED (OCC) since r14 — the r13 shape held the writer lock
    * across the footer probe AND the data rewrite, the one remaining
    * verb whose lock-hold grew with data BYTES (minutes of a blocked
    * writer matrix at a 100 TB purge). Now purge follows [[Occ]]'s
    * discipline exactly: the probe and the carrying-file rewrite run
    * UNLOCKED against a pinned snapshot into a hidden `.occ-*` stage,
    * and the lock is held only for a metadata-scale commit section
    * (snapshot re-validation, staged-file renames, survivor-vector
    * sidecar rewrite — 16 bytes/deleted row — and one checkpoint +
    * map publish). Conflict rule, validated inside the section —
    * deliberately NARROWER than "view moved" so an append stream can
    * never starve a long purge (Delta's disjoint-file-set conflict
    * discipline):
    *
    *  - the TOMBSTONE set changed (a concurrent [[drop]]): retry —
    *    lifting an un-probed tombstone would resurrect its bytes;
    *  - any CARRYING file left the view (replaced by OPTIMIZE /
    *    compaction / another purge): retry — the staged rewrite
    *    embeds rows a newer version already replaced;
    *  - covered-vector churn TOUCHING A CARRYING FILE (concurrent MoR
    *    DML on the files being rewritten): retry — the staged rewrite
    *    folded the PINNED vectors, a newer delete on a carrying file
    *    would silently resurrect. Churn whose changed pairs name only
    *    CLEAN files commutes: the changed sidecars are read under the
    *    lock (∝ mid-purge churn, the rewriteSurvivorVectors cost
    *    class) and the survivor rewrite folds the CURRENT vector set;
    *  - a file ADDED since the snapshot carries a tombstoned column
    *    (only reachable via raw-manifest surgery or [[CommitLog]]
    *    restore to a pre-drop version — every committed write path
    *    projects through [[toPhysical]], which rejects tombstoned
    *    names): retry, so the re-probe rewrites it too. Probed from
    *    the added files' FOOTERS under the lock — metadata-scale,
    *    ∝ files appended during the purge window, usually zero.
    *
    * Anything else — appends of clean files, DML on clean files —
    * COMMUTES: the purge publishes over the CURRENT view (clean
    * additions carry through by name). The loser of a real conflict
    * deletes its stage and re-runs the whole prepare on a fresh
    * snapshot, up to `maxRetries`. `PurgeScale` measures the
    * blocked-writer window directly: a racing [[Occ.append]] stream
    * commits DURING the purge rewrite and the purge still lands.
    *
    * `filesPerRewrite` ≤ 0 (the default) sizes the replacement file
    * count from the carrying BYTES (`targetFileBytes` per output, the
    * `compactSmall` totalBytes/minBytes shape) — a purge of 160
    * carrying files no longer funnels every live row into 4 huge
    * files (ADVICE r13); an explicit positive value pins the count. */
  def purge(spark: SparkSession, lakeDir: String,
      filesPerRewrite: Int = 0,
      indexDir: Option[String] = None,
      targetFileBytes: Long = 128L << 20,
      maxRetries: Int = 5, commitWaitMs: Long = 30000L,
      beforeCommit: () => Unit = () => ()): (Int, Int) = {
    val fs = fsOf(spark, lakeDir)
    require(fs.exists(new Path(CommitLog.logDir(lakeDir))),
      s"purge: $lakeDir has no commit log — cannot publish atomically")
    require(targetFileBytes > 0L,
      s"purge: targetFileBytes must be positive, got $targetFileBytes")
    Occ.sweepStaleStages(fs, lakeDir)
    var attempt = 0
    var lastRace: Option[Throwable] = None
    while (true) {
      // ---- PREPARE, no lock held: pin ONE consistent snapshot ----
      val m = mapping(fs, lakeDir)
      val snap @ (filesSnap, dvSnap) = CommitLog.committedView(fs, lakeDir)
      val committed = filesSnap.toSeq.sorted
      if (m.dropped.isEmpty) return (0, committed.size)
      val carrying =
        if (committed.isEmpty) Seq.empty[String]
        else filesCarrying(spark, lakeDir, committed, m.dropped.toSet)
      val dvOpt = DeletionVectors.vectorsFor(spark, lakeDir, dvSnap)
      val stage = Occ.stageDir(lakeDir)
      // the UNLOCKED rewrite reads pinned paths a concurrent physical
      // rewriter (compaction, another purge) may delete mid-read —
      // that is an OCC race, not an error: the failed prepare cleans
      // its stage and re-runs on a fresh snapshot (the cause rides
      // along if retries exhaust, so a genuine I/O fault still
      // surfaces)
      var prepRace: Boolean = false
      val newFiles: Seq[String] =
        if (carrying.isEmpty) Seq.empty
        else try {
          val carryingPaths =
            CommitLog.resolveDataPaths(fs, lakeDir, carrying)
          // replacement file count ∝ carrying bytes (dead-column share
          // is usually small, so sizing from the pre-drop bytes only
          // errs toward slightly smaller outputs), clamped to the
          // carrying count — a purge never EXPANDS the file census
          val carryBytes = carryingPaths.iterator
            .map(p => fs.getFileStatus(new Path(p)).getLen).sum
          val nOut =
            if (filesPerRewrite > 0) filesPerRewrite
            else math.max(1L, math.min(carrying.size.toLong,
              (carryBytes + targetFileBytes - 1) / targetFileBytes)).toInt
          // mergeSchema: carrying files can mix physical schemas (an
          // old file and an additively-evolved delta can both carry
          // the dead column) — a single-schema read would silently
          // drop a live evolved column from the rewritten rows
          val base = spark.read.option("mergeSchema", "true")
            .parquet(carryingPaths: _*)
          DeletionVectors.applyVectors(base, dvOpt)
            .drop(m.dropped: _*)
            .repartition(nOut)
            .write.parquet(s"$stage/data")
          Occ.stagedNames(fs, s"$stage/data")
        } catch {
          case scala.util.control.NonFatal(e) =>
            prepRace = true
            lastRace = Some(e)
            Seq.empty
        }
      if (!prepRace) beforeCommit()
      // ---- COMMIT SECTION: metadata-scale, conflict-validated ----
      val outcome: Option[(Int, Int)] =
        if (prepRace) None
        else CommitLog.withWriterLock(fs,
          lakeDir, waitMs = commitWaitMs) {
        val mNow = mapping(fs, lakeDir)
        val (filesNow, dvNow) = CommitLog.committedView(fs, lakeDir)
        // files added since the snapshot: clean by construction (every
        // committed write path projects through toPhysical, which
        // rejects tombstoned names) — but restore/raw surgery can
        // resurrect carriers, so their footers are verified here,
        // ∝ files appended during the purge window (usually zero)
        lazy val addedCarries = filesCarrying(spark, lakeDir,
          (filesNow -- filesSnap).toSeq.sorted, m.dropped.toSet).nonEmpty
        if (mNow.dropped.toSet != m.dropped.toSet) None
        else if (carrying.isEmpty) {
          // bytes already gone (churn replaced every carrying file) —
          // lifting the tombstones is pure metadata
          if (addedCarries) None
          else {
            write(fs, lakeDir, Mapping(mNow.renames, Seq.empty))
            Some((0, filesNow.size))
          }
        } else {
          // dv churn since the snapshot commutes IFF none of the
          // changed pairs names a carrying file (the common case: a
          // MoR delete landing on recent clean files while old
          // carriers purge). ADDED sidecars are in the view resolved
          // under this lock, so their bytes cannot vanish while it is
          // held — metadata-scale (16 bytes/deleted row), read here
          // exactly like the survivor rewrite below. RETIRED sidecars
          // (dvSnap -- dvNow) may already be physically deleted by
          // the verb that replaced them (compaction retires debris),
          // so retirement is a conservative CONFLICT, never a read.
          def pairsTouchCarrying(names: Set[String]): Boolean =
            DeletionVectors.vectorsFor(spark, lakeDir, names)
              .exists(_.files.exists(carrying.toSet))
          if (!carrying.forall(filesNow.contains) ||
              (dvSnap -- dvNow).nonEmpty ||
              pairsTouchCarrying(dvNow -- dvSnap) || addedCarries) None
          else {
            // clean concurrent appends COMMUTE: publish over the
            // CURRENT file set, carrying them through by name
            val oldDv = DeletionVectors.coveredDvFiles(fs, lakeDir)
            Occ.renameInto(fs, s"$stage/data", newFiles, lakeDir)
            // survivors fold from the CURRENT vector set (clean-file
            // churn since the snapshot included; carrying-file pairs
            // validated unchanged, so the staged rewrite's fold of
            // the pinned set is still exact)
            val survivorDv = DeletionVectors.vectorsFor(spark, lakeDir,
                dvNow) match {
              case None => Seq.empty[String]
              case Some(dv) => DeletionVectors.rewriteSurvivorVectors(
                spark, fs, lakeDir, dv, carrying.toSet)
            }
            val maxId = math.max(
              CommitLog.maxCommittedId(fs, lakeDir), -1L)
            // live rows preserved (dead rows were already invisible):
            // an empty change-feed stamp keeps feed cursors flowing
            // through
            val gen =
              if (!ChangeDataFeed.isEnabled(fs, lakeDir)) None
              else {
                val g = CommitLog.nextGen(fs, lakeDir)
                ChangeDataFeed.writeEmpty(spark, lakeDir, maxId, g)
                Some(g)
              }
            CommitLog.commitMutationCheckpoint(fs, lakeDir, maxId,
              (filesNow.toSeq.filterNot(carrying.toSet) ++ newFiles)
                .sorted,
              dvNames = survivorDv, added = newFiles,
              removed = carrying, gen = gen)
            // tombstones lift atomically with the publish (same
            // lock): the bytes are gone, so the name is safe to
            // recreate — concurrent renames since the snapshot are
            // preserved (mNow.renames; only the validated dropped
            // set lifts)
            write(fs, lakeDir, Mapping(mNow.renames, Seq.empty))
            // replaced files and their retired sidecars: local files
            // delete now; clone-source-resident ones just stop being
            // referenced (the source's own vacuum owns those bytes)
            carrying.foreach { n =>
              fs.delete(new Path(lakeDir, n), false); ()
            }
            oldDv.foreach { n =>
              fs.delete(new Path(DeletionVectors.dvDir(lakeDir), n),
                false); ()
            }
            Some((carrying.size, filesNow.size - carrying.size))
          }
        }
      }
      fs.delete(new Path(stage), true)
      outcome match {
        case Some(res) =>
          // derived artifact, current-view semantics — refreshing
          // under the lock would put footer I/O back into the blocked
          // window
          indexDir.foreach(idx =>
            StatsIndex.refreshSameColumns(spark, lakeDir, idx))
          return res
        case None => ()
      }
      attempt += 1
      if (attempt > maxRetries) {
        val err = new IllegalStateException(
          s"purge: lost the commit race $attempt times on $lakeDir " +
            "(concurrent commits or tombstone churn) — raise " +
            "maxRetries or quiesce the writer matrix")
        lastRace.foreach(err.initCause)
        throw err
      }
    }
    throw new IllegalStateException("unreachable")
  }
}
