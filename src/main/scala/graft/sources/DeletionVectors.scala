package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.SparkContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField,
  StructType}

/** MERGE-ON-READ mutations — Delta/Iceberg DELETION VECTORS from
  * plain parquet and the existing [[CommitLog]] machinery.
  *
  * Copy-on-write DML ([[MergeInto]]) rewrites every file holding a
  * matching row: right when changes are dense, pathological when they
  * are sparse — a GDPR-style "delete/update these 1000 users" against
  * a 100 TB lake would rewrite thousands of GB-sized files to change
  * kilobytes. The MoR verbs instead RECORD positions: a tiny sidecar
  * parquet under `_dv/` holding `(file, pos)` pairs — the file's name
  * and the row's physical position from Spark's
  * `_metadata.row_index` — marks rows dead; [[mergeMor]]/[[updateMor]]
  * additionally APPEND target-sized delta files (one for churn-scale
  * mutations, ⌈rows / targetRowsPerDelta⌉ parallel tasks for bulk
  * ones) carrying the replacement rows.
  * Cost ∝ matched ROWS, never ∝ touched file bytes.
  *
  * ATOMICITY — one rename flips everything. A mutation publishes ONE
  * `.mutation.checkpoint` whose record lists the data files (carried
  * + any delta) AND the covered `_dv` sidecar files (`dv:`-prefixed
  * entries, [[CommitLog.coveredDvNames]]). Vectors are VISIBLE only
  * when covered: a `_dv` file no live record names is an unpublished
  * mutation's debris — inert to every reader and swept by the next
  * DV writer under the lock. So there is NO crash window in which a
  * reader can see the delta without its vectors (duplicated rows) or
  * the vectors without their delta (vanished rows): before the
  * checkpoint rename nothing changed; after it, both halves are live.
  *
  * [[readMor]] is the read surface: the committed view minus the
  * rows whose `(file name, row position)` the covered vector set
  * names. Both halves are resolved on the driver from [[FileMemo]],
  * keyed by write-once file identity: the read schema from memoized
  * footer schemas (no inference job) and the vector set as a driver
  * map of sorted positions per file ([[Vectors]]), which the scan
  * applies as a row filter that binary-searches one broadcast of it
  * — the per-row "is deleted" test Delta applies inside its scan, not
  * a join. A warm read therefore runs the query's own scan jobs only;
  * a vector set above `spark.sql.autoBroadcastJoinThreshold` stays a
  * distributed sidecar read + distinct, anti-joined. [[compact]]
  * applies the vectors
  * physically (rewrites ONLY files that carry DV rows, drops `_dv`),
  * returning the lake to plain-files state.
  *
  * WRITER INTERACTIONS — the part that makes MoR safe, not just fast:
  * CoW DML (merge/update/delete) FAILS FAST while covered vectors
  * exist (`MergeInto.mutate` checks under the writer lock) — it reads
  * committed files WITHOUT the vectors and would resurrect DV-deleted
  * rows into its rewrite, and the MoR twins
  * ([[deleteMor]]/[[updateMor]]/[[mergeMor]]) are the right verb on a
  * DV'd lake anyway. The MAINTENANCE rewriters instead FOLD the
  * vectors into bytes they rewrite regardless: `ZOrder.optimize`
  * applies every vector during its whole-lake re-cluster (one pass
  * re-clusters AND compacts, the dir swap retires the sidecar), and
  * `compactSmall` applies the compacted files' vectors while
  * re-covering the untouched files' survivors through
  * [[rewriteSurvivorVectors]]. Ingest APPENDS compose freely (new
  * files have no vectors). All DV operations hold the same single
  * writer lock as every other lake writer.
  *
  * Read-surface contract: a DV'd lake is read through [[readMor]].
  * [[StatsIndex.countPruned]] SUBTRACTS the per-file covered-vector
  * counts (metadata-scale — exact); [[StatsIndex.minMaxPruned]]
  * demotes DV'd files to gap files and scans only their live rows
  * (exact — a dead row can be the extremum, and footer bounds cannot
  * know, so those files lose their zero-I/O arm and nothing more).
  * Plain `readCommitted` does NOT apply vectors; per-file
  * stats stay CONSERVATIVE for pruning (a deleted row can only widen
  * bounds). `DeletionVectorsSpec` exercises every crash window. */
object DeletionVectors {

  def dvDir(lakeDir: String): String = s"$lakeDir/_dv"

  /** Internal join-key names. A lake column named `file`/`pos` must
    * survive the MoR read path unharmed, so the position columns are
    * namespaced; colliding with THESE is rejected outright. */
  private[sources] val FileCol = "__dv_file"
  private[sources] val PosCol = "__dv_pos"

  private[sources] def requireNoClash(df: DataFrame, what: String): Unit =
    require(!df.columns.contains(FileCol) && !df.columns.contains(PosCol),
      s"$what: the schema carries a reserved column name ($FileCol/" +
        s"$PosCol) — rename it; these are the MoR position join keys")

  /** `_dv` sidecar parquet names physically on disk (covered or not). */
  private[sources] def dvFilesOnDisk(fs: org.apache.hadoop.fs.FileSystem,
      lakeDir: String): Set[String] = {
    val d = new Path(dvDir(lakeDir))
    if (!fs.exists(d)) Set.empty
    else fs.listStatus(d).iterator.map(_.getPath.getName)
      .filter(_.endsWith(".parquet")).toSet
  }

  /** The VISIBLE sidecar files: on disk ∩ covered by the commit log.
    * Uncovered disk files are unpublished-mutation debris (inert).
    * Resolution-aware: a shallow clone's covered sidecars may live in
    * the SOURCE's `_dv` — a local-only listing would report them
    * absent, [[hasDvs]] would read false, and a CoW rewrite would
    * resurrect the clone's MoR-deleted rows. */
  def coveredDvFiles(fs: org.apache.hadoop.fs.FileSystem,
      lakeDir: String): Seq[String] =
    (resolvableDvNames(fs, lakeDir) &
      CommitLog.coveredDvNames(fs, lakeDir)).toSeq.sorted

  /** Resolve covered sidecar NAMES to physical paths — the `_dv`
    * twin of [[CommitLog.resolveDataPaths]]: local wins, the rest
    * resolve through the clone-source chain. */
  private[sources] def resolveDvPaths(fs: org.apache.hadoop.fs.FileSystem,
      lakeDir: String, names: Seq[String]): Seq[String] =
    CommitLog.cloneSourceOf(fs, lakeDir) match {
      case None => names.map(n => s"${dvDir(lakeDir)}/$n")
      case Some(src) =>
        val local = dvFilesOnDisk(fs, lakeDir)
        val missing = names.filterNot(local)
        val there = missing.zip(resolveDvPaths(fs, src, missing)).toMap
        names.map(n =>
          if (local(n)) s"${dvDir(lakeDir)}/$n" else there(n))
    }

  /** Every sidecar name resolvable from this lake: physically local ∪
    * the source chain's. */
  private[sources] def resolvableDvNames(
      fs: org.apache.hadoop.fs.FileSystem, lakeDir: String): Set[String] =
    CommitLog.cloneSourceOf(fs, lakeDir) match {
      case None => dvFilesOnDisk(fs, lakeDir)
      case Some(src) =>
        dvFilesOnDisk(fs, lakeDir) ++ resolvableDvNames(fs, src)
    }

  /** True when the lake has any VISIBLE (covered, unapplied) vectors —
    * the guard every copy-on-write rewriter checks. */
  def hasDvs(fs: org.apache.hadoop.fs.FileSystem,
      lakeDir: String): Boolean = coveredDvFiles(fs, lakeDir).nonEmpty

  /** The current covered vector set — shared with
    * [[StatsIndex.countPruned]]'s per-file subtraction. */
  private[sources] def vectors(spark: SparkSession, lakeDir: String)
      : Option[Vectors] = {
    val fs = new Path(lakeDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    vectorsFor(spark, lakeDir, coveredDvFiles(fs, lakeDir).toSet)
  }

  /** Unpublished debris sweep: `_dv` files the log does not cover are
    * a crashed mutation's leftovers — never visible, safe to delete
    * under the writer lock (the crashed mutation simply never
    * happened). */
  private def sweepUncovered(fs: org.apache.hadoop.fs.FileSystem,
      lakeDir: String): Unit = {
    val debris =
      dvFilesOnDisk(fs, lakeDir) -- CommitLog.coveredDvNames(fs, lakeDir)
    debris.foreach { n =>
      fs.delete(new Path(dvDir(lakeDir), n), false); ()
    }
  }

  private[sources] def fileNameCol: Column =
    element_at(split(col("_metadata.file_path"), "/"), -1)

  /** The rows of `base` whose `(file name, row position)` the covered
    * vectors (if any) do not name — the one shared MoR read step. */
  private[sources] def applyVectors(base: DataFrame,
      dv: Option[Vectors]): DataFrame = dv match {
    case None => base
    case Some(v) =>
      requireNoClash(base, "readMor")
      v.dropDead(base
          .withColumn(FileCol, fileNameCol)
          .withColumn(PosCol, col("_metadata.row_index")), FileCol, PosCol)
        .drop(FileCol, PosCol)
  }

  private val DvSchema = StructType(Seq(
    StructField("file", StringType), StructField("pos", LongType)))

  /** A covered vector set: the distinct `(file, pos)` pairs of some
    * covered sidecars, as [[FileMemo.vectorsFor]] resolved them —
    * [[InMemory]] within the broadcast bound, [[Distributed]] above
    * it. Every consumer goes through these methods, so none branches
    * on how the set is held. */
  private[graft] sealed trait Vectors {

    /** The rows of `df` whose string column `file` and long column
      * `pos` name no pair. */
    def dropDead(df: DataFrame, file: String, pos: String): DataFrame

    /** The rows of `df` whose (`file`, `pos`) names a pair. */
    def keepDead(df: DataFrame, file: String, pos: String): DataFrame

    /** The files at least one pair names, sorted. */
    def files: Seq[String]

    /** The number of pairs per file. */
    def deadCounts: Map[String, Long]

    /** [[deadCounts]] as a frame of `(file, dead)`. */
    def deadCountFrame(spark: SparkSession): DataFrame

    /** The pairs naming none of `dropped`, as a `(file, pos)` frame;
      * None when there are none. */
    def without(spark: SparkSession, dropped: Set[String]): Option[DataFrame]

    /** This set, with a broadcast hint on any join it plans. */
    def hinted: Vectors
  }

  /** A vector set held on the driver: per file, its sorted distinct
    * positions. Rows are dropped by a filter that binary-searches one
    * broadcast of the map, made on first use. */
  private[graft] final class InMemory(
      val byFile: Map[String, Array[Long]], sc: SparkContext)
      extends Vectors {
    private var handle: Option[Broadcast[Map[String, Array[Long]]]] = None

    private def shipped: Broadcast[Map[String, Array[Long]]] = synchronized {
      if (handle.isEmpty) handle = Some(sc.broadcast(byFile))
      handle.get
    }

    /** The broadcast's id, once it is made. */
    def broadcastId: Option[Long] = synchronized(handle.map(_.id))

    /** Drops the broadcast's executor copies; the driver keeps its own,
      * so a frame already built on it still runs. */
    def release(): Unit = synchronized(handle.foreach(_.unpersist(false)))

    private def dead(file: String, pos: String): Column =
      udf(new Dead(shipped)).apply(col(file), col(pos))

    def dropDead(df: DataFrame, file: String, pos: String): DataFrame =
      df.filter(!dead(file, pos))
    def keepDead(df: DataFrame, file: String, pos: String): DataFrame =
      df.filter(dead(file, pos))
    def files: Seq[String] = byFile.keys.toSeq.sorted
    def deadCounts: Map[String, Long] =
      byFile.map { case (f, ps) => f -> ps.length.toLong }
    def deadCountFrame(spark: SparkSession): DataFrame = {
      import spark.implicits._
      deadCounts.toSeq.toDF("file", "dead")
    }
    def without(spark: SparkSession,
        dropped: Set[String]): Option[DataFrame] = {
      val kept = byFile.toSeq.filterNot(kv => dropped(kv._1)).sortBy(_._1)
      if (kept.isEmpty) None
      else Some(spark.createDataFrame(spark.sparkContext.parallelize(
        kept.flatMap { case (f, ps) => ps.toSeq.map(p => Row(f, p)) }, 1),
        DvSchema))
    }
    def hinted: Vectors = this
  }

  /** Is `(file, pos)` in the broadcast set? Deterministic. */
  private final class Dead(set: Broadcast[Map[String, Array[Long]]])
      extends ((String, Long) => Boolean) with Serializable {
    @transient private lazy val byFile = set.value
    def apply(file: String, pos: Long): Boolean = byFile.get(file) match {
      case Some(ps) => java.util.Arrays.binarySearch(ps, pos) >= 0
      case None => false
    }
  }

  /** A vector set above the broadcast bound: the distributed sidecar
    * read and `distinct`, applied by joins. */
  private[graft] final case class Distributed(frame: DataFrame)
      extends Vectors {
    private def pairs(file: String, pos: String): DataFrame =
      frame.select(col("file").as(file), col("pos").as(pos))

    def dropDead(df: DataFrame, file: String, pos: String): DataFrame =
      df.join(pairs(file, pos), Seq(file, pos), "left_anti")
    def keepDead(df: DataFrame, file: String, pos: String): DataFrame =
      df.join(pairs(file, pos), Seq(file, pos), "left_semi")
    def files: Seq[String] = frame.select(col("file")).distinct()
      .collect().map(_.getString(0)).toSeq.sorted
    def deadCounts: Map[String, Long] = frame.groupBy(col("file")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    def deadCountFrame(spark: SparkSession): DataFrame =
      frame.groupBy(col("file")).agg(count(lit(1)).as("dead"))
    def without(spark: SparkSession,
        dropped: Set[String]): Option[DataFrame] = {
      import spark.implicits._
      val survivors = frame.join(dropped.toSeq.toDF("file"), Seq("file"),
        "left_anti").localCheckpoint()
      if (survivors.isEmpty) None else Some(survivors)
    }
    def hinted: Vectors = Distributed(broadcast(frame))
  }

  /** Write `pairs` (a `(file, pos)` frame) as one new sidecar file and
    * return the new sidecar parquet names. */
  private def writePairs(fs: org.apache.hadoop.fs.FileSystem,
      lakeDir: String, pairs: DataFrame): Seq[String] = {
    val before = dvFilesOnDisk(fs, lakeDir)
    pairs.repartition(1).write.mode("append").parquet(dvDir(lakeDir))
    (dvFilesOnDisk(fs, lakeDir) -- before).toSeq.sorted
  }

  /** Support for PARTIAL physical rewrites (small-file compaction):
    * vectors naming `droppedFiles` die with their files (the rewrite
    * applied them); every other covered pair survives, rewritten into
    * ONE fresh sidecar file whose names the caller must publish as
    * the checkpoint's new `dv:` coverage. Returns the fresh sidecar
    * names — empty when nothing survives (the caller publishes no dv
    * entries). Metadata-scale: the sidecar holds one 16-byte-order
    * pair per deleted row. Caller must hold the writer lock. */
  private[sources] def rewriteSurvivorVectors(spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem, lakeDir: String,
      dv: Vectors, droppedFiles: Set[String]): Seq[String] =
    dv.without(spark, droppedFiles).map(writePairs(fs, lakeDir, _))
      .getOrElse(Seq.empty)

  /** Merge-on-read DELETE: record `(file, pos)` for every committed
    * row matching `predicate` (SQL NULL semantics — NULL keeps the
    * row) instead of rewriting files. Idempotent: pairs already
    * covered are not re-written, and the returned count is the NEWLY
    * marked rows (0 on a repeat of the same predicate, publishing
    * nothing). Publishes ONE `.mutation.checkpoint` carrying the
    * unchanged file list plus the new covered-vector set — vectors
    * become visible atomically with it. */
  def deleteMor(spark: SparkSession, lakeDir: String,
      predicate: String): Long = {
    val fs = new Path(lakeDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(new Path(CommitLog.logDir(lakeDir))),
      s"deleteMor: $lakeDir has no commit log — cannot publish atomically")
    CommitLog.withWriterLock(fs, lakeDir) {
      sweepUncovered(fs, lakeDir)
      val committed = CommitLog.committedNames(fs, lakeDir).toSeq.sorted
      // mergeSchema: an evolved lake mixes physical schemas — the
      // predicate must see every column deterministically (rows from
      // files missing an evolved column read it as NULL)
      val lake = FileMemo.readFiles(spark, lakeDir, committed,
        mergeSchema = true)
      val hits = lake.filter(coalesce(expr(predicate), lit(false)))
        .select(fileNameCol.as("file"),
          col("_metadata.row_index").as("pos"))
      val fresh = vectors(spark, lakeDir)
        .fold(hits)(_.dropDead(hits, "file", "pos"))
      // count + write in one materialization: localCheckpoint the tiny
      // pair set so the count never re-runs the predicate scan; the
      // count itself rides the materialization job (Pins.pinCounted)
      val (pairs, n) = Pins.pinCounted(fresh)
      if (n > 0) {
        val newDv = writePairs(fs, lakeDir, pairs)
        val id = math.max(CommitLog.maxCommittedId(fs, lakeDir), -1L)
        // change feed: the newly dead rows' full images, resolved by
        // semi-joining the lake against the tiny checkpointed pair
        // set — written BEFORE the publish claims the same (id, gen),
        // exactly [[MergeInto.mutate]]'s contract
        val gen =
          if (!ChangeDataFeed.isEnabled(fs, lakeDir)) None
          else {
            val g = CommitLog.nextGen(fs, lakeDir)
            ChangeDataFeed.writeChanges(spark, lakeDir, id, g,
              lake.withColumn(FileCol, fileNameCol)
                .withColumn(PosCol, col("_metadata.row_index"))
                .join(pairs.select(col("file").as(FileCol),
                  col("pos").as(PosCol)), Seq(FileCol, PosCol),
                  "left_semi")
                .drop(FileCol, PosCol)
                .withColumn(ChangeDataFeed.ChangeTypeCol, lit("delete")))
            Some(g)
          }
        CommitLog.commitMutationCheckpoint(fs, lakeDir, id, committed,
          dvNames = coveredDvFiles(fs, lakeDir) ++ newDv, gen = gen)
      }
      n
    }
  }

  /** Merge-on-read MERGE: Delta's matched-replace / not-matched-insert
    * semantics ([[MergeInto.merge]]) WITHOUT rewriting a single
    * touched file — matched live rows' positions land in the `_dv`
    * sidecar, ALL update rows (replacements and inserts alike) land
    * in appended TARGET-SIZED delta files (⌈rows /
    * targetRowsPerDelta⌉ parallel writer tasks; one file for sparse
    * churn), and ONE mutation checkpoint flips
    * data files and vector coverage together. [[readMor]] then serves
    * the merged view unchanged: committed ∪ delta, minus vectors.
    * The 100 TB shape copy-on-write cannot serve: a sparse upsert
    * costs O(matched rows + update rows), never O(touched file
    * bytes) — `DmlChurnScale`'s fixed-churn cell measures it.
    *
    * With `indexDir`, a CURRENT stats index accelerates matched-row
    * discovery exactly as in CoW merge ([[MergeInto.keyCandidateFiles]]
    * — min/max + bloom arms, composite keys intersected), shrinking
    * the key-column scan to candidate files. `evolveSchema` follows
    * [[MergeInto.merge]]'s additive contract; the delta file carries
    * the added columns and readers opt in via
    * `readMor(mergeSchema = true)`. Rows already MoR-deleted are dead:
    * an update key pointing at one inserts a fresh row (the live view
    * has no match), and never resurrects the dead one.
    *
    * Returns (matchedRows, appendedRows): live rows marked replaced,
    * and update rows appended. A crash anywhere before the checkpoint
    * publish leaves only invisible debris (uncommitted delta files
    * for [[CommitLog.vacuum]], uncovered `_dv` files for the next
    * writer's sweep). */
  def mergeMor(spark: SparkSession, lakeDir: String, updates: DataFrame,
      keys0: Seq[String], evolveSchema: Boolean = false,
      indexDir: Option[String] = None,
      targetRowsPerDelta: Long = 1L << 20): (Long, Long) = {
    require(targetRowsPerDelta > 0, "targetRowsPerDelta must be positive")
    val fs = new Path(lakeDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // column mapping first: callers speak LOGICAL names (frame columns
    // AND keys); the delta files and the key-discovery join run over
    // the shared PHYSICAL schema (identity on unmapped lakes).
    // generated-column FILL second: an update frame omitting a defined
    // column gets it computed before compatibility checks and the
    // delta write. [[UpdateBatch]] materializes the caller's update
    // DAG exactly ONCE (outside the writer lock), counting it in the
    // same job: the uniqueness gate, the key-discovery join, the row
    // count that sizes the delta files, and the write all read the
    // materialized partitions instead of re-executing a possibly
    // expensive plan.
    val cmap = ColumnMapping.mapping(fs, lakeDir)
    val keys = keys0.map(cmap.physicalOf)
    val batch = UpdateBatch.pin(GeneratedColumns.fill(spark, lakeDir,
      ColumnMapping.toPhysical(spark, lakeDir, updates)), keys, "mergeMor")
    val updates0 = batch.rows
    val appended = batch.count
    requireNoClash(updates0, "mergeMor")
    require(fs.exists(new Path(CommitLog.logDir(lakeDir))),
      s"mergeMor: $lakeDir has no commit log — cannot publish atomically")
    CommitLog.withWriterLock(fs, lakeDir) {
      sweepUncovered(fs, lakeDir)
      val committed = CommitLog.committedNames(fs, lakeDir).toSeq.sorted
      require(committed.nonEmpty,
        s"mergeMor: no committed files in $lakeDir — ingest first")
      val lake = FileMemo.readFiles(spark, lakeDir, committed,
        mergeSchema = true)
      MergeInto.requireFullRowCompatible(lake, updates0, "mergeMor",
        evolveSchema)
      // matched-position discovery: key columns + _metadata only (a
      // column-pruned pass), optionally restricted to the index's
      // key-candidate files. Committed rows INCLUDE earlier deltas and
      // already-dead rows; the covered vectors below drop the dead
      // ones, so `matched` counts live replacements only.
      def hitsIn(base: DataFrame): DataFrame = base
        .select(Seq(fileNameCol.as(FileCol),
          col("_metadata.row_index").as(PosCol)) ++ keys.map(col): _*)
        .join(batch.keys, keys, "left_semi")
        .select(col(FileCol).as("file"), col(PosCol).as("pos"))
      val hits = MergeInto.keyCandidateFiles(spark, batch, keys,
          indexDir, committed) match {
        case Some(Seq()) => // provably pure-insert merge
          hitsIn(lake).limit(0)
        case Some(cand) => hitsIn(FileMemo.readSubset(spark, lake, cand))
        case None => hitsIn(lake)
      }
      val fresh = vectors(spark, lakeDir)
        .fold(hits)(_.dropDead(hits, "file", "pos"))
      val (pairs, matched) = Pins.pinCounted(fresh)
      val newDv =
        if (matched == 0) Seq.empty else writePairs(fs, lakeDir, pairs)
      // TARGET-SIZED delta files: ⌈rows / target⌉ writer tasks, so a
      // sparse upsert keeps today's one-file shape while a bulk one
      // neither funnels through a single task nor emits one oversized
      // file compaction must later split. `appended` rode the pin's
      // job above — never the caller's DAG.
      val nDelta = math.max(1L,
        (appended + targetRowsPerDelta - 1) / targetRowsPerDelta).toInt
      val before = CommitLog.dataFileNames(fs, lakeDir)
      batch.asFiles(nDelta).write.mode("append")
        .parquet(lakeDir)
      val delta =
        (CommitLog.dataFileNames(fs, lakeDir) -- before).toSeq.sorted
      // CHECK-constraint gate on the delta files only — a violation
      // throws before the publish: the delta stays uncommitted debris
      // and the new sidecar pairs stay uncovered, so the rejected
      // upsert never happened in any reader's view
      Constraints.validateFiles(spark, lakeDir, delta)
      GeneratedColumns.validateFiles(spark, lakeDir, delta)
      val id = math.max(CommitLog.maxCommittedId(fs, lakeDir), -1L)
      // change feed: pre-images are the newly dead rows (semi-join
      // against the checkpointed pair set), post-images the update
      // rows whose key had a live match (split off the tiny pre-image
      // key set — a dead-key-only "match" correctly feeds as an
      // insert, because that key was absent from the live view)
      val gen =
        if (!ChangeDataFeed.isEnabled(fs, lakeDir)) None
        else {
          val ct = ChangeDataFeed.ChangeTypeCol
          val g = CommitLog.nextGen(fs, lakeDir)
          val pre = lake.withColumn(FileCol, fileNameCol)
            .withColumn(PosCol, col("_metadata.row_index"))
            .join(pairs.select(col("file").as(FileCol),
              col("pos").as(PosCol)), Seq(FileCol, PosCol), "left_semi")
            .drop(FileCol, PosCol)
          // pin the matched key set: unpinned, the feed union below
          // executes `pre` (a full lake scan + pair join) once for the
          // pre-image branch and AGAIN inside each of the two key
          // joins — three lake scans in one write. Pinned, the lake is
          // scanned once here and once in the union.
          val matchedKeys = pre.select(keys.map(col): _*).distinct()
            .localCheckpoint()
          ChangeDataFeed.writeChanges(spark, lakeDir, id, g,
            pre.withColumn(ct, lit("update_preimage"))
              .unionByName(updates0
                .join(matchedKeys, keys, "left_semi")
                .withColumn(ct, lit("update_postimage")),
                allowMissingColumns = true)
              .unionByName(updates0
                .join(matchedKeys, keys, "left_anti")
                .withColumn(ct, lit("insert")),
                allowMissingColumns = true))
          Some(g)
        }
      CommitLog.commitMutationCheckpoint(fs, lakeDir, id,
        committed ++ delta,
        dvNames = coveredDvFiles(fs, lakeDir) ++ newDv,
        added = delta, gen = gen)
      CommitLog.vacuum(fs, lakeDir, olderThanMs = 0L)
      // keep a stats index consistent with the new version: delta
      // files footer-read in, nothing else moved (metadata-scale)
      indexDir.foreach(idx =>
        StatsIndex.refreshSameColumns(spark, lakeDir, idx))
      (matched, appended)
    }
  }

  /** The FULL `MERGE INTO` clause grammar
    * ([[MergeInto.mergeClauses]] — conditional matched UPDATE/DELETE,
    * conditional NOT MATCHED INSERT, NOT MATCHED BY SOURCE
    * UPDATE/DELETE) executed MERGE-ON-READ: a claimed live row is
    * DV-marked instead of rewritten — an UPDATE clause's rows
    * additionally append their post-SET images to target-sized delta
    * files, a DELETE clause's rows just die, inserts append — and ONE
    * mutation checkpoint flips delta files and vector coverage
    * together. The cost a sparse conditional merge should pay at
    * 100 TB: one column-pruned clause-evaluation pass over the live
    * view plus O(claimed + inserted rows) of writes, never O(touched
    * file bytes). Clause semantics, expression contexts (`t.`/`s.`
    * SQL over PHYSICAL names) and validations are exactly
    * [[MergeInto.mergeClauses]]'s; rows already MoR-deleted are never
    * claimed (the live view is the input). Feed-enabled lakes get the
    * same change images as the CoW verb. Returns
    * (rowsMarked, rowsAppended); (0, 0) publishes nothing. */
  def mergeClausesMor(spark: SparkSession, lakeDir: String,
      source0: DataFrame, keys0: Seq[String],
      matched: Seq[MergeInto.MatchedClause] = Nil,
      notMatched: Seq[MergeInto.NotMatchedInsert] = Nil,
      notMatchedBySource: Seq[MergeInto.BySourceClause] = Nil,
      indexDir: Option[String] = None,
      targetRowsPerDelta: Long = 1L << 20): (Long, Long) = {
    require(targetRowsPerDelta > 0, "targetRowsPerDelta must be positive")
    val fs = new Path(lakeDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(new Path(CommitLog.logDir(lakeDir))),
      s"mergeClausesMor: $lakeDir has no commit log — cannot publish " +
        "atomically")
    val prepare = clausesMorPrepare(spark, lakeDir, source0, keys0,
      matched, notMatched, notMatchedBySource, "mergeClausesMor")
    CommitLog.withWriterLock(fs, lakeDir) {
      sweepUncovered(fs, lakeDir)
      val committed = CommitLog.committedNames(fs, lakeDir).toSeq.sorted
      require(committed.nonEmpty,
        s"mergeClausesMor: no committed files in $lakeDir — ingest first")
      val lake = FileMemo.readFiles(spark, lakeDir, committed,
        mergeSchema = true)
      val prep = prepare(lake, vectors(spark, lakeDir))
      if (prep.nMarked == 0 && prep.appended == 0) (0L, 0L)
      else {
        val newDv =
          if (prep.nMarked == 0) Seq.empty
          else writePairs(fs, lakeDir, prep.pairs)
        val delta =
          if (prep.appended == 0) Seq.empty[String]
          else {
            val nDelta = math.max(1L,
              (prep.appended + targetRowsPerDelta - 1) /
                targetRowsPerDelta).toInt
            val before = CommitLog.dataFileNames(fs, lakeDir)
            prep.delta0.get.repartition(nDelta).write.mode("append")
              .parquet(lakeDir)
            (CommitLog.dataFileNames(fs, lakeDir) -- before).toSeq.sorted
          }
        Constraints.validateFiles(spark, lakeDir, delta)
        GeneratedColumns.validateFiles(spark, lakeDir, delta)
        val id = math.max(CommitLog.maxCommittedId(fs, lakeDir), -1L)
        // change feed: pre-images ride the prepared pass — no second
        // lake scan, same images as the CoW clause verb
        val gen =
          if (!ChangeDataFeed.isEnabled(fs, lakeDir)) None
          else {
            val g = CommitLog.nextGen(fs, lakeDir)
            ChangeDataFeed.writeChanges(spark, lakeDir, id, g,
              clausesMorChanges(lake, prep))
            Some(g)
          }
        CommitLog.commitMutationCheckpoint(fs, lakeDir, id,
          committed ++ delta,
          dvNames = coveredDvFiles(fs, lakeDir) ++ newDv,
          added = delta, gen = gen)
        indexDir.foreach(idx =>
          StatsIndex.refreshSameColumns(spark, lakeDir, idx))
        (prep.nMarked, prep.appended)
      }
    }
  }

  /** Everything a MoR clause merge's PREPARE pass produced: the
    * materialized claimed-row frame (positions + claiming clause +
    * post-SET rows + `__pre_*` images), the DV pairs, the post-image
    * and insert frames, their counts, and the clause-index sets the
    * change-feed projection needs. */
  private[sources] final case class ClausesMorPrep(
      prepared: DataFrame, nMarked: Long, pairs: DataFrame,
      updated: Option[DataFrame], inserts: Option[DataFrame],
      delta0: Option[DataFrame], appended: Long,
      deleteIdxs: Seq[Int], updateIdxs: Seq[Int])

  /** The MoR clause-grammar PREPARE stage, shared verbatim by
    * [[mergeClausesMor]] (runs it under the writer lock against the
    * CURRENT vectors) and [[Occ.mergeClausesMor]] (runs it UNLOCKED
    * against a PINNED snapshot's vectors): validates the source and
    * clause shape once, then returns `(lake, liveVectors) =>`
    * [[ClausesMorPrep]]. One implementation, two publication
    * disciplines, so the clause semantics cannot drift between them. */
  private[sources] def clausesMorPrepare(spark: SparkSession,
      lakeDir: String, source0: DataFrame, keys0: Seq[String],
      matched: Seq[MergeInto.MatchedClause],
      notMatched: Seq[MergeInto.NotMatchedInsert],
      notMatchedBySource: Seq[MergeInto.BySourceClause],
      verb: String)
      : (DataFrame, Option[Vectors]) => ClausesMorPrep = {
    import MergeInto.{BySourceDelete, BySourceUpdate, MatchedDelete,
      MatchedUpdate}
    MergeInto.requireClauseShape(matched, notMatched, notMatchedBySource,
      verb)
    val fs = new Path(lakeDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val keys = keys0.map(ColumnMapping.mapping(fs, lakeDir).physicalOf)
    val physical = ColumnMapping.toPhysical(spark, lakeDir, source0)
    require(!physical.columns.contains("__m") &&
      !physical.columns.contains("__c"),
      s"$verb: source columns __m/__c collide with merge markers")
    requireNoClash(physical, verb)
    val missingKeys = keys.toSet -- physical.columns.toSet
    require(missingKeys.isEmpty, s"$verb: source lacks key " +
      s"columns ${missingKeys.toSeq.sorted.mkString(", ")}")
    val source = UpdateBatch.pin(physical, keys, verb).rows
    val allSets = (matched.collect { case MatchedUpdate(s, _) => s } ++
      notMatchedBySource.collect { case BySourceUpdate(s, _) => s })
      .flatMap(_.keySet).toSet
    val insertAssigned = notMatched.flatMap(_.values.keySet).toSet
    GeneratedColumns.requireNoGeneratedSet(spark, lakeDir,
      allSets ++ insertAssigned, verb)
    (lake: DataFrame, vecs: Option[Vectors]) => {
      requireNoClash(lake, verb)
      val lakeCols = lake.columns.toSet
      val unknown = (allSets ++ insertAssigned) -- lakeCols
      require(unknown.isEmpty, s"$verb: SET/VALUES name " +
        s"unknown columns ${unknown.toSeq.sorted.mkString(", ")}")
      val genCols = GeneratedColumns.list(fs, lakeDir).map(_._1).toSet
      notMatched.filter(_.values.isEmpty).foreach { _ =>
        val need = lakeCols -- genCols -- source.columns.toSet
        require(need.isEmpty, s"$verb: INSERT * needs source " +
          s"columns ${need.toSeq.sorted.mkString(", ")} (or assign " +
          "them explicitly)")
      }
      // the LIVE view with positions — dead rows are never claimed
      val positioned = lake
        .withColumn(FileCol, fileNameCol)
        .withColumn(PosCol, col("_metadata.row_index"))
      val live = vecs.fold(positioned)(_.dropDead(positioned, FileCol, PosCol))
      // first-claiming-clause index, exactly the CoW verb's chain
      val joined = live.alias("t")
        .join(source.withColumn("__m", lit(true)).alias("s"),
          keys.map(k => col(s"t.$k") === col(s"s.$k")).reduce(_ && _),
          "left")
      val isM = coalesce(col("s.__m"), lit(false))
      val matchedIdx = matched.zipWithIndex
      val bySourceIdx = notMatchedBySource.zipWithIndex
        .map { case (c, j) => (c, 1000 + j) }
      val deleteIdxs = (matchedIdx.collect {
        case (MatchedDelete(_), i) => i
      } ++ bySourceIdx.collect { case (BySourceDelete(_), j) => j })
      val setsByIdx: Seq[(Int, Map[String, String])] =
        matchedIdx.collect { case (MatchedUpdate(s, _), i) => (i, s) } ++
          bySourceIdx.collect { case (BySourceUpdate(s, _), j) => (j, s) }
      val updateIdxs = setsByIdx.map(_._1)
      val clauseIdx =
        (matchedIdx.map { case (c, i) =>
          (isM && MergeInto.holdsCond(c.condition), i) } ++
          bySourceIdx.map { case (c, j) =>
            (!isM && MergeInto.holdsCond(c.condition), j) })
          .foldRight(lit(-1): Column) { case ((cond, i), acc) =>
            when(cond, lit(i)).otherwise(acc)
          }
      // post-SET projections keyed on the clause index; pre-images
      // carried beside them (`__pre_*`) so the change feed never needs
      // a second lake pass
      val values = lake.schema.fields.map { f =>
        setsByIdx.foldRight(col(s"t.${f.name}")) {
          case ((i, set), acc) => set.get(f.name) match {
            case Some(e) =>
              when(col("__c") === i, expr(e).cast(f.dataType))
                .otherwise(acc)
            case None => acc
          }
        }.as(f.name)
      }.toIndexedSeq
      val preCols = lake.schema.fields
        .map(f => col(s"t.${f.name}").as(s"__pre_${f.name}")).toIndexedSeq
      // ONE materialized pass holds everything downstream needs:
      // positions (the DV pairs), the claiming clause, post-SET rows,
      // pre-images
      val (prepared, nMarked) = Pins.pinCounted(
        joined.withColumn("__c", clauseIdx)
          .filter(col("__c") >= 0)
          .select(Seq(col(FileCol), col(PosCol), col("__c")) ++
            values ++ preCols: _*))
      val pairs = prepared
        .select(col(FileCol).as("file"), col(PosCol).as("pos"))
      val updated =
        if (updateIdxs.isEmpty) None
        else Some(GeneratedColumns.recompute(spark, lakeDir,
          prepared.filter(col("__c").isin(updateIdxs.map(Int.box): _*))
            .select(lake.schema.fieldNames.map(col).toIndexedSeq: _*)))
      // insert split: a source key with ANY live match (claimed or
      // not) never inserts; dead-key-only matches correctly do
      val inserts: Option[DataFrame] =
        if (notMatched.isEmpty) None
        else {
          val matchedKeys = source.select(keys.map(col): _*).distinct()
            .join(live.select(keys.map(col): _*), keys, "left_semi")
          val unmatched = source.join(matchedKeys, keys, "left_anti")
            .alias("s")
          val insIdx = notMatched.zipWithIndex
            .foldRight(lit(-1): Column) { case ((c, i), acc) =>
              when(MergeInto.holdsCond(c.condition), lit(i))
                .otherwise(acc)
            }
          val insValues = lake.schema.fields.map { f =>
            notMatched.zipWithIndex.foldRight(
                lit(null).cast(f.dataType): Column) {
              case ((c, i), acc) =>
                val v =
                  if (c.values.isEmpty) {
                    if (genCols(f.name) &&
                        !unmatched.columns.contains(f.name))
                      lit(null).cast(f.dataType)
                    else col(s"s.${f.name}").cast(f.dataType)
                  } else c.values.get(f.name)
                    .map(e => expr(e).cast(f.dataType))
                    .getOrElse(lit(null).cast(f.dataType))
                when(col("__c") === i, v).otherwise(acc)
            }.as(f.name)
          }
          Some(GeneratedColumns.fill(spark, lakeDir,
            GeneratedColumns.recompute(spark, lakeDir,
              unmatched.withColumn("__c", insIdx)
                .filter(col("__c") >= 0)
                .select(insValues.toIndexedSeq: _*)))
            .localCheckpoint())
        }
      val delta0 = (updated, inserts) match {
        case (Some(u), Some(i)) => Some(u.unionByName(i))
        case (u, i) => u.orElse(i)
      }
      val appended = delta0.map(_.count()).getOrElse(0L)
      ClausesMorPrep(prepared, nMarked, pairs, updated, inserts,
        delta0, appended, deleteIdxs, updateIdxs)
    }
  }

  /** The change-feed frame for a prepared MoR clause merge: deletes
    * and update pre-images project from the `__pre_*` columns the
    * prepare pass carried (no second lake scan), post-images and
    * inserts ride as built — identical images to the CoW clause
    * verb's. */
  private[sources] def clausesMorChanges(lake: DataFrame,
      prep: ClausesMorPrep): DataFrame = {
    val ct = ChangeDataFeed.ChangeTypeCol
    def pre(idxs: Seq[Int], tag: String): Option[DataFrame] =
      if (idxs.isEmpty) None
      else Some(prep.prepared
        .filter(col("__c").isin(idxs.map(Int.box): _*))
        .select(lake.schema.fieldNames
          .map(n => col(s"__pre_$n").as(n)).toIndexedSeq: _*)
        .withColumn(ct, lit(tag)))
    val segs =
      pre(prep.deleteIdxs, "delete").toSeq ++
        pre(prep.updateIdxs, "update_preimage").toSeq ++
        prep.updated.map(_.withColumn(ct, lit("update_postimage"))) ++
        prep.inserts.map(_.withColumn(ct, lit("insert")))
    if (segs.isEmpty) lake.limit(0).withColumn(ct, lit("")).limit(0)
    else segs.reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** Merge-on-read UPDATE: `SET col = <sql-expr>` for every LIVE
    * committed row matching `predicate` — old positions land in the
    * `_dv` sidecar, the post-SET rows land in target-sized appended
    * delta files (one for sparse churn, ⌈n / targetRowsPerDelta⌉
    * parallel tasks for a bulk UPDATE), ONE mutation checkpoint flips
    * both. Assignments are
    * evaluated against the PRE-update row and cast back to the
    * column's type (standard UPDATE semantics, as
    * [[MergeInto.update]]). Rows already MoR-deleted are NOT updated
    * — the update applies to the live view, never resurrects.
    * `impliedRanges` is the same caller-asserted discovery hint as
    * [[MergeInto.delete]]'s (predicate ⇒ ranges), shrinking the
    * matched-row scan to the index's candidate files. Returns the
    * number of rows updated. */
  def updateMor(spark: SparkSession, lakeDir: String, predicate: String,
      set: Map[String, String],
      indexDir: Option[String] = None,
      impliedRanges: Seq[StatsIndex.ColRange] = Nil,
      targetRowsPerDelta: Long = 1L << 20): Long = {
    require(set.nonEmpty, "updateMor needs at least one SET assignment")
    require(targetRowsPerDelta > 0, "targetRowsPerDelta must be positive")
    val fs = new Path(lakeDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    GeneratedColumns.requireNoGeneratedSet(spark, lakeDir,
      set.keySet, "updateMor")
    require(fs.exists(new Path(CommitLog.logDir(lakeDir))),
      s"updateMor: $lakeDir has no commit log — cannot publish atomically")
    CommitLog.withWriterLock(fs, lakeDir) {
      sweepUncovered(fs, lakeDir)
      val committed = CommitLog.committedNames(fs, lakeDir).toSeq.sorted
      require(committed.nonEmpty,
        s"updateMor: no committed files in $lakeDir — ingest first")
      val lake = FileMemo.readFiles(spark, lakeDir, committed,
        mergeSchema = true)
      requireNoClash(lake, "updateMor")
      val unknown = set.keySet -- lake.columns.toSet
      require(unknown.isEmpty,
        s"updateMor: SET names unknown columns ${unknown.toSeq.sorted
          .mkString(", ")}")
      // candidate subsets read with the LAKE's union schema pinned: a
      // pruned set of pre-evolution files still resolves an evolved
      // column (as NULL) instead of failing the SET projection
      val base = MergeInto.rangeCandidateFiles(spark, committed,
          indexDir, impliedRanges) match {
        case Some(Seq()) => lake.limit(0)
        case Some(cand) => FileMemo.readSubset(spark, lake, cand)
        case None => lake
      }
      // matched LIVE rows, with their positions attached: applying the
      // covered vectors BEFORE the predicate keeps dead rows out
      val positioned = base
        .withColumn(FileCol, fileNameCol)
        .withColumn(PosCol, col("_metadata.row_index"))
      val live = vectors(spark, lakeDir)
        .fold(positioned)(_.dropDead(positioned, FileCol, PosCol))
      val (matched, n) = Pins.pinCounted(live
        .filter(coalesce(expr(predicate), lit(false))))
      if (n > 0) {
        val pairs = matched
          .select(col(FileCol).as("file"), col(PosCol).as("pos"))
        // generated columns RECOMPUTE over the post-SET row
        val updated = GeneratedColumns.recompute(spark, lakeDir,
          matched.select(lake.schema.fields.map { f =>
            set.get(f.name) match {
              case Some(e) => expr(e).cast(f.dataType).as(f.name)
              case None => col(f.name)
            }
          }.toIndexedSeq: _*))
        val newDv = writePairs(fs, lakeDir, pairs)
        // target-sized delta files, same contract as mergeMor: a
        // churn-scale update keeps one file; a large predicate UPDATE
        // writes ⌈n / target⌉ files in parallel tasks (n = matched is
        // already counted off the checkpointed positions)
        val nDelta = math.max(1L,
          (n + targetRowsPerDelta - 1) / targetRowsPerDelta).toInt
        val before = CommitLog.dataFileNames(fs, lakeDir)
        updated.repartition(nDelta).write.mode("append").parquet(lakeDir)
        val delta =
          (CommitLog.dataFileNames(fs, lakeDir) -- before).toSeq.sorted
        // same pre-publish CHECK gate as mergeMor: post-SET rows must
        // still satisfy every constraint or nothing publishes
        Constraints.validateFiles(spark, lakeDir, delta)
        GeneratedColumns.validateFiles(spark, lakeDir, delta)
        val id = math.max(CommitLog.maxCommittedId(fs, lakeDir), -1L)
        // change feed: `matched` is already the checkpointed full
        // pre-SET rows, `updated` their post-SET projection — no
        // extra lake pass at all for a MoR update
        val gen =
          if (!ChangeDataFeed.isEnabled(fs, lakeDir)) None
          else {
            val ct = ChangeDataFeed.ChangeTypeCol
            val g = CommitLog.nextGen(fs, lakeDir)
            ChangeDataFeed.writeChanges(spark, lakeDir, id, g,
              matched.select(lake.schema.fieldNames.map(col)
                  .toIndexedSeq: _*)
                .withColumn(ct, lit("update_preimage"))
                .unionByName(
                  updated.withColumn(ct, lit("update_postimage"))))
            Some(g)
          }
        CommitLog.commitMutationCheckpoint(fs, lakeDir, id,
          committed ++ delta,
          dvNames = coveredDvFiles(fs, lakeDir) ++ newDv,
          added = delta, gen = gen)
        CommitLog.vacuum(fs, lakeDir, olderThanMs = 0L)
        indexDir.foreach(idx =>
          StatsIndex.refreshSameColumns(spark, lakeDir, idx))
      }
      n
    }
  }

  /** The covered vectors read from an ALREADY-RESOLVED name set —
    * the lock-free read paths resolve files and vectors from ONE
    * [[CommitLog.committedView]] call so a concurrent mutation can
    * never tear the pair (version N's files with version N+1's
    * vectors would make replaced rows vanish with no replacement
    * visible). */
  private[sources] def vectorsFor(spark: SparkSession, lakeDir: String,
      covered: Set[String]): Option[Vectors] =
    if (covered.isEmpty) None
    else Some(FileMemo.vectorsFor(spark, lakeDir, covered.toSeq.sorted))

  /** [[readMor]] PINNED at a captured [[MorCursor]] — both name sets
    * are write-once, so the read serves exactly the cursor version's
    * rows however the lake has moved since (a later physical rewrite
    * that deleted a pinned file fails the read loudly, never serves
    * wrong rows). The consistent-aggregate primitive incremental
    * consumers build on. */
  def readMorAt(spark: SparkSession, lakeDir: String,
      at: MorCursor, mergeSchema: Boolean = false): DataFrame = {
    require(at.files.nonEmpty, s"readMorAt: empty cursor for $lakeDir")
    val base = FileMemo.readFiles(spark, lakeDir, at.files.toSeq.sorted,
      mergeSchema)
    applyVectors(base, vectorsFor(spark, lakeDir, at.dvFiles))
  }

  /** The committed view MINUS the covered vectors — ONE scan whose
    * rows pass a filter on `(file name, row position)` against the
    * broadcast vector set (an anti-join above the broadcast bound).
    * With no covered vectors this is exactly the plain committed read.
    * Files and vectors come from one atomic log resolution; the schema
    * and the vector set come from [[FileMemo]], so building the frame
    * runs no Spark job once the memo holds this version's files (the
    * writer of a sidecar seeds it, a first read fills it), and its
    * action runs the plain read's jobs only. */
  def readMor(spark: SparkSession, lakeDir: String,
      mergeSchema: Boolean = false): DataFrame = {
    val fs = new Path(lakeDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val (files, covered) = CommitLog.committedView(fs, lakeDir)
    val committed = files.toSeq.sorted
    require(committed.nonEmpty, s"readMor: no committed files in $lakeDir")
    val base = FileMemo.readFiles(spark, lakeDir, committed, mergeSchema)
    // column mapping last: physical names scan, logical names out
    ColumnMapping.toLogical(spark, lakeDir,
      applyVectors(base, vectorsFor(spark, lakeDir, covered)))
  }

  /** [[readMor]] with FILE-LEVEL SKIPPING: the committed ∩
    * index-pruned file list is scanned with the exact predicate
    * re-applied (the [[StatsIndex]] contract), then the vectors
    * apply as in [[readMor]] — so a selective probe over a DV'd
    * 100 TB lake reads a handful of files AND never sees a deleted
    * row. The index stays valid under vectors: MoR mutations change
    * no indexed file's rows in place (deltas are indexed on refresh),
    * and the per-file bounds remain conservative (a deleted row can
    * only widen them — pruning never loses a live row). A STALE index
    * (file set ≠ committed view — e.g. a mergeMor delta the index has
    * not refreshed over) is never trusted: pruning through it would
    * silently drop the delta's rows while still applying the vectors
    * that killed their predecessors, so the read falls back to the
    * full committed scan with the exact predicate — correct, just not
    * accelerated (the same stale-index rule every DML discovery path
    * follows). */
  def readMorPruned(spark: SparkSession, lakeDir: String,
      indexDir: String, ranges: Seq[StatsIndex.ColRange]): DataFrame = {
    require(ranges.nonEmpty, "readMorPruned needs at least one range")
    val fs = new Path(lakeDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val (committed, covered) = CommitLog.committedView(fs, lakeDir)
    val pred = ranges.map(_.predicate).reduce(_ && _)
    val current = StatsIndex.indexedFiles(spark, indexDir)
      .map(p => new Path(p).getName).toSet == committed
    val scanned: Seq[String] =
      if (!current) committed.toSeq.sorted
      else StatsIndex.prunedTyped(spark, indexDir, ranges)
        .map(p => new Path(p).getName).filter(committed.contains).sorted
    val base =
      if (scanned.isEmpty) FileMemo.readFiles(spark, lakeDir,
        committed.toSeq.sorted).filter(pred).limit(0)
      else FileMemo.readFiles(spark, lakeDir, scanned).filter(pred)
    applyVectors(base, vectorsFor(spark, lakeDir, covered))
  }

  /** STREAMING read of a DV'd lake — the micro-batched REPLAY of one
    * table version (the backfill/bootstrap shape: drive a pipeline
    * over the current lake state batch by batch). Semantics are
    * SNAPSHOT-AT-START, pinned by `DeletionVectorsSpec`: the committed
    * file set and the covered vectors are both resolved when the
    * stream is constructed; rows from files appended later are
    * filtered out, vectors recorded later are not applied, and
    * uncommitted orphans are never served. For a LIVE tailing stream
    * over a mutating lake, restart from a fresh snapshot — the same
    * contract as [[CommitLog.changedNames]]'s resync rule (Delta's
    * streaming source likewise refuses to tail across a mutation).
    *
    * Shape: one file-stream scan (`maxFilesPerTrigger` bounds each
    * micro-batch) + one broadcast semi-join on the committed-name
    * snapshot + the vector snapshot's row filter (a broadcast
    * anti-join above the broadcast bound) — metadata-bounded state,
    * no shuffle. */
  def readMorStream(spark: SparkSession, lakeDir: String,
      maxFilesPerTrigger: Int = 4): DataFrame = {
    import spark.implicits._
    val fs = new Path(lakeDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(new Path(CommitLog.logDir(lakeDir))),
      s"readMorStream: $lakeDir has no commit log — a raw directory " +
        "stream would serve uncommitted orphans")
    // one atomic log resolution: the snapshot's files and vectors are
    // a consistent pair even against a concurrent mutation
    val (files, covered) = CommitLog.committedView(fs, lakeDir)
    val committed = files.toSeq.sorted
    require(committed.nonEmpty,
      s"readMorStream: no committed files in $lakeDir")
    val resolved = CommitLog.resolveDataPaths(fs, lakeDir, committed)
    // union schema: an evolved lake mixes physical schemas and the
    // stream must see every column deterministically
    val schema = FileMemo.readFiles(spark, lakeDir, committed,
      mergeSchema = true).schema
    require(!schema.fieldNames.contains(FileCol) &&
      !schema.fieldNames.contains(PosCol),
      s"readMorStream: the schema carries a reserved column name " +
        s"($FileCol/$PosCol) — rename it")
    // Spark's file stream source watches ONE directory, but a shallow
    // clone's committed view spans its whole clone-source CHAIN (r10:
    // r9 refused clones outright). Group the RESOLVED paths by parent
    // directory and union one pinned file stream per hop: each hop's
    // stream is semi-joined against exactly the names that resolve
    // THERE — a same-named file at another hop (local-wins shadowing)
    // can never leak in, later appends to any hop are excluded by the
    // pinned name sets, and a plain lake degenerates to the historical
    // single-directory plan.
    val byDir: Seq[(String, Seq[String])] = committed.zip(resolved)
      .map { case (n, p) => (new Path(p).getParent.toString, n) }
      .groupBy(_._1).view.mapValues(_.map(_._2)).toSeq.sortBy(_._1)
    // vector snapshot: the covered files BY NAME, so later sidecar
    // files can never join in (static file lists are pinned)
    val dvSnap = vectorsFor(spark, lakeDir, covered).map(_.hinted)
    val stream = byDir.map { case (dir, names) =>
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", maxFilesPerTrigger.toString)
        .parquet(dir)
        .withColumn(FileCol, fileNameCol)
        .withColumn(PosCol, col("_metadata.row_index"))
        .join(broadcast(names.toDF(FileCol)), Seq(FileCol), "left_semi")
    }.reduce(_ unionByName _)
    dvSnap.fold(stream)(_.dropDead(stream, FileCol, PosCol))
      .drop(FileCol, PosCol)
  }

  /** Thrown by [[readMorChanges]]'s SOUNDNESS guards when a physical
    * rewrite has invalidated a cursor (committed files retired or
    * sidecar coverage lost) — the "resync with a full read" signal.
    * A dedicated type, so consumers ([[IncrementalView.refresh]]'s
    * full-rebuild degradation) catch EXACTLY cursor invalidation and
    * never mistake an unrelated argument error (or a reworded guard
    * message) for it. Extends IllegalArgumentException to preserve
    * the guards' historical class for callers matching broadly. */
  final class CursorInvalidatedException(msg: String)
    extends IllegalArgumentException(msg)

  /** A row-level CDC cursor over a merge-on-read lake: the committed
    * data-file names and the covered sidecar names of ONE atomically
    * resolved version ([[CommitLog.committedView]]). Both sets name
    * WRITE-ONCE files, so the pair pins the version's exact row
    * content in O(names) bytes — no data is copied. Capture it before
    * a window of mutations; feed it to [[readMorChanges]] after. */
  final case class MorCursor(files: Set[String], dvFiles: Set[String])

  /** Capture the current version as a [[MorCursor]]. */
  def cursor(spark: SparkSession, lakeDir: String): MorCursor = {
    val fs = new Path(lakeDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val (files, dv) = CommitLog.committedView(fs, lakeDir)
    MorCursor(files, dv)
  }

  /** The version AS PUBLISHED at batch `asOf` as a [[MorCursor]] —
    * [[CommitLog.committedViewAt]]'s (files, vectors) pair, which
    * since r10 resolves ACROSS later DML mutations (their records
    * sweep nothing) and fails loudly only past a truncating fold or
    * reclaimed bytes. */
  def cursorAt(spark: SparkSession, lakeDir: String,
      asOf: Long): MorCursor = {
    val fs = new Path(lakeDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val (files, dv) = CommitLog.committedViewAt(fs, lakeDir, asOf)
    MorCursor(files, dv)
  }

  /** TIME TRAVEL over a merge-on-read lake: [[readMor]] of the version
    * AS PUBLISHED at batch `asOf` — files AND the deletion vectors
    * that version covered, so a DV-carrying history is as readable as
    * a plain one (the read [[CommitLog.committedNamesAt]] cannot serve
    * as a bare file list). An audit query against "the table before
    * yesterday's backfill" is exactly this: backfills are DML, and the
    * versioned log reaches across them. */
  def readMorAsOf(spark: SparkSession, lakeDir: String, asOf: Long,
      mergeSchema: Boolean = false): DataFrame =
    readMorAt(spark, lakeDir, cursorAt(spark, lakeDir, asOf), mergeSchema)

  /** [[readMorAsOf]] addressed by WALL CLOCK (Delta's TIMESTAMP AS
    * OF): the newest version published at-or-before `tsMs`, vectors
    * applied, current column map applied — loud below the oldest live
    * record and past reclaimed bytes
    * ([[CommitLog.committedViewAtTime]]'s guards). */
  def readMorAtTime(spark: SparkSession, lakeDir: String, tsMs: Long,
      mergeSchema: Boolean = false): DataFrame = {
    val fs = new Path(lakeDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val ((files, dv), _) = CommitLog.committedViewAtTime(fs, lakeDir, tsMs)
    ColumnMapping.toLogical(spark, lakeDir,
      readMorAt(spark, lakeDir, MorCursor(files, dv), mergeSchema))
  }

  /** ROW-LEVEL CHANGE FEED through merge-on-read mutations — the CDC
    * the add-only file contract ([[CommitLog.changedNames]]) cannot
    * express: a CoW mutation forces its consumers into a full resync,
    * but MoR mutations ALREADY record their row-level delta (dead
    * positions in new sidecar files, replacement rows in new delta
    * files), so the feed is served from exactly that.
    *
    * Returns the NET row delta from `from` to the current version,
    * with a `_change_type` column:
    *  - `delete` — a row the cursor version SERVED whose position died
    *    since (its OLD values, fetched by a position join against only
    *    the files new pairs name — bounded by touched files);
    *  - `insert` — a row of a file added since the cursor that is LIVE
    *    at the head version.
    * An updateMor/mergeMor update therefore emits delete(old) +
    * insert(new) — Delta CDF's preimage/postimage, net. A row born
    * AND dead inside the window emits nothing (its pairs name a
    * non-cursor file; the head anti-join drops it from inserts) — net
    * semantics, deliberately: the consumer never saw it.
    *
    * SOUNDNESS GUARD: valid only while every cursor-era file is still
    * committed and every cursor-era sidecar still covered — appends
    * and MoR mutations never retire either, while every physical
    * rewrite (CoW DML, OPTIMIZE, compactSmall, [[compact]]) does, and
    * a rewrite re-publishes rows the consumer already holds (a file
    * diff would mis-read it as churn). The guard FAILS FAST then —
    * full resync, re-capture the cursor — the same horizon contract
    * as the file-level CDC. New sidecar files hold only
    * genuinely-new dead pairs (every MoR writer anti-joins the
    * covered vectors before writing), so pairs are never double-
    * reported. Replays are idempotent: the feed is a pure function of
    * (cursor, current log state). */
  def readMorChanges(spark: SparkSession, lakeDir: String,
      from: MorCursor, mergeSchema: Boolean = false,
      to: Option[MorCursor] = None): DataFrame = {
    val fs = new Path(lakeDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // `to` pins the window's upper version (an incremental consumer
    // captures it FIRST, so a mutation racing the read can never land
    // inside the window it is about to mark consumed); default = the
    // current version
    val (filesH, dvH) = to.map(c => (c.files, c.dvFiles))
      .getOrElse(CommitLog.committedView(fs, lakeDir))
    if (!from.files.subsetOf(filesH))
      throw new CursorInvalidatedException(
        s"readMorChanges: committed files from the cursor version were " +
          s"rewritten (${(from.files -- filesH).toSeq.sorted.take(3)
            .mkString(", ")} …) — a physical rewrite (CoW DML, OPTIMIZE, " +
          "compaction) breaks row-level change tracking; resync with a " +
          "full read and re-capture the cursor")
    if (!from.dvFiles.subsetOf(dvH))
      throw new CursorInvalidatedException(
        "readMorChanges: sidecar files from the cursor version lost " +
          "coverage (a compaction applied them) — resync with a full " +
          "read and re-capture the cursor")
    val committedH = filesH.toSeq.sorted
    require(committedH.nonEmpty,
      s"readMorChanges: no committed files in $lakeDir")
    val schemaFrame = FileMemo.readFiles(spark, lakeDir, committedH,
      mergeSchema)
    requireNoClash(schemaFrame, "readMorChanges")
    val none = schemaFrame.limit(0)
      .withColumn("_change_type", lit(null).cast("string"))
    val newFiles = (filesH -- from.files).toSeq.sorted
    val newDvFiles = (dvH -- from.dvFiles).toSeq.sorted
    // inserts: rows of the window's new files, minus positions dead at
    // head (pairs naming cursor-era files never match them)
    val inserts =
      if (newFiles.isEmpty) none
      else applyVectors(
        FileMemo.readSubset(spark, schemaFrame, newFiles),
        vectorsFor(spark, lakeDir, dvH))
        .withColumn("_change_type", lit("insert"))
    // deletes: the window's new pairs restricted to cursor-era files,
    // joined back by position for the old values
    val deletes =
      if (newDvFiles.isEmpty) none
      else {
        val newPairs = FileMemo.vectorsFor(spark, lakeDir, newDvFiles)
        val touched = newPairs.files.filter(from.files)
        if (touched.isEmpty) none
        else newPairs.hinted.keepDead(
            FileMemo.readSubset(spark, schemaFrame, touched)
              .withColumn(FileCol, fileNameCol)
              .withColumn(PosCol, col("_metadata.row_index")),
            FileCol, PosCol)
          .drop(FileCol, PosCol)
          .withColumn("_change_type", lit("delete"))
      }
    inserts.unionByName(deletes)
  }

  /** Apply the vectors physically: rewrite ONLY the files that carry
    * DV rows (each minus its deleted positions), carry everything
    * else by name, publish one mutation checkpoint WITHOUT dv entries
    * (coverage ends atomically with it), drop `_dv`, sweep the
    * replaced files — the lake is plain files again and every
    * CoW/OPTIMIZE path unblocks. Bounded by the DV'd file set, not
    * the lake. Returns (filesRewritten, filesCarried). */
  def compact(spark: SparkSession, lakeDir: String,
      filesPerRewrite: Int = 4,
      indexDir: Option[String] = None): (Int, Int) = {
    val fs = new Path(lakeDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(new Path(CommitLog.logDir(lakeDir))),
      s"compact: $lakeDir has no commit log — cannot publish atomically")
    CommitLog.withWriterLock(fs, lakeDir) {
      val committed = CommitLog.committedNames(fs, lakeDir).toSeq.sorted
      val dvOpt = vectors(spark, lakeDir)
      val touched: Seq[String] =
        dvOpt.fold(Seq.empty[String])(_.files.filter(committed.toSet))
      if (touched.isEmpty) {
        // no visible vectors (possibly uncovered debris, or vectors
        // referencing swept files). If the LOG still covers sidecar
        // names, clear the coverage BEFORE deleting the files: a
        // covered-but-deleted sidecar would fail every later
        // vectors()/readMor call on a missing parquet path. Pairs
        // naming only non-committed files have zero visible effect
        // (the anti-join never matches a served row), so the clearing
        // record is view-preserving. Published as a MUTATION
        // checkpoint — not because rows changed (they did not) but
        // because a mutation record never sweeps the records below
        // it, so time travel/restore reach under this id survives;
        // a plain checkpoint here would read as a truncating fold. */
        if (CommitLog.coveredDvNames(fs, lakeDir).nonEmpty) {
          val id = math.max(CommitLog.maxCommittedId(fs, lakeDir), -1L)
          // row-preserving: an empty change-feed stamp, never a gap
          val gen =
            if (!ChangeDataFeed.isEnabled(fs, lakeDir)) None
            else {
              val g = CommitLog.nextGen(fs, lakeDir)
              ChangeDataFeed.writeEmpty(spark, lakeDir, id, g)
              Some(g)
            }
          CommitLog.commitMutationCheckpoint(fs, lakeDir, id, committed,
            gen = gen)
        }
        fs.delete(new Path(dvDir(lakeDir)), true)
        (0, committed.size)
      } else {
        val dv = dvOpt.get
        // mergeSchema: a touched set can mix physical schemas (an old
        // file and an additively-evolved delta both carrying vectors)
        // — a single-schema read would silently drop the evolved
        // column from the rewritten survivors
        val base = FileMemo.readFiles(spark, lakeDir, touched,
          mergeSchema = true)
        requireNoClash(base, "compact")
        val survivors = applyVectors(base, Some(dv))
        val carried = committed.filterNot(touched.toSet)
        val before = CommitLog.dataFileNames(fs, lakeDir)
        survivors.repartition(filesPerRewrite)
          .write.mode("append").parquet(lakeDir)
        val freshFiles =
          (CommitLog.dataFileNames(fs, lakeDir) -- before).toSeq.sorted
        val id = math.max(CommitLog.maxCommittedId(fs, lakeDir), -1L)
        // row-preserving (dead rows were already invisible): an empty
        // change-feed stamp keeps cursors flowing through the compact
        val gen =
          if (!ChangeDataFeed.isEnabled(fs, lakeDir)) None
          else {
            val g = CommitLog.nextGen(fs, lakeDir)
            ChangeDataFeed.writeEmpty(spark, lakeDir, id, g)
            Some(g)
          }
        CommitLog.commitMutationCheckpoint(fs, lakeDir, id,
          (carried ++ freshFiles).sorted,
          added = freshFiles, removed = touched, gen = gen)
        fs.delete(new Path(dvDir(lakeDir)), true)
        CommitLog.vacuum(fs, lakeDir, olderThanMs = 0L)
        indexDir.foreach(idx =>
          StatsIndex.refreshSameColumns(spark, lakeDir, idx))
        (touched.size, carried.size)
      }
    }
  }
}
