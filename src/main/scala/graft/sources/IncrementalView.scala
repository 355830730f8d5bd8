package graft.sources

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** INCREMENTALLY-MAINTAINED MATERIALIZED AGGREGATE over a
  * merge-on-read lake — the Databricks/Delta "materialized view"
  * shape, built on [[DeletionVectors.readMorChanges]]: the view is
  * `SELECT groupCols…, count(*) AS n, sum(c) AS sum_c… GROUP BY
  * groupCols`, and [[refresh]] advances it by aggregating ONLY the
  * row-level change feed since the last refresh — cost ∝ churn, never
  * ∝ lake — then re-merging the signed per-group deltas into the
  * stored rows (one union + re-aggregate; count/sum are
  * self-inverse under ±1 signing, and a group whose count reaches 0
  * provably has zero sums too on integral columns, so it simply
  * drops). Bit-exact vs a full recompute for integral sum columns
  * (long arithmetic is associative); fractional columns would carry
  * float-order noise — keep those in full-recompute views. Since r10
  * the view also maintains `min_<c>`/`max_<c>` (inserts fold in
  * monotonically; delete-touched groups re-scan their live rows at
  * the pinned head — the standard MV maintenance trade) and serves
  * `avg_<c>` derived from (n, sum) at read time
  * ([[readViewWithAvgs]]). Since r13 `distinctCols` maintains
  * `nd_<c>` = exact `count(DISTINCT c)` per group via a refcount
  * auxiliary stored with each generation — fully delete-invertible
  * (no rescans, unlike min/max); see the refcount section below.
  *
  * CONSISTENCY — the race the `to` pin exists for: refresh captures
  * the head [[DeletionVectors.MorCursor]] FIRST, computes the feed
  * `from → head` pinned at BOTH ends, and stores `head` as the new
  * cursor in the SAME atomic publish as the view rows. A mutation
  * landing mid-refresh falls entirely AFTER the pinned window and is
  * picked up next time — never split, never double-applied.
  *
  * ATOMICITY — pointer-file generations, no rename-over-existing:
  * each refresh writes a fresh `gen-<uuid>/` (view parquet + cursor
  * text), then publishes `<n+1>.current` (atomic create of a fresh
  * name, exactly the checkpoint-generation trick [[CommitLog]] uses).
  * Readers take the highest pointer. A crash before the pointer
  * leaves an unreferenced gen dir (swept by the next refresh) and the
  * OLD view+cursor pair intact — re-running applies the same window
  * once, because the cursor only advances with the pointer.
  *
  * DEGRADATION — when the feed's soundness guard trips (a physical
  * rewrite — CoW DML, OPTIMIZE, compaction — retired cursor-era
  * names), refresh falls back to a FULL rebuild at the pinned head:
  * always correct, just not incremental — the same contract as
  * Delta's materialized-view maintenance on non-incrementalizable
  * changes. */
object IncrementalView {

  /** `(mode, groupsTouched)`: mode is "full" or "incremental";
    * groupsTouched counts the groups the refresh re-wrote (full = all
    * view groups, incremental = groups with a non-empty delta). */
  final case class RefreshStats(mode: String, groupsTouched: Long)

  private def fsOf(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Highest live pointer as (n, gen-dir name), if any. */
  private def currentPointer(fs: FileSystem,
      viewDir: String): Option[(Long, String)] = {
    val d = new Path(viewDir)
    if (!fs.exists(d)) return None
    fs.listStatus(d).iterator.map(_.getPath.getName)
      .filter(_.endsWith(".current"))
      .map { n => n.stripSuffix(".current").toLong }
      .toSeq.sorted.lastOption.map { n =>
        val in = fs.open(new Path(viewDir, s"$n.current"))
        try {
          val buf = new java.io.ByteArrayOutputStream()
          org.apache.hadoop.io.IOUtils.copyBytes(in, buf, 4096, false)
          (n, new String(buf.toByteArray, UTF_8).trim)
        } finally in.close()
      }
  }

  /** The materialized rows of the current generation. */
  def readView(spark: SparkSession, viewDir: String): DataFrame = {
    val fs = fsOf(spark, viewDir)
    val (_, gen) = currentPointer(fs, viewDir).getOrElse(
      throw new IllegalArgumentException(
        s"readView: $viewDir has no published generation — refresh first"))
    spark.read.parquet(s"$viewDir/$gen/data")
  }

  private def readCursor(fs: FileSystem, viewDir: String,
      gen: String): DeletionVectors.MorCursor = {
    val in = fs.open(new Path(s"$viewDir/$gen", "cursor"))
    val lines =
      try {
        val buf = new java.io.ByteArrayOutputStream()
        org.apache.hadoop.io.IOUtils.copyBytes(in, buf, 4096, false)
        new String(buf.toByteArray, UTF_8).split("\n").iterator
          .map(_.trim).filter(_.nonEmpty).toSeq
      } finally in.close()
    DeletionVectors.MorCursor(
      lines.filter(_.startsWith("file ")).map(_.substring(5)).toSet,
      lines.filter(_.startsWith("dv ")).map(_.substring(3)).toSet)
  }

  /** `left.join(right, keys, how)` with null-safe key equality (`<=>`):
    * a NULL group key is a group like any other, and the min/max rescan
    * and the count(DISTINCT) join must match it. Output columns are
    * the left's, then the right's non-key ones. */
  private def joinKeys(left: DataFrame, right: DataFrame, keys: Seq[String],
      how: String, broadcastRight: Boolean = false): DataFrame = {
    val renamed = right.select(right.columns.toSeq.map(c =>
      if (keys.contains(c)) col(c).as(s"__r_$c") else col(c)): _*)
    val on = keys.map(k => col(k) <=> col(s"__r_$k")).reduce(_ && _)
    left.join(if (broadcastRight) broadcast(renamed) else renamed, on, how)
      .drop(keys.map(k => s"__r_$k"): _*)
  }

  private def aggOf(rows: DataFrame, groupCols: Seq[String],
      sumCols: Seq[String], minMaxCols: Seq[String]): DataFrame = {
    val aggs = (count(lit(1)).as("n") +:
      sumCols.map(c => sum(col(c)).as(s"sum_$c"))) ++
      minMaxCols.flatMap(c => Seq(
        min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c")))
    rows.groupBy(groupCols.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  // ---- exact COUNT(DISTINCT) maintenance (refcount auxiliary) -------
  //
  // `nd_<c>` = count(DISTINCT c) per group, maintained EXACTLY and —
  // unlike min/max — fully delete-invertible: the generation stores an
  // auxiliary `(groupCols, __v, __rc)` table per distinct column (the
  // classic IVM refcount), inserts fold +1 and removals −1 per
  // (group, value) pair, a pair at refcount 0 drops, and the nd column
  // is just the live pair count per group. Cost: each refresh folds
  // the window's signed pair deltas into the stored aux and rewrites
  // it — ∝ the view's distinct-pair state plus churn, never ∝ lake.
  // NULL values never count (SQL COUNT(DISTINCT) semantics).

  private def ndName(c: String) = s"nd_$c"

  /** Full-build aux for `c`: one row per live (group, value) pair. */
  private def auxOf(rows: DataFrame, groupCols: Seq[String],
      c: String): DataFrame =
    rows.filter(col(c).isNotNull)
      .groupBy((groupCols.map(col) :+ col(c).as("__v")): _*)
      .agg(count(lit(1)).as("__rc"))

  /** Signed aux delta from a change window (`sign` = ±1 per row). */
  private def auxDelta(changes: DataFrame, groupCols: Seq[String],
      c: String, sign: org.apache.spark.sql.Column): DataFrame =
    changes.filter(col(c).isNotNull)
      .groupBy((groupCols.map(col) :+ col(c).as("__v")): _*)
      .agg(sum(sign).as("__rc"))

  /** Fold a signed delta into the stored aux; dead pairs drop. */
  private def mergeAux(old: DataFrame, delta: DataFrame,
      groupCols: Seq[String]): DataFrame =
    old.unionByName(delta)
      .groupBy((groupCols.map(col) :+ col("__v")): _*)
      .agg(sum(col("__rc")).as("__rc"))
      .filter(col("__rc") > 0L)

  /** Append `nd_<c>` per aux to the view rows (absent group → 0). */
  private def joinNd(view: DataFrame, groupCols: Seq[String],
      auxes: Seq[(String, DataFrame)]): DataFrame =
    auxes.foldLeft(view) { case (acc, (c, aux)) =>
      joinKeys(acc, aux.groupBy(groupCols.map(col): _*)
          .agg(count(lit(1)).as(ndName(c))), groupCols, "left")
        .withColumn(ndName(c), coalesce(col(ndName(c)), lit(0L)))
    }

  private def readAux(spark: SparkSession, viewDir: String, gen: String,
      c: String): DataFrame =
    spark.read.parquet(s"$viewDir/$gen/aux_$c")

  private def writeAuxes(viewDir: String, gen: String,
      auxes: Seq[(String, DataFrame)]): Unit =
    auxes.foreach { case (c, aux) =>
      aux.coalesce(1).write.parquet(s"$viewDir/$gen/aux_$c")
    }

  /** The stored view with derived `avg_<c>` columns appended — avg is
    * never maintained directly: it DERIVES from the bit-exact (n,
    * sum) pair as one double division, so it can never drift from
    * what a full recompute would say (oracle twin: `CAST(sum AS
    * DOUBLE) / n`). */
  def readViewWithAvgs(spark: SparkSession, viewDir: String,
      avgOf: Seq[String]): DataFrame =
    avgOf.foldLeft(readView(spark, viewDir)) { (acc, c) =>
      acc.withColumn(s"avg_$c",
        col(s"sum_$c").cast("double") / col("n").cast("double"))
    }

  /** Advance the view to the lake's current version. Returns what it
    * did; `failBeforePublish` injects a crash between the generation
    * write and the pointer publish (spec hook — proves the old
    * view+cursor pair survives any crash).
    *
    * `minMaxCols` adds `min_<c>`/`max_<c>` columns, maintained with
    * the standard MV trade: INSERTS fold in monotonically (min/max
    * over old ∪ insert-side extrema), while delete-AFFECTED groups are
    * RE-SCANNED at the pinned head — a delete of a group's extremum is
    * not invertible from the aggregate alone. Affected means a removed
    * row TIED OR BEAT the stored extremum (r15): a delete strictly
    * inside the stored open interval provably cannot move min/max, so
    * those groups skip the rescan — the common churn case pays no
    * rescan pass at all. Cost stays ∝ churn: the rescan reads only
    * rows of the provably-affected groups (one broadcast semi-join),
    * never the lake. The column set is fixed at the view's first
    * refresh — changing it is a new view. */
  def refresh(spark: SparkSession, lakeDir: String, viewDir: String,
      groupCols: Seq[String], sumCols: Seq[String],
      failBeforePublish: Boolean = false,
      minMaxCols: Seq[String] = Nil,
      distinctCols: Seq[String] = Nil): RefreshStats = {
    require(groupCols.nonEmpty, "refresh needs at least one group column")
    val fs = fsOf(spark, viewDir)
    // pin the window's upper end FIRST — see the consistency note
    val head = DeletionVectors.cursor(spark, lakeDir)
    val cur = currentPointer(fs, viewDir)
    def fullBuild(): (String, DataFrame, Long, Seq[(String, DataFrame)]) = {
      val live = DeletionVectors.readMorAt(spark, lakeDir, head)
      val auxes = distinctCols.map(c =>
        c -> auxOf(live, groupCols, c).localCheckpoint())
      val (full, n) = Pins.pinCounted(
        joinNd(aggOf(live, groupCols, sumCols, minMaxCols),
          groupCols, auxes))
      ("full", full, n, auxes)
    }
    val (mode, rows, touched, auxes) = cur match {
      case None => fullBuild()
      case Some((_, gen)) =>
        val from = readCursor(fs, viewDir, gen)
        val old = readView(spark, viewDir)
        val expect = (groupCols ++ Seq("n") ++ sumCols.map("sum_" + _) ++
          minMaxCols.flatMap(c => Seq(s"min_$c", s"max_$c")) ++
          distinctCols.map(ndName)).toSet
        require(old.columns.toSet == expect,
          s"refresh: $viewDir was built with different columns " +
            s"(${old.columns.sorted.mkString(", ")}) — the column set " +
            "is fixed at the first refresh; use a new viewDir")
        try {
          val changes0 = DeletionVectors.readMorChanges(spark, lakeDir,
            from, to = Some(head))
          // one materialization feeds the main delta AND every aux
          // delta — the feed window never re-scans per distinct column
          val changes = if (distinctCols.isEmpty) changes0
            else changes0.localCheckpoint()
          val isIns = col("_change_type") === "insert"
          val sign = when(isIns, 1L).otherwise(-1L)
          // deleted-row extrema ride the same delta pass: a group needs
          // the min/max rescan ONLY when a removed row TIED OR BEAT the
          // stored extremum (a delete strictly inside the stored open
          // interval provably cannot move min/max, and insert extrema
          // fold monotonically) — so the rescan below narrows from
          // "every delete-touched group" to the provably-affected ones
          val deltaAggs = (sum(sign).as("n") +:
            sumCols.map(c => sum(col(c) * sign).as(s"sum_$c"))) ++
            minMaxCols.flatMap(c => Seq(
              min(when(isIns, col(c))).as(s"min_$c"),
              max(when(isIns, col(c))).as(s"max_$c"),
              min(when(!isIns, col(c))).as(s"__dmin_$c"),
              max(when(!isIns, col(c))).as(s"__dmax_$c"))) :+
            max(when(isIns, 0).otherwise(1)).as("_has_del")
          val (delta, deltaGroups) = Pins.pinCounted(
            changes.groupBy(groupCols.map(col): _*)
              .agg(deltaAggs.head, deltaAggs.tail: _*))
          val deltaAux = Seq("_has_del") ++
            minMaxCols.flatMap(c => Seq(s"__dmin_$c", s"__dmax_$c"))
          // counts/sums re-merge under ±1 signing (bit-exact for
          // integral columns); min/max fold in the INSERT extrema the
          // same way — valid wherever the window deleted nothing
          val mergeAggs = (sum(col("n")).as("n") +:
            sumCols.map(c => sum(col(s"sum_$c")).as(s"sum_$c"))) ++
            minMaxCols.flatMap(c => Seq(
              min(col(s"min_$c")).as(s"min_$c"),
              max(col(s"max_$c")).as(s"max_$c")))
          // refcount auxiliaries fold the same signed window — fully
          // invertible, no rescan (the old view's nd columns are
          // recomputed from the merged aux, so drop them pre-merge)
          val mergedAuxes = distinctCols.map { c =>
            c -> mergeAux(readAux(spark, viewDir, gen, c),
              auxDelta(changes, groupCols, c, sign), groupCols)
              .localCheckpoint()
          }
          val merged = old.drop(distinctCols.map(ndName): _*)
            .unionByName(delta.drop(deltaAux: _*))
            .groupBy(groupCols.map(col): _*)
            .agg(mergeAggs.head, mergeAggs.tail: _*)
            .filter(col("n") > 0)
          val out =
            if (minMaxCols.isEmpty) merged
            else {
              // rescan ONLY groups where a removed row tied or beat the
              // stored extremum (or the group is unknown to the stored
              // view — conservative): the common churn case — deletes
              // strictly inside every stored interval — skips the lake
              // rescan pass entirely
              val oldMm = old.select((groupCols.map(col) ++
                minMaxCols.flatMap(c => Seq(
                  col(s"min_$c").as(s"__omin_$c"),
                  col(s"max_$c").as(s"__omax_$c")))): _*)
              val hit = minMaxCols.map(c =>
                col(s"__omin_$c").isNull ||
                  col(s"__dmin_$c") <= col(s"__omin_$c") ||
                  col(s"__dmax_$c") >= col(s"__omax_$c")).reduce(_ || _)
              val touchedDel = joinKeys(delta.filter(col("_has_del") === 1),
                  oldMm, groupCols, "left")
                .filter(hit)
                .select(groupCols.map(col): _*).localCheckpoint()
              if (touchedDel.isEmpty) merged
              else {
                // deletes are not invertible for min/max: re-scan the
                // touched groups' LIVE rows at the pinned head (their
                // counts/sums stay signed-delta — already exact)
                val mmAggs = minMaxCols.flatMap(c => Seq(
                  min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c")))
                val rescan = joinKeys(DeletionVectors
                    .readMorAt(spark, lakeDir, head),
                    touchedDel, groupCols, "left_semi", broadcastRight = true)
                  .groupBy(groupCols.map(col): _*)
                  .agg(mmAggs.head, mmAggs.tail: _*)
                val counts = (groupCols.map(col) :+ col("n")) ++
                  sumCols.map(c => col(s"sum_$c"))
                joinKeys(merged, touchedDel, groupCols, "left_anti",
                    broadcastRight = true)
                  .unionByName(joinKeys(joinKeys(merged.select(counts: _*),
                    touchedDel, groupCols, "left_semi",
                    broadcastRight = true), rescan, groupCols, "inner"))
              }
            }
          ("incremental", joinNd(out, groupCols, mergedAuxes),
            deltaGroups, mergedAuxes)
        } catch {
          // the feed's soundness guard: a physical rewrite broke
          // row-level tracking — rebuild at the pinned head instead.
          // Matched by TYPE, never by message text: any other
          // IllegalArgumentException (e.g. the empty-lake guard) is a
          // real error and must propagate, not silently degrade.
          case _: DeletionVectors.CursorInvalidatedException =>
            fullBuild()
        }
    }
    // write the new generation aside, then publish one pointer
    val gen = s"gen-${java.util.UUID.randomUUID()}"
    rows.coalesce(1).write.parquet(s"$viewDir/$gen/data")
    writeAuxes(viewDir, gen, auxes)
    val cursorBytes = (
      head.files.toSeq.sorted.map("file " + _) ++
        head.dvFiles.toSeq.sorted.map("dv " + _)).mkString("\n")
    val out = fs.create(new Path(s"$viewDir/$gen", "cursor"), false)
    try out.write(cursorBytes.getBytes(UTF_8)) finally out.close()
    if (failBeforePublish)
      throw new RuntimeException("injected crash before pointer publish")
    val n = cur.map(_._1 + 1).getOrElse(0L)
    val ptr = fs.create(new Path(viewDir, s"$n.current"), false)
    try ptr.write(gen.getBytes(UTF_8)) finally ptr.close()
    // sweep: older pointers, then generations no live pointer names
    fs.listStatus(new Path(viewDir)).iterator
      .map(_.getPath.getName).filter(_.endsWith(".current"))
      .filter(_.stripSuffix(".current").toLong < n)
      .foreach { p => fs.delete(new Path(viewDir, p), false); () }
    val live = currentPointer(fs, viewDir).map(_._2).toSet
    fs.listStatus(new Path(viewDir)).iterator
      .map(_.getPath.getName)
      .filter(g => g.startsWith("gen-") && !live.contains(g))
      .foreach { g => fs.delete(new Path(viewDir, g), true); () }
    RefreshStats(mode, touched)
  }

  private def readFeedCursor(fs: FileSystem, viewDir: String,
      gen: String): ChangeDataFeed.Version = {
    val in = fs.open(new Path(s"$viewDir/$gen", "cursor"))
    val text =
      try {
        val buf = new java.io.ByteArrayOutputStream()
        org.apache.hadoop.io.IOUtils.copyBytes(in, buf, 4096, false)
        new String(buf.toByteArray, UTF_8).trim
      } finally in.close()
    text.split('\t') match {
      case Array("feed", i, g) =>
        ChangeDataFeed.Version(i.toLong, g.toLong)
      case _ => throw new IllegalArgumentException(
        s"refreshFeed: $viewDir was maintained by the MoR position " +
          "cursor (refresh()) — the two cursor kinds do not mix; use " +
          "a new viewDir")
    }
  }

  /** [[refresh]] over the CHANGE DATA FEED ([[ChangeDataFeed]])
    * instead of the MoR position feed — the difference is what stays
    * INCREMENTAL: copy-on-write DML and vector-folding compactions
    * invalidate position tracking (refresh() degrades to a full
    * rebuild there), but they arrive in the feed as ordinary
    * pre/post-image rows and empty stamps, so this refresh keeps the
    * ∝-churn cost across EVERY mutation verb. Only a genuinely
    * unservable window — RESTORE, truncated or pre-enablement
    * history ([[ChangeDataFeed.FeedUnservableException]]) — degrades
    * to the full rebuild. Requires the lake's feed enabled before the
    * first mutation the view must cross.
    *
    * Signing: `insert`/`update_postimage` fold +1,
    * `delete`/`update_preimage` fold −1 — an update is a signed
    * remove-then-add, so counts/sums stay bit-exact for integral
    * columns exactly as in [[refresh]]. For `minMaxCols`, add-side
    * extrema fold in monotonically; groups the window REMOVED rows
    * from (a delete or an update pre-image — the old row may have
    * held the extremum) re-scan their live rows.
    *
    * CONSISTENCY — feed cursors cannot pin a read the way
    * [[DeletionVectors.MorCursor]] pins file sets, so the refresh is
    * a VALIDATE-AND-RETRY: compute and MATERIALIZE the new view
    * against the head version, then re-resolve the head — if a
    * mutation landed mid-compute, retry on the fresh head (the OCC
    * commit-section shape). The published cursor therefore always
    * names exactly the version the stored rows reflect. */
  def refreshFeed(spark: SparkSession, lakeDir: String, viewDir: String,
      groupCols: Seq[String], sumCols: Seq[String],
      failBeforePublish: Boolean = false,
      minMaxCols: Seq[String] = Nil,
      distinctCols: Seq[String] = Nil): RefreshStats = {
    require(groupCols.nonEmpty,
      "refreshFeed needs at least one group column")
    val fs = fsOf(spark, viewDir)
    val cur = currentPointer(fs, viewDir)
    var attempt = 0
    def fullBuild(): (String, DataFrame, Long, Seq[(String, DataFrame)]) = {
      val live = DeletionVectors.readMor(spark, lakeDir)
      val auxes = distinctCols.map(c =>
        c -> auxOf(live, groupCols, c).localCheckpoint())
      val (full, n) = Pins.pinCounted(
        joinNd(aggOf(live, groupCols, sumCols, minMaxCols),
          groupCols, auxes))
      ("full", full, n, auxes)
    }
    while (true) {
      val head = ChangeDataFeed.currentVersion(spark, lakeDir)
      val (mode, rows, touched, auxes) = cur match {
        case None => fullBuild()
        case Some((_, gen)) =>
          val from = readFeedCursor(fs, viewDir, gen)
          val old = readView(spark, viewDir)
          val expect = (groupCols ++ Seq("n") ++
            sumCols.map("sum_" + _) ++
            minMaxCols.flatMap(c => Seq(s"min_$c", s"max_$c")) ++
            distinctCols.map(ndName)).toSet
          require(old.columns.toSet == expect,
            s"refreshFeed: $viewDir was built with different columns " +
              s"(${old.columns.sorted.mkString(", ")}) — the column " +
              "set is fixed at the first refresh; use a new viewDir")
          try {
            val changes0 = ChangeDataFeed.read(spark, lakeDir, from, head)
            val changes = if (distinctCols.isEmpty) changes0
              else changes0.localCheckpoint()
            val isAdd = col("_change_type")
              .isin("insert", "update_postimage")
            val isDrop = col("_change_type")
              .isin("delete", "update_preimage")
            val sign = when(isAdd, 1L).when(isDrop, -1L).otherwise(0L)
            // dropped-row extrema ride the delta pass — same
            // rescan-narrowing as [[refresh]]: only groups where a
            // removed row tied or beat the stored extremum rescan.
            // Sound for the NON-NET feed too: a row born AND dropped
            // inside the window either stays within the stored bounds
            // (its insert extremum is masked by the monotone fold) or
            // crosses them (its drop extremum trips the rescan).
            val deltaAggs = (sum(sign).as("n") +:
              sumCols.map(c => sum(col(c) * sign).as(s"sum_$c"))) ++
              minMaxCols.flatMap(c => Seq(
                min(when(isAdd, col(c))).as(s"min_$c"),
                max(when(isAdd, col(c))).as(s"max_$c"),
                min(when(isDrop, col(c))).as(s"__dmin_$c"),
                max(when(isDrop, col(c))).as(s"__dmax_$c"))) :+
              max(when(isDrop, 1).otherwise(0)).as("_has_drop")
            val (delta, deltaGroups) = Pins.pinCounted(
              changes.filter(isAdd || isDrop)
                .groupBy(groupCols.map(col): _*)
                .agg(deltaAggs.head, deltaAggs.tail: _*))
            val deltaAux = Seq("_has_drop") ++
              minMaxCols.flatMap(c => Seq(s"__dmin_$c", s"__dmax_$c"))
            val mergeAggs = (sum(col("n")).as("n") +:
              sumCols.map(c => sum(col(s"sum_$c")).as(s"sum_$c"))) ++
              minMaxCols.flatMap(c => Seq(
                min(col(s"min_$c")).as(s"min_$c"),
                max(col(s"max_$c")).as(s"max_$c")))
            val mergedAuxes = distinctCols.map { c =>
              c -> mergeAux(readAux(spark, viewDir, gen, c),
                auxDelta(changes.filter(isAdd || isDrop), groupCols, c,
                  sign), groupCols).localCheckpoint()
            }
            val merged = old.drop(distinctCols.map(ndName): _*)
              .unionByName(delta.drop(deltaAux: _*))
              .groupBy(groupCols.map(col): _*)
              .agg(mergeAggs.head, mergeAggs.tail: _*)
              .filter(col("n") > 0)
            val out =
              if (minMaxCols.isEmpty) merged
              else {
                val oldMm = old.select((groupCols.map(col) ++
                  minMaxCols.flatMap(c => Seq(
                    col(s"min_$c").as(s"__omin_$c"),
                    col(s"max_$c").as(s"__omax_$c")))): _*)
                val hit = minMaxCols.map(c =>
                  col(s"__omin_$c").isNull ||
                    col(s"__dmin_$c") <= col(s"__omin_$c") ||
                    col(s"__dmax_$c") >= col(s"__omax_$c")).reduce(_ || _)
                val touchedDrop = joinKeys(
                    delta.filter(col("_has_drop") === 1), oldMm, groupCols,
                    "left")
                  .filter(hit)
                  .select(groupCols.map(col): _*).localCheckpoint()
                if (touchedDrop.isEmpty) merged
                else {
                  // a removed row may have held the extremum: re-scan
                  // the touched groups' LIVE rows (head-stability is
                  // validated below before anything publishes)
                  val mmAggs = minMaxCols.flatMap(c => Seq(
                    min(col(c)).as(s"min_$c"),
                    max(col(c)).as(s"max_$c")))
                  val rescan = joinKeys(DeletionVectors.readMor(spark,
                      lakeDir), touchedDrop, groupCols, "left_semi",
                      broadcastRight = true)
                    .groupBy(groupCols.map(col): _*)
                    .agg(mmAggs.head, mmAggs.tail: _*)
                  val counts = (groupCols.map(col) :+ col("n")) ++
                    sumCols.map(c => col(s"sum_$c"))
                  joinKeys(merged, touchedDrop, groupCols, "left_anti",
                      broadcastRight = true)
                    .unionByName(joinKeys(joinKeys(
                      merged.select(counts: _*), touchedDrop, groupCols,
                      "left_semi", broadcastRight = true),
                      rescan, groupCols, "inner"))
                }
              }
            ("incremental",
              joinNd(out, groupCols, mergedAuxes).localCheckpoint(),
              deltaGroups, mergedAuxes)
          } catch {
            // typed degradation ONLY: an unservable window (RESTORE,
            // truncated/pre-enablement history) rebuilds at head;
            // anything else is a real error and propagates
            case _: ChangeDataFeed.FeedUnservableException =>
              fullBuild()
          }
      }
      // the validate-and-retry gate: everything above is materialized
      // (localCheckpoint); if the head moved mid-compute the rows may
      // mix versions — recompute on the fresh head
      if (ChangeDataFeed.currentVersion(spark, lakeDir) == head) {
        val gen = s"gen-${java.util.UUID.randomUUID()}"
        rows.coalesce(1).write.parquet(s"$viewDir/$gen/data")
        writeAuxes(viewDir, gen, auxes)
        val out = fs.create(new Path(s"$viewDir/$gen", "cursor"), false)
        try out.write(s"feed\t${head.id}\t${head.gen}".getBytes(UTF_8))
        finally out.close()
        if (failBeforePublish)
          throw new RuntimeException(
            "injected crash before pointer publish")
        val n = cur.map(_._1 + 1).getOrElse(0L)
        val ptr = fs.create(new Path(viewDir, s"$n.current"), false)
        try ptr.write(gen.getBytes(UTF_8)) finally ptr.close()
        fs.listStatus(new Path(viewDir)).iterator
          .map(_.getPath.getName).filter(_.endsWith(".current"))
          .filter(_.stripSuffix(".current").toLong < n)
          .foreach { p => fs.delete(new Path(viewDir, p), false); () }
        val live = currentPointer(fs, viewDir).map(_._2).toSet
        fs.listStatus(new Path(viewDir)).iterator
          .map(_.getPath.getName)
          .filter(g => g.startsWith("gen-") && !live.contains(g))
          .foreach { g => fs.delete(new Path(viewDir, g), true); () }
        return RefreshStats(mode, touched)
      }
      attempt += 1
      require(attempt < 20,
        "refreshFeed: 20 consecutive mid-compute mutations — the lake " +
          "is mutating faster than the view can refresh; retry later")
    }
    throw new IllegalStateException("unreachable")
  }
}
