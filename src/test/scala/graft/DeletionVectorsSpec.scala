package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.sources.{CommitLog, DeletionVectors, MergeInto, ZOrder}
import graft.streaming.LayoutSink

/** Merge-on-read deletes: vectors mark rows without rewriting files,
  * readMor applies them exactly, compact applies them physically, CoW
  * DML refuses to run over unapplied vectors (its MoR twins are the
  * right verb), the maintenance rewriters (OPTIMIZE, small-file
  * compaction) FOLD the vectors into files they rewrite anyway, and
  * the sidecar doubles as a row-level CDC log (readMorChanges). */
class DeletionVectorsSpec extends SparkSpec {
  import spark.implicits._

  private def fs(dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Batches 0..2, one file each: k unique 0-99 / 1000-1099 / 2000-2099. */
  private def mkLake(): String = {
    val lake = Files.createTempDirectory("graft_dv_").toString + "/lake"
    val f = fs(lake)
    for (b <- 0 to 2) {
      val before = CommitLog.dataFileNames(f, lake)
      (0 until 100).map(b * 1000 + _).map(k => (k, k.toLong * 2))
        .toDF("k", "v")
        .coalesce(1).write.mode("append").parquet(lake)
      CommitLog.commit(f, lake, b,
        (CommitLog.dataFileNames(f, lake) -- before).toSeq.sorted)
    }
    lake
  }

  test("deleteMor marks without rewriting; readMor equals the CoW " +
    "complement; repeats are idempotent; vectors compose across calls") {
    val lake = mkLake()
    val f = fs(lake)
    val filesBefore = CommitLog.committedNames(f, lake)
    val n = DeletionVectors.deleteMor(spark, lake, "k % 10 = 3")
    assert(n == 30L, s"marked $n")
    // ZERO data files changed — that is the merge-on-read contract
    assert(CommitLog.committedNames(f, lake) == filesBefore,
      "deleteMor must not rewrite data files")
    val got = DeletionVectors.readMor(spark, lake)
      .orderBy("k").select("k").as[Int].collect().toSeq
    val want = (0 until 100) ++ (1000 until 1100) ++ (2000 until 2100)
    assert(got == want.filterNot(_ % 10 == 3), "readMor row set")
    // same predicate again: nothing new to mark
    assert(DeletionVectors.deleteMor(spark, lake, "k % 10 = 3") == 0L)
    // a second, overlapping predicate composes (only NEW pairs count)
    val n2 = DeletionVectors.deleteMor(spark, lake, "k % 5 = 3")
    assert(n2 == 30L, s"second delete marked $n2") // %5=3 minus %10=3
    assert(DeletionVectors.readMor(spark, lake).count() == 240L)
  }

  test("CoW DML fails fast over unapplied vectors (the MoR twins are " +
    "the right verb); appends compose; vacuum never sweeps the sidecar") {
    val lake = mkLake()
    val f = fs(lake)
    DeletionVectors.deleteMor(spark, lake, "k < 50")
    def rejects(body: => Any): Unit = {
      val e = intercept[IllegalArgumentException](body)
      assert(e.getMessage.contains("deletion vectors"), e.getMessage)
    }
    rejects(MergeInto.delete(spark, lake, "k < 10"))
    rejects(MergeInto.update(spark, lake, "k = 60", Map("v" -> "0")))
    rejects(MergeInto.merge(spark, lake,
      Seq((60, 0L)).toDF("k", "v"), Seq("k")))
    // OPTIMIZE and compactSmall FOLD the vectors instead of failing —
    // they rewrite the touched bytes anyway; their own tests below
    // pin the folding semantics
    // an ingest APPEND is fine — new files carry no vectors
    val before = CommitLog.dataFileNames(f, lake)
    (9000 until 9010).map(k => (k, k.toLong)).toDF("k", "v")
      .coalesce(1).write.mode("append").parquet(lake)
    CommitLog.commit(f, lake, 3,
      (CommitLog.dataFileNames(f, lake) -- before).toSeq.sorted)
    assert(DeletionVectors.readMor(spark, lake).count() == 260L)
    // vacuum sweeps orphans, never the _dv sidecar
    CommitLog.vacuum(f, lake, olderThanMs = 0L)
    assert(DeletionVectors.hasDvs(f, lake), "vacuum ate the sidecar")
    assert(DeletionVectors.readMor(spark, lake).count() == 260L)
  }

  test("compact applies the vectors physically — only DV'd files " +
    "rewrite, the view is unchanged, CoW unblocks — and clears stale " +
    "vectors on rerun") {
    val lake = mkLake()
    val f = fs(lake)
    // vectors confined to batch-0's and batch-1's files
    DeletionVectors.deleteMor(spark, lake, "k < 20 OR k BETWEEN 1000 AND 1009")
    val viewBefore = DeletionVectors.readMor(spark, lake)
      .orderBy("k").collect().toSeq
    val (rw, carried) = DeletionVectors.compact(spark, lake)
    assert(rw == 2 && carried == 1, s"compact ($rw, $carried)")
    assert(!DeletionVectors.hasDvs(f, lake), "sidecar must be gone")
    // the PLAIN committed read now equals the pre-compact MoR view
    assert(LayoutSink.readCommitted(spark, lake)
      .orderBy("k").collect().toSeq == viewBefore)
    // readMor without vectors is the plain read
    assert(DeletionVectors.readMor(spark, lake)
      .orderBy("k").collect().toSeq == viewBefore)
    // CoW works again
    val (rw2, _) = MergeInto.delete(spark, lake, "k = 2000")
    assert(rw2 == 1)
    // stale vectors (a crashed compact's leftover, referencing a
    // swept file) read as no-ops and a compact rerun just clears them
    Seq(("no-such-file.parquet", 0L)).toDF("file", "pos")
      .write.parquet(DeletionVectors.dvDir(lake))
    assert(DeletionVectors.readMor(spark, lake).count() ==
      viewBefore.size - 1L)
    val (rw3, _) = DeletionVectors.compact(spark, lake)
    assert(rw3 == 0 && !DeletionVectors.hasDvs(f, lake))
  }

  test("readMorPruned composes file skipping with vectors: pruned ∧ " +
    "DV-applied equals the filtered MoR view, and skipping is real") {
    import graft.sources.StatsIndex
    val lake = mkLake() // 3 range-disjoint files: 0-99/1000-1099/2000-2099
    val idx = lake.stripSuffix("/lake") + "/idx"
    StatsIndex.build(spark, lake, Seq("k"), idx)
    DeletionVectors.deleteMor(spark, lake, "k % 10 = 3")
    val ranges = Seq(StatsIndex.LongRange("k", 1000L, 1099L))
    val got = DeletionVectors
      .readMorPruned(spark, lake, idx, ranges)
      .orderBy("k").select("k").as[Int].collect().toSeq
    val want = DeletionVectors.readMor(spark, lake)
      .filter(col("k").between(1000, 1099))
      .orderBy("k").select("k").as[Int].collect().toSeq
    assert(got == want && got.size == 90, s"pruned MoR ${got.size}")
    // the prune is real: only one of three files can match the band
    assert(StatsIndex.prunedTyped(spark, idx, ranges).size == 1)
    // empty prune result: typed-empty frame, no vectors applied
    assert(DeletionVectors.readMorPruned(spark, lake, idx,
      Seq(StatsIndex.LongRange("k", 500000L, 500001L))).count() == 0L)
  }

  test("coverage is atomic: an uncovered sidecar file is invisible " +
    "to every reader and swept by the next DV writer — a crashed " +
    "mutation never happened") {
    val lake = mkLake()
    val f = fs(lake)
    // simulate a crash between the sidecar write and the checkpoint
    // publish: a dv file lands, no record covers it
    Seq.tabulate(5)(i => (f"part-$i%05d-x.parquet", 0L))
      .toDF("file", "pos").coalesce(1)
      .write.mode("append").parquet(DeletionVectors.dvDir(lake))
    // a REAL pair too — point it at a committed file's row 0
    val one = CommitLog.committedNames(f, lake).toSeq.sorted.head
    Seq((one, 0L)).toDF("file", "pos").coalesce(1)
      .write.mode("append").parquet(DeletionVectors.dvDir(lake))
    assert(!DeletionVectors.hasDvs(f, lake),
      "uncovered vectors must not count as visible")
    assert(DeletionVectors.readMor(spark, lake).count() == 300L,
      "uncovered vectors must not delete rows")
    // CoW still unblocked (no covered vectors exist)
    val (rw, _) = MergeInto.delete(spark, lake, "k = 2099")
    assert(rw == 1, "CoW must run over uncovered debris")
    // the next DV writer sweeps the debris under its lock
    DeletionVectors.deleteMor(spark, lake, "k = 0")
    val left = fs(lake).listStatus(
      new Path(DeletionVectors.dvDir(lake)))
      .map(_.getPath.getName).filter(_.endsWith(".parquet"))
    assert(left.length == 1 &&
      DeletionVectors.coveredDvFiles(f, lake) == left.toSeq.sorted,
      s"debris must be swept, covered file kept: ${left.toSeq}")
    assert(DeletionVectors.readMor(spark, lake).count() == 298L)
  }

  test("mergeMor upserts without rewriting a file: matched rows die " +
    "in the sidecar, ALL update rows land in one delta file, readMor " +
    "serves the merged view; MoR-deleted keys insert, never " +
    "resurrect") {
    val lake = mkLake()
    val f = fs(lake)
    val filesBefore = CommitLog.committedNames(f, lake)
    val updates = Seq((5, 999L), (1005, 888L), (5000, 777L))
      .toDF("k", "v")
    val (matched, appended) =
      DeletionVectors.mergeMor(spark, lake, updates, Seq("k"))
    assert(matched == 2L && appended == 3L, s"($matched, $appended)")
    val after = CommitLog.committedNames(f, lake)
    assert(filesBefore.subsetOf(after) && after.size == 4,
      "mergeMor must carry every old file and add exactly one delta")
    val got = DeletionVectors.readMor(spark, lake)
    assert(got.count() == 301L)
    assert(got.filter(col("k") === 5).select("v").as[Long].head() == 999L)
    assert(got.filter(col("k") === 1005).select("v").as[Long].head() == 888L)
    assert(got.filter(col("k") === 5000).select("v").as[Long].head() == 777L)
    // a key deleted via DV is DEAD: merging it again is an INSERT on
    // the live view (matched = 0), and exactly one live copy exists
    DeletionVectors.deleteMor(spark, lake, "k = 5")
    assert(DeletionVectors.readMor(spark, lake)
      .filter(col("k") === 5).count() == 0L)
    val (m2, a2) = DeletionVectors.mergeMor(spark, lake,
      Seq((5, 111L)).toDF("k", "v"), Seq("k"))
    assert(m2 == 0L && a2 == 1L, s"dead key must not match ($m2)")
    val five = DeletionVectors.readMor(spark, lake)
      .filter(col("k") === 5).select("v").as[Long].collect().toSeq
    assert(five == Seq(111L), s"exactly one live copy: $five")
    // repeat of the same merge: the prior delta row dies, the new one
    // replaces it — still exactly one live copy
    val (m3, _) = DeletionVectors.mergeMor(spark, lake,
      Seq((5, 222L)).toDF("k", "v"), Seq("k"))
    assert(m3 == 1L)
    assert(DeletionVectors.readMor(spark, lake)
      .filter(col("k") === 5).select("v").as[Long].collect().toSeq ==
      Seq(222L))
    // merge preconditions hold for the MoR verb too
    intercept[IllegalArgumentException](DeletionVectors.mergeMor(
      spark, lake, Seq((1, 1L), (1, 2L)).toDF("k", "v"), Seq("k")))
    intercept[IllegalArgumentException](DeletionVectors.mergeMor(
      spark, lake, Seq(Tuple1(1)).toDF("k"), Seq("k")))
  }

  test("OPTIMIZE over a DV'd lake folds the vectors into the rewrite: " +
    "one pass re-clusters, drops dead rows, retires the sidecar") {
    val lake = mkLake()
    val f = fs(lake)
    DeletionVectors.deleteMor(spark, lake, "k % 10 = 3")
    val want = DeletionVectors.readMor(spark, lake)
      .orderBy("k").collect().toSeq
    ZOrder.optimize(spark, lake, Seq("k"), numFiles = 2)
    assert(!DeletionVectors.hasDvs(f, lake), "coverage must end")
    assert(!f.exists(new Path(DeletionVectors.dvDir(lake))),
      "the dir swap must retire the _dv sidecar")
    // the PLAIN committed read now equals the pre-optimize MoR view
    assert(LayoutSink.readCommitted(spark, lake)
      .orderBy("k").collect().toSeq == want)
    assert(DeletionVectors.readMor(spark, lake)
      .orderBy("k").collect().toSeq == want)
    // CoW unblocked without a separate compact
    val (rw, _) = MergeInto.delete(spark, lake, "k = 2000")
    assert(rw == 1)
  }

  test("compactSmall over a DV'd lake folds the compacted files' " +
    "vectors and carries the untouched files' vectors in a fresh " +
    "covered sidecar; a crash before publish changes nothing") {
    val lake = mkLake() // 3 tiny files: k 0-99, 1000-1099, 2000-2099
    val f = fs(lake)
    // one file big enough to stay out of the compaction set
    val before0 = CommitLog.dataFileNames(f, lake)
    spark.range(10000, 110000).selectExpr("CAST(id AS INT) AS k",
      "id * 2 AS v").coalesce(1).write.mode("append").parquet(lake)
    CommitLog.commit(f, lake, 3,
      (CommitLog.dataFileNames(f, lake) -- before0).toSeq.sorted)
    // vectors in a small file (k=5) AND in the big file (k=10007)
    DeletionVectors.deleteMor(spark, lake, "k IN (5, 10007)")
    val want = DeletionVectors.readMor(spark, lake)
      .orderBy("k").collect().toSeq
    // injected crash before publish: view unchanged, debris invisible
    intercept[RuntimeException](ZOrder.compactSmall(spark, lake,
      Seq("k"), minBytes = 1 << 14, failBeforePublish = true))
    assert(DeletionVectors.readMor(spark, lake)
      .orderBy("k").collect().toSeq == want, "crashed compact leaked")
    val (nc, nw) = ZOrder.compactSmall(spark, lake,
      Seq("k"), minBytes = 1 << 14)
    assert(nc == 3 && nw == 1, s"compacted ($nc, $nw)")
    // view unchanged; the surviving vector still hides k=10007
    assert(DeletionVectors.readMor(spark, lake)
      .orderBy("k").collect().toSeq == want)
    assert(DeletionVectors.coveredDvFiles(f, lake).size == 1,
      "survivor vectors must live in ONE fresh covered sidecar")
    // the folded file dropped k=5 PHYSICALLY; k=10007 is still
    // physically present (its file was untouched), hidden by coverage
    val flat = LayoutSink.readCommitted(spark, lake)
    assert(flat.filter(col("k") === 5).count() == 0L)
    assert(flat.filter(col("k") === 10007).count() == 1L)
  }

  test("compactSmall retires coverage entirely when every vector " +
    "names a compacted file") {
    val lake = mkLake()
    val f = fs(lake)
    DeletionVectors.deleteMor(spark, lake, "k IN (5, 1005)")
    val want = DeletionVectors.readMor(spark, lake)
      .orderBy("k").collect().toSeq
    val (nc, _) = ZOrder.compactSmall(spark, lake,
      Seq("k"), minBytes = 1 << 20)
    assert(nc == 3)
    assert(!DeletionVectors.hasDvs(f, lake), "no survivors → no coverage")
    assert(LayoutSink.readCommitted(spark, lake)
      .orderBy("k").collect().toSeq == want)
  }

  test("readMorChanges serves the row-level delta through MoR " +
    "mutations: update = delete(old)+insert(new), born-and-dead nets " +
    "to nothing, replay idempotent, cursor+delta reconstructs the " +
    "head view; physical rewrites trip the guard") {
    val lake = mkLake() // k 0-99, 1000-1099, 2000-2099; v = k*2
    val f = fs(lake)
    val cur = DeletionVectors.cursor(spark, lake)
    val cursorView = DeletionVectors.readMor(spark, lake)
      .select("k", "v").as[(Int, Long)].collect().toSet
    // empty window → typed empty frame with the _change_type column
    val empty = DeletionVectors.readMorChanges(spark, lake, cur)
    assert(empty.columns.toSeq == Seq("k", "v", "_change_type") &&
      empty.count() == 0L)
    // the window: MoR delete, MoR update, MoR insert-merge, plus a
    // row that is born AND dies inside the window
    DeletionVectors.deleteMor(spark, lake, "k % 10 = 4")
    DeletionVectors.updateMor(spark, lake, "k % 10 = 6",
      Map("v" -> "v + 1"))
    DeletionVectors.mergeMor(spark, lake,
      (5000 until 5005).map(k => (k, 9L)).toDF("k", "v"), Seq("k"))
    val before = CommitLog.dataFileNames(f, lake)
    Seq((7777, 1L)).toDF("k", "v").coalesce(1)
      .write.mode("append").parquet(lake)
    CommitLog.commit(f, lake, 3,
      (CommitLog.dataFileNames(f, lake) -- before).toSeq.sorted)
    DeletionVectors.deleteMor(spark, lake, "k = 7777")
    def changes() = DeletionVectors.readMorChanges(spark, lake, cur)
    val ks = (0 until 100).flatMap(i => Seq(i, 1000 + i, 2000 + i))
    val wantDel = ks.filter(k => k % 10 == 4 || k % 10 == 6)
      .map(k => (k, 2L * k)).toSet
    val wantIns = ks.filter(_ % 10 == 6).map(k => (k, 2L * k + 1)).toSet ++
      (5000 until 5005).map(k => (k, 9L)).toSet
    val dels = changes().filter(col("_change_type") === "delete")
      .select("k", "v").as[(Int, Long)].collect().toSet
    val ins = changes().filter(col("_change_type") === "insert")
      .select("k", "v").as[(Int, Long)].collect().toSet
    assert(dels == wantDel, "delete rows carry the OLD values")
    assert(ins == wantIns, "insert rows carry the NEW values; " +
      "born-and-dead 7777 must be absent")
    // the feed is a pure function of (cursor, log): replay identical
    assert(changes().orderBy("k", "_change_type").collect().toSeq ==
      changes().orderBy("k", "_change_type").collect().toSeq)
    // applying the delta to the cursor view reconstructs the head
    val headView = DeletionVectors.readMor(spark, lake)
      .select("k", "v").as[(Int, Long)].collect().toSet
    assert(cursorView -- wantDel ++ wantIns == headView,
      "cursor ∖ deletes ∪ inserts must equal the head view")
    // a physical rewrite (compact) retires cursor-era names → guard
    DeletionVectors.compact(spark, lake)
    val e = intercept[IllegalArgumentException](changes())
    assert(e.getMessage.contains("resync"), e.getMessage)
  }

  test("mergeMor composes with the rest of the lake surface: schema " +
    "evolution through the delta file, rewriter guards over " +
    "merge-created vectors, compact over committed ∪ delta") {
    val lake = mkLake()
    val f = fs(lake)
    // additive evolution: the delta carries a new column, carried
    // files keep their physical schema, mergeSchema readers opt in
    intercept[IllegalArgumentException](DeletionVectors.mergeMor(
      spark, lake, Seq((5, 999L, "x")).toDF("k", "v", "tag"), Seq("k")))
    val (m, a) = DeletionVectors.mergeMor(spark, lake,
      Seq((5, 999L, "x"), (5000, 777L, "y")).toDF("k", "v", "tag"),
      Seq("k"), evolveSchema = true)
    assert(m == 1L && a == 2L)
    val got = DeletionVectors.readMor(spark, lake, mergeSchema = true)
    assert(got.columns.toSeq.sorted == Seq("k", "tag", "v"))
    assert(got.count() == 301L)
    assert(got.filter(col("tag").isNotNull).count() == 2L,
      "old rows take NULL for the evolved column")
    // CoW DML refuses over MERGE-created vectors too
    def rejects(body: => Any): Unit = {
      val e = intercept[IllegalArgumentException](body)
      assert(e.getMessage.contains("deletion vectors"), e.getMessage)
    }
    rejects(MergeInto.delete(spark, lake, "k < 10"))
    rejects(MergeInto.merge(spark, lake,
      Seq((60, 0L)).toDF("k", "v"), Seq("k")))
    // compact applies the merge physically: the plain committed read
    // then equals the pre-compact MoR view (delta rows included,
    // replaced row gone)
    val want = DeletionVectors.readMor(spark, lake, mergeSchema = true)
      .orderBy("k", "v").select("k", "v").as[(Int, Long)].collect().toSeq
    DeletionVectors.compact(spark, lake)
    assert(!DeletionVectors.hasDvs(f, lake))
    val flat = graft.streaming.LayoutSink
      .readCommitted(spark, lake, mergeSchema = true)
      .orderBy("k", "v").select("k", "v").as[(Int, Long)].collect().toSeq
    assert(flat == want, "compact must preserve the merged view")
    assert(flat.count(_._1 == 5) == 1 && flat.find(_._1 == 5).get._2 == 999L)
  }

  test("updateMor rewrites nothing and updates LIVE rows only: old " +
    "positions die, post-SET rows append, dead rows stay dead") {
    val lake = mkLake()
    val f = fs(lake)
    DeletionVectors.deleteMor(spark, lake, "k = 3")
    val filesBefore = CommitLog.committedNames(f, lake)
    val n = DeletionVectors.updateMor(spark, lake, "k < 10",
      Map("v" -> "v + 1"))
    assert(n == 9L, s"updated $n — the dead k=3 must not count")
    val after = CommitLog.committedNames(f, lake)
    assert(filesBefore.subsetOf(after) && after.size == 4,
      "updateMor must carry every old file and add exactly one delta")
    val got = DeletionVectors.readMor(spark, lake)
    assert(got.count() == 299L, "row count unchanged by UPDATE")
    assert(got.filter(col("k") === 3).count() == 0L,
      "updateMor resurrected a DV-deleted row")
    val want = (0 until 10).filterNot(_ == 3).map(k => k.toLong * 2 + 1)
    assert(got.filter(col("k") < 10).orderBy("k")
      .select("v").as[Long].collect().toSeq == want)
    // untouched band is untouched
    assert(got.filter(col("k") === 1000).select("v")
      .as[Long].head() == 2000L)
    // no matching row: nothing published, nothing changed
    assert(DeletionVectors.updateMor(spark, lake, "k = -1",
      Map("v" -> "0")) == 0L)
    assert(CommitLog.committedNames(f, lake) == after)
  }

  test("a lake column named `file` or `pos` survives every MoR path " +
    "unharmed (collision-proof internal join keys)") {
    val lake = Files.createTempDirectory("graft_dvc_").toString + "/lake"
    val f = fs(lake)
    val before = CommitLog.dataFileNames(f, lake)
    (0 until 100).map(k => (k, s"f$k", k.toLong))
      .toDF("k", "file", "pos")
      .coalesce(1).write.mode("append").parquet(lake)
    CommitLog.commit(f, lake, 0,
      (CommitLog.dataFileNames(f, lake) -- before).toSeq.sorted)
    DeletionVectors.deleteMor(spark, lake, "k % 10 = 0")
    val got = DeletionVectors.readMor(spark, lake)
    assert(got.columns.toSeq == Seq("k", "file", "pos"),
      s"schema mangled: ${got.columns.toSeq}")
    assert(got.count() == 90L)
    assert(got.filter(col("k") === 7)
      .select("file", "pos").as[(String, Long)].head() == ("f7", 7L))
    // compact preserves them physically too
    DeletionVectors.compact(spark, lake)
    val flat = graft.streaming.LayoutSink.readCommitted(spark, lake)
    assert(flat.columns.toSeq.sorted == Seq("file", "k", "pos") &&
      flat.count() == 90L)
    assert(flat.filter(col("k") === 7)
      .select("file", "pos").as[(String, Long)].head() == ("f7", 7L))
    // updateMor keeps user file/pos intact while using its own keys
    val n = DeletionVectors.updateMor(spark, lake, "k = 7",
      Map("file" -> "'bumped'"))
    assert(n == 1L)
    assert(DeletionVectors.readMor(spark, lake).filter(col("k") === 7)
      .select("file", "pos").as[(String, Long)].head() == ("bumped", 7L))
  }

  test("metadata-first answers are DV-aware: countPruned subtracts " +
    "exactly, minMaxPruned scans only DV'd files' live rows — a " +
    "deleted extremum never leaks and clean files stay zero-I/O") {
    import graft.sources.StatsIndex
    val lake = mkLake() // 3 range-disjoint files
    val idx = lake.stripSuffix("/lake") + "/idx"
    StatsIndex.build(spark, lake, Seq("k", "v"), idx)
    DeletionVectors.deleteMor(spark, lake,
      "k IN (1000, 1001, 1050, 2000, 5)")
    // interior file (1000-1099 fully inside) minus its 3 dead rows;
    // boundary file (2000-2099 straddles the edge) anti-joined
    val ranges = Seq(StatsIndex.LongRange("k", 1000L, 2050L))
    val got = StatsIndex.countPruned(spark, lake, idx, ranges)
    val want = DeletionVectors.readMor(spark, lake)
      .filter(col("k").between(1000, 2050)).count()
    assert(got == want && got == 147L, s"countPruned $got vs $want")
    // kill the GLOBAL extrema (k=0 in file 1, k=2099 in file 3): the
    // footer bounds still record them; minMaxPruned must answer the
    // LIVE bounds, on k AND on the unindexed-by-the-delete column v
    DeletionVectors.deleteMor(spark, lake, "k IN (0, 2099)")
    val mm = StatsIndex.minMaxPruned(spark, lake, idx, Seq("k", "v"))
      .as[(Long, Long, Long, Long)].head()
    assert(mm == ((1L, 2098L, 2L, 4196L)), s"live bounds: $mm")
    // the second delete changed nothing inside [1000, 2050]
    assert(StatsIndex.countPruned(spark, lake, idx, ranges) == 147L)
    // after compact both answer again, vector-free
    DeletionVectors.compact(spark, lake, indexDir = Some(idx))
    assert(StatsIndex.countPruned(spark, lake, idx, ranges) == 147L)
    assert(StatsIndex.minMaxPruned(spark, lake, idx, Seq("k"))
      .select("min_k").as[Long].head() == 1L)
  }

  test("minMaxPruned under vectors is gap-scoped: a CLEAN file keeps " +
    "its metadata arm (survives physical delete) while the DV'd " +
    "file's live rows decide its side of the bound") {
    import graft.sources.StatsIndex
    val lake = mkLake() // files: k 0-99, 1000-1099, 2000-2099
    val f = fs(lake)
    val idx = lake.stripSuffix("/lake") + "/idx"
    StatsIndex.build(spark, lake, Seq("k"), idx)
    // vectors land ONLY in the top file; kill the global max
    DeletionVectors.deleteMor(spark, lake, "k >= 2098")
    // now physically delete the two CLEAN files (identified by
    // content — part-file names are uuid-random): if minMaxPruned
    // tried to scan them the read would fail — their bounds must
    // come from the index alone
    val committed = CommitLog.committedNames(f, lake).toSeq.sorted
    val clean = spark.read
      .parquet(committed.map(n => s"$lake/$n"): _*)
      .groupBy(element_at(
        split(col("_metadata.file_path"), "/"), -1).as("f"))
      .agg(max(col("k")).as("mx")).filter(col("mx") < 2000)
      .select("f").as[String].collect()
    assert(clean.length == 2)
    clean.foreach { n =>
      f.delete(new org.apache.hadoop.fs.Path(lake, n), false); ()
    }
    val mm = StatsIndex.minMaxPruned(spark, lake, idx, Seq("k"))
      .as[(Long, Long)].head()
    assert(mm == ((0L, 2097L)), s"mixed-arm bounds: $mm")
  }

  test("readMorStream replays the snapshot at construction: orphans " +
    "invisible, later appends and later vectors excluded, result " +
    "equals the batch readMor view") {
    val lake = mkLake()
    val f = fs(lake)
    DeletionVectors.deleteMor(spark, lake, "k % 10 = 3")
    val wantSnapshot = DeletionVectors.readMor(spark, lake)
      .orderBy("k").select("k").as[Int].collect().toSeq
    // an uncommitted orphan in the directory
    Seq((7777, 1L)).toDF("k", "v").coalesce(1)
      .write.mode("append").parquet(lake)
    val stream = DeletionVectors.readMorStream(spark, lake,
      maxFilesPerTrigger = 2)
    // AFTER construction: a new committed append and a new DV delete —
    // neither may leak into the already-constructed snapshot
    val before = CommitLog.dataFileNames(f, lake)
    Seq((8888, 2L)).toDF("k", "v").coalesce(1)
      .write.mode("append").parquet(lake)
    CommitLog.commit(f, lake, 3,
      (CommitLog.dataFileNames(f, lake) -- before).toSeq.sorted)
    DeletionVectors.deleteMor(spark, lake, "k = 0")
    val q = stream.writeStream.outputMode("append").format("memory")
      .queryName("dv_snapshot_replay")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val got = spark.table("dv_snapshot_replay")
      .orderBy("k").select("k").as[Int].collect().toSeq
    assert(got == wantSnapshot,
      s"stream drifted from its snapshot: ${got.size} vs " +
        s"${wantSnapshot.size} rows")
    // and the lake's CURRENT batch view moved on
    assert(DeletionVectors.readMor(spark, lake).count() ==
      wantSnapshot.size + 1L - 1L) // +8888, -k=0
  }

  test("time travel NEVER serves a DV-carrying version as bare " +
    "files: the as-of path fails fast even when the resolved base " +
    "checkpoint sits below the target id") {
    val lake = mkLake()
    val f = fs(lake)
    DeletionVectors.deleteMor(spark, lake, "k % 10 = 3")
    // a committed APPEND after the MoR delete: asOf = its id resolves
    // through the below-path (base = the DV mutation checkpoint) —
    // serving those files raw would resurrect the 30 deleted rows
    val before = CommitLog.dataFileNames(f, lake)
    Seq((8888, 2L)).toDF("k", "v").coalesce(1)
      .write.mode("append").parquet(lake)
    CommitLog.commit(f, lake, 3,
      (CommitLog.dataFileNames(f, lake) -- before).toSeq.sorted)
    val e = intercept[IllegalArgumentException](
      LayoutSink.readCommittedAt(spark, lake, asOf = 3L).count())
    assert(e.getMessage.contains("deletion vectors"), e.getMessage)
    // compact materializes plain files; as-of a LATER append then works
    DeletionVectors.compact(spark, lake)
    val before2 = CommitLog.dataFileNames(f, lake)
    Seq((9999, 3L)).toDF("k", "v").coalesce(1)
      .write.mode("append").parquet(lake)
    CommitLog.commit(f, lake, 4,
      (CommitLog.dataFileNames(f, lake) -- before2).toSeq.sorted)
    assert(LayoutSink.readCommittedAt(spark, lake, asOf = 4L)
      .count() == 272L) // 300 - 30 deleted + 8888 + 9999
  }

  test("readMorPruned never trusts a stale index: a mergeMor delta " +
    "the index has not seen falls back to the full committed scan — " +
    "updated rows never vanish") {
    import graft.sources.StatsIndex
    val lake = mkLake()
    val idx = lake.stripSuffix("/lake") + "/idx"
    StatsIndex.build(spark, lake, Seq("k"), idx)
    // index is now STALE: the merge appends a delta file it never saw
    DeletionVectors.mergeMor(spark, lake,
      Seq((1005, 888L)).toDF("k", "v"), Seq("k"))
    val ranges = Seq(StatsIndex.LongRange("k", 1000L, 1099L))
    val got = DeletionVectors.readMorPruned(spark, lake, idx, ranges)
      .orderBy("k").select("k", "v").as[(Int, Long)].collect().toSeq
    assert(got.size == 100 && got.contains((1005, 888L)),
      s"stale-index prune dropped the delta row: ${got.size}")
    // a CURRENT index (refreshed over the delta) prunes again
    StatsIndex.refreshSameColumns(spark, lake, idx)
    val got2 = DeletionVectors.readMorPruned(spark, lake, idx, ranges)
      .orderBy("k").select("k", "v").as[(Int, Long)].collect().toSeq
    assert(got2 == got)
  }

  test("mergeMor rejects updates whose schema carries the reserved " +
    "internal names — an evolved delta with them would brick every " +
    "later MoR operation") {
    val lake = mkLake()
    val e = intercept[IllegalArgumentException](
      DeletionVectors.mergeMor(spark, lake,
        Seq((5, 1L, "x")).toDF("k", "v", "__dv_file"),
        Seq("k"), evolveSchema = true))
    assert(e.getMessage.contains("reserved"), e.getMessage)
  }

  test("a DV delete is a MUTATION in the history surface: the mutated " +
    "id itself fails fast (pre/post ambiguity), while snapshots BELOW " +
    "it keep resolving — r10's versioned log") {
    val lake = mkLake()
    // pre-mutation snapshot works
    assert(LayoutSink.readCommittedAt(spark, lake, asOf = 1L)
      .count() == 200L)
    DeletionVectors.deleteMor(spark, lake, "k < 10")
    // the mutation record sweeps nothing, so the pre-mutation history
    // is still fully reconstructable: a MoR delete retires no data
    // file, and the as-of read below the mutation serves the exact
    // pre-delete bytes
    assert(LayoutSink.readCommittedAt(spark, lake, asOf = 1L)
      .count() == 200L)
    // … but the REWRITTEN id is ambiguous between the pinner's
    // pre-mutation snapshot and the post-mutation publish — fail fast
    val e = intercept[IllegalArgumentException](
      LayoutSink.readCommittedAt(spark, lake, asOf = 2L).count())
    assert(e.getMessage.contains("rewrote"), e.getMessage)
    // the as-published addressing serves the post-mutation version at
    // that id, vectors applied
    assert(DeletionVectors.readMorAsOf(spark, lake, asOf = 2L)
      .count() == 290L)
  }

  test("target-sized delta files (r10): a bulk UPDATE/MERGE emits " +
    "⌈n/target⌉ parallel-written delta files that readMor serves " +
    "identically; sparse churn keeps today's single file") {
    val lake = mkLake()
    val f = fs(lake)
    // bulk UPDATE: 150 matched rows, target 40 → 4 delta files
    val before1 = CommitLog.dataFileNames(f, lake)
    val n = DeletionVectors.updateMor(spark, lake, "k % 2 = 0",
      Map("v" -> "v + 7"), targetRowsPerDelta = 40L)
    val delta1 = CommitLog.dataFileNames(f, lake) -- before1
    assert(n == 150L && delta1.size == 4, s"n=$n files=${delta1.size}")
    val got = DeletionVectors.readMor(spark, lake)
    assert(got.count() == 300L)
    // every even-k row updated exactly once, odd-k untouched
    assert(got.filter(col("k") % 2 === 0 && col("v") =!= col("k") * 2 + 7)
      .count() == 0L)
    assert(got.filter(col("k") % 2 === 1 && col("v") =!= col("k") * 2)
      .count() == 0L)
    // sparse MERGE at the default target: ONE delta file (the churn
    // shape the fixed-churn scale cell measures)
    val before2 = CommitLog.dataFileNames(f, lake)
    DeletionVectors.mergeMor(spark, lake,
      Seq((5, -1L)).toDF("k", "v"), Seq("k"))
    assert((CommitLog.dataFileNames(f, lake) -- before2).size == 1)
    // bulk MERGE: 120 update rows, target 50 → 3 delta files
    val before3 = CommitLog.dataFileNames(f, lake)
    val (m, a) = DeletionVectors.mergeMor(spark, lake,
      (0 until 120).map(k => (k, -2L)).toDF("k", "v"), Seq("k"),
      targetRowsPerDelta = 50L)
    assert(m == 100L && a == 120L, s"m=$m a=$a") // keys 100-119 insert
    assert((CommitLog.dataFileNames(f, lake) -- before3).size == 3)
    val end = DeletionVectors.readMor(spark, lake)
    assert(end.count() == 320L)
    assert(end.filter(col("k") < 120 && col("k") >= 0)
      .filter(col("v") =!= -2L).count() == 0L)
  }

  test("a lost localCheckpoint pin mid-verb fails LOUDLY before any " +
    "publish, and the standard retry converges (the executor-loss " +
    "recovery story for the commit-window pins)") {
    val lake = mkLake()
    val f = fs(lake)
    val before = CommitLog.committedView(f, lake)
    // a clause-condition UDF that, ONCE, drops every pinned
    // (localCheckpoint'd) RDD's blocks mid-prepare — in local mode the
    // task thread shares the JVM, so this is exactly what an executor
    // loss does to a pin: the blocks vanish and, lineage being
    // truncated, the NEXT pass over the pin cannot recompute
    spark.udf.register("graft_kill_pins",
      udf { (v: Long) =>
        if (PinKillSwitch.armed.compareAndSet(true, false)) {
          val sc = org.apache.spark.SparkContext.getOrCreate()
          sc.getPersistentRDDs.values
            .foreach(_.unpersist(blocking = false))
        }
        v >= 0L
      }.asNondeterministic())
    PinKillSwitch.armed.set(true)
    val src = (0 until 50).map(k => (k * 2, k.toLong)).toDF("k", "v")
    def run(): (Long, Long) = DeletionVectors.mergeClausesMor(spark,
      lake, src, Seq("k"),
      matched = Seq(MergeInto.MatchedUpdate(Map("v" -> "t.v + 1"),
        condition = Some("graft_kill_pins(s.v)"))),
      notMatched = Seq(MergeInto.NotMatchedInsert()))
    val failed =
      try { run(); false }
      catch { case _: org.apache.spark.SparkException => true }
    assert(failed, "the verb must fail loudly when a pin's blocks die " +
      "mid-verb (silent success would mean it recomputed a truncated " +
      "lineage — impossible — or served wrong data)")
    // nothing published: committed view and coverage are untouched
    assert(CommitLog.committedView(f, lake) == before,
      "a pin-loss failure must leave no published trace")
    // the retry (what an OCC caller does on any pre-publish failure)
    // converges to the correct merge
    assert(!PinKillSwitch.armed.get)
    val (marked, appended) = run()
    assert(marked == 50 && appended == 50)
    val got = DeletionVectors.readMor(spark, lake)
      .filter(col("k") % 2 === 0 && col("k") < 100)
      .agg(sum(col("v"))).head.getLong(0)
    // evens 0..98: matched ones got v+1, the rest inserted v = k/2
    val expect = (0 until 50).map { k2 =>
      val k = k2 * 2
      if (k < 100) k.toLong * 2 + 1 else k2.toLong
    }.sum
    assert(got == expect)
  }

  /** The plain committed read of `dir` minus the covered sidecars read
    * the way the MoR path read them before the memo: the sidecar
    * parquet, `distinct`, resolved local-first through a clone source. */
  private def sidecarReadView(dir: String, src: Option[String] = None)
      : Set[(Int, Long)] = {
    val f = fs(dir)
    val (files, dv) = CommitLog.committedView(f, dir)
    val base = spark.read.parquet(CommitLog.resolveDataPaths(f, dir,
        files.toSeq.sorted): _*)
      .withColumn("file", element_at(split(col("_metadata.file_path"), "/"),
        -1))
      .withColumn("pos", col("_metadata.row_index"))
    val live =
      if (dv.isEmpty) base
      else base.join(spark.read.parquet(dv.toSeq.sorted.map { n =>
        val local = s"${DeletionVectors.dvDir(dir)}/$n"
        if (f.exists(new Path(local))) local
        else s"${DeletionVectors.dvDir(src.get)}/$n"
      }: _*).select("file", "pos").distinct(), Seq("file", "pos"),
        "left_anti")
    live.select("k", "v").as[(Int, Long)].collect().toSet
  }

  private def morView(dir: String): Set[(Int, Long)] =
    DeletionVectors.readMor(spark, dir).select("k", "v").as[(Int, Long)]
      .collect().toSet

  test("warm merge-on-read reads run only the query's own jobs: no " +
    "schema inference, no sidecar read, no distinct over the vectors") {
    import graft.sources.StatsIndex
    val lake = mkLake()
    val f = fs(lake)
    val idx = lake.stripSuffix("/lake") + "/idx"
    StatsIndex.build(spark, lake, Seq("k"), idx)
    DeletionVectors.deleteMor(spark, lake, "k % 10 = 3")
    val asOf = CommitLog.maxCommittedId(f, lake)
    val reads: Seq[(String, () => org.apache.spark.sql.DataFrame)] = Seq(
      "readMor" -> (() => DeletionVectors.readMor(spark, lake)),
      "readMorAsOf" -> (() => DeletionVectors.readMorAsOf(spark, lake, asOf)),
      "readMorPruned" -> (() => DeletionVectors.readMorPruned(spark, lake,
        idx, Seq(StatsIndex.LongRange("k", 1000L, 1099L)))))
    reads.foreach(_._2().count()) // warm the memos
    // the same count over the committed files with no vectors at all
    val plain = spark.read.schema(DeletionVectors.readMor(spark, lake).schema)
      .parquet(CommitLog.resolveDataPaths(f, lake,
        CommitLog.committedNames(f, lake).toSeq.sorted): _*)
    val own = jobsOf(plain.count(): Unit)
    for ((what, read) <- reads) {
      var df: org.apache.spark.sql.DataFrame = null
      val planning = jobsOf { df = read() }
      assert(planning == 0, s"$what ran $planning jobs before its action")
      // beyond the plain count: only the broadcast of the in-memory
      // vector set (a collect of local rows, no input)
      val counting = jobsOf(df.count(): Unit)
      assert(counting <= own + 1,
        s"$what's count ran $counting jobs, a plain count $own")
    }
  }

  test("the read schema is Spark's inference on an evolved lake whose " +
    "first file lacks later columns, with and without mergeSchema") {
    val lake = Files.createTempDirectory("graft_dv_evo_").toString + "/lake"
    val f = fs(lake)
    // named files, so the one lacking `w` and `z` sorts first
    def put(name: String, df: org.apache.spark.sql.DataFrame,
        id: Long): Unit = {
      val tmp = s"${lake}_$id"
      df.coalesce(1).write.parquet(tmp)
      val part = f.listStatus(new Path(tmp)).map(_.getPath)
        .find(_.getName.endsWith(".parquet")).get
      f.mkdirs(new Path(lake))
      assert(f.rename(part, new Path(lake, name)))
      CommitLog.commit(f, lake, id, Seq(name))
    }
    put("p0.parquet", Seq((1, 10L)).toDF("k", "v"), 0)
    put("p1.parquet", Seq((2, 20L, "b")).toDF("k", "v", "w"), 1)
    put("p2.parquet", Seq((0.5, 3)).toDF("z", "k"), 2)
    DeletionVectors.deleteMor(spark, lake, "k = 2")
    val paths = Seq("p0", "p1", "p2").map(n => s"$lake/$n.parquet")
    for (merge <- Seq(false, true); pass <- 1 to 2) {
      val rdr = if (merge) spark.read.option("mergeSchema", "true")
        else spark.read
      val want = rdr.parquet(paths: _*)
      val got = DeletionVectors.readMor(spark, lake, mergeSchema = merge)
      assert(got.schema == want.schema,
        s"mergeSchema=$merge pass $pass: ${got.schema} vs ${want.schema}")
      assert(got.collect().toSet ==
        want.filter(col("k") =!= 2).collect().toSet)
    }
    assert(DeletionVectors.readMor(spark, lake).columns.toSeq == Seq("k", "v"))
  }

  test("the vector frame is the sidecar read and distinct: duplicate " +
    "pairs across sidecars, a shallow clone's source sidecars, and " +
    "after compact retires them") {
    import graft.sources.Clone
    val lake = mkLake()
    val f = fs(lake)
    DeletionVectors.deleteMor(spark, lake, "k < 10")
    // a second sidecar repeating five pairs of the first and adding
    // five, covered beside it
    spark.read.parquet(CommitLog.resolveDataPaths(f, lake,
        CommitLog.committedNames(f, lake).toSeq.sorted): _*)
      .filter(col("k").between(5, 14))
      .select(element_at(split(col("_metadata.file_path"), "/"), -1)
        .as("file"), col("_metadata.row_index").as("pos"))
      .coalesce(1).write.mode("append").parquet(DeletionVectors.dvDir(lake))
    CommitLog.commitMutationCheckpoint(f, lake,
      CommitLog.maxCommittedId(f, lake),
      CommitLog.committedNames(f, lake).toSeq.sorted,
      dvNames = CommitLog.dataFileNames(f, DeletionVectors.dvDir(lake))
        .toSeq.sorted)
    assert(CommitLog.coveredDvNames(f, lake).size == 2)
    for (_ <- 1 to 2) {
      assert(morView(lake) == sidecarReadView(lake))
      assert(morView(lake).size == 285)
    }
    // a shallow clone reads the source's sidecars, then its own too
    val dst = lake.stripSuffix("/lake") + "/branch"
    Clone.shallow(spark, lake, dst)
    assert(morView(dst) == sidecarReadView(dst, Some(lake)))
    DeletionVectors.deleteMor(spark, dst, "k = 2050")
    assert(morView(dst) == sidecarReadView(dst, Some(lake)))
    assert(morView(dst).size == 284)
    // compact applies and retires the sidecars: no memo entry survives
    DeletionVectors.compact(spark, lake)
    assert(!DeletionVectors.hasDvs(f, lake))
    assert(morView(lake) == sidecarReadView(lake))
    assert(morView(lake).size == 285)
    DeletionVectors.deleteMor(spark, lake, "k = 1050")
    assert(morView(lake) == sidecarReadView(lake))
    assert(morView(lake).size == 284)
  }

  test("a cursor whose sidecar was vacuumed still fails the read " +
    "loudly, memo warm or not") {
    val lake = mkLake()
    val f = fs(lake)
    DeletionVectors.deleteMor(spark, lake, "k < 5")
    val cur = DeletionVectors.cursor(spark, lake)
    assert(DeletionVectors.readMorAt(spark, lake, cur).count() == 295L)
    val sidecar = cur.dvFiles.head
    f.delete(new Path(DeletionVectors.dvDir(lake), sidecar), false)
    val e = intercept[Exception](
      DeletionVectors.readMorAt(spark, lake, cur).count())
    assert(e.getMessage.contains(sidecar), e.getMessage)
  }

  test("above the broadcast bound the read keeps the distributed " +
    "vector frame and returns the same rows") {
    import org.apache.spark.sql.catalyst.plans.LeftAnti
    import org.apache.spark.sql.catalyst.plans.logical.Join
    val lake = mkLake()
    DeletionVectors.deleteMor(spark, lake, "k % 10 = 3")
    // below the bound the vectors are a row filter: no join at all;
    // above it, the anti-join against the distributed sidecar frame
    def joins(df: org.apache.spark.sql.DataFrame): Seq[Join] =
      df.queryExecution.analyzed.collect { case j: Join => j }
    def local(df: org.apache.spark.sql.DataFrame): Boolean = {
      val js = joins(df)
      assert(js.isEmpty || js.exists(_.joinType == LeftAnti))
      js.isEmpty
    }
    val want = morView(lake)
    assert(want.size == 270)
    assert(local(DeletionVectors.readMor(spark, lake)))
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val old = spark.conf.get(key)
    // 30 pairs estimate at 36 bytes each: 1080 bytes
    spark.conf.set(key, "1000")
    try {
      assert(!local(DeletionVectors.readMor(spark, lake)))
      assert(morView(lake) == want)
    } finally spark.conf.set(key, old)
  }
}

/** JVM-global kill switch for the pin-loss spec: closures are
  * serialized per task even in local mode, so an instance field would
  * reset per copy — an object field is a per-JVM static. */
object PinKillSwitch {
  val armed = new java.util.concurrent.atomic.AtomicBoolean(false)
}
