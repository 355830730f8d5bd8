package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.sources.{CommitLog, DeletionVectors, IncrementalView}

/** Incrementally-maintained materialized aggregates: refresh applies
  * only the row-level change feed, matches a full recompute
  * bit-exactly on integral columns, survives crashes at the publish
  * boundary, and degrades to a full rebuild when a physical rewrite
  * breaks row-level tracking. */
class IncrementalViewSpec extends SparkSpec {
  import spark.implicits._

  private def fs(dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Committed lake of (k, g, v): 300 rows, g = k % 3 groups. */
  private def mkLake(): String = {
    val lake = Files.createTempDirectory("graft_iv_").toString + "/lake"
    val f = fs(lake)
    for (b <- 0 to 2) {
      val before = CommitLog.dataFileNames(f, lake)
      (0 until 100).map(b * 1000 + _)
        .map(k => (k, s"g${k % 3}", k.toLong))
        .toDF("k", "g", "v")
        .coalesce(1).write.mode("append").parquet(lake)
      CommitLog.commit(f, lake, b,
        (CommitLog.dataFileNames(f, lake) -- before).toSeq.sorted)
    }
    lake
  }

  private def recompute(lake: String) =
    DeletionVectors.readMor(spark, lake)
      .groupBy("g").agg(count(lit(1)).as("n"), sum("v").as("sum_v"))
      .orderBy("g").as[(String, Long, Long)].collect().toSeq

  private def view(dir: String) =
    IncrementalView.readView(spark, dir)
      .orderBy("g").as[(String, Long, Long)].collect().toSeq

  test("full build, then incremental refreshes across MoR delete/" +
    "update/merge windows — each equals the full recompute bit-exactly") {
    val lake = mkLake()
    val dir = Files.createTempDirectory("graft_ivv_").toString + "/view"
    val s0 = IncrementalView.refresh(spark, lake, dir,
      Seq("g"), Seq("v"))
    assert(s0 == IncrementalView.RefreshStats("full", 3))
    assert(view(dir) == recompute(lake))
    // window 1: sparse delete + update
    DeletionVectors.deleteMor(spark, lake, "k % 10 = 4")
    DeletionVectors.updateMor(spark, lake, "k % 10 = 6",
      Map("v" -> "v + 1000000"))
    val s1 = IncrementalView.refresh(spark, lake, dir,
      Seq("g"), Seq("v"))
    assert(s1.mode == "incremental" && s1.groupsTouched > 0)
    assert(view(dir) == recompute(lake), "window 1 drifted")
    // window 2: merge-insert new rows (a NEW group appears)
    DeletionVectors.mergeMor(spark, lake,
      (5000 until 5050).map(k => (k, "g9", 7L)).toDF("k", "g", "v"),
      Seq("k"))
    val s2 = IncrementalView.refresh(spark, lake, dir,
      Seq("g"), Seq("v"))
    assert(s2.mode == "incremental")
    assert(view(dir) == recompute(lake), "window 2 drifted")
    assert(view(dir).exists(_._1 == "g9"), "new group must appear")
    // window 3: the new group dies entirely → its row must drop
    DeletionVectors.deleteMor(spark, lake, "g = 'g9'")
    val s3 = IncrementalView.refresh(spark, lake, dir,
      Seq("g"), Seq("v"))
    assert(s3.mode == "incremental")
    assert(view(dir) == recompute(lake))
    assert(!view(dir).exists(_._1 == "g9"), "dead group must drop")
    // empty window: nothing touched, view unchanged
    val s4 = IncrementalView.refresh(spark, lake, dir,
      Seq("g"), Seq("v"))
    assert(s4 == IncrementalView.RefreshStats("incremental", 0))
    assert(view(dir) == recompute(lake))
  }

  test("refreshFeed stays INCREMENTAL across CoW DML and a compact — " +
    "the verbs that force refresh() into a full rebuild") {
    import graft.sources.{ChangeDataFeed, MergeInto}
    val lake = mkLake()
    ChangeDataFeed.enable(spark, lake)
    val dir = Files.createTempDirectory("graft_ivf_").toString + "/view"
    val s0 = IncrementalView.refreshFeed(spark, lake, dir,
      Seq("g"), Seq("v"), minMaxCols = Seq("v"))
    assert(s0 == IncrementalView.RefreshStats("full", 3))
    // CoW update + delete: position tracking dies here; the feed
    // serves pre/post images instead
    MergeInto.update(spark, lake, "k % 10 = 6",
      Map("v" -> "v + 1000000"))
    MergeInto.delete(spark, lake, "k % 10 = 4")
    val s1 = IncrementalView.refreshFeed(spark, lake, dir,
      Seq("g"), Seq("v"), minMaxCols = Seq("v"))
    assert(s1.mode == "incremental", s1.toString)
    def mmRecompute() = DeletionVectors.readMor(spark, lake)
      .groupBy("g").agg(count(lit(1)).as("n"), sum("v").as("sum_v"),
        min("v").as("min_v"), max("v").as("max_v"))
      .orderBy("g").as[(String, Long, Long, Long, Long)].collect().toSeq
    def mmView() = IncrementalView.readView(spark, dir)
      .select(col("g"), col("n"), col("sum_v"), col("min_v"),
        col("max_v"))
      .orderBy("g").as[(String, Long, Long, Long, Long)].collect().toSeq
    assert(mmView() == mmRecompute())
    // MoR delete + physical compact (kills refresh()'s cursor; the
    // feed stamps an empty segment) + a clause-merge insert
    DeletionVectors.deleteMor(spark, lake, "k = 1001")
    DeletionVectors.compact(spark, lake)
    MergeInto.mergeClauses(spark, lake,
      Seq((9999, "g0", -5L)).toDF("k", "g", "v"), Seq("k"),
      notMatched = Seq(MergeInto.NotMatchedInsert()))
    val s2 = IncrementalView.refreshFeed(spark, lake, dir,
      Seq("g"), Seq("v"), minMaxCols = Seq("v"))
    assert(s2.mode == "incremental", s2.toString)
    assert(mmView() == mmRecompute())
    // min_v of g0 must now be the inserted -5 (monotonic fold-in)
    assert(mmView().find(_._1 == "g0").get._4 == -5L)
  }

  test("refreshFeed degrades to a FULL rebuild only on a typed " +
    "unservable window (RESTORE), and cursor kinds do not mix") {
    import graft.sources.{ChangeDataFeed, MergeInto}
    val lake = mkLake()
    ChangeDataFeed.enable(spark, lake)
    val dir = Files.createTempDirectory("graft_ivf2_").toString + "/view"
    IncrementalView.refreshFeed(spark, lake, dir, Seq("g"), Seq("v"))
    DeletionVectors.deleteMor(spark, lake, "k = 7")
    CommitLog.restore(fs(lake), lake, 1L) // no change data, by design
    MergeInto.update(spark, lake, "k = 3", Map("v" -> "0"))
    val s = IncrementalView.refreshFeed(spark, lake, dir,
      Seq("g"), Seq("v"))
    assert(s.mode == "full", s.toString)
    assert(view(dir) == recompute(lake))
    // a refresh()-maintained view rejects the feed cursor loudly
    val dir2 = Files.createTempDirectory("graft_ivf3_").toString + "/view"
    IncrementalView.refresh(spark, lake, dir2, Seq("g"), Seq("v"))
    val e = intercept[IllegalArgumentException] {
      IncrementalView.refreshFeed(spark, lake, dir2, Seq("g"), Seq("v"))
    }
    assert(e.getMessage.contains("do not mix"), e.getMessage)
  }

  test("a crash between generation write and pointer publish changes " +
    "nothing; the re-run applies the same window exactly once") {
    val lake = mkLake()
    val dir = Files.createTempDirectory("graft_ivc_").toString + "/view"
    IncrementalView.refresh(spark, lake, dir, Seq("g"), Seq("v"))
    val before = view(dir)
    DeletionVectors.deleteMor(spark, lake, "k % 7 = 0")
    intercept[RuntimeException](IncrementalView.refresh(spark, lake,
      dir, Seq("g"), Seq("v"), failBeforePublish = true))
    // old pair intact: view unchanged, cursor unadvanced
    assert(view(dir) == before, "crashed refresh leaked")
    val s = IncrementalView.refresh(spark, lake, dir, Seq("g"), Seq("v"))
    assert(s.mode == "incremental")
    assert(view(dir) == recompute(lake), "re-run double-applied")
    // debris swept: exactly one generation dir remains
    assert(fs(dir).listStatus(new Path(dir))
      .count(_.getPath.getName.startsWith("gen-")) == 1)
  }

  test("UpsertSink(mor = true, view = …) maintains the aggregate " +
    "across micro-batches ≡ recompute, and a checkpoint-wiped replay " +
    "converges (replayed windows net to zero per group)") {
    val lake = mkLake()
    val dir = Files.createTempDirectory("graft_ivs_").toString
    val upd = spark.range(0, 3000)
      .filter(col("id") % 5 === 0 && col("id") % 1000 < 100)
      .selectExpr("CAST(id AS INT) AS k",
        "concat('g', CAST(id % 3 AS STRING)) AS g", "-id AS v")
    val ins = spark.range(5000, 5040)
      .selectExpr("CAST(id AS INT) AS k",
        "'g9' AS g", "id AS v")
    upd.unionByName(ins).repartition(4).write.parquet(s"$dir/in")
    val schema = spark.read.parquet(s"$dir/in").schema
    def run(ckp: String): Unit = {
      val q = graft.streaming.UpsertSink.start(
        spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(s"$dir/in"),
        lake, ckp, Seq("k"), mor = true,
        view = Some(graft.streaming.UpsertSink.ViewSpec(
          s"$dir/view", Seq("g"), Seq("v"))))
      q.awaitTermination()
    }
    run(s"$dir/ckp1")
    assert(view(s"$dir/view") == recompute(lake),
      "stream-maintained view drifted from the recompute")
    assert(view(s"$dir/view").exists(_._1 == "g9"))
    // replay from a wiped checkpoint: every batch re-merges MoR and
    // re-refreshes — replayed deltas cancel (old delta rows die, twins
    // append), so the view converges to the identical rows
    val before = view(s"$dir/view")
    run(s"$dir/ckp2")
    assert(view(s"$dir/view") == before, "replayed stream moved the view")
    assert(view(s"$dir/view") == recompute(lake))
  }

  test("a physical rewrite (compact) trips the feed guard and refresh " +
    "degrades to a correct full rebuild") {
    val lake = mkLake()
    val dir = Files.createTempDirectory("graft_ivf_").toString + "/view"
    IncrementalView.refresh(spark, lake, dir, Seq("g"), Seq("v"))
    DeletionVectors.deleteMor(spark, lake, "k % 10 = 1")
    DeletionVectors.compact(spark, lake) // retires cursor-era names
    val s = IncrementalView.refresh(spark, lake, dir, Seq("g"), Seq("v"))
    assert(s.mode == "full", "guard must force the rebuild")
    assert(view(dir) == recompute(lake))
    // and the rebuild re-pins: the next window is incremental again
    DeletionVectors.deleteMor(spark, lake, "k % 10 = 2")
    val s2 = IncrementalView.refresh(spark, lake, dir, Seq("g"), Seq("v"))
    assert(s2.mode == "incremental")
    assert(view(dir) == recompute(lake))
  }

  private def recomputeMM(lake: String) =
    DeletionVectors.readMor(spark, lake)
      .groupBy("g").agg(count(lit(1)).as("n"), sum("v").as("sum_v"),
        min("v").as("min_v"), max("v").as("max_v"))
      .orderBy("g").as[(String, Long, Long, Long, Long)].collect().toSeq

  private def viewMM(dir: String) =
    IncrementalView.readView(spark, dir)
      .select("g", "n", "sum_v", "min_v", "max_v")
      .orderBy("g").as[(String, Long, Long, Long, Long)].collect().toSeq

  test("min/max maintenance (r10): insert extrema fold in, a deleted " +
    "extremum forces the touched group's rescan, a dead group drops, " +
    "and avg derives from (n, sum)") {
    val lake = mkLake()
    val dir = Files.createTempDirectory("graft_ivm_").toString + "/view"
    IncrementalView.refresh(spark, lake, dir, Seq("g"), Seq("v"),
      minMaxCols = Seq("v"))
    assert(viewMM(dir) == recomputeMM(lake))
    // window 1: kill group g0's MINIMUM (k = 0 is v = 0, the global
    // min of g0) plus a band; insert a new MAXIMUM into g1
    DeletionVectors.deleteMor(spark, lake, "v < 30")
    DeletionVectors.mergeMor(spark, lake,
      Seq((7001, "g1", 9999999L)).toDF("k", "g", "v"), Seq("k"))
    val s1 = IncrementalView.refresh(spark, lake, dir, Seq("g"),
      Seq("v"), minMaxCols = Seq("v"))
    assert(s1.mode == "incremental")
    assert(viewMM(dir) == recomputeMM(lake), "window 1 drifted")
    // window 2: insert-only — min/max fold monotonically, no rescan
    DeletionVectors.mergeMor(spark, lake,
      Seq((7002, "g2", -5L)).toDF("k", "g", "v"), Seq("k"))
    val s2 = IncrementalView.refresh(spark, lake, dir, Seq("g"),
      Seq("v"), minMaxCols = Seq("v"))
    assert(s2.mode == "incremental")
    assert(viewMM(dir) == recomputeMM(lake), "window 2 drifted")
    // window 3: a whole group dies — its view row must drop
    DeletionVectors.deleteMor(spark, lake, "g = 'g2'")
    val s3 = IncrementalView.refresh(spark, lake, dir, Seq("g"),
      Seq("v"), minMaxCols = Seq("v"))
    assert(s3.mode == "incremental")
    assert(viewMM(dir) == recomputeMM(lake), "window 3 drifted")
    assert(!viewMM(dir).exists(_._1 == "g2"))
    // derived averages: one double division over the exact pair
    val avgs = IncrementalView.readViewWithAvgs(spark, dir, Seq("v"))
      .select("g", "avg_v").orderBy("g").as[(String, Double)]
      .collect().toSeq
    val expect = viewMM(dir).map(r => (r._1, r._3.toDouble / r._2))
    assert(avgs == expect)
    // the column set is part of the view's identity
    val e = intercept[IllegalArgumentException] {
      IncrementalView.refresh(spark, lake, dir, Seq("g"), Seq("v"))
    }
    assert(e.getMessage.contains("different columns"), e.getMessage)
  }

  test("min/max rescan narrowing (r15): interior deletes skip the " +
    "rescan and stay exact; a TIE with the stored extremum rescans " +
    "(a surviving duplicate keeps the bound); a row born AND dead " +
    "outside the stored bounds inside one feed window stays exact") {
    import graft.sources.ChangeDataFeed
    val lake = mkLake()
    val dir = Files.createTempDirectory("graft_ivn_").toString + "/view"
    IncrementalView.refresh(spark, lake, dir, Seq("g"), Seq("v"),
      minMaxCols = Seq("v"))
    // (a) interior-only deletes: every removed v sits strictly inside
    // every group's stored (min, max) — the skip path must still equal
    // the recompute
    DeletionVectors.deleteMor(spark, lake, "v >= 30 AND v < 60")
    val sA = IncrementalView.refresh(spark, lake, dir, Seq("g"),
      Seq("v"), minMaxCols = Seq("v"))
    assert(sA.mode == "incremental")
    assert(viewMM(dir) == recomputeMM(lake), "interior-delete skip drifted")
    // (b) TIE case: plant a duplicate of g0's minimum, fold it in,
    // then delete exactly ONE of the two copies — the tie trips the
    // rescan and the surviving copy keeps min_v unchanged
    val g0min = recomputeMM(lake).find(_._1 == "g0").get._4
    DeletionVectors.mergeMor(spark, lake,
      Seq((8001, "g0", g0min)).toDF("k", "g", "v"), Seq("k"))
    IncrementalView.refresh(spark, lake, dir, Seq("g"), Seq("v"),
      minMaxCols = Seq("v"))
    DeletionVectors.deleteMor(spark, lake, "k = 8001")
    val sB = IncrementalView.refresh(spark, lake, dir, Seq("g"),
      Seq("v"), minMaxCols = Seq("v"))
    assert(sB.mode == "incremental")
    assert(viewMM(dir) == recomputeMM(lake), "tie-delete drifted")
    assert(viewMM(dir).find(_._1 == "g0").get._4 == g0min,
      "the surviving duplicate must keep the stored minimum")
    // (c) feed window where a row is born ABOVE the stored max and
    // dies in the SAME window: the non-net feed carries both images;
    // the fold must not leak the dead row's extremum (MoR verbs — the
    // lake carries covered vectors, which gate CoW DML)
    ChangeDataFeed.enable(spark, lake)
    val fdir = Files.createTempDirectory("graft_ivnf_").toString + "/view"
    IncrementalView.refreshFeed(spark, lake, fdir, Seq("g"), Seq("v"),
      minMaxCols = Seq("v"))
    DeletionVectors.mergeMor(spark, lake,
      Seq((9001, "g1", 77777777L)).toDF("k", "g", "v"), Seq("k"))
    DeletionVectors.deleteMor(spark, lake, "k = 9001")
    val sC = IncrementalView.refreshFeed(spark, lake, fdir, Seq("g"),
      Seq("v"), minMaxCols = Seq("v"))
    assert(sC.mode == "incremental")
    def fview() = IncrementalView.readView(spark, fdir)
      .select(col("g"), col("n"), col("sum_v"), col("min_v"),
        col("max_v"))
      .orderBy("g").as[(String, Long, Long, Long, Long)].collect().toSeq
    assert(fview() == recomputeMM(lake),
      "a born-and-dead out-of-bounds row leaked into the fold")
  }

  /** Committed lake of (k, g, v, d): 60 rows, g NULL where k % 3 = 0,
    * d = k % 4. */
  private def mkNullKeyLake(): String = {
    val lake = Files.createTempDirectory("graft_ivnull_").toString + "/lake"
    val f = fs(lake)
    (0 until 60).map(k => (k, if (k % 3 == 0) null else s"g${k % 3}",
        k.toLong, k % 4))
      .toDF("k", "g", "v", "d").coalesce(1).write.parquet(lake)
    CommitLog.commit(f, lake, 0, CommitLog.dataFileNames(f, lake).toSeq.sorted)
    lake
  }

  test("a NULL-keyed group whose extremum row is deleted is rescanned " +
    "like any other group, in refresh and refreshFeed alike") {
    import graft.sources.ChangeDataFeed
    val lake = mkNullKeyLake()
    ChangeDataFeed.enable(spark, lake)
    val dir = Files.createTempDirectory("graft_ivnv_").toString + "/view"
    val fdir = Files.createTempDirectory("graft_ivnfv_").toString + "/view"
    def refreshBoth() = Seq(
      IncrementalView.refresh(spark, lake, dir, Seq("g"), Seq("v"),
        minMaxCols = Seq("v")),
      IncrementalView.refreshFeed(spark, lake, fdir, Seq("g"), Seq("v"),
        minMaxCols = Seq("v")))
    refreshBoth()
    assert(viewMM(dir) == recomputeMM(lake))
    // k = 0 and k = 57 hold the NULL group's minimum and maximum
    DeletionVectors.deleteMor(spark, lake, "k = 0 OR k = 57")
    assert(refreshBoth().forall(_.mode == "incremental"))
    val want = recomputeMM(lake)
    assert(want.find(_._1 == null).map(r => (r._4, r._5)) == Some((3L, 54L)))
    assert(viewMM(dir) == want, "refresh kept a stale NULL-group extremum")
    assert(viewMM(fdir) == want,
      "refreshFeed kept a stale NULL-group extremum")
  }

  test("count(DISTINCT) of a NULL-keyed group is its real count, on the " +
    "full build and after an incremental refresh") {
    val lake = mkNullKeyLake()
    val dir = Files.createTempDirectory("graft_ivnd0_").toString + "/view"
    def refresh() = IncrementalView.refresh(spark, lake, dir, Seq("g"),
      Seq("v"), distinctCols = Seq("d"))
    def got() = IncrementalView.readView(spark, dir)
      .select("g", "n", "nd_d")
      .orderBy("g").as[(String, Long, Long)].collect().toSeq
    def want() = DeletionVectors.readMor(spark, lake)
      .groupBy("g").agg(count(lit(1)), countDistinct("d"))
      .orderBy("g").as[(String, Long, Long)].collect().toSeq
    assert(refresh().mode == "full")
    assert(want().head == ((null, 20L, 4L)))
    assert(got() == want(), "full build")
    // k = 3 holds the NULL group's only d = 3 among k < 12
    DeletionVectors.deleteMor(spark, lake, "k IN (3, 15, 27, 39, 51)")
    assert(refresh().mode == "incremental")
    assert(want().head == ((null, 15L, 3L)))
    assert(got() == want(), "incremental refresh")
  }

  test("UpsertSink ViewSpec(minMaxCols) maintains min/max through the " +
    "stream: replaced extrema rescan their groups per batch") {
    val lake = mkLake()
    val dir = Files.createTempDirectory("graft_ivsm_").toString
    // updates REPLACE low-v rows with large values (old minima die in
    // the feed → per-batch delete-touched rescans) and add a new group
    val upd = spark.range(0, 60)
      .selectExpr("CAST(id AS INT) AS k",
        "concat('g', CAST(id % 3 AS STRING)) AS g", "id + 100000 AS v")
    val ins = spark.range(5000, 5020)
      .selectExpr("CAST(id AS INT) AS k", "'g9' AS g", "-id AS v")
    upd.unionByName(ins).repartition(3).write.parquet(s"$dir/in")
    val schema = spark.read.parquet(s"$dir/in").schema
    val q = graft.streaming.UpsertSink.start(
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$dir/in"),
      lake, s"$dir/ckp", Seq("k"), mor = true,
      view = Some(graft.streaming.UpsertSink.ViewSpec(
        s"$dir/view", Seq("g"), Seq("v"), minMaxCols = Seq("v"))))
    q.awaitTermination()
    assert(viewMM(s"$dir/view") == recomputeMM(lake),
      "stream-maintained min/max view drifted from the recompute")
    assert(viewMM(s"$dir/view").exists(r => r._1 == "g9" && r._4 < 0))
  }


  // ---- exact COUNT(DISTINCT) maintenance (distinctCols) -------------

  private def recomputeNd(lake: String) =
    DeletionVectors.readMor(spark, lake)
      .groupBy("g").agg(count(lit(1)).as("n"), sum("v").as("sum_v"),
        countDistinct(col("d")).as("nd_d"))
      .orderBy("g").as[(String, Long, Long, Long)].collect().toSeq

  private def viewNd(dir: String) =
    IncrementalView.readView(spark, dir)
      .select(col("g"), col("n"), col("sum_v"), col("nd_d"))
      .orderBy("g").as[(String, Long, Long, Long)].collect().toSeq

  /** Lake of (k, g, v, d): d has heavy duplication inside groups, so
    * refcounts genuinely exceed 1 and deletes must NOT drop a value
    * that other rows still hold. */
  private def mkNdLake(): String = {
    val lake = Files.createTempDirectory("graft_ivnd_").toString + "/lake"
    val f = fs(lake)
    for (b <- 0 to 1) {
      val before = CommitLog.dataFileNames(f, lake)
      (0 until 150).map(b * 1000 + _)
        .map(k => (k, s"g${k % 3}", k.toLong,
          if (k % 7 == 0) null else s"src${k % 5}"))
        .toDF("k", "g", "v", "d")
        .coalesce(1).write.mode("append").parquet(lake)
      CommitLog.commit(f, lake, b,
        (CommitLog.dataFileNames(f, lake) -- before).toSeq.sorted)
    }
    lake
  }

  test("distinctCols maintains count(DISTINCT) EXACTLY across delete/" +
    "update/merge windows — including a value dying in one group " +
    "while surviving in another, with no rescan needed") {
    val lake = mkNdLake()
    val dir = Files.createTempDirectory("graft_ivndv_").toString + "/view"
    val s0 = IncrementalView.refresh(spark, lake, dir, Seq("g"),
      Seq("v"), distinctCols = Seq("d"))
    assert(s0.mode == "full")
    assert(viewNd(dir) == recomputeNd(lake))
    // window 1: delete EVERY row holding one value inside one group
    // (src1 in g0 ⇔ k % 15 == 6... enumerate: kill d='src1' rows in g0)
    DeletionVectors.deleteMor(spark, lake,
      "g = 'g0' AND k % 5 = 1 AND k % 7 <> 0")
    val s1 = IncrementalView.refresh(spark, lake, dir, Seq("g"),
      Seq("v"), distinctCols = Seq("d"))
    assert(s1.mode == "incremental")
    assert(viewNd(dir) == recomputeNd(lake), "window 1 drifted")
    val g0 = viewNd(dir).find(_._1 == "g0").get
    val g1 = viewNd(dir).find(_._1 == "g1").get
    assert(g0._4 == g1._4 - 1,
      s"src1 must vanish from g0 only ($g0 vs $g1)")
    // window 2: a MoR update rewrites d for some rows — the update's
    // delete(old)+insert(new) images move refcounts between values
    DeletionVectors.updateMor(spark, lake, "k % 10 = 2",
      Map("d" -> "'srcX'"))
    val s2 = IncrementalView.refresh(spark, lake, dir, Seq("g"),
      Seq("v"), distinctCols = Seq("d"))
    assert(s2.mode == "incremental")
    assert(viewNd(dir) == recomputeNd(lake), "window 2 drifted")
    // window 3: merge-inserts re-add the g0 value killed in window 1
    // (refcount resurrects from 0) plus a brand-new group
    DeletionVectors.mergeMor(spark, lake,
      Seq((9001, "g0", 1L, "src1"), (9002, "g7", 2L, "src1"),
        (9003, "g7", 3L, null.asInstanceOf[String]))
        .toDF("k", "g", "v", "d"), Seq("k"))
    val s3 = IncrementalView.refresh(spark, lake, dir, Seq("g"),
      Seq("v"), distinctCols = Seq("d"))
    assert(s3.mode == "incremental")
    assert(viewNd(dir) == recomputeNd(lake), "window 3 drifted")
    assert(viewNd(dir).find(_._1 == "g7").get._4 == 1L,
      "NULL never counts toward distinct")
    // empty window is a no-op
    IncrementalView.refresh(spark, lake, dir, Seq("g"), Seq("v"),
      distinctCols = Seq("d"))
    assert(viewNd(dir) == recomputeNd(lake))
    // column pinning: dropping distinctCols on a later refresh fails
    val e = intercept[IllegalArgumentException] {
      IncrementalView.refresh(spark, lake, dir, Seq("g"), Seq("v"))
    }
    assert(e.getMessage.contains("different columns"))
  }

  test("distinctCols through refreshFeed: stays incremental across a " +
    "CoW update (the verb that breaks position cursors) and matches " +
    "the recompute") {
    import graft.sources.{ChangeDataFeed, MergeInto}
    val lake = mkNdLake()
    ChangeDataFeed.enable(spark, lake)
    val dir = Files.createTempDirectory("graft_ivndf_").toString + "/view"
    val s0 = IncrementalView.refreshFeed(spark, lake, dir, Seq("g"),
      Seq("v"), distinctCols = Seq("d"))
    assert(s0.mode == "full")
    assert(viewNd(dir) == recomputeNd(lake))
    // CoW UPDATE rewrites files — position cursors would die here;
    // the feed serves it as pre/post images and refcounts move
    MergeInto.update(spark, lake, "k % 10 = 3",
      Map("d" -> "'cowX'", "v" -> "v + 10"))
    val s1 = IncrementalView.refreshFeed(spark, lake, dir, Seq("g"),
      Seq("v"), distinctCols = Seq("d"))
    assert(s1.mode == "incremental",
      "a CoW update must stay incremental through the feed")
    assert(viewNd(dir) == recomputeNd(lake), "feed window drifted")
    // MoR delete of every row of one value in one group
    DeletionVectors.deleteMor(spark, lake, "d = 'cowX' AND g = 'g1'")
    val s2 = IncrementalView.refreshFeed(spark, lake, dir, Seq("g"),
      Seq("v"), distinctCols = Seq("d"))
    assert(s2.mode == "incremental")
    assert(viewNd(dir) == recomputeNd(lake))
  }


  test("distinctCols crash safety: a crash between generation write " +
    "and pointer publish leaves view AND refcount aux intact; the " +
    "re-run folds the window's pairs exactly once") {
    val lake = mkNdLake()
    val dir = Files.createTempDirectory("graft_ivndc_").toString + "/view"
    IncrementalView.refresh(spark, lake, dir, Seq("g"), Seq("v"),
      distinctCols = Seq("d"))
    val before = viewNd(dir)
    // the window both removes a value's last holders in one group and
    // adds a fresh value — double-applying EITHER side would show
    DeletionVectors.deleteMor(spark, lake,
      "g = 'g0' AND k % 5 = 1 AND k % 7 <> 0")
    DeletionVectors.mergeMor(spark, lake,
      Seq((7001, "g1", 1L, "crashv")).toDF("k", "g", "v", "d"),
      Seq("k"))
    intercept[RuntimeException](IncrementalView.refresh(spark, lake,
      dir, Seq("g"), Seq("v"), distinctCols = Seq("d"),
      failBeforePublish = true))
    assert(viewNd(dir) == before,
      "crashed refresh leaked into the published view")
    val s = IncrementalView.refresh(spark, lake, dir, Seq("g"),
      Seq("v"), distinctCols = Seq("d"))
    assert(s.mode == "incremental")
    assert(viewNd(dir) == recomputeNd(lake),
      "re-run double-applied the refcount window")
    // debris swept: one live generation, holding data AND the aux
    val gens = fs(dir).listStatus(new Path(dir))
      .map(_.getPath.getName).filter(_.startsWith("gen-"))
    assert(gens.length == 1)
    assert(fs(dir).exists(new Path(s"$dir/${gens.head}/aux_d")),
      "the live generation must carry its refcount auxiliary")
  }
}
