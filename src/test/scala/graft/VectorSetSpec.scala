package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.GraftBlocks
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.SpanSugar._

import graft.sources.{Clone, CommitLog, DeletionVectors, FileMemo,
  StatsIndex}

/** The covered vector set as a row filter over one broadcast of the
  * driver's position set: every merge-on-read read returns the rows of
  * a plain anti-join against the sidecars, below the broadcast bound
  * and above it (the distributed frame), with pairs repeated across
  * sidecars, pairs naming files outside the read and sidecars
  * resolved through a clone chain; a warm read runs a plain read's
  * jobs; and the held broadcasts are bounded. */
class VectorSetSpec extends SparkSpec {
  import spark.implicits._

  private def fs(dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private val Bound = "spark.sql.autoBroadcastJoinThreshold"

  private def withBound[A](v: Option[String])(body: => A): A = {
    val old = spark.conf.get(Bound)
    v.foreach(spark.conf.set(Bound, _))
    try body finally spark.conf.set(Bound, old)
  }

  /** Batches 0..2, one file each: k unique 0-99 / 1000-1099 /
    * 2000-2099, v = 2k. */
  private def mkLake(root: String): String = {
    val lake = s"$root/lake"
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

  /** Publishes `pairs` as one more covered sidecar of `lake`. */
  private def coverPairs(lake: String, pairs: DataFrame): Unit = {
    val f = fs(lake)
    val dv = DeletionVectors.dvDir(lake)
    val before = CommitLog.dataFileNames(f, dv)
    pairs.coalesce(1).write.mode("append").parquet(dv)
    CommitLog.commitMutationCheckpoint(f, lake,
      CommitLog.maxCommittedId(f, lake),
      CommitLog.committedNames(f, lake).toSeq.sorted,
      dvNames = (CommitLog.coveredDvNames(f, lake) ++
        (CommitLog.dataFileNames(f, dv) -- before)).toSeq.sorted)
  }

  // ---- the reference: a plain read anti-joined with the sidecars ----

  /** `names` of `dir`'s `sub` directory resolved through the clone
    * chain, local first. */
  private def resolved(dir: String, sub: String => String,
      names: Set[String]): Seq[String] = {
    val f = fs(dir)
    names.toSeq.sorted.map { n =>
      Iterator.iterate(Option(dir))(_.flatMap(CommitLog.cloneSourceOf(f, _)))
        .takeWhile(_.isDefined).flatten
        .map(d => s"${sub(d)}/$n").find(p => f.exists(new Path(p)))
        .getOrElse(fail(s"$n resolves nowhere from $dir"))
    }
  }

  private def positioned(dir: String, files: Set[String]): DataFrame =
    spark.read.parquet(resolved(dir, identity, files): _*)
      .withColumn("file",
        element_at(split(col("_metadata.file_path"), "/"), -1))
      .withColumn("pos", col("_metadata.row_index"))

  private def pairsOf(dir: String, dv: Set[String]): DataFrame =
    spark.read.parquet(resolved(dir, DeletionVectors.dvDir, dv): _*)
      .select("file", "pos").distinct()

  private def kv(df: DataFrame): Set[(Int, Long)] =
    df.select("k", "v").as[(Int, Long)].collect().toSet

  /** The live rows of the version (`files`, `dv`) of `dir`. */
  private def refView(dir: String, files: Set[String],
      dv: Set[String]): Set[(Int, Long)] =
    kv(if (dv.isEmpty) positioned(dir, files)
      else positioned(dir, files)
        .join(pairsOf(dir, dv), Seq("file", "pos"), "left_anti"))

  /** The net row delta from the version `from` to the head of `dir`. */
  private def refChanges(dir: String, from: DeletionVectors.MorCursor)
      : (Set[(Int, Long)], Set[(Int, Long)]) = {
    val (files, dv) = CommitLog.committedView(fs(dir), dir)
    val newDv = dv -- from.dvFiles
    val deletes =
      if (newDv.isEmpty) Set.empty[(Int, Long)]
      else kv(positioned(dir, from.files)
        .join(pairsOf(dir, newDv), Seq("file", "pos"), "left_semi"))
    val inserts =
      if ((files -- from.files).isEmpty) Set.empty[(Int, Long)]
      else kv(positioned(dir, files -- from.files)
        .join(pairsOf(dir, dv), Seq("file", "pos"), "left_anti"))
    (deletes, inserts)
  }

  private def streamed(dir: String, name: String): Set[(Int, Long)] = {
    val q = DeletionVectors.readMorStream(spark, dir, maxFilesPerTrigger = 2)
      .writeStream.outputMode("append").format("memory").queryName(name)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    kv(spark.table(name))
  }

  test("every merge-on-read read returns the reference anti-join's " +
    "rows on both sides of the broadcast bound: pairs repeated across " +
    "sidecars, pairs naming files outside the read, a clone chain") {
    val root = Files.createTempDirectory("graft_vset_rows_").toString
    val lake = mkLake(root)
    val f = fs(lake)
    val idx = s"$root/idx"
    DeletionVectors.deleteMor(spark, lake, "k < 10")
    val asOf = CommitLog.maxCommittedId(f, lake)
    val cur = DeletionVectors.cursor(spark, lake)
    // later versions publish above `asOf`
    val before = CommitLog.dataFileNames(f, lake)
    (3000 until 3010).map(k => (k, k * 2L)).toDF("k", "v").coalesce(1)
      .write.mode("append").parquet(lake)
    CommitLog.commit(f, lake, asOf + 1,
      (CommitLog.dataFileNames(f, lake) -- before).toSeq.sorted)
    // a second sidecar repeating five pairs of the first and adding five
    coverPairs(lake, positioned(lake, CommitLog.committedNames(f, lake))
      .filter(col("k").between(5, 14)).select("file", "pos"))
    // pairs naming a file no version holds, and positions past a
    // committed file's end
    val first = CommitLog.committedNames(f, lake).toSeq.sorted.head
    coverPairs(lake, Seq(("ghost.parquet", 0L), ("ghost.parquet", 3L),
      (first, 100L), (first, 5000L)).toDF("file", "pos"))
    DeletionVectors.updateMor(spark, lake, "k % 10 = 6", Map("v" -> "v + 1"))
    StatsIndex.build(spark, lake, Seq("k"), idx)
    // a two-hop clone chain, each hop deleting rows of its own
    val b1 = s"$root/b1"
    Clone.shallow(spark, lake, b1)
    DeletionVectors.deleteMor(spark, b1, "k = 2050")
    val b2 = s"$root/b2"
    Clone.shallow(spark, b1, b2)
    val cur2 = DeletionVectors.cursor(spark, b2)
    DeletionVectors.deleteMor(spark, b2, "k between 1020 and 1024")
    DeletionVectors.mergeMor(spark, b2,
      Seq((1030, 7L), (9000, 9L)).toDF("k", "v"), Seq("k"))
    def head(dir: String) = {
      val (files, dv) = CommitLog.committedView(fs(dir), dir)
      refView(dir, files, dv)
    }
    val want = Map(lake -> head(lake), b1 -> head(b1), b2 -> head(b2))
    assert(want(lake).size == 295)
    assert(want(b2).size == want(lake).size - 1 - 5 + 1)
    val atAsOf = refView(lake, cur.files, cur.dvFiles)
    assert(atAsOf.size == 290)
    val sides = Seq("in memory" -> None, "distributed" -> Some("-1"))
    for (((side, bound), i) <- sides.zipWithIndex) withBound(bound) {
      def joined(df: DataFrame) = df.queryExecution.analyzed
        .collect { case j: org.apache.spark.sql.catalyst.plans.logical.Join =>
          j }.nonEmpty
      assert(joined(DeletionVectors.readMor(spark, lake)) == bound.nonEmpty,
        side)
      for (dir <- Seq(lake, b1, b2))
        assert(kv(DeletionVectors.readMor(spark, dir)) == want(dir),
          s"$side readMor of $dir")
      assert(kv(DeletionVectors.readMorAsOf(spark, lake, asOf)) == atAsOf,
        s"$side readMorAsOf")
      assert(kv(DeletionVectors.readMorAt(spark, lake, cur)) == atAsOf,
        s"$side readMorAt")
      assert(kv(DeletionVectors.readMorPruned(spark, lake, idx,
        Seq(StatsIndex.LongRange("k", 0L, 1099L)))) ==
        want(lake).filter(_._1 <= 1099), s"$side readMorPruned")
      for ((dir, from) <- Seq(lake -> cur, b2 -> cur2)) {
        val got = DeletionVectors.readMorChanges(spark, dir, from)
        val (dels, ins) = refChanges(dir, from)
        assert(dels.nonEmpty && ins.nonEmpty)
        assert(kv(got.filter(col("_change_type") === "delete")) == dels,
          s"$side readMorChanges deletes of $dir")
        assert(kv(got.filter(col("_change_type") === "insert")) == ins,
          s"$side readMorChanges inserts of $dir")
      }
      for (dir <- Seq(lake, b2))
        assert(streamed(dir, s"vset_stream_${i}_${new Path(dir).getName}") ==
          want(dir), s"$side readMorStream of $dir")
    }
  }

  test("a warm count over deletion vectors runs exactly the jobs of " +
    "the same count with no vectors") {
    val root = Files.createTempDirectory("graft_vset_jobs_").toString
    val lake = mkLake(root)
    val f = fs(lake)
    val idx = s"$root/idx"
    StatsIndex.build(spark, lake, Seq("k"), idx)
    DeletionVectors.deleteMor(spark, lake, "k % 10 = 3")
    val asOf = CommitLog.maxCommittedId(f, lake)
    val reads: Seq[(String, () => DataFrame)] = Seq(
      "readMor" -> (() => DeletionVectors.readMor(spark, lake)),
      "readMorAsOf" -> (() => DeletionVectors.readMorAsOf(spark, lake, asOf)),
      "readMorPruned" -> (() => DeletionVectors.readMorPruned(spark, lake,
        idx, Seq(StatsIndex.LongRange("k", 1000L, 1099L)))))
    reads.foreach(_._2().count()) // warm the memos
    val plain = spark.read.schema(DeletionVectors.readMor(spark, lake).schema)
      .parquet(CommitLog.resolveDataPaths(f, lake,
        CommitLog.committedNames(f, lake).toSeq.sorted): _*)
    val own = jobsOf(plain.count(): Unit)
    for ((what, read) <- reads) {
      val df = read()
      val counting = jobsOf(df.count(): Unit)
      assert(counting == own, s"$what's count ran $counting jobs, a " +
        s"plain count $own")
    }
  }

  test("the held vector broadcasts are bounded: a set the memo evicts " +
    "leaves every block manager once nothing holds it, and the held " +
    "sets keep theirs") {
    val root = Files.createTempDirectory("graft_vset_lru_").toString
    val lake = mkLake(root)
    val sc = spark.sparkContext
    // six covered sets, each broadcast by the read that follows it
    val ids = (0 until 6).map { i =>
      DeletionVectors.deleteMor(spark, lake, s"k % 10 = $i")
      assert(DeletionVectors.readMor(spark, lake).count() == 300L - 30 * (i + 1))
      FileMemo.heldBroadcasts(sc).last
    }
    assert(ids.distinct.size == 6)
    val held = FileMemo.heldBroadcasts(sc).toSet
    assert(ids.takeRight(4).forall(held), s"held $held, made $ids")
    assert(!ids.take(2).exists(held), s"held $held, made $ids")
    eventually(timeout(30.seconds), interval(200.millis)) {
      System.gc()
      val stored = GraftBlocks.broadcastIds(sc)
      assert(!ids.take(2).exists(stored), s"stored $stored, made $ids")
    }
    assert(ids.takeRight(4).forall(GraftBlocks.broadcastIds(sc)))
    // a held set is served from its broadcast, rows unchanged
    assert(DeletionVectors.readMor(spark, lake).count() == 120L)
  }
}
