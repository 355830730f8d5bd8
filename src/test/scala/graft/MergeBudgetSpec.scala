package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.GraftBlocks
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.SpanSugar._

import graft.sources.{ColumnMapping, CommitLog, DeletionVectors, Occ,
  StatsIndex}
import graft.streaming.LayoutSink

/** Spark jobs and log listings per verb on small lakes: an indexed
  * merge-on-read upsert reads its update batch once, an index build
  * or refresh reads footers on the driver, and a layout sink batch
  * reads its definition records once. */
class MergeBudgetSpec extends SparkSpec {
  import spark.implicits._

  spark.sparkContext.hadoopConfiguration
    .set("fs.graftloglist.impl", classOf[LogListFs].getName)
  spark.sparkContext.hadoopConfiguration
    .set("fs.AbstractFileSystem.graftloglist.impl", classOf[LogListAfs].getName)

  private def tmp(p: String) = Files.createTempDirectory(p).toString

  /** Bars of `syms` symbols over `minutes`, keyed (sym, minute). */
  private def bars(syms: Seq[Int], minutes: Range, bump: Double = 0.0)
      : DataFrame =
    (for (s <- syms; m <- minutes)
      yield (s"s$s", m.toLong, 100.0 + m + bump, (m % 7).toLong))
      .toDF("sym", "minute", "close", "volume")

  test("an indexed merge-on-read upsert of a small batch over a lake " +
    "with deletion vectors runs at most 9 Spark jobs") {
    val dir = tmp("graft_budget_mor_")
    val (lake, idx) = (s"$dir/lake", s"$dir/idx")
    (0 until 6).foreach(f =>
      Occ.append(spark, lake, bars(0 until 4, f * 50 until (f + 1) * 50)))
    StatsIndex.build(spark, lake, Seq("minute"), idx)
    val keys = Seq("sym", "minute")
    // a first upsert leaves a deletion vector for the next to anti-join
    assert(Occ.mergeMor(spark, lake, bars(Seq(1), 10 until 30, 1.0), keys,
      indexDir = Some(idx)) == ((20L, 20L)))
    val upd = bars(Seq(0, 2), 240 until 260, 2.0)
    var got = (0L, 0L)
    val jobs = jobsOf {
      got = Occ.mergeMor(spark, lake, upd, keys, indexDir = Some(idx))
    }
    assert(got == ((40L, 40L)))
    // the pin with its count, the key collect, discovery (the vector
    // broadcast, the key broadcast and the pair pin), the sidecar write
    // and its memo seed, the one-file delta write, the index publish
    assert(jobs <= 9, s"upsert ran $jobs Spark jobs")
    val live = DeletionVectors.readMor(spark, lake)
    assert(live.count() == 1200L)
    assert(live.filter(col("close") === col("minute") + 102.0).count() == 40L)
  }

  test("a refresh adding one file runs one Spark job, and its footer " +
    "rows equal Spark's own aggregates on long, double, string, date " +
    "and NULL-bearing columns") {
    val cols = Seq("l", "d", "s", "dt", "n")
    def file(lo: Int) = (lo until lo + 300).map { i =>
      (i.toLong, i * 0.25 - 10.0, s"k$i", java.sql.Date.valueOf(
        java.time.LocalDate.of(2024, 1, 1).plusDays(i % 400)),
        if (i % 3 == 0) null else java.lang.Long.valueOf(i * 7L))
    }.toDF(cols: _*)
    val dir = tmp("graft_budget_ref_")
    file(0).coalesce(1).write.parquet(s"$dir/data")
    StatsIndex.build(spark, s"$dir/data", cols, s"$dir/idx")
    file(1000).coalesce(1).write.mode("append").parquet(s"$dir/data")
    val jobs = jobsOf {
      assert(StatsIndex.refresh(spark, s"$dir/data", cols, s"$dir/idx") ==
        ((1, 0)))
    }
    assert(jobs == 1, s"the refresh ran $jobs Spark jobs")
    // every field but the file path (part names are random); doubles
    // are widened one ulp outward, dates are epoch days
    def expected(lo: Int): Seq[Seq[Any]] = {
      val a = file(lo).agg(count(lit(1)), min("l"), max("l"), min("d"),
        max("d"), min("s"), max("s"), unix_date(min("dt")),
        unix_date(max("dt")), min("n"), max("n"),
        count(when(col("n").isNull, 1))).head()
      val n = Some(a.getLong(0))
      def l(i: Int) = Some(a.get(i).asInstanceOf[Number].longValue)
      Seq(
        Seq(n, "l", "long", l(1), l(2), None, None, None, None, Some(0L),
          Some("bigint"), None),
        Seq(n, "d", "double", None, None,
          Some(Math.nextDown(a.getDouble(3))),
          Some(Math.nextUp(a.getDouble(4))), None, None, Some(0L),
          Some("double"), None),
        Seq(n, "s", "string", None, None, None, None, Some(a.getString(5)),
          Some(a.getString(6)), Some(0L), Some("string"), None),
        Seq(n, "dt", "date", l(7), l(8), None, None, None, None, Some(0L),
          Some("date"), None),
        Seq(n, "n", "long", l(9), l(10), None, None, None, None, l(11),
          Some("bigint"), None))
    }
    def sorted(rows: Seq[Seq[Any]]) = rows.sortBy(_.mkString("/"))
    assert(sorted(StatsIndex.snapshot(spark, s"$dir/idx").rows
      .map(_.productIterator.drop(1).toSeq)) ==
      sorted(expected(0) ++ expected(1000)))
  }

  test("a build over more files than Spark's parallel listing " +
    "threshold reads their footers on the driver: one Spark job") {
    val dir = tmp("graft_budget_build_")
    spark.range(0, 400, 1, 40).write.parquet(s"$dir/data")
    val jobs = jobsOf(
      StatsIndex.build(spark, s"$dir/data", Seq("id"), s"$dir/idx"))
    assert(jobs == 1, s"the build ran $jobs Spark jobs")
    val rows = StatsIndex.snapshot(spark, s"$dir/idx").rows
    assert(rows.size == 40)
    assert(rows.map(r => (r.lmin.get, r.lmax.get)).sorted ==
      (0 until 40).map(p => (p * 10L, p * 10L + 9L)))
  }

  test("a layout sink batch reads the definition records once: ten " +
    "commit-log listings per batch") {
    val dir = "graftloglist://" + tmp("graft_budget_sink_")
    val (lake, idx) = (s"$dir/lake", s"$dir/idx")
    def batch(id: Long) = LayoutSink.processBatch(
      bars(0 until 3, (id * 20).toInt until ((id + 1) * 20).toInt), id,
      lake, idx, Seq("minute"), bits = 10, filesPerBatch = 2,
      curve = "morton")
    batch(0L)
    val listings = LogListFs.counting(batch(1L))
    assert(listings <= 10, s"$listings commit-log listings")
    assert(LayoutSink.readCommitted(spark, lake).count() == 120L)
  }

  test("on a lake with deletion vectors an indexed upsert runs at most " +
    "8 Spark jobs, an OCC delete at most 3 and a compaction at most 3") {
    val dir = tmp("graft_budget_dv_")
    val (lake, idx) = (s"$dir/lake", s"$dir/idx")
    (0 until 6).foreach(f =>
      Occ.append(spark, lake, bars(0 until 4, f * 50 until (f + 1) * 50)))
    StatsIndex.build(spark, lake, Seq("minute"), idx)
    val keys = Seq("sym", "minute")
    assert(Occ.mergeMor(spark, lake, bars(Seq(1), 10 until 30, 1.0), keys,
      indexDir = Some(idx)) == ((20L, 20L)))
    var merged = (0L, 0L)
    val upsert = jobsOf {
      merged = Occ.mergeMor(spark, lake, bars(Seq(0, 2), 240 until 260, 2.0),
        keys, indexDir = Some(idx))
    }
    assert(merged == ((40L, 40L)))
    var deleted = 0L
    val delete = jobsOf {
      deleted = Occ.deleteMor(spark, lake, "sym = 's3' and minute < 25")
    }
    assert(deleted == 25L)
    var compacted = (0, 0)
    val compact = jobsOf {
      compacted = DeletionVectors.compact(spark, lake)
    }
    assert(compacted._1 > 0)
    // upsert: the pin with its count, the key collect, the key
    // broadcast, the pair pin, the sidecar write and its memo seed, the
    // one-file delta write, the index publish; delete: the pair pin
    // with its count, the sidecar write, its memo seed
    assert(upsert <= 8 && delete <= 3 && compact <= 3,
      s"upsert ran $upsert Spark jobs, delete $delete, compact $compact")
    assert(DeletionVectors.readMor(spark, lake).count() == 1200L - 25L)
  }

  test("a purge finds the files carrying a dropped column with no " +
    "Spark job, on a lake mixing old and evolved schemas") {
    val lake = tmp("graft_budget_purge_") + "/lake"
    val f = new Path(lake).getFileSystem(spark.sparkContext.hadoopConfiguration)
    Occ.append(spark, lake,
      (0 until 100).map(k => (k, 2L * k, s"x$k")).toDF("k", "v", "extra"))
    // an evolved delta that still carries the column to drop
    Occ.mergeMor(spark, lake, (95 until 110)
      .map(k => (k, 3L * k, s"y$k", k * 0.5)).toDF("k", "v", "extra", "w"),
      Seq("k"), evolveSchema = true)
    ColumnMapping.drop(spark, lake, "extra")
    // born clean: the old schema without the column, and an evolved one
    Occ.append(spark, lake,
      (200 until 220).map(k => (k, 5L * k)).toDF("k", "v"))
    Occ.append(spark, lake, (300 until 305)
      .map(k => (k, 7L * k, k * 0.25)).toDF("k", "v", "w"))
    val names = CommitLog.committedNames(f, lake).toSeq.sorted
    val want = names.filter(n =>
      spark.read.parquet(s"$lake/$n").columns.contains("extra"))
    assert(want.nonEmpty && want.size < names.size)
    var got = Seq.empty[String]
    val jobs = jobsOf {
      got = ColumnMapping.filesCarrying(spark, lake, names, Set("extra"))
    }
    assert(jobs == 0, s"discovery ran $jobs Spark jobs")
    assert(got == want)
    val (rewritten, carried) = ColumnMapping.purge(spark, lake)
    assert((rewritten, carried) == ((want.size, names.size - want.size)))
    assert(DeletionVectors.readMor(spark, lake).count() == 100L + 10 + 20 + 5)
  }

  test("a layout sink batch reads both definition records from one " +
    "listing: at most eight commit-log listings per batch") {
    val dir = "graftloglist://" + tmp("graft_budget_defs_")
    val (lake, idx) = (s"$dir/lake", s"$dir/idx")
    def batch(id: Long) = LayoutSink.processBatch(
      bars(0 until 3, (id * 20).toInt until ((id + 1) * 20).toInt), id,
      lake, idx, Seq("minute"), bits = 10, filesPerBatch = 2,
      curve = "morton")
    batch(0L)
    val listings = LogListFs.counting(batch(1L))
    assert(listings <= 8, s"$listings commit-log listings")
    assert(LayoutSink.readCommitted(spark, lake).count() == 120L)
  }

  test("a layout sink batch leaves no RDD blocks behind when it " +
    "returns") {
    val dir = tmp("graft_budget_release_")
    val sc = spark.sparkContext
    val before = GraftBlocks.rddIds(sc)
    LayoutSink.processBatch(bars(0 until 3, 0 until 20), 0L, s"$dir/lake",
      s"$dir/idx", Seq("minute"), bits = 10, filesPerBatch = 2,
      curve = "morton")
    eventually(timeout(10.seconds)) {
      assert(GraftBlocks.rddIds(sc) -- before == Set.empty[Int])
    }
    assert(LayoutSink.readCommitted(spark, dir + "/lake").count() == 60L)
  }
}

/** The local filesystem under the scheme `graftloglist:`, counting
  * the listings of a lake's `_graft_log` directory while
  * [[LogListFs.counting]] runs. */
class LogListFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("graftloglist:///")
  override def getScheme: String = "graftloglist"
  override def listStatus(p: Path): Array[FileStatus] = {
    if (p.getName == "_graft_log") LogListFs.tick()
    super.listStatus(p)
  }
}

/** [[LogListFs]] for `FileContext` (the log's atomic renames). */
class LogListAfs(uri: java.net.URI, conf: org.apache.hadoop.conf.Configuration)
    extends org.apache.hadoop.fs.DelegateToFileSystem(uri, new LogListFs,
      conf, "graftloglist", false)

object LogListFs {
  @volatile private var on = false
  private val n = new AtomicLong()

  private def tick(): Unit = if (on) n.incrementAndGet()

  /** The `_graft_log` listings while `body` runs. */
  def counting(body: => Unit): Long = synchronized {
    n.set(0L)
    on = true
    try body finally on = false
    n.get()
  }
}
