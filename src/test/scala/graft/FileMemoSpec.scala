package graft

import java.nio.file.Files
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.metrics.source.HiveCatalogMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sources.{CommitLog, DeletionVectors, FileMemo}

/** The merge-on-read read surface hands Spark the file statuses the
  * memo already listed: a warm read neither probes nor lists the
  * committed files, so its driver filesystem work does not grow with
  * the file count, and it reads the same rows, row indexes and file
  * names as a plain `spark.read.parquet` of the same paths. */
class FileMemoSpec extends SparkSpec {
  import spark.implicits._

  spark.sparkContext.hadoopConfiguration
    .set("fs.graftcount.impl", classOf[OpCountFs].getName)

  private def fs(dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** A lake of `n` committed files (k unique 0..10n-1, v = 2k) under
    * `root`, with a deletion vector over k % 10 = 3. */
  private def dvLake(root: String, n: Int): String = {
    val lake = s"$root/lake"
    val f = fs(lake)
    spark.range(0, 10L * n, 1, n)
      .select(col("id").cast("int").as("k"), (col("id") * 2).as("v"))
      .write.parquet(lake)
    val names = CommitLog.dataFileNames(f, lake).toSeq.sorted
    assert(names.size == n)
    CommitLog.commit(f, lake, 0L, names)
    DeletionVectors.deleteMor(spark, lake, "k % 10 = 3")
    lake
  }

  /** Task counts of the jobs `body` starts. */
  private def jobTasks(body: => Unit): Seq[Int] = {
    val sc = spark.sparkContext
    val tag = java.util.UUID.randomUUID().toString
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, Int)]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add((Option(e.properties)
          .flatMap(p => Option(p.getProperty("graft.spec.job")))
          .getOrElse(""), e.stageInfos.map(_.numTasks).sum))
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty("graft.spec.job", tag)
      try body finally sc.setLocalProperty("graft.spec.job", null)
      // the sentinel's start is seen after every job of `body`
      sc.setLocalProperty("graft.spec.job", s"$tag-end")
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty("graft.spec.job", null)
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!seen.asScala.exists(_._1 == s"$tag-end") &&
          System.nanoTime() < deadline) Thread.sleep(10)
      seen.asScala.filter(_._1 == tag).map(_._2).toSeq
    } finally sc.removeSparkListener(listener)
  }

  test("a warm readMor count over 40 committed files runs no job with " +
    "one task per file") {
    val lake = dvLake(Files.createTempDirectory("graft_memo_").toString, 40)
    assert(DeletionVectors.readMor(spark, lake).count() == 360L) // warm
    val tasks = jobTasks {
      assert(DeletionVectors.readMor(spark, lake).count() == 360L)
    }
    assert(tasks.nonEmpty)
    assert(!tasks.contains(40), s"task counts per job: $tasks")
  }

  test("a warm read's driver filesystem operations do not grow with " +
    "the committed file count") {
    def driverOps(n: Int): Map[String, Long] = {
      val root = "graftcount://" +
        Files.createTempDirectory(s"graft_memo_ops$n").toString
      val lake = dvLake(root, n)
      assert(DeletionVectors.readMor(spark, lake).count() == 9L * n)
      OpCountFs.counting {
        assert(DeletionVectors.readMor(spark, lake).count() == 9L * n)
      }
    }
    val at10 = driverOps(10)
    val at40 = driverOps(40)
    assert(at10.nonEmpty)
    assert(at10 == at40, s"10 files: $at10; 40 files: $at40")
  }

  test("rows, row indexes and file names match a plain read of the " +
    "same paths on an evolved lake, with and without mergeSchema, and " +
    "Spark discovers no file") {
    val lake = Files.createTempDirectory("graft_memo_evo_").toString +
      "/lake"
    val f = fs(lake)
    def put(name: String, df: DataFrame, id: Long): Unit = {
      val tmp = s"${lake}_$id"
      df.coalesce(1).write.parquet(tmp)
      val part = f.listStatus(new Path(tmp)).map(_.getPath)
        .find(_.getName.endsWith(".parquet")).get
      f.mkdirs(new Path(lake))
      assert(f.rename(part, new Path(lake, name)))
      CommitLog.commit(f, lake, id, Seq(name))
    }
    put("p0.parquet", (0 until 30).map(k => (k, 10L * k)).toDF("k", "v"), 0)
    put("p1.parquet",
      (30 until 50).map(k => (k, 10L * k, s"w$k")).toDF("k", "v", "w"), 1)
    put("p2.parquet", (50 until 60).map(k => (k * 0.5, k)).toDF("z", "k"), 2)
    val names = Seq("p0", "p1", "p2").map(n => s"$n.parquet")
    val paths = names.map(n => s"$lake/$n")
    def view(df: DataFrame): Set[String] = df
      .select(col("*"), col("_metadata.row_index").as("_ri"),
        input_file_name().as("_f"))
      .collect().map(_.toString).toSet
    for (merge <- Seq(false, true)) {
      val rdr = if (merge) spark.read.option("mergeSchema", "true")
        else spark.read
      val want = rdr.parquet(paths: _*)
      val discovered = HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount
      val got = FileMemo.readFiles(spark, lake, names, mergeSchema = merge)
      val sub = FileMemo.readSubset(spark, got, Seq(names(1), paths(2)))
      val got0 = view(got)
      val sub0 = view(sub)
      assert(HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount ==
        discovered, s"mergeSchema=$merge: Spark listed files")
      assert(got.schema == want.schema, s"mergeSchema=$merge")
      assert(got0 == view(want), s"mergeSchema=$merge")
      assert(got0.size == 60)
      assert(sub.schema == want.schema)
      assert(sub0 == view(spark.read.schema(want.schema)
        .parquet(paths.drop(1): _*)), s"mergeSchema=$merge")
      assert(sub0.size == 30)
    }
  }

  test("a committed file deleted behind the log fails the read loudly " +
    "with its name, before or after the frame is built") {
    val lake = dvLake(Files.createTempDirectory("graft_memo_gone_")
      .toString, 4)
    val f = fs(lake)
    assert(DeletionVectors.readMor(spark, lake).count() == 36L)
    val names = CommitLog.committedNames(f, lake).toSeq.sorted
    val built = FileMemo.readFiles(spark, lake, names)
    f.delete(new Path(lake, names.head), false)
    val after = intercept[Exception](built.count())
    assert(Iterator.iterate[Throwable](after)(_.getCause)
      .takeWhile(_ != null).exists(e =>
        Option(e.getMessage).exists(_.contains(names.head))),
      after.toString)
    val before = intercept[Exception](
      DeletionVectors.readMor(spark, lake).count())
    assert(before.getMessage.contains(names.head), before.getMessage)
  }
}

/** The local filesystem under the scheme `graftcount:`, counting each
  * operation by name while [[OpCountFs.counting]] runs, on every thread
  * but executor task threads: the driver's share of a read. A call the
  * local filesystem makes inside another (its `listStatus` stats each
  * child) is not counted: on a remote store the outer call is the one
  * request. */
class OpCountFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("graftcount:///")
  override def getScheme: String = "graftcount"

  private def tick[A](op: String)(run: => A): A =
    if (OpCountFs.inside.get) run
    else {
      OpCountFs.tick(op)
      OpCountFs.inside.set(true)
      try run finally OpCountFs.inside.set(false)
    }

  override def open(f: Path, bufferSize: Int) =
    tick("open")(super.open(f, bufferSize))
  override def listStatus(f: Path): Array[FileStatus] =
    tick("listStatus")(super.listStatus(f))
  override def getFileStatus(f: Path): FileStatus =
    tick("getFileStatus")(super.getFileStatus(f))
  override def exists(f: Path): Boolean = tick("exists")(super.exists(f))
  override def delete(f: Path, recursive: Boolean): Boolean =
    tick("delete")(super.delete(f, recursive))
  override def rename(src: Path, dst: Path): Boolean =
    tick("rename")(super.rename(src, dst))
  override def mkdirs(f: Path,
      permission: org.apache.hadoop.fs.permission.FsPermission): Boolean =
    tick("mkdirs")(super.mkdirs(f, permission))
}

object OpCountFs {
  @volatile private var on = false
  private val inside = ThreadLocal.withInitial[Boolean](() => false)
  private val ops = new ConcurrentHashMap[String, AtomicLong]()

  private def tick(op: String): Unit =
    if (on && !Thread.currentThread.getName
        .startsWith("Executor task launch worker"))
      ops.computeIfAbsent(op, _ => new AtomicLong()).incrementAndGet()

  /** The driver's operations by name while `body` runs. */
  def counting(body: => Unit): Map[String, Long] = synchronized {
    ops.clear()
    on = true
    try body finally on = false
    ops.asScala.map { case (k, v) => k -> v.get }.toMap
  }
}
