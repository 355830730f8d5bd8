package graft.bench

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.util.SizeEstimator

import graft.sources.FileMemo

/** DRIVER COST of the merge-on-read read memos ([[FileMemo]]) at lake
  * scale. Two probes, each measuring the memo's heap growth with
  * Spark's `SizeEstimator` over the memo object:
  *
  *  - pairs: `_dv` sidecars holding `pairs` `(file, pos)` pairs over 100
  *    Spark-shaped data-file names, in 10 sidecar files; the cold
  *    `vectorsFor` (footer row counts plus one job over the sidecars,
  *    then the per-file position arrays merged and broadcast, as a
  *    read's row filter does) and the warm one (the set and its
  *    broadcast reused for the unchanged sidecar set, median of 5),
  *    which runs no job;
  *  - schemas: `files` data files of 8 columns; the cold `readFiles`
  *    with `mergeSchema` (every footer read on the driver) and the warm
  *    one (median of 5). Spark is handed the listed file statuses, so
  *    neither wall holds a listing of the paths and their difference
  *    is the footer reads.
  *
  * The session raises `spark.sql.autoBroadcastJoinThreshold` to 64 MB
  * so 10⁶ pairs (36 MB by Spark's estimate) take the local path; at the
  * default 10 MB the memo serves up to 291,271 pairs.
  *
  * `sbt "runMain graft.bench.MorMemoScale [pairs,...] [files,...]"`
  * (defaults 100000,1000000 and 1000,4000). Results land in SCALE.md
  * §"Merge-on-read memos on the driver". */
object MorMemoScale {

  import BenchUtil.{rmrf, secs}

  def main(args: Array[String]): Unit = {
    def counts(i: Int, dflt: String) =
      args.lift(i).getOrElse(dflt).split(",").toSeq.map(_.toLong)
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.autoBroadcastJoinThreshold", "64m")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val root = new java.io.File("target/scale/mor_memo").getAbsolutePath
    rmrf(root)
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def parquetNames(dir: String): Seq[String] =
      fs.listStatus(new Path(dir)).map(_.getPath.getName)
        .filter(n => n.endsWith(".parquet") && !n.startsWith("_")).toSeq.sorted
    def median(f: => Unit): Double = (1 to 5).map(_ => secs(f)).sorted.apply(2)
    // the memo object's fields compile to statics, which SizeEstimator
    // skips: estimate their values instead (the held vector sets refer
    // to the SparkContext, held apart: a set's map shares the memo's
    // arrays when one sidecar covers a file)
    val fields = FileMemo.getClass.getDeclaredFields.toSeq
      .filter(f => f.getName != "MODULE$" && f.getName != "sets")
    fields.foreach(_.setAccessible(true))
    def held: Long = SizeEstimator.estimate(fields.map(_.get(null)))

    for (n <- counts(0, "100000,1000000")) {
      val lake = s"$root/pairs_$n"
      spark.range(n).select(
        concat(lit("part-"), lpad((col("id") % 100).cast("string"), 5, "0"),
          lit("-7f3c2a1e-55b4-4c1a-9e0f-0a1b2c3d4e5f-c000.snappy.parquet"))
          .as("file"),
        (col("id") / 100).cast("long").as("pos"))
        .repartition(10).write.parquet(s"$lake/_dv")
      val names = parquetNames(s"$lake/_dv")
      val none = spark.range(0).select(lit("").as("file"), col("id").as("pos"))
      // the set as a read uses it: broadcast for the row filter
      def applied(): Unit =
        FileMemo.vectorsFor(spark, lake, names).dropDead(none, "file", "pos")
      val before = held
      val cold = secs(applied())
      val bytes = held - before
      val set = FileMemo.vectorsFor(spark, lake, names) match {
        case s: graft.sources.DeletionVectors.InMemory =>
          SizeEstimator.estimate(s.byFile)
        case _ => 0L
      }
      val warm = median(applied())
      val jobs = BenchUtil.jobsOf(spark)(applied())
      println(f"[mor-memo] pairs=$n sidecars=${names.size} " +
        f"memo_mb=${bytes / 1e6}%.1f bytes_per_pair=${bytes.toDouble / n}%.1f " +
        f"set_mb=${set / 1e6}%.1f " +
        f"cold_s=$cold%.2f warm_s=$warm%.3f warm_jobs=$jobs")
      rmrf(lake)
    }

    for (files <- counts(1, "1000,4000")) {
      val lake = s"$root/schemas_$files"
      spark.range(0, files, 1, files.toInt).select(col("id").as("k") +:
          (1 to 7).map(i => (col("id") * i).cast("double").as(s"c$i")): _*)
        .write.mode("overwrite").parquet(lake)
      val names = parquetNames(lake)
      val before = held
      val cold = secs(FileMemo.readFiles(spark, lake, names, mergeSchema = true))
      val bytes = held - before
      val warm = median(FileMemo.readFiles(spark, lake, names,
        mergeSchema = true))
      println(f"[mor-memo] files=${names.size} " +
        f"memo_mb=${bytes / 1e6}%.2f bytes_per_file=${bytes.toDouble / names.size}%.0f " +
        f"cold_s=$cold%.2f warm_s=$warm%.3f")
      rmrf(lake)
    }
    rmrf(root)
    spark.stop()
  }
}
