package graft.bench

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.util.SizeEstimator

import graft.sources.StatsIndex

/** DRIVER COST of [[StatsIndex]]'s snapshot at lake scale: the snapshot
  * holds one row per (file, indexed column) on the driver, so its heap
  * and the per-prune time over it grow with files × columns. This
  * probe writes a synthetic index generation of `files` × `cols` long
  * rows (no data files are needed: a prune reads only the index; file
  * i covers keys [1000 i, 1000 i + 999] on every column, a clustered
  * lake; paths are Spark-shaped part names of ~100 characters) and
  * reports:
  *
  *  - the cold snapshot read (one Spark job) and its heap, measured
  *    with Spark's `SizeEstimator` over the rows and the file list;
  *  - warm `indexedFiles`, `prunedTyped` (a 10-file range) and
  *    `prunedForKeys` (1000 keys) wall times, median of 5, and the
  *    Spark jobs they ran (0 expected).
  *
  * `sbt "runMain graft.bench.StatsSnapshotScale [files] [cols]"`
  * (defaults 100000 × 4). Results land in SCALE.md §"StatsIndex
  * snapshot on the driver". */
object StatsSnapshotScale {

  import BenchUtil.{jobsOf, rmrf, secs}

  def main(args: Array[String]): Unit = {
    val files = args.lift(0).map(_.toInt).getOrElse(100000)
    val cols = args.lift(1).map(_.toInt).getOrElse(4)
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    val root = new java.io.File("target/scale/stats_snapshot")
      .getAbsolutePath
    rmrf(root)
    val gen = spark.range(files).crossJoin(
        (0 until cols).map(c => s"c$c").toDF("col"))
      .select(
        concat(lit("file:/warehouse/lake/part-"),
          lpad(col("id").cast("string"), 5, "0"),
          lit("-7f3c2a1e-55b4-4c1a-9e0f-0a1b2c3d4e5f-c000.snappy.parquet"))
          .as("file"),
        lit(1000L).as("row_count"), col("col"), lit("long").as("kind"),
        (col("id") * 1000).as("lmin"), (col("id") * 1000 + 999).as("lmax"),
        lit(null).cast("double").as("dmin"),
        lit(null).cast("double").as("dmax"),
        lit(null).cast("string").as("smin"),
        lit(null).cast("string").as("smax"),
        lit(0L).as("nulls"), lit("bigint").as("dtype"),
        lit(null).cast("binary").as("bloom"),
        lit(null).cast("string").as("bspace"))
    gen.coalesce(1).write.parquet(s"$root/v00001")
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(new Path(root, "CURRENT"))
    try out.write("v00001\n".getBytes("UTF-8")) finally out.close()

    var snap: StatsIndex.Snapshot = null
    val cold = secs { snap = StatsIndex.snapshot(spark, root) }
    val rows = snap.rows.size
    val snapBytes = SizeEstimator.estimate((snap.rows, snap.files))

    val mid = files / 2L * 1000L
    val keys = (0 until 1000).map(i => mid + i * 7L)
    def median(f: => Unit): Double =
      (1 to 5).map(_ => secs(f)).sorted.apply(2)
    var kept = (0, 0)
    val jobs = jobsOf(spark) {
      kept = (StatsIndex.prunedTyped(spark, root,
          Seq(StatsIndex.LongRange("c0", mid, mid + 9999))).size,
        StatsIndex.prunedForKeys(spark, root, "c1", keys).size)
    }
    val listS = median(StatsIndex.indexedFiles(spark, root))
    val rangeS = median(StatsIndex.prunedTyped(spark, root,
      Seq(StatsIndex.LongRange("c0", mid, mid + 9999))))
    val keysS = median(StatsIndex.prunedForKeys(spark, root, "c1", keys))
    println(f"[snapshot] files=$files cols=$cols rows=$rows " +
      f"cold_read_s=$cold%.2f snapshot_mb=${snapBytes / 1e6}%.1f " +
      f"bytes_per_row=${snapBytes.toDouble / rows}%.0f " +
      f"indexedFiles_s=$listS%.3f prunedTyped_s=$rangeS%.3f " +
      f"prunedForKeys_s=$keysS%.3f kept=${kept._1}/${kept._2} " +
      f"warm_jobs=$jobs")
    rmrf(root)
    spark.stop()
  }
}
