package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.sources.StatsIndex

/** The versioned pointer-file publish (r6 ADVICE #3): build/refresh
  * write immutable vNNNNN generations and flip a CURRENT pointer
  * atomically, so a concurrent reader NEVER sees a missing index —
  * it resolves either the old generation or the new one. The previous
  * live generation survives one publish (in-flight readers finish on
  * it), older ones are swept; legacy flat indexes migrate in place. */
class StatsIndexSwapSpec extends SparkSpec {
  import spark.implicits._

  private def fs(dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def listNames(dir: String): Set[String] =
    fs(dir).listStatus(new Path(dir)).map(_.getPath.getName).toSet

  private def pointer(dir: String): String = {
    val f = fs(dir)
    val p = new Path(dir, "CURRENT")
    val buf = new Array[Byte](f.getFileStatus(p).getLen.toInt)
    val in = f.open(p)
    try in.readFully(0, buf) finally in.close()
    new String(buf, "UTF-8").trim
  }

  private def mk(lo: Int, n: Int) =
    (lo until lo + n).map(i => (i.toLong, (i * 3).toLong)).toDF("x", "payload")

  test("publish flips the pointer atomically and retains one prior " +
    "generation for in-flight readers") {
    val dir = Files.createTempDirectory("graft_swap_").toString
    mk(0, 1000).coalesce(1).write.parquet(s"$dir/data")
    StatsIndex.build(spark, s"$dir/data", Seq("x"), s"$dir/idx")
    assert(pointer(s"$dir/idx") == "v00001")
    assert(listNames(s"$dir/idx").contains("v00001"))
    val firstGen = s"$dir/idx/v00001"
    assert(StatsIndex.prunedFiles(spark, s"$dir/idx", Nil).size == 1)

    // a reader that resolved v00001 before the next publish …
    val inFlight = spark.read.parquet(firstGen)

    mk(5000, 1000).coalesce(1).write.mode("append").parquet(s"$dir/data")
    val (a1, r1) = StatsIndex.refresh(spark, s"$dir/data", Seq("x"),
      s"$dir/idx")
    assert((a1, r1) == (1, 0))
    assert(pointer(s"$dir/idx") == "v00002")
    // … still reads a complete index: the prior generation is retained
    assert(listNames(s"$dir/idx").contains("v00001"))
    assert(inFlight.select(col("file")).distinct().count() == 1)
    // and there is NO instant without a resolvable index: the pointer
    // file exists throughout (rename-overwrite), pointing at a
    // generation that exists
    assert(StatsIndex.prunedFiles(spark, s"$dir/idx", Nil).size == 2)

    // one more publish sweeps the oldest generation
    mk(9000, 500).coalesce(1).write.mode("append").parquet(s"$dir/data")
    StatsIndex.refresh(spark, s"$dir/data", Seq("x"), s"$dir/idx")
    val names = listNames(s"$dir/idx")
    assert(pointer(s"$dir/idx") == "v00003")
    assert(!names.contains("v00001"), s"v00001 not swept: $names")
    assert(names.contains("v00002") && names.contains("v00003"))
  }

  test("a legacy flat index reads as-is and migrates on its first " +
    "publish") {
    val dir = Files.createTempDirectory("graft_swap_legacy_").toString
    mk(0, 1000).coalesce(1).write.parquet(s"$dir/data")
    StatsIndex.build(spark, s"$dir/data", Seq("x"), s"$dir/idx")
    // reshape to the pre-pointer layout: generation files directly
    // under the root, no CURRENT
    val f = fs(dir)
    for (st <- f.listStatus(new Path(s"$dir/idx/v00001")))
      assert(f.rename(st.getPath, new Path(s"$dir/idx", st.getPath.getName)))
    f.delete(new Path(s"$dir/idx/v00001"), true)
    f.delete(new Path(s"$dir/idx/CURRENT"), false)
    // legacy resolve: the root itself is the generation
    assert(StatsIndex.prunedFiles(spark, s"$dir/idx", Nil).size == 1)

    mk(5000, 1000).coalesce(1).write.mode("append").parquet(s"$dir/data")
    val (a, r) = StatsIndex.refresh(spark, s"$dir/data", Seq("x"),
      s"$dir/idx")
    assert((a, r) == (1, 0))
    assert(pointer(s"$dir/idx") == "v00001")
    // flat files swept, pointer layout in force, index correct
    val names = listNames(s"$dir/idx")
    assert(!names.exists(_.startsWith("part-")),
      s"legacy parquet not swept: $names")
    assert(StatsIndex.prunedFiles(spark, s"$dir/idx", Nil).size == 2)
    val hit = StatsIndex.readPruned(spark, s"$dir/data", s"$dir/idx",
      Seq(("x", 5100L, 5200L))).count()
    assert(hit == 101)
  }

  test("a failed publish leaves the live generation untouched and " +
    "readable; the dangling dir is swept by the next success") {
    val dir = Files.createTempDirectory("graft_swap_fail_").toString
    mk(0, 1000).coalesce(1).write.parquet(s"$dir/data")
    StatsIndex.build(spark, s"$dir/data", Seq("x"), s"$dir/idx")
    assert(pointer(s"$dir/idx") == "v00001")
    // an unsupported bloom-column type fails the build …
    val bad = intercept[Exception] {
      StatsIndex.build(spark, s"$dir/data", Seq("x"), s"$dir/idx",
        bloomCols = Seq("nope_missing_col"))
    }
    assert(bad != null)
    // … and the live index is exactly what it was
    assert(pointer(s"$dir/idx") == "v00001")
    assert(StatsIndex.prunedFiles(spark, s"$dir/idx", Nil).size == 1)
    // next successful publish lands v-next and sweeps anything dangling
    mk(5000, 1000).coalesce(1).write.mode("append").parquet(s"$dir/data")
    StatsIndex.refresh(spark, s"$dir/data", Seq("x"), s"$dir/idx")
    val names = listNames(s"$dir/idx")
    val gens = names.filter(_.matches("v\\d{5}"))
    assert(gens.contains(pointer(s"$dir/idx")))
    assert(gens.size <= 2, s"stale generations not swept: $gens")
    assert(StatsIndex.prunedFiles(spark, s"$dir/idx", Nil).size == 2)
  }

  test("the driver-side snapshot follows the index across a rebuild " +
    "at the same path and across publishes by other writers") {
    val dir = Files.createTempDirectory("graft_swap_snap_").toString
    mk(0, 1000).coalesce(1).write.parquet(s"$dir/a")
    mk(5000, 1000).coalesce(1).write.parquet(s"$dir/b")
    mk(9000, 1000).coalesce(1).write.parquet(s"$dir/c")
    def dataFiles(d: String) = StatsIndex.listData(spark, d)
    val idx = s"$dir/idx"
    StatsIndex.build(spark, s"$dir/a", Seq("x"), idx)
    assert(StatsIndex.indexedFiles(spark, idx) == dataFiles(s"$dir/a"))
    // delete the index dir and build another one at the same path: the
    // new generation is v00001 again, with different part files
    fs(dir).delete(new Path(idx), true)
    StatsIndex.build(spark, s"$dir/b", Seq("x"), s"$dir/other")
    fs(dir).mkdirs(new Path(idx))
    org.apache.hadoop.fs.FileUtil.copy(fs(dir), new Path(s"$dir/other/v00001"),
      fs(dir), new Path(s"$idx/v00001"), false,
      spark.sparkContext.hadoopConfiguration)
    org.apache.hadoop.fs.FileUtil.copy(fs(dir), new Path(s"$dir/other/CURRENT"),
      fs(dir), new Path(s"$idx/CURRENT"), false,
      spark.sparkContext.hadoopConfiguration)
    assert(pointer(idx) == "v00001")
    assert(StatsIndex.indexedFiles(spark, idx) == dataFiles(s"$dir/b"))
    assert(StatsIndex.prunedTyped(spark, idx,
      Seq(StatsIndex.LongRange("x", 5100L, 5200L))) == dataFiles(s"$dir/b"))
    assert(StatsIndex.prunedTyped(spark, idx,
      Seq(StatsIndex.LongRange("x", 100L, 200L))).isEmpty)
    // a publish through a second session is seen by the first
    val other = spark.newSession()
    StatsIndex.build(other, s"$dir/c", Seq("x"), idx)
    assert(pointer(idx) == "v00002")
    assert(StatsIndex.indexedFiles(spark, idx) == dataFiles(s"$dir/c"))
  }
}
