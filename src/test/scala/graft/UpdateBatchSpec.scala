package graft.sources

import java.nio.file.Files

import scala.util.Try

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The merge verbs' shared update batch: its driver-side uniqueness
  * gate answers as Spark's `groupBy` does, and a batch above the
  * driver bound takes the distributed gate with the same merge
  * results. */
class UpdateBatchSpec extends SparkSpec {
  import spark.implicits._

  /** Spark's answer: no key group holds more than one row. */
  private def groupByUnique(df: DataFrame, keys: Seq[String]): Boolean =
    df.groupBy(keys.map(col): _*).count().filter(col("count") > 1)
      .limit(1).count() == 0L

  test("the driver gate equals the groupBy gate on NULL, NaN, -0.0, " +
    "duplicate and string keys") {
    val nan = Double.NaN
    // 1582-10-01 .. 1582-10-30, proleptic Gregorian
    val cutover = (0 until 30).map(d =>
      java.time.LocalDate.of(1582, 10, 1).plusDays(d).toString)
    val cases: Seq[(String, DataFrame, Seq[String], Boolean)] = Seq(
      ("two NaNs", Seq(nan, nan).toDF("k"), Seq("k"), false),
      // a NaN of another bit pattern is still Spark's one NaN
      ("NaN spellings", Seq(nan,
        java.lang.Double.longBitsToDouble(0x7ff8000000000001L))
        .toDF("k"), Seq("k"), false),
      ("0.0 and -0.0", Seq(0.0, -0.0).toDF("k"), Seq("k"), false),
      ("float 0.0 and -0.0", Seq(0.0f, -0.0f).toDF("k"), Seq("k"), false),
      ("NaN, 0.0, 1.0, NULL", Seq(Some(nan), Some(0.0), Some(1.0), None)
        .toDF("k"), Seq("k"), true),
      ("two NULLs", Seq[Option[Long]](None, None).toDF("k"), Seq("k"),
        false),
      ("duplicate longs", Seq(1L, 2L, 1L).toDF("k"), Seq("k"), false),
      ("distinct longs", Seq(1L, 2L, 3L).toDF("k"), Seq("k"), true),
      ("strings by case", Seq("a", "A", "", "é").toDF("k"), Seq("k"),
        true),
      ("duplicate strings", Seq("é", "a", "é").toDF("k"), Seq("k"), false),
      ("NULL and empty string", Seq(Some(""), None).toDF("k"), Seq("k"),
        true),
      ("composite with NULL parts", Seq[(Option[Long], Option[String])](
        (Some(1L), Some("a")), (Some(1L), None), (None, Some("a")),
        (None, None)).toDF("k", "s"), Seq("k", "s"), true),
      ("composite duplicate with NULL", Seq[(Option[Long], Option[String])](
        (Some(1L), None), (Some(2L), None), (Some(1L), None))
        .toDF("k", "s"), Seq("k", "s"), false),
      ("composite -0.0", Seq(("x", 0.0), ("x", -0.0)).toDF("s", "k"),
        Seq("s", "k"), false),
      ("binary by content", Seq(Array[Byte](1, 2), Array[Byte](1, 2))
        .toDF("k"), Seq("k"), false),
      // distinct proleptic days that the hybrid calendar of the
      // external java.sql values can map onto one instant
      ("dates across the 1582 cutover", cutover.toDF("s")
        .select(to_date(col("s")).as("k")), Seq("k"), true),
      ("timestamps across the 1582 cutover", cutover.map(_ + " 00:00:00")
        .toDF("s").select(to_timestamp(col("s")).as("k")), Seq("k"), true),
      ("duplicate dates", Seq("2024-02-29", "2024-02-29").toDF("s")
        .select(to_date(col("s")).as("k")), Seq("k"), false))
    for ((what, df, keys, unique) <- cases) {
      assert(groupByUnique(df, keys) == unique, s"$what: groupBy")
      val got = Try(UpdateBatch.pin(df, keys, "spec"))
      assert(got.isSuccess == unique, s"$what: driver gate")
      got.failed.foreach(e => assert(e.getMessage ==
        "requirement failed: " + UpdateBatch.duplicateKeys(keys, "spec"),
        what))
    }
    // the driver path: the pin with its count, then one key collect
    val df = Seq((1L, "a"), (2L, "b")).toDF("k", "s")
    var batch: UpdateBatch = null
    assert(jobsOf { batch = UpdateBatch.pin(df, Seq("k", "s"), "spec") } == 2)
    assert(batch.count == 2L)
    assert(batch.keyValues("k").contains(Seq(1L, 2L)))
    assert(batch.keyValues("s").contains(Seq("a", "b")))
  }

  test("a batch of 100,001 rows takes the distributed gate and gets the " +
    "same (matched, appended) as the driver gate") {
    val dir = Files.createTempDirectory("graft_batch_big_").toString
    def lake(name: String): String = {
      val l = s"$dir/$name"
      Occ.append(spark, l, spark.range(0, 120000, 1, 4)
        .select(col("id").as("k"), lit(0L).as("v")))
      l
    }
    def upd(lo: Long, n: Long) = spark.range(lo, lo + n, 1, 4)
      .select(col("id").as("k"), lit(1L).as("v"))
    val bound = UpdateBatch.DriverBound
    assert(jobsOf(UpdateBatch.pin(upd(0L, bound + 1), Seq("k"), "spec")) >
      jobsOf(UpdateBatch.pin(upd(0L, bound), Seq("k"), "spec")))
    // 100,001 rows, 100,000 of them matching
    val big = lake("big")
    assert(Occ.mergeMor(spark, big, upd(20000L, bound + 1), Seq("k")) ==
      ((bound, bound + 1)))
    // the same merge split at the bound: each part takes the driver gate
    val split = lake("split")
    val first = Occ.mergeMor(spark, split, upd(20000L, bound), Seq("k"))
    val second = Occ.mergeMor(spark, split, upd(20000L + bound, 1L),
      Seq("k"))
    assert((first._1 + second._1, first._2 + second._2) ==
      ((bound, bound + 1)))
    def view(l: String) = DeletionVectors.readMor(spark, l)
      .groupBy(col("v")).count().orderBy(col("v")).collect().toSeq
    assert(view(big) == view(split))
    assert(view(big).map(r => (r.getLong(0), r.getLong(1))) ==
      Seq((0L, 20000L), (1L, bound + 1)))
    // a duplicate above the bound fails with the driver gate's message
    val dup = upd(0L, bound).union(Seq((7L, 2L)).toDF("k", "v"))
    val e = intercept[IllegalArgumentException](
      Occ.mergeMor(spark, big, dup, Seq("k")))
    assert(e.getMessage.contains(
      UpdateBatch.duplicateKeys(Seq("k"), "mergeMor(occ)")))
  }
}
