package graft.bench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.ml.MlPipelines

/** PHASE-SPLIT instrumentation of the `qm1_rf_confusion` catalog query
  * (r12 VERDICT "what's wrong" #1: 13.0 → 17.6 s committed-to-committed
  * with no code change on its path — now the slowest oracle query;
  * "measure, don't hypothesize"). One process, `reps` full
  * repetitions of exactly
  * [[graft.queries.MlQueryCatalog.qm1RfConfusion]]'s dataflow —
  * lineitem scan + feature projection + cache fill, the randomSplit
  * train materialization, the RandomForest fit (mllib-parity config),
  * and the confusion-matrix groupBy — each phase wall-clocked. Emits
  * one JSON line per rep and a trimmed-mean + spread summary: whichever
  * phase moved since r11 owns the regression. Results land in SCALE.md
  * §"qm1_rf_confusion phase split". Run on an idle box, AFTER any bench
  * artifact: `SPARK_GRAFT_SF_DIR=... sbt "runMain graft.bench.QmRfProbe
  * [reps]"`. */
object QmRfProbe {

  import BenchUtil.secs

  def main(args: Array[String]): Unit = {
    val reps = args.headOption.filter(_.forall(_.isDigit))
      .map(_.toInt).getOrElse(7)
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      "/root/testdata/sf0.1")
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // page-cache pre-touch, the bench protocol's idiom
    spark.read.parquet(s"$dir/lineitem.parquet").foreach(_ => ())
    val featCols =
      Seq("l_extendedprice", "l_discount", "l_tax", "lineno")
    val phases = Seq("feature_cache", "split", "rf_fit", "confusion")
    val all = scala.collection.mutable.ArrayBuffer[Map[String, Double]]()
    for (r <- 1 to reps) {
      val t = scala.collection.mutable.LinkedHashMap[String, Double]()
      // qm1's exact feature frame (MlQueryCatalog.featureFrame)
      val feat = spark.read.parquet(s"$dir/lineitem.parquet").select(
        (col("l_quantity") > 25).cast("int").as("buy_or_sell"),
        col("l_extendedprice"), col("l_discount"), col("l_tax"),
        col("l_linenumber").cast("double").as("lineno"))
      // fitPredict's exact shape: cache the RAW frame, split, assemble
      // INSIDE the pipeline fit (the assembler is a pipeline stage).
      // SPARK_GRAFT_QM_PARTS=0 probes the pre-fix single-partition
      // scan; default mirrors qm1's fitPartitions = Some(32)
      val parts = sys.env.get("SPARK_GRAFT_QM_PARTS")
        .flatMap(p => scala.util.Try(p.toInt).toOption).getOrElse(32)
      val cached =
        (if (parts > 0) feat.repartition(parts) else feat).cache()
      t("feature_cache") = secs { cached.count(): Unit }
      var train: org.apache.spark.sql.DataFrame = null
      var test: org.apache.spark.sql.DataFrame = null
      t("split") = secs {
        val parts = cached.randomSplit(Array(0.7, 0.3), 42L)
        train = parts(0); test = parts(1)
        train.count(): Unit
      }
      val pipeline = new org.apache.spark.ml.Pipeline().setStages(Array(
        MlPipelines.assembler(featCols), MlPipelines.rfMllibParity()))
      var model: org.apache.spark.ml.PipelineModel = null
      t("rf_fit") = secs { model = pipeline.fit(train) }
      t("confusion") = secs {
        MlPipelines.confusionMatrix(model.transform(test))
          .collect(): Unit
      }
      cached.unpersist()
      val total = t.values.sum
      all += t.toMap
      println(s"""{"rep":$r,${t.map { case (k, v) =>
        f""""$k":$v%.2f""" }.mkString(",")},"total":${f"$total%.2f"}}""")
    }
    def tmean(xs: Seq[Double]): Double = {
      val s = xs.sorted
      val core = if (s.size >= 4) s.drop(1).dropRight(1) else s
      core.sum / core.size
    }
    val summary = phases.map { p =>
      val xs = all.map(_(p)).toSeq
      f""""$p":{"tmean":${tmean(xs)}%.2f,"spread":${
        xs.max / math.max(xs.min, 1e-9)}%.2f}"""
    }
    println(
      s"""{"metric":"qm1_phases","reps":$reps,${summary.mkString(",")}}""")
  }
}
