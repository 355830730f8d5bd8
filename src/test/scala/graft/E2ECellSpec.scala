package graft

import java.nio.file.Files

import org.apache.spark.ml.attribute.{Attribute, NominalAttribute}
import org.apache.spark.ml.classification.RandomForestClassificationModel
import org.apache.spark.sql.functions._

import graft.bench.E2EBench
import graft.ml.MlPipelines
import graft.operators.{FeaturePipeline, GlobalWindow, Labeler}
import graft.schema.StockSchema

/** The paper's end-to-end cells: what their label carries and what they
  * leave behind. */
class E2ECellSpec extends SparkSpec {

  private lazy val barsPath = {
    val p = Files.createTempDirectory("graft_e2e_").toString + "/bars"
    StockFixture.bars(spark, nDays = 6, minutesPerDay = 50).write.parquet(p)
    p
  }

  test("every label site tags buy_or_sell as a binary nominal attribute, " +
    "and RF takes numClasses = 2 from it") {
    val bars = spark.read.parquet(barsPath)
    val global = GlobalWindow.lagLabelGlobal(bars, Seq("date"),
      bucketKey = unix_micros(col("date")))
    Seq("label" -> Labeler.label(bars),
      "labelViaJoin" -> Labeler.labelViaJoin(bars),
      "lagLabelGlobal" -> global,
      "fast lead" -> FeaturePipeline.fast(bars, useLead = true),
      "fast lag" -> FeaturePipeline.fast(bars)).foreach { case (site, df) =>
      Attribute.fromStructField(df.schema("buy_or_sell")) match {
        case a: NominalAttribute =>
          assert(a.getNumValues.contains(2), s"$site: $a")
        case other => fail(s"$site: label attribute is $other")
      }
    }
    val (model, _) = MlPipelines.fitPredict(global,
      StockSchema.rfRawFeatures, MlPipelines.rfMllibParity())
    try assert(model.stages.last
      .asInstanceOf[RandomForestClassificationModel].numClasses == 2)
    finally global.unpersist()
  }

  test("the RF cells release every cache they create") {
    spark.catalog.clearCache()
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    for ((name, cell) <- Seq("rf_raw" -> E2EBench.rfRaw _,
        "rf_fe" -> E2EBench.rfFe _)) {
      val auc = cell(spark, barsPath)
      assert(auc >= 0.0 && auc <= 1.0, s"$name AUC $auc")
      val leaked = sc.getPersistentRDDs -- before
      assert(leaked.isEmpty, s"$name left ${leaked.values.mkString(", ")}")
    }
  }
}
