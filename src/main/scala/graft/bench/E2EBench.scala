package graft.bench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.ml.MlPipelines
import graft.operators.{FeaturePipeline, GlobalWindow}
import graft.schema.StockSchema

/** End-to-end pipelines mirroring the reference's published benchmark
  * cells (BASELINE.md / `G_2_presentation.pdf` p.23) at the SAME scale:
  * 671,024 minute bars × 60 columns, load → label → (transform) → train →
  * evaluate AUC. The reference's numbers are 2′08″–15′02″ on 2–3-worker
  * Dataproc (and 2′34″+ on a local Docker i7); these run in the bench's
  * local[N] session, so BENCH vs BASELINE is a same-scale, same-shape
  * comparison.
  *
  * The bar table is generated deterministically once (closed-form columns,
  * no RNG) and persisted as parquet under /tmp — the timed run reads it
  * from disk like the reference reads its CSV, so "load" is real I/O.
  */
object SyntheticBars {

  val ReferenceRows: Long = 671024L

  /** Deterministic reference-shaped bar table: minute timestamps over
    * ~391-minute trading days, closed-form price path, every indicator
    * column a smooth function of the row index (the values only need the
    * right shape and cardinality — the benchmark measures plan execution,
    * not financial truth). */
  def generate(spark: SparkSession, nRows: Long = ReferenceRows): DataFrame = {
    val base = spark.range(nRows).toDF("i")
      .withColumn("day", (col("i") / 391).cast("long"))
      .withColumn("minute", col("i") % 391)
      .withColumn("date",
        expr("timestamp_seconds(1420070400 + day * 86400 + (570 + minute) * 60)"))
      .withColumn("volume", (lit(1000) + col("i") % 97).cast("int"))
      .withColumn("close",
        lit(100.0) + lit(5.0) * sin(col("i") / lit(7.0))
          + col("i") * lit(0.0001))
      .withColumn("high", col("close") + lit(0.5)
        + lit(0.1) * cos(col("i") / lit(3.0)))
      .withColumn("low", col("close") - lit(0.5))
      .withColumn("open", col("close") - lit(0.1))
    val withIndicators = StockSchema.indicatorCols
      .filterNot(Seq("close", "high", "low", "open").contains)
      .zipWithIndex.foldLeft(base) { case (df, (c, k)) =>
        df.withColumn(c,
          col("close") * lit(1.0 + k % 7) + col("i") / lit((k + 2).toDouble))
      }
    withIndicators.select(
      (Seq("date", "volume") ++ StockSchema.indicatorCols).map(col): _*)
  }

  /** Write-once parquet location; returns the path. */
  def ensure(spark: SparkSession, nRows: Long = ReferenceRows): String = {
    val path = s"/tmp/graft_bench_bars_$nRows"
    if (!new java.io.File(path, "_SUCCESS").exists()) {
      generate(spark, nRows).write.mode("overwrite").parquet(path)
    }
    path
  }
}

object E2EBench {

  private def load(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** The reference's LAG label, planned scalably: `Labeler.label` with no
    * partition columns executes the window as ONE task and every
    * downstream ML stage (scaler/PCA/RF/SVM treeAggregate rounds) inherits
    * that single partition — training runs one-core. `GlobalWindow`
    * computes the bit-identical label with range buckets + boundary
    * stitch, so training parallelizes across the session's cores. */
  private def labelScalable(df: DataFrame): DataFrame =
    GlobalWindow.lagLabelGlobal(df, Seq("date"),
      bucketKey = unix_micros(col("date")))

  private def trainAuc(data: DataFrame, features: Seq[String],
      classifier: org.apache.spark.ml.Estimator[_ <: org.apache.spark.ml.Model[_]],
      seed: Long = 42L): Double = {
    // fitPredict caches `data` itself (no fitPartitions): release that
    // cache once the AUC is in, unless the caller already held one
    val callerCached = data.storageLevel != StorageLevel.NONE
    try {
      val (_, pred) = MlPipelines.fitPredict(data, features, classifier,
        seed = Some(seed))
      aucOf(pred)
    } finally if (!callerCached) data.unpersist()
  }

  private def aucOf(pred: DataFrame): Double =
    MlPipelines.evaluate(pred, metrics = Seq("areaUnderROC"))("areaUnderROC")

  /** `G_2_rf_nordd.py` — RF, raw 59 features, no transform. */
  def rfRaw(spark: SparkSession, path: String): Double = {
    val labeled = labelScalable(load(spark, path))
    trainAuc(labeled, StockSchema.rfRawFeatures, MlPipelines.rfMllibParity())
  }

  /** `G_2_rf_nordd_fe.py` — RF after the feature-engineering pipeline
    * (Spark-first single-shuffle form). */
  def rfFe(spark: SparkSession, path: String): Double =
    trainAuc(FeaturePipeline.fast(load(spark, path)),
      FeaturePipeline.featureCols, MlPipelines.rfMllibParity())

  /** Same cell, but through the reference's literal ~13-join topology —
    * the plan-shape ablation. */
  def rfFeFaithful(spark: SparkSession, path: String): Double =
    trainAuc(FeaturePipeline.faithful(load(spark, path)),
      FeaturePipeline.featureCols, MlPipelines.rfMllibParity())

  /** `G_2_rf_pca.py` — scale → PCA(k=12) → RF on the component vectors.
    * `labeled` is cached before the fits: the scaler/PCA pass and the
    * final transform each scan it, and uncached each scan re-executes the
    * whole label-window plan (the reference re-executes its DAG the same
    * way — SURVEY.md §4.1; caching here is the engine-side fix). The
    * trained features are re-projected narrow (label + PCA vector only)
    * before the training cache. */
  def rfPca(spark: SparkSession, path: String): Double = {
    val labeled = labelScalable(load(spark, path)).cache()
    try rfPcaOn(labeled) finally labeled.unpersist()
  }

  /** The fits over an already-materialized labeled frame — the timed
    * body of the iso protocol's steady-state rep ([[isoPrepared]]). The
    * scaler and the PCA(k=12) fit come from one moment pass
    * ([[MlPipelines.scaledPca]]). Every cache this body creates, it
    * unpersists, so reps can run back-to-back without a session-wide
    * cache clear (which would drop the prepared labeled frame too). */
  def rfPcaOn(labeled: DataFrame): Double = {
    val (transformed, _) = MlPipelines.scaledPca(labeled,
      StockSchema.rfRawFeatures, k = 12, prefix = "all")
    val rf = MlPipelines.rfMllibParity().setFeaturesCol("pca_all_features")
    val cached = transformed
      .select(col("buy_or_sell"), col("pca_all_features")).cache()
    val Array(train, test) = cached.randomSplit(Array(0.7, 0.3), 42L)
    val model = rf.fit(train)
    try aucOf(model.transform(test)) finally cached.unpersist()
  }

  /** `G_2_svm.py` — LinearSVC on the 55-column list, split seed 123
    * (`G_2_svm.py:153`). */
  def svmRaw(spark: SparkSession, path: String): Double = {
    val labeled = labelScalable(load(spark, path))
    trainAuc(labeled, StockSchema.svmFeatures, MlPipelines.svm(), seed = 123L)
  }

  /** `G_2_svm_pca.py` — BASELINE.md's "SVM PCA" 4′17″ row. Faithful to
    * the reference's ACTUAL dataflow, which has a quirk (SURVEY.md §2
    * file map): scaler + PCA are fitted (k=#features scree pass at
    * `G_2_svm_pca.py:94-104`, then the k=12 refit at `:115-122`, plus
    * the correlated / non-correlated scaler fits at `:78-86`) but the
    * LinearSVC then trains on the RAW re-assembled 55-col `features`
    * list with split seed 123 (`:196-217`) — the PCA vectors never
    * reach the model. The fits are real work (each is a full
    * aggregation pass in the reference; that's the +41″ over plain SVM
    * in the baseline); the transforms are lazy projections Catalyst
    * prunes downstream, in our engine and in the reference alike. */
  def svmPca(spark: SparkSession, path: String): Double = {
    val labeled = labelScalable(load(spark, path)).cache()
    try svmPcaOn(labeled) finally labeled.unpersist()
  }

  /** Timed body over a materialized labeled frame (see [[rfPcaOn]]).
    * The reference's three scaler fits over the same full-width vectors
    * (the correlated / non-correlated ones mirror its 22/37-col sublists
    * in cost; those sublists aren't part of the engine's schema surface)
    * and its two PCA fits (the k=#features scree pass and the k=12
    * refit) are one [[MlPipelines.scalerPca]] pass here: the scaler
    * fits are identical, and every k is a truncation of one
    * decomposition. The fits' results do not reach the AUC: the SVC
    * trains from `labeled`. */
  def svmPcaOn(labeled: DataFrame): Double = {
    val va = MlPipelines.assembler(StockSchema.rfRawFeatures, "all_features")
      .transform(labeled)
    MlPipelines.scalerPca(va, "all_features",
      Seq(StockSchema.rfRawFeatures.length, 12))
    trainAuc(labeled, StockSchema.svmFeatures, MlPipelines.svm(), seed = 123L)
  }

  /** `G_2_rf_rdd.py` — the reference's mllib/RDD path reproduced
    * literally (BASELINE.md "RF-RDD" rows): DataFrame → RDD[LabeledPoint]
    * → `mllib.tree.RandomForest.trainClassifier` with the exact config
    * (numTrees=10, gini, maxDepth=10, maxBins=32, seed=42), split 70/30
    * seed 42, AUC via mllib BinaryClassificationMetrics. Kept ONLY as the
    * benchmark-parity variant — the engine's real path is the ml
    * Pipeline (SURVEY.md §1.5). */
  def rfMllib(spark: SparkSession, path: String): Double = {
    import org.apache.spark.mllib.evaluation.BinaryClassificationMetrics
    import org.apache.spark.mllib.linalg.{Vectors => OldVectors}
    import org.apache.spark.mllib.regression.LabeledPoint
    import org.apache.spark.mllib.tree.RandomForest
    val labeled = labelScalable(load(spark, path))
    val featCols = StockSchema.rfRawFeatures
    val idx = featCols.map(labeled.schema.fieldIndex)
    val labelIdx = labeled.schema.fieldIndex("buy_or_sell")
    val lp = labeled.rdd.map { r =>
      val arr = idx.map { i =>
        val v = r.get(i)
        v match {
          case d: java.lang.Double => d.doubleValue()
          case n: java.lang.Integer => n.doubleValue()
          case _ => 0.0
        }
      }.toArray
      LabeledPoint(r.getInt(labelIdx).toDouble, OldVectors.dense(arr))
    }
    val Array(train, test) = lp.randomSplit(Array(0.7, 0.3), seed = 42L)
    val model = RandomForest.trainClassifier(train, numClasses = 2,
      categoricalFeaturesInfo = Map.empty[Int, Int], numTrees = 10,
      featureSubsetStrategy = "auto", impurity = "gini", maxDepth = 10,
      maxBins = 32, seed = 42)
    val scoreAndLabel = test.map(p => (model.predict(p.features), p.label))
    new BinaryClassificationMetrics(scoreAndLabel).areaUnderROC()
  }

  /** The benchmark cells, keyed like BASELINE.md rows. */
  val cells: Map[String, (SparkSession, String) => Double] = Map(
    "e2e_rf_raw" -> rfRaw,
    "e2e_rf_fe" -> rfFe,
    "e2e_rf_fe_faithful" -> rfFeFaithful,
    "e2e_rf_pca" -> rfPca,
    "e2e_svm_raw" -> svmRaw,
    "e2e_svm_pca" -> svmPca,
    "e2e_rf_mllib" -> rfMllib)

  /** Iso-protocol preparation (r11 VERDICT ask #4). The PCA cells
    * cache the labeled frame before their fits, and that cache FILL
    * was the one page-cache-sensitive term left inside the timed
    * region — the phase probe measured it at 8.9 s cold vs 0.7 s warm
    * (12.7× spread) while the scaler/PCA/RF fits held steady, and two
    * rounds running the widest iso cell needed a post-hoc cold-fill
    * explanation (svm_pca r9/r10, rf_pca r10/r11). Bench materializes
    * the labeled frame ONCE per fresh session, untimed, and the timed
    * reps measure the fits over it — the steady-state number a
    * long-lived cluster sees, with the OS page cache taken out of the
    * protocol. The interleaved key (`e2e_X`, no `_iso`) keeps timing
    * the full label+fit pipeline, so both totals stay in the artifact.
    * Returns (timedBody, cleanup). */
  val isoPrepared: Map[String,
      (SparkSession, String) => (() => Double, () => Unit)] = Map(
    "e2e_rf_pca" -> ((s, p) => prepareLabeled(s, p, rfPcaOn)),
    "e2e_svm_pca" -> ((s, p) => prepareLabeled(s, p, svmPcaOn)))

  private def prepareLabeled(spark: SparkSession, path: String,
      body: DataFrame => Double): (() => Double, () => Unit) = {
    val labeled = labelScalable(load(spark, path)).cache()
    labeled.count(): Unit // the fill is preparation, never a rep's cost
    (() => body(labeled), () => { labeled.unpersist(); () })
  }
}
