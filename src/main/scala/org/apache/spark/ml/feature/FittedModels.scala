package org.apache.spark.ml.feature

import org.apache.spark.ml.linalg.{DenseMatrix, DenseVector, Vector}

/** Builds fitted feature models from statistics computed outside their
  * estimators: the model constructors are package-private to Spark ML. */
object FittedModels {

  def scaler(uid: String, std: Vector, mean: Vector): StandardScalerModel =
    new StandardScalerModel(uid, std, mean)

  def pca(uid: String, pc: DenseMatrix, explainedVariance: DenseVector)
      : PCAModel =
    new PCAModel(uid, pc, explainedVariance)
}
