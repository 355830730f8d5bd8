package graft

import org.apache.spark.ml.feature.{PCAModel, StandardScalerModel}
import org.apache.spark.ml.linalg.{Vector, Vectors}
import org.apache.spark.sql.DataFrame

import graft.ml.MlPipelines

/** [[MlPipelines.scalerPca]]: one moment pass yields the scaler and every
  * requested PCA model, equal to Spark's separate `StandardScaler.fit`
  * and `PCA.fit` up to summation order. */
class ScalerPcaSpec extends SparkSpec {
  import spark.implicits._

  /** `n` random-walk minute bars as 59-wide vectors, indicator-shaped:
    * close, high, low, open, volume, 19 moving averages, 20 momenta and
    * 15 rolling standard deviations — strongly correlated columns with a
    * long tail of small eigenvalues, like the paper's bar table. */
  private def barVectors(n: Int, seed: Long): Seq[Array[Double]] = {
    val r = new scala.util.Random(seed)
    val warm = 25
    val close = Array.iterate(100.0, n + warm)(_ + r.nextGaussian() * 0.2)
    (warm until n + warm).map { t =>
      def window(w: Int) = (t - w + 1 to t).map(close(_))
      def sma(w: Int) = window(w).sum / w
      def sd(w: Int) = {
        val m = sma(w)
        math.sqrt(window(w).map(x => (x - m) * (x - m)).sum / (w - 1))
      }
      val base = Seq(close(t), close(t) + math.abs(r.nextGaussian()) * 0.1,
        close(t) - math.abs(r.nextGaussian()) * 0.1, close(t - 1),
        1000.0 + r.nextInt(500))
      (base ++ (2 to 20).map(sma) ++ (1 to 20).map(w => close(t) - close(t - w))
        ++ (2 to 16).map(sd)).toArray
    }
  }

  private def frame(rows: Seq[Vector]): DataFrame =
    rows.map(Tuple1(_)).toDF("f")

  private lazy val bars = frame(barVectors(1500, 11L).map(Vectors.dense))

  /** Spark's own fits: the scaler, then PCA over its output. */
  private def sparkFits(df: DataFrame, k: Int)
      : (StandardScalerModel, PCAModel) = {
    val sc = MlPipelines.scaler("f", "scaled_f").fit(df)
    (sc, MlPipelines.pca("scaled_f", "pca_f", k).fit(sc.transform(df)))
  }

  private def assertRel(got: Vector, want: Vector, tol: Double,
      what: String): Unit =
    got.toArray.zip(want.toArray).zipWithIndex.foreach { case ((g, w), i) =>
      assert(math.abs(g - w) <= tol * math.abs(w),
        s"$what($i): got $g, Spark $w")
    }

  test("the scaler matches StandardScaler.fit on std and mean, for dense " +
    "and sparse rows") {
    val sparse = frame(barVectors(1500, 11L).zipWithIndex.map {
      case (a, i) if i % 2 == 0 => Vectors.dense(a).toSparse
      case (a, _) => Vectors.dense(a)
    })
    for (df <- Seq(bars, sparse)) {
      val (sc, pcas) = MlPipelines.scalerPca(df, "f", Nil)
      val (want, _) = sparkFits(df, 1)
      assert(pcas.isEmpty)
      assert(!sc.getWithMean && sc.getWithStd)
      assert(sc.getInputCol == "f" && sc.getOutputCol == "scaled_f")
      assertRel(sc.std, want.std, 1e-12, "std")
      assertRel(sc.mean, want.mean, 1e-12, "mean")
    }
  }

  test("every k is Spark's PCA.fit: explained variance to 1e-9 for k in " +
    "{1, 12, 59}, and each well-separated component to 1e-9, same sign") {
    val ks = Seq(1, 12, 59)
    val (_, pcas) = MlPipelines.scalerPca(bars, "f", ks)
    val full = sparkFits(bars, 59)._2.explainedVariance.toArray
    ks.zip(pcas).foreach { case (k, got) =>
      val want = sparkFits(bars, k)._2
      assert(got.getK == k && got.pc.numCols == k && got.pc.numRows == 59)
      assert(got.getInputCol == "scaled_f" && got.getOutputCol == "pca_f")
      got.explainedVariance.toArray.zip(want.explainedVariance.toArray)
        .zipWithIndex.foreach { case ((g, w), i) =>
          assert(math.abs(g - w) <= 1e-9, s"k=$k explainedVariance($i)")
        }
      // a component is pinned by the data only where its eigenvalue
      // stands apart from its neighbours'
      val separated = (0 until k).filter { i =>
        (i == 0 || full(i - 1) - full(i) >= 1e-6) &&
          (i == full.length - 1 || full(i) - full(i + 1) >= 1e-6)
      }
      assert(separated.size >= math.min(k, 5), s"k=$k: $separated")
      for (i <- separated; r <- 0 until 59)
        assert(math.abs(got.pc(r, i) - want.pc(r, i)) <= 1e-9,
          s"k=$k component $i row $r: ${got.pc(r, i)} vs ${want.pc(r, i)}")
    }
  }

  test("the pass is ONE Spark job for any number of ks") {
    val df = bars.repartition(4).cache()
    df.count()
    try for (ks <- Seq(Nil, Seq(1), Seq(59, 12), Seq(1, 12, 30, 59)))
      assert(jobsOf(MlPipelines.scalerPca(df, "f", ks)) == 1, ks.toString)
    finally df.unpersist()
  }

  test("a zero-variance column scales to 0 and drops out of the PCA, " +
    "as in Spark's fits") {
    val rows = barVectors(400, 5L).zipWithIndex.map { case (a, i) =>
      val v = Vectors.dense(a.take(6) ++ Array(7.0, 0.0))
      if (i % 3 == 0) v.toSparse else v
    }
    val df = frame(rows)
    val (sc, Seq(pca)) = MlPipelines.scalerPca(df, "f", Seq(4))
    val (wantSc, wantPca) = sparkFits(df, 4)
    assert(sc.std(6) == 0.0 && sc.std(7) == 0.0)
    assertRel(sc.std, wantSc.std, 1e-12, "std")
    val scaled = sc.transform(df).select("scaled_f").collect()
      .map(_.getAs[Vector](0))
    assert(scaled.forall(v => v(6) == 0.0 && v(7) == 0.0))
    pca.explainedVariance.toArray.zip(wantPca.explainedVariance.toArray)
      .foreach { case (g, w) => assert(math.abs(g - w) <= 1e-9) }
    assert(pca.pc.rowIter.drop(6)
      .forall(_.toArray.forall(math.abs(_) <= 1e-12)))
  }

  test("fewer than 2 rows fail loudly, naming the verb") {
    for (rows <- Seq(Nil, Seq(Vectors.dense(1.0, 2.0)))) {
      val e = intercept[IllegalArgumentException] {
        MlPipelines.scalerPca(frame(rows), "f", Seq(1))
      }
      assert(e.getMessage.contains("scalerPca") &&
        e.getMessage.contains("at least 2"), e.getMessage)
    }
    val e = intercept[IllegalArgumentException] {
      MlPipelines.scalerPca(bars, "f", Seq(60))
    }
    assert(e.getMessage.contains("k = 60"), e.getMessage)
  }
}
