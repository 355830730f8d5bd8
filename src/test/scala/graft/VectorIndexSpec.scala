package graft

import org.apache.spark.sql.functions._

import graft.operators.SimilaritySearch
import graft.sources.{DeletionVectors, Occ, VectorIndex, ZOrder}
import graft.sources.VectorIndex.StaleVectorIndexException

/** The persisted ANN index ([[graft.sources.VectorIndex]]): a stored
  * index must answer bit-identically to the in-query computation it
  * replaces (the oracle twin is `qv18_indexed_knn`; here the same
  * equality plus everything not SQL-expressible), refresh by churn,
  * fail fast when the lake moved under it, and see MoR deletes with
  * no refresh at all. */
class VectorIndexSpec extends SparkSpec {

  private lazy val emb = graft.queries.Oracle
    .table(spark, "/root/testdata/sf0.001", "embeddings")
    .localCheckpoint()

  private lazy val qvec: Seq[Float] = emb.filter(col("vec_id") === 0)
    .select(col("embedding")).head.getSeq[Float](0)

  private def mkLake(df: org.apache.spark.sql.DataFrame): (String, String) = {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_vidx_").toString
    val lake = s"$dir/lake"
    assert(Occ.append(spark, lake, df) >= 0L)
    (lake, s"$dir/vidx")
  }

  private def pairs(df: org.apache.spark.sql.DataFrame): Seq[(Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq

  test("stored-index query == the in-query IVF answer over the same " +
    "corpus and centroids") {
    val (lake, idx) = mkLake(emb)
    VectorIndex.build(spark, lake, idx)
    val got = pairs(
      VectorIndex.query(spark, lake, idx, qvec, k = 10, probes = 4))
    val cents = SimilaritySearch.hashSampledCentroids(emb, 16)
    val bucketed = emb.join(
      SimilaritySearch.ivfAssignExact(emb, cents), Seq("vec_id"))
    val want = pairs(SimilaritySearch.ivfQuery(bucketed, cents,
      typedlit(qvec), k = 10, probes = 4))
    assert(got == want)
  }

  test("refresh is churn-bounded: it assigns exactly the appended " +
    "files' rows, no-ops on an unchanged lake, and the refreshed " +
    "index answers over the full corpus") {
    val base = emb.filter(pmod(col("vec_id"), lit(5)) =!= 0)
    val batch = emb.filter(pmod(col("vec_id"), lit(5)) === 0)
    val (lake, idx) = mkLake(base)
    VectorIndex.build(spark, lake, idx)
    assert(Occ.append(spark, lake, batch) > 0L)
    val (nFiles, nRows) = VectorIndex.refresh(spark, lake, idx)
    assert(nFiles > 0)
    assert(nRows == batch.count(),
      s"refresh must assign exactly the appended rows, saw $nRows")
    // already current: nothing to do, no generation published
    assert(VectorIndex.refresh(spark, lake, idx) == ((0, 0L)))
    // the refreshed answer covers base AND batch rows, with the
    // centroids still pinned to the BASE sample (refresh never moves
    // them — assignment stability is the contract)
    val cents = SimilaritySearch.hashSampledCentroids(base, 16)
    val bucketed = emb.join(
      SimilaritySearch.ivfAssignExact(emb, cents), Seq("vec_id"))
    val want = pairs(SimilaritySearch.ivfQuery(bucketed, cents,
      typedlit(qvec), k = 10, probes = 4))
    val got = pairs(
      VectorIndex.query(spark, lake, idx, qvec, k = 10, probes = 4))
    assert(got == want)
  }

  test("an un-refreshed index REFUSES to answer after an append — " +
    "silently missing the new rows is the failure mode the guard " +
    "exists for") {
    val (lake, idx) = mkLake(emb.filter(col("vec_id") < 400))
    VectorIndex.build(spark, lake, idx)
    assert(Occ.append(spark, lake, emb.filter(col("vec_id") >= 400)) > 0L)
    val e = intercept[StaleVectorIndexException] {
      VectorIndex.query(spark, lake, idx, qvec, k = 10, probes = 4)
    }
    assert(e.getMessage.contains("refresh"), e.getMessage)
  }

  test("a physical rewrite (OPTIMIZE) trips the stale guard on query " +
    "AND refresh; only a rebuild recovers") {
    val (lake, idx) = mkLake(emb)
    VectorIndex.build(spark, lake, idx)
    ZOrder.optimize(spark, lake, Seq("vec_id"), bits = 10, numFiles = 2)
    val eq = intercept[StaleVectorIndexException] {
      VectorIndex.query(spark, lake, idx, qvec, k = 10, probes = 4)
    }
    assert(eq.getMessage.contains("rebuild"), eq.getMessage)
    val er = intercept[StaleVectorIndexException] {
      VectorIndex.refresh(spark, lake, idx)
    }
    assert(er.getMessage.contains("rebuild"), er.getMessage)
    VectorIndex.build(spark, lake, idx)
    assert(VectorIndex.query(spark, lake, idx, qvec, k = 10, probes = 4)
      .count() == 10L)
  }

  test("a MoR delete is visible to the stored index with NO refresh: " +
    "dead rows drop out of the answer the moment the delete commits") {
    val (lake, idx) = mkLake(emb)
    VectorIndex.build(spark, lake, idx)
    val before = pairs(
      VectorIndex.query(spark, lake, idx, qvec, k = 10, probes = 4))
    val victim = before.head._1 // the top hit (vec_id = 0 itself)
    assert(DeletionVectors.deleteMor(spark, lake,
      s"vec_id = $victim") == 1L)
    // deletion-vector churn does not even require a refresh
    assert(VectorIndex.refresh(spark, lake, idx) == ((0, 0L)))
    val after = pairs(
      VectorIndex.query(spark, lake, idx, qvec, k = 10, probes = 4))
    assert(!after.exists(_._1 == victim),
      s"deleted vec_id $victim still served from the index")
    assert(after.size == 10,
      "the k-heap must refill from live rows")
  }

  test("stored IVF-PQ: queryPq == the in-query ivfPqQuery over the " +
    "same corpus, centroids and codebook") {
    val (lake, idx) = mkLake(emb)
    VectorIndex.build(spark, lake, idx,
      VectorIndex.Params(c = 16, pqM = 8, pqK = 16))
    val got = pairs(VectorIndex.queryPq(spark, lake, idx, qvec.toArray,
      k = 5, probes = 4, shortlist = 32))
    val cents = SimilaritySearch.hashSampledCentroids(emb, 16)
    val bucketed = emb.join(
      SimilaritySearch.ivfAssignExact(emb, cents), Seq("vec_id"))
    val sample = SimilaritySearch.pqSampleVectors(emb, 16)
    val want = pairs(SimilaritySearch.ivfPqQuery(bucketed, cents, sample,
      qvec.toArray, k = 5, probes = 4, shortlist = 32))
    assert(got == want)
  }

  test("carried filter columns survive a refresh: the stored filtered " +
    "answer == filtering the in-query assignment over the full corpus") {
    val base = emb.filter(pmod(col("vec_id"), lit(5)) =!= 0)
    val batch = emb.filter(pmod(col("vec_id"), lit(5)) === 0)
    val (lake, idx) = mkLake(base)
    VectorIndex.build(spark, lake, idx,
      VectorIndex.Params(c = 16, carryCols = Seq("label")))
    assert(Occ.append(spark, lake, batch) > 0L)
    val (nf, _) = VectorIndex.refresh(spark, lake, idx)
    assert(nf > 0)
    val got = pairs(VectorIndex.queryFiltered(spark, lake, idx,
      col("label") === 3, qvec, k = 10, probes = 4))
    val cents = SimilaritySearch.hashSampledCentroids(base, 16)
    val bucketed = emb.join(
      SimilaritySearch.ivfAssignExact(emb, cents), Seq("vec_id"))
      .filter(col("label") === 3)
    val want = pairs(SimilaritySearch.ivfQuery(bucketed, cents,
      typedlit(qvec), k = 10, probes = 4))
    assert(got == want)
  }

  test("refresh accretes assignment SEGMENTS by reference (O(churn) " +
    "publish, never an index copy); compactSegments folds them and " +
    "the sweep GCs what no kept generation references") {
    val third = emb.count() / 3
    val (lake, idx) = mkLake(emb.filter(col("vec_id") < third))
    VectorIndex.build(spark, lake, idx)
    assert(Occ.append(spark, lake, emb.filter(
      col("vec_id") >= third && col("vec_id") < 2 * third)) > 0L)
    assert(VectorIndex.refresh(spark, lake, idx)._1 > 0)
    assert(Occ.append(spark, lake,
      emb.filter(col("vec_id") >= 2 * third)) > 0L)
    assert(VectorIndex.refresh(spark, lake, idx)._1 > 0)
    val segRoot = new org.apache.hadoop.fs.Path(s"$idx/segments")
    val f = segRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(f.listStatus(segRoot).length == 3,
      "build + two refreshes = three immutable segments")
    val before = pairs(
      VectorIndex.query(spark, lake, idx, qvec, k = 10, probes = 4))
    assert(VectorIndex.compactSegments(spark, lake, idx) == 3)
    val after = pairs(
      VectorIndex.query(spark, lake, idx, qvec, k = 10, probes = 4))
    assert(after == before, "a segment fold must not change one answer")
    // the fold kept the previous generation's 3 segments (reader
    // grace) + its own 1; the NEXT publish drops that generation and
    // its exclusive segments with it
    assert(f.listStatus(segRoot).length == 4)
    assert(VectorIndex.compactSegments(spark, lake, idx) == 1) // no-op
    VectorIndex.build(spark, lake, idx) // fresh gen; prev = the fold
    assert(f.listStatus(segRoot).length == 2,
      s"sweep must GC unreferenced segments, saw ${
        f.listStatus(segRoot).length}")
  }

  test("refresh and compactSegments publish through the INDEX's " +
    "filesystem when the index lives on another scheme than the lake") {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.graftalt.impl", classOf[AltSchemeFs].getName)
    conf.set("fs.AbstractFileSystem.graftalt.impl",
      classOf[AltSchemeAfs].getName)
    val third = emb.count() / 3
    val (lake, localIdx) = mkLake(emb.filter(col("vec_id") < third))
    // the same local directory, reached only through the second scheme
    val idx = s"graftalt://$localIdx"
    VectorIndex.build(spark, lake, idx)
    assert(Occ.append(spark, lake, emb.filter(
      col("vec_id") >= third && col("vec_id") < 2 * third)) > 0L)
    assert(VectorIndex.refresh(spark, lake, idx)._1 > 0)
    assert(Occ.append(spark, lake,
      emb.filter(col("vec_id") >= 2 * third)) > 0L)
    assert(VectorIndex.refresh(spark, lake, idx)._1 > 0)
    val before = pairs(
      VectorIndex.query(spark, lake, idx, qvec, k = 10, probes = 4))
    assert(VectorIndex.compactSegments(spark, lake, idx) == 3)
    assert(pairs(VectorIndex.query(spark, lake, idx, qvec, k = 10,
      probes = 4)) == before)
    // the generations landed in the index's own directory
    assert(new java.io.File(localIdx, "CURRENT").isFile)
  }

  test("two refreshes racing: the loser's commit section detects the " +
    "republish and fails LOUDLY instead of silently dropping the " +
    "winner's segment references; the retry converges") {
    val half = emb.count() / 2
    val (lake, idx) = mkLake(emb.filter(col("vec_id") < half))
    VectorIndex.build(spark, lake, idx)
    assert(Occ.append(spark, lake,
      emb.filter(col("vec_id") >= half)) > 0L)
    val injected = new java.util.concurrent.atomic.AtomicBoolean(false)
    val e = intercept[VectorIndex.StaleVectorIndexException] {
      VectorIndex.refresh(spark, lake, idx, beforePublish = () => {
        if (injected.compareAndSet(false, true)) {
          // a concurrent refresh lands WHOLE inside the window
          val (nf0, nr0) = VectorIndex.refresh(spark, lake, idx)
          assert(nf0 > 0 && nr0 == emb.count() - half)
        }
      })
    }
    assert(e.getMessage.contains("retry the refresh"), e.getMessage)
    // the retry composes over the republished generation: the racing
    // refresh already covered the batch, so it converges to a no-op
    assert(VectorIndex.refresh(spark, lake, idx) == ((0, 0L)))
    // and the converged index answers exactly the in-query twin
    val cents = SimilaritySearch.hashSampledCentroids(
      emb.filter(col("vec_id") < half), 16)
    val bucketed = emb.join(
      SimilaritySearch.ivfAssignExact(emb, cents), Seq("vec_id"))
    val want = pairs(SimilaritySearch.ivfQuery(bucketed, cents,
      typedlit(qvec), k = 10, probes = 4))
    assert(pairs(VectorIndex.query(spark, lake, idx, qvec,
      k = 10, probes = 4)) == want)
  }

  test("a LAKE rewrite landing inside refresh's prepare/publish window " +
    "fails the refresh itself — not a wasted publish whose staleness " +
    "only surfaces at the first query") {
    val half = emb.count() / 2
    val (lake, idx) = mkLake(emb.filter(col("vec_id") < half))
    VectorIndex.build(spark, lake, idx)
    assert(Occ.append(spark, lake,
      emb.filter(col("vec_id") >= half)) > 0L)
    val e = intercept[StaleVectorIndexException] {
      VectorIndex.refresh(spark, lake, idx, beforePublish = () =>
        // a physical rewrite (CoW OPTIMIZE) retires every file the
        // prepared generation was about to pin
        ZOrder.optimize(spark, lake, Seq("vec_id"), bits = 10,
          numFiles = 2))
    }
    assert(e.getMessage.contains("rebuild"), e.getMessage)
    // the cause failed AT the refresh; rebuild recovers as documented
    VectorIndex.build(spark, lake, idx)
    assert(VectorIndex.query(spark, lake, idx, qvec, k = 10, probes = 4)
      .count() == 10L)
  }

  test("centroid-drift probe: a same-distribution refresh stays inside " +
    "the tolerance (no false rebuild), a drifted refresh flags one — " +
    "and the flag fires while mixed-population recall@10 through the " +
    "STALE centroids is still >= 0.9 (early warning, not post-mortem)") {
    val dim = 16
    // clustered corpus, the VectorDriftScale construction at spec
    // scale: mode center (hash-derived unit direction) + row jitter;
    // base draws 16 modes, drift draws 4 NOVEL ones
    def mixture(from: Long, until: Long, nModes: Int, modeBase: Int) = {
      val mode = pmod(col("id"), lit(nModes)) + lit(modeBase)
      spark.range(from, until)
        .select(col("id").as("vec_id"),
          transform(sequence(lit(0), lit(dim - 1)), j =>
            (((pmod(hash(mode, j), lit(100001)).cast("float") -
              lit(50000f)) / lit(50000f)) +
              ((pmod(hash(col("id"), j, lit(17)), lit(100001))
                .cast("float") - lit(50000f)) / lit(50000f)) * lit(0.35f))
              .cast("float")).as("embedding"))
    }
    def base(a: Long, b: Long) = mixture(a, b, 16, 0)
    def drifted(a: Long, b: Long) = mixture(a, b, 4, 1000)
    val (lake, idx) = mkLake(base(0L, 10000L))
    VectorIndex.build(spark, lake, idx,
      VectorIndex.Params(c = 16, trainedCentroids = true))
    assert(VectorIndex.driftReport(spark, idx).isEmpty,
      "no refresh yet — nothing to compare")
    // control: churn from the SAME distribution must not cry wolf
    assert(Occ.append(spark, lake, base(10000L, 11000L)) > 0L)
    assert(VectorIndex.refresh(spark, lake, idx)._2 == 1000L)
    val ctl = VectorIndex.driftReport(spark, idx).get
    assert(!ctl.rebuildAdvised,
      s"same-distribution churn flagged a rebuild (ratio ${ctl.ratio})")
    // drifted churn: novel modes the pinned centroids never saw
    assert(Occ.append(spark, lake, drifted(11000L, 12000L)) > 0L)
    assert(VectorIndex.refresh(spark, lake, idx)._2 == 1000L)
    val rep = VectorIndex.driftReport(spark, idx).get
    assert(rep.rebuildAdvised && rep.ratio < 0.9,
      s"drifted churn must flag loudly, ratio was ${rep.ratio}")
    // the flag precedes the cliff: recall@10 over queries drawn ∝ the
    // corpus composition (11/12 base, 1/12 drifted) is still >= 0.9
    // through the stale centroids
    val queries = base(20000L, 20011L).unionAll(drifted(20011L, 20012L))
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
      .localCheckpoint()
    val corpus = base(0L, 11000L).unionAll(drifted(11000L, 12000L))
    val truth = SimilaritySearch.knnJoin(corpus, queries, 10)
      .select(col("query_id"), col("vec_id"))
      .collect().groupBy(_.getLong(0))
      .map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    val recalls = queries.collect().map { r =>
      val got = VectorIndex.query(spark, lake, idx,
        r.getSeq[Float](1).toSeq, k = 10, probes = 4)
        .collect().map(_.getLong(0)).toSet
      (got intersect truth(r.getLong(0))).size.toDouble / 10
    }
    val recall = recalls.sum / recalls.length
    assert(recall >= 0.9,
      s"stale recall@10 already under 0.9 ($recall) when the probe " +
        "flagged — the probe would be a post-mortem, not a warning")
  }

  test("PQ codes through a churn refresh: new rows are encoded with " +
    "the PINNED codebook and queryPq == the in-query IVF-PQ answer") {
    val base = emb.filter(pmod(col("vec_id"), lit(5)) =!= 0)
    val batch = emb.filter(pmod(col("vec_id"), lit(5)) === 0)
    val (lake, idx) = mkLake(base)
    VectorIndex.build(spark, lake, idx,
      VectorIndex.Params(c = 16, pqM = 8, pqK = 16))
    assert(Occ.append(spark, lake, batch) > 0L)
    assert(VectorIndex.refresh(spark, lake, idx)._2 == batch.count())
    val got = pairs(VectorIndex.queryPq(spark, lake, idx, qvec.toArray,
      k = 5, probes = 4, shortlist = 32))
    // in-query twin with the BASE-pinned centroids and codebook over
    // the FULL corpus — exactly what the refreshed index must answer
    val cents = SimilaritySearch.hashSampledCentroids(base, 16)
    val bucketed = emb.join(
      SimilaritySearch.ivfAssignExact(emb, cents), Seq("vec_id"))
    val sample = SimilaritySearch.pqSampleVectors(base, 16)
    val want = pairs(SimilaritySearch.ivfPqQuery(bucketed, cents, sample,
      qvec.toArray, k = 5, probes = 4, shortlist = 32))
    assert(got == want)
  }

  test("trained centroids through the stored index: recall@10 >= 0.9 " +
    "at C=8, probes=4 (the production build, measured not hashed)") {
    val (lake, idx) = mkLake(emb)
    VectorIndex.build(spark, lake, idx,
      VectorIndex.Params(c = 8, trainedCentroids = true))
    val approx =
      VectorIndex.query(spark, lake, idx, qvec, k = 10, probes = 4)
    val truth = SimilaritySearch.bruteForceTopK(
      emb.crossJoin(broadcast(emb.filter(col("vec_id") === 0)
        .select(col("embedding").as("qv")))), col("qv"), 10)
    val r = SimilaritySearch.recallAtK(truth, approx).head()
    assert(r.getDouble(2) >= 0.9,
      s"stored trained-centroid recall@10 = ${r.getDouble(2)}")
  }

  test("a generation in the old layout (parquet meta/ dir, no meta.txt) " +
    "fails with a rebuild error naming the index, and a build over it " +
    "publishes without sweeping its unknown references") {
    import org.apache.hadoop.fs.Path
    val (lake, idx) = mkLake(emb.filter(col("vec_id") < 400))
    VectorIndex.build(spark, lake, idx)
    val f = new Path(idx).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = f.open(new Path(idx, "CURRENT"))
    val live = try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
      finally in.close()
    val gen = new Path(idx, live)
    assert(f.delete(new Path(gen, "meta.txt"), false))
    spark.range(3).write.parquet(new Path(gen, "meta").toString)
    def kept(sub: String): Set[String] =
      f.listStatus(new Path(idx, sub)).map(_.getPath.getName).toSet
    val (segs, aux) = (kept("segments"), kept("aux"))
    for (read <- Seq[() => Any](
        () => VectorIndex.centroids(spark, idx),
        () => VectorIndex.refresh(spark, lake, idx))) {
      val e = intercept[StaleVectorIndexException](read())
      assert(e.getMessage.contains(idx) &&
        e.getMessage.contains("rebuild the index"), e.getMessage)
    }
    VectorIndex.build(spark, lake, idx)
    assert(segs.subsetOf(kept("segments")) && aux.subsetOf(kept("aux")),
      "a publish swept references of an unreadable kept generation")
    assert(VectorIndex.centroids(spark, idx).count() == 16L)
    assert(VectorIndex.query(spark, lake, idx, qvec, k = 10, probes = 4)
      .count() == 10L)
  }
}

/** The local filesystem under a second scheme, `graftalt:` — enough to
  * put a lake and its index on two different Hadoop filesystems in one
  * process. Registered per spec through `fs.graftalt.impl` (and the
  * `FileContext` twin, used by the pointer rename). */
class AltSchemeFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = AltSchemeFs.Uri
  override def getScheme: String = "graftalt"
}

object AltSchemeFs {
  val Uri: java.net.URI = java.net.URI.create("graftalt:///")
}

class AltSchemeAfs(uri: java.net.URI, conf: org.apache.hadoop.conf.Configuration)
    extends org.apache.hadoop.fs.DelegateToFileSystem(uri, new AltSchemeFs,
      conf, "graftalt", false)
