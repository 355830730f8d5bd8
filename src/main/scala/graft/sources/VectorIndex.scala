package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.SimilaritySearch

/** PERSISTED, VERSIONED ANN INDEX — the lake sidecar that makes the
  * `SimilaritySearch` operators deployable at 100 TB. Every in-query
  * ANN path (`qv4`/`qv6`/`qv15`) trains its centroids / codebooks and
  * assigns every vector INSIDE the query; a 100 TB corpus builds that
  * index ONCE, stores it beside the data, refreshes it by churn, and
  * answers queries from the stored buckets. This object is that
  * lifecycle:
  *
  *  - [[build]]: one pass over the lake's committed rows → centroids
  *    (deterministic hash-sample for oracle-reproducible tests, or
  *    k-means via `trainedCentroids` — the production choice), the
  *    bucket assignment of every row, optional packed PQ codes + the
  *    codebook, all written as ONE immutable index generation.
  *  - [[refresh]]: assigns ONLY rows of files appended since the
  *    pinned snapshot — cost ∝ churn, never O(corpus). Centroids and
  *    codebook are pinned at build time (centroid drift is a REBUILD
  *    decision an operator schedules, not something a refresh silently
  *    does — the assignment would change under existing rows). WHEN
  *    to schedule that rebuild is measured, not guessed: every
  *    segment stores each row's winning assignment cosine (`_asim`),
  *    build records the corpus mean as the baseline, refresh records
  *    the batch mean, and [[driftReport]] compares them — advise a
  *    rebuild at ratio < [[DriftRebuildRatio]], which the measured
  *    decay curve (SCALE.md §"Centroid drift") places well before
  *    stale-centroid recall@10 falls under 0.9.
  *  - [[query]] / [[queryPq]]: probe the stored buckets. The scan
  *    touches only the probed buckets' partitions (the assignment is
  *    written `partitionBy(bucket)`, so probe pruning is directory
  *    pruning) and drops MoR-deleted rows against the lake's
  *    CURRENT deletion vectors — a delete is visible to ANN queries
  *    the moment it commits, with NO index refresh at all.
  *
  * Storage layout — [[StatsIndex]]'s generation discipline
  * (`StatsIndex.scala`'s `vNNNNN` + `CURRENT` pointer, same rationale:
  * pointer-flip publish is atomic, a reader resolves the old or the
  * new generation but never a missing path, the previous generation
  * survives one publish for in-flight readers):
  *
  * {{{
  *   indexDir/
  *     CURRENT              one line: the live generation's name
  *     vNNNNN/meta.txt      ONE driver-written text file: pinned
  *                          committed data-file names, SEGMENT
  *                          references, the CENTROIDS/CODEBOOK
  *                          references, and the build params. A
  *                          generation is pure metadata — publishing
  *                          or reading one launches ZERO Spark jobs
  *                          (r15: the parquet meta cost a Spark job
  *                          per read/write, ~5 fixed jobs per
  *                          refresh — the [[CommitLog]] rule applies
  *                          here too: metadata ops are driver FS I/O)
  *     aux/cent-<uuid>/     (centroid_id int, centroid array<float>)
  *     aux/code-<uuid>/     (code_id int, codevec array<float>) — PQ
  *                          only. Both written ONCE per [[build]] and
  *                          carried BY REFERENCE through every
  *                          refresh/compact publish (they are pinned
  *                          at build time by contract — rewriting
  *                          them per publish was two more fixed jobs)
  *     segments/seg-<uuid>/ immutable assignment increments,
  *                          partitionBy(bucket): (vec_id, embedding,
  *                          [carryCols,] file, pos[, pq_packed]) —
  *                          a generation is a MANIFEST over segments,
  *                          so a refresh publishes one churn-sized
  *                          segment + metadata, never an O(index) copy
  * }}}
  *
  * STALENESS is a fail-fast contract, same as [[DeletionVectors]]'s
  * `MorCursor` guards: the meta pins the committed DATA FILE set the
  * assignment covers. A query on a lake whose committed set gained
  * files demands a [[refresh]] (answering would silently miss the new
  * rows); a lake whose committed set LOST pinned files was physically
  * rewritten (OPTIMIZE, compact of MoR deltas, restore) — positions
  * the index memorised are meaningless, so query AND refresh both
  * throw [[StaleVectorIndexException]] naming the retired files; only
  * [[build]] recovers. Deletion-vector churn is deliberately NOT
  * pinned: vectors are applied at query time from the live view.
  */
object VectorIndex {

  /** The index no longer matches the lake — message says whether a
    * [[refresh]] suffices (new files) or a [[build]] is required
    * (pinned files retired by a physical rewrite). */
  final class StaleVectorIndexException(msg: String)
    extends IllegalStateException(msg)

  /** `c` centroids; `pqM` > 0 additionally stores packed PQ codes
    * (`pqM` subspaces × `pqK` codes — [[SimilaritySearch.PqM]]'s
    * conventions). `trainedCentroids` swaps the deterministic
    * hash-sample for `ml.KMeans` (production quality, not
    * SQL-expressible — measured in `VectorIndexSpec`, not
    * oracle-hashed). `carryCols` are metadata columns STORED IN THE
    * INDEX beside each vector (label, language, license …) — what
    * makes filtered ANN an index operation at 100 TB: the predicate
    * evaluates inside the probe-pruned scan ([[queryFiltered]])
    * instead of forcing a join back to the lake per candidate row. */
  final case class Params(c: Int = 16, idCol: String = "vec_id",
      vecCol: String = "embedding", pqM: Int = 0, pqK: Int = 16,
      trainedCentroids: Boolean = false, seed: Long = 42L,
      carryCols: Seq[String] = Nil)

  // ---- generation layout (StatsIndex's pointer protocol) -----------

  private val PointerFile = "CURRENT"
  private val VersionRe = "^v(\\d{5,})$".r

  private def fsOf(spark: SparkSession, dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def readPointer(fs: org.apache.hadoop.fs.FileSystem,
      root: Path): Option[String] = {
    val ptr = new Path(root, PointerFile)
    if (!fs.exists(ptr)) None
    else {
      val in = fs.open(ptr)
      val name =
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
        finally in.close()
      require(VersionRe.findFirstIn(name).isDefined,
        s"vector-index pointer $ptr holds '$name' — not a generation")
      Some(name)
    }
  }

  private def liveGen(spark: SparkSession, indexDir: String): Path = {
    val root = new Path(indexDir)
    val fs = fsOf(spark, indexDir)
    val name = readPointer(fs, root).getOrElse(
      throw new IllegalStateException(
        s"no vector index at $indexDir — build one first"))
    val gen = new Path(root, name)
    require(fs.exists(gen),
      s"vector-index pointer names missing generation $gen")
    gen
  }

  /** Write a new generation via `body` (into a fresh vNNNNN dir),
    * then atomically flip CURRENT to it; keep the previous live
    * generation for in-flight readers, sweep everything older
    * (including dangling dirs from crashed publishes). Pure driver FS
    * I/O — a publish launches no Spark job of its own. */
  private def publishGeneration(spark: SparkSession, indexDir: String)(
      body: Path => Unit): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new Path(indexDir)
    val fs = root.getFileSystem(conf)
    fs.mkdirs(root)
    val live = readPointer(fs, root)
    val taken = fs.listStatus(root).toSeq.map(_.getPath.getName).collect {
      case VersionRe(num) => num.toInt
    }
    val next = f"v${taken.maxOption.getOrElse(0) + 1}%05d"
    body(new Path(root, next)) // any failure leaves the live gen as-is
    val tmp = new Path(root, PointerFile + ".tmp")
    val out = fs.create(tmp, /* overwrite = */ true)
    try out.write((next + "\n").getBytes("UTF-8")) finally out.close()
    val fc =
      org.apache.hadoop.fs.FileContext.getFileContext(fs.getUri, conf)
    fc.rename(fs.makeQualified(tmp),
      fs.makeQualified(new Path(root, PointerFile)),
      org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    val keep: Set[String] = Set(next) ++ live
    for (st <- fs.listStatus(root)) {
      val n = st.getPath.getName
      if (VersionRe.findFirstIn(n).isDefined && !keep.contains(n))
        fs.delete(st.getPath, true)
    }
    // segment/aux GC: everything the kept generations still reference
    // survives; crashed publishes' segments and dropped generations'
    // exclusive segments/centroid dirs go
    sweepUnreferenced(fs, indexDir,
      keep.toSeq.sorted.map(new Path(root, _)))
  }

  // ---- lake read plumbing -------------------------------------------

  /** Committed data-file names — the snapshot unit the index pins. */
  private def committedFiles(spark: SparkSession,
      lakeDir: String): Set[String] = {
    val fs = fsOf(spark, lakeDir)
    require(fs.exists(new Path(CommitLog.logDir(lakeDir))),
      s"VectorIndex: $lakeDir has no commit log — the index pins " +
        "committed snapshots; ingest through a logged writer first")
    CommitLog.committedView(fs, lakeDir)._1
  }

  /** Rows of exactly `files`, with (file, pos) attribution for the
    * query-time deletion-vector step. */
  private def rowsOf(spark: SparkSession, lakeDir: String,
      files: Seq[String], p: Params): DataFrame = {
    val fs = fsOf(spark, lakeDir)
    spark.read.option("mergeSchema", "true")
      .parquet(CommitLog.resolveDataPaths(fs, lakeDir, files.sorted): _*)
      .select(Seq(col(p.idCol), col(p.vecCol)) ++
        p.carryCols.map(col) ++ Seq(
        DeletionVectors.fileNameCol.as("file"),
        col("_metadata.row_index").as("pos")): _*)
  }

  /** Live rows (current deletion vectors applied) of `df` — the
    * query-time filter that makes MoR deletes visible with no index
    * refresh. */
  private def liveRows(spark: SparkSession, lakeDir: String,
      df: DataFrame): DataFrame = {
    val fs = fsOf(spark, lakeDir)
    val dv = CommitLog.committedView(fs, lakeDir)._2
    DeletionVectors.vectorsFor(spark, lakeDir, dv)
      .fold(df)(_.hinted.dropDead(df, "file", "pos"))
  }

  /** A generation's whole meta record, ONE text-file read (driver FS
    * I/O, zero Spark jobs): the pinned data-file snapshot, the
    * assignment segment references, the centroid/codebook directory
    * references, and the build params. Every lifecycle verb reads
    * this once — the pre-r15 parquet meta cost a Spark job per
    * read/write, and that fixed overhead dominated a churn-sized
    * refresh (~5 meta jobs per refresh measured at sf0.1). */
  private final case class Meta(files: Set[String],
      segments: Seq[String], centsDir: String, codebookDir: String,
      paramsMap: Map[String, String]) {
    def param(key: String): String = paramsMap(key)
    def params: Params = Params(
      c = param("c").toInt, idCol = param("idCol"),
      vecCol = param("vecCol"), pqM = param("pqM").toInt,
      pqK = param("pqK").toInt,
      carryCols = paramsMap.getOrElse("carryCols", "")
        .split(',').toSeq.filter(_.nonEmpty))
  }

  private def readMeta(fs: org.apache.hadoop.fs.FileSystem,
      gen: Path): Meta = {
    val in =
      try fs.open(new Path(gen, "meta.txt"))
      catch {
        case e: java.io.FileNotFoundException
            if fs.exists(new Path(gen, "meta")) =>
          throw new StaleVectorIndexException(
            s"vector index ${gen.getParent}: generation ${gen.getName} " +
              "has the old layout (a parquet meta/ dir, no meta.txt) — " +
              "rebuild the index with VectorIndex.build").initCause(e)
      }
    val lines =
      try {
        val buf = new java.io.ByteArrayOutputStream()
        org.apache.hadoop.io.IOUtils.copyBytes(in, buf, 4096, false)
        new String(buf.toByteArray, "UTF-8").split("\n").iterator
          .map(_.trim).filter(_.nonEmpty).toSeq
      } finally in.close()
    def of(kind: String): Seq[String] = lines
      .filter(_.startsWith(kind + "\t")).map(_.substring(kind.length + 1))
    Meta(
      of("file").toSet,
      of("segment").sorted,
      of("centroids").headOption.getOrElse(
        throw new IllegalStateException(
          s"vector-index generation $gen has no centroids reference")),
      of("codebook").headOption.getOrElse(""),
      lines.filter(_.startsWith("param:")).map { l =>
        // an empty value loses its tab to the line trim — treat a
        // tabless param line as (key, "")
        val t = l.indexOf('\t')
        if (t < 0) (l.substring(6), "")
        else (l.substring(6, t), l.substring(t + 1))
      }.toMap)
  }

  private def auxRoot(indexDir: String): Path = new Path(indexDir, "aux")

  private def centsPath(indexDir: String, meta: Meta): Path =
    new Path(auxRoot(indexDir), meta.centsDir)

  private def readCodebook(spark: SparkSession, indexDir: String,
      meta: Meta): Seq[Array[Float]] =
    spark.read.parquet(
        new Path(auxRoot(indexDir), meta.codebookDir).toString)
      .orderBy(col("code_id"))
      .collect().map(_.getSeq[Float](1).toArray).toSeq

  /** Assign `rows` to the stored centroids — the SAME argmax the
    * in-query path uses ([[SimilaritySearch.ivfAssignExact]]: decimal
    * cosine, partial-agg max-struct, ties to the smallest centroid
    * id), so a stored-index query is bit-identical to the in-query
    * answer. PQ codes via the codegen'd packed encoder. */
  private def assignRows(rows: DataFrame, cents: DataFrame,
      codebook: Seq[Array[Float]], p: Params): DataFrame = {
    // the Sim variant keeps the winning cosine as `_asim` — stored in
    // the segment (one float per row), it is the drift probe's input:
    // build/refresh aggregate the SEGMENT's mean, so the probe costs
    // one column scan of bytes the publish just wrote, never a second
    // N·C assignment pass
    val buckets = SimilaritySearch.ivfAssignExactSim(
      rows, cents, idCol = p.idCol, vecCol = p.vecCol)
    val assigned = rows.join(buckets, Seq(p.idCol))
    if (p.pqM == 0) assigned
    else assigned.join(
      SimilaritySearch.pqEncodePacked(rows, codebook, m = p.pqM,
        idCol = p.idCol, vecCol = p.vecCol),
      Seq(p.idCol))
  }

  // ---- assignment SEGMENTS ------------------------------------------
  //
  // The assignment is NOT stored inside the generation: a refresh that
  // copied the carried rows forward would cost O(index) per publish
  // (measured: a 2% churn refresh paid 0.48× a full build before r11's
  // restructure). Instead the rows live in IMMUTABLE segment dirs
  // under `indexDir/segments/seg-*` — each build/refresh writes ONE
  // churn-sized segment — and a generation's meta carries the SEGMENT
  // LIST (`segment:` rows), the same manifest-references-files shape
  // as the lake's own commit log. Readers union the listed segments
  // (each written partitionBy(bucket), so probe pruning stays
  // directory pruning per segment); the sweep after a pointer flip
  // deletes segments no KEPT generation references — a crashed
  // publish's segment is unreferenced debris the next publish clears,
  // and the one-generation reader grace extends to segments because
  // the previous generation's references are kept with it.

  private def segmentsRoot(indexDir: String): Path =
    new Path(indexDir, "segments")

  /** Write `assigned` as one new immutable segment; returns its name.
    * The rows are CLUSTERED BY BUCKET before the partitionBy write
    * (guide §6 — Iceberg's hash write-distribution): without the
    * shuffle every writer task holds every bucket and the segment
    * lands as tasks × buckets tiny files (measured ~32 × c at sf0.1 —
    * 512 files for 1 600 rows; at a 100 TB build, writers × buckets is
    * a small-file catastrophe every later probe pays). A deterministic
    * id-hash SALT (guide §2.5 — never `rand()`) keeps `⌈parallelism /
    * c⌉` writers per bucket, so write parallelism survives the
    * clustering and the file count is ~max(parallelism, c) per
    * segment, independent of scale. */
  private def writeSegment(spark: SparkSession, indexDir: String,
      assigned: DataFrame, p: Params): String = {
    val name = s"seg-${java.util.UUID.randomUUID()}"
    val salts = math.max(1L,
      (spark.sparkContext.defaultParallelism + p.c - 1L) / p.c)
    assigned
      .repartition((p.c * salts).toInt, col("bucket"),
        pmod(xxhash64(col(p.idCol)), lit(salts)))
      .write.partitionBy("bucket")
      .parquet(new Path(segmentsRoot(indexDir), name).toString)
    name
  }


  /** The generation's full assignment: the union of its segments'
    * probe-prunable reads. `pred` is pushed into EVERY segment scan
    * (bucket `isin` → directory pruning per segment). */
  private def readAssign(spark: SparkSession, indexDir: String,
      segments: Seq[String],
      pred: Option[org.apache.spark.sql.Column]): DataFrame =
    segments.map { name =>
      val df = spark.read.parquet(
        new Path(segmentsRoot(indexDir), name).toString)
      pred.map(df.filter).getOrElse(df)
    // allowMissingColumns: segments written before the drift probe
    // carry no `_asim` — they read as null, which avg() skips
    }.reduce(_.unionByName(_, allowMissingColumns = true))

  /** Delete segments and aux (centroid/codebook) dirs no KEPT
    * generation references (crashed publishes' debris,
    * dropped-generation leftovers). Runs after the pointer flip, when
    * `keptGens` = the new live generation + the previous one
    * (in-flight reader grace). A kept generation whose meta cannot be
    * read (the old parquet layout) has unknown references, so nothing
    * is deleted. Driver FS I/O only. */
  private def sweepUnreferenced(fs: org.apache.hadoop.fs.FileSystem,
      indexDir: String, keptGens: Seq[Path]): Unit = {
    val read = keptGens.filter(g => fs.exists(g))
      .map(g => scala.util.Try(readMeta(fs, g)))
    if (read.exists(_.isFailure)) return
    val metas = read.map(_.get)
    val segRefs = metas.flatMap(_.segments).toSet
    val auxRefs = metas.flatMap(m =>
      Seq(m.centsDir, m.codebookDir)).filter(_.nonEmpty).toSet
    val segs = segmentsRoot(indexDir)
    if (fs.exists(segs)) fs.listStatus(segs).foreach { st =>
      if (!segRefs.contains(st.getPath.getName)) {
        fs.delete(st.getPath, true); ()
      }
    }
    val aux = auxRoot(indexDir)
    if (fs.exists(aux)) fs.listStatus(aux).foreach { st =>
      if (!auxRefs.contains(st.getPath.getName)) {
        fs.delete(st.getPath, true); ()
      }
    }
  }

  /** Publish one generation record: a single driver-written text file
    * naming the pinned lake files, the segment list, the
    * centroid/codebook references and the params — zero Spark jobs
    * (the data dirs it references were written before; a generation
    * flip moves metadata only). */
  private def writeGeneration(fs: org.apache.hadoop.fs.FileSystem,
      gen: Path, centsDir: String, segments: Seq[String],
      codebookDir: String, files: Set[String],
      p: Params, extraParams: Seq[(String, String)] = Nil): Unit = {
    val lines =
      files.toSeq.sorted.map(f => s"file\t$f") ++
        segments.sorted.map(sg => s"segment\t$sg") ++
        Seq(s"centroids\t$centsDir") ++
        (if (codebookDir.nonEmpty) Seq(s"codebook\t$codebookDir")
         else Nil) ++
        (Seq(("c", p.c.toString), ("idCol", p.idCol),
          ("vecCol", p.vecCol), ("pqM", p.pqM.toString),
          ("pqK", p.pqK.toString),
          ("carryCols", p.carryCols.mkString(","))) ++ extraParams)
          .map { case (k, v) => s"param:$k\t$v" }
    val out = fs.create(new Path(gen, "meta.txt"), false)
    try out.write((lines.mkString("\n") + "\n").getBytes("UTF-8"))
    finally out.close()
  }

  // ---- centroid-drift probe -------------------------------------------

  /** Mean `_asim` (winning assignment cosine) of one written segment —
    * a single-column scan of bytes the publish just wrote. None when
    * the segment predates the probe or is empty. */
  private def segmentMeanAsim(spark: SparkSession, indexDir: String,
      segment: String): Option[Double] = {
    val df = spark.read.parquet(
      new Path(segmentsRoot(indexDir), segment).toString)
    if (!df.columns.contains("_asim")) None
    else Option(df.agg(avg(col("_asim"))).head.get(0))
      .map(_.asInstanceOf[Double])
  }

  private def driftParams(base: Option[Double],
      last: Option[Double]): Seq[(String, String)] =
    base.map(b => "driftBaseMean" -> b.toString).toSeq ++
      last.map(l => "driftLastMean" -> l.toString).toSeq

  /** Advise a rebuild when the last refresh batch's mean best-cosine
    * deviates from the build-time mean by more than this fraction —
    * in EITHER direction, because both tails are drift:
    *
    *  - ratio BELOW 1: new rows sit BETWEEN the pinned centroids
    *    (nothing represents them) — the classic recall risk;
    *  - ratio ABOVE 1: new rows are MORE coherent than the training
    *    corpus (a new topic/mode crowding one pinned bucket) — probe
    *    cost skews now, and it is the measured precursor of the
    *    recall cliff: the crowd eventually spans regions one centroid
    *    cannot rank correctly for a query.
    *
    * Calibrated against the measured curve (SCALE.md §"Centroid
    * drift", VectorDriftScale): a 4-mode drifted distribution moves
    * the ratio to ~0.955 at the FIRST drifted refresh (any churn
    * level — the ratio measures the batch, not the accumulation),
    * while corpus-mixed recall@10 through the stale centroids decays
    * with the drifted FRACTION and crosses 0.9 only past ~30% churn;
    * a same-distribution batch stays within ~0.5% of 1.0. The 2%
    * tolerance therefore flags at the first drifted refresh — well
    * before the recall cliff — and never on distribution-identical
    * churn. */
  val DriftRebuildTolerance: Double = 0.02

  /** Assignment-quality drift: how well the PINNED centroids fit the
    * most recent refresh batch, relative to how well they fit the
    * corpus they were trained on. Refresh deliberately never moves
    * centroids (assignment stability — see the class doc); this is
    * the measured signal for WHEN that pin demands a [[build]].
    * `None` until a post-build refresh has run (or for a pre-probe
    * index generation). */
  final case class DriftReport(baseMean: Double, lastRefreshMean: Double) {
    def ratio: Double = lastRefreshMean / baseMean
    def rebuildAdvised: Boolean =
      math.abs(ratio - 1.0) > DriftRebuildTolerance
  }

  def driftReport(spark: SparkSession,
      indexDir: String): Option[DriftReport] = {
    val meta = readMeta(fsOf(spark, indexDir), liveGen(spark, indexDir))
    for {
      b <- meta.paramsMap.get("driftBaseMean").map(_.toDouble)
      l <- meta.paramsMap.get("driftLastMean").map(_.toDouble)
    } yield DriftReport(b, l)
  }

  // ---- the lifecycle ------------------------------------------------

  /** Build the index over the lake's CURRENT committed live rows: one
    * centroid pass (hash-sample collect, or k-means fit), one
    * assignment pass (N·C cosines, map-side-combined argmax), one
    * optional PQ encode (map-only) — then a single atomic generation
    * publish. Re-building over an existing index publishes a fresh
    * generation and sweeps the old ones. */
  def build(spark: SparkSession, lakeDir: String, indexDir: String,
      params: Params = Params()): Unit = {
    val files = committedFiles(spark, lakeDir)
    require(files.nonEmpty,
      s"VectorIndex.build: no committed files in $lakeDir")
    // training reads the NATURAL lake layout (k-means|| init is
    // partition-layout sensitive — the recall floors in
    // VectorIndexSpec/IvfRecallSpec are pinned against it); only the
    // N·C ASSIGNMENT fans out below, by id hash (content-
    // deterministic), so a few-file lake still assigns on every core
    val rows = liveRows(spark, lakeDir,
      rowsOf(spark, lakeDir, files.toSeq, params)).localCheckpoint()
    val cents =
      (if (params.trainedCentroids)
        SimilaritySearch.kmeansCentroids(rows, params.c,
          seed = params.seed, vecCol = params.vecCol)
      else
        SimilaritySearch.hashSampledCentroids(rows, params.c,
          idCol = params.idCol, vecCol = params.vecCol))
        .localCheckpoint()
    val codebook: Seq[Array[Float]] =
      if (params.pqM == 0) Seq.empty
      else SimilaritySearch.pqSampleVectors(rows, params.pqK,
        idCol = params.idCol, vecCol = params.vecCol)
    val assigned = assignRows(
      rows.repartition(spark.sparkContext.defaultParallelism,
        col(params.idCol)),
      cents, codebook, params)
    val staged = writeSegment(spark, indexDir, assigned, params)
    val fs = fsOf(spark, indexDir)
    // publish under the LAKE's writer lock: two index writers racing
    // the vNNNNN allocation would collide on the generation dir (the
    // same arbitration every lake publish uses; the expensive segment
    // write above stays outside the lock). A racing build: last one
    // wins whole, which is rebuild semantics.
    CommitLog.withWriterLock(fsOf(spark, lakeDir), lakeDir,
        waitMs = 30000L) {
      // every publish sweeps the segment and aux dirs no kept
      // generation references, and until this publish nothing
      // references the staged segment: a writer that published since
      // it was written swept it, so it is written again here
      val segment =
        if (fs.exists(new Path(segmentsRoot(indexDir), staged))) staged
        else writeSegment(spark, indexDir, assigned, params)
      // centroids/codebook land ONCE as immutable aux dirs, inside the
      // lock for the same reason — every later refresh/compact publish
      // carries them by reference (they are pinned at build time by
      // contract, so rewriting them per publish was pure fixed cost)
      val centsDir = s"cent-${java.util.UUID.randomUUID()}"
      cents.repartition(1).write.parquet(
        new Path(auxRoot(indexDir), centsDir).toString)
      val codebookDir =
        if (params.pqM == 0) ""
        else {
          import spark.implicits._
          val d = s"code-${java.util.UUID.randomUUID()}"
          codebook.zipWithIndex.map { case (v, i) => (i, v.toSeq) }
            .toDF("code_id", "codevec")
            .repartition(1).write.parquet(
              new Path(auxRoot(indexDir), d).toString)
          d
        }
      // drift baseline: how well the just-trained centroids fit their
      // own training corpus — the reference level [[driftReport]]
      // compares refresh batches against
      val base = segmentMeanAsim(spark, indexDir, segment)
      publishGeneration(spark, indexDir) { gen =>
        fs.mkdirs(gen)
        writeGeneration(fs, gen, centsDir, Seq(segment), codebookDir,
          files, params, extraParams = driftParams(base, None))
      }
    }
  }

  /** Incremental refresh: assign ONLY the rows of files the lake
    * committed since the pinned snapshot, against the PINNED centroids
    * and codebook — cost ∝ churn. Carried assignment rows are moved by
    * name into the new generation (no recompute, no re-read of their
    * embeddings beyond the copy). Fails fast with
    * [[StaleVectorIndexException]] when pinned files were retired (a
    * physical rewrite — rebuild required). Returns (new files, new
    * rows assigned); (0, 0) means the index was already current and
    * NO new generation was published. */
  def refresh(spark: SparkSession, lakeDir: String,
      indexDir: String,
      beforePublish: () => Unit = () => ()): (Int, Long) = {
    val gen = liveGen(spark, indexDir)
    val meta = readMeta(fsOf(spark, indexDir), gen)
    val pinned = meta.files
    val current = committedFiles(spark, lakeDir)
    val retired = (pinned -- current).toSeq.sorted
    if (retired.nonEmpty)
      throw new StaleVectorIndexException(
        s"vector index $indexDir pins ${retired.size} file(s) the lake " +
          s"retired (physical rewrite): ${retired.take(3).mkString(", ")}" +
          s"${if (retired.size > 3) ", …" else ""} — rebuild the index")
    val added = (current -- pinned).toSeq.sorted
    if (added.isEmpty) return (0, 0L)
    val p = meta.params
    val cents = spark.read.parquet(centsPath(indexDir, meta).toString)
      .localCheckpoint()
    val codebook =
      if (p.pqM == 0) Seq.empty[Array[Float]]
      else readCodebook(spark, indexDir, meta)
    // fan the churn batch out BEFORE the N·C assignment: an appended
    // batch often arrives as one file, and without this the whole
    // decimal-cosine argmax would run on one core (measured: a 10%
    // churn refresh cost MORE than the full 16-file build)
    val (fresh, nRows) = Pins.pinCounted(
      rowsOf(spark, lakeDir, added, p)
        .repartition(spark.sparkContext.defaultParallelism,
          col(p.idCol)))
    // ONE churn-sized segment write; carried rows are carried BY
    // REFERENCE (the new generation lists the old segments), so the
    // publish is metadata + O(churn) bytes, never O(index)
    val segment = writeSegment(spark, indexDir,
      assignRows(fresh, cents, codebook, p), p)
    val segments = meta.segments :+ segment
    // drift probe, free at this point: the batch's winning cosines are
    // already in the segment bytes — one column scan vs the baseline.
    // A publish landing since the segment write sweeps it (nothing
    // references it yet): that is the retryable conflict the commit
    // section reports, not a missing-file error
    val freshMean =
      try segmentMeanAsim(spark, indexDir, segment)
      catch {
        case scala.util.control.NonFatal(e) if !fsOf(spark, indexDir)
            .exists(new Path(segmentsRoot(indexDir), segment)) =>
          val stale = new StaleVectorIndexException(
            s"vector index $indexDir was republished while this " +
              s"refresh prepared (its staged segment $segment was " +
              "swept) — retry the refresh")
          stale.initCause(e)
          throw stale
      }
    val base = meta.paramsMap.get("driftBaseMean").map(_.toDouble)
    beforePublish() // spec hook: inject a racing publish here
    // COMMIT SECTION under the lake's writer lock: the manifest this
    // refresh composed references the generation it READ — if another
    // index writer published meanwhile, composing over the stale one
    // would silently drop that writer's segment references (the lost
    // update). Conflict = the live pointer moved; loud, retryable.
    // The lock lives on the lake's filesystem and the generation on
    // the index's; the two may differ (another scheme or bucket).
    val fs = fsOf(spark, lakeDir)
    val ifs = fsOf(spark, indexDir)
    CommitLog.withWriterLock(fs, lakeDir, waitMs = 30000L) {
      val liveNow = readPointer(ifs, new Path(indexDir))
      if (!liveNow.contains(gen.getName))
        throw new StaleVectorIndexException(
          s"vector index $indexDir was republished (now " +
            s"${liveNow.getOrElse("<none>")}, read ${gen.getName}) " +
            "while this refresh prepared — retry the refresh (the " +
            "staged segment is unreferenced debris the next publish " +
            "sweeps)")
      // Also re-check the LAKE: a physical rewrite (CoW DML, OPTIMIZE,
      // compact) landing between prepare and this lock would let the
      // publish pin files the lake just retired. The query-time gate
      // would still catch it (answers are never wrong), but then the
      // staleness error surfaces at the first probe instead of at the
      // refresh that caused it — fail HERE, where the cause is.
      val lakeNow = committedFiles(spark, lakeDir)
      val retiredNow = (current -- lakeNow).toSeq.sorted
      if (retiredNow.nonEmpty)
        throw new StaleVectorIndexException(
          s"vector index $indexDir: the lake rewrote " +
            s"${retiredNow.size} file(s) this refresh was about to pin " +
            s"(${retiredNow.take(3).mkString(", ")}" +
            s"${if (retiredNow.size > 3) ", …" else ""}) — rebuild the " +
            "index")
      publishGeneration(spark, indexDir) { out =>
        ifs.mkdirs(out)
        writeGeneration(ifs, out, meta.centsDir, segments,
          meta.codebookDir, current, p,
          extraParams = driftParams(base, freshMean))
      }
    }
    (added.size, nRows)
  }

  /** Fold the accumulated refresh segments into ONE (the small-file
    * compaction of the index itself — after K refreshes the probe
    * union spans K segment dirs; this folds them off the hot path).
    * Pure reshuffle: assignments, centroids, codebook and the pinned
    * snapshot are unchanged. Returns the segment count folded. */
  def compactSegments(spark: SparkSession, lakeDir: String,
      indexDir: String): Int = {
    val gen = liveGen(spark, indexDir)
    val meta = readMeta(fsOf(spark, indexDir), gen)
    val segs = meta.segments
    if (segs.size <= 1) return segs.size
    val p = meta.params
    val folded = writeSegment(spark, indexDir,
      readAssign(spark, indexDir, segs, None), p)
    val files = meta.files
    // same commit-section discipline as refresh: the fold must not
    // publish over a generation it did not read
    val fs = fsOf(spark, lakeDir)
    val ifs = fsOf(spark, indexDir)
    CommitLog.withWriterLock(fs, lakeDir, waitMs = 30000L) {
      val liveNow = readPointer(ifs, new Path(indexDir))
      if (!liveNow.contains(gen.getName))
        throw new StaleVectorIndexException(
          s"vector index $indexDir was republished while this fold " +
            "prepared — retry compactSegments")
      // same lake re-check as refresh: never publish a generation
      // pinning files a concurrent rewrite just retired
      val lakeNow = committedFiles(spark, lakeDir)
      val retiredNow = (files -- lakeNow).toSeq.sorted
      if (retiredNow.nonEmpty)
        throw new StaleVectorIndexException(
          s"vector index $indexDir: the lake rewrote " +
            s"${retiredNow.size} pinned file(s) while this fold " +
            "prepared — rebuild the index")
      publishGeneration(spark, indexDir) { out =>
        // a fold is a pure reshuffle — the drift state and the
        // centroid/codebook references ride along
        ifs.mkdirs(out)
        writeGeneration(ifs, out, meta.centsDir, Seq(folded),
          meta.codebookDir, files, p,
          extraParams = meta.paramsMap.toSeq
            .filter(_._1.startsWith("drift")).sortBy(_._1))
      }
    }
    segs.size
  }

  /** The stored centroids of the live generation. */
  def centroids(spark: SparkSession, indexDir: String): DataFrame = {
    val meta = readMeta(fsOf(spark, indexDir), liveGen(spark, indexDir))
    spark.read.parquet(centsPath(indexDir, meta).toString)
  }

  /** Fail unless the pinned snapshot matches the lake's committed
    * file set exactly — the query-time soundness gate. Returns the
    * live generation. */
  private def currentGenOrFail(spark: SparkSession, lakeDir: String,
      indexDir: String): (Path, Meta) = {
    val gen = liveGen(spark, indexDir)
    val meta = readMeta(fsOf(spark, indexDir), gen)
    val pinned = meta.files
    val current = committedFiles(spark, lakeDir)
    val retired = (pinned -- current).toSeq.sorted
    if (retired.nonEmpty)
      throw new StaleVectorIndexException(
        s"vector index $indexDir pins ${retired.size} file(s) the lake " +
          s"retired (physical rewrite): ${retired.take(3).mkString(", ")}" +
          s"${if (retired.size > 3) ", …" else ""} — rebuild the index")
    val added = (current -- pinned).toSeq.sorted
    if (added.nonEmpty)
      throw new StaleVectorIndexException(
        s"vector index $indexDir lags the lake by ${added.size} " +
          s"committed file(s) (${added.take(3).mkString(", ")}" +
          s"${if (added.size > 3) ", …" else ""}) — refresh the index " +
          "(answering now would silently miss those rows)")
    (gen, meta)
  }

  /** The probed slice of the stored assignment: pick the `probes`
    * buckets whose centroids are nearest the query (exact cosine, C
    * rows — metadata-scale), then scan ONLY those buckets' partitions
    * (`bucket IN (…)` literals → directory pruning on the
    * partitionBy(bucket) layout) and drop MoR-deleted rows against the
    * live deletion vectors. */
  private def probedLive(spark: SparkSession, lakeDir: String,
      indexDir: String, meta: Meta, segments: Seq[String],
      queryVec: Seq[Float], probes: Int): DataFrame = {
    val cents = spark.read.parquet(centsPath(indexDir, meta).toString)
    val probeIds = cents
      .withColumn("qsim", graft.functions.VectorFunctions.cosineExact(
        col("centroid"), typedLit(queryVec)))
      .orderBy(col("qsim").desc, col("centroid_id"))
      .limit(probes)
      .select(col("centroid_id").cast("long"))
      .collect().map(_.getLong(0)).toSeq
    val assign = readAssign(spark, indexDir, segments,
      Some(col("bucket").isin(probeIds: _*)))
    liveRows(spark, lakeDir, assign)
  }

  /** ANN top-k from the STORED index — [[SimilaritySearch.ivfQuery]]'s
    * semantics (exact-cosine rank, ties to the smallest id), but the
    * assignment is read, not recomputed: query cost is probed-fraction
    * scan + k-heap, independent of corpus build cost. Returns
    * (idCol, sim). */
  def query(spark: SparkSession, lakeDir: String, indexDir: String,
      queryVec: Seq[Float], k: Int, probes: Int): DataFrame = {
    val (_, meta) = currentGenOrFail(spark, lakeDir, indexDir)
    val p = meta.param("idCol")
    val vecCol = meta.param("vecCol")
    probedLive(spark, lakeDir, indexDir, meta, meta.segments, queryVec,
        probes)
      .select(col(p), graft.functions.VectorFunctions.cosineExact(
        col(vecCol), typedLit(queryVec)).as("sim"))
      .orderBy(col("sim").desc, col(p))
      .limit(k)
  }

  /** FILTERED ANN from the stored index: the metadata predicate
    * (over columns the build CARRIED into the index — `Params.
    * carryCols`) evaluates INSIDE the probe-pruned scan, before any
    * cosine is paid — the [[graft.operators.SimilaritySearch
    * .autoProbes]] family's storage-side half. Probe budget is the
    * caller's (escalate it for selective predicates, exactly the
    * qv17 rule — selectivity can come from [[StatsIndex]] counts at
    * lake scale). Same staleness gates as [[query]]. */
  def queryFiltered(spark: SparkSession, lakeDir: String,
      indexDir: String, pred: org.apache.spark.sql.Column,
      queryVec: Seq[Float], k: Int, probes: Int): DataFrame = {
    val (_, meta) = currentGenOrFail(spark, lakeDir, indexDir)
    val p = meta.param("idCol")
    val vecCol = meta.param("vecCol")
    probedLive(spark, lakeDir, indexDir, meta, meta.segments, queryVec,
        probes)
      .filter(pred)
      .select(col(p), graft.functions.VectorFunctions.cosineExact(
        col(vecCol), typedLit(queryVec)).as("sim"))
      .orderBy(col("sim").desc, col(p))
      .limit(k)
  }

  /** IVF-PQ top-k from the stored index: probe → packed-code ADC
    * shortlist (no embedding touched) → exact squared-L2 re-rank of
    * the ≤ `shortlist` survivors — [[SimilaritySearch.ivfPqQuery]]'s
    * read path over stored codes. Requires a `pqM > 0` build. */
  def queryPq(spark: SparkSession, lakeDir: String, indexDir: String,
      queryVec: Array[Float], k: Int, probes: Int,
      shortlist: Int): DataFrame = {
    val (_, meta) = currentGenOrFail(spark, lakeDir, indexDir)
    val p = meta.param("idCol")
    val vecCol = meta.param("vecCol")
    val m = meta.param("pqM").toInt
    require(m > 0, s"vector index $indexDir was built without PQ codes")
    val codebook = readCodebook(spark, indexDir, meta)
    val probed = probedLive(spark, lakeDir, indexDir, meta, meta.segments,
      queryVec.toSeq, probes)
      .localCheckpoint()
    val short = SimilaritySearch.pqAdcTopKPacked(
      probed, codebook, queryVec, shortlist, m, idCol = p)
    probed.join(broadcast(short.select(col(p))), Seq(p))
      .select(col(p), SimilaritySearch.pqD2(col(vecCol), queryVec)
        .as("d2"))
      .orderBy(col("d2").asc, col(p).asc)
      .limit(k)
  }
}
