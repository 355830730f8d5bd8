package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.hadoop.Footer
import org.apache.spark.SparkContext
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.classic.ClassicConversions.castToImpl
import org.apache.spark.sql.execution.datasources.{FileStatusCache,
  HadoopFsRelation, InMemoryFileIndex, LogicalRelation,
  PartitioningAwareFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
  ParquetSchemaSteps, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField,
  StructType}

/** Driver memos for the merge-on-read read surface, keyed by WRITE-ONCE
  * file identity `(qualified path, length, mtime)` — the rule
  * [[CommitLog]]'s record cache and the [[StatsIndex]] snapshot follow.
  * Data parts and `_dv` sidecars are never rewritten in place, so an
  * identity that still lists is still the same bytes, and a same-named
  * file written again lists with a new length or mtime and misses.
  *
  *  - Footer schemas of data files: [[readFiles]] builds a read's
  *    schema on the driver by Spark's own inference rule, so no read
  *    runs a schema-inference job, and [[schemasOf]] answers a purge's
  *    "which files carry a dropped column" with no job. A miss reads
  *    that file's footer on the driver.
  *  - `(file, pos)` pairs of sidecars: [[vectorsFor]] returns the
  *    covered set as a driver map of sorted positions per file with
  *    one broadcast of it, which the readers filter rows against
  *    (no join, so no broadcast job and no plan that holds the pairs).
  *    Misses are read in one job over the missing sidecars, or seeded
  *    by the writer that staged them ([[seedPairs]]). The set is held
  *    in memory only while its estimated size is within
  *    `spark.sql.autoBroadcastJoinThreshold`; above it (or with the
  *    threshold disabled) the read keeps the distributed sidecar frame
  *    and its anti-join.
  *
  * Every read of resolved files — data files, their candidate subsets
  * ([[readSubset]]) and sidecars — goes through [[scan]], which hands
  * Spark the statuses the listing returned. A warm read of a lake
  * therefore costs one `listStatus` of the lake dir and one of its
  * `_dv` (plus one per clone hop) and no Spark job before its action:
  * Spark neither probes nor lists the files, however many there are.
  *
  * Each memo is a small fixed LRU over directories (a lake, its `_dv`,
  * each clone hop), and every use lists the directory once: entries for
  * files that left the listing are dropped there. The measured driver
  * bytes are in SCALE.md. */
private[graft] object FileMemo {

  private type Id = (String, Long, Long)

  private def idOf(st: FileStatus): Id =
    (st.getPath.toString, st.getLen, st.getModificationTime)

  /** Values derived from write-once files, per listed directory. */
  private final class Memo[V](slots: Int) {
    private val dirs =
      new java.util.LinkedHashMap[String, Map[Id, V]](16, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[String, Map[Id, V]]): Boolean =
          size() > slots
      }

    /** The entries of `dir` still present in its listing `listed`. */
    def sync(dir: String, listed: Seq[FileStatus]): Map[Id, V] =
      synchronized {
        val ids = listed.iterator.map(idOf).toSet
        val kept = Option(dirs.get(dir)).getOrElse(Map.empty[Id, V])
          .filter { case (k, _) => ids(k) }
        dirs.put(dir, kept)
        kept
      }

    def put(dir: String, add: Map[Id, V]): Unit = synchronized {
      dirs.put(dir, Option(dirs.get(dir)).getOrElse(Map.empty[Id, V]) ++ add)
    }
  }

  private val schemas = new Memo[StructType](32)

  /** One instance per distinct schema, shared by every file that has
    * it: a lake's files mostly share a handful of schemas, and a memo
    * entry then costs its identity, not a StructType. */
  private val schemaPool = new java.util.HashMap[StructType, StructType]()

  private def interned(s: StructType): StructType = schemaPool.synchronized {
    if (schemaPool.size >= 1024) schemaPool.clear()
    Option(schemaPool.putIfAbsent(s, s)).getOrElse(s)
  }
  private val pairs = new Memo[Map[String, Array[Long]]](32)

  /** The parquet files of `dir`, or none when it does not exist. */
  private def listParquet(fs: FileSystem, dir: Path): Seq[FileStatus] =
    try fs.listStatus(dir).toSeq.filter { st =>
      val n = st.getPath.getName
      st.isFile && n.endsWith(".parquet") && !n.startsWith("_") &&
        !n.startsWith(".")
    } catch { case _: java.io.FileNotFoundException => Seq.empty }

  /** `names` resolved to statuses, in order: one listing of
    * `dirOf(lakeDir)` per clone hop, local wins (the
    * [[CommitLog.resolveDataPaths]] rule). Also returns the memo hits of
    * every listed directory. None when a name resolves nowhere. */
  private def resolve[V](fs: FileSystem, lakeDir: String, names: Seq[String],
      dirOf: String => String, memo: Memo[V])
      : Option[(Seq[FileStatus], Map[Id, V])] = {
    val dir = fs.makeQualified(new Path(dirOf(lakeDir)))
    val listed = listParquet(fs, dir)
    val hits = memo.sync(dir.toString, listed)
    val local = listed.iterator.map(st => st.getPath.getName -> st).toMap
    val missing = names.filterNot(local.contains)
    val there: Option[(Map[String, FileStatus], Map[Id, V])] =
      if (missing.isEmpty) Some((Map.empty, Map.empty))
      else CommitLog.cloneSourceOf(fs, lakeDir).flatMap(src =>
        resolve(fs, src, missing, dirOf, memo).map { case (sts, h) =>
          (missing.zip(sts).toMap, h)
        })
    there.map { case (far, farHits) =>
      (names.map(n => local.getOrElse(n, far(n))), hits ++ farHits)
    }
  }

  // ---- data files ---------------------------------------------------

  /** The committed data files `names` of `lakeDir` as one frame — the
    * one data-file read of the merge-on-read verbs. The schema is
    * Spark's own inference, computed on the driver from memoized
    * footer schemas: without `mergeSchema`, the footer of the first
    * file by path (the one file Spark's inference reads); with it,
    * every footer merged in that order, case sensitivity as the
    * session's. The frame is a [[scan]] of the listed statuses. A
    * name that resolves nowhere falls through to Spark's read, which
    * fails on it as before. */
  def readFiles(spark: SparkSession, lakeDir: String, names: Seq[String],
      mergeSchema: Boolean = false): DataFrame = {
    val fs = new Path(lakeDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val resolved =
      if (names.isEmpty) None
      else resolve(fs, lakeDir, names, identity, schemas)
    resolved match {
      case None =>
        val rdr = if (mergeSchema) spark.read.option("mergeSchema", "true")
          else spark.read
        rdr.parquet(CommitLog.resolveDataPaths(fs, lakeDir, names): _*)
      case Some((sts, hits)) =>
        val byPath = sts.sortBy(_.getPath.toString)
        val touched = if (mergeSchema) byPath else byPath.take(1)
        val found = hits ++ footerSchemas(spark,
          touched.filterNot(st => hits.contains(idOf(st))))
        val caseSensitive = spark.sessionState.conf.caseSensitiveAnalysis
        val schema = touched.map(st => found(idOf(st)))
          .reduceLeft(ParquetSchemaSteps.merge(_, _, caseSensitive))
        scan(spark, sts, schema)
    }
  }

  /** The footer schemas of the committed data files `names` of
    * `lakeDir`, in order, resolved through the clone chain and
    * memoized: one listing per hop, and a footer read on the driver
    * per file the memo does not hold. Fails naming the files that
    * resolve nowhere. */
  def schemasOf(spark: SparkSession, lakeDir: String,
      names: Seq[String]): Seq[StructType] =
    if (names.isEmpty) Seq.empty
    else {
      val fs = new Path(lakeDir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      resolve(fs, lakeDir, names, identity, schemas) match {
        case None =>
          val gone = names.filterNot(CommitLog.resolvableDataNames(fs, lakeDir))
          throw new java.io.FileNotFoundException(
            s"$lakeDir: data files not found: ${gone.mkString(", ")}")
        case Some((sts, hits)) =>
          val found = hits ++ footerSchemas(spark,
            sts.filterNot(st => hits.contains(idOf(st))).distinct)
          sts.map(st => found(idOf(st)))
      }
    }

  /** The parquet files `sts` as one frame of `schema`, read through
    * Spark's own file index with its listing step fed: an
    * `InMemoryFileIndex` whose status cache answers each root path
    * with the status already held, so Spark neither probes nor lists
    * any of them (no existence check per path, no parallel listing job
    * above `parallelPartitionDiscovery.threshold` paths). Partition
    * inference, `_metadata`, `input_file_name`, `ignoreMissingFiles`
    * and relation equality are the index's own. A status from
    * `listStatus` carries no block locations, so the scan has no
    * preferred hosts: `file:` and object stores have none to lose;
    * HDFS locality is not kept. */
  private def scan(spark: SparkSession, sts: Seq[FileStatus],
      schema: StructType): DataFrame = {
    val held = sts.iterator.map(st => st.getPath -> Array(st)).toMap
    val fed = new FileStatusCache {
      override def getLeafFiles(path: Path): Option[Array[FileStatus]] =
        held.get(path)
      override def putLeafFiles(path: Path,
          files: Array[FileStatus]): Unit = ()
      override def invalidateAll(): Unit = ()
    }
    val index = new InMemoryFileIndex(spark, sts.map(_.getPath),
      Map.empty, Some(schema), fed)
    spark.baseRelationToDataFrame(
      ParquetSchemaSteps.relation(spark, index, schema))
  }

  /** The files `names` (names or paths) of `lake`, a frame
    * [[readFiles]] built, read with `lake`'s schema: the statuses are
    * the ones `lake`'s file index already holds, so this touches no
    * filesystem. For the candidate subsets the DML verbs narrow a
    * committed read to. */
  def readSubset(spark: SparkSession, lake: DataFrame,
      names: Seq[String]): DataFrame = {
    val plan = lake.queryExecution.logical
    val index = Some(plan).collect { case r: LogicalRelation => r.relation }
      .collect { case h: HadoopFsRelation => h.location }
      .collect { case i: PartitioningAwareFileIndex => i }
      .getOrElse(throw new IllegalArgumentException(
        s"readSubset: not a plain file read: ${plan.nodeName}"))
    val held = index.allFiles().iterator
      .map(st => st.getPath.getName -> st).toMap
    scan(spark, names.map { n =>
      val name = new Path(n).getName
      held.getOrElse(name, throw new IllegalArgumentException(
        s"readSubset: $n is not among the files of the read"))
    }, lake.schema)
  }

  /** Footer schemas of `sts`, read on the driver and memoized. */
  private def footerSchemas(spark: SparkSession,
      sts: Seq[FileStatus]): Map[Id, StructType] =
    if (sts.isEmpty) Map.empty
    else {
      val converter =
        new ParquetToSparkSchemaConverter(spark.sessionState.conf)
      val byPath = footers(spark, sts).map(f =>
        f.getFile.toString -> interned(ParquetFileFormat.readSchemaFromFooter(
          f, converter))).toMap
      val got = sts.map(st => idOf(st) -> byPath(st.getPath.toString)).toMap
      sts.groupBy(_.getPath.getParent.toString).foreach { case (dir, in) =>
        schemas.put(dir, in.map(st => idOf(st) -> got(idOf(st))).toMap)
      }
      got
    }

  private def footers(spark: SparkSession,
      sts: Seq[FileStatus]): Seq[Footer] =
    if (sts.isEmpty) Seq.empty
    else ParquetSchemaSteps.footers(spark.sparkContext.hadoopConfiguration,
      sts)

  // ---- deletion-vector sidecars -------------------------------------

  private val DvSchema = StructType(Seq(
    StructField("file", StringType), StructField("pos", LongType)))

  /** Spark's size estimate for one `(file, pos)` row without column
    * statistics: row overhead plus the types' default sizes. */
  private val PairBytes = 8L + StringType.defaultSize + LongType.defaultSize

  /** The last in-memory vector sets built, by context and covered
    * sidecar identities, so a read of an unchanged covered set reuses
    * its broadcast. An evicted set's broadcast is unpersisted: a frame
    * still holding it keeps working, since the driver copy stays until
    * the context cleaner drops it. */
  private val sets = new java.util.LinkedHashMap[(SparkContext, Seq[Id]),
      DeletionVectors.InMemory](8, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[(SparkContext,
        Seq[Id]), DeletionVectors.InMemory]): Boolean = {
      val evict = size() > 4
      if (evict && !e.getKey._1.isStopped) e.getValue.release()
      evict
    }
  }

  /** The broadcast ids of the held in-memory sets of `sc`, least
    * recently used first (those already broadcast). */
  private[graft] def heldBroadcasts(sc: SparkContext): Seq[Long] =
    sets.synchronized(sets.asScala.toSeq.collect {
      case ((c, _), v) if c eq sc => v.broadcastId
    }.flatten)

  /** Does a set of `n` pairs stay within the broadcast bound? */
  private def fitsLocal(spark: SparkSession, n: Long): Boolean = {
    val bound = spark.sessionState.conf.autoBroadcastJoinThreshold
    bound >= 0 && n * PairBytes <= bound
  }

  /** The distinct `(file, pos)` pairs of the covered sidecars `covered`
    * of `lakeDir` (resolved through the clone chain): in memory, from
    * the memo, while they fit the broadcast bound; else the distributed
    * sidecar read and `distinct`. A covered name that resolves nowhere
    * falls through to Spark's read, which fails on it loudly. */
  def vectorsFor(spark: SparkSession, lakeDir: String,
      covered: Seq[String]): DeletionVectors.Vectors = {
    val fs = new Path(lakeDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    resolve(fs, lakeDir, covered, DeletionVectors.dvDir, pairs) match {
      case None => DeletionVectors.Distributed(spark.read.schema(DvSchema)
        .parquet(DeletionVectors.resolveDvPaths(fs, lakeDir, covered): _*)
        .distinct())
      case Some((sts, hits)) =>
        val misses = sts.filterNot(st => hits.contains(idOf(st)))
        def count(p: Map[String, Array[Long]]): Long =
          p.valuesIterator.map(_.length.toLong).sum
        // an upper bound of the distinct set: memoized pairs plus the
        // misses' footer row counts, so nothing large is collected
        val bound = sts.iterator.flatMap(st => hits.get(idOf(st)))
          .map(count).sum + footers(spark, misses)
          .map(_.getParquetMetadata.getBlocks.asScala
            .map(_.getRowCount).sum).sum
        if (!fitsLocal(spark, bound))
          DeletionVectors.Distributed(scan(spark, sts, DvSchema).distinct())
        else {
          val key = (spark.sparkContext, sts.map(idOf))
          Option(sets.synchronized(sets.get(key))).getOrElse {
            val all = hits ++ readPairs(spark, misses)
            val set = new DeletionVectors.InMemory(
              union(sts.map(st => all(idOf(st)))), spark.sparkContext)
            sets.synchronized(sets.put(key, set))
            set
          }
        }
    }
  }

  /** The pairs of `sts`, in one job, memoized per sidecar. */
  private def readPairs(spark: SparkSession,
      sts: Seq[FileStatus]): Map[Id, Map[String, Array[Long]]] =
    if (sts.isEmpty) Map.empty
    else {
      val rows = scan(spark, sts, DvSchema)
        .select(col("_metadata.file_name"), col("file"), col("pos"))
        .collect()
      val bySidecar = rows.groupBy(_.getString(0))
      val got = sts.map(st => idOf(st) -> grouped(
        bySidecar.getOrElse(st.getPath.getName, Array.empty[Row])
          .iterator.map(r => (r.getString(1), r.getLong(2))))).toMap
      sts.groupBy(_.getPath.getParent.toString).foreach { case (dir, in) =>
        pairs.put(dir, in.map(st => idOf(st) -> got(idOf(st))).toMap)
      }
      got
    }

  /** `(file, pos)` pairs grouped by file, positions sorted and
    * distinct. */
  private def grouped(
      it: Iterator[(String, Long)]): Map[String, Array[Long]] =
    it.toSeq.groupBy(_._1).map { case (f, ps) =>
      f -> sortedDistinct(ps.iterator.map(_._2).toArray)
    }

  private def sortedDistinct(a: Array[Long]): Array[Long] = {
    java.util.Arrays.sort(a)
    var n = 0
    for (i <- a.indices if i == 0 || a(i) != a(i - 1)) { a(n) = a(i); n += 1 }
    if (n == a.length) a else java.util.Arrays.copyOf(a, n)
  }

  /** The union of `parts`, per file sorted and distinct; a file only
    * one part names keeps that part's array. */
  private def union(
      parts: Seq[Map[String, Array[Long]]]): Map[String, Array[Long]] =
    parts.flatMap(_.toSeq).groupBy(_._1).map {
      case (f, Seq((_, one))) => f -> one
      case (f, ps) => f -> sortedDistinct(ps.iterator.flatMap(_._2).toArray)
    }

  /** The pairs of a small pinned `(file, pos)` frame of `n` rows, for a
    * writer to seed the memo with after publishing them as a sidecar;
    * None when `n` pairs would not fit the broadcast bound. */
  def pairsIfSmall(spark: SparkSession, df: DataFrame,
      n: Long): Option[Map[String, Array[Long]]] =
    if (!fitsLocal(spark, n)) None
    else Some(grouped(df.select(col("file"), col("pos")).collect()
      .iterator.map(r => (r.getString(0), r.getLong(1)))))

  /** Seed the memo with the pairs of the published sidecar `dvDir/name`
    * (one status lookup), so the next read of it runs no job. */
  def seedPairs(fs: FileSystem, dvDir: String, name: String,
      got: Map[String, Array[Long]]): Unit = {
    val path = fs.makeQualified(new Path(dvDir, name))
    val st = fs.getFileStatus(path)
    pairs.put(path.getParent.toString,
      Map((path.toString, st.getLen, st.getModificationTime) -> got))
  }
}
