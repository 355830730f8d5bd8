package graft.sources

import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.Executors

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.LogicalTypeAnnotation
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName

import org.apache.spark.sql.{Column, DataFrame, GraftColumnBridge, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, DataType, DoubleType, FloatType, IntegerType, LongType, ShortType, StringType, StructField, StructType, TimestampNTZType, TimestampType}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.sketch.{BloomFilter => SketchBloom}

import scala.jdk.CollectionConverters._

/** FILE-level data skipping from parquet footer stats — the metadata
  * layer Delta / Iceberg keep in their log, built from plain parquet
  * and Spark operators.
  *
  * Vanilla Spark prunes ROW GROUPS inside each file once a filter is
  * pushed to the parquet reader, but it still lists, plans and opens
  * every file of the table. At 100 TB (~10⁵ files of ~1 GiB) that is
  * 10⁵ splits planned and 10⁵ footer reads per query. A stats index —
  * one tiny parquet table of per-file min/max — turns a selective scan
  * into: filter the index (metadata-scale, ~10⁵ rows), read only the
  * files that can match. Combined with [[ZOrder]] clustering the index
  * is maximally selective on every clustered column (each file covers a
  * narrow span of each — measured in SCALE.md).
  *
  * Footers are read on the driver, a few in parallel, and each is
  * turned into stats rows as it is read (no Spark job). The
  * driver keeps ONE snapshot of the live generation's stats rows per
  * index root ([[snapshot]]), never a function of data volume but of
  * files × indexed columns: each (file, column) row holds about 250
  * bytes of heap, each file path once. Measured by
  * `bench.StatsSnapshotScale` (SCALE.md) at 10⁵ files × 4 columns:
  * 101 MB, read cold in 2.6 s (one job); a warm range prune then
  * takes 0.1 s and a 1000-key prune 0.08 s, with no job. The
  * snapshot is read once per generation (generations are immutable)
  * or seeded by the publish that wrote it, and [[indexedFiles]],
  * [[prunedTyped]], [[prunedForKeys]], [[refresh]] and
  * [[refreshSameColumns]] answer their min/max part from it, in plain
  * Scala, without a Spark job. Bloom filter bytes never reach the
  * driver: they stay in the generation's parquet, and a probe that
  * needs them runs the bloom arm as one Spark job over it.
  *
  * v2 stats are TYPED (one kind column + nullable typed bound pairs):
  *  - `long`: int32/int64 (plus DATE as epoch days, and INT64
  *    timestamps NORMALIZED TO MICROSECONDS whatever the file's unit);
  *  - `double`: float/double, bounds widened one ulp outward so
  *    float→double and long→double conversions can never shave a
  *    matching file (NaN-polluted stats fall back to full-range —
  *    parquet writers' NaN ordering is unreliable);
  *  - `string`: UTF-8 binary, truncated Iceberg-style — min is a
  *    prefix (a prefix is ≤ the full string), max is the prefix with
  *    its last char incremented (an upper bound), or NULL = +∞ when no
  *    char can be incremented;
  *  - `full`: anything else (decimals, booleans, missing stats) — all
  *    bounds NULL, so the file is KEPT for every constraint.
  * `readPruned` re-applies the caller's predicate after pruning, so the
  * index is a conservative accelerator — never a correctness surface
  * (`StatsIndexSpec` asserts pruned ≡ full-scan results on random
  * integer AND fractional boxes).
  *
  * BLOOM sidecar rows (opt-in via `bloomCols`): min/max is useless for
  * EQUALITY probes on high-cardinality uncorrelated keys — every file
  * of a lake clustered on (time, symbol) spans nearly the full doc-id
  * range, so a point lookup still opens every file. For the designated
  * columns the build adds one `kind = "bloom"` row per file holding a
  * serialized per-file Bloom filter over `xxhash64` of the values
  * (built DISTRIBUTED by Spark's own `BloomFilterAggregate`; ONE
  * grouped pass for all bloom columns, scanning only those columns
  * plus the `_metadata.file_path` column — footers are not re-read). A
  * [[LongEquals]]/[[StringEquals]] constraint then excludes every file
  * whose filter rules the key out — O(1) bytes tested per file at
  * plan time, false-positive rate `bloomFpp` (a false positive only
  * weakens pruning; the exact predicate still filters). Files without
  * a bloom row (type not supported, column added later, refresh
  * without `bloomCols`) are simply never excluded by the bloom arm —
  * same conservative contract as the stats rows.
  *
  * A v1 (untyped) index directory is detected by its missing `kind`
  * column and rebuilt in place on the next [[refresh]]; a pre-bloom
  * index (no `bloom` column) reads as if no file had a bloom row.
  */
object StatsIndex {

  /** A typed per-column interval constraint (inclusive both ends). */
  sealed trait ColRange {
    def name: String
    /** The exact predicate [[readPruned]] re-applies post-prune. */
    def predicate: Column
  }
  final case class LongRange(name: String, lo: Long, hi: Long)
      extends ColRange {
    def predicate: Column = col(name).between(lo, hi)
  }
  final case class DoubleRange(name: String, lo: Double, hi: Double)
      extends ColRange {
    require(!lo.isNaN && !hi.isNaN, s"DoubleRange($name): NaN bound")
    def predicate: Column = col(name).between(lo, hi)
  }
  final case class StringRange(name: String, lo: String, hi: String)
      extends ColRange {
    def predicate: Column = col(name).between(lo, hi)
  }
  /** Inclusive instant range; compared against the index's
    * micros-normalized timestamp stats. */
  final case class TimestampRange(name: String, lo: java.time.Instant,
      hi: java.time.Instant) extends ColRange {
    def predicate: Column = col(name).between(lit(lo), lit(hi))
    def loMicros: Long = instantMicrosFloor(lo)
    def hiMicros: Long = instantMicrosCeil(hi)
  }
  /** Point lookup on an integral column: prunes on min/max AND, when
    * the index carries a bloom row for the column, on filter
    * membership — the arm that works when every file spans the full
    * key range. */
  final case class LongEquals(name: String, v: Long) extends ColRange {
    def predicate: Column = col(name) === v
  }
  /** Point lookup on a string column; see [[LongEquals]]. */
  final case class StringEquals(name: String, v: String) extends ColRange {
    def predicate: Column = col(name) === v
  }
  /** Point lookup on a fractional column: the degenerate range [v, v]
    * for the min/max arms plus, when the index carries a double bloom
    * row, filter membership. The bloom arm is skipped for v == ±0.0:
    * SQL equality identifies the two zeros but their IEEE bit patterns
    * (and thus hashes, absent engine-side normalization) differ, so a
    * membership miss on one zero could wrongly exclude a file holding
    * the other — min/max pruning still applies. */
  final case class DoubleEquals(name: String, v: Double) extends ColRange {
    def predicate: Column = col(name) === v
  }
  /** Point lookup on a timestamp column, pruned against the index's
    * micros-normalized stats (floor/ceil widening keeps sub-micro
    * probes conservative); date-kinded stats prune with the same
    * ±1-day timezone slack as [[TimestampRange]]. When the index
    * carries a timestamp bloom row (`tsutc` for instant columns,
    * `tswall` for wall-clock ones) a micro-exact probe additionally
    * prunes on filter membership — the arm that works on lakes NOT
    * clustered by time, where every file spans the full ts range. */
  final case class TimestampEquals(name: String, v: java.time.Instant)
      extends ColRange {
    def predicate: Column = col(name) === lit(v)
    def loMicros: Long = instantMicrosFloor(v)
    def hiMicros: Long = instantMicrosCeil(v)
  }

  private def instantMicrosFloor(i: java.time.Instant): Long =
    math.addExact(math.multiplyExact(i.getEpochSecond, 1000000L),
      i.getNano / 1000L)
  private def instantMicrosCeil(i: java.time.Instant): Long =
    math.addExact(math.multiplyExact(i.getEpochSecond, 1000000L),
      (i.getNano + 999L) / 1000L)

  /** Max stored UTF-16 chars for string bounds. */
  private val StringTruncateLen = 64

  // ---- versioned generations + pointer-file publish -----------------
  //
  // An index dir is a ROOT holding immutable generation subdirs
  // (v00001, v00002, …) plus a one-line CURRENT file naming the live
  // one. Publishing writes the new generation's parquet to a FRESH
  // subdir, then atomically renames a freshly written pointer over
  // CURRENT (FileContext rename with OVERWRITE — atomic on local FS
  // and HDFS). A concurrent reader therefore always resolves either
  // the old generation or the new one, never a missing path — the
  // not-found window of the previous two-rename swap (r6 ADVICE) is
  // gone. A reader that resolved the OLD generation keeps reading it:
  // the previous live generation survives until the NEXT publish
  // (one-generation grace), older ones are deleted. Failure
  // preservation is unchanged: the pointer only moves after the new
  // generation's write job succeeded, so any mid-job failure leaves
  // the live index untouched (a dangling unreferenced vNNNNN dir is
  // swept by the next successful publish). Pre-pointer indexes
  // (parquet directly under the root) resolve as a legacy generation
  // and are migrated — flat files swept — by their first publish.

  private val PointerFile = "CURRENT"
  // 5+ digits, not exactly 5: %05d grows naturally past v99999 (a
  // per-micro-batch refresh reaches 100k publishes in years, and a
  // fixed-width validator would then permanently reject the pointer)
  private val VersionRe = "^v(\\d{5,})$".r

  private def readPointer(fs: org.apache.hadoop.fs.FileSystem,
      root: Path): Option[String] = {
    val ptr = new Path(root, PointerFile)
    // one open, no exists/getFileStatus probes: every index read
    // resolves the pointer, so its round trips are paid per prune
    val in =
      try fs.open(ptr)
      catch { case _: java.io.FileNotFoundException => return None }
    val name = try new String(in.readAllBytes(), UTF_8).trim
      finally in.close()
    require(VersionRe.findFirstIn(name).isDefined,
      s"index pointer $ptr holds '$name' — not a generation name")
    Some(name)
  }

  /** The live generation's parquet dir: CURRENT's target when the
    * pointer exists, the root itself for a legacy flat index. */
  private def resolveIndexDir(conf: Configuration, indexDir: String): Path = {
    val root = new Path(indexDir)
    val fs = root.getFileSystem(conf)
    readPointer(fs, root) match {
      case None => root
      case Some(name) =>
        val gen = new Path(root, name)
        require(fs.exists(gen),
          s"index pointer names missing generation $gen — corrupt index")
        gen
    }
  }

  /** Read the LIVE index generation (resolves the CURRENT pointer;
    * legacy flat indexes read as-is) as a parquet frame, bloom bytes
    * included. The returned frame keeps reading that generation
    * consistently even if a publish lands mid-query — generations are
    * immutable and the previous live one is retained until the next
    * publish. The prune paths do NOT go through here: they answer
    * from the driver-side [[snapshot]] and scan parquet only for the
    * bloom arm; the metadata-first aggregates ([[countPruned]],
    * [[countByGroup]], [[minMaxByGroup]], [[minMaxPruned]]) and
    * [[dfpJoin]]'s planning read this frame. */
  def readIndex(spark: SparkSession, indexDir: String): DataFrame =
    spark.read.parquet(resolveIndexDir(
      spark.sparkContext.hadoopConfiguration, indexDir).toString)

  /** Write `rows` as a new immutable generation under `indexDir` and
    * flip CURRENT to it atomically (see the layout note above). `seed`
    * is the new generation's stats rows when the caller holds them
    * all: `rows` is then a local frame of exactly those rows, and the
    * publish installs them as the root's [[snapshot]], so the next
    * prune reads nothing. A frame that scans parquet (bloom rows) has
    * no seed; the next [[snapshot]] call reads the generation once. */
  private def publishGeneration(spark: SparkSession, indexDir: String,
      rows: DataFrame, seed: Option[IndexedSeq[StatRow]]): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new Path(indexDir)
    val fs = root.getFileSystem(conf)
    fs.mkdirs(root)
    val live = readPointer(fs, root)
    val taken = fs.listStatus(root).toSeq.map(_.getPath.getName).collect {
      case VersionRe(num) => num.toInt
    }
    val next = f"v${taken.maxOption.getOrElse(0) + 1}%05d"
    // the parquet job runs BEFORE the pointer moves: any failure here
    // (e.g. the spelling-translation raise_error) leaves the live
    // generation untouched and readable.
    // A frame that scans parquet repartitions, not coalesce(1):
    // coalesce would collapse the scan itself (the bloom pass, the
    // kept-bloom carry) into one task. A local frame has no scan to
    // collapse, and coalesce keeps its write to one job.
    val oneFile =
      if (seed.isDefined) rows.coalesce(1) else rows.repartition(1)
    oneFile.write.mode("overwrite").parquet(new Path(root, next).toString)
    val tmp = new Path(root, PointerFile + ".tmp")
    val out = fs.create(tmp, /* overwrite = */ true)
    try out.write((next + "\n").getBytes(UTF_8)) finally out.close()
    val fc = org.apache.hadoop.fs.FileContext.getFileContext(fs.getUri, conf)
    fc.rename(fs.makeQualified(tmp),
      fs.makeQualified(new Path(root, PointerFile)),
      org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    // retention: the new generation plus the immediately previous live
    // one (in-flight readers that resolved before the flip finish on
    // it); everything older — including dangling dirs from failed
    // publishes — is swept, as are legacy flat files on first publish
    val keep: Set[String] = Set(next) ++ live
    for (st <- fs.listStatus(root)) {
      val n = st.getPath.getName
      if (VersionRe.findFirstIn(n).isDefined) {
        if (!keep.contains(n)) fs.delete(st.getPath, true)
      } else if (live.isEmpty && st.isFile && n != PointerFile &&
          !n.endsWith(".tmp")) {
        // pre-pointer flat layout, now superseded by `next`
        fs.delete(st.getPath, false)
      }
    }
    val key = fs.makeQualified(root).toString
    seed match {
      case Some(rs) =>
        val gen = fs.makeQualified(new Path(root, next))
        val snap = typedSnapshot(gen, partsOf(fs, gen), rs)
        snapshots.synchronized { snapshots.put(key, snap) }
      case None => snapshots.synchronized { snapshots.remove(key) }
    }
  }

  // ---- the driver-side snapshot of the live generation --------------
  //
  // Every prune resolves the live generation, and the rows it needs
  // are a few per file. Reading them from parquet on each call cost a
  // distributed plan per prune (several jobs each, most of the index
  // maintenance in a merge-on-read upsert). The snapshot holds the
  // live generation's rows WITHOUT the bloom bytes, keyed by the
  // qualified index root. It is valid while the resolved generation
  // dir and its part files (name, length, mtime) match: one pointer
  // read plus one listStatus per use. Spark part names carry a
  // per-write UUID, so a generation rebuilt under the same vNNNNN
  // name (index dir deleted and rebuilt) or published by another JVM
  // never matches a stale entry. A small fixed LRU bounds the roots
  // held; each entry is files × indexed columns rows of about 250
  // bytes (see the header for the measured sizes).

  /** One index row without its bloom bytes. */
  private[graft] final case class StatRow(file: String,
      rowCount: Option[Long], col: String, kind: String,
      lmin: Option[Long], lmax: Option[Long],
      dmin: Option[Double], dmax: Option[Double],
      smin: Option[String], smax: Option[String],
      nulls: Option[Long], dtype: Option[String], bspace: Option[String])

  /** The snapshot's columns: every index column except `bloom`. */
  private val SnapshotSchema = StructType(Seq(
    StructField("file", StringType), StructField("row_count", LongType),
    StructField("col", StringType), StructField("kind", StringType),
    StructField("lmin", LongType), StructField("lmax", LongType),
    StructField("dmin", DoubleType), StructField("dmax", DoubleType),
    StructField("smin", StringType), StructField("smax", StringType),
    StructField("nulls", LongType), StructField("dtype", StringType),
    StructField("bspace", StringType)))

  /** The live generation's rows as the driver holds them. `typed` is
    * false for a v1 (pre-`kind`) generation: it then holds no rows,
    * only its files, so every prune keeps every file and [[refresh]]
    * rebuilds it. */
  private[graft] final class Snapshot(val dir: Path,
      val parts: Seq[(String, Long, Long)], val rows: IndexedSeq[StatRow],
      val files: Seq[String], val typed: Boolean) {
    lazy val bloomCols: Set[String] =
      rows.iterator.filter(_.kind == "bloom").map(_.col).toSet
    def read(spark: SparkSession): DataFrame = readParts(spark, dir, parts)
  }

  /** A typed generation's snapshot. Each distinct string (a file's
    * path, a column name, a kind) is held once, however many rows
    * carry it: a file indexed on C columns stores its path once, not
    * C times. */
  private def typedSnapshot(dir: Path, parts: Seq[(String, Long, Long)],
      rows: IndexedSeq[StatRow]): Snapshot = {
    val pool = new java.util.HashMap[String, String]()
    def one(x: String): String =
      if (x == null) null else Option(pool.putIfAbsent(x, x)).getOrElse(x)
    val rs = rows.map(r => r.copy(file = one(r.file), col = one(r.col),
      kind = one(r.kind), dtype = r.dtype.map(one), bspace = r.bspace.map(one)))
    new Snapshot(dir, parts, rs, rs.map(_.file).distinct.sorted, typed = true)
  }

  /** A generation's parquet, bloom bytes included, read from its
    * listed parts (the bloom arm, the kept-bloom carry of [[refresh]],
    * and the snapshot read itself). */
  private def readParts(spark: SparkSession, dir: Path,
      parts: Seq[(String, Long, Long)]): DataFrame =
    if (parts.isEmpty) spark.read.parquet(dir.toString)
    else spark.read.parquet(parts.map(p => new Path(dir, p._1).toString): _*)

  private val SnapshotSlots = 16
  private val snapshots =
    new java.util.LinkedHashMap[String, Snapshot](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, Snapshot]): Boolean =
        size() > SnapshotSlots
    }

  /** (name, length, mtime) of a generation's data parts, sorted. */
  private def partsOf(fs: org.apache.hadoop.fs.FileSystem,
      gen: Path): Seq[(String, Long, Long)] = {
    val sts =
      try fs.listStatus(gen)
      catch {
        case e: java.io.FileNotFoundException =>
          throw new IllegalStateException(
            s"index generation $gen does not exist — no index at this " +
              "root, or a corrupt pointer", e)
      }
    sts.toSeq.filter { st =>
      val n = st.getPath.getName
      st.isFile && !n.startsWith("_") && !n.startsWith(".")
    }.map(st => (st.getPath.getName, st.getLen, st.getModificationTime))
      .sortBy(_._1)
  }

  /** The live generation's [[Snapshot]]: the cached one when its
    * generation dir and parts still match, else read once from
    * parquet (one Spark job, bloom column pruned away). */
  private[graft] def snapshot(spark: SparkSession,
      indexDir: String): Snapshot = {
    val root = new Path(indexDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val key = fs.makeQualified(root).toString
    val gen = fs.makeQualified(
      readPointer(fs, root).fold(root)(new Path(root, _)))
    val parts = partsOf(fs, gen)
    snapshots.synchronized(Option(snapshots.get(key)))
      .filter(s => s.dir == gen && s.parts == parts)
      .getOrElse {
        val snap = readSnapshot(spark, gen, parts)
        snapshots.synchronized { snapshots.put(key, snap) }
        snap
      }
  }

  private def readSnapshot(spark: SparkSession, gen: Path,
      parts: Seq[(String, Long, Long)]): Snapshot = {
    val raw = readParts(spark, gen, parts)
    if (!raw.columns.contains("kind")) {
      val files = raw.select(col("file")).distinct().collect()
        .map(_.getString(0)).toSeq.sorted
      new Snapshot(gen, parts, IndexedSeq.empty, files, typed = false)
    } else {
      val full = widened(raw)
      def o[A](r: Row, i: Int): Option[A] =
        if (r.isNullAt(i)) None else Some(r.getAs[A](i))
      val rows = full.select(SnapshotSchema.fieldNames.map(col): _*)
        .collect().iterator.map(r => StatRow(r.getString(0), o(r, 1),
          r.getString(2), r.getString(3), o(r, 4), o(r, 5), o(r, 6),
          o(r, 7), o(r, 8), o(r, 9), o(r, 10), o(r, 11), o(r, 12)))
        .toIndexedSeq
      typedSnapshot(gen, parts, rows)
    }
  }

  /** `rows` as a local frame of the snapshot columns (the write side
    * of a publish that holds every stats row). */
  private def localFrame(spark: SparkSession,
      rows: IndexedSeq[StatRow]): DataFrame = {
    def o[A](x: Option[A]): Any = x.orNull
    spark.createDataFrame(rows.map(r => Row(r.file, o(r.rowCount),
      r.col, r.kind, o(r.lmin), o(r.lmax), o(r.dmin), o(r.dmax),
      o(r.smin), o(r.smax), o(r.nulls), o(r.dtype), o(r.bspace)))
      .asJava, SnapshotSchema)
  }

  /** Publish `stats` plus the bloom-row frames `blooms` as the next
    * generation. Without bloom rows the write is local and seeds the
    * snapshot. */
  private def publishRows(spark: SparkSession, indexDir: String,
      stats: IndexedSeq[StatRow], blooms: Seq[DataFrame]): Unit = {
    val local = localFrame(spark, stats)
    val written = local.select(local.columns.filter(_ != "bspace").map(col) ++
      Seq(lit(null).cast("binary").as("bloom"), col("bspace")): _*)
    if (blooms.isEmpty) publishGeneration(spark, indexDir, written, Some(stats))
    else publishGeneration(spark, indexDir,
      (written +: blooms).reduce(_ unionByName _), None)
  }

  /** The bloom rows of `snap`'s generation, read from its parquet. */
  private def bloomRowsOf(spark: SparkSession, snap: Snapshot): Seq[DataFrame] =
    if (snap.bloomCols.isEmpty) Nil
    else Seq(widened(snap.read(spark)).filter(col("kind") === "bloom"))

  /** One pass over `dataDir`'s footers → an index parquet at
    * `indexDir` with one row per (file, column): row count + typed
    * min/max. Missing stats (null-only chunks, exotic types) produce a
    * full-range row, i.e. the file is never skipped. */
  def build(spark: SparkSession, dataDir: String, cols: Seq[String],
      indexDir: String, bloomCols: Seq[String] = Nil,
      bloomItems: Long = 1000000L, bloomFpp: Double = 0.03): Unit = {
    val listed = listDataStatuses(spark, dataDir)
    val files = listed.keys.toVector.sorted
    publishRows(spark, indexDir, statsFor(spark, files, cols, listed),
      if (bloomCols.isEmpty) Nil
      else Seq(bloomFor(spark, files, bloomCols, bloomItems, bloomFpp)))
  }

  /** One `kind = "bloom"` index row per (file, bloom column): a
    * serialized per-file Bloom filter over `xxhash64` of the column's
    * values, built in ONE distributed grouped pass (group = the
    * `_metadata.file_path` Spark attaches to every file-source row;
    * only the bloom columns are read, so column pruning keeps the pass
    * narrow). Integral columns are widened to BIGINT before hashing —
    * `xxhash64` hashes int32 and int64 DIFFERENTLY, so without the
    * cast a `LongEquals` probe (a bigint literal) would hash to a
    * different value than the int32 build side and wrongly exclude
    * every file. Unsupported types fail fast: a silently skipped
    * column would let the caller believe point probes prune when they
    * never do.
    *
    * The aggregated file-path spelling can differ from [[listData]]'s
    * canonical one (URI vs Path form), so rows are mapped back through
    * a broadcast translation of the known spellings. A spelling that
    * matches NO candidate (e.g. percent-encoding drift on an object
    * store) would silently drop every bloom row and degrade point
    * probes to no pruning — so the translation is CHECKED up front:
    * every distinct `_metadata.file_path` spelling must resolve, else
    * the build fails fast. A file whose column is all-null still gets
    * a bloom row: `xxhash64(NULL)` evaluates to the seed (42), so the
    * filter contains exactly the null-seed hash — safe, because an
    * equality probe never targets NULL, and a probe value that
    * happens to collide with the seed hash merely keeps the file. */
  private def bloomFor(spark: SparkSession, files: Seq[String],
      bloomCols: Seq[String], bloomItems: Long, bloomFpp: Double)
      : DataFrame = {
    import spark.implicits._
    require(bloomItems > 0, s"bloomItems must be positive: $bloomItems")
    require(bloomFpp > 0 && bloomFpp < 1, s"bloomFpp out of (0,1): $bloomFpp")
    val numBits = SketchBloom.optimalNumOfBits(bloomItems, bloomFpp)
    // BloomFilterAggregate SILENTLY caps both parameters at the
    // session's runtime-bloom maxima (default 4M items / 67M bits): at
    // this class's motivating scale (~1 GiB files, >4M distinct keys)
    // the effective false-positive rate would quietly exceed the
    // requested bloomFpp and pruning would weaken with no signal.
    // Fail fast instead; callers needing bigger filters raise the conf.
    val maxItems = spark.conf
      .get("spark.sql.optimizer.runtime.bloomFilter.maxNumItems").toLong
    val maxBits = spark.conf
      .get("spark.sql.optimizer.runtime.bloomFilter.maxNumBits").toLong
    require(bloomItems <= maxItems && numBits <= maxBits,
      s"StatsIndex bloom: bloomItems=$bloomItems / numBits=$numBits " +
        s"exceed the session caps (maxNumItems=$maxItems, " +
        s"maxNumBits=$maxBits) — BloomFilterAggregate would silently " +
        "truncate and the real FPP would exceed the requested " +
        s"$bloomFpp; raise spark.sql.optimizer.runtime.bloomFilter.* " +
        "or lower bloomItems/bloomFpp")
    val base = spark.read.parquet(files: _*)
    val types: Map[String, DataType] =
      base.schema.fields.map(f => f.name -> f.dataType).toMap
    // (column, hash expr, HASH SPACE). The space is RECORDED in the
    // index row (`bspace`): SQL equality coerces across numeric types
    // (bigint === double compares in double space), so a probe must
    // know which space a filter was built in to hash compatibly — a
    // long-built filter probed with a double's hash would silently
    // rule out every file (cross-type wrong pruning).
    val hashed: Seq[(String, Column, String)] = bloomCols.map { name =>
      types.get(name) match {
        case Some(ByteType | ShortType | IntegerType | LongType) =>
          (name, xxhash64(col(name).cast(LongType)), "long")
        case Some(StringType) => (name, xxhash64(col(name)), "string")
        case Some(FloatType | DoubleType) =>
          // widened to double for the same build/probe hash symmetry
          // as the integral→bigint cast; probed by [[DoubleEquals]]
          (name, xxhash64(col(name).cast(DoubleType)), "double")
        case Some(TimestampType) =>
          // INSTANT timestamps hash their epoch micros — a
          // zone-independent canonical value, so the filter built in
          // any session is probed correctly from any other
          (name, xxhash64(unix_micros(col(name))), "tsutc")
        case Some(TimestampNTZType) =>
          // WALL-CLOCK timestamps hash their wall micros (the stored
          // value itself — micros since 1970-01-01T00:00 *as a wall
          // clock*, computed with an NTZ-to-NTZ diff so no session
          // zone ever touches the hashed value). The probe side
          // ([[TimestampEquals]]) re-derives the wall(s) its instant
          // denotes under the PROBE session's zone — matching
          // Spark's NTZ-through-session-zone comparison semantics
          (name, xxhash64(expr("timestampdiff(MICROSECOND, " +
            s"TIMESTAMP_NTZ'1970-01-01 00:00:00', `$name`)")), "tswall")
        case Some(other) => throw new IllegalArgumentException(
          s"StatsIndex bloom: column '$name' is $other — bloom rows " +
            "support integral, fractional, string and timestamp " +
            "columns (equality probes on dates prune via min/max)")
        case None => throw new IllegalArgumentException(
          s"StatsIndex bloom: column '$name' not present in $files")
      }
    }
    val aggs = hashed.zipWithIndex.map { case ((_, h, _), i) =>
      GraftColumnBridge.toColumn(BloomFilterAggregate(
        GraftColumnBridge.toExpression(h),
        Literal(bloomItems), Literal(numBits), 0, 0)
        .toAggregateExpression()).as(s"__b$i")
    }
    val grouped = base
      .select(col("_metadata.file_path").as("__path") +:
        bloomCols.map(col): _*)
      .groupBy(col("__path"))
      .agg(aggs.head, aggs.tail: _*)
    val pairs = hashed.zipWithIndex.flatMap { case ((name, _, _), i) =>
      Seq(lit(name), col(s"__b$i")) }
    val spaces = map(hashed.flatMap { case (name, _, sp) =>
      Seq(lit(name), lit(sp)) }: _*)
    val stacked = grouped.select(col("__path"),
      explode(map(pairs: _*)).as(Seq("col", "bloom")))
      .withColumn("bspace", element_at(spaces, col("col")))
    val spellingPairs = files.flatMap { f =>
      val p = new Path(f)
      Seq(f, p.toString, p.toUri.toString).distinct.map(sp => (sp, f))
    }.distinct
    val spellings = spellingPairs.toDF("__path", "file")
    // checked translation, with no extra data pass: if Spark's
    // _metadata.file_path spelling for ANY file matches none of the
    // candidates (percent-encoding drift on object-store paths with
    // spaces/special chars), an inner join would silently drop that
    // file's bloom rows and point probes would stop pruning those
    // files. LEFT join + raise_error turns the unmatched row into a
    // loud build-time failure DURING the index write — zero
    // additional jobs over the data.
    stacked.join(broadcast(spellings), Seq("__path"), "left")
      .select(
        coalesce(col("file"), raise_error(concat(
          lit("StatsIndex bloom: _metadata.file_path spelling '"),
          col("__path"),
          lit("' matches no canonical candidate — its bloom rows " +
            "would be silently dropped and point probes would stop " +
            "pruning this file")))).as("file"),
        lit(null).cast("bigint").as("row_count"),
        col("col"), lit("bloom").as("kind"),
        lit(null).cast("bigint").as("lmin"),
        lit(null).cast("bigint").as("lmax"),
        lit(null).cast("double").as("dmin"),
        lit(null).cast("double").as("dmax"),
        lit(null).cast("string").as("smin"),
        lit(null).cast("string").as("smax"),
        lit(null).cast("bigint").as("nulls"),
        col("bloom"), col("bspace"),
        lit(null).cast("string").as("dtype"))
  }

  /** Incremental maintenance for an append-mostly lake: footer-read
    * ONLY files the index has not seen, drop rows for files that
    * vanished (compaction/expiry), and publish the updated index as a
    * new generation behind an atomic pointer flip (see
    * [[publishGeneration]]'s layout note — concurrent readers always
    * resolve a complete generation; a crash mid-publish leaves the
    * live one untouched). Cost ∝ churn, not table size — the
    * operation a daily-ingest 100 TB table actually runs; a full
    * [[build]] per ingest would re-read every footer.
    *
    * The kept stats rows come from the driver-side [[snapshot]], and
    * the churn's footers are read on the driver ([[statsFor]]). So a
    * refresh of an index without bloom rows runs one Spark job: the
    * local generation write, which seeds the next snapshot. Kept bloom
    * rows are carried by a Spark scan of the old generation inside the
    * write job. With no churn (nothing added or removed) it publishes
    * nothing: no job, no pointer flip, no retention sweep.
    * Returns (added, removed). */
  def refresh(spark: SparkSession, dataDir: String, cols: Seq[String],
      indexDir: String, bloomCols: Seq[String] = Nil,
      bloomItems: Long = 1000000L, bloomFpp: Double = 0.03): (Int, Int) = {
    import spark.implicits._
    val conf = spark.sparkContext.hadoopConfiguration
    val listed = listDataStatuses(spark, dataDir)
    val current = listed.keys.toVector.sorted
    val snap =
      if (!new Path(indexDir).getFileSystem(conf).exists(new Path(indexDir)))
        None
      else Some(snapshot(spark, indexDir))
    snap.filter(_.typed) match {
      case None =>
        // no index yet, or a v1 (untyped) one: build from scratch
        build(spark, dataDir, cols, indexDir, bloomCols, bloomItems,
          bloomFpp)
        (current.size, 0)
      case Some(old) =>
        val known = old.files.toSet
        val added = current.filterNot(known)
        val removed = known -- current
        // no churn: the live generation already indexes exactly these
        // files, so nothing is written, flipped or swept
        if (added.isEmpty && removed.isEmpty) return (0, 0)
        val kept = old.rows.filter(r => r.kind != "bloom" && !removed(r.file))
        val fresh = if (added.isEmpty) IndexedSeq.empty
          else statsFor(spark, added, cols, listed)
        // the write job reads the live generation's bloom rows while
        // writing the next one — safe, generations are immutable and
        // the live one survives its successor's publish
        val keptBlooms = bloomRowsOf(spark, old).map(b =>
          if (removed.isEmpty) b
          else b.join(removed.toSeq.toDF("file"), Seq("file"), "left_anti"))
        val freshBlooms =
          if (added.isEmpty || bloomCols.isEmpty) Nil
          else Seq(bloomFor(spark, added, bloomCols, bloomItems, bloomFpp))
        publishRows(spark, indexDir, kept ++ fresh, keptBlooms ++ freshBlooms)
        (added.size, removed.size)
    }
  }

  /** Recursive listing (nested/partitioned layouts index their leaf
    * files); fails fast when the directory holds NO parquet at all — an
    * empty index would make `readPruned` silently return 0 rows for a
    * table that exists (ADVICE r4). Walks the tree with `listStatus`:
    * `listFiles` returns `LocatedFileStatus`es, and without Hadoop's
    * native library each one forks a process to read permissions. */
  private[graft] def listData(spark: SparkSession,
      dataDir: String): Seq[String] =
    listDataStatuses(spark, dataDir).keys.toVector.sorted

  /** [[listData]]'s files with their listed statuses, by path. */
  private def listDataStatuses(spark: SparkSession,
      dataDir: String): Map[String, FileStatus] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new Path(dataDir).getFileSystem(conf)
    // Spark's listing convention: a file is hidden if ANY path segment
    // below the root starts with `_` or `.` — so sidecar DIRECTORIES
    // (`_dv`, `_graft_log`, `.occ-*` stages) are skipped whole, not
    // just `_`-named files (a `_dv/part-*.parquet` has a plain leaf name)
    def walk(dir: Path): Iterator[FileStatus] =
      fs.listStatus(dir).iterator.flatMap { st =>
        val n = st.getPath.getName
        if (n.startsWith("_") || n.startsWith(".")) Iterator.empty
        else if (st.isDirectory) walk(st.getPath)
        else if (n.endsWith(".parquet")) Iterator.single(st)
        else Iterator.empty
      }
    val files = walk(fs.makeQualified(new Path(dataDir)))
      .map(st => st.getPath.toString -> st).toMap
    require(files.nonEmpty,
      s"StatsIndex: no .parquet files under $dataDir (recursive) — " +
        "refusing to build an empty index that would prune everything")
    files
  }

  /** One typed stats row; None everywhere = full-range (never skip). */
  private final case class Bounds(
      kind: String,
      lmin: Option[Long], lmax: Option[Long],
      dmin: Option[Double], dmax: Option[Double],
      smin: Option[String], smax: Option[String])
  private val FullRange = Bounds("full", None, None, None, None, None, None)

  /** Iceberg-style conservative upper bound for a truncated string:
    * increment the last incrementable UNIT of the prefix. Surrogate
    * handling matters for correctness, not just tidiness: Java's UTF-8
    * encoder silently turns an unpaired surrogate into `?` (0x3F), so
    * a bound that split a pair or incremented into the surrogate block
    * would be stored byte-wise SMALLER than the true max and wrongly
    * prune matching files. Therefore: a pair split by the cut drops
    * its dangling high half, a whole pair increments as one code
    * point, 0xD7FF jumps the surrogate block to 0xE000, and 0xFFFF
    * rolls over to U+10000. Downstream comparisons are UTF-8 byte
    * order (Spark UTF8String, parquet binary stats) = code-point
    * order, where a code-point successor is a valid upper bound.
    * None = +∞. */
  private[graft] def truncatedUpper(s: String): Option[String] = {
    if (s.length <= StringTruncateLen) return Some(s)
    val p = s.toCharArray
    var end = StringTruncateLen
    if (Character.isHighSurrogate(p(end - 1))) end -= 1 // don't split a pair
    var i = end - 1
    while (i >= 0) {
      val c = p(i)
      if (Character.isLowSurrogate(c) && i > 0 &&
          Character.isHighSurrogate(p(i - 1))) {
        val cp = Character.toCodePoint(p(i - 1), c)
        if (cp < Character.MAX_CODE_POINT)
          return Some(new String(p, 0, i - 1) +
            new String(Character.toChars(cp + 1)))
        i -= 2 // U+10FFFF has no successor: move left past the pair
      } else if (!Character.isSurrogate(c)) {
        val succ =
          if (c == 0xD7FF.toChar) "\uE000" // jump over the surrogate block
          else if (c == Char.MaxValue)
            new String(Character.toChars(0x10000))
          else (c + 1).toChar.toString
        return Some(new String(p, 0, i) + succ)
      } else i -= 1 // lone surrogate: not a scalar, skip it
    }
    None
  }

  /** Prefix truncation for the LOWER bound: a cut that splits a
    * surrogate pair drops the dangling high half — a shorter prefix is
    * still ≤ every string it bounds, and the stored value stays valid
    * UTF-8 (no `?` substitution on write). */
  private[graft] def truncatedLower(s: String): String = {
    if (s.length <= StringTruncateLen) return s
    val end =
      if (Character.isHighSurrogate(s.charAt(StringTruncateLen - 1)))
        StringTruncateLen - 1
      else StringTruncateLen
    s.substring(0, end)
  }

  /** UTF-8 byte-order comparison — what Spark's UTF8String and parquet
    * binary stats use. Java's `String.compareTo` is UTF-16 code-unit
    * order, which DISAGREES wherever a supplementary code point meets
    * a char in [0xE000, 0xFFFF]: picking a chunk min/max with the
    * wrong order could store a bound tighter than the data and prune a
    * matching file. */
  private def utf8Lte(a: String, b: String): Boolean = {
    val x = a.getBytes(UTF_8)
    val y = b.getBytes(UTF_8)
    val n = math.min(x.length, y.length)
    var i = 0
    while (i < n) {
      val d = (x(i) & 0xff) - (y(i) & 0xff)
      if (d != 0) return d < 0
      i += 1
    }
    x.length <= y.length
  }
  private def minUtf8(ss: Iterable[String]): String =
    ss.reduce((a, b) => if (utf8Lte(a, b)) a else b)
  private def maxUtf8(ss: Iterable[String]): String =
    ss.reduce((a, b) => if (utf8Lte(a, b)) b else a)

  /** The Spark DDL type a chunk's parquet type reads back as — RECORDED
    * per stats row (`dtype`) so metadata-first answers can be typed and
    * exactness-gated without ever touching the data again: the same
    * `long` kind covers int columns (exact values) and instant
    * timestamp columns (micros-normalized, nanos-widened — prunable,
    * NOT recoverable values), and only the recorded type can tell them
    * apart (ADVICE r7). None = unmapped/exotic — conservative
    * downstream (gap). */
  private def sparkTypeOf(
      cc: org.apache.parquet.hadoop.metadata.ColumnChunkMetaData)
      : Option[String] = {
    val pt = cc.getPrimitiveType
    val logical = pt.getLogicalTypeAnnotation
    import LogicalTypeAnnotation._
    (pt.getPrimitiveTypeName, logical) match {
      case (_, d: DecimalLogicalTypeAnnotation) =>
        Some(s"decimal(${d.getPrecision},${d.getScale})")
      case (PrimitiveTypeName.INT32, i: IntLogicalTypeAnnotation)
          if i.isSigned =>
        i.getBitWidth match {
          case 8 => Some("tinyint")
          case 16 => Some("smallint")
          case _ => Some("int")
        }
      case (PrimitiveTypeName.INT32, _: DateLogicalTypeAnnotation) =>
        Some("date")
      case (PrimitiveTypeName.INT32, null) => Some("int")
      case (PrimitiveTypeName.INT64, t: TimestampLogicalTypeAnnotation) =>
        Some(if (t.isAdjustedToUTC) "timestamp" else "timestamp_ntz")
      case (PrimitiveTypeName.INT64, i: IntLogicalTypeAnnotation)
          if i.isSigned => Some("bigint")
      case (PrimitiveTypeName.INT64, null) => Some("bigint")
      case (PrimitiveTypeName.FLOAT, _) => Some("float")
      case (PrimitiveTypeName.DOUBLE, _) => Some("double")
      case (PrimitiveTypeName.BOOLEAN, _) => Some("boolean")
      case (PrimitiveTypeName.BINARY, _: StringLogicalTypeAnnotation) =>
        Some("string")
      case _ => None // INT96, unsigned ints, raw binary, …
    }
  }

  private def boundsOf(
      cc: org.apache.parquet.hadoop.metadata.ColumnChunkMetaData)
      : Option[Bounds] = {
    val st = cc.getStatistics
    if (st == null || !st.hasNonNullValue) return None
    val pt = cc.getPrimitiveType
    val logical = pt.getLogicalTypeAnnotation
    (pt.getPrimitiveTypeName, st.genericGetMin, st.genericGetMax) match {
      case (_, _, _) if logical.isInstanceOf[
          LogicalTypeAnnotation.DecimalLogicalTypeAnnotation] =>
        Some(FullRange) // scaled ints — not comparable as raw longs
      case (PrimitiveTypeName.INT64, lo: Number, hi: Number)
          if logical.isInstanceOf[
            LogicalTypeAnnotation.TimestampLogicalTypeAnnotation] =>
        val ann = logical.asInstanceOf[
          LogicalTypeAnnotation.TimestampLogicalTypeAnnotation]
        import LogicalTypeAnnotation.TimeUnit
        val (loU, hiU) = ann.getUnit match {
          case TimeUnit.MICROS => (lo.longValue(), hi.longValue())
          case TimeUnit.MILLIS =>
            (math.multiplyExact(lo.longValue(), 1000L),
              math.multiplyExact(hi.longValue(), 1000L))
          case TimeUnit.NANOS =>
            // floor for min, ceil for max — outward is conservative
            (Math.floorDiv(lo.longValue(), 1000L),
              Math.floorDiv(hi.longValue() + 999L, 1000L))
        }
        // the annotation carries the timestamp FLAVOR: adjusted-to-UTC
        // stats are instants and prune exactly against a probed
        // instant; NTZ stats are wall-clock micros and shift by the
        // session offset under comparison — their own kind lets the
        // probe arms apply the ±14 h slack ONLY where it is needed
        val kind = if (ann.isAdjustedToUTC) "long" else "tsntz"
        Some(Bounds(kind, Some(loU), Some(hiU), None, None, None, None))
      case (PrimitiveTypeName.INT32, lo: Number, hi: Number)
          if logical.isInstanceOf[
            LogicalTypeAnnotation.DateLogicalTypeAnnotation] =>
        // epoch DAYS under their own kind — binned as "long" they would
        // be compared against micros-normalized timestamp bounds and
        // exclude every file (silently empty results on the standard
        // date-typed partition column)
        Some(Bounds("date", Some(lo.longValue()), Some(hi.longValue()),
          None, None, None, None))
      case (PrimitiveTypeName.INT32 | PrimitiveTypeName.INT64,
          lo: Number, hi: Number) =>
        Some(Bounds("long", Some(lo.longValue()), Some(hi.longValue()),
          None, None, None, None))
      case (PrimitiveTypeName.FLOAT | PrimitiveTypeName.DOUBLE,
          lo: Number, hi: Number) =>
        val (loD, hiD) = (lo.doubleValue(), hi.doubleValue())
        if (loD.isNaN || hiD.isNaN) Some(FullRange)
        // one-ulp outward widening: float→double and long-query→double
        // conversions round either way; widened bounds only weaken
        // pruning, never exclude a matching file
        else Some(Bounds("double", None, None,
          Some(Math.nextDown(loD)), Some(Math.nextUp(hiD)), None, None))
      case (PrimitiveTypeName.BINARY,
          lo: org.apache.parquet.io.api.Binary,
          hi: org.apache.parquet.io.api.Binary)
          if logical.isInstanceOf[
            LogicalTypeAnnotation.StringLogicalTypeAnnotation] =>
        val loS = lo.toStringUsingUTF8
        val hiS = hi.toStringUsingUTF8
        Some(Bounds("string", None, None, None, None,
          Some(truncatedLower(loS)), truncatedUpper(hiS)))
      case _ => Some(FullRange)
    }
  }

  /** Global (min, max) per column as doubles, from FOOTER stats only —
    * [[statsFor]] over `files` on the driver, no Spark job and zero
    * data rows read.
    * `None` when any file lacks exact integral/floating stats for any
    * column (missing column, stats-less chunk, string/temporal kind —
    * temporal footer units differ from Spark's `cast("double")`), so
    * callers fall back to the data-pass aggregate. Used by
    * [[ZOrder.optimize]]: the scaling range a space-filling-curve
    * rewrite needs is exactly what footers carry, and a 100 TB
    * OPTIMIZE should not pay a full corpus scan to learn it (r15). On
    * a lake with covered deletion vectors the footer range may be
    * WIDER than the live rows' (dead rows count) — still a valid
    * bounding range for scale-to-bits clamping. */
  private[sources] def footerDoubleRanges(spark: SparkSession,
      files: Seq[String], cols: Seq[String])
      : Option[Seq[(Double, Double)]] = {
    if (files.isEmpty) return None
    val integral = Set("int", "bigint", "smallint", "tinyint")
    val byCol = statsFor(spark, files, cols).groupBy(_.col)
    val ranges = cols.map { c =>
      val rs = byCol.getOrElse(c, IndexedSeq.empty)
      val exact = rs.forall { r =>
        (r.kind == "long" && r.dtype.exists(integral) &&
          r.lmin.isDefined && r.lmax.isDefined) ||
          (r.kind == "double" && r.dtype.exists(Set("float", "double")) &&
            r.dmin.isDefined && r.dmax.isDefined)
      }
      if (rs.isEmpty || rs.length < files.size || !exact) None
      else Some((
        rs.map(r => r.lmin.map(_.toDouble).getOrElse(r.dmin.get)).min,
        rs.map(r => r.lmax.map(_.toDouble).getOrElse(r.dmax.get)).max))
    }
    if (ranges.exists(_.isEmpty)) None else Some(ranges.map(_.get))
  }

  /** Footer scan of `files` → one [[StatRow]] per (file, column), read
    * on the driver by up to 8 threads (the parallelism of Spark's own
    * footer reads for schema inference): no Spark job. Each footer is
    * turned into rows as soon as it is read, so only the files in
    * flight hold their row-group metadata. `listed` holds statuses the
    * caller already has, by path; any other file is opened by path.
    * The read options are built once from the session's Hadoop conf:
    * `ParquetFileReader.open`'s default options cost about 10 ms per
    * file, thirty times the footer read itself. */
  private def statsFor(spark: SparkSession, files: Seq[String],
      cols: Seq[String],
      listed: Map[String, FileStatus] = Map.empty): IndexedSeq[StatRow] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val options = HadoopReadOptions.builder(conf).build()
    def rowsOf(f: String): Seq[StatRow] = {
      val r = ParquetFileReader.open(listed.get(f)
        .fold(HadoopInputFile.fromPath(new Path(f), conf))(
          HadoopInputFile.fromStatus(_, conf)), options)
      try statRows(f, r.getFooter, cols) finally r.close()
    }
    if (files.size <= 1) files.flatMap(rowsOf).toIndexedSeq
    else {
      val pool = Executors.newFixedThreadPool(math.min(files.size, 8))
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      try Await.result(Future.traverse(files)(f => Future(rowsOf(f))),
        Duration.Inf).flatten.toIndexedSeq
      finally pool.shutdown()
    }
  }

  /** The [[StatRow]]s of file `f` for `cols`, from its footer. */
  private def statRows(f: String,
      footer: org.apache.parquet.hadoop.metadata.ParquetMetadata,
      cols: Seq[String]): Seq[StatRow] = {
    val blocks = footer.getBlocks.asScala
    val nRows = blocks.map(_.getRowCount).sum
    cols.map { name =>
      // per-file null count, or NULL when ANY chunk can't prove one
      // (missing column, stats-less chunk) — the bit [[countPruned]]'s
      // full-containment arm needs: a filter drops null rows, so
      // counting a whole file from metadata is only sound at exactly
      // zero nulls
      val perBlockNulls = blocks.map { b =>
        b.getColumns.asScala
          .find(_.getPath.toDotString == name)
          .flatMap { cc =>
            val st = cc.getStatistics
            if (st != null && st.isNumNullsSet) Some(st.getNumNulls)
            else None
          }
      }
      val nulls: Option[Long] =
        if (perBlockNulls.exists(_.isEmpty)) None
        else Some(perBlockNulls.flatten.sum)
      val perChunk = blocks.flatMap { b =>
        b.getColumns.asScala
          .find(_.getPath.toDotString == name)
          .flatMap(boundsOf)
      }
      val merged =
        if (perChunk.isEmpty || perChunk.exists(_.kind == "full"))
          FullRange
        else if (perChunk.map(_.kind).distinct.size > 1) FullRange
        else perChunk.head.kind match {
          case k @ ("long" | "date" | "tsntz") => Bounds(k,
            Some(perChunk.flatMap(_.lmin).min),
            Some(perChunk.flatMap(_.lmax).max),
            None, None, None, None)
          case "double" => Bounds("double", None, None,
            Some(perChunk.flatMap(_.dmin).min),
            Some(perChunk.flatMap(_.dmax).max), None, None)
          case _ =>
            val uppers = perChunk.map(_.smax)
            // UTF-8 byte order, not String.compareTo: the index
            // comparisons downstream are byte-ordered, and the two
            // orders disagree around supplementary chars
            Bounds("string", None, None, None, None,
              Some(minUtf8(perChunk.flatMap(_.smin))),
              // any unbounded chunk upper ⇒ unbounded file upper
              if (uppers.exists(_.isEmpty)) None
              else Some(maxUtf8(uppers.flatten)))
        }
      // the column's Spark type (parquet schema is file-wide, so the
      // first chunk's type is THE type); None when the file lacks the
      // column or the type is unmapped
      val dtype: Option[String] = blocks.iterator
        .flatMap(_.getColumns.asScala.find(_.getPath.toDotString == name))
        .nextOption().flatMap(sparkTypeOf)
      StatRow(f, Some(nRows), name, merged.kind, merged.lmin,
        merged.lmax, merged.dmin, merged.dmax, merged.smin,
        merged.smax, nulls, dtype, bspace = None)
    }
  }

  /** Per-range exclusion predicate over index rows. NULL bounds (full
    * rows, unbounded string uppers) make these comparisons NULL → the
    * filter keeps nothing → the file survives. Cross-kind comparisons
    * are widened conservatively: a long-stat column probed with a
    * fractional box excludes on `lmax < ceil(lo) || lmin > floor(hi)`
    * (exact, since the data are integers), and a double-stat column
    * probed with a long box compares against one-ulp-outward doubles.
    *
    * Split in two: the STATS arms (min/max rows, a Scala predicate over
    * the driver-side [[snapshot]]'s rows — no plan, no job) and, for
    * point probes, the BLOOM arm (`kind = "bloom"` rows, a Column
    * evaluated over the generation's parquet, where the filter bytes
    * live). A file is excluded when either arm excludes it. The stats
    * arms decide as the SQL comparisons over the index rows would: a
    * NULL bound (None) never excludes, doubles compare in Spark's order
    * (NaN greatest, -0.0 = 0.0) and strings in UTF-8 byte order. */
  private def exclusion(r: ColRange): (StatRow => Boolean, Option[Column]) =
    r match {
    case LongRange(name, lo, hi) =>
      // "date" joins the long arm: a LongRange on a date column means
      // raw epoch days, the same unit the stats carry
      (s => s.col == name && (
        (integral(s) && outLong(s, lo, hi)) ||
        (s.kind == "double" &&
          outDouble(s, Math.nextDown(lo.toDouble), Math.nextUp(hi.toDouble)))),
        None)
    case DoubleRange(name, lo, hi) =>
      // ceil/floor as Long with clamping (a bound beyond Long range
      // can never exclude via the integer arm)
      val loCeil = if (lo <= Long.MinValue.toDouble) Long.MinValue
        else if (lo >= Long.MaxValue.toDouble) Long.MaxValue
        else math.ceil(lo).toLong
      val hiFloor = if (hi >= Long.MaxValue.toDouble) Long.MaxValue
        else if (hi <= Long.MinValue.toDouble) Long.MinValue
        else math.floor(hi).toLong
      (s => s.col == name && (
        (s.kind == "double" && outDouble(s, lo, hi)) ||
        (integral(s) && outLong(s, loCeil, hiFloor))), None)
    case StringRange(name, lo, hi) =>
      (s => s.col == name && s.kind == "string" && outString(s, lo, hi),
        None)
    case LongEquals(name, v) =>
      // a point probe is the degenerate range [v, v] for the stats
      // arms, PLUS the bloom arm: a bloom row whose filter rules the
      // key out excludes the file even when its min/max span it.
      // Cross-type coverage: `doubleCol === vLong` compares in double
      // space, so double-built blooms are probed with the DOUBLE
      // spelling's hash — except v == 0, whose double spelling cannot
      // cover -0.0 data (SQL 0.0 = -0.0, different bits)
      val spellings =
        ("long", xxhash64(lit(v))) +: (
          if (v != 0L) Seq(("double", xxhash64(lit(v.toDouble))))
          else Nil)
      (s => s.col == name && (
        (integral(s) && outLong(s, v, v)) ||
        (s.kind == "double" &&
          outDouble(s, Math.nextDown(v.toDouble), Math.nextUp(v.toDouble)))),
        Some(col("col") === name &&
          bloomExcludes(spellings, legacySpace = "long")))
    case StringEquals(name, v) =>
      // numeric-parsable strings coerce in comparisons. ANSI sessions
      // cast the string to BIGINT (exact long space), but with ANSI
      // OFF Spark widens string-vs-bigint to DOUBLE space, where a
      // long column value in the probe's double-rounding window can
      // satisfy the predicate while hashing differently from the
      // parsed long. The index is session-agnostic, so the long
      // spelling is only emitted below 2^53 (exact in BOTH spaces —
      // same guard as [[DoubleEquals]]); larger parses stay
      // conservative (no long-space exclusion). The double spelling
      // skips zero (±0.0) as in [[LongEquals]]
      val spellings =
        ("string", xxhash64(lit(v))) +:
          (v.toLongOption
            .filter(l => l > -9007199254740992L && l < 9007199254740992L)
            .map(l => ("long", xxhash64(lit(l)))).toSeq ++
            v.toDoubleOption
              .filterNot(d => d == 0.0 || d.isNaN)
              .map(d => ("double", xxhash64(lit(d)))).toSeq)
      (s => s.col == name && s.kind == "string" && outString(s, v, v),
        Some(col("col") === name &&
          bloomExcludes(spellings, legacySpace = "string")))
    case DoubleEquals(name, v) =>
      // long-kind stats: `longCol === vDouble` compares in DOUBLE
      // space (Spark widens the column), so exactness depends on
      // magnitude: below 2^53 every long is uniquely representable
      // and the comparison is exact in long space; above it a whole
      // window of longs rounds to v, so the exclusion bounds widen by
      // one ulp; beyond the long range (or non-integer / non-finite
      // probes) no long column value can ever equal v and every
      // long-stat row is excludable outright
      val longArm: StatRow => Boolean =
        if (v == math.rint(v) && math.abs(v) < 9007199254740992.0d) {
          val vl = v.toLong
          s => integral(s) && outLong(s, vl, vl)
        } else if (v == math.rint(v) && v >= Long.MinValue.toDouble &&
            v <= Long.MaxValue.toDouble) {
          val lo = math.max(v - Math.ulp(v), Long.MinValue.toDouble).toLong
          val hi = math.min(v + Math.ulp(v), Long.MaxValue.toDouble).toLong
          s => integral(s) && outLong(s, lo, hi)
        } else integral
      val mm = (s: StatRow) => s.col == name && (
        (s.kind == "double" && outDouble(s, v, v)) || longArm(s))
      // ±0.0 skips the bloom arm (case-class doc); NaN's comparisons
      // above are all false — the file survives, the exact re-filter
      // then returns no rows (SQL equality never matches NaN)
      if (v == 0.0d || v.isNaN) (mm, None)
      else {
        // cross-type coverage for long-built blooms: only an exactly
        // round-tripping integral probe has a long spelling. Legacy
        // (pre-bspace) rows are AMBIGUOUS under a double probe — the
        // filter could be long-built (pre-double-bloom index) or
        // double-built (early-generation double bloom) and the two
        // hash differently — so no legacy row is ever excluded here
        // (the sentinel space matches no spelling)
        val spellings =
          ("double", xxhash64(lit(v))) +: (
            if (v == math.rint(v) && math.abs(v) < 9007199254740992.0d)
              Seq(("long", xxhash64(lit(v.toLong))))
            else Nil)
        (mm, Some(col("col") === name &&
          bloomExcludes(spellings, legacySpace = "ambiguous")))
      }
    case t @ TimestampEquals(name, v) =>
      // Stats arms PLUS a bloom arm (r6 VERDICT ask #5): on a lake
      // clustered by anything other than time, every file spans
      // nearly the full ts range and min/max never excludes — the
      // bloom row is the only arm that can prune a ts point probe.
      // Only micro-exact instants probe the filter (a sub-micro
      // instant is floor/ceil-widened by the stats arms and can
      // never equal a stored micro value bit-for-bit — Spark's
      // timestamp literal truncates, so the predicate itself is
      // micro-exact; skipping the bloom arm there stays safe).
      //  - `tsutc` filters hashed epoch micros: probe with the
      //    instant's micros, exact in any session.
      //  - `tswall` filters hashed WALL micros: probe with every
      //    wall that the probe session's zone promotes back to this
      //    instant (usually one; zero or two around DST transitions
      //    — [[wallMicrosFor]]). Zero candidates ⇒ no wall can
      //    satisfy the predicate in this session; the arm emits no
      //    spelling and the file survives conservatively (the exact
      //    re-filter then returns nothing).
      // Legacy (pre-bspace) rows were never timestamp-built (the
      // build rejected temporal bloom columns until this arm
      // existed), so the sentinel space keeps them non-excluding.
      val arms = timestampArms(t.loMicros, t.hiMicros)
      val mm = (s: StatRow) => s.col == name && arms(s)
      if (t.loMicros != t.hiMicros) (mm, None)
      else {
        val zone = java.time.ZoneId.of(
          org.apache.spark.sql.internal.SQLConf.get.sessionLocalTimeZone)
        val spellings =
          ("tsutc", xxhash64(lit(t.loMicros))) +:
            wallMicrosFor(v, zone).map(w => ("tswall", xxhash64(lit(w))))
        (mm, Some(col("col") === name &&
          bloomExcludes(spellings, legacySpace = "ambiguous")))
      }
    case t @ TimestampRange(name, _, _) =>
      val arms = timestampArms(t.loMicros, t.hiMicros)
      (s => s.col == name && arms(s), None)
  }

  private def integral(s: StatRow): Boolean =
    s.kind == "long" || s.kind == "date"
  /** The row's long bounds prove no value in [lo, hi]. */
  private def outLong(s: StatRow, lo: Long, hi: Long): Boolean =
    s.lmax.exists(_ < lo) || s.lmin.exists(_ > hi)
  private def outDouble(s: StatRow, lo: Double, hi: Double): Boolean =
    s.dmax.exists(SQLOrderingUtil.compareDoubles(_, lo) < 0) ||
      s.dmin.exists(SQLOrderingUtil.compareDoubles(_, hi) > 0)
  /** A NULL probe bound compares NULL in SQL: that side never excludes. */
  private def outString(s: StatRow, lo: String, hi: String): Boolean = {
    def cmp(a: String, b: String): Int =
      UTF8String.fromString(a).compareTo(UTF8String.fromString(b))
    (lo != null && s.smax.exists(cmp(_, lo) < 0)) ||
      (hi != null && s.smin.exists(cmp(_, hi) > 0))
  }

  /** Every wall-clock (micros since epoch-as-wall) that `zone`
    * promotes to exactly instant `v` — Spark compares an NTZ column
    * to a timestamp probe by promoting the wall through the session
    * zone (`ldt.atZone(zone).toInstant`), so these are precisely the
    * stored NTZ values the predicate can match. Usually one; around a
    * DST gap a non-existent wall is java-shifted onto the same
    * instant as an existing one (two candidates), and an instant on
    * the repeated side of an overlap that java never picks has zero.
    * Candidates come from every distinct zone offset within ±24 h of
    * `v` (offsets change only at transitions; ±24 h bounds any legal
    * single transition's reach), each inverted and then CHECKED by
    * re-promoting through the zone — so the set is exact by
    * construction, not by transition-case analysis. */
  private[graft] def wallMicrosFor(v: java.time.Instant,
      zone: java.time.ZoneId): Seq[Long] = {
    val rules = zone.getRules
    Seq(-86400L, -43200L, 0L, 43200L, 86400L)
      .map(s => rules.getOffset(v.plusSeconds(s))).distinct
      .map(off => java.time.LocalDateTime.ofInstant(v, off)).distinct
      .filter(w => w.atZone(zone).toInstant == v)
      .map(w => math.addExact(math.multiplyExact(
        w.toEpochSecond(java.time.ZoneOffset.UTC), 1000000L),
        w.getNano / 1000L))
  }

  /** The three timestamp-stat arms, shared by [[TimestampEquals]] and
    * [[TimestampRange]], each with exactly the slack its flavor needs:
    *  - `long` (instant, isAdjustedToUTC) stats compare instants to
    *    instants — EXACT, no slack;
    *  - `tsntz` (wall-clock) stats shift against the probed instant by
    *    the session offset under comparison (NTZ is promoted through
    *    the session zone), so they get ±14 h slack — the max legal UTC
    *    offset — keeping exclusion conservative in ANY session.
    *    Legacy indexes recorded NTZ stats as `long` and so keep their
    *    pre-flavor exact/UTC-assumed semantics;
    *  - `date` stats are epoch DAYS: day-converted bounds with ±1-day
    *    slack, absorbing the same session-zone cast shift. */
  private def timestampArms(loMicros: Long,
      hiMicros: Long): StatRow => Boolean = {
    val md = 86400000000L // micros per day
    val tz = 50400000000L // 14 h in micros: max legal UTC offset
    val loDay = Math.floorDiv(loMicros, md) - 1L
    val hiDay = Math.floorDiv(hiMicros, md) + 1L
    s => (s.kind == "long" && outLong(s, loMicros, hiMicros)) ||
      (s.kind == "tsntz" && outLong(s, loMicros - tz, hiMicros + tz)) ||
      (s.kind == "date" && outLong(s, loDay, hiDay))
  }

  /** Bloom-arm exclusion over index rows: a `kind = "bloom"` row
    * whose filter definitively rules the probed value out IN THE HASH
    * SPACE THE FILTER WAS BUILT IN. Each probe passes its value's
    * spellings — (space, xxhash64-of-that-spelling) pairs — and a row
    * excludes only when its recorded `bspace` has a covering spelling
    * whose hash the filter rules out; rows in spaces the probe cannot
    * spell (e.g. a string-built bloom under a numeric probe, whose
    * textual form is unknowable) are kept. Pre-`bspace` rows (NULL)
    * read as `legacySpace` — the space the legacy build provably
    * hashed for that probe type ("long" for [[LongEquals]], "string"
    * for [[StringEquals]]), preserving old-index behavior exactly;
    * [[DoubleEquals]] passes a sentinel that matches nothing, because
    * a legacy row under a double probe could be either long- or
    * double-built and the two hash differently. A NULL
    * bloom (pre-bloom index row) excludes nothing. An all-null column
    * is NOT null here: it holds exactly the null-seed hash
    * (`xxhash64(NULL)` = the seed), so such files CAN be
    * bloom-excluded — safe, because equality never matches NULL. */
  private def bloomExcludes(spellings: Seq[(String, Column)],
      legacySpace: String): Column = {
    def miss(hash: Column): Column =
      !GraftColumnBridge.toColumn(graft.functions.BloomMightContain(
        GraftColumnBridge.toExpression(col("bloom")),
        GraftColumnBridge.toExpression(hash)))
    col("kind") === "bloom" && spellings.map { case (space, hash) =>
      coalesce(col("bspace"), lit(legacySpace)) === space && miss(hash)
    }.reduce(_ || _)
  }

  /** Files whose stats intersect EVERY constraint. A file missing an
    * index row for a constrained column is kept (conservative — e.g. a
    * column added after the index was built). The stats arms run over
    * the driver-side [[snapshot]]'s rows in plain Scala (no Spark
    * job); only point probes on a column the snapshot shows bloom rows
    * for run the bloom arm, one Spark job over the generation's
    * parquet. */
  def prunedTyped(spark: SparkSession, indexDir: String,
      ranges: Seq[ColRange]): Seq[String] = {
    val snap = snapshot(spark, indexDir)
    val arms = ranges.map(exclusion)
    val statsOut = snap.rows.iterator
      .filter(s => arms.exists(_._1(s))).map(_.file).toSet
    val probes = ranges.zip(arms).collect {
      case (r, (_, Some(bloom))) if snap.bloomCols(r.name) => bloom
    }
    val bloomOut =
      if (probes.isEmpty) Set.empty[String]
      else widened(snap.read(spark)).filter(probes.reduce(_ || _))
        .select(col("file")).distinct().collect().iterator
        .map(_.getString(0)).toSet
    snap.files.filterNot(f => statsOut(f) || bloomOut(f))
  }

  /** Long-box compatibility shim over [[prunedTyped]]. */
  def prunedFiles(spark: SparkSession, indexDir: String,
      ranges: Seq[(String, Long, Long)]): Seq[String] =
    prunedTyped(spark, indexDir,
      ranges.map { case (n, lo, hi) => LongRange(n, lo, hi) })

  /** Full-containment predicate over index rows — the mirror image of
    * [[exclusion]], and deliberately NARROWER than its complement:
    * containment must PROVE every row of the file satisfies the
    * range, so it additionally demands a proven ZERO null count (a
    * filter drops null rows; a from-metadata count must too) and
    * falls to `false` — boundary, scanned exactly — for anything it
    * cannot prove: timestamp ranges (their stats carry session-offset
    * slack), point probes, `full`-kind rows, NULL bounds, unknown
    * null counts, and long bounds beyond 2^53 probed through the
    * double arm (double rounding could fake containment). String
    * containment IS sound under truncation: the stored min is a
    * prefix (≤ the true min, so `smin >= lo` implies `true_min >=
    * lo`) and the stored max an inflated upper bound (≥ the true
    * max), both in the same UTF-8 byte order the bounds were built
    * in. */
  private def inclusion(r: ColRange): Column = {
    val noNulls = col("nulls") === 0L
    r match {
      case LongRange(name, lo, hi) =>
        val doubleArmSafe =
          math.abs(lo) < (1L << 53) && math.abs(hi) < (1L << 53)
        col("col") === name && noNulls && (
          (col("kind").isin("long", "date") &&
            col("lmin") >= lo && col("lmax") <= hi) ||
          (lit(doubleArmSafe) && col("kind") === "double" &&
            col("dmin") >= lo.toDouble && col("dmax") <= hi.toDouble))
      case DoubleRange(name, lo, hi) =>
        val loCeil = if (lo <= Long.MinValue.toDouble) Long.MinValue
          else if (lo >= Long.MaxValue.toDouble) Long.MaxValue
          else math.ceil(lo).toLong
        val hiFloor = if (hi >= Long.MaxValue.toDouble) Long.MaxValue
          else if (hi <= Long.MinValue.toDouble) Long.MinValue
          else math.floor(hi).toLong
        col("col") === name && noNulls && (
          (col("kind") === "double" &&
            col("dmin") >= lo && col("dmax") <= hi) ||
          (col("kind") === "long" &&
            col("lmin") >= loCeil && col("lmax") <= hiFloor))
      case StringRange(name, lo, hi) =>
        // NULL smax (unbounded upper) compares NULL → false → boundary
        col("col") === name && noNulls && col("kind") === "string" &&
          col("smin") >= lo && col("smax") <= hi
      case _ => lit(false) // point probes, timestamps: always boundary
    }
  }

  /** Metadata-first COUNT of the rows satisfying ALL `ranges`,
    * Iceberg-style: a file whose index rows PROVE every row matches
    * (see [[inclusion]]) contributes its footer `row_count` with zero
    * data I/O; only the boundary shell — files that overlap a range
    * edge — is scanned and exactly filtered; excluded files cost
    * nothing. On a clustered 100 TB lake a selective box COUNT
    * therefore reads a few boundary files instead of the table; the
    * result is EXACT, not an estimate — `StatsIndexSpec` asserts
    * equality with the full-scan count on random boxes, and
    * q61_meta_count hash-checks it against DuckDB. Indexes built
    * before the `nulls` column read as "null count unknown" and
    * simply classify every file as boundary (correct, just slower
    * until the next rebuild). DV-AWARE: covered deletion vectors
    * subtract exactly (per-file dead counts for interior files, the
    * readMor vector step for boundary files — both metadata-scale), so
    * a MoR-deleted lake can never return a phantom count;
    * q70_dv_meta_count hash-checks the composition. */
  def countPruned(spark: SparkSession, dataDir: String,
      indexDir: String, ranges: Seq[ColRange]): Long = {
    require(ranges.nonEmpty, "countPruned needs at least one range")
    import spark.implicits._
    val idx = widened(readIndex(spark, indexDir))
    val kept = prunedTyped(spark, indexDir, ranges)
    // a file is interior iff EVERY range has an index row proving
    // containment — metadata-scale set intersection. ONE job returns
    // both the per-file row counts (summed driver-side, bounded by
    // #files) and the interior set for the boundary diff — no
    // re-filter of the index through a 10^5-literal isin plan.
    val interiorCounts = ranges.map { r =>
        idx.filter(inclusion(r)).select(col("file")).distinct()
      }.reduce((a, b) => a.join(b, Seq("file"), "left_semi"))
      .join(idx.select(col("file"), col("row_count"))
        .filter(col("row_count").isNotNull).distinct(), Seq("file"))
      .as[(String, Long)].collect()
    val interior = interiorCounts.iterator.map(_._1).toSet
    val boundary = kept.filterNot(interior)
    val pred = ranges.map(_.predicate).reduce(_ && _)
    // DV-awareness (r8 VERDICT ask #4): covered deletion vectors mark
    // rows DEAD inside files whose footer counts still include them —
    // an interior file's contribution drops by its covered-pair count
    // (every dead row is physically in the file, and interior ⇒ every
    // physical row matches the ranges, so the subtraction is exact),
    // and the boundary scan drops the dead rows exactly as readMor
    // does. Both corrections are metadata-scale: the sidecar holds one
    // 16-byte pair per deleted row. A lake with no covered vectors
    // (including every log-less lake) takes the original zero-I/O
    // path. The lake must be read as its committed view for this to
    // be exact — the same index-currency premise every caller already
    // holds (the index's file set IS the data it describes).
    val dvOpt = DeletionVectors.vectors(spark, dataDir)
    val deadByFile: Map[String, Long] =
      dvOpt.fold(Map.empty[String, Long])(_.deadCounts)
    val interiorRows = interiorCounts.iterator.map { case (path, rc) =>
      rc - deadByFile.getOrElse(
        new org.apache.hadoop.fs.Path(path).getName, 0L)
    }.sum
    val boundaryRows =
      if (boundary.isEmpty) 0L
      else DeletionVectors.applyVectors(
        spark.read.option("mergeSchema", "true").parquet(boundary: _*),
        dvOpt).filter(pred).count()
    interiorRows + boundaryRows
  }

  /** Metadata-first GROUPED COUNT — `SELECT g, count(*) GROUP BY g`
    * answered from footer stats wherever the layout allows: on a lake
    * CLUSTERED by the group column most files are SINGLE-GROUP
    * (`min == max` with zero proven nulls), and such a file
    * contributes `(min, row_count)` with ZERO data I/O — the
    * dashboard "count by partition/day/language" shape, exact, never
    * an estimate. Only the MIXED files (cluster boundaries, files
    * with nulls or unknown stats) are scanned and grouped; a lake
    * not clustered by `g` degrades to the plain grouped count —
    * correct, just not accelerated.
    *
    * Provable-value arms mirror [[minMaxPruned]]'s dtype discipline:
    * integral columns under kind "long" (footer bounds are exact
    * values of the RECORDED type), DATE from epoch days, strings via
    * the bound pinch (truncation-safe bounds with `smin == smax`
    * force every value equal — a truncated prefix can never equal an
    * upper bound of longer real values). Fractional columns never
    * prove (the build's one-ulp widening keeps `dmin < dmax`),
    * instant timestamps never prove (micros/nanos normalization);
    * both scan. A file proven ALL-NULL contributes the NULL group
    * from metadata alone. DV-AWARE like [[countPruned]]: a
    * single-group file's dead rows provably held that same value, so
    * its contribution drops by the covered-pair count exactly; mixed
    * files drop their dead rows in the scan. Groups whose live
    * count reaches zero are dropped — `GROUP BY` over zero rows has
    * no row. */
  def countByGroup(spark: SparkSession, dataDir: String,
      indexDir: String, groupCol: String): DataFrame = {
    import spark.implicits._
    val idx = widened(readIndex(spark, indexDir))
    val dvOpt = DeletionVectors.vectors(spark, dataDir)
    val gRows = idx
      .filter(col("col") === groupCol && col("kind") =!= "bloom")
      .select(col("file"), col("kind"), col("lmin"), col("lmax"),
        col("smin"), col("smax"),
        col("nulls"), col("row_count"), col("dtype"))
    // ONE recorded Spark type decides which kind proves VALUES (the
    // minMaxPruned/ADVICE-r7 rule); drift or legacy rows → all scan.
    // Distinct dtypes is bounded by the type census, never file count
    val dtypes = gRows.filter(col("dtype").isNotNull)
      .select(col("dtype")).distinct().as[String].collect().toSeq
    val dt: Option[String] = dtypes match {
      case Seq(one) => Some(one)
      case _ => None
    }
    val longExact = dt.exists(Set("tinyint", "smallint", "int", "bigint"))
    // DISTRIBUTED interior/boundary classification (r14 — the r13
    // shape collected every index row and classified in a driver Map,
    // a footprint ∝ lake FILE COUNT): each file's arm is a codegen'd
    // when-chain over its own index row, dead-row subtraction joins
    // the sidecar counts by file name, and interior contributions
    // aggregate map-side. The driver materializes ONLY the boundary
    // shell's path list (the same list the parquet reader needs as
    // scan paths — the irreducible driver cost) plus the dtype census.
    // Files with NO index row for the group column (pre-evolution
    // files) left-join to null arms and classify boundary, as before.
    val deadDf = dvOpt.map(_.deadCountFrame(spark)
      .select(col("file").as("__base"), col("dead").as("__dead")))
    val allFiles = idx.select(col("file")).distinct()
    val joined0 = allFiles.join(gRows, Seq("file"), "left")
      .withColumn("__base", element_at(split(col("file"), "/"), -1))
    val joined = deadDf match {
      case None => joined0.withColumn("__dead", lit(0L))
      case Some(d) => joined0.join(d, Seq("__base"), "left")
        .withColumn("__dead", coalesce(col("__dead"), lit(0L)))
    }
    val statsKnown = col("row_count").isNotNull && col("nulls").isNotNull
    val allNull = statsKnown && col("nulls") === col("row_count")
    // the provable-value arms: same dtype discipline as the driver
    // loop had — integral under "long", DATE from epoch days (ISO
    // string via date_from_unix_date, the LocalDate.toString twin),
    // string via the truncation-safe bound pinch
    val gval =
      when(col("kind") === "long" && lit(longExact) &&
          col("lmin").isNotNull && col("lmax").isNotNull &&
          col("lmin") === col("lmax"), col("lmin").cast("string"))
        .when(col("kind") === "date" && lit(dt.contains("date")) &&
          col("lmin").isNotNull && col("lmax").isNotNull &&
          col("lmin") === col("lmax"),
          date_from_unix_date(col("lmin").cast("int")).cast("string"))
        .when(col("kind") === "string" && lit(dt.contains("string")) &&
          col("smin").isNotNull && col("smax").isNotNull &&
          col("smin") === col("smax"), col("smin"))
    // dt=None (legacy/drifting index) proves nothing — even the
    // all-null arm needs the recorded type to build a typed NULL
    // group that unions with the boundary scan's real column
    val interiorFlag =
      if (dt.isEmpty) lit(false)
      else allNull || (statsKnown && col("nulls") === 0L &&
        gval.isNotNull)
    val classified = joined
      .withColumn("__interior", interiorFlag)
      // NULL group travels as a null value string; proven values as
      // portable strings, cast back to the recorded type below
      // (bit-exact for integral/date/string)
      .withColumn("__g", when(allNull, lit(null).cast("string"))
        .otherwise(gval))
      .withColumn("__live", col("row_count") - col("__dead"))
    val dtName = dt.getOrElse("string")
    val interiorAgg = classified.filter(col("__interior"))
      .groupBy(col("__g")).agg(sum(col("__live")).as("n"))
    // dt=None forces every file boundary (interiorFlag is literally
    // false), and the "string"-typed empty interior frame would
    // coerce the union's group type — drop the arm statically
    // instead of probing it with an extra job
    val interiorDf =
      if (dt.isEmpty) None
      else Some(interiorAgg
        .select(col("__g").cast(dtName).as(groupCol), col("n")))
    val boundary = classified.filter(!col("__interior"))
      .select(col("file")).distinct().as[String].collect().toSeq.sorted
    val boundaryDf =
      if (boundary.isEmpty) None
      else {
        // mergeSchema + typed-NULL backfill: under additive evolution
        // the boundary shell may predate the column entirely
        val scan0 = DeletionVectors.applyVectors(
          spark.read.option("mergeSchema", "true")
            .parquet(boundary: _*), dvOpt)
        val scan =
          if (scan0.columns.contains(groupCol)) scan0
          else scan0.withColumn(groupCol, lit(null).cast(dtName))
        Some(scan.groupBy(col(groupCol))
          .agg(count(lit(1)).as("n")))
      }
    val parts = interiorDf.toSeq ++ boundaryDf.toSeq
    require(parts.nonEmpty,
      s"countByGroup: index at $indexDir describes no files")
    parts.reduce(_ unionByName _)
      .groupBy(col(groupCol)).agg(sum(col("n")).as("n"))
      .filter(col("n") > 0L)
      .select(col(groupCol), col("n").cast("bigint").as("n"))
  }

  /** Metadata-first GROUPED MIN/MAX — `SELECT g, min(v), max(v)
    * GROUP BY g` answered from footer stats wherever the layout
    * allows, completing the metadata-answerable aggregate family
    * beside [[countByGroup]] (parquet footers hold counts, null
    * counts and bounds — count/min/max are exactly what they can
    * prove; sums never). A file is INTERIOR when BOTH sides prove:
    * the GROUP side exactly as countByGroup (single proven group
    * value, or proven all-null → the NULL group), and the VALUE side
    * with EXACT extrema — integral kinds under "long" and DATE epoch
    * days, where the recorded bounds ARE the file's min/max of the
    * non-null values (parquet stats exclude nulls, so partial
    * nullness costs nothing); a value column proven ALL-NULL
    * contributes typed-NULL extrema (SQL's `min` over an all-null
    * group). Fractional values never prove (one-ulp widened bounds),
    * strings never prove (64-char bound truncation makes smin/smax
    * inexact for long values — unlike the countByGroup PINCH, which
    * only needs equality), instant timestamps never prove
    * (normalization); those files scan. DV discipline is STRICTER
    * than countByGroup's subtraction: a dead row may have HELD the
    * extremum, so any file with covered pairs goes to the boundary
    * scan (vectors applied there) — correctness first, the
    * metadata answer only where it is provable. Classification is
    * fully distributed (the r14 countByGroup shape); the driver
    * materializes the boundary path list + the two dtype censuses.
    * Output: (groupCol, vmin, vmax), groups with zero live rows
    * absent. */
  def minMaxByGroup(spark: SparkSession, dataDir: String,
      indexDir: String, groupCol: String, valueCol: String): DataFrame = {
    import spark.implicits._
    val idx = widened(readIndex(spark, indexDir))
    val dvOpt = DeletionVectors.vectors(spark, dataDir)
    def rowsFor(c: String, p: String) = idx
      .filter(col("col") === c && col("kind") =!= "bloom")
      .select(col("file"), col("kind").as(s"${p}kind"),
        col("lmin").as(s"${p}lmin"), col("lmax").as(s"${p}lmax"),
        col("smin").as(s"${p}smin"), col("smax").as(s"${p}smax"),
        col("nulls").as(s"${p}nulls"), col("row_count").as(s"${p}rc"),
        col("dtype").as(s"${p}dtype"))
    val gRows = rowsFor(groupCol, "g_")
    val vRows = rowsFor(valueCol, "v_")
    def census(df: DataFrame, c: String): Option[String] =
      df.filter(col(c).isNotNull).select(col(c)).distinct()
        .as[String].collect().toSeq match {
          case Seq(one) => Some(one)
          case _ => None
        }
    val gdt = census(gRows, "g_dtype")
    val vdt = census(vRows, "v_dtype")
    val integral = Set("tinyint", "smallint", "int", "bigint")
    val gLongExact = gdt.exists(integral)
    val vLongExact = vdt.exists(integral)
    val deadDf = dvOpt.map(_.deadCountFrame(spark)
      .select(col("file").as("__base"), col("dead").as("__dead")))
    val allFiles = idx.select(col("file")).distinct()
    val joined0 = allFiles.join(gRows, Seq("file"), "left")
      .join(vRows, Seq("file"), "left")
      .withColumn("__base", element_at(split(col("file"), "/"), -1))
    val joined = deadDf match {
      case None => joined0.withColumn("__dead", lit(0L))
      case Some(d) => joined0.join(d, Seq("__base"), "left")
        .withColumn("__dead", coalesce(col("__dead"), lit(0L)))
    }
    val gStats = col("g_rc").isNotNull && col("g_nulls").isNotNull
    val gAllNull = gStats && col("g_nulls") === col("g_rc")
    val gval =
      when(col("g_kind") === "long" && lit(gLongExact) &&
          col("g_lmin").isNotNull && col("g_lmax").isNotNull &&
          col("g_lmin") === col("g_lmax"), col("g_lmin").cast("string"))
        .when(col("g_kind") === "date" && lit(gdt.contains("date")) &&
          col("g_lmin").isNotNull && col("g_lmax").isNotNull &&
          col("g_lmin") === col("g_lmax"),
          date_from_unix_date(col("g_lmin").cast("int")).cast("string"))
        .when(col("g_kind") === "string" && lit(gdt.contains("string")) &&
          col("g_smin").isNotNull && col("g_smax").isNotNull &&
          col("g_smin") === col("g_smax"), col("g_smin"))
    val vAllNull = col("v_rc").isNotNull && col("v_nulls").isNotNull &&
      col("v_nulls") === col("v_rc")
    val vExact =
      (col("v_kind") === "long" && lit(vLongExact) ||
        col("v_kind") === "date" && lit(vdt.contains("date"))) &&
        col("v_lmin").isNotNull && col("v_lmax").isNotNull
    val interiorFlag =
      if (gdt.isEmpty || vdt.isEmpty) lit(false)
      else col("__dead") === 0L && col("g_rc") > 0L &&
        (gAllNull || (gStats && col("g_nulls") === 0L &&
          gval.isNotNull)) &&
        (vAllNull || vExact)
    def vPort(c: Column): Column =
      if (vdt.contains("date"))
        date_from_unix_date(c.cast("int")).cast("string")
      else c.cast("string")
    val classified = joined
      .withColumn("__interior", interiorFlag)
      .withColumn("__g", when(gAllNull, lit(null).cast("string"))
        .otherwise(gval))
      .withColumn("__vmin", when(vAllNull, lit(null).cast("string"))
        .otherwise(vPort(col("v_lmin"))))
      .withColumn("__vmax", when(vAllNull, lit(null).cast("string"))
        .otherwise(vPort(col("v_lmax"))))
    val gdtName = gdt.getOrElse("string")
    val vdtName = vdt.getOrElse("string")
    // cast BEFORE aggregating: extrema compare in the recorded type's
    // order, never lexicographically on the portable strings
    val interiorAgg = classified.filter(col("__interior"))
      .select(col("__g").cast(gdtName).as(groupCol),
        col("__vmin").cast(vdtName).as("vmin"),
        col("__vmax").cast(vdtName).as("vmax"))
      .groupBy(col(groupCol))
      .agg(min(col("vmin")).as("vmin"), max(col("vmax")).as("vmax"))
    // gdt/vdt=None forces every file boundary — drop the arm
    // statically (a typed-but-empty interior frame unions cleanly;
    // only the census-less "string" fallback could coerce types)
    val interiorDf =
      if (gdt.isEmpty || vdt.isEmpty) None else Some(interiorAgg)
    val boundary = classified.filter(!col("__interior"))
      .select(col("file")).distinct().as[String].collect().toSeq.sorted
    val boundaryDf =
      if (boundary.isEmpty) None
      else {
        val scan0 = DeletionVectors.applyVectors(
          spark.read.option("mergeSchema", "true")
            .parquet(boundary: _*), dvOpt)
        val scan1 =
          if (scan0.columns.contains(groupCol)) scan0
          else scan0.withColumn(groupCol, lit(null).cast(gdtName))
        val scan =
          if (scan1.columns.contains(valueCol)) scan1
          else scan1.withColumn(valueCol, lit(null).cast(vdtName))
        Some(scan.groupBy(col(groupCol))
          .agg(min(col(valueCol)).as("vmin"),
            max(col(valueCol)).as("vmax")))
      }
    val parts = interiorDf.toSeq ++ boundaryDf.toSeq
    require(parts.nonEmpty,
      s"minMaxByGroup: index at $indexDir describes no files")
    parts.reduce(_ unionByName _)
      .groupBy(col(groupCol))
      .agg(min(col("vmin")).as("vmin"), max(col("vmax")).as("vmax"))
  }

  /** Scan only the files that can satisfy `ranges`, then re-apply the
    * exact predicate — the index prunes, the filter decides. Row-group
    * pruning inside the surviving files still happens via the pushed
    * filter, so the two layers compose. */
  def readPrunedTyped(spark: SparkSession, dataDir: String,
      indexDir: String, ranges: Seq[ColRange]): DataFrame = {
    require(ranges.nonEmpty, "readPruned needs at least one range")
    val files = prunedTyped(spark, indexDir, ranges)
    val pred = ranges.map(_.predicate).reduce(_ && _)
    if (files.isEmpty)
      spark.read.parquet(dataDir).filter(pred).limit(0)
    else spark.read.parquet(files: _*).filter(pred)
  }

  /** Long-box compatibility shim over [[readPrunedTyped]]. */
  def readPruned(spark: SparkSession, dataDir: String, indexDir: String,
      ranges: Seq[(String, Long, Long)]): DataFrame =
    readPrunedTyped(spark, dataDir, indexDir,
      ranges.map { case (n, lo, hi) => LongRange(n, lo, hi) })

  /** INDEX TRAVEL for shallow clones (r10): publish the source's
    * CURRENT index generation as the clone's own index — one
    * metadata-scale parquet copy, no data pass. Sound because a fresh
    * clone's committed view IS the source's captured view: the index
    * rows describe exactly those files, and every pruned-read path
    * resolves file NAMES through the clone-source chain
    * ([[graft.sources.CommitLog.resolveDataPaths]]), so rows pointing
    * at source-resident bytes serve the clone unchanged. Validated
    * up front: the index's file-name set must EQUAL the clone's
    * committed names, else fail fast (a stale source index adopted
    * blindly would silently drop files from pruned reads). The clone's
    * copy then evolves independently — a later SOURCE refresh cannot
    * un-current the branch's index, and after BRANCH DML the usual
    * currency guard refuses it until a refresh, exactly as on any
    * lake. Returns the number of indexed files adopted. */
  def adoptClone(spark: SparkSession, cloneDir: String,
      sourceIndexDir: String, cloneIndexDir: String): Int = {
    val fs = new Path(cloneDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(CommitLog.cloneSourceOf(fs, cloneDir).nonEmpty,
      s"adoptClone: $cloneDir is not a shallow clone — build or " +
        "refresh its index directly")
    val committed = CommitLog.committedNames(fs, cloneDir)
    val snap = snapshot(spark, sourceIndexDir)
    val idxNames = snap.files.map(p => new Path(p).getName).toSet
    require(idxNames == committed,
      s"adoptClone: the source index describes a different file set " +
        s"than the clone's committed view (${(idxNames -- committed).size}" +
        s" extra, ${(committed -- idxNames).size} missing) — refresh " +
        "the source index before cloning, or build after materialize")
    publishGeneration(spark, cloneIndexDir, snap.read(spark), None)
    idxNames.size
  }

  /** Widen older index generations to the current column set (a NULL
    * bloom never excludes; a NULL bspace reads as the probe's legacy
    * space; NULL nulls = "null count unknown"; NULL string bounds =
    * unbounded, and a pre-string generation holds no `string` rows).
    * Every reader of an old generation goes through here, so its rows
    * always union with freshly written ones. */
  private def widened(raw: DataFrame): DataFrame =
    Seq(("smin", "string"), ("smax", "string"), ("bloom", "binary"),
      ("bspace", "string"), ("nulls", "bigint"), ("dtype", "string"))
      .foldLeft(raw) { case (df, (c, tp)) =>
      if (df.columns.contains(c)) df
      else df.withColumn(c, lit(null).cast(tp))
    }

  /** Every file the index knows, by full path — the metadata-scale
    * list DML uses to decide whether the index is CURRENT (its file
    * set matches the committed view) before trusting it for
    * touched-file discovery. */
  def indexedFiles(spark: SparkSession, indexDir: String): Seq[String] =
    snapshot(spark, indexDir).files

  /** [[refresh]] with the column sets DERIVED from the index itself
    * (stat columns = non-bloom rows, bloom columns = bloom rows) — for
    * callers like DML that must keep an existing index consistent
    * without knowing how it was built. Caveat: the original build's
    * bloom sizing is not recorded in the index, so churn files' new
    * bloom rows use `bloomItems`/`bloomFpp` (defaults match
    * [[refresh]]'s). */
  def refreshSameColumns(spark: SparkSession, dataDir: String,
      indexDir: String, bloomItems: Long = 1000000L,
      bloomFpp: Double = 0.03): (Int, Int) = {
    val snap = snapshot(spark, indexDir)
    require(snap.typed, s"refreshSameColumns: $indexDir is a v1 " +
      "(untyped) index and records no column set — rebuild it with build")
    val (blooms, stats) = snap.rows.partition(_.kind == "bloom")
    refresh(spark, dataDir, stats.map(_.col).distinct.sorted, indexDir,
      blooms.map(_.col).distinct.sorted, bloomItems, bloomFpp)
  }

  /** DISJUNCTIVE key-set pruning — the file-skipping half of dynamic
    * file pruning (the Delta/Photon "DFP" optimization): given the
    * distinct join keys of a selective dimension side, keep only the
    * fact files that can contain AT LEAST ONE of them. A file is
    * excluded iff EVERY key is provably absent — per key via the same
    * arms as [[LongEquals]]: min/max (long/date kinds; widened double
    * stats compared directly — the build already widened one ulp
    * outward, so `dmax < k` proves no value equals `k` in Spark's
    * long-vs-double comparison space) plus the Bloom sidecar in the
    * long spelling (and the double spelling for double-built blooms,
    * `k != 0` guarded as in [[LongEquals]] — ±0.0 spelling ambiguity).
    *
    * Evaluated as ONE metadata-scale plan — stats rows × broadcast
    * keys for the min/max arms, grouped twice (max over rows per
    * (file, key) = "this key provably absent", then min over keys per
    * file = "all keys absent") — not a k-wide literal expression, so
    * a 10⁵-key dim side still plans in one shot. The bloom arm is
    * BATCH-probed ([[graft.functions.BloomMissAll]]): each row's
    * filter deserializes ONCE and tests every key's hash — never
    * per-(row, key), which would re-read each filter k times (r8:
    * measured in minutes for 1000 keys × 160 MB-sized filters before
    * the batch form). Files with no index row for the column (or only
    * rows no arm can read) are kept — the same conservative contract
    * as every other prune path.
    *
    * When the snapshot shows no bloom row for the column, only the
    * min/max arms can exclude, and they are decided on the driver from
    * the [[snapshot]] with no Spark job ([[keptByRuns]]).
    *
    * An EMPTY key set returns no files: the inner join it serves is
    * empty by definition. */
  def prunedForKeys(spark: SparkSession, indexDir: String,
      column: String, keys: Seq[Long]): Seq[String] = {
    import spark.implicits._
    if (keys.isEmpty) return Seq.empty
    val snap = snapshot(spark, indexDir)
    val ks = keys.distinct
    if (!snap.bloomCols(column)) {
      val sorted = ks.sorted.toArray
      return keptByRuns(snap, column, sorted.length) { (r, first) =>
        r.kind match {
          case "long" | "date" => (
            r.lmin.fold(0)(lo => first(sorted(_) >= lo)),
            r.lmax.fold(sorted.length)(hi => first(sorted(_) > hi)))
          case "double" => (
            r.dmin.fold(0)(lo => first(sorted(_).toDouble >= lo)),
            r.dmax.fold(sorted.length)(hi => first(sorted(_).toDouble > hi)))
          case _ => (0, sorted.length)
        }
      }
    }
    val rows = widened(snap.read(spark)).filter(col("col") === column)
    // the key frame carries a positional index so the bloom arm's
    // per-row mask (probed in key order) joins back to its key
    val kdf = broadcast(ks.zipWithIndex.map { case (k, i) => (i, k) }
      .toDF("kidx", "k"))
    // STATS arms: (non-bloom rows) × keys — cheap scalar comparisons,
    // the cross join is metadata-rows × broadcast keys
    val kd = col("k").cast("double")
    val statExcl = coalesce(
      (col("kind").isin("long", "date") &&
        (col("lmax") < col("k") || col("lmin") > col("k"))) ||
        (col("kind") === "double" &&
          (col("dmax") < kd || col("dmin") > kd)),
      lit(false))
    val stats = rows.filter(col("kind") =!= "bloom").crossJoin(kdf)
      .select(col("file"), col("kidx"), statExcl.as("re"))
    // BLOOM arm: NEVER per-(row, key) — [[graft.functions
    // .BloomMissAll]] deserializes each row's filter ONCE and probes
    // every key's hash (r8: the per-pair form re-read the same
    // filters keys-times over — gigabytes for a 1000-key set). The
    // hash spellings are evaluated DRIVER-side with the same
    // `XxHash64` Catalyst expression the build used, one literal
    // array per hash space, and the mask is picked by the row's
    // recorded `bspace`; posexplode(NULL mask) emits nothing, so
    // unknown spaces and pre-bloom rows exclude nothing
    val hLong = ks.map(k => driverHash(k, LongType))
    val hDouble = ks.map(k => driverHash(k.toDouble, DoubleType))
    val mask = when(coalesce(col("bspace"), lit("long")) === "long",
        missAll(lit(hLong.toArray)))
      .when(col("bspace") === "double", missAll(lit(hDouble.toArray)))
    val bloomArm = rows.filter(col("kind") === "bloom")
      .select(col("file"), col("bspace"),
        posexplode(mask).as(Seq("kidx", "miss")))
      .join(kdf, Seq("kidx"))
      // ±0.0 guard (see [[LongEquals]]): the double spelling of k = 0
      // cannot cover -0.0 data, so a double-built bloom never
      // excludes the zero key
      .select(col("file"), col("kidx"),
        (col("miss") && (coalesce(col("bspace"), lit("long")) === "long" ||
          col("k") =!= 0L)).as("re"))
    allAbsent(snap, stats.unionByName(bloomArm))
  }

  /** The files of `snap` not excluded by `perKey` — (file, kidx, re)
    * rows, `re` = "this row proves key kidx absent from the file": a
    * file goes when EVERY key is proven absent by some row. One Spark
    * job, the set difference on the driver. */
  private def allAbsent(snap: Snapshot, perKey: DataFrame): Seq[String] = {
    val out = perKey.groupBy(col("file"), col("kidx"))
      .agg(max(col("re")).as("keyAbsent"))
      .groupBy(col("file")).agg(min(col("keyAbsent")).as("allAbsent"))
      .filter(col("allAbsent")).select(col("file"))
      .collect().iterator.map(_.getString(0)).toSet
    snap.files.filterNot(out)
  }

  /** Key-set pruning by the min/max arms alone, on the driver: each
    * stats row of `column` admits one contiguous run [a, b) of the n
    * sorted keys (`run` gets the row and a binary search for the first
    * index where a monotone predicate holds), a file admits the
    * intersection of its rows' runs and is kept when that is nonempty.
    * A file with no row for the column admits every key. Equivalent
    * to the per-(row, key) comparisons of the planned form: a row
    * excludes exactly the keys outside its bounds. */
  private def keptByRuns(snap: Snapshot, column: String, n: Int)(
      run: (StatRow, (Int => Boolean) => Int) => (Int, Int)): Seq[String] = {
    def first(p: Int => Boolean): Int = {
      var (lo, hi) = (0, n)
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (p(mid)) hi = mid else lo = mid + 1
      }
      lo
    }
    val runs = scala.collection.mutable.HashMap.empty[String, (Int, Int)]
    snap.rows.iterator.filter(r => r.col == column && r.kind != "bloom")
      .foreach { r =>
        val (a, b) = run(r, first)
        val (a0, b0) = runs.getOrElse(r.file, (0, n))
        runs(r.file) = (math.max(a0, a), math.min(b0, b))
      }
    snap.files.filter(f => runs.get(f).forall { case (a, b) => a < b })
  }

  /** xxhash64 of one value, evaluated driver-side through the SAME
    * Catalyst expression the index build executes — bit-identical
    * spellings by construction. */
  private def driverHash(v: Any, dt: DataType): Long =
    org.apache.spark.sql.catalyst.expressions.XxHash64(Seq(
      org.apache.spark.sql.catalyst.expressions.Literal.create(v, dt)),
      42L) // xxhash64's fixed default seed — same as the build side
      .eval(null).asInstanceOf[Long]

  /** `bloom_miss_all(bloom, hashes)` as a Column. */
  private def missAll(hashes: Column): Column =
    GraftColumnBridge.toColumn(graft.functions.BloomMissAll(
      GraftColumnBridge.toExpression(col("bloom")),
      GraftColumnBridge.toExpression(hashes)))

  /** Scan only the files that can contain at least one of `keys` —
    * NO re-filter: the caller's join (or `isin`) decides; pruning is
    * conservative, a surviving non-matching row simply doesn't join. */
  def readPrunedForKeys(spark: SparkSession, dataDir: String,
      indexDir: String, column: String, keys: Seq[Long]): DataFrame = {
    val files = prunedForKeys(spark, indexDir, column, keys)
    if (files.isEmpty) spark.read.parquet(dataDir).limit(0)
    else spark.read.parquet(files: _*)
  }

  /** STRING-key-set pruning — the doc-id case for an LLM corpus lake,
    * where the natural key is a string and min/max on a clustered lake
    * never excludes it. Per key the arms mirror [[StringEquals]]
    * exactly: truncated string min/max, the string-space bloom
    * spelling, plus long/double spellings ONLY for numeric-parsable
    * keys (non-ANSI sessions compare string-vs-numeric in DOUBLE
    * space, so the long spelling is emitted only below 2^53 — exact in
    * both spaces — and the double spelling never for ±0.0/NaN; a
    * pre-`bspace` bloom row under a string probe was string-built, so
    * legacy rows read as string space). Same single metadata-scale
    * two-level aggregation and the same conservative contract as
    * [[prunedForKeys]]: a file is excluded only when EVERY key is
    * provably absent; an empty key set returns no files. */
  def prunedForKeysString(spark: SparkSession, indexDir: String,
      column: String, keys: Seq[String]): Seq[String] = {
    import spark.implicits._
    if (keys.isEmpty) return Seq.empty
    val snap = snapshot(spark, indexDir)
    val ks = keys.distinct
    if (!snap.bloomCols(column)) {
      // a NULL key compares NULL against every bound: no row excludes it
      if (ks.contains(null)) return snap.files
      // Spark's string order is UTF8String's (UTF-8 byte order)
      val sorted = ks.map(UTF8String.fromString).sortWith(_.compareTo(_) < 0)
        .toArray
      return keptByRuns(snap, column, sorted.length) { (r, first) =>
        if (r.kind != "string") (0, sorted.length)
        else (
          r.smin.map(UTF8String.fromString)
            .fold(0)(lo => first(sorted(_).compareTo(lo) >= 0)),
          r.smax.map(UTF8String.fromString)
            .fold(sorted.length)(hi => first(sorted(_).compareTo(hi) > 0)))
      }
    }
    val rows = widened(snap.read(spark)).filter(col("col") === column)
    val kdf = broadcast(ks.zipWithIndex.map { case (k, i) => (i, k) }
      .toDF("kidx", "k"))
    // STATS arm: truncated string bounds × keys — scalar comparisons
    val statExcl = coalesce(
      col("kind") === "string" &&
        (col("smax") < col("k") || col("smin") > col("k")),
      lit(false))
    val stats = rows.filter(col("kind") =!= "bloom").crossJoin(kdf)
      .select(col("file"), col("kidx"), statExcl.as("re"))
    // BLOOM arm, batch-probed (one deserialization per row — see
    // [[prunedForKeys]]). Numeric spellings per key are resolved
    // driver-side; a key that has NO spelling in a space (non-parsable
    // long, or the ±0.0/NaN double guard) gets the SENTINEL hash of a
    // value no real spelling hashes to… no sentinel exists, so
    // instead the mask element is neutralized after the explode via
    // the per-key validity flags carried on the key frame.
    val hString = ks.map(k => driverHash(UTF8String.fromString(k), StringType))
    val longOk = ks.map(_.toLongOption
      .exists(l => l > -9007199254740992L && l < 9007199254740992L))
    val hLong = ks.zip(longOk).map { case (k, ok) =>
      if (ok) driverHash(k.toLong, LongType) else 0L }
    val dblOk = ks.map(_.toDoubleOption
      .exists(d => d != 0.0 && !d.isNaN))
    val hDouble = ks.zip(dblOk).map { case (k, ok) =>
      if (ok) driverHash(k.toDouble, DoubleType) else 0L }
    val okdf = broadcast(ks.indices.map(i =>
      (i, longOk(i), dblOk(i))).toDF("kidx", "lok", "dok"))
    val mask = when(coalesce(col("bspace"), lit("string")) === "string",
        missAll(lit(hString.toArray)))
      .when(col("bspace") === "long", missAll(lit(hLong.toArray)))
      .when(col("bspace") === "double", missAll(lit(hDouble.toArray)))
    val bloomArm = rows.filter(col("kind") === "bloom")
      .select(col("file"), col("bspace"),
        posexplode(mask).as(Seq("kidx", "miss")))
      .join(okdf, Seq("kidx"))
      .select(col("file"), col("kidx"),
        (col("miss") && (
          coalesce(col("bspace"), lit("string")) === "string" ||
          (col("bspace") === "long" && col("lok")) ||
          (col("bspace") === "double" && col("dok")))).as("re"))
    allAbsent(snap, stats.unionByName(bloomArm))
  }

  /** String-key variant of [[readPrunedForKeys]]. */
  def readPrunedForKeysString(spark: SparkSession, dataDir: String,
      indexDir: String, column: String, keys: Seq[String]): DataFrame = {
    val files = prunedForKeysString(spark, indexDir, column, keys)
    if (files.isEmpty) spark.read.parquet(dataDir).limit(0)
    else spark.read.parquet(files: _*)
  }

  /** Dynamic-file-pruning JOIN: collect the dimension side's distinct
    * join keys (bounded — the file-skipping analog of the broadcast
    * threshold), prune the fact lake's files through
    * [[prunedForKeys]], then run the ordinary equi-join over only the
    * surviving files. Above `maxKeys` distinct keys the dim side is
    * not selective enough for file skipping to pay — the join runs
    * unpruned over the full lake (correct, just not accelerated).
    * On a 100 TB lake clustered or bloom-indexed on the join key this
    * turns "scan the table to join a filtered dim" into "scan the
    * files the dim's keys can live in" — the planner-level counterpart
    * of a broadcast hash join's runtime filter, decided from O(files)
    * metadata before a single fact byte is read.
    *
    * Key TYPES gate the prune path (ADVICE r7 — an unguarded
    * cast-to-long would truncate fractional keys, making the min/max
    * arm exclude files holding true matches, and turn string keys into
    * an all-NULL → empty key set → empty join): both sides integral →
    * long-space pruning; both sides string → [[prunedForKeysString]];
    * any other combination falls back to the plain unpruned join —
    * correct, just not accelerated. */
  def dfpJoin(spark: SparkSession, dataDir: String, indexDir: String,
      factKey: String, dim: DataFrame, dimKey: String,
      maxKeys: Int = 100000): DataFrame = {
    import spark.implicits._
    val fact0 = spark.read.parquet(dataDir)
    def plain = fact0.join(dim, fact0(factKey) === dim(dimKey))
    val integral: Set[DataType] =
      Set(ByteType, ShortType, IntegerType, LongType)
    val dimType = dim.schema.fields.find(_.name == dimKey).map(_.dataType)
    val factType =
      fact0.schema.fields.find(_.name == factKey).map(_.dataType)
    (dimType, factType) match {
      case (Some(dt), Some(ft)) if integral(dt) && integral(ft) =>
        val keys = dim.select(col(dimKey).cast("long")).na.drop()
          .distinct().limit(maxKeys + 1).as[Long].collect()
        if (keys.length > maxKeys) plain
        else {
          val fact = readPrunedForKeys(spark, dataDir, indexDir,
            factKey, keys.toSeq)
          fact.join(dim, fact(factKey) === dim(dimKey))
        }
      case (Some(StringType), Some(StringType)) =>
        val keys = dim.select(col(dimKey)).na.drop()
          .distinct().limit(maxKeys + 1).as[String].collect()
        if (keys.length > maxKeys) plain
        else {
          val fact = readPrunedForKeysString(spark, dataDir, indexDir,
            factKey, keys.toSeq)
          fact.join(dim, fact(factKey) === dim(dimKey))
        }
      case _ => plain
    }
  }

  /** Metadata-first MIN/MAX, Iceberg-style: one row of
    * `min_<col>`/`max_<col>` per requested column, computed from the
    * index's per-file bounds with ZERO data I/O wherever the bounds
    * are provably exact, and an exact boundary scan of only the "gap"
    * files everywhere else.
    *
    * Exactness is decided against the column's RECORDED Spark type
    * (the index's `dtype` column, captured from the parquet footer at
    * build time), not the index kind alone — the same `long` kind
    * covers both int columns (footer bounds are exact values) and
    * INSTANT timestamp columns (micros-NORMALIZED bounds,
    * outward-widened for nanos files: correct for pruning, NOT
    * provable values — ADVICE r7); a pre-`dtype` index generation has
    * no provable arm and simply scans (correct, just not accelerated
    * until the next rebuild). Exact metadata arms, literals cast to
    * the recorded type so an int column comes back int, never a
    * widened bigint:
    *  - `long` kind on an integral column — footer int bounds are
    *    exact values;
    *  - `double` kind on a fractional column — the build widened each
    *    bound exactly one ulp outward ([[boundsOf]]), and
    *    `nextUp`/`nextDown` are inverses on finite doubles, so
    *    `nextUp(dmin)` / `nextDown(dmax)` recover the file's true
    *    min/max BIT-EXACTLY. Two unrecoverable points: ±0.0 (parquet
    *    writers disagree on signed-zero bounds) and ±Infinity
    *    (`nextDown(-Inf)` stores -Inf but recovery lands on
    *    -Double.MaxValue — a finite stand-in for an infinite
    *    extremum); a file whose stored OR recovered bound hits either
    *    becomes a gap file and is scanned;
    *  - `date` kind on a date column — the stats are raw epoch days
    *    and DateType IS epoch days, so the bounds are exact values
    *    (no calendar/zone re-encode exists for dates).
    * Everything else is a gap file for that column: timestamp columns
    * (above), `tsntz` (wall-micros normalization can widen), truncated
    * `string` bounds (an inflated max is not a value), `full` rows,
    * NaN-polluted doubles, files missing an index row, mixed kinds
    * across files, and kind/schema mismatches.
    * Provably ALL-NULL files (`nulls == row_count`) contribute
    * nothing and are NOT gaps — MIN/MAX ignore nulls.
    *
    * The gap scan computes min/max of EVERY requested column over the
    * UNION of gap files and merges with the metadata bounds via
    * `least`/`greatest` — sound because MIN/MAX are idempotent under
    * overlap, so double-covering a file can never skew the result.
    * The scan reads the gap files with `mergeSchema` and backfills a
    * requested column none of them carries as a typed NULL (from the
    * recorded `dtype`): a gap file predating an additively-evolved
    * column contributes NULL instead of failing the promised
    * conservative fallback with an AnalysisException (ADVICE r7).
    * On a clustered 100 TB lake the common case is an empty gap set:
    * the answer comes from the index alone, the same plan shape as
    * [[countPruned]].
    *
    * DV-AWARE (exact, like [[countPruned]]): a file carrying covered
    * deletion vectors becomes a gap file for every column — a dead
    * row may hold the recorded bound — and the gap scan reads only
    * its LIVE rows (the readMor vector step), so a MoR-deleted lake can
    * never serve a phantom extremum; the extra I/O is bounded by the
    * DV'd file set, zero when no vectors exist. `StatsIndexSpec`
    * asserts bit-equality with the full-scan aggregate, including the
    * all-null, zero-crossing and deleted-extremum arms;
    * q63_meta_minmax / q73_dv_meta_minmax hash-check it against
    * DuckDB. */
  def minMaxPruned(spark: SparkSession, dataDir: String,
      indexDir: String, columns: Seq[String]): DataFrame = {
    require(columns.nonEmpty, "minMaxPruned needs at least one column")
    // DV-awareness (the r8 fail-fast, upgraded to exact): a covered
    // deletion vector can mark the extremum row dead and footer bounds
    // cannot know which value died — so a file carrying ANY covered
    // vector loses its metadata arm and becomes a gap file for EVERY
    // requested column, and the gap scan below reads only its LIVE
    // rows (the same readMor vector step). Clean files keep their
    // zero-I/O arms, so the extra cost is bounded by the DV'd file
    // set — exactly the set a dead extremum can hide in. A lake with
    // no covered vectors pays nothing.
    val dvOpt = DeletionVectors.vectors(spark, dataDir)
    val dvdNames: Set[String] = dvOpt.fold(Set.empty[String])(_.files.toSet)
    val idx = widened(readIndex(spark, indexDir))
    // metadata-scale collect: one row per (file, requested col) — the
    // same order as the file lists every prune path materializes
    val rows = idx
      .filter(col("col").isin(columns: _*) && col("kind") =!= "bloom")
      .select(col("file"), col("col"), col("kind"), col("lmin"),
        col("lmax"), col("dmin"), col("dmax"), col("nulls"),
        col("row_count"), col("dtype"))
      .collect()
    val byCol = rows.groupBy(_.getString(1))
    val allFiles = idx.select(col("file")).distinct()
      .collect().map(_.getString(0)).toSet
    final case class Meta(minLit: Option[Column], maxLit: Option[Column],
      gaps: Set[String], dtype: Option[String])
    val metas: Map[String, Meta] = columns.map { c =>
      val rs = byCol.getOrElse(c, Array.empty)
      val covered = rs.map(_.getString(0)).toSet
      var gaps = allFiles -- covered
      val kinds = rs.map(_.getString(2)).filter(_ != "full").distinct
      val dtypes = rs.iterator.filterNot(_.isNullAt(9))
        .map(_.getString(9)).toSeq.distinct
      // ONE recorded Spark type decides which kind is provable VALUES
      // for this column: integral types under "long" (footer int
      // bounds are exact), fractional ones under "double" (one-ulp
      // widening inverts bit-exactly). An instant TIMESTAMP column
      // also indexes as "long" — micros-normalized, possibly
      // nanos-widened — so without an integral dtype the bounds prove
      // pruning, never values (ADVICE r7); pre-dtype index rows have
      // no recorded type and gap conservatively
      val dt: Option[String] = dtypes match {
        case Seq(one) => Some(one)
        case _ => None // unrecorded (legacy) or drifting types
      }
      val longExact = dt.exists(
        Set("tinyint", "smallint", "int", "bigint"))
      val doubleExact = dt.exists(Set("float", "double"))
      var lo: Option[Column] = None
      var hi: Option[Column] = None
      if (kinds.length > 1 || dtypes.length > 1) {
        // schema drift across files — no single exact arm; scan all
        gaps = allFiles
      } else rs.foreach { r =>
        val file = r.getString(0)
        val allNull = !r.isNullAt(7) && !r.isNullAt(8) &&
          r.getLong(7) == r.getLong(8)
        def gap(): Unit = gaps += file
        r.getString(2) match {
          case _ if allNull => // proven no values: contributes nothing
            // (sound under vectors too: deleting rows cannot CREATE
            // values in a file the footer proves all-null)
          case _ if dvdNames(
              new org.apache.hadoop.fs.Path(file).getName) =>
            gap() // a dead row may hold the bound — scan live rows
          case "long" if longExact && !r.isNullAt(3) && !r.isNullAt(4) =>
            // cast to the column's own type: footer int bounds are
            // values OF that type, and a BIGINT literal would widen
            // the result schema past the plain aggregate's
            val (l, h) = (lit(r.getLong(3)).cast(dt.get),
              lit(r.getLong(4)).cast(dt.get))
            lo = Some(lo.fold(l)(c0 => least(c0, l)))
            hi = Some(hi.fold(h)(c0 => greatest(c0, h)))
          case "date" if dt.contains("date") &&
              !r.isNullAt(3) && !r.isNullAt(4) =>
            // DATE stats are raw epoch days and DateType IS epoch
            // days — no calendar/zone re-encode exists, so the bounds
            // are exact values (unlike timestamps, whose micros
            // normalization can widen)
            val (l, h) = (
              lit(java.time.LocalDate.ofEpochDay(r.getLong(3))),
              lit(java.time.LocalDate.ofEpochDay(r.getLong(4))))
            lo = Some(lo.fold(l)(c0 => least(c0, l)))
            hi = Some(hi.fold(h)(c0 => greatest(c0, h)))
          case "double" if doubleExact && !r.isNullAt(5) && !r.isNullAt(6) =>
            val (sl, sh) = (r.getDouble(5), r.getDouble(6))
            val l = Math.nextUp(sl)
            val h = Math.nextDown(sh)
            // ±0.0: signed-zero bounds are writer-ambiguous.
            // ±Infinity: nextUp/nextDown are NOT inverses at the
            // infinities (nextUp(nextDown(-Inf)) = -Double.MaxValue),
            // so a stored-or-recovered infinite bound is a finite
            // stand-in for a possibly-infinite extremum — gap both
            if (l == 0.0d || h == 0.0d || sl.isInfinite ||
                sh.isInfinite || l.isInfinite || h.isInfinite) gap()
            else {
              // float columns recover exactly too: the widening ran
              // in double space on the float's exact double image
              val (ll, hh) = (lit(l).cast(dt.get), lit(h).cast(dt.get))
              lo = Some(lo.fold(ll)(c0 => least(c0, ll)))
              hi = Some(hi.fold(hh)(c0 => greatest(c0, hh)))
            }
          case _ => gap() // ts/tsntz/string/full/NULL/mismatch
        }
      }
      if (lo.isEmpty && gaps.isEmpty) {
        // column has values nowhere (all files proven all-null): a
        // typed NULL result, not a NullType column parquet can't write
        val tp = dt.getOrElse(
          if (kinds.headOption.contains("double")) "double" else "bigint")
        lo = Some(lit(null).cast(tp))
        hi = Some(lit(null).cast(tp))
      }
      c -> Meta(lo, hi, gaps, dt)
    }.toMap
    val gapFiles = metas.valuesIterator.flatMap(_.gaps).toSeq.distinct
    val base =
      if (gapFiles.isEmpty) spark.range(1).toDF()
        .select(columns.flatMap(c => Seq(
          lit(null).as(s"__smin_$c"), lit(null).as(s"__smax_$c"))): _*)
      else {
        val aggs = columns.flatMap(c => Seq(
          min(col(c)).as(s"__smin_$c"), max(col(c)).as(s"__smax_$c")))
        // mergeSchema: under additive evolution no single gap file is
        // guaranteed to carry every requested column; a column NO gap
        // file carries (old files predating it — exactly why they
        // gapped) is backfilled as a typed NULL from the recorded
        // dtype instead of failing the conservative fallback
        // live rows only: the readMor vector step drops DV-dead rows
        // from DV'd gap files (a no-op frame-identity when dvOpt is
        // None; pairs naming non-gap files simply never match)
        val scan0 = DeletionVectors.applyVectors(
          spark.read.option("mergeSchema", "true")
            .parquet(gapFiles.sorted: _*), dvOpt)
        val present = scan0.columns.toSet
        val scan = columns.foldLeft(scan0) { (df, c) =>
          if (present(c)) df
          else df.withColumn(c,
            lit(null).cast(metas(c).dtype.getOrElse("string")))
        }
        scan.agg(aggs.head, aggs.tail: _*)
      }
    base.select(columns.flatMap { c =>
      val m = metas(c)
      val scanLo = col(s"__smin_$c")
      val scanHi = col(s"__smax_$c")
      Seq(
        m.minLit.fold(scanLo)(ml => least(ml, scanLo)).as(s"min_$c"),
        m.maxLit.fold(scanHi)(mh => greatest(mh, scanHi)).as(s"max_$c"))
    }: _*)
  }
}
