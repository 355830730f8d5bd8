package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.schema.StockSchema

/** Bar ingestion (SURVEY.md §2.1).
  *
  * Reference behavior reproduced:
  *  - S1 header CSV scan with comma separator (`G_2_rf_nordd.py:24`,
  *    `G_2_rf_rdd.py:51`). The reference relies on `inferSchema=True`; we read
  *    with the explicit 60-column [[StockSchema.schema]] by default (single
  *    pass, stable types) and keep inference as an opt-in ingest mode.
  *  - S2 smoke path: optional row limit (`G_2_rf_rdd.py:52`, commented
  *    `limit(1000)` debug read).
  *  - legacy time-parser policy, set by every reference script
  *    (`G_2_rf_nordd.py:21`).
  */
object CsvBarSource {

  def load(
      spark: SparkSession,
      path: String,
      schema: StructType = StockSchema.schema,
      inferSchema: Boolean = false,
      limit: Option[Int] = None): DataFrame = {
    spark.conf.set("spark.sql.legacy.timeParserPolicy", "LEGACY")
    val reader = spark.read.option("header", "true").option("sep", ",")
    val df =
      if (inferSchema) reader.option("inferSchema", "true").csv(path)
      else reader.schema(schema).csv(path)
    limit.fold(df)(df.limit)
  }
}

/** Parquet round-trip replacing the reference's RDD pickle file
  * (S3/S4: `G_2_data_exploration.ipynb` cells 45, 47-48 —
  * `rdd.saveAsPickleFile` / `sparkContext.pickleFile` / `toDF`).
  * Parquet keeps the data columnar, splittable and predicate-pushdown-able,
  * which an opaque pickle/object file is not — at 100 TB this is the
  * difference between pruned column scans and full deserialization.
  */
object ParquetRoundTrip {
  def write(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").parquet(path)

  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)
}

/** JSON-lines round-trip — the interchange format training-data
  * pipelines ingest raw corpora from (beyond the reference's surface).
  * Reading with an EXPLICIT schema skips the whole-file inference
  * pre-scan — at 100 TB, inference doubles the read. */
object JsonlRoundTrip {
  def write(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").json(path)

  def read(spark: SparkSession, path: String,
      schema: Option[StructType] = None): DataFrame =
    schema.fold(spark.read.json(path))(sc => spark.read.schema(sc).json(path))
}

/** ORC round-trip — the other columnar interchange format large
  * warehouses standardise on (Hive/Trino lakes). Same scale properties
  * as parquet: splittable stripes, column projection, predicate
  * pushdown (min/max stripe stats + optional bloom filters via
  * `orc.bloom.filter.columns`), so a 2-column projection reads 2
  * columns, not the row. Everything downstream is format-agnostic —
  * the catalog queries run unchanged over an ORC-backed table. */
object OrcRoundTrip {
  def write(df: DataFrame, path: String,
      bloomCols: Seq[String] = Nil): Unit = {
    val w = df.write.mode("overwrite")
    (if (bloomCols.nonEmpty)
      w.option("orc.bloom.filter.columns", bloomCols.mkString(","))
    else w).orc(path)
  }

  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)
}

/** Hive-style partitioned parquet lake layout (`.../day=2020-01-06/...`)
  * — the standard 100 TB table layout. Queries filtering on the
  * partition column prune whole directories BEFORE any I/O
  * (`PartitionFilters` in the scan node, asserted in `SourcesSpec`),
  * which is the difference between scanning one day and scanning eight
  * years. Partition columns should be low-cardinality (day, symbol) —
  * a high-cardinality partition key explodes the file count. */
object PartitionedLake {
  def write(df: DataFrame, path: String, partitionCols: Seq[String]): Unit =
    df.write.mode("overwrite").partitionBy(partitionCols: _*).parquet(path)

  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** Clustered write: RANGE-repartition by the cluster key (disjoint
    * key span per file — a hash repartition would scatter every key
    * range across every file), then sort within partitions. Each file
    * AND each parquet row group then covers a narrow key range, so
    * min/max footer statistics skip both for key predicates — data
    * skipping WITHOUT the directory explosion a high-cardinality
    * partition column would cause. Partition on the low-cardinality
    * column (day), cluster on the high-cardinality one (symbol, user). */
  def writeClustered(df: DataFrame, path: String,
      clusterCols: Seq[String], numFiles: Int = 0): Unit = {
    val cols = clusterCols.map(org.apache.spark.sql.functions.col)
    val rep =
      if (numFiles > 0) df.repartitionByRange(numFiles, cols: _*)
      else df.repartitionByRange(cols: _*)
    rep.sortWithinPartitions(cols: _*)
      .write.mode("overwrite").parquet(path)
  }
}

/** Small-file COMPACTION for a partitioned lake — the standard
  * maintenance pass: streaming sinks and incremental loads leave
  * thousands of KB-sized files per partition, and at 100 TB the
  * resulting task count and footer-read overhead dominate scan time.
  * `compact` rewrites each hive partition into ⌈bytes / targetBytes⌉
  * files, preserving the partition layout (the rewrite is per-partition
  * overwrite — an atomic-swap pattern; readers of other partitions are
  * untouched).
  */
object Compaction {
  import org.apache.spark.sql.functions._

  /** File count + bytes per hive partition directory (driver-side file
    * listing — metadata only, no data read). */
  def partitionStats(spark: SparkSession, path: String)
      : Seq[(String, Int, Long)] = {
    def walk(dir: java.io.File, rel: String): Seq[(String, Int, Long)] = {
      val entries = Option(dir.listFiles()).getOrElse(Array.empty)
      val subdirs = entries.filter(f => f.isDirectory &&
        f.getName.contains("="))
      if (subdirs.nonEmpty)
        subdirs.toSeq.flatMap(d => walk(d,
          if (rel.isEmpty) d.getName else s"$rel/${d.getName}"))
      else {
        val parquets = entries.filter(f =>
          f.isFile && f.getName.endsWith(".parquet"))
        if (parquets.isEmpty) Nil
        else Seq((rel, parquets.length, parquets.map(_.length()).sum))
      }
    }
    walk(new java.io.File(path), "")
  }

  /** Compact every partition whose file count exceeds
    * `maxFilesPerPartition`: read just that partition, coalesce to
    * ⌈bytes / targetBytes⌉ output files, overwrite it in place.
    * Returns the partitions rewritten. */
  def compact(spark: SparkSession, path: String,
      targetBytes: Long = 128L << 20,
      maxFilesPerPartition: Int = 4): Seq[String] = {
    val toFix = partitionStats(spark, path)
      .filter(_._2 > maxFilesPerPartition)
    toFix.map { case (rel, _, bytes) =>
      val dir = s"$path/$rel"
      val nOut = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
      val part = spark.read.parquet(dir)
      // rewrite through a temp dir, then swap — the overwrite of the
      // live dir would otherwise race its own input scan
      val tmp = s"$dir/_compact_tmp"
      part.coalesce(nOut).write.mode("overwrite").parquet(tmp)
      val dirF = new java.io.File(dir)
      dirF.listFiles().filter(f => f.isFile &&
        (f.getName.endsWith(".parquet") || f.getName.startsWith("_"))
        && !f.getName.startsWith("_compact")).foreach(_.delete())
      val tmpF = new java.io.File(tmp)
      tmpF.listFiles().filter(_.getName.endsWith(".parquet"))
        .foreach(f => f.renameTo(new java.io.File(dirF, f.getName)))
      tmpF.listFiles().foreach(_.delete())
      tmpF.delete()
      rel
    }
  }
}

/** Z-ORDER clustering: multi-dimensional data skipping. A plain
  * clustered write ([[PartitionedLake.writeClustered]]) gives each file
  * a narrow range of ONE key — predicates on a second column still scan
  * every file. Interleaving the bits of several keys into one z-value
  * and range-writing on THAT gives every file a narrow range of EVERY
  * participating column (locality of the Z curve), so min/max footer
  * stats skip files for predicates on any of them — the Delta/Iceberg
  * `OPTIMIZE ZORDER BY` layout, built from plain Spark operators.
  *
  * Columns are scaled to `bits`-bit integers with min/max collected in
  * ONE aggregate (literal cuts, same rationale as `GlobalWindow` —
  * never derive file layout from a re-executed sampler). */
object ZOrder {
  import org.apache.spark.sql.{Column, Row}
  import org.apache.spark.sql.functions._

  /** Interleave the low `bits` bits of non-negative long columns:
    * result bit (j·n + d) = bit j of column d (n = #columns). Total
    * bits·n must fit a long. */
  def interleave(cols: Seq[Column], bits: Int): Column = {
    require(cols.nonEmpty && bits * cols.size <= 63,
      s"bits*cols = ${bits * cols.size} exceeds long range")
    val n = cols.size
    val terms = for {
      (c, d) <- cols.zipWithIndex
      j <- 0 until bits
    } yield shiftleft(
      shiftrightunsigned(c.cast("long"), j).bitwiseAND(lit(1L)),
      j * n + d)
    terms.reduce(_ + _)
  }

  /** DuckDB twin of [[interleave]] — rendered from the same term loop,
    * so the bit layout is identical by construction (the
    * generate-SQL-from-the-constants oracle recipe). Inputs must be
    * non-negative, as in [[interleave]]. */
  def sqlInterleave(exprs: Seq[String], bits: Int): String = {
    require(exprs.nonEmpty && bits * exprs.size <= 63)
    val n = exprs.size
    val terms = for {
      (e, d) <- exprs.zipWithIndex
      j <- 0 until bits
    } yield s"(((($e) >> $j) & 1) << ${j * n + d})"
    terms.mkString("(", " + ", ")")
  }

  /** 2-D HILBERT curve index as a Column — the continuous space-filling
    * curve (consecutive indices are always grid-adjacent, unlike
    * Morton's power-of-two jumps), via the native codegen'd
    * [[graft.functions.HilbertIndex2]] expression. Inputs are masked
    * to `bits` low bits. Prefer it over [[interleave]] when box-scan
    * locality matters more than n-dim generality (Hilbert is 2-D
    * here; Morton generalizes to any dim count). */
  def hilbertValue(x: Column, y: Column, bits: Int): Column =
    org.apache.spark.sql.GraftColumnBridge.toColumn(
      graft.functions.HilbertIndex2(
        org.apache.spark.sql.GraftColumnBridge.toExpression(x.cast("long")),
        org.apache.spark.sql.GraftColumnBridge.toExpression(y.cast("long")),
        bits))

  /** DuckDB twin of [[hilbertValue]]: the SAME iterative bit descent,
    * unrolled as a generated CTE chain (level i's (x, y, d) are plain
    * columns `hx_i/hy_i/hd_i` of CTE `h_i` — no alias shadowing, no
    * expression blowup; CTEs are cheap named relations). Returns the
    * full `WITH` body and the final relation name; the final relation
    * exposes `hd` plus the carried columns. */
  def sqlHilbertCte(xExpr: String, yExpr: String, bits: Int,
      table: String, carry: Seq[String]): (String, String) = {
    require(bits >= 1 && bits <= 31)
    val mask = (1L << bits) - 1
    val keep = if (carry.isEmpty) "" else carry.mkString(", ", ", ", "")
    val h0 = s"h_0 AS (SELECT (($xExpr) & $mask) AS hx_0, " +
      s"(($yExpr) & $mask) AS hy_0, CAST(0 AS BIGINT) AS hd_0$keep " +
      s"FROM $table)"
    val levels = (0 until bits).map { i =>
      val s = 1L << (bits - 1 - i)
      val (px, py, pd) = (s"hx_$i", s"hy_$i", s"hd_$i")
      val rx = s"(CASE WHEN ($px & $s) != 0 THEN 1 ELSE 0 END)"
      val ry = s"(CASE WHEN ($py & $s) != 0 THEN 1 ELSE 0 END)"
      s"""h_${i + 1} AS (SELECT
         |  CASE WHEN $ry = 1 THEN $px
         |       WHEN $rx = 1 THEN ${s - 1} - $py ELSE $py END AS hx_${i + 1},
         |  CASE WHEN $ry = 1 THEN $py
         |       WHEN $rx = 1 THEN ${s - 1} - $px ELSE $px END AS hy_${i + 1},
         |  $pd + ${s * s} * xor(3 * $rx, $ry) AS hd_${i + 1}$keep
         |FROM h_$i)""".stripMargin
    }
    val fin = s"h_fin AS (SELECT hd_$bits AS hd$keep FROM h_$bits)"
    ((h0 +: levels :+ fin).mkString(",\n"), "h_fin")
  }

  /** N-dimensional HILBERT curve index as a Column (Skilling transpose
    * algorithm via the codegen'd [[graft.functions.HilbertIndexN]]) —
    * the general form for 3-D/4-D clustering column sets; 2 ≤ dims,
    * dims·bits ≤ 63. Orientation differs from the 2-D
    * [[hilbertValue]] (both are valid Hilbert curves); adjacency is
    * what layouts rely on and is spec-checked exhaustively. */
  def hilbertValueN(cols: Seq[Column], bits: Int): Column =
    org.apache.spark.sql.GraftColumnBridge.toColumn(
      graft.functions.HilbertIndexN(
        cols.map(c =>
          org.apache.spark.sql.GraftColumnBridge
            .toExpression(c.cast("long"))), bits))

  /** DuckDB twin of [[hilbertValueN]]: Skilling's phases unrolled as a
    * generated CTE chain — one CTE per (level, dimension) undo step
    * (columns `xj_s` of CTE `hn_s`), then Gray-encode / parity-xor /
    * bit-gather CTEs. Returns the `WITH` body and the final relation
    * name; the final relation exposes `hd` plus the carried columns.
    * Same generate-SQL-from-the-constants recipe as [[sqlHilbertCte]],
    * so `q48_hilbert3` proves every step cross-engine. */
  def sqlHilbertNCte(exprs: Seq[String], bits: Int,
      table: String, carry: Seq[String]): (String, String) = {
    val n = exprs.size
    require(n >= 2 && bits >= 1 && n * bits <= 63)
    val mask = (1L << bits) - 1
    val keep = if (carry.isEmpty) "" else carry.mkString(", ", ", ", "")
    def xs(s: Int): Seq[String] = (0 until n).map(j => s"x${j}_$s")
    val init = s"hn_0 AS (SELECT " +
      exprs.zipWithIndex.map { case (e, j) =>
        s"(($e) & $mask) AS x${j}_0" }.mkString(", ") +
      s"$keep FROM $table)"
    // phase 1: one CTE per (level Q, dimension i) in-place undo step
    val steps = for {
      qi <- 0 until (bits - 1)
      i <- 0 until n
    } yield {
      val st = qi * n + i
      val q = 1L << (bits - 1 - qi)
      val p = q - 1
      val prev = xs(st)
      val cols = (0 until n).map { j =>
        val e =
          if (i == 0) {
            if (j == 0)
              s"CASE WHEN (${prev(0)} & $q) != 0 THEN xor(${prev(0)}, $p)" +
                s" ELSE ${prev(0)} END"
            else prev(j)
          } else {
            val t = s"(xor(${prev(0)}, ${prev(i)}) & $p)"
            if (j == 0)
              s"CASE WHEN (${prev(i)} & $q) != 0 THEN xor(${prev(0)}, $p)" +
                s" ELSE xor(${prev(0)}, $t) END"
            else if (j == i)
              s"CASE WHEN (${prev(i)} & $q) != 0 THEN ${prev(i)}" +
                s" ELSE xor(${prev(i)}, $t) END"
            else prev(j)
          }
        s"$e AS x${j}_${st + 1}"
      }
      s"hn_${st + 1} AS (SELECT ${cols.mkString(", ")}$keep FROM hn_$st)"
    }
    val fSt = (bits - 1) * n
    val fx = xs(fSt)
    // Gray encode = cumulative xor across dimensions (X[i] ^= X[i-1]
    // sequentially ⇒ X[i]' = x0 ^ … ^ xi)
    val grayExprs = fx.scanLeft("") { (acc, x) =>
      if (acc.isEmpty) x else s"xor($acc, $x)"
    }.tail
    val gray = s"hn_g AS (SELECT " +
      grayExprs.zipWithIndex.map { case (e, j) => s"$e AS g$j" }
        .mkString(", ") + s"$keep FROM hn_$fSt)"
    // parity term t from the LAST dimension's Gray-encoded bits
    val tExpr = (0 until (bits - 1)).map { qi =>
      val q = 1L << (bits - 1 - qi)
      s"(CASE WHEN (g${n - 1} & $q) != 0 THEN ${q - 1} ELSE 0 END)"
    }.reduceOption((a, b) => s"xor($a, $b)")
      // bits = 1 has no undo levels, so the parity term is literal 0
      // (reduce over the empty seq would throw — its own require
      // admits bits >= 1)
      .getOrElse("0")
    val tc = s"hn_t AS (SELECT " +
      (0 until n).map(j => s"xor(g$j, $tExpr) AS f$j").mkString(", ") +
      s"$keep FROM hn_g)"
    // gather: bit k of dim j lands at position k·n + (n-1-j)
    val gather = (for {
      j <- 0 until n
      k <- 0 until bits
    } yield s"(((f$j >> $k) & 1) << ${k * n + (n - 1 - j)})")
      .mkString("(", " + ", ")")
    val fin = s"hn_fin AS (SELECT $gather AS hd$keep FROM hn_t)"
    (((init +: steps) ++ Seq(gray, tc, fin)).mkString(",\n"), "hn_fin")
  }

  /** The z-value for arbitrary numeric columns: min/max-scale each to
    * [0, 2^bits) using the supplied per-column (min, max) literals,
    * then interleave. */
  def zValue(cols: Seq[Column], ranges: Seq[(Double, Double)],
      bits: Int): Column =
    interleave(cols.zip(ranges).map { case (c, (lo, hi)) =>
      scaleToBits(c, lo, hi, bits)
    }, bits)

  /** Min/max-scale a numeric column to [0, 2^bits) — the bucketing
    * shared by the Morton and Hilbert sort keys. */
  private def scaleToBits(c: Column, lo: Double, hi: Double,
      bits: Int): Column = {
    val top = (1L << bits) - 1
    if (hi <= lo) lit(0L)
    else least(lit(top), greatest(lit(0L),
      floor((c.cast("double") - lit(lo)) / lit(hi - lo) * top)
        .cast("long")))
  }

  /** One min/max aggregate over `cols` → literal (lo, hi) ranges. */
  private def literalRanges(df: DataFrame,
      cols: Seq[String]): Seq[(Double, Double)] = {
    val aggs = minMax(cols)
    rangesAt(df.agg(aggs.head, aggs.tail: _*).head(), 0, cols)
  }

  /** `df` pinned ([[Pins]]) with its row count and [[literalRanges]]
    * observed in the same job: (pinned, 0, Nil) for an empty `df`,
    * which has no range to derive. */
  private[graft] def pinnedRanges(df: DataFrame, cols: Seq[String])
      : (DataFrame, Long, Seq[(Double, Double)]) = {
    val (pinned, row) = Pins.pinObserved(df, count(lit(1)) +: minMax(cols): _*)
    val n = row.getLong(0)
    val ranges =
      try if (n == 0) Nil else rangesAt(row, 1, cols)
      catch { case e: IllegalArgumentException => Pins.release(pinned); throw e }
    (pinned, n, ranges)
  }

  private def minMax(cols: Seq[String]): Seq[Column] = cols.flatMap(c =>
    Seq(min(col(c).cast("double")), max(col(c).cast("double"))))

  /** The (lo, hi) pairs of `cols` from `row`, the first at `from`. */
  private def rangesAt(row: Row, from: Int,
      cols: Seq[String]): Seq[(Double, Double)] =
    cols.indices.map { i =>
      val (lo, hi) = (from + 2 * i, from + 2 * i + 1)
      require(!row.isNullAt(lo) && !row.isNullAt(hi),
        s"cannot derive a layout range for '${cols(i)}': the input is " +
          "empty or the column is entirely NULL")
      (row.getDouble(lo), row.getDouble(hi))
    }

  /** Z-ordered write: one min/max aggregate → literal ranges → range
    * repartition + sort on the z-value → parquet. Every file covers a
    * narrow span of every `zCols` member. `mode = "append"` adds
    * z-clustered files to an existing lake dir (each BATCH's files are
    * z-local; cross-batch re-clustering is a separate compaction pass —
    * the standard ingest-then-OPTIMIZE split). */
  def write(df: DataFrame, path: String, zCols: Seq[String],
      bits: Int = 12, numFiles: Int = 0,
      mode: String = "overwrite",
      ranges: Option[Seq[(Double, Double)]] = None): Unit =
    writeByKey(df, path,
      zValue(zCols.map(col),
        ranges.getOrElse(literalRanges(df, zCols)), bits),
      numFiles, mode)

  /** HILBERT-ordered write — [[write]]'s 2-D twin on the continuous
    * curve (measured in SCALE.md: the same box reads fewer files than
    * the Morton layout). Applies the SAME one-aggregate min/max scaling
    * as [[write]] before the curve — raw out-of-range values must
    * never reach [[hilbertValue]]'s low-bit mask, which would alias
    * distant values into one cell and destroy the locality. */
  def hilbertWrite(df: DataFrame, path: String, xCol: String, yCol: String,
      bits: Int = 12, numFiles: Int = 0,
      mode: String = "overwrite",
      knownRanges: Option[Seq[(Double, Double)]] = None): Unit = {
    val ranges = knownRanges.getOrElse(literalRanges(df, Seq(xCol, yCol)))
    val h = hilbertValue(
      scaleToBits(col(xCol), ranges(0)._1, ranges(0)._2, bits),
      scaleToBits(col(yCol), ranges(1)._1, ranges(1)._2, bits), bits)
    writeByKey(df, path, h, numFiles, mode)
  }

  /** [[hilbertWrite]]'s N-dimensional form (3-D/4-D clustering column
    * sets) on [[hilbertValueN]], with the same one-aggregate min/max
    * scaling. dims·bits must fit a long — callers with the default
    * bits=12 and 4+ columns should lower bits (the per-file span is
    * set by file count anyway; 8 bits = 256 cells/dim is plenty). */
  def hilbertWriteN(df: DataFrame, path: String, cols: Seq[String],
      bits: Int = 12, numFiles: Int = 0,
      mode: String = "overwrite",
      knownRanges: Option[Seq[(Double, Double)]] = None): Unit = {
    require(cols.size >= 2 && cols.size * bits <= 63,
      s"hilbertWriteN: dims·bits = ${cols.size * bits} exceeds long range")
    val ranges = knownRanges.getOrElse(literalRanges(df, cols))
    val h = hilbertValueN(cols.zip(ranges).map { case (c, (lo, hi)) =>
      scaleToBits(col(c), lo, hi, bits)
    }, bits)
    writeByKey(df, path, h, numFiles, mode)
  }

  /** Curve dispatch shared by [[optimize]] and
    * [[graft.streaming.LayoutSink]]: "morton" = [[write]] (any dim
    * count), "hilbert" = [[hilbertWrite]] for 2-D /
    * [[hilbertWriteN]] beyond (tighter box locality — SCALE.md). */
  def curveWrite(df: DataFrame, path: String, zCols: Seq[String],
      bits: Int, numFiles: Int, mode: String, curve: String,
      ranges: Option[Seq[(Double, Double)]] = None): Unit =
    curve match {
      case "morton" =>
        write(df, path, zCols, bits, numFiles, mode, ranges)
      case "hilbert" if zCols.size == 2 =>
        hilbertWrite(df, path, zCols(0), zCols(1), bits, numFiles, mode,
          ranges)
      case "hilbert" =>
        hilbertWriteN(df, path, zCols, bits, numFiles, mode, ranges)
      case other =>
        throw new IllegalArgumentException(
          s"unknown curve '$other' (morton | hilbert)")
    }

  private def writeByKey(df: DataFrame, path: String, key: Column,
      numFiles: Int, mode: String): Unit = {
    val withZ = df.withColumn("_z", key)
    val rep =
      if (numFiles > 0) withZ.repartitionByRange(numFiles, col("_z"))
      else withZ.repartitionByRange(col("_z"))
    rep.sortWithinPartitions(col("_z")).drop("_z")
      .write.mode(mode).parquet(path)
  }

  /** The OPTIMIZE pass: rewrite a lake dir (e.g. one grown by
    * [[graft.streaming.LayoutSink]]'s batch-local appends) into ONE
    * globally z-ordered layout. Swap = write aside, rename the old lake
    * to `path + ".old"`, rename the new layout in, then drop the old —
    * every rename result is CHECKED, and a crash mid-swap leaves the
    * data recoverable at `.old` (rename it back), never deleted. A
    * brief not-found window for concurrent readers is inherent to
    * raw-filesystem swaps; closing it is what a transactional commit
    * log (Delta's) buys — run OPTIMIZE in a maintenance window. If
    * `indexDir` is given the stats index is refreshed afterwards (old
    * rows drop, new files footer-read).
    *
    * Sink-managed lakes (a [[CommitLog]] present): only the COMMITTED
    * view is rewritten — a crashed ingest attempt's uncommitted
    * orphans are dropped by the swap, NOT baked in (an orphan promoted
    * to committed data would land twice once its batch replays). The
    * new layout carries a one-record log: a checkpoint at the old
    * log's highest batch id, listing every optimized file — it IS the
    * committed view, and it marks each previously committed batch id
    * as done so a streaming replay of any of them still no-ops —
    * exactly-once holds ACROSS an optimize.
    *
    * Covered deletion vectors FOLD into the rewrite (the input is the
    * MoR live view): dead rows drop from the new layout, the fresh
    * checkpoint carries no coverage, and the dir swap retires the
    * `_dv` sidecar — one pass re-clusters AND compacts, no separate
    * [[DeletionVectors.compact]] needed first. */
  def optimize(spark: SparkSession, path: String, zCols: Seq[String],
      bits: Int = 12, numFiles: Int = 0,
      indexDir: Option[String] = None,
      curve: String = "morton"): Unit = {
    import org.apache.hadoop.fs.Path
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new Path(path).getFileSystem(conf)
    val tmp = new Path(path + ".optimize")
    val old = new Path(path + ".old")
    val hasLog = fs.exists(new Path(CommitLog.logDir(path)))
    // logged lakes share mutation state with MergeInto — serialize
    // through the same writer lock (a concurrent merge would read the
    // pre-optimize file set and publish it back, resurrecting the
    // un-optimized layout); plain directories have no mutation peers
    if (hasLog) CommitLog.withWriterLock(fs, path) {
      optimizeBody(spark, path, zCols, bits, numFiles, indexDir, curve,
        fs, tmp, old, hasLog)
    }
    else optimizeBody(spark, path, zCols, bits, numFiles, indexDir,
      curve, fs, tmp, old, hasLog)
  }

  private def optimizeBody(spark: SparkSession, path: String,
      zCols: Seq[String], bits: Int, numFiles: Int,
      indexDir: Option[String], curve: String,
      fs: org.apache.hadoop.fs.FileSystem,
      tmp: org.apache.hadoop.fs.Path, old: org.apache.hadoop.fs.Path,
      hasLog: Boolean): Unit = {
    import org.apache.hadoop.fs.Path
    val input =
      if (hasLog) {
        val committed = CommitLog.committedNames(fs, path).toSeq.sorted
        require(committed.nonEmpty,
          s"optimize: $path has a commit log but no committed files — " +
            "nothing to rewrite")
        // mergeSchema: an additively-evolved lake mixes physical
        // schemas — a single-footer pick would silently drop the
        // evolved column from the whole rewritten layout
        val base = spark.read.option("mergeSchema", "true")
          .parquet(CommitLog.resolveDataPaths(fs, path, committed): _*)
        // fold any covered deletion vectors INTO the rewrite: OPTIMIZE
        // rewrites every committed file anyway, so applying the
        // vectors here is free — dead rows drop from the new layout,
        // the checkpoint written below carries no dv entries (coverage
        // ends with it), and the dir swap retires the `_dv` sidecar
        // with the old files. One pass re-clusters AND compacts; no
        // separate DeletionVectors.compact needed first.
        DeletionVectors.applyVectors(base,
          DeletionVectors.vectors(spark, path))
      } else spark.read.option("mergeSchema", "true").parquet(path)
    // scaling ranges from FOOTER stats when every committed file
    // carries exact numeric bounds — a footer read replaces the full
    // data pass literalRanges would run (at 100 TB: a corpus scan).
    // On a DV'd lake the footer range can be wider than the live
    // rows' (dead rows count) — still a valid clamp range. Fallback:
    // the data-pass aggregate, bit-identical to the pre-r15 behavior.
    val ranges =
      if (hasLog) StatsIndex.footerDoubleRanges(spark,
        CommitLog.resolveDataPaths(fs,  path,
          CommitLog.committedNames(fs, path).toSeq.sorted), zCols)
      else None
    curveWrite(input, tmp.toString, zCols, bits, numFiles, "overwrite",
      curve, ranges)
    if (hasLog) {
      // write the new lake's log INSIDE tmp before the swap, so the
      // published layout is never visible without its log
      CommitLog.commitCheckpoint(fs, tmp.toString,
        math.max(CommitLog.maxCommittedId(fs, path), -1L),
        CommitLog.dataFileNames(fs, tmp.toString).toSeq.sorted)
      // DEFINITION records are table metadata, not log records — the
      // fresh one-checkpoint log must CARRY them across the swap, or
      // every post-OPTIMIZE write is ungated (constraints and
      // generated-column fill/enforce would silently vanish with the
      // old log dir). Replicated into tmp BEFORE the swap, so the
      // published layout is never visible without its definitions.
      Constraints.replicate(fs, tmp.toString, Constraints.list(fs, path))
      GeneratedColumns.replicate(fs, tmp.toString,
        GeneratedColumns.list(fs, path))
      // the column map survives the swap for the same reason: the
      // rewritten files carry PHYSICAL names (the rewrite read the
      // raw parquet), so losing the map would surface physical names
      // and resurrect dropped columns on every post-OPTIMIZE read
      ColumnMapping.replicate(fs, tmp.toString,
        ColumnMapping.rawLines(fs, path))
      // the epoch-owner marker is table metadata too: dropping it
      // across the swap would re-open the lake to an Occ.append whose
      // max+1 id claim collides with the owning sink's future epochs
      CommitLog.epochOwner(fs, path).foreach(owner =>
        CommitLog.claimEpochOwner(fs, tmp.toString, owner))
    }
    fs.delete(old, true) // stale leftover from a prior crashed swap
    require(fs.rename(new Path(path), old),
      s"optimize: could not move $path aside — lake untouched")
    require(fs.rename(tmp, new Path(path)),
      s"optimize: could not move new layout into $path — " +
        s"old data preserved at $old (rename it back)")
    fs.delete(old, true)
    // a shallow clone's source pointer lived in the OLD log dir and is
    // deliberately NOT carried: the rewrite resolved every committed
    // byte through the chain into the new local layout, so the lake is
    // self-contained now. Drop the positive cache entry with it — a
    // stale hit would keep reporting a retired source chain
    // (readMorStream would wrongly refuse, restore would consult it).
    CommitLog.invalidateCloneSource(fs, path)
    indexDir.foreach(idx => StatsIndex.refresh(spark, path, zCols, idx))
  }

  /** Incremental compaction: fold only the lake's SMALL committed
    * files (< `minBytes`) into a few curve-ordered ones; every other
    * file is untouched. Cost ∝ small-file debt, NOT lake size — the
    * maintenance shape a 100 TB lake needs ([[optimize]]'s whole-lake
    * rewrite is a maintenance-window tool; a streaming lake growing
    * `filesPerBatch` files per batch needs debt paid continuously).
    *
    * Requires a sink-managed lake (a [[CommitLog]] present):
    * publication is one atomic log checkpoint whose file list swaps
    * the compacted names for the new ones, so [[
    * graft.streaming.LayoutSink.readCommitted]] never sees a row
    * twice or loses one at ANY crash point. The compacted originals
    * are deleted only AFTER publish; a crash in between leaves them as
    * unreferenced orphans that the sink's next-batch sweep (or a
    * re-run of this) removes. Plain `spark.read.parquet` double-counts
    * only inside that publish→delete window — same caveat as the
    * sink's own crash window; `readCommitted` is the contract reader.
    * The stats index is refreshed LAST; a crash before that leaves it
    * stale, which fails loudly (missing files in an explicit list),
    * never silently wrong — any later refresh converges it.
    *
    * Returns (filesCompacted, filesWritten); (0, 0) when fewer than
    * two committed files are under the threshold. */
  def compactSmall(spark: SparkSession, path: String, zCols: Seq[String],
      minBytes: Long, bits: Int = 12, numFiles: Int = 0,
      indexDir: Option[String] = None, curve: String = "morton",
      failBeforePublish: Boolean = false,
      failBeforeDelete: Boolean = false): (Int, Int) = {
    import org.apache.hadoop.fs.Path
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new Path(path).getFileSystem(conf)
    require(fs.exists(new Path(CommitLog.logDir(path))),
      s"compactSmall: $path has no commit log — it only runs on " +
        "sink-managed lakes (use optimize() for plain directories)")
    // same single-writer contract as MergeInto: a concurrent CoW
    // mutation reading the pre-compaction file set would publish the
    // compacted originals back. The lock releases on ANY exit —
    // including the injected crash points below (the crash windows
    // under test are the FS states, not a held lock).
    CommitLog.withWriterLock(fs, path) {
    val committed = CommitLog.committedNames(fs, path)
    val sortedNames = committed.toSeq.sorted
    val sized = sortedNames
      .zip(CommitLog.resolveDataPaths(fs, path, sortedNames))
      .map { case (n, p) => n -> fs.getFileStatus(new Path(p)).getLen }
    val small = sized.filter(_._2 < minBytes).map(_._1)
    if (small.size < 2) return (0, 0)
    val totalBytes = sized.filter(_._2 < minBytes).map(_._2).sum
    val nf =
      if (numFiles > 0) numFiles
      else math.max(1L, (totalBytes + minBytes - 1) / minBytes).toInt
    // covered deletion vectors FOLD into the rewrite instead of
    // blocking it: the small-file read drops its dead rows (the
    // readMor vector step), vectors naming untouched files are
    // rewritten into a fresh sidecar and re-covered by the publish
    // below — the view is unchanged at every crash point
    val dvOpt = DeletionVectors.vectors(spark, path)
    val oldDv = DeletionVectors.coveredDvFiles(fs, path)
    val before = CommitLog.dataFileNames(fs, path)
    // mergeSchema: small files can mix physical schemas after
    // additive evolution — the folded file must carry the union
    curveWrite(DeletionVectors.applyVectors(
        spark.read.option("mergeSchema", "true")
          .parquet(CommitLog.resolveDataPaths(fs, path, small): _*), dvOpt),
      path, zCols, bits, numFiles = nf, mode = "append", curve = curve)
    val newFiles = (CommitLog.dataFileNames(fs, path) -- before)
      .toSeq.sorted
    val survivorDv = dvOpt match {
      case None => Seq.empty[String]
      case Some(dv) => DeletionVectors.rewriteSurvivorVectors(
        spark, fs, path, dv, small.toSet)
    }
    if (failBeforePublish)
      throw new RuntimeException("injected crash before publish")
    // one atomic record flips the committed view old→new; its id is
    // the current max, so batch-replay idempotence is untouched.
    // When vectors were folded the record is a MUTATION checkpoint
    // (rows moved physically — history APIs must not serve older
    // versions as immutable snapshots) carrying the survivor
    // coverage; the vector-free path keeps its plain checkpoint.
    val maxId = math.max(CommitLog.maxCommittedId(fs, path), -1L)
    val newList = ((committed -- small) ++ newFiles).toSeq.sorted
    if (dvOpt.isEmpty) CommitLog.commitCheckpoint(fs, path, maxId, newList)
    else {
      // row-preserving for the live view: an empty change-feed stamp
      // keeps feed cursors flowing through the vector-folding compact
      val gen =
        if (!ChangeDataFeed.isEnabled(fs, path)) None
        else {
          val g = CommitLog.nextGen(fs, path)
          ChangeDataFeed.writeEmpty(spark, path, maxId, g)
          Some(g)
        }
      CommitLog.commitMutationCheckpoint(fs, path, maxId, newList,
        dvNames = survivorDv, added = newFiles, removed = small,
        gen = gen)
    }
    if (failBeforeDelete)
      throw new RuntimeException("injected crash before orphan delete")
    small.foreach { n => fs.delete(new Path(path, n), false); () }
    // the replaced sidecar files are uncovered debris now — retire
    oldDv.foreach { n =>
      fs.delete(new Path(DeletionVectors.dvDir(path), n), false); ()
    }
    indexDir.foreach(idx => StatsIndex.refresh(spark, path, zCols, idx))
    (small.size, newFiles.size)
    }
  }
}

/** Loader for the driver-generated synthetic tables (TESTDATA.md). */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")
}
