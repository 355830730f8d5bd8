package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Scalable GLOBAL-order offset windows (SURVEY.md §2.5 W4 / §7.4.2).
  *
  * The reference's windows have no partitionBy, which Spark executes as a
  * single task — its #1 scalability blocker. But an OFFSET function
  * (lag/lead 1) over a global order does not need a global sort on one
  * machine: split the order into VALUE-DERIVED range buckets, lag within
  * each bucket in parallel, then stitch bucket boundaries — each bucket's
  * first row takes the previous non-empty bucket's last value.
  *
  * The buckets come from quantile boundaries computed once and inlined as
  * literals, NOT from `repartitionByRange`: the range partitioner samples
  * per execution, and a DataFrame that is executed twice (main pass +
  * boundary pass) could pick different cuts — silently corrupting the
  * stitch. A literal bucket expression is identical in every execution.
  *
  * Null discipline: the stitched value distinguishes "no previous row"
  * (global first row → null, matching the unpartitioned window) from "a
  * previous row whose value is null" via the per-bucket row_number.
  */
object GlobalWindow {

  /** Below this estimated input size the bucketed path's fixed overhead
    * (three jobs: cuts aggregate, boundary stitch, main pass) costs more
    * than the single sort task it avoids, so we fall back to the plain
    * unpartitioned window — ONE job, one task, fine for megabytes.
    * Estimated from Catalyst plan statistics (`stats.sizeInBytes`), which
    * costs no job; unknown stats default to Long.MaxValue-ish → scalable
    * path, the safe direction. Set to 0 to force the scalable path
    * (the specs do, so the stitch logic stays exercised). */
  val SmallInputConfKey = "spark.graft.globalWindow.smallInputMaxBytes"
  private val SmallInputDefaultBytes: Long = 64L << 20 // 64 MiB

  private def useSmallInputPath(df: DataFrame): Boolean = {
    val threshold = df.sparkSession.conf
      .get(SmallInputConfKey, SmallInputDefaultBytes.toString).toLong
    threshold > 0 &&
      df.queryExecution.optimizedPlan.stats.sizeInBytes <= BigInt(threshold)
  }

  /** When the estimated equal-width occupancy of the fullest bucket
    * exceeds this multiple of uniform, the adaptive default switches to
    * quantile cuts (skewed keys would otherwise collapse most rows into
    * few buckets — correct either way, the stitch is balance-independent,
    * but parallelism degrades). */
  private val SkewImbalanceThreshold = 4.0

  /** Literal bucket cuts for `bucketKey`, SKEW-ADAPTIVE by default: one
    * approx-quantile pass (a partial-aggregable Greenwald-Khanna sketch —
    * no extra scan vs the old min/max aggregate) yields the key's
    * quantile grid; from it we estimate what fraction of rows each
    * EQUAL-WIDTH span of [min, max] would hold. If the fullest span
    * holds > [[SkewImbalanceThreshold]]× the uniform share (threshold
    * capped at half the observable maximum, so low-parallelism
    * sessions still trip it when one span would hold most rows), the
    * key is skewed and the quantile values themselves become the cuts
    * (balanced occupancy by construction); otherwise the cheaper-to-
    * reason-about equal-width cuts are kept. `quantileBuckets = true`
    * forces the quantile path. Either way the cuts are collected ONCE
    * and inlined as literals, so the main and boundary passes agree —
    * the stitch is correct for ANY monotonic bucketing, empty buckets
    * included; balance only affects parallelism, never results. */
  private def bucketCuts(df: DataFrame, bucketKey: Column, parts: Int,
      quantileBuckets: Boolean): Seq[Double] = {
    if (parts <= 1) return Nil
    val probs = (0 to parts).map(_.toDouble / parts) // 0 and 1 = min, max
    val qs = df.select(bucketKey.cast("double").as("_bk"))
      .stat.approxQuantile("_bk", probs.toArray, 0.001)
    if (qs.length < 2) return Nil // no non-null keys
    val lo = qs.head; val hi = qs.last
    if (hi <= lo) return Nil // constant key: one bucket
    val interior = qs.slice(1, qs.length - 1).toSeq.distinct.sorted
    if (quantileBuckets) return interior
    // adjacent quantiles bound ~1/parts of the rows each; drop that mass
    // into the equal-width bin holding the pair's midpoint and compare
    // the fullest bin against the uniform share of 1.0
    val width = (hi - lo) / parts
    val occupancy = new Array[Double](parts)
    var i = 0
    while (i < parts) {
      val mid = (qs(i) + qs(i + 1)) / 2
      val b = math.min(parts - 1, math.max(0, ((mid - lo) / width).toInt))
      occupancy(b) += 1.0
      i += 1
    }
    // occupancy.max is bounded by `parts` (each unit ≈ 1/parts of the
    // rows), so at low parallelism the absolute threshold could never
    // fire (parts = 4 ⇒ max observable = 4, never > 4). Cap the
    // threshold at parts/2 — "one equal-width bin would hold over half
    // the rows" is catastrophic at ANY parallelism — so low-parts
    // sessions still switch to quantile cuts.
    if (occupancy.max > math.min(SkewImbalanceThreshold, parts / 2.0))
      interior
    else (1 until parts).map(i => lo + (hi - lo) * i / parts)
      .distinct.sorted
  }

  /** Bucket id for `bucketKey` under the literal `cuts`: the count of
    * cuts strictly below the key. ONE definition shared by every
    * global-window variant, so bucket-edge semantics (the `>`
    * comparison, the double cast) live in exactly one place and the
    * main/boundary passes of every family agree by construction. */
  private def bucketColumn(bucketKey: Column, cuts: Seq[Double]): Column =
    if (cuts.isEmpty) lit(0)
    else cuts.foldLeft(lit(0)) { (acc, c) =>
      acc + when(bucketKey.cast("double") > lit(c), 1).otherwise(0)
    }

  /** `lag(valueCol, offset)` over the global `orderCols` order.
    *
    * @param bucketKey numeric, non-decreasing function of the order
    *                  prefix (e.g. `unix_micros(col("ts"))` when ordering
    *                  by ts): rows with equal keys must sort adjacently.
    *                  Value-derived cuts of this key define the parallel
    *                  buckets.
    * @param offset    lag distance k ≥ 1. k = 1 stitches with the
    *                  partial-aggregable per-bucket-LAST boundary pass;
    *                  k > 1 carries the last k rows per bucket through
    *                  [[lagGlobalK]]'s tail stitch.
    */
  def lagGlobal(df: DataFrame, orderCols: Seq[String], valueCol: String,
      out: String, bucketKey: Column,
      numPartitions: Option[Int] = None,
      quantileBuckets: Boolean = false,
      offset: Int = 1): DataFrame = {
    require(offset >= 1, s"offset $offset")
    val oc: Seq[Column] = orderCols.map(col)
    if (useSmallInputPath(df))
      return df.withColumn(out,
        lag(col(valueCol), offset).over(Window.orderBy(oc: _*)))
    val parts = numPartitions.getOrElse(
      df.sparkSession.sessionState.conf.numShufflePartitions)
    if (offset > 1)
      return lagGlobalK(df, orderCols, valueCol, out, bucketKey, offset,
        parts, quantileBuckets)

    // pass 0: bucket cuts collected once → literals
    val cuts = bucketCuts(df, bucketKey, parts, quantileBuckets)
    val bucket: Column = bucketColumn(bucketKey, cuts)

    val withBucket = df.withColumn("_bucket", bucket)
    val bucketed = withBucket.repartition(parts, col("_bucket"))
    val w = Window.partitionBy(col("_bucket")).orderBy(oc: _*)
    val local = bucketed
      .withColumn("_rn", row_number().over(w))
      .withColumn(out, lag(col(valueCol), 1).over(w))

    // per-bucket LAST value: max over the (orderCols..., value) struct —
    // partial-aggregable, one tiny row per bucket; collected (≤ parts
    // rows) and forward-filled so buckets preceded by empty buckets still
    // see the nearest earlier value. Deterministic: buckets are a pure
    // function of row values. Aggregated from a NARROW projection of the
    // pre-repartition frame: map-side partial aggregation collapses each
    // scan partition to ≤ parts rows, so this boundary pass shuffles a
    // few bytes — aggregating the repartitioned frame instead would
    // re-execute the full-width bucket shuffle a second time (this is a
    // separate action; Exchange reuse never crosses actions).
    val lastStruct = max(struct((oc :+ col(valueCol).as("_v")): _*))
    val lastByBucket = withBucket
      .select((col("_bucket") +: oc :+ col(valueCol)): _*)
      .groupBy(col("_bucket"))
      .agg(lastStruct.as("_last"))
      .select(col("_bucket"), col("_last._v").as("_v"))
      .collect()
      .map(r => r.getInt(0) -> r.get(1))
      .toMap
    val nBuckets = cuts.size + 1
    val prevLast = new Array[Any](nBuckets)
    var carry: Any = null
    (0 until nBuckets).foreach { b =>
      prevLast(b) = carry
      lastByBucket.get(b).foreach(v => carry = v)
    }
    val spark = df.sparkSession
    val valueField = df.schema(valueCol)
    val boundsSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("_bucket",
        org.apache.spark.sql.types.IntegerType, nullable = false),
      valueField.copy(name = "_prev_last", nullable = true)))
    val bounds = spark.createDataFrame(
      java.util.Arrays.asList((0 until nBuckets).map(b =>
        org.apache.spark.sql.Row(b, prevLast(b))): _*),
      boundsSchema)

    local
      .join(broadcast(bounds), Seq("_bucket"), "left")
      .withColumn(out,
        when(col("_rn") === 1, col("_prev_last")).otherwise(col(out)))
      .drop("_bucket", "_rn", "_prev_last")
  }

  /** General-offset global lag, k > 1: per-bucket `lag(k)` in parallel,
    * then the first k rows of each bucket are stitched from the GLOBAL
    * k-row tail preceding the bucket. The boundary pass extracts each
    * bucket's last k `(order, value)` rows from a NARROW projection
    * (bucket, orderCols, value) — one narrow per-bucket-sort shuffle, no
    * single-partition exchange anywhere — and the driver walks buckets
    * in order carrying a ≤ k-element tail (collect is ≤ parts·k tiny
    * rows). Row r (1-based) of bucket b needs the value k−r+1 positions
    * from the end of that tail; missing ⇒ null, matching the
    * unpartitioned window's head-of-frame nulls. */
  private def lagGlobalK(df: DataFrame, orderCols: Seq[String],
      valueCol: String, out: String, bucketKey: Column, k: Int,
      parts: Int, quantileBuckets: Boolean): DataFrame = {
    val oc: Seq[Column] = orderCols.map(col)
    val cuts = bucketCuts(df, bucketKey, parts, quantileBuckets)
    val bucket: Column = bucketColumn(bucketKey, cuts)
    val withBucket = df.withColumn("_bucket", bucket)
    val bucketed = withBucket.repartition(parts, col("_bucket"))
    val w = Window.partitionBy(col("_bucket")).orderBy(oc: _*)
    val local = bucketed
      .withColumn("_rn", row_number().over(w))
      .withColumn(out, lag(col(valueCol), k).over(w))

    // last k rows per bucket, oldest-first
    val wDesc = Window.partitionBy(col("_bucket"))
      .orderBy(oc.map(_.desc): _*)
    val tailRows = withBucket
      .select((col("_bucket") +: oc :+ col(valueCol).as("_v")): _*)
      .withColumn("_rd", row_number().over(wDesc))
      .filter(col("_rd") <= k)
      .select(col("_bucket"), col("_rd"), col("_v"))
      .collect()
    val tailByBucket: Map[Int, Seq[Any]] = tailRows
      .groupBy(_.getInt(0))
      .map { case (b, rows) =>
        // _rd = j is the j-th row from the bucket end ⇒ descending _rd
        // is ascending global position
        b -> rows.sortBy(-_.getInt(1)).map(_.get(2)).toSeq
      }

    val nBuckets = cuts.size + 1
    val boundRows = Seq.newBuilder[org.apache.spark.sql.Row]
    var tail = Vector.empty[Any] // ≤ k values before the current bucket
    (0 until nBuckets).foreach { b =>
      (1 to k).foreach { r =>
        val back = k - r + 1
        val v: Any =
          if (tail.length >= back) tail(tail.length - back) else null
        boundRows += org.apache.spark.sql.Row(b, r, v)
      }
      tail = (tail ++ tailByBucket.getOrElse(b, Seq.empty)).takeRight(k)
    }
    val valueField = df.schema(valueCol)
    val boundsSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("_bucket",
        org.apache.spark.sql.types.IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField("_rn",
        org.apache.spark.sql.types.IntegerType, nullable = false),
      valueField.copy(name = "_prev_k", nullable = true)))
    val bounds = df.sparkSession.createDataFrame(
      java.util.Arrays.asList(boundRows.result(): _*), boundsSchema)

    local
      .join(broadcast(bounds), Seq("_bucket", "_rn"), "left")
      .withColumn(out,
        when(col("_rn") <= k, col("_prev_k")).otherwise(col(out)))
      .drop("_bucket", "_rn", "_prev_k")
  }

  /** `lead(valueCol, offset)` over the global order — the mirror image:
    * per-bucket lead, each bucket's LAST row(s) stitched with the
    * following buckets' FIRST value(s) (backward fill; offset k > 1 via
    * [[leadGlobalK]]'s head stitch). */
  def leadGlobal(df: DataFrame, orderCols: Seq[String], valueCol: String,
      out: String, bucketKey: Column,
      numPartitions: Option[Int] = None,
      quantileBuckets: Boolean = false,
      offset: Int = 1): DataFrame = {
    require(offset >= 1, s"offset $offset")
    val oc: Seq[Column] = orderCols.map(col)
    if (useSmallInputPath(df))
      return df.withColumn(out,
        lead(col(valueCol), offset).over(Window.orderBy(oc: _*)))
    val parts = numPartitions.getOrElse(
      df.sparkSession.sessionState.conf.numShufflePartitions)
    if (offset > 1)
      return leadGlobalK(df, orderCols, valueCol, out, bucketKey, offset,
        parts, quantileBuckets)
    val cuts = bucketCuts(df, bucketKey, parts, quantileBuckets)
    val bucket: Column = bucketColumn(bucketKey, cuts)
    val withBucket = df.withColumn("_bucket", bucket)
    val bucketed = withBucket.repartition(parts, col("_bucket"))
    val w = Window.partitionBy(col("_bucket")).orderBy(oc: _*)
    val wDesc = Window.partitionBy(col("_bucket"))
      .orderBy(oc.map(_.desc): _*)
    val local = bucketed
      .withColumn("_rn_desc", row_number().over(wDesc))
      .withColumn(out, lead(col(valueCol), 1).over(w))

    // narrow boundary pass — see lagGlobal's note
    val firstStruct = min(struct((oc :+ col(valueCol).as("_v")): _*))
    val firstByBucket = withBucket
      .select((col("_bucket") +: oc :+ col(valueCol)): _*)
      .groupBy(col("_bucket"))
      .agg(firstStruct.as("_first"))
      .select(col("_bucket"), col("_first._v").as("_v"))
      .collect()
      .map(r => r.getInt(0) -> r.get(1))
      .toMap
    val nBuckets = cuts.size + 1
    val nextFirst = new Array[Any](nBuckets)
    var carry: Any = null
    ((nBuckets - 1) to 0 by -1).foreach { b =>
      nextFirst(b) = carry
      firstByBucket.get(b).foreach(v => carry = v)
    }
    val spark = df.sparkSession
    val valueField = df.schema(valueCol)
    val boundsSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("_bucket",
        org.apache.spark.sql.types.IntegerType, nullable = false),
      valueField.copy(name = "_next_first", nullable = true)))
    val bounds = spark.createDataFrame(
      java.util.Arrays.asList((0 until nBuckets).map(b =>
        org.apache.spark.sql.Row(b, nextFirst(b))): _*),
      boundsSchema)

    local
      .join(broadcast(bounds), Seq("_bucket"), "left")
      .withColumn(out,
        when(col("_rn_desc") === 1, col("_next_first")).otherwise(col(out)))
      .drop("_bucket", "_rn_desc", "_next_first")
  }

  /** General-offset global lead, k > 1 — [[lagGlobalK]] mirrored: the
    * last k rows of each bucket are stitched from the GLOBAL k-row HEAD
    * following the bucket. Buckets are walked in reverse carrying a ≤ k
    * head vector (nearest row first); a row r-from-the-end (per-bucket
    * descending row_number, 1-based) needs the value k−r+1 positions
    * into that head; missing ⇒ null, matching the unpartitioned
    * window's end-of-frame nulls. Same narrow boundary pass, no
    * single-partition exchange. */
  private def leadGlobalK(df: DataFrame, orderCols: Seq[String],
      valueCol: String, out: String, bucketKey: Column, k: Int,
      parts: Int, quantileBuckets: Boolean): DataFrame = {
    val oc: Seq[Column] = orderCols.map(col)
    val cuts = bucketCuts(df, bucketKey, parts, quantileBuckets)
    val bucket: Column = bucketColumn(bucketKey, cuts)
    val withBucket = df.withColumn("_bucket", bucket)
    val bucketed = withBucket.repartition(parts, col("_bucket"))
    val w = Window.partitionBy(col("_bucket")).orderBy(oc: _*)
    val wDesc = Window.partitionBy(col("_bucket"))
      .orderBy(oc.map(_.desc): _*)
    val local = bucketed
      .withColumn("_rd", row_number().over(wDesc))
      .withColumn(out, lead(col(valueCol), k).over(w))

    // first k rows per bucket, global order (nearest-to-the-front first)
    val headRows = withBucket
      .select((col("_bucket") +: oc :+ col(valueCol).as("_v")): _*)
      .withColumn("_rn", row_number().over(
        Window.partitionBy(col("_bucket")).orderBy(oc: _*)))
      .filter(col("_rn") <= k)
      .select(col("_bucket"), col("_rn"), col("_v"))
      .collect()
    val headByBucket: Map[Int, Seq[Any]] = headRows
      .groupBy(_.getInt(0))
      .map { case (b, rows) =>
        b -> rows.sortBy(_.getInt(1)).map(_.get(2)).toSeq
      }

    val nBuckets = cuts.size + 1
    val boundRows = Seq.newBuilder[org.apache.spark.sql.Row]
    var head = Vector.empty[Any] // ≤ k values after the current bucket
    ((nBuckets - 1) to 0 by -1).foreach { b =>
      (1 to k).foreach { r =>
        val fwd = k - r + 1
        val v: Any = if (head.length >= fwd) head(fwd - 1) else null
        boundRows += org.apache.spark.sql.Row(b, r, v)
      }
      head = (headByBucket.getOrElse(b, Seq.empty).toVector ++ head).take(k)
    }
    val valueField = df.schema(valueCol)
    val boundsSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("_bucket",
        org.apache.spark.sql.types.IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField("_rd",
        org.apache.spark.sql.types.IntegerType, nullable = false),
      valueField.copy(name = "_next_k", nullable = true)))
    val bounds = df.sparkSession.createDataFrame(
      java.util.Arrays.asList(boundRows.result(): _*), boundsSchema)

    local
      .join(broadcast(bounds), Seq("_bucket", "_rd"), "left")
      .withColumn(out,
        when(col("_rd") <= k, col("_next_k")).otherwise(col(out)))
      .drop("_bucket", "_rd", "_next_k")
  }

  /** GENERAL rows-frame aggregates over the global order — `agg OVER
    * (ORDER BY … ROWS BETWEEN n−1 PRECEDING AND CURRENT ROW)` without a
    * single-partition exchange, for ANY window aggregate (sum/avg/min/
    * max/count/stddev/collect…), not just offsets.
    *
    * Mechanism (borrowed rows): each bucket is PREPENDED with the
    * global last n−1 rows preceding it (they sort first naturally —
    * their order keys are smaller), the frame runs per bucket, and the
    * borrowed rows are dropped from the output. A row whose frame
    * crosses the bucket start then still sees its true n-row history,
    * and every emitted aggregate is frame-identical to the
    * unpartitioned window's. The borrowed rows come from the same
    * driver walk as [[lagGlobalK]] (per-bucket last-(n−1) tails,
    * concatenated in bucket order and truncated to n−1), collected as
    * ≤ parts·(n−1) FULL-WIDTH rows — keep n modest (thousands, not
    * millions; an n-row frame at 100 TB should be a range-join or a
    * resample instead).
    *
    * @param aggs (aggregate expression, output name) pairs; each is
    *             applied `.over(the n-row frame)`. Entries must be RAW
    *             aggregate/window functions (post-process casts etc.
    *             OUTSIDE, on the returned frame — `.over` must attach
    *             to the aggregate itself), deterministic, and reference
    *             only `df`'s columns.
    * @param frameRows n ≥ 1: the frame covers the current row and the
    *                  n−1 preceding rows in global order.
    */
  def rollingGlobal(df: DataFrame, orderCols: Seq[String],
      aggs: Seq[(Column, String)], frameRows: Int, bucketKey: Column,
      numPartitions: Option[Int] = None,
      quantileBuckets: Boolean = false): DataFrame = {
    require(frameRows >= 1, s"frameRows $frameRows")
    rollingGlobalCentered(df, orderCols, aggs, before = frameRows - 1,
      after = 0, bucketKey, numPartitions, quantileBuckets)
  }

  /** BOTH-SIDED rows frames over the global order — `agg OVER (ORDER BY
    * … ROWS BETWEEN b PRECEDING AND a FOLLOWING)` without a
    * single-partition exchange; the centered-smoothing shape
    * ([[rollingGlobal]] is the `a = 0` special case and delegates
    * here).
    *
    * Mechanism: the trailing borrow is [[rollingGlobal]]'s (each bucket
    * prepended with the global last `before` rows preceding it, from a
    * forward bucket walk over per-bucket tails); the leading borrow
    * mirrors it through [[leadGlobalK]]'s reverse walk (each bucket
    * APPENDED with the global first `after` rows following it, from
    * per-bucket heads walked back-to-front). Both tails are collected
    * in ONE boundary pass (two row_numbers over the same bucketed
    * window — ≤ parts·(before + after) full-width rows; keep the frame
    * modest, as in [[rollingGlobal]]). Borrowed rows sort into place
    * naturally (their order keys are smaller / larger than every owned
    * key, by the bucketKey-monotonicity contract) and are dropped from
    * the output, so every emitted frame is identical to the
    * unpartitioned window's — including the truncated frames at the
    * global edges, where there is nothing to borrow. */
  def rollingGlobalCentered(df: DataFrame, orderCols: Seq[String],
      aggs: Seq[(Column, String)], before: Int, after: Int,
      bucketKey: Column, numPartitions: Option[Int] = None,
      quantileBuckets: Boolean = false): DataFrame = {
    require(before >= 0 && after >= 0, s"frame [$before, $after]")
    val oc: Seq[Column] = orderCols.map(col)
    if (useSmallInputPath(df)) {
      val w = Window.orderBy(oc: _*).rowsBetween(-before, after)
      return aggs.foldLeft(df) { case (d, (a, name)) =>
        d.withColumn(name, a.over(w))
      }
    }
    val parts = numPartitions.getOrElse(
      df.sparkSession.sessionState.conf.numShufflePartitions)
    val cuts = bucketCuts(df, bucketKey, parts, quantileBuckets)
    val bucket: Column = bucketColumn(bucketKey, cuts)
    val withBucket = df.withColumn("_bucket", bucket)

    // ONE boundary pass: per-bucket last `before` AND first `after`
    // rows, full width (they become borrowed rows)
    val wAsc = Window.partitionBy(col("_bucket")).orderBy(oc: _*)
    val wDesc = Window.partitionBy(col("_bucket"))
      .orderBy(oc.map(_.desc): _*)
    val nCols = df.columns.length
    val boundary = withBucket
      .withColumn("_ra", row_number().over(wAsc))
      .withColumn("_rd", row_number().over(wDesc))
      .filter(col("_rd") <= before || col("_ra") <= after)
      .collect() // ≤ parts·(before+after) rows: (df cols…, _bucket, _ra, _rd)
    def byBucket(keep: org.apache.spark.sql.Row => Boolean,
        rank: org.apache.spark.sql.Row => Int) =
      boundary.filter(keep).groupBy(_.getInt(nCols))
        .map { case (b, rows) => b -> rows.sortBy(rank).toSeq }
    // tails ascending by global order (= descending _rd)
    val tailByBucket = byBucket(_.getInt(nCols + 2) <= before,
      r => -r.getInt(nCols + 2))
    // heads ascending by global order (= ascending _ra)
    val headByBucket = byBucket(_.getInt(nCols + 1) <= after,
      r => r.getInt(nCols + 1))

    val nBuckets = cuts.size + 1
    val borrowed = Seq.newBuilder[org.apache.spark.sql.Row]
    def lend(r: org.apache.spark.sql.Row, b: Int): Unit =
      borrowed += org.apache.spark.sql.Row.fromSeq(
        (0 until nCols).map(r.get) ++ Seq(b, true))
    // forward walk: the `before` rows globally preceding each bucket
    var carry = Vector.empty[org.apache.spark.sql.Row]
    (0 until nBuckets).foreach { b =>
      carry.foreach(lend(_, b))
      carry = (carry ++ tailByBucket.getOrElse(b, Seq.empty))
        .takeRight(before)
    }
    // reverse walk: the `after` rows globally following each bucket
    var ahead = Vector.empty[org.apache.spark.sql.Row]
    ((nBuckets - 1) to 0 by -1).foreach { b =>
      ahead.foreach(lend(_, b))
      ahead = (headByBucket.getOrElse(b, Seq.empty).toVector ++ ahead)
        .take(after)
    }
    val extSchema = org.apache.spark.sql.types.StructType(
      df.schema.fields ++ Seq(
        org.apache.spark.sql.types.StructField("_bucket",
          org.apache.spark.sql.types.IntegerType, nullable = false),
        org.apache.spark.sql.types.StructField("_borrowed",
          org.apache.spark.sql.types.BooleanType, nullable = false)))
    val borrowedDf = df.sparkSession.createDataFrame(
      java.util.Arrays.asList(borrowed.result(): _*), extSchema)

    // no explicit repartition: union would void the co-partitioning and
    // the window's own hash exchange on _bucket is the single shuffle
    val main = withBucket.withColumn("_borrowed", lit(false))
    val w2 = Window.partitionBy(col("_bucket")).orderBy(oc: _*)
      .rowsBetween(-before, after)
    val withAggs = aggs.foldLeft(main.union(borrowedDf)) {
      case (d, (a, name)) => d.withColumn(name, a.over(w2))
    }
    withAggs.filter(!col("_borrowed")).drop("_bucket", "_borrowed")
  }

  /** RANGE-frame aggregates over the global order — `agg OVER (ORDER BY
    * key RANGE BETWEEN r PRECEDING AND CURRENT ROW)` without a
    * single-partition exchange.
    *
    * Unlike [[rollingGlobal]] (rows frames → driver walks a k-row
    * tail), the borrowed set here is VALUE-derived and therefore fully
    * distributed: a row in bucket c only ever needs history with key in
    * `[bucketStart(c) − r, bucketStart(c))`, so each row computes — via
    * a literal (cut, bucket) array, one `filter` + `explode`, ONE scan
    * — the set of later buckets whose boundary band it falls in, and is
    * duplicated into them as a borrowed row. No driver collect of data
    * rows at all; duplication factor is ~`r / bucketSpan + 1`, so keep
    * `r` well under the bucket span (at 32+ buckets over a day of
    * ticks, an `r` of minutes duplicates <1% of rows).
    *
    * @param orderKey numeric column: BOTH the global sort key and the
    *                 range dimension (RANGE frames have a single
    *                 numeric order column). Equal values are peers, as
    *                 in the unpartitioned window.
    * @param rangeBefore frame reach r ≥ 0, in `orderKey` units.
    * @param aggs (raw aggregate, output name) — [[rollingGlobal]] rules.
    */
  def rollingGlobalRange(df: DataFrame, orderKey: String,
      aggs: Seq[(Column, String)], rangeBefore: Long,
      numPartitions: Option[Int] = None,
      quantileBuckets: Boolean = false): DataFrame = {
    require(rangeBefore >= 0, s"rangeBefore $rangeBefore")
    val key = col(orderKey)
    if (useSmallInputPath(df)) {
      val w = Window.orderBy(key).rangeBetween(-rangeBefore, 0)
      return aggs.foldLeft(df) { case (d, (a, name)) =>
        d.withColumn(name, a.over(w))
      }
    }
    val parts = numPartitions.getOrElse(
      df.sparkSession.sessionState.conf.numShufflePartitions)
    val cuts = bucketCuts(df, key, parts, quantileBuckets)
    if (cuts.isEmpty) {
      // constant or all-null orderKey, or parts <= 1: every row lands in
      // bucket 0, so the frame degrades to one unpartitioned window —
      // run it directly. (The band explode below would otherwise build
      // an empty array() literal whose NULL element type fails analysis
      // in the filter lambda's getField.)
      val w = Window.orderBy(key).rangeBetween(-rangeBefore, 0)
      return aggs.foldLeft(df) { case (d, (a, name)) =>
        d.withColumn(name, a.over(w))
      }
    }
    val bucket: Column = bucketColumn(key, cuts)
    // (cut, target bucket) literals: bucket i (i ≥ 1) starts above
    // cuts(i−1); a row with key in (cut − r, cut] is borrowed into it
    val bands: Column =
      array(cuts.zipWithIndex.map { case (c, i) =>
        struct(lit(i + 1).as("b"), lit(c).as("cut"))
      }: _*)
    val own = struct(bucket.as("b"), lit(false).as("brw"))
    val hits = transform(
      filter(bands, s => key.cast("double") <= s.getField("cut") &&
        key.cast("double") > s.getField("cut") - lit(rangeBefore.toDouble)),
      s => struct(s.getField("b").as("b"), lit(true).as("brw")))
    val exploded = df
      .withColumn("_e", explode(concat(array(own), hits)))
      .withColumn("_bucket", col("_e.b"))
      .withColumn("_borrowed", col("_e.brw"))
      .drop("_e")
    val w2 = Window.partitionBy(col("_bucket")).orderBy(key)
      .rangeBetween(-rangeBefore, 0)
    val withAggs = aggs.foldLeft(exploded) { case (d, (a, name)) =>
      d.withColumn(name, a.over(w2))
    }
    withAggs.filter(!col("_borrowed")).drop("_bucket", "_borrowed")
  }

  /** The reference's label over the scalable global lag: bit-identical to
    * `Labeler.label` (unpartitioned window) but parallel. */
  def lagLabelGlobal(df: DataFrame, orderCols: Seq[String],
      bucketKey: Column, highCol: String = "high"): DataFrame =
    lagGlobal(df, orderCols, highCol, "_prev_high", bucketKey)
      .withColumn("buy_or_sell",
        Labeler.binaryLabel(col("_prev_high") > col(highCol)))
      .drop("_prev_high")
}
