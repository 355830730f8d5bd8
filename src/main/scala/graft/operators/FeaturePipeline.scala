package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.ColumnFeatures

/** The reference's full feature-engineering pipeline
  * (`G_2_rf_nordd_fe.py:37-352`, `G_2_rf_rdd_fe.py:59-566`; SURVEY.md §2.3
  * J2/J3, §2.4 A1–A3, §2.7).
  *
  * Reference shape: ~13 sequential joins — four per-minute feature DataFrames
  * built via `rdd.map` and joined back on `date` (J3), six daily aggregates
  * (`GROUP BY date_only AVG(...) ORDER BY date_only`) joined back on
  * `date_only` (J2), plus the label join (J1) and the avg_close/avg_open
  * joins. That is 8 shuffled aggregations + 13 shuffled joins for what is
  * semantically: 4 scalar projections + ONE daily aggregate + ONE join.
  *
  * [[fast]] is the Spark-first form:
  *   - per-minute features (macd, bollinger width, cci-diff, rsi-diff) are
  *     `withColumn` projections — the J3 joins disappear (each joined value
  *     is a pure function of the same row, SURVEY.md §2.3 J3);
  *   - all six daily aggregates compute in ONE `groupBy(date_only)` pass
  *     (single shuffle, map-side partial aggregation);
  *   - the daily table (1 row/trading day — ~2k rows for 8 years, always
  *     tiny relative to the minute table) broadcasts back: zero shuffle of
  *     the big side. At 100 TB the minute table never moves.
  *
  * [[faithful]] keeps the literal join topology (minus the JVM↔Python
  * round-trips, which have no Scala equivalent) for plan-shape benchmarks.
  *
  * Both produce the identical 36-feature schema of
  * `G_2_rf_nordd_fe.py:316-352` plus `buy_or_sell`, `date`, `date_only`.
  */
object FeaturePipeline {

  /** Raw indicator columns consumed (and then dropped) by the pipeline —
    * union of the reference's drop lists (`G_2_rf_nordd_fe.py:107-313`).
    * Includes the reference's `RSI18` quirk: dropping a column that never
    * existed is legal for Spark `drop` (SURVEY.md §2.12.7). */
  val consumedCols: Seq[String] = Seq(
    "macd510", "macd520", "macd1020", "macd1520", "macd1226",
    "ema5", "ema10", "ema15", "ema20",
    "upperband", "lowerband", "middleband",
    "CCI5", "CCI10", "CCI15",
    "RSI14", "RSI18", "RSI8",
    "MOM20", "MOM15", "MOM10",
    "sma5", "sma10", "sma15", "sma20",
    "KAMA10", "KAMA20", "KAMA30",
    "ADX5", "ADX10", "ADX20",
    "ROC5", "ROC10", "ROC20",
    "TRIMA5", "TRIMA10", "TRIMA20")

  /** The 36 assembled feature columns (`G_2_rf_nordd_fe.py:316-352`). */
  val featureCols: Seq[String] = Seq(
    "close", "high", "low", "open", "volume",
    "HT_TRENDLINE", "SAR", "APO", "MFI", "PPO",
    "slowk", "slowd", "fastk", "fastd", "fastksr", "fastdsr",
    "ULTOSC", "WILLR", "ATR", "Trange", "TYPPRICE", "HT_DCPERIOD", "BETA",
    "avg_close", "avg_close_prev_day", "avg_open",
    "macd", "bollinger_bands_width", "com_channel_index", "rsi",
    "momentum", "sma", "kama", "adx", "roc", "trima")

  /** Spark-first pipeline: one daily shuffle, one broadcast join, the rest
    * pure projections. */
  def fast(bars: DataFrame, useLead: Boolean = false): DataFrame = {
    val withDay = DailyAggregates.withDateOnly(bars)

    // ONE aggregation pass for everything keyed by day. avg_close_prev_day
    // uses the deterministic compat ordering (SURVEY.md §2.5 W3), computed
    // with the scalable global-lag plan (GlobalWindow) — identical values
    // to an unpartitioned window without its single-task sort (W4).
    val daily = GlobalWindow.lagGlobal(
      withDay.select(col("date_only"), col("date"), col("close"),
        col("open"),
        ColumnFeatures.smaMean.as("sma_row"),
        ColumnFeatures.kamaMean.as("kama_row"),
        ColumnFeatures.adxMean.as("adx_row"),
        ColumnFeatures.rocMean.as("roc_row"),
        ColumnFeatures.trimaMean.as("trima_row")),
      Seq("date_only", "date"), "close", "lag_close",
      bucketKey = unix_micros(col("date").cast("timestamp")))
      .groupBy(col("date_only"))
      .agg(
        avg(col("close")).as("avg_close"),
        avg(col("lag_close")).as("avg_close_prev_day"),
        avg(col("open")).as("avg_open"),
        avg(col("sma_row")).as("sma"),
        avg(col("kama_row")).as("kama"),
        avg(col("adx_row")).as("adx"),
        avg(col("roc_row")).as("roc"),
        avg(col("trima_row")).as("trima"))
      .withColumn("momentum", col("avg_close") - col("avg_close_prev_day"))

    // label over the scalable global window too (lead for the intent
    // variant, lag for compat) — the fast pipeline plans with NO
    // single-partition exchange at any stage
    val labeled =
      if (useLead)
        GlobalWindow.leadGlobal(withDay, Seq("date"), "high", "_off_high",
          bucketKey = unix_micros(col("date").cast("timestamp")))
          .withColumn("buy_or_sell",
            Labeler.binaryLabel(col("_off_high") > col("high")))
          .drop("_off_high")
      else
        GlobalWindow.lagLabelGlobal(withDay, Seq("date"),
          bucketKey = unix_micros(col("date").cast("timestamp")))

    labeled
      .join(broadcast(daily), Seq("date_only"))
      .withColumn("macd", ColumnFeatures.macd)
      .withColumn("bollinger_bands_width", ColumnFeatures.bollingerBandsWidth)
      .withColumn("com_channel_index", ColumnFeatures.comChannelIndex)
      .withColumn("rsi", ColumnFeatures.rsi)
      .drop(consumedCols: _*)
  }

  /** The 100 TB form of [[fast]]: a MULTI-SYMBOL bar table where every
    * window partitions by instrument symbol — no global-order operator
    * anywhere, so the plan scales with the symbol count instead of
    * funnelling through range-bucket stitches. Per symbol, the results
    * equal [[fast]] applied to that symbol's bars alone
    * (spec-asserted equivalence).
    *
    * Plan shape: ONE aggregation shuffle on (symbol, day), ONE window
    * shuffle on (symbol), one broadcast join back — the daily table is
    * #symbols × #days rows (broadcastable into the millions; swap the
    * broadcast for a plain equi-join beyond that, same semantics). */
  def fastPerSymbol(bars: DataFrame, symbolCol: String,
      useLead: Boolean = false): DataFrame = {
    val withDay = DailyAggregates.withDateOnly(bars)
    val sym = col(symbolCol)
    val wLag = org.apache.spark.sql.expressions.Window
      .partitionBy(sym).orderBy(col("date_only"), col("date"))
    val daily = withDay
      .select(sym, col("date_only"), col("date"), col("close"), col("open"),
        ColumnFeatures.smaMean.as("sma_row"),
        ColumnFeatures.kamaMean.as("kama_row"),
        ColumnFeatures.adxMean.as("adx_row"),
        ColumnFeatures.rocMean.as("roc_row"),
        ColumnFeatures.trimaMean.as("trima_row"))
      .withColumn("lag_close", lag(col("close"), 1).over(wLag))
      .groupBy(sym, col("date_only"))
      .agg(
        avg(col("close")).as("avg_close"),
        avg(col("lag_close")).as("avg_close_prev_day"),
        avg(col("open")).as("avg_open"),
        avg(col("sma_row")).as("sma"),
        avg(col("kama_row")).as("kama"),
        avg(col("adx_row")).as("adx"),
        avg(col("roc_row")).as("roc"),
        avg(col("trima_row")).as("trima"))
      .withColumn("momentum", col("avg_close") - col("avg_close_prev_day"))
    val labeled = Labeler.label(withDay, useLead = useLead,
      partitionCols = Seq(symbolCol), orderCols = Seq("date"))
    labeled
      .join(broadcast(daily), Seq(symbolCol, "date_only"))
      .withColumn("macd", ColumnFeatures.macd)
      .withColumn("bollinger_bands_width", ColumnFeatures.bollingerBandsWidth)
      .withColumn("com_channel_index", ColumnFeatures.comChannelIndex)
      .withColumn("rsi", ColumnFeatures.rsi)
      .drop(consumedCols: _*)
  }

  /** Reference-shaped pipeline: every feature computed in its own derived
    * DataFrame and equi-joined back, in the reference's order. Used to
    * benchmark the join-heavy plan against [[fast]].
    *
    * Each feature frame derives from the STABLE base lineage, not from the
    * accumulating join result. The reference derives from the accumulating
    * frame but cuts lineage at every `.rdd`/`toDF` boundary
    * (`G_2_rf_nordd_fe.py:88-103`); without such a cut, self-joining the
    * growing plan doubles the logical tree per join — 2^13 nodes by the
    * last join, which blows up analysis. Values are identical either way
    * (the consumed source columns pass through the joins unchanged). */
  def faithful(bars: DataFrame, useLead: Boolean = false): DataFrame = {
    val df = DailyAggregates.withDateOnly(bars)
    var data = df.join(DailyAggregates.avgCloseCompat(bars), Seq("date_only"))
    data = data.join(DailyAggregates.avgOpen(bars), Seq("date_only"))
    data = data.join(
      Labeler.label(df, useLead = useLead)
        .select(col("date"), col("buy_or_sell")),
      Seq("date"))

    // J3 per-minute feature joins (`G_2_rf_nordd_fe.py:88-169`)
    def joinMinute(d: DataFrame, name: String,
        expr: org.apache.spark.sql.Column, drops: Seq[String]): DataFrame =
      d.join(df.select(col("date"), expr.as(name)), Seq("date"))
        .drop(drops: _*)
    data = joinMinute(data, "macd", ColumnFeatures.macd,
      Seq("macd510", "macd520", "macd1020", "macd1520", "macd1226",
        "ema5", "ema10", "ema15", "ema20"))
    data = joinMinute(data, "bollinger_bands_width",
      ColumnFeatures.bollingerBandsWidth,
      Seq("upperband", "lowerband", "middleband"))
    data = joinMinute(data, "com_channel_index", ColumnFeatures.comChannelIndex,
      Seq("CCI5", "CCI10", "CCI15"))
    data = joinMinute(data, "rsi", ColumnFeatures.rsi,
      Seq("RSI14", "RSI18", "RSI8"))

    // J2 daily aggregate joins (`G_2_rf_nordd_fe.py:171-313`); momentum's
    // inputs live in the daily-aggregate frame, the rest in the base frame
    def joinDaily(d: DataFrame, name: String,
        rowExpr: org.apache.spark.sql.Column, drops: Seq[String],
        src: DataFrame = df): DataFrame = {
      val dailyAgg = src.select(col("date_only"), rowExpr.as(name))
        .groupBy(col("date_only")).agg(avg(col(name)).as(name))
        .orderBy(col("date_only"))
      d.join(dailyAgg, Seq("date_only")).drop(drops: _*)
    }
    data = joinDaily(data, "momentum", ColumnFeatures.momentum,
      Seq("MOM20", "MOM15", "MOM10"),
      src = DailyAggregates.avgCloseCompat(bars))
    data = joinDaily(data, "sma", ColumnFeatures.smaMean,
      Seq("sma5", "sma10", "sma15", "sma20"))
    data = joinDaily(data, "kama", ColumnFeatures.kamaMean,
      Seq("KAMA10", "KAMA20", "KAMA30"))
    data = joinDaily(data, "adx", ColumnFeatures.adxMean,
      Seq("ADX5", "ADX10", "ADX20"))
    data = joinDaily(data, "roc", ColumnFeatures.rocMean,
      Seq("ROC5", "ROC10", "ROC20"))
    data = joinDaily(data, "trima", ColumnFeatures.trimaMean,
      Seq("TRIMA5", "TRIMA10", "TRIMA20"))
    data
  }
}
