package graftbench

import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.schema.StockSchema

/** Seeded input generators. Each one is a pure function of the workload
  * seed and a per-purpose tag, so the same seed always yields the same
  * inputs; the program under test only ever sees the generated frames or
  * the parquet written from them. */
object Gen {

  def rng(seed: Long, tag: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + tag * 0xBF58476D1CE4E5B9L)

  // ---- stock_ml: the reference's 60-column minute-bar table ----

  private def sma(x: Array[Double], w: Int): Array[Double] = {
    val out = new Array[Double](x.length)
    var sum = 0.0
    var i = 0
    while (i < x.length) {
      sum += x(i)
      if (i >= w) sum -= x(i - w)
      out(i) = sum / math.min(i + 1, w)
      i += 1
    }
    out
  }

  private def ema(x: Array[Double], w: Int): Array[Double] = {
    val a = 2.0 / (w + 1)
    val out = new Array[Double](x.length)
    var i = 0
    while (i < x.length) {
      out(i) = if (i == 0) x(0) else a * x(i) + (1 - a) * out(i - 1)
      i += 1
    }
    out
  }

  private def rolling(x: Array[Double], w: Int)(f: Seq[Double] => Double) =
    Array.tabulate(x.length)(i => f(x.slice(math.max(0, i - w + 1), i + 1).toSeq))

  private def std(x: Array[Double], w: Int) = rolling(x, w) { s =>
    val m = s.sum / s.size
    math.sqrt(s.map(v => (v - m) * (v - m)).sum / s.size)
  }

  private def lag(x: Array[Double], k: Int) =
    Array.tabulate(x.length)(i => x(math.max(0, i - k)))

  private def zip(a: Array[Double], b: Array[Double])(f: (Double, Double) => Double) =
    Array.tabulate(a.length)(i => f(a(i), b(i)))

  /** `n` minute bars of one random-walk price (391-minute trading days,
    * unique timestamps) with every indicator column derived from the
    * walk — moving averages, bands, oscillators, momentum — so the
    * label (`prev high > high`) is learnable but not trivial. */
  def stockBars(spark: SparkSession, seed: Long, n: Int): DataFrame = {
    val r = rng(seed, 1)
    val open, high, low, close = new Array[Double](n)
    val volume = new Array[Int](n)
    var c = 100.0
    for (i <- 0 until n) {
      val o = c + 0.02 * r.nextGaussian()
      c = o * math.exp(0.0015 * r.nextGaussian() + 0.0004 * math.sin(i / 50.0))
      open(i) = o
      close(i) = c
      high(i) = math.max(o, c) + 0.05 * math.abs(r.nextGaussian())
      low(i) = math.min(o, c) - 0.05 * math.abs(r.nextGaussian())
      volume(i) = 1000 + r.nextInt(500) + (math.abs(c - o) * 2000).toInt
    }
    val tp = Array.tabulate(n)(i => (high(i) + low(i) + close(i)) / 3)
    val diff = zip(close, lag(close, 1))(_ - _)
    val gain = diff.map(math.max(_, 0.0))
    val loss = diff.map(d => math.max(-d, 0.0))
    val range = zip(high, low)(_ - _)
    val prevClose = lag(close, 1)
    val trange = Array.tabulate(n)(i => Seq(range(i),
      math.abs(high(i) - prevClose(i)), math.abs(low(i) - prevClose(i))).max)
    def stoch(w: Int) = {
      val lo = rolling(low, w)(_.min)
      val hi = rolling(high, w)(_.max)
      Array.tabulate(n)(i => 100 * (close(i) - lo(i)) / (hi(i) - lo(i) + 1e-9))
    }
    def rsi(w: Int) = zip(ema(gain, w), ema(loss, w))((g, l) =>
      100 - 100 / (1 + g / (l + 1e-9)))
    def cci(w: Int) = {
      val m = sma(tp, w)
      val s = std(tp, w)
      Array.tabulate(n)(i => (tp(i) - m(i)) / (0.015 * s(i) + 1e-9))
    }
    def mom(k: Int) = zip(close, lag(close, k))(_ - _)
    def roc(k: Int) = zip(close, lag(close, k))((a, b) => (a / b - 1) * 100)
    def adx(w: Int) = sma(Array.tabulate(n)(i =>
      100 * math.abs(diff(i)) / (range(i) + 1e-9)), w)
    val e = Map(5 -> ema(close, 5), 10 -> ema(close, 10), 12 -> ema(close, 12),
      15 -> ema(close, 15), 20 -> ema(close, 20), 26 -> ema(close, 26))
    val mid = sma(close, 20)
    val sd20 = std(close, 20)
    val fastk = stoch(14)
    val fastksr = stoch(5)
    val fastk28 = sma(fastk, 28)
    val upVol = Array.tabulate(n)(i =>
      if (i > 0 && tp(i) > tp(i - 1)) volume(i).toDouble else 0.0)
    val noise = Array.fill(n)(r.nextGaussian())
    val cols: Map[String, Array[Double]] = Map(
      "close" -> close, "high" -> high, "low" -> low, "open" -> open,
      "sma5" -> sma(close, 5), "sma10" -> sma(close, 10),
      "sma15" -> sma(close, 15), "sma20" -> mid,
      "ema5" -> e(5), "ema10" -> e(10), "ema15" -> e(15), "ema20" -> e(20),
      "upperband" -> zip(mid, sd20)(_ + 2 * _), "middleband" -> mid,
      "lowerband" -> zip(mid, sd20)(_ - 2 * _),
      "HT_TRENDLINE" -> ema(e(10), 10),
      "KAMA10" -> ema(tp, 10), "KAMA20" -> ema(tp, 20), "KAMA30" -> ema(tp, 30),
      "SAR" -> rolling(low, 10)(_.min),
      "TRIMA5" -> sma(sma(close, 5), 5), "TRIMA10" -> sma(sma(close, 10), 10),
      "TRIMA20" -> sma(sma(close, 20), 20),
      "ADX5" -> adx(5), "ADX10" -> adx(10), "ADX20" -> adx(20),
      "APO" -> zip(e(5), e(20))(_ - _),
      "CCI5" -> cci(5), "CCI10" -> cci(10), "CCI15" -> cci(15),
      "macd510" -> zip(e(5), e(10))(_ - _), "macd520" -> zip(e(5), e(20))(_ - _),
      "macd1020" -> zip(e(10), e(20))(_ - _),
      "macd1520" -> zip(e(15), e(20))(_ - _),
      "macd1226" -> zip(e(12), e(26))(_ - _),
      "MFI" -> zip(sma(upVol, 14), sma(volume.map(_.toDouble), 14))(100 * _ / _),
      "MOM10" -> mom(10), "MOM15" -> mom(15), "MOM20" -> mom(20),
      "ROC5" -> roc(5), "ROC10" -> roc(10), "ROC20" -> roc(20),
      "PPO" -> zip(zip(e(5), e(20))(_ - _), e(20))(100 * _ / _),
      "RSI14" -> rsi(14), "RSI8" -> rsi(8),
      "fastk" -> fastk, "fastd" -> sma(fastk, 3),
      "slowk" -> sma(fastk, 3), "slowd" -> sma(sma(fastk, 3), 3),
      "fastksr" -> fastksr, "fastdsr" -> sma(fastksr, 3),
      "ULTOSC" -> Array.tabulate(n)(i =>
        (4 * fastksr(i) + 2 * fastk(i) + fastk28(i)) / 7),
      "WILLR" -> fastk.map(_ - 100),
      "ATR" -> ema(trange, 14), "Trange" -> trange, "TYPPRICE" -> tp,
      "HT_DCPERIOD" -> sma(noise, 20).map(20 + 5 * _),
      "BETA" -> sma(zip(diff, lag(diff, 1))(_ * _), 5))
    require(StockSchema.indicatorCols.forall(cols.contains),
      "generator misses an indicator column")
    val ordered = StockSchema.indicatorCols.map(cols)
    val rows = (0 until n).map { i =>
      val epoch = 1420070400L + (i / 391) * 86400L + (570 + i % 391) * 60L
      Row.fromSeq(new java.sql.Timestamp(epoch * 1000L) +: volume(i) +:
        ordered.map(_(i)))
    }
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), StockSchema.schema)
  }

  // ---- lake_dml: multi-symbol minute bars ----

  final case class Bar(open: Double, high: Double, low: Double,
      close: Double, volume: Long)

  val barSchema: StructType = StructType(Seq(
    StructField("sym", LongType, nullable = false),
    StructField("minute", LongType, nullable = false),
    StructField("open", DoubleType, nullable = false),
    StructField("high", DoubleType, nullable = false),
    StructField("low", DoubleType, nullable = false),
    StructField("close", DoubleType, nullable = false),
    StructField("volume", LongType, nullable = false)))

  /** Uncompressed width of one bar row: seven 8-byte fields. */
  val barBytes: Long = 56L

  def key(sym: Long, minute: Long): Long = (minute << 16) | sym
  def symOf(k: Long): Long = k & 0xFFFFL
  def minuteOf(k: Long): Long = k >>> 16

  def randomBar(r: SplittableRandom, sym: Long): Bar = {
    val c = 50.0 + 3.0 * sym + 5.0 * r.nextDouble()
    val o = c + 0.1 * r.nextGaussian()
    Bar(o, math.max(o, c) + 0.2 * r.nextDouble(),
      math.min(o, c) - 0.2 * r.nextDouble(), c, 100L + r.nextInt(10000))
  }

  /** Every (sym, minute) bar for `syms` symbols over `[from, until)`,
    * sorted by minute then symbol. */
  def grid(r: SplittableRandom, syms: Int, from: Long, until: Long)
      : Seq[(Long, Bar)] =
    for (m <- from until until; s <- 0L until syms.toLong)
      yield key(s, m) -> randomBar(r, s)

  def frame(spark: SparkSession, bars: Seq[(Long, Bar)]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(bars.map { case (k, b) =>
      Row(symOf(k), minuteOf(k), b.open, b.high, b.low, b.close, b.volume)
    }: _*), barSchema)

  /** A large seeded grid generated inside Spark: `files` partitions of
    * contiguous minute ranges (so the table is range-clustered on
    * `minute` by construction), prices from `rand(seed)`. */
  def gridFrame(spark: SparkSession, seed: Long, syms: Int, minutes: Long,
      files: Int): DataFrame = {
    val s = syms.toLong
    spark.range(0L, s * minutes, 1L, files)
      .select((col("id") % s).as("sym"), (col("id") / s).cast("long").as("minute"))
      .withColumn("close", lit(50.0) + col("sym") * 3.0 + rand(seed) * 5.0)
      .withColumn("open", col("close") + randn(seed + 1) * 0.1)
      .withColumn("high", greatest(col("open"), col("close")) + rand(seed + 2) * 0.2)
      .withColumn("low", least(col("open"), col("close")) - rand(seed + 3) * 0.2)
      .withColumn("volume", (lit(100) + rand(seed + 4) * 10000).cast("long"))
      .select(barSchema.fieldNames.map(col).toIndexedSeq: _*)
  }

  def rowBar(row: Row): (Long, Bar) =
    key(row.getLong(0), row.getLong(1)) -> Bar(row.getDouble(2),
      row.getDouble(3), row.getDouble(4), row.getDouble(5), row.getLong(6))

  /** Order-independent digest of a bar set: row count plus the wrapping
    * sum of a 64-bit mix of every field. */
  def digest(bars: Iterator[(Long, Bar)]): (Long, Long) = {
    var n = 0L
    var h = 0L
    bars.foreach { case (k, b) =>
      n += 1
      h += mix(mix(mix(mix(mix(mix(k) ^ java.lang.Double.doubleToLongBits(b.open))
        ^ java.lang.Double.doubleToLongBits(b.high))
        ^ java.lang.Double.doubleToLongBits(b.low))
        ^ java.lang.Double.doubleToLongBits(b.close)) ^ b.volume)
    }
    (n, h)
  }

  private def mix(x0: Long): Long = {
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }
}
