package graft

import java.nio.file.Files

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.sources.{StatsIndex, ZOrder}

/** File-level skipping index: pruning must be CONSERVATIVE (pruned scan
  * ≡ full scan for every predicate — the index accelerates, the filter
  * decides) and, over a z-ordered layout, actually selective (most
  * files skipped for a small box). */
class StatsIndexSpec extends SparkSpec {
  import spark.implicits._

  private lazy val base = {
    val dir = Files.createTempDirectory("graft_sidx_").toString
    val df = spark.range(200000).select(
      pmod(hash(col("id")), lit(1024)).as("x"),
      pmod(hash(col("id") + 7919), lit(1024)).as("y"),
      col("id").as("payload"))
    ZOrder.write(df, s"$dir/data", Seq("x", "y"), bits = 10, numFiles = 24)
    StatsIndex.build(spark, s"$dir/data", Seq("x", "y"), s"$dir/idx")
    dir
  }

  test("pruned read equals the full-scan filter on random boxes") {
    val rnd = new scala.util.Random(4242)
    val full = spark.read.parquet(s"$base/data")
    (1 to 5).foreach { trial =>
      val (xLo, yLo) = (rnd.nextInt(900).toLong, rnd.nextInt(900).toLong)
      val w = 20 + rnd.nextInt(200)
      val ranges = Seq(("x", xLo, xLo + w), ("y", yLo, yLo + w))
      val pruned = StatsIndex.readPruned(spark, s"$base/data", s"$base/idx",
        ranges)
      val expect = full
        .filter(col("x").between(xLo, xLo + w) &&
          col("y").between(yLo, yLo + w))
      val (gotN, wantN) = (pruned.count(), expect.count())
      assert(gotN == wantN, s"trial $trial: $gotN rows pruned vs $wantN full")
      val gotSum = pruned.agg(sum(col("payload"))).head.getLong(0)
      val wantSum = expect.agg(sum(col("payload"))).head.getLong(0)
      assert(gotSum == wantSum, s"trial $trial: payload sums differ")
    }
  }

  test("pruned read equals the full-scan filter on random point " +
    "probes (long, double incl. signed zeros, string)") {
    val rnd = new scala.util.Random(777)
    val dir = Files.createTempDirectory("graft_sidx_pp_").toString
    // doubles include both zeros and negatives; the -0.0 DATA rows are
    // the case the bloom arm's ±0.0 guard protects (a 0.0 probe must
    // match them even though the bit patterns hash differently)
    val df = spark.range(40000).select(
      col("id").as("k"),
      when(col("id") % 100 === 0, lit(-0.0d))
        .when(col("id") % 100 === 1, lit(0.0d))
        .otherwise((col("id") % 1000 - 500) * lit(0.25)).as("d"),
      concat(lit("s"), (col("id") % 797).cast("string")).as("s"),
      col("id").as("payload"))
    graft.sources.PartitionedLake.writeClustered(df, s"$dir/data",
      Seq("payload"), numFiles = 6)
    StatsIndex.build(spark, s"$dir/data", Seq("k", "d", "s"),
      s"$dir/idx", bloomCols = Seq("k", "d", "s"), bloomItems = 50000,
      bloomFpp = 0.001)
    val full = spark.read.parquet(s"$dir/data")
    def check(r: StatsIndex.ColRange,
        pred: org.apache.spark.sql.Column, tag: String): Unit = {
      val got = StatsIndex.readPrunedTyped(spark, s"$dir/data",
        s"$dir/idx", Seq(r)).agg(count(lit(1)), sum(col("payload")))
        .head()
      val want = full.filter(pred)
        .agg(count(lit(1)), sum(col("payload"))).head()
      assert(got == want, s"$tag: pruned $got vs full $want")
    }
    (1 to 8).foreach { trial =>
      val kv = rnd.nextInt(50000).toLong // present ~80%, absent ~20%
      check(StatsIndex.LongEquals("k", kv), col("k") === kv,
        s"trial $trial long $kv")
      val dv = (rnd.nextInt(1200) - 600) * 0.25
      check(StatsIndex.DoubleEquals("d", dv), col("d") === dv,
        s"trial $trial double $dv")
      val sv = "s" + rnd.nextInt(900)
      check(StatsIndex.StringEquals("s", sv), col("s") === sv,
        s"trial $trial string $sv")
    }
    // both zero probes see every ±0.0 data row (SQL: 0.0 = -0.0)
    check(StatsIndex.DoubleEquals("d", 0.0), col("d") === 0.0, "zero")
    check(StatsIndex.DoubleEquals("d", -0.0), col("d") === -0.0,
      "negative zero")
  }

  test("a small box over the z-ordered layout skips most files") {
    val all = StatsIndex.prunedFiles(spark, s"$base/idx", Nil)
    assert(all.size >= 16, s"expected many files, got ${all.size}")
    val hit = StatsIndex.prunedFiles(spark, s"$base/idx",
      Seq(("x", 100L, 160L), ("y", 700L, 760L)))
    assert(hit.size < all.size / 2,
      s"box hit ${hit.size}/${all.size} files — index not selective")
  }

  test("refresh indexes only the churn and stays correct") {
    val dir = Files.createTempDirectory("graft_sidx_r_").toString
    val mk = (lo: Int, n: Int) => (lo until lo + n)
      .map(i => (i.toLong, (i * 3).toLong)).toDF("x", "payload")
    mk(0, 1000).coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/data")
    StatsIndex.build(spark, s"$dir/data", Seq("x"), s"$dir/idx")
    val before = StatsIndex.prunedFiles(spark, s"$dir/idx", Nil)
    // append a file covering a disjoint x range
    mk(5000, 1000).coalesce(1).write.mode("append").parquet(s"$dir/data")
    val (added, removed) = StatsIndex.refresh(spark, s"$dir/data",
      Seq("x"), s"$dir/idx")
    assert(added == 1 && removed == 0, s"churn ($added, $removed)")
    val after = StatsIndex.prunedFiles(spark, s"$dir/idx", Nil)
    assert(after.size == before.size + 1)
    // the new range is found, and only through its own file
    val hit = StatsIndex.prunedFiles(spark, s"$dir/idx",
      Seq(("x", 5100L, 5200L)))
    assert(hit.size == 1, s"expected the appended file only, got $hit")
    val rows = StatsIndex.readPruned(spark, s"$dir/data", s"$dir/idx",
      Seq(("x", 5100L, 5200L))).count()
    assert(rows == 101)
    // remove the original file: refresh drops its index rows
    val gone = before.head
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new org.apache.hadoop.fs.Path(gone)
    p.getFileSystem(conf).delete(p, false)
    val (a2, r2) = StatsIndex.refresh(spark, s"$dir/data", Seq("x"),
      s"$dir/idx")
    assert(a2 == 0 && r2 == 1, s"churn ($a2, $r2)")
    assert(!StatsIndex.prunedFiles(spark, s"$dir/idx", Nil).contains(gone))
  }

  test("all-null column stats stay conservative: pruned == full filter") {
    val dir = Files.createTempDirectory("graft_sidx_n_").toString
    // file A: y entirely null (no stats) -> indexed full-range, kept;
    // file B: y populated
    spark.range(1000).select(col("id").as("x"),
      lit(null).cast("long").as("y"), col("id").as("payload"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/data")
    spark.range(1000, 2000).select(col("id").as("x"),
      (col("id") % 100).as("y"), col("id").as("payload"))
      .coalesce(1).write.mode("append").parquet(s"$dir/data")
    StatsIndex.build(spark, s"$dir/data", Seq("x", "y"), s"$dir/idx")
    val got = StatsIndex.readPruned(spark, s"$dir/data", s"$dir/idx",
      Seq(("y", 10L, 20L))).count()
    val want = spark.read.parquet(s"$dir/data")
      .filter(col("y").between(10, 20)).count()
    assert(got == want && want == 110, s"pruned $got vs full $want")
    // and the null file itself is never skipped (full-range row)
    val kept = StatsIndex.prunedFiles(spark, s"$dir/idx",
      Seq(("y", 10L, 20L)))
    assert(kept.size == 2, s"all-null file must be kept: $kept")
  }

  // --- typed stats (v2): double / timestamp / string pruning ---

  private lazy val typedBase = {
    val dir = Files.createTempDirectory("graft_sidx_t_").toString
    // doubles with fractional spread, millis timestamps, short strings —
    // clustered on the double so files cover narrow price spans
    val df = spark.range(100000).select(
      (pmod(hash(col("id")), lit(100000)).cast("double") / 7.0)
        .as("price"),
      timestamp_millis(lit(725846400000L) // 1993-01-01 UTC
        + pmod(hash(col("id") + 13), lit(100000000)).cast("long") * 1000)
        .as("ts"),
      concat(lit("cust#"),
        lpad(pmod(hash(col("id") + 7), lit(1000)).cast("string"), 4, "0"))
        .as("name"),
      col("id").as("payload"))
    graft.sources.PartitionedLake.writeClustered(df, s"$dir/data",
      Seq("price"), numFiles = 16)
    StatsIndex.build(spark, s"$dir/data", Seq("price", "ts", "name"),
      s"$dir/idx")
    dir
  }

  test("typed pruned read equals full-scan filter on fractional boxes") {
    val rnd = new scala.util.Random(777)
    val full = spark.read.parquet(s"$typedBase/data")
    // random fractional boxes PLUS the floor/ceil edge: integral bounds
    // that sit exactly on attainable values (k/7 grid hits integers at
    // multiples of 7)
    val boxes = (1 to 4).map { _ =>
      val lo = rnd.nextDouble() * 12000
      (lo, lo + rnd.nextDouble() * 2000)
    } :+ ((3000.0, 3500.0)) // exact-integer edge bounds
    boxes.zipWithIndex.foreach { case ((lo, hi), trial) =>
      val pruned = StatsIndex.readPrunedTyped(spark, s"$typedBase/data",
        s"$typedBase/idx", Seq(StatsIndex.DoubleRange("price", lo, hi)))
      val expect = full.filter(col("price").between(lo, hi))
      assert(pruned.count() == expect.count(), s"box $trial rows")
      val g = pruned.agg(sum(col("payload"))).head.getLong(0)
      val w = expect.agg(sum(col("payload"))).head.getLong(0)
      assert(g == w, s"box $trial payload sums differ")
    }
  }

  test("a narrow double box over the clustered layout skips most files") {
    val all = StatsIndex.prunedTyped(spark, s"$typedBase/idx", Nil)
    assert(all.size >= 8, s"expected many files, got ${all.size}")
    val hit = StatsIndex.prunedTyped(spark, s"$typedBase/idx",
      Seq(StatsIndex.DoubleRange("price", 4000.25, 4100.75)))
    assert(hit.size < all.size / 2,
      s"double box hit ${hit.size}/${all.size} files — not selective")
  }

  test("timestamp range pruning is conservative and unit-normalized") {
    val full = spark.read.parquet(s"$typedBase/data")
    val lo = java.time.Instant.parse("1993-05-01T00:00:00Z")
    val hi = java.time.Instant.parse("1993-06-15T12:00:00.000500Z")
    val pruned = StatsIndex.readPrunedTyped(spark, s"$typedBase/data",
      s"$typedBase/idx", Seq(StatsIndex.TimestampRange("ts", lo, hi)))
    val expect = full.filter(col("ts").between(lit(lo), lit(hi)))
    assert(pruned.count() == expect.count() && expect.count() > 0)
  }

  test("string range pruning is conservative under truncation") {
    val dir = Files.createTempDirectory("graft_sidx_s_").toString
    // keys longer than the 64-char truncation (60-char shared prefix +
    // tag + id = 69 chars), with the aa/zz tag INSIDE the kept prefix:
    // min is a prefix (≤ true min), max needs the incremented upper
    val longKey = (tag: String) => concat(lit("p" * 60 + tag + "-"),
      lpad(col("id").cast("string"), 6, "0"))
    spark.range(2000).select(longKey("aa").as("k"), col("id").as("v"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/data")
    spark.range(2000).select(longKey("zz").as("k"), col("id").as("v"))
      .coalesce(1).write.mode("append").parquet(s"$dir/data")
    StatsIndex.build(spark, s"$dir/data", Seq("k"), s"$dir/idx")
    val full = spark.read.parquet(s"$dir/data")
    val (lo, hi) = ("p" * 60 + "aa-000100", "p" * 60 + "aa-000500")
    val pruned = StatsIndex.readPrunedTyped(spark, s"$dir/data",
      s"$dir/idx", Seq(StatsIndex.StringRange("k", lo, hi)))
    val expect = full.filter(col("k").between(lo, hi))
    assert(pruned.count() == expect.count() && expect.count() == 401)
    // the zz file's truncated min ("p"*60 + "zz-0") still sorts above
    // hi, so it IS skippable even through 64-char truncated stats
    val kept = StatsIndex.prunedTyped(spark, s"$dir/idx",
      Seq(StatsIndex.StringRange("k", lo, hi)))
    assert(kept.size == 1, s"expected the aa file only, got ${kept.size}")
  }

  test("truncatedUpper: surrogate-aware increments never emit a bound " +
    "that UTF-8-encodes smaller than the data") {
    def validUtf16(s: String): Boolean = { // no unpaired surrogates
      var i = 0
      while (i < s.length) {
        if (Character.isHighSurrogate(s.charAt(i))) {
          if (i + 1 >= s.length ||
            !Character.isLowSurrogate(s.charAt(i + 1))) return false
          i += 2
        } else if (Character.isLowSurrogate(s.charAt(i))) return false
        else i += 1
      }
      true
    }
    def utf8Gt(a: String, b: String): Boolean = { // a > b in byte order
      val (x, y) = (a.getBytes("UTF-8"), b.getBytes("UTF-8"))
      val n = math.min(x.length, y.length)
      var i = 0
      while (i < n) {
        val d = (x(i) & 0xff) - (y(i) & 0xff)
        if (d != 0) return d > 0
        i += 1
      }
      x.length > y.length
    }
    val emoji = new String(Character.toChars(0x1F600))
    val cases = Seq(
      "a" * 70, // plain ASCII past the cut
      "a" * 63 + emoji + "tail", // pair SPLIT by the 64-char cut
      "a" * 62 + emoji + "tail", // whole pair just inside the cut
      "a" * 63 + 0xD7FF.toChar + "tail", // successor would be a surrogate
      "a" * 63 + 0xFFFF.toChar + "tail", // BMP max rolls to U+10000
      new String(Character.toChars(0x10FFFF)) * 33) // no successor
    for (s <- cases) {
      StatsIndex.truncatedUpper(s) match {
        case Some(u) =>
          assert(validUtf16(u), s"unpaired surrogate in bound for: $s")
          assert(utf8Gt(u, s), s"bound '$u' not > input (byte order)")
        case None =>
          assert(s.forall(c => Character.isSurrogate(c)),
            s"only an all-supplementary-max string may be unbounded: $s")
      }
      assert(validUtf16(StatsIndex.truncatedLower(s)))
    }
    // untruncated strings pass through
    assert(StatsIndex.truncatedUpper("short").contains("short"))
  }

  test("string bounds around the truncation cut: a pair-splitting max " +
    "must not prune its own file") {
    val dir = Files.createTempDirectory("graft_sidx_sur_").toString
    val emoji = new String(Character.toChars(0x1F600))
    // the file max is 63 'a's + emoji: the old bound incremented the
    // split pair's high half into a lone surrogate, which UTF-8-encodes
    // as '?' (0x3F) — byte-wise BELOW this probe's lo — wrongly pruning
    // the file that contains the matching row
    Seq(("a" * 63 + emoji + "m", 1L), ("a" * 10, 2L))
      .toDF("s", "v").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/data")
    StatsIndex.build(spark, s"$dir/data", Seq("s"), s"$dir/idx")
    val lo = "a" * 63 + "b"
    val hi = "a" * 63 + new String(Character.toChars(0x10FFFF))
    val r = StatsIndex.StringRange("s", lo, hi)
    val full = spark.read.parquet(s"$dir/data")
      .filter(col("s").between(lo, hi))
    val pruned = StatsIndex.readPrunedTyped(spark, s"$dir/data",
      s"$dir/idx", Seq(r))
    assert(full.count() == 1, "fixture row must match the probe")
    assert(pruned.count() == 1,
      "surrogate-mangled upper bound pruned the matching file")
  }

  test("DATE columns prune under timestamp probes (days vs micros)") {
    val dir = Files.createTempDirectory("graft_sidx_d_").toString
    // 800 days from 2020-01-01, clustered so files span narrow ranges
    val df = spark.range(8000).select(
      date_add(lit(java.sql.Date.valueOf("2020-01-01")),
        (col("id") / 10).cast("int")).as("d"),
      col("id").as("v"))
    graft.sources.PartitionedLake.writeClustered(df, s"$dir/data",
      Seq("v"), numFiles = 8)
    StatsIndex.build(spark, s"$dir/data", Seq("d"), s"$dir/idx")
    // the index must carry DATE stats under their own kind
    val kinds = StatsIndex.readIndex(spark, s"$dir/idx")
      .filter(col("col") === "d").select(col("kind"))
      .distinct().collect().map(_.getString(0)).toSeq
    assert(kinds == Seq("date"), s"date column indexed as $kinds")
    val lo = java.time.Instant.parse("2020-06-01T00:00:00Z")
    val hi = java.time.Instant.parse("2020-08-15T00:00:00Z")
    val r = StatsIndex.TimestampRange("d", lo, hi)
    val full = spark.read.parquet(s"$dir/data")
      .filter(col("d").between(lit(lo), lit(hi)))
    val pruned = StatsIndex.readPrunedTyped(spark, s"$dir/data",
      s"$dir/idx", Seq(r))
    // correctness: pruned scan == full filter, and the result is real
    assert(pruned.count() == full.count() && full.count() > 0)
    // effectiveness: a ~10% window skips files (before the date kind,
    // day-valued stats compared against micros excluded EVERY file)
    val kept = StatsIndex.prunedTyped(spark, s"$dir/idx", Seq(r))
    assert(kept.nonEmpty && kept.size < 8,
      s"date probe kept ${kept.size}/8 files")
    // a LongRange in raw epoch days composes with the same stats
    val d0 = java.time.LocalDate.parse("2020-06-01").toEpochDay
    val keptLong = StatsIndex.prunedTyped(spark, s"$dir/idx",
      Seq(StatsIndex.LongRange("d", d0, d0 + 75)))
    assert(keptLong.nonEmpty && keptLong.size < 8)
  }

  test("NaN-polluted double stats fall back to full range (never skip)") {
    val dir = Files.createTempDirectory("graft_sidx_nan_").toString
    spark.range(1000).select(
      when(col("id") % 100 === 0, lit(Double.NaN))
        .otherwise(col("id").cast("double")).as("d"),
      col("id").as("v"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/data")
    StatsIndex.build(spark, s"$dir/data", Seq("d"), s"$dir/idx")
    // whatever the writer put in the stats, the file must survive every
    // box that matches any real value
    val kept = StatsIndex.prunedTyped(spark, s"$dir/idx",
      Seq(StatsIndex.DoubleRange("d", 500.0, 600.0)))
    assert(kept.size == 1, "file with NaN-polluted stats was skipped")
  }

  test("nested layouts index their leaf files; empty dirs fail fast") {
    val dir = Files.createTempDirectory("graft_sidx_nest_").toString
    spark.range(1000).select((col("id") % 7).as("part"),
      col("id").as("x"))
      .write.partitionBy("part").mode("overwrite").parquet(s"$dir/data")
    // v1 listed only the top level → zero files → empty index → silent
    // 0-row readPruned; v2 must find the leaves (ADVICE r4)
    StatsIndex.build(spark, s"$dir/data", Seq("x"), s"$dir/idx")
    val files = StatsIndex.prunedTyped(spark, s"$dir/idx", Nil)
    assert(files.size >= 7, s"expected per-partition leaves, got $files")
    val got = StatsIndex.readPruned(spark, s"$dir/data", s"$dir/idx",
      Seq(("x", 10L, 20L))).count()
    assert(got == 11, s"nested pruned read returned $got rows")
    val empty = Files.createTempDirectory("graft_sidx_e_").toString
    val ex = intercept[IllegalArgumentException] {
      StatsIndex.build(spark, empty, Seq("x"), s"$empty/idx")
    }
    assert(ex.getMessage.contains("no .parquet files"))
  }

  test("long-box query against double stats stays conservative") {
    // integral query API over a double column: ulp-widened bounds must
    // keep every file holding matching values
    val full = spark.read.parquet(s"$typedBase/data")
    val pruned = StatsIndex.readPrunedTyped(spark, s"$typedBase/data",
      s"$typedBase/idx", Seq(StatsIndex.LongRange("price", 2000, 2100)))
    val expect = full.filter(col("price").between(2000L, 2100L))
    assert(pruned.count() == expect.count() && expect.count() > 0)
  }

  test("constraints on an unindexed column keep every file") {
    val all = StatsIndex.prunedFiles(spark, s"$base/idx", Nil)
    val kept = StatsIndex.prunedFiles(spark, s"$base/idx",
      Seq(("payload_missing", 0L, 10L)))
    assert(kept == all, "unindexed column must never prune")
  }

  // --- bloom sidecar rows: point-probe file pruning ---

  private lazy val bloomBase = {
    val dir = Files.createTempDirectory("graft_sidx_bl_").toString
    // lake clustered on (x, y); doc_id/sname are high-cardinality keys
    // UNCORRELATED with the layout, so every file spans nearly the full
    // key range and min/max can never prune a point probe — the shape
    // the bloom arm exists for. doc_id = id * odd-constant is injective
    // over Long: each key lives in exactly one row, hence one file.
    val df = spark.range(60000).select(
      pmod(hash(col("id")), lit(1024)).as("x"),
      pmod(hash(col("id") + 7919), lit(1024)).as("y"),
      (col("id") * 2654435761L).as("doc_id"),
      concat(lit("doc-"), col("id").cast("string")).as("sname"),
      col("id").as("payload"))
    ZOrder.write(df, s"$dir/data", Seq("x", "y"), bits = 10, numFiles = 12)
    StatsIndex.build(spark, s"$dir/data", Seq("x", "y"), s"$dir/idx",
      bloomCols = Seq("doc_id", "sname"), bloomItems = 20000,
      bloomFpp = 0.001)
    dir
  }

  test("bloom rows prune point probes that min/max cannot") {
    val all = StatsIndex.prunedTyped(spark, s"$bloomBase/idx", Nil)
    assert(all.size >= 8, s"expected many files, got ${all.size}")
    // min/max is useless here: every file spans ~the full doc_id range
    val byStats = StatsIndex.prunedTyped(spark, s"$bloomBase/idx",
      Seq(StatsIndex.LongRange("doc_id", 12345L * 2654435761L,
        12345L * 2654435761L)))
    assert(byStats.size == all.size,
      s"uncorrelated key should not range-prune: ${byStats.size}")
    // a present key: bloom keeps (essentially) only its own file, and
    // the pruned read is exactly the full-scan filter
    val present = StatsIndex.LongEquals("doc_id", 12345L * 2654435761L)
    val kept = StatsIndex.prunedTyped(spark, s"$bloomBase/idx",
      Seq(present))
    assert(kept.nonEmpty && kept.size <= 2,
      s"present-key probe kept ${kept.size}/${all.size} files")
    val got = StatsIndex.readPrunedTyped(spark, s"$bloomBase/data",
      s"$bloomBase/idx", Seq(present))
    assert(got.count() == 1 &&
      got.select(col("payload")).head.getLong(0) == 12345L)
    // an absent key: with 12 files x fpp 0.001 the filters rule every
    // file out (deterministic — Spark's sketch has no random seed)
    val absent = StatsIndex.LongEquals("doc_id", 13L) // 13 not a multiple
    val keptAbs = StatsIndex.prunedTyped(spark, s"$bloomBase/idx",
      Seq(absent))
    assert(keptAbs.size <= 1,
      s"absent-key probe kept ${keptAbs.size}/${all.size} files")
    assert(StatsIndex.readPrunedTyped(spark, s"$bloomBase/data",
      s"$bloomBase/idx", Seq(absent)).count() == 0)
    // string point probes prune the same way
    val sKept = StatsIndex.prunedTyped(spark, s"$bloomBase/idx",
      Seq(StatsIndex.StringEquals("sname", "doc-777")))
    assert(sKept.nonEmpty && sKept.size <= 2,
      s"string probe kept ${sKept.size}/${all.size} files")
    val sGot = StatsIndex.readPrunedTyped(spark, s"$bloomBase/data",
      s"$bloomBase/idx", Seq(StatsIndex.StringEquals("sname", "doc-777")))
    assert(sGot.count() == 1 &&
      sGot.select(col("payload")).head.getLong(0) == 777L)
  }

  test("int32 bloom columns hash consistently with bigint probes") {
    // x is INT32; the build must widen it to BIGINT before xxhash64 or
    // every probe (a bigint literal) would hash differently and the
    // bloom arm would wrongly exclude every file. x = 500 appears in
    // ~every file, so a consistent bloom keeps them all and the pruned
    // read equals the full filter.
    val dir = Files.createTempDirectory("graft_sidx_bi_").toString
    val df = spark.range(50000).select(
      pmod(hash(col("id")), lit(256)).cast("int").as("x"),
      col("id").as("payload"))
    graft.sources.PartitionedLake.writeClustered(df, s"$dir/data",
      Seq("payload"), numFiles = 6)
    StatsIndex.build(spark, s"$dir/data", Seq("x"), s"$dir/idx",
      bloomCols = Seq("x"), bloomItems = 20000, bloomFpp = 0.001)
    val probe = StatsIndex.LongEquals("x", 77L)
    val got = StatsIndex.readPrunedTyped(spark, s"$dir/data", s"$dir/idx",
      Seq(probe)).count()
    val want = spark.read.parquet(s"$dir/data")
      .filter(col("x") === 77).count()
    assert(got == want && want > 0,
      s"int32/bigint hash mismatch: pruned $got vs full $want")
  }

  test("point probes against a bloom-less index fall back to stats " +
    "arms (no MatchError, no analysis error)") {
    // `base` was built without bloomCols and predates the bloom column
    val full = spark.read.parquet(s"$base/data")
    val probe = StatsIndex.LongEquals("x", 500L)
    val got = StatsIndex.readPrunedTyped(spark, s"$base/data",
      s"$base/idx", Seq(probe)).count()
    val want = full.filter(col("x") === 500L).count()
    assert(got == want && want > 0)
    // and a clustered key still range-prunes through the stats arm
    val all = StatsIndex.prunedTyped(spark, s"$base/idx", Nil)
    val kept = StatsIndex.prunedTyped(spark, s"$base/idx",
      Seq(StatsIndex.LongEquals("x", 500L)))
    assert(kept.size < all.size, "stats arm should still prune")
  }

  test("refresh keeps existing bloom rows and blooms only the churn") {
    val dir = Files.createTempDirectory("graft_sidx_br_").toString
    val mk = (lo: Long, n: Int) => spark.range(n).select(
      (col("id") + lo).as("k"), (col("id") + lo).as("payload"))
    mk(0, 5000).coalesce(1).write.mode("overwrite").parquet(s"$dir/data")
    StatsIndex.build(spark, s"$dir/data", Seq("k"), s"$dir/idx",
      bloomCols = Seq("k"), bloomItems = 10000, bloomFpp = 0.001)
    mk(1000000, 5000).coalesce(1).write.mode("append")
      .parquet(s"$dir/data")
    val (added, removed) = StatsIndex.refresh(spark, s"$dir/data",
      Seq("k"), s"$dir/idx", bloomCols = Seq("k"), bloomItems = 10000,
      bloomFpp = 0.001)
    assert(added == 1 && removed == 0, s"churn ($added, $removed)")
    // every file has exactly one bloom row — old rows survived, the
    // appended file got its own
    val bloomRows = StatsIndex.readIndex(spark, s"$dir/idx")
      .filter(col("kind") === "bloom")
    assert(bloomRows.count() == 2 &&
      bloomRows.filter(col("bloom").isNotNull).count() == 2)
    // a key of the OLD file and one of the NEW file each probe to
    // exactly their own file; a key in neither probes to none
    Seq(123L -> 1, 1000123L -> 1, 777777L -> 0).foreach {
      case (k, expect) =>
        val kept = StatsIndex.prunedTyped(spark, s"$dir/idx",
          Seq(StatsIndex.LongEquals("k", k)))
        assert(kept.size == expect, s"key $k kept ${kept.size} files")
    }
  }

  test("unsupported bloom column types fail fast at build") {
    // DATE stays min/max-only (a date point probe is a 1-day range
    // after timezone slack — a bloom over day numbers would add
    // nothing the stats arm doesn't already give exactly)
    val dir = Files.createTempDirectory("graft_sidx_bt_").toString
    spark.range(100)
      .select(expr("date_add(DATE'2024-01-01', CAST(id AS INT))").as("d"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/data")
    val ex = intercept[IllegalArgumentException] {
      StatsIndex.build(spark, s"$dir/data", Seq("d"), s"$dir/idx",
        bloomCols = Seq("d"))
    }
    assert(ex.getMessage.contains("bloom"))
  }

  test("bloom parameters beyond the session runtime caps fail fast") {
    val dir = Files.createTempDirectory("graft_sidx_cap_").toString
    spark.range(100).select(col("id").as("k"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/data")
    val maxItems = spark.conf
      .get("spark.sql.optimizer.runtime.bloomFilter.maxNumItems").toLong
    val ex = intercept[IllegalArgumentException] {
      StatsIndex.build(spark, s"$dir/data", Seq("k"), s"$dir/idx",
        bloomCols = Seq("k"), bloomItems = maxItems + 1)
    }
    assert(ex.getMessage.contains("cap"))
  }

  test("double bloom rows prune fractional point probes; zero and NaN " +
    "probes stay conservative") {
    val dir = Files.createTempDirectory("graft_sidx_db_").toString
    // price = id * 1.25 clustered on an UNCORRELATED key, so every
    // file spans ~the full price range and min/max cannot prune
    val df = spark.range(60000).select(
      pmod(hash(col("id")), lit(1000000)).as("shuffle_key"),
      (col("id") * lit(1.25)).as("price"),
      col("id").as("payload"))
    graft.sources.PartitionedLake.writeClustered(df, s"$dir/data",
      Seq("shuffle_key"), numFiles = 8)
    StatsIndex.build(spark, s"$dir/data", Seq("shuffle_key"),
      s"$dir/idx", bloomCols = Seq("price"), bloomItems = 20000,
      bloomFpp = 0.001)
    val all = StatsIndex.prunedTyped(spark, s"$dir/idx", Nil)
    // present value: kept files contain it; pruned read == full filter
    val v = 12345L * 1.25
    val got = StatsIndex.readPrunedTyped(spark, s"$dir/data",
      s"$dir/idx", Seq(StatsIndex.DoubleEquals("price", v)))
    assert(got.count() == 1 &&
      got.select(col("payload")).head.getLong(0) == 12345L)
    // absent value (never a multiple of 1.25): bloom rules ~all out
    val keptAbs = StatsIndex.prunedTyped(spark, s"$dir/idx",
      Seq(StatsIndex.DoubleEquals("price", 17.17)))
    assert(keptAbs.size <= 1,
      s"absent-value probe kept ${keptAbs.size}/${all.size} files")
    // 0.0 probe: bloom arm must be skipped (±0.0 hash asymmetry) —
    // pruned read still equals the full filter (row id=0 exists)
    val zero = StatsIndex.readPrunedTyped(spark, s"$dir/data",
      s"$dir/idx", Seq(StatsIndex.DoubleEquals("price", 0.0)))
    assert(zero.count() ==
      spark.read.parquet(s"$dir/data")
        .filter(col("price") === 0.0).count())
    // NaN probe: conservative (no exclusion), and the exact re-filter
    // returns nothing — never a wrong exclusion, never a fabrication
    assert(StatsIndex.readPrunedTyped(spark, s"$dir/data", s"$dir/idx",
      Seq(StatsIndex.DoubleEquals("price", Double.NaN))).count() == 0)
  }

  test("cross-type point probes never wrongly bloom-exclude: double " +
    "probe on a long-built bloom and long probe on a double-built one") {
    val dir = Files.createTempDirectory("graft_sidx_xt_").toString
    val df = spark.range(30000).select(
      pmod(hash(col("id")), lit(1000000)).as("shuffle_key"),
      col("id").as("k"), // LongType — long-built bloom
      (col("id") * lit(0.5)).as("price"), // DoubleType — double-built
      col("id").as("payload"))
    graft.sources.PartitionedLake.writeClustered(df, s"$dir/data",
      Seq("shuffle_key"), numFiles = 6)
    StatsIndex.build(spark, s"$dir/data", Seq("shuffle_key"),
      s"$dir/idx", bloomCols = Seq("k", "price"), bloomItems = 20000,
      bloomFpp = 0.001)
    val full = spark.read.parquet(s"$dir/data")
    // DoubleEquals on the LONG column: `k === 12345.0` matches via
    // long→double coercion; the probe's long spelling must reach the
    // long-built bloom (hashing only the double bits would rule every
    // file out and silently lose the row)
    val gotD = StatsIndex.readPrunedTyped(spark, s"$dir/data",
      s"$dir/idx", Seq(StatsIndex.DoubleEquals("k", 12345.0))).count()
    assert(gotD == full.filter(col("k") === 12345.0).count() && gotD == 1)
    // LongEquals on the DOUBLE column: `price === 100L` matches
    // price = 100.0 via the double spelling of the long probe
    val gotL = StatsIndex.readPrunedTyped(spark, s"$dir/data",
      s"$dir/idx", Seq(StatsIndex.LongEquals("price", 100L))).count()
    assert(gotL == full.filter(col("price") === 100L).count() && gotL == 1)
    // StringEquals on the LONG column: `k === '777'` coerces — the
    // parsed numeric spellings must reach the long-built bloom
    val gotS = StatsIndex.readPrunedTyped(spark, s"$dir/data",
      s"$dir/idx", Seq(StatsIndex.StringEquals("k", "777"))).count()
    assert(gotS == full.filter(col("k") === "777").count() && gotS == 1)
    // absent values still prune through their covering spelling
    assert(StatsIndex.prunedTyped(spark, s"$dir/idx",
      Seq(StatsIndex.DoubleEquals("k", 99999999.0))).size <= 1)
  }

  test("DoubleEquals beyond 2^53: longs that round to the probe are " +
    "not wrongly excluded") {
    val dir = Files.createTempDirectory("graft_sidx_53_").toString
    val big = (1L << 60)
    // k = 2^60 + 1 is not exactly representable as a double; it rounds
    // to exactly 2^60, so `k === pow(2,60)` MATCHES it in Spark's
    // double-space comparison — exact long-space pruning would lose it
    Seq(big + 1L, big + 3L).zipWithIndex
      .map { case (v, i) => (v, i.toLong) }
      .toDF("k", "payload").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/data")
    StatsIndex.build(spark, s"$dir/data", Seq("k"), s"$dir/idx")
    val probe = StatsIndex.DoubleEquals("k", big.toDouble)
    val got = StatsIndex.readPrunedTyped(spark, s"$dir/data",
      s"$dir/idx", Seq(probe)).count()
    val want = spark.read.parquet(s"$dir/data")
      .filter(col("k") === big.toDouble).count()
    assert(got == want && want == 2,
      s"2^53 rounding window: pruned $got vs full $want")
  }

  test("StringEquals beyond 2^53: a long value in the probe's " +
    "double-rounding window is not wrongly bloom-excluded") {
    val dir = Files.createTempDirectory("graft_sidx_s53_").toString
    val p53 = 9007199254740992L // 2^53
    // Spark 4 casts string-vs-bigint to BIGINT in both ANSI modes
    // (probed this round: `Filter (k = cast('9007199254740993' as
    // bigint))`), so for THIS engine the parsed-long spelling would
    // be exact at any magnitude. The index, however, is a persistent
    // artifact: Spark <= 3.x readers widen string-vs-bigint to DOUBLE
    // space, where data 2^53 matches the probe '2^53+1' (the parse
    // rounds to 2^53) and a long-space bloom probe of 2^53+1 would
    // wrongly exclude the file (ADVICE r6 #2). So the guard is
    // asserted at the PRUNING level: a >= 2^53 string probe must not
    // exclude any file, while sub-2^53 probes keep their exclusions.
    Seq((p53, 0L), (p53 + 4L, 1L)).toDF("k", "payload").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/data")
    StatsIndex.build(spark, s"$dir/data", Seq("k"), s"$dir/idx",
      bloomCols = Seq("k"), bloomItems = 1000, bloomFpp = 0.001)
    val nFiles = StatsIndex.prunedTyped(spark, s"$dir/idx", Nil).size
    // beyond 2^53: no long spelling — the bloom cannot exclude, the
    // file survives for the reader's exact re-filter
    assert(StatsIndex.prunedTyped(spark, s"$dir/idx",
      Seq(StatsIndex.StringEquals("k", "9007199254740993"))).size
      == nFiles, "beyond-2^53 string probe must not bloom-exclude")
    // sub-2^53 probes keep their long-space exclusion power: a value
    // far outside the data (also outside [lmin, lmax]) prunes to zero
    assert(StatsIndex.prunedTyped(spark, s"$dir/idx",
      Seq(StatsIndex.StringEquals("k", "777"))).isEmpty,
      "sub-2^53 string probe lost its exclusion")
    // and the engine-level semantics stay correct end-to-end: nothing
    // matches '2^53+1' in long space, with every file kept
    assert(StatsIndex.readPrunedTyped(spark, s"$dir/data", s"$dir/idx",
      Seq(StatsIndex.StringEquals("k", "9007199254740993"))).count()
      == spark.read.parquet(s"$dir/data")
        .filter(col("k") === "9007199254740993").count())
  }

  test("timestamp stats record their flavor: instant (adjusted-to-UTC) " +
    "stats prune exactly, NTZ stats carry the session-offset slack") {
    val dir = Files.createTempDirectory("graft_sidx_tsf_").toString
    val prev = spark.conf.getOption("spark.sql.parquet.outputTimestampType")
    try {
      // INT64-micros with isAdjustedToUTC=true — instant semantics
      spark.conf.set("spark.sql.parquet.outputTimestampType",
        "TIMESTAMP_MICROS")
      graft.sources.PartitionedLake.writeClustered(
        spark.range(100000).select(
          expr("timestamp_micros(id * 60000000)").as("ts"), // LTZ, 1/min
          col("id").as("payload")),
        s"$dir/data", Seq("payload"), numFiles = 8)
    } finally prev match {
      case Some(v) =>
        spark.conf.set("spark.sql.parquet.outputTimestampType", v)
      case None =>
        spark.conf.unset("spark.sql.parquet.outputTimestampType")
    }
    StatsIndex.build(spark, s"$dir/data", Seq("ts"), s"$dir/idx")
    val kinds = StatsIndex.readIndex(spark, s"$dir/idx")
      .select(col("kind")).distinct().collect().map(_.getString(0)).toSet
    assert(kinds == Set("long"),
      s"adjusted-to-UTC stats must be instant-kinded ('long'): $kinds")
    // exact pruning: an instant probe keeps only its own file — no
    // ±14 h blur (each file spans ~8.7 days here, so slack would not
    // show; the kind assertion above is what pins exactness)
    val probe = StatsIndex.TimestampEquals("ts",
      java.time.Instant.ofEpochSecond(50000L * 60))
    val got = StatsIndex.readPrunedTyped(spark, s"$dir/data",
      s"$dir/idx", Seq(probe))
    assert(got.count() == 1 &&
      got.select(col("payload")).head.getLong(0) == 50000L)
  }

  test("TimestampEquals prunes micros-normalized and date-kinded stats " +
    "conservatively") {
    val dir = Files.createTempDirectory("graft_sidx_te_").toString
    // ts ascends over ~70 days; date column mirrors it day-granular
    val df = spark.range(100000).select(
      // NTZ: Spark writes LTZ as INT96 (statless in the footer walk);
      // NTZ is always INT64-micros, the annotated form the index reads
      expr("timestamp_micros(id * 60000000)").cast("timestamp_ntz")
        .as("ts"), // 1/minute
      expr("date_add(DATE '2021-01-01', CAST(id / 1440 AS INT))")
        .as("d"),
      col("id").as("payload"))
    graft.sources.PartitionedLake.writeClustered(df, s"$dir/data",
      Seq("payload"), numFiles = 8)
    StatsIndex.build(spark, s"$dir/data", Seq("ts", "d"), s"$dir/idx")
    val all = StatsIndex.prunedTyped(spark, s"$dir/idx", Nil)
    // a mid-range instant keeps few files, and the pruned read equals
    // the full-scan filter exactly
    val probe = StatsIndex.TimestampEquals("ts",
      java.time.Instant.ofEpochSecond(50000L * 60))
    val kept = StatsIndex.prunedTyped(spark, s"$dir/idx", Seq(probe))
    assert(kept.nonEmpty && kept.size < all.size,
      s"timestamp point probe kept ${kept.size}/${all.size}")
    val got = StatsIndex.readPrunedTyped(spark, s"$dir/data",
      s"$dir/idx", Seq(probe))
    assert(got.count() == 1 &&
      got.select(col("payload")).head.getLong(0) == 50000L)
    // date-kinded stats: a probe into one day keeps that day's files
    // (±1-day slack) and loses nothing vs the full filter
    val dayProbe = StatsIndex.TimestampEquals("d",
      java.time.Instant.parse("2021-02-05T00:00:00Z"))
    val keptD = StatsIndex.prunedTyped(spark, s"$dir/idx", Seq(dayProbe))
    assert(keptD.nonEmpty && keptD.size < all.size,
      s"date point probe kept ${keptD.size}/${all.size}")
    val gotD = StatsIndex.readPrunedTyped(spark, s"$dir/data",
      s"$dir/idx", Seq(dayProbe)).count()
    val wantD = spark.read.parquet(s"$dir/data")
      .filter(col("d") === lit(java.sql.Date.valueOf("2021-02-05")))
      .count()
    assert(gotD == wantD && wantD > 0, s"date probe: $gotD vs $wantD")
  }

  test("bloom_might_contain agrees with the sketch library through " +
    "both the SQL registration and the serialized index bytes") {
    graft.GraftExtensions.register(spark)
    val idx = StatsIndex.readIndex(spark, s"$bloomBase/idx")
      .filter(col("kind") === "bloom" && col("col") === "doc_id")
    // ground truth, driver-side, via the public sketch API
    val blooms = idx.select(col("file"), col("bloom")).collect()
      .map(r => r.getString(0) ->
        org.apache.spark.util.sketch.BloomFilter.readFrom(
          r.getAs[Array[Byte]](1)))
    val h = 12345L * 2654435761L
    val want = blooms.map { case (f, b) =>
      // the engine probes mightContainLong(xxhash64(value)); reproduce
      // the hash with the engine's own expression for symmetry
      f -> b.mightContainLong(
        spark.range(1).select(xxhash64(lit(h))).head.getLong(0))
    }.toMap
    val got = idx.selectExpr("file",
      s"bloom_might_contain(bloom, xxhash64(CAST($h AS BIGINT))) AS m")
      .collect().map(r => r.getString(0) -> r.getBoolean(1)).toMap
    assert(got == want, "expression disagrees with sketch ground truth")
    assert(want.values.exists(identity), "probe key should hit its file")
  }

  test("wallMicrosFor inverts session-zone promotion exactly, " +
    "including DST gap and overlap instants") {
    import java.time.{Instant, ZoneId}
    def micros(i: Instant): Long = i.getEpochSecond * 1000000L
    // UTC: no transitions ever — exactly one wall, equal to the micros
    val x = Instant.parse("2024-01-15T12:34:56Z")
    assert(StatsIndex.wallMicrosFor(x, ZoneId.of("UTC")) ==
      Seq(micros(x)))
    val ny = ZoneId.of("America/New_York")
    // plain instant in NY: one wall, shifted by the EST offset
    assert(StatsIndex.wallMicrosFor(x, ny) ==
      Seq(micros(x) - 5L * 3600 * 1000000L))
    // SPRING-FORWARD gap (2024-03-10 02:00 EST -> 03:00 EDT): the
    // instant 07:30Z is denoted BOTH by the real wall 03:30 (EDT) and
    // by the non-existent wall 02:30, which java (and Spark's NTZ
    // promotion) shifts forward onto the same instant — an NTZ column
    // may legally store either, so both walls must be probed
    val gap = Instant.parse("2024-03-10T07:30:00Z")
    val gapWalls = StatsIndex.wallMicrosFor(gap, ny).toSet
    val edt = micros(gap) - 4L * 3600 * 1000000L // 03:30 wall
    val est = micros(gap) - 5L * 3600 * 1000000L // 02:30 wall
    assert(gapWalls == Set(edt, est), s"gap walls: $gapWalls")
    // FALL-BACK overlap (2024-11-03 02:00 EDT -> 01:00 EST): the wall
    // 01:30 is ambiguous; promotion picks the EARLIER offset (EDT),
    // so the EDT-side instant has exactly that wall and the EST-side
    // instant is unreachable from any wall — zero spellings, and the
    // bloom arm conservatively keeps every file
    val early = Instant.parse("2024-11-03T05:30:00Z") // 01:30 EDT
    assert(StatsIndex.wallMicrosFor(early, ny) ==
      Seq(micros(early) - 4L * 3600 * 1000000L))
    val late = Instant.parse("2024-11-03T06:30:00Z") // 01:30 EST
    assert(StatsIndex.wallMicrosFor(late, ny).isEmpty)
    // every emitted wall round-trips: promotion through the zone
    // lands back on the probed instant (the filter's own postcheck,
    // asserted independently here)
    Seq(x, gap, early).foreach { v =>
      StatsIndex.wallMicrosFor(v, ny).foreach { w =>
        val ldt = java.time.LocalDateTime.ofEpochSecond(
          Math.floorDiv(w, 1000000L), (Math.floorMod(w, 1000000L) * 1000).toInt,
          java.time.ZoneOffset.UTC)
        assert(ldt.atZone(ny).toInstant == v)
      }
    }
  }

  test("timestamp bloom rows prune ts point probes on a lake NOT " +
    "clustered by time; NTZ walls stay session-zone-correct") {
    val dir = Files.createTempDirectory("graft_sidx_tsb_").toString
    // NTZ timestamps, one per minute, clustered by an unrelated key —
    // every file spans ~the whole time range, so min/max never prunes
    val df = spark.range(100000).select(
      expr("timestamp_micros(id * 60000000)").cast("timestamp_ntz")
        .as("ts"),
      pmod(hash(col("id")), lit(1000000)).as("k"),
      col("id").as("payload"))
    graft.sources.PartitionedLake.writeClustered(df, s"$dir/data",
      Seq("k"), numFiles = 8)
    StatsIndex.build(spark, s"$dir/data", Seq("k"), s"$dir/idx",
      bloomCols = Seq("ts"), bloomItems = 200000, bloomFpp = 0.001)
    val spaces = StatsIndex.readIndex(spark, s"$dir/idx")
      .filter(col("kind") === "bloom")
      .select(col("bspace")).distinct().collect().map(_.getString(0))
    assert(spaces.toSet == Set("tswall"), s"NTZ space: ${spaces.toSet}")
    val all = StatsIndex.prunedTyped(spark, s"$dir/idx", Nil)
    // a present instant (session UTC: wall == instant micros)
    val present = StatsIndex.TimestampEquals("ts",
      java.time.Instant.ofEpochSecond(77777L * 60))
    val kept = StatsIndex.prunedTyped(spark, s"$dir/idx", Seq(present))
    assert(kept.nonEmpty && kept.size <= 2,
      s"present-ts probe kept ${kept.size}/${all.size} files")
    val got = StatsIndex.readPrunedTyped(spark, s"$dir/data",
      s"$dir/idx", Seq(present))
    assert(got.count() == 1 &&
      got.select(col("payload")).head.getLong(0) == 77777L)
    // an absent instant (between two stored minutes): every file out
    val absent = StatsIndex.TimestampEquals("ts",
      java.time.Instant.ofEpochSecond(77777L * 60 + 30))
    assert(StatsIndex.prunedTyped(spark, s"$dir/idx", Seq(absent))
      .size <= 1, "absent-ts probe should bloom-exclude ~every file")
    assert(StatsIndex.readPrunedTyped(spark, s"$dir/data",
      s"$dir/idx", Seq(absent)).count() == 0)
    // sub-micro probes skip the bloom arm (they can never be equal):
    // conservative — stats arms keep every file here
    val subMicro = StatsIndex.TimestampEquals("ts",
      java.time.Instant.ofEpochSecond(77777L * 60, 500))
    assert(StatsIndex.prunedTyped(spark, s"$dir/idx", Seq(subMicro))
      .size == all.size)
    // probing from a DIFFERENT session zone: the wall spelling is
    // derived from the probe session's zone, matching how Spark
    // promotes the NTZ column inside the predicate — pruned result
    // still equals the full-scan filter
    val prevTz = spark.conf.get("spark.sql.session.timeZone")
    try {
      spark.conf.set("spark.sql.session.timeZone", "America/New_York")
      val inNy = StatsIndex.readPrunedTyped(spark, s"$dir/data",
        s"$dir/idx", Seq(present))
      val want = spark.read.parquet(s"$dir/data")
        .filter(present.predicate).count()
      assert(inNy.count() == want && want == 1,
        s"NY-session ts probe: pruned ${inNy.count()} vs full $want")
    } finally spark.conf.set("spark.sql.session.timeZone", prevTz)
  }

  test("instant (adjusted-to-UTC) bloom rows carry the tsutc space " +
    "and prune exactly in any session") {
    val dir = Files.createTempDirectory("graft_sidx_tsu_").toString
    val prev = spark.conf.getOption("spark.sql.parquet.outputTimestampType")
    try {
      spark.conf.set("spark.sql.parquet.outputTimestampType",
        "TIMESTAMP_MICROS")
      graft.sources.PartitionedLake.writeClustered(
        spark.range(100000).select(
          expr("timestamp_micros(id * 60000000)").as("ts"),
          pmod(hash(col("id")), lit(1000000)).as("k"),
          col("id").as("payload")),
        s"$dir/data", Seq("k"), numFiles = 8)
    } finally prev match {
      case Some(v) =>
        spark.conf.set("spark.sql.parquet.outputTimestampType", v)
      case None =>
        spark.conf.unset("spark.sql.parquet.outputTimestampType")
    }
    StatsIndex.build(spark, s"$dir/data", Seq("k"), s"$dir/idx",
      bloomCols = Seq("ts"), bloomItems = 200000, bloomFpp = 0.001)
    val spaces = StatsIndex.readIndex(spark, s"$dir/idx")
      .filter(col("kind") === "bloom")
      .select(col("bspace")).distinct().collect().map(_.getString(0))
    assert(spaces.toSet == Set("tsutc"), s"LTZ space: ${spaces.toSet}")
    val present = StatsIndex.TimestampEquals("ts",
      java.time.Instant.ofEpochSecond(55555L * 60))
    // instant hashing is session-independent: probe from a non-UTC
    // session and the pruned read still equals the full filter
    val prevTz = spark.conf.get("spark.sql.session.timeZone")
    try {
      spark.conf.set("spark.sql.session.timeZone", "Asia/Tokyo")
      val kept = StatsIndex.prunedTyped(spark, s"$dir/idx", Seq(present))
      assert(kept.nonEmpty && kept.size <= 2,
        s"instant probe kept ${kept.size} files")
      val got = StatsIndex.readPrunedTyped(spark, s"$dir/data",
        s"$dir/idx", Seq(present))
      assert(got.count() == 1 &&
        got.select(col("payload")).head.getLong(0) == 55555L)
    } finally spark.conf.set("spark.sql.session.timeZone", prevTz)
  }

  test("countPruned equals the full-scan count on random boxes") {
    val full = spark.read.parquet(s"$base/data")
    val rnd = new scala.util.Random(991)
    (1 to 5).foreach { trial =>
      val (xLo, yLo) = (rnd.nextInt(900).toLong, rnd.nextInt(900).toLong)
      val w = 20 + rnd.nextInt(300)
      val got = StatsIndex.countPruned(spark, s"$base/data", s"$base/idx",
        Seq(StatsIndex.LongRange("x", xLo, xLo + w),
          StatsIndex.LongRange("y", yLo, yLo + w)))
      val want = full.filter(col("x").between(xLo, xLo + w) &&
        col("y").between(yLo, yLo + w)).count()
      assert(got == want, s"trial $trial: meta-count $got vs $want")
    }
  }

  test("countPruned: interior files are counted with ZERO data I/O " +
    "(count survives deleting the data), null rows never counted") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_sidx_mc_").toString
    spark.range(10000).selectExpr("id AS x", "id AS payload")
      .coalesce(4).write.parquet(s"$dir/data")
    StatsIndex.build(spark, s"$dir/data", Seq("x"), s"$dir/idx")
    // the whole-range box makes every file interior — prove the count
    // comes from footer metadata alone by deleting the data first
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new org.apache.hadoop.fs.Path(s"$dir/data")
    val fs = p.getFileSystem(conf)
    fs.listStatus(p).filter(_.getPath.getName.endsWith(".parquet"))
      .foreach(st => fs.delete(st.getPath, false))
    val n = StatsIndex.countPruned(spark, s"$dir/data", s"$dir/idx",
      Seq(StatsIndex.LongRange("x", 0L, 9999L)))
    assert(n == 10000L, s"meta-only count $n")
    // a column with nulls can never be fully-contained: the null rows
    // fail the filter, so they must not be counted either
    spark.range(10000).selectExpr(
      "CASE WHEN id % 10 = 0 THEN NULL ELSE id END AS x",
      "id AS payload")
      .coalesce(4).write.parquet(s"$dir/ndata")
    StatsIndex.build(spark, s"$dir/ndata", Seq("x"), s"$dir/nidx")
    val nn = StatsIndex.countPruned(spark, s"$dir/ndata", s"$dir/nidx",
      Seq(StatsIndex.LongRange("x", 0L, 9999L)))
    assert(nn == 9000L, s"null-aware count $nn")
  }

  test("prunedForKeys: disjunctive key pruning keeps exactly the files " +
    "that can hold a key — min/max arm, bloom arm, empty set") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_sidx_dfp_").toString
    // key-clustered lake: 4 files of contiguous k ranges
    spark.range(8000).selectExpr("id AS k", "id % 7 AS v")
      .repartitionByRange(4, org.apache.spark.sql.functions.col("k"))
      .write.parquet(s"$dir/data")
    StatsIndex.build(spark, s"$dir/data", Seq("k"), s"$dir/idx")
    val total = StatsIndex.prunedTyped(spark, s"$dir/idx",
      Seq(StatsIndex.LongRange("k", Long.MinValue, Long.MaxValue))).size
    assert(total == 4)
    // two keys in one range-file → one file survives
    val one = StatsIndex.prunedForKeys(spark, s"$dir/idx", "k",
      Seq(100L, 200L))
    assert(one.size == 1, s"clustered 2-key prune kept ${one.size}")
    // keys spread across three ranges → three files
    val three = StatsIndex.prunedForKeys(spark, s"$dir/idx", "k",
      Seq(100L, 2100L, 6100L))
    assert(three.size == 3, s"spread prune kept ${three.size}")
    // absent key → nothing; empty key set → nothing (empty inner join)
    assert(StatsIndex.prunedForKeys(spark, s"$dir/idx", "k",
      Seq(999999L)).isEmpty)
    assert(StatsIndex.prunedForKeys(spark, s"$dir/idx", "k",
      Seq.empty).isEmpty)
    // equality on random key sets: pruned scan + isin == full filter
    val rnd = new scala.util.Random(62)
    (1 to 3).foreach { _ =>
      val ks = Seq.fill(5)(rnd.nextLong(10000L))
      val pruned = StatsIndex
        .readPrunedForKeys(spark, s"$dir/data", s"$dir/idx", "k", ks)
        .filter(org.apache.spark.sql.functions.col("k").isin(ks: _*))
        .selectExpr("sum(k) AS sk", "count(*) AS n").head
      val full = spark.read.parquet(s"$dir/data")
        .filter(org.apache.spark.sql.functions.col("k").isin(ks: _*))
        .selectExpr("sum(k) AS sk", "count(*) AS n").head
      assert(pruned == full, s"keys $ks: $pruned vs $full")
    }
    // bloom arm: shuffle-ordered lake — every file spans nearly the
    // full k range, min/max can't prune a point key; the bloom row can
    spark.range(8000)
      .selectExpr("id AS k", "xxhash64(id) % 4 AS b")
      .repartition(4, org.apache.spark.sql.functions.col("b"))
      .drop("b").write.parquet(s"$dir/bdata")
    StatsIndex.build(spark, s"$dir/bdata", Seq("k"), s"$dir/bidx",
      bloomCols = Seq("k"), bloomItems = 10000, bloomFpp = 0.001)
    val kept = StatsIndex.prunedForKeys(spark, s"$dir/bidx", "k",
      Seq(4242L))
    assert(kept.size <= 2, s"bloom point prune kept ${kept.size} of 4")
    val hit = spark.read.parquet(kept: _*)
      .filter(org.apache.spark.sql.functions.col("k") === 4242L).count()
    assert(hit == 1L)
  }

  test("prunedForKeys: double-kind stats exclude long keys soundly " +
    "(widened bounds, long-vs-double comparison space)") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_sidx_dfpd_").toString
    // DOUBLE key column, range-clustered: file ranges [0,999.5],
    // [1000,1999.5], [2000,2999.5] in halves
    spark.range(6000)
      .selectExpr("CAST(id AS DOUBLE)/2.0d AS dk", "id AS v")
      .repartitionByRange(3, org.apache.spark.sql.functions.col("dk"))
      .write.parquet(s"$dir/data")
    StatsIndex.build(spark, s"$dir/data", Seq("dk"), s"$dir/idx")
    // integral keys present as exact doubles: 100.0 and 2500.0 live in
    // files 0 and 2; file 1 must be excluded, none wrongly excluded
    val kept = StatsIndex.prunedForKeys(spark, s"$dir/idx", "dk",
      Seq(100L, 2500L))
    assert(kept.size == 2, s"double-arm prune kept ${kept.size} of 3")
    val hit = spark.read.parquet(kept: _*)
      .filter(org.apache.spark.sql.functions.col("dk").isin(100L, 2500L))
      .count()
    assert(hit == 2L, s"double-arm prune lost matches: $hit")
    // a key with no exact double twin in the data excludes everything
    // via min/max only when truly out of range; in-range non-values
    // keep their file (conservative) and the exact filter finds none
    val inRange = StatsIndex.prunedForKeys(spark, s"$dir/idx", "dk",
      Seq(10000L))
    assert(inRange.isEmpty, "out-of-range key kept files")
  }

  test("dfpJoin equals the plain join, prunes when the dim is " +
    "selective, falls back unpruned above maxKeys") {
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files
      .createTempDirectory("graft_sidx_dfpj_").toString
    spark.range(8000).selectExpr("id AS k", "id % 13 AS v")
      .repartitionByRange(4, col("k")).write.parquet(s"$dir/data")
    StatsIndex.build(spark, s"$dir/data", Seq("k"), s"$dir/idx")
    val dim = spark.range(300, 340)
      .selectExpr("id AS dk", "id * 2 AS payload")
    def agg(df: org.apache.spark.sql.DataFrame) = df
      .selectExpr("sum(k) AS sk", "sum(payload) AS sp", "count(*) AS n")
      .head
    val viaDfp = agg(StatsIndex.dfpJoin(spark, s"$dir/data",
      s"$dir/idx", "k", dim, "dk"))
    val plain = agg(spark.read.parquet(s"$dir/data")
      .join(dim, col("k") === col("dk")))
    assert(viaDfp == plain, s"$viaDfp vs $plain")
    // the narrow dim band lives in ONE range-file
    assert(StatsIndex.prunedForKeys(spark, s"$dir/idx", "k",
      (300L until 340L).toSeq).size == 1)
    // above the cap: unpruned path, same result
    val capped = agg(StatsIndex.dfpJoin(spark, s"$dir/data",
      s"$dir/idx", "k", dim, "dk", maxKeys = 10))
    assert(capped == plain, s"capped $capped vs $plain")
  }

  test("minMaxPruned: bit-equal to the full scan; metadata-only on a " +
    "clean lake (survives data delete); all-null files, gap kinds and " +
    "signed-zero doubles handled") {
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files
      .createTempDirectory("graft_sidx_mm_").toString
    // mixed lake: long col with one ALL-NULL file, exact doubles, a
    // string col (gap kind — always boundary-scanned), and a double
    // col whose file-min is exactly 0.0 (signed-zero guard → gap)
    spark.range(1, 4001).selectExpr(
      "id AS lk", "CAST(id AS DOUBLE)/7.0d AS d",
      "concat('s', lpad(CAST(id AS STRING), 6, '0')) AS s",
      "CAST(id - 1 AS DOUBLE)/3.0d AS z")
      .repartitionByRange(3, col("lk")).write.parquet(s"$dir/data")
    spark.range(0, 100).selectExpr(
      "CAST(NULL AS BIGINT) AS lk", "1e9d + CAST(id AS DOUBLE) AS d",
      "'zzz' AS s", "5.0d AS z")
      .coalesce(1).write.mode("append").parquet(s"$dir/data")
    StatsIndex.build(spark, s"$dir/data", Seq("lk", "d", "s", "z"),
      s"$dir/idx")
    val got = StatsIndex.minMaxPruned(spark, s"$dir/data", s"$dir/idx",
      Seq("lk", "d", "s", "z")).head
    val want = spark.read.parquet(s"$dir/data").selectExpr(
      "min(lk) AS min_lk", "max(lk) AS max_lk",
      "min(d) AS min_d", "max(d) AS max_d",
      "min(s) AS min_s", "max(s) AS max_s",
      "min(z) AS min_z", "max(z) AS max_z").head
    assert(got.getLong(0) == want.getLong(0) &&
      got.getLong(1) == want.getLong(1), "long bounds")
    assert(java.lang.Double.doubleToLongBits(got.getDouble(2)) ==
      java.lang.Double.doubleToLongBits(want.getDouble(2)) &&
      java.lang.Double.doubleToLongBits(got.getDouble(3)) ==
        java.lang.Double.doubleToLongBits(want.getDouble(3)),
      "double bounds bit-exact")
    assert(got.getString(4) == want.getString(4) &&
      got.getString(5) == want.getString(5), "string via gap scan")
    assert(java.lang.Double.doubleToLongBits(got.getDouble(6)) ==
      java.lang.Double.doubleToLongBits(want.getDouble(6)) &&
      java.lang.Double.doubleToLongBits(got.getDouble(7)) ==
        java.lang.Double.doubleToLongBits(want.getDouble(7)),
      "zero-crossing double via gap scan")
    // clean lake: long + nonzero double only → no gaps → the answer
    // must come from the index alone — prove it by deleting the data
    spark.range(1000, 3000).selectExpr(
      "id AS lk", "CAST(id AS DOUBLE)/7.0d AS d")
      .repartitionByRange(3, col("lk")).write.parquet(s"$dir/cdata")
    val cwant = spark.read.parquet(s"$dir/cdata").selectExpr(
      "min(lk)", "max(lk)", "min(d)", "max(d)").head
    StatsIndex.build(spark, s"$dir/cdata", Seq("lk", "d"), s"$dir/cidx")
    val p = new org.apache.hadoop.fs.Path(s"$dir/cdata")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(p).filter(_.getPath.getName.endsWith(".parquet"))
      .foreach(st => fs.delete(st.getPath, false))
    val cgot = StatsIndex.minMaxPruned(spark, s"$dir/cdata",
      s"$dir/cidx", Seq("lk", "d")).head
    assert(cgot.getLong(0) == cwant.getLong(0) &&
      cgot.getLong(1) == cwant.getLong(1) &&
      java.lang.Double.doubleToLongBits(cgot.getDouble(2)) ==
        java.lang.Double.doubleToLongBits(cwant.getDouble(2)) &&
      java.lang.Double.doubleToLongBits(cgot.getDouble(3)) ==
        java.lang.Double.doubleToLongBits(cwant.getDouble(3)),
      s"meta-only minmax $cgot vs $cwant")
  }

  test("minMaxPruned: typed results — an int column comes back INT " +
    "(metadata-only), an instant timestamp column comes back TIMESTAMP " +
    "via the gap scan, never bigint micros") {
    val dir = Files.createTempDirectory("graft_sidx_mmt_").toString
    spark.range(1, 5001).selectExpr(
      "CAST(id AS INT) AS ik",
      "timestamp_micros(1700000000000000 + id * 1000000) AS ts")
      .repartitionByRange(3, col("ik")).write.parquet(s"$dir/data")
    StatsIndex.build(spark, s"$dir/data", Seq("ik", "ts"), s"$dir/idx")
    val got = StatsIndex.minMaxPruned(spark, s"$dir/data", s"$dir/idx",
      Seq("ik", "ts"))
    val want = spark.read.parquet(s"$dir/data").selectExpr(
      "min(ik) AS min_ik", "max(ik) AS max_ik",
      "min(ts) AS min_ts", "max(ts) AS max_ts")
    // the r7 ADVICE failure modes: min_ik as BIGINT (widened literal)
    // or min_ts as BIGINT epoch micros (kind "long" trusted blindly)
    assert(got.schema.map(f => (f.name, f.dataType)) ==
      want.schema.map(f => (f.name, f.dataType)),
      s"schema ${got.schema.simpleString} vs ${want.schema.simpleString}")
    assert(got.head == want.head)
    // the int arm is metadata-only: int-only index, delete the data,
    // the typed answer must survive on footer bounds alone
    spark.range(1, 3001).selectExpr("CAST(id AS INT) AS ik")
      .repartitionByRange(3, col("ik")).write.parquet(s"$dir/cdata")
    StatsIndex.build(spark, s"$dir/cdata", Seq("ik"), s"$dir/cidx")
    val p = new org.apache.hadoop.fs.Path(s"$dir/cdata")
    val hfs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    hfs.listStatus(p).filter(_.getPath.getName.endsWith(".parquet"))
      .foreach(st => hfs.delete(st.getPath, false))
    val cgot = StatsIndex.minMaxPruned(spark, s"$dir/cdata",
      s"$dir/cidx", Seq("ik"))
    assert(cgot.schema.fields.forall(
      _.dataType == org.apache.spark.sql.types.IntegerType),
      s"meta-only int schema ${cgot.schema.simpleString}")
    assert(cgot.head == org.apache.spark.sql.Row(1, 3000))
  }

  test("minMaxPruned: infinite double bounds gap to the scan — no " +
    "finite stand-in for an infinite extremum") {
    val dir = Files.createTempDirectory("graft_sidx_mmi_").toString
    // file 0 carries ±Infinity (its footer bounds are ±Inf — the
    // unrecoverable case); file 1 is finite-only and must still
    // resolve from metadata (its bounds merge with the scan's)
    spark.range(0, 100).selectExpr(
      """CASE WHEN id = 0 THEN CAST('-Infinity' AS DOUBLE)
        |     WHEN id = 99 THEN CAST('Infinity' AS DOUBLE)
        |     ELSE CAST(id AS DOUBLE) + 0.5d END AS d""".stripMargin)
      .coalesce(1).write.parquet(s"$dir/data")
    spark.range(100, 200).selectExpr("CAST(id AS DOUBLE) + 0.5d AS d")
      .coalesce(1).write.mode("append").parquet(s"$dir/data")
    StatsIndex.build(spark, s"$dir/data", Seq("d"), s"$dir/idx")
    val got = StatsIndex.minMaxPruned(spark, s"$dir/data", s"$dir/idx",
      Seq("d")).head
    assert(got.getDouble(0).isNegInfinity && got.getDouble(1).isPosInfinity,
      s"infinite extrema lost: $got")
  }

  test("minMaxPruned: gap scan survives additive schema evolution — " +
    "an old file missing the evolved column contributes typed NULL") {
    val dir = Files.createTempDirectory("graft_sidx_mme_").toString
    // old file predates `extra`; new file carries it. The old file has
    // no `extra` stats → gap; the promised conservative scan must not
    // fail on its missing column (ADVICE r7)
    spark.range(0, 1000).selectExpr("id AS k")
      .coalesce(1).write.parquet(s"$dir/data")
    spark.range(1000, 2000)
      .selectExpr("id AS k", "CAST(id AS DOUBLE) + 0.5d AS extra")
      .coalesce(1).write.mode("append").parquet(s"$dir/data")
    StatsIndex.build(spark, s"$dir/data", Seq("k", "extra"), s"$dir/idx")
    val got = StatsIndex.minMaxPruned(spark, s"$dir/data", s"$dir/idx",
      Seq("k", "extra")).head
    val want = spark.read.option("mergeSchema", "true")
      .parquet(s"$dir/data").selectExpr(
        "min(k) AS min_k", "max(k) AS max_k",
        "min(extra) AS min_extra", "max(extra) AS max_extra").head
    assert(got == want, s"$got vs $want")
  }

  test("prunedForKeysString: string key-set pruning — min/max arm, " +
    "bloom arm, exact results, empty set") {
    def k(id: String) = s"concat('doc-', lpad(CAST($id AS STRING), 6, '0'))"
    val dir = Files.createTempDirectory("graft_sidx_dfps_").toString
    // key-clustered lake: 4 files of contiguous doc-id ranges
    spark.range(8000).selectExpr(s"${k("id")} AS k", "id AS v")
      .repartitionByRange(4, col("k")).write.parquet(s"$dir/data")
    StatsIndex.build(spark, s"$dir/data", Seq("k"), s"$dir/idx")
    val one = StatsIndex.prunedForKeysString(spark, s"$dir/idx", "k",
      Seq("doc-000100", "doc-000200"))
    assert(one.size == 1, s"clustered 2-key prune kept ${one.size}")
    val three = StatsIndex.prunedForKeysString(spark, s"$dir/idx", "k",
      Seq("doc-000100", "doc-002100", "doc-006100"))
    assert(three.size == 3, s"spread prune kept ${three.size}")
    assert(StatsIndex.prunedForKeysString(spark, s"$dir/idx", "k",
      Seq("doc-999999")).isEmpty)
    assert(StatsIndex.prunedForKeysString(spark, s"$dir/idx", "k",
      Seq.empty).isEmpty)
    // equality on random key sets: pruned scan + isin == full filter
    val rnd = new scala.util.Random(81)
    (1 to 3).foreach { _ =>
      val ks = Seq.fill(5)(f"doc-${rnd.nextInt(10000)}%06d")
      val pruned = StatsIndex
        .readPrunedForKeysString(spark, s"$dir/data", s"$dir/idx", "k", ks)
        .filter(col("k").isin(ks: _*))
        .selectExpr("sum(v) AS sv", "count(*) AS n").head
      val full = spark.read.parquet(s"$dir/data")
        .filter(col("k").isin(ks: _*))
        .selectExpr("sum(v) AS sv", "count(*) AS n").head
      assert(pruned == full, s"keys $ks: $pruned vs $full")
    }
    // bloom arm: shuffled layout — every file spans nearly the full
    // key range, string min/max can't prune a point key; the bloom can
    spark.range(8000)
      .selectExpr(s"${k("id")} AS k", "xxhash64(id) % 4 AS b")
      .repartition(4, col("b")).drop("b").write.parquet(s"$dir/bdata")
    StatsIndex.build(spark, s"$dir/bdata", Seq("k"), s"$dir/bidx",
      bloomCols = Seq("k"), bloomItems = 10000, bloomFpp = 0.001)
    val kept = StatsIndex.prunedForKeysString(spark, s"$dir/bidx", "k",
      Seq("doc-004242"))
    assert(kept.size <= 2, s"bloom point prune kept ${kept.size} of 4")
    assert(spark.read.parquet(kept: _*)
      .filter(col("k") === "doc-004242").count() == 1L)
  }

  test("minMaxPruned: date columns are exact metadata values — " +
    "DateType extrema from epoch-day bounds, surviving data delete") {
    val dir = Files.createTempDirectory("graft_sidx_mmd_").toString
    spark.range(0, 1000).selectExpr(
      "date_add(DATE '2020-01-01', CAST(id AS INT)) AS d")
      .repartitionByRange(3, col("d")).write.parquet(s"$dir/data")
    StatsIndex.build(spark, s"$dir/data", Seq("d"), s"$dir/idx")
    val p = new org.apache.hadoop.fs.Path(s"$dir/data")
    val hfs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    hfs.listStatus(p).filter(_.getPath.getName.endsWith(".parquet"))
      .foreach(st => hfs.delete(st.getPath, false))
    val got = StatsIndex.minMaxPruned(spark, s"$dir/data", s"$dir/idx",
      Seq("d")).head
    assert(got.schema.fields.forall(
      _.dataType == org.apache.spark.sql.types.DateType),
      s"date schema ${got.schema.simpleString}")
    val d0 = java.time.LocalDate.parse("2020-01-01")
    assert(got.getDate(0).toLocalDate == d0 &&
      got.getDate(1).toLocalDate == d0.plusDays(999),
      s"date extrema $got")
  }

  test("bloom_miss_all: one-deserialization batch probe agrees with " +
    "bloom_might_contain per hash; NULL bloom yields NULL") {
    import org.apache.spark.sql.GraftColumnBridge
    import graft.functions.{BloomMightContain, BloomMissAll}
    val bf = org.apache.spark.util.sketch.BloomFilter.create(1000, 0.01)
    (0L until 100L).foreach(bf.putLong)
    val baos = new java.io.ByteArrayOutputStream()
    bf.writeTo(baos)
    val df = Seq(Tuple1(baos.toByteArray)).toDF("bloom")
    val hashes: Seq[Long] =
      (0L until 100L) ++ Seq(7777777L, -99L, Long.MinValue)
    def missAll = GraftColumnBridge.toColumn(BloomMissAll(
      GraftColumnBridge.toExpression(col("bloom")),
      GraftColumnBridge.toExpression(lit(hashes.toArray))))
    val got = df.select(missAll).head.getSeq[Boolean](0)
    val single = hashes.map { h =>
      df.select(!GraftColumnBridge.toColumn(BloomMightContain(
        GraftColumnBridge.toExpression(col("bloom")),
        GraftColumnBridge.toExpression(lit(h))))).head.getBoolean(0)
    }
    assert(got == single, "batch probe disagrees with per-hash probe")
    // members can never be reported absent
    assert(got.take(100).forall(_ == false), "member reported missing")
    val nullDf = Seq(Tuple1(null: Array[Byte])).toDF("bloom")
    assert(nullDf.select(missAll).head.isNullAt(0),
      "NULL bloom must yield NULL (no exclusion)")
  }

  test("prunedForKeysString: >64-char multibyte keys stay exact under " +
    "bound truncation; the bloom arm still prunes where bounds cannot") {
    val dir = Files.createTempDirectory("graft_sidx_dfpt_").toString
    // every key shares a 90-char multibyte prefix: all files' stored
    // string bounds truncate to the SAME 64-char prefix, so the
    // min/max arm can exclude nothing — conservatism is the contract
    val prefix = "π†µ" * 30 // 90 chars, multibyte UTF-8
    spark.range(4000).selectExpr(
      s"concat('$prefix', lpad(CAST(id AS STRING), 6, '0')) AS k",
      "id AS v")
      .repartitionByRange(4, col("k")).write.parquet(s"$dir/data")
    StatsIndex.build(spark, s"$dir/data", Seq("k"), s"$dir/idx",
      bloomCols = Seq("k"), bloomItems = 10000, bloomFpp = 0.001)
    val ks = Seq(s"${prefix}000100", s"${prefix}003900")
    val pruned = StatsIndex
      .readPrunedForKeysString(spark, s"$dir/data", s"$dir/idx", "k", ks)
      .filter(col("k").isin(ks: _*))
      .selectExpr("sum(v) AS sv", "count(*) AS n").head
    val full = spark.read.parquet(s"$dir/data")
      .filter(col("k").isin(ks: _*))
      .selectExpr("sum(v) AS sv", "count(*) AS n").head
    assert(pruned == full && pruned.getLong(1) == 2L,
      s"truncated-bound keys: $pruned vs $full")
    // bounds are truncation-blind here, but the BLOOM arm still
    // prunes: the two keys live in two of four range files
    val kept = StatsIndex.prunedForKeysString(spark, s"$dir/idx", "k", ks)
    assert(kept.size <= 2, s"bloom arm kept ${kept.size} of 4")
  }

  test("dfpJoin type guards: string keys prune via the string path; " +
    "fractional keys fall back to the plain join unharmed") {
    def agg(df: org.apache.spark.sql.DataFrame) = df
      .selectExpr("sum(v) AS sv", "sum(payload) AS sp", "count(*) AS n")
      .head
    val dir = Files.createTempDirectory("graft_sidx_dfpg_").toString
    // STRING keys both sides → string prune path (the r7 ADVICE bug
    // cast these to all-NULL longs → empty key set → EMPTY join)
    spark.range(8000).selectExpr(
      "concat('k', lpad(CAST(id AS STRING), 6, '0')) AS k", "id AS v")
      .repartitionByRange(4, col("k")).write.parquet(s"$dir/sdata")
    StatsIndex.build(spark, s"$dir/sdata", Seq("k"), s"$dir/sidx")
    val dimS = spark.range(300, 340).selectExpr(
      "concat('k', lpad(CAST(id AS STRING), 6, '0')) AS dk",
      "id * 2 AS payload")
    val gotS = agg(StatsIndex.dfpJoin(spark, s"$dir/sdata",
      s"$dir/sidx", "k", dimS, "dk"))
    val plainS = agg(spark.read.parquet(s"$dir/sdata")
      .join(dimS, col("k") === col("dk")))
    assert(gotS == plainS && gotS.getLong(2) == 40L,
      s"string dfp $gotS vs $plainS")
    // the narrow string band lives in ONE range-file
    assert(StatsIndex.prunedForKeysString(spark, s"$dir/sidx", "k",
      (300 until 340).map(i => f"k$i%06d")).size == 1)
    // FRACTIONAL keys (non-integer values): an unguarded cast-to-long
    // truncates them; the guard must fall back to the plain join and
    // lose nothing
    spark.range(6000).selectExpr(
      "CAST(id AS DOUBLE)/2.0d AS k", "id AS v")
      .repartitionByRange(3, col("k")).write.parquet(s"$dir/ddata")
    StatsIndex.build(spark, s"$dir/ddata", Seq("k"), s"$dir/didx")
    val dimD = Seq(100.5d, 2500.5d).toDF("dk")
      .withColumn("payload", col("dk") * 2)
    val gotD = StatsIndex.dfpJoin(spark, s"$dir/ddata", s"$dir/didx",
      "k", dimD, "dk")
    assert(gotD.count() == 2L, "fractional-key fallback lost join rows")
  }

  // ---- metadata-first GROUPED COUNT ---------------------------------

  test("countByGroup equals the plain grouped count on a group-" +
    "clustered lake — and the interior answer SURVIVES DELETING THE " +
    "DATA (proof of zero I/O)") {
    val dir = Files.createTempDirectory("graft_cbg_").toString
    // 8 groups, each written as its own file: every file single-group
    (0 until 8).foreach { g =>
      spark.range(1000L * (g + 1)).select(lit(g).as("g"),
          col("id").as("v"))
        .coalesce(1).write.mode("append").parquet(s"$dir/data")
    }
    StatsIndex.build(spark, s"$dir/data", Seq("g"), s"$dir/idx")
    val want = spark.read.parquet(s"$dir/data").groupBy(col("g"))
      .count().as[(Int, Long)].collect().toMap
    val got = StatsIndex.countByGroup(spark, s"$dir/data", s"$dir/idx",
      "g").as[(Int, Long)].collect().toMap
    assert(got == want, s"$got vs $want")
    // physically delete every data file; the index alone must answer
    new java.io.File(s"$dir/data").listFiles()
      .filter(_.getName.endsWith(".parquet")).foreach(_.delete())
    val fromMeta = StatsIndex.countByGroup(spark, s"$dir/data",
      s"$dir/idx", "g").as[(Int, Long)].collect().toMap
    assert(fromMeta == want,
      "an all-interior grouped count must never open a data file")
  }

  test("countByGroup: string groups, a NULL group, and a MIXED " +
    "boundary file all reconcile with the plain grouped count") {
    val dir = Files.createTempDirectory("graft_cbg_s_").toString
    Seq("en", "de", "fr").zipWithIndex.foreach { case (lang, i) =>
      spark.range(500L * (i + 1)).select(lit(lang).as("lang"),
        col("id").as("v")).coalesce(1)
        .write.mode("append").parquet(s"$dir/data")
    }
    // one mixed file: two groups plus NULL-group rows — must scan
    spark.range(300).select(
        when(col("id") % 3 === 0, lit("en"))
          .when(col("id") % 3 === 1, lit("zz"))
          .otherwise(lit(null).cast("string")).as("lang"),
        col("id").as("v"))
      .coalesce(1).write.mode("append").parquet(s"$dir/data")
    StatsIndex.build(spark, s"$dir/data", Seq("lang"), s"$dir/idx")
    val want = spark.read.parquet(s"$dir/data").groupBy(col("lang"))
      .count().collect().map(r =>
        (Option(r.get(0)).map(_.toString), r.getLong(1))).toMap
    val got = StatsIndex.countByGroup(spark, s"$dir/data", s"$dir/idx",
      "lang").collect().map(r =>
        (Option(r.get(0)).map(_.toString), r.getLong(1))).toMap
    assert(got == want, s"$got vs $want")
    assert(got.contains(None), "the NULL group must surface")
  }

  test("countByGroup is DV-aware: single-group files subtract their " +
    "dead rows exactly, and a fully-deleted group disappears") {
    import graft.sources.{DeletionVectors, Occ}
    val dir = Files.createTempDirectory("graft_cbg_dv_").toString
    val lake = s"$dir/lake"
    (0 until 4).foreach { g =>
      assert(Occ.append(spark, lake,
        spark.range(100L * (g + 1)).select(lit(g).as("g"),
          col("id").as("v")), numFiles = 1) >= 0L)
    }
    StatsIndex.build(spark, lake, Seq("g"), s"$dir/idx")
    assert(DeletionVectors.deleteMor(spark, lake,
      "g = 2 AND v < 40") == 40L)
    assert(DeletionVectors.deleteMor(spark, lake, "g = 0") == 100L)
    val want = DeletionVectors.readMor(spark, lake).groupBy(col("g"))
      .count().as[(Int, Long)].collect().toMap
    val got = StatsIndex.countByGroup(spark, lake, s"$dir/idx", "g")
      .as[(Int, Long)].collect().toMap
    assert(got == want, s"$got vs $want")
    assert(!got.contains(0), "a fully-dead group must not surface")
    assert(got(2) == 260L)
  }

  test("countByGroup: DATE groups recover exactly; an UNCLUSTERED " +
    "lake degrades to the plain grouped count") {
    val dir = Files.createTempDirectory("graft_cbg_d_").toString
    (0 until 3).foreach { d =>
      spark.range(200L + d).select(
          date_add(lit(java.sql.Date.valueOf("2024-03-01")), lit(d))
            .as("day"), col("id").as("v"))
        .coalesce(1).write.mode("append").parquet(s"$dir/data")
    }
    StatsIndex.build(spark, s"$dir/data", Seq("day"), s"$dir/idx")
    val want = spark.read.parquet(s"$dir/data").groupBy(col("day"))
      .count().collect().map(r => (r.getDate(0).toString, r.getLong(1)))
      .toMap
    val got = StatsIndex.countByGroup(spark, s"$dir/data", s"$dir/idx",
      "day").collect().map(r => (r.getDate(0).toString, r.getLong(1)))
      .toMap
    assert(got == want, s"$got vs $want")
    // unclustered: every file mixes groups — all-boundary, still exact
    val u = Files.createTempDirectory("graft_cbg_u_").toString
    spark.range(20000).select(pmod(hash(col("id")), lit(7)).as("g"),
        col("id").as("v"))
      .repartition(6).write.parquet(s"$u/data")
    StatsIndex.build(spark, s"$u/data", Seq("g"), s"$u/idx")
    val wantU = spark.read.parquet(s"$u/data").groupBy(col("g"))
      .count().as[(Int, Long)].collect().toMap
    val gotU = StatsIndex.countByGroup(spark, s"$u/data", s"$u/idx",
      "g").as[(Int, Long)].collect().toMap
    assert(gotU == wantU)
  }


  test("countByGroup property net: random group type x layout x " +
    "nulls x vectors — always equals the plain grouped count") {
    import graft.sources.{DeletionVectors, Occ}
    for (seed <- Seq(19, 523)) {
      val rnd = new scala.util.Random(seed)
      val dir = Files.createTempDirectory(s"graft_cbgnet$seed").toString
      val lake = s"$dir/lake"
      val kind = rnd.nextInt(3) // 0 = int, 1 = string, 2 = date
      def gExpr(gi: Int) = kind match {
        case 0 => lit(gi)
        case 1 => lit(s"grp$gi")
        case _ => date_add(lit(java.sql.Date.valueOf("2024-06-01")),
          lit(gi))
      }
      val nGroups = 3 + rnd.nextInt(4)
      val withNulls = rnd.nextBoolean()
      val withMixed = rnd.nextBoolean()
      (0 until nGroups).foreach { gi =>
        assert(Occ.append(spark, lake,
          spark.range(100L + rnd.nextInt(200))
            .select(gExpr(gi).as("g"),
              (col("id") + gi * 100000).as("v")), numFiles = 1) >= 0L)
      }
      if (withNulls) // an all-NULL-group file (metadata NULL group)
        assert(Occ.append(spark, lake,
          spark.range(50).select(
            lit(null).cast(kind match { case 0 => "int"
              case 1 => "string"; case _ => "date" }).as("g"),
            (col("id") + 900000).as("v")), numFiles = 1) > 0L)
      if (withMixed) // a boundary file mixing two groups
        assert(Occ.append(spark, lake,
          spark.range(80).select(
            when(col("id") % 2 === 0, gExpr(0)).otherwise(gExpr(1))
              .as("g"), (col("id") + 800000).as("v")),
          numFiles = 1) > 0L)
      if (rnd.nextBoolean())
        DeletionVectors.deleteMor(spark, lake,
          s"v % ${3 + rnd.nextInt(4)} = 1"): Unit
      StatsIndex.build(spark, lake, Seq("g"), s"$dir/idx")
      def key(r: org.apache.spark.sql.Row) =
        (Option(r.get(0)).map(_.toString), r.getLong(1))
      val want = DeletionVectors.readMor(spark, lake)
        .groupBy(col("g")).count().collect().map(key).toMap
      val got = StatsIndex.countByGroup(spark, lake, s"$dir/idx", "g")
        .collect().map(key).toMap
      assert(got == want,
        s"seed $seed (kind=$kind nulls=$withNulls mixed=$withMixed): " +
          s"$got vs $want")
    }
  }

  // ---- minMaxByGroup (r14 — the metadata-answerable family's
  // min/max member) --------------------------------------------------

  test("minMaxByGroup equals the plain grouped min/max on a " +
    "group-clustered lake — and the all-interior answer SURVIVES " +
    "DELETING THE DATA (proof of zero I/O)") {
    val dir = Files.createTempDirectory("graft_mmg_").toString
    (0 until 8).foreach { g =>
      spark.range(1000L * (g + 1)).select(lit(g).as("g"),
          (col("id") + g * 7).as("v"))
        .coalesce(1).write.mode("append").parquet(s"$dir/data")
    }
    StatsIndex.build(spark, s"$dir/data", Seq("g", "v"), s"$dir/idx")
    def key(r: org.apache.spark.sql.Row) =
      (r.getInt(0), r.getLong(1), r.getLong(2))
    val want = spark.read.parquet(s"$dir/data").groupBy(col("g"))
      .agg(min(col("v")), max(col("v"))).collect().map(key).toSet
    val got = StatsIndex.minMaxByGroup(spark, s"$dir/data",
      s"$dir/idx", "g", "v").collect().map(key).toSet
    assert(got == want, s"$got vs $want")
    new java.io.File(s"$dir/data").listFiles()
      .filter(_.getName.endsWith(".parquet")).foreach(_.delete())
    val fromMeta = StatsIndex.minMaxByGroup(spark, s"$dir/data",
      s"$dir/idx", "g", "v").collect().map(key).toSet
    assert(fromMeta == want,
      "an all-interior grouped min/max must never open a data file")
  }

  test("minMaxByGroup: mixed boundary file, NULL group, and an " +
    "ALL-NULL value group (typed-NULL extrema) reconcile with the " +
    "plain aggregate") {
    val dir = Files.createTempDirectory("graft_mmg_s_").toString
    Seq("en", "de", "fr").zipWithIndex.foreach { case (lang, i) =>
      spark.range(500L * (i + 1)).select(lit(lang).as("lang"),
        (col("id") * (i + 1)).as("v")).coalesce(1)
        .write.mode("append").parquet(s"$dir/data")
    }
    // a single-group file whose VALUE is all-null: min/max = NULL
    // from metadata alone (its group has no other rows)
    spark.range(40).select(lit("nullish").as("lang"),
        lit(null).cast("long").as("v")).coalesce(1)
      .write.mode("append").parquet(s"$dir/data")
    // a mixed file incl. NULL-group rows — must scan
    spark.range(300).select(
        when(col("id") % 3 === 0, lit("en"))
          .when(col("id") % 3 === 1, lit("zz"))
          .otherwise(lit(null).cast("string")).as("lang"),
        (col("id") - 1000).as("v"))
      .coalesce(1).write.mode("append").parquet(s"$dir/data")
    StatsIndex.build(spark, s"$dir/data", Seq("lang", "v"), s"$dir/idx")
    def key(r: org.apache.spark.sql.Row) =
      (Option(r.get(0)).map(_.toString),
        Option(r.get(1)).map(_.toString),
        Option(r.get(2)).map(_.toString))
    val want = spark.read.parquet(s"$dir/data").groupBy(col("lang"))
      .agg(min(col("v")), max(col("v"))).collect().map(key).toSet
    val got = StatsIndex.minMaxByGroup(spark, s"$dir/data",
      s"$dir/idx", "lang", "v").collect().map(key).toSet
    assert(got == want, s"$got vs $want")
    assert(got.exists(k => k._1.contains("nullish") && k._2.isEmpty),
      "the all-null value group must surface with NULL extrema")
  }

  test("minMaxByGroup DV discipline: a covered file is NEVER answered " +
    "from metadata (the dead row could be the extremum) — scans and " +
    "stays exact; a fractional value column degrades to the scan") {
    import graft.sources.{DeletionVectors, Occ}
    val dir = Files.createTempDirectory("graft_mmg_dv_").toString
    val lake = s"$dir/lake"
    (0 until 4).foreach { g =>
      assert(Occ.append(spark, lake,
        spark.range(200).select(lit(g).as("g"),
          (col("id") + g * 1000).as("v")), numFiles = 1) >= 0L)
    }
    // kill group 2's maximum (v = 2199): footer bounds still claim it
    assert(DeletionVectors.deleteMor(spark, lake, "v = 2199") == 1L)
    StatsIndex.build(spark, lake, Seq("g", "v"), s"$dir/idx")
    def key(r: org.apache.spark.sql.Row) =
      (r.getInt(0), r.getLong(1), r.getLong(2))
    val want = DeletionVectors.readMor(spark, lake).groupBy(col("g"))
      .agg(min(col("v")), max(col("v"))).collect().map(key).toSet
    val got = StatsIndex.minMaxByGroup(spark, lake, s"$dir/idx",
      "g", "v").collect().map(key).toSet
    assert(got == want, s"$got vs $want")
    assert(got.contains((2, 2000L, 2198L)),
      "the deleted extremum must not resurrect from footer bounds")
    // fractional: ulp-widened bounds must never be served as extrema
    val d2 = Files.createTempDirectory("graft_mmg_d_").toString
    (0 until 3).foreach { g =>
      spark.range(100).select(lit(g).as("g"),
          (col("id") / lit(7.0)).as("v")).coalesce(1)
        .write.mode("append").parquet(s"$d2/data")
    }
    StatsIndex.build(spark, s"$d2/data", Seq("g", "v"), s"$d2/idx")
    val wantD = spark.read.parquet(s"$d2/data").groupBy(col("g"))
      .agg(min(col("v")), max(col("v"))).collect()
      .map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2))).toSet
    val gotD = StatsIndex.minMaxByGroup(spark, s"$d2/data",
      s"$d2/idx", "g", "v").collect()
      .map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2))).toSet
    assert(gotD == wantD,
      "double extrema must come from the scan, bit-exact")
  }

  test("minMaxByGroup property net: random group/value type x " +
    "layout x nulls x vectors — always equals the plain grouped " +
    "min/max") {
    import graft.sources.{DeletionVectors, Occ}
    for (seed <- Seq(37, 811)) {
      val rnd = new scala.util.Random(seed)
      val dir = Files.createTempDirectory(s"graft_mmgnet$seed").toString
      val lake = s"$dir/lake"
      val kind = rnd.nextInt(3) // group: 0 = int, 1 = string, 2 = date
      val vDate = rnd.nextBoolean() // value: long or date
      def gExpr(gi: Int) = kind match {
        case 0 => lit(gi)
        case 1 => lit(s"grp$gi")
        case _ => date_add(lit(java.sql.Date.valueOf("2024-06-01")),
          lit(gi))
      }
      def vExpr(shift: Int): org.apache.spark.sql.Column = {
        val base = col("id") + shift
        if (vDate) date_add(lit(java.sql.Date.valueOf("2020-01-01")),
          base.cast("int") % 3000)
        else base
      }
      val nGroups = 3 + rnd.nextInt(4)
      (0 until nGroups).foreach { gi =>
        assert(Occ.append(spark, lake,
          spark.range(100L + rnd.nextInt(200))
            .select(gExpr(gi).as("g"), vExpr(gi * 1000).as("v"),
              col("id").as("rid")), numFiles = 1) >= 0L)
      }
      if (rnd.nextBoolean()) // boundary file mixing two groups
        assert(Occ.append(spark, lake,
          spark.range(80).select(
            when(col("id") % 2 === 0, gExpr(0)).otherwise(gExpr(1))
              .as("g"), vExpr(500).as("v"),
            (col("id") + 800000).as("rid")), numFiles = 1) > 0L)
      if (rnd.nextBoolean())
        DeletionVectors.deleteMor(spark, lake,
          s"rid % ${3 + rnd.nextInt(4)} = 1"): Unit
      StatsIndex.build(spark, lake, Seq("g", "v"), s"$dir/idx")
      def key(r: org.apache.spark.sql.Row) =
        (Option(r.get(0)).map(_.toString),
          Option(r.get(1)).map(_.toString),
          Option(r.get(2)).map(_.toString))
      val want = DeletionVectors.readMor(spark, lake)
        .groupBy(col("g")).agg(min(col("v")), max(col("v")))
        .collect().map(key).toSet
      val got = StatsIndex.minMaxByGroup(spark, lake, s"$dir/idx",
        "g", "v").collect().map(key).toSet
      assert(got == want,
        s"seed $seed (kind=$kind vDate=$vDate): $got vs $want")
    }
  }

  test("a warm snapshot answers indexedFiles, range/point prunes and " +
    "key-set prunes with zero Spark jobs") {
    val idx = s"$base/idx"
    val all = StatsIndex.indexedFiles(spark, idx)
    var ranged, point, keyed: Seq[String] = Nil
    val jobs = jobsOf {
      assert(StatsIndex.indexedFiles(spark, idx) == all)
      ranged = StatsIndex.prunedTyped(spark, idx, Seq(
        StatsIndex.LongRange("x", 100L, 160L),
        StatsIndex.DoubleRange("y", 200.5, 260.0)))
      point = StatsIndex.prunedTyped(spark, idx,
        Seq(StatsIndex.LongEquals("x", 77L)))
      keyed = StatsIndex.prunedForKeys(spark, idx, "x", Seq(5L, 900L))
    }
    assert(jobs == 0, s"warm prunes ran $jobs Spark jobs")
    assert(ranged.nonEmpty && ranged.size < all.size)
    assert(point.nonEmpty && point.size < all.size)
    assert(keyed.nonEmpty && keyed.size < all.size)
  }

  test("refresh adding one file to a bloom-less index runs at most 2 " +
    "jobs and seeds a snapshot equal to the generation it wrote") {
    val dir = Files.createTempDirectory("graft_sidx_r2_").toString
    val mk = (lo: Long) => spark.range(lo, lo + 500).select(
      col("id").as("x"), (col("id") * 0.5).as("d"),
      concat(lit("s"), col("id").cast("string")).as("s"))
    mk(0L).coalesce(1).write.parquet(s"$dir/data")
    mk(1000L).coalesce(1).write.mode("append").parquet(s"$dir/data")
    StatsIndex.build(spark, s"$dir/data", Seq("x", "d", "s"), s"$dir/idx")
    mk(5000L).coalesce(1).write.mode("append").parquet(s"$dir/data")
    val jobs = jobsOf {
      assert(StatsIndex.refresh(spark, s"$dir/data", Seq("x", "d", "s"),
        s"$dir/idx") == ((1, 0)))
    }
    assert(jobs <= 2, s"one-file refresh ran $jobs Spark jobs")
    val snap = StatsIndex.snapshot(spark, s"$dir/idx")
    // StatRow's fields in order, Options as nullable values
    val held = snap.rows.map(_.productIterator.map {
      case o: Option[_] => o.getOrElse(null)
      case x => x
    }.toSeq).toSet
    val written = StatsIndex.readIndex(spark, s"$dir/idx")
      .select("file", "row_count", "col", "kind", "lmin", "lmax", "dmin",
        "dmax", "smin", "smax", "nulls", "dtype", "bspace")
      .collect().map(_.toSeq).toSet
    assert(held == written)
    assert(snap.files.size == 3 && snap.rows.size == 9)
    assert(StatsIndex.prunedTyped(spark, s"$dir/idx",
      Seq(StatsIndex.LongRange("x", 5100L, 5200L))).size == 1)
  }

  test("refresh with no churn publishes nothing: no job, CURRENT and " +
    "the generation dirs untouched") {
    val dir = Files.createTempDirectory("graft_sidx_noop_").toString
    spark.range(0, 500).select(col("id").as("x")).coalesce(1)
      .write.parquet(s"$dir/data")
    StatsIndex.build(spark, s"$dir/data", Seq("x"), s"$dir/idx")
    def state: Seq[(String, Long)] = {
      val root = new java.io.File(s"$dir/idx")
      root.listFiles().toSeq.flatMap(f =>
        if (f.isDirectory) f.listFiles().toSeq else Seq(f))
        .map(f => (f.getPath, f.lastModified())).sortBy(_._1) :+
        ("CURRENT", java.nio.file.Files.readString(
          new java.io.File(root, "CURRENT").toPath).hashCode.toLong)
    }
    val before = state
    val jobs = jobsOf {
      assert(StatsIndex.refresh(spark, s"$dir/data", Seq("x"),
        s"$dir/idx") == ((0, 0)))
    }
    assert(jobs == 0, s"a no-churn refresh ran $jobs Spark jobs")
    assert(state == before, "a no-churn refresh changed the index dir")
    assert(StatsIndex.prunedTyped(spark, s"$dir/idx",
      Seq(StatsIndex.LongRange("x", 10L, 20L))).size == 1)
  }

  test("driver-side key-set pruning equals the per-(row, key) SQL arms " +
    "on random long, double and truncated-string layouts") {
    val dir = Files.createTempDirectory("graft_sidx_keys_").toString
    // strings track k, so files are clustered on all three columns;
    // every 7th value carries a >64-char multibyte tail, so string
    // bounds are truncated (prefix min, incremented or open max)
    spark.range(3000).select(
      col("id").as("k"), (col("id") * 0.5 - 100.0).as("d"),
      concat(lpad((col("id") / 3).cast("long").cast("string"), 5, "0"),
        when(col("id") % 7 === 0,
          lit("x" * 70 + "\u00e9\ud83d\ude00")).otherwise(lit("")))
        .as("s"))
      .repartitionByRange(6, col("k"))
      .write.parquet(s"$dir/data")
    StatsIndex.build(spark, s"$dir/data", Seq("k", "d", "s"), s"$dir/idx")
    val idx = StatsIndex.readIndex(spark, s"$dir/idx")
    val all = idx.select(col("file")).distinct()
    def oracle(column: String, keys: DataFrame, excl: Column): Set[String] = {
      val out = idx.filter(col("col") === column && col("kind") =!= "bloom")
        .crossJoin(keys).withColumn("re", coalesce(excl, lit(false)))
        .groupBy(col("file"), col("k")).agg(max(col("re")).as("a"))
        .groupBy(col("file")).agg(min(col("a")).as("all"))
        .filter(col("all")).select(col("file"))
      all.join(out, Seq("file"), "left_anti").collect()
        .map(_.getString(0)).toSet
    }
    val numExcl =
      (col("kind").isin("long", "date") &&
        (col("lmax") < col("k") || col("lmin") > col("k"))) ||
        (col("kind") === "double" && (col("dmax") < col("k").cast("double") ||
          col("dmin") > col("k").cast("double")))
    val strExcl = col("kind") === "string" &&
      (col("smax") < col("k") || col("smin") > col("k"))
    val strings = spark.read.parquet(s"$dir/data").select(col("s"))
      .collect().map(_.getString(0))
    val rnd = new scala.util.Random(4711)
    (1 to 12).foreach { trial =>
      val n = 1 + rnd.nextInt(6)
      val longs = Seq.fill(n)(rnd.nextInt(5) match {
        case 0 => rnd.nextLong(6000L) - 1500L // in, around and out of range
        case 1 => (rnd.nextInt(6) * 500).toLong // near file edges
        case _ => rnd.nextLong(3000L)
      })
      val strs = Seq.fill(n)(rnd.nextInt(4) match {
        case 0 => strings(rnd.nextInt(strings.length))
        case 1 => strings(rnd.nextInt(strings.length)).take(64)
        case 2 => f"${rnd.nextInt(1100)}%05d"
        case _ => f"${rnd.nextInt(1000)}%05d" + "x" * 70 + "\uffff"
      })
      val lk = longs.toDF("k")
      Seq("k", "d").foreach { c =>
        assert(StatsIndex.prunedForKeys(spark, s"$dir/idx", c, longs).toSet ==
          oracle(c, lk, numExcl), s"trial $trial column $c keys $longs")
      }
      assert(StatsIndex.prunedForKeysString(spark, s"$dir/idx", "s", strs)
        .toSet == oracle("s", strs.toDF("k"), strExcl),
        s"trial $trial strings $strs")
    }
  }

  test("bloom rows stay in parquet: the snapshot holds their rows " +
    "without the filter bytes, and the bloom arm still prunes") {
    val dir = Files.createTempDirectory("graft_sidx_bsnap_").toString
    spark.range(9000).selectExpr("id AS k", "xxhash64(id) % 3 AS b")
      .repartition(3, col("b")).drop("b").write.parquet(s"$dir/data")
    StatsIndex.build(spark, s"$dir/data", Seq("k"), s"$dir/idx",
      bloomCols = Seq("k"), bloomItems = 10000, bloomFpp = 0.001)
    val snap = StatsIndex.snapshot(spark, s"$dir/idx")
    assert(!classOf[StatsIndex.StatRow].getDeclaredFields
      .exists(_.getName == "bloom"))
    assert(snap.rows.count(_.kind == "bloom") == 3)
    assert(snap.bloomCols == Set("k"))
    // every file spans the key range: only the bloom arm can prune
    val kept = StatsIndex.prunedTyped(spark, s"$dir/idx",
      Seq(StatsIndex.LongEquals("k", 4242L)))
    assert(kept.size == 1, s"bloom point probe kept ${kept.size} of 3")
    assert(spark.read.parquet(kept: _*).filter(col("k") === 4242L)
      .count() == 1L)
  }

  test("a bloom generation written before string bounds (no smin/smax " +
    "columns) refreshes, unchanged or shrunk, and still prunes") {
    val dir = Files.createTempDirectory("graft_sidx_nostr_").toString
    spark.range(9000).selectExpr("id AS k", "xxhash64(id) % 3 AS b")
      .repartition(3, col("b")).drop("b").write.parquet(s"$dir/data")
    StatsIndex.build(spark, s"$dir/data", Seq("k"), s"$dir/idx",
      bloomCols = Seq("k"), bloomItems = 10000, bloomFpp = 0.001)
    // the same rows in the pre-string layout: a flat generation
    StatsIndex.readIndex(spark, s"$dir/idx").drop("smin", "smax")
      .coalesce(1).write.parquet(s"$dir/old")
    assert(StatsIndex.refresh(spark, s"$dir/data", Seq("k"), s"$dir/old",
      bloomCols = Seq("k")) == ((0, 0)))
    val gone = StatsIndex.indexedFiles(spark, s"$dir/old").head
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.delete(new org.apache.hadoop.fs.Path(gone), false))
    assert(StatsIndex.refresh(spark, s"$dir/data", Seq("k"), s"$dir/old",
      bloomCols = Seq("k")) == ((0, 1)))
    val live = spark.read.parquet(s"$dir/data")
    val k = live.select(col("k")).head().getLong(0)
    val kept = StatsIndex.prunedTyped(spark, s"$dir/old",
      Seq(StatsIndex.LongEquals("k", k)))
    assert(kept.size == 1 && kept.head != gone)
    assert(StatsIndex.readIndex(spark, s"$dir/old")
      .filter(col("kind") === "bloom").count() == 2)
  }

  test("driver-side stats arms exclude exactly the files the SQL arms " +
    "over the index rows exclude, on random ranges of every kind") {
    val dir = Files.createTempDirectory("graft_sidx_arms_").toString
    // clustered on every column; d has NULLs, dt is a date, t an instant
    spark.range(3000).select(
      col("id").as("k"),
      when(col("id") % 11 === 0, lit(null))
        .otherwise(col("id") * 0.5 - 100.0).as("d"),
      lpad((col("id") / 3).cast("long").cast("string"), 5, "0").as("s"),
      expr("date_add(DATE'2020-01-01', CAST(id AS INT))").as("dt"),
      expr("timestamp_micros(id * 3600000000)").as("t"))
      .repartitionByRange(6, col("k")).write.parquet(s"$dir/data")
    StatsIndex.build(spark, s"$dir/data", Seq("k", "d", "s", "dt", "t"),
      s"$dir/idx")
    val idx = StatsIndex.readIndex(spark, s"$dir/idx")
    val all = StatsIndex.indexedFiles(spark, s"$dir/idx").toSet
    def kind(ks: String*) = col("kind").isin(ks: _*)
    def outL(lo: Long, hi: Long) = col("lmax") < lo || col("lmin") > hi
    def outD(lo: Double, hi: Double) = col("dmax") < lo || col("dmin") > hi
    def ts(lo: Long, hi: Long) = {
      val (md, tz) = (86400000000L, 50400000000L)
      (kind("long") && outL(lo, hi)) ||
        (kind("tsntz") && outL(lo - tz, hi + tz)) ||
        (kind("date") && outL(Math.floorDiv(lo, md) - 1,
          Math.floorDiv(hi, md) + 1))
    }
    def clamp(x: Double): Long =
      if (x <= Long.MinValue.toDouble) Long.MinValue
      else if (x >= Long.MaxValue.toDouble) Long.MaxValue else x.toLong
    // the SQL form of each range's stats arms
    def sqlArm(r: StatsIndex.ColRange): Column = col("col") === r.name && (
      r match {
        case StatsIndex.LongRange(_, lo, hi) =>
          (kind("long", "date") && outL(lo, hi)) || (kind("double") &&
            outD(Math.nextDown(lo.toDouble), Math.nextUp(hi.toDouble)))
        case StatsIndex.LongEquals(_, v) =>
          sqlArm(StatsIndex.LongRange(r.name, v, v))
        case StatsIndex.DoubleRange(_, lo, hi) =>
          (kind("double") && outD(lo, hi)) || (kind("long", "date") &&
            outL(clamp(math.ceil(lo)), clamp(math.floor(hi))))
        case StatsIndex.DoubleEquals(_, v) =>
          (kind("double") && outD(v, v)) || (kind("long", "date") &&
            (if (v == math.rint(v)) outL(v.toLong, v.toLong) else lit(true)))
        case StatsIndex.StringRange(_, lo, hi) =>
          kind("string") && (col("smax") < lo || col("smin") > hi)
        case StatsIndex.StringEquals(_, v) =>
          kind("string") && (col("smax") < v || col("smin") > v)
        case t: StatsIndex.TimestampRange => ts(t.loMicros, t.hiMicros)
        case t: StatsIndex.TimestampEquals => ts(t.loMicros, t.hiMicros)
      })
    // half the probe values sit on a file's k bound or next to it, so
    // the strict/inclusive edge of every comparison is exercised
    val edges = idx.filter(col("col") === "k")
      .select(explode(array(col("lmin"), col("lmax")))).collect()
      .map(_.getLong(0))
    val rnd = new scala.util.Random(2718)
    def lng(): Long =
      if (rnd.nextBoolean()) edges(rnd.nextInt(edges.length)) + rnd.nextInt(3) - 1
      else rnd.nextLong(4000L) - 500L
    def inst(): java.time.Instant =
      java.time.Instant.ofEpochSecond(lng() * 3600L, rnd.nextInt(3) * 500L)
    def str(): String = f"${lng() / 3}%05d" + (if (rnd.nextBoolean()) "z" else "")
    def range(): StatsIndex.ColRange = {
      val (a, b) = (lng(), lng())
      val (lo, hi) = (math.min(a, b), math.max(a, b))
      rnd.nextInt(12) match {
        case 0 => StatsIndex.LongRange("k", lo, hi)
        case 1 => StatsIndex.LongRange("d", lo, hi / 4)
        case 2 => StatsIndex.LongRange("dt", 18262L + lo, 18262L + hi)
        case 3 => StatsIndex.DoubleRange("d", lo * 0.5 - 100.0, hi * 0.5 - 100.0)
        case 4 => StatsIndex.DoubleRange("k", lo + 0.5, hi - 0.25)
        case 5 => StatsIndex.LongEquals(if (rnd.nextBoolean()) "k" else "d", lo)
        case 6 => StatsIndex.DoubleEquals(if (rnd.nextBoolean()) "k" else "d",
          if (rnd.nextBoolean()) lo.toDouble else lo + 0.5)
        case 7 =>
          val (x, y) = (str(), str())
          StatsIndex.StringRange("s", Seq(x, y).min, Seq(x, y).max)
        case 8 => StatsIndex.StringEquals("s", str())
        case 9 =>
          val (x, y) = (inst(), inst())
          StatsIndex.TimestampRange(if (rnd.nextBoolean()) "t" else "dt",
            Seq(x, y).min, Seq(x, y).max)
        case 10 => StatsIndex.TimestampEquals("t", inst())
        case _ => StatsIndex.LongRange("missing", lo, hi)
      }
    }
    var pruning = 0
    (1 to 60).foreach { trial =>
      val ranges = Seq.fill(1 + rnd.nextInt(2))(range())
      val out = idx.filter(ranges.map(sqlArm).reduce(_ || _))
        .select(col("file")).collect().map(_.getString(0)).toSet
      val got = StatsIndex.prunedTyped(spark, s"$dir/idx", ranges).toSet
      assert(got == all -- out, s"trial $trial: $ranges")
      if (got.size < all.size) pruning += 1
    }
    assert(pruning >= 30, s"only $pruning of 60 trials pruned anything")
  }

  test("listData walks exactly the files a recursive listFiles found: " +
    "sidecar dirs and hidden files skipped, partition dirs walked") {
    val dir = Files.createTempDirectory("graft_sidx_walk_").toString
    val one = spark.range(10).toDF("x").coalesce(1)
    Seq("", "/p=1", "/p=2/q=a", "/_dv", "/_graft_log", "/.occ-stage1",
      "/p=1/_tmp").foreach(sub => one.write.parquet(s"$dir/lake$sub"))
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a hidden leaf name and a non-parquet file beside the data
    Files.write(java.nio.file.Paths.get(s"$dir/lake/p=1/.hidden.parquet"),
      Array[Byte](1))
    Files.write(java.nio.file.Paths.get(s"$dir/lake/notes.txt"),
      Array[Byte](1))
    // the listing the index used before: listFiles(recursive) + a
    // file is hidden when any segment below the root starts _ or .
    val root = fs.makeQualified(new org.apache.hadoop.fs.Path(s"$dir/lake"))
    val it = fs.listFiles(root, true)
    val before = Seq.newBuilder[String]
    while (it.hasNext) {
      val p = it.next().getPath
      val segs = Iterator.iterate(p)(_.getParent)
        .takeWhile(q => q != null && q != root).map(_.getName)
      if (p.getName.endsWith(".parquet") &&
          !segs.exists(n => n.startsWith("_") || n.startsWith(".")))
        before += p.toString
    }
    val want = before.result().sorted
    assert(want.size == 3, want.toString) // root part, p=1, p=2/q=a
    assert(StatsIndex.listData(spark, s"$dir/lake") == want)
  }
}
