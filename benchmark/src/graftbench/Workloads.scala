package graftbench

import java.io.File
import java.nio.file.{Files, Path => JPath}
import java.util.SplittableRandom

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.bench.E2EBench
import graft.sources.{CommitLog, DeletionVectors, Occ, StatsIndex}
import graft.streaming.LayoutSink

/** One benchmark workload: a seeded initial state plus a fixed, seeded
  * sequence of rounds, each running every operation kind of the workload.
  * Round `r` draws its inputs from its own generator, so its content never
  * depends on timing. */
trait Workload {
  /** `space_amp`, sampled untimed by round 0 at a fixed point of the op
    * sequence, so it does not depend on how many rounds fit the run. */
  var amp: Double = Double.NaN
  def build(dir: String): Unit
  def round(r: Int, run: Runner): Unit
  /** Final output checks against the replayed state; empty when correct. */
  def check(): Seq[String]
  def facts: Map[String, Any] = Map.empty
}

object Workload {
  def dirBytes(dir: String): Long = {
    val p = new File(dir).toPath
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }
  }

  /** Bytes of `df` written once as plain parquet, range-ordered like the
    * tables it stands for; the copy is deleted again. */
  def plainBytes(df: DataFrame, dir: String, order: Seq[String]): Long = {
    df.orderBy(order.map(col): _*).write.mode("overwrite").parquet(dir)
    val n = dirBytes(dir)
    deleteDir(dir)
    n
  }

  def deleteDir(dir: String): Unit = {
    val p = new File(dir).toPath
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach((f: JPath) => Files.delete(f))
      finally s.close()
    }
  }

  def countSum(df: DataFrame): (Long, Long) = {
    val r = df.agg(count(lit(1)), coalesce(sum("volume"), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  def mismatch(what: String, got: Any, want: Any): Option[String] =
    if (got == want) None else Some(s"$what: got $got, replay says $want")

  def digestOf(df: DataFrame): (Long, Long) =
    Gen.digest(df.select(Gen.barSchema.fieldNames.map(col).toIndexedSeq: _*)
      .collect().iterator.map(Gen.rowBar))
}

import Workload._

/** `stock_ml`: the paper's four end-to-end cells on one seeded bar table. */
final class StockMl(spark: SparkSession, seed: Long, rows: Int) extends Workload {
  private val cells = Seq("rf_raw" -> "e2e_rf_raw", "rf_fe" -> "e2e_rf_fe",
    "rf_pca" -> "e2e_rf_pca", "svm_pca" -> "e2e_svm_pca")
  private var dir: String = _
  private val aucs = mutable.LinkedHashMap.empty[String, Double]

  private def path = s"$dir/bars"

  def build(d: String): Unit = {
    dir = d
    aucs.clear()
    Gen.stockBars(spark, seed, rows).write.parquet(path)
  }

  def round(r: Int, run: Runner): Unit = {
    cells.foreach { case (k, cell) =>
      run.op(s"cell.$k")(E2EBench.cells(cell)(spark, path)) { auc =>
        val err =
          if (!(auc > 0.5 && auc <= 1.0)) Some(s"AUC $auc outside (0.5, 1]")
          else aucs.get(k).filter(a => math.abs(a - auc) > 1e-9)
            .map(a => s"AUC $auc differs from this run's first $a")
        aucs.getOrElseUpdate(k, auc)
        Check(0, err)
      }
      run.untimed(spark.catalog.clearCache())
    }
    // the cells only read the table: it stays as written
    if (r == 0) amp = run.untimed(dirBytes(path).toDouble /
      plainBytes(spark.read.parquet(path), s"$dir/plain", Seq("date")))
  }

  def check(): Seq[String] = cells.map(_._1).filterNot(aucs.contains)
    .map(k => s"cell $k never produced an AUC")

  override def facts: Map[String, Any] = aucs.map { case (k, v) => s"auc.$k" -> v }.toMap
}

/** Replayed state of a minute-bar table: key -> bar. */
final class Replay {
  val live = mutable.HashMap.empty[Long, Gen.Bar]
  def rangeCountSum(lo: Long, hi: Long, sym: Option[Long] = None): (Long, Long) = {
    var n, v = 0L
    live.foreach { case (k, b) =>
      val m = Gen.minuteOf(k)
      if (m >= lo && m <= hi && sym.forall(_ == Gen.symOf(k))) { n += 1; v += b.volume }
    }
    (n, v)
  }
  def countSum: (Long, Long) = (live.size.toLong, live.valuesIterator.map(_.volume).sum)
  def digest: (Long, Long) = Gen.digest(live.iterator)
}

/** `lake_dml`: a minute-bar lake fed by the streaming layout sink, with
  * merge-on-read corrections, deletes and compactions beside the three
  * reads. Ingest goes through the sink and the mutations through the DML
  * verbs, which publish at the sink's current batch id. A round is
  * `cycles` write/read cycles and then one compaction, so the reads of
  * later cycles pay the deletion-vector debt the earlier ones left. */
final class LakeDml(spark: SparkSession, seed: Long, syms: Int, minutes0: Long,
    files: Int, batchMinutes: Int, corrections: Int, deleteMinutes: Int,
    readMinutes: Int, cycles: Int) extends Workload {
  private var dir: String = _
  private val state = new Replay
  private var nextMinute = 0L
  private var inputs = 0
  /** Replayed row count at the end of each published batch id (the DML
    * verbs publish at the current id, so a later write can change it). */
  private val rowsAt = mutable.HashMap.empty[Long, Long]
  /** The oldest batch id time travel can reach: the latest compaction
    * reclaims the bytes below it and the sink's log fold drops the
    * records below it (the initial commit before either). */
  private var travelId = -1L

  private def lake = s"$dir/lake"
  private def idx = s"$dir/lake_idx"
  private def fs = new Path(lake).getFileSystem(spark.sparkContext.hadoopConfiguration)
  private def published(): Long = {
    val id = CommitLog.maxCommittedId(fs, lake)
    rowsAt(id) = state.live.size
    id
  }

  /** Lands `df` as one parquet file in the sink's input directory and runs
    * the sink over it: one micro-batch, `Trigger.AvailableNow`. */
  private def ingest(df: DataFrame, filesPerBatch: Int): Unit = {
    inputs += 1
    val stage = s"$dir/stage_$inputs"
    df.coalesce(1).write.parquet(stage)
    val part = new File(stage).listFiles().filter(_.getName.endsWith(".parquet")).head
    Files.move(part.toPath, new File(s"$dir/in/b_$inputs.parquet").toPath)
    deleteDir(stage)
    LayoutSink.start(spark.readStream.schema(Gen.barSchema).parquet(s"$dir/in"), lake, idx,
      s"$dir/ckpt", Seq("minute"), filesPerBatch = filesPerBatch).awaitTermination()
  }

  def build(d: String): Unit = {
    dir = d
    state.live.clear()
    inputs = 0
    Files.createDirectories(new File(s"$dir/in").toPath)
    val init = Gen.gridFrame(spark, seed, syms, minutes0, files)
    ingest(init, files)
    init.collect().foreach(row => state.live += Gen.rowBar(row))
    nextMinute = minutes0
    rowsAt.clear()
    travelId = published()
  }

  def round(r: Int, run: Runner): Unit = {
    val rnd = Gen.rng(seed, 1000 + r)
    (0 until cycles).foreach(_ => cycle(rnd, run))
    // space_amp with the round's deletion-vector debt still in place
    if (r == 0) amp = run.untimed(dirBytes(lake).toDouble / plainBytes(
      DeletionVectors.readMor(spark, lake), s"$dir/plain", Seq("minute", "sym")))
    run.op("sources.compact")(DeletionVectors.compact(spark, lake, indexDir = Some(idx))) {
      _ => Check(0)
    }.foreach(_ => travelId = run.untimed(published()))
  }

  /** One write/read cycle. Writes and reads interleave, so deletion-vector
    * debt left by the writes is paid by the reads that follow them. */
  private def cycle(rnd: SplittableRandom, run: Runner): Unit = {
    val fresh = Gen.grid(rnd, syms, nextMinute, nextMinute + batchMinutes)
    val records = run.untimed(CommitLog.recordCount(fs, lake))
    run.op("streaming.layout_batch", fresh.size * Gen.barBytes) {
      ingest(Gen.frame(spark, fresh), filesPerBatch = 2)
    } { _ => Check(0) }
      .foreach { _ =>
        state.live ++= fresh
        nextMinute += batchMinutes
        run.untimed {
          val id = published()
          // the sink adds one record per batch; fewer means it folded the log
          if (CommitLog.recordCount(fs, lake) <= records) travelId = id
        }
      }

    val lo = rnd.nextLong(nextMinute - readMinutes)
    val hi = lo + readMinutes - 1
    run.op("sources.pruned_read") {
      countSum(DeletionVectors.readMorPruned(spark, lake, idx,
        Seq(StatsIndex.LongRange("minute", lo, hi))))
    } { got => Check(got._1, mismatch(s"minute $lo..$hi", got, state.rangeCountSum(lo, hi))) }

    // corrections to live bars, biased to the most recent minutes; keys
    // are unique within the batch, as merge requires
    val recent = math.min(nextMinute, 10L * batchMinutes)
    val picked = mutable.LinkedHashMap.empty[Long, Gen.Bar]
    while (picked.size < corrections) {
      val m = nextMinute - 1 - (recent * math.pow(rnd.nextDouble(), 2)).toLong
      val k = Gen.key(rnd.nextLong(syms.toLong), m)
      state.live.get(k).foreach(b =>
        picked(k) = b.copy(close = b.close + rnd.nextGaussian(), volume = b.volume + 1))
    }
    val upd = picked.toSeq
    run.op("sources.upsert_mor", upd.size * Gen.barBytes) {
      Occ.mergeMor(spark, lake, Gen.frame(spark, upd), Seq("sym", "minute"),
        indexDir = Some(idx))
    } { got => Check(0, mismatch("(matched, appended)", got, (upd.size.toLong, upd.size.toLong))) }
      .foreach { _ => state.live ++= upd; run.untimed(published()) }

    run.op("sources.scan")(countSum(DeletionVectors.readMor(spark, lake))) { got =>
      Check(got._1, mismatch("full read", got, state.countSum))
    }

    val a = rnd.nextLong(nextMinute - deleteMinutes)
    val dead = for (m <- a until a + deleteMinutes; s <- 0L until syms.toLong
      if state.live.contains(Gen.key(s, m))) yield Gen.key(s, m)
    run.op("sources.delete_mor") {
      Occ.deleteMor(spark, lake, s"minute BETWEEN $a AND ${a + deleteMinutes - 1}")
    } { n => Check(0, mismatch("rows deleted", n, dead.size.toLong)) }
      .foreach { _ => state.live --= dead; run.untimed(published()) }

    run.op("sources.time_travel") {
      DeletionVectors.readMorAsOf(spark, lake, travelId).agg(count(lit(1))).head().getLong(0)
    } { n => Check(n, mismatch(s"rows as of batch $travelId", n, rowsAt(travelId))) }
  }

  def check(): Seq[String] =
    mismatch("final readMor snapshot (rows, hash)",
      digestOf(DeletionVectors.readMor(spark, lake)), state.digest).toSeq
}
