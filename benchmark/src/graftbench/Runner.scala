package graftbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** What an operation's output check found: the rows a read returned, and
  * a mismatch against the replayed state, if any. */
final case class Check(rows: Long, error: Option[String] = None)

/** The single closed-loop client: runs one operation at a time, times
  * it, checks its output and, in traced rounds, records it as a span. */
final class Runner(spark: SparkSession) {
  var traced = false
  var attempted = 0L
  var failed = 0L
  val errors = mutable.ArrayBuffer.empty[String]
  /** Successful operation walls by kind, split by traced / untraced round. */
  val walls = mutable.LinkedHashMap.empty[(String, Boolean), mutable.ArrayBuffer[Double]]
  val spans = mutable.ArrayBuffer.empty[(Int, Span)]
  var round = 0
  /** Untimed work done inside rounds (sampling, GC), in seconds. */
  var pausedS = 0.0
  private var seq = 0

  /** Runs `body` outside the measured time. */
  def untimed[T](body: => T): T = {
    val t0 = System.nanoTime()
    try body finally pausedS += (System.nanoTime() - t0) / 1e9
  }

  private def gcSeconds: Double = ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(_.getCollectionTime).filter(_ > 0).sum / 1e3

  /** Runs `body` as one operation of `kind`. Returns its value, or None if
    * it threw; a thrown operation and one whose check reports a mismatch
    * both count as failed. */
  def op[T](kind: String, userBytes: Long = 0L)(body: => T)(check: T => Check): Option[T] = {
    attempted += 1
    seq += 1
    val id = s"$kind#$seq"
    val sc = spark.sparkContext
    if (traced) sc.setLocalProperty(Tracer.SpanKey, id)
    val (fs0, bytes0, gc0) =
      if (traced) (CountingFs.ops.get, CountingFs.bytesWritten, gcSeconds) else (0L, 0L, 0.0)
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val out = try Right(body) catch { case e: Throwable => Left(e) }
    val wall = (System.nanoTime() - t0) / 1e9
    val endMs = System.currentTimeMillis()
    if (traced) sc.setLocalProperty(Tracer.SpanKey, null)
    out match {
      case Left(e) =>
        failed += 1
        errors += s"$kind: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
        System.err.println(s"[graftbench] $kind failed")
        e.printStackTrace()
        None
      case Right(v) =>
        val c = check(v)
        c.error.foreach { msg => failed += 1; errors += s"$kind: $msg" }
        if (c.error.isEmpty)
          walls.getOrElseUpdate((kind, traced), mutable.ArrayBuffer.empty) += wall
        if (traced) spans += round -> Span(id, kind, startMs, endMs, wall,
          CountingFs.ops.get - fs0, CountingFs.bytesWritten - bytes0, userBytes,
          c.rows, gcSeconds - gc0)
        Some(v)
    }
  }
}

object Runner {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def geomean(xs: Iterable[Double]): Double =
    math.exp(xs.map(math.log).sum / xs.size)
}
