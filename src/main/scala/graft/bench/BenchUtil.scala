package graft.bench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Shared helpers for the scale-measurement mains — one copy of the
  * timing wrapper, the recursive delete and the job counter, so a
  * future fix (symlink handling, timing method) lands everywhere at
  * once. */
private[bench] object BenchUtil {

  /** Wall seconds of `f`. */
  def secs(f: => Unit): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
  }

  /** Recursive local delete (quiet on absence). */
  def rmrf(p: String): Unit = {
    def rec(f: java.io.File): Unit = {
      val cs = f.listFiles(); if (cs != null) cs.foreach(rec)
      f.delete(): Unit
    }
    rec(new java.io.File(p))
  }

  /** Spark jobs started by `body`, counted by a listener; a tagged
    * sentinel job marks the end, since events arrive asynchronously. */
  def jobsOf(spark: SparkSession)(body: => Unit): Int = {
    val sc = spark.sparkContext
    val seen = new ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("probe.job"))).getOrElse(""))
    }
    sc.addSparkListener(listener)
    try {
      body
      sc.setLocalProperty("probe.job", "end")
      try sc.parallelize(Seq(1), 1).count() finally
        sc.setLocalProperty("probe.job", null)
      while (!seen.contains("end")) Thread.sleep(10)
      seen.asScala.count(_ == "")
    } finally sc.removeSparkListener(listener)
  }
}
