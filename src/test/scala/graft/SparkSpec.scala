package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent,
  SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.scalatest.Outcome
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs (one per suite, lazy). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  def sf(name: String): String = s"/root/testdata/sf0.001/$name.parquet"

  /** The call sites of each [[jobsOf]] the running test made, printed
    * when the test fails, so a failing job-count spec names the site
    * that grew. */
  private val jobSites = new ConcurrentLinkedQueue[Seq[String]]

  override def withFixture(test: NoArgTest): Outcome = {
    jobSites.clear()
    val out = super.withFixture(test)
    if (out.isFailed && !jobSites.isEmpty)
      jobSites.asScala.zipWithIndex.foreach { case (sites, i) =>
        println(s"[jobsOf] ${test.name}: call ${i + 1} ran " +
          s"${sites.size} job(s):" +
          sites.map("\n  " + _).mkString)
      }
    out
  }

  /** Spark's job count for `body`, from job-start events carrying a tag. */
  def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val tag = java.util.UUID.randomUUID().toString
    val seen = new ConcurrentLinkedQueue[(String, String)]
    // the call site of a SQL execution is taken on the thread that ran
    // the action; adaptive execution submits its jobs from a pool
    // thread whose own stack holds no program frame
    val executions = new java.util.concurrent.ConcurrentHashMap[Long, String]
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart =>
          executions.put(s.executionId, s.details)
        case _ =>
      }
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val props = Option(e.properties)
        val details = props
          .flatMap(p => Option(p.getProperty(SQLExecution.EXECUTION_ID_KEY)))
          .flatMap(id => Option(executions.get(id.toLong)))
          .getOrElse(e.stageInfos.lastOption.map(_.details).getOrElse(""))
        seen.add((props.flatMap(p => Option(p.getProperty("graft.spec.job")))
          .getOrElse(""), SparkSpec.innermostFrame(details)))
      }
    }
    def tagged(t: String)(run: => Unit): Unit = {
      sc.setLocalProperty("graft.spec.job", t)
      try run finally sc.setLocalProperty("graft.spec.job", null)
    }
    sc.addSparkListener(listener)
    try {
      tagged(tag)(body)
      // events reach a listener in order: once the sentinel's start is
      // seen, every job of `body` has been counted
      tagged(s"$tag-end")(sc.parallelize(Seq(1), 1).count(): Unit)
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!seen.asScala.exists(_._1 == s"$tag-end") &&
          System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(seen.asScala.exists(_._1 == s"$tag-end"),
        "listener never saw the sentinel")
      val sites = seen.asScala.collect { case (`tag`, s) => s }.toSeq
      jobSites.add(sites)
      sites.size
    } finally sc.removeSparkListener(listener)
  }
}

object SparkSpec {
  private val GraftFrame = """^\s*(?:at\s+)?(graft\..*)$""".r

  /** The innermost `graft.` frame of a call-site stack, or the stack's
    * first line when it holds none. */
  def innermostFrame(callSite: String): String =
    callSite.linesIterator.collectFirst { case GraftFrame(f) => f }
      .getOrElse(callSite.linesIterator.nextOption().getOrElse("?"))

  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

/** Deterministic synthetic stock bars covering the full 60-column schema
  * (FIXTURES.md §1): `nDays` trading days × `minutesPerDay` minute bars,
  * seedless closed-form values so goldens are hand-computable. */
object StockFixture {
  import java.sql.Timestamp

  def bars(spark: SparkSession, nDays: Int = 5, minutesPerDay: Int = 60)
      : DataFrame = {
    import spark.implicits._
    val base = java.time.LocalDateTime.of(2020, 1, 6, 9, 30)
    val rows = for {
      d <- 0 until nDays
      m <- 0 until minutesPerDay
    } yield {
      val i = d * minutesPerDay + m
      val ts = Timestamp.valueOf(base.plusDays(d).plusMinutes(m))
      val close = 100.0 + 5.0 * math.sin(i / 7.0) + 0.01 * i
      val high = close + 0.5 + 0.1 * math.cos(i / 3.0)
      val low = close - 0.5
      val open = close - 0.1
      val volume = 1000 + (i % 97)
      (ts, close, high, low, open, volume, i.toDouble)
    }
    val df = rows.toDF("date", "close", "high", "low", "open", "volume", "i")
    // fill the 53 indicator columns with deterministic functions of i so
    // every engineered-feature formula has a hand-checkable input
    val withInd = graft.schema.StockSchema.indicatorCols
      .filterNot(Seq("close", "high", "low", "open").contains)
      .zipWithIndex.foldLeft(df) { case (acc, (c, k)) =>
        acc.withColumn(c,
          org.apache.spark.sql.functions.expr(s"close * ${1 + k % 7} + i / ${k + 2}"))
      }
    withInd.drop("i")
  }
}
