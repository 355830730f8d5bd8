package graftbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileStatus, FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.{Success, TaskEndReason}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** `fs.file.impl` for traced runs: the local filesystem, counting the
  * metadata and data operations the program issues while [[CountingFs.on]]
  * is set. */
class CountingFs extends LocalFileSystem {
  private def tick(): Unit = if (CountingFs.on) CountingFs.ops.incrementAndGet()

  override def open(f: Path, bufferSize: Int) = { tick(); super.open(f, bufferSize) }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable) = {
    tick()
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = { tick(); super.rename(src, dst) }
  override def delete(f: Path, recursive: Boolean): Boolean = { tick(); super.delete(f, recursive) }
  override def listStatus(f: Path): Array[FileStatus] = { tick(); super.listStatus(f) }
  override def getFileStatus(f: Path): FileStatus = { tick(); super.getFileStatus(f) }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = { tick(); super.mkdirs(f, permission) }
}

object CountingFs {
  @volatile var on: Boolean = false
  val ops = new AtomicLong()

  /** Bytes written through the local filesystem so far (data files and
    * their checksums), from Hadoop's per-scheme statistics. */
  def bytesWritten: Long = FileSystem.getAllStatistics.asScala
    .filter(_.getScheme == "file").map(_.getBytesWritten).sum
}

/** One timed operation of a traced round. */
final case class Span(id: String, kind: String, startMs: Long, endMs: Long,
    wallS: Double, fsOps: Long, fsBytes: Long, userBytes: Long,
    rowsReturned: Long, gcS: Double)

/** Records every Spark job submitted during a traced operation. The
  * benchmark tags each traced operation with a local property, which
  * Spark copies into the job's properties (and into the threads a
  * streaming query or broadcast spawns), so a job is attributed to its
  * operation without any code in the program. Its module is the innermost
  * `graft.<module>` frame of the call-site stack of the SQL execution that
  * ran it, or of its result stage for a job outside SQL (an RDD action). */
final class Tracer extends SparkListener {

  final class JobRec(val span: String, val module: String, val startMs: Long) {
    var endMs: Long = -1L
    var runMs, inBytes, inRecords, shuffleBytes, spillBytes, failedTasks = 0L
  }

  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.HashMap.empty[Int, Int]

  /** Call-site stack of each running SQL execution, taken on the thread
    * that ran the action. Adaptive execution submits an execution's jobs
    * from a pool thread whose own stack holds no program frame. */
  private val executions = mutable.HashMap.empty[Long, String]

  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    e match {
      case s: SparkListenerSQLExecutionStart => executions(s.executionId) = s.details
      case s: SparkListenerSQLExecutionEnd => executions -= s.executionId
      case _ =>
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    props.flatMap(p => Option(p.getProperty(Tracer.SpanKey))).foreach { span =>
      val details = props
        .flatMap(p => Option(p.getProperty(SQLExecution.EXECUTION_ID_KEY)))
        .flatMap(id => executions.get(id.toLong))
        .getOrElse(if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).details)
      jobs(e.jobId) = new JobRec(span, Tracer.moduleOf(details, span), e.time)
      e.stageIds.foreach(stageJob(_) = e.jobId)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    for (j <- stageJob.get(e.stageInfo.stageId).flatMap(jobs.get);
         m <- Option(e.stageInfo.taskMetrics)) {
      j.runMs += m.executorRunTime
      j.inBytes += m.inputMetrics.bytesRead
      j.inRecords += m.inputMetrics.recordsRead
      j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      j.spillBytes += m.diskBytesSpilled
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val failed = (e.reason: TaskEndReason) match {
      case Success => false
      case _ => true
    }
    if (failed) stageJob.get(e.stageId).flatMap(jobs.get).foreach(_.failedTasks += 1)
  }

  def jobsOf(spanId: String): Seq[JobRec] = synchronized {
    jobs.valuesIterator.filter(_.span == spanId).toSeq
  }
}

object Tracer {
  val SpanKey = "graftbench.span"
  val Modules: Seq[String] = Seq("ml", "operators", "sources", "streaming", "cell")

  private val Frame = """^\s*(?:at\s+)?graft\.(\w+)\.""".r.unanchored
  private val PackageModule = Map("ml" -> "ml", "operators" -> "operators",
    "sources" -> "sources", "streaming" -> "streaming", "bench" -> "cell")

  /** The innermost stack frame in a `graft.<package>` the benchmark maps
    * to a layer names the module; a job with no such frame (the benchmark
    * itself ran the action on a frame the program returned) belongs to the
    * layer of the operation's span. */
  def moduleOf(callSite: String, span: String): String =
    callSite.linesIterator.flatMap {
      case Frame(pkg) => PackageModule.get(pkg)
      case _ => None
    }.nextOption().getOrElse(span.takeWhile(_ != '.'))

  def install(spark: SparkSession): Tracer = {
    val t = new Tracer
    spark.sparkContext.addSparkListener(t)
    t
  }

  /** Traced rounds raise Spark's call-site depth so that the stack reaches
    * the program's frames under deep ML and SQL call chains. */
  def setActive(on: Boolean): Unit = {
    if (on) System.setProperty("spark.callstack.depth", "1000")
    else System.clearProperty("spark.callstack.depth")
    CountingFs.on = on
  }

  def drain(spark: SparkSession): Unit =
    org.apache.spark.GraftBenchBus.waitUntilEmpty(spark.sparkContext)
}
