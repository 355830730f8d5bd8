package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}

/** Shared storage discipline for the lake's DEFINITION records —
  * [[Constraints]] (`CONSTRAINTS.<gen>`) and [[GeneratedColumns]]
  * (`GENERATED.<gen>`): generation-versioned files under the log dir,
  * because rename-over-existing is not atomic (or silently fails) on
  * most filesystems, so an update must be a NEW name that out-ranks
  * the old. Readers take the highest generation; a writer publishes
  * `gen + 1` (write-then-rename, like every log record) then sweeps
  * older generations — a crash mid-sweep leaves out-ranked files that
  * are ignored and swept by the next write. Line encode/decode stays
  * with each caller (their field arities differ); this owns only the
  * generation/rename discipline so it cannot drift between them. */
private[sources] object DefRecords {

  /** The log dir's entries: one listing, none when it does not
    * exist. */
  private def logEntries(fs: FileSystem, lakeDir: String): Seq[Path] =
    try fs.listStatus(new Path(CommitLog.logDir(lakeDir))).toSeq
      .map(_.getPath)
    catch { case _: java.io.FileNotFoundException => Seq.empty }

  private def highest(entries: Seq[Path],
      prefix: String): Option[(Path, Long)] =
    entries.filter(_.getName.startsWith(prefix))
      .map(p => (p, p.getName.substring(prefix.length).toLong))
      .sortBy(_._2).lastOption

  /** Highest-generation definition file for `prefix`, if any. */
  def current(fs: FileSystem, lakeDir: String,
      prefix: String): Option[(Path, Long)] =
    highest(logEntries(fs, lakeDir), prefix)

  private def lines(fs: FileSystem, p: Path): Seq[String] = {
    val in = fs.open(p)
    val text =
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    text.split('\n').toSeq.filter(_.nonEmpty)
  }

  /** The current generation's non-empty lines (raw; callers parse). */
  def readLines(fs: FileSystem, lakeDir: String,
      prefix: String): Seq[String] =
    readLinesOf(fs, lakeDir, Seq(prefix))(prefix)

  /** [[readLines]] of each of `prefixes`, from one listing of the
    * log. */
  def readLinesOf(fs: FileSystem, lakeDir: String,
      prefixes: Seq[String]): Map[String, Seq[String]] = {
    val entries = logEntries(fs, lakeDir)
    prefixes.map(p => p -> highest(entries, p)
      .fold(Seq.empty[String])(c => lines(fs, c._1))).toMap
  }

  /** Publish `lines` as generation `current + 1`, then sweep the
    * out-ranked generation. */
  def writeLines(fs: FileSystem, lakeDir: String, prefix: String,
      lines: Seq[String]): Unit = {
    val old = current(fs, lakeDir, prefix)
    val gen = old.map(_._2 + 1).getOrElse(0L)
    CommitLog.writeRecordAtomic(fs, lakeDir,
      new Path(CommitLog.logDir(lakeDir), s"$prefix$gen"), lines)
    old.foreach { case (p, _) => fs.delete(p, false); () }
  }

  /** Every definition file of every prefix — [[Clone.shallow]]'s
    * half-clone retry sweeps these with the pointer. */
  def allFiles(fs: FileSystem, lakeDir: String,
      prefixes: Seq[String]): Seq[Path] =
    logEntries(fs, lakeDir).filter(p => prefixes.exists(p.getName.startsWith))
}
