package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Delta-style CHECK constraints on a committed lake — data-quality
  * gates a training-data pipeline runs at WRITE time, so a bad batch
  * is rejected at the door instead of poisoning every consumer
  * downstream (the Delta `ALTER TABLE ADD CONSTRAINT` feature class).
  *
  * Semantics are SQL CHECK: a row VIOLATES a constraint only when the
  * predicate evaluates to strictly FALSE — TRUE and UNKNOWN (NULL)
  * pass, so a nullable column participates without a COALESCE dance,
  * and a batch written before an additive schema evolution (its files
  * lack the constrained column entirely, every value NULL) passes a
  * constraint on the evolved column, exactly as the standard reads.
  *
  * Definitions live in one `_graft_log/CONSTRAINTS` file
  * (tab-separated `name<TAB>predicate` lines, atomic
  * write-then-rename like every log record). [[add]] validates the
  * predicate against the EXISTING live view first (one scan through
  * [[DeletionVectors.readMor]], so MoR-deleted rows cannot veto a
  * constraint they no longer belong to) — after that, every verb that
  * introduces NEW rows into the committed view gates on
  * [[validateFiles]] BEFORE its publish:
  *
  *  - [[graft.streaming.LayoutSink]]'s per-batch ingest (the new
  *    batch's files),
  *  - [[MergeInto.merge]]/[[MergeInto.update]]'s rewritten files,
  *  - [[DeletionVectors.mergeMor]]/[[DeletionVectors.updateMor]]'s
  *    delta files.
  *
  * Verbs that only remove or reshuffle EXISTING rows — deletes (both
  * CoW and MoR), `compact`, OPTIMIZE, [[CommitLog.restore]] — skip
  * validation: their rows passed when they entered, by induction.
  * A failed validation throws [[Constraints.ConstraintViolation]]
  * BEFORE anything is published, so the already-written files are
  * invisible debris [[CommitLog.vacuum]] sweeps — the rejected write
  * never happened, the same atomicity as a crash at that point.
  *
  * The scale contract: validation reads ONLY the files about to be
  * committed — O(batch/churn), never O(lake) — and a lake with no
  * constraints file pays one existence probe. Validating the bytes
  * as WRITTEN (a read-back), not the source frame, means the gate
  * also catches anything the write path itself mangled, and costs no
  * second computation of the source plan. */
object Constraints {

  final class ConstraintViolation(val name: String, val predicate: String,
      val samples: Seq[String])
    extends RuntimeException(
      s"CHECK constraint '$name' violated: ($predicate) is false for " +
        s"row(s) ${samples.mkString("; ")} — nothing was published " +
        "(the rejected files are unreferenced debris vacuum sweeps)")

  /** Definitions are GENERATION-versioned (`CONSTRAINTS.<gen>`) for
    * the same reason checkpoints are: rename-over-existing is not
    * atomic (or silently fails) on most filesystems, so an update
    * must be a NEW name that out-ranks the old. Readers take the
    * highest generation; the writer publishes `gen + 1` then sweeps
    * older generations (a crash mid-sweep leaves out-ranked files —
    * ignored, swept by the next write). */
  private[sources] val Prefix = "CONSTRAINTS."

  /** The defined constraints, in definition order. Empty when none.
    * Format: `name<TAB>predicate` — the name is tab-free ([[add]]
    * rejects tabs), so the FIRST tab splits and the predicate may
    * itself contain tabs (legal SQL whitespace). */
  def list(fs: org.apache.hadoop.fs.FileSystem,
      lakeDir: String): Seq[(String, String)] =
    parse(DefRecords.readLines(fs, lakeDir, Prefix))

  /** [[list]] from the record's raw lines. */
  private[sources] def parse(lines: Seq[String]): Seq[(String, String)] =
    lines.map { line =>
      val i = line.indexOf('\t')
      require(i > 0, s"corrupt $Prefix record line: '$line'")
      (line.substring(0, i), line.substring(i + 1))
    }

  private def write(fs: org.apache.hadoop.fs.FileSystem, lakeDir: String,
      defs: Seq[(String, String)]): Unit =
    DefRecords.writeLines(fs, lakeDir, Prefix,
      defs.map { case (n, p) => s"$n\t$p" })

  /** [[Clone.shallow]] replicates the source's current definitions
    * into the clone's log (they evolve independently afterwards —
    * the Delta clone-copies-table-properties shape). Caller holds the
    * source's writer lock; the target is fresh, so generation 0. */
  private[sources] def replicate(fs: org.apache.hadoop.fs.FileSystem,
      lakeDir: String, defs: Seq[(String, String)]): Unit =
    if (defs.nonEmpty) write(fs, lakeDir, defs)

  /** Rows of `df` that strictly violate `predicate` (FALSE — never
    * UNKNOWN), up to `n`, rendered for the error message. */
  private def violations(df: DataFrame, predicate: String,
      n: Int): Seq[String] =
    df.filter(!coalesce(expr(predicate), lit(true)))
      .take(n).map(_.toString).toSeq

  /** Define a constraint. Validates `predicate` against the CURRENT
    * live view first (Delta's ADD CONSTRAINT contract — one scan;
    * a violating table rejects the definition naming sample rows), so
    * every later [[validateFiles]] gate can trust that existing rows
    * pass by induction. Names must be unique; runs under the writer
    * lock so a racing mutation cannot slip unvalidated rows between
    * the scan and the definition's publish. */
  def add(spark: SparkSession, lakeDir: String, name: String,
      predicate: String): Unit = {
    require(name.nonEmpty && !name.exists(c => c == '\t' || c == '\n'),
      s"constraint name '$name' must be non-empty, no tabs/newlines")
    require(!predicate.exists(_ == '\n'),
      "constraint predicate must be a single line")
    val fs = new Path(lakeDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(new Path(CommitLog.logDir(lakeDir))),
      s"add constraint: $lakeDir has no commit log")
    CommitLog.withWriterLock(fs, lakeDir) {
      val defs = list(fs, lakeDir)
      require(!defs.exists(_._1 == name),
        s"constraint '$name' already defined — drop it first")
      if (CommitLog.committedNames(fs, lakeDir).nonEmpty) {
        val bad =
          violations(DeletionVectors.readMor(spark, lakeDir,
            mergeSchema = true), predicate, 3)
        if (bad.nonEmpty) throw new ConstraintViolation(name, predicate, bad)
      }
      write(fs, lakeDir, defs :+ (name, predicate))
    }
  }

  /** Remove a constraint by name (no-op if absent). */
  def drop(spark: SparkSession, lakeDir: String, name: String): Unit = {
    val fs = new Path(lakeDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    CommitLog.withWriterLock(fs, lakeDir) {
      val defs = list(fs, lakeDir)
      if (defs.exists(_._1 == name))
        write(fs, lakeDir, defs.filterNot(_._1 == name))
    }
  }

  /** The pre-publish gate: validate `files` (names under `lakeDir`,
    * already written, not yet committed) against every defined
    * constraint. No-op when no constraints exist or `files` is empty.
    * Throws [[ConstraintViolation]] on the first violated constraint
    * with up to 3 sample rows. A constraint that cannot RESOLVE
    * against these files' schema passes: [[add]] proved it resolves
    * against the live table, so non-resolution here means the batch
    * predates the constrained column — every value NULL — and SQL
    * CHECK passes on UNKNOWN. Callers hold the writer lock. */
  def validateFiles(spark: SparkSession, lakeDir: String,
      files: Seq[String]): Unit = {
    if (files.isEmpty) return
    val fs = new Path(lakeDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    validatePaths(spark, lakeDir,
      CommitLog.resolveDataPaths(fs, lakeDir, files), list(fs, lakeDir))
  }

  /** [[validateFiles]] for EXPLICIT physical paths — the OCC verbs
    * validate their STAGED bytes (written aside, not yet renamed into
    * the lake) before entering the commit section, so the gate adds
    * zero time under the lock. `defs` are the definitions the caller
    * pinned. */
  private[graft] def validatePaths(spark: SparkSession, lakeDir: String,
      paths: Seq[String], defs: Seq[(String, String)]): Unit = {
    if (paths.isEmpty || defs.isEmpty) return
    // Definitions live in LOGICAL-name space ([[add]] validated
    // against the mapped live view), so the gate must evaluate them
    // there too: raw parquet carries PHYSICAL names, and a predicate
    // on a renamed column would otherwise hit the AnalysisException
    // arm below and silently stop gating. One extra metadata read
    // ([[ColumnMapping.mapping]]); identity projection when no map.
    val batch = ColumnMapping.toLogical(spark, lakeDir,
      spark.read.option("mergeSchema", "true").parquet(paths: _*))
    defs.foreach { case (name, predicate) =>
      val bad =
        try violations(batch, predicate, 3)
        catch {
          // the predicate names a column these files don't carry:
          // pre-evolution batch, all-NULL, UNKNOWN passes. (A RENAMED
          // column cannot land here — [[ColumnMapping.rename]] rejects
          // renames of definition-referenced columns.)
          case _: org.apache.spark.sql.AnalysisException => Seq.empty
        }
      if (bad.nonEmpty) throw new ConstraintViolation(name, predicate, bad)
    }
  }
}
