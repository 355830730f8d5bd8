package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Delta-style GENERATED ALWAYS AS columns: a column whose value IS a
  * declared expression over the row's other columns — the schema-level
  * derived-feature contract a training-data lake wants for things like
  * `text_len = length(text)` or a date bucket of a timestamp, enforced
  * at WRITE time so no consumer ever sees a drifted value.
  *
  * Two write-side behaviors, exactly Delta's:
  *
  *  - FILL: a write whose frame OMITS the column gets it computed
  *    ([[fill]] — wired into [[graft.streaming.LayoutSink]] ingest and
  *    the merge verbs' update frames), so producers never hand-compute
  *    derived columns;
  *  - ENFORCE: a write that SUPPLIES the column must supply the
  *    expression's value — [[validateFiles]] gates the about-to-commit
  *    files beside the CHECK-constraint gate and throws
  *    [[GeneratedColumnViolation]] BEFORE anything publishes (same
  *    atomicity: the rejected files are vacuum debris). Equality is
  *    null-safe (`<=>`): a NULL value matches a NULL evaluation,
  *    nothing else.
  *
  * UPDATE verbs RECOMPUTE: `MergeInto.update` / `updateMor` re-apply
  * every generated expression over the post-SET row (for unmatched or
  * dependency-untouched rows that recomputation is the identity), and
  * SET naming a generated column directly fails fast — its value is
  * not the caller's to choose. Deletes/compact/OPTIMIZE/restore skip
  * everything here: they introduce no new row content.
  *
  * [[add]] validates EXISTING rows first (one live-view scan through
  * [[DeletionVectors.readMor]]), so the write-side gate can trust the
  * table by induction — the same definition-time contract as
  * [[Constraints]]. Definitions are generation-versioned records in
  * the log dir and travel with [[Clone.shallow]]. Scale: the fill is a
  * projection the write already pays for; validation reads ONLY the
  * about-to-commit files — O(churn), never O(lake). */
object GeneratedColumns {

  final class GeneratedColumnViolation(val column: String,
      val expression: String, val samples: Seq[String])
    extends RuntimeException(
      s"generated column '$column' violated: value != ($expression) " +
        s"for row(s) ${samples.mkString("; ")} — nothing was published " +
        "(omit the column to have it computed, or supply the " +
        "expression's value)")

  /** Storage discipline shared with [[Constraints]] via
    * [[DefRecords]]. */
  private[sources] val Prefix = "GENERATED."

  /** The defined generated columns, in definition order:
    * (column, expression, sqlType). The type is captured from the
    * lake schema at [[add]] time so [[fill]]/[[recompute]] land the
    * column's EXACT physical type (a bare `length(...)` evaluates as
    * int while the lake column may be bigint — an uncast fill would
    * type-clash every later merge). Format:
    * `column<TAB>expression<TAB>type` — column and type are tab-free
    * by construction (the name check rejects tabs; `DataType.sql`
    * never emits one), so the FIRST and LAST tabs split and the
    * EXPRESSION may itself contain tabs (legal SQL whitespace — a
    * tab-carrying definition must not brick every later read). */
  def list(fs: org.apache.hadoop.fs.FileSystem,
      lakeDir: String): Seq[(String, String, String)] =
    parse(DefRecords.readLines(fs, lakeDir, Prefix))

  /** [[list]] from the record's raw lines. */
  private[sources] def parse(
      lines: Seq[String]): Seq[(String, String, String)] =
    lines.map { line =>
      val i = line.indexOf('\t')
      val j = line.lastIndexOf('\t')
      require(i > 0 && j > i && j < line.length - 1,
        s"corrupt $Prefix record line: '$line'")
      (line.substring(0, i), line.substring(i + 1, j),
        line.substring(j + 1))
    }

  private def write(fs: org.apache.hadoop.fs.FileSystem, lakeDir: String,
      defs: Seq[(String, String, String)]): Unit =
    DefRecords.writeLines(fs, lakeDir, Prefix,
      defs.map { case (c, e, t) => s"$c\t$e\t$t" })

  /** [[Clone.shallow]] replicates definitions into a fresh clone. */
  private[sources] def replicate(fs: org.apache.hadoop.fs.FileSystem,
      lakeDir: String, defs: Seq[(String, String, String)]): Unit =
    if (defs.nonEmpty) write(fs, lakeDir, defs)

  private def violations(df: DataFrame, column: String,
      expression: String, dtype: String, n: Int): Seq[String] =
    df.filter(!(col(column) <=> expr(expression).cast(dtype)))
      .take(n).map(_.toString).toSeq

  /** Declare `column` GENERATED ALWAYS AS `expression`. The column
    * must exist in the live schema and EVERY existing live row must
    * already satisfy it (one scan — a drifted table rejects the
    * definition naming sample rows, the induction base). Runs under
    * the writer lock so a racing write cannot slip a drifted row
    * between the scan and the publish. */
  def add(spark: SparkSession, lakeDir: String, column: String,
      expression: String): Unit = {
    require(column.nonEmpty && !column.exists(c => c == '\t' || c == '\n'),
      s"generated column name '$column' must be non-empty, no " +
        "tabs/newlines")
    require(!expression.exists(_ == '\n'),
      "generated expression must be a single line")
    val fs = new Path(lakeDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(new Path(CommitLog.logDir(lakeDir))),
      s"add generated column: $lakeDir has no commit log")
    CommitLog.withWriterLock(fs, lakeDir) {
      val defs = list(fs, lakeDir)
      require(!defs.exists(_._1 == column),
        s"generated column '$column' already defined — drop it first")
      require(CommitLog.committedNames(fs, lakeDir).nonEmpty,
        s"add generated column: $lakeDir has no committed files — the " +
          "definition captures the column's existing type and values")
      val live = DeletionVectors.readMor(spark, lakeDir,
        mergeSchema = true)
      require(live.columns.contains(column),
        s"add generated column: '$column' is not in the lake schema " +
          "— generated columns derive an EXISTING column's values " +
          "(evolve the schema with a backfilling write first)")
      val dtype = live.schema(column).dataType.sql
      val bad = violations(live, column, expression, dtype, 3)
      if (bad.nonEmpty)
        throw new GeneratedColumnViolation(column, expression, bad)
      write(fs, lakeDir, defs :+ ((column, expression, dtype)))
    }
  }

  /** Remove a definition by column name (no-op if absent). */
  def drop(spark: SparkSession, lakeDir: String, column: String): Unit = {
    val fs = new Path(lakeDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    CommitLog.withWriterLock(fs, lakeDir) {
      val defs = list(fs, lakeDir)
      if (defs.exists(_._1 == column))
        write(fs, lakeDir, defs.filterNot(_._1 == column))
    }
  }

  /** The write-side FILL: compute every defined column the frame
    * omits (definition order, so a generated column may reference an
    * earlier one). Columns the frame supplies pass through —
    * [[validateFiles]] holds them to the expression. A projection the
    * write pipeline absorbs; no-op (and no I/O beyond one definition
    * read) when nothing is defined. */
  def fill(spark: SparkSession, lakeDir: String, df: DataFrame)
      : DataFrame = {
    val fs = new Path(lakeDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fill(df, list(fs, lakeDir))
  }

  /** [[fill]] with the definitions `defs` already read — the OCC
    * verbs and [[graft.streaming.LayoutSink]] pass their pinned
    * definitions. */
  private[graft] def fill(df: DataFrame,
      defs: Seq[(String, String, String)]): DataFrame =
    defs.foldLeft(df) { case (d, (c, e, t)) =>
      if (d.columns.contains(c)) d
      else d.withColumn(c, expr(e).cast(t))
    }

  /** SET assignments must not name a generated column — its value is
    * the expression's, never the caller's. Shared by both UPDATE
    * verbs. */
  private[sources] def requireNoGeneratedSet(spark: SparkSession,
      lakeDir: String, set: Set[String], verb: String): Unit = {
    val fs = new Path(lakeDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    requireNoGeneratedSet(list(fs, lakeDir), set, verb)
  }

  /** [[requireNoGeneratedSet]] against the definitions `defs` already
    * read. */
  private[sources] def requireNoGeneratedSet(
      defs: Seq[(String, String, String)], set: Set[String],
      verb: String): Unit = {
    val gen = defs.map(_._1).toSet & set
    require(gen.isEmpty,
      s"$verb: SET names generated column(s) ${gen.toSeq.sorted
        .mkString(", ")} — generated values are recomputed from their " +
        "expressions, not assigned")
  }

  /** RECOMPUTE for the UPDATE verbs: re-apply every definition over
    * the post-SET rows (identity for rows whose dependencies did not
    * change), cast back to the column's existing type so the physical
    * schema cannot drift. */
  private[sources] def recompute(spark: SparkSession, lakeDir: String,
      df: DataFrame): DataFrame = {
    val fs = new Path(lakeDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    recompute(df, list(fs, lakeDir))
  }

  /** [[recompute]] with the definitions `defs` already read. */
  private[sources] def recompute(df: DataFrame,
      defs: Seq[(String, String, String)]): DataFrame =
    defs.foldLeft(df) { case (d, (c, e, t)) =>
      if (!d.columns.contains(c)) d
      else d.withColumn(c, expr(e).cast(t))
    }

  /** The pre-publish gate beside [[Constraints.validateFiles]]:
    * validate the about-to-commit `files` against every definition.
    * Null-safe equality; a definition that cannot RESOLVE against
    * these files' schema passes (the batch predates the involved
    * columns — [[add]] proved resolution against the live table).
    * Callers hold the writer lock. */
  def validateFiles(spark: SparkSession, lakeDir: String,
      files: Seq[String]): Unit = {
    if (files.isEmpty) return
    val fs = new Path(lakeDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    validatePaths(spark, lakeDir,
      CommitLog.resolveDataPaths(fs, lakeDir, files), list(fs, lakeDir))
  }

  /** [[validateFiles]] for EXPLICIT physical paths against the
    * definitions `defs` the caller pinned — the OCC verbs' staged-bytes
    * gate (see [[Constraints.validatePaths]]). */
  private[graft] def validatePaths(spark: SparkSession, lakeDir: String,
      paths: Seq[String], defs: Seq[(String, String, String)]): Unit = {
    if (paths.isEmpty || defs.isEmpty) return
    // evaluate in LOGICAL-name space, same reasoning as
    // [[Constraints.validatePaths]]: definitions were captured against
    // the mapped live view, raw parquet carries physical names
    val batch = ColumnMapping.toLogical(spark, lakeDir,
      spark.read.option("mergeSchema", "true").parquet(paths: _*))
    defs.foreach { case (c, e, t) =>
      val bad =
        try {
          if (!batch.columns.contains(c)) Seq.empty
          else violations(batch, c, e, t, 3)
        } catch {
          case _: org.apache.spark.sql.AnalysisException => Seq.empty
        }
      if (bad.nonEmpty) throw new GeneratedColumnViolation(c, e, bad)
    }
  }
}
