package graft.operators

import org.apache.spark.ml.attribute.NominalAttribute
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The reference's binary `buy_or_sell` labeling (SURVEY.md §2.5 W1/W2,
  * §2.2 P3, §2.3 J1).
  *
  * Reference SQL (8 of 9 sites, e.g. `G_2_rf_nordd.py:36-37`):
  * {{{
  *   SELECT date, high, LAG(high) OVER (ORDER BY date) AS next_high
  *   -- then: buy_or_sell = CASE WHEN next_high > high THEN 1 ELSE 0 END
  * }}}
  * CRITICAL QUIRK: despite the alias `next_high`, the shipped label uses
  * `LAG` (previous row): `buy_or_sell = 1 iff high(t-1) > high(t)`. The
  * documented intent (presentation p.15 and `ipynb` cell 50) is `LEAD`.
  * We implement LAG as the compatibility default and LEAD behind a flag.
  *
  * The reference materializes the label in a separate projection and joins
  * it back on the unique `date` key (`G_2_rf_nordd.py:40`). The join is a
  * 1:1 self-join on a projection of the same rows, so the direct form is a
  * plain `withColumn` — no shuffle, no join. [[labelViaJoin]] keeps the
  * literal join shape for fidelity/benchmark comparison.
  *
  * Scale note (SURVEY.md §2.5 W4): the reference's window has no
  * partitionBy — Spark executes it as ONE task. Fine at 671k rows, fatal at
  * 100 TB. [[label]] accepts partition columns (e.g. instrument symbol) so
  * the window parallelizes; pass none only in strict-compat mode.
  */
object Labeler {

  /** The `buy_or_sell` column: 1 where `up` holds, else 0 (a null `up`
    * gives 0). It carries binary nominal-attribute metadata, so a
    * classifier reads its class count (2) from the schema instead of
    * running a max(label) job. Every site that creates the label uses
    * it. */
  def binaryLabel(up: Column): Column =
    when(up, lit(1)).otherwise(lit(0)).as("buy_or_sell",
      NominalAttribute.defaultAttr.withName("buy_or_sell")
        .withNumValues(2).toMetadata())

  /** lag/lead of `high` ordered by `orderCols` within `partitionCols`. */
  private def offsetHigh(
      lead: Boolean,
      highCol: String,
      partitionCols: Seq[String],
      orderCols: Seq[String]): Column = {
    val w0 =
      if (partitionCols.isEmpty) Window.orderBy(orderCols.map(col): _*)
      else Window.partitionBy(partitionCols.map(col): _*)
        .orderBy(orderCols.map(col): _*)
    if (lead) org.apache.spark.sql.functions.lead(col(highCol), 1).over(w0)
    else org.apache.spark.sql.functions.lag(col(highCol), 1).over(w0)
  }

  /** Direct (shuffle-free) labeling: adds `buy_or_sell` = 1 iff the
    * offset high is strictly greater than the current high, else 0
    * (null offset at the partition edge → 0, matching the reference's
    * `when(...).otherwise(0)` null semantics).
    *
    * @param useLead false = shipped LAG semantics (compat oracle);
    *                true  = documented LEAD intent (`ipynb` cell 50).
    */
  def label(
      df: DataFrame,
      useLead: Boolean = false,
      highCol: String = "high",
      partitionCols: Seq[String] = Nil,
      orderCols: Seq[String] = Seq("date")): DataFrame = {
    val off = offsetHigh(useLead, highCol, partitionCols, orderCols)
    df.withColumn("buy_or_sell", binaryLabel(off > col(highCol)))
  }

  /** Literal reference shape: project (keys, high, offset-high), derive the
    * label, then inner-join back on the key columns (J1). Semantically equal
    * to [[label]] when keys are unique; kept for fidelity benchmarks of the
    * join-based plan. */
  def labelViaJoin(
      df: DataFrame,
      useLead: Boolean = false,
      highCol: String = "high",
      keyCols: Seq[String] = Seq("date")): DataFrame = {
    val off = offsetHigh(useLead, highCol, Nil, keyCols)
    val labeled = df
      .select((keyCols :+ highCol).map(col): _*)
      .withColumn("next_high", off)
      .withColumn("buy_or_sell",
        binaryLabel(col("next_high") > col(highCol)))
      .select((keyCols :+ "buy_or_sell").map(col): _*)
    df.join(labeled, keyCols)
  }
}
