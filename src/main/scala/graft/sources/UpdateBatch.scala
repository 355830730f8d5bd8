package graft.sources

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** A merge's update (or clause-source) batch, pinned once and shared
  * by its consumers: the uniqueness gate, the per-column key sets the
  * StatsIndex key prune reads ([[MergeInto.keyCandidateFiles]]) and
  * the key side of the discovery joins.
  *
  * [[UpdateBatch.pin]] materializes the batch with its row count
  * observed in the same job ([[Pins.pinCounted]]). While the count is
  * within [[UpdateBatch.DriverBound]] and every key column has a plain
  * atomic type, ONE `collect()` of the key columns answers the gate
  * and the key sets on the driver. Above the bound (or for nested,
  * map or collated key columns) a distributed gate (one `groupBy`)
  * runs instead, and a key set is a bounded distinct per column.
  *
  * The driver gate groups as Spark's `groupBy` does: NULLs form one
  * group, every NaN is one value and -0.0 equals 0.0, strings compare
  * by their bytes, dates and timestamps by their internal value.
  *
  * Once the gate has passed, the key projection of the pinned rows is
  * already distinct, so [[keys]] needs no `distinct` shuffle. */
private[sources] final class UpdateBatch private (
    val rows: DataFrame, val count: Long, keyCols: Seq[String],
    collected: Option[Array[Row]]) {

  /** The batch's distinct key tuples (the gate made them unique). */
  def keys: DataFrame = rows.select(keyCols.map(col): _*)

  /** The batch as `n` write tasks, one file each. One file needs no
    * shuffle: a single task reads the pinned partitions. */
  def asFiles(n: Int): DataFrame =
    if (n == 1) rows.coalesce(1) else rows.repartition(n)

  /** The distinct non-NULL values of key column `k`, or None when
    * there are more than [[UpdateBatch.DriverBound]] of them.
    * Integral columns are widened to `Long`. */
  def keyValues(k: String): Option[Seq[Any]] = {
    val integral = UpdateBatch.isIntegral(UpdateBatch.typeOf(rows, k))
    collected match {
      case Some(ks) =>
        val i = keyCols.indexOf(k)
        Some(ks.iterator.map(_.get(i)).filter(_ != null)
          .map(v => if (integral) v.asInstanceOf[Number].longValue else v)
          .toSeq.distinct)
      case None =>
        val c = if (integral) col(k).cast("long") else col(k)
        val vs = rows.select(c).na.drop().distinct()
          .limit(UpdateBatch.DriverBound.toInt + 1).collect().map(_.get(0))
        if (vs.length > UpdateBatch.DriverBound) None else Some(vs.toSeq)
    }
  }
}

private[sources] object UpdateBatch {

  /** The largest batch whose key columns are collected to the driver,
    * and the largest key set the StatsIndex key prune is handed. */
  val DriverBound = 100000L

  /** Pins `df`, counts it in the same job, and fails unless it is
    * unique on `keys`: each duplicate would race to replace the same
    * row (Delta raises the same error). */
  def pin(df: DataFrame, keys: Seq[String], verb: String): UpdateBatch = {
    require(keys.nonEmpty, s"$verb needs at least one key column")
    val (rows, n) = Pins.pinCounted(df)
    val onDriver = n <= DriverBound &&
      keys.forall(k => plain(typeOf(rows, k)))
    if (!onDriver) {
      val dupes = rows.groupBy(keys.map(col): _*).count()
        .filter(col("count") > 1).limit(1).count()
      require(dupes == 0, duplicateKeys(keys, verb))
      new UpdateBatch(rows, n, keys, None)
    } else {
      val ks = rows.select(keys.map(k => typeOf(rows, k) match {
        // by the internal day/micros value: the external java.sql
        // values are rebased to the hybrid calendar, which maps the
        // distinct days 1582-10-05..14 onto 1582-10-15..24
        case DateType => unix_date(col(k))
        case TimestampType => unix_micros(col(k))
        case _ => col(k)
      }): _*).collect()
      val seen = new java.util.HashSet[Seq[Any]]()
      require(ks.forall(r => seen.add(r.toSeq.map(canonical))),
        duplicateKeys(keys, verb))
      new UpdateBatch(rows, n, keys, Some(ks))
    }
  }

  private[sources] def duplicateKeys(keys: Seq[String],
      verb: String): String =
    s"$verb: duplicate keys in updates on (${keys.mkString(", ")}) — " +
      "each duplicate would race to replace the same row"

  /** The type of column `k` of `df`, resolved as `col(k)` is. */
  private def typeOf(df: DataFrame, k: String): DataType =
    df.select(col(k)).schema.head.dataType

  private def isIntegral(t: DataType): Boolean = t match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _ => false
  }

  /** Atomic types whose driver-side values group as Spark groups them
    * once passed through [[canonical]]. */
  private def plain(t: DataType): Boolean = t match {
    case _: NumericType | BooleanType | DateType | TimestampType |
        TimestampNTZType | BinaryType => true
    case s: StringType => s == StringType // binary collation only
    case _ => false
  }

  /** One equality-comparable spelling per `groupBy` group: floating
    * values by their bits after mapping -0.0 to 0.0 (and every NaN to
    * one NaN, which `doubleToLongBits` does), byte arrays by content.
    * Boxed doubles are never compared directly: Scala's `==` on them
    * makes NaN unequal to itself. */
  private def canonical(v: Any): Any = v match {
    case d: Double => java.lang.Double.doubleToLongBits(if (d == 0.0) 0.0 else d)
    case f: Float => java.lang.Float.floatToIntBits(if (f == 0.0f) 0.0f else f)
    case b: Array[Byte] => b.toSeq
    case o => o
  }
}
