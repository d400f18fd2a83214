package graft.ops

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** As-of (backward) join helpers — the one non-built-in join family in the
  * reference (SURVEY.md §2.3 J2–J5: `join_asof(strategy="backward",
  * tolerance=…)` at `transforms/minute_builder.py:409-454` and the
  * `align_series` modes at `live_data_api_service/alignment.py:37-110`).
  *
  * Implementation is the union + last-non-null-over-window composition
  * (no Catalyst extension needed): tag left rows side=1 and right rows
  * side=0, sort by (ts, side) so a right row at the exact left timestamp
  * is visible (backward-inclusive), and carry each right value forward
  * with `last(v, ignoreNulls)`. Tolerance / max-age nulls values whose
  * source timestamp is too old (reference `alignment.py:81-92`).
  */
object AsOf {

  private val TS = "__asof_ts"
  private val SIDE = "__asof_side"
  private val PACK = "__asof_row"
  private val SRC_FIELD = "__src_ts"

  /** Pack the matched right ROW as one struct (src ts + values) so the
    * tolerance gate and every projected value come from the SAME row —
    * matching polars `join_asof` row semantics: if the nearest backward
    * row has a NULL in one value column, that NULL is returned (carrying
    * columns independently would backfill it from an older row the
    * tolerance check never saw). */
  private def packRow(valueCols: Seq[String]): Column =
    when(col(SIDE) === 0,
      struct((col(TS).as(SRC_FIELD) +: valueCols.map(col)): _*))

  /** Backward as-of join.
    *
    * @param left        probe side; all its columns are preserved
    * @param right       build side; only `rightOn` + `valueCols` are used
    * @param leftOn      left timestamp column name
    * @param rightOn     right timestamp column name
    * @param valueCols   right columns to carry onto left rows
    * @param toleranceMs max age in ms (None = unbounded, J3)
    * @param partitionBy equi-keys present on both sides (e.g. symbol);
    *                    they bound the window shuffle. With no key the
    *                    window is single-task — use
    *                    [[asofJoinBackwardBucketed]] at lake scale.
    * @param keepSrcTs   also emit the matched source timestamp as
    *                    `srcTsCol` (for freshness metadata)
    */
  def asofJoinBackward(left: DataFrame, right: DataFrame,
                       leftOn: String, rightOn: String,
                       valueCols: Seq[String],
                       toleranceMs: Option[Long] = None,
                       partitionBy: Seq[String] = Nil,
                       keepSrcTs: Option[String] = None): DataFrame = {
    val l = left
      .withColumn(TS, col(leftOn))
      .withColumn(SIDE, lit(1))
    val r = right.select(
      (partitionBy.map(col) :+ col(rightOn).as(TS) :+ lit(0).as(SIDE)) ++
        valueCols.map(col): _*)
    val unioned = l.unionByName(r, allowMissingColumns = true)
      .withColumn(PACK, packRow(valueCols))

    val w = Window.partitionBy(partitionBy.map(col): _*)
      .orderBy(col(TS), col(SIDE))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)

    val lastRow = last(col(PACK), ignoreNulls = true).over(w)
    val matchedSrc = lastRow.getField(SRC_FIELD)
    val ageOk: Column = toleranceMs match {
      case Some(tol) =>
        (unix_millis(col(TS)) - unix_millis(matchedSrc)) <= tol
      case None => lit(true)
    }
    val withVals = valueCols.foldLeft(unioned) { (df, c) =>
      df.withColumn(c, when(ageOk, lastRow.getField(c)))
    }
    val withSrc = keepSrcTs match {
      case Some(name) => withVals.withColumn(name, when(ageOk, matchedSrc))
      case None => withVals
    }
    withSrc.where(col(SIDE) === 1).drop(TS, SIDE, PACK)
  }

  /** Scalable bounded as-of join: when there is no natural partition key
    * but the tolerance is finite, range-bucket time into windows of the
    * tolerance length and replicate each right row into its own bucket
    * and the next one — a right row at t can only influence left rows in
    * [t, t+tol], which all live in bucket(t) or bucket(t)+1. The window
    * is then partitioned by bucket: shuffle is hash-distributed, no
    * single-task sort, and each task sees O(rows-per-2·tol) data. This is
    * how the join survives a 100 TB scan where the per-key variant can't.
    */
  def asofJoinBackwardBucketed(left: DataFrame, right: DataFrame,
                               leftOn: String, rightOn: String,
                               valueCols: Seq[String],
                               toleranceMs: Long,
                               partitionBy: Seq[String] = Nil): DataFrame = {
    val B = "__asof_bucket"
    def bucketOf(c: Column): Column = floor(unix_millis(c) / lit(toleranceMs))

    val l = left
      .withColumn(TS, col(leftOn))
      .withColumn(SIDE, lit(1))
      .withColumn(B, bucketOf(col(leftOn)))
    val rBase = right.select(
      (partitionBy.map(col) :+ col(rightOn).as(TS) :+ lit(0).as(SIDE)) ++
        valueCols.map(col): _*)
    // replicate right rows into bucket(t) and bucket(t)+1
    val r = rBase.withColumn(B, explode(array(bucketOf(col(TS)), bucketOf(col(TS)) + 1)))

    val unioned = l.unionByName(r, allowMissingColumns = true)
      .withColumn(PACK, packRow(valueCols))
    val w = Window.partitionBy((partitionBy.map(col) :+ col(B)): _*)
      .orderBy(col(TS), col(SIDE))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val lastRow = last(col(PACK), ignoreNulls = true).over(w)
    val ageOk = (unix_millis(col(TS)) - unix_millis(lastRow.getField(SRC_FIELD))) <= toleranceMs
    unioned.withColumns(ListMap(valueCols.map(c => c -> when(ageOk, lastRow.getField(c))): _*))
      .where(col(SIDE) === 1).drop(TS, SIDE, PACK, B)
  }
}
