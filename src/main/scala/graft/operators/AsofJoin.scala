package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Backward as-of join: attach to each left row the most recent right row
  * (largest `ord` with right.ord <= left.ord) sharing the join key — the
  * time-series join Spark has no built-in operator for (the reference has
  * none either, SURVEY §2.3: extension).
  *
  * Spark-first construction (option (a) of the extension ladder — compose
  * before custom plans): tag the sides, UNION them, and carry the right
  * payload forward with a running `last(_, ignoreNulls)` window per key in
  * (ord, side) order. ONE shuffle on the key and a linear per-partition
  * scan — same cost shape as a sort-merge join, with none of the
  * per-left-row right-side probing a naive range join does. At 100 TB this
  * is the plan you would hand-build: co-partition both sides once, sweep
  * each partition once.
  *
  * Determinism contract: `ord` must be unique per key within the right
  * side (like any as-of join — two right rows at the same ord have no
  * defined winner). Ties between a left and right row at the SAME ord
  * match inclusively (right sorts first), DuckDB ASOF semantics.
  */
object AsofJoin {

  /** @param left     left rows; all columns pass through
    * @param right    right rows; must contain `key`, `ord`, and `payload`
    * @param key      equi-join key column name (both sides)
    * @param ord      ordering axis column name (both sides) — any
    *                 orderable type; caller aligns units/precision
    * @param payload  right columns to attach (null when no right row is
    *                 at-or-before the left row)
    */
  def backward(
      left: DataFrame,
      right: DataFrame,
      key: String,
      ord: String,
      payload: Seq[String]): DataFrame =
    sweep(left, right, key, ord, payload, ahead = false)

  /** Forward as-of join: attach the EARLIEST right row at-or-after each
    * left row (smallest `ord` with right.ord >= left.ord) sharing the key —
    * the "next event" lookup (next maintenance window, next price tick).
    * Same one-shuffle union + linear-sweep construction as [[backward]],
    * mirrored: the running carry is `first(_, ignoreNulls)` over the
    * FOLLOWING frame, and rights sort AFTER lefts at equal ord so a
    * same-ord right row matches inclusively (ASOF `>=` semantics).
    */
  def forward(
      left: DataFrame,
      right: DataFrame,
      key: String,
      ord: String,
      payload: Seq[String]): DataFrame =
    sweep(left, right, key, ord, payload, ahead = true)

  /** The sweep both directions share: `ahead` carries the next right row
    * back instead of the previous one forward.
    */
  private def sweep(
      left: DataFrame,
      right: DataFrame,
      key: String,
      ord: String,
      payload: Seq[String],
      ahead: Boolean): DataFrame = {
    val leftCols = left.columns.toSeq
    require(!leftCols.exists(payload.contains),
      s"payload columns ${payload.filter(leftCols.contains)} collide with left columns")

    // one struct so every payload column comes from the SAME right row
    // (independent last() per column could mix rows when payloads hold
    // nulls)
    val l2 = left
      .withColumn("__side", lit(1))
      .withColumn("__p", lit(null).cast(
        org.apache.spark.sql.types.StructType(
          right.select(payload.map(col): _*).schema.fields)))
    // SQL join semantics: a NULL key matches nothing. The window below
    // groups all null keys into ONE partition, so null-key right rows must
    // be dropped up front (null-key left rows then simply find no payload).
    // A right row sorts next to a left row at the same ord on the side the
    // carry comes from, so it matches inclusively either way.
    val r2 = right
      .filter(col(key).isNotNull)
      .select(
        (Seq(col(key), col(ord), lit(if (ahead) 2 else 0).as("__side"),
          struct(payload.map(col): _*).as("__p")) ++
          leftCols.filterNot(c => c == key || c == ord)
            .map(c => lit(null).cast(left.schema(c).dataType).as(c))): _*)

    val unioned = l2.unionByName(r2.select(l2.columns.map(col): _*))
    val ordered = Window.partitionBy(col(key)).orderBy(col(ord), col("__side"))
    val carry =
      if (ahead) first(col("__p"), ignoreNulls = true)
        .over(ordered.rowsBetween(Window.currentRow, Window.unboundedFollowing))
      else last(col("__p"), ignoreNulls = true)
        .over(ordered.rowsBetween(Window.unboundedPreceding, Window.currentRow))
    val carried = unioned
      .withColumn("__match", carry)
      .filter(col("__side") === 1)

    val out = leftCols.map(col) ++ payload.map(p => col(s"__match.$p").as(p))
    carried.select(out: _*)
  }
}
