package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Time-alignment operators (SURVEY §2.4): stglib has no general join — it has
 * `reindex_like(method="nearest", tolerance=...)` patterns
 * (stglib/aqd/aqdutils.py:93-118, stglib/core/utils.py:1946-1956) and
 * calendar regularization (stglib/sig/cdf2nc.py:1553-1594).
 *
 * Every as-of op is one lazy bucketed sorted merge ([[brackets]]): both
 * sides bucket by ⌊ts / tolerance⌋, each right row is copied into the
 * neighbour buckets whose left rows it can reach, and the tagged union is
 * hash-partitioned ONCE on the bucket. Inside a bucket, running-frame
 * windows carry the latest right row forward (ts ascending) and the
 * earliest right row backward (ts descending), so each left row reads its
 * bracketing right rows off a sort — no candidate join, no per-left-row
 * aggregate, no driver round trip. Work per row is O(log n) for the sort,
 * independent of how many right rows fall in the tolerance band. Left rows
 * map 1:1 to output rows (duplicates included); a left row with no right
 * row within tolerance survives with nulls (reindex semantics, not
 * inner-join semantics). Time columns are integral and share units
 * (long microseconds by convention). Column names `__k`, `__t`, `__tag`,
 * `__r`, `__rb` and `__ra` are reserved.
 */
object Align {

  /**
   * The shared as-of plan: every left row plus `__rb`, the right row
   * (struct of all right columns) with the greatest (rightTs, payload)
   * at-or-before leftTs, and/or `__ra`, the one with the least
   * (rightTs, payload) at-or-after leftTs — null when the bucket
   * neighbourhood holds none. `nearestTies` flips `__rb`'s payload
   * tie-break to the LEAST payload among rows at its timestamp (as-of
   * nearest breaks every tie towards the smaller payload).
   *
   * Exactness: buckets are tolerance-wide (floor division, so negative
   * times bucket correctly), so a right row within tolerance of a left
   * row in bucket k lies in bucket k−1, k or k+1, and a right row outside
   * those buckets is more than one tolerance away. Each right row is
   * copied to the buckets that can see it — k−1..k+1 with both brackets,
   * k..k+1 for `__rb` only, k−1..k for `__ra` only. A bracket found in the
   * neighbourhood is the global bracket whenever the global one passes
   * the tolerance; callers apply that check. Right rows with a null
   * timestamp never match; a left row with a null timestamp gets nulls.
   * At equal timestamps right rows sort before left rows (tag 0 < 1), so
   * exact hits bracket from both sides.
   */
  private def brackets(left: DataFrame, right: DataFrame, leftTs: String,
                       rightTs: String, tolerance: Long, before: Boolean,
                       after: Boolean, nearestTies: Boolean = false): DataFrame = {
    val w = math.max(tolerance, 1L)
    def bucket(ts: String) = expr(s"(`$ts` - pmod(`$ts`, ${w}L)) div ${w}L")
    val lo = if (after) -1 else 0
    val hi = if (before) 1 else 0
    val rStruct = struct(right.columns.map(col): _*)
    val l = left.select(bucket(leftTs).as("__k") +: col(leftTs).as("__t") +:
      lit(1).as("__tag") +: left.columns.map(col) :+
      lit(null).cast(right.schema).as("__r"): _*)
    val r = right.filter(col(rightTs).isNotNull)
      .select(explode(array((lo to hi).map(o => bucket(rightTs) + o): _*))
          .as("__k") +: col(rightTs).as("__t") +: lit(0).as("__tag") +:
        left.schema.fields.map(f => lit(null).cast(f.dataType).as(f.name)) :+
        rStruct.as("__r"): _*)
    // the last right row so far in (ts, tag, payload) order
    def latest(order: Column*) = last(col("__r"), ignoreNulls = true)
      .over(Window.partitionBy("__k").orderBy(order: _*)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    var u = l.unionByName(r)
    if (before) u = u.withColumn("__rb", latest(col("__t").asc,
      col("__tag").asc, if (nearestTies) col("__r").desc else col("__r").asc))
    if (after) u = u.withColumn("__ra",
      latest(col("__t").desc, col("__tag").asc, col("__r").desc))
    u.filter(col("__tag") === 1).drop("__k", "__t", "__tag", "__r")
  }

  /** `__rb` / `__ra` if it lies within `tolerance` of leftTs. */
  private def withinBefore(leftTs: String, rightTs: String, tolerance: Long) =
    col("__rb").isNotNull && col(leftTs) - col(s"__rb.$rightTs") <= tolerance
  private def withinAfter(leftTs: String, rightTs: String, tolerance: Long) =
    col("__ra").isNotNull && col(s"__ra.$rightTs") - col(leftTs) <= tolerance

  /** Left columns, then the chosen right row's columns (all null when
    * `best` is null). */
  private def expand(df: DataFrame, left: DataFrame, right: DataFrame,
                     best: Column): DataFrame =
    df.withColumn("__r", best).select(left.columns.map(col) ++
      right.columns.map(c => col("__r").getField(c).as(c)): _*)

  /** As-of nearest: for each left row, the single right row minimizing
    * |leftTs − rightTs| within tolerance; ties go to the earlier right row,
    * then to the least payload (struct order of the right columns). */
  def asofNearest(left: DataFrame, right: DataFrame,
                  leftTs: String, rightTs: String, tolerance: Long): DataFrame = {
    val b = brackets(left, right, leftTs, rightTs, tolerance,
      before = true, after = true, nearestTies = true)
    val okB = withinBefore(leftTs, rightTs, tolerance)
    val okA = withinAfter(leftTs, rightTs, tolerance)
    val (tb, ta) = (col(s"__rb.$rightTs"), col(s"__ra.$rightTs"))
    // the after row wins on a strictly smaller distance, and on an exact
    // hit (both brackets then sit at leftTs with the same least payload);
    // an equal distance on both sides goes to the earlier, before row
    val pickA = okA && (!okB || ta - col(leftTs) < col(leftTs) - tb || ta === tb)
    expand(b, left, right, when(pickA, col("__ra")).when(okB, col("__rb")))
  }

  /** As-of backward: most recent right row at-or-before leftTs within
    * tolerance, ties to the greatest payload (boundary/brange pattern,
    * stglib/aqd/aqdutils.py:550-560). */
  def asofBackward(left: DataFrame, right: DataFrame,
                   leftTs: String, rightTs: String, tolerance: Long): DataFrame = {
    val b = brackets(left, right, leftTs, rightTs, tolerance,
      before = true, after = false)
    expand(b, left, right,
      when(withinBefore(leftTs, rightTs, tolerance), col("__rb")))
  }

  /** As-of forward: earliest right row at-or-after leftTs within tolerance,
    * ties to the least payload (the other bracket of linear interpolation). */
  def asofForward(left: DataFrame, right: DataFrame,
                  leftTs: String, rightTs: String, tolerance: Long): DataFrame = {
    val b = brackets(left, right, leftTs, rightTs, tolerance,
      before = false, after = true)
    expand(b, left, right,
      when(withinAfter(leftTs, rightTs, tolerance), col("__ra")))
  }

  /** Linear time interpolation of a right-side series onto left timestamps —
    * the reference's `reindex`/`interp` with method="linear" (xarray interp;
    * e.g. stglib met-series alignment): y = y0 + (y1−y0)·(t−t0)/(t1−t0)
    * from the bracketing right rows within tolerance — (t0, y0) the
    * [[asofBackward]] row, (t1, y1) the [[asofForward]] row; exact hits
    * return y0; a missing bracket yields null (no extrapolation, like
    * xarray's NaN outside). Both brackets come from one [[brackets]] pass. */
  def interpLinear(left: DataFrame, right: DataFrame, leftTs: String,
                   rightTs: String, valCol: String, tolerance: Long,
                   outCol: String): DataFrame = {
    val r = right.select(col(rightTs).as("__rt"), col(valCol).as("__rv"))
    val b = brackets(left, r, leftTs, "__rt", tolerance,
      before = true, after = true)
    val lo = when(withinBefore(leftTs, "__rt", tolerance), col("__rb"))
    val hi = when(withinAfter(leftTs, "__rt", tolerance), col("__ra"))
    val (t0, y0, t1, y1) = (lo("__rt"), lo("__rv"), hi("__rt"), hi("__rv"))
    b.withColumn(outCol,
        when(t1 === t0, y0)
          .otherwise(y0 + (y1 - y0) *
            ((col(leftTs) - t0).cast("double") / (t1 - t0).cast("double"))))
      .select(left.columns.map(col) :+ col(outCol): _*)
  }

  /** Perfect calendar grid [startUs, endUs) with the given step — the
    * date_range(t0, Δ=1/sr) reindex target. Generated as a plain
    * `spark.range(n)` with an affine tick map: range partitions stream
    * their ids lazily inside whole-stage codegen (no per-task arrays) and
    * carry CORRECT size statistics. The previous sequence+explode form
    * failed twice at x100 deployment scale (found by the chain-scale
    * harness): the single `sequence()` materialized the whole grid as one
    * ~400 MB in-task array, and after chunking, `explode`'s unchanged
    * child statistics made the planner STATISTICS-BROADCAST the 20 M-row
    * grid side of the reindex join. `range` has neither problem. */
  def calendarGrid(spark: SparkSession, startUs: Long, endUs: Long,
                   stepUs: Long, colName: String): DataFrame = {
    require(stepUs > 0, s"calendarGrid step must be positive, got $stepUs")
    val n = if (endUs <= startUs) 0L else (endUs - 1 - startUs) / stepUs + 1
    spark.range(n).select((lit(startUs) + col("id") * stepUs).as(colName))
  }
}
