package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, TimestampNTZType, TimestampType}

/** Temporal joins for event-stream and time-series pipelines — operators
  * Spark lacks natively, composed from existing shuffle/window machinery so
  * Catalyst/AQE still own the physical plan (builder-prompt preference (a):
  * compose existing ops before dropping to custom plans).
  *
  * Scale design, in brief:
  *  - `asofJoin` is the union+running-window formulation: ONE shuffle of
  *    left ∪ right on the `by` keys, then a per-partition ordered scan with a
  *    running `last(_, ignoreNulls)` frame. The naive formulations either
  *    theta-join (quadratic per key) or shuffle twice (join, then re-window
  *    to pick the max). At 100 TB the single hash exchange on the key is the
  *    floor for any correct as-of — this meets it, and WindowExec's external
  *    sorter spills, so partitions larger than memory are safe.
  *  - `rangeJoinBinned` turns a pure inequality (point-in-interval) join —
  *    which Spark can only plan as BroadcastNestedLoop/cartesian — into an
  *    equi-join on overlap buckets: intervals explode to the buckets they
  *    cover, points map to exactly one bucket, the bucket equi-join prunes
  *    candidates, and the residual range predicate exactifies. Each
  *    (point, interval) pair appears at most once (a point lives in one
  *    bucket), so no post-join dedup is needed.
  */
object Temporal {

  /** As-of join: for each left row, the single most recent right row per
    * `by` key with `right.tsRight <= left.tsLeft` (direction "backward",
    * the default; inclusive), or the earliest with `>=` ("forward").
    * Right-side payload columns are emitted with `matched_` prefix,
    * the matched right timestamp as `matched_<tsRight>`. Unmatched left
    * rows keep nulls (left-outer semantics; filter on the matched ts for
    * inner).
    *
    * `toleranceUs` caps the allowed gap |tsLeft − matched tsRight|: a match
    * farther away is nulled out (left row kept — filter the matched ts for
    * inner semantics). For timestamp columns the unit is microseconds; for
    * integral time columns it is the column's own unit.
    *
    * Contract: `right` must be unique on (`by`, `tsRight`) — with duplicate
    * right timestamps "the most recent row" is ill-defined and the window
    * tie order nondeterministic. Pre-aggregate the right side to enforce it.
    * Null right payload VALUES are safe: the payload travels as one struct,
    * so a null field of the matched row stays null instead of backfilling
    * from an older right row.
    */
  def asofJoin(left: DataFrame, right: DataFrame, by: Seq[String],
               tsLeft: String, tsRight: String,
               direction: String = "backward",
               toleranceUs: Option[Long] = None): DataFrame = {
    require(direction == "backward" || direction == "forward",
      s"asof direction must be backward|forward, got $direction")
    val in = new AsofInput(left, right, by, tsLeft, tsRight)
    val withMatch = in.tagged.withColumn("__r",
      last(col("__r"), ignoreNulls = true)
        .over(in.window(backward = direction == "backward")))
    // tolerance: null out matches farther than the cap. Works on the raw
    // time value (µs for timestamps, the column's unit for integrals).
    val bounded = toleranceUs match {
      case None => withMatch
      case Some(tol) =>
        val mts = col("__r").getField(s"matched_$tsRight")
        val gap =
          if (direction == "backward") in.asLong(col("__ts")) - in.asLong(mts)
          else in.asLong(mts) - in.asLong(col("__ts"))
        // one whole-struct null drops the entire match atomically
        withMatch.withColumn("__r",
          when(mts.isNotNull && gap <= tol, col("__r"))
            .otherwise(lit(null).cast(in.rStructType)))
    }
    in.finish(bounded)
  }

  /** As-of join, direction "nearest" (the pandas `merge_asof` third
    * direction): each left row matches the right row minimizing
    * |tsLeft − tsRight| within the `by` key, ties to the BACKWARD
    * (at-or-before) side — pandas' tie rule. Same contract and matched_*
    * output shape as [[asofJoin]].
    *
    * One shuffle of left ∪ right on `by`, then TWO ordered window passes
    * over the same partitioning (ascending for the most recent
    * at-or-before candidate, descending for the earliest at-or-after) —
    * Spark plans a single exchange with a re-sort between the Window
    * nodes, and WindowExec's external sorter spills, so unbounded
    * partitions stay safe. `toleranceUs` caps the winning gap. */
  def asofJoinNearest(left: DataFrame, right: DataFrame, by: Seq[String],
                      tsLeft: String, tsRight: String,
                      toleranceUs: Option[Long] = None): DataFrame = {
    val in = new AsofInput(left, right, by, tsLeft, tsRight)
    val both = in.tagged
      .withColumn("__b",
        last(col("__r"), ignoreNulls = true).over(in.window(backward = true)))
      .withColumn("__f",
        last(col("__r"), ignoreNulls = true).over(in.window(backward = false)))
    val bts = col("__b").getField(s"matched_$tsRight")
    val fts = col("__f").getField(s"matched_$tsRight")
    val gapB = in.asLong(col("__ts")) - in.asLong(bts)
    val gapF = in.asLong(fts) - in.asLong(col("__ts"))
    val inTol = (g: Column) =>
      toleranceUs.map(t => g <= t).getOrElse(lit(true))
    // true → take the backward candidate; pandas ties go backward
    val pickB = bts.isNotNull && inTol(gapB) &&
      (fts.isNull || !inTol(gapF) || gapB <= gapF)
    val pickF = fts.isNotNull && inTol(gapF) && !pickB
    in.finish(both.withColumn("__r",
      when(pickB, col("__b")).when(pickF, col("__f"))
        .otherwise(lit(null).cast(in.rStructType))))
  }

  /** The as-of prelude and epilogue both directions share. `tagged` is
    * left ∪ right with identical schemas for unionByName: by ++ __ts ++
    * __tag (1 = left, 0 = right) ++ left payload (null on right rows) ++
    * the __r struct of matched_* right columns (null on left rows).
    *
    * The whole right payload travels as ONE struct (__r): the running
    * last(ignoreNulls) then skips left rows (whole-struct null) but can
    * never skip a NULL FIELD of a matched right row — per-column lasts
    * would silently backfill a null payload value from an older right
    * row, mixing fields of different right rows in one output row. */
  private final class AsofInput(left: DataFrame, right: DataFrame,
                                by: Seq[String], tsLeft: String,
                                tsRight: String) {
    // tsLeft travels as __ts (renamed back at the end), so exclude it here —
    // otherwise the final rename would create a duplicate column.
    private val leftPayload =
      left.columns.filterNot(c => by.contains(c) || c == tsLeft).toSeq
    private val rightPayload =
      right.columns.filterNot(c => by.contains(c) || c == tsRight).toSeq
    private val matched = (rightPayload :+ tsRight).map(c => s"matched_$c")
    require(!leftPayload.exists(matched.contains),
      s"left columns collide with matched_* output names: $matched")

    private val tsType = left.schema(tsLeft).dataType
    private val rStruct = struct(
      rightPayload.map(c => col(c).as(s"matched_$c")) :+
        col(tsRight).as(s"matched_$tsRight"): _*)
    val rStructType: DataType =
      right.select(rStruct.as("__r")).schema("__r").dataType
    val tagged: DataFrame = {
      val lSide = left.select(
        by.map(col) ++
          Seq(col(tsLeft).cast(tsType).as("__ts"), lit(1).as("__tag")) ++
          leftPayload.map(col) :+
          lit(null).cast(rStructType).as("__r"): _*)
      val rSide = right.select(
        by.map(col) ++
          Seq(col(tsRight).cast(tsType).as("__ts"), lit(0).as("__tag")) ++
          leftPayload.map(c =>
            lit(null).cast(left.schema(c).dataType).as(c)) :+
          rStruct.as("__r"): _*)
      lSide.unionByName(rSide)
    }

    /** Running frame per `by` key. Backward: ascending time, right rows
      * (__tag 0) sort before left rows at equal ts so ties match
      * inclusively; the running `last` is then the most recent right row
      * at-or-before each left row. Forward mirrors it on descending time. */
    def window(backward: Boolean): WindowSpec =
      Window.partitionBy(by.map(col): _*)
        .orderBy(if (backward) col("__ts").asc else col("__ts").desc,
          col("__tag").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)

    /** The raw time value: µs for timestamps, the column's own unit for
      * integrals — what `toleranceUs` is measured in. */
    def asLong(c: Column): Column = tsType match {
      case TimestampType => unix_micros(c)
      case TimestampNTZType => unix_micros(c.cast("timestamp"))
      case _ => c.cast("long")
    }

    /** Keep the left rows, restore tsLeft and unpack the chosen __r. */
    def finish(withR: DataFrame): DataFrame =
      withR
        .filter(col("__tag") === 1)
        .withColumnRenamed("__ts", tsLeft)
        .select((by ++ leftPayload ++ Seq(tsLeft)).map(col) ++
          matched.map(c => col("__r").getField(c).as(c)): _*)
  }

  /** Point-in-interval join via overlap binning. `pointExpr`, `startExpr`,
    * `endExpr` must evaluate to non-negative longs in a shared unit (epoch
    * days / seconds / µs); intervals are half-open [start, end), empty ones
    * dropped. Returns the joined pairs (all point columns + all interval
    * columns); aggregate downstream.
    *
    * `binWidth` tuning: buckets-per-interval = ceil(len/binWidth); candidate
    * fan-out per point = intervals overlapping its bucket. Pick binWidth near
    * the typical interval length so both stay O(1) — the equi-join then does
    * all the heavy lifting (AQE-planned, skew-splittable), and the residual
    * predicate only touches bucket-local candidates.
    */
  def rangeJoinBinned(points: DataFrame, pointExpr: Column,
                      intervals: DataFrame, startExpr: Column,
                      endExpr: Column, binWidth: Long): DataFrame = {
    require(binWidth > 0, s"binWidth must be positive, got $binWidth")
    // Integer `div` (not `/`): double division of epoch-µs magnitudes
    // (~1.7e18 > 2^53) misassigns boundary buckets.
    val p = points
      .withColumn("__pt", pointExpr.cast("long"))
      .withColumn("__bucket", expr(s"__pt div ${binWidth}L"))
    val iv = intervals
      .withColumn("__start", startExpr.cast("long"))
      .withColumn("__end", endExpr.cast("long"))
      .filter(col("__end") > col("__start"))
      // sequence() is inclusive and would DESCEND if end < start — the
      // empty-interval filter above guards that; last covered bucket is
      // (end - 1) div binWidth for the half-open interval.
      .withColumn("__bucket", explode(sequence(
        expr(s"__start div ${binWidth}L"),
        expr(s"(__end - 1) div ${binWidth}L"))))
    p.join(iv,
        p("__bucket") === iv("__bucket") &&
          col("__pt") >= col("__start") && col("__pt") < col("__end"))
      .drop("__pt", "__bucket", "__start", "__end")
  }

  /** Interval×interval overlap join via the same bucket decomposition —
    * the two-sided sibling of `rangeJoinBinned` (validity-window joins,
    * meeting/booking conflicts, sensor-uptime overlap). Both sides explode
    * to the buckets they cover and equi-join on the bucket; the residual
    * predicate `aStart <= bEnd && bStart <= aEnd` (closed intervals)
    * exactifies. A pair overlapping k shared buckets would surface k
    * times, so the join keeps only the bucket containing
    * max(aStart, bStart) — the first bucket both cover — making every
    * qualifying pair appear EXACTLY once with no post-join distinct
    * (a corpus-scale dedup shuffle saved).
    *
    * Start/end expressions must be non-negative longs in a shared unit
    * with start <= end (closed, possibly zero-length). Spark alone would
    * plan this as BroadcastNestedLoop/cartesian; here it is one
    * AQE-planned equi-join whose fan-out is governed by `binWidth` — pick
    * it near the typical interval length so intervals cover O(1) buckets
    * and bucket population stays O(density). */
  def intervalOverlapJoin(a: DataFrame, aStartExpr: Column, aEndExpr: Column,
                          b: DataFrame, bStartExpr: Column, bEndExpr: Column,
                          binWidth: Long): DataFrame = {
    require(binWidth > 0, s"binWidth must be positive, got $binWidth")
    def binned(df: DataFrame, s: Column, e: Column, sN: String, eN: String) =
      df.withColumn(sN, s.cast("long"))
        .withColumn(eN, e.cast("long"))
        .filter(col(eN) >= col(sN))
        .withColumn("__bucket", explode(sequence(
          expr(s"$sN div ${binWidth}L"), expr(s"$eN div ${binWidth}L"))))
    val aB = binned(a, aStartExpr, aEndExpr, "__as", "__ae")
    val bB = binned(b, bStartExpr, bEndExpr, "__bs", "__be")
    aB.join(bB,
        aB("__bucket") === bB("__bucket") &&
          col("__as") <= col("__be") && col("__bs") <= col("__ae") &&
          aB("__bucket") === expr(s"greatest(__as, __bs) div ${binWidth}L"))
      .drop("__as", "__ae", "__bs", "__be", "__bucket")
  }
}
