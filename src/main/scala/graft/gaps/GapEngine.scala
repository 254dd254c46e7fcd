package graft.gaps

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** The gap-fill engine — the reference's signature query family, restated as
  * set-oriented DataFrame transforms.
  *
  * Reference semantics (all in `src/exchanges/_base_.py`):
  *  - W1 `:178-198` — `LAG(dt) OVER (ORDER BY dt)` within one symbol's rows;
  *    keep pairs with `curr - prev > interval` → interior missing ranges.
  *  - W2 `:200-222` — head gap `(start, first-ivl)`, tail gap
  *    `(last+ivl, end)`, whole-range gap when the key has no rows at all.
  *  - W3 `:227-245` — coalesce adjacent gaps closer than `limit*interval` to
  *    cut fetch calls (classic gap-and-islands).
  *
  * The reference runs W1 once **per symbol** (a SQL round-trip per key).
  * `interiorGaps`, `boundaryGaps` and `mergeRanges` state W1, W2 and W3 one
  * window or join each; their composition is the specification. `gapPlan`
  * computes the same rows as one fused, key-sorted streaming scan: the
  * in-range fact rows plus one null-`ts` sentinel per active key are
  * shuffled once by key and sorted by `(key, ts nulls first)`, and a single
  * `mapPartitions` pass walks each key's run, emitting head, interior, tail
  * and whole-range gaps already merged into islands. One scan of the facts,
  * one exchange, no window operators; at 100 TB the only shuffle is by key
  * — no driver-side loops, no per-key queries.
  */
object GapEngine {

  /** W1: interior gaps. Input must have `keys` + an epoch-ms `tsCol`.
    * Output: keys + `gap_start`, `gap_end` (inclusive grid endpoints). */
  def interiorGaps(df: DataFrame, keys: Seq[String], tsCol: String,
      ivlMs: Long): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col(tsCol))
    df.select(keys.map(col) :+ col(tsCol): _*)
      .withColumn("prev_ts", lag(col(tsCol), 1).over(w))
      .where(col("prev_ts").isNotNull &&
        col(tsCol) - col("prev_ts") > ivlMs)
      .select(keys.map(col) :+
        (col("prev_ts") + ivlMs).as("gap_start") :+
        (col(tsCol) - ivlMs).as("gap_end"): _*)
  }

  /** W2: boundary gaps against a requested `[startMs, endMs]` range.
    * `allKeys` is the key universe (e.g. the active-symbol dim): keys present
    * there but absent from `df` yield the whole-range gap — the reference's
    * "table empty" branch (`_base_.py:216-222`). */
  def boundaryGaps(df: DataFrame, allKeys: DataFrame, keys: Seq[String],
      tsCol: String, ivlMs: Long, startMs: Long, endMs: Long): DataFrame = {
    val extents = df.groupBy(keys.map(col): _*)
      .agg(min(tsCol).as("first_ts"), max(tsCol).as("last_ts"))
    val joined = allKeys.select(keys.map(col): _*).distinct()
      .join(extents, keys, "left_outer")
    val head = joined
      .where(col("first_ts").isNull || col("first_ts") > startMs)
      .select(keys.map(col) :+
        lit(startMs).as("gap_start") :+
        coalesce(col("first_ts") - ivlMs, lit(endMs)).as("gap_end"): _*)
    val tail = joined
      .where(col("last_ts").isNotNull && col("last_ts") < endMs)
      .select(keys.map(col) :+
        (col("last_ts") + ivlMs).as("gap_start") :+
        lit(endMs).as("gap_end"): _*)
    head.unionByName(tail).where(col("gap_start") <= col("gap_end"))
  }

  /** W3: merge gaps whose inter-gap distance is ≤ `mergeWithinMs`
    * (reference merges when `next_start - cur_end < limit*interval_ms`,
    * `_base_.py:238`). Gap-and-islands: flag starts that open a new island,
    * running-sum the flags for an island id, then min/max per island. */
  def mergeRanges(gaps: DataFrame, keys: Seq[String],
      mergeWithinMs: Long): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("gap_start"), col("gap_end"))
    val flagged = gaps
      .withColumn("prev_end",
        max(col("gap_end")).over(w.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("new_island",
        when(col("prev_end").isNull ||
          col("gap_start") - col("prev_end") >= mergeWithinMs, 1).otherwise(0))
      .withColumn("island",
        sum(col("new_island")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
    flagged.groupBy((keys.map(col) :+ col("island")): _*)
      .agg(min("gap_start").as("gap_start"), max("gap_end").as("gap_end"))
      .drop("island")
  }

  /** Full pipeline W1 ∪ W2 → W3 for every key in one fused scan: the same
    * rows as `mergeRanges(interiorGaps(d) ∪ boundaryGaps(d, allKeys))` with
    * `d` = the rows of `df` with `tsCol` in `[startMs, endMs]`. Output: keys +
    * `gap_start`, `gap_end`.
    *
    * Each active key contributes a null-`ts` sentinel row (duplicates in
    * `allKeys` are harmless: any sentinel marks the key active), so keys
    * with no facts still reach the scan and get the whole-range gap, and
    * keys only in `df` get interior gaps only. */
  def gapPlan(df: DataFrame, allKeys: DataFrame, keys: Seq[String],
      tsCol: String, ivlMs: Long, startMs: Long, endMs: Long,
      mergeWithinMs: Long): DataFrame = {
    require(ivlMs > 0, s"gapPlan needs a positive interval, got $ivlMs")
    val facts = df.where(col(tsCol).between(startMs, endMs))
      .select(keys.map(col) :+ col(tsCol).cast(LongType).as(tsCol): _*)
    val sentinels = allKeys
      .select(keys.map(col) :+ lit(null).cast(LongType).as(tsCol): _*)
    val sorted = facts.unionByName(sentinels)
      .select(struct(keys.map(col): _*).as("_k"), col(tsCol).as("_t"))
      .repartition(col("_k"))
      .sortWithinPartitions(col("_k"), col("_t").asc_nulls_first)
    val keyFields = sorted.schema("_k").dataType.asInstanceOf[StructType]
    val out = StructType(keyFields.fields ++ Seq(
      StructField("gap_start", LongType, nullable = false),
      StructField("gap_end", LongType, nullable = false)))
    sorted.mapPartitions(
      new GapScan(ivlMs, startMs, endMs, mergeWithinMs))(Encoders.row(out))
  }

  /** Expand merged gap ranges into paginated fetch windows of
    * `limit × ivlMs` span — the reference's cursor loop (`_base_.py:260-288`)
    * as a generator: `explode(sequence(start, end, step))`. Each output row is
    * one REST request the source adapter would execute. */
  def fetchWindows(gaps: DataFrame, keys: Seq[String], ivlMs: Long,
      limit: Int): DataFrame = {
    val step = ivlMs * limit
    gaps.select(keys.map(col) :+ col("gap_start") :+ col("gap_end") :+
      explode(sequence(col("gap_start"), col("gap_end"), lit(step)))
        .as("req_start"): _*)
      .select(keys.map(col) :+ col("req_start") :+
        least(col("req_start") + step - ivlMs, col("gap_end"))
          .as("req_end"): _*)
  }
}

/** The fused gap kernel over one partition of `(key struct, ts)` rows sorted
  * by `(key, ts nulls first)`: null `ts` marks an active-key sentinel (the
  * facts were range-filtered, so none of them is null).
  *
  * Per key run it reproduces the composition `gapPlan` documents exactly:
  *  - W2 applies only to active keys `boundaryGaps`' equi-join can match, i.e.
  *    with no null key component (SQL `NULL = NULL` is not true); an active
  *    key with a null component gets the whole-range gap regardless of its
  *    facts, as `boundaryGaps`' left join gives it.
  *  - W1 pairs consecutive facts, duplicates included (their distance 0 is
  *    never a gap); off-grid facts can yield an inverted interior gap,
  *    which is kept, as `interiorGaps` keeps it.
  *  - W3 consumes the gaps in `gap_start` order, which is the order they are
  *    produced in (starts strictly increase for a positive interval): a gap
  *    opens a new island when `gap_start - running max gap_end >=
  *    mergeWithinMs`, the running max taken over every earlier gap of the
  *    key, as `mergeRanges`' window frame takes it. */
private final class GapScan(ivlMs: Long, startMs: Long, endMs: Long,
    mergeWithinMs: Long) extends (Iterator[Row] => Iterator[Row])
    with Serializable {

  def apply(rows: Iterator[Row]): Iterator[Row] = new Iterator[Row] {
    private val in = rows.buffered
    private val out = mutable.Queue.empty[Row]

    def hasNext: Boolean = {
      while (out.isEmpty && in.hasNext) scanKey()
      out.nonEmpty
    }

    def next(): Row =
      if (hasNext) out.dequeue() else Iterator.empty.next()

    private def scanKey(): Unit = {
      val key = in.head.getStruct(0)
      val matchable = !(0 until key.length).exists(key.isNullAt)
      var active = false
      var any = false
      var last = 0L
      // W3 state for this key
      var open = false
      var islStart, islEnd, runMax = 0L

      def emit(): Unit = out += Row.fromSeq(key.toSeq :+ islStart :+ islEnd)
      def gap(s: Long, e: Long): Unit = {
        if (open && s - runMax < mergeWithinMs) islEnd = math.max(islEnd, e)
        else {
          if (open) emit()
          islStart = s
          islEnd = e
        }
        runMax = if (open) math.max(runMax, e) else e
        open = true
      }
      def whole(): Unit = if (startMs <= endMs) gap(startMs, endMs)

      while (in.hasNext && in.head.getStruct(0) == key) {
        val r = in.next()
        if (r.isNullAt(1)) active = true
        else {
          val ts = r.getLong(1)
          if (!any) {
            if (active && !matchable) whole()
            else if (active && startMs <= ts - ivlMs) gap(startMs, ts - ivlMs)
          } else if (ts - last > ivlMs) gap(last + ivlMs, ts - ivlMs)
          any = true
          last = ts
        }
      }
      if (active && !any) whole()
      else if (active && matchable && last + ivlMs <= endMs)
        gap(last + ivlMs, endMs)
      if (open) emit()
    }
  }
}
