package graft.operators

import org.apache.spark.sql.{Column, DataFrame, functions => F}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** As-of (point-in-time) join: for each left row, attach the most recent
  * right row with `right.ts <= left.ts` within the same key — the standard
  * time-series enrichment operator (trades⋈quotes, events⋈state).
  *
  * Spark has no native as-of join; the composition here is the
  * union-and-carry pattern: tag both sides, union, sort within key by
  * (ts, side) and carry the last right value forward with a running
  * `last(ignoreNulls)` window, then keep left rows. One shuffle on the key
  * — same cost class as a co-partitioned join; no per-row range probing,
  * no broadcast requirement, skew behaves like any keyed window.
  */
object AsofJoin {

  /** Left as-of join. Output: all columns of `left` plus `valueCols` from
    * `right` (null when no right row precedes the left row's timestamp).
    *
    * Plan (r15): both tables project onto a common TAPE — `(key, ts,
    * __isref, __lrow, __rv)` where `__lrow` is the left row's payload
    * struct and `__rv` is `struct(xxhash64(values), values…)` for right
    * rows — and the join resolves exactly like [[leftAsofTape]]: ONE
    * exchange on the key, ONE sort by `(key, ts)`, ONE window pass
    * carrying the winning right row as a running `max(struct(ts, __rv))`
    * over a RANGE frame. The lexicographic struct max IS the as-of rule:
    * latest reference timestamp wins, the leading xxhash64 inside `__rv`
    * reproduces the documented tie-break (greatest hash of the carried
    * values among same-instant duplicates), and the whole row travels as
    * a unit so tied rows are never stitched column-wise. Versus the old
    * union-and-carry spelling this drops the per-column null padding and
    * narrows the 3-key sort `(ts, side, tb)` to `ts`; RAW x1000 cost is a
    * wash (order-controlled both ways, j5b shape, 100M events: tape
    * 13.2/10.9 s vs union-carry 9.7/11.0 s — within same-day scatter,
    * and both ≈2.3–3.1× DuckDB's native ASOF 4.3 s). The tape also has a
    * write-once spelling the padded union lacks: persisted
    * bucketed+sorted it answered exchange-free and sort-free (r15, 1.94 s
    * vs DuckDB 4.30 s at x1000). `AsofJoinSpec` pins row-identity
    * against [[leftAsofUnionCarry]] on both fixture and adversarial
    * tied/null inputs.
    *
    * @param left      probe side; must have `key` and `ts` columns
    * @param right     reference side; must have `key` and `ts` columns
    * @param key       equi-join key column name
    * @param ts        event-time column name (same name both sides)
    * @param valueCols right-side columns to carry
    */
  def leftAsof(left: DataFrame, right: DataFrame, key: String, ts: String,
               valueCols: Seq[String]): DataFrame = {
    val tape = twoTableTape(left, right, key, ts, valueCols)
    fromTape(tape, left.columns, key, ts, valueCols)
  }

  /** The common tape of a two-table as-of join: left rows carry their
    * non-key payload as `__lrow`, right rows carry `__rv =
    * struct(__tb = xxhash64(values), values…)`; `__isref` tags the side.
    */
  private def twoTableTape(left: DataFrame, right: DataFrame, key: String,
                           ts: String, valueCols: Seq[String]): DataFrame = {
    val lPayload = left.columns.filterNot(c => c == key || c == ts)
    val lBase = Seq(col(key), col(ts), lit(false).as("__isref"))
    val l = left.select((if (lPayload.isEmpty) lBase
      else lBase :+ struct(lPayload.map(col): _*).as("__lrow")): _*)
    val r = right.select(col(key), col(ts), lit(true).as("__isref"),
      struct((xxhash64(valueCols.map(col): _*).as("__tb") +:
        valueCols.map(c => col(c).as(c))): _*).as("__rv"))
    l.unionByName(r, allowMissingColumns = true)
  }

  /** Resolve a [[twoTableTape]] through the single-window struct-max plan
    * and project back to `leftCols ++ valueCols`.
    */
  private def fromTape(tape: DataFrame, leftCols: Seq[String], key: String,
                       ts: String, valueCols: Seq[String]): DataFrame = {
    leftAsofTape(tape, key, ts, col("__isref"), Seq("__pick" -> col("__rv")))
      .select((leftCols.map(c =>
        if (c == key || c == ts) col(c) else col(s"__lrow.$c").as(c)) ++
        valueCols.map(c => col(s"__pick.$c").as(c))): _*)
  }

  /** The pre-r15 union-and-carry spelling, kept as the semantic reference
    * for `AsofJoinSpec`'s old-vs-new parity pins (and as the fallback
    * documentation of the tie-break rule [[leftAsof]] must reproduce).
    * Not a public entry point. Raw cost matches the tape plan within
    * same-day scatter at x1000 (see [[leftAsof]]); what it CANNOT do is
    * ride a persisted tape layout — the padded-union shape has no
    * write-once spelling.
    */
  private[graft] def leftAsofUnionCarry(left: DataFrame, right: DataFrame,
                                        key: String, ts: String,
                                        valueCols: Seq[String]): DataFrame = {
    val leftCols = left.columns
    // side ordering: right rows sort before left rows at equal ts, so a
    // simultaneous right row IS visible to the left row (asof <=)
    val l = left.withColumn("__side", lit(1))
    val lPadded = valueCols.foldLeft(l)((df, c) =>
      df.withColumn(s"__r_$c", lit(null).cast(right.schema(c).dataType)))
    val r = right.select(
      (col(key) +: col(ts) +: valueCols.map(c => col(c).as(s"__r_$c"))): _*)
      .withColumn("__side", lit(0))
      .select(lPadded.columns.map(c =>
        if (leftCols.contains(c) && c != key && c != ts) lit(null).cast(left.schema(c).dataType).as(c)
        else col(c)): _*)
    // deterministic tie-break among right rows sharing (key, ts): without
    // it, `last(ignoreNulls)` picks whichever duplicate the sort happened
    // to place last — retry/partitioning dependent. The winner is the row
    // with the greatest xxhash64 of its carried values: arbitrary as a
    // rule, but stable for any input and cheap for any carried type. Left
    // rows sort after every right row at equal ts regardless (asof <=).
    val tb = (df: DataFrame) =>
      df.withColumn("__tb", when(col("__side") === 0,
        xxhash64(valueCols.map(c => col(s"__r_$c")): _*)).otherwise(lit(0L)))
    val w = Window.partitionBy(col(key))
      .orderBy(col(ts), col("__side"), col("__tb"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // the carried values travel as ONE struct: per-column `last(__r_c,
    // ignoreNulls)` would treat a NULL inside the winning row as "look
    // further back for THIS column" and stitch together columns from
    // DIFFERENT tied rows — a row that never existed. The struct is
    // non-null exactly for right rows, so one `last(ignoreNulls)` carries
    // the winning row as a unit, NULLs and all.
    val structed = tb(lPadded.unionByName(r)).withColumn("__rrow",
      when(col("__side") === 0,
        struct(valueCols.map(c => col(s"__r_$c").as(c)): _*)))
    val carried = structed.withColumn("__c",
      last(col("__rrow"), ignoreNulls = true).over(w))
    carried.filter(col("__side") === 1)
      .select((leftCols.map(col) ++
        valueCols.map(c => col(s"__c.$c").as(c))): _*)
  }

  /** As-of join over a single TAPE — the market-data shape (quotes and
    * trades arrive in one keyed stream; reference points are a subset of
    * the same table): every `isRef === false` row gets, for each
    * `(name, expr)` in `refVals`, the MAX of `expr` over the reference
    * rows of the latest `(key, ts)` group with a reference row at or
    * before its timestamp (null until the first reference) — i.e.
    * `probes ASOF LEFT JOIN (refs GROUP BY key, ts aggregating max)`.
    *
    * Scale shape, and why this exists next to [[leftAsof]]: composing
    * `leftAsof(probes, refs.groupBy(key, ts).agg(...))` from one base
    * table scans the tape TWICE, pays the refs aggregation its own
    * (key, ts) exchange, then unions and re-exchanges probe+ref rows
    * padded to a common wide schema — x1000, 100M events: 16.8 s against
    * DuckDB's native ASOF at 4.8 s. Here the tape exchanges ONCE on the
    * key, sorts ONCE by (key, ts), and resolves in ONE window pass: each
    * carried value rides a running `max(struct(ts, expr))` over a RANGE
    * frame — the lexicographic struct max IS the as-of rule (latest
    * reference timestamp wins, then the max value among its references),
    * and the RANGE frame makes same-instant references visible to the
    * probe (as-of `<=`) independent of intra-timestamp row order. A
    * two-window spelling (frame-less per-(key,ts) group maxes, then a
    * running `last`) was measured and REJECTED: WindowExec's per-pass
    * row buffering made it 26-50 s at x1000 — worse than the composed
    * join it replaced. Note `max(struct(ts, v))` carries a null v at the
    * winning timestamp correctly: (ts, null) still outranks every older
    * timestamp, so a matched reference whose value is null yields null
    * instead of leaking an older value (AsofJoinSpec pins it).
    *
    * Rows where `isRef` is null are neither probe nor reference (present
    * on the tape, excluded from both roles) — the same exclusion the
    * `%10`-style predicates produce in SQL. `key` and `ts` must be
    * non-null: a window groups null keys where a join would never match
    * them, and a null timestamp has no place in the as-of order.
    */
  def leftAsofTape(tape: DataFrame, key: String, ts: String, isRef: Column,
                   refVals: Seq[(String, Column)]): DataFrame = {
    require(refVals.nonEmpty, "leftAsofTape: need at least one carried value")
    val outCols = tape.columns
    val keyed = tape.withColumn("__isref", isRef).repartition(col(key))
    // RANGE frame: peers (rows at the probe's own ts) are in-frame, so a
    // same-instant reference is visible whatever the tie order
    val w = Window.partitionBy(col(key)).orderBy(col(ts))
      .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    val carried = refVals.foldLeft(keyed) { case (df, (n, e)) =>
      df.withColumn(s"__c_$n",
        max(when(col("__isref"), struct(col(ts).as("t"), e.as("v")))).over(w))
    }
    carried.filter(col("__isref") === false)
      .select((outCols.map(col) ++
        refVals.map { case (n, _) => col(s"__c_$n.v").as(n) }): _*)
  }
}
