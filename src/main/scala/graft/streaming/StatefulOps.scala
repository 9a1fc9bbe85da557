package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Arbitrary per-key state machines on the typed Dataset API
  * (SURVEY.md §2.8 "stateful custom" row).
  *
  * `flatMapGroupsWithState` is the Structured Streaming primitive for
  * custom state; the same code runs in batch (state starts empty, one
  * call per key) and streaming (state persists across micro-batches in
  * the state store — RocksDB provider for large keyspaces at 100 TB).
  * Its batch twin is WindowQueries.qWindowCumsum, and StreamingSpec
  * asserts they agree.
  *
  * Scale/semantics caveats this DEMO operator carries by design (the
  * batch window twin is the whole-history scale path):
  *   - Append output with no watermark: an event arriving in a LATER
  *     micro-batch than a larger-ts neighbor folds after it — already
  *     emitted rows are never retracted, so cross-batch late data
  *     yields totals that are prefix-correct per arrival order, not
  *     per event time. Bound it with a watermark + drop, or run the
  *     batch twin for reconciliation.
  *   - Each invocation buffers and sorts ONE key's rows of ONE batch
  *     on-heap; in batch mode that is the key's entire history — a
  *     pathologically hot key belongs to the spilling window operator,
  *     not this API.
  */
object StatefulOps {

  final case class Ev(
      event_id: Long, ts: Timestamp, user_id: Long, value: Double)
  final case class Running(
      user_id: Long, event_id: Long, running: Double)
  /** Running total in integer CENTS: the batch twin sums DECIMAL(18,2)
    * exactly, and accumulating raw doubles drifts O(n·ulp) past the
    * parity tolerance on long histories (r11 review) — cents keep the
    * fold exact for totals up to 2^63 cents. */
  final case class SumState(totalCents: Long)

  /** Sorts one key's rows of one batch and folds them onto the carried
    * total.
    *
    * Ordering matches the batch twin's ORDER BY ts, event_id:
    * Timestamp compares as a value (nanosecond-aware — `getTime`
    * truncates to milliseconds and mis-orders sub-millisecond
    * neighbors) and NULL timestamps sort FIRST like SQL's default,
    * instead of NPEing the task on one poison row. */
  private def foldRunning(
      user: Long, startCents: Long, rows: Iterator[Ev])
      : (Long, Seq[Running]) = {
    val ord: Ordering[Ev] = (a: Ev, b: Ev) => {
      val byTs =
        if (a.ts == null && b.ts == null) 0
        else if (a.ts == null) -1 // NULLS FIRST, the batch twin's order
        else if (b.ts == null) 1
        else a.ts.compareTo(b.ts)
      if (byTs != 0) byTs else java.lang.Long.compare(a.event_id, b.event_id)
    }
    var total = startCents
    val out = rows.toSeq.sorted(ord).map { e =>
      total += math.round(e.value * 100)
      Running(user, e.event_id, total / 100.0)
    }
    (total, out)
  }

  /** Per-user running total of `value` in (ts, event_id) order.
    *
    * Within one invocation the iterator's order is not guaranteed, so
    * rows are sorted before folding — in streaming this corresponds to
    * per-micro-batch ordering with the carried state providing the
    * prefix from earlier batches.
    */
  def runningTotals(events: Dataset[Ev]): Dataset[Running] = {
    implicit val stateEnc = Encoders.product[SumState]
    implicit val outEnc = Encoders.product[Running]
    events
      .groupByKey(_.user_id)(Encoders.scalaLong)
      .flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (user: Long, rows: Iterator[Ev], state: GroupState[SumState]) => {
          val start = state.getOption.map(_.totalCents).getOrElse(0L)
          val (total, out) = foldRunning(user, start, rows)
          state.update(SumState(total))
          out.iterator
        })
  }
}
