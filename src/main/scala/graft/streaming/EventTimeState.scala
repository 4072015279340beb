package graft.streaming

import java.sql.Timestamp

import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
import org.apache.spark.util.LongAccumulator

/** The two event-time state protocols the streaming operators share,
  * each written once on `flatMapGroupsWithState` (Append output,
  * EventTimeTimeout). An operator supplies only its per-group logic;
  * the state's lifetime is decided here.
  *
  * [[tumbling]] — closed tumbling windows. Rows are watermarked on
  * their `ts` column and grouped by (window start, key), where the
  * window start is floor(ts / window) · window in epoch millis. A
  * trigger folds the group's new rows into its state and sets the
  * timeout to the window end; once the watermark passes that end the
  * state is handed to `close` exactly once and removed. State is one
  * bounded summary per open (window, key), never the window's rows.
  * A fold must be order-free (associative and commutative over rows)
  * for the closed-window output not to depend on how the stream was
  * cut into micro-batches; each operator says why its fold is.
  *
  * [[horizon]] — watermark-horizon bucket matching. Rows are
  * watermarked on their `ts` column with the horizon as the delay.
  * State per bucket key is the bucket's entries (id, event millis,
  * payload) within the horizon. Each trigger first evicts the entries
  * whose time + delay the watermark has passed, then walks the batch
  * in (ts, id) order: every row is verified against each kept entry
  * with another id, and joins the entries unless its id is already
  * kept. A bucket holding
  * `cap` entries stops storing arrivals but still verifies them, so a
  * post-cap arrival is flagged when it duplicates a stored entry while
  * two post-cap arrivals that duplicate only each other are not; each
  * arrival verified but not stored adds one to `dropped` when given.
  * The bucket's timeout is its newest entry's time + delay, so an idle
  * bucket dies with the horizon: state is horizon-bounded, never
  * corpus-bounded.
  */
object EventTimeState {

  /** A [[horizon]] bucket's kept (id, event millis, payload) entries. */
  final case class Entries[P](entries: List[(Long, Long, P)])

  /** Each closed (window, key) group's `close` output, emitted once the
    * watermark passes the window end. `fold` gets the group's state so
    * far (None on its first trigger) and the trigger's rows.
    */
  def tumbling[T, K: Encoder, S: Encoder, O: Encoder](rows: Dataset[T])(
      ts: T => Timestamp, key: T => K, windowSeconds: Long,
      watermarkDelay: String)(fold: (Option[S], Iterator[T]) => S)(
      close: (Timestamp, Timestamp, K, S) => Iterator[O]): Dataset[O] = {
    val winMs = windowSeconds * 1000L
    rows
      .withWatermark("ts", watermarkDelay)
      .groupByKey(r => (Math.floorDiv(ts(r).getTime, winMs) * winMs, key(r)))(
        Encoders.tuple(Encoders.scalaLong, implicitly[Encoder[K]]))
      .flatMapGroupsWithState[S, O](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case ((winStart, k), batch, state) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            close(new Timestamp(winStart), new Timestamp(winStart + winMs),
              k, s)
          } else {
            state.update(fold(state.getOption, batch))
            state.setTimeoutTimestamp(winStart + winMs)
            Iterator.empty
          }
      }
  }

  /** Every `verify(row, keptId, keptPayload)` output over each arriving
    * row and the earlier in-horizon entries of its bucket.
    */
  def horizon[T, K: Encoder, P: TypeTag, O: Encoder](rows: Dataset[T])(
      key: T => K, id: T => Long, ts: T => Timestamp, payload: T => P,
      delaySeconds: Long, cap: Int, dropped: Option[LongAccumulator] = None)(
      verify: (T, Long, P) => Option[O]): Dataset[O] = {
    val delayMs = delaySeconds * 1000L
    implicit val entries: Encoder[Entries[P]] = Encoders.product[Entries[P]]
    rows
      .withWatermark("ts", s"$delaySeconds seconds")
      .groupByKey(key)
      .flatMapGroupsWithState[Entries[P], O](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (_, batch, state) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val wm = state.getCurrentWatermarkMs()
            var kept = state.getOption.map(_.entries).getOrElse(Nil)
              .filter(_._2 + delayMs > wm)
            val out = scala.collection.mutable.ArrayBuffer.empty[O]
            for (r <- batch.toSeq.sortBy(x => (ts(x).getTime, id(x)))) {
              val rid = id(r)
              for ((eid, _, p) <- kept if eid != rid)
                out ++= verify(r, eid, p)
              if (!kept.exists(_._1 == rid)) {
                if (kept.size < cap)
                  kept = kept :+ ((rid, ts(r).getTime, payload(r)))
                else dropped.foreach(_.add(1L))
              }
            }
            if (kept.isEmpty) state.remove()
            else {
              state.update(Entries(kept))
              state.setTimeoutTimestamp(kept.map(_._2).max + delayMs)
            }
            out.iterator
          }
      }
  }
}
