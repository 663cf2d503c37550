package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder}
import org.apache.spark.sql.streaming._

/** Watermark-driven, event-time-ordered per-key processing — the engine
  * behind count windows, streaming OVER aggregates, CEP, and connected
  * streams. Reproduces the reference's pattern of buffering out-of-order
  * rows in keyed state and draining them in timestamp order when the
  * watermark passes (reference: flink-libraries/flink-table/.../table/
  * runtime/aggregate/RowTimeUnboundedOver.scala — ListState row buffer +
  * event-time timers; flink-streaming-java/.../api/operators/
  * InternalTimerService).
  *
  * Contract: rows are buffered in a `ListState`, a timer is registered at
  * each row's timestamp, and when the watermark reaches `t` every buffered
  * row with `ts <= t` is processed in `(ts, tieId)` order through
  * [[OrderedProcessor.onOrdered]]. Output order within a key is therefore
  * deterministic event-time order regardless of arrival order — which is
  * what makes these operators exactly reproducible by a batch oracle.
  *
  * Scale note: state is per-key in the executor-local state store (RocksDB
  * provider), so the buffer never concentrates on one node; each key holds
  * only rows inside the watermark delay, bounded by out-of-orderness.
  */
object EventTimeOps {

  /** Extracts (timerEpochMs, sortMicros, tieId): `_1` drives timers and the
    * watermark drain; `(_2, _3)` give total deterministic order within a key.
    * CONTRACT: the full triple must be unique per buffered row of a key —
    * it is the row's identity in the state buffer (a duplicate key would
    * overwrite, not double-buffer). Use a unique event/sequence id as the
    * tie component; fold in a side/source bit when merging streams. */
  type OrderKey[I] = I => (Long, Long, Long)

  abstract class OrderedProcessor[K, I, O](orderKey: OrderKey[I], bufEnc: Encoder[I])
      extends StatefulProcessor[K, I, O] {

    // Buffer = MapState keyed by the row's full order key (timerMs, sortUs,
    // tieId — unique per row, tieId breaks exact ties). A drain READS the
    // buffer but deletes only the consumed entries; the pending suffix is
    // never rewritten. The previous ListState buffer had no partial
    // removal, so every drain cleared and re-appended all pending rows —
    // O(pending) WRITE amplification per drain, the cost SCALE.md flagged
    // for long-watermark-delay streams. Map puts are O(1) per row on
    // ingest (no read-modify-write of a bucket list).
    @transient private var buf: MapState[(Long, Long, Long), I] = _

    // Smallest timer-ms among buffered rows (unset = buffer empty). The
    // timer path consults it before touching `buf`: a watermark tick with
    // `minPending > wm` cannot release anything, so the full-buffer scan —
    // O(buffered rows) read amplification per key per batch under long
    // watermark delays, across OVER windows / CEP / the ordered drain —
    // is skipped entirely. Maintained on ingest (min with the batch's
    // smallest ts) and on drain (min over the surviving pending keys,
    // computed during the same scan that selects the ready ones).
    @transient private var minPending: ValueState[Long] = _

    /** Hook for subclasses to open their own state. */
    protected def openState(handle: StatefulProcessorHandle): Unit = {}

    /** Test hook: invoked immediately before a full buffer scan on the
      * timer path. The min-pending guard exists to keep these rare; the
      * no-op-tick spec counts calls to prove a tick below every buffered
      * timestamp never iterates the buffer. */
    protected def onBufferScan(): Unit = {}

    /** Called once per row, per key, in event-time order. */
    protected def onOrdered(key: K, row: I): Iterator[O]

    /** Called after a drain, with the watermark that drove it — the hook
      * for firing event-time windows whose end has passed even when no
      * later element for the key arrives (WindowOperator's cleanup path). */
    protected def onWatermark(key: K, watermarkMs: Long): Iterator[O] = Iterator.empty

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      buf = getHandle.getMapState[(Long, Long, Long), I]("graft_buf",
        org.apache.spark.sql.Encoders.tuple(org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.scalaLong),
        bufEnc, TTLConfig.NONE)
      minPending = getHandle.getValueState[Long]("graft_min_pending",
        org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
      openState(getHandle)
    }

    override def handleInputRows(key: K, rows: Iterator[I], tv: TimerValues): Iterator[O] = {
      // One timer per key per batch (at the max buffered ts) instead of one
      // per row: when the watermark reaches it, the drain below releases
      // every row <= watermark anyway, and per-row timers would each cost a
      // state-store scan on expiry (~rows× overhead for no extra output).
      var maxTs = Long.MinValue
      var minTs = Long.MaxValue
      rows.foreach { r =>
        buf.updateValue(orderKey(r), r)
        val t = orderKey(r)._1
        if (t > maxTs) maxTs = t
        if (t < minTs) minTs = t
      }
      if (maxTs != Long.MinValue) {
        getHandle.registerTimer(maxTs)
        if (!minPending.exists() || minTs < minPending.get()) minPending.update(minTs)
      }
      Iterator.empty
    }

    override def handleExpiredTimer(key: K, tv: TimerValues, info: ExpiredTimerInfo): Iterator[O] = {
      val wm = tv.getCurrentWatermarkInMs()
      // Guard: nothing buffered, or everything buffered is still above the
      // watermark — the scan below cannot release a row, so don't pay it.
      // Subclass-registered timers (window cleanup, CEP timeouts, session
      // gaps) land here constantly with an untouched buffer.
      if (!minPending.exists() || minPending.get() > wm) return onWatermark(key, wm)
      onBufferScan()
      val ready = scala.collection.mutable.ArrayBuffer.empty[((Long, Long, Long), I)]
      var survivorMin = Long.MaxValue
      buf.iterator().foreach { case e @ (k, _) =>
        if (k._1 <= wm) ready += e
        else if (k._1 < survivorMin) survivorMin = k._1
      }
      if (survivorMin == Long.MaxValue) minPending.clear() else minPending.update(survivorMin)
      if (ready.isEmpty) onWatermark(key, wm)
      else {
        ready.foreach { case (k, _) => buf.removeKey(k) } // pending untouched
        ready.sortInPlaceBy { case (k, _) => (k._2, k._3) }
          .iterator.flatMap { case (_, r) => onOrdered(key, r) } ++ onWatermark(key, wm)
      }
    }
  }

  /** Run an [[OrderedProcessor]] over a keyed stream (event-time mode;
    * requires an upstream `withWatermark`). Every graft event-time operator
    * starts here, so this binds the caller's session to
    * [[graft.io.LocalFs]] before its checkpoint is first written. */
  def ordered[K: Encoder, I: Encoder, O: Encoder](
      ds: Dataset[I], keyFn: I => K,
      p: OrderedProcessor[K, I, O]): Dataset[O] = {
    import ds.sparkSession.implicits._
    graft.io.LocalFs.bind(ds.sparkSession)
    ds.groupByKey(keyFn)
      .transformWithState(p, TimeMode.EventTime(), OutputMode.Append())
  }
}
