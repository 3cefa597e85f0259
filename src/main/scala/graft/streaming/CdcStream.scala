package graft.streaming

import graft.cdc.{CdcPipeline, Route}
import org.apache.spark.sql.{DataFrame, GraftBridge}
import org.apache.spark.sql.streaming.StreamingQuery

/** Structured Streaming form of the CDC plane — the engine's equivalent of
  * the reference's `watch` command (WatchStream.java:61-136).
  *
  * Semantics mapping (SURVEY §7):
  *   - count-or-time dedupe window (bufferTimeout(100k, 5s)) → micro-batch =
  *     `Trigger.ProcessingTime(windowMillis)` for the time arm, counted from
  *     each trigger's start rather than from the wall clock's multiples of
  *     the window ([[GraftBridge.startForeachBatch]]), so the epoch cadence
  *     does not depend on when the plane started; the count arm
  *     is enforced at the SOURCE as Spark's read limit (`graft-redis`'s
  *     `maxRecordsPerTrigger`, rows per stream), which is where Spark bounds
  *     batch size.
  *   - dedupe state RESETS per flush in the reference (ids re-emit in later
  *     windows — its tests assert this); per-micro-batch `foreachBatch` +
  *     batch-local dedupe reproduces exactly that.
  *   - ref-counted XACK/XDEL protocol → checkpoint epoch commit: a batch's
  *     offsets commit only after the sink write returns, giving at-least-once
  *     into any sink and exactly-once into idempotent/transactional ones —
  *     strictly stronger than the reference (no pending-entry loss on crash,
  *     cf. its unused recovery knobs, RedisSource.java:29-34).
  *
  * Input contract: a STREAMING DataFrame with `id`, `table`, `envelope` —
  * in `watch`, the Redis Streams source (`graft-redis`); tests also use
  * MemoryStream. Output: the batched chunks
  * (target, chunk_no, ids, n_ids) of each epoch, handed to the caller's
  * writer (`Main.watch`: per-epoch parquet or XADD).
  *
  * Epoch plan: the route edges (`CdcConfig.routes`, on the driver) are
  * compiled into the fan-out expression, so an epoch runs no job for them.
  * Each epoch is two stages (scan → parse → fan-out → partial dedupe;
  * merge → chunk → write) around one exchange on `target` — see
  * [[CdcPipeline.run]]. The dedupe state of an epoch is one target's
  * distinct ids per task, bounded by the source's per-trigger cap summed
  * over the streams feeding that target (Σ `buffers.source.size` in
  * `watch`): the reference's 100k dedupe buffer.
  */
object CdcStream {

  /** Start the plane with a caller-supplied epoch writer: `Main.watch`'s
    * parquet or Redis XADD writer, a collecting writer in tests. The writer
    * receives the BATCHED output (target, chunk_no, ids, n_ids) for one
    * epoch.
    */
  def startWith(records: DataFrame, edges: Seq[Route], maxBatch: Int,
                checkpointDir: String, windowMillis: Long)(
                writer: (DataFrame, Long) => Unit): StreamingQuery =
    GraftBridge.startForeachBatch(records, checkpointDir, windowMillis) {
      (batch: DataFrame, epoch: Long) =>
        // batch-local dedupe = reference flush semantics (state reset/window)
        writer(CdcPipeline.run(batch, edges, maxBatch), epoch)
    }
}
