package graft.streaming

import graft.sources.RedisConn
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Redis Streams target sink — the reference's output plane
  * (WatchStream.java:261-295): each batched chunk becomes one
  * `XADD <targetPrefix><target> ids "[1,2,3]"` entry, and every target
  * stream is primed at startup with an empty-array entry
  * (`XADD <stream> ids "[]"`, WatchStream.java:263-266) so downstream
  * consumers can attach before the first real batch arrives (O4).
  *
  * Delivery semantics: XADD with auto-id is not idempotent, so an epoch
  * replayed after a crash re-appends its chunks — at-least-once into the
  * target streams, exactly the reference's guarantee (it also acks only
  * after the write, WatchStream.java:296-300, and re-delivers on crash via
  * the consumer-group PEL). Consumers of the target streams must tolerate
  * duplicate id arrays in both systems.
  *
  * Scale: the batched output of one epoch is |targets| × ⌈ids/maxBatch⌉
  * rows — tiny relative to the input plane — but the write still runs on
  * executors (`foreachPartition`, one connection per partition), never
  * through a driver collect. Chunks are partitioned by target and sorted so
  * each target's entries are appended by a single task in chunk order,
  * preserving the per-target ordering the deterministic chunker produced.
  * The chunker's output ([[graft.cdc.CdcPipeline.run]]) is already
  * hash-partitioned by target, so the planner drops the `repartition` here
  * and the write runs in the chunker's own stage; other inputs are shuffled.
  */
object RedisStreamsSink {

  /** O4 startup priming: create/prime every target stream with `{"ids":"[]"}`. */
  def prime(url: String, prefix: String, targets: Seq[String]): Unit = {
    val conn = RedisConn.open(url)
    try targets.distinct.sorted.foreach(t => conn.xadd(s"$prefix$t", Seq("ids" -> "[]")))
    finally conn.close()
  }

  /** The rows the writer appends: (target, chunk_no, ids), each target's
    * chunks in one partition, in chunk order.
    */
  private[graft] def perTarget(batch: DataFrame): DataFrame =
    batch.select("target", "chunk_no", "ids")
      .repartition(col("target"))
      .sortWithinPartitions("target", "chunk_no")

  /** Epoch writer of [[graft.Main.watch]]: XADDs each batched chunk row
    * (`target`, `chunk_no`, `ids`) to `<prefix><target>`.
    */
  def writer(url: String, prefix: String): (DataFrame, Long) => Unit =
    (batch, _) =>
      perTarget(batch)
        .foreachPartition { (rows: Iterator[Row]) =>
          if (rows.hasNext) {
            val conn = RedisConn.open(url)
            try rows.foreach(r => conn.xadd(prefix + r.getString(0), Seq("ids" -> r.getString(2))))
            finally conn.close()
          }
        }
}
