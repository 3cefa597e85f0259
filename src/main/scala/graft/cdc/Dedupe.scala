package graft.cdc

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Keep-first deduplication — the reference's
  * `Collectors.toMap(entityId, identity, (a,b) -> a)` (WatchStream.java:272-274):
  * within a window, the FIRST arrival per key survives.
  *
  * The `watch` plane does not call these: it fuses keep-first with chunking
  * in one target-keyed aggregate ([[Batcher.keepFirstChunks]]). These are the
  * general DataFrame forms, for any keys and payload:
  *   - [[keepFirstAgg]]: `min`-of-struct single aggregation with a partial
  *     (map-side) combine before the exchange. Struct ordering has no hash
  *     aggregate form, so Spark plans it as a SortAggregate.
  *   - [[keepFirstRows]]: window `row_number`, when all payload columns of the
  *     surviving row are needed without enumerating them. One shuffle, no
  *     partial agg — use only when the row is wide and dynamic.
  *
  * Both order by `order` as Spark compares it, so a `ms-seq` text offset
  * orders as text here ("10-0" < "9-0"). The plane's aggregate reads such
  * offsets with the one `ms-seq` decoder, [[graft.sources.RedisId.parse]];
  * `after.<column>` likewise has one decoder, [[Envelope.afterColumns]].
  *
  * Cross-window semantics: the reference's dedupe state RESETS at each buffer
  * flush (an id re-arriving after a flush is emitted again — asserted by its
  * own tests, SURVEY §2.4 D1). Batch mode = one window; streaming mode applies
  * this per micro-batch in [[graft.Main.watch]].
  */
object Dedupe {

  /** Keep the first row per key group, "first" = smallest `order` value.
    * `payload` columns are carried through via a packed struct min — a single
    * aggregate with map-side partial combine (no window).
    */
  def keepFirstAgg(df: DataFrame, keys: Seq[String], order: Column,
                   payload: Seq[String]): DataFrame = {
    val packed = struct(order.as("_ord") +: payload.map(p => col(p).as(p)): _*)
    df.groupBy(keys.map(col): _*)
      .agg(min(packed).as("_first"))
      .select(keys.map(col) ++ payload.map(p => col(s"_first.$p").as(p)): _*)
  }

  /** Keep-first via row_number window — preserves the full row. */
  def keepFirstRows(df: DataFrame, keys: Seq[String], order: Column): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(order)
    df.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .drop("_rn")
  }
}
