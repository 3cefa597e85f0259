package graft.cdc

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The full reference data plane (SURVEY §3.2), batch form, composed from the
  * stage modules. One micro-batch of CDC records goes:
  *
  *   parse envelope once → fan out to targets → keep-first dedupe and
  *   ≤ maxSize chunking per target → JSON id arrays per target.
  *
  * Physically that is two stages around one exchange on `target`: scan →
  * parse → fan-out → partial dedupe, then merge → chunk (→ the sink's XADDs,
  * which reuse the exchange's partitioning).
  *
  * The reference's ref-counted ack protocol (F1, A1–A7) is intentionally
  * absent: under Spark's epoch/offset commit a micro-batch commits only after
  * every sink write succeeds, which subsumes the countdown with stronger
  * (exactly-once into idempotent sinks) semantics. See SURVEY §7.3.
  *
  * Input contract: a DataFrame with columns
  *   `id` (source offset: integral, or a Redis-style `ms-seq` string),
  *   `table` (source table name), `envelope` (Debezium JSON string).
  */
object CdcPipeline {

  /** The route table's edges, collected to the driver (it is O(100) rows). */
  def edges(routes: DataFrame): Seq[Route] =
    routes.select("table", "column", "target").collect().toSeq
      .map(r => Route(r.getString(0), r.getString(1), r.getString(2)))

  private val edgeType =
    ArrayType(StructType(Seq(StructField("column", StringType), StructField("target", StringType))))

  /** `table` → its (column, target) edges, as a CASE over literal arrays
    * built on the driver; an unrouted table maps to NULL, which `inline`
    * expands to no rows. Duplicate edges are kept, as a join would keep them.
    */
  private def fanOut(table: Column, edges: Seq[Route]): Column = {
    val branches = edges.groupBy(_.table).toSeq.sortBy(_._1).map { case (t, es) =>
      (table === t,
        array(es.map(e => struct(lit(e.column).as("column"), lit(e.target).as("target"))): _*))
    }
    if (branches.isEmpty) lit(null).cast(edgeType)
    else branches.tail.foldLeft(when(branches.head._1, branches.head._2)) {
      case (acc, (cond, arr)) => acc.when(cond, arr)
    }
  }

  /** Decode + route: envelope JSON → integer entity id per routed column.
    * Each envelope's `after` image is parsed ONCE, as a map (Catalyst's
    * OptimizeJsonExprs prunes the unused `before` branch). Each record then
    * expands to one row per (column, target) edge of its table, and each
    * edge reads its own column from the map — the generalization of the
    * reference's first-column quirk (SURVEY §2.3 note). A record routed to k
    * targets appears k times, like the reference's k `emitNext` calls
    * (WatchStream.java:347-352). Unrouted tables drop out; a missing or
    * non-integer column gives a NULL `entity_id` (see Envelope.rejects).
    * Output: (id, table, column, target, entity_id).
    */
  def parseAndRoute(records: DataFrame, routes: DataFrame): DataFrame =
    parseAndRoute(records, edges(routes))

  def parseAndRoute(records: DataFrame, edges: Seq[Route]): DataFrame =
    records
      .select(col("id"), col("table"),
        Envelope.parse(col("envelope")).getField("after").as("_after"))
      .select(col("id"), col("table"), col("_after"), inline(fanOut(col("table"), edges)))
      .select(col("id"), col("table"), col("column"), col("target"),
        element_at(col("_after"), col("column")).try_cast("int").as("entity_id"))

  /** Full plane: parse/route → keep-first per (target, entity_id) by offset
    * and ordered chunks of ≤ maxBatch ids, in one aggregate
    * ([[Batcher.keepFirstChunks]]). NULL entity ids drop out there (the
    * reference would crash; see Envelope.rejects). Output:
    * (target, chunk_no, ids, n_ids).
    */
  def run(records: DataFrame, routes: DataFrame, maxBatch: Int): DataFrame =
    run(records, edges(routes), maxBatch)

  def run(records: DataFrame, edges: Seq[Route], maxBatch: Int): DataFrame =
    Batcher.keepFirstChunks(parseAndRoute(records, edges),
      "target", "entity_id", maxBatch, col("id"))
}
