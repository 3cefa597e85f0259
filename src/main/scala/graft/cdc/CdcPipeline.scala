package graft.cdc

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The full reference data plane (SURVEY §3.2), batch form, composed from the
  * stage modules. One micro-batch of CDC records goes:
  *
  *   decode the routed columns once → fan out to targets → keep-first
  *   dedupe and ≤ maxSize chunking per target → JSON id arrays per target.
  *
  * Physically that is two stages around one exchange on `target`: scan →
  * decode → fan-out → partial dedupe, then merge → chunk (→ the sink's XADDs,
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

  private val edgeType = ArrayType(StructType(Seq(StructField("_column", IntegerType),
    StructField("column", StringType), StructField("target", StringType))))

  /** `table` → its (column index, column, target) edges, as a CASE over
    * literal arrays built on the driver; the index points into `columns`.
    * An unrouted table maps to NULL, which `inline` expands to no rows.
    * Duplicate edges are kept, as a join would keep them.
    */
  private def fanOut(table: Column, edges: Seq[Route], columns: Seq[String]): Column = {
    val branches = edges.groupBy(_.table).toSeq.sortBy(_._1).map { case (t, es) =>
      (table === t, array(es.map(e => struct(lit(columns.indexOf(e.column)).as("_column"),
        lit(e.column).as("column"), lit(e.target).as("target"))): _*))
    }
    if (branches.isEmpty) lit(null).cast(edgeType)
    else branches.tail.foldLeft(when(branches.head._1, branches.head._2)) {
      case (acc, (cond, arr)) => acc.when(cond, arr)
    }
  }

  /** Decode + route: envelope JSON → integer entity id per routed column.
    * Each envelope is decoded ONCE, to the values of the routed columns
    * only (the distinct `Route.column`s, sorted) in its `after` image
    * ([[Envelope.afterColumns]]: one in-place walk of its bytes, with
    * `from_json` for the rows the walk cannot vouch for). Each record then
    * expands to one row per (column, target) edge of its table, and each
    * edge reads its own column's value by index — the generalization of
    * the reference's first-column quirk (SURVEY §2.3 note). A record routed
    * to k targets appears k times, like the reference's k `emitNext` calls
    * (WatchStream.java:347-352). Unrouted tables drop out; a missing or
    * non-integer column gives a NULL `entity_id` (see Envelope.rejects),
    * exactly where `element_at(from_json(envelope).after, column)` would.
    * Output: (id, table, column, target, entity_id).
    */
  def parseAndRoute(records: DataFrame, routes: DataFrame): DataFrame =
    parseAndRoute(records, edges(routes))

  def parseAndRoute(records: DataFrame, edges: Seq[Route]): DataFrame = {
    val columns = edges.map(_.column).distinct.sorted
    records
      .select(col("id"), col("table"),
        Envelope.afterColumns(col("envelope"), columns).as("_after"))
      .select(col("id"), col("table"), col("_after"),
        inline(fanOut(col("table"), edges, columns)))
      .select(col("id"), col("table"), col("column"), col("target"),
        col("_after").getItem(col("_column")).try_cast("int").as("entity_id"))
  }

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
