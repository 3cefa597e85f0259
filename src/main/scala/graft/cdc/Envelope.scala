package graft.cdc

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Debezium-envelope decoding as pure `Column` functions (no UDFs — everything
  * stays inside whole-stage codegen and Catalyst's `OptimizeJsonExprs` can
  * prune the parsed struct down to the single accessed field).
  *
  * Reference semantics (RedisSource.java:58-66):
  *   - format detect is structural, per record: a body with exactly one field
  *     is "compact" (its value is the envelope); otherwise "extended"
  *     (envelope under the `value` field). The Redis source does this while
  *     it reads an entry, so the envelope reaches these functions as a string.
  *   - only `after.<column>` is read, and it must be an integer.
  */
object Envelope {

  /** Schema-less Debezium envelope: `{"before": {...}, "after": {...}}`
    * (schemas.enable=false in the reference's debezium template). Maps keep
    * the payload dynamic; per-table typed StructTypes are a caller choice.
    */
  val schema: StructType = StructType(Seq(
    StructField("before", MapType(StringType, StringType)),
    StructField("after", MapType(StringType, StringType))))

  /** Parse an envelope JSON string to (before, after) maps. */
  def parse(envelopeJson: Column): Column = from_json(envelopeJson, schema)

  /** Extract `after.<field>` as the integer entity id — the strict
    * integer-cast semantics of RedisSource.java:66 become a try_cast that
    * yields NULL on non-integers (ANSI-safe: a poison record must not kill a
    * 100 TB job); use [[rejects]] for the FAILFAST-style audit.
    */
  def entityId(envelopeJson: Column, field: String): Column =
    get_json_object(envelopeJson, s"$$.after.$field").try_cast(IntegerType)

  /** Rows the reference would have crashed on (missing `after.<field>` or a
    * non-integer value): surfaced as a filterable flag instead of an error
    * channel — at 100 TB a single poison record must not kill the job.
    */
  def rejects(envelopeJson: Column, field: String): Column =
    entityId(envelopeJson, field).isNull
}
