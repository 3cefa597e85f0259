package graft.cdc

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftBridge.{column, expression}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Debezium-envelope decoding as `Column` functions (no UDFs).
  *
  * Reference semantics (RedisSource.java:58-66):
  *   - format detect is structural, per record: a body with exactly one field
  *     is "compact" (its value is the envelope); otherwise "extended"
  *     (envelope under the `value` field). The Redis source does this while
  *     it reads an entry, so the envelope reaches these functions as a string.
  *   - only `after.<column>` is read, and it must be an integer.
  *
  * [[afterColumns]] is the one decoder of `after.<column>`: the plane reads
  * its routed columns with it, and [[entityId]] and [[rejects]] are built on
  * it, so the audit flags exactly the rows the plane drops. It is one walk
  * over each envelope's bytes, with `from_json` ([[parse]]) only for rows
  * the walk cannot vouch for: the same ids as `from_json` on every input.
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

  /** `after.<column>` for each of `columns`, as an `array<string>` in that
    * order: what `element_at(parse(e).after, column)` gives, read by one
    * in-place walk per envelope ([[AfterColumns]]), with `parse(e).after`
    * evaluated only for the rows the walk falls back on. Catalyst's
    * `OptimizeJsonExprs` prunes that `from_json` to the `after` field, so
    * `before` is never type-checked on either path.
    */
  def afterColumns(envelopeJson: Column, columns: Seq[String]): Column =
    column(AfterColumns(expression(envelopeJson),
      expression(parse(envelopeJson).getField("after")), columns))

  /** Extract `after.<field>` as the integer entity id, decoded as the plane
    * decodes it ([[afterColumns]]) — the strict integer-cast semantics of
    * RedisSource.java:66 become a try_cast that yields NULL on non-integers
    * (ANSI-safe: a poison record must not kill a 100 TB job); use
    * [[rejects]] for the FAILFAST-style audit.
    */
  def entityId(envelopeJson: Column, field: String): Column =
    afterColumns(envelopeJson, Seq(field)).getItem(0).try_cast(IntegerType)

  /** Rows the reference would have crashed on (missing `after.<field>` or a
    * non-integer value): surfaced as a filterable flag instead of an error
    * channel — at 100 TB a single poison record must not kill the job.
    */
  def rejects(envelopeJson: Column, field: String): Column =
    entityId(envelopeJson, field).isNull
}
