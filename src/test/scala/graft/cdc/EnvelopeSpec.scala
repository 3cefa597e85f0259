package graft.cdc

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Envelope decode semantics from RedisSource.java:66 — after-image
  * extraction, strict-int behavior. Compact/extended detection happens in
  * the Redis source and is covered by RedisStreamsSourceSpec.
  */
class EnvelopeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val env = """{"before": {"entity_id": 1, "v": 4}, "after": {"entity_id": 7, "v": 4}}"""

  test("entityId extracts after.<field> as int") {
    val df = Seq(env).toDF("e").select(Envelope.entityId(col("e"), "entity_id"))
    assert(df.head().getInt(0) == 7)
  }

  test("missing field / non-integer id surface as rejects, not crashes") {
    // reference would throw (JSONObject.get) / ClassCastException; we flag
    val rows = Seq(
      """{"after": {"other": 1}}""",       // missing field
      """{"after": {"entity_id": "x9"}}""", // non-numeric string
      """{"after": {"entity_id": 3}}""")    // good
      .toDF("e")
      .select(Envelope.rejects(col("e"), "entity_id").as("r"))
      .collect().map(_.getBoolean(0)).toSeq
    assert(rows == Seq(true, true, false))
  }
}
