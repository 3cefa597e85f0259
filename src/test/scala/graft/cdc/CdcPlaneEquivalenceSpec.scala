package graft.cdc

import graft.TestSpark
import graft.streaming.RedisStreamsSink
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.JsonToStructs
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.SortAggregateExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType
import org.scalatest.funsuite.AnyFunSuite

/** The fused plane (`CdcPipeline.run`: parse once, fan out by expression,
  * one keep-first-and-chunk aggregate per target) against the plain
  * DataFrame plane it replaces: a broadcast join to the routes, a
  * `Dedupe.keepFirstAgg` per (target, entity), then `row_number` chunking
  * in numeric offset order. Also pins the physical shape of `run`.
  */
class CdcPlaneEquivalenceSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  import CdcPlaneEquivalenceSpec.referenceRoute

  // ---- the reference plane ----

  /** Numeric offset: (ms, seq) of a `ms-seq` string, or the integral id. */
  private def offset(id: Column, text: Boolean): Column =
    if (text) {
      val parts = split(id, "-")
      struct(parts.getItem(0).cast("decimal(20,0)").as("hi"),
        coalesce(try_element_at(parts, lit(2)).cast("decimal(20,0)"), lit(0).cast("decimal(20,0)"))
          .as("lo"))
    } else struct(id.cast("long").as("hi"), lit(0L).as("lo"))

  private def reference(records: DataFrame, routes: DataFrame, maxBatch: Int): DataFrame = {
    val text = records.schema("id").dataType == StringType
    val firsts = Dedupe.keepFirstAgg(
      referenceRoute(records, routes).filter(col("entity_id").isNotNull),
      Seq("target", "entity_id"), offset(col("id"), text), Seq("id"))
    val w = Window.partitionBy("target").orderBy(offset(col("id"), text), col("entity_id"))
    firsts.withColumn("_rn", row_number().over(w))
      .withColumn("chunk_no", ((col("_rn") - 1) / maxBatch).cast("long"))
      .groupBy(col("target"), col("chunk_no"))
      .agg(
        concat(lit("["), array_join(transform(
          sort_array(collect_list(col("entity_id").cast("long"))), _.cast("string")), ","),
          lit("]")).as("ids"),
        count(lit(1)).as("n_ids"))
  }

  // ---- adversarial inputs ----

  private def env(after: String): String = s"""{"before": null, "after": $after}"""

  /** (table, envelope) in arrival order; ids are attached per test. */
  private val bodies = Seq(
    "a" -> env("""{"entity_id": 5, "other": 1}"""),
    "b" -> env("""{"entity_id": 5}"""),
    "a" -> env("""{"entity_id": 3}"""),
    "a" -> env("null"),                                  // delete event: no after image
    "a" -> env("""{"entity_id": "x7"}"""),               // non-integer
    "a" -> env("""{"entity_id": 2.5}"""),                // non-integer
    "a" -> env("""{"other": 9}"""),                      // column missing
    "a" -> "not json",
    "zz" -> env("""{"entity_id": 1}"""),                 // unmapped table
    "c" -> env("""{"customer_id": 7, "product_id": 8}"""), // two routed columns
    "c" -> env("""{"customer_id": 8, "product_id": 7}"""),
    "b" -> env("""{"entity_id": 3}"""),
    "a" -> env("""{"entity_id": 1}"""),
    "b" -> env("""{"entity_id": 9}"""),
    "a" -> env("""{"entity_id": 5}"""),                  // repeat: keep-first drops it
    "c" -> env("""{"customer_id": 11, "product_id": null}"""),
    "b" -> env("""{"entity_id": 4}"""),
    "a" -> env("""{"entity_id": 6}"""),
    "b" -> env("""{"entity_id": 12}"""))

  private val routes = Seq(
    ("a", "entity_id", "t1"), ("a", "entity_id", "t2"),
    ("a", "entity_id", "t1"),                            // the same target listed twice
    ("b", "entity_id", "t1"),
    ("c", "customer_id", "t1"), ("c", "product_id", "t1"), ("c", "product_id", "t3"),
    ("never_seen", "entity_id", "t4")).toDF("table", "column", "target")

  /** Long offsets; pairs of streams share an offset (a and b at 10, 20, ...). */
  private def longRecords: DataFrame =
    bodies.zipWithIndex.map { case ((t, e), i) => ((i / 2 + 1) * 10L, t, e) }
      .toDF("id", "table", "envelope")

  /** `ms-seq` offsets crossing digit boundaries, with shared offsets and a bare `ms`. */
  private def textRecords: DataFrame = {
    val ids = Seq("9-0", "9-0", "10-0", "9-1", "10-0", "100-0", "1700000000000-2",
      "1700000000000-10", "99", "1700000000000-9", "18446744073709551615-0",
      "1700000000000-10", "2-5", "2-40", "2-40", "3-0", "18446744073709551614-7", "11-0", "11-0")
    ids.zip(bodies).map { case (id, (t, e)) => (id, t, e) }.toDF("id", "table", "envelope")
  }

  private def rows(df: DataFrame): Seq[(String, Long, String, Long)] =
    df.select("target", "chunk_no", "ids", "n_ids").as[(String, Long, String, Long)]
      .collect().toSeq.sorted

  test("run equals join route + keepFirstAgg + numeric-order chunking on adversarial inputs") {
    for ((name, records) <- Seq("long ids" -> longRecords, "ms-seq ids" -> textRecords);
         maxBatch <- Seq(1, 2, 3, 4, 1000)) {
      val got = rows(CdcPipeline.run(records, routes, maxBatch))
      val want = rows(reference(records, routes, maxBatch))
      assert(got == want, s"$name, maxBatch=$maxBatch")
      assert(got.nonEmpty && got.forall(_._4 <= maxBatch))
    }
    // survivors per target are exact multiples of maxBatch 1 and 2 (and 4 for t2)
    val survivors = rows(CdcPipeline.run(longRecords, routes, 1000)).map(r => r._1 -> r._4)
    assert(survivors.toMap == Map("t1" -> 10L, "t2" -> 4L, "t3" -> 2L))
  }

  test("parseAndRoute equals the join route, NULL entity ids included") {
    for (records <- Seq(longRecords, textRecords)) {
      def all(df: DataFrame) = df.select("id", "table", "column", "target", "entity_id")
        .collect().map(_.toSeq.map(String.valueOf)).toSeq.sortBy(_.mkString("|"))
      assert(all(CdcPipeline.parseAndRoute(records, routes)) == all(referenceRoute(records, routes)))
    }
  }

  test("no routes at all: run and parseAndRoute are empty") {
    val none = Seq.empty[(String, String, String)].toDF("table", "column", "target")
    assert(CdcPipeline.parseAndRoute(longRecords, none).isEmpty)
    assert(CdcPipeline.run(textRecords, none, 2).isEmpty)
  }

  test("text offsets that are not ms-seq ids fail loudly") {
    val bad = Seq(("abc", "a", env("""{"entity_id": 1}"""))).toDF("id", "table", "envelope")
    val e = intercept[Exception](CdcPipeline.run(bad, routes, 10).collect())
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(_.getMessage.contains("not a ms-seq id")), e.toString)
  }

  // ---- plan shape ----

  /** Records behind an RDD scan: over a local relation the optimizer would
    * evaluate the parse at planning time, leaving nothing to count.
    */
  private def scanned(df: DataFrame): DataFrame = spark.createDataFrame(df.rdd, df.schema)

  /** The final (post-AQE) physical plan of `df`. */
  private def executed(df: DataFrame): SparkPlan = {
    df.collect()
    df.queryExecution.executedPlan
  }

  test("run: one from_json, one shuffle, no SortAggregate/Window/BroadcastHashJoin") {
    val plan = executed(CdcPipeline.run(scanned(textRecords), routes, 2))
    val parses = flatMap(plan)(_.expressions.flatMap(_.collect { case j: JsonToStructs => j }))
    assert(parses.size == 1, plan.toString)
    assert(collect(plan) { case s: ShuffleExchangeLike => s }.size == 1, plan.toString)
    assert(collect(plan) {
      case p @ (_: SortAggregateExec | _: WindowExec | _: BroadcastHashJoinExec) => p
    }.isEmpty, plan.toString)
  }

  test("the sink's per-target partitioning reuses run's exchange") {
    val plan = executed(RedisStreamsSink.perTarget(CdcPipeline.run(scanned(textRecords), routes, 2)))
    assert(collect(plan) { case s: ShuffleExchangeLike => s }.size == 1, plan.toString)
  }
}

object CdcPlaneEquivalenceSpec {

  /** The reference route: a broadcast join to the routes, then each edge's
    * column read from `from_json`'s `after` map and cast to int.
    */
  def referenceRoute(records: DataFrame, routes: DataFrame): DataFrame =
    records.join(broadcast(routes), records("table") === routes("table"), "inner")
      .select(records("id"), records("table"), routes("column"), routes("target"),
        element_at(from_json(records("envelope"), Envelope.schema).getField("after"),
          routes("column")).try_cast("int").as("entity_id"))
}
