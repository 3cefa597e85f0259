package graft.cdc

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Batch data-plane semantics on the reference's canonical 4-message fixture
  * (WatchTests ids 1,2,1,2 → {1,2} per routed target; FIXTURES.md §1).
  */
class CdcPipelineSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def envelope(id: Int, noise: Int): String =
    s"""{"before": {"entity_id": $id, "v": $noise}, "after": {"entity_id": $id, "v": $noise}}"""

  private val records = Seq(
    (1L, "catalog_category_entity", envelope(1, 1)),
    (2L, "catalog_category_entity", envelope(2, 2)),
    (3L, "catalog_category_entity", envelope(1, 3)),
    (4L, "catalog_category_entity", envelope(2, 4)),
    (5L, "unmapped_table", envelope(9, 5)))

  private val routes = Seq(
    ("catalog_category_entity", "entity_id", "catalog_product_flat"),
    ("catalog_category_entity", "entity_id", "catalog_category_product"))

  private def recordsDf = records.toDF("id", "table", "envelope")
  private def routesDf = routes.toDF("table", "column", "target")

  test("fan-out replicates each mapped record to every target, drops unmapped") {
    val out = CdcPipeline.parseAndRoute(recordsDf, routesDf)
    assert(out.count() == 8) // 4 records × 2 targets; unmapped_table dropped
    assert(out.select("target").distinct().count() == 2)
    assert(out.filter(col("entity_id").isNull).count() == 0)
  }

  test("keep-first dedupe keeps lowest-offset row per (target, entity)") {
    val routed = CdcPipeline.parseAndRoute(recordsDf, routesDf)
    val first = Dedupe.keepFirstAgg(routed, Seq("target", "entity_id"), col("id"), Seq("id"))
    assert(first.count() == 4) // {1,2} × 2 targets
    val ids = first.filter(col("target") === "catalog_product_flat")
      .select("entity_id", "id").as[(Int, Long)].collect().toMap
    assert(ids == Map(1 -> 1L, 2 -> 2L)) // first arrivals, not 3L/4L
  }

  test("keepFirstAgg and keepFirstRows agree") {
    val routed = CdcPipeline.parseAndRoute(recordsDf, routesDf)
      .select("target", "entity_id", "id")
    val a = Dedupe.keepFirstAgg(routed, Seq("target", "entity_id"), col("id"), Seq("id"))
      .orderBy("target", "entity_id").collect().toSeq
    val b = Dedupe.keepFirstRows(routed, Seq("target", "entity_id"), col("id"))
      .select("target", "entity_id", "id")
      .orderBy("target", "entity_id").collect().toSeq
    assert(a == b)
  }

  test("full pipeline emits json id batches per target with size cap") {
    val out = CdcPipeline.run(recordsDf, routesDf, maxBatch = 1)
      .orderBy("target", "chunk_no").collect()
    // 2 ids per target, maxBatch=1 → 2 chunks per target × 2 targets
    assert(out.length == 4)
    assert(out.forall(_.getAs[Long]("n_ids") == 1L))
    val flat = out.filter(_.getAs[String]("target") == "catalog_product_flat")
      .map(_.getAs[String]("ids")).toSeq
    assert(flat == Seq("[1]", "[2]"))
  }

  test("chunk boundaries: 250 ids at maxBatch=100 → 100/100/50") {
    val df = (1 to 250).map(i => (i.toLong, "t", i)).toDF("id", "target", "entity_id")
    val chunks = Batcher.keepFirstChunks(df, "target", "entity_id", 100, col("entity_id"))
      .orderBy("chunk_no").select("n_ids").as[Long].collect().toSeq
    assert(chunks == Seq(100L, 100L, 50L))
  }
}
