package graft.streaming

import graft.TestSpark
import graft.cdc.Route
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Streaming ports of the reference's WatchTests scenarios: per-window
  * dedupe, cross-window re-emission, epoch-commit replacing the ack protocol.
  */
class CdcStreamSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def envelope(id: Int): String =
    s"""{"before": null, "after": {"entity_id": $id}}"""

  private val routes = Seq(
    Route("catalog_category_entity", "entity_id", "catalog_product_flat"),
    Route("catalog_category_entity", "entity_id", "catalog_category_product"))

  test("dedupe within a micro-batch, re-emission across batches (reference semantics)") {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(Long, String, String)]
    val records = mem.toDF().toDF("id", "table", "envelope")
    val collected = scala.collection.mutable.ArrayBuffer[(Long, String, String)]()
    val ckpt = Files.createTempDirectory("graft-ckpt").toString
    val q = CdcStream.startWith(records, routes,
        maxBatch = 1000, ckpt, windowMillis = 100L) { (batch: DataFrame, epoch: Long) =>
      batch.select("target", "ids").collect()
        .foreach(r => collected.synchronized {
          collected += ((epoch, r.getString(0), r.getString(1)))
        })
    }
    try {
      // batch 1: the canonical 1,2,1,2 fixture → one [1,2] per target
      mem.addData((1L, "catalog_category_entity", envelope(1)),
        (2L, "catalog_category_entity", envelope(2)),
        (3L, "catalog_category_entity", envelope(1)),
        (4L, "catalog_category_entity", envelope(2)))
      q.processAllAvailable()
      // batch 2: id 1 re-arrives after the "flush" → emitted again
      mem.addData((5L, "catalog_category_entity", envelope(1)))
      q.processAllAvailable()
    } finally q.stop()

    val out = collected.toSeq
    val epochsWithData = out.map(_._1).distinct.sorted
    assert(epochsWithData.size == 2)
    val first = out.filter(_._1 == epochsWithData(0))
    assert(first.map(t => (t._2, t._3)).toSet ==
      Set(("catalog_product_flat", "[1,2]"), ("catalog_category_product", "[1,2]")))
    val second = out.filter(_._1 == epochsWithData(1))
    assert(second.map(t => (t._2, t._3)).toSet ==
      Set(("catalog_product_flat", "[1]"), ("catalog_category_product", "[1]")))
  }
}
