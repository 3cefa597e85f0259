package graft.streaming

import graft.TestSpark
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}

/** `watch` on its defaults — the segment-directory source (`graft-cdc`)
  * into the per-epoch parquet sink — run through [[graft.Main.watch]], the
  * function the CLI runs: the `buffers.source.size` → `maxSegmentsPerTrigger`
  * mapping, the `buffers.target.size` chunk cap, restart over one
  * checkpoint, and the start-up checks on the buffer sizes.
  */
class WatchDefaultsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val table = "catalog_category_entity"
  private val targets = Seq("catalog_category_product", "catalog_product_flat")

  private def writeSegment(dir: String, seq: Long, ids: Seq[Int]): Unit =
    Files.write(Paths.get(dir, s"$table.$seq.log"), ids.map(id =>
      s"""{"before": null, "after": {"entity_id": $id}}""").mkString("\n").getBytes("UTF-8"))

  private def tmp(prefix: String): String = Files.createTempDirectory(prefix).toString

  /** The example config's buffers, with a 100 ms dedupe time as the trigger. */
  private def config(sourceSize: Int = 1000, targetSize: Int = 1000): String = {
    val f = Files.createTempFile("graft-watch", ".json")
    val targetList = targets.map("\"" + _ + "\"").mkString("[", ", ", "]")
    Files.writeString(f,
      s"""{"buffers": {"source": {"size": $sourceSize, "time": 1000},
         |  "dedupe": {"size": 100000, "time": 100},
         |  "target": {"size": $targetSize, "time": 1000}},
         |"mapping": {"$table": {"entity_id": $targetList}}}
         |""".stripMargin)
    f.toString
  }

  /** One `watch --in <dir> --out <out>` drained to the end; no --source or
    * --sink flag, so the source is graft-cdc and the sink parquet. Returns
    * the written rows as (epoch, target, ids).
    */
  private def runWatch(dir: String, ckpt: String,
                       cfg: String = config()): Set[(Long, String, String)] = {
    val out = tmp("graft-watch-out")
    val q = graft.Main.watch(spark, Array("watch", "--config", cfg,
      "--in", dir, "--out", out, "--checkpoint", ckpt))
    try q.processAllAvailable() finally q.stop()
    spark.read.parquet(out).select("epoch", "target", "ids").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
  }

  test("watch defaults: one segment per epoch; a restart emits only the new segment") {
    val dir = tmp("graft-watch-in")
    val ckpt = tmp("graft-watch-ckpt")
    writeSegment(dir, 1L, Seq(1, 2))
    writeSegment(dir, 2L, Seq(3))
    // buffers.source.size 1000 → maxSegmentsPerTrigger 1: one epoch per segment
    assert(runWatch(dir, ckpt) ==
      targets.flatMap(t => Set((0L, t, "[1,2]"), (1L, t, "[3]"))).toSet)

    writeSegment(dir, 3L, Seq(4, 5))
    val second = runWatch(dir, ckpt)
    assert(second.map { case (_, t, ids) => (t, ids) } == targets.map(_ -> "[4,5]").toSet,
      s"a restart must emit only the new segment's chunks, got $second")
  }

  test("watch's parquet sink caps every chunk at buffers.target.size") {
    val dir = tmp("graft-watch-in")
    writeSegment(dir, 1L, 1 to 7)
    val out = runWatch(dir, tmp("graft-watch-ckpt"), config(targetSize = 3))
    val chunks = out.toSeq.map { case (_, t, ids) =>
      t -> ids.stripPrefix("[").stripSuffix("]").split(",").map(_.toInt).toSeq }
    assert(chunks.forall(_._2.size <= 3), s"a chunk exceeds 3 ids: $out")
    assert(chunks.groupMap(_._1)(_._2).view.mapValues(_.flatten.sorted).toMap ==
      targets.map(_ -> (1 to 7)).toMap)
  }

  Seq("source", "target").foreach { buffer =>
    test(s"watch rejects a non-positive buffers.$buffer.size at start") {
      val cfg = if (buffer == "source") config(sourceSize = 0) else config(targetSize = 0)
      val e = intercept[IllegalArgumentException](graft.Main.watch(spark, Array("watch",
        "--config", cfg, "--in", tmp("graft-watch-in"), "--out", tmp("graft-watch-out"),
        "--checkpoint", tmp("graft-watch-ckpt"))))
      assert(e.getMessage.contains(s"buffers.$buffer.size must be positive"))
    }
  }
}
