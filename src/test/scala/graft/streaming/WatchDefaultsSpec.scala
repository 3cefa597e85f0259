package graft.streaming

import graft.TestSpark
import graft.sources.InMemoryRedis
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** `watch` on its defaults — the Redis Streams source into the per-epoch
  * parquet sink — run through [[graft.Main.watch]], the function the CLI
  * runs: `buffers.source.size` as the rows per stream per epoch, the
  * `buffers.target.size` chunk cap, restart over one checkpoint, and the
  * start-up checks on the buffer sizes and the `--in` URL.
  */
class WatchDefaultsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val table = "catalog_category_entity"
  private val targets = Seq("catalog_category_product", "catalog_product_flat")

  private var n = 0
  private def freshMem(): (String, InMemoryRedis) = {
    n += 1
    val name = s"watch-defaults$n"
    InMemoryRedis.reset(name)
    (s"mem://$name", InMemoryRedis.named(name))
  }

  private def add(mem: InMemoryRedis, ids: Seq[Int]): Unit =
    ids.foreach(id => mem.xadd(table, Seq("value" ->
      s"""{"before": null, "after": {"entity_id": $id}}""")))

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

  /** One `watch --in <url> --out <out>` drained to the end; no --sink flag,
    * so the sink is parquet. Returns the written rows as (epoch, target,
    * ids).
    */
  private def runWatch(url: String, ckpt: String,
                       cfg: String = config()): Set[(Long, String, String)] = {
    val out = tmp("graft-watch-out")
    val q = graft.Main.watch(spark, Array("watch", "--config", cfg,
      "--in", url, "--out", out, "--checkpoint", ckpt))
    try q.processAllAvailable() finally q.stop()
    spark.read.parquet(out).select("epoch", "target", "ids").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
  }

  test("watch defaults: buffers.source.size rows per stream per epoch; a restart emits only the new entries") {
    val (url, mem) = freshMem()
    val ckpt = tmp("graft-watch-ckpt")
    val cfg = config(sourceSize = 2)
    add(mem, Seq(1, 2, 3))
    assert(runWatch(url, ckpt, cfg) ==
      targets.flatMap(t => Set((0L, t, "[1,2]"), (1L, t, "[3]"))).toSet)

    add(mem, Seq(4, 5))
    val second = runWatch(url, ckpt, cfg)
    assert(second.map { case (_, t, ids) => (t, ids) } == targets.map(_ -> "[4,5]").toSet,
      s"a restart must emit only the new entries' chunks, got $second")
  }

  test("watch's parquet sink caps every chunk at buffers.target.size") {
    val (url, mem) = freshMem()
    add(mem, 1 to 7)
    val out = runWatch(url, tmp("graft-watch-ckpt"), config(targetSize = 3))
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
        "--config", cfg, "--in", freshMem()._1, "--out", tmp("graft-watch-out"),
        "--checkpoint", tmp("graft-watch-ckpt"))))
      assert(e.getMessage.contains(s"buffers.$buffer.size must be positive"))
    }
  }

  test("watch rejects an --in that is not a mem:// or redis:// URL at start") {
    // a segment directory, the input of a former directory source
    val e = intercept[IllegalArgumentException](graft.Main.watch(spark, Array("watch",
      "--config", config(), "--in", tmp("graft-watch-in"), "--out", tmp("graft-watch-out"),
      "--checkpoint", tmp("graft-watch-ckpt"))))
    assert(e.getMessage.contains("want mem:// or redis://"), e.getMessage)
  }
}
