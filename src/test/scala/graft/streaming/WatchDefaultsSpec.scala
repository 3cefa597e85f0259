package graft.streaming

import graft.TestSpark
import graft.sources.{InMemoryRedis, RedisId}
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** `watch` on its defaults — the Redis Streams source into the XADD sink,
  * here both on `mem://` — run through [[graft.Main.watch]], the function
  * the CLI runs: `buffers.source.size` as the rows per stream per epoch,
  * restart over one checkpoint, the per-epoch dedupe reset, and the
  * start-up checks on the buffer sizes, `source.acknowledge`, the `--in`
  * URL, the refused `--out` and flags with no value.
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
  private def config(sourceSize: Int = 1000, targetSize: Int = 1000,
                     acknowledge: String = "simple"): String = {
    val f = Files.createTempFile("graft-watch", ".json")
    val targetList = targets.map("\"" + _ + "\"").mkString("[", ", ", "]")
    Files.writeString(f,
      s"""{"source": {"acknowledge": "$acknowledge"},
         |"buffers": {"source": {"size": $sourceSize, "time": 1000},
         |  "dedupe": {"size": 100000, "time": 100},
         |  "target": {"size": $targetSize, "time": 1000}},
         |"mapping": {"$table": {"entity_id": $targetList}}}
         |""".stripMargin)
    f.toString
  }

  /** `watch` with `flags` added to a fresh checkpoint and config(). */
  private def watch(flags: String*) = graft.Main.watch(spark, Array("watch",
    "--config", config(), "--checkpoint", tmp("graft-watch-ckpt")) ++ flags)

  /** One `watch --in <url> --target-url <target>` drained to the end. */
  private def runWatch(url: String, target: String, ckpt: String, cfg: String): Unit = {
    val q = graft.Main.watch(spark, Array("watch", "--config", cfg,
      "--in", url, "--target-url", target, "--checkpoint", ckpt))
    try q.processAllAvailable() finally q.stop()
  }

  /** Each target stream's id arrays in stream order. */
  private def idArrays(mem: InMemoryRedis): Map[String, Seq[String]] =
    targets.map(t => t -> mem.xrange(t, RedisId.Zero, RedisId.Max, Int.MaxValue)
      .map(_._2("ids"))).toMap

  test("watch defaults: buffers.source.size rows per stream per epoch; a restart emits only the new entries") {
    val (url, mem) = freshMem()
    val (targetUrl, target) = freshMem()
    val ckpt = tmp("graft-watch-ckpt")
    val cfg = config(sourceSize = 2)
    add(mem, Seq(1, 2, 3))
    runWatch(url, targetUrl, ckpt, cfg)
    assert(idArrays(target) == targets.map(_ -> Seq("[]", "[1,2]", "[3]")).toMap)

    // id 1 comes back after the restart: the dedupe state is the epoch's
    // alone, so it is emitted again
    add(mem, Seq(4, 5, 1))
    runWatch(url, targetUrl, ckpt, cfg)
    assert(idArrays(target) ==
      targets.map(_ -> Seq("[]", "[1,2]", "[3]", "[]", "[4,5]", "[1]")).toMap)
  }

  Seq("source", "target").foreach { buffer =>
    test(s"watch rejects a non-positive buffers.$buffer.size at start") {
      val cfg = if (buffer == "source") config(sourceSize = 0) else config(targetSize = 0)
      val e = intercept[IllegalArgumentException](graft.Main.watch(spark, Array("watch",
        "--config", cfg, "--in", freshMem()._1, "--target-url", freshMem()._1,
        "--checkpoint", tmp("graft-watch-ckpt"))))
      assert(e.getMessage.contains(s"buffers.$buffer.size must be positive"))
    }
  }

  test("watch rejects a source.acknowledge other than simple or delete at start") {
    // a near miss would run simple mode and never trim the source stream
    for (ack <- Seq("Delete", "delet", "")) {
      val (targetUrl, target) = freshMem()
      val e = intercept[IllegalArgumentException](graft.Main.watch(spark, Array("watch",
        "--config", config(acknowledge = ack), "--in", freshMem()._1,
        "--target-url", targetUrl, "--checkpoint", tmp("graft-watch-ckpt"))))
      assert(e.getMessage.contains(s"source.acknowledge must be simple or delete, got '$ack'"),
        e.getMessage)
      assert(idArrays(target).values.forall(_.isEmpty))
    }
  }

  test("watch rejects an --in that is not a mem:// or redis:// URL at start") {
    // a segment directory, the input of a former directory source
    val e = intercept[IllegalArgumentException](
      watch("--in", tmp("graft-watch-in"), "--target-url", freshMem()._1))
    assert(e.getMessage.contains("want mem:// or redis://"), e.getMessage)
  }

  test("watch refuses --out at start and XADDs nothing") {
    val (targetUrl, target) = freshMem()
    val e = intercept[IllegalArgumentException](watch("--in", freshMem()._1,
      "--target-url", targetUrl, "--out", tmp("graft-watch-out")))
    assert(e.getMessage.contains("target.connection"), e.getMessage)
    assert(idArrays(target).values.forall(_.isEmpty))
  }

  test("watch rejects a flag with no value at start") {
    val (url, target) = (freshMem()._1, freshMem()._1)
    // last, or followed by another flag
    for ((flag, args) <- Seq(
        "--in" -> Seq("--target-url", target, "--in"),
        "--in" -> Seq("--in", "--target-url", target),
        "--target-url" -> Seq("--in", url, "--target-url"))) {
      val e = intercept[IllegalArgumentException](watch(args: _*))
      assert(e.getMessage == s"$flag needs a value", s"$args: ${e.getMessage}")
    }
  }
}
