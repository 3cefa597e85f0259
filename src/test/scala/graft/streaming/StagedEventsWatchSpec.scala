package graft.streaming

import graft.{Bench, Main, SparkEntry, TestSpark}
import graft.sources.{InMemoryRedis, RedisId}
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** The events staging and `watch` config that Bench's streaming anchor and
  * the streaming rehearsal drain ([[Bench.withStagedEvents]]:
  * [[SparkEntry.stageCdcStreams]] into a `mem://` store,
  * [[SparkEntry.demoWatchConfig]]), run through [[graft.Main.watch]] into a
  * `mem://` target: the staged stream arrives in 4 epochs and
  * every target receives the ids the batch plane ([[SparkEntry.entry2]])
  * emits over the same events.
  */
class StagedEventsWatchSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def ids(json: String): Seq[Long] =
    json.stripPrefix("[").stripSuffix("]").split(",").toSeq.filter(_.nonEmpty).map(_.toLong)

  test("staged sf0.001 events drain through watch in 4 epochs with entry2's ids per target") {
    val sf = TestSpark.sf0001
    Bench.withStagedEvents(spark, sf) { (events, in, config) =>
      assert(events == spark.read.parquet(s"$sf/events.parquet").count())
      val target = s"staged-watch-${System.nanoTime()}"
      val q = Main.watch(spark, Array("watch", "--config", config, "--in", in,
        "--checkpoint", Files.createTempDirectory("graft-staged-ckpt").toString,
        "--target-url", s"mem://$target"))
      try q.processAllAvailable() finally q.stop()
      try {
        assert(q.recentProgress.count(_.numInputRows > 0) == 4)
        val want = SparkEntry.entry2(spark, sf).select("target", "ids").collect()
          .groupMapReduce(_.getString(0))(r => ids(r.getString(1)).toSet)(_ ++ _)
        val out = InMemoryRedis.named(target)
        val got = want.keys.map(t => t ->
          out.xrange(t, RedisId.Zero, RedisId.Max, Int.MaxValue).flatMap(e => ids(e._2("ids"))).toSet
        ).toMap
        assert(got == want)
      } finally InMemoryRedis.reset(target)
    }
  }

  test("Bench.drainWatch leaves nothing behind in the temp dir") {
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def entries: Set[String] = tmp.list().toSet
    val (tmpBefore, storesBefore) = (entries, InMemoryRedis.names)
    Bench.withStagedEvents(spark, TestSpark.sf0001) { (_, in, config) =>
      val (tmpStaged, storesStaged) = (entries, InMemoryRedis.names)
      assert(storesStaged -- storesBefore == Set(in.stripPrefix("mem://")))
      assert(Bench.drainWatch(spark, in, config) > 0)
      // the drain's mem:// target is dropped, its checkpoint deleted
      assert(entries -- tmpStaged == Set.empty)
      assert(InMemoryRedis.names == storesStaged)
    }
    // the staged mem:// source and its config are dropped too
    assert(entries -- tmpBefore == Set.empty)
    assert(InMemoryRedis.names == storesBefore)
  }
}
