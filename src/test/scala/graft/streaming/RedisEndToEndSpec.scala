package graft.streaming

import graft.TestSpark
import graft.sources.{InMemoryRedis, RedisId}
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageSubmitted}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** End-to-end watch topology with Redis on BOTH ends — the engine's mirror
  * of the reference's `testWatchCommandDeduplicate*` integration tests
  * (WatchTests.java:96-157): push Debezium envelopes into per-table source
  * streams, run source → parse → fan-out → dedupe → batch → XADD sink, then
  * assert per-target stream contents, the O4 priming entry, the ack/delete
  * retention matrix on the source, and the ≤maxBatch id-array cap. Every
  * run goes through `Main.watch`, the function the CLI runs.
  */
class RedisEndToEndSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def envelope(id: Int): String =
    s"""{"before": null, "after": {"entity_id": $id}}"""

  private var n = 0
  private def freshMem(): (String, InMemoryRedis) = {
    n += 1
    val name = s"e2e$n"
    InMemoryRedis.reset(name)
    (s"mem://$name", InMemoryRedis.named(name))
  }

  private def ckpt(): String =
    java.nio.file.Files.createTempDirectory("graft-e2e-ckpt").toString

  /** The reference's config shape: one watched table fanning out to two
    * targets (config.yaml mapping, WatchTests' fixtures). All three buffers
    * are spelled out, as an operator's config sets them; the 100 ms dedupe
    * time is the trigger interval `watch` runs.
    */
  private def config(ack: String, maxBatch: Int = 1000,
                     sourceConnection: String = """{"host": "127.0.0.1", "port": 6379}""",
                     mapping: String = """"catalog_category_entity": {"entity_id": """ +
                       """["catalog_product_flat", "catalog_category_product"]}"""): String =
    s"""{"source": {"prefix": "m2.", "group": "cdc", "acknowledge": "$ack",
       |  "connection": $sourceConnection},
       |"target": {"prefix": "target."},
       |"buffers": {"source": {"size": 1000, "time": 1000},
       |  "dedupe": {"size": 100000, "time": 100},
       |  "target": {"size": $maxBatch, "time": 1000}},
       |"mapping": {$mapping}}""".stripMargin

  /** One full `watch` run through the CLI's own wiring
    * ([[graft.Main.watch]]) with `flags` added, reading the source streams
    * of `source`: with `--in url --target-url url`, Redis on both ends at
    * `url`.
    */
  private def runWatch(source: InMemoryRedis, config: String, flags: String*): String = {
    val cfgFile = java.nio.file.Files.createTempFile("graft-e2e", ".json")
    java.nio.file.Files.writeString(cfgFile, config)
    val q = graft.Main.watch(spark, Array("watch", "--config", cfgFile.toString,
      "--checkpoint", ckpt()) ++ flags)
    try {
      q.processAllAvailable()
      // epoch N's source ack fires when epoch N+1 plans; poke an empty epoch
      source.xadd("m2.catalog_category_entity", Seq("v" -> envelope(-1)))
      q.processAllAvailable()
      q.processAllAvailable()
      q.id.toString
    } finally q.stop()
  }

  private def runWatch(url: String, mem: InMemoryRedis, config: String): String =
    runWatch(mem, config, "--in", url, "--target-url", url)

  private def idArrays(mem: InMemoryRedis, stream: String): Seq[String] =
    mem.xrange(stream, RedisId.Zero, RedisId(-1L, -1L), Int.MaxValue)
      .map(_._2("ids"))

  test("watch: dedupe 1,2,1,2 → one [1,2] per target; priming entry first; delete-mode trims source") {
    val (url, mem) = freshMem()
    // the reference's canonical fixture (WatchTests.java:113-127)
    Seq(1, 2, 1, 2).foreach(i =>
      mem.xadd("m2.catalog_category_entity", Seq("v" -> envelope(i))))
    runWatch(url, mem, config(ack = "delete"))

    for (t <- Seq("target.catalog_product_flat", "target.catalog_category_product")) {
      val entries = idArrays(mem, t)
      assert(entries.head == "[]", s"$t missing O4 priming entry")
      assert(entries.tail.contains("[1,2]"),
        s"$t must carry the deduped [1,2] batch, got $entries")
    }
    // delete-mode retention: acked source entries XDELed (the poke entry and
    // at most the final unacked epoch may remain — WatchTests asserts 0 after
    // full drain; our ack lags one epoch by design, A1 analogue)
    val deadline = System.currentTimeMillis() + 10000
    while (System.currentTimeMillis() < deadline &&
           mem.xlen("m2.catalog_category_entity") > 1) Thread.sleep(100)
    assert(mem.xlen("m2.catalog_category_entity") <= 1L,
      "acked source entries must be XDELed in delete mode")
  }

  test("watch: simple mode XACKs but retains source entries") {
    val (url, mem) = freshMem()
    Seq(1, 2).foreach(i =>
      mem.xadd("m2.catalog_category_entity", Seq("v" -> envelope(i))))
    runWatch(url, mem, config(ack = "simple"))
    assert(mem.xlen("m2.catalog_category_entity") == 3L, // 2 + poke
      "simple mode must not XDEL")
    val deadline = System.currentTimeMillis() + 10000
    while (System.currentTimeMillis() < deadline &&
           mem.ackedIds("m2.catalog_category_entity", "cdc").size < 2)
      Thread.sleep(100)
    assert(mem.ackedIds("m2.catalog_category_entity", "cdc").size >= 2,
      "source entries must be XACKed into the group")
    assert(idArrays(mem, "target.catalog_product_flat").contains("[1,2]"))
  }

  test("watch: id arrays capped at maxBatch (reference's ≤1000, README:7)") {
    val (url, mem) = freshMem()
    (1 to 7).foreach(i =>
      mem.xadd("m2.catalog_category_entity", Seq("v" -> envelope(i))))
    runWatch(url, mem, config(ack = "simple", maxBatch = 3))
    val entries = idArrays(mem, "target.catalog_product_flat").filter(_ != "[]")
    val sizes = entries.map(e =>
      if (e == "[]") 0 else e.stripPrefix("[").stripSuffix("]").split(",").length)
    assert(sizes.nonEmpty && sizes.forall(_ <= 3), s"chunk cap violated: $entries")
    val all = entries.flatMap(e =>
      e.stripPrefix("[").stripSuffix("]").split(",").map(_.toInt))
    assert(all.toSet.intersect((1 to 7).toSet) == (1 to 7).toSet,
      s"every id must be delivered, got $all")
  }

  test("watch: more streams than cores, each epoch's scan runs at most one task per core") {
    val (url, mem) = freshMem()
    val tables = (1 to 6).map(i => s"table$i")
    tables.zipWithIndex.foreach { case (t, i) =>
      Seq(1, 2).foreach(k => mem.xadd(s"m2.$t", Seq("v" -> envelope(10 * i + k))))
    }
    val mapping = tables.map(t => s""""$t": {"entity_id": ["out_$t"]}""").mkString(", ")
    // (query id, epoch) -> tasks of the stage that scans the source
    val scanTasks = new java.util.concurrent.ConcurrentHashMap[(String, String), Int]()
    val listener = new SparkListener {
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        for {
          props <- Option(e.properties)
          query <- Option(props.getProperty("sql.streaming.queryId"))
          epoch <- Option(props.getProperty("streaming.sql.batchId"))
          if e.stageInfo.rddInfos.exists(_.name == "DataSourceRDD")
        } scanTasks.put((query, epoch), e.stageInfo.numTasks)
    }
    spark.sparkContext.addSparkListener(listener)
    val query = try runWatch(url, mem, config(ack = "simple", mapping = mapping))
      finally spark.sparkContext.removeSparkListener(listener)

    val cores = spark.sparkContext.defaultParallelism
    assert(cores == 4 && tables.size > cores)
    tables.zipWithIndex.foreach { case (t, i) =>
      assert(idArrays(mem, s"target.out_$t") == Seq("[]", s"[${10 * i + 1},${10 * i + 2}]"))
    }
    // the listener bus delivers asynchronously; epoch 0 read all six streams
    val deadline = System.currentTimeMillis() + 10000
    while (System.currentTimeMillis() < deadline && !scanTasks.containsKey((query, "0")))
      Thread.sleep(50)
    val perEpoch = scanTasks.asScala.collect { case ((`query`, epoch), n) => epoch -> n }
    assert(perEpoch.contains("0"), s"no scan stage seen: $scanTasks")
    assert(perEpoch.values.forall(_ <= cores), s"scan tasks per epoch: $perEpoch")
  }

  test("watch: chunks arrive in per-target chunk order") {
    val (url, mem) = freshMem()
    // 12 entries get source ids 1-0 .. 12-0, crossing the 9-0/10-0 boundary
    // where a text order of the offsets would put "10-0" first
    (1 to 12).foreach(i =>
      mem.xadd("m2.catalog_category_entity", Seq("v" -> envelope(i))))
    runWatch(url, mem, config(ack = "simple", maxBatch = 2))
    val entries = idArrays(mem, "target.catalog_category_product")
      .filter(e => e != "[]" && e != "[-1]")
    // deterministic chunker in numeric offset order + sorted single-task
    // append per target: first ids of consecutive chunks must be increasing
    val firsts = entries.map(
      _.stripPrefix("[").stripSuffix("]").split(",").head.toInt)
    assert(firsts == firsts.sorted, s"chunks out of order: $entries")
  }

  test("watch: --in overrides source.connection") {
    val (url, mem) = freshMem()
    Seq(1, 2).foreach(i =>
      mem.xadd("m2.catalog_category_entity", Seq("v" -> envelope(i))))
    // nothing listens on port 1: reading source.connection fails the query
    runWatch(url, mem, config(ack = "simple",
      sourceConnection = """{"host": "127.0.0.1", "port": 1}"""))
    assert(idArrays(mem, "target.catalog_product_flat").contains("[1,2]"))
  }

  test("watch: without --in, the source is source.connection's db") {
    val (url, mem) = freshMem()
    val srv = new graft.sources.RespServerFake
    try {
      val source = srv.db(2)
      Seq(1, 2).foreach(i =>
        source.xadd("m2.catalog_category_entity", Seq("v" -> envelope(i))))
      runWatch(source, config(ack = "delete",
        sourceConnection = s"""{"host": "127.0.0.1", "port": ${srv.port}, "db": 2}"""),
        "--target-url", url)
      assert(idArrays(mem, "target.catalog_product_flat").take(2) == Seq("[]", "[1,2]"))
      val deadline = System.currentTimeMillis() + 10000
      while (System.currentTimeMillis() < deadline &&
             source.xlen("m2.catalog_category_entity") > 1) Thread.sleep(100)
      assert(source.xlen("m2.catalog_category_entity") <= 1L,
        "the drained entries must be acked and XDELed on db 2")
      assert(srv.mem.xlen("m2.catalog_category_entity") == 0L)
    } finally srv.close()
  }

  test("watch: without --target-url, XADDs go to target.connection's db") {
    val (url, mem) = freshMem()
    Seq(1, 2).foreach(i =>
      mem.xadd("m2.catalog_category_entity", Seq("v" -> envelope(i))))
    val srv = new graft.sources.RespServerFake
    try {
      val cfg = config(ack = "simple").replace(""""target": {"prefix": "target."}""",
        s""""target": {"prefix": "target.",
           |  "connection": {"host": "127.0.0.1", "port": ${srv.port}, "db": 1}}""".stripMargin)
      runWatch(mem, cfg, "--in", url)
      assert(idArrays(srv.db(1), "target.catalog_product_flat").take(2) == Seq("[]", "[1,2]"))
      assert(srv.mem.xlen("target.catalog_product_flat") == 0L)
    } finally srv.close()
  }
}
