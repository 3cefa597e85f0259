package graft.sources

import graft.TestSpark
import graft.cdc.CdcPipeline
import org.apache.spark.sql.connector.read.InputPartition
import org.scalatest.funsuite.AnyFunSuite

/** Redis Streams DSv2 source e2e against the in-memory fake conn: group
  * attach, incremental offsets, per-trigger caps, epoch XACK + delete-mode
  * XDEL retention, wire-format detection, prefix stripping, restart over a
  * checkpoint — the reference's I/O plane (RedisSource.java:72-93,
  * WatchStream.java:193-220) — and the packing of each epoch's stream
  * ranges into at most `parallelism` partitions. The final test runs
  * the same matrix against a REAL server when REDIS_URL is set (integration
  * mode; skipped in the sandbox).
  */
class RedisStreamsSourceSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def envelope(id: Int): String =
    s"""{"before": null, "after": {"entity_id": $id}}"""

  private var n = 0
  private def freshMem(): (String, InMemoryRedis) = {
    n += 1
    val name = s"spec$n"
    InMemoryRedis.reset(name)
    (s"mem://$name", InMemoryRedis.named(name))
  }

  private def ckpt(): String =
    java.nio.file.Files.createTempDirectory("graft-redis-ckpt").toString

  private val routes = Seq(
    ("catalog_category_entity", "entity_id", "catalog_product_flat"),
    ("catalog_category_entity", "entity_id", "catalog_category_product"))

  test("RedisId orders numerically, not lexicographically") {
    assert(RedisId.parse("9-1") < RedisId.parse("10-0"))
    assert(RedisId.parse("2-9") < RedisId.parse("2-10"))
    assert(RedisId.parse("5") == RedisId(5, 0))
    assert(RedisId.parse("3-7").toString == "3-7")
  }

  test("RedisId's UTF-8 bytes, the source's id column, are its toString's") {
    val edges = Seq(0L, 1L, 9L, 10L, 99L, 100L, 1700000000000L, Long.MaxValue, Long.MinValue,
      Long.MinValue + 9, -10L, -1L)
    val r = new scala.util.Random(11)
    val ids = (for (ms <- edges; seq <- edges) yield RedisId(ms, seq)) ++
      Seq.fill(1000)(RedisId(r.nextLong(), r.nextLong())) ++
      Seq.fill(1000)(RedisId(r.nextLong() >>> r.nextInt(64), r.nextLong() >>> r.nextInt(64)))
    for (id <- ids) assert(new String(id.utf8, "UTF-8") == id.toString)
    assert(new String(RedisId.Max.utf8, "UTF-8") == "18446744073709551615-18446744073709551615")
  }

  test("RedisOffset json round-trips, including quoted/escaped stream names") {
    val o = RedisOffset(Map("m2.m2.catalog_product_entity" -> RedisId(12, 3),
      """we"ird\name""" -> RedisId(1, 0)))
    assert(RedisOffset.parse(o.json()) == o)
    assert(RedisOffset.parse("{}") == RedisOffset(Map.empty))
    // the WAL form is fixed: checkpointed offsets must keep resuming
    val wal = """{"m2.m2.catalog_product_entity":"12-3","we\"ird\\name":"1-0"}"""
    assert(o.json() == wal)
    assert(RedisOffset.parse(wal) == o)
  }

  test("reads incrementally; CDC plane runs on top; delete-mode commit XDELs") {
    val (url, mem) = freshMem()
    val stream = "m2.catalog_category_entity"
    // canonical 1,2,1,2 dedupe fixture (WatchTests.java:96-157's shape)
    Seq(1, 2, 1, 2).foreach(i => mem.xadd(stream, Seq("v" -> envelope(i))))

    val records = spark.readStream.format("graft-redis")
      .option("url", url).option("streams", stream)
      .option("prefix", "m2.").option("acknowledge", "delete").load()
    val out = scala.collection.mutable.ArrayBuffer[(String, String)]()
    val q = records.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val rows = CdcPipeline.run(batch, routes.toDF("table", "column", "target"),
            maxBatch = 1000)
          .select("target", "ids").collect()
          .map(r => (r.getString(0), r.getString(1)))
        out.synchronized { out ++= rows }
        ()
      }
      .option("checkpointLocation", ckpt())
      .start()
    try {
      q.processAllAvailable()
      val afterFirst = out.synchronized(out.toSeq)
      assert(afterFirst.toSet == Set(
        ("catalog_product_flat", "[1,2]"), ("catalog_category_product", "[1,2]")))

      // later entries are picked up incrementally with their own window
      Seq(2, 3, 3).foreach(i => mem.xadd(stream, Seq("v" -> envelope(i))))
      q.processAllAvailable()
      val afterSecond = out.synchronized(out.toSeq).diff(afterFirst)
      assert(afterSecond.toSet == Set(
        ("catalog_product_flat", "[2,3]"), ("catalog_category_product", "[2,3]")))

      // epoch N's XACK+XDEL fires when epoch N+1 executes (the reference's
      // delayed-ack shape, A1) — batch 1 must have trimmed batch 0's 4 ids
      val deadline = System.currentTimeMillis() + 10000
      while (System.currentTimeMillis() < deadline && mem.xlen(stream) > 3)
        Thread.sleep(100)
      assert(mem.xlen(stream) == 3L, "acked epoch-0 entries not XDELed")
    } finally q.stop()
  }

  test("simple mode XACKs into the group but retains entries") {
    val (url, mem) = freshMem()
    val stream = "t"
    val ids = (1 to 3).map(i => mem.xadd(stream, Seq("v" -> envelope(i))))
    val records = spark.readStream.format("graft-redis")
      .option("url", url).option("streams", stream).option("group", "g1").load()
    val q = records.writeStream
      .foreachBatch { (_: org.apache.spark.sql.DataFrame, _: Long) => () }
      .option("checkpointLocation", ckpt())
      .start()
    try {
      q.processAllAvailable()
      mem.xadd(stream, Seq("v" -> envelope(9))) // trigger the next epoch
      q.processAllAvailable()
      val deadline = System.currentTimeMillis() + 10000
      while (System.currentTimeMillis() < deadline &&
             !ids.toSet.subsetOf(mem.ackedIds(stream, "g1"))) Thread.sleep(100)
      assert(ids.toSet.subsetOf(mem.ackedIds(stream, "g1")), "epoch 0 not XACKed")
      assert(mem.xlen(stream) == 4L, "simple mode must not XDEL")
    } finally q.stop()
  }

  test("an acknowledge option other than simple or delete is rejected when the query is defined") {
    val (url, _) = freshMem()
    val e = intercept[IllegalArgumentException](spark.readStream.format("graft-redis")
      .option("url", url).option("streams", "t").option("acknowledge", "Delete").load())
    assert(e.getMessage.contains("option 'acknowledge' must be simple or delete, got 'Delete'"),
      e.getMessage)
  }

  test("maxRecordsPerTrigger caps each micro-batch") {
    val (url, mem) = freshMem()
    (1 to 4).foreach(i => mem.xadd("t", Seq("v" -> envelope(i))))
    val records = spark.readStream.format("graft-redis")
      .option("url", url).option("streams", "t")
      .option("maxRecordsPerTrigger", "1").load()
    val batchSizes = scala.collection.mutable.ArrayBuffer[Long]()
    val q = records.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val c = batch.count()
        batchSizes.synchronized { if (c > 0) batchSizes += c }
        ()
      }
      .option("checkpointLocation", ckpt())
      .start()
    try q.processAllAvailable() finally q.stop()
    assert(batchSizes.synchronized(batchSizes.toSeq) == Seq(1L, 1L, 1L, 1L))
  }

  test("wire format detected per record: compact and extended in one stream") {
    val (url, mem) = freshMem()
    mem.xadd("s", Seq("payload" -> envelope(1))) // compact: 1 field, any name
    mem.xadd("s", Seq("key" -> """{"k":1}""", "value" -> envelope(2))) // extended
    val records = spark.readStream.format("graft-redis")
      .option("url", url).option("streams", "s").load()
    val seen = scala.collection.mutable.ArrayBuffer[(String, String)]()
    val q = records.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val rows = batch.select("table", "envelope").collect()
          .map(r => (r.getString(0), r.getString(1)))
        seen.synchronized { seen ++= rows }
        ()
      }
      .option("checkpointLocation", ckpt())
      .start()
    try q.processAllAvailable() finally q.stop()
    assert(seen.synchronized(seen.toSeq) ==
      Seq(("s", envelope(1)), ("s", envelope(2))))
  }

  test("multiple streams fan in; ids keep Redis ms-seq form; numeric order") {
    val (url, mem) = freshMem()
    // explicit ids force the "10-0" > "9-0" numeric-vs-string trap
    (1L to 10L).foreach(ms =>
      mem.xadd("a", Seq("v" -> envelope(ms.toInt)), Some(RedisId(ms, 0))))
    mem.xadd("b", Seq("v" -> envelope(99)), Some(RedisId(5, 2)))
    // a dotted Debezium name: only the leading prefix is stripped
    mem.xadd("m2.m2.catalog_category_entity", Seq("v" -> envelope(7)), Some(RedisId(3, 0)))
    val records = spark.readStream.format("graft-redis")
      .option("url", url).option("streams", "a, b, m2.m2.catalog_category_entity")
      .option("prefix", "m2.").load()
    val seen = scala.collection.mutable.ArrayBuffer[(String, String)]()
    val q = records.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val rows = batch.select("table", "id").collect()
          .map(r => (r.getString(0), r.getString(1)))
        seen.synchronized { seen ++= rows }
        ()
      }
      .option("checkpointLocation", ckpt())
      .start()
    try q.processAllAvailable() finally q.stop()
    val byStream = seen.synchronized(seen.toSeq).groupBy(_._1)
    assert(byStream("a").map(_._2) == (1L to 10L).map(ms => s"$ms-0"))
    assert(byStream("b").map(_._2) == Seq("5-2"))
    assert(byStream("m2.catalog_category_entity").map(_._2) == Seq("3-0"))
    assert(byStream.keySet == Set("a", "b", "m2.catalog_category_entity"))
  }

  test("restart resumes from the checkpointed offset, no reprocessing") {
    val (url, mem) = freshMem()
    val cp = ckpt()
    (1 to 2).foreach(i => mem.xadd("t", Seq("v" -> envelope(i))))
    val seen = scala.collection.mutable.ArrayBuffer[String]()
    def run(): Unit = {
      val records = spark.readStream.format("graft-redis")
        .option("url", url).option("streams", "t").load()
      val q = records.writeStream
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          val rows = batch.select("id").collect().map(_.getString(0))
          seen.synchronized { seen ++= rows }
          ()
        }
        .option("checkpointLocation", cp)
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    run()
    val first = seen.synchronized(seen.toSeq)
    assert(first.size == 2)
    mem.xadd("t", Seq("v" -> envelope(3)))
    run()
    val second = seen.synchronized(seen.toSeq).diff(first)
    assert(second.size == 1, s"restart must deliver only the new entry, got $second")
  }

  // watch always caps the source (buffers.source.size); a restarted capped
  // query must plan from the checkpointed offset, not rescan from 0-0
  Seq("simple", "delete").foreach { mode =>
    test(s"capped source resumes from the checkpointed offset on restart ($mode)") {
      val (url, mem) = freshMem()
      val cp = ckpt()
      val first = (1 to 5).map(i => mem.xadd("t", Seq("v" -> envelope(i))))
      val seen = scala.collection.mutable.ArrayBuffer[String]()
      def run(): Unit = {
        val records = spark.readStream.format("graft-redis")
          .option("url", url).option("streams", "t").option("acknowledge", mode)
          .option("maxRecordsPerTrigger", "2").load()
        val q = records.writeStream
          .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
            val rows = batch.select("id").collect().map(_.getString(0))
            seen.synchronized { seen ++= rows }
            ()
          }
          .option("checkpointLocation", cp)
          .start()
        try q.processAllAvailable() finally q.stop()
      }
      run()
      assert(seen.synchronized(seen.toSeq) == first.map(_.toString))
      val added = mem.xadd("t", Seq("v" -> envelope(6)))
      run()
      assert(seen.synchronized(seen.toSeq).drop(5) == Seq(added.toString),
        "restart must deliver exactly the new entry")
    }
  }

  /** A source over `streams` with `parallelism` partitions per epoch, as
    * `toMicroBatchStream` makes it with the session's
    * leafNodeDefaultParallelism. */
  private def streamOver(url: String, streams: Seq[String], parallelism: Int,
                         prefix: String = ""): RedisStreamsStream =
    new RedisStreamsStream(RedisStreamsConfig(url, streams, "g", prefix, "simple",
      maxRecordsPerTrigger = 1000), parallelism)

  private def ranges(ps: Array[InputPartition]) =
    ps.toSeq.map(_.asInstanceOf[RedisStreamPartition].ranges)

  /** (table, id, envelope) of every row of each partition, read as an
    * executor reads it. */
  private def rows(src: RedisStreamsStream,
                   ps: Array[InputPartition]) =
    ps.toSeq.map { p =>
      val r = src.createReaderFactory().createReader(p)
      try Iterator.continually(r.next()).takeWhile(identity).map { _ =>
        val row = r.get()
        (row.getUTF8String(1).toString, row.getUTF8String(0).toString,
          row.getUTF8String(2).toString)
      }.toList
      finally r.close()
    }

  /** Stream i of `streams` holds `size(i)` entries, enveloping i * 1000 + k. */
  private def fill(mem: InMemoryRedis, streams: Seq[String])(size: Int => Int): Unit =
    streams.zipWithIndex.foreach { case (s, i) =>
      (1 to size(i)).foreach(k => mem.xadd(s, Seq("v" -> envelope(i * 1000 + k))))
    }

  test("24 streams at parallelism 2: each range in exactly one partition") {
    val (url, mem) = freshMem()
    val streams = (1 to 24).map(i => s"s$i")
    val size = (i: Int) => 1 + (i * 37) % 50
    fill(mem, streams)(size)
    val src = streamOver(url, streams, parallelism = 2)
    try {
      val start = src.initialOffset()
      val end = src.latestOffset(start, src.getDefaultReadLimit)
      val ps = src.planInputPartitions(start, end)
      val bins = ranges(ps)
      assert(bins.map(_.size) == Seq(12, 12))
      assert(bins.flatten.map(_.stream).sorted == streams.sorted)
      bins.flatten.foreach(r => assert(r.fromExclusive == RedisId.Zero &&
        end.asInstanceOf[RedisOffset].ends(r.stream) == r.toInclusive))
      assert(rows(src, ps).flatten.map(_._3).sorted == streams.indices.flatMap(i =>
        (1 to size(i)).map(k => envelope(i * 1000 + k))).sorted)
    } finally src.stop()
  }

  test("packed partitions read the per-stream rows, each tagged with its own table") {
    val (url, mem) = freshMem()
    val streams = Seq("m2.a", "m2.m2.catalog_category_entity", "b", "m2.c", "m2.d")
    fill(mem, streams)(i => 3 + i)
    def read(parallelism: Int) = {
      val src = streamOver(url, streams, parallelism, prefix = "m2.")
      try {
        val start = src.initialOffset()
        rows(src, src.planInputPartitions(start, src.latestOffset(start, src.getDefaultReadLimit)))
      } finally src.stop()
    }
    val perStream = read(parallelism = streams.size)
    assert(perStream.size == streams.size)
    val packed = read(parallelism = 2)
    assert(packed.size == 2)
    assert(packed.flatten.groupBy(_._1) == perStream.flatten.groupBy(_._1))
    val tables = Seq("a", "m2.catalog_category_entity", "b", "c", "d")
    assert(packed.flatten.map(_._1).distinct.sorted == tables.sorted)
    tables.zipWithIndex.foreach { case (t, i) =>
      assert(packed.flatten.filter(_._1 == t).map(_._3) ==
        (1 to 3 + i).map(k => envelope(i * 1000 + k)), t)
    }
  }

  test("fewer streams than parallelism: one partition per stream, in stream order") {
    val (url, mem) = freshMem()
    val streams = Seq("x", "y", "z")
    fill(mem, streams)(i => 10 - 3 * i)
    val src = streamOver(url, streams, parallelism = 4)
    try {
      val start = src.initialOffset()
      val bins = ranges(src.planInputPartitions(start,
        src.latestOffset(start, src.getDefaultReadLimit)))
      assert(bins.map(_.map(_.stream)) == Seq(Seq("x"), Seq("y"), Seq("z")))
    } finally src.stop()
  }

  test("integration: same pipeline against a real server (REDIS_URL gate)") {
    val url = sys.env.getOrElse("REDIS_URL", "")
    assume(url.startsWith("redis://"), "REDIS_URL not set; integration skipped")
    val conn = RedisConn.open(url)
    val stream = s"graft-it-${System.nanoTime()}"
    try {
      Seq(1, 2, 1, 2).foreach(i => conn.xadd(stream, Seq("v" -> envelope(i))))
      assert(conn.xlen(stream) == 4L)
      val records = spark.readStream.format("graft-redis")
        .option("url", url).option("streams", stream)
        .option("acknowledge", "delete").load()
      val out = scala.collection.mutable.ArrayBuffer[String]()
      val q = records.writeStream
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          val rows = batch.select("envelope").collect().map(_.getString(0))
          out.synchronized { out ++= rows }
          ()
        }
        .option("checkpointLocation", ckpt())
        .start()
      try {
        q.processAllAvailable()
        assert(out.synchronized(out.toSeq) == Seq(1, 2, 1, 2).map(envelope))
        conn.xadd(stream, Seq("v" -> envelope(5)))
        q.processAllAvailable()
        val deadline = System.currentTimeMillis() + 10000
        while (System.currentTimeMillis() < deadline && conn.xlen(stream) > 1)
          Thread.sleep(100)
        assert(conn.xlen(stream) == 1L, "delete-mode retention on real server")
      } finally q.stop()
    } finally {
      conn.xdel(stream, conn.xrange(stream, RedisId.Zero,
        RedisId(-1L, -1L), Int.MaxValue).map(_._1))
      conn.close()
    }
  }
}
