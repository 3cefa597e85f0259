package graft.sources

import graft.TestSpark
import java.nio.charset.StandardCharsets.UTF_8
import org.apache.spark.sql.connector.read.streaming.Offset
import org.scalatest.funsuite.AnyFunSuite

/** Byte-level coverage of the RESP2 socket client ([[RespRedis]]) against
  * [[RespServerFake]] over a real loopback TCP socket — always-on (the
  * REDIS_URL-gated integration test was permanently skipped in CI because
  * the sandbox ships no redis-server, leaving the production socket path
  * with zero exercised lines). Every reply type the client parses and
  * every command it serializes crosses the wire here.
  */
class RespRedisSocketSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def withServer(f: (RespServerFake, RedisConn) => Unit): Unit = {
    val srv = new RespServerFake
    try {
      val conn = RedisConn.open(srv.url)
      try f(srv, conn) finally conn.close()
    } finally srv.close()
  }

  test("XADD auto-id + XLEN + XREVRANGE latest round-trip") {
    withServer { (_, c) =>
      assert(c.xlatestId("s").isEmpty) // empty-array reply path
      val id1 = c.xadd("s", Seq("k" -> "v1"))
      val id2 = c.xadd("s", Seq("k" -> "v2"))
      assert(id1 < id2)
      assert(c.xlen("s") == 2L) // integer reply path
      assert(c.xlatestId("s").contains(id2))
    }
  }

  test("XADD explicit id, and -ERR on a non-monotonic id raises RedisError") {
    withServer { (_, c) =>
      val id = c.xadd("s", Seq("k" -> "v"), Some(RedisId(5, 1)))
      assert(id == RedisId(5, 1))
      val e = intercept[RespRedis.RedisError] {
        c.xadd("s", Seq("k" -> "v"), Some(RedisId(5, 1)))
      }
      assert(e.getMessage.startsWith("ERR"))
    }
  }

  test("XRANGE: exclusive start, inclusive end, COUNT cap, field maps") {
    withServer { (_, c) =>
      val ids = (1 to 5).map(i =>
        c.xadd("s", Seq("a" -> s"x$i", "b" -> s"y$i")))
      val all = c.xrange("s", RedisId.Zero, RedisId(-1L, -1L), 100)
      assert(all.map(_._1) == ids)
      assert(all.head._2 == Map("a" -> "x1", "b" -> "y1"))
      // start is EXCLUSIVE: after ids(1) -> ids(2..)
      val tail = c.xrange("s", ids(1), RedisId(-1L, -1L), 100)
      assert(tail.map(_._1) == ids.drop(2))
      // end is INCLUSIVE and COUNT caps
      val win = c.xrange("s", ids(0), ids(3), 2)
      assert(win.map(_._1) == ids.slice(1, 3))
    }
  }

  test("bulk payloads with CRLF, UTF-8 multibyte, and empty values survive") {
    withServer { (_, c) =>
      // length-prefixed bulk strings must carry these verbatim; a
      // line-oriented parser would corrupt all three
      val nasty = Seq("crlf" -> "a\r\nb\r\n", "uni" -> "héllo→世界", "empty" -> "")
      val id = c.xadd("s", nasty)
      val got = c.xrange("s", RedisId.Zero, RedisId(-1L, -1L), 10)
      assert(got == Seq(id -> nasty.toMap))
    }
  }

  test("XGROUP CREATE is idempotent through the BUSYGROUP swallow") {
    withServer { (_, c) =>
      c.xgroupCreate("s", "g", RedisId.Zero)
      c.xgroupCreate("s", "g", RedisId.Zero) // server replies -BUSYGROUP
    }
  }

  test("XACK counts newly-acked only; XDEL trims") {
    withServer { (_, c) =>
      val ids = (1 to 3).map(i => c.xadd("s", Seq("k" -> s"$i")))
      c.xgroupCreate("s", "g", RedisId.Zero)
      assert(c.xack("s", "g", ids.take(2)) == 2L)
      assert(c.xack("s", "g", ids) == 1L) // 2 already acked
      assert(c.xack("s", "g", Seq.empty) == 0L) // client short-circuits
      assert(c.xdel("s", ids.take(1)) == 1L)
      assert(c.xlen("s") == 2L)
    }
  }

  private def utf8(es: Seq[(RedisId, Array[Byte])]): Seq[(RedisId, String)] =
    es.map { case (id, b) => id -> new String(b, UTF_8) }

  test("reply walker: a body larger than the read buffer spans refills") {
    withServer { (_, c) =>
      val big = "é" * 70000 + "x" * 100000 // 240,000 bytes, > 64 KiB
      val ids = Seq("small1", big, "small2").map(v => c.xadd("s", Seq("v" -> v)))
      val all = c.xrange("s", RedisId.Zero, RedisId.Max, 10)
      assert(all == ids.zip(Seq("small1", big, "small2")).map { case (id, v) => id -> Map("v" -> v) })
      assert(utf8(c.xrangeEnvelopes("s", RedisId.Zero, RedisId.Max, 10)) ==
        all.map { case (id, kv) => id -> kv("v") })
      assert(c.xrangeIds("s", RedisId.Zero, RedisId.Max, 10) == ids)
      assert(c.xlen("s") == 3L) // the reader is aligned on the next reply
    }
  }

  test("reply walker: a multi-byte UTF-8 envelope comes back byte-identical") {
    withServer { (_, c) =>
      val envelope = """{"before":null,"after":{"name":"héllo→世界 🚀","crlf":"a\r\nb"}}"""
      val id = c.xadd("s", Seq("key" -> """{"id":1}""", "value" -> envelope))
      val Seq((gotId, bytes)) = c.xrangeEnvelopes("s", RedisId.Zero, RedisId.Max, 10)
      assert(gotId == id)
      assert(bytes.sameElements(envelope.getBytes(UTF_8)))
    }
  }

  test("reply walker: xrangeIds equals the ids of xrange on the same range") {
    withServer { (_, c) =>
      val ids = (1 to 7).map(i => c.xadd("s", Seq("a" -> s"x$i", "b" -> ("y" * i))))
      for ((after, end, count) <- Seq((RedisId.Zero, RedisId.Max, 100),
          (ids(1), RedisId.Max, 100), (ids(0), ids(4), 100), (ids(2), RedisId.Max, 3)))
        assert(c.xrangeIds("s", after, end, count) ==
          c.xrange("s", after, end, count).map(_._1))
    }
  }

  test("reply walker: an empty range") {
    withServer { (_, c) =>
      assert(c.xrangeIds("s", RedisId.Zero, RedisId.Max, 10).isEmpty)
      assert(c.xrangeEnvelopes("s", RedisId.Zero, RedisId.Max, 10).isEmpty)
      val id = c.xadd("s", Seq("v" -> "e"))
      assert(c.xrange("s", id, RedisId.Max, 10).isEmpty)
      assert(c.xrangeIds("s", id, RedisId.Max, 10).isEmpty)
      assert(c.xrangeEnvelopes("s", id, RedisId.Max, 10).isEmpty)
    }
  }

  test("reply walker: an -ERR reply raises RedisError and leaves the connection usable") {
    withServer { (srv, c) =>
      val ids = (1 to 3).map(i => c.xadd("s", Seq("v" -> s"e$i")))
      val wrongType = "WRONGTYPE Operation against a key holding the wrong kind of value"
      srv.failNext("XRANGE", wrongType)
      val e1 = intercept[RespRedis.RedisError](c.xrangeEnvelopes("s", RedisId.Zero, RedisId.Max, 10))
      assert(e1.getMessage == wrongType)
      srv.failNext("XRANGE", "ERR boom")
      intercept[RespRedis.RedisError](c.xrangeIds("s", RedisId.Zero, RedisId.Max, 10))
      srv.failNext("XACK", "ERR boom")
      intercept[RespRedis.RedisError](c.xack("s", "g", ids))
      assert(c.xrangeIds("s", RedisId.Zero, RedisId.Max, 10) == ids)
      assert(utf8(c.xrangeEnvelopes("s", RedisId.Zero, RedisId.Max, 10)).map(_._2) ==
        Seq("e1", "e2", "e3"))
    }
  }

  test("reply walker: compact and extended bodies, as the in-memory default reads them") {
    withServer { (srv, c) =>
      val bodies = Seq(
        Seq("payload" -> "e1"), // compact: the only field, any name
        Seq("key" -> """{"k":2}""", "value" -> "e2"), // extended
        Seq("value" -> "e3", "key" -> """{"k":3}"""), // extended, value first
        Seq("value" -> "e4"), // compact named value
        Seq("key" -> "", "value" -> "", "op" -> "c")) // extended, empty envelope
      val ids = bodies.map(b => c.xadd("s", b))
      val want = ids.zip(Seq("e1", "e2", "e3", "e4", ""))
      assert(utf8(c.xrangeEnvelopes("s", RedisId.Zero, RedisId.Max, 10)) == want)
      assert(utf8(srv.mem.xrangeEnvelopes("s", RedisId.Zero, RedisId.Max, 10)) == want)

      val bad = c.xadd("s", Seq("key" -> """{"k":6}""", "payload" -> "e6"))
      c.xadd("s", Seq("v" -> "e7"))
      for (conn <- Seq(c, srv.mem)) {
        val e = intercept[IllegalStateException](
          conn.xrangeEnvelopes("s", RedisId.Zero, RedisId.Max, 10))
        assert(e.getMessage == s"extended-format entry $bad in s lacks a 'value' field")
      }
      assert(c.xlen("s") == 7L) // the failed reply was read to its end
    }
  }

  test("capped epochs: commit() issues no XRANGE and acks exactly the committed ids") {
    withServer { (srv, c) =>
      val streams = Seq("a", "b")
      val ids = streams.map(s => s -> (1 to 5).map(i => c.xadd(s, Seq("v" -> s"$s$i")))).toMap
      val cfg = RedisStreamsConfig(srv.url, streams, "g", "", "simple", maxRecordsPerTrigger = 2)
      def xranges[A](f: => A): (A, Long) = {
        val before = srv.count("XRANGE")
        val a = f
        (a, srv.count("XRANGE") - before)
      }
      // one core: both streams' ranges share one partition
      val source = new RedisStreamsStream(cfg, parallelism = 1)
      def read(start: Offset, end: Offset): Seq[String] =
        source.planInputPartitions(start, end).toSeq.flatMap { p =>
          val r = source.createReaderFactory().createReader(p)
          try Iterator.continually(r.next()).takeWhile(identity)
            .map(_ => r.get().getUTF8String(2).toString).toList
          finally r.close()
        }
      def acked: Map[String, Set[RedisId]] = streams.map(s => s -> srv.mem.ackedIds(s, "g")).toMap
      try {
        // Spark's order: plan epoch N, commit epoch N-1, run epoch N
        val start = source.initialOffset()
        val (end1, plan1) = xranges(source.latestOffset(start, source.getDefaultReadLimit))
        assert(plan1 == 2L) // one XRANGE per stream
        assert(source.planInputPartitions(start, end1).length == 1)
        val connections = srv.connections
        val (rows1, read1) = xranges(read(start, end1))
        assert(rows1.sorted == Seq("a1", "a2", "b1", "b2") && read1 == 2L) // one per stream range
        assert(srv.connections - connections == 1L) // the packed partition's one connection
        val (end2, plan2) = xranges(source.latestOffset(end1, source.getDefaultReadLimit))
        assert(plan2 == 2L)
        assert(xranges(source.commit(end1))._2 == 0L)
        assert(acked == ids.map { case (s, is) => s -> is.take(2).toSet })
        val (rows2, read2) = xranges(read(end1, end2))
        assert(rows2.sorted == Seq("a3", "a4", "b3", "b4") && read2 == 2L)
        assert(xranges(source.commit(end2))._2 == 0L)
        assert(acked == ids.map { case (s, is) => s -> is.take(4).toSet })
      } finally source.stop()

      // a restarted source has no planned ids: it pages the ids instead
      val restarted = new RedisStreamsStream(cfg, parallelism = 1)
      try {
        val end = RedisOffset(ids.map { case (s, is) => s -> is(4) })
        assert(xranges(restarted.commit(end))._2 == 2L)
        assert(acked == ids.map { case (s, is) => s -> is.toSet })
      } finally restarted.stop()
    }
  }

  test("a /<db> url SELECTs that database before the first command; writes land only there") {
    withServer { (srv, c0) =>
      val c1 = RedisConn.open(srv.url + "/1")
      try {
        assert(srv.count("SELECT") == 1L && srv.count("XADD") == 0L)
        c1.xadd("s", Seq("k" -> "v"))
        assert(srv.db(1).xlen("s") == 1L)
        assert(srv.mem.xlen("s") == 0L && c0.xlen("s") == 0L)
        assert(c1.xlen("s") == 1L)
      } finally c1.close()
    }
  }

  test("a url without a db, or with db 0, sends no SELECT") {
    withServer { (srv, c) =>
      val c0 = RedisConn.open(srv.url + "/0")
      try {
        c.xadd("s", Seq("k" -> "v"))
        assert(c0.xlen("s") == 1L)
      } finally c0.close()
      assert(srv.count("SELECT") == 0L)
    }
  }

  test("a non-numeric db is an IllegalArgumentException naming the url") {
    val e = intercept[IllegalArgumentException](RedisConn.open("redis://127.0.0.1:6379/one"))
    assert(e.getMessage == "bad redis url: redis://127.0.0.1:6379/one")
  }

  test("two concurrent connections share server state") {
    withServer { (srv, c1) =>
      val c2 = RedisConn.open(srv.url)
      try {
        val id = c1.xadd("s", Seq("k" -> "v"))
        assert(c2.xlatestId("s").contains(id))
        c2.xadd("s", Seq("k" -> "w"))
        assert(c1.xlen("s") == 2L)
      } finally c2.close()
    }
  }

  test("integration: full streaming source pipeline over the socket " +
    "(delete-mode retention), no REDIS_URL gate") {
    withServer { (srv, conn) =>
      def envelope(i: Int) = s"""{"before": null, "after": {"k": $i}}"""
      val stream = "graft-it-sock"
      Seq(1, 2, 3, 4).foreach(i => conn.xadd(stream, Seq("v" -> envelope(i))))
      assert(conn.xlen(stream) == 4L)
      val records = spark.readStream.format("graft-redis")
        .option("url", srv.url).option("streams", stream)
        .option("acknowledge", "delete").load()
      val out = scala.collection.mutable.ArrayBuffer[String]()
      val cp = java.nio.file.Files
        .createTempDirectory("resp-sock-ckpt").toString
      val q = records.writeStream
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          val rows = batch.select("envelope").collect().map(_.getString(0))
          out.synchronized { out ++= rows }
          ()
        }
        .option("checkpointLocation", cp)
        .start()
      try {
        q.processAllAvailable()
        assert(out.synchronized(out.toSeq) == Seq(1, 2, 3, 4).map(envelope))
        conn.xadd(stream, Seq("v" -> envelope(5)))
        q.processAllAvailable()
        assert(out.synchronized(out.size) == 5)
        // delete-mode retention: acked+committed entries trimmed via the
        // socket XDEL path (the newest entry may remain uncommitted)
        val deadline = System.currentTimeMillis() + 10000
        while (System.currentTimeMillis() < deadline && conn.xlen(stream) > 1)
          Thread.sleep(100)
        assert(conn.xlen(stream) <= 1L, "delete-mode retention over RESP2")
      } finally q.stop()
    }
  }
}
