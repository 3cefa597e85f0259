package graft.sources

import java.io.{BufferedOutputStream, InputStream}
import java.net.Socket
import java.nio.charset.StandardCharsets.UTF_8

/** A Redis stream entry id, `ms-seq` (two unsigned-ish longs). String order
  * is NOT entry order ("10-0" < "9-0" lexicographically) — all offset math
  * goes through this numeric ordering, mirroring Redis's RecordId total
  * order per stream (the reference keys its in-flight ack countdowns on it,
  * WatchStream.java:233-242).
  */
final case class RedisId(ms: Long, seq: Long) extends Ordered[RedisId] {
  override def compare(that: RedisId): Int = {
    val c = java.lang.Long.compareUnsigned(ms, that.ms)
    if (c != 0) c else java.lang.Long.compareUnsigned(seq, that.seq)
  }
  override def toString: String = s"${java.lang.Long.toUnsignedString(ms)}-" +
    java.lang.Long.toUnsignedString(seq)
}

object RedisId {
  val Zero: RedisId = RedisId(0L, 0L)
  /** The largest id, `18446744073709551615-18446744073709551615`: the
    * open end of a range read. */
  val Max: RedisId = RedisId(-1L, -1L)
  def parse(s: String): RedisId = s.split("-") match {
    case Array(ms, seq) => RedisId(java.lang.Long.parseUnsignedLong(ms),
      java.lang.Long.parseUnsignedLong(seq))
    case Array(ms) => RedisId(java.lang.Long.parseUnsignedLong(ms), 0L)
    case _ => throw new IllegalArgumentException(s"bad redis id: $s")
  }
}

/** The handful of Redis Streams commands the connector needs — the exact
  * command surface of the reference (`XREADGROUP`-equivalent range reads,
  * group attach, `XACK`, conditional `XDEL`: RedisSource.java:72-93,
  * WatchStream.java:193-220). Kept minimal so the in-memory fake is a
  * complete, honest implementation rather than a mock.
  *
  * Connections are cheap single-use handles: the driver opens one for
  * offset planning/commit, every partition reader opens its own (an
  * executor cannot share the driver's socket).
  */
trait RedisConn extends AutoCloseable {
  /** Idempotent `XGROUP CREATE <stream> <group> <from> MKSTREAM` —
    * BUSYGROUP (already exists) is swallowed like the reference's attach
    * (RedisSource.java:73-78).
    */
  def xgroupCreate(stream: String, group: String, from: RedisId): Unit

  /** Entries with `afterExclusive < id <= endInclusive`, at most `count`,
    * in id order: `XRANGE <stream> (<after> <end> COUNT <count>`.
    * Deterministic range replay is what lets a Spark micro-batch re-read
    * the same (start, end] after a failure — the consumer-group PEL's job
    * in the reference is done by the offset WAL here.
    */
  def xrange(stream: String, afterExclusive: RedisId, endInclusive: RedisId,
             count: Int): Seq[(RedisId, Map[String, String])]

  /** The same range as [[xrange]], each entry reduced to its Debezium
    * envelope's UTF-8 bytes by [[RedisConn.isEnvelopeField]]; an entry with
    * no envelope field fails the read with [[RedisConn.noEnvelope]].
    */
  def xrangeEnvelopes(stream: String, afterExclusive: RedisId, endInclusive: RedisId,
                      count: Int): IndexedSeq[(RedisId, Array[Byte])] =
    xrange(stream, afterExclusive, endInclusive, count).iterator.map { case (id, body) =>
      body.collectFirst {
        case (k, v) if RedisConn.isEnvelopeField(body.size, k == "value") => id -> v.getBytes(UTF_8)
      }.getOrElse(throw RedisConn.noEnvelope(stream, id))
    }.toIndexedSeq

  /** The ids of the same range as [[xrange]]. Redis has no id-only range
    * command, so the bodies still cross the wire; the client skips them.
    */
  def xrangeIds(stream: String, afterExclusive: RedisId, endInclusive: RedisId,
                count: Int): IndexedSeq[RedisId] =
    xrange(stream, afterExclusive, endInclusive, count).iterator.map(_._1).toIndexedSeq

  /** Highest id present, `XREVRANGE <stream> + - COUNT 1`; None if empty. */
  def xlatestId(stream: String): Option[RedisId]

  /** `XACK <stream> <group> <ids...>` — idempotent; returns #newly acked. */
  def xack(stream: String, group: String, ids: Seq[RedisId]): Long

  /** `XDEL <stream> <ids...>` — the delete-mode retention trim (A6). */
  def xdel(stream: String, ids: Seq[RedisId]): Long

  /** `XADD <stream> <id|*> <k v ...>` — used by tests and upstream writers. */
  def xadd(stream: String, body: Seq[(String, String)],
           id: Option[RedisId] = None): RedisId

  /** Entry count, `XLEN` — spec assertions for retention trimming. */
  def xlen(stream: String): Long
}

object RedisConn {
  /** The reference's per-record wire-format detection
    * (RedisSource.java:58-62): a field of an entry with `fields` fields
    * carries the envelope if it is the only field (compact) or its key is
    * `value` (extended). An entry's envelope is its first such field.
    */
  def isEnvelopeField(fields: Int, keyIsValue: Boolean): Boolean = fields == 1 || keyIsValue

  def noEnvelope(stream: String, id: RedisId): IllegalStateException =
    new IllegalStateException(s"extended-format entry $id in $stream lacks a 'value' field")

  /** `mem://<name>` → shared JVM-local fake (CI; one instance per name);
    * `redis://host[:port][/db]` → RESP2 socket client (production/integration)
    * on database `db` (default 0).
    */
  def open(url: String): RedisConn = url match {
    case s if s.startsWith("mem://") => InMemoryRedis.named(s.stripPrefix("mem://"))
    case s if s.startsWith("redis://") =>
      def bad = new IllegalArgumentException(s"bad redis url: $url")
      val (hp, db) = s.stripPrefix("redis://").split("/", -1) match {
        case Array(hp) => (hp, 0)
        case Array(hp, "") => (hp, 0)
        case Array(hp, db) => (hp, db.toIntOption.getOrElse(throw bad))
        case _ => throw bad
      }
      val (host, port) = hp.split(":") match {
        case Array(h, p) => (h, p.toIntOption.getOrElse(throw bad))
        case Array(h) => (h, 6379)
        case _ => throw bad
      }
      new RespRedis(host, port, db)
    case _ => throw new IllegalArgumentException(
      s"unsupported redis url (want mem:// or redis://): $url")
  }
}

/** Complete in-memory Redis Streams fake — real data structures (sorted
  * entry log per stream, per-group ack sets), not canned responses, so the
  * connector's offset/commit/retention logic is exercised for real in CI
  * where no Redis server exists. JVM-global by name: local-mode executors
  * and the driver resolve `mem://x` to the same instance.
  */
final class InMemoryRedis private () extends RedisConn {
  import scala.jdk.CollectionConverters._
  private val streams =
    new java.util.concurrent.ConcurrentHashMap[String,
      java.util.concurrent.ConcurrentSkipListMap[RedisId, Map[String, String]]]()
  private val groups =
    new java.util.concurrent.ConcurrentHashMap[(String, String),
      java.util.concurrent.ConcurrentSkipListSet[RedisId]]()
  private val lastId = new java.util.concurrent.ConcurrentHashMap[String, RedisId]()

  private def log(stream: String) = streams.computeIfAbsent(stream,
    _ => new java.util.concurrent.ConcurrentSkipListMap[RedisId, Map[String, String]](
      Ordering[RedisId]))

  override def xgroupCreate(stream: String, group: String, from: RedisId): Unit = {
    log(stream)
    groups.computeIfAbsent((stream, group),
      _ => new java.util.concurrent.ConcurrentSkipListSet[RedisId](Ordering[RedisId]))
    ()
  }

  override def xrange(stream: String, afterExclusive: RedisId,
                      endInclusive: RedisId, count: Int): Seq[(RedisId, Map[String, String])] =
    log(stream).subMap(afterExclusive, false, endInclusive, true)
      .entrySet().iterator().asScala.take(count)
      .map(e => (e.getKey, e.getValue)).toSeq

  override def xlatestId(stream: String): Option[RedisId] =
    Option(log(stream).lastEntry()).map(_.getKey)

  override def xack(stream: String, group: String, ids: Seq[RedisId]): Long = {
    val g = groups.get((stream, group))
    require(g != null, s"NOGROUP $stream $group")
    ids.count(id => log(stream).containsKey(id) && g.add(id)).toLong
  }

  override def xdel(stream: String, ids: Seq[RedisId]): Long =
    ids.count(id => log(stream).remove(id) != null).toLong

  override def xadd(stream: String, body: Seq[(String, String)],
                    id: Option[RedisId]): RedisId = this.synchronized {
    val prev = lastId.getOrDefault(stream, RedisId.Zero)
    val next = id match {
      case Some(explicit) =>
        require(explicit > prev, s"XADD id $explicit <= last $prev")
        explicit
      case None => RedisId(prev.ms + 1, 0L) // deterministic logical clock
    }
    log(stream).put(next, body.toMap)
    lastId.put(stream, next)
    next
  }

  override def xlen(stream: String): Long = log(stream).size().toLong

  /** Ack-set view for spec assertions (the fake's PEL-completion analogue). */
  def ackedIds(stream: String, group: String): Set[RedisId] = {
    val g = groups.get((stream, group))
    if (g == null) Set.empty else g.iterator().asScala.toSet
  }

  override def close(): Unit = () // shared instance; nothing to release
}

object InMemoryRedis {
  private val registry =
    new java.util.concurrent.ConcurrentHashMap[String, InMemoryRedis]()
  def named(name: String): InMemoryRedis =
    registry.computeIfAbsent(name, _ => new InMemoryRedis())
  /** Drop an instance (test isolation between specs). */
  def reset(name: String): Unit = { registry.remove(name); () }
}

/** Minimal blocking RESP2 client over a plain socket — only the commands
  * in [[RedisConn]], no pooling, no pipelining (the connector's per-trigger
  * command volume is tiny; data-plane reads are batched by COUNT). Replies
  * are read through one [[RespReader]]: range replies are walked in place,
  * so an entry's id is parsed from the wire bytes, [[xrangeEnvelopes]]
  * copies out only the envelope and [[xrangeIds]] copies out no body byte.
  * Database `db` is SELECTed on connect when it is not 0, the server's
  * default. Protocol per the public Redis serialization spec.
  */
final class RespRedis(host: String, port: Int, db: Int = 0) extends RedisConn {
  private val socket = new Socket(host, port)
  socket.setTcpNoDelay(true)
  private val in = new RespReader(socket.getInputStream)
  private val out = new BufferedOutputStream(socket.getOutputStream)

  private def send[A](args: Seq[String])(read: RespReader => A): A = this.synchronized {
    out.write(s"*${args.size}\r\n".getBytes(UTF_8))
    args.foreach { a =>
      val b = a.getBytes(UTF_8)
      out.write(s"$$${b.length}\r\n".getBytes(UTF_8))
      out.write(b); out.write('\r'); out.write('\n')
    }
    out.flush()
    read(in)
  }

  private def call(args: String*): Any = send(args)(_.reply())

  if (db != 0)
    try call("SELECT", db.toString) catch { case e: Throwable => socket.close(); throw e }

  private def xrangeArgs(stream: String, afterExclusive: RedisId, endInclusive: RedisId,
                         count: Int): Seq[String] =
    Seq("XRANGE", stream, s"($afterExclusive", endInclusive.toString, "COUNT", count.toString)

  /** Walks an XRANGE/XREVRANGE reply: `entry` gets each entry's id and the
    * count of its field array, whose bulks it must consume. */
  private def entries[A](r: RespReader)(entry: (RedisId, Int) => A): IndexedSeq[A] = {
    val n = r.header('*').toInt
    val out = IndexedSeq.newBuilder[A]
    var i = 0
    while (i < n) {
      if (r.header('*') != 2) throw new IllegalStateException("bad stream entry: want [id, fields]")
      val id = r.id()
      out += entry(id, math.max(r.header('*').toInt, 0))
      i += 1
    }
    out.result()
  }

  override def xgroupCreate(stream: String, group: String, from: RedisId): Unit =
    try { call("XGROUP", "CREATE", stream, group, from.toString, "MKSTREAM"); () }
    catch { case e: RespRedis.RedisError if e.getMessage.startsWith("BUSYGROUP") => () }

  override def xrange(stream: String, afterExclusive: RedisId,
                      endInclusive: RedisId, count: Int): Seq[(RedisId, Map[String, String])] =
    send(xrangeArgs(stream, afterExclusive, endInclusive, count))(r => entries(r) { (id, n) =>
      id -> Map.from(Iterator.fill(n / 2)(r.string() -> r.string()))
    })

  override def xrangeEnvelopes(stream: String, afterExclusive: RedisId, endInclusive: RedisId,
                               count: Int): IndexedSeq[(RedisId, Array[Byte])] = {
    var missing: IllegalStateException = null
    val es = send(xrangeArgs(stream, afterExclusive, endInclusive, count))(r => entries(r) { (id, n) =>
      val fields = n / 2
      var envelope: Array[Byte] = null
      var i = 0
      while (i < fields) {
        val keyIsValue = r.bulkEquals(RespRedis.ValueKey)
        if (envelope == null && RedisConn.isEnvelopeField(fields, keyIsValue)) envelope = r.bulk()
        else r.skipBulk()
        i += 1
      }
      // the rest of the reply is still read, so the connection stays usable
      if (envelope == null && missing == null) missing = RedisConn.noEnvelope(stream, id)
      id -> envelope
    })
    if (missing != null) throw missing
    es
  }

  override def xrangeIds(stream: String, afterExclusive: RedisId, endInclusive: RedisId,
                         count: Int): IndexedSeq[RedisId] =
    send(xrangeArgs(stream, afterExclusive, endInclusive, count))(r =>
      entries(r) { (id, n) => r.skipBulks(n); id })

  override def xlatestId(stream: String): Option[RedisId] =
    send(Seq("XREVRANGE", stream, "+", "-", "COUNT", "1"))(r =>
      entries(r) { (id, n) => r.skipBulks(n); id }).headOption

  override def xack(stream: String, group: String, ids: Seq[RedisId]): Long =
    if (ids.isEmpty) 0L
    else call(Seq("XACK", stream, group) ++ ids.map(_.toString): _*).asInstanceOf[Long]

  override def xdel(stream: String, ids: Seq[RedisId]): Long =
    if (ids.isEmpty) 0L
    else call(Seq("XDEL", stream) ++ ids.map(_.toString): _*).asInstanceOf[Long]

  override def xadd(stream: String, body: Seq[(String, String)],
                    id: Option[RedisId]): RedisId = {
    val args = Seq("XADD", stream, id.map(_.toString).getOrElse("*")) ++
      body.flatMap { case (k, v) => Seq(k, v) }
    RedisId.parse(call(args: _*).asInstanceOf[String])
  }

  override def xlen(stream: String): Long = call("XLEN", stream).asInstanceOf[Long]

  override def close(): Unit = socket.close()
}

object RespRedis {
  final class RedisError(msg: String) extends RuntimeException(msg)
  private val ValueKey = "value".getBytes(UTF_8)
}

/** RESP2 reply reader over one unsynchronized buffer (one reader per
  * connection, used under the connection's lock). Lengths and integers are
  * parsed as numbers; bulk payloads are copied out, compared or skipped in
  * place, across buffer refills.
  */
private final class RespReader(in: InputStream) {
  private val buf = new Array[Byte](RespReader.BufferSize)
  private var pos = 0
  private var lim = 0

  private def fill(): Unit = {
    val n = in.read(buf, 0, buf.length)
    if (n < 0) throw new java.io.EOFException("redis connection closed")
    pos = 0; lim = n
  }

  private def byte(): Int = {
    while (pos == lim) fill()
    val b = buf(pos); pos += 1; b
  }

  private def crlf(): Unit = { byte(); byte(); () }

  /** A signed decimal up to and including its CRLF. */
  private def number(): Long = {
    var b = byte()
    val neg = b == '-'
    if (neg) b = byte()
    var v = 0L
    while (b != '\r') {
      if (b < '0' || b > '9') throw new IllegalStateException(s"bad RESP number byte: $b")
      v = v * 10 + (b - '0'); b = byte()
    }
    byte() // \n
    if (neg) -v else v
  }

  private def line(): String = {
    val sb = new java.io.ByteArrayOutputStream
    var b = byte()
    while (b != '\r') { sb.write(b); b = byte() }
    byte() // \n
    sb.toString(UTF_8)
  }

  private def bytes(n: Int): Array[Byte] = {
    val a = new Array[Byte](n)
    var off = 0
    while (off < n) {
      if (pos == lim) fill()
      val k = math.min(n - off, lim - pos)
      System.arraycopy(buf, pos, a, off, k)
      pos += k; off += k
    }
    crlf()
    a
  }

  private def skip(n: Long): Unit = {
    var left = n
    while (left > 0) {
      if (pos == lim) fill()
      val k = math.min(left, (lim - pos).toLong).toInt
      pos += k; left -= k
    }
    crlf()
  }

  /** The length of the next frame, which must be of `kind` (`*` or `$`); an
    * error reply is consumed and raised as [[RespRedis.RedisError]]. */
  def header(kind: Char): Long = byte() match {
    case b if b == kind => number()
    case '-' => throw new RespRedis.RedisError(line())
    case b => throw new IllegalStateException(s"bad RESP type byte: $b (want '$kind')")
  }

  /** The next bulk string's payload; null for a null bulk. */
  def bulk(): Array[Byte] = {
    val n = header('$')
    if (n < 0) null else bytes(n.toInt)
  }

  def string(): String = {
    val b = bulk()
    if (b == null) null else new String(b, UTF_8)
  }

  def skipBulk(): Unit = {
    val n = header('$')
    if (n >= 0) skip(n)
  }

  def skipBulks(n: Int): Unit = {
    var i = 0
    while (i < n) { skipBulk(); i += 1 }
  }

  /** Consumes the next bulk string; whether it equals `key`. */
  def bulkEquals(key: Array[Byte]): Boolean = {
    val n = header('$')
    if (n != key.length) { if (n >= 0) skip(n); false }
    else {
      var same = true
      var i = 0
      while (i < n) { if (byte() != key(i)) same = false; i += 1 }
      crlf()
      same
    }
  }

  /** The next bulk string parsed as an `ms-seq` entry id. */
  def id(): RedisId = {
    val n = header('$')
    var ms = 0L
    var seq = 0L
    var dash = -1
    var i = 0
    while (i < n) {
      val b = byte()
      if (b == '-' && dash < 0 && i > 0) dash = i
      else if (b >= '0' && b <= '9') {
        // unsigned 64-bit: the wrap of v * 10 + d is the value mod 2^64
        if (dash < 0) ms = ms * 10 + (b - '0') else seq = seq * 10 + (b - '0')
      } else throw new IllegalStateException(s"bad redis id byte: $b")
      i += 1
    }
    if (n <= 0 || dash == n - 1) throw new IllegalStateException("bad redis id")
    crlf()
    RedisId(ms, seq)
  }

  /** One whole reply: simple and bulk strings as `String`, integers as
    * `Long`, arrays as `IndexedSeq`, nulls as null. */
  def reply(): Any = byte() match {
    case '+' => line()
    case '-' => throw new RespRedis.RedisError(line())
    case ':' => number()
    case '$' =>
      val n = number()
      if (n < 0) null else new String(bytes(n.toInt), UTF_8)
    case '*' =>
      val n = number()
      if (n < 0) null else IndexedSeq.fill(n.toInt)(reply())
    case b => throw new IllegalStateException(s"bad RESP type byte: $b")
  }
}

private object RespReader {
  val BufferSize: Int = 64 * 1024
}
