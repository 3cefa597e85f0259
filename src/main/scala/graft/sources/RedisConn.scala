package graft.sources

import java.io.{BufferedOutputStream, InputStream}
import java.net.Socket
import java.nio.charset.StandardCharsets.{US_ASCII, UTF_8}

/** A Redis stream entry id, `ms-seq` (two unsigned 64-bit parts). String order
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
  override def toString: String = new String(utf8, US_ASCII)

  /** [[toString]]'s UTF-8 bytes, written digit by digit with no String. */
  def utf8: Array[Byte] = {
    val m = RedisId.digits(ms)
    val out = new Array[Byte](m + 1 + RedisId.digits(seq))
    RedisId.write(ms, out, m)
    out(m) = '-'
    RedisId.write(seq, out, out.length)
    out
  }
}

object RedisId {
  val Zero: RedisId = RedisId(0L, 0L)
  /** The largest id, `18446744073709551615-18446744073709551615`: the
    * open end of a range read. */
  val Max: RedisId = RedisId(-1L, -1L)
  /** The number of decimal digits of `v` read as unsigned: 10^19 and up
    * (negative as signed) have 20.
    */
  private def digits(v: Long): Int =
    if (v < 0) { if (java.lang.Long.compareUnsigned(v, -8446744073709551616L) >= 0) 20 else 19 }
    else {
      var n = 1
      var p = 10L
      while (n < 19 && v >= p) { p *= 10; n += 1 }
      n
    }

  /** "00" to "99": two digits per table lookup. */
  private val DigitPairs: Array[Byte] =
    (0 until 100).map(i => f"$i%02d").mkString.getBytes("US-ASCII")

  /** Writes `v`'s unsigned decimal digits into `out`, ending before `end`:
    * two digits per step, in int arithmetic once the rest fits an int.
    */
  private def write(v: Long, out: Array[Byte], end: Int): Unit = {
    var i = end
    var x = v
    if (x < 0) {
      val q = java.lang.Long.divideUnsigned(x, 10)
      i -= 1
      out(i) = ('0' + (x - q * 10)).toByte
      x = q
    }
    while (x > Int.MaxValue) {
      val q = x / 100
      i -= 2
      pair((x - q * 100).toInt, out, i)
      x = q
    }
    var y = x.toInt
    while (y >= 100) {
      val q = y / 100
      i -= 2
      pair(y - q * 100, out, i)
      y = q
    }
    if (y >= 10) pair(y, out, i - 2)
    else out(i - 1) = ('0' + y).toByte
  }

  /** Writes the two digits of `r` (0-99) at `out(i)`, `out(i + 1)`. */
  private def pair(r: Int, out: Array[Byte], i: Int): Unit = {
    out(i) = DigitPairs(2 * r)
    out(i + 1) = DigitPairs(2 * r + 1)
  }

  /** [[parse]] of `s`'s UTF-8 bytes. */
  def parse(s: String): RedisId = {
    val b = s.getBytes(UTF_8)
    parse(b, 0, b.length)
  }

  /** The id written as ASCII in `b(from until until)`: `ms-seq`, or a bare
    * `ms` (`seq` 0), each part one or more decimal digits of at most
    * 2^64 - 1. The one reader of the format: checkpoint offsets, server
    * replies and the dedupe's text offsets all go through it, so an id
    * orders the same wherever it is read.
    */
  def parse(b: Array[Byte], from: Int, until: Int): RedisId = {
    def part(lo: Int, hi: Int): Long = {
      if (lo == hi) throw bad(b, from, until)
      var v = 0L
      var i = lo
      while (i < hi) {
        val d = b(i) - '0'
        if (d < 0 || d > 9 || java.lang.Long.compareUnsigned(v, MaxDiv10) > 0 || v == MaxDiv10 && d > 5)
          throw bad(b, from, until)
        v = v * 10 + d
        i += 1
      }
      v
    }
    var dash = from
    while (dash < until && b(dash) != '-') dash += 1
    if (dash == until) RedisId(part(from, until), 0L)
    else RedisId(part(from, dash), part(dash + 1, until))
  }

  /** (2^64 - 1) / 10: a part above it cannot take another digit. */
  private final val MaxDiv10 = 1844674407370955161L

  private def bad(b: Array[Byte], from: Int, until: Int): IllegalArgumentException =
    new IllegalArgumentException(s"not a ms-seq id: '${new String(b, from, until - from, UTF_8)}'")
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
                      count: Int): IndexedSeq[(RedisId, Array[Byte])]

  /** The ids of the same range as [[xrange]]. Redis has no id-only range
    * command, so over RESP the bodies still cross the wire; the client
    * skips them.
    */
  def xrangeIds(stream: String, afterExclusive: RedisId, endInclusive: RedisId,
                count: Int): IndexedSeq[RedisId]

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

  /** A connection to the store [[RedisUrl.parse]] reads from `url`. */
  def open(url: String): RedisConn = RedisUrl.parse(url) match {
    case RedisUrl.Mem(name) => InMemoryRedis.named(name)
    case RedisUrl.Resp(host, port, db) => new RespRedis(host, port, db)
  }
}

/** Where a [[RedisConn]] connects. */
sealed trait RedisUrl

object RedisUrl {
  /** The shared JVM-local fake named `name` (CI; one instance per name). */
  final case class Mem(name: String) extends RedisUrl
  /** A RESP2 socket client (production/integration) on database `db`. */
  final case class Resp(host: String, port: Int, db: Int) extends RedisUrl

  /** `mem://<name>` or `redis://host[:port][/db]` (port 6379 and db 0 by
    * default); anything else is an IllegalArgumentException.
    */
  def parse(url: String): RedisUrl = url match {
    case s if s.startsWith("mem://") => Mem(s.stripPrefix("mem://"))
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
      Resp(host, port, db)
    case _ => throw new IllegalArgumentException(
      s"unsupported redis url (want mem:// or redis://): $url")
  }
}

/** Complete in-memory Redis Streams fake — real data structures (an
  * ordered entry log per stream, per-group ack sets), not canned responses,
  * so the connector's offset/commit/retention logic is exercised for real in
  * CI where no Redis server exists. JVM-global by name: local-mode executors
  * and the driver resolve `mem://x` to the same instance.
  *
  * Each stream is an append-only log in flat arrays (see
  * [[InMemoryRedis.Log]]): a range read, ack or delete walks consecutive
  * slots, so its cost does not hang on where the garbage collector last
  * moved per-entry objects, and a large backlog gives the collector almost
  * nothing to copy.
  */
final class InMemoryRedis private () extends RedisConn {
  import InMemoryRedis.Log
  private val streams = new java.util.concurrent.ConcurrentHashMap[String, Log]()

  private def log(stream: String): Log = streams.computeIfAbsent(stream, _ => new Log)

  override def xgroupCreate(stream: String, group: String, from: RedisId): Unit =
    log(stream).createGroup(group)

  override def xrange(stream: String, afterExclusive: RedisId,
                      endInclusive: RedisId, count: Int): Seq[(RedisId, Map[String, String])] =
    log(stream).range(afterExclusive, endInclusive, count)((l, p) => (l.id(p), l.body(p)))

  override def xrangeEnvelopes(stream: String, afterExclusive: RedisId, endInclusive: RedisId,
                               count: Int): IndexedSeq[(RedisId, Array[Byte])] =
    log(stream).range(afterExclusive, endInclusive, count) { (l, p) =>
      l.id(p) -> l.envelope(p).getOrElse(throw RedisConn.noEnvelope(stream, l.id(p)))
    }

  override def xrangeIds(stream: String, afterExclusive: RedisId, endInclusive: RedisId,
                         count: Int): IndexedSeq[RedisId] =
    log(stream).range(afterExclusive, endInclusive, count)(_.id(_))

  override def xlatestId(stream: String): Option[RedisId] = log(stream).latest

  override def xack(stream: String, group: String, ids: Seq[RedisId]): Long = {
    val l = streams.get(stream)
    require(l != null && l.hasGroup(group), s"NOGROUP $stream $group")
    l.ack(group, ids)
  }

  override def xdel(stream: String, ids: Seq[RedisId]): Long = log(stream).delete(ids)

  override def xadd(stream: String, body: Seq[(String, String)],
                    id: Option[RedisId]): RedisId = log(stream).append(body.toMap, id)

  override def xlen(stream: String): Long = log(stream).live.toLong

  /** Ack-set view for spec assertions (the fake's PEL-completion analogue). */
  def ackedIds(stream: String, group: String): Set[RedisId] = {
    val l = streams.get(stream)
    if (l == null) Set.empty else l.acked(group)
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
  /** The names of the live instances (spec assertions that a run reset its
    * stores). */
  private[graft] def names: Set[String] = {
    import scala.jdk.CollectionConverters._
    registry.keySet.asScala.toSet
  }

  /** One stream: entries at positions 0, 1, ... in id order, ids as two
    * `Long` columns, deletions as a bit set, acks as one bit set per group.
    * Bodies are packed in position order into one byte arena as UTF-8
    * `[key length][key][value length][value]...`, the bytes a Redis server
    * would hold, and rebuilt on read. Positions are never reused, so acks
    * outlive the deletion of their entries, as they did in the ack sets this
    * replaces. Arena bytes before the first live entry are dropped once they
    * make up half of it. Every method holds the log's lock.
    */
  private[sources] final class Log {
    private var ms = new Array[Long](16)
    private var seq = new Array[Long](16)
    private var bodyAt = new Array[Long](16) // arena offset of the body
    private var envAt = new Array[Long](16)  // arena offset of the envelope's length, or -1
    private var size = 0
    private val dead = new java.util.BitSet
    private var liveCount = 0
    private var firstLive = 0
    private val groups = scala.collection.mutable.Map.empty[String, java.util.BitSet]
    // arena(i) holds offset arenaBase + i; offsets below arenaBase are dropped
    private var arena = new Array[Byte](1024)
    private var arenaBase = 0L
    private var arenaEnd = 0L

    def live: Int = synchronized(liveCount)

    private def compareAt(p: Int, id: RedisId): Int = {
      val c = java.lang.Long.compareUnsigned(ms(p), id.ms)
      if (c != 0) c else java.lang.Long.compareUnsigned(seq(p), id.seq)
    }

    /** The first position whose id is above `id`. */
    private def after(id: RedisId): Int = {
      var lo = 0
      var hi = size
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (compareAt(mid, id) <= 0) lo = mid + 1 else hi = mid
      }
      lo
    }

    /** The live position holding `id`, or -1; `hint` is tried first. */
    private def liveAt(id: RedisId, hint: Int): Int = {
      val p = if (hint < size && compareAt(hint, id) == 0) hint else after(id) - 1
      if (p >= 0 && compareAt(p, id) == 0 && !dead.get(p)) p else -1
    }

    def range[A](afterExclusive: RedisId, endInclusive: RedisId, count: Int)(
        f: (Log, Int) => A): IndexedSeq[A] = synchronized {
      val out = Vector.newBuilder[A]
      var n = 0
      var p = dead.nextClearBit(after(afterExclusive))
      while (n < count && p < size && compareAt(p, endInclusive) <= 0) {
        out += f(this, p)
        n += 1
        p = dead.nextClearBit(p + 1)
      }
      out.result()
    }

    def latest: Option[RedisId] = synchronized {
      val p = if (size == 0) -1 else dead.previousClearBit(size - 1)
      Option.when(p >= 0)(id(p))
    }

    // id, body and envelope read position `p` for `range` and `acked`,
    // which hold the lock

    private[InMemoryRedis] def id(p: Int): RedisId = RedisId(ms(p), seq(p))

    private[InMemoryRedis] def body(p: Int): Map[String, String] = {
      val b = Map.newBuilder[String, String]
      var i = index(bodyAt(p))
      val end = if (p + 1 < size) index(bodyAt(p + 1)) else index(arenaEnd)
      while (i < end) {
        val k = new String(arena, i + 4, intAt(i), UTF_8)
        i += 4 + intAt(i)
        b += k -> new String(arena, i + 4, intAt(i), UTF_8)
        i += 4 + intAt(i)
      }
      b.result()
    }

    /** The envelope field's ([[RedisConn.isEnvelopeField]]) UTF-8 bytes. */
    private[InMemoryRedis] def envelope(p: Int): Option[Array[Byte]] =
      Option.when(envAt(p) >= 0) {
        val i = index(envAt(p))
        java.util.Arrays.copyOfRange(arena, i + 4, i + 4 + intAt(i))
      }

    def append(body: Map[String, String], explicit: Option[RedisId]): RedisId = synchronized {
      val prev = if (size == 0) RedisId.Zero else id(size - 1)
      val next = explicit match {
        case Some(e) =>
          require(e > prev, s"XADD id $e <= last $prev")
          e
        case None => RedisId(prev.ms + 1, 0L) // deterministic logical clock
      }
      if (size == ms.length) {
        val n = 2 * size
        ms = java.util.Arrays.copyOf(ms, n)
        seq = java.util.Arrays.copyOf(seq, n)
        bodyAt = java.util.Arrays.copyOf(bodyAt, n)
        envAt = java.util.Arrays.copyOf(envAt, n)
      }
      val p = size
      ms(p) = next.ms
      seq(p) = next.seq
      bodyAt(p) = arenaEnd
      envAt(p) = -1L
      body.foreach { case (k, v) =>
        put(k.getBytes(UTF_8))
        if (envAt(p) < 0 && RedisConn.isEnvelopeField(body.size, k == "value")) envAt(p) = arenaEnd
        put(v.getBytes(UTF_8))
      }
      size += 1
      liveCount += 1
      next
    }

    def delete(ids: Seq[RedisId]): Long = synchronized {
      var hint = 0
      var n = 0L
      ids.foreach { id =>
        val p = liveAt(id, hint)
        if (p >= 0) {
          dead.set(p)
          liveCount -= 1
          n += 1
          hint = p + 1
        }
      }
      firstLive = dead.nextClearBit(firstLive)
      val keepFrom = if (firstLive < size) bodyAt(firstLive) else arenaEnd
      if (2 * (keepFrom - arenaBase) >= arenaEnd - arenaBase && keepFrom > arenaBase) {
        System.arraycopy(arena, index(keepFrom), arena, 0, (arenaEnd - keepFrom).toInt)
        arenaBase = keepFrom
      }
      n
    }

    def createGroup(group: String): Unit = synchronized {
      groups.getOrElseUpdate(group, new java.util.BitSet); ()
    }

    def hasGroup(group: String): Boolean = synchronized(groups.contains(group))

    def ack(group: String, ids: Seq[RedisId]): Long = synchronized {
      val g = groups(group)
      var hint = 0
      var n = 0L
      ids.foreach { id =>
        val p = liveAt(id, hint)
        if (p >= 0) {
          if (!g.get(p)) { g.set(p); n += 1 }
          hint = p + 1
        }
      }
      n
    }

    def acked(group: String): Set[RedisId] = synchronized {
      groups.get(group).fold(Set.empty[RedisId]) { g =>
        Iterator.iterate(g.nextSetBit(0))(p => g.nextSetBit(p + 1)).takeWhile(_ >= 0).map(id).toSet
      }
    }

    private def index(offset: Long): Int = (offset - arenaBase).toInt

    private def intAt(i: Int): Int =
      (arena(i) & 0xFF) << 24 | (arena(i + 1) & 0xFF) << 16 | (arena(i + 2) & 0xFF) << 8 | arena(i + 3) & 0xFF

    /** Appends `b` to the arena, length first. */
    private def put(b: Array[Byte]): Unit = {
      val i = index(arenaEnd)
      if (i + 4 + b.length > arena.length)
        arena = java.util.Arrays.copyOf(arena, math.max(i + 4 + b.length, 2 * arena.length))
      arena(i) = (b.length >>> 24).toByte
      arena(i + 1) = (b.length >>> 16).toByte
      arena(i + 2) = (b.length >>> 8).toByte
      arena(i + 3) = b.length.toByte
      System.arraycopy(b, 0, arena, i + 4, b.length)
      arenaEnd += 4 + b.length
    }
  }
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
  * parsed as numbers and entry ids by [[RedisId.parse]]; bulk payloads are
  * copied out, compared or skipped in place, across buffer refills.
  */
private final class RespReader(in: InputStream) {
  private val buf = new Array[Byte](RespReader.BufferSize)
  private var pos = 0
  private var lim = 0

  /** Reads more bytes into the buffer after `lim`. */
  private def more(): Unit = {
    val n = in.read(buf, lim, buf.length - lim)
    if (n < 0) throw new java.io.EOFException("redis connection closed")
    lim += n
  }

  private def fill(): Unit = { pos = 0; lim = 0; more() }

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

  /** The next bulk string read by [[RedisId.parse]] in the buffer. */
  def id(): RedisId = {
    val n = header('$')
    if (n < 0 || n > buf.length) throw new IllegalStateException(s"bad redis id length: $n")
    if (lim - pos < n) {
      // move the partial id to the front of the buffer and read the rest
      System.arraycopy(buf, pos, buf, 0, lim - pos)
      lim -= pos
      pos = 0
      while (lim < n) more()
    }
    val id = RedisId.parse(buf, pos, pos + n.toInt)
    pos += n.toInt
    crlf()
    id
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
