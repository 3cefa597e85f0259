package graft.sources

import java.io.{BufferedInputStream, BufferedOutputStream, EOFException, InputStream, OutputStream}
import java.net.{InetAddress, ServerSocket, Socket, SocketException}
import java.nio.charset.StandardCharsets.UTF_8

/** Minimal RESP2 *server* speaking exactly the command surface
  * [[RespRedis]] issues (SELECT / XGROUP CREATE / XRANGE / XREVRANGE /
  * XACK / XDEL / XADD / XLEN), backed by the [[InMemoryRedis]] data
  * structures: one backend per database index, as a server keeps one
  * keyspace per database, and each connection starts on database 0.
  *
  * Purpose: the sandbox has no redis-server binary, so the RESP2 socket
  * client — the production data path — would otherwise ship with ZERO CI
  * coverage (its only exercise was the REDIS_URL-gated integration test,
  * permanently skipped here). This fake gives the client byte-level,
  * always-on tests over a real TCP socket: request serialization, every
  * reply type it parses (+, -, :, $, *, nested arrays, null bulks), error
  * propagation (-BUSYGROUP swallow, -ERR raise), CRLF-bearing bulk
  * payloads, and multi-connection behavior. It counts the connections it
  * accepts and the commands it serves per name, and can fail the next
  * command of a name with an error reply.
  *
  * Protocol per the public Redis serialization spec (RESP2). The dialect
  * is deliberately the CLIENT'S dialect: XRANGE start must be `-` or the
  * exclusive `(id` form (the only forms the connector emits).
  */
final class RespServerFake extends AutoCloseable {
  private val name = s"resp-fake-${System.nanoTime()}"
  /** A server's default number of databases (`databases 16`). */
  private val Databases = 16
  private def backend(db: Int): InMemoryRedis = InMemoryRedis.named(s"$name-db$db")
  private val createdGroups =
    java.util.concurrent.ConcurrentHashMap.newKeySet[(Int, String, String)]()
  private val server =
    new ServerSocket(0, 16, InetAddress.getLoopbackAddress)
  @volatile private var running = true
  private val pool = java.util.concurrent.Executors.newCachedThreadPool()

  def port: Int = server.getLocalPort
  def url: String = s"redis://127.0.0.1:$port"
  /** Direct backend handle of database 0 for spec assertions / seeding. */
  def mem: InMemoryRedis = backend(0)
  /** Direct backend handle of database `i`. */
  def db(i: Int): InMemoryRedis = backend(i)

  private val served =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.atomic.AtomicLong]()
  /** Commands served so far with this name (upper case), on every connection. */
  def count(command: String): Long =
    Option(served.get(command)).map(_.get()).getOrElse(0L)

  private val accepted = new java.util.concurrent.atomic.AtomicLong()
  /** Connections accepted so far. */
  def connections: Long = accepted.get()

  private val injected =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  /** The next `command` (upper case) gets the error reply `-<message>`
    * instead of being served, as a server replies e.g. WRONGTYPE. */
  def failNext(command: String, message: String): Unit = {
    injected.put(command, message); ()
  }

  private val acceptor = new Thread(() => {
    while (running) {
      try {
        val s = server.accept()
        accepted.incrementAndGet()
        pool.submit(new Runnable { override def run(): Unit = serve(s) })
        ()
      } catch {
        case _: SocketException => () // closed
        case _: Throwable if !running => ()
      }
    }
  }, s"$name-acceptor")
  acceptor.setDaemon(true)
  acceptor.start()

  override def close(): Unit = {
    running = false
    server.close()
    pool.shutdownNow()
    (0 until Databases).foreach(db => InMemoryRedis.reset(s"$name-db$db"))
    ()
  }

  // ---- RESP2 wire ----

  private def readLine(in: InputStream): String = {
    val sb = new java.lang.StringBuilder
    var c = in.read()
    while (c != '\r') {
      if (c < 0) throw new EOFException
      sb.append(c.toChar); c = in.read()
    }
    in.read() // \n
    sb.toString
  }

  /** One client command: RESP array of bulk strings. */
  private def readCommand(in: InputStream): Seq[String] = {
    val t = in.read()
    if (t < 0) throw new EOFException
    require(t == '*', s"client must send RESP arrays, got type byte $t")
    val n = readLine(in).toInt
    (1 to n).map { _ =>
      require(in.read() == '$', "command args must be bulk strings")
      val len = readLine(in).toInt
      val buf = new Array[Byte](len)
      var off = 0
      while (off < len) {
        val r = in.read(buf, off, len - off)
        if (r < 0) throw new EOFException
        off += r
      }
      in.read(); in.read() // \r\n
      new String(buf, UTF_8)
    }
  }

  private def wSimple(out: OutputStream, s: String): Unit =
    out.write(s"+$s\r\n".getBytes(UTF_8))
  private def wError(out: OutputStream, s: String): Unit =
    out.write(s"-$s\r\n".getBytes(UTF_8))
  private def wInt(out: OutputStream, n: Long): Unit =
    out.write(s":$n\r\n".getBytes(UTF_8))
  private def wBulk(out: OutputStream, s: String): Unit = {
    val b = s.getBytes(UTF_8)
    out.write(s"$$${b.length}\r\n".getBytes(UTF_8))
    out.write(b); out.write('\r'); out.write('\n')
  }
  private def wArrayHeader(out: OutputStream, n: Int): Unit =
    out.write(s"*$n\r\n".getBytes(UTF_8))
  private def wEntries(out: OutputStream,
                       es: Seq[(RedisId, Map[String, String])]): Unit = {
    wArrayHeader(out, es.size)
    es.foreach { case (id, kv) =>
      wArrayHeader(out, 2)
      wBulk(out, id.toString)
      wArrayHeader(out, kv.size * 2)
      kv.foreach { case (k, v) => wBulk(out, k); wBulk(out, v) }
    }
  }

  private def parseStart(s: String): RedisId = s match {
    case "-" => RedisId.Zero // 0-0 is not a legal entry id => from-start
    case x if x.startsWith("(") => RedisId.parse(x.stripPrefix("("))
    case x => throw new IllegalArgumentException(
      s"fake speaks the connector dialect only: start must be '-' or '(id', got '$x'")
  }
  private def parseEnd(s: String): RedisId = s match {
    case "+" => RedisId(-1L, -1L) // max unsigned
    case x => RedisId.parse(x)
  }

  private def serve(sock: Socket): Unit = {
    sock.setTcpNoDelay(true)
    val in = new BufferedInputStream(sock.getInputStream)
    val out = new BufferedOutputStream(sock.getOutputStream)
    var db = 0
    try {
      while (running) {
        val cmd = readCommand(in)
        try db = dispatch(cmd, db, out)
        catch {
          case e: EOFException => throw e
          case e: Throwable => wError(out, s"ERR ${e.getMessage}")
        }
        out.flush()
      }
    } catch {
      case _: EOFException => ()
      case _: SocketException => ()
    } finally sock.close()
  }

  /** Serves one command on the connection's database `db`; returns the
    * connection's database after it. */
  private def dispatch(cmd: Seq[String], db: Int, out: OutputStream): Int = {
    val name = cmd.head.toUpperCase(java.util.Locale.ROOT)
    served.computeIfAbsent(name, _ => new java.util.concurrent.atomic.AtomicLong())
      .incrementAndGet()
    Option(injected.remove(name)) match {
      case Some(message) => wError(out, message); db
      case None if name == "SELECT" =>
        cmd.lift(1).flatMap(_.toIntOption) match {
          case Some(i) if i >= 0 && i < Databases => wSimple(out, "OK"); i
          case Some(_) => wError(out, "ERR DB index is out of range"); db
          case None => wError(out, "ERR value is not an integer or out of range"); db
        }
      case None => execute(cmd, name, backend(db), db, out); db
    }
  }

  private def execute(cmd: Seq[String], name: String, backend: InMemoryRedis, db: Int,
                      out: OutputStream): Unit =
    name match {
      case "XGROUP" =>
        val Seq(_, sub, stream, group, from, rest @ _*) = cmd
        require(sub.equalsIgnoreCase("CREATE") &&
          rest.map(_.toUpperCase(java.util.Locale.ROOT)) == Seq("MKSTREAM"),
          s"unsupported XGROUP form: $cmd")
        if (!createdGroups.add((db, stream, group)))
          wError(out, "BUSYGROUP Consumer Group name already exists")
        else {
          backend.xgroupCreate(stream, group,
            if (from == "$") RedisId.Zero else RedisId.parse(from))
          wSimple(out, "OK")
        }
      case "XRANGE" =>
        val stream = cmd(1)
        val count = if (cmd.size >= 6 &&
          cmd(4).equalsIgnoreCase("COUNT")) cmd(5).toInt else Int.MaxValue
        wEntries(out, backend.xrange(stream, parseStart(cmd(2)),
          parseEnd(cmd(3)), count))
      case "XREVRANGE" =>
        // connector form: XREVRANGE <stream> + - COUNT 1 (latest entry)
        val stream = cmd(1)
        require(cmd(2) == "+" && cmd(3) == "-", s"unsupported XREVRANGE: $cmd")
        backend.xlatestId(stream) match {
          case Some(id) =>
            wEntries(out, backend.xrange(stream, RedisId.Zero, id, Int.MaxValue)
              .filter(_._1 == id))
          case None => wArrayHeader(out, 0)
        }
      case "XACK" =>
        wInt(out, backend.xack(cmd(1), cmd(2),
          cmd.drop(3).map(RedisId.parse)))
      case "XDEL" =>
        wInt(out, backend.xdel(cmd(1), cmd.drop(2).map(RedisId.parse)))
      case "XADD" =>
        val stream = cmd(1)
        val id = cmd(2) match {
          case "*" => None
          case x => Some(RedisId.parse(x))
        }
        val body = cmd.drop(3).grouped(2)
          .collect { case Seq(k, v) => k -> v }.toSeq
        wBulk(out, backend.xadd(stream, body, id).toString)
      case "XLEN" => wInt(out, backend.xlen(cmd(1)))
      case other => wError(out, s"ERR unknown command '$other'")
    }
}
