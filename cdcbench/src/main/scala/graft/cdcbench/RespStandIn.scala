package graft.cdcbench

import graft.sources.{InMemoryRedis, RedisId}
import java.io.{BufferedInputStream, ByteArrayOutputStream, EOFException, FilterInputStream, InputStream, OutputStream}
import java.net.{InetAddress, ServerSocket, Socket, SocketException}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

/** One command as the stand-in served it. `args` keeps the leading
  * arguments (stream, range bounds) so a caller can classify the command.
  */
final case class WireCmd(name: String, args: Seq[String], bytesIn: Long,
                         bytesOut: Long, replyEntries: Int)

/** A RESP2 server for the benchmark: the command subset `RespRedis` issues
  * (XGROUP CREATE, XRANGE, XREVRANGE, XACK, XDEL, XADD, XLEN), backed by an
  * [[InMemoryRedis]], one thread per live connection, no pipelining. Every
  * command is logged with the bytes it read and wrote, so the traced run can
  * count calls and bytes per command.
  */
final class RespStandIn(val backend: InMemoryRedis) extends AutoCloseable {
  private val server = new ServerSocket(0, 64, InetAddress.getLoopbackAddress)
  @volatile private var running = true
  private val createdGroups =
    java.util.concurrent.ConcurrentHashMap.newKeySet[(String, String)]()
  private val handlers = new ConcurrentLinkedQueue[Thread]()
  private val openSockets = new ConcurrentLinkedQueue[Socket]()
  val commands = new ConcurrentLinkedQueue[WireCmd]()
  val connections = new AtomicLong()

  def url: String = s"redis://127.0.0.1:${server.getLocalPort}"

  private val acceptor = new Thread(() => {
    BenchThreads.enter()
    while (running) {
      try {
        val s = server.accept()
        connections.incrementAndGet()
        val t = new Thread(() => { BenchThreads.enter(); serve(s) }, "resp-standin-conn")
        t.setDaemon(true)
        handlers.add(t)
        t.start()
      } catch { case _: SocketException => () }
    }
  }, "resp-standin-accept")
  acceptor.setDaemon(true)
  acceptor.start()

  /** Stop accepting, close every connection and wait for every thread. */
  override def close(): Unit = {
    running = false
    server.close()
    acceptor.join(10000)
    handlers.forEach(t => t.interrupt())
    openSockets.forEach(s => s.close())
    handlers.forEach(t => t.join(10000))
  }

  private final class Counting(in: InputStream) extends FilterInputStream(in) {
    var n = 0L
    override def read(): Int = { val c = super.read(); if (c >= 0) n += 1; c }
    override def read(b: Array[Byte], off: Int, len: Int): Int = {
      val r = super.read(b, off, len); if (r > 0) n += r; r
    }
  }

  private def serve(sock: Socket): Unit = {
    openSockets.add(sock)
    sock.setTcpNoDelay(true)
    val in = new Counting(new BufferedInputStream(sock.getInputStream))
    val out = sock.getOutputStream
    try {
      while (running) {
        val before = in.n
        val cmd = readCommand(in)
        val reply = new ByteArrayOutputStream()
        val entries =
          try dispatch(cmd, reply)
          catch { case e: IllegalArgumentException => wError(reply, s"ERR ${e.getMessage}"); 0 }
        reply.writeTo(out)
        out.flush()
        commands.add(WireCmd(cmd.head.toUpperCase(java.util.Locale.ROOT),
          cmd.slice(1, 4), in.n - before, reply.size().toLong, entries))
      }
    } catch {
      case _: EOFException | _: SocketException => ()
    } finally sock.close()
  }

  private def readLine(in: InputStream): String = {
    val sb = new java.lang.StringBuilder
    var c = in.read()
    while (c != '\r') {
      if (c < 0) throw new EOFException
      sb.append(c.toChar); c = in.read()
    }
    in.read()
    sb.toString
  }

  private def readCommand(in: InputStream): Seq[String] = {
    val t = in.read()
    if (t < 0) throw new EOFException
    require(t == '*', s"client must send RESP arrays, got type byte $t")
    val n = readLine(in).toInt
    (1 to n).map { _ =>
      require(in.read() == '$', "command args must be bulk strings")
      val len = readLine(in).toInt
      val buf = in.readNBytes(len)
      if (buf.length < len) throw new EOFException
      in.read(); in.read()
      new String(buf, UTF_8)
    }
  }

  private def wSimple(out: OutputStream, s: String): Unit = out.write(s"+$s\r\n".getBytes(UTF_8))
  private def wError(out: OutputStream, s: String): Unit = out.write(s"-$s\r\n".getBytes(UTF_8))
  private def wInt(out: OutputStream, n: Long): Unit = out.write(s":$n\r\n".getBytes(UTF_8))
  private def wBulk(out: OutputStream, s: String): Unit = {
    val b = s.getBytes(UTF_8)
    out.write(s"$$${b.length}\r\n".getBytes(UTF_8)); out.write(b); out.write('\r'); out.write('\n')
  }
  private def wArray(out: OutputStream, n: Int): Unit = out.write(s"*$n\r\n".getBytes(UTF_8))
  private def wEntries(out: OutputStream, es: Seq[(RedisId, Map[String, String])]): Int = {
    wArray(out, es.size)
    es.foreach { case (id, kv) =>
      wArray(out, 2); wBulk(out, id.toString); wArray(out, kv.size * 2)
      kv.foreach { case (k, v) => wBulk(out, k); wBulk(out, v) }
    }
    es.size
  }

  private def parseStart(s: String): RedisId = s match {
    case "-" => RedisId.Zero
    case x if x.startsWith("(") => RedisId.parse(x.stripPrefix("("))
    case x => throw new IllegalArgumentException(s"start must be '-' or '(id', got '$x'")
  }
  private def parseEnd(s: String): RedisId = if (s == "+") RedisId(-1L, -1L) else RedisId.parse(s)

  /** Serve one command; returns the number of stream entries replied. */
  private def dispatch(cmd: Seq[String], out: OutputStream): Int =
    cmd.head.toUpperCase(java.util.Locale.ROOT) match {
      case "XGROUP" =>
        require(cmd.size == 6 && cmd(1).equalsIgnoreCase("CREATE") &&
          cmd(5).equalsIgnoreCase("MKSTREAM"), s"unsupported XGROUP form: $cmd")
        if (!createdGroups.add((cmd(2), cmd(3))))
          wError(out, "BUSYGROUP Consumer Group name already exists")
        else {
          backend.xgroupCreate(cmd(2), cmd(3),
            if (cmd(4) == "$") RedisId.Zero else RedisId.parse(cmd(4)))
          wSimple(out, "OK")
        }
        0
      case "XRANGE" =>
        val count = if (cmd.size >= 6 && cmd(4).equalsIgnoreCase("COUNT")) cmd(5).toInt
                    else Int.MaxValue
        wEntries(out, backend.xrange(cmd(1), parseStart(cmd(2)), parseEnd(cmd(3)), count))
      case "XREVRANGE" =>
        require(cmd(2) == "+" && cmd(3) == "-", s"unsupported XREVRANGE: $cmd")
        backend.xlatestId(cmd(1)) match {
          case Some(id) =>
            wEntries(out, backend.xrange(cmd(1), RedisId.Zero, id, Int.MaxValue).filter(_._1 == id))
          case None => wArray(out, 0); 0
        }
      case "XACK" =>
        wInt(out, backend.xack(cmd(1), cmd(2), cmd.drop(3).map(RedisId.parse))); 0
      case "XDEL" =>
        wInt(out, backend.xdel(cmd(1), cmd.drop(2).map(RedisId.parse))); 0
      case "XADD" =>
        val id = if (cmd(2) == "*") None else Some(RedisId.parse(cmd(2)))
        val body = cmd.drop(3).grouped(2).collect { case Seq(k, v) => k -> v }.toSeq
        wBulk(out, backend.xadd(cmd(1), body, id).toString); 0
      case "XLEN" => wInt(out, backend.xlen(cmd(1))); 0
      case other => wError(out, s"ERR unknown command '$other'"); 0
    }
}

object RespStandIn {
  /** Bytes of one entry as an XRANGE reply element carries it. */
  def entryBytes(id: RedisId, body: Seq[(String, String)]): Long = {
    def bulk(s: String): Long = {
      val n = s.getBytes(UTF_8).length
      1 + n.toString.length + 2 + n + 2
    }
    def header(n: Int): Long = 1 + n.toString.length + 2
    header(2) + bulk(id.toString) + header(body.size * 2) +
      body.map { case (k, v) => bulk(k) + bulk(v) }.sum
  }
}

/** Threads the benchmark itself runs (generator, consumer, stand-in), so
  * their CPU can be left out of the plane's.
  */
object BenchThreads {
  private val tids = java.util.concurrent.ConcurrentHashMap.newKeySet[Integer]()

  /** Registers the calling thread by its native id (`/proc/thread-self`). */
  def enter(): Unit = {
    val tid = Files.readSymbolicLink(Paths.get("/proc/thread-self")).getFileName.toString.toInt
    tids.add(tid); ()
  }

  /** On-CPU nanoseconds so far (`/proc/self/task/<tid>/schedstat`) of every
    * live thread of the process except the benchmark's own and the JIT
    * compilers, by native thread id. Spark's and the plane's threads count,
    * and so do the GC threads: garbage is a cost of the program. The
    * compilers are left out as JVM warm-up.
    */
  def planeCpu(): Map[Int, Long] = {
    val out = Map.newBuilder[Int, Long]
    val ds = Files.newDirectoryStream(Paths.get("/proc/self/task"))
    try ds.forEach { dir =>
      val tid = dir.getFileName.toString.toInt
      if (!tids.contains(tid))
        try {
          // HotSpot names them "C1 CompilerThread<n>", "C2 CompilerThread<n>"
          if (!Files.readString(dir.resolve("comm")).contains("CompilerThre")) {
            val stat = Files.readString(dir.resolve("schedstat"))
            out += tid -> stat.substring(0, stat.indexOf(' ')).toLong
          }
        } catch { case _: java.io.IOException => () } // ended while listed
    } finally ds.close()
    out.result()
  }

  /** CPU between two [[planeCpu]] snapshots; threads that ended in between
    * are lost, which Spark's long-lived pools make rare. */
  def delta(a: Map[Int, Long], b: Map[Int, Long]): Long =
    b.iterator.map { case (tid, ns) => ns - a.getOrElse(tid, 0L) }.sum
}
