package graft.cdcbench

import graft.GraftSession
import graft.sources.{InMemoryRedis, RedisId}
import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.locks.LockSupport
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** Growable primitive columns for the generator's log. */
final class LongCol {
  private var a = new Array[Long](1024)
  var size = 0
  def +=(x: Long): Unit = {
    if (size == a.length) a = java.util.Arrays.copyOf(a, size * 2)
    a(size) = x; size += 1
  }
  def apply(i: Int): Long = a(i)
}

/** What the generator appended to one source stream, indexed by position:
  * entry `i` has RedisId `ids(i)-0`, because the in-memory store numbers each
  * stream's auto ids 1, 2, 3, ...
  */
final class StreamLog {
  val ids = new LongCol
  val entity = new LongCol
  /** scheduled send time, ns on the benchmark clock; drains use 0 */
  val due = new LongCol
  val sent = new LongCol
  var bytes = 0L
  def size: Int = ids.size
  /** index of the entry with RedisId `ms-0` */
  def indexOf(ms: Long): Int = (ms - ids(0)).toInt
}

/** One epoch as `StreamingQueryProgress` reported it. */
final case class Epoch(batchId: Long, startMs: Long, durations: Map[String, Long],
                       rows: Long, starts: Map[String, Long], ends: Map[String, Long],
                       planeCpu: Map[Int, Long]) {
  def triggerMs: Long = durations.getOrElse("triggerExecution", 0L)
  def endMs: Long = startMs + triggerMs
}

/** Everything one `Main.main("watch", ...)` round leaves for the checker. */
final case class RoundData(
    wl: Workload, invokeNs: Long, startedNs: Long, epochs: Seq[Epoch],
    logs: IndexedSeq[StreamLog], chunks: Map[String, Seq[(Long, String, Long)]],
    wire: Seq[WireCmd], wireConnections: Long, retainedRows: Long,
    trace: Option[TraceListener], clockOffsetMs: Double, sourceBytes: Long) {
  /** benchmark clock (ns) → epoch ms, the clock progress timestamps use */
  def toMs(ns: Long): Double = ns / 1e6 + clockOffsetMs

  /** Log indices [from, to) of the entries of stream `s` that epoch `e` read. */
  def range(e: Epoch, s: Int): (Int, Int) = {
    val stream = Workloads.SourcePrefix + wl.tables(s)
    val from = e.starts.get(stream).map(ms => logs(s).indexOf(ms) + 1).getOrElse(0)
    (from, e.ends.get(stream).map(ms => logs(s).indexOf(ms) + 1).getOrElse(from))
  }
}

/** Runs the unmodified `graft.Main.main("watch", ...)` once against a fresh
  * namespace: preloads (drains) or generates (open loop) the seeded input,
  * consumes the target streams, and records progress and CPU per epoch.
  *
  * `measuredEpochs` is how many epochs after the workload's warm-up epochs
  * the open loop waits for. Drains, and warm-up rounds with a
  * `backlogOverride`, run `--once` over their whole backlog. A `setupOnly`
  * round stops the query as soon as it has started: it only samples the
  * set-up time.
  */
final class Round(wl: Workload, seed: Long, tag: String, work: Path,
                  traced: Boolean, measuredEpochs: Int,
                  backlogOverride: Option[Int] = None, setupOnly: Boolean = false) {
  private val ns = s"${wl.name}-$seed-$tag-${System.nanoTime()}"
  private val backend = { InMemoryRedis.reset(ns); InMemoryRedis.named(ns) }
  private val gen = new EventGen(wl, seed)
  private val streams = wl.tables.map(Workloads.SourcePrefix + _)
  private val logs = wl.tables.indices.map(_ => new StreamLog)

  private def append(s: Int, due: Long): Unit = {
    val log = logs(s)
    val idx = log.size.toLong
    val body = gen.body(s, idx)
    val id = backend.xadd(streams(s), body)
    log.ids += id.ms; log.entity += gen.entityId(s, idx); log.due += due
    log.sent += System.nanoTime()
    log.bytes += RespStandIn.entryBytes(id, body)
  }

  def run(): RoundData = {
    val born = System.nanoTime()
    val dir = Files.createDirectories(work.resolve(tag))
    val cfgPath = dir.resolve("watch.yaml")
    Files.writeString(cfgPath, wl.configYaml)

    val backlog = if (setupOnly) 0 else backlogOverride.getOrElse(wl.backlogPerStream)
    for (_ <- 0 until backlog; s <- streams.indices) append(s, 0L)

    def mark(what: String): Unit =
      System.err.println(f"[cdcbench]   $tag: $what at +${(System.nanoTime() - born) / 1e9}%.1f s")
    mark("preloaded")
    val standIn = if (wl.wire) Some(new RespStandIn(backend)) else None
    val url = standIn.map(_.url).getOrElse(s"mem://$ns")

    val spark = GraftSession.local(2)
    val progress = new ConcurrentLinkedQueue[Epoch]()
    @volatile var startedNs = 0L
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit = startedNs = System.nanoTime()
      override def onQueryProgress(e: QueryProgressEvent): Unit = {
        val p = e.progress
        if (p.numInputRows > 0) {
          val src = p.sources.head
          progress.add(Epoch(p.batchId, java.time.Instant.parse(p.timestamp).toEpochMilli,
            p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
            p.numInputRows, Offsets.parse(src.startOffset), Offsets.parse(src.endOffset),
            BenchThreads.planeCpu()))
        }
      }
      override def onQueryIdle(e: QueryIdleEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    })
    val trace = if (traced) Some(new TraceListener) else None
    trace.foreach(t => spark.sparkContext.addSparkListener(t))

    val targetStreams = wl.targets.map(Workloads.TargetPrefix + _)
    val consumer = new Consumer(backend, targetStreams)
    consumer.start()

    val clockOffsetMs = System.currentTimeMillis() - System.nanoTime() / 1e6
    val once = !setupOnly && (!wl.openLoop || backlogOverride.isDefined)
    val args = Array("watch", "--config", cfgPath.toString, "--source", "redis",
      "--sink", "redis", "--in", url, "--url", url, "--target-url", url,
      "--checkpoint", dir.resolve("ckpt").toString) ++ (if (once) Array("--once") else Array[String]())

    val generator = if (once || setupOnly) None else Some(new OpenLoop(System.nanoTime()))
    generator.foreach(_.start())
    val invokeNs = System.nanoTime()
    @volatile var failure: Throwable = null
    val mainThread = new Thread(() =>
      try graft.Main.main(args) catch { case t: Throwable => failure = t }, "watch-main")
    mainThread.start()

    if (!once) {
      val last = wl.warmEpochs + measuredEpochs - 1
      val deadline = System.nanoTime() + 170L * 1000000000L
      def done = if (setupOnly) startedNs != 0L else progress.asScala.exists(_.batchId >= last)
      while (!done && failure == null && mainThread.isAlive && System.nanoTime() < deadline)
        Thread.sleep(5)
      generator.foreach(_.halt())
      Thread.sleep(200) // the consumer sees the last epoch's chunks
      // Main stops the session once the query ends; a stop() racing that
      // sees the context already stopped, which is harmless
      spark.streams.active.foreach(q =>
        try q.stop() catch { case _: IllegalStateException => () })
    }
    mainThread.join()
    mark("watch returned")
    generator.foreach(_.halt())
    consumer.halt()
    standIn.foreach(_.close())
    if (failure != null) throw new RuntimeException(s"watch round $tag failed", failure)

    val retained = streams.map(backend.xlen).sum
    val wire = standIn.map(_.commands.asScala.toSeq).getOrElse(Seq.empty)
    val data = RoundData(wl, invokeNs, startedNs, progress.asScala.toSeq.sortBy(_.batchId),
      logs, consumer.chunks, wire, standIn.map(_.connections.get).getOrElse(0L), retained,
      trace, clockOffsetMs, logs.map(_.bytes).sum)
    InMemoryRedis.reset(ns)
    data
  }

  /** Open-loop generator: entry `i` is due at `t0 + i / rate`, round-robin
    * over the streams; it never slows down when the plane does.
    */
  private final class OpenLoop(t0: Long) extends Thread("open-loop-gen") {
    @volatile private var running = true
    setDaemon(true)
    def halt(): Unit = { running = false; join() }
    override def run(): Unit = {
      BenchThreads.enter()
      val step = 1e9 / wl.rate
      var i = 0L
      while (running) {
        val due = t0 + (i * step).toLong
        var now = System.nanoTime()
        while (now < due && running) { LockSupport.parkNanos(due - now); now = System.nanoTime() }
        if (running) append((i % streams.size).toInt, due)
        i += 1
      }
    }
  }
}

/** Polls every target stream of the store and stamps each entry with the
  * time it was first seen: `(RedisId.ms, ids, seenNs)` per stream.
  */
final class Consumer(backend: InMemoryRedis, streams: Seq[String]) extends Thread("target-consumer") {
  @volatile private var running = true
  private val seen = streams.map(_ -> ArrayBuffer[(Long, String, Long)]()).toMap
  private val cursor = scala.collection.mutable.Map(streams.map(_ -> RedisId.Zero): _*)
  setDaemon(true)

  private def poll(): Unit = streams.foreach { s =>
    val es = backend.xrange(s, cursor(s), RedisId(-1L, -1L), Int.MaxValue)
    if (es.nonEmpty) {
      val t = System.nanoTime()
      es.foreach { case (id, body) => seen(s) += ((id.ms, body.getOrElse("ids", ""), t)) }
      cursor(s) = es.last._1
    }
  }

  override def run(): Unit = {
    BenchThreads.enter()
    while (running) { poll(); Thread.sleep(1) }
    poll()
  }

  def halt(): Unit = { running = false; join() }
  def chunks: Map[String, Seq[(Long, String, Long)]] = seen.map { case (k, v) => k -> v.toSeq }
}

/** The source's offset JSON: `{"<stream>":"<ms>-<seq>", ...}` → ms per stream. */
object Offsets {
  private val Pair = "\"([^\"]+)\"\\s*:\\s*\"(\\d+)-(\\d+)\"".r
  def parse(json: String): Map[String, Long] =
    if (json == null) Map.empty
    else Pair.findAllMatchIn(json).map(m => m.group(1) -> m.group(2).toLong).toMap
}
