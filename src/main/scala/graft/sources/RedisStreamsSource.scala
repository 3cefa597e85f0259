package graft.sources

import java.util
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DSv2 micro-batch source over Redis Streams — the production counterpart
  * of [[CdcDirectorySource]], implementing the reference's actual I/O plane
  * (consumer-group reads RedisSource.java:72-93; XACK + conditional XDEL
  * after full downstream completion WatchStream.java:193-220).
  *
  * Emits the engine's CDC record contract, identical to the directory
  * source so the whole CDC plane ([[graft.cdc.CdcPipeline]] etc.) runs
  * unchanged on either: `id STRING` (the Redis `ms-seq` RecordId), `table
  * STRING` (stream name minus the configured prefix, WatchStream.java:323's
  * `<source.prefix><table>` naming inverted), `envelope STRING` (the
  * Debezium JSON; compact vs extended wire format detected PER RECORD by
  * field count exactly like RedisSource.java:58-62).
  *
  * Offset model: one `RedisId` high-water mark per stream, checkpointed in
  * Spark's offset WAL. The reference's at-least-once machinery (consumer
  * group PEL + per-record ref-count countdown, F1/A1-A7) collapses into the
  * epoch contract: a batch's (start, end] ranges replay deterministically
  * via XRANGE until the epoch commits, and `commit()` then XACKs every id
  * of the epoch — "every target wrote or discarded" is exactly Spark's
  * epoch-commit condition. `acknowledge=delete` additionally XDELs acked
  * ids (A6 retention).
  *
  * Scale notes: one input partition per stream per trigger — parallelism
  * follows stream fan-in like the reference's per-table fluxes (S3). Reads
  * are COUNT-batched ranges; executors open their own connections (the
  * driver's handle never crosses the wire). Offset planning reads ONLY ids
  * (capped by maxRecordsPerTrigger); entry bodies move executor-side.
  */
class RedisStreamsSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-redis"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    CdcDirectorySource.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    val url = opts.get("url")
    require(url != null, "option 'url' is required (mem://name or redis://host:port)")
    val streams = Option(opts.get("streams")).map(_.split(",").map(_.trim).toSeq)
      .getOrElse(Seq.empty)
    require(streams.nonEmpty, "option 'streams' is required (comma-separated)")
    new RedisStreamsTable(RedisStreamsConfig(
      url = url,
      streams = streams,
      group = Option(opts.get("group")).getOrElse("graft"),
      prefix = Option(opts.get("prefix")).getOrElse(""),
      acknowledge = Option(opts.get("acknowledge")).getOrElse("simple"),
      maxRecordsPerTrigger =
        Option(opts.get("maxRecordsPerTrigger")).map(_.toInt).getOrElse(Int.MaxValue)))
  }
}

private[sources] object RedisStreamsSource {
  /** COUNT of every paged XRANGE: the reference's per-poll read size
    * (RedisSource.java:72-93). */
  val ReadCount = 1000
}

private[sources] case class RedisStreamsConfig(
    url: String, streams: Seq[String], group: String, prefix: String,
    acknowledge: String, maxRecordsPerTrigger: Int)

private class RedisStreamsTable(cfg: RedisStreamsConfig)
    extends Table with SupportsRead {
  override def name(): String = s"graft-redis:${cfg.url}"
  override def schema(): StructType = CdcDirectorySource.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = CdcDirectorySource.schema
        override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
          new RedisStreamsStream(cfg)
      }
    }
}

/** Per-stream high-water marks, JSON `{"<stream>":"<ms-seq>", ...}` with
  * keys sorted for a stable WAL representation.
  */
private[sources] case class RedisOffset(ends: Map[String, RedisId]) extends Offset {
  override def json(): String = ends.toSeq.sortBy(_._1).map { case (s, id) =>
    "\"" + RedisOffset.esc(s) + "\":\"" + id + "\""
  }.mkString("{", ",", "}")
}

private[sources] object RedisOffset {
  def esc(s: String): String =
    s.flatMap { case '"' => "\\\""; case '\\' => "\\\\"; case c => c.toString }

  /** Parse the json() form (flat string-to-string object). */
  def parse(json: String): RedisOffset = {
    val inner = json.trim.stripPrefix("{").stripSuffix("}")
    if (inner.isEmpty) RedisOffset(Map.empty)
    else {
      // split on "," BETWEEN quoted tokens: scan, honoring backslash escapes
      val pairs = scala.collection.mutable.ListBuffer[(String, String)]()
      val cur = new StringBuilder
      var tokens = Vector[String]()
      var inStr = false
      var i = 0
      while (i < inner.length) {
        val c = inner.charAt(i)
        if (inStr) c match {
          case '\\' => cur.append(inner.charAt(i + 1)); i += 1
          case '"' => inStr = false; tokens :+= cur.toString; cur.clear()
          case other => cur.append(other)
        } else if (c == '"') inStr = true
        i += 1
      }
      tokens.grouped(2).foreach { case Seq(k, v) => pairs += (k -> v); case _ => () }
      RedisOffset(pairs.map { case (k, v) => k -> RedisId.parse(v) }.toMap)
    }
  }
}

private class RedisStreamsStream(cfg: RedisStreamsConfig) extends MicroBatchStream {

  private lazy val conn: RedisConn = {
    val c = RedisConn.open(cfg.url)
    // S1 consumer-group attach from 0-0, idempotent (BUSYGROUP swallowed)
    cfg.streams.foreach(s => c.xgroupCreate(s, cfg.group, RedisId.Zero))
    c
  }

  override def initialOffset(): Offset =
    RedisOffset(cfg.streams.map(_ -> RedisId.Zero).toMap)

  override def deserializeOffset(json: String): Offset = RedisOffset.parse(json)

  // latestOffset must be monotone per stream across calls within a run
  @volatile private var lastEnds: Map[String, RedisId] = Map.empty
  // ids below this are already XACKed (advanced in commit); re-acking after
  // a restart is harmless (XACK is idempotent) so this is just an optimization
  @volatile private var lastCommitted: Map[String, RedisId] = Map.empty

  override def latestOffset(): Offset = {
    val ends = cfg.streams.map { s =>
      val prev = lastEnds.getOrElse(s, RedisId.Zero)
      val end =
        if (cfg.maxRecordsPerTrigger == Int.MaxValue)
          conn.xlatestId(s).filter(_ > prev).getOrElse(prev)
        else {
          // S2 XREADGROUP COUNT analogue: cap the batch at N records by
          // scanning at most N ids past the previous end
          val batch = conn.xrange(s, prev, RedisId(-1L, -1L), cfg.maxRecordsPerTrigger)
          if (batch.nonEmpty) batch.last._1 else prev
        }
      s -> (if (end > prev) end else prev)
    }.toMap
    lastEnds = ends
    RedisOffset(ends)
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[RedisOffset].ends
    val e = end.asInstanceOf[RedisOffset].ends
    cfg.streams.flatMap { stream =>
      val from = s.getOrElse(stream, RedisId.Zero)
      val to = e.getOrElse(stream, RedisId.Zero)
      if (to > from)
        Some(RedisStreamPartition(cfg.url, stream, cfg.prefix, from.toString,
          to.toString): InputPartition)
      else None
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    (p: InputPartition) => new RedisPartitionReader(p.asInstanceOf[RedisStreamPartition])

  /** A5 XACK (+ A6 XDEL under acknowledge=delete) for every id in the
    * committed epoch — Spark invokes this exactly when all sinks of the
    * epoch have durably written, which is the reference's "every target
    * wrote or discarded" ref-count completion condition.
    */
  override def commit(end: Offset): Unit = {
    val ends = end.asInstanceOf[RedisOffset].ends
    ends.foreach { case (stream, to) =>
      var from = lastCommitted.getOrElse(stream, RedisId.Zero)
      var batch = conn.xrange(stream, from, to, RedisStreamsSource.ReadCount)
      while (batch.nonEmpty) {
        val ids = batch.map(_._1)
        conn.xack(stream, cfg.group, ids)
        if (cfg.acknowledge == "delete") conn.xdel(stream, ids)
        from = ids.last
        batch = conn.xrange(stream, from, to, RedisStreamsSource.ReadCount)
      }
      lastCommitted += stream -> to
    }
  }

  override def stop(): Unit = conn.close()
}

private case class RedisStreamPartition(url: String, stream: String,
                                        prefix: String, fromExclusive: String,
                                        toInclusive: String)
  extends InputPartition

/** Executor-side range reader: pages through (from, to] with COUNT-bounded
  * XRANGEs on its own connection. Envelope extraction replicates the
  * reference's per-record wire-format detection (RedisSource.java:58-62):
  * one field → compact (the sole value IS the envelope); otherwise
  * extended (envelope under the `value` field).
  */
private class RedisPartitionReader(p: RedisStreamPartition)
    extends PartitionReader[InternalRow] {
  private val conn = RedisConn.open(p.url)
  private val table =
    if (p.prefix.nonEmpty && p.stream.startsWith(p.prefix))
      p.stream.stripPrefix(p.prefix)
    else p.stream
  private val to = RedisId.parse(p.toInclusive)
  private var cursor = RedisId.parse(p.fromExclusive)
  private var page: Iterator[(RedisId, Map[String, String])] = Iterator.empty
  private var pageExhausted = false
  private var current: (RedisId, Map[String, String]) = _

  override def next(): Boolean = {
    if (!page.hasNext && !pageExhausted) {
      val batch = conn.xrange(p.stream, cursor, to, RedisStreamsSource.ReadCount)
      if (batch.nonEmpty) cursor = batch.last._1
      if (batch.size < RedisStreamsSource.ReadCount) pageExhausted = true
      page = batch.iterator
    }
    if (page.hasNext) { current = page.next(); true } else false
  }

  override def get(): InternalRow = {
    val (id, body) = current
    val envelope =
      if (body.size == 1) body.head._2
      else body.getOrElse("value",
        throw new IllegalStateException(
          s"extended-format entry $id in ${p.stream} lacks a 'value' field"))
    InternalRow(UTF8String.fromString(id.toString),
      UTF8String.fromString(table), UTF8String.fromString(envelope))
  }

  override def close(): Unit = conn.close()
}
