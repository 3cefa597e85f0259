package graft.sources

import java.util
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxFiles, SupportsAdmissionControl}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** Custom DSv2 micro-batch source — the engine's stand-in for the
  * reference's Redis-stream consumer (RedisSource.java:72-93), over a
  * directory of append-only log segments.
  *
  * Contract: `path` contains segment files named `<table>.<seq>.log` with
  * `seq` GLOBALLY monotonically increasing (like Redis's ms-based RecordIds;
  * the reference's one stream per watched table, WatchStream.java:323).
  * Each line is one Debezium envelope.
  * Emitted schema = the engine's CDC record contract:
  * `id STRING, table STRING, envelope STRING` with `id` a zero-padded
  * `<seq>-<line>` ([[CdcDirectorySource.recordId]]) in Redis's `ms-seq`
  * RecordId form, so keep-first orders it numerically like a Redis id; the
  * fixed width only keeps the string sortable as well.
  *
  * Semantics carried over from the reference:
  *   - S1 consumer-group attach ⇒ `initialOffset` (idempotent, starts
  *     before segment 0).
  *   - S2 `XREADGROUP` batch ⇒ Spark's read limit: `latestOffset` plans each
  *     micro-batch from the start offset Spark hands it, capped at
  *     `maxSegmentsPerTrigger` segments (`buffers.source.size` analogue), so
  *     a restarted query resumes from its checkpoint, exactly like
  *     [[RedisStreamsSource]].
  *   - A5 `XACK` ⇒ `commit(offset)`: Spark calls it exactly when every sink
  *     of the epoch has written — the whole ref-counted countdown (F1,
  *     A1–A7) collapses into this one callback.
  *   - A6 conditional `XDEL` ⇒ `acknowledge=delete` option: committed
  *     segments are removed from the directory in `commit` (retention
  *     trimming at the source, like the reference's delete mode).
  *
  * Scale notes: one input partition per segment (at 100 TB: thousands of
  * segments ⇒ full scan parallelism, no shuffle); a segment is read by
  * exactly one task; offsets are a total order over segment sequence
  * numbers, checkpointed in the offset WAL like any DSv2 stream.
  */
class CdcDirectorySource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-cdc"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    CdcDirectorySource.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table = {
    // Spark hands over asCaseSensitiveMap here — re-wrap so option lookup is
    // case-insensitive like everywhere else in DSv2 (callers write
    // `maxSegmentsPerTrigger`).
    val opts = new CaseInsensitiveStringMap(properties)
    val path = opts.get("path")
    require(path != null, "option 'path' is required")
    val acknowledge = Option(opts.get("acknowledge")).getOrElse("simple")
    val maxPerTrigger =
      Option(opts.get("maxSegmentsPerTrigger")).map(_.toInt).getOrElse(Int.MaxValue)
    new CdcTable(s"graft-cdc:$path",
      () => new CdcDirectoryStream(path, acknowledge, maxPerTrigger))
  }
}

object CdcDirectorySource {
  val schema: StructType = StructType(Seq(
    StructField("id", StringType, nullable = false),
    StructField("table", StringType, nullable = false),
    StructField("envelope", StringType, nullable = false)))

  // <table>.<seq>.log with the LAST two dots as separators, so table names
  // containing '.' (e.g. `m2.m2.catalog_product_entity`) parse correctly.
  private val SegmentName = """(.+)\.(\d+)\.log""".r

  /** Segment files sorted by (seq, table): the stream's total order. */
  def segments(dir: String): Seq[SegmentFile] = {
    val d = new java.io.File(dir)
    val fs = Option(d.listFiles()).getOrElse(Array.empty)
    fs.iterator.map(_.getName).flatMap {
      case SegmentName(table, seq) =>
        Some(SegmentFile(table, seq.toLong, new java.io.File(d, s"$table.$seq.log").getPath))
      case _ => None
    }.toSeq.sortBy(s => (s.seq, s.table))
  }

  /** Record offset id: zero-padded `<seq>-<line>`. Keep-first parses it as
    * an `ms-seq` id and orders it numerically; the fixed width makes plain
    * string order agree with that (a bare "10-3" < "9-1" would not).
    */
  def recordId(seq: Long, line: Long): String = f"$seq%012d-$line%09d"

  case class SegmentFile(table: String, seq: Long, path: String)
}

/** The one DSv2 table shell of both CDC sources: a micro-batch-only table
  * over [[CdcDirectorySource.schema]] whose scan opens `stream()`.
  */
private[sources] class CdcTable(tableName: String, stream: () => MicroBatchStream)
    extends Table with SupportsRead {
  override def name(): String = tableName
  override def schema(): StructType = CdcDirectorySource.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder with Scan {
      override def build(): Scan = this
      override def readSchema(): StructType = CdcDirectorySource.schema
      override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream = stream()
    }
}

/** Offset = highest segment `seq` fully consumed — durable under
  * delete-mode retention (a deleted segment's seq never reappears), unlike a
  * positional count over the live directory listing.
  */
private case class SegOffset(n: Long) extends Offset {
  override def json(): String = n.toString
}

private class CdcDirectoryStream(path: String, acknowledge: String,
                                 maxPerTrigger: Int)
    extends MicroBatchStream with SupportsAdmissionControl {
  import CdcDirectorySource._

  // S1: attach BEFORE the first possible segment — a `<table>.0.log` is
  // readable (planInputPartitions filters seq > start, so starting at 0
  // would silently skip it).
  override def initialOffset(): Offset = SegOffset(-1L)
  override def deserializeOffset(json: String): Offset = SegOffset(json.toLong)

  override def getDefaultReadLimit: ReadLimit =
    if (maxPerTrigger == Int.MaxValue) ReadLimit.allAvailable()
    else ReadLimit.maxFiles(maxPerTrigger)

  override def latestOffset(): Offset = throw new UnsupportedOperationException(
    "latestOffset(Offset, ReadLimit) should be called instead of this method")

  /** The seq of the last of the first `cap` segments after `start`, or
    * `start` if there are none. */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val from = start.asInstanceOf[SegOffset].n
    val after = segments(path).map(_.seq).filter(_ > from)
    val admitted = limit match {
      case cap: ReadMaxFiles => after.take(cap.maxFiles)
      case _ => after
    }
    SegOffset(admitted.lastOption.getOrElse(from))
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[SegOffset].n
    val e = end.asInstanceOf[SegOffset].n
    segments(path).filter(seg => seg.seq > s && seg.seq <= e)
      .map(seg => SegmentPartition(seg.table, seg.seq, seg.path): InputPartition)
      .toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    (p: InputPartition) => {
      val seg = p.asInstanceOf[SegmentPartition]
      new PartitionReader[InternalRow] {
        private val lines = scala.io.Source.fromFile(seg.path, "UTF-8")
        private val it = lines.getLines()
        private var lineNo = -1L
        private var current: String = _
        override def next(): Boolean =
          if (it.hasNext) { current = it.next(); lineNo += 1; true } else false
        override def get(): InternalRow =
          InternalRow(UTF8String.fromString(recordId(seg.seq, lineNo)),
            UTF8String.fromString(seg.table),
            UTF8String.fromString(current))
        override def close(): Unit = lines.close()
      }
    }

  /** A5 XACK / A6 XDEL: called by the engine only after every sink of the
    * epoch has durably written — delete-mode retention trims acked segments.
    */
  override def commit(end: Offset): Unit = {
    val n = end.asInstanceOf[SegOffset].n
    if (acknowledge == "delete")
      segments(path).filter(_.seq <= n)
        .foreach(s => new java.io.File(s.path).delete())
  }

  override def stop(): Unit = ()
}

private case class SegmentPartition(table: String, seq: Long, path: String)
  extends InputPartition
