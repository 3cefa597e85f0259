package graft.cdc

import java.nio.ByteBuffer

import graft.sources.RedisId
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.GraftBridge.{column, expression}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Working buffer of [[KeepFirstChunksAgg]]: entity id → its first offset,
  * an open-addressing long-keyed map (parallel primitive arrays, linear
  * probing) so a repeated hot key costs one probe and no allocation.
  * Offsets are kept as (hi, lo) pairs already encoded for signed comparison.
  */
final class FirstOffsets(expected: Int = 8) {
  private var cap = Integer.highestOneBit(math.max(16, expected * 2 - 1)) << 1
  private var used = new Array[Boolean](cap)
  private var keys = new Array[Long](cap)
  private var his = new Array[Long](cap)
  private var los = new Array[Long](cap)
  var size = 0

  private def slot(k: Long): Int = {
    val h = k * 0x9E3779B97F4A7C15L
    (h ^ (h >>> 32)).toInt & (cap - 1)
  }

  /** Record an arrival of `entity` at offset (hi, lo); the smaller offset wins. */
  def offer(entity: Long, hi: Long, lo: Long): Unit = {
    var i = slot(entity)
    while (used(i) && keys(i) != entity) i = (i + 1) & (cap - 1)
    if (!used(i)) {
      used(i) = true; keys(i) = entity; his(i) = hi; los(i) = lo
      size += 1
      if (size * 2 > cap) grow()
    } else if (hi < his(i) || (hi == his(i) && lo < los(i))) {
      his(i) = hi; los(i) = lo
    }
  }

  private def grow(): Unit = {
    val (u, k, h, l) = (used, keys, his, los)
    cap <<= 1
    used = new Array[Boolean](cap); keys = new Array[Long](cap)
    his = new Array[Long](cap); los = new Array[Long](cap)
    size = 0
    var i = 0
    while (i < u.length) { if (u(i)) offer(k(i), h(i), l(i)); i += 1 }
  }

  def foreach(f: (Long, Long, Long) => Unit): Unit = {
    var i = 0
    while (i < cap) { if (used(i)) f(keys(i), his(i), los(i)); i += 1 }
  }
}

/** Keep-first dedupe and ≤`maxBatch` chunking of one group (one target) in
  * a single imperative aggregate — the reference's
  * `Collectors.toMap(entityId, identity, (a,b) -> a)` followed by its
  * ≤1000-id `XADD` arrays (WatchStream.java:272-293):
  *
  *   - `update` (map side) keeps each distinct entity's smallest offset, so
  *     the exchange ships one compact buffer per (task, group), not a row
  *     per routed record;
  *   - `merge` keeps the smaller offset per entity;
  *   - `eval` orders the survivors by (offset, entity), cuts consecutive
  *     chunks of ≤ `maxBatch`, and renders each chunk's ids in ascending
  *     order as a JSON array: `[(chunk_no, ids, n_ids)]`.
  *
  * Offsets order numerically, never as text: an integral offset compares as
  * a number, a `ms-seq` string as the [[RedisId]] it parses to (unsigned
  * ms, then seq). A null offset sorts first. The entity id breaks ties (the
  * same offset in two streams), so a replayed epoch cuts the same chunks
  * whichever order its partial buffers merge in. Null entities are skipped.
  *
  * Memory: a buffer holds one group's distinct entities, three longs each
  * in a map kept at most half full; 24 bytes each on the wire.
  */
case class KeepFirstChunksAgg(
    entity: Expression, offset: Expression, maxBatch: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[FirstOffsets] with BinaryLike[Expression] {

  require(maxBatch > 0, s"maxBatch must be positive, got $maxBatch")

  override def left: Expression = entity
  override def right: Expression = offset
  override def prettyName: String = "keep_first_chunks"
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("chunk_no", LongType, nullable = false),
    StructField("ids", StringType, nullable = false),
    StructField("n_ids", LongType, nullable = false))), containsNull = false)
  override def nullable: Boolean = false

  private def integral(t: DataType): Boolean = t match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (!integral(entity.dataType))
      TypeCheckResult.TypeCheckFailure(s"entity must be integral, got ${entity.dataType}")
    else if (!integral(offset.dataType) && offset.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(
        s"offset must be integral or a ms-seq string, got ${offset.dataType}")
    else TypeCheckResult.TypeCheckSuccess

  private lazy val textOffset = offset.dataType == StringType

  override def createAggregationBuffer(): FirstOffsets = new FirstOffsets

  override def update(buf: FirstOffsets, input: InternalRow): FirstOffsets = {
    val e = entity.eval(input)
    if (e != null) {
      val id = e.asInstanceOf[Number].longValue
      val o = offset.eval(input)
      if (o == null) buf.offer(id, Long.MinValue, Long.MinValue)
      else if (textOffset) KeepFirstChunksAgg.offerText(buf, id, o.asInstanceOf[UTF8String])
      else buf.offer(id, o.asInstanceOf[Number].longValue, 0L)
    }
    buf
  }

  override def merge(buf: FirstOffsets, other: FirstOffsets): FirstOffsets = {
    other.foreach(buf.offer)
    buf
  }

  override def eval(buf: FirstOffsets): Any = {
    val n = buf.size
    val (ents, his, los) = (new Array[Long](n), new Array[Long](n), new Array[Long](n))
    var i = 0
    buf.foreach { (e, h, l) => ents(i) = e; his(i) = h; los(i) = l; i += 1 }
    val byArrival = Array.tabulate[Integer](n)(i => Integer.valueOf(i))
    java.util.Arrays.sort(byArrival, (a: Integer, b: Integer) => {
      val c = java.lang.Long.compare(his(a), his(b))
      if (c != 0) c
      else {
        val d = java.lang.Long.compare(los(a), los(b))
        if (d != 0) d else java.lang.Long.compare(ents(a), ents(b))
      }
    })
    val chunks = new Array[Any]((n + maxBatch - 1) / maxBatch)
    var c = 0
    while (c < chunks.length) {
      val from = c * maxBatch
      val ids = Array.tabulate(math.min(maxBatch, n - from))(j => ents(byArrival(from + j)))
      java.util.Arrays.sort(ids)
      chunks(c) = new GenericInternalRow(Array[Any](
        c.toLong, KeepFirstChunksAgg.render(ids), ids.length.toLong))
      c += 1
    }
    new GenericArrayData(chunks)
  }

  override def serialize(buf: FirstOffsets): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + 24 * buf.size)
    bb.putInt(buf.size)
    buf.foreach { (e, h, l) => bb.putLong(e).putLong(h).putLong(l) }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): FirstOffsets = {
    val bb = ByteBuffer.wrap(bytes)
    var n = bb.getInt()
    val buf = new FirstOffsets(n)
    while (n > 0) { buf.offer(bb.getLong(), bb.getLong(), bb.getLong()); n -= 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(o: Int): KeepFirstChunksAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): KeepFirstChunksAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): KeepFirstChunksAgg = copy(entity = l, offset = r)
}

object KeepFirstChunksAgg {
  /** Offer a `ms-seq` (or bare `ms`) offset, read by [[RedisId.parse]]
    * from the UTF-8 bytes in place. Both parts are unsigned, as in Redis;
    * flipping the sign bit makes the signed comparison in [[FirstOffsets]]
    * an unsigned one.
    */
  private def offerText(buf: FirstOffsets, entity: Long, s: UTF8String): Unit = {
    val id = s.getBaseObject match {
      case b: Array[Byte] =>
        val from = (s.getBaseOffset - Platform.BYTE_ARRAY_OFFSET).toInt
        RedisId.parse(b, from, from + s.numBytes)
      case _ =>
        val b = s.getBytes
        RedisId.parse(b, 0, b.length)
    }
    buf.offer(entity, id.ms ^ Long.MinValue, id.seq ^ Long.MinValue)
  }

  /** `[id,id,...]`, the reference's `{"ids": "[1,2,3]"}` payload. */
  private def render(ids: Array[Long]): UTF8String = {
    val sb = new java.lang.StringBuilder(2 + ids.length * 8).append('[')
    var i = 0
    while (i < ids.length) {
      if (i > 0) sb.append(',')
      sb.append(ids(i))
      i += 1
    }
    UTF8String.fromString(sb.append(']').toString)
  }
}

/** Output batching — the reference's ≤1000-id JSON-array records
  * (WatchStream.java:284-293), fused with its keep-first dedupe.
  *
  * One hash aggregate grouped by target does both: the partial side dedupes
  * map-side, one exchange on `target` moves a compact buffer per (task,
  * target), and the final side cuts and renders the chunks. No sort, window
  * or second exchange. The output is hash-partitioned by target, so a writer
  * that repartitions by target (as [[graft.streaming.RedisStreamsSink]]
  * does) reuses that partitioning instead of shuffling again.
  *
  * Memory bound: one task holds one target's distinct ids for the batch.
  * In `watch` that is at most Σ `buffers.source.size` over the streams that
  * feed the target — the role of the reference's 100k dedupe buffer. A hot
  * target is a single task; its cost is one hash probe per routed row
  * (map side, spread over every input task) plus an O(d log d) sort of its
  * d survivors.
  */
object Batcher {

  /** Keep the first arrival per (target, id) by `order`, then chunk each
    * target's survivors in arrival order into consecutive chunks of
    * ≤ `maxSize`, each serialized as a JSON int array in ascending id order.
    * Output: (`targetCol`, chunk_no, ids, n_ids); rows with a null id are
    * dropped. `order` must be integral or a `ms-seq` string (see
    * [[KeepFirstChunksAgg]]).
    */
  def keepFirstChunks(df: DataFrame, targetCol: String, idCol: String,
                      maxSize: Int, order: Column): DataFrame =
    df.groupBy(col(targetCol))
      .agg(column(KeepFirstChunksAgg(expression(col(idCol)), expression(order), maxSize)
        .toAggregateExpression()).as("_chunks"))
      .select(col(targetCol), inline(col("_chunks")))
}
