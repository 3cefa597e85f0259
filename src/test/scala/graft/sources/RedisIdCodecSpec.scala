package graft.sources

import java.io.{ByteArrayInputStream, InputStream}
import java.nio.charset.StandardCharsets.UTF_8

import scala.util.Try

import com.fasterxml.jackson.databind.ObjectMapper
import graft.TestSpark
import graft.cdc.{Batcher, FirstOffsets, KeepFirstChunksAgg}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

/** Every reader of a `ms-seq` entry id gives the same answer on the same
  * text: a checkpoint offset (`RedisOffset.parse`), a server reply
  * (`RespReader.id`) and a routed row's text offset (the keep-first
  * aggregate) accept and reject the same ids and read the same `(ms, seq)`
  * as [[RedisId.parse]].
  */
class RedisIdCodecSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._
  import RedisIdCodecSpec._

  /** (text, the (ms, seq) it reads as, or None if it is not an id). */
  private val cases: Seq[(String, Option[(Long, Long)])] = Seq(
    "0-0" -> Some((0L, 0L)),
    "0" -> Some((0L, 0L)),
    "5" -> Some((5L, 0L)),
    "1-2" -> Some((1L, 2L)),
    "10-0" -> Some((10L, 0L)),
    "1700000000000-10" -> Some((1700000000000L, 10L)),
    "007-08" -> Some((7L, 8L)),
    "00000000000000000000001-1" -> Some((1L, 1L)),
    "9223372036854775807-9223372036854775808" -> Some((Long.MaxValue, Long.MinValue)),
    "18446744073709551615" -> Some((-1L, 0L)),
    "18446744073709551615-18446744073709551615" -> Some((-1L, -1L)),
    "18446744073709551616-0" -> None,
    "0-18446744073709551616" -> None,
    "18446744073709551620-0" -> None,
    "99999999999999999999-0" -> None,
    "100000000000000000000-0" -> None,
    "" -> None,
    "-" -> None,
    "1-" -> None,
    "-1" -> None,
    "+5-0" -> None,
    "1-+2" -> None,
    "1--2" -> None,
    "1-2-3" -> None,
    " 1-2" -> None,
    "1-2 " -> None,
    "1.5-0" -> None,
    "a-1" -> None,
    "1-a" -> None,
    "١-0" -> None) // ARABIC-INDIC DIGIT ONE

  private def viaOffset(text: String): Option[(Long, Long)] = Try {
    val json = new ObjectMapper().writeValueAsString(java.util.Map.of("s", text))
    RedisOffset.parse(json).ends("s")
  }.toOption.map(pair)

  /** `text` as a RESP bulk string, read by the reply walker from `in`. */
  private def viaReply(text: String, in: Array[Byte] => InputStream): Option[(Long, Long)] = {
    val b = text.getBytes(UTF_8)
    Try(new RespReader(in(s"$$${b.length}\r\n".getBytes(UTF_8) ++ b ++ "\r\n".getBytes(UTF_8))).id())
      .toOption.map(pair)
  }

  /** The keep-first aggregate's (ms, seq) for `s`, undoing its sign flip. */
  private def viaAgg(s: UTF8String): Option[(Long, Long)] = {
    val agg = KeepFirstChunksAgg(BoundReference(0, LongType, nullable = false),
      BoundReference(1, StringType, nullable = true), maxBatch = 1)
    Try {
      val buf = agg.update(new FirstOffsets, InternalRow(1L, s))
      var out = (0L, 0L)
      buf.foreach((_, hi, lo) => out = (hi ^ Long.MinValue, lo ^ Long.MinValue))
      out
    }.toOption
  }

  /** `text`'s UTF-8 bytes outside the Java heap, as a column vector in
    * off-heap memory holds them. */
  private def offHeap[A](text: String)(f: UTF8String => A): A = {
    val b = text.getBytes(UTF_8)
    val address = Platform.allocateMemory(math.max(b.length, 1).toLong)
    try {
      Platform.copyMemory(b, Platform.BYTE_ARRAY_OFFSET, null, address, b.length.toLong)
      f(UTF8String.fromAddress(null, address, b.length))
    } finally Platform.freeMemory(address)
  }

  test("every ms-seq reader accepts and reads each id as RedisId.parse does") {
    val wrong = cases.flatMap { case (text, want) =>
      val routes = Seq(
        "RedisId.parse" -> Try(RedisId.parse(text)).toOption.map(pair),
        "RedisOffset.parse" -> viaOffset(text),
        "RespReader.id" -> viaReply(text, new ByteArrayInputStream(_)),
        "RespReader.id, one byte per read" -> viaReply(text, b => new Trickle(b)),
        "keep_first_chunks" -> viaAgg(UTF8String.fromString(text)),
        "keep_first_chunks, off-heap" -> offHeap(text)(viaAgg))
      routes.collect { case (route, got) if got != want => s"'$text' via $route: $got, want $want" }
    }
    assert(wrong.isEmpty, wrong.mkString("\n"))
  }

  test("Batcher.keepFirstChunks over a one-row DataFrame accepts exactly the ids") {
    val wrong = cases.flatMap { case (text, want) =>
      val df = Seq((1L, text)).toDF("entity", "offset").withColumn("target", lit("t"))
      val ok = Try(Batcher.keepFirstChunks(df, "target", "entity", 1000, col("offset")).collect()).isSuccess
      Option.when(ok != want.isDefined)(s"'$text': accepted $ok, want ${want.isDefined}")
    }
    assert(wrong.isEmpty, wrong.mkString("\n"))
  }

  test("an id read across a buffer refill") {
    val id = "1700000000000-12"
    for (pad <- RespReader.BufferSize - 24 to RespReader.BufferSize - 4) {
      val reply = s"$$$pad\r\n${"x" * pad}\r\n$$${id.length}\r\n$id\r\n$$1\r\ny\r\n".getBytes(UTF_8)
      val r = new RespReader(new ByteArrayInputStream(reply))
      r.skipBulk()
      assert(r.id() == RedisId(1700000000000L, 12L), s"pad $pad")
      assert(r.string() == "y", s"pad $pad")
    }
  }
}

object RedisIdCodecSpec {
  def pair(id: RedisId): (Long, Long) = (id.ms, id.seq)

  /** Hands out one byte per read, so every multi-byte token spans reads. */
  final class Trickle(b: Array[Byte]) extends InputStream {
    private var i = 0
    override def read(): Int = if (i < b.length) { i += 1; b(i - 1) & 0xFF } else -1
    override def read(out: Array[Byte], off: Int, len: Int): Int =
      if (i >= b.length) -1 else if (len == 0) 0 else { out(off) = b(i); i += 1; 1 }
  }
}
