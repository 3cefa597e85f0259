package graft.cdc

import java.nio.charset.StandardCharsets.UTF_8

import graft.TestSpark
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** `CdcPipeline.parseAndRoute`'s `entity_id`, `Envelope.entityId` and
  * `Envelope.rejects` against the reference route
  * (`element_at(from_json(envelope).after, column).try_cast("int")`,
  * [[CdcPlaneEquivalenceSpec.referenceRoute]]) on every input: a table of
  * the decode rules, each with the id `from_json` gives, and a seeded
  * byte-mutation fuzz of the compact, extended and events envelope shapes.
  * Envelopes are built as bytes, so invalid UTF-8 reaches the plane as is.
  */
class EnvelopeParitySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._
  import CdcPlaneEquivalenceSpec.referenceRoute
  import EnvelopeParitySpec._

  private val routes = Seq(
    ("t", "entity_id", "t1"), ("t", "entity_id", "t2"), ("t", "b", "t3"),
    ("compact", "entity_id", "t1"), ("compact", "entity_id", "t2"),
    ("extended", "entity_id", "t1"), ("extended", "c3", "t4"),
    ("t", "k", "t5"), ("events", "k", "t1")).toDF("table", "column", "target")

  /** (id, table, envelope bytes) as the plane's input, the envelope cast from
    * binary so its bytes reach the plane unchanged; `scan` puts the records
    * behind an RDD scan, where the plane runs as generated code (over a
    * local relation the optimizer evaluates it while planning).
    */
  private def records(rows: Seq[(Long, String, Array[Byte])], scan: Boolean): DataFrame = {
    val df = rows.toDF("id", "table", "body")
      .select(col("id"), col("table"), col("body").cast("string").as("envelope"))
    if (scan) spark.createDataFrame(df.rdd, df.schema) else df
  }

  private def routed(df: DataFrame): Map[(Long, String, String), Option[Int]] =
    df.select("id", "column", "target", "entity_id").collect().map { r =>
      (r.getLong(0), r.getString(1), r.getString(2)) ->
        (if (r.isNullAt(3)) None else Some(r.getInt(3)))
    }.toMap

  /** `f(column)` as `entity_id` for each (record, edge) of the routes: the
    * route of [[Envelope.entityId]] and [[Envelope.rejects]], which take
    * their column by name.
    */
  private def byColumn(recs: DataFrame)(f: String => Column): DataFrame =
    routes.select("column").distinct().as[String].collect().toSeq.map { c =>
      recs.join(broadcast(routes.filter(col("column") === c)), "table")
        .select(col("id"), col("column"), col("target"), f(c).as("entity_id"))
    }.reduce(_ union _)

  /** parseAndRoute, entityId and rejects agree with the reference route on
    * every (record, edge); parseAndRoute's ids are returned. */
  private def assertParity(rows: Seq[(Long, String, Array[Byte])], scan: Boolean)
      : Map[(Long, String, String), Option[Int]] = {
    val recs = records(rows, scan)
    val got = routed(CdcPipeline.parseAndRoute(recs, routes))
    val want = routed(referenceRoute(recs, routes))
    val byId = rows.map(r => r._1 -> r._3).toMap
    def diffs(route: String, got: Map[(Long, String, String), Any],
              want: Map[(Long, String, String), Any]): Seq[String] =
      (got.keySet ++ want.keySet).toSeq.sorted
        .filter(k => got.get(k) != want.get(k))
        .map(k => s"$route $k: ${got.get(k)} reference ${want.get(k)} for " +
          new String(byId(k._1), UTF_8).take(200))
    val all = diffs("parseAndRoute", got, want) ++
      diffs("Envelope.entityId", routed(byColumn(recs)(Envelope.entityId(col("envelope"), _))), want) ++
      diffs("Envelope.rejects",
        byColumn(recs)(Envelope.rejects(col("envelope"), _)).collect().map { r =>
          (r.getLong(0), r.getString(1), r.getString(2)) -> r.getBoolean(3)
        }.toMap,
        want.map { case (k, id) => k -> id.isEmpty })
    assert(all.isEmpty, s"${all.size} differences, first: ${all.take(5).mkString("\n")}")
    got
  }

  test("every decode rule gives from_json's entity_id") {
    val rows = cases.zipWithIndex.map { case ((_, e, _), i) => (i.toLong, "t", e) }
    for (scan <- Seq(false, true)) {
      val got = assertParity(rows, scan)
      val wrong = cases.zipWithIndex.collect {
        case ((rule, _, want), i) if got((i.toLong, "entity_id", "t1")) != want =>
          s"$rule: ${got((i.toLong, "entity_id", "t1"))}, want $want"
      }
      assert(wrong.isEmpty, s"scan=$scan\n${wrong.mkString("\n")}")
    }
  }

  test("seeded byte mutations of 12,000 canonical envelopes give from_json's entity_id") {
    val got = assertParity(fuzz(20261018L, 12000), scan = true)
    // mutations leave many envelopes valid and many broken
    val ids = got.values.toSeq
    assert(ids.count(_.isDefined) > 3000 && ids.count(_.isEmpty) > 3000)
  }
}

object EnvelopeParitySpec {
  def b(s: String): Array[Byte] = s.getBytes(UTF_8)
  def env(after: String): Array[Byte] = b(s"""{"before":null,"after":$after,"op":"u"}""")
  def bytes(xs: Int*): Array[Byte] = xs.map(_.toByte).toArray
  /** A backslash and `u`, which start a JSON unicode escape. */
  val U = "\\" + "u"

  /** (rule, envelope, the entity_id `from_json` gives for `entity_id`). */
  val cases: Seq[(String, Array[Byte], Option[Int])] = Seq(
    ("canonical compact", env("""{"entity_id":7}"""), Some(7)),
    ("canonical events", b("""{"before": null, "after": {"entity_id": 7}}"""), Some(7)),
    ("second routed column present", env("""{"b":"x","entity_id":7}"""), Some(7)),
    ("duplicate key in after: first wins", env("""{"entity_id":3,"entity_id":4}"""), Some(3)),
    ("duplicate after: last wins", b("""{"after":{"entity_id":3},"after":{"entity_id":4}}"""), Some(4)),
    ("duplicate after, routed k: last wins, no entity_id", b("""{"after":{"k":1},"after":{"k":2}}"""), None),
    ("duplicate after: last is null", b("""{"after":{"entity_id":3},"after":null}"""), None),
    ("duplicate after: last is not an object", b("""{"after":{"entity_id":3},"after":5}"""), Some(3)),
    ("after null", env("null"), None),
    ("after missing", b("""{"before":null,"op":"d"}"""), None),
    ("after a number", env("5"), None),
    ("after a string", env("\"x\""), None),
    ("after an array", env("""[{"entity_id":7}]"""), None),
    ("empty root", b("{}"), None),
    ("content after the root", b("""{"after":{"entity_id":7}} garbage"""), Some(7)),
    ("extra brace after the root", b("""{"after":{"entity_id":7}}}"""), Some(7)),
    ("syntax error after after", b("""{"after":{"entity_id":7},"op":tru}"""), None),
    ("trailing comma", b("""{"after":{"entity_id":7},}"""), None),
    ("trailing comma in after", env("""{"entity_id":7,}"""), None),
    ("leading zeros elsewhere", b("""{"after":{"entity_id":7},"x":007}"""), None),
    ("leading zeros wanted", env("""{"entity_id":07}"""), None),
    ("missing colon", b("""{"after" {"entity_id":7}}"""), None),
    ("truncated", b("""{"after":{"entity_id":7}"""), None),
    ("before not type-checked", b("""{"before":5,"after":{"entity_id":7}}"""), Some(7)),
    ("before not type-checked, lenient elsewhere",
      b("""{"before":5,"after":{"entity_id":7},"x":NaN}"""), Some(7)),
    ("single quotes", b("""{'after':{'entity_id':7}}"""), Some(7)),
    ("single-quoted wanted value", env("""{"entity_id":'7'}"""), Some(7)),
    ("NaN elsewhere", b("""{"after":{"entity_id":7},"x":NaN}"""), Some(7)),
    ("NaN wanted", env("""{"entity_id":NaN}"""), None),
    ("-Infinity wanted", env("""{"entity_id":-Infinity}"""), None),
    ("escape in root key", b(s"""{"aft${U}0065r":{"entity_id":7}}"""), Some(7)),
    ("escape in after key", env(s"""{"entity${U}005fid":7}"""), Some(7)),
    ("escaped wanted value", env(s"""{"entity_id":"${U}0037"}"""), Some(7)),
    ("escape in a skipped value", env("""{"entity_id":7,"s":"é\"\\\/\b\f\n\r\t"}"""), Some(7)),
    ("lone surrogate escape in a nested after value",
      env(s"""{"entity_id":7,"s":{"t":"${U}d800"}}"""), Some(7)),
    ("invalid escape", env("""{"entity_id":7,"s":"\q"}"""), None),
    ("non-ASCII wanted value", env("{\"entity_id\":\"7é\"}"), None),
    ("non-ASCII skipped value and key", env("{\"entity_id\":7,\"é\":\"中\"}"), Some(7)),
    ("fraction wanted", env("""{"entity_id":7.0}"""), None),
    ("exponent wanted", env("""{"entity_id":1e2}"""), None),
    ("true wanted", env("""{"entity_id":true}"""), None),
    ("object wanted", env("""{"entity_id":{"x":7}}"""), None),
    ("array wanted", env("""{"entity_id":[7]}"""), None),
    ("null wanted", env("""{"entity_id":null}"""), None),
    ("-0", env("""{"entity_id":-0}"""), Some(0)),
    ("negative", env("""{"entity_id":-12}"""), Some(-12)),
    ("quoted", env("""{"entity_id":"12"}"""), Some(12)),
    ("quoted with spaces", env("""{"entity_id":" 12 "}"""), Some(12)),
    ("quoted non-number", env("""{"entity_id":"x7"}"""), None),
    ("quoted empty", env("""{"entity_id":""}"""), None),
    ("beyond int", env("""{"entity_id":99999999999}"""), None),
    ("int max", env("""{"entity_id":2147483647}"""), Some(Int.MaxValue)),
    ("int min", env("""{"entity_id":-2147483648}"""), Some(Int.MinValue)),
    ("plus sign", env("""{"entity_id":+7}"""), None),
    ("fraction and exponent forms elsewhere",
      env("""{"entity_id":7,"f":[0,-1.5,2e10,3E-2,4.0e+1,-0.0]}"""), Some(7)),
    ("bad number forms elsewhere: 1.", env("""{"entity_id":7,"f":1.}"""), None),
    ("bad number forms elsewhere: .5", env("""{"entity_id":7,"f":.5}"""), None),
    ("bad number forms elsewhere: -", env("""{"entity_id":7,"f":-}"""), None),
    ("bad number forms elsewhere: 1x", env("""{"entity_id":7,"f":1x}"""), None),
    ("huge exponent elsewhere", env("""{"entity_id":7,"f":1e999999}"""), Some(7)),
    ("literal with trailing letters", env("""{"entity_id":7,"f":truex}"""), None),
    ("comment", b("""{"after":{"entity_id":7}/**/}"""), None),
    ("whitespace everywhere", b(" \t\r\n{ \"after\" : { \"entity_id\" : 7 } , \"op\" : \"u\" }"), Some(7)),
    ("vertical tab between tokens", b("{\"after\":{\"entity_id\":7},\u000b\"op\":\"u\"}"), None),
    ("control char in a skipped string", env("{\"entity_id\":7,\"s\":\"a\u0001b\"}"), None),
    ("control char in the wanted string", env("{\"entity_id\":\"7\u0001\"}"), None),
    ("DEL in a string", env("{\"entity_id\":7,\"s\":\"a\u007fb\"}"), Some(7)),
    ("empty", b(""), None),
    ("blank", b("  \n"), None),
    ("BOM", b("﻿{\"after\":{\"entity_id\":7}}"), None),
    ("root array", b("""[{"after":{"entity_id":7}}]"""), None),
    ("root string", b("\"x\""), None),
    ("deep nesting within Jackson's limit",
      b(s"""{"after":{"entity_id":7},"x":${"[" * 100}${"]" * 100}}"""), Some(7)),
    ("deep nesting in after",
      env(s"""{"entity_id":7,"x":${"{\"y\":" * 100}1${"}" * 100}}"""), Some(7)),
    ("nesting beyond Jackson's limit",
      b(s"""{"after":{"entity_id":7},"x":${"[" * 1100}${"]" * 1100}}"""), None),
    ("1,200-digit number elsewhere", b(s"""{"after":{"entity_id":7},"x":${"9" * 1200}}"""), None),
    ("1,200-digit number wanted", env(s"""{"entity_id":${"9" * 1200}}"""), None),
    ("100-digit number elsewhere", b(s"""{"after":{"entity_id":7},"x":${"9" * 100}}"""), Some(7)),
    ("40,000-char key", b(s"""{"after":{"entity_id":7},"${"k" * 40000}":1}"""), Some(7)),
    ("60,000-char key", b(s"""{"after":{"entity_id":7},"${"k" * 60000}":1}"""), None),
    ("100,000-char value", b(s"""{"after":{"entity_id":7},"v":"${"v" * 100000}"}"""), Some(7)),
    ("invalid UTF-8 in a skipped value",
      b("""{"after":{"entity_id":7},"x":"a""") ++ bytes(0xFF, 0xC3, 'b') ++ b("\"}"), Some(7)),
    ("lead byte before a closing quote",
      b("""{"after":{"entity_id":7},"x":"a""") ++ bytes(0xC3) ++ b("\"}"), Some(7)),
    ("truncated 4-byte sequence before a closing quote",
      b("""{"after":{"entity_id":7},"x":"a""") ++ bytes(0xF0, 0x9F) ++ b("\"}"), Some(7)),
    ("invalid UTF-8 in the wanted value",
      b("""{"after":{"entity_id":"7""") ++ bytes(0xFF) ++ b("\"}}"), None),
    ("invalid UTF-8 between tokens", b("""{"after":{"entity_id":7},""") ++ bytes(0xFF) ++ b("}"), None))

  /** The envelope shapes the plane reads: cdcbench's compact and extended
    * bodies and `SparkEntry`'s events envelopes.
    */
  def canonical(r: scala.util.Random, i: Int): (String, String) = {
    val id = r.nextInt(10000)
    i % 3 match {
      case 0 => "compact" -> s"""{"before":null,"after":{"entity_id":$id},"op":"u"}"""
      case 1 =>
        val cols = (1 to 12).map(c => s""""c$c":"${r.alphanumeric.take(72).mkString}"""")
        "extended" -> (s"""{"before":null,"after":{"entity_id":$id,${cols.mkString(",")}},""" +
          s""""source":{"db":"shop","table":"t$i"},"op":"u","ts_ms":${1700000000000L + i}}""")
      case _ => "events" -> s"""{"before": null, "after": {"k": $id}}"""
    }
  }

  /** Bytes a mutation writes: JSON structure, digits, literal letters,
    * escapes, whitespace, control characters and non-ASCII bytes. */
  private val alphabet: Array[Byte] =
    b("{}[]\":,\\0123456789-+.eEtrufalsnNI' \t\n\r/u") ++ bytes(0, 1, 0x1f, 0x7f, 0x80, 0xbf, 0xc3, 0xe2, 0xf0, 0xff)

  private def mutate(r: scala.util.Random, in: Array[Byte]): Array[Byte] = {
    var e = in
    for (_ <- 0 until 1 + r.nextInt(3)) {
      val at = r.nextInt(e.length)
      e = r.nextInt(4) match {
        case 0 => e.updated(at, alphabet(r.nextInt(alphabet.length)))
        case 1 => e.patch(at, Nil, 1)
        case 2 => e.patch(at, Seq(alphabet(r.nextInt(alphabet.length))), 0)
        case _ => e.patch(at, e.slice(at, at + 1 + r.nextInt(12)), 0)
      }
    }
    e
  }

  /** `n` canonical envelopes (table, bytes) from `seed`, nine in ten with
    * 1-3 byte mutations; the intact tenth keeps the accepting path busy.
    */
  def fuzz(seed: Long, n: Int): Seq[(Long, String, Array[Byte])] = {
    val r = new scala.util.Random(seed)
    (0 until n).map { i =>
      val (table, e) = canonical(r, i)
      (i.toLong, table, if (i % 10 == 0) b(e) else mutate(r, b(e)))
    }
  }
}
