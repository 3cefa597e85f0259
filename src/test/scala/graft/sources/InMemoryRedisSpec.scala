package graft.sources

import java.nio.charset.StandardCharsets.UTF_8
import org.scalatest.funsuite.AnyFunSuite
import scala.collection.immutable.TreeMap

/** The `mem://` store against a plain sorted-map model of the same commands,
  * plus the cases its packed layout must get right: bodies stored as the
  * UTF-8 a Redis server would hold, envelope detection, and bodies read
  * after the arena dropped the bytes of deleted entries.
  */
class InMemoryRedisSpec extends AnyFunSuite {
  private var n = 0
  private def fresh(): InMemoryRedis = {
    n += 1
    val name = s"in-memory-redis-spec-$n"
    InMemoryRedis.reset(name)
    InMemoryRedis.named(name)
  }
  private val All = (RedisId.Zero, RedisId.Max)
  /** What a Redis server returns for `s`: its UTF-8 bytes, decoded. */
  private def utf8(s: String): String = new String(s.getBytes(UTF_8), UTF_8)

  test("ids, ranges, deletes and acks follow a sorted-map model over seeded random commands") {
    val rnd = new scala.util.Random(11)
    val r = fresh()
    var model = TreeMap.empty[RedisId, Map[String, String]]
    var acked = Set.empty[RedisId]
    var last = RedisId.Zero
    r.xgroupCreate("s", "g", RedisId.Zero)
    def someId(): RedisId =
      if (model.nonEmpty && rnd.nextInt(4) > 0) model.keys.drop(rnd.nextInt(model.size)).head
      else RedisId(rnd.nextInt(last.ms.toInt + 2).toLong, rnd.nextInt(2).toLong)
    for (step <- 0 until 4000) rnd.nextInt(10) match {
      case 0 | 1 | 2 | 3 =>
        val body = (0 to rnd.nextInt(6)).map { k =>
          val key = if (k == 1 && rnd.nextBoolean()) "value" else s"k${rnd.nextInt(8)}"
          key -> (if (rnd.nextInt(20) == 0) "é\ud800" else "x" * rnd.nextInt(40))
        }
        val id = if (rnd.nextBoolean()) Some(RedisId(last.ms + 1 + rnd.nextInt(3), rnd.nextInt(3).toLong)) else None
        val got = r.xadd("s", body, id)
        assert(got == id.getOrElse(RedisId(last.ms + 1, 0L)), s"step $step")
        model += got -> body.toMap.map { case (k, v) => k -> utf8(v) }
        last = got
      case 4 | 5 =>
        val ids = Seq.fill(1 + rnd.nextInt(5))(someId()).distinct.sorted
        assert(r.xdel("s", ids) == ids.count(model.contains), s"step $step")
        model --= ids
      case 6 =>
        val ids = Seq.fill(1 + rnd.nextInt(5))(someId()).distinct.sorted
        assert(r.xack("s", "g", ids) == ids.count(id => model.contains(id) && !acked(id)), s"step $step")
        acked ++= ids.filter(model.contains)
      case _ =>
        val (a, b) = (someId(), if (rnd.nextInt(3) == 0) RedisId.Max else someId())
        val count = 1 + rnd.nextInt(50)
        val want = model.iteratorFrom(a).filter { case (id, _) => id > a && id <= b }.take(count).toSeq
        assert(r.xrange("s", a, b, count) == want, s"step $step")
        assert(r.xrangeIds("s", a, b, count) == want.map(_._1), s"step $step")
    }
    assert(r.xrange("s", All._1, All._2, Int.MaxValue) == model.toSeq)
    assert(r.xlen("s") == model.size.toLong)
    assert(r.xlatestId("s") == model.lastOption.map(_._1))
    assert(r.ackedIds("s", "g") == acked)
  }

  test("a body reads back as the UTF-8 a server would hold: text intact, a lone surrogate as '?'") {
    val r = fresh()
    val id = r.xadd("s", Seq("name" -> "Zoë 東京", "bad" -> "x\ud800y"), None)
    assert(r.xrange("s", RedisId.Zero, RedisId.Max, 1) == Seq(id -> Map("name" -> "Zoë 東京", "bad" -> "x?y")))
  }

  test("an explicit id at or below the last one is refused, even after that entry was deleted") {
    val r = fresh()
    val a = r.xadd("s", Seq("f" -> "1"), Some(RedisId(5, 0)))
    r.xdel("s", Seq(a))
    assertThrows[IllegalArgumentException](r.xadd("s", Seq("f" -> "2"), Some(RedisId(5, 0))))
    assert(r.xadd("s", Seq("f" -> "3"), None) == RedisId(6, 0))
    assert(r.xlatestId("s").contains(RedisId(6, 0)))
  }

  test("XACK on an unknown group is NOGROUP; acks of deleted entries stay visible") {
    val r = fresh()
    val ids = (1 to 3).map(i => r.xadd("s", Seq("payload" -> s"e$i"), None))
    assertThrows[IllegalArgumentException](r.xack("s", "g", ids))
    r.xgroupCreate("s", "g", RedisId.Zero)
    assert(r.xack("s", "g", ids.take(2)) == 2L)
    assert(r.xack("s", "g", ids) == 1L)
    assert(r.xdel("s", ids) == 3L)
    assert(r.xack("s", "g", ids) == 0L)
    assert(r.ackedIds("s", "g") == ids.toSet)
    assert(r.xlen("s") == 0L && r.xlatestId("s").isEmpty)
  }

  test("envelopes: the only field, else the `value` field, as UTF-8; none fails the read") {
    val r = fresh()
    val compact = r.xadd("s", Seq("payload" -> """{"after":{"id":1}}"""), None)
    val extended = r.xadd("s", Seq("table" -> "t", "value" -> """{"after":{"id":2}}""", "op" -> "u"), None)
    val wide = r.xadd("s", (1 to 6).map(i => s"k$i" -> s"v$i") :+ ("value" -> "{}"), None)
    val unicode = r.xadd("s", Seq("payload" -> """{"after":{"name":"Zoë"}}"""), None)
    val got = r.xrangeEnvelopes("s", RedisId.Zero, RedisId.Max, 10).map { case (id, b) => id -> new String(b, UTF_8) }
    assert(got == Seq(compact -> """{"after":{"id":1}}""", extended -> """{"after":{"id":2}}""",
      wide -> "{}", unicode -> """{"after":{"name":"Zoë"}}"""))
    r.xadd("s", Seq("a" -> "1", "b" -> "2"), None)
    assertThrows[IllegalStateException](r.xrangeEnvelopes("s", unicode, RedisId.Max, 10))
  }

  test("bodies read back intact after the arena drops the bytes of a deleted prefix") {
    val r = fresh()
    def body(i: Int) = Seq("payload" -> (s"entry-$i-" + "y" * (i % 97)))
    val ids = (0 until 5000).map(i => r.xadd("s", body(i), None))
    assert(r.xdel("s", ids.take(3000)) == 3000L)
    val more = (5000 until 6000).map(i => r.xadd("s", body(i), None))
    assert(r.xdel("s", ids.slice(3000, 4500)) == 1500L)
    val want = (ids.drop(4500) ++ more).zip((4500 until 6000).map(i => body(i).toMap))
    assert(r.xrange("s", RedisId.Zero, RedisId.Max, Int.MaxValue) == want)
    assert(r.xrangeEnvelopes("s", RedisId.Zero, RedisId.Max, Int.MaxValue)
      .map { case (id, b) => id -> new String(b, UTF_8) } == want.map { case (id, m) => id -> m("payload") })
  }
}
