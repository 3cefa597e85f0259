package graft.cdc

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, rng}
import org.scalatest.funsuite.AnyFunSuite

/** Algebraic laws of the dedupe/batch stages, checked across ScalaCheck-
  * generated inputs (multiple fixed seeds — deterministic, Spark-job-bounded).
  */
class DedupeLawsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val genRows: Gen[List[(String, Int, Long)]] = for {
    n <- Gen.choose(1, 300)
    rows <- Gen.listOfN(n, for {
      t <- Gen.oneOf("t1", "t2", "t3")
      id <- Gen.choose(0, 40)
      ord <- Gen.choose(0L, 10000L)
    } yield (t, id, ord))
  } yield rows

  private def samples: Seq[List[(String, Int, Long)]] =
    (1 to 8).flatMap { seed =>
      genRows(Gen.Parameters.default, rng.Seed(seed.toLong)).toSeq
    }

  test("law: keep-first dedupe is idempotent") {
    samples.foreach { rows =>
      val df = rows.toDF("target", "entity_id", "ord")
      val once = Dedupe.keepFirstAgg(df, Seq("target", "entity_id"), col("ord"), Seq("ord"))
      val twice = Dedupe.keepFirstAgg(once, Seq("target", "entity_id"), col("ord"), Seq("ord"))
      assert(twice.collect().toSet == once.collect().toSet)
    }
  }

  test("law: survivor is the min-order row per key; one row per distinct key") {
    samples.foreach { rows =>
      val df = rows.toDF("target", "entity_id", "ord")
      val got = Dedupe.keepFirstAgg(df, Seq("target", "entity_id"), col("ord"), Seq("ord"))
        .as[(String, Int, Long)].collect().toSet
      val expect = rows.groupBy(r => (r._1, r._2)).map { case ((t, id), g) =>
        (t, id, g.map(_._3).min)
      }.toSet
      assert(got == expect)
    }
  }

  test("law: agg and window keep-first strategies agree") {
    samples.foreach { rows =>
      val df = rows.toDF("target", "entity_id", "ord")
      val viaAgg = Dedupe.keepFirstAgg(df, Seq("target", "entity_id"), col("ord"), Seq("ord"))
        .select("target", "entity_id", "ord").as[(String, Int, Long)].collect().toSet
      val viaWin = Dedupe.keepFirstRows(df, Seq("target", "entity_id"), col("ord"))
        .select("target", "entity_id", "ord").as[(String, Int, Long)].collect().toSet
      assert(viaAgg == viaWin)
    }
  }

  private def parseIds(ids: String): Seq[Int] =
    ids.stripPrefix("[").stripSuffix("]") match {
      case "" => Nil
      case s => s.split(",").map(_.toInt).toSeq
    }

  test("law: chunking conserves ids, bounds chunk size, never mixes targets") {
    samples.foreach { rows =>
      val df = rows.toDF("target", "entity_id", "ord")
      val maxSize = 7
      val out = Batcher.keepFirstChunks(df, "target", "entity_id", maxSize, col("ord"))
        .select("target", "ids", "n_ids")
        .as[(String, String, Long)].collect()
      assert(out.forall(_._3 <= maxSize))
      val idsByTarget = out.groupBy(_._1).view
        .mapValues(_.flatMap(r => parseIds(r._2)).sorted.toSeq).toMap
      val expectByTarget = rows.groupBy(_._1).view
        .mapValues(_.map(_._2).distinct.sorted.toSeq).toMap
      assert(idsByTarget == expectByTarget)
      // n_ids consistency with serialized payload
      out.foreach { case (_, ids, n) => assert(parseIds(ids).size == n) }
    }
  }

  test("law: chunks cut survivors in first-arrival order, ids ascending within a chunk") {
    samples.foreach { rows =>
      val df = rows.toDF("target", "entity_id", "ord")
      val maxSize = 5
      val got = Batcher.keepFirstChunks(df, "target", "entity_id", maxSize, col("ord"))
        .select("target", "chunk_no", "ids")
        .as[(String, Long, String)].collect()
        .map(r => (r._1, r._2) -> parseIds(r._3)).toMap
      val expect = rows.groupBy(_._1).toSeq.flatMap { case (t, g) =>
        g.groupBy(_._2).toSeq.map { case (id, h) => (h.map(_._3).min, id) }.sorted
          .map(_._2).grouped(maxSize).zipWithIndex
          .map { case (ids, c) => (t, c.toLong) -> ids.sorted }
      }.toMap
      assert(got == expect)
    }
  }
}
