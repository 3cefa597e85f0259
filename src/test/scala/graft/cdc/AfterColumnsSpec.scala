package graft.cdc

import graft.{SparkEntry, TestSpark}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{ProjectExec, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

/** The in-place envelope walk ([[AfterColumns.walk]]) called directly: it
  * takes no fallback on the envelope shapes the plane reads, and wherever it
  * answers, its values are the strings `element_at(from_json(e).after, c)`
  * gives. Also pins that the plane's decode runs as generated code.
  */
class AfterColumnsSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  lazy val spark = TestSpark.spark
  import spark.implicits._
  import EnvelopeParitySpec.{b, canonical, cases, fuzz}

  private def walk(e: Array[Byte], columns: String*) =
    AfterColumns.walk(UTF8String.fromBytes(e), columns.map(UTF8String.fromString).toArray)

  private def values(r: org.apache.spark.sql.catalyst.util.ArrayData): Seq[String] =
    (0 until r.numElements).map(i => if (r.isNullAt(i)) null else r.getUTF8String(i).toString)

  test("no fallback on cdcbench's compact and extended bodies") {
    val r = new scala.util.Random(7)
    for (i <- 0 until 3000 if i % 3 != 2) {
      val (table, e) = canonical(r, i)
      val got = walk(b(e), "c3", "entity_id")
      assert(got ne AfterColumns.Fallback, s"$table: $e")
      val id = "\"entity_id\":(\\d+)".r.findFirstMatchIn(e).get.group(1)
      val c3 = if (table == "extended") "\"c3\":\"(\\w+)\"".r.findFirstMatchIn(e).get.group(1) else null
      assert(values(got) == Seq(c3, id), e)
    }
  }

  test("no fallback on SparkEntry's events envelopes") {
    val envelopes = SparkEntry.cdcRecords(spark, TestSpark.sf0001)
      .select("envelope").as[String].collect()
    assert(envelopes.length > 100)
    for (e <- envelopes) {
      val got = walk(b(e), "k")
      assert(got ne AfterColumns.Fallback, e)
      assert(values(got) == Seq("\"k\":\\s*(\\d+)".r.findFirstMatchIn(e).map(_.group(1)).orNull), e)
    }
  }

  /** Per envelope, `element_at(from_json(e).after, c)` for each of `columns`,
    * or None when `after` itself is NULL.
    */
  private def reference(envelopes: Seq[Array[Byte]], columns: Seq[String]): Seq[Option[Seq[String]]] = {
    val after = from_json(col("e"), Envelope.schema).getField("after")
    envelopes.zipWithIndex.toDF("b", "i").select(col("i"), col("b").cast("string").as("e"))
      .select(col("i"), when(after.isNull, lit(null)).otherwise(
        array(columns.map(c => element_at(after, lit(c))): _*)).as("v"))
      .orderBy("i").collect().toSeq
      .map(r => if (r.isNullAt(1)) None else Some(r.getSeq[String](1)))
  }

  test("where the walk answers it gives from_json's strings: rule table and 12,000 mutations") {
    val columns = Seq("b", "c3", "entity_id", "k")
    val envelopes = cases.map(_._2) ++ fuzz(20261019L, 12000).map(_._3)
    val answered = envelopes.zip(reference(envelopes, columns)).flatMap { case (e, want) =>
      val got = walk(e, columns: _*)
      if (got eq AfterColumns.Fallback) None
      else {
        assert(Option(got).map(values) == want, new String(e, "UTF-8").take(300))
        Some(e)
      }
    }
    // the walk answers for the intact tenth and for many mutated envelopes
    assert(answered.size > 3000, answered.size)
  }

  test("the plane's decode runs inside whole-stage codegen, compiled without fallback") {
    val key = "spark.sql.codegen.fallback"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try {
      val recs = fuzz(3L, 300).toDF("id", "table", "b")
        .select(col("id"), col("table"), col("b").cast("string").as("envelope"))
      val scanned = spark.createDataFrame(recs.rdd, recs.schema)
      val routes = Seq(("compact", "entity_id", "t1"), ("extended", "entity_id", "t2"),
        ("events", "k", "t3")).toDF("table", "column", "target")
      val df: DataFrame = CdcPipeline.parseAndRoute(scanned, routes)
      assert(df.collect().length == 300)
      val stages = collect(df.queryExecution.executedPlan) { case w: WholeStageCodegenExec => w }
      assert(stages.exists(_.child.exists {
        case p: ProjectExec => p.projectList.exists(_.exists(_.isInstanceOf[AfterColumns]))
        case _ => false
      }), df.queryExecution.executedPlan.toString)
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }
}
