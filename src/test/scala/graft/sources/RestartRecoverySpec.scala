package graft.sources

import graft.TestSpark
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}
import scala.collection.mutable

/** Crash/restart semantics: a new query over the SAME checkpoint resumes
  * from the committed offset — consumed segments are not re-read (no
  * duplicate emission), new segments are. This is the guarantee the
  * reference lacks (its unused recovery knobs, RedisSource.java:29-34:
  * crashed pending entries are never re-claimed; SURVEY §2.1 S4).
  */
class RestartRecoverySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def envelope(id: Int): String =
    s"""{"before": null, "after": {"entity_id": $id}}"""

  private def writeSegment(dir: String, seq: Long, ids: Seq[Int]): Unit =
    Files.write(Paths.get(dir, s"tbl.$seq.log"),
      ids.map(envelope).mkString("\n").getBytes("UTF-8"))

  /** Drains one query over `dir` into `out`, checkpointed at `ckpt`. */
  private def runOnce(dir: String, ckpt: String, out: mutable.ArrayBuffer[String],
                      options: (String, String)*): Unit = {
    val q = spark.readStream.format("graft-cdc").option("path", dir)
      .options(options.toMap).load()
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        val ids = b.select("id").collect().map(_.getString(0))
        out.synchronized { out ++= ids }
        ()
      }
      .option("checkpointLocation", ckpt)
      .start()
    try q.processAllAvailable() finally q.stop()
  }

  private def rid(seq: Long, line: Long) = CdcDirectorySource.recordId(seq, line)

  test("restart from checkpoint resumes after consumed segments") {
    val dir = Files.createTempDirectory("graft-restart").toString
    val ckpt = Files.createTempDirectory("graft-restart-ckpt").toString
    val out = mutable.ArrayBuffer[String]()

    writeSegment(dir, 1L, Seq(1, 2))
    runOnce(dir, ckpt, out) // "crash" = stop after commit
    assert(out.sorted.toSeq == Seq(rid(1, 0), rid(1, 1)))

    writeSegment(dir, 2L, Seq(3))
    runOnce(dir, ckpt, out) // restart over the same checkpoint
    // segment 1 NOT re-read; segment 2 picked up exactly once
    assert(out.sorted.toSeq == Seq(rid(1, 0), rid(1, 1), rid(2, 0)))
  }

  // watch always caps this source (maxSegmentsPerTrigger from
  // buffers.source.size); a restarted capped query must plan from the
  // checkpointed offset
  Seq("simple", "delete").foreach { mode =>
    test(s"capped directory source resumes from the checkpointed offset on restart ($mode)") {
      val dir = Files.createTempDirectory("graft-restart-capped").toString
      val ckpt = Files.createTempDirectory("graft-restart-capped-ckpt").toString
      val out = mutable.ArrayBuffer[String]()
      val options = Seq("acknowledge" -> mode, "maxSegmentsPerTrigger" -> "1")

      (1L to 3L).foreach(seq => writeSegment(dir, seq, Seq(seq.toInt)))
      runOnce(dir, ckpt, out, options: _*)
      assert(out.sorted.toSeq == (1L to 3L).map(rid(_, 0)))

      writeSegment(dir, 4L, Seq(4))
      runOnce(dir, ckpt, out, options: _*)
      assert(out.sorted.toSeq == (1L to 4L).map(rid(_, 0)),
        "each segment's ids must arrive exactly once")
    }
  }
}
