package graft.streaming

import graft.TestSpark
import graft.operators.{Dedup, FailPoint}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Crash-and-replay safety of the COMPOSED ingest loop
  * ([[StreamingIngestGate.gateAndFoldBatch]]'s acceptance-ledger
  * protocol). foreachBatch is at-least-once; before the ledger, a replay
  * of a crashed epoch silently LOST state — the epoch's docs were already
  * indexed, so the gate re-rejected them all, the corpus rows were never
  * restored, and zero pairs reached the fold (the epoch's map groups
  * vanished permanently, breaking the stream == batch law). These specs
  * cut an epoch at EVERY crash window (after-ledger, after-index,
  * after-corpus, and inside the fold's own commit), replay it, continue
  * the stream, and assert the final corpus + map are IDENTICAL to an
  * uncrashed reference run — and to the full-batch recompute.
  */
class IngestReplayRecoverySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val N = 3; private val K = 64; private val B = 16
  private val GATE = 0.8; private val MAP = 0.7

  // same exact-jaccard fixture as IngestCanonicalMapSpec: 40-word docs,
  // 1 edit = 0.854 (gate-rejected), 2 edits = 0.727 (accepted + grouped)
  private def words(tag: String) = (1 to 40).map(i => s"$tag$i")
  private def fresh(tag: String) = words(tag).mkString(" ")
  private def edited(tag: String, at: Int*) =
    at.foldLeft(words(tag)) { (w, i) => w.updated(i, s"edited$i") }
      .mkString(" ")

  private val epoch1 = Seq(
    (1L, fresh("alpha")), (2L, fresh("beta")), (3L, fresh("gamma")))
  private val epoch2 = Seq((11L, edited("alpha", 10, 25)),
    (12L, fresh("delta")), (13L, edited("alpha", 19)))
  private val epoch3 = Seq((21L, edited("delta", 8, 30)),
    (22L, fresh("omega")), (23L, edited("beta", 5, 20)),
    (24L, edited("omega", 12, 28)))
  private val epochs = Seq(epoch1, epoch2, epoch3)

  private val expectCorpus = Set(1L, 2L, 3L, 11L, 12L, 21L, 22L, 23L, 24L)
  private val expectMap = Map(1L -> 1L, 11L -> 1L, 12L -> 12L, 21L -> 12L,
    2L -> 2L, 23L -> 2L, 22L -> 22L, 24L -> 22L)

  private def drop(prefix: String): Unit =
    Seq(s"${prefix}_corpus", s"${prefix}_index", s"${prefix}_map",
      s"${prefix}_map_epochs", s"${prefix}_map_foldlog").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS `$t`")
      val loc = new org.apache.hadoop.fs.Path(
        spark.conf.get("spark.sql.warehouse.dir"),
        t.toLowerCase(java.util.Locale.ROOT))
      val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(loc)) fs.delete(loc, true)
    }

  private def runEpoch(prefix: String, i: Int): Unit =
    StreamingIngestGate.gateAndFoldBatch(epochs(i).toDF("doc_id", "text"),
      "doc_id", "text", s"${prefix}_corpus", s"${prefix}_index",
      s"${prefix}_map", i.toLong, N, K, B, GATE, MAP)
      .unpersist(blocking = false)

  private def runEpochExpectingCrash(prefix: String, i: Int,
                                     at: String): Unit = {
    sys.props(FailPoint.Prop) = at
    try {
      val e = intercept[IllegalStateException] { runEpoch(prefix, i) }
      assert(e.getMessage == s"failpoint: $at")
    } finally sys.props -= FailPoint.Prop
  }

  private def corpusIds(prefix: String): Seq[Long] =
    spark.table(s"${prefix}_corpus")
      .select(col("doc_id").cast("long")).as[Long].collect().toSeq

  private def mapOf(prefix: String): Map[Long, Long] =
    spark.table(s"${prefix}_map")
      .select(col("doc_id").cast("long"), col("canonical_id").cast("long"))
      .as[(Long, Long)].collect().toMap

  /** the end-state laws every crash scenario must restore */
  private def assertConverged(prefix: String): Unit = {
    val ids = corpusIds(prefix)
    assert(ids.toSet == expectCorpus, s"corpus ids ${ids.sorted}")
    assert(ids.size == ids.distinct.size,
      "corpus must not contain duplicate doc rows after replay")
    assert(mapOf(prefix) == expectMap)
    // the law the pre-ledger replay broke: map == full-batch recompute
    val oracle = Dedup.duplicateGroups(
      Dedup.minhashLshPairs(spark.table(s"${prefix}_corpus"),
        "doc_id", "text", N, K, B, MAP), "doc_a", "doc_b")
      .select(col("doc_id").cast("long"), col("canonical_id").cast("long"))
      .as[(Long, Long)].collect().toMap
    assert(mapOf(prefix) == oracle)
  }

  test("crash after the LEDGER write (before index insert): replay " +
    "re-gates, indexes, and converges") {
    drop("irr1")
    runEpoch("irr1", 0)
    runEpochExpectingCrash("irr1", 1, "ingest-after-ledger")
    runEpoch("irr1", 1) // the at-least-once re-delivery
    runEpoch("irr1", 2)
    assertConverged("irr1")
    drop("irr1")
  }

  test("crash after the INDEX insert (before corpus append): the " +
    "pre-ledger lost-corpus-row window — replay restores the rows") {
    drop("irr2")
    runEpoch("irr2", 0)
    runEpochExpectingCrash("irr2", 1, "ingest-after-index")
    // at this point the epoch's docs are indexed but NOT in the corpus: a
    // re-gate alone would reject them as self-matches and never write them
    assert(!corpusIds("irr2").contains(11L))
    runEpoch("irr2", 1)
    runEpoch("irr2", 2)
    assertConverged("irr2")
    drop("irr2")
  }

  test("crash after the CORPUS append (before the fold): the ADVICE " +
    "scenario — the epoch's pairs must not be lost on replay") {
    drop("irr3")
    runEpoch("irr3", 0)
    runEpochExpectingCrash("irr3", 1, "ingest-after-corpus")
    // corpus/index have the epoch, the map does NOT (11's group missing) —
    // a ledger-less replay would gate-reject everything, fold zero pairs,
    // and lose group {1,11} forever
    assert(!mapOf("irr3").contains(11L))
    runEpoch("irr3", 1)
    runEpoch("irr3", 2)
    assertConverged("irr3")
    drop("irr3")
  }

  test("crash INSIDE the fold's commit during an epoch: ledger replay + " +
    "the fold's journal repair compose end-to-end") {
    drop("irr4")
    runEpoch("irr4", 0)
    // the fold's own torn-commit window: journal written, marker set,
    // overwrite never ran
    runEpochExpectingCrash("irr4", 1, "cmap-after-marker")
    runEpoch("irr4", 1) // repairCanonicalMap completes the fold at entry
    runEpoch("irr4", 2)
    assertConverged("irr4")
    drop("irr4")
  }

  test("double crash on the same epoch converges too") {
    drop("irr5")
    runEpoch("irr5", 0)
    runEpochExpectingCrash("irr5", 1, "ingest-after-ledger")
    runEpochExpectingCrash("irr5", 1, "ingest-after-corpus")
    runEpoch("irr5", 1)
    runEpoch("irr5", 2)
    assertConverged("irr5")
    drop("irr5")
  }
}
