package graft.streaming

import graft.TestSpark
import graft.operators.Dedup
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** The COMPOSED daily-ingest loop (gate → index probe at map threshold →
  * persisted canonical-map fold) — [[StreamingIngestGate
  * .startWithCanonicalMap]]:
  *
  *  1. STREAM == FULL-BATCH RECOMPUTE — after N epochs (driven through
  *     Structured Streaming under the RocksDB state-store provider, the
  *     100 TB default), the persisted map table equals `duplicateGroups`
  *     over `minhashLshPairs(acceptedCorpus, mapThreshold)`: the
  *     incremental stream-maintained map IS the batch answer.
  *  2. Two-threshold semantics: docs at gate-threshold similarity never
  *     enter the corpus; docs between map- and gate-threshold enter AND
  *     group — cross-epoch and intra-epoch pairs both land in the map. The
  *     index holds exactly the accepted docs and keeps its (band, bhash)
  *     bucket layout across the epoch appends.
  *  3. STREAM == BATCH REPLAY of [[StreamingIngestGate.gateAndFoldBatch]]
  *     epoch-by-epoch, and a re-delivered epoch leaves every table
  *     untouched (the acceptance ledger recovers the slice; all downstream
  *     writes are idempotent). Crash-at-every-window replay is pinned separately in
  *     IngestReplayRecoverySpec.
  *
  * Fixture jaccard tiers (40-word docs, 3-gram shingles, exact values):
  * one edited word → 35/41 ≈ 0.854 (≥ 0.8 gate: rejected); two edited
  * words → 32/44 ≈ 0.727 (passes the 0.8 gate, groups at the 0.7 map
  * threshold).
  */
class IngestCanonicalMapSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val N = 3; private val K = 64; private val B = 16
  private val GATE = 0.8; private val MAP = 0.7

  private def words(tag: String) = (1 to 40).map(i => s"$tag$i")
  private def fresh(tag: String) = words(tag).mkString(" ")
  private def edited(tag: String, at: Int*) =
    at.foldLeft(words(tag)) { (w, i) => w.updated(i, s"edited$i") }
      .mkString(" ")

  // founding epoch: no pairs (buildCanonicalMap over an empty pair set —
  // the empty-table edge of the map lifecycle is exercised deliberately)
  private val epoch1 = Seq(
    (1L, fresh("alpha")), (2L, fresh("beta")), (3L, fresh("gamma")))
  // 11 groups with 1 (0.727), 12 fresh, 13 REJECTED (0.854 vs 1)
  private val epoch2 = Seq((11L, edited("alpha", 10, 25)),
    (12L, fresh("delta")), (13L, edited("alpha", 19)))
  // 21 groups with epoch-2's 12 (cross-epoch), 23 with founding 2,
  // 22+24 group with EACH OTHER (intra-epoch pair via post-insert probe)
  private val epoch3 = Seq((21L, edited("delta", 8, 30)),
    (22L, fresh("omega")), (23L, edited("beta", 5, 20)),
    (24L, edited("omega", 12, 28)))
  private val epochs = Seq(epoch1, epoch2, epoch3)

  private def drop(tables: String*): Unit = tables.foreach { t =>
    spark.sql(s"DROP TABLE IF EXISTS `$t`")
    val loc = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"),
      t.toLowerCase(java.util.Locale.ROOT))
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) fs.delete(loc, true)
  }

  private def asMap(table: String): Map[Long, Long] =
    spark.table(table)
      .select(col("doc_id").cast("long"), col("canonical_id").cast("long"))
      .as[(Long, Long)].collect().toMap

  private def indexDocs(table: String): Set[Long] =
    spark.table(table).select(col("doc").cast("long")).distinct()
      .as[Long].collect().toSet

  test("stream-maintained map == full-batch recompute after N epochs " +
    "(RocksDB provider); two-threshold semantics") {
    drop("ingf_corpus", "ingf_index", "ingf_map", "ingf_map_epochs")
    val confKey = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(confKey)
    spark.conf.set(confKey, graft.GraftSession.RocksDbProvider)
    try {
      implicit val sq = spark.sqlContext
      val mem = MemoryStream[(Long, String)]
      val ckpt = Files.createTempDirectory("graft-ingf").toString
      val q = StreamingIngestGate.startWithCanonicalMap(
        mem.toDF().toDF("doc_id", "text"), "doc_id", "text",
        "ingf_corpus", "ingf_index", "ingf_map", N, K, B, GATE, MAP, ckpt)
      try epochs.foreach { e => mem.addData(e: _*); q.processAllAvailable() }
      finally q.stop()
    } finally prev match {
      case Some(v) => spark.conf.set(confKey, v)
      case None => spark.conf.unset(confKey)
    }
    // gate law: hard dup 13 rejected, everything else accepted
    val corpus = spark.table("ingf_corpus")
    val accepted = corpus.select(col("doc_id").cast("long")).as[Long].collect().toSet
    assert(accepted == Set(1L, 2L, 3L, 11L, 12L, 21L, 22L, 23L, 24L))
    // the index holds exactly the accepted docs, and its (band, bhash)
    // bucket layout survives the epoch appends (zero-Exchange aggregation)
    assert(indexDocs("ingf_index") == accepted)
    val bands = spark.table("ingf_index").groupBy("band", "bhash").count()
    bands.write.format("noop").mode("overwrite").save()
    assert(!bands.queryExecution.executedPlan.toString.contains("Exchange"),
      "(band, bhash) agg must stay shuffle-free across epoch appends")
    // THE LAW: incremental stream-maintained map == full-corpus recompute
    val oracle = Dedup.duplicateGroups(
      Dedup.minhashLshPairs(corpus, "doc_id", "text", N, K, B, MAP),
      "doc_a", "doc_b")
      .select(col("doc_id").cast("long"), col("canonical_id").cast("long"))
      .as[(Long, Long)].collect().toMap
    val got = asMap("ingf_map")
    assert(got == oracle, s"stream map $got != batch recompute $oracle")
    // ... and the expected group structure (cross-epoch, founding,
    // intra-epoch) is actually in there — guards against a trivially-empty
    // both-sides-equal pass
    assert(got == Map(1L -> 1L, 11L -> 1L, 12L -> 12L, 21L -> 12L,
      2L -> 2L, 23L -> 2L, 22L -> 22L, 24L -> 22L))
    // the map kept its consumer contract through epoch folds: bucketed on
    // doc_id, zero-Exchange aggregation
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val agg = spark.table("ingf_map").groupBy("doc_id")
        .agg(min("canonical_id"))
      assert(!agg.queryExecution.executedPlan.toString
        .contains("Exchange hashpartitioning"))
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    drop("ingf_corpus", "ingf_index", "ingf_map", "ingf_map_epochs")
  }

  test("stream == epoch-by-epoch gateAndFoldBatch replay; re-delivered " +
    "epoch leaves the map untouched") {
    drop("ingb_corpus", "ingb_index", "ingb_map", "ingb_map_epochs")
    epochs.zipWithIndex.foreach { case (e, i) =>
      StreamingIngestGate.gateAndFoldBatch(e.toDF("doc_id", "text"),
        "doc_id", "text", "ingb_corpus", "ingb_index", "ingb_map", i.toLong,
        N, K, B, GATE, MAP).unpersist(blocking = false)
    }
    val expect = Map(1L -> 1L, 11L -> 1L, 12L -> 12L, 21L -> 12L,
      2L -> 2L, 23L -> 2L, 22L -> 22L, 24L -> 22L)
    assert(asMap("ingb_map") == expect)
    // at-least-once: epoch 2 re-delivered — the acceptance ledger recovers
    // its accepted slice, the re-derived pairs fold as a no-op (already
    // folded), corpus/index append nothing: everything stays unchanged
    val corpusBefore = spark.table("ingb_corpus").count()
    val indexBefore = indexDocs("ingb_index").size
    StreamingIngestGate.gateAndFoldBatch(epoch2.toDF("doc_id", "text"),
      "doc_id", "text", "ingb_corpus", "ingb_index", "ingb_map", 1L,
      N, K, B, GATE, MAP).unpersist(blocking = false)
    assert(asMap("ingb_map") == expect)
    assert(spark.table("ingb_corpus").count() == corpusBefore,
      "re-delivered epoch must not double-append corpus rows")
    assert(indexDocs("ingb_index").size == indexBefore,
      "re-delivered docs must exact-match themselves in the index and not re-insert")
    drop("ingb_corpus", "ingb_index", "ingb_map", "ingb_map_epochs")
  }
}
