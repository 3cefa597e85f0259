package graft.streaming

import graft.operators.{Dedup, FailPoint, Lineage}
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming near-duplicate ingest gate — the ingestion-time loop of the
  * persisted-MinHash family ([[graft.operators.Dedup.buildMinhashIndex]] /
  * [[graft.operators.Dedup.incrementalNearDupPairs]] /
  * [[graft.operators.Dedup.insertMinhashIndex]]) wired into Structured
  * Streaming with one epoch body, [[gateAndFoldBatch]], which
  * [[startWithCanonicalMap]] runs and `watch --ingest-gate`
  * ([[graft.IngestCli.start]]) starts. Every micro-batch of incoming
  * documents probes the banding index in place, near-duplicates of the
  * ACCUMULATED ACCEPTED CORPUS are rejected, and the surviving docs fold
  * into the corpus table, the index and the persisted canonical map — so
  * the next epoch's batch collides with this epoch's acceptances. Only
  * each delta pays a sketch pass, and the index join stays Exchange-free
  * on the bucketed (band, bhash) layout across any number of epochs
  * (Spark honors the bucket spec on every append).
  *
  * Epoch semantics:
  *   - the FIRST epoch founds the corpus: its docs are accepted wholesale
  *     and indexed (the [[Dedup.buildMinhashIndex]] contract — dedupe
  *     within the founding corpus is the batch operators' job);
  *   - every later epoch rejects docs whose exact Jaccard against ANY
  *     indexed doc reaches the gate threshold; intra-batch duplicates (two
  *     new docs duplicating each other, neither indexed) pass the gate, and
  *     the canonical map groups them at the map threshold.
  *
  * Replay: foreachBatch is at-least-once. A re-delivered epoch's docs are
  * already indexed, so each re-probed doc exact-matches itself and is
  * rejected by the gate; the per-epoch ACCEPTANCE LEDGER recovers the
  * epoch's accepted slice so that the corpus and map writes are recomputed
  * deterministically — see [[gateAndFoldBatch]].
  */
object StreamingIngestGate {

  /** The gate probe — the no-writes half of an epoch: which of `slim`'s
    * docs survive against the CURRENT index state. Returns (founding,
    * accepted-slice); the slice is an EAGER lineage cut, so no later
    * action can re-execute the anti-join against post-insert index state
    * (a recompute would self-match every accepted doc and silently write
    * an empty corpus slice — permanent corpus/index divergence).
    */
  private def gateProbe(slim: DataFrame, idCol: String, textCol: String,
                        corpusTable: String, indexTable: String,
                        n: Int, k: Int, bands: Int, threshold: Double,
                        seed: Long): (Boolean, DataFrame) = {
    val spark = slim.sparkSession
    if (!spark.catalog.tableExists(indexTable))
      (true, Lineage.cut(slim, eager = true))
    else {
      // defensive metadata refresh: micro-batches run in a long-lived
      // cloned session, and a cached file listing taken when an earlier
      // epoch first touched the tables would silently hide that epoch's
      // appends from this probe. One catalog round-trip per epoch.
      spark.catalog.refreshTable(indexTable)
      spark.catalog.refreshTable(corpusTable)
      val dupIds = Dedup.incrementalNearDupPairs(slim,
          spark.table(corpusTable), idCol, textCol, indexTable,
          n, k, bands, threshold, seed = seed)
        .select(col("doc_b").as(idCol)).distinct()
      (false,
        Lineage.cut(slim.join(dupIds, Seq(idCol), "left_anti"), eager = true))
    }
  }

  /** The epoch-acceptance ledger's table name: one (doc_id) row per
    * accepted doc, PARTITIONED by epoch — the replay-recovery record of
    * the composed loop. Tiny (ids only) and partition-pruned on every
    * read; a re-delivered epoch overwrites only its own partition.
    */
  private def epochLedger(mapTable: String): String = s"${mapTable}_epochs"

  /** The FULL daily-ingest loop body: gate (reject near-dups of the corpus
    * at `gateThreshold`, persist corpus + index), then maintain the
    * PERSISTED CANONICAL MAP over the survivors at `mapThreshold` — the
    * same (doc_id → canonical_id) table the batch consumers (leakage-safe
    * split, representative selection, dedup stats) read. The three
    * persisted-state pieces of the 100 TB pipeline — minhash index,
    * accepted corpus, canonical map — stay in lockstep inside one epoch
    * body, each paying delta-proportional cost: the delta's sketch pass
    * (gate), one index probe at the map threshold, one
    * [[graft.operators.Dedup.foldIntoCanonicalMap]] partition-scoped fold.
    *
    * Thresholds: `gateThreshold` REJECTS (hard dups never enter the
    * corpus); `mapThreshold` (≤ gate, typically looser) GROUPS the
    * survivors for split-safety/dedup-stats questions. The accepted slice
    * is already indexed when the map probe runs, so one probe surfaces
    * cross-epoch AND intra-epoch pairs (self-matches filtered on id).
    *
    * Exactness law (spec-pinned, the stream == batch convention): after
    * any number of epochs — including crashed-and-replayed ones — the map
    * table equals `duplicateGroups` over
    * `minhashLshPairs(acceptedCorpus, mapThreshold)`, the full-corpus
    * batch recompute. Holds because both sides band with the same
    * (n, k, bands, seed) family and band collisions are deterministic
    * per-pair, so the union of per-epoch probe pairs is the full-corpus
    * pair set (modulo direction, which CC ignores).
    *
    * REPLAY — the acceptance-ledger protocol. foreachBatch is
    * at-least-once, and a naive replay of a crashed epoch would lose
    * state: the epoch's docs are already indexed, so the gate re-rejects
    * every one (exact self-match), the corpus row is never restored and —
    * worse — zero pairs reach the fold, silently and permanently dropping
    * the epoch from the map. So every epoch FIRST persists its accepted
    * doc ids to a per-epoch ledger partition (`<mapTable>_epochs`, dynamic
    * overwrite of this epoch's partition only — idempotent), BEFORE any
    * index/corpus/map write. On replay the authoritative accepted set is
    * gate-accepted ∪ ledger[epoch], and every downstream write is
    * individually idempotent against it:
    *   - index: only gate-accepted docs insert, and gate acceptance ⟺ not
    *     yet indexed (an indexed doc always self-matches), so the index
    *     can never double-insert;
    *   - corpus: on the replay path the recovered slice appends through an
    *     anti-join against existing corpus ids (the corpus-cardinality
    *     scan runs ONLY on replay — the normal path appends directly,
    *     because a gate-accepted doc cannot already be in the corpus);
    *   - map: the probe re-derives the epoch's pairs from the recovered
    *     slice against the index (self-pairs id-filtered) — the same pair
    *     set the crashed run produced, so the fold lands them or no-ops if
    *     they already folded. The fold's own torn-commit window is closed
    *     separately by its journal protocol
    *     ([[graft.operators.Dedup.repairCanonicalMap]]).
    * Per-epoch overhead on the crash-free path: one tiny id-only ledger
    * write plus one partition-pruned ledger probe.
    *
    * @param epochId the micro-batch's epoch id ([[startWithCanonicalMap]]
    *                passes foreachBatch's; manual batch-by-batch replays
    *                pass any per-batch-unique, replay-stable number)
    * @param nPartitions canonical-map partition count (threaded to
    *                [[graft.operators.Dedup.buildCanonicalMap]] on the
    *                founding fold) — size it to the deployment so one
    *                partition's rewrite is a comfortable job; the default
    *                matches buildCanonicalMap's and suits tests, not
    *                100 TB
    */
  def gateAndFoldBatch(batch: DataFrame, idCol: String, textCol: String,
                       corpusTable: String, indexTable: String,
                       mapTable: String, epochId: Long,
                       n: Int, k: Int, bands: Int,
                       gateThreshold: Double, mapThreshold: Double,
                       seed: Long = 42L, nBuckets: Int = 8,
                       nPartitions: Int = 8): DataFrame = {
    val spark = batch.sparkSession
    val slim = batch.select(col(idCol), col(textCol))
    val (founding, gateAccepted) = gateProbe(slim, idCol, textCol,
      corpusTable, indexTable, n, k, bands, gateThreshold, seed)

    // ---- replay recovery: authoritative accepted = gate ∪ ledger[epoch]
    val ledger = epochLedger(mapTable)
    val ledgerExists = spark.catalog.tableExists(ledger)
    val priorIds =
      if (!ledgerExists) slim.select(col(idCol)).limit(0)
      else {
        spark.catalog.refreshTable(ledger)
        spark.table(ledger).where(col("epoch") === epochId)
          .select(col("doc_id").as(idCol))
      }
    // nonempty ⟺ this epoch already ran at least partially (replay); the
    // probe is partition-pruned to the one epoch partition
    val replaying = ledgerExists && !priorIds.isEmpty
    val accepted =
      if (!replaying) gateAccepted
      else Lineage.cut(
        slim.join(gateAccepted.select(col(idCol)).unionByName(priorIds)
          .distinct(), Seq(idCol)), eager = true)

    // ---- ledger write FIRST (before any index/corpus/map mutation):
    // dynamic overwrite of this epoch's partition only — idempotent, and
    // a torn ledger write heals on replay (gate ∪ torn-ledger = full set)
    val ledgerRows = accepted.select(col(idCol).as("doc_id"))
      .withColumn("epoch", lit(epochId))
    if (!ledgerExists)
      ledgerRows.write.partitionBy("epoch").format("parquet")
        .saveAsTable(ledger)
    else {
      val modeKey = "spark.sql.sources.partitionOverwriteMode"
      val prevMode = spark.conf.getOption(modeKey)
      spark.conf.set(modeKey, "dynamic")
      try ledgerRows.select("doc_id", "epoch")
        .write.mode(SaveMode.Overwrite).insertInto(ledger)
      finally prevMode match {
        case Some(v) => spark.conf.set(modeKey, v)
        case None => spark.conf.unset(modeKey)
      }
    }
    FailPoint("ingest-after-ledger")

    // ---- index: gate-accepted only (gate acceptance ⟺ not yet indexed)
    if (founding)
      Dedup.buildMinhashIndex(gateAccepted, idCol, textCol, indexTable,
        n, k, bands, seed = seed, nBuckets = nBuckets)
    else if (!gateAccepted.isEmpty)
      Dedup.insertMinhashIndex(gateAccepted, idCol, textCol, indexTable,
        n, k, bands, seed = seed, nBuckets = nBuckets)
    FailPoint("ingest-after-index")

    // ---- corpus: direct append off the crash-free path; replayed rows
    // (already-indexed recoveries) anti-join existing corpus ids
    val toCorpus =
      if (!replaying || !spark.catalog.tableExists(corpusTable)) accepted
      else accepted.join(spark.table(corpusTable).select(col(idCol)),
        Seq(idCol), "left_anti")
    toCorpus.write.mode(SaveMode.Append)
      .format("parquet").saveAsTable(corpusTable)
    FailPoint("ingest-after-corpus")

    // ---- map: one probe of the authoritative slice at the map threshold
    // (every accepted doc is indexed by now, so cross-epoch AND
    // intra-epoch pairs surface; self-matches drop on id inequality)
    val pairs =
      if (accepted.isEmpty)
        spark.range(0).select(col("id").as("doc_a"), col("id").as("doc_b"))
      else Dedup.incrementalNearDupPairs(accepted,
          spark.table(corpusTable), idCol, textCol, indexTable,
          n, k, bands, mapThreshold, seed = seed)
        .where(col("doc_a") =!= col("doc_b"))
        .select("doc_a", "doc_b")
    if (!spark.catalog.tableExists(mapTable))
      Dedup.buildCanonicalMap(pairs, "doc_a", "doc_b", mapTable,
        nBuckets = nBuckets, nPartitions = nPartitions)
    else
      Dedup.foldIntoCanonicalMap(mapTable, pairs, "doc_a", "doc_b")
    accepted
  }

  /** Starts the ingest plane over a streaming document source: every
    * epoch runs [[gateAndFoldBatch]], the streaming plane maintaining the
    * same persisted map the batch consumers read, with its acceptance-ledger
    * replay protocol keyed on foreachBatch's epoch id.
    */
  def startWithCanonicalMap(docs: DataFrame, idCol: String, textCol: String,
                            corpusTable: String, indexTable: String,
                            mapTable: String, n: Int, k: Int, bands: Int,
                            gateThreshold: Double, mapThreshold: Double,
                            checkpointDir: String, seed: Long = 42L,
                            nBuckets: Int = 8, nPartitions: Int = 8): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, epoch: Long) =>
        gateAndFoldBatch(batch, idCol, textCol, corpusTable, indexTable,
          mapTable, epoch, n, k, bands, gateThreshold, mapThreshold, seed,
          nBuckets, nPartitions).unpersist(blocking = false)
        ()
      }
      .start()
}
