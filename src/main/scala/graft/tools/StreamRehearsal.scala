package graft.tools

import graft._
import graft.cdc.Route
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming scale rehearsal — the streaming counterpart of
  * [[ScaleRehearsal]]: the throughput anchors in `bench/bench_full.json`
  * exist only at sf0.1, so nothing measured that the streaming planes'
  * STATE stays bounded and their rate stays ~flat when the replayed volume
  * grows 10x. Two planes, each at 1x and `reps`x, RocksDB state store (the
  * 100 TB default):
  *
  *  1. the CDC plane (`CdcStream`: parse -> route -> watermarked keep-first
  *     dedupe -> count-or-time batch) over `reps`x the staged events. Event
  *     keys are re-keyed injectively (k -> k*reps + r) so every replica
  *     keeps the base's within-replica duplicate structure and the dedupe
  *     state must hold reps x the keys — exactly the axis that breaks a
  *     state store sized to 1x. Recorded: events/s plus the final epoch's
  *     state-operator rows/memory from the progress feed.
  *
  *  2. the ingest near-dup gate (`StreamingIngestGate` over the minhash
  *     banding index) fed `reps`x the documents in multiple epochs via
  *     maxFilesPerTrigger. Its "state" is the persisted bucketed index —
  *     bounded = rows grow linearly (bands per doc), probes stay
  *     Exchange-free.
  *
  * Writes bench/scale_rehearsal_streaming.json + target/ copy. Single timed
  * replay per (plane, scale) after a warmup replay — ratios, not
  * micro-benchmarks, same policy as ScaleRehearsal.
  */
object StreamRehearsal {

  /** Stage the events table as `nSegments` segment logs under a fresh dir,
    * replicated `reps`x with injectively re-keyed entity ids (numeric k ->
    * k*reps + r keeps per-replica dup structure identical to base).
    */
  private def stageSegments(spark: SparkSession, sfDir: String, reps: Int,
                            nSegments: Int): (String, Long) = {
    import java.nio.file.{Files, Paths}
    val segDir = Files.createTempDirectory(s"graft-srehearse-${reps}x").toString
    val ev = Tables(spark, sfDir, "events")
    val rep = explode(sequence(lit(0), lit(reps - 1))).as("r")
    // props is the CDC "after" payload; its numeric "k" field is the
    // route/dedupe key — re-key k -> k*reps + r IN PLACE (injective for any
    // reps; a bare digit-append would collide past r=9), JSON shape
    // untouched so the parse stage sees production-identical envelopes.
    // reps=1 passes through byte-identical to Bench's staging, keeping the
    // base leg comparable to the committed anchors.
    val kNum = regexp_extract(col("props"), """"k":\s*(\d+)""", 1)
      .try_cast("long")
    val rekeyed =
      if (reps == 1) ev.select(col("event_type"), col("props"))
      else ev.select(col("event_type"), col("props"), rep)
        .select(col("event_type"),
          when(kNum.isNull, col("props")).otherwise(
            regexp_replace(col("props"), lit(""""k":\s*\d+"""),
              concat(lit("\"k\": "),
                (kNum * reps + col("r")).cast("string")))).as("props"))
    val n = rekeyed.count()
    rekeyed.select(concat(col("event_type"), lit("\u0001"),
        lit("{\"before\": null, \"after\": "), col("props"), lit("}")).as("value"))
      .repartition(nSegments)
      .write.mode("overwrite").text(segDir + "/raw")
    val parts = new java.io.File(segDir + "/raw").listFiles()
      .filter(_.getName.startsWith("part-")).sortBy(_.getName)
    parts.zipWithIndex.foreach { case (f, i) =>
      Files.move(f.toPath, Paths.get(segDir, s"events.${i + 1}.log"))
    }
    (segDir, n)
  }

  /** One full CDC-plane replay; returns (wallSec, stateRowsMax,
    * stateMemoryBytesMax) where the state figures are the max across the
    * run's progress records (the high-water mark is the sizing question).
    */
  private def replayCdc(spark: SparkSession, segDir: String,
                        nSegments: Int): (Double, Long, Long) = {
    val routes = Seq(
      Route("click", "k", "t_all"), Route("click", "k", "t_click"),
      Route("purchase", "k", "t_all"), Route("purchase", "k", "t_purchase"),
      Route("signup", "k", "t_signup"),
      Route("view", "k", "t_all"), Route("view", "k", "t_view"))
    val records = spark.readStream.format("graft-cdc")
      .option("path", segDir)
      .option("maxSegmentsPerTrigger", nSegments / 4)
      .load()
      .select(col("id"),
        split(col("envelope"), "\u0001").getItem(0).as("table"),
        split(col("envelope"), "\u0001").getItem(1).as("envelope"))
    val runCkpt = java.nio.file.Files
      .createTempDirectory("graft-srehearse-ckpt").toString
    val t0 = System.nanoTime()
    val q = graft.streaming.CdcStream.startWith(records, routes,
        maxBatch = 1000, runCkpt, windowMillis = 50L) { (b: DataFrame, _: Long) =>
      b.write.format("noop").mode("overwrite").save()
    }
    try {
      q.processAllAvailable()
      val wall = (System.nanoTime() - t0) / 1e9
      // progress events land on the listener bus asynchronously — give the
      // final batch's record a beat before reading the high-water marks
      Thread.sleep(500)
      val states = q.recentProgress.flatMap(_.stateOperators)
      val rows = if (states.isEmpty) -1L else states.map(_.numRowsTotal).max
      val mem = if (states.isEmpty) -1L else states.map(_.memoryUsedBytes).max
      (wall, rows, mem)
    } finally q.stop()
  }

  /** Best-of-2 CDC replays (same policy as Bench's streaming anchor — a
    * single replay carries multi-second machine noise); state marks from
    * the better run.
    */
  private def replayCdcBest(spark: SparkSession, segDir: String,
                            nSegments: Int): (Double, Long, Long) =
    Seq(replayCdc(spark, segDir, nSegments),
      replayCdc(spark, segDir, nSegments)).minBy(_._1)

  /** One ingest-gate replay over a staged documents dir consumed in
    * multiple epochs; returns (wallSec, docsAccepted, indexRows).
    */
  private def replayGate(spark: SparkSession, docsDir: String, tag: String,
                         schema: org.apache.spark.sql.types.StructType): (Double, Long, Long) = {
    val corpusTable = s"srehearse_corpus_$tag"
    val indexTable = s"srehearse_index_$tag"
    Seq(corpusTable, indexTable).foreach { t =>
      // drop the catalog entry AND any orphaned warehouse dir a previous
      // process left behind (ephemeral catalog, persistent location —
      // saveAsTable refuses to create over the orphan)
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val loc = new org.apache.hadoop.fs.Path(
        spark.conf.get("spark.sql.warehouse.dir"),
        t.toLowerCase(java.util.Locale.ROOT))
      val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(loc)) fs.delete(loc, true)
    }
    val runCkpt = java.nio.file.Files
      .createTempDirectory("graft-srehearse-gate-ckpt").toString
    val docs = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 4).parquet(docsDir)
    val t0 = System.nanoTime()
    val q = graft.streaming.StreamingIngestGate.start(docs, "doc_id", "text",
      corpusTable, indexTable, n = 3, k = 64, bands = 16, threshold = 0.8,
      checkpointDir = runCkpt)()
    try q.processAllAvailable() finally q.stop()
    val wall = (System.nanoTime() - t0) / 1e9
    val accepted = spark.table(corpusTable).count()
    val idxRows = spark.table(indexTable).count()
    (wall, accepted, idxRows)
  }

  /** Stateful cross-batch dedupe replay ([[graft.streaming.CdcStream
    * .dedupedAcrossBatches]] — the watermark path; the CDC plane proper
    * dedupes batch-locally by design, reproducing the reference's
    * per-flush state reset, so it has NO streaming state operator to
    * measure). Stages (event_type, k, ts) parquet at `reps`x with
    * injectively re-keyed k, replays through RocksDB keyed state, and
    * returns (wallSec, events, stateRowsMax, stateMemMax) — the state
    * high-water mark must scale ~linearly in distinct keys.
    */
  private def replayStatefulDedupe(spark: SparkSession, sfDir: String,
                                   reps: Int): (Double, Long, Long, Long) = {
    val dir = java.nio.file.Files
      .createTempDirectory(s"graft-srehearse-state-${reps}x").toString
    val ev = Tables(spark, sfDir, "events")
    val rep = explode(sequence(lit(0), lit(reps - 1))).as("r")
    ev.select(col("event_type"), col("user_id"), col("ts_ns"), rep)
      .select(col("event_type"),
        (col("user_id") * reps + col("r")).as("k"),
        timestamp_micros(expr("ts_ns div 1000")).as("ts"))
      .repartition(16)
      .write.mode("overwrite").parquet(dir)
    val n = spark.read.parquet(dir).count()
    val src = spark.readStream
      .schema(spark.read.parquet(dir).schema)
      .option("maxFilesPerTrigger", 4).parquet(dir)
    val runCkpt = java.nio.file.Files
      .createTempDirectory("graft-srehearse-state-ckpt").toString
    val t0 = System.nanoTime()
    val q = graft.streaming.CdcStream
      .dedupedAcrossBatches(
        src.withColumnRenamed("event_type", "target")
          .withColumnRenamed("k", "entity_id"), "ts", "365 days")
      .writeStream
      .option("checkpointLocation", runCkpt)
      .foreachBatch { (b: DataFrame, _: Long) =>
        b.write.format("noop").mode("overwrite").save()
      }
      .start()
    try {
      q.processAllAvailable()
      val wall = (System.nanoTime() - t0) / 1e9
      Thread.sleep(500)
      val states = q.recentProgress.flatMap(_.stateOperators)
      val rows = if (states.isEmpty) -1L else states.map(_.numRowsTotal).max
      val mem = if (states.isEmpty) -1L else states.map(_.memoryUsedBytes).max
      (wall, n, rows, mem)
    } finally q.stop()
  }

  def main(args: Array[String]): Unit = {
    val base = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val reps = if (args.length > 1) args(1).toInt else 10
    val spark = GraftSession.tune(SparkSession.builder()
        .master("local[" + sys.env.getOrElse("SPARK_GRAFT_CPUS", "32") + "]")
        .config("spark.sql.shuffle.partitions",
          sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
        .config("spark.sql.streaming.stateStore.providerClass",
          GraftSession.RocksDbProvider)
        .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // --- CDC plane at 1x and reps x ---
    val nSegments = 32
    val (seg1, n1) = stageSegments(spark, base, 1, nSegments)
    val (segN, nN) = stageSegments(spark, base, reps, nSegments)
    replayCdc(spark, seg1, nSegments) // warmup: codegen + RocksDB load paths
    val (w1, rows1, mem1) = replayCdcBest(spark, seg1, nSegments)
    val (wN, rowsN, memN) = replayCdcBest(spark, segN, nSegments)
    System.err.println(f"[stream-rehearsal] cdc 1x: $n1 ev in $w1%.1fs " +
      f"(${n1 / w1}%.0f ev/s, state rows=$rows1 mem=$mem1)")
    System.err.println(f"[stream-rehearsal] cdc ${reps}x: $nN ev in $wN%.1fs " +
      f"(${nN / wN}%.0f ev/s, state rows=$rowsN mem=$memN)")

    // --- ingest gate at 1x and reps x (reuse ScaleRehearsal's synthesized
    // documents so the replica semantics match the batch rehearsal) ---
    val out = java.nio.file.Files
      .createTempDirectory(s"graft-srehearse-docs").toString
    ScaleRehearsal.synthesize(spark, base, out, reps)
    // the file-stream source requires a DIRECTORY; the base table is a
    // single parquet file, so stage a directory copy (the synthesized
    // scaled table is already a directory of part files)
    val baseDocs = java.nio.file.Files
      .createTempDirectory("graft-srehearse-basedocs").toString
    spark.read.parquet(s"$base/documents.parquet")
      .repartition(8).write.mode("overwrite").parquet(baseDocs)
    val bigDocs = s"$out/documents.parquet"
    val schema = spark.read.parquet(baseDocs).schema
    val bigSchema = spark.read.parquet(bigDocs).schema
    val (gw0, _, _) = replayGate(spark, baseDocs, "warm", schema)
    val (gw1, acc1, idx1) = replayGate(spark, baseDocs, "b1", schema)
    val (gwN, accN, idxN) = replayGate(spark, bigDocs, s"b$reps", bigSchema)
    val d1 = spark.read.parquet(baseDocs).count()
    val dN = spark.read.parquet(bigDocs).count()
    System.err.println(f"[stream-rehearsal] gate 1x: $d1 docs in $gw1%.1fs " +
      f"(warm $gw0%.1fs, accepted=$acc1, index rows=$idx1)")
    System.err.println(f"[stream-rehearsal] gate ${reps}x: $dN docs in " +
      f"$gwN%.1fs (accepted=$accN, index rows=$idxN)")

    // --- stateful cross-batch dedupe (the watermark path) at 1x / reps x ---
    replayStatefulDedupe(spark, base, 1) // warmup
    val (sw1, sn1, srows1, smem1) = replayStatefulDedupe(spark, base, 1)
    val (swN, snN, srowsN, smemN) = replayStatefulDedupe(spark, base, reps)
    System.err.println(f"[stream-rehearsal] stateful 1x: $sn1 ev in $sw1%.1fs " +
      f"(state rows=$srows1 mem=$smem1)")
    System.err.println(f"[stream-rehearsal] stateful ${reps}x: $snN ev in " +
      f"$swN%.1fs (state rows=$srowsN mem=$smemN)")

    def r3(v: Double) = math.round(v * 1000) / 1000.0
    val json =
      s"""{"base_sf":"$base","scaled_reps":$reps,""" +
      s""""state_store":"rocksdb",""" +
      s""""cdc":{"state_note":"batch-local dedupe by design (reference """ +
      s"""per-flush reset) - no cross-batch state operator",""" +
      s""""base":{"events":$n1,"sec":${r3(w1)},"events_per_sec":${(n1 / w1).round}},""" +
      s""""scaled":{"events":$nN,"sec":${r3(wN)},"events_per_sec":${(nN / wN).round}}},""" +
      s""""stateful_dedupe":{""" +
      s""""base":{"events":$sn1,"sec":${r3(sw1)},"events_per_sec":${(sn1 / sw1).round},""" +
      s""""state_rows_max":$srows1,"state_mem_bytes_max":$smem1},""" +
      s""""scaled":{"events":$snN,"sec":${r3(swN)},"events_per_sec":${(snN / swN).round},""" +
      s""""state_rows_max":$srowsN,"state_mem_bytes_max":$smemN}},""" +
      s""""ingest_gate":{""" +
      s""""base":{"docs":$d1,"sec":${r3(gw1)},"docs_per_sec":${(d1 / gw1).round},""" +
      s""""accepted":$acc1,"index_rows":$idx1},""" +
      s""""scaled":{"docs":$dN,"sec":${r3(gwN)},"docs_per_sec":${(dN / gwN).round},""" +
      s""""accepted":$accN,"index_rows":$idxN}}}""" + "\n"
    for (d <- Seq("target", "bench")) {
      val dir = java.nio.file.Paths.get(d)
      java.nio.file.Files.createDirectories(dir)
      java.nio.file.Files.writeString(
        dir.resolve("scale_rehearsal_streaming.json"), json)
    }
    try spark.stop() catch { case _: Throwable => () }
    println(json)
  }
}
