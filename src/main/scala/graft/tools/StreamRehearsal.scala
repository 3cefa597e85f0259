package graft.tools

import graft._
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming scale rehearsal — the streaming counterpart of
  * [[ScaleRehearsal]]: the throughput anchors in `bench/bench_full.json`
  * exist only at sf0.1, so nothing measured that the streaming planes'
  * STATE stays bounded and their rate stays ~flat when the replayed volume
  * grows 10x. Two planes, each at 1x and `reps`x, RocksDB state store (the
  * 100 TB default):
  *
  *  1. the CDC plane as `Main.watch` runs it ([[Bench.drainWatch]]) over
  *     `reps`x the events, staged by [[SparkEntry.stageCdcSegments]] with
  *     injectively re-keyed keys (k -> k*reps + r), so every replica keeps
  *     the base's duplicate structure and each epoch's dedupe holds reps x
  *     the keys. Recorded: events/s.
  *
  *  2. the ingest near-dup gate (`StreamingIngestGate` over the minhash
  *     banding index) fed `reps`x the documents in multiple epochs via
  *     maxFilesPerTrigger. Its "state" is the persisted bucketed index —
  *     bounded = rows grow linearly (bands per doc), probes stay
  *     Exchange-free.
  *
  * Usage: `StreamRehearsal [<sf-dir> [<reps> [<out.json>]]]`. Writes
  * `target/scale_rehearsal_streaming.json`, or `<out.json>` when given: name
  * `bench/scale_rehearsal_streaming.json` to refresh the committed sf0.1 x 10
  * record. Everything staged in the system temp dir is deleted at the end.
  * Single timed replay per (plane, scale) after a warmup replay — ratios,
  * not micro-benchmarks, same policy as ScaleRehearsal.
  */
object StreamRehearsal {

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
    val docs = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 4).parquet(docsDir)
    val wall = Bench.withTempDir("graft-srehearse-gate-ckpt") { runCkpt =>
      val t0 = System.nanoTime()
      val q = graft.streaming.StreamingIngestGate.start(docs, "doc_id", "text",
        corpusTable, indexTable, n = 3, k = 64, bands = 16, threshold = 0.8,
        checkpointDir = runCkpt)()
      try q.processAllAvailable() finally q.stop()
      (System.nanoTime() - t0) / 1e9
    }
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
                                   reps: Int): (Double, Long, Long, Long) =
    Bench.withTempDir(s"graft-srehearse-state-${reps}x") { dir =>
      Bench.withTempDir("graft-srehearse-state-ckpt") { runCkpt =>
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
    }

  def main(args: Array[String]): Unit = {
    val base = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val reps = if (args.length > 1) args(1).toInt else 10
    val out = java.nio.file.Paths.get(
      if (args.length > 2) args(2) else "target/scale_rehearsal_streaming.json")
    val spark = GraftSession.tune(SparkSession.builder()
        .master("local[" + sys.env.getOrElse("SPARK_GRAFT_CPUS", "32") + "]")
        .config("spark.sql.shuffle.partitions",
          sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
        .config("spark.sql.streaming.stateStore.providerClass",
          GraftSession.RocksDbProvider)
        .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // every directory and config staged in the system temp dir, deleted at the end
    val staged = scala.collection.mutable.ArrayBuffer[java.io.File]()
    def tempDir(prefix: String): String = {
      val dir = java.nio.file.Files.createTempDirectory(prefix).toFile
      staged += dir
      dir.toString
    }
    val json = try {
      // --- CDC plane at 1x and reps x, best of 2 drains after a warmup (a
      // single drain carries multi-second machine noise) ---
      def stage(r: Int): (Long, String, String) = {
        val dir = tempDir(s"graft-srehearse-${r}x")
        val (n, segments) = SparkEntry.stageCdcSegments(spark, base, dir, r)
        val config = SparkEntry.demoWatchConfig(segments)
        staged += new java.io.File(config)
        (n, dir, config)
      }
      def drainBest(dir: String, config: String): Double =
        Seq.fill(2)(Bench.drainWatch(spark, dir, config)).min
      val (n1, seg1, cfg1) = stage(1)
      val (nN, segN, cfgN) = stage(reps)
      Bench.drainWatch(spark, seg1, cfg1) // warmup: codegen
      val w1 = drainBest(seg1, cfg1)
      val wN = drainBest(segN, cfgN)
      System.err.println(f"[stream-rehearsal] cdc 1x: $n1 ev in $w1%.1fs (${n1 / w1}%.0f ev/s)")
      System.err.println(f"[stream-rehearsal] cdc ${reps}x: $nN ev in $wN%.1fs (${nN / wN}%.0f ev/s)")

      // --- ingest gate at 1x and reps x (reuse ScaleRehearsal's synthesized
      // documents so the replica semantics match the batch rehearsal) ---
      val docs = tempDir("graft-srehearse-docs")
      ScaleRehearsal.synthesize(spark, base, docs, reps)
      // the file-stream source requires a DIRECTORY; the base table is a
      // single parquet file, so stage a directory copy (the synthesized
      // scaled table is already a directory of part files)
      val baseDocs = tempDir("graft-srehearse-basedocs")
      spark.read.parquet(s"$base/documents.parquet")
        .repartition(8).write.mode("overwrite").parquet(baseDocs)
      val bigDocs = s"$docs/documents.parquet"
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
      s"""{"base_sf":"$base","scaled_reps":$reps,""" +
      s""""state_store":"rocksdb",""" +
      s""""cdc":{"base":{"events":$n1,"sec":${r3(w1)},"events_per_sec":${(n1 / w1).round}},""" +
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
    } finally staged.foreach(FileUtils.deleteQuietly)
    java.nio.file.Files.createDirectories(out.toAbsolutePath.getParent)
    java.nio.file.Files.writeString(out, json)
    try spark.stop() catch { case _: Throwable => () }
    println(json)
  }
}
