package graft.tools

import graft._
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.SparkSession

/** Streaming scale rehearsal — the streaming counterpart of
  * [[ScaleRehearsal]]: the throughput anchors in `bench/bench_full.json`
  * exist only at sf0.1, so nothing measured that the streaming planes'
  * persisted state stays bounded and their rate stays ~flat when the
  * replayed volume grows 10x. Both `watch` planes, each at 1x and `reps`x,
  * each started through the CLI's own function:
  *
  *  1. the CDC plane as `Main.watch` runs it ([[Bench.drainWatch]]) over
  *     `reps`x the events, staged as `mem://` streams by
  *     [[Bench.withStagedEvents]] with injectively re-keyed keys
  *     (k -> k*reps + r), so every replica keeps the base's duplicate
  *     structure and each epoch's dedupe holds reps x the keys. Recorded:
  *     events/s.
  *
  *  2. the ingest plane as `watch --ingest-gate` runs it
  *     ([[graft.IngestCli.start]]: near-dup gate, minhash index, canonical
  *     map) fed `reps`x the documents in multiple epochs via
  *     `--max-files-per-trigger`. Its state is the persisted bucketed index —
  *     bounded = rows grow linearly (bands per doc), probes stay
  *     Exchange-free.
  *
  * Usage: `StreamRehearsal [<sf-dir> [<reps> [<out.json>]]]`. Writes
  * `target/scale_rehearsal_streaming.json`, or `<out.json>` when given: name
  * `bench/scale_rehearsal_streaming.json` to refresh the committed sf0.1 x 10
  * record. Everything staged in the system temp dir or in `mem://` stores,
  * and every table the ingest plane writes, is deleted at the end.
  * Single timed replay per (plane, scale) after a warmup replay — ratios,
  * not micro-benchmarks, same policy as ScaleRehearsal.
  */
object StreamRehearsal {

  /** One `watch --ingest-gate` replay over a staged parquet documents dir
    * consumed in multiple epochs; returns (wallSec, docsAccepted, indexRows).
    */
  private def replayGate(spark: SparkSession, docsDir: String, tag: String): (Double, Long, Long) = {
    val (corpus, index, map) =
      (s"srehearse_corpus_$tag", s"srehearse_index_$tag", s"srehearse_map_$tag")
    def dropTables(): Unit = Seq(corpus, index, map, s"${map}_epochs", s"${map}_foldlog")
      .foreach { t =>
        // drop the catalog entry AND any orphaned warehouse dir a previous
        // process left behind (ephemeral catalog, persistent location —
        // saveAsTable refuses to create over the orphan)
        spark.sql(s"DROP TABLE IF EXISTS $t")
        val loc = new org.apache.hadoop.fs.Path(
          spark.conf.get("spark.sql.warehouse.dir"), t.toLowerCase(java.util.Locale.ROOT))
        val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (fs.exists(loc)) fs.delete(loc, true)
      }
    dropTables()
    try {
      val wall = Bench.withTempDir("graft-srehearse-gate-ckpt") { ckpt =>
        val t0 = System.nanoTime()
        val q = IngestCli.start(spark, Array("watch", "--ingest-gate", "--in", docsDir,
          "--checkpoint", ckpt, "--format", "parquet", "--max-files-per-trigger", "4",
          "--corpus-table", corpus, "--index-table", index, "--map-table", map))
        try q.processAllAvailable() finally q.stop()
        (System.nanoTime() - t0) / 1e9
      }
      (wall, spark.table(corpus).count(), spark.table(index).count())
    } finally dropTables()
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
        .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // every directory staged in the system temp dir, deleted at the end
    val staged = scala.collection.mutable.ArrayBuffer[java.io.File]()
    def tempDir(prefix: String): String = {
      val dir = java.nio.file.Files.createTempDirectory(prefix).toFile
      staged += dir
      dir.toString
    }
    val json = try {
      // --- CDC plane at 1x and reps x, best of 2 drains after a warmup (a
      // single drain carries multi-second machine noise) ---
      def drainBest(in: String, config: String): Double =
        Seq.fill(2)(Bench.drainWatch(spark, in, config)).min
      val (n1, w1) = Bench.withStagedEvents(spark, base) { (n, in, config) =>
        Bench.drainWatch(spark, in, config) // warmup: codegen
        (n, drainBest(in, config))
      }
      val (nN, wN) = Bench.withStagedEvents(spark, base, reps) { (n, in, config) =>
        (n, drainBest(in, config))
      }
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
      val (gw0, _, _) = replayGate(spark, baseDocs, "warm")
      val (gw1, acc1, idx1) = replayGate(spark, baseDocs, "b1")
      val (gwN, accN, idxN) = replayGate(spark, bigDocs, s"b$reps")
      val d1 = spark.read.parquet(baseDocs).count()
      val dN = spark.read.parquet(bigDocs).count()
      System.err.println(f"[stream-rehearsal] gate 1x: $d1 docs in $gw1%.1fs " +
        f"(warm $gw0%.1fs, accepted=$acc1, index rows=$idx1)")
      System.err.println(f"[stream-rehearsal] gate ${reps}x: $dN docs in " +
        f"$gwN%.1fs (accepted=$accN, index rows=$idxN)")

      def r3(v: Double) = math.round(v * 1000) / 1000.0
      s"""{"base_sf":"$base","scaled_reps":$reps,""" +
      s""""cdc":{"base":{"events":$n1,"sec":${r3(w1)},"events_per_sec":${(n1 / w1).round}},""" +
      s""""scaled":{"events":$nN,"sec":${r3(wN)},"events_per_sec":${(nN / wN).round}}},""" +
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
