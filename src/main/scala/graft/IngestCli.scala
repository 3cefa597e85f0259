package graft

import graft.Main.{opt, req}
import graft.streaming.StreamingIngestGate
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

/** The `watch --ingest-gate` plane: the engine's flagship COMPOSED
  * daily-ingest loop ([[graft.streaming.StreamingIngestGate
  * .startWithCanonicalMap]] — gate → index probe → partitioned
  * canonical-map fold) made operable from the CLI, the way the
  * reference's one pipeline is its one shell command
  * (/root/reference/src/main/java/run/ecommerce/cdc/WatchStream.java:61-64).
  * An operator points it at a document directory and three table names;
  * every epoch keeps minhash index, accepted corpus, and canonical map in
  * lockstep, each paying delta-proportional cost, with the acceptance-
  * ledger replay protocol and the fold's journaled commit giving
  * crash-safe at-least-once semantics end to end.
  *
  * Flags (only the first five are required):
  *   --in <dir>                  streaming doc directory (each new file =
  *                               one epoch under the default
  *                               --max-files-per-trigger 1)
  *   --checkpoint <dir>          Structured Streaming checkpoint
  *   --corpus-table / --index-table / --map-table <name>
  *   --format json|parquet       (json) json needs {id, text} fields;
  *                               parquet infers schema from files already
  *                               present at start
  *   --id-col / --text-col       (doc_id / text)
  *   --gate-threshold            (0.8) jaccard at/above REJECTS
  *   --map-threshold             (0.7) jaccard at/above GROUPS survivors
  *   --shingle-n / --minhash-k / --bands   (3 / 64 / 16)
  *   --nbuckets                  (8) bucket count of all three tables
  *   --npartitions               (8) canonical-map pbucket partitions —
  *                               size to the deployment: one partition's
  *                               rewrite should be a comfortable job
  *   --seed                      (42) minhash hash-family seed
  *   --max-files-per-trigger     (1)
  */
private[graft] object IngestCli {

  def start(spark: SparkSession, args: Array[String]): StreamingQuery = {
    val in = req(args, "--in")
    val ckpt = req(args, "--checkpoint")
    val corpus = req(args, "--corpus-table")
    val index = req(args, "--index-table")
    val map = req(args, "--map-table")
    val idCol = opt(args, "--id-col").getOrElse("doc_id")
    val textCol = opt(args, "--text-col").getOrElse("text")
    val gate = opt(args, "--gate-threshold").map(_.toDouble).getOrElse(0.8)
    val mapT = opt(args, "--map-threshold").map(_.toDouble).getOrElse(0.7)
    require(mapT <= gate,
      "--map-threshold must be <= --gate-threshold (the gate rejects at " +
        "gate-threshold; only survivors group at map-threshold)")
    val n = opt(args, "--shingle-n").map(_.toInt).getOrElse(3)
    val k = opt(args, "--minhash-k").map(_.toInt).getOrElse(64)
    val bands = opt(args, "--bands").map(_.toInt).getOrElse(16)
    val nBuckets = opt(args, "--nbuckets").map(_.toInt).getOrElse(8)
    val nPartitions = opt(args, "--npartitions").map(_.toInt).getOrElse(8)
    val seed = opt(args, "--seed").map(_.toLong).getOrElse(42L)
    val mft = opt(args, "--max-files-per-trigger").map(_.toInt).getOrElse(1)
    val docs = opt(args, "--format").getOrElse("json") match {
      case "json" =>
        val schema = StructType(Seq(StructField(idCol, LongType),
          StructField(textCol, StringType)))
        spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", mft).json(in)
      case "parquet" =>
        // a streaming file source needs an explicit schema — taken from
        // whatever files are already in the directory at start
        val schema = spark.read.parquet(in).schema
        spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", mft).parquet(in)
      case other => throw new IllegalArgumentException(
        s"unknown --format $other (json|parquet)")
    }
    StreamingIngestGate.startWithCanonicalMap(docs, idCol, textCol,
      corpus, index, map, n, k, bands, gate, mapT, ckpt,
      seed = seed, nBuckets = nBuckets, nPartitions = nPartitions)
  }

  /** one-line state summary after a `--once` drain — what smoke scripts
    * and operators read to confirm the plane did work */
  def summary(spark: SparkSession, args: Array[String]): String = {
    def count(t: String): Long =
      if (spark.catalog.tableExists(t)) spark.table(t).count() else 0L
    s"ingest-gate: corpus=${count(req(args, "--corpus-table"))} docs, " +
      s"map=${count(req(args, "--map-table"))} rows"
  }
}
