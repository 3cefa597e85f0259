package graft

import graft.cdc.{CdcConfig, DebeziumConfigGen}
import graft.streaming.{CdcStream, RedisStreamsSink}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.streaming.StreamingQuery

/** CLI — the engine's equivalent of the reference's Spring Shell commands
  * (Application.java + WatchStream.watch + DebeziumConfiguration.generate):
  *
  *   watch    --config <cfg> [--in <url>] [--out <parquet-dir>]
  *            --checkpoint <dir> [--once] [--sink parquet|redis]
  *            [--target-url <url>]
  *            runs the streaming CDC plane on the Redis Streams source
  *            (RedisStreamsSource: one stream per watched table, XRANGE
  *            reads acked on epoch commit). `--in` is its `mem://<name>` or
  *            `redis://host[:port][/db]` URL, by default the config's
  *            `source.connection`. Sinks: per-epoch parquet (default, needs
  *            --out) or the reference's XADD output plane (`--sink redis`,
  *            RedisStreamsSink, WatchStream.java:261-295).
  *   watch    --ingest-gate --in <docs-dir> --checkpoint <dir>
  *            --corpus-table <t> --index-table <t> --map-table <t>
  *            [--format json|parquet] [--gate-threshold 0.8]
  *            [--map-threshold 0.7] [--npartitions N] [--once] [...]
  *            runs the OTHER streaming plane: the composed daily-ingest
  *            loop (near-dup gate → index probe → partitioned
  *            canonical-map fold, [[IngestCli]]) — minhash index,
  *            accepted corpus, and canonical map maintained in lockstep
  *            at delta-proportional cost, crash-safe under at-least-once
  *            replay.
  *   generate --config <cfg>
  *            prints Debezium Server properties derived from the config.
  */
object Main {
  def main(args: Array[String]): Unit = args.headOption match {
    case Some("generate") =>
      val cfg = CdcConfig.load(opt(args, "--config").getOrElse("./config.yaml"))
      print(DebeziumConfigGen.generate(cfg))

    case Some("watch") =>
      val spark = GraftSession.local()
      spark.sparkContext.setLogLevel("WARN")
      val gate = args.contains("--ingest-gate")
      val q =
        if (gate) IngestCli.start(spark, args)
        else try watch(spark, args) catch {
          case e: IllegalArgumentException =>
            System.err.println(e.getMessage); sys.exit(2)
        }
      if (args.contains("--once")) {
        q.processAllAvailable(); q.stop()
        if (gate) println(IngestCli.summary(spark, args))
      } else q.awaitTermination()
      spark.stop()

    case _ =>
      System.err.println("usage: graft.Main watch|generate [--config <file>] ...")
      sys.exit(2)
  }

  /** Starts the CDC plane of `watch` (source → [[CdcStream]] → sink) on
    * `spark` and returns the running query; the caller owns the session and
    * decides between draining (`--once`) and awaiting termination. A missing
    * or unknown flag value, or an `--in` that is not a `mem://` or
    * `redis://` URL, is an IllegalArgumentException.
    *
    * Config knobs: `buffers.source.size` caps each source stream per
    * trigger, `buffers.dedupe.time` is the trigger interval (counted from
    * each trigger's start, see [[CdcStream.startWith]]), and
    * `buffers.target.size` caps the ids of one output chunk; both sizes
    * must be positive.
    */
  private[graft] def watch(spark: SparkSession, args: Array[String]): StreamingQuery = {
    val cfg = CdcConfig.load(opt(args, "--config").getOrElse("./config.yaml"))
    require(cfg.buffers.source.size > 0,
      s"buffers.source.size must be positive, got ${cfg.buffers.source.size}")
    require(cfg.buffers.target.size > 0,
      s"buffers.target.size must be positive, got ${cfg.buffers.target.size}")
    val in = opt(args, "--in").getOrElse(cfg.source.connection.url)
    val ckpt = req(args, "--checkpoint")
    // the reference's I/O plane: one stream per watched table named
    // <source.prefix><table> (WatchStream.java:323), consumer group +
    // XACK/XDEL handled by the DSv2 source
    val streams = cfg.mapping.keys.toSeq.sorted
      .map(t => s"${cfg.source.prefix}$t").mkString(",")
    val records = spark.readStream.format("graft-redis")
      .option("url", in)
      .option("streams", streams)
      .option("group", cfg.source.group)
      .option("prefix", cfg.source.prefix)
      .option("acknowledge", cfg.source.acknowledge)
      .option("maxRecordsPerTrigger", cfg.buffers.source.size)
      .load()
    val writer: (DataFrame, Long) => Unit = opt(args, "--sink").getOrElse("parquet") match {
      case "parquet" =>
        val out = req(args, "--out")
        (batch, epoch) => batch.withColumn("epoch", lit(epoch)).write.mode("append").parquet(out)
      case "redis" =>
        // the reference's actual output plane: XADD id-array entries to
        // <target.prefix><target> with startup priming (WatchStream
        // .java:261-295). --target-url overrides the config's target.
        val turl = opt(args, "--target-url").getOrElse(cfg.target.connection.url)
        RedisStreamsSink.prime(turl, cfg.target.prefix,
          cfg.routes.map(_.target).distinct)
        RedisStreamsSink.writer(turl, cfg.target.prefix)
      case other =>
        throw new IllegalArgumentException(s"unknown --sink $other (parquet|redis)")
    }
    CdcStream.startWith(records, cfg.routes, cfg.buffers.target.size, ckpt,
      windowMillis = cfg.buffers.dedupe.time)(writer)
  }

  private def opt(args: Array[String], name: String): Option[String] = {
    val i = args.indexOf(name)
    if (i >= 0 && i + 1 < args.length) Some(args(i + 1)) else None
  }
  private def req(args: Array[String], name: String): String =
    opt(args, name).getOrElse(
      throw new IllegalArgumentException(s"missing required $name"))
}
