package graft

import graft.cdc.{CdcConfig, CdcPipeline, DebeziumConfigGen}
import graft.streaming.RedisStreamsSink
import org.apache.spark.sql.{GraftBridge, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

/** CLI — the engine's equivalent of the reference's Spring Shell commands
  * (Application.java + WatchStream.watch + DebeziumConfiguration.generate):
  *
  *   watch    --config <cfg> [--in <url>] [--target-url <url>]
  *            --checkpoint <dir> [--once]
  *            runs the streaming CDC plane: the Redis Streams source
  *            (RedisStreamsSource: one stream per watched table, XRANGE
  *            reads acked on epoch commit) into the reference's XADD output
  *            plane (RedisStreamsSink, WatchStream.java:261-295). `--in` is
  *            the source's `mem://<name>` or `redis://host[:port][/db]` URL,
  *            by default the config's `source.connection`; `--target-url`
  *            is the sink's, by default `target.connection`.
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
  *
  * A bad flag of either `watch` plane, such as a missing one or one with no
  * value after it, is an IllegalArgumentException; `main` prints its
  * message and exits 2.
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
        try if (gate) IngestCli.start(spark, args) else watch(spark, args)
        catch {
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

  /** Starts the CDC plane of `watch` on `spark` and returns the running
    * query; the caller owns the session and decides between draining
    * (`--once`) and awaiting termination. Before the query starts, every
    * target stream gets its `[]` priming entry. A missing flag or one with
    * no value, an `--in` that is not a `mem://` or `redis://` URL, or an
    * `--out` (the flag of a former parquet sink, refused so that an old
    * command line does not XADD into the config's target unawares) is an
    * IllegalArgumentException.
    *
    * Config knobs: `buffers.source.size` caps each source stream per
    * trigger, Spark's read limit, where it bounds an epoch (the count arm of
    * the reference's `bufferTimeout(100k, 5s)`); `buffers.dedupe.time` is
    * the trigger interval, counted from each trigger's start
    * ([[GraftBridge.startForeachBatch]]) so that the epoch cadence does not
    * depend on when the plane started; `buffers.target.size` caps the ids
    * of one output chunk. Both sizes must be positive, and
    * `source.acknowledge` must be `simple` or `delete` (`delete` XDELs what
    * each epoch acks).
    *
    * Each epoch runs [[CdcPipeline.run]] on its batch alone, so the dedupe
    * state resets every epoch as the reference's does at each flush: an id
    * that comes back in a later epoch is emitted again. The state of one
    * epoch is one target's distinct ids per task, bounded by the source's
    * cap summed over the streams feeding that target (the reference's 100k
    * dedupe buffer). The epoch commit stands in for the reference's
    * ref-counted XACK/XDEL: a batch's source offsets commit, and its
    * entries are acked, only after its XADDs return, so a crash replays the
    * epoch (at-least-once, as in the reference).
    */
  private[graft] def watch(spark: SparkSession, args: Array[String]): StreamingQuery = {
    if (args.contains("--out")) throw new IllegalArgumentException(
      "--out is no longer read: watch XADDs its id arrays to the config's " +
        "target.connection, or to --target-url")
    val cfg = CdcConfig.load(opt(args, "--config").getOrElse("./config.yaml"))
    require(cfg.buffers.source.size > 0,
      s"buffers.source.size must be positive, got ${cfg.buffers.source.size}")
    require(cfg.buffers.target.size > 0,
      s"buffers.target.size must be positive, got ${cfg.buffers.target.size}")
    require(Set("simple", "delete")(cfg.source.acknowledge),
      s"source.acknowledge must be simple or delete, got '${cfg.source.acknowledge}'")
    val in = opt(args, "--in").getOrElse(cfg.source.connection.url)
    val target = opt(args, "--target-url").getOrElse(cfg.target.connection.url)
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
    val routes = cfg.routes
    RedisStreamsSink.prime(target, cfg.target.prefix, routes.map(_.target))
    val write = RedisStreamsSink.writer(target, cfg.target.prefix)
    GraftBridge.startForeachBatch(records, ckpt, cfg.buffers.dedupe.time) { (batch, epoch) =>
      write(CdcPipeline.run(batch, routes, cfg.buffers.target.size), epoch)
    }
  }

  /** The value after flag `name`, if `name` is given; a flag given with no
    * value after it is an IllegalArgumentException.
    */
  private[graft] def opt(args: Array[String], name: String): Option[String] =
    args.indexOf(name) match {
      case -1 => None
      case i if i + 1 < args.length && !args(i + 1).startsWith("--") => Some(args(i + 1))
      case _ => throw new IllegalArgumentException(s"$name needs a value")
    }
  private[graft] def req(args: Array[String], name: String): String =
    opt(args, name).getOrElse(
      throw new IllegalArgumentException(s"missing required $name"))
}
