package graft.cdcbench

import graft.GraftSession
import graft.cdc.{CdcConfig, CdcPipeline, Dedupe, Envelope, Routing}
import graft.sources.InMemoryRedis
import graft.streaming.RedisStreamsSink
import java.nio.file.Path
import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** The traced per-layer probe. It replays one epoch's input into a fresh
  * store, reads it back through the `graft-redis` source as one micro-batch,
  * caches it, and then times cumulative prefixes of the plane over the cached
  * input, each written to the `noop` sink:
  *
  *   parse    `Envelope.parse` once per input row
  *   route    `CdcPipeline.parseAndRoute`
  *   dedupe   + the null filter and `Dedupe.keepFirstAgg`
  *   chunk    `CdcPipeline.run`
  *   sink     `RedisStreamsSink.writer` over `CdcPipeline.run`
  *
  * A layer's self time is its prefix minus the one before. Counts come from
  * `Dataset.observe`, so no extra pass lets Catalyst prune the parse.
  */
object Probe {
  val Prefixes: Seq[String] = Seq("parse_only", "parse_route", "dedupe", "chunk", "sink")

  final case class Out(readMs: Double, wallMs: Map[String, Double], cpuMs: Map[String, Double],
                       shuffleBytes: Map[String, Double], counts: Map[String, Double])

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted; s(s.size / 2)
  }

  def run(wl: Workload, seed: Long, epoch: Int => (Int, Int),
          work: Path, reps: Int): Out = {
    val ns = s"probe-${wl.name}-$seed-${System.nanoTime()}"
    val backend = { InMemoryRedis.reset(ns); InMemoryRedis.named(ns) }
    val gen = new EventGen(wl, seed)
    for (s <- wl.tables.indices) {
      val (from, to) = epoch(s)
      for (i <- from until to) backend.xadd(Workloads.SourcePrefix + wl.tables(s), gen.body(s, i.toLong))
    }
    val standIn = if (wl.wire) Some(new RespStandIn(backend)) else None
    val url = standIn.map(_.url).getOrElse(s"mem://$ns")

    val spark = GraftSession.local(2)
    val trace = new TraceListener
    spark.sparkContext.addSparkListener(trace)
    val cfg = CdcConfig.parse(wl.configYaml, yaml = true)
    val routes = Routing.routesDf(spark, cfg)
    var out: Out = null

    def body(batch: DataFrame, batchId: Long): Unit = if (out == null) {
      val sc = batch.sparkSession.sparkContext
      def span(name: String)(f: => Unit): Double = {
        sc.setLocalProperty(TraceListener.SpanKey, name)
        val t0 = System.nanoTime()
        try f finally sc.setLocalProperty(TraceListener.SpanKey, null)
        (System.nanoTime() - t0) / 1e6
      }
      def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
      val readMs = span("read") { batch.persist(); batch.count(); () }
      val wall = scala.collection.mutable.Map[String, Seq[Double]]().withDefaultValue(Nil)
      var counts = Map.empty[String, Double]
      for (rep <- 0 until reps) {
        def timed(p: String)(f: => Unit): Unit = wall(p) = wall(p) :+ span(s"$p#$rep")(f)
        timed("parse_only") { noop(batch.select(Envelope.parse(col("envelope")).as("e"))) }
        val routedObs = new Observation(s"routed$rep")
        timed("parse_route") {
          noop(CdcPipeline.parseAndRoute(batch, routes).observe(routedObs,
            count(lit(1)).as("routed_rows"),
            sum(when(col("entity_id").isNull, 1L).otherwise(0L)).as("rejects")))
        }
        val dedupeObs = new Observation(s"dedupe$rep")
        timed("dedupe") {
          noop(Dedupe.keepFirstAgg(
            CdcPipeline.parseAndRoute(batch, routes).filter(col("entity_id").isNotNull),
            Seq("target", "entity_id"), col("id"), Seq("id"))
            .observe(dedupeObs, count(lit(1)).as("dedupe_survivors")))
        }
        val chunkObs = new Observation(s"chunk$rep")
        timed("chunk") {
          noop(CdcPipeline.run(batch, routes, wl.targetSize).observe(chunkObs,
            count(lit(1)).as("chunks"), sum(col("n_ids")).as("ids_out")))
        }
        timed("sink") {
          RedisStreamsSink.writer(url, s"probe$rep.")(
            CdcPipeline.run(batch, routes, wl.targetSize), batchId)
        }
        counts = Seq(routedObs, dedupeObs, chunkObs).flatMap(_.get.toSeq)
          .map { case (k, v) => k -> v.toString.toDouble }.toMap
      }
      batch.unpersist()
      trace.settle()
      def tally(p: String, f: trace.Tally => Long): Double =
        median((0 until reps).map(r =>
          Option(trace.bySpan.get(s"$p#$r")).map(t => f(t).toDouble).getOrElse(0.0)))
      out = Out(readMs,
        Prefixes.map(p => p -> median(wall(p))).toMap,
        Prefixes.map(p => p -> tally(p, _.cpuNs.get()) / 1e6).toMap,
        Prefixes.map(p => p -> tally(p, _.shuffleBytes.get())).toMap,
        counts)
    }

    try {
      val q = spark.readStream.format("graft-redis")
        .option("url", url)
        .option("streams", wl.tables.map(Workloads.SourcePrefix + _).mkString(","))
        .option("group", "probe")
        .option("prefix", Workloads.SourcePrefix)
        .option("acknowledge", "simple")
        .load()
        .writeStream
        .foreachBatch((b: DataFrame, id: Long) => body(b, id))
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", work.resolve("probe-ckpt").toString)
        .start()
      q.awaitTermination()
    } finally {
      spark.stop()
      standIn.foreach(_.close())
      InMemoryRedis.reset(ns)
    }
    require(out != null, "probe epoch produced no micro-batch")
    out
  }
}
