package graft
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
object Bench {

  // measurement contract constants: these feed BOTH the timing loops and the
  // self-describing "cdc_timed_runs"/"stream_timed_runs" fields of the JSON
  // record, so the stated contract cannot drift from the implementation
  private val CdcTimedRuns = 3
  private val StreamTimedRuns = 2

  // --- per-query spread gate (round 13) ---------------------------------
  // The single-thread CPU probe is blind to scheduler/IO interference that
  // lands BETWEEN probes: round 12's end-of-round run read q_tumbling_window
  // at 2.71±0.78 s (3.5x its canonical 0.78 s) and corpus_importance at
  // stddev 8.7 s on code-untouched queries while every probe sat on the
  // anchor. The gate below catches it per query: a query whose stddev/median
  // exceeds SpreadStddevRatioMax, or whose median exceeds
  // SpreadCommittedRatioMax times its committed-baseline entry, is RE-TIMED
  // once at suite end with the full per-query methodology. The retimed
  // measurement replaces the original (both ride the JSON). After retiming:
  //   - still internally inconsistent (stddev arm) -> run is NOT canonical;
  //   - still above the committed arm but REPRODUCED (first and retimed
  //     medians within ReproducedTolerance of each other) -> a real code/
  //     data change, recorded as an accepted regression, canonical allowed;
  //   - still above the committed arm and NOT reproduced -> interference,
  //     run is NOT canonical.
  private val SpreadStddevRatioMax = 0.4
  // ... with an ABSOLUTE floor: the ratio arm exists to catch multi-second
  // interference windows (r12's q_tumbling_window 2.71±0.78 s), but on a
  // 0.2 s query an 80 ms stddev trips the 0.4 ratio while being nothing
  // more than task-dispatch jitter at local[32] resolution — exactly that
  // (q_window_navigation, 0.2 s median, sd 0.08) blocked an otherwise
  // machine-quiet round-14 run. Below the floor the ratio arm is noise.
  private val SpreadStddevFloorSec = 0.15
  private val SpreadCommittedRatioMax = 1.5
  private val ReproducedTolerance = 0.2
  // a query window that absorbed more than this many stolen cpu-seconds is
  // HOST-contaminated whatever its median says. Round 14 proved the rule
  // must apply to FIRST PASSES, not just retimes: the first spread-gated
  // canonical baseline was promoted with 223 stolen cpu-s across the run —
  // events_funnel_latency's window alone ate 39 — because the steal-dirty
  // test only gated the retime stage. Now a steal-dirty first pass joins
  // the retime set; if its retime cannot run (cap/budget) or is itself
  // steal-dirty, the run is not canonical.
  private val StealDirtySec = 2.0

  // --- multi-job run policy (round 13, re-budgeted round 14) ------------
  // Queries materializing many driver-side ACTIONS per execution
  // (ExactQuantiles' bisection: one collect per round; BPE train: one
  // argmax per merge) are scheduling-bound: their wall time is driver job
  // round-trips, not data, and cross-JVM spread at median-of-5 exceeds the
  // code-level signal (same-code full-bench draws of events_funnel_latency:
  // 1.85/2.40/3.12 s across r11-r12). Round 13 keyed the policy on RAW
  // Spark-job count (threshold 6) — but AQE (on globally) submits one job
  // per materialized query stage, so most multi-stage queries qualified,
  // each gaining 6 extra runs, and the suite blew past the driver's wall
  // budget (BENCH_r13: rc=124, killed mid-suite, no record at all). Round
  // 14 keys it on DISTINCT SQL EXECUTIONS instead (jobs grouped by
  // `spark.sql.execution.id`, which AQE stage jobs share; executionless
  // RDD jobs count individually): a normal query is exactly 1 action per
  // timed run however many AQE stages it has, while the bisection/argmax
  // family stays >3 — and the extra-run count drops 6 -> 2.
  private val MultiActionThreshold = 3
  private val MultiJobExtraRuns = 2
  // ... and only for queries whose first run is CHEAP: the policy exists
  // for the scheduling-bound family (many driver round-trips, little data
  // work per action — funnel latency, quantile bisection), but the
  // connected-component/dedup family is ALSO multi-action (one
  // localCheckpoint materialization per CC round) while being genuinely
  // data-bound — round 14's first completed run gave 27 queries the extra
  // runs at +131 s of suite wall, most of it on 4-8 s CC queries whose
  // spread is data, not scheduling. A first run at/under this bound keeps
  // the extra-run cost O(seconds) per query.
  private val ExtraRunsMaxSec = 3.0
  // ... and the min(first, committed) gate itself is bounded by a sanity
  // multiple on the FIRST run: the committed arm exists so a steal burst
  // inflating the first run of a normally-cheap query can't disable the
  // extra runs, but taken alone it would also fire them on a genuine large
  // regression (first 50x, committed 3 s) at the regressed per-run cost —
  // 2 extra multi-minute runs eating the suite's wall budget. Past this
  // multiple of ExtraRunsMaxSec the first run is either a monster burst or
  // a real regression, and either way the extra runs cost more than the
  // scheduling-spread signal they carry.
  private val ExtraRunsFirstSanityMult = 5.0
  // retime-pass budget (round 14): the r13 retime set was unbounded — with
  // a stale committed baseline many queries can flag at once and the pass
  // alone can exceed the driver window. Cap the set by violation severity;
  // anything flagged-but-skipped blocks canonicality (recorded as
  // spread_retime_skipped) but the run still EMITS.
  private val RetimeCap = 8

  /** Streaming-plane throughput: the events staged as `mem://` streams
    * ([[withStagedEvents]]), drained through `Main.watch` at
    * [[SparkEntry.demoWatchConfig]] in 4 epochs. Measures the stream from
    * start to drain (setup/staging excluded).
    */
  private def streamingThroughput(spark: SparkSession, sfDir: String): Double =
    withStagedEvents(spark, sfDir) { (nEvents, in, config) =>
      // the simple-mode source keeps its entries, so the staged streams can
      // be drained repeatedly (fresh checkpoint per run): run 1 warms
      // codegen/JIT for the per-epoch plan (measured 2.5x on the first
      // micro-batch), later runs are steady state — the same warmup
      // methodology as the batch queries in main().
      drainWatch(spark, in, config) // warmup
      nEvents / (1 to StreamTimedRuns).map(_ => drainWatch(spark, in, config)).min
    }

  /** Stages the events of `sfDir` (`reps`x, [[SparkEntry.stageCdcStreams]])
    * into a fresh `mem://` store, writes their
    * [[SparkEntry.demoWatchConfig]], and runs `body(events, in, config)`
    * with the store's URL; the store is dropped and the config deleted
    * afterwards, whether `body` returns or throws.
    */
  private[graft] def withStagedEvents[A](spark: SparkSession, sfDir: String, reps: Int = 1)(
      body: (Long, String, String) => A): A = {
    val store = s"graft-staged-${java.util.UUID.randomUUID()}"
    try {
      val (events, longest) = SparkEntry.stageCdcStreams(spark, sfDir, store, reps)
      val config = new java.io.File(SparkEntry.demoWatchConfig(longest))
      try body(events, s"mem://$store", config.toString)
      finally FileUtils.deleteQuietly(config)
    } finally graft.sources.InMemoryRedis.reset(store)
  }

  /** One `Main.watch` run of `config` over the source URL `in`, drained to
    * the end: XADDs into a fresh in-memory target (`mem://`),
    * checkpoint in a fresh temp dir; the target and the checkpoint are
    * dropped afterwards. Returns the wall seconds from start to stop.
    */
  private[graft] def drainWatch(spark: SparkSession, in: String, config: String): Double =
    withTempDir("graft-bench-ckpt") { ckpt =>
      val target = s"graft-drain-${java.util.UUID.randomUUID()}"
      val t0 = System.nanoTime()
      val q = Main.watch(spark, Array("watch", "--config", config, "--in", in,
        "--checkpoint", ckpt, "--target-url", s"mem://$target"))
      try q.processAllAvailable()
      finally { q.stop(); graft.sources.InMemoryRedis.reset(target) }
      (System.nanoTime() - t0) / 1e9
    }

  /** Runs `body` on a fresh directory under the system temp dir, then
    * deletes the directory with everything in it, whether `body` returns or
    * throws.
    */
  private[graft] def withTempDir[A](prefix: String)(body: String => A): A = {
    val dir = java.nio.file.Files.createTempDirectory(prefix).toFile
    try body(dir.toString) finally FileUtils.deleteQuietly(dir)
  }

  /** Fixed synthetic CPU probe — a deterministic hash-reduce over a range,
    * independent of the test data and of every query under measurement. Its
    * committed baseline (`bench/calibration.json`) is the cross-round
    * machine-state reference: if today's probe deviates >1.5× from the
    * committed value, the whole run is stamped `machine_shifted` and its
    * per-query deltas vs previous rounds carry no signal (the r4→r5 lesson:
    * untouched-query medians moved 5-40× from machine state alone).
    */
  private[graft] def calibrationProbe(spark: SparkSession): Double = {
    def once(): Double = {
      val t0 = System.nanoTime()
      spark.range(0L, 20000000L, 1L, 32)
        // pmod keeps the ANSI sum far from long overflow (≤ 2e13)
        .select(sum(pmod(xxhash64(md5(col("id").cast("string"))), lit(1000000L))))
        .collect()
      (System.nanoTime() - t0) / 1e9
    }
    once() // codegen warmup
    val xs = (1 to 3).map(_ => once()).sorted
    xs(1) // median of 3
  }

  /** IO write probe: 64 MiB written + fsync'd to target/, timed — the
    * calibration CPU probe's blind spot. Round-14 finding: two back-to-back
    * sf0.1 runs measured the CDC plane at ~118k ev/s (committed: 185k) and
    * suite totals 1.3-1.5x committed while every CPU probe around the
    * plane sat ON the anchor — host-side IO/steal bursts slow the
    * shuffle/write paths without touching a pure-CPU hash loop. The probe
    * rides the record (and its own committed baseline in
    * bench/calibration.json) so a reader can tell CPU noise from IO noise.
    */
  private[graft] def ioProbe(): Double = {
    import java.nio.file.{Files, Paths, StandardOpenOption => O}
    val p = Paths.get("target/.ioprobe")
    Files.createDirectories(p.getParent)
    val buf = new Array[Byte](1 << 20)
    val t0 = System.nanoTime()
    val ch = java.nio.channels.FileChannel.open(
      p, O.CREATE, O.WRITE, O.TRUNCATE_EXISTING)
    try {
      var i = 0
      while (i < 64) { ch.write(java.nio.ByteBuffer.wrap(buf)); i += 1 }
      ch.force(false)
    } finally ch.close()
    try Files.deleteIfExists(p) catch { case _: Throwable => () }
    (System.nanoTime() - t0) / 1e9
  }

  /** Hypervisor CPU-steal percentage measured UNDER full synthetic load —
    * the round-14 lesson: steal only materializes when the vCPUs are
    * actually requesting CPU, so idle-window sampling (and every in-JVM
    * probe that runs between queries on a then-idle box) structurally
    * undersamples it. Measured on the round-14 host: 0-2 ticks/20 s at
    * idle, 16% of capacity stolen under a 32-way spin — the box had ~27
    * real cores behind 32 vCPUs, and short scheduling-bound queries read
    * ~2x their committed medians while sustained-CPU probes sat on anchor.
    * Spins `n` threads for `millis` (n = 0 sizes from the cgroup CPU quota
    * when one is set, else 32 — under a quota < 32 a fixed 32-thread
    * denominator overstates requestable capacity and understates steal),
    * returns stolen/(n*millis) * 100; -1 if /proc/stat is unreadable.
    */
  private[graft] def stealProbePct(n: Int = 0, millis: Long = 5000L): Double = {
    val threadsN =
      if (n > 0) n
      else {
        val q = cgroupCpus()
        if (q > 0) math.min(32, math.max(1, math.round(q).toInt)) else 32
      }
    def ticks(): Long =
      try {
        val line = java.nio.file.Files.readAllLines(
          java.nio.file.Paths.get("/proc/stat")).get(0)
        line.trim.split("\\s+").drop(1).lift(7).map(_.toLong).getOrElse(-1L)
      } catch { case _: Throwable => -1L }
    val s0 = ticks()
    if (s0 < 0) return -1.0
    val deadline = System.nanoTime() + millis * 1000000L
    val threads = (1 to threadsN).map { _ =>
      val t = new Thread(() => {
        var x = 0L
        while (System.nanoTime() < deadline) { x += 1 }
        if (x == Long.MinValue) println(x) // defeat dead-code elimination
      })
      t.setDaemon(true); t.start(); t
    }
    threads.foreach(_.join(millis + 2000L))
    // a final unreadable /proc/stat must return the documented -1 sentinel,
    // not (-1 - s0)/100 scaled garbage
    val s1 = ticks()
    if (s1 < 0) return -1.0
    val stolenSec = (s1 - s0) / 100.0
    stolenSec / (threadsN * millis / 1000.0) * 100.0
  }

  /** cgroup v2 CPU quota (cores available to this container), -1 if unlimited
    * or unreadable — run context for cross-round comparability.
    */
  private def cgroupCpus(): Double =
    try {
      val s = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("/sys/fs/cgroup/cpu.max")), "UTF-8").trim
      s.split("\\s+") match {
        case Array("max", _) => -1.0
        case Array(q, p) => q.toDouble / p.toDouble
        case _ => -1.0
      }
    } catch { case _: Throwable => -1.0 }

  def main(args: Array[String]): Unit = {
    val benchStart = System.nanoTime()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val benchSeed = sys.env.get("SPARK_GRAFT_BENCH_SEED")
      .flatMap(v => scala.util.Try(v.trim.toLong).toOption).getOrElse(42L)
    // --- shard mode (round 16) -------------------------------------------
    // The canonical-refresh blocker is the HOST: it steals cpu in minute-
    // scale bursts, and a full ~20-minute suite hasn't found a clean window
    // in two rounds of attempts. SPARK_GRAFT_BENCH_SHARD="i/n" runs only
    // the i-th (1-based) of n round-robin slices of the sorted query list
    // (round-robin, not contiguous, so each expensive family spreads across
    // shards and shard walls stay even) — a ~n-times-shorter run that fits
    // between bursts. A shard NEVER writes the committed baseline itself:
    // it emits target/bench_shard_<i>_of_<n>.json carrying the same gate
    // fields plus "shard_promotable" (the canonical predicate evaluated
    // over the shard), and tools/PromoteShards merges promotable shards'
    // per-query records into bench/bench_full.json. Per-shard promotion is
    // sound because every gate the canonical predicate checks — probes,
    // steal attribution, spread/retime classification — is measured inside
    // the shard's own window; the committed file just converges query-by-
    // query instead of all-at-once.
    val shardSpec: Option[(Int, Int)] =
      sys.env.get("SPARK_GRAFT_BENCH_SHARD").map { s =>
        val parts = s.split("/").map(_.trim.toInt)
        require(parts.length == 2 && parts(1) >= 1 &&
          parts(0) >= 1 && parts(0) <= parts(1),
          s"bad SPARK_GRAFT_BENCH_SHARD '$s' (want i/n, 1 <= i <= n)")
        (parts(0), parts(1))
      }
    // SPARK_GRAFT_BENCH_ONLY="a,b" — the TARGETED retry endgame: when a
    // shard was refused because one specific query's windows kept landing
    // in bursts, re-measuring just that query (a ~30-60 s run) fits windows
    // no multi-query shard can. Emits the same gate-stamped shard record
    // (target/bench_shard_only.json) for PromoteShards.
    val onlySpec: Option[Seq[String]] = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .filter(_.nonEmpty)
    require(shardSpec.isEmpty || onlySpec.isEmpty,
      "SPARK_GRAFT_BENCH_SHARD and SPARK_GRAFT_BENCH_ONLY are exclusive")
    // throughput planes ride a full run always; a shard only on request
    // (they are whole-plane measurements — sharding can't split them, and
    // every shard re-measuring them would pay the suite's most expensive
    // block n times)
    val runPlanes = (shardSpec.isEmpty && onlySpec.isEmpty) ||
      sys.env.get("SPARK_GRAFT_BENCH_PLANES").contains("1")
    val outName = (shardSpec, onlySpec) match {
      case (Some((i, n)), _) => s"bench_shard_${i}_of_$n.json"
      case (_, Some(_)) => "bench_shard_only.json"
      case _ => "bench_full.json"
    }
    // machine-load context, captured BEFORE the suite adds its own load — a
    // reader comparing rounds needs to know whether the box was already busy
    val loadBefore = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    val spark = GraftSession.tune(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // JVM/session warmup so the first timed query doesn't pay JIT + codegen
    // compilation for everyone (driver runs Bench once per round).
    try SparkEntry.entry(spark).write.format("noop").mode("overwrite").save()
    catch { case _: Throwable => () }
    // noop sink forces full plan execution (count() could short-circuit
    // through scan-only statistics paths).
    // 1 untimed warmup + MEDIAN of 5 timed runs per query: the first
    // execution pays codegen compilation + JIT (measured 4-7x on
    // formatter-heavy queries) and the container shares cores with the
    // driver, so single-shot (and min-of-2) timings carry multi-second
    // noise — round 3's bench showed uniform 1.2-2.5x "regressions" on
    // untouched queries from machine contention alone. The median absorbs
    // one-off stalls in either direction; stddev is reported per query so
    // a reader can tell a real delta from a noisy one.
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
    def stddev(xs: Seq[Double]): Double = {
      val m = xs.sum / xs.size
      math.sqrt(xs.map(x => (x - m) * (x - m)).sum / xs.size)
    }
    val timedRuns = sys.env.get("SPARK_GRAFT_BENCH_RUNS")
      .flatMap(v => scala.util.Try(v.trim.toInt).toOption)
      .filter(_ > 0).getOrElse(5)

    // --- JVM bake (round 16, shard modes) ---------------------------------
    // A shard JVM is minutes old when its queries time; a full-suite JVM is
    // up to 20 minutes into sustained load. The difference is NOT per-query
    // codegen (the per-query warmup covers that) but shared-infrastructure
    // C2 compilation completing in the background over minutes of load —
    // measured inside the first shard campaign's own records: retimes of
    // clean first passes, same JVM ~3 minutes later, read 10-60% lower on
    // steal-clean windows (q_scalar_functions 0.41→0.18, q_kmv_overlap
    // 0.82→0.53, text_langid_confusion 0.69→0.47), an early-suite premium
    // that would bake systematically-inflated anchors into a shard-merged
    // committed baseline. The bake runs the shard's own queries in untimed
    // rotation for BakeSec of wall before anything is measured — and since
    // it is untimed, a steal burst during the bake costs nothing: only the
    // short timed phase after it needs the clean window. Full (non-shard)
    // runs default to 0 (their own early-suite premium is position-random
    // under the seeded shuffle and the retime pass absorbs flags), but the
    // env knob applies everywhere.
    val allQueries = SparkEntry.queries.toSeq.sortBy(_._1)
    val selectedQueries = (shardSpec, onlySpec) match {
      case (Some((i, n)), _) => allQueries.zipWithIndex
        .collect { case (kv, idx) if idx % n == i - 1 => kv }
      case (_, Some(names)) =>
        val unknown = names.filterNot(SparkEntry.queries.contains)
        require(unknown.isEmpty, s"unknown queries in BENCH_ONLY: $unknown")
        allQueries.filter(kv => names.contains(kv._1))
      case _ => allQueries
    }
    val bakeSec = sys.env.get("SPARK_GRAFT_BENCH_BAKE_SEC")
      .flatMap(v => scala.util.Try(v.trim.toDouble).toOption)
      .getOrElse(if (shardSpec.nonEmpty || onlySpec.nonEmpty) 150.0 else 0.0)
    if (bakeSec > 0) {
      val bakeStart = System.nanoTime()
      val bakeList = new scala.util.Random(benchSeed ^ 0x9e3779b9L)
        .shuffle(selectedQueries)
      var i = 0
      while ((System.nanoTime() - bakeStart) / 1e9 < bakeSec) {
        val (_, fn) = bakeList(i % bakeList.size)
        try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        catch { case _: Throwable => () }
        spark.sharedState.cacheManager.clearCache()
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = false))
        i += 1
      }
      System.err.println(f"[bench] bake: $i runs over " +
        f"${(System.nanoTime() - bakeStart) / 1e9}%.0f s")
    }

    // self-calibration against the committed baseline (created on first run).
    // The probe runs TWICE here and keeps the second reading: the opening
    // probe of a fresh JVM repeatedly measured 1.5-1.7x its own steady
    // value from JIT cold-start alone (C2 hasn't compiled the probe loop
    // yet) — two round-8 otherwise-quiet runs were stamped machine_shifted
    // by exactly that artifact while their mid-suite probes sat on the
    // anchor. The discarded first reading still rides calibration_probes
    // via nothing — mid-suite re-probes remain the transient-shift guard.
    calibrationProbe(spark)
    val probeSec = calibrationProbe(spark)
    ioProbe() // first call pays FS/page-cache warmup (measured ~2x steady)
    val ioSec = ioProbe()
    // steal under load, NOT at idle (see stealProbePct scaladoc) — one
    // 5 s reading at suite start; the cumulative steal_sec field covers
    // the rest of the run
    val stealPct = stealProbePct()
    val calPath = java.nio.file.Paths.get("bench/calibration.json")
    // None = the file exists but didn't parse: that must be LOUD (flag the
    // round) — a silent probeSec fallback would pin the ratio to exactly
    // 1.0 and permanently disarm the machine_shifted guard
    var baselineParseFailed = false
    val baselineProbe: Double =
      if (java.nio.file.Files.exists(calPath)) {
        val txt = new String(java.nio.file.Files.readAllBytes(calPath), "UTF-8")
        """"probe_sec"\s*:\s*([0-9.eE+-]+)""".r.findFirstMatchIn(txt)
          .map(_.group(1).toDouble).getOrElse {
            baselineParseFailed = true
            System.err.println(s"[bench] WARN: $calPath exists but has no " +
              "parseable probe_sec — flagging the round machine_shifted")
            probeSec
          }
      } else {
        try {
          java.nio.file.Files.createDirectories(calPath.getParent)
          java.nio.file.Files.writeString(calPath,
            s"""{"probe_sec":$probeSec}""" + "\n")
        } catch { case _: Throwable => () }
        probeSec
      }
    // 1.5×, not 2×: a measured 1.54× probe shift inflated per-query medians
    // 20-60% — well past any optimization signal worth reading. The explicit
    // ratio also rides the JSON so readers can normalize medians when
    // comparing flagged-vs-unflagged rounds.
    val calibrationRatio = probeSec / baselineProbe
    // IO write-probe baseline, same file: created on first run with the new
    // field (the CPU baseline is left untouched), no shifted-flagging — the
    // ratio is recorded context plus the accepted-regression quiet gate
    val ioBaseline: Double = {
      val txt = if (java.nio.file.Files.exists(calPath))
        new String(java.nio.file.Files.readAllBytes(calPath), "UTF-8") else ""
      """"io_probe_sec"\s*:\s*([0-9.eE+-]+)""".r.findFirstMatchIn(txt)
        .map(_.group(1).toDouble).getOrElse {
          try {
            val base = """"probe_sec"\s*:\s*([0-9.eE+-]+)""".r
              .findFirstMatchIn(txt).map(_.group(1).toDouble).getOrElse(probeSec)
            java.nio.file.Files.createDirectories(calPath.getParent)
            java.nio.file.Files.writeString(calPath,
              s"""{"probe_sec":$base,"io_probe_sec":$ioSec}""" + "\n")
          } catch { case _: Throwable => () }
          ioSec
        }
    }

    // Committed per-query medians, loaded BEFORE this run can overwrite the
    // baseline file — the spread gate's second arm compares against them.
    val committedMedians: Map[String, Double] = {
      val p = java.nio.file.Paths.get("bench/bench_full.json")
      if (!java.nio.file.Files.exists(p)) Map.empty
      else {
        val txt = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
        """"(\w+)":\{"median":([0-9.eE+-]+)""".r.findAllMatchIn(txt)
          .map(m => m.group(1) -> m.group(2).toDouble).toMap
      }
    }

    // Spark-job + action counters (async listener bus; settled() polls the
    // job count to stability after a run returns — every JobStart is posted
    // before its job completes, so the bus only needs to drain). "Actions"
    // = distinct SQL executions (AQE stage jobs share their query's
    // `spark.sql.execution.id`) + executionless RDD jobs — the AQE-proof
    // scheduling-bound signal the multi-job policy keys on.
    val jobCounter = new java.util.concurrent.atomic.AtomicLong
    val execIds = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val bareJobs = new java.util.concurrent.atomic.AtomicLong
    // executor CPU nanoseconds (task metrics, accumulated per stage): the
    // second axis of every per-query record. Round 14's host showed 75-466
    // ticks of /proc/stat CPU-steal per 20 s window — short scheduling-
    // bound queries read ~2x their committed WALL medians while code was
    // untouched. Wall stays the headline (it is what a user experiences);
    // cpu_sec is AN adjudicator, not THE anchor: a wall regression with
    // flat cpu_sec on a steal-clean window is the host — but cpu_sec
    // itself inflates under contention (round-14 same-day, same-code runs:
    // cdc_route_fanout 9.5 -> 57.2 cpu-s/run, text_pmi_bigrams 6.6x — GC
    // interleave + memory stalls), so "both up" proves nothing on a dirty
    // window. The cross-round rule: a code-regression verdict requires
    // wall AND cpu_sec up on a steal-clean (< StealDirtySec) window;
    // gc_sec (below) separates GC inflation from compute.
    val cpuNanos = new java.util.concurrent.atomic.AtomicLong
    // executor JVM GC milliseconds (task metrics): rides every record so a
    // cpu_sec swing can be split into "the code did more work" vs "the JVM
    // spent the window collecting" (heap pressure, host memory stalls)
    val gcMillis = new java.util.concurrent.atomic.AtomicLong
    // stage-completed counter: cpu_sec/gc_sec accumulate on STAGE-COMPLETED
    // events, so the settle loop must watch this counter too — job-start
    // stability alone can snapshot cpuNanos while trailing stage completions
    // are still queued on the async listener bus, attributing them to the
    // NEXT query's window
    val stageCounter = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobCounter.incrementAndGet()
        Option(j.properties)
          .flatMap(p => Option(p.getProperty("spark.sql.execution.id"))) match {
          case Some(e) => execIds.add(e)
          case None => bareJobs.incrementAndGet()
        }
        ()
      }
      override def onStageCompleted(
          s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        cpuNanos.addAndGet(s.stageInfo.taskMetrics.executorCpuTime)
        gcMillis.addAndGet(s.stageInfo.taskMetrics.jvmGCTime)
        stageCounter.incrementAndGet()
        ()
      }
    })
    /** /proc/stat CPU-steal ticks (USER_HZ = 10 ms each), cumulative since
      * boot; -1 if unreadable. Hypervisor-level contention the in-JVM
      * probes undersample — the run-level delta rides the record.
      */
    def stealTicks(): Long =
      try {
        val line = java.nio.file.Files.readAllLines(
          java.nio.file.Paths.get("/proc/stat")).get(0)
        line.trim.split("\\s+").drop(1).lift(7).map(_.toLong).getOrElse(-1L)
      } catch { case _: Throwable => -1L }
    val stealStart = stealTicks()
    // settle on BOTH job-start and stage-completed counts: jobs prove the
    // run submitted nothing more, stages prove the cpu_sec/gc_sec snapshot
    // saw every completion event drain off the async listener bus
    def countersSettled(): (Long, Long) = {
      var last = (jobCounter.get(), stageCounter.get()); var stable = 0
      while (stable < 3) {
        Thread.sleep(10)
        val c = (jobCounter.get(), stageCounter.get())
        if (c == last) stable += 1 else { last = c; stable = 0 }
      }
      (last._1, execIds.size.toLong + bareJobs.get())
    }

    /** One query's full measurement: 1 untimed warmup (count(), which also
      * yields the rows/s denominator), `timedRuns` timed runs — extended by
      * MultiJobExtraRuns when the first timed run launches more than
      * MultiActionThreshold distinct actions (see multi-job run policy
      * above) — then per-query teardown. Without the teardown the suite
      * accumulates storage blocks across all ~135 queries: cached frames a
      * query deliberately leaves warm for its own repeated runs, plus lazy-
      * localCheckpoint blocks only freed when the ContextCleaner happens to
      * GC the frame reference. Round 8 measured the result as monotone
      * 1.9-2.4x drift on UNTOUCHED queries across successive runs while
      * mid-suite probes sat on the calibration anchor — suite-level state,
      * not code. Scope: between queries only, so within-query cache reuse
      * across the warmup + timed runs is preserved.
      */
    case class QRec(name: String, med: Double, sd: Double, rows: Long,
                    jobs: Int, actions: Int, runs: Int, cpuSec: Double,
                    gcSec: Double, qStealSec: Double,
                    firstMedian: Option[Double] = None)
    def timeQuery(name: String,
                  fn: (SparkSession, String) => DataFrame): QRec = {
      def run(): Unit =
        try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
        }
      // warmup doubles as the rows/s denominator: count() executes the same
      // upstream plan once (the final agg differs, but codegen/scan warmup
      // carries) — one fewer full execution per query than a separate count
      val rows = try fn(spark, sfDir).count() catch { case _: Throwable => -1L }
      val (j0, a0) = countersSettled()
      val c0 = cpuNanos.get()
      val g0 = gcMillis.get()
      val s0 = stealTicks()
      val t0 = System.nanoTime()
      run()
      val first = (System.nanoTime() - t0) / 1e9
      val (j1, a1) = countersSettled()
      val (jobs, actions) = ((j1 - j0).toInt, (a1 - a0).toInt)
      // gate on min(first, committed median): a host-steal burst during the
      // first run of a normally-cheap scheduling-bound query must not
      // disable the extra runs exactly when they carry the most signal
      val gateSec = committedMedians.get(name)
        .fold(first)(c => math.min(first, c))
      val extra = if (actions > MultiActionThreshold && gateSec <= ExtraRunsMaxSec
          && first <= ExtraRunsMaxSec * ExtraRunsFirstSanityMult)
        MultiJobExtraRuns else 0
      val times = first +: (2 to timedRuns + extra).map { _ =>
        val t1 = System.nanoTime()
        run()
        (System.nanoTime() - t1) / 1e9
      }
      countersSettled() // drain the listener bus so cpu_sec sees every stage
      val cpuSec = (cpuNanos.get() - c0) / 1e9 / times.size // mean per run
      val gcSec = (gcMillis.get() - g0) / 1e3 / times.size  // mean per run
      // hypervisor steal during THIS query's timed window, total cpu-s
      // across all cores: the per-query contamination instrument — a
      // wall median measured while cpu-seconds were being stolen is a
      // host artifact whatever the retime classifier says (run-level
      // steal averaged 3% in a round-14 attempt yet single bursts put
      // tens of stolen cpu-s inside specific queries' windows)
      val qStealSec = {
        val s1 = stealTicks()
        if (s0 >= 0 && s1 >= 0) (s1 - s0) / 100.0 else -1.0
      }
      spark.sharedState.cacheManager.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
      settle()
      QRec(name, median(times), stddev(times), rows, jobs, actions,
        times.size, cpuSec, gcSec, qStealSec)
    }

    /** Drain THIS SUITE's own residue before the next measurement — the
      * round-14 finding the probes kept tripping on: two independent runs
      * (same seed, 4 then 32 cpus) burst at the SAME two mid-suite probe
      * positions — the ones directly after the CC/dedup cluster — with the
      * pure-CPU probe at 4.5 s (13x anchor) and the fsync probe at 2.9 s,
      * while every suite-endpoint probe sat ON the anchor. Same positions
      * across runs = not host noise: the heavy queries leave major-GC debt
      * (checkpoint/broadcast garbage the non-blocking unpersist hasn't
      * collected) and a dirty page-cache writeback backlog, and whatever
      * runs next — a probe, or an innocent cheap query — pays it. Taking
      * the GC (only when the heap is actually loaded) and the sync HERE
      * serializes that debt into untimed suite time, so probes measure the
      * HOST and each query starts from a consistent system state.
      */
    def settle(): Unit = {
      val rt = Runtime.getRuntime
      if (rt.totalMemory - rt.freeMemory > rt.maxMemory / 2) System.gc()
      try {
        val p = new ProcessBuilder("sync").start()
        p.waitFor(60, java.util.concurrent.TimeUnit.SECONDS); ()
      } catch { case _: Throwable => () }
    }

    // --- survivable emission (round 14) ----------------------------------
    // BENCH_r13 was a timeout kill (rc=124) and the round lost its ENTIRE
    // record because everything was emitted only at the very end. Two
    // belts: (a) after every completed query the partial record is
    // rewritten to target/bench_full.json, so a killed run leaves per-query
    // forensics on disk; (b) a JVM shutdown hook prints a "partial":true
    // headline JSON line (the driver parses the last JSON line of stdout)
    // unless the normal end-of-run line already printed.
    val recsSoFar = new java.util.concurrent.ConcurrentLinkedQueue[QRec]()
    val finalPrinted = new java.util.concurrent.atomic.AtomicBoolean(false)
    def r4(v: Double): Double = math.round(v * 10000) / 10000.0
    def headlineJson(rs: Seq[QRec]): String =
      rs.sortBy(-_.med).take(12)
        .map(r => "\"" + r.name + "\":" + r4(r.med)).mkString("{", ",", "}")
    def emitPartial(): Unit = {
      val rs = recsSoFar.toArray(Array.empty[QRec]).toSeq.sortBy(_.name)
      val qs = rs.map { r =>
        s"""\"${r.name}\":{"median":${r.med},"stddev":${r.sd},""" +
          s""""rows":${r.rows},"jobs":${r.jobs},"actions":${r.actions},""" +
          s""""runs":${r.runs},"cpu_sec":${r4(r.cpuSec)},""" +
          s""""gc_sec":${r4(r.gcSec)},""" +
          s""""steal_sec":${r4(r.qStealSec)}}"""
      }.mkString("{", ",", "}")
      try {
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get("target"))
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(s"target/$outName"),
          s"""{"partial":true,"n_queries":${rs.size},"queries":$qs,""" +
            s""""bench_seed":$benchSeed,"sf":"$sfDir"}""" + "\n")
      } catch { case _: Throwable => () }
    }
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      if (!finalPrinted.get) {
        val rs = recsSoFar.toArray(Array.empty[QRec]).toSeq
        println(s"""{"metric":"total","value":${r4(rs.map(_.med).sum)},""" +
          s""""unit":"sec","partial":true,"n_queries":${rs.size},""" +
          s""""queries":${headlineJson(rs)},""" +
          s""""cdc_events_per_sec":0,"stream_events_per_sec":0,"sf":"$sfDir"}""")
        System.out.flush()
      }
    }))

    // Execution order is a SEEDED SHUFFLE, not alphabetical: round 6's
    // transient stall at suite start inflated exactly the alphabetically-
    // first family (ann_*) 2-4x and the artifact was indistinguishable from
    // a code regression. Randomized order spreads machine noise across
    // unrelated names; the seed rides the JSON so a run is reproducible.
    val ordered = new scala.util.Random(benchSeed).shuffle(selectedQueries)
    // ... and the probe re-runs mid-suite (every ~25 queries): a stall that
    // starts (or clears) after the opening probe is caught by whichever
    // re-probe it overlaps, so a shifted WINDOW flags the round even when
    // the suite's endpoints look quiet.
    val midProbes = scala.collection.mutable.ArrayBuffer.empty[Double]
    val midIoProbes = scala.collection.mutable.ArrayBuffer.empty[Double]
    val firstPass = ordered.zipWithIndex.map { case ((name, fn), i) =>
      if (i > 0 && i % 25 == 0) {
        midProbes += calibrationProbe(spark)
        midIoProbes += ioProbe()
      }
      val r = timeQuery(name, fn)
      recsSoFar.add(r); emitPartial()
      r
    }

    // spread gate: flag, re-time once at suite end, classify (see constants).
    // The committed arm compares the CALIBRATION-NORMALIZED median (med /
    // calibrationRatio): a machine running uniformly 1.0-1.5x slow — below
    // the machine_shifted gate — would otherwise reproduce on retime, be
    // classified an accepted regression, and bake inflated medians into the
    // canonical baseline.
    def stddevArm(med: Double, sd: Double): Boolean =
      med > 0 && sd > SpreadStddevFloorSec && sd / med > SpreadStddevRatioMax
    def committedArm(name: String, med: Double): Boolean =
      committedMedians.get(name)
        .exists(c => med / calibrationRatio > c * SpreadCommittedRatioMax)
    // the first-pass steal arm (round 15): a first-pass window that
    // absorbed > StealDirtySec stolen cpu-s is contaminated whatever its
    // spread looks like — round 14's canonical baseline entered 6 such
    // medians unchallenged (events_funnel_latency alone: 39 stolen cpu-s).
    // Steal-dirty first passes join the retime set; the retimed (clean)
    // median replaces the contaminated one, and an unresolved entry
    // (retime skipped, or itself steal-dirty) blocks canonicality.
    val firstPassStealDirty = firstPass
      .filter(_.qStealSec > StealDirtySec).map(_.name).toSet
    // violation severity orders the capped retime set: the worst offenders
    // get their second look first (steal contamination competes on its
    // stolen-seconds ratio)
    def severity(r: QRec): Double = Seq(
      if (r.med > 0) (r.sd / r.med) / SpreadStddevRatioMax else 0.0,
      committedMedians.get(r.name).map(c =>
        (r.med / calibrationRatio) / (c * SpreadCommittedRatioMax)).getOrElse(0.0),
      if (r.qStealSec > 0) r.qStealSec / StealDirtySec else 0.0).max
    val flaggedRecs = firstPass.filter(r =>
      stddevArm(r.med, r.sd) || committedArm(r.name, r.med) ||
        firstPassStealDirty(r.name))
    val flagged = flaggedRecs.map(_.name)
    // budget the retime pass: cap the set, and stop early if the suite is
    // approaching the external wall budget (reserve headroom for the CDC +
    // streaming throughput planes, ~150 s) — a flagged-heavy run must still
    // EMIT before the driver's timeout (the r13 lesson, rc=124)
    // 1150 (was 1000): the r12 driver window fit 945 s; the settle step +
    // 136 queries push a quiet full run to ~1050-1100 s, and the budget
    // only gates the RETIME pass (the suite itself always runs to
    // completion and emits) — an undersized budget silently skips every
    // retime and blocks canonicality on an otherwise quiet run.
    val budgetSec = sys.env.get("SPARK_GRAFT_BENCH_BUDGET_SEC")
      .flatMap(v => scala.util.Try(v.trim.toDouble).toOption).getOrElse(1150.0)
    // 120 (was 180): the instrumented full run measured the planes at
    // ~84 s end-to-end; the 180 s reserve made the retime cutoff land
    // EXACTLY on the observed queries-phase end (~970 s) and budget-skip
    // all four flagged retimes of an otherwise-converging run
    val planesReserveSec = 120.0
    def elapsedSec: Double = (System.nanoTime() - benchStart) / 1e9
    val queriesByName = SparkEntry.queries
    val retimeOrder = flaggedRecs.sortBy(r => -severity(r))
    val (toRetime, retimeSkipped0) = retimeOrder.splitAt(RetimeCap)
    val retimedPairs = scala.collection.mutable.ArrayBuffer
      .empty[(String, (Double, QRec))]
    val budgetSkipped = scala.collection.mutable.ArrayBuffer.empty[String]
    toRetime.foreach { r =>
      if (elapsedSec > budgetSec - planesReserveSec) budgetSkipped += r.name
      else {
        val rr = timeQuery(r.name, queriesByName(r.name))
        recsSoFar.add(rr); emitPartial()
        retimedPairs += (r.name -> (r.med, rr))
      }
    }
    val retimed: Map[String, (Double, QRec)] = retimedPairs.toMap
    val retimeSkipped = (retimeSkipped0.map(_.name) ++ budgetSkipped).sorted
    // a retime whose own window had cpu-seconds stolen cannot adjudicate
    // ANYTHING: a "reproduced regression" measured under active steal is
    // the host reproducing, not the code; a retime meant to REPLACE a
    // steal-dirty first pass that is itself dirty never gave the entry a
    // clean measurement; and (the round-15 hole) a dirty retime of a
    // stddev-flagged-but-steal-CLEAN first pass is a contaminated median
    // that must not silently replace the clean one — StealDirtySec's
    // declaration is unconditional ("HOST-contaminated whatever its median
    // says"), so ANY dirty retime joins this set and blocks canonicality.
    val stealDirty = retimed.collect {
      case (name, (_, rr)) if rr.qStealSec > StealDirtySec => name
    }.toSeq.sorted
    val results = firstPass.map { r =>
      retimed.get(r.name)
        .map { case (firstMed, rr) =>
          // a steal-dirty retime of a steal-clean first pass: keep the
          // clean first-pass median (the contaminated window must not
          // enter the record's medians; the entry still blocks
          // canonicality via stealDirty — it never resolved its flag)
          if (rr.qStealSec > StealDirtySec && !firstPassStealDirty(r.name)) r
          else rr.copy(firstMedian = Some(firstMed))
        }
        .getOrElse(r)
    }.sortBy(_.name) // report alphabetically whatever the execution order
    val stillInconsistent = retimed.collect {
      case (name, (_, rr)) if stddevArm(rr.med, rr.sd) => name
    }.toSeq.sorted
    val (acceptedRegressions, unreproduced) = retimed.toSeq.collect {
      case (name, (firstMed, rr))
          if committedArm(name, rr.med) && !stealDirty.contains(name) =>
        val reproduced = firstMed > 0 &&
          math.abs(rr.med - firstMed) / firstMed <= ReproducedTolerance
        (name, reproduced)
    }.partition(_._2) match {
      case (rep, unrep) => (rep.map(_._1).sorted, unrep.map(_._1).sorted)
    }
    val spreadClean = stillInconsistent.isEmpty && unreproduced.isEmpty &&
      retimeSkipped.isEmpty && stealDirty.isEmpty
    val allProbes = probeSec +: midProbes.toSeq
    val worstRatio = allProbes.map(_ / baselineProbe)
      .maxBy(r => math.max(r, 1.0 / r))
    // >5% stolen under load = the box does not have the cores it claims;
    // per-query medians are not comparable to a no-steal baseline (the
    // round-14 host: 16% stolen, short queries uniformly ~2x committed on
    // untouched code while every sustained-CPU probe sat on its anchor)
    val machineShifted = baselineParseFailed ||
      worstRatio > 1.5 || worstRatio < 1.0 / 1.5 || stealPct > 5.0
    // IO worst ratio: slow-only (a faster disk is not noise). Not part of
    // machine_shifted — but accepted regressions may only canonicalize on a
    // provably quiet machine on BOTH axes (see probesQuiet below): the
    // failure mode is a host-side IO burst the CPU probes can't see
    // reproducing a query's slowness across first pass AND retime, getting
    // classified "accepted regression", and baking inflated medians into
    // the committed baseline.
    val allIoProbes = ioSec +: midIoProbes.toSeq
    val ioWorstRatio =
      if (ioBaseline > 0) allIoProbes.map(_ / ioBaseline).max else 1.0
    val probesQuiet = worstRatio <= 1.2 && ioWorstRatio <= 1.5
    // The driver captures only a bounded tail of stdout and parses the JSON
    // line out of it; a line carrying all ~80 query medians + stddevs
    // (~8 KB) overflows that window and the round's bench goes unparsed
    // (BENCH_r01..r04 all show parsed:null). So the printed line carries
    // ONLY a headline subset, rounded; the full per-query medians, stddevs
    // and rows/s go to target/bench_full.json (and the committed
    // bench/bench_full.json baseline) for human readers. The headline is
    // chosen BY COST — the 12 slowest queries of this run — so the
    // driver-visible number tracks the expensive tail, not a fixed
    // name list that hides it.
    val qs = headlineJson(results)
    val full = results.map { r =>
      val rps = if (r.rows >= 0 && r.med > 0) (r.rows / r.med).round else -1L
      val retimedField = r.firstMedian
        .map(fm => ",\"first_median\":" + fm).getOrElse("")
      s"\"" + r.name + "\":{\"median\":" + r.med + ",\"stddev\":" + r.sd +
        ",\"rows\":" + r.rows + ",\"rows_per_sec\":" + rps +
        ",\"jobs\":" + r.jobs + ",\"actions\":" + r.actions +
        ",\"runs\":" + r.runs + ",\"cpu_sec\":" + r4(r.cpuSec) +
        ",\"gc_sec\":" + r4(r.gcSec) +
        ",\"steal_sec\":" + r4(r.qStealSec) +
        retimedField + "}" }
      .mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.map(_.med).sum else 0.0
    // CDC-plane throughput (BASELINE.md sanity target: >= 20k events/s for
    // route+dedupe+batch). Rate = input events / wall time of the full plane.
    // Measurement policy (round 10, after the r9 163k→7.6k collapse that
    // lacked the instrumentation to exonerate itself):
    //   - WARM JVM, COLD STORAGE: the per-query teardown above has cleared
    //     every cached/persisted block, so each timed run honestly re-reads
    //     parquet — the steady-state shape of a plane that in production
    //     reads fresh CDC input every trigger. (r8's 163k was measured with
    //     ~123 queries' worth of accumulated storage blocks still resident,
    //     i.e. partially cache-fed — not comparable.)
    //   - ONE UNTIMED WARMUP run pays codegen/JIT for the plane (same 1+N
    //     methodology as every batch query), then median of 3 timed runs.
    //   - OWN calibration probes before/after (the stream_probe_* pattern):
    //     this block runs late in the suite, where twice now a contended
    //     tail window has silently distorted the one number that carries
    //     the reference's throughput envelope.
    val cdcProbeBefore = calibrationProbe(spark)
    val throughput = if (!runPlanes) 0.0 else try {
      val nEvents = spark.read.parquet(s"$sfDir/events.parquet").count()
      def runPlane(): Double = {
        val t0 = System.nanoTime()
        SparkEntry.entry2(spark, sfDir).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      runPlane() // untimed warmup: codegen + JIT for the plane's stages
      val secs = median((1 to CdcTimedRuns).map(_ => runPlane()))
      nEvents / secs
    } catch { case e: Throwable =>
      System.err.println(s"[bench] throughput failed: ${e.getMessage}"); 0.0
    }
    val cdcProbeAfter = calibrationProbe(spark)
    // the streaming plane runs LAST, after the whole batch suite; its
    // number has twice diverged ~2x between driver runs and quiet-host
    // canonical runs (r8: 25.6k vs claimed 48-52k). Stamp the streaming
    // measurements with their OWN probe readings (before and after) so a
    // contended tail window is visible in the JSON instead of inferred.
    val streamProbeBefore = calibrationProbe(spark)
    val streamRate = if (!runPlanes) 0.0 else try streamingThroughput(spark, sfDir)
    catch { case e: Throwable =>
      System.err.println(s"[bench] streaming throughput failed: ${e.getMessage}"); 0.0
    }
    val streamProbeAfter = calibrationProbe(spark)
    // standalone adjudication (round 15): an ACCEPTED regression — a
    // reproduced committed-arm violation on a steal-clean window — used to
    // carry only the in-suite evidence, and its exoneration (the "host
    // class changed, code untouched" forensics) lived in manual TimeQuery
    // runs outside the record. Now each accepted regression gets one more
    // full re-measure HERE, after the whole suite has drained (the closest
    // an in-process run gets to an idle box), bracketed by its own CPU
    // probes and carrying its own steal window — so the record ships its
    // exoneration evidence. Bounded: |accepted| is typically 0-3, and the
    // pass is skipped wholesale past the wall budget.
    val adjudications = scala.collection.mutable.ArrayBuffer.empty[String]
    acceptedRegressions.foreach { name =>
      if (elapsedSec < budgetSec) {
        val pb = calibrationProbe(spark)
        val rr = timeQuery(name, queriesByName(name))
        val pa = calibrationProbe(spark)
        adjudications += s""""$name":{"median":${r4(rr.med)},""" +
          s""""stddev":${r4(rr.sd)},"cpu_sec":${r4(rr.cpuSec)},""" +
          s""""gc_sec":${r4(rr.gcSec)},"steal_sec":${r4(rr.qStealSec)},""" +
          s""""probe_before_sec":${r4(pb)},"probe_after_sec":${r4(pa)}}"""
      } else adjudications += s""""$name":{"skipped":"budget"}"""
    }
    val loadAfter = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    val context =
      s""""cdc_probe_before_sec":${r4(cdcProbeBefore)},""" +
      s""""cdc_probe_after_sec":${r4(cdcProbeAfter)},""" +
      s""""cdc_probe_worst_ratio":${r4(
        Seq(cdcProbeBefore, cdcProbeAfter).map(_ / baselineProbe)
          .maxBy(r => math.max(r, 1.0 / r)))},""" +
      s""""stream_probe_before_sec":${r4(streamProbeBefore)},""" +
      s""""stream_probe_after_sec":${r4(streamProbeAfter)},""" +
      s""""stream_probe_worst_ratio":${r4(
        Seq(streamProbeBefore, streamProbeAfter).map(_ / baselineProbe)
          .maxBy(r => math.max(r, 1.0 / r)))},""" +
      s""""timed_runs":$timedRuns,"cdc_timed_runs":$CdcTimedRuns,""" +
      s""""stream_timed_runs":$StreamTimedRuns,""" +
      // the measurement contract rides the record itself (not just code
      // comments): each throughput plane runs 1 untimed warmup (codegen/JIT)
      // on a warm JVM whose caches the per-query teardown has cleared, so
      // every timed run re-reads storage
      s""""throughput_policy":"warm-jvm/cold-storage; 1 untimed warmup; """ +
      s"""cdc=median of cdc_timed_runs, stream=best of stream_timed_runs",""" +
      s""""load_before":${r4(loadBefore)},""" +
      s""""load_after":${r4(loadAfter)},"cgroup_cpus":${r4(cgroupCpus())},""" +
      s""""calibration_probe_sec":${r4(probeSec)},""" +
      s""""calibration_baseline_sec":${r4(baselineProbe)},""" +
      s""""calibration_ratio":${r4(calibrationRatio)},""" +
      s""""calibration_worst_ratio":${r4(worstRatio)},""" +
      s""""calibration_probes":[${allProbes.map(r4).mkString(",")}],""" +
      s""""io_probe_sec":${r4(ioSec)},""" +
      s""""io_baseline_sec":${r4(ioBaseline)},""" +
      s""""io_probes":[${allIoProbes.map(r4).mkString(",")}],""" +
      s""""io_worst_ratio":${r4(ioWorstRatio)},""" +
      // hypervisor CPU-steal over the whole run, in seconds (ticks/100):
      // the shared-host contention axis both in-JVM probe families
      // undersample (round-14 watcher: bursts of 0.75-4.7 stolen cpu-s per
      // 20 s window while io-fsync samples between bursts sat on anchor)
      s""""steal_sec":${r4(
        if (stealStart >= 0) (stealTicks() - stealStart) / 100.0 else -1.0)},""" +
      s""""steal_probe_pct":${r4(stealPct)},""" +
      s""""probes_quiet":$probesQuiet,""" +
      s""""bench_seed":$benchSeed,""" +
      s""""machine_shifted":$machineShifted,""" +
      // the spread gate's verdict rides the record: which queries tripped
      // it, what the retime found, and whether anything blocks canonicality
      s""""spread_stddev_ratio_max":$SpreadStddevRatioMax,""" +
      s""""spread_committed_ratio_max":$SpreadCommittedRatioMax,""" +
      s""""spread_flagged":[${flagged.sorted.map("\"" + _ + "\"").mkString(",")}],""" +
      s""""spread_still_inconsistent":[${
        stillInconsistent.map("\"" + _ + "\"").mkString(",")}],""" +
      s""""spread_accepted_regressions":[${
        acceptedRegressions.map("\"" + _ + "\"").mkString(",")}],""" +
      s""""spread_unreproduced":[${
        unreproduced.map("\"" + _ + "\"").mkString(",")}],""" +
      s""""spread_steal_dirty":[${
        stealDirty.map("\"" + _ + "\"").mkString(",")}],""" +
      s""""steal_dirty_first_pass":[${
        firstPassStealDirty.toSeq.sorted.map("\"" + _ + "\"").mkString(",")}],""" +
      s""""spread_retime_skipped":[${
        retimeSkipped.map("\"" + _ + "\"").mkString(",")}],""" +
      s""""standalone_adjudication":{${adjudications.mkString(",")}},""" +
      s""""spread_clean":$spreadClean,""" +
      s""""multi_action_threshold":$MultiActionThreshold,""" +
      s""""multi_job_extra_runs":$MultiJobExtraRuns,""" +
      s""""retime_cap":$RetimeCap,""" +
      s""""budget_sec":${r4(budgetSec)},""" +
      s""""elapsed_sec":${r4(elapsedSec)},""" +
      // total normalized by the probe ratio: a crude but stated CPU-speed
      // correction so a shifted round still yields a comparable number
      s""""total_calibrated_sec":${r4(
        if (calibrationRatio > 0) total / calibrationRatio else total)}"""
    // the throughput planes ride the canonical record too: the r9 CDC
    // regression had NO committed baseline value to compare against because
    // bench_full.json only carried per-query medians
    // target/ for this run; bench/ is the committed cross-round baseline and
    // only CANONICAL runs may replace it (sf0.1, full median-of-5, probe
    // unshifted) — a quick sf0.001 smoke run or a busy-machine run that
    // overwrote the baseline would silently poison every later round's
    // comparison (exactly what happened to the r6 baseline before this guard)
    // ... and since round 13 the per-query spread gate must also be clean:
    // an interference window the probes miss (r12's q_tumbling_window
    // 2.71±0.78 s on untouched code) shows up as an unreproduced retime or
    // residual inconsistency, and such a run must not become the baseline.
    // ... and accepted regressions need a provably QUIET machine (both CPU
    // and IO probes on their anchors): a reproduced slowdown on a noisy
    // host is the host, not the code, and must not enter the baseline.
    // the canonical predicate — identical for full runs and shards; a full
    // run meeting it replaces the committed baseline outright, a shard
    // meeting it is stamped promotable and merged by tools/PromoteShards
    val canonicalEligible = sfDir.stripSuffix("/").endsWith("sf0.1") &&
      timedRuns >= 5 && !machineShifted && spreadClean &&
      (acceptedRegressions.isEmpty || probesQuiet)
    val canonical = canonicalEligible && shardSpec.isEmpty && onlySpec.isEmpty
    val shardFields = (shardSpec, onlySpec) match {
      case (Some((i, n)), _) =>
        s""""shard":"$i/$n","shard_promotable":$canonicalEligible,"""
      case (_, Some(names)) =>
        s""""shard":"only:${names.mkString("+")}",""" +
          s""""shard_promotable":$canonicalEligible,"""
      case _ => ""
    }
    val outJson =
      s"""{$shardFields"queries":$full,$context,""" +
      s""""cdc_events_per_sec":${throughput.round},""" +
      s""""stream_events_per_sec":${streamRate.round},""" +
      s""""sf":"$sfDir"}""" + "\n"
    try {
      val dir = java.nio.file.Paths.get("target")
      java.nio.file.Files.createDirectories(dir)
      java.nio.file.Files.writeString(dir.resolve(outName), outJson)
    } catch { case _: Throwable => () }
    if (canonical) {
      try {
        val dir = java.nio.file.Paths.get("bench")
        java.nio.file.Files.createDirectories(dir)
        java.nio.file.Files.writeString(dir.resolve("bench_full.json"), outJson)
      } catch { case _: Throwable => () }
    } else System.err.println(
      "[bench] non-canonical run (sf/runs/shift/spread/shard): " +
        "bench/bench_full.json baseline left untouched" +
        shardSpec.map(_ => s" (shard record: target/$outName)").getOrElse(""))
    // stop() can throw on shutdown races; the bench line must print anyway
    // (a swallowed line parses as a null round)
    try spark.stop() catch { case _: Throwable => () }
    // mark the run complete FIRST so the shutdown hook's partial line
    // cannot race in below the real one
    finalPrinted.set(true)
    // printed after spark.stop() so no shutdown logging lands below it —
    // this must be the last stdout line sbt emits for this main
    println(s"""{"metric":"total","value":${r4(total)},"unit":"sec",""" +
      s"""$shardFields"queries":$qs,"n_queries":${results.size},$context,""" +
      s""""cdc_events_per_sec":${throughput.round},""" +
      s""""stream_events_per_sec":${streamRate.round},""" +
      s""""sf":"$sfDir"}""")
  }
}
