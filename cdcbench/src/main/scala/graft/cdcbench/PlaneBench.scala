package graft.cdcbench

import graft.GraftSession
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable

/** Entry point of the CDC-plane benchmark (run through `cdcbench/run.py`).
  *
  *   PlaneBench --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *              --work <dir> [--toy]
  *
  * Untraced: a warm-up round, then the measured round between set-up-only
  * rounds; prints the end-to-end metrics. Traced: the warm-up and the
  * measured round, then a second measured round with the trace listener
  * attached and the per-layer probe; prints the per-layer metrics. Every
  * round is checked; a failed check, or an open loop whose generator fell
  * behind, ends the run with `"correct": false` and exit code 1 after the
  * result line.
  */
object PlaneBench {
  final case class Metric(name: String, value: Double, unit: String)

  private def arg(args: Array[String], k: String): Option[String] = {
    val i = args.indexOf(k)
    if (i >= 0 && i + 1 < args.length) Some(args(i + 1)) else None
  }

  def quantile(xs: Array[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      s(math.min(s.length - 1, math.max(0, math.ceil(q * s.length).toInt - 1)))
    }
  private def median(xs: Iterable[Double]): Double = {
    val s = xs.toArray.sorted
    if (s.isEmpty) 0.0 else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  /** Host CPU steal since boot, seconds (`/proc/stat`, USER_HZ = 100). */
  def stealSec(): Double =
    try {
      val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+")
      f(8).toLong / 100.0
    } catch { case _: Exception => -1.0 }

  final class Measured(val d: RoundData, val c: CheckResult, val before: Epoch,
                       val measured: Seq[Epoch], val windowMs: Double, val rowsPerS: Double,
                       val cpuMsPerKrow: Double) {
    def rows: Long = measured.map(_.rows).sum
    def latP50: Double = quantile(c.latenciesMs, 0.50)
    def latP99: Double = quantile(c.latenciesMs, 0.99)
  }

  /** Window, rate and CPU of a measured round, plus its output check.
    *
    * Open loop: the window runs from the trigger before the first measured
    * epoch to the trigger of the last, so the rows it read arrived inside it
    * and `rows_per_s` is the rate the plane kept up with. Drains: each
    * measured epoch contributes rows ÷ (its end − the previous epoch's end),
    * and the median over epochs is reported, so one stolen epoch does not
    * move the figure. CPU per 1,000 rows is taken over all measured epochs
    * at once, so that a garbage collection counts the same wherever it
    * falls; see [[BenchThreads.planeCpu]] for the threads it covers.
    */
  def measure(d: RoundData): Measured = {
    val es = d.epochs
    require(es.nonEmpty, "no epoch committed")
    require(es.map(_.batchId) == es.indices.map(_.toLong),
      s"epochs are not contiguous: ${es.map(_.batchId)}")
    val warm = d.wl.warmEpochs
    // a drain measures at least two epochs
    val least = if (d.wl.openLoop) warm + 1 else warm + 2
    require(es.size >= least, s"need at least $least epochs, got ${es.size}")
    val measured = es.drop(warm)
    val pairs = es.sliding(2).filter(p => p(1).batchId >= warm).toSeq
    val cpuPerKrow = BenchThreads.delta(es(warm - 1).planeCpu, es.last.planeCpu) / 1e6 /
      (measured.map(_.rows).sum / 1000.0)
    val (windowMs, rate) =
      if (d.wl.openLoop) {
        val w = (measured.last.startMs - es(warm - 1).startMs).toDouble
        (w, measured.map(_.rows).sum / (w / 1000.0))
      } else
        ((measured.last.endMs - es(warm - 1).endMs).toDouble,
          median(pairs.map { case Seq(a, b) => b.rows / ((b.endMs - a.endMs) / 1000.0) }))
    val epochStart = es.map(e => e.batchId -> e.startMs.toDouble).toMap
    val c = Check(d, measured.map(_.batchId).toSet,
      if (d.wl.openLoop) (s, i, _) => d.toMs(d.logs(s).due(i))
      else (_, _, batch) => epochStart(batch))
    new Measured(d, c, es(warm - 1), measured, windowMs, rate, cpuPerKrow)
  }

  def endToEnd(m: Measured, setupS: Double): Seq[Metric] = Seq(
    Metric("setup_s", setupS, "s"),
    Metric("rows_per_s", m.rowsPerS, "rows/s"),
    Metric("latency_p50_ms", m.latP50, "ms"),
    Metric("latency_p99_ms", m.latP99, "ms"),
    Metric("cpu_ms_per_krow", m.cpuMsPerKrow, "ms"),
    Metric("emit_ratio", m.c.measuredIdsOut.toDouble / m.c.measuredPairs, "ratio"))

  /** Set-up-only rounds per untraced run, half before and half after the
    * measured round. */
  val SetupRounds = 6
  /** The open loop counts only while the generator's p99 lateness against
    * its schedule stays below this. */
  val LateLimitMs = 250.0

  private val MaxId = "18446744073709551615-18446744073709551615"

  def perLayer(m: Measured, untraced: Measured, probe: Probe.Out): Seq[Metric] = {
    val d = m.d
    val es = d.epochs
    val t = d.trace.get
    t.settle()
    def dur(e: Epoch, k: String): Double = e.durations.getOrElse(k, 0L).toDouble
    def perEpoch(f: t.Tally => Long): Double =
      median(m.measured.map(e => Option(t.byBatch.get(e.batchId)).map(x => f(x).toDouble).getOrElse(0.0)))
    val waits = m.measured.map { e =>
      val prev = es(e.batchId.toInt - 1)
      math.max(0L, e.startMs - prev.endMs).toDouble
    }
    // rows appended but not yet read when each measured epoch started
    val lags = m.measured.map { e =>
      val generated = d.logs.map { log =>
        if (!d.wl.openLoop) log.size
        else (0 until log.size).count(i => d.toMs(log.sent(i)) <= e.startMs)
      }.sum
      val read = d.wl.tables.indices.map(s => d.range(e, s)._2).sum
      math.max(0, generated - read).toDouble
    }
    // latestOffset polls after the backlog is drained find nothing; their
    // number depends on timing, so they are left out of the wire counts
    val wire = d.wire.filterNot(c => c.name == "XRANGE" && c.args.lift(2).contains(MaxId) &&
      c.replyEntries == 0)
    def cmds(n: String): Double = wire.count(_.name == n).toDouble
    val xrangeBytes = wire.filter(_.name == "XRANGE").map(_.bytesOut).sum.toDouble
    val self = Probe.Prefixes.zip("" +: Probe.Prefixes).map { case (p, prev) =>
      p -> ((x: Map[String, Double]) => x(p) - (if (prev.isEmpty) 0.0 else x(prev)))
    }.toMap
    val cnt = probe.counts
    val routedNonNull = cnt("routed_rows") - cnt("rejects")
    Seq(
      Metric("streaming.epochs", es.size, "count"),
      Metric("streaming.first_epoch_ms", es.head.triggerMs.toDouble, "ms"),
      Metric("streaming.epoch_ms_p50", median(m.measured.map(_.triggerMs.toDouble)), "ms"),
      Metric("streaming.epoch_ms_p99", quantile(m.measured.map(_.triggerMs.toDouble).toArray, 0.99), "ms"),
      Metric("streaming.plan_ms_p50", median(m.measured.map(dur(_, "queryPlanning"))), "ms"),
      Metric("streaming.trigger_wait_ms_p50", median(waits), "ms"),
      Metric("streaming.jobs_per_epoch", perEpoch(_.jobs.get()), "count"),
      Metric("streaming.stages_per_epoch", perEpoch(_.stages.get()), "count"),
      Metric("streaming.tasks_per_epoch", perEpoch(_.tasks.get()), "count"),
      Metric("sources.latest_offset_ms_p50", median(m.measured.map(dur(_, "latestOffset"))), "ms"),
      Metric("sources.commit_ms_p50", median(m.measured.map(dur(_, "walCommit"))), "ms"),
      Metric("sources.read_ms", probe.readMs, "ms"),
      Metric("sources.rows_per_epoch_p50", median(m.measured.map(_.rows.toDouble)), "rows"),
      Metric("sources.lag_rows_max", lags.max, "rows"),
      Metric("sources.retained_rows_end", d.retainedRows.toDouble, "rows"),
      Metric("sources.wire.cmds.XRANGE", cmds("XRANGE"), "count"),
      Metric("sources.wire.cmds.XREVRANGE", cmds("XREVRANGE"), "count"),
      Metric("sources.wire.cmds.XACK", cmds("XACK"), "count"),
      Metric("sources.wire.cmds.XDEL", cmds("XDEL"), "count"),
      Metric("sources.wire.cmds.XADD", cmds("XADD"), "count"),
      Metric("sources.wire.cmds.XGROUP", cmds("XGROUP"), "count"),
      Metric("sources.wire.bytes_in", wire.map(_.bytesIn).sum.toDouble, "bytes"),
      Metric("sources.wire.bytes_out", wire.map(_.bytesOut).sum.toDouble, "bytes"),
      Metric("sources.wire.connections", d.wireConnections.toDouble, "count"),
      Metric("sources.wire.read_amplification",
        if (d.wl.wire) xrangeBytes / d.sourceBytes else 0.0, "ratio")
    ) ++ Seq("parse_only", "parse_route", "dedupe", "chunk").flatMap { p =>
      Seq(
        Metric(s"cdc.${p}_ms", self(p)(probe.wallMs), "ms"),
        Metric(s"cdc.${p}_cpu_ms", self(p)(probe.cpuMs), "ms"),
        Metric(s"cdc.${p}_shuffle_bytes", self(p)(probe.shuffleBytes), "bytes"))
    } ++ Seq(
      Metric("cdc.routed_rows", cnt("routed_rows"), "rows"),
      Metric("cdc.rejects", cnt("rejects"), "rows"),
      Metric("cdc.dedupe_survivors", cnt("dedupe_survivors"), "rows"),
      Metric("cdc.chunks", cnt("chunks"), "count"),
      Metric("cdc.ids_out", cnt("ids_out"), "count"),
      Metric("cdc.keep_ratio", cnt("dedupe_survivors") / routedNonNull, "ratio"),
      Metric("cdc.chunk_order_inversions", m.c.inversions.toDouble, "count"),
      Metric("sink.write_ms", self("sink")(probe.wallMs), "ms"),
      Metric("sink.xadds", m.c.xadds.toDouble, "count"),
      Metric("sink.shuffle_bytes", self("sink")(probe.shuffleBytes), "bytes"),
      Metric("gen.late_ms_p99", quantile(m.c.lateMs, 0.99), "ms"),
      Metric("trace.overhead_rows_per_s", m.rowsPerS / untraced.rowsPerS, "ratio"),
      Metric("trace.overhead_latency_p50", m.latP50 / untraced.latP50, "ratio"))
  }

  private def fmt(x: Double): String =
    if (x.isNaN || x.isInfinite) "null" else java.math.BigDecimal.valueOf(x).toPlainString

  def main(args: Array[String]): Unit = {
    val name = arg(args, "--workload").getOrElse(sys.error("--workload is required"))
    val seed = arg(args, "--seed").map(_.toLong).getOrElse(sys.error("--seed is required"))
    val seconds = arg(args, "--seconds").map(_.toInt).getOrElse(10)
    val traced = arg(args, "--trace").contains("1")
    val work = Paths.get(arg(args, "--work").getOrElse("cdcbench/.work/run"))
    val toy = args.contains("--toy")
    val wl = Workloads(name, seconds, toy)
    Files.createDirectories(work)

    // Bench.calibrationProbe costs 10-25 s a call on 4 vCPUs, so only the
    // (rare) traced runs carry it, on every core; every run carries the
    // steal stamps
    def calibration(): Double = {
      val s = GraftSession.local()
      try graft.Bench.calibrationProbe(s) finally s.stop()
    }
    val steal0 = stealSec()
    val cal0 = if (traced) calibration() else Double.NaN

    // the open loop measures whole 5 s triggers, two more than fit in --seconds
    val openMeasured = (seconds * 1000L / wl.dedupeTimeMs).toInt + 2
    val t0 = System.nanoTime()
    def round(tag: String, trace: Boolean, warmBacklog: Option[Int] = None,
              setupOnly: Boolean = false): RoundData = {
      System.err.println(f"[cdcbench] round $tag at ${(System.nanoTime() - t0) / 1e9}%.1f s")
      new Round(wl, seed, tag, work, trace, openMeasured, warmBacklog, setupOnly).run()
    }

    // The first warm-up round runs two full-size epochs through the cold JVM,
    // so the measured round meets compiled code. Untraced, set-up-only rounds
    // (start the query, stop it) on either side of the measured round sample
    // set-up time; set-up time is the median over those and the measured
    // round. The cold warm-up round is left out of it.
    def setupRounds(from: Int): Seq[RoundData] =
      if (traced) Nil
      else (from until from + SetupRounds / 2).map(i => round(s"setup$i", trace = false, setupOnly = true))
    val warm1 = round("warm1", trace = false, Some(if (wl.openLoop) 2000 else 2 * wl.sourceSize))
    val before = setupRounds(1)
    val m0 = measure(round("measure", trace = false))
    val after = setupRounds(1 + SetupRounds / 2)
    System.err.println(f"[cdcbench] checked at ${(System.nanoTime() - t0) / 1e9}%.1f s")
    val setupSamples = (before ++ (m0.d +: after)).map(r => (r.startedNs - r.invokeNs) / 1e9)
    val setupS = median(setupSamples)
    // every round is checked; only the measured ones give latency samples
    val checked = mutable.ArrayBuffer(m0.c) ++
      (warm1 +: (before ++ after)).map(r => Check(r, Set.empty, (_, _, _) => 0.0))
    val lateP99 = mutable.ArrayBuffer(quantile(m0.c.lateMs, 0.99))

    val metrics =
      if (!traced) endToEnd(m0, setupS)
      else {
        val tm = measure(round("traced", trace = true))
        checked += tm.c
        lateP99 += quantile(tm.c.lateMs, 0.99)
        val mid = tm.measured(tm.measured.size / 2)
        val probe = Probe.run(wl, seed, s => tm.d.range(mid, s), work, reps = 3)
        perLayer(tm, m0, probe)
      }

    val cal1 = if (traced) calibration() else Double.NaN
    val steal1 = stealSec()

    val attempted = checked.map(_.attempted).sum
    val failed = checked.map(_.failed).sum
    val errorRate = failed.toDouble / math.max(1L, attempted)
    // a generator that fell behind no longer offers the open-loop rate
    val openLoopValid = lateP99.forall(_ < LateLimitMs)
    if (!openLoopValid)
      System.err.println(s"[cdcbench] invalid run: gen.late_ms_p99 ${lateP99.mkString(", ")} " +
        s"is not below $LateLimitMs ms, so the generator did not hold the open-loop rate")
    // human-readable summary: every end-to-end metric, error_rate included
    for (x <- endToEnd(m0, setupS)) println(f"${x.name}%-18s ${fmt(x.value)} ${x.unit}")
    println(f"${"error_rate"}%-18s ${fmt(errorRate)} ratio ($failed of $attempted routed pairs)")
    val n = m0.c.latenciesMs.length
    println(s"latency_p99_ms samples: $n (${n - math.ceil(0.99 * n).toInt} beyond p99)")
    val c = m0.c
    println(s"""{"diagnostics": {"workload": "$name", "seed": $seed, "steal_s_before": ${fmt(steal0)}, """ +
      s""""steal_s_after": ${fmt(steal1)}, "steal_s": ${fmt(steal1 - steal0)}, """ +
      s""""calibration_s_before": ${fmt(cal0)}, "calibration_s_after": ${fmt(cal1)}, """ +
      s""""epochs": ${m0.d.epochs.size}, "measured_epochs": ${m0.measured.size}, """ +
      s""""epoch_ms": [${m0.d.epochs.map(_.triggerMs).mkString(", ")}], """ +
      s""""epoch_rows": [${m0.d.epochs.map(_.rows).mkString(", ")}], """ +
      s""""window_ms": ${fmt(m0.windowMs)}, "rows": ${m0.rows}, "latency_samples": $n, """ +
      s""""gen_late_ms_p99": ${fmt(quantile(c.lateMs, 0.99))}, "missing": ${c.missing}, """ +
      s""""duplicates": ${c.duplicates}, "oversize": ${c.oversize}, "unexpected": ${c.unexpected}, """ +
      s""""bad_priming": ${c.badPriming}, "trailing_chunks": ${c.trailingChunks}, """ +
      s""""error_rate": ${fmt(errorRate)}, "open_loop_valid": $openLoopValid, """ +
      s""""setup_s_samples": [${setupSamples.map(fmt).mkString(", ")}]}}""")
    val body = metrics.map(x => s""""${x.name}": {"value": ${fmt(x.value)}, "unit": "${x.unit}"}""")
    val correct = failed == 0 && openLoopValid
    println(s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": {${body.mkString(", ")}}}""")
    System.out.flush()
    // exit at once: Spark leaves idle non-daemon pools that would hold the
    // JVM for tens of seconds
    System.exit(if (correct) 0 else 1)
  }
}
