package graft.tools

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Merge PROMOTABLE bench shards into the committed canonical baseline.
  *
  * The canonical-refresh blocker is the host's minute-scale steal bursts: a
  * full ~20-minute suite hasn't found a clean window in two rounds, but a
  * 1/n shard fits between bursts. `Bench` (SPARK_GRAFT_BENCH_SHARD=i/n)
  * emits `target/bench_shard_i_of_n.json` with the full gate verdict
  * evaluated over the shard and a `shard_promotable` stamp (the same
  * predicate a full run needs to replace the baseline: sf0.1, median-of-5,
  * machine unshifted, spread clean, accepted regressions only on quiet
  * probes). This tool folds each promotable shard's per-query records into
  * `bench/bench_full.json`, so the committed baseline converges query-by-
  * query across multiple scouted windows. Non-promotable shards are
  * reported and skipped — the gate's refusal travels through the merge.
  *
  * Plane numbers (cdc/stream events/s) merge only from a shard that ran
  * them (SPARK_GRAFT_BENCH_PLANES=1) AND is promotable.
  *
  * Provenance rides the merged file as a top-level `shard_promotions`
  * object (one entry per shard id, latest merge wins), so a reader can
  * tell a shard-converged baseline from a single-window one.
  *
  * Usage: runMain graft.tools.PromoteShards [shardFile ...]
  *        (default: every target/bench_shard_*_of_*.json)
  */
object PromoteShards {

  /** (start, end) indices of the brace-balanced object value for `"key":{`,
    * or None. Our bench JSON never contains '{'/'}' inside strings, so a
    * plain depth counter is exact.
    */
  private def objectSpan(txt: String, key: String): Option[(Int, Int)] = {
    val at = (s""""$key"\\s*:\\s*\\{""").r.findFirstMatchIn(txt)
      .map(m => m.end - 1).getOrElse(-1)
    if (at < 0) None
    else {
      val open = at
      var depth = 0
      var i = open
      while (i < txt.length) {
        txt(i) match {
          case '{' => depth += 1
          case '}' =>
            depth -= 1
            if (depth == 0) return Some((open, i + 1))
          case _ =>
        }
        i += 1
      }
      None
    }
  }

  /** Parse a FLAT entries object `{"name":{...},"name2":{...}}` into an
    * ordered name -> rawObjectText map (entry objects must themselves be
    * flat — true for per-query records and promotion-provenance entries).
    */
  private def entries(obj: String): Seq[(String, String)] = {
    val r = """"(\w+)"\s*:\s*(\{[^{}]*\})""".r
    r.findAllMatchIn(obj).map(m => m.group(1) -> m.group(2)).toSeq
  }

  private def field(txt: String, name: String): Option[String] =
    (s""""$name"\\s*:\\s*("[^"]*"|[-0-9.eE+]+|true|false)""").r
      .findFirstMatchIn(txt).map(_.group(1))

  def main(args: Array[String]): Unit = {
    // override for dry-runs against a copy (never test-merge into the real
    // committed baseline)
    val basePath = Paths.get(sys.env.getOrElse("GRAFT_PROMOTE_BASE",
      "bench/bench_full.json"))
    require(Files.exists(basePath),
      "bench/bench_full.json missing — shards can only refine an existing " +
        "committed baseline (run a full canonical Bench first)")
    val shardFiles: Seq[String] =
      if (args.nonEmpty) args.toSeq
      else {
        val dir = Paths.get("target")
        if (!Files.exists(dir)) Seq.empty
        else Files.list(dir).iterator().asScala
          .map(_.toString)
          .filter(_.matches(""".*/bench_shard_\d+_of_\d+\.json"""))
          .toSeq.sorted
      }
    require(shardFiles.nonEmpty, "no shard files given or found under target/")

    var base = new String(Files.readAllBytes(basePath), "UTF-8")
    val (qs, qe) = objectSpan(base, "queries").getOrElse(
      sys.error("committed baseline has no queries object"))
    val merged = scala.collection.mutable.LinkedHashMap[String, String](
      entries(base.substring(qs, qe)): _*)
    val promos = scala.collection.mutable.LinkedHashMap[String, String](
      objectSpan(base, "shard_promotions")
        .map { case (s, e) => entries(base.substring(s, e)) }
        .getOrElse(Seq.empty): _*)
    var planes: Option[(Long, Long)] = None

    // GRAFT_PROMOTE_PER_QUERY=1: promote INDIVIDUAL clean queries out of a
    // refused shard. The shard-level refusal exists because one dirty entry
    // blocks the run's canonical stamp — but the gate's whole design is
    // per-query steal attribution, so a query measured on a steal-clean
    // window (steal_sec ≤ 2.0, mirroring Bench.StealDirtySec) inside a
    // machine-unshifted, probes-quiet sf0.1 run is exactly as clean as the
    // same query inside a promotable shard; discarding it wastes the
    // window. Classification-failed entries (still-inconsistent,
    // unreproduced, retime-skipped, steal-dirty) stay excluded — they
    // retry in a later shard or a BENCH_ONLY targeted run.
    val perQuery = sys.env.get("GRAFT_PROMOTE_PER_QUERY").contains("1")
    // GRAFT_PROMOTE_ONLY_NAMES="a,b" — restrict promotion to the named
    // queries (for tiered merges: e.g. promote plan-changed queries whose
    // committed anchors are void from an older record class without
    // touching entries that have better anchors elsewhere)
    val onlyNames: Option[Set[String]] = sys.env.get("GRAFT_PROMOTE_ONLY_NAMES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet).filter(_.nonEmpty)
    var promoted = 0
    shardFiles.foreach { f =>
      val txt = new String(Files.readAllBytes(Paths.get(f)), "UTF-8")
      val shardId = field(txt, "shard").map(_.replaceAll("\"", ""))
      val promotable = field(txt, "shard_promotable").contains("true")
      if (shardId.isEmpty) {
        println(s"SKIP $f: not a shard record (no shard field)")
      } else {
        val (ss, se) = objectSpan(txt, "queries").getOrElse(
          sys.error(s"$f has no queries object"))
        val allEs = entries(txt.substring(ss, se))
        // context fields live AFTER the queries object — scoping the lookup
        // there keeps run-level names (steal_sec) from matching the
        // identically-named per-query fields inside the records
        val ctx = txt.substring(se)
        def arr(name: String): Set[String] =
          (s""""$name"\\s*:\\s*\\[([^\\]]*)\\]""").r.findFirstMatchIn(ctx)
            .map(_.group(1)).getOrElse("").split(",")
            .map(_.trim.stripPrefix("\"").stripSuffix("\""))
            .filter(_.nonEmpty).toSet
        val perQueryEligible = perQuery &&
          field(ctx, "machine_shifted").contains("false") &&
          field(ctx, "probes_quiet").contains("true") &&
          field(ctx, "sf").exists(_.stripSuffix("\"").endsWith("sf0.1")) &&
          field(ctx, "timed_runs").exists(_.toDouble >= 5)
        val bad = arr("spread_still_inconsistent") ++
          arr("spread_unreproduced") ++ arr("spread_retime_skipped") ++
          arr("spread_steal_dirty")
        val es0 =
          if (promotable) allEs
          else if (perQueryEligible) allEs.filter { case (k, v) =>
            !bad(k) && field(v, "steal_sec")
              .map(_.toDouble).exists(s => s >= 0 && s <= 2.0)
          } else Seq.empty
        val es = onlyNames.fold(es0)(ns => es0.filter(kv => ns(kv._1)))
        if (es.isEmpty) {
          println(s"REFUSED $f: shard_promotable=false" +
            (if (perQuery) " and no per-query-eligible entries" else "") +
            s" (machine_shifted=${field(ctx, "machine_shifted").getOrElse("?")}, " +
            s"spread_clean=${field(ctx, "spread_clean").getOrElse("?")}, " +
            s"steal_sec=${field(ctx, "steal_sec").getOrElse("?")})")
        } else {
          es.foreach { case (k, v) => merged(k) = v }
          val mode = if (promotable) "shard" else "per-query"
          val key = shardId.get.replaceAll("[^A-Za-z0-9]+", "_")
          promos(s"shard_$key") =
            s"""{"n_queries":${es.size},"mode":"$mode",""" +
            s""""bench_seed":${field(ctx, "bench_seed").getOrElse("0")},""" +
            s""""steal_sec":${field(ctx, "steal_sec").getOrElse("-1")},""" +
            s""""calibration_worst_ratio":${
              field(ctx, "calibration_worst_ratio").getOrElse("-1")},""" +
            s""""elapsed_sec":${field(ctx, "elapsed_sec").getOrElse("-1")}}"""
          val cdc = field(ctx, "cdc_events_per_sec").map(_.toDouble.toLong)
          if (promotable && cdc.exists(_ > 0))
            planes = Some((cdc.get,
              field(ctx, "stream_events_per_sec").map(_.toDouble.toLong)
                .getOrElse(0L)))
          println(s"PROMOTE[$mode] $f: ${es.size}/${allEs.size} queries " +
            s"(run steal_sec=${field(ctx, "steal_sec").getOrElse("?")})")
          promoted += 1
        }
      }
    }
    require(promoted > 0, "no promotable shard — baseline left untouched")

    val mergedObj = merged.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    val promoObj = promos.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    // splice the merged queries object back, then the provenance object
    base = base.substring(0, qs) + mergedObj + base.substring(qe)
    base = objectSpan(base, "shard_promotions") match {
      case Some((s, e)) => base.substring(0, s) + promoObj + base.substring(e)
      case None =>
        val (s2, e2) = objectSpan(base, "queries").get
        base.substring(0, e2) + s""","shard_promotions":$promoObj""" +
          base.substring(e2)
    }
    planes.foreach { case (c, st) =>
      base = base
        .replaceAll(""""cdc_events_per_sec":\d+""",
          s""""cdc_events_per_sec":$c""")
        .replaceAll(""""stream_events_per_sec":\d+""",
          s""""stream_events_per_sec":$st""")
    }
    // stamp the merge at top level: after a merge the RUN-LEVEL gate
    // fields (steal_sec, spread_*, probes_quiet, calibration_*,
    // machine_shifted) still describe whatever full run originally wrote
    // the file, NOT the shard-sourced per-query records — a reader who
    // trusts them would misattribute cleanliness to merged entries. The
    // stamp forces tools to consult shard_promotions for per-entry
    // provenance. Idempotent across repeated merges.
    if (!base.contains(""""merged":true""")) {
      val brace = base.indexOf('{')
      base = base.substring(0, brace + 1) +
        """"merged":true,""" +
        """"gate_fields_scope":"pre-merge run only — per-entry """ +
        """provenance lives in shard_promotions",""" +
        base.substring(brace + 1)
    }
    Files.writeString(basePath, base)
    println(s"MERGED $promoted shard(s) into $basePath " +
      s"(${merged.size} committed query medians)")
  }
}
