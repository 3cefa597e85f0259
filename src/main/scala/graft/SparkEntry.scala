package graft

import graft.cdc.{Batcher, CdcPipeline, Dedupe}
import graft.functions.{TextFunctions => TF, VectorFunctions => VF}
import graft.operators.{Dedup, Multimodal, RecordLinkage, Search, SimilaritySearch, TextMining, TimeSeriesOps}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Driver contract — one `queries` entry per operator of SURVEY.md §2 (the
  * reference CDC surface) plus the LLM-data-pipeline extension operators
  * (dedup / similarity search / text analysis / multimodal).
  *
  * Oracle-parity rules used throughout (cross-engine determinism vs DuckDB):
  *   - monetary aggregates go through DECIMAL(12,2) (exact) and only the
  *     final value is cast to DOUBLE;
  *   - integer outputs are cast to BIGINT on both sides;
  *   - doubles in outputs are either exact decimal casts or single IEEE
  *     divisions/sqrt of exactly-equal inputs — never order-dependent
  *     floating-point sums;
  *   - `events.ts` (nanosecond parquet) never appears in outputs;
  *   - every query ends with a deterministic ORDER BY (unique tiebreak).
  */
object SparkEntry {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables(s, dir, name)

  /** Session-catalog name for a persisted index over `$dir/$source.parquet`,
    * keyed on a METADATA fingerprint (file names, lengths, mtimes) of the
    * source — not just the directory path. If the same path is regenerated
    * with different contents mid-session, the fingerprint changes and the
    * index is rebuilt instead of silently serving stale sketch rows. A
    * metadata listing costs one FS round-trip (no data pass), preserving
    * the build-once amortization the persisted indexes exist for.
    */
  private def indexTable(s: SparkSession, dir: String, prefix: String,
                         source: String): String = {
    import org.apache.hadoop.fs.Path
    val p = new Path(s"${dir.stripSuffix("/")}/$source.parquet")
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    val ids = fs.listStatus(p).filter(_.isFile).sortBy(_.getPath.getName)
      .map(st => s"${st.getPath.getName}:${st.getLen}:${st.getModificationTime}")
    // 64-bit fingerprint (two murmur32 halves under different seeds): a
    // 32-bit key gave a small but real birthday-collision chance of silently
    // serving a stale index for regenerated data
    val key = dir + "|" + ids.mkString("|")
    val fp = f"${(scala.util.hashing.MurmurHash3.stringHash(key).toLong << 32) |
      (scala.util.hashing.MurmurHash3.stringHash(key, 0x9747b28c).toLong & 0xffffffffL)}%016x"
    // the name carries a DATASET-DIR segment ("src" + dir hash — the "src"
    // marker contains non-hex letters so the segment can never parse as a
    // bare fingerprint) separate from the content fingerprint: the stale
    // sweep below is scoped to THIS dataset's builds, so a session
    // alternating between two sf dirs (mixed test/bench runs) no longer
    // drops and rebuilds the other dataset's live fixtures on every switch
    val dirFp = f"${scala.util.hashing.MurmurHash3.stringHash(dir)}%08x"
    val name = s"${prefix}_src${dirFp}_$fp"
    // regenerating the source mid-session rebuilds under a NEW fingerprint;
    // the old fingerprint's tables (index + derived _quantizer/_buildstats
    // siblings) would otherwise accumulate as orphaned managed tables and
    // warehouse dirs for the life of the catalog. The sweep runs ONLY when
    // the current-fp table is absent (i.e. a build is about to happen) —
    // the steady-state hot path pays one tableExists metadata lookup, not
    // a catalog listing per query invocation.
    if (!s.catalog.tableExists(name)) {
      val pq = java.util.regex.Pattern.quote(prefix)
      // same-dataset stale builds only (dir hash pinned); {1,16} not {8,16}
      // because Integer/Long.toHexString never zero-pads — legacy 32-bit
      // fingerprints can be 1-7 hex chars and must still be collected
      val stale = s"^${pq}_src${dirFp}_[0-9a-f]{1,16}(_.+)?$$".r
      // pre-dir-segment name format (prefix_<hex>): stale by construction —
      // no current code produces it, whatever dataset it belonged to
      val legacy = s"^${pq}_[0-9a-f]{1,16}(_.+)?$$".r
      s.catalog.listTables().collect().map(_.name).foreach { tn =>
        if ((stale.findFirstIn(tn).isDefined ||
             legacy.findFirstIn(tn).isDefined) && !tn.startsWith(name)) {
          s.sql(s"DROP TABLE IF EXISTS `$tn`")
          val loc = new Path(s.conf.get("spark.sql.warehouse.dir"),
            tn.toLowerCase(java.util.Locale.ROOT))
          val wfs = loc.getFileSystem(s.sparkContext.hadoopConfiguration)
          if (wfs.exists(loc)) wfs.delete(loc, true)
        }
      }
    }
    name
  }

  /** Create-if-absent for a persisted fixture/index table under an
    * [[indexTable]] name: clears an ORPHANED warehouse dir first (a crashed
    * prior session leaves the managed location behind while the ephemeral
    * catalog forgets the table — saveAsTable then refuses the name).
    */
  private def ensureTable(s: SparkSession, table: String)
                         (build: String => Unit): Unit = {
    if (!s.catalog.tableExists(table)) {
      import org.apache.hadoop.fs.Path
      val loc = new Path(s.conf.get("spark.sql.warehouse.dir"),
        table.toLowerCase(java.util.Locale.ROOT))
      val fs = loc.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (fs.exists(loc)) fs.delete(loc, true)
      build(table)
    }
  }

  /** Stage-once persisted canonical-map tables (build ONCE per dataset,
    * every consumer reads — [[graft.operators.Dedup.buildCanonicalMap]]).
    * One table per PAIR FAMILY: the family is the map's identity, and a
    * consumer keyed to the wrong family silently answers a different
    * near-dup question.
    */
  private def canonicalMapTable(s: SparkSession, d: String, family: String)
                               (pairs: => DataFrame): String = {
    val tbl = indexTable(s, d, s"dedup_cmap_$family", "documents")
    ensureTable(s, tbl) { tn =>
      Dedup.buildCanonicalMap(pairs, "doc_a", "doc_b", tn)
    }
    tbl
  }

  /** Exact prefix-filter family map (ngram jaccard 3-gram, t=0.8). */
  private def exactCanonicalMap(s: SparkSession, d: String): String =
    canonicalMapTable(s, d, "exact")(
      Dedup.ngramJaccardPairs(t(s, d, "documents"), "doc_id", "text", 3, 0.8))

  /** Df-capped family map (the bounded-cost tier path, maxDf=20). */
  private def cappedCanonicalMap(s: SparkSession, d: String): String =
    canonicalMapTable(s, d, "capped")(
      Dedup.ngramJaccardPairsCapped(t(s, d, "documents"), "doc_id", "text",
        3, 0.8, maxDf = 20L))

  // ---- shared CDC demo topology (mirrors the reference's mapping shape:
  // table -> column -> [targets]; `error` is deliberately unrouted) ----
  private val demoRouteRows = Seq(
    ("click", "k", "t_all"), ("click", "k", "t_click"),
    ("purchase", "k", "t_all"), ("purchase", "k", "t_purchase"),
    ("signup", "k", "t_signup"),
    ("view", "k", "t_all"), ("view", "k", "t_view"))

  private def demoRoutes(s: SparkSession): DataFrame = {
    import s.implicits._
    demoRouteRows.toDF("table", "column", "target")
  }

  /** events → CDC record shape (id, table, envelope): the synthetic `props`
    * payload becomes the Debezium `after` image.
    */
  private[graft] def cdcRecords(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events").select(
      col("event_id").as("id"),
      col("event_type").as("table"),
      concat(lit("{\"before\": null, \"after\": "), col("props"), lit("}"))
        .as("envelope"))

  /** Stages the events table as `watch`'s source reads it: each event's
    * [[cdcRecords]] envelope XADDed as a compact one-field body into the
    * stream `<event_type>` of the `mem://<store>` store, from the executors
    * (local mode shares the driver's JVM, so they write the driver's store).
    * `reps` > 1 stages every event `reps` times with its numeric `k`
    * re-keyed k → k*reps + r (injective for any reps; a digit append would
    * collide past r = 9), so each replica keeps the base's duplicate
    * structure and dedupe holds reps× the keys; `reps` = 1 passes the events
    * through unchanged. Returns (events staged, entries of the longest
    * stream).
    */
  def stageCdcStreams(s: SparkSession, dir: String, store: String,
                      reps: Int = 1): (Long, Int) = {
    val recs = cdcRecords(s, dir)
    val lines =
      if (reps == 1) recs
      else {
        val k = regexp_extract(col("envelope"), """"k":\s*(\d+)""", 1).try_cast("long")
        recs.select(col("table"), col("envelope"),
            explode(sequence(lit(0), lit(reps - 1))).as("r"))
          .select(col("table"), when(k.isNull, col("envelope")).otherwise(
            regexp_replace(col("envelope"), lit(""""k":\s*\d+"""),
              concat(lit("\"k\": "), (k * reps + col("r")).cast("string")))).as("envelope"))
      }
    lines.select("table", "envelope").foreachPartition { (rows: Iterator[Row]) =>
      val conn = graft.sources.InMemoryRedis.named(store)
      rows.foreach(r => conn.xadd(r.getString(0), Seq("value" -> r.getString(1))))
    }
    val perStream = lines.groupBy("table").count().collect().map(_.getLong(1))
    (perStream.sum, perStream.max.toInt)
  }

  /** `watch`'s config for the demo topology over staged streams whose
    * longest holds `longest` entries, written as JSON to a fresh temp file
    * whose path it returns: the [[demoRouteRows]] mapping, a 50 ms trigger
    * (`buffers.dedupe.time`), ⌈longest / 4⌉ entries per stream per trigger
    * (`buffers.source.size`) so the events arrive in 4 epochs, and ≤ 1000
    * ids per chunk.
    */
  def demoWatchConfig(longest: Int): String = {
    import graft.cdc.{Buffer, Buffers, CdcConfig}
    val cfg = CdcConfig(
      buffers = Buffers(source = Buffer((longest + 3) / 4, 1000),
        dedupe = Buffer(100000, 50), target = Buffer(1000, 1000)),
      mapping = demoRouteRows.groupMap(_._1)(r => (r._2, r._3))
        .map { case (table, cols) => table -> cols.groupMap(_._1)(_._2) })
    val f = java.nio.file.Files.createTempFile("graft-demo-watch", ".json")
    new com.fasterxml.jackson.databind.ObjectMapper()
      .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
      .writeValue(f.toFile, cfg)
    f.toString
  }

  private def routed(s: SparkSession, dir: String): DataFrame =
    CdcPipeline.parseAndRoute(cdcRecords(s, dir), demoRoutes(s))
      .withColumn("entity_id", col("entity_id").cast("long"))
      .withColumnRenamed("table", "event_type")

  // SQL fragments shared by the CDC oracles (DuckDB dialect).
  private val oracleRoutes =
    "routes AS (SELECT * FROM (VALUES " +
      demoRouteRows.map { case (a, b, c) => s"('$a','$b','$c')" }.mkString(", ") +
      ") v(tbl, colname, target))"
  private val oracleRouted =
    s"""WITH $oracleRoutes,
       |routed AS (
       |  SELECT t.target, e.event_type, CAST(e.event_id AS BIGINT) AS event_id,
       |         CAST(json_extract_string(
       |           '{"before": null, "after": ' || e.props || '}',
       |           '$$.after.' || t.colname) AS BIGINT) AS entity_id
       |  FROM events e JOIN routes t ON e.event_type = t.tbl)""".stripMargin

  // decimal helpers for oracle-exact money math
  private def dec(c: Column): Column = c.cast("decimal(12,2)")

  def entry(spark: SparkSession): DataFrame = {
    val recs = cdcRecords(spark, "/root/testdata/sf0.001")
    CdcPipeline.run(recs, demoRoutes(spark), maxBatch = 100)
  }

  /** Full CDC plane at an arbitrary sf dir (Bench throughput metric). */
  def entry2(spark: SparkSession, dir: String): DataFrame =
    CdcPipeline.run(cdcRecords(spark, dir), demoRoutes(spark), maxBatch = 1000)

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---------- analytics core (aggregation / join / window / sort / set) ----------
    "q1_pricing_summary" -> ((s, d) => {
      val l = t(s, d, "lineitem").filter(col("l_shipdate") <= lit("2001-09-01"))
      val qty = dec(col("l_quantity")); val price = dec(col("l_extendedprice"))
      val disc1 = dec(lit(1) - col("l_discount")); val tax1 = dec(lit(1) + col("l_tax"))
      l.groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(qty).cast("double").as("sum_qty"),
          sum(price).cast("double").as("sum_base_price"),
          sum(price * disc1).cast("double").as("sum_disc_price"),
          sum(price * disc1 * tax1).cast("double").as("sum_charge"),
          (sum(qty).cast("double") / count(lit(1))).as("avg_qty"),
          (sum(price).cast("double") / count(lit(1))).as("avg_price"),
          (sum(dec(col("l_discount"))).cast("double") / count(lit(1))).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }),

    "q3_top_revenue_orders" -> ((s, d) => {
      val c = t(s, d, "customer").filter(col("c_mktsegment") === "BUILDING")
      val o = t(s, d, "orders").filter(col("o_orderdate") < lit("1999-01-01"))
      val l = t(s, d, "lineitem").filter(col("l_shipdate") > lit("1999-01-01"))
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .groupBy(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
        .agg(sum(dec(col("l_extendedprice")) * dec(lit(1) - col("l_discount")))
          .cast("double").as("revenue"))
        .select(col("o_orderkey"), col("revenue"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate"),
          col("o_orderpriority"))
        .orderBy(col("revenue").desc, col("o_orderkey")).limit(10)
    }),

    "q5_region_nation_revenue" -> ((s, d) => {
      val r = t(s, d, "region").filter(col("r_name") === "ASIA")
      val n = t(s, d, "nation"); val c = t(s, d, "customer")
      val sup = t(s, d, "supplier")
      val o = t(s, d, "orders").filter(
        col("o_orderdate") >= lit("1996-01-01") && col("o_orderdate") < lit("1998-01-01"))
      val l = t(s, d, "lineitem")
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(c),
          col("o_custkey") === col("c_custkey") &&
            col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(sum(dec(col("l_extendedprice")) * dec(lit(1) - col("l_discount")))
          .cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("n_name"))
    }),

    "q_window_top_orders" -> ((s, d) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      t(s, d, "orders")
        .withColumn("rn", row_number().over(w).cast("long"))
        .withColumn("prev_price", lag(col("o_totalprice"), 1).over(w))
        .filter(col("rn") <= 3)
        .select(col("o_custkey"), col("o_orderkey"), col("rn"), col("prev_price"))
        .orderBy(col("o_custkey"), col("rn"))
    }),

    "q_topk_orders" -> ((s, d) =>
      t(s, d, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey")).limit(20)),

    "q_setop_customers" -> ((s, d) => {
      val building = t(s, d, "customer").filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey").as("custkey"))
      val urgent = t(s, d, "orders").filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_custkey").as("custkey"))
      val big = t(s, d, "orders").filter(col("o_totalprice") > 400000.0)
        .select(col("o_custkey").as("custkey"))
      building.intersect(urgent).except(big)
        .select(col("custkey").cast("long").as("custkey"))
        .orderBy(col("custkey"))
    }),

    "q_scalar_functions" -> ((s, d) =>
      t(s, d, "part").select(
        col("p_partkey").cast("long").as("p_partkey"),
        upper(col("p_name")).as("name_upper"),
        length(col("p_name")).cast("long").as("name_len"),
        substring(col("p_type"), 1, 6).as("type_prefix"),
        concat(col("p_brand"), lit("/"), col("p_type")).as("brand_type"),
        (col("p_size") % 7).cast("long").as("size_mod7"),
        abs(col("p_size") - 25).cast("long").as("size_dist"),
        sqrt(col("p_size").cast("double")).as("size_sqrt"))
        .orderBy(col("p_partkey"))),

    "q_date_rollup" -> ((s, d) =>
      t(s, d, "orders").groupBy(
          year(col("o_orderdate")).cast("long").as("yr"),
          month(col("o_orderdate")).cast("long").as("mo"))
        .agg(count(lit(1)).as("n_orders"),
          sum(dec(col("o_totalprice"))).cast("double").as("sum_total"))
        .orderBy(col("yr"), col("mo"))),

    "q_json_extract" -> ((s, d) =>
      t(s, d, "events")
        .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"), sum(col("k")).as("sum_k"),
          min(col("k")).as("min_k"), max(col("k")).as("max_k"))
        .orderBy(col("event_type"))),

    "q_semi_anti_join" -> ((s, d) => {
      val c = t(s, d, "customer")
      val o = t(s, d, "orders")
      val urgent = o.filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_custkey"))
      val withUrgent = c.join(urgent, col("c_custkey") === col("o_custkey"), "left_semi")
        .groupBy(col("c_mktsegment")).agg(count(lit(1)).as("n_with_urgent"))
      val noOrders = c.join(o.select(col("o_custkey")),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy(col("c_mktsegment")).agg(count(lit(1)).as("n_no_orders"))
      withUrgent.join(noOrders, Seq("c_mktsegment"), "full_outer")
        .select(col("c_mktsegment"),
          coalesce(col("n_with_urgent"), lit(0L)).as("n_with_urgent"),
          coalesce(col("n_no_orders"), lit(0L)).as("n_no_orders"))
        .orderBy(col("c_mktsegment"))
    }),

    "q_rollup" -> ((s, d) =>
      t(s, d, "orders")
        .rollup(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"),
          sum(dec(col("o_totalprice"))).cast("double").as("sum_total"),
          grouping(col("o_orderstatus")).cast("long").as("g_status"),
          grouping(col("o_orderpriority")).cast("long").as("g_priority"))
        .orderBy(asc_nulls_first("o_orderstatus"), asc_nulls_first("o_orderpriority"))),

    "q_pivot" -> ((s, d) => {
      val types = Seq("click", "error", "purchase", "signup", "view")
      t(s, d, "events")
        .withColumn("cohort", pmod(col("user_id"), lit(10)))
        .groupBy(col("cohort"))
        .pivot("event_type", types)
        .agg(count(lit(1)))
        .select(col("cohort").cast("long").as("cohort") +:
          types.map(tp => coalesce(col(tp), lit(0L)).as(s"n_$tp")): _*)
        .orderBy(col("cohort"))
    }),

    "q_distinct_agg" -> ((s, d) =>
      t(s, d, "events")
        .groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("n_users"),
          countDistinct(get_json_object(col("props"), "$.k").cast("long")).as("n_keys"),
          count(lit(1)).as("n_events"))
        .orderBy(col("event_type"))),

    "q_sessionize" -> ((s, d) => {
      import graft.operators.Sessionize
      val ev = t(s, d, "events")
        .withColumn("ts_us", expr("ts_ns div 1000"))
      Sessionize.stats(ev, Seq("user_id"), col("ts_us"),
          gapMicros = 6L * 3600 * 1000000, tieBreak = col("event_id"))
        .select(col("user_id").cast("long").as("user_id"),
          col("session_id").cast("long").as("session_id"),
          col("n_events"), col("start_us"), col("end_us"))
        .orderBy(col("user_id"), col("session_id"))
    }),

    "q_asof_last_purchase" -> ((s, d) => {
      import graft.operators.AsOfJoin
      val ev = t(s, d, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"))
      AsOfJoin.asOf(clicks, purchases, Seq("user_id"),
          leftOrder = col("event_id"), rightOrder = col("purchase_id"),
          payload = Seq("purchase_id"))
        .select(col("event_id"), col("user_id"),
          col("purchase_id_asof").as("last_purchase_id"))
        .orderBy(col("event_id"))
    }),

    "q_stats_agg" -> ((s, d) => {
      // stddev/variance/correlation via EXACT decimal moment sums (Σx, Σx²,
      // Σxy) + one closed-form double expression per output. Native stddev/
      // corr aggregates are merge-order-dependent floating point — identical
      // inputs give different last-ulp results per partitioning, so they can
      // never hash-match a serial engine. Moments are also the mergeable
      // 100 TB formulation (partial sums combine exactly).
      val l = t(s, d, "lineitem")
      val q = dec(col("l_quantity")); val p = dec(col("l_extendedprice"))
      l.groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(q).as("sq"), sum(q * q).as("sqq"),
          sum(p).as("sp"), sum(p * p).as("spp"),
          sum(q * p).as("sqp"))
        .select({
          // each exact decimal sum → double ONCE, then a pure IEEE double
          // expression tree mirrored verbatim in the oracle. Decimal
          // products like n*sqq need ~50 digits at sf>=0.1 — past Spark's
          // decimal(38) cap they round, and DuckDB's overflow path rounds
          // differently (a real last-ulp corr mismatch at sf0.1). Double
          // ops on identical inputs are bit-identical cross-engine.
          val nd = col("n").cast("double")
          val sqd = col("sq").cast("double"); val sqqd = col("sqq").cast("double")
          val spd = col("sp").cast("double"); val sppd = col("spp").cast("double")
          val sqpd = col("sqp").cast("double")
          val varQ = (nd * sqqd - sqd * sqd) / (nd * (nd - lit(1.0)))
          Seq(col("l_returnflag"), col("n"),
            varQ.as("var_qty"), sqrt(varQ).as("stddev_qty"),
            ((nd * sqpd - sqd * spd) /
              (sqrt(nd * sqqd - sqd * sqd) * sqrt(nd * sppd - spd * spd)))
              .as("corr_qty_price"))
        }: _*)
        .orderBy(col("l_returnflag"))
    }),

    "q_in_subquery" -> ((s, d) => {
      // IN / NOT IN subquery forms (the null-aware rewrite path, distinct
      // from the explicit left_semi/anti operators in q_semi_anti_join)
      t(s, d, "orders").createOrReplaceTempView("orders_insq")
      t(s, d, "customer").createOrReplaceTempView("customer_insq")
      s.sql("""SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey,
              |  CAST(o_custkey AS BIGINT) AS o_custkey
              |FROM orders_insq
              |WHERE o_custkey IN (SELECT c_custkey FROM customer_insq
              |                    WHERE c_mktsegment = 'MACHINERY')
              |  AND o_orderkey NOT IN (SELECT o_orderkey FROM orders_insq
              |                         WHERE o_orderpriority = '5-LOW')
              |ORDER BY o_orderkey""".stripMargin)
    }),

    "q_window_range_frame" -> ((s, d) => {
      // RANGE frame (value-based, tie-inclusive): trailing-31-day spend per
      // customer — the frame the ROWS variant cannot express under ties
      val ord = datediff(col("o_orderdate").cast("date"),
        lit("1992-01-01").cast("date")).cast("long")
      val w = Window.partitionBy(col("o_custkey")).orderBy(ord)
        .rangeBetween(-30, Window.currentRow)
      t(s, d, "orders")
        .withColumn("trailing_sum", sum(dec(col("o_totalprice"))).over(w)
          .cast("double"))
        .withColumn("n_trailing", count(lit(1)).over(w))
        .select(col("o_orderkey").cast("long").as("o_orderkey"),
          col("o_custkey").cast("long").as("o_custkey"),
          col("trailing_sum"), col("n_trailing"))
        .orderBy(col("o_orderkey"))
    }),

    "q_string_functions" -> ((s, d) =>
      t(s, d, "part").select(
        col("p_partkey").cast("long").as("p_partkey"),
        lpad(col("p_brand"), 12, "*").as("brand_pad"),
        reverse(col("p_type")).as("type_rev"),
        regexp_replace(col("p_type"), " ", "_").as("type_snake"),
        substring(col("p_name"), 1, 8).as("name_left8"),
        element_at(split(col("p_type"), " "), 1).as("type_first"),
        regexp_extract(col("p_name"), "^(\\w+)", 1).as("name_first_word"),
        instr(col("p_name"), "a").cast("long").as("first_a"),
        translate(col("p_brand"), "B#", "b-").as("brand_tr"))
        .orderBy(col("p_partkey"))),

    "text_winnow" -> ((s, d) =>
      // md5-derived gram hash + exploded scalar rows: both make the DuckDB
      // oracle exact (window-min over per-position gram hashes); arrays in
      // the output would be unsortable on the driver's pandas side
      t(s, d, "documents").select(
        col("doc_id").cast("long").as("doc_id"),
        explode(graft.functions.VectorFunctions.winnowMd5(
          TF.tokens(col("text")), 3, 4)).as("fp"))
        .orderBy(col("doc_id"), col("fp"))),

    "text_chunks" -> ((s, d) =>
      // model-window chunking: 32-token windows, stride 24 (8-token overlap)
      t(s, d, "documents")
        .select(col("doc_id").cast("long").as("doc_id"),
          explode(TF.chunks(col("text"), 32, 24)).as("c"))
        .select(col("doc_id"),
          col("c.chunk_no").cast("long").as("chunk_no"),
          md5(col("c.chunk")).as("chunk_hash"),
          col("c.n_tokens").cast("long").as("n_tokens"))
        .orderBy(col("doc_id"), col("chunk_no"))),

    "text_salient_terms" -> ((s, d) => {
      // tf-idf-shaped term salience with a fully integer ranking
      // (tf DESC, df ASC, term ASC) — exact across engines, no float ln
      val tokens = t(s, d, "documents").select(
        col("doc_id").cast("long").as("doc_id"),
        explode(TF.tokens(col("text"))).as("term"))
      // tf rows ARE the distinct (doc, term) pairs, so df = tf rows per
      // term — the tokens.distinct() formulation re-tokenized and
      // re-shuffled the whole token stream for the same number (r17: plan
      // went from 4 corpus scans + a token-stream distinct to ONE
      // tokenize+explode+agg, cut because tf feeds both the join and df)
      val tf = graft.operators.Lineage.cut(
        tokens.groupBy("doc_id", "term").agg(count(lit(1)).as("tf")))
      val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
      tf.join(df, "term")
        .withColumn("rnk", row_number().over(Window.partitionBy("doc_id")
          .orderBy(col("tf").desc, col("df"), col("term"))))
        .filter(col("rnk") <= 5)
        .select(col("doc_id"), col("rnk").cast("long").as("rnk"),
          col("term"), col("tf"), col("df"))
        .orderBy(col("doc_id"), col("rnk"))
    }),

    "q_histogram" -> ((s, d) =>
      // fixed-width histogram of order totals: one hash agg, bucket ids
      // computed scan-side
      t(s, d, "orders")
        .select((floor(dec(col("o_totalprice")).cast("double") / 50000.0))
          .cast("long").as("bucket"))
        .groupBy("bucket").agg(count(lit(1)).as("n_orders"))
        .orderBy("bucket")),

    "text_redact" -> ((s, d) => {
      // PII scrubbing: the synthetic corpus carries no PII, so the query
      // plants deterministic fake contact info (same construction in the
      // oracle) and then proves the redaction machinery end-to-end
      val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
      val phone = "[0-9]{3}-[0-9]{4,}"
      val withPii = t(s, d, "documents").select(
        col("doc_id").cast("long").as("doc_id"),
        concat(col("text"), lit(" contact user"), col("doc_id").cast("string"),
          lit("@example.com or call 555-0"),
          lpad(col("doc_id").cast("string"), 4, "0"), lit(" now")).as("t"))
      withPii.select(col("doc_id"),
        TF.countMatches(col("t"), email).cast("long").as("n_emails"),
        TF.countMatches(col("t"), phone).cast("long").as("n_phones"),
        md5(TF.redact(col("t"),
          Seq(email -> "<EMAIL>", phone -> "<PHONE>"))).as("digest"))
        .orderBy(col("doc_id"))
    }),

    "q_window_navigation" -> ((s, d) =>
      // navigation + distribution window functions over each customer's
      // order history: first/last/nth value, percent_rank, cume_dist
      t(s, d, "orders")
        .filter(col("o_custkey") % 100 === 0)
        .select(col("o_custkey").cast("long").as("custkey"),
          col("o_orderkey").cast("long").as("orderkey"),
          dec(col("o_totalprice")).cast("double").as("price"))
        .withColumn("first_price", first(col("price")).over(
          Window.partitionBy("custkey").orderBy("orderkey")))
        .withColumn("last_price", last(col("price")).over(
          Window.partitionBy("custkey").orderBy("orderkey")
            .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
        .withColumn("second_price", nth_value(col("price"), 2).over(
          Window.partitionBy("custkey").orderBy("orderkey")
            .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
        .withColumn("pr", round(percent_rank().over(
          Window.partitionBy("custkey").orderBy("price", "orderkey")), 6))
        .withColumn("cd", round(cume_dist().over(
          Window.partitionBy("custkey").orderBy("price", "orderkey")), 6))
        .orderBy(col("custkey"), col("orderkey"))),

    "dedup_canonical" -> ((s, d) => {
      // end-to-end dedup deliverable: near-dup groups -> keep decision
      // (highest-token member, ties to smallest id) per group. Groups come
      // from the PERSISTED exact-family canonical map (round 15): the map
      // is built once per corpus and every consumer reads it — this query
      // previously re-ran the full pair+CC pipeline per execution (the
      // suite's #2 cost), which at tier is hours of redundant compute.
      // The dedup_canonical_map oracle pins table == inline recompute.
      val docs = t(s, d, "documents")
      val groups = Dedup.openCanonicalMap(s, exactCanonicalMap(s, d))
      val scored = docs.select(col("doc_id"),
        TF.nTokens(col("text")).cast("long").as("n_tokens"))
      Dedup.canonicalRepresentatives(groups, scored, "doc_id", "n_tokens")
        .select(col("canonical_id").cast("long").as("canonical_id"),
          col("keep_id"), col("n_docs"),
          col("score_sum").as("total_tokens"))
        .orderBy(col("canonical_id"))
    }),

    "sample_stratified" -> ((s, d) =>
      // deterministic per-language sample: k smallest md5(doc_id) per
      // stratum via the bounded MinK aggregator (no stratum-wide sort)
      graft.operators.CorpusOps.stratifiedSample(
          t(s, d, "documents"), "lang", "doc_id", 20)
        .orderBy(col("lang"), col("rank"))),

    "corpus_mix" -> ((s, d) =>
      // token-budget mixture: each language contributes ~2000 tokens,
      // documents admitted in md5(doc_id) order
      graft.operators.CorpusOps.mixByTokenBudget(
          t(s, d, "documents"), "lang", "doc_id", "text", 2000L)
        .orderBy(col("lang"), col("cum_before"), col("doc_id"))),

    "corpus_perplexity" -> ((s, d) => {
      // CCNet-shape LM quality scoring: add-one bigram LM trained on the
      // 'en' slice, every doc scored by integer-quantized model bits
      // (blen convention — exact cross-engine sums); minCount=2 exercises
      // the pruned-LM fallback path
      val docs = t(s, d, "documents")
      graft.operators.CorpusOps.ngramLmBits(
          docs, col("lang") === "en", "doc_id", "text", minCount = 2L)
        .orderBy(col("doc_id"))
    }),

    "corpus_split" -> ((s, d) =>
      // deterministic salted-hash train/val/test split (md5 60-bit mod 100,
      // pure map-side) + a per-(split, lang) audit rollup so the oracle
      // checks both the assignment and the stratification
      graft.operators.CorpusOps.hashSplit(
          t(s, d, "documents"), "doc_id", "split-v1", valPct = 10, testPct = 10)
        .groupBy(col("split"), col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
        .orderBy(col("split"), col("lang"))),

    "corpus_split_safe" -> ((s, d) => {
      // LEAKAGE-SAFE split: near-duplicates must never straddle train/test
      // (a test doc whose near-dup sits in train is contamination). The
      // split key is the near-dup CANONICAL id — every member of a dup
      // group lands in the same split; singletons key on their own id.
      // Same salted-hash assignment and audit rollup as corpus_split, so
      // the two results diff exactly by the re-keyed dup groups. Dup
      // groups read from the persisted exact-family canonical map (built
      // once, shared with dedup_canonical).
      val docs = t(s, d, "documents")
      val groups = Dedup.openCanonicalMap(s, exactCanonicalMap(s, d))
      val canon = docs
        .select(col("doc_id").cast("long").as("doc_id"),
          col("lang"), col("n_chars"))
        .join(groups, Seq("doc_id"), "left")
        .withColumn("canonical_id",
          coalesce(col("canonical_id"), col("doc_id")))
      graft.operators.CorpusOps.hashSplit(canon, "canonical_id", "split-v1",
          valPct = 10, testPct = 10)
        .groupBy(col("split"), col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
        .orderBy(col("split"), col("lang"))
    }),

    "corpus_split_safe_capped" -> ((s, d) => {
      // the TIER path of the leakage-safe split: identical split semantics
      // to corpus_split_safe, but the dup-group edges come from the
      // df-capped pair generator (candidates <= maxDf * |occurrences| by
      // construction) instead of the exact prefix-filter family, which is
      // documented superlinear at 100x data (55-522x, corpus-shape-
      // dependent). Recall boundary: a dup pair sharing only hot shingles
      // (every shared shingle df > 20) can straddle splits here — the
      // capped operator's documented contract, measured at tier by the
      // rehearsal's planted-recall anchor (100/100). Dup groups read from
      // the persisted capped-family canonical map — built once per corpus
      // (the real ingest-cycle shape), consumers pay a bucketed table read
      // instead of the pair+CC pipeline per query.
      val docs = t(s, d, "documents")
      val groups = Dedup.openCanonicalMap(s, cappedCanonicalMap(s, d))
      val canon = docs
        .select(col("doc_id").cast("long").as("doc_id"),
          col("lang"), col("n_chars"))
        .join(groups, Seq("doc_id"), "left")
        .withColumn("canonical_id",
          coalesce(col("canonical_id"), col("doc_id")))
      graft.operators.CorpusOps.hashSplit(canon, "canonical_id", "split-v1",
          valPct = 10, testPct = 10)
        .groupBy(col("split"), col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
        .orderBy(col("split"), col("lang"))
    }),

    "corpus_shard" -> ((s, d) =>
      // deterministic training-shard layout: shard = salted md5 mod N
      // (map-side), pos = offset within the shard file (window partitioned
      // by shard — parallel across shards, worst task corpus/N)
      graft.operators.CorpusOps.shardByHash(
          t(s, d, "documents"), "doc_id", "shard-v1", 8)
        .select(col("doc_id"), col("shard"), col("pos"))
        .orderBy(col("shard"), col("pos"))),

    "q_zorder_curve" -> ((s, d) =>
      // Morton curve key for multi-dimensional data skipping: interleaved
      // (l_partkey, l_suppkey) bits, computed in-scan by the codegen
      // ZValue expression; the layout pass (Layout.zorderWrite) sorts files
      // by this key so parquet min/max stats prune BOTH columns
      t(s, d, "lineitem")
        .select(col("l_orderkey").cast("long").as("l_orderkey"),
          col("l_linenumber").cast("long").as("l_linenumber"),
          col("l_partkey").cast("long").as("l_partkey"),
          col("l_suppkey").cast("long").as("l_suppkey"),
          graft.operators.Layout.zvalue(16,
            col("l_partkey"), col("l_suppkey")).as("z"))
        .orderBy(col("z"), col("l_orderkey"), col("l_linenumber"))
        .limit(100)),

    "q_hilbert_curve" -> ((s, d) =>
      // Hilbert curve key (Skilling 2004, public) on the same columns as
      // q_zorder_curve: every unit step along this curve moves exactly one
      // coordinate by ±1, so contiguous curve segments — what
      // Layout.hilbertWrite puts in one file — are tighter boxes than the
      // Morton curve's (whose power-of-two diagonal jumps widen file
      // min/max stats). Same in-scan codegen shape as ZValue
      t(s, d, "lineitem")
        .select(col("l_orderkey").cast("long").as("l_orderkey"),
          col("l_linenumber").cast("long").as("l_linenumber"),
          col("l_partkey").cast("long").as("l_partkey"),
          col("l_suppkey").cast("long").as("l_suppkey"),
          graft.operators.Layout.hilbert(16,
            col("l_partkey"), col("l_suppkey")).as("h"))
        .orderBy(col("h"), col("l_orderkey"), col("l_linenumber"))
        .limit(100)),

    "corpus_global_order" -> ((s, d) =>
      // exact global training permutation WITHOUT a single-partition
      // window: deterministic top-bit range buckets rank locally, a
      // buckets-row offset table (collected once, re-broadcast as a map
      // literal) stitches them into the global row_number
      graft.operators.CorpusOps.globalOrderIndex(
          t(s, d, "documents"), "doc_id", "order-v1", buckets = 64)
        .select(col("doc_id"), col("gpos"))
        .orderBy(col("gpos"))),

    "graph_authority" -> ((s, d) => {
      // integer PageRank over the bipartite customer↔supplier purchase
      // graph (crawl-ranking shape: K fixed damped rounds, each one
      // ranks⋈edges equi-join + dst hash agg — no driver materialization).
      // Integer mass only ⇒ the 3-round result replays exactly in SQL
      // node encoding (r17): the ranking iterations run on LONG keys —
      // customer k ↦ 2k, supplier k ↦ 2k+1 (bijective, parity-disjoint
      // exactly as the old "c"/"s" string prefixes were) — and the output
      // re-renders the "c<k>"/"s<k>" node strings AFTER the ranking.
      // PageRank on an isomorphic relabeling yields identical mass per
      // node, so the output is bit-identical; the 3 iterations' joins and
      // aggs sort/hash 8-byte longs instead of strings.
      val pairs = t(s, d, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
        .join(t(s, d, "orders").select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .select((col("o_custkey").cast("long") * 2).as("c"),
          (col("l_suppkey").cast("long") * 2 + 1).as("p"))
        // dedupe the directed pair ONCE (half the rows of a post-union
        // distinct); the two union arms are then disjoint by the even/odd
        // parity, so no second distinct is needed — same edge set the
        // oracle's UNION (dedup across disjoint sides) produces
        .distinct()
      val edges = pairs.select(col("c").as("src"), col("p").as("dst"))
        .union(pairs.select(col("p").as("src"), col("c").as("dst")))
      // releaseCaches=false: this is the repeated-interactive-query shape
      // (bench/Verify re-run the same ranking in one session) — the warm
      // node/degree caches are deliberate, slim, plan-dedup'd and
      // LRU-evictable; a run-once batch job would take the default
      graft.operators.Graph.integerPageRank(edges, "src", "dst", iters = 3,
          releaseCaches = false)
        .select(
          when(col("node") % 2 === 0, concat(lit("c"), expr("node div 2")))
            .otherwise(concat(lit("s"), expr("(node - 1) div 2")))
            .as("node"),
          col("mass"))
        .orderBy(col("mass").desc, col("node")).limit(100)
    }),

    "dq_audit" -> ((s, d) => {
      // Deequ-shape declarative quality gate: seven checks over documents
      // fused into ONE scan (conditional counts + a two-phase distinct),
      // plus the lineitem→orders referential row (left-anti equi-join)
      // unioned onto the same report schema. Integer metrics only — the
      // oracle replays every verdict exactly
      import graft.operators.QualityAudit._
      val docs = t(s, d, "documents")
      audit(docs, Seq(
          rowCount(1L),
          nullCount("doc_id"), duplicateCount("doc_id"),
          nullCount("text"),
          matchingCount("text", "^\\s*$", 0L, 0L),
          setViolations("lang", Seq("de", "en", "es", "fr", "zh")),
          boundViolations("n_chars", 1L, 1000000L)))
        .unionAll(referentialViolations(
          t(s, d, "lineitem"), "l_orderkey", t(s, d, "orders"), "o_orderkey"))
        .orderBy(col("check"), col("column"))
    }),

    "corpus_domain_cap" -> ((s, d) =>
      // per-source cap: keep the 40 largest docs per source (n_chars DESC,
      // doc_id tiebreak) via the two-phase salted window — phase 1 bounds
      // every task at ~|source|/buckets rows regardless of domain skew
      graft.operators.CorpusOps.domainCap(
          t(s, d, "documents"), "source", "doc_id", "n_chars",
          cap = 40, buckets = 8)
        .orderBy(col("source"), col("rank"))),

    "sample_weighted" -> ((s, d) => {
      // PPS Bernoulli selection: P(keep) = (1/2)·n_chars/wmax, decided by
      // ONE map-side integer comparison (decimal-exact, no floats) — the
      // "sample proportional to quality" pass of a corpus pipeline. wmax
      // is a 1-row pre-aggregate the caller supplies (keeps the operator a
      // pure map and keep-decisions stable across incremental runs)
      val docs = t(s, d, "documents")
      val wmax = docs.agg(max(col("n_chars"))).head.getLong(0)
      graft.operators.CorpusOps.weightedBernoulli(
          docs, "doc_id", "n_chars", "pps-v1", wmax, num = 1L, den = 2L)
        .select(col("doc_id"), col("n_chars"), col("keep"))
        .orderBy(col("doc_id"))
    }),

    "corpus_importance" -> ((s, d) => {
      // DSIR-shape importance weights vs the 'fr' target domain — integer-
      // exact base-2-quantized LLR (no cross-engine float ln), hashed
      // unigram+bigram features, 4096 buckets
      val docs = t(s, d, "documents")
      graft.operators.CorpusOps.importanceWeights(
          docs, docs.filter(col("lang") === "fr"), "doc_id", "text", 4096)
        .orderBy(col("doc_id"))
    }),

    "text_decontaminate" -> ((s, d) =>
      // benchmark decontamination: train docs sharing an 8-gram with the
      // (broadcast) eval slice doc_id % 25 == 0
      graft.operators.CorpusOps.decontaminate(
          t(s, d, "documents"), col("doc_id") % 25 === 0, "doc_id", "text", 8)
        .select(col("doc_id"), col("n_shared").cast("long").as("n_shared"))
        .orderBy(col("doc_id"))),

    "corpus_decontaminate_bloom" -> ((s, d) =>
      // the broadcast-free decontamination scale path: eval 6-grams fold
      // into one bloom-filter scalar, the corpus side prunes map-side
      // inside the scan's codegen stage, and the bloom's false-positive
      // fringe dies in a SHUFFLED exact-verify join — no raw eval gram is
      // ever broadcast, so the eval set may be arbitrarily large. Bloom
      // error is one-sided, so the result is EXACT: the oracle replays
      // the plain n-gram semantics, pinning the pruned plan to the
      // unpruned answer
      graft.operators.CorpusOps.decontaminateBloom(
          t(s, d, "documents"), col("doc_id") % 20 === 0, "doc_id", "text", 6)
        .select(col("doc_id"), col("n_shared").cast("long").as("n_shared"))
        .orderBy(col("doc_id"))),

    "pack_sequences" -> ((s, d) =>
      // greedy fixed-budget sequence packing per language, id order
      graft.operators.CorpusOps.packSequences(
          t(s, d, "documents"), "lang", "doc_id", "text", 512L)
        .orderBy(col("lang"), col("doc_id"))),

    "corpus_overlap_matrix" -> ((s, d) =>
      // source×source contamination matrix over shared winnow fingerprints
      // (same (3,4) family as text_winnow/dedup_containment) — |sources|²-
      // bounded aggregate, the one corpus-sized shuffle is the distinct
      graft.operators.CorpusOps.sourceOverlapMatrix(
          t(s, d, "documents"), "source", "text", 3, 4)
        .orderBy(col("src_a"), col("src_b"))),

    "q_topk_agg" -> ((s, d) => {
      import graft.operators.TopK
      import s.implicits._
      // typed Aggregator top-k: only k rows per group per partition shuffle
      // (vs the full-exchange window row_number in q_window_top_orders)
      val c = t(s, d, "customer").select(col("c_custkey"), col("c_mktsegment"))
      val o = t(s, d, "orders")
        .select(col("o_custkey"), col("o_orderkey"),
          dec(col("o_totalprice")).cast("double").as("price"))
      val keyed = o.join(c, col("o_custkey") === col("c_custkey"))
        .select(col("c_mktsegment"), col("price"), col("o_orderkey"))
        .as[(String, Double, Long)]
        .map { case (seg, p, id) => (seg, TopK.Entry(p, id)) }
      TopK.perGroup(keyed, 3).flatMap { case (seg, buf) =>
        buf.items.zipWithIndex.map { case (e, i) =>
          (seg, i.toLong + 1, e.id, e.score)
        }
      }.toDF("c_mktsegment", "rnk", "o_orderkey", "price")
        .orderBy(col("c_mktsegment"), col("rnk"))
    }),

    "mm_frame_sample" -> ((s, d) => {
      import graft.operators.Multimodal
      val media = Multimodal.asMedia(t(s, d, "documents"), "doc_id", "text",
        "video/fake")
      Multimodal.sampleFrames(s, media, stride = 2, maxFrames = 8)
        .toDF()
        .select(col("media_id").cast("long").as("media_id"),
          col("frame_no").cast("long").as("frame_no"),
          col("ts_ms").cast("long").as("ts_ms"),
          length(col("frame_payload")).cast("long").as("frame_len"))
        .orderBy(col("media_id"), col("frame_no"))
    }),

    "dedup_containment" -> ((s, d) =>
      // directed partial-duplicate pairs: >= 80% of A's winnow fingerprints
      // appear in B (df-capped inverted-index join — the asymmetric
      // boilerplate/partial-copy detector; exact copies score 1.0 both ways)
      Dedup.winnowContainmentPairs(t(s, d, "documents"), "doc_id", "text",
          n = 3, w = 4, maxDf = 20, thresh = 0.8)
        .orderBy(col("doc_a"), col("doc_b"))),

    "dedup_lines" -> ((s, d) => {
      // CCNet/C4 line-level boilerplate removal over a derived multi-line
      // view (the flat synthetic docs have no newlines, so "lines" are the
      // non-overlapping 8-token chunks — same replay as text_chunks): lines
      // in > 2 distinct docs drop; surviving lines rebuild in position.
      // Near-dup/exact-dup clusters share chunk lines, so the heavy set is
      // non-trivial at both sf.
      val docs = t(s, d, "documents")
      val multi = docs.select(col("doc_id"), TF.chunkLines(col("text"), 8, 8).as("text"))
      Dedup.lineDedupe(multi, "doc_id", "text", maxDf = 2)
        .select(col("doc_id").cast("long").as("doc_id"),
          md5(col("clean_text")).as("clean_hash"),
          col("n_kept"), col("n_dropped"))
        .orderBy(col("doc_id"))
    }),

    "dedup_substrings" -> ((s, d) =>
      // exact repeated-substring spans (Lee et al. 2021 shape): maximal
      // token spans covered by >= 8-token substrings occurring >= 2 times
      // corpus-wide (within-doc repeats count)
      Dedup.repeatedSubstringSpans(t(s, d, "documents"), "doc_id", "text",
          n = 8, minCount = 2)
        .orderBy(col("doc_id"), col("span_start"))),

    "dedup_semantic" -> ((s, d) =>
      // SemDeDup: md5-seeded coarse-quantizer cells (same 16 centroids the
      // ann_ivf_topk oracle replays) + within-cell exact-cosine filter at
      // the dedup_embedding threshold
      Dedup.semanticDedupPairs(t(s, d, "embeddings"), "vec_id", "embedding",
          nlist = 16, threshold = 0.4)
        .select(col("id_a").cast("long").as("id_a"),
          col("id_b").cast("long").as("id_b"),
          col("cell").cast("long").as("cell"))
        .orderBy(col("id_a"), col("id_b"))),

    "corpus_decontaminate_semantic" -> ((s, d) =>
      // embedding-space decontamination: train vectors within cosine 0.3 of
      // any eval vector (eval = every 7th id), candidates bounded by the
      // same md5-seeded quantizer cells as dedup_semantic, eval side
      // broadcast — the paraphrase leak the 13-gram decontaminate misses
      graft.operators.CorpusOps.decontaminateSemantic(t(s, d, "embeddings"),
          col("vec_id") % 7 === 3, "vec_id", "embedding",
          nlist = 16, threshold = 0.3)
        .select(col("train_id").cast("long").as("train_id"),
          col("n_eval_hits").cast("long").as("n_eval_hits"),
          col("eval_witness").cast("long").as("eval_witness"))
        .orderBy(col("train_id"))),

    "dedup_groups" -> ((s, d) => {
      // full dedup deliverable: near-dup pairs -> connected-component
      // canonical ids (pointer-jumping min-label propagation)
      val pairs = Dedup.ngramJaccardPairs(t(s, d, "documents"),
        "doc_id", "text", 3, 0.8)
      Dedup.duplicateGroups(pairs, "doc_a", "doc_b")
        .select(col("doc_id").cast("long").as("doc_id"),
          col("canonical_id").cast("long").as("canonical_id"))
        .orderBy(col("doc_id"))
    }),

    "dedup_groups_capped" -> ((s, d) => {
      // the full SUBSTITUTE near-dup pipeline end to end: df-capped pair
      // generation (bounded-cost — candidates <= maxDf * |occurrences| by
      // construction) -> connected-component canonical map. This is the
      // tier path where the exact prefix-filter family is documented
      // superlinear (522x at 100x data); the rehearsal measures this
      // query's near-linear curve beside it
      val pairs = Dedup.ngramJaccardPairsCapped(t(s, d, "documents"),
        "doc_id", "text", 3, 0.8, maxDf = 20L)
      Dedup.duplicateGroups(pairs, "doc_a", "doc_b")
        .select(col("doc_id").cast("long").as("doc_id"),
          col("canonical_id").cast("long").as("canonical_id"))
        .orderBy(col("doc_id"))
    }),

    "dedup_canonical_map" -> ((s, d) =>
      // the PERSISTED canonical-map index path (the ann_*_indexed pattern
      // applied to dedup): the capped-family (doc_id -> canonical_id) map
      // is a bucketed managed table built ONCE per corpus
      // (Dedup.buildCanonicalMap); this query reads it back, and the
      // oracle replays the FULL inline recompute (capped pairs + CC) — so
      // the table == inline-recompute law runs as the correctness gate,
      // exactly like dedup_incremental_groups' incremental == full law.
      // dedup_groups_capped keeps timing the inline pipeline; this times
      // what every later consumer pays (corpus_split_safe_capped,
      // dedup_canonical read their family's map the same way).
      Dedup.openCanonicalMap(s, cappedCanonicalMap(s, d))
        .select(col("doc_id").cast("long").as("doc_id"),
          col("canonical_id").cast("long").as("canonical_id"))
        .orderBy(col("doc_id"))),

    "q_grouping_sets" -> ((s, d) => {
      // explicit GROUPING SETS (beyond rollup/cube): (status), (priority), ()
      t(s, d, "orders").createOrReplaceTempView("orders_gs")
      s.sql("""SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders,
              | CAST(grouping(o_orderstatus) AS BIGINT) AS g_status,
              | CAST(grouping(o_orderpriority) AS BIGINT) AS g_priority
              |FROM orders_gs
              |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
              |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST,
              |  g_status, g_priority""".stripMargin)
    }),

    "q_array_functions" -> ((s, d) =>
      // higher-order array ops over per-customer order-price lists
      t(s, d, "orders")
        .groupBy(col("o_custkey"))
        .agg(sort_array(collect_list(dec(col("o_totalprice")).cast("double")))
          .as("prices"))
        .select(
          col("o_custkey").cast("long").as("o_custkey"),
          size(col("prices")).cast("long").as("n"),
          element_at(col("prices"), 1).as("min_price"),
          element_at(col("prices"), -1).as("max_price"),
          size(filter(col("prices"), p => p > 200000.0)).cast("long").as("n_big"),
          aggregate(col("prices"), lit(0.0),
            (acc, p) => acc + p).as("sum_via_fold"))
        .filter(col("n") >= 3)
        .orderBy(col("o_custkey"))),

    "q_date_functions" -> ((s, d) =>
      t(s, d, "orders").select(
        col("o_orderkey").cast("long").as("o_orderkey"),
        year(col("o_orderdate")).cast("long").as("yr"),
        quarter(col("o_orderdate")).cast("long").as("qtr"),
        month(col("o_orderdate")).cast("long").as("mon"),
        dayofweek(col("o_orderdate")).cast("long").as("dow"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("day_str"),
        datediff(lit("1998-12-31").cast("date"), col("o_orderdate").cast("date"))
          .cast("long").as("days_to_eoy"))
        .orderBy(col("o_orderkey"))),

    "q_lag_lead" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
      t(s, d, "events")
        .filter(col("event_type") === "purchase")
        .select(col("user_id").cast("long").as("user_id"),
          col("event_id").cast("long").as("event_id"),
          lag(col("event_id"), 1).over(w).cast("long").as("prev_event"),
          lead(col("event_id"), 1).over(w).cast("long").as("next_event"),
          ntile(4).over(w).cast("long").as("quartile"))
        .orderBy(col("user_id"), col("event_id"))
    }),

    "q_cube" -> ((s, d) =>
      t(s, d, "orders")
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"),
          grouping(col("o_orderstatus")).cast("long").as("g_status"),
          grouping(col("o_orderpriority")).cast("long").as("g_priority"))
        .orderBy(asc_nulls_first("o_orderstatus"), asc_nulls_first("o_orderpriority"),
          col("g_status"), col("g_priority"))),

    "q_scalar_subquery" -> ((s, d) => {
      // correlated "price > 2x my customer's average" — expressed scale-first
      // as a window aggregate (one shuffle) rather than a per-row subquery;
      // the avg comparison is kept in exact decimal (price*n > 2*sum) so both
      // engines decide borderline rows identically
      val w = Window.partitionBy(col("o_custkey"))
      t(s, d, "orders")
        .withColumn("cust_sum", sum(dec(col("o_totalprice"))).over(w))
        .withColumn("cust_n", count(lit(1)).over(w))
        .filter(dec(col("o_totalprice")) * col("cust_n") > col("cust_sum") * 2)
        .select(col("o_orderkey").cast("long").as("o_orderkey"),
          col("o_custkey").cast("long").as("o_custkey"),
          dec(col("o_totalprice")).cast("double").as("totalprice"))
        .orderBy(col("o_orderkey"))
    }),

    "q_approx_distinct" -> ((s, d) =>
      // HLL++ sketch: the 100 TB path for distinct counts (mergeable partial
      // aggregate, no exact-distinct shuffle explosion). The raw estimate is
      // engine-specific, so the ORACLE-facing output is the exact count plus
      // a within-5%-of-exact flag (measured ≤2.6% at sf0.01/sf0.1; rsd 0.02
      // → ~2% stddev, so 5% is a ≥2σ bound). ApproxAggSpec asserts the raw
      // error bound directly.
      {
        // HLL and exact-distinct in SEPARATE aggregations + tiny join: mixing
        // them makes Spark expand per distinct column and drag the ~3 KB HLL
        // partial buffer through every (type, value) group — measured 4.2 s
        // vs 0.9 s split at sf0.1.
        val ev = t(s, d, "events")
        // rsd 0.02: ~2% error with 4x smaller HLL registers than 0.01 —
        // measured 2.6x faster end-to-end at sf0.1 (register width dominates
        // the partial-agg buffer, not row count)
        val approx = ev.groupBy(col("event_type"))
          .agg(approx_count_distinct(col("user_id"), 0.02).as("au"),
            approx_count_distinct(col("event_id"), 0.02).as("ae"))
        val exact = ev.groupBy(col("event_type"))
          .agg(countDistinct(col("user_id")).as("n_users"),
            countDistinct(col("event_id")).as("n_events"))
        approx.join(exact, "event_type")
          .select(col("event_type"), col("n_users"), col("n_events"),
            (abs(col("au") - col("n_users")) <= lit(0.05) * col("n_users"))
              .as("users_within_5pct"),
            (abs(col("ae") - col("n_events")) <= lit(0.05) * col("n_events"))
              .as("events_within_5pct"))
          .orderBy(col("event_type"))
      }),

    // (q_approx_distinct_sketch retired in round 10: its HLL registers are
    // engine-private, which kept it the lone rows-only CORRECTNESS row for
    // nine rounds. The oracle-verified production sketch path is the KMV
    // family — q_approx_distinct_kmv / q_kmv_rollup / q_kmv_overlap — and
    // the HLL surface keeps q_approx_distinct (oracle-green audit vs exact)
    // plus ApproxAggSpec, which pins both the ≤5% error bound and the
    // sketch-only no-Expand plan shape the retired query existed to show.)

    "q_kmv_value_quantiles" -> ((s, d) => {
      // bottom-k VALUE sample (Cohen & Kaplan): the k smallest
      // (md5-hash, value) pairs form a deterministic uniform sample of the
      // DISTINCT user ids per type; quantiles are integer-index order
      // statistics over the sample (zero float arithmetic), the distinct
      // estimate is the KMV formula. One mergeable bounded partial agg —
      // the sketch that answers "what does the distinct-id DISTRIBUTION
      // look like" where q_approx_distinct_kmv answers only "how many".
      val k = 64
      val samp = udaf(new graft.functions.BottomKSample.Agg(k),
        org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.scalaLong))
      val hv = expr(
        "cast(conv(substring(md5(cast(user_id as string)), 1, 15), 16, 10) as bigint)")
      val m = size(col("sk.vs")).cast("long")
      val vals = array_sort(col("sk.vs"))
      // round-half-up((m-1)·q) as pure integer math; element_at is 1-based
      def pick(num: Int, den: Int) =
        element_at(vals, (((m - 1) * num + den / 2) / den).cast("int") + 1)
      t(s, d, "events")
        .groupBy(col("event_type"))
        .agg(samp(hv, col("user_id").cast("long")).as("sk"))
        .select(col("event_type"), m.as("n_tracked"),
          when(m < k, m)
            .otherwise(floor(lit((k - 1).toDouble) * pow(lit(2.0), lit(60))
              / element_at(col("sk.hs"), k)).cast("long"))
            .as("est_distinct"),
          pick(1, 2).as("p50_user_id"),
          pick(9, 10).as("p90_user_id"))
        .orderBy(col("event_type"))
    }),

    "q_approx_distinct_kmv" -> ((s, d) =>
      // KMV bottom-k distinct sketch: the ORACLE-VERIFIED production sketch
      // path. Unlike HLL (engine-specific registers → rows-only check), the
      // k smallest md5-derived 60-bit hashes are deterministic across
      // engines, so DuckDB replays the identical estimate. Plan shape: one
      // mergeable bounded partial aggregate (<= k longs per group per
      // task), no exact-distinct shuffle — only sketches move.
      {
        val k = 64
        val kmv = udaf(new graft.functions.KmvSketch.KmvAgg(k),
          org.apache.spark.sql.Encoders.scalaLong)
        // 60-bit hash = first 15 hex chars of md5; conv → decimal string →
        // BIGINT. Identical bytes hash identically in DuckDB's md5.
        val hv = expr(
          "cast(conv(substring(md5(cast(user_id as string)), 1, 15), 16, 10) as bigint)")
        t(s, d, "events")
          .groupBy(col("event_type"))
          .agg(kmv(hv).as("mins"))
          .select(col("event_type"),
            when(size(col("mins")) < k, size(col("mins")).cast("long"))
              .otherwise(floor(lit((k - 1).toDouble) * pow(lit(2.0), lit(60))
                / element_at(col("mins"), k)))
              .as("n_users_est"),
            size(col("mins")).cast("long").as("n_tracked"),
            when(size(col("mins")) === k, element_at(col("mins"), k))
              .as("kth_hash"))
          .orderBy(col("event_type"))
      }),

    "q_kmv_overlap" -> ((s, d) =>
      // KMV sketch ALGEBRA: per-pair distinct-set overlap (union size,
      // Jaccard, intersection size) of user populations across event types,
      // computed entirely from the per-group bottom-k sketches — no exact
      // distinct, no row-level self-join. Estimator (Beyer et al., SIGMOD
      // 2007): K = bottom-k of the merged sketches; J ≈ |K ∩ SA ∩ SB| /
      // |K|; |A∪B| from K's k-th value; |A∩B| ≈ J·|A∪B|. At 100 TB the
      // rows are touched ONCE (the sketch aggregate); the pair stage runs
      // on |groups| sketch rows — here a 5x5 bounded cross of 512-byte
      // arrays, all codegen'd array ops. Deterministic md5 hashes → the
      // DuckDB oracle replays every estimate exactly.
      {
        val k = 64
        val kmv = udaf(new graft.functions.KmvSketch.KmvAgg(k),
          org.apache.spark.sql.Encoders.scalaLong)
        val hv = expr(
          "cast(conv(substring(md5(cast(user_id as string)), 1, 15), 16, 10) as bigint)")
        val sk = t(s, d, "events").groupBy(col("event_type")).agg(kmv(hv).as("mins"))
        val a = sk.select(col("event_type").as("type_a"), col("mins").as("ma"))
        val b = sk.select(col("event_type").as("type_b"), col("mins").as("mb"))
        val merged = slice(array_sort(array_union(col("ma"), col("mb"))), 1, k)
        val paired = a.join(b, col("type_a") < col("type_b"))
          .withColumn("ku", merged)
          .withColumn("n_u", size(col("ku")).cast("long"))
          .withColumn("n_both",
            size(array_intersect(array_intersect(col("ku"), col("ma")), col("mb")))
              .cast("long"))
          .withColumn("union_est",
            when(col("n_u") < k, col("n_u"))
              .otherwise(floor(lit((k - 1).toDouble) * pow(lit(2.0), lit(60))
                / element_at(col("ku"), k))))
          .withColumn("jaccard_est",
            col("n_both").cast("double") / col("n_u").cast("double"))
        paired.select(col("type_a"), col("type_b"), col("n_u"), col("n_both"),
            col("union_est"), col("jaccard_est"),
            floor(col("jaccard_est") * col("union_est").cast("double"))
              .as("inter_est"))
          .orderBy(col("type_a"), col("type_b"))
      }),

    "q_kmv_rollup" -> ((s, d) =>
      // sketch-TABLE rollup (the Druid/materialized-cube pattern): build
      // one bottom-k sketch per (event_type, day) — the shape a 100 TB
      // pipeline PERSISTS once per ingest — then answer per-type distinct
      // users by MERGING the 512-byte sketch arrays, never re-touching raw
      // rows. Sound because bottom-k is a semilattice (bottomK(A ∪ B) ==
      // merge(bottomK A, bottomK B)): the rollup equals a direct sketch
      // bit-for-bit, which is exactly what the oracle (a direct bottom-k
      // replay over the raw rows) verifies.
      {
        val k = 64
        val kmv = udaf(new graft.functions.KmvSketch.KmvAgg(k),
          org.apache.spark.sql.Encoders.scalaLong)
        val kmvMerge = udaf(new graft.functions.KmvSketch.KmvMergeAgg(k),
          org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]())
        val hv = expr(
          "cast(conv(substring(md5(cast(user_id as string)), 1, 15), 16, 10) as bigint)")
        val daily = t(s, d, "events")
          .groupBy(col("event_type"), expr("ts_ns div 86400000000000L").as("day"))
          .agg(kmv(hv).as("mins"))
        daily.groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_days"), kmvMerge(col("mins")).as("mins"))
          .select(col("event_type"), col("n_days"),
            when(size(col("mins")) < k, size(col("mins")).cast("long"))
              .otherwise(floor(lit((k - 1).toDouble) * pow(lit(2.0), lit(60))
                / element_at(col("mins"), k)))
              .as("n_users_est"),
            when(size(col("mins")) === k, element_at(col("mins"), k))
              .as("kth_hash"))
          .orderBy(col("event_type"))
      }),

    "q_percentiles" -> ((s, d) =>
      t(s, d, "orders")
        .groupBy(col("o_orderpriority"))
        .agg(expr("percentile(o_totalprice, array(0.25, 0.5, 0.9))").as("p"),
          count(lit(1)).as("n_orders"))
        .select(col("o_orderpriority"),
          col("p")(0).as("p25"), col("p")(1).as("p50"), col("p")(2).as("p90"),
          col("n_orders"))
        .orderBy(col("o_orderpriority"))),

    "text_normalize" -> ((s, d) =>
      t(s, d, "documents").select(
        col("doc_id").cast("long").as("doc_id"),
        md5(graft.functions.TextExpressions.normalizeText(col("text")))
          .as("norm_hash"),
        length(graft.functions.TextExpressions.normalizeText(col("text")))
          .cast("long").as("norm_len"))
        .orderBy(col("doc_id"))),

    "text_quality" -> ((s, d) => {
      val doc = t(s, d, "documents")
      val nTok = TF.nTokens(col("text"))
      doc.select(
        col("doc_id").cast("long").as("doc_id"),
        nTok.cast("long").as("n_tokens"),
        ((nTok >= 10) && (nTok <= 100000) &&
          (TF.meanTokenLen(col("text")) >= 2.0) &&
          (TF.meanTokenLen(col("text")) <= 12.0) &&
          (TF.alphaRatio(col("text")) > 0.5)).as("keep"))
        .orderBy(col("doc_id"))
    }),

    "q_range_join" -> ((s, d) => {
      import graft.operators.RangeJoin
      val ev = t(s, d, "events").withColumn("ts_us", expr("ts_ns div 1000"))
      val spans = ev.filter(pmod(col("user_id"), lit(11)) === 0)
        .groupBy(col("user_id").as("span_user"))
        .agg(min(col("ts_us")).as("lo"), max(col("ts_us")).as("hi"))
      val points = ev.select(col("ts_us").as("x"))
      RangeJoin.pointInInterval(points, col("x"), spans, col("lo"), col("hi"),
          bucket = 6L * 3600 * 1000000)
        .groupBy(col("span_user")).agg(count(lit(1)).as("n_in_span"))
        .select(col("span_user").cast("long").as("span_user"), col("n_in_span"))
        .orderBy(col("span_user"))
    }),

    "q_tumbling_window" -> ((s, d) =>
      t(s, d, "events")
        .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"),
          min(col("value")).as("min_value"), max(col("value")).as("max_value"))
        .select(expr("unix_micros(w.start) div 86400000000").as("day_bucket"),
          col("event_type"), col("n_events"), col("n_users"),
          col("min_value"), col("max_value"))
        .orderBy(col("day_bucket"), col("event_type"))),

    // ---------- reference CDC surface (SURVEY §2) ----------
    "cdc_parse_entities" -> ((s, d) =>
      cdcRecords(s, d).select(
        col("id").cast("long").as("event_id"),
        col("table").as("event_type"),
        graft.cdc.Envelope.entityId(col("envelope"), "k").cast("long").as("entity_id"))
        .orderBy(col("event_id"))),

    "cdc_route_fanout" -> ((s, d) =>
      routed(s, d)
        .select(col("target"), col("id").cast("long").as("event_id"), col("entity_id"))
        .orderBy(col("target"), col("event_id"))),

    "cdc_dedupe_keep_first" -> ((s, d) => {
      val r = routed(s, d).select(col("target"), col("entity_id"),
        col("id").cast("long").as("event_id"))
      Dedupe.keepFirstAgg(r, Seq("target", "entity_id"), col("event_id"), Seq("event_id"))
        .withColumnRenamed("event_id", "first_event_id")
        .orderBy(col("target"), col("entity_id"))
    }),

    "cdc_batch_ids" -> ((s, d) =>
      Batcher.keepFirstChunks(routed(s, d), "target", "entity_id", 100, col("entity_id"))
        .orderBy(col("target"), col("chunk_no"))),

    "cdc_ack_audit" -> ((s, d) =>
      routed(s, d).groupBy(col("event_type"))
        .agg(countDistinct(col("id")).as("n_records"), count(lit(1)).as("n_emitted"))
        .withColumn("fanout_degree",
          (col("n_emitted") / col("n_records")).cast("long"))
        .orderBy(col("event_type"))),

    "cdc_compact_state" -> ((s, d) => {
      // type-1 / log-compaction materialization: newest version per key
      val r = routed(s, d).select(col("target"), col("entity_id"),
        col("id").cast("long").as("event_id"))
      graft.cdc.Scd2.compact(r, Seq("target", "entity_id"), col("event_id"),
          Seq("event_id"))
        .withColumnRenamed("event_id", "last_event_id")
        .orderBy(col("target"), col("entity_id"))
    }),

    "cdc_scd2" -> ((s, d) => {
      // type-2 / SCD2 historization of one target's change stream
      val r = routed(s, d).filter(col("target") === "t_all")
        .select(col("entity_id"), col("id").cast("long").as("event_id"))
      graft.cdc.Scd2.historize(r, Seq("entity_id"), col("event_id"))
        .select(col("entity_id"), col("event_id"), col("valid_from"),
          col("valid_to"), col("is_current"))
        .orderBy(col("entity_id"), col("event_id"))
    }),

    "cdc_apply_changes" -> ((s, d) => {
      // MERGE the odd-event change set (entity_id % 7 == 0 → delete, else
      // upsert) into the even-event base snapshot
      val r = routed(s, d).select(col("target"), col("entity_id"),
        col("id").cast("long").as("event_id"))
      val base = graft.cdc.Scd2.compact(r.filter(col("event_id") % 2 === 0),
        Seq("target", "entity_id"), col("event_id"), Seq("event_id"))
      val changes = r.filter(col("event_id") % 2 === 1)
        .withColumn("op",
          when(col("entity_id") % 7 === 0, lit("D")).otherwise(lit("U")))
      graft.cdc.Scd2.applyChanges(base, changes, Seq("target", "entity_id"),
          col("event_id"), col("op"), Seq("event_id"))
        .select(col("target"), col("entity_id"),
          col("event_id").cast("long").as("last_event_id"))
        .orderBy(col("target"), col("entity_id"))
    }),

    "q_bloom_semi_join" -> ((s, d) => {
      import graft.operators.BloomJoin
      val big = t(s, d, "orders").filter(col("o_totalprice") > 350000.0)
        .select(col("o_custkey"))
      BloomJoin.semiJoin(t(s, d, "customer"), col("c_custkey"),
          big, col("o_custkey"), expectedItems = 20000L)
        .select(col("c_custkey").cast("long").as("c_custkey"), col("c_mktsegment"))
        .orderBy(col("c_custkey"))
    }),

    "q_approx_percentiles" -> ((s, d) =>
      // mergeable quantile sketch (the 100 TB percentile path) audited
      // against the DISCRETE exact percentile (lossless-accuracy sketch, no
      // interpolation — the interpolating `percentile` drifts >1% from any
      // element-returning estimator once groups get small), flagged at 1%
      t(s, d, "orders")
        .groupBy(col("o_orderpriority"))
        .agg(expr("approx_percentile(o_totalprice, array(0.25, 0.5, 0.9), 10000)")
          .as("a"),
          expr("approx_percentile(o_totalprice, array(0.25, 0.5, 0.9), 2147483647)")
            .as("e"),
          count(lit(1)).as("n_orders"))
        .select(col("o_orderpriority"), col("n_orders"),
          (abs(col("a")(0) - col("e")(0)) <= lit(0.01) * abs(col("e")(0)) &&
            abs(col("a")(1) - col("e")(1)) <= lit(0.01) * abs(col("e")(1)) &&
            abs(col("a")(2) - col("e")(2)) <= lit(0.01) * abs(col("e")(2)))
            .as("approx_within_1pct"))
        .orderBy(col("o_orderpriority"))),

    "q_sliding_window" -> ((s, d) =>
      // event-time sliding window (2-day window, 1-day slide): every event
      // lands in exactly two windows
      t(s, d, "events")
        .groupBy(window(col("ts"), "2 days", "1 day").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"))
        .select(expr("unix_micros(w.start) div 86400000000").as("win_day"),
          col("event_type"), col("n_events"), col("n_users"))
        .orderBy(col("win_day"), col("event_type"))),

    "text_top_ngrams" -> ((s, d) =>
      // corpus-level bigram document frequencies, top 20 — shuffle carries
      // (ngram, doc) pairs only, distinct-per-doc comes free from shingleSet
      t(s, d, "documents")
        .select(explode(Dedup.shingleSet(col("text"), 2)).as("ngram"))
        .groupBy(col("ngram")).agg(count(lit(1)).as("df"))
        .orderBy(col("df").desc, col("ngram")).limit(20)),

    "text_heavy_hitters" -> ((s, d) => {
      // EXACT bigram heavy hitters via mergeable Misra-Gries candidates +
      // a confirm pass over just the ≤k candidate keys — the scale path
      // when the n-gram vocabulary is too wide to groupBy wholesale. The
      // MG error bound makes the composed result exact, so the oracle is
      // a plain HAVING count(*) >= t
      val docs = t(s, d, "documents")
      val grams = docs.select(explode(TF.ngramList(col("text"), 2)).as("gram"))
      // the stream count N sizes the sketch; |ngramList(text, 2)| is
      // max(nTokens - 1, 0) by construction, so N comes from a map-only
      // token-length sum instead of materializing every gram string just
      // to count it (r18) — the MG pass itself re-counts N exactly and
      // fails fast if this ever diverged
      val n = docs.agg(coalesce(sum(greatest(
          TF.nTokens(col("text")).cast("long") - 1L, lit(0L))), lit(0L)))
        .head().getLong(0)
      graft.operators.FreqSketch.heavyHitters(grams, "gram", minCount = 35L,
          knownN = Some(n))
        .orderBy(col("cnt").desc, col("gram"))
    }),

    "q_cms_freq" -> ((s, d) => {
      // Count-Min point-frequency estimates for a probe vocabulary: the
      // 4×256 table is the ONLY thing the corpus pass shuffles (bounded
      // key space, map-side combined, broadcastable); est >= exact always.
      // md5 bucket family → DuckDB replays the table cell-for-cell
      import graft.operators.FreqSketch
      val grams = t(s, d, "documents")
        .select(col("doc_id"), explode(TF.ngramList(col("text"), 2)).as("gram"))
      val table = FreqSketch.countMinTable(grams, "gram", depth = 4, width = 256)
      val probes = grams.filter(col("doc_id") % 250 === 0)
        .select(col("gram")).distinct()
      val est = FreqSketch.cmsEstimate(table, probes, "gram", depth = 4, width = 256)
      val exact = grams.join(broadcast(probes), "gram")
        .groupBy(col("gram")).agg(count(lit(1)).as("exact_count"))
      est.join(exact, "gram")
        .select(col("gram"), col("est_count"), col("exact_count"))
        .orderBy(col("gram"))
    }),

    "dedup_incremental" -> ((s, d) => {
      // incremental dedupe: incoming batch (doc_id >= 250) anti-joined
      // against the existing corpus' content hashes — the daily-ingest shape
      // of exact dedupe (only the delta shuffles)
      val docs = t(s, d, "documents")
      val corpusHashes = docs.filter(col("doc_id") < 250)
        .select(md5(col("text")).as("h")).distinct()
      docs.filter(col("doc_id") >= 250)
        .select(col("doc_id"), md5(col("text")).as("h"))
        .join(corpusHashes, Seq("h"), "left_anti")
        .select(col("doc_id").cast("long").as("doc_id"))
        .orderBy(col("doc_id"))
    }),

    // ---------- dedup suite (documents) ----------
    "dedup_exact" -> ((s, d) =>
      Dedup.exact(t(s, d, "documents"), "doc_id", "text")
        .select(col("content_hash"), col("canonical_id").cast("long").as("canonical_id"),
          col("n_copies"))
        .orderBy(col("content_hash"))),

    "dedup_ngram_jaccard" -> ((s, d) =>
      Dedup.ngramJaccardPairs(t(s, d, "documents"), "doc_id", "text", 3, 0.8)
        .orderBy(col("doc_a"), col("doc_b"))),

    "dedup_ngram_jaccard_capped" -> ((s, d) =>
      // the bounded-cost near-dup path for tiers where exact prefix-filter
      // candidates go superlinear (522x at 100x data in the rehearsal):
      // rare-shingle blocking at df <= 20 + exact-jaccard verify. The
      // recall contract (pairs sharing only hotter-than-cap shingles are
      // missed) is explicit in the operator doc; the oracle replays the
      // capped semantics bit for bit, and DedupSpec pins capped ⊆ exact
      // with equality under a generous cap
      Dedup.ngramJaccardPairsCapped(t(s, d, "documents"), "doc_id", "text",
          3, 0.8, maxDf = 20L)
        .orderBy(col("doc_a"), col("doc_b"))),

    "dedup_minhash_lsh" -> ((s, d) =>
      Dedup.minhashLshPairs(t(s, d, "documents"), "doc_id", "text",
          n = 3, k = 64, bands = 16, threshold = 0.8)
        .orderBy(col("doc_a"), col("doc_b"))),

    "dedup_simhash" -> ((s, d) =>
      // md5-derived 60-bit token hash so DuckDB can rebuild the exact
      // fingerprints; blocking is pigeonhole-complete (maxDist+1 blocks), so
      // the output is the EXACT hamming<=3 pair set, not a candidate subset
      Dedup.simhashPairs(t(s, d, "documents"), "doc_id", "text", maxDist = 3,
          md5 = true)
        .select(col("doc_a").cast("long").as("doc_a"),
          col("doc_b").cast("long").as("doc_b"),
          col("hamming").cast("long").as("hamming"))
        .orderBy(col("doc_a"), col("doc_b"))),

    "dedup_embedding" -> ((s, d) =>
      // md5-derived hyperplanes ("emb" family) — the DuckDB oracle rebuilds
      // the exact buckets from md5 alone, so the blocked path is fully
      // hash-verified, not rows-only. Cosine is recomputed by the oracle for
      // the verify filter but kept OUT of the output (raw float-sum doubles
      // are the one place engines can differ in the last ulp).
      Dedup.embeddingPairs(t(s, d, "embeddings"), "vec_id", "embedding",
          planes = 6, threshold = 0.4, md5Tag = Some("emb"))
        .select(col("id_a").cast("long").as("id_a"),
          col("id_b").cast("long").as("id_b"))
        .orderBy(col("id_a"), col("id_b"))),

    "dedup_embedding_exact" -> ((s, d) =>
      Dedup.embeddingPairsExact(t(s, d, "embeddings"), "vec_id", "embedding",
          threshold = 0.4)
        .select(col("id_a").cast("long").as("id_a"),
          col("id_b").cast("long").as("id_b"))
        .orderBy(col("id_a"), col("id_b"))),

    // ---------- similarity search (embeddings) ----------
    "ann_cosine_topk" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      SimilaritySearch.bruteForceTopK(e.filter(col("vec_id") < 10), e,
          "vec_id", "embedding", k = 10)
        .select(col("query_id").cast("long").as("query_id"),
          col("neighbor_id").cast("long").as("neighbor_id"),
          col("rank").cast("long").as("rnk"))
        .orderBy(col("query_id"), col("rnk"))
    }),

    "ann_lsh_topk" -> ((s, d) => {
      // md5-derived plane families ("lsh0".."lsh3") — the DuckDB oracle
      // replays bucketing + multi-probe + cosine ranking exactly, so the
      // approximate index itself is hash-verified end to end
      val e = t(s, d, "embeddings")
      SimilaritySearch.lshTopK(e.filter(col("vec_id") < 10), e,
          "vec_id", "embedding", k = 10, planes = 8, probes = 4, tables = 4,
          md5Tag = Some("lsh"))
        .select(col("query_id").cast("long").as("query_id"),
          col("neighbor_id").cast("long").as("neighbor_id"),
          col("rank").cast("long").as("rnk"))
        .orderBy(col("query_id"), col("rnk"))
    }),

    "ann_lsh_indexed" -> ((s, d) => {
      // the amortized-index serving shape: the corpus's sketch pass +
      // shuffle are paid ONCE by buildLshIndex (a bucketed table; built on
      // first touch per sf dir, reused by every later run), and the query
      // side joins it with no corpus-side Exchange and no vector re-join.
      // Same plane family/params as ann_lsh_topk -> byte-identical results
      // (the oracle is literally ann_lsh_topk's), proving index == inline.
      val table = indexTable(s, d, "ann_lsh_index", "embeddings")
      if (!s.catalog.tableExists(table)) {
        val e = t(s, d, "embeddings")
        SimilaritySearch.buildLshIndex(e, "vec_id", "embedding", table,
          planes = 8, tables = 4, md5Tag = Some("lsh"))
      }
      val q = t(s, d, "embeddings").filter(col("vec_id") < 10)
      SimilaritySearch.queryLshIndex(s, table, q, "vec_id", "embedding",
          k = 10, planes = 8, probes = 4, tables = 4, md5Tag = Some("lsh"))
        .select(col("query_id").cast("long").as("query_id"),
          col("neighbor_id").cast("long").as("neighbor_id"),
          col("rank").cast("long").as("rnk"))
        .orderBy(col("query_id"), col("rnk"))
    }),

    "ann_ivf_indexed" -> ((s, d) => {
      // persisted IVF: quantizer + cell assignment paid once by
      // buildIvfIndex (bucketed by cell; built on first touch per sf dir),
      // query side probes pre-assigned buckets. Rebuild-only by design
      // (data-dependent quantizer) — the LSH index is the incremental one.
      // Same params as ann_ivf_topk -> byte-identical results, same oracle.
      val table = indexTable(s, d, "ann_ivf_index", "embeddings")
      if (!s.catalog.tableExists(table)) {
        val e = t(s, d, "embeddings")
        SimilaritySearch.buildIvfIndex(e, "vec_id", "embedding", table, nlist = 16)
      }
      val q = t(s, d, "embeddings").filter(col("vec_id") < 10)
      SimilaritySearch.queryIvfIndex(s, table, q, "vec_id", "embedding",
          k = 10, nlist = 16, nprobe = 4)
        .select(col("query_id").cast("long").as("query_id"),
          col("neighbor_id").cast("long").as("neighbor_id"),
          col("rank").cast("long").as("rnk"))
        .orderBy(col("query_id"), col("rnk"))
    }),

    "ann_ivf_drift" -> ((s, d) => {
      // the "rebuild now" signal for the frozen-quantizer IVF index: build
      // over the full corpus, then plant the canonical drift scenario —
      // the busiest build cell's members re-ingested under fresh ids (new
      // mass crowding into one cell, the exact condition under which
      // add-with-frozen-centroids degrades) — and audit occupancy-share
      // movement in exact integer ppm. Only the crowded cell trips.
      val table = indexTable(s, d, "ann_ivf_drift_idx", "embeddings")
      if (!s.catalog.tableExists(table)) {
        val e = t(s, d, "embeddings")
        SimilaritySearch.buildIvfIndex(e, "vec_id", "embedding", table, nlist = 16)
        val cstar = SimilaritySearch.ivfBuildStats(s, table)
          .orderBy(col("n_build").desc, col("cell")).limit(1)
          .collect()(0).getInt(0)
        val delta = s.table(table).filter(col("cell") === cstar)
          .select((col("neighbor_id") + 100000L).as("vec_id"),
            col("cv").as("embedding"))
        SimilaritySearch.insertIvfIndex(delta, "vec_id", "embedding", table,
          nlist = 16)
      }
      SimilaritySearch.auditIvfIndex(s, table)
        .select(col("cell"), col("n_build").cast("long").as("n_build"),
          col("n_now").cast("long").as("n_now"),
          col("poor_build").cast("long").as("poor_build"),
          col("poor_now").cast("long").as("poor_now"),
          col("share_shift_ppm").cast("long").as("share_shift_ppm"),
          col("drifted"))
        .orderBy(col("cell"))
    }),

    "ann_knn_classify" -> ((s, d) => {
      // kNN auto-labeling over the LSH path (leave-one-out on the labeled
      // corpus): modal neighbor label, ties to smallest — integer-exact,
      // same md5 plane family as ann_lsh_topk so the oracle replays the
      // index AND the vote
      val e = t(s, d, "embeddings")
      SimilaritySearch.knnClassify(e.filter(col("vec_id") < 10), e,
          "vec_id", "embedding", "label", k = 10, planes = 8, probes = 4,
          tables = 4, md5Tag = Some("lsh"))
        .select(col("query_id").cast("long").as("query_id"),
          col("pred_label").cast("long").as("pred_label"),
          col("votes").cast("long").as("votes"),
          col("n_neighbors").cast("long").as("n_neighbors"))
        .orderBy(col("query_id"))
    }),

    "ann_cluster_purity" -> ((s, d) => {
      // embedding-quality audit: per-cell majority-label agreement over the
      // same md5-seeded 16-cell quantizer dedup_semantic/ann_ivf use — low
      // purity cells mean "semantic duplicates" that aren't
      SimilaritySearch.clusterPurity(t(s, d, "embeddings"),
          "vec_id", "embedding", "label", nlist = 16)
        .select(col("cell").cast("long").as("cell"),
          col("n_vecs").cast("long").as("n_vecs"),
          col("maj_label").cast("long").as("maj_label"),
          col("maj_votes").cast("long").as("maj_votes"))
        .orderBy(col("cell"))
    }),

    "ann_lsh_bucket_stats" -> ((s, d) => {
      // operational metric for the LSH index: per-(table, bucket) occupancy
      // — the candidate-COST distribution of ann_lsh_topk's equi-join
      // (max(n) bounds per-probe work; a degenerate plane family shows up
      // as one corpus-sized bucket). Same md5 plane families as
      // ann_lsh_topk, so the oracle hash-verifies the index SHAPE itself,
      // not just query results over it.
      val e = t(s, d, "embeddings")
      SimilaritySearch.lshBucketStats(e, "vec_id", "embedding",
          planes = 8, tables = 4, md5Tag = Some("lsh"))
        .select(col("t").cast("long").as("t"),
          col("bucket").cast("long").as("bucket"),
          col("n").cast("long").as("n"))
        .orderBy(col("t"), col("bucket"))
    }),

    "ann_cell_occupancy" -> ((s, d) => {
      // the "raise nlist" guard for the fixed-cell quantizer family:
      // dedup_semantic / corpus_decontaminate_semantic / ann_cluster_purity
      // all pin nlist=16, and a pinned quantizer goes quadratic as the
      // corpus grows (measured: dedup_semantic 67x at 100x data — cell
      // population scales with rows while nlist stands still). The audit is
      // integer-exact end to end: `degenerate` is the cross-multiplied
      // "max cell share > 4x ideal", `suggested_nlist` the smallest power
      // of two at <= 256 mean rows/cell — schedule beside those jobs and
      // alert on either signal.
      SimilaritySearch.cellOccupancyAudit(t(s, d, "embeddings"),
          "vec_id", "embedding", nlist = 16)
        .select(col("nlist"), col("n_rows"), col("n_cells_used"),
          col("max_cell_rows"), col("degenerate").cast("long").as("degenerate"),
          col("suggested_nlist"))
    }),

    "ann_recall_audit" -> ((s, d) => {
      // the first question a user asks of an ANN index: what's its recall?
      // Answered as a first-class query — per-query recall@10 of the LSH
      // index against in-engine brute-force ground truth, both sides the
      // exact pipelines of ann_cosine_topk / ann_lsh_topk (oracle replays
      // both and recomputes the same join). Scale: both inputs are bounded
      // per-query top-k lists (k rows per query), so the audit join and
      // aggregate touch k*|queries| rows regardless of corpus size.
      // NOTE on absolute values: the synthetic embeddings are isotropic
      // random vectors, so all cosines concentrate near 0 and the "true"
      // top-10 is noise — recall here is structurally low and that is the
      // honest answer for this data. SimilaritySpec asserts high recall on
      // clustered vectors, where neighborhoods actually exist.
      val e = t(s, d, "embeddings")
      val q = e.filter(col("vec_id") < 10)
      val bf = SimilaritySearch.bruteForceTopK(q, e, "vec_id", "embedding", k = 10)
        .select(col("query_id").cast("long").as("query_id"),
          col("neighbor_id").cast("long").as("neighbor_id"))
      val lsh = SimilaritySearch.lshTopK(q, e, "vec_id", "embedding",
          k = 10, planes = 8, probes = 4, tables = 4, md5Tag = Some("lsh"))
        .select(col("query_id").cast("long").as("query_id"),
          col("neighbor_id").cast("long").as("neighbor_id"), lit(1L).as("hit"))
      bf.join(lsh, Seq("query_id", "neighbor_id"), "left")
        .groupBy(col("query_id"))
        .agg(sum(coalesce(col("hit"), lit(0L))).as("n_matched"))
        .select(col("query_id"), col("n_matched"),
          (col("n_matched") / lit(10.0)).as("recall_at_10"))
        .orderBy(col("query_id"))
    }),

    "ann_ivf_recall_audit" -> ((s, d) => {
      // recall@10 of the TRAINED (Lloyd) IVF path — the variant users run
      // for cell balance — against brute force. md5Init + sampleMod=1 +
      // iters=2 make every stage (init pick, per-cell means, spherical
      // renormalize, assignment, probing, ranking) DuckDB-replayable, so a
      // training-loop regression now fails the driver's hash check instead
      // of being invisible (the seeded variant alone verified none of the
      // Lloyd code). Accepted risk, same class as the PQ/LSH oracles: the
      // per-cell avg sums floats in engine-specific order, so a last-ulp
      // drift at an assignment tie could flip a candidate set; isotropic
      // random doubles make an exact tie ~impossible.
      val e = t(s, d, "embeddings")
      val q = e.filter(col("vec_id") < 10)
      val bf = SimilaritySearch.bruteForceTopK(q, e, "vec_id", "embedding", k = 10)
        .select(col("query_id").cast("long").as("query_id"),
          col("neighbor_id").cast("long").as("neighbor_id"))
      val ivf = SimilaritySearch.ivfTopK(q, e, "vec_id", "embedding",
          k = 10, nlist = 16, nprobe = 4, iters = 2, md5Init = true)
        .select(col("query_id").cast("long").as("query_id"),
          col("neighbor_id").cast("long").as("neighbor_id"), lit(1L).as("hit"))
      bf.join(ivf, Seq("query_id", "neighbor_id"), "left")
        .groupBy(col("query_id"))
        .agg(sum(coalesce(col("hit"), lit(0L))).as("n_matched"))
        .select(col("query_id"), col("n_matched"),
          (col("n_matched") / lit(10.0)).as("recall_at_10"))
        .orderBy(col("query_id"))
    }),

    "ann_pq_topk" -> ((s, d) => {
      // product-quantization ANN: corpus compressed to m=4 codes/vector
      // (32x smaller than the 64-float embeddings), ADC scan over codes,
      // then exact re-rank of the ADC top-32 (bounded equi-join back to
      // vectors) — DuckDB replays encode + ADC + re-rank exactly
      val e = t(s, d, "embeddings")
      SimilaritySearch.pqTopK(e.filter(col("vec_id") < 10), e,
          "vec_id", "embedding", k = 10, m = 4, ncode = 16, rerank = 32)
        .select(col("query_id").cast("long").as("query_id"),
          col("neighbor_id").cast("long").as("neighbor_id"),
          col("rank").cast("long").as("rnk"))
        .orderBy(col("query_id"), col("rnk"))
    }),

    "ann_ivfpq_topk" -> ((s, d) => {
      // the composed FAISS-IVFADC shape: nprobe cell pruning (equi-join,
      // no BNLJ) + ADC over m-int PQ codes + exact re-rank of the top-32.
      // One corpus pass emits (cell, codes); the floats leave the pipeline
      val e = t(s, d, "embeddings")
      SimilaritySearch.ivfPqTopK(e.filter(col("vec_id") < 10), e,
          "vec_id", "embedding", k = 10, nlist = 16, nprobe = 4,
          m = 4, ncode = 16, rerank = 32)
        .select(col("query_id").cast("long").as("query_id"),
          col("neighbor_id").cast("long").as("neighbor_id"),
          col("rank").cast("long").as("rnk"))
        .orderBy(col("query_id"), col("rnk"))
    }),

    "ann_ivf_topk" -> ((s, d) => {
      // hash-deterministic coarse quantizer (md5-smallest ids as centroids)
      // — same one-pass assignment + nprobe equi-join shape as the trained
      // k-means variant (SimilaritySpec covers that one), but every stage is
      // DuckDB-replicable so the driver hash-verifies the index
      val e = t(s, d, "embeddings")
      SimilaritySearch.ivfTopKSeeded(e.filter(col("vec_id") < 10), e,
          "vec_id", "embedding", k = 10, nlist = 16, nprobe = 4)
        .select(col("query_id").cast("long").as("query_id"),
          col("neighbor_id").cast("long").as("neighbor_id"),
          col("rank").cast("long").as("rnk"))
        .orderBy(col("query_id"), col("rnk"))
    }),

    // ---------- text analysis (documents) ----------
    "text_stats" -> ((s, d) => {
      val doc = t(s, d, "documents")
      doc.select(
        col("doc_id").cast("long").as("doc_id"),
        TF.nTokens(col("text")).cast("long").as("n_tokens"),
        length(col("text")).cast("long").as("len_chars"),
        TF.meanTokenLen(col("text")).as("mean_token_len"),
        TF.alphaRatio(col("text")).as("alpha_ratio"))
        .orderBy(col("doc_id"))
    }),

    "text_repetition" -> ((s, d) => {
      // Gopher-style within-doc repetition metrics over the same derived
      // multi-line view as dedup_lines (8-token chunk lines); the 2-gram
      // share is over the full token stream (chunking partitions tokens,
      // so re-tokenizing the view reproduces the original grams)
      val docs = t(s, d, "documents")
      val multi = docs.select(col("doc_id"), TF.chunkLines(col("text"), 8, 8).as("text"))
      graft.operators.CorpusOps.repetitionStats(multi, "doc_id", "text")
        .select(col("doc_id").cast("long").as("doc_id"),
          col("n_lines"), col("dup_line_frac"),
          col("dup_line_char_frac"), col("top_2gram_frac"))
        .orderBy(col("doc_id"))
    }),

    "text_langid" -> ((s, d) =>
      t(s, d, "documents").select(
        col("doc_id").cast("long").as("doc_id"), col("lang"),
        TF.langId(col("text")).as("pred_lang"))
        .orderBy(col("doc_id"))),

    "text_langid_confusion" -> ((s, d) =>
      // gold-vs-predicted confusion matrix: the documents table carries a
      // gold `lang`, so the langid heuristic gets a per-pair error count —
      // the audit a pipeline runs before trusting a language filter
      t(s, d, "documents")
        .select(col("lang").as("gold_lang"), TF.langId(col("text")).as("pred_lang"))
        .groupBy("gold_lang", "pred_lang").agg(count(lit(1)).as("n"))
        .orderBy(col("gold_lang"), col("pred_lang"))),

    "text_fingerprint" -> ((s, d) =>
      t(s, d, "documents").select(
        col("doc_id").cast("long").as("doc_id"),
        TF.fingerprint(col("text")).as("fingerprint"))
        .orderBy(col("doc_id"))),

    "text_bpe_tokens" -> ((s, d) =>
      // REAL merges-table BPE (greedy pair merging, Sennrich 2016 /
      // GPT-2 family) over the committed default table — a codegen
      // expression inside the scan; the oracle replays the identical
      // table with a recursive delimiter-replace CTE
      t(s, d, "documents").select(
        col("doc_id").cast("long").as("doc_id"),
        graft.functions.Bpe.bpeCount(col("text")).as("n_bpe"))
        .orderBy(col("doc_id"))),

    "text_bpe_train" -> ((s, d) =>
      // distributed BPE vocabulary TRAINING (Sennrich 2016) — the
      // complement of text_bpe_tokens' applier: one corpus pass builds a
      // capped word-frequency table, then each merge round is a pair-count
      // hash agg + 1-row argmax + literal replace on the delimiter-encoded
      // symbol strings. The oracle replays every round (12 unrolled
      // count/argmax/replace CTE triples over the same encoding)
      graft.operators.BpeTrain.trainDF(s, t(s, d, "documents"), "text",
          nMerges = 12, maxWords = 2000)
        .select(col("step").cast("long").as("step"), col("x"), col("y"),
          col("merged"), col("cnt").cast("long").as("cnt"))
        .orderBy(col("step"))),

    "text_bpe_e2e" -> ((s, d) => {
      // trainer → applier wired end-to-end: learn the merges table from
      // the corpus (BpeTrain — KB-sized driver artifact by design), then
      // tokenize the SAME corpus with it through the codegen applier
      // kernel. The oracle replays BOTH stages: the unrolled train CTEs
      // (text_bpe_train's) feeding a per-rank double-delimiter apply
      // replay (self-pair-safe, unlike the static table's chr(31) scheme)
      val learned = graft.operators.BpeTrain.train(
        t(s, d, "documents"), "text", nMerges = 12, maxWords = 2000)
      val table = new graft.functions.BpeTable(learned.map(m => (m.x, m.y)))
      t(s, d, "documents").select(
        col("doc_id").cast("long").as("doc_id"),
        graft.functions.Bpe.bpeCount(col("text"), table).as("n_bpe"))
        .orderBy(col("doc_id"))
    }),

    // ---------- multimodal columns ----------
    "mm_media_meta" -> ((s, d) =>
      Multimodal.asMedia(t(s, d, "documents"), "doc_id", "text", "text/plain")
        .select(col("media_id"), col("mime"),
          col("meta.byte_len").cast("long").as("byte_len"),
          col("meta.content_hash").as("content_hash"))
        .orderBy(col("media_id"))),

    "mm_features_stub" -> ((s, d) => {
      val media = Multimodal.asMedia(t(s, d, "documents"), "doc_id", "text", "text/plain")
      Multimodal.extractFeatures(s, media).toDF()
        .select(col("media_id"), col("mime"),
          col("byte_len").cast("long").as("byte_len"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          col("sharpness"))
        .orderBy(col("media_id"))
    }),

    "search_bm25" -> ((s, d) => {
      // inverted-index keyword retrieval: fixed query set over the corpus
      // vocabulary, fixed-point rational-BM25 ranking (Search scaladoc)
      import s.implicits._
      val qs = Seq(
        (1L, "hash"), (1L, "join"), (2L, "window"), (2L, "scan"),
        (3L, "stream"), (3L, "batch"), (3L, "dup"),
        (4L, "sort"), (4L, "merge"), (4L, "join"),
        (5L, "spark"), (5L, "table")).toDF("query_id", "term")
      Search.bm25TopK(t(s, d, "documents"), "doc_id", "text", qs, 10)
        .orderBy(col("query_id"), col("rnk"))
    }),

    "match_fuzzy" -> ((s, d) => {
      // record linkage: plant one deterministic single-char deletion per
      // customer name (position c_custkey % len), then recover the links
      // with the deletion-neighborhood blocking join — same plant-then-
      // prove construction as text_redact
      val names = t(s, d, "customer").select(
        col("c_custkey").cast("long").as("id"), col("c_name").as("name"))
      val p = (col("id") % length(col("name"))) + 1
      val dirty = names.select(col("id"),
        concat(col("name").substr(lit(1), p - 1),
          col("name").substr(p + 1, length(col("name")))).as("name"))
      RecordLinkage.fuzzyJoin(dirty, names, "id", "name")
        .select(col("left_id").as("dirty_id"),
          col("right_id").as("clean_id"), col("dist"))
        .orderBy(col("dirty_id"), col("clean_id"))
    }),

    "events_gap_fill" -> ((s, d) => {
      // densify each sampled user's event stream onto an hourly grid and
      // forward-fill gaps (LOCF) — ns buckets floor-divide identically to
      // the oracle's µs buckets (nested-floor identity)
      val ev = t(s, d, "events")
        .filter(col("user_id") % 10 === 0)
        .select(col("user_id").cast("long").as("user_id"),
          expr("ts_ns div 3600000000000L").as("bucket"), col("value"))
      TimeSeriesOps.gapFill(ev, "user_id", "bucket", "value")
        .orderBy(col("user_id"), col("bucket"))
    }),

    "text_pmi_bigrams" -> ((s, d) =>
      TextMining.pmiBigrams(t(s, d, "documents"), "text", 5L, 30)
        .orderBy(col("rnk"))),

    // ---------- event analytics (funnel / retention / anomaly / markov) ----------

    "events_funnel" -> ((s, d) => {
      import graft.operators.EventAnalytics
      val ev = t(s, d, "events")
        .withColumn("ts_us", expr("ts_ns div 1000"))
      EventAnalytics.funnel(ev, "user_id", "ts_us", Seq(
          "signup" -> (col("event_type") === "signup"),
          "view" -> (col("event_type") === "view"),
          "click" -> (col("event_type") === "click"),
          "purchase" -> (col("event_type") === "purchase")))
        .orderBy(col("step"))
    }),

    "events_retention" -> ((s, d) => {
      import graft.operators.EventAnalytics
      // weekly cohorts on epoch-week buckets; ns and µs floor-divides agree
      // (nested-floor identity, divisor ratio 1000)
      val ev = t(s, d, "events")
        .select(col("user_id"),
          expr("ts_ns div 604800000000000L").as("bucket"))
      EventAnalytics.retention(ev, "user_id", "bucket")
        .select(col("cohort").cast("long").as("cohort"),
          col("offset").cast("long").as("week_offset"),
          col("n_users"))
        .orderBy(col("cohort"), col("week_offset"))
    }),

    "events_anomaly" -> ((s, d) => {
      import graft.operators.EventAnalytics
      // daily spend per event_type in exact decimal; lower-median/MAD flags
      val ev = t(s, d, "events")
        .select(col("event_type"), expr("ts_ns div 86400000000000L").as("day"),
          dec(col("value")).as("v"))
      val daily = ev.groupBy(col("event_type"), col("day"))
        .agg(sum(col("v")).as("total"))
      EventAnalytics.robustAnomalies(daily, Seq("event_type"), "total", "day")
        .select(col("event_type"), col("day").cast("long").as("day"),
          col("total").cast("double").as("total"),
          col("med").cast("double").as("med"),
          col("mad").cast("double").as("mad"),
          col("is_anomaly").cast("long").as("is_anomaly"))
        .orderBy(col("event_type"), col("day"))
    }),

    "events_transitions" -> ((s, d) => {
      import graft.operators.EventAnalytics
      val ev = t(s, d, "events")
        .withColumn("ts_us", expr("ts_ns div 1000"))
      EventAnalytics.transitions(ev, "user_id", "event_type",
          Seq(col("ts_us"), col("event_id")))
        .orderBy(col("from_type"), col("to_type"))
    }),

    "q_exact_group_median" -> ((s, d) => {
      // exact per-group order statistics through the grouped histogram
      // search: every (group, rank) task advances in ONE scan per round,
      // no per-group value buffering (the built-in exact percentile
      // buffers whole groups — a non-answer when one group holds 10^10
      // rows), no sort anywhere
      import graft.operators.ExactQuantiles
      import s.implicits._
      val cents = t(s, d, "orders").select(col("o_orderpriority"),
        (dec(col("o_totalprice")) * 100).cast("long").as("c"))
      val qs = ExactQuantiles.lowerQuantilesGrouped(cents,
        "o_orderpriority", "c", Seq(("p50", 1L, 2L), ("p90", 9L, 10L)))
      qs.collect { case ((g, "p50"), (n, _, p50)) =>
          val (_, _, p90) = qs((g, "p90"))
          (g, n, p50, p50 / 100.0, p90)
        }.toSeq
        .toDF("o_orderpriority", "n_orders", "p50_cents", "p50", "p90_cents")
        .orderBy(col("o_orderpriority"))
    }),

    "q_exact_customer_median" -> ((s, d) => {
      // the UNBOUNDED-group-cardinality quantile path: exact per-customer
      // median order price through the fully-distributed task table
      // (lowerQuantilesGroupedDF — group bounds, histograms, and bucket
      // descent never touch the driver; the 1e5-group law in
      // ExactQuantilesSpec is this code path), rolled up by market
      // segment so the output stays bounded. At 100 TB this is "median
      // basket per customer" over 10^8 customers — the shape the Map API
      // cannot serve.
      import graft.operators.ExactQuantiles
      val o = t(s, d, "orders").select(col("o_custkey"),
        (dec(col("o_totalprice")) * 100).cast("long").as("cents"))
      val med = ExactQuantiles.lowerQuantilesGroupedDF(o, "o_custkey",
        "cents", Seq(("p50", 1L, 2L)))
      val c = t(s, d, "customer").select(
        col("c_custkey").cast("string").as("group"), col("c_mktsegment"))
      med.join(c, "group")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_customers"),
          sum(col("value")).as("sum_median_cents"),
          min(col("value")).as("min_median_cents"),
          max(col("value")).as("max_median_cents"))
        .select(col("c_mktsegment"),
          col("n_customers").cast("long").as("n_customers"),
          col("sum_median_cents").cast("long").as("sum_median_cents"),
          col("min_median_cents").cast("long").as("min_median_cents"),
          col("max_median_cents").cast("long").as("max_median_cents"))
        .orderBy(col("c_mktsegment"))
    }),

    "q_linreg_trend" -> ((s, d) => {
      // OLS spend trend per event type: slope/intercept from EXACT moment
      // sums (x = epoch day, y = integer cents), each sum converted
      // to double ONCE and combined in a pure IEEE expression tree mirrored
      // verbatim in the oracle — the q_stats_agg mergeable-moments pattern
      // (native regr_slope is merge-order-dependent floating point).
      // Moments accumulate in decimal(38,0): with x ~ 2e4 epoch days a
      // LONG sxx wraps around ~2e10 rows per group — DuckDB's BIGINT sum
      // widens to HUGEINT, so the wide accumulator is also what keeps the
      // two engines' exact values identical at any row count.
      val ev = t(s, d, "events").select(col("event_type"),
        expr("ts_ns div 86400000000000L").as("x"),
        (dec(col("value")) * 100).cast("long").as("y"))
      def dbl(c: Column) = c.cast("double")
      def wsum(c: Column) = sum(c.cast("decimal(38,0)"))
      ev.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), wsum(col("x")).as("sx"),
          wsum(col("y")).as("sy"), wsum(col("x") * col("y")).as("sxy"),
          wsum(col("x") * col("x")).as("sxx"))
        .withColumn("slope_cents_per_day",
          (dbl(col("n")) * dbl(col("sxy")) - dbl(col("sx")) * dbl(col("sy"))) /
          (dbl(col("n")) * dbl(col("sxx")) - dbl(col("sx")) * dbl(col("sx"))))
        .select(col("event_type"), col("n"), col("slope_cents_per_day"),
          ((dbl(col("sy")) - col("slope_cents_per_day") * dbl(col("sx"))) /
            dbl(col("n"))).as("icept_cents"))
        .orderBy(col("event_type"))
    }),

    "q_exact_global_median" -> ((s, d) => {
      // exact global order statistics with NO global sort and NO per-group
      // value buffering: histogram-bisection over integer cents — at most
      // ceil(64/16) = 4 B-bounded count-agg passes over a projection
      // that is persisted for the search's duration (read and decoded from
      // parquet exactly once). The grouped API folds the row count into
      // the bounds aggregate, so there is no separate count() scan; the
      // only driver-side rows are the per-round 2-long conservation counts
      // and the 2-quantile result Map.
      import graft.operators.ExactQuantiles
      import s.implicits._
      val cents = t(s, d, "lineitem")
        .select(lit("all").as("g"),
          (dec(col("l_extendedprice")) * 100).cast("long").as("c"))
      val qs = ExactQuantiles.lowerQuantilesGrouped(cents, "g", "c",
        Seq(("p50", 1L, 2L), ("p99", 99L, 100L)))
      qs.toSeq
        .map { case ((_, q), (_, r, v)) => (q, r, v, v / 100.0) }
        .toDF("q", "rnk", "value_cents", "value")
        .orderBy(col("q"))
    }),

    "events_funnel_latency" -> ((s, d) => {
      // step-to-step conversion latency: exact lower p50/p90 per step via
      // the same histogram bisection (no sort, no percentile buffering)
      import graft.operators.{EventAnalytics, ExactQuantiles}
      import s.implicits._
      val ev = t(s, d, "events")
        .withColumn("ts_us", expr("ts_ns div 1000"))
      val steps = Seq(
        "signup" -> (col("event_type") === "signup"),
        "view" -> (col("event_type") === "view"),
        "click" -> (col("event_type") === "click"),
        "purchase" -> (col("event_type") === "purchase"))
      // ALL steps and both quantiles advance through one grouped search:
      // one scan per bisection round total, not per (step, quantile). The
      // latency frame is a single-shuffle window plan; cache it for the
      // bisection's repeated scans and release it on the exit path below.
      val lat = EventAnalytics.funnelLatencies(ev, "user_id", "ts_us", steps)
        .cache()
      val qs = ExactQuantiles.lowerQuantilesGrouped(lat, "step", "latency",
        Seq(("p50", 1L, 2L), ("p90", 9L, 10L)))
      // the grouped search is fully materialized (qs is a driver map), so
      // the latency frame's cache has done its work — release it now
      lat.unpersist(blocking = false)
      val rows = (2 to steps.size).flatMap { k =>
        // a step nobody converted to has no latency rows and no output row
        qs.get((k.toString, "p50")).map { case (n, _, p50) =>
          val (_, _, p90) = qs((k.toString, "p90"))
          (k.toLong, steps(k - 1)._1, n, p50, p90)
        }
      }
      rows.toDF("step", "step_name", "n_users", "p50_us", "p90_us")
        .orderBy(col("step"))
    }),

    "match_entities" -> ((s, d) => {
      // end-to-end entity resolution: decorate each customer name with an
      // md5-prefix suffix (UNIQUE by construction, and non-chaining — two
      // digit-neighbor customers get unrelated suffixes, so cross-entity
      // one-edit links can't arise; raw c_name would digit-chain into one
      // mega-cluster, and part names collapse the other way — only 64
      // distinct p_name values at sf0.1 ⇒ quadratic same-name cliques),
      // plant TWO deletion variants per record in disjoint id spaces,
      // recover links with the deletion-neighborhood fuzzy join, and
      // collapse components with the same pointer-jumping CC as
      // dedup_groups. Entities come out as 3-node clusters whose two
      // variants unify only THROUGH the clean record (their mutual
      // distance is 2) — the part CC actually earns.
      val clean = t(s, d, "customer").select(
        col("c_custkey").cast("long").as("id"),
        concat(col("c_name"), lit("-"),
          substring(md5(col("c_custkey").cast("long").cast("string")), 1, 8))
          .as("name"))
      def delAt(p: Column) = concat(col("name").substr(lit(1), p - 1),
        col("name").substr(p + 1, length(col("name"))))
      val p1 = (col("id") % length(col("name"))) + 1
      val p2 = ((col("id") + 7) % length(col("name"))) + 1
      val dirty1 = clean.select((col("id") + 1000000L).as("id"),
        delAt(p1).as("name"))
      val dirty2 = clean.select((col("id") + 2000000L).as("id"),
        delAt(p2).as("name"))
      val all = clean.unionByName(dirty1).unionByName(dirty2)
      // self-join form: the id_a < id_b canonicalization runs INSIDE the
      // candidate join, so the n·(len+1) self-hits and the mirrored half
      // of the candidate set never reach the distinct/verify stages (the
      // equivalent fuzzyJoin(all, all) + filter shape shuffled ~90M doomed
      // rows at the 100x rehearsal tier)
      val pairs = RecordLinkage.fuzzySelfJoin(all, "id", "name")
      val groups = Dedup.duplicateGroups(pairs, "left_id", "right_id")
        .withColumnRenamed("doc_id", "id")
      all.select(col("id")).join(groups, Seq("id"), "left")
        .select(col("id"),
          coalesce(col("canonical_id"), col("id")).as("entity_id"))
        .orderBy(col("id"))
    }),

    "dedup_incremental_near" -> ((s, d) => {
      // the daily-ingest near-dup gate: the accumulated corpus (doc_id <
      // 400) is indexed ONCE as a bucketed minhash banding table; the
      // ingest delta (doc_id >= 400) pays one sketch pass, probes the
      // index in place (no index-side Exchange), and exact-jaccard
      // verifies the candidates — same (n, k, bands) family as
      // dedup_minhash_lsh, whose full-corpus pair set is oracle-proven a
      // superset, so banding recall carries over to the cross pairs
      val table = indexTable(s, d, "dedup_mh_index", "documents")
      val old = t(s, d, "documents").filter(col("doc_id") < 400)
      if (!s.catalog.tableExists(table))
        Dedup.buildMinhashIndex(old, "doc_id", "text", table,
          n = 3, k = 64, bands = 16)
      val delta = t(s, d, "documents").filter(col("doc_id") >= 400)
      Dedup.incrementalNearDupPairs(delta, old, "doc_id", "text", table,
          n = 3, k = 64, bands = 16, threshold = 0.8)
        .select(col("doc_a").cast("long").as("doc_a"),
          col("doc_b").cast("long").as("doc_b"), col("jaccard"))
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    "dedup_incremental_groups" -> ((s, d) => {
      // the canonical-map MAINTENANCE step of the daily-ingest loop: the
      // accumulated corpus's (doc -> canonical) map and minhash index are
      // persisted tables (staged once, like dedup_incremental_near's
      // index); the ingest delta pays its sketch pass, finds cross + intra
      // pairs, and incrementalGroups folds them into the map touching only
      // the affected components. THE ORACLE IS THE FULL RECOMPUTE: this
      // query's output must hash-equal CC over the whole corpus's pair
      // graph (dedup_groups' replay) — the incremental == full law runs as
      // the correctness gate itself, at sf0.01 and sf0.1.
      val idxTable = indexTable(s, d, "dedup_mh_index", "documents")
      val mapTable = indexTable(s, d, "dedup_groups_map", "documents")
      val old = t(s, d, "documents").filter(col("doc_id") < 400)
      if (!s.catalog.tableExists(idxTable))
        Dedup.buildMinhashIndex(old, "doc_id", "text", idxTable,
          n = 3, k = 64, bands = 16)
      // round 15: the map is a BUCKETED canonical-map table and the fold
      // PERSISTS back via dynamic partition overwrite of the touched
      // pbucket partitions (foldIntoCanonicalMap) —
      // the query now exercises the full maintenance lifecycle
      // (read table -> fold delta -> swap -> read), not just the fold
      // computation. Folding the same delta again is a no-op by
      // incrementalGroups' exactness law, so repeated executions (bench
      // warmup + timed runs) are stable; the oracle stays the full-corpus
      // CC recompute.
      ensureTable(s, mapTable) { tn =>
        Dedup.buildCanonicalMap(
          Dedup.minhashLshPairs(old, "doc_id", "text", 3, 64, 16, 0.8),
          "doc_a", "doc_b", tn)
      }
      val delta = t(s, d, "documents").filter(col("doc_id") >= 400)
      val cross = Dedup.incrementalNearDupPairs(delta, old, "doc_id", "text",
        idxTable, n = 3, k = 64, bands = 16, threshold = 0.8)
      val intra = Dedup.minhashLshPairs(delta, "doc_id", "text",
        3, 64, 16, 0.8)
      Dedup.foldIntoCanonicalMap(mapTable,
        cross.select("doc_a", "doc_b")
          .unionByName(intra.select("doc_a", "doc_b")),
        "doc_a", "doc_b")
      Dedup.openCanonicalMap(s, mapTable)
        .select(col("doc_id").cast("long").as("doc_id"),
          col("canonical_id").cast("long").as("canonical_id"))
        .orderBy(col("doc_id"))
    }),

    "mm_phash_pairs" -> ((s, d) => {
      // image near-dup: every doc renders to a real gray PNG (plus planted
      // transformed duplicates — exact 2x upscale and +4 brightness, both
      // round-tripping the PNG codec), dHash-64 over the decoded pixels,
      // then the SAME pigeonhole band blocking + Hamming verify as
      // dedup_simhash. Recovered pairs are the transform families (and any
      // identical-content renders) — the re-encoded/rescaled-copy shape
      // image dedup actually hunts, not content edits (which land far in
      // gradient space; measured median Hamming ~30 here).
      // the rendered-PNG corpus is a content-fingerprinted FIXTURE, staged
      // once per (sf, source contents) — synthesizing media inside the
      // query put ~5s of PNG encoding into every timed bench run, masking
      // the operator under test (round-9 verdict: the bench measured the
      // synthesizer, not decode→hash→pairs)
      import graft.operators.Multimodal
      val table = indexTable(s, d, "mm_img_corpus", "documents")
      ensureTable(s, table) { tn =>
        // fixture written at cluster width (r17): the source corpus is 1-2
        // scan splits, so an un-repartitioned fixture is 1-2 files and the
        // TIMED decode→hash pass downstream runs on 1-2 tasks; same rows,
        // just enough files for the codec pass to parallelize
        Multimodal.textImageCorpus(s, t(s, d, "documents"), "doc_id", "text")
          .toDF().repartition(s.sparkContext.defaultParallelism)
          .write.format("parquet").saveAsTable(tn)
      }
      val media = s.table(table)
      val fps = Multimodal.imagePhash(s, media).toDF()
      Dedup.fingerprintPairs(fps, "media_id", "phash", maxDist = 6)
        .select(col("doc_a").cast("long").as("id_a"),
          col("doc_b").cast("long").as("id_b"),
          col("hamming").cast("long").as("hamming"))
        .orderBy(col("id_a"), col("id_b"))
    }),

    "mm_audio_fp_pairs" -> ((s, d) => {
      // audio near-dup, completing the multimodal near-dup set (text 14
      // operators, image dHash, now audio): every doc renders to real
      // 16-bit WAV (plus planted duplicate families — a decode→re-encode
      // copy and a half-volume copy, both through javax.sound.sampled),
      // 64-bit energy-gradient fingerprint over the decoded samples, then
      // the same pigeonhole banding + Hamming verify as image/simhash
      // WAV corpus staged as a content-fingerprinted fixture table, exactly
      // as mm_phash_pairs: the in-query md5 audio synthesis dominated the
      // committed baseline (6.96 s — the suite's most expensive query) while
      // the fingerprint+banding operator under test was a fraction of it
      import graft.operators.Multimodal
      val table = indexTable(s, d, "mm_wav_corpus", "documents")
      ensureTable(s, table) { tn =>
        // cluster-width fixture files — same reasoning as mm_phash_pairs
        Multimodal.textAudioCorpus(s, t(s, d, "documents"), "doc_id", "text")
          .toDF().repartition(s.sparkContext.defaultParallelism)
          .write.format("parquet").saveAsTable(tn)
      }
      val media = s.table(table)
      val fps = Multimodal.audioFp(s, media).toDF()
      Dedup.fingerprintPairs(fps, "media_id", "phash", maxDist = 6)
        .select(col("doc_a").cast("long").as("id_a"),
          col("doc_b").cast("long").as("id_b"),
          col("hamming").cast("long").as("hamming"))
        .orderBy(col("id_a"), col("id_b"))
    }),

    "graph_triangles" -> ((s, d) => {
      // exact triangle census of the parts-bought-together graph over the
      // most recent shipping year: co-occurrence edges (orders are the
      // groups, df-capped) + the degree-ordered-orientation count — every
      // stage an equi-join or hash agg, each triangle enumerated once at
      // its minimum-order vertex, integer-exact so DuckDB replays
      // orientation and census. The date slice is the realistic analysis
      // window AND lands as a pushed-down parquet filter; the full-history
      // graph is the same plan at ~12x the wedge volume (exercised by the
      // operator spec's brute-force cross-check instead)
      import graft.operators.Graph
      val li = t(s, d, "lineitem")
        .filter(col("l_shipdate") >= lit("2001-01-01").cast("timestamp"))
        .select(col("l_orderkey"), col("l_partkey"))
      val edges = Graph.cooccurrenceEdges(li, "l_orderkey", "l_partkey",
        maxGroupSize = 64)
      Graph.triangleStats(edges, "a", "b")
    }),

    "graph_local_clustering" -> ((s, d) => {
      // node-level view of the same co-purchase graph: per-part triangle
      // participation + local clustering coefficient (the dense-clique /
      // boilerplate-ring detector), top 100 by embeddedness — one lazy
      // plan, no driver collects, integer-exact counts + one IEEE ratio
      import graft.operators.Graph
      val li = t(s, d, "lineitem")
        .filter(col("l_shipdate") >= lit("2001-01-01").cast("timestamp"))
        .select(col("l_orderkey"), col("l_partkey"))
      val edges = Graph.cooccurrenceEdges(li, "l_orderkey", "l_partkey",
        maxGroupSize = 64)
      Graph.localClustering(edges, "a", "b")
        .select(col("node").cast("long").as("node"), col("degree"),
          col("triangles"), col("lcc"))
        .orderBy(col("triangles").desc, col("node")).limit(100)
    })
  )

  def oracleSql: Map[String, String] = Map(

    "q1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1-l_discount AS DECIMAL(12,2))) AS DOUBLE) AS sum_disc_price,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1-l_discount AS DECIMAL(12,2)) * CAST(1+l_tax AS DECIMAL(12,2))) AS DOUBLE) AS sum_charge,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_price,
        | CAST(SUM(CAST(l_discount AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_disc,
        | COUNT(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '2001-09-01'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q3_top_revenue_orders" ->
      """SELECT o_orderkey,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1-l_discount AS DECIMAL(12,2))) AS DOUBLE) AS revenue,
        | strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate, o_orderpriority
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1999-01-01'
        |  AND l_shipdate > TIMESTAMP '1999-01-01'
        |GROUP BY o_orderkey, o_orderdate, o_orderpriority
        |ORDER BY revenue DESC, o_orderkey LIMIT 10""".stripMargin,

    "q5_region_nation_revenue" ->
      """SELECT n_name,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1-l_discount AS DECIMAL(12,2))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
        |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin,

    "q_window_top_orders" ->
      """SELECT o_custkey, o_orderkey, rn, prev_price FROM (
        |  SELECT o_custkey, o_orderkey,
        |    CAST(row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rn,
        |    lag(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS prev_price
        |  FROM orders) t
        |WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin,

    "q_topk_orders" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 20""".stripMargin,

    "q_setop_customers" ->
      """SELECT CAST(custkey AS BIGINT) AS custkey FROM (
        |  (SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        |   INTERSECT
        |   SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT')
        |  EXCEPT
        |  SELECT o_custkey FROM orders WHERE o_totalprice > 400000.0
        |) t ORDER BY custkey""".stripMargin,

    "q_scalar_functions" ->
      """SELECT CAST(p_partkey AS BIGINT) AS p_partkey,
        | upper(p_name) AS name_upper,
        | CAST(length(p_name) AS BIGINT) AS name_len,
        | substr(p_type, 1, 6) AS type_prefix,
        | p_brand || '/' || p_type AS brand_type,
        | CAST(p_size % 7 AS BIGINT) AS size_mod7,
        | CAST(abs(p_size - 25) AS BIGINT) AS size_dist,
        | sqrt(CAST(p_size AS DOUBLE)) AS size_sqrt
        |FROM part ORDER BY p_partkey""".stripMargin,

    "q_date_rollup" ->
      """SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
        | CAST(month(o_orderdate) AS BIGINT) AS mo,
        | COUNT(*) AS n_orders,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_total
        |FROM orders GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_json_extract" ->
      """SELECT event_type, COUNT(*) AS n_events,
        | CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        | CAST(MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS min_k,
        | CAST(MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q_semi_anti_join" ->
      """WITH wu AS (
        |  SELECT c_mktsegment, COUNT(*) AS n_with_urgent FROM customer
        |  WHERE EXISTS (SELECT 1 FROM orders
        |                WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
        |  GROUP BY c_mktsegment),
        |no_ AS (
        |  SELECT c_mktsegment, COUNT(*) AS n_no_orders FROM customer
        |  WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |  GROUP BY c_mktsegment)
        |SELECT COALESCE(wu.c_mktsegment, no_.c_mktsegment) AS c_mktsegment,
        |  COALESCE(n_with_urgent, 0) AS n_with_urgent,
        |  COALESCE(n_no_orders, 0) AS n_no_orders
        |FROM wu FULL OUTER JOIN no_ ON wu.c_mktsegment = no_.c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin,

    "q_rollup" ->
      """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_total,
        | CAST(grouping(o_orderstatus) AS BIGINT) AS g_status,
        | CAST(grouping(o_orderpriority) AS BIGINT) AS g_priority
        |FROM orders GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
        |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin,

    "q_pivot" ->
      """SELECT CAST(user_id % 10 AS BIGINT) AS cohort,
        | CAST(COUNT(*) FILTER (WHERE event_type = 'click') AS BIGINT) AS n_click,
        | CAST(COUNT(*) FILTER (WHERE event_type = 'error') AS BIGINT) AS n_error,
        | CAST(COUNT(*) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS n_purchase,
        | CAST(COUNT(*) FILTER (WHERE event_type = 'signup') AS BIGINT) AS n_signup,
        | CAST(COUNT(*) FILTER (WHERE event_type = 'view') AS BIGINT) AS n_view
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_distinct_agg" ->
      """SELECT event_type,
        | CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
        | CAST(COUNT(DISTINCT CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS n_keys,
        | COUNT(*) AS n_events
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q_sessionize" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events),
        |m AS (
        |  SELECT user_id, event_id, ts_us,
        |    CASE WHEN lag(ts_us) OVER w IS NULL THEN 1
        |         WHEN ts_us - lag(ts_us) OVER w > 21600000000 THEN 1
        |         ELSE 0 END AS new_sess
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
        |s AS (
        |  SELECT user_id, event_id, ts_us,
        |    SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        |  FROM m)
        |SELECT CAST(user_id AS BIGINT) AS user_id,
        |  CAST(session_id AS BIGINT) AS session_id,
        |  COUNT(*) AS n_events,
        |  CAST(MIN(ts_us) AS BIGINT) AS start_us,
        |  CAST(MAX(ts_us) AS BIGINT) AS end_us
        |FROM s GROUP BY user_id, session_id
        |ORDER BY user_id, session_id""".stripMargin,

    "q_asof_last_purchase" ->
      """WITH u AS (
        |  SELECT event_id, user_id, event_id AS ord, 1 AS side,
        |         CAST(NULL AS BIGINT) AS pid
        |  FROM events WHERE event_type = 'click'
        |  UNION ALL
        |  SELECT event_id, user_id, event_id AS ord, 0 AS side, event_id AS pid
        |  FROM events WHERE event_type = 'purchase'),
        |w AS (
        |  SELECT event_id, user_id, side,
        |    MAX(pid) OVER (PARTITION BY user_id ORDER BY ord, side
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_purchase_id
        |  FROM u)
        |SELECT CAST(event_id AS BIGINT) AS event_id, CAST(user_id AS BIGINT) AS user_id,
        |  CAST(last_purchase_id AS BIGINT) AS last_purchase_id
        |FROM w WHERE side = 1 ORDER BY event_id""".stripMargin,

    "q_topk_agg" ->
      """WITH j AS (
        |  SELECT c.c_mktsegment, o.o_orderkey,
        |    CAST(CAST(o.o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS price
        |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
        |r AS (
        |  SELECT c_mktsegment, o_orderkey, price,
        |    row_number() OVER (PARTITION BY c_mktsegment
        |      ORDER BY price DESC, o_orderkey) AS rnk
        |  FROM j)
        |SELECT c_mktsegment, CAST(rnk AS BIGINT) AS rnk,
        |  CAST(o_orderkey AS BIGINT) AS o_orderkey, price
        |FROM r WHERE rnk <= 3 ORDER BY c_mktsegment, rnk""".stripMargin,

    "q_grouping_sets" ->
      """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders,
        | CAST(grouping(o_orderstatus) AS BIGINT) AS g_status,
        | CAST(grouping(o_orderpriority) AS BIGINT) AS g_priority
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST,
        |  g_status, g_priority""".stripMargin,

    "q_array_functions" ->
      """WITH l AS (
        |  SELECT o_custkey,
        |    list_sort(list(CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE)))
        |      AS prices
        |  FROM orders GROUP BY o_custkey)
        |SELECT CAST(o_custkey AS BIGINT) AS o_custkey,
        |  CAST(len(prices) AS BIGINT) AS n,
        |  prices[1] AS min_price,
        |  prices[-1] AS max_price,
        |  CAST(len(list_filter(prices, p -> p > 200000.0)) AS BIGINT) AS n_big,
        |  list_reduce(prices, (acc, p) -> acc + p) AS sum_via_fold
        |FROM l WHERE len(prices) >= 3 ORDER BY o_custkey""".stripMargin,

    "q_date_functions" ->
      """SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey,
        | CAST(year(o_orderdate) AS BIGINT) AS yr,
        | CAST(quarter(o_orderdate) AS BIGINT) AS qtr,
        | CAST(month(o_orderdate) AS BIGINT) AS mon,
        | CAST(dayofweek(CAST(o_orderdate AS DATE)) + 1 AS BIGINT) AS dow,
        | strftime(o_orderdate, '%Y-%m-%d') AS day_str,
        | CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '1998-12-31') AS BIGINT)
        |   AS days_to_eoy
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "q_lag_lead" ->
      """SELECT CAST(user_id AS BIGINT) AS user_id,
        | CAST(event_id AS BIGINT) AS event_id,
        | CAST(lag(event_id, 1) OVER w AS BIGINT) AS prev_event,
        | CAST(lead(event_id, 1) OVER w AS BIGINT) AS next_event,
        | CAST(ntile(4) OVER w AS BIGINT) AS quartile
        |FROM events WHERE event_type = 'purchase'
        |WINDOW w AS (PARTITION BY user_id ORDER BY event_id)
        |ORDER BY user_id, event_id""".stripMargin,

    "q_cube" ->
      """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders,
        | CAST(grouping(o_orderstatus) AS BIGINT) AS g_status,
        | CAST(grouping(o_orderpriority) AS BIGINT) AS g_priority
        |FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
        |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST,
        |  g_status, g_priority""".stripMargin,

    "q_scalar_subquery" ->
      """SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey,
        | CAST(o_custkey AS BIGINT) AS o_custkey,
        | CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS totalprice
        |FROM orders o
        |WHERE CAST(o_totalprice AS DECIMAL(12,2)) *
        |  (SELECT COUNT(*) FROM orders i WHERE i.o_custkey = o.o_custkey) >
        |  2 * (SELECT SUM(CAST(o_totalprice AS DECIMAL(12,2))) FROM orders i
        |       WHERE i.o_custkey = o.o_custkey)
        |ORDER BY o_orderkey""".stripMargin,

    "q_percentiles" ->
      """SELECT o_orderpriority,
        | quantile_cont(o_totalprice, 0.25) AS p25,
        | quantile_cont(o_totalprice, 0.5) AS p50,
        | quantile_cont(o_totalprice, 0.9) AS p90,
        | COUNT(*) AS n_orders
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "text_normalize" ->
      """SELECT CAST(doc_id AS BIGINT) AS doc_id,
        | md5(regexp_replace(trim(lower(nfc_normalize(text))), '\s+', ' ', 'g')) AS norm_hash,
        | CAST(length(regexp_replace(trim(lower(nfc_normalize(text))), '\s+', ' ', 'g')) AS BIGINT) AS norm_len
        |FROM documents ORDER BY doc_id""".stripMargin,

    "text_quality" ->
      """WITH q AS (
        |  SELECT doc_id,
        |    len(string_split_regex(trim(text), '\s+')) AS n_tokens,
        |    CAST(length(regexp_replace(trim(text), '\s+', '', 'g')) AS DOUBLE)
        |      / len(string_split_regex(trim(text), '\s+')) AS mtl,
        |    CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
        |      / length(text) AS ar
        |  FROM documents)
        |SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |  CAST(n_tokens AS BIGINT) AS n_tokens,
        |  (n_tokens >= 10 AND n_tokens <= 100000
        |   AND mtl >= 2.0 AND mtl <= 12.0 AND ar > 0.5) AS keep
        |FROM q ORDER BY doc_id""".stripMargin,

    "q_range_join" ->
      """WITH spans AS (
        |  SELECT user_id AS span_user, MIN(epoch_us(ts)) AS lo, MAX(epoch_us(ts)) AS hi
        |  FROM events WHERE user_id % 11 = 0 GROUP BY user_id)
        |SELECT CAST(s.span_user AS BIGINT) AS span_user, COUNT(*) AS n_in_span
        |FROM spans s JOIN events e ON epoch_us(e.ts) BETWEEN s.lo AND s.hi
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_tumbling_window" ->
      """SELECT epoch_us(ts) // 86400000000 AS day_bucket, event_type,
        | COUNT(*) AS n_events,
        | CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
        | MIN(value) AS min_value, MAX(value) AS max_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "cdc_parse_entities" ->
      """SELECT CAST(event_id AS BIGINT) AS event_id, event_type,
        | CAST(json_extract_string('{"before": null, "after": ' || props || '}',
        |   '$.after.k') AS BIGINT) AS entity_id
        |FROM events ORDER BY event_id""".stripMargin,

    "cdc_route_fanout" ->
      s"""$oracleRouted
         |SELECT target, event_id, entity_id FROM routed
         |ORDER BY target, event_id""".stripMargin,

    "cdc_dedupe_keep_first" ->
      s"""$oracleRouted
         |SELECT target, entity_id, CAST(MIN(event_id) AS BIGINT) AS first_event_id
         |FROM routed GROUP BY target, entity_id
         |ORDER BY target, entity_id""".stripMargin,

    "cdc_batch_ids" ->
      s"""$oracleRouted,
         |dedup AS (SELECT DISTINCT target, entity_id FROM routed),
         |numbered AS (
         |  SELECT target, entity_id,
         |    row_number() OVER (PARTITION BY target ORDER BY entity_id) AS rn
         |  FROM dedup)
         |SELECT target, CAST(floor((rn-1)/100) AS BIGINT) AS chunk_no,
         |  '[' || string_agg(CAST(entity_id AS VARCHAR), ',' ORDER BY entity_id) || ']' AS ids,
         |  COUNT(*) AS n_ids
         |FROM numbered GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "cdc_ack_audit" ->
      s"""$oracleRouted
         |SELECT event_type,
         |  CAST(COUNT(DISTINCT event_id) AS BIGINT) AS n_records,
         |  COUNT(*) AS n_emitted,
         |  CAST(COUNT(*) / COUNT(DISTINCT event_id) AS BIGINT) AS fanout_degree
         |FROM routed GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q_stats_agg" ->
      """WITH m AS (
        |  SELECT l_returnflag, COUNT(*) AS n,
        |    SUM(CAST(l_quantity AS DECIMAL(12,2))) AS sq,
        |    SUM(CAST(l_quantity AS DECIMAL(12,2)) * CAST(l_quantity AS DECIMAL(12,2))) AS sqq,
        |    SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS sp,
        |    SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_extendedprice AS DECIMAL(12,2))) AS spp,
        |    SUM(CAST(l_quantity AS DECIMAL(12,2)) * CAST(l_extendedprice AS DECIMAL(12,2))) AS sqp
        |  FROM lineitem GROUP BY l_returnflag),
        |d AS (
        |  SELECT l_returnflag, n,
        |    CAST(n AS DOUBLE) AS nd, CAST(sq AS DOUBLE) AS sqd,
        |    CAST(sqq AS DOUBLE) AS sqqd, CAST(sp AS DOUBLE) AS spd,
        |    CAST(spp AS DOUBLE) AS sppd, CAST(sqp AS DOUBLE) AS sqpd
        |  FROM m)
        |SELECT l_returnflag, n,
        |  (nd * sqqd - sqd * sqd) / (nd * (nd - 1.0)) AS var_qty,
        |  sqrt((nd * sqqd - sqd * sqd) / (nd * (nd - 1.0))) AS stddev_qty,
        |  (nd * sqpd - sqd * spd) /
        |    (sqrt(nd * sqqd - sqd * sqd) * sqrt(nd * sppd - spd * spd))
        |    AS corr_qty_price
        |FROM d ORDER BY l_returnflag""".stripMargin,

    "q_in_subquery" ->
      """SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey,
        |  CAST(o_custkey AS BIGINT) AS o_custkey
        |FROM orders
        |WHERE o_custkey IN (SELECT c_custkey FROM customer
        |                    WHERE c_mktsegment = 'MACHINERY')
        |  AND o_orderkey NOT IN (SELECT o_orderkey FROM orders
        |                         WHERE o_orderpriority = '5-LOW')
        |ORDER BY o_orderkey""".stripMargin,

    "q_window_range_frame" ->
      """SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey,
        | CAST(o_custkey AS BIGINT) AS o_custkey,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) OVER w AS DOUBLE) AS trailing_sum,
        | COUNT(*) OVER w AS n_trailing
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey
        |  ORDER BY date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE))
        |  RANGE BETWEEN 30 PRECEDING AND CURRENT ROW)
        |ORDER BY o_orderkey""".stripMargin,

    "q_string_functions" ->
      """SELECT CAST(p_partkey AS BIGINT) AS p_partkey,
        | lpad(p_brand, 12, '*') AS brand_pad,
        | reverse(p_type) AS type_rev,
        | replace(p_type, ' ', '_') AS type_snake,
        | substr(p_name, 1, 8) AS name_left8,
        | split_part(p_type, ' ', 1) AS type_first,
        | regexp_extract(p_name, '^(\w+)', 1) AS name_first_word,
        | CAST(instr(p_name, 'a') AS BIGINT) AS first_a,
        | translate(p_brand, 'B#', 'b-') AS brand_tr
        |FROM part ORDER BY p_partkey""".stripMargin,

    "cdc_compact_state" ->
      s"""$oracleRouted
         |SELECT target, entity_id, CAST(MAX(event_id) AS BIGINT) AS last_event_id
         |FROM routed GROUP BY target, entity_id
         |ORDER BY target, entity_id""".stripMargin,

    "cdc_scd2" ->
      s"""$oracleRouted
         |SELECT entity_id, event_id, event_id AS valid_from,
         |  lead(event_id) OVER w AS valid_to,
         |  lead(event_id) OVER w IS NULL AS is_current
         |FROM routed WHERE target = 't_all'
         |WINDOW w AS (PARTITION BY entity_id ORDER BY event_id)
         |ORDER BY entity_id, event_id""".stripMargin,

    "cdc_apply_changes" ->
      s"""$oracleRouted,
         |b AS (SELECT target, entity_id, MAX(event_id) AS event_id
         |      FROM routed WHERE event_id % 2 = 0 GROUP BY 1, 2),
         |c AS (SELECT target, entity_id, MAX(event_id) AS event_id,
         |        CASE WHEN entity_id % 7 = 0 THEN 'D' ELSE 'U' END AS op
         |      FROM routed WHERE event_id % 2 = 1 GROUP BY 1, 2),
         |kept AS (SELECT b.target, b.entity_id, b.event_id FROM b
         |         LEFT JOIN c ON b.target = c.target
         |           AND b.entity_id = c.entity_id
         |         WHERE c.op IS NULL),
         |ups AS (SELECT target, entity_id, event_id FROM c WHERE op <> 'D')
         |SELECT target, entity_id,
         |  CAST(event_id AS BIGINT) AS last_event_id
         |FROM (SELECT * FROM kept UNION ALL SELECT * FROM ups)
         |ORDER BY target, entity_id""".stripMargin,

    "q_bloom_semi_join" ->
      """SELECT CAST(c_custkey AS BIGINT) AS c_custkey, c_mktsegment
        |FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_custkey = c_custkey AND o_totalprice > 350000.0)
        |ORDER BY c_custkey""".stripMargin,

    "q_approx_percentiles" ->
      """SELECT o_orderpriority, COUNT(*) AS n_orders,
        | true AS approx_within_1pct
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q_sliding_window" ->
      """SELECT epoch_us(ts) // 86400000000 - off AS win_day, event_type,
        | COUNT(*) AS n_events,
        | CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM events CROSS JOIN (VALUES (0), (1)) o(off)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "text_chunks" ->
      """WITH t AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS words
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, words,
        |    unnest(range(0,
        |      1 + CAST(ceil(greatest(len(words) - 32, 0) / 24.0) AS INT))) AS cn
        |  FROM t)
        |SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |  CAST(cn AS BIGINT) AS chunk_no,
        |  md5(array_to_string(words[cn*24 + 1 : cn*24 + 32], ' ')) AS chunk_hash,
        |  CAST(len(words[cn*24 + 1 : cn*24 + 32]) AS BIGINT) AS n_tokens
        |FROM c ORDER BY doc_id, chunk_no""".stripMargin,

    "text_salient_terms" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
        |df AS (SELECT term, COUNT(*) AS df
        |       FROM (SELECT DISTINCT doc_id, term FROM tok) GROUP BY 1),
        |r AS (
        |  SELECT tf.doc_id, tf.term, tf.tf, df.df,
        |    row_number() OVER (PARTITION BY tf.doc_id
        |      ORDER BY tf.tf DESC, df.df, tf.term) AS rnk
        |  FROM tf JOIN df USING (term))
        |SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(rnk AS BIGINT) AS rnk,
        |  term, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df
        |FROM r WHERE rnk <= 5 ORDER BY doc_id, rnk""".stripMargin,

    "q_histogram" ->
      """SELECT CAST(floor(CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE)
        |    / 50000.0) AS BIGINT) AS bucket,
        |  COUNT(*) AS n_orders
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,

    "text_redact" ->
      """WITH w AS (
        |  SELECT doc_id, concat(text, ' contact user',
        |    CAST(doc_id AS VARCHAR), '@example.com or call 555-0',
        |    lpad(CAST(doc_id AS VARCHAR), 4, '0'), ' now') AS t
        |  FROM documents)
        |SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |  CAST(len(regexp_extract_all(t,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT)
        |    AS n_emails,
        |  CAST(len(regexp_extract_all(t, '[0-9]{3}-[0-9]{4,}')) AS BIGINT)
        |    AS n_phones,
        |  md5(regexp_replace(regexp_replace(t,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '[0-9]{3}-[0-9]{4,}', '<PHONE>', 'g')) AS digest
        |FROM w ORDER BY doc_id""".stripMargin,

    "q_window_navigation" ->
      """WITH o AS (
        |  SELECT CAST(o_custkey AS BIGINT) AS custkey,
        |    CAST(o_orderkey AS BIGINT) AS orderkey,
        |    CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS price
        |  FROM orders WHERE o_custkey % 100 = 0)
        |SELECT custkey, orderkey, price,
        |  first_value(price) OVER (PARTITION BY custkey ORDER BY orderkey)
        |    AS first_price,
        |  last_value(price) OVER (PARTITION BY custkey ORDER BY orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |    AS last_price,
        |  nth_value(price, 2) OVER (PARTITION BY custkey ORDER BY orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |    AS second_price,
        |  round(percent_rank() OVER (PARTITION BY custkey
        |    ORDER BY price, orderkey), 6) AS pr,
        |  round(cume_dist() OVER (PARTITION BY custkey
        |    ORDER BY price, orderkey), 6) AS cd
        |FROM o ORDER BY custkey, orderkey""".stripMargin,

    "sample_stratified" ->
      """SELECT lang, CAST(doc_id AS BIGINT) AS doc_id,
        |  CAST(row_number() OVER (PARTITION BY lang
        |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS rank
        |FROM documents
        |QUALIFY rank <= 20
        |ORDER BY lang, rank""".stripMargin,

    "corpus_mix" ->
      """WITH t AS (
        |  SELECT lang, doc_id, md5(CAST(doc_id AS VARCHAR)) AS h,
        |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
        |      AS n_tokens
        |  FROM documents),
        |c AS (
        |  SELECT lang, doc_id, n_tokens,
        |    CAST(coalesce(sum(n_tokens) OVER (PARTITION BY lang
        |      ORDER BY h, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS cum_before
        |  FROM t)
        |SELECT lang, CAST(doc_id AS BIGINT) AS doc_id, n_tokens, cum_before
        |FROM c WHERE cum_before < 2000
        |ORDER BY lang, cum_before, doc_id""".stripMargin,

    // full replay of the quantized bigram LM: same tokenization, add-one
    // smoothing over the 'en' train slice, minCount pruning on the pair
    // table only, binary magnitude via printf('%b') — integer sums both
    // engines reproduce exactly; bits_per_gram is one shared IEEE division
    "corpus_perplexity" ->
      """WITH w AS (SELECT doc_id, lang, string_split_regex(trim(text), '\s+') AS words
        |           FROM documents WHERE length(trim(text)) > 0),
        |bg AS (SELECT doc_id, lang, words[i] AS w1, words[i+1] AS w2
        |       FROM w, LATERAL (SELECT unnest(range(1, len(words))) AS i) r
        |       WHERE len(words) >= 2),
        |bc0 AS (SELECT w1, w2, count(*) AS bc FROM bg WHERE lang = 'en' GROUP BY 1, 2),
        |cc AS (SELECT w1, sum(bc) AS cc FROM bc0 GROUP BY 1),
        |vv AS (SELECT count(DISTINCT w2) AS v FROM bc0),
        |bc AS (SELECT * FROM bc0 WHERE bc >= 2),
        |sc AS (SELECT g.doc_id,
        |         length(printf('%b', CAST(COALESCE(cc.cc, 0) + (SELECT v FROM vv) AS BIGINT))) -
        |         length(printf('%b', CAST(COALESCE(bc.bc, 0) + 1 AS BIGINT))) AS bits
        |       FROM bg g
        |       LEFT JOIN bc ON bc.w1 = g.w1 AND bc.w2 = g.w2
        |       LEFT JOIN cc ON cc.w1 = g.w1),
        |agg AS (SELECT doc_id, count(*) AS n_grams, sum(bits) AS total_bits
        |        FROM sc GROUP BY 1)
        |SELECT d.doc_id, CAST(COALESCE(a.n_grams, 0) AS BIGINT) AS n_grams,
        |  CAST(COALESCE(a.total_bits, 0) AS BIGINT) AS total_bits,
        |  CAST(a.total_bits AS DOUBLE) / CAST(a.n_grams AS DOUBLE) AS bits_per_gram
        |FROM documents d LEFT JOIN agg a ON a.doc_id = d.doc_id
        |ORDER BY d.doc_id""".stripMargin,

    // unrolled 3-iteration replay of the integer recurrence: contributions
    // are BIGINT floor division (`//` = Spark's `div` on positives), so
    // every intermediate mass is an exact integer in both engines
    "graph_authority" ->
      """WITH p AS (SELECT DISTINCT 'c' || CAST(o.o_custkey AS VARCHAR) AS c,
        |                  's' || CAST(l.l_suppkey AS VARCHAR) AS s
        |           FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey),
        |e AS (SELECT c AS src, s AS dst FROM p UNION SELECT s, c FROM p),
        |n AS (SELECT DISTINCT src AS node FROM e UNION SELECT DISTINCT dst FROM e),
        |od AS (SELECT src, count(*) AS deg FROM e GROUP BY 1),
        |r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS mass FROM n),
        |r1 AS (SELECT n.node, 150000 + COALESCE(q.x, 0) AS mass FROM n LEFT JOIN
        |  (SELECT e.dst AS node, sum((r.mass * 85) // (100 * od.deg)) AS x
        |   FROM e JOIN r0 r ON r.node = e.src JOIN od ON od.src = e.src
        |   GROUP BY 1) q ON q.node = n.node),
        |r2 AS (SELECT n.node, 150000 + COALESCE(q.x, 0) AS mass FROM n LEFT JOIN
        |  (SELECT e.dst AS node, sum((r.mass * 85) // (100 * od.deg)) AS x
        |   FROM e JOIN r1 r ON r.node = e.src JOIN od ON od.src = e.src
        |   GROUP BY 1) q ON q.node = n.node),
        |r3 AS (SELECT n.node, 150000 + COALESCE(q.x, 0) AS mass FROM n LEFT JOIN
        |  (SELECT e.dst AS node, sum((r.mass * 85) // (100 * od.deg)) AS x
        |   FROM e JOIN r2 r ON r.node = e.src JOIN od ON od.src = e.src
        |   GROUP BY 1) q ON q.node = n.node)
        |SELECT node, CAST(mass AS BIGINT) AS mass FROM r3
        |ORDER BY mass DESC, node LIMIT 100""".stripMargin,

    // exact replay of the degree-ordered-orientation triangle census:
    // same df-cap on order groups, same string casts, same (deg, id)
    // row-value orientation order, same min-vertex wedge enumeration
    "graph_triangles" ->
      """WITH g AS (SELECT DISTINCT l_orderkey AS g, l_partkey AS i
        |    FROM lineitem WHERE l_shipdate >= TIMESTAMP '2001-01-01'),
        |small AS (SELECT g FROM g GROUP BY g HAVING count(*) <= 64),
        |kept AS (SELECT g.g, g.i FROM g JOIN small USING (g)),
        |e AS (SELECT DISTINCT a.i AS a, b.i AS b
        |      FROM kept a JOIN kept b ON a.g = b.g AND a.i < b.i),
        |deg AS (SELECT n, count(*) AS d FROM (
        |    SELECT a AS n FROM e UNION ALL SELECT b FROM e) GROUP BY n),
        |o AS (SELECT
        |    CASE WHEN (da.d, e.a) < (db.d, e.b) THEN e.a ELSE e.b END AS u,
        |    CASE WHEN (da.d, e.a) < (db.d, e.b) THEN e.b ELSE e.a END AS v
        |  FROM e JOIN deg da ON da.n = e.a JOIN deg db ON db.n = e.b),
        |onb AS (SELECT o.u, o.v, deg.d AS dv FROM o JOIN deg ON deg.n = o.v),
        |w AS (SELECT x.v AS x, y.v AS y
        |      FROM onb x JOIN onb y ON x.u = y.u
        |      WHERE (x.dv, x.v) < (y.dv, y.v)),
        |tri AS (SELECT count(*) AS t FROM w
        |        WHERE EXISTS (SELECT 1 FROM o WHERE o.u = w.x AND o.v = w.y)),
        |st AS (SELECT count(*) AS nn,
        |    coalesce(sum(d * (d - 1)), 0) // 2 AS nw FROM deg),
        |ne AS (SELECT count(*) AS m FROM e)
        |SELECT CAST(st.nn AS BIGINT) AS n_nodes, CAST(ne.m AS BIGINT) AS n_edges,
        |  CAST(st.nw AS BIGINT) AS n_wedges, CAST(tri.t AS BIGINT) AS n_triangles,
        |  CASE WHEN st.nw = 0 THEN 0.0
        |       ELSE 3.0 * CAST(tri.t AS DOUBLE) / CAST(st.nw AS DOUBLE)
        |  END AS clustering
        |FROM st, ne, tri""".stripMargin,

    // node-level replay: each enumerated triangle credits all three
    // corners; lcc = 2*T / (d*(d-1)) in the same IEEE tree as the engine
    "graph_local_clustering" ->
      """WITH g AS (SELECT DISTINCT l_orderkey AS g, l_partkey AS i
        |    FROM lineitem WHERE l_shipdate >= TIMESTAMP '2001-01-01'),
        |small AS (SELECT g FROM g GROUP BY g HAVING count(*) <= 64),
        |kept AS (SELECT g.g, g.i FROM g JOIN small USING (g)),
        |e AS (SELECT DISTINCT a.i AS a, b.i AS b
        |      FROM kept a JOIN kept b ON a.g = b.g AND a.i < b.i),
        |deg AS (SELECT n, count(*) AS d FROM (
        |    SELECT a AS n FROM e UNION ALL SELECT b FROM e) GROUP BY n),
        |o AS (SELECT
        |    CASE WHEN (da.d, e.a) < (db.d, e.b) THEN e.a ELSE e.b END AS u,
        |    CASE WHEN (da.d, e.a) < (db.d, e.b) THEN e.b ELSE e.a END AS v
        |  FROM e JOIN deg da ON da.n = e.a JOIN deg db ON db.n = e.b),
        |onb AS (SELECT o.u, o.v, deg.d AS dv FROM o JOIN deg ON deg.n = o.v),
        |tr AS (SELECT w.u, w.x, w.y FROM (
        |    SELECT x.u, x.v AS x, x.dv AS dx, y.v AS y, y.dv AS dy
        |    FROM onb x JOIN onb y ON x.u = y.u
        |    WHERE (x.dv, x.v) < (y.dv, y.v)) w
        |  WHERE EXISTS (SELECT 1 FROM o WHERE o.u = w.x AND o.v = w.y)),
        |pn AS (SELECT n, count(*) AS t FROM (
        |    SELECT u AS n FROM tr UNION ALL SELECT x FROM tr
        |    UNION ALL SELECT y FROM tr) GROUP BY n)
        |SELECT CAST(deg.n AS BIGINT) AS node, CAST(deg.d AS BIGINT) AS degree,
        |  CAST(coalesce(pn.t, 0) AS BIGINT) AS triangles,
        |  CASE WHEN deg.d < 2 THEN 0.0
        |       ELSE 2.0 * CAST(coalesce(pn.t, 0) AS DOUBLE)
        |            / CAST(deg.d * (deg.d - 1) AS DOUBLE)
        |  END AS lcc
        |FROM deg LEFT JOIN pn ON pn.n = deg.n
        |ORDER BY triangles DESC, node LIMIT 100""".stripMargin,

    // replays the one-pass audit as FILTERed counts + the anti-join row;
    // every metric is an exact integer, every verdict an integer BETWEEN
    "dq_audit" ->
      """WITH a AS (SELECT count(*) AS m0,
        |    count(*) FILTER (WHERE doc_id IS NULL) AS m1,
        |    count(doc_id) - count(DISTINCT doc_id) AS m2,
        |    count(*) FILTER (WHERE text IS NULL) AS m3,
        |    count(*) FILTER (WHERE regexp_matches(text, '^\s*$')) AS m4,
        |    count(*) FILTER (WHERE lang IS NOT NULL
        |      AND lang NOT IN ('de','en','es','fr','zh')) AS m5,
        |    count(*) FILTER (WHERE n_chars IS NOT NULL
        |      AND (n_chars < 1 OR n_chars > 1000000)) AS m6
        |  FROM documents),
        |rf AS (SELECT count(*) AS v FROM lineitem l
        |       LEFT JOIN orders o ON o.o_orderkey = l.l_orderkey
        |       WHERE o.o_orderkey IS NULL),
        |r AS (
        |  SELECT 'row_count' AS chk, '*' AS col, m0 AS obs,
        |    1 AS lo, 9223372036854775807 AS hi FROM a
        |  UNION ALL SELECT 'null_count', 'doc_id', m1, 0, 0 FROM a
        |  UNION ALL SELECT 'duplicate_count', 'doc_id', m2, 0, 0 FROM a
        |  UNION ALL SELECT 'null_count', 'text', m3, 0, 0 FROM a
        |  UNION ALL SELECT 'matching_count', 'text', m4, 0, 0 FROM a
        |  UNION ALL SELECT 'set_violations', 'lang', m5, 0, 0 FROM a
        |  UNION ALL SELECT 'bound_violations', 'n_chars', m6, 0, 0 FROM a
        |  UNION ALL SELECT 'referential_violations', 'l_orderkey', v, 0, 0 FROM rf)
        |SELECT chk AS "check", col AS "column",
        |  CAST(obs AS BIGINT) AS observed, CAST(lo AS BIGINT) AS lo,
        |  CAST(hi AS BIGINT) AS hi, obs BETWEEN lo AND hi AS pass
        |FROM r ORDER BY "check", "column"""".stripMargin,

    // plain one-window replay of the two-phase cap (the phases exist for
    // skew, not semantics — the result is the per-source top-40 either way)
    "corpus_domain_cap" ->
      """SELECT source, doc_id, n_chars, CAST(rank AS BIGINT) AS rank
        |FROM (SELECT source, doc_id, n_chars, row_number() OVER
        |        (PARTITION BY source ORDER BY n_chars DESC, doc_id) AS rank
        |      FROM documents)
        |WHERE rank <= 40 ORDER BY source, rank""".stripMargin,

    // integer replay of the PPS keep rule in HUGEINT (the products exceed
    // BIGINT); Spark computes the same integers in DECIMAL(38,0)
    "sample_weighted" ->
      """WITH m AS (SELECT max(n_chars) AS wmax FROM documents)
        |SELECT doc_id, n_chars,
        |  CAST(CAST(concat('0x', substr(md5('pps-v1|' || CAST(doc_id AS VARCHAR)),
        |       1, 15)) AS BIGINT) AS HUGEINT) * 2 * (SELECT wmax FROM m)
        |    < CAST(n_chars AS HUGEINT) * 1 * CAST(1152921504606846976 AS HUGEINT)
        |    AS keep
        |FROM documents ORDER BY doc_id""".stripMargin,

    // replays the salted md5 60-bit bucket assignment and the audit rollup
    "corpus_split" ->
      """WITH s AS (SELECT lang, n_chars,
        |  CASE WHEN b < 10 THEN 'val' WHEN b < 20 THEN 'test'
        |       ELSE 'train' END AS split
        |  FROM (SELECT lang, n_chars,
        |          CAST(concat('0x', substr(md5('split-v1|' ||
        |            CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 AS b
        |        FROM documents))
        |SELECT split, lang, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM s GROUP BY 1, 2 ORDER BY split, lang""".stripMargin,

    "corpus_shard" ->
      """WITH t AS (SELECT doc_id,
        |  CAST(concat('0x', substr(md5('shard-v1|' ||
        |    CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
        |  FROM documents)
        |SELECT CAST(doc_id AS BIGINT) AS doc_id, h % 8 AS shard,
        |  CAST(row_number() OVER (PARTITION BY h % 8
        |    ORDER BY h, doc_id) AS BIGINT) AS pos
        |FROM t ORDER BY shard, pos""".stripMargin,

    // bit-exact Morton replay: disjoint bit positions make OR == SUM, so
    // each dimension's spread bits are a list_sum comprehension
    "q_zorder_curve" ->
      """WITH t AS (SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
        |  list_sum([((CAST(least(greatest(l_partkey, 0), 65535) AS BIGINT)
        |      >> j) & 1) << (2*j) FOR j IN range(0, 16)])
        |  + list_sum([((CAST(least(greatest(l_suppkey, 0), 65535) AS BIGINT)
        |      >> j) & 1) << (2*j + 1) FOR j IN range(0, 16)]) AS z
        |  FROM lineitem)
        |SELECT CAST(l_orderkey AS BIGINT) AS l_orderkey,
        |  CAST(l_linenumber AS BIGINT) AS l_linenumber,
        |  CAST(l_partkey AS BIGINT) AS l_partkey,
        |  CAST(l_suppkey AS BIGINT) AS l_suppkey, CAST(z AS BIGINT) AS z
        |FROM t ORDER BY z, l_orderkey, l_linenumber LIMIT 100""".stripMargin,

    // full arithmetic replay of the Skilling AxesToTranspose passes — the
    // inverse-undo loop unrolled into 15 chained CTEs (lateral aliases get
    // per-iteration names: a bare `xa` would resolve to the PREVIOUS CTE's
    // column, not the new alias), the Gray-pass XOR accumulator in closed
    // form (bit c of t = parity of popcount(y >> (c+1))), then the
    // transposed-bit interleave
    "q_hilbert_curve" -> hilbertOracle16,

    "corpus_global_order" ->
      """WITH t AS (SELECT doc_id,
        |  CAST(concat('0x', substr(md5('order-v1|' ||
        |    CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
        |  FROM documents)
        |SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |  CAST(row_number() OVER (ORDER BY h, doc_id) AS BIGINT) AS gpos
        |FROM t ORDER BY gpos""".stripMargin,

    // full replay of the quantized-DSIR pipeline: same md5 60-bit gram hash
    // and bucket modulo, binary magnitude via printf('%b') string length
    // (exact-integer floor(log2)+1 — no float ln anywhere on either engine)
    "corpus_importance" ->
      """WITH w AS (
        |  SELECT doc_id, lang,
        |    CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
        |         ELSE string_split_regex(trim(text), '\s+') END AS w
        |  FROM documents),
        |dg AS (
        |  SELECT doc_id, lang,
        |    unnest(w || [array_to_string(w[i:i+1], ' ')
        |                 FOR i IN range(1, len(w))]) AS g
        |  FROM w),
        |db AS (
        |  SELECT doc_id, lang,
        |    CAST(concat('0x', substr(md5(g), 1, 15)) AS BIGINT) % 4096 AS b
        |  FROM dg),
        |rb AS (SELECT b, count(*) AS c FROM db GROUP BY b),
        |tb AS (SELECT b, count(*) AS c FROM db WHERE lang = 'fr' GROUP BY b),
        |consts AS (SELECT
        |  length(printf('%b', CAST((SELECT COALESCE(sum(c), 0) FROM rb)
        |    + 4096 AS BIGINT))) -
        |  length(printf('%b', CAST((SELECT COALESCE(sum(c), 0) FROM tb)
        |    + 4096 AS BIGINT))) AS off),
        |lw AS (
        |  SELECT rb.b,
        |    length(printf('%b', CAST(COALESCE(tb.c, 0) + 1 AS BIGINT))) -
        |    length(printf('%b', CAST(rb.c + 1 AS BIGINT))) AS lwt
        |  FROM rb LEFT JOIN tb USING (b)),
        |sc AS (
        |  SELECT doc_id, count(*) AS n_grams, sum(lwt) AS s
        |  FROM db JOIN lw USING (b) GROUP BY doc_id)
        |SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
        |  CAST(COALESCE(sc.n_grams, 0) AS BIGINT) AS n_grams,
        |  CAST(COALESCE(sc.s + sc.n_grams * (SELECT off FROM consts), 0)
        |    AS BIGINT) AS llr2
        |FROM documents d LEFT JOIN sc ON d.doc_id = sc.doc_id
        |ORDER BY doc_id""".stripMargin,

    "text_decontaminate" ->
      """WITH t AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS words
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, unnest(list_distinct(CASE WHEN len(words) < 8
        |    THEN [array_to_string(words, ' ')]
        |    ELSE [array_to_string(words[i:i+7], ' ')
        |          FOR i IN range(1, len(words) - 6)]
        |    END)) AS gram
        |  FROM t),
        |e AS (SELECT DISTINCT gram FROM g WHERE doc_id % 25 = 0)
        |SELECT CAST(g.doc_id AS BIGINT) AS doc_id,
        |  CAST(count(DISTINCT g.gram) AS BIGINT) AS n_shared
        |FROM g JOIN e USING (gram) WHERE g.doc_id % 25 <> 0
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // the bloom prefilter is invisible to the result (one-sided error +
    // exact verify), so the oracle is the plain n-gram decontamination
    // replay at n=6 over the %20 eval slice
    "corpus_decontaminate_bloom" ->
      """WITH t AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS words
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, unnest(list_distinct(CASE WHEN len(words) < 6
        |    THEN [array_to_string(words, ' ')]
        |    ELSE [array_to_string(words[i:i+5], ' ')
        |          FOR i IN range(1, len(words) - 4)]
        |    END)) AS gram
        |  FROM t),
        |e AS (SELECT DISTINCT gram FROM g WHERE doc_id % 20 = 0)
        |SELECT CAST(g.doc_id AS BIGINT) AS doc_id,
        |  CAST(count(DISTINCT g.gram) AS BIGINT) AS n_shared
        |FROM g JOIN e USING (gram) WHERE g.doc_id % 20 <> 0
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "pack_sequences" ->
      """WITH RECURSIVE t AS (
        |  SELECT lang, doc_id,
        |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
        |      AS toks,
        |    row_number() OVER (PARTITION BY lang ORDER BY doc_id) AS rn
        |  FROM documents),
        |p AS (
        |  SELECT lang, doc_id, toks, rn, CAST(0 AS BIGINT) AS bin_id,
        |    toks AS fill
        |  FROM t WHERE rn = 1
        |  UNION ALL
        |  SELECT t.lang, t.doc_id, t.toks, t.rn,
        |    CASE WHEN p.fill + t.toks > 512 THEN p.bin_id + 1
        |         ELSE p.bin_id END,
        |    CASE WHEN p.fill + t.toks > 512 THEN t.toks
        |         ELSE p.fill + t.toks END
        |  FROM t JOIN p ON t.lang = p.lang AND t.rn = p.rn + 1)
        |SELECT lang, CAST(doc_id AS BIGINT) AS doc_id, toks AS n_tokens,
        |  bin_id
        |FROM p ORDER BY lang, doc_id""".stripMargin,

    "dedup_simhash" ->
      """WITH t AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS words
        |  FROM documents),
        |th AS (
        |  SELECT doc_id,
        |    CAST(concat('0x', substr(md5(tok), 1, 15)) AS BIGINT) AS h
        |  FROM (SELECT doc_id, unnest(words) AS tok FROM t)),
        |bits AS (
        |  SELECT doc_id, bs.b AS b,
        |    sum(CASE WHEN ((h >> bs.b) & 1) = 1 THEN 1 ELSE -1 END) AS v
        |  FROM th, (SELECT unnest(range(60)) AS b) bs
        |  GROUP BY 1, 2),
        |fp AS (
        |  SELECT doc_id,
        |    CAST(sum(CASE WHEN v > 0 THEN CAST(1 AS BIGINT) << b ELSE 0 END)
        |      AS BIGINT) AS fp
        |  FROM bits GROUP BY 1)
        |SELECT CAST(a.doc_id AS BIGINT) AS doc_a,
        |  CAST(b2.doc_id AS BIGINT) AS doc_b,
        |  CAST(bit_count(xor(a.fp, b2.fp)) AS BIGINT) AS hamming
        |FROM fp a JOIN fp b2 ON a.doc_id < b2.doc_id
        |WHERE bit_count(xor(a.fp, b2.fp)) <= 3
        |ORDER BY doc_a, doc_b""".stripMargin,

    "text_winnow" -> winnowFpOracle,

    // containment over the same winnow fingerprint sets: df-capped inverted
    // index join, per-(a,b) overlap count / |A's informative fingerprints|
    "dedup_containment" ->
      s"""WITH wfp AS ($winnowFpOracle),
         |dfc AS (SELECT fp, count(*) AS docs FROM wfp GROUP BY fp),
         |rare AS (
         |  SELECT w.doc_id, w.fp FROM wfp w
         |  JOIN dfc ON dfc.fp = w.fp WHERE dfc.docs <= 20),
         |denom AS (SELECT doc_id, count(*) AS n_fp_a FROM rare GROUP BY doc_id),
         |pair AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
         |  FROM rare a JOIN rare b ON a.fp = b.fp AND a.doc_id <> b.doc_id
         |  GROUP BY 1, 2),
         |c AS (
         |  SELECT pair.doc_a, pair.doc_b, pair.n_common,
         |    CAST(pair.n_common AS DOUBLE) / CAST(denom.n_fp_a AS DOUBLE)
         |      AS containment
         |  FROM pair JOIN denom ON denom.doc_id = pair.doc_a)
         |SELECT CAST(doc_a AS BIGINT) AS doc_a, CAST(doc_b AS BIGINT) AS doc_b,
         |  CAST(n_common AS BIGINT) AS n_common, containment
         |FROM c WHERE containment >= 0.8 ORDER BY doc_a, doc_b""".stripMargin,

    // the corpus-level complement of dedup_containment: per-source distinct
    // winnow sets → pairwise shared-fingerprint counts + set Jaccard (one
    // integer division, bit-exact across engines)
    "corpus_overlap_matrix" ->
      s"""WITH wfp AS ($winnowFpOracle),
         |sf AS (SELECT DISTINCT d.source AS src, w.fp
         |       FROM wfp w JOIN documents d ON d.doc_id = w.doc_id),
         |denom AS (SELECT src, count(*) AS n_fp FROM sf GROUP BY src),
         |pair AS (SELECT a.src AS src_a, b.src AS src_b, count(*) AS n_shared
         |         FROM sf a JOIN sf b ON a.fp = b.fp AND a.src < b.src
         |         GROUP BY 1, 2)
         |SELECT pair.src_a, pair.src_b, pair.n_shared,
         |  da.n_fp AS n_fp_a, db.n_fp AS n_fp_b,
         |  CAST(pair.n_shared AS DOUBLE) /
         |    CAST(da.n_fp + db.n_fp - pair.n_shared AS DOUBLE) AS jaccard
         |FROM pair
         |JOIN denom da ON da.src = pair.src_a
         |JOIN denom db ON db.src = pair.src_b
         |ORDER BY src_a, src_b""".stripMargin,

    // replays tokenization → bigram list → exact counts; the MG sketch is
    // a candidate generator whose guarantee makes the engine output exact,
    // so the oracle needs no sketch at all
    "text_heavy_hitters" ->
      """WITH w AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS words
        |           FROM documents WHERE length(trim(text)) > 0),
        |bg AS (SELECT array_to_string(words[i:i+1], ' ') AS gram
        |       FROM w, LATERAL (SELECT unnest(range(1, len(words))) AS i) r
        |       WHERE len(words) >= 2)
        |SELECT gram, count(*) AS cnt FROM bg GROUP BY gram
        |HAVING count(*) >= 35 ORDER BY cnt DESC, gram""".stripMargin,

    // rebuilds the 4x256 Count-Min table cell-for-cell from the shared
    // md5 60-bit bucket family, then replays probe hashing + min-over-rows
    "q_cms_freq" ->
      """WITH w AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS words
        |           FROM documents WHERE length(trim(text)) > 0),
        |bg AS (SELECT doc_id, array_to_string(words[i:i+1], ' ') AS gram
        |       FROM w, LATERAL (SELECT unnest(range(1, len(words))) AS i) r
        |       WHERE len(words) >= 2),
        |ds AS (SELECT unnest(range(4)) AS d),
        |tbl AS (SELECT d,
        |          CAST(concat('0x', substr(md5('cms' || CAST(d AS VARCHAR) || '|' || gram),
        |            1, 15)) AS BIGINT) % 256 AS bucket,
        |          count(*) AS cnt
        |        FROM bg CROSS JOIN ds GROUP BY 1, 2),
        |probes AS (SELECT DISTINCT gram FROM bg WHERE doc_id % 250 = 0),
        |pb AS (SELECT gram, d,
        |         CAST(concat('0x', substr(md5('cms' || CAST(d AS VARCHAR) || '|' || gram),
        |           1, 15)) AS BIGINT) % 256 AS bucket
        |       FROM probes CROSS JOIN ds),
        |est AS (SELECT pb.gram, min(tbl.cnt) AS est_count FROM pb
        |        JOIN tbl ON tbl.d = pb.d AND tbl.bucket = pb.bucket GROUP BY 1),
        |ex AS (SELECT gram, count(*) AS exact_count FROM bg
        |       WHERE gram IN (SELECT gram FROM probes) GROUP BY 1)
        |SELECT est.gram, est.est_count, ex.exact_count
        |FROM est JOIN ex ON est.gram = ex.gram ORDER BY est.gram""".stripMargin,

    "text_top_ngrams" ->
      """WITH sh AS (
  |  SELECT doc_id, unnest(list_distinct(CASE WHEN len(words) < 2
        |    THEN [array_to_string(words, ' ')]
        |    ELSE [array_to_string(words[i:i+1], ' ') FOR i IN range(1, len(words))]
        |    END)) AS ngram
        |  FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS words
        |        FROM documents) t)
        |SELECT ngram, COUNT(*) AS df FROM sh GROUP BY ngram
        |ORDER BY df DESC, ngram LIMIT 20""".stripMargin,

    "dedup_incremental" ->
      """SELECT CAST(doc_id AS BIGINT) AS doc_id FROM documents d
        |WHERE doc_id >= 250 AND NOT EXISTS (
        |  SELECT 1 FROM documents c
        |  WHERE c.doc_id < 250 AND md5(c.text) = md5(d.text))
        |ORDER BY doc_id""".stripMargin,

    "dedup_exact" ->
      """SELECT md5(text) AS content_hash,
        | CAST(MIN(doc_id) AS BIGINT) AS canonical_id,
        | COUNT(*) AS n_copies
        |FROM documents GROUP BY md5(text) ORDER BY content_hash""".stripMargin,

    // replays the chunk-line view (text_chunks' 8/8 slicing), distinct-doc
    // line df, the > maxDf heavy-hitter drop, and the order-preserving
    // md5(rebuilt text); all-dropped docs keep md5('')
    "dedup_lines" ->
      """WITH t AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS words
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, words,
        |    unnest(range(0,
        |      1 + CAST(ceil(greatest(len(words) - 8, 0) / 8.0) AS INT))) AS cn
        |  FROM t),
        |lines AS (
        |  SELECT doc_id, cn AS pos,
        |    array_to_string(words[cn*8 + 1 : cn*8 + 8], ' ') AS line
        |  FROM c),
        |hv AS (
        |  SELECT line FROM (SELECT DISTINCT doc_id, line FROM lines)
        |  GROUP BY line HAVING COUNT(*) > 2),
        |kept AS (
        |  SELECT * FROM lines WHERE line NOT IN (SELECT line FROM hv)),
        |tot AS (SELECT doc_id, COUNT(*) AS n_lines FROM lines GROUP BY 1),
        |reb AS (
        |  SELECT doc_id,
        |    md5(string_agg(line, chr(10) ORDER BY pos)) AS clean_hash,
        |    COUNT(*) AS n_kept
        |  FROM kept GROUP BY 1)
        |SELECT CAST(tot.doc_id AS BIGINT) AS doc_id,
        |  coalesce(reb.clean_hash, md5('')) AS clean_hash,
        |  CAST(coalesce(reb.n_kept, 0) AS BIGINT) AS n_kept,
        |  CAST(tot.n_lines - coalesce(reb.n_kept, 0) AS BIGINT) AS n_dropped
        |FROM tot LEFT JOIN reb USING (doc_id) ORDER BY doc_id""".stripMargin,

    // SemDeDup replay: seeded centroids + assignment exactly as the
    // ann_ivf_topk oracle, then within-cell pairs filtered by exact cosine
    // (float boundary accepted as in dedup_embedding)
    // exact replay of the repeated-substring span pipeline: same md5 60-bit
    // gram hash, same >= minCount repeat rule, same overlap/abut merge via
    // a running max-end window
    "dedup_substrings" ->
      """WITH t AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS words
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, unnest(range(0, len(words) - 7)) AS p, words FROM t),
        |h AS (
        |  SELECT doc_id, p,
        |    CAST(concat('0x', substr(md5(
        |      array_to_string(words[p+1 : p+8], ' ')), 1, 15)) AS BIGINT) AS h
        |  FROM g),
        |rep AS (SELECT h FROM h GROUP BY h HAVING count(*) >= 2),
        |m AS (SELECT doc_id, p FROM h JOIN rep USING (h)),
        |s AS (
        |  SELECT doc_id, p,
        |    CASE WHEN max(p + 8) OVER (PARTITION BY doc_id ORDER BY p
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
        |      OR p > max(p + 8) OVER (PARTITION BY doc_id ORDER BY p
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |    THEN 1 ELSE 0 END AS brk
        |  FROM m),
        |grp AS (
        |  SELECT doc_id, p, sum(brk) OVER (PARTITION BY doc_id ORDER BY p
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
        |  FROM s)
        |SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |  CAST(min(p) AS BIGINT) AS span_start,
        |  CAST(max(p) + 8 AS BIGINT) AS span_end,
        |  CAST(max(p) + 8 - min(p) AS BIGINT) AS span_tokens
        |FROM grp GROUP BY doc_id, grp
        |ORDER BY doc_id, span_start""".stripMargin,

    "dedup_semantic" ->
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |cent AS (
        |  SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)),
        |      CAST(vec_id AS VARCHAR)) - 1 AS cell,
        |    e, sqrt(list_dot_product(e, e)) AS nrm
        |  FROM (SELECT vec_id, e FROM v
        |        ORDER BY md5(CAST(vec_id AS VARCHAR)), CAST(vec_id AS VARCHAR)
        |        LIMIT 16)),
        |sc AS (
        |  SELECT v.vec_id, cent.cell,
        |    list_dot_product(v.e, cent.e) / cent.nrm AS score
        |  FROM v, cent),
        |assign AS (
        |  SELECT vec_id, cell FROM sc
        |  QUALIFY row_number() OVER (PARTITION BY vec_id
        |    ORDER BY score DESC, cell) = 1),
        |p AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.cell
        |  FROM assign a JOIN assign b ON a.cell = b.cell AND a.vec_id < b.vec_id
        |  JOIN v va ON va.vec_id = a.vec_id
        |  JOIN v vb ON vb.vec_id = b.vec_id
        |  WHERE list_cosine_similarity(va.e, vb.e) >= 0.4)
        |SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b,
        |  CAST(cell AS BIGINT) AS cell
        |FROM p ORDER BY id_a, id_b""".stripMargin,

    // the dedup_semantic quantizer replay applied cross-set: same 16
    // md5-seeded centroids and nearest-cell assignment, then train↔eval
    // candidates within a cell, exact-cosine verify, per-train aggregation
    "corpus_decontaminate_semantic" ->
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |cent AS (
        |  SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)),
        |      CAST(vec_id AS VARCHAR)) - 1 AS cell,
        |    e, sqrt(list_dot_product(e, e)) AS nrm
        |  FROM (SELECT vec_id, e FROM v
        |        ORDER BY md5(CAST(vec_id AS VARCHAR)), CAST(vec_id AS VARCHAR)
        |        LIMIT 16)),
        |sc AS (
        |  SELECT v.vec_id, cent.cell,
        |    list_dot_product(v.e, cent.e) / cent.nrm AS score
        |  FROM v, cent),
        |assign AS (
        |  SELECT vec_id, cell FROM sc
        |  QUALIFY row_number() OVER (PARTITION BY vec_id
        |    ORDER BY score DESC, cell) = 1),
        |tr AS (SELECT vec_id AS train_id, cell FROM assign WHERE vec_id % 7 != 3),
        |ev AS (SELECT vec_id AS eval_id, cell FROM assign WHERE vec_id % 7 = 3),
        |hits AS (
        |  SELECT t.train_id, e2.eval_id
        |  FROM tr t JOIN ev e2 ON e2.cell = t.cell
        |  JOIN v vt ON vt.vec_id = t.train_id
        |  JOIN v ve ON ve.vec_id = e2.eval_id
        |  WHERE list_cosine_similarity(vt.e, ve.e) >= 0.3)
        |SELECT CAST(train_id AS BIGINT) AS train_id,
        |  CAST(count(*) AS BIGINT) AS n_eval_hits,
        |  CAST(min(eval_id) AS BIGINT) AS eval_witness
        |FROM hits GROUP BY train_id ORDER BY train_id""".stripMargin,

    "dedup_embedding_exact" ->
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings)
        |SELECT CAST(a.vec_id AS BIGINT) AS id_a, CAST(b.vec_id AS BIGINT) AS id_b
        |FROM v a JOIN v b ON a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(a.e, b.e) >= 0.4
        |ORDER BY id_a, id_b""".stripMargin,

    // replays Kernels.hyperplaneSketchMd5 ("emb" family): the ±1 weight for
    // (plane p, dim d) is bit (d%60) of the first 15 md5 hex chars of
    // "emb:<p>:<d/60>"; bucket bit set iff the projection is >= 0. Verify
    // filter recomputes exact cosine (list_cosine_similarity on doubles
    // agrees with the engine kernel — same contract dedup_embedding_exact
    // already hash-verifies).
    "dedup_embedding" ->
      """WITH v AS (SELECT vec_id, embedding AS e FROM embeddings),
        |w AS (
        |  SELECT p, d,
        |    CASE WHEN (CAST(concat('0x',
        |        substr(md5('emb:' || p || ':' || (d // 60)), 1, 15))
        |      AS BIGINT) >> (d % 60)) & 1 = 1 THEN 1.0 ELSE -1.0 END AS wt
        |  FROM range(6) pp(p), range(64) dd(d)),
        |proj AS (
        |  SELECT v.vec_id, w.p, sum(v.e[w.d + 1] * w.wt) AS pr
        |  FROM v, w GROUP BY 1, 2),
        |bkt AS (
        |  SELECT vec_id,
        |    CAST(sum(CASE WHEN pr >= 0 THEN CAST(1 AS BIGINT) << p ELSE 0 END)
        |      AS BIGINT) AS bucket
        |  FROM proj GROUP BY 1)
        |SELECT CAST(a.vec_id AS BIGINT) AS id_a, CAST(b.vec_id AS BIGINT) AS id_b
        |FROM bkt a JOIN bkt b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
        |JOIN v va ON va.vec_id = a.vec_id
        |JOIN v vb ON vb.vec_id = b.vec_id
        |WHERE list_cosine_similarity(CAST(va.e AS DOUBLE[]),
        |  CAST(vb.e AS DOUBLE[])) >= 0.4
        |ORDER BY id_a, id_b""".stripMargin,

    // replays lshTopK's 4 md5 plane families ("lsh0".."lsh3", 8 planes),
    // multi-probe masks {0,1,2,4,8} (identity + single-bit flips of the
    // first 4 planes), OR-amplified candidate dedup, then exact-cosine
    // ranking with the neighbor_id tie-break.
    "ann_lsh_topk" -> annLshOracle,

    // the persisted index changes WHERE the sketches live, not what they
    // are: results are byte-identical to the inline path, same oracle
    "ann_lsh_indexed" -> annLshOracle,

    // LSH top-k (annLshOracle CTE) + neighbor labels + modal vote, ties to
    // the smallest label — replays index AND vote integer-exactly
    "ann_knn_classify" ->
      s"""WITH nn AS ($annLshOracle),
        |lab AS (
        |  SELECT nn.query_id, e.label
        |  FROM nn JOIN embeddings e ON e.vec_id = nn.neighbor_id),
        |c AS (
        |  SELECT query_id, label, CAST(count(*) AS BIGINT) AS votes
        |  FROM lab GROUP BY 1, 2),
        |tot AS (
        |  SELECT query_id, CAST(sum(votes) AS BIGINT) AS n_neighbors
        |  FROM c GROUP BY 1)
        |SELECT CAST(c.query_id AS BIGINT) AS query_id,
        |  CAST(c.label AS BIGINT) AS pred_label, c.votes, tot.n_neighbors
        |FROM c JOIN tot USING (query_id)
        |QUALIFY row_number() OVER (PARTITION BY c.query_id
        |  ORDER BY c.votes DESC, c.label) = 1
        |ORDER BY query_id""".stripMargin,

    // same md5-seeded 16-centroid quantizer as the dedup_semantic oracle,
    // aggregated to per-cell majority-label purity
    "ann_cluster_purity" ->
      """WITH v AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e
        |           FROM embeddings),
        |cent AS (
        |  SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)),
        |      CAST(vec_id AS VARCHAR)) - 1 AS cell,
        |    e, sqrt(list_dot_product(e, e)) AS nrm
        |  FROM (SELECT vec_id, e FROM v
        |        ORDER BY md5(CAST(vec_id AS VARCHAR)), CAST(vec_id AS VARCHAR)
        |        LIMIT 16)),
        |sc AS (
        |  SELECT v.vec_id, v.label, cent.cell,
        |    list_dot_product(v.e, cent.e) / cent.nrm AS score
        |  FROM v, cent),
        |assign AS (
        |  SELECT vec_id, label, cell FROM sc
        |  QUALIFY row_number() OVER (PARTITION BY vec_id
        |    ORDER BY score DESC, cell) = 1),
        |c AS (
        |  SELECT cell, label, CAST(count(*) AS BIGINT) AS votes
        |  FROM assign GROUP BY 1, 2),
        |tot AS (
        |  SELECT cell, CAST(sum(votes) AS BIGINT) AS n_vecs FROM c GROUP BY 1)
        |SELECT CAST(c.cell AS BIGINT) AS cell, tot.n_vecs,
        |  CAST(c.label AS BIGINT) AS maj_label, c.votes AS maj_votes
        |FROM c JOIN tot USING (cell)
        |QUALIFY row_number() OVER (PARTITION BY c.cell
        |  ORDER BY c.votes DESC, c.label) = 1
        |ORDER BY cell""".stripMargin,

    // same w/proj/bkt replay as annLshOracle, aggregated to the
    // per-(table, bucket) occupancy histogram
    "ann_lsh_bucket_stats" ->
      """WITH v AS (SELECT vec_id, embedding AS e FROM embeddings),
        |w AS (
        |  SELECT t, p, d,
        |    CASE WHEN (CAST(concat('0x',
        |        substr(md5('lsh' || t || ':' || p || ':' || (d // 60)), 1, 15))
        |      AS BIGINT) >> (d % 60)) & 1 = 1 THEN 1.0 ELSE -1.0 END AS wt
        |  FROM range(4) tt(t), range(8) pp(p), range(64) dd(d)),
        |proj AS (
        |  SELECT v.vec_id, w.t, w.p, sum(v.e[w.d + 1] * w.wt) AS pr
        |  FROM v, w GROUP BY 1, 2, 3),
        |bkt AS (
        |  SELECT vec_id, t,
        |    CAST(sum(CASE WHEN pr >= 0 THEN CAST(1 AS BIGINT) << p ELSE 0 END)
        |      AS BIGINT) AS bucket
        |  FROM proj GROUP BY 1, 2)
        |SELECT CAST(t AS BIGINT) AS t, CAST(bucket AS BIGINT) AS bucket,
        |  COUNT(*) AS n
        |FROM bkt GROUP BY 1, 2 ORDER BY t, bucket""".stripMargin,

    // the dedup_semantic quantizer replay aggregated to the one-row
    // occupancy audit; all-integer arithmetic (cross-multiplied degenerate
    // test, power-of-two scan via a list comprehension) so the row
    // hash-matches bit for bit
    "ann_cell_occupancy" ->
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |cent AS (
        |  SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)),
        |      CAST(vec_id AS VARCHAR)) - 1 AS cell,
        |    e, sqrt(list_dot_product(e, e)) AS nrm
        |  FROM (SELECT vec_id, e FROM v
        |        ORDER BY md5(CAST(vec_id AS VARCHAR)), CAST(vec_id AS VARCHAR)
        |        LIMIT 16)),
        |sc AS (
        |  SELECT v.vec_id, cent.cell,
        |    list_dot_product(v.e, cent.e) / cent.nrm AS score
        |  FROM v, cent),
        |assign AS (
        |  SELECT vec_id, cell FROM sc
        |  QUALIFY row_number() OVER (PARTITION BY vec_id
        |    ORDER BY score DESC, cell) = 1),
        |pc AS (SELECT cell, CAST(count(*) AS BIGINT) AS n
        |       FROM assign GROUP BY 1),
        |agg AS (
        |  SELECT CAST(sum(n) AS BIGINT) AS n_rows,
        |    CAST(count(*) AS BIGINT) AS n_cells_used,
        |    CAST(max(n) AS BIGINT) AS max_cell_rows
        |  FROM pc)
        |SELECT CAST(16 AS BIGINT) AS nlist, n_rows, n_cells_used,
        |  max_cell_rows,
        |  CAST(CASE WHEN max_cell_rows * 16 > n_rows * 4 THEN 1 ELSE 0 END
        |    AS BIGINT) AS degenerate,
        |  CAST(list_min(list_filter(
        |      [CAST(1 AS BIGINT) << CAST(k AS INTEGER) FOR k IN range(0, 31)],
        |      p -> p * 256 >= n_rows)) AS BIGINT) AS suggested_nlist
        |FROM agg""".stripMargin,

    // replays PQ end to end: md5-picked codebook rows, per-subspace L2
    // argmin encode (ties to lowest codeword, matching the kernel's strict
    // <), ADC scoring, top-32 candidate cut, exact-cosine re-rank.
    // ACCEPTED RISK (here and ann_ivfpq_topk): DuckDB's unordered sum()
    // vs the kernel's fixed-index-order accumulation can differ by last-ulp
    // at two cut points (per-subspace argmin, ADC top-32) and flip candidate
    // sets on near-tied data — same class as the LSH projection sum. Not
    // observed at sf0.01/sf0.1 (hash-verified since r5); the exact-cosine
    // re-rank absorbs interior drift, only exact ties AT the cut can flip.
    "ann_pq_topk" ->
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |pick AS (
        |  SELECT e, row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)),
        |    CAST(vec_id AS VARCHAR)) AS rn
        |  FROM v QUALIFY rn <= 16),
        |cb AS (
        |  SELECT s.s, p.rn - 1 AS c, i.i, p.e[s.s * 16 + i.i + 1] AS w
        |  FROM pick p, range(4) s(s), range(16) i(i)),
        |d AS (
        |  SELECT v.vec_id, cb.s, cb.c,
        |    sum((v.e[cb.s * 16 + cb.i + 1] - cb.w)
        |      * (v.e[cb.s * 16 + cb.i + 1] - cb.w)) AS dist
        |  FROM v CROSS JOIN cb GROUP BY 1, 2, 3),
        |enc AS (
        |  SELECT vec_id, s, c FROM d
        |  QUALIFY row_number() OVER (PARTITION BY vec_id, s
        |    ORDER BY dist, c) = 1),
        |sc AS (
        |  SELECT q.vec_id AS query_id, enc.vec_id AS neighbor_id,
        |    sum(q.e[cb.s * 16 + cb.i + 1] * cb.w) AS adc
        |  FROM (SELECT * FROM v WHERE vec_id < 10) q
        |  CROSS JOIN enc
        |  JOIN cb ON cb.s = enc.s AND cb.c = enc.c
        |  WHERE q.vec_id <> enc.vec_id
        |  GROUP BY 1, 2),
        |cand AS (
        |  SELECT query_id, neighbor_id FROM sc
        |  QUALIFY row_number() OVER (PARTITION BY query_id
        |    ORDER BY adc DESC, neighbor_id) <= 32),
        |rr AS (
        |  SELECT cand.query_id, cand.neighbor_id,
        |    list_cosine_similarity(qv.e, cv.e) AS cosine
        |  FROM cand JOIN v qv ON qv.vec_id = cand.query_id
        |  JOIN v cv ON cv.vec_id = cand.neighbor_id)
        |SELECT CAST(query_id AS BIGINT) AS query_id,
        |  CAST(neighbor_id AS BIGINT) AS neighbor_id,
        |  CAST(row_number() OVER (PARTITION BY query_id
        |    ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rnk
        |FROM rr QUALIFY rnk <= 10 ORDER BY query_id, rnk""".stripMargin,


    // replays ivfTopKSeeded: the 16 centroids are the corpus vectors with
    // the smallest md5(CAST(id AS VARCHAR)) (string-id tie-break), cell ids
    // assigned in that order; cell score is dot(v,c)/|c| with ties to the
    // lowest cell; queries probe their 4 best cells; candidates rank by
    // exact cosine with the neighbor_id tie-break.
    "ann_ivf_topk" -> annIvfOracle,

    // Full replay of build → planted-crowding insert → audit: the seeded
    // quantizer + assignment CTEs are annIvfOracle's, the busiest-cell
    // delta doubles that cell, poor-fit is the SIGN of the dot product
    // (replay-stable), and share shift is two integer floor-divides to ppm.
    "ann_ivf_drift" ->
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |cent AS (
        |  SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)),
        |      CAST(vec_id AS VARCHAR)) - 1 AS cell,
        |    e, sqrt(list_dot_product(e, e)) AS nrm
        |  FROM (SELECT vec_id, e FROM v
        |        ORDER BY md5(CAST(vec_id AS VARCHAR)), CAST(vec_id AS VARCHAR)
        |        LIMIT 16)),
        |sc AS (
        |  SELECT v.vec_id, cent.cell,
        |    list_dot_product(v.e, cent.e) / cent.nrm AS score
        |  FROM v, cent),
        |assign AS (
        |  SELECT vec_id, cell FROM sc
        |  QUALIFY row_number() OVER (PARTITION BY vec_id
        |    ORDER BY score DESC, cell) = 1),
        |fit AS (
        |  SELECT a.vec_id, a.cell,
        |    list_dot_product(v.e, c2.e) <= 0 AS poor
        |  FROM assign a JOIN v ON v.vec_id = a.vec_id
        |  JOIN cent c2 ON c2.cell = a.cell),
        |bs AS (
        |  SELECT cell, count(*) AS n_build,
        |    sum(CASE WHEN poor THEN 1 ELSE 0 END) AS poor_build
        |  FROM fit GROUP BY 1),
        |cstar AS (SELECT cell FROM bs ORDER BY n_build DESC, cell LIMIT 1),
        |ns AS (
        |  SELECT cell, n_build, poor_build,
        |    n_build + CASE WHEN cell = (SELECT cell FROM cstar)
        |      THEN n_build ELSE 0 END AS n_now,
        |    poor_build + CASE WHEN cell = (SELECT cell FROM cstar)
        |      THEN poor_build ELSE 0 END AS poor_now
        |  FROM bs),
        |tot AS (SELECT sum(n_build) AS tb, sum(n_now) AS tn FROM ns)
        |SELECT CAST(cell AS BIGINT) AS cell,
        |  CAST(n_build AS BIGINT) AS n_build, CAST(n_now AS BIGINT) AS n_now,
        |  CAST(poor_build AS BIGINT) AS poor_build,
        |  CAST(poor_now AS BIGINT) AS poor_now,
        |  CAST(abs((n_now * 1000000) // tn - (n_build * 1000000) // tb) AS BIGINT) AS share_shift_ppm,
        |  CAST(CASE WHEN abs((n_now * 1000000) // tn - (n_build * 1000000) // tb) > 20000
        |       THEN 1 ELSE 0 END AS BIGINT) AS drifted
        |FROM ns, tot ORDER BY cell""".stripMargin,

    // the persisted IVF index changes WHERE the cell assignments live, not
    // what they are: byte-identical to the inline path, same oracle
    "ann_ivf_indexed" -> annIvfOracle,

        // composed IVFADC replay: seeded centroids (= first 16 md5-picked rows)
    // for assignment/probing, the same picked rows sliced as the PQ
    // codebook, ADC over codes for cell candidates, exact re-rank
    "ann_ivfpq_topk" ->
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |pick AS (
        |  SELECT e, row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)),
        |    CAST(vec_id AS VARCHAR)) AS rn
        |  FROM v QUALIFY rn <= 16),
        |cent AS (
        |  SELECT rn - 1 AS cell, e, sqrt(list_dot_product(e, e)) AS nrm
        |  FROM pick),
        |sc0 AS (
        |  SELECT v.vec_id, cent.cell,
        |    list_dot_product(v.e, cent.e) / cent.nrm AS score
        |  FROM v, cent),
        |assign AS (
        |  SELECT vec_id, cell FROM sc0
        |  QUALIFY row_number() OVER (PARTITION BY vec_id
        |    ORDER BY score DESC, cell) = 1),
        |probe AS (
        |  SELECT vec_id AS query_id, cell FROM sc0 WHERE vec_id < 10
        |  QUALIFY row_number() OVER (PARTITION BY vec_id
        |    ORDER BY score DESC, cell) <= 4),
        |cb AS (
        |  SELECT s.s, p.rn - 1 AS c, i.i, p.e[s.s * 16 + i.i + 1] AS w
        |  FROM pick p, range(4) s(s), range(16) i(i)),
        |d AS (
        |  SELECT v.vec_id, cb.s, cb.c,
        |    sum((v.e[cb.s * 16 + cb.i + 1] - cb.w)
        |      * (v.e[cb.s * 16 + cb.i + 1] - cb.w)) AS dist
        |  FROM v CROSS JOIN cb GROUP BY 1, 2, 3),
        |enc AS (
        |  SELECT vec_id, s, c FROM d
        |  QUALIFY row_number() OVER (PARTITION BY vec_id, s
        |    ORDER BY dist, c) = 1),
        |cand AS (
        |  SELECT p.query_id, a.vec_id AS neighbor_id
        |  FROM probe p JOIN assign a ON p.cell = a.cell
        |  WHERE p.query_id <> a.vec_id),
        |adc AS (
        |  SELECT cand.query_id, cand.neighbor_id,
        |    sum(qv.e[cb.s * 16 + cb.i + 1] * cb.w) AS adc
        |  FROM cand
        |  JOIN enc ON enc.vec_id = cand.neighbor_id
        |  JOIN cb ON cb.s = enc.s AND cb.c = enc.c
        |  JOIN v qv ON qv.vec_id = cand.query_id
        |  GROUP BY 1, 2),
        |cand2 AS (
        |  SELECT query_id, neighbor_id FROM adc
        |  QUALIFY row_number() OVER (PARTITION BY query_id
        |    ORDER BY adc DESC, neighbor_id) <= 32),
        |rr AS (
        |  SELECT cand2.query_id, cand2.neighbor_id,
        |    list_cosine_similarity(qv.e, cv.e) AS cosine
        |  FROM cand2 JOIN v qv ON qv.vec_id = cand2.query_id
        |  JOIN v cv ON cv.vec_id = cand2.neighbor_id)
        |SELECT CAST(query_id AS BIGINT) AS query_id,
        |  CAST(neighbor_id AS BIGINT) AS neighbor_id,
        |  CAST(row_number() OVER (PARTITION BY query_id
        |    ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rnk
        |FROM rr QUALIFY rnk <= 10 ORDER BY query_id, rnk""".stripMargin,

    "q_approx_distinct" ->
      """SELECT event_type,
        | CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
        | CAST(COUNT(DISTINCT event_id) AS BIGINT) AS n_events,
        | true AS users_within_5pct,
        | true AS events_within_5pct
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    // replays the KMV sketch exactly: same 60-bit md5 hash, k-th smallest
    // distinct value, same IEEE estimate arithmetic (floor(63 * 2^60 / h_k))
    // replays the bottom-k value sample: distinct (type, user), 60-bit md5
    // hash of the id's decimal string, bottom-64 by (hash, value), integer
    // order-statistic quantile picks, KMV distinct formula
    "q_kmv_value_quantiles" ->
      """WITH d AS (SELECT DISTINCT event_type, user_id AS v FROM events),
        |h AS (
        |  SELECT event_type, v,
        |    CAST(concat('0x', substr(md5(CAST(v AS VARCHAR)), 1, 15))
        |      AS BIGINT) AS hv
        |  FROM d),
        |r AS (
        |  SELECT event_type, v, hv,
        |    row_number() OVER (PARTITION BY event_type ORDER BY hv, v) AS rn
        |  FROM h),
        |s AS (SELECT event_type, v, hv FROM r WHERE rn <= 64),
        |a AS (
        |  SELECT event_type, count(*) AS m, max(hv) AS hk,
        |    list_sort(list(v)) AS vals
        |  FROM s GROUP BY 1)
        |SELECT event_type,
        |  CAST(m AS BIGINT) AS n_tracked,
        |  CAST(CASE WHEN m < 64 THEN m
        |       ELSE CAST(floor(63 * power(2, 60) / hk) AS BIGINT) END
        |    AS BIGINT) AS est_distinct,
        |  CAST(vals[(m - 1 + 1) // 2 + 1] AS BIGINT) AS p50_user_id,
        |  CAST(vals[((m - 1) * 9 + 5) // 10 + 1] AS BIGINT) AS p90_user_id
        |FROM a ORDER BY event_type""".stripMargin,

    "q_approx_distinct_kmv" ->
      """WITH h AS (
        |  SELECT DISTINCT event_type,
        |    CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
        |      AS BIGINT) AS hv
        |  FROM events),
        |r AS (
        |  SELECT event_type, hv,
        |    row_number() OVER (PARTITION BY event_type ORDER BY hv) AS rn,
        |    count(*) OVER (PARTITION BY event_type) AS nd
        |  FROM h)
        |SELECT event_type,
        |  CASE WHEN max(nd) < 64 THEN CAST(max(nd) AS BIGINT)
        |       ELSE CAST(floor(63 * power(2, 60)
        |         / max(CASE WHEN rn = 64 THEN hv END)) AS BIGINT) END
        |    AS n_users_est,
        |  CAST(least(max(nd), 64) AS BIGINT) AS n_tracked,
        |  max(CASE WHEN rn = 64 THEN hv END) AS kth_hash
        |FROM r GROUP BY event_type ORDER BY event_type""".stripMargin,

    // rollup-of-daily-sketches == direct sketch (bottom-k semilattice), so
    // the oracle replays the DIRECT bottom-k over raw rows + days-per-type
    "q_kmv_rollup" ->
      """WITH h AS (
        |  SELECT DISTINCT event_type,
        |    CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
        |      AS BIGINT) AS hv
        |  FROM events),
        |d AS (
        |  SELECT event_type,
        |    COUNT(DISTINCT epoch_us(ts) // 86400000000) AS n_days
        |  FROM events GROUP BY 1),
        |r AS (
        |  SELECT event_type, hv,
        |    row_number() OVER (PARTITION BY event_type ORDER BY hv) AS rn,
        |    count(*) OVER (PARTITION BY event_type) AS nd
        |  FROM h)
        |SELECT r.event_type, CAST(MAX(d.n_days) AS BIGINT) AS n_days,
        |  CASE WHEN max(nd) < 64 THEN CAST(max(nd) AS BIGINT)
        |       ELSE CAST(floor(63 * power(2, 60)
        |         / max(CASE WHEN rn = 64 THEN hv END)) AS BIGINT) END
        |    AS n_users_est,
        |  max(CASE WHEN rn = 64 THEN hv END) AS kth_hash
        |FROM r JOIN d ON r.event_type = d.event_type
        |GROUP BY r.event_type ORDER BY r.event_type""".stripMargin,

    // replays the KMV set-algebra estimator: per-type bottom-64 sketches,
    // merged bottom-64 per pair, membership against both tracked sets
    "q_kmv_overlap" ->
      """WITH h AS (
        |  SELECT DISTINCT event_type,
        |    CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
        |      AS BIGINT) AS hv
        |  FROM events),
        |r AS (
        |  SELECT event_type, hv,
        |    row_number() OVER (PARTITION BY event_type ORDER BY hv) AS rn
        |  FROM h),
        |s AS (SELECT event_type, hv FROM r WHERE rn <= 64),
        |p AS (
        |  SELECT a.event_type AS ta, b.event_type AS tb
        |  FROM (SELECT DISTINCT event_type FROM h) a
        |  JOIN (SELECT DISTINCT event_type FROM h) b ON a.event_type < b.event_type),
        |u AS (
        |  SELECT p.ta, p.tb, s.hv
        |  FROM p JOIN s ON s.event_type IN (p.ta, p.tb)
        |  GROUP BY p.ta, p.tb, s.hv),
        |ur AS (
        |  SELECT ta, tb, hv,
        |    row_number() OVER (PARTITION BY ta, tb ORDER BY hv) AS rn
        |  FROM u),
        |ku AS (SELECT ta, tb, hv FROM ur WHERE rn <= 64),
        |m AS (
        |  SELECT ku.ta, ku.tb, ku.hv,
        |    CASE WHEN sa.hv IS NOT NULL AND sb.hv IS NOT NULL THEN 1 ELSE 0 END
        |      AS both_flag
        |  FROM ku
        |  LEFT JOIN s sa ON sa.event_type = ku.ta AND sa.hv = ku.hv
        |  LEFT JOIN s sb ON sb.event_type = ku.tb AND sb.hv = ku.hv),
        |g AS (
        |  SELECT ta, tb, CAST(count(*) AS BIGINT) AS n_u,
        |    CAST(sum(both_flag) AS BIGINT) AS n_both, max(hv) AS kth
        |  FROM m GROUP BY ta, tb),
        |e AS (
        |  SELECT ta, tb, n_u, n_both,
        |    CASE WHEN n_u < 64 THEN n_u
        |         ELSE CAST(floor(63 * power(2, 60) / kth) AS BIGINT) END AS union_est,
        |    CAST(n_both AS DOUBLE) / CAST(n_u AS DOUBLE) AS jaccard_est
        |  FROM g)
        |SELECT ta AS type_a, tb AS type_b, n_u, n_both, union_est, jaccard_est,
        |  CAST(floor(jaccard_est * CAST(union_est AS DOUBLE)) AS BIGINT)
        |    AS inter_est
        |FROM e ORDER BY type_a, type_b""".stripMargin,

    "mm_features_stub" ->
      """WITH m AS (
        |  SELECT doc_id, octet_length(encode(text)) AS blen,
        |    CAST(concat('0x', substr(md5(text), 1, 8)) AS BIGINT) AS h
        |  FROM documents)
        |SELECT CAST(doc_id AS BIGINT) AS media_id, 'text/plain' AS mime,
        |  CAST(blen AS BIGINT) AS byte_len,
        |  CAST(h % 1920 + 1 AS BIGINT) AS width,
        |  CAST((h // 2048) % 1080 + 1 AS BIGINT) AS height,
        |  CAST((h // 4194304) % 1000 AS DOUBLE) / 1000.0 AS sharpness
        |FROM m ORDER BY media_id""".stripMargin,

    "dedup_ngram_jaccard" -> ngramJaccardOracle,
    "dedup_ngram_jaccard_capped" -> cappedNgramOracle,
    "dedup_minhash_lsh" -> ngramJaccardOracle,

    // the exact cross-pair answer: old (< 400) × delta (>= 400) near-dups —
    // a filtered slice of the same exact pair set the full-corpus minhash
    // query matches, so the banding-recall argument is inherited
    "dedup_incremental_near" ->
      s"""WITH $ngramPairsCtes
        |SELECT CAST(da AS BIGINT) AS doc_a, CAST(db AS BIGINT) AS doc_b,
        |  CAST(i AS DOUBLE) / CAST(u AS DOUBLE) AS jaccard
        |FROM pairs WHERE da < 400 AND db >= 400
        |  AND CAST(i AS DOUBLE) / CAST(u AS DOUBLE) >= 0.8
        |ORDER BY doc_a, doc_b""".stripMargin,

    "dedup_groups" -> dedupGroupsOracle,
    "dedup_groups_capped" -> dedupGroupsCappedOracle,
    // the incremental == full-recompute LAW as an oracle: the map-update
    // query must hash-equal the full-corpus CC replay (LSH banding's pair
    // set equals the exact ngram pairs on this data — the same oracle
    // identity dedup_minhash_lsh/dedup_incremental_near already pin)
    "dedup_incremental_groups" -> dedupGroupsOracle,
    // the persisted canonical-map table == inline recompute LAW as an
    // oracle: the bucketed table dedup_canonical/corpus_split_safe_capped
    // consume must hash-equal the full capped pairs + CC replay
    "dedup_canonical_map" -> dedupGroupsCappedOracle,

    // dedupGroupsOracle's unrolled pointer-jumping CC for canonical ids +
    // corpus_split's md5 bucket replay, keyed on the canonical id
    // (singletons on their own id)
    "corpus_split_safe" ->
      s"""WITH $ngramPairsCtes,
        |${ccClosureCtes(4)},
        |grp AS (
        |  SELECT CAST(v AS BIGINT) AS doc_id,
        |    CAST(m AS BIGINT) AS canonical_id
        |  FROM cc),
        |canon AS (
        |  SELECT d.doc_id, d.lang, d.n_chars,
        |    COALESCE(g.canonical_id, d.doc_id) AS cid
        |  FROM documents d LEFT JOIN grp g ON g.doc_id = d.doc_id),
        |s AS (SELECT lang, n_chars,
        |  CASE WHEN b < 10 THEN 'val' WHEN b < 20 THEN 'test'
        |       ELSE 'train' END AS split
        |  FROM (SELECT lang, n_chars,
        |          CAST(concat('0x', substr(md5('split-v1|' ||
        |            CAST(cid AS VARCHAR)), 1, 15)) AS BIGINT) % 100 AS b
        |        FROM canon))
        |SELECT split, lang, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM s GROUP BY 1, 2 ORDER BY split, lang""".stripMargin,

    // the same split replay over the CAPPED pair set's CC closure — the
    // bounded-cost tier sibling of corpus_split_safe
    "corpus_split_safe_capped" ->
      s"""WITH $cappedPairsCtes,
        |${ccClosureCtes(4)},
        |grp AS (
        |  SELECT CAST(v AS BIGINT) AS doc_id,
        |    CAST(m AS BIGINT) AS canonical_id
        |  FROM cc),
        |canon AS (
        |  SELECT d.doc_id, d.lang, d.n_chars,
        |    COALESCE(g.canonical_id, d.doc_id) AS cid
        |  FROM documents d LEFT JOIN grp g ON g.doc_id = d.doc_id),
        |s AS (SELECT lang, n_chars,
        |  CASE WHEN b < 10 THEN 'val' WHEN b < 20 THEN 'test'
        |       ELSE 'train' END AS split
        |  FROM (SELECT lang, n_chars,
        |          CAST(concat('0x', substr(md5('split-v1|' ||
        |            CAST(cid AS VARCHAR)), 1, 15)) AS BIGINT) % 100 AS b
        |        FROM canon))
        |SELECT split, lang, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM s GROUP BY 1, 2 ORDER BY split, lang""".stripMargin,

    "dedup_canonical" -> dedupCanonicalOracle,

    "mm_frame_sample" ->
      """WITH m AS (
        |  SELECT doc_id, octet_length(encode(text)) AS n FROM documents),
        |f AS (
        |  SELECT doc_id, n,
        |    unnest(range(0, CAST(ceil(n / 256.0) AS INT), 2)) AS i
        |  FROM m WHERE n > 0),
        |r AS (
        |  SELECT doc_id, n, i,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY i) AS rn
        |  FROM f)
        |SELECT CAST(doc_id AS BIGINT) AS media_id,
        |  CAST(i AS BIGINT) AS frame_no,
        |  CAST(round(i * 1000.0 / 30) AS BIGINT) AS ts_ms,
        |  CAST(least(256, n - i * 256) AS BIGINT) AS frame_len
        |FROM r WHERE rn <= 8 ORDER BY media_id, frame_no""".stripMargin,

    // Replays the whole image pipeline arithmetically: md5-rendered pixels,
    // 2x2 integer box-averages to the 9x8 dHash grid, difference bits
    // packed via two 32-bit halves into a signed two's-complement BIGINT
    // (so the value equals the engine's Long bit-for-bit, including bit
    // 63), the brightness variant as least(v+4,255) over the same pixels,
    // the exact-2x-upscale variant as the IDENTITY on the hash (integer
    // box-avg over duplicated pixels is exactly the original average —
    // MultimodalSpec pins that equality through the real PNG codec), then
    // the same 7-block pigeonhole banding + bit_count(xor) verify as the
    // dedup_simhash oracle.
    "mm_phash_pairs" ->
      """WITH w AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws
        |           FROM documents WHERE length(trim(text)) > 0),
        |px AS (SELECT doc_id, i.i AS i,
        |         CAST(concat('0x', substr(md5(ws[CAST((i.i * len(ws)) // 288 AS INT) + 1] || ':' || i.i), 1, 15)) AS BIGINT) % 256 AS v
        |       FROM w, range(288) i(i)),
        |g AS (SELECT doc_id, (i // 18) // 2 AS r, (i % 18) // 2 AS c, sum(v) // 4 AS gv
        |      FROM px GROUP BY 1, 2, 3),
        |gb AS (SELECT doc_id, (i // 18) // 2 AS r, (i % 18) // 2 AS c,
        |         sum(least(v + 4, 255)) // 4 AS gv
        |       FROM px WHERE doc_id % 7 = 1 GROUP BY 1, 2, 3),
        |hb AS (SELECT a.doc_id,
        |         sum(CASE WHEN a.gv > b.gv AND a.r*8 + a.c < 32
        |                  THEN CAST(1 AS BIGINT) << (a.r*8 + a.c) ELSE 0 END) AS lo,
        |         sum(CASE WHEN a.gv > b.gv AND a.r*8 + a.c >= 32
        |                  THEN CAST(1 AS BIGINT) << (a.r*8 + a.c - 32) ELSE 0 END) AS hi
        |       FROM g a JOIN g b ON b.doc_id = a.doc_id AND b.r = a.r AND b.c = a.c + 1
        |       WHERE a.c < 8 GROUP BY 1),
        |hbr AS (SELECT a.doc_id,
        |         sum(CASE WHEN a.gv > b.gv AND a.r*8 + a.c < 32
        |                  THEN CAST(1 AS BIGINT) << (a.r*8 + a.c) ELSE 0 END) AS lo,
        |         sum(CASE WHEN a.gv > b.gv AND a.r*8 + a.c >= 32
        |                  THEN CAST(1 AS BIGINT) << (a.r*8 + a.c - 32) ELSE 0 END) AS hi
        |       FROM gb a JOIN gb b ON b.doc_id = a.doc_id AND b.r = a.r AND b.c = a.c + 1
        |       WHERE a.c < 8 GROUP BY 1),
        |sg AS (SELECT doc_id, CAST(CASE WHEN lo + hi * 4294967296 >= 9223372036854775808
        |                THEN lo + hi * 4294967296 - 18446744073709551616
        |                ELSE lo + hi * 4294967296 END AS BIGINT) AS fp FROM hb),
        |sgb AS (SELECT doc_id, CAST(CASE WHEN lo + hi * 4294967296 >= 9223372036854775808
        |                THEN lo + hi * 4294967296 - 18446744073709551616
        |                ELSE lo + hi * 4294967296 END AS BIGINT) AS fp FROM hbr),
        |allfp AS (
        |  SELECT CAST(doc_id AS BIGINT) AS id, fp FROM sg
        |  UNION ALL SELECT CAST(doc_id + 100000 AS BIGINT), fp FROM sg WHERE doc_id % 7 = 0
        |  UNION ALL SELECT CAST(doc_id + 200000 AS BIGINT), fp FROM sgb),
        |blk AS (SELECT id, fp, b.b AS blk, (fp >> (b.b * 9)) & 511 AS bits
        |        FROM allfp, range(7) b(b)),
        |cand AS (SELECT DISTINCT a.id AS id_a, a.fp AS fa, c.id AS id_b, c.fp AS fb
        |         FROM blk a JOIN blk c ON c.blk = a.blk AND c.bits = a.bits AND a.id < c.id)
        |SELECT id_a, id_b, CAST(bit_count(xor(fa, fb)) AS BIGINT) AS hamming
        |FROM cand WHERE bit_count(xor(fa, fb)) <= 6
        |ORDER BY id_a, id_b""".stripMargin,

    // The mm_phash_pairs replay transposed to audio: absolute md5-derived
    // samples, 64-sample window energies (exact integer sums; the
    // half-volume family as floor-halved absolute samples — |trunc(s/2)|
    // == |s| div 2), gradient bits packed two's-complement, re-encode as
    // hash identity (codec losslessness pinned by MultimodalSpec), same
    // banding + Hamming verify.
    "mm_audio_fp_pairs" ->
      """WITH w AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws
        |           FROM documents WHERE length(trim(text)) > 0),
        |ab AS (SELECT doc_id, b.b AS b,
        |         CAST(concat('0x', substr(md5(ws[CAST((b.b * 3 * len(ws)) // 4160 AS INT) + 1] || ':' || b.b), 1, 15)) AS BIGINT) AS hh
        |       FROM w, range(1387) b(b)),
        |sm AS (SELECT doc_id, b * 3 + j.j AS i,
        |         abs(((hh >> CAST(16 * j.j AS INT)) & 65535) - 32768) AS a
        |       FROM ab, range(3) j(j) WHERE b * 3 + j.j < 4160),
        |e AS (SELECT doc_id, i // 64 AS win, sum(a) AS ev FROM sm GROUP BY 1, 2),
        |eh AS (SELECT doc_id, i // 64 AS win, sum(a // 2) AS ev
        |       FROM sm WHERE doc_id % 7 = 3 GROUP BY 1, 2),
        |hb AS (SELECT x.doc_id,
        |         sum(CASE WHEN x.ev > y.ev AND x.win < 32
        |                  THEN CAST(1 AS BIGINT) << CAST(x.win AS INT) ELSE 0 END) AS lo,
        |         sum(CASE WHEN x.ev > y.ev AND x.win >= 32
        |                  THEN CAST(1 AS BIGINT) << CAST(x.win - 32 AS INT) ELSE 0 END) AS hi
        |       FROM e x JOIN e y ON y.doc_id = x.doc_id AND y.win = x.win + 1
        |       WHERE x.win < 64 GROUP BY 1),
        |hbr AS (SELECT x.doc_id,
        |         sum(CASE WHEN x.ev > y.ev AND x.win < 32
        |                  THEN CAST(1 AS BIGINT) << CAST(x.win AS INT) ELSE 0 END) AS lo,
        |         sum(CASE WHEN x.ev > y.ev AND x.win >= 32
        |                  THEN CAST(1 AS BIGINT) << CAST(x.win - 32 AS INT) ELSE 0 END) AS hi
        |       FROM eh x JOIN eh y ON y.doc_id = x.doc_id AND y.win = x.win + 1
        |       WHERE x.win < 64 GROUP BY 1),
        |sg AS (SELECT doc_id, CAST(CASE WHEN lo + hi * 4294967296 >= 9223372036854775808
        |            THEN lo + hi * 4294967296 - 18446744073709551616
        |            ELSE lo + hi * 4294967296 END AS BIGINT) AS fp FROM hb),
        |sgb AS (SELECT doc_id, CAST(CASE WHEN lo + hi * 4294967296 >= 9223372036854775808
        |            THEN lo + hi * 4294967296 - 18446744073709551616
        |            ELSE lo + hi * 4294967296 END AS BIGINT) AS fp FROM hbr),
        |allfp AS (
        |  SELECT CAST(doc_id AS BIGINT) AS id, fp FROM sg
        |  UNION ALL SELECT CAST(doc_id + 300000 AS BIGINT), fp FROM sg WHERE doc_id % 7 = 2
        |  UNION ALL SELECT CAST(doc_id + 400000 AS BIGINT), fp FROM sgb),
        |blk AS (SELECT id, fp, b.b AS blk, (fp >> (b.b * 9)) & 511 AS bits
        |        FROM allfp, range(7) b(b)),
        |cand AS (SELECT DISTINCT a.id AS id_a, a.fp AS fa, c.id AS id_b, c.fp AS fb
        |         FROM blk a JOIN blk c ON c.blk = a.blk AND c.bits = a.bits AND a.id < c.id)
        |SELECT id_a, id_b, CAST(bit_count(xor(fa, fb)) AS BIGINT) AS hamming
        |FROM cand WHERE bit_count(xor(fa, fb)) <= 6
        |ORDER BY id_a, id_b""".stripMargin,

    "ann_cosine_topk" -> annCosineOracle,

    // recall@10 of the LSH index vs brute force, both replayed from their
    // already-verified oracle bodies — the index's headline quality metric
    // is itself a hash-checked query, not just a spec assertion
    "ann_recall_audit" ->
      s"""WITH bf AS ($annCosineOracle),
         |lshr AS ($annLshOracle)
         |SELECT bf.query_id,
         |  CAST(count(lshr.neighbor_id) AS BIGINT) AS n_matched,
         |  count(lshr.neighbor_id) / 10.0 AS recall_at_10
         |FROM bf LEFT JOIN lshr
         |  ON bf.query_id = lshr.query_id AND bf.neighbor_id = lshr.neighbor_id
         |GROUP BY bf.query_id ORDER BY bf.query_id""".stripMargin,

    // recall@10 of the TRAINED (Lloyd) IVF vs brute force — the full
    // training loop replayed in SQL (annIvfTrainedOracle), composed with the
    // already-verified brute-force oracle
    "ann_ivf_recall_audit" ->
      s"""WITH bf AS ($annCosineOracle),
         |ivfr AS ($annIvfTrainedOracle)
         |SELECT bf.query_id,
         |  CAST(count(ivfr.neighbor_id) AS BIGINT) AS n_matched,
         |  count(ivfr.neighbor_id) / 10.0 AS recall_at_10
         |FROM bf LEFT JOIN ivfr
         |  ON bf.query_id = ivfr.query_id AND bf.neighbor_id = ivfr.neighbor_id
         |GROUP BY bf.query_id ORDER BY bf.query_id""".stripMargin,

    "text_stats" ->
      """SELECT CAST(doc_id AS BIGINT) AS doc_id,
        | CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens,
        | CAST(length(text) AS BIGINT) AS len_chars,
        | CAST(length(regexp_replace(trim(text), '\s+', '', 'g')) AS DOUBLE)
        |   / CAST(len(string_split_regex(trim(text), '\s+')) AS DOUBLE) AS mean_token_len,
        | CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
        |   / CAST(length(text) AS DOUBLE) AS alpha_ratio
        |FROM documents ORDER BY doc_id""".stripMargin,

    // Gopher repetition replay over the same chunk-line view as dedup_lines;
    // 2-grams come straight from the original token stream (8/8 chunking
    // partitions tokens, so the view re-tokenizes to the same words).
    // Fractions are exact-integer IEEE divisions — identical trees both
    // engines (cast numerator to DOUBLE, divide by the raw count).
    "text_repetition" ->
      """WITH t AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS words
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, words,
        |    unnest(range(0,
        |      1 + CAST(ceil(greatest(len(words) - 8, 0) / 8.0) AS INT))) AS cn
        |  FROM t),
        |lines AS (
        |  SELECT doc_id,
        |    array_to_string(words[cn*8 + 1 : cn*8 + 8], ' ') AS line
        |  FROM c),
        |pl AS (
        |  SELECT doc_id, line, COUNT(*) AS c, max(len(line)) AS l
        |  FROM lines GROUP BY 1, 2),
        |la AS (
        |  SELECT doc_id, sum(c) AS n_lines, sum(c) - COUNT(*) AS n_dup,
        |    sum((c - 1) * l) AS dup_chars, sum(c * l) AS total_chars
        |  FROM pl GROUP BY 1),
        |g AS (
        |  SELECT doc_id, CASE WHEN len(words) >= 2
        |      THEN list_transform(range(1, len(words)),
        |        i -> words[i] || ' ' || words[i + 1])
        |      ELSE [array_to_string(words, ' ')] END AS grams
        |  FROM t),
        |gr AS (SELECT doc_id, unnest(grams) AS gram FROM g),
        |pg AS (SELECT doc_id, gram, COUNT(*) AS c FROM gr GROUP BY 1, 2),
        |ga AS (SELECT doc_id, max(c) AS top_c, sum(c) AS n_grams FROM pg GROUP BY 1)
        |SELECT CAST(la.doc_id AS BIGINT) AS doc_id,
        |  CAST(la.n_lines AS BIGINT) AS n_lines,
        |  CAST(la.n_dup AS DOUBLE) / CAST(la.n_lines AS BIGINT) AS dup_line_frac,
        |  CASE WHEN la.total_chars > 0
        |    THEN CAST(la.dup_chars AS DOUBLE) / CAST(la.total_chars AS BIGINT)
        |    ELSE 0.0 END AS dup_line_char_frac,
        |  CAST(ga.top_c AS DOUBLE) / CAST(ga.n_grams AS BIGINT) AS top_2gram_frac
        |FROM la JOIN ga USING (doc_id) ORDER BY doc_id""".stripMargin,

    "text_langid" -> langIdOracle,

    // langIdOracle's predictions aggregated against the gold lang column
    "text_langid_confusion" ->
      s"""WITH p AS ($langIdOracle)
        |SELECT lang AS gold_lang, pred_lang, CAST(count(*) AS BIGINT) AS n
        |FROM p GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "text_fingerprint" ->
      """SELECT CAST(doc_id AS BIGINT) AS doc_id,
        | md5(array_to_string(list_sort(list_distinct(
        |   string_split_regex(trim(text), '\s+'))), ' ')) AS fingerprint
        |FROM documents ORDER BY doc_id""".stripMargin,

    "text_bpe_tokens" -> bpeTokensOracle,

    // full training replay: 12 unrolled rounds of (pair-count over the
    // delimiter-encoded word table, argmax with the (cnt desc, x, y)
    // tiebreak, literal merge replace) — w/m CTEs MATERIALIZED because the
    // w-chain is referenced twice per round and DuckDB would otherwise
    // re-execute the prefix exponentially
    "text_bpe_train" -> graft.operators.BpeTrain.oracleSql(12, 2000),
    "text_bpe_e2e" -> graft.operators.BpeTrain.e2eOracleSql(12, 2000),

    "mm_media_meta" ->
      """SELECT CAST(doc_id AS BIGINT) AS media_id, 'text/plain' AS mime,
        | CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
        | md5(text) AS content_hash
        |FROM documents ORDER BY media_id""".stripMargin,

    "search_bm25" ->
      """WITH q(query_id, term) AS (VALUES (1,'hash'),(1,'join'),(2,'window'),
        |  (2,'scan'),(3,'stream'),(3,'batch'),(3,'dup'),(4,'sort'),
        |  (4,'merge'),(4,'join'),(5,'spark'),(5,'table')),
        |tok AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS term
        |        FROM documents WHERE length(trim(text)) > 0),
        |post AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
        |         FROM tok GROUP BY 1, 2),
        |dl AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl FROM tok GROUP BY 1),
        |stats AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |            CAST((SELECT COUNT(*) FROM tok) AS BIGINT) AS l
        |          FROM documents),
        |dfq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM post
        |        WHERE term IN (SELECT term FROM q) GROUP BY 1),
        |sc AS (SELECT q.query_id, p.doc_id,
        |         ((2*(s.n - f.df) + 1) * 1000000) // (2*f.df + 1) AS idf_fp,
        |         (44*p.tf*s.l*1000000) // (20*p.tf*s.l + 6*s.l + 18*s.n*d.dl) AS tfc_fp
        |       FROM post p JOIN q USING (term) JOIN dfq f ON p.term = f.term
        |         JOIN dl d ON p.doc_id = d.doc_id CROSS JOIN stats s),
        |agg AS (SELECT query_id, doc_id,
        |          CAST(SUM((idf_fp * tfc_fp) // 1000000) AS BIGINT) AS score_fp,
        |          CAST(COUNT(*) AS BIGINT) AS n_terms
        |        FROM sc GROUP BY 1, 2),
        |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
        |        ORDER BY score_fp DESC, doc_id) AS rnk FROM agg)
        |SELECT CAST(query_id AS BIGINT) AS query_id, CAST(rnk AS BIGINT) AS rnk,
        |  CAST(doc_id AS BIGINT) AS doc_id, score_fp, n_terms
        |FROM r WHERE rnk <= 10 ORDER BY query_id, rnk""".stripMargin,

    "match_fuzzy" ->
      """WITH clean AS (SELECT CAST(c_custkey AS BIGINT) AS id, c_name AS name
        |               FROM customer),
        |dirty AS (SELECT id,
        |            substr(name, 1, CAST(id % len(name) AS INTEGER)) ||
        |            substr(name, CAST(id % len(name) AS INTEGER) + 2) AS name
        |          FROM clean),
        |lk AS (SELECT id, name, unnest(list_distinct(list_prepend(name,
        |         [substr(name, 1, CAST(i AS INTEGER) - 1) ||
        |          substr(name, CAST(i AS INTEGER) + 1)
        |          for i in range(1, len(name) + 1)]))) AS k FROM dirty),
        |rk AS (SELECT id, name, unnest(list_distinct(list_prepend(name,
        |         [substr(name, 1, CAST(i AS INTEGER) - 1) ||
        |          substr(name, CAST(i AS INTEGER) + 1)
        |          for i in range(1, len(name) + 1)]))) AS k FROM clean),
        |cand AS (SELECT DISTINCT l.id AS dirty_id, r.id AS clean_id,
        |           l.name AS ln, r.name AS rn
        |         FROM lk l JOIN rk r USING (k))
        |SELECT dirty_id, clean_id, CAST(levenshtein(ln, rn) AS BIGINT) AS dist
        |FROM cand WHERE levenshtein(ln, rn) <= 1
        |ORDER BY dirty_id, clean_id""".stripMargin,

    "events_gap_fill" ->
      """WITH ev AS (SELECT CAST(user_id AS BIGINT) AS user_id,
        |              epoch_us(ts) // 3600000000 AS bucket, value
        |            FROM events WHERE user_id % 10 = 0),
        |pb AS (SELECT user_id, bucket, max(value) AS v,
        |         CAST(COUNT(*) AS BIGINT) AS n
        |       FROM ev GROUP BY 1, 2),
        |spans AS (SELECT user_id, min(bucket) AS lo, max(bucket) AS hi
        |          FROM pb GROUP BY 1),
        |grid AS (SELECT user_id, unnest(generate_series(lo, hi)) AS bucket
        |         FROM spans),
        |j AS (SELECT g.user_id, g.bucket, pb.v, coalesce(pb.n, 0) AS n
        |      FROM grid g LEFT JOIN pb
        |        ON g.user_id = pb.user_id AND g.bucket = pb.bucket)
        |SELECT user_id, CAST(bucket AS BIGINT) AS bucket,
        |  last_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY bucket
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_filled,
        |  CAST(n AS BIGINT) AS n_events
        |FROM j ORDER BY user_id, bucket""".stripMargin,

    "text_pmi_bigrams" ->
      """WITH tok AS (SELECT string_split_regex(trim(text), '\s+') AS ts
        |             FROM documents WHERE length(trim(text)) > 0),
        |uni AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS c
        |        FROM (SELECT unnest(ts) AS w FROM tok) GROUP BY 1),
        |tot AS (SELECT CAST(SUM(c) AS BIGINT) AS t FROM uni),
        |big AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c_xy FROM (
        |          SELECT ts[i] AS w1, ts[i+1] AS w2
        |          FROM (SELECT unnest(range(1, len(ts))) AS i, ts
        |                FROM tok WHERE len(ts) >= 2))
        |        GROUP BY 1, 2),
        |sc AS (SELECT b.w1, b.w2, b.c_xy, x.c AS c_x, y.c AS c_y,
        |         (b.c_xy * t.t * 1000000) // (x.c * y.c) AS score_fp
        |       FROM big b JOIN uni x ON b.w1 = x.w JOIN uni y ON b.w2 = y.w
        |         CROSS JOIN tot t
        |       WHERE b.c_xy >= 5),
        |r AS (SELECT *, row_number() OVER (ORDER BY score_fp DESC, w1, w2) AS rnk
        |      FROM sc)
        |SELECT CAST(rnk AS BIGINT) AS rnk, w1, w2, c_xy, c_x, c_y, score_fp
        |FROM r WHERE rnk <= 30 ORDER BY rnk""".stripMargin,

    "events_funnel" ->
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS ord FROM events),
        |s1 AS (SELECT user_id, MIN(ord) AS o FROM e
        |       WHERE event_type = 'signup' GROUP BY 1),
        |s2 AS (SELECT e.user_id, MIN(e.ord) AS o FROM e
        |       JOIN s1 ON e.user_id = s1.user_id AND e.ord > s1.o
        |       WHERE e.event_type = 'view' GROUP BY 1),
        |s3 AS (SELECT e.user_id, MIN(e.ord) AS o FROM e
        |       JOIN s2 ON e.user_id = s2.user_id AND e.ord > s2.o
        |       WHERE e.event_type = 'click' GROUP BY 1),
        |s4 AS (SELECT e.user_id, MIN(e.ord) AS o FROM e
        |       JOIN s3 ON e.user_id = s3.user_id AND e.ord > s3.o
        |       WHERE e.event_type = 'purchase' GROUP BY 1),
        |c AS (SELECT (SELECT COUNT(*) FROM s1) AS c1,
        |             (SELECT COUNT(*) FROM s2) AS c2,
        |             (SELECT COUNT(*) FROM s3) AS c3,
        |             (SELECT COUNT(*) FROM s4) AS c4)
        |SELECT * FROM (
        |  SELECT CAST(1 AS BIGINT) AS step, 'signup' AS step_name,
        |    CAST(c1 AS BIGINT) AS n_users,
        |    CAST(c1 AS DOUBLE) / CAST(c1 AS DOUBLE) AS conv_rate FROM c
        |  UNION ALL SELECT 2, 'view', CAST(c2 AS BIGINT),
        |    CAST(c2 AS DOUBLE) / CAST(c1 AS DOUBLE) FROM c
        |  UNION ALL SELECT 3, 'click', CAST(c3 AS BIGINT),
        |    CAST(c3 AS DOUBLE) / CAST(c1 AS DOUBLE) FROM c
        |  UNION ALL SELECT 4, 'purchase', CAST(c4 AS BIGINT),
        |    CAST(c4 AS DOUBLE) / CAST(c1 AS DOUBLE) FROM c)
        |ORDER BY step""".stripMargin,

    "events_retention" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) // 604800000000 AS bucket
        |           FROM events),
        |c AS (SELECT user_id, MIN(bucket) AS cohort FROM e GROUP BY 1),
        |a AS (SELECT DISTINCT c.cohort, e.bucket - c.cohort AS week_offset,
        |             e.user_id
        |      FROM e JOIN c ON e.user_id = c.user_id)
        |SELECT CAST(cohort AS BIGINT) AS cohort,
        |  CAST(week_offset AS BIGINT) AS week_offset,
        |  COUNT(*) AS n_users
        |FROM a GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "events_anomaly" ->
      """WITH b AS (SELECT event_type, epoch_us(ts) // 86400000000 AS day,
        |             SUM(CAST(value AS DECIMAL(12,2))) AS total
        |           FROM events GROUP BY 1, 2),
        |r AS (SELECT *,
        |        row_number() OVER (PARTITION BY event_type
        |                           ORDER BY total, day) AS rn,
        |        COUNT(*) OVER (PARTITION BY event_type) AS n
        |      FROM b),
        |m AS (SELECT *, MAX(CASE WHEN rn = (n + 1) // 2 THEN total END)
        |        OVER (PARTITION BY event_type) AS med
        |      FROM r),
        |d AS (SELECT *, ABS(total - med) AS dev,
        |        row_number() OVER (PARTITION BY event_type
        |                           ORDER BY ABS(total - med), day) AS dn
        |      FROM m),
        |x AS (SELECT *, MAX(CASE WHEN dn = (n + 1) // 2 THEN dev END)
        |        OVER (PARTITION BY event_type) AS mad
        |      FROM d)
        |SELECT event_type, CAST(day AS BIGINT) AS day,
        |  CAST(total AS DOUBLE) AS total, CAST(med AS DOUBLE) AS med,
        |  CAST(mad AS DOUBLE) AS mad,
        |  CAST(CASE WHEN dev > 3 * mad THEN 1 ELSE 0 END AS BIGINT)
        |    AS is_anomaly
        |FROM x ORDER BY event_type, day""".stripMargin,

    "events_transitions" ->
      """WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS ord
        |           FROM events),
        |p AS (SELECT lag(event_type)
        |        OVER (PARTITION BY user_id ORDER BY ord, event_id)
        |        AS from_type, event_type AS to_type
        |      FROM e),
        |c AS (SELECT from_type, to_type, COUNT(*) AS n FROM p
        |      WHERE from_type IS NOT NULL GROUP BY 1, 2)
        |SELECT from_type, to_type, CAST(n AS BIGINT) AS n,
        |  CAST(n AS DOUBLE) /
        |    CAST(SUM(n) OVER (PARTITION BY from_type) AS DOUBLE) AS p
        |FROM c ORDER BY from_type, to_type""".stripMargin,

    "q_exact_group_median" ->
      """WITH v AS (SELECT o_orderpriority,
        |             CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100
        |               AS BIGINT) AS c
        |           FROM orders),
        |r AS (SELECT o_orderpriority, c,
        |        row_number() OVER (PARTITION BY o_orderpriority ORDER BY c)
        |          AS rn,
        |        COUNT(*) OVER (PARTITION BY o_orderpriority) AS n
        |      FROM v)
        |SELECT o_orderpriority, CAST(MAX(n) AS BIGINT) AS n_orders,
        |  CAST(MAX(CASE WHEN rn = GREATEST(1, (n + 1) // 2) THEN c END)
        |    AS BIGINT) AS p50_cents,
        |  CAST(MAX(CASE WHEN rn = GREATEST(1, (n + 1) // 2) THEN c END)
        |    AS DOUBLE) / 100 AS p50,
        |  CAST(MAX(CASE WHEN rn = GREATEST(1, (9 * n + 9) // 10) THEN c END)
        |    AS BIGINT) AS p90_cents
        |FROM r GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q_exact_customer_median" ->
      """WITH v AS (SELECT o_custkey,
        |             CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100
        |               AS BIGINT) AS c
        |           FROM orders),
        |r AS (SELECT o_custkey, c,
        |        row_number() OVER (PARTITION BY o_custkey ORDER BY c) AS rn,
        |        COUNT(*) OVER (PARTITION BY o_custkey) AS n
        |      FROM v),
        |med AS (SELECT o_custkey, c AS median_cents FROM r
        |        WHERE rn = GREATEST(1, (n + 1) // 2))
        |SELECT cu.c_mktsegment,
        |  CAST(COUNT(*) AS BIGINT) AS n_customers,
        |  CAST(SUM(m.median_cents) AS BIGINT) AS sum_median_cents,
        |  CAST(MIN(m.median_cents) AS BIGINT) AS min_median_cents,
        |  CAST(MAX(m.median_cents) AS BIGINT) AS max_median_cents
        |FROM med m JOIN customer cu ON cu.c_custkey = m.o_custkey
        |GROUP BY cu.c_mktsegment ORDER BY cu.c_mktsegment""".stripMargin,

    "q_linreg_trend" ->
      """WITH e AS (
        |  SELECT event_type, epoch_us(ts) // 86400000000 AS x,
        |    CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS y
        |  FROM events),
        |m AS (
        |  SELECT event_type, COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
        |    SUM(x * y) AS sxy, SUM(x * x) AS sxx
        |  FROM e GROUP BY 1),
        |s AS (
        |  SELECT event_type, n, sx, sy,
        |    (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        |       - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
        |    (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |       - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |      AS slope_cents_per_day
        |  FROM m)
        |SELECT event_type, CAST(n AS BIGINT) AS n, slope_cents_per_day,
        |  (CAST(sy AS DOUBLE) - slope_cents_per_day * CAST(sx AS DOUBLE))
        |    / CAST(n AS DOUBLE) AS icept_cents
        |FROM s ORDER BY event_type""".stripMargin,

    "q_exact_global_median" ->
      """WITH v AS (SELECT CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100
        |             AS BIGINT) AS c FROM lineitem),
        |n AS (SELECT COUNT(*) AS cnt FROM v),
        |r AS (SELECT c, row_number() OVER (ORDER BY c) AS rn FROM v),
        |t AS (SELECT 'p50' AS q, GREATEST(1, (cnt + 1) // 2) AS rk FROM n
        |      UNION ALL
        |      SELECT 'p99', GREATEST(1, (99 * cnt + 99) // 100) FROM n)
        |SELECT t.q, CAST(t.rk AS BIGINT) AS rnk,
        |  CAST(r.c AS BIGINT) AS value_cents,
        |  CAST(r.c AS DOUBLE) / 100 AS value
        |FROM t JOIN r ON r.rn = t.rk ORDER BY t.q""".stripMargin,

    "events_funnel_latency" ->
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS ord FROM events),
        |s1 AS (SELECT user_id, MIN(ord) AS o FROM e
        |       WHERE event_type = 'signup' GROUP BY 1),
        |s2 AS (SELECT e.user_id, MIN(e.ord) AS o FROM e
        |       JOIN s1 ON e.user_id = s1.user_id AND e.ord > s1.o
        |       WHERE e.event_type = 'view' GROUP BY 1),
        |s3 AS (SELECT e.user_id, MIN(e.ord) AS o FROM e
        |       JOIN s2 ON e.user_id = s2.user_id AND e.ord > s2.o
        |       WHERE e.event_type = 'click' GROUP BY 1),
        |s4 AS (SELECT e.user_id, MIN(e.ord) AS o FROM e
        |       JOIN s3 ON e.user_id = s3.user_id AND e.ord > s3.o
        |       WHERE e.event_type = 'purchase' GROUP BY 1),
        |a AS (SELECT 2 AS step, 'view' AS step_name, s2.o - s1.o AS lat
        |        FROM s2 JOIN s1 ON s2.user_id = s1.user_id
        |      UNION ALL
        |      SELECT 3, 'click', s3.o - s2.o FROM s3
        |        JOIN s2 ON s3.user_id = s2.user_id
        |      UNION ALL
        |      SELECT 4, 'purchase', s4.o - s3.o FROM s4
        |        JOIN s3 ON s4.user_id = s3.user_id),
        |r AS (SELECT step, step_name, lat,
        |        row_number() OVER (PARTITION BY step ORDER BY lat) AS rn,
        |        COUNT(*) OVER (PARTITION BY step) AS n
        |      FROM a)
        |SELECT CAST(step AS BIGINT) AS step, step_name,
        |  CAST(MAX(n) AS BIGINT) AS n_users,
        |  CAST(MAX(CASE WHEN rn = GREATEST(1, (n + 1) // 2) THEN lat END)
        |    AS BIGINT) AS p50_us,
        |  CAST(MAX(CASE WHEN rn = GREATEST(1, (9 * n + 9) // 10) THEN lat END)
        |    AS BIGINT) AS p90_us
        |FROM r GROUP BY step, step_name ORDER BY step""".stripMargin,

    "match_entities" ->
      """WITH RECURSIVE
        |clean AS (SELECT CAST(c_custkey AS BIGINT) AS id,
        |            c_name || '-' ||
        |            substr(md5(CAST(CAST(c_custkey AS BIGINT) AS VARCHAR)),
        |              1, 8) AS name
        |          FROM customer),
        |d1 AS (SELECT id + 1000000 AS id,
        |         substr(name, 1, CAST(id % len(name) AS INTEGER)) ||
        |         substr(name, CAST(id % len(name) AS INTEGER) + 2) AS name
        |       FROM clean),
        |d2 AS (SELECT id + 2000000 AS id,
        |         substr(name, 1, CAST((id + 7) % len(name) AS INTEGER)) ||
        |         substr(name, CAST((id + 7) % len(name) AS INTEGER) + 2)
        |           AS name
        |       FROM clean),
        |allr AS (SELECT * FROM clean UNION ALL SELECT * FROM d1
        |         UNION ALL SELECT * FROM d2),
        |lk AS (SELECT id, name, unnest(list_distinct(list_prepend(name,
        |         [substr(name, 1, CAST(i AS INTEGER) - 1) ||
        |          substr(name, CAST(i AS INTEGER) + 1)
        |          for i in range(1, len(name) + 1)]))) AS k FROM allr),
        |cand AS (SELECT DISTINCT l.id AS a, r.id AS b,
        |           l.name AS ln, r.name AS rn
        |         FROM lk l JOIN lk r USING (k) WHERE l.id < r.id),
        |good AS (SELECT a, b FROM cand WHERE levenshtein(ln, rn) <= 1),
        |edges AS (SELECT a, b FROM good UNION SELECT b, a FROM good),
        |closure(a, b) AS (
        |  SELECT a, b FROM edges
        |  UNION
        |  SELECT c.a, e.b FROM closure c JOIN edges e ON c.b = e.a),
        |grp AS (SELECT a AS id, least(a, MIN(b)) AS eid
        |        FROM closure GROUP BY a)
        |SELECT r.id, CAST(COALESCE(g.eid, r.id) AS BIGINT) AS entity_id
        |FROM allr r LEFT JOIN grp g ON r.id = g.id
        |ORDER BY r.id""".stripMargin
  )

  /** Exact word-3-gram jaccard ≥ 0.8 pairs — oracle for both the exact
    * shingle-join operator and the MinHash-LSH operator (at k=64/bands=16 the
    * LSH candidate recall at j≥0.8 is >0.9998 and candidates are verified
    * with exact jaccard, so both return the identical pair set on this data).
    */
  private val ngramPairsCtes: String =
    """sh AS (
      |  SELECT doc_id, list_distinct(
      |    [array_to_string(words[i:i+2], ' ') FOR i IN range(1, len(words)-1)]) AS s
      |  FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS words FROM documents) t),
      |pairs AS (
      |  SELECT a.doc_id AS da, b.doc_id AS db,
      |    len(list_intersect(a.s, b.s)) AS i,
      |    len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)) AS u
      |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id)""".stripMargin

  /** Replays the df-capped near-dup semantics exactly: rare-shingle
    * blocking (distinct-doc df <= 20 on the shingle STRING — no engine
    * hash anywhere, that's what makes the capped variant replayable),
    * size-ratio pruning, exact-jaccard verify. Unlike [[ngramPairsCtes]]
    * this never forms the O(n²) pair set, so the sf0.1 sweep is cheap.
    * Shared CTEs are MATERIALIZED (DuckDB inlines multiply-referenced
    * CTEs — the round-8 258s-vs-7s lesson).
    */
  /** CTEs replaying [[Dedup.ngramJaccardPairsCapped]]'s candidate + verify
    * stages up to a `pairs(da, db, i, u)` relation — the same shape
    * [[ngramPairsCtes]] exposes, so [[ccClosureCtes]] composes over the
    * CAPPED pair set too (dedup_groups_capped).
    */
  private val cappedPairsCtes: String =
    """sh AS MATERIALIZED (
      |  SELECT doc_id, list_distinct(
      |    [array_to_string(words[i:i+2], ' ') FOR i IN range(1, len(words)-1)]) AS s
      |  FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS words
      |        FROM documents) t),
      |occ AS MATERIALIZED (
      |  SELECT doc_id, len(s) AS n_sh, unnest(s) AS g FROM sh),
      |rare AS MATERIALIZED (
      |  SELECT g FROM occ GROUP BY g HAVING count(*) <= 20),
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
      |  FROM occ a JOIN rare USING (g) JOIN occ b USING (g)
      |  WHERE a.doc_id < b.doc_id
      |    AND CAST(a.n_sh AS DOUBLE) >= 0.8 * b.n_sh
      |    AND CAST(b.n_sh AS DOUBLE) >= 0.8 * a.n_sh),
      |pairs AS (
      |  SELECT da, db, len(list_intersect(sa.s, sb.s)) AS i,
      |    len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s)) AS u
      |  FROM cand
      |  JOIN sh sa ON sa.doc_id = cand.da
      |  JOIN sh sb ON sb.doc_id = cand.db)""".stripMargin

  private val cappedNgramOracle: String =
    s"""WITH $cappedPairsCtes
      |SELECT CAST(da AS BIGINT) AS doc_a, CAST(db AS BIGINT) AS doc_b,
      |  CAST(i AS DOUBLE) / CAST(u AS DOUBLE) AS jaccard
      |FROM pairs WHERE CAST(i AS DOUBLE) / CAST(u AS DOUBLE) >= 0.8
      |ORDER BY doc_a, doc_b""".stripMargin

  /** dedup_groups over the CAPPED pair set: same CC closure as
    * [[dedupGroupsOracle]], edges from [[cappedPairsCtes]].
    */
  private val dedupGroupsCappedOracle: String =
    s"""WITH $cappedPairsCtes,
      |${ccClosureCtes(4)}
      |SELECT CAST(v AS BIGINT) AS doc_id,
      |  CAST(m AS BIGINT) AS canonical_id
      |FROM cc ORDER BY doc_id""".stripMargin

  private val winnowFpOracle: String =
    """WITH t AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS words
      |  FROM documents),
      |g AS (
      |  SELECT doc_id, len(words) AS m,
      |    unnest(range(0, greatest(len(words) - 3, 0) + 1)) AS s, words
      |  FROM t),
      |h AS (
      |  SELECT doc_id, s, greatest(m - 3, 0) + 1 AS eff,
      |    CAST(concat('0x',
      |      substr(md5(array_to_string(words[s+1 : s+3], ' ')), 1, 15))
      |      AS BIGINT) AS h
      |  FROM g),
      |wm AS (
      |  SELECT doc_id, s, eff,
      |    min(h) OVER (PARTITION BY doc_id ORDER BY s
      |      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
      |  FROM h)
      |SELECT DISTINCT CAST(doc_id AS BIGINT) AS doc_id, fp
      |FROM wm WHERE s <= eff - 4 OR s = 0
      |ORDER BY doc_id, fp""".stripMargin

  /** Full replay of the trained IVF pipeline (ivfTopK with md5Init,
    * iters=2, nlist=16, nprobe=4): md5-smallest init, two unrolled Lloyd
    * iterations (argmax-dot assignment → per-cell/per-dim mean → spherical
    * renormalize, empty cells keep their centroid), then the same
    * assignment/probe/rank stages as the seeded-IVF oracle. Dots run in
    * index order on both engines (bit-identical); only the per-cell avg is
    * order-sensitive (accepted last-ulp risk, see the query comment).
    */
  private val annIvfTrainedOracle: String =
    """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
      |c0 AS (
      |  SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)),
      |      CAST(vec_id AS VARCHAR)) - 1 AS cell,
      |    list_transform(e, x -> x / sqrt(list_dot_product(e, e))) AS ce
      |  FROM (SELECT vec_id, e FROM v
      |        ORDER BY md5(CAST(vec_id AS VARCHAR)), CAST(vec_id AS VARCHAR)
      |        LIMIT 16)),
      |a0 AS (
      |  SELECT v.vec_id, c0.cell FROM v, c0
      |  QUALIFY row_number() OVER (PARTITION BY v.vec_id
      |    ORDER BY list_dot_product(v.e, c0.ce) DESC, c0.cell) = 1),
      |m0 AS (
      |  SELECT a0.cell, i.i, avg(v.e[i.i + 1]) AS m
      |  FROM a0 JOIN v USING (vec_id), range(64) i(i)
      |  GROUP BY 1, 2),
      |n0 AS (
      |  SELECT cell, lst, sqrt(list_dot_product(lst, lst)) AS nrm
      |  FROM (SELECT cell, list(m ORDER BY i) AS lst FROM m0 GROUP BY cell)),
      |c1 AS (
      |  SELECT c0.cell,
      |    coalesce(list_transform(n0.lst, x -> x / n0.nrm), c0.ce) AS ce
      |  FROM c0 LEFT JOIN n0 USING (cell)),
      |a1 AS (
      |  SELECT v.vec_id, c1.cell FROM v, c1
      |  QUALIFY row_number() OVER (PARTITION BY v.vec_id
      |    ORDER BY list_dot_product(v.e, c1.ce) DESC, c1.cell) = 1),
      |m1 AS (
      |  SELECT a1.cell, i.i, avg(v.e[i.i + 1]) AS m
      |  FROM a1 JOIN v USING (vec_id), range(64) i(i)
      |  GROUP BY 1, 2),
      |n1 AS (
      |  SELECT cell, lst, sqrt(list_dot_product(lst, lst)) AS nrm
      |  FROM (SELECT cell, list(m ORDER BY i) AS lst FROM m1 GROUP BY cell)),
      |c2 AS (
      |  SELECT c1.cell,
      |    coalesce(list_transform(n1.lst, x -> x / n1.nrm), c1.ce) AS ce
      |  FROM c1 LEFT JOIN n1 USING (cell)),
      |assign AS (
      |  SELECT v.vec_id, c2.cell FROM v, c2
      |  QUALIFY row_number() OVER (PARTITION BY v.vec_id
      |    ORDER BY list_dot_product(v.e, c2.ce) DESC, c2.cell) = 1),
      |probe AS (
      |  SELECT v.vec_id AS query_id, c2.cell FROM v, c2 WHERE v.vec_id < 10
      |  QUALIFY row_number() OVER (PARTITION BY v.vec_id
      |    ORDER BY list_dot_product(v.e, c2.ce) DESC, c2.cell) <= 4),
      |cand AS (
      |  SELECT p.query_id, a.vec_id AS neighbor_id
      |  FROM probe p JOIN assign a ON p.cell = a.cell
      |  WHERE p.query_id <> a.vec_id),
      |ranked AS (
      |  SELECT cand.query_id, cand.neighbor_id,
      |    list_cosine_similarity(qv.e, cv.e) AS cosine
      |  FROM cand JOIN v qv ON qv.vec_id = cand.query_id
      |  JOIN v cv ON cv.vec_id = cand.neighbor_id)
      |SELECT query_id, neighbor_id,
      |  row_number() OVER (PARTITION BY query_id
      |    ORDER BY cosine DESC, neighbor_id) AS rnk
      |FROM ranked QUALIFY rnk <= 10""".stripMargin

  /** DuckDB replay of [[graft.functions.Kernels.hilbertPos]] for d=2,
    * bits=16 over (l_partkey, l_suppkey) — Skilling's AxesToTranspose with
    * the Q-loop unrolled into chained CTEs. Each iteration's intermediate
    * aliases carry the iteration number: DuckDB resolves a bare repeated
    * alias name to the previous CTE's COLUMN, not the new lateral alias,
    * which silently corrupts every iteration after the first. The final
    * stage applies the Gray encode, the XOR accumulator in closed form
    * (bit c of t = popcount(y >> (c+1)) mod 2 — the loop XORs (2^j)-1 for
    * every set bit j ≥ 1, so bit c flips once per set bit above it), and
    * the transposed-bit interleave (axis 0 most significant).
    */
  private val hilbertOracle16: String = {
    val bits = 16
    val max = (1L << bits) - 1
    val head =
      s"""h0 AS (SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
         |  CAST(least(greatest(l_partkey, 0), $max) AS BIGINT) AS x0,
         |  CAST(least(greatest(l_suppkey, 0), $max) AS BIGINT) AS y0
         |  FROM lineitem)""".stripMargin
    val steps = (1 until bits).map { k =>
      val q = 1L << (bits - k); val p = q - 1; val a = k - 1
      val drop = if (k == 1) s"x$a, y$a" else s"x$a, y$a, xa$a, tt$a"
      s"""h$k AS (SELECT * EXCLUDE ($drop),
         |  CASE WHEN (x$a & $q) != 0 THEN xor(x$a, $p) ELSE x$a END AS xa$k,
         |  xor(xa$k, y$a) & $p AS tt$k,
         |  CASE WHEN (y$a & $q) != 0 THEN xor(xa$k, $p)
         |       ELSE xor(xa$k, tt$k) END AS x$k,
         |  CASE WHEN (y$a & $q) != 0 THEN y$a ELSE xor(y$a, tt$k) END AS y$k
         |  FROM h$a)""".stripMargin
    }
    val l = bits - 1
    val tail =
      s"""hg AS (SELECT * EXCLUDE (x$l, y$l, xa$l, tt$l),
         |  xor(y$l, x$l) AS yg,
         |  list_sum([(bit_count(yg >> (c + 1)) % 2) << c
         |            FOR c IN range(0, ${bits - 1})]) AS tg,
         |  xor(x$l, tg) AS xf, xor(yg, tg) AS yf,
         |  list_sum([((xf >> j) & 1) << (2*j + 1) FOR j IN range(0, $bits)])
         |  + list_sum([((yf >> j) & 1) << (2*j) FOR j IN range(0, $bits)]) AS h
         |  FROM h$l)""".stripMargin
    (Seq("WITH " + head) ++ steps ++ Seq(tail)).mkString(",\n") +
      """
        |SELECT CAST(l_orderkey AS BIGINT) AS l_orderkey,
        |  CAST(l_linenumber AS BIGINT) AS l_linenumber,
        |  CAST(l_partkey AS BIGINT) AS l_partkey,
        |  CAST(l_suppkey AS BIGINT) AS l_suppkey, CAST(h AS BIGINT) AS h
        |FROM hg ORDER BY h, l_orderkey, l_linenumber LIMIT 100""".stripMargin
  }

  private val annCosineOracle: String =
    """WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
      |           FROM embeddings WHERE vec_id < 10),
      |c AS (SELECT vec_id AS nid, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
      |s AS (SELECT qid, nid, list_cosine_similarity(qv, cv) AS cos
      |      FROM q JOIN c ON qid <> nid),
      |r AS (SELECT qid, nid,
      |        row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rnk
      |      FROM s)
      |SELECT CAST(qid AS BIGINT) AS query_id, CAST(nid AS BIGINT) AS neighbor_id,
      |       CAST(rnk AS BIGINT) AS rnk
      |FROM r WHERE rnk <= 10 ORDER BY query_id, rnk""".stripMargin

  private val annIvfOracle: String =
    """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |cent AS (
        |  SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)),
        |      CAST(vec_id AS VARCHAR)) - 1 AS cell,
        |    e, sqrt(list_dot_product(e, e)) AS nrm
        |  FROM (SELECT vec_id, e FROM v
        |        ORDER BY md5(CAST(vec_id AS VARCHAR)), CAST(vec_id AS VARCHAR)
        |        LIMIT 16)),
        |sc AS (
        |  SELECT v.vec_id, cent.cell,
        |    list_dot_product(v.e, cent.e) / cent.nrm AS score
        |  FROM v, cent),
        |assign AS (
        |  SELECT vec_id, cell FROM sc
        |  QUALIFY row_number() OVER (PARTITION BY vec_id
        |    ORDER BY score DESC, cell) = 1),
        |probe AS (
        |  SELECT vec_id AS query_id, cell FROM sc WHERE vec_id < 10
        |  QUALIFY row_number() OVER (PARTITION BY vec_id
        |    ORDER BY score DESC, cell) <= 4),
        |cand AS (
        |  SELECT p.query_id, a.vec_id AS neighbor_id
        |  FROM probe p JOIN assign a ON p.cell = a.cell
        |  WHERE p.query_id <> a.vec_id),
        |ranked AS (
        |  SELECT cand.query_id, cand.neighbor_id,
        |    list_cosine_similarity(qv.e, cv.e) AS cosine
        |  FROM cand JOIN v qv ON qv.vec_id = cand.query_id
        |  JOIN v cv ON cv.vec_id = cand.neighbor_id)
        |SELECT CAST(query_id AS BIGINT) AS query_id,
        |  CAST(neighbor_id AS BIGINT) AS neighbor_id,
        |  CAST(row_number() OVER (PARTITION BY query_id
        |    ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rnk
        |FROM ranked QUALIFY rnk <= 10 ORDER BY query_id, rnk""".stripMargin

  private val annLshOracle: String =
    """WITH v AS (SELECT vec_id, embedding AS e FROM embeddings),
      |w AS (
      |  SELECT t, p, d,
      |    CASE WHEN (CAST(concat('0x',
      |        substr(md5('lsh' || t || ':' || p || ':' || (d // 60)), 1, 15))
      |      AS BIGINT) >> (d % 60)) & 1 = 1 THEN 1.0 ELSE -1.0 END AS wt
      |  FROM range(4) tt(t), range(8) pp(p), range(64) dd(d)),
      |proj AS (
      |  SELECT v.vec_id, w.t, w.p, sum(v.e[w.d + 1] * w.wt) AS pr
      |  FROM v, w GROUP BY 1, 2, 3),
      |bkt AS (
      |  SELECT vec_id, t,
      |    CAST(sum(CASE WHEN pr >= 0 THEN CAST(1 AS BIGINT) << p ELSE 0 END)
      |      AS BIGINT) AS bucket
      |  FROM proj GROUP BY 1, 2),
      |qb AS (
      |  SELECT b.vec_id AS query_id, b.t, xor(b.bucket, m.m) AS bucket
      |  FROM bkt b, (VALUES (CAST(0 AS BIGINT)), (1), (2), (4), (8)) m(m)
      |  WHERE b.vec_id < 10),
      |cand AS (
      |  SELECT DISTINCT q.query_id, c.vec_id AS neighbor_id
      |  FROM qb q JOIN bkt c ON q.t = c.t AND q.bucket = c.bucket
      |  WHERE q.query_id <> c.vec_id),
      |sc AS (
      |  SELECT cand.query_id, cand.neighbor_id,
      |    list_cosine_similarity(CAST(qv.e AS DOUBLE[]),
      |      CAST(cv.e AS DOUBLE[])) AS cosine
      |  FROM cand JOIN v qv ON qv.vec_id = cand.query_id
      |  JOIN v cv ON cv.vec_id = cand.neighbor_id)
      |SELECT CAST(query_id AS BIGINT) AS query_id,
      |  CAST(neighbor_id AS BIGINT) AS neighbor_id,
      |  CAST(row_number() OVER (PARTITION BY query_id
      |    ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rnk
      |FROM sc QUALIFY rnk <= 10 ORDER BY query_id, rnk""".stripMargin

  private val ngramJaccardOracle: String =
    s"""WITH $ngramPairsCtes
      |SELECT CAST(da AS BIGINT) AS doc_a, CAST(db AS BIGINT) AS doc_b,
      |  CAST(i AS DOUBLE) / CAST(u AS DOUBLE) AS jaccard
      |FROM pairs WHERE CAST(i AS DOUBLE) / CAST(u AS DOUBLE) >= 0.8
      |ORDER BY doc_a, doc_b""".stripMargin

  /** Connected components over the ngram pair graph, replayed as K=4
    * UNROLLED min-label propagate+jump rounds — the same pointer-jumping
    * scheme as [[graft.operators.Dedup.duplicateGroups]], not a recursive
    * closure: the unbounded `WITH RECURSIVE` closure was the one oracle
    * whose DuckDB replay exploded at sf0.1 (a 25-minute standalone attempt
    * while the engine side finishes in ~4 s), which left the four CC
    * queries verified at sf0.01 only. Per round every node takes the
    * minimum label in its neighborhood (propagate), then its label's label
    * (jump), so label reach at least doubles per round: K rounds converge
    * for any component of diameter ≤ 2^K. Near-dup components are tiny
    * cliques (diameter ≤ 2 at every tested SF); K=4 is generous margin and
    * a K-vs-K+1 equality sweep at sf0.01 AND sf0.1 pins convergence.
    * The graph CTEs are MATERIALIZED because DuckDB would otherwise inline
    * (re-execute) the O(n²) `pairs` CTE into every `edges` reference.
    * Emits `cc(v, m)` = (node, component minimum) for nodes with edges.
    */
  private def ccClosureCtes(k: Int): String = {
    // one EXTRA round (k+1) exists purely as a convergence witness: if any
    // node's label still moves between round k and k+1 (a component deeper
    // than 2^k — nothing planted produces one, but the oracle must not be
    // silently wrong if the data ever does), the guard raises a loud DuckDB
    // error instead of hash-flagging a correct engine result.
    val rounds = (1 to (k + 1)).map { r =>
      val p = s"m${r - 1}"
      s"""t$r AS MATERIALIZED (
        |  SELECT $p.v, least($p.m, nm.m) AS m
        |  FROM $p JOIN (SELECT e.a AS v, min($p.m) AS m
        |                FROM edges e JOIN $p ON $p.v = e.b GROUP BY e.a) nm
        |    ON nm.v = $p.v),
        |m$r AS MATERIALIZED (
        |  SELECT x.v, least(x.m, y.m) AS m
        |  FROM t$r x JOIN t$r y ON y.v = x.m)""".stripMargin
    }.mkString(",\n")
    s"""good AS (SELECT da, db FROM pairs
      |         WHERE CAST(i AS DOUBLE) / CAST(u AS DOUBLE) >= 0.8),
      |edges AS MATERIALIZED (SELECT da AS a, db AS b FROM good
      |          UNION SELECT db, da FROM good),
      |m0 AS MATERIALIZED (
      |  SELECT a AS v, least(a, min(b)) AS m FROM edges GROUP BY a),
      |$rounds,
      |ccchk AS MATERIALIZED (
      |  SELECT count(*) AS n FROM m$k x JOIN m${k + 1} y
      |  ON x.v = y.v AND x.m <> y.m),
      |cc AS (SELECT x.v,
      |  CASE WHEN ccchk.n > 0 THEN CAST(error(
      |    'cc oracle: pointer jumping not converged in $k rounds') AS BIGINT)
      |  ELSE x.m END AS m FROM m$k x, ccchk)""".stripMargin
  }

  /** Replays the engine's EXACT default BPE merges table (generated from
    * the same `BpeTable.defaultMerges` constant): per DISTINCT word, the
    * symbol sequence rides as a chr(31)-delimited string and each rule in
    * rank order is applied as 5 nested delimiter-framed `replace` calls —
    * left-to-right non-overlapping replacement merges at least every other
    * remaining occurrence per pass, so 5 passes converge for words up to 32
    * characters (corpus max is 8). The `chk` CTE is the convergence
    * witness: if ANY rule's pair substring survives in a final word state,
    * the oracle raises a loud DuckDB error instead of hash-flagging a
    * correct engine result (the ccClosureCtes discipline). Distinct words
    * first: the synthetic vocabulary is tiny, so the merge loop runs once
    * per word type and per-doc counts come from a multiplicity join.
    */
  private val bpeTokensOracle: String = {
    // single-delimiter replace is NOT greedy-equivalent for self-pair rules
    // (x == y): on a run of 6+ identical symbols the replace consumes the
    // shared delimiter and converges to a LONGER tokenization than the
    // kernel's left-to-right pass ('xxxxxx' → 4 tokens vs 3), and the chk
    // witness cannot fire because a fixpoint IS reached. Guard loudly here;
    // a learned table with a self-pair rule must go through the BpeTrain
    // double-delimiter encoding instead (its flanking-space re-emission
    // preserves greedy consecutive merging — see text_bpe_e2e).
    require(graft.functions.BpeTable.defaultMerges.forall { case (x, y) => x != y },
      "bpeTokensOracle: self-pair merge rule (x == y) is not replayable by " +
        "the single-delimiter encoding — use the double-delimiter replay")
    val r = graft.functions.BpeTable.defaultMerges.size
    val rep = (1 to 5).foldLeft("st.t")((acc, _) => s"replace($acc, m.p, m.q)")
    s"""WITH RECURSIVE merges(r, x, y) AS ${graft.functions.BpeTable.defaultMergesSql},
      |dw AS (SELECT DISTINCT unnest(string_split_regex(trim(text), '\\s+')) AS w
      |       FROM documents WHERE length(trim(text)) > 0),
      |st AS (
      |  SELECT w,
      |    chr(31) || array_to_string([w[i] for i in range(1, len(w)+1)],
      |      chr(31)) || chr(31) AS t,
      |    0 AS r
      |  FROM dw
      |  UNION ALL
      |  SELECT st.w, $rep, st.r + 1
      |  FROM st JOIN (SELECT r, chr(31)||x||chr(31)||y||chr(31) AS p,
      |                       chr(31)||x||y||chr(31) AS q FROM merges) m
      |    ON m.r = st.r + 1
      |  WHERE st.r < $r),
      |fin AS (SELECT w, CAST(len(string_split(t, chr(31))) - 2 AS BIGINT) AS n, t
      |        FROM st WHERE r = $r),
      |chk AS (SELECT count(*) AS bad FROM fin JOIN merges m
      |        ON contains(fin.t, chr(31)||m.x||chr(31)||m.y||chr(31))),
      |wc AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS w
      |       FROM documents WHERE length(trim(text)) > 0),
      |agg AS (SELECT wc.doc_id, sum(fin.n) AS n_bpe FROM wc JOIN fin USING (w)
      |        GROUP BY 1)
      |SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
      |  CASE WHEN (SELECT bad FROM chk) > 0
      |       THEN CAST(error('bpe oracle: merges not converged in 5 replace passes') AS BIGINT)
      |       ELSE CAST(coalesce(agg.n_bpe, 0) AS BIGINT) END AS n_bpe
      |FROM documents d LEFT JOIN agg ON d.doc_id = agg.doc_id
      |ORDER BY doc_id""".stripMargin
  }

  private val dedupGroupsOracle: String =
    s"""WITH $ngramPairsCtes,
      |${ccClosureCtes(4)}
      |SELECT CAST(v AS BIGINT) AS doc_id,
      |  CAST(m AS BIGINT) AS canonical_id
      |FROM cc ORDER BY doc_id""".stripMargin

  private val dedupCanonicalOracle: String =
    s"""WITH $ngramPairsCtes,
      |${ccClosureCtes(4)},
      |grp AS (
      |  SELECT CAST(v AS BIGINT) AS doc_id,
      |    CAST(m AS BIGINT) AS canonical_id
      |  FROM cc),
      |q AS (
      |  SELECT g.canonical_id, g.doc_id,
      |    CAST(len(string_split_regex(trim(d.text), '\\s+')) AS BIGINT)
      |      AS n_tokens
      |  FROM grp g JOIN documents d ON g.doc_id = d.doc_id),
      |r AS (
      |  SELECT canonical_id, doc_id, n_tokens, row_number() OVER (
      |    PARTITION BY canonical_id ORDER BY n_tokens DESC, doc_id) AS rn
      |  FROM q),
      |a AS (
      |  SELECT canonical_id, CAST(count(*) AS BIGINT) AS n_docs,
      |    CAST(sum(n_tokens) AS BIGINT) AS total_tokens
      |  FROM q GROUP BY 1)
      |SELECT a.canonical_id, r.doc_id AS keep_id, a.n_docs, a.total_tokens
      |FROM a JOIN r ON a.canonical_id = r.canonical_id AND r.rn = 1
      |ORDER BY a.canonical_id""".stripMargin

  private val langIdOracle: String = {
    def inList(ws: Seq[String]) = ws.map(w => s"'$w'").mkString(", ")
    val hits = TF.stopwords.map { case (lang, ws) =>
      s"len(list_filter(ws, x -> x IN (${inList(ws)}))) AS h_$lang"
    }.mkString(",\n   ")
    // CASE order must mirror TextFunctions.langId: first (alphabetical) lang
    // reaching the max wins; all-zero → 'und'.
    """WITH t AS (SELECT doc_id, lang,
      |   string_split_regex(trim(text), '\s+') AS ws FROM documents),
      |h AS (SELECT doc_id, lang,
      |   HITS
      | FROM t)
      |SELECT CAST(doc_id AS BIGINT) AS doc_id, lang,
      | CASE
      |  WHEN h_de >= h_en AND h_de >= h_es AND h_de >= h_fr AND h_de >= h_zh AND h_de > 0 THEN 'de'
      |  WHEN h_en >= h_es AND h_en >= h_fr AND h_en >= h_zh AND h_en > 0 THEN 'en'
      |  WHEN h_es >= h_fr AND h_es >= h_zh AND h_es > 0 THEN 'es'
      |  WHEN h_fr >= h_zh AND h_fr > 0 THEN 'fr'
      |  WHEN h_zh > 0 THEN 'zh'
      |  ELSE 'und' END AS pred_lang
      |FROM h ORDER BY doc_id""".stripMargin.replace("HITS", hits)
  }
}
