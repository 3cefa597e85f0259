package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's scale-oriented defaults.
  *
  * Defaults chosen for a large cluster but correct in `local[N]`:
  *   - AQE on (runtime re-plan: skew-join splitting, partition coalescing,
  *     broadcast-join demotion/promotion at 100 TB input sizes).
  *   - shuffle.partitions sized by caller (`max(cores, 8)` in [[local]];
  *     thousands on a real cluster — AQE coalesces down so
  *     over-provisioning is safe).
  *   - UTC session time zone for oracle parity.
  *   - `nanosAsLong` so nanosecond parquet timestamps (events.ts) load as
  *     LongType instead of failing the scan; [[Tables]] normalizes them.
  */
object GraftSession {
  def local(cores: Int = Runtime.getRuntime.availableProcessors()): SparkSession =
    tune(SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", math.max(cores, 8).toString)
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1"))
      .getOrCreate()

  /** Off-heap RocksDB keyed state — the 100 TB default for streaming
    * stateful ops (banded dedupe fingerprints, buffers): the in-heap HDFS
    * provider OOMs once state outgrows executor heap. Either the
    * `GRAFT_STATE_STORE=rocksdb` env or `graft.stateStore=rocksdb` system
    * property flips it on; a query can also set the conf directly.
    */
  val RocksDbProvider =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Apply engine defaults to any builder (used by Verify/Bench/tests). */
  def tune(b: SparkSession.Builder): SparkSession.Builder = {
    val base = b
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.filterPushdown", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", (64 * 1024 * 1024).toString)
      // engine optimizer rules (each inert until its spark.graft.* conf is set)
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
    sys.env.get("GRAFT_STATE_STORE").orElse(sys.props.get("graft.stateStore"))
      .map(_.toLowerCase) match {
      case Some("rocksdb") =>
        base.config("spark.sql.streaming.stateStore.providerClass", RocksDbProvider)
      case _ => base
    }
  }
}
