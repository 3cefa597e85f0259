package graft.cdc

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Fan-out routing — the reference's multicast (WatchStream.java:347-352).
  *
  * The mapping is O(100) rows and lives on the driver, so fan-out needs no
  * join: [[CdcPipeline.parseAndRoute]] compiles the edges into a CASE on
  * `table` whose branches are literal (column, target) arrays, and `inline`
  * replicates each input row to its k targets map-side — zero shuffle of the
  * fact side, exactly like the reference's k `emitNext` calls.
  */
object Routing {

  /** Materialize routes as a small DataFrame (table, column, target). */
  def routesDf(spark: SparkSession, config: CdcConfig): DataFrame = {
    import spark.implicits._
    config.routes.toDF("table", "column", "target")
  }
}
