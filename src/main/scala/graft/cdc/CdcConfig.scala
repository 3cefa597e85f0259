package graft.cdc

import com.fasterxml.jackson.databind.{DeserializationFeature, ObjectMapper}
import com.fasterxml.jackson.dataformat.yaml.YAMLFactory
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import java.nio.file.{Files, Paths}

/** Pipeline configuration — semantics of the reference's config schema
  * (ConfigParser.java:16-52, config.yaml): Redis-stream-shaped source/target
  * connection + prefixes, three count-or-time buffer knobs, and the routing
  * `mapping` table → column → list-of-targets.
  *
  * The mapping is this engine's only "dimension table"; it is tiny (tens of
  * edges), lives on the driver, and is compiled into the fan-out expression
  * (see [[Routing]]) — never joined or shuffled.
  */
final case class Connection(host: String = "127.0.0.1", port: Int = 6379, db: Int = 0) {
  /** The `redis://host:port/db` URL `watch` connects to. */
  def url: String = s"redis://$host:$port/$db"
}

final case class SourceConf(
    format: String = "compact",          // compact | extended (ConfigParser.java:24)
    prefix: String = "",                 // stream name prefix (WatchStream.java:73)
    group: String = "cdc",
    consumer: String = "cdc",
    acknowledge: String = "simple",      // simple | delete (ConfigParser.java:31-35)
    connection: Connection = Connection())

final case class TargetConf(prefix: String = "", connection: Connection = Connection())

final case class Buffer(size: Int, time: Long) // count-OR-time flush (WatchStream.java:271,284)

final case class Buffers(
    source: Buffer = Buffer(1000, 1000),
    dedupe: Buffer = Buffer(100000, 5000),
    target: Buffer = Buffer(1000, 1000))

final case class CdcConfig(
    source: SourceConf = SourceConf(),
    target: TargetConf = TargetConf(),
    buffers: Buffers = Buffers(),
    /** table -> column -> targets (ConfigParser.java:20) */
    mapping: Map[String, Map[String, Seq[String]]] = Map.empty) {

  /** Flattened routing edges. Unlike the reference — which extracts only the
    * FIRST mapped column per table but fans out under every column's target
    * list (WatchStream.java:324 vs :338-352, see SURVEY §2.3) — we generalize:
    * each (table, column, target) edge routes that column's value. All shipped
    * reference configs have one column per table, so behavior is identical.
    */
  def routes: Seq[Route] =
    for {
      (table, cols) <- mapping.toSeq.sortBy(_._1)
      (column, targets) <- cols.toSeq.sortBy(_._1)
      target <- targets
    } yield Route(table, column, target)
}

final case class Route(table: String, column: String, target: String)

object CdcConfig {
  private def mapper(yaml: Boolean): ObjectMapper = {
    val m = if (yaml) new ObjectMapper(new YAMLFactory()) else new ObjectMapper()
    m.registerModule(DefaultScalaModule)
    m.configure(DeserializationFeature.FAIL_ON_UNKNOWN_PROPERTIES, false)
    m
  }

  /** `.yaml`/`.yml` suffix selects the YAML reader, else JSON — same
    * dispatch as the reference loader (ConfigParser.java:55-62).
    */
  def load(path: String): CdcConfig = {
    val yaml = path.endsWith(".yaml") || path.endsWith(".yml")
    parse(new String(Files.readAllBytes(Paths.get(path)), "UTF-8"), yaml)
  }

  def parse(content: String, yaml: Boolean): CdcConfig =
    mapper(yaml).readValue(content, classOf[CdcConfig])
}
