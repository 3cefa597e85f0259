package graft.cdcbench

import java.util.SplittableRandom

/** The three benchmark workloads. The topology of each is fixed; only the
  * event contents (entity ids, after-image padding) come from the seed.
  *
  * Every table routes one column, `entity_id`, to its targets, so each
  * source entry carries one entity id and fans out to `routes(table)`.
  */
final case class Workload(
    name: String,
    tables: IndexedSeq[String],
    routes: Map[String, Seq[String]],
    /** "extended" (body `key`/`value`, ~1 KB after-image) or "compact"
      * (one field holding a ~60 B envelope) */
    format: String,
    acknowledge: String,
    sourceSize: Int,
    dedupeTimeMs: Long,
    targetSize: Int,
    /** serve the source and target through the RESP2 stand-in */
    wire: Boolean,
    /** open-loop offered rate in rows/s over all streams; 0 = closed drain */
    rate: Double,
    /** drains: entries preloaded per stream before the plane starts */
    backlogPerStream: Int,
    /** uniform ids over `keySpace`, or Zipf-like with this exponent */
    keySpace: Int,
    zipfS: Double,
    /** leading epochs of the measured round left out of the window: the
      * JVM's compilers are still busy after the warm-up rounds */
    warmEpochs: Int) {

  def openLoop: Boolean = rate > 0
  def targets: Seq[String] = routes.values.flatten.toSeq.distinct.sorted

  /** The `watch` config, in the schema of `config.example.yaml`. */
  def configYaml: String = {
    val mapping = tables.map { t =>
      s"  $t:\n    entity_id: [${routes(t).mkString(", ")}]"
    }.mkString("\n")
    s"""source:
       |  format: $format
       |  prefix: ${Workloads.SourcePrefix}
       |  group: graft
       |  consumer: graft-1
       |  acknowledge: $acknowledge
       |  connection: { host: 127.0.0.1, port: 6379, db: 0 }
       |buffers:
       |  source: { size: $sourceSize, time: 1000 }
       |  dedupe: { size: 100000, time: $dedupeTimeMs }
       |  target: { size: $targetSize, time: 1000 }
       |target:
       |  prefix: ${Workloads.TargetPrefix}
       |  connection: { host: 127.0.0.1, port: 6379, db: 1 }
       |mapping:
       |$mapping
       |""".stripMargin
  }
}

object Workloads {
  val SourcePrefix = "cdc."
  val TargetPrefix = "target."

  /** The deployed shape: 24 tables → 10 targets over 58 edges (10 tables at
    * fan-out 3, 14 at fan-out 2). The reference's exact mapping is not in the
    * repository, so this generated one fixes only its shape.
    */
  private val deployedTables = (0 until 24).map(i => f"t$i%02d")
  private val deployedRoutes: Map[String, Seq[String]] =
    deployedTables.zipWithIndex.map { case (t, i) =>
      val offs = if (i < 10) Seq(0, 3, 7) else Seq(0, 5)
      t -> offs.map(o => s"idx${(i + o) % 10}").sorted
    }.toMap

  /** 4 streams → 3 targets; `hot` is fed by all four. */
  private val hotTables = (0 until 4).map(i => s"h$i")
  private val hotRoutes: Map[String, Seq[String]] = hotTables.zipWithIndex.map {
    case (t, i) => t -> Seq("hot", if (i < 2) "left" else "right")
  }.toMap

  /** `toy` shrinks every size for the self-test; the shapes stay. */
  def apply(name: String, seconds: Int, toy: Boolean): Workload = name match {
    case "steady_fanout" =>
      // config.example.yaml's buffers: 1000/1 s source, 100k/5 s dedupe,
      // 1000/1 s target; 100 rows/s per stream
      Workload(name, deployedTables, deployedRoutes, "extended", "delete",
        sourceSize = 1000, dedupeTimeMs = 5000, targetSize = 1000, wire = false,
        rate = if (toy) 240.0 else 2400.0, backlogPerStream = 0,
        keySpace = 10000000, zipfS = 0.0, warmEpochs = 2)
    case "drain_hot_keys" =>
      // catch-up buffers: the count arm bounds every epoch; the 1 s time
      // arm is well below an epoch (~2 s), so the plane never idles
      val perEpoch = if (toy) 500 else 25000
      Workload(name, hotTables, hotRoutes, "compact", "simple",
        sourceSize = perEpoch, dedupeTimeMs = 1000, targetSize = 1000, wire = false,
        rate = 0.0, backlogPerStream = perEpoch * drainEpochs(seconds, toy),
        keySpace = 10000, zipfS = 1.2, warmEpochs = drainWarm(toy))
    case "drain_wire" =>
      val perEpoch = if (toy) 20 else 1000
      Workload(name, deployedTables, deployedRoutes, "extended", "delete",
        sourceSize = perEpoch, dedupeTimeMs = 1000, targetSize = 1000, wire = true,
        rate = 0.0, backlogPerStream = perEpoch * drainEpochs(seconds, toy),
        keySpace = 10000000, zipfS = 0.0, warmEpochs = drainWarm(toy))
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (steady_fanout|drain_hot_keys|drain_wire)")
  }

  private def drainWarm(toy: Boolean): Int = if (toy) 1 else 2

  /** Warm-up epochs plus measured epochs, about one per 2.5 s asked. */
  private def drainEpochs(seconds: Int, toy: Boolean): Int =
    drainWarm(toy) + (if (toy) 2 else math.max(3, math.round(seconds / 2.5).toInt))
}

/** Seeded event contents. An entry is a pure function of (seed, stream,
  * index), so the checker and the traced probe can regenerate any body.
  */
final class EventGen(wl: Workload, seed: Long) {
  private def rng(stream: Int, idx: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ (stream.toLong << 40) ^ idx)

  private val padding: Array[String] = {
    val r = new SplittableRandom(seed)
    val alphabet = "abcdefghijklmnopqrstuvwxyz0123456789"
    Array.fill(256)(Array.fill(72)(alphabet.charAt(r.nextInt(alphabet.length))).mkString)
  }

  private val zipfCdf: Array[Double] =
    if (wl.zipfS <= 0) Array.emptyDoubleArray
    else {
      val w = Array.tabulate(wl.keySpace)(k => 1.0 / math.pow(k + 1, wl.zipfS))
      val total = w.sum
      var acc = 0.0
      w.map { x => acc += x; acc / total }
    }

  def entityId(stream: Int, idx: Long): Int = {
    val r = rng(stream, idx)
    if (zipfCdf.isEmpty) r.nextInt(wl.keySpace)
    else {
      val i = java.util.Arrays.binarySearch(zipfCdf, r.nextDouble())
      math.min(if (i >= 0) i else -i - 1, wl.keySpace - 1)
    }
  }

  /** The XADD field list of entry `idx` of stream `stream`. */
  def body(stream: Int, idx: Long): Seq[(String, String)] = {
    val id = entityId(stream, idx)
    val table = wl.tables(stream)
    if (wl.format == "compact")
      Seq("payload" -> s"""{"before":null,"after":{"entity_id":$id},"op":"u"}""")
    else {
      val r = rng(stream, idx ^ 0x5DEECE66DL)
      val sb = new java.lang.StringBuilder(1200)
      sb.append("""{"before":null,"after":{"entity_id":""").append(id)
      var c = 1
      while (c <= 12) {
        sb.append(",\"c").append(c).append("\":\"").append(padding(r.nextInt(256))).append('"')
        c += 1
      }
      sb.append("},\"source\":{\"db\":\"shop\",\"table\":\"").append(table)
        .append("\"},\"op\":\"u\",\"ts_ms\":").append(1700000000000L + idx).append('}')
      Seq("key" -> s"""{"entity_id":$id}""", "value" -> sb.toString)
    }
  }
}
