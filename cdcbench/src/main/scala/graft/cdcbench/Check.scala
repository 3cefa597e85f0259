package graft.cdcbench

import scala.collection.mutable

/** The output check. For every committed epoch and target it takes the
  * generator's log and the epoch's end offsets, derives the routed
  * (entry, target) pairs, and walks the target stream in order: after the
  * `[]` priming entry, an epoch's chunks are the next entries whose ids add
  * up to the epoch's distinct routed ids. That attributes every chunk to the
  * epoch that wrote it, so the same id in two epochs is told apart.
  */
final case class CheckResult(
    attempted: Long, missing: Long, duplicates: Long, oversize: Long,
    unexpected: Long, badPriming: Long, trailingChunks: Long,
    latenciesMs: Array[Double], measuredPairs: Long, measuredIdsOut: Long,
    lateMs: Array[Double], inversions: Long, xadds: Long) {
  /** Pairs missing from their epoch's output, ids emitted twice within an
    * epoch and target, chunks over `target.size`, ids no entry routed there,
    * and target streams not opened by the priming entry. */
  def failed: Long = missing + duplicates + oversize + unexpected + badPriming
}

object Check {
  private def parseIds(s: String): Array[Long] = {
    val inner = s.stripPrefix("[").stripSuffix("]")
    if (inner.isEmpty) Array.emptyLongArray else inner.split(',').map(_.toLong)
  }

  /** `measured`: epochs whose pairs give latency samples; `startMs(s, i, b)`:
    * when the clock of entry `i` of stream `s`, read by epoch `b`, starts,
    * in epoch ms. */
  def apply(d: RoundData, measured: Set[Long],
            startMs: (Int, Int, Long) => Double): CheckResult = {
    val wl = d.wl
    val tables = wl.tables
    var attempted, missing, duplicates, oversize, unexpected, badPriming, trailing = 0L
    var measuredPairs, measuredIdsOut, inversions, xadds = 0L
    val lat = mutable.ArrayBuilder.make[Double]
    val late = mutable.ArrayBuilder.make[Double]

    // per epoch, per stream: (first index, end index exclusive) into the log
    val ranges = d.epochs.map(e => e -> tables.indices.map(s => d.range(e, s)))
    if (wl.openLoop)
      for ((e, rs) <- ranges if measured(e.batchId); s <- tables.indices; i <- rs(s)._1 until rs(s)._2)
        late += (d.logs(s).sent(i) - d.logs(s).due(i)) / 1e6

    for (target <- wl.targets) {
      val chunks = d.chunks.getOrElse(Workloads.TargetPrefix + target, Nil).toIndexedSeq
      var pos = 0
      if (chunks.headOption.exists(_._2 == "[]")) pos = 1 else badPriming += 1
      val feeding = tables.indices.filter(s => wl.routes(tables(s)).contains(target))
      for ((e, rs) <- ranges) {
        val isMeasured = measured(e.batchId)
        val expected = mutable.HashSet[Long]()
        for (s <- feeding; i <- rs(s)._1 until rs(s)._2) expected += d.logs(s).entity(i)
        // id -> (chunk number within the epoch, first-seen ns)
        val out = mutable.HashMap[Long, (Int, Long)]()
        var got = 0
        var chunkNo = 0
        while (got < expected.size && pos < chunks.size) {
          val (_, ids, seenNs) = chunks(pos)
          val xs = parseIds(ids)
          if (xs.length > wl.targetSize) oversize += 1
          xs.foreach { id =>
            if (out.contains(id)) duplicates += 1 else out(id) = (chunkNo, seenNs)
            if (!expected(id)) unexpected += 1
          }
          got += xs.length
          chunkNo += 1
          pos += 1
          xadds += 1
        }
        if (isMeasured) measuredIdsOut += got
        for (s <- feeding) {
          val firstInStream = mutable.HashSet[Long]()
          var maxChunk = -1
          for (i <- rs(s)._1 until rs(s)._2) {
            val id = d.logs(s).entity(i)
            attempted += 1
            out.get(id) match {
              case None => missing += 1
              case Some((c, seenNs)) =>
                if (isMeasured) {
                  measuredPairs += 1
                  lat += d.toMs(seenNs) - startMs(s, i, e.batchId)
                }
                // chunk membership against per-stream arrival order
                if (firstInStream.add(id)) {
                  if (c < maxChunk) inversions += 1
                  maxChunk = math.max(maxChunk, c)
                }
            }
          }
        }
      }
      trailing += chunks.size - pos
    }
    CheckResult(attempted, missing, duplicates, oversize, unexpected, badPriming, trailing,
      lat.result(), measuredPairs, measuredIdsOut, late.result(), inversions, xadds)
  }
}
