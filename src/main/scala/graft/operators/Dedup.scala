package graft.operators

import graft.functions.{TextExpressions, TextFunctions, VectorFunctions}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import scala.util.chaining._

/** Document deduplication operators for training-data pipelines, each designed
  * for the 100 TB shape: no pairwise O(n²) over the full corpus — candidates
  * come from an equi-join key (content hash, LSH band, simhash block, shared
  * shingle), so Spark executes them as shuffled hash joins on bounded buckets.
  *
  * JOIN-STRATEGY CONTRACT: any join whose BOTH sides are corpus-cardinality
  * (df tables, rare-key tables, banded/blocked candidate self-joins, CC
  * label tables) is pinned to sort-merge with `.hint("merge")`. Left to size
  * stats, AQE broadcast-promotes these at mid scales — two-long or
  * hashed-key rows compress to under the 64 MB session threshold while the
  * in-memory hash build is 3-5× larger, and the round-15 100× rehearsal
  * measured the result as driver OOMs ("not enough memory to build and
  * broadcast") in the CC loop and the capped-pair path. A corpus-sized side
  * must never broadcast however small it compresses; SMJ is fully spillable
  * and reuses the upstream hash partitioning where one exists. Joins with a
  * genuinely bounded side (candidate pair lists, delta/touched sets) stay
  * unhinted — broadcasting the small side there is the right plan. Second
  * exception: joins on LOW-cardinality keys (quantizer cells) must not pin
  * SMJ — parallelism collapses to the key count ([[semanticDedupPairs]],
  * measured 15× at the 100× tier); their scale story is growing the key
  * cardinality (auto-nlist), and the CC loop pins SHUFFLE_HASH rather than
  * merge for its per-round joins (see [[duplicateGroups]]).
  */
object Dedup {

  /** Word n-gram shingles of a text column (n consecutive tokens joined),
    * WITH multiplicity — the list sibling of the distinct [[shingleSet]].
    * One codegen kernel pass (r17; was a transform/array_join lambda chain
    * evaluating interpreted, ~7× slower per row). Same short-doc convention:
    * fewer than n tokens yield one whole-text shingle.
    */
  def shingles(text: Column, n: Int): Column =
    graft.functions.TextExpressions.shingleList(TextFunctions.tokens(text), n)

  /** Distinct shingle set via the single-pass codegen kernel. */
  def shingleSet(text: Column, n: Int): Column =
    VectorFunctions.shingleSet(TextFunctions.tokens(text), n)

  /** `saltVerify` sentinel: derive the verify-join salt from the observed
    * candidate-pair skew (the default — at 100 TB the person who needs
    * salting is the one who didn't read the parameter list).
    */
  val AutoSalt: Int = 0

  /** Salt factor from candidate skew: the hottest doc's candidate count vs
    * the mean. Hot/mean ≤ 4 derives 1 (no salting, no plan change);
    * otherwise the salt spreads the hottest key to ≈4× the mean rows per
    * task, capped at 64 set-side replicas. The probe is one bounded
    * aggregate over the (already small) pair list.
    */
  private[operators] def deriveVerifySalt(cands: DataFrame): Int = {
    val row = cands
      .select(explode(array(col(cands.columns.head),
        col(cands.columns(1)))).as("d"))
      .groupBy("d").agg(count(lit(1)).as("c"))
      .agg(coalesce(max(col("c")), lit(0L)).as("mx"),
        coalesce(avg(col("c")), lit(0.0)).as("av")).head()
    val mx = row.getLong(0).toDouble
    val av = math.max(row.getDouble(1), 1.0)
    math.max(1, math.min(64, math.ceil(mx / (4.0 * av)).toInt))
  }

  /** Candidate-pair verify join: attach each side's shingle set to the
    * (doc_a, doc_b) candidate list. With salt > 1 both attach joins run
    * through [[SaltedJoin]] — a viral doc in millions of candidate pairs
    * otherwise pins one reducer, and AQE's skew split does not cover the
    * shuffle-HASH joins these compile to. The sets side has exactly one row
    * per doc, so its ×salt replication is cheap; the skewed pair rows are
    * what get spread. [[AutoSalt]] (the operators' default) materializes the
    * pair list once (`localCheckpoint` — the skew probe and the verify join
    * then both read it without re-running candidate generation) and derives
    * the salt via [[deriveVerifySalt]].
    */
  private def attachSets(cands0: DataFrame, sets: DataFrame, setCol: String,
                         salt: Int): DataFrame = {
    val (cands, s) =
      if (salt == AutoSalt) {
        val t0 = System.nanoTime()
        // lazy checkpoint: the salt probe's aggregate just below is the
        // materializing action, so checkpoint + probe cost ONE job instead
        // of two (the duplicateGroups adj pattern)
        val c = cands0.pipe(Lineage.cut)
        val derived = deriveVerifySalt(c)
        if (sys.props.contains("graft.debug.cc"))
          System.err.println(f"[salt] ckpt+probe ${(System.nanoTime() - t0) / 1e9}%.3f s -> $derived")
        (c, derived)
      } else (cands0, salt)
    val a = sets.select(col("doc").as("doc_a"), col(setCol).as("sa"))
    val b = sets.select(col("doc").as("doc_b"), col(setCol).as("sb"))
    if (s <= 1) cands.join(a, "doc_a").join(b, "doc_b")
    else SaltedJoin.inner(SaltedJoin.inner(cands, a, Seq("doc_a"), s),
      b, Seq("doc_b"), s)
  }

  /** Exact dedupe: group by content hash (md5 here; xxhash64 is cheaper but
    * md5 keeps oracle parity), canonical = min id. Pure hash aggregate with
    * map-side partial combine — the cheapest possible full-corpus dedupe.
    */
  def exact(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.groupBy(md5(col(textCol)).as("content_hash"))
      .agg(min(col(idCol)).as("canonical_id"), count(lit(1)).as("n_copies"))

  /** EXACT n-gram Jaccard near-dup pairs with prefix filtering (the
    * AllPairs/PPJoin candidate bound): order each doc's distinct shingles by
    * global rarity (df asc, shingle asc); if J(A,B) ≥ t, the first
    * ⌊(1−t)·|X|⌋+1 shingles of A and of B (in that same global order) must
    * intersect — so only PREFIX shingles enter the candidate self-join.
    * Candidates are then verified with exact jaccard over full shingle sets
    * (re-joined by id; texts/sets never ride through the candidate join —
    * see the pushdown note in [[minhashLshPairs]]).
    *
    * Scale: join fan-out drops from Σ df_s² over ALL shingles to Σ df'_s²
    * over prefix occurrences (~(1−t) of the data, and frequent shingles
    * rarely appear in prefixes). All shuffles are on bounded keys; no
    * O(n²) stage exists — but nothing bounds a hot shingle's PREFIX df,
    * so candidate volume is corpus-dependent and measured superlinear at
    * the 100× rehearsal tier (522× time at 100× data). This is the EXACT
    * tool for up to ~10× the bench corpus per node; past that reach for
    * [[incrementalNearDupPairs]] / [[minhashLshPairs]] /
    * [[ngramJaccardPairsCapped]] (README "choosing a near-dup operator by
    * tier" — all three measured near-linear at the 100× tier).
    */
  def ngramJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                        n: Int, threshold: Double,
                        saltVerify: Int = AutoSalt): DataFrame = {
    // materialize (doc, shingle set) ONCE: the set feeds the prefix-filter
    // branch AND both sides of the verify join — without the checkpoint each
    // consumer re-scans the corpus and re-runs the shingle kernel (3 full
    // passes at 100 TB). Lazy: the AutoSalt probe (or the first consumer)
    // is the materializing action — no construction-time job.
    val sets = docs.select(col(idCol).as("doc"),
      shingleSet(col(textCol), n).as("sh_set")).pipe(Lineage.cut)
    // candidate generation runs on 64-bit shingle hashes, not the strings:
    // same global (df, hash) prefix order for every doc (completeness needs
    // only a consistent total order), ~10× fewer shuffle bytes; collisions
    // can only add candidates, and exact-set verify removes those
    // kernel pass (r18): the transform(sh_set, s -> xxhash64(s)) HOF lambda
    // evaluated every shingle through CodegenFallback boxed eval; the kernel
    // hashes the whole set in one static call (seed 42 — bit-identical)
    val sh = sets.select(col("doc"), size(col("sh_set")).as("n_sh"),
      explode(TextExpressions.hashStrings64(col("sh_set"))).as("sh"))
    val dfreq = sh.groupBy("sh").agg(count(lit(1)).as("df"))
    // merge hints (here and on the candidate self-join): dfreq and ranked
    // are corpus-cardinality — see the join-strategy contract above. SMJ
    // reuses dfreq's groupBy partitioning on sh.
    val ranked = sh.join(dfreq.hint("merge"), "sh")
      .withColumn("rk", row_number().over(
        Window.partitionBy("doc").orderBy(col("df"), col("sh"))))
      // prefix length = |A| - ceil(t·|A|) + 1. NOT floor((1-t)·|A|)+1 in
      // doubles: 1.0-0.8 = 0.1999…96, so for |A| divisible by 5 the prefix
      // came out one short and true pairs were missed (found at sf0.1).
      // The epsilon guards ceil against the dual error (t·|A| = k - 1e-16).
      .filter(col("rk") <=
        col("n_sh") - ceil(lit(threshold) * col("n_sh") - lit(1e-9)) + 1)
      .select("doc", "n_sh", "sh")
    // size-ratio filter inside the candidate join: J ≥ t forces
    // |A|/|B| ∈ [t, 1/t] — kills most spurious prefix collisions for free.
    val cands = ranked.as("a").join(ranked.as("b").hint("merge"),
        col("a.sh") === col("b.sh") && col("a.doc") < col("b.doc") &&
          col("a.n_sh").cast("double") >= lit(threshold) * col("b.n_sh") &&
          col("b.n_sh").cast("double") >= lit(threshold) * col("a.n_sh"))
      .select(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"))
      .distinct()
    attachSets(cands, sets, "sh_set", saltVerify)
      .withColumn("jaccard", VectorFunctions.jaccard(col("sa"), col("sb")))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
  }

  /** Df-CAPPED n-gram Jaccard near-dup pairs — the bounded-cost variant of
    * [[ngramJaccardPairs]] for tiers where the exact prefix-filter join
    * goes superlinear (measured 522× time at 100× corpus in the scale
    * rehearsal: prefix candidates grow with Σ df'² and nothing bounds a
    * hot shingle's df').
    *
    * EXPLICIT RECALL CONTRACT (this is NOT the exact pair set): a pair is
    * emitted iff (a) the docs share at least one shingle occurring in at
    * most `maxDf` documents, and (b) exact Jaccard ≥ `threshold`. (b) is
    * verified over FULL shingle sets, so precision is exact — only pairs
    * whose every shared shingle is hotter than `maxDf` are missed, and
    * such pairs are boilerplate-only overlaps at any realistic cap (two
    * near-duplicate documents share their rare shingles by definition;
    * see the [[winnowContainmentPairs]] df-cap argument). Candidate cost
    * is Σ_{df(s) ≤ maxDf} df(s)² ≤ maxDf · |shingle occurrences| — LINEAR
    * in the corpus at fixed cap, the 100 TB contract the exact operator
    * cannot make.
    *
    * Blocking is rare-shingle equi-join (df ≤ maxDf over distinct doc
    * occurrences), deliberately NOT the prefix filter + cap: prefix
    * membership depends on the engine's xxhash64 tie-order, which no
    * external engine can replay — this formulation keeps the capped
    * output a pure function of (corpus, n, threshold, maxDf), so the
    * DuckDB oracle pins it bit for bit.
    */
  def ngramJaccardPairsCapped(docs: DataFrame, idCol: String, textCol: String,
                              n: Int, threshold: Double, maxDf: Long,
                              saltVerify: Int = AutoSalt): DataFrame = {
    require(maxDf >= 1, "ngramJaccardPairsCapped: maxDf must be >= 1")
    // same shared (doc, shingle set) checkpoint as the exact operator: it
    // feeds the blocking branch and both verify sides
    val sets = docs.select(col(idCol).as("doc"),
      shingleSet(col(textCol), n).as("sh_set")).pipe(Lineage.cut)
    // the blocking key is the shingle STRING, not a 64-bit hash: a hash
    // collision would inflate a rare shingle's df past the cap and DROP a
    // contractually-promised pair (the exact operator tolerates collisions
    // because they only ADD candidates there) — and string keys are what
    // the SQL oracle replays. The cap bounds per-key fanout, so key width
    // is no longer the dominant shuffle cost the hashing existed to cut.
    // NOTE (r18, tried and REVERTED): keying every SMJ stage on
    // (xxhash64(g), g) so sorts compare the 8-byte hash before the string
    // measured STRICTLY SLOWER in an interleaved same-JVM A/B of exactly
    // this candidate pipeline (OPTIMIZATION_r18.md §2: old 1.318/2.057 s
    // vs composite 1.494/2.283 s across two windows, candidate sets
    // identical) — the +8 B/row shuffle and the extra hash eval cost more
    // than the sort-compare savings on 3-word shingle keys. String keys
    // stand.
    val occ = sets.select(col("doc"), size(col("sh_set")).as("n_sh"),
      explode(col("sh_set")).as("g"))
    val rare = occ.groupBy("g").agg(count(lit(1)).as("_df"))
      .filter(col("_df") <= maxDf).select("g")
    // merge hints: rare and keyed are corpus-cardinality (the join-strategy
    // contract above) — the round-15 100× rehearsal OOM'd exactly here when
    // AQE broadcast-promoted the rare-shingle table
    val keyed = occ.join(rare.hint("merge"), "g")
    // size-ratio filter: J ≥ t forces |A|/|B| ∈ [t, 1/t] — drops no true
    // pair, kills spurious rare-key collisions for free
    val cands = keyed.as("a").join(keyed.as("b").hint("merge"),
        col("a.g") === col("b.g") && col("a.doc") < col("b.doc") &&
          col("a.n_sh").cast("double") >= lit(threshold) * col("b.n_sh") &&
          col("b.n_sh").cast("double") >= lit(threshold) * col("a.n_sh"))
      .select(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"))
      .distinct()
    attachSets(cands, sets, "sh_set", saltVerify)
      .withColumn("jaccard", VectorFunctions.jaccard(col("sa"), col("sb")))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
  }

  /** MinHash + LSH near-dup pairs: k-permutation signature per doc, banded
    * into `bands` groups of k/bands rows; docs colliding on any (band, band
    * signature) become candidates; candidates verified with exact jaccard.
    *
    * Scale: signature computation is a map-only pass; the LSH join shuffles
    * only (band, hash, doc) tuples — 16 longs per doc instead of the document
    * text. Verification re-joins texts only for the (rare) candidate pairs.
    */
  /** (doc, band, bhash) banding rows for the k-permutation minhash
    * signature — the shared sketch stage of [[minhashLshPairs]] and the
    * persisted [[buildMinhashIndex]] family; (n, k, bands, seed) are the
    * band family's identity.
    */
  private def bandedSignatures(docs: DataFrame, idCol: String,
                               textCol: String, n: Int, k: Int, bands: Int,
                               seed: Long): DataFrame = {
    require(k % bands == 0, "bands must divide k")
    val rows = k / bands
    val sigs = docs.select(col(idCol).as("doc"),
      VectorFunctions.minhashShingled(
        TextFunctions.tokens(col(textCol)), n, k, seed).as("sig"))
    // bands is a compile-time constant → unroll statically (stays codegen'd)
    val bandStructs = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        xxhash64(slice(col("sig"), b * rows + 1, rows)).as("bhash"))
    }
    sigs.select(col("doc"), explode(array(bandStructs: _*)).as("lsh"))
      .select(col("doc"), col("lsh.band"), col("lsh.bhash"))
  }

  def minhashLshPairs(docs: DataFrame, idCol: String, textCol: String,
                      n: Int, k: Int, bands: Int, threshold: Double,
                      seed: Long = 42L, saltVerify: Int = AutoSalt): DataFrame = {
    // ids + band hashes ONLY cross the LSH join — texts never shuffle with
    // the banded explosion. (Also avoids a Catalyst trap: verifying on
    // columns carried through the join lets the jaccard filter be pushed
    // into the join's post-condition, re-evaluating the non-codegen shingle
    // HOFs once per hash-bucket match — measured 100× slower.)
    val banded = bandedSignatures(docs, idCol, textCol, n, k, bands, seed)
    // merge hint: banded is corpus-cardinality (join-strategy contract)
    val cands = banded.as("a").join(banded.as("b").hint("merge"),
        col("a.band") === col("b.band") && col("a.bhash") === col("b.bhash") &&
          col("a.doc") < col("b.doc"))
      .select(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"))
      .distinct()
    // exact-jaccard verification: shingle SETS are computed once per doc in
    // a projection, then re-joined to the (rare) candidate pairs.
    val sets = docs.select(col(idCol).as("doc"), shingleSet(col(textCol), n).as("sh"))
    attachSets(cands, sets, "sh", saltVerify)
      .withColumn("jaccard", VectorFunctions.jaccard(col("sa"), col("sb")))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
  }

  /** Persist the minhash banding table as a bucketed+sorted managed table —
    * the corpus pays its sketch pass and shuffle ONCE; every later ingest
    * batch checks for near-duplicates against it without re-touching the
    * corpus (the [[graft.operators.SimilaritySearch.buildLshIndex]] pattern
    * applied to text dedup, which is what a daily 100 TB ingest actually
    * runs: dedupe TODAY'S documents against the whole accumulated corpus).
    *
    * Index rows are (band, bhash, doc) — 16 bytes + id per band per doc, no
    * text. Bucketed by the join keys (band, bhash), so the query-time
    * candidate join reads the index in place with NO index-side Exchange.
    * (n, k, bands, seed) are the index's identity; callers must pass the
    * same family to [[insertMinhashIndex]]/[[incrementalNearDupPairs]].
    */
  def buildMinhashIndex(docs: DataFrame, idCol: String, textCol: String,
                        table: String, n: Int, k: Int, bands: Int,
                        seed: Long = 42L, nBuckets: Int = 8): Unit =
    SimilaritySearch.saveBucketedTable(
      bandedSignatures(docs, idCol, textCol, n, k, bands, seed),
      table, Seq("band", "bhash"), nBuckets,
      org.apache.spark.sql.SaveMode.Overwrite)

  /** Fold an accepted ingest batch into the index: only the delta pays a
    * sketch pass; the append honors the table's bucket spec, so tomorrow's
    * batch still joins Exchange-free against corpus + today.
    */
  def insertMinhashIndex(delta: DataFrame, idCol: String, textCol: String,
                         table: String, n: Int, k: Int, bands: Int,
                         seed: Long = 42L, nBuckets: Int = 8): Unit =
    SimilaritySearch.saveBucketedTable(
      bandedSignatures(delta, idCol, textCol, n, k, bands, seed),
      table, Seq("band", "bhash"), nBuckets,
      org.apache.spark.sql.SaveMode.Append)

  /** Near-duplicate pairs between an ingest `delta` and the indexed corpus:
    * (doc_a = indexed doc, doc_b = delta doc, jaccard), exact-verified at
    * `threshold`. Cost model — the 100 TB ingest loop:
    *   - the DELTA pays one sketch pass (it is the small side);
    *   - the candidate join probes the pre-bucketed index in place;
    *   - the corpus pays one column-pruned (id, text) scan to fetch
    *     candidate texts, with the shingle kernel evaluated ONLY for
    *     candidate rows (ids join BEFORE the set projection); id-bucket the
    *     corpus text table to prune that fetch further;
    *   - exact-jaccard verify runs on the output-bounded candidate set.
    * Caller owns delta/corpus id-disjointness, as with the other indexes.
    */
  def incrementalNearDupPairs(delta: DataFrame, corpus: DataFrame,
                              idCol: String, textCol: String, table: String,
                              n: Int, k: Int, bands: Int, threshold: Double,
                              seed: Long = 42L): DataFrame = {
    val spark = delta.sparkSession
    val idx = spark.table(table)
    val deltaBanded =
      bandedSignatures(delta, idCol, textCol, n, k, bands, seed)
    // cands is referenced twice below (oldIds + the verify join); without a
    // lineage cut the index probe AND the delta banding would execute twice
    // per action, breaking the "delta pays ONE sketch pass" cost model
    val cands = Lineage.cut(
      idx.join(deltaBanded.withColumnRenamed("doc", "doc_b"),
          Seq("band", "bhash"))
        .select(col("doc").as("doc_a"), col("doc_b"))
        .distinct())
    // candidate ids filter the corpus BEFORE the shingle projection, so the
    // (non-codegen) shingle kernel runs only on candidate rows
    val oldIds = cands.select(col("doc_a").as("doc")).distinct()
    val oldSets = corpus.select(col(idCol).as("doc"), col(textCol).as("_t"))
      .join(oldIds, "doc")
      .select(col("doc"), shingleSet(col("_t"), n).as("sh"))
    val newSets = delta.select(col(idCol).as("doc"),
      shingleSet(col(textCol), n).as("sh"))
    cands
      .join(oldSets.select(col("doc").as("doc_a"), col("sh").as("sa")), "doc_a")
      .join(newSets.select(col("doc").as("doc_b"), col("sh").as("sb")), "doc_b")
      .withColumn("jaccard", VectorFunctions.jaccard(col("sa"), col("sb")))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
  }

  /** SimHash near-dup pairs at hamming distance ≤ maxDist. Pigeonhole
    * blocking: split the 64-bit fingerprint into maxDist+1 blocks; any pair
    * within distance must agree on ≥1 whole block, so candidates come from an
    * equi-join on (block_no, block_bits) and are verified with bit_count(xor).
    */
  def simhashPairs(docs: DataFrame, idCol: String, textCol: String,
                   maxDist: Int, seed: Long = 42L,
                   md5: Boolean = false): DataFrame = {
    val hashCol =
      if (md5) VectorFunctions.simhashMd5(TextFunctions.tokens(col(textCol)))
      else VectorFunctions.simhash(TextFunctions.tokens(col(textCol)), seed)
    fingerprintPairs(docs.select(col(idCol).as("doc"), hashCol.as("fp")),
      "doc", "fp", maxDist)
  }

  /** Pigeonhole-blocked near-dup pairs over ANY precomputed 64-bit
    * fingerprint column (SimHash, image dHash/pHash, audio fingerprints —
    * anything whose similarity measure is Hamming distance): split the 64
    * bits into maxDist+1 disjoint blocks; any pair within distance must
    * agree on at least one whole block, so candidates come from an
    * equi-join on (block_no, block_bits) and are verified with
    * bit_count(xor). Same scale contract as the SimHash operator it was
    * factored out of: ids + fingerprints only cross the join, per-bucket
    * fanout bounded by the block width.
    */
  def fingerprintPairs(fps: DataFrame, idCol: String, fpCol: String,
                       maxDist: Int): DataFrame = {
    require(maxDist >= 0 && maxDist < 64, "maxDist must be in [0, 64)")
    val nBlocks = maxDist + 1
    val width = 64 / nBlocks
    val fp = fps.select(col(idCol).as("doc"), col(fpCol).as("fp"))
    val blockStructs = (0 until nBlocks).map { b =>
      struct(lit(b).as("blk"),
        shiftright(col("fp"), b * width)
          .bitwiseAND(lit((1L << width) - 1)).as("bits"))
    }
    val blocked = fp.select(col("doc"), col("fp"),
        explode(array(blockStructs: _*)).as("p"))
      .select(col("doc"), col("fp"), col("p.blk"), col("p.bits"))
    // merge hint: blocked is corpus-cardinality (join-strategy contract)
    blocked.as("a").join(blocked.as("b").hint("merge"),
        col("a.blk") === col("b.blk") && col("a.bits") === col("b.bits") &&
          col("a.doc") < col("b.doc"))
      .select(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"),
        bit_count(col("a.fp").bitwiseXOR(col("b.fp"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxDist)
  }

  /** Embedding near-dup pairs: random-hyperplane LSH bucket join + exact
    * cosine verification with the codegen'd [[VectorFunctions.cosine]].
    * Hyperplane projections use deterministic pseudo-random planes derived
    * from xxhash64(bucket-plane index, dimension) — no driver-side RNG state.
    */
  def embeddingPairs(vecs: DataFrame, idCol: String, vecCol: String,
                     planes: Int, threshold: Double, seed: Long = 42L,
                     md5Tag: Option[String] = None): DataFrame = {
    // candidate generation on (id, bucket) only; vectors re-join afterwards
    // so the cosine threshold is evaluated once per candidate pair rather
    // than being pushed into the bucket join's condition. md5Tag switches to
    // the md5-derived plane family so a SQL oracle can rebuild the buckets.
    val sketch = md5Tag match {
      case Some(tag) => VectorFunctions.hyperplaneSketchMd5(col(vecCol), planes, tag)
      case None => VectorFunctions.hyperplaneSketch(col(vecCol), planes, seed)
    }
    val b = vecs.select(col(idCol).as("vid"), sketch.as("bucket"))
    // merge hint: the bucket table is corpus-cardinality (contract above)
    val cands = b.as("a").join(b.as("b").hint("merge"),
        col("a.bucket") === col("b.bucket") && col("a.vid") < col("b.vid"))
      .select(col("a.vid").as("id_a"), col("b.vid").as("id_b"))
    val v = vecs.select(col(idCol).as("vid"), col(vecCol).as("v"))
    cands
      .join(v.select(col("vid").as("id_a"), col("v").as("va")), "id_a")
      .join(v.select(col("vid").as("id_b"), col("v").as("vb")), "id_b")
      .select(col("id_a"), col("id_b"),
        VectorFunctions.cosine(col("va"), col("vb")).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** EXACT embedding near-dup pairs: all (a, b) with cosine ≥ threshold, by
    * full pairwise scoring. O(n²) — the correctness baseline / small-corpus
    * path only; [[embeddingPairs]] is the blocked scale path. Kept as an
    * operator because it is the cross-engine-checkable ground truth the
    * approximate variant is audited against.
    */
  def embeddingPairsExact(vecs: DataFrame, idCol: String, vecCol: String,
                          threshold: Double): DataFrame = {
    // norms once per ROW (map-side), dot once per PAIR: the pair loop is the
    // O(n²) hot path, so cosine = dot/(na*nb) does one array pass per pair
    // instead of three — measured 3x at sf0.1.
    // The stream side of the BroadcastNestedLoopJoin is REPARTITIONED to the
    // session's shuffle width (r17): a small-corpus parquet table is one
    // scan split, so the whole O(n²) pair loop otherwise runs in ONE task —
    // measured 1.9 executor-cpu-s inside 2.07 s wall on 32 cores at sf0.1.
    // The round-robin exchange moves |corpus| vector rows once, trivial next
    // to the n² compute it parallelizes; the broadcast side is unchanged.
    val parts = vecs.sparkSession.conf
      .get("spark.sql.shuffle.partitions", "200").toInt
    val a = vecs.select(col(idCol).as("id_a"), col(vecCol).as("va"),
      VectorFunctions.norm(col(vecCol)).as("na"))
      .repartition(parts)
    val b = vecs.select(col(idCol).as("id_b"), col(vecCol).as("vb"),
      VectorFunctions.norm(col(vecCol)).as("nb"))
    // explicit broadcast pin: one side of a nested-loop join must broadcast
    // whichever way (this operator is the documented small-corpus path);
    // pinning `b` keeps the repartitioned `a` the stream side whatever the
    // planner's stats say
    a.join(broadcast(b), col("id_a") < col("id_b"))
      .filter(col("na") > 0.0 && col("nb") > 0.0)
      .filter(VectorFunctions.dot(col("va"), col("vb")) >=
        lit(threshold) * col("na") * col("nb"))
      .select("id_a", "id_b")
  }

  /** Duplicate-group canonicalization: near-dup PAIRS → per-doc canonical id
    * (the min doc id of its connected component) — the step that turns a
    * pair list into an actionable keep/drop decision.
    *
    * Algorithm: min-label propagation with pointer jumping — each round
    * every node adopts the smallest label in its neighborhood, then labels
    * shortcut through their own labels (path halving), giving O(log
    * diameter) rounds even on chain-shaped components (a plain neighbor-min
    * loop is O(diameter) — the long-chain spec guards this). Real near-dup
    * graphs are unions of small cliques, closing in 2-3 rounds; the loop
    * exits early on a converged round either way.
    *
    * Scale: each round is one groupBy-min shuffle over the edge list —
    * no driver-side graph, no GraphX dependency; `localCheckpoint` cuts the
    * growing lineage so round N doesn't replay rounds 1..N-1.
    */
  def duplicateGroups(pairs: DataFrame, aCol: String, bCol: String,
                      maxRounds: Int = 10): DataFrame = {
    require(maxRounds >= 1, s"duplicateGroups: maxRounds=$maxRounds must be >= 1")
    // try_cast (not cast): under ANSI a bad id would throw a raw cast error
    // from whichever action runs first — the explicit check below gives one
    // deterministic, named failure in both ANSI and legacy modes
    val edges = pairs.select(
      col(aCol).try_cast("long").as("a"), col(bCol).try_cast("long").as("b"))
    // undirected adjacency; materialized ONCE (localCheckpoint) — without it
    // every round re-executes the whole upstream pair-generation pipeline
    // (measured 5x slowdown on the ngram operator at sf0.1)
    // lazy checkpoint: the stats aggregate just below is the materializing
    // action, so checkpoint + probe cost ONE job instead of two.
    // NOT cache(): the pairs pipeline upstream already contains checkpoint
    // RDDs, so the logical plan differs per construction and CacheManager
    // can never dedup — repeated runs would accumulate dead cache entries
    // (measured: dedup_groups 2.99 s -> 3.70 s from exactly that)
    val adj = edges.union(edges.select(col("b").as("a"), col("a").as("b")))
      .distinct().pipe(Lineage.cut)
    // ids must be numeric: cast("long") maps a non-numeric id to null, which
    // would silently vanish from the label table — fail fast instead. One
    // aggregate doubles as the bad-id probe and the initial convergence sum.
    val stats = adj.agg(
      sum(when(col("a").isNull || col("b").isNull, 1L).otherwise(0L)).as("bad"),
      sum_distinct(col("a").cast("decimal(38,0)")).as("s")).head()
    // zero input pairs: both sums aggregate over nothing and come back NULL —
    // an empty corpus has no duplicate groups, which is an answer, not an NPE
    if (stats.isNullAt(0))
      return adj.select(col("a").as("doc_id"), col("b").as("canonical_id"))
    require(stats.getLong(0) == 0L,
      s"duplicateGroups: non-numeric id in '$aCol'/'$bCol' (cast to long gave null)")
    // convergence probe: labels are monotonically non-increasing per node
    // (min over a neighborhood containing self, then label(label) <= label),
    // so the label-sum is strictly decreasing until the fixed point — equal
    // sums mean a converged round. One cheap aggregate over the checkpointed
    // frame instead of a join-and-compare job per round.
    def labelSum(df: DataFrame): java.math.BigDecimal =
      df.agg(sum(col("label").cast("decimal(38,0)"))).head().getDecimal(0)
    var prevSum = stats.getDecimal(1) // Σ node = label-sum of the identity labeling
    // labels == null marks the identity labeling (round 0): no node-distinct
    // Exchange is ever built for it — round 1 derives its propagation
    // directly from adj (see below)
    var labels: DataFrame = null
    var round = 0
    var converged = false
    // the label table is CORPUS-cardinality by construction (one row per
    // node), so broadcasting it is categorically wrong at scale — and left
    // to size stats, AQE DOES it: two-long label rows compress to tens of
    // MB of shuffle bytes (under the 64 MB session threshold) while the
    // in-memory hash build is 3-5x larger, and the round-15 100x rehearsal
    // measured the result as a driver OOM ("not enough memory to build and
    // broadcast") inside this loop. The label joins are pinned to
    // SHUFFLE_HASH, not sort-merge: the loop pays the join per ROUND, and
    // the A/B at sf0.1 read merge at 1.4x the unhinted plan (a sort per
    // side per round) vs 1.15x for shuffle-hash. The unspillable-build
    // hazard that rules SHJ out elsewhere (RecordLinkage r14) is absent
    // here by construction: the build side is the label table — fixed-width
    // two-long rows, exactly one per node, so a partition's build is
    // |nodes| / shuffle-partitions rows and partition count scales with
    // the cluster; nothing explodes it.
    while (round < maxRounds && !converged) {
      // each node's new label: min over own label and all neighbors' labels.
      // Round 1 (identity labels) needs NO label join: every neighbor's
      // label IS its id, so the propagation is one groupBy over adj —
      // min(a, min(b)) per source node (adj is symmetrized, so every node
      // appears as `a`). Saves the round's first shuffle-hash join AND the
      // identity-label-table build; later rounds are unchanged, and the
      // fixed point (component minima) is identical whatever the
      // intermediate labelings were.
      val propagated =
        if (labels == null)
          adj.groupBy("a").agg(min(col("b")).as("_mb"))
            .select(col("a").as("node"),
              least(col("a"), col("_mb")).as("label"))
        else {
          val viaNeighbors = adj
            .join(labels.withColumnRenamed("node", "b")
              .withColumnRenamed("label", "nb_label").hint("shuffle_hash"), "b")
            .select(col("a").as("node"), col("nb_label").as("cand"))
          labels.select(col("node"), col("label").as("cand"))
            .union(viaNeighbors)
            .groupBy("node").agg(min(col("cand")).as("label"))
        }
      // pointer jumping: label := label(label). Every label is itself a
      // node id, so the self-join always resolves.
      // lazy checkpoint — the per-round convergence probe (labelSum) is the
      // materializing action: one job per round, not checkpoint + probe
      val next = propagated
        .join(propagated.select(col("node").as("label"), col("label").as("label2"))
            .hint("shuffle_hash"),
          "label")
        .select(col("node"), col("label2").as("label"))
        .pipe(Lineage.cut)
      val t0 = System.nanoTime()
      val nextSum = labelSum(next)
      if (sys.props.contains("graft.debug.cc"))
        System.err.println(f"[cc] round $round ${(System.nanoTime() - t0) / 1e9}%.3f s")
      labels = next
      converged = nextSum.compareTo(prevSum) == 0
      prevSum = nextSum
      round += 1
    }
    // exiting on the round budget without a converged pass means labels may
    // not be component minima — wrong canonical ids are worse than failing
    if (!converged)
      throw new IllegalStateException(
        s"duplicateGroups: label propagation did not converge in $maxRounds " +
          "rounds (component diameter > 2^maxRounds?); raise maxRounds")
    labels.select(col("node").as("doc_id"), col("label").as("canonical_id"))
  }

  /** Persist a near-dup canonical map (doc_id → canonical_id) as a
    * bucketed+sorted managed table — the build-once half of the canonical-
    * map index ([[buildMinhashIndex]]'s pattern applied to the CC OUTPUT
    * rather than the banding input). The operational gap it closes: a
    * 100 TB pipeline computes the canonical map ONCE per ingest cycle,
    * and every consumer — leakage-safe split, representative selection,
    * dedup stats — reads the table instead of re-running shingle pairs +
    * connected components per query (at bench scale those consumers each
    * re-paid the suite's most expensive pipeline; at tier it's hours of
    * redundant compute per consumer).
    *
    * Bucketed by `doc_id`, the key every consumer joins or groups on, so
    * the map side of those plans carries NO Exchange (the `BucketingSpec`
    * contract). Rows are two longs — the table is ~16 bytes/doc-in-a-
    * group, the cheapest object in the warehouse.
    *
    * The PAIR FAMILY is the table's identity: a map built from
    * [[ngramJaccardPairsCapped]] edges answers capped-family questions
    * only — callers own keying consumers to the family they built.
    *
    * Layout: PARTITIONED by `pbucket` = hash(doc_id) mod `nPartitions` (a
    * pure function of doc_id, so a row can never migrate partitions) and
    * BUCKETED by doc_id within each partition. The partition axis exists
    * for [[foldIntoCanonicalMap]]: a fold rewrites only the partitions
    * holding changed rows (dynamic partition overwrite), so daily
    * maintenance cost is ∝ touched data, not map size — at 100 TB a map
    * fold that rewrote the whole table would be real money every day. The
    * bucket axis is the consumer contract: joins/aggregations on doc_id
    * carry no Exchange (bucket ids are global across partitions).
    * `nPartitions` is recorded as a table property so folds can recompute
    * the same pbucket; size it so one partition's rewrite is a comfortable
    * job at the deployment's scale (more partitions = finer fold granularity
    * but more files: total files ≤ nPartitions × nBuckets).
    */
  def buildCanonicalMap(pairs: DataFrame, aCol: String, bCol: String,
                        table: String, nBuckets: Int = 8,
                        maxRounds: Int = 10, nPartitions: Int = 8): Unit = {
    require(table.matches("[A-Za-z0-9_]+"), s"bad map table name '$table'")
    val spark = pairs.sparkSession
    SimilaritySearch.dropTableAndOrphan(spark, table)
    // a rebuild is the manual escape hatch for an unrepairable map — any
    // stale fold journal (and, with the dropped table, its pending-fold
    // marker) must not survive into the new table's lifecycle
    SimilaritySearch.dropTableAndOrphan(spark, foldJournal(table))
    duplicateGroups(pairs, aCol, bCol, maxRounds)
      .withColumn("pbucket", cmapPartition(col("doc_id"), nPartitions))
      // one shuffle task per pbucket → ≤ nBuckets files per partition dir
      // (an unpartitioned-by-pbucket write would emit every (task ×
      // partition × bucket) combination as its own tiny file)
      .repartition(col("pbucket"))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .partitionBy("pbucket")
      .bucketBy(nBuckets, "doc_id").sortBy("doc_id")
      .format("parquet").saveAsTable(table)
    spark.sql(s"ALTER TABLE $table SET TBLPROPERTIES(" +
      s"'graft.cmap.npartitions'='$nPartitions')")
    ()
  }

  /** hash(doc_id) mod nPartitions — the canonical map's partition key. A
    * pure function of the immutable doc_id: rows never migrate partitions,
    * which is what makes partition-scoped fold rewrites exact.
    */
  private def cmapPartition(docId: Column, nPartitions: Int): Column =
    pmod(xxhash64(docId), lit(nPartitions.toLong))

  /** The fold journal's table name — `<table>_foldlog` holds the FOLDED
    * content of every partition a pending fold touches, so a crash anywhere
    * inside the fold's commit is repairable by re-applying the journal
    * ([[repairCanonicalMap]]). Dropped when the fold completes.
    */
  private def foldJournal(table: String): String = s"${table}_foldlog"

  private val NPartitionsProp = "graft.cmap.npartitions"
  private val PendingFoldProp = "graft.cmap.pendingfold"
  private val LastFoldProp = "graft.cmap.foldid"

  /** Robust single-key TBLPROPERTIES read: Spark answers a MISSING key with
    * a ROW whose value reads "Table ... does not have property ..." rather
    * than an empty result, so a bare headOption can never distinguish
    * absent from set — the sentinel text is filtered out here.
    */
  private def tblProp(spark: SparkSession, table: String,
                      key: String): Option[String] =
    spark.sql(s"SHOW TBLPROPERTIES $table('$key')")
      .select("value").collect().headOption.map(_.getString(0))
      .filterNot(_.contains("does not have property"))

  /** Order-independent fingerprint of a fold journal's rows — the value the
    * pending-fold marker carries, re-derived at repair time to verify the
    * journal on disk is the one the marker described. bit_xor (not sum):
    * commutative, and immune to ANSI long-sum overflow.
    */
  private def journalFingerprint(j: DataFrame): String =
    j.select(xxhash64(col("doc_id"), col("canonical_id"), col("pbucket"))
        .as("h"))
      .agg(coalesce(expr("bit_xor(h)"), lit(0L)))
      .head().getLong(0).toHexString

  /** Dynamic-partition-overwrite `rows` (doc_id, canonical_id, pbucket)
    * into the map table — only the pbucket partitions present in `rows`
    * are replaced; the catalog bucket spec rides the insert, so the files
    * stay bucketed by doc_id.
    */
  private def overwriteMapPartitions(spark: SparkSession, table: String,
                                     rows: DataFrame): Unit = {
    val modeKey = "spark.sql.sources.partitionOverwriteMode"
    val prevMode = spark.conf.getOption(modeKey)
    spark.conf.set(modeKey, "dynamic")
    try {
      rows.repartition(col("pbucket"))
        // insertInto is positional: (data columns..., partition column)
        .select("doc_id", "canonical_id", "pbucket")
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .insertInto(table)
    } finally prevMode match {
      case Some(v) => spark.conf.set(modeKey, v)
      case None => spark.conf.unset(modeKey)
    }
  }

  /** Fold-commit epilogue: record the completed fold id, clear the pending
    * marker, drop the journal. Ordered so a crash between any two steps
    * leaves a repairable (marker still set → journal re-applies) or clean
    * (marker cleared → stale journal is inert and the next fold drops it)
    * state — never an undetectable one.
    */
  private def finishFold(spark: SparkSession, table: String,
                         foldId: String): Unit = {
    spark.sql(s"ALTER TABLE $table SET TBLPROPERTIES(" +
      s"'$LastFoldProp'='$foldId')")
    spark.sql(s"ALTER TABLE $table UNSET TBLPROPERTIES IF EXISTS (" +
      s"'$PendingFoldProp')")
    SimilaritySearch.dropTableAndOrphan(spark, foldJournal(table))
  }

  /** Detect and repair a TORN canonical-map fold — the crash window a
    * dynamic-partition-overwrite commit leaves open: some touched pbucket
    * partitions committed, some still holding pre-fold rows. A torn map is
    * NOT generally detectable from its rows (a partial component merge can
    * leave both halves internally consistent — a silently split component,
    * on which a naive fold replay no-ops forever), so detection rides the
    * fold protocol instead: [[foldIntoCanonicalMap]] journals the folded
    * content of every touched partition and marks the table
    * (`graft.cmap.pendingfold` = journal fingerprint) BEFORE the overwrite,
    * clearing the marker only after the commit completes. A marker found
    * here means a fold died mid-commit; re-applying the journal — which IS
    * the exact folded content of every touched partition — completes it.
    * Idempotent and crash-safe against repeated failure: the journal is
    * immutable until the marker clears.
    *
    * Called automatically at the top of [[foldIntoCanonicalMap]] and by
    * [[openCanonicalMap]]; costs one catalog probe when no fold is
    * pending.
    *
    * @return true iff a torn fold was found and repaired
    */
  def repairCanonicalMap(spark: SparkSession, table: String): Boolean = {
    val pending = tblProp(spark, table, PendingFoldProp)
    if (pending.isEmpty) return false
    val journal = foldJournal(table)
    require(spark.catalog.tableExists(journal),
      s"torn fold on '$table': pending-fold marker '${pending.get}' is " +
        s"set but journal table '$journal' is missing — auto-repair " +
        "impossible; rebuild the map with buildCanonicalMap")
    val j = spark.table(journal)
    val fp = journalFingerprint(j)
    require(fp == pending.get,
      s"torn fold on '$table': journal fingerprint $fp does not match " +
        s"the pending-fold marker '${pending.get}' — journal corrupt; " +
        "rebuild the map with buildCanonicalMap")
    overwriteMapPartitions(spark, table, j)
    finishFold(spark, table, fp)
    true
  }

  /** Open a canonical-map table for reading, repairing any torn fold first
    * ([[repairCanonicalMap]]) — the reader-side half of the fold protocol.
    * Costs one catalog probe over a plain `spark.table` when the map is
    * healthy; consumers that read the map outside a fold call this instead
    * of `spark.table` so a fold crash can never serve them a mixed state.
    */
  def openCanonicalMap(spark: SparkSession, table: String): DataFrame = {
    repairCanonicalMap(spark, table)
    spark.table(table)
  }

  /** Audit the canonical-map ROW invariant: every canonical_id must be a
    * FIXED POINT (its own row maps to itself). Returns the violating rows
    * (doc_id, canonical_id, canon_of_canon) — empty on any valid
    * [[duplicateGroups]] output. A non-empty result means external
    * corruption. Note the converse does NOT hold: a torn fold can split a
    * component while both halves stay fixed-point-consistent, which is why
    * fold crash safety uses the journal protocol ([[repairCanonicalMap]])
    * rather than this audit; it is kept as a periodic operational check.
    */
  def canonicalMapViolations(map: DataFrame): DataFrame = {
    val m = map.select(col("doc_id"), col("canonical_id"))
    m.join(m.select(col("doc_id").as("canonical_id"),
        col("canonical_id").as("canon_of_canon")), Seq("canonical_id"))
      .where(col("canon_of_canon") =!= col("canonical_id"))
      .select("doc_id", "canonical_id", "canon_of_canon")
  }

  /** Fold new near-dup pairs into a PERSISTED canonical map in place:
    * [[incrementalGroups]] (cost ∝ new pairs + touched components — the
    * historical graph is never re-read) followed by a DYNAMIC PARTITION
    * OVERWRITE of only the `pbucket` partitions holding changed rows. Both
    * halves of the fold are delta-proportional: the compute (touched
    * components) and the rewrite (touched partitions) — a day touching
    * 0.1% of components rewrites ~min(nPartitions, touched-rows) partition
    * directories, never the whole map. Untouched partitions' files are not
    * opened, not rewritten, not moved (spec-pinned).
    *
    * Partition-scoped overwrite is EXACT because pbucket is a pure function
    * of doc_id ([[cmapPartition]]) and [[incrementalGroups]] never drops
    * rows: a partition with no changed row is byte-identical between old
    * and folded states, and a touched partition's full folded content
    * (changed + carried rows) is what gets written. The bucket spec rides
    * the table's catalog entry, so the overwrite writes bucketed files and
    * consumers stay Exchange-free after every fold (spec-pinned).
    *
    * Crash safety — the JOURNALED COMMIT protocol: the table name exists at
    * all times (no drop/rename window), and before the overwrite runs, the
    * folded content of every touched partition is persisted to a journal
    * table (`<table>_foldlog`) and the map is marked pending
    * (`graft.cmap.pendingfold` = journal fingerprint). Crash before the
    * marker: old map intact, the marker-less journal is inert. Crash after
    * the marker — including INSIDE the overwrite commit, the window that
    * can leave a partition-level mix of old and new rows, a state not
    * generally detectable from the rows themselves — is detected by the
    * marker and repaired by re-applying the journal
    * ([[repairCanonicalMap]], run automatically at the top of every fold
    * and by [[openCanonicalMap]]). The journal write costs one extra pass
    * over the touched rows — delta-proportional, like the fold itself.
    *
    * Folding the same pair set twice is a no-op (zero touched partitions —
    * no journal is written).
    */
  def foldIntoCanonicalMap(table: String, newPairs: DataFrame,
                           aCol: String, bCol: String,
                           maxRounds: Int = 10): Unit = {
    val spark = newPairs.sparkSession
    require(table.matches("[A-Za-z0-9_]+"), s"bad map table name '$table'")
    // a torn PREVIOUS fold must complete before this fold reads the map
    repairCanonicalMap(spark, table)
    val existing = spark.table(table)
    require(existing.columns.contains("pbucket"),
      s"'$table' is not a canonical-map table (no pbucket partition " +
        "column) — build it with buildCanonicalMap")
    val nPartitions = tblProp(spark, table, NPartitionsProp)
      .filter(_.matches("\\d+")).map(_.toInt)
      .getOrElse(throw new IllegalStateException(
        s"'$table' lacks a numeric $NPartitionsProp table property — " +
          "not a buildCanonicalMap table?"))
    // folded is consumed twice (touched-partition probe + journal write) —
    // cut so the incrementalGroups pipeline executes once
    val folded = Lineage.cut(
      incrementalGroups(existing.select("doc_id", "canonical_id"), newPairs,
          aCol, bCol, maxRounds)
        .withColumn("pbucket", cmapPartition(col("doc_id"), nPartitions)))
    // changed rows → touched partitions. One anti-join over the two-long
    // tables; "no new-or-changed row" alone proves set equality (folded
    // covers map ∪ pair docs and incrementalGroups never drops rows), so
    // an empty result is the no-op short-circuit. The collect is bounded
    // by nPartitions (audited driver collect).
    val touched = folded
      .join(existing.select("doc_id", "canonical_id"),
        Seq("doc_id", "canonical_id"), "left_anti")
      .select("pbucket").distinct().collect().map(_.getLong(0))
    if (touched.isEmpty) return
    // ---- journaled commit ----
    val journal = foldJournal(table)
    // a stale journal can exist only from a crash BEFORE the marker was
    // set (repairCanonicalMap above completed any marked fold) — inert
    SimilaritySearch.dropTableAndOrphan(spark, journal)
    folded.where(col("pbucket").isin(touched.map(Long.box): _*))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .format("parquet").saveAsTable(journal)
    FailPoint("cmap-after-journal")
    val foldId = journalFingerprint(spark.table(journal))
    spark.sql(s"ALTER TABLE $table SET TBLPROPERTIES(" +
      s"'$PendingFoldProp'='$foldId')")
    FailPoint("cmap-after-marker")
    overwriteMapPartitions(spark, table, spark.table(journal))
    FailPoint("cmap-after-overwrite")
    finishFold(spark, table, foldId)
  }

  /** Fold NEW near-dup pairs into an EXISTING canonical map — the
    * canonical-map MAINTENANCE step of the daily 100 TB ingest loop, and
    * the piece that lets [[duplicateGroups]]' full CC stay a one-time
    * cost: [[insertMinhashIndex]] keeps the index current,
    * [[incrementalNearDupPairs]] finds today's pairs, and this operator
    * updates (doc_id → canonical_id) touching ONLY the components those
    * pairs reach — never the historical pair graph.
    *
    * Mechanics: an existing component's connectivity is fully carried by
    * its STAR edges (member → canonical), because [[duplicateGroups]]
    * labels every member with the component minimum. So the merged
    * labeling is CC over { star edges of touched components } ∪ { new
    * pairs }, where touched = components containing any new-pair
    * endpoint; every other map row passes through unchanged. Exactness
    * law (spec-pinned AND the query's oracle): the result equals
    * [[duplicateGroups]] over the FULL pair union — star edges preserve
    * membership, minima are global minima, untouched components cannot
    * change.
    *
    * Scale: cost ∝ |new pairs| + Σ size of touched components (star
    * extraction is two equi-joins against the map; the sub-CC runs on the
    * touched slice), while the historical graph — the 100 TB object —
    * is read only as the map table's pruned (doc_id, canonical_id)
    * columns. A day that touches 0.1% of components costs 0.1% of a full
    * recompute.
    *
    * @param map      existing (doc_id, canonical_id) — a
    *                 [[duplicateGroups]] output (canonical = component
    *                 min), typically a persisted table
    * @param newPairs new near-dup pairs (aCol, bCol)
    * @return updated (doc_id, canonical_id) — rows for every doc in `map`
    *         or in `newPairs`
    */
  def incrementalGroups(map: DataFrame, newPairs: DataFrame,
                        aCol: String, bCol: String,
                        maxRounds: Int = 10): DataFrame = {
    def checked(c: Column, what: String): Column = {
      val cc = c.try_cast("long")
      when(cc.isNull, raise_error(lit(
        s"incrementalGroups: non-numeric or null $what"))).otherwise(cc)
    }
    // both sides are multi-consumed (edges: touched + sub-graph union;
    // map: touched-canon, star, untouched) — cut so neither upstream
    // pipeline re-executes per consumer
    val edges = Lineage.cut(newPairs.select(
      checked(col(aCol), s"'$aCol'").as("a"),
      checked(col(bCol), s"'$bCol'").as("b")))
    val m = Lineage.cut(map.select(
      checked(col("doc_id"), "map doc_id").as("doc_id"),
      checked(col("canonical_id"), "map canonical_id").as("canonical_id")))
    val touched = edges.select(col("a").as("doc_id"))
      .union(edges.select(col("b").as("doc_id"))).distinct()
    val touchedCanon = m.join(touched, "doc_id")
      .select("canonical_id").distinct()
    // star edges carry the touched components' whole membership
    val stars = m.join(touchedCanon, "canonical_id")
      .select(col("doc_id").as("a"), col("canonical_id").as("b"))
    val sub = duplicateGroups(stars.unionByName(edges), "a", "b", maxRounds)
    val untouched = m.join(touchedCanon, Seq("canonical_id"), "left_anti")
      .select("doc_id", "canonical_id")
    untouched.unionByName(sub.select(col("doc_id"), col("canonical_id")))
  }

  /** Representative selection — the step after [[duplicateGroups]] that
    * decides WHICH duplicate to keep: per group, the member with the highest
    * `scoreCol` (ties → smallest id). One hash aggregation with map-side
    * partials (`max_by` over a (score, -id) struct); no per-group window
    * sort, so group size never matters at scale.
    *
    * `groups` is [[duplicateGroups]] output (doc_id, canonical_id); `scored`
    * must carry (idCol, scoreCol). Output:
    * (canonical_id, keep_id, n_docs, score_sum).
    */
  def canonicalRepresentatives(groups: DataFrame, scored: DataFrame,
                               idCol: String, scoreCol: String): DataFrame = {
    val s = scored.select(col(idCol).cast("long").as("doc_id"),
      col(scoreCol).cast("long").as("_score"))
    groups.select(col("doc_id").cast("long").as("doc_id"), col("canonical_id"))
      .join(s, "doc_id")
      .groupBy(col("canonical_id"))
      .agg(
        max_by(col("doc_id"), struct(col("_score"), negate(col("doc_id"))))
          .as("keep_id"),
        count(lit(1)).as("n_docs"),
        sum(col("_score")).as("score_sum"))
  }

  /** DIRECTED partial-duplicate detection (the MOSS shape): doc A is
    * "contained in" doc B when ≥ `thresh` of A's winnow fingerprints also
    * appear in B — the asymmetric complement to the symmetric Jaccard/
    * MinHash/SimHash pair operators, catching boilerplate reuse and
    * quote-heavy partial copies that a symmetric measure dilutes away on
    * unequal-size docs.
    *
    * Mechanics: winnow fingerprint sets (the [[graft.functions.Kernels
    * .winnow]] n-gram/window scheme, md5 hash family so a SQL oracle
    * replays it), a DOCUMENT-FREQUENCY CAP dropping fingerprints shared by
    * more than `maxDf` docs from BOTH the join and the denominator
    * (containment over informative fingerprints — unbiased, and it bounds
    * the per-key fanout of the inverted-index join at 100 TB exactly like
    * the ngram prefix filter's df pruning), then an equi-join on
    * fingerprint + per-(a,b) count. Both directions emit independently;
    * exact copies score 1.0 both ways.
    */
  def winnowContainmentPairs(docs: DataFrame, idCol: String, textCol: String,
                             n: Int, w: Int, maxDf: Int,
                             thresh: Double): DataFrame = {
    import graft.functions.{TextFunctions, VectorFunctions}
    // ids must be numeric — same contract as duplicateGroups: a non-numeric
    // id casts to null and every null-id doc would silently collapse into
    // one doc_id group. Fail fast, but LAZILY (the check rides the scan as
    // an expression; duplicateGroups' aggregate probe was only free there
    // because it piggybacked on an existing materializing action).
    val idCast = col(idCol).try_cast("long")
    val checkedId = when(idCast.isNull, raise_error(lit(
        s"winnowContainmentPairs: non-numeric or null id in '$idCol' " +
          "(cast to long gave null)")))
      .otherwise(idCast)
    // cut: fps feeds its own df-count join (two consumers), and rare feeds
    // the denominator plus both inverted-index sides (three consumers) —
    // without the cuts each consumer re-ran the corpus winnow pass (r17)
    val fps = Lineage.cut(docs.select(checkedId.as("doc_id"),
        explode(VectorFunctions.winnowMd5(TextFunctions.tokens(col(textCol)),
          n, w)).as("fp"))
      .distinct())
    // merge hints: the fingerprint-df table and both inverted-index sides
    // are corpus-cardinality (join-strategy contract above)
    val rare = Lineage.cut(fps
      .join(fps.groupBy("fp").agg(count(lit(1)).as("_df")).hint("merge"), "fp")
      .filter(col("_df") <= maxDf)
      .select("doc_id", "fp"))
    val denom = rare.groupBy(col("doc_id").as("doc_a"))
      .agg(count(lit(1)).as("n_fp_a"))
    val a = rare.select(col("doc_id").as("doc_a"), col("fp"))
    val b = rare.select(col("doc_id").as("doc_b"), col("fp"))
    a.join(b.hint("merge"), "fp")
      .filter(col("doc_a") =!= col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_common"))
      .join(denom, "doc_a")
      .withColumn("containment",
        col("n_common").cast("double") / col("n_fp_a").cast("double"))
      .filter(col("containment") >= thresh)
      .select("doc_a", "doc_b", "n_common", "containment")
  }

  /** Line-level boilerplate removal (the CCNet/C4 pass): drop every line
    * that occurs in more than `maxDf` DISTINCT documents — nav menus,
    * cookie banners, license headers — keeping each surviving line in its
    * original position. The within-doc complement of the whole-doc dedup
    * operators: those drop documents, this cleans the ones that stay.
    *
    * Scale: the anti-join's build side holds ONLY the heavy-hitter lines
    * (df > maxDf), a set bounded by total_lines / maxDf — at web scale
    * that's the small side (boilerplate is by definition repeated), so the
    * join broadcasts or stays a cheap shuffled anti-join while the corpus
    * text streams through once. Line df is one map-side-combined hash agg
    * over (doc, line)-distinct rows; order-preserving reassembly is one
    * hash agg (sort_array over (pos, line) structs — positions, not a
    * per-doc window sort). Nothing is quadratic.
    *
    * Output: (doc_id, clean_text, n_kept, n_dropped); a doc whose every
    * line was boilerplate survives with clean_text = "".
    */
  def lineDedupe(docs: DataFrame, idCol: String, textCol: String,
                 maxDf: Int, delim: String = "\n"): DataFrame = {
    require(maxDf >= 1, "lineDedupe: maxDf must be >= 1")
    // coalesce: split(null) is null and posexplode(null) emits NOTHING — a
    // null-text doc would silently vanish from the output, breaking the
    // every-doc-survives contract; as "" it contributes one empty line
    val lines = docs.select(col(idCol).as("doc_id"),
      posexplode(split(coalesce(col(textCol), lit("")), delim))
        .as(Seq("pos", "line")))
    val heavy = lines.select("doc_id", "line").distinct()
      .groupBy("line").agg(count(lit(1)).as("_df"))
      .filter(col("_df") > maxDf).select("line")
    val kept = lines.join(heavy, Seq("line"), "left_anti")
    val total = lines.groupBy("doc_id").agg(count(lit(1)).as("n_lines"))
    // kernel tail (r18): extract-and-join the sorted (pos, line) structs in
    // one pass — the transform(s -> s.line) HOF lambda ran interpreted per
    // line; lines are never null (posexplode/split output), so the
    // array_join null-drop semantics are unreachable
    val rebuilt = kept.groupBy("doc_id").agg(
      TextExpressions.joinStructField(
        array_sort(collect_list(struct(col("pos"), col("line")))),
        1, 2, delim).as("clean_text"),
      count(lit(1)).as("n_kept"))
    total.join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (col("n_lines") - coalesce(col("n_kept"), lit(0L))).as("n_dropped"))
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): two docs are semantic duplicates when they land in
    * the SAME coarse-quantizer cell and their exact cosine clears
    * `threshold`. Complements [[embeddingPairs]]' hyperplane blocking —
    * cells follow the corpus's own density (centroids are corpus vectors)
    * where hyperplanes cut direction-uniformly, so the two blockings catch
    * different near-miss distributions; the paper's pipeline prunes within
    * fixed k-means clusters exactly this way.
    *
    * Centroids are the md5-seeded pick ([[SimilaritySearch.seedCentroids]])
    * so a SQL oracle replays the cells; assignment is the codegen'd
    * map-side `nearestCentroid` pass (the corpus never shuffles for it).
    * The candidate stage is a within-cell self-equi-join: Σ|cell|² work,
    * bounded by growing `nlist` with the corpus — the SemDeDup tradeoff.
    * Cosine stays internal (floats cross engines only as a filter, the
    * same accepted boundary as [[embeddingPairs]]).
    *
    * `nlist = 0` selects auto mode ([[SimilaritySearch.resolveNlist]]): the
    * cell count re-derives from the corpus size each run, so a corpus that
    * outgrew a historical pin cannot silently go quadratic (the failure
    * [[SimilaritySearch.cellOccupancyAudit]] flags; measured at 100× data:
    * pinned 16 = 24.6 s vs the suggested 1024 = 4.9 s). Pin when a stable
    * pair set matters more than cost — blocking recall moves with nlist.
    *
    * Output: (id_a, id_b, cell) with id_a < id_b; feed into
    * [[duplicateGroups]] / [[canonicalRepresentatives]] for keep decisions.
    */
  def semanticDedupPairs(emb: DataFrame, idCol: String, vecCol: String,
                         nlist: Int, threshold: Double): DataFrame = {
    val nl = SimilaritySearch.resolveNlist(emb, nlist)
    val (flat, norms, dim) = SimilaritySearch.seedCentroids(
      emb, idCol, vecCol, nl, "semanticDedupPairs")
    // candidate join on (id, cell) ONLY — the embedding floats must not
    // ride the candidate shuffle (the same vectors-re-join-later pattern as
    // [[embeddingPairs]]); cosine verification re-attaches vectors by id
    // for candidate rows only
    val assigned = emb.select(col(idCol).as("id"),
      VectorFunctions.nearestCentroid(col(vecCol), flat, norms, dim).as("cell"))
    // deliberately NOT merge-pinned (the one exception to the join-strategy
    // contract): the join key is the quantizer CELL — LOW-cardinality by
    // construction (nlist values) — so pinning SMJ collapses parallelism to
    // nlist sorted partitions (measured at the 100x rehearsal: 40 s -> 602 s
    // at nlist=16). The scale story here is nlist itself: auto mode grows
    // cells with the corpus, which bounds the per-cell join AND keeps the
    // key parallel; at true tier the assigned table exceeds any broadcast
    // threshold, so AQE cannot mis-broadcast it.
    val cands = assigned.as("a").join(assigned.as("b"),
        col("a.cell") === col("b.cell") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.cell").as("cell"))
    val va = emb.select(col(idCol).as("id_a"), col(vecCol).as("_va"))
    val vb = emb.select(col(idCol).as("id_b"), col(vecCol).as("_vb"))
    cands.join(va, "id_a").join(vb, "id_b")
      .filter(VectorFunctions.cosine(col("_va"), col("_vb")) >= threshold)
      .select(col("id_a"), col("id_b"), col("cell"))
  }

  /** EXACT repeated-substring spans — the "deduplicating training data"
    * primitive (Lee et al. 2021, arXiv:2107.06499): find every maximal
    * token span covered by substrings of ≥ `n` tokens that occur at least
    * `minCount` times in the corpus (within-doc repeats count, as in the
    * paper). The span-level complement of [[lineDedupe]] (line granularity)
    * and [[winnowContainmentPairs]] (doc granularity): the caller cuts
    * `[span_start, span_end)` out of the token stream to deduplicate at
    * the substring level.
    *
    * Why grams are EXACT here (not approximate): a substring of length ≥ n
    * repeats iff every — in particular some — rolling n-token gram inside
    * it repeats, and conversely a repeated n-gram IS a repeated n-token
    * substring. So marking positions whose n-gram frequency ≥ minCount and
    * merging overlapping/abutting marks yields exactly the repeated-span
    * cover, with no suffix array and no quadratic stage.
    *
    * Scale: one gram pass (map-side hash, md5 family so a SQL oracle
    * replays it), one B≈corpus-bounded gram-count hash agg, one semi-join
    * of positions against repeated grams (build side = repeated grams
    * only, bounded by corpus/minCount), one per-doc window over marked
    * positions (partition = doc, bounded by doc length). Nothing
    * quadratic, nothing driver-side.
    *
    * Output: (doc_id, span_start, span_end, span_tokens) — token indices,
    * end exclusive; docs with no repeated span emit nothing.
    */
  def repeatedSubstringSpans(docs: DataFrame, idCol: String, textCol: String,
                             n: Int, minCount: Long = 2L): DataFrame = {
    require(n >= 1, "repeatedSubstringSpans: n must be >= 1")
    require(minCount >= 2L, "repeatedSubstringSpans: minCount must be >= 2")
    val idCast = col(idCol).try_cast("long")
    val checkedId = when(idCast.isNull, raise_error(lit(
        s"repeatedSubstringSpans: non-numeric or null id in '$idCol' " +
          "(cast to long gave null)")))
      .otherwise(idCast)
    val toks = TextFunctions.tokens(col(textCol))
    // (start position, 60-bit md5 gram hash) per rolling n-gram — one
    // codegen kernel pass (r17): the transform(sequence(...)) lambda +
    // md5-hex-conv route evaluated every gram through CodegenFallback eval;
    // Kernels.md5hash60 over the space-joined gram bytes is bit-identical
    // to the conv(substring(md5(..),1,15),16,10) arithmetic
    val grams = graft.functions.TextExpressions.posGramHashes(toks, n)
    val occ = docs.select(checkedId.as("doc_id"), explode(grams).as("g"))
      .select(col("doc_id"), col("g.p").as("p"), col("g.h").as("h"))
    val repeated = occ.groupBy("h").agg(count(lit(1)).as("_c"))
      .filter(col("_c") >= minCount).select("h")
    // merge hint: repeated is corpus/minCount-bounded — still linear in the
    // corpus, so it must not broadcast (join-strategy contract above)
    val marks = occ.join(repeated.hint("merge"), Seq("h"), "left_semi")
    // merge overlapping/abutting [p, p+n) marks into maximal spans: a mark
    // starts a new span when it begins past every previous mark's end
    val byDoc = Window.partitionBy("doc_id").orderBy("p")
    val prevEnd = max(col("p") + n)
      .over(byDoc.rowsBetween(Window.unboundedPreceding, -1))
    marks
      .withColumn("_brk",
        when(prevEnd.isNull || col("p") > prevEnd, 1L).otherwise(0L))
      .withColumn("_grp", sum(col("_brk")).over(
        byDoc.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("doc_id"), col("_grp"))
      .agg(min(col("p")).as("span_start"),
        (max(col("p")) + n).as("span_end"))
      .select(col("doc_id"), col("span_start").cast("long").as("span_start"),
        col("span_end").cast("long").as("span_end"),
        (col("span_end") - col("span_start")).cast("long").as("span_tokens"))
  }
}
