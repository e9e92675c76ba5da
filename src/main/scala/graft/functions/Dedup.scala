package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import TextFunctions.{shingles, tokens}

/** Deduplication for training-data pipelines: exact, MinHash+LSH,
  * SimHash, and n-gram-Jaccard — each designed around ONE equi-join or
  * hash-aggregate shuffle so the shape survives a 100× scale-up.
  *
  * Scale model (100 TB corpus, 1000 executors):
  *  - exact: one hash aggregate on a 64/128-bit digest — the digest is
  *    computed map-side, only (digest, min_id) shuffles.
  *  - MinHash LSH: signatures are per-row projections (codegen'd);
  *    banding turns near-dup search into an equi-join on (band, bandhash)
  *    — the classic trick that avoids the O(n²) cross join entirely.
  *    Hot buckets (boilerplate docs) are the skew risk → AQE skew join +
  *    an optional per-bucket cap.
  *  - SimHash: one 64-bit sketch per doc; candidates via prefix-bucket
  *    equi-join, verified with codegen'd bit_count(a^b).
  *  - pair → survivor resolution is "drop any doc with a smaller-id
  *    near-dup", a single aggregation. For TRANSITIVE clusters (chains
  *    A~B~C where (A,C) was never a candidate), [[clusters]] runs
  *    [[graft.operators.ConnectedComponents]] over the pair set —
  *    iterative, but on the pair relation (orders of magnitude smaller
  *    than the corpus), and O(log² n) rounds.
  */
object Dedup {

  // ------------------------------------------------------------ exact D1

  /** Exact dedup on normalized content digest: keeps the lowest `idCol`
    * per digest. Deterministic; only the digest and id shuffle.
    */
  def exactDedup(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val keep = df
      .select(col(idCol), xxhash64(col(textCol)).as("__digest"))
      .groupBy(col("__digest"))
      .agg(min(col(idCol)).as(idCol))
      .drop("__digest")
    df.join(keep, Seq(idCol), "left_semi")
  }

  // ------------------------------------------------- MinHash signatures D2

  /** Per-token 64-bit hashes — the ONE string-hashing pass. */
  def tokenHashes(text: Column): Column =
    transform(tokens(text), t => xxhash64(t))

  /** n-gram shingle hashes rolled over pre-hashed tokens: each shingle is
    * the hash of `shingleLen` consecutive token hashes — integer ops
    * only, no n-gram strings materialized. Documents shorter than
    * `shingleLen` collapse to one whole-document hash.
    *
    * IMPORTANT: `th` must be a *materialized column reference* (own
    * projection), not the tokenHashes expression — element_at on a
    * non-bound expression re-evaluates the whole subtree per access
    * (measured 4× slowdown), and expression-tree blowup hits the
    * optimizer (see minhashSignature).
    */
  def rollingShingleHashes(th: Column, shingleLen: Int = 5): Column = {
    val whole = aggregate(th, lit(42L), (acc, h) => xxhash64(acc, h))
    when(size(th) < shingleLen, array(whole))
      .otherwise(transform(sequence(lit(0), size(th) - shingleLen), i =>
        xxhash64((0 until shingleLen).map(j => element_at(th, i + lit(j + 1))): _*)))
  }

  /** k-permutation MinHash signature from pre-hashed shingles: element i =
    * min over shingles of xxhash64(baseHash, i) — rehashing a long is a
    * few instructions, so the k permutations cost k·|shingles| integer
    * hashes, not k string passes.
    *
    * IMPORTANT: pass a *column reference* to materialized base hashes (a
    * prior projection), not the expression itself — referencing one alias
    * k times keeps CollapseProject from inlining the tokenize→shingle
    * subtree into all k elements, which otherwise yields a multi-megabyte
    * expression tree whose codegen alone takes minutes (observed: 590 s
    * vs 3 s on 5000 docs).
    */
  def minhashSignature(baseHashes: Column, k: Int): Column =
    array((0 until k).map(i => array_min(transform(baseHashes, h => xxhash64(h, lit(i))))): _*)

  /** doc → (id, sig): token hashes (one string pass), then the FUSED
    * shingle+permutation kernel (MinHashSig expression — bit-identical to
    * the `rollingShingleHashes`+`minhashSignature` composition above, but
    * codegen'd with no intermediate arrays; the composition is kept as
    * the executable spec of the hash chain).
    */
  private[functions] def signatures(df: DataFrame, textCol: String, idCol: String,
                                    k: Int, shingleLen: Int): DataFrame =
    // FanOut: the k-permutation hash kernel is the dominant map cost and
    // inherits the scan's parallelism — one file = one task (guide §2.5)
    graft.util.FanOut(df)
      .select(col(idCol).as("id"), tokenHashes(col(textCol)).as("__th"))
      .select(col("id"), MinHashSig.minhashSig(col("__th"), k, shingleLen).as("sig"))

  /** Estimated Jaccard from two signatures: fraction of equal positions.
    * The agreement count is the codegen [[EqCount]] kernel (round 9 —
    * the `size(filter(zip_with(...)))` composition it replaces is two
    * nested interpreted HOFs, and the optimizer pushes the threshold
    * filter into the band self-join's condition, so it evaluated per
    * candidate PAIR; exact integer count → identical values, q23's
    * oracle unchanged).
    */
  def estJaccard(sigA: Column, sigB: Column, k: Int): Column =
    EqCount.eqCount(sigA, sigB).cast("double") / lit(k)

  /** Candidate near-dup pairs via MinHash LSH, verified by estimated
    * Jaccard ≥ `threshold`. Output: (idA, idB, est_jaccard), idA < idB.
    *
    * Shape for scale: the band-bucket self-join carries ONLY
    * (band, bandhash, id) — skinny rows, so a hot bucket (boilerplate
    * docs) shuffles ids, not signature arrays. Signatures are re-attached
    * to the deduplicated pair list (usually orders of magnitude smaller
    * than the corpus) for the estimated-Jaccard verify.
    */
  def minhashCandidatePairs(df: DataFrame, textCol: String, idCol: String,
                            k: Int = 64, bands: Int = 16, threshold: Double = 0.5,
                            shingleLen: Int = 5,
                            maxBucketSize: Option[Int] = None): DataFrame = {
    val r = k / bands
    // the signature relation feeds three plan branches (band keys + two
    // pair re-attach joins); caching avoids recomputing the hash pipeline
    // per branch. Spark evicts under memory pressure; at true corpus
    // scale write the signatures to parquet once and read them back
    // instead (same shape, durable).
    // eager localCheckpoint, not persist: blocks release when the result
    // is GC'd, so repeated library calls in one session don't accumulate
    // cache pressure (round-8 persist-contract sweep)
    val sigs = signatures(df, textCol, idCol, k, shingleLen).localCheckpoint(true)
    val bandKeys = sigs
      .select(col("id"), posexplode(transform(sequence(lit(0), lit(bands - 1)), b =>
        xxhash64(concat_ws("|",
          transform(slice(col("sig"), b * lit(r) + lit(1), lit(r)),
            v => v.cast("string")))))))
      .toDF("id", "band", "bandhash")
    // hot-bucket guard: a boilerplate cluster of m docs puts m ids in one
    // (band, bandhash) bucket → m² candidate pairs. With a cap, only the
    // `cap` LOWEST ids per bucket act as left-side representatives while
    // every id stays joinable on the right, bounding the self-join at
    // cap·m per bucket. Recall trade-off, explicit: pairs between two
    // docs that BOTH rank past the cap in every shared bucket are lost —
    // exact for a bucket dominated by one duplicate cluster (everything
    // pairs with the cluster's low-id reps), approximate when a bucket
    // mixes unrelated clusters. Leave uncapped where exactness matters;
    // the cap is the adversarial-skew guard.
    val reps = maxBucketSize match {
      case Some(cap) =>
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("band"), col("bandhash")).orderBy(col("id"))
        bandKeys.withColumn("__rn", row_number().over(w))
          .filter(col("__rn") <= cap).drop("__rn")
      case None => bandKeys
    }
    val pairs = reps.select(col("band"), col("bandhash"), col("id").as("idA"))
      .join(bandKeys.select(col("band"), col("bandhash"), col("id").as("idB")),
        Seq("band", "bandhash"))
      .filter(col("idA") < col("idB"))
      .select(col("idA"), col("idB"))
      .distinct()
    pairs
      .join(sigs.select(col("id").as("idA"), col("sig").as("sigA")), Seq("idA"))
      .join(sigs.select(col("id").as("idB"), col("sig").as("sigB")), Seq("idB"))
      .select(col("idA"), col("idB"), estJaccard(col("sigA"), col("sigB"), k).as("est_jaccard"))
      .filter(col("est_jaccard") >= threshold)
  }

  /** Near-dedup via MinHash LSH: drops every doc that has a candidate
    * near-dup with a smaller id.
    */
  def minhashDedup(df: DataFrame, textCol: String, idCol: String,
                   k: Int = 64, bands: Int = 16, threshold: Double = 0.5): DataFrame = {
    val losers = minhashCandidatePairs(df, textCol, idCol, k, bands, threshold)
      .select(col("idB").as(idCol)).distinct()
    df.join(losers, Seq(idCol), "left_anti")
  }

  // ----------------------------------------------------------- SimHash D3

  /** SimHash near-dup candidate pairs: docs sharing a 16-bit prefix
    * bucket with hamming distance ≤ `maxHamming`. The prefix join misses
    * pairs differing inside the prefix — production multi-probe rotates
    * the 4 16-bit blocks (one join per block); single-block here for the
    * core shape.
    */
  def simhashPairs(df: DataFrame, textCol: String, idCol: String,
                   maxHamming: Int = 3): DataFrame = {
    // the 16-byte (id, sim) signature relation feeds BOTH sides of the
    // banded self-join — unpersisted, the tokenize+simhash pipeline runs
    // once per side (the minhashCandidatePairs discipline; at corpus
    // scale write signatures to a table once instead)
    val withSig = graft.util.FanOut(df).select(col(idCol).as("id"),
      SimHash64.simhash64(tokens(col(textCol))).as("sim"))
      .localCheckpoint(true) // blocks release with the result (GC)
    // one pass: posexplode the 4 block buckets (a per-block union would
    // rescan the source and recompute the simhash once per block)
    val blocks = withSig
      .select(col("id"), col("sim"), posexplode(array((0 until 4).map(blk =>
        shiftright(col("sim"), blk * 16).bitwiseAND(lit(0xFFFFL))): _*)))
      .toDF("id", "sim", "blk", "bucket")
    val a = blocks.select(col("blk"), col("bucket"), col("id").as("idA"), col("sim").as("simA"))
    val b = blocks.select(col("blk"), col("bucket"), col("id").as("idB"), col("sim").as("simB"))
    a.join(b, Seq("blk", "bucket"))
      .filter(col("idA") < col("idB"))
      .select(col("idA"), col("idB"),
        bit_count(col("simA").bitwiseXOR(col("simB"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  def simhashDedup(df: DataFrame, textCol: String, idCol: String,
                   maxHamming: Int = 3): DataFrame = {
    val losers = simhashPairs(df, textCol, idCol, maxHamming)
      .select(col("idB").as(idCol)).distinct()
    df.join(losers, Seq(idCol), "left_anti")
  }

  // ------------------------------------- portable SimHash (oracle path)

  /** Portable 60-bit token hashes: first 15 md5 hex chars as a positive
    * BIGINT — bit-identical in Spark (`conv(substring(md5,1,15),16,10)`)
    * and DuckDB (`CAST('0x'||substring(md5,1,15) AS BIGINT)`), the same
    * trick as hashSplit/q53. 60 bits = 4 clean 15-bit blocks.
    */
  def portableTokenHashes(text: Column): Column =
    transform(tokens(text), t => conv(substring(md5(t), 1, 15), 16, 10).cast("long"))

  /** 60-bit SimHash from pre-hashed tokens: bit b is set iff strictly
    * more hashes have bit b set than clear (votes of +1/−1, ties → 0 —
    * the SimHash64 kernel's rule). `th` MUST be a materialized column
    * reference: the 60 bit-expressions each reference it, and an inlined
    * hash pipeline would be duplicated 60× in the tree (see
    * minhashSignature). NULL text folds to signature 0 on both engines
    * (size(NULL) comparisons are NULL → every bit takes the 0 branch).
    */
  def simhash60(th: Column): Column =
    (0 until 60).map { b =>
      when(size(filter(th, h => shiftright(h, b).bitwiseAND(lit(1L)) === lit(1L))) * 2
             > size(th), lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Portable 60-bit simhash via explode + ONE hash aggregate — bit-vote
    * identical to [[simhash60]] (parity spec), but whole-stage-codegen'd
    * end to end: the 60 per-bit `filter()` scans of the expression form
    * are CodegenFallback (each evaluation leaves generated code and
    * boxes the array — the measured pitfall in SCALE.md), where this is
    * explode → 61 codegen'd SUMs with map-side partial aggregation, so
    * only (id, 61 longs) per doc ever shuffles. Measured at sf0.1:
    * q24 4.65 → 2.48 s (1.9×); q76/q79 keep their iterative tail but
    * drop 1.2–2.5 s each.
    *
    * `explode_outer` keeps empty/NULL-token docs: their `count(h)` is 0,
    * every vote comparison fails, sim = 0 — the same fold the expression
    * form and the DuckDB oracle produce.
    */
  def simhash60Agg(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val bitSums = (0 until 60).map(b =>
      sum(shiftright(col("__h"), b).bitwiseAND(lit(1L))).as(s"__s$b"))
    // FanOut: the md5 token hashing + 61 partial sums run in the SCAN
    // stage — one file = one task without the floor (guide §2.5)
    val votes = graft.util.FanOut(df)
      .select(col(idCol).as("id"), explode_outer(portableTokenHashes(col(textCol))).as("__h"))
      .groupBy(col("id"))
      .agg(count(col("__h")).as("__n"), bitSums: _*)
    val simBits = (0 until 60).map { b =>
      when(col(s"__s$b") * 2 > col("__n"), lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ + _)
    votes.select(col("id"), coalesce(simBits, lit(0L)).as("sim"))
  }

  /** SimHash candidate pairs on the PORTABLE hash — same 4-block bucket
    * join + hamming verify as [[simhashPairs]], but every step (md5 token
    * hash, bit votes, block buckets, bit_count of xor) re-derives in
    * oracle SQL, so the full dedup pipeline is hash-checked end to end
    * (q24). Signatures come from the aggregate form ([[simhash60Agg]]);
    * the xxhash64 expression path stays the production fast path — one
    * token walk instead of 60 bit sums.
    */
  def simhashPairsPortable(df: DataFrame, textCol: String, idCol: String,
                           maxHamming: Int = 3): DataFrame = {
    // persisted for the same both-sides reason as [[simhashPairs]] —
    // the md5 token hashing + 60 bit votes are the dominant map cost.
    // FanOut.materialized (r14): the aggregate lands AQE-coalesced, so
    // the banded self-join below probed a 1-partition checkpoint as ONE
    // task (profiled: q201's single 1.0 s job); the floor re-spreads it
    // once for both join sides, and is a no-op at scale (§2.5)
    val withSig = graft.util.FanOut.materialized(
      simhash60Agg(df, textCol, idCol)
        .localCheckpoint(true)) // blocks release with the result (GC)
    val blocks = withSig
      .select(col("id"), col("sim"), posexplode(array((0 until 4).map(blk =>
        shiftright(col("sim"), blk * 15).bitwiseAND(lit(0x7FFFL))): _*)))
      .toDF("id", "sim", "blk", "bucket")
    val a = blocks.select(col("blk"), col("bucket"), col("id").as("idA"), col("sim").as("simA"))
    val b = blocks.select(col("blk"), col("bucket"), col("id").as("idB"), col("sim").as("simB"))
    a.join(b, Seq("blk", "bucket"))
      .filter(col("idA") < col("idB"))
      .select(col("idA"), col("idB"),
        bit_count(col("simA").bitwiseXOR(col("simB"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  def simhashDedupPortable(df: DataFrame, textCol: String, idCol: String,
                           maxHamming: Int = 3): DataFrame = {
    val losers = simhashPairsPortable(df, textCol, idCol, maxHamming)
      .select(col("idB").as(idCol)).distinct()
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** Near-dup LOSERS among `newSigs` against a reference signature set —
    * the incremental form of [[simhashPairsPortable]]'s candidate step
    * for streaming micro-batches: blocks are exploded for BOTH sides,
    * but the banded join's probe side carries only the new batch, so
    * per-batch cost is O(batch × bucket collisions), never O(corpus²)
    * and never a corpus rescan. Both inputs are (id, sim) frames;
    * `allSigs` must contain every signature eligible as the surviving
    * smaller id — including `newSigs` itself for intra-batch pairs.
    * Returns distinct losing ids (the larger id of each verified pair).
    */
  def simhashLosersAgainst(allSigs: DataFrame, newSigs: DataFrame,
                           maxHamming: Int = 3): DataFrame = {
    def blocksOf(sigs: DataFrame): DataFrame = sigs
      .select(col("id"), col("sim"), posexplode(array((0 until 4).map(blk =>
        shiftright(col("sim"), blk * 15).bitwiseAND(lit(0x7FFFL))): _*)))
      .toDF("id", "sim", "blk", "bucket")
    val a = blocksOf(allSigs)
      .select(col("blk"), col("bucket"), col("id").as("idA"), col("sim").as("simA"))
    val b = blocksOf(newSigs)
      .select(col("blk"), col("bucket"), col("id").as("idB"), col("sim").as("simB"))
    a.join(b, Seq("blk", "bucket"))
      .filter(col("idA") < col("idB"))
      .filter(bit_count(col("simA").bitwiseXOR(col("simB"))) <= maxHamming)
      .select(col("idB").as("id")).distinct()
  }

  // ---------------------------------------------------- n-gram Jaccard D4

  /** Exact n-gram Jaccard over LSH candidates: recompute true Jaccard on
    * the distinct-shingle sets of candidate pairs only — the scalable
    * pattern (exact verify restricted to the candidate set, never n²).
    */
  /** Exact Jaccard of two pre-distinct shingle-set columns — the one
    * kernel behind candidate verification (ngramJaccardPairs) and the
    * oracle-checked q25 profile. Double/double division of exact integer
    * counts: bitwise-reproducible in any engine.
    */
  def jaccard(shA: Column, shB: Column): Column =
    size(array_intersect(shA, shB)).cast("double") /
      size(array_union(shA, shB)).cast("double")

  def ngramJaccardPairs(df: DataFrame, textCol: String, idCol: String,
                        shingleLen: Int = 5, threshold: Double = 0.5,
                        k: Int = 64, bands: Int = 16): DataFrame = {
    val cands = minhashCandidatePairs(df, textCol, idCol, k, bands,
      threshold = threshold * 0.5) // loose LSH pass, exact verify below
    // stage the token array: shingles references it several times
    val sets = df
      .select(col(idCol).as("id"), tokens(col(textCol)).as("__t"))
      .select(col("id"),
        array_distinct(shingles(col("__t"), shingleLen)).as("sh"))
    cands
      .join(sets.withColumnRenamed("id", "idA").withColumnRenamed("sh", "shA"), Seq("idA"))
      .join(sets.withColumnRenamed("id", "idB").withColumnRenamed("sh", "shB"), Seq("idB"))
      .select(col("idA"), col("idB"), jaccard(col("shA"), col("shB")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Edit-distance verification of candidate pairs: exact Levenshtein
    * over a bounded text prefix, the fuzzy-match kernel for short-string
    * dedup (titles, names, URLs) where token-set Jaccard is blind to
    * character-level edits. The DP is O(prefix²) per pair — `prefixLen`
    * is the cost cap, and the candidate set (never the corpus) pays it:
    * same verify-only-candidates discipline as [[ngramJaccardPairs]].
    * `levenshtein` is codegen'd and engine-portable (DuckDB ships the
    * identical DP), so the verified pair set hash-matches SQL.
    */
  def editDistancePairs(df: DataFrame, pairs: DataFrame, textCol: String,
                        idCol: String, maxDist: Int,
                        prefixLen: Int = 256): DataFrame = {
    require(maxDist >= 0, s"maxDist must be non-negative, got $maxDist")
    require(prefixLen >= 1, s"prefixLen must be positive, got $prefixLen")
    val pre = df.select(col(idCol).as("id"),
      substring(col(textCol), 1, prefixLen).as("pfx"))
    pairs.select(col("idA"), col("idB"))
      .join(pre.select(col("id").as("idA"), col("pfx").as("pfxA")), Seq("idA"))
      .join(pre.select(col("id").as("idB"), col("pfx").as("pfxB")), Seq("idB"))
      .select(col("idA"), col("idB"),
        levenshtein(col("pfxA"), col("pfxB")).as("edit_dist"))
      .filter(col("edit_dist") <= maxDist)
  }

  // ------------------------------------------------- transitive clusters

  /** Transitive near-dup cluster assignment: candidate pairs → connected
    * components → every document labeled with its cluster id (= the
    * minimum doc id reachable through the near-dup relation; docs with
    * no near-dup are their own singleton cluster). This is the closure
    * the single-pass survivor rule skips: on a chain A~B~C it keeps A
    * only, where pair-wise dropping would also keep C.
    *
    * `pairs` is any (idA, idB) near-dup relation — minhash, simhash, or
    * embedding candidates. The corpus is touched exactly once, by the
    * final assignment join; the component iteration runs on the pair set.
    */
  def clusters(df: DataFrame, idCol: String, pairs: DataFrame): DataFrame = {
    val comp = graft.operators.ConnectedComponents.assign(pairs, "idA", "idB")
      .withColumnRenamed("id", idCol)
    df.join(comp, Seq(idCol), "left")
      .withColumn("cluster", coalesce(col("component"), col(idCol)))
      .drop("component")
  }

  /** Cluster assignment over the PORTABLE simhash candidate pairs — every
    * step (md5 token hashes, bit votes, block buckets, hamming verify,
    * transitive closure) re-derives in oracle SQL, the recursive-CTE
    * companion to q24's pair derivation (q76).
    */
  def simhashClustersPortable(df: DataFrame, textCol: String, idCol: String,
                              maxHamming: Int = 3): DataFrame =
    clusters(df, idCol, simhashPairsPortable(df, textCol, idCol, maxHamming))

  /** Quality-aware dedup: keep ONE document per near-dup cluster — the
    * one with the highest `scoreCol` (ties → lowest id, so the pick is
    * deterministic). This is the curation policy real pipelines want:
    * "drop near-dups, but keep the BEST version", which min-id survivor
    * rules get wrong whenever the best copy has a high id.
    *
    * Shape: [[clusters]] (iteration on the pair set only) + ONE
    * max_by-style aggregation over (cluster) — no window, no sort; the
    * struct-ordering argmax trick keeps it a single partial+final agg.
    */
  def bestPerCluster(df: DataFrame, idCol: String, pairs: DataFrame,
                     scoreCol: String): DataFrame = {
    val assigned = clusters(df, idCol, pairs)
    val winners = assigned
      .groupBy(col("cluster"))
      .agg(max(struct(col(scoreCol).as("s"), (-col(idCol)).as("negid"),
        col(idCol).as("id"))).as("w"))
      .select(col("w.id").as(idCol))
    df.join(winners, Seq(idCol), "left_semi")
  }

  // ------------------------------------------ benchmark contamination D5

  /** Benchmark-contamination detection: corpus documents sharing at least
    * `minShared` distinct word n-grams with any document of a PROBE set
    * (held-out eval data that must not leak into training). Returns
    * (doc_id, probe_id, shared) per contaminated pair.
    *
    * 100 TB shape: the probe side is an eval set — thousands of docs —
    * so its exploded n-grams BROADCAST; the corpus makes one pass,
    * exploding distinct n-grams (counting semantics: docs shorter than
    * `n` tokens have none and drop out) into a broadcast hash join, then
    * one partial-aggregated count per surviving (doc, probe) pair. Only
    * matching grams ever shuffle. For very large probe sets, swap the
    * broadcast for an equi-join on `xxhash64(gram)` — same plan shape,
    * hashed keys.
    *
    * `excludeSelfPairs` is for probing a corpus AGAINST ITSELF (shared id
    * namespace); leave it false when the probe set is a separate dataset —
    * its ids are unrelated, and dropping numerically-colliding pairs
    * would silently report a leaked document as clean.
    */
  def contaminationPairs(corpus: DataFrame, corpusId: String, corpusText: String,
                         probes: DataFrame, probeId: String, probeText: String,
                         n: Int = 5, minShared: Int = 2,
                         excludeSelfPairs: Boolean = false): DataFrame = {
    // explode_outer + null filter, NOT explode: InferFiltersFromGenerate
    // would inline the tokenize+ngram pipeline into an inferred filter
    // and re-run it per row (see graft.util.Explode)
    def grams(df: DataFrame, id: String, text: String, outId: String) =
      df.select(col(id).as(outId), TextFunctions.tokens(col(text)).as("__t"))
        .select(col(outId),
          explode_outer(array_distinct(TextFunctions.ngrams(col("__t"), n))).as("gram"))
        .filter(col("gram").isNotNull)
    val c = grams(corpus, corpusId, corpusText, "doc_id")
    val p = grams(probes, probeId, probeText, "probe_id")
    val joined = c.join(broadcast(p), Seq("gram"))
    (if (excludeSelfPairs) joined.filter(col("doc_id") =!= col("probe_id")) else joined)
      .groupBy(col("doc_id"), col("probe_id"))
      .agg(count(lit(1)).as("shared")) // grams are pre-distinct per doc
      .filter(col("shared") >= minShared)
  }

  // ------------------------------------- duplicate SPANS (substring dedup)

  /** SUBSTRING-level duplicate-span detection — the "remove repeated
    * passages, not whole documents" move of modern corpus curation
    * (published as suffix-array ExactSubstr dedup; boilerplate headers,
    * license blocks, and templated passages repeat across documents whose
    * full texts are unique, so document-level dedup never sees them).
    *
    * Relational re-expression, three passes, no suffix array:
    *   1. slide a `k`-word window over every document and hash it — one
    *      corpus pass emitting (gram_hash, doc_id, pos), O(total tokens)
    *      rows of 24 bytes;
    *   2. a hash aggregate counts corpus-wide occurrences; windows with
    *      count ≥ `minCount` are duplicated (intra-doc repeats count —
    *      a doc that repeats its own boilerplate is still duplicated);
    *   3. a semi-join marks the duplicated windows, and one per-doc
    *      window pass merges overlapping/adjacent windows into MAXIMAL
    *      spans (gaps-and-islands: a window opens a new span iff its
    *      start lies past the running max end of everything before it).
    *
    * Returns (doc_id, span_start, span_end) — token offsets, end
    * exclusive. The gram hash is the engine-portable 60-bit md5 prefix
    * (collision odds at 2^60 are negligible below ~10^8 distinct grams
    * per partition-of-trust; at 100 TB swap in `xxhash64` for the hash
    * pass — same plan, cheaper hash, accepting hash-dedup semantics).
    *
    * 100 TB shape: the only shuffles are the gram-hash count and the
    * semi-join back (both on the 60-bit key, AQE-skewable), plus the
    * final per-doc window (partitioned by doc_id, never global). Hot
    * grams (the whole point — boilerplate) make the count side skew:
    * partial aggregation absorbs them map-side.
    */
  def duplicateSpans(df: DataFrame, textCol: String, idCol: String,
                     k: Int = 8, minCount: Int = 2): DataFrame = {
    require(k >= 1, s"window length k must be >= 1, got $k")
    require(minCount >= 2, s"minCount must be >= 2, got $minCount")
    val grams = gramWindows(df, textCol, idCol, k)
    val dup = grams.groupBy(col("gh")).agg(count(lit(1)).as("__c"))
      .filter(col("__c") >= minCount).select(col("gh"))
    val marked = grams.join(dup, Seq("gh"), "left_semi").select(col("doc_id"), col("pos"))
    mergeSpans(marked, k)
  }

  /** Windowed gram hashes: (doc_id, pos, gh) for every k-word window.
    * The per-row transient index array is bounded by the document's own
    * token count — the same per-doc bound every tokenizing pass here has.
    */
  private def gramWindows(df: DataFrame, textCol: String, idCol: String,
                          k: Int): DataFrame =
    // FanOut: one md5 per k-token window — the heaviest per-row map in
    // the dedup family; floor the scan parallelism (guide §2.5)
    graft.util.FanOut(df)
      .select(col(idCol).cast("long").as("doc_id"),
        split(trim(col(textCol)), "\\s+").as("__ws"))
      .withColumn("__n", size(col("__ws")))
      .filter(col("__n") >= k)
      .select(col("doc_id"), posexplode(transform(
        sequence(lit(0), col("__n") - k),
        i => conv(substring(md5(concat_ws(" ", slice(col("__ws"), i + 1, lit(k)))), 1, 15), 16, 10)
          .cast("long"))))
      .toDF("doc_id", "pos", "gh")

  /** Gaps-and-islands merge of marked k-windows into maximal spans. */
  private def mergeSpans(marked: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("doc_id").orderBy("pos")
    val prevEnd = max(col("pos") + k)
      .over(w.rowsBetween(Window.unboundedPreceding, -1))
    marked
      .withColumn("__new", when(prevEnd.isNull || col("pos") > prevEnd, 1).otherwise(0))
      .withColumn("__island", sum(col("__new")).over(w))
      .groupBy(col("doc_id"), col("__island"))
      .agg(min(col("pos")).cast("long").as("span_start"),
        (max(col("pos")) + k).cast("long").as("span_end"))
      .select(col("doc_id"), col("span_start"), col("span_end"))
  }

  /** Per-document duplication profile over [[duplicateSpans]]: whitespace
    * token count, duplicated-token count, and the duplicated fraction in
    * integer basis points (exact arithmetic — hash-reproducible anywhere).
    * Every input document appears (zero spans → zeros); one left join on
    * the span aggregate, no extra corpus pass.
    */
  def duplicateStats(df: DataFrame, textCol: String, idCol: String,
                     k: Int = 8, minCount: Int = 2): DataFrame = {
    val spans = duplicateSpans(df, textCol, idCol, k, minCount)
      .groupBy(col("doc_id"))
      .agg(sum(col("span_end") - col("span_start")).as("dup_tok"),
        count(lit(1)).as("n_spans"))
    df.select(col(idCol).cast("long").as("doc_id"),
        TextFunctions.wsTokenCount(col(textCol)).cast("long").as("n_tok"))
      .join(spans, Seq("doc_id"), "left")
      .na.fill(0L, Seq("dup_tok", "n_spans"))
      .withColumn("dup_bp",
        when(col("n_tok") > 0, expr("(10000L * dup_tok) div n_tok")).otherwise(lit(0L)))
  }

  /** Duplicate-span REMOVAL: rewrite every document with its duplicated
    * spans cut out — [[duplicateSpans]] finds the passages, this returns
    * the cleaned corpus (the actionable half of ExactSubstr dedup: the
    * published result is that repeated passages are what hurt training,
    * so they are removed from EVERY occurrence, Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better").
    *
    * Policy: every maximal duplicated span is cut from every document —
    * no keep-one-copy. A canonical-copy rule sounds nicer but is not
    * well-defined under maximal-span merging (two documents sharing a
    * passage merge it into DIFFERENT maximal spans when their
    * neighborhoods differ, so "the same span" has no stable cross-doc
    * identity to elect a keeper by); C4-style keep-one operates on
    * fixed sentence windows instead, at the cost of leaving every
    * boundary remnant. Cut-all is the published ExactSubstr behavior
    * and the one with exact, engine-replayable semantics.
    *
    * Output is (doc_id, text) where text is the WHITESPACE-NORMALIZED
    * surviving token stream (single spaces — token offsets, not byte
    * offsets, are what the span pass produces; a doc losing every token
    * yields ""). Every input document appears.
    *
    * 100 TB shape: [[duplicateSpans]]'s shuffles, plus one left join of
    * the per-doc cut lists (bounded by spans, not tokens) back to the
    * corpus; the rewrite itself is a per-row higher-order filter —
    * no extra shuffle, no UDF.
    */
  def scrubDuplicateSpans(df: DataFrame, textCol: String, idCol: String,
                          k: Int = 8, minCount: Int = 2): DataFrame = {
    val cuts = duplicateSpans(df, textCol, idCol, k, minCount)
      .groupBy(col("doc_id"))
      .agg(collect_list(struct(col("span_start").as("s"),
        col("span_end").as("e"))).as("__cuts"))
    df.select(col(idCol).cast("long").as("doc_id"),
        split(trim(col(textCol)), "\\s+").as("__ws"))
      .join(cuts, Seq("doc_id"), "left")
      .withColumn("__kept",
        when(col("__cuts").isNull, col("__ws")).otherwise(
          filter(col("__ws"), (t, i) =>
            !exists(col("__cuts"), c => i >= c("s") && i < c("e")))))
      .select(col("doc_id"), array_join(col("__kept"), " ").as("text"))
  }
}
