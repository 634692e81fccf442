package graft.operators

import graft.{Scope, Tables, Tokens}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel


/** Deduplication operators for training-data pipelines.
  *
  * Scale design: exact dedup is a hash-groupBy (one shuffle on the
  * content hash, never on the content itself); near-dup dedup goes
  * shingle -> MinHash signature -> LSH band bucketing -> candidate-pair
  * join -> exact-Jaccard verification, so the cross-doc comparison is
  * confined to same-bucket candidates instead of O(n^2) pairs. All
  * constants are deterministic (fixed-seed LCG) for reproducible runs.
  *
  * Algorithms are the published classics: MinHash resemblance sketching
  * (Broder, "On the resemblance and containment of documents", 1997),
  * SimHash (Charikar, "Similarity estimation techniques from rounding
  * algorithms", STOC 2002); the filter-and-verify inverted-index join in
  * [[q22NgramJaccard]] follows the prefix-filter family surveyed in
  * "Set Similarity Joins on MapReduce: An Experimental Survey"
  * (VLDB 2018, PAPERS.md).
  */
object Dedup {

  /** Exact dedup survivors: group by content hash (md5 of utf-8 bytes),
    * keep the smallest doc_id per group. At 100 TB this shuffles only
    * (16-byte hash, id) pairs.
    */
  def q19DedupExact(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .groupBy(md5(col("text").cast("binary")).as("h"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"))
      .orderBy(col("doc_id"))

  // ---- MinHash ------------------------------------------------------

  val NumHashes = 64
  val Bands = 16 // 16 bands x 4 rows
  val RowsPerBand: Int = NumHashes / Bands

  /** Mersenne prime 2^61 - 1: modulus of the shingle and permutation
    * hash arithmetic. Chosen over a 64-bit mixer for ORACLE
    * REPLAYABILITY — (a*x+b) mod p with p < 2^61 keeps every product
    * under 2^122, which DuckDB's 128-bit HUGEINT computes exactly, so
    * the q20 driver oracle rebuilds bit-identical signatures, band
    * buckets, and candidate pairs (converting q20 from rows-only to
    * hash-matched, the q22/q28 replayable-hash precedent). An earlier
    * splitmix64 family was ~2x cheaper per slot but irreproducible in
    * SQL; with Mersenne folding (no division) the universal family
    * costs ~2 multiplies per slot — the same cost class.
    */
  val MersenneP: Long = (1L << 61) - 1

  /** Karp-Rabin radix for shingle hashing (> any UTF-16 code unit). */
  val KrBase: Long = 1000003L

  /** (a * b) mod 2^61-1 for 0 <= a, b < 2^61: 128-bit product via
    * Math.multiplyHigh, then two Mersenne folds — no division, no
    * BigInteger.
    */
  private[operators] def mulmodP(a: Long, b: Long): Long = {
    val hi = Math.multiplyHigh(a, b)
    val lo = a * b
    var r = ((hi << 3) | (lo >>> 61)) + (lo & MersenneP)
    r = (r >>> 61) + (r & MersenneP)
    if (r >= MersenneP) r - MersenneP else r
  }

  /** Per-permutation universal-hash coefficients (a_j nonzero, b_j),
    * from the same fixed-seed LCG as ever but reduced into the field —
    * and PUBLISHED via [[permSeedValuesSql]]: the q20 oracle pastes
    * them as literals and replays v_j = (a_j x + b_j) mod p.
    */
  private[graft] val permA: Array[Long] = new Array[Long](NumHashes)
  private[graft] val permB: Array[Long] = new Array[Long](NumHashes)
  locally {
    var state = 42L
    def next(): Long = {
      state = state * 6364136223846793005L + 1442695040888963407L
      state
    }
    var j = 0
    while (j < NumHashes) {
      permA(j) = java.lang.Long.remainderUnsigned(next(), MersenneP - 1) + 1
      permB(j) = java.lang.Long.remainderUnsigned(next(), MersenneP)
      j += 1
    }
  }

  /** The q20 oracle's literal `(j, a, b)` VALUES rows — generated from
    * [[permA]]/[[permB]] so engine and oracle can never drift.
    */
  private[graft] def permSeedValuesSql: String =
    permA.indices.map(j => s"(${j}, ${permA(j)}, ${permB(j)})").mkString(", ")

  /** Karp-Rabin polynomial hash of `t[from, until)` mod 2^61-1 —
    * left-fold h = (h * KrBase + char) mod p, which DuckDB replays as a
    * `list_reduce` over HUGEINT char codes. Empty range hashes to 0.
    */
  private def windowHash(t: CharSequence, from: Int, until: Int): Long = {
    var h = 0L
    var i = from
    while (i < until) {
      h = mulmodP(h, KrBase) + t.charAt(i) // < p + 2^16, one conditional fold
      if (h >= MersenneP) h -= MersenneP
      i += 1
    }
    h
  }

  /** KrBase^4 mod p — the weight the oldest char of a 5-gram carries,
    * precomputed for the rolling recurrence in [[shingles]].
    */
  private val KrBase4: Long =
    mulmodP(mulmodP(KrBase, KrBase), mulmodP(KrBase, KrBase))

  /** Character 5-gram shingle hash set of the normalized text, as a
    * sorted distinct primitive array. Hot path of the signature map
    * (profiled at ~60% of q20's cold time): no boxed set and no
    * per-shingle String allocation — the Karp-Rabin window hash is
    * computed ROLLING (h' = (h - c_old*B^4)*B + c_new, algebraically
    * identical mod p to the per-window fold the oracle replays), so
    * each position costs 2 mulmods instead of 5; sort/dedup the
    * primitive array in place.
    */
  private[operators] def shingles(text: String, k: Int = 5): Array[Long] = {
    val t = Tokens.fold(text)
    if (t.length < k) Array(windowHash(t, 0, t.length))
    else {
      val n = t.length - k + 1
      val arr = new Array[Long](n)
      var h = windowHash(t, 0, k)
      arr(0) = h
      var i = 1
      while (i < n) {
        var x = h - mulmodP(t.charAt(i - 1), KrBase4)
        if (x < 0) x += MersenneP
        x = mulmodP(x, KrBase) + t.charAt(i + k - 1)
        if (x >= MersenneP) x -= MersenneP
        h = x
        arr(i) = h
        i += 1
      }
      java.util.Arrays.sort(arr)
      // in-place dedup of the sorted array
      var w = 1
      i = 1
      while (i < n) {
        if (arr(i) != arr(w - 1)) { arr(w) = arr(i); w += 1 }
        i += 1
      }
      if (w == n) arr else java.util.Arrays.copyOf(arr, w)
    }
  }

  private[operators] def minhashSignature(sh: Array[Long]): Array[Long] = {
    val sig = Array.fill(NumHashes)(Long.MaxValue)
    var i = 0
    while (i < sh.length) {
      val x = sh(i)
      var j = 0
      while (j < NumHashes) {
        var v = mulmodP(permA(j), x) + permB(j)
        if (v >= MersenneP) v -= MersenneP
        if (v < sig(j)) sig(j) = v
        j += 1
      }
      i += 1
    }
    sig
  }

  /** Per-band bucket key: hash of the band's signature slice. */
  private def bandHash(sig: Array[Long], band: Int): Long = {
    var h = 1125899906842597L
    var j = band * RowsPerBand
    val end = j + RowsPerBand
    while (j < end) { h = h * 31 + sig(j); j += 1 }
    h
  }

  /** Shared MinHash edge-generation core (q20 near-dup report, q53
    * duplicate clustering): shingle + signature frame (cached — consumed
    * by banding, verification, and the caller's final join), bounded
    * LSH candidate pairs verified with exact Jaccard, and the LSH drop
    * stats. Returns (withSh(doc_id, sh, sig), pairs(a, b, jaccard),
    * stats(n_dropped_buckets, n_dropped_members)).
    */
  private[operators] def minhashPairs(
      s: SparkSession, d: String): (DataFrame, DataFrame, DataFrame) =
    minhashPairsOf(Tables.documents(s, d))

  /** Exact Jaccard of two SORTED-DISTINCT long arrays via the fused
    * [[graft.functions.SortedIntersectCount]] kernel:
    * inter / (|a| + |b| - inter). The `size(array_intersect) /
    * size(array_union)` form this replaces allocated a hash set plus
    * two result arrays per CANDIDATE PAIR — the highest-volume row
    * stream of the near-dup verify joins. The shingle frames satisfy
    * the sorted-distinct contract by construction ([[shingles]]).
    */
  private def sortedJaccard(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column = {
    val inter = call_function("sorted_intersect_count", a, b)
    inter.cast("double") / (size(a) + size(b) - inter).cast("double")
  }

  /** [[minhashPairs]] over any `(doc_id, text)`-bearing frame. */
  private[operators] def minhashPairsOf(
      documents: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    val s = documents.sparkSession
    graft.functions.FingerprintFunctions.register(s)
    import s.implicits._
    val docs = documents.select(col("doc_id"), col("text")).as[(Long, String)]
    val withSh = Scope.lru.persist(docs.map { case (id, text) =>
      val sh = shingles(text)
      (id, sh, minhashSignature(sh))
    }.toDF("doc_id", "sh", "sig"))

    val bands = withSh.select(col("doc_id"), col("sig"))
      .as[(Long, Array[Long])]
      .flatMap { case (id, sig) =>
        (0 until Bands).iterator.map(b => (id, b, bandHash(sig, b)))
      }.toDF("doc_id", "band", "bh")

    // hot-bucket-bounded candidate generation (see LshJoin scaladoc):
    // a band bucket shared by >MaxBucket docs is dropped, not self-joined;
    // the drop count rides on every output row so recall loss is observable
    val (cand, lshStats) =
      LshJoin.boundedBucketPairsWithStats(bands, "doc_id", LshJoin.MaxBucket, "band", "bh")

    val sh = withSh.select(col("doc_id"), col("sh"))
    val pairs = cand
      .join(sh.select(col("doc_id").as("a"), col("sh").as("sha")), "a")
      .join(sh.select(col("doc_id").as("b"), col("sh").as("shb")), "b")
      .select(col("a"), col("b"), sortedJaccard(col("sha"), col("shb")).as("jaccard"))
    (withSh, pairs, lshStats)
  }

  /** MinHash+LSH near-duplicate detection. Output: one row per document
    * with its LSH candidate count and best exact-Jaccard score (0 when no
    * candidate shares a band). Hash-matched oracle: the Karp-Rabin
    * shingle hash and (a,b)-published universal permutations (both mod
    * 2^61-1, see [[MersenneP]]) make the whole pipeline — signatures,
    * band buckets (including the 31-multiplier band hash mod 2^64),
    * the distinct-member bucket cap with drop stats, and the exact
    * Jaccard verify — DuckDB-replayable in HUGEINT arithmetic.
    */
  def q20DedupMinhash(s: SparkSession, d: String): DataFrame = {
    val (withSh, pairs, lshStats) = minhashPairs(s, d)

    val perDoc = pairs.select(col("a").as("doc_id"), col("jaccard"))
      .union(pairs.select(col("b").as("doc_id"), col("jaccard")))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_candidates"), max(col("jaccard")).as("best_jaccard"))

    withSh.select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .crossJoin(broadcast(lshStats))
      .select(col("doc_id"),
        coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
        coalesce(col("best_jaccard"), lit(0.0)).as("best_jaccard"),
        col("n_dropped_buckets"), col("n_dropped_members"))
      .orderBy(col("doc_id"))
  }

  /** Default verification threshold for treating a candidate pair as a
    * duplicate edge (the LSH banding at 16x4 targets ~J >= 0.5; the
    * exact-Jaccard verify then keeps only true duplicates).
    */
  val DupJaccardThreshold = 0.7

  /** Candidate-count ceiling for broadcasting the q69 verify frames;
    * above it the verify joins fall back to shuffle hash joins (correct
    * either way — the broadcast is a latency optimization, not a
    * semantic requirement).
    */
  val MaxBroadcastCand = 4000000L

  /** Cross-corpus NEAR-duplicate contamination: flag every corpus
    * document whose best exact Jaccard against any benchmark document
    * reaches `threshold`, reported per source — the fuzzy complement of
    * [[Curation.decontaminateStats]] (verbatim n-gram overlap misses
    * paraphrased or lightly-edited eval leakage; MinHash at J >= 0.5
    * catches it). `corpus` needs (doc_id, source, text); `benchmark`
    * needs (doc_id, text) and is the held-out eval suite as its own
    * small frame, same contract as q58. Output carries the LSH drop
    * stats (`n_dropped_buckets`, `n_dropped_members`) so recall loss
    * from the fan-out cap is observable, mirroring q20/q21.
    *
    * Scale shape — flood-proof by construction:
    *   1. EXACT-COLLAPSE first: the corpus is collapsed to distinct
    *      content (md5 groupBy, shuffling only (hash, id) pairs) before
    *      any signature work. A mass-duplicated boilerplate doc — the
    *      single most common contamination pattern — therefore probes
    *      the benchmark bands as ONE representative, not N colliding
    *      copies; every exact copy inherits its representative's verdict
    *      through the (doc -> rep) mapping at rollup time.
    *   2. CAPPED FAN-OUT: distinct representatives can still pile into
    *      one benchmark band bucket (shared boilerplate variants). Per
    *      (band, bh) bucket the distinct-representative collision count
    *      is capped at `bucketCap` — over-cap buckets are dropped with
    *      their bucket/member counts surfaced on every output row, the
    *      same observability contract as [[LshJoin]]. The surviving
    *      candidate set is hard-bounded: <= bucketCap x Bands x |bench|
    *      rows, i.e. bounded by BENCHMARK size, never by the corpus.
    *   3. GUARDED BROADCAST: the candidate frame is counted (it is
    *      persisted and consumed twice anyway); at or under
    *      `maxBroadcastCand` rows the verify joins broadcast it, above
    *      they fall back to shuffle hash joins — the job degrades to a
    *      bounded shuffle instead of a driver/executor broadcast OOM.
    * The only corpus-wide operations are the collapse groupBy on 16-byte
    * hashes and the representative signature map; bands that miss the
    * benchmark's (band, bh) set are filtered against a broadcast before
    * any aggregation.
    *
    * Cache lifetime: the result (one row per source) is materialized
    * eagerly and persisted, and every intermediate (representative
    * signatures, hot-bucket list, candidates, benchmark signatures) is
    * released by the pinned scope before returning — no storage-memory
    * residue outlives the call.
    */
  def crossCorpusNearDups(
      corpus: DataFrame, benchmark: DataFrame,
      threshold: Double = DupJaccardThreshold,
      bucketCap: Int = LshJoin.MaxBucket,
      maxBroadcastCand: Long = MaxBroadcastCand): DataFrame = Scope.pinned { sc =>
    val s = corpus.sparkSession
    graft.functions.FingerprintFunctions.register(s) // sorted_intersect_count
    import s.implicits._
    require(bucketCap > 0, s"bucketCap must be positive, got $bucketCap")

    val bsig = sc.persist(benchmark.select(col("doc_id"), col("text")).as[(Long, String)]
      .map { case (id, t) =>
        val sh = shingles(t)
        (id, sh, minhashSignature(sh))
      }.toDF("bench_id", "bsh", "bsig"))
    val bbands = bsig.select(col("bench_id"), col("bsig"))
      .as[(Long, Array[Long])]
      .flatMap { case (id, sig) =>
        (0 until Bands).iterator.map(b => (id, b, bandHash(sig, b)))
      }.toDF("bench_id", "band", "bh")

    // 1. exact-collapse: doc -> representative (min doc_id of identical
    // content); only representatives get shingled/signed. Persisted:
    // consumed by the representative semi-join (through the rsig cache)
    // AND by the final rollup — without the cache the rollup job would
    // re-run the md5 + groupBy + join over the full corpus
    val hashed = corpus.select(col("doc_id"), col("source"),
      md5(col("text").cast("binary")).as("h"))
    val docRep = sc.persist(hashed.join(
      hashed.groupBy(col("h")).agg(min(col("doc_id")).as("rep")), "h")
      .select(col("doc_id"), col("source"), col("rep")))
    val reps = corpus.select(col("doc_id"), col("text")).join(
      docRep.filter(col("doc_id") === col("rep")).select(col("doc_id")),
      Seq("doc_id"), "left_semi")

    val rsig = sc.persist(reps.as[(Long, String)]
      .map { case (id, t) =>
        val sh = shingles(t)
        (id, sh, minhashSignature(sh))
      }.toDF("rep", "sh", "sig"))
    val rbands = rsig.select(col("rep"), col("sig"))
      .as[(Long, Array[Long])]
      .flatMap { case (id, sig) =>
        (0 until Bands).iterator.map(b => (id, b, bandHash(sig, b)))
      }.toDF("rep", "band", "bh")

    // 2. capped fan-out: representatives landing in benchmark buckets,
    // with over-cap (band, bh) buckets dropped and counted. The probe
    // filter against the broadcast distinct benchmark keys runs BEFORE
    // the histogram groupBy, so only actual collisions are shuffled.
    val bKeys = bbands.select(col("band"), col("bh")).distinct()
    val probe = rbands.join(broadcast(bKeys), Seq("band", "bh"))
    val hot = sc.persist(probe.groupBy(col("band"), col("bh"))
      .agg(countDistinct(col("rep")).as("n"))
      .filter(col("n") > bucketCap))
    val stats = hot.agg(
      count(lit(1)).as("n_dropped_buckets"),
      coalesce(sum(col("n")), lit(0L)).as("n_dropped_members"))
    val cand = sc.persist(probe
      .join(broadcast(hot.select(col("band"), col("bh"))), Seq("band", "bh"), "left_anti")
      .join(broadcast(bbands), Seq("band", "bh"))
      .select(col("rep"), col("bench_id")).distinct())

    // 3. guarded broadcast: the guard only needs to know whether cand
    // EXCEEDS the ceiling, not its exact size, so it probes
    // limit(max+1).count() — the LocalLimit stops each task after it has
    // seen enough rows, bounding the probe job at O(maxBroadcastCand)
    // instead of a full count over the candidate set (which at flood
    // scale is exactly when the full count hurts). Above the ceiling the
    // verify joins run as shuffle hash joins instead of broadcasting.
    val probeN = math.min(maxBroadcastCand + 1, Int.MaxValue.toLong).toInt
    val candSmall = cand.limit(probeN).count() <= maxBroadcastCand
    def sized(df: DataFrame): DataFrame = if (candSmall) broadcast(df) else df

    // exact-Jaccard verify over representatives only
    val verified = rsig.select(col("rep"), col("sh"))
      .join(sized(cand), "rep")
      .join(broadcast(bsig.select(col("bench_id"), col("bsh"))), "bench_id")
      .select(col("rep"), sortedJaccard(col("sh"), col("bsh")).as("j"))
      .groupBy(col("rep")).agg(max(col("j")).as("best_j"))

    // rollup: every doc inherits its representative's verdict
    docRep
      .join(sized(verified), Seq("rep"), "left")
      .select(col("source"),
        when(col("best_j") >= threshold, 1L).otherwise(0L).as("contam"),
        coalesce(col("best_j"), lit(0.0)).as("bj"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("contam")).as("n_contaminated"),
        sum(lit(1L) - col("contam")).as("n_clean"),
        max(col("bj")).as("max_jaccard"))
      .crossJoin(broadcast(stats))
      .orderBy(col("source"))
  }

  /** Driver binding for [[crossCorpusNearDups]]: the q58 stand-in eval
    * split (`doc_id % 97 == 0`) as the benchmark frame. HASH-MATCHED
    * since round 11: this was rows-only while the minhash family was
    * FNV/splitmix (sub-threshold `max_jaccard` depends on exactly which
    * candidates the seeded banding surfaces, and those hashes had no
    * SQL replay); the move to Karp-Rabin shingles + published (a,b)
    * permutations mod 2^61-1 ([[MersenneP]]) made the candidate set
    * itself DuckDB-replayable, so the oracle now reproduces the full
    * pipeline — exact md5 collapse, rep/benchmark signatures and band
    * buckets, the probe-side distinct-rep bucket cap with drop stats,
    * and the exact-Jaccard verify — including every sub-threshold
    * diagnostic. `CrossCorpusSpec` still pins the planted-fixture
    * semantics and the broadcast-vs-shuffle fallback equivalence.
    */
  def q69CrossContamination(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("source"), col("text"))
    crossCorpusNearDups(
      docs.filter(col("doc_id") % Curation.BenchmarkMod =!= 0),
      docs.filter(col("doc_id") % Curation.BenchmarkMod === 0),
      threshold = 0.5)
  }

  /** Incremental (new-batch-vs-existing-corpus) exact dedup: classify
    * each incoming document as duplicate-of-existing or new, per
    * source — the DAILY-INGESTION shape of dedup, where re-scrubbing
    * the whole corpus per batch is the thing a 100 TB pipeline cannot
    * afford. `existing` needs (text); `incoming` needs
    * (doc_id, source, text).
    *
    * Scale shape — sideways information passing (the q54 idiom turned
    * on ingestion): a Bloom filter over the EXISTING corpus's 64-bit
    * content keys is built distributed (tree-merged partials), shipped
    * as one plan literal, and probed inside whole-stage codegen by the
    * incoming scan; only Bloom POSITIVES (true dups + ~fpp false
    * positives) reach the exact md5 verify join, so the anti-dup
    * exchange ships ~|dups| rows, not |incoming|. The existing corpus
    * is read once to build the filter and once more ONLY for the
    * verify side's (16-byte hash) projection. Bloom negatives are
    * definitively new — no verification needed, the filter's one-sided
    * error guarantee.
    */
  def incrementalDedup(
      existing: DataFrame, incoming: DataFrame, fpp: Double = 0.01): DataFrame = {
    val s = incoming.sparkSession
    val exKeys = existing.select(xxhash64(col("text")).as("k"))
    val bloom = Relational.bloomFilterOf(exKeys, "k", fpp)
    // broadcast handoff (see q54): the corpus-sized filter must not
    // ride in every task binary as a plan literal
    val bcast = s.sparkContext.broadcast(bloom)
    val inc = incoming.select(col("doc_id"), col("source"), col("text"))
    val candidates = inc
      .filter(graft.functions.BloomMightContainBc.column(xxhash64(col("text")), bcast))
      .select(col("doc_id"), md5(col("text").cast("binary")).as("h"))
    // exact verify: only bloom positives ship into this join
    val dupIds = candidates.join(
      existing.select(md5(col("text").cast("binary")).as("h")),
      Seq("h"), "left_semi")
      .select(col("doc_id"))
    // dupIds is bounded by |true dups| + fpp x |incoming| — broadcast
    // it so the rollup streams the incoming frame instead of sort-merge
    // shuffling it against a frame a fraction of its size
    inc.join(broadcast(dupIds.withColumn("dup", lit(1L))), Seq("doc_id"), "left")
      .select(col("source"), coalesce(col("dup"), lit(0L)).as("dup"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_incoming"),
        sum(col("dup")).as("n_dup"),
        sum(lit(1L) - col("dup")).as("n_new"))
      .orderBy(col("source"))
  }

  /** Driver binding (q78): even doc_ids are the existing corpus, odd
    * the incoming batch; every incoming `doc_id % 11 == 0` document is
    * PLANTED as a verbatim copy of existing doc `doc_id - 1` (the
    * corpus has no natural exact dups), so the dup/new split is
    * deterministic, non-vacuous, and the DuckDB oracle reproduces it
    * with a plain hash semi-join — the Bloom pruning must be invisible
    * in the answer.
    */
  def q78IncrementalDedup(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("source"), col("text"))
    val existing = docs.filter(col("doc_id") % 2 === 0)
    val incoming = docs.filter(col("doc_id") % 2 === 1)
      .join(broadcast(existing.select(col("doc_id").as("ex_id"), col("text").as("ex_text"))),
        col("ex_id") === col("doc_id") - 1, "left")
      .select(col("doc_id"), col("source"),
        when(col("doc_id") % 11 === 0 && col("ex_text").isNotNull, col("ex_text"))
          .otherwise(col("text")).as("text"))
    incrementalDedup(existing.select(col("text")), incoming)
  }

  /** End-to-end near-dup dedup: exact-dup collapse -> MinHash edges at
    * `threshold` over the exact representatives -> connected components
    * -> one row per doc with its cluster representative (smallest
    * doc_id in the component), cluster size, and a keep flag. "Keep one
    * doc per near-dup cluster" IS this frame filtered to `keep`.
    *
    * The exact-collapse FIRST stage is load-bearing at scale, not an
    * optimization: a flood of identical documents (mass-duplicated
    * boilerplate — the single most common dup pattern in web corpora)
    * produces identical signatures, lands in ONE LSH bucket, blows the
    * hot-bucket cap, and would be DROPPED from candidate generation —
    * i.e. the most duplicated content is exactly what pure LSH fails to
    * dedup. Collapsing by content hash shuffles only (hash, id) pairs,
    * shrinks the LSH input to distinct content, and exact-dup members
    * inherit their representative's cluster by a join.
    */
  def dupClusters(
      documents: DataFrame, threshold: Double = DupJaccardThreshold): DataFrame = {
    // doc -> exact representative (min doc_id of identical content).
    // groupBy + join rather than a window over the hash: the partial
    // aggregate absorbs an identical-content flood map-side, where a
    // window would buffer the whole flood partition in memory
    val hashed = documents
      .select(col("doc_id"), md5(col("text").cast("binary")).as("h"))
    val docRep = hashed.join(
      hashed.groupBy(col("h")).agg(min(col("doc_id")).as("rep")), "h")
      .select(col("doc_id"), col("rep"))

    val reps = documents.join(
      docRep.filter(col("doc_id") === col("rep")).select(col("doc_id")),
      Seq("doc_id"), "left_semi")

    val (withSh, pairs, _) = minhashPairsOf(reps)
    val dupEdges = pairs.filter(col("jaccard") >= threshold)
      .select(col("a").as("src"), col("b").as("dst"))
    val sym = dupEdges.union(
      dupEdges.select(col("dst").as("src"), col("src").as("dst")))
    val nodes = withSh.select(col("doc_id").as("p"))
    val labels = Corpus.connectedComponents(nodes, sym)

    // every doc inherits its exact-rep's component; sizes count DOCS
    val docLabels = docRep.join(labels, docRep("rep") === labels("p"))
      .select(col("doc_id"), col("lbl"))
    val sizes = docLabels.groupBy(col("lbl")).agg(count(lit(1)).as("cluster_size"))
    docLabels.join(sizes, "lbl")
      .select(col("doc_id"), col("lbl").as("cluster_id"),
        col("cluster_size"), (col("doc_id") === col("lbl")).as("keep"))
      .orderBy(col("doc_id"))
  }

  /** Leakage-free train/val/test split: every near-dup CLUSTER is
    * assigned atomically to one split — the companion invariant to
    * decontamination (a near-copy of a training doc sitting in the
    * held-out split is self-contamination that per-document hash
    * splits, q50 included, cannot prevent). Assignment hashes the
    * cluster REPRESENTATIVE's content (not its id): membership is then
    * stable under corpus growth, reordering, and re-chunking as long
    * as the representative's text survives — the q49/q50 determinism
    * contract lifted to cluster granularity. 12/2/2 sixteenths, same
    * thresholds as q50.
    *
    * Scale shape: [[dupClusters]] does the heavy lifting (bounded LSH
    * + pointer-doubling CC); on top of it this is one join to fetch
    * representative content hashes (the rep frame is |clusters| rows)
    * and a codegen'd md5 bucket decision. Non-SQL-expressible (LSH) ->
    * rows-only driver check; ClusterSplitSpec pins the invariant.
    */
  def clusterSafeSplit(
      documents: DataFrame, threshold: Double = DupJaccardThreshold): DataFrame = {
    val clusters = dupClusters(documents, threshold)
    val repHash = documents.select(col("doc_id").as("cluster_id"),
      substring(md5(col("text").cast("binary")), 1, 1).as("rh"))
    clusters.join(repHash, Seq("cluster_id"), "left") // reps only match; members share cluster_id
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"),
        when(col("rh") <= "b", "train")
          .when(col("rh") <= "d", "val")
          .otherwise("test").as("split"))
      .orderBy(col("doc_id"))
  }

  /** [[clusterSafeSplit]] with EXACT near-dup edges: identical-content
    * collapse, then [[allPairsJaccard]] (prefix-filtered, zero recall
    * loss) between representatives instead of MinHash/LSH candidates,
    * then the same pointer-doubling components and representative-
    * content split assignment. Every step is deterministic SQL-
    * expressible arithmetic, so the no-cluster-straddle guarantee —
    * the one LLM-pipeline *invariant* this family exists for — is
    * DuckDB-oracle-checkable end to end; the LSH form remains the
    * documented scale mode when the corpus is too large for exact
    * all-pairs (its candidate generation is bucket-capped where this
    * one's prefix-posting join is the algorithm's own bound).
    */
  def clusterSafeSplitExact(
      documents: DataFrame, threshold: Double = DupJaccardThreshold): DataFrame = {
    // persisted: the content hash feeds the rep collapse AND the split
    // assignment below — without the cache the corpus is scanned (and
    // md5'd) a third time just to re-derive a hash this frame already
    // holds. Lifetime: LRU/clearCache (the library contract).
    val hashed = Scope.lru.persist(documents
      .select(col("doc_id"), md5(col("text").cast("binary")).as("h")))
    // persisted: feeds the representative semi-join, the node set and
    // the per-doc label attach — three consumers that would otherwise
    // each re-run the md5 + groupBy + join over the corpus. Lifetime:
    // LRU/clearCache (lazily returned frame, the library contract).
    val docRep = Scope.lru.persist(hashed.join(
      hashed.groupBy(col("h")).agg(min(col("doc_id")).as("rep")), "h")
      .select(col("doc_id"), col("rep")))
    val reps = documents.join(
      docRep.filter(col("doc_id") === col("rep")).select(col("doc_id")),
      Seq("doc_id"), "left_semi")

    val pairs = allPairsJaccard(reps, threshold)
    val sym = pairs.select(col("a").as("src"), col("b").as("dst"))
      .union(pairs.select(col("b").as("src"), col("a").as("dst")))
    val nodes = docRep.select(col("rep").as("p")).distinct()
    val labels = Corpus.connectedComponents(nodes, sym)

    // persisted: the sizes aggregate AND the final attach both read it,
    // and its lineage includes the whole CC iteration — recomputing that
    // is the expensive half of the query. LRU lifetime as above.
    val docLabels = Scope.lru.persist(docRep.join(labels, docRep("rep") === labels("p"))
      .select(col("doc_id"), col("lbl")))
    val sizes = docLabels.groupBy(col("lbl")).agg(count(lit(1)).as("cluster_size"))
    // the cluster label IS a doc_id (min-label components over min-id
    // reps), so the split hashes the LABEL doc's content — stable under
    // corpus growth exactly like the LSH form. Reads the cached hash
    // frame: same md5, one fewer corpus scan.
    val repHash = hashed.select(col("doc_id").as("lbl"),
      substring(col("h"), 1, 1).as("rh"))
    docLabels.join(sizes, "lbl").join(repHash, "lbl")
      .select(col("doc_id"), col("lbl").as("cluster_id"), col("cluster_size"),
        when(col("rh") <= "b", "train")
          .when(col("rh") <= "d", "val")
          .otherwise("test").as("split"))
      .orderBy(col("doc_id"))
  }

  /** Driver binding (q79): cluster-atomic split of the documents table
    * via the EXACT edge set (t=0.5, q88's threshold), reported per
    * split with doc and cluster counts — hash-matched against a DuckDB
    * oracle that rebuilds the same collapse, gram-join Jaccard edges,
    * recursive-CTE components, and rep-hash assignment. The atomicity
    * invariant is additionally pinned by `ClusterSplitSpec` for both
    * edge modes.
    */
  def q79ClusterSplit(s: SparkSession, d: String): DataFrame =
    clusterSafeSplitExact(
      Tables.documents(s, d).select(col("doc_id"), col("text")), 0.5)
      .groupBy(col("split"))
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("cluster_id")).as("n_clusters"))
      .orderBy(col("split"))

  // ---- SimHash ------------------------------------------------------

  /** 64-bit SimHash (Charikar '02) with an ORACLE-REPRODUCIBLE token
    * hash: each token contributes the 64 bits of [[gramHash64]] (the
    * first 8 bytes of md5, the q22 key trick) rather than a murmur
    * pair, so DuckDB can rebuild the identical signature with
    * `('0x' || substr(md5(tok), 1, 16))::UBIGINT` and the q21 driver
    * check hash-matches the full output instead of rows-only. md5 is
    * ~2x a murmur per token, but the q21 map is tokenization-dominated
    * and checkability at the driver outranks the micro-cost (the same
    * trade [[gramHash64]] documents). Repeated tokens vote repeatedly —
    * the classic frequency-weighted formulation.
    */
  private[graft] def simhash64(text: String): Long = {
    val counts = new Array[Int](64)
    // hash each DISTINCT token once and vote with its multiplicity —
    // identical to per-occurrence voting (votes are additive), but the
    // md5 cost drops by the repeated-token factor of natural text
    val tokCounts = new java.util.HashMap[String, Int]()
    Tokens.WsLower(text).foreach(tok => tokCounts.merge(tok, 1, Integer.sum _))
    tokCounts.forEach { (tok, c) =>
      val h = gramHash64(tok)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) counts(b) += c else counts(b) -= c
        b += 1
      }
    }
    var sig = 0L
    var b = 0
    while (b < 64) { if (counts(b) > 0) sig |= (1L << b); b += 1 }
    sig
  }

  /** SimHash near-dup: 64-bit signature, 4x16-bit chunk LSH, Hamming<=3
    * verification via bit_count(xor). Hash-matched oracle: the md5
    * token hash makes the whole pipeline (signature -> chunk buckets ->
    * bounded pairs -> Hamming verify) DuckDB-replayable.
    */
  def q21DedupSimhash(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val sigs = Scope.lru.persist(Tables.documents(s, d).select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .map { case (id, text) => (id, simhash64(text)) }
      .toDF("doc_id", "simhash"))

    val chunks = sigs.as[(Long, Long)]
      .flatMap { case (id, sig) =>
        (0 until 4).iterator.map(c => (id, c, (sig >>> (c * 16)) & 0xffffL))
      }.toDF("doc_id", "chunk", "ck")

    // 65k distinct buckets per chunk guarantee collisions at corpus
    // scale — bound the per-bucket pair blow-up the same way as MinHash
    val (cand, lshStats) =
      LshJoin.boundedBucketPairsWithStats(chunks, "doc_id", LshJoin.MaxBucket, "chunk", "ck")

    val near = cand
      .join(sigs.select(col("doc_id").as("a"), col("simhash").as("sa")), "a")
      .join(sigs.select(col("doc_id").as("b"), col("simhash").as("sb")), "b")
      .filter(bit_count(col("sa").bitwiseXOR(col("sb"))) <= 3)

    val perDoc = near.select(col("a").as("doc_id"))
      .union(near.select(col("b").as("doc_id")))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_near"))

    sigs.select(col("doc_id"), col("simhash"))
      .join(perDoc, Seq("doc_id"), "left")
      .crossJoin(broadcast(lshStats))
      .select(col("doc_id"), col("simhash"),
        coalesce(col("n_near"), lit(0L)).as("n_near"),
        col("n_dropped_buckets"), col("n_dropped_members"))
      .orderBy(col("doc_id"))
  }

  /** Document-frequency cap for the q22 inverted index: a trigram present
    * in more than this many documents is dropped from BOTH the index and
    * the per-doc gram counts (so Jaccard stays consistent over the
    * filtered vocabulary). A ubiquitous gram contributes ~0 similarity
    * signal but its posting list is the index's skew hot spot — the
    * standard stop-pattern filter of the set-similarity literature.
    */
  val MaxGramDf = 1000

  /** Estimated-bytes ceiling for the q22 zero-shuffle probe closure
    * (hot-gram set + probe gram arrays). Spark warns per task above
    * ~1000 KiB of serialized closure; past this budget
    * [[ngramScoredPairs]] auto-switches to the join-shaped inverted
    * probe, which ships the same two sets once per executor as
    * broadcasts instead of once per task — the sf1 sweep's 15.5 MiB
    * task-size flag, engineered out instead of hand-switched.
    */
  val ProbeClosureBudgetBytes: Long = 900L * 1024

  /** Exact all-pairs similarity self-join via prefix filtering
    * (Chaudhuri, Ganti & Kaushik ICDE '06; Bayardo, Ma & Srikant,
    * "Scaling up all pairs similarity search", WWW '07): every
    * unordered document pair with trigram-shingle Jaccard >=
    * `threshold`, EXACTLY — unlike the MinHash/SimHash family (q20/
    * q21) there is no probabilistic recall loss.
    *
    * Why it scales: sort each doc's gram set by GLOBAL rarity
    * (document frequency asc, gram as tie-break) and keep only the
    * first n - ceil(t*n) + 1 grams as its "prefix". Completeness is
    * the pigeonhole on the globally-smallest shared gram: for any pair
    * at Jaccard >= t, that gram's position in each side's rarity order
    * is at most (set size - intersection + 1) <= prefix length, so the
    * pair collides on at least one PREFIX gram. The candidate join
    * therefore touches only prefix postings — rarest-first ordering
    * systematically keeps ubiquitous grams OUT of prefixes, which is
    * what bounds bucket skew without the recall-losing df-cap the LSH
    * paths use. Verify recomputes exact Jaccard over the full sorted
    * gram arrays with the fused [[graft.functions.SortedIntersectCount]]
    * kernel.
    *
    * Gram identity is the 64-bit md5 truncation ([[gramHash64]]), same
    * as the DuckDB oracle's substr(md5, 1, 16) — hashing is bilateral,
    * so intersection counts agree bit-for-bit on both sides.
    *
    * @return `(a, b, jaccard)` with a < b, one row per qualifying pair.
    */
  def allPairsJaccard(docs: DataFrame, threshold: Double): DataFrame = {
    require(threshold > 0 && threshold <= 1, s"threshold in (0,1], got $threshold")
    val s = docs.sparkSession
    graft.functions.FingerprintFunctions.register(s)
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    // compact per-doc sorted-distinct gram arrays (tokenize once,
    // persisted; lifetime contract as in [[ngramScoredPairsOf]]) —
    // built by the native gram_hashes kernel inside whole-stage
    // codegen (the former corpus-scale Dataset.map paid an encoder
    // barrier and per-window string allocation; GramHashesSpec pins
    // value-equality incl. the lower + \s+ tokenization)
    // persist BEFORE the gram-free filter: a filter on the kernel's
    // alias would be pushed below the projection and evaluate the
    // kernel TWICE per row while the cache populates (the guide §4.4
    // duplicate-evaluation trap, JVM-expression flavored — measured in
    // the q88 plan as gramhashes in both Filter and Project); filtered
    // on the CACHED column it is one size() probe per materialized row
    val docGrams = Scope.lru.persist(docs.select(col("doc_id"),
        Tokens.WsLower.gramHashes(col("text"), 3,
          distinct = true, sorted = true).as("grams")),
        StorageLevel.MEMORY_AND_DISK)
      .filter(size(col("grams")) > 0) // gram-free docs match nothing

    val dfreq = docGrams.select(explode(col("grams")).as("gram"))
      .groupBy(col("gram")).agg(count(lit(1)).as("df"))

    // rarity rank per doc; the 1e-9 guard keeps ceil from rounding an
    // exactly-integral t*n UP a ulp (which would shorten the prefix by
    // one and silently lose completeness)
    val byRarity = Window.partitionBy(col("doc_id")).orderBy(col("df"), col("gram"))
    // persisted: BOTH sides of the candidate self-join read this frame,
    // and its subtree (df join + rarity window) would otherwise run
    // twice. Lifetime contract as above.
    val prefix = Scope.lru.persist(docGrams
      .select(col("doc_id"), size(col("grams")).as("n"), explode(col("grams")).as("gram"))
      .join(dfreq, "gram")
      .withColumn("r", row_number().over(byRarity))
      .filter(col("r") <= col("n") - ceil(lit(threshold) * col("n") - lit(1e-9)) + 1)
      .select(col("gram"), col("doc_id")))

    val cand = prefix.as("pa").join(prefix.as("pb"),
        col("pa.gram") === col("pb.gram") && col("pa.doc_id") < col("pb.doc_id"))
      .select(col("pa.doc_id").as("a"), col("pb.doc_id").as("b"))
      .distinct()

    cand
      .join(docGrams.select(col("doc_id").as("a"), col("grams").as("ga")), "a")
      .join(docGrams.select(col("doc_id").as("b"), col("grams").as("gb")), "b")
      .withColumn("inter", call_function("sorted_intersect_count", col("ga"), col("gb")))
      .withColumn("jaccard", col("inter").cast("double") /
        (size(col("ga")) + size(col("gb")) - col("inter")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("a"), col("b"), col("jaccard"))
  }

  /** Driver binding: exact similarity self-join over the corpus at
    * t=0.5. Oracle: brute-force gram-join Jaccard in DuckDB — the
    * prefix-filtered plan must reproduce every pair exactly.
    */
  def q88AllPairs(s: SparkSession, d: String): DataFrame =
    allPairsJaccard(Tables.documents(s, d), 0.5)
      .orderBy(col("a"), col("b"))

  /** Cross-source duplicate flow (q98): q88's exact near-dup pairs
    * rolled up to an UNORDERED source-pair matrix — "which sources
    * copy from which", the report that decides whether dedup should
    * run within or across acquisition pipelines. Sources are
    * canonicalized with least/greatest so (A,B) and (B,A) land in one
    * cell; the doc->source attachment is two joins of the (tiny) pair
    * frame against the id->source projection, never a corpus shuffle.
    */
  def q98DupFlow(s: SparkSession, d: String): DataFrame = {
    val src = Tables.documents(s, d).select(col("doc_id"), col("source"))
    val pairs = allPairsJaccard(Tables.documents(s, d), 0.5)
    pairs
      .join(src.select(col("doc_id").as("a"), col("source").as("sa")), "a")
      .join(src.select(col("doc_id").as("b"), col("source").as("sb")), "b")
      .groupBy(
        least(col("sa"), col("sb")).as("source_a"),
        greatest(col("sa"), col("sb")).as("source_b"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy(col("source_a"), col("source_b"))
  }

  /** Shortest prefix (in tokens) [[truncationDups]] detects — also the
    * bucket key width. Docs shorter than this can't be flagged as
    * truncations; the floor is what keeps the bucket key selective.
    */
  val MinPrefixTokens = 16

  /** Truncation (prefix) duplicates (q109): documents whose token
    * sequence is a strict prefix of another document's — the
    * same-page-cut-off-at-different-lengths artifact that exact dedup
    * (q19) misses (different hashes) and Jaccard dedup under-scores
    * (a 10% prefix has ~10% Jaccard). Detection is EXACT — conditional
    * on single-space-joined token text whose characters sort above
    * 0x20 (printable ASCII and everything higher; the successor test
    * is char-level, so irregular whitespace or sub-space control
    * characters void the guarantee below) — above the
    * [[MinPrefixTokens]] floor via the sorted-adjacency lemma: if A ≤
    * B ≤ C lexicographically and A is a char-prefix of C, A is a
    * char-prefix of B — so a doc is a prefix of SOME doc iff it is a
    * prefix of its immediate lexicographic successor; and because a
    * space (0x20) then sorts below every token character, a
    * token-boundary extension sorts before char-glued extensions,
    * making the successor check's boundary test complete, not just
    * sound. Callers with untrusted whitespace should pre-normalize
    * (`concat_ws(" ", Tokens.Space.col(text))`).
    *
    * Scale shape: distinct texts bucket by the md5 of their first
    * [[MinPrefixTokens]] tokens (any prefix pair shares that key, so
    * bucketing loses nothing); the sort-and-successor window runs PER
    * BUCKET — no global sort, no single-partition window; flagged
    * texts rejoin the corpus by content hash. One wide exchange on the
    * bucket key plus the final semi-join.
    */
  def truncationDups(
      documents: DataFrame, minPrefixTokens: Int = MinPrefixTokens): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(minPrefixTokens >= 1)
    val toks = Tokens.Space.col(col("text"))
    val dt = documents.select(col("text")).distinct()
      .withColumn("t", toks)
      .filter(size(col("t")) >= minPrefixTokens)
      .withColumn("bkey", md5(concat_ws(" ", slice(col("t"), 1, minPrefixTokens))))
      .select(col("bkey"), col("text"))
    val w = Window.partitionBy(col("bkey")).orderBy(col("text"))
    val flagged = dt
      .withColumn("nxt", lead(col("text"), 1).over(w))
      .filter(col("nxt").isNotNull
        && expr("length(nxt) > length(text)")
        && expr("substring(nxt, 1, length(text)) = text")
        && expr("substring(nxt, length(text) + 1, 1) = ' '"))
      .select(md5(col("text").cast("binary")).as("h"))
    documents
      .withColumn("h", md5(col("text").cast("binary")))
      .join(flagged, Seq("h"), "left_semi")
      .select(col("doc_id"), col("source"), size(toks).cast("long").as("n_tok"))
      // source in the sort: planted ids are collision-free by
      // construction (q109 derives the shift from max(doc_id)), but
      // generic callers may feed id ties and the output contract is a
      // total order either way
      .orderBy(col("doc_id"), col("source"))
  }

  /** Driver binding (q109): [[truncationDups]] over the corpus plus
    * PLANTED half-length truncations (every `doc_id % 13 == 0` doc
    * re-enters as its first `n/2` tokens under a shifted id) — the
    * synthetic corpus has no natural prefix dups, so the planted rows
    * make the driver check non-vacuous, the q89/q93 pattern. The id
    * shift is `max(doc_id) + 1` measured from the fixture (one
    * broadcast scalar, same subquery in the oracle) rather than a
    * constant, so planted ids can never collide with real ones at any
    * scale factor.
    */
  def q109TruncationDups(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("source"), col("text"))
    val shift = docs.agg((max(col("doc_id")) + 1L).as("shift"))
    val planted = docs.filter(col("doc_id") % 13 === 0)
      .withColumn("t", Tokens.Space.col(col("text")))
      .crossJoin(broadcast(shift))
      .select((col("doc_id") + col("shift")).as("doc_id"), lit("planted").as("source"),
        concat_ws(" ", slice(col("t"), lit(1), expr("size(t) div 2"))).as("text"))
    truncationDups(docs.unionByName(planted))
  }

  private val Md5 = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** Stable 64-bit trigram hash: the first 8 bytes of md5(utf-8(gram)),
    * big-endian. The inverted index never needs the gram text back, so
    * shuffling/caching 8-byte keys instead of ~20-byte strings cuts the
    * exchanged volume roughly in half — the standard vocabulary-hashing
    * trick of the set-similarity literature. Collision expectation at
    * 10^6 distinct grams is ~n^2/2^64 ≈ 3e-8 (deterministic when it
    * ever happens). md5 rather than murmur so the key is ORACLE-
    * REPRODUCIBLE: these 64 bits ARE `substr(md5(g), 1, 16)`, which
    * lets the q22 DuckDB oracle rebuild identical keys (identical even
    * under collision) and hash-match the full output instead of a
    * rows-only check. ~2x slower than murmur per gram, but the q22 map
    * is tokenization-dominated, and correctness checkability at the
    * driver outranks a hash micro-cost.
    */
  private[graft] def gramHash64(g: String): Long = {
    val md = Md5.get()
    md.reset()
    val d = md.digest(g.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    var h = 0L
    var i = 0
    while (i < 8) { h = (h << 8) | (d(i) & 0xffL); i += 1 }
    h
  }

  /** Word n-gram Jaccard similarity search: probe docs (doc_id < 10)
    * against the corpus, top-3 matches per probe, over 64-bit trigram
    * hashes ([[gramHash64]]). Shape: one persisted compact per-doc
    * gram-hash-array frame; ubiquitous grams (document frequency >
    * [[MaxGramDf]] — the frequent-gram skew guard) are removed via a
    * bounded driver-collected set; the (tiny, bounded) probe gram sets
    * ride the closure so the corpus streams ONCE computing
    * intersections inline with ZERO join exchanges (PlanSpec pins it) —
    * only the small top-k window shuffles. The explode + join + count
    * inverted-index form remains the right tool when the probe side is
    * itself too large to broadcast; with 10 probes the zero-shuffle
    * probe strictly dominates.
    */
  def q22NgramJaccard(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("jaccard").desc, col("doc_id"))
    ngramScoredPairs(s, d).withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 3)
      .orderBy(col("probe_id"), col("rnk"))
  }

  /** The q22 probe-scoring core without the top-k cut: every
    * (probe, doc) pair with a non-zero filtered-trigram intersection
    * and its exact Jaccard. Exposed so composed retrieval (q81 hybrid
    * search) can re-rank a wider lexical candidate slate.
    */
  private[operators] def ngramScoredPairs(
      s: SparkSession, d: String,
      closureBudget: Long = ProbeClosureBudgetBytes): DataFrame = {
    // Typed map, deliberately: Spark's higher-order array functions
    // (transform/filter lambdas) are evaluated INTERPRETED, not
    // whole-stage-codegen'd — an expression-tree sliding-window was
    // measured 13x slower than this JVM closure at sf0.1. Per-doc
    // distinct happens in-memory inside the closure (docs are short),
    // so no global distinct shuffle is needed.
    import s.implicits._
    // One compact row per doc (its distinct trigram-hash array),
    // persisted: every downstream consumer (df histogram, sizes, probe
    // and index sides) derives from this frame, so the tokenize map —
    // the query's dominant per-row cost — runs exactly once, and the
    // cache holds one doc_id + ~|doc| longs per doc instead of a
    // doc_id-duplicating pair table. MEMORY_AND_DISK: at cluster scale
    // a spilled block still beats a tokenization pass. Lifetime:
    // populated by the first consumer, reclaimed by LRU eviction /
    // clearCache (a lazily returned DataFrame has no scope to
    // unpersist in).
    val docGrams = Scope.lru.persist(Tables.documents(s, d)
      .select(col("doc_id"),
        Tokens.WsLower.gramHashes(col("text"), 3,
          distinct = true, sorted = false).as("grams")),
      StorageLevel.MEMORY_AND_DISK)

    // drop ubiquitous grams (document frequency > MaxGramDf): per-doc
    // arrays are distinct, so this count IS the document frequency. The
    // over-cap list is bounded by total-gram-occurrences / MaxGramDf,
    // so collecting it to the driver is the same O(tiny) contract as
    // broadcasting it, one exchange cheaper. Removed from BOTH sides so
    // Jaccard stays consistent over the filtered vocabulary.
    val hotSet = docGrams.select(col("doc_id"), explode(col("grams")).as("gram"))
      .groupBy(col("gram"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") > MaxGramDf)
      .select(col("gram")).as[Long].collect().toSet

    // probe gram sets (doc_id < 10): 10 rows by construction — the same
    // documented bounded driver collect as the IVF probe ranking
    // (Similarity.q43KnnIvf).
    val probeSets: Array[(Long, Array[Long])] = docGrams
      .filter(col("doc_id") < 10).as[(Long, Array[Long])]
      .collect()
      .map { case (pid, g) => (pid, g.filterNot(hotSet)) }

    // Path choice is a measured BYTE budget, not a guess: the closure
    // payload is the hot set (boxed in a Set, ~40 B/elem serialized)
    // plus every probe gram array (8 B/elem). Spark warns per task
    // above ~1000 KiB, and at sf1 the hot set alone grew this payload
    // to 15.5 MiB — so past [[ProbeClosureBudgetBytes]] the SAME
    // computation switches to the join shape, where both sets travel
    // once per executor as torrent broadcasts instead of once per
    // task in the closure. NgramPathSpec pins the two paths equal.
    val payloadBytes =
      40L * hotSet.size + probeSets.map(p => 8L * p._2.length + 32L).sum
    if (payloadBytes <= closureBudget) {
      // Zero-shuffle probe: the probe sets ride the closure and the
      // corpus streams ONCE, counting per-(probe, doc) gram
      // intersections inline — where the join-shaped inverted index
      // would shuffle a (probe_id, doc_id) pair stream into a counting
      // aggregation, this emits the counted pairs directly. The only
      // shuffle left is the final tiny top-k window over scored
      // candidates.
      docGrams.as[(Long, Array[Long])]
        .flatMap { case (id, gramsRaw) =>
          val grams = gramsRaw.filterNot(hotSet)
          val nb = grams.length
          val docSet = grams.toSet
          probeSets.iterator
            .filter(_._1 != id)
            .map { case (pid, pg) =>
              var inter = 0
              var i = 0
              while (i < pg.length) { if (docSet.contains(pg(i))) inter += 1; i += 1 }
              (pid, id, inter, pg.length, nb)
            }
            .filter(_._3 > 0)
        }
        .toDF("probe_id", "doc_id", "inter", "na", "nb")
        .select(col("probe_id"), col("doc_id"),
          (col("inter").cast("double") /
            (col("na") + col("nb") - col("inter")).cast("double")).as("jaccard"))
    } else {
      // Join-shaped inverted probe: hot grams leave via a broadcast
      // anti-join, the (tiny, pre-filtered) probe postings broadcast
      // into the exploded corpus gram stream, and intersections are a
      // map-side-combined count. Identical filtered-vocabulary Jaccard;
      // the corpus still never shuffles on grams — the only wide
      // exchange is the (probe_id, doc_id) counting aggregation, whose
      // row count the inline path merely avoided materializing.
      val hotDf = broadcast(hotSet.toSeq.toDF("gram"))
      val kept = docGrams
        .select(col("doc_id"), size(col("grams")).as("n_raw"),
          explode(col("grams")).as("gram"))
        .join(hotDf, Seq("gram"), "left_anti")
      val probeDf = broadcast(
        probeSets.toSeq.flatMap { case (pid, pg) =>
          pg.map(g => (pid, pg.length, g))
        }.toDF("probe_id", "na", "gram"))
      val inter = kept.join(probeDf, Seq("gram"))
        .filter(col("probe_id") =!= col("doc_id"))
        .groupBy(col("probe_id"), col("doc_id"), col("na"))
        .agg(count(lit(1)).as("inter"))
      val nb = kept.groupBy(col("doc_id")).agg(count(lit(1)).as("nb"))
      inter.join(nb, "doc_id")
        .select(col("probe_id"), col("doc_id"),
          (col("inter").cast("double") /
            (col("na") + col("nb") - col("inter")).cast("double")).as("jaccard"))
    }
  }
}
