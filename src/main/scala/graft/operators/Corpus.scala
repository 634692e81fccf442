package graft.operators

import graft.{Scope, Tables}
import org.apache.spark.sql.{DataFrame, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-curation operators for large-scale training-data pipelines:
  * repetition-based quality filtering (the Gopher/MassiveText rules,
  * Rae et al. '21 §A1.1), characteristic-term scoring, duplicate-cluster
  * assignment (connected components), and sketched heavy hitters.
  */
object Corpus {

  /** Minimum distinct-token ratio (below = repetitive doc, flagged). */
  val MinDistinctRatio = 0.32
  /** Maximum top-token frequency ratio (above = degenerate doc). */
  val MaxTopTokenRatio = 0.12

  /** Gopher-style repetition filter: per-document token statistics
    * (total / distinct / most-frequent-token counts) and the two
    * repetition ratios, emitting the flagged documents. Per-doc stats
    * are computed in one typed map closure — a single pass, no
    * explode-shuffle: the per-doc token histogram fits in memory by the
    * document-length bound, so the only exchange in the whole query is
    * the final tiny sort of flagged rows. (The HOF-lambda equivalent is
    * interpreted, the measured 13x cost class — see q22's scaladoc.)
    */
  def q51QualityRepetition(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d).select(col("doc_id"), col("source"), col("text"))
      .as[(Long, String, String)]
      .map { case (id, src, text0) =>
        val text = if (text0 == null) "" else text0 // crash-free on null docs
        val counts = collection.mutable.HashMap.empty[String, Int]
        var nTok = 0L
        text.split(" ").foreach { t =>
          if (t.nonEmpty) {
            nTok += 1
            counts.update(t, counts.getOrElse(t, 0) + 1)
          }
        }
        val top = if (counts.isEmpty) 0L else counts.valuesIterator.max.toLong
        (id, src, nTok, counts.size.toLong, top)
      }
      .toDF("doc_id", "source", "n_tok", "n_distinct", "top_cnt")
      // zero-token docs have no defined ratios (0/0 -> NaN, which
      // Spark's NaN-ordering would pass through the > filter) and no
      // row at all in the SQL oracle's token-derived CTE — drop them
      // BEFORE the ratio math so both engines agree
      .filter(col("n_tok") > 0)
      .withColumn("distinct_ratio",
        col("n_distinct").cast("double") / col("n_tok").cast("double"))
      .withColumn("top_ratio",
        col("top_cnt").cast("double") / col("n_tok").cast("double"))
      .filter(col("distinct_ratio") < MinDistinctRatio
        || col("top_ratio") > MaxTopTokenRatio)
      .orderBy(col("doc_id"))
  }

  /** Gopher top-n-gram repetition thresholds (Rae et al. '21 table A1:
    * a doc is filtered when the most frequent 2-/3-/4-gram covers more
    * than 20/18/16% of it).
    */
  val MaxTopGramFrac: Map[Int, Double] = Map(2 -> 0.20, 3 -> 0.18, 4 -> 0.16)

  /** Gopher top-n-gram repetition filter (q106): for n = 2..4 the
    * fraction of the document covered by its most frequent n-gram
    * (count x n / tokens), flagging docs over the A1 thresholds — the
    * n-gram half of the MassiveText repetition family; [[q51QualityRepetition]]
    * is the token half. Same shape as q51: per-doc histograms fit by
    * the document-length bound, so ONE typed map closure computes all
    * three fractions in a single pass with no explode-shuffle — the
    * only exchange is the final tiny sort of flagged rows. Fractions
    * are one double division each (count*n exact in long), so the SQL
    * oracle reproduces them bit-for-bit.
    */
  def q106GramRepetition(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d).select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .map { case (id, text0) =>
        val toks = (if (text0 == null) "" else text0).split(" ").filter(_.nonEmpty)
        def topFrac(n: Int): Double = {
          if (toks.length < n) 0.0
          else {
            val counts = collection.mutable.HashMap.empty[String, Int]
            var i = 0
            while (i + n <= toks.length) {
              val g = toks.slice(i, i + n).mkString(" ")
              counts.update(g, counts.getOrElse(g, 0) + 1)
              i += 1
            }
            (counts.valuesIterator.max.toLong * n).toDouble / toks.length.toDouble
          }
        }
        (id, toks.length.toLong, topFrac(2), topFrac(3), topFrac(4))
      }
      .toDF("doc_id", "n_tok", "top2_frac", "top3_frac", "top4_frac")
      .filter(col("top2_frac") > MaxTopGramFrac(2)
        || col("top3_frac") > MaxTopGramFrac(3)
        || col("top4_frac") > MaxTopGramFrac(4))
      .orderBy(col("doc_id"))
  }

  /** Characteristic terms per source: score = tf * N / df (term
    * frequency weighted by inverse document frequency — the rational
    * tf-idf form, kept log-free so every arithmetic step is a single
    * IEEE-754 operation reproducible bit-for-bit by the SQL oracle),
    * top-3 terms per source. Shape at scale: one wordcount-style
    * partial-aggregated tf pass, one distinct-doc df pass over the
    * same exploded frame, a key join on the term (AQE broadcasts when
    * the vocabulary is small), and a per-source top-k window.
    */
  def q52TermScores(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val toks = docs.select(col("doc_id"), col("source"),
      explode(filter(split(col("text"), " "), t => t =!= "")).as("tok"))

    // one tokenize+explode pass, pre-aggregated to per-(tok, doc)
    // counts and persisted: tf and df both derive from this compact
    // frame instead of re-scanning (and re-tokenizing) the corpus —
    // the partial-aggregate absorbs the explode fan-out map-side, so
    // the one wide exchange carries vocabulary x docs, not tokens.
    // Lifetime: LRU eviction / clearCache (same contract as q22's
    // docGrams — a lazily returned frame has no unpersist scope)
    val perDoc = Scope.lru.persist(
      toks.groupBy(col("tok"), col("doc_id"), col("source"))
        .agg(count(lit(1)).as("c")))
    val tf = perDoc.groupBy(col("source"), col("tok")).agg(sum(col("c")).as("tf"))
    // (tok, doc_id) is unique in perDoc by construction (a doc has one
    // source), so document frequency is a plain count — no distinct
    // aggregation machinery needed
    val df = perDoc.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))

    val scored = tf.join(df, "tok")
      .crossJoin(broadcast(n))
      .withColumn("score",
        (col("tf").cast("double") * col("n_docs").cast("double"))
          / col("df").cast("double"))
    scored
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("source"))
          .orderBy(col("score").desc, col("tok").asc)))
      .filter(col("rnk") <= 3)
      .select(col("source"), col("tok"), col("tf"), col("df"), col("score"),
        col("rnk").cast("long").as("rnk"))
      .orderBy(col("source"), col("rnk"))
  }

  /** Cap on label-propagation rounds — a safety bound, not the expected
    * count: with pointer doubling rounds needed = O(log diameter), so
    * 20 covers ~2^20-diameter graphs (the sf0.01 co-purchase graph
    * converges in 2-3). [[connectedComponents]] throws rather than
    * return mislabeled components if the cap is ever hit.
    */
  val MaxCcIterations = 20

  /** Duplicate/co-occurrence cluster assignment: connected components
    * over the high-quantity co-purchase graph (parts linked when one
    * order contains both with l_quantity >= 49), as alternating
    * min-label propagation — each round every node adopts the smallest
    * label among itself and its neighbors, reaching fixpoint in
    * diameter rounds. This is the cluster-assignment half of corpus
    * dedup ("keep one doc per near-dup cluster"); the edge source here
    * is relational so the whole operator is exactly oracle-able (DuckDB
    * recursive CTE) — the same propagation runs unchanged on LSH edge
    * sets ([[Dedup.minhashPairs]]).
    *
    * Scale shape: each round is one shuffle (edge join labels on the
    * edge key) + one min-aggregation + the pointer-doubling self-join
    * (see [[connectedComponents]] — O(log diameter) rounds, in the
    * round-compression family of Kiveris et al., "Connected Components
    * in MapReduce and Beyond", SoCC '14); `localCheckpoint` truncates
    * the growing lineage so round N's plan does not replay rounds
    * 1..N-1. Convergence is detected by the monotone sum-of-labels
    * invariant (labels only decrease, so an unchanged sum IS the
    * fixpoint) — one cheap action per round, same cost class as the
    * round itself.
    */
  def q53CopurchaseClusters(s: SparkSession, d: String): DataFrame = {
    val hi = Tables.lineitem(s, d)
      .filter(col("l_quantity") >= 49)
      .select(col("l_orderkey"), col("l_partkey"))

    // co-purchase edges ARE bucket pairs with bucket = order — reuse the
    // bounded pair generator (one groupBy shuffle, per-bucket pair
    // fan-out capped) instead of a self-join shuffling the scan twice;
    // orders hold <=7 items so the cap never bites here, and because
    // this binding is EXACT (the oracle enumerates the uncapped pair
    // set) a pathological mega-order fails loudly via exactBucketPairs
    // instead of silently dropping edges. Symmetric closure so one join
    // per round propagates labels both ways.
    val pairs = LshJoin.exactBucketPairs(hi, "l_partkey",
      LshJoin.MaxBucket, "l_orderkey")
    val edges = pairs.select(col("a").as("src"), col("b").as("dst"))
      .union(pairs.select(col("b").as("src"), col("a").as("dst")))

    val nodes = hi.select(col("l_partkey").as("p")).distinct()
    val labels = connectedComponents(nodes, edges)

    val sizes = labels.groupBy(col("lbl")).agg(count(lit(1)).as("cluster_size"))
    labels.join(sizes, "lbl")
      .select(col("p").as("l_partkey"), col("lbl").as("cluster_id"),
        col("cluster_size"))
      .orderBy(col("l_partkey"))
  }

  /** Min-label propagation with pointer doubling (see
    * [[q53CopurchaseClusters]] scaladoc for the per-round scale
    * analysis). `nodes(p)` and SYMMETRIC `edges(src, dst)` in;
    * `(p, lbl)` out with `lbl` = the component's smallest node id.
    *
    * Each round does (1) neighbor-min propagation and (2) a label-of-
    * label shortcut (`lbl <- lbl(lbl)` — every label is itself a node
    * id, so the mapping is total): the shortcut halves the remaining
    * label-tree height, making convergence O(log diameter) rounds
    * instead of O(diameter). A plain neighbor-propagation loop under a
    * round cap would return silently WRONG labels on any graph whose
    * diameter exceeds the cap (a 10^6-node chain needs 10^6 plain
    * rounds); with doubling the cap of [[MaxCcIterations]] covers any
    * graph up to ~2^20 diameter, and if it is ever still unconverged
    * the operator throws rather than mislabel.
    */
  /** One CC propagate round: each node takes the min label among its
    * neighbors (self-loops in `e` deliver its own). Extracted so
    * PlanSpec can pin the round's scale shape — `e` arrives cached
    * with HashPartitioning(src), so only the label frame shuffles.
    */
  private[graft] def ccPropagate(e: DataFrame, labels: DataFrame): DataFrame =
    e.join(labels, col("src") === col("p"))
      .select(col("dst").as("p"), col("lbl"))
      .groupBy(col("p")).agg(min(col("lbl")).as("lbl"))

  /** Pointer-doubling shortcut: label := label's own label. Extracted
    * for the same PlanSpec pin — both sides are the (checkpointed)
    * stepped frame, node-sized.
    */
  private[graft] def ccShortcut(stepped: DataFrame): DataFrame =
    stepped.as("a")
      .join(stepped.select(col("p").as("lp"), col("lbl").as("llbl")),
        col("a.lbl") === col("lp"))
      .select(col("a.p").as("p"), col("llbl").as("lbl"))

  /** Driver-local graph-solve budget (rows, applied to the node AND the
    * edge frame independently): below it, the iterative graph operators
    * (CC, PageRank, HITS) collect the graph and solve in the driver in
    * microseconds instead of paying 10-20 cluster jobs of fixed
    * scheduling/shuffle overhead to fixpoint a bounded structure — the
    * guide §1.2 rule that the distributed ALGORITHM is the first thing
    * to optimize, applied as "don't distribute what fits in one hand".
    * 4M rows ≈ 64 MB of (long, long) pairs — comfortably inside any
    * production driver (the same order as a large broadcast side), and
    * a graph that small costs more to schedule than to solve. Above the
    * budget the existing distributed loops run UNCHANGED — they remain
    * the audited 100 TB shape (HeavyPlanSpec pins their per-round
    * plans) — so the gate is a scale-adaptive algorithm choice, the
    * same class as a size-gated broadcast join, not a local-mode tune.
    * The probe is a limit(budget+1) take, so an over-budget graph pays
    * one truncated scan, never a full collect. At 100 TB this path
    * still fires for DERIVED bounded graphs (q123's record-linkage
    * match graph scales with the dirty BATCH, not the corpus) and
    * correctly yields to the distributed loop for corpus-scale ones.
    * Each gated operator takes a `localMax` (0 disables the local
    * path; specs pass it explicitly).
    */
  private[graft] val GraphLocalMaxRows: Long = 4L << 20

  /** Wording of a bounded probe's route line:
    * `[graft] <name> probe: <n> <unit> <= <max> — <local>`, or
    * `... > <max> <unit> — <distributed>` over budget.
    */
  private[graft] final case class ProbeLabel(
      name: String, unit: String, local: String, distributed: String)

  private val GraphProbe = ProbeLabel("graph-local", "rows", "local solve", "distributed path")

  /** Collect `df` as `T` if it fits `maxRows`, else None — the
    * limit-guarded take behind every driver-local solve: an over-budget
    * frame pays one truncated scan, never a full collect. The route
    * line (stderr, the bloom-budget discipline) puts the
    * local-vs-distributed evidence in the run's own log.
    */
  private[graft] def takeBounded[T: Encoder](
      df: DataFrame, maxRows: Long, label: ProbeLabel): Option[Array[T]] = {
    if (maxRows <= 0 || maxRows >= Int.MaxValue - 1) return None
    val rows = df.limit(maxRows.toInt + 1).as[T].collect()
    val fits = rows.length <= maxRows
    System.err.println(s"[graft] ${label.name} probe: " +
      (if (fits) s"${rows.length} ${label.unit} <= $maxRows — ${label.local}"
       else s"> $maxRows ${label.unit} — ${label.distributed}"))
    if (fits) Some(rows) else None
  }

  /** [[takeBounded]] of a 2-long-column node or edge frame, the shape
    * every local graph solve collects.
    */
  private[graft] def takeBounded(df: DataFrame, maxRows: Long): Option[Array[(Long, Long)]] =
    takeBounded(df, maxRows, GraphProbe)(Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong))

  /** Driver-local connected components: union-find with min-NODE-id
    * labels — exactly the fixpoint [[ccDistributed]]'s min-label
    * propagation converges to, including the contract corner where an
    * edge endpoint is absent from `nodes`: such an id conducts
    * connectivity but never contributes its own id as a label and
    * never emits an output row (in the distributed loop, labels are
    * seeded from `nodes` only). None when the graph exceeds the
    * budget; GraphLocalSpec pins local == distributed on random graphs
    * including the bridge-node corner.
    */
  private[graft] def ccLocal(
      nodes: DataFrame, edges: DataFrame, maxRows: Long): Option[DataFrame] =
    takeBounded(nodes.select(col("p"), col("p")), maxRows).flatMap { ns =>
      takeBounded(edges.select(col("src"), col("dst")), maxRows).map { es =>
        val s = nodes.sparkSession
        import s.implicits._
        val idx = new java.util.HashMap[Long, Integer]()
        val parent = new scala.collection.mutable.ArrayBuffer[Int]()
        def id(x: Long): Int = {
          val got = idx.get(x)
          if (got != null) got.intValue()
          else {
            val i = parent.length
            idx.put(x, Integer.valueOf(i)); parent += i; i
          }
        }
        def find(x0: Int): Int = {
          var x = x0
          while (parent(x) != x) {
            parent(x) = parent(parent(x)); x = parent(x)
          }
          x
        }
        ns.foreach { case (p, _) => id(p): Unit }
        es.foreach { case (a, b) =>
          val ra = find(id(a)); val rb = find(id(b))
          if (ra != rb) parent(ra) = rb
        }
        // component label = min id among the component's NODES
        val minOf = new java.util.HashMap[Integer, java.lang.Long]()
        ns.foreach { case (p, _) =>
          minOf.merge(find(id(p)), java.lang.Long.valueOf(p),
            (a, b) => if (a <= b) a else b): Unit
        }
        ns.iterator.map { case (p, _) =>
          (p, minOf.get(Integer.valueOf(find(id(p)))).longValue())
        }.toSeq.toDF("p", "lbl")
      }
    }

  private[graft] def connectedComponents(
      nodes: DataFrame, edges: DataFrame,
      localMax: Long = GraphLocalMaxRows): DataFrame =
    ccLocal(nodes, edges, localMax)
      .getOrElse(ccDistributed(nodes, edges))

  private[graft] def ccDistributed(
      nodes: DataFrame, edges: DataFrame): DataFrame = Scope { sc =>
    // the convergence invariant sums node ids — DECIMAL(38,0), not
    // BIGINT, so it cannot overflow at any realistic id range x corpus
    // size (10^12 ids of 10^12 still fit 38 digits)
    def labelSum(df: DataFrame): java.math.BigDecimal =
      df.agg(sum(col("lbl").cast("decimal(38,0)"))).head().getDecimal(0)

    // self-loops folded into the edge set ONCE: each node then receives
    // its own label through the same join as its neighbors', so the
    // per-round plan is join + groupBy + doubling join — no loop-carried
    // union (which Catalyst's union constraint rewriting mishandles when
    // its children share a checkpointed subtree)
    // partitioned by the join key BEFORE caching: the cached frame's
    // HashPartitioning(src) satisfies every round's join requirement,
    // so the edge set — the largest frame in the loop — crosses the
    // wire once at persist time instead of once per round (only the
    // small label frame shuffles each round)
    val e = sc.persist(edges
      .union(nodes.select(col("p").as("src"), col("p").as("dst")))
      .repartition(col("src")))
    // LAZY checkpoints: the per-round convergence action is what
    // materializes them, so each round costs ONE job (propagate +
    // shortcut + checkpoint + sum fused), not one job per step
    var labels = sc.checkpoint(nodes.select(col("p"), col("p").as("lbl")), eager = false)
    var lastSum = labelSum(labels)
    var converged = lastSum == null // empty node set: already at fixpoint
    var round = 0
    while (!converged && round < MaxCcIterations) {
      // checkpoint BEFORE the self-join: the doubling join needs the
      // stepped frame as a leaf, and it truncates lineage so round N
      // never replays rounds 1..N-1
      val stepped = sc.checkpoint(ccPropagate(e, labels), eager = false)
      // pointer doubling: replace each label by that label's own label
      val next = sc.checkpoint(ccShortcut(stepped), eager = false)
      val s2 = labelSum(next)
      // next is materialized now; the previous round's checkpoints
      // (labels and the intermediate stepped) are dead — release their
      // blocks instead of pinning 2 frames per round until GC
      sc.release(labels)
      sc.release(stepped)
      converged = s2 == lastSum // labels are monotone non-increasing
      lastSum = s2
      labels = next
      round += 1
    }
    if (!converged) throw new IllegalStateException(
      s"connectedComponents: not converged after $MaxCcIterations doubling rounds")
    sc.keep(labels) // the lazily returned labels: LRU lifetime
  }

  /** Fixed PageRank iteration count for q73 — fixed (not convergence-
    * detected) so the DuckDB oracle can unroll the exact same number of
    * steps.
    */
  val PageRankIterations = 5

  /** Fixed-point PageRank scale: ranks are BIGINTs in units of 1e-6. */
  val PrScale = 1000000L

  /** Fixed-point PageRank (damping 0.85) over a symmetric edge set —
    * the graph-centrality quality signal of web-corpus curation
    * (harmonic/PageRank centrality is a standard quality prior for
    * crawl sampling; Page et al. '99). All arithmetic is INTEGER
    * (ranks scaled by [[PrScale]], damping as 85/100 with integral
    * division), so sums are order-independent and the result is
    * bit-identical to the DuckDB oracle's unrolled iterations — the
    * same determinism trick as the fixed-point cosine family.
    *
    * Scale shape: the edge set — the big frame — is degree-annotated,
    * hash-partitioned by its join key ONCE and persisted (the q53 CC
    * trick: it crosses the wire at persist time, not once per
    * iteration; only the small rank frame shuffles per round). Each
    * iteration is one join + one partial-aggregated sum. The final
    * frame is materialized eagerly so the edge cache can be released
    * before returning. The rank frame's lineage is TRUNCATED each
    * round (eager localCheckpoint + immediate release of the
    * superseded checkpoint, the q96/q124 pattern): without it the plan
    * doubles in depth per iteration and a 50-iteration run pays
    * quadratic planning; with it the per-round plan is constant-size
    * and the checkpoint being materialized is only the node-sized rank
    * frame, never the edges.
    */
  /** One PageRank update: contributions along the cached degree-joined
    * edge frame, damped re-seed over the node set. Extracted so
    * PlanSpec can pin the round's scale shape — `e` arrives cached
    * with HashPartitioning(src), so each round shuffles only
    * node-sized frames.
    */
  private[graft] def pageRankStep(
      e: DataFrame, n: DataFrame, ranks: DataFrame, base: Long): DataFrame = {
    val contrib = e.join(ranks, col("src") === col("p"))
      .select(col("dst"), expr("r div deg").as("c"))
      .groupBy(col("dst")).agg(sum(col("c")).as("cs"))
    n.join(contrib, col("p") === col("dst"), "left")
      .select(col("p"),
        (lit(base) + expr("(85 * coalesce(cs, CAST(0 AS BIGINT))) div 100")).as("r"))
  }

  /** Driver-local PageRank — the same integer dynamics as the
    * distributed loop, replayed over collected edges: deg = per-src
    * row count, contribution `r div deg` summed per dst (Long sums are
    * order-independent), rank = base + (85·cs) div 100, nodes without
    * contributions at base (the left-join coalesce), contributions to
    * a dst outside `nodes` dropped (the left join FROM nodes). All
    * values non-negative, so JVM `/` equals Catalyst's IntegralDivide
    * and the result is bit-identical — GraphLocalSpec pins local ==
    * distributed, and the q73 DuckDB hash stands as the driver-corpus
    * proof. None over budget (see [[GraphLocalMaxRows]]).
    */
  private[graft] def pageRankLocal(
      nodes: DataFrame, edges: DataFrame, iterations: Int,
      maxRows: Long): Option[DataFrame] =
    takeBounded(nodes.select(col("p"), col("p")), maxRows).flatMap { ns =>
      takeBounded(edges.select(col("src"), col("dst")), maxRows).map { es =>
        val s = nodes.sparkSession
        import s.implicits._
        val base = (15L * PrScale) / 100L
        val deg = new java.util.HashMap[Long, Long]()
        es.foreach { case (src, _) => deg.merge(src, 1L, _ + _): Unit }
        var ranks = new java.util.HashMap[Long, Long]()
        ns.foreach { case (p, _) => ranks.put(p, PrScale): Unit }
        for (_ <- 1 to iterations) {
          val cs = new java.util.HashMap[Long, Long]()
          es.foreach { case (src, dst) =>
            // srcs outside the rank frame contribute nothing (the join)
            if (ranks.containsKey(src))
              cs.merge(dst, ranks.get(src) / deg.get(src), _ + _): Unit
          }
          val next = new java.util.HashMap[Long, Long]()
          ns.foreach { case (p, _) =>
            next.put(p, base + (85L * cs.getOrDefault(p, 0L)) / 100L): Unit
          }
          ranks = next
        }
        ns.iterator.map { case (p, _) =>
          (p, deg.getOrDefault(p, 0L), ranks.get(p).longValue())
        }.toSeq.sortBy(_._1).toDF("p", "degree", "rank_fp")
      }
    }

  def pageRank(
      nodes: DataFrame, edges: DataFrame,
      iterations: Int = PageRankIterations,
      localMax: Long = GraphLocalMaxRows): DataFrame =
    pageRankLocal(nodes, edges, iterations, localMax)
      .getOrElse(pageRankDistributed(nodes, edges, iterations))

  private[graft] def pageRankDistributed(
      nodes: DataFrame, edges: DataFrame, iterations: Int): DataFrame = Scope.pinned { sc =>
    val base = (15L * PrScale) / 100L // (1 - d) * scale
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val e = sc.persist(edges.join(deg, "src").repartition(col("src")))
    // the node frame appears in every iteration's left join AND seeds
    // the rank frame — persist it so each appearance reads a cached
    // (typically tiny) frame instead of re-running the caller's
    // distinct/scan lineage per iteration
    val n = sc.persist(nodes.select(col("p")))
    var ranks = n.select(col("p"), lit(PrScale).as("r"))
    for (_ <- 1 to iterations) {
      // truncate: constant-depth plans
      val next = sc.checkpoint(pageRankStep(e, n, ranks, base), eager = true)
      sc.release(ranks) // no-op on the unowned seed frame
      ranks = next
    }
    // per-node degree read back from the PERSISTED edge frame (one row
    // per (src, dst), deg constant per src) — deriving it from `deg`
    // directly would re-run the caller's whole edge generation
    val degOut = e.select(col("src").as("p"), col("deg")).groupBy(col("p"))
      .agg(max(col("deg")).as("deg"))
    // pinned, so the edge/node caches and the LAST iteration's
    // checkpoint are dropped once the result is materialized
    ranks
      .join(degOut, Seq("p"), "left")
      .select(col("p"), coalesce(col("deg"), lit(0L)).as("degree"),
        col("r").as("rank_fp"))
      .orderBy(col("p"))
  }

  /** Driver binding (q73): PageRank over the q53 co-purchase graph —
    * same bounded-pair edge generation, same node set — ranking parts
    * by co-purchase centrality.
    */
  def q73PageRank(s: SparkSession, d: String): DataFrame = {
    val hi = Tables.lineitem(s, d)
      .filter(col("l_quantity") >= 49)
      .select(col("l_orderkey"), col("l_partkey"))
    val pairs = LshJoin.exactBucketPairs(hi, "l_partkey",
      LshJoin.MaxBucket, "l_orderkey")
    val edges = pairs.select(col("a").as("src"), col("b").as("dst"))
      .union(pairs.select(col("b").as("src"), col("a").as("dst")))
    val nodes = hi.select(col("l_partkey").as("p")).distinct()
    pageRank(nodes, edges)
      .select(col("p").as("l_partkey"), col("degree"), col("rank_fp"))
  }

  /** HITS iteration count / fixed-point scale (q166). Like q73's
    * PageRank, the count is part of the SEMANTICS: engine and oracle
    * replay the same bounded iteration.
    */
  val HitsIterations = 4
  val HitsScale: Long = 1L << 20

  /** HITS hubs-and-authorities (Kleinberg '99) over a directed
    * bipartite edge set `(c, p)` — q166's link-analysis complement to
    * PageRank: a part is authoritative when heavy hubs buy it, a
    * customer is a heavy hub when it buys authoritative parts. Two
    * interleaved fixed-point vectors, renormalized after every update
    * (max component pinned to [[HitsScale]], the q157 power-iteration
    * discipline — HITS IS power iteration on AᵀA), with T authority
    * updates and T−1 interleaved hub updates so the reported authority
    * vector is the freshest state.
    *
    * Scale shape: the edge frame is key-partitioned ONCE and persisted;
    * each update shuffles only a node-sized score frame (the q73
    * pageRank loop discipline — eager localCheckpoint lineage
    * truncation, superseded checkpoints released immediately); each
    * renormalization is a 1-row aggregate broadcast back. Integer
    * dynamics: scores ≤ scale, sums ≤ max-degree·scale — plain BIGINTs
    * both engines.
    */
  /** One HITS authority update: hub scores summed along the cached
    * edge frame, renormalized against the broadcast 1-row max.
    * Extracted so PlanSpec can pin the round's scale shape (the hub
    * update is the same plan with the roles swapped).
    */
  private[graft] def hitsAuthorityStep(e: DataFrame, h: DataFrame): DataFrame = {
    val araw = e.join(h, "c").groupBy(col("p")).agg(sum(col("h")).as("ar"))
    araw.crossJoin(broadcast(
        araw.agg(greatest(max(col("ar")), lit(1L)).as("m"))))
      .select(col("p"), expr(s"(ar * ${HitsScale}L) div m").as("a"))
  }

  /** Driver-local HITS — the distributed loop's integer dynamics over
    * collected `(c, p)` edges: T authority updates interleaved with
    * T−1 hub updates, each renormalized by `(x · HitsScale) div
    * max(max_x, 1)`. Long sums are order-independent and every value
    * non-negative, so JVM arithmetic is bit-identical to the Catalyst
    * expressions; duplicate edge rows (none in q166's distinct feed)
    * weight sums and in_degree exactly as the frame version. None over
    * budget — GraphLocalSpec pins local == distributed.
    */
  private[graft] def hitsLocal(
      edges: DataFrame, iterations: Int, maxRows: Long): Option[DataFrame] =
    takeBounded(edges.select(col("c"), col("p")), maxRows).map { es =>
      val s = edges.sparkSession
      import s.implicits._
      var h = new java.util.HashMap[Long, Long]()
      es.foreach { case (c, _) => h.put(c, HitsScale): Unit }
      var a = new java.util.HashMap[Long, Long]()
      for (k <- 1 to iterations) {
        val ar = new java.util.HashMap[Long, Long]()
        es.foreach { case (c, p) =>
          if (h.containsKey(c)) ar.merge(p, h.get(c), _ + _): Unit
        }
        var m = 1L
        ar.values.forEach(v => if (v > m) m = v)
        val anext = new java.util.HashMap[Long, Long]()
        ar.forEach((p, v) => anext.put(p, v * HitsScale / m): Unit)
        a = anext
        if (k < iterations) {
          val hr = new java.util.HashMap[Long, Long]()
          es.foreach { case (c, p) =>
            if (a.containsKey(p)) hr.merge(c, a.get(p), _ + _): Unit
          }
          var m2 = 1L
          hr.values.forEach(v => if (v > m2) m2 = v)
          val hnext = new java.util.HashMap[Long, Long]()
          hr.forEach((c, v) => hnext.put(c, v * HitsScale / m2): Unit)
          h = hnext
        }
      }
      val deg = new java.util.HashMap[Long, Long]()
      es.foreach { case (_, p) => deg.merge(p, 1L, _ + _): Unit }
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
      a.forEach((p, av) => out += ((p, deg.get(p).longValue(), av)): Unit)
      out.sortBy(_._1).toSeq
        .toDF("l_partkey", "in_degree", "auth_fp")
    }

  def hits(edges: DataFrame, iterations: Int = HitsIterations,
      localMax: Long = GraphLocalMaxRows): DataFrame =
    hitsLocal(edges, iterations, localMax)
      .getOrElse(hitsDistributed(edges, iterations))

  private[graft] def hitsDistributed(
      edges: DataFrame, iterations: Int): DataFrame = Scope.pinned { sc =>
    val e = sc.persist(edges.select(col("c"), col("p")).repartition(col("c")))
    var h = sc.checkpoint(e.select(col("c")).distinct()
      .select(col("c"), lit(HitsScale).as("h")), eager = true)
    var a: DataFrame = null
    for (k <- 1 to iterations) {
      val anext = sc.checkpoint(hitsAuthorityStep(e, h), eager = true)
      if (a != null) sc.release(a)
      a = anext
      if (k < iterations) {
        val hraw = e.join(a, "p").groupBy(col("c")).agg(sum(col("a")).as("hr"))
        val hnext = sc.checkpoint(hraw.crossJoin(broadcast(
            hraw.agg(greatest(max(col("hr")), lit(1L)).as("m"))))
          .select(col("c"), expr(s"(hr * ${HitsScale}L) div m").as("h")), eager = true)
        sc.release(h)
        h = hnext
      }
    }
    val deg = e.groupBy(col("p")).agg(count(lit(1)).as("in_degree"))
    a.join(deg, "p")
      .select(col("p").as("l_partkey"), col("in_degree"), col("a").as("auth_fp"))
      .orderBy(col("l_partkey"))
  }

  /** Driver binding (q166): HITS over the customer→part purchase
    * bipartite graph (distinct high-quantity purchase edges) — part
    * authority under hub-weighted demand, a different centrality than
    * q73's co-purchase PageRank (which never sees WHO buys).
    */
  def q166Hits(s: SparkSession, d: String): DataFrame = {
    val e = Tables.lineitem(s, d)
      .filter(col("l_quantity") >= 45)
      .select(col("l_orderkey"), col("l_partkey"))
      .join(Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").as("c"), col("l_partkey").as("p"))
      .distinct()
    hits(e)
  }

  /** Per-node triangle counts over an undirected edge set via
    * degree-ordered orientation — the classic O(m^1.5)-wedge bound
    * (Schank & Wagner '05 / Suri & Vassilvitskii "Counting triangles
    * and the curse of the last reducer", WWW 2011). Each undirected
    * edge is oriented from its lower (degree, id) endpoint to the
    * higher; every triangle then has exactly ONE node with two
    * out-edges, so counting (wedge at u) |><| (closing edge v->w) sees
    * each triangle once. The orientation is the whole scale story: a
    * hub node of degree D contributes O(D) wedges instead of O(D^2),
    * because its out-degree under the orientation is bounded by
    * ~sqrt(2m) — the "curse of the last reducer" is exactly the
    * un-oriented formulation's hub blow-up.
    *
    * @param edges undirected `(a, b)` pairs with a < b, pre-distinct.
    * @return one row per triangle-participating node: `(p, n_triangles)`.
    */
  def triangleCounts(edges: DataFrame): DataFrame = {
    // e feeds the degree count AND the orientation join; de feeds BOTH
    // wedge sides and the closing-edge probe. Without the persists each
    // consumer re-executes the whole upstream edge pipeline — the
    // un-cached form of this plan re-ran the source scan 90 times.
    // Lifetime: LRU/clearCache, the lazily-returned-frame contract.
    val e = Scope.lru.persist(edges)
    val deg = e.select(explode(array(col("a"), col("b"))).as("p"))
      .groupBy(col("p")).agg(count(lit(1)).as("deg"))
    // (deg, id) is a total order: orient src -> dst along it, carrying
    // dst's order key so wedge endpoints can themselves be ordered
    val lowFirst = struct(col("da"), col("a")) < struct(col("db"), col("b"))
    val de = Scope.lru.persist(e
      .join(deg.select(col("p").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("p").as("b"), col("deg").as("db")), "b")
      .select(
        when(lowFirst, col("a")).otherwise(col("b")).as("src"),
        when(lowFirst, col("b")).otherwise(col("a")).as("dst"),
        when(lowFirst, struct(col("db").as("d"), col("b").as("i")))
          .otherwise(struct(col("da").as("d"), col("a").as("i"))).as("dord")))
    // wedges centered at the doubly-out node; (v, w) ordered by the
    // SAME total order the orientation used, so the closing edge is
    // exactly the oriented v -> w row
    val wedges = de.as("e1").join(de.as("e2"),
        col("e1.src") === col("e2.src") && col("e1.dord") < col("e2.dord"))
      .select(col("e1.src").as("u"), col("e1.dst").as("v"), col("e2.dst").as("w"))
    val tri = wedges.join(de.select(col("src").as("v"), col("dst").as("w")), Seq("v", "w"))
    tri.select(explode(array(col("u"), col("v"), col("w"))).as("p"))
      .groupBy(col("p")).agg(count(lit(1)).as("n_triangles"))
  }

  /** Driver binding: triangle counts over the q53 co-purchase graph
    * (parts bought together in a high-quantity order). The DuckDB
    * oracle is the naive three-way self-join — the oriented plan must
    * reproduce its counts exactly.
    */
  def q85Triangles(s: SparkSession, d: String): DataFrame = {
    val hi = Tables.lineitem(s, d)
      .filter(col("l_quantity") >= 49)
      .select(col("l_orderkey"), col("l_partkey"))
    val edges = LshJoin.exactBucketPairs(hi, "l_partkey",
      LshJoin.MaxBucket, "l_orderkey")
    triangleCounts(edges)
      .select(col("p").as("l_partkey"), col("n_triangles"))
      .orderBy(col("l_partkey"))
  }

  /** Fixed-depth k-core peeling: `rounds` iterations of "drop every
    * node whose degree in the SURVIVING subgraph is below k" (Seidman
    * '83 cores; the standard graph-sparsification pre-pass before
    * community/centrality work). Depth is a PARAMETER, not a fixpoint
    * loop, so the result is well-defined at any scale and expressible
    * as an unrolled oracle; production fixpoint mode is the same loop
    * with a convergence check (count unchanged -> stop), exactly as
    * [[connectedComponents]] iterates.
    *
    * Scale shape, per round: the (cached, symmetric) edge frame is
    * filtered by TWO semi-joins against the alive set, then one
    * groupBy(src) recount. The edge frame never re-shuffles; only the
    * alive frame (one long per node) moves. The semi-joins carry NO
    * unconditional broadcast hint: round 1's alive set is ALL distinct
    * vertices — billions of ids at the 100 TB analogue, where a forced
    * hint would bypass AQE's size check and OOM the executors. Instead
    * the hint is applied only when the round's MEASURED alive count
    * (which the loop takes anyway for cache lifetime) fits under
    * [[MaxBroadcastAlive]]; larger rounds are left to AQE. Final output
    * re-counts degree over the last surviving set, is materialized
    * eagerly, and every intermediate (edge cache, per-round alive
    * frames) is released before returning.
    *
    * @param edges symmetric `(src, dst)` — both directions present.
    * @return `(v, core_degree)` for nodes surviving `rounds` peels,
    *         with degree in the surviving induced subgraph.
    */
  def kCorePeel(edges: DataFrame, k: Int, rounds: Int,
      localMax: Long = GraphLocalMaxRows): DataFrame =
    kCoreLocal(edges, k, rounds, toFixpoint = false, localMax)
      .getOrElse(kCoreLoop(edges, k, rounds, toFixpoint = false))

  /** Fixpoint k-core: [[kCorePeel]]'s loop run to convergence (alive
    * count unchanged -> stop), bounded by `maxRounds` as a runaway
    * guard. This is the form production callers want — the true
    * Seidman core, invariant to extra rounds; the fixed-depth peel
    * stays as the oracle-unrollable harness. Peeling strictly shrinks
    * the alive set, so the per-round `count()` the loop already runs
    * for cache-lifetime reasons doubles as the convergence test at no
    * extra cost.
    */
  def kCoreFull(edges: DataFrame, k: Int, maxRounds: Int = 1000,
      localMax: Long = GraphLocalMaxRows): DataFrame =
    kCoreLocal(edges, k, maxRounds, toFixpoint = true, localMax)
      .getOrElse(kCoreLoop(edges, k, maxRounds, toFixpoint = true))

  /** Driver-local k-core — [[kCoreLoop]]'s per-round dynamics replayed
    * over collected edges (the [[ccLocal]] pattern, r20 optimization
    * round): deg(v) counts edge ROWS whose dst survives (duplicate
    * edges weight degree exactly as the frame groupBy count), alive'
    * = {v ∈ alive : deg(v) >= k}, fixpoint mode stops when the alive
    * COUNT is unchanged (peeling strictly shrinks, so count equality
    * is set equality — the same test the loop uses), and the output
    * re-derives (v, deg) over the final alive set exactly like the
    * closing induced() pass — a surviving node with no surviving
    * neighbor emits no row, and a node outside alive never does.
    * None over budget ([[GraphLocalMaxRows]]); GraphLocalSpec pins
    * local == distributed in both peel and fixpoint modes.
    */
  private[graft] def kCoreLocal(
      edges: DataFrame, k: Int, rounds: Int, toFixpoint: Boolean,
      maxRows: Long): Option[DataFrame] = {
    require(k >= 1 && rounds >= 1)
    takeBounded(edges.select(col("src"), col("dst")), maxRows).map { es =>
      val s = edges.sparkSession
      import s.implicits._
      var alive = new java.util.HashSet[java.lang.Long]()
      es.foreach { case (src, _) => alive.add(src): Unit }
      def degrees(): java.util.HashMap[Long, Long] = {
        val deg = new java.util.HashMap[Long, Long]()
        es.foreach { case (src, dst) =>
          if (alive.contains(dst)) deg.merge(src, 1L, _ + _): Unit
        }
        deg
      }
      var round = 0
      var converged = false
      while (round < rounds && !converged) {
        round += 1
        val prevN = alive.size
        val deg = degrees()
        val next = new java.util.HashSet[java.lang.Long]()
        alive.forEach { v =>
          if (deg.getOrDefault(v, 0L) >= k) next.add(v): Unit
        }
        alive = next
        converged = toFixpoint && alive.size == prevN
      }
      val deg = degrees()
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      deg.forEach { (v, dv) =>
        if (alive.contains(v)) out += ((v, dv)): Unit
      }
      out.sortBy(_._1).toSeq.toDF("v", "core_degree")
    }
  }

  /** Degrees of the `alive`-induced subgraph: one edge-wide semi-join
    * (dst membership), then the src membership filter applies to the
    * NODE-sized aggregate — half the edge-stream passes of the
    * symmetric two-semi-join form. No broadcast hints: AQE picks the
    * strategy from the alive frame's RUNTIME size (package-private so
    * KCoreSpec can assert the plan is hint-free).
    */
  private[operators] def kCoreInduced(e: DataFrame, alive: DataFrame): DataFrame = e
    .join(alive.select(col("v").as("dst")), Seq("dst"), "left_semi")
    .groupBy(col("src")).agg(count(lit(1)).as("deg"))
    .join(alive.select(col("v").as("src")), Seq("src"), "left_semi")

  /** Alive sets at or under this count get an explicit broadcast hint
    * in the peel's semi-joins (4M longs ~ 32 MB). The loop already
    * counts every round's alive frame for cache-lifetime reasons, so
    * the guard is free — and unlike an unconditional hint it can never
    * force a billion-vertex round-1 broadcast.
    */
  val MaxBroadcastAlive = 4000000L

  private[graft] def kCoreLoop(
      edges: DataFrame, k: Int, rounds: Int, toFixpoint: Boolean): DataFrame = Scope.pinned { sc =>
    require(k >= 1 && rounds >= 1)
    val e = sc.persist(edges.select(col("src"), col("dst")))
    // the hint is applied by the caller of kCoreInduced, and only once
    // the MEASURED count fits — AQE handles the un-hinted rounds
    def induced(alive: DataFrame, n: Long): DataFrame =
      kCoreInduced(e, if (n <= MaxBroadcastAlive) broadcast(alive) else alive)
    // Each round's alive frame is LINEAGE-TRUNCATED (eager
    // localCheckpoint -> LogicalRDD), not merely persisted: the
    // induced join references `alive` twice, so without truncation the
    // logical plan DOUBLES per round — by round 8 the 2^8-subtree plan
    // OOMs the driver just STRINGIFYING for the SQL listener, the
    // classic iterative-lineage failure (GraphX Pregel checkpoints for
    // the same reason). The checkpoint also materializes the round, so
    // the convergence count() below reads cached node-sized blocks.
    // On a multi-executor cluster swap in reliable checkpointing if
    // executor loss during the loop must be survivable.
    var alive = sc.checkpoint(e.select(col("src").as("v")).distinct(), eager = true)
    var aliveN = alive.count()
    var round = 0
    var converged = false
    while (round < rounds && !converged) {
      round += 1
      val prevN = aliveN
      val prev = alive
      // eager: materialize + truncate lineage
      alive = sc.checkpoint(induced(alive, prevN)
        .filter(col("deg") >= k)
        .select(col("src").as("v")), eager = true)
      aliveN = alive.count()
      // the new checkpoint is eager, so the superseded round's blocks
      // are dead NOW — release them deterministically rather than
      // waiting for the ContextCleaner
      sc.release(prev)
      converged = toFixpoint && aliveN == prevN
    }
    // pinned: the node-sized result is materialized BEFORE the caches
    // it reads through are released — a release ahead of the action
    // would silently recompute the whole upstream edge pipeline
    induced(alive, aliveN)
      .select(col("src").as("v"), col("deg").as("core_degree"))
  }

  /** Driver binding: depth-4 peel of the 3-core of the q53 co-purchase
    * graph (converges in 3 rounds at test scale, so the fixed depth IS
    * the fixpoint there). Oracle: four unrolled semi-join rounds in
    * SQL.
    */
  def q96KCore(s: SparkSession, d: String): DataFrame = {
    val hi = Tables.lineitem(s, d)
      .filter(col("l_quantity") >= 49)
      .select(col("l_orderkey"), col("l_partkey"))
    val pairs = LshJoin.exactBucketPairs(hi, "l_partkey",
      LshJoin.MaxBucket, "l_orderkey")
    val edges = pairs.select(col("a").as("src"), col("b").as("dst"))
      .union(pairs.select(col("b").as("src"), col("a").as("dst")))
    kCorePeel(edges, k = 3, rounds = 4)
      .select(col("v").as("l_partkey"), col("core_degree"))
      .orderBy(col("l_partkey"))
  }

  /** Driver binding (q112): [[kCoreFull]] — the FIXPOINT 3-core of the
    * q96 co-purchase graph, i.e. the production form callers actually
    * want (invariant to extra rounds, Seidman's true core). Oracled by
    * peel rounds unrolled PAST convergence: peeling is monotone
    * shrinking, so once the alive set stabilizes every deeper unroll
    * is bit-identical — the SQL unrolls [[Q112OracleRounds]] rounds,
    * comfortably past the ~3 the graph needs at driver scale, making
    * the fixpoint exactly checkable without recursive SQL.
    */
  def q112KCoreFull(s: SparkSession, d: String): DataFrame = {
    val hi = Tables.lineitem(s, d)
      .filter(col("l_quantity") >= 49)
      .select(col("l_orderkey"), col("l_partkey"))
    val pairs = LshJoin.exactBucketPairs(hi, "l_partkey",
      LshJoin.MaxBucket, "l_orderkey")
    val edges = pairs.select(col("a").as("src"), col("b").as("dst"))
      .union(pairs.select(col("b").as("src"), col("a").as("dst")))
    kCoreFull(edges, k = 3)
      .select(col("v").as("l_partkey"), col("core_degree"))
      .orderBy(col("l_partkey"))
  }

  /** Unroll depth of q112's oracle — must exceed the peel rounds the
    * driver-scale graph needs to converge (~3 at sf0.01; KCoreSpec
    * asserts convergence within this bound so a fixture change that
    * slows convergence fails a SPEC, not the driver hash).
    */
  val Q112OracleRounds = 8

  /** Association rules over co-purchase baskets (q104): for every
    * directed part pair, support (baskets containing both) and
    * confidence (support / antecedent support) — the market-basket
    * classic (Agrawal & Srikant, VLDB '94, the support-confidence
    * framework; full Apriori's candidate lattice is unnecessary at
    * pair length). Shape: ONE groupBy(order) pass emits in-basket
    * pairs (baskets are small by schema; a mega-basket at 100 TB hits
    * the same collect_list bound as q53's pair generator and should
    * pre-cap), then two hash aggregates (pair counts, item counts) and
    * a broadcast-sized item-support join. Confidence is one division,
    * exact on both engines.
    */
  def q104AssocRules(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // quantity >= 40 (not q53's 49): the support floor needs REPEATED
    // co-purchases, and the 49-cut graph is too sparse to repeat
    val hi = Scope.lru.persist(Tables.lineitem(s, d)
      .filter(col("l_quantity") >= 40)
      .select(col("l_orderkey"), col("l_partkey"))
      .distinct()) // feeds baskets AND item supports; lifetime: LRU
    val pairSup = hi.groupBy(col("l_orderkey"))
      .agg(collect_list(col("l_partkey")).as("items"))
      .select(col("items")).as[Seq[Long]]
      .flatMap { items =>
        val v = items.distinct.sorted
        for { i <- v.indices.iterator; j <- (i + 1) until v.length }
          yield (v(i), v(j))
      }
      .toDF("a", "b")
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("sup"))
    val itemSup = hi.groupBy(col("l_partkey").as("p"))
      .agg(count(lit(1)).as("psup"))
    // both rule directions from each unordered pair
    val directed = pairSup.select(col("a").as("ante"), col("b").as("cons"), col("sup"))
      .unionAll(pairSup.select(col("b").as("ante"), col("a").as("cons"), col("sup")))
    directed
      .join(itemSup.select(col("p").as("ante"), col("psup")), "ante")
      .filter(col("sup") >= 2) // noise floor: singleton co-occurrences out
      .select(col("ante"), col("cons"), col("sup"),
        (col("sup").cast("double") / col("psup")).as("confidence"))
      .orderBy(col("confidence").desc, col("ante"), col("cons"))
      .limit(20)
  }

  /** Vocabulary width for the q110 drift statistic (top tokens by
    * global count, ties by token asc — deterministic on both engines).
    */
  val DriftVocab = 50

  /** Per-source token-distribution drift (q110): the chi-squared
    * statistic of each source's token counts against the corpus-global
    * distribution over the top-[[DriftVocab]] vocabulary — the
    * mixture-monitoring gate that catches one source's content
    * shifting (scraper broke, domain pivoted, dedup over-pruned)
    * before it skews a training mix. For source s and vocab token t:
    * expected e = n_s * o_t / n, contribution (o_st - e)^2 / e, summed
    * over the vocabulary (a source missing a vocab token contributes
    * e itself — the dense grid below keeps those zero cells).
    *
    * Determinism: each contribution is ONE fixed IEEE sequence (one
    * division for e, subtract, square, divide) on exact integer
    * inputs, and the cross-term sum quantizes to DECIMAL(25,9) first —
    * order-free, the q83/q91/q107 contract — so the statistic
    * hash-matches the SQL.
    *
    * Scale shape: one wordcount pass pre-aggregated to (source, tok);
    * everything after is vocabulary-bounded — the top-V list, the
    * dense sources x V grid (broadcast cross join), and the final
    * ~per-source aggregate. The corpus is read once.
    */
  def q110SourceDrift(s: SparkSession, d: String): DataFrame = {
    val toks = Tables.documents(s, d)
      .select(col("source"),
        explode(filter(split(col("text"), " "), t => t =!= "")).as("tok"))
    val st = Scope.lru.persist(toks.groupBy(col("source"), col("tok"))
      .agg(count(lit(1)).as("o"))) // feeds the vocab ranking AND the grid join; LRU lifetime
    val vocab = st.groupBy(col("tok")).agg(sum(col("o")).as("o_t"))
      .orderBy(col("o_t").desc, col("tok"))
      .limit(DriftVocab)
    val sources = st.select(col("source")).distinct()
    // dense grid: every (source, vocab token) cell, zeros kept
    val grid = Scope.lru.persist(sources.crossJoin(broadcast(vocab))
      .join(st, Seq("source", "tok"), "left")
      .select(col("source"), col("tok"), col("o_t"),
        coalesce(col("o"), lit(0L)).as("o"))) // feeds totals and the statistic; LRU lifetime
    val ns = grid.groupBy(col("source")).agg(sum(col("o")).as("n_s"))
    val n = vocab.agg(sum(col("o_t")).as("n"))
    val e = (col("n_s") * col("o_t")).cast("double") / col("n").cast("double")
    val diff = col("o").cast("double") - e
    grid
      // one row per source — broadcast-safe by construction (a corpus
      // has thousands of sources, not millions), and the static hint
      // keeps the attach off the sort-merge path without waiting on AQE
      .join(broadcast(ns), "source")
      .crossJoin(broadcast(n))
      // e = 0 only when n_s = 0 (a source with zero vocab-token
      // occurrences): every cell is then 0/0. Pin that pathological
      // case to contrib = 0 on BOTH sides — Spark would NaN->NULL via
      // the DECIMAL cast while DuckDB errors on CAST(NaN AS DECIMAL),
      // so without the guard the two engines fail differently.
      .withColumn("contrib", when(e > lit(0.0), diff * diff / e).otherwise(lit(0.0)))
      .groupBy(col("source"))
      .agg(max(col("n_s")).as("n_tok_v"),
        sum(col("contrib").cast("decimal(25,9)")).cast("double").as("chi2"),
        // dof from the ACTUAL vocab size (grid holds one cell per vocab
        // token per source): a corpus with under DriftVocab distinct
        // tokens must not report the 50-token dof its cells never had
        (count(lit(1)) - 1).cast("long").as("dof"))
      .orderBy(col("source"))
  }

  /** Count-min sketch relative-error epsilon (est <= exact + eps * N). */
  val CmsEps = 0.001

  /** Sketched heavy hitters: token frequencies estimated from one
    * count-min sketch (Cormode & Muthukrishnan '05) built with Spark's
    * `count_min_sketch` aggregate — fixed O(depth x width) state
    * regardless of vocabulary size, the structure a 100 TB frequency
    * pass needs when the exact wordcount's shuffle state (one counter
    * per distinct token) stops fitting. Pass 1 folds every token into
    * the sketch (partial-aggregated, merge = cell-wise sum, so the
    * result is order-independent and deterministic); pass 2 scores the
    * candidate tokens against the driver-broadcast sketch and keeps the
    * top 10. Candidates here are the exact distinct tokens (bounded
    * vocabulary); at true scale the candidate set comes from a
    * per-partition top-k pre-pass, same probe shape. Approximate by
    * design -> rows-only oracle; ApproxSpec pins the one-sided
    * eps-bound error guarantee against exact counts.
    */
  def q55HeavyHitters(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val toks = Tables.documents(s, d)
      .select(explode(filter(split(col("text"), " "), t => t =!= "")).as("tok"))

    val sketchBytes = toks
      .agg(count_min_sketch(col("tok"), lit(CmsEps), lit(0.99), lit(42)))
      .head().getAs[Array[Byte]](0)
    val cms = org.apache.spark.util.sketch.CountMinSketch.readFrom(
      new java.io.ByteArrayInputStream(sketchBytes))
    val bc = s.sparkContext.broadcast(cms)

    toks.distinct().as[String]
      .map(t => (t, bc.value.estimateCount(t)))
      .toDF("tok", "est_count")
      .orderBy(col("est_count").desc, col("tok"))
      .limit(10)
  }

  /** Depth (hash rows) and width (buckets per row) of the REPLAYABLE
    * count-min sketch (q158) — q55's structure, but with a published
    * hash family instead of Spark's internal murmur seeds, so the
    * DuckDB oracle rebuilds every cell and estimate exactly.
    */
  val CmsReplayDepth = 4
  val CmsReplayWidth = 512

  /** Field prime for the replayable CMS hash rows (2^31 - 1). */
  val CmsReplayP = 2147483647L

  /** Half-split mask/shift of the 60-bit md5 key: the row hash is
    * h_j(x) = (a_j·hi(x) + b_j·lo(x) + c_j) mod p with hi/lo the two
    * 30-bit halves — every product stays under 2^61, so plain BIGINT
    * arithmetic replays it with no 128-bit detour on either engine.
    */
  val CmsReplayHalfBits = 30

  private[operators] val cmsA = new Array[Long](CmsReplayDepth)
  private[operators] val cmsB = new Array[Long](CmsReplayDepth)
  private[operators] val cmsC = new Array[Long](CmsReplayDepth)
  locally {
    // the Dedup.permA discipline: fixed-seed LCG reduced into the field,
    // published to the oracle via cmsSeedValuesSql
    var state = 4242L
    def next(): Long = {
      state = state * 6364136223846793005L + 1442695040888963407L
      state
    }
    var j = 0
    while (j < CmsReplayDepth) {
      cmsA(j) = java.lang.Long.remainderUnsigned(next(), CmsReplayP - 1) + 1
      cmsB(j) = java.lang.Long.remainderUnsigned(next(), CmsReplayP - 1) + 1
      cmsC(j) = java.lang.Long.remainderUnsigned(next(), CmsReplayP)
      j += 1
    }
  }

  /** The `(j, bkt)` cells a given key's probe touches — the plain-
    * Scala mirror of `cmsBucketOf(cmsKey(...))`, byte-for-byte (md5 of
    * the decimal string, first 15 hex chars, the half-split row hash).
    * Lets a replay harness pre-compute a probe slate's cell set from
    * the seeds alone, without reading data (q167 filters its sink to
    * these).
    */
  private[graft] def cmsProbePairs(key: Long): Seq[(Long, Long)] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(key.toString.getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString
    val x = java.lang.Long.parseLong(hex.substring(0, 15), 16)
    val hi = x >>> CmsReplayHalfBits
    val lo = x & ((1L << CmsReplayHalfBits) - 1)
    cmsA.indices.map { j =>
      (j.toLong, (cmsA(j) * hi + cmsB(j) * lo + cmsC(j)) % CmsReplayP % CmsReplayWidth)
    }
  }

  /** Seed arrays for cross-package sketch builders (defensive copies —
    * [[graft.functions.CmsSketchAgg]] carries them as constructor
    * state).
    */
  private[graft] def cmsSeedsA: Array[Long] = cmsA.clone()
  private[graft] def cmsSeedsB: Array[Long] = cmsB.clone()
  private[graft] def cmsSeedsC: Array[Long] = cmsC.clone()

  /** The q158 oracle's literal `(j, a, b, c)` VALUES rows — generated
    * from the arrays above so engine and oracle can never drift.
    */
  private[graft] def cmsSeedValuesSql: String =
    cmsA.indices.map(j => s"(${j}, ${cmsA(j)}, ${cmsB(j)}, ${cmsC(j)})")
      .mkString(", ")

  /** The seed rows as a broadcastable frame (shared with the streaming
    * CMS build, q167).
    */
  private[graft] def cmsSeedsDf(s: SparkSession): DataFrame =
    s.createDataFrame(
      cmsA.indices.map(j => (j.toLong, cmsA(j), cmsB(j), cmsC(j))))
      .toDF("j", "a", "b", "c")

  /** The 60-bit md5 key of any string column (q158 convention). */
  private[graft] def cmsKey(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** [[cmsBucketFromKey]] for cross-package callers (q167). */
  private[graft] def cmsBucketOf(x: org.apache.spark.sql.Column,
      a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column,
      c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    cmsBucketFromKey(x, a, b, c)

  /** CMS row hash from a PRE-COMPUTED 60-bit key `x` — the key rides a
    * column so the md5 is evaluated ONCE per token, not once per
    * (token, seed) pair after the depth-way seed join (md5 dominates
    * the bucket arithmetic; recomputing it 4x was measurable).
    */
  private def cmsBucketFromKey(x: org.apache.spark.sql.Column,
      a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column,
      c: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val hi = shiftright(x, CmsReplayHalfBits)
    val lo = x.bitwiseAND(lit((1L << CmsReplayHalfBits) - 1))
    ((a * hi + b * lo + c) % lit(CmsReplayP)) % lit(CmsReplayWidth.toLong)
  }

  /** The 60-bit md5-prefix token key (15 hex chars — nonnegative in a
    * signed BIGINT on both engines), split-hashed into a CMS row.
    */
  private def cmsBucket(tok: org.apache.spark.sql.Column, a: org.apache.spark.sql.Column,
      b: org.apache.spark.sql.Column, c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    cmsBucketFromKey(conv(substring(md5(tok), 1, 15), 16, 10).cast("long"), a, b, c)

  /** Replayable count-min frequency estimation (q158): q55's sketched
    * heavy hitters re-seated on a PUBLISHED hash family so the driver
    * hash-matches every estimate instead of a rows-only check —
    * the count-min structure itself (Cormode & Muthukrishnan '05),
    * not a vendored black box: cells are `count(*) group by (row,
    * bucket)`, which IS the distributed sketch build (map-side partial
    * aggregation = per-partition sketches, the shuffle's merge = the
    * sketch's cell-wise sum; state is O(depth·width) = 2048 cells
    * regardless of vocabulary). Estimates are `min` over the probe
    * token's `depth` cells — ≥ the exact count by construction (the
    * one-sided CMS guarantee, pinned per-token in the output's
    * `over_err` column and corpus-wide by CmsReplaySpec).
    *
    * The probe slate is the exact top-10 (the q55 convention: exact
    * distinct-token counts are affordable at bench SF and double as the
    * ground truth the error column reports; at true scale the slate
    * comes from a per-partition top-k pre-pass, same probe shape).
    */
  def q158CmsFreq(s: SparkSession, d: String): DataFrame =
    cmsFreqOf(s, Tables.documents(s, d), 10)

  /** [[q158CmsFreq]] over any `(text)` frame with a caller-chosen slate
    * size (CmsReplaySpec sets it to the whole vocabulary to assert the
    * one-sided guarantee on EVERY token, not just the top-10).
    */
  private[operators] def cmsFreqOf(s: SparkSession, docs: DataFrame,
      topK: Int): DataFrame = Scope.pinned { sc =>
    val toks = sc.persist(docs
      .select(explode(filter(split(coalesce(col("text"), lit("")), " "),
        t => t =!= "")).as("tok")))
    val seeds = cmsSeedsDf(s) // the ONE seed-frame builder (q167 shares it)

    // the sketch: one corpus pass through the NATIVE CmsSketchAgg —
    // each token updates depth array slots in a single 16 KB partial
    // per partition (the relational form crossJoined every token with
    // the depth seed rows first: a 4x row amplification the aggregate
    // removes); observed cells explode back out, so the downstream
    // probe join and the oracle hash are unchanged
    val cells = toks
      .select(conv(substring(md5(col("tok")), 1, 15), 16, 10).cast("long").as("x"))
      .agg(graft.functions.CmsSketchAgg.sketch(col("x")).as("cells"))
      .select(posexplode(col("cells")).as(Seq("pos", "cell_cnt")))
      .filter(col("cell_cnt") > 0)
      .select(expr(s"CAST(pos div $CmsReplayWidth AS BIGINT)").as("j"),
        expr(s"CAST(pos % $CmsReplayWidth AS BIGINT)").as("bkt"),
        col("cell_cnt"))

    val probes = toks.groupBy(col("tok")).agg(count(lit(1)).as("exact_cnt"))
      .orderBy(col("exact_cnt").desc, col("tok")).limit(topK)

    // probe-side lookup: 10 tokens x depth rows join the 2048-cell
    // sketch — estimate = min over the token's cells
    probes.crossJoin(broadcast(seeds))
      .select(col("tok"), col("exact_cnt"), col("j"),
        cmsBucket(col("tok"), col("a"), col("b"), col("c")).as("bkt"))
      .join(cells, Seq("j", "bkt"))
      .groupBy(col("tok"), col("exact_cnt"))
      .agg(min(col("cell_cnt")).as("est_cnt"))
      .select(col("tok"), col("exact_cnt"), col("est_cnt"),
        (col("est_cnt") - col("exact_cnt")).as("over_err"))
      .orderBy(col("exact_cnt").desc, col("tok"))
  }

  /** Per-(source, row, bucket) CMS cell counts — the q158 sketch keyed
    * by source, factored out so q163 can take cell-wise inner products
    * across sources (the CMS algebra: cells are a linear map of the
    * frequency vector, so sketches add, subtract, and inner-product).
    */
  private[operators] def cmsSourceCells(s: SparkSession, docs: DataFrame): DataFrame =
    // native per-source grids (no seed crossJoin, no 4x amplification
    // — see cmsFreqOf); observed cells explode back out unchanged
    docs
      .select(col("source"),
        explode(filter(split(coalesce(col("text"), lit("")), " "),
          t => t =!= "")).as("tok"))
      .select(col("source"),
        conv(substring(md5(col("tok")), 1, 15), 16, 10).cast("long").as("x"))
      .groupBy(col("source"))
      .agg(graft.functions.CmsSketchAgg.sketch(col("x")).as("cells"))
      .select(col("source"), posexplode(col("cells")).as(Seq("pos", "c")))
      .filter(col("c") > 0)
      .select(col("source"),
        expr(s"CAST(pos div $CmsReplayWidth AS BIGINT)").as("j"),
        expr(s"CAST(pos % $CmsReplayWidth AS BIGINT)").as("bkt"),
        col("c"))

  /** Cross-source frequency inner product from CMS cells (q163):
    * Σ_t f_A(t)·f_B(t) estimated as min_j Σ_w cellsA[j,w]·cellsB[j,w]
    * (Cormode & Muthukrishnan '05 §4.2 — the sketch is a linear map of
    * the frequency vector, so the cell-wise dot product overestimates
    * the true inner product one-sidedly, exactly like point queries).
    * The token-distribution affinity between corpus slices WITHOUT a
    * vocabulary-sized join: each source is first collapsed to its
    * 2048-cell sketch (one map-side-combined pass), then pair
    * enumeration works on |sources|·2048 cells — sources², never
    * vocab² or data².
    *
    * The exact inner products (a per-token counts self-join that
    * dwarfs the sketch's cost) are a REPORT-ONLY rider, off by
    * default AND off in the driver binding — the sketch leg is the
    * 100 TB shape and its bench line should price exactly that. The
    * exact leg is priced and hash-checked as its own query,
    * [[q182ExactTokenInner]].
    */
  def q163CmsInner(s: SparkSession, d: String): DataFrame =
    cmsInnerOf(s, Tables.documents(s, d))

  /** [[q163CmsInner]] over any `(source, text)` frame. With
    * `exactRider` the `ip_exact`/`over_err` columns (and their
    * token-count self-join) are included; `ip_est` is identical
    * either way (SketchAlgebraSpec pins this).
    */
  private[operators] def cmsInnerOf(
      s: SparkSession, docs: DataFrame,
      exactRider: Boolean = false): DataFrame = Scope.pinned { sc =>
    val cells = sc.persist(cmsSourceCells(s, docs))
    val ip = cells.as("a").join(cells.as("b"),
        col("a.j") === col("b.j") && col("a.bkt") === col("b.bkt")
          && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"), col("a.j").as("j"))
      // cast BEFORE multiplying: Long*Long would wrap past ~3e9-count
      // cells under non-ANSI eval; decimal*bigint widens exactly
      .agg(sum(col("a.c").cast("decimal(38,0)") * col("b.c")).as("s"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(min(col("s")).cast("long").as("mn"), count(lit(1)).as("nj"))
      // a sketch row with NO overlapping cells contributes 0 to the
      // min, but the inner join drops it — fewer than depth rows
      // present means some row's inner product is 0, so the estimate
      // is 0 (which also implies the exact inner product is 0: any
      // truly shared token populates a shared cell in EVERY row)
      .select(col("src_a"), col("src_b"),
        when(col("nj") < lit(CmsReplayDepth.toLong), lit(0L))
          .otherwise(col("mn")).as("ip_est"))
    val joined =
      if (!exactRider) ip.select(col("src_a"), col("src_b"), col("ip_est"))
      else {
        val cnt = docs
          .select(col("source"),
            explode(filter(split(coalesce(col("text"), lit("")), " "),
              t => t =!= "")).as("tok"))
          .groupBy(col("source"), col("tok")).agg(count(lit(1)).as("n"))
        val exact = cnt.as("a").join(cnt.as("b"),
            col("a.tok") === col("b.tok") && col("a.source") < col("b.source"))
          .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
          .agg(sum(col("a.n").cast("decimal(38,0)") * col("b.n")).cast("long")
            .as("ip_exact"))
        ip.join(exact, Seq("src_a", "src_b"), "left")
          .select(col("src_a"), col("src_b"),
            coalesce(col("ip_exact"), lit(0L)).as("ip_exact"), col("ip_est"),
            (col("ip_est") - coalesce(col("ip_exact"), lit(0L))).as("over_err"))
      }
    joined
      .orderBy(col("src_a"), col("src_b"))
  }

  /** Register-index bits / register count of the replayable HLL (q159). */
  val HllBits = 9
  val HllM = 512

  /** Rho ceiling: the 60-bit md5 key spends [[HllBits]] on the register
    * index, leaving 51 suffix bits — an all-zero suffix counts as
    * rho = 52 (the "reached the end" convention).
    */
  val HllMaxRho = 52

  /** alpha_m · m² for m = 512 (Flajolet et al. '07 §4's bias constant),
    * evaluated HERE once and pasted into the oracle as a literal —
    * Scala's shortest-round-trip double printing re-parses to the same
    * bits in DuckDB, so both engines scale by the identical double.
    */
  val HllAlphaMM: Double = 0.7213 / (1.0 + 1.079 / 512.0) * 512.0 * 512.0

  /** 2^52 — the register-sum radix: a register value r contributes
    * 2^(52 − r), so the classic Σ 2^(−M_j) becomes the EXACT integer
    * Σ 2^(52 − M_j) (≤ 512·2^52 < 2^62) and the only floating step
    * left is one final scale-and-divide. Double-summing 2^(−M_j)
    * directly would need >53 mantissa bits and go order-dependent.
    */
  val HllRadix = 4503599627370496L

  /** Replayable HyperLogLog distinct-trigram estimation per source
    * (q159): [[q158CmsFreq]]'s program applied to the CARDINALITY
    * sketch — q37/q113's `approx_count_distinct` surface re-seated on
    * the published 60-bit md5 key so the driver hash-matches the whole
    * register state and the raw estimate instead of a rows-only check.
    *
    * Register build IS the distributed sketch: rho = 52 − bitlength of
    * the 51-bit hash suffix, `groupBy(source, bucket).max(rho)` — the
    * map-side partial max is the per-partition sketch and the shuffle
    * merge is the register-wise max, state O(m) per source regardless
    * of cardinality, NO distinct shuffle anywhere in the sketch path
    * (the exact count rides along as report-only ground truth, the
    * q55/q158 convention). The estimate column is the raw Flajolet
    * formula only (multiply/divide — bit-identical cross-engine);
    * the ln-based small-range (linear-counting) correction is
    * deliberately NOT in the matched output: Java's and DuckDB's ln
    * disagree by 1 ulp on 2 of the 512 possible inputs (measured), so
    * the oracle pins `small_range` (the branch predicate) and
    * [[hllCorrected]] + HllReplaySpec pin the corrected estimator
    * engine-side.
    */
  def q159HllDistinct(s: SparkSession, d: String): DataFrame =
    hllDistinctOf(Tables.documents(s, d))

  /** [[q159HllDistinct]] over any `(source, text)` frame. */
  /** The published 60-bit md5 key of any string column (the q158/q159
    * convention): nonnegative in a signed BIGINT on both engines.
    */
  private[graft] def hllKey(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** Register index: top [[HllBits]] bits of the 60-bit key. */
  private[graft] def hllBucket(x: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    shiftright(x, 60 - HllBits)

  /** rho of the 51-bit suffix: 52 − bitlength (all-zero suffix = 52). */
  private[graft] def hllRho(x: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val suffix = x.bitwiseAND(lit((1L << (60 - HllBits)) - 1))
    when(suffix === 0, lit(HllMaxRho))
      .otherwise(lit(HllMaxRho) - length(conv(suffix, 10, 2)))
      .cast("long")
  }

  /** Fold a register frame `(groupCols..., bkt, r)` to the q159 output
    * columns (v_empty, s_reg, est_raw, small_range) — shared by the
    * batch (q159) and streaming (q161) sketch builds.
    */
  private[graft] def hllReadout(regs: DataFrame, groupCols: Seq[String]): DataFrame = {
    val gs = groupCols.map(col)
    regs.groupBy(gs: _*)
      .agg(count(lit(1)).as("n_hit"),
        // shiftleft's Scala binding takes only a literal shift — the
        // SQL form accepts a column
        sum(expr(s"shiftleft(CAST(1 AS BIGINT), CAST($HllMaxRho - r AS INT))"))
          .as("s_hit"))
      .withColumn("v_empty", lit(HllM.toLong) - col("n_hit"))
      .withColumn("s_reg", col("s_hit") + col("v_empty") * lit(HllRadix))
      .withColumn("est_raw",
        lit(HllAlphaMM) * (lit(HllRadix.toDouble) / col("s_reg").cast("double")))
      .withColumn("small_range",
        col("est_raw") <= lit(2.5 * HllM) && col("v_empty") > 0)
  }

  private[operators] def hllDistinctOf(docs: DataFrame): DataFrame = Scope.pinned { sc =>
    // ONE tokenize+explode pass (sourceTrigrams — the q162/q172/q190
    // family's shared gram rule, not a re-implementation that could
    // drift) feeds both the registers and the exact ground truth; the
    // registers come from the native HllRegistersAgg (one 4 KB array
    // partial per partition-source) rather than the grouped-row
    // groupBy(source, bkt).max(rho) form, whose shuffle carries up to
    // 512 rows per source
    val grams = sc.persist(sourceTrigrams(docs))
    val regs = registersOfGrams(grams)
    val exact = grams.groupBy(col("source"))
      .agg(countDistinct(col("g")).as("n_distinct_exact"))
    hllReadout(regs, Seq("source")).join(exact, "source")
      .select(col("source"), col("n_distinct_exact"), col("v_empty"),
        col("s_reg"), col("est_raw"), col("small_range"))
      .orderBy(col("source"))
  }

  /** The exploded `(source, g)` word-trigram frame the q159/q162 HLL
    * family keys on — exposed so callers can persist ONE tokenize+
    * explode pass and derive both registers and exact ground truth.
    */
  private[operators] def sourceTrigrams(docs: DataFrame): DataFrame =
    docs
      .select(col("source"),
        filter(split(coalesce(col("text"), lit("")), " "), t => t =!= "").as("t"))
      .filter(size(col("t")) >= 3)
      .select(col("source"), explode(expr(
        "transform(sequence(0, size(t) - 3), i -> concat_ws(' ', t[i], t[i+1], t[i+2]))"))
        .as("g"))

  /** The per-(source, bucket) register frame q159 folds — factored out
    * so q162 can UNION registers across sources (the mergeability that
    * makes HLL an algebra, not just an estimator).
    */
  private[operators] def hllRegisters(docs: DataFrame): DataFrame =
    registersOfGrams(sourceTrigrams(docs))

  /** Registers from an already-exploded `(source, g)` frame — built by
    * the native [[graft.functions.HllRegistersAgg]] (one 4 KB array
    * partial per (partition, source) instead of up to 512 grouped
    * rows), observed registers exploded back out unchanged.
    */
  private[operators] def registersOfGrams(grams: DataFrame): DataFrame =
    grams
      .select(col("source"), hllKey(col("g")).as("x"))
      .groupBy(col("source"))
      .agg(graft.functions.HllRegistersAgg.registers(col("x")).as("regs"))
      .select(col("source"), posexplode(col("regs")).as(Seq("pos", "r")))
      .filter(col("r") > 0)
      .select(col("source"), col("pos").cast("long").as("bkt"), col("r"))

  /** Cross-source distinct-trigram overlap from HLL register UNIONS
    * (q162): for every unordered source pair, |A∪B| is estimated from
    * the bucket-wise MAX of the two sources' q159 registers — the
    * union of two HLLs IS their register max, the algebraic property
    * that lets 1000 shards sketch independently and merge after — and
    * |A∩B| falls out by inclusion-exclusion
    * (est_a + est_b − est_union). The corpus is touched ONCE (the q159
    * register build); everything after operates on |sources|·512
    * register rows, so pair enumeration costs sources², never data².
    * Raw-formula estimates only (the q159 ln rule).
    *
    * The exact shared-gram ground truth (a distinct-gram self-join
    * that costs more than the sketch saves) is a REPORT-ONLY rider,
    * off by default AND off in the driver binding — at 100 TB the
    * sketch leg is the whole point, and a query's bench line should
    * price what it advertises. The exact leg is priced and
    * hash-checked as its own query, [[q181ExactGramOverlap]].
    */
  def q162HllOverlap(s: SparkSession, d: String): DataFrame =
    hllOverlapOf(Tables.documents(s, d))

  /** [[q162HllOverlap]] over any `(source, text)` frame. With
    * `exactRider` the `n_shared_exact` column (and its distinct-gram
    * self-join) is included; estimate columns are identical either
    * way (SketchAlgebraSpec pins this).
    */
  private[operators] def hllOverlapOf(
      docs: DataFrame, exactRider: Boolean = false): DataFrame = Scope.pinned { sc =>
    // one tokenize+explode pass feeds registers AND (rider only) the
    // exact ground truth; estimate-only callers have a single gram
    // consumer, so nothing corpus-shaped is persisted for them
    val grams0 = sourceTrigrams(docs)
    val grams = if (exactRider) sc.persist(grams0) else grams0
    val regs = sc.persist(registersOfGrams(grams))
    val per = hllReadout(regs, Seq("source"))
      .select(col("source"), col("est_raw"))
    val srcs = regs.select(col("source")).distinct()
    val pairs = srcs.select(col("source").as("src_a"))
      .crossJoin(srcs.select(col("source").as("src_b")))
      .filter(col("src_a") < col("src_b"))
    // union registers: both sides' rows tagged with the pair, max per
    // bucket — two broadcast joins of the tiny pairs frame
    val tagged = pairs.join(regs, col("source") === col("src_a"))
      .select(col("src_a"), col("src_b"), col("bkt"), col("r"))
      .unionByName(pairs.join(regs, col("source") === col("src_b"))
        .select(col("src_a"), col("src_b"), col("bkt"), col("r")))
    val unionRegs = tagged.groupBy(col("src_a"), col("src_b"), col("bkt"))
      .agg(max(col("r")).as("r"))
    val estU = hllReadout(unionRegs, Seq("src_a", "src_b"))
      .select(col("src_a"), col("src_b"), col("est_raw").as("est_union"))
    val base = estU
      .join(per.select(col("source").as("src_a"), col("est_raw").as("est_a")), "src_a")
      .join(per.select(col("source").as("src_b"), col("est_raw").as("est_b")), "src_b")
    val joined =
      if (!exactRider) base
      else {
        // exact shared grams (rider): distinct collapse, gram join
        val sg = grams.distinct()
        val shared = sg.as("a").join(sg.as("b"),
            col("a.g") === col("b.g") && col("a.source") < col("b.source"))
          .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
          .agg(count(lit(1)).as("n_shared_exact"))
        base.join(shared, Seq("src_a", "src_b"), "left")
          .withColumn("n_shared_exact",
            coalesce(col("n_shared_exact"), lit(0L)))
      }
    val cols = (if (exactRider) Seq(col("n_shared_exact")) else Nil) ++
      Seq(col("est_a"), col("est_b"), col("est_union"),
        (col("est_a") + col("est_b") - col("est_union")).as("est_overlap"))
    joined
      .select(col("src_a") +: col("src_b") +: cols: _*)
      .orderBy(col("src_a"), col("src_b"))
  }

  /** The full HLL estimator including the ln-based linear-counting
    * correction (Flajolet et al. '07 §4) — the production read-out of
    * the q159 register state. Engine-side only (ln is not bit-portable
    * cross-engine); HllReplaySpec pins its accuracy.
    */
  private[graft] def hllCorrected(sReg: Long, vEmpty: Long): Double = {
    val raw = HllAlphaMM * (HllRadix.toDouble / sReg.toDouble)
    if (raw <= 2.5 * HllM && vEmpty > 0) HllM * math.log(HllM.toDouble / vEmpty)
    else raw
  }

  /** Synchronous label propagation (Raghavan et al. '07): every node
    * starts labelled with its own id; each round ALL nodes simultaneously
    * adopt the most frequent label among their neighbours, ties broken
    * toward the SMALLEST label. Round count is a parameter, not a
    * fixpoint: synchronous LPA can oscillate on bipartite structure
    * (the original paper's motivation for asynchronous updates), so
    * "the labelling after exactly R synchronous rounds" is the only
    * deterministic, engine-independent semantics — and the one an
    * unrolled oracle can replay. Communities differ from
    * [[connectedComponents]] (which ignores edge density) and from
    * k-core (which thresholds degree): LPA splits a connected graph
    * along sparse cuts, the usual first pass for community structure.
    *
    * Scale shape, per round: the symmetric edge frame is partitioned by
    * `dst` ONCE at persist time; each round only the node-sized label
    * frame shuffles to meet it. The vote argmax is a single
    * `max(struct(cnt, -lbl))` aggregate — map-side partial, no window,
    * no per-node row explosion beyond the vote counts themselves.
    * Each round's labels are lineage-truncated (eager localCheckpoint,
    * the [[kCorePeel]] discipline) so round R never replays rounds
    * 1..R-1 and the plan stays constant-size; superseded label frames
    * release their blocks immediately.
    *
    * @param edges symmetric `(src, dst)`, no self-loops.
    * @return `(v, lbl)` after exactly `rounds` synchronous updates.
    */
  def labelPropagation(edges: DataFrame, rounds: Int,
      localMax: Long = GraphLocalMaxRows): DataFrame =
    lpaLocal(edges, rounds, localMax)
      .getOrElse(lpaDistributed(edges, rounds))

  /** Driver-local synchronous LPA — [[lpaDistributed]]'s per-round
    * dynamics over collected edges: votes count edge ROWS per
    * (src, neighbour label); the argmax breaks ties toward the
    * SMALLEST label (the frame's max(struct(cnt, -lbl))); a node
    * whose every neighbour left the label map drops exactly like the
    * inner join (impossible on symmetric input, replicated anyway).
    * None over budget; GraphLocalSpec pins local == distributed.
    */
  private[graft] def lpaLocal(
      edges: DataFrame, rounds: Int, maxRows: Long): Option[DataFrame] = {
    require(rounds >= 1, s"labelPropagation: rounds must be >= 1, got $rounds")
    takeBounded(edges.select(col("src"), col("dst")), maxRows).map { es =>
      val s = edges.sparkSession
      import s.implicits._
      var labels = new java.util.HashMap[Long, Long]()
      es.foreach { case (src, _) => labels.put(src, src): Unit }
      for (_ <- 1 to rounds) {
        val votes = new java.util.HashMap[(Long, Long), Long]()
        es.foreach { case (src, dst) =>
          if (labels.containsKey(dst))
            votes.merge((src, labels.get(dst)), 1L, _ + _): Unit
        }
        val bestCnt = new java.util.HashMap[Long, Long]()
        val bestLbl = new java.util.HashMap[Long, Long]()
        votes.forEach { case ((src, lbl), cnt) =>
          val bc = bestCnt.getOrDefault(src, -1L)
          if (cnt > bc ||
              (cnt == bc && lbl < bestLbl.get(src))) {
            bestCnt.put(src, cnt); bestLbl.put(src, lbl): Unit
          }
        }
        labels = bestLbl
      }
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      labels.forEach((v, lbl) => out += ((v, lbl)): Unit)
      out.sortBy(_._1).toSeq.toDF("v", "lbl")
    }
  }

  private[graft] def lpaDistributed(edges: DataFrame, rounds: Int): DataFrame = Scope { sc =>
    require(rounds >= 1, s"labelPropagation: rounds must be >= 1, got $rounds")
    val e = sc.persist(edges.select(col("src"), col("dst")).repartition(col("dst")))
    var labels = sc.checkpoint(e.select(col("src").as("v")).distinct()
      .select(col("v"), col("v").as("lbl")), eager = true)
    for (_ <- 1 to rounds) {
      val next = sc.checkpoint(e
        .join(labels.select(col("v").as("dst"), col("lbl")), Seq("dst"))
        .groupBy(col("src"), col("lbl")).agg(count(lit(1)).as("cnt"))
        // argmax with min-label tie-break: struct max orders by cnt
        // first, then by -lbl (labels are non-negative node ids)
        .groupBy(col("src"))
        .agg(max(struct(col("cnt"), (-col("lbl")).as("neg"))).as("best"))
        .select(col("src").as("v"), (-col("best.neg")).as("lbl")), eager = true)
      sc.release(labels)
      labels = next
    }
    sc.keep(labels)
  }

  /** Synchronous LPA rounds of the driver binding — unroll depth of the
    * q124 oracle; LpaSpec pins the per-round semantics so a change here
    * fails a spec before the driver hash.
    */
  val Q124LpaRounds = 4

  /** Driver binding: communities of the q53/q85/q112 co-purchase graph
    * (parts bought together in a high-quantity order) after
    * [[Q124LpaRounds]] synchronous LPA rounds, with community sizes.
    * Oracle: the rounds unrolled as CTE legs — per round a vote count
    * and a ROW_NUMBER argmax with the same (cnt DESC, lbl ASC) order.
    */
  def q124LabelProp(s: SparkSession, d: String): DataFrame = {
    val hi = Tables.lineitem(s, d)
      .filter(col("l_quantity") >= 49)
      .select(col("l_orderkey"), col("l_partkey"))
    val pairs = LshJoin.exactBucketPairs(hi, "l_partkey",
      LshJoin.MaxBucket, "l_orderkey")
    val edges = pairs.select(col("a").as("src"), col("b").as("dst"))
      .union(pairs.select(col("b").as("src"), col("a").as("dst")))
    val labels = labelPropagation(edges, Q124LpaRounds)
    val sizes = labels.groupBy(col("lbl"))
      .agg(count(lit(1)).as("community_size"))
    labels.join(sizes, "lbl")
      .select(col("v").as("l_partkey"), col("lbl").as("community"),
        col("community_size"))
      .orderBy(col("community"), col("l_partkey"))
  }

  /** Multi-source BFS (q135): exact minimum hop distance from a seed
    * SET to every node within `maxHops` — blast-radius / closeness
    * queries ("everything within 3 links of the recalled parts") that
    * [[connectedComponents]]' reachability and [[pageRank]]'s scores
    * can't answer: CC says WHETHER connected, BFS says HOW FAR. The
    * textbook Pregel frontier algorithm (Malewicz '10), expressed as
    * per-round DataFrame joins.
    *
    * Scale shape — per round, only the FRONTIER moves: frontier ⋈
    * edges (edge frame repartitioned by src once and persisted, the
    * [[connectedComponents]] layout, so the big frame never
    * re-shuffles), anti-join against the settled set drops
    * already-visited nodes, and the new frontier is eagerly
    * `localCheckpoint`'d — the r9 lineage-truncation rule for every
    * loop, so round N's plan never replays rounds 1..N-1. Early exit
    * on an empty frontier makes `maxHops` a bound, not a cost: a
    * converged BFS is bit-identical to any deeper unroll, which is
    * what lets a fixed-depth SQL recursion oracle it.
    *
    * @param seeds `(v: Long)`; `edges(src, dst)` symmetric.
    * @return `(v, hop)` for every node within maxHops of a seed
    *         (seeds at hop 0).
    */
  def bfsHops(seeds: DataFrame, edges: DataFrame, maxHops: Int,
      localMax: Long = GraphLocalMaxRows): DataFrame =
    bfsLocal(seeds, edges, maxHops, localMax)
      .getOrElse(bfsDistributed(seeds, edges, maxHops))

  /** Driver-local BFS — [[bfsDistributed]]'s frontier rounds over a
    * collected adjacency: seed rows keep their MULTIPLICITY at hop 0
    * (the union preserves duplicate seed rows), each later hop emits
    * every newly reached node exactly once (the frame's distinct +
    * anti-join), and the loop exits early on an empty frontier. None
    * over budget; GraphLocalSpec pins local == distributed including
    * the duplicate-seed corner.
    */
  private[graft] def bfsLocal(
      seeds: DataFrame, edges: DataFrame, maxHops: Int,
      maxRows: Long): Option[DataFrame] = {
    require(maxHops >= 0, s"maxHops must be >= 0, got $maxHops")
    takeBounded(seeds.select(col("v"), col("v")), maxRows).flatMap { ss =>
      takeBounded(edges.select(col("src"), col("dst")), maxRows).map { es =>
        val s = seeds.sparkSession
        import s.implicits._
        val adj = new java.util.HashMap[Long,
          scala.collection.mutable.ArrayBuffer[Long]]()
        es.foreach { case (src, dst) =>
          adj.computeIfAbsent(src,
            _ => scala.collection.mutable.ArrayBuffer.empty[Long]) += dst
        }
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
        val settled = new java.util.HashSet[java.lang.Long]()
        ss.foreach { case (v, _) => out += ((v, 0L)); settled.add(v): Unit }
        var frontier: Seq[Long] = ss.map(_._1).distinct
        var hop = 0
        while (hop < maxHops && frontier.nonEmpty) {
          hop += 1
          val nxtSet = new java.util.HashSet[java.lang.Long]()
          val nxt = scala.collection.mutable.ArrayBuffer.empty[Long]
          frontier.foreach { v =>
            val ns = adj.get(v)
            if (ns != null) ns.foreach { d =>
              if (!settled.contains(d) && nxtSet.add(d)) nxt += d
            }
          }
          nxt.foreach { d => settled.add(d); out += ((d, hop.toLong)): Unit }
          frontier = nxt.toSeq
        }
        out.sortBy(identity).toSeq.toDF("v", "hop")
      }
    }
  }

  private[graft] def bfsDistributed(
      seeds: DataFrame, edges: DataFrame, maxHops: Int): DataFrame = Scope { sc =>
    require(maxHops >= 0, s"maxHops must be >= 0, got $maxHops")
    val e = sc.persist(edges.repartition(col("src")))
    var dist = sc.checkpoint(seeds.select(col("v"), lit(0L).as("hop")), eager = true)
    var frontier = dist.select(col("v"))
    var prevNxt: DataFrame = null // round r's frontier checkpoint
    var hop = 0
    while (hop < maxHops && !frontier.isEmpty) {
      hop += 1
      val nxt = sc.checkpoint(frontier.join(e, col("v") === col("src"))
        .select(col("dst").as("v")).distinct()
        .join(dist, Seq("v"), "left_anti")
        .withColumn("hop", lit(hop.toLong)), eager = true)
      val settled = sc.checkpoint(dist.union(nxt), eager = true)
      sc.release(dist)
      // the prior round's frontier checkpoint fed THIS round's join
      // (both eager checkpoints above have materialized) and is dead
      // now — without this a deep BFS pins one frontier-sized block
      // set per hop until the ContextCleaner happens to run
      if (prevNxt != null) sc.release(prevNxt)
      prevNxt = nxt
      dist = settled
      frontier = nxt.select(col("v"))
    }
    sc.keep(dist) // independent of the last frontier, released with e
  }

  /** Driver binding (q135): hop distance from the recall seed set
    * (every 50th part) over the co-purchase graph, 4 hops. Oracle:
    * fixed-depth recursive SQL taking MIN(hop) over all enumerated
    * walks — equal to BFS distance because every shortest path of
    * length <= 4 is among the walks.
    */
  def q135BfsHops(s: SparkSession, d: String): DataFrame = {
    val hi = Tables.lineitem(s, d)
      .filter(col("l_quantity") >= 49)
      .select(col("l_orderkey"), col("l_partkey"))
    val pairs = LshJoin.exactBucketPairs(hi, "l_partkey",
      LshJoin.MaxBucket, "l_orderkey")
    val edges = pairs.select(col("a").as("src"), col("b").as("dst"))
      .union(pairs.select(col("b").as("src"), col("a").as("dst")))
    val seeds = hi.select(col("l_partkey").as("v")).distinct()
      .filter(col("v") % 50 === 0)
    bfsHops(seeds, edges, maxHops = 4)
      .select(col("v").as("l_partkey"), col("hop"))
      .orderBy(col("l_partkey"))
  }

  /** Link prediction by common-neighbor count: for NON-adjacent vertex
    * pairs, cn(a,b) = |N(a) ∩ N(b)| — the classic link-prediction
    * baseline (Liben-Nowell & Kleinberg CIKM '03), top `topK` by
    * (cn desc, a, b). The INTEGER statistic is chosen deliberately:
    * Adamic-Adar's Σ 1/log deg(z) would sum doubles in reduction order
    * and could never hash-match an oracle (the q91 rule); preferential
    * attachment and Jaccard variants derive from the same wedge frame.
    *
    * Scale shape: wedges enumerate from the MIDDLE vertex — one
    * self-join of the symmetric (z, neighbor) frame on z with n < n2 —
    * so cost is Σ_z deg(z)², q85's triangle-wedge budget (hub-degree
    * capping is the documented mitigation there; co-purchase degrees
    * are order-size-bounded). Known edges leave via one LEFT ANTI
    * join; the top-k is a TakeOrderedAndProject, never a global sort.
    * `edges` must be DISTINCT undirected pairs with a < b.
    */
  def linkPrediction(edges: DataFrame, topK: Int): DataFrame = {
    val nbr = edges.select(col("a").as("z"), col("b").as("n"))
      .union(edges.select(col("b").as("z"), col("a").as("n")))
    val wedges = nbr.join(
      nbr.select(col("z"), col("n").as("n2")), "z")
      .filter(col("n") < col("n2"))
    wedges
      .groupBy(col("n").as("a"), col("n2").as("b"))
      .agg(count(lit(1)).as("common_neighbors"))
      .join(edges, Seq("a", "b"), "left_anti")
      .orderBy(col("common_neighbors").desc, col("a"), col("b"))
      .limit(topK)
  }

  /** Driver binding (q141): predicted next co-purchase links over the
    * q85 graph (parts sharing a high-quantity order).
    * `exactBucketPairs` already returns DISTINCT (a, b) pairs (its own
    * final distinct — LshJoin.scala) — a second distinct here would be
    * a redundant full shuffle of the edge set. Oracle: the same wedge
    * self-join + NOT EXISTS in SQL.
    */
  def q141LinkPrediction(s: SparkSession, d: String): DataFrame = {
    val hi = Tables.lineitem(s, d)
      .filter(col("l_quantity") >= 49)
      .select(col("l_orderkey"), col("l_partkey"))
    val edges = LshJoin.exactBucketPairs(hi, "l_partkey",
      LshJoin.MaxBucket, "l_orderkey").select(col("a"), col("b"))
    linkPrediction(edges, topK = 25)
  }

  // ===== KMV (k-minimum-values / bottom-k) distinct sketch =====
  //
  // The third replayable cardinality sketch after HLL (q159) and the
  // histogram (q160): the k smallest distinct 60-bit md5 keys of a set.
  // Unlike HLL it is a SET algebra (union = bottom-k of the sketch
  // union), it yields an UNBIASED distinct estimate (k-1)·H/kth-min,
  // and — the property HLL lacks — it supports direct Jaccard
  // estimation between two sets from their sketches alone
  // (Bar-Yossef et al. '02; Beyer et al. '07). All arithmetic is
  // integer, so engine and oracle hash-match bit-for-bit.

  /** Sketch size: stderr of the distinct estimate ~ 1/sqrt(k-2) = 13%. */
  val KmvK: Int = 64

  /** Key domain: [[hllKey]] is 60 bits, H = 2^60. */
  val KmvDomain: Long = 1L << 60

  /** Per-`source` KMV sketches of a raw `(source, x: Long)` key frame
    * (duplicates welcome — the aggregator dedupes in its O(k)
    * partials; never `distinct()` a corpus-sized frame first).
    * Returns `(source, sk: Seq[Long])`, one row per source.
    */
  private[operators] def kmvSketches(keys: DataFrame): DataFrame =
    keys.groupBy(col("source"))
      .agg(graft.functions.KmvSketchAgg.sketch(col("x"), KmvK).as("sk"))

  /** KMV read-out: `(source, n_kmv, kth_min, est_distinct)`. Estimate
    * in exact BigInt floor arithmetic (DuckDB replays it as HUGEINT
    * `//`): below k observed keys the sketch IS the distinct set, so
    * the estimate is exact by construction.
    */
  private[graft] def kmvReadout(sketches: DataFrame): DataFrame = {
    val s = sketches.sparkSession
    import s.implicits._
    sketches.as[(String, Seq[Long])]
      .map { case (source, sk) =>
        val nk = sk.size.toLong
        val kth = sk.last // a group exists only if it has rows
        val est =
          if (nk < KmvK) nk
          else (BigInt(KmvK - 1) * KmvDomain / kth).toLong
        (source, nk, kth, est)
      }
      .toDF("source", "n_kmv", "kth_min", "est_distinct")
  }

  /** [[kmvReadout]] for LONG-keyed sketch frames `(k: Long, sk)` —
    * the windowed (q175) variant; callers rename `k` to their group
    * column.
    */
  private[graft] def kmvReadoutLong(sketches: DataFrame): DataFrame = {
    val s = sketches.sparkSession
    import s.implicits._
    sketches.as[(Long, Seq[Long])]
      .map { case (g, sk) =>
        val nk = sk.size.toLong
        val kth = sk.last
        val est =
          if (nk < KmvK) nk
          else (BigInt(KmvK - 1) * KmvDomain / kth).toLong
        (g, nk, kth, est)
      }
      .toDF("k", "n_kmv", "kth_min", "est_distinct")
  }

  /** Distinct word-trigram cardinality per source via KMV (q172) —
    * the q159 HLL question answered by the bottom-k sketch, over the
    * SAME one-pass trigram explode. State per source is k longs; the
    * corpus is never distinct()-shuffled (the aggregator dedupes
    * map-side). Exact ground truth rides for the driver hash.
    */
  def q172KmvDistinct(s: SparkSession, d: String): DataFrame =
    kmvDistinctOf(Tables.documents(s, d))

  /** [[q172KmvDistinct]] over any `(source, text)` frame. */
  private[operators] def kmvDistinctOf(docs: DataFrame): DataFrame = Scope.pinned { sc =>
    val grams = sc.persist(sourceTrigrams(docs))
    val sk = kmvSketches(
      grams.select(col("source"), hllKey(col("g")).as("x")))
    val exact = grams.groupBy(col("source"))
      .agg(countDistinct(col("g")).as("n_distinct_exact"))
    kmvReadout(sk).join(exact, "source")
      .select(col("source"), col("n_distinct_exact"), col("n_kmv"),
        col("kth_min"), col("est_distinct"))
      .orderBy(col("source"))
  }

  /** Cross-source Jaccard similarity from KMV sketches alone (q173):
    * for every unordered source pair, merge the two k-sized sketches
    * (bottom-k of their union — the KMV set algebra), and estimate
    * J(A,B) = |{x in merged : x in sk(A) and x in sk(B)}| / |merged|.
    * The corpus is touched ONCE (the sketch build); everything after
    * operates on |sources|·k sketch rows, so pair enumeration costs
    * sources²·k, never data². This is the estimator HLL cannot give
    * without inclusion-exclusion through three cardinality estimates
    * (q162) — KMV reads the overlap off the sketch members directly.
    *
    * The exact distinct-gram ground truth is a REPORT-ONLY rider,
    * off by default and off in the driver binding (the q162
    * discipline): its distinct self-join costs more than the sketch
    * saves. The exact leg is priced and hash-checked as its own
    * query, [[q181ExactGramOverlap]].
    */
  def q173KmvOverlap(s: SparkSession, d: String): DataFrame =
    kmvOverlapOf(Tables.documents(s, d))

  /** The merged (bottom-k of the key union) sketch for every unordered
    * source pair, membership-tagged:
    * `(src_a, src_b, x, ia, ib)` with rn <= [[KmvK]] applied — tag both
    * sides' sketch members with the pair, dedupe keys (max of the
    * tags), keep the k smallest of the union. The ONE merge law both
    * the overlap (q173) and difference (q186) estimators rank on,
    * extracted so a tie-handling or cap change can never leave one of
    * them stale. Pair math is sources²·k — never corpus-sized.
    */
  private def mergedKmvPairs(rows: DataFrame): DataFrame = {
    val srcs = rows.select(col("source")).distinct()
    val pairs = srcs.select(col("source").as("src_a"))
      .crossJoin(srcs.select(col("source").as("src_b")))
      .filter(col("src_a") < col("src_b"))
    val tagged = pairs.join(rows, col("source") === col("src_a"))
      .select(col("src_a"), col("src_b"), col("x"),
        lit(1L).as("ia"), lit(0L).as("ib"))
      .unionByName(pairs.join(rows, col("source") === col("src_b"))
        .select(col("src_a"), col("src_b"), col("x"),
          lit(0L).as("ia"), lit(1L).as("ib")))
      .groupBy(col("src_a"), col("src_b"), col("x"))
      .agg(max(col("ia")).as("ia"), max(col("ib")).as("ib"))
    tagged.withColumn("rn",
      row_number().over(Window.partitionBy(col("src_a"), col("src_b"))
        .orderBy(col("x"))))
      .filter(col("rn") <= KmvK)
  }

  /** [[q173KmvOverlap]] over any `(source, text)` frame. */
  private[operators] def kmvOverlapOf(
      docs: DataFrame, exactRider: Boolean = false): DataFrame = Scope.pinned { sc =>
    val grams0 = sourceTrigrams(docs)
    val grams = if (exactRider) sc.persist(grams0) else grams0
    // sketch rows: |sources| x k after ONE corpus pass
    val rows = sc.persist(kmvSketches(
      grams.select(col("source"), hllKey(col("g")).as("x")))
      .select(col("source"), explode(col("sk")).as("x")))
    val ranked = mergedKmvPairs(rows)
    val est = ranked.groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("n_merged"),
        sum(col("ia") * col("ib")).as("n_both"))
      .withColumn("est_jaccard",
        col("n_both").cast("double") / col("n_merged").cast("double"))
    val joined =
      if (!exactRider) est
      else {
        val sg = grams.distinct()
        val per = sg.groupBy(col("source")).agg(count(lit(1)).as("n"))
        val shared = sg.as("a").join(sg.as("b"),
            col("a.g") === col("b.g") && col("a.source") < col("b.source"))
          .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
          .agg(count(lit(1)).as("n_shared_exact"))
        est
          .join(per.select(col("source").as("src_a"), col("n").as("na")), "src_a")
          .join(per.select(col("source").as("src_b"), col("n").as("nb")), "src_b")
          .join(shared, Seq("src_a", "src_b"), "left")
          .withColumn("n_shared_exact", coalesce(col("n_shared_exact"), lit(0L)))
          .withColumn("jaccard_exact",
            col("n_shared_exact").cast("double") /
              (col("na") + col("nb") - col("n_shared_exact")).cast("double"))
          .drop("na", "nb")
      }
    val cols = (if (exactRider)
        Seq(col("n_shared_exact"), col("jaccard_exact")) else Nil) ++
      Seq(col("n_merged"), col("n_both"), col("est_jaccard"))
    joined
      .select(col("src_a") +: col("src_b") +: cols: _*)
      .orderBy(col("src_a"), col("src_b"))
  }

  /** HLL rollup (q190): the q159 register state rolled up through
    * GROUPING SETS — per-source distinct-trigram estimates AND the
    * corpus-wide total from ONE register build, because HLL union is
    * register max and max is reaggregable at any grain. This is the
    * OLAP-cube form of the sketch algebra: at 100 TB you sketch the
    * corpus once (map-side combined to |sources|·512 rows) and answer
    * every rollup level from those rows; the naive alternative runs a
    * corpus-sized COUNT(DISTINCT) per level. `lvl` is the GROUPING
    * indicator (0 = per-source row, 1 = the total row, source
    * surfaced as '<all>'); raw-formula estimates only (the q159 ln
    * rule).
    */
  def q190HllRollup(s: SparkSession, d: String): DataFrame =
    hllRollupOf(Tables.documents(s, d))

  /** [[q190HllRollup]] over any `(source, text)` frame. */
  private[operators] def hllRollupOf(docs: DataFrame): DataFrame = {
    val regs = hllRegisters(docs)
    // one GROUPING SETS pass re-maxes the registers at both grains;
    // register rows are |sources|·512, so this is sketch-sized work
    val leveled = regs
      .groupingSets(
        Seq(Seq(col("source"), col("bkt")), Seq(col("bkt"))),
        col("source"), col("bkt"))
      .agg(max(col("r")).as("r"), grouping(col("source")).as("lvl"))
      .select(col("lvl"), coalesce(col("source"), lit("<all>")).as("source"),
        col("bkt"), col("r"))
    hllReadout(leveled, Seq("lvl", "source"))
      .select(col("lvl").cast("long").as("lvl"), col("source"),
        col("n_hit"), col("est_raw"))
      .orderBy(col("lvl"), col("source"))
  }

  /** Cross-source set-DIFFERENCE estimates from KMV sketches alone
    * (q186) — the theta-sketch A-not-B operation (Dasgupta et al.
    * '16) on the q172 bottom-k state, completing the KMV set algebra
    * the suite exposes: union (q172 merge law), intersection/Jaccard
    * (q173), and now difference. The merged sketch (bottom-k of the
    * two key unions) is a uniform sample of A∪B, so |A\B| is estimated
    * as (members in A only / merged size) × est|A∪B|, with est|A∪B|
    * the usual (k−1)·H / kth-min read-out — everything in exact BigInt
    * floor arithmetic (oracle: HUGEINT `//`), exact by construction
    * below k union keys. Corpus touched once; pair math is sources²·k.
    */
  def q186KmvDifference(s: SparkSession, d: String): DataFrame =
    kmvDifferenceOf(Tables.documents(s, d))

  /** [[q186KmvDifference]] over any `(source, text)` frame. */
  private[operators] def kmvDifferenceOf(docs: DataFrame): DataFrame = Scope.pinned { sc =>
    val s = docs.sparkSession
    import s.implicits._
    val rows = sc.persist(kmvSketches(
      sourceTrigrams(docs).select(col("source"), hllKey(col("g")).as("x")))
      .select(col("source"), explode(col("sk")).as("x")))
    val ranked = mergedKmvPairs(rows) // the q173-shared merge law
    val agg = ranked.groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("n_merged"),
        sum(col("ia") * (lit(1L) - col("ib"))).as("n_anotb"),
        sum(col("ib") * (lit(1L) - col("ia"))).as("n_bnota"),
        max(col("x")).as("kth"))
    agg
      .as[(String, String, Long, Long, Long, Long)]
      .map { case (a, b, nm, nab, nba, kth) =>
        // below k union keys the merged sketch IS the union: exact
        val estU =
          if (nm < KmvK) BigInt(nm)
          else BigInt(KmvK - 1) * KmvDomain / kth
        (a, b, nm, nab, nba,
          (BigInt(nab) * estU / nm).toLong, (BigInt(nba) * estU / nm).toLong)
      }
      .toDF("src_a", "src_b", "n_merged", "n_anotb", "n_bnota",
        "est_a_not_b", "est_b_not_a")
      .orderBy(col("src_a"), col("src_b"))
  }

  /** Exact distinct-trigram overlap per unordered source pair (q181) —
    * the ground truth the q162/q173 sketches estimate, priced as its
    * OWN query line: the sketch queries default rider-off (their cost
    * is sources²·k after one corpus pass), while this is the genuinely
    * corpus-sized computation — a distinct collapse plus a per-gram
    * source self-join. The join is an equi-join on the gram, so a gram
    * shared by m sources expands to at most m²/2 rows (m = |sources|,
    * never data-sized); both inputs co-partition on `g` and the pair
    * counts combine map-side. Zero-overlap pairs are kept (LEFT join
    * from the full pair frame) so the output is total over pairs.
    */
  def q181ExactGramOverlap(s: SparkSession, d: String): DataFrame =
    exactGramOverlapOf(Tables.documents(s, d))

  /** [[q181ExactGramOverlap]] over any `(source, text)` frame. */
  private[operators] def exactGramOverlapOf(docs: DataFrame): DataFrame = Scope.pinned { sc =>
    val sg = sc.persist(sourceTrigrams(docs).distinct())
    val per = sg.groupBy(col("source")).agg(count(lit(1)).as("n"))
    val pairs = per.as("a").crossJoin(per.as("b"))
      .filter(col("a.source") < col("b.source"))
      .select(col("a.source").as("src_a"), col("b.source").as("src_b"),
        col("a.n").as("n_a"), col("b.n").as("n_b"))
    val shared = sg.as("a").join(sg.as("b"),
        col("a.g") === col("b.g") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
      .agg(count(lit(1)).as("n_shared_exact"))
    pairs.join(shared, Seq("src_a", "src_b"), "left")
      .withColumn("n_shared_exact", coalesce(col("n_shared_exact"), lit(0L)))
      .select(col("src_a"), col("src_b"), col("n_a"), col("n_b"),
        col("n_shared_exact"),
        (col("n_shared_exact").cast("double") /
          (col("n_a") + col("n_b") - col("n_shared_exact")).cast("double"))
          .as("jaccard_exact"))
      .orderBy(col("src_a"), col("src_b"))
  }

  /** Exact token-frequency inner product per unordered source pair
    * (q182) — the ground truth the q163 CMS cell product estimates,
    * priced as its own query line (q163 defaults rider-off). One
    * tokenize pass collapses to per-(source, token) counts with a
    * map-side combine; the pair expansion then joins count frames on
    * the token — vocabulary-sized inputs, at most m²/2 output rows
    * per token. Products widen to DECIMAL(38,0) before summing (two
    * billion-count tokens would wrap a BIGINT product). Zero pairs
    * are kept so the output is total over pairs.
    */
  def q182ExactTokenInner(s: SparkSession, d: String): DataFrame =
    exactTokenInnerOf(Tables.documents(s, d))

  /** [[q182ExactTokenInner]] over any `(source, text)` frame. */
  private[operators] def exactTokenInnerOf(docs: DataFrame): DataFrame = Scope.pinned { sc =>
    val cnt = sc.persist(docs
      .select(col("source"),
        explode(filter(split(coalesce(col("text"), lit("")), " "),
          t => t =!= "")).as("tok"))
      .groupBy(col("source"), col("tok")).agg(count(lit(1)).as("n")))
    val srcs = cnt.select(col("source")).distinct()
    val pairs = srcs.as("a").crossJoin(srcs.as("b"))
      .filter(col("a.source") < col("b.source"))
      .select(col("a.source").as("src_a"), col("b.source").as("src_b"))
    val exact = cnt.as("a").join(cnt.as("b"),
        col("a.tok") === col("b.tok") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
      .agg(sum(col("a.n").cast("decimal(38,0)") * col("b.n")).cast("long")
        .as("ip_exact"))
    pairs.join(exact, Seq("src_a", "src_b"), "left")
      .select(col("src_a"), col("src_b"),
        coalesce(col("ip_exact"), lit(0L)).as("ip_exact"))
      .orderBy(col("src_a"), col("src_b"))
  }

  // ===== Quantile sketch (bottom-k value sample) =====
  //
  // The FOURTH replayable sketch, completing the quartet: KMV answers
  // "how many distinct", CMS "how often", the histogram "how shaped
  // over a KNOWN range" — none can answer "what is p99 of an
  // unbounded-domain value column". A bottom-k-by-hash sample carrying
  // the value (Cohen & Kaplan '07 bottom-k sampling) does: the k rows
  // with the smallest uniform fingerprints are a uniform
  // without-replacement sample, order statistics of the sample
  // estimate order statistics of the group, and the state is
  // mergeable (bottom-k of the union = bottom-k of merged bottom-ks),
  // so it composes with windows and rollups like the other three.
  // All arithmetic is integer (md5-derived hashes, 1e6 fixed-point
  // values, percentile-disc rank read-out), so engine and DuckDB
  // hash-match bit-for-bit.

  /** Sample size: quantile rank stderr ~ sqrt(q(1-q)/k) — ±3.1% rank
    * error at the median, ±0.6% at p99.
    */
  val SampleK: Int = 256

  /** Per-`event_type` value quantiles (p50/p90/p99) from a bottom-k
    * sample (q195). ONE aggregation pass: the sketch state (2k longs
    * per group) and the exact row count share the same map-side
    * partial, so the corpus is touched once and never sorted — the
    * exact alternative is a per-group full sort (percentile_disc),
    * which at 100 TB is a corpus-wide sort per query. Read-out is
    * O(groups·k) on sketch rows.
    */
  def q195QuantileSketch(s: SparkSession, d: String): DataFrame =
    quantileSketchOf(Tables.events(s, d))

  /** [[q195QuantileSketch]] over any `(event_type, event_id, value)`
    * frame.
    */
  private[operators] def quantileSketchOf(events: DataFrame): DataFrame = {
    val s = events.sparkSession
    import s.implicits._
    val fx = events
      .filter(col("value").isNotNull)
      .select(col("event_type"),
        hllKey(col("event_id").cast("string")).as("h"),
        round(col("value") * lit(1e6)).cast("long").as("v"))
    val sk = fx.groupBy(col("event_type"))
      .agg(
        graft.functions.SamplePairsAgg.sketch(col("h"), col("v"), SampleK)
          .as("pairs"),
        count(lit(1)).as("n_events"))
    sk.as[(String, Seq[Long], Long)]
      .map { case (et, pairs, nEvents) =>
        val vals = Array.tabulate(pairs.size / 2)(i => pairs(2 * i + 1))
        java.util.Arrays.sort(vals)
        val n = vals.length // a group exists only if it has rows
        def pick(qnum: Int): Long =
          vals(graft.functions.SamplePairsAgg.rankOf(n, qnum) - 1)
        (et, nEvents, n.toLong, pick(50), pick(90), pick(99))
      }
      .toDF("event_type", "n_events", "n_sample", "p50_fx", "p90_fx", "p99_fx")
      .orderBy(col("event_type"))
  }

  /** q199: quantile-sketch ROLLUP — per-source AND corpus-total
    * document-length quantiles from ONE sketch build, the q190
    * (HLL-rollup) program applied to the pair sample: bottom-k of a
    * union of bottom-ks IS the union's bottom-k, and the min-value
    * collision rule is associative, so re-aggregating the per-source
    * sketch MEMBERS (|sources|·k pair rows, never the corpus) at the
    * total grain reproduces the corpus sketch exactly — the
    * OLAP-cube form of the quantile sketch, sketch-sized work per
    * level where the exact answer is a corpus-wide sort per grain.
    * Values are `n_chars` (already integer), so the whole rollup
    * hash-matches its DuckDB replay.
    */
  def q199QuantileRollup(s: SparkSession, d: String): DataFrame =
    quantileRollupOf(Tables.documents(s, d))

  /** [[q199QuantileRollup]] over any `(source, doc_id, n_chars)` frame. */
  private[graft] def quantileRollupOf(docs: DataFrame): DataFrame = Scope.pinned { sc =>
    val s = docs.sparkSession
    import s.implicits._
    val base = docs.select(col("source"),
      hllKey(col("doc_id").cast("string")).as("h"),
      col("n_chars").as("v"))
    val perSrc = sc.persist(base.groupBy(col("source"))
      .agg(
        graft.functions.SamplePairsAgg.sketch(col("h"), col("v"), SampleK)
          .as("pairs"),
        count(lit(1)).as("n_docs")))
    perSrc.count()
    // sketch members back to (source, h, v) rows — sources·k of them
    val members = perSrc.select(col("source"),
        explode(expr("transform(sequence(0, int(size(pairs) / 2) - 1), " +
          "i -> struct(pairs[2 * i] AS h, pairs[2 * i + 1] AS v))")).as("p"))
      .select(col("source"), col("p.h").as("h"), col("p.v").as("v"))
    // one GROUPING SETS pass re-merges the sample at both grains
    val leveled = members
      .groupingSets(Seq(Seq(col("source")), Seq()), col("source"))
      .agg(
        graft.functions.SamplePairsAgg.sketch(col("h"), col("v"), SampleK)
          .as("pairs"),
        grouping(col("source")).as("lvl"))
      .select(col("lvl").cast("long").as("lvl"),
        coalesce(col("source"), lit("<all>")).as("source"), col("pairs"))
    val ns = perSrc.select(col("source"), col("n_docs"))
      .unionByName(perSrc
        .agg(sum(col("n_docs")).as("n_docs"))
        .select(lit("<all>").as("source"), col("n_docs")))
    leveled.join(broadcast(ns), "source")
      .select(col("lvl"), col("source"), col("pairs"), col("n_docs"))
      .as[(Long, String, Seq[Long], Long)]
      .map { case (lvl, src, pairs, nDocs) =>
        val vals = Array.tabulate(pairs.size / 2)(i => pairs(2 * i + 1))
        java.util.Arrays.sort(vals)
        val n = vals.length
        def pick(qnum: Int): Long =
          vals(graft.functions.SamplePairsAgg.rankOf(n, qnum) - 1)
        (lvl, src, nDocs, n.toLong, pick(50), pick(90), pick(99))
      }
      .toDF("lvl", "source", "n_docs", "n_sample",
        "p50_chars", "p90_chars", "p99_chars")
      .orderBy(col("lvl"), col("source"))
  }

  /** q202: CMS ROLLUP — per-source AND corpus-total frequency
    * estimates for a probe slate from ONE grid build, completing the
    * rollup trio (HLL q190 = register MAX, quantile q199 = bottom-k
    * re-merge, CMS = cell-wise SUM): the sketch is a linear map of the
    * frequency vector (Cormode & Muthukrishnan '05), so summing
    * per-source grids at any GROUPING SETS grain IS the union's grid.
    * Work per level is |sources|·depth·width cells, never the corpus;
    * absent cells read as 0 through the left join, the true CMS point
    * query (a grain that never saw the token estimates 0 exactly).
    */
  def q202CmsRollup(s: SparkSession, d: String): DataFrame =
    cmsRollupOf(s, Tables.documents(s, d))

  /** [[q202CmsRollup]] over any `(source, text)` frame.
    *
    * ONE corpus pass: the token stream collapses to `(source, tok, n)`
    * counts — vocabulary-sized, eagerly materialized — and EVERYTHING
    * downstream (the grid cells, the probe slate, the exact counts)
    * derives from that frame, so the documents table is tokenized
    * exactly once. The r15 form persisted the raw exploded token
    * stream lazily and let AQE race the probes' broadcast stage
    * against the cells stage — both missed the unpopulated cache and
    * tokenized the corpus independently (sf10 canary: 4.0x per
    * decade). Pre-aggregated counts also shrink the depth-way seed
    * join from corpus-sized to vocab-sized: the CMS is a linear map,
    * so summing `n` per (source, j, bkt) IS the row-count grid the
    * native aggregate builds (cell identity spec-pinned, hash
    * unchanged).
    */
  private[graft] def cmsRollupOf(s: SparkSession, docs: DataFrame): DataFrame = Scope.pinned { sc =>
    val tokCounts = sc.persist(docs
      .select(col("source"),
        explode(filter(split(coalesce(col("text"), lit("")), " "),
          t => t =!= "")).as("tok"))
      .groupBy(col("source"), col("tok"))
      .agg(count(lit(1)).as("n")))
    tokCounts.count() // eager: the ONE corpus-linear pass
    val seeds = cmsSeedsDf(s) // the ONE seed-frame builder (q167 shares it)
    val cells = tokCounts
      .select(col("source"), cmsKey(col("tok")).as("x"), col("n"))
      .crossJoin(broadcast(seeds))
      .groupBy(col("source"), col("j"),
        cmsBucketFromKey(col("x"), col("a"), col("b"), col("c")).as("bkt"))
      .agg(sum(col("n")).as("c"))
    // one GROUPING SETS pass re-sums the cells at both grains
    val leveled = sc.persist(cells
      .groupingSets(
        Seq(Seq(col("source"), col("j"), col("bkt")), Seq(col("j"), col("bkt"))),
        col("source"), col("j"), col("bkt"))
      .agg(sum(col("c")).as("c"), grouping(col("source")).as("lvl"))
      .select(col("lvl").cast("long").as("lvl"),
        coalesce(col("source"), lit("<all>")).as("source"),
        col("j"), col("bkt"), col("c")))
    // probe slate: global exact top-5 tokens (the q158 convention) —
    // a vocab-sized re-aggregation of the cached counts, not a pass
    val probes = tokCounts.groupBy(col("tok")).agg(sum(col("n")).as("n"))
      .orderBy(col("n").desc, col("tok")).limit(5).select(col("tok"))
    val probeCells = probes.crossJoin(broadcast(seeds))
      .select(col("tok"), col("j"),
        cmsBucket(col("tok"), col("a"), col("b"), col("c")).as("bkt"))
    val grains = leveled.select(col("lvl"), col("source")).distinct()
    val est = grains.crossJoin(broadcast(probeCells))
      .join(leveled, Seq("lvl", "source", "j", "bkt"), "left")
      .groupBy(col("lvl"), col("source"), col("tok"))
      .agg(min(coalesce(col("c"), lit(0L))).as("est_cnt"))
    val exacts = tokCounts.join(broadcast(probes), "tok")
      .groupingSets(Seq(Seq(col("source"), col("tok")), Seq(col("tok"))),
        col("source"), col("tok"))
      .agg(sum(col("n")).as("exact_cnt"), grouping(col("source")).as("xlvl"))
      .select(col("xlvl").cast("long").as("lvl"),
        coalesce(col("source"), lit("<all>")).as("source"),
        col("tok"), col("exact_cnt"))
    est.join(exacts, Seq("lvl", "source", "tok"), "left")
      .select(col("lvl"), col("source"), col("tok"),
        coalesce(col("exact_cnt"), lit(0L)).as("exact_cnt"),
        col("est_cnt"),
        (col("est_cnt") - coalesce(col("exact_cnt"), lit(0L))).as("over_err"))
      .orderBy(col("lvl"), col("source"), col("tok"))
  }

  /** q200: incremental statistics through STORAGE — the sketch-table
    * pattern every 100 TB pipeline ends at: yesterday's corpus is
    * never rescanned; its per-group sketch states live in a parquet
    * table, and today's delta is sketched alone and MERGED in. The
    * query splits events into a "history" half (even epoch-day) and a
    * "delta" half (odd), writes the history sketches to parquet, reads
    * them back, and re-aggregates the stored members with the delta's
    * — the KMV union law makes the result provably identical to
    * sketching the whole corpus in one pass, which is exactly what the
    * DuckDB oracle replays (so the storage round-trip is
    * hash-falsified, not trusted). State per group is k longs on disk
    * and in flight; the store is swept after the result materializes.
    */
  def q200IncrementalSketch(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, d)
      .select(col("event_type"),
        expr("(ts div 1000) div 86400000000").as("day"),
        hllKey(col("user_id").cast("string")).as("x"))
    def halfSketch(parity: Int): DataFrame = ev
      .filter(pmod(col("day"), lit(2L)) === parity)
      .groupBy(col("event_type"))
      .agg(graft.functions.KmvSketchAgg.sketch(col("x"), KmvK).as("sk"))
    Scope { sc =>
      val store = sc.tempDir("graft_sketch_store")
      halfSketch(0).write.mode("overwrite")
        .parquet(new java.io.File(store, "history").toString)
      val history = s.read
        .parquet(new java.io.File(store, "history").toString)
      val members = history.unionByName(halfSketch(1))
        .select(col("event_type"), explode(col("sk")).as("x"))
      val merged = members.groupBy(col("event_type"))
        .agg(graft.functions.KmvSketchAgg.sketch(col("x"), KmvK).as("sk"))
      val exact = ev.groupBy(col("event_type"))
        .agg(countDistinct(col("x")).as("n_distinct_exact"))
      val out = kmvReadout(merged.withColumnRenamed("event_type", "source"))
        .withColumnRenamed("source", "event_type")
        .join(exact, "event_type")
        .select(col("event_type"), col("n_distinct_exact"), col("n_kmv"),
          col("kth_min"), col("est_distinct"))
        .orderBy(col("event_type"))
      // O(event_types) rows: collect-and-recreate severs the lineage
      // from the store entirely — a merely-CACHED frame would recompute
      // through the deleted parquet path if its blocks were later
      // evicted (clearCache per the repo's LRU contract, executor loss)
      val rows = out.collect()
      s.createDataFrame(java.util.Arrays.asList(rows: _*), out.schema)
    }
  }

  /** Quantile read-out for LONG-keyed sketch frames
    * `(k: Long, pairs, n_events)` — the windowed (q197) variant;
    * callers rename `k` to their group column. Same integer
    * percentile-disc arithmetic as [[quantileSketchOf]].
    */
  private[graft] def quantileReadoutLong(sketches: DataFrame): DataFrame = {
    val s = sketches.sparkSession
    import s.implicits._
    sketches.as[(Long, Seq[Long], Long)]
      .map { case (g, pairs, nEvents) =>
        val vals = Array.tabulate(pairs.size / 2)(i => pairs(2 * i + 1))
        java.util.Arrays.sort(vals)
        val n = vals.length
        def pick(qnum: Int): Long =
          vals(graft.functions.SamplePairsAgg.rankOf(n, qnum) - 1)
        (g, nEvents, n.toLong, pick(50), pick(90), pick(99))
      }
      .toDF("k", "n_events", "n_sample", "p50_fx", "p90_fx", "p99_fx")
  }
}
