package graft.operators

import graft.{Scope, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Fuzzy record linkage: exact edit-distance join via pigeonhole
  * segment blocking (the PassJoin family — Li, Deng, Wang, Feng,
  * "PASS-JOIN: a partition-based method for similarity joins",
  * VLDB 2011).
  *
  * The reference's answer to fuzzy matching would be a user mapper
  * emitting blocking keys plus a reducer doing the pairwise check
  * (tinymr.py:39-91 gives only the raw map/reduce hooks); here the
  * blocking scheme itself is the operator, and the verify step is
  * Spark's codegen `levenshtein`.
  *
  * Scale shape: each master string of length L is cut into tau+1
  * contiguous segments; by pigeonhole, <= tau edits leave at least one
  * segment untouched, and that segment appears VERBATIM in the probe
  * string at a position shifted by at most tau (the net indel count
  * before it). So the probe side emits, for every candidate master
  * length in [len-tau, len+tau], every segment slot, and every shift in
  * [-tau, tau], the substring that an untouched segment would occupy —
  * a constant (2tau+1)^2*(tau+1)-bounded fan-out per probe — and the
  * candidate set is an EQUI-join on (length, slot, segment) instead of
  * a cross join. The master table is never shuffled when the probe
  * batch is broadcast (the common record-linkage shape: small dirty
  * batch vs huge clean master); candidates are bounded by block
  * collisions, then verified exactly. Templated corpora whose strings
  * share long constant prefixes (this test corpus included) make the
  * early blocks hot — candidates degrade toward probes x same-template
  * masters, never beyond the brute-force pair count, and the verify
  * stays a codegen filter on the joined rows.
  */
object Linkage {

  /** Segment (start, length) bounds: the i-th of `parts` even cuts of a
    * string of length `len` (floor arithmetic, same formula both
    * sides).
    */
  private def segBounds(len: Int, parts: Int): IndexedSeq[(Int, Int)] =
    (0 until parts).map { i =>
      val a = i * len / parts
      (a, (i + 1) * len / parts - a)
    }

  /** All (probe, master) pairs with levenshtein distance <= tau.
    *
    * @param probes `(pid: Long, pname: String)` — the small/dirty side;
    *               broadcast when `probeSideSmall` (master then streams
    *               map-side, zero master shuffle).
    * @param master `(mid: Long, mname: String)` — the large/clean side.
    *
    * Exactness holds for ALL string lengths: strings shorter than
    * tau+1 characters (where the pigeonhole argument would leave
    * zero-length segments) are blocked under a dedicated per-length
    * bucket and pairwise-verified — a bounded set, since both sides of
    * such a pair are under tau+1 chars.
    */
  def editDistanceJoin(
      probes: DataFrame, master: DataFrame, tau: Int,
      probeSideSmall: Boolean = true): DataFrame = {
    require(tau >= 1, s"tau must be >= 1, got $tau")
    val s = probes.sparkSession
    import s.implicits._
    val parts = tau + 1

    // The master side is the corpus-scale side: its segment fan-out is
    // pure codegen (explode over a literal struct array) instead of a
    // typed flatMap, so the scan→segment→join pipeline stays inside
    // whole-stage codegen with no encoder round-trip per master row.
    // Arithmetic matches [[segBounds]] exactly: `i*lm div parts` is
    // floor division on non-negative ints, substr is 1-based where
    // substring was 0-based. (Contract unchanged: names are non-null —
    // the typed form would have NPE'd on a null.)
    val segArr = (0 until parts).map { i =>
      val a = s"CAST(($i * lm) div $parts AS INT)"
      val b = s"CAST((${i + 1} * lm) div $parts AS INT)"
      s"named_struct('seg_i', $i, 'seg', substr(mname, $a + 1, $b - $a))"
    }.mkString("array(", ", ", ")")
    val mseg = master
      .select(col("mid"), col("mname"), length(col("mname")).as("lm"))
      .select(col("lm"), col("mid"), col("mname"),
        explode(expr(
          s"CASE WHEN lm < $parts THEN array(named_struct('seg_i', -1, 'seg', '')) " +
            s"ELSE $segArr END")).as("sx"))
      .select(col("lm"), col("sx.seg_i").as("seg_i"), col("sx.seg").as("seg"),
        col("mid"), col("mname"))

    val pseg = probes.select(col("pid"), col("pname")).as[(Long, String)]
      .flatMap { case (id, nm) =>
        val lp = nm.length
        // LinkedHashSet: dedup identical (length, slot, substring) keys
        // deterministically — shifts often collide on repetitive text
        val keys = scala.collection.mutable.LinkedHashSet.empty[(Int, Int, String)]
        for (lm <- math.max(0, lp - tau) to (lp + tau)) {
          if (lm < parts) keys += ((lm, -1, ""))
          else for {
            ((a, len), i) <- segBounds(lm, parts).zipWithIndex
            shift <- -tau to tau
            pos = a + shift
            if pos >= 0 && pos + len <= lp
          } keys += ((lm, i, nm.substring(pos, pos + len)))
        }
        keys.toSeq.map { case (lm, i, sub) => (lm, i, sub, id, nm) }
      }.toDF("lm", "seg_i", "seg", "pid", "pname")

    val p = if (probeSideSmall) broadcast(pseg) else pseg
    mseg.join(p, Seq("lm", "seg_i", "seg"))
      .select(col("pid"), col("mid"), col("pname"), col("mname"))
      .distinct()
      // thresholded levenshtein (Spark 3.5+) runs the banded O(tau·n)
      // algorithm instead of the full O(n²) matrix and returns -1 past
      // the bound — for every SURVIVING pair (true distance <= tau) the
      // value is the exact distance, so results are unchanged while the
      // verify CPU drops by ~len/(2·tau+1); the >= 0 guard is what
      // keeps the -1 sentinel out (plain `<= tau` would admit it)
      .withColumn("dist", levenshtein(col("pname"), col("mname"), tau))
      .filter(col("dist") >= 0 && col("dist") <= tau)
  }

  /** Driver binding: link a deterministic "dirty batch" of customer
    * names (custkey < 25; one char deleted / substituted / verbatim by
    * custkey mod 3, edit position varying with custkey mod 9) back to
    * the clean customer master at tau=2. The oracle is the brute-force
    * cross join + levenshtein — the blocked join must reproduce it
    * bit-for-bit (same planted-perturbation SQL on the DuckDB side).
    */
  def q84FuzzyJoin(s: SparkSession, d: String): DataFrame = {
    val cust = Tables.customer(s, d)
    val probes = cust.filter(col("c_custkey") < 25)
      .select(col("c_custkey").as("pid"),
        expr("""CASE CAST(c_custkey % 3 AS INT)
          WHEN 0 THEN concat(substring(c_name, 1, cast(9 + c_custkey % 9 as int)),
                             substring(c_name, cast(11 + c_custkey % 9 as int), 1000))
          WHEN 1 THEN concat(substring(c_name, 1, cast(9 + c_custkey % 9 as int)), 'x',
                             substring(c_name, cast(11 + c_custkey % 9 as int), 1000))
          ELSE c_name END""").as("pname"))
    val master = cust.select(col("c_custkey").as("mid"), col("c_name").as("mname"))
    editDistanceJoin(probes, master, tau = 2)
      .select(col("pid").as("probe_id"), col("mid").as("match_custkey"),
        col("dist").cast("bigint").as("dist"))
      .orderBy(col("probe_id"), col("match_custkey"))
  }

  /** End-to-end entity resolution: fuzzy-link a dirty record batch to a
    * clean master, then collapse the match graph into entities — the
    * full dedup-and-canonicalize pipeline a record-linkage user runs,
    * not just the pairwise join. The reference would express this as
    * two chained map/reduce tasks (blocking-key mapper + pairwise
    * reducer, then a label-propagation loop the user writes by hand);
    * here both halves are the operators this engine already proves
    * exact: [[editDistanceJoin]] (PassJoin blocking) produces the
    * bipartite probe-master edge set, and
    * [[Corpus.connectedComponents]] (min-label + pointer doubling,
    * O(log diameter) rounds) collapses it transitively — a probe
    * within `tau` of two master records MERGES them into one entity,
    * which is exactly the transitive semantics a pairwise join alone
    * cannot express.
    *
    * Probes that match nothing surface as singleton entities
    * (unresolved records a downstream triage step consumes); master
    * records appear only when some probe links them (the master is
    * assumed internally deduplicated — standard record-linkage
    * framing, Fellegi & Sunter '69).
    *
    * Scale shape: the edge set is the PassJoin output (master never
    * shuffles when the probe batch broadcasts), persisted ONCE because
    * both the node set and the symmetric closure consume it; the CC
    * loop then shuffles only the node-sized label frame per round.
    * Entity ids are the smallest member record id — deterministic, no
    * driver-side assignment.
    *
    * @param probes `(pid: Long, pname: String)` dirty batch.
    * @param master `(mid: Long, mname: String)` clean master.
    * @param probeIdOffset added to probe ids to disjoint them from
    *        master ids in the shared node namespace; caller derives it
    *        from the data (e.g. max master id + 1), never a fixed
    *        constant that a grown fixture could collide with.
    * @return `(record_id, kind 'probe'|'master', entity_id,
    *         entity_size)` — one row per probe plus one per linked
    *         master.
    */
  def resolveEntities(
      probes: DataFrame, master: DataFrame, tau: Int,
      probeIdOffset: Long): DataFrame = Scope { sc =>
    // consumed by nodes AND the symmetric closure; the components come
    // back materialized, so the scope frees it on return
    val matches = sc.persist(editDistanceJoin(probes, master, tau)
      .select((col("pid") + lit(probeIdOffset)).as("src"),
        col("mid").as("dst")))
    val edges = matches.union(
      matches.select(col("dst").as("src"), col("src").as("dst")))
    val nodes = probes
      .select((col("pid") + lit(probeIdOffset)).as("p"))
      .union(matches.select(col("dst").as("p")))
      .distinct()
    val labels = Corpus.connectedComponents(nodes, edges)
    val sizes = labels.groupBy(col("lbl"))
      .agg(count(lit(1)).as("entity_size"))
    labels.join(sizes, "lbl")
      .select(col("p").as("record_id"),
        when(col("p") >= probeIdOffset, lit("probe"))
          .otherwise(lit("master")).as("kind"),
        col("lbl").as("entity_id"), col("entity_size"))
  }

  /** Driver binding: resolve q84's perturbed customer batch against the
    * clean master at tau=2, extended with five planted junk probes
    * (names no customer is within distance 2 of) so the unresolved-
    * singleton path is exercised. The probe-id offset is measured from
    * the master (max custkey + 1), not a constant. Oracle: brute-force
    * cross-join levenshtein edges + recursive-CTE reachability — the
    * blocked join + pointer-doubling plan must reproduce its entity
    * partition bit-for-bit.
    */
  def q123EntityResolution(s: SparkSession, d: String): DataFrame = {
    val cust = Tables.customer(s, d)
    val off = cust.agg(max(col("c_custkey"))).head().getLong(0) + 1L
    val perturbed = cust.filter(col("c_custkey") < 25)
      .select(col("c_custkey").as("pid"),
        expr("""CASE CAST(c_custkey % 3 AS INT)
          WHEN 0 THEN concat(substring(c_name, 1, cast(9 + c_custkey % 9 as int)),
                             substring(c_name, cast(11 + c_custkey % 9 as int), 1000))
          WHEN 1 THEN concat(substring(c_name, 1, cast(9 + c_custkey % 9 as int)), 'x',
                             substring(c_name, cast(11 + c_custkey % 9 as int), 1000))
          ELSE c_name END""").as("pname"))
    val junk = cust
      .filter(col("c_custkey") >= 25 && col("c_custkey") < 30)
      .select(col("c_custkey").as("pid"),
        concat(lit("zzz-unmatched-"), col("c_custkey")).as("pname"))
    val master = cust.select(col("c_custkey").as("mid"), col("c_name").as("mname"))
    resolveEntities(perturbed.union(junk), master, tau = 2, probeIdOffset = off)
      .orderBy(col("entity_id"), col("record_id"))
  }

  /** Survivorship merge (golden-record construction): collapse the
    * per-key version stack a changelog or multi-source feed leaves
    * behind into ONE record, field by field, under the recency-wins
    * rule — for each field independently, the value from the HIGHEST
    * version where that field is non-null survives (a newer record
    * that leaves a field null does NOT erase the older value). This is
    * the master-data-management step that follows entity resolution
    * ([[resolveEntities]] decides which records are the same thing;
    * this decides what the merged thing says), and differs from
    * [[Relational.applyChangelog]]'s whole-row last-writer-wins:
    * survivorship is PER-FIELD, so the golden record can interleave
    * fields from several versions. The reference would push this into
    * a user-written reducer over the key's sorted records
    * (tinymr.py:92-114); here each field is one null-skipping
    * `max(struct(version, value))` aggregate, so the whole merge is a
    * SINGLE aggregate with map-side partials — one shuffle of partial
    * maxima, no window, at any scale. (Catalyst plans struct max as
    * SortAggregate — struct isn't a mutable-buffer hash-agg type — so
    * partitions sort by key locally; the exchange still carries only
    * one partial row per (partition, key).)
    *
    * Determinism: rows where the field is null map the WHOLE struct to
    * null, which `max` skips; ties on version (contract: at most one
    * row per (key, version), but the operator stays deterministic
    * anyway) break by the field value itself. Each output field is
    * paired with `<field>_v` — the version it came from (null when no
    * version ever carried the field), the per-field lineage an MDM
    * audit requires.
    *
    * @param records one row per (key, version) with the field columns
    *                (any orderable types).
    * @return one row per key: `key, f1, f1_v, f2, f2_v, ...`.
    */
  def survivorshipMerge(
      records: DataFrame, key: String, version: String,
      fields: Seq[String]): DataFrame = {
    require(fields.nonEmpty, "survivorshipMerge: no fields to merge")
    val aggs = fields.map { f =>
      max(when(col(f).isNotNull,
        struct(col(version).as("p"), col(f).as("v")))).as(s"_m_$f")
    }
    val merged = records.groupBy(col(key)).agg(aggs.head, aggs.tail: _*)
    fields.foldLeft(merged) { (df, f) =>
      df.withColumn(f, col(s"_m_$f.v"))
        .withColumn(s"${f}_v", col(s"_m_$f.p"))
        .drop(s"_m_$f")
    }
  }

  /** Driver binding (q129): a three-version customer stack with
    * deterministic per-field nulls (version 2 renames every 4th
    * customer and bumps balances except every 3rd; version 3 bumps
    * balances except every 2nd and re-segments every 5th; a `note`
    * field exists only on version 2 of every 7th customer, so the
    * all-versions-null path is exercised on real data). Oracle: the
    * identical stack in SQL with DuckDB's own null-skipping
    * `max(ROW(version, field))` — engine-exact because every surviving
    * value is a picked (never recomputed) cell and DECIMAL arithmetic
    * produces the candidates on both sides.
    */
  def q129Survivorship(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d)
      .withColumn("bal", col("c_acctbal").cast("decimal(18,2)"))
    def ver(v: Int, name: Column, bal: Column, seg: Column, note: Column) =
      c.select(col("c_custkey"), lit(v.toLong).as("version"), name.as("name"),
        bal.as("acctbal"), seg.as("seg"), note.as("note"))
    val nullS = lit(null).cast("string")
    val stack = ver(1, col("c_name"), col("bal"), col("c_mktsegment"), nullS)
      .unionByName(ver(2,
        when(col("c_custkey") % 4 === 0, upper(col("c_name"))),
        when(col("c_custkey") % 3 =!= 0, col("bal") + lit(5)),
        nullS,
        when(col("c_custkey") % 7 === 0, lit("vip"))))
      .unionByName(ver(3,
        nullS,
        when(col("c_custkey") % 2 =!= 0, col("bal") + lit(10)),
        when(col("c_custkey") % 5 === 0, lit("UPDATED")),
        nullS))
    survivorshipMerge(stack, "c_custkey", "version",
      Seq("name", "acctbal", "seg", "note"))
      .select(col("c_custkey"), col("name"), col("name_v"),
        col("acctbal").cast("double").as("acctbal"), col("acctbal_v"),
        col("seg"), col("seg_v"), col("note"), col("note_v"))
      .orderBy(col("c_custkey"))
  }
}
