package graft.operators

import graft.Tables
import graft.mr.SparkSpec
import org.apache.spark.sql.functions._

/** Corpus-curation operators: repetition quality filter, term scoring,
  * connected-components clustering, sketched heavy hitters. The
  * SQL-expressible ones (q51/q52/q53/q54) are hash-checked against
  * DuckDB by the driver; these specs pin the properties the oracle
  * can't see — component correctness on a known graph, convergence
  * round bounds, sketch error bounds, bloom-prune equivalence.
  */
class CorpusSpec extends SparkSpec {

  private val d = "/root/testdata/sf0.001"

  test("q51 flags exactly the rows violating a repetition threshold") {
    val rows = Corpus.q51QualityRepetition(spark, d).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val distinctRatio = r.getAs[Double]("distinct_ratio")
      val topRatio = r.getAs[Double]("top_ratio")
      assert(distinctRatio < Corpus.MinDistinctRatio
        || topRatio > Corpus.MaxTopTokenRatio, r)
      // ratios are consistent with the integer stats they derive from
      assert(distinctRatio ==
        r.getAs[Long]("n_distinct").toDouble / r.getAs[Long]("n_tok").toDouble)
    }
  }

  test("q106 top-n-gram fractions match hand-computed overlapping counts") {
    import spark.implicits._
    val dir = graft.Scope.lru.tempDir("q106fix").toString
    Seq(
      // "a b a b a b": 2-grams (overlapping) -> "a b" x3 => 3*2/6 = 1.0;
      // 3-grams -> "a b a" x2 => 2*3/6 = 1.0; 4-grams -> "a b a b" x2
      // => 2*4/6 ~ 1.333
      (1L, "a b a b a b", "en", "s", 11L),
      // all-distinct tokens: top fracs n/30 each, under every threshold
      // (an all-distinct doc still has top-n frac n/len, so it needs
      // len > 4/0.16 = 25 tokens to be clean)
      (2L, (1 to 30).map("t" + _).mkString(" "), "en", "s", 23L),
      // shorter than 4 tokens: top4 = 0, top2 = 2/3 flags it
      (3L, "x x x", "en", "s", 5L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = Corpus.q106GramRepetition(spark, dir)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_tok"), r.getAs[Double]("top2_frac"),
          r.getAs[Double]("top3_frac"), r.getAs[Double]("top4_frac")))).toMap
    assert(got.keySet == Set(1L, 3L)) // doc 2 is clean
    assert(got(1L) == ((6L, 1.0, 1.0, 8.0 / 6.0)))
    assert(got(3L) == ((3L, 4.0 / 3.0, 3.0 / 3.0, 0.0)))
  }

  test("q106 randomized differential vs a driver-side n-gram counter") {
    import spark.implicits._
    val rng = new scala.util.Random(53)
    val vocab = Vector("x", "y", "z", "w")
    val rows = (1 to 40).map { i =>
      val len = 1 + rng.nextInt(30)
      (i.toLong, (1 to len).map(_ => vocab(rng.nextInt(vocab.size))).mkString(" "))
    }
    val dir = graft.Scope.lru.tempDir("q106rand").toString
    rows.map { case (id, t) => (id, t, "en", "s", 1L) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    def topFrac(toks: Array[String], n: Int): Double =
      if (toks.length < n) 0.0
      else {
        val m = toks.sliding(n).map(_.mkString(" ")).toSeq
          .groupBy(identity).values.map(_.size).max
        (m.toLong * n).toDouble / toks.length.toDouble
      }
    val expect = rows.flatMap { case (id, t) =>
      val toks = t.split(" ").filter(_.nonEmpty)
      val (f2, f3, f4) = (topFrac(toks, 2), topFrac(toks, 3), topFrac(toks, 4))
      if (f2 > Corpus.MaxTopGramFrac(2) || f3 > Corpus.MaxTopGramFrac(3)
        || f4 > Corpus.MaxTopGramFrac(4))
        Some(id -> ((toks.length.toLong, f2, f3, f4)))
      else None
    }.toMap
    val got = Corpus.q106GramRepetition(spark, dir)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_tok"), r.getAs[Double]("top2_frac"),
          r.getAs[Double]("top3_frac"), r.getAs[Double]("top4_frac")))).toMap
    assert(got == expect)
  }

  test("q110 chi-squared: identical sources score ~0, a skewed one dominates") {
    import spark.implicits._
    val dir = graft.Scope.lru.tempDir("q110fix").toString
    val balanced = "alpha beta gamma delta " * 25 // identical distribution
    val skewed = "alpha " * 100                   // all mass on one token
    ((1 to 5).map(i => (i.toLong, balanced.trim, "en", s"bal$i", 1L)) :+
      ((99L, skewed.trim, "en", "skew", 1L)))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = Corpus.q110SourceDrift(spark, dir)
      .collect().map(r => r.getAs[String]("source") -> r.getAs[Double]("chi2")).toMap
    val bal = (1 to 5).map(i => got(s"bal$i"))
    val skew = got("skew")
    // identical sources deviate from the global mix only because the
    // skewed source shifts it; the skewed source itself must dominate
    assert(bal.forall(_ < skew), s"balanced $bal vs skew $skew")
    assert(skew > 10 * bal.max)
  }

  test("q110: a source with zero vocab-token mass scores chi2 = 0, not NaN/NULL") {
    import spark.implicits._
    val dir = graft.Scope.lru.tempDir("q110empty").toString
    // 60 distinct heavy tokens crowd the top-50 vocab; the "ghost"
    // source's tokens all rank below it, so its n_s = 0 and every
    // expected count e = 0 — the 0/0 case the guard must pin to 0
    val heavy = (1 to 60).map(i => f"tok$i%02d " * (60 - i + 2)).mkString.trim
    val rows = (1 to 3).map(i => (i.toLong, heavy, "en", "bulk", 1L)) :+
      ((99L, "zzz yyy xxx", "en", "ghost", 1L))
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = Corpus.q110SourceDrift(spark, dir)
      .collect().map(r => r.getAs[String]("source") ->
        Option(r.getAs[java.lang.Double]("chi2"))).toMap
    assert(got("ghost").contains(0.0), s"ghost chi2 = ${got("ghost")}")
    assert(got("bulk").exists(v => !v.isNaN))
  }

  test("q52 emits exactly 3 ranked terms per source, scores non-increasing") {
    val rows = Corpus.q52TermScores(spark, d).collect()
    val bySource = rows.groupBy(_.getAs[String]("source"))
    assert(bySource.nonEmpty)
    bySource.foreach { case (_, rs) =>
      assert(rs.length == 3)
      assert(rs.map(_.getAs[Long]("rnk")).toSeq == Seq(1L, 2L, 3L))
      val scores = rs.sortBy(_.getAs[Long]("rnk")).map(_.getAs[Double]("score"))
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
    }
  }

  test("connectedComponents labels a chain, a triangle and a singleton correctly") {
    import spark.implicits._
    // chain 1-2-3-4-5, triangle 10-11-12, singleton 20
    val undirected = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
      (10L, 11L), (11L, 12L), (10L, 12L))
    val edges = (undirected ++ undirected.map(_.swap)).toDF("src", "dst")
    val nodes = (Seq(20L) ++ undirected.flatMap(e => Seq(e._1, e._2)))
      .distinct.toDF("p")
    val got = Corpus.connectedComponents(nodes, edges)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L))
  }

  test("connectedComponents law: matches a union-find oracle on random graphs") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    import spark.implicits._

    def unionFind(nodes: Seq[Long], edges: Seq[(Long, Long)]): Map[Long, Long] = {
      val parent = collection.mutable.Map(nodes.map(n => n -> n): _*)
      def find(x: Long): Long =
        if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      nodes.map(n => n -> find(n)).toMap
    }

    val graphGen = for {
      n <- Gen.choose(2, 25)
      nEdges <- Gen.choose(0, 30)
      edges <- Gen.listOfN(nEdges, for {
        a <- Gen.choose(0L, n.toLong - 1)
        b <- Gen.choose(0L, n.toLong - 1)
        if a != b
      } yield (a, b))
    } yield (n.toLong, edges)

    for (seed <- 1 to 8) {
      val (n, rawEdges) = graphGen.pureApply(Gen.Parameters.default, Seed(seed.toLong))
      val nodes = 0L until n
      val sym = (rawEdges ++ rawEdges.map(_.swap)).distinct
      val got = Corpus.connectedComponents(
        nodes.toDF("p"), sym.toDF("src", "dst"))
        .as[(Long, Long)].collect().toMap
      val want = unionFind(nodes, rawEdges)
      assert(got == want, s"seed=$seed n=$n edges=$rawEdges")
    }
  }

  test("bloomFilterOf survives an empty build side (raw stat.bloomFilter NPEs)") {
    // no orders qualify -> the all-false filter, not a crash
    val empty = Tables.orders(spark, d).filter(col("o_totalprice") > 1e18)
    val bf = Relational.bloomFilterOf(empty, "o_orderkey", 0.01)
    assert(Seq(1L, 2L, 3L).forall(k => !bf.mightContainLong(k)))
  }

  test("connectedComponents converges on a long chain (diameter >> round cap)") {
    import spark.implicits._
    // an 80-node path has diameter 79: plain neighbor propagation under
    // the 20-round cap would return wrong labels — pointer doubling
    // must close it in O(log d) rounds
    val n = 80L
    val chain = (0L until n - 1).map(i => (i, i + 1))
    val edges = (chain ++ chain.map(_.swap)).toDF("src", "dst")
    val nodes = (0L until n).toDF("p")
    val got = Corpus.connectedComponents(nodes, edges)
      .as[(Long, Long)].collect().toMap
    assert(got.size == n && got.values.forall(_ == 0L), got)
  }

  test("connectedComponents releases superseded round checkpoints (no storage creep)") {
    import spark.implicits._
    val n = 60L
    val chain = (0L until n - 1).map(i => (i, i + 1))
    val edges = (chain ++ chain.map(_.swap)).toDF("src", "dst")
    val nodes = (0L until n).toDF("p")
    val before = sc.getPersistentRDDs.size
    Corpus.connectedComponents(nodes, edges).count()
    val after = sc.getPersistentRDDs.size
    // a multi-round run must leave only the FINAL labels checkpoint
    // behind (the edge persist and every superseded round's stepped/
    // labels checkpoints are released in the loop)
    assert(after - before <= 1, s"persistent RDDs grew $before -> $after")
  }

  test("connectedComponents handles an empty node set") {
    import spark.implicits._
    val edges = Seq.empty[(Long, Long)].toDF("src", "dst")
    val nodes = Seq.empty[Long].toDF("p")
    assert(Corpus.connectedComponents(nodes, edges).count() == 0L)
  }

  test("q53 cluster sizes partition the node set") {
    val rows = Corpus.q53CopurchaseClusters(spark, d).collect()
    assert(rows.nonEmpty)
    // every node carries its component's size; summing one size per
    // distinct cluster must give back the node count
    val byCluster = rows.groupBy(_.getAs[Long]("cluster_id"))
    assert(byCluster.map { case (_, rs) => rs.head.getAs[Long]("cluster_size") }.sum
      == rows.length.toLong)
    byCluster.foreach { case (cid, rs) =>
      assert(rs.length.toLong == rs.head.getAs[Long]("cluster_size"))
      // the representative label is the smallest member id
      assert(rs.map(_.getAs[Long]("l_partkey")).min == cid)
    }
  }

  test("q54 bloom-pruned join result equals the plain exact semi join") {
    val got = Relational.q54BloomJoin(spark, d).collect()
    val keys = Tables.orders(spark, d)
      .filter(col("o_totalprice") > 200000).select(col("o_orderkey"))
    val l = Tables.lineitem(spark, d)
    val expected = l.join(keys, l("l_orderkey") === keys("o_orderkey"), "left_semi")
      .groupBy(col("l_returnflag")).agg(count(lit(1)).as("n_items"))
      .orderBy(col("l_returnflag"))
      .collect()
    assert(got.map(r => (r.getString(0), r.getLong(1))).toSeq ==
      expected.map(r => (r.getString(0), r.getLong(1))).toSeq)
  }

  test("q54 plans the bloom probe as a codegen filter below the semi join") {
    val p = Relational.q54BloomJoin(spark, d)
      .queryExecution.executedPlan.toString()
    // the probe must be a Filter on the fact scan, planned BELOW the
    // semi join (prunes before the exchange)
    assert(p.contains("bloommightcontain"), p)
    val filterIdx = p.indexOf("Filter (bloommightcontain")
    val joinIdx = p.indexOf("Join")
    assert(filterIdx >= 0 && joinIdx >= 0 && filterIdx > joinIdx, p)
  }

  test("q55 estimates respect the one-sided count-min error bound and find the true top-10") {
    import spark.implicits._
    val est = Corpus.q55HeavyHitters(spark, d)
      .as[(String, Long)].collect().toMap
    val toks = Tables.documents(spark, d)
      .select(explode(filter(split(col("text"), " "), t => t =!= "")).as("tok"))
    val exact = toks.groupBy(col("tok")).agg(count(lit(1)).as("n"))
      .as[(String, Long)].collect().toMap
    val n = exact.values.sum
    est.foreach { case (tok, e) =>
      val ex = exact(tok)
      assert(e >= ex, s"count-min must never underestimate: $tok est=$e exact=$ex")
      assert(e <= ex + (Corpus.CmsEps * n).ceil.toLong,
        s"$tok est=$e exact=$ex over eps*N bound")
    }
    val exactTop = exact.toSeq.sortBy { case (t, c) => (-c, t) }.take(10).map(_._1).toSet
    assert(est.keySet == exactTop)
  }
}
