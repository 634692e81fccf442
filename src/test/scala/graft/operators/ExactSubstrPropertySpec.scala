package graft.operators

import graft.Scope
import graft.mr.SparkSpec

/** Randomized differential pin for q208: the distributed window census
  * must equal a brute-force single-JVM recomputation on arbitrary
  * corpora — not just the hand-built fixtures. Documents are generated
  * from a SMALL vocabulary at short lengths so duplicate 8-token
  * windows arise naturally (not only via plants), exercising the
  * corpus-wide >=2 rule, per-doc distinctness, per-source mass
  * accounting, and the top-offender tiebreak on adversarial inputs a
  * hand fixture would never include. Fixed seed for determinism.
  */
class ExactSubstrPropertySpec extends SparkSpec {
  import spark.implicits._

  private val L = Curation.ExactSubstrL
  private val vocab = Vector("a", "b", "c") // tiny -> natural collisions

  private def doc(rnd: scala.util.Random): String =
    Seq.fill(L + rnd.nextInt(2 * L))(vocab(rnd.nextInt(vocab.length)))
      .mkString(" ")

  /** Brute-force reference: same plant rule, same per-doc-distinct
    * windows, corpus-wide doc frequency, per-source rollup.
    */
  private def reference(rows: Seq[(String, Long, String)])
      : Map[String, (Long, Long, Long, Option[Long], Option[String])] = {
    val plant = " license plate sentence shared verbatim across documents for dedup canary"
    val winsByDoc = rows.map { case (src, id, text) =>
      val t = (if (text == null) "" else text) + (if (id % 17 == 0) plant else "")
      val toks = t.split(" ").filter(_.nonEmpty)
      (src, toks.sliding(L).filter(_.length == L).map(_.mkString(" ")).toSet)
    }
    val totalDocs = winsByDoc.flatMap { case (_, ws) => ws }
      .groupBy(identity).map { case (w, xs) => w -> xs.size.toLong }
    winsByDoc.groupBy(_._1).collect {
      case (src, docs) if docs.exists(_._2.nonEmpty) =>
        val df = docs.flatMap(_._2).groupBy(identity)
          .map { case (w, xs) => w -> xs.size.toLong }
        val dup = df.filter { case (w, _) => totalDocs(w) >= 2L }
        val top = if (dup.isEmpty) None
          else Some(dup.keys.maxBy(w => (totalDocs(w), w)))
        src -> ((df.size.toLong, dup.size.toLong, dup.values.sum,
          if (dup.isEmpty) None else Some(dup.keys.map(totalDocs).max),
          top))
    }
  }

  test("hashed-key (100 TB) mode == string-key (oracle) mode on random corpora") {
    val rnd = new scala.util.Random(41)
    for (trial <- 1 to 2) {
      val rows = (0 until 80).map { i =>
        (s"s${i % 5}", i.toLong, doc(rnd))
      }
      val df = rows.toDF("source", "doc_id", "text")
      val str = Curation.exactSubstrOf(df, hashKeys = false).collect().toSeq
      val hsh = Curation.exactSubstrOf(df, hashKeys = true).collect().toSeq
      assert(str == hsh, s"trial $trial: modes diverge")
    }
  }

  test("FORCED collisions: one narrowed 64-bit key corrupts the census; the second key component rescues it") {
    // 40 docs over a 3-token vocabulary yield hundreds of distinct
    // windows; squeezing the first hash into {0,1} forces collisions.
    val rnd = new scala.util.Random(7)
    val df = (0 until 40).map(i => (s"s${i % 3}", i.toLong, doc(rnd)))
      .toDF("source", "doc_id", "text")
    val str = Curation.exactSubstrOf(df).collect().toSeq
    // defective single-key layout at forced-collision width: distinct
    // windows merge, inflating n_dup_windows — the r17-verdict failure
    // mode reproduced deterministically instead of waiting for 10^12
    // windows to make ~n^2/2^65 real
    val corrupt = Curation.exactSubstrOf(df, hashKeys = true,
      keyNarrowMod = Some(2L), keySingle = true).collect().toSeq
    assert(str != corrupt, "a 2-bucket single key MUST corrupt the census")
    // the shipped two-component layout survives the same forced
    // first-component collisions: the independent-seed second hash
    // separates every merged pair
    val rescued = Curation.exactSubstrOf(df, hashKeys = true,
      keyNarrowMod = Some(2L), keySingle = false).collect().toSeq
    assert(str == rescued, "the second key component must rescue forced collisions")
  }

  /** Brute-force ExactSubstr dedup rewrite: same plant, occurrence
    * grain, >=2-distinct-docs rule, keep-first by (doc_id, pos),
    * covered-token cut with single-space rejoin.
    */
  private def referenceRewrite(rows: Seq[(String, Long, String)])
      : Map[Long, (String, Long, Long, Long, Long)] = {
    val plant = " license plate sentence shared verbatim across documents for dedup canary"
    val toksByDoc = rows.map { case (_, id, text) =>
      val t = (if (text == null) "" else text) + (if (id % 17 == 0) plant else "")
      id -> t.split(" ").filter(_.nonEmpty)
    }.toMap
    val occ = toksByDoc.toSeq.flatMap { case (id, toks) =>
      (0 to toks.length - L).map(i => (toks.slice(i, i + L).mkString(" "), id, i))
    }
    val byWin = occ.groupBy(_._1)
    val cuts = byWin.valuesIterator.flatMap { os =>
      if (os.map(_._2).distinct.size < 2) Iterator.empty
      else {
        val keep = os.minBy(o => (o._2, o._3))
        os.iterator.filterNot(_ == keep).map(o => (o._2, o._3))
      }
    }.toSeq.groupBy(_._1)
    toksByDoc.map { case (id, toks) =>
      val covered = Array.fill(toks.length)(false)
      for ((_, p) <- cuts.getOrElse(id, Seq.empty); j <- p until p + L)
        covered(j) = true
      val kept = toks.indices.filterNot(covered).map(toks)
      var removed = 0L; var spans = 0L; var maxSpan = 0L; var run = 0L
      for (c <- covered) {
        if (c) { removed += 1; run += 1; if (run == 1) spans += 1
          if (run > maxSpan) maxSpan = run }
        else run = 0
      }
      id -> ((kept.mkString(" "), toks.length.toLong, removed, spans, maxSpan))
    }
  }

  test("q209 dedup rewrite == brute force on random corpora, string AND hashed modes") {
    val rnd = new scala.util.Random(59)
    for (trial <- 1 to 2) {
      val rows = (0 until 50).map { i =>
        (s"s${i % 4}", i.toLong, if (i == 21) null else doc(rnd))
      }
      val want = referenceRewrite(rows)
      for (hashed <- Seq(false, true)) {
        val got = Scope { sc =>
          val rw = Curation.exactSubstrRewrite(sc,
            rows.toDF("source", "doc_id", "text"), hashKeys = hashed)
          rw.collect().map(r => r.getLong(1) ->
            ((r.getString(2), r.getLong(3), r.getLong(4), r.getLong(5),
              r.getLong(6)))).toMap
        }
        assert(got == want, s"trial $trial hashed=$hashed")
      }
    }
  }

  test("distributed census == brute force on random small-vocabulary corpora") {
    val rnd = new scala.util.Random(23)
    for (trial <- 1 to 3) {
      val rows = (0 until 60).map { i =>
        (s"s${i % 4}", i.toLong, if (i == 13) null else doc(rnd))
      }
      val got = Curation.exactSubstrOf(rows.toDF("source", "doc_id", "text"))
        .collect().map { r =>
          r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
            Option(r.get(4)).map(_.asInstanceOf[Long]),
            Option(r.getString(5))))
        }.toMap
      val want = reference(rows)
      assert(got == want, s"trial $trial: got $got\nwant $want")
    }
  }
}
