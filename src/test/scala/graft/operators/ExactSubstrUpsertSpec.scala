package graft.operators

import graft.Scope
import graft.mr.SparkSpec
import graft.streaming.UpsertSink

/** q219 — the operational ingest loop: maintain-then-rewrite composed
  * with the UpsertSink versioned-parquet table. The standing claim is
  * CONVERGENCE — after N batch arrivals, the materialized sink equals
  * the one-shot q209 rewrite of the union — plus the property that
  * makes it an operator and not a re-run: repairs are DELTA (only docs
  * whose windows' duplication status or keeper changed get a new
  * version). Fixtures force the two hazards the delta rule must
  * handle: a keeper arriving in a LATER batch than the occurrence it
  * displaces, and a within-doc repeat whose duplication only appears
  * with a FUTURE batch (the lesson-13 case that makes prefix-state
  * rewriting impossible).
  */
class ExactSubstrUpsertSpec extends SparkSpec {
  import spark.implicits._

  private val L = Curation.ExactSubstrL

  private def span(tag: String, n: Int): String =
    (1 to n).map(i => s"$tag$i").mkString(" ")

  /** doc_id -> (version, rewritten) from the final sink state of a
    * replay over the given batches; also returns the rollup frame the
    * driver query emits. Cleans the store itself.
    */
  private def replay(batches: Seq[Seq[(String, Long, String)]])
      : (Map[Long, (Long, String)], Map[String, Long]) = {
    val store = java.nio.file.Files
      .createTempDirectory("graft_upsert_spec").toFile
    try {
      val rollup = Curation.exactSubstrUpsertReplay(
        batches.map(_.toDF("source", "doc_id", "text")),
        keepStore = Some(store))
      val sink = UpsertSink
        .readState(spark, new java.io.File(store, "sink").toString).get
      val docs = sink.select("doc_id", "v", "rewritten").collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
      val roll = rollup.select("source", "tokens_removed").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      (docs, roll)
    } finally {
      def rm(f: java.io.File): Unit = {
        val kids = f.listFiles()
        if (kids != null) kids.foreach(rm)
        f.delete(): Unit
      }
      rm(store)
    }
  }

  /** One-shot q209 rewrite of the union, doc grain. */
  private def oneShot(rows: Seq[(String, Long, String)]): Map[Long, String] = {
    Scope { sc =>
      val rw = Curation.exactSubstrRewrite(sc, rows.toDF("source", "doc_id", "text"))
      rw.collect().map(r => r.getLong(1) -> r.getString(2)).toMap
    }
  }

  // doc_ids avoid multiples of 17 so the global plant stays inert

  test("keeper arriving in a LATER batch: the standing occurrence is " +
    "repaired (cut) and the sink converges to one-shot") {
    val dup = span("kp", L)
    val b0 = Seq(("s", 9L, s"${span("a", L)} $dup"))   // holds dup first
    val b1 = Seq(("s", 3L, s"$dup ${span("b", L)}"))   // earlier keeper arrives later
    val union = b0 ++ b1
    val (docs, _) = replay(Seq(b0, b1))
    val exp = oneShot(union)
    assert(docs.view.mapValues(_._2).toMap == exp,
      "sink diverged from one-shot after the keeper moved")
    // the displaced doc was REPAIRED at batch 1 (new version), and the
    // cut landed on doc 9 (doc 3 is the keeper under (doc_id, pos) min)
    assert(docs(9L)._1 == 1L, "doc 9 must carry the repair version")
    assert(docs(9L)._2 == span("a", L), "doc 9 must lose the duplicated span")
    assert(docs(3L)._2.contains(dup), "keeper doc 3 must keep the span")
  }

  test("within-doc repeat duplicated only by a FUTURE batch (the case that " +
    "kills prefix-state): the early doc's second occurrence is repaired") {
    val w = span("w", L)
    // doc 2: w twice (nd = 1 at arrival -> nothing cut at batch 0)
    val b0 = Seq(("s", 2L, s"$w ${span("mid", L)} $w"))
    val b1 = Seq(("s", 4L, s"${span("z", L)} $w")) // duplicates w corpus-wide
    val union = b0 ++ b1
    val (docs, _) = replay(Seq(b0, b1))
    val exp = oneShot(union)
    assert(docs.view.mapValues(_._2).toMap == exp,
      "sink diverged from one-shot on the future-duplication case")
    // at batch 0 nothing was duplicated; the repair at batch 1 must cut
    // doc 2's SECOND occurrence and doc 4's copy, keeping (2, pos 0)
    assert(docs(2L)._1 == 1L && docs(4L)._1 == 1L)
    assert(docs(2L)._2 == s"$w ${span("mid", L)}")
    assert(!docs(4L)._2.contains(w))
  }

  test("repairs are DELTA: a standing doc none of whose windows changed " +
    "keeps its original version across later arrivals") {
    val dup = span("d", L)
    val b0 = Seq(
      ("s", 1L, span("lonely", 2 * L)),            // never touched again
      ("s", 2L, s"${span("x", L)} $dup"))
    val b1 = Seq(("s", 4L, s"$dup ${span("y", L)}")) // duplicates only dup
    val b2 = Seq(("s", 5L, span("other", 2 * L)))    // touches nothing
    val (docs, _) = replay(Seq(b0, b1, b2))
    assert(docs(1L)._1 == 0L,
      "doc 1 was re-rewritten though none of its windows changed — repair is not delta")
    assert(docs(2L)._1 == 1L, "doc 2 must be repaired when dup duplicates")
    assert(docs(5L)._1 == 2L)
    assert(docs.view.mapValues(_._2).toMap ==
      oneShot(b0 ++ b1 ++ b2), "delta replay diverged from one-shot")
  }

  test("three interleaved lanes over a shared-span corpus converge to " +
    "one-shot, and the driver rollup equals the one-shot rollup") {
    val shared = span("sh", 2 * L)
    val rows = (1 to 40).filter(_ % 17 != 0).map { i =>
      val filler = span(s"f$i", L + i % 3)
      ("s" + (i % 2), i.toLong,
        if (i % 4 == 0) s"$filler $shared" else s"$shared $filler")
    }
    val lanes = Seq(0L, 1L, 2L).map(l => rows.filter(_._2 % 3 == l))
    val (docs, roll) = replay(lanes)
    assert(docs.view.mapValues(_._2).toMap == oneShot(rows))
    val oneShotRoll = Curation
      .exactSubstrDedupOf(rows.toDF("source", "doc_id", "text"))
      .select("source", "tokens_removed").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(roll == oneShotRoll, "driver rollup diverged from one-shot rollup")
  }

  test("a failed sink merge is the exception thrown; a raw append that " +
    "also failed rides along in getSuppressed instead of masking it") {
    val store = java.nio.file.Files.createTempDirectory("graft_upsert_fail").toFile
    // regular files where both write targets expect directories, so the
    // sink merge AND the concurrent raw append fail (unlike a chmod,
    // this holds when the tests run as root)
    Seq("raw", "sink").foreach { n =>
      java.nio.file.Files.writeString(new java.io.File(store, n).toPath, "not a directory")
    }
    def fromSink(t: Throwable): Boolean =
      t.getStackTrace.exists(_.getClassName.startsWith("graft.streaming.UpsertSink"))
    try {
      val e = intercept[Throwable](Curation.exactSubstrUpsertReplay(
        Seq(Seq(("s", 1L, span("a", 2 * L))).toDF("source", "doc_id", "text")),
        keepStore = Some(store)))
      def under(t: Throwable, dir: String): Boolean =
        String.valueOf(t.getMessage).contains(s"${store.getName}/$dir")
      assert(fromSink(e) && under(e, "sink"), s"thrown exception is not the sink merge's: $e")
      assert(e.getSuppressed.exists(a => under(a, "raw") && !fromSink(a)),
        s"raw append failure not attached to $e: ${e.getSuppressed.toSeq}")
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm))
        f.delete(): Unit
      }
      rm(store)
      spark.catalog.clearCache()
    }
  }
}
