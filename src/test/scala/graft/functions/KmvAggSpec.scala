package graft.functions

import graft.mr.SparkSpec
import org.apache.spark.sql.functions._

/** The native [[KmvSketchAgg]] must be indistinguishable from the
  * typed [[BottomKDistinct]] Aggregator it replaces on the q172/q175
  * paths: same sketch content on randomized inputs (directly on the
  * mutable state and through a distributed groupBy), the KMV merge
  * law, full buffer rejection, serialization round-trips, and null
  * inputs ignored (SketchKernelSpec also checks the byte layout).
  */
class KmvAggSpec extends SparkSpec {

  private def refAgg = new BottomKDistinct[Long](8, identity)(
    org.apache.spark.sql.Encoders.product[Tuple1[Seq[Long]]]
      .asInstanceOf[org.apache.spark.sql.Encoder[Seq[Long]]])

  private def stateOf(xs: Seq[Long], k: Int = 8): KmvState = {
    val st = new KmvState(k)
    xs.foreach(st.insert)
    st
  }

  private def contents(st: KmvState): Seq[Long] =
    st.keys.take(st.n).toSeq

  test("state equals the typed Aggregator on randomized inputs") {
    val rnd = new scala.util.Random(29)
    for (_ <- 1 to 100) {
      val xs = Seq.fill(rnd.nextInt(80))(rnd.nextLong(50).abs)
      assert(contents(stateOf(xs)) == xs.foldLeft(refAgg.zero)(refAgg.reduce),
        s"input $xs")
    }
  }

  test("merge law matches the typed Aggregator and is commutative") {
    val rnd = new scala.util.Random(31)
    for (_ <- 1 to 60) {
      val a = Seq.fill(rnd.nextInt(60))(rnd.nextLong(70).abs)
      val b = Seq.fill(rnd.nextInt(60))(rnd.nextLong(70).abs)
      val ab = stateOf(a).mergeIn(stateOf(b))
      val ba = stateOf(b).mergeIn(stateOf(a))
      val want = refAgg.merge(
        a.foldLeft(refAgg.zero)(refAgg.reduce),
        b.foldLeft(refAgg.zero)(refAgg.reduce))
      assert(contents(ab) == want)
      assert(contents(ba) == want)
    }
  }

  test("full-buffer fast rejection keeps exactly the k smallest") {
    val st = stateOf((100L to 200L) ++ (1L to 4L))
    assert(contents(st) == Seq(1L, 2L, 3L, 4L, 100L, 101L, 102L, 103L))
    st.insert(500L) // past the k-th min of a full buffer
    assert(contents(st) == Seq(1L, 2L, 3L, 4L, 100L, 101L, 102L, 103L))
    st.insert(0L)
    assert(contents(st) == Seq(0L, 1L, 2L, 3L, 4L, 100L, 101L, 102L))
  }

  test("serialize/deserialize round-trips the state") {
    val agg = KmvSketchAgg(
      org.apache.spark.sql.graftshim.GraftColumns.exprOf(lit(0L)), 8)
    val rnd = new scala.util.Random(37)
    for (_ <- 1 to 30) {
      val st = stateOf(Seq.fill(rnd.nextInt(40))(rnd.nextLong(30).abs))
      val back = agg.deserialize(agg.serialize(st))
      assert(contents(back) == contents(st))
    }
  }

  test("distributed groupBy agrees with the typed Aggregator per group") {
    import spark.implicits._
    val rnd = new scala.util.Random(41)
    val rows = (1 to 5000).map(_ => (s"g${rnd.nextInt(7)}", rnd.nextLong(300).abs))
    val df = rows.toDF("source", "x").repartition(8)
    val got = df.groupBy(col("source"))
      .agg(KmvSketchAgg.sketch(col("x"), 8).as("sk"))
      .as[(String, Seq[Long])].collect().toMap
    val want = rows.groupBy(_._1).map { case (g, xs) =>
      g -> xs.map(_._2).foldLeft(refAgg.zero)(refAgg.reduce)
    }
    assert(got.keySet == want.keySet)
    for ((g, sk) <- want) assert(got(g) == sk, s"group $g")
  }

  test("q200: history-parquet + delta merge equals the one-pass corpus sketch") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val d = "/root/testdata/sf0.001"
    // tmp dir straight from the property — no probe-file litter, and
    // the count is a <=-comparison against a pre-run snapshot so other
    // suites' concurrent stores can only make it conservative
    def storeCount(): Int = {
      val kids = new java.io.File(System.getProperty("java.io.tmpdir")).listFiles()
      if (kids == null) 0 else kids.count(_.getName.startsWith("graft_sketch_store"))
    }
    val before = storeCount()
    val inc = graft.operators.Corpus.q200IncrementalSketch(spark, d)
      .collect().map(_.toString).toSeq
    // one-pass twin: sketch the whole table directly, same read-out
    val ev = graft.Tables.events(spark, d)
      .select(col("event_type"),
        graft.operators.Corpus.hllKey(col("user_id").cast("string")).as("x"))
    val direct = ev.groupBy(col("event_type"))
      .agg(KmvSketchAgg.sketch(col("x")).as("sk"))
      .select(col("event_type") +: KmvSketchAgg.readout(col("sk")): _*)
      .join(ev.groupBy(col("event_type"))
        .agg(countDistinct(col("x")).as("n_distinct_exact")), "event_type")
      .select(col("event_type"), col("n_distinct_exact"), col("n_kmv"),
        col("kth_min"), col("est_distinct"))
      .orderBy(col("event_type"))
      .collect().map(_.toString).toSeq
    assert(inc.nonEmpty)
    assert(inc == direct)
    // the sketch store is swept even though the query succeeded
    assert(storeCount() <= before, "sketch store directory leaked")
  }

  test("null inputs are ignored") {
    import spark.implicits._
    val df = Seq(Some(3L), None, Some(1L), None, Some(3L))
      .toDF("x").withColumn("source", lit("g"))
    val got = df.groupBy(col("source"))
      .agg(KmvSketchAgg.sketch(col("x"), 8).as("sk"))
      .as[(String, Seq[Long])].collect().head._2
    assert(got == Seq(1L, 3L))
  }
}
