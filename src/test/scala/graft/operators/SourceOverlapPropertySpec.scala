package graft.operators

import graft.mr.SparkSpec
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Differential law for q144: on random small corpora, the distributed
  * gram-overlap matrix must equal a plain-Scala set reference (lowercase
  * word trigrams, distinct per source, pairwise intersection/union).
  * Raw scalacheck generators with fixed seeds (no scalatest bridge in
  * the offline cache).
  */
class SourceOverlapPropertySpec extends SparkSpec {

  private val word = Gen.oneOf("alpha", "beta", "gamma", "delta", "eps", "ZETA", "Eta")
  private val docGen = for {
    src <- Gen.oneOf("s1", "s2", "s3")
    n <- Gen.choose(0, 12)
    ws <- Gen.listOfN(n, word)
  } yield (src, ws.mkString(" "))

  private val corpusGen = Gen.listOfN(14, docGen)

  private def ref(rows: Seq[(String, String)]): Map[(String, String), (Long, Double)] = {
    val grams: Map[String, Set[Seq[String]]] = rows.groupBy(_._1).map { case (src, docs) =>
      src -> docs.flatMap { case (_, text) =>
        val toks = text.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq
        toks.sliding(3).filter(_.length == 3).map(_.toSeq)
      }.toSet
    }
    val srcs = grams.keys.toSeq.sorted
    (for {
      a <- srcs; b <- srcs if a < b
      inter = (grams(a) & grams(b)).size.toLong if inter > 0
    } yield (a, b) -> ((inter,
      inter.toDouble / (grams(a).size + grams(b).size - inter)))).toMap
  }

  private def engine(rows: Seq[(String, String)]): Map[(String, String), (Long, Double)] = {
    import spark.implicits._
    val dir = graft.Scope.lru.tempDir("ovl_prop_").toString
    rows.zipWithIndex.map { case ((s, t), i) => (i.toLong, s, t) }
      .toDF("doc_id", "source", "text")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/_d")
    val part = java.nio.file.Files.list(java.nio.file.Paths.get(dir, "_d"))
      .filter(p => p.getFileName.toString.endsWith(".parquet"))
      .findFirst().get()
    java.nio.file.Files.copy(part, java.nio.file.Paths.get(dir, "documents.parquet"))
    TextOps.q144SourceGramOverlap(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getAs[Long]("n_shared"), r.getAs[Double]("gram_jaccard")))).toMap
  }

  test("overlap matrix equals the set reference on 8 random corpora") {
    (1 to 8).foreach { i =>
      val rows = corpusGen.pureApply(Gen.Parameters.default, Seed(i.toLong))
      val got = engine(rows)
      val want = ref(rows)
      assert(got == want, s"seed $i: engine $got != reference $want")
    }
  }
}
