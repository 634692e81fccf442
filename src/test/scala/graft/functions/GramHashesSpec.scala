package graft.functions

import graft.mr.SparkSpec
import graft.operators.{Curation, Dedup}
import org.apache.spark.sql.functions._

/** `gram_hashes` must be value-identical to the Scala-side
  * `grams(Tokens.Space(t), n).map(gramHash64)` path it replaces in the
  * similarity family's document profiles — same tokens, same joins,
  * same md5-prefix identity (the oracle's substr(md5(g), 1, 16)), and
  * the exact `.distinct` / `.distinct.sorted` shapes.
  */
class GramHashesSpec extends SparkSpec {
  import spark.implicits._

  private def viaExpr(t: String, n: Int,
      distinct: Boolean = false, sorted: Boolean = false): Seq[Long] =
    Seq(Tuple1(t)).toDF("t")
      .select(GramHashes.of(col("t"), n, distinct, sorted).as("h"))
      .as[Seq[Long]].head()

  private def viaIter(t: String, n: Int): Seq[Long] =
    Curation.grams(graft.Tokens.Space(t), n).map(Dedup.gramHash64).toSeq

  private val adversarial = Seq(
    "a b c d e",
    "  leading and   multiple   spaces  trailing  ",
    "one",
    "",
    "exactly three toks",
    "résumé café 日本語 😀emoji mixed bytes",
    "dup win dup win dup win dup",
    "a a a a a a a a a a")

  test("hash stream equals gramHash64(grams(tokenize)) on adversarial corpora") {
    for (t <- adversarial; n <- Seq(1, 2, 3, 5)) {
      assert(viaExpr(t, n) == viaIter(t, n), s"n=$n text='$t'")
    }
  }

  test("distinct and sorted match the .distinct / .distinct.sorted shapes") {
    for (t <- adversarial; n <- Seq(1, 3)) {
      assert(viaExpr(t, n, distinct = true) == viaIter(t, n).distinct,
        s"distinct n=$n '$t'")
      assert(viaExpr(t, n, distinct = true, sorted = true) ==
        viaIter(t, n).distinct.sorted, s"sorted n=$n '$t'")
    }
  }

  test("wsSplit + lower() equals the all-pairs tokenization " +
    "(toLowerCase(ROOT).split(\\s+)) incl. tabs/newlines") {
    val texts = adversarial ++ Seq(
      "tab\tseparated\nand newline\rcarriagevtabformfeed toks",
      "MiXeD CaSe RÉSUMÉ Tokens Here",
      " \t\n mixed   \t runs \n\n of everything \r ")
    for (t <- texts; n <- Seq(1, 2, 3)) {
      val got = Seq(Tuple1(t)).toDF("t")
        .select(GramHashes.of(lower(col("t")), n,
          distinct = true, sorted = true, wsSplit = true).as("h"))
        .as[Seq[Long]].head()
      val toks = t.toLowerCase(java.util.Locale.ROOT)
        .split("\\s+").filter(_.nonEmpty)
      val want = Curation.grams(toks, n).map(Dedup.gramHash64)
        .toSeq.distinct.sorted
      assert(got == want, s"n=$n text='$t'")
    }
  }

  test("random corpora property at the trigram grain") {
    val rnd = new scala.util.Random(977)
    val vocab = Vector("alpha", "beta", "gé", "dd", "中文", "x")
    for (_ <- 1 to 200) {
      val t = (1 to rnd.nextInt(30))
        .map(_ => vocab(rnd.nextInt(vocab.size)))
        .mkString(" " * (1 + rnd.nextInt(3)))
      assert(viaExpr(t, 3, distinct = true, sorted = true) ==
        viaIter(t, 3).distinct.sorted, s"text='$t'")
    }
  }
}
