package graft.functions

import graft.mr.SparkSpec
import graft.operators.Curation
import org.apache.spark.sql.functions._

/** `token_windows` must be byte-identical to the Scala-side
  * `grams(Tokens.Space(t), n)` iterator it replaces in the corpus-scale
  * window streams — same tokens (split on single spaces, empties
  * dropped), same single-space joins, no partial tail windows, and in
  * distinct mode per-document first-occurrence distinctness.
  */
class TokenWindowsSpec extends SparkSpec {
  import spark.implicits._

  private def viaExpr(t: String, n: Int, distinct: Boolean = false): Seq[String] =
    Seq(Tuple1(t)).toDF("t")
      .select(TokenWindows.of(col("t"), n, distinct).as("w"))
      .as[Seq[String]].head()

  private def viaIter(t: String, n: Int): Seq[String] =
    Curation.grams(graft.Tokens.Space(t), n).toSeq

  private val adversarial = Seq(
    "a b c d e",
    "  leading and   multiple   spaces  trailing  ",
    "one",
    "",
    "   ",
    "exactly three toks",
    "résumé café 日本語 😀emoji mixed bytes",
    "dup win dup win dup win dup",
    "a a a a a a a a a a")

  test("window stream equals grams(tokenize) on adversarial corpora, several n") {
    for (t <- adversarial; n <- Seq(1, 2, 3, 8)) {
      assert(viaExpr(t, n) == viaIter(t, n), s"n=$n text='$t'")
    }
  }

  test("random corpora property: byte equality at the ExactSubstr L") {
    val rnd = new scala.util.Random(4421)
    val vocab = Vector("alpha", "beta", "gé", "dd", "中文", "x")
    for (_ <- 1 to 200) {
      val t = (1 to rnd.nextInt(30))
        .map(_ => vocab(rnd.nextInt(vocab.size)))
        .mkString(" " * (1 + rnd.nextInt(3)))
      val n = 1 + rnd.nextInt(9)
      assert(viaExpr(t, n) == viaIter(t, n), s"n=$n text='$t'")
    }
  }

  test("distinct mode keeps first occurrences, exactly the toSet contents") {
    for (t <- adversarial; n <- Seq(1, 2, 3)) {
      val got = viaExpr(t, n, distinct = true)
      assert(got.distinct == got, s"duplicates survived: n=$n '$t'")
      assert(got.toSet == viaIter(t, n).toSet, s"n=$n text='$t'")
      // first-occurrence order
      val first = scala.collection.mutable.LinkedHashSet.empty[String]
      viaIter(t, n).foreach(first.add)
      assert(got == first.toSeq, s"order: n=$n text='$t'")
    }
  }

  test("null text yields a null array (explode then emits no rows)") {
    val got = Seq(Tuple1(null: String)).toDF("t")
      .select(explode(TokenWindows.of(col("t"), 3)).as("w"))
      .collect()
    assert(got.isEmpty)
  }
}
