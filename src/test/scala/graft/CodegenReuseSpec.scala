package graft

import graft.mr.SparkSpec
import graft.operators.Curation
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** Compiled code is reused across calls: Spark keeps generated classes
  * in one JVM-wide cache, and [[GraftSession]] sizes it to the engine's
  * working set and keeps stage ids out of class names. The probe is the
  * q219 core (`exactSubstrUpsertReplay`), whose one call compiles about
  * 160 classes — more than Spark's 100-entry default holds, so without
  * the settings a second identical call recompiled nearly all of them.
  */
class CodegenReuseSpec extends SparkSpec {
  import spark.implicits._

  private val L = Curation.ExactSubstrL

  private def span(tag: String, n: Int): String =
    (1 to n).map(i => s"$tag$i").mkString(" ")

  /** Drop every cached class, so the first call below compiles cold
    * whichever suites ran earlier in this JVM (the cache has no public
    * clear; `invalidateAll` is on its Spark-private wrapper type).
    */
  private def coldCodegenCache(): Unit = {
    val m = CodeGenerator.getClass.getDeclaredMethod("cache")
    m.setAccessible(true)
    val cache = m.invoke(CodeGenerator)
    cache.getClass.getMethod("invalidateAll").invoke(cache): Unit
  }

  test("the session carries the codegen cache settings") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") ==
      GraftSession.CodegenCacheEntries.toString)
    assert(spark.conf.get("spark.sql.codegen.useIdInClassName") == "false")
  }

  test("a second identical q219 replay compiles at most 5 % of the classes " +
    "the first one compiled") {
    val dup = span("cr", L)
    val batches = Seq(
      Seq(("s", 1L, span("solo", 2 * L)), ("s", 2L, s"${span("x", L)} $dup")),
      Seq(("s", 4L, s"$dup ${span("y", L)}")),
      Seq(("s", 5L, span("other", 2 * L))))
    def compiles(): Long = {
      val c0 = Dev.compiled()
      Curation.exactSubstrUpsertReplay(batches.map(_.toDF("source", "doc_id", "text")))
        .collect()
      Dev.compiled() - c0
    }
    coldCodegenCache()
    val (first, second) = (compiles(), compiles())
    info(s"compiles: first call $first, second call $second")
    assert(first > 100, s"a cold replay compiled only $first classes")
    assert(second * 20 <= first, s"second replay compiled $second classes, first $first")
    spark.catalog.clearCache()
  }
}
