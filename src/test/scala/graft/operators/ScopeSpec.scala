package graft.operators

import java.io.File

import graft.Scope
import graft.mr.SparkSpec
import org.apache.spark.sql.functions._

/** [[graft.Scope]] — the one owner of cached intermediates. A pinned
  * block releases everything it owned once its result is materialized;
  * the LRU owner releases nothing; and a failure inside a converted
  * operator leaves nothing registered, because the release no longer
  * sits after the action that fails.
  */
class ScopeSpec extends SparkSpec {
  import spark.implicits._

  private def newRdds(before: Set[Int]): Set[Int] =
    sc.getPersistentRDDs.keySet.toSet -- before

  test("pinned releases owned persists, checkpoints and temp dirs after the pin; " +
    "its result stays readable") {
    spark.catalog.clearCache()
    val before = sc.getPersistentRDDs.keySet.toSet
    var dir: File = null
    var during = Set.empty[Int]
    val out = Scope.pinned { s =>
      val base = s.persist(spark.range(100).toDF("id"))
      val cp = s.checkpoint(base.select((col("id") * 2).as("v")), eager = true)
      dir = s.tempDir("graft_scope_spec")
      java.nio.file.Files.write(new File(dir, "part").toPath, Array[Byte](1))
      during = newRdds(before)
      cp.agg(sum(col("v")).as("total"))
    }
    assert(during.size == 2, s"the persist and the checkpoint are live inside: $during")
    val left = newRdds(before)
    assert(left.size == 1 && (left & during).isEmpty,
      s"only the pinned result may stay registered: $left")
    assert(!dir.exists(), s"temp dir survived the scope: $dir")
    assert(out.as[Long].collect().toSeq == Seq(9900L))
    spark.catalog.clearCache()
  }

  test("a plain scope releases at block end; release frees early and keep hands over") {
    spark.catalog.clearCache()
    val before = sc.getPersistentRDDs.keySet.toSet
    val kept = Scope { s =>
      val a = s.checkpoint(spark.range(10).toDF("id"), eager = true)
      val b = s.checkpoint(spark.range(20).toDF("id"), eager = true)
      val c = s.checkpoint(spark.range(30).toDF("id"), eager = true)
      assert(newRdds(before).size == 3)
      s.release(a)
      assert(newRdds(before).size == 2)
      s.keep(c)
      assert(b.count() == 20L)
      c
    }
    val left = newRdds(before)
    assert(left.size == 1, s"only the kept checkpoint may stay: $left")
    assert(kept.count() == 30L)
    left.foreach(id => sc.getPersistentRDDs(id).unpersist())
  }

  test("the never-releasing owner releases nothing") {
    spark.catalog.clearCache()
    val before = sc.getPersistentRDDs.keySet.toSet
    val df = Scope.lru.persist(spark.range(10).toDF("id"))
    assert(df.count() == 10L)
    val cp = Scope.lru.checkpoint(spark.range(5).toDF("id"), eager = true)
    val dir = Scope.lru.tempDir("graft_scope_lru")
    Scope.lru.release(df)
    Scope.lru.release(cp)
    Scope.lru.release(dir)
    assert(newRdds(before).size == 2, "LRU-owned caches must stay registered")
    assert(!spark.sharedState.cacheManager.isEmpty)
    assert(dir.exists(), "LRU-owned temp dirs live until the JVM-exit sweep")
    spark.catalog.clearCache()
    newRdds(before).foreach(id => sc.getPersistentRDDs(id).unpersist())
    dir.delete()
  }

  test("a failure forced inside a converted operator leaves nothing registered") {
    spark.catalog.clearCache()
    val before = sc.getPersistentRDDs.keySet.toSet
    // an RDD source, not a local Seq: the optimizer would evaluate
    // raise_error while planning a LocalRelation, before any persist
    val docs = sc.parallelize(Seq(("a", "x y z w"), ("b", "x y z q"), ("bad", "p q r s")))
      .toDF("source", "text")
      .withColumn("text",
        when(col("source") === "bad", raise_error(lit("forced failure")))
          .otherwise(col("text")))
    val e = intercept[Exception](Corpus.exactGramOverlapOf(docs))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("forced failure")), e)
    assert(spark.sharedState.cacheManager.isEmpty,
      "the operator's persist outlived its failed action")
    assert(newRdds(before).isEmpty, s"persistent RDDs left behind: ${newRdds(before)}")
  }
}
