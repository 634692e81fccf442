package graft

import graft.functions.{BloomMightContain, FixedPointDot, FixedPointQuantize, JpegDims, LuhnValid, MinWindowFingerprint, PgmStats, PngDims, RollingFingerprint, SortedIntersectCount, TokenWindowKeys}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SparkSessionExtensions entry point: makes the engine's native
  * expressions available to plain SQL in any session built with
  * `.withExtensions(new GraftExtensions)` or
  * `spark.sql.extensions=graft.GraftExtensions` — the deployment path on
  * a shared cluster where users only speak SQL.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  def apply(e: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach(e.injectFunction)
    // the native as-of join: planner strategy for the custom logical
    // node, plus the filter-transposition rule (runs inside the
    // operator-optimization fixed-point batch, so stock pushdown rules
    // carry the transposed filters on into the scans)
    e.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
    e.injectOptimizerRule(_ => graft.plans.PushFilterThroughAsOfJoin)
  }
}

object GraftExtensions {

  /** The SQL functions, built ONCE per JVM: Spark's function registry
    * logs a "replaced a previously registered function" warning when a
    * re-registration's (info, builder) pair is not equal to the one it
    * replaces, and neither `ExpressionInfo` nor a lambda has value
    * equality — so every session that re-registers must see these same
    * instances.
    */
  val functions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    ("rolling_fingerprint",
      "rolling_fingerprint(text) - 61-bit Karp-Rabin whole-document hash",
      (es: Seq[Expression]) => RollingFingerprint(es.head)),
    ("min_window_fingerprint",
      "min_window_fingerprint(text) - minimum 16-gram window hash (winnowing)",
      (es: Seq[Expression]) => MinWindowFingerprint(es.head)),
    ("fixed_dot",
      "fixed_dot(a, b) - fused dot product of two BIGINT arrays",
      (es: Seq[Expression]) => FixedPointDot(es(0), es(1))),
    ("fixed_quantize",
      "fixed_quantize(v) - fixed-point round(x*1e6) quantization of a DOUBLE array to BIGINT",
      (es: Seq[Expression]) => FixedPointQuantize(es.head)),
    ("bloom_might_contain",
      "bloom_might_contain(key, filter_bytes) - probe a serialized Bloom filter",
      (es: Seq[Expression]) => BloomMightContain(es(0), es(1))),
    ("luhn_valid",
      "luhn_valid(digits) - true iff a 13-19 digit string passes the Luhn mod-10 check",
      (es: Seq[Expression]) => LuhnValid(es.head)),
    ("sorted_intersect_count",
      "sorted_intersect_count(a, b) - |a intersect b| of two SORTED-DISTINCT BIGINT arrays (undercounts on unsorted input)",
      (es: Seq[Expression]) => SortedIntersectCount(es(0), es(1))),
    ("token_window_keys",
      "token_window_keys(text, L) - every L-token window's two-seed rolling 128-bit fingerprint as array<struct<pos,h1,h2>>",
      (es: Seq[Expression]) => TokenWindowKeys.sqlBuilder(es)),
    ("png_dims",
      "png_dims(blob) - struct<width,height> from a PNG IHDR header, NULL if not well-formed PNG",
      (es: Seq[Expression]) => PngDims(es.head)),
    ("jpeg_dims",
      "jpeg_dims(blob) - struct<width,height> from a JPEG SOF segment (variable-position marker walk), NULL if not well-formed JPEG",
      (es: Seq[Expression]) => JpegDims(es.head)),
    ("pgm_stats",
      "pgm_stats(blob) - struct<width,height,maxval,px_sum,px_min,px_max,b0,b1,b2,b3> decoded from a binary PGM (P5) raster, NULL if not well-formed 8-bit PGM",
      (es: Seq[Expression]) => PgmStats(es.head))
  ).map { case (name, usage, builder) =>
    (FunctionIdentifier(name),
      new ExpressionInfo("graft", null, name, usage, "", "", "", "", "", "", "built-in"),
      builder)
  }
}
