package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** JSON string escape: backslash, quote, and ALL control chars (<0x20)
    * — a tab or CR in builder-authored SQL would otherwise make the
    * driver's json.load fail and silently zero the round's correctness.
    */
  private[graft] def jsonEscape(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated query-name filter (dev loop —
    // the driver always passes exactly two). Tokens are trimmed and
    // empties dropped: "a, b" must select b, not silently exclude it.
    val (sfDir, outDir) = (args(0), args(1))
    val onlySet: Option[Set[String]] =
      if (args.length > 2)
        Some(args(2).split(",").map(_.trim).filter(_.nonEmpty).toSet)
      else None
    val spark = GraftSession.local(GraftSession.envCpus())
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // pre-flight schema canary: print every table's PHYSICAL schema so a
    // testdata vintage change (e.g. int64-nanos ts → TIMESTAMP_NTZ, the
    // round-9 breaker) is visible in the verify log the moment it lands,
    // not 20 crashed queries later
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings").foreach { t =>
      try {
        val phys = spark.read.parquet(s"$sfDir/$t.parquet").schema
        System.err.println(s"[verify] schema $t: ${phys.map(f => s"${f.name}:${f.dataType.simpleString}").mkString(", ")}")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] schema $t: UNREADABLE ${e.getMessage}")
      }
    }
    // written BEFORE the dumps: if the dump loop is killed by a driver
    // timeout, whatever completed can still be scored — without this
    // file the compare scores the whole round as {} (the round-12
    // failure mode, though that one was a DuckDB-side CTE blowup).
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${jsonEscape(k)}: ${jsonEscape(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    SparkEntry.queries
      .filter { case (name, _) => onlySet.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // a few queries cache() intermediates; drop them so storage memory
      // doesn't accumulate across the 200+ dumps
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
