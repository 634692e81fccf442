package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Pins for the reconciliation baseline parser: a silent parse bug
  * here would disable Bench's load-reconciliation pass without any
  * visible failure (it degrades to an empty prior), so both driver
  * artifact layouts, the numeric newest-round ordering, the
  * scale-factor guard, and the failure modes are pinned. Pure JVM.
  */
class BenchPriorSpec extends AnyFunSuite {

  private val sf = "/root/testdata/sf0.1"

  private def tmpDir(): java.io.File = Scope.lru.tempDir("graft_prior")
  private def write(dir: java.io.File, name: String, body: String): String = {
    val f = new java.io.File(dir, name)
    Files.write(f.toPath, body.getBytes("UTF-8"))
    f.getPath
  }

  test("raw contract line: top-level queries map") {
    val d = tmpDir()
    val p = write(d, "line.json",
      s"""{"metric":"total","value":10.0,"queries":{"q01":0.5,"q137":5.69},"sf":"$sf"}""")
    assert(Bench.priorQueries(Some(p), d, sf) == Map("q01" -> 0.5, "q137" -> 5.69))
  }

  test("driver wrapper: queries under parsed, numeric sf field") {
    val d = tmpDir()
    val p = write(d, "BENCH_r09.json",
      """{"n":9,"rc":0,"tail":"...","parsed":{"metric":"total","queries":{"q73":3.94},"sf":0.1}}""")
    assert(Bench.priorQueries(None, d, sf) == Map("q73" -> 3.94))
  }

  test("highest ROUND wins numerically: r100 beats r99, unpadded r9 never shadows") {
    val d = tmpDir()
    write(d, "BENCH_r9.json", """{"queries":{"q01":9.0}}""")
    write(d, "BENCH_r99.json", """{"queries":{"q01":99.0}}""")
    write(d, "BENCH_r100.json", """{"queries":{"q01":100.0}}""")
    write(d, "OTHER.json", """{"queries":{"q01":777.0}}""")
    assert(Bench.priorQueries(None, d, sf) == Map("q01" -> 100.0))
  }

  test("detail layout: per-query min over timed passes, warmup dropped, failures filtered, qNN keying") {
    val d = tmpDir()
    write(d, "BENCH_DETAIL.json",
      s"""{"detail":"bench_passes","passes_ms":{
         |"q01_pricing_summary":[4813,504,513,478],
         |"q99_flaky":[100,-1,250,240],
         |"q98_all_failed":[100,-1,-1],
         |"q97_warmup_only":[100]},"sf":"$sf"}""".stripMargin)
    val got = Bench.priorQueries(None, d, sf)
    assert(got == Map("q01" -> 0.478, "q99" -> 0.24),
      s"warmup must not win, -1 passes and empty arrays must drop: $got")
  }

  test("precedence: explicit > BENCH_DETAIL.json > newest BENCH_r*.json; sf-mismatched sources fall through") {
    val d = tmpDir()
    write(d, "BENCH_r05.json", s"""{"queries":{"q01":5.0},"sf":"$sf"}""")
    // contract line alone -> round artifact
    assert(Bench.priorQueries(None, d, sf) == Map("q01" -> 5.0))
    // detail present -> wins over the round artifact (full coverage)
    write(d, "BENCH_DETAIL.json",
      s"""{"passes_ms":{"q01_pricing_summary":[900,800]},"sf":"$sf"}""")
    assert(Bench.priorQueries(None, d, sf) == Map("q01" -> 0.8))
    // explicit wins over both
    val p = write(d, "explicit.json", s"""{"queries":{"q01":0.5},"sf":"$sf"}""")
    assert(Bench.priorQueries(Some(p), d, sf) == Map("q01" -> 0.5))
    // a detail recorded at another SF falls through to the round artifact
    write(d, "BENCH_DETAIL.json",
      """{"passes_ms":{"q01_pricing_summary":[900,800]},"sf":"/tmp/sf1"}""")
    assert(Bench.priorQueries(None, d, sf) == Map("q01" -> 5.0))
  }

  test("an explicit pin is AUTHORITATIVE: a bad pin disables reconciliation, never falls through to a valid implicit source") {
    val d = tmpDir()
    // a perfectly valid resident detail file the operator may have
    // pinned specifically to avoid (e.g. load-contaminated)
    write(d, "BENCH_DETAIL.json",
      s"""{"passes_ms":{"q01_pricing_summary":[900,800]},"sf":"$sf"}""")
    write(d, "BENCH_r05.json", s"""{"queries":{"q01":5.0},"sf":"$sf"}""")
    assert(Bench.priorQueries(Some("/nonexistent/pin.json"), d, sf).isEmpty,
      "a typo'd pin must disable, not silently use the resident detail")
    val mismatched = write(d, "pin.json",
      """{"queries":{"q01":0.5},"sf":"/tmp/sf1"}""")
    assert(Bench.priorQueries(Some(mismatched), d, sf).isEmpty,
      "an sf-mismatched pin must disable, not fall through")
  }

  test("detailOverride (SPARK_GRAFT_DETAIL) relocates the detail READ with the write") {
    val d = tmpDir()
    val elsewhere = write(d, "archived_detail.json",
      s"""{"passes_ms":{"q02_filter_project":[500,400]},"sf":"$sf"}""")
    assert(Bench.priorQueries(None, d, sf,
      detailOverride = Some(elsewhere)) == Map("q02" -> 0.4))
    // an override pointing nowhere falls through to the round artifact
    write(d, "BENCH_r04.json", s"""{"queries":{"q03":3.0},"sf":"$sf"}""")
    assert(Bench.priorQueries(None, d, sf,
      detailOverride = Some("/nonexistent/detail.json")) == Map("q03" -> 3.0))
  }

  test("a prior recorded at a DIFFERENT scale factor is rejected whole") {
    val d = tmpDir()
    // sf0.1 prior vs an sf1 run: without the guard nearly every query
    // would trip the 1.5x threshold and burn the reconciliation budget
    val p = write(d, "BENCH_r16.json",
      s"""{"queries":{"q01":0.5},"sf":"$sf"}""")
    assert(Bench.priorQueries(Some(p), d, "/tmp/sf1").isEmpty)
    assert(Bench.priorQueries(Some(p), d, sf) == Map("q01" -> 0.5))
    // wrapper with bare-number sf matches the dir-path form of the same sf
    val w = write(d, "wrapper.json", """{"parsed":{"queries":{"q02":1.0},"sf":0.1}}""")
    assert(Bench.priorQueries(Some(w), d, sf) == Map("q02" -> 1.0))
    assert(Bench.priorQueries(Some(w), d, "/root/testdata/sf0.01").isEmpty)
  }

  test("a prior WITHOUT an sf field is accepted (cannot be checked)") {
    val d = tmpDir()
    val p = write(d, "BENCH_r01.json", """{"queries":{"q01":1.0}}""")
    assert(Bench.priorQueries(Some(p), d, sf) == Map("q01" -> 1.0))
  }

  test("failure modes degrade to empty, never throw") {
    val d = tmpDir()
    assert(Bench.priorQueries(None, d, sf).isEmpty) // no artifacts at all
    assert(Bench.priorQueries(Some("/nonexistent/x.json"), d, sf).isEmpty)
    val bad = write(d, "BENCH_r01.json", "{not json")
    assert(Bench.priorQueries(Some(bad), d, sf).isEmpty)
    val noQ = write(d, "BENCH_r02.json", """{"parsed":null,"queries":"nope"}""")
    assert(Bench.priorQueries(Some(noQ), d, sf).isEmpty)
    // non-numeric entries are skipped, numeric kept
    val mixed = write(d, "BENCH_r03.json", """{"queries":{"q01":1.5,"q02":"-"}}""")
    assert(Bench.priorQueries(Some(mixed), d, sf) == Map("q01" -> 1.5))
  }
}
