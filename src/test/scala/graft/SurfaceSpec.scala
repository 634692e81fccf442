package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Lexical pin on the program's outer surface (the AtlasSpec style:
  * pure JVM, reads the source tree from the repo root). Environment
  * knobs, entry points, cache owners and the session builder each have
  * one named rule; a new `sys.env` read or a new `main` must be a
  * deliberate edit here, not a dev probe that outlives its question.
  */
class SurfaceSpec extends AnyFunSuite {

  /** (path under `dir`, text) of every Scala file below `dir`. */
  private def scalaFiles(dir: String): Seq[(String, String)] = {
    val root = Paths.get(dir)
    assume(Files.isDirectory(root))
    val s = Files.walk(root)
    try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
      .sortBy(_.toString)
      .map((p: Path) => root.relativize(p).toString -> new String(Files.readAllBytes(p), "UTF-8"))
    finally s.close()
  }

  private lazy val sources: Seq[(String, String)] = scalaFiles("src/main/scala")

  test("rule env-knobs: sys.env is read only for SPARK_GRAFT_CPUS in " +
    "GraftSession and Bench's six driver-facing names") {
    val allowed = Set("graft/GraftSession.scala" -> "SPARK_GRAFT_CPUS") ++
      Seq("SF_DIR", "LOAD_GATE", "LOAD_GATE_WAIT", "PRIOR", "DETAIL", "BENCH_LINE")
        .map(n => "graft/Bench.scala" -> s"SPARK_GRAFT_$n")
    val nameRe = """sys\.env[.\w]*\(\s*"([A-Za-z0-9_]+)"""".r
    val reads = for {
      (file, text) <- sources
      line <- text.linesIterator.toSeq if line.contains("sys.env") || line.contains("getenv")
    } yield file -> nameRe.findFirstMatchIn(line).map(_.group(1)).getOrElse(s"<unnamed: ${line.trim}>")
    val stray = reads.filterNot(allowed)
    assert(stray.isEmpty, s"rule env-knobs: undeclared environment reads $stray")
    assert(reads.toSet == allowed, s"rule env-knobs: declared reads missing ${allowed -- reads}")
  }

  test("rule cache-lifetime: persist, cache, unpersist, localCheckpoint and " +
    "createTempDirectory appear only in Scope") {
    // code lines only (scaladoc may name the Spark calls); an owner's
    // own `sc.persist(` / `Scope.lru.persist(` is the sanctioned form
    val raw = ("""(?<!\bsc|Scope\.lru)\.persist\(|\.unpersist\(|\.localCheckpoint\(|""" +
      """\.cache\(\)|createTempDirectory""").r
    val hits = for {
      (file, text) <- sources if file != "graft/Scope.scala"
      line <- text.linesIterator.toSeq
      code = line.split("//", 2)(0)
      if !code.trim.startsWith("*") && !code.trim.startsWith("/*")
      if raw.findFirstIn(code).isDefined
    } yield s"$file: ${line.trim}"
    assert(hits.isEmpty, s"rule cache-lifetime: caches outside graft.Scope:\n${hits.mkString("\n")}")
    // specs spool through Scope too (`Scope.lru.tempDir`, swept at JVM
    // exit), so a test run leaves no temp dirs behind
    val specDirs = for {
      (file, text) <- scalaFiles("src/test/scala") if file != "graft/SurfaceSpec.scala"
      line <- text.linesIterator.toSeq if line.split("//", 2)(0).contains("createTempDirectory")
    } yield s"$file: ${line.trim}"
    assert(specDirs.isEmpty, s"rule cache-lifetime: spec temp dirs outside graft.Scope:\n${specDirs.mkString("\n")}")
  }

  test("rule sketch-kernel: one TypedImperativeAggregate base, and typed " +
    "Aggregators only in the bounded-buffer kernel and CounterMerge") {
    // every sketch shares LongSketchAgg's plumbing and every k-bounded
    // buffer is BottomK, so a near-copy cannot grow back unnoticed
    def sites(what: String): Seq[String] = for {
      (file, text) <- sources
      line <- text.linesIterator.toSeq if line.contains(what)
    } yield file
    assert(sites("extends TypedImperativeAggregate") == Seq("graft/functions/SketchAgg.scala"),
      "rule sketch-kernel: TypedImperativeAggregate outside LongSketchAgg")
    assert(sites("extends Aggregator[") ==
      Seq("graft/functions/CounterMerge.scala", "graft/functions/TopK.scala"),
      "rule sketch-kernel: typed Aggregators outside BottomK and CounterMerge")
  }

  test("rule sketch-readout: sketch cells are exploded, ranked and " +
    "estimated only beside their kernels") {
    // a sketch's cell layout, estimator and quantile pick live in its
    // kernel object (graft/functions); a posexplode, a rankOf( call,
    // KMV domain arithmetic or a CMS `pos div`/`pos %` grid split
    // anywhere else is a read-out copy, unless it is one of the
    // non-sketch array explodes below
    val kernels = Set("SketchAgg", "KmvAgg", "SampleAgg").map(n => s"graft/functions/$n.scala")
    val raw = ("""posexplode\(|rankOf\(|[*/]\s*(?:[\w.]*\.)?(?:Kmv)?Domain\b|""" +
      """\b(?:Kmv)?Domain\s*[*/]|\bpos\s+(?i:div)\b|\bpos\s*%|"pos"\)\s*[%/]""").r
    val allowed = Seq(
      // token windows and pattern counts are arrays, not sketches
      ("graft/operators/Curation.scala", "posexplode(graft.functions.TokenWindows.of(col(\"text\"), n))"),
      ("graft/operators/Curation.scala", "posexplode(graft.functions.TokenWindows.of(col(\"t\"), ExactSubstrL))"),
      ("graft/operators/Curation.scala", "posexplode(col(\"c\")).as(Seq(\"pid\", \"n\"))"),
      // a brand's top-k part list
      ("graft/operators/Aggregates.scala", "posexplode(col(\"topk\"))"))
    val hits = for {
      (file, text) <- sources if !kernels(file)
      line <- text.linesIterator.toSeq
      code = line.split("//", 2)(0)
      if !code.trim.startsWith("*") && !code.trim.startsWith("/*")
      if raw.findFirstIn(code).isDefined
    } yield file -> line.trim
    val stray = hits.filterNot { case (f, l) => allowed.exists { case (af, frag) => af == f && l.contains(frag) } }
    assert(stray.isEmpty,
      s"rule sketch-readout: sketch read-outs outside their kernels:\n${stray.mkString("\n")}")
    val unused = allowed.filterNot { case (af, frag) => hits.exists { case (f, l) => af == f && l.contains(frag) } }
    assert(unused.isEmpty, s"rule sketch-readout: stale allow-list entries $unused")
  }

  test("rule token-model: corpus text is split and case-folded only in " +
    "graft.Tokens") {
    // a split on " " or "\\s+", an oracle string_split or
    // regexp_split_to_array, a toLowerCase( or a 0x20 byte test outside
    // Tokens.scala is a hand-rolled tokenizer, unless it is one of the
    // few splits below that do not read document text
    val raw = ("""split\(.*"( |\\\\s\+)"|string_split\(|regexp_split_to_array\(|""" +
      """toLowerCase\(|[=!]=\s*0x20\b""").r
    val allowed = Seq(
      // BPE: symbol sequences are joined by two spaces, merge pairs by one
      ("graft/operators/Curation.scala", """val Array(a, b) = bp.split(" ")"""),
      ("graft/operators/Curation.scala", """val Array(a, b) = pair.split(" ")"""),
      ("graft/SparkEntry.scala", "string_split(trim(seq), '  ')"),
      // MakeScale's generator salts token positions, empties kept
      ("graft/MakeScale.scala", """text.split(" ", -1)"""),
      // the UpsertSink manifest header is space-separated fields
      ("graft/streaming/UpsertSink.scala", """split(" ", -1)"""),
      // Bench reads the first field of /proc/loadavg
      ("graft/Bench.scala", """split("\\s+")(0)"""))
    val hits = for {
      (file, text) <- sources if file != "graft/Tokens.scala"
      line <- text.linesIterator.toSeq
      code = line.split("//", 2)(0)
      if !code.trim.startsWith("*") && !code.trim.startsWith("/*")
      if raw.findFirstIn(code).isDefined
    } yield file -> line.trim
    val stray = hits.filterNot { case (f, l) => allowed.exists { case (af, frag) => af == f && l.contains(frag) } }
    assert(stray.isEmpty,
      s"rule token-model: tokenization outside graft.Tokens:\n${stray.mkString("\n")}")
    val unused = allowed.filterNot { case (af, frag) => hits.exists { case (f, l) => af == f && l.contains(frag) } }
    assert(unused.isEmpty, s"rule token-model: stale allow-list entries $unused")
  }

  test("rule session-config: SparkSession.builder appears only in " +
    "GraftSession, in src/main and src/test") {
    // one builder, so every entry point and every spec runs under the
    // engine's settings (codegen cache, AQE, time zone, extensions)
    val call = """SparkSession\s*\.\s*builder\s*\(""".r
    val builders = for {
      dir <- Seq("src/main/scala", "src/test/scala")
      (file, text) <- scalaFiles(dir) if call.findFirstIn(text).isDefined
    } yield s"$dir/$file"
    assert(builders == Seq("src/main/scala/graft/GraftSession.scala"),
      s"rule session-config: session builders in $builders")
  }

  test("rule entry-points: def main( appears only in Bench, Verify, Atlas, " +
    "MakeScale and Dev") {
    val mains = sources.collect { case (file, text) if text.contains("def main(") => file }
    assert(mains.toSet == Set("Bench", "Verify", "Atlas", "MakeScale", "Dev")
      .map(n => s"graft/$n.scala"), s"rule entry-points: mains in $mains")
  }
}
