package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Lexical pin on the program's outer surface (the AtlasSpec style:
  * pure JVM, reads the source tree from the repo root). Environment
  * knobs and entry points each have one named rule; a new `sys.env`
  * read or a new `main` must be a deliberate edit here, not a dev
  * probe that outlives its question.
  */
class SurfaceSpec extends AnyFunSuite {

  private lazy val sources: Seq[(String, String)] = {
    val root = Paths.get("src/main/scala")
    assume(Files.isDirectory(root))
    val s = Files.walk(root)
    try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
      .sortBy(_.toString)
      .map((p: Path) => root.relativize(p).toString -> new String(Files.readAllBytes(p), "UTF-8"))
    finally s.close()
  }

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
  }

  test("rule entry-points: def main( appears only in Bench, Verify, Atlas, " +
    "MakeScale and Dev") {
    val mains = sources.collect { case (file, text) if text.contains("def main(") => file }
    assert(mains.toSet == Set("Bench", "Verify", "Atlas", "MakeScale", "Dev")
      .map(n => s"graft/$n.scala"), s"rule entry-points: mains in $mains")
  }
}
