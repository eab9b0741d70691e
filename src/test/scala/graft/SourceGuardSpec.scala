package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source-level guards: every session comes from `GraftSession`, the
  * program reads no environment knob beyond the two it documents, and
  * the registry keeps no memo or temporary directory outside
  * `Memo`/`Scratch`. A pure text scan of `src/` — no Spark.
  */
class SourceGuardSpec extends AnyFunSuite {
  private val src = Paths.get(sys.props("user.dir"), "src")

  private def scalaFiles(root: Path): Seq[Path] = {
    val st = Files.walk(root)
    try st.iterator.asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala"))
      .toVector
    finally st.close()
  }

  /** (file:line, line) for every line of `files` matching `pattern` */
  private def hits(files: Seq[Path], pattern: String): Seq[(String, String)] =
    files.flatMap { f =>
      Files.readAllLines(f).asScala.zipWithIndex.collect {
        case (line, i) if line.contains(pattern) =>
          (s"${src.relativize(f)}:${i + 1}", line.trim)
      }
    }

  test("GraftSession is the only session builder") {
    // split so this file does not match itself
    val builder = "SparkSession" + ".builder"
    val offenders = hits(scalaFiles(src), builder)
      .filterNot { case (at, _) => at.startsWith("main/scala/graft/GraftSession.scala:") }
    assert(offenders.isEmpty,
      s"build sessions with GraftSession:\n${offenders.mkString("\n")}")
  }

  test("the program reads only SPARK_GRAFT_CPUS and SPARK_GRAFT_SF_DIR") {
    val allowed = Set("SPARK_GRAFT_CPUS", "SPARK_GRAFT_SF_DIR")
    val named = """(?:sys\.env(?:\.get|\.getOrElse|\.contains)?|System\.getenv)\(\s*"([^"]*)"""".r
    val main = scalaFiles(src.resolve("main"))
    val reads = hits(main, "sys.env") ++ hits(main, "System.getenv")
    val offenders = reads.filter { case (_, line) =>
      val names = named.findAllMatchIn(line).map(_.group(1)).toSeq
      // a read whose name is not a literal cannot be checked: refuse it
      names.isEmpty || names.exists(!allowed.contains(_))
    }
    assert(reads.nonEmpty, s"no environment reads found under $src")
    assert(offenders.isEmpty,
      s"environment knobs outside $allowed:\n${offenders.mkString("\n")}")
  }

  test("registry memos and temporary directories go through Memo or Scratch") {
    // a memo map outlives the entry that filled it with no lifetime
    // (Bench cannot clear it, nothing deletes its store): TrieMap, a
    // map keyed by SparkSession, or a temporary directory or file made
    // in the registry or in a test (tests delete theirs through
    // Memo.tempDir)
    val mapBySession = """Map\b.*\[\(?SparkSession\b""".r
    val queries = scalaFiles(src.resolve("main/scala/graft/queries"))
    val tests = scalaFiles(src.resolve("test"))
    // split so this file does not match itself; no `Files.` prefix, so a
    // static import or a call split across lines is caught too
    val tempDir = "create" + "Temp"
    val offenders = (hits(queries, "TrieMap") ++
      hits(queries ++ tests, tempDir) ++
      hits(queries, "SparkSession").filter { case (_, line) =>
        mapBySession.findFirstIn(line).isDefined })
      .distinct.sorted
    assert(queries.nonEmpty, s"no registry sources under $src")
    assert(offenders.isEmpty,
      s"use graft.Memo (fixture/result/tempDir) or graft.Scratch.tempDir:\n" +
        offenders.mkString("\n"))
  }
}
