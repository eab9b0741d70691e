package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source-level guards: every session comes from `GraftSession`, and
  * the program reads no environment knob beyond the two it documents.
  * A pure text scan of `src/` — no Spark.
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
}
