package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every option the program reads is documented in one place: the set of
  * `spark.graft.*` configuration keys and environment variables named in
  * `src/main/scala` equals the set listed in the README's "Options" table.
  * Adding, removing or renaming an option without updating that table
  * fails this check, and the table's length is the option count. */
class OptionsGuardSpec extends AnyFunSuite {

  private val ConfKey = "\"(spark\\.graft\\.[A-Za-z.]+)\"".r
  private val EnvVar =
    "(?:sys\\.env(?:\\.get|\\.getOrElse|\\.contains|\\.apply)?|System\\.getenv)\\(\\s*\"([A-Za-z0-9_]+)\"".r
  private val TableRow = "^\\|\\s*`([^`]+)`\\s*\\|".r

  test("spark.graft.* keys and environment variables read in src/main equal the README Options table") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root: $root")
    val code = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).map(Files.readString).toSeq
    val read = code.flatMap(s =>
      ConfKey.findAllMatchIn(s).map(_.group(1)) ++ EnvVar.findAllMatchIn(s).map(_.group(1))).toSet
    assert(read.exists(_.startsWith("spark.graft.")) && read.exists(!_.startsWith("spark.")), read)

    val readme = Files.readAllLines(Paths.get("README.md")).asScala.toSeq
    val section = readme.dropWhile(_ != "## Options").drop(1).takeWhile(!_.startsWith("## "))
    assert(section.nonEmpty, "README.md has no \"## Options\" section")
    val documented = section.flatMap(l => TableRow.findFirstMatchIn(l).map(_.group(1))).toSet

    assert(read -- documented === Set.empty, "read in src/main but not in the README Options table")
    assert(documented -- read === Set.empty, "in the README Options table but not read in src/main")
  }
}
