package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** How a partition is overwritten in place is decided in one module:
  * `Io.writePartitioned` is the only dynamic-overwrite writer, and the
  * streaming batch stores write through it. A source file elsewhere that
  * sets the overwrite mode itself fails this check. */
class OverwriteModeGuardSpec extends AnyFunSuite {

  test("partitionOverwriteMode appears in graft/sources/Io.scala only") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root: $root")
    val owner = root.resolve("graft/sources/Io.scala")
    val sources = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(sources.contains(owner))
    val offenders = for {
      file <- sources if file != owner
      (line, n) <- Files.readAllLines(file).asScala.zipWithIndex
      if line.contains("partitionOverwriteMode")
    } yield s"$file:${n + 1}: ${line.trim}"
    assert(offenders.isEmpty, offenders.mkString("\n", "\n", ""))
    assert(Files.readString(owner).contains("partitionOverwriteMode"))
  }
}
