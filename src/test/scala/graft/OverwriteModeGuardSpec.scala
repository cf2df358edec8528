package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Decisions that live in one module each. A token in the table below
  * may appear, within its scope, only in its owner file:
  *  - how a partition is overwritten in place: `Io.writePartitioned` is
  *    the only dynamic-overwrite writer, and the streaming batch stores
  *    write through it;
  *  - how an iterative operator sets up the session it loops on (the
  *    clone, its checkpoint dir, AQE off, its width, re-binding plans
  *    between sessions) and when a loop fits one task: `Loop`;
  *  - which coarse cell a vector falls in, and which cells it probes:
  *    `Quantize`'s cell rule. The tokens are the column and field names
  *    only that rule uses (a windowed ranking over a codebook
  *    cross-join would bring them back);
  *  - which centre is nearest to a vector by L2, and how a driver-side
  *    dot product or sum of squares is folded: `Quantize`'s nearest-centre
  *    rule and `dotD`. The tokens are the field names only that rule
  *    uses and the fold's zero (a local struct argmin or a local fold
  *    would bring them back);
  *  - how a vector's int8 scalar codes are stepped and how a Lloyd
  *    round divides a cell's exact component sums back out:
  *    `Quantize.int8Scale` and `Quantize.lloydMeans`. The tokens are the
  *    int8 step's divisor and the mean's division chain;
  *  - how a shot read builds its file index and its Parquet reader:
  *    `Io.scan` and `ShotParquet`, so no second relation builder or
  *    reader cache appears elsewhere.
  * A source file elsewhere in the scope that names a token fails this
  * check. */
class OverwriteModeGuardSpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala")

  /** (tokens, owner file, scope), paths under `src/main/scala`. */
  private val owners = Seq(
    (Seq("partitionOverwriteMode"), "graft/sources/Io.scala", ""),
    (Seq("newSession()", "Ckpt.propagate", "DatasetBridge.ofRows",
      "spark.sql.adaptive.enabled", "localCutoff\"", "spark.graft.cc.partitions"),
      "graft/operators/Loop.scala", "graft/operators"),
    (Seq("\"ccos\"", "\"crk\"", "\"cent_id\"", "\"negid\""),
      "graft/operators/Quantize.scala", "graft/operators"),
    (Seq("\"l2negd\"", "\"l2negid\"", "foldLeft(0.0)"),
      "graft/operators/Quantize.scala", "graft/operators"),
    (Seq("255.0", "toDouble / 1e6 /"), "graft/operators/Quantize.scala", "graft/operators"),
    (Seq("buildReaderWithPartitionValues", "InMemoryFileIndex"), "graft/sources/Io.scala", ""))

  owners.foreach { case (tokens, ownerPath, scopePath) =>
    val verb = if (tokens.size == 1) "appears" else "appear"
    val scope = if (scopePath.isEmpty) "" else s" (scope $scopePath)"
    test(s"${tokens.mkString(", ")} $verb in $ownerPath only$scope") {
      assert(Files.isDirectory(root), s"run from the repository root: $root")
      val owner = root.resolve(ownerPath)
      val sources = Files.walk(root.resolve(scopePath)).iterator().asScala
        .filter(_.toString.endsWith(".scala")).toSeq
      assert(sources.contains(owner))
      val offenders = for {
        file <- sources if file != owner
        (line, n) <- Files.readAllLines(file).asScala.zipWithIndex
        token <- tokens if line.contains(token)
      } yield s"$file:${n + 1}: ${line.trim}"
      assert(offenders.isEmpty, offenders.mkString("\n", "\n", ""))
      assert(tokens.exists(Files.readString(owner).contains))
    }
  }
}
