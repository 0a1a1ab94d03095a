package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The measurement surface is these mains plus the out-of-process
  * benchmark in `perfbench/`. A one-off probe main kept in-tree grows
  * code nothing calls, so a new main needs a deliberate edit here. */
class MainsSpec extends AnyFunSuite {

  test("src/main defines exactly the allowlisted mains") {
    val root = Paths.get("src/main")
    assert(Files.isDirectory(root), s"run from the repo root, not ${root.toAbsolutePath}")
    val mains = Files.walk(root).iterator.asScala
      .filter(_.toString.endsWith(".scala"))
      .flatMap { f =>
        val src = Files.readString(f)
        val pkg = "(?m)^package\\s+([\\w.]+)".r.findFirstMatchIn(src).map(_.group(1))
        "def main\\(".r.findAllMatchIn(src).map { m =>
          val obj = "object\\s+(\\w+)".r.findAllMatchIn(src.take(m.start))
            .toSeq.last.group(1)
          pkg.fold(obj)(p => s"$p.$obj")
        }
      }.toSet
    assert(mains == Set("Bench", "Verify", "GenScale", "ScaleProbe",
      "ExplainDump", "BroadcastAudit", "examples.ReadmeExample")
      .map("graft." + _))
  }
}
