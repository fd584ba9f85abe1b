package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Every cache and checkpoint lifetime in `src/main` goes through
  * [[Pins]]: no raw pin or release call may appear anywhere else. */
class SourceLintSpec extends AnyFunSuite {
  test("no .cache(), .persist(, .localCheckpoint( or unpersist in src/main outside Pins.scala") {
    val banned = Seq(".cache()", ".persist(", ".localCheckpoint(", "unpersist")
    val files = Files.walk(Paths.get("src/main")).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && p.getFileName.toString != "Pins.scala")
      .toSeq
    assert(files.size > 50, s"src/main not found from ${Paths.get("").toAbsolutePath}")
    val hits = files.flatMap { (p: Path) =>
      Files.readAllLines(p).asScala.zipWithIndex.collect {
        case (line, i) if banned.exists(line.contains) => s"$p:${i + 1}: ${line.trim}"
      }
    }
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
