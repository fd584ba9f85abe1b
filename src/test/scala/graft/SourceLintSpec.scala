package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Ideas with one home in `src/main` stay there: every cache and
  * checkpoint lifetime goes through [[Pins]], every SparkSession starts
  * from [[Session.builder]], the incremental near-dup probe stages the
  * twins share, the exact-dedup window, the near-dup collapse and the
  * md5 band candidates are defined once in `Dedup`, and Spark's static confs are
  * written only by [[GraftExtensions]] through the `GraftShims` bridge. */
class SourceLintSpec extends AnyFunSuite {
  /** `src/main` lines matching `hit`, outside the files named `homes`. */
  private def hitsOutside(homes: String*)(hit: String => Boolean): Seq[String] = {
    val files = Files.walk(Paths.get("src/main")).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && !homes.contains(p.getFileName.toString))
      .toSeq
    assert(files.size > 50, s"src/main not found from ${Paths.get("").toAbsolutePath}")
    files.flatMap { (p: Path) =>
      Files.readAllLines(p).asScala.zipWithIndex.collect {
        case (line, i) if hit(line) => s"$p:${i + 1}: ${line.trim}"
      }
    }
  }

  test("no .cache(), .persist(, .localCheckpoint( or unpersist in src/main outside Pins.scala") {
    val banned = Seq(".cache()", ".persist(", ".localCheckpoint(", "unpersist")
    val hits = hitsOutside("Pins.scala")(line => banned.exists(line.contains))
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  test("no SparkSession.builder in src/main outside Session.scala") {
    val hits = hitsOutside("Session.scala")(_.contains("SparkSession.builder"))
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  test("the PPJoin prefix slice and the best-match window live only in Dedup.scala") {
    val prefixSlice = """slice\(.*ceil\(""".r
    val hits = hitsOutside("Dedup.scala")(line =>
      prefixSlice.findFirstIn(line).isDefined || line.contains("""orderBy(col("jac").desc"""))
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  test("the content window, the non-representative filter and the md5 band candidates live only in Dedup.scala") {
    val banned = Seq("""partitionBy(md5(col("text")), length(col("text")))""",
      """col("id") =!= col("lbl")""", "minhashMd5CandidatesFrom(")
    val hits = hitsOutside("Dedup.scala")(line => banned.exists(line.contains))
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  test("Spark's static codegen and SQL-history confs are set only in GraftExtensions and GraftShims") {
    val banned = Seq("spark.sql.codegen.cache.maxEntries", "spark.sql.ui.retainedExecutions",
      "SparkConf", "setIfMissing")
    val hits = hitsOutside("GraftExtensions.scala", "GraftShims.scala")(line =>
      banned.exists(line.contains))
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
