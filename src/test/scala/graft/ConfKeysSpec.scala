package graft

import org.scalatest.funsuite.AnyFunSuite

/** The engine's own `spark.graft.*` options, pinned: every such string
  * literal under src/main/scala is one of these three. A new knob must
  * be added here on purpose, with the reason it cannot be a constant. */
class ConfKeysSpec extends AnyFunSuite {

  private val expected = Set(
    "spark.graft.stagingDir",
    "spark.graft.dedup.preflight",
    "spark.graft.dedup.preflightBudget")

  test("src/main/scala reads exactly the pinned spark.graft.* keys") {
    val literal = "\"(spark\\.graft\\.[A-Za-z.]+)".r
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root), s"run from the repo root: $root")
    val files = java.nio.file.Files.walk(root)
    val found = try {
      import scala.jdk.CollectionConverters._
      files.iterator().asScala.filter(_.toString.endsWith(".scala")).flatMap { p =>
        literal.findAllMatchIn(
          new String(java.nio.file.Files.readAllBytes(p), "UTF-8")).map(_.group(1))
      }.toSet
    } finally files.close()
    assert(found === expected)
  }
}
