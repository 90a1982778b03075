package graft

import java.nio.file.{Files, Path, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** The single seams, pinned by a scan of the sources (the ConfKeysSpec
  * style): engine functions are registered in one place,
  * [[GraftExtensions]], and every session is built by
  * [[GraftExtensions.session]]. */
class SeamsSpec extends AnyFunSuite {

  private def sources(dir: String): Seq[(Path, String)] = {
    val root = Paths.get(dir)
    assert(Files.isDirectory(root), s"run from the repo root: $root")
    val files = Files.walk(root)
    try {
      import scala.jdk.CollectionConverters._
      files.iterator().asScala.filter(_.toString.endsWith(".scala")).map { p =>
        p -> new String(Files.readAllBytes(p), "UTF-8")
      }.toList
    } finally files.close()
  }

  test("only GraftExtensions.scala touches the function registry") {
    val registry = "functionRegistry|createOrReplaceTempFunction".r
    val hits = sources("src/main/scala").collect {
      case (p, text) if registry.findFirstIn(text).nonEmpty => p.getFileName.toString
    }
    assert(hits.filterNot(_ == "GraftExtensions.scala") === Nil)
  }

  test("src/main and src/test hold exactly one session builder") {
    val builder = "SparkSession\\.builder".r
    val hits = (sources("src/main/scala") ++ sources("src/test/scala")).flatMap {
      case (p, text) => builder.findAllMatchIn(text).map(_ => p.getFileName.toString)
    }
    assert(hits === Seq("GraftExtensions.scala"))
  }
}
