package graft

import org.scalatest.funsuite.AnyFunSuite

/** Every local session comes from [[LocalSession]]: a second builder lets
  * one tool measure a differently configured engine than another. */
class LocalSessionSpec extends AnyFunSuite {

  test("one session builder: only LocalSession and CollocationsCli build a SparkSession") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val call = "SparkSession" + ".builder" // split, so this file does not match itself
    val roots = Seq("src/main", "src/test").map(Paths.get(_))
    roots.foreach(r => assert(Files.isDirectory(r), s"$r not found: the suite runs from the repo root"))
    val builders = roots.flatMap { r =>
      val walk = Files.walk(r)
      try walk.iterator().asScala
        .filter(p => p.toString.endsWith(".scala") && Files.readString(p).contains(call))
        .map(_.getFileName.toString).toList
      finally walk.close()
    }
    assert(builders.sorted == Seq("CollocationsCli.scala", "LocalSession.scala"),
      s"files calling $call: ${builders.sorted.mkString(", ")}")
  }
}
