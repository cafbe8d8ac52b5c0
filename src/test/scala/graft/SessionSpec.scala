package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every main runs on the one [[Session]] profile: no other session
  * builder may appear in the program sources.
  */
class SessionSpec extends AnyFunSuite {
  test("SparkSession.builder appears in src/main only in graft/Session.scala") {
    val root = Paths.get("src/main/scala")
    val walk = Files.walk(root)
    val sources = try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    val builders = sources
      .filter(f => Files.readString(f).contains("SparkSession.builder"))
      .map(f => root.relativize(f).toString)
    assert(builders == List("graft/Session.scala"))
  }
}
