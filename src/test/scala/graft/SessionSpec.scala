package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every Spark entry point builds its session through [[Session]], so the
  * bench, the oracle dump, the tests and the dev tools share one conf.
  */
class SessionSpec extends AnyFunSuite {

  test("graft.Session is the one place a session builder is called") {
    val call = "SparkSession" + ".builder("
    val sites = Seq("src/main", "src/test").flatMap { root =>
      Files.walk(Paths.get(root)).iterator().asScala
        .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala"))
        .filter(p => Files.readString(p).contains(call))
        .toSeq
    }
    assert(sites.map(_.toString) === Seq("src/main/scala/graft/Session.scala"))
  }
}
