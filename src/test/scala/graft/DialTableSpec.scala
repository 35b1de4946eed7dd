package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** README's "Configuration dials" table lists exactly the `spark.graft.*`
  * keys the sources read: a dial added, renamed or deleted in `src/main`
  * without its row (or a row left for a deleted dial) fails here. */
class DialTableSpec extends AnyFunSuite {

  private val Key = """spark\.graft\.[A-Za-z0-9_.]*[A-Za-z0-9_]""".r

  test("README dial table and the spark.graft.* keys in src/main agree") {
    val readme = Files.readAllLines(Paths.get("README.md")).asScala
    val table = readme
      .dropWhile(_ != "## Configuration dials").drop(1)
      .takeWhile(!_.startsWith("## "))
      .filter(_.startsWith("| `spark.graft."))
      .map(row => Key.findFirstIn(row.split('|')(1)).get)
    assert(table.size == table.distinct.size, s"duplicate rows: ${table.diff(table.distinct)}")
    val sources: Seq[Path] = {
      val walk = Files.walk(Paths.get("src", "main"))
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    }
    val inCode = sources
      .flatMap(p => Key.findAllIn(new String(Files.readAllBytes(p), "UTF-8")))
      .toSet
    assert(table.toSet == inCode,
      s"in README only: ${table.toSet -- inCode}; in src/main only: ${inCode -- table.toSet}")
  }
}
