package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The library's own `spark.graft.*` settings are a closed set: a new
  * dial must be added here, in README and in a test that runs both of
  * its sides — never silently.
  */
class ConfKeysSpec extends AnyFunSuite {
  test("src/main reads exactly the documented spark.graft.* settings") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the project root: $root")
    val key = """spark\.graft\.[A-Za-z0-9_]+(?:\.[A-Za-z0-9_]+)*""".r
    val found = scala.util.Using.resource(Files.walk(root)) { files =>
      files.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
        .flatMap((f: Path) => key.findAllIn(Files.readString(f)))
        .toSet
    }
    assert(found == Set("spark.graft.kernelSpread", "spark.graft.index.root"),
      s"spark.graft.* settings in src/main: ${found.toSeq.sorted.mkString(", ")}")
  }
}
