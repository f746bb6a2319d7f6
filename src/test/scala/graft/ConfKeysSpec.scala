package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The library's own `spark.graft.*` settings are a closed set: a new
  * dial must be added here, in README and in a test that runs both of
  * its sides — never silently. Likewise the environment: only
  * [[HarnessEnv]]'s table reads it.
  */
class ConfKeysSpec extends AnyFunSuite {
  private def sources[A](read: Path => Seq[A]): Seq[A] = {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the project root: $root")
    scala.util.Using.resource(Files.walk(root)) { files =>
      files.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
        .flatMap(read)
    }
  }

  test("src/main reads exactly the documented spark.graft.* settings") {
    val key = """spark\.graft\.[A-Za-z0-9_]+(?:\.[A-Za-z0-9_]+)*""".r
    val found = sources(f => key.findAllIn(Files.readString(f)).toSeq).toSet
    assert(found == Set("spark.graft.kernelSpread", "spark.graft.index.root"),
      s"spark.graft.* settings in src/main: ${found.toSeq.sorted.mkString(", ")}")
  }

  test("src/main reads the environment only through HarnessEnv") {
    val readers = sources { f =>
      val src = Files.readString(f)
      if (src.contains("sys.env") || src.contains("System.getenv"))
        Seq(f.getFileName.toString) else Nil
    }
    assert(readers == Seq("HarnessEnv.scala"),
      s"files reading the environment: ${readers.sorted.mkString(", ")}")
  }
}
