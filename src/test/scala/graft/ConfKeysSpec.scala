package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The library's own `spark.graft.*` settings are a closed set: a new
  * dial must be added here, in README and in a test that runs both of
  * its sides — never silently. Likewise the environment: only
  * [[HarnessEnv]]'s table reads it; driver frames: only
  * [[graft.plans.FoldDriverRelation]] folds them; near-dup buckets:
  * only [[graft.operators.Dedup]] probes and collects them; listeners:
  * only [[graft.operators.PhaseStats]] registers one; and every
  * definition in src/main has a reader.
  */
class ConfKeysSpec extends AnyFunSuite {
  private def sources[A](read: Path => Seq[A]): Seq[A] = sourcesIn("src/main/scala")(read)

  private def sourcesIn[A](dir: String)(read: Path => Seq[A]): Seq[A] = {
    val root = Paths.get(dir)
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

  test("driver frames have one fold path") {
    val localRelations = sources { f =>
      val src = Files.readString(f)
      if (f.toString.contains("/graft/sources/") &&
          Seq("LocalRelation", "createDataFrame", "createDataset").exists(src.contains))
        Seq(f.getFileName.toString) else Nil
    }
    assert(localRelations.isEmpty,
      s"graft.sources files building a LocalRelation: ${localRelations.sorted.mkString(", ")}")
    val folds = sources { f =>
      val src = Files.readString(f)
      Seq("CollapseLocalProjects", "ConvertToLocalRelation").filter(src.contains)
        .map(n => s"${f.getFileName}: $n")
    }
    assert(folds.isEmpty, s"second driver-fold paths in src/main: ${folds.sorted.mkString(", ")}")
  }

  test("near-dup buckets are probed and collected only in operators/Dedup") {
    // the bucket-size probe and the per-bucket member collect (a struct
    // led by doc_id) are the bucket-local verify pipeline's two steps:
    // a file naming either outside Dedup is a second copy of it
    val steps = Seq("probeBuckets(", """collect_list(struct(col("doc_id")""")
    val homes = sources { f =>
      val src = Files.readString(f)
      steps.filter(src.contains)
        .map(_ -> Paths.get("src/main/scala").relativize(f).toString)
    }.groupMap(_._1)(_._2)
    assert(homes == steps.map(_ -> Seq("graft/operators/Dedup.scala")).toMap,
      s"bucket verify steps by file: $homes")
  }

  test("PhaseStats registers the only listener and nothing swaps job groups") {
    // one listener per application counts phases, stream progress and
    // the telemetry accumulators; a phase tags its jobs, so a caller's
    // job group stays on them
    val calls = Seq("addSparkListener", "streams.addListener", "setJobGroup",
      "clearJobGroup")
    val decl = "(?<![A-Za-z0-9_])def\\s+([A-Za-z_][A-Za-z0-9_]*)".r
    val lines = sources { f =>
      val obj = f.getFileName.toString.stripSuffix(".scala")
      var inDef = "" // the def the line sits in, by the nearest one above
      Files.readAllLines(f).asScala.toSeq.flatMap { l =>
        decl.findFirstMatchIn(l).foreach(m => inDef = m.group(1))
        calls.filter(l.contains).map(c => s"$obj.$inDef: $c")
      }
    }
    assert(lines == Seq("PhaseStats.listenerOf: addSparkListener"),
      s"listener registrations and job-group calls in src/main: ${lines.sorted.mkString(", ")}")
  }

  test("every def in src/main is referenced outside its own declaration") {
    // a name counts as referenced when its whole-token occurrences in
    // src/main, src/test and perfbench/src outnumber its declarations.
    // An `override def` implements an inherited member the engine calls,
    // so it declares nothing new; main/apply/unapply are called by name
    // by the JVM or the compiler.
    val ident = "[A-Za-z_][A-Za-z0-9_]*".r
    val decl = "(?<![A-Za-z0-9_])def\\s+([A-Za-z_][A-Za-z0-9_]*)".r
    val tokens = Seq("src/main/scala", "src/test/scala", "perfbench/src")
      .flatMap(d => sourcesIn(d)(f => ident.findAllIn(Files.readString(f)).toSeq))
      .groupMapReduce(identity)(_ => 1)(_ + _)
    val decls = sources { f =>
      val src = Files.readString(f)
      decl.findAllMatchIn(src).map { m =>
        val line = src.substring(src.lastIndexOf('\n', m.start) + 1, m.start)
        (m.group(1), line.contains("override"))
      }.toSeq
    }
    val declared = decls.groupMapReduce(_._1)(_ => 1)(_ + _)
    val unread = decls.collect { case (n, false) => n }.distinct
      .filterNot(Set("main", "apply", "unapply"))
      .filter(n => tokens.getOrElse(n, 0) <= declared(n))
    assert(unread.isEmpty, s"defs no code references: ${unread.sorted.mkString(", ")}")
  }
}
