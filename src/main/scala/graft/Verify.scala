package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated query-name filter (local targeted
    // re-checks; the driver always passes exactly two args)
    val (sfDir, outDir, only) = args match {
      case Array(s, o) => (s, o, None)
      case Array(s, o, f) => (s, o, Some(f.split(",").toSet))
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftConf.session(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Each result is published via temp-dir + atomic rename, with any
    // OLD result renamed ASIDE first (not deleted in place): a reader
    // only ever observes a COMPLETE dir — old or new — never a
    // half-deleted or half-written one (the delete-then-move window of
    // the previous version). The dir can still be briefly ABSENT: the
    // gap between move(dst→old) and move(tmp→dst) is one rename wide,
    // so a perfectly-timed reader sees missing-then-retry rather than
    // corrupt data. A second Verify racing on the same outDir — the
    // failure mode that zeroed one round's driver artifacts — observes
    // the same complete-or-absent guarantee.
    def rmTree(p: java.nio.file.Path): Unit =
      if (Files.exists(p)) {
        import scala.jdk.CollectionConverters._
        // Using closes the walk stream (each walk holds a directory
        // handle; the old unclosed form leaked one per replaced dir)
        scala.util.Using.resource(Files.walk(p)) { st =>
          st.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
        }
      }
    var ran = 0
    var failed = List.empty[String]
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      val tmp = Paths.get(outDir, s".tmp_$name")
      val old = Paths.get(outDir, s".old_$name")
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(tmp.toString)
        val dst = Paths.get(outDir, name)
        rmTree(old) // leftover from a crashed previous run
        if (Files.exists(dst))
          Files.move(dst, old, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        Files.move(tmp, dst, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        rmTree(old)
        ran += 1
      } catch { case e: Throwable =>
        failed ::= name
        System.err.println(s"[verify] $name failed: ${e.getMessage}"); if (sys.env.contains("GRAFT_VERIFY_TRACE")) e.printStackTrace()
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    // temp + atomic rename: a concurrent reader sees the old complete
    // file or the new complete file, never a truncated one
    val sqlTmp = Paths.get(outDir, ".oracle_sql.json.tmp")
    Files.writeString(sqlTmp, json)
    Files.move(sqlTmp, Paths.get(s"$outDir/oracle_sql.json"),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    spark.stop()
    // an empty or partially-failed run must be LOUD — a zero-query dump
    // reads as a silently-passed gate otherwise
    if (ran == 0 || failed.nonEmpty) {
      System.err.println(
        s"[verify] FAILED: ran=$ran failed=${failed.reverse.mkString(",")}")
      sys.exit(1)
    }
    println(s"[verify] OK: $ran queries dumped")
  }
}
