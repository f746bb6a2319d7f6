package graft

/** Multi-JVM PERF rig for the third-decade analytics spillers (VERDICT
  * r13 task 3): q154/q156 at 1000× spill 790 MB / 7.7 GB under
  * `local[32]` + 32 static shuffle partitions — a partition-count
  * artifact (3M rows of sort input per task), and PLANS.md's
  * prescription (size post-shuffle partitions to 128–256 MB of sort
  * input via AQE advisory sizing) could not be validated in-process:
  * a single-JVM `local[N]` shares one heap across all task slots, so
  * no static local dial reproduces a cluster's per-executor memory
  * boundary. This main runs the queries on `local-cluster[W,C,M]` —
  * real forked executor JVMs with their OWN heaps — under AQE
  * coalescing sized by `advisoryPartitionSizeInBytes`, and reports
  * wall/shuffle/spill per query so the prescription is measured, not
  * prose.
  *
  * Args: master sfDir queryCsv shufflePartitions advisoryMB
  *   e.g. local-cluster[2,16,24576] /tmp/graft_stress/x1000 \
  *        q154_retention_cohorts,q156_session_paths 512 128
  * `shufflePartitions` is the AQE INITIAL partition number — set it
  * high and let coalescing find the advisory size (parallelismFirst is
  * disabled so the advisory target is honored, per the AQE docs).
  * Needs SPARK_HOME (worker launch) when the master is local-cluster.
  * Prints one CLUSTERPERF json line per query.
  */
object ClusterPerf {

  def main(args: Array[String]): Unit = {
    def usage(why: String): Nothing = {
      System.err.println(s"$why\n" +
        "usage: ClusterPerf <master> <sfDir> <queryCsv> <shufflePartitions> <advisoryMB>")
      sys.exit(2)
    }
    if (args.length != 5) usage(s"ClusterPerf takes 5 arguments, got ${args.length}")
    val Array(master, dir, queryCsv, partsArg, advisoryArg) = args
    def positive(name: String, raw: String): Int = raw.toIntOption.filter(_ > 0)
      .getOrElse(usage(s"$name=$raw: not a positive integer"))
    val parts = positive("shufflePartitions", partsArg)
    val advisoryMB = positive("advisoryMB", advisoryArg)
    val env = HarnessEnv.load()
    val spark = GraftConf.session(master, parts)
      .config("spark.executor.memory", env(HarnessEnv.ClusterPerfExecutorMem))
      .config("spark.sql.adaptive.enabled", "true")
      // the static control keeps AQE on (join planning unchanged) with
      // the partition count pinned at the initial value — the
      // configuration whose spill the prescription targets
      .config("spark.sql.adaptive.coalescePartitions.enabled",
        env(HarnessEnv.ClusterPerfCoalesce))
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes",
        (advisoryMB.toLong << 20).toString)
      // honor the advisory SIZE: by default AQE prefers parallelism and
      // ignores the advisory target when coalescing would reduce
      // parallelism below the cluster's slot count
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // multi-process proof, same discipline as ClusterSmoke: the numbers
    // below mean nothing if the tasks never left the driver JVM
    val driverPid = ProcessHandle.current().pid()
    val execPids = spark.sparkContext
      .parallelize(1 to 64, 64)
      .map(_ => ProcessHandle.current().pid()).distinct().collect().toSet
    println(s"""CLUSTERPERF_ENV {"master":"$master","driver_pid":$driverPid,""" +
      s""""executor_pids":[${execPids.mkString(",")}],""" +
      s""""multi_jvm":${execPids.size >= 2 && !execPids.contains(driverPid)},""" +
      s""""initial_partitions":$parts,"advisory_mb":$advisoryMB}""")
    queryCsv.split(",").filter(_.nonEmpty).foreach { name =>
      val fn = SparkEntry.queries(name)
      val times = (1 to 2).map { _ =>
        operators.PhaseStats.measure(spark.sparkContext, name)(
          fn(spark, dir).write.format("noop").mode("overwrite").save())
      }
      val warm = times.last
      println(s"""CLUSTERPERF {"query":"$name","master":"$master",""" +
        s""""initial_partitions":$parts,"advisory_mb":$advisoryMB,""" +
        s""""cold_sec":${times.head.wallSec},"warm_sec":${warm.wallSec},""" +
        s""""shuffle_write_bytes":${warm.shuffleWriteBytes},""" +
        s""""spilled_bytes":${warm.spillBytes}}""")
    }
    spark.stop()
    // local-cluster leaves non-daemon RPC threads; exit explicitly
    sys.exit(0)
  }
}
