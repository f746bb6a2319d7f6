package graft

import org.apache.spark.launcher.JavaModuleOptions
import org.apache.spark.sql.SparkSession

/** The one session recipe every graft entry point builds from.
  *
  * [[session]] installs [[GraftExtensions]], runs the session in UTC (the
  * testdata's naive timestamps then read as their stored wall times, as
  * DuckDB reads them), turns the UI off and raises the object-hash
  * aggregate threshold below. On a `local-cluster` master the executors
  * are forked plain-java processes, so it also hands them this JVM's
  * class path (the graft classes are not in `SPARK_HOME/jars`) and the
  * JDK17 `--add-opens` set spark-submit would inject. Callers add only
  * their own settings: app name, executor memory, AQE or state-store
  * dials.
  *
  * `objectHashAggregate.sortBased.fallbackThreshold` (default 128):
  * Spark falls back from hash- to sort-based aggregation once a task's
  * in-memory map holds this many GROUPS — a guard for aggregates with
  * unbounded per-group buffers (`collect_list`). Every
  * `TypedImperativeAggregate` in this library has buffers bounded BY
  * CONSTRUCTION ([[graft.functions.TopKScored]] ≤ k elements,
  * [[graft.functions.CollectPairsCapped]] ≤ maxElems,
  * [[graft.functions.CountMin]] a fixed 4×64 array), so hash
  * aggregation is safe at any group count, and the 128 default is
  * actively harmful: past it, the map-side partial DEGRADES INTO A
  * SORT of the full input — for q138 exactly the per-pair sort the
  * bounded aggregate exists to avoid. Measured at the 10× hard-negative
  * stress (k=20, 20k anchors/task): threshold 128 → 509 MB spill and
  * the aggregate LOSING to the window form; raised → zero spill,
  * bounded map memory (entries × O(k) bytes). Sizing uses the LARGEST
  * bounded buffer in the library (CollectPairsCapped at q127's
  * dfCap+1 = 51 pairs ≈ 850 B/entry): 2¹⁸ entries caps the worst-case
  * map at ~210 MB/task — sized for the 4 GB-heap executors the dial
  * tables assume — while still holding every real per-task group count
  * the stress suite observed (q138's partials peaked at ~40k groups/
  * task); the sort fallback remains as a backstop past it.
  */
object GraftConf {
  val ObjAggFallbackKey = "spark.sql.objectHashAggregate.sortBased.fallbackThreshold"
  val ObjAggFallbackEntries = (1 << 18).toString

  def session(master: String, shufflePartitions: Int): SparkSession.Builder = {
    val b = SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config(ObjAggFallbackKey, ObjAggFallbackEntries)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
    if (master.startsWith("local-cluster"))
      b.config("spark.executor.extraClassPath", System.getProperty("java.class.path"))
        .config("spark.executor.extraJavaOptions", JavaModuleOptions.defaultModuleOptions())
    else b
  }
}
