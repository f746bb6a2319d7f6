package graft

/** The one list of environment settings the harness mains read (Bench,
  * Verify, Stress, StreamStress, ClusterPerf), plus the build and test
  * gates: one row per setting with its type, its one default, what it
  * sets and the shipped path it measures.
  *
  * Each main calls [[load]] first, before any Spark session exists. A
  * name under one of [[Prefixes]] that no row declares, or a value its
  * row cannot parse, throws, naming the variable: a mistyped setting
  * never silently runs the default path. Nothing here reads the
  * environment when the object initialises, so specs call the harness
  * entry points (`StreamStress.run`, `Stress.genScaledEvents`) directly.
  * No other file in src/main reads the environment (ConfKeysSpec).
  */
object HarnessEnv {

  /** How a setting's raw string parses; `parse` throws
    * IllegalArgumentException with the reason. */
  final case class Kind[A](name: String, parse: String => A)

  final case class Setting[A](name: String, kind: Kind[A], default: A,
      doc: String, measures: String) {
    /** The value in `vars`, or the default when unset. */
    def in(vars: Map[String, String]): A = vars.get(name).fold(default) { raw =>
      try kind.parse(raw)
      catch {
        case e: IllegalArgumentException =>
          throw new IllegalArgumentException(s"$name=$raw: ${e.getMessage}")
      }
    }
  }

  /** A validated environment: `env(setting)` is the setting's value. */
  final class Env private[HarnessEnv] (vars: Map[String, String]) {
    def apply[A](s: Setting[A]): A = s.in(vars)
  }

  /** Every variable under these prefixes must be a declared row. */
  val Prefixes: Seq[String] =
    Seq("STRESS_", "STREAM_STRESS_", "CLUSTERPERF_", "GRAFT_", "SPARK_GRAFT_")

  /** Checks every variable of `vars` this table owns, once; throws one
    * IllegalArgumentException naming each unknown or malformed one. */
  def load(vars: Map[String, String] = sys.env): Env = {
    val unknown = vars.keys.toSeq.sorted
      .filter(k => Prefixes.exists(k.startsWith) && !all.exists(_.name == k))
      .map(k => s"$k is not a harness setting")
    val malformed = all.flatMap { s =>
      try { s.in(vars); None }
      catch { case e: IllegalArgumentException => Some(e.getMessage) }
    }
    val errors = unknown ++ malformed
    if (errors.nonEmpty) throw new IllegalArgumentException(
      errors.mkString("bad harness environment (rows in graft.HarnessEnv): ", "; ", ""))
    new Env(vars)
  }

  private def bad(why: String): Nothing = throw new IllegalArgumentException(why)

  private def int(min: Int) = Kind[Int](s"int >= $min",
    r => r.toIntOption.filter(_ >= min).getOrElse(bad(s"not an int >= $min")))
  private val long1 = Kind[Long]("long >= 1",
    r => r.toLongOption.filter(_ >= 1).getOrElse(bad("not a long >= 1")))
  private val double = Kind[Double]("double",
    r => r.toDoubleOption.getOrElse(bad("not a number")))
  private val bool = Kind[Boolean]("1|0|true|false", _.toLowerCase match {
    case "1" | "true" => true
    case "0" | "false" => false
    case _ => bad("not one of 1, 0, true, false")
  })
  private def oneOf(values: String*) = Kind[String](values.mkString("|"),
    r => if (values.contains(r)) r else bad(s"not one of ${values.mkString(", ")}"))
  /** Comma list, each name in `known`; "" is the empty list. */
  private def names(what: String, known: => Iterable[String]) =
    Kind[Seq[String]](s"comma list of $what", { r =>
      val ns = r.split(",").toSeq.filter(_.nonEmpty)
      val unknown = ns.filterNot(known.toSet)
      if (unknown.isEmpty) ns else bad(s"unknown $what ${unknown.mkString(", ")}")
    })
  /** `sep`-separated ints >= 1; exactly `arity` of them when arity > 0. */
  private def ints(sep: Char, arity: Int = 0) = Kind[Seq[Int]](s"'$sep' list of ints", { r =>
    val ns = r.split(sep).toSeq.filter(_.nonEmpty)
      .map(_.toIntOption.filter(_ >= 1).getOrElse(bad(s"not '$sep'-separated ints >= 1")))
    if (arity > 0 && ns.size != arity) bad(s"needs exactly $arity ints") else ns
  })
  private val string = Kind[String]("string", identity)
  private val path = Kind[String]("path", r => if (r.nonEmpty) r else bad("empty path"))
  private def opt[A](k: Kind[A]) = Kind[Option[A]](s"optional ${k.name}", r => Some(k.parse(r)))

  private val rows = scala.collection.mutable.ArrayBuffer.empty[Setting[_]]
  private def row[A](name: String, kind: Kind[A], default: A, doc: String,
      measures: String): Setting[A] = {
    val s = Setting(name, kind, default, doc, measures)
    rows += s
    s
  }

  // ---- shared by several mains
  val SfDir = row("SPARK_GRAFT_SF_DIR", path, "/root/testdata/sf0.1",
    "testdata Bench times and Stress replicates", "SparkEntry.benchQueries; Stress base corpus")
  val Cpus = row("SPARK_GRAFT_CPUS", int(1), Runtime.getRuntime.availableProcessors,
    "cores of local[N] and the session's shuffle partitions", "GraftConf.session")
  val StressFactor = row("STRESS_FACTOR", int(1), 10,
    "replicas per base row of the scaled corpora (dir x<factor>)", "Stress.genScaled*")

  // ---- Bench
  val BenchQuietLoad = row("SPARK_GRAFT_BENCH_QUIET_LOAD", double, 1.0,
    "1-min load average above which the quiet-box gate waits", "Bench quiet-box gate")
  val BenchQuietWaitSec = row("SPARK_GRAFT_BENCH_QUIET_WAIT_SEC", int(0), 300,
    "seconds the gate waits before timing a busy box as degraded", "Bench quiet-box gate")
  val BenchQuietSteal = row("SPARK_GRAFT_BENCH_QUIET_STEAL", double, 1.0,
    "steal % above which the gate waits and a run window is unclean", "Bench queries_clean")
  val BenchRuns = row("SPARK_GRAFT_BENCH_RUNS", int(1), 3,
    "timed runs per query; at 3 or more every query extends to 5", "Bench min-of-N")
  val BenchQueries = row("SPARK_GRAFT_BENCH_QUERIES",
    opt(names("bench queries", SparkEntry.benchQueries)), None,
    "time only these; unset = all", "SparkEntry.benchQueries")

  // ---- Verify
  val VerifyTrace = row("GRAFT_VERIFY_TRACE", bool, false,
    "print the stack trace of a query that fails", "Verify")

  // ---- Stress
  val StressMaster = row("STRESS_MASTER", opt(string), None,
    "master; local-cluster[W,C,M] forks executor JVMs (needs SPARK_HOME and " +
      "SPARK_SCALA_VERSION); unset = local[cpus]", "every Stress mode")
  val StressExecutorMem = row("STRESS_EXECUTOR_MEM", string, "8g",
    "executor heap under a local-cluster master", "every Stress mode")
  val StressQueries = row("STRESS_QUERIES", names("queries", SparkEntry.queries.keys),
    Seq("q127_containment_inverted", "q72_neardup_keep", "q124_mixture_materialize"),
    "queries timed on both corpora; \"\" = none", "SparkEntry.queries")
  val StressGenEmbed = row("STRESS_GEN_EMBED", bool, false,
    "generate the scaled embeddings with no embedding mode on", "Stress.genScaledEmbeddings")
  val StressGenEvents = row("STRESS_GEN_EVENTS", bool, false,
    "generate the scaled events corpus", "Stress.genScaledEvents")
  val StressCensus = row("STRESS_CENSUS", bool, true,
    "q127's uncapped shingle census per corpus", "q127_containment_inverted df cap")
  val StressInvariants = row("STRESS_INVARIANTS", bool, false,
    "q87's fixpoint invariants and its agreement with q128, q130", "Dedup fixpoint and CC")
  val StressContam = row("STRESS_CONTAM", bool, false,
    "time q163's contamination fraction", "PipelineQueries.contaminationFracFrame")
  val StressContamLaw = row("STRESS_CONTAM_LAW", oneOf("realistic", "scaled", "degenerate"),
    "realistic", "scaled-corpus eval suite: base eval docs, all their replicas, or doc_id % 10",
    "PipelineQueries.contaminationFracFrame")
  val StressSemdedup = row("STRESS_SEMDEDUP", bool, false,
    "time q132 at the base and the corpus-scaled k", "PipelineQueries.q132Frame")
  val StressSemdedupKs = row("STRESS_SEMDEDUP_KS", opt(ints(',')), None,
    "k ladder of STRESS_SEMDEDUP; unset = 8 base, 8 and 8*factor scaled", "q132Frame")
  val StressBands = row("STRESS_BANDS", opt(ints(',')), None,
    "band counts b of a b*2-band labeling scored against the planted truth", "Dedup.bandRows")
  val StressTruth = row("STRESS_TRUTH", bool, false,
    "score scaled q87 against the lifted base partition", "q87_neardup_fixpoint")
  val StressHardneg = row("STRESS_HARDNEG", opt(int(1)), None,
    "time q138's per-anchor cut at quantizer size k", "PipelineQueries.hardNegatives")
  val StressMargin = row("STRESS_MARGIN", opt(int(1)), None,
    "time q142's margin mining at quantizer size k", "PipelineQueries.marginMining")
  val StressSubstr = row("STRESS_SUBSTR", opt(int(1)), None,
    "time q145's exact-substring excision at window k", "PipelineQueries.exactSubstr")
  val StressChunk = row("STRESS_CHUNK", opt(ints(':', 2)), None,
    "time q149's chunker at chunk size and overlap C:O", "PipelineQueries.chunkOverlap")
  val StressBm25 = row("STRESS_BM25", bool, false,
    "time q147's BM25 top-k", "PipelineQueries.bm25TopK")
  val StressEditrep = row("STRESS_EDITREP", bool, false,
    "time q157's rep verify with its kernel-call census", "editDistanceNearDupRep")
  val StressDiversity = row("STRESS_DIVERSITY", bool, false,
    "time q151's exact and HLL forms, with the HLL error", "PipelineQueries.ngramDiversity")
  val StressPretrainE2e = row("STRESS_PRETRAIN_E2E", opt(long1), None,
    "run the q160 DAG per stage-2 form at this token budget", "PipelineQueries.q160Frame")
  val StressPretrainRep = row("STRESS_PRETRAIN_REP", oneOf("pairwise", "rep", "both"),
    "pairwise", "stage-2 form(s) of STRESS_PRETRAIN_E2E; both compares them", "q160Frame")
  val StressPagerank = row("STRESS_PAGERANK", opt(int(1)), None,
    "PageRank rounds on generated 20k and 20k*factor node graphs", "PageRank.run")

  // ---- StreamStress
  val StreamDir = row("STREAM_STRESS_DIR", opt(path), None,
    "corpus to stream; unset = the mode's table in /tmp/graft_stress/x10", "StreamStress")
  val StreamMaster = row("STREAM_STRESS_MASTER", opt(string), None,
    "master; local-cluster[W,C,M] forks executor JVMs; unset = local[cpus]", "StreamStress")
  val StreamExecutorMem = row("STREAM_STRESS_EXECUTOR_MEM", string, "8g",
    "executor heap under a local-cluster master", "StreamStress")
  val StreamPartitions = row("STREAM_STRESS_PARTITIONS", int(1), 8,
    "state-store partitions: store instances per batch", "streaming state stores")
  val StreamProvider = row("STREAM_STRESS_PROVIDER", oneOf("rocksdb", "hdfs"), "rocksdb",
    "state-store provider", "spark.sql.streaming.stateStore.providerClass")
  val StreamChangelog = row("STREAM_STRESS_ROCKSDB_CHANGELOG", bool, false,
    "checkpoint the RocksDB changelog, not full snapshots", "RocksDB state commits")
  val StreamMft = row("STREAM_STRESS_MFT", int(1), 2,
    "files per trigger of the analytics replay", "EventsStream.readStream")
  val StreamEmbed = row("STREAM_STRESS_EMBED", bool, false,
    "stream embeddings through the semantic near-dup", "EmbedStream.semanticNearDup")
  val StreamK = row("STREAM_STRESS_K", int(1), 80,
    "quantizer size of STREAM_STRESS_EMBED", "EmbedStream.semanticNearDup")
  val StreamCap = row("STREAM_STRESS_CAP", int(0), 1024,
    "exemplars per cell of STREAM_STRESS_EMBED", "EmbedStream.semanticNearDup")
  val StreamLabels = row("STREAM_STRESS_LABELS", bool, false,
    "drain into the label sink, check it against batch CC", "DocsStream.incrementalLabelSink")
  val StreamVerified = row("STREAM_STRESS_VERIFIED", bool, false,
    "id-descending replay through the verified near-dup", "DocsStream.nearDupVerified")
  val StreamPretrain = row("STREAM_STRESS_PRETRAIN", opt(long1), None,
    "composed pretrain stream at this token budget, with batch parity", "PretrainStream")
  val StreamPretrainOrder = row("STREAM_STRESS_PRETRAIN_ORDER",
    oneOf("ordered", "asis", "both"), "both", "replay order(s) of STREAM_STRESS_PRETRAIN",
    "PretrainStream")
  val StreamSkipPairwise = row("STREAM_STRESS_PRETRAIN_SKIP_PAIRWISE", bool, false,
    "skip the over-keep check (pairwise edges OOM at 1000x)", "PretrainStream")
  val StreamFoldPartitions = row("STREAM_STRESS_FOLD_PARTITIONS", opt(int(1)), None,
    "shuffle partitions of the sink's fold jobs only; unset = the session's",
    "PretrainStream.sink")
  val StreamAnalytics = row("STREAM_STRESS_ANALYTICS", names("analytics modes",
    AnalyticsModes), Seq.empty, "keyed event twins to drive over events", "EventsStream")

  /** The keyed event twins STREAM_STRESS_ANALYTICS may name. */
  def AnalyticsModes: Seq[String] =
    Seq("funnel_exact", "funnel_eager", "retention", "paths", "paths_rollup")

  // ---- ClusterPerf
  val ClusterPerfExecutorMem = row("CLUSTERPERF_EXECUTOR_MEM", string, "8g",
    "executor heap", "ClusterPerf")
  val ClusterPerfCoalesce = row("CLUSTERPERF_COALESCE", bool, true,
    "AQE coalescing; off is the static control", "coalescePartitions.enabled")

  // ---- build and test gates: read by build.sbt and the specs, never by
  // a main; declared so a harness started from the test environment
  // validates
  val ExtraJavaOpts = row("GRAFT_EXTRA_JAVA_OPTS", string, "",
    "extra JVM options of forked runs and tests", "build.sbt javaOptions")
  val DriverMem = row("SPARK_DRIVER_MEM", string, "8g",
    "-Xmx of forked runs and tests", "build.sbt javaOptions")
  val LocalDirs = row("SPARK_LOCAL_DIRS", opt(path), None,
    "Spark scratch directories", "Spark itself")
  val GateStress = row("GRAFT_STRESS", bool, false,
    "run DedupSpec's 10x planted-recovery test", "DedupSpec")
  val GateStreamStress = row("GRAFT_STREAM_STRESS", bool, false,
    "run StreamStressSpec", "StreamStressSpec")
  val GateSkipClusterSmoke = row("GRAFT_SKIP_CLUSTER_SMOKE", bool, false,
    "skip ClusterSmokeSpec", "ClusterSmokeSpec")
  val GateFullCluster = row("GRAFT_FULL_CLUSTER", bool, false,
    "widen ClusterSmokeSpec to every query", "ClusterSmokeSpec")

  /** Every row, in declaration order. */
  val all: Seq[Setting[_]] = rows.toSeq
}
