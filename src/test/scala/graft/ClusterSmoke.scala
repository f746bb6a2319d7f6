package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Forked-JVM entry point for the multi-JVM smoke (`ClusterSmokeSpec`).
  *
  * Everything else in the suite runs in ONE JVM (`local[4]`), where
  * executor-side serialization and classloader distribution of the custom
  * expressions are invisible by construction: a `TypedImperativeAggregate`
  * whose `serialize`/`deserialize` path is broken, a ThreadLocal digest
  * that doesn't survive task deserialization, or a model literal that
  * can't ship to another process would all still pass. This main is
  * launched by the spec as a SEPARATE process with
  * `master=local-cluster[2,8,4096]` — Spark's pseudo-cluster, where the
  * Master/Workers live in the driver JVM but every EXECUTOR is a real
  * forked JVM — so tasks genuinely cross process boundaries.
  *
  * Protocol: args = (master, sfDir, comma-joined query names). For each
  * query it prints one `SMOKE\tname\trows\tdigest` line; the parent spec
  * computes the same digests under its `local[4]` session and asserts
  * equality. A leading `SMOKE\texecutor_pids` line proves multi-process
  * execution (≥2 distinct executor pids, none equal to this driver's).
  * The sentinel name `stream_neardup_parity` additionally runs the ST9
  * streaming near-dup flow (file stream, maxFilesPerTrigger=1,
  * flatMapGroupsWithState) across micro-batches on the cluster and
  * asserts stream == batch IN-child before emitting the batch digest.
  */
object ClusterSmoke {

  val StreamCase = "stream_neardup_parity"

  /** Canonical order-insensitive digest: columns sorted by name, rows
    * rendered to JSON, sorted, md5'd. Runs identically in the parent
    * (local[4]) and child (local-cluster) JVMs — same Spark version,
    * same machine, so the JSON rendering is bit-stable.
    */
  def digest(df: DataFrame): (Long, String) = {
    val cols = df.columns.sorted.map(col)
    val rows = df.select(cols.toSeq: _*).toJSON.collect().sorted
    val md = java.security.MessageDigest.getInstance("MD5")
    rows.foreach(r => md.update(r.getBytes("UTF-8")))
    (rows.length.toLong, md.digest().map("%02x".format(_)).mkString)
  }

  /** The ST9 flow staged exactly as StreamingSpec does it: the documents
    * table split into two single-file micro-batches (mtime-ordered) so
    * the dedup state built from batch 1's docs must survive executor-side
    * store/restore to catch batch 2's cross-file duplicates.
    */
  private def streamParity(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.streaming.DocsStream
    val docs = queries.Tables(spark, sfDir, "documents")
    val mid = docs.agg(org.apache.spark.sql.functions.expr("percentile(doc_id, 0.5)"))
      .collect()(0).getDouble(0)
    val sd = java.nio.file.Files.createTempDirectory("cluster-docs-stream")
    def stage(df: DataFrame, name: String, mtime: Long): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("cluster-docs-stage")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = new java.io.File(tmp.toString).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dest = sd.resolve(name)
      java.nio.file.Files.move(part.toPath, dest)
      dest.toFile.setLastModified(mtime)
    }
    stage(docs.filter(col("doc_id") <= mid), "a.parquet", 1000000L)
    stage(docs.filter(col("doc_id") > mid), "b.parquet", 2000000L)
    val q = DocsStream.nearDupCandidates(DocsStream.readStream(spark, sd.toString))
      .writeStream.format("memory").queryName("cluster_neardup")
      .outputMode("append").start()
    q.processAllAvailable()
    val nBatches = q.recentProgress.count(_.numInputRows > 0)
    q.stop()
    require(nBatches >= 2, s"expected >=2 micro-batches, got $nBatches")
    val stream = spark.table("cluster_neardup")
    val batch = DocsStream.nearDupCandidatesBatch(docs)
    val (sRows, sHash) = digest(stream)
    val (bRows, bHash) = digest(batch)
    require(bRows > 0, "no near-dup candidates in testdata?")
    require(sRows == bRows && sHash == bHash,
      s"stream!=batch under local-cluster: $sRows/$sHash vs $bRows/$bHash")
    batch
  }

  def main(args: Array[String]): Unit = {
    val master = args(0)
    val sfDir = args(1)
    val names = args(2).split(",").toSeq
    val spark = GraftConf.session(master, 8).appName("graft-cluster-smoke").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val exit = try {
      val driverPid = ProcessHandle.current().pid()
      val pids = spark.sparkContext.parallelize(1 to 64, 32)
        .map(_ => ProcessHandle.current().pid()).distinct().collect().sorted
      println(s"SMOKE\texecutor_pids\t$driverPid\t${pids.mkString(";")}")
      names.foreach { n =>
        val df =
          if (n == StreamCase) streamParity(spark, sfDir)
          else SparkEntry.queries(n)(spark, sfDir)
        val (rows, hash) = digest(df)
        println(s"SMOKE\t$n\t$rows\t$hash")
      }
      0
    } catch {
      case t: Throwable => t.printStackTrace(); 1
    } finally spark.stop()
    // local-cluster leaves non-daemon RPC threads; exit explicitly
    sys.exit(exit)
  }
}
