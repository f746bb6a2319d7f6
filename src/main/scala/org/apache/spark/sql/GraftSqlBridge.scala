package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Minimal bridge to `private[sql]` constructors so graft can expose
  * custom Catalyst expressions as public `Column`s — the supported
  * extension seam in Spark 4 (`classic.ExpressionUtils`).
  */
object GraftSqlBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)

  /** The Catalyst expression of `c`, converted now (an analyzer rule
    * building expressions from `Column`s needs them converted).
    */
  def expression(c: Column): Expression = classic.ColumnNodeToExpressionConverter(c.node)

  def registerFunction(spark: SparkSession, name: String,
      builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[classic.SparkSession].sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "scala_udf")

  def analyzedPlan(df: Dataset[_]): catalyst.plans.logical.LogicalPlan =
    df.asInstanceOf[classic.Dataset[_]].queryExecution.analyzed

  def ofRows(spark: SparkSession,
      plan: catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Smallest byte range [[readCsv]] hands one decode thread: below it a
    * range's fixed cost (its parser, line reader and projection) outweighs
    * its share of the parse.
    */
  private val MinCsvRangeBytes = 1L << 20

  /** The driver's CSV decode threads, shared by every [[readCsv]] caller:
    * at most one per core, daemon so they never hold the JVM open, and
    * released after a minute idle. A range never waits on another, so
    * concurrent callers only queue.
    */
  private lazy val csvDecodePool = org.apache.spark.util.ThreadUtils.newDaemonCachedThreadPool(
    "graft-csv-decode", Runtime.getRuntime.availableProcessors, 60)

  /** Spark's line-mode CSV file reader, run on the driver in
    * line-aligned byte ranges: the code a `spark.read.csv` scan runs, one
    * task per range. An uncompressed file is cut into `k` equal ranges,
    * `k` = the context's default parallelism with at least 1 MB per range
    * (or `ranges`, when given); a compressed file cannot be split and is
    * one range. Each range is read on the shared decode pool by its own
    * Hadoop line reader (`\n`, `\r` or `\r\n`), which skips the partial
    * line it starts in and finishes the line it ends in, so every line is
    * read by exactly one range; its own `UnivocityParser`, with the
    * options built the way the file source builds them (session time
    * zone, corrupt-record column name); and its own row function from
    * `newRowFn`. As in Spark's CSV source, only the range at offset 0
    * checks the header against `schema`. The ranges' results are
    * concatenated in file order, and the first range's failure is thrown.
    * The parser reuses its row object, so the row function must copy what
    * it keeps.
    */
  def readCsv[A](spark: SparkSession, path: String, schema: types.StructType,
      options: Map[String, String], ranges: Option[Int])(
      newRowFn: () => catalyst.InternalRow => A): Seq[A] = {
    import catalyst.csv.{CSVHeaderChecker, CSVOptions, UnivocityParser}
    val sqlConf = spark.asInstanceOf[classic.SparkSession].sessionState.conf
    val opts = new CSVOptions(options, sqlConf.csvColumnPruning,
      sqlConf.sessionLocalTimeZone, sqlConf.columnNameOfCorruptRecord)
    val hadoopConf = spark.asInstanceOf[classic.SparkSession].sessionState.newHadoopConf()
    val file = new org.apache.hadoop.fs.Path(path)
    val length = file.getFileSystem(hadoopConf).getFileStatus(file).getLen
    val splittable =
      new org.apache.hadoop.io.compress.CompressionCodecFactory(hadoopConf).getCodec(file) == null
    val wanted = if (!splittable) 1L else ranges.map(_.toLong).getOrElse(math.min(
      spark.sparkContext.defaultParallelism.toLong, length / MinCsvRangeBytes))
    // no empty range at offset 0: it would read the first line a second time
    val k = math.max(1L, math.min(wanted, length))
    def read(start: Long, end: Long): Vector[A] = {
      val lines = new execution.datasources.HadoopFileLinesReader(
        execution.datasources.PartitionedFile(catalyst.InternalRow.empty,
          org.apache.spark.paths.SparkPath.fromPath(file), start, end - start),
        opts.lineSeparatorInRead, hadoopConf)
      try {
        val parser = new UnivocityParser(schema, schema, opts)
        val header = new CSVHeaderChecker(schema, opts, s"CSV file: $path",
          isStartOfFile = start == 0)
        UnivocityParser.parseIterator(
          lines.map(l => new String(l.getBytes, 0, l.getLength, opts.charset)),
          parser, header, schema).map(newRowFn()).toVector
      } finally lines.close()
    }
    val bounds = (0L to k).map(i => length * i / k)
    val tasks = bounds.zip(bounds.tail).map { case (start, end) =>
      // the parser's number and date formatters read the session's conf
      csvDecodePool.submit(new java.util.concurrent.Callable[Vector[A]] {
        def call(): Vector[A] = internal.SQLConf.withExistingConf(sqlConf)(read(start, end))
      })
    }
    try tasks.flatMap(_.get())
    catch { case e: java.util.concurrent.ExecutionException => throw e.getCause }
    finally tasks.foreach(_.cancel(false))
  }

  def addStrategy(spark: SparkSession,
      strategy: execution.SparkStrategy): Unit = {
    val exp = spark.asInstanceOf[classic.SparkSession].experimental
    if (!exp.extraStrategies.contains(strategy))
      exp.extraStrategies = exp.extraStrategies :+ strategy
  }

  /** Block until the async listener bus has delivered every queued
    * event (private[spark] in core): a harness reading accumulated
    * SparkListener metrics immediately after an action races the bus —
    * the final stage's completion event may still be queued. A stopped
    * context's bus was drained by `stop()`; a bus that never empties
    * within 30 s is reported, not thrown, since the caller is only
    * reading metrics.
    */
  def drainListenerBus(sc: org.apache.spark.SparkContext): Unit =
    if (!sc.isStopped) {
      try sc.listenerBus.waitUntilEmpty(30000L)
      catch { case _: java.util.concurrent.TimeoutException =>
        System.err.println("[metrics] WARNING: listener bus not drained " +
          "in 30 s; stage metrics read now may be incomplete")
      }
    }

  /** The checkpointed InternalRow RDD behind a `Dataset.checkpoint` /
    * `localCheckpoint` result (its plan is a single `LogicalRDD`) — the
    * handle an iterative operator needs to UNPERSIST a superseded
    * round's blocks. Dataset-level checkpoints store compact UnsafeRows
    * and preserve output partitioning in the LogicalRDD, unlike the
    * `df.rdd`-based pin (boxed external Rows, partitioning erased).
    */
  def checkpointedRdd(df: Dataset[_]): org.apache.spark.rdd.RDD[_] =
    df.asInstanceOf[classic.Dataset[_]].queryExecution.analyzed match {
      case l: execution.LogicalRDD => l.rdd
      case p => throw new IllegalStateException(
        s"not a checkpointed Dataset (plan root ${p.getClass.getSimpleName})")
    }
}
