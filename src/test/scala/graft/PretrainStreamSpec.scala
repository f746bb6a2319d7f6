package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.{PipelineQueries, Tables}
import graft.streaming.{DocsStream, PretrainStream}

/** ST18 family: the STREAMING twin of the composed pretrain pipeline
  * (q160/q161) — incremental ingest replayed as an id-ordered file
  * stream must reproduce the batch chain stage by stage:
  *
  *  - ST18: full-chain parity. Three mtime-ordered files (so both keyed
  *    states must carry across micro-batches), the composed query +
  *    sink, then finalization — asserted BIT-EQUAL to batch q161 (the
  *    rep-anchored stage-2 form, the stream's anchoring discipline) at
  *    every stage boundary AND the final packed output; asserted
  *    OVER-KEEP-ONLY against batch q160's pairwise stage-2 form (the
  *    ST11c contract: verified folds can under-merge, never over-merge).
  *  - ST18e: the stream's verified edge channel equals the batch
  *    `repAnchoredEdges` kernel applied to the stage-1 survivors —
  *    the edge-discipline lock that makes ST18's stage-2 parity
  *    mechanical rather than coincidental.
  */
class PretrainStreamSpec extends AnyFunSuite {

  private val dir = "/root/testdata/sf0.001"
  private def spark = TestSpark.spark

  private def sortedRows(df: DataFrame): Seq[Seq[Any]] = {
    val cols = df.columns.sorted
    df.select(cols.head, cols.tail: _*).collect()
      .map(_.toSeq.map {
        case d: Double => math.round(d * 1e9) / 1e9
        case x => x
      })
      .toSeq.sortBy(_.mkString("|"))
  }

  private def ids(df: DataFrame): Set[Long] =
    df.select(col("doc_id")).collect().map(_.getLong(0)).toSet

  /** Stage docs as n id-ordered single-parquet files under a temp dir. */
  private def stageOrdered(docs: DataFrame, n: Int): String = {
    val bounds = docs.stat.approxQuantile("doc_id",
      (1 to (n - 1)).map(_.toDouble / n).toArray, 0.0).map(_.toLong)
    val sd = java.nio.file.Files.createTempDirectory("pretrain-stream")
    def stage(df: DataFrame, name: String, mtime: Long): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("pretrain-stage")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = new java.io.File(tmp.toString).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dest = sd.resolve(name)
      java.nio.file.Files.move(part.toPath, dest)
      require(dest.toFile.setLastModified(mtime),
        s"setLastModified rejected on $dest — ordered replay broken")
    }
    val cuts = ((Long.MinValue +: bounds) :+ Long.MaxValue).toSeq
    cuts.sliding(2).zipWithIndex.foreach { case (Seq(lo, hi), i) =>
      stage(docs.filter(col("doc_id") > lo && col("doc_id") <= hi),
        s"f$i.parquet", 1000000L * (i + 1))
    }
    sd.toString
  }

  test("composed pretrain stream == batch q161 at every stage and the " +
      "final output; over-keep-only vs the pairwise form (ST18)") {
    val docs = Tables(spark, dir, "documents")
    val evalPred = col("doc_id") % 10 === 7
    val sd = stageOrdered(docs, 3)
    val labelsRoot = java.nio.file.Files
      .createTempDirectory("pretrain-labels").toString
    val storeRoot = java.nio.file.Files
      .createTempDirectory("pretrain-store").toString

    val sinkH = PretrainStream.sink(docs, evalPred,
      s"st18:$storeRoot", labelsRoot, storeRoot)
    val q = PretrainStream.signals(DocsStream.readStream(spark, sd), docs)
      .writeStream
      .foreachBatch((b: DataFrame, e: Long) => sinkH.fn(b, e))
      .start()
    q.processAllAvailable()
    val nBatches = q.recentProgress.count(_.numInputRows > 0)
    q.stop()
    sinkH.release()
    assert(nBatches >= 3, s"expected ≥3 micro-batches, got $nBatches")

    // batch q161 (rep-anchored stage 2) with every stage captured
    val stages = scala.collection.mutable.Map[Int, DataFrame]()
    val batchOut = PipelineQueries.q160Frame(spark, dir,
      PipelineQueries.Q160Budget,
      stageRun = Some((i, _, mk) => {
        val df = mk().localCheckpoint(); stages(i) = df; df
      }),
      repAnchoredNearDup = true)

    val store = spark.read.parquet(storeRoot)
    val notEval = (s: Set[Long]) => s.filter(_ % 10 != 7)

    // stage 1: the store holds exactly the non-eval canonical survivors
    assert(ids(store) == notEval(ids(stages(1))), "stage-1 survivors differ")

    // stage 2: label-derived keep == the batch fixpoint keep-list
    val labels = DocsStream.latestLabels(spark, labelsRoot)
      .getOrElse(fail("no labels epoch written"))
    val streamKept2 = ids(store
      .join(labels.select(col("doc_id"), col("rep")), Seq("doc_id"), "left")
      .filter(col("rep").isNull || col("rep") === col("doc_id")))
    assert(streamKept2 == notEval(ids(stages(2))), "stage-2 keep-list differs")

    // stage 3 (fused decontaminate+gate since r19): the stream's
    // decontaminated slim frame pushed through the shared gate law must
    // equal the batch stage-3 output row for row
    val sig3 = PretrainStream.storeSig3(spark, storeRoot, labelsRoot)
    assert(sortedRows(PipelineQueries.q160GateFrom(sig3)) ==
      sortedRows(stages(3)), "stage-3 decontaminate+gate output differs")
    // ... and BEFORE the gate, so a divergence on a doc the gate drops
    // cannot hide behind it
    assert(ids(sig3) == ids(PipelineQueries.q160Decontaminated(docs, dir,
      stages(2), evalPred)), "stage-3 pre-gate decontaminated ids differ")
    // decontamination must actually drop something here, or this stage
    // locks nothing
    assert(ids(sig3).size < streamKept2.size,
      "decontamination dropped nothing — stage untested")

    // the full packed output, bit-for-bit
    val streamOut = PretrainStream.q160Output(spark, storeRoot, labelsRoot,
      PipelineQueries.Q160Budget)
    assert(streamOut.count() > 0, "empty final output")
    assert(sortedRows(streamOut) == sortedRows(batchOut),
      "final packed output differs from batch q161")

    // against the PAIRWISE stage-2 form (q160): over-keep only — every
    // pairwise survivor is a stream survivor
    val stagesP = scala.collection.mutable.Map[Int, DataFrame]()
    // stage construction (and the stagesP captures) happen eagerly in
    // the call; the returned tail frame itself is not needed
    PipelineQueries.q160Frame(spark, dir, PipelineQueries.Q160Budget,
      stageRun = Some((i, _, mk) => {
        val df = mk().localCheckpoint(); stagesP(i) = df; df
      }))
    val pairwiseS2 = notEval(ids(stagesP(2)))
    assert((pairwiseS2 -- streamKept2).isEmpty,
      s"stream UNDER-kept vs pairwise: ${(pairwiseS2 -- streamKept2).take(5)}")
  }

  test("null-text docs flow as ineligible markers instead of killing " +
      "the query (ST18n)") {
    // the declared documents layout leaves text nullable and the batch
    // chain tolerates null texts (null canonical class, coalesce'd ckey); the typed
    // encoder in signals() has primitive fields, so without the
    // null-coalescing this crashed the whole query
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    val docs = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        Row(1L, "alpha beta gamma delta", "en", "web", 22L),
        Row(2L, null, "en", "web", 0L),
        Row(3L, "alpha beta gamma delta", "en", "web", 22L)), 1),
      schema)
    val sd = java.nio.file.Files.createTempDirectory("pretrain-null")
    docs.coalesce(1).write.mode("overwrite").parquet(sd.toString)
    val q = PretrainStream.signals(DocsStream.readStream(spark, sd.toString),
        docs)
      .writeStream.format("memory").queryName("st18n_out")
      .outputMode("append").start()
    q.processAllAvailable()
    assert(q.exception.isEmpty, s"query died: ${q.exception}")
    q.stop()
    val out = spark.table("st18n_out")
    val markers = out.filter(col("kind") === 0)
      .select(col("doc_id"), col("n_tokens")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    // doc 3 is an exact duplicate of doc 1 (dropped at stage 1); the
    // null-text doc 2 survives as a 0-token ineligible marker
    assert(markers.keySet == Set(1L, 2L), s"markers: $markers")
    assert(markers(2L) == 0L, "null-text doc should carry n_tokens 0")
    assert(out.filter(col("kind") === 1).count() == 0, "no edges expected")
  }

  private val RocksDb =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  private def withStateStore[T](provider: Option[String])(body: => T): T = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    provider.foreach(spark.conf.set(key, _))
    try body finally provider.foreach(_ => spark.conf.unset(key))
  }

  /** ST18e body, parameterized on the state-store provider: the chained
    * TWO-state query's handlers round-trip their state (a Long per
    * canonical class; (Long, Seq[Long]) per bucket) through the store,
    * so a provider-specific encoder defect would break edge/marker
    * parity here.
    */
  private def edgeChannelCase(provider: Option[String], tag: String): Unit = {
    val docs = Tables(spark, dir, "documents")
    val sd = stageOrdered(docs, 3)
    val q = withStateStore(provider) {
      PretrainStream.signals(DocsStream.readStream(spark, sd), docs)
        .writeStream.format("memory").queryName(s"st18e_out_$tag")
        .outputMode("append").start()
    }
    q.processAllAvailable()
    q.stop()
    val out = spark.table(s"st18e_out_$tag")
    val streamEdges = out.filter(col("kind") === 1)
      .select(col("doc_id"), col("dup_of")).distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

    val canon = trim(regexp_replace(lower(
      graft.functions.TextFunctions.nfcNormalize(col("text"))), "\\s+", " "))
    val s1 = docs.select(col("doc_id"), canon.as("c"))
      .groupBy(col("c")).agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"))
    val d1 = docs.join(s1, Seq("doc_id"), "left_semi")
    val expected = PipelineQueries.repAnchoredEdges(d1)
      .filter(col("src") > col("dst"))
      .select(col("src"), col("dst")).distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(expected.nonEmpty, "no rep-anchored edges in testdata?")
    assert(streamEdges == expected,
      s"edge channel diverged: stream-only=${(streamEdges -- expected).take(5)} " +
        s"batch-only=${(expected -- streamEdges).take(5)}")

    // the marker channel covers every canonical survivor exactly once
    val markers = out.filter(col("kind") === 0).select(col("doc_id"))
    assert(markers.count() == markers.distinct().count(),
      "duplicate doc markers")
    assert(ids(markers) == ids(s1), "marker channel != stage-1 survivors")
  }

  test("composed-stream TTL: both keyed states expire and re-admit " +
      "(ST18t)") {
    // dedup-within-horizon for the COMPOSED stream: after ttlMs of
    // quiescence BOTH states (canonical-class ledger and bucket reps)
    // expire, so a re-arriving exact copy is RE-ADMITTED as a stage-1
    // survivor and becomes its bucket's new rep (no edge to the expired
    // one); in-horizon behavior is unchanged (its near-dup still edges
    // to it). Same engine discipline as ST12: ProcessingTimeTimeout
    // needs the periodic no-data batches, so progress is polled by
    // per-batch row counts under a throttled trigger.
    import org.apache.spark.sql.streaming.Trigger
    val sparkS = spark
    import sparkS.implicits._
    val docs = Tables(spark, dir, "documents")
    // a verified near-dup pair with DISTINCT canonical texts from the
    // testdata (band-cohabiting and Jaccard >= 0.5 by construction)
    val canonOf = (c: org.apache.spark.sql.Column) =>
      trim(regexp_replace(lower(
        graft.functions.TextFunctions.nfcNormalize(c)), "\\s+", " "))
    val pick = DocsStream.nearDupVerifiedBatch(docs, docs)
      .filter(col("jaccard") < 1.0)
      .join(docs.select(col("doc_id"), col("text").as("text_a")), "doc_id")
      .join(docs.select(col("doc_id").as("dup_of"),
        col("text").as("text_b")), "dup_of")
      .filter(canonOf(col("text_a")) =!= canonOf(col("text_b")))
      .orderBy(col("doc_id"), col("dup_of"))
      .select(col("text_a"), col("text_b")).head()
    val (tVar, tRep) = (pick.getString(0), pick.getString(1))

    def frame(rows: (Long, String)*) = rows.toSeq
      .map { case (id, t) => (id, t, "en", "src", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val history = frame(1L -> tRep, 2L -> tRep, 4L -> tVar)
    val sd = java.nio.file.Files.createTempDirectory("pretrain-ttl")
    def stage(df: DataFrame, name: String, mtime: Long): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("pretrain-ttl-w")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = new java.io.File(tmp.toString).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dest = sd.resolve(name)
      java.nio.file.Files.move(part.toPath, dest)
      require(dest.toFile.setLastModified(mtime), s"mtime rejected: $dest")
    }
    val ttlMs = 2000L
    stage(frame(1L -> tRep), "a.parquet", 1000000L)
    val q = PretrainStream
      .signals(DocsStream.readStream(spark, sd.toString), history, ttlMs)
      .writeStream.format("memory").queryName("st18t_out")
      .trigger(Trigger.ProcessingTime("1 second"))
      .outputMode("append").start()
    def waitForBatchWithRows(n: Long): Unit = {
      val deadline = System.currentTimeMillis + 60000
      while (!q.recentProgress.exists(_.numInputRows == n)) {
        assert(System.currentTimeMillis < deadline,
          s"timed out waiting for a $n-row micro-batch; progress=" +
            q.recentProgress.map(_.numInputRows).mkString(","))
        Thread.sleep(100)
      }
    }
    waitForBatchWithRows(1)
    // wait until BOTH stores actually expired (state rows drop to 0 in a
    // committed no-data batch) before staging the second file — a fixed
    // sleep races the 1 s trigger on a loaded box (the timeout batch can
    // fire late, doc 2 arrives before expiry, and edges gain 2->1)
    locally {
      val deadline = System.currentTimeMillis + 60000
      def drained = Option(q.lastProgress).exists(p =>
        p.stateOperators.nonEmpty &&
          p.stateOperators.forall(_.numRowsTotal == 0))
      while (!drained) {
        assert(System.currentTimeMillis < deadline,
          s"timed out waiting for state expiry; lastProgress=" +
            Option(q.lastProgress).map(_.stateOperators.map(_.numRowsTotal)
              .mkString(",")).getOrElse("none"))
        Thread.sleep(100)
      }
    }
    stage(frame(2L -> tRep, 4L -> tVar), "c.parquet", 3000000L)
    waitForBatchWithRows(2)
    q.stop()
    val out = spark.table("st18t_out")
    val markers = ids(out.filter(col("kind") === 0))
    val edges = out.filter(col("kind") === 1)
      .select(col("doc_id"), col("dup_of")).distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // doc 2 (exact copy of 1) is re-admitted by the expired canonical
    // ledger AND becomes the bucket rep (no edge to the expired 1);
    // doc 4 (in-horizon near-dup) edges to 2, never to 1
    assert(markers == Set(1L, 2L, 4L), s"markers: $markers")
    assert(edges == Set(4L -> 2L), s"edges: $edges")
  }

  test("a survivor missing from the corpus table is QUARANTINED, not " +
      "passed as decontaminated (ST18q)") {
    // continuous-ingest race: the stream can run ahead of the corpus
    // table, so the sink's text re-attachment LEFT join finds nothing —
    // before the quarantine flag such a doc generated no grams, landed
    // contaminated=false (bypassing the safety stage), and collapsed
    // its split key to md5("split|"). Now it must land quarantined,
    // be excluded from sig3/finalization, and be surfaced.
    val sparkS = spark
    import sparkS.implicits._
    val tA = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val tB = "one two three four five six seven eight nine ten"
    def frame(rows: (Long, String)*) = rows.toSeq
      .map { case (id, t) => (id, t, "en", "src", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val streamed = frame(1L -> tA, 2L -> tB)
    val history = frame(1L -> tA) // doc 2 not yet in the corpus table
    val sd = java.nio.file.Files.createTempDirectory("pretrain-quarantine")
    streamed.coalesce(1).write.mode("overwrite").parquet(sd.toString)
    val labelsRoot = java.nio.file.Files
      .createTempDirectory("pretrain-q-labels").toString
    val storeRoot = java.nio.file.Files
      .createTempDirectory("pretrain-q-store").toString
    val sinkH = PretrainStream.sink(history, col("doc_id") % 10 === 7,
      s"st18q:$storeRoot", labelsRoot, storeRoot)
    val q = PretrainStream
      .signals(DocsStream.readStream(spark, sd.toString), history)
      .writeStream
      .foreachBatch((b: DataFrame, e: Long) => sinkH.fn(b, e))
      .start()
    q.processAllAvailable()
    assert(q.exception.isEmpty, s"query died: ${q.exception}")
    q.stop()
    sinkH.release()
    val store = spark.read.parquet(storeRoot)
    val byId = store.select(col("doc_id"), col("quarantined"),
        col("contaminated")).collect()
      .map(r => r.getLong(0) -> ((r.getBoolean(1), r.getBoolean(2)))).toMap
    assert(byId.keySet == Set(1L, 2L), s"store rows: $byId")
    assert(byId(1L) == ((false, false)), "in-table doc wrongly flagged")
    assert(byId(2L) == ((true, false)),
      s"missing-text doc must be quarantined: ${byId(2L)}")
    val sig3Ids = ids(PretrainStream.storeSig3(spark, storeRoot, labelsRoot))
    assert(sig3Ids == Set(1L),
      s"quarantined doc leaked into sig3: $sig3Ids")
    val quar = ids(PretrainStream.storeQuarantined(spark, storeRoot))
    assert(quar == Set(2L), s"quarantine surface: $quar")
  }

  test("composed-stream EVENT-TIME TTL: both states expire on the " +
      "watermark clock and re-admit; in-horizon dedup holds (ST18te)") {
    // the ST18t dual-horizon law, driven by EVENT timestamps instead of
    // wall clock: a historical backfill replayed fast must expire by
    // the data's own clock (ProcessingTimeTimeout would expire nothing
    // — wall time barely advances between files). No sleeps anywhere:
    // expiry is forced by a watermark-driving filler doc and observed
    // by polling state rows down to exactly the filler's residue.
    val sparkS = spark
    import sparkS.implicits._
    val docs = Tables(spark, dir, "documents")
    val canonOf = (c: org.apache.spark.sql.Column) =>
      trim(regexp_replace(lower(
        graft.functions.TextFunctions.nfcNormalize(c)), "\\s+", " "))
    val pick = DocsStream.nearDupVerifiedBatch(docs, docs)
      .filter(col("jaccard") < 1.0)
      .join(docs.select(col("doc_id"), col("text").as("text_a")), "doc_id")
      .join(docs.select(col("doc_id").as("dup_of"),
        col("text").as("text_b")), "dup_of")
      .filter(canonOf(col("text_a")) =!= canonOf(col("text_b")))
      .orderBy(col("doc_id"), col("dup_of"))
      .select(col("text_a"), col("text_b")).head()
    val (tVar, tRep) = (pick.getString(0), pick.getString(1))

    val ttlMs = 60000L // one MINUTE of event time — wall clock irrelevant
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def at(baseMs: Long, plusMs: Long) = new java.sql.Timestamp(baseMs + plusMs)
    def frame(rows: (Long, String, java.sql.Timestamp)*) = rows.toSeq
      .map { case (id, t, ts) => (id, t, "en", "src", t.length.toLong, ts) }
      .toDF("doc_id", "text", "lang", "source", "n_chars", "ts")
    // filler doc 9: <3 tokens → solo bucket (no bucket state), distinct
    // canonical class — its only job is raising the watermark past
    // doc 1's horizon; its own class state stays live (1 residual row)
    val filler = "wm driver"
    val tsB = at(t0.getTime, ttlMs + 540000L) // 10 min past t0
    val history = frame((1L, tRep, t0), (2L, tRep, at(tsB.getTime, 1000L)),
      (4L, tVar, at(tsB.getTime, 1000L)), (9L, filler, tsB))
    val sd = java.nio.file.Files.createTempDirectory("pretrain-ette")
    def stage(df: DataFrame, name: String, mtime: Long): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("pretrain-ette-w")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = new java.io.File(tmp.toString).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dest = sd.resolve(name)
      java.nio.file.Files.move(part.toPath, dest)
      require(dest.toFile.setLastModified(mtime), s"mtime rejected: $dest")
    }
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "doc_id LONG, text STRING, lang STRING, source STRING, " +
        "n_chars LONG, ts TIMESTAMP")
    stage(frame((1L, tRep, t0)), "a.parquet", 1000000L)
    stage(frame((9L, filler, tsB)), "b.parquet", 2000000L)
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(sd.toString)
    // chained event-time keyed states trip the engine's global-watermark
    // heuristic; the signals() scaladoc proves the emission discipline
    // safe (stage-1 outputs carry same-batch timestamps), so the
    // documented opt-out applies — scoped to this query's start
    val ccKey = "spark.sql.streaming.statefulOperator.checkCorrectness.enabled"
    spark.conf.set(ccKey, "false")
    val q = try PretrainStream
      .signals(stream, history, ttlMs, eventTimeCol = Some("ts"))
      .writeStream.format("memory").queryName("st18te_out")
      .outputMode("append").start()
    finally spark.conf.unset(ccKey)
    // wait for doc 1's class + bucket states to EXPIRE on the event
    // clock: after file b's batch the watermark reads tsB, the engine
    // runs the watermark-advance batch, and state collapses to exactly
    // doc 9's one residual class row (its horizon is still open)
    locally {
      val deadline = System.currentTimeMillis + 60000
      def residue = Option(q.lastProgress).map(p =>
        p.stateOperators.map(_.numRowsTotal).sum).getOrElse(-1L)
      while (residue != 1L) {
        assert(System.currentTimeMillis < deadline,
          s"timed out waiting for event-time expiry; state rows=$residue")
        Thread.sleep(100)
      }
    }
    stage(frame((2L, tRep, at(tsB.getTime, 1000L)),
      (4L, tVar, at(tsB.getTime, 1000L))), "c.parquet", 3000000L)
    locally {
      val deadline = System.currentTimeMillis + 60000
      while (!q.recentProgress.exists(_.numInputRows == 2)) {
        assert(System.currentTimeMillis < deadline,
          "timed out waiting for the 2-row micro-batch")
        Thread.sleep(100)
      }
    }
    q.processAllAvailable()
    q.stop()
    val out = spark.table("st18te_out")
    val markers = ids(out.filter(col("kind") === 0))
    val edges = out.filter(col("kind") === 1)
      .select(col("doc_id"), col("dup_of")).distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // doc 2 (exact copy of 1, one event-minute later) re-admitted by the
    // expired class ledger AND the new bucket rep (no edge to 1); doc 4
    // (in-horizon near-dup) edges to 2, never to 1
    assert(markers == Set(1L, 2L, 4L, 9L), s"markers: $markers")
    assert(edges == Set(4L -> 2L), s"edges: $edges")
  }

  test("stream verified-edge channel == batch repAnchoredEdges over " +
      "stage-1 survivors (ST18e)") {
    edgeChannelCase(None, "hdfs")
  }

  test("quarantined rows are RE-DRIVEN through the sink law once the " +
      "table catches up; finalization == the never-raced run (ST18rq)") {
    // the quarantine channel's missing half: surfacing stream-ahead-of-
    // table survivors is useless if re-admitting them is manual surgery.
    // redriveQuarantined must re-run decontamination + store upsert for
    // exactly those rows, clear the flag, and leave the store
    // indistinguishable from a run where the table never lagged.
    val sparkS = spark
    import sparkS.implicits._
    val tA = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val tB = "one two three four five six seven eight nine ten"
    def frame(rows: (Long, String)*) = rows.toSeq
      .map { case (id, t) => (id, t, "en", "src", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val streamed = frame(1L -> tA, 2L -> tB)
    val evalPred = col("doc_id") % 10 === 7
    def run(history: DataFrame, tag: String): (String, String) = {
      val sd = java.nio.file.Files.createTempDirectory(s"redrive-$tag")
      streamed.coalesce(1).write.mode("overwrite").parquet(sd.toString)
      val labelsRoot = java.nio.file.Files
        .createTempDirectory(s"redrive-$tag-labels").toString
      val storeRoot = java.nio.file.Files
        .createTempDirectory(s"redrive-$tag-store").toString
      val sinkH = PretrainStream.sink(history, evalPred,
        s"st18rq:$tag:$storeRoot", labelsRoot, storeRoot)
      val q = PretrainStream
        .signals(DocsStream.readStream(spark, sd.toString), history)
        .writeStream
        .foreachBatch((b: DataFrame, e: Long) => sinkH.fn(b, e))
        .start()
      q.processAllAvailable()
      assert(q.exception.isEmpty, s"query died: ${q.exception}")
      q.stop()
      sinkH.release()
      (storeRoot, labelsRoot)
    }
    // RACED: doc 2 missing from the table at sink time → quarantined
    val (storeR, labelsR) = run(frame(1L -> tA), "raced")
    assert(ids(PretrainStream.storeQuarantined(spark, storeR)) == Set(2L),
      "precondition: doc 2 must start quarantined")
    // the table catches up; re-drive through the SAME sink law
    val caughtUp = frame(1L -> tA, 2L -> tB)
    val n = PretrainStream.redriveQuarantined(spark, caughtUp, evalPred,
      s"st18rq:catchup:$storeR", storeR)
    assert(n == 1L, s"expected 1 re-driven row, got $n")
    assert(ids(PretrainStream.storeQuarantined(spark, storeR)).isEmpty,
      "flag not cleared by re-drive")
    assert(ids(PretrainStream.storeSig3(spark, storeR, labelsR)) ==
      Set(1L, 2L), "re-driven doc missing from sig3")
    // a second re-drive is a no-op (idempotent, like the sink's epochs)
    assert(PretrainStream.redriveQuarantined(spark, caughtUp, evalPred,
      s"st18rq:catchup:$storeR", storeR) == 0L)
    // NEVER-RACED twin: the table had both docs from the start —
    // store contents and finalization must match bit-for-bit (through
    // the version-aware reader: the re-driven epoch's base dir is
    // retained stale BY DESIGN, shadowed by the committed version)
    val (storeN, labelsN) = run(caughtUp, "neverraced")
    assert(sortedRows(PretrainStream.readStore(spark, storeR).drop("epoch")) ==
      sortedRows(PretrainStream.readStore(spark, storeN).drop("epoch")),
      "re-driven store != never-raced store")
    assert(sortedRows(PretrainStream.q160Output(spark, storeR, labelsR,
        PipelineQueries.Q160Budget)) ==
      sortedRows(PretrainStream.q160Output(spark, storeN, labelsN,
        PipelineQueries.Q160Budget)),
      "finalization differs from the never-raced run")
    // the marker-commit layout (r17 verdict task 1): the re-drive's
    // rewrite lives in a `_SUCCESS`-committed versioned sibling that
    // SHADOWS the base epoch dir; the base is RETAINED (it is the
    // sink's replay target) and still carries the stale quarantined
    // row when read directly — the version-aware reader must never
    // show it
    val fs = new org.apache.hadoop.fs.Path(storeR)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val vdirs = fs.globStatus(
      new org.apache.hadoop.fs.Path(s"$storeR/.redrive_v*_epoch=*"))
    assert(vdirs.length == 1, s"expected one committed re-drive version, " +
      s"got ${vdirs.map(_.getPath.getName).mkString(",")}")
    val vEpoch = vdirs.head.getPath.getName.split("epoch=")(1).toLong
    assert(fs.exists(new org.apache.hadoop.fs.Path(vdirs.head.getPath,
      "_SUCCESS")), "re-drive version not marker-committed")
    val baseDir = s"$storeR/epoch=$vEpoch"
    assert(fs.exists(new org.apache.hadoop.fs.Path(baseDir)),
      "base epoch dir must be retained (it is the sink's replay target)")
    assert(spark.read.option("mergeSchema", "true").parquet(baseDir)
      .filter(col("quarantined")).count() == 1,
      "retained base should still hold the stale quarantined row " +
        "(shadowed, never rewritten in place)")

    // crash matrix — no crash point leaves the last complete copy
    // deletable, and no recovery path deletes it:
    // (a) a crash MID-WRITE (what a non-atomic object-store commit
    // leaves) = a version dir WITHOUT its marker: invisible to the
    // reader, redrive is still a no-op, nothing is deleted
    val before = sortedRows(PretrainStream.readStore(spark, storeR)
      .drop("epoch"))
    val uncommitted = new org.apache.hadoop.fs.Path(
      s"$storeR/.redrive_v9_epoch=$vEpoch")
    spark.read.parquet(vdirs.head.getPath.toString)
      .limit(0).write.parquet(uncommitted.toString)
    assert(fs.delete(new org.apache.hadoop.fs.Path(uncommitted, "_SUCCESS"),
      false), "crash simulation: could not remove the marker")
    assert(sortedRows(PretrainStream.readStore(spark, storeR)
      .drop("epoch")) == before,
      "uncommitted version leaked into the reader")
    assert(PretrainStream.redriveQuarantined(spark, caughtUp, evalPred,
      s"st18rq:catchup:$storeR", storeR) == 0L)
    assert(fs.exists(vdirs.head.getPath),
      "recovery deleted the committed version — the last complete copy")
    assert(fs.exists(uncommitted), "an uncommitted leftover ABOVE the " +
      "committed version must be left alone (indistinguishable from an " +
      "in-flight writer); numbering skips past it instead")
    // (b) a later re-drive numbers strictly PAST every existing dir and
    // prunes superseded versions only after its own marker lands: force
    // one by re-quarantining the store's current content via a fresh
    // raced epoch... cheaper: re-mark doc 2 quarantined in a new
    // version-committed rewrite is exactly what a redrive against a
    // STILL-lagging table produces — so regress the table and re-drive
    val nStill = PretrainStream.redriveQuarantined(spark, frame(1L -> tA),
      evalPred, s"st18rq:lagging:$storeR", storeR)
    // current content has no quarantined rows → no epoch selected, so
    // force the two-generation path from the quarantined state instead:
    // rebuild a raced store and walk redrive → crash-leftover → redrive
    assert(nStill == 0L, "no epoch should re-drive when none quarantined")
    val (storeG, _) = run(frame(1L -> tA), "gen2")
    assert(ids(PretrainStream.storeQuarantined(spark, storeG)) == Set(2L))
    val fsG = new org.apache.hadoop.fs.Path(storeG)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // first re-drive against the STILL-lagging table: writes a
    // committed v1 whose doc 2 stays quarantined (storeRows' null-text
    // law re-applied), 0 rows re-driven clean
    assert(PretrainStream.redriveQuarantined(spark, frame(1L -> tA),
      evalPred, s"st18rq:gen2a:$storeG", storeG) == 0L)
    val v1 = fsG.globStatus(new org.apache.hadoop.fs.Path(
      s"$storeG/.redrive_v*_epoch=*"))
    assert(v1.length == 1 && v1.head.getPath.getName.startsWith(".redrive_v1_"),
      s"expected a committed v1, got ${v1.map(_.getPath.getName).mkString(",")}")
    assert(ids(PretrainStream.storeQuarantined(spark, storeG)) == Set(2L),
      "still-lagging re-drive must keep doc 2 quarantined")
    // second re-drive, table caught up: numbers past v1, commits v2,
    // and only THEN prunes v1 — the epoch is never uncovered
    assert(PretrainStream.redriveQuarantined(spark, caughtUp, evalPred,
      s"st18rq:gen2b:$storeG", storeG) == 1L)
    val v2 = fsG.globStatus(new org.apache.hadoop.fs.Path(
      s"$storeG/.redrive_v*_epoch=*"))
    assert(v2.length == 1 && v2.head.getPath.getName.startsWith(".redrive_v2_"),
      s"expected v1 pruned + committed v2, got " +
        v2.map(_.getPath.getName).mkString(","))
    assert(ids(PretrainStream.storeQuarantined(spark, storeG)).isEmpty)
    // (c) a crash AFTER commit, BEFORE prune = two committed versions:
    // the reader picks the higher; the next call's sweep prunes the
    // superseded one (both deletes in the protocol are marker-gated)
    val resurrect = new org.apache.hadoop.fs.Path(
      s"$storeG/.redrive_v1_epoch=" + v2.head.getPath.getName
        .split("epoch=")(1))
    spark.read.parquet(v2.head.getPath.toString)
      .withColumn("quarantined", lit(true))
      .write.parquet(resurrect.toString)
    assert(ids(PretrainStream.storeQuarantined(spark, storeG)).isEmpty,
      "reader must prefer the higher committed version")
    assert(PretrainStream.redriveQuarantined(spark, caughtUp, evalPred,
      s"st18rq:gen2c:$storeG", storeG) == 0L)
    assert(!fsG.exists(resurrect),
      "start-of-call sweep should prune a committed-superseded version")
    assert(fsG.exists(v2.head.getPath),
      "sweep deleted the highest committed version")

    // legacy (r17 rename-swap) leftover: an aside without its target is
    // restored — the one crash point that protocol could leave on the
    // atomic-rename filesystems it was safe on
    val anEpoch = fs.globStatus(
      new org.apache.hadoop.fs.Path(s"$storeR/epoch=*")).head.getPath
    val aside = new org.apache.hadoop.fs.Path(storeR,
      ".redrive_old_" + anEpoch.getName)
    assert(fs.rename(anEpoch, aside), "crash simulation rename failed")
    assert(PretrainStream.redriveQuarantined(spark, caughtUp, evalPred,
      s"st18rq:catchup:$storeR", storeR) == 0L)
    assert(fs.exists(anEpoch) && !fs.exists(aside),
      "recovery sweep did not restore the moved-aside epoch")
    assert(sortedRows(PretrainStream.readStore(spark, storeR)
      .drop("epoch")) == before,
      "store content changed across crash recovery")
  }

  test("a store MIXING pre- and post-quarantine epochs reads both " +
      "correctly: old rows are clean, new flags are honored (ST18m)") {
    // schema drift across epochs: without mergeSchema the reader takes
    // one file's schema by lottery — either new epochs' quarantined rows
    // leak into sig3 as clean, or every pre-upgrade row reads
    // quarantined=null and is silently dropped. Both are wrong answers
    // in the safety stage.
    val sparkS = spark
    import sparkS.implicits._
    val storeRoot = java.nio.file.Files
      .createTempDirectory("mixed-store").toString
    val labelsRoot = java.nio.file.Files
      .createTempDirectory("mixed-labels").toString // empty: no labeling
    def row(id: Long) = (id, "src", 10L, 0.9, s"ck$id", s"o$id", false)
    // epoch 0: PRE-upgrade schema (no quarantined column)
    Seq(row(1L), row(2L))
      .toDF("doc_id", "source", "n_tokens", "ttr", "ckey", "ord",
        "contaminated")
      .write.parquet(s"$storeRoot/epoch=0")
    // epoch 1: post-upgrade schema, one quarantined row
    Seq((3L, "src", 10L, 0.9, false, "ck3", "o3", false),
        (4L, "src", 10L, 0.9, true, "ck4", "o4", false))
      .toDF("doc_id", "source", "n_tokens", "ttr", "quarantined", "ckey",
        "ord", "contaminated")
      .write.parquet(s"$storeRoot/epoch=1")
    val sig3 = ids(PretrainStream.storeSig3(spark, storeRoot, labelsRoot))
    assert(sig3 == Set(1L, 2L, 3L),
      s"mixed-schema sig3 wrong (old rows dropped or flag ignored): $sig3")
    val quar = ids(PretrainStream.storeQuarantined(spark, storeRoot))
    assert(quar == Set(4L), s"mixed-schema quarantine surface wrong: $quar")
  }

  test("ST18e parity holds under the RocksDB state store (ST18er)") {
    edgeChannelCase(Some(RocksDb), "rocksdb")
  }

  test("pretrain SIGNAL store on a non-default-scheme root: sink, " +
      "quarantine, re-drive, version reads and finalization all resolve " +
      "through the Hadoop FS API; bit-parity with the local run (ST18f)") {
    // the label store's ST13f portability law, driven through the
    // PRETRAIN store's direct FS seams (r17 verdict task 5): the
    // re-drive's version listing/commit-probe/prune, readStore's
    // base-vs-version resolution, and the epoch writes themselves run
    // against a root that only the Hadoop FileSystem API can see — a
    // java.io.File probe (or an unescaped local-only listing) would
    // silently see nothing, exactly the r16 label-store defect class.
    spark.sparkContext.hadoopConfiguration
      .set("fs.graftfs.impl", classOf[GraftTestFs].getName)
    val sparkS = spark
    import sparkS.implicits._
    val tA = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val tB = "one two three four five six seven eight nine ten"
    def frame(rows: (Long, String)*) = rows.toSeq
      .map { case (id, t) => (id, t, "en", "src", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val streamed = frame(1L -> tA, 2L -> tB)
    val lagging = frame(1L -> tA)
    val caughtUp = frame(1L -> tA, 2L -> tB)
    val evalPred = col("doc_id") % 10 === 7
    def drive(rootify: String => String, tag: String): (String, String) = {
      val sd = java.nio.file.Files.createTempDirectory(s"st18f-$tag")
      streamed.coalesce(1).write.mode("overwrite").parquet(sd.toString)
      val labelsRoot = rootify(java.nio.file.Files
        .createTempDirectory(s"st18f-$tag-labels").toString)
      val storeRoot = rootify(java.nio.file.Files
        .createTempDirectory(s"st18f-$tag-store").toString)
      val sinkH = PretrainStream.sink(lagging, evalPred,
        s"st18f:$tag:$storeRoot", labelsRoot, storeRoot)
      val q = PretrainStream
        .signals(DocsStream.readStream(spark, sd.toString), lagging)
        .writeStream
        .foreachBatch((b: DataFrame, e: Long) => sinkH.fn(b, e))
        .start()
      q.processAllAvailable()
      assert(q.exception.isEmpty, s"query died: ${q.exception}")
      q.stop()
      sinkH.release()
      (storeRoot, labelsRoot)
    }
    def redriven(storeRoot: String, tag: String): Long =
      PretrainStream.redriveQuarantined(spark, caughtUp, evalPred,
        s"st18f:redrive:$tag:$storeRoot", storeRoot)
    val (storeS, labelsS) = drive(p => s"graftfs://$p", "scheme")
    // the raced quarantine must be VISIBLE through the scheme root
    assert(ids(PretrainStream.storeQuarantined(spark, storeS)) == Set(2L),
      "quarantine surface empty on the scheme root — an FS seam fell " +
        "back to local semantics")
    assert(redriven(storeS, "scheme") == 1L)
    assert(ids(PretrainStream.storeQuarantined(spark, storeS)).isEmpty)
    // the committed version must live under the SCHEME filesystem
    val fsS = new org.apache.hadoop.fs.Path(storeS)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fsS.getUri.getScheme == "graftfs")
    val vs = fsS.globStatus(new org.apache.hadoop.fs.Path(
      s"$storeS/.redrive_v*_epoch=*"))
    assert(vs.length == 1 && fsS.exists(new org.apache.hadoop.fs.Path(
      vs.head.getPath, "_SUCCESS")),
      s"no marker-committed version on the scheme root: " +
        vs.map(_.getPath.getName).mkString(","))
    // local twin through the identical flow — store rows and the full
    // finalization must match bit-for-bit
    val (storeL, labelsL) = drive(identity, "local")
    assert(redriven(storeL, "local") == 1L)
    assert(sortedRows(PretrainStream.readStore(spark, storeS)
        .drop("epoch")) ==
      sortedRows(PretrainStream.readStore(spark, storeL).drop("epoch")),
      "scheme-rooted store != local store after re-drive")
    assert(sortedRows(PretrainStream.q160Output(spark, storeS, labelsS,
        PipelineQueries.Q160Budget)) ==
      sortedRows(PretrainStream.q160Output(spark, storeL, labelsL,
        PipelineQueries.Q160Budget)),
      "scheme-rooted finalization != local finalization")
  }

  test("labelPartEpochs and the store listings survive glob " +
      "metacharacters in the root path (ST18g)") {
    // fs.globStatus interprets `{}[]*?` in the ROOT prefix as pattern
    // syntax — a root containing them (legal on every filesystem, and
    // accepted by the old java.io.File listing) would silently list
    // ZERO committed parts: every epoch takes the empty-parts branch
    // and latestLabels returns None, the exact silent-under-dedup
    // failure the Hadoop-FS listing was built to prevent (r17 ADVICE).
    val root = java.nio.file.Files
      .createTempDirectory("st18g-[v1]{a,b}").toString
    val epoch = java.nio.file.Paths.get(root, "delta", "epoch=0")
    java.nio.file.Files.createDirectories(epoch)
    java.nio.file.Files.createFile(epoch.resolve("_SUCCESS"))
    assert(DocsStream.labelPartEpochs(spark, root, "delta") == Seq(0L),
      "metacharacter root listed no committed epochs")
    // the store side: base epochs + versions resolve under the same root
    val storeRoot = java.nio.file.Files
      .createTempDirectory("st18g-store-[x]").toString
    val sparkS = spark
    import sparkS.implicits._
    Seq((1L, "src", 10L, 0.9, false, "ck1", "o1", false))
      .toDF("doc_id", "source", "n_tokens", "ttr", "quarantined", "ckey",
        "ord", "contaminated")
      .write.parquet(s"$storeRoot/epoch=0")
    assert(ids(PretrainStream.readStore(spark, storeRoot)) == Set(1L),
      "metacharacter store root read no epochs")
  }
}
