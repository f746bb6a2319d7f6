package graft.queries

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.{Bpe, Ivf, Models, Pq, Skew, TextOps}

/** LLM-training-data pipeline operators (north star [EXT]): deduplication
  * (exact, MinHash+LSH, SimHash, n-gram Jaccard), similarity search
  * (brute-force cosine + LSH-bucketed ANN), text analysis (tokens, quality,
  * language heuristic, winnowing fingerprints), multimodal column plumbing.
  *
  * All hashing is md5-derived (TextOps) so the DuckDB oracle reproduces
  * every signature bit-for-bit. Scale design: signatures are map-side
  * (no shuffle); candidate generation shuffles on band keys (standard
  * LSH banding — the 100 TB path); only the tiny candidate set is ever
  * pairwise-compared.
  */
object PipelineQueries {

  private def docs(s: SparkSession, d: String): DataFrame = Tables(s, d, "documents")

  /** Local-parallelism fix for kernel-heavy map stages — the q127
    * shingle-stream discipline generalized (guide §2.5 "input skew: one
    * huge unsplittable file … repartition immediately after the read").
    *
    * The driver testdata ships ONE row group per file, so a scan stage —
    * and every per-row kernel fused into it (MinHash signatures, shingle
    * hash sets, gram streams, canonicalization) — runs as a SINGLE task
    * no matter how many cores the session has. When the frame's file
    * scan cannot split (fewer than 8 input files), spread the slim
    * input rows across the session's cores with one explicit hash
    * exchange BEFORE the expensive projection. numPartitions is passed
    * explicitly so AQE's small-partition coalescing cannot fold the tiny
    * local exchange back into one partition; the hash key keeps the
    * exchange deterministic (no round-robin, no sort-before-repartition
    * pass).
    *
    * This is a local-parallelism workaround, NOT the scale plan: any
    * real corpus layout (multi-file, or row groups written at ~128 MB)
    * splits naturally, the probe sees a multi-split scan, and the
    * exchange never enters the plan. `spark.graft.kernelSpread`
    * (auto|off, default auto; any other value throws): `off` pins the
    * scale plan on any input — PlanShapeSpec and PlanAudit use it. There
    * is no `on`: a multi-split input already parallelizes. A failing
    * file listing fails the query; it never falls back to the unspread
    * form.
    *
    * This is the ONE split probe of the query pack: every kernel-heavy
    * path that wants the spread wraps its own input in it.
    */
  private[graft] def spreadForKernels(df: DataFrame,
      key: String = "doc_id"): DataFrame = {
    val s = df.sparkSession
    val spread = s.conf.get("spark.graft.kernelSpread", "auto") match {
      case "off" => false
      case "auto" => df.inputFiles.length < 8
      case other => throw new IllegalArgumentException(
        s"spark.graft.kernelSpread must be one of auto|off, got '$other'")
    }
    if (spread) df.repartition(s.sparkContext.defaultParallelism, col(key))
    else df
  }
  private def embs(s: SparkSession, d: String): DataFrame = Tables(s, d, "embeddings")

  /** q132's pipeline with the quantizer size as a parameter — `k` IS the
    * scale dial (cells must stay constant-sized as the corpus grows, so
    * k grows with n; [[graft.Stress]] measures both the right and the
    * deliberately-wrong setting at 10×). The Q entry pins k=8 for the
    * oracle, whose unrolled Lloyd CTEs hardcode the same k.
    *
    * Past [[Ivf.InlineFormMaxK]] centroids the assignment routes through
    * the two-level (recursive IVF) path with nprobe=2 — k1+2·|cell|
    * cosines per row instead of k, the dial table's prescribed shape for
    * corpus-scaled k (measured 10.1× over flat at k=1000/100×). The
    * keep/drop semantics are unchanged — only which cell a near-boundary
    * vector lands in can differ (the standard IVF approximation, 96.6%
    * flat-agreement at nprobe=2), which shifts the cell-scoping recall
    * boundary q70/ST14 already backstop. The oracle's k=8 stays on the
    * exact flat argmax.
    */
  private[graft] def q132Assigned(s: SparkSession, d: String, k: Int): DataFrame = {
    val cents = ivfCentsK(s, d, k)
    // spread BEFORE the assignment projection: the per-vector k-cosine
    // argmax and the within-cell pairwise stage downstream both inherit
    // the scan's partitioning under a broadcast join — one task on the
    // single-row-group local layout (the q138 cand re-split, applied at
    // the shared assignment seam)
    val e = spreadForKernels(embs(s, d), "vec_id")
    val assigned =
      if (k <= Ivf.InlineFormMaxK) Ivf.assign(e, cents)
      else {
        val k1 = math.max(2, math.round(math.sqrt(k.toDouble)).toInt)
        val (coarse, coarseOf) =
          Models.cached(s"ivfcoarse:$d:k=$k,k1=$k1,rounds=2")(
            Ivf.coarsen(s, cents, k1, 2))
        Ivf.assignTwoLevel(e, cents, coarse, coarseOf, nprobe = 2)
      }
    // `cos` is the winning rounded cosine to the ASSIGNED centroid under
    // either path — the priority key the q136 keep-hard policy ranks on
    assigned.select(col("vec_id"), col("cid"), col("cos"), col("embedding"))
  }

  /** q136's pipeline with the quantizer size as a parameter — same
    * routing dial as [[q132Frame]] (two-level assignment past
    * [[Ivf.InlineFormMaxK]]); the keep PRIORITY is the SemDeDup paper's
    * (assignment cos asc, vec_id asc) instead of lowest-id. The Q entry
    * pins k=8 for the oracle.
    */
  private[graft] def q136Frame(s: SparkSession, d: String, k: Int): DataFrame = {
    val tau = 0.4
    val assigned = q132Assigned(s, d, k)
    val a = assigned.select(col("cid").as("cid_a"), col("vec_id").as("vec_a"),
      col("embedding").as("ea"), col("cos").as("cos_a"))
    val b = assigned.select(col("cid").as("cid_b"), col("vec_id").as("vec_b"),
      col("embedding").as("eb"), col("cos").as("cos_b"))
    val dropped = a.join(b, col("cid_a") === col("cid_b") &&
        (col("cos_a") < col("cos_b") ||
          (col("cos_a") === col("cos_b") && col("vec_a") < col("vec_b"))))
      .filter(TextOps.cosine(col("ea"), col("eb")) >= tau)
      .select(col("vec_b").as("vec_id")).distinct()
    assigned.join(dropped, Seq("vec_id"), "left_anti")
      .select(col("vec_id"), col("cid"), col("cos").as("centroid_cos"))
      .orderBy(col("vec_id"))
  }

  private[graft] def q132Frame(s: SparkSession, d: String, k: Int): DataFrame = {
    val tau = 0.4
    val assigned = q132Assigned(s, d, k).drop("cos")
    val a = assigned.select(col("cid"), col("vec_id").as("vec_a"),
      col("embedding").as("ea"))
    val b = assigned.select(col("cid").as("cid_b"),
      col("vec_id").as("vec_b"), col("embedding").as("eb"))
    val dropped = a.join(b, col("cid") === col("cid_b") &&
        col("vec_a") < col("vec_b"))
      .filter(TextOps.cosine(col("ea"), col("eb")) >= tau)
      .select(col("vec_b").as("vec_id")).distinct()
    assigned.join(dropped, Seq("vec_id"), "left_anti")
      .select(col("vec_id"), col("cid"))
      .orderBy(col("vec_id"))
  }

  // Trained-model artifacts shared across queries ([[Models]]): one
  // Verify/Bench process trains each (dataset, hyperparameters) model
  // exactly once — q108/q109/q110/q116 share one PQ codebook set the way
  // q88/q101 already share one bloom filter. Keys carry every
  // hyperparameter so configurations never alias.
  private[graft] def ivfCents(s: SparkSession, d: String): Ivf.Centroids =
    ivfCentsK(s, d, 8)
  private[graft] def ivfCentsK(s: SparkSession, d: String, k: Int): Ivf.Centroids =
    Models.cached(s"ivf:$d:k=$k,rounds=2")(Ivf.train(embs(s, d), k, 2))

  /** q138's body, parameterized for the stress harness: per-anchor top
    * `kTop` different-label neighbors over cell-bucketed candidates, cut
    * by the bounded [[graft.functions.TopK]] aggregate (its map-side
    * partials move ≤ `kTop` rows per anchor and task, where a
    * row_number() window would shuffle every scored pair).
    */
  private[graft] def hardNegatives(s: SparkSession, d: String,
      cents: Ivf.Centroids, nprobe: Int, kTop: Int): DataFrame = {
    val e = embs(s, d)
    // Per-side norms are computed ONCE per vector and carried through
    // the join, so each scored pair costs one dot product instead of
    // three (the projections sit on opposite sides of the join, which
    // CollapseProject does not cross). Bit-identical to the fused
    // cosine: the same sqrt results feed the same multiply/divide.
    val anchors = spreadForKernels(e, "vec_id")
      .select(col("vec_id").as("qid"), col("label").as("qlabel"),
        col("embedding").as("qv"),
        sqrt(TextOps.norm2(col("embedding"))).as("qn"),
        explode(slice(array_sort(Ivf.rankedCells(cents, col("embedding"))),
          1, nprobe)).as("pc"))
      .select(col("qid"), col("qlabel"), col("qv"), col("qn"),
        col("pc.cid").as("cid"))
    // Under a broadcast join the pair stage inherits the candidate
    // side's partitioning; a small single-row-group input (the driver
    // testdata is one row group per file) would serialize the whole
    // ~nprobe·n²/k scoring onto ONE task. The candidate rows spread
    // AFTER their projection: spread before it, the pair stage's
    // codegen evaluates the deferred `nn` once per scored PAIR instead
    // of once per vector (measured at sf0.1: pair-stage CPU 1.8 → 2.8 s,
    // q138 wall +25%). At scale the anchors outgrow the broadcast
    // threshold anyway: the join shuffles both sides on cid and the pair
    // stage parallelizes across the k cells (the quantizer dial).
    val cand = spreadForKernels(e.select(col("vec_id").as("neg_id"),
      col("label").as("nlabel"), col("embedding").as("nv"),
      sqrt(TextOps.norm2(col("embedding"))).as("nn"),
      Ivf.bestCell(cents, col("embedding")).as("cid")), "neg_id")
    val pairCos = round(TextOps.dot(col("qv"), col("nv")) /
      (col("qn") * col("nn")), 6)
    val pairs = anchors.join(cand, Seq("cid"))
      .filter(col("qlabel") =!= col("nlabel") && col("qid") =!= col("neg_id"))
    pairs.select(col("qid"),
        struct((-pairCos).as("ncos"), col("neg_id").as("nid")).as("sn"))
      .groupBy(col("qid"))
      .agg(graft.functions.TopK.scored(col("sn"), kTop).as("negs"))
      .select(col("qid").as("anchor_id"), posexplode(col("negs")))
      .select(col("anchor_id"), (col("pos") + 1).as("neg_rank"),
        col("col.nid").as("neg_id"), (-col("col.ncos")).as("cosine"))
      .orderBy(col("anchor_id"), col("neg_rank"))
  }
  private[graft] def pqBooks(s: SparkSession, d: String): Pq.Codebooks =
    Models.cached(s"pq:$d:rounds=1")(Pq.train(embs(s, d), rounds = 1))
  private[graft] def bpeMerges(s: SparkSession, d: String): Seq[Bpe.Merge] =
    Models.cached(s"bpe:$d:rounds=4")(Bpe.train(docs(s, d), rounds = 4))
  /** q115's codebooks: trained on IVF-cell residuals (the FAISS IVF-PQ
    * shape), so they depend on the trained coarse quantizer too.
    */
  private[graft] def pqResidualBooks(s: SparkSession, d: String): Pq.Codebooks =
    Models.cached(s"pqres:$d:k=8,rounds=2,pqrounds=1") {
      val cents = ivfCents(s, d)
      val res = Ivf.assign(embs(s, d), cents).select(col("vec_id"),
        Pq.residual(col("embedding"), col("cid"), cents).as("embedding"))
      Pq.train(res, rounds = 1)
    }

  /** Materialized IVF-PQ index: (vec_id, code) parquet, hive-
    * partitioned by IVF cell — the posting-list layout of a real ANN
    * index. `code` is the vector's 8 PQ codes packed into ONE long
    * ([[Pq.packCodes]], the FAISS uint8-word layout — ~8× less per-row
    * overhead than 8 int columns); searches unpack by shift/mask
    * ([[Pq.codeAt]]), never touch the raw floats, and restrict to
    * probed cells by DIRECTORY (partition pruning), so at 100 TB a
    * 2-of-8-cell probe opens ~1/4 of the index files and none of the
    * corpus. Built once per process under a per-process path token
    * (two concurrent JVMs — e.g. Verify and Bench on one dataset —
    * each build their own copy rather than overwriting an index the
    * other is scanning; parquet overwrite is not atomic for concurrent
    * readers). `residual=true` stores codes of the cell-residual
    * vectors under the residual-trained codebooks (q115's FAISS shape).
    */
  private[graft] def ivfPqIndex(s: SparkSession, d: String,
      residual: Boolean = false): DataFrame = {
    val kind = if (residual) "ivfpq-res" else "ivfpq"
    val path = Models.cached(s"index:$kind:$d:k=8,rounds=2,pqrounds=1") {
      val dirMd5 = java.security.MessageDigest.getInstance("MD5")
        .digest(d.getBytes("UTF-8")).map("%02x".format(_)).mkString
      // index storage root: local tmp by default; a cluster deployment
      // points this at HDFS/object storage
      val root = s.conf.getOption("spark.graft.index.root")
        .getOrElse("/tmp/graft_index")
      // best-effort sweep of DEAD processes' index copies: the pid
      // token prevents concurrent JVMs overwriting each other's live
      // index, but every process leaves a full copy behind — without
      // this, repeated Verify/Bench runs accumulate disk without bound.
      // A dir whose pid is no longer alive can never be read again (the
      // path is only reachable through that process's Models cache).
      sweepDeadPidDirs(root, "^[0-9a-f]{32}-p(\\d+)$".r)
      val p = s"$root/$dirMd5-p${ProcessHandle.current().pid()}/$kind"
      val cents = ivfCents(s, d)
      val books = if (residual) pqResidualBooks(s, d) else pqBooks(s, d)
      val assigned = Ivf.assign(embs(s, d), cents)
      val vec = if (residual)
        Pq.residual(col("embedding"), col("cid"), cents) else col("embedding")
      assigned
        .select(col("vec_id"), col("cid"),
          Pq.packCodes(vec, books).as("code"))
        .write.mode("overwrite").partitionBy("cid").parquet(p)
      p
    }
    s.read.parquet(path)
  }

  /** Delete the dirs directly under `root` whose name matches `name`
    * (its first group the owning pid) and whose owner is dead — crash
    * leftovers of [[ivfPqIndex]].
    * Best-effort: any IO failure (a dir another sweep already removed,
    * permissions) is ignored — a leftover dir costs disk, not
    * correctness.
    *
    * Deliberately `java.io.File`, NOT the Hadoop FS API (the one
    * justified local-FS use on the product path — see the PLANS.md
    * filesystem inventory): the pid-liveness probe is meaningful only
    * for processes on THIS host, so on a shared `hdfs://`-like root —
    * where other hosts' pids are unknowable — sweeping would be WRONG
    * (it would reap a live remote JVM's dir). There the local listing
    * correctly degrades to a no-op and retention belongs to the
    * deployment.
    */
  private def sweepDeadPidDirs(root: String, name: scala.util.matching.Regex): Unit =
    try {
      val dirs = new java.io.File(root).listFiles()
      if (dirs != null) dirs.foreach { f =>
        val dead = name.findFirstMatchIn(f.getName).exists { mm =>
          val pid = mm.group(1).toLong
          val h = ProcessHandle.of(pid)
          pid != ProcessHandle.current().pid() &&
            !(h.isPresent && h.get.isAlive)
        }
        if (dead) try {
          import scala.jdk.CollectionConverters._
          scala.util.Using.resource(java.nio.file.Files.walk(f.toPath)) { st =>
            st.iterator().asScala.toSeq.reverse
              .foreach(p => java.nio.file.Files.deleteIfExists(p))
          }
        } catch { case _: java.io.IOException => () }
      }
    } catch { case NonFatal(_) => () }

  /** The query vector, collected once (1 row — the ANN-query contract:
    * a search receives its query as a literal, not as a table).
    */
  private def queryVec(s: SparkSession, d: String, qid: Long): Seq[Double] =
    Models.cached(s"qvec:$d:$qid") {
      embs(s, d).filter(col("vec_id") === qid)
        .select(col("embedding").cast("array<double>"))
        .head().getSeq[Double](0).toIndexedSeq
    }

  /** The query's top-`nprobe` IVF cells (bounded collect of
    * [[Ivf.probeCells]] — nprobe rows, model-artifact sized).
    */
  private def probedCells(s: SparkSession, d: String, qid: Long,
      nprobe: Int): Seq[Long] =
    Models.cached(s"probe:$d:qid=$qid,k=8,rounds=2,nprobe=$nprobe") {
      val q = embs(s, d).filter(col("vec_id") === qid)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      Ivf.probeCells(q, ivfCents(s, d), nprobe)
        .select(col("cid")).collect().map(_.getLong(0)).toSeq
    }

  // DuckDB rendering of the md5 hash helpers (must mirror TextOps exactly)
  private def duckHash(seed: Int, expr: String): String =
    s"CAST(concat('0x', substr(md5('$seed|' || ($expr)), 1, 8)) AS BIGINT)"
  private def duckHash32(expr: String): String =
    s"CAST(concat('0x', substr(md5($expr), 1, 8)) AS BIGINT)"
  // the 56-bit shingle-set hash of graft.functions.ShingleHashSet
  private def duckHash56(expr: String): String =
    s"CAST(concat('0x', substr(md5($expr), 1, 14)) AS BIGINT)"
  private val duckWords = "string_split(text, ' ')"

  /** Tiny per-language stopword profiles for q77 (shared by the Spark
    * and DuckDB sides so both score identically).
    */
  private val LangStops: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "that"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein", "nicht", "zu"),
    "fr" -> Seq("le", "la", "les", "et", "est", "un", "une", "des"))
  private val duckShingles =
    "[ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] for i in generate_series(1, len(ws)-2)]"

  /** Character-bigram profiles for q107 (top bigrams of each language's
    * orthography; shared by the Spark and DuckDB sides).
    */
  private val BigramProfiles: Map[String, Seq[String]] = Map(
    "en" -> Seq("th", "he", "in", "er", "an", "re", "on", "at"),
    "de" -> Seq("en", "er", "ch", "de", "ei", "ie", "un", "ge"),
    "fr" -> Seq("es", "le", "de", "re", "en", "on", "nt", "ou"))

  /** MinHash signature frame (Spark side), shared by q42/q43. The
    * native signature kernel replaced a HOF form that interpreted ~10us
    * per shingle inside the scan stage.
    */
  private def minhashSig(s: SparkSession, d: String, nHashes: Int): DataFrame = {
    spreadForKernels(docs(s, d))
      .filter(TextOps.eligible(col("text")))
      .select(col("doc_id"), TextOps.signature(col("text"), nHashes).as("sig"))
      .select(col("doc_id") +: (0 until nHashes).map(j =>
        element_at(col("sig"), j + 1).as(s"mh$j")): _*)
  }

  /** DuckDB rendering of TextOps.cosine over two list columns. */
  private def duckCos(a: String, b: String): String = s"""round(
        list_sum([$a[i]::DOUBLE * $b[i]::DOUBLE
                  for i in generate_series(1, len($a))])
        / (sqrt(list_sum([$a[i]::DOUBLE * $a[i]::DOUBLE
                  for i in generate_series(1, len($a))]))
         * sqrt(list_sum([$b[i]::DOUBLE * $b[i]::DOUBLE
                  for i in generate_series(1, len($b))]))), 6)"""

  /** DuckDB rendering of TextOps.lshBandBucket (sign bits over md5-derived
    * hyperplanes `[planeStart, planeStart+nPlanes)`).
    */
  private def duckBandBucket(tbl: String, planeStart: Int, nPlanes: Int): String =
    (0 until nPlanes).map { j =>
      val p = planeStart + j
      s"""CASE WHEN list_sum([$tbl.embedding[i]::DOUBLE *
             ((CAST(concat('0x', substr(md5('${p}_' || (i-1)), 1, 8)) AS BIGINT) % 2001) - 1000) / 1000.0
             for i in generate_series(1, len($tbl.embedding))]) >= 0
           THEN ${1L << j} ELSE 0 END"""
    }.mkString(" + ")

  /** DuckDB replay of Ivf.train + final Ivf.assign: unrolled Lloyd rounds
    * as CTEs (c0 = seeds; aN = assignment against c(N-1); cN = exact-decimal
    * element-wise means, COALESCEd against c(N-1) so an emptied cluster
    * keeps its previous centroid — mirrors Ivf.train). k/dim/rounds are all
    * parameters. [[duckIvfFinal]] names the final assignment CTE,
    * [[duckIvfCents]] the trained-centroid CTE.
    */
  private def duckIvfCtes(k: Int, rounds: Int, dim: Int): String =
    duckIvfCtesOn("embeddings", k, rounds, dim, "")

  /** [[duckIvfCtes]] generalized over the source table (any relation with
    * (vec_id, embedding)) and a CTE-name prefix, so a SECOND Lloyd run —
    * e.g. q134's coarse quantizer trained over the centroid table — can
    * coexist in one query.
    */
  private def duckIvfCtesOn(src: String, k: Int, rounds: Int, dim: Int,
      p: String): String = {
    def assignCte(cents: String, out: String) = s"""
      ${out}_sc AS (SELECT e.vec_id, e.embedding, c.cid,
          ${duckCos("e.embedding", "c.cv")} AS cos
        FROM $src e, $cents c),
      $out AS (SELECT vec_id, embedding, cid, cos FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid) AS rn
          FROM ${out}_sc) t WHERE rn = 1)"""
    def meanCte(assigned: String, prev: String, out: String) = s"""
      $out AS (SELECT p.cid, coalesce(mm.cv, p.cv) AS cv
        FROM $prev p LEFT JOIN (
          SELECT cid, list(m ORDER BY pos) AS cv FROM (
            SELECT a.cid, g.i AS pos,
              ${Det.duckAvg("round(a.embedding[g.i]::DOUBLE, 6)", 6)} AS m
            FROM $assigned a CROSS JOIN generate_series(1, $dim) g(i)
            GROUP BY a.cid, g.i) t
          GROUP BY cid) mm ON mm.cid = p.cid)"""
    val steps = (1 to rounds).flatMap { t =>
      Seq(assignCte(s"${p}c${t - 1}", s"${p}a$t"),
        meanCte(s"${p}a$t", s"${p}c${t - 1}", s"${p}c$t"))
    } :+ assignCte(s"${p}c$rounds", s"${p}a${rounds + 1}")
    (s"""${p}c0 AS (SELECT vec_id AS cid, [x::DOUBLE for x in embedding] AS cv
         FROM $src WHERE vec_id < $k)"""
      +: steps).mkString(",\n")
  }
  private def duckIvfFinal(rounds: Int) = s"a${rounds + 1}"
  private def duckIvfCents(rounds: Int) = s"c$rounds"

  /** DuckDB replay of Bpe.train: unrolled merge rounds. Round r counts
    * adjacent pairs of bpe_s(r-1), takes the top (count desc, pair asc)
    * as bpe_m{r}, and rewrites the corpus into bpe_s{r} via the same
    * leftmost-non-overlapping padded replace as the Spark side.
    */
  private def duckBpeCtes(rounds: Int): String = {
    val head = s"""
      bpe_w AS (SELECT unnest(string_split(text, ' ')) AS word FROM documents),
      bpe_s0 AS (SELECT ' ' || array_to_string(
                   [word[i] for i in generate_series(1, length(word))], ' ')
                 || ' ' AS syms
                 FROM bpe_w WHERE length(word) > 0)"""
    val steps = (1 to rounds).map { r =>
      s"""
      bpe_p$r AS (SELECT unnest([ts[i] || ' ' || ts[i+1]
                    for i in generate_series(1, len(ts) - 1)]) AS pair
                  FROM (SELECT string_split(trim(syms), ' ') AS ts
                        FROM bpe_s${r - 1}) t WHERE len(ts) >= 2),
      bpe_m$r AS (SELECT pair, replace(pair, ' ', '') AS merged,
                    count(*) AS n
                  FROM bpe_p$r GROUP BY pair ORDER BY n DESC, pair LIMIT 1),
      bpe_s$r AS (SELECT replace(syms,
                    ' ' || (SELECT pair FROM bpe_m$r) || ' ',
                    ' ' || (SELECT merged FROM bpe_m$r) || ' ') AS syms
                  FROM bpe_s${r - 1})"""
    }
    (head +: steps).mkString(",")
  }

  /** DuckDB rendering of Pq.d2 (rounded sequential-fold squared L2 over
    * 8-dim subvectors).
    */
  private def duckD2(a: String, b: String): String =
    s"""round(list_sum([($a[i]::DOUBLE - $b[i]::DOUBLE) * ($a[i]::DOUBLE - $b[i]::DOUBLE)
         for i in generate_series(1, 8)]), 6)"""

  /** DuckDB replay of Pq.train(rounds=1) + Pq.encode: subvector slices,
    * seed codebooks (`vec_id < 16`), one Lloyd round with exact-decimal
    * means (emptied codes keep their seed), then final code assignment.
    * Ends with CTEs `c1` (trained codebooks) and `codes` (vec_id, m, cid).
    */
  private def duckPqCtes: String = duckPqCtesOver("embeddings")

  /** [[duckPqCtes]] over an arbitrary (vec_id, embedding) relation —
    * q115 trains the codebooks on IVF residuals instead of raw vectors.
    */
  private def duckPqCtesOver(src: String): String = s"""
      pq_sv AS (SELECT e.vec_id, g.m, e.embedding[g.m*8+1 : g.m*8+8] AS sv
             FROM $src e CROSS JOIN generate_series(0, 7) g(m)),
      pq_c0 AS (SELECT m, vec_id AS cid, sv AS cv FROM pq_sv WHERE vec_id < 16),
      pq_a1s AS (SELECT s.vec_id, s.m, c.cid, ${duckD2("s.sv", "c.cv")} AS d2
              FROM pq_sv s JOIN pq_c0 c ON c.m = s.m),
      pq_a1 AS (SELECT vec_id, m, cid FROM (
               SELECT *, row_number() OVER (PARTITION BY vec_id, m
                                            ORDER BY d2, cid) AS rn
               FROM pq_a1s) t WHERE rn = 1),
      pq_c1 AS (SELECT p.m, p.cid, coalesce(mm.cv, p.cv) AS cv
             FROM pq_c0 p LEFT JOIN (
               SELECT m, cid, list(mean ORDER BY pos) AS cv FROM (
                 SELECT a.m, a.cid, g.i AS pos,
                   ${Det.duckAvg("round(s.sv[g.i]::DOUBLE, 6)", 6)} AS mean
                 FROM pq_a1 a JOIN pq_sv s ON s.vec_id = a.vec_id AND s.m = a.m
                 CROSS JOIN generate_series(1, 8) g(i)
                 GROUP BY a.m, a.cid, g.i) t
               GROUP BY m, cid) mm ON mm.m = p.m AND mm.cid = p.cid),
      pq_cs AS (SELECT s.vec_id, s.m, c.cid, ${duckD2("s.sv", "c.cv")} AS d2
             FROM pq_sv s JOIN pq_c1 c ON c.m = s.m),
      pq_codes AS (SELECT vec_id, m, cid FROM (
                  SELECT *, row_number() OVER (PARTITION BY vec_id, m
                                               ORDER BY d2, cid) AS rn
                  FROM pq_cs) t WHERE rn = 1)"""

  private def duckSigCte(nHashes: Int, tbl: String = "documents"): String = {
    val mh = (0 until nHashes)
      .map(j => s"list_min([${duckHash(j, "x")} for x in sh]) AS mh$j").mkString(",\n        ")
    s"""t AS (SELECT doc_id, $duckWords ws FROM $tbl),
      s AS (SELECT doc_id, $duckShingles sh FROM t WHERE len(ws) >= 3),
      sig AS (SELECT doc_id, $mh FROM s)"""
  }

  /** Eagerly localCheckpoint `df`, releasing the storage blocks of the
    * PREVIOUS checkpoint taken under the same key. Bench loops construct
    * q72 afresh per timed run (5+ constructions back to back); each
    * `.localCheckpoint()` pins a fresh copy of the edge blocks, and
    * without an explicit release the dead copies linger until the
    * GC-driven ContextCleaner happens to collect the old Dataset —
    * executor storage occupancy would ratchet up within a bench loop.
    * The previous frame is released only AFTER the new one is
    * materialized (localCheckpoint is eager), and q72's rounds consume
    * the edges before the next construction, so nothing can read the
    * unpersisted blocks.
    */
  private val pinnedPrior =
    new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()
  private def pinReleasingPrior(key: String, df: DataFrame): DataFrame = {
    val cp = df.localCheckpoint()
    val prev = pinnedPrior.put(key, cp)
    if (prev != null) prev.queryExecution.logical match {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.unpersist(false)
      case _ => ()
    }
    cp
  }

  /** Distinct banded candidate pairs (doc_a < doc_b) over the q42
    * signature frame — the candidate kernel of q43, q84 and the
    * containment verifier (q122).
    */
  private def bandedCandidatePairs(s: SparkSession, d: String): DataFrame = {
    val bands = TextOps.bandStructs(TextOps.bandKeysOf(j => col(s"mh$j")))
    graft.operators.Dedup.bandPairs(minhashSig(s, d, 8)
      .select(col("doc_id"), explode(bands).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.bkey").as("bkey")))
  }

  /** Distinct shingle sets of verification-eligible docs (≥ 3 tokens) as
    * sorted 56-bit hash sets — the verify payload is `array<long>`
    * (~3.5x fewer shuffled bytes than the string shingles) and each
    * candidate pair verifies with one merge scan instead of a per-pair
    * string hash-set build (see [[graft.functions.ShingleHashSet]] for
    * the parity contract with the string form).
    */
  private def shingleSets(s: SparkSession, d: String): DataFrame =
    docs(s, d).filter(TextOps.eligible(col("text")))
      .select(col("doc_id"), TextOps.shingleSet(col("text")).as("shset"))

  /** Multi-member buckets up to this many are pruned by a broadcast
    * join in [[graft.operators.Dedup.verifyBuckets]]; above it, by a
    * shuffle.
    */
  private val PruneBroadcastLimit = 1000000L

  /** Verified near-dup edges — q43's banded candidates at exact Jaccard
    * ≥ 0.5 — emitted in both directions as (src, dst).
    *
    * Verification is BUCKET-LOCAL ([[graft.operators.Dedup.verifyBuckets]]
    * with the [[graft.functions.VerifiedJaccardPairs]] generator): a
    * doc's shingle-set payload crosses the wire once per band (4×), not
    * once per candidate pair — the pair-join form it replaces replicated
    * both sets per pair, which is quadratic in clone-cluster size: at
    * 100× replica scale (500k docs, ~100-member clusters) it measured
    * 4.6 GB shuffle + 2.2 GB spill for q72 where this form's verify
    * stage shuffles linearly in docs×bands.
    *
    * The bucket probe's prunes keep that linear bound TIGHT. The
    * singleton prune matters because in a mostly-unique corpus (the
    * 100 TB common case, and the base testdata) almost every bucket is a
    * singleton: without it the bucket shuffle ships 4× corpus payload
    * where the old pair-join form shipped almost nothing (measured at
    * sf0.1: 11 MB vs 0.2 MB, 2.4× wall regression). Hot buckets fall
    * back to the pair-join form, restricted to those buckets, so only
    * pathological buckets pay the quadratic shuffle. The resulting edge
    * SET is bit-identical to the naive candidates→join→verify
    * composition (spec-locked, all paths forced).
    */
  private[graft] def verifiedEdges(s: SparkSession, d: String,
      hotCap: Int = 256, pruneBroadcastLimit: Long = PruneBroadcastLimit): DataFrame =
    verifiedEdgesOf(edgeBase(spreadForKernels(docs(s, d))), d, hotCap,
      pruneBroadcastLimit)

  /** The per-doc edge payload: (doc_id, 4 band keys from the 8-hash
    * MinHash signature, sorted shingle-hash set) of every
    * verification-eligible (>= 3 tokens) doc - both kernels map-side in
    * one pass over the text.
    *
    * It runs over its input as given. Callers that read the corpus once
    * (q72/q128's [[verifiedEdges]], q130) wrap it in [[spreadForKernels]]
    * first (q72 2.35→2.07 s). Callers whose plans REPLICATE the payload
    * lineage into several differently-pruned subplans (q87's exact-
    * collapse + fixpoint, the q160/q161 composed stages) do not: each
    * copy would pay its own spread exchange — ReuseExchange cannot
    * dedupe exchanges with different pruned children — and measured
    * slower (q87 2.96→3.62 s, q161 5.20→6.10 s).
    */
  private def edgeBase(docsDf: DataFrame,
      extra: Seq[(String, org.apache.spark.sql.Column)] = Nil): DataFrame =
    docsDf
      .filter(TextOps.eligible(col("text")))
      .select(Seq(col("doc_id"), TextOps.signature(col("text")).as("sig"),
        TextOps.shingleSet(col("text")).as("shset")) ++
        extra.map { case (n, c) => c.as(n) }: _*)
      .select(Seq(col("doc_id"), array(TextOps.bandKeys(col("sig")): _*).as("bkeys"),
        col("shset")) ++ extra.map { case (n, _) => col(n) }: _*)

  /** Edge-generation core over a prepared [[edgeBase]]-shaped frame
    * (doc_id, bkeys, shset): bucket-local Jaccard ≥ 0.5 (see
    * [[graft.functions.VerifiedJaccardPairs]] for why the
    * compose-then-filter form was the 100x wall time). `probeKey` keys
    * the memoized bucket-size probe - distinct inputs MUST use distinct
    * keys.
    */
  private def verifiedEdgesOf(base: DataFrame, probeKey: String,
      hotCap: Int, pruneBroadcastLimit: Long): DataFrame = {
    import graft.operators.Dedup
    val ver = Dedup.verifyBuckets(base, s"edgeprobe:$probeKey", hotCap,
      pruneBroadcastLimit, Dedup.jaccardAtLeast(0.5)).distinct()
    ver.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(ver.select(col("doc_b").as("src"), col("doc_a").as("dst")))
  }

  /** The 4×2-band key CTE over `sig` — ONE rendering shared by every
    * oracle that bands (pairwise edges, rep edges, q157): the banding
    * law cannot drift between them.
    */
  private def duckBandsCte: String = """bands AS (
        SELECT doc_id, 0 AS band, concat(mh0, '_', mh1) AS bkey FROM sig UNION ALL
        SELECT doc_id, 1, concat(mh2, '_', mh3) FROM sig UNION ALL
        SELECT doc_id, 2, concat(mh4, '_', mh5) FROM sig UNION ALL
        SELECT doc_id, 3, concat(mh6, '_', mh7) FROM sig)"""

  /** DuckDB twin of [[verifiedEdges]]: CTEs `t,s,sig,bands,cand,shset,ver,edges`. */
  private def duckEdgesCtes: String = duckEdgesCtesOf("documents")

  /** [[duckEdgesCtes]] over an arbitrary (doc_id, text) CTE/table — the
    * q160 composition runs the edge kernel over STAGE-1 SURVIVORS, not
    * the raw corpus.
    */
  private def duckEdgesCtesOf(tbl: String): String = s"""${duckSigCte(8, tbl)},
      ${duckBandsCte},
      cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
               FROM bands a JOIN bands b
               ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
      shset AS (SELECT doc_id,
                  list_distinct([${duckHash56("x")} for x in sh]) sh FROM s),
      ver AS (SELECT c.doc_a, c.doc_b FROM cand c
              JOIN shset x ON x.doc_id = c.doc_a
              JOIN shset y ON y.doc_id = c.doc_b
              WHERE len(list_distinct(list_intersect(x.sh, y.sh)))
                  / len(list_distinct(list_concat(x.sh, y.sh))) >= 0.5),
      edges AS (SELECT doc_a AS src, doc_b AS dst FROM ver
                UNION ALL SELECT doc_b, doc_a FROM ver)"""

  /** Rep-anchored DuckDB twin of [[graft.streaming.DocsStream
    * .nearDupVerifiedBatch]] over an arbitrary (doc_id, text) table:
    * candidates pair each bucket member with the bucket-MINIMUM rep
    * only (b−1 per bucket, the q157 discipline), verified at exact
    * Jaccard ≥ 0.5 — the clique-safe edge form q161 oracle-pins. Same
    * CTE names as [[duckEdgesCtesOf]] so the chain body is shared.
    */
  private def duckRepEdgesCtesOf(tbl: String): String = s"""${duckSigCte(8, tbl)},
      ${duckBandsCte},
      brep AS (SELECT band, bkey, min(doc_id) AS rep_id
               FROM bands GROUP BY band, bkey),
      cand AS (SELECT DISTINCT b.doc_id AS doc_a, r.rep_id AS doc_b
               FROM bands b JOIN brep r USING (band, bkey)
               WHERE r.rep_id < b.doc_id),
      shset AS (SELECT doc_id,
                  list_distinct([${duckHash56("x")} for x in sh]) sh FROM s),
      ver AS (SELECT c.doc_a, c.doc_b FROM cand c
              JOIN shset x ON x.doc_id = c.doc_a
              JOIN shset y ON y.doc_id = c.doc_b
              WHERE len(list_distinct(list_intersect(x.sh, y.sh)))
                  / len(list_distinct(list_concat(x.sh, y.sh))) >= 0.5),
      edges AS (SELECT doc_a AS src, doc_b AS dst FROM ver
                UNION ALL SELECT doc_b, doc_a FROM ver)"""

  /** q127's frame, exposed for the spec that runs BOTH shingle-stream
    * forms (through `spark.graft.kernelSpread`) and asserts identical
    * results.
    */
  private[graft] def q127Frame(s: SparkSession, d: String): DataFrame = {
    val dfCap = 50

      // shingles as ROWS from the fused ShingleRows generator, not
      // explode(shingles_k(...)): InferFiltersFromGenerate would
      // synthesize size(shingles_k(text, 3)) > 0 with the kernel INLINED
      // into the pushed filter — the shingle kernel running 2x per doc
      // (the repo's documented gotcha). The stream is SPLIT-AWARE
      // through [[spreadForKernels]]:
      //  - multi-split input (real corpus layouts, the 32-file stress
      //    corpora, any cluster deployment): shingles come map-side —
      //    the full token stream never crosses the wire; the first
      //    exchange is the sampled distinct (1/4 of the shingle stream).
      //  - single-row-group input (the driver testdata ships ONE row
      //    group per file, so the scan stage is one local task): the
      //    same generator runs behind one kernel-spread exchange of the
      //    doc rows — a local-parallelism workaround, not the scale
      //    plan. It replaced the windowed-lead form, which paid a
      //    one-row-PER-TOKEN exchange plus two window sorts for the same
      //    parallelism (clean full-bench min 1.168 → 1.092 s at sf0.1).
      // Both forms produce the identical (doc_id, sh) multiset →
      // identical results (spec-locked); the oracle is unchanged.
      val shRows = spreadForKernels(docs(s, d)).select(col("doc_id"),
        graft.functions.TextFunctions.shingleRows(col("text"), 3))
      // native hash32 (r19): this sampling filter runs once per
      // GENERATED shingle row — the hottest expression in the query —
      // and the builtin chain paid an md5 → 32-char hex → substring →
      // radix-parse per row for 4 digest bytes. Bit-identical law
      // (Md5Hash32 spec lock), oracle unchanged.
      val sampled = shRows
        .filter(graft.functions.TextFunctions.hash32Native(
          concat(lit("cset|"), col("sh"))) % 4 === 0)
        .distinct()
      val nshPerDoc = sampled.groupBy(col("doc_id")).agg(count(lit(1)).as("nsh"))
      // posting lists via the CAPPED collector, bounded at dfCap+1
      // elements PER AGGREGATION BUFFER: a plain collect_list would
      // materialize a hot boilerplate shingle's entire document list in
      // one buffer before the df filter could drop it — unbounded
      // reducer memory at 10^9-doc scale. CollectPairsCapped truncates
      // at dfCap+1, and a truncated list's final size is always exactly
      // dfCap+1 > dfCap, so the filter below drops precisely the same
      // shingles as an uncapped collect (kept lists are complete —
      // result-identical, buffer O(dfCap)).
      val postings = sampled.join(nshPerDoc, "doc_id")
        .groupBy(col("sh"))
        .agg(sort_array(graft.functions.CollectCapped.pairs(
          struct(col("doc_id"), col("nsh")), dfCap + 1)).as("ds"))
        .filter(size(col("ds")).between(2, dfCap))
      // within-list pair expansion through the native PairCombinations
      // generator: pairs stream row-by-row out of GenerateExec — no
      // intermediate n²/2 struct array per shingle, no interpreted
      // nested-transform dispatch (the HOFs are CodegenFallback)
      postings.select(graft.functions.PairCombinations.of(col("ds")))
        .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
          col("a.nsh").as("nsh_a"), col("b.nsh").as("nsh_b"))
        .agg(count(lit(1)).as("overlap"))
        .select(col("doc_a"), col("doc_b"), col("overlap"),
          (col("overlap") / least(col("nsh_a"), col("nsh_b"))).as("containment"))
        .filter(col("containment") >= 0.7)
        .orderBy(col("doc_a"), col("doc_b"))
      }

  /** The oracle-pinned token budget for q160's mixture stage — sized so
    * that at sf0.01 the running cut FIRES (the gated population carries
    * ~7.3k tokens; 6k cuts 217 → 175 docs) AND every split label
    * appears downstream (train 144 / val 20 / test 11). The stress
    * harness passes a scaled budget instead.
    */
  private[graft] val Q160Budget = 6000L

  /** The 8-gram decontamination kernel shared by q88/q101/q163/q160
    * (and mirrored by their oracles): verification-eligible docs'
    * DISTINCT word 8-grams as 32-bit md5 hashes — ONE definition so the
    * gram law and its consumers cannot drift apart. Since r19 the law
    * runs through the fused [[graft.functions.GramHashArray]] kernel
    * behind the builtin explode (no gram-string materialization, no
    * array_distinct pass, no hex-md5 chain; the old `size(tokens) >= 8`
    * pre-filter is folded into the kernel, which emits an empty array
    * under k tokens) — result-identical, spec-locked against the
    * compositional form in TextExprSpec.
    */
  private[graft] def gramStream8(df: DataFrame): DataFrame =
    df.select(col("doc_id"), explode(
        graft.functions.TextFunctions.gramHashArray(col("text"), 8)).as("g"))

  /** The eval-suite bloom — the one place the filter is sized, so
    * q101/q163/q160 cannot train mismatched filters under a shared
    * cache key. Capacity derives from the eval-gram inventory's actual
    * count at a 1% fp target (one aggregate `count()` per cache fill),
    * floored at the old pinned dials (2^16 items / 2^20 bits) so small
    * suites keep the historical filter. The constant-capacity form
    * measurably saturated when the inventory outgrew it (the r15
    * corpus-scaled STRESS_CONTAM row: ~50M eval grams vs 2^16 capacity
    * → fp ≈ 1, nothing pruned, every train gram reached the exact
    * join); sized from the inventory, the filter keeps pruning at any
    * suite scale for ~1.2 bytes/gram of task-literal budget.
    */
  private[graft] def trainEvalBloom(key: String, evalGrams: DataFrame) =
    graft.functions.BloomFunctions.trainBloomSizedCached(key, evalGrams,
      col("g"), fpp = 0.01, floorItems = 1L << 16, floorBits = 1L << 20)

  /** q163's engine with a PARAMETERIZED eval law: per-doc fraction of
    * 8-grams appearing in the eval suite, thresholded at 20%. The
    * stress harness passes the base-id-lifted law on replicated corpora
    * (raw `doc_id % 10` there marks every doc's own replicas as eval —
    * the measured degenerate worst case; the lifted law measures the
    * realistic disjoint-eval regime where the bloom prunes the gram
    * stream to true-overlap scale).
    */
  private[graft] def contaminationFracFrame(s: SparkSession, d: String,
      evalPred: org.apache.spark.sql.Column, bloomKey: String): DataFrame = {
    import graft.functions.BloomFunctions
    val grams = gramStream8(spreadForKernels(docs(s, d)))
    val evalGrams = grams.filter(evalPred).select(col("g")).distinct()
    val bloom = trainEvalBloom(bloomKey, evalGrams)
    val trainGrams = grams.filter(!evalPred)
    // per-doc DISTINCT-gram totals are a per-doc array property — one
    // map-side expression, never a corpus-gram aggregation (the naive
    // groupBy over the exploded stream moved ~100 rows/doc through an
    // exchange and carried 725 MB of the realistic 1000× row's spill)
    val totals = docs(s, d)
      .filter(!evalPred)
      .filter(size(TextOps.tokens(col("text"))) >= 8)
      // size of the fused distinct-gram-hash array (r19): same count as
      // size(array_distinct(shingles)) — the kernel dedupes on gram
      // byte runs — without materializing one string per gram position
      .select(col("doc_id"), size(
        graft.functions.TextFunctions.gramHashArray(col("text"), 8))
        .cast("long").as("n_grams"))
    val hits = trainGrams
      .filter(BloomFunctions.mightContain(bloom, col("g")))
      .join(evalGrams, "g")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_hit"))
    docs(s, d).filter(!evalPred)
      .join(totals, Seq("doc_id"), "left")
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"))
      .withColumn("frac",
        when(col("n_grams") > 0, col("n_hit") / col("n_grams"))
          .otherwise(lit(0.0)))
      .withColumn("keep", col("frac") < 0.2)
      .orderBy(col("doc_id"))
  }

  val all: Seq[Q] = Seq(
    // ---- exact dedup: hash-groupBy on full text ----
    Q("q40_dedup_exact", (s, d) => {
      docs(s, d).groupBy(col("text"))
        .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_copies"))
        .select(col("doc_id"), md5(col("text")).as("fp"), col("n_copies"))
        .orderBy(col("doc_id"))
    }, Some("""
      SELECT min(doc_id) AS doc_id, md5(text) AS fp, count(*) AS n_copies
      FROM documents GROUP BY text ORDER BY doc_id"""), bench = true),

    // ---- document fingerprint: md5 of normalized text ----
    Q("q41_fingerprint", (s, d) => {
      docs(s, d).select(col("doc_id"), md5(lower(col("text"))).as("fp"))
        .orderBy(col("doc_id"))
    }, Some("""
      SELECT doc_id, md5(lower(text)) AS fp FROM documents ORDER BY doc_id""")),

    // ---- MinHash signatures (8 hashes over 3-shingles) ----
    Q("q42_minhash_sig", (s, d) => {
      minhashSig(s, d, 8).orderBy(col("doc_id"))
    }, Some(s"""
      WITH ${duckSigCte(8)}
      SELECT * FROM sig ORDER BY doc_id"""), bench = true),

    // ---- MinHash LSH banding: candidate near-dup pairs ----
    Q("q43_minhash_pairs", (s, d) =>
      bandedCandidatePairs(s, d).orderBy(col("doc_a"), col("doc_b")),
      Some(s"""
      WITH ${duckSigCte(8)},
      ${duckBandsCte}
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
      ORDER BY doc_a, doc_b""")),

    // ---- SimHash (32-bit) ----
    Q("q44_simhash", (s, d) => {
      docs(s, d)
        .select(col("doc_id"),
          graft.functions.TextFunctions.simhash32Native(col("text")).as("simhash"))
        .orderBy(col("doc_id"))
    }, Some(s"""
      WITH t AS (SELECT doc_id, $duckWords ws FROM documents),
      h AS (SELECT doc_id, len(ws) AS n,
        [${duckHash32("w")} for w in ws] AS hs FROM t)
      SELECT doc_id,
        CAST(list_sum([CASE WHEN 2 * len(list_filter(hs, x -> ((x >> b) & 1) = 1)) > n
                       THEN (CAST(1 AS BIGINT) << b) ELSE 0 END
                       for b in generate_series(0, 31)]) AS BIGINT) AS simhash
      FROM h ORDER BY doc_id""")),

    // ---- n-gram Jaccard near-dup (within-source blocking) ----
    Q("q45_ngram_jaccard", (s, d) => {
      val base = docs(s, d)
        .filter(TextOps.eligible(col("text")))
        .select(col("doc_id"), col("source"), TextOps.shingleSet(col("text")).as("shset"))
      val a = base.select(col("doc_id").as("doc_a"), col("source").as("src_a"),
        col("shset").as("sh_a"))
      val b = base.select(col("doc_id").as("doc_b"), col("source").as("src_b"),
        col("shset").as("sh_b"))
      a.join(b, col("src_a") === col("src_b") && col("doc_a") < col("doc_b"))
        .withColumn("jaccard",
          graft.functions.SetFunctions.jaccardSorted(col("sh_a"), col("sh_b")))
        .filter(col("jaccard") >= 0.2)
        .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 6).as("jaccard"))
        .orderBy(col("doc_a"), col("doc_b"))
    }, Some(s"""
      WITH t AS (SELECT doc_id, source, $duckWords ws FROM documents),
      s0 AS (SELECT doc_id, source, $duckShingles sh
             FROM t WHERE len(ws) >= 3),
      s AS (SELECT doc_id, source,
              list_distinct([${duckHash56("x")} for x in sh]) sh FROM s0)
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        round(len(list_distinct(list_intersect(a.sh, b.sh)))
          / len(list_distinct(list_concat(a.sh, b.sh))), 6) AS jaccard
      FROM s a JOIN s b ON a.source = b.source AND a.doc_id < b.doc_id
      WHERE len(list_distinct(list_intersect(a.sh, b.sh)))
          / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.2
      ORDER BY doc_a, doc_b""")),

    // ---- n-gram Jaccard THROUGH BANDING (the 100 TB form of q45):
    // candidates come from the q43 MinHash-banding kernel — an equi-join
    // on high-cardinality band keys, never O(B²) within a constant-arity
    // block like q45's per-source join — then the exact Jaccard verifies
    // each candidate. q45 above stays as the small-data recall oracle
    // (mirroring the q60→q70 pattern); PlanShapeSpec locks this plan
    // cartesian-free. Banding recall: 4 bands × 2 hashes catch any pair
    // with J ≥ 0.5 w.h.p.; pairs in [0.2, 0.5) surface only when a band
    // collides — the standard LSH trade, tuned by (bands, rows). ----
    Q("q84_ngram_jaccard_banded", (s, d) => {
      val shs = shingleSets(s, d)
      bandedCandidatePairs(s, d)
        .join(shs.select(col("doc_id").as("doc_a"), col("shset").as("sh_a")), "doc_a")
        .join(shs.select(col("doc_id").as("doc_b"), col("shset").as("sh_b")), "doc_b")
        .withColumn("jaccard",
          graft.functions.SetFunctions.jaccardSorted(col("sh_a"), col("sh_b")))
        .filter(col("jaccard") >= 0.2)
        .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 6).as("jaccard"))
        .orderBy(col("doc_a"), col("doc_b"))
    }, Some(s"""
      WITH ${duckSigCte(8)},
      ${duckBandsCte},
      cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
               FROM bands a JOIN bands b
               ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
      shset AS (SELECT doc_id,
                  list_distinct([${duckHash56("x")} for x in sh]) sh FROM s)
      SELECT c.doc_a, c.doc_b,
        round(len(list_distinct(list_intersect(x.sh, y.sh)))
          / len(list_distinct(list_concat(x.sh, y.sh))), 6) AS jaccard
      FROM cand c JOIN shset x ON x.doc_id = c.doc_a
                  JOIN shset y ON y.doc_id = c.doc_b
      WHERE len(list_distinct(list_intersect(x.sh, y.sh)))
          / len(list_distinct(list_concat(x.sh, y.sh))) >= 0.2
      ORDER BY doc_a, doc_b""")),

    // ---- brute-force cosine top-k (similarity-search baseline) ----
    Q("q46_cosine_topk", (s, d) => {
      val e = embs(s, d)
      val q = e.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
      e.filter(col("vec_id") =!= 0).crossJoin(broadcast(q))
        .select(col("vec_id"), TextOps.cosine(col("embedding"), col("qv")).as("cosine"))
        .orderBy(col("cosine").desc, col("vec_id")).limit(20)
    }, Some("""
      WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
      SELECT vec_id, round(
        list_sum([e.embedding[i]::DOUBLE * q.qv[i]::DOUBLE
                  for i in generate_series(1, len(e.embedding))])
        / (sqrt(list_sum([e.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE
                  for i in generate_series(1, len(e.embedding))]))
         * sqrt(list_sum([q.qv[i]::DOUBLE * q.qv[i]::DOUBLE
                  for i in generate_series(1, len(q.qv))]))), 6) AS cosine
      FROM embeddings e, q WHERE e.vec_id <> 0
      ORDER BY cosine DESC, vec_id LIMIT 20"""), bench = true),

    // ---- LSH bucket assignment (ANN scale path) ----
    Q("q47_ann_buckets", (s, d) => {
      embs(s, d)
        .select(col("vec_id"), TextOps.lshBucket(col("embedding"), 8, 64).as("bucket"))
        .orderBy(col("vec_id"))
    }, Some({
      def planeComp(j: Int) =
        s"((CAST(concat('0x', substr(md5($j || '_' || (i-1)), 1, 8)) AS BIGINT) % 2001) - 1000) / 1000.0"
      val bits = (0 until 8).map { j =>
        s"""CASE WHEN list_sum([e.embedding[i]::DOUBLE * ${planeComp(j)}
             for i in generate_series(1, len(e.embedding))]) >= 0
           THEN ${1L << j} ELSE 0 END"""
      }.mkString(" + ")
      s"""SELECT vec_id, CAST($bits AS BIGINT) AS bucket
          FROM embeddings e ORDER BY vec_id"""
    })),

    // ---- ANN search: cosine top-10 within the query vector's bucket ----
    Q("q48_ann_search", (s, d) => {
      val withBucket = embs(s, d)
        .withColumn("bucket", TextOps.lshBucket(col("embedding"), 8, 64))
      val q = withBucket.filter(col("vec_id") === 0)
        .select(col("bucket").as("qbucket"), col("embedding").as("qv"))
      withBucket.join(broadcast(q), col("bucket") === col("qbucket") && col("vec_id") =!= 0)
        .select(col("vec_id"), TextOps.cosine(col("embedding"), col("qv")).as("cosine"))
        .orderBy(col("cosine").desc, col("vec_id")).limit(10)
    }, Some({
      def planeComp(j: Int, v: String) =
        s"((CAST(concat('0x', substr(md5($j || '_' || (i-1)), 1, 8)) AS BIGINT) % 2001) - 1000) / 1000.0"
      def bucketOf(tbl: String) = (0 until 8).map { j =>
        s"""CASE WHEN list_sum([$tbl.embedding[i]::DOUBLE * ${planeComp(j, tbl)}
             for i in generate_series(1, len($tbl.embedding))]) >= 0
           THEN ${1L << j} ELSE 0 END"""
      }.mkString(" + ")
      s"""WITH b AS (SELECT vec_id, embedding, CAST(${bucketOf("e")} AS BIGINT) AS bucket
                     FROM embeddings e),
        q AS (SELECT bucket AS qbucket, embedding AS qv FROM b WHERE vec_id = 0)
      SELECT b.vec_id, round(
        list_sum([b.embedding[i]::DOUBLE * q.qv[i]::DOUBLE
                  for i in generate_series(1, len(b.embedding))])
        / (sqrt(list_sum([b.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE
                  for i in generate_series(1, len(b.embedding))]))
         * sqrt(list_sum([q.qv[i]::DOUBLE * q.qv[i]::DOUBLE
                  for i in generate_series(1, len(q.qv))]))), 6) AS cosine
      FROM b, q WHERE b.bucket = q.qbucket AND b.vec_id <> 0
      ORDER BY cosine DESC, vec_id LIMIT 10"""
    })),

    // ---- text statistics / quality scoring ----
    // (kernel spread measured and NOT taken: 0.39→0.47 s quiet-box A/B
    // r18 — the per-row metrics are too cheap to repay the exchange)
    Q("q49_text_stats", (s, d) => {
      val ws = TextOps.tokens(col("text"))
      docs(s, d).select(
        col("doc_id"),
        col("n_chars"),
        length(col("text")).cast("long").as("text_len"),
        size(ws).cast("long").as("n_tokens"),
        // NOTE (r19): a fused native distinct-token-count kernel was
        // built, measured and REVERTED here — split(text) is already
        // materialized and shared across this projection's columns, so
        // array_distinct is incremental work while the kernel re-scans
        // the raw text per row (subset A/B q49 0.449 → 0.642 s)
        size(array_distinct(ws)).cast("long").as("n_distinct"),
        ((length(col("text")) - (size(ws) - 1)) / size(ws)).as("avg_token_len"),
        (size(filter(ws, w => w.isin("the", "a"))) / size(ws)).as("stop_ratio"),
        round(lit(0.3) * (size(filter(ws, w => w.isin("the", "a"))) / size(ws)) +
          lit(0.7) * least(size(ws), lit(200)) / 200.0, 6).as("quality_score"))
        .orderBy(col("doc_id"))
    }, Some("""
      WITH t AS (SELECT doc_id, n_chars, text, string_split(text, ' ') ws FROM documents)
      SELECT doc_id, n_chars, CAST(length(text) AS BIGINT) AS text_len,
        CAST(len(ws) AS BIGINT) AS n_tokens,
        CAST(len(list_distinct(ws)) AS BIGINT) AS n_distinct,
        (length(text) - (len(ws) - 1)) / len(ws) AS avg_token_len,
        len(list_filter(ws, w -> w IN ('the', 'a'))) / len(ws) AS stop_ratio,
        round(0.3 * (len(list_filter(ws, w -> w IN ('the', 'a'))) / len(ws))
          + 0.7 * least(len(ws), 200) / 200.0, 6) AS quality_score
      FROM t ORDER BY doc_id"""), bench = true),

    // ---- language-ID heuristic ----
    Q("q50_lang_id", (s, d) => {
      val ws = TextOps.tokens(col("text"))
      docs(s, d).select(col("doc_id"), col("lang"),
        when(array_contains(ws, "the"), "en").otherwise("unk").as("predicted"))
        .orderBy(col("doc_id"))
    }, Some("""
      SELECT doc_id, lang,
        CASE WHEN list_contains(string_split(text, ' '), 'the')
             THEN 'en' ELSE 'unk' END AS predicted
      FROM documents ORDER BY doc_id""")),

    // ---- profile-based language ID: per-language stopword hit ratios,
    // argmax with deterministic tie-break (en > de > fr on equal score).
    // Ratios are int/int divisions of identical counts → exact doubles
    // on both engines. The scale shape is unchanged from q50: pure
    // map-side expressions, no shuffle until the output sort. ----
    Q("q77_lang_profile", (s, d) => {
      val ws = TextOps.tokens(col("text"))
      def hitRatio(stops: Seq[String]) =
        size(filter(ws, w => w.isin(stops: _*))) / size(ws)
      val rEn = hitRatio(LangStops("en"))
      val rDe = hitRatio(LangStops("de"))
      val rFr = hitRatio(LangStops("fr"))
      docs(s, d).select(col("doc_id"), col("lang"),
        rEn.as("r_en"), rDe.as("r_de"), rFr.as("r_fr"),
        when(rEn >= rDe && rEn >= rFr, "en")
          .when(rDe >= rFr, "de").otherwise("fr").as("predicted"))
        .orderBy(col("doc_id"))
    }, Some {
      def duckRatio(lang: String) = {
        val set = LangStops(lang).map(w => s"'$w'").mkString(", ")
        s"len(list_filter(ws, w -> w IN ($set))) / len(ws)"
      }
      s"""
      WITH t AS (SELECT doc_id, lang, $duckWords ws FROM documents)
      SELECT doc_id, lang,
        ${duckRatio("en")} AS r_en,
        ${duckRatio("de")} AS r_de,
        ${duckRatio("fr")} AS r_fr,
        CASE WHEN ${duckRatio("en")} >= ${duckRatio("de")}
              AND ${duckRatio("en")} >= ${duckRatio("fr")} THEN 'en'
             WHEN ${duckRatio("de")} >= ${duckRatio("fr")} THEN 'de'
             ELSE 'fr' END AS predicted
      FROM t ORDER BY doc_id"""
    }),

    // ---- token frequency top-N ----
    Q("q51_token_topn", (s, d) => {
      docs(s, d).select(explode(TextOps.tokens(col("text"))).as("token"))
        .groupBy(col("token")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("token")).limit(30)
    }, Some("""
      SELECT token, count(*) AS n
      FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents) t
      GROUP BY token ORDER BY n DESC, token LIMIT 30""")),

    // ---- deterministic corpus sampling: keep rows where an md5-derived
    // hash of the key falls under the rate. The training-pipeline
    // sampling primitive — reproducible across runs/engines/partitions
    // (TABLESAMPLE is not), map-side, and stratifiable by prefixing the
    // key with the stratum ----
    Q("q79_deterministic_sample", (s, d) => {
      val h = conv(substring(md5(concat(lit("sample|"), col("doc_id").cast("string"))),
        1, 8), 16, 10).cast("long")
      docs(s, d).filter(h % 100 < 10)
        .select(col("doc_id"), col("source"), col("lang"), col("n_chars"))
        .orderBy(col("doc_id"))
    }, Some("""
      SELECT doc_id, source, lang, n_chars
      FROM documents
      WHERE CAST(concat('0x', substr(md5('sample|' || doc_id), 1, 8)) AS BIGINT) % 100 < 10
      ORDER BY doc_id""")),

    // ---- SimHash near-dup PAIRS at scale: a 64-BIT signature (two seeded
    // 32-bit halves) banded into 4 × 16-BIT keys — candidates via
    // equi-join on (band, bkey), verify by Hamming distance ≤ 3. The
    // bucket-cardinality budget: each band has 65,536 buckets, so the
    // per-band self-join is O(sum over buckets of n_b²) with expected
    // n_b ≈ n/65k under a uniform signature — vs 256 buckets for byte
    // bands, which saturate and go quadratic at corpus scale. A pair
    // within distance 3 differs in ≤3 of the 4 bands, so it agrees on
    // ≥1 full band — recall at radius 3 stays exact. ----
    Q("q82_simhash_neardup", (s, d) => {
      val ws = TextOps.tokens(col("text"))
      val sh = docs(s, d).select(col("doc_id"),
        graft.functions.TextFunctions.simhash32Native(col("text"), Some(0)).as("lo"),
        graft.functions.TextFunctions.simhash32Native(col("text"), Some(1)).as("hi"))
      val bandStructs = Seq(
        (0, col("lo").bitwiseAND(lit(65535L))),
        (1, shiftright(col("lo"), 16).bitwiseAND(lit(65535L))),
        (2, col("hi").bitwiseAND(lit(65535L))),
        (3, shiftright(col("hi"), 16).bitwiseAND(lit(65535L)))
      ).map { case (b, k) => struct(lit(b).as("band"), k.as("bkey")) }
      val banded = sh.select(col("doc_id"), col("lo"), col("hi"),
          explode(array(bandStructs: _*)).as("bb"))
        .select(col("doc_id"), col("lo"), col("hi"),
          col("bb.band").as("band"), col("bb.bkey").as("bkey"))
      val x = banded.select(col("band"), col("bkey"),
        col("doc_id").as("doc_a"), col("lo").as("lo_a"), col("hi").as("hi_a"))
      val y = banded.select(col("band").as("band_r"), col("bkey").as("bkey_r"),
        col("doc_id").as("doc_b"), col("lo").as("lo_b"), col("hi").as("hi_b"))
      x.join(y, col("band") === col("band_r") && col("bkey") === col("bkey_r") &&
          col("doc_a") < col("doc_b"))
        .select(col("doc_a"), col("doc_b"),
          (bit_count(col("lo_a").bitwiseXOR(col("lo_b"))) +
            bit_count(col("hi_a").bitwiseXOR(col("hi_b")))).as("hamming"))
        .filter(col("hamming") <= 3)
        .distinct()
        .orderBy(col("doc_a"), col("doc_b"))
    }, Some {
      def half(src: String) =
        s"""CAST(list_sum([CASE WHEN 2 * len(list_filter($src, x -> ((x >> b) & 1) = 1)) > n
                       THEN (CAST(1 AS BIGINT) << b) ELSE 0 END
                       for b in generate_series(0, 31)]) AS BIGINT)"""
      s"""
      WITH t AS (SELECT doc_id, $duckWords ws FROM documents),
      hsrc AS (SELECT doc_id, len(ws) AS n,
        [${duckHash(0, "w")} for w in ws] AS h0,
        [${duckHash(1, "w")} for w in ws] AS h1 FROM t),
      sig AS (SELECT doc_id, ${half("h0")} AS lo, ${half("h1")} AS hi FROM hsrc),
      bands AS (
        SELECT doc_id, lo, hi, 0 AS band, lo & 65535 AS bkey FROM sig UNION ALL
        SELECT doc_id, lo, hi, 1, (lo >> 16) & 65535 FROM sig UNION ALL
        SELECT doc_id, lo, hi, 2, hi & 65535 FROM sig UNION ALL
        SELECT doc_id, lo, hi, 3, (hi >> 16) & 65535 FROM sig)
      SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
        bit_count(xor(x.lo, y.lo)) + bit_count(xor(x.hi, y.hi)) AS hamming
      FROM bands x JOIN bands y
        ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id
      WHERE bit_count(xor(x.lo, y.lo)) + bit_count(xor(x.hi, y.hi)) <= 3
      ORDER BY doc_a, doc_b"""
    }),

    // ---- BPE-ish subword token counting: a greedy regex chunker
    // ([a-z]{1,4} → each word becomes ≤4-char pieces, the shape of a
    // byte-pair vocabulary's longest-match segmentation) alongside the
    // whitespace count. Both engines' regex engines agree on this
    // char-class pattern; map-side only. ----
    Q("q78_subword_tokens", (s, d) => {
      docs(s, d).select(col("doc_id"),
        size(TextOps.tokens(col("text"))).cast("long").as("n_words"),
        size(expr("regexp_extract_all(text, '[a-z]{1,4}', 0)")).cast("long").as("n_pieces"),
        array_join(slice(expr("regexp_extract_all(text, '[a-z]{1,4}', 0)"), 1, 5), ",")
          .as("first_pieces"))
        .orderBy(col("doc_id"))
    }, Some("""
      SELECT doc_id,
        CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
        CAST(len(regexp_extract_all(text, '[a-z]{1,4}', 0)) AS BIGINT) AS n_pieces,
        array_to_string(regexp_extract_all(text, '[a-z]{1,4}', 0)[1:5], ',') AS first_pieces
      FROM documents ORDER BY doc_id""")),

    // ---- winnowing rolling-hash fingerprints ----
    Q("q52_winnow", (s, d) => {
      val ws = TextOps.tokens(col("text"))
      docs(s, d)
        .filter(size(TextOps.tokens(col("text"))) >= 6)
        .select(col("doc_id"),
          explode(TextOps.winnowFingerprints(TextOps.shingles3(ws))).as("fp"))
        .orderBy(col("doc_id"), col("fp"))
    }, Some(s"""
      WITH t AS (SELECT doc_id, $duckWords ws FROM documents),
      s AS (SELECT doc_id, $duckShingles sh FROM t WHERE len(ws) >= 6),
      h AS (SELECT doc_id, [${duckHash(0, "x")} for x in sh] hs FROM s)
      SELECT doc_id,
        unnest(list_distinct([list_min(hs[i:i+3]) for i in generate_series(1, len(hs)-3)])) AS fp
      FROM h ORDER BY doc_id, fp""")),

    // ---- embedding-cosine near-duplicate pairs ----
    Q("q60_embed_dup", (s, d) => {
      val a = embs(s, d).select(col("vec_id").as("vec_a"), col("embedding").as("ea"))
      val b = embs(s, d).select(col("vec_id").as("vec_b"), col("embedding").as("eb"))
      // all-pairs here (the threshold keeps output tiny); the 100 TB path
      // is the LSH-bucketed variant (q47/q48) — same cosine kernel
      a.join(b, col("vec_a") < col("vec_b"))
        .select(col("vec_a"), col("vec_b"),
          TextOps.cosine(col("ea"), col("eb")).as("cosine"))
        .filter(col("cosine") >= 0.4)
        .orderBy(col("vec_a"), col("vec_b"))
    }, Some("""
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, round(
        list_sum([a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE
                  for i in generate_series(1, len(a.embedding))])
        / (sqrt(list_sum([a.embedding[i]::DOUBLE * a.embedding[i]::DOUBLE
                  for i in generate_series(1, len(a.embedding))]))
         * sqrt(list_sum([b.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE
                  for i in generate_series(1, len(b.embedding))]))), 6) AS cosine
      FROM embeddings a, embeddings b
      WHERE a.vec_id < b.vec_id AND round(
        list_sum([a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE
                  for i in generate_series(1, len(a.embedding))])
        / (sqrt(list_sum([a.embedding[i]::DOUBLE * a.embedding[i]::DOUBLE
                  for i in generate_series(1, len(a.embedding))]))
         * sqrt(list_sum([b.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE
                  for i in generate_series(1, len(b.embedding))]))), 6) >= 0.4
      ORDER BY vec_a, vec_b""")),

    // ---- embedding near-dup pairs AT SCALE: banded LSH candidates
    // (equi-join on (band, bucket) — never all-pairs), cosine verified
    // within buckets only. 4 bands × 4 planes OR-amplify recall: a pair
    // is a candidate when ANY band bucket matches. q60 above is the
    // all-pairs recall oracle on small data; THIS is the 100 TB plan
    // (PlanShapeSpec locks it to contain no cartesian/BNL join). ----
    Q("q70_embed_dup_bucketed", (s, d) => {
      val bandsN = 4
      val r = 4
      val bandStructs = (0 until bandsN).map(b => struct(lit(b).as("band"),
        TextOps.lshBandBucket(col("embedding"), b * r, r, 64).as("bkey")))
      val banded = embs(s, d)
        .select(col("vec_id"), col("embedding"), explode(array(bandStructs: _*)).as("bb"))
        .select(col("vec_id"), col("embedding"),
          col("bb.band").as("band"), col("bb.bkey").as("bkey"))
      val a = banded.select(col("band"), col("bkey"),
        col("vec_id").as("vec_a"), col("embedding").as("ea"))
      val b = banded.select(col("band").as("band_r"), col("bkey").as("bkey_r"),
        col("vec_id").as("vec_b"), col("embedding").as("eb"))
      a.join(b, col("band") === col("band_r") && col("bkey") === col("bkey_r") &&
          col("vec_a") < col("vec_b"))
        .select(col("vec_a"), col("vec_b"), TextOps.cosine(col("ea"), col("eb")).as("cosine"))
        .filter(col("cosine") >= 0.4)
        .distinct()
        .orderBy(col("vec_a"), col("vec_b"))
    }, Some {
      val bandSelects = (0 until 4).map { bnd =>
        s"""SELECT vec_id, embedding, $bnd AS band,
            CAST(${duckBandBucket("e", bnd * 4, 4)} AS BIGINT) AS bkey FROM embeddings e"""
      }.mkString(" UNION ALL ")
      s"""
      WITH bb AS ($bandSelects),
      cand AS (SELECT DISTINCT x.vec_id AS vec_a, y.vec_id AS vec_b
               FROM bb x JOIN bb y
               ON x.band = y.band AND x.bkey = y.bkey AND x.vec_id < y.vec_id)
      SELECT c.vec_a, c.vec_b, ${duckCos("a.embedding", "b.embedding")} AS cosine
      FROM cand c JOIN embeddings a ON a.vec_id = c.vec_a
                  JOIN embeddings b ON b.vec_id = c.vec_b
      WHERE ${duckCos("a.embedding", "b.embedding")} >= 0.4
      ORDER BY vec_a, vec_b"""
    }),

    // ---- the dedup step a training pipeline actually ships: banding
    // candidates (q43 kernel) → Jaccard-verified pairs (threshold 0.5;
    // the testdata's candidates split cleanly: real dups ≥0.88, banding
    // false-positives ≤0.07) → cluster representative via 3 unrolled
    // rounds of min-label propagation over the verified edges → keep-list
    // (is_kept = doc is its cluster's min doc_id). Deterministic on both
    // engines because both run EXACTLY 3 rounds; at 100 TB you iterate to
    // fixpoint with a checkpoint per round (each round is one shuffle on
    // the edge key), and the edge set is tiny relative to the corpus ----
    Q("q72_neardup_keep", (s, d) => {
      // pin the edge list once (bounded artifact: verified pairs of
      // longs) — the three propagation rounds below reference it three
      // times, and without the checkpoint each reference re-executes
      // the whole bucket-local verify lineage (same pin
      // Dedup.keepListToFixpoint applies for q87)
      // (measured and rejected: pre-partitioning the pinned edges on dst
      // — repartition(dst).localCheckpoint() — was 101 s vs 65 s at 100×
      // stress; the extra build shuffle isn't paid back because AQE
      // re-plans the rounds' joins without reusing the retained
      // partitioning)
      val edges = pinReleasingPrior(s"q72edges:$d", verifiedEdges(s, d))
      var labels = docs(s, d).select(col("doc_id"), col("doc_id").as("rep"))
      for (_ <- 1 to 3) {
        val nbr = edges.join(
            labels.select(col("doc_id").as("nbr_id"), col("rep").as("nrep")),
            col("dst") === col("nbr_id"))
          .groupBy(col("src")).agg(min(col("nrep")).as("minrep"))
        labels = labels.join(nbr, labels("doc_id") === nbr("src"), "left")
          .select(col("doc_id"),
            least(col("rep"), coalesce(col("minrep"), col("rep"))).as("rep"))
      }
      labels.withColumn("is_kept", col("doc_id") === col("rep"))
        .orderBy(col("doc_id"))
    }, Some {
      def prop(from: String, to: String) = s"""
      $to AS (SELECT l.doc_id, least(l.rep, coalesce(min(r.rep), l.rep)) AS rep
              FROM $from l LEFT JOIN edges e ON e.src = l.doc_id
                           LEFT JOIN $from r ON r.doc_id = e.dst
              GROUP BY l.doc_id, l.rep)"""
      s"""
      WITH $duckEdgesCtes,
      l0 AS (SELECT doc_id, doc_id AS rep FROM documents),
      ${prop("l0", "l1")},
      ${prop("l1", "l2")},
      ${prop("l2", "l3")}
      SELECT doc_id, rep, doc_id = rep AS is_kept FROM l3 ORDER BY doc_id"""
    }, bench = true),

    // ---- the same keep-list at FIXPOINT (VERDICT r2 #10): q72's 3
    // unrolled rounds are the fixed-depth oracle form; this runs
    // graft.operators.Dedup.keepListToFixpoint — iterate-with-checkpoint
    // until no label changes, the shape you'd ship at 100 TB where chain
    // length is unknown. The fixpoint is the min doc_id per connected
    // component, which is order- and round-count-independent, so DuckDB
    // can oracle it exactly with a recursive CTE (transitive closure over
    // the tiny edge set; UNION dedup bounds the recursion).
    //
    // EXACT-COLLAPSE FIRST (the production 100 TB pre-pass): identical
    // texts are near-dups by definition (identical sig and shingle set,
    // Jaccard 1), so each exact-duplicate group collapses to its
    // min-doc_id NODE before banding. Exact clones band together in
    // EVERY band — the raw graph carries a complete clique per clone
    // group (~25M edges at 100× replication) that the node graph drops
    // entirely. Components map 1:1: an inter-group edge exists for any
    // member pair iff it exists for the representatives (sig and shset
    // are functions of the text alone), and the component min over node
    // ids IS the global min doc_id, so expanding node labels back over
    // members reproduces the raw-graph fixpoint exactly — the
    // recursive-CTE oracle is UNCHANGED (spec-locked against the direct
    // form too). Only verification-ELIGIBLE (≥3 tokens) docs collapse:
    // short-text clones have no shingles hence no edges, and the raw
    // graph keeps each one as its own singleton component. Exact-group
    // identity is md5(text) (same 2⁻⁶⁴ collision posture as the
    // fingerprint ops). ----
    Q("q87_neardup_fixpoint", (s, d) => {
      val all = docs(s, d)
      val isEligible = TextOps.eligible(col("text"))
      // exact-group key map-side, then the expensive payload kernels run
      // AFTER the fp collapse — post-exchange, so they parallelize even
      // on a single-split local scan — and the collapsed payload is
      // PINNED once per construction: the banding probes, the verify
      // payload branches and the doc↔node mapping all read the pinned
      // blocks instead of re-running the collapse + kernel lineage (the
      // plan replicated it ~4× across differently-pruned subplans, which
      // is also why the kernel-spread exchange measured SLOWER here)
      val withFp = all.filter(isEligible)
        .select(col("doc_id"), col("text"), md5(col("text")).as("fp"))
      val collapsed = withFp.groupBy(col("fp")).agg(
        min(col("doc_id")).as("doc_id"),
        // deterministic despite first(): every member of an fp group
        // carries the identical text
        first(col("text")).as("text"))
      val nodes = pinReleasingPrior(s"q87nodes:$d",
        edgeBase(collapsed, Seq("fp" -> col("fp"))))
      val docNode = withFp.select(col("doc_id"), col("fp"))
        .join(nodes.select(col("fp"), col("doc_id").as("node_id")), "fp")
        .select(col("doc_id"), col("node_id"))
      val nodeEdges = verifiedEdgesOf(
        nodes.select(col("doc_id"), col("bkeys"), col("shset")),
        s"$d#exact-collapsed", 256, PruneBroadcastLimit)
      val nodeLabels = graft.operators.Dedup
        .keepListToFixpoint(nodes.select(col("doc_id")), nodeEdges)
      val expanded = docNode.join(
          nodeLabels.select(col("doc_id").as("node_id"), col("rep")), "node_id")
        .select(col("doc_id"), col("rep"))
      expanded
        // null-SAFE complement: for NULL text, isEligible is NULL, so a
        // bare filter(!isEligible) would drop the doc from BOTH branches
        // (the payload side already filtered it out) — every doc must
        // emit a row, and an edgeless doc is its own rep
        .union(all.filter(coalesce(!isEligible, lit(true)))
          .select(col("doc_id"), col("doc_id").as("rep")))
        .withColumn("is_kept", col("doc_id") === col("rep"))
        .orderBy(col("doc_id"))
    }, Some(s"""
      WITH RECURSIVE $duckEdgesCtes,
      reach(doc_id, r) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT reach.doc_id, e.dst FROM reach JOIN edges e ON e.src = reach.r)
      SELECT doc_id, min(r) AS rep, doc_id = min(r) AS is_kept
      FROM reach GROUP BY doc_id ORDER BY doc_id"""),
      // benched alongside q72: this collapsed-node fixpoint is the shape
      // you'd ship at 100 TB (VERDICT r8 #4), so it needs a tracked number
      bench = true),

    // ---- the SAME keep-list via alternating large-star/small-star
    // connected components (Kiveris et al., SoCC 2014) — the
    // diameter-independent alternative to q87's per-hop propagation.
    // Min-label propagation's round count is the longest near-dup CHAIN
    // in the corpus (crawl mirror-of-mirror chains make that unbounded);
    // the star rounds REWRITE the edge set and converge in O(log n)
    // rounds regardless of diameter (spec: a 4096-node path converges in
    // 13 rounds where propagation needs 4095). Components, and therefore
    // the min-id rep and keep-list, are identical by definition, so the
    // recursive-CTE oracle is byte-for-byte q87's. Same edge set, same
    // pin-per-round/release-prior storage discipline; see
    // graft.operators.Dedup.connectedComponents for the per-round
    // shuffle accounting. ----
    Q("q128_cc_largestar", (s, d) => {
      val edges = pinReleasingPrior(s"q128edges:$d", verifiedEdges(s, d))
      graft.operators.Dedup.connectedComponents(docs(s, d), edges)
        .orderBy(col("doc_id"))
    }, Some(s"""
      WITH RECURSIVE $duckEdgesCtes,
      reach(doc_id, r) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT reach.doc_id, e.dst FROM reach JOIN edges e ON e.src = reach.r)
      SELECT doc_id, min(r) AS rep, doc_id = min(r) AS is_kept
      FROM reach GROUP BY doc_id ORDER BY doc_id"""),
      // benched as the third fixpoint-family number: propagation (q72,
      // fixed depth), collapsed-node fixpoint (q87), star rounds (q128)
      bench = true),

    // ---- per-source (domain) cap: keep at most K docs per source — the
    // C4/RefinedWeb-style anti-dominance step that stops one boilerplate
    // domain from swamping the mixture. Selection is deterministic and
    // content-keyed (md5 over the text, doc_id tie-break), so the kept
    // set is reproducible across engines and partitionings. Scale shape:
    // the naive form is one window sort per source — a single hot domain
    // (the exact case the cap exists for) becomes one task's sort. Here
    // a SALTED pre-cap bounds that: top-K per (source, salt-of-doc_id)
    // first — each salt bucket's top-K is a superset of the global
    // top-K's members in that bucket, so no survivor is lost — then the
    // real per-source window runs over ≤ K×nSalts rows per source
    // regardless of domain size. Oracle replays the direct single-window
    // form; the two must agree exactly BECAUSE the pre-cap only prunes
    // rows ranked > K within their bucket. ----
    Q("q129_source_cap", (s, d) => {
      val k = 10
      val nSalts = 8
      val w1 = Window.partitionBy(col("source"), col("salt"))
        .orderBy(col("ckey"), col("doc_id"))
      val w2 = Window.partitionBy(col("source"))
        .orderBy(col("ckey"), col("doc_id"))
      docs(s, d)
        .select(col("doc_id"), col("source"),
          md5(concat(lit("cap|"), coalesce(col("text"), lit("")))).as("ckey"),
          pmod(xxhash64(col("doc_id")), lit(nSalts)).as("salt"))
        .withColumn("r1", row_number().over(w1)).filter(col("r1") <= k)
        .withColumn("cap_rank", row_number().over(w2)).filter(col("cap_rank") <= k)
        .select(col("doc_id"), col("source"), col("cap_rank"))
        .orderBy(col("doc_id"))
    }, Some("""
      SELECT doc_id, source, cap_rank FROM (
        SELECT doc_id, source, ROW_NUMBER() OVER (
          PARTITION BY source
          ORDER BY md5(concat('cap|', coalesce(text, ''))), doc_id) AS cap_rank
        FROM documents) t
      WHERE cap_rank <= 10 ORDER BY doc_id""")),

    // ---- QUALITY-keeping keep-list: production pipelines keep the BEST
    // doc per near-dup cluster (longest / highest-scoring), not the
    // smallest id — min-id is the oracle-friendly canonical form, this is
    // the shipping policy. Components come from the same star-CC rounds;
    // the per-cluster winner is one window over the (doc, rep, quality)
    // table — corpus-sized but 3 narrow columns, partitioned by rep
    // (cluster ids: no hot partition beyond the largest cluster, which
    // the dedup semantics already bound). Deterministic tie-break by
    // doc_id keeps both engines exact. ----
    Q("q131_keep_best_quality", (s, d) => {
      val edges = pinReleasingPrior(s"q131edges:$d", verifiedEdges(s, d))
      val labels = graft.operators.Dedup.connectedComponents(docs(s, d), edges)
      val w = Window.partitionBy(col("rep"))
        .orderBy(col("n_chars").desc, col("doc_id"))
      labels.select(col("doc_id"), col("rep"))
        .join(docs(s, d).select(col("doc_id"), col("n_chars")), "doc_id")
        .withColumn("keep_rank", row_number().over(w))
        .select(col("doc_id"), col("rep"), col("n_chars"),
          (col("keep_rank") === 1).as("is_kept"))
        .orderBy(col("doc_id"))
    }, Some(s"""
      WITH RECURSIVE $duckEdgesCtes,
      reach(doc_id, r) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT reach.doc_id, e.dst FROM reach JOIN edges e ON e.src = reach.r),
      lab AS (SELECT doc_id, min(r) AS rep FROM reach GROUP BY doc_id)
      SELECT d.doc_id, lab.rep, d.n_chars,
        ROW_NUMBER() OVER (PARTITION BY lab.rep
                           ORDER BY d.n_chars DESC, d.doc_id) = 1 AS is_kept
      FROM documents d JOIN lab ON lab.doc_id = d.doc_id
      ORDER BY d.doc_id""")),

    // ---- INCREMENTAL near-dup components: the per-crawl-snapshot shape.
    // A production pipeline does not re-verify a 100 TB history every
    // crawl; it (a) re-verifies only BUCKETS TOUCHED by the new batch and
    // (b) feeds the previous labeling back as compressed star edges (one
    // edge per non-root doc) instead of the raw edge graph. This query
    // runs that exact composition and its oracle is the FULL-graph
    // recursive CTE — the incremental result must be bit-identical to a
    // from-scratch run, by this argument:
    //   E_full = E_hist ∪ E_touched. Any verified pair shares a bucket;
    //   if that bucket contains no delta doc both ends are history docs
    //   (→ E_hist, whose sub-run keeps the bucket minus nobody relevant);
    //   if it contains one, then EVERY member carries that bucket key and
    //   is 'touched' (→ the touched sub-run keeps the bucket intact,
    //   including all four band keys of every member, so the
    //   first-shared-band dedup stays internally consistent). Sub-run
    //   buckets never gain members, and verification is an exact per-pair
    //   Jaccard on unchanged shingle sets — so neither sub-run adds edges.
    //   Star edges induce the same vertex partition as E_hist, hence
    //   CC(E_touched ∪ star(E_hist)) == CC(E_full).
    // Cost shape at 100 TB: the delta's bucket keys broadcast (a crawl
    // batch is small against history), history text is NEVER re-shingled
    // in production (the edgeBase payload is a stored snapshot — here it
    // is computed once and pinned, the same trade as q72's edge pin), and
    // the merged CC runs over |delta-touched edges| + one star edge per
    // deduped history doc — O(delta + components), not O(corpus). ----
    Q("q130_cc_incremental", (s, d) => {
      val all = docs(s, d)
      val isDelta = col("doc_id") % 10 === 3
      // one kernel pass (minhash bands + shingle sets) over the corpus,
      // pinned: every sub-run below reads these blocks, standing in for
      // the materialized edgeBase snapshot a production run would load
      val base = pinReleasingPrior(s"q130base:$d",
        edgeBase(spreadForKernels(all)))
      // 1) the PRIOR SNAPSHOT's labels: history docs, history-only edges
      val eHist = verifiedEdgesOf(base.filter(!isDelta), s"$d#cchist",
        256, PruneBroadcastLimit)
      val histLabels = graft.operators.Dedup.connectedComponents(
        all.filter(!isDelta), eHist)
      // 2) buckets the new batch touches — light band-key pass, payload
      // (shset) pruned out of the scan; every member of a touched bucket
      // is re-verified, nothing else
      val expl = graft.operators.Dedup.bandRows(base, Seq("doc_id"))
      val deltaBuckets = expl.filter(isDelta)
        .select(col("band"), col("bkey")).distinct()
      val touchedIds = expl
        .join(broadcast(deltaBuckets), Seq("band", "bkey"), "left_semi")
        .select(col("doc_id")).distinct()
      val eTouch = verifiedEdgesOf(
        base.join(touchedIds, Seq("doc_id"), "left_semi"),
        s"$d#cctouch", 256, PruneBroadcastLimit)
      // 3) history arrives as its star compression, not its edge graph
      val starHist = histLabels.filter(col("doc_id") =!= col("rep"))
        .select(col("doc_id").as("src"), col("rep").as("dst"))
      graft.operators.Dedup.connectedComponents(all, eTouch.union(starHist))
        .orderBy(col("doc_id"))
    }, Some(s"""
      WITH RECURSIVE $duckEdgesCtes,
      reach(doc_id, r) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT reach.doc_id, e.dst FROM reach JOIN edges e ON e.src = reach.r)
      SELECT doc_id, min(r) AS rep, doc_id = min(r) AS is_kept
      FROM reach GROUP BY doc_id ORDER BY doc_id""")),

    // ---- test-set decontamination: drop training docs that share any
    // word-8-gram with the held-out eval set (here: doc_id % 10 == 7 —
    // in production, the benchmark suite). The canonical LLM-pipeline
    // hygiene step. Scale shape: grams are hashed to longs map-side (the
    // gram STRINGS never shuffle); the eval gram set is tiny by
    // construction (eval sets don't grow with the corpus) so it
    // broadcasts, and contamination detection is a broadcast semi-join —
    // the 100 TB corpus is scanned once with zero fact shuffles before
    // the distinct on hit doc_ids. ----
    Q("q88_decontaminate", (s, d) => {
      // the shared fused gram kernel (r19) — was an inlined copy of the
      // same explode(array_distinct(shingles))+hash32 law
      val grams = gramStream8(spreadForKernels(docs(s, d)))
      val evalGrams = grams.filter(col("doc_id") % 10 === 7).select(col("g")).distinct()
      val contaminated = grams.filter(col("doc_id") % 10 =!= 7)
        .join(broadcast(evalGrams), "g").select(col("doc_id")).distinct()
      docs(s, d).filter(col("doc_id") % 10 =!= 7)
        .join(contaminated.withColumn("hit", lit(1)), Seq("doc_id"), "left")
        .select(col("doc_id"), col("source"), col("hit").isNull.as("is_clean"))
        .orderBy(col("doc_id"))
    }, Some(s"""
      WITH t AS (SELECT doc_id, $duckWords ws FROM documents),
      g AS (SELECT doc_id, ${duckHash32("gr")} AS g FROM (
              SELECT doc_id, unnest(list_distinct(
                [array_to_string(ws[i:i+7], ' ')
                 for i in generate_series(1, len(ws) - 7)])) gr
              FROM t WHERE len(ws) >= 8)),
      ev AS (SELECT DISTINCT g FROM g WHERE doc_id % 10 = 7),
      cont AS (SELECT DISTINCT doc_id FROM g
               WHERE doc_id % 10 <> 7 AND g IN (SELECT g FROM ev))
      SELECT d.doc_id, d.source, c.doc_id IS NULL AS is_clean
      FROM documents d LEFT JOIN cont c USING (doc_id)
      WHERE d.doc_id % 10 <> 7 ORDER BY d.doc_id"""), bench = true),

    // ---- bloom-filter decontamination: q88's semantics through the
    // at-scale shape. q88 broadcasts the EXACT eval gram set — fine while
    // eval grams fit in a broadcast, but a realistic eval suite's n-gram
    // inventory can run tens of GB. Here the eval grams are folded into a
    // ~128 KB bloom filter (built once, shipped as a task literal), the
    // corpus gram stream is pruned MAP-SIDE by might_contain, and only
    // the survivor fraction reaches the exact verification join — which
    // keeps the answer exact (bloom has no false negatives), so the
    // oracle is identical to q88's. Fixed-size filter buffers are the
    // only thing the build aggregation exchanges. ----
    Q("q101_bloom_decontaminate", (s, d) => {
      import graft.functions.BloomFunctions
      val grams = gramStream8(spreadForKernels(docs(s, d)))
      val evalGrams = grams.filter(col("doc_id") % 10 === 7).select(col("g")).distinct()
      val bloom = trainEvalBloom(s"evalgrams:$d", evalGrams)
      val contaminated = grams.filter(col("doc_id") % 10 =!= 7)
        .filter(BloomFunctions.mightContain(bloom, col("g"))) // map-side prune
        .join(evalGrams, "g") // exact verify on the survivors only
        .select(col("doc_id")).distinct()
      docs(s, d).filter(col("doc_id") % 10 =!= 7)
        .join(contaminated.withColumn("hit", lit(1)), Seq("doc_id"), "left")
        .select(col("doc_id"), col("source"), col("hit").isNull.as("is_clean"))
        .orderBy(col("doc_id"))
    }, Some(s"""
      WITH t AS (SELECT doc_id, $duckWords ws FROM documents),
      g AS (SELECT doc_id, ${duckHash32("gr")} AS g FROM (
              SELECT doc_id, unnest(list_distinct(
                [array_to_string(ws[i:i+7], ' ')
                 for i in generate_series(1, len(ws) - 7)])) gr
              FROM t WHERE len(ws) >= 8)),
      ev AS (SELECT DISTINCT g FROM g WHERE doc_id % 10 = 7),
      cont AS (SELECT DISTINCT doc_id FROM g
               WHERE doc_id % 10 <> 7 AND g IN (SELECT g FROM ev))
      SELECT d.doc_id, d.source, c.doc_id IS NULL AS is_clean
      FROM documents d LEFT JOIN cont c USING (doc_id)
      WHERE d.doc_id % 10 <> 7 ORDER BY d.doc_id"""), bench = true),

    // ---- per-doc contamination FRACTION (thresholded decontamination):
    // q88/q101 emit a binary is_clean; real pipelines (GPT-3 appendix C
    // style) grade by the fraction of a doc's 8-grams that appear in
    // the eval suite and drop only past a threshold (here 20%),
    // keeping lightly-touched docs with the fraction as an annotation.
    // Same scale shape as q101: the eval inventory folds into the
    // task-literal bloom, the corpus gram stream is pruned MAP-SIDE,
    // and only bloom survivors reach the exact verification join — hit
    // counts are exact (bloom has no false negatives, the join
    // verifies). Docs with <8 tokens have no grams: 0/0 → clean. ----
    Q("q163_contamination_frac", (s, d) => contaminationFracFrame(
      s, d, col("doc_id") % 10 === 7, s"evalgrams:$d"), Some(s"""
      WITH t AS (SELECT doc_id, $duckWords ws FROM documents),
      g AS (SELECT doc_id, ${duckHash32("gr")} AS g FROM (
              SELECT doc_id, unnest(list_distinct(
                [array_to_string(ws[i:i+7], ' ')
                 for i in generate_series(1, len(ws) - 7)])) gr
              FROM t WHERE len(ws) >= 8)),
      ev AS (SELECT DISTINCT g FROM g WHERE doc_id % 10 = 7),
      tot AS (SELECT doc_id, count(*) AS n_grams FROM g
              WHERE doc_id % 10 <> 7 GROUP BY doc_id),
      hit AS (SELECT doc_id, count(*) AS n_hit FROM g
              WHERE doc_id % 10 <> 7 AND g IN (SELECT g FROM ev)
              GROUP BY doc_id)
      SELECT d.doc_id,
        coalesce(t2.n_grams, 0) AS n_grams,
        coalesce(h.n_hit, 0) AS n_hit,
        CASE WHEN coalesce(t2.n_grams, 0) > 0
             THEN coalesce(h.n_hit, 0) / t2.n_grams ELSE 0.0 END AS frac,
        CASE WHEN coalesce(t2.n_grams, 0) > 0
             THEN coalesce(h.n_hit, 0) / t2.n_grams ELSE 0.0 END < 0.2 AS keep
      FROM documents d
      LEFT JOIN tot t2 USING (doc_id) LEFT JOIN hit h USING (doc_id)
      WHERE d.doc_id % 10 <> 7 ORDER BY d.doc_id""")),

    // ---- intra-doc repetition signals (the Gopher rule 4-5 /
    // RefinedWeb repetition filters — the standard template/boilerplate
    // detector WITHIN a document, complementing the corpus-level span
    // dedup of q94/q145): duplicated-trigram fraction
    // (1 − distinct/total) and most-frequent-bigram mass. The trigram
    // signal is a pure MAP-SIDE array expression (zero shuffle); the
    // top-bigram mode needs per-(doc, bigram) counts — one
    // partial-aggregated exchange keyed (doc_id, bigram), then a
    // per-doc max fold. Keep = dup_tri ≤ 0.3 AND top_bigram ≤ 0.2
    // (Gopher-ish thresholds). Divisions are exact-int / exact-int —
    // IEEE-identical in both engines (the q97 ttr precedent). ----
    Q("q164_intradoc_repetition", (s, d) => {
      val ws = TextOps.tokens(col("text"))
      val tri = graft.functions.TextFunctions.shinglesFromText(col("text"), 3)
      // the whole signal set is ONE map-side projection: dup-trigram
      // fraction from the shingle array, most-frequent-bigram mass from
      // the native codegen'd TopShingleCount (same hash32∘shingles law
      // as the compositional explode→count→max twin, spec-locked) —
      // the compositional form's (doc, bigram) exchange aggregated
      // ~|corpus bigrams| distinct keys and measured 3.5 GB shuffle +
      // 6.9 GB spill at 5M docs; this plan's only exchange is the
      // output sort
      docs(s, d).filter(TextOps.eligible(col("text")))
        .select(col("doc_id"),
          size(tri).cast("long").as("n_tri"),
          size(array_distinct(tri)).cast("long").as("n_tri_distinct"),
          graft.functions.TextFunctions.topShingleCount(col("text"), 2)
            .as("top_bigram_n"),
          (size(ws) - 1).cast("long").as("n_bi"))
        .select(col("doc_id"), col("n_tri"),
          (lit(1.0) - col("n_tri_distinct") / col("n_tri")).as("dup_tri_frac"),
          col("top_bigram_n"),
          (col("top_bigram_n") / col("n_bi")).as("top_bigram_frac"))
        .withColumn("keep",
          col("dup_tri_frac") <= 0.3 && col("top_bigram_frac") <= 0.2)
        .orderBy(col("doc_id"))
    }, Some(s"""
      WITH t AS (SELECT doc_id, $duckWords ws FROM documents),
      s AS (SELECT doc_id, $duckShingles tri,
              [ws[i] || ' ' || ws[i+1]
               for i in generate_series(1, len(ws)-1)] bis
            FROM t WHERE len(ws) >= 3),
      bc AS (SELECT doc_id, b, count(*) AS n FROM (
               SELECT doc_id, ${duckHash32("unnest(bis)")} AS b FROM s)
             GROUP BY doc_id, b),
      tb AS (SELECT doc_id, max(n) AS top_bigram_n,
               CAST(sum(n) AS BIGINT) AS n_bi FROM bc GROUP BY doc_id)
      SELECT s.doc_id, CAST(len(tri) AS BIGINT) AS n_tri,
        1.0 - len(list_distinct(tri)) / len(tri) AS dup_tri_frac,
        tb.top_bigram_n,
        tb.top_bigram_n / tb.n_bi AS top_bigram_frac,
        (1.0 - len(list_distinct(tri)) / len(tri)) <= 0.3
          AND tb.top_bigram_n / tb.n_bi <= 0.2 AS keep
      FROM s JOIN tb ON tb.doc_id = s.doc_id ORDER BY s.doc_id""")),

    // ---- model-based quality filtering: the "classifier gate" every
    // training pipeline runs (fastText/logreg-style). The model is a
    // weight vector over cheap map-side features; at scale it ships to
    // tasks as a literal/broadcast (like the IVF centroids) and the whole
    // gate is one codegen'd projection over the corpus — ZERO shuffles
    // before the output sort. Determinism: features are int/int divisions
    // (exact in both engines), weights are binary-exact literals, and the
    // squash is ALGEBRAIC — z/(1+|z|), not exp-based sigmoid, because
    // div/abs/add are IEEE-exact in every engine while libm exp() is not
    // correctly rounded and may differ by an ULP between JVM and C. The
    // keep decision compares the ROUNDED score so both engines compare
    // identical decimals. ----
    Q("q102_model_quality", (s, d) => {
      val ws = TextOps.tokens(col("text"))
      val stop = size(filter(ws, w => w.isin("the", "a"))) / size(ws)
      val lenf = least(size(ws), lit(200)) / lit(200.0)
      val ttr = size(array_distinct(ws)) / size(ws)
      val atl = (length(col("text")) - (size(ws) - 1)) / size(ws)
      val z = lit(-1.0) + lit(2.0) * stop + lit(1.5) * lenf +
        lit(0.5) * ttr + lit(0.25) * atl
      docs(s, d).select(col("doc_id"), col("source"),
          round(z / (lit(1.0) + abs(z)), 6).as("model_score"))
        .withColumn("is_kept", col("model_score") >= lit(0.25))
        .orderBy(col("doc_id"))
    }, Some("""
      WITH f AS (SELECT doc_id, source,
        len(list_filter(string_split(text, ' '), w -> w IN ('the', 'a')))
          / len(string_split(text, ' ')) AS stop,
        least(len(string_split(text, ' ')), 200) / 200.0 AS lenf,
        len(list_distinct(string_split(text, ' ')))
          / len(string_split(text, ' ')) AS ttr,
        (length(text) - (len(string_split(text, ' ')) - 1))
          / len(string_split(text, ' ')) AS atl
        FROM documents),
      z AS (SELECT doc_id, source,
        -1.0 + 2.0 * stop + 1.5 * lenf + 0.5 * ttr + 0.25 * atl AS z FROM f)
      SELECT doc_id, source, round(z / (1.0 + abs(z)), 6) AS model_score,
        round(z / (1.0 + abs(z)), 6) >= 0.25 AS is_kept
      FROM z ORDER BY doc_id""")),

    // ---- partitioned sink + pruned read-back: write the corpus
    // hive-partitioned by source, then answer a per-source question from
    // the partitioned copy. At 100 TB this is the difference between
    // scanning everything and listing two directories: the source
    // predicate is a PARTITION filter (plan-locked in SinkSpec — zero
    // data files from other sources are even opened). The write path is
    // the real sink surface: dynamic partition columns, overwrite mode,
    // one pass. ----
    Q("q103_partitioned_sink", (s, d) => {
      // sink path keyed on a collision-resistant digest of the FULL input
      // path; written (overwrite) once per process via Models — a
      // regenerated dataset dir gets a fresh write on the next process
      // instead of silently serving a stale _SUCCESS-gated sink
      val out = Models.cached(s"sink:q103:$d") {
        val dirMd5 = java.security.MessageDigest.getInstance("MD5")
          .digest(d.getBytes("UTF-8")).map("%02x".format(_)).mkString
        val p = s"/tmp/graft_sink/$dirMd5/docs_by_source"
        docs(s, d).write.mode("overwrite").partitionBy("source").parquet(p)
        p
      }
      s.read.parquet(out)
        .filter(col("source").isin("src3", "src7"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"),
          countDistinct(col("lang")).as("n_langs"))
        .orderBy(col("source"))
    }, Some("""
      SELECT source, count(*) AS n_docs,
        CAST(sum(n_chars) AS BIGINT) AS total_chars,
        count(DISTINCT lang) AS n_langs
      FROM documents WHERE source IN ('src3', 'src7')
      GROUP BY source ORDER BY source""")),

    // ---- batch twin of the STREAMING near-dup candidate operator
    // (graft.streaming.DocsStream.nearDupCandidates — flatMapGroupsWith-
    // State keyed on (band, bucket), one long of state per bucket). The
    // streaming and batch forms share the q43 banding kernel and are
    // parity-locked in StreamingSpec ST9; this entry puts the shared
    // semantics under the DuckDB hash gate. ----
    Q("q104_stream_neardup_batch", (s, d) => {
      graft.streaming.DocsStream.nearDupCandidatesBatch(docs(s, d))
        .orderBy(col("doc_id"), col("band"))
    }, Some(s"""
      WITH ${duckSigCte(8)},
      ${duckBandsCte},
      reps AS (SELECT band, bkey, min(doc_id) AS dup_of FROM bands GROUP BY 1, 2)
      SELECT b.doc_id, b.band, r.dup_of
      FROM bands b JOIN reps r USING (band, bkey)
      WHERE r.dup_of < b.doc_id
      ORDER BY doc_id, band""")),

    // ---- the streaming near-dup path extended through VERIFICATION
    // (q104 stops at bucket collisions): candidates exact-Jaccard-
    // checked at ≥ 0.5 against their bucket representative, the q72
    // kernel. Streaming keeps one long of state per (band, bucket) —
    // shingles ride through as passenger columns; the rep lookup is a
    // stream-static equi-join against the corpus table. This is the
    // batch twin (parity-locked in StreamingSpec ST11) under the hash
    // gate. ----
    Q("q118_stream_neardup_verified", (s, d) => {
      graft.streaming.DocsStream.nearDupVerifiedBatch(docs(s, d), docs(s, d))
        .orderBy(col("doc_id"), col("band"))
    }, Some(s"""
      WITH ${duckSigCte(8)},
      ${duckBandsCte},
      reps AS (SELECT band, bkey, min(doc_id) AS dup_of FROM bands GROUP BY 1, 2),
      cand AS (SELECT b.doc_id, b.band, r.dup_of
               FROM bands b JOIN reps r USING (band, bkey)
               WHERE r.dup_of < b.doc_id),
      shset AS (SELECT doc_id,
                  list_distinct([${duckHash56("x")} for x in sh]) sh FROM s),
      ver AS (SELECT c.doc_id, c.band, c.dup_of,
                len(list_distinct(list_intersect(x.sh, y.sh)))
                  / len(list_distinct(list_concat(x.sh, y.sh))) AS jaccard
              FROM cand c
              JOIN shset x ON x.doc_id = c.doc_id
              JOIN shset y ON y.doc_id = c.dup_of)
      SELECT doc_id, band, dup_of, jaccard FROM ver
      WHERE jaccard >= 0.5 ORDER BY doc_id, band""")),

    // ---- incremental ingest dedup: is each NEW document's fingerprint
    // already in the historical corpus? The scale-correct direction is
    // to bloom the SMALL side (the new batch) and prune the BIG side
    // (the 100 TB history) map-side with it — the same asymmetry Spark's
    // runtime row filters exploit. History rows whose fingerprint can't
    // be in the new batch never leave their scan task; only the
    // might-contain survivors reach the exact join that flags true
    // collisions (bloom false positives are filtered there, so the
    // result is exact and the oracle is bloom-free). The fingerprint is
    // the first-4-token prefix (boilerplate-header dedup) rather than
    // the full text so the collision path actually fires on the
    // testdata — full-text fingerprints have zero cross-batch dups at
    // these SFs and would leave the verify join untested. ----
    Q("q105_incremental_dedup", (s, d) => {
      import graft.functions.BloomFunctions
      val fp = docs(s, d).select(col("doc_id"),
        md5(lower(concat_ws(" ", slice(TextOps.tokens(col("text")), 1, 4)))).as("fp"))
      val newB = fp.filter(col("doc_id") % 5 === 4)
      val hist = fp.filter(col("doc_id") % 5 =!= 4)
      val bloom = BloomFunctions.trainBloomCached(s"newbatch-fp:$d",
        newB, TextOps.hash32(col("fp")), expectedItems = 1L << 16, numBits = 1L << 20)
      val histHits = hist
        .filter(BloomFunctions.mightContain(bloom, TextOps.hash32(col("fp"))))
        .select(col("fp")).distinct()
      newB.join(histHits.withColumn("seen", lit(1)), Seq("fp"), "left")
        .select(col("doc_id"), col("fp"), col("seen").isNull.as("is_first_seen"))
        .orderBy(col("doc_id"))
    }, Some("""
      WITH f AS (SELECT doc_id,
                        md5(lower(array_to_string(
                          (string_split(text, ' '))[1:4], ' '))) AS fp,
                        doc_id % 5 = 4 AS is_new FROM documents),
      hist AS (SELECT DISTINCT fp FROM f WHERE NOT is_new)
      SELECT f.doc_id, f.fp, h.fp IS NULL AS is_first_seen
      FROM f LEFT JOIN hist h ON f.fp = h.fp
      WHERE f.is_new ORDER BY f.doc_id""")),

    // ---- character-bigram language ID: the third rung of the lang-id
    // ladder (q50 single-marker, q77 stopword profiles) — character
    // n-gram profiles work on text where word segmentation is unreliable
    // and need no tokenizer. Same scale/determinism recipe as q77: pure
    // map-side, int/int hit ratios (exact doubles both engines), argmax
    // with a fixed tie-break order. All three profiles score in ONE pass
    // through the native BigramProfileScores kernel (the HOF form paid
    // an interpreted transform per character plus one interpreted filter
    // pass per language). ----
    Q("q107_bigram_langid", (s, d) => {
      val langs = Seq("en", "de", "fr")
      val scored = docs(s, d).filter(length(col("text")) >= 2)
        .select(col("doc_id"), col("lang"),
          graft.functions.TextFunctions.bigramProfileScores(
            col("text"), langs.map(BigramProfiles(_))).as("sc"))
      val sEn = col("sc").getItem(0)
      val sDe = col("sc").getItem(1)
      val sFr = col("sc").getItem(2)
      scored.select(col("doc_id"), col("lang"),
          sEn.as("s_en"), sDe.as("s_de"), sFr.as("s_fr"),
          when(sEn >= sDe && sEn >= sFr, "en")
            .when(sDe >= sFr, "de").otherwise("fr").as("predicted"))
        .orderBy(col("doc_id"))
    }, Some {
      def duckProfile(lang: String) =
        BigramProfiles(lang).map(b => s"'$b'").mkString(", ")
      s"""
      WITH b AS (SELECT doc_id, lang,
          [substr(text, i, 2) for i in generate_series(1, length(text) - 1)] AS bg
        FROM documents WHERE length(text) >= 2),
      sc AS (SELECT doc_id, lang,
        len(list_filter(bg, x -> x IN (${duckProfile("en")}))) / len(bg) AS s_en,
        len(list_filter(bg, x -> x IN (${duckProfile("de")}))) / len(bg) AS s_de,
        len(list_filter(bg, x -> x IN (${duckProfile("fr")}))) / len(bg) AS s_fr
        FROM b)
      SELECT doc_id, lang, s_en, s_de, s_fr,
        CASE WHEN s_en >= s_de AND s_en >= s_fr THEN 'en'
             WHEN s_de >= s_fr THEN 'de' ELSE 'fr' END AS predicted
      FROM sc ORDER BY doc_id"""
    }),

    // ---- product quantization, part 1: codebook training + encoding.
    // 64 floats (256 B) → 8 codes (8 B at 4 bits/code), the 32×
    // compression that lets a 100 TB corpus's ANN index live in RAM.
    // Training collects M·K·SubDim doubles (tiny) to the driver, like
    // the IVF centroids; encoding is then ONE map-side projection over
    // the corpus — zero joins, zero shuffles (plan-locked). The oracle
    // replays training bit-for-bit (deterministic seeds, rounded-d2
    // argmin with cid tie-break, exact-decimal Lloyd means). ----
    Q("q108_pq_encode", (s, d) => {
      val books = pqBooks(s, d)
      Pq.encode(embs(s, d), books).orderBy(col("vec_id"))
    }, Some(s"""
      WITH $duckPqCtes
      SELECT vec_id,
        max(CASE WHEN m = 0 THEN cid END) AS c0,
        max(CASE WHEN m = 1 THEN cid END) AS c1,
        max(CASE WHEN m = 2 THEN cid END) AS c2,
        max(CASE WHEN m = 3 THEN cid END) AS c3,
        max(CASE WHEN m = 4 THEN cid END) AS c4,
        max(CASE WHEN m = 5 THEN cid END) AS c5,
        max(CASE WHEN m = 6 THEN cid END) AS c6,
        max(CASE WHEN m = 7 THEN cid END) AS c7
      FROM pq_codes GROUP BY vec_id ORDER BY vec_id""")),

    // ---- product quantization, part 2: asymmetric-distance (ADC)
    // search over the STORED index. The query's M·K distance table
    // (Pq.adcLut — 128 doubles, bit-exact twin of the expression-side
    // math) ships as task literals; every stored vector is scored with
    // M array lookups over its 8 stored codes. The scan reads the
    // 32×-compressed index only — the plan never references the
    // embedding column (PlanShapeSpec locks this), which is the whole
    // point of PQ at 100 TB: the raw corpus stays cold. Pure map-side
    // projection + TakeOrdered; zero joins, zero shuffles. ----
    Q("q109_pq_search", (s, d) => {
      val lut = Pq.adcLut(queryVec(s, d, qid = 0), pqBooks(s, d))
      ivfPqIndex(s, d).filter(col("vec_id") =!= 0)
        .select(col("vec_id"),
          Pq.adcFromCodes(m => Pq.codeAt(col("code"), m), lut).as("approx_d2"))
        .orderBy(col("approx_d2"), col("vec_id")).limit(10)
    }, Some(s"""
      WITH $duckPqCtes,
      q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
      qsv AS (SELECT g.m, q.qv[g.m*8+1 : g.m*8+8] AS sv
              FROM q CROSS JOIN generate_series(0, 7) g(m)),
      pd AS (SELECT cd.vec_id, cd.m, ${duckD2("qs.sv", "c.cv")} AS pd
             FROM pq_codes cd
             JOIN pq_c1 c ON c.m = cd.m AND c.cid = cd.cid
             JOIN qsv qs ON qs.m = cd.m
             WHERE cd.vec_id <> 0),
      adc AS (SELECT vec_id,
                max(CASE WHEN m = 0 THEN pd END) +
                max(CASE WHEN m = 1 THEN pd END) +
                max(CASE WHEN m = 2 THEN pd END) +
                max(CASE WHEN m = 3 THEN pd END) +
                max(CASE WHEN m = 4 THEN pd END) +
                max(CASE WHEN m = 5 THEN pd END) +
                max(CASE WHEN m = 6 THEN pd END) +
                max(CASE WHEN m = 7 THEN pd END) AS approx_d2
              FROM pd GROUP BY vec_id)
      SELECT vec_id, approx_d2 FROM adc
      ORDER BY approx_d2, vec_id LIMIT 10""")),

    // ---- residual IVF-PQ (the FAISS shape): codebooks are trained on
    // x − centroid(cell(x)) instead of raw vectors, concentrating the
    // 16 codes per subspace on WITHIN-cell variation. The query is
    // residualized against each probed cell ON THE DRIVER (exact IEEE
    // subtraction, Pq.residualHost) and gets one ADC LUT per cell; the
    // search scans the residual-code index with a per-cell literal
    // dispatch (when cid=…), restricted to the probed cells by
    // PARTITION PRUNING. The embedding column never appears in the
    // plan; zero joins, zero shuffles. ----
    Q("q115_ivfpq_residual", (s, d) => {
      val cents = ivfCents(s, d).toMap
      val books = pqResidualBooks(s, d)
      val qv = queryVec(s, d, qid = 1)
      val cells = probedCells(s, d, qid = 1, nprobe = 2)
      val scoreByCell = cells.map { c =>
        c -> Pq.adcFromCodes(m => Pq.codeAt(col("code"), m),
          Pq.adcLut(Pq.residualHost(qv, cents(c)), books))
      }
      val dist = scoreByCell.tail.foldLeft(
        when(col("cid") === lit(scoreByCell.head._1), scoreByCell.head._2)) {
        case (acc, (c, expr)) => acc.when(col("cid") === lit(c), expr)
      }
      ivfPqIndex(s, d, residual = true)
        .filter(col("cid").isin(cells: _*) && col("vec_id") =!= 1)
        .select(col("vec_id"), dist.as("approx_d2"))
        .orderBy(col("approx_d2"), col("vec_id")).limit(10)
    }, Some(s"""
      WITH ${duckIvfCtes(8, 2, 64)},
      res AS (SELECT a.vec_id,
                [a.embedding[i]::DOUBLE - c.cv[i]
                 for i in generate_series(1, 64)] AS embedding,
                a.cid
              FROM ${duckIvfFinal(2)} a
              JOIN ${duckIvfCents(2)} c ON c.cid = a.cid),
      ${duckPqCtesOver("res")},
      q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id = 1),
      qc_sc AS (SELECT q.qid, q.qv, c.cid, ${duckCos("q.qv", "c.cv")} AS cos
                FROM q, ${duckIvfCents(2)} c),
      qc AS (SELECT qid, qv, cid FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rn
          FROM qc_sc) t WHERE rn <= 2),
      qrs AS (SELECT qc.cid AS qcid, g.m,
                [ (qc.qv[g.m*8 + i]::DOUBLE - c.cv[g.m*8 + i])
                  for i in generate_series(1, 8) ] AS sv
              FROM qc JOIN ${duckIvfCents(2)} c ON c.cid = qc.cid
              CROSS JOIN generate_series(0, 7) g(m)),
      pd AS (SELECT r.vec_id, cd.m, ${duckD2("qs.sv", "bc.cv")} AS pd
             FROM pq_codes cd
             JOIN res r ON r.vec_id = cd.vec_id
             JOIN qrs qs ON qs.m = cd.m AND qs.qcid = r.cid
             JOIN pq_c1 bc ON bc.m = cd.m AND bc.cid = cd.cid
             WHERE cd.vec_id <> 1),
      adc AS (SELECT vec_id,
                max(CASE WHEN m = 0 THEN pd END) +
                max(CASE WHEN m = 1 THEN pd END) +
                max(CASE WHEN m = 2 THEN pd END) +
                max(CASE WHEN m = 3 THEN pd END) +
                max(CASE WHEN m = 4 THEN pd END) +
                max(CASE WHEN m = 5 THEN pd END) +
                max(CASE WHEN m = 6 THEN pd END) +
                max(CASE WHEN m = 7 THEN pd END) AS approx_d2
              FROM pd GROUP BY vec_id)
      SELECT vec_id, approx_d2 FROM adc
      ORDER BY approx_d2, vec_id LIMIT 10""")),

    // ---- temperature-weighted mixture planning: per-source sampling
    // rates ∝ n_tokens^τ with τ = 0.5 — the standard up-weighting of
    // small domains when composing a training mixture (q91 applies
    // per-source rates; this COMPUTES them from a token budget): the
    // [[tokenTargets]] law. ----
    // ---- MATERIALIZE the temperature mixture: q117 plans per-source
    // token targets; this selects the actual documents — per source, in
    // a deterministic md5 order (reproducible across engines, runs, and
    // partitionings), keeping rows while the running token total stays
    // within its target (a 10k-token demo budget so the cutoff actually
    // fires at sf0.01): the [[mixtureCut]] law. Training mixtures have
    // FEW sources (~10), so a per-source running sum would funnel
    // ~corpus/#sources rows through one window task; the running total
    // is Skew.prefixSum's bucketed form instead, bucketed by the md5
    // key's own 3-hex-char prefix (≤ #sources·4096 offset rows). ----
    Q("q124_mixture_materialize", (s, d) =>
      mixtureCut(docs(s, d).select(col("doc_id"), col("source"),
          size(TextOps.tokens(col("text"))).cast("long").as("n_tokens"),
          md5(concat(lit("mix|"), col("doc_id").cast("string"))).as("ord")), 10000L)
        .select(col("doc_id"), col("source"), col("n_tokens"), col("cum"))
        .orderBy(col("doc_id")), Some(s"""
      WITH t AS (SELECT source,
          CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        FROM documents GROUP BY source),
      w AS (SELECT source, round(sqrt(n_tokens), 6) AS w FROM t),
      tot AS (SELECT ${Det.duckSum("w", 6)} AS tw FROM w),
      tg AS (SELECT source, CAST(round(1e4 * (w / tw), 0) AS BIGINT) AS target_tokens
             FROM w, tot),
      o AS (SELECT doc_id, source,
              CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
              md5('mix|' || CAST(doc_id AS VARCHAR)) AS ord
            FROM documents),
      c AS (SELECT o.doc_id, o.source, o.n_tokens, tg.target_tokens,
              CAST(sum(o.n_tokens) OVER (PARTITION BY o.source ORDER BY o.ord
                                         ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
            FROM o JOIN tg USING (source))
      SELECT doc_id, source, n_tokens, cum FROM c
      WHERE cum <= target_tokens ORDER BY doc_id"""), bench = true),

    Q("q117_temperature_mixture", (s, d) =>
      tokenTargets(docs(s, d).select(col("source"),
          size(TextOps.tokens(col("text"))).cast("long").as("n_tokens")), 1000000L)
        .orderBy(col("source")), Some(s"""
      WITH t AS (SELECT source,
          CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        FROM documents GROUP BY source),
      w AS (SELECT source, n_tokens, round(sqrt(n_tokens), 6) AS w FROM t),
      tot AS (SELECT ${Det.duckSum("w", 6)} AS tw FROM w)
      SELECT source, n_tokens, w, round(w / tw, 6) AS mix_rate,
        CAST(round(1e6 * (w / tw), 0) AS BIGINT) AS target_tokens
      FROM w, tot ORDER BY source""")),

    // ---- PQ index statistics: per-(subspace, code) occupancy — the
    // balance metric an ANN index at scale is monitored by (a skewed
    // subspace means its codebook wastes codes and ADC loses contrast).
    // One map-side encode + one (m, code) aggregation of 8·16 cells. ----
    Q("q116_pq_stats", (s, d) => {
      val books = pqBooks(s, d)
      val enc = Pq.encode(embs(s, d), books)
      val long = enc.select(col("vec_id"), explode(array(books.indices.map(m =>
          struct(lit(m).as("m"), col(s"c$m").as("code"))): _*)).as("x"))
        .select(col("x.m").as("m"), col("x.code").as("code"))
      long.groupBy(col("m"), col("code")).agg(count(lit(1)).as("n"))
        .orderBy(col("m"), col("code"))
    }, Some(s"""
      WITH $duckPqCtes
      SELECT m, cid AS code, count(*) AS n
      FROM pq_codes GROUP BY m, cid ORDER BY m, code""")),

    // ---- REAL BPE training (q78's regex splitter is the pre-tokenizer;
    // this learns the vocabulary): each round is one corpus aggregation
    // of adjacent symbol pairs (map-side partial counts, only (pair, n)
    // partials shuffle) and one driver-collected top pair — the merge
    // table is model state, like the IVF centroids and PQ codebooks.
    // Deterministic: top pair breaks ties (count desc, pair asc); the
    // padded leftmost-non-overlapping replace behaves identically in
    // both engines. ----
    Q("q113_bpe_train", (s, d) => {
      import s.implicits._
      val merges = bpeMerges(s, d)
      merges.zipWithIndex
        .map { case (m, i) => (i + 1, m.pair, m.merged, m.count) }
        .toDF("round", "pair", "merged", "n")
        .orderBy(col("round"))
    }, Some(s"""
      WITH ${duckBpeCtes(4)}
      SELECT * FROM (
        SELECT 1 AS round, pair, merged, n FROM bpe_m1 UNION ALL
        SELECT 2, pair, merged, n FROM bpe_m2 UNION ALL
        SELECT 3, pair, merged, n FROM bpe_m3 UNION ALL
        SELECT 4, pair, merged, n FROM bpe_m4)
      ORDER BY round""")),

    // ---- apply the trained merges: per-doc BPE token accounting. The
    // merge table rides into tasks inside the native BpeTokenStats
    // kernel (codegen'd single call per row — the HOF form paid an
    // interpreted transform+aggregate dispatch per WORD), so ENCODING
    // is pure map-side — the training cost amortizes over every later
    // scan of the 100 TB corpus. ----
    // (kernel spread measured and NOT taken: full-bench min 0.332 →
    // 0.415 s with it — the native BPE kernel is too cheap at this
    // corpus to repay the exchange)
    Q("q114_bpe_encode", (s, d) => {
      val merges = bpeMerges(s, d)
      docs(s, d)
        .select(col("doc_id"),
          graft.functions.BpeTokenStats.of(col("text"), merges).as("st"))
        .select(col("doc_id"),
          col("st.n_words").as("n_words"),
          col("st.n_bpe_tokens").as("n_bpe_tokens"))
        .orderBy(col("doc_id"))
    }, Some(s"""
      WITH ${duckBpeCtes(4)},
      mt AS (SELECT m1.pair AS p1, m1.merged AS g1, m2.pair AS p2, m2.merged AS g2,
                    m3.pair AS p3, m3.merged AS g3, m4.pair AS p4, m4.merged AS g4
             FROM bpe_m1 m1, bpe_m2 m2, bpe_m3 m3, bpe_m4 m4)
      SELECT doc_id,
        CAST(len([w for w in string_split(text, ' ') if length(w) > 0]) AS BIGINT)
          AS n_words,
        CAST(coalesce(list_sum(
          [len(string_split(trim(replace(replace(replace(replace(
             ' ' || array_to_string([w[i] for i in generate_series(1, length(w))], ' ') || ' ',
             ' ' || p1 || ' ', ' ' || g1 || ' '),
             ' ' || p2 || ' ', ' ' || g2 || ' '),
             ' ' || p3 || ' ', ' ' || g3 || ' '),
             ' ' || p4 || ' ', ' ' || g4 || ' ')),
           ' '))
           for w in string_split(text, ' ') if length(w) > 0]), 0) AS BIGINT)
          AS n_bpe_tokens
      FROM documents CROSS JOIN mt ORDER BY doc_id"""), bench = true),

    // ---- the full IVF-PQ search: IVF restricts WHICH vectors are
    // scored (the query's top-2 cells — partition PRUNING on the
    // cid-partitioned index, so at 100 TB a 2-of-8 probe opens ~1/4 of
    // the index directories and none of the corpus), PQ-ADC decides HOW
    // each survivor is scored (M lookups into the query's literal LUT
    // over the 8 stored bytes — never the raw floats; the plan contains
    // no embedding reference, locked). Zero joins, zero shuffles,
    // top-k via TakeOrdered. ----
    Q("q110_ivfpq_search", (s, d) => {
      val lut = Pq.adcLut(queryVec(s, d, qid = 1), pqBooks(s, d))
      val cells = probedCells(s, d, qid = 1, nprobe = 2)
      ivfPqIndex(s, d)
        .filter(col("cid").isin(cells: _*) && col("vec_id") =!= 1)
        .select(col("vec_id"),
          Pq.adcFromCodes(m => Pq.codeAt(col("code"), m), lut).as("approx_d2"))
        .orderBy(col("approx_d2"), col("vec_id")).limit(10)
    }, Some(s"""
      WITH ${duckIvfCtes(8, 2, 64)},
      $duckPqCtes,
      q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id = 1),
      qc_sc AS (SELECT q.qid, q.qv, c.cid, ${duckCos("q.qv", "c.cv")} AS cos
                FROM q, ${duckIvfCents(2)} c),
      qc AS (SELECT qid, qv, cid FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rn
          FROM qc_sc) t WHERE rn <= 2),
      cand AS (SELECT a.vec_id FROM ${duckIvfFinal(2)} a
               JOIN qc ON a.cid = qc.cid AND a.vec_id <> qc.qid),
      qsv AS (SELECT g.m, q.qv[g.m*8+1 : g.m*8+8] AS sv
              FROM q CROSS JOIN generate_series(0, 7) g(m)),
      pd AS (SELECT cd.vec_id, cd.m, ${duckD2("qs.sv", "c.cv")} AS pd
             FROM pq_codes cd
             JOIN pq_c1 c ON c.m = cd.m AND c.cid = cd.cid
             JOIN qsv qs ON qs.m = cd.m
             WHERE cd.vec_id IN (SELECT vec_id FROM cand)),
      adc AS (SELECT vec_id,
                max(CASE WHEN m = 0 THEN pd END) +
                max(CASE WHEN m = 1 THEN pd END) +
                max(CASE WHEN m = 2 THEN pd END) +
                max(CASE WHEN m = 3 THEN pd END) +
                max(CASE WHEN m = 4 THEN pd END) +
                max(CASE WHEN m = 5 THEN pd END) +
                max(CASE WHEN m = 6 THEN pd END) +
                max(CASE WHEN m = 7 THEN pd END) AS approx_d2
              FROM pd GROUP BY vec_id)
      SELECT vec_id, approx_d2 FROM adc
      ORDER BY approx_d2, vec_id LIMIT 10"""), bench = true),

    // ---- two-stage IVF-PQ search with exact re-ranking — the full
    // production ANN query shape. Stage 1 shortlists top-50 by ADC over
    // the stored code index (q110's codes-only, partition-pruned scan;
    // the shortlist is a bounded query artifact like the probed cells).
    // Stage 2 fetches ONLY the shortlist's raw vectors — the 50 ids are
    // a literal IN pushed into the parquet scan (point lookups at
    // 100 TB, not a corpus read; plan-locked) — and re-ranks by EXACT
    // distance, so quantization error affects shortlist membership
    // only, never the reported distances. ----
    Q("q119_ivfpq_rerank", (s, d) => {
      val qv = queryVec(s, d, qid = 1)
      val lut = Pq.adcLut(qv, pqBooks(s, d))
      val cells = probedCells(s, d, qid = 1, nprobe = 2)
      val shortlist = ivfPqIndex(s, d)
        .filter(col("cid").isin(cells: _*) && col("vec_id") =!= 1)
        .select(col("vec_id"),
          Pq.adcFromCodes(m => Pq.codeAt(col("code"), m), lut).as("approx_d2"))
        .orderBy(col("approx_d2"), col("vec_id")).limit(50)
        .collect().map(_.getLong(0)).toSeq
      val qvLit = array(qv.map(lit): _*)
      embs(s, d).filter(col("vec_id").isin(shortlist: _*))
        .select(col("vec_id"), round(Pq.d2(col("embedding"), qvLit), 6).as("d2"))
        .orderBy(col("d2"), col("vec_id")).limit(10)
    }, Some(s"""
      WITH ${duckIvfCtes(8, 2, 64)},
      $duckPqCtes,
      q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id = 1),
      qc_sc AS (SELECT q.qid, q.qv, c.cid, ${duckCos("q.qv", "c.cv")} AS cos
                FROM q, ${duckIvfCents(2)} c),
      qc AS (SELECT qid, qv, cid FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rn
          FROM qc_sc) t WHERE rn <= 2),
      cand AS (SELECT a.vec_id FROM ${duckIvfFinal(2)} a
               JOIN qc ON a.cid = qc.cid AND a.vec_id <> qc.qid),
      qsv AS (SELECT g.m, q.qv[g.m*8+1 : g.m*8+8] AS sv
              FROM q CROSS JOIN generate_series(0, 7) g(m)),
      pd AS (SELECT cd.vec_id, cd.m, ${duckD2("qs.sv", "c.cv")} AS pd
             FROM pq_codes cd
             JOIN pq_c1 c ON c.m = cd.m AND c.cid = cd.cid
             JOIN qsv qs ON qs.m = cd.m
             WHERE cd.vec_id IN (SELECT vec_id FROM cand)),
      adc AS (SELECT vec_id,
                max(CASE WHEN m = 0 THEN pd END) +
                max(CASE WHEN m = 1 THEN pd END) +
                max(CASE WHEN m = 2 THEN pd END) +
                max(CASE WHEN m = 3 THEN pd END) +
                max(CASE WHEN m = 4 THEN pd END) +
                max(CASE WHEN m = 5 THEN pd END) +
                max(CASE WHEN m = 6 THEN pd END) +
                max(CASE WHEN m = 7 THEN pd END) AS approx_d2
              FROM pd GROUP BY vec_id),
      short AS (SELECT vec_id FROM adc ORDER BY approx_d2, vec_id LIMIT 50)
      SELECT e.vec_id,
        round(list_sum([(e.embedding[i]::DOUBLE - q.qv[i]::DOUBLE)
                        * (e.embedding[i]::DOUBLE - q.qv[i]::DOUBLE)
                        for i in generate_series(1, 64)]), 6) AS d2
      FROM embeddings e JOIN short USING (vec_id) CROSS JOIN q
      ORDER BY d2, vec_id LIMIT 10""")),

    // ---- ANN quality readout: recall@10 of the quantized (ADC) search
    // against the exact top-10 — the metric a production index is
    // MONITORED by (quantization quality drifts as the corpus grows
    // away from its training distribution; PqSpec floors it, this
    // tracks it in the oracle gate). Both top-10s are bounded
    // artifacts; the overlap join is 10×10. Uniform-random testdata is
    // PQ's worst case, so the recall here is a floor, not a ceiling. ----
    Q("q125_ann_recall", (s, d) => {
      val qv = queryVec(s, d, qid = 0)
      val lut = Pq.adcLut(qv, pqBooks(s, d))
      val adc10 = ivfPqIndex(s, d).filter(col("vec_id") =!= 0)
        .select(col("vec_id"),
          Pq.adcFromCodes(m => Pq.codeAt(col("code"), m), lut).as("approx_d2"))
        .orderBy(col("approx_d2"), col("vec_id")).limit(10)
      val qvLit = array(qv.map(lit): _*)
      val exact10 = embs(s, d).filter(col("vec_id") =!= 0)
        .select(col("vec_id"), round(Pq.d2(col("embedding"), qvLit), 6).as("d2"))
        .orderBy(col("d2"), col("vec_id")).limit(10)
      adc10.join(exact10, "vec_id")
        .agg(count(lit(1)).as("n_overlap"))
        .select(col("n_overlap"), (col("n_overlap") / 10.0).as("recall_at_10"))
    }, Some(s"""
      WITH $duckPqCtes,
      q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
      qsv AS (SELECT g.m, q.qv[g.m*8+1 : g.m*8+8] AS sv
              FROM q CROSS JOIN generate_series(0, 7) g(m)),
      pd AS (SELECT cd.vec_id, cd.m, ${duckD2("qs.sv", "c.cv")} AS pd
             FROM pq_codes cd
             JOIN pq_c1 c ON c.m = cd.m AND c.cid = cd.cid
             JOIN qsv qs ON qs.m = cd.m
             WHERE cd.vec_id <> 0),
      adc AS (SELECT vec_id,
                max(CASE WHEN m = 0 THEN pd END) +
                max(CASE WHEN m = 1 THEN pd END) +
                max(CASE WHEN m = 2 THEN pd END) +
                max(CASE WHEN m = 3 THEN pd END) +
                max(CASE WHEN m = 4 THEN pd END) +
                max(CASE WHEN m = 5 THEN pd END) +
                max(CASE WHEN m = 6 THEN pd END) +
                max(CASE WHEN m = 7 THEN pd END) AS approx_d2
              FROM pd GROUP BY vec_id),
      adc10 AS (SELECT vec_id FROM adc ORDER BY approx_d2, vec_id LIMIT 10),
      exact10 AS (SELECT e.vec_id,
          round(list_sum([(e.embedding[i]::DOUBLE - q.qv[i]::DOUBLE)
                          * (e.embedding[i]::DOUBLE - q.qv[i]::DOUBLE)
                          for i in generate_series(1, 64)]), 6) AS d2
        FROM embeddings e CROSS JOIN q WHERE e.vec_id <> 0
        ORDER BY d2, vec_id LIMIT 10)
      SELECT CAST(count(*) AS BIGINT) AS n_overlap,
        count(*) / 10.0 AS recall_at_10
      FROM adc10 JOIN exact10 USING (vec_id)""")),

    // ---- BATCHED IVF-PQ search: a query SET amortizes ONE scan of the
    // code index — the training-pipeline shape (dedup/retrieve a whole
    // incoming batch against the corpus index), where per-query scans
    // would multiply the read cost N×. Every query's LUT and probe set
    // are driver-side literals; the scan is pruned to the UNION of
    // probed cells; each row is scored for exactly the queries probing
    // its cell (null otherwise, filtered); top-10 per query is one
    // window exchange on qid. Zero joins, no embedding reference. ----
    Q("q120_ivfpq_batch_search", (s, d) => {
      val books = pqBooks(s, d)
      val qids = Seq(0L, 1L, 2L, 3L)
      val perQ = qids.map { q =>
        (q, Pq.adcLut(queryVec(s, d, q), books), probedCells(s, d, q, nprobe = 2))
      }
      val allCells = perQ.flatMap(_._3).distinct
      val scored = ivfPqIndex(s, d)
        .filter(col("cid").isin(allCells: _*))
        .select(col("vec_id"), col("cid"),
          explode(array(perQ.map { case (q, lut, cells) =>
            struct(lit(q).as("qid"),
              when(col("cid").isin(cells: _*) && col("vec_id") =!= q,
                Pq.adcFromCodes(m => Pq.codeAt(col("code"), m), lut)).as("approx_d2"))
          }: _*)).as("x"))
        .select(col("x.qid").as("qid"), col("vec_id"),
          col("x.approx_d2").as("approx_d2"))
        .filter(col("approx_d2").isNotNull)
      val w = Window.partitionBy(col("qid"))
        .orderBy(col("approx_d2"), col("vec_id"))
      scored.withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 10)
        .select(col("qid"), col("rnk"), col("vec_id"), col("approx_d2"))
        .orderBy(col("qid"), col("rnk"))
    }, Some(s"""
      WITH ${duckIvfCtes(8, 2, 64)},
      $duckPqCtes,
      q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
            WHERE vec_id IN (0, 1, 2, 3)),
      qc_sc AS (SELECT q.qid, q.qv, c.cid, ${duckCos("q.qv", "c.cv")} AS cos
                FROM q, ${duckIvfCents(2)} c),
      qc AS (SELECT qid, qv, cid FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rn
          FROM qc_sc) t WHERE rn <= 2),
      cand AS (SELECT qc.qid, a.vec_id FROM ${duckIvfFinal(2)} a
               JOIN qc ON a.cid = qc.cid AND a.vec_id <> qc.qid),
      qsv AS (SELECT q.qid, g.m, q.qv[g.m*8+1 : g.m*8+8] AS sv
              FROM q CROSS JOIN generate_series(0, 7) g(m)),
      pd AS (SELECT ca.qid, cd.vec_id, cd.m, ${duckD2("qs.sv", "c.cv")} AS pd
             FROM pq_codes cd
             JOIN cand ca ON ca.vec_id = cd.vec_id
             JOIN qsv qs ON qs.m = cd.m AND qs.qid = ca.qid
             JOIN pq_c1 c ON c.m = cd.m AND c.cid = cd.cid),
      adc AS (SELECT qid, vec_id,
                max(CASE WHEN m = 0 THEN pd END) +
                max(CASE WHEN m = 1 THEN pd END) +
                max(CASE WHEN m = 2 THEN pd END) +
                max(CASE WHEN m = 3 THEN pd END) +
                max(CASE WHEN m = 4 THEN pd END) +
                max(CASE WHEN m = 5 THEN pd END) +
                max(CASE WHEN m = 6 THEN pd END) +
                max(CASE WHEN m = 7 THEN pd END) AS approx_d2
              FROM pd GROUP BY qid, vec_id),
      r AS (SELECT qid, vec_id, approx_d2,
              row_number() OVER (PARTITION BY qid
                                 ORDER BY approx_d2, vec_id) AS rnk
            FROM adc)
      SELECT qid, rnk, vec_id, approx_d2 FROM r
      WHERE rnk <= 10 ORDER BY qid, rnk""")),

    // ---- incremental index maintenance: a NEW ingest batch (vec_id ≥
    // 400, the ingest-order suffix) is encoded with the FROZEN
    // codebooks trained on the history prefix — the production index
    // lifecycle (train once, append forever; periodic retrain is a
    // separate offline job). Encoding the batch is one map-side
    // projection with the history books as task literals: no retrain,
    // no shuffle, no history read. The q105 bloom path is the same
    // story for dedup; this is it for the ANN index. ----
    Q("q121_index_append", (s, d) => {
      val histBooks = Models.cached(s"pq:$d:hist400,rounds=1")(
        Pq.train(embs(s, d).filter(col("vec_id") < 400), rounds = 1))
      Pq.encode(embs(s, d).filter(col("vec_id") >= 400), histBooks)
        .orderBy(col("vec_id"))
    }, Some(s"""
      WITH hist AS (SELECT * FROM embeddings WHERE vec_id < 400),
      ${duckPqCtesOver("hist")},
      newsv AS (SELECT e.vec_id, g.m, e.embedding[g.m*8+1 : g.m*8+8] AS sv
                FROM embeddings e CROSS JOIN generate_series(0, 7) g(m)
                WHERE e.vec_id >= 400),
      newsc AS (SELECT s.vec_id, s.m, c.cid, ${duckD2("s.sv", "c.cv")} AS d2
                FROM newsv s JOIN pq_c1 c ON c.m = s.m),
      newcodes AS (SELECT vec_id, m, cid FROM (
                   SELECT *, row_number() OVER (PARTITION BY vec_id, m
                                                ORDER BY d2, cid) AS rn
                   FROM newsc) t WHERE rn = 1)
      SELECT vec_id,
        max(CASE WHEN m = 0 THEN cid END) AS c0,
        max(CASE WHEN m = 1 THEN cid END) AS c1,
        max(CASE WHEN m = 2 THEN cid END) AS c2,
        max(CASE WHEN m = 3 THEN cid END) AS c3,
        max(CASE WHEN m = 4 THEN cid END) AS c4,
        max(CASE WHEN m = 5 THEN cid END) AS c5,
        max(CASE WHEN m = 6 THEN cid END) AS c6,
        max(CASE WHEN m = 7 THEN cid END) AS c7
      FROM newcodes GROUP BY vec_id ORDER BY vec_id""")),

    // ---- SCALAR quantization (SQ8): the 4×-compression tier between
    // raw floats and PQ's 32× — per-dimension (min, max) scales are the
    // whole model (128 doubles, driver literals; min/max are EXACT
    // cross-engine, no summation order involved), encoding is one
    // map-side projection to byte codes, and the per-vector
    // reconstruction error is the quality readout an index monitors.
    // Expression order is pinned identically in both engines
    // (((x−lo)/(hi−lo))·255; dequant lo + c/255·(hi−lo); sequential
    // error fold) so every output is hash-exact. ----
    Q("q123_sq8_quantize", (s, d) => {
      val scales = Models.cached(s"sq8:$d") {
        val row = embs(s, d).select(
          (0 until 64).map(i => min(element_at(col("embedding"), i + 1))) ++
            (0 until 64).map(i => max(element_at(col("embedding"), i + 1))): _*)
          .head()
        val v = (0 until 128).map(j => row.getFloat(j).toDouble)
        (v.take(64), v.drop(64))
      }
      val (lo, hi) = scales
      val loA = array(lo.map(lit): _*)
      val hiA = array(hi.map(lit): _*)
      def at(a: org.apache.spark.sql.Column, i: org.apache.spark.sql.Column) =
        element_at(a, i)
      val codes = transform(sequence(lit(1), lit(64)), i => {
        val x = at(col("embedding"), i).cast("double")
        val l = at(loA, i)
        val h = at(hiA, i)
        when(h === l, lit(0)).otherwise(
          round((x - l) / (h - l) * 255, 0).cast("int"))
      })
      val withC = embs(s, d).select(col("vec_id"), col("embedding"), codes.as("c"))
      val dq = transform(sequence(lit(1), lit(64)), i =>
        at(loA, i) + at(col("c"), i) / 255 * (at(hiA, i) - at(loA, i)))
      withC.select(col("vec_id"),
          aggregate(col("c"), lit(0L), (a, x) => a + x).as("code_sum"),
          array_min(col("c")).as("code_min"),
          array_max(col("c")).as("code_max"),
          round(Pq.d2(dq, col("embedding")), 6).as("recon_err"))
        .orderBy(col("vec_id"))
    }, Some(s"""
      WITH mm AS (SELECT g.i AS i, min(e.embedding[g.i]) AS l,
                         max(e.embedding[g.i]) AS h
                  FROM embeddings e CROSS JOIN generate_series(1, 64) g(i)
                  GROUP BY g.i),
      sc AS (SELECT list(l ORDER BY i) AS lo, list(h ORDER BY i) AS hi FROM mm),
      cd AS (SELECT e.vec_id, e.embedding, sc.lo, sc.hi,
               [CASE WHEN sc.hi[i] = sc.lo[i] THEN 0
                     ELSE CAST(round((e.embedding[i]::DOUBLE - sc.lo[i]::DOUBLE)
                                     / (sc.hi[i]::DOUBLE - sc.lo[i]::DOUBLE) * 255, 0) AS INT) END
                for i in generate_series(1, 64)] AS c
             FROM embeddings e CROSS JOIN sc)
      SELECT vec_id,
        CAST(list_sum(c) AS BIGINT) AS code_sum,
        list_min(c) AS code_min,
        list_max(c) AS code_max,
        round(list_sum([
          (lo[i]::DOUBLE + c[i] / 255 * (hi[i]::DOUBLE - lo[i]::DOUBLE) - embedding[i]::DOUBLE)
          * (lo[i]::DOUBLE + c[i] / 255 * (hi[i]::DOUBLE - lo[i]::DOUBLE) - embedding[i]::DOUBLE)
          for i in generate_series(1, 64)]), 6) AS recon_err
      FROM cd ORDER BY vec_id""")),

    // ---- near-CONTAINMENT dedup: |A∩B| / min(|A|,|B|) ≥ 0.7 over the
    // shared banded candidates — catches a doc quoted or boilerplate-
    // wrapped inside a larger one, which symmetric Jaccard verification
    // (q72) discards because the union is dominated by the container.
    // Same scale shape as q72: banded equi-join candidates, bounded
    // pairwise verify. (Banding recall is Jaccard-driven, so extreme
    // size ratios need the shingle-inverted-index variant — documented
    // trade-off, same as production near-dup systems.) ----
    Q("q122_containment_dedup", (s, d) => {
      val shs = shingleSets(s, d)
      bandedCandidatePairs(s, d)
        .join(shs.select(col("doc_id").as("doc_a"), col("shset").as("sh_a")), "doc_a")
        .join(shs.select(col("doc_id").as("doc_b"), col("shset").as("sh_b")), "doc_b")
        .select(col("doc_a"), col("doc_b"),
          (graft.functions.SetFunctions.intersectCardSorted(col("sh_a"), col("sh_b")) /
            least(size(col("sh_a")), size(col("sh_b")))).as("containment"))
        .filter(col("containment") >= 0.7)
        .orderBy(col("doc_a"), col("doc_b"))
    }, Some(s"""
      WITH ${duckSigCte(8)},
      ${duckBandsCte},
      cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
               FROM bands a JOIN bands b
               ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
      shset AS (SELECT doc_id,
                  list_distinct([${duckHash56("x")} for x in sh]) sh FROM s),
      ct AS (SELECT c.doc_a, c.doc_b,
               len(list_distinct(list_intersect(x.sh, y.sh)))
                 / least(len(x.sh), len(y.sh)) AS containment
             FROM cand c
             JOIN shset x ON x.doc_id = c.doc_a
             JOIN shset y ON y.doc_id = c.doc_b)
      SELECT doc_a, doc_b, containment FROM ct
      WHERE containment >= 0.7 ORDER BY doc_a, doc_b""")),

    // ---- inverted-index containment dedup: the recall path for the
    // EXTREME size ratios q122's MinHash banding documents as its
    // limit (a 50-shingle doc quoted inside a 5000-shingle one rarely
    // collides in any band — its signature is dominated by the
    // container's other content). THE inverted-index plan: posting
    // lists materialized per shingle in ONE aggregation of the sampled
    // postings (the corpus is scanned once), within-list pairs emitted
    // by an array expression — no self-join, no second corpus pass.
    // Two cost bounds make it scale:
    //   1. a CONSISTENT 1-in-4 shingle sketch (md5 mod — a shared
    //      shingle samples identically in both docs, so containment
    //      over the sketch universe is exact, at sketch resolution):
    //      4x fewer postings, ~16x fewer within-list pairs — the
    //      modulus is the recall/cost dial every production
    //      containment system has (docs need >= ~4 shingles for the
    //      sketch to see them);
    //   2. a df cut (posting list <= 50 — the standard stop-shingle
    //      cull) bounds within-list pair fan-out at df^2, and the hot
    //      boilerplate shingles that would otherwise quadratically
    //      blow up the pair count are exactly the ones culled.
    // Overlap excludes stop shingles while min(|A|,|B|) counts every
    // SAMPLED shingle, so the reported containment is a deterministic
    // lower bound over the sketch — both engines compute the identical
    // value (identical docs still score exactly 1.0). ----
    Q("q127_containment_inverted", (s, d) => q127Frame(s, d), Some(s"""
      WITH t AS (SELECT doc_id, $duckWords ws FROM documents),
      s AS (SELECT doc_id, list_distinct($duckShingles) sh FROM t
            WHERE len(ws) >= 3),
      samp AS (SELECT doc_id,
                 [x for x in sh if CAST(concat('0x',
                    substr(md5('cset|' || x), 1, 8)) AS BIGINT) % 4 = 0] AS sh
               FROM s),
      post AS (SELECT doc_id, len(sh) AS nsh, unnest(sh) AS shg
               FROM samp WHERE len(sh) > 0),
      dfq AS (SELECT shg, count(*) AS df FROM post GROUP BY shg),
      kept AS (SELECT p.doc_id, p.nsh, p.shg FROM post p
               JOIN dfq USING (shg) WHERE df BETWEEN 2 AND 50),
      pr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               a.nsh AS nsh_a, b.nsh AS nsh_b, count(*) AS overlap
             FROM kept a JOIN kept b
             ON a.shg = b.shg AND a.doc_id < b.doc_id
             GROUP BY 1, 2, 3, 4)
      SELECT doc_a, doc_b, CAST(overlap AS BIGINT) AS overlap,
        overlap / least(nsh_a, nsh_b) AS containment
      FROM pr WHERE overlap / least(nsh_a, nsh_b) >= 0.7
      ORDER BY doc_a, doc_b"""), bench = true),

    // ---- TF×rarity top terms per document — the log-free tf-idf
    // variant (score = tf/df): both engines divide the same two exact
    // integers, so scores are bit-identical with no rounding tolerance
    // (ln() is NOT cross-engine-reproducible; 1/df preserves the same
    // rarity ordering for ranking purposes). Scale shape: tf and df are
    // partial-aggregated explodes; the join shuffles on term (the
    // canonical vocabulary join); top-k per doc is one window over the
    // doc partition. ----
    Q("q89_tf_rarity", (s, d) => {
      val terms = docs(s, d)
        .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("term"))
      val tf = terms.groupBy(col("doc_id"), col("term"))
        .agg(count(lit(1)).as("tf"))
      // df from the aggregated tf table (its keys ARE the distinct
      // (doc, term) pairs) — not from a second distinct over the raw
      // exploded terms, which would shuffle the full corpus twice
      val dfc = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      val w = Window.partitionBy(col("doc_id"))
        .orderBy((col("tf") / col("df")).desc, col("term"))
      tf.join(dfc, "term")
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 3)
        .select(col("doc_id"), col("rnk"), col("term"), col("tf"), col("df"),
          (col("tf") / col("df")).as("score"))
        .orderBy(col("doc_id"), col("rnk"))
    }, Some("""
      WITH terms AS (SELECT doc_id, unnest(string_split(text, ' ')) term FROM documents),
      tf AS (SELECT doc_id, term, count(*) tf FROM terms GROUP BY 1, 2),
      df AS (SELECT term, count(*) df FROM (SELECT DISTINCT doc_id, term FROM terms) GROUP BY 1),
      r AS (SELECT doc_id, term, tf, df,
              row_number() OVER (PARTITION BY doc_id
                                 ORDER BY CAST(tf AS DOUBLE) / df DESC, term) rnk
            FROM tf JOIN df USING (term))
      SELECT doc_id, rnk, term, tf, df, CAST(tf AS DOUBLE) / df AS score
      FROM r WHERE rnk <= 3 ORDER BY doc_id, rnk""")),

    // ---- within-document repetition score (boilerplate detector, à la
    // Gopher's repetition filters): fraction of 2-gram occurrences taken
    // by the single most frequent 2-gram. Computed entirely map-side as
    // array expressions over each row — ZERO shuffles over the corpus
    // (the oracle uses the relational unnest/group form; results agree
    // because both divide the same two exact integers). ----
    Q("q90_repetition", (s, d) => {
      val ws = TextOps.tokens(col("text"))
      val grams = TextOps.shinglesK(ws, 2)
      val counts = transform(array_distinct(grams),
        g => size(filter(grams, x => x === g)))
      docs(s, d).filter(size(ws) >= 2)
        .select(col("doc_id"), size(grams).as("n_2grams"),
          array_max(counts).as("top_cnt"))
        .select(col("doc_id"), col("n_2grams"), col("top_cnt"),
          (col("top_cnt") / col("n_2grams")).as("top_ratio"),
          (col("top_cnt") / col("n_2grams") > 0.1).as("is_repetitive"))
        .orderBy(col("doc_id"))
    }, Some(s"""
      WITH t AS (SELECT doc_id, $duckWords ws FROM documents),
      g2 AS (SELECT doc_id, unnest(
               [ws[i] || ' ' || ws[i+1] for i in generate_series(1, len(ws) - 1)]) g
             FROM t WHERE len(ws) >= 2),
      c AS (SELECT doc_id, g, count(*) cnt FROM g2 GROUP BY 1, 2),
      agg AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) n_2grams,
                CAST(max(cnt) AS BIGINT) top_cnt
              FROM c GROUP BY 1)
      SELECT doc_id, n_2grams, top_cnt,
        CAST(top_cnt AS DOUBLE) / n_2grams AS top_ratio,
        CAST(top_cnt AS DOUBLE) / n_2grams > 0.1 AS is_repetitive
      FROM agg ORDER BY doc_id""")),

    // ---- SEMANTIC decontamination: the embedding-level twin of q88's
    // lexical 8-gram check — flag training vectors whose cosine to any
    // held-out eval vector reaches 0.4, with candidates generated by the
    // q70 banding kernel (4 bands × 4 hyperplanes) instead of an
    // all-pairs scan. Scale shape: the eval side is tiny by construction
    // (eval sets don't grow with the corpus), so its banded form
    // BROADCASTS and the corpus is probed map-side — zero fact shuffles
    // before the distinct on hit ids. Both engines run the same banding,
    // so recall-by-banding is identical and the oracle is exact. ----
    Q("q100_embed_decontaminate", (s, d) => {
      val bandStructs = (0 until 4).map(b => struct(lit(b).as("band"),
        TextOps.lshBandBucket(col("embedding"), b * 4, 4, 64).as("bkey")))
      val banded = embs(s, d)
        .select(col("vec_id"), col("embedding"), explode(array(bandStructs: _*)).as("bb"))
        .select(col("vec_id"), col("embedding"),
          col("bb.band").as("band"), col("bb.bkey").as("bkey"))
      val ev = banded.filter(col("vec_id") % 10 === 7)
        .select(col("band").as("e_band"), col("bkey").as("e_bkey"),
          col("embedding").as("ev_emb"))
      val contaminated = banded.filter(col("vec_id") % 10 =!= 7)
        .join(broadcast(ev),
          col("band") === col("e_band") && col("bkey") === col("e_bkey"))
        .filter(TextOps.cosine(col("embedding"), col("ev_emb")) >= 0.4)
        .select(col("vec_id")).distinct()
      embs(s, d).filter(col("vec_id") % 10 =!= 7)
        .join(contaminated.withColumn("hit", lit(1)), Seq("vec_id"), "left")
        .select(col("vec_id"), col("hit").isNull.as("is_clean"))
        .orderBy(col("vec_id"))
    }, Some {
      val bandSelects = (0 until 4).map { bnd =>
        s"""SELECT vec_id, embedding, $bnd AS band,
            CAST(${duckBandBucket("e", bnd * 4, 4)} AS BIGINT) AS bkey FROM embeddings e"""
      }.mkString(" UNION ALL ")
      s"""
      WITH bb AS ($bandSelects),
      ev AS (SELECT band, bkey, embedding AS ev_emb FROM bb WHERE vec_id % 10 = 7),
      cont AS (SELECT DISTINCT t.vec_id
               FROM bb t JOIN ev e ON t.band = e.band AND t.bkey = e.bkey
               WHERE t.vec_id % 10 <> 7
                 AND ${duckCos("t.embedding", "e.ev_emb")} >= 0.4)
      SELECT v.vec_id, c.vec_id IS NULL AS is_clean
      FROM (SELECT vec_id FROM embeddings WHERE vec_id % 10 <> 7) v
      LEFT JOIN cont c USING (vec_id) ORDER BY v.vec_id"""
    }),

    // ---- corpus token accounting: tokens per source, share of the
    // corpus, and cumulative share in descending-size order — the table
    // a mixture plan starts from. All integer sums (exact); shares are
    // single divisions of exact longs. One partial-agg shuffle; the
    // ordered cumulative runs over |sources| rows only. ----
    Q("q99_token_budget", (s, d) => {
      val perSource = docs(s, d)
        .groupBy(col("source"))
        .agg(sum(size(TextOps.tokens(col("text"))).cast("long")).as("tokens"),
          count(lit(1)).as("docs"))
      val total = Window.partitionBy()
      val ordered = Window.orderBy(col("tokens").desc, col("source"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      perSource
        .withColumn("share", col("tokens") / sum(col("tokens")).over(total))
        .withColumn("cum_share",
          sum(col("tokens")).over(ordered) / sum(col("tokens")).over(total))
        .select(col("source"), col("tokens"), col("docs"),
          col("share"), col("cum_share"))
        .orderBy(col("tokens").desc, col("source"))
    }, Some("""
      WITH s AS (SELECT source,
          CAST(sum(len(string_split(text, ' '))) AS BIGINT) tokens,
          count(*) docs
        FROM documents GROUP BY 1)
      SELECT source, tokens, docs,
        CAST(tokens AS DOUBLE) / (SELECT CAST(sum(tokens) AS BIGINT) FROM s) AS share,
        CAST(CAST(sum(tokens) OVER (ORDER BY tokens DESC, source
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS DOUBLE)
          / (SELECT CAST(sum(tokens) AS BIGINT) FROM s) AS cum_share
      FROM s ORDER BY tokens DESC, source""")),

    // ---- per-source quality gate: keep documents at or above their
    // source's median type-token ratio (distinct/total tokens — a
    // real boilerplate signal: low TTR = repetitive text). The
    // percentile is computed WITHIN each source so one domain's prose
    // style doesn't set another's bar. percent_rank = (rank−1)/(n−1)
    // divides the same integers in both engines — exact. One shuffle
    // on source; the quality signal itself is map-side. ----
    Q("q97_quality_gate", (s, d) => {
      val ws = TextOps.tokens(col("text"))
      val base = docs(s, d).select(col("doc_id"), col("source"),
        (size(array_distinct(ws)) / size(ws)).as("ttr"))
      base.withColumn("pr", percent_rank().over(
          Window.partitionBy(col("source")).orderBy(col("ttr"))))
        .filter(col("pr") >= 0.5)
        .select(col("doc_id"), col("source"), col("ttr"), col("pr"))
        .orderBy(col("doc_id"))
    }, Some(s"""
      WITH t AS (SELECT doc_id, source,
        len(list_distinct($duckWords)) / len($duckWords) AS ttr FROM documents),
      r AS (SELECT doc_id, source, ttr,
              percent_rank() OVER (PARTITION BY source ORDER BY ttr) pr
            FROM t)
      SELECT doc_id, source, ttr, pr FROM r WHERE pr >= 0.5 ORDER BY doc_id""")),

    // ---- IVF-cell diversity sampling: within each trained cell, keep
    // the 3 vectors FARTHEST from their centroid (lowest assignment
    // cosine) — per-cluster hard-example mining for training-set
    // curation. Pure composition over the trained quantizer: map-side
    // assignment (q67's plan) + one window per cell. ----
    Q("q96_cell_diverse", (s, d) => {
      val e = embs(s, d)
      val assigned = Ivf.assign(e, ivfCents(s, d))
      val w = Window.partitionBy(col("cid")).orderBy(col("cos").asc, col("vec_id"))
      assigned.withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 3)
        .select(col("cid").as("centroid"), col("rnk"), col("vec_id"), col("cos").as("cosine"))
        .orderBy(col("centroid"), col("rnk"))
    }, Some(s"""
      WITH ${duckIvfCtes(8, 2, 64)},
      r AS (SELECT cid, vec_id, cos,
              row_number() OVER (PARTITION BY cid ORDER BY cos, vec_id) rnk
            FROM ${duckIvfFinal(2)})
      SELECT cid AS centroid, rnk, vec_id, cos AS cosine
      FROM r WHERE rnk <= 3 ORDER BY centroid, rnk""")),

    // ---- term scrubbing / vocabulary filtering: mask banned terms
    // map-side with a word-boundary regex (the same shape as PII
    // redaction — swap the term list for email/phone patterns). Spark's
    // regexp_replace is global by default; DuckDB needs the 'g' flag.
    // Zero shuffles over the corpus. ----
    Q("q93_scrub", (s, d) => {
      val scrubbed = regexp_replace(col("text"), "\\b(customer|key)\\b", "[MASK]")
      docs(s, d).select(col("doc_id"), scrubbed.as("sc"))
        .select(col("doc_id"), md5(col("sc")).as("fp"),
          (size(split(col("sc"), "\\[MASK\\]")) - 1).as("n_masked"))
        .orderBy(col("doc_id"))
    }, Some("""
      SELECT doc_id, md5(sc) AS fp,
        len(string_split(sc, '[MASK]')) - 1 AS n_masked
      FROM (SELECT doc_id,
              regexp_replace(text, '\b(customer|key)\b', '[MASK]', 'g') sc
            FROM documents)
      ORDER BY doc_id""")),

    // ---- corpus-wide duplicated-span removal (the RefinedWeb/CCNet
    // "line dedup" shape, chunked since the synthetic docs have no
    // newlines): split every doc into consecutive 10-token spans, keep
    // each distinct span only at its FIRST occurrence corpus-wide
    // (ordered by doc_id, position), reassemble the survivors. Scale
    // shape: span TEXT never leaves the map side — the first-occurrence
    // window shuffles only (doc_id, ci, 64-bit-ish span hash), the
    // per-doc keep-lists shuffle back as tiny int arrays, and the
    // surviving text is rebuilt map-side from the original document.
    // Hash collisions would merge distinct spans; both engines hash
    // identically so the oracle still matches — at 100 TB use a 128-bit
    // hash or add a verify pass, same tradeoff as every hash dedup. ----
    Q("q94_span_dedup", (s, d) => {
      val ws = TextOps.tokens(col("text"))
      val nChunks = ceil(size(ws) / lit(10.0)).cast("int")
      val hashed = docs(s, d)
        .select(col("doc_id"), ws.as("ws"),
          explode(sequence(lit(0), nChunks - 1)).as("ci"))
        .select(col("doc_id"), col("ci"),
          TextOps.hash32(concat_ws(" ",
            slice(col("ws"), col("ci") * 10 + 1, lit(10)))).as("h"))
      val firstSeen = Window.partitionBy(col("h")).orderBy(col("doc_id"), col("ci"))
      val keptIdx = hashed.withColumn("rn", row_number().over(firstSeen))
        .filter(col("rn") === 1)
        .groupBy(col("doc_id"))
        .agg(sort_array(collect_list(col("ci"))).as("keep_ci"))
      docs(s, d).join(keptIdx, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(size(col("keep_ci")), lit(0)).cast("long").as("n_kept"),
          md5(array_join(transform(
            coalesce(col("keep_ci"), array().cast("array<int>")),
            ci => concat_ws(" ",
              slice(TextOps.tokens(col("text")), ci * 10 + 1, lit(10)))), " ")).as("fp"))
        .orderBy(col("doc_id"))
    }, Some(s"""
      WITH t AS (SELECT doc_id, $duckWords ws FROM documents),
      ch0 AS (SELECT doc_id,
                [{'ci': i, 'chunk': array_to_string(ws[i*10+1:i*10+10], ' ')}
                 for i in generate_series(0, CAST(ceil(len(ws)/10.0) AS INT) - 1)] cs
              FROM t),
      ch AS (SELECT doc_id, unnest(cs, recursive := true) FROM ch0),
      k AS (SELECT doc_id, ci, chunk,
              row_number() OVER (PARTITION BY ${duckHash32("chunk")}
                                 ORDER BY doc_id, ci) rn
            FROM ch),
      agg AS (SELECT doc_id, count(*) n_kept,
                md5(string_agg(chunk, ' ' ORDER BY ci)) fp
              FROM k WHERE rn = 1 GROUP BY doc_id)
      SELECT d.doc_id, coalesce(a.n_kept, 0) AS n_kept,
        coalesce(a.fp, md5('')) AS fp
      FROM documents d LEFT JOIN agg a USING (doc_id) ORDER BY d.doc_id""")),

    // ---- sequence packing: assign docs (in doc_id order) to fixed-
    // capacity training sequences by cumulative token count: the
    // [[sequencePack]] law. The naive form is a GLOBAL running sum — a
    // single-partition bottleneck — so the running total is
    // Skew.prefixSum's three-level form (no keys): the only global
    // ordering touches |superbuckets| rows, not the corpus. ----
    // ---- LENGTH-BUCKETED sequence packing (the bucketed-batching form
    // production training pipelines run alongside q95's contiguous
    // packing): docs are binned by 64-token length grade (capped at the
    // 512 sequence size), and each sequence holds exactly
    // floor(512/grade) docs of its grade — so padding per doc is
    // bounded by its grade remainder and NO sequence straddles a doc
    // (q95's cum form splits logical docs across sequence boundaries;
    // this form never does, at the price of the per-grade tail
    // sequence running partially empty). Deterministic: rank within
    // grade is (doc_id) order. Scale shape: a plain per-grade window
    // funnels corpus/|grades| rows into ≤8 tasks (the q129 hot-domain
    // problem with only 8 "domains"), so rank comes from Skew.prefixSum
    // — per-(grade, id-bucket) counts get a per-grade cumsum broadcast
    // back as offsets, and the corpus-sized window runs per (grade,
    // id-bucket). ----
    Q("q162_bucketed_pack", (s, d) => {
      val cap = 512
      val bucketW = 50
      val nTok = size(TextOps.tokens(col("text"))).cast("long")
      val base = docs(s, d).select(col("doc_id"), nTok.as("n_tokens"),
          expr(s"doc_id DIV $bucketW").as("bucket"))
        .withColumn("grade",
          least(lit(cap.toLong), expr("(n_tokens + 63) DIV 64") * 64L))
      Skew.prefixSum(base, Seq("grade"), "bucket",
          Seq(col("doc_id")), None, "rnk")
        .withColumn("seq_cap", expr(s"$cap DIV grade"))
        .select(col("doc_id"), col("n_tokens"), col("grade"),
          expr("(rnk - 1) DIV seq_cap").as("seq_in_grade"),
          expr("(rnk - 1) % seq_cap").as("slot"))
        .orderBy(col("doc_id"))
    }, Some("""
      WITH t AS (SELECT doc_id,
          CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        FROM documents),
      g AS (SELECT doc_id, n_tokens,
          least(512, ((n_tokens + 63) // 64) * 64) AS grade FROM t),
      r AS (SELECT doc_id, n_tokens, grade,
          CAST(ROW_NUMBER() OVER (PARTITION BY grade ORDER BY doc_id)
            AS BIGINT) AS rnk,
          512 // grade AS seq_cap
        FROM g)
      SELECT doc_id, n_tokens, grade,
        (rnk - 1) // seq_cap AS seq_in_grade,
        (rnk - 1) % seq_cap AS slot
      FROM r ORDER BY doc_id""")),

    Q("q95_sequence_pack", (s, d) =>
      sequencePack(docs(s, d).select(col("doc_id"),
          size(TextOps.tokens(col("text"))).cast("long").as("n_tokens")), Nil)
        .select(col("doc_id"), col("n_tokens"), col("cum_tokens"), col("seq_id"))
        .orderBy(col("doc_id")), Some("""
      WITH t AS (SELECT doc_id,
        CAST(len(string_split(text, ' ')) AS BIGINT) n_tokens FROM documents),
      c AS (SELECT doc_id, n_tokens,
              CAST(sum(n_tokens) OVER (ORDER BY doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) cum_tokens
            FROM t)
      SELECT doc_id, n_tokens, cum_tokens, (cum_tokens - 1) // 512 AS seq_id
      FROM c ORDER BY doc_id""")),

    // ---- domain mixture reweighting: per-source keep rates (here a
    // deterministic md5-derived rate in [25%, 74%]; in production the
    // tuned mixture weights) applied via the q79 deterministic-sampling
    // kernel. Pure map-side — reproducible across engines, partitions,
    // and retries, and stratified by construction: each source keeps
    // exactly its hash-selected fraction. ----
    Q("q91_mixture_reweight", (s, d) => {
      val srcHash = conv(substring(md5(concat(lit("mix|"), col("source"))),
        1, 8), 16, 10).cast("long")
      val docHash = conv(substring(md5(concat(lit("sample|"),
        col("doc_id").cast("string"))), 1, 8), 16, 10).cast("long")
      docs(s, d).withColumn("keep_pct", srcHash % 50 + 25)
        .filter(docHash % 100 < col("keep_pct"))
        .select(col("doc_id"), col("source"), col("keep_pct"))
        .orderBy(col("doc_id"))
    }, Some("""
      SELECT doc_id, source, keep_pct FROM (
        SELECT doc_id, source,
          CAST(concat('0x', substr(md5('mix|' || source), 1, 8)) AS BIGINT) % 50 + 25 AS keep_pct,
          CAST(concat('0x', substr(md5('sample|' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 AS h
        FROM documents)
      WHERE h < keep_pct ORDER BY doc_id""")),

    // ---- IVF ANN: TRAINED coarse quantizer (deterministic k-means-lite,
    // graft.operators.Ivf — 2 Lloyd rounds from vec_id<8 seeds, centroid
    // means via the exact-decimal Det convention so the oracle replays
    // training bit-for-bit; an emptied cluster keeps its previous
    // centroid). The 100 TB shape: trained centroids are a k×dim literal
    // (collected to the driver once per round, like lshBucket's
    // hyperplanes), assignment is ONE map-side argmax projection — the
    // corpus is never expanded or shuffled (PlanShapeSpec locks q67 to
    // ≤1 exchange, the output sort); each Lloyd update moves only k·dim
    // partial sums; search probes the query's top-2 cells (q68). ----
    Q("q67_ivf_assign", (s, d) => {
      val e = embs(s, d)
      Ivf.assign(e, ivfCents(s, d))
        .select(col("vec_id"), col("cid").as("centroid"), col("cos").as("cosine"))
        .orderBy(col("vec_id"))
    }, Some(s"""
      WITH ${duckIvfCtes(8, 2, 64)}
      SELECT vec_id, cid AS centroid, cos AS cosine
      FROM ${duckIvfFinal(2)} ORDER BY vec_id""")),

    // ---- IVF multi-probe search: rank within the query's top-2 cells ----
    Q("q68_ivf_search", (s, d) => {
      val e = embs(s, d)
      val cents = ivfCents(s, d)
      val assigned = Ivf.assign(e, cents)
      val q = e.filter(col("vec_id") === 1)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      val cells = Ivf.probeCells(q, cents, 2)
        .select(col("qid"), col("qv"), col("cid").as("qcid"))
      assigned.join(broadcast(cells),
          col("cid") === col("qcid") && col("vec_id") =!= col("qid"))
        .select(col("vec_id"), TextOps.cosine(col("embedding"), col("qv")).as("cosine"))
        .orderBy(col("cosine").desc, col("vec_id")).limit(10)
    }, Some(s"""
      WITH ${duckIvfCtes(8, 2, 64)},
      q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id = 1),
      qc_sc AS (SELECT q.qid, q.qv, c.cid, ${duckCos("q.qv", "c.cv")} AS cos
                FROM q, ${duckIvfCents(2)} c),
      qc AS (SELECT qid, qv, cid FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rn
          FROM qc_sc) t WHERE rn <= 2)
      SELECT vec_id, cosine FROM (
        SELECT a.vec_id, ${duckCos("a.embedding", "qc.qv")} AS cosine
        FROM ${duckIvfFinal(2)} a JOIN qc ON a.cid = qc.cid AND a.vec_id <> qc.qid) t
      ORDER BY cosine DESC, vec_id LIMIT 10""")),

    // ---- count-min sketch token frequencies (TypedImperativeAggregate):
    // the sketch is built with one partial-aggregating pass (each task
    // folds into a local 4×64 long array; the exchange moves only those
    // buffers), then every token's estimate = min over the 4 rows of its
    // bucket counter. md5-derived hashing → the oracle rebuilds the
    // sketch exactly; CmsSpec asserts estimate ≥ exact always ----
    Q("q73_cms_freq", (s, d) => {
      val toks = docs(s, d).select(explode(TextOps.tokens(col("text"))).as("token"))
      val sketch = toks.agg(graft.functions.CountMin.sketch(col("token")).as("sk"))
      val counts = toks.groupBy(col("token")).agg(count(lit(1)).as("exact_n"))
      val est = (0 until 4).map { j =>
        element_at(col("sk"),
          ((TextOps.seededHash(j, col("token")) % 64) + lit(j * 64) + 1).cast("int"))
      }.reduce(least(_, _))
      counts.crossJoin(broadcast(sketch))
        .select(col("token"), col("exact_n"), est.as("cms_n"))
        .orderBy(col("token"))
    }, Some(s"""
      WITH tok AS (SELECT unnest(string_split(text, ' ')) AS token FROM documents),
      counts AS (SELECT token, count(*) AS exact_n FROM tok GROUP BY token),
      tb AS (SELECT token, exact_n, g.j,
               CAST(concat('0x', substr(md5(g.j || '|' || token), 1, 8)) AS BIGINT) % 64 AS b
             FROM counts CROSS JOIN generate_series(0, 3) g(j)),
      bsum AS (SELECT j, b, CAST(sum(exact_n) AS BIGINT) AS s FROM tb GROUP BY j, b),
      est AS (SELECT tb.token, min(bsum.s) AS cms_n
              FROM tb JOIN bsum ON tb.j = bsum.j AND tb.b = bsum.b
              GROUP BY tb.token)
      SELECT c.token AS token, c.exact_n, e.cms_n
      FROM counts c JOIN est e ON c.token = e.token
      ORDER BY c.token""")),

    // ---- the composed training-data pipeline: language filter →
    // quality score → exact-dup removal → top-quality selection.
    // One declarative plan: filter/score map-side, one shuffle for the
    // dedup group-by, TakeOrdered for the final cut. ----
    Q("q62_training_pipeline", (s, d) => {
      val ws = TextOps.tokens(col("text"))
      val scored = docs(s, d)
        .filter(col("lang").isin("en", "de", "fr"))
        .withColumn("n_tokens", size(TextOps.tokens(col("text"))))
        .filter(col("n_tokens") >= 20)
        .withColumn("quality",
          round(lit(0.3) * (size(filter(ws, w => w.isin("the", "a"))) / size(ws)) +
            lit(0.7) * least(col("n_tokens"), lit(200)) / 200.0, 6))
      scored
        .groupBy(md5(lower(col("text"))).as("fp"))
        .agg(min(col("doc_id")).as("doc_id"), max(col("quality")).as("quality"),
          count(lit(1)).as("n_copies"))
        .orderBy(col("quality").desc, col("doc_id")).limit(100)
        .select(col("doc_id"), col("quality"), col("n_copies"))
    }, Some("""
      WITH scored AS (
        SELECT doc_id, text,
          len(string_split(text, ' ')) AS n_tokens,
          round(0.3 * (len(list_filter(string_split(text, ' '), w -> w IN ('the', 'a')))
                       / len(string_split(text, ' ')))
            + 0.7 * least(len(string_split(text, ' ')), 200) / 200.0, 6) AS quality
        FROM documents
        WHERE lang IN ('en', 'de', 'fr') AND len(string_split(text, ' ')) >= 20)
      SELECT min(doc_id) AS doc_id, max(quality) AS quality, count(*) AS n_copies
      FROM scored
      GROUP BY md5(lower(text))
      ORDER BY quality DESC, doc_id LIMIT 100"""), bench = true),

    // ---- multimodal feature extraction through the BATCHED imperative
    // path (Multimodal.extractFeatures: typed mapPartitions + grouped
    // batches — the Scala analogue of mapInPandas; decode is the
    // documented codec-seam stub). Features are md5-derived, so the
    // oracle rebuilds them; media bytes are the utf-8 text, so DuckDB's
    // VARCHAR md5 sees the same digest. ----
    Q("q75_media_features", (s, d) => {
      val feats = graft.operators.Multimodal
        .extractFeatures(graft.operators.Multimodal.withMedia(docs(s, d))).toDF()
      feats.select(Seq(col("doc_id"), col("kind")) ++
          (0 until graft.operators.Multimodal.FeatureDim)
            .map(j => element_at(col("features"), j + 1).as(s"f$j")): _*)
        .orderBy(col("doc_id"))
    }, Some {
      val fcols = (0 until 8).map { j =>
        s"((CAST(concat('0x', substr(md5($j || '|' || md5(text)), 1, 8)) AS BIGINT) % 2001) - 1000) / 1000.0 AS f$j"
      }.mkString(",\n        ")
      s"""
      SELECT doc_id,
        (['image', 'audio', 'video'])[(doc_id % 3) + 1] AS kind,
        $fcols
      FROM documents ORDER BY doc_id"""
    }),

    // ---- multimodal: opaque binary column + typed metadata extraction ----
    Q("q53_multimodal_meta", (s, d) => {
      // the "media" column is an opaque blob (here: utf-8 encoded text —
      // the container ships no codecs, see Multimodal for the decode stub);
      // metadata extraction is the real Spark-side plumbing under test
      val bin = encode(col("text"), "UTF-8")
      val bytes = length(bin).cast("long")
      docs(s, d).select(
        col("doc_id"),
        element_at(array(lit("image"), lit("audio"), lit("video")),
          (pmod(col("doc_id"), lit(3)) + 1).cast("int")).as("kind"),
        bytes.as("n_bytes"),
        (lit(64) + pmod(bytes, lit(640))).as("width"),
        (lit(64) + pmod(bytes * 7, lit(480))).as("height"),
        (lit(1) + pmod(bytes, lit(30))).as("n_frames"))
        .orderBy(col("doc_id"))
    }, Some("""
      SELECT doc_id,
        (['image', 'audio', 'video'])[(doc_id % 3) + 1] AS kind,
        CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        64 + CAST(octet_length(encode(text)) AS BIGINT) % 640 AS width,
        64 + (CAST(octet_length(encode(text)) AS BIGINT) * 7) % 480 AS height,
        1 + CAST(octet_length(encode(text)) AS BIGINT) % 30 AS n_frames
      FROM documents ORDER BY doc_id""")),

    // ---- SemDeDup-style cluster-scoped SEMANTIC dedup (Abbas et al.,
    // arXiv:2303.09540): q70's banded-LSH near-dup catches vectors whose
    // hyperplane signatures collide; this is the complementary
    // clustering-scoped form — assign every embedding to its trained IVF
    // cell (q67's map-side literal-centroid argmax, zero shuffle), then
    // compare pairs ONLY within a cell. A vector is dropped iff a
    // LOWER-id cell-mate sits at cosine >= tau (SemDeDup's keep-one-per-
    // epsilon-ball, made deterministic by the id order; the paper keeps
    // low-centroid-similarity instead — that policy is one ORDER BY swap
    // on the same plan, cf. q131 vs q87). Scale shape: the cell bounds
    // pairwise work to sum(cell^2) — k grows with the corpus so the
    // expected cell stays constant-sized, exactly the IVF sizing rule —
    // and the self-join shuffles on cid once, with the drop-set
    // aggregation and the anti-join reusing that exchange. No all-pairs
    // anywhere; the hot-cell guard at 100 TB is the same salted pre-cap
    // family as q129 (a cell too hot to pair is a cell the quantizer
    // should split — k is the dial). ----
    Q("q132_semantic_dedup", (s, d) => q132Frame(s, d, k = 8), Some(s"""
      WITH ${duckIvfCtes(8, 2, 64)},
      asg AS (SELECT vec_id, embedding, cid FROM ${duckIvfFinal(2)}),
      dropped AS (SELECT DISTINCT y.vec_id
        FROM asg x JOIN asg y ON x.cid = y.cid AND x.vec_id < y.vec_id
        WHERE ${duckCos("x.embedding", "y.embedding")} >= 0.4)
      SELECT a.vec_id, a.cid FROM asg a
      WHERE a.vec_id NOT IN (SELECT vec_id FROM dropped)
      ORDER BY a.vec_id"""), bench = true),

    // ---- deterministic STRATIFIED train/val/test split: per source,
    // order docs by (content md5, doc_id) and cut EXACT counts —
    // ceil(0.8n) train, ceil(0.1n) val, remainder test (integer-exact
    // thresholds, no float ratios). Pure hash-mod splits hit ratios only
    // in expectation and can starve a small source's val/test entirely;
    // here the quota arithmetic is exact, so a source gets val/test rows
    // once n is large enough for the ceil quotas to leave a remainder
    // (test needs n > ceil(0.8n)+ceil(0.1n) — first at n=10; a tiny
    // source, n<=3, still lands entirely in train, a boundary QueriesSpec
    // pins), and the content-keyed order makes the split stable under
    // re-crawls that renumber doc_ids: the [[stratifiedSplit]] law. Its
    // rank is Skew.prefixSum per source, bucketed by the leading 2 hex
    // chars OF the sort key (|sources|x256 offset rows), so no task ever
    // sorts more than one bucket of one source (the naive per-source
    // window gives the hottest domain to one task — the q129 problem). ----
    Q("q133_stratified_split", (s, d) =>
      stratifiedSplit(docs(s, d).select(col("doc_id"), col("source"),
          md5(concat(lit("split|"), coalesce(col("text"), lit("")))).as("ckey")))
        .select(col("doc_id"), col("source"), col("pos"), col("split"))
        .orderBy(col("doc_id")), Some("""
      WITH t AS (SELECT doc_id, source,
          md5('split|' || coalesce(text, '')) AS ckey FROM documents),
      p AS (SELECT doc_id, source,
          CAST(ROW_NUMBER() OVER (PARTITION BY source
            ORDER BY ckey, doc_id) AS BIGINT) AS pos,
          COUNT(*) OVER (PARTITION BY source) AS n
        FROM t)
      SELECT doc_id, source, pos,
        CASE WHEN pos <= (8 * n + 9) // 10 THEN 'train'
             WHEN pos <= (8 * n + 9) // 10 + (n + 9) // 10 THEN 'val'
             ELSE 'test' END AS split
      FROM p ORDER BY doc_id""")),

    // ---- TWO-LEVEL (recursive IVF) assignment — the large-k scale path
    // the dial table names: a flat argmax over k literal centroids costs
    // k cosines per row and stops being a sane single expression past
    // k ≈ 10³. Level 0 is a Lloyd run over the CENTROIDS themselves
    // (Ivf.train reused verbatim on the tiny (cid, vector) table); each
    // vector then picks its nearest coarse cell (k1 cosines) and argmaxes
    // over only that cell's member centroids — k1 + |cell| ≈ 2√k cosines
    // per row, still ONE map-side projection with zero joins/shuffles
    // over the corpus. The output reads out the IVF approximation
    // directly: `agree` marks rows where two-level == flat (exact
    // whenever the true nearest centroid's coarse cell wins level 1).
    // Both Lloyd runs and both argmaxes replay in DuckDB bit-for-bit
    // (same seeds, same Det mean convention, same rounded-cosine
    // tie-breaks). ----
    Q("q134_twolevel_assign", (s, d) => {
      val cents = ivfCents(s, d)
      val (coarse, coarseOf) =
        Models.cached(s"ivfcoarse:$d:k=8,k1=3,rounds=2")(
          Ivf.coarsen(s, cents, 3, 2))
      Ivf.assignTwoLevel(embs(s, d), cents, coarse, coarseOf)
        .withColumn("cid_flat", Ivf.bestCell(cents, col("embedding")))
        .select(col("vec_id"), col("ccid"), col("cid"),
          (col("cid") === col("cid_flat")).as("agree"))
        .orderBy(col("vec_id"))
    }, Some(s"""
      WITH ${duckIvfCtes(8, 2, 64)},
      centtbl AS (SELECT cid AS vec_id, cv AS embedding FROM ${duckIvfCents(2)}),
      ${duckIvfCtesOn("centtbl", 3, 2, 64, "co")},
      live AS (SELECT DISTINCT cid FROM coa3),
      lvl1_sc AS (SELECT e.vec_id, e.embedding, c.cid AS ccid,
          ${duckCos("e.embedding", "c.cv")} AS cos
        FROM embeddings e,
          (SELECT co.cid, co.cv FROM coc2 co JOIN live l ON l.cid = co.cid) c),
      lvl1 AS (SELECT vec_id, embedding, ccid FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
            ORDER BY cos DESC, ccid) AS rn FROM lvl1_sc) t WHERE rn = 1),
      lvl2_sc AS (SELECT l.vec_id, l.ccid, f.cid,
          ${duckCos("l.embedding", "f.cv")} AS cos
        FROM lvl1 l JOIN coa3 m ON m.cid = l.ccid
                    JOIN ${duckIvfCents(2)} f ON f.cid = m.vec_id),
      lvl2 AS (SELECT vec_id, ccid, cid FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
            ORDER BY cos DESC, cid) AS rn FROM lvl2_sc) t WHERE rn = 1)
      SELECT l.vec_id, l.ccid, l.cid, l.cid = a.cid AS agree
      FROM lvl2 l JOIN ${duckIvfFinal(2)} a ON a.vec_id = l.vec_id
      ORDER BY l.vec_id""")),

    // ---- q134 with MULTI-PROBE level 1 (nprobe=2): the standard IVF
    // recall knob — near-boundary vectors whose true nearest centroid
    // lives in the runner-up coarse cell recover it, because level 2
    // argmaxes over the UNION of both probed cells' members (2·|cell|
    // cosines instead of |cell|; still one map-side projection). The
    // `agree` column reads the recall improvement directly against
    // q134's single-probe rate. ----
    Q("q135_twolevel_multiprobe", (s, d) => {
      val cents = ivfCents(s, d)
      val (coarse, coarseOf) =
        Models.cached(s"ivfcoarse:$d:k=8,k1=3,rounds=2")(
          Ivf.coarsen(s, cents, 3, 2))
      Ivf.assignTwoLevel(embs(s, d), cents, coarse, coarseOf, nprobe = 2)
        .withColumn("cid_flat", Ivf.bestCell(cents, col("embedding")))
        .select(col("vec_id"), col("ccid"), col("cid"),
          (col("cid") === col("cid_flat")).as("agree"))
        .orderBy(col("vec_id"))
    }, Some(s"""
      WITH ${duckIvfCtes(8, 2, 64)},
      centtbl AS (SELECT cid AS vec_id, cv AS embedding FROM ${duckIvfCents(2)}),
      ${duckIvfCtesOn("centtbl", 3, 2, 64, "co")},
      live AS (SELECT DISTINCT cid FROM coa3),
      lvl1_sc AS (SELECT e.vec_id, e.embedding, c.cid AS ccid,
          ${duckCos("e.embedding", "c.cv")} AS cos
        FROM embeddings e,
          (SELECT co.cid, co.cv FROM coc2 co JOIN live l ON l.cid = co.cid) c),
      lvl1p AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
          ORDER BY cos DESC, ccid) AS rn FROM lvl1_sc),
      home AS (SELECT vec_id, ccid FROM lvl1p WHERE rn = 1),
      probe AS (SELECT vec_id, embedding, ccid FROM lvl1p WHERE rn <= 2),
      lvl2_sc AS (SELECT p.vec_id, f.cid,
          ${duckCos("p.embedding", "f.cv")} AS cos
        FROM probe p JOIN coa3 m ON m.cid = p.ccid
                     JOIN ${duckIvfCents(2)} f ON f.cid = m.vec_id),
      lvl2 AS (SELECT vec_id, cid FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
            ORDER BY cos DESC, cid) AS rn FROM lvl2_sc) t WHERE rn = 1)
      SELECT l.vec_id, h.ccid, l.cid, l.cid = a.cid AS agree
      FROM lvl2 l JOIN home h ON h.vec_id = l.vec_id
                  JOIN ${duckIvfFinal(2)} a ON a.vec_id = l.vec_id
      ORDER BY l.vec_id""")),

    // ---- q132 with SemDeDup's PAPER keep policy (arXiv:2303.09540 §3:
    // within each epsilon-ball keep the point with LOWEST cosine to the
    // cluster centroid — the "hardest" / most diverse example — where
    // q132 keeps the lowest id, the oracle-canonical form). Exactly the
    // q131-vs-q87 relationship: swap the keep PRIORITY, same plan. The
    // priority key is (assignment cos asc, vec_id asc); a vector is
    // dropped iff a cell-mate within tau precedes it in that order.
    // Deterministic on both engines because the cosine is the 6-dec
    // rounded assignment cosine both already replay. ----
    Q("q136_semdedup_keep_hard", (s, d) => q136Frame(s, d, k = 8), Some(s"""
      WITH ${duckIvfCtes(8, 2, 64)},
      asg AS (SELECT vec_id, embedding, cid, cos FROM ${duckIvfFinal(2)}),
      dropped AS (SELECT DISTINCT y.vec_id
        FROM asg x JOIN asg y ON x.cid = y.cid
          AND (x.cos < y.cos OR (x.cos = y.cos AND x.vec_id < y.vec_id))
        WHERE ${duckCos("x.embedding", "y.embedding")} >= 0.4)
      SELECT a.vec_id, a.cid, a.cos AS centroid_cos FROM asg a
      WHERE a.vec_id NOT IN (SELECT vec_id FROM dropped)
      ORDER BY a.vec_id""")),

    // ---- corpus-trained bigram LANGUAGE-MODEL predictability score —
    // the KenLM-shaped quality gate of real curation pipelines (score
    // each doc under an n-gram LM; outliers are boilerplate or garbage),
    // in the repo's LOG-FREE deterministic form: ln()/exp() are not
    // cross-engine-reproducible (the q89/q102 lesson), so the score is
    // the average add-one-smoothed bigram probability in ppm —
    // p(w2|w1) = (c12+1)/(c1+V), every term an exact integer ratio whose
    // IEEE division both engines round identically; per-bigram values
    // are 6-dec-rounded and summed as exact decimals (the Det.davg
    // convention), so the per-doc mean is order-independent and
    // bit-identical with ordinary partial aggregation (no ordered
    // collect_list re-agg needed). Scale shape: unigram/bigram counts
    // are partial-aggregated explodes (the q89 canonical vocabulary
    // join); scoring joins shuffle on the bigram key, where the counted
    // LM side is already collapsed to distinct bigrams — the small side
    // AQE broadcasts when it fits, the standard LM-scoring shape at
    // 100 TB (train on a sample, score everywhere). V rides a broadcast
    // cross join (one row). Docs with < 2 tokens emit no bigrams and
    // drop out identically in both engines. ----
    Q("q137_bigram_predictability", (s, d) => {
      val ws = TextOps.tokens(col("text"))
      val toks = docs(s, d).select(col("doc_id"), ws.as("ws"))
      val uni = toks.select(col("doc_id"), explode(col("ws")).as("w"))
      val vDf = uni.agg(countDistinct(col("w")).as("v"))
      val c1 = uni.groupBy(col("w").as("w1k")).agg(count(lit(1)).as("n1"))
      val bigrams = toks.select(col("doc_id"),
          explode(zip_with(
            slice(col("ws"), lit(1), size(col("ws")) - 1),
            slice(col("ws"), lit(2), size(col("ws")) - 1),
            (a, b) => struct(a.as("w1"), b.as("w2")))).as("bg"))
        .select(col("doc_id"), col("bg.w1"), col("bg.w2"))
      val c2 = bigrams.groupBy(col("w1").as("w1c"), col("w2").as("w2c"))
        .agg(count(lit(1)).as("n12"))
      val p = (col("n12") + lit(1.0)) / (col("n1") + col("v"))
      bigrams
        .join(c1, col("w1") === col("w1k"))
        .join(c2, col("w1") === col("w1c") && col("w2") === col("w2c"))
        .crossJoin(broadcast(vDf))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_bigrams"),
          round(sum(round(p * lit(1e6), 6).cast("decimal(24,6)"))
            .cast("double") / count(lit(1)), 6).as("avg_p_ppm"))
        .orderBy(col("doc_id"))
    }, Some(s"""
      WITH toks AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      uni AS (SELECT unnest(ws) AS w FROM toks),
      v AS (SELECT count(DISTINCT w) AS v FROM uni),
      c1 AS (SELECT w AS w1k, count(*) AS n1 FROM uni GROUP BY 1),
      bge AS (SELECT doc_id,
          unnest([ws[i] for i in generate_series(1, len(ws) - 1)]) AS w1,
          unnest([ws[i + 1] for i in generate_series(1, len(ws) - 1)]) AS w2
        FROM toks WHERE len(ws) >= 2),
      c2 AS (SELECT w1 AS w1c, w2 AS w2c, count(*) AS n12
             FROM bge GROUP BY 1, 2),
      sc AS (SELECT g.doc_id,
          round(((c2.n12 + 1.0) / (c1.n1 + v.v)) * 1e6, 6) AS pppm
        FROM bge g JOIN c1 ON c1.w1k = g.w1
                   JOIN c2 ON c2.w1c = g.w1 AND c2.w2c = g.w2
                   CROSS JOIN v)
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        round(CAST(sum(CAST(pppm AS DECIMAL(24, 6))) AS DOUBLE) / count(*), 6)
          AS avg_p_ppm
      FROM sc GROUP BY 1 ORDER BY doc_id""")),

    // ---- hard-negative mining (contrastive-training data op): for each
    // anchor vector, the top-5 most-cosine-similar vectors carrying a
    // DIFFERENT label. IVF-bucketed, never all-pairs: candidates are
    // keyed by their home cell (map-side bestCell — no join to build),
    // anchors probe their top-2 cells (the q68 multi-probe recall knob,
    // here applied to EVERY row), and the only pairwise work is the
    // per-cell join — ~nprobe·n²/k scored pairs instead of n². The
    // per-anchor cut runs through the bounded TopKScored aggregate, so
    // the selection partial-aggregates map-side and the anchor exchange
    // moves ≤ 5 rows per (anchor, task) — a window row_number() here
    // would shuffle every scored pair to the anchor's partition first.
    // A candidate lives in exactly one home cell, so no (anchor, neg)
    // pair is scored twice. Determinism: min-k under the total
    // (-cosine, neg_id) order is partition-independent; the oracle
    // replays it as a ROW_NUMBER window over the same bucketed pairs.
    // At corpus-scale k (the dial table's k ≈ n/250 regime, where the
    // flat per-row k-cosine probe stops being sane), the composition is
    // mechanical: assign candidates via Ivf.assignTwoLevel (identical
    // (cid) semantics up to the measured IVF approximation) and take
    // anchor probes from the two-level ranked coarse cells — the
    // oracle-scale form here keeps the exact flat probe so the DuckDB
    // replay stays closed-form. ----
    Q("q138_hard_negatives",
      (s, d) => hardNegatives(s, d, ivfCents(s, d), nprobe = 2, kTop = 5),
      Some(s"""
      WITH ${duckIvfCtes(8, 2, 64)},
      probe_sc AS (SELECT e.vec_id AS qid, e.label AS qlabel,
          e.embedding AS qv, c.cid, ${duckCos("e.embedding", "c.cv")} AS cos
        FROM embeddings e, ${duckIvfCents(2)} c),
      probe AS (SELECT qid, qlabel, qv, cid FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rn
          FROM probe_sc) t WHERE rn <= 2),
      cand AS (SELECT a.vec_id AS neg_id, e.label AS nlabel,
          a.embedding AS nv, a.cid
        FROM ${duckIvfFinal(2)} a JOIN embeddings e ON e.vec_id = a.vec_id),
      pairs AS (SELECT p.qid, c.neg_id, ${duckCos("p.qv", "c.nv")} AS cosine
        FROM probe p JOIN cand c ON p.cid = c.cid
        WHERE p.qlabel <> c.nlabel AND p.qid <> c.neg_id)
      SELECT qid AS anchor_id, neg_rank, neg_id, cosine FROM (
        SELECT qid, neg_id, cosine,
          ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, neg_id)
            AS neg_rank
        FROM pairs) t
      WHERE neg_rank <= 5
      ORDER BY anchor_id, neg_rank"""), bench = true),

    // ---- Johnson–Lindenstrauss random-projection prefilter with exact
    // rerank: project every embedding to 16 dims through md5-derived
    // hyperplanes (the JL lemma preserves pairwise distances within
    // 1±ε, so projected-L2 ranking is a faithful shortlist signal),
    // take the stage-1 top-50 by projected distance, then rerank ONLY
    // the shortlist by exact cosine. Scale shape: the projection is one
    // map-side codegen'd expression (16 literal-plane dots — a 4×
    // per-row arithmetic cut vs full-dim scoring, and the same trick
    // cuts 4096-dim production embeddings 100×+); stage 1 is
    // TakeOrdered (per-partition top-50 partials, never a global
    // sort); stage 2 reads exactly 50 rows via In-pushdown point
    // lookups (q119's two-stage pattern). The projected column
    // composes with the IVF/LSH operators for the banded scale path —
    // here stage 1 is the q46-analogue brute baseline over 16 dims.
    // Planes are TextOps.hyperplane (md5-derived) so the oracle
    // replays the projection bit-for-bit; per-coordinate rounding to 6
    // keeps the fold cross-engine exact. ----
    Q("q139_jl_projection_rerank", (s, d) => {
      val pdim = 16
      val planes = (0 until pdim).map(j => TextOps.hyperplane(200 + j, 64))
      def projArr(v: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
        array(planes.map(p =>
          round(TextOps.dot(v, array(p.map(lit): _*)), 6)): _*)
      val e = embs(s, d)
      val qp = e.filter(col("vec_id") === 1)
        .select(projArr(col("embedding")).as("qp"))
      val shortlist = e.filter(col("vec_id") =!= 1)
        .select(col("vec_id"), projArr(col("embedding")).as("pr"))
        .crossJoin(broadcast(qp))
        .select(col("vec_id"),
          round(aggregate(
            zip_with(col("pr"), col("qp"), (a, b) => (a - b) * (a - b)),
            lit(0.0), (acc, x) => acc + x), 6).as("projl2"))
        .orderBy(col("projl2"), col("vec_id")).limit(50)
        .collect().map(_.getLong(0)).toSeq
      val qvLit = array(queryVec(s, d, qid = 1).map(lit): _*)
      e.filter(col("vec_id").isin(shortlist: _*))
        .select(col("vec_id"),
          TextOps.cosine(col("embedding"), qvLit).as("cosine"))
        .orderBy(col("cosine").desc, col("vec_id")).limit(10)
    }, Some {
      def duckProj(emb: String, p: Int): String =
        s"""round(list_sum([$emb[i]::DOUBLE *
          ((CAST(concat('0x', substr(md5('${p}_' || (i-1)), 1, 8)) AS BIGINT)
            % 2001) - 1000) / 1000.0
          for i in generate_series(1, len($emb))]), 6)"""
      s"""
      WITH pe AS (SELECT vec_id, embedding,
          [${(0 until 16).map(j => duckProj("embedding", 200 + j)).mkString(",\n           ")}]
            AS pr
        FROM embeddings),
      q AS (SELECT embedding AS qv, pr AS qp FROM pe WHERE vec_id = 1),
      dists AS (SELECT pe.vec_id,
          round(list_sum([(pe.pr[i] - q.qp[i]) * (pe.pr[i] - q.qp[i])
                          for i in generate_series(1, 16)]), 6) AS projl2
        FROM pe, q WHERE pe.vec_id <> 1),
      short AS (SELECT vec_id FROM dists ORDER BY projl2, vec_id LIMIT 50)
      SELECT e.vec_id, ${duckCos("e.embedding", "q.qv")} AS cosine
      FROM embeddings e JOIN short USING (vec_id), q
      ORDER BY cosine DESC, vec_id LIMIT 10"""
    }),

    // ---- per-source quality calibration (ECDF normalization): raw
    // quality scores are incomparable across heterogeneous sources (a
    // 0.6 from a curated source ≠ a 0.6 from a crawl), so a global
    // quality cut systematically starves some sources; the standard fix
    // is to rank-normalize WITHIN source and cut on the percentile.
    // Scale shape: the score is quantized onto an integer 10⁴-step
    // grid (`floor(round(score, 6)·10⁴)` — round-6 is the proven
    // cross-engine-identical form, and floor of the identical product
    // has no half-up tie boundary the way a round(·, 4) would), so the
    // per-(source, grid) histogram is ≤ 10⁴ rows per source BY
    // CONSTRUCTION regardless of corpus size — the ECDF windows run
    // over that bounded histogram (one tiny exchange), never over the
    // corpus, and the calibrated percentiles broadcast-join back onto
    // the map side. The corpus itself is scored map-side and shuffles
    // only into the histogram group-by's partial-aggregated exchange.
    // A per-source window over raw docs — the naive form — would give
    // the hottest source's whole corpus to one task. ----
    Q("q140_quality_calibrate", (s, d) => {
      val ws = TextOps.tokens(col("text"))
      val scored = docs(s, d).select(col("doc_id"), col("source"),
        floor(round(lit(0.3) * (size(filter(ws, w => w.isin("the", "a"))) / size(ws)) +
          lit(0.7) * least(size(ws), lit(200)) / 200.0, 6) * 1e4).as("qgrid"))
      val hist = scored.groupBy(col("source"), col("qgrid"))
        .agg(count(lit(1)).as("n"))
      val cum = Window.partitionBy(col("source")).orderBy(col("qgrid"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val tot = Window.partitionBy(col("source"))
      val cal = hist
        .withColumn("cumn", sum(col("n")).over(cum))
        .withColumn("total", sum(col("n")).over(tot))
        .select(col("source").as("csource"), col("qgrid").as("cqgrid"),
          round(col("cumn") / col("total"), 6).as("pct"))
      scored.join(broadcast(cal),
          col("source") === col("csource") && col("qgrid") === col("cqgrid"))
        .select(col("doc_id"), col("source"), col("qgrid"), col("pct"))
        .orderBy(col("doc_id"))
    }, Some("""
      WITH scored AS (SELECT doc_id, source,
          CAST(floor(round(
            0.3 * (len(list_filter(string_split(text, ' '), w -> w IN ('the', 'a')))
                   / len(string_split(text, ' ')))
            + 0.7 * least(len(string_split(text, ' ')), 200) / 200.0, 6) * 10000)
            AS BIGINT) AS qgrid
        FROM documents),
      hist AS (SELECT source, qgrid, count(*) AS n FROM scored GROUP BY 1, 2),
      cal AS (SELECT source, qgrid,
          round(sum(n) OVER (PARTITION BY source ORDER BY qgrid
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            / (sum(n) OVER (PARTITION BY source)), 6) AS pct
        FROM hist)
      SELECT s.doc_id, s.source, s.qgrid, c.pct
      FROM scored s JOIN cal c ON c.source = s.source AND c.qgrid = s.qgrid
      ORDER BY s.doc_id""")),

    // ---- DSIR-style data selection via importance resampling (Xie et
    // al., arXiv:2302.03169): score every raw doc by how target-like
    // its hashed-n-gram profile is, then sample proportionally to the
    // importance weight. Features are bigrams hashed into B=1024
    // buckets (md5-derived so the oracle replays the hash); the target
    // distribution is the `lang='en'` slice, the raw distribution the
    // whole corpus; both are add-1-smoothed bucket frequencies. The
    // paper's weight is Σ log(p_t[b]/p_r[b]) — ln() is not
    // cross-engine-reproducible (the q49/q137 precedent), so the
    // shipped score is the repo's LOG-FREE form: the ARITHMETIC mean of
    // the per-occurrence likelihood ratios (round-6 per term, exact
    // decimal sum), which preserves the "target-like features ⇒ high
    // weight" selection signal without a transcendental. The resample
    // is likewise log-free: instead of Gumbel-top-k (log again),
    // Bernoulli sampling with keep probability imp/rmax — u·rmax <
    // imp, where u is an md5-derived uniform (exact 24-bit fraction)
    // and rmax the max bucket ratio (an upper bound on any doc's mean,
    // so the probability is well-formed) — the Poisson-sampling
    // variant of importance resampling. Scale shape: the bucket table
    // is ≤B rows BY CONSTRUCTION (the feature agg partial-aggregates
    // into ≤B groups per task before its tiny exchange) and
    // broadcast-joins back; ratios are computed in double from the
    // start (long products of corpus-scale counts would overflow; the
    // IEEE multiply/divide chain is identically rounded in both
    // engines); the only corpus-sized exchange is the per-doc score
    // agg over narrow (doc_id, ratio) rows. Docs with <2 tokens have
    // no features and drop out, as in the paper's n-gram model. ----
    Q("q141_dsir_resample", (s, d) => {
      val nB = 1024
      val ws = TextOps.tokens(col("text"))
      val toks = docs(s, d).select(col("doc_id"), col("lang"), ws.as("ws"))
      val feats = toks.select(col("doc_id"), col("lang"),
        explode(zip_with(
          slice(col("ws"), lit(1), size(col("ws")) - 1),
          slice(col("ws"), lit(2), size(col("ws")) - 1),
          (a, b) => conv(substring(md5(concat(lit("dsir|"), a, lit("|"), b)),
            1, 8), 16, 10).cast("long") % nB)).as("b"))
      val tot = feats.agg(
        sum(when(col("lang") === "en", 1L).otherwise(0L)).as("nt"),
        count(lit(1)).as("nr"))
      val ratio = feats.groupBy(col("b").as("bb"))
        .agg(sum(when(col("lang") === "en", 1L).otherwise(0L)).as("bt"),
          count(lit(1)).as("br"))
        .crossJoin(broadcast(tot))
        .select(col("bb"), round(
          (col("bt").cast("double") + 1.0) * (col("nr").cast("double") + nB) /
          ((col("br").cast("double") + 1.0) * (col("nt").cast("double") + nB)),
          6).as("ratio"))
      val rmax = ratio.agg(max(col("ratio")).as("rmax"))
      val u = (conv(substring(md5(concat(lit("dsirk|"),
          col("doc_id").cast("string"))), 1, 8), 16, 10).cast("long")
        % 16777216L).cast("double") / 16777216.0
      feats.join(broadcast(ratio), col("b") === col("bb"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_feats"),
          round(sum(col("ratio").cast("decimal(24,6)")).cast("double") /
            count(lit(1)), 6).as("imp"))
        .crossJoin(broadcast(rmax))
        .filter(u * col("rmax") < col("imp"))
        .select(col("doc_id"), col("n_feats"), col("imp"))
        .orderBy(col("doc_id"))
    }, Some("""
      WITH toks AS (SELECT doc_id, lang, string_split(text, ' ') AS ws
                    FROM documents),
      bge AS (SELECT doc_id, lang,
          CAST(concat('0x', substr(md5('dsir|' || w1 || '|' || w2), 1, 8))
            AS BIGINT) % 1024 AS b
        FROM (SELECT doc_id, lang,
            unnest([ws[i] for i in generate_series(1, len(ws) - 1)]) AS w1,
            unnest([ws[i + 1] for i in generate_series(1, len(ws) - 1)]) AS w2
          FROM toks WHERE len(ws) >= 2)),
      tot AS (SELECT sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS nt,
          count(*) AS nr FROM bge),
      ratio AS (SELECT b AS bb, round(
          (CAST(bt AS DOUBLE) + 1.0) * (CAST(nr AS DOUBLE) + 1024) /
          ((CAST(br AS DOUBLE) + 1.0) * (CAST(nt AS DOUBLE) + 1024)), 6)
            AS ratio
        FROM (SELECT b, sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS bt,
            count(*) AS br FROM bge GROUP BY 1), tot),
      rmax AS (SELECT max(ratio) AS rmax FROM ratio),
      sc AS (SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_feats,
          round(CAST(sum(CAST(CAST(r.ratio AS VARCHAR) AS DECIMAL(24, 6)))
            AS DOUBLE) / count(*), 6) AS imp
        FROM bge g JOIN ratio r ON r.bb = g.b GROUP BY 1)
      SELECT doc_id, n_feats, imp FROM sc, rmax
      WHERE (CAST(concat('0x', substr(md5('dsirk|' || CAST(doc_id AS VARCHAR)),
          1, 8)) AS BIGINT) % 16777216) / 16777216.0 * rmax < imp
      ORDER BY doc_id""")),

    // ---- margin-based pair mining (Artetxe & Schwenk ratio margin,
    // arXiv:1811.01136 — the bitext-mining criterion, equally the
    // standard for image↔caption pair mining): a candidate pair is
    // accepted not on raw cosine but on cosine NORMALIZED by both
    // endpoints' neighborhood density — margin = cos(x,y) / ((avgNN_k(x)
    // + avgNN_k(y))/2) — which suppresses hub vectors that are close to
    // everything. Sides are the deterministic even/odd vec_id split
    // (two embedding spaces of one corpus). Candidate generation is the
    // q138 IVF shape: candidates keyed by home cell map-side, anchors
    // probe their top-2 cells, the only pairwise work is the per-cell
    // join (~nprobe·n²/k pairs, never all-pairs), per-side norms
    // precomputed. Each endpoint's avgNN_k runs over its CANDIDATE
    // neighBORS (the ANN-candidate approximation of true kNN, as in
    // production margin mining) through the bounded TopKScored
    // aggregate — map-side partials move ≤k rows per (vector, task),
    // never a per-pair window sort — then explode + Det-style decimal
    // mean (the explode preserves the agg's hash partitioning: no
    // extra exchange). Normalizer tables are one narrow row per
    // vector, shuffle-joined back onto the pairs on their keys; the
    // best pair per anchor is a struct-max agg (margin desc, ties →
    // lowest tgt_id), accepted at the standard margin > 1 cut. ----
    Q("q142_bitext_margin", (s, d) => marginMining(s, d, ivfCents(s, d)),
      Some(q142OracleSql)),

    // ---- bootstrapped quality classifier (the CCNet/GPT-3 curation
    // archetype, Wenzek et al. arXiv:1911.00359 §4.4): train a
    // discriminative token model from CHEAP HEURISTIC labels on a train
    // split, then score the ENTIRE corpus with it — the step that turns
    // a hand-rule gate into a learned filter. Labels bootstrap from the
    // q97 gate (per-source type-token-ratio percent-rank ≥ 0.5) over
    // the doc_id%5≠0 split; the model is per-token add-1-smoothed class
    // posteriors over HASHED features — fastText's own hashing trick
    // (Joulin et al. arXiv:1607.01759: features live in a fixed table
    // of 2²⁰ md5 buckets), which makes the MODEL bounded BY
    // CONSTRUCTION regardless of corpus vocabulary (the q140-grid /
    // q141-bucket house pattern). The fastText-shaped score
    // Σ log(p(b|pos)/p(b|neg)) is a transcendental — not cross-engine-
    // reproducible (the q137/q141 precedent) — so the shipped score is
    // the repo's LOG-FREE form: each token contributes its bucket's
    // 6-dec-rounded posterior P(pos|b) = (cp+1)/(cp+cn+2) (an exact
    // integer ratio both engines divide identically; an unseen bucket
    // contributes the 0.5 prior), and the doc score is the exact-mean
    // posterior. The keep cut is the voting scorer's actual decision
    // boundary — the positive-class prior at token-OCCURRENCE level
    // (a fixed 0.5 would be the boundary only for a balanced corpus).
    //
    // Scale shape — train once, apply map-side: training runs the label
    // window (partitioned by source, never a global sort) and one
    // bounded aggregation (≤2²⁰ groups per task by construction), then
    // the ≤2²⁰-bucket posterior table collects ONCE into a 4 MB dense
    // array ([[graft.functions.ClfModel]], the IVF-centroid / PQ-
    // codebook artifact class) and rides a torrent broadcast. Scoring
    // is a single map-side projection — per doc, ONE native expression
    // over its token array ([[graft.functions.DocMeanPosterior]]) with
    // exact long-micros summation; the corpus is never exploded,
    // joined, or shuffled to apply the model. (Both join-shaped
    // alternatives were MEASURED worse at 1000×: vocab-side SMJ sorts
    // the 2.5G-row token stream — 3.0 GB spill — and even shuffle-hash
    // leaves the post-join per-doc re-agg hashing 5M groups/task,
    // 1.6 GB spill. The compositional join twin is kept as
    // [[Clf.joinForm]], bit-parity spec-locked.) ----
    Q("q143_quality_classifier", (s, d) => Clf.modelForm(s, d), Some("""
      WITH t AS (SELECT doc_id, source, string_split(text, ' ') AS ws
                 FROM documents),
      tr AS (SELECT doc_id, source, ws,
               len(list_distinct(ws)) / len(ws) AS ttr
             FROM t WHERE doc_id % 5 <> 0),
      lab AS (SELECT doc_id, ws,
               (percent_rank() OVER (PARTITION BY source ORDER BY ttr)
                 >= 0.5) AS pos
             FROM tr),
      occ AS (SELECT CAST(concat('0x', substr(md5('clf|' || w), 1, 8))
                 AS BIGINT) % 1048576 AS b, pos
             FROM (SELECT unnest(ws) AS w, pos FROM lab)),
      vocab AS (SELECT b AS vb, round(
               (CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS DOUBLE) + 1.0)
                 / (CAST(count(*) AS DOUBLE) + 2.0), 6) AS q
             FROM occ GROUP BY 1),
      prior AS (SELECT round(
               (CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS DOUBLE) + 1.0)
                 / (CAST(count(*) AS DOUBLE) + 2.0), 6) AS prior FROM occ),
      sc AS (SELECT e.doc_id, coalesce(v.q, 0.5) AS q
             FROM (SELECT doc_id,
                     CAST(concat('0x', substr(md5('clf|' || w), 1, 8))
                       AS BIGINT) % 1048576 AS b
                   FROM (SELECT doc_id, unnest(ws) AS w FROM t)) e
             LEFT JOIN vocab v ON v.vb = e.b),
      agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_toks,
               round(CAST(sum(CAST(CAST(q AS VARCHAR) AS DECIMAL(24, 6)))
                 AS DOUBLE) / count(*), 6) AS clf_score
             FROM sc GROUP BY 1)
      SELECT doc_id, n_toks, clf_score, clf_score >= prior AS is_kept
      FROM agg, prior ORDER BY doc_id""")),

    // ---- sampled corpus statistics with a margin of error — the
    // reference's error-propagation pillar applied to pipeline-scale
    // estimation: at 100 TB you steer (token budgets, mixture weights,
    // cost forecasts) from a SAMPLE, and the sample estimate must carry
    // its uncertainty exactly the way the census surface carries MOEs.
    // Each doc enters a Poisson sample with probability p via the md5
    // uniform (q141's sampler); the Horvitz–Thompson estimate of the
    // corpus token total is Σx/p with the Poisson-sampling variance
    // Var = (1−p)/p² · Σx² (Särndal et al., Model Assisted Survey
    // Sampling, §3.2 — every term an exact integer sum), reported as an
    // ACS-style 90% margin m90 = 1.645·√Var — the same z-divisor the
    // reference pins — and an RSE through the SAME [[AcsMath.rse]]
    // builder the census frame uses. The exact total rides along (at
    // test scale the truth is computable) so `within_m90` reads out
    // whether the 90% interval covered it. Scale shape: one global
    // aggregation over narrow longs, partial-aggregated map-side; the
    // sample never materializes; the corpus is scanned once. ----
    Q("q144_sampled_stats", (s, d) => {
      val p = 0.2
      val x = size(TextOps.tokens(col("text"))).cast("long")
      val u = (conv(substring(md5(concat(lit("samp|"),
          col("doc_id").cast("string"))), 1, 8), 16, 10).cast("long")
        % 16777216L).cast("double") / 16777216.0
      docs(s, d)
        .select(col("doc_id"), x.as("x"), (u < p).as("in_s"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("in_s"), 1L).otherwise(0L)).as("n_sampled"),
          sum(col("x")).as("exact_total"),
          sum(when(col("in_s"), col("x")).otherwise(0L)).as("sx"),
          sum(when(col("in_s"), col("x") * col("x")).otherwise(0L)).as("sx2"))
        .select(col("n_docs"), col("n_sampled"), col("exact_total"),
          round(col("sx") / p, 6).as("t_hat"),
          round(lit(1.645) *
            sqrt(col("sx2") * (1.0 - p) / (p * p)), 6).as("t_m90"))
        .select(col("n_docs"), col("n_sampled"), col("exact_total"),
          col("t_hat"), col("t_m90"),
          round(graft.functions.AcsMath.rse(col("t_hat"), col("t_m90")), 6)
            .as("t_rse"),
          (abs(col("t_hat") - col("exact_total")) <= col("t_m90"))
            .as("within_m90"))
    }, Some("""
      WITH b AS (SELECT doc_id, len(string_split(text, ' ')) AS x,
          ((CAST(concat('0x', substr(md5('samp|' || CAST(doc_id AS VARCHAR)),
              1, 8)) AS BIGINT) % 16777216) / 16777216.0 < 0.2) AS in_s
        FROM documents),
      a AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
          CAST(sum(CASE WHEN in_s THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
          CAST(sum(x) AS BIGINT) AS exact_total,
          CAST(sum(CASE WHEN in_s THEN x ELSE 0 END) AS BIGINT) AS sx,
          CAST(sum(CASE WHEN in_s THEN x * x ELSE 0 END) AS BIGINT) AS sx2
        FROM b),
      e AS (SELECT n_docs, n_sampled, exact_total,
          round(sx / 0.2, 6) AS t_hat,
          round(1.645 * sqrt(sx2 * (1.0 - 0.2) / (0.2 * 0.2)), 6) AS t_m90
        FROM a)
      SELECT n_docs, n_sampled, exact_total, t_hat, t_m90,
        round(t_m90 / 1.645 / t_hat * 100, 6) AS t_rse,
        abs(t_hat - exact_total) <= t_m90 AS within_m90
      FROM e""")),

    // ---- exact substring dedup at ARBITRARY alignment (Lee et al.
    // arXiv:2107.06499, the ExactSubstr dedup of "Deduplicating
    // Training Data Makes Language Models Better"): q94's chunk dedup
    // only catches spans that land on its fixed 10-token grid; the real
    // operator marks EVERY position whose K-token window repeats
    // anywhere in the corpus, keeps the corpus-wide first occurrence,
    // and removes the union of the duplicated windows from everything
    // else. The paper builds a suffix array; the Spark-first shape is
    // seed-and-mark over sliding K-grams: (1) every doc emits its
    // n−K+1 positional gram hashes; (2) first-occurrence per gram is a
    // partial-aggregated min(struct(doc_id, pos)) — an ordinary
    // two-phase agg, NEVER a corpus-wide window, so a boilerplate gram
    // repeated 10⁶ times collapses map-side instead of sorting into one
    // task; only grams with count ≥ 2 survive the filter, a
    // zipfian-bounded table; (3) the gram stream joins back on the hash
    // (AQE picks broadcast/shuffle-hash — each occurrence matches
    // exactly one first, no pair explosion, which is why this scales
    // where pairwise comparison cannot); (4) duplicate positions gather
    // per doc (bounded by doc length) and the covered-token union,
    // surviving tokens, and fingerprint are pure per-row array
    // expressions. K=8 here; the paper's production dial is ~50. ----
    Q("q145_exact_substring", (s, d) => exactSubstr(s, d, 8), Some(s"""
      WITH t AS (SELECT doc_id, $duckWords ws FROM documents),
      g0 AS (SELECT doc_id,
               [{'i': i, 'chunk': array_to_string(ws[i+1:i+8], ' ')}
                for i in generate_series(0, len(ws) - 8)] gs
             FROM t WHERE len(ws) >= 8),
      g AS (SELECT doc_id, unnest(gs, recursive := true) FROM g0),
      gh AS (SELECT doc_id, i, ${duckHash32("chunk")} AS h FROM g),
      f AS (SELECT h, count(*) cnt,
              min(struct_pack(doc_id := doc_id, i := i)) fst
            FROM gh GROUP BY h HAVING count(*) >= 2),
      dup AS (SELECT gh.doc_id, list(gh.i) dp
              FROM gh JOIN f USING (h)
              WHERE NOT (gh.doc_id = f.fst.doc_id AND gh.i = f.fst.i)
              GROUP BY gh.doc_id),
      x AS (SELECT t.doc_id, ws, coalesce(dp, []) dp,
              list_distinct(flatten([range(p, p + 8) for p in coalesce(dp, [])])) cov
            FROM t LEFT JOIN dup ON dup.doc_id = t.doc_id),
      y AS (SELECT doc_id, ws, dp,
              list_filter(range(0, len(ws)), j -> NOT list_contains(cov, j)) surv
            FROM x)
      SELECT doc_id, CAST(len(ws) AS BIGINT) n_toks,
        CAST(len(dp) AS BIGINT) n_dup_pos,
        CAST(len(surv) AS BIGINT) n_kept,
        md5(coalesce(array_to_string([ws[j + 1] for j in surv], ' '), '')) fp
      FROM y ORDER BY doc_id""")),

    // ---- weighted damped PageRank over the supplier↔customer shipment
    // graph — the graph-authority primitive for source weighting (domain
    // authority over a crawl's link graph; here the testdata's natural
    // bipartite transaction graph, walked undirected via the symmetric
    // union so no dangling-mass handling is needed). VALUE propagation
    // where q128 is LABEL propagation: per round one share⋈rank join,
    // one partial-aggregated contribution sum, one left join onto the
    // node list — every round pinned and released (Dedup's checkpoint
    // discipline), shares normalized ONCE. Determinism: contributions
    // canonicalized at 9 decimals via the Det decimal-cast hop, summed
    // exactly; the oracle replays all 5 rounds as unrolled CTEs. ----
    Q("q146_pagerank", (s, d) => {
      val li = Tables(s, d, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
      val or = Tables(s, d, "orders").select(col("o_orderkey"), col("o_custkey"))
      val base = li.join(or, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_suppkey").as("sk"), col("o_custkey").as("ck"))
        .agg(count(lit(1)).as("w"))
      // customers offset into their own id space; symmetric union makes
      // the walk undirected (every node with an in-edge has an out-edge)
      val edges = base.select(col("sk").as("src"),
          (col("ck") + lit(1000000L)).as("dst"), col("w"))
        .union(base.select((col("ck") + lit(1000000L)).as("src"),
          col("sk").as("dst"), col("w")))
      graft.operators.PageRank.run(edges, iters = 5)
        .orderBy(col("nid"))
    }, Some(q146OracleSql), bench = true),

    // ---- BM25 top-k retrieval — the ranked-retrieval primitive of a
    // curation stack (query-driven corpus audit, retrieval-based decon
    // review). The whole model is THREE scalars per term (N, avg length,
    // df) from ONE map-side-combined corpus pass; scoring is then a
    // single projection (per-term tf via array filters — no explode, no
    // postings shuffle, no join: the query set rides the plan as
    // literals, at production scale a broadcast), and per-query top-k
    // uses the bounded TopKScored aggregate (q138's) — no global sort.
    // idf is the Robertson rational form WITHOUT the log: ln() is not
    // cross-engine-reproducible (the repo's log-free convention, see
    // q89/q137) and per-term monotonicity is unchanged. ----
    Q("q147_bm25_topk", (s, d) => bm25TopK(s, d), Some(q147OracleSql),
      bench = true),

    // ---- PMI collocation mining — phrase discovery for tokenizer vocab
    // curation (the classic "new york"/"machine learning" detector).
    // Scores adjacent bigrams by the log-free PMI ratio
    // p(ab) / (p(a)·p(b)) (ln() is not cross-engine-reproducible and
    // the ranking is unchanged — the repo convention, see q89/q147).
    // Scale shape: bigrams are map-side array ops (zip_with, no window),
    // one partial-aggregated count shuffle each for bigrams and
    // unigrams, vocabulary-sized join keys only (the corpus never joins
    // itself), global top-k via TakeOrdered. The 6-dec canonicalization
    // is the decimal-cast hop, not round() — the engines' round()
    // disagree at exact .5 boundaries, which rational PMI values CAN
    // hit (the q146 lesson). ----
    Q("q148_pmi_collocations", (s, d) => pmiTopK(s, d), Some(q148OracleSql)),

    // ---- sliding-window chunking with overlap — the context-window
    // prep step of a RAG / pretraining pipeline: each doc becomes
    // ≤C-token chunks advancing by C−O tokens, token offsets preserved
    // so spans map back to the source; a tail window that adds no
    // tokens beyond the previous chunk's coverage is dropped (it would
    // be a strict suffix of its predecessor). Scale shape: PURE
    // map-side — sequence+explode per doc (fan-out ≈ n/(C−O) rows,
    // bounded by doc length, never corpus-dependent), slice/concat per
    // chunk; the only exchange is the output sort. C=64/O=16 here so
    // the oracle output stays sf-sized; STRESS_CHUNK times the same
    // code at a production dial. ----
    Q("q149_chunk_overlap", (s, d) => chunkOverlap(s, d, 64, 16), Some("""
      WITH t AS (SELECT doc_id,
               string_split(coalesce(text, ''), ' ') ws FROM documents),
      s0 AS (SELECT doc_id, ws, len(ws) n FROM t),
      e AS (SELECT doc_id, ws, n,
              unnest(generate_series(0, n - 1, 48)) g
            FROM s0)
      SELECT doc_id,
        CAST(g AS BIGINT) chunk_start,
        CAST(g // 48 AS BIGINT) chunk_idx,
        CAST(least(64, n - g) AS BIGINT) chunk_len,
        array_to_string(ws[g + 1:g + 64], ' ') chunk_text
      FROM e
      WHERE g = 0 OR n - g > 16
      ORDER BY doc_id, chunk_idx""")),

    // ---- hybrid retrieval: reciprocal-rank fusion of the q147 BM25
    // sparse ranking with a dense query-by-example cosine ranking —
    // the standard lexical+vector fusion of a RAG retrieval stack
    // (RRF, Cormack et al. SIGIR'09: score = Σ 1/(60+rank) over the
    // systems that retrieved the doc). Each qid carries a dense anchor
    // vector (its query-by-example exemplar, excluded from its own
    // dense list); doc_id ≡ vec_id in the testdata. Scale shape: both
    // rankings end in bounded top-k aggregates, so the fusion join and
    // final window re-rank touch ≤2·k·|Q| rows regardless of corpus
    // size; the dense pass is one map-side corpus scan against |Q|
    // broadcast anchors; every RRF term is one IEEE divide of exact
    // ints, bit-identical across engines with no rounding hop. ----
    Q("q150_hybrid_rrf", (s, d) => hybridRrf(s, d), Some(q150OracleSql)),

    // ---- per-source n-gram diversity profile — the corpus-health
    // readout behind mixture decisions: type-token ratio and trigram
    // diversity (distinct/total) expose template farms and
    // boilerplate-heavy sources before they skew training (a source
    // whose trigram diversity collapses is near-duplicated content the
    // doc-level dedup can't see). Scale shape: two corpus passes, each
    // explode → partial-aggregated count; the exact DISTINCT is a
    // map-side-deduped (source, gram) shuffle — at 100 TB swap
    // `countDistinct` for `approx_count_distinct` (HLL, one pass, no
    // pair shuffle); the exact form is kept here for the bit-exact
    // oracle. Ratios canonicalized via the decimal-cast hop (rational
    // values can land on .5 at 6 decimals — the q146/q148 lesson). ----
    Q("q151_ngram_diversity", (s, d) => ngramDiversity(s, d),
      Some(q151OracleSql)),

    // ---- edit-distance verified near-dup — the character-level
    // verifier of the dedup family: q43's MinHash-banded candidates
    // (bucket-bounded, never all-pairs) re-verified at Levenshtein
    // similarity ≥ 0.8 of the longer text. Catches the near-dups the
    // set-based verifiers miss-rank (token REORDERING leaves Jaccard
    // at 1.0 but edit distance sees it; small in-word typos shift
    // whole shingles but cost 1 char edit). Scale shape: bucket-local
    // verify (each text crosses the wire once per band, never per pair;
    // see [[editDistanceNearDup]]); the per-pair verify is the native
    // bit-parallel Myers kernel ([[graft.functions.EditDistance]],
    // O(len²/64) words instead of the builtin's O(len²) decoded cells —
    // measured 524 s → seconds on the 10× clique corpus' 314k
    // candidates) behind a length gate, bounded at the distance cap. ----
    Q("q152_edit_distance_neardup", (s, d) => editDistanceNearDup(s, d),
      Some(q152OracleSql), bench = true),

    // ---- q157: q152's verify at SUB-QUADRATIC cost — each bucket
    // member verifies against the bucket-minimum REPRESENTATIVE only
    // (b−1 Myers calls per bucket instead of ~b²/2), and connected
    // components absorb transitivity downstream. The scale dial for
    // extreme clone cardinality: a 1000-member clique bucket costs 999
    // kernel calls where the pairwise form pays ~500k. Every emitted
    // edge is still an exact verified pair (precision 1), so rep
    // components refine the pairwise form's — equal on clone cliques
    // (spec-locked). Scale shape (id-join): ids-only banding,
    // min-per-bucket partial agg (no text in any aggregation buffer —
    // executor memory flat at any clone cardinality), ≤Σ(b−1) distinct
    // pairs before texts move, texts shuffle exactly twice, codegen'd
    // scalar Myers verify; measured 75.5 s warm / zero spill at
    // 1000×/5M docs on the default heap where pairwise is infeasible
    // (10.8e9 DP calls). ----
    Q("q157_edit_neardup_rep", (s, d) => editDistanceNearDupRep(s, d),
      Some(q157OracleSql), bench = true),

    // ---- q158: the claim q157 rests on, oracle-checked end-to-end —
    // "CC absorbs transitivity": connected components over the O(b)
    // rep-verified edges yield the dedup keep-list (rep = component
    // minimum, keep the smallest id per near-dup cluster). The DuckDB
    // oracle replays the rep edges AND the reachability closure as
    // recursive CTEs, so the sub-quadratic path's final artifact — not
    // just its edge set — is bit-checked. Scale shape: q157's id-join
    // verify + q128's O(log n) star rounds, both audited above. ----
    Q("q158_edit_neardup_rep_keep", (s, d) => {
      val e0 = editDistanceNearDupRep(s, d)
        .select(col("doc_a").as("src"), col("doc_b").as("dst"))
      val edges = e0.union(e0.select(col("dst").as("src"), col("src").as("dst")))
      graft.operators.Dedup.connectedComponents(docs(s, d), edges)
        .orderBy(col("doc_id"))
    }, Some(q158OracleSql)),

    // ---- q155: Unicode-canonical exact dedup — q40's exact dedup run
    // AFTER canonicalization: NFC normalization (native expression —
    // composed U+00E9 and decomposed e+U+0301 are the same document),
    // casefold, whitespace collapse, trim. Catches the phantom
    // "variants" raw-byte hashing can't see (the standard first stage
    // of a web-corpus dedup cascade, before MinHash ever runs). Scale
    // shape: identical to q40 — the canonical key is one map-side
    // projection; the dedup is one partial-aggregated groupBy (clone
    // classes collapse map-side); no new exchange vs raw exact dedup. ----
    Q("q155_canonical_dedup", (s, d) => {
      // the md5 fp IS the output key — group on it directly (r19, guide
      // §2.3): the exchange carries 32 fp chars per class instead of
      // the full normalized text (q87's fp-collapse discipline)
      spreadForKernels(docs(s, d))
        .select(col("doc_id"), TextOps.canonicalKey(col("text")).as("fp"))
        .groupBy(col("fp"))
        .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_variants"))
        .select(col("doc_id"), col("fp"), col("n_variants"))
        .orderBy(col("doc_id"))
    }, Some("""
      WITH c AS (SELECT doc_id,
          trim(regexp_replace(lower(nfc_normalize(text)), '\s+', ' ', 'g')) AS c
        FROM documents)
      SELECT min(doc_id) AS doc_id, md5(c) AS fp, count(*) AS n_variants
      FROM c GROUP BY c ORDER BY doc_id""")),

    // ---- q160: the END-TO-END pretrain-prep DAG, composed as ONE
    // oracle-gated query (VERDICT r13 #1 / BASELINE.json.north_star).
    // Every stage is an individually-green operator; this runs them as
    // the composition a real user ships, each stage consuming the PRIOR
    // stage's survivors (so e.g. the quality gate's per-source
    // percent_rank is computed over the decontaminated population, not
    // the raw corpus — different values than standalone q97, by design):
    //   1. canonical exact dedup        (q155 semantics)
    //   2. near-dup fixpoint keep-list  (q87: banded MinHash → verified
    //      Jaccard ≥ 0.5 edges → min-label fixpoint — over stage-1
    //      survivors, so the exact-collapse pre-pass is unnecessary:
    //      canonicalization already merged every raw-identical text)
    //   3. n-gram decontamination       (q101: eval suite = 8-grams of
    //      the doc_id%10==7 docs of the FULL corpus — an eval set is
    //      external and never shrinks because training docs were deduped;
    //      bloom prune map-side, exact verify on survivors)
    //   4. per-source quality gate      (q97: TTR percent_rank ≥ 0.5
    //      within the gated population)
    //   5. temperature-mixture materialize (q124's mixtureCut: sqrt-
    //      weight token targets from a Q160Budget token budget,
    //      md5-ordered running cut)
    //   6. stratified train/val/test split (q133's stratifiedSplit:
    //      exact ceil quotas in content-keyed order)
    //   7. sequence packing PER SPLIT   (q95's sequencePack: 512-token
    //      sequences in doc_id order within each split)
    // Stage boundaries are pinned (localCheckpoint manifests — ids-only
    // until the slim signal frame exists), exactly the materialization
    // discipline a 100 TB pipeline uses between stages; see
    // graft.Stress STRESS_PRETRAIN_E2E for the per-stage wall/shuffle/
    // spill attribution at 1000×. The DuckDB oracle replays the whole
    // chain (recursive-CTE fixpoint for stage 2). ----
    Q("q160_pretrain_e2e", (s, d) => q160Frame(s, d, Q160Budget),
      Some(q160OracleSql(Q160Budget)), bench = true),

    // ---- q161: the SAME composed DAG with stage 2 in its 100 TB-
    // DEFAULT form — rep-anchored near-dup edges (bucket-minimum
    // verify, b−1 calls and ≤4 edges per doc; clique-safe where the
    // pairwise form's edge set is ~b²/2 per near-dup clique). q160
    // oracle-pins the exact-fixpoint semantics; this pins the shape
    // you actually ship on clique-heavy corpora, so BOTH forms are
    // cross-engine hash-gated, not just stress-measured. Divergence
    // channel is over-keep only (ST11c contract; QueriesSpec asserts
    // rep survivors ⊇ pairwise survivors). ----
    Q("q161_pretrain_e2e_rep",
      (s, d) => q160Frame(s, d, Q160Budget, repAnchoredNearDup = true),
      Some(q160OracleSql(Q160Budget, duckRepEdgesCtesOf("d1"))),
      bench = true)
  )

  /** Rep-anchored verified near-dup edges over a (doc_id, text, ...)
    * frame, in the q157 ID-JOIN discipline: band IDS ONLY (no shingle
    * payload rides the 4×-corpus band explode), bucket-minimum rep via
    * a partial-aggregated min, distinct (doc, rep) id pairs BEFORE any
    * shingle set moves, then ONE shingle-set join per side feeding the
    * codegen'd merge-scan Jaccard verify (≥ 0.5). Emits both
    * directions. Edge SET is identical to deriving them from
    * [[graft.streaming.DocsStream.nearDupVerifiedBatch]] (spec-locked)
    * — this form exists because the payload-carrying twin moves ~5
    * shingle-set copies per doc where this moves 2 (measured at the
    * 1000× e2e ladder: the stage-2 prepare's shuffle AND its spill live
    * here).
    */
  private[graft] def repAnchoredEdges(docsDf: DataFrame): DataFrame = {
    import graft.operators.Dedup
    // both the band keys and the shingle payloads come from [[edgeBase]]
    // (Catalyst column-prunes the unused column from each branch)
    val base = edgeBase(docsDf)
    // the rep groupBy's (band, bkey) exchange and the rep join's are
    // identical subplans — ReuseExchange dedupes the banding pass
    val pairs = Dedup.repPairs(Dedup.bandRows(base, Seq("doc_id")))
      .select(col("doc_id").as("doc_a"), col("rep").as("doc_b")).distinct()
    val ver = Dedup.verifyPairs(pairs, base, Dedup.jaccardAtLeast(0.5))
      .select(col("doc_a").as("src"), col("doc_b").as("dst"))
    ver.union(ver.select(col("dst").as("src"), col("src").as("dst")))
  }

  /** q160/q161 stage 1's survivor ids: the minimum doc_id of each
    * canonical text class (q155). Groups on the 128-bit md5 of the
    * canonical form, not the form itself (r19, guide §2.3 shuffle fewer
    * bytes): the exchange carries 32 fp chars per class instead of the
    * full normalized TEXT — q87's accepted fp-collapse discipline.
    */
  private def canonicalSurvivorIds(all: DataFrame): DataFrame =
    all.select(col("doc_id"), TextOps.canonicalKey(col("text")).as("cfp"))
      .groupBy(col("cfp")).agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"))

  /** q161's stage-2 edges — [[repAnchoredEdges]] over the UN-pinned
    * stage-1 survivors: the plan q161's stage pins hide, audited as its
    * own PLANS.md row. */
  private[graft] def q161RepEdges(s: SparkSession, d: String): DataFrame = {
    val all = docs(s, d)
    repAnchoredEdges(all.join(canonicalSurvivorIds(all), Seq("doc_id"), "left_semi"))
  }

  /** q160's composed pretrain-prep chain. `budget` is the stage-5 token
    * budget; `stageRun` (stageNo, stageName, buildSurvivors) → survivors
    * lets the stress harness run EACH STAGE'S WHOLE CONSTRUCTION —
    * including its eager work (edge generation + fixpoint in stage 2,
    * bloom training in stage 3) — under its own PhaseStats phase for per-stage
    * attribution, and materialize the result however it wants. The
    * default materializes stage boundaries with the bench-loop-safe
    * [[pinReleasingPrior]] discipline (each stage's manifest is ids-only
    * or slim, never text). `evalPred` selects the eval-suite docs
    * (default: the oracle-pinned doc_id%10==7); the replicated stress
    * corpora pass `(doc_id DIV factor) % 10 == 7` instead, because their
    * ids are base*factor+r and the raw mod would select "replica r≡7 of
    * EVERY doc" — making every kept doc contaminated by its own replica.
    */
  private[graft] def q160Frame(s: SparkSession, d: String, budget: Long,
      stageRun: Option[(Int, String, () => DataFrame) => DataFrame] = None,
      evalPred: org.apache.spark.sql.Column = col("doc_id") % 10 === 7,
      repAnchoredNearDup: Boolean = false): DataFrame = {
    // the pin key carries EVERY dial that changes a stage's content
    // (budget, stage-2 form, eval law): q160 and q161 run the same
    // chain with different dials, and a shared key would release the
    // other query's still-referenced checkpoint blocks on construction
    def stage(i: Int, name: String)(mk: => DataFrame): DataFrame =
      stageRun.map(f => f(i, name, () => mk))
        .getOrElse(pinReleasingPrior(
          s"q160:$name:$d:$budget:$repAnchoredNearDup:$evalPred", mk))
    val all = docs(s, d)

    // stage 1 — canonical exact dedup (q155): min doc_id per NFC-
    // canonical text class; survivors as an ids-only manifest
    // NOTE on kernel spread inside this chain: measured OFF everywhere
    // (stages 1/3/4 and the stage-2 edge prepare). The composed DAG
    // re-reads `all` through several differently-pruned subplans per
    // stage, so each spread copy pays its own exchange + AQE stage —
    // q160 5.62→6.10 s / q161 5.20→6.10 s with spreads on (quiet-box
    // subset A/B, r18). The per-stage pins already bound each stage's
    // single-task kernel pass to one copy.
    val s1 = stage(1, "canonical_dedup")(canonicalSurvivorIds(all))
    val d1 = all.join(s1, Seq("doc_id"), "left_semi")

    // stage 2 — near-dup fixpoint keep-list (q87) over the canonical
    // survivors. No exact-collapse pre-pass: stage 1 already merged all
    // raw-identical texts, so no clone cliques exist in this edge set.
    // Ineligible (<3-token) docs have no edges → self-reps → kept.
    // keepListToFixpoint pins the edges itself (materializing the
    // banding+verify lineage as its round-0 prepare) and releases them
    // on return — no outer pin needed; its per-round attribution is
    // readable from Dedup.lastFixpointStatsJson.
    // `repAnchoredNearDup` swaps the ALL-PAIRS bucket verify for the
    // bucket-minimum REP anchoring (the q157/DocsStream discipline:
    // b−1 verify calls and ≤4 edges per doc instead of ~b²/2 per
    // bucket) — the shape you ship when the corpus carries large
    // near-dup cliques (boilerplate/templates; the 1000× replicated
    // stress corpus plants ~667-member cliques per base doc, whose
    // pairwise edge set is ~10⁹ rows — the documented raw-clique
    // boundary). Components can under-connect only on threshold-
    // marginal chains (every folded edge is still individually
    // verified) — i.e. the rep form can OVER-KEEP, never over-merge.
    // Measured by STRESS_PRETRAIN_REP: survivor sets identical on the
    // base corpus, rep form over-kept 1 of 4,758 at 10× (one marginal
    // link the pairwise form closes transitively).
    val s2 = stage(2, "neardup_fixpoint") {
      val edges = if (repAnchoredNearDup) repAnchoredEdges(d1)
        else verifiedEdgesOf(edgeBase(d1), s"q160:$d", 256, PruneBroadcastLimit)
      graft.operators.Dedup
        .keepListToFixpoint(d1.select(col("doc_id")), edges)
        .filter(col("is_kept")).select(col("doc_id"))
    }

    // stage 3 — n-gram decontamination (q101, [[q160Decontaminated]])
    // FUSED with the per-source quality gate (q97). The gate's slim
    // signal frame is projected straight off the anti-join's survivors,
    // so the old
    // stage-4 corpus semi-join (`all ⋈ s3-ids` — a THIRD full-text scan
    // of this stage's lineage) and its separate localCheckpoint are gone
    // (r19; guide §2.4/§5 — same composition, one fewer pass + one
    // fewer pin; back-to-back subset A/B q160+q161 10.66 → 9.76 s).
    // Stage numbering keeps
    // the historical gap (3 → 5) so per-stage attribution rows stay
    // comparable across rounds and the stress harness's
    // `s5_mixture_materialize` key is untouched.
    val s4 = stage(3, "decontaminate_gate") {
      q160GateFrom(q160Decontaminated(all, d, s2, evalPred))
    }

    // stage 5 — temperature-mixture materialize (q124's mixtureCut):
    // sqrt-weight token targets over the GATED population, md5-ordered
    // running cut
    val s5 = stage(5, "mixture_materialize") { q160MixtureFrom(s4, budget) }

    // stages 6-7 — stratified split + per-split packing
    q160SplitPackFrom(s5)
  }

  /** q160 stage 3's pre-gate body: the slim per-doc signal frame
    * `(doc_id, source, n_tokens, ttr, ckey, ord)` of the non-eval
    * stage-2 survivors (`s2`, ids) that share no 8-gram with the eval
    * suite. The eval suite's 8-gram inventory comes from the FULL
    * corpus `all` (an eval set is external — it does not shrink because
    * training docs were deduped); the gram stream being CHECKED runs
    * only over the survivors. Bloom prune map-side, exact verify after.
    * The streaming twin's [[graft.streaming.PretrainStream.storeSig3]]
    * must hold the same ids, which the stream/batch parity checks
    * compare BEFORE the gate drops anything.
    */
  private[graft] def q160Decontaminated(all: DataFrame, d: String,
      s2: DataFrame, evalPred: org.apache.spark.sql.Column): DataFrame = {
    val ws = TextOps.tokens(col("text"))
    val evalGrams = gramStream8(all.filter(evalPred))
      .select(col("g")).distinct()
    // key carries the eval predicate: a stress run's DIV-based law must
    // not reuse a bloom trained under the default mod law (or vice versa)
    val bloom = trainEvalBloom(s"evalgrams:$d:$evalPred", evalGrams)
    val trainSide = all.join(s2, Seq("doc_id"), "left_semi")
      .filter(!evalPred)
    val contaminated = gramStream8(trainSide)
      .filter(graft.functions.BloomFunctions.mightContain(bloom, col("g")))
      .join(evalGrams, "g").select(col("doc_id")).distinct()
    trainSide.join(contaminated, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("source"),
        size(ws).cast("long").as("n_tokens"),
        (size(array_distinct(ws)) / size(ws)).as("ttr"),
        md5(concat(lit("split|"), coalesce(col("text"), lit("")))).as("ckey"),
        md5(concat(lit("mix|"), col("doc_id").cast("string"))).as("ord"))
  }

  /** q160 stage 4's GATE LAW over the slim per-doc signal frame
    * `(doc_id, source, n_tokens, ttr, ckey, ord)`: per-source TTR
    * percent_rank ≥ 0.5 within the frame's population. ONE definition
    * shared by the batch chain and the streaming twin's finalization
    * ([[graft.streaming.PretrainStream]]) so the gate cannot drift.
    */
  private[graft] def q160GateFrom(sig3: DataFrame): DataFrame =
    sig3.withColumn("pr", percent_rank().over(
        Window.partitionBy(col("source")).orderBy(col("ttr"))))
      .filter(col("pr") >= 0.5)
      .select(col("doc_id"), col("source"), col("n_tokens"),
        col("ckey"), col("ord"))

  /** Sqrt-temperature token targets: per source of a per-doc frame
    * `(source, n_tokens)`, the total `n_tokens`, the weight
    * `w = round(sqrt(n_tokens), 6)`, `mix_rate = round(w / Σw, 6)` and
    * `target_tokens = round(budget · w / Σw)`. τ = 0.5 because sqrt is
    * an IEEE correctly-rounded primitive (libm pow is not), and Σw is the
    * exact-decimal sum of the 6-dec weights (Det recipe), so every rate
    * and target is hash-exact in both engines. The weight total is a
    * window over the same aggregate: one pass, and the unpartitioned
    * window is fine because the frame is source-cardinality. The law of
    * q117, q124 and q160 stage 5.
    */
  private[graft] def tokenTargets(df: DataFrame, budget: Long): DataFrame = {
    import org.apache.spark.sql.types.{DecimalType, DoubleType}
    val tw = sum(col("w").cast(DecimalType(24, 6)))
      .over(Window.partitionBy()).cast(DoubleType)
    df.groupBy(col("source")).agg(sum(col("n_tokens")).as("n_tokens"))
      .select(col("source"), col("n_tokens"),
        round(sqrt(col("n_tokens")), 6).as("w"))
      .select(col("source"), col("n_tokens"), col("w"),
        round(col("w") / tw, 6).as("mix_rate"),
        round(lit(budget.toDouble) * (col("w") / tw), 0).cast("long")
          .as("target_tokens"))
  }

  /** The temperature-mixture cut over a per-doc frame
    * `(source, n_tokens, ord, …)`: keeps, per source, the rows whose
    * running token total `cum` in `ord` order stays within the source's
    * [[tokenTargets]] target, with every input column. The running total
    * is the bucketed prefix sum with `mbkt` = the 3-hex-char prefix of
    * `ord` (4096 buckets per source). The law of q124 and q160 stage 5.
    */
  private[graft] def mixtureCut(df: DataFrame, budget: Long): DataFrame = {
    val targets = tokenTargets(df, budget)
      .select(col("source"), col("target_tokens"))
    Skew.prefixSum(df.withColumn("mbkt", substring(col("ord"), 1, 3)),
        Seq("source"), "mbkt", Seq(col("ord")), Some("n_tokens"), "cum")
      .join(broadcast(targets), "source")
      .filter(col("cum") <= col("target_tokens"))
      .drop("mbkt", "target_tokens")
  }

  /** The stratified split over a per-doc frame `(doc_id, source, ckey,
    * …)`: per source, `pos` is the 1-based rank in (ckey, doc_id) order,
    * and the first ceil(0.8n) rows are `train`, the next ceil(0.1n)
    * `val`, the rest `test`, with every input column. The rank is the
    * bucketed prefix sum with `bucket` = the leading 2 hex chars of
    * `ckey` (256 buckets per source); the per-source totals broadcast.
    * The law of q133 and q160 stage 6.
    */
  private[graft] def stratifiedSplit(df: DataFrame): DataFrame = {
    val totals = df.groupBy(col("source")).agg(count(lit(1)).as("n"))
    Skew.prefixSum(
        df.withColumn("bucket", conv(substring(col("ckey"), 1, 2), 16, 10).cast("int")),
        Seq("source"), "bucket", Seq(col("ckey"), col("doc_id")), None, "pos")
      .join(broadcast(totals), "source")
      .withColumn("n_train", expr("(n * 8 + 9) DIV 10"))
      .withColumn("n_val", expr("(n + 9) DIV 10"))
      .withColumn("split", when(col("pos") <= col("n_train"), lit("train"))
        .when(col("pos") <= col("n_train") + col("n_val"), lit("val"))
        .otherwise(lit("test")))
      .drop("bucket", "n", "n_train", "n_val")
  }

  /** Sequence packing over a per-doc frame `(doc_id, n_tokens, …)`: per
    * `keys`, `cum_tokens` is the running token total in doc_id order and
    * `seq_id` its 512-token sequence, with every input column. The
    * running total is the bucketed prefix sum with `bucket` =
    * `doc_id DIV 50`. The law of q95 (no keys) and q160 stage 7 (per
    * split).
    */
  private[graft] def sequencePack(df: DataFrame, keys: Seq[String]): DataFrame =
    Skew.prefixSum(df.withColumn("bucket", expr("doc_id DIV 50")),
        keys, "bucket", Seq(col("doc_id")), Some("n_tokens"), "cum_tokens")
      .withColumn("seq_id", expr("(cum_tokens - 1) DIV 512"))
      .drop("bucket")

  /** q160 stage 5 over a gated signal frame
    * `(doc_id, source, n_tokens, ckey, ord)`: the [[mixtureCut]] at
    * `budget`. Shared with the streaming twin's finalization.
    */
  private[graft] def q160MixtureFrom(s4: DataFrame, budget: Long): DataFrame =
    mixtureCut(s4, budget)
      .select(col("doc_id"), col("source"), col("n_tokens"), col("ckey"))

  /** q160 stages 6-7 over a materialized mixture
    * `(doc_id, source, n_tokens, ckey)`: the [[stratifiedSplit]], then
    * [[sequencePack]] per split. Shared with the streaming twin's
    * finalization.
    */
  private[graft] def q160SplitPackFrom(s5: DataFrame): DataFrame =
    sequencePack(stratifiedSplit(s5), Seq("split"))
      .select(col("doc_id"), col("source"), col("split"), col("n_tokens"),
        col("cum_tokens"), col("seq_id"))
      .orderBy(col("doc_id"))

  /** DuckDB full-chain replay of [[q160Frame]] — every stage in one WITH
    * list; stage 2's fixpoint is the recursive-CTE transitive closure
    * over the edge kernel applied to the STAGE-1 SURVIVORS (`d1`).
    */
  private[graft] def q160OracleSql(budget: Long,
      edgesCtes: String = null): String = s"""
      WITH RECURSIVE
      cn1 AS (SELECT doc_id,
          trim(regexp_replace(lower(nfc_normalize(text)), '\\s+', ' ', 'g')) AS c
        FROM documents),
      s1 AS (SELECT min(doc_id) AS doc_id FROM cn1 GROUP BY c),
      d1 AS (SELECT d.doc_id, d.text FROM documents d JOIN s1 USING (doc_id)),
      ${Option(edgesCtes).getOrElse(duckEdgesCtesOf("d1"))},
      reach(doc_id, r) AS (
        SELECT doc_id, doc_id FROM d1
        UNION
        SELECT reach.doc_id, e.dst FROM reach JOIN edges e ON e.src = reach.r),
      s2 AS (SELECT doc_id FROM (
               SELECT doc_id, min(r) AS rep FROM reach GROUP BY doc_id)
             WHERE doc_id = rep),
      tg8 AS (SELECT doc_id, $duckWords ws FROM documents),
      g8 AS (SELECT doc_id, ${duckHash32("gr")} AS g FROM (
              SELECT doc_id, unnest(list_distinct(
                [array_to_string(ws[i:i+7], ' ')
                 for i in generate_series(1, len(ws) - 7)])) gr
              FROM tg8 WHERE len(ws) >= 8)),
      ev AS (SELECT DISTINCT g FROM g8 WHERE doc_id % 10 = 7),
      cont AS (SELECT DISTINCT doc_id FROM g8
               WHERE doc_id % 10 <> 7 AND g IN (SELECT g FROM ev)),
      d3 AS (SELECT d.doc_id, d.source, d.text FROM documents d
             JOIN s2 USING (doc_id)
             WHERE d.doc_id % 10 <> 7
               AND d.doc_id NOT IN (SELECT doc_id FROM cont)),
      sg AS (SELECT doc_id, source,
               CAST(len($duckWords) AS BIGINT) AS n_tokens,
               len(list_distinct($duckWords)) / len($duckWords) AS ttr,
               md5('split|' || coalesce(text, '')) AS ckey,
               md5('mix|' || CAST(doc_id AS VARCHAR)) AS ord
             FROM d3),
      s4 AS (SELECT doc_id, source, n_tokens, ckey, ord FROM (
               SELECT *, percent_rank() OVER (
                 PARTITION BY source ORDER BY ttr) AS pr FROM sg)
             WHERE pr >= 0.5),
      t5 AS (SELECT source, CAST(sum(n_tokens) AS BIGINT) AS nt
             FROM s4 GROUP BY source),
      w5 AS (SELECT source, round(sqrt(nt), 6) AS w FROM t5),
      tot5 AS (SELECT ${Det.duckSum("w", 6)} AS tw FROM w5),
      tg5 AS (SELECT source,
                CAST(round(${budget.toDouble} * (w / tw), 0) AS BIGINT)
                  AS target_tokens
              FROM w5, tot5),
      c5 AS (SELECT s4.doc_id, s4.source, s4.n_tokens, s4.ckey,
               tg5.target_tokens,
               CAST(sum(s4.n_tokens) OVER (PARTITION BY s4.source
                 ORDER BY s4.ord ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
             FROM s4 JOIN tg5 USING (source)),
      s5 AS (SELECT doc_id, source, n_tokens, ckey FROM c5
             WHERE cum <= target_tokens),
      p6 AS (SELECT doc_id, source, n_tokens,
               CAST(ROW_NUMBER() OVER (PARTITION BY source
                 ORDER BY ckey, doc_id) AS BIGINT) AS pos,
               COUNT(*) OVER (PARTITION BY source) AS n
             FROM s5),
      s6 AS (SELECT doc_id, source, n_tokens,
               CASE WHEN pos <= (8 * n + 9) // 10 THEN 'train'
                    WHEN pos <= (8 * n + 9) // 10 + (n + 9) // 10 THEN 'val'
                    ELSE 'test' END AS split
             FROM p6),
      c7 AS (SELECT *, CAST(sum(n_tokens) OVER (PARTITION BY split
               ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT)
                 AS cum_tokens
             FROM s6)
      SELECT doc_id, source, split, n_tokens, cum_tokens,
        (cum_tokens - 1) // 512 AS seq_id
      FROM c7 ORDER BY doc_id"""

  /** q143's bootstrap pieces — shared by the shipped broadcast-model
    * form and the compositional join twin the parity spec locks
    * (`QueriesSpec`: joinForm ≡ modelForm bit-for-bit at sf0.001).
    */
  private[graft] object Clf {
    val NBuckets = 1048576 // 2^20, the fastText feature-table size

    def bucket(w: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      conv(substring(md5(concat(lit("clf|"), w)), 1, 8), 16, 10)
        .cast("long") % NBuckets.toLong

    /** Tokenized corpus: (doc_id, source, ws). */
    def base(s: SparkSession, d: String): DataFrame =
      docs(s, d).select(col("doc_id"), col("source"),
        TextOps.tokens(col("text")).as("ws"))

    /** Labeled token-occurrence stream over the train split:
      * (bucket, pos) — the q97 gate as the labeler.
      */
    def occ(b: DataFrame): DataFrame =
      b.filter(col("doc_id") % 5 =!= 0)
        .withColumn("ttr", size(array_distinct(col("ws"))) / size(col("ws")))
        .withColumn("pos", percent_rank().over(
          Window.partitionBy(col("source")).orderBy(col("ttr"))) >= 0.5)
        .select(explode(col("ws")).as("w"), col("pos"))
        .select(bucket(col("w")).as("b"), col("pos"))

    /** Per-bucket add-1-smoothed positive posterior, rounded to 6. */
    def vocab(o: DataFrame): DataFrame =
      o.groupBy(col("b").as("vb"))
        .agg(round((sum(when(col("pos"), 1L).otherwise(0L)).cast("double")
            + 1.0) / (count(lit(1)).cast("double") + 2.0), 6).as("q"))

    /** Positive-class prior at token-occurrence level (the keep cut). */
    def prior(o: DataFrame): DataFrame =
      o.agg(round((sum(when(col("pos"), 1L).otherwise(0L)).cast("double")
          + 1.0) / (count(lit(1)).cast("double") + 2.0), 6).as("prior"))

    /** Train once per (dataset, hyperparameters): the bounded posterior
      * table collected into a dense-array model + the prior scalar.
      */
    def model(s: SparkSession, d: String):
        (Double, org.apache.spark.broadcast.Broadcast[graft.functions.ClfModel]) =
      Models.cached(s"clf:$d:B=$NBuckets:split=mod5") {
        val o = occ(base(s, d))
        val pr = prior(o).head().getDouble(0)
        val entries = vocab(o).collect().map(r => r.getLong(0) -> r.getDouble(1))
        (pr, s.sparkContext.broadcast(
          graft.functions.ClfModel.build("clf|", NBuckets, entries.iterator)))
      }

    /** The shipped form: score map-side through the broadcast model. */
    def modelForm(s: SparkSession, d: String): DataFrame = {
      val (pr, bc) = model(s, d)
      base(s, d).select(col("doc_id"),
          graft.functions.ClfFunctions.docMeanPosterior(bc, col("ws")).as("sc"))
        .filter(col("sc").isNotNull)
        .select(col("doc_id"), col("sc.n_toks").as("n_toks"),
          col("sc.clf_score").as("clf_score"),
          (col("sc.clf_score") >= lit(pr)).as("is_kept"))
        .orderBy(col("doc_id"))
    }

    /** The compositional twin (explode → left join on the bucket key →
      * per-doc decimal-mean re-agg) — kept for the bit-parity spec. At
      * scale this shape loses to [[modelForm]]: measured at 1000×, SMJ
      * sorts the token stream (3.0 GB spill) and shuffle-hash still
      * re-aggregates 5M doc groups per task (1.6 GB spill).
      */
    def joinForm(s: SparkSession, d: String): DataFrame = {
      val b = base(s, d)
      val o = occ(b)
      b.select(col("doc_id"), explode(col("ws")).as("w"))
        .select(col("doc_id"), bucket(col("w")).as("b"))
        .join(vocab(o).hint("shuffle_hash"), col("b") === col("vb"), "left")
        .select(col("doc_id"), coalesce(col("q"), lit(0.5)).as("q"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_toks"),
          round(sum(col("q").cast("decimal(24,6)")).cast("double") /
            count(lit(1)), 6).as("clf_score"))
        .crossJoin(broadcast(prior(o)))
        .select(col("doc_id"), col("n_toks"), col("clf_score"),
          (col("clf_score") >= col("prior")).as("is_kept"))
        .orderBy(col("doc_id"))
    }
  }

  /** q149's chunker at arbitrary (chunkSize, overlap) — the oracle
    * query pins C=64/O=16 (sf-sized output); `STRESS_CHUNK` times the
    * same code at a production dial (e.g. C=512/O=64 for RAG passage
    * indexing). Per-doc fan-out is ⌈n/(C−O)⌉ rows minus any redundant
    * tail (a window starting past n−O adds no tokens beyond the
    * previous chunk's coverage and is dropped — except at position 0,
    * so every doc, including null/empty text, yields ≥1 chunk). The
    * whole operator is map-side: the generator's fan-out is bounded by
    * document length, never corpus size, and no chunk text crosses an
    * exchange (the output sort moves the already-sliced rows once).
    */
  private[graft] def chunkOverlap(s: SparkSession, d: String,
      chunkSize: Int, overlap: Int): DataFrame = {
    require(chunkSize > overlap && overlap >= 0,
      s"need chunkSize > overlap >= 0, got ($chunkSize, $overlap)")
    val step = chunkSize - overlap
    docs(s, d)
      .select(col("doc_id"),
        split(coalesce(col("text"), lit("")), " ").as("ws"))
      .select(col("doc_id"), col("ws"), size(col("ws")).as("n"))
      .select(col("doc_id"), col("ws"), col("n"),
        explode(sequence(lit(0), col("n") - 1, lit(step))).as("g"))
      .filter(col("g") === 0 || col("n") - col("g") > overlap)
      .select(col("doc_id"),
        col("g").cast("long").as("chunk_start"),
        (col("g") / step).cast("long").as("chunk_idx"),
        least(lit(chunkSize), col("n") - col("g")).cast("long").as("chunk_len"),
        concat_ws(" ", slice(col("ws"), col("g") + 1, lit(chunkSize)))
          .as("chunk_text"))
      .orderBy(col("doc_id"), col("chunk_idx"))
  }

  /** q145's seed-and-mark chain at an arbitrary window size — the
    * oracle-scale query pins K=8; `STRESS_SUBSTR=k` times the same code
    * at the Lee et al. production dial (K≈50). Larger K means fewer
    * duplicated grams (longer match requirement), the same gram-stream
    * cardinality, and proportionally longer covered spans per hit.
    */
  private[graft] def exactSubstr(s: SparkSession, d: String, k: Int): DataFrame = {
    val t = docs(s, d).select(col("doc_id"), TextOps.tokens(col("text")).as("ws"))
    val grams = t.filter(size(col("ws")) >= k)
      .select(col("doc_id"),
        explode(sequence(lit(0), size(col("ws")) - k)).as("i"),
        col("ws"))
      .select(col("doc_id"), col("i"),
        TextOps.hash32(concat_ws(" ",
          slice(col("ws"), col("i") + 1, lit(k)))).as("h"))
    val firsts = grams.groupBy(col("h"))
      .agg(min(struct(col("doc_id"), col("i"))).as("first"),
        count(lit(1)).as("cnt"))
      .filter(col("cnt") >= 2)
    val dups = grams.join(firsts, "h")
      .filter(!(col("doc_id") === col("first.doc_id") &&
        col("i") === col("first.i")))
      .groupBy(col("doc_id"))
      .agg(collect_list(col("i")).as("dp"))
    t.join(dups, Seq("doc_id"), "left")
      .withColumn("dp", coalesce(col("dp"), array().cast("array<int>")))
      .withColumn("cov", array_distinct(flatten(
        transform(col("dp"), p => sequence(p, p + k - 1)))))
      // set difference, NOT filter(seq, j => !array_contains(cov, j)):
      // `cov` is single-use so CollapseProject inlines it into the
      // lambda BODY, and interpreted HOF eval recomputes the whole
      // O(|dp|*k) union per token position — O(n*|dp|*k) per doc,
      // measured 40-50x on the x10 corpus. array_except hashes cov
      // once per row (order of the first array is preserved and the
      // position sequence is duplicate-free, so results are identical).
      .withColumn("surv", array_except(
        sequence(lit(0), size(col("ws")) - 1), col("cov")))
      .select(col("doc_id"),
        size(col("ws")).cast("long").as("n_toks"),
        size(col("dp")).cast("long").as("n_dup_pos"),
        size(col("surv")).cast("long").as("n_kept"),
        md5(array_join(transform(col("surv"),
          j => element_at(col("ws"), j + 1)), " ")).as("fp"))
      .orderBy(col("doc_id"))
  }

  /** q142's pipeline at an arbitrary quantizer size — the oracle-scale
    * query pins k=8; `STRESS_MARGIN=k` times the same code at the
    * corpus-scaled k the dial table prescribes (cell size, hence pair
    * volume ~nprobe·n²/k, is the dial exactly as in q132/q138).
    */
  private[graft] def marginMining(s: SparkSession, d: String,
      cents: Ivf.Centroids): DataFrame = {
      val e = embs(s, d)
      val anchors = e.filter(col("vec_id") % 2 === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"),
          sqrt(TextOps.norm2(col("embedding"))).as("qn"),
          explode(slice(array_sort(Ivf.rankedCells(cents, col("embedding"))),
            1, 2)).as("pc"))
        .select(col("qid"), col("qv"), col("qn"), col("pc.cid").as("cid"))
      val cand = e.filter(col("vec_id") % 2 === 1)
        .select(col("vec_id").as("bid"), col("embedding").as("bv"),
          sqrt(TextOps.norm2(col("embedding"))).as("bn"),
          Ivf.bestCell(cents, col("embedding")).as("cid"))
      val pairs = anchors.join(cand, Seq("cid"))
        .select(col("qid"), col("bid"),
          round(TextOps.dot(col("qv"), col("bv")) / (col("qn") * col("bn")), 6)
            .as("cosine"))
      def nbAvg(key: String, other: String, out: String): DataFrame =
        pairs.select(col(key).as("k"),
            struct((-col("cosine")).as("ncos"), col(other).as("nid")).as("sn"))
          .groupBy(col("k"))
          .agg(graft.functions.TopK.scored(col("sn"), 4).as("t"))
          .select(col("k"), explode(col("t")).as("x"))
          .groupBy(col("k"))
          // NOT rounded: the decimal sum → double cast → IEEE divide
          // chain is already bit-identical cross-engine, and round-6
          // HERE would land on exact .xxxxxx5 half-way points (the
          // count is usually 4 — a power of two — so the quotient is a
          // short exact decimal) where the engines' rounding modes
          // disagree. Only the final margin (a quotient with no finite
          // decimal form) is rounded.
          .agg((sum((-col("x.ncos")).cast("decimal(24,6)"))
            .cast("double") / count(lit(1))).as(out))
      val na = nbAvg("qid", "bid", "na").withColumnRenamed("k", "qk")
      val nb = nbAvg("bid", "qid", "nb").withColumnRenamed("k", "bk")
      pairs.join(na, col("qid") === col("qk"))
        .join(nb, col("bid") === col("bk"))
        .select(col("qid"), col("bid"), col("cosine"),
          round(col("cosine") / ((col("na") + col("nb")) / 2), 6).as("margin"))
        .groupBy(col("qid"))
        .agg(max(struct(col("margin"), (-col("bid")).as("nbid"),
          col("bid"), col("cosine"))).as("best"))
        .filter(col("best.margin") > 1.0)
        .select(col("qid").as("src_id"), col("best.bid").as("tgt_id"),
          col("best.cosine").as("cosine"), col("best.margin").as("margin"))
        .orderBy(col("src_id"))
  }

  /** q146's oracle: the 5 damped rounds unrolled as chained CTEs, each
    * mirroring [[graft.operators.PageRank.run]]'s update expression
    * op-for-op (round-9 contributions, exact decimal sum, the same
    * IEEE literal chain `(1.0 - 0.85) / n`).
    */
  private def q146OracleSql: String = {
    // the teleport literals are CAST(… AS DOUBLE): DuckDB's bare numeric
    // literals are DECIMAL, so a plain (1.0 - 0.85)/n would compute an
    // exact 0.15/n one ULP from Spark's IEEE (1.0-0.85)/n chain
    def step(k: Int): String = s"""
      pr$k AS (SELECT nd.nid,
          CAST(CAST(CAST(
            (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / (SELECT n FROM nn)
            + 0.85 * coalesce(c.s, 0.0) AS VARCHAR)
            AS DECIMAL(20, 9)) AS DOUBLE) AS pr
        FROM nodes nd LEFT JOIN (
          SELECT s.dst, CAST(sum(CAST(CAST(p.pr * s.share AS VARCHAR)
              AS DECIMAL(28, 9))) AS DOUBLE) AS s
          FROM sh s JOIN pr${k - 1} p ON p.nid = s.src
          GROUP BY s.dst) c ON c.dst = nd.nid)"""
    s"""
      WITH base AS (SELECT l.l_suppkey sk, o.o_custkey ck, count(*) w
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        GROUP BY 1, 2),
      edges AS (SELECT sk AS src, 1000000 + ck AS dst, w FROM base
        UNION ALL SELECT 1000000 + ck, sk, w FROM base),
      outw AS (SELECT src, sum(w) ow FROM edges GROUP BY 1),
      sh AS (SELECT e.src, e.dst,
          CAST(e.w AS DOUBLE) / CAST(o.ow AS DOUBLE) AS share
        FROM edges e JOIN outw o USING (src)),
      nodes AS (SELECT DISTINCT src AS nid FROM edges),
      nn AS (SELECT count(*) AS n FROM nodes),
      pr0 AS (SELECT nid,
        CAST(1.0 AS DOUBLE) / (SELECT n FROM nn) AS pr FROM nodes),
      ${(1 to 5).map(step).mkString(",")}
      SELECT nid, pr FROM pr5 ORDER BY nid"""
  }

  /** The fixed evaluation query set for q147: (qid, terms) — literal
    * data riding the plan; at production scale the small side of a
    * broadcast. Terms drawn from the synthetic corpus vocabulary.
    */
  // lazy: referenced from `all`'s construction, which runs before this
  // point in the object initializer
  private[graft] lazy val Bm25Queries: Seq[(Int, Seq[String])] = Seq(
    1 -> Seq("spark", "query", "fast"),
    2 -> Seq("table", "scan", "filter"),
    3 -> Seq("stream", "window", "batch"),
    4 -> Seq("vector", "data", "merge"))

  private val Bm25K1 = 1.2
  /** Results kept per query by q147's BM25, the dense ranking and q150's
    * fusion of the two. */
  private val RetrievalK = 10
  private val Bm25B = 0.75

  /** BM25 scoring + per-query top-k (see the q147 entry comment). Every
    * float op is mirrored verbatim in [[q147OracleSql]]: driver-computed
    * model scalars (idf, avg length) are the SAME IEEE expressions DuckDB
    * evaluates inline from its stats CTE, per-term scores are rounded to
    * 6, and the per-doc total is a fixed-order sum of those — so rank
    * vectors hash-match with no tolerance.
    */
  private[graft] def bm25TopK(s: SparkSession, d: String): DataFrame = {
    val k = RetrievalK
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.types.DoubleType
    val terms = Bm25Queries.flatMap(_._2).distinct
    val t = spreadForKernels(docs(s, d))
      .select(col("doc_id"), TextOps.tokens(col("text")).as("ws"))
    // one corpus pass for the whole model: N, total token count, and
    // per-term document frequency, all map-side partial-aggregated
    val statsRow = t.agg(count(lit(1)).as("nd"),
      sum(size(col("ws")).cast("long")).as("tl") +:
        terms.map(tm =>
          sum(when(array_contains(col("ws"), tm), 1L).otherwise(0L))
            .as(s"df_$tm")): _*).head()
    val nd = statsRow.getLong(0)
    val avgLen = statsRow.getLong(1).toDouble / nd.toDouble
    val idf: Map[String, Double] = terms.zipWithIndex.map { case (tm, i) =>
      val df = statsRow.getLong(2 + i)
      tm -> (nd - df + 0.5) / (df + 0.5) // Robertson idf, log-free form
    }.toMap
    def score(tm: String): Column = {
      val tf = size(filter(col("ws"), w => w === lit(tm))).cast(DoubleType)
      round(lit(idf(tm)) * (tf * lit(Bm25K1 + 1.0)) /
        (tf + lit(Bm25K1) * (lit(1.0 - Bm25B) +
          lit(Bm25B) * (size(col("ws")).cast(DoubleType) / lit(avgLen)))), 6)
    }
    val qRows = Bm25Queries.map { case (qid, ts) =>
      struct(lit(qid).as("qid"), ts.map(score).reduceLeft(_ + _).as("score"))
    }
    t.select(col("doc_id"), explode(array(qRows: _*)).as("qs"))
      .select(col("qs.qid").as("qid"), col("doc_id"), col("qs.score").as("score"))
      .filter(col("score") > 0.0)
      .groupBy(col("qid"))
      .agg(graft.functions.TopK.scored(
        struct((-col("score")).as("nsc"), col("doc_id").as("did")), k).as("tk"))
      .select(col("qid"), posexplode(col("tk")))
      .select(col("qid"), (col("pos") + 1).cast("long").as("rank"),
        col("col.did").as("doc_id"), (-col("col.nsc")).as("score"))
      .orderBy(col("qid"), col("rank"))
  }

  /** The BM25 ranked-list CTE chain (t → st → sc → r) shared by the
    * q147 oracle (selects `r` directly) and the q150 oracle (fuses `r`
    * with a dense ranking).
    */
  private def bm25RankedCtes: String = {
    // literal sums/differences are CAST(… AS DOUBLE): DuckDB's bare
    // numeric literals are DECIMAL, so (1.2 + 1.0) would fold exactly
    // where Spark's lit(Bm25K1 + 1.0) is an IEEE chain (they happen to
    // coincide here, but the parity must not rest on that coincidence)
    def tf(tm: String) = s"CAST(len(list_filter(ws, w -> w = '$tm')) AS DOUBLE)"
    def term(tm: String) =
      s"""round(((st.nd - st.df_$tm + 0.5) / (st.df_$tm + 0.5))
         * (${tf(tm)} * (CAST(1.2 AS DOUBLE) + CAST(1.0 AS DOUBLE)))
         / (${tf(tm)} + 1.2 * ((CAST(1.0 AS DOUBLE) - CAST(0.75 AS DOUBLE))
             + 0.75 * (CAST(len(ws) AS DOUBLE)
             / (CAST(st.tl AS DOUBLE) / CAST(st.nd AS DOUBLE))))), 6)"""
    val dfCols = Bm25Queries.flatMap(_._2).distinct.map(tm =>
      s"sum(CASE WHEN list_contains(ws, '$tm') THEN 1 ELSE 0 END) AS df_$tm")
      .mkString(", ")
    val perQuery = Bm25Queries.map { case (qid, ts) =>
      s"""SELECT $qid AS qid, doc_id,
          ${ts.map(term).mkString(" + ")} AS score FROM t, st"""
    }.mkString(" UNION ALL ")
    s"""t AS (SELECT doc_id, $duckWords ws FROM documents),
      st AS (SELECT count(*) nd, sum(len(ws)) tl, $dfCols FROM t),
      sc AS ($perQuery),
      r AS (SELECT qid, doc_id, score, ROW_NUMBER() OVER (PARTITION BY qid
          ORDER BY score DESC, doc_id) rn
        FROM sc WHERE score > 0.0)"""
  }

  private def q147OracleSql: String = s"""
      WITH $bm25RankedCtes
      SELECT qid, rn AS rank, doc_id, score FROM r WHERE rn <= 10
      ORDER BY qid, rank"""

  /** q150's dense anchors: qid → the vec_id whose embedding is that
    * query's query-by-example vector (doc_id ≡ vec_id in the testdata).
    * Low ids so the anchors exist at every sf.
    */
  private[graft] lazy val RrfAnchors: Seq[(Int, Long)] =
    Seq(1 -> 1L, 2 -> 2L, 3 -> 3L, 4 -> 4L)

  /** RRF constant (Cormack et al., SIGIR'09 use 60; the de-facto
    * standard in hybrid-retrieval stacks).
    */
  private val RrfK = 60.0

  /** Dense query-by-example ranking: cosine top-`k` per anchor over the
    * corpus, the anchor itself excluded. One map-side corpus scan
    * against the |Q|-row broadcast anchor table, then the bounded top-k
    * aggregate — the same shape as [[bm25TopK]]'s tail, so the fusion
    * in [[hybridRrf]] sees two k·|Q|-row inputs regardless of corpus
    * size.
    */
  private[graft] def denseTopK(s: SparkSession, d: String): DataFrame = {
    val k = RetrievalK
    val e = embs(s, d)
    val qidOf = typedLit(RrfAnchors.map { case (q, v) => v -> q }.toMap)
    val anchors = e.filter(col("vec_id").isin(RrfAnchors.map(_._2): _*))
      .select(element_at(qidOf, col("vec_id")).as("qid"),
        col("vec_id").as("avid"), col("embedding").as("qv"))
    e.crossJoin(broadcast(anchors))
      .filter(col("vec_id") =!= col("avid"))
      .select(col("qid"), col("vec_id").as("doc_id"),
        graft.operators.TextOps.cosine(col("embedding"), col("qv")).as("dcos"))
      .groupBy(col("qid"))
      .agg(graft.functions.TopK.scored(
        struct((-col("dcos")).as("nsc"), col("doc_id").as("did")), k).as("tk"))
      .select(col("qid"), posexplode(col("tk")))
      .select(col("qid"), (col("pos") + 1).cast("long").as("dense_rank"),
        col("col.did").as("doc_id"))
  }

  /** Hybrid retrieval via reciprocal-rank fusion (see the Q entry
    * comment). Every RRF term is a single IEEE divide of exactly
    * representable integers (1.0 / (60.0 + rank)) summed in fixed
    * sparse-then-dense order, so scores are bit-identical across
    * engines with no rounding hop. The final re-rank is a window over
    * the fused table, which is ≤2·k·|Q| rows BY CONSTRUCTION (both
    * inputs end in bounded top-k aggregates), so the window's single
    * partition-by-qid exchange never sees corpus-sized data.
    */
  private[graft] def hybridRrf(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val k = RetrievalK
    val sparse = bm25TopK(s, d)
      .select(col("qid"), col("doc_id"), col("rank").as("sparse_rank"))
    val dense = denseTopK(s, d)
      .select(col("qid"), col("doc_id"), col("dense_rank"))
    def rrfTerm(rank: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      coalesce(lit(1.0) / (lit(RrfK) + rank.cast("double")), lit(0.0))
    val fused = sparse.join(dense, Seq("qid", "doc_id"), "full_outer")
      .select(col("qid"), col("doc_id"),
        (rrfTerm(col("sparse_rank")) + rrfTerm(col("dense_rank")))
          .as("rrf_score"),
        col("sparse_rank"), col("dense_rank"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("rrf_score").desc, col("doc_id"))
    fused.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("doc_id"), col("rrf_score"),
        col("sparse_rank"), col("dense_rank"))
      .orderBy(col("qid"), col("rank"))
  }

  private def q150OracleSql: String = {
    def cos(a: String, b: String) = s"""round(
      list_sum([$a[i]::DOUBLE * $b[i]::DOUBLE
                for i in generate_series(1, len($a))])
      / (sqrt(list_sum([$a[i]::DOUBLE * $a[i]::DOUBLE
                for i in generate_series(1, len($a))]))
       * sqrt(list_sum([$b[i]::DOUBLE * $b[i]::DOUBLE
                for i in generate_series(1, len($b))]))), 6)"""
    val anchorRows = RrfAnchors.map { case (q, v) => s"($q, $v)" }.mkString(", ")
    s"""
      WITH $bm25RankedCtes,
      a AS (SELECT q.qid, q.avid, e.embedding qv
            FROM (VALUES $anchorRows) q(qid, avid)
            JOIN embeddings e ON e.vec_id = q.avid),
      dsc AS (SELECT a.qid, e.vec_id AS doc_id,
               ${cos("e.embedding", "a.qv")} AS dcos
             FROM embeddings e, a WHERE e.vec_id <> a.avid),
      dr AS (SELECT qid, doc_id, ROW_NUMBER() OVER (PARTITION BY qid
               ORDER BY dcos DESC, doc_id) rn FROM dsc),
      dtop AS (SELECT qid, doc_id, rn FROM dr WHERE rn <= 10),
      stop AS (SELECT qid, doc_id, rn FROM r WHERE rn <= 10),
      f AS (SELECT coalesce(s.qid, d2.qid) qid,
              coalesce(s.doc_id, d2.doc_id) doc_id,
              coalesce(CAST(1 AS DOUBLE) / CAST(60 + s.rn AS DOUBLE),
                CAST(0 AS DOUBLE))
              + coalesce(CAST(1 AS DOUBLE) / CAST(60 + d2.rn AS DOUBLE),
                CAST(0 AS DOUBLE)) AS rrf_score,
              s.rn AS srn, d2.rn AS drn
            FROM stop s FULL OUTER JOIN dtop d2
              ON s.qid = d2.qid AND s.doc_id = d2.doc_id),
      fr AS (SELECT qid, doc_id, rrf_score, srn, drn,
               ROW_NUMBER() OVER (PARTITION BY qid
                 ORDER BY rrf_score DESC, doc_id) rk FROM f)
      SELECT qid, rk AS rank, doc_id, rrf_score,
        srn AS sparse_rank, drn AS dense_rank
      FROM fr WHERE rk <= 10 ORDER BY qid, rank"""
  }

  /** q151's diversity profile (see the Q entry comment). Trigram g at
    * position i is `ws[i..i+2]` joined by spaces — identical string
    * construction in the DuckDB mirror, so DISTINCT counts match
    * exactly. Sources where every doc has <3 tokens get null trigram
    * columns (left join), mirrored by the oracle's LEFT JOIN.
    */
  private[graft] def ngramDiversity(s: SparkSession, d: String,
      approx: Boolean = false): DataFrame = {
    import org.apache.spark.sql.types.{DecimalType, DoubleType}
    // the 100 TB dial: HLL++ sketches (rsd 2%) replace the exact
    // DISTINCT — the (source, gram) dedup exchange disappears and each
    // source moves ONE mergeable sketch instead of its distinct-gram
    // set; the two profile passes then shuffle O(|sources|) rows total.
    // Exact stays the default because the DuckDB oracle is bit-exact;
    // QueriesSpec pins the approx form within 3·rsd of exact per source,
    // and STRESS_DIVERSITY measures the shuffle collapse at scale.
    def nDistinct(c: org.apache.spark.sql.Column) =
      if (approx) approx_count_distinct(c, 0.02) else countDistinct(c)
    val t = docs(s, d).select(col("source"), TextOps.tokens(col("text")).as("ws"))
    val uni = t.select(col("source"), explode(col("ws")).as("w"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("total_tokens"),
        nDistinct(col("w")).as("distinct_tokens"))
    val tri = t.filter(size(col("ws")) >= 3)
      .select(col("source"), explode(transform(
        sequence(lit(1), size(col("ws")) - 2),
        i => concat_ws(" ", slice(col("ws"), i, lit(3))))).as("g"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("total_trigrams"),
        nDistinct(col("g")).as("distinct_trigrams"))
    def ratio(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      (a.cast(DoubleType) / b.cast(DoubleType))
        .cast(DecimalType(18, 6)).cast(DoubleType)
    uni.join(tri, Seq("source"), "left")
      .select(col("source"), col("total_tokens"), col("distinct_tokens"),
        ratio(col("distinct_tokens"), col("total_tokens")).as("ttr"),
        col("total_trigrams"), col("distinct_trigrams"),
        ratio(col("distinct_trigrams"), col("total_trigrams"))
          .as("trigram_diversity"))
      .orderBy(col("source"))
  }

  private def q151OracleSql: String = {
    def ratio(a: String, b: String) =
      s"""CAST(CAST(CAST(CAST($a AS DOUBLE) / CAST($b AS DOUBLE)
          AS VARCHAR) AS DECIMAL(18, 6)) AS DOUBLE)"""
    s"""
      WITH t AS (SELECT source, $duckWords ws FROM documents),
      ua AS (SELECT source, count(*) total_tokens,
               count(DISTINCT w) distinct_tokens
             FROM (SELECT source, unnest(ws) w FROM t) GROUP BY source),
      g0 AS (SELECT source, [array_to_string(ws[i:i+2], ' ')
               for i in generate_series(1, len(ws) - 2)] gs
             FROM t WHERE len(ws) >= 3),
      ga AS (SELECT source, count(*) total_trigrams,
               count(DISTINCT g) distinct_trigrams
             FROM (SELECT source, unnest(gs) g FROM g0) GROUP BY source)
      SELECT ua.source, total_tokens, distinct_tokens,
        ${ratio("distinct_tokens", "total_tokens")} AS ttr,
        total_trigrams, distinct_trigrams,
        ${ratio("distinct_trigrams", "total_trigrams")} AS trigram_diversity
      FROM ua LEFT JOIN ga ON ua.source = ga.source
      ORDER BY ua.source"""
  }

  /** The edit-distance near-dups' per-doc payload: (doc_id, bkeys, text)
    * of every eligible doc. */
  private def editBase(s: SparkSession, d: String): DataFrame =
    spreadForKernels(docs(s, d))
      .filter(TextOps.eligible(col("text")))
      .select(col("doc_id"), TextOps.signature(col("text")).as("sig"), col("text"))
      .select(col("doc_id"), array(TextOps.bandKeys(col("sig")): _*).as("bkeys"),
        col("text"))

  /** The edit-distance bound of q152/q157, as a fraction of the longer
    * text. It rides as the decimal literal 0.2 in BOTH engines (each
    * parses it to the same nearest double).
    */
  private val EditDistFrac = 0.2

  /** q152's kept pairs: edit distance ≤ [[EditDistFrac]] of the longer
    * text (see the Q entry comment); edit_sim is canonicalized via the
    * decimal-cast hop.
    *
    * Verification is BUCKET-LOCAL, [[verifiedEdgesOf]]' pipeline
    * ([[graft.operators.Dedup.verifyBuckets]]) with the
    * [[graft.functions.VerifiedEditPairs]] generator, whose doc has the
    * measured why and the per-pair cost discipline; buckets past
    * `hotCap` verify through the pair-join form.
    */
  private[graft] def editDistanceNearDup(s: SparkSession, d: String,
      hotCap: Int = 4096): DataFrame = {
    import graft.operators.Dedup
    withEditSim(Dedup.verifyBuckets(editBase(s, d), s"editprobe:$d", hotCap,
      PruneBroadcastLimit, Dedup.editWithin(EditDistFrac)))
  }

  /** q157's rep-verified edges: [[editDistanceNearDup]]'s sub-quadratic
    * scale form (see the Q entry comment) — within each (band, bkey)
    * bucket every member verifies against the bucket REPRESENTATIVE
    * (minimum doc_id) only. No hot-bucket fallback: a 10⁶-member clone
    * bucket costs 10⁶−1 kernel calls here, which is the point.
    *
    * The id-join plan: only (doc_id, band, bkey) IDS flow through the
    * banding — the rep per bucket is a partial-aggregated min over ids
    * (no text ever sits in an aggregation buffer, so executor memory is
    * flat at any clone cardinality), and the cross-band distinct
    * collapses the pair set to ≤ Σ(b−1) unique (rep, member) pairs
    * BEFORE [[graft.operators.Dedup.verifyPairs]] moves any text. A
    * bucket-collect generator form measured OOM at 8 GB / 5M docs where
    * this form ran 75.5 s with zero spill (PLANS.md Round 12), and was
    * deleted.
    */
  private[graft] def editDistanceNearDupRep(s: SparkSession, d: String): DataFrame = {
    import graft.operators.Dedup
    val base = editBase(s, d)
    val pairs = Dedup.repPairs(Dedup.bandRows(base, Seq("doc_id")), "rep_id")
      .select(col("rep_id").as("doc_a"), col("doc_id").as("doc_b"))
      .distinct()
    withEditSim(Dedup.verifyPairs(pairs, base, Dedup.editWithin(EditDistFrac)))
  }

  /** q152/q157's output: the verified (doc_a, doc_b, edit_dist, max_len)
    * pairs with `edit_sim`, ordered. */
  private def withEditSim(verified: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.{DecimalType, DoubleType}
    verified
      .select(col("doc_a"), col("doc_b"), col("edit_dist"), col("max_len"),
        (lit(1.0) - col("edit_dist").cast(DoubleType) /
            col("max_len").cast(DoubleType))
          .cast(DecimalType(18, 6)).cast(DoubleType).as("edit_sim"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  private def q157OracleSql: String = s"""
      WITH ${duckSigCte(8)},
      ${duckBandsCte},
      rep AS (SELECT band, bkey, min(doc_id) AS rep_id FROM bands
              GROUP BY band, bkey),
      cand AS (SELECT DISTINCT r.rep_id AS doc_a, b.doc_id AS doc_b
        FROM bands b JOIN rep r ON b.band = r.band AND b.bkey = r.bkey
        WHERE b.doc_id > r.rep_id),
      v AS (SELECT c.doc_a, c.doc_b,
          CAST(levenshtein(ta.text, tb.text) AS BIGINT) AS edit_dist,
          CAST(greatest(length(ta.text), length(tb.text)) AS BIGINT) AS max_len
        FROM cand c JOIN documents ta ON ta.doc_id = c.doc_a
          JOIN documents tb ON tb.doc_id = c.doc_b)
      SELECT doc_a, doc_b, edit_dist, max_len,
        CAST(CAST(CAST(CAST(1 AS DOUBLE)
          - CAST(edit_dist AS DOUBLE) / CAST(max_len AS DOUBLE)
          AS VARCHAR) AS DECIMAL(18, 6)) AS DOUBLE) AS edit_sim
      FROM v
      WHERE CAST(edit_dist AS DOUBLE) <= CAST(0.2 AS DOUBLE) * CAST(max_len AS DOUBLE)
      ORDER BY doc_a, doc_b"""

  private def q158OracleSql: String = s"""
      WITH RECURSIVE ${duckSigCte(8)},
      ${duckBandsCte},
      rep AS (SELECT band, bkey, min(doc_id) AS rep_id FROM bands
              GROUP BY band, bkey),
      cand AS (SELECT DISTINCT r.rep_id AS doc_a, b.doc_id AS doc_b
        FROM bands b JOIN rep r ON b.band = r.band AND b.bkey = r.bkey
        WHERE b.doc_id > r.rep_id),
      v AS (SELECT c.doc_a, c.doc_b,
          CAST(levenshtein(ta.text, tb.text) AS BIGINT) AS edit_dist,
          CAST(greatest(length(ta.text), length(tb.text)) AS BIGINT) AS max_len
        FROM cand c JOIN documents ta ON ta.doc_id = c.doc_a
          JOIN documents tb ON tb.doc_id = c.doc_b),
      kept AS (SELECT doc_a, doc_b FROM v
        WHERE CAST(edit_dist AS DOUBLE) <= CAST(0.2 AS DOUBLE) * CAST(max_len AS DOUBLE)),
      e2 AS (SELECT doc_a AS s, doc_b AS t FROM kept
             UNION ALL SELECT doc_b, doc_a FROM kept),
      reach(doc_id, r) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT reach.doc_id, e2.t FROM reach JOIN e2 ON e2.s = reach.r)
      SELECT doc_id, min(r) AS rep, doc_id = min(r) AS is_kept
      FROM reach GROUP BY doc_id ORDER BY doc_id"""

  private def q152OracleSql: String = s"""
      WITH ${duckSigCte(8)},
      ${duckBandsCte},
      cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
      v AS (SELECT c.doc_a, c.doc_b,
          CAST(levenshtein(ta.text, tb.text) AS BIGINT) AS edit_dist,
          CAST(greatest(length(ta.text), length(tb.text)) AS BIGINT) AS max_len
        FROM cand c JOIN documents ta ON ta.doc_id = c.doc_a
          JOIN documents tb ON tb.doc_id = c.doc_b)
      SELECT doc_a, doc_b, edit_dist, max_len,
        CAST(CAST(CAST(CAST(1 AS DOUBLE)
          - CAST(edit_dist AS DOUBLE) / CAST(max_len AS DOUBLE)
          AS VARCHAR) AS DECIMAL(18, 6)) AS DOUBLE) AS edit_sim
      FROM v
      WHERE CAST(edit_dist AS DOUBLE) <= CAST(0.2 AS DOUBLE) * CAST(max_len AS DOUBLE)
      ORDER BY doc_a, doc_b"""

  /** q148's bigram count floor and result size. */
  private val PmiMinCount = 5L
  private val PmiTopK = 30

  /** q148's PMI pipeline (see the Q entry comment). [[PmiMinCount]]
    * prunes noise bigrams BEFORE the unigram joins (standard collocation
    * practice, and the join input shrinks to the hot tail).
    */
  private[graft] def pmiTopK(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types.{DecimalType, DoubleType}
    val t = docs(s, d).select(TextOps.tokens(col("text")).as("ws"))
    val totRow = t.agg(sum(size(col("ws")).cast("long")).as("tu"),
      sum((size(col("ws")) - 1).cast("long")).as("tb")).head()
    val tu = totRow.getLong(0).toDouble
    val tb = totRow.getLong(1).toDouble
    val uni = t.select(explode(col("ws")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("cu"))
    val bi = t.filter(size(col("ws")) >= 2)
      .select(explode(zip_with(
        slice(col("ws"), lit(1), size(col("ws")) - 1),
        slice(col("ws"), lit(2), size(col("ws")) - 1),
        (a, b) => struct(a.as("a"), b.as("b")))).as("bg"))
      .select(col("bg.a").as("w1"), col("bg.b").as("w2"))
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("cb"))
      .filter(col("cb") >= PmiMinCount)
    bi.join(uni.select(col("w").as("u1"), col("cu").as("c1")),
        col("w1") === col("u1"))
      .join(uni.select(col("w").as("u2"), col("cu").as("c2")),
        col("w2") === col("u2"))
      .select(col("w1"), col("w2"), col("cb"),
        ((col("cb").cast(DoubleType) / lit(tb)) /
          ((col("c1").cast(DoubleType) / lit(tu)) *
            (col("c2").cast(DoubleType) / lit(tu))))
          .cast(DecimalType(18, 6)).cast(DoubleType).as("pmi_ratio"))
      .orderBy(col("pmi_ratio").desc, col("w1"), col("w2"))
      .limit(PmiTopK)
  }

  private def q148OracleSql: String = s"""
      WITH t AS (SELECT $duckWords ws FROM documents),
      tot AS (SELECT sum(len(ws)) tu, sum(len(ws) - 1) tb FROM t),
      b0 AS (SELECT [{'w1': ws[i + 1], 'w2': ws[i + 2]}
               for i in generate_series(0, len(ws) - 2)] gs
             FROM t WHERE len(ws) >= 2),
      bg AS (SELECT unnest(gs, recursive := true) FROM b0),
      bc AS (SELECT w1, w2, count(*) cb FROM bg GROUP BY 1, 2
             HAVING count(*) >= 5),
      uc AS (SELECT w, count(*) cu FROM (SELECT unnest(ws) w FROM t)
             GROUP BY w),
      j AS (SELECT b.w1, b.w2, b.cb,
          CAST(CAST((CAST(b.cb AS DOUBLE) / CAST(tot.tb AS DOUBLE))
            / ((CAST(u1.cu AS DOUBLE) / CAST(tot.tu AS DOUBLE))
              * (CAST(u2.cu AS DOUBLE) / CAST(tot.tu AS DOUBLE)))
            AS VARCHAR) AS DECIMAL(18, 6)) AS pmi_ratio
        FROM bc b JOIN uc u1 ON u1.w = b.w1 JOIN uc u2 ON u2.w = b.w2
        CROSS JOIN tot)
      SELECT w1, w2, cb, CAST(pmi_ratio AS DOUBLE) AS pmi_ratio FROM j
      ORDER BY pmi_ratio DESC, w1, w2 LIMIT 30"""

  private def q142OracleSql: String = s"""
      WITH ${duckIvfCtes(8, 2, 64)},
      probe_sc AS (SELECT e.vec_id AS qid, e.embedding AS qv, c.cid,
          ${duckCos("e.embedding", "c.cv")} AS cos
        FROM embeddings e, ${duckIvfCents(2)} c WHERE e.vec_id % 2 = 0),
      probe AS (SELECT qid, qv, cid FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
            ORDER BY cos DESC, cid) AS rn
          FROM probe_sc) t WHERE rn <= 2),
      cand AS (SELECT a.vec_id AS bid, e.embedding AS bv, a.cid
        FROM ${duckIvfFinal(2)} a JOIN embeddings e ON e.vec_id = a.vec_id
        WHERE a.vec_id % 2 = 1),
      pairs AS (SELECT p.qid, c.bid, ${duckCos("p.qv", "c.bv")} AS cosine
        FROM probe p JOIN cand c ON p.cid = c.cid),
      na AS (SELECT qid, CAST(sum(CAST(CAST(cosine AS VARCHAR)
            AS DECIMAL(24, 6))) AS DOUBLE) / count(*) AS na
        FROM (SELECT qid, cosine, ROW_NUMBER() OVER (PARTITION BY qid
            ORDER BY cosine DESC, bid) AS rn FROM pairs) t
        WHERE rn <= 4 GROUP BY 1),
      nb AS (SELECT bid, CAST(sum(CAST(CAST(cosine AS VARCHAR)
            AS DECIMAL(24, 6))) AS DOUBLE) / count(*) AS nb
        FROM (SELECT bid, cosine, ROW_NUMBER() OVER (PARTITION BY bid
            ORDER BY cosine DESC, qid) AS rn FROM pairs) t
        WHERE rn <= 4 GROUP BY 1),
      m AS (SELECT p.qid, p.bid, p.cosine,
          round(p.cosine / ((na.na + nb.nb) / 2), 6) AS margin
        FROM pairs p JOIN na ON na.qid = p.qid JOIN nb ON nb.bid = p.bid)
      SELECT qid AS src_id, bid AS tgt_id, cosine, margin FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
          ORDER BY margin DESC, bid) AS rn FROM m) t
      WHERE rn = 1 AND margin > 1.0
      ORDER BY src_id"""
}
