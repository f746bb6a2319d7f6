package graft.functions

import java.nio.charset.StandardCharsets

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Trained hashed-posterior classifier model (q143): a DENSE array of
  * per-bucket posteriors in micros (posterior × 10⁶ as int — the
  * decimal-sum convention without a decimal: the per-doc sum is exact
  * long arithmetic). The hashing trick (fastText, Joulin et al.
  * arXiv:1607.01759) bounds the array at `nBuckets` entries BY
  * CONSTRUCTION — 4 MB at 2²⁰ — so the model rides one torrent
  * broadcast and scoring is a pure map-side projection: the corpus is
  * never joined, exploded, or shuffled to apply the model.
  */
final case class ClfModel(prefix: String, nBuckets: Int, micros: Array[Int])

object ClfModel {
  /** The 0.5 prior an unseen bucket contributes. */
  val DefaultMicros = 500000

  def build(prefix: String, nBuckets: Int,
      entries: Iterator[(Long, Double)]): ClfModel = {
    val arr = Array.fill(nBuckets)(DefaultMicros)
    entries.foreach { case (b, q) =>
      arr(b.toInt) = Math.round(q * 1e6).toInt
    }
    ClfModel(prefix, nBuckets, arr)
  }
}

/** Per-document mean hashed-bucket posterior — model application as ONE
  * expression over the token array: for each token, md5-bucket lookup
  * (`conv(substring(md5(prefix||w),1,8),16,10) % nBuckets`, the repo's
  * md5 convention — first 4 digest bytes read unsigned big-endian,
  * exactly [[MinHashSig]]'s), summed in exact long micros, then the
  * decimal→double→divide→round-6 chain of the compositional join form
  * (`sum(cast(q as decimal(24,6))).cast(double) / count`, round 6) —
  * bit-identical by construction and spec-locked against it. Returns
  * `struct<n_toks, clf_score>`; an empty or null-element array yields
  * null. `CodegenFallback` is deliberate: the md5 loop below IS the
  * work; there is nothing around it to fuse.
  */
case class DocMeanPosterior(model: Broadcast[ClfModel], child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def prettyName: String = "doc_mean_posterior"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<string>, got $t")
  }

  override def dataType: DataType = StructType(Seq(
    StructField("n_toks", LongType, nullable = false),
    StructField("clf_score", DoubleType, nullable = false)))

  override def nullable: Boolean = true

  override def nullSafeEval(wsAny: Any): Any = {
    val a = wsAny.asInstanceOf[ArrayData]
    val n = a.numElements()
    if (n == 0) return null
    val m = model.value
    val md = Md5.scratch()
    var sum = 0L
    var i = 0
    while (i < n) {
      if (a.isNullAt(i)) return null
      val w = a.getUTF8String(i).toString
      md.start()
      md.update((m.prefix + w).getBytes(StandardCharsets.UTF_8))
      val v = md.first(4)
      sum += m.micros((v % m.nBuckets).toInt)
      i += 1
    }
    // exact micros → double (sum < 2^53, one correctly-rounded divide —
    // identical to decimal(24,6) sum cast double), IEEE divide by n,
    // round 6 HALF_UP on the shortest decimal repr (Spark round(col, 6))
    val score = BigDecimal(sum.toDouble / 1e6 / n)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    InternalRow(n.toLong, score)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object ClfFunctions {
  import org.apache.spark.sql.{Column, GraftSqlBridge}

  /** Column API for [[DocMeanPosterior]]. */
  def docMeanPosterior(model: Broadcast[ClfModel], ws: Column): Column =
    GraftSqlBridge.column(DocMeanPosterior(model,
      GraftSqlBridge.expression(ws)))
}
