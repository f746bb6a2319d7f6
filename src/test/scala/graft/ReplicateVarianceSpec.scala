package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test}
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.VarRep

/** Differential property: [[VarRep.replicateVariance]] (the native
  * `SumSqDev` kernel of the replicates about the estimate) is bit-identical to
  * the higher-order `aggregate` fold it replaced, on int and double
  * inputs with null estimates, null replicates, null arrays and empty
  * arrays, through both the codegen'd and the interpreted path.
  */
class ReplicateVarianceSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** The replaced form: an interpreted left fold over the array. */
  private def hofVariance(est: Column, replicates: Column): Column =
    aggregate(replicates, lit(0.0),
      (acc, r) => acc + (r - est) * (r - est)) * lit(4.0 / 80.0)

  private def hofMoe(est: Column, replicates: Column): Column =
    sqrt(hofVariance(est, replicates)) * lit(graft.functions.AcsMath.Z90)

  /** Ints within 23,000 of a common base, so no replicate deviates by
    * 46,341 or more and the reference's int multiply cannot overflow;
    * doubles include the IEEE special values.
    */
  private def value(t: DataType, base: Int): Gen[Any] = t match {
    case IntegerType => Gen.choose(-23000, 23000).map(base + _)
    case _ => Gen.frequency(
      20 -> Gen.choose(-1e7, 1e7).map(base + _),
      1 -> Gen.oneOf(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity, -0.0))
  }

  private def orNull(g: Gen[Any]): Gen[Any] = Gen.frequency(12 -> g, 1 -> Gen.const(null))

  private def row(estT: DataType, repT: DataType): Gen[Row] = for {
    base <- Gen.choose(-2000000000, 2000000000).map(b => if (b > 0) b - 50000 else b + 50000)
    est <- orNull(value(estT, base))
    n <- Gen.frequency(1 -> Gen.const(0), 6 -> Gen.choose(1, 80))
    reps <- Gen.listOfN(n, orNull(value(repT, base)))
    arr <- Gen.frequency(15 -> Gen.const(reps), 1 -> Gen.const(null))
  } yield Row(est, arr)

  private def frame(rows: Seq[Row], estT: DataType, repT: DataType,
      codegen: Boolean): DataFrame = {
    val schema = StructType(Seq(StructField("est", estT),
      StructField("reps", ArrayType(repT, containsNull = true))))
    // an RDD source runs the projection in generated code; a local
    // relation is folded by the optimizer's interpreted projection
    if (codegen) spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
    else spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }

  private def bits(r: Row, i: Int): Option[Long] =
    if (r.isNullAt(i)) None else Some(java.lang.Double.doubleToLongBits(r.getDouble(i)))

  private val types = for {
    estT <- Seq(IntegerType, DoubleType); repT <- Seq(IntegerType, DoubleType)
  } yield (estT, repT)

  types.foreach { case (estT, repT) =>
    test(s"replicate variance and MOE are bit-identical to the HOF fold " +
        s"(${estT.simpleString} estimate, ${repT.simpleString} replicates)") {
      val p = Prop.forAll(Gen.listOfN(60, row(estT, repT)), Gen.oneOf(true, false)) {
        (rows, codegen) =>
          val (e, r) = (col("est"), col("reps"))
          frame(rows, estT, repT, codegen).select(
            VarRep.replicateVariance(e, r), hofVariance(e, r),
            VarRep.replicateMoe(e, r), hofMoe(e, r)).collect().forall { x =>
            bits(x, 0) == bits(x, 1) && bits(x, 2) == bits(x, 3)
          }
      }
      val res = Test.check(Test.Parameters.default.withMinSuccessfulTests(10), p)
      assert(res.passed, res.status.toString)
    }
  }
}
