package graft

import graft.functions._
import org.apache.spark.sql.{Column, GraftSessionAccess, Row}
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

/** Graft's own Catalyst expressions give the same values from their
  * generated code and from their interpreted `eval`, which small view
  * ticks run ([[graft.sources.TickBudget]]) and Spark falls back to. */
class ExprParitySpec extends SparkSpec {
  private val schema = StructType(Seq(
    StructField("s", StringType),
    StructField("h", ArrayType(LongType, containsNull = false)),
    StructField("h2", ArrayType(LongType, containsNull = false)),
    StructField("fa", ArrayType(FloatType, containsNull = false)),
    StructField("da", ArrayType(DoubleType, containsNull = false)),
    StructField("ts", TimestampType)))

  // nulls, empty inputs, ASCII and non-ASCII text, negative and extreme hashes
  private val rows = Seq(
    Row(null, null, null, null, null, null),
    Row("", Seq.empty[Long], Seq.empty[Long], Seq.empty[Float], Seq.empty[Double],
      java.sql.Timestamp.valueOf("1970-01-01 00:00:00")),
    Row("the quick brown fox jumps over the lazy dog", Seq(3L, -7L, Long.MaxValue, 0L),
      Seq(-7L, 0L, 5L), Seq(1.5f, -2.0f, 0.25f), Seq(0.1, 0.2, 0.3),
      java.sql.Timestamp.valueOf("2024-02-29 23:59:59.123456")),
    Row("ünïcödé 日本語のテキスト 🙂 emoji\tand\nwhitespace", Seq(Long.MinValue, 42L),
      Seq(Long.MinValue, 1L, 42L), Seq(Float.MaxValue, 1e-30f), Seq(-1.0, 1e300, 3.0),
      java.sql.Timestamp.valueOf("1999-12-31 12:00:00")),
    Row("a", Seq(1L), Seq(1L), Seq(0.0f, 0.0f), Seq(0.0, 0.0), null))

  private def c(e: Expression): Column = ColumnBridge.column(e)
  private def e(name: String): Expression = ColumnBridge.expression(col(name))

  private val clock = java.sql.Timestamp.valueOf("2026-01-02 03:04:05.678901")
  private val exprs: Seq[(String, Column)] = Seq(
    "portableHash" -> c(PortableHashExpr(e("s"))),
    "fingerprint" -> c(FingerprintExpr(e("s"), canonical = false)),
    "fingerprintCanonical" -> c(FingerprintExpr(e("s"), canonical = true)),
    "simHashPortable" -> c(SimHashPortableExpr(e("s"))),
    "minHash" -> c(MinHashSignature(e("h"), 16)),
    "simHash" -> c(SimHashFromHashes(e("h"))),
    "intersect" -> c(SortedLongIntersectCount(e("h2"), e("h2"))),
    "intersectOther" -> c(SortedLongIntersectCount(e("h2"),
      ColumnBridge.expression(org.apache.spark.sql.functions.array_sort(col("h"))))),
    "cosineFloat" -> c(VectorCosine(e("fa"), e("fa"))),
    "cosineDouble" -> c(VectorCosine(e("da"), e("da"))),
    "dotFloat" -> c(VectorDot(e("fa"), e("fa"))),
    "dotDouble" -> c(VectorDot(e("da"), e("da"))),
    "clockColumn" -> c(BatchClock(e("ts"))),
    "clockLiteral" -> c(BatchClock(Literal.create(
      org.apache.spark.sql.catalyst.util.DateTimeUtils.fromJavaTimestamp(clock), TimestampType))),
    "clockNull" -> c(BatchClock(Literal.create(null, TimestampType))))

  /** Each expression's values on `rows` under `mode`, exact (doubles by
    * their bits), and whether the plan ran whole-stage code. */
  private def evaluate(mode: String): (Seq[Seq[String]], Boolean) = {
    val s = GraftSessionAccess.cloneSession(spark)
    s.conf.set("spark.sql.codegen.factoryMode", mode)
    // from an RDD, so the optimizer cannot fold the projection on the driver
    val df = s.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
      .select(exprs.map { case (n, x) => x.as(n) }: _*)
    val out = df.collect().toSeq.map(_.toSeq.map(exact))
    val whole = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan.exists(_.isInstanceOf[WholeStageCodegenExec])
      case p => p.exists(_.isInstanceOf[WholeStageCodegenExec])
    }
    (out, whole)
  }

  private def exact(v: Any): String = v match {
    case d: Double => java.lang.Long.toHexString(java.lang.Double.doubleToRawLongBits(d))
    case xs: scala.collection.Seq[_] => xs.map(exact).mkString("[", ",", "]")
    case null => "null"
    case x => x.toString
  }

  test("graft expressions: generated code and interpreted eval agree on nulls, empty and non-ASCII rows") {
    val (generated, wholeG) = evaluate("CODEGEN_ONLY")
    val (interpreted, wholeI) = evaluate("NO_CODEGEN")
    assert(wholeG && !wholeI)
    assert(generated.length == rows.length)
    exprs.map(_._1).zipWithIndex.foreach { case (name, i) =>
      assert(generated.map(_(i)) == interpreted.map(_(i)), s"$name differs")
    }
    // the null row stays null wherever an input is null
    assert(interpreted.head.dropRight(2).forall(_ == "null"))
    assert(interpreted.head.last == "null")
    val lit = exprs.indexWhere(_._1 == "clockLiteral")
    assert(interpreted.map(_(lit)).distinct == Seq(clock.toString))
  }
}
