package graft

import java.nio.file.Files
import java.sql.{Date, Timestamp}
import java.time.LocalDateTime
import org.apache.spark.sql.{Column, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{BinaryComparison, Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{ColumnarToRowExec, FileSourceScanExec, FilterExec, InputAdapter, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.plans.ParamLiteral

/** `ScanFilterParamStrategy` must not change what a file-scan filter
  * keeps: for every comparison and every primitive constant type, a
  * session with the strategy returns the rows a session without it
  * returns. Sampling is seeded, so runs are deterministic.
  */
class ScanFilterParamSpec extends SparkSpec {
  import scala.jdk.CollectionConverters._

  private def samples[T](gen: Gen[T], n: Int): Seq[T] =
    (1 to n).map(i => gen.pureApply(Gen.Parameters.default, Seed(1000L + i)))

  private val day0 = LocalDateTime.of(2024, 1, 1, 0, 0)
  /** One generator per column: the constant and cell values share it, so
    * equalities hit. */
  private val columns: Seq[(String, DataType, Gen[Any])] = Seq(
    ("i", IntegerType, Gen.choose(-5, 5)),
    ("l", LongType, Gen.choose(-5L, 5L).map(_ * 1000000000000L)),
    ("d", DoubleType, Gen.oneOf(Gen.choose(-5, 5).map(_ / 2.0),
      Gen.oneOf(Double.NaN, -0.0, Double.PositiveInfinity))),
    ("dt", DateType, Gen.choose(0, 6).map(n => Date.valueOf(day0.toLocalDate.plusDays(n)))),
    ("ts", TimestampType, Gen.choose(0, 6).map(n => Timestamp.valueOf(day0.plusHours(n)))),
    ("ntz", TimestampNTZType, Gen.choose(0, 6).map(n => day0.plusMinutes(n))),
    ("b", BooleanType, Gen.oneOf(true, false)),
  )
  private val schema = StructType(columns.map { case (n, t, _) => StructField(n, t) })
  private val rowGen: Gen[Row] = Gen.sequence[Seq[Any], Any](columns.map { case (_, _, g) =>
    Gen.frequency(1 -> Gen.const(null), 6 -> g) }).map(Row.fromSeq)

  private val ops: Seq[(String, (Column, Column) => Column)] = Seq(
    "=" -> (_ === _), "<" -> (_ < _), "<=" -> (_ <= _), ">" -> (_ > _),
    ">=" -> (_ >= _), "<=>" -> (_ <=> _))
  private val predGen: Gen[(String, Column)] = for {
    (name, _, value) <- Gen.oneOf(columns)
    (op, f) <- Gen.oneOf(ops)
    v <- value
    flip <- Gen.oneOf(true, false)
  } yield (s"$name $op $v${if (flip) " (flipped)" else ""}",
    if (flip) f(lit(v), col(name)) else f(col(name), lit(v)))

  test("parquet filters return the same rows with and without the strategy") {
    val path = Files.createTempDirectory("graft-params").toString + "/t.parquet"
    spark.createDataFrame(samples(rowGen, 300).asJava, schema)
      .repartition(3).write.parquet(path)
    val plain = spark.newSession()
    val withParams = spark.newSession()
    GraftExtensions.register(withParams)
    /** Sorted rows, and (literal, parameter) counts in the scan filters. */
    def rows(s: SparkSession, pred: Column) = {
      val df = s.read.parquet(path).where(pred)
      val conditions = ScanFilterParamSpec.scanFilters(df.queryExecution.executedPlan)
      def count(pf: PartialFunction[Expression, Unit]) =
        conditions.map(_.collect { case c: BinaryComparison => c.children.count(pf.isDefinedAt) }
          .sum).sum
      (df.collect().map(_.toString).sorted.toSeq,
        count { case Literal(v, t) if v != null && CodeGenerator.isPrimitiveType(t) => },
        count { case _: ParamLiteral => })
    }
    val hits = samples(predGen, 60).map { case (label, pred) =>
      val (expected, literals, _) = rows(plain, pred)
      val (got, left, params) = rows(withParams, pred)
      assert(got == expected, label)
      assert(left == 0 && params == literals, s"$label: $literals literals, $params parameters")
      (expected.length, params)
    }
    // The sample exercises both outcomes and mostly parameterized filters.
    assert(hits.count(_._1 > 0) > 10 && hits.count(_._1 < 300) > 10)
    assert(hits.count(_._2 > 0) > 40)
  }
}

object ScanFilterParamSpec extends AdaptiveSparkPlanHelper {
  /** Conditions of the filters directly above a file scan in an executed
    * plan (AQE stages included): planning puts the `FilterExec` right on
    * the scan, and preparation may insert a columnar-to-row transition
    * and a codegen input adapter in between. */
  def scanFilters(plan: SparkPlan): Seq[Expression] = {
    def overScan(p: SparkPlan): Boolean = p match {
      case _: FileSourceScanExec => true
      case ColumnarToRowExec(c) => overScan(c)
      case InputAdapter(c) => overScan(c)
      case _ => false
    }
    collect(plan) { case FilterExec(c, child) if overScan(child) => c }
  }
}
