package graft.plans

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.{Ascending, Literal, Rand, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, Sort}
import org.apache.spark.sql.execution.LocalTableScanExec
import org.apache.spark.sql.functions.{col, collate, length}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.TestSpark.jobsOf

/** The local-relation sort rule: a sort of driver-local rows must order
  * them exactly as Spark's own sort of the same rows does — direction,
  * null placement, several keys, NaN and -0.0, expression and collated
  * keys — plan as a bare local table scan and collect with no job, and
  * leave every other sort alone. */
class SortLocalRelationSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val schema = StructType(Seq(
    StructField("channel", StringType),
    StructField("n", IntegerType),
    StructField("d", DoubleType)))
  // ties on every key; "b" < "c" < "D" only under UTF8_LCASE
  private val rows = Seq[(String, Integer, java.lang.Double)](
    ("b", 3, 1.5), ("A", null, Double.NaN), ("c", 1, -0.0), ("D", 3, 0.0),
    ("b", null, -2.0), (null, 2, Double.NaN), ("Amps", 1, Double.PositiveInfinity),
    ("c", 2, null), ("Temp", 5, 0.0), ("D", 4, -0.0))

  /** The rows as a local relation. */
  private def df: DataFrame = spark.createDataFrame(
    java.util.Arrays.asList(rows.map { case (c, n, d) => Row(c, n, d) }: _*), schema)

  /** One key value as compared: NaN by name, -0.0 as 0.0 (Spark orders
    * the two as equal, so their places among ties are free). */
  private def norm(v: Any): Any = v match {
    case d: Double if d.isNaN => "NaN"
    case d: Double if d == 0.0 => 0.0
    case o => o
  }

  /** The key values of `d` sorted by `order`, in collected order. */
  private def keys(d: DataFrame, order: Seq[Column], key: Seq[Column]): Seq[Seq[Any]] =
    d.orderBy(order: _*).select(key: _*).collect().toSeq.map(_.toSeq.map(norm))

  private def agrees(order: Seq[Column], key: Seq[Column]): Unit = {
    val local = df.orderBy(order: _*)
    assert(local.queryExecution.optimizedPlan.isInstanceOf[LocalRelation],
      local.queryExecution.optimizedPlan)
    val spread = df.repartition(3)
    assert(spread.orderBy(order: _*).queryExecution.optimizedPlan
      .collectFirst { case s: Sort => s }.isDefined, "the reference must really sort")
    assert(keys(df, order, key) == keys(spread, order, key), order)
  }

  test("ascending and descending") {
    agrees(Seq(col("n").asc), Seq(col("n")))
    agrees(Seq(col("n").desc), Seq(col("n")))
    agrees(Seq(col("channel").asc), Seq(col("channel")))
  }

  test("NULLS FIRST and NULLS LAST") {
    agrees(Seq(col("n").asc_nulls_last), Seq(col("n")))
    agrees(Seq(col("n").desc_nulls_first), Seq(col("n")))
    agrees(Seq(col("channel").asc_nulls_first), Seq(col("channel")))
  }

  test("two keys") {
    agrees(Seq(col("channel").asc, col("n").desc), Seq(col("channel"), col("n")))
    agrees(Seq(col("n").desc_nulls_first, col("d").asc), Seq(col("n"), col("d")))
  }

  test("doubles with NaN and -0.0") {
    agrees(Seq(col("d").asc), Seq(col("d")))
    agrees(Seq(col("d").desc), Seq(col("d")))
    agrees(Seq(col("d").asc_nulls_last), Seq(col("d")))
  }

  test("a key that is an expression") {
    agrees(Seq(length(col("channel")).desc), Seq(length(col("channel"))))
  }

  test("a collated string key") {
    val k = collate(col("channel"), "UTF8_LCASE")
    agrees(Seq(k.asc), Seq(k))
    agrees(Seq(k.desc), Seq(k))
    assert(keys(df, Seq(k.asc), Seq(col("channel"))) !=
      keys(df, Seq(col("channel").asc), Seq(col("channel"))), "the collation must matter")
  }

  test("the sorted plan is a bare local table scan and collects with no job") {
    val q = df.orderBy(col("channel"), col("n"))
    assert(q.queryExecution.executedPlan.isInstanceOf[LocalTableScanExec],
      q.queryExecution.executedPlan)
    var got = Seq.empty[Row]
    val jobs = jobsOf { got = df.orderBy(col("channel"), col("n")).collect().toSeq }
    assert(jobs == 0, s"an ordered collect ran $jobs jobs")
    assert(got.size == rows.size)
  }

  test("a nondeterministic key keeps its Sort") {
    // built by hand: in a session, `orderBy(rand(7))` projects the key
    // first, and Spark's ConvertToLocalRelation evaluates that projection
    // into the rows before this rule sees a Sort
    val rel = df.queryExecution.analyzed
    assert(rel.isInstanceOf[LocalRelation], rel)
    val sorted = Sort(Seq(SortOrder(Rand(Literal(7L)), Ascending)), global = true, rel)
    assert(SortLocalRelation(sorted) eq sorted)
  }

  test("a Sort over a non-local child is unchanged") {
    // a local relation under the Sort, but not its child
    Seq(df.repartition(3).orderBy(col("n").desc),
        spark.range(10).toDF("n").orderBy(col("n").desc)).foreach { d =>
      val q = d.queryExecution.analyzed
      assert(SortLocalRelation(q) eq q, q)
    }
  }

  test("the rule is idempotent") {
    val analyzed = df.orderBy(col("d").desc, col("channel")).queryExecution.analyzed
    assert(analyzed.isInstanceOf[Sort], analyzed)
    val once = SortLocalRelation(analyzed)
    assert(once.isInstanceOf[LocalRelation], once)
    assert(SortLocalRelation(once) == once)
  }
}
