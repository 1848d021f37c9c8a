package graft.plans

import org.apache.spark.sql.functions.{abs, lit}
import org.scalatest.funsuite.AnyFunSuite

import graft._
import graft.TestSpark

/** The band-join optimizer rule: a naive `abs(l - r) <= delta` inner
  * join must plan as a bucketed equi join (no nested loop) and produce
  * exactly the nested-loop answer — multiplicity, negatives, nulls. */
class BandJoinRewriteSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val lRows = Seq((1L, 0L), (2L, 99L), (3L, 100L), (4L, -150L),
    (5L, -150L), (6L, 250L), (7L, 0L))
  private val rRowsOpt = Seq((10L, Some(100L)), (11L, Some(-51L)),
    (12L, Some(-250L)), (13L, None), (14L, Some(100L)))

  test("naive abs-band join rewrites to a bucketed equi join, same rows") {
    val l = lRows.toDF("lid", "lv")
    val r = rRowsOpt.toDF("rid", "rv")
    val joined = l.join(r, abs($"lv" - $"rv") <= 100)

    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"), s"rule did not fire:\n$plan")

    val got = joined.select("lid", "rid").as[(Long, Long)].collect().sorted
    val want = (for {
      (lid, lv) <- lRows
      (rid, rvo) <- rRowsOpt
      rv <- rvo
      if math.abs(lv - rv) <= 100
    } yield (lid, rid)).sorted
    assert(got.toSeq == want)
    // the boundary and negative cases really are exercised
    assert(want.contains((1L, 10L)))  // |0-100| == delta, adjacent bucket
    assert(want.contains((4L, 12L)))  // negatives: |-150 - -250| == 100
    assert(want.contains((5L, 11L)))  // duplicate left rows both survive
    assert(!want.exists(_._2 == 13L)) // null never matches
  }

  test("reversed literal form and extra non-equi conjuncts also rewrite") {
    val l = lRows.toDF("lid", "lv")
    val r = rRowsOpt.toDF("rid", "rv")
    val joined = l.join(r, lit(100) >= abs($"rv" - $"lv") && $"lid" < $"rid")
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(joined.count() ==
      (for { (lid, lv) <- lRows; (rid, rvo) <- rRowsOpt; rv <- rvo
             if math.abs(lv - rv) <= 100 && lid < rid } yield 1).size)
  }

  // The rule once had its own enable conf, named in this test; excluding
  // it by class name is now the one way to keep the naive plan.
  test("spark.graft.bandJoinRewrite.enabled=false keeps the naive plan") {
    val l = lRows.toDF("lid", "lv")
    val r = rRowsOpt.toDF("rid", "rv")
    val key = "spark.sql.optimizer.excludedRules"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, "graft.plans.BandJoinRewrite")
    try {
      val joined = l.join(r, abs($"lv" - $"rv") <= 100)
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastNestedLoopJoin"), s"exclusion ignored:\n$plan")
      val want = (for { (_, lv) <- lRows; (_, rvo) <- rRowsOpt; rv <- rvo
                        if math.abs(lv - rv) <= 100 } yield 1).size
      assert(joined.count() == want) // same answer, naive plan
    } finally prior.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("does not fire when an equi key already exists, or on doubles") {
    val l = Seq((1L, 1L, 0.5)).toDF("k", "lid", "lv")
    val r = Seq((1L, 2L, 0.6)).toDF("k", "rid", "rv")
    val withEqui = l.join(r.withColumnRenamed("k", "k2"),
      $"k" === $"k2" && abs($"lid" - $"rid") <= 5)
    assert(withEqui.queryExecution.optimizedPlan.toString
      .contains("Join Inner")) // planned as plain hash join, no Generate
    assert(!withEqui.queryExecution.optimizedPlan.toString.contains("explode"))
    // double-typed band: rule must stay away (float bucketing can misbucket)
    val dbl = l.join(r.withColumnRenamed("k", "k2"), abs($"lv" - $"rv") <= 0.2)
    assert(!dbl.queryExecution.optimizedPlan.toString.contains("explode"))
    assert(dbl.count() == 1)
  }
}
