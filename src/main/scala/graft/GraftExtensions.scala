package graft

import org.apache.spark.sql.SparkSessionExtensions

import graft.functions.{BinaryResize, HalfBits, HalfValue, LongArrayDot, Md5Long60}

/** Session extensions for the library's native functions — attach with
  * `.config("spark.sql.extensions", "graft.GraftExtensions")` (or
  * `.withExtensions`). Registers `graft_h60` and `graft_dot` for SQL
  * text; the Column APIs ([[graft.functions.DetHash.h60]],
  * [[graft.functions.LongArrayDot.apply]]) embed the expressions
  * directly and need no registration. Injects two optimizer rules:
  * [[graft.plans.BandJoinRewrite]] (a band join as a bucketed equi
  * join) and [[graft.plans.SortLocalRelation]] (a sort of a local
  * relation done on the driver, so its ordered collect runs no job). */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction(Md5Long60.registryEntry)
    ext.injectFunction(LongArrayDot.registryEntry)
    ext.injectFunction(HalfBits.registryEntry)
    ext.injectFunction(HalfValue.registryEntry)
    ext.injectFunction(BinaryResize.registryEntry)
    ext.injectOptimizerRule(_ => graft.plans.BandJoinRewrite)
    ext.injectOptimizerRule(_ => graft.plans.SortLocalRelation)
  }
}
