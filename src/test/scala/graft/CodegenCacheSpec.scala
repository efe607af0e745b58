package graft

import org.apache.spark.GraftTestSpark

/** Generated code must survive from one run of a plan to the next in the
  * same session: a run whose working set exceeds Spark's default cache of
  * 100 classes used to recompile every class on every run.
  */
class CodegenCacheSpec extends SparkSpec {

  /** 150 queries whose generated classes differ only in inlined
    * literals: ≈300 distinct classes, two per query, and no
    * exchange, so adaptive execution cannot renumber their stages.
    */
  private def pass(): Long = {
    val before = GraftTestSpark.codegenCompiles
    (1 to 150).foreach { i =>
      val rows = spark.range(0, 64, 1, 1)
        .selectExpr(s"id * $i + $i AS x")
        .filter(s"x % 3 = ${i % 3}")
        .collect()
      assert(rows.nonEmpty)
    }
    GraftTestSpark.codegenCompiles - before
  }

  test("session reports the sized codegen cache") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") == "1000")
  }

  test("second run of a >100-class composition compiles at most a handful of classes") {
    val first = pass()
    val second = pass()
    assert(first > 100, s"the composition must exceed the default cache: $first compiles")
    assert(second <= 5, s"second run recompiled $second of $first classes")
  }
}
