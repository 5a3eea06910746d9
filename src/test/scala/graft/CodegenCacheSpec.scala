package graft

import org.apache.spark.metrics.source.CodegenMetrics

/** A session from `Util.sessionBuilder` keeps every generated class of a
  * working set larger than Spark's 100-entry default cache: repeating a
  * pass of distinct queries compiles nothing. Under the default the
  * second pass recompiles the whole set (least-recently-used eviction
  * over a cycle longer than the cache). The cache is sized when
  * CodeGenerator first loads, from the first session that compiles;
  * every suite in this JVM builds that session through SparkTestBase.
  */
class CodegenCacheSpec extends SparkTestBase {

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  test("a repeat pass over more than 100 generated classes compiles nothing") {
    // the literals differ per query, so each whole-stage class is distinct
    val queries = (1 to 160).map { i =>
      () => spark.range(0, 6, 1, 1)
        .selectExpr(s"id * ${7919 + i} + ${i % 13} AS v").collect().map(_.getLong(0)).toSeq
    }
    def pass(): (Seq[Seq[Long]], Long) = {
      val before = compiles
      val rows = queries.map(_())
      (rows, compiles - before)
    }
    val (first, firstCompiles) = pass()
    val (second, secondCompiles) = pass()
    assert(firstCompiles > 100, "the first pass must outgrow the default cache")
    assert(secondCompiles == 0,
      s"second pass recompiled $secondCompiles of $firstCompiles classes")
    assert(second == first)
    assert(first(0) == (0L until 6L).map(_ * 7920 + 1))
  }
}
