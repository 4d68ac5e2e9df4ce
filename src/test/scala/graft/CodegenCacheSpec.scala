package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.catalyst.expressions.{Add, BoundReference, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.types.IntegerType

/** The generated-code cache holds the engine's working set: loading
  * `GraftExtensions` sized it before anything compiled, so a class
  * compiled once is not compiled again a few hundred classes later.
  */
class CodegenCacheSpec extends SparkSpec {

  test("codegen cache: re-running compiled projections compiles nothing") {
    assert(spark.conf.get("spark.sql.extensions") === "graft.GraftExtensions")
    // `input + i`: the int literal is inlined, so each i is its own class
    val input = BoundReference(0, IntegerType, nullable = false)
    def project(i: Int) = GenerateUnsafeProjection.generate(Seq(Add(input, Literal(i))))
    (0 until 300).foreach(project)
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    (0 until 10).foreach(project)
    assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount === compiles,
      "re-running the first projections recompiled them: the cache evicted " +
      "its own working set")
  }
}
