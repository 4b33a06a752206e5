package graft

import org.apache.spark.metrics.source.CodegenMetrics

/** A second pass of the benched queries in one JVM reuses the classes
  * the first pass compiled. Spark keeps compiled classes in one
  * JVM-wide LRU cache whose size it reads once, at the JVM's first
  * compile; the launch line (`build.sbt` `javaOptions`,
  * `tools/run_main.sh`) fixes that size, so this spec does not depend
  * on which suites ran before it. With Spark's default of 100 entries
  * the 300-odd classes of one pass evict each other and every pass
  * recompiles them all.
  */
class CodegenCacheSpec extends SparkSpec {

  private def compiles: Long =
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  private def pass(): Long = {
    val before = compiles
    (SparkEntry.headline ++ SparkEntry.scaleBench).foreach { d =>
      d.fn(spark, sfDir).write.format("noop").mode("overwrite").save()
    }
    compiles - before
  }

  test("a second pass of the benched queries compiles at most 20 classes") {
    val first = pass()
    val second = pass()
    info(s"compiles: first pass $first, second pass $second")
    assert(second <= 20,
      s"second pass compiled $second classes (first pass $first); cache " +
        s"size ${sys.props.getOrElse("spark.sql.codegen.cache.maxEntries", "default")}")
  }
}
