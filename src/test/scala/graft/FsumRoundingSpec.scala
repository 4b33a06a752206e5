package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The caller guard `CoreQueries.fsum` cites: on fixed-point inputs the
  * cheap `floor(x + 0.5)` rounding sums to exactly what `round(x, 0)`
  * sums to. A new fsum call site checks its column shape here first.
  * The speed side of the swap is recorded in OPTIMIZATION_r17.md.
  */
class FsumRoundingSpec extends SparkSpec {

  test("floor(x + 0.5) sums equal round(x, 0) sums on lineitem") {
    val li = Tables(spark, sfDir, "lineitem")
    def sums(x: Column): (Long, Long) = {
      val r = li.agg(sum(round(x, 0).cast("long")),
        sum(floor(x + 0.5).cast("long"))).head()
      (r.getLong(0), r.getLong(1))
    }
    val revenue = sums(
      col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 10000.0)
    val quantity = sums(col("l_quantity") * 1.0)
    assert(revenue._1 === revenue._2)
    assert(quantity._1 === quantity._2)
    assert(li.count() > 0 && revenue._1 != 0L)
  }
}
