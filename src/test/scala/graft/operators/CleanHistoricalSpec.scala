package graft.operators

import graft.TestSpark
import graft.catalyst.ApproxAboveThreshold
import graft.io.Tables
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** The clean path's two percentile barriers (A1 IQR bounds, A2 medians)
  * are exact by default and turn approximate only through the session's
  * size valve — there is no caller-set switch. */
class CleanHistoricalSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("forced size valve makes medians and IQR bounds approximate, close to exact") {
    val li = Tables.load(spark, "/root/testdata/sf0.001", "lineitem")
      .select(col("l_extendedprice").as("current_price"), col("l_quantity"))
    val cols = Seq("current_price", "l_quantity")
    def run() = {
      val m = CleanHistorical.medians(li, cols)
      val outliers = CleanHistorical.withOutlierFlag(li, nullIsOutlier = false)
        .filter(col("is_outlier")).count()
      (m, outliers)
    }
    val ((exactM, exactOut), exactPlans) = TestSpark.withOptimizedPlans(spark)(run())
    assert(!exactPlans.exists(_.contains("percentile_approx")),
      "below the valve threshold the barriers stay exact")
    spark.conf.set(ApproxAboveThreshold.ThresholdKey, "0")
    val ((approxM, approxOut), approxPlans) =
      try TestSpark.withOptimizedPlans(spark)(run())
      finally spark.conf.unset(ApproxAboveThreshold.ThresholdKey)
    // one rewritten aggregate for the medians, one for the IQR bounds
    assert(approxPlans.count(_.contains("percentile_approx")) >= 2, approxPlans)
    assert(approxM.keySet === cols.toSet)
    assert(math.abs(exactM("l_quantity") - approxM("l_quantity")) <= 1.0) // 1..50
    val price = exactM("current_price")
    assert(math.abs(price - approxM("current_price")) <= 0.01 * price)
    val n = li.count()
    assert(math.abs(exactOut - approxOut) <= 0.01 * n,
      s"outliers: exact $exactOut vs approx $approxOut of $n")
  }
}
