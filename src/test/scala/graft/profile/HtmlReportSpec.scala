package graft.profile

import org.scalatest.funsuite.AnyFunSuite

/** Rendering checks that need no Spark session and no reference data. */
class HtmlReportSpec extends AnyFunSuite {

  private def profile(r: Double) = TableProfile(
    nRows = 3, nCols = 2, nDuplicateRows = 0,
    numeric = Nil, strings = Nil,
    correlations = Seq(("a", "b", r), ("a", "c", 0.5)), alerts = Nil,
    spearman = Seq(("a", "b", r), ("a", "c", -0.25)))

  test("a correlation that rounds to zero prints 0.0000 whatever its sign") {
    val neg = HtmlReport.render("t", profile(-1e-17))
    assert(!neg.contains("-0.0000"))
    assert(neg === HtmlReport.render("t", profile(0.0)))
    assert(neg === HtmlReport.render("t", profile(1e-17)))
    // the other cells keep their sign and four decimals
    assert(neg.contains("<td>0.5000</td>"))
    assert(neg.contains("<td>-0.2500</td>"))
    assert("<td>0\\.0000</td>".r.findAllIn(neg).size === 2)
  }
}
