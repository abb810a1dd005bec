package graft.profile

/** S5: HTML report sink — renders a [[TableProfile]] to a standalone
  * HTML document with the same section structure as the reference's
  * profiling reports (overview, per-variable stats + histogram,
  * correlations, missing values, duplicates, alerts). Parity is on
  * structure and statistics, not bytes (SURVEY §7.4.7).
  */
object HtmlReport {

  private def esc(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")

  private def fmt(o: Option[Double]): String =
    o.map(v => f"$v%.6g").getOrElse("—")

  /** A correlation cell: a value that rounds to zero prints `0.0000`
    * whatever its sign — the sign of an exact zero is summation
    * order. */
  private def corr(r: Double): String = {
    val s = f"$r%.4f"
    if (s == "-0.0000") "0.0000" else s
  }

  private def bar(n: Long, maxN: Long): String = {
    val w = if (maxN <= 0) 0 else (n * 200 / maxN).toInt
    s"""<div style="background:#4a90d9;height:10px;width:${w}px"></div>"""
  }

  def render(title: String, p: TableProfile): String = {
    val sb = new StringBuilder
    sb ++= s"""<!DOCTYPE html><html><head><meta charset="utf-8"><title>${esc(title)}</title>
      |<style>body{font-family:sans-serif;margin:2em}table{border-collapse:collapse}
      |td,th{border:1px solid #ccc;padding:4px 8px;text-align:right}
      |th{background:#f0f0f0}h2{border-bottom:2px solid #4a90d9}
      |.alert{background:#fff3cd;padding:4px 8px;margin:2px}</style></head><body>
      |<h1>${esc(title)}</h1>
      |<h2>Overview</h2><table>
      |<tr><th>Rows</th><td>${p.nRows}</td></tr>
      |<tr><th>Columns</th><td>${p.nCols}</td></tr>
      |<tr><th>Duplicate rows</th><td>${p.nDuplicateRows}</td></tr>
      |<tr><th>Numeric columns</th><td>${p.numeric.size}</td></tr>
      |<tr><th>String columns</th><td>${p.strings.size}</td></tr>
      |</table>""".stripMargin

    if (p.alerts.nonEmpty) {
      sb ++= "<h2>Alerts</h2>"
      p.alerts.foreach(a => sb ++= s"""<div class="alert">${esc(a)}</div>""")
    }

    sb ++= "<h2>Variables</h2>"
    p.numeric.foreach { c =>
      sb ++= s"""<h3>${esc(c.name)} <small>(${esc(c.dtype)})</small></h3><table>
        |<tr><th>Non-null</th><td>${c.nNonNull}</td><th>Missing</th><td>${c.nMissing} (${f"${c.missingPct * 100}%.1f"}%)</td></tr>
        |<tr><th>Distinct</th><td>${c.nDistinct}</td><th>Zeros</th><td>${c.nZeros}</td></tr>
        |<tr><th>Negative</th><td>${c.nNegative}</td><th>Infinite</th><td>${c.nInfinite}</td></tr>
        |<tr><th>Mean</th><td>${fmt(c.mean)}</td><th>Std</th><td>${fmt(c.std)}</td></tr>
        |<tr><th>Min</th><td>${fmt(c.min)}</td><th>Max</th><td>${fmt(c.max)}</td></tr>
        |<tr><th>5%</th><td>${fmt(c.q05)}</td><th>95%</th><td>${fmt(c.q95)}</td></tr>
        |<tr><th>Q1</th><td>${fmt(c.q25)}</td><th>Q3</th><td>${fmt(c.q75)}</td></tr>
        |<tr><th>Median</th><td>${fmt(c.median)}</td><th>IQR</th><td>${fmt(c.iqr)}</td></tr>
        |<tr><th>Range</th><td>${fmt(c.range)}</td><th>CV</th><td>${fmt(c.cv)}</td></tr>
        |<tr><th>Skewness</th><td>${fmt(c.skew)}</td><th>Kurtosis</th><td>${fmt(c.kurt)}</td></tr>
        |</table>""".stripMargin
      if (c.histogram.nonEmpty) {
        val maxN = c.histogram.map(_._3).max
        sb ++= "<table><tr><th>Bin</th><th>Count</th><th></th></tr>"
        c.histogram.foreach { case (lo, hi, n) =>
          sb ++= s"<tr><td>${f"$lo%.4g"} – ${f"$hi%.4g"}</td><td>$n</td><td>${bar(n, maxN)}</td></tr>"
        }
        sb ++= "</table>"
      }
    }
    p.strings.foreach { c =>
      sb ++= s"""<h3>${esc(c.name)} <small>(string)</small></h3><table>
        |<tr><th>Non-null</th><td>${c.nNonNull}</td><th>Missing</th><td>${c.nMissing}</td></tr>
        |<tr><th>Distinct</th><td>${c.nDistinct}</td><th>Avg length</th><td>${fmt(c.avgLen)}</td></tr>
        |<tr><th>Min length</th><td>${c.minLen.getOrElse("—")}</td><th>Max length</th><td>${c.maxLen.getOrElse("—")}</td></tr>
        |</table>""".stripMargin
      if (c.topValues.nonEmpty) {
        val maxN = c.topValues.map(_._2).max
        sb ++= "<table><tr><th>Value</th><th>Count</th><th></th></tr>"
        c.topValues.foreach { case (v, n) =>
          sb ++= s"<tr><td>${esc(v)}</td><td>$n</td><td>${bar(n, maxN)}</td></tr>"
        }
        sb ++= "</table>"
      }
    }

    if (p.correlations.nonEmpty) {
      sb ++= "<h2>Correlations (Pearson)</h2><table><tr><th>A</th><th>B</th><th>r</th></tr>"
      p.correlations.foreach { case (a, b, r) =>
        sb ++= s"<tr><td>${esc(a)}</td><td>${esc(b)}</td><td>${corr(r)}</td></tr>"
      }
      sb ++= "</table>"
    }

    if (p.spearman.nonEmpty) {
      sb ++= "<h2>Correlations (Spearman)</h2><table><tr><th>A</th><th>B</th><th>ρ</th></tr>"
      p.spearman.foreach { case (a, b, r) =>
        sb ++= s"<tr><td>${esc(a)}</td><td>${esc(b)}</td><td>${corr(r)}</td></tr>"
      }
      sb ++= "</table>"
    }

    if (p.missingPatterns.nonEmpty) {
      sb ++= "<h2>Missing value patterns</h2>"
      sb ++= s"<p>Null-flag per column, in order: ${p.columnNames.map(esc).mkString(", ")}</p>"
      val maxN = p.missingPatterns.map(_._2).max
      sb ++= "<table><tr><th>Pattern</th><th>Rows</th><th></th></tr>"
      p.missingPatterns.foreach { case (pat, n) =>
        sb ++= s"<tr><td><code>${esc(pat)}</code></td><td>$n</td><td>${bar(n, maxN)}</td></tr>"
      }
      sb ++= "</table>"
    }

    def sampleTable(title: String, rows: Seq[Seq[String]]): Unit = if (rows.nonEmpty) {
      sb ++= s"<h3>$title</h3><table><tr>"
      p.columnNames.foreach(c => sb ++= s"<th>${esc(c)}</th>")
      sb ++= "</tr>"
      rows.foreach { r =>
        sb ++= "<tr>"; r.foreach(v => sb ++= s"<td>${esc(v)}</td>"); sb ++= "</tr>"
      }
      sb ++= "</table>"
    }
    if (p.headRows.nonEmpty || p.tailRows.nonEmpty) {
      sb ++= "<h2>Sample</h2>"
      sampleTable("First rows", p.headRows)
      sampleTable("Last rows", p.tailRows)
    }

    sb ++= "</body></html>"
    sb.toString
  }

  def toFile(title: String, p: TableProfile, path: String): Unit = {
    val f = new java.io.File(path)
    Option(f.getParentFile).foreach(_.mkdirs())
    java.nio.file.Files.writeString(f.toPath, render(title, p))
  }
}
