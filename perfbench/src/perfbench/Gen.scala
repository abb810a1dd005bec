package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import graft.tools.GenData

/** Seeded input generators. Every value is a pure function of
  * (seed, stream, index) through a splitmix64 mix, so the same seed
  * regenerates byte-identical inputs and any other seed gives different
  * ones. The engine sees only the files these functions write.
  */
object Gen {

  private def mix(x: Long): Long = {
    var z = x + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  final class Rng(seed: Long) {
    def h(parts: Long*): Long = parts.foldLeft(mix(seed))((a, p) => mix(a ^ p))
    def u(parts: Long*): Double = (h(parts: _*) >>> 11) * (1.0 / (1L << 53))
    def below(n: Long, parts: Long*): Long = java.lang.Math.floorMod(h(parts: _*), n)
  }

  // ---- crypto: dirty historical CSV + API CSV --------------------------

  /** Expected cleaned-output statistics, computed from the typed values
    * the generator formatted (the engine's semantics: exact type-7
    * medians over non-null values, median fill, IQR flag on the filled
    * price, trend ladder on the median-filled API change). */
  final case class CryptoExpect(
      rows: Long,
      nulls: Map[String, Long],
      medians: Map[String, Double],
      /** Cleaned rows whose value equals the column's fill value. */
      atFill: Map[String, Long],
      outliers: Long,
      apiRows: Long,
      labels: Map[String, Long])

  val RawHeader: String =
    "Rank,Coin Name,Symbol, Price ,1h,24h,7d,30d, 24h Volume ," +
      "Circulating Supply,Total Supply, Market Cap "

  val NumericCols: Seq[String] = Seq("current_price", "1h", "24h", "7d",
    "30d", "24h_volume", "circulating_supply", "total_supply", "market_cap")

  /** Spark's exact `percentile` (linear interpolation between the two
    * nearest ranks, equal neighbours short-circuit). */
  def percentile(sorted: Array[Double], p: Double): Double = {
    val pos = (sorted.length - 1) * p
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    val a = sorted(lo)
    val b = sorted(hi)
    if (lo == hi || a == b) a else (hi - pos) * a + (pos - lo) * b
  }

  /** Thousands-grouped decimal with `dp` digits, from an integer count of
    * 10^-dp units (so the text and its typed parse agree exactly). */
  private def grouped(units: Long, dp: Int): String = {
    val scale = math.pow(10, dp).toLong
    val whole = units / scale
    val frac = units % scale
    val w = "%,d".formatLocal(java.util.Locale.US, whole)
    if (dp == 0) w else w + "." + ("%0" + dp + "d").format(frac)
  }
  private def plain(units: Long, dp: Int): String =
    grouped(units, dp).replace(",", "")
  private def q(s: String): String = "\"" + s + "\""

  private def trend(p: Double): String = {
    val x = p / 100
    if (x >= 0.05) "Tendencia fuerte alcista"
    else if (x > 0.01) "Tendencia moderada alcista"
    else if (x <= -0.05) "Tendencia fuerte bajista"
    else if (x < -0.01) "Tendencia moderada bajista"
    else "Tendencia estable"
  }

  /** Write `raw.csv` (`rows` rows) and `api.csv` (`apiRows` rows) under
    * `dir` with the quirks of the reference historical file: padded
    * headers, quoted comma numbers, `$-` prices (~42 %), `-` and empty
    * percents, `Million`/`Billion` supplies and the unhandled `Thousand`
    * suffix (parsed to null). */
  def crypto(seed: Long, rows: Int, apiRows: Int, dir: Path): CryptoExpect = {
    val r = new Rng(seed ^ 0x43525950L)
    val typed = NumericCols.map(_ => new Array[Double](rows)).toArray
    val isNull = NumericCols.map(_ => new Array[Boolean](rows)).toArray
    def set(c: Int, i: Int, v: Option[Double]): Unit = v match {
      case Some(x) => typed(c)(i) = x
      case None => isNull(c)(i) = true
    }
    val sb = new java.lang.StringBuilder(rows * 160)
    sb.append(RawHeader).append('\n')
    var i = 0
    while (i < rows) {
      val id = i.toLong
      def f(k: Long) = r.u(id, k)
      // price: ~42 % "$-" placeholders, else a heavy-tailed 2-dp price
      val price: String =
        if (f(1) < 0.42) { set(0, i, None); q(" $-   ") }
        else {
          val cents = math.max(1L, math.exp(f(2) * 16.0).toLong)
          set(0, i, Some(java.lang.Double.parseDouble(plain(cents, 2))))
          if (cents >= 100000) q(grouped(cents, 2)) else plain(cents, 2)
        }
      def pct(c: Int, k: Long): String = {
        val x = f(k)
        if (x < 0.10) { set(c, i, None); "-" }
        else if (x < 0.12) { set(c, i, None); "" }
        else {
          val bp = r.below(4001, id, k + 100) - 2000 // -20.00 .. 20.00
          val s = (if (bp < 0) "-" else "") + plain(math.abs(bp), 2)
          set(c, i, Some(java.lang.Double.parseDouble(s) / 100))
          s + "%"
        }
      }
      val p1h = pct(1, 3); val p24 = pct(2, 4); val p7 = pct(3, 5)
      val p30 = pct(4, 6)
      // volume: "$22,801,222,945.00 " or "-"
      val vol =
        if (f(7) < 0.05) { set(5, i, None); "-" }
        else {
          val cents = math.exp(f(8) * 30.0).toLong
          set(5, i, Some(java.lang.Double.parseDouble(plain(cents, 2))))
          q("$" + grouped(cents, 2) + " ")
        }
      // circulating supply: quoted thousands-grouped integer or "-"
      val circ =
        if (f(9) < 0.04) { set(6, i, None); "-" }
        else {
          val n = math.exp(f(10) * 25.0).toLong
          set(6, i, Some(n.toDouble))
          q(grouped(n, 0))
        }
      // total supply: Million / Billion / Thousand (-> null) / "-" / plain
      val tot = {
        val x = f(11)
        val tenths = 1 + r.below(9999, id, 12L)
        val s = plain(tenths, 1)
        if (x < 0.30) {
          set(7, i, Some((java.lang.Double.parseDouble(s) * 1e6).toLong.toDouble))
          s + " Million"
        } else if (x < 0.50) {
          set(7, i, Some((java.lang.Double.parseDouble(s) * 1e9).toLong.toDouble))
          s + " Billion"
        } else if (x < 0.55) { set(7, i, None); s + " Thousand" }
        else if (x < 0.57) { set(7, i, None); "-" }
        else {
          val n = math.exp(f(13) * 24.0).toLong
          set(7, i, Some(n.toDouble))
          n.toString
        }
      }
      // market cap: "$712,726,163,003.00 " or "-" (~10 %)
      val cap =
        if (f(14) < 0.10) { set(8, i, None); "-" }
        else {
          val cents = math.exp(f(15) * 33.0).toLong
          set(8, i, Some(java.lang.Double.parseDouble(plain(cents, 2))))
          q("$" + grouped(cents, 2) + " ")
        }
      val coin = "Coin " + java.lang.Long.toString(r.below(1L << 40, id, 16L), 36)
      val sym = java.lang.Long.toString(r.below(46656L, id, 17L), 36).toUpperCase
      sb.append(i + 1).append(',').append(coin).append(',').append(sym)
        .append(',').append(price).append(',').append(p1h).append(',')
        .append(p24).append(',').append(p7).append(',').append(p30)
        .append(',').append(vol).append(',').append(circ).append(',')
        .append(tot).append(',').append(cap).append('\n')
      i += 1
    }
    Files.createDirectories(dir)
    Files.write(dir.resolve("raw.csv"), sb.toString.getBytes(StandardCharsets.UTF_8))

    val nulls = NumericCols.indices.map(c => NumericCols(c) -> isNull(c).count(identity).toLong).toMap
    val medians = NumericCols.indices.flatMap { c =>
      val vs = typed(c).indices.filterNot(isNull(c)(_)).map(typed(c)(_)).toArray.sorted
      if (vs.isEmpty) None else Some(NumericCols(c) -> percentile(vs, 0.5))
    }.toMap
    // fill values as the engine casts them back to the column type
    val fill = medians.map { case (c, m) =>
      c -> (if (c == "total_supply") m.toLong.toDouble else m) }
    val atFill = NumericCols.indices.map { c =>
      val name = NumericCols(c)
      name -> fill.get(name).map { v =>
        typed(c).indices.count(j => isNull(c)(j) || typed(c)(j) == v).toLong
      }.getOrElse(0L)
    }.toMap
    val prices = typed(0).indices.map(j =>
      if (isNull(0)(j)) fill("current_price") else typed(0)(j)).toArray
    val sortedP = prices.sorted
    val q1 = percentile(sortedP, 0.25)
    val q3 = percentile(sortedP, 0.75)
    val iqr = q3 - q1
    val (lo, hi) = (q1 - 1.5 * iqr, q3 + 1.5 * iqr)
    val outliers = prices.count(p => !(p >= lo && p <= hi)).toLong

    // API CSV: typed columns, some empties (nulls) the classifier fills
    val api = new java.lang.StringBuilder(apiRows * 80)
    api.append("symbol,current_price,price_change_percentage_24h,market_cap," +
      "total_volume,high_24h,low_24h\n")
    val chg = new Array[Option[Double]](apiRows)
    var j = 0
    while (j < apiRows) {
      val id = j.toLong
      def g(k: Long) = r.u(id, 1000L + k)
      val sym = "c" + java.lang.Long.toString(r.below(1L << 30, id, 1100L), 36)
      val cents = math.max(1L, math.exp(g(1) * 20.0).toLong)
      val px = plain(cents, 2)
      val ch =
        if (g(2) < 0.06) None
        else Some((r.below(3001, id, 1102L) - 1500) / 100.0) // -15.00 .. 15.00
      chg(j) = ch
      val capS = if (g(3) < 0.05) "" else math.exp(g(4) * 28.0).toLong.toString
      val volS = if (g(5) < 0.03) "0.0" else plain(math.exp(g(6) * 25.0).toLong, 2)
      api.append(sym).append(',').append(px).append(',')
        .append(ch.map(_.toString).getOrElse("")).append(',').append(capS)
        .append(',').append(volS).append(',').append(plain(cents + cents / 20, 2))
        .append(',').append(plain(cents - cents / 20, 2)).append('\n')
      j += 1
    }
    Files.write(dir.resolve("api.csv"), api.toString.getBytes(StandardCharsets.UTF_8))
    val chgSorted = chg.flatten.sorted
    val chgFill = if (chgSorted.isEmpty) 0.0 else percentile(chgSorted, 0.5)
    val labels = chg.toSeq.map(c => trend(c.getOrElse(chgFill)))
      .groupBy(identity).map { case (k, v) => k -> v.size.toLong }

    CryptoExpect(rows, nulls, medians, atFill, outliers, apiRows, labels)
  }

  // ---- documents: the engine's own doc generator at a seeded offset ----

  /** First document id for a seed: a seed-derived offset, so each seed
    * draws a different slice of [[GenData.docFor]]'s id space. Planted
    * near-dups there point at ids 1–10 below, so they survive the
    * offset. */
  def docOffset(seed: Long): Long = 1000000L + new Rng(seed).below(1L << 36, 7L) * 16

  def docs(seed: Long, n: Int): Seq[GenData.Doc] = {
    val off = docOffset(seed)
    (0 until n).map(i => GenData.docFor(off + i))
  }

  // ---- ingest batches: fresh docs plus planted dups --------------------

  /** One ingest batch. `exactCorpus` holds the ids of planted exact
    * copies of corpus docs (always rejected: bootstrap put every corpus
    * hash in the state); `exactEarlier` pairs (copy id, original id) for
    * copies of docs sent in an earlier batch, which the fold-back must
    * reject exactly when the original was admitted. */
  final case class Batch(docs: Seq[GenData.Doc], exactCorpus: Seq[Long],
                         exactEarlier: Seq[(Long, Long)])

  /** Batches `0 until count`, each `size` docs: ~8 % exact copies of
    * corpus docs, ~4 % exact copies of earlier batches' docs, ~8 %
    * near-dups (60–90 % token prefix of a corpus or earlier doc, tail
    * re-drawn), the rest fresh ids beyond the corpus. New doc ids never
    * collide with corpus or earlier ids. */
  def batches(seed: Long, corpus: Seq[GenData.Doc], count: Int,
              size: Int): Seq[Batch] = {
    val r = new Rng(seed ^ 0x494e4745L)
    val off = docOffset(seed)
    var nextId = off + corpus.size + 1000
    val sent = scala.collection.mutable.ArrayBuffer.empty[GenData.Doc]
    (0 until count).map { b =>
      val out = scala.collection.mutable.ArrayBuffer.empty[GenData.Doc]
      val exC = scala.collection.mutable.ArrayBuffer.empty[Long]
      val exE = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      val earlierN = sent.size
      var k = 0
      while (k < size) {
        val x = r.u(b.toLong, k.toLong, 1L)
        val id = nextId; nextId += 1
        def copyOf(src: GenData.Doc) = src.copy(doc_id = id)
        val d =
          if (x < 0.08) {
            exC += id
            copyOf(corpus(r.below(corpus.size.toLong, b.toLong, k.toLong, 2L).toInt))
          } else if (x < 0.12 && earlierN > 0) {
            val src = sent(r.below(earlierN.toLong, b.toLong, k.toLong, 3L).toInt)
            exE += (id -> src.doc_id)
            copyOf(src)
          } else if (x < 0.20) {
            val src =
              if (earlierN > 0 && r.u(b.toLong, k.toLong, 4L) < 0.3)
                sent(r.below(earlierN.toLong, b.toLong, k.toLong, 5L).toInt)
              else corpus(r.below(corpus.size.toLong, b.toLong, k.toLong, 6L).toInt)
            val toks = src.text.split(" ")
            val keep = math.max(1, (toks.length * (0.6 + 0.3 * r.u(b.toLong, k.toLong, 7L))).toInt)
            val tail = Array.tabulate(toks.length - keep)(t =>
              toks(r.below(toks.length.toLong, b.toLong, k.toLong, 8L, t.toLong).toInt))
            val text = (toks.take(keep) ++ tail).mkString(" ")
            src.copy(doc_id = id, text = text, n_chars = text.length.toLong)
          } else GenData.docFor(id).copy(source = "src" + r.below(20, b.toLong, k.toLong, 9L))
        out += d
        k += 1
      }
      sent ++= out
      Batch(out.toSeq, exC.toSeq, exE.toSeq)
    }
  }
}
