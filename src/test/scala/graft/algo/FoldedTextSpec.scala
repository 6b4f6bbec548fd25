package graft.algo

import org.scalatest.funsuite.AnyFunSuite
import graft.html.{Dom, Parser}
import graft.spark.Corpus

/** `SiteRules.foldedText` answers every text gate with `contains`; it must
  * give the same answer as the per-needle ring-buffer scan it replaced,
  * kept here as the oracle, for every gate needle and for arbitrary
  * substrings of the stream.
  */
class FoldedTextSpec extends AnyFunSuite {

  /** The replaced scanner, verbatim: the needle (normalized with the
    * stream's collapse and fold) in the subtree's text-node stream.
    */
  private def ringScan(dom: Dom, root: Int, rawNeedle: String): Boolean = {
    val needle = {
      val sb = new java.lang.StringBuilder(rawNeedle.length)
      var i = 0
      var lastWs = false
      while (i < rawNeedle.length) {
        val c = rawNeedle.charAt(i)
        if (Character.isWhitespace(c)) {
          if (!lastWs && sb.length > 0) sb.append(' ')
          lastWs = true
        } else {
          sb.append(Character.toLowerCase(c))
          lastWs = false
        }
        i += 1
      }
      if (sb.length > 0 && sb.charAt(sb.length - 1) == ' ') sb.setLength(sb.length - 1)
      sb.toString
    }
    val n = needle.length
    if (n == 0) return true
    val low = new Array[Char](n)
    var k0 = 0
    while (k0 < n) { low(k0) = needle.charAt(k0); k0 += 1 }
    val ring = new Array[Char](n)
    var filled = 0
    var pos = 0
    var lastWasSpace = true
    var cur = root
    while (cur != -1) {
      if (dom.kind(cur) == Dom.Text) {
        val s = dom.text(cur)
        var i = 0
        while (i < s.length) {
          val raw = s.charAt(i)
          val ws = Character.isWhitespace(raw)
          if (!(ws && lastWasSpace)) {
            lastWasSpace = ws
            ring(pos) = if (ws) ' ' else Character.toLowerCase(raw)
            pos += 1
            if (pos == n) pos = 0
            if (filled < n) filled += 1
            if (filled == n) {
              var k = 0
              var ok = true
              while (ok && k < n) {
                var j = pos + k
                if (j >= n) j -= n
                if (ring(j) != low(k)) ok = false
                k += 1
              }
              if (ok) return true
            }
          }
          i += 1
        }
      }
      cur = dom.nextInTree(cur, root)
    }
    false
  }

  /** The stream spelled out with the JDK's char predicates, no fast paths. */
  private def referenceFold(dom: Dom, root: Int): String = {
    val sb = new StringBuilder
    var lastWasSpace = true
    var cur = root
    while (cur != -1) {
      if (dom.kind(cur) == Dom.Text) dom.text(cur).foreach { c =>
        if (Character.isWhitespace(c)) { if (!lastWasSpace) sb.append(' '); lastWasSpace = true }
        else { sb.append(Character.toLowerCase(c)); lastWasSpace = false }
      }
      cur = dom.nextInTree(cur, root)
    }
    sb.toString
  }

  private val gateNeedles: Seq[String] = Seq(SiteRules.HermitianGate) ++
    SiteRules.CaptionGates ++ Seq(SiteRules.AorakiGate, SiteRules.MaoriLegendGate)

  /** Gate needles plus `probes` random substrings of the stream and the
    * same substrings with one char replaced (mostly absent).
    */
  private def assertEquivalent(dom: Dom, root: Int, rng: scala.util.Random, probes: Int,
      extra: Seq[String] = Nil): Unit = {
    val folded = SiteRules.foldedText(dom, root)
    for (n <- gateNeedles ++ extra)
      assert(folded.contains(n) == ringScan(dom, root, n), s"needle '$n'")
    if (folded.nonEmpty) for (_ <- 0 until probes) {
      val from = rng.nextInt(folded.length)
      // the scan drops a needle's edge spaces, so probe with them stripped
      val sub = folded.substring(from, math.min(folded.length, from + 1 + rng.nextInt(40)))
        .dropWhile(_ == ' ').reverse.dropWhile(_ == ' ').reverse
      if (sub.nonEmpty) {
        assert(ringScan(dom, root, sub), s"substring '$sub' of the stream")
        val miss = sub.updated(rng.nextInt(sub.length), '\u0298')
        assert(folded.contains(miss) == ringScan(dom, root, miss), s"probe '$miss'")
      }
    }
  }

  test("foldedText answers like the ring-buffer scan on generated corpus pages") {
    val rng = new scala.util.Random(7)
    val pages = (0L until 300L).map(i => Corpus.docHtml(42L, i, 0.0)._1) :+
      Corpus.docHtml(42L, 1000L, 1.0)._1 // a 1500-5500 paragraph giant
    assert(pages.last.length > 500000, s"giant page is ${pages.last.length} chars")
    for (html <- pages) {
      val d = Parser.parse(html)
      assertEquivalent(d, d.bodyEl, rng, probes = 5)
      assert(SiteRules.foldedText(d, d.bodyEl) == referenceFold(d, d.bodyEl))
    }
  }

  test("foldedText answers like the ring-buffer scan on edge text") {
    val rng = new scala.util.Random(11)
    val edges = Seq(
      "<p>a\u000Bb and c\u001Cd, e\u001Ff</p>",
      "<p>no\u00A0break figure\u2007narrow\u202Fspaces</p>", // not whitespace
      "<p>em\u2003space, ideographic\u3000space, line\u2028sep</p>",
      "<p>\u0100BC \u0100bc \u0130stanbul \u212Aelvin</p>",
      "<p>emoji 😀 pair, 𐐀 deseret capital, 𐐨 small</p>",
      "<p>Rich<b>ard</b> Sed<i>don</i>, Hob<span>bi</span>ton</p>",
      "<p>aoraki /\n   mount cook</p><p>HERM<em>ITIAN</em></p>",
      "<p>Speakers of MĀori according</p>",
      "<div>  leading</div>   <div>trailing  </div>  ")
    val extra = Seq("a b", "c d", "e f", "no\u00A0break", "em space", "line sep",
      "\u0101bc", "i\u0307stanbul", "istanbul", "kelvin", "😀", "𐐀", "𐐨",
      "richard seddon", "speakers of māori according", "leading trailing")
    for (body <- edges) {
      val d = Parser.parse("<body>" + body + "</body>")
      assertEquivalent(d, d.bodyEl, rng, probes = 20, extra)
      val folded = SiteRules.foldedText(d, d.bodyEl)
      assert(folded == referenceFold(d, d.bodyEl))
      // every short substring of the stream, exhaustively
      for (i <- 0 until folded.length; j <- i + 1 to math.min(folded.length, i + 6))
        assert(ringScan(d, d.bodyEl, folded.substring(i, j)))
    }
  }

  test("foldedText's ASCII fast paths agree with the JDK over every char") {
    val d = Parser.parse("<body></body>")
    val sb = new StringBuilder
    for (c <- 0 until 0x10000) sb.append('x').append(c.toChar).append(c.toChar)
    d.appendChild(d.bodyEl, d.newText(sb.toString))
    assert(SiteRules.foldedText(d, d.bodyEl) == referenceFold(d, d.bodyEl))
  }
}
