package graft.algo

import org.scalatest.funsuite.AnyFunSuite
import graft.html.{Dom, Parser}

/** Property checks pinning the fused/optimized walks to their reference
  * formulations (the optimized paths must be drop-in equal, not "close").
  */
class DomOpsSpec extends AnyFunSuite {

  private val samples = Seq(
    "<div><p>hello world</p><p>second, para</p></div>",
    "<div>a<div>b</div>c</div>", // minified block boundaries
    "<div>  leading nbsp<span>inline</span> </div>",
    "<div><p>emoji 😀 pair, and more</p></div>", // surrogate pair
    "<div><br>after break</div>",
    "<p>commas, one, two，wide</p>",
    "<div><span>tight</span><span>spans</span><div>then block</div></div>",
    "<td>cell</td>",
    "<div>   </div>",
    "<div>a  b\t\nc<pre> x </pre>d</div>",
    "<ul><li>one</li><li>two, three</li></ul>",
    // REAL U+00A0 edge cases: leading nbsp + space (sTrim trims both, the
    // walk must not count the collapsed space), trailing, and mid-text
    "<div>\u00a0 advertising</div>",
    "<div>ad \u00a0</div>",
    "<div>a \u00a0 b</div>",
    "<div>\u00a0\u00a0only nbsp edges\u00a0</div>")

  private def doms = samples.map(s => { val d = Parser.parse("<body>" + s + "</body>"); d })

  test("measureSubtree == (textLength, trimmedTextLength, commaCount(innerText))") {
    for (d <- doms) {
      val root = d.bodyEl
      var cur = root
      while (cur != -1) {
        if (d.kind(cur) == Dom.Element) {
          val fused = DomOps.measureSubtree(d, cur)
          val expected = (DomOps.textLength(d, cur), DomOps.trimmedTextLength(d, cur),
            DomOps.commaCount(DomOps.innerText(d, cur)))
          assert(fused == expected,
            s"node ${Inspect.describe(d, cur)} fused=$fused expected=$expected " +
              s"text=${DomOps.innerText(d, cur)}")
        }
        cur = d.nextInTree(cur, root)
      }
    }
  }

  test("normalizedTextFused == normalizeWhitespace(textContentWithBlockSpaces)") {
    for (d <- doms) {
      val root = d.bodyEl
      var cur = root
      while (cur != -1) {
        if (d.kind(cur) == Dom.Element) {
          assert(d.normalizedTextFused(cur) ==
            Dom.normalizeWhitespace(d.textContentWithBlockSpaces(cur)))
        }
        cur = d.nextInTree(cur, root)
      }
    }
  }

  test("textLength/trimmedTextLength equal charLen of the materialized forms") {
    for (d <- doms) {
      val root = d.bodyEl
      var cur = root
      while (cur != -1) {
        if (d.kind(cur) == Dom.Element) {
          assert(DomOps.textLength(d, cur) == Config.charLen(DomOps.innerText(d, cur)),
            s"textLength mismatch on ${DomOps.innerText(d, cur)}")
          assert(DomOps.trimmedTextLength(d, cur) ==
            Config.charLen(DomOps.sTrim(DomOps.innerText(d, cur))),
            s"trimmedTextLength mismatch on '${DomOps.innerText(d, cur)}'")
        }
        cur = d.nextInTree(cur, root)
      }
    }
  }

  test("capped textLength and trimmedTextLength == min(uncapped, cap + 1) on golden, generator and edge pages") {
    val golden = {
      val root = java.nio.file.Paths.get(getClass.getResource("/golden").toURI)
      val s = java.nio.file.Files.list(root)
      try s.toArray.toSeq.map(_.asInstanceOf[java.nio.file.Path])
        .map(d => java.nio.file.Files.readString(d.resolve("source.html")))
      finally s.close()
    }
    val generator = (0L until 12L).map(i => graft.spark.Corpus.docHtml(5L, i, 0.0)._1)
    // Swift whitespace that normalization keeps (nbsp, NEL, ogham, hair,
    // line separator, ideographic) at the edges, between words and around
    // surrogate pairs, so the count crosses each cap on every kind of char
    val ws = Seq("\u00a0", "\u0085", "\u1680", "\u200a", "\u2028", "\u3000")
    val edges = for (w <- ws; n <- Seq(1, 11, 13, 30, 31, 36, 37)) yield
      s"<div>$w $w<p>${"ab" * (n / 2)}$w${"😀" * (n % 3)}<b>x$w</b>$w</p>$w${"c" * n} $w</div>"
    val pages = golden ++ generator ++ (samples ++ edges).map("<body>" + _ + "</body>")
    var checked = 0
    for (html <- pages) {
      val d = Parser.parse(html)
      var cur: Int = d.document
      while (cur != -1) {
        if (d.kind(cur) == Dom.Element || d.kind(cur) == Dom.Text) {
          val full = DomOps.trimmedTextLength(d, cur)
          for (cap <- Seq(0, 1, 2, 11, 13, 31, 36, 80, 90, 500, 1200, full - 1, full, full + 1) if cap >= 0) {
            assert(DomOps.trimmedTextLength(d, cur, cap) == math.min(full, cap + 1),
              s"trimmed, cap $cap on '${DomOps.innerText(d, cur).take(80)}' (length $full)")
            checked += 1
          }
          val norm = DomOps.textLength(d, cur)
          for (cap <- Seq(0, 1, 13, 90, 500, norm - 1, norm, norm + 1) if cap >= 0) {
            assert(DomOps.textLength(d, cur, cap) == math.min(norm, cap + 1),
              s"normalized, cap $cap on '${DomOps.innerText(d, cur).take(80)}' (length $norm)")
            checked += 1
          }
        }
        cur = d.nextInTree(cur, d.document)
      }
    }
    assert(checked > 30000, s"$checked checks")
  }

  test("isSwiftWs fast path agrees with Character.getType over the whole BMP") {
    var c = 0
    while (c <= 0xFFFF) {
      val ch = c.toChar
      val slow = ch == ' ' || (ch >= '\t' && ch <= '\r') || ch == 0x85.toChar || {
        val t = Character.getType(ch)
        t == Character.SPACE_SEPARATOR || t == Character.LINE_SEPARATOR ||
          t == Character.PARAGRAPH_SEPARATOR
      }
      assert(DomOps.isSwiftWs(ch) == slow, f"U+$c%04X")
      c += 1
    }
  }

  test("affineMod is exact vs BigInteger over random 57-bit a,b and 60-bit x") {
    import graft.spark.Dedup
    val M = java.math.BigInteger.valueOf(Dedup.MixMod)
    val rng = new scala.util.Random(99)
    for (_ <- 0 until 5000) {
      val a = rng.nextLong() & ((1L << 57) - 1)
      val b = rng.nextLong() & ((1L << 57) - 1)
      val x = rng.nextLong() & ((1L << 60) - 1)
      val expect = java.math.BigInteger.valueOf(a)
        .multiply(java.math.BigInteger.valueOf(x))
        .add(java.math.BigInteger.valueOf(b)).mod(M).longValueExact()
      assert(Dedup.affineMod(a, x, b) == expect, s"a=$a x=$x b=$b")
    }
    // boundary cases
    for ((a, x, b) <- Seq((0L, 0L, 0L), ((1L << 57) - 1, (1L << 60) - 1, (1L << 57) - 1),
        (1L, Dedup.MixMod, 0L))) {
      val expect = java.math.BigInteger.valueOf(a)
        .multiply(java.math.BigInteger.valueOf(x))
        .add(java.math.BigInteger.valueOf(b)).mod(M).longValueExact()
      assert(Dedup.affineMod(a, x, b) == expect)
    }
  }

  test("foldedText collapses whitespace runs like normalized innerText") {
    def probe(html: String, needle: String): Boolean = {
      val d = Parser.parse("<body>" + html + "</body>")
      SiteRules.foldedText(d, d.bodyEl).contains(needle)
    }
    // single-space needle vs newline / double-space / tab in source HTML —
    // the exact divergence that used to silently disable a gated rule
    assert(probe("<p>aoraki /\n   mount cook is high</p>", "aoraki / mount cook"))
    assert(probe("<p>aoraki  /  mount\tcook</p>", "aoraki / mount cook"))
    // phrase split across inline markup still matches
    assert(probe("<p>aoraki / <b>mount</b> cook</p>", "aoraki / mount cook"))
    // whitespace swallowed entirely by markup boundaries does NOT match
    // (there is genuinely no space between the words in the text stream)
    assert(!probe("<p>mount<b>cook</b></p>", "mount cook"))
    // plain behavior unchanged: case-insensitive, absence stays absent
    assert(probe("<p>Richard SEDDON</p>", "richard seddon"))
    assert(!probe("<p>nothing here</p>", "richard seddon"))
  }
}
