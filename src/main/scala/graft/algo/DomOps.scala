package graft.algo

import graft.html.Dom
import scala.collection.mutable.ArrayBuffer

/** Shared per-node predicates and measurements used by extraction and
  * cleanup. Behavior anchors: Mozilla Readability.js helpers as mirrored by
  * the reference (`Sources/Readability/Internal/DOMTraversal.swift`,
  * `NodeScoring.swift`).
  */
object DomOps {

  import Config.charLen

  /** Swift `.whitespacesAndNewlines` membership: Zs/Zl/Zp + control
    * whitespace + NEL — notably INCLUDES U+00A0, unlike Java trim. The
    * reference's emptiness checks all use this set.
    */
  @inline def isSwiftWs(c: Char): Boolean = {
    if (c == ' ' || (c >= '\t' && c <= '\r')) true
    else if (c < 0x85) false // ASCII fast path: skip the Character.getType table walk
    else if (c == '\u0085' || c == '\u00a0') true
    else if (c < 0x1680) false // no Z-category code points below OGHAM SPACE MARK
    else {
      val t = Character.getType(c)
      t == Character.SPACE_SEPARATOR || t == Character.LINE_SEPARATOR ||
        t == Character.PARAGRAPH_SEPARATOR
    }
  }

  def sTrim(s: String): String = {
    var a = 0
    var b = s.length
    while (a < b && isSwiftWs(s.charAt(a))) a += 1
    while (b > a && isSwiftWs(s.charAt(b - 1))) b -= 1
    if (a == 0 && b == s.length) s else s.substring(a, b)
  }

  def sBlank(s: String): Boolean = {
    var i = 0
    while (i < s.length) {
      if (!isSwiftWs(s.charAt(i))) return false
      i += 1
    }
    true
  }

  /** jsoup-style normalized text of the subtree (incl. block-boundary
    * spaces — `DOMHelpers.getInnerText` is built on `element.text()`).
    */
  def innerText(dom: Dom, id: Int, normalizeSpaces: Boolean = true): String = {
    if (normalizeSpaces) dom.normalizedTextFused(id)
    else dom.textContentWithBlockSpaces(id).trim
  }

  /** Code-point length of innerText WITHOUT building the string —
    * called per node in scoring/cleanup loops, so this is the hottest
    * path in the engine; allocation here throttles 32-way scaling.
    * Capped like [[trimmedTextLength]]: `min(length, cap + 1)`.
    */
  def textLength(dom: Dom, id: Int, cap: Int = Int.MaxValue): Int = {
    var count = 0
    var lastWs = true // leading trim
    var pendingSpace = false
    var over = false // count > cap: every later char only adds to it
    def walk(node: Int): Unit = {
      var c = dom.firstChild(node)
      while (c != -1 && !over) {
        dom.kind(c) match {
          case Dom.Text =>
            val s = dom.text(c)
            var i = 0
            while (i < s.length && !over) {
              val ch = s.charAt(i)
              if (Dom.isWhitespace(ch)) {
                if (!lastWs) pendingSpace = true
                lastWs = true
              } else {
                if (pendingSpace) { count += 1; pendingSpace = false }
                // code-point counting: skip low surrogate
                if (!Character.isLowSurrogate(ch)) count += 1
                lastWs = false
                over = count > cap
              }
              i += 1
            }
          case Dom.Element =>
            if (Dom.insertsTextSpace(dom.tag(c)) && !lastWs) {
              pendingSpace = true; lastWs = true
            }
            walk(c)
          case _ =>
        }
        c = dom.nextSib(c)
      }
    }
    if (dom.kind(id) == Dom.Text)
      return math.min(charLen(Dom.normalizeWhitespace(dom.text(id))), cap.toLong + 1).toInt
    walk(id)
    if (over) cap + 1 else count
  }

  /** True iff the subtree's text is entirely Swift-whitespace (the
    * `sTrim(innerText(…)).isEmpty` pattern) — allocation-free.
    */
  def textEmpty(dom: Dom, id: Int): Boolean = {
    def walk(node: Int): Boolean = { // true = still empty
      var c = dom.firstChild(node)
      while (c != -1) {
        dom.kind(c) match {
          case Dom.Text =>
            val s = dom.text(c)
            var i = 0
            while (i < s.length) {
              if (!isSwiftWs(s.charAt(i))) return false
              i += 1
            }
          case Dom.Element => if (!walk(c)) return false
          case _ =>
        }
        c = dom.nextSib(c)
      }
      true
    }
    if (dom.kind(id) == Dom.Text) return sBlank(dom.text(id))
    walk(id)
  }

  /** Code-point length of sTrim(innerText(…)) — normalized, then Swift
    * whitespace (incl. U+00A0) trimmed at both ends — allocation-free.
    * The walk stops once the count passes `cap` and answers `cap + 1`, so
    * the result is `min(length, cap + 1)`: a threshold probe passes the
    * largest length it distinguishes and never walks a long subtree to
    * its end.
    */
  def trimmedTextLength(dom: Dom, id: Int, cap: Int = Int.MaxValue): Int = {
    var count = 0
    var started = false // any non-swift-ws content emitted yet (leading trim)
    var lastWs = true
    var pending = 0 // normalized chars not yet counted (trailing ws candidates)
    var over = false // count > cap: every later char only adds to it
    def walk(node: Int): Unit = {
      var c = dom.firstChild(node)
      while (c != -1 && !over) {
        dom.kind(c) match {
          case Dom.Text =>
            val s = dom.text(c)
            var i = 0
            while (i < s.length && !over) {
              val ch = s.charAt(i)
              if (Dom.isWhitespace(ch)) {
                if (started && !lastWs) pending += 1 // collapsed space, maybe trailing
                lastWs = true
              } else if (isSwiftWs(ch)) {
                // nbsp-like: survives normalization but sTrim trims it at
                // BOTH edges — and everything before `started` is edge
                if (started) pending += 1
                lastWs = false
              } else {
                count += pending + 1
                pending = 0
                if (Character.isLowSurrogate(ch)) count -= 1
                started = true
                lastWs = false
                over = count > cap
              }
              i += 1
            }
          case Dom.Element =>
            if (Dom.insertsTextSpace(dom.tag(c)) && !lastWs) {
              if (started) pending += 1
              lastWs = true
            }
            walk(c)
          case _ =>
        }
        c = dom.nextSib(c)
      }
    }
    if (dom.kind(id) == Dom.Text)
      return math.min(charLen(sTrim(Dom.normalizeWhitespace(dom.text(id)))), cap.toLong + 1).toInt
    walk(id)
    if (over) cap + 1 else count
  }

  /** innerText when the caller only cares about short strings: returns
    * null as soon as the normalized text exceeds maxChars (subtree walk
    * stops early).
    */
  def innerTextCapped(dom: Dom, id: Int, maxChars: Int): String = {
    val sb = new java.lang.StringBuilder(math.min(maxChars + 8, 256))
    var lastWs = true
    var overflow = false
    def walk(node: Int): Unit = {
      var c = dom.firstChild(node)
      while (c != -1 && !overflow) {
        dom.kind(c) match {
          case Dom.Text =>
            val s = dom.text(c)
            var i = 0
            while (i < s.length && !overflow) {
              val ch = s.charAt(i)
              if (Dom.isWhitespace(ch)) {
                if (!lastWs) sb.append(' ')
                lastWs = true
              } else {
                sb.append(ch)
                lastWs = false
                if (sb.length > maxChars + 1) overflow = true
              }
              i += 1
            }
          case Dom.Element =>
            if (Dom.insertsTextSpace(dom.tag(c)) && !lastWs) {
              sb.append(' '); lastWs = true
            }
            walk(c)
          case _ =>
        }
        c = dom.nextSib(c)
      }
    }
    walk(id)
    if (overflow) return null
    // trailing collapsed space trim (leading handled by lastWs init)
    var len = sb.length
    while (len > 0 && sb.charAt(len - 1) == ' ') len -= 1
    sb.setLength(len)
    sb.toString
  }

  /** Count comma-like characters (Readability.js _getCharCount analog with
    * the extended comma set, `ContentExtractor.swift:646-656`).
    */
  def commaCount(s: String): Int = {
    var c = 0
    val m = Config.commas.matcher(s)
    while (m.find()) c += 1
    c
  }

  /** Same code points as [[Config.commas]]. */
  @inline private def isCommaChar(ch: Char): Boolean = (ch: Int) match {
    case 0x002C | 0x060C | 0xFE50 | 0xFE10 | 0xFE11 |
         0x2E41 | 0x2E34 | 0x2E32 | 0xFF0C => true
    case _ => false
  }

  /** One-walk bundle of the three measurements cleanConditionally needs —
    * (normalized textLength, trimmed textLength, comma count) — the three
    * separate walks were a measured CPU hotspot (same subtree visited 3×
    * per conditional-clean candidate).
    */
  def measureSubtree(dom: Dom, id: Int): (Int, Int, Int) = {
    var count = 0 // normalized length (textLength semantics)
    var trimmed = 0 // trimmedTextLength semantics
    var started = false // trimmed: any non-swift-ws content yet (leading trim)
    var pending = 0 // trimmed: normalized-but-maybe-trailing chars
    var commas = 0
    var lastWs = true
    var pendingSpace = false
    def walk(node: Int): Unit = {
      var c = dom.firstChild(node)
      while (c != -1) {
        dom.kind(c) match {
          case Dom.Text =>
            val s = dom.text(c)
            var i = 0
            while (i < s.length) {
              val ch = s.charAt(i)
              if (isCommaChar(ch)) commas += 1
              if (Dom.isWhitespace(ch)) {
                if (!lastWs) { pendingSpace = true; if (started) pending += 1 }
                lastWs = true
              } else if (isSwiftWs(ch)) {
                // nbsp-like: counts in textLength; sTrim trims it (and any
                // pre-`started` run) at the edges for trimmed
                if (pendingSpace) { count += 1; pendingSpace = false }
                count += 1
                if (started) pending += 1
                lastWs = false
              } else {
                if (pendingSpace) { count += 1; pendingSpace = false }
                if (!Character.isLowSurrogate(ch)) {
                  count += 1
                  trimmed += pending + 1
                  pending = 0
                } else {
                  // low surrogate: already counted with its high half
                  trimmed += pending
                  pending = 0
                }
                started = true
                lastWs = false
              }
              i += 1
            }
          case Dom.Element =>
            if (Dom.insertsTextSpace(dom.tag(c)) && !lastWs) {
              pendingSpace = true
              if (started) pending += 1
              lastWs = true
            }
            walk(c)
          case _ =>
        }
        c = dom.nextSib(c)
      }
    }
    walk(id)
    (count, trimmed, commas)
  }


  /** Link density with 0.3 coefficient for in-page hash links
    * (`NodeScoring.swift:142-159`).
    */
  def linkDensity(dom: Dom, id: Int): Double = {
    val total = textLength(dom, id)
    if (total == 0) return 0.0
    var linkLen = 0.0
    // include-self: SwiftSoup select("a") evaluates the receiver too — an
    // element that IS an anchor counts its own text (density ~1)
    if (dom.kind(id) == graft.html.Dom.Element && dom.tag(id) == "a") {
      val href = dom.attr(id, "href")
      val coeff = if (href != null && Config.hashUrl.matcher(href).find()) 0.3 else 1.0
      linkLen += textLength(dom, id) * coeff
    }
    val links = dom.getElementsByTag(id, "a")
    var i = 0
    while (i < links.length) {
      val a = links(i)
      val href = dom.attr(a, "href")
      val coeff = if (href != null && Config.hashUrl.matcher(href).find()) 0.3 else 1.0
      linkLen += textLength(dom, a) * coeff
      i += 1
    }
    linkLen / total
  }

  /** Class/id pattern weight (`NodeScoring.swift:167-200`). */
  def classWeight(dom: Dom, id: Int, weightClasses: Boolean): Double = {
    if (!weightClasses) return 0.0
    var weight = 0.0
    val cls = dom.className(id)
    if (cls.nonEmpty) {
      if (Config.negative.matcher(cls).find()) weight += Config.ClassWeightNegative
      if (Config.positive.matcher(cls).find()) weight += Config.ClassWeightPositive
    }
    val nid = dom.idAttr(id)
    if (nid.nonEmpty) {
      if (Config.negative.matcher(nid).find()) weight += Config.ClassWeightNegative
      if (Config.positive.matcher(nid).find()) weight += Config.ClassWeightPositive
    }
    weight
  }

  def isPhrasingContent(dom: Dom, id: Int): Boolean = {
    val k = dom.kind(id)
    if (k == Dom.Text) return true
    if (k != Dom.Element) return false
    val t = dom.tag(id)
    if (Config.phrasingElems.contains(t)) return true
    if (t == "a" || t == "del" || t == "ins") {
      var c = dom.firstChild(id)
      while (c != -1) {
        if (!isPhrasingContent(dom, c)) return false
        c = dom.nextSib(c)
      }
      return true
    }
    false
  }

  /** Reference's DOMTraversal.isWhitespace (Swift trim set incl. nbsp). */
  def isWhitespaceNode(dom: Dom, id: Int): Boolean = {
    dom.kind(id) match {
      case Dom.Text => sBlank(dom.text(id))
      case Dom.Element => dom.tag(id) == "br"
      case _ => false
    }
  }

  /** Element has no text and only br/hr children (Mozilla
    * _isElementWithoutContent).
    */
  def isElementWithoutContent(dom: Dom, id: Int): Boolean = {
    if (dom.kind(id) != Dom.Element) return false
    if (!textEmpty(dom, id)) return false
    val total = dom.childCount(id)
    if (total == 0) return true
    val brHr = dom.getElementsByTag(id, "br").size + dom.getElementsByTag(id, "hr").size
    dom.childElementCount(id) == brHr &&
      // no non-whitespace text children anywhere (text empty already ensures)
      true
  }

  /** Mozilla _hasSingleTagInsideElement: exactly one child element of the
    * tag and no non-whitespace text nodes.
    */
  def hasSingleTagInsideElement(dom: Dom, id: Int, t: String): Boolean = {
    if (dom.childElementCount(id) != 1) return false
    val els = dom.childElements(id)
    if (dom.tag(els(0)) != t) return false
    var c = dom.firstChild(id)
    while (c != -1) {
      if (dom.kind(c) == Dom.Text && !sBlank(dom.text(c))) return false
      c = dom.nextSib(c)
    }
    true
  }

  /** Mozilla _hasChildBlockElement (recursive through children). */
  def hasChildBlockElement(dom: Dom, id: Int, memo: java.util.HashMap[Integer, java.lang.Boolean] = null): Boolean = {
    if (memo != null) {
      val v = memo.get(Integer.valueOf(id))
      if (v != null) return v.booleanValue()
    }
    var result = false
    var c = dom.firstChild(id)
    while (c != -1 && !result) {
      if (dom.kind(c) == Dom.Element) {
        if (Config.divToPElems.contains(dom.tag(c))) result = true
        else if (hasChildBlockElement(dom, c, memo)) result = true
      }
      c = dom.nextSib(c)
    }
    if (memo != null) memo.put(Integer.valueOf(id), java.lang.Boolean.valueOf(result))
    result
  }

  def hasAncestorTag(dom: Dom, id: Int, t: String, maxDepth: Int = 3,
      filter: Int => Boolean = null): Boolean = {
    var cur = dom.parent(id)
    var depth = 0
    while (cur != -1) {
      if (maxDepth > 0 && depth > maxDepth) return false
      if (dom.kind(cur) == Dom.Element && dom.tag(cur) == t &&
          (filter == null || filter(cur))) return true
      cur = dom.parent(cur)
      depth += 1
    }
    false
  }

  /** Ancestors bottom-up, limited (Mozilla _getNodeAncestors). */
  def nodeAncestors(dom: Dom, id: Int, maxDepth: Int): ArrayBuffer[Int] = {
    val out = new ArrayBuffer[Int]()
    var cur = dom.parent(id)
    var i = 0
    while (cur != -1 && (maxDepth == 0 || i < maxDepth)) {
      if (dom.kind(cur) == Dom.Element || dom.kind(cur) == Dom.Document) out += cur
      cur = dom.parent(cur)
      i += 1
    }
    out
  }

  /** Visibility for scoring (Mozilla _isProbablyVisible as implemented at
    * `VisibilityRules.swift:9-31` — walks ancestors).
    */
  def isProbablyVisible(dom: Dom, id: Int): Boolean = {
    var cur = id
    while (cur != -1 && dom.kind(cur) == Dom.Element) {
      if (hasStyleHidden(dom, cur) || dom.hasAttr(cur, "hidden")) return false
      val aria = dom.attr(cur, "aria-hidden")
      if (aria != null && aria.equalsIgnoreCase("true")) {
        if (cur == id) {
          if (!dom.className(id).contains("fallback-image")) return false
        } else return false
      }
      cur = dom.parent(cur)
    }
    true
  }

  def hasStyleHidden(dom: Dom, id: Int): Boolean = {
    val style = dom.attr(id, "style")
    if (style == null) return false
    val norm = style.toLowerCase.replace(" ", "")
    norm.contains("display:none") || norm.contains("visibility:hidden")
  }

  /** Strict removal rule (`VisibilityRules.swift:36-47`). */
  def shouldRemoveAsHidden(dom: Dom, id: Int): Boolean = {
    if (dom.hasAttr(id, "hidden") || hasStyleHidden(dom, id)) return true
    val aria = dom.attr(id, "aria-hidden")
    if (aria != null && aria.equalsIgnoreCase("true")) {
      val t = dom.tag(id)
      if (t == "img" || t == "picture" || t == "source" || t == "video" || t == "audio")
        return false
      if (dom.className(id).toLowerCase.contains("mwe-math")) return false
      return true
    }
    false
  }

  /** Remove node and return next node in traversal (Mozilla
    * _removeAndGetNext).
    */
  def removeAndGetNext(dom: Dom, id: Int, root: Int): Int = {
    val next = dom.nextSkippingChildren(id, root)
    dom.remove(id)
    next
  }

  /** Mozilla _textSimilarity: token overlap of b's tokens found in a. */
  def textSimilarity(a: String, b: String): Double = {
    val tokensA = a.toLowerCase.split("\\W+").filter(_.nonEmpty)
    val tokensB = b.toLowerCase.split("\\W+").filter(_.nonEmpty)
    if (tokensA.isEmpty || tokensB.isEmpty) return 0.0
    val setA = tokensA.toSet
    val uniqB = tokensB.filter(t => !setA.contains(t))
    val distB = uniqB.mkString(" ").length.toDouble / tokensB.mkString(" ").length
    1.0 - distB
  }

  /** Retag an element in place (arena makes this O(1); attrs/children kept
    * — Mozilla _setNodeTag clones, same observable result).
    */
  def setNodeTag(dom: Dom, id: Int, t: String): Int = {
    dom.setTag(id, t)
    id
  }
}
