package graft.html

import scala.collection.mutable.ArrayBuffer

/** Streaming HTML parser: tokenizer + tree construction in one pass over
  * the input string, building an arena [[Dom]]. From scratch; approximates
  * the WHATWG tree-construction algorithm the way practical parsers
  * (jsoup / SwiftSoup, which the reference delegates to) do:
  *
  *   - implied html/head/body, doctype + leading comments on the document
  *   - void elements, raw-text (script/style/xmp/noembed/noframes),
  *     RCDATA (title/textarea), scripting-disabled noscript (children
  *     parsed as markup)
  *   - auto-closing: p before block starts, li/dd/dt stacks, table
  *     tbody/tr/td implication, heading/option/a recovery
  *   - implied-end-tag generation on block end tags; special-category
  *     barrier for stray end tags; `</p>` synthesizes an empty p;
  *     `</br>` acts as `<br>`
  *   - foster parenting of mis-nested table content
  *   - character references per Entities (legacy no-semicolon included)
  *
  *   - active formatting elements with reconstruction and the adoption
  *     agency algorithm (misnested <b><i></b></i>, <a> across blocks)
  *
  * Not implemented (observed divergence risk, grown fixture-by-fixture):
  * template contents, frameset modes.
  */
object Parser {

  private val voidTags = Set(
    "area", "base", "basefont", "bgsound", "br", "col", "embed", "hr",
    "img", "input", "keygen", "link", "meta", "param", "source", "track", "wbr")

  private val rawTextTags = Set("script", "style", "xmp", "noembed", "noframes")
  private val rcdataTags = Set("title", "textarea")

  private val headTags = Set("base", "basefont", "bgsound", "link", "meta",
    "title", "style", "script", "template", "noframes")

  /** Start of these closes an open <p> in button scope. */
  private val pClosers = Set(
    "address", "article", "aside", "blockquote", "center", "details",
    "dialog", "dir", "div", "dl", "fieldset", "figcaption", "figure",
    "footer", "form", "h1", "h2", "h3", "h4", "h5", "h6", "header",
    "hgroup", "hr", "main", "menu", "nav", "ol", "p", "plaintext", "pre",
    "section", "summary", "table", "ul", "listing", "xmp")

  /** HTML "special" category (barrier for stray end-tag recovery). */
  private val specialTags = Set(
    "address", "applet", "area", "article", "aside", "base", "basefont",
    "bgsound", "blockquote", "body", "br", "button", "caption", "center",
    "col", "colgroup", "dd", "details", "dir", "div", "dl", "dt", "embed",
    "fieldset", "figcaption", "figure", "footer", "form", "frame",
    "frameset", "h1", "h2", "h3", "h4", "h5", "h6", "head", "header",
    "hgroup", "hr", "html", "iframe", "img", "input", "keygen", "li",
    "link", "listing", "main", "marquee", "menu", "meta", "nav", "noembed",
    "noframes", "noscript", "object", "ol", "p", "param", "plaintext",
    "pre", "script", "section", "select", "source", "style", "summary",
    "table", "tbody", "td", "template", "textarea", "tfoot", "th", "thead",
    "title", "tr", "track", "ul", "wbr", "xmp")

  /** Block end tags that run generate-implied-end-tags then pop. */
  private val blockEndTags = Set(
    "address", "article", "aside", "blockquote", "button", "center",
    "details", "dialog", "dir", "div", "dl", "fieldset", "figcaption",
    "figure", "footer", "header", "hgroup", "listing", "main", "menu",
    "nav", "ol", "pre", "section", "summary", "ul", "form", "li", "dd",
    "dt", "applet", "marquee", "object", "table", "tbody", "thead",
    "tfoot", "tr", "td", "th", "caption", "select", "optgroup", "option")

  private val impliedEndTags = Set("p", "li", "dd", "dt", "option", "optgroup", "rp", "rt")

  private val buttonScopeBarrier = Set("html", "table", "td", "th",
    "caption", "applet", "marquee", "object", "template", "button")

  private val tableContext = Set("table", "tbody", "thead", "tfoot", "tr")
  private val tableAllowed = Set("tbody", "thead", "tfoot", "tr", "td", "th",
    "caption", "colgroup", "col", "script", "style", "template", "form")

  /** Formatting elements subject to the adoption agency (WHATWG §13.2.6.4.8). */
  private val formattingTags = Set("a", "b", "big", "code", "em", "font",
    "i", "nobr", "s", "small", "strike", "strong", "tt", "u")

  /** Start tags that trigger reconstruction of active formatting elements
    * even though they are in the special category (WHATWG in-body rules).
    */
  private val reconstructAnyway = Set("br", "area", "embed", "img", "input",
    "keygen", "wbr", "select", "button", "applet", "marquee", "object")

  /** Elements that push a scope marker onto the active formatting list. */
  private val formattingMarkers = Set("applet", "marquee", "object", "td", "th", "caption")

  private val defaultScopeBarrier = Set("applet", "caption", "html", "table",
    "td", "th", "marquee", "object", "template")

  def parse(input: String): Dom = {
    new Parser(input, new Dom(math.max(256, input.length / 64))).run()
  }

  /** Parse into a caller-supplied arena (reset first) — the per-doc hot
    * path pools one Dom per thread so the 9 parallel arrays are reused
    * across documents instead of reallocated (arena allocation was the
    * largest per-doc memory-traffic term after the text strings).
    */
  def parseInto(input: String, reuse: Dom): Dom = {
    reuse.reset()
    new Parser(input, reuse).run()
  }
}

/** Allocation-free intern table for tag names: the tokenizer reads a tag
  * name as a (from, until) window over the source and looks up the
  * canonical lowercase string here — no substring/toLowerCase per tag.
  * Unknown (custom-element) names fall back to allocation.
  */
private object TagNames {
  private val known = Array(
    "a", "abbr", "address", "area", "article", "aside", "audio", "b",
    "base", "bdi", "bdo", "blockquote", "body", "br", "button", "canvas",
    "caption", "center", "cite", "code", "col", "colgroup", "data",
    "datalist", "dd", "del", "details", "dfn", "dialog", "dir", "div",
    "dl", "dt", "em", "embed", "fieldset", "figcaption", "figure", "font",
    "footer", "form", "frame", "frameset", "h1", "h2", "h3", "h4", "h5",
    "h6", "head", "header", "hgroup", "hr", "html", "i", "iframe", "img",
    "input", "ins", "kbd", "label", "legend", "li", "link", "main", "map",
    "mark", "math", "menu", "meta", "meter", "nav", "noframes", "noscript",
    "object", "ol", "optgroup", "option", "output", "p", "param",
    "picture", "plaintext", "pre", "progress", "q", "rb", "rp", "rt",
    "rtc", "ruby", "s", "samp", "script", "section", "select", "slot",
    "small", "source", "span", "strong", "style", "sub", "summary", "sup",
    "svg", "table", "tbody", "td", "template", "textarea", "tfoot", "th",
    "thead", "time", "title", "tr", "track", "u", "ul", "var", "video",
    "wbr")
  // open-addressed table, power-of-two size with linear probing
  private val mask = 511
  private val table = new Array[String](mask + 1)
  known.foreach { nm =>
    var slot = hashOf(nm) & mask
    while (table(slot) != null) slot = (slot + 1) & mask
    table(slot) = nm
  }
  @inline private def low(c: Char): Char =
    if (c >= 'A' && c <= 'Z') (c + 32).toChar else c
  private def hashOf(s: String): Int = {
    var h = 0
    var i = 0
    while (i < s.length) { h = h * 31 + low(s.charAt(i)); i += 1 }
    h
  }
  def lookup(input: String, from: Int, until: Int): String = {
    var h = 0
    var i = from
    while (i < until) { h = h * 31 + low(input.charAt(i)); i += 1 }
    var slot = h & mask
    var cand = table(slot)
    while (cand != null) {
      if (cand.length == until - from) {
        var j = 0
        var ok = true
        while (ok && j < cand.length) {
          if (cand.charAt(j) != low(input.charAt(from + j))) ok = false
          j += 1
        }
        if (ok) return cand
      }
      slot = (slot + 1) & mask
      cand = table(slot)
    }
    input.substring(from, until).toLowerCase
  }
}

private final class Parser(input: String, private val dom: Dom) {
  import Parser._
  import Dom.isWhitespace
  private val stack = new ArrayBuffer[Int](32)
  /** Active formatting elements (WHATWG §13.2.3.3): element ids with
    * [[Marker]] sentinels at td/th/caption/applet/marquee/object scopes.
    */
  private val afe = new ArrayBuffer[Int](8)
  private val Marker = -2
  private val len = input.length
  private var pos = 0
  /** 0=initial (before html), 1=in head, 2=in body */
  private var mode = 0
  private val sb = new java.lang.StringBuilder(256)

  // attribute scratch
  private val attrBuf = new ArrayBuffer[String](16)
  private var tagSelfClosing = false

  def run(): Dom = {
    while (pos < len) {
      val lt = input.indexOf('<', pos)
      if (lt < 0) {
        emitText(pos, len)
        pos = len
      } else {
        if (lt > pos) emitText(pos, lt)
        pos = lt
        parseMarkup()
      }
    }
    finish()
    dom
  }

  // ========================================================== tokenizing

  private def parseMarkup(): Unit = {
    // pos points at '<'
    if (pos + 1 >= len) { emitRawChar(); return }
    val c = input.charAt(pos + 1)
    if (c == '/') {
      if (pos + 2 < len && isLetter(input.charAt(pos + 2))) parseEndTag()
      else if (pos + 2 < len && input.charAt(pos + 2) == '>') pos += 3 // </> ignored
      else bogusComment(pos + 2)
    } else if (isLetter(c)) {
      parseStartTag()
    } else if (c == '!') {
      if (input.startsWith("<!--", pos)) parseComment()
      else if (len - pos >= 9 && input.regionMatches(true, pos + 2, "DOCTYPE", 0, 7)) parseDoctype()
      else bogusComment(pos + 2)
    } else if (c == '?') {
      bogusComment(pos + 1)
    } else {
      emitRawChar()
    }
  }

  private def isLetter(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')

  private def emitRawChar(): Unit = {
    appendTextToTree(String.valueOf(input.charAt(pos)))
    pos += 1
  }

  private def parseComment(): Unit = {
    val start = pos + 4
    var end = input.indexOf("-->", start)
    var close = 3
    if (end < 0) { end = len; close = 0 }
    insertComment(input.substring(start, end))
    pos = end + close
  }

  private def bogusComment(contentStart: Int): Unit = {
    var end = input.indexOf('>', contentStart)
    if (end < 0) end = len
    insertComment(input.substring(contentStart, end))
    pos = math.min(end + 1, len)
  }

  private def parseDoctype(): Unit = {
    var end = input.indexOf('>', pos + 2)
    if (end < 0) end = len
    val content = input.substring(pos + 2, end)
    if (mode == 0) dom.appendChild(dom.document, dom.newDoctype(content.trim))
    pos = math.min(end + 1, len)
  }

  /** Parse tag name starting at `from`; returns (name, posAfterName). */
  /** End offset of the last [[readTagName]] call (avoids a boxed tuple on
    * the hottest tokenizer path).
    */
  private var tagNameEnd: Int = 0

  private def readTagName(from: Int): String = {
    var i = from
    while (i < len) {
      val c = input.charAt(i)
      if (isWhitespace(c) || c == '/' || c == '>') {
        tagNameEnd = i
        return TagNames.lookup(input, from, i)
      }
      i += 1
    }
    tagNameEnd = len
    TagNames.lookup(input, from, len)
  }

  private def parseStartTag(): Unit = {
    val name = readTagName(pos + 1)
    pos = tagNameEnd
    attrBuf.clear()
    tagSelfClosing = false
    parseAttributes()
    // pos now after '>'
    startTag(name)
  }

  private def parseEndTag(): Unit = {
    val name = readTagName(pos + 2)
    pos = tagNameEnd
    // skip to '>'
    var i = pos
    while (i < len && input.charAt(i) != '>') i += 1
    pos = math.min(i + 1, len)
    endTag(name)
  }

  /** Parse attributes until '>'. Fills attrBuf / tagSelfClosing. */
  private def parseAttributes(): Unit = {
    while (pos < len) {
      // skip whitespace and stray slashes
      var c = input.charAt(pos)
      while (pos < len && (isWhitespace(c) || c == '/')) {
        if (c == '/') {
          // candidate self-closing: only if '>' follows (possibly after ws)
          var j = pos + 1
          while (j < len && isWhitespace(input.charAt(j))) j += 1
          if (j < len && input.charAt(j) == '>') { tagSelfClosing = true }
        }
        pos += 1
        if (pos < len) c = input.charAt(pos)
      }
      if (pos >= len) return
      if (c == '>') { pos += 1; return }
      // attribute name
      val nameStart = pos
      while (pos < len && { val ch = input.charAt(pos)
        !isWhitespace(ch) && ch != '=' && ch != '>' && ch != '/' }) pos += 1
      val rawName = input.substring(nameStart, pos)
      val name = rawName.toLowerCase
      // skip ws
      while (pos < len && isWhitespace(input.charAt(pos))) pos += 1
      var value = ""
      if (pos < len && input.charAt(pos) == '=') {
        pos += 1
        while (pos < len && isWhitespace(input.charAt(pos))) pos += 1
        if (pos < len) {
          val q = input.charAt(pos)
          if (q == '"' || q == '\'') {
            pos += 1
            val vStart = pos
            while (pos < len && input.charAt(pos) != q) pos += 1
            value = decodeAttr(vStart, pos)
            if (pos < len) pos += 1
          } else {
            val vStart = pos
            while (pos < len && { val ch = input.charAt(pos)
              !isWhitespace(ch) && ch != '>' }) pos += 1
            value = decodeAttr(vStart, pos)
          }
        }
      }
      if (name.nonEmpty && !hasAttrName(name)) { attrBuf += name; attrBuf += value }
    }
  }

  private def hasAttrName(name: String): Boolean = {
    var i = 0
    while (i < attrBuf.length) { if (attrBuf(i) == name) return true; i += 2 }
    false
  }

  private def decodeAttr(from: Int, until: Int): String = {
    var i = from
    var hasAmp = false
    while (i < until && !hasAmp) { if (input.charAt(i) == '&') hasAmp = true; i += 1 }
    if (!hasAmp) return input.substring(from, until)
    sb.setLength(0)
    Entities.decode(input, from, until, sb)
    sb.toString
  }

  private def emitText(from: Int, until: Int): Unit = {
    var i = from
    var hasAmp = false
    while (i < until && !hasAmp) { if (input.charAt(i) == '&') hasAmp = true; i += 1 }
    val s = if (hasAmp) {
      sb.setLength(0)
      Entities.decode(input, from, until, sb)
      sb.toString
    } else input.substring(from, until)
    appendTextToTree(s)
  }

  /** Consume raw text until the matching close tag; returns content. */
  private def consumeRawText(tagName: String): String = {
    val needle = "</" + tagName
    var i = pos
    while (true) {
      val idx = indexOfIgnoreCase(input, needle, i)
      if (idx < 0) {
        val content = input.substring(pos)
        pos = len
        return content
      }
      val after = idx + needle.length
      if (after >= len) {
        val content = input.substring(pos, idx)
        pos = len
        return content
      }
      val c = input.charAt(after)
      if (isWhitespace(c) || c == '>' || c == '/') {
        val content = input.substring(pos, idx)
        // skip past the end tag's '>'
        var j = after
        while (j < len && input.charAt(j) != '>') j += 1
        pos = math.min(j + 1, len)
        return content
      }
      i = idx + 1
    }
    "" // unreachable
  }

  private def indexOfIgnoreCase(hay: String, needle: String, from: Int): Int = {
    val first = needle.charAt(0)
    var i = from
    val limit = hay.length - needle.length
    while (i <= limit) {
      if (hay.charAt(i) == first && hay.regionMatches(true, i, needle, 0, needle.length))
        return i
      i += 1
    }
    -1
  }

  // ====================================================== tree building

  private def ensureHtml(): Unit = {
    if (dom.htmlEl == -1) {
      val html = dom.newElement("html")
      dom.appendChild(dom.document, html)
      dom.htmlEl = html
      stack += html
    }
  }

  private def ensureHead(): Unit = {
    ensureHtml()
    if (dom.headEl == -1) {
      val head = dom.newElement("head")
      dom.appendChild(dom.htmlEl, head)
      dom.headEl = head
    }
  }

  private def ensureBody(): Unit = {
    ensureHead()
    if (dom.bodyEl == -1) {
      val body = dom.newElement("body")
      dom.appendChild(dom.htmlEl, body)
      dom.bodyEl = body
      // reset stack to [html, body]
      stack.clear()
      stack += dom.htmlEl
      stack += body
    }
    mode = 2
  }

  private def current: Int = if (stack.isEmpty) { ensureBody(); stack.last } else stack.last

  private def attrArray(): Array[String] =
    if (attrBuf.isEmpty) null else attrBuf.toArray

  /** Comment nodes are dropped entirely: no extraction pass reads them, no
    * reference fixture output contains one, and comments between inline
    * nodes must not break phrasing-content runs (observed on the
    * schema-org fixture).
    */
  private def insertComment(s: String): Unit = ()

  private def appendTextToTree(s: String): Unit = {
    if (mode < 2) {
      if (isAllWhitespace(s)) {
        // whitespace before body: keep inside head if open, else drop
        if (mode == 1 && stack.nonEmpty) dom.appendChild(stack.last, dom.newText(s))
        return
      }
      ensureBody()
    }
    if (afe.nonEmpty) reconstructFormatting()
    var str = s
    val cur = current
    // spec: ignore newline immediately after <pre>/<textarea>/<listing>
    if (dom.firstChild(cur) == -1 && (dom.tag(cur) == "pre" || dom.tag(cur) == "listing")
        && str.nonEmpty && str.charAt(0) == '\n')
      str = str.substring(1)
    if (str.isEmpty) return
    val t = dom.newText(str)
    appendNode(t, fosterOk = !isAllWhitespace(str))
  }

  private def isAllWhitespace(s: String): Boolean = {
    var i = 0
    while (i < s.length) { if (!isWhitespace(s.charAt(i))) return false; i += 1 }
    true
  }

  /** Append node at the current position with foster-parenting when the
    * current node is table context and the content isn't table-legal.
    */
  private def appendNode(id: Int, fosterOk: Boolean): Unit = {
    val cur = current
    if (fosterOk && dom.kind(cur) == Dom.Element && tableContext.contains(dom.tag(cur))) {
      // foster parent: insert before the nearest table in the stack
      var i = stack.length - 1
      while (i >= 0) {
        if (dom.tag(stack(i)) == "table") {
          val table = stack(i)
          if (dom.parent(table) != -1) { dom.insertBefore(table, id); return }
          else { dom.appendChild(cur, id); return }
        }
        i -= 1
      }
      dom.appendChild(cur, id)
    } else dom.appendChild(cur, id)
  }

  // --------------------------------------- active formatting elements

  private def stackContains(el: Int): Boolean = {
    var i = stack.length - 1
    while (i >= 0) { if (stack(i) == el) return true; i -= 1 }
    false
  }

  private def cloneShallow(el: Int): Int = {
    val c = dom.newElement(dom.tag(el))
    val a = dom.attrs(el)
    dom.setAttrs(c, if (a == null) null else java.util.Arrays.copyOf(a, a.length))
    c
  }

  /** WHATWG "reconstruct the active formatting elements": re-open (clone)
    * entries that were implicitly closed — e.g. `<b>x<p>y` keeps y bold.
    */
  private def reconstructFormatting(): Unit = {
    if (afe.isEmpty) return
    val lastE = afe(afe.length - 1)
    if (lastE == Marker || stackContains(lastE)) return
    var i = afe.length - 1
    var stop = false
    while (i > 0 && !stop) {
      val e = afe(i - 1)
      if (e == Marker || stackContains(e)) stop = true else i -= 1
    }
    while (i < afe.length) {
      val clone = cloneShallow(afe(i))
      appendNode(clone, fosterOk = true)
      stack += clone
      afe(i) = clone
      i += 1
    }
  }

  private def attrsEqual(a: Array[String], b: Array[String]): Boolean = {
    val la = if (a == null) 0 else a.length
    val lb = if (b == null) 0 else b.length
    if (la != lb) return false
    var i = 0
    while (i < la) { if (a(i) != b(i)) return false; i += 1 }
    true
  }

  /** Push with the Noah's Ark clause: ≤3 identical (tag+attrs) entries
    * since the last marker; drop the earliest on overflow.
    */
  private def pushFormatting(el: Int): Unit = {
    var count = 0
    var earliest = -1
    val t = dom.tag(el)
    var i = afe.length - 1
    while (i >= 0 && afe(i) != Marker) {
      val e = afe(i)
      if (dom.tag(e) == t && attrsEqual(dom.attrs(e), dom.attrs(el))) {
        count += 1
        earliest = i
      }
      i -= 1
    }
    if (count >= 3 && earliest >= 0) afe.remove(earliest)
    afe += el
  }

  private def clearFormattingToMarker(): Unit = {
    while (afe.nonEmpty) {
      val e = afe.remove(afe.length - 1)
      if (e == Marker) return
    }
  }

  private def afeIndexOf(el: Int): Int = {
    var i = afe.length - 1
    while (i >= 0) { if (afe(i) == el) return i; i -= 1 }
    -1
  }

  private def hasElementInScope(el: Int): Boolean = {
    var i = stack.length - 1
    while (i >= 0) {
      if (stack(i) == el) return true
      if (defaultScopeBarrier.contains(dom.tag(stack(i)))) return false
      i -= 1
    }
    false
  }

  /** The adoption agency algorithm (WHATWG §13.2.6.4.8) for misnested
    * formatting end tags — `<p><b>1<i>2</b>3` italicizes 3 without bold,
    * `<a>1<p>2</a>3` reparents the link into the paragraph (jsoup/
    * SwiftSoup parity, which the reference inherits).
    */
  private def adoptionAgency(subject: String): Unit = {
    // fast path: current node matches and is not in the list
    if (stack.nonEmpty && dom.tag(stack.last) == subject && afeIndexOf(stack.last) == -1) {
      stack.remove(stack.length - 1)
      return
    }
    var outer = 0
    while (outer < 8) {
      outer += 1
      // last matching entry before a marker
      var fi = afe.length - 1
      var formatting = -1
      while (fi >= 0 && afe(fi) != Marker && formatting == -1) {
        if (dom.tag(afe(fi)) == subject) formatting = afe(fi) else fi -= 1
      }
      if (formatting == -1) { anyOtherEndTag(subject); return }
      val stackIdx = stack.indexOf(formatting)
      if (stackIdx == -1) { afe.remove(fi); return }
      if (!hasElementInScope(formatting)) return
      // furthest block: first special element below formatting in the stack
      var fbIdx = -1
      var i = stackIdx + 1
      while (i < stack.length && fbIdx == -1) {
        if (specialTags.contains(dom.tag(stack(i)))) fbIdx = i
        i += 1
      }
      if (fbIdx == -1) {
        while (stack.length > stackIdx) stack.remove(stack.length - 1)
        afe.remove(fi)
        return
      }
      val furthestBlock = stack(fbIdx)
      val commonAncestor = stack(stackIdx - 1)
      var bookmark = fi
      var lastNode = furthestBlock
      var nodeStackIdx = fbIdx
      var innerCount = 0
      var innerDone = false
      while (!innerDone) {
        innerCount += 1
        nodeStackIdx -= 1
        var node = stack(nodeStackIdx)
        if (node == formatting) innerDone = true
        else {
          var nodeListIdx = afeIndexOf(node)
          if (innerCount > 3 && nodeListIdx != -1) {
            afe.remove(nodeListIdx)
            if (nodeListIdx < bookmark) bookmark -= 1
            nodeListIdx = -1
          }
          if (nodeListIdx == -1) {
            stack.remove(nodeStackIdx)
          } else {
            val clone = cloneShallow(node)
            afe(nodeListIdx) = clone
            stack(nodeStackIdx) = clone
            node = clone
            if (lastNode == furthestBlock) bookmark = nodeListIdx + 1
            dom.appendChild(node, lastNode)
            lastNode = node
          }
        }
      }
      // move lastNode under the common ancestor (foster-parented if needed)
      dom.detach(lastNode)
      if (dom.kind(commonAncestor) == Dom.Element && tableContext.contains(dom.tag(commonAncestor))) {
        // foster parent: before the nearest table
        var ti = stack.length - 1
        var placed = false
        while (ti >= 0 && !placed) {
          if (dom.tag(stack(ti)) == "table" && dom.parent(stack(ti)) != -1) {
            dom.insertBefore(stack(ti), lastNode)
            placed = true
          }
          ti -= 1
        }
        if (!placed) dom.appendChild(commonAncestor, lastNode)
      } else {
        dom.appendChild(commonAncestor, lastNode)
      }
      // re-wrap the furthest block's children in a clone of formatting
      val fClone = cloneShallow(formatting)
      dom.moveChildren(furthestBlock, fClone)
      dom.appendChild(furthestBlock, fClone)
      // list: replace formatting with the clone at the bookmark
      val fListIdx = afeIndexOf(formatting)
      if (fListIdx != -1) {
        afe.remove(fListIdx)
        if (fListIdx < bookmark) bookmark -= 1
      }
      afe.insert(math.min(math.max(bookmark, 0), afe.length), fClone)
      // stack: remove formatting, insert clone just below the furthest block
      val fStackIdx = stack.indexOf(formatting)
      if (fStackIdx != -1) stack.remove(fStackIdx)
      val fbStackIdx = stack.indexOf(furthestBlock)
      stack.insert(fbStackIdx + 1, fClone)
    }
  }

  // -------------------------------------------------------- scope checks

  private def hasInScope(tagName: String, barrier: Set[String]): Boolean = {
    var i = stack.length - 1
    while (i >= 0) {
      val t = dom.tag(stack(i))
      if (t == tagName) return true
      if (barrier.contains(t)) return false
      i -= 1
    }
    false
  }

  private def generateImpliedEndTags(except: String = null): Unit = {
    while (stack.nonEmpty) {
      val t = dom.tag(stack.last)
      if (impliedEndTags.contains(t) && t != except) stack.remove(stack.length - 1)
      else return
    }
  }

  /** Pop stack until tagName popped (tagName assumed present). */
  private def popUntil(tagName: String): Unit = {
    while (stack.nonEmpty) {
      val top = stack.remove(stack.length - 1)
      if (dom.tag(top) == tagName) return
    }
  }

  private def closePInButtonScope(): Unit = {
    if (hasInScope("p", buttonScopeBarrier)) {
      generateImpliedEndTags("p")
      popUntil("p")
    }
  }

  // ---------------------------------------------------------- start tags

  private def startTag(name: String): Unit = {
    name match {
      case "html" =>
        if (dom.htmlEl == -1) {
          ensureHtml()
          dom.setAttrs(dom.htmlEl, attrArray())
        } else if (dom.attrs(dom.htmlEl) == null) {
          dom.setAttrs(dom.htmlEl, attrArray())
        }
        if (mode == 0) mode = 1
        return
      case "head" =>
        if (dom.headEl == -1) {
          ensureHead()
          dom.setAttrs(dom.headEl, attrArray())
          if (mode == 0) mode = 1
          stack += dom.headEl
        }
        return
      case "body" =>
        if (dom.bodyEl == -1) {
          ensureBody()
          dom.setAttrs(dom.bodyEl, attrArray())
        } else {
          ensureBody()
          // merge attrs onto existing body (spec)
          var i = 0
          while (i < attrBuf.length) {
            if (dom.attr(dom.bodyEl, attrBuf(i)) == null)
              dom.setAttr(dom.bodyEl, attrBuf(i), attrBuf(i + 1))
            i += 2
          }
        }
        return
      case "frameset" | "frame" =>
        // no frameset support: ignore the tags, content parses through
        return
      case _ =>
    }

    if (mode < 2) {
      if (headTags.contains(name) || (name == "noscript" && mode <= 1)) {
        ensureHead()
        if (mode == 0) mode = 1
        if (stack.isEmpty || stack.last == dom.htmlEl) {
          // operate inside head
          val el = insertElementInto(dom.headEl, name)
          handleSpecialContent(el, name)
          return
        } else {
          val el = insertElementInto(stack.last, name)
          handleSpecialContent(el, name)
          return
        }
      } else {
        // anything else ends the head
        if (dom.headEl != -1 && stack.nonEmpty && stack.last == dom.headEl)
          stack.remove(stack.length - 1)
        ensureBody()
      }
    }

    // ---- in body ----
    if (pClosers.contains(name)) closePInButtonScope()

    name match {
      case "li" => closeListItem("li", Set("li"))
      case "dd" | "dt" => closeListItem(name, Set("dd", "dt"))
      case "option" | "optgroup" =>
        if (dom.tag(current) == "option") stack.remove(stack.length - 1)
        if (name == "optgroup" && stack.nonEmpty && dom.tag(current) == "optgroup")
          stack.remove(stack.length - 1)
      case "a" =>
        // an open <a> since the last marker: run the adoption agency for
        // "a", then drop it from the list and stack (WHATWG in-body <a>)
        var ai = afe.length - 1
        var openA = -1
        while (ai >= 0 && afe(ai) != Marker && openA == -1) {
          if (dom.tag(afe(ai)) == "a") openA = afe(ai) else ai -= 1
        }
        if (openA != -1) {
          adoptionAgency("a")
          val li = afeIndexOf(openA)
          if (li != -1) afe.remove(li)
          val si = stack.indexOf(openA)
          if (si != -1) stack.remove(si)
        }
      case "button" =>
        if (hasInScope("button", buttonScopeBarrier)) {
          generateImpliedEndTags()
          popUntil("button")
        }
      case "h1" | "h2" | "h3" | "h4" | "h5" | "h6" =>
        val t = dom.tag(current)
        if (t == "h1" || t == "h2" || t == "h3" || t == "h4" || t == "h5" || t == "h6")
          stack.remove(stack.length - 1)
      case "tr" | "td" | "th" | "tbody" | "thead" | "tfoot" | "caption" | "colgroup" | "col" =>
        prepareTableInsertion(name)
      case "select" =>
        // nothing special beyond p closing
      case "nobr" | "b" | "i" | "em" | "strong" | "u" | "small" | "s" |
           "strike" | "big" | "tt" | "font" | "code" =>
        // formatting elements: reconstructed + pushed below
      case "image" =>
        // legacy: <image> → <img> — but NOT inside <svg> foreign content,
        // where <image> is a real SVG element (WHATWG §13.2.6.5; SwiftSoup
        // keeps it too, which is what lets svg-only branding blocks fall to
        // the img==0 conditional-clean branch)
        if (!stack.exists(dom.tag(_) == "svg")) {
          insertLeaf("img")
          return
        }
      case _ =>
    }

    // in-body reconstruction: "any other start tag" plus the explicit
    // reconstruct set; special-category block starts (div/p/table…) do not
    // reconstruct (WHATWG in-body insertion rules)
    if (afe.nonEmpty && (!specialTags.contains(name) || reconstructAnyway.contains(name)))
      reconstructFormatting()

    if (voidTags.contains(name)) {
      insertLeaf(name)
      if (name == "base" && dom.baseHref == null) {
        val href = attrValue("href")
        if (href != null) dom.baseHref = href
      }
      return
    }

    if (rawTextTags.contains(name)) {
      val el = insertElement(name)
      if (!tagSelfClosing) {
        val content = consumeRawText(name)
        if (content.nonEmpty) dom.appendChild(el, dom.newData(content))
      }
      stack.remove(stack.length - 1)
      return
    }
    if (rcdataTags.contains(name)) {
      val el = insertElement(name)
      if (!tagSelfClosing) {
        var content = Entities.decode(consumeRawText(name))
        if (name == "textarea" && content.nonEmpty && content.charAt(0) == '\n')
          content = content.substring(1)
        if (content.nonEmpty) dom.appendChild(el, dom.newText(content))
      }
      stack.remove(stack.length - 1)
      return
    }

    val el = insertElement(name)
    if (tagSelfClosing) stack.remove(stack.length - 1)
    else {
      if (formattingTags.contains(name)) pushFormatting(el)
      if (formattingMarkers.contains(name)) afe += Marker
    }
  }

  private def attrValue(name: String): String = {
    var i = 0
    while (i < attrBuf.length) {
      if (attrBuf(i) == name) return attrBuf(i + 1)
      i += 2
    }
    null
  }

  /** li/dd/dt auto-close: walk stack from top, close a matching open item;
    * stop at special elements other than address/div/p.
    */
  private def closeListItem(name: String, closeSet: Set[String]): Unit = {
    var i = stack.length - 1
    while (i >= 0) {
      val t = dom.tag(stack(i))
      if (closeSet.contains(t)) {
        generateImpliedEndTags(t)
        popUntil(t)
        return
      }
      if (specialTags.contains(t) && t != "address" && t != "div" && t != "p") return
      i -= 1
    }
  }

  /** Implied table structure: tbody for tr, tr for td/th; close open cells/rows. */
  private def prepareTableInsertion(name: String): Unit = {
    if (!hasInScope("table", Set("html"))) return // stray: insert as generic element
    name match {
      case "tr" =>
        // close open cell + row
        if (hasInScope("td", Set("table")) ) { generateImpliedEndTags(); popUntil("td"); clearFormattingToMarker() }
        else if (hasInScope("th", Set("table"))) { generateImpliedEndTags(); popUntil("th"); clearFormattingToMarker() }
        if (hasInScope("tr", Set("table"))) popUntil("tr")
        if (dom.tag(current) == "table") insertImplied("tbody")
      case "td" | "th" =>
        if (hasInScope("td", Set("tr", "table"))) { generateImpliedEndTags(); popUntil("td"); clearFormattingToMarker() }
        else if (hasInScope("th", Set("tr", "table"))) { generateImpliedEndTags(); popUntil("th"); clearFormattingToMarker() }
        if (!hasInScope("tr", Set("table")) && hasInScope("table", Set("html"))) {
          if (dom.tag(current) == "table") insertImplied("tbody")
          if (dom.tag(current) == "tbody" || dom.tag(current) == "thead" || dom.tag(current) == "tfoot")
            insertImplied("tr")
        }
      case "tbody" | "thead" | "tfoot" | "caption" | "colgroup" =>
        if (hasInScope("td", Set("table"))) { generateImpliedEndTags(); popUntil("td"); clearFormattingToMarker() }
        else if (hasInScope("th", Set("table"))) { generateImpliedEndTags(); popUntil("th"); clearFormattingToMarker() }
        if (hasInScope("tr", Set("table"))) popUntil("tr")
        if (hasInScope("tbody", Set("table"))) popUntil("tbody")
        else if (hasInScope("thead", Set("table"))) popUntil("thead")
        else if (hasInScope("tfoot", Set("table"))) popUntil("tfoot")
      case _ =>
    }
  }

  /** Insert an implied structural element (tbody/tr): no attrs, no foster. */
  private def insertImplied(name: String): Int = {
    val el = dom.newElement(name)
    dom.appendChild(current, el)
    stack += el
    el
  }

  private def insertElementInto(parent: Int, name: String): Int = {
    val el = dom.newElement(name)
    dom.setAttrs(el, attrArray())
    dom.appendChild(parent, el)
    if (voidTags.contains(name)) {
      if (name == "base" && dom.baseHref == null) {
        val href = dom.attr(el, "href")
        if (href != null) dom.baseHref = href
      }
      return el
    }
    if (rawTextTags.contains(name)) {
      if (!tagSelfClosing) {
        val content = consumeRawText(name)
        if (content.nonEmpty) dom.appendChild(el, dom.newData(content))
      }
      return el
    }
    if (rcdataTags.contains(name)) {
      if (!tagSelfClosing) {
        val content = Entities.decode(consumeRawText(name))
        if (content.nonEmpty) dom.appendChild(el, dom.newText(content))
      }
      return el
    }
    // container element in head (e.g. noscript): push
    if (!tagSelfClosing) stack += el
    el
  }

  private def handleSpecialContent(el: Int, name: String): Unit = ()

  private def insertElement(name: String): Int = {
    val el = dom.newElement(name)
    dom.setAttrs(el, attrArray())
    appendNode(el, fosterOk = !tableAllowed.contains(name) && !tableContext.contains(name) && name != "table")
    stack += el
    el
  }

  private def insertLeaf(name: String): Int = {
    val el = dom.newElement(name)
    dom.setAttrs(el, attrArray())
    appendNode(el, fosterOk = true)
    el
  }

  // ------------------------------------------------------------ end tags

  private def endTag(name: String): Unit = {
    if (mode < 2) {
      name match {
        case "head" =>
          if (dom.headEl != -1 && stack.nonEmpty && stack.last == dom.headEl)
            stack.remove(stack.length - 1)
          return
        case "html" | "body" =>
          ensureBody()
          return
        case "p" | "br" =>
          // spec: </p>/</br> before body act as "anything else" → to body
          ensureBody()
        case _ =>
          // pop a matching open head-phase element; otherwise ignore
          var i = stack.length - 1
          while (i >= 0) {
            if (dom.tag(stack(i)) == name) {
              while (stack.length > i) stack.remove(stack.length - 1)
              return
            }
            i -= 1
          }
          return
      }
    }

    name match {
      case "p" =>
        if (hasInScope("p", buttonScopeBarrier)) {
          generateImpliedEndTags("p")
          popUntil("p")
        } else {
          // spec: synthesize an empty <p>
          val el = dom.newElement("p")
          appendNode(el, fosterOk = true)
        }
      case "br" =>
        insertLeafNoAttrs("br")
      case "body" | "html" =>
        // leave stack; trailing content still goes to body
        ()
      case "h1" | "h2" | "h3" | "h4" | "h5" | "h6" =>
        val hs = Set("h1", "h2", "h3", "h4", "h5", "h6")
        var i = stack.length - 1
        var found = -1
        while (i >= 0 && found == -1) {
          if (hs.contains(dom.tag(stack(i)))) found = i
          else if (buttonScopeBarrier.contains(dom.tag(stack(i)))) i = -1
          i -= 1
        }
        if (found >= 0) {
          generateImpliedEndTags()
          while (stack.length > found) stack.remove(stack.length - 1)
        }
      case _ if formattingTags.contains(name) =>
        adoptionAgency(name)
      case _ if blockEndTags.contains(name) =>
        if (hasInScope(name, Set("html"))) {
          generateImpliedEndTags(name)
          popUntil(name)
          if (formattingMarkers.contains(name)) clearFormattingToMarker()
        }
      case _ =>
        anyOtherEndTag(name)
    }
  }

  /** WHATWG in-body "any other end tag": walk from the top; on a match,
    * generate implied end tags and pop to it; a special element is a
    * barrier that swallows the stray end tag.
    */
  private def anyOtherEndTag(name: String): Unit = {
    var i = stack.length - 1
    while (i >= 0) {
      val t = dom.tag(stack(i))
      if (t == name) {
        generateImpliedEndTags(name)
        // find again (implied pops may have shifted)
        var j = stack.length - 1
        while (j >= 0 && dom.tag(stack(j)) != name) j -= 1
        if (j >= 0) while (stack.length > j) stack.remove(stack.length - 1)
        return
      }
      if (specialTags.contains(t)) return
      i -= 1
    }
  }

  private def insertLeafNoAttrs(name: String): Int = {
    val el = dom.newElement(name)
    appendNode(el, fosterOk = true)
    el
  }

  private def finish(): Unit = {
    ensureBody()
  }
}
