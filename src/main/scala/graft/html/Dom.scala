package graft.html

/** Arena DOM: all nodes of one document live in growable parallel arrays,
  * addressed by Int ids. Mutations (remove / reparent / retag) are O(1)
  * pointer updates; a pass snapshot is an O(n) array copy (used by the
  * multi-pass extraction driver to restore state between attempts —
  * behavior anchor: `ContentExtractor.swift:66,129-131` restores a body
  * HTML cache; we restore the arena directly, no re-tokenization).
  *
  * Node ids are stable across mutations; removed nodes keep their data but
  * are detached (parent == -1). Never shared across Spark rows or tasks.
  */
final class Dom(initialCapacity: Int = 256) {

  import Dom._

  var n: Int = 0
  var kind: Array[Byte] = new Array[Byte](initialCapacity)
  var tag: Array[String] = new Array[String](initialCapacity)
  var parent: Array[Int] = new Array[Int](initialCapacity)
  var firstChild: Array[Int] = new Array[Int](initialCapacity)
  var lastChild: Array[Int] = new Array[Int](initialCapacity)
  var prevSib: Array[Int] = new Array[Int](initialCapacity)
  var nextSib: Array[Int] = new Array[Int](initialCapacity)
  /** flat [name0, val0, name1, val1, ...] or null */
  var attrs: Array[Array[String]] = new Array[Array[String]](initialCapacity)
  var text: Array[String] = new Array[String](initialCapacity)

  /** id of the synthetic document node (always 0) */
  val document: Int = {
    val id = alloc()
    kind(id) = Document
    id
  }

  var htmlEl: Int = -1
  var headEl: Int = -1
  var bodyEl: Int = -1

  /** Base URL from <base href>, if any (set by the tree builder). */
  var baseHref: String = null

  /** Reuse this arena for a fresh document: O(1) — node slots are fully
    * initialized by [[alloc]], so stale entries are never observable.
    * Callers must ensure no live references into the old tree remain.
    */
  def reset(): Unit = {
    n = 0
    htmlEl = -1; headEl = -1; bodyEl = -1
    baseHref = null
    presence.clear(); summarized = 0; epoch += 1
    val id = alloc() // re-establish the document node at id 0
    kind(id) = Dom.Document
  }

  private def alloc(): Int = {
    if (n == kind.length) grow()
    val id = n
    n += 1
    kind(id) = 0; tag(id) = null; parent(id) = -1
    firstChild(id) = -1; lastChild(id) = -1; prevSib(id) = -1; nextSib(id) = -1
    attrs(id) = null; text(id) = null
    id
  }

  private def grow(): Unit = {
    val cap = kind.length * 2
    kind = java.util.Arrays.copyOf(kind, cap)
    tag = java.util.Arrays.copyOf(tag, cap)
    parent = java.util.Arrays.copyOf(parent, cap)
    firstChild = java.util.Arrays.copyOf(firstChild, cap)
    lastChild = java.util.Arrays.copyOf(lastChild, cap)
    prevSib = java.util.Arrays.copyOf(prevSib, cap)
    nextSib = java.util.Arrays.copyOf(nextSib, cap)
    attrs = java.util.Arrays.copyOf(attrs, cap)
    text = java.util.Arrays.copyOf(text, cap)
  }

  // ------------------------------------------------------------- creation

  def newElement(tagName: String): Int = {
    val id = alloc()
    kind(id) = Element
    tag(id) = tagName
    id
  }

  def newText(s: String): Int = {
    val id = alloc()
    kind(id) = Text
    text(id) = s
    id
  }

  /** Raw data node (script/style contents; never entity-decoded). */
  def newData(s: String): Int = {
    val id = alloc()
    kind(id) = Data
    text(id) = s
    id
  }

  def newComment(s: String): Int = {
    val id = alloc()
    kind(id) = Comment
    text(id) = s
    id
  }

  def newDoctype(s: String): Int = {
    val id = alloc()
    kind(id) = Doctype
    text(id) = s
    id
  }

  // ------------------------------------------------------------ structure

  def appendChild(p: Int, c: Int): Unit = {
    if (parent(c) != -1) detach(c)
    parent(c) = p
    val last = lastChild(p)
    if (last == -1) { firstChild(p) = c; lastChild(p) = c }
    else { nextSib(last) = c; prevSib(c) = last; lastChild(p) = c }
  }

  def prependChild(p: Int, c: Int): Unit = {
    if (parent(c) != -1) detach(c)
    parent(c) = p
    val first = firstChild(p)
    if (first == -1) { firstChild(p) = c; lastChild(p) = c }
    else { prevSib(first) = c; nextSib(c) = first; firstChild(p) = c }
  }

  /** Insert c immediately before ref (ref must be attached). */
  def insertBefore(ref: Int, c: Int): Unit = {
    if (parent(c) != -1) detach(c)
    val p = parent(ref)
    val prev = prevSib(ref)
    parent(c) = p
    prevSib(c) = prev
    nextSib(c) = ref
    prevSib(ref) = c
    if (prev == -1) firstChild(p) = c else nextSib(prev) = c
  }

  /** Detach node from its parent (subtree stays intact, reusable). */
  def detach(c: Int): Unit = {
    val p = parent(c)
    if (p == -1) return
    val prev = prevSib(c)
    val next = nextSib(c)
    if (prev == -1) firstChild(p) = next else nextSib(prev) = next
    if (next == -1) lastChild(p) = prev else prevSib(next) = prev
    parent(c) = -1; prevSib(c) = -1; nextSib(c) = -1
  }

  /** Remove node (alias for detach — arena keeps the storage). */
  @inline def remove(c: Int): Unit = detach(c)

  /** Replace old with nw (nw takes old's position; old is detached). */
  def replaceWith(old: Int, nw: Int): Unit = {
    insertBefore(old, nw)
    detach(old)
  }

  /** Move all children of from to the end of to (in order). */
  def moveChildren(from: Int, to: Int): Unit = {
    var c = firstChild(from)
    while (c != -1) {
      val next = nextSib(c)
      appendChild(to, c)
      c = next
    }
  }

  /** Replace node with its children (unwrap). */
  def unwrap(node: Int): Unit = {
    var c = firstChild(node)
    while (c != -1) {
      val next = nextSib(c)
      insertBefore(node, c)
      c = next
    }
    detach(node)
  }

  def isAttached(id: Int): Boolean = {
    var cur = id
    while (cur != -1) {
      if (cur == document) return true
      cur = parent(cur)
    }
    false
  }

  // ----------------------------------------------------------- attributes

  def attr(id: Int, name: String): String = {
    val a = attrs(id)
    if (a == null) return null
    var i = 0
    while (i < a.length) {
      if (a(i) == name || a(i).equalsIgnoreCase(name)) return a(i + 1)
      i += 2
    }
    null
  }

  def hasAttr(id: Int, name: String): Boolean = attr(id, name) != null

  def setAttr(id: Int, name: String, value: String): Unit = {
    if (id < summarized) presence.addAttr(name, value)
    val a = attrs(id)
    if (a != null) {
      var i = 0
      while (i < a.length) {
        if (a(i) == name || a(i).equalsIgnoreCase(name)) { a(i + 1) = value; return }
        i += 2
      }
      val na = java.util.Arrays.copyOf(a, a.length + 2)
      na(a.length) = name; na(a.length + 1) = value
      attrs(id) = na
    } else attrs(id) = Array(name, value)
  }

  /** Replace a node's whole flat attribute array (null = none). */
  def setAttrs(id: Int, a: Array[String]): Unit = {
    attrs(id) = a
    if (id < summarized) presence.addAttrs(a)
  }

  /** Retag an element in place (attributes and children kept). */
  def setTag(id: Int, t: String): Unit = {
    tag(id) = t
    if (id < summarized) presence.add(Presence.tagKey(t))
  }

  def removeAttr(id: Int, name: String): Unit = {
    val a = attrs(id)
    if (a == null) return
    var i = 0
    while (i < a.length) {
      if (a(i) == name || a(i).equalsIgnoreCase(name)) {
        val na = new Array[String](a.length - 2)
        System.arraycopy(a, 0, na, 0, i)
        System.arraycopy(a, i + 2, na, i, a.length - i - 2)
        attrs(id) = if (na.length == 0) null else na
        return
      }
      i += 2
    }
  }

  // ----------------------------------------------------- presence summary

  /** What any node of this arena has carried since [[reset]]: tags,
    * attribute names, attribute (name, value) pairs and class tokens, as
    * [[Presence]] keys.
    * It only grows, so it answers "definitely absent" and nothing else —
    * enough for [[Select]] to skip a walk that cannot match. Slots below
    * `summarized` are folded in; later ones are folded in lazily by
    * [[summary]], so parsing and cloning pay nothing per node. Every write
    * of `tag`/`attrs` to a folded slot goes through [[setTag]],
    * [[setAttrs]] or [[setAttr]], which add the new values.
    */
  private val presence = new Presence
  private var summarized = 0
  /** Counts [[reset]]s, so [[restore]] can tell a snapshot of another document. */
  private var epoch = 0

  /** The presence summary, caught up with every node allocated so far. */
  def summary: Presence = {
    while (summarized < n) {
      val id = summarized
      if (kind(id) == Element) {
        presence.add(Presence.tagKey(tag(id)))
        presence.addAttrs(attrs(id))
      }
      summarized += 1
    }
    presence
  }

  def className(id: Int): String = { val v = attr(id, "class"); if (v == null) "" else v }
  def idAttr(id: Int): String = { val v = attr(id, "id"); if (v == null) "" else v }

  // ------------------------------------------------------------ traversal

  // primitive Array[Int] results: these run inside every per-document rule
  // loop, and ArrayBuffer[Int] boxes each element (measured allocation)
  def childElements(id: Int): Array[Int] = {
    var arr = new Array[Int](8)
    var cnt = 0
    var c = firstChild(id)
    while (c != -1) {
      if (kind(c) == Element) {
        if (cnt == arr.length) arr = java.util.Arrays.copyOf(arr, cnt * 2)
        arr(cnt) = c
        cnt += 1
      }
      c = nextSib(c)
    }
    if (cnt == arr.length) arr else java.util.Arrays.copyOf(arr, cnt)
  }

  def childCount(id: Int): Int = {
    var cnt = 0
    var c = firstChild(id)
    while (c != -1) { cnt += 1; c = nextSib(c) }
    cnt
  }

  def childElementCount(id: Int): Int = {
    var cnt = 0
    var c = firstChild(id)
    while (c != -1) { if (kind(c) == Element) cnt += 1; c = nextSib(c) }
    cnt
  }

  /** Next node in document order within subtree `root` (pre-order); -1 at end. */
  def nextInTree(id: Int, root: Int): Int = {
    if (firstChild(id) != -1) return firstChild(id)
    var cur = id
    while (cur != -1 && cur != root) {
      if (nextSib(cur) != -1) return nextSib(cur)
      cur = parent(cur)
    }
    -1
  }

  /** Next node in document order skipping id's subtree. */
  def nextSkippingChildren(id: Int, root: Int): Int = {
    var cur = id
    while (cur != -1 && cur != root) {
      if (nextSib(cur) != -1) return nextSib(cur)
      cur = parent(cur)
    }
    -1
  }

  /** Elements with given tag under root, document order. root not included. */
  def getElementsByTag(root: Int, t: String): Array[Int] = {
    var arr = new Array[Int](16)
    var cnt = 0
    var cur = nextInTree(root, root)
    while (cur != -1) {
      if (kind(cur) == Element && tag(cur) == t) {
        if (cnt == arr.length) arr = java.util.Arrays.copyOf(arr, cnt * 2)
        arr(cnt) = cur
        cnt += 1
      }
      cur = nextInTree(cur, root)
    }
    if (cnt == arr.length) arr else java.util.Arrays.copyOf(arr, cnt)
  }

  def getElementsByTags(root: Int, ts: Set[String]): Array[Int] = {
    var arr = new Array[Int](16)
    var cnt = 0
    var cur = nextInTree(root, root)
    while (cur != -1) {
      if (kind(cur) == Element && ts.contains(tag(cur))) {
        if (cnt == arr.length) arr = java.util.Arrays.copyOf(arr, cnt * 2)
        arr(cnt) = cur
        cnt += 1
      }
      cur = nextInTree(cur, root)
    }
    if (cnt == arr.length) arr else java.util.Arrays.copyOf(arr, cnt)
  }

  /** Concatenated text of the subtree (no normalization). */
  def textContent(id: Int): String = {
    val sb = new java.lang.StringBuilder()
    appendTextContent(id, sb)
    sb.toString
  }

  def appendTextContent(id: Int, sb: java.lang.StringBuilder): Unit = {
    if (kind(id) == Text) { sb.append(text(id)); return }
    var cur = firstChild(id)
    while (cur != -1) {
      kind(cur) match {
        case Text => sb.append(text(cur))
        case Element => appendTextContent(cur, sb)
        case _ =>
      }
      cur = nextSib(cur)
    }
  }

  /** Raw subtree text with jsoup block-boundary markers: a ' ' is inserted
    * when entering a block element or `<br>` if the accumulator is
    * non-empty and doesn't already end in whitespace — the raw
    * pre-normalization form of SwiftSoup `Element.text()`. `textContent`
    * (no markers) remains the `wholeText` analog.
    */
  def appendTextWithBlockSpaces(id: Int, sb: java.lang.StringBuilder): Unit = {
    if (kind(id) == Text) { sb.append(text(id)); return }
    var cur = firstChild(id)
    while (cur != -1) {
      kind(cur) match {
        case Text => sb.append(text(cur))
        case Element =>
          if (Dom.insertsTextSpace(tag(cur)) && sb.length > 0 &&
              !Dom.isWhitespace(sb.charAt(sb.length - 1))) sb.append(' ')
          appendTextWithBlockSpaces(cur, sb)
        case _ =>
      }
      cur = nextSib(cur)
    }
  }

  def textContentWithBlockSpaces(id: Int): String = {
    val sb = new java.lang.StringBuilder()
    appendTextWithBlockSpaces(id, sb)
    sb.toString
  }

  /** Fused jsoup text(): normalized (ASCII-ws runs → one space, block/br
    * boundary spaces, edges trimmed) in a SINGLE builder pass — same
    * result as `Dom.normalizeWhitespace(textContentWithBlockSpaces(id))`
    * without the intermediate raw string.
    */
  def appendNormalizedText(id: Int, sb: java.lang.StringBuilder): Unit = {
    var lastWs = sb.length == 0 || Dom.isWhitespace(sb.charAt(sb.length - 1))
    def walk(node: Int): Unit = {
      var c = firstChild(node)
      while (c != -1) {
        kind(c) match {
          case Dom.Text =>
            val s = text(c)
            var i = 0
            while (i < s.length) {
              val ch = s.charAt(i)
              if (Dom.isWhitespace(ch)) {
                if (!lastWs) { sb.append(' '); lastWs = true }
              } else {
                // leading trim: a space at position 0 is never appended
                sb.append(ch); lastWs = false
              }
              i += 1
            }
          case Dom.Element =>
            if (Dom.insertsTextSpace(tag(c)) && !lastWs) {
              sb.append(' '); lastWs = true
            }
            walk(c)
          case _ =>
        }
        c = nextSib(c)
      }
    }
    if (kind(id) == Dom.Text) {
      sb.append(Dom.normalizeWhitespace(text(id)))
      return
    }
    walk(id)
  }

  /** Scratch builder for [[normalizedTextFused]] — lives with the arena
    * (one doc per thread at a time, no reentrancy inside the text walk),
    * so the builder's backing array is reused across the many per-node
    * text materializations of a document instead of regrown each call.
    */
  private var textScratch = new java.lang.StringBuilder(4096)

  /** Release an oversize-inflated scratch builder (called by the arena
    * pool between documents — one giant text node must not pin a
    * multi-MB char array per thread forever).
    */
  def trimScratch(): Unit =
    if (textScratch.capacity > (1 << 20)) textScratch = new java.lang.StringBuilder(4096)

  def normalizedTextFused(id: Int): String = {
    val sb = textScratch
    sb.setLength(0)
    appendNormalizedText(id, sb)
    // trailing trim (leading handled by lastWs init)
    var len = sb.length
    while (len > 0 && sb.charAt(len - 1) == ' ') len -= 1
    sb.substring(0, len)
  }

  /** Whitespace-normalized trimmed text (jsoup Element.text() analog:
    * runs of whitespace collapse to one space; entering a block element or
    * br inserts a space — matches SwiftSoup's getText used by the
    * reference for all length/score decisions).
    */
  def normalizedText(id: Int): String = normalizedTextFused(id)

  /** Depth of node relative to root. */
  def depth(id: Int): Int = {
    var d = 0
    var cur = parent(id)
    while (cur != -1) { d += 1; cur = parent(cur) }
    d
  }

  def hasAncestorTag(id: Int, t: String, maxDepth: Int = 3): Boolean = {
    var cur = parent(id)
    var d = 0
    while (cur != -1 && (maxDepth <= 0 || d < maxDepth)) {
      if (kind(cur) == Element && tag(cur) == t) return true
      cur = parent(cur)
      d += 1
    }
    false
  }

  /** Deep-copy a subtree within this arena; returns the detached copy root. */
  def cloneSubtree(id: Int): Int = {
    val copy = kind(id) match {
      case Dom.Element =>
        val e = newElement(tag(id))
        if (attrs(id) != null) setAttrs(e, attrs(id).clone())
        e
      case Dom.Text => newText(text(id))
      case Dom.Data => newData(text(id))
      case Dom.Comment => newComment(text(id))
      case Dom.Doctype => newDoctype(text(id))
      case _ => newElement("div")
    }
    var c = firstChild(id)
    while (c != -1) {
      appendChild(copy, cloneSubtree(c))
      c = nextSib(c)
    }
    copy
  }

  /** Import a subtree from another arena; returns the detached copy root. */
  def importSubtree(src: Dom, id: Int): Int = {
    val copy = src.kind(id) match {
      case Dom.Element =>
        val e = newElement(src.tag(id))
        if (src.attrs(id) != null) setAttrs(e, src.attrs(id).clone())
        e
      case Dom.Text => newText(src.text(id))
      case Dom.Data => newData(src.text(id))
      case Dom.Comment => newComment(src.text(id))
      case Dom.Doctype => newDoctype(src.text(id))
      case _ => newElement("div")
    }
    var c = src.firstChild(id)
    while (c != -1) {
      appendChild(copy, importSubtree(src, c))
      c = src.nextSib(c)
    }
    copy
  }

  // ------------------------------------------------------------- snapshot

  /** Deep copy for pass-restore. */
  /** Reusable snapshot buffer: the multi-pass driver takes exactly one
    * page snapshot per document, so the arrays are pooled with the arena
    * (same lifetime) instead of reallocated per doc.
    */
  private var snapBuf: DomSnapshot = null

  def snapshot(): DomSnapshot = {
    // every state saved here must be in the summary when it is restored
    summary
    if (snapBuf == null || snapBuf.kind.length < n) {
      val cap = math.max(n, if (snapBuf == null) 0 else snapBuf.kind.length * 2)
      snapBuf = DomSnapshot(0, new Array[Byte](cap), new Array[String](cap),
        new Array[Int](cap), new Array[Int](cap), new Array[Int](cap),
        new Array[Int](cap), new Array[Int](cap),
        new Array[Array[String]](cap), new Array[String](cap), -1, -1, -1, null, -1)
    }
    val s = snapBuf
    System.arraycopy(kind, 0, s.kind, 0, n)
    System.arraycopy(tag, 0, s.tag, 0, n)
    System.arraycopy(parent, 0, s.parent, 0, n)
    System.arraycopy(firstChild, 0, s.firstChild, 0, n)
    System.arraycopy(lastChild, 0, s.lastChild, 0, n)
    System.arraycopy(prevSib, 0, s.prevSib, 0, n)
    System.arraycopy(nextSib, 0, s.nextSib, 0, n)
    var i = 0
    while (i < n) { s.attrs(i) = if (attrs(i) != null) attrs(i).clone() else null; i += 1 }
    System.arraycopy(text, 0, s.text, 0, n)
    val out = s.copy(n = n, htmlEl = htmlEl, headEl = headEl, bodyEl = bodyEl,
      baseHref = baseHref, epoch = epoch)
    snapBuf = out // keep the filled buffer as the pool entry
    out
  }

  def restore(s: DomSnapshot): Unit = {
    n = s.n
    // the summary already holds the snapshot's states (summarized then);
    // slots from s.n on are reallocated, so they must be folded in again
    summarized = if (s.epoch == epoch) math.min(summarized, s.n) else 0
    if (kind.length < s.n) {
      kind = new Array[Byte](s.n); tag = new Array[String](s.n)
      parent = new Array[Int](s.n); firstChild = new Array[Int](s.n)
      lastChild = new Array[Int](s.n); prevSib = new Array[Int](s.n)
      nextSib = new Array[Int](s.n); attrs = new Array[Array[String]](s.n)
      text = new Array[String](s.n)
    }
    System.arraycopy(s.kind, 0, kind, 0, s.n)
    System.arraycopy(s.tag, 0, tag, 0, s.n)
    System.arraycopy(s.parent, 0, parent, 0, s.n)
    System.arraycopy(s.firstChild, 0, firstChild, 0, s.n)
    System.arraycopy(s.lastChild, 0, lastChild, 0, s.n)
    System.arraycopy(s.prevSib, 0, prevSib, 0, s.n)
    System.arraycopy(s.nextSib, 0, nextSib, 0, s.n)
    var i = 0
    while (i < s.n) { attrs(i) = if (s.attrs(i) != null) s.attrs(i).clone() else null; i += 1 }
    System.arraycopy(s.text, 0, text, 0, s.n)
    htmlEl = s.htmlEl; headEl = s.headEl; bodyEl = s.bodyEl; baseHref = s.baseHref
  }
}

final case class DomSnapshot(
    n: Int,
    kind: Array[Byte],
    tag: Array[String],
    parent: Array[Int],
    firstChild: Array[Int],
    lastChild: Array[Int],
    prevSib: Array[Int],
    nextSib: Array[Int],
    attrs: Array[Array[String]],
    text: Array[String],
    htmlEl: Int,
    headEl: Int,
    bodyEl: Int,
    baseHref: String,
    epoch: Int)

object Dom {
  final val Document: Byte = 0
  final val Element: Byte = 1
  final val Text: Byte = 2
  final val Comment: Byte = 3
  final val Doctype: Byte = 4
  final val Data: Byte = 5

  @inline def isWhitespace(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\r' || c == '\f'

  /** jsoup/SwiftSoup `Tag.isBlock` set: during `Element.text()`
    * accumulation, ENTERING one of these elements (or a `<br>`) inserts a
    * virtual space when the accumulator is non-empty and doesn't already
    * end in whitespace. All reference text measurements (`element.text()`,
    * `DOMHelpers.getInnerText`) run through this — minified markup
    * (`</div><div>` with no whitespace) still separates words.
    */
  private val blockTags: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String](128)
    Seq(
      "html", "head", "body", "frameset", "script", "noscript", "style",
      "meta", "link", "title", "frame", "noframes", "section", "nav",
      "aside", "hgroup", "header", "footer", "p", "h1", "h2", "h3", "h4",
      "h5", "h6", "ul", "ol", "pre", "div", "blockquote", "hr", "address",
      "figure", "figcaption", "form", "fieldset", "ins", "del", "dl", "dt",
      "dd", "li", "table", "caption", "thead", "tfoot", "tbody", "colgroup",
      "col", "tr", "th", "td", "video", "audio", "canvas", "details",
      "menu", "plaintext", "template", "article", "main", "svg", "math",
      "center"
    ).foreach(s.add)
    s
  }

  /** True if entering this element inserts a text() block space.
    * Hot (called per element in every text/measure walk): the common tags
    * are resolved by reference equality first — parser tag names are
    * interned to the JVM string-literal pool, so `eq` against a literal
    * hits for them — before falling back to the hash set.
    */
  @inline def insertsTextSpace(tag: String): Boolean = {
    if ((tag eq "span") || (tag eq "a") || (tag eq "em") || (tag eq "strong") ||
        (tag eq "i") || (tag eq "b") || (tag eq "img") || (tag eq "small") ||
        (tag eq "u") || (tag eq "code") || (tag eq "sup") || (tag eq "sub")) false
    else if ((tag eq "p") || (tag eq "div") || (tag eq "br") || (tag eq "li") ||
        (tag eq "td") || (tag eq "tr") || (tag eq "ul") || (tag eq "ol") ||
        (tag eq "h1") || (tag eq "h2") || (tag eq "h3") || (tag eq "h4") ||
        (tag eq "table") || (tag eq "tbody") || (tag eq "figure") ||
        (tag eq "figcaption") || (tag eq "blockquote") || (tag eq "section") ||
        (tag eq "article") || (tag eq "header") || (tag eq "footer") ||
        (tag eq "pre") || (tag eq "aside") || (tag eq "nav")) true
    else tag == "br" || blockTags.contains(tag)
  }

  /** Collapse runs of ASCII whitespace to single spaces and trim.
    * (U+00A0 is NOT whitespace here — matches jsoup/SwiftSoup text().)
    */
  /** CharSequence-typed so a StringBuilder can be normalized directly —
    * callers like Serialize's span flush avoid the intermediate toString
    * copy of every text run.
    */
  def normalizeWhitespace(raw: CharSequence): String = {
    val sb = new java.lang.StringBuilder(raw.length)
    var i = 0
    var lastWs = true // leading trim
    while (i < raw.length) {
      val c = raw.charAt(i)
      if (isWhitespace(c)) {
        if (!lastWs) sb.append(' ')
        lastWs = true
      } else {
        sb.append(c)
        lastWs = false
      }
      i += 1
    }
    // trailing trim
    var len = sb.length
    while (len > 0 && sb.charAt(len - 1) == ' ') len -= 1
    sb.setLength(len)
    sb.toString
  }
}
