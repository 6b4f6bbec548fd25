package graft.html

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** Tiny CSS-selector engine over the arena DOM — exactly the feature set
  * the reference's call sites use (survey of `select(...)` callers,
  * SURVEY.md §7.1 step 2): tag, `#id`, `.class`, `[attr]`, `[attr=v]`,
  * `[attr*=v]`, `[attr^=v]`, `[attr~=v]`, compound simple selectors,
  * descendant combinator, child `>`, and comma-separated groups.
  * Matching is case-insensitive on tag names (stored lowercase) and
  * attribute names; attribute values compare case-sensitively except
  * where the caller lowercases.
  */
object Select {

  sealed trait Step
  final case class Simple(
      tag: String, // null = any
      id: String, // null = any
      classes: List[String],
      attrs: List[(String, Char, String)] // (name, op, value); op: '\u0000' exists, '=', '*', '^', '~'
  ) extends Step

  /** revSteps: last simple selector first (match target, then ancestors);
    * childFlag(i) binds revSteps(i) to its ancestor step i+1; rootChild
    * anchors the top-most step as a DIRECT child of the query root
    * (leading ">" selector). `needs` holds the [[Presence]] keys of every
    * tag, `#id`, `.class`, `[attr]` name and `[attr=value]` pair the group
    * requires: a match needs each of them on some node of the arena.
    */
  final case class Compiled(revSimples: Array[Simple], revChild: Array[Boolean], rootChild: Boolean) {
    val needs: Array[Int] = revSimples.flatMap { s =>
      Option(s.tag).map(Presence.tagKey) ++
        // an empty #id equals the "" that idAttr answers for a node
        // without one, and an empty class token can match whitespace
        Option(s.id).filter(_.nonEmpty).map(Presence.valueKey("id", _)) ++
        s.classes.filter(_.nonEmpty).map(Presence.classKey) ++
        s.attrs.map(a => Presence.attrKey(a._1)) ++
        s.attrs.collect { case (name, '=', v) => Presence.valueKey(name, v) }
    }.distinct
  }

  private val cache = new java.util.concurrent.ConcurrentHashMap[String, Array[Compiled]]()

  /** Every selector string compiled so far in this JVM. */
  private[html] def compiledSelectors: Seq[String] = cache.keySet.asScala.toSeq

  def compile(sel: String): Array[Compiled] = {
    // lock-free fast path: computeIfAbsent takes the bin lock even for
    // present keys when bins collide, which serializes 32-thread callers
    val hit = cache.get(sel)
    if (hit != null) hit
    else cache.computeIfAbsent(sel, s => s.split(',').map(g => compileOne(g.trim)))
  }

  private def compileOne(sel: String): Compiled = {
    val steps = new ArrayBuffer[(Boolean, Simple)]()
    var i = 0
    var child = false
    val n = sel.length
    while (i < n) {
      while (i < n && sel.charAt(i) == ' ') i += 1
      if (i < n && sel.charAt(i) == '>') {
        child = true
        i += 1
        while (i < n && sel.charAt(i) == ' ') i += 1
      }
      if (i < n) {
        val start = i
        var depth = 0
        while (i < n && (depth > 0 || (sel.charAt(i) != ' ' && sel.charAt(i) != '>'))) {
          if (sel.charAt(i) == '[') depth += 1
          if (sel.charAt(i) == ']') depth -= 1
          i += 1
        }
        steps += ((child, parseSimple(sel.substring(start, i))))
        child = false
      }
    }
    val rev = steps.reverse
    // a leading ">" arrives as child=true on the FIRST step: it binds that
    // step to the query root rather than to another step
    val rootChild = steps.nonEmpty && steps.head._1
    val revChild = rev.map(_._1).toArray
    if (rootChild) revChild(revChild.length - 1) = false
    Compiled(rev.map(_._2).toArray, revChild, rootChild)
  }

  private def parseSimple(s: String): Simple = {
    var tag: String = null
    var id: String = null
    var classes = List.empty[String]
    var attrs = List.empty[(String, Char, String)]
    var i = 0
    val n = s.length
    while (i < n) {
      s.charAt(i) match {
        case '#' =>
          val st = i + 1
          i += 1
          while (i < n && !isDelim(s.charAt(i))) i += 1
          id = s.substring(st, i)
        case '.' =>
          val st = i + 1
          i += 1
          while (i < n && !isDelim(s.charAt(i))) i += 1
          classes = s.substring(st, i) :: classes
        case '[' =>
          val end = s.indexOf(']', i)
          val inner = s.substring(i + 1, if (end < 0) n else end)
          i = if (end < 0) n else end + 1
          val opIdx = inner.indexWhere(c => c == '=' || c == '*' || c == '^' || c == '~' || c == '$')
          if (opIdx < 0) attrs = (inner.toLowerCase, '\u0000', null) :: attrs
          else {
            val name = inner.substring(0, opIdx).toLowerCase
            val opc = inner.charAt(opIdx)
            val (op, vStart) =
              if (opc == '=') ('=', opIdx + 1)
              else (opc, opIdx + 2) // *=, ^=, ~=
            var v = inner.substring(vStart)
            if (v.length >= 2 && (v.charAt(0) == '"' || v.charAt(0) == '\''))
              v = v.substring(1, v.length - 1)
            attrs = (name, op, v) :: attrs
          }
        case _ =>
          val st = i
          while (i < n && !isDelim(s.charAt(i))) i += 1
          tag = s.substring(st, i).toLowerCase
          if (tag == "*") tag = null
      }
    }
    Simple(tag, id, classes, attrs)
  }

  private def isDelim(c: Char): Boolean = c == '#' || c == '.' || c == '['

  def matches(dom: Dom, node: Int, sel: String): Boolean = {
    val groups = compile(sel)
    var g = 0
    while (g < groups.length) {
      if (matchesCompiled(dom, node, groups(g))) return true
      g += 1
    }
    false
  }

  private def matchesSimple(dom: Dom, node: Int, s: Simple): Boolean = {
    if (dom.kind(node) != Dom.Element) return false
    if (s.tag != null && dom.tag(node) != s.tag) return false
    if (s.id != null && dom.idAttr(node) != s.id) return false
    if (s.classes.nonEmpty) {
      val cls = dom.className(node)
      if (cls.isEmpty) return false
      // no lambdas in this predicate (hottest in the engine: every node x
      // every selector step) - a `return` inside a for-comprehension closure
      // costs a NonLocalReturnControl throw + a fresh Object key PER CALL
      // (measured ~14 GB of allocation / 60k docs before the rewrite)
      var cl = s.classes
      while (cl.nonEmpty) {
        if (!hasClassToken(cls, cl.head)) return false
        cl = cl.tail
      }
    }
    var al = s.attrs
    while (al.nonEmpty) {
      val a = al.head
      val av = dom.attr(node, a._1)
      a._2 match {
        case '\u0000' => if (av == null) return false
        case '=' => if (av == null || av != a._3) return false
        case '*' => if (av == null || !av.contains(a._3)) return false
        case '^' => if (av == null || !av.startsWith(a._3)) return false
        case '$' => if (av == null || !av.endsWith(a._3)) return false
        case '~' => if (av == null || !hasClassToken(av, a._3)) return false
        case _ => return false
      }
      al = al.tail
    }
    true
  }

  def hasClassToken(cls: String, token: String): Boolean = {
    var i = 0
    val n = cls.length
    val tn = token.length
    while (i < n) {
      while (i < n && Dom.isWhitespace(cls.charAt(i))) i += 1
      var j = i
      while (j < n && !Dom.isWhitespace(cls.charAt(j))) j += 1
      if (j - i == tn && cls.regionMatches(i, token, 0, tn)) return true
      i = j
    }
    false
  }

  private def matchesCompiled(dom: Dom, node: Int, c: Compiled, root: Int = -1): Boolean = {
    if (c.revSimples.length == 0) return false
    matchFrom(dom, node, c, 0, root)
  }

  private def matchFrom(dom: Dom, node: Int, c: Compiled, idx: Int, root: Int): Boolean = {
    if (!matchesSimple(dom, node, c.revSimples(idx))) return false
    if (idx + 1 >= c.revSimples.length)
      return !c.rootChild || (root != -1 && dom.parent(node) == root)
    // the combinator binding THIS step to its ancestor
    val isChild = c.revChild(idx)
    val p = dom.parent(node)
    if (isChild) p != -1 && dom.kind(p) == Dom.Element && matchFrom(dom, p, c, idx + 1, root)
    else {
      var cur = p
      while (cur != -1 && dom.kind(cur) == Dom.Element) {
        if (matchFrom(dom, cur, c, idx + 1, root)) return true
        cur = dom.parent(cur)
      }
      false
    }
  }

  @inline private def matchesAny(dom: Dom, node: Int, groups: Array[Compiled], root: Int = -1): Boolean = {
    var g = 0
    while (g < groups.length) {
      if (matchesCompiled(dom, node, groups(g), root)) return true
      g += 1
    }
    false
  }

  /** True when no comma group can match anywhere in the arena: each one
    * needs a key the presence summary has never seen (or has no step).
    */
  private[html] def cannotMatch(dom: Dom, groups: Array[Compiled]): Boolean = {
    val seen = dom.summary
    var g = 0
    while (g < groups.length) {
      val c = groups(g)
      if (c.revSimples.length > 0) {
        val needs = c.needs
        var k = 0
        while (k < needs.length && seen.contains(needs(k))) k += 1
        if (k == needs.length) return false
      }
      g += 1
    }
    true
  }

  private val NoIds = new Array[Int](0)

  /** All elements under root (root excluded) matching sel, doc order. */
  def select(dom: Dom, root: Int, sel: String): Array[Int] = {
    val compiled = compile(sel)
    if (cannotMatch(dom, compiled)) return NoIds
    // primitive result: select runs inside every per-document rule loop and
    // ArrayBuffer[Int] boxes each id (measured allocation site)
    var arr = new Array[Int](16)
    var n = 0
    var cur = dom.nextInTree(root, root)
    while (cur != -1) {
      if (dom.kind(cur) == Dom.Element && matchesAny(dom, cur, compiled, root)) {
        if (n == arr.length) arr = java.util.Arrays.copyOf(arr, n * 2)
        arr(n) = cur
        n += 1
      }
      cur = dom.nextInTree(cur, root)
    }
    if (n == arr.length) arr else java.util.Arrays.copyOf(arr, n)
  }

  def selectFirst(dom: Dom, root: Int, sel: String): Int = {
    val compiled = compile(sel)
    if (cannotMatch(dom, compiled)) return -1
    var cur = dom.nextInTree(root, root)
    while (cur != -1) {
      if (dom.kind(cur) == Dom.Element && matchesAny(dom, cur, compiled, root)) return cur
      cur = dom.nextInTree(cur, root)
    }
    -1
  }
}
