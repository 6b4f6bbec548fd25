package graft.html

import graft.algo.{DomOps, FixtureRunner, Readability}
import graft.spark.Corpus
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path, Paths}

/** `Select.select`/`selectFirst` skip the walk when the arena's presence
  * summary proves that no comma group can match. They must return exactly
  * what the unpruned walk returns. The oracle below is that walk, kept
  * verbatim from before the summary existed, and it is run on every
  * selector the kernel compiles, over golden pages, generator pages and
  * generator pages with a matching fragment spliced in per selector, and
  * after each kind of mutation that can add a tag, attribute, id or class
  * to a node the summary has already folded in.
  */
class SelectPruneSpec extends AnyFunSuite {

  // ------------------------------------------------------------- oracle

  private def oracleSimple(dom: Dom, node: Int, s: Select.Simple): Boolean = {
    if (dom.kind(node) != Dom.Element) return false
    if (s.tag != null && dom.tag(node) != s.tag) return false
    if (s.id != null && dom.idAttr(node) != s.id) return false
    if (s.classes.nonEmpty) {
      val cls = dom.className(node)
      if (cls.isEmpty) return false
      if (!s.classes.forall(Select.hasClassToken(cls, _))) return false
    }
    s.attrs.forall { case (name, op, v) =>
      val av = dom.attr(node, name)
      op match {
        case '\u0000' => av != null
        case '=' => av != null && av == v
        case '*' => av != null && av.contains(v)
        case '^' => av != null && av.startsWith(v)
        case '$' => av != null && av.endsWith(v)
        case '~' => av != null && Select.hasClassToken(av, v)
        case _ => false
      }
    }
  }

  private def oracleFrom(dom: Dom, node: Int, c: Select.Compiled, idx: Int, root: Int): Boolean = {
    if (!oracleSimple(dom, node, c.revSimples(idx))) return false
    if (idx + 1 >= c.revSimples.length)
      return !c.rootChild || (root != -1 && dom.parent(node) == root)
    val p = dom.parent(node)
    if (c.revChild(idx)) p != -1 && dom.kind(p) == Dom.Element && oracleFrom(dom, p, c, idx + 1, root)
    else {
      var cur = p
      while (cur != -1 && dom.kind(cur) == Dom.Element) {
        if (oracleFrom(dom, cur, c, idx + 1, root)) return true
        cur = dom.parent(cur)
      }
      false
    }
  }

  private def oracleSelect(dom: Dom, root: Int, sel: String): Seq[Int] = {
    val groups = Select.compile(sel)
    val out = Seq.newBuilder[Int]
    var cur = dom.nextInTree(root, root)
    while (cur != -1) {
      if (dom.kind(cur) == Dom.Element &&
          groups.exists(g => g.revSimples.nonEmpty && oracleFrom(dom, cur, g, 0, root))) out += cur
      cur = dom.nextInTree(cur, root)
    }
    out.result()
  }

  /** Both entry points agree with the oracle; returns the oracle's ids. */
  private def agree(dom: Dom, root: Int, sel: String, where: String): Seq[Int] = {
    val expected = oracleSelect(dom, root, sel)
    val got = Select.select(dom, root, sel).toSeq
    assert(got == expected, s"select('$sel') at $where")
    assert(Select.selectFirst(dom, root, sel) == expected.headOption.getOrElse(-1),
      s"selectFirst('$sel') at $where")
    expected
  }

  // -------------------------------------------------------------- pages

  private val goldenRoot: Path = Paths.get(getClass.getResource("/golden").toURI)

  private def goldenPages: Seq[String] = {
    val s = Files.list(goldenRoot)
    try s.toArray.toSeq.map(_.asInstanceOf[Path]).filter(Files.isDirectory(_))
      .sortBy(_.getFileName.toString).map(d => Files.readString(d.resolve("source.html")))
    finally s.close()
  }

  private def generatorPages: Seq[String] = (0L until 24L).map(i => Corpus.docHtml(19L, i, 0.0)._1)

  /** Runs the kernel over `pages` so that every selector its rules reach
    * is compiled, then reads them back from the compile cache.
    */
  private def kernelSelectors(pages: Seq[String]): Seq[String] = {
    for (html <- pages) Readability.parse(html, FixtureRunner.fakeBaseUrl, FixtureRunner.mozillaOptions)
    Select.compiledSelectors.sorted
  }

  /** Markup that one comma group matches: the steps nested outermost
    * first, each with its tag, id, classes and attributes.
    */
  private def fragment(c: Select.Compiled): String = {
    val steps = c.revSimples.reverse
    val open = steps.map { s =>
      val t = Option(s.tag).getOrElse("div")
      val attrs = Seq.newBuilder[(String, String)]
      Option(s.id).foreach(id => attrs += "id" -> id)
      if (s.classes.nonEmpty) attrs += "class" -> s.classes.mkString(" ")
      for ((name, op, v) <- s.attrs) attrs += name -> (op match {
        case '*' => "x" + v + "y"
        case '^' => v + "x"
        case '$' => "x" + v
        case '\u0000' => ""
        case _ => v
      })
      val as = attrs.result().map { case (k, v) =>
        s""" $k="${v.replace("&", "&amp;").replace("\"", "&quot;")}"""" }.mkString
      (t, s"<$t$as>")
    }
    open.map(_._2).mkString + "text for the fragment" + open.reverse.map(o => s"</${o._1}>").mkString
  }

  private def splice(page: String, frag: String): String = {
    val at = page.indexOf("<div class=\"content article-body\">")
    if (at < 0) page.replace("</body>", frag + "</body>")
    else page.substring(0, at) + frag + page.substring(at)
  }

  /** Each selector at the document, the body and a few inner roots. */
  private def assertPage(dom: Dom, selectors: Seq[String], where: String): Unit = {
    val inner = (dom.getElementsByTag(dom.bodyEl, "div").take(3) ++
      dom.getElementsByTag(dom.bodyEl, "p").take(1)).toSeq
    for (sel <- selectors; root <- Seq(dom.document, dom.bodyEl) ++ inner)
      agree(dom, root, sel, s"$where root=$root")
  }

  /** The selectors the kernel compiles on golden and generator pages,
    * then, until no new one appears, on a generator page with each new
    * selector's fragment spliced in: a rule that matched its first
    * selector goes on to compile the ones it applies to the matches.
    */
  private lazy val selectors: Seq[String] = {
    var known = kernelSelectors(goldenPages ++ generatorPages)
    var fresh = known
    while (fresh.nonEmpty) {
      val next = kernelSelectors(fresh.map(s =>
        splice(generatorPages.head, Select.compile(s).map(fragment).mkString)))
      fresh = next.diff(known)
      known = next
    }
    known
  }

  test("the kernel's selectors: pruned select equals the unpruned walk on golden and generator pages") {
    assert(selectors.length > 150, s"${selectors.length} selectors compiled")
    var pruned = 0
    val pages = goldenPages ++ generatorPages
    for ((html, i) <- pages.zipWithIndex) {
      val dom = Parser.parse(html)
      assertPage(dom, selectors, s"page $i")
      pruned += selectors.count(s => Select.cannotMatch(dom, Select.compile(s)))
    }
    // the summary must actually skip walks, or this spec proves nothing
    assert(pruned > selectors.length * 10, s"$pruned pruned selector queries")
    info(s"${selectors.length} selectors; $pruned of ${selectors.length * pages.length} page queries pruned")
  }

  test("generator pages with each selector's matching fragment spliced in") {
    val base = generatorPages.take(3)
    var matched = 0
    for ((sel, k) <- selectors.zipWithIndex) {
      val html = splice(base(k % base.length), Select.compile(sel).map(fragment).mkString)
      val dom = Parser.parse(html)
      if (agree(dom, dom.document, sel, s"spliced '$sel'").nonEmpty) matched += 1
      assert(!Select.cannotMatch(dom, Select.compile(sel)) ||
        oracleSelect(dom, dom.document, sel).isEmpty)
      for (other <- selectors; root <- Seq(dom.document, dom.bodyEl))
        agree(dom, root, other, s"spliced '$sel' root=$root")
    }
    // a fragment the parser cannot keep (head-only tags, table parts out
    // of a table) matches nothing; every other one must match
    assert(matched > selectors.length * 8 / 10, s"$matched of ${selectors.length} fragments matched")
    info(s"$matched of ${selectors.length} fragments matched")
  }

  // ---------------------------------------------------------- mutations

  private def page(): Dom = Parser.parse(
    """<body><div id="a" class="x"><p>para <b>bold</b></p></div>
      |<section><span>s</span><em>e</em></section></body>""".stripMargin)

  private def first(dom: Dom, tag: String): Int = dom.getElementsByTag(dom.document, tag).head

  test("setAttr on a node the summary already holds: new class, id and attribute name") {
    val d = page()
    val p = first(d, "p")
    for (sel <- Seq(".late", "#late", "[data-late]", "[data-late=1]", "p[id=late]", "p.late", "div > p[data-late]"))
      assert(agree(d, d.document, sel, "before").isEmpty)
    d.setAttr(p, "class", "late")
    d.setAttr(p, "id", "late")
    d.setAttr(p, "data-late", "1")
    for (sel <- Seq(".late", "#late", "[data-late]", "[data-late=1]", "p[id=late]", "p.late", "div > p[data-late]"))
      assert(agree(d, d.document, sel, "after setAttr") == Seq(p))
    // a new value for an attribute the node already has
    d.setAttr(first(d, "div"), "class", "y z")
    assert(agree(d, d.document, "div.z", "after class change") == Seq(first(d, "div")))
    assert(agree(d, d.document, "[class=y z]", "after class change") == Seq(first(d, "div")))
  }

  test("retag: setTag and DomOps.setNodeTag on a node the summary already holds") {
    val d = page()
    val span = first(d, "span")
    val em = first(d, "em")
    assert(agree(d, d.document, "mark, kbd", "before").isEmpty)
    d.setTag(span, "mark")
    assert(agree(d, d.document, "mark", "after setTag") == Seq(span))
    DomOps.setNodeTag(d, em, "kbd")
    assert(agree(d, d.document, "section > kbd", "after setNodeTag") == Seq(em))
  }

  test("setAttrs on a node the summary already holds, and Cleaner's split shell") {
    val d = page()
    val div = first(d, "div")
    assert(agree(d, d.document, ".swapped, .shell", "before").isEmpty)
    d.setAttrs(first(d, "b"), Array("class", "swapped"))
    assert(agree(d, d.document, "b.swapped", "after setAttrs") == Seq(first(d, "b")))
    // Cleaner.splitElement's shell: a new element with a copy of the attrs
    d.setAttr(div, "class", "shell")
    val shell = d.newElement(d.tag(div))
    d.setAttrs(shell, d.attrs(div).clone())
    d.insertBefore(div, shell)
    assert(agree(d, d.document, "div.shell", "after shell") == Seq(shell, div))
  }

  test("cloneSubtree and importSubtree add nodes after a query") {
    val d = page()
    assert(agree(d, d.document, ".cloned, aside.imported, #imp", "before").isEmpty)
    val copy = d.cloneSubtree(first(d, "div"))
    d.setAttr(copy, "class", "cloned")
    d.appendChild(d.bodyEl, copy)
    assert(agree(d, d.document, ".cloned p", "after clone").length == 1)
    val other = Parser.parse("<body><aside class=\"imported\"><b id=\"imp\">x</b></aside></body>")
    val aside = other.getElementsByTag(other.bodyEl, "aside").head
    d.appendChild(d.bodyEl, d.importSubtree(other, aside))
    assert(agree(d, d.document, "aside.imported", "after import").length == 1)
    assert(agree(d, d.document, "#imp", "after import").length == 1)
  }

  test("snapshot/restore: restored states, reused slots and a snapshot of another document") {
    val d = page()
    assert(agree(d, d.document, ".a", "start").isEmpty)
    // a node allocated after the last query, changed after the snapshot
    val y = d.newElement("div")
    d.setAttr(y, "class", "a")
    d.appendChild(d.bodyEl, y)
    val snap = d.snapshot()
    d.setAttr(y, "class", "b")
    assert(agree(d, d.document, ".b", "changed") == Seq(y))
    d.restore(snap)
    assert(agree(d, d.document, ".a", "restored") == Seq(y))
    // slots past the snapshot are reallocated with new values
    val z = d.newElement("ins")
    d.setAttr(z, "class", "gone")
    d.appendChild(d.bodyEl, z)
    assert(agree(d, d.document, ".gone", "grown").length == 1)
    d.restore(snap)
    val w = d.newElement("del")
    d.setAttr(w, "class", "fresh")
    d.appendChild(d.bodyEl, w)
    assert(agree(d, d.document, "del.fresh", "reused slot") == Seq(w))
    // a pooled arena reset for another document, then restored
    val pooled = Parser.parseInto("<body><p class=\"first-doc\">one</p></body>", new Dom())
    val s1 = pooled.snapshot()
    Parser.parseInto("<body><p class=\"second-doc\">two</p></body>", pooled)
    assert(agree(pooled, pooled.document, ".first-doc", "second document").isEmpty)
    pooled.restore(s1)
    assert(agree(pooled, pooled.document, ".first-doc", "restored first document").length == 1)
  }

  // ---------------------------------------------------------- case fold

  test("attribute names match [attr], .class and #id under equalsIgnoreCase's fold, in any locale") {
    val d = Parser.parse("<body><div>x</div></body>")
    assert(agree(d, d.document, ".shout, .longs, #mixed, #dotless, [data-key]", "empty").isEmpty)
    def el(attrs: (String, String)*): Int = {
      val e = d.newElement("div")
      d.setAttrs(e, attrs.flatMap { case (k, v) => Seq(k, v) }.toArray)
      d.appendChild(d.bodyEl, e)
      e
    }
    val upper = el("CLASS" -> "shout", "Id" -> "mixed")
    val longS = el("cla\u017Fs" -> "longs", "\u0131d" -> "dotless") // long s, dotless i
    val kelvin = el("data-\u212Aey" -> "1") // Kelvin sign folds to k
    val dotted = el("\u0130D" -> "dotted") // capital I with dot above folds to i
    // the first query folds these nodes in lazily
    assert(agree(d, d.document, ".shout", "lazy") == Seq(upper))
    assert(agree(d, d.document, "#mixed", "lazy") == Seq(upper))
    assert(agree(d, d.document, "[class]", "lazy") == Seq(upper, longS))
    assert(agree(d, d.document, ".longs", "lazy") == Seq(longS))
    assert(agree(d, d.document, "[class~=longs]", "lazy") == Seq(longS))
    assert(agree(d, d.document, "#dotless", "lazy") == Seq(longS))
    assert(agree(d, d.document, "[data-key]", "lazy") == Seq(kelvin))
    assert(agree(d, d.document, "#dotted", "lazy") == Seq(dotted))
    // the same names set on nodes the summary already holds
    val p = d.newElement("p")
    d.appendChild(d.bodyEl, p)
    assert(agree(d, d.document, ".later, #later-id", "before").isEmpty)
    d.setAttr(p, "CLA\u017FS", "later")
    d.setAttr(p, "ID", "later-id")
    assert(agree(d, d.document, "p.later", "eager") == Seq(p))
    assert(agree(d, d.document, "#later-id", "eager") == Seq(p))
    // selectors compiled under a Turkish default locale, where "ID" lowercases to "ıd"
    val saved = java.util.Locale.getDefault
    try {
      java.util.Locale.setDefault(java.util.Locale.forLanguageTag("tr"))
      assert(agree(d, d.document, "[ID]", "tr locale").length == 4)
      assert(agree(d, d.document, "div[CLASS]", "tr locale") == Seq(upper, longS))
    } finally java.util.Locale.setDefault(saved)
  }

  test("attrKey: names equalsIgnoreCase accepts share a key, over every BMP char and its case maps") {
    var c = 0
    while (c < 0x10000) {
      if (!Character.isSurrogate(c.toChar)) {
        val a = c.toChar.toString
        for (m <- Seq(Character.toUpperCase(c), Character.toLowerCase(c), Character.toTitleCase(c),
            Character.toLowerCase(Character.toUpperCase(c)), Character.toUpperCase(Character.toLowerCase(c)))) {
          val b = new String(Character.toChars(m))
          if (a.equalsIgnoreCase(b))
            assert(Presence.attrKey("x" + a + "y") == Presence.attrKey("x" + b + "y"), f"U+$c%04X vs U+$m%04X")
        }
      }
      c += 1
    }
    for (sup <- Seq(0x10400, 0x10428, 0x1E900, 0x1E922)) { // Deseret, Adlam case pairs
      val a = new String(Character.toChars(sup))
      val b = new String(Character.toChars(Character.toUpperCase(sup)))
      assert(a.equalsIgnoreCase(b))
      assert(Presence.attrKey(a) == Presence.attrKey(b), f"U+$sup%X")
    }
  }
}
