package graft.algo

import graft.html.{Dom, Select}
import DomOps._
import scala.collection.mutable.ArrayBuffer

/** prepArticle + postProcessArticle: cleanup passes C1–C17 (SURVEY.md §2.4).
  * Behavior anchor: `Sources/Readability/Internal/ArticleCleaner.swift`.
  */
final class Cleaner(dom: Dom, opts: Options,
    allowConditionalCleaning: Boolean, allowWeightClasses: Boolean,
    /** the document's site-rule context (registry phases
      * `SiteRuleRegistry.swift:218-303`) */
    siteCtx: SiteRules.Ctx) {
  import Cleaner._

  private val dataTables = new java.util.HashSet[Integer]()

  private def linkDensity(id: Int): Double = DomOps.linkDensity(dom, id)

  private def sel(root: Int, s: String) = Select.select(dom, root, s)

  // ================================================== prepArticle (C1–C14)

  def prepArticle(articleContent: Int): Unit = {
    dataTables.clear()
    removeUnwantedElements(articleContent)
    promoteFloatedInlineImagesToFigures(articleContent)
    cleanStyles(articleContent)
    markDataTables(articleContent)
    fixLazyImages(articleContent)
    restoreFigureWrapperMetadataAttributes(articleContent)
    if (allowConditionalCleaning) {
      cleanConditionally(articleContent, "form")
      cleanConditionally(articleContent, "fieldset")
    }
    SiteRules.applyShareRules(articleContent, siteCtx)
    removeShortShareElements(articleContent)
    removeAll(articleContent, "input, textarea, select, button")
    removeShortLinkHeavyDivs(articleContent)
    removeRelatedLinkCollectionDivs(articleContent)
    SiteRules.applyPreConversionRules(articleContent, siteCtx)
    removeSingleItemPromoLists(articleContent)
    removeEmptyContainerDivs(articleContent)
    removeShortRoleNoteCallouts(articleContent)
    if (allowConditionalCleaning) {
      cleanConditionally(articleContent, "table")
      cleanConditionally(articleContent, "ul")
      cleanConditionally(articleContent, "div")
    }
    convertDivsToParagraphs(articleContent)
    collapseSingleDivWrappers(articleContent)
  }

  private def removeAll(root: Int, selector: String): Unit = {
    val nodes = sel(root, selector)
    var i = 0
    while (i < nodes.length) { dom.remove(nodes(i)); i += 1 }
  }

  // ------------------------------------------------------------------ C1

  private def removeUnwantedElements(root: Int): Unit = {
    removeAll(root, "script, style, noscript")
    removeAll(root, "footer, aside, link")
    removeExplicitNoContentContainers(root)
    removeKnownWidgetElements(root)
    SiteRules.applyUnwantedElementRules(root, siteCtx)
    removeDisallowedEmbeds(root)
    // hidden elements
    var cur = dom.nextInTree(root, root)
    while (cur != -1) {
      if (dom.kind(cur) == Dom.Element && shouldRemoveAsHidden(dom, cur))
        cur = removeAndGetNext(dom, cur, root)
      else cur = dom.nextInTree(cur, root)
    }
  }

  private def removeExplicitNoContentContainers(root: Int): Unit = {
    val containers = sel(root, "section, div")
    var i = 0
    while (i < containers.length) {
      val c = containers(i)
      if (dom.parent(c) != -1) {
        val signature = (dom.idAttr(c) + " " + dom.className(c)).toLowerCase
        val isExplicitNoContent = signature.contains("nocontent") ||
          signature.contains("robots-nocontent") || signature.contains("whats-next")
        val isSupplemental = signature.contains("supplemental")
        if (isExplicitNoContent || isSupplemental) {
          val tlen = trimmedTextLength(dom, c, cap = if (isSupplemental) 1200 else 500)
          if (isSupplemental) {
            if (tlen <= 1200 || linkDensity(c) >= 0.2) dom.remove(c)
          } else if (tlen <= 500) {
            rescueStoryContinueLinks(c)
            dom.remove(c)
          }
        }
      }
      i += 1
    }
  }

  private def rescueStoryContinueLinks(container: Int): Unit = {
    val parent = dom.parent(container)
    if (parent == -1) return
    val parentSignature = (dom.idAttr(parent) + " " + dom.className(parent)).toLowerCase
    val parentId = dom.idAttr(parent).toLowerCase
    val hasInterrupter = Select.selectFirst(dom, dom.document, "div#story-continues-1") != -1
    val links = sel(container, "a[href^=#story-continues-]")
    var i = 0
    while (i < links.length) {
      val link = links(i)
      val href = Option(dom.attr(link, "href")).getOrElse("").trim
      val shouldRescue =
        if (parentId == "story-continues-1") href == "#story-continues-2"
        else if (hasInterrupter && parentSignature.contains("story-body")) href == "#story-continues-1"
        else false
      if (shouldRescue) {
        val text = sTrim(innerText(dom, link))
        if (text.nonEmpty) {
          val p = dom.newElement("p")
          val a = dom.newElement("a")
          dom.setAttr(a, "href", href)
          dom.appendChild(a, dom.newText(text))
          dom.appendChild(p, a)
          dom.insertBefore(container, p)
          return
        }
      }
      i += 1
    }
  }

  private def removeKnownWidgetElements(root: Int): Unit = {
    // video control "Stream Type" label block
    val spans = dom.getElementsByTag(root, "span")
    var i = 0
    while (i < spans.length) {
      val s = spans(i)
      // raw-substring probe before building ownText — this loop visits
      // every span of every doc (measured allocation hotspot)
      if (dom.parent(s) != -1 && hasDirectTextContaining(s, "Stream")) {
        val own = ownText(s).trim
        if (own == "Stream Type" || own.matches("^\\s*Stream\\s+Type\\s*$")) {
          var cur = dom.parent(s)
          var done = false
          while (cur != -1 && !done) {
            if (dom.kind(cur) == Dom.Element && dom.tag(cur) == "div") {
              val text = innerText(dom, cur)
              if (text.startsWith("Stream Type")) { dom.remove(cur); done = true }
            }
            if (!done) cur = dom.parent(cur)
          }
        }
      }
      i += 1
    }
    // video caption/settings control panes
    val divs1 = dom.getElementsByTag(root, "div")
    i = divs1.length - 1
    while (i >= 0) {
      val d = divs1(i)
      if ((dom.parent(d) != -1)) {
        val labels = dom.getElementsByTag(d, "label")
        // needs three distinct label texts — skip the string builds otherwise
        if (labels.length >= 3) {
          val texts = labels.map(l => sTrim(innerText(dom, l)).toLowerCase)
          if (texts.contains("foreground") && texts.contains("background") && texts.contains("font size"))
            dom.remove(d)
        }
      }
      i -= 1
    }
    // nav tablist: drop embedded search forms
    val navs = dom.getElementsByTag(root, "nav")
    i = 0
    while (i < navs.length) {
      val nav = navs(i)
      if ((dom.parent(nav) != -1) && Select.selectFirst(dom, nav, "ul[role=tablist]") != -1)
        removeAll(nav, "form")
      i += 1
    }
    // interactive editor promo widgets (direct svg + markdown children)
    val divs2 = dom.getElementsByTag(root, "div")
    i = divs2.length - 1
    while (i >= 0) {
      val d = divs2(i)
      if ((dom.parent(d) != -1)) {
        val children = dom.childElements(d)
        val hasSvg = children.exists(c => dom.tag(c) == "svg")
        val hasMarkdown = children.exists(c => Option(dom.attr(c, "markdown")).exists(_.nonEmpty))
        if (hasSvg && hasMarkdown) dom.remove(d)
      }
      i -= 1
    }
    // reader feedback prompts
    val prompts = sel(root, "div[class*=reader-satisfaction-survey], div[class*=feedback-prompt], div[class*=feedback]")
    i = 0
    while (i < prompts.length) {
      val p = prompts(i)
      if ((dom.parent(p) != -1)) {
        val cls = dom.className(p).toLowerCase
        if (cls.contains("feedback-prompt") || cls.contains("reader-satisfaction-survey"))
          dom.remove(p)
      }
      i += 1
    }
    // standalone ad label blocks
    val divs3 = dom.getElementsByTag(root, "div")
    i = divs3.length - 1
    while (i >= 0) {
      val d = divs3(i)
      // "advertising" = 11, "advertisement" = 13 — length probe before the
      // per-div text build (every div of every doc walks through here)
      if (dom.parent(d) != -1 && {
            val tl = trimmedTextLength(dom, d, cap = 13); tl == 11 || tl == 13
          }) {
        val text = sTrim(innerText(dom, d)).toLowerCase
        if ((text == "advertising" || text == "advertisement") &&
            Select.selectFirst(dom, d, "img, picture, video, iframe, object, embed, figure") == -1)
          dom.remove(d)
      }
      i -= 1
    }
  }

  /** Allocation-light probe: `needle` contained in the CONCATENATION of the
    * direct text children (ownText semantics, pre-normalization). A match
    * split across adjacent text runs — e.g. a comment dropped at parse time
    * between "Str" and "eam" leaves two sibling text nodes — is still
    * found: the scan streams across node boundaries with an n-char ring
    * buffer instead of testing each node in isolation.
    */
  private[algo] def hasDirectTextContaining(id: Int, needle: String): Boolean = {
    val n = needle.length
    if (n == 0) return true
    val ring = new Array[Char](n)
    var filled = 0
    var pos = 0
    var c = dom.firstChild(id)
    while (c != -1) {
      if (dom.kind(c) == Dom.Text) {
        val s = dom.text(c)
        var i = 0
        while (i < s.length) {
          ring(pos) = s.charAt(i)
          pos += 1
          if (pos == n) pos = 0
          if (filled < n) filled += 1
          if (filled == n) {
            var k = 0
            var ok = true
            while (ok && k < n) {
              var j = pos + k
              if (j >= n) j -= n
              if (ring(j) != needle.charAt(k)) ok = false
              k += 1
            }
            if (ok) return true
          }
          i += 1
        }
      }
      c = dom.nextSib(c)
    }
    false
  }

  private def ownText(id: Int): String = {
    val sb = new java.lang.StringBuilder()
    var c = dom.firstChild(id)
    while (c != -1) {
      if (dom.kind(c) == Dom.Text) sb.append(dom.text(c))
      c = dom.nextSib(c)
    }
    Dom.normalizeWhitespace(sb.toString)
  }

  private def removeDisallowedEmbeds(root: Int): Unit = {
    val embeds = sel(root, "iframe, object, embed")
    var i = 0
    while (i < embeds.length) {
      if (!isAllowedVideoEmbed(embeds(i))) dom.remove(embeds(i))
      i += 1
    }
  }

  private def isAllowedVideoEmbed(id: Int): Boolean = {
    val p = Config.videos
    val a = dom.attrs(id)
    if (a != null) {
      var i = 1
      while (i < a.length + 1) {
        if (i % 2 == 1 && a(i) != null && p.matcher(a(i)).find()) return true
        i += 2
      }
    }
    if (dom.tag(id) == "object") {
      val html = graft.html.Serialize.innerHtml(dom, id)
      if (p.matcher(html).find()) return true
    }
    false
  }

  // ------------------------------------------------------------------ C2

  private def promoteFloatedInlineImagesToFigures(root: Int): Unit = {
    var image = nextFloatedInlineImage(root)
    var guard0 = 0
    while (image != -1 && guard0 < 1000) {
      val host = nearestFloatedImageHost(image)
      if (host == -1 || dom.parent(host) == -1) stripFloatFromStyle(image)
      else promoteFloatedInlineImage(image, host)
      image = nextFloatedInlineImage(root)
      guard0 += 1
    }
  }

  private def nextFloatedInlineImage(root: Int): Int = {
    val imgs = sel(root, "img[style]")
    var i = 0
    while (i < imgs.length) {
      val img = imgs(i)
      if (dom.parent(img) != -1 && isFloatedInlineImage(img) &&
          !hasAncestorTag(dom, img, "figure", 0) && nearestFloatedImageHost(img) != -1)
        return img
      i += 1
    }
    -1
  }

  private def isFloatedInlineImage(img: Int): Boolean = {
    val style = Option(dom.attr(img, "style")).getOrElse("")
    floatPattern.matcher(style).find()
  }

  private def nearestFloatedImageHost(img: Int): Int = {
    var cur = dom.parent(img)
    while (cur != -1 && dom.kind(cur) == Dom.Element) {
      val t = dom.tag(cur)
      if (t == "p" || t == "div" || t == "li" || t == "blockquote") return cur
      if (t == "article" || t == "section" || t == "main" || t == "body") return -1
      cur = dom.parent(cur)
    }
    -1
  }

  private def stripFloatFromStyle(el: Int): Unit = {
    val style = Option(dom.attr(el, "style")).getOrElse("")
    if (style.isEmpty) return
    val cleaned = style.split(";").map(_.trim).filter(_.nonEmpty).filter { decl =>
      val colon = decl.indexOf(':')
      if (colon < 0) true
      else {
        val prop = decl.substring(0, colon).trim.toLowerCase
        if (prop != "float") true
        else {
          val v = decl.substring(colon + 1).trim.toLowerCase
          !(v.startsWith("left") || v.startsWith("right"))
        }
      }
    }.mkString("; ")
    if (cleaned.isEmpty) dom.removeAttr(el, "style")
    else dom.setAttr(el, "style", cleaned)
  }

  /** Split the host paragraph along the path to the image into
    * before/figure/after (`ArticleCleaner.swift:424-550`).
    */
  private def promoteFloatedInlineImage(image: Int, host: Int): Unit = {
    val parent = dom.parent(host)
    if (parent == -1) return
    // ancestor path host..image
    val path = new ArrayBuffer[Int]()
    var cur = image
    while (cur != -1 && cur != host) { path += cur; cur = dom.parent(cur) }
    if (cur != host) { stripFloatFromStyle(image); return }
    path += host
    val rpath = path.reverse // host .. image

    val (before, after) = splitElement(host, rpath, 0)
    val figure = dom.newElement("figure")
    dom.appendChild(figure, dom.cloneSubtree(image))
    if (before != -1) dom.insertBefore(host, before)
    dom.insertBefore(host, figure)
    if (after != -1) dom.insertBefore(host, after)
    dom.remove(host)
  }

  /** Returns (before, after) shells, -1 when empty. */
  private def splitElement(element: Int, path: ArrayBuffer[Int], index: Int): (Int, Int) = {
    def shell(of: Int): Int = {
      val e = dom.newElement(dom.tag(of))
      if (dom.attrs(of) != null) dom.setAttrs(e, dom.attrs(of).clone())
      e
    }
    val beforeClone = shell(element)
    val afterClone = shell(element)
    val nextOnPath = if (index + 1 < path.length) path(index + 1) else -1
    var crossed = false
    var child = dom.firstChild(element)
    while (child != -1) {
      val nxt = dom.nextSib(child)
      if (nextOnPath != -1 && child == nextOnPath) {
        if (index + 1 == path.length - 1) crossed = true
        else if (dom.kind(child) == Dom.Element) {
          val (b, a) = splitElement(child, path, index + 1)
          if (b != -1) dom.appendChild(beforeClone, b)
          if (a != -1) dom.appendChild(afterClone, a)
          crossed = true
        }
      } else {
        val cloned = dom.cloneSubtree(child)
        if (crossed) dom.appendChild(afterClone, cloned)
        else dom.appendChild(beforeClone, cloned)
      }
      child = nxt
    }
    pruneEmptyDescendants(beforeClone)
    pruneEmptyDescendants(afterClone)
    (if (hasMeaningfulContent(beforeClone)) beforeClone else -1,
     if (hasMeaningfulContent(afterClone)) afterClone else -1)
  }

  private def pruneEmptyDescendants(el: Int): Unit = {
    val children = dom.childElements(el)
    var i = children.length - 1
    while (i >= 0) {
      pruneEmptyDescendants(children(i))
      if (!hasMeaningfulContent(children(i))) dom.remove(children(i))
      i -= 1
    }
  }

  private def hasMeaningfulContent(id: Int): Boolean = {
    dom.kind(id) match {
      case Dom.Text => sTrim(dom.text(id)).nonEmpty
      case Dom.Data => sTrim(dom.text(id)).nonEmpty
      case Dom.Comment => false
      case Dom.Element =>
        val t = dom.tag(id)
        if (t == "img" || t == "picture" || t == "video" || t == "audio" || t == "svg") true
        else {
          var c = dom.firstChild(id)
          while (c != -1) {
            if (hasMeaningfulContent(c)) return true
            c = dom.nextSib(c)
          }
          false
        }
      case _ => true
    }
  }

  // ------------------------------------------------------------------ C3

  private def cleanStyles(el: Int): Unit = {
    if (dom.kind(el) == Dom.Element) {
      if (dom.tag(el) == "svg") return
      Config.presentationalAttributes.foreach(a => dom.removeAttr(el, a))
      if (Config.deprecatedSizeAttributeElems.contains(dom.tag(el))) {
        dom.removeAttr(el, "width")
        dom.removeAttr(el, "height")
      }
    }
    val children = dom.childElements(el)
    var i = 0
    while (i < children.length) { cleanStyles(children(i)); i += 1 }
  }

  // ------------------------------------------------------------------ C4

  private def markDataTables(root: Int): Unit = {
    val tables = sel(root, "table")
    var i = 0
    while (i < tables.length) {
      val table = tables(i)
      var done = false
      if (Option(dom.attr(table, "role")).contains("presentation")) done = true
      if (!done && Option(dom.attr(table, "datatable")).contains("0")) done = true
      if (!done && Option(dom.attr(table, "summary")).exists(_.nonEmpty)) {
        dataTables.add(table); done = true
      }
      if (!done) {
        val caption = Select.selectFirst(dom, table, "caption")
        if (caption != -1 && dom.firstChild(caption) != -1) { dataTables.add(table); done = true }
      }
      if (!done && Select.selectFirst(dom, table, "col, colgroup, tfoot, thead, th") != -1) {
        dataTables.add(table); done = true
      }
      if (!done && sel(table, "table").nonEmpty) done = true // nested
      if (!done) {
        val (rows, cols) = rowAndColumnCount(table)
        if (cols == 1 || rows == 1) done = true
        else if (rows >= 10 || cols > 4 || rows * cols > 10) dataTables.add(table)
      }
      i += 1
    }
  }

  private def rowAndColumnCount(table: Int): (Int, Int) = {
    var rows = 0
    var cols = 0
    val trs = sel(table, "tr")
    var i = 0
    while (i < trs.length) {
      val tr = trs(i)
      val rowspan = Option(dom.attr(tr, "rowspan")).flatMap(v => scala.util.Try(v.toInt).toOption).getOrElse(0)
      rows += math.max(rowspan, 1)
      var colsInRow = 0
      val tds = sel(tr, "td")
      var j = 0
      while (j < tds.length) {
        val colspan = Option(dom.attr(tds(j), "colspan")).flatMap(v => scala.util.Try(v.toInt).toOption).getOrElse(0)
        colsInRow += math.max(colspan, 1)
        j += 1
      }
      cols = math.max(cols, colsInRow)
      i += 1
    }
    (rows, cols)
  }

  private def isDataTable(id: Int): Boolean = dataTables.contains(id)

  // ------------------------------------------------------------------ C5

  private def fixLazyImages(root: Int): Unit = {
    val images = sel(root, "img, picture, figure")
    var i = 0
    while (i < images.length) {
      val img = images(i)
      // tiny base64 placeholder removal
      val currentSrc = Option(dom.attr(img, "src")).getOrElse("")
      val m = b64Prefix.matcher(currentSrc)
      if (m.find()) {
        val mime = m.group(1).toLowerCase
        if (!mime.contains("image/svg+xml")) {
          var srcCouldBeRemoved = false
          val a = dom.attrs(img)
          if (a != null) {
            var j = 0
            while (j < a.length && !srcCouldBeRemoved) {
              if (a(j) != "src" && a(j + 1) != null && imgExt.matcher(a(j + 1)).find())
                srcCouldBeRemoved = true
              j += 2
            }
          }
          if (srcCouldBeRemoved) {
            val payloadLength = Config.charLen(currentSrc) - m.end()
            if (payloadLength < 133) dom.removeAttr(img, "src")
          }
        }
      }
      val src = Option(dom.attr(img, "src")).getOrElse("")
      val srcset = Option(dom.attr(img, "srcset")).getOrElse("")
      val cls = dom.className(img).toLowerCase
      if (!((src.nonEmpty || (srcset.nonEmpty && srcset != "null")) && !cls.contains("lazy"))) {
        var pendingSrc: String = null
        var pendingSrcset: String = null
        val a = dom.attrs(img)
        if (a != null) {
          var j = 0
          while (j < a.length) {
            val key = a(j)
            val value = Option(a(j + 1)).getOrElse("").trim
            if (key != "src" && key != "srcset" && key != "alt" && value.nonEmpty) {
              if (srcsetLike.matcher(value).find()) {
                if (pendingSrcset == null) pendingSrcset = value
              } else if (srcLike.matcher(value).find()) {
                if (pendingSrc == null) pendingSrc = value
              }
            }
            j += 2
          }
        }
        val t = dom.tag(img)
        if (pendingSrcset != null && (t == "img" || t == "picture"))
          dom.setAttr(img, "srcset", pendingSrcset)
        if (pendingSrc != null) {
          if (t == "img" || t == "picture") dom.setAttr(img, "src", pendingSrc)
          else if (t == "figure" && Select.selectFirst(dom, img, "img, picture") == -1) {
            val child = dom.newElement("img")
            dom.setAttr(child, "src", pendingSrc)
            dom.appendChild(img, child)
          }
        }
        if (pendingSrcset != null && t == "figure" &&
            Select.selectFirst(dom, img, "img, picture") == -1) {
          val child = dom.newElement("img")
          dom.setAttr(child, "srcset", pendingSrcset)
          dom.appendChild(img, child)
        }
      }
      i += 1
    }
  }

  private def restoreFigureWrapperMetadataAttributes(root: Int): Unit = {
    val wrappers = sel(root, "figure[contenteditable=false] > div")
    var i = 0
    while (i < wrappers.length) {
      val w = wrappers(i)
      if (Select.selectFirst(dom, w, "img") != -1) {
        if (Option(dom.attr(w, "contenteditable")).getOrElse("").isEmpty)
          dom.setAttr(w, "contenteditable", "false")
        if (Option(dom.attr(w, "data-syndicationrights")).getOrElse("").isEmpty)
          dom.setAttr(w, "data-syndicationrights", "false")
      }
      i += 1
    }
  }

  // ------------------------------------------------------------------ C6

  private def shouldPreserveFootnoteSection(id: Int): Boolean = {
    val identity = (dom.className(id) + " " + dom.idAttr(id) + " " +
      Option(dom.attr(id, "data-type")).getOrElse("")).toLowerCase
    if (!identity.contains("footnote")) return false
    if (Select.selectFirst(dom, id, "li[id^=fn]") != -1) return true
    if (Select.selectFirst(dom, id, "a[href^=#fnref]") != -1) return true
    false
  }

  private def cleanConditionally(root: Int, tag: String): Unit = {
    val nodes = sel(root, tag)
    var i = nodes.length - 1
    while (i >= 0) {
      val node = nodes(i)
      if (dom.parent(node) != -1 && (dom.parent(node) != -1)) {
        cleanConditionallyNode(root, node, tag)
      }
      i -= 1
    }
  }

  private def cleanConditionallyNode(root: Int, node: Int, tag: String): Unit = {
    val dataType = Option(dom.attr(node, "data-type")).getOrElse("").trim.toLowerCase
    if (dataType == "footnotes" || dataType == "footnote") return
    if (shouldPreserveFootnoteSection(node)) return

    // fused measurements — one subtree walk, no text materialization on
    // this path (it runs for every conditional-clean candidate of every doc)
    val (textLen, trimmedLen, commaN) = measureSubtree(dom, node)
    var isList = tag == "ul" || tag == "ol"
    if (!isList && textLen > 0) {
      var listLength = 0
      val lists = sel(node, "ul, ol")
      var j = 0
      while (j < lists.length) { listLength += textLength(dom, lists(j)); j += 1 }
      isList = listLength.toDouble / textLen > 0.9
    }

    if (tag == "table" && isDataTable(node)) return
    if (hasAncestorTag(dom, node, "table", 0, isDataTable)) return
    if (hasAncestorTag(dom, node, "code", 0)) return
    val innerTables = sel(node, "table")
    var j = 0
    while (j < innerTables.length) {
      if (isDataTable(innerTables(j))) return
      j += 1
    }

    val weight = cleanerClassWeight(node)
    if (weight < 0) {
      Inspect.log("clean-cond")(s"remove(weight<0): ${Inspect.describe(dom, node)}")
      Inspect.recordRemoval("clean-conditionally", Inspect.describe(dom, node), "weight<0")
      dom.remove(node); return
    }

    if (commaN >= 10) return

    val p = sel(node, "p").length
    val img = sel(node, "img").length
    val li = sel(node, "li").length - 100
    val input = sel(node, "input").length
    val headingDensity = textDensity(node, Set("h1", "h2", "h3", "h4", "h5", "h6"))

    var embedCount = 0
    val embeds = sel(node, "object, embed, iframe")
    j = 0
    var allowedEmbed = false
    while (j < embeds.length && !allowedEmbed) {
      if (isAllowedVideoEmbed(embeds(j))) allowedEmbed = true
      else embedCount += 1
      j += 1
    }
    if (allowedEmbed) return

    // ad/loading words are ≤ 13 code points ("advertisement",
    // "chargement...") — length probe before materializing the text
    if (trimmedLen > 0 && trimmedLen <= 13) {
      val trimmed = sTrim(innerText(dom, node))
      if (adWord.matcher(trimmed).find() || loadingWord.matcher(trimmed).find()) {
        dom.remove(node); return
      }
    }

    val contentLength = textLen
    val density = linkDensity(node)
    val tDensity = textDensity(node, Set("span", "li", "td") ++ Config.divToPElems)
    val isFigureChild = hasAncestorTag(dom, node, "figure", 0)

    var shouldRemove = false
    if (!isFigureChild && img > 1 && p.toDouble / img < 0.5) shouldRemove = true
    else if (!isList && li > p) shouldRemove = true
    else if (input > p / 3) shouldRemove = true
    else if (!isList && !isFigureChild && headingDensity < 0.9 && contentLength < 25 &&
        (img == 0 || img > 2) && density > 0) shouldRemove = true
    else if (!isList && weight < 25 && density > 0.2) shouldRemove = true
    else if (weight >= 25 && density > 0.5) shouldRemove = true
    else if ((embedCount == 1 && contentLength < 75) || embedCount > 1) shouldRemove = true
    else if (img == 0 && tDensity == 0) shouldRemove = true

    if (isList && shouldRemove) {
      var hasComplexListItems = false
      val children = dom.childElements(node)
      j = 0
      while (j < children.length && !hasComplexListItems) {
        if (dom.childElementCount(children(j)) > 1) hasComplexListItems = true
        j += 1
      }
      if (!hasComplexListItems) {
        val liCount = sel(node, "li").length
        if (img == liCount) shouldRemove = false
      }
    }
    if (shouldRemove) {
      Inspect.log("clean-cond") {
        s"remove: ${Inspect.describe(dom, node)} p=$p img=$img li=$li input=$input " +
          f"headDens=$headingDensity%.2f len=$contentLength dens=$density%.2f tDens=$tDensity%.2f w=$weight" +
          s"\n    html=${graft.html.Serialize.html(dom, node).take(500)}"
      }
      Inspect.recordRemoval("clean-conditionally", Inspect.describe(dom, node),
        f"p=$p img=$img li=$li input=$input headDens=$headingDensity%.2f " +
          f"len=$contentLength dens=$density%.2f tDens=$tDensity%.2f w=$weight")
      dom.remove(node)
    }
  }

  /** The cleaner's class weight uses literal substring matching of the
    * pattern list entries (`ArticleCleaner.swift:1530-1544`), unlike the
    * scoring regex variant.
    */
  private val negativeLiterals = Seq(
    "-ad-", "hidden", "^hid$", " hid$", " hid ", "^hid ",
    "banner", "combx", "comment", "com-", "contact",
    "foot", "footer", "footnote", "gdpr", "links-bar", "masthead",
    "media", "meta", "outbrain", "promo", "related", "scroll",
    "share", "shoutbox", "sidebar", "skyscraper", "sponsor",
    "shopping", "tags", "tool", "widget")
  private val positiveLiterals = Seq(
    "article", "body", "content", "entry", "hentry", "h-entry",
    "main", "page", "pagination", "post", "text", "blog", "story")

  private def cleanerClassWeight(id: Int): Double = {
    if (!allowWeightClasses) return 0
    val classAndId = (dom.className(id) + " " + dom.idAttr(id)).toLowerCase
    var weight = 0.0
    if (negativeLiterals.exists(classAndId.contains)) weight -= Config.ClassWeightPositive
    if (positiveLiterals.exists(classAndId.contains)) weight += Config.ClassWeightPositive
    weight
  }

  /** Text density of `tags` descendants INCLUDING the element itself when
    * it matches — SwiftSoup's `Element.select` evaluates the query against
    * the receiver too (jsoup semantics), so in the reference a non-empty
    * `div` always has textDensity ≥ 1 for a tag set containing "div" and
    * the `img == 0 && textDensity == 0` conditional-clean branch only ever
    * fires for EMPTY nodes. (`ArticleCleaner.swift:1236-1248`; the
    * reference excludes the root only where it plants its explicit
    * `data-readability-root-marker`.)
    */
  private def textDensity(id: Int, tags: Set[String]): Double = {
    val total = textLength(dom, id)
    if (total == 0) return 0
    var childrenLength = 0
    if (tags.contains(dom.tag(id))) childrenLength += total
    val children = dom.getElementsByTags(id, tags)
    var i = 0
    while (i < children.length) { childrenLength += textLength(dom, children(i)); i += 1 }
    childrenLength.toDouble / total
  }

  // ------------------------------------------------------------------ C7

  private def removeShortShareElements(articleContent: Int): Unit = {
    val tops = dom.childElements(articleContent)
    var i = 0
    while (i < tops.length) {
      val top = tops(i)
      val candidates = sel(top, "[class*=share], [id*=share], [class*=sharedaddy], [id*=sharedaddy]")
      var j = candidates.length - 1
      while (j >= 0) {
        val node = candidates(j)
        if (node != top && (dom.parent(node) != -1)) {
          val ms = (dom.className(node) + " " + dom.idAttr(node)).toLowerCase
          if (shareMarker.matcher(ms).find() && textLength(dom, node) < opts.charThreshold)
            dom.remove(node)
        }
        j -= 1
      }
      i += 1
    }
  }

  // ------------------------------------------------------------------ C9

  private def removeShortLinkHeavyDivs(root: Int): Unit = {
    val divs = sel(root, "div")
    var i = divs.length - 1
    while (i >= 0) {
      val div = divs(i)
      if (dom.parent(div) != -1 && (dom.parent(div) != -1) &&
          !hasAncestorTag(dom, div, "table", 0) &&
          Select.selectFirst(dom, div, "img, picture, figure, video, iframe, object, embed, table, pre, code, ul, ol, blockquote") == -1) {
        val tlen = trimmedTextLength(dom, div, cap = 90)
        if (tlen > 0 && tlen <= 90 &&
            sel(div, "p").length <= 4 && sel(div, "a").length >= 2 &&
            linkDensity(div) >= 0.2)
          dom.remove(div)
      }
      i -= 1
    }
  }

  // ----------------------------------------------------------------- C10

  private def removeRelatedLinkCollectionDivs(root: Int): Unit = {
    val divs = sel(root, "div")
    var i = divs.length - 1
    while (i >= 0) {
      val div = divs(i)
      if (dom.parent(div) != -1 && (dom.parent(div) != -1) &&
          !hasAncestorTag(dom, div, "figure", 0) && !hasAncestorTag(dom, div, "table", 0) &&
          Select.selectFirst(dom, div, "img, picture, figure, video, iframe, object, embed") == -1) {
        val h = Select.selectFirst(dom, div, "h1, h2, h3, h4, h5, h6, strong, b")
        val headingText = if (h == -1) "" else sTrim(innerText(dom, h)).toLowerCase
        if (headingText.nonEmpty) {
          val isRelated = headingText == "related" || headingText == "more" ||
            headingText.startsWith("related ") || headingText.startsWith("more on ") ||
            headingText.startsWith("most read")
          if (isRelated &&
              sel(div, "a").length >= 3 && sel(div, "ul, ol").nonEmpty &&
              sel(div, "p").length <= 3 && textLength(dom, div) <= 1200 &&
              linkDensity(div) >= 0.2)
            dom.remove(div)
        }
      }
      i -= 1
    }
  }

  // ----------------------------------------------------------------- C11

  private def removeSingleItemPromoLists(root: Int): Unit = {
    val lists = sel(root, "ul, ol")
    var i = lists.length - 1
    while (i >= 0) {
      val list = lists(i)
      if (dom.parent(list) != -1 && (dom.parent(list) != -1) &&
          !hasAncestorTag(dom, list, "figure", 0) && !hasAncestorTag(dom, list, "table", 0)) {
        val items = dom.childElements(list)
        if (items.size == 1 && dom.tag(items(0)) == "li" && sel(list, "a").length == 1) {
          val tlen = trimmedTextLength(dom, list, cap = 90)
          if (tlen > 0 && tlen <= 90) {
            val prev = prevElementSibling(list)
            val next = nextElementSibling(list)
            if (prev != -1 && dom.tag(prev) == "p" && next != -1 && dom.tag(next) == "p")
              dom.remove(list)
          }
        }
      }
      i -= 1
    }
  }

  private def prevElementSibling(id: Int): Int = {
    var cur = dom.prevSib(id)
    while (cur != -1) {
      if (dom.kind(cur) == Dom.Element) return cur
      cur = dom.prevSib(cur)
    }
    -1
  }

  private def nextElementSibling(id: Int): Int = {
    var cur = dom.nextSib(id)
    while (cur != -1) {
      if (dom.kind(cur) == Dom.Element) return cur
      cur = dom.nextSib(cur)
    }
    -1
  }

  // ----------------------------------------------------------------- C12

  private def removeEmptyContainerDivs(root: Int): Unit = {
    val divs = sel(root, "div")
    var i = divs.length - 1
    while (i >= 0) {
      val div = divs(i)
      if (dom.parent(div) != -1 && (dom.parent(div) != -1)) {
        if (textEmpty(dom, div) &&
            Select.selectFirst(dom, div, "img, picture, figure, video, iframe, object, embed, table") == -1)
          dom.remove(div)
      }
      i -= 1
    }
  }

  // ----------------------------------------------------------------- C13

  private def removeShortRoleNoteCallouts(root: Int): Unit = {
    val notes = sel(root, "div[role=note], aside[role=note]")
    var i = notes.length - 1
    while (i >= 0) {
      val note = notes(i)
      if (dom.parent(note) != -1 && (dom.parent(note) != -1) &&
          Select.selectFirst(dom, note, "img, picture, figure, video, iframe, object, embed, table") == -1) {
        val tlen = trimmedTextLength(dom, note, cap = 80)
        if (tlen > 0 && tlen <= 80) {
          val text = sTrim(innerText(dom, note))
          val lower = text.toLowerCase
          if (lower.startsWith("main article:") || lower.startsWith("see also:"))
            dom.remove(note)
        }
      }
      i -= 1
    }
  }

  // ----------------------------------------------------------------- C14

  def convertDivsToParagraphs(root: Int): Unit = {
    val divs = sel(root, "div")
    var i = 0
    while (i < divs.length) {
      val div = divs(i)
      if ((dom.parent(div) != -1) && dom.kind(div) == Dom.Element && dom.tag(div) == "div" &&
          dom.parent(div) != -1) {
        // wrap consecutive phrasing runs
        var childNode = dom.firstChild(div)
        while (childNode != -1) {
          var nextSibling = dom.nextSib(childNode)
          if (isPhrasingContent(dom, childNode)) {
            val fragment = new ArrayBuffer[Int]()
            var cursor = childNode
            while (cursor != -1 && isPhrasingContent(dom, cursor)) {
              nextSibling = dom.nextSib(cursor)
              fragment += cursor
              cursor = nextSibling
            }
            while (fragment.nonEmpty && isWhitespaceNode(dom, fragment.head)) {
              dom.remove(fragment.head); fragment.remove(0)
            }
            while (fragment.nonEmpty && isWhitespaceNode(dom, fragment.last)) {
              dom.remove(fragment.last); fragment.remove(fragment.length - 1)
            }
            if (fragment.nonEmpty) {
              val p = dom.newElement("p")
              if (nextSibling != -1) dom.insertBefore(nextSibling, p)
              else dom.appendChild(div, p)
              fragment.foreach(f => if (dom.parent(f) != -1) dom.appendChild(p, f))
            }
          }
          childNode = nextSibling
        }

        if (hasSingleTagInsideElement(dom, div, "p") && linkDensity(div) < 0.25 &&
            !shouldPreserveFigureImageWrapper(div) && !shouldPreserveMathFormulaWrapper(div) && {
              val parent = dom.parent(div)
              parent != -1 && dom.childElementCount(parent) == 1
            }) {
          val only = dom.childElements(div)(0)
          dom.replaceWith(div, only)
        } else if (!hasChildBlockElement(dom, div)) {
          if (!shouldPreserveFigureImageWrapper(div)) {
            setNodeTag(dom, div, "p")
            val idValue = dom.idAttr(div).trim
            if (idValue.matches("^[0-9]{6,}$")) dom.removeAttr(div, "id")
            if (dom.hasAttr(div, "data-media-type") || dom.hasAttr(div, "data-media-meta")) {
              dom.removeAttr(div, "data-media-type")
              dom.removeAttr(div, "data-media-meta")
            }
          }
        }
      }
      i += 1
    }
  }

  private def shouldPreserveFigureImageWrapper(id: Int): Boolean = {
    if (!hasAncestorTag(dom, id, "figure", 0)) return false
    if (Select.selectFirst(dom, id, "img, picture") == -1) return false
    val parent = dom.parent(id)
    if (parent != -1 && dom.tag(parent) == "figure" && dom.childElementCount(parent) == 1) return true
    val ce = Option(dom.attr(id, "contenteditable")).getOrElse("").trim
    val sr = Option(dom.attr(id, "data-syndicationrights")).getOrElse("").trim
    if (ce.nonEmpty || sr.nonEmpty) return true
    if (parent != -1 && dom.tag(parent) == "figure") {
      val fce = Option(dom.attr(parent, "contenteditable")).getOrElse("").trim.toLowerCase
      val fsr = Option(dom.attr(parent, "data-syndicationrights")).getOrElse("").trim
      if (fce == "false" || fsr.nonEmpty) return true
    }
    false
  }

  private def shouldPreserveMathFormulaWrapper(id: Int): Boolean = {
    if (!hasSingleTagInsideElement(dom, id, "p")) return false
    Select.selectFirst(dom, id, "p > img[src*=/media/math/render/]") != -1
  }

  private def collapseSingleDivWrappers(root: Int): Unit = {
    val divs = sel(root, "div")
    var i = divs.length - 1
    while (i >= 0) {
      val div = divs(i)
      if ((dom.parent(div) != -1) && dom.parent(div) != -1 &&
          !dom.hasAttr(div, "data-testid") &&
          !dom.hasAttr(div, "data-load-playlist") &&
          Select.selectFirst(dom, div, "[data-load-playlist]") == -1 &&
          dom.idAttr(div).trim.isEmpty && dom.className(div).trim.isEmpty &&
          hasSingleTagInsideElement(dom, div, "div") && linkDensity(div) < 0.25) {
        val child = dom.childElements(div)(0)
        val a = dom.attrs(div)
        if (a != null) {
          var j = 0
          while (j < a.length) {
            val key = a(j).toLowerCase
            if (!(dom.tag(child) == "p" && key == "dir"))
              dom.setAttr(child, a(j), a(j + 1))
            j += 2
          }
        }
        dom.replaceWith(div, child)
      }
      i -= 1
    }
  }

  // =============================================== postProcessArticle C15

  def postProcessArticle(articleContent: Int): Unit = {
    removeExtraBRs(articleContent)
    removeEmptyParagraphs(articleContent)
    removeAdvertisementPlaceholders(articleContent)
    replaceH1WithH2(articleContent)
    SiteRules.applyPostProcessRules(articleContent, siteCtx)
    handleSingleCellTables(articleContent)
  }

  private def removeExtraBRs(root: Int): Unit = {
    val brs = sel(root, "br")
    var i = 0
    while (i < brs.length) {
      if (dom.isAttached(brs(i)) && shouldRemoveBrBeforeParagraph(brs(i))) dom.remove(brs(i))
      i += 1
    }
  }

  private def shouldRemoveBrBeforeParagraph(br: Int): Boolean = {
    var cursor = dom.nextSib(br)
    while (cursor != -1) {
      dom.kind(cursor) match {
        case Dom.Text =>
          if (sTrim(dom.text(cursor)).isEmpty) cursor = dom.nextSib(cursor)
          else return false
        case Dom.Element =>
          val t = dom.tag(cursor)
          if (t == "br") cursor = dom.nextSib(cursor)
          else return t == "p"
        case _ => cursor = dom.nextSib(cursor)
      }
    }
    false
  }

  private def removeEmptyParagraphs(root: Int): Unit = {
    val ps = sel(root, "p")
    var i = 0
    while (i < ps.length) {
      val p = ps(i)
      if ((dom.parent(p) != -1)) {
        if (textEmpty(dom, p) && sel(p, "img, embed, object, iframe").isEmpty) dom.remove(p)
      }
      i += 1
    }
  }

  private def replaceH1WithH2(root: Int): Unit = {
    val h1s = sel(root, "h1")
    var i = 0
    while (i < h1s.length) { setNodeTag(dom, h1s(i), "h2"); i += 1 }
  }

  private def removeAdvertisementPlaceholders(root: Int): Unit = {
    val candidates = sel(root, "div, p")
    var i = 0
    while (i < candidates.length) {
      val node = candidates(i)
      if ((dom.parent(node) != -1)) {
        val capped = innerTextCapped(dom, node, 130)
        if (capped != null) {
          val text = sTrim(capped).toLowerCase
          if (text == "advertisement") dom.remove(node)
          else {
            val identity = (dom.idAttr(node) + " " + dom.className(node)).toLowerCase
            if (adContainer.matcher(identity).find() && Config.charLen(text) <= 120 &&
                Select.selectFirst(dom, node, "img, video, picture, figure, table, blockquote") == -1)
              dom.remove(node)
          }
        }
      }
      i += 1
    }
  }

  def handleSingleCellTables(root: Int): Unit = {
    val tables = sel(root, "table")
    var i = 0
    while (i < tables.length) {
      val table = tables(i)
      if ((dom.parent(table) != -1)) {
        val tbody =
          if (hasSingleTagInsideElement(dom, table, "tbody")) dom.childElements(table)(0)
          else table
        if (hasSingleTagInsideElement(dom, tbody, "tr")) {
          val row = dom.childElements(tbody)(0)
          val cellTag =
            if (hasSingleTagInsideElement(dom, row, "td")) "td"
            else if (hasSingleTagInsideElement(dom, row, "th")) "th"
            else null
          if (cellTag != null) {
            val cell = dom.childElements(row)(0)
            var allPhrasing = true
            var c = dom.firstChild(cell)
            while (c != -1 && allPhrasing) {
              if (!isPhrasingContent(dom, c)) allPhrasing = false
              c = dom.nextSib(c)
            }
            val newTag = if (allPhrasing) "p" else "div"
            setNodeTag(dom, cell, newTag)
            if (newTag == "p") dom.removeAttr(cell, "dir")
            dom.insertBefore(table, cell)
            dom.remove(table)
          }
        }
      }
      i += 1
    }
  }

  // ============================================================= C17 trim

  private val meaningfulContentTags = Set(
    "img", "picture", "video", "audio", "svg", "figure", "table", "ul",
    "ol", "blockquote", "pre", "code", "iframe", "object", "embed",
    "canvas", "math", "article")
  private val boundaryContainerTags = Set(
    "div", "section", "aside", "header", "footer", "article", "main")
  private val removableWrapperTags = Set(
    "div", "section", "aside", "header", "footer")

  def trimBoundaryNonContent(root: Int): Unit = {
    var changed = true
    while (changed) {
      changed = false
      if (trimLeadingBoundary(root)) changed = true
      if (trimTrailingBoundary(root)) changed = true
    }
  }

  private def trimLeadingBoundary(element: Int): Boolean = {
    var removed = false
    var break0 = false
    while (!break0 && dom.firstChild(element) != -1) {
      val first = dom.firstChild(element)
      if (dom.kind(first) == Dom.Element && boundaryContainerTags.contains(dom.tag(first))) {
        if (trimLeadingBoundary(first)) removed = true
        if (isWrapperOnlyResidue(first)) { dom.remove(first); removed = true }
        else break0 = true
      } else if (isDirectResidue(first)) {
        dom.remove(first); removed = true
      } else break0 = true
    }
    removed
  }

  private def trimTrailingBoundary(element: Int): Boolean = {
    var removed = false
    var break0 = false
    while (!break0 && dom.lastChild(element) != -1) {
      val last = dom.lastChild(element)
      if (dom.kind(last) == Dom.Element && boundaryContainerTags.contains(dom.tag(last))) {
        if (trimTrailingBoundary(last)) removed = true
        if (isWrapperOnlyResidue(last)) { dom.remove(last); removed = true }
        else break0 = true
      } else if (isDirectResidue(last)) {
        dom.remove(last); removed = true
      } else break0 = true
    }
    removed
  }

  private def isDirectResidue(node: Int): Boolean = {
    dom.kind(node) match {
      case Dom.Text => sTrim(dom.text(node)).isEmpty
      case Dom.Comment => true
      case Dom.Element =>
        dom.tag(node) match {
          case "hr" | "br" => true
          case "p" | "h1" | "h2" | "h3" | "h4" | "h5" | "h6" =>
            !hasMeaningfulBoundaryContent(node)
          case _ => false
        }
      case _ => false
    }
  }

  private def isWrapperOnlyResidue(wrapper: Int): Boolean = {
    if (!removableWrapperTags.contains(dom.tag(wrapper))) return false
    var c = dom.firstChild(wrapper)
    while (c != -1) {
      if (!isNodeBoundaryResidue(c)) return false
      c = dom.nextSib(c)
    }
    true
  }

  private def isNodeBoundaryResidue(node: Int): Boolean = {
    dom.kind(node) match {
      case Dom.Text => sTrim(dom.text(node)).isEmpty
      case Dom.Comment => true
      case Dom.Element =>
        val t = dom.tag(node)
        if (meaningfulContentTags.contains(t)) false
        else if (boundaryContainerTags.contains(t)) {
          var c = dom.firstChild(node)
          while (c != -1) {
            if (!isNodeBoundaryResidue(c)) return false
            c = dom.nextSib(c)
          }
          true
        } else !hasMeaningfulBoundaryContent(node)
      case _ => false
    }
  }

  private def hasMeaningfulBoundaryContent(el: Int): Boolean = {
    if (dom.kind(el) == Dom.Element && meaningfulContentTags.contains(dom.tag(el))) return true
    var c = dom.firstChild(el)
    while (c != -1) {
      dom.kind(c) match {
        case Dom.Text => if (sTrim(dom.text(c)).nonEmpty) return true
        case Dom.Element => if (hasMeaningfulBoundaryContent(c)) return true
        case _ =>
      }
      c = dom.nextSib(c)
    }
    false
  }
}

object Cleaner {
  // compiled once: a Pattern is immutable and thread-safe, a Cleaner is per document
  private val imgExt = java.util.regex.Pattern.compile(
    "\\.(jpg|jpeg|png|webp)", java.util.regex.Pattern.CASE_INSENSITIVE)
  private val srcsetLike = java.util.regex.Pattern.compile(
    "\\.(jpg|jpeg|png|webp)(\\S*)\\s+\\d", java.util.regex.Pattern.CASE_INSENSITIVE)
  private val srcLike = java.util.regex.Pattern.compile(
    "^\\s*\\S+\\.(jpg|jpeg|png|webp)\\S*\\s*$", java.util.regex.Pattern.CASE_INSENSITIVE)
  private val b64Prefix = java.util.regex.Pattern.compile(
    "^data:([^;,]+);base64,", java.util.regex.Pattern.CASE_INSENSITIVE)
  private val adWord = java.util.regex.Pattern.compile(
    "^(ad(vertising|vertisement)?|pub(licité)?|werb(ung)?|广告|Реклама|Anuncio)$",
    java.util.regex.Pattern.CASE_INSENSITIVE | java.util.regex.Pattern.UNICODE_CASE)
  private val loadingWord = java.util.regex.Pattern.compile(
    "^((loading|正在加载|Загрузка|chargement|cargando)(…|\\.\\.\\.)?)$",
    java.util.regex.Pattern.CASE_INSENSITIVE | java.util.regex.Pattern.UNICODE_CASE)
  private val adContainer = java.util.regex.Pattern.compile(
    "(^|\\s|[-_])(ad|ads|advert|advertisement)(\\s|[-_]|\\d|$)")
  private val floatPattern = java.util.regex.Pattern.compile(
    "(^|;)\\s*float\\s*:\\s*(left|right)\\b", java.util.regex.Pattern.CASE_INSENSITIVE)
  private val shareMarker = java.util.regex.Pattern.compile(
    "(^|[\\s_-])(share|sharedaddy)([\\s_-]|$)", java.util.regex.Pattern.CASE_INSENSITIVE)
}
