package graft.algo

import graft.html.{Dom, Select}
import DomOps._
import scala.collection.mutable.ArrayBuffer

/** grabArticle: multi-pass extraction driver G1–G13 (SURVEY.md §2.3).
  * Behavior anchors: `ContentExtractor.swift` (driver, collection, scoring),
  * `NodeCleaner.swift` (unlikely strip, byline, header dup),
  * `CandidateSelector.swift` (top candidate), `SiblingMerger.swift` (merge).
  */
final class Grab(
    dom: Dom,
    opts: Options,
    articleTitle: String,
    /** clone-and-clean text length for pass acceptance (G1). */
    acceptanceTextLength: (Int, Int) => Int,
    /** the document's site-rule context (byline retention, candidate
      * promotion and protection, sibling decisions and extraction) */
    siteCtx: SiteRules.Ctx) {

  import Config._

  final case class Attempt(html: String, byline: Option[String], dir: Option[String],
      textLength: Int, flags: Int)

  final case class GrabResult(content: Int, byline: Option[String], dir: Option[String],
      lang: Option[String], flags: Int, neededToCreate: Boolean,
      /** failed earlier passes (HTML snapshots) for the empty-text retry */
      attempts: Seq[Attempt] = Nil)

  private var flags = FlagsAll
  private var articleByline: Option[String] = None
  private var scoring: Scoring = _

  def isFlagActive(f: Int): Boolean = (flags & f) != 0

  // ===================================================== multi-pass driver

  def extract(): Either[(Int, Int), GrabResult] = { // Left((actualLen, threshold)) = contentTooShort
    val body = dom.bodyEl
    val articleLang = {
      val l = if (dom.htmlEl != -1) dom.attr(dom.htmlEl, "lang") else null
      Option(l).map(_.trim).filter(_.nonEmpty)
    }
    val pageSnapshot = dom.snapshot()
    val attempts = new ArrayBuffer[Attempt]()
    var lastTextLength = 0

    while (true) {
      articleByline = None
      scoring = new Scoring(dom.n + 64)
      Inspect.beginPass(flags)

      val (content, selectedCandidate, neededToCreate, articleDir) = performExtraction(body)

      val textLength = acceptanceTextLength(content, flags)
      Inspect.log("attempt")(s"flags=$flags cleanedTextLength=$textLength threshold=${opts.charThreshold}")
      lastTextLength = textLength
      Inspect.endPass(textLength, accepted = textLength >= opts.charThreshold)
      if (textLength >= opts.charThreshold) {
        return Right(GrabResult(content, articleByline, articleDir, articleLang, flags,
          neededToCreate, attempts.toSeq))
      }

      attempts += Attempt(graft.html.Serialize.innerHtml(dom, content),
        articleByline, articleDir, textLength, flags)

      if (tryNextFlag()) {
        dom.restore(pageSnapshot)
      } else {
        // use best attempt (sorted by textLength desc, flags desc on tie)
        val best = attempts.sortBy(a => (-a.textLength, -a.flags)).headOption
        best match {
          case Some(b) if b.textLength > 0 =>
            dom.restore(pageSnapshot)
            val fragment = graft.html.Parser.parse("<body>" + b.html + "</body>")
            val content = dom.newElement("div")
            var c = fragment.firstChild(fragment.bodyEl)
            while (c != -1) {
              dom.appendChild(content, dom.importSubtree(fragment, c))
              c = fragment.nextSib(c)
            }
            return Right(GrabResult(content, b.byline, b.dir, articleLang, b.flags,
              neededToCreate = false, attempts.toSeq.filterNot(_ eq b)))
          case _ =>
            return Left((lastTextLength, opts.charThreshold))
        }
      }
    }
    throw new IllegalStateException("unreachable")
  }

  private def tryNextFlag(): Boolean = {
    if (isFlagActive(FlagStripUnlikelys)) { flags &= ~FlagStripUnlikelys; true }
    else if (isFlagActive(FlagWeightClasses)) { flags &= ~FlagWeightClasses; true }
    else if (isFlagActive(FlagCleanConditionally)) { flags &= ~FlagCleanConditionally; true }
    else false
  }

  // ======================================================== one extraction

  private def performExtraction(body: Int): (Int, Int, Boolean, Option[String]) = {
    // Phase 1: strip unlikely candidates (G2)
    if (isFlagActive(FlagStripUnlikelys)) removeUnlikelyCandidates(body)

    // hidden nodes never leak into scoring (`ContentExtractor.swift:193`)
    Prep.removeHiddenElements(dom)

    // byline (G3)
    if (articleByline.isEmpty) articleByline = extractByline(body)

    // Phase 2: collect + score (G5–G7)
    val elementsToScore = collectElementsToScore(body)
    var i = 0
    while (i < elementsToScore.length) {
      val el = elementsToScore(i)
      if (dom.isAttached(el)) {
        val score = scoreElement(el)
        if (score > 0) {
          Inspect.log("scored") {
            val t = DomOps.innerText(dom, el)
            s"${Inspect.describe(dom, el)} score=$score len=${Config.charLen(t)} " +
              s"parent=${Inspect.describe(dom, dom.parent(el))} text=${t.take(60)}"
          }
          propagateScoreToAncestors(el, score)
        }
      }
      i += 1
    }

    // Phase 3: top candidate (G8–G12)
    val initialized = new ArrayBuffer[Int]()
    var cur = body
    while (cur != -1) {
      if (dom.kind(cur) == Dom.Element && scoring.isInitialized(cur)) initialized += cur
      cur = dom.nextInTree(cur, body)
    }
    Inspect.log("candidates") {
      initialized.sortBy(n => -scoring.contentScore(n)).take(8)
        .map(Inspect.describe(dom, _, scoring)).mkString(" | ")
    }
    val (topCandidate, neededToCreate) = selectTopCandidate(initialized, body)
    Inspect.log("top-candidate") {
      s"${Inspect.describe(dom, topCandidate, scoring)} neededToCreate=$neededToCreate flags=$flags"
    }

    // dir must be read while the candidate is still in the page tree —
    // the merge below moves it into the detached article container
    val articleDir = extractArticleDirection(topCandidate)

    // Phase 4: sibling merge (G13)
    val articleContent = mergeSiblings(topCandidate)
    (articleContent, topCandidate, neededToCreate, articleDir)
  }

  private def matchString(id: Int): String = {
    val cls = dom.className(id)
    val nid = dom.idAttr(id)
    if (cls.isEmpty && nid.isEmpty) " " // most elements: no allocation
    else (cls + " " + nid).toLowerCase
  }

  // ------------------------------------------------------------------ G2

  private def removeUnlikelyCandidates(root: Int): Unit = {
    var node = root
    while (node != -1) {
      if (dom.kind(node) != Dom.Element) { node = dom.nextInTree(node, root) }
      else {
        val ms = matchString(node)
        if (shouldRemoveAsUnlikely(node, ms)) {
          rescueWordPressFeaturedImage(node)
          node = removeAndGetNext(dom, node, root)
        } else if (shouldRemoveByRole(node)) {
          node = removeAndGetNext(dom, node, root)
        } else if (shouldRemoveEmptyElement(node)) {
          node = removeAndGetNext(dom, node, root)
        } else {
          node = dom.nextInTree(node, root)
        }
      }
    }
  }

  // reused matchers: this check runs per element of every document, and
  // Pattern.matcher allocates per call (Grab is single-threaded per doc)
  private val unlikelyMatcher = Config.unlikelyCandidates.matcher("")
  private val okMaybeMatcher = Config.okMaybeItsACandidate.matcher("")

  private def shouldRemoveAsUnlikely(id: Int, ms: String): Boolean = {
    val t = dom.tag(id)
    if (t == "body" || t == "a") return false
    val itemprop = dom.attr(id, "itemprop")
    if (itemprop != null && itemprop.toLowerCase.contains("articlebody")) return false
    if (shouldKeepFirefoxNightlyLayoutNode(id)) return false
    if (shouldKeepFootnoteSection(id, ms)) return false
    if (unlikelyMatcher.reset(ms).find() &&
        !okMaybeMatcher.reset(ms).find() &&
        !hasAncestorTag(dom, id, "table", 3) &&
        !hasAncestorTag(dom, id, "code", 3)) return true
    false
  }

  /** `NodeCleaner.swift:157-183`: Firefox Nightly keeps adjacent posts /
    * comments inside the readable container.
    */
  private def shouldKeepFirefoxNightlyLayoutNode(id: Int): Boolean = {
    val containerIds = Set("comments", "adjacent-posts")
    var cursor = id
    var mainContent = -1
    var inProtected = containerIds.contains(dom.idAttr(id).trim.toLowerCase)
    while (cursor != -1 && mainContent == -1) {
      if (dom.kind(cursor) == Dom.Element) {
        val cid = dom.idAttr(cursor).trim.toLowerCase
        if (containerIds.contains(cid)) inProtected = true
        if (cid == "content" && (dom.tag(cursor) == "main" || dom.tag(cursor) == "div"))
          mainContent = cursor
      }
      if (mainContent == -1) cursor = dom.parent(cursor)
    }
    if (!inProtected || mainContent == -1) return false
    Select.selectFirst(dom, mainContent,
      "article[id^=post-] a[href*=bugzilla.mozilla.org], article[id^=post-] a[href*=blog.nightly.mozilla.org]") != -1
  }

  private def shouldKeepFootnoteSection(id: Int, ms: String): Boolean = {
    val dataType = Option(dom.attr(id, "data-type")).getOrElse("").toLowerCase
    if (!ms.contains("footnote") && !dataType.contains("footnote")) return false
    if (Select.selectFirst(dom, id, "li[id^=fn]") != -1) return true
    if (Select.selectFirst(dom, id, "a[href^=#fnref]") != -1) return true
    false
  }

  /** `NodeCleaner.swift:190-215`: clone wp featured figure out before the
    * container is removed so sibling merge can still include it.
    */
  private def rescueWordPressFeaturedImage(id: Int): Unit = {
    val figure = Select.selectFirst(dom, id, "figure.wp-block-post-featured-image")
    if (figure == -1) return
    if (!isProbablyVisible(dom, figure)) return
    val parent = dom.parent(id)
    if (parent == -1) return
    val clone = dom.cloneSubtree(figure)
    val wrapper = dom.newElement("div")
    dom.appendChild(wrapper, clone)
    dom.insertBefore(id, wrapper)
  }

  private def shouldRemoveByRole(id: Int): Boolean = {
    val role = dom.attr(id, "role")
    role != null && role.nonEmpty && Config.unlikelyRoles.contains(role.toLowerCase)
  }

  private def shouldRemoveEmptyElement(id: Int): Boolean = {
    dom.tag(id) match {
      case "div" | "section" | "header" | "h1" | "h2" | "h3" | "h4" | "h5" | "h6" =>
        isElementWithoutContent(dom, id)
      case _ => false
    }
  }

  // ------------------------------------------------------------------ G3

  private def extractByline(body: Int): Option[String] = {
    var node = body
    while (node != -1) {
      if (dom.kind(node) == Dom.Element) {
        val ms = matchString(node)
        val byline = checkByline(node, ms)
        if (byline.isDefined) {
          if (!SiteRules.shouldKeepBylineContainer(node, siteCtx)) dom.remove(node)
          return byline
        }
      }
      node = dom.nextInTree(node, body)
    }
    None
  }

  private def checkByline(node: Int, ms: String): Option[String] = {
    if (!isValidByline(node, ms)) return None
    var extracted: String = null
    val nameNode = findItemPropNameNode(node)
    if (nameNode != -1) {
      extracted = normalizeByline(sTrim(innerText(dom, nameNode)), node)
    } else {
      val linkText = findAuthorLinkText(node)
      if (linkText != null) extracted = normalizeByline(linkText, node)
      else extracted = dom.textContent(node).trim
    }
    if (extracted == null) return None
    extracted = stripTrailingDatelineTime(extracted)
    if (looksLikeUrlText(extracted)) return None
    if (extracted.isEmpty) None else Some(extracted)
  }

  private def isValidByline(node: Int, ms: String): Boolean = {
    // cheap signals first: this runs for every element of every pass, so
    // the subtree-text and selector work must stay off the common path
    val rel = Option(dom.attr(node, "rel")).getOrElse("").toLowerCase
    val itemprop = Option(dom.attr(node, "itemprop")).getOrElse("").toLowerCase
    if (!(rel == "author" || itemprop.contains("author") || Config.byline.matcher(ms).find()))
      return false
    if (shouldRejectBylineNode(node, ms)) return false
    val len = charLen(sTrim(innerText(dom, node)))
    len > 0 && len < 100
  }

  private def findItemPropNameNode(node: Int): Int = {
    val ip = dom.attr(node, "itemprop")
    if (ip != null && ip.toLowerCase.contains("name")) return node
    var cur = dom.nextInTree(node, node)
    while (cur != -1) {
      if (dom.kind(cur) == Dom.Element) {
        val p = dom.attr(cur, "itemprop")
        if (p != null && p.toLowerCase.contains("name")) return cur
      }
      cur = dom.nextInTree(cur, node)
    }
    -1
  }

  private def findAuthorLinkText(node: Int): String = {
    val selectors = Seq("a[rel=author]", "a.author-link", "a[class*=author-link]", "a[href*=/author/]")
    for (sel <- selectors) {
      val cand = Select.selectFirst(dom, node, sel)
      if (cand != -1) {
        val text = sTrim(innerText(dom, cand))
        if (text.nonEmpty && !looksLikeUrlText(text)) return text
      }
    }
    null
  }

  private def normalizeByline(extracted: String, node: Int): String = {
    val clean = extracted.trim
    if (clean.isEmpty) return clean
    val nodeText = dom.textContent(node).trim
    val hasItempropName = Select.selectFirst(dom, node, "[itemprop~=name]") != -1 || {
      val p = dom.attr(node, "itemprop")
      p != null && Select.hasClassToken(p, "name")
    }
    if (nodeText.toLowerCase.startsWith("by ") && !hasItempropName &&
        nodeText.toLowerCase.contains(clean.toLowerCase)) nodeText
    else clean
  }

  private def shouldRejectBylineNode(node: Int, ms: String): Boolean = {
    if (isWithinCommentsContainer(node, ms)) return true
    if (hasAncestorTag(dom, node, "pre", 3)) return true
    val nid = dom.idAttr(node).trim.toLowerCase
    if (nid.startsWith("ref-")) return true
    val nname = Option(dom.attr(node, "name")).getOrElse("").trim.toLowerCase
    if (nname.startsWith("ref-")) return true
    if (ms.contains("user-bylines") || ms.contains("byline__title")) return true
    if (Select.selectFirst(dom, node, ".byline__title, [class*=byline__title], [class*=author-bio]") != -1) return true
    val text = innerText(dom, node).toLowerCase
    if (text.contains("buzzfeed news reporter") || text.contains("promoted by")) return true
    false
  }

  private def isWithinCommentsContainer(node: Int, ms: String): Boolean = {
    if (hasAncestorTag(dom, node, "div", 8, a => dom.idAttr(a).trim.toLowerCase == "comments")) return true
    if (hasAncestorTag(dom, node, "li", 8, a => dom.idAttr(a).trim.toLowerCase.startsWith("comment-"))) return true
    if (ms.contains("comment-") || ms.contains("comments")) return true
    false
  }

  private def looksLikeUrlText(text: String): Boolean = {
    val n = text.trim.toLowerCase
    n.startsWith("http://") || n.startsWith("https://") ||
      n.contains("facebook.com/") || n.contains("twitter.com/")
  }

  private val datelinePatterns = Seq(
    java.util.regex.Pattern.compile("\\s+\\d{1,2}:\\d{2}\\s*(?:a\\.m\\.|p\\.m\\.|am|pm)\\s*(?:[A-Z]{1,5})?$", java.util.regex.Pattern.CASE_INSENSITIVE),
    java.util.regex.Pattern.compile("\\s+\\d{1,2}:\\d{2}\\s*(?:ET|PT|CT|GMT|UTC)$", java.util.regex.Pattern.CASE_INSENSITIVE))

  private def stripTrailingDatelineTime(text: String): String = {
    val trimmed = text.trim
    if (trimmed.toLowerCase.contains("updated")) return trimmed
    for (p <- datelinePatterns) {
      val stripped = p.matcher(trimmed).replaceAll("").trim
      if (stripped != trimmed && stripped.nonEmpty) return stripped
    }
    trimmed
  }

  // ------------------------------------------------------------------ G4

  private def headerDuplicatesTitle(node: Int): Boolean = {
    val t = dom.tag(node)
    if (t != "h1" && t != "h2") return false
    if (t == "h2" && dom.idAttr(node).trim.nonEmpty) return false
    val heading = sTrim(innerText(dom, node))
    textSimilarity(articleTitle, heading) > 0.75
  }

  /** `ContentExtractor.swift:597-633`: keep schema headline blocks with
    * nearby timestamps.
    */
  private def shouldPreserveHeadlineTimestampBlock(header: Int): Boolean = {
    val itemprop = Option(dom.attr(header, "itemprop")).getOrElse("").toLowerCase
    if (!itemprop.contains("headline")) return false
    val cls = dom.className(header).toLowerCase
    if (cls.contains("l-article__hed")) return true
    if (isCityLabDocument) return true
    if (Select.selectFirst(dom, header, "time") != -1) return true
    val parent = dom.parent(header)
    if (parent != -1 && Select.selectFirst(dom, parent, "time") != -1) return true
    false
  }

  private lazy val isCityLabDocument: Boolean = {
    Select.selectFirst(dom, dom.document, "meta[property=og:site_name][content=CityLab]") != -1 ||
      Select.selectFirst(dom, dom.document, "meta[name=twitter:site][content=@CityLab]") != -1 ||
      Select.selectFirst(dom, dom.document, "link[rel=canonical][href*=citylab.com]") != -1
  }

  // ------------------------------------------------------------------ G5

  private def collectElementsToScore(body: Int): ArrayBuffer[Int] = {
    val elements = new ArrayBuffer[Int]()
    val blockMemo = new java.util.HashMap[Integer, java.lang.Boolean]()
    var node = body
    while (node != -1) {
      if (dom.kind(node) != Dom.Element) node = dom.nextInTree(node, body)
      else {
        val t = dom.tag(node)
        if ((t == "h1" || t == "h2") && headerDuplicatesTitle(node) &&
            !shouldPreserveHeadlineTimestampBlock(node)) {
          node = removeAndGetNext(dom, node, body)
        } else if ((t == "h1" || t == "h2" || t == "h3" || t == "h4" || t == "h5" || t == "h6") &&
            isElementWithoutContent(dom, node)) {
          node = removeAndGetNext(dom, node, body)
        } else {
          if (Config.defaultTagsToScore.contains(t)) elements += node

          if (t == "div") {
            // wrap phrasing runs into synthetic <p>
            var childNode = dom.firstChild(node)
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
                  else dom.appendChild(node, p)
                  fragment.foreach { f => if (dom.parent(f) != -1) dom.appendChild(p, f) }
                }
              }
              childNode = nextSibling
            }

            val preserveFigureWrapper = shouldPreserveFigureImageWrapper(node)

            if (hasSingleTagInsideElement(dom, node, "p") &&
                scoring.linkDensity(dom, node) < 0.25 &&
                !shouldPreserveSingleParagraphWrapper(node) &&
                !preserveFigureWrapper) {
              val child = dom.childElements(node)(0)
              dom.replaceWith(node, child)
              elements += child
              node = dom.nextInTree(child, body)
            } else if (!hasChildBlockElement(dom, node, blockMemo)) {
              if (preserveFigureWrapper) {
                node = dom.nextInTree(node, body)
              } else {
                retagDivToP(node)
                elements += node
                node = dom.nextInTree(node, body)
              }
            } else {
              node = dom.nextInTree(node, body)
            }
          } else {
            node = dom.nextInTree(node, body)
          }
        }
      }
    }
    elements
  }

  /** div→p retag with the reference's attribute hygiene
    * (`ContentExtractor.swift:505-527`).
    */
  private def retagDivToP(node: Int): Unit = {
    setNodeTag(dom, node, "p")
    val idValue = dom.idAttr(node).trim
    if (idValue.matches("^[0-9]{6,}$")) dom.removeAttr(node, "id")
    if (dom.hasAttr(node, "data-media-type") || dom.hasAttr(node, "data-media-meta")) {
      dom.removeAttr(node, "data-media-type")
      dom.removeAttr(node, "data-media-meta")
    }
  }

  private def hasContainerIdentity(id: Int): Boolean =
    dom.idAttr(id).trim.nonEmpty || dom.className(id).trim.nonEmpty

  private def shouldPreserveSingleParagraphWrapper(id: Int): Boolean = {
    if (!hasContainerIdentity(id)) return false
    Select.selectFirst(dom, id, "iframe, embed, object, video") != -1
  }

  private def shouldPreserveFigureImageWrapper(id: Int): Boolean = {
    if (!hasAncestorTag(dom, id, "figure", 0)) return false
    if (Select.selectFirst(dom, id, "img, picture") == -1) return false
    val cls = dom.className(id).toLowerCase
    if (cls.contains("aspectratioplaceholder")) return true
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

  // ------------------------------------------------------------------ G6

  /** Score = 1 + comma-split segments + min(len/100, 3)
    * (`ContentExtractor.swift:637-658` — splits on ',' and '，', omitting
    * empty segments, Swift `split` semantics).
    */
  private def scoreElement(el: Int): Double = {
    if (!isProbablyVisible(dom, el)) return 0
    // fused single pass over the subtree's text: normalized code-point
    // length + comma-separated non-empty segment count, no string built
    var textLen = 0
    var segments = 0
    var segHasContent = false // non-empty in the normalized string
    var lastWs = true // leading-trim state
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
              if (ch == ',' || ch == '，') {
                if (pendingSpace) { textLen += 1; pendingSpace = false; segHasContent = true }
                if (segHasContent) segments += 1
                segHasContent = false
                textLen += 1
                lastWs = false
              } else if (Dom.isWhitespace(ch)) {
                if (!lastWs) pendingSpace = true
                lastWs = true
              } else {
                if (pendingSpace) { textLen += 1; pendingSpace = false; segHasContent = true }
                if (!Character.isLowSurrogate(ch)) textLen += 1
                segHasContent = true
                lastWs = false
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
    walk(el)
    if (segHasContent) segments += 1
    if (textLen < 25) return 0
    1.0 + segments + math.min(textLen / 100, 3).toDouble
  }

  // ------------------------------------------------------------------ G7

  private def propagateScoreToAncestors(el: Int, score: Double): Unit = {
    var index = 0
    var current = dom.parent(el)
    while (current != -1 && index < 5) {
      if (dom.parent(current) == -1) return // skip nodes without valid parent
      if (dom.kind(current) == Dom.Element) {
        if (!scoring.isInitialized(current))
          scoring.initializeNode(dom, current, isFlagActive(FlagWeightClasses))
        val divider =
          if (index == 0) 1.0
          else if (index == 1) 2.0
          else index * 3.0
        scoring.addToScore(current, score / divider)
        index += 1
      }
      current = dom.parent(current)
    }
  }

  // ------------------------------------------------------- G8 candidates

  private def selectTopCandidate(initialized: ArrayBuffer[Int], body: Int): (Int, Boolean) = {
    // scale by link density and keep top N
    val top = new ArrayBuffer[(Int, Double)]() // sorted desc by score
    var i = 0
    while (i < initialized.length) {
      val el = initialized(i)
      var score = scoring.contentScore(el)
      score *= (1.0 - scoring.linkDensity(dom, el))
      scoring.setContentScore(el, score)
      if (score > 0) {
        var idx = 0
        while (idx < top.length && top(idx)._2 >= score) idx += 1
        if (idx < NTopCandidates) {
          top.insert(idx, (el, score))
          if (top.length > NTopCandidates) top.remove(top.length - 1)
        }
      }
      i += 1
    }

    var topCandidate = if (top.nonEmpty) top(0)._1 else -1
    var neededToCreate = false
    Inspect.recordTopCandidates(top.toSeq.map { case (el, _) =>
      Inspect.candidateInfo(dom, el, scoring, isFlagActive(FlagWeightClasses))
    })

    if (topCandidate == -1 || dom.tag(topCandidate) == "body") {
      // fallback: move body children into a fresh div
      val div = dom.newElement("div")
      dom.moveChildren(body, div)
      dom.appendChild(body, div)
      scoring.initializeNode(dom, div, isFlagActive(FlagWeightClasses))
      topCandidate = div
      neededToCreate = true
    } else {
      def step(name: String, prev: Int, next: Int): Int = {
        if (next != prev) Inspect.recordPromotion(name,
          Inspect.describe(dom, prev, scoring), Inspect.describe(dom, next, scoring))
        if (next != prev) Inspect.log("promotion") {
          val chain = {
            var cur = dom.parent(prev)
            val sb = new StringBuilder
            var d = 0
            while (cur != -1 && d < 4 && dom.kind(cur) == Dom.Element) {
              val sc = if (scoring.isInitialized(cur)) f"${scoring.contentScore(cur)}%.2f" else "-"
              sb.append(s" ^${dom.tag(cur)}.${dom.className(cur).take(24)}($sc,ld=${f"${scoring.linkDensity(dom, cur)}%.2f"})")
              cur = dom.parent(cur)
              d += 1
            }
            sb.toString
          }
          s"$name: ${Inspect.describe(dom, prev, scoring)} -> ${Inspect.describe(dom, next, scoring)} |ancestors:$chain"
        }
        next
      }
      topCandidate = step("alt-ancestor", topCandidate, findBetterTopCandidate(topCandidate, top))
      scoring.initializeNodeIfNeeded(dom, topCandidate)
      topCandidate = step("parent-score", topCandidate, findBetterParentCandidate(topCandidate))
      topCandidate = step("single-child", topCandidate, promoteSingleChildCandidate(topCandidate))
      topCandidate = step("schema/site", topCandidate, promoteSchemaArticleParentIfNeeded(topCandidate))
      topCandidate = step("semantic-main", topCandidate, promoteSemanticMainAncestorIfNeeded(topCandidate))
    }
    Inspect.recordFinalCandidate(
      Inspect.candidateInfo(dom, topCandidate, scoring, isFlagActive(FlagWeightClasses)))
    (topCandidate, neededToCreate)
  }

  private def shouldKeepCurrentCandidate(id: Int): Boolean = {
    if (SiteRules.shouldKeepCandidate(id, siteCtx)) return true
    if (dom.tag(id) != "article") return false
    dom.idAttr(id).trim.toLowerCase == "story"
  }

  // ------------------------------------------------------------------ G9

  private def findBetterTopCandidate(topCandidate: Int, top: ArrayBuffer[(Int, Double)]): Int = {
    if (shouldKeepCurrentCandidate(topCandidate)) return topCandidate
    if (top.length < 2) return topCandidate
    val topScore = top(0)._2
    if (topScore <= 0) return topCandidate
    val alternativeAncestors = new ArrayBuffer[Set[Int]]()
    var i = 1
    while (i < top.length) {
      if (top(i)._2 / topScore >= Config.MinScoreRatioForAlternative) {
        alternativeAncestors += nodeAncestors(dom, top(i)._1, 0).toSet
      }
      i += 1
    }
    if (alternativeAncestors.length < Config.MinimumTopCandidates) return topCandidate
    var parent = dom.parent(topCandidate)
    while (parent != -1 && dom.kind(parent) == Dom.Element && dom.tag(parent) != "body") {
      var count = 0
      var j = 0
      while (j < alternativeAncestors.length && count < Config.MinimumTopCandidates) {
        if (alternativeAncestors(j).contains(parent)) count += 1
        j += 1
      }
      if (count >= Config.MinimumTopCandidates) {
        if (shouldKeepCurrentCandidate(topCandidate)) return topCandidate
        return parent
      }
      parent = dom.parent(parent)
    }
    topCandidate
  }

  // ----------------------------------------------------------------- G10

  private def findBetterParentCandidate(candidate: Int): Int = {
    var current = candidate
    var parent = dom.parent(candidate)
    var lastScore = scoring.contentScore(candidate)
    val scoreThreshold = lastScore / 3
    var done = false
    while (!done && parent != -1 && dom.kind(parent) == Dom.Element && dom.tag(parent) != "body") {
      if (!scoring.isInitialized(parent)) {
        parent = dom.parent(parent)
      } else {
        val parentScore = scoring.contentScore(parent)
        Inspect.log("parent-walk")(
          f"${Inspect.describe(dom, parent, scoring)} parentScore=$parentScore%.3f last=$lastScore%.3f thr=$scoreThreshold%.3f")
        if (parentScore < scoreThreshold) done = true
        else if (parentScore > lastScore) {
          if (!shouldKeepCurrentCandidate(current)) current = parent
          done = true
        } else {
          lastScore = parentScore
          parent = dom.parent(parent)
        }
      }
    }
    current
  }

  // ----------------------------------------------------------------- G11

  private def promoteSingleChildCandidate(candidate: Int): Int = {
    var current = candidate
    var parent = dom.parent(current)
    var done = false
    while (!done && parent != -1 && dom.kind(parent) == Dom.Element &&
        dom.tag(parent) != "body" && dom.childElementCount(parent) == 1) {
      if (shouldKeepCurrentCandidate(current)) done = true
      else {
        current = parent
        parent = dom.parent(current)
      }
    }
    scoring.initializeNodeIfNeeded(dom, current)
    current
  }

  // ----------------------------------------------------------------- G12

  private def promoteSchemaArticleParentIfNeeded(candidate: Int): Int = {
    val promoted = SiteRules.promotedCandidate(candidate, siteCtx)
    if (promoted != candidate) return promoted
    if (dom.tag(candidate) == "section") {
      val ip = Option(dom.attr(candidate, "itemprop")).getOrElse("").toLowerCase
      if (ip.contains("articlebody")) {
        val parent = dom.parent(candidate)
        if (parent != -1 && dom.tag(parent) == "article") {
          val itemtype = Option(dom.attr(parent, "itemtype")).getOrElse("").toLowerCase
          if (itemtype.contains("newsarticle")) return parent
        }
      }
    }
    candidate
  }

  private def promoteSemanticMainAncestorIfNeeded(candidate: Int): Int = {
    var main = -1
    var cur = dom.parent(candidate)
    while (cur != -1 && main == -1) {
      if (dom.kind(cur) == Dom.Element && dom.tag(cur) == "main") main = cur
      cur = dom.parent(cur)
    }
    if (main == -1) return candidate
    val hasMozillaFeatureHeading = dom.getElementsByTag(main, "h2")
      .exists(h => sTrim(innerText(dom, h)).toLowerCase == "features and tools")
    val hasSyncNoticeHeading = dom.getElementsByTag(main, "h4")
      .exists(h => sTrim(innerText(dom, h)).toLowerCase == "important: sync your new profile")
    if (!hasMozillaFeatureHeading && !hasSyncNoticeHeading) return candidate
    val candidateTextLength = textLength(dom, candidate)
    val mainTextLength = textLength(dom, main)
    if (candidateTextLength <= 0 || mainTextLength <= candidateTextLength ||
        candidateTextLength.toDouble / mainTextLength >= 0.7) return candidate
    val meaningfulChildCount = dom.childElements(main).count { child =>
      val t = dom.tag(child)
      (t == "article" || t == "section" || t == "div") && textLength(dom, child) >= 140
    }
    if (meaningfulChildCount < 2) return candidate
    if (scoring.linkDensity(dom, main) > 0.7) return candidate
    scoring.initializeNodeIfNeeded(dom, main)
    main
  }

  // ----------------------------------------------------------------- G13

  private def mergeSiblings(topCandidate: Int): Int = {
    val articleContent = dom.newElement("div")
    val topScore = scoring.contentScore(topCandidate)
    val siblingScoreThreshold = math.max(Config.SiblingScoreThresholdMinimum,
      topScore * Config.SiblingScoreThresholdRatio)
    val parent = dom.parent(topCandidate)
    if (parent == -1) {
      val clone = dom.cloneSubtree(topCandidate)
      if (dom.tag(clone) == "td" || dom.tag(clone) == "th") {
        val wrapper = dom.newElement("div")
        dom.appendChild(wrapper, clone)
        dom.appendChild(articleContent, wrapper)
      } else dom.appendChild(articleContent, clone)
      return articleContent
    }

    val topCandidateClassName = dom.className(topCandidate)
    val siblings = dom.childElements(parent)

    // leading associated content (`SiblingMerger.swift:240-287`): siblings
    // BEFORE the candidate that a site rule extracts from (featured-image
    // wrappers) — the extracted clones are prepended into the candidate and
    // the source siblings consumed
    val leadingElements = new ArrayBuffer[Int]()
    val consumed = new java.util.HashSet[Integer]()
    var li = 0
    while (li < siblings.length && siblings(li) != topCandidate) {
      val extracted = SiteRules.siblingExtraction(siblings(li), topCandidate, siteCtx)
      if (extracted != -1) {
        Inspect.log("sibling")(s"${Inspect.describe(dom, siblings(li))} decision=extract")
        leadingElements += extracted
        consumed.add(siblings(li))
      }
      li += 1
    }

    var i = 0
    while (i < siblings.length) {
      val sibling = siblings(i)
      var append = false
      if (consumed.contains(sibling)) {
        i += 1
      } else {
      if (sibling == topCandidate) append = true
      else if (isProbablyVisible(dom, sibling)) {
        val ruleDecision = SiteRules.siblingInclusionDecision(sibling, topCandidate, siteCtx)
        var contentBonus = 0.0
        if (topCandidateClassName.nonEmpty && dom.className(sibling) == topCandidateClassName)
          contentBonus = topScore * Config.SiblingClassNameBonusRatio
        val siblingScore = scoring.contentScore(sibling)
        if (ruleDecision.contains(false)) {
          // explicit site-rule exclusion beats score-based inclusion
        } else if (scoring.isInitialized(sibling) && siblingScore + contentBonus >= siblingScoreThreshold)
          append = true
        else if (ruleDecision.contains(true))
          append = true
        else if (dom.tag(sibling) == "p") {
          val linkDensity = scoring.linkDensity(dom, sibling)
          val nodeContent = innerText(dom, sibling)
          val nodeLength = charLen(nodeContent)
          if (nodeLength > Config.ParagraphLengthLong && linkDensity < Config.LinkDensityThresholdLong)
            append = true
          else if (nodeLength > 0 && nodeLength < Config.ParagraphLengthLong && linkDensity == 0 &&
              Grab.sentenceDot.matcher(nodeContent).find())
            append = true
        } else if (dom.tag(sibling) == "br" && nextElementSibling(sibling) == -1) {
          append = true
        }
      }
      Inspect.log("sibling") {
        val sc = if (scoring.isInitialized(sibling)) f"${scoring.contentScore(sibling)}%.2f" else "-"
        f"${Inspect.describe(dom, sibling)} score=$sc thr=$siblingScoreThreshold%.2f append=$append"
      }
      Inspect.recordSibling(Inspect.describe(dom, sibling),
        scoring.contentScore(sibling), siblingScoreThreshold, append,
        if (sibling == topCandidate) "top-candidate" else if (append) "merged" else "skipped")
      if (append) {
        // CLONE into articleContent (the reference clones via
        // alterToDivIfNeeded — the original body stays intact so later
        // document-level site-rule queries still see the whole page),
        // retagging non-exception tags to div
        val toAppend = dom.cloneSubtree(sibling)
        if (!Config.alterToDivExceptions.contains(dom.tag(toAppend)))
          dom.setTag(toAppend, "div")
        if (sibling == topCandidate && leadingElements.nonEmpty) {
          var pi = leadingElements.length - 1
          while (pi >= 0) {
            dom.prependChild(toAppend, leadingElements(pi))
            pi -= 1
          }
        }
        dom.appendChild(articleContent, toAppend)
      }
      i += 1
      }
    }

    val rtl = hasRtlDirection(topCandidate)
    unwrapRedundantSingleDivWrapper(articleContent, preserveWrapper = rtl)
    articleContent
  }

  private def nextElementSibling(id: Int): Int = {
    var cur = dom.nextSib(id)
    while (cur != -1) {
      if (dom.kind(cur) == Dom.Element) return cur
      cur = dom.nextSib(cur)
    }
    -1
  }

  private def unwrapRedundantSingleDivWrapper(articleContent: Int, preserveWrapper: Boolean): Unit = {
    if (preserveWrapper) return
    val els = dom.childElements(articleContent)
    if (els.size != 1) return
    val only = els(0)
    if (dom.tag(only) != "div") return
    if (dom.attrs(only) != null && dom.attrs(only).nonEmpty) return
    val children = dom.childElements(only)
    if (children.nonEmpty && children.forall(c => dom.tag(c) == "p")) return
    if (dom.getElementsByTag(only, "table").nonEmpty && dom.childElementCount(only) == 1) return
    dom.unwrap(only)
  }

  private def hasRtlDirection(id: Int): Boolean = {
    def isRtl(e: Int): Boolean =
      Option(dom.attr(e, "dir")).getOrElse("").trim.equalsIgnoreCase("rtl")
    if (isRtl(id)) return true
    if (Select.selectFirst(dom, id, "[dir=rtl]") != -1) return true
    var cur = dom.parent(id)
    while (cur != -1) {
      if (dom.kind(cur) == Dom.Element && isRtl(cur)) return true
      cur = dom.parent(cur)
    }
    false
  }

  private def extractArticleDirection(topCandidate: Int): Option[String] = {
    // check order: parent, topCandidate, then remaining ancestors
    val nodes = new ArrayBuffer[Int]()
    val parent = dom.parent(topCandidate)
    if (parent != -1 && dom.kind(parent) == Dom.Element) {
      nodes += parent
      var anc = dom.parent(parent)
      while (anc != -1) {
        if (dom.kind(anc) == Dom.Element) nodes += anc
        anc = dom.parent(anc)
      }
    }
    nodes.insert(math.min(1, nodes.length), topCandidate)
    for (n <- nodes) {
      val dir = dom.attr(n, "dir")
      if (dir != null && dir.trim.nonEmpty) return Some(dir.trim)
    }
    None
  }
}

object Grab {
  /** Sentence-dot test used in sibling merge — compiled once (was compiled
    * per sibling visit).
    */
  private[algo] val sentenceDot = java.util.regex.Pattern.compile("\\.( |$)")
}
