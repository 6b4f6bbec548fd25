package graft.algo

import graft.html.{Dom, Parser, Select, Serialize}
import DomOps._

/** The per-document extraction façade: parse → prep → metadata → grab →
  * clean → serialize, mirroring the reference's executeParse lifecycle
  * (`Readability.swift:39-265`, traced in SURVEY.md §3.1). Pure function of
  * (html, baseUrl, options) — no randomness, no wall clock — as required
  * for checkpoint/replay determinism.
  */
object Readability {

  sealed trait Outcome
  final case class Ok(result: Result) extends Outcome
  final case class Failed(status: String, error: String) extends Outcome

  /** Per-thread arena pool for the top-level document parse: the result
    * escaping [[parse]] is pure strings, so the arena is dead on return
    * and its 9 parallel arrays can be reused by the thread's next doc —
    * the arena was the largest per-doc allocation term. Fragment parses
    * (best-attempt rebuild, site-rule payloads) still allocate their own
    * small Doms: they run while the pooled arena is live.
    */
  private val domPool: ThreadLocal[Dom] =
    ThreadLocal.withInitial(() => new Dom(8192))
  /** Drop pooled arenas that an oversize doc inflated (> ~1M nodes ≈
    * 50 MB of arrays per thread otherwise stays resident forever).
    */
  private val PooledCapacityLimit = 1 << 20

  def parse(html: String, baseUrl: String, opts: Options = Options()): Outcome = {
    try {
      val dom = Parser.parseInto(html, domPool.get())
      if (dom.bodyEl == -1) Failed("parse_failed", "no body")
      else extract(dom, baseUrl, opts)
    } catch {
      case e: StackOverflowError => Failed("parse_failed", "stack overflow")
      case e: Exception => Failed("error", String.valueOf(e))
    } finally {
      // capacity guard must also run on the throw paths — the docs most
      // likely to inflate the arena are exactly the ones that fail
      val dom = domPool.get()
      if (dom.kind.length > PooledCapacityLimit) domPool.set(new Dom(8192))
      else dom.trimScratch()
    }
  }

  private def extract(dom: Dom, baseUrl: String, opts: Options): Outcome = {
    val docLocation = baseUrl

    // 1. source URL (site-rule gating input; also og:url/canonical)
    val sourceUrl = Prep.detectSourceUrl(dom, docLocation)
    val siteCtx = SiteRules.Ctx(dom, sourceUrl)

    // 2. noscript image unwrap (P3)
    Prep.unwrapNoscriptImages(dom)

    // 3. noscript article promotion (P4, reference deviation)
    Prep.promoteReadableNoscriptFallbacks(dom, opts.charThreshold)

    // 4. metadata BEFORE prepDocument (keeps ld+json scripts)
    val metadata = Metadata.extract(dom)
    metadata.byline = SiteRules.applyMetadataBylineRules(metadata.byline, siteCtx)

    // 5. prepDocument (P5–P8)
    Prep.prepDocument(dom)

    // 6. pre-extraction site rules (`Readability.swift:64`)
    SiteRules.applyPreExtractionRules(siteCtx)

    // 7. title
    val title = metadata.title.getOrElse(Metadata.extractTitle(dom))

    // 8. grabArticle with clone-and-clean acceptance measurement.
    // The measured clone of the ACCEPTED pass is reused as the article
    // content (prepArticle is deterministic for fixed flags, so cleaning
    // the original again would do identical work twice — ~40% of per-doc
    // cost on the hot path).
    var lastClone = -1
    var lastCloneSource = -1
    var lastCloneFlags = -1
    def acceptanceTextLength(content: Int, flags: Int): Int = {
      val clone = dom.cloneSubtree(content)
      val cleaner = new Cleaner(dom, opts,
        allowConditionalCleaning = (flags & Config.FlagCleanConditionally) != 0,
        allowWeightClasses = (flags & Config.FlagWeightClasses) != 0,
        siteCtx = siteCtx)
      cleaner.prepArticle(clone)
      lastClone = clone
      lastCloneSource = content
      lastCloneFlags = flags
      // only `>= charThreshold` is read of an accepted pass, and a failed
      // one is shorter than the cap, so the walk stops past it (the
      // inspection report keeps the full length)
      textLength(dom, clone, cap = if (Inspect.enabled) Int.MaxValue else opts.charThreshold)
    }

    val grab = new Grab(dom, opts, title, acceptanceTextLength, siteCtx)
    val grabResult = grab.extract() match {
      case Right(r) => r
      case Left((actual, threshold)) =>
        // site-rule short-content fallback (`Readability.swift:100-124`)
        val fallback = SiteRules.shortContentFallbackArticle(siteCtx)
        if (fallback == -1)
          return Failed("content_too_short", s"actual=$actual threshold=$threshold")
        // the recovered node IS the article root (`Readability.swift:101-125`)
        // — wrapping it in another div would expose it to cleanConditionally,
        // which only the root itself is protected from
        val content = fallback
        val lang = Option(if (dom.htmlEl != -1) dom.attr(dom.htmlEl, "lang") else null)
          .map(_.trim).filter(_.nonEmpty)
        grab.GrabResult(content, None, None, lang, Config.FlagsAll, neededToCreate = false)
    }

    // 9. clean article content (prepArticle skipped when the accepted
    // pass's measured clone is reusable)
    val reuseClone = grabResult.content == lastCloneSource &&
      grabResult.flags == lastCloneFlags && lastClone != -1
    val articleContent = if (reuseClone) lastClone else grabResult.content
    val textContent = {
      val cleaner = new Cleaner(dom, opts,
        allowConditionalCleaning = (grabResult.flags & Config.FlagCleanConditionally) != 0,
        allowWeightClasses = (grabResult.flags & Config.FlagWeightClasses) != 0,
        siteCtx = siteCtx)
      if (!reuseClone) cleaner.prepArticle(articleContent)
      cleaner.postProcessArticle(articleContent)
      Metadata.removeTitleMatchedHeaders(dom, articleContent, title)
      cleaner.trimBoundaryNonContent(articleContent)
      innerText(dom, articleContent)
    }

    // 10. empty-text retry over the other attempts sorted by length
    // (`Readability.swift:174-202`). When a retry attempt wins, the
    // reference also adopts the attempt's byline/dir/flags — not just its
    // content. Textless-but-valid articles (comic pages) are kept as-is via
    // the TextlessArticleContentSiteRule gate (`Readability.swift:175-179`).
    var finalContent = articleContent
    var finalText = textContent
    var finalByline = grabResult.byline
    var finalDir = grabResult.dir
    val keepTextless = sTrim(finalText).isEmpty &&
      SiteRules.shouldKeepTextlessArticleContent(finalContent, siteCtx)
    if (sTrim(finalText).isEmpty && !keepTextless) {
      val sorted = grabResult.attempts.sortBy(a => (-a.textLength, -a.flags))
      var i = 0
      while (i < sorted.length && sTrim(finalText).isEmpty) {
        val att = sorted(i)
        val fragment = Parser.parse("<body>" + att.html + "</body>")
        val content = dom.newElement("div")
        var c = fragment.firstChild(fragment.bodyEl)
        while (c != -1) {
          dom.appendChild(content, dom.importSubtree(fragment, c))
          c = fragment.nextSib(c)
        }
        val cleaner = new Cleaner(dom, opts,
          allowConditionalCleaning = (att.flags & Config.FlagCleanConditionally) != 0,
          allowWeightClasses = (att.flags & Config.FlagWeightClasses) != 0,
          siteCtx = siteCtx)
        cleaner.prepArticle(content)
        cleaner.postProcessArticle(content)
        Metadata.removeTitleMatchedHeaders(dom, content, title)
        cleaner.trimBoundaryNonContent(content)
        val text = innerText(dom, content)
        if (sTrim(text).nonEmpty) {
          finalContent = content
          finalText = text
          finalByline = att.byline
          finalDir = att.dir
        }
        i += 1
      }
    }

    // 11. excerpt (+ excerpt site rules when no metadata excerpt)
    val excerpt = metadata.excerpt.orElse(
      SiteRules.applyExcerptRules(
        Metadata.extractExcerpt(dom, finalContent), finalContent, siteCtx))

    // 12. page wrapper (Z1)
    val pageWrapper = dom.newElement("div")
    dom.setAttr(pageWrapper, "id", "readability-page-1")
    dom.setAttr(pageWrapper, "class", "page")
    dom.moveChildren(finalContent, pageWrapper)
    dom.appendChild(finalContent, pageWrapper)

    // 13. fix URIs → simplify → clean classes → polish (Z2–Z5)
    val post = new Post(dom, opts, docLocation)
    post.fixRelativeUris(finalContent)
    post.simplifyNestedElements(finalContent)
    SiteRules.applySerializationRules(finalContent, siteCtx)
    post.normalizeSplitPrintInfo(finalContent)
    post.cleanClasses(finalContent,
      (Config.classesToPreserveDefault ++ opts.classesToPreserve).toSet)
    post.trimParagraphBoundaryWhitespace(finalContent)
    post.restoreFigureWrapperMetadata(finalContent)

    val contentRoot = {
      // serialize the pageWrapper (the content div's single child)
      val els = dom.childElements(finalContent)
      if (els.nonEmpty) els(0) else finalContent
    }
    // Z5 orphan-cell wrap (`Readability.swift:1185-1209`, applied there as
    // a regex on the serialized html): when the page wrapper's first
    // non-whitespace node is a bare <td>/<th> (top candidate was a table
    // cell), wrap the wrapper's children in an anonymous <div> so the
    // output never carries a cell-rooted fragment.
    if (contentRoot != finalContent) {
      var first = dom.firstChild(contentRoot)
      while (first != -1 && dom.kind(first) == graft.html.Dom.Text &&
          DomOps.sBlank(dom.text(first))) first = dom.nextSib(first)
      if (first != -1 && dom.kind(first) == graft.html.Dom.Element &&
          (dom.tag(first) == "td" || dom.tag(first) == "th")) {
        val inner = dom.newElement("div")
        dom.moveChildren(contentRoot, inner)
        dom.appendChild(contentRoot, inner)
      }
    }
    val contentHtml = if (opts.withContentHtml) Some(Serialize.html(dom, contentRoot)) else None
    val spans = Serialize.spans(dom, contentRoot).toIndexedSeq

    // 14. byline merge (M5) + byline site rules — uses the byline of the
    // WINNING extraction (possibly a retry attempt's), per the reference.
    val mergedByline: Option[String] = metadata.byline match {
      case Some(mb) if Metadata.isLowQualityMetadataByline(mb) =>
        finalByline.map(_.trim).filter(_.nonEmpty)
      case Some(mb) => Some(mb)
      case None => finalByline
    }
    val byline = SiteRules.applyBylineRules(mergedByline, siteCtx)

    Ok(Result(
      title = title,
      byline = byline,
      dir = finalDir,
      lang = grabResult.lang,
      contentHtml = contentHtml,
      spans = spans,
      textContent = finalText,
      excerpt = excerpt,
      length = Config.charLen(finalText),
      siteName = metadata.siteName,
      publishedTime = metadata.publishedTime))
  }
}
