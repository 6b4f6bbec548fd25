package graft.algo

import graft.html.{Dom, Select, Serialize}
import DomOps._
import scala.collection.mutable.ArrayBuffer

/** Site-rule framework (SURVEY.md §2.6): the reference exposes ten
  * extension-point protocols dispatched from static registries
  * (`SiteRules/SiteRule.swift:4-97`, `SiteRuleRegistry.swift`). Rules are
  * pure functions over the DOM, gated by canonical URL / og:site_name /
  * DOM fingerprints. Registry ORDER is semantic — it mirrors the
  * reference exactly. Populated tier by tier per fixture corpus.
  */
object SiteRules {

  final case class Ctx(dom: Dom, sourceUrl: Option[String]) {
    lazy val host: String = sourceUrl.map(u => Option(Urls.parse(u).authority).getOrElse("")).getOrElse("").toLowerCase
    lazy val path: String = sourceUrl.map(u => Urls.parse(u).path).getOrElse("").toLowerCase
    def ogSiteName: String = {
      val el = Select.selectFirst(dom, dom.document, "meta[property=og:site_name]")
      if (el == -1) "" else Option(dom.attr(el, "content")).getOrElse("").trim
    }
  }

  /** `SiteRuleRegistry.shouldKeepBylineContainer` (`:194-209`): byline is
    * extracted but the container node stays in the DOM.
    */
  def shouldKeepBylineContainer(node: Int, ctx: Ctx): Boolean =
    webMdAuthorRetention(node, ctx) || eHowAuthorProfileRetention(node, ctx)

  private def webMdAuthorRetention(node: Int, ctx: Ctx): Boolean = {
    val dom = ctx.dom
    if (!dom.className(node).toLowerCase.contains("author_fmt")) return false
    if (Select.selectFirst(dom, node, "a[rel=author]") == -1) return false
    innerText(dom, node).toLowerCase.contains("webmd health news")
  }

  private def eHowAuthorProfileRetention(node: Int, ctx: Ctx): Boolean = {
    if (!ctx.host.contains("ehow")) return false
    val dom = ctx.dom
    var cur = node
    var profile = -1
    while (cur != -1 && profile == -1) {
      if (dom.kind(cur) == Dom.Element && dom.tag(cur) == "div" &&
          Option(dom.attr(cur, "data-type")).getOrElse("").trim.equalsIgnoreCase("authorprofile"))
        profile = cur
      else cur = dom.parent(cur)
    }
    if (profile == -1) return false
    Select.selectFirst(dom, profile, "img") != -1 &&
      Select.selectFirst(dom, profile, "time[datetime], time") != -1
  }

  // ----------------------------------------------------- antirez helpers

  private def isAntirezDocument(ctx: Ctx): Boolean = {
    val dom = ctx.dom
    if (ctx.host == "antirez.com" || ctx.host.endsWith(".antirez.com")) return true
    val titleEl = Select.selectFirst(dom, dom.document, "title")
    val title = if (titleEl == -1) "" else sTrim(innerText(dom, titleEl)).toLowerCase
    if (title.endsWith("- <antirez>")) return true
    val headerTitle = Select.selectFirst(dom, dom.document, "header h1 > a[href=/]")
    headerTitle != -1 && sTrim(innerText(dom, headerTitle)).equalsIgnoreCase("<antirez>")
  }

  private def isArticleMetadataInfoNode(dom: Dom, node: Int): Boolean = {
    if (dom.kind(node) != Dom.Element || dom.tag(node) != "span") return false
    val article = dom.parent(node)
    if (article == -1 || dom.kind(article) != Dom.Element || dom.tag(article) != "article") return false
    val children = dom.childElements(article)
    if (children.isEmpty || children(0) != node) return false
    if (!children.exists(c => dom.tag(c) == "pre")) return false
    if (Select.selectFirst(dom, node, "span.username > a[href^=/user/], a[href^=/user/]") == -1) return false
    if (Select.hasClassToken(dom.className(node), "info")) return true
    innerText(dom, node).toLowerCase.contains("views.")
  }

  /** `AntirezBylineRule` + `FirefoxNightlyBylineRule` slot
    * (`applyMetadataBylineRules`, `SiteRuleRegistry.swift:86-101`).
    */
  def applyMetadataBylineRules(byline: Option[String], ctx: Ctx): Option[String] = {
    byline.map(sTrim).filter(_.nonEmpty) match {
      case some @ Some(_) => some
      case None =>
        val antirez = antirezMetadataByline(ctx)
        if (antirez.nonEmpty) return antirez
        firefoxNightlyMetadataByline(ctx).orElse(byline)
    }
  }

  private def antirezMetadataByline(ctx: Ctx): Option[String] = {
    if (!isAntirezDocument(ctx)) return None
    val dom = ctx.dom
    val infos = Select.select(dom, dom.document, "span.info")
    val info = infos.find(isArticleMetadataInfoNode(dom, _)).getOrElse(-1)
    if (info == -1) return None
    for (sel <- Seq("span.username > a[href^=/user/]", "a[href^=/user/]", "span.username")) {
      val n = Select.selectFirst(dom, info, sel)
      if (n != -1) {
        val t = sTrim(innerText(dom, n))
        if (t.nonEmpty) return Some(t)
      }
    }
    None
  }

  /** `FirefoxNightlyBylineRule`: header author link fills an absent
    * metadata byline.
    */
  private def firefoxNightlyMetadataByline(ctx: Ctx): Option[String] = {
    val dom = ctx.dom
    val isNightly = ctx.ogSiteName.trim.equalsIgnoreCase("firefox nightly news") || {
      val titleEl = Select.selectFirst(dom, dom.document, "title")
      titleEl != -1 && innerText(dom, titleEl).toLowerCase.contains("firefox nightly")
    } || ctx.host.contains("nightly.mozilla.org")
    if (!isNightly) return None
    val link = Select.selectFirst(dom, dom.document, "main#content a[rel=author]")
    if (link == -1) return None
    Some(sTrim(innerText(dom, link))).filter(_.nonEmpty)
  }

  /** `AntirezExcerptRule` (`applyExcerptRules`): first paragraph-block of
    * the article's pre content when no excerpt was found.
    */
  def applyExcerptRules(excerpt0: Option[String], articleContent: Int, ctx: Ctx): Option[String] = {
    val excerpt = antirezExcerpt(excerpt0, articleContent, ctx)
    xkcdComicExcerpt2(excerpt, articleContent, ctx)
  }

  private def xkcdComicExcerpt2(excerpt: Option[String], articleContent: Int, ctx: Ctx): Option[String] =
    xkcdComicExcerpt(excerpt, articleContent, ctx)

  private def antirezExcerpt(excerpt: Option[String], articleContent: Int, ctx: Ctx): Option[String] = {
    excerpt.map(sTrim).filter(_.nonEmpty) match {
      case some @ Some(_) => some
      case None =>
        if (!isAntirezDocument(ctx)) return excerpt
        val dom = ctx.dom
        val pres = Select.select(dom, articleContent, "pre")
        var i = 0
        while (i < pres.length) {
          val raw = sTrim(dom.textContent(pres(i)))
          if (raw.nonEmpty) {
            val segments = raw.split("\\n")
              .foldLeft(List(List.empty[String])) { (acc, line) =>
                if (sTrim(line).isEmpty) Nil :: acc else (line :: acc.head) :: acc.tail
              }
              .reverse.map(seg => sTrim(seg.reverse.mkString("\n"))).filter(_.nonEmpty)
            return Some(segments.headOption.getOrElse(raw))
          }
          i += 1
        }
        excerpt
    }
  }

  // ------------------------------------------- cleaner unwanted-elements

  /** `.unwantedElements` phase (`SiteRuleRegistry.swift:228-263`) — ported
    * tier so far.
    */
  def applyUnwantedElementRules(articleContent: Int, ctx: Ctx): Unit = {
    antirezDisqusFooter(articleContent, ctx)
    antirezLeadingInfo(articleContent, ctx)
    washingtonPostGalleryEmbed(articleContent, ctx)
    yahooSlideshowModal(articleContent, ctx)
    yahooBreakingNewsModule(articleContent, ctx)
    bbcVideoPlaceholder(articleContent, ctx)
    aktualneTwitterEmbed(articleContent, ctx)
    aktualneInlinePhoto(articleContent, ctx)
    qqSharePanel(articleContent, ctx)
    heraldSunReadMoreLink(articleContent, ctx)
    liberationRelatedAside(articleContent, ctx)
    liberationAuthorsContainer(articleContent, ctx)
    nyTimesLivePanels(articleContent, ctx)
    seattleTimesSectionRail(articleContent, ctx)
    nyTimesContinueReadingWrapper(articleContent, ctx)
    washingtonPostViewGraphicPromo(articleContent, ctx)
    cnnLegacyStoryTop(articleContent, ctx)
    medicalNewsTodayRelatedInline(articleContent, ctx)
    cnetPlaylistOverlay(articleContent, ctx)
    cityLabPromoSignup(articleContent, ctx)
    macRumorsArticleChrome(articleContent, ctx)
    berthubNavigationChrome(articleContent, ctx)
    engadgetSlideshowIcon(articleContent, ctx)
    wikipediaLeadMetaNoise(articleContent, ctx)
    mksiteLeadingPublication(articleContent, ctx)
    firefoxNightlyCommentForm(articleContent, ctx)
    substackDiscussionFooter(articleContent, ctx)
    mozillaCustomizeSyncSection(articleContent, ctx)
    eHowAuthorProfile(articleContent, ctx)
    fabienSanglardLeadingChrome(articleContent, ctx)
    simplyFoundMediaContainer(articleContent, ctx)
    folhaGalleryWidget(articleContent, ctx)
    pixnetArticleKeyword(articleContent, ctx)
    webMdReviewedBy(articleContent, ctx)
  }

  /** `WashingtonPostGalleryEmbedRule`: Scald gallery widgets and embed
    * containers are interactive chrome.
    */
  private def washingtonPostGalleryEmbed(articleContent: Int, ctx: Ctx): Unit = {
    val dom = ctx.dom
    for (gallery <- Select.select(dom, articleContent, "[data-scald-gallery]")) {
      val parent = dom.parent(gallery)
      if (parent != -1 && dom.kind(parent) == Dom.Element && dom.tag(parent) == "div")
        dom.remove(parent)
      else dom.remove(gallery)
    }
    Select.select(dom, articleContent, "div[id^=gallery-embed_]").foreach(dom.remove)
  }

  /** `YahooSlideshowModalRule`. */
  private def yahooSlideshowModal(articleContent: Int, ctx: Ctx): Unit =
    Select.select(ctx.dom, articleContent, "div[id^=modal-slideshow-]").foreach(ctx.dom.remove)

  /** `YahooBreakingNewsModuleRule`: breaking-news module, topics list, and
    * the provider-only credit block without schema meta.
    */
  private def yahooBreakingNewsModule(articleContent: Int, ctx: Ctx): Unit = {
    val dom = ctx.dom
    Select.select(dom, articleContent, "section#mediacontentbreakingnews > div.bd")
      .foreach(dom.remove)
    Select.select(dom, articleContent, "ul#topics").foreach(dom.remove)
    for (node <- Select.select(dom, articleContent, "div")) {
      if (dom.parent(node) != -1) {
        val children = dom.childElements(node)
        if (children.length == 1 && dom.tag(children(0)) == "p") {
          val hasProviderLink = Select.selectFirst(dom, node,
            "a[data-ylk*=ltxt:GoodMorningAmeri], a[href*=abcnews.go.com/GMA/]") != -1
          val hasSchemaMeta = Select.selectFirst(dom, node, "meta[itemprop]") != -1
          if (hasProviderLink && !hasSchemaMeta) dom.remove(node)
        }
      }
    }
  }

  /** `BBCVideoPlaceholderRule`. */
  private def bbcVideoPlaceholder(articleContent: Int, ctx: Ctx): Unit =
    Select.select(ctx.dom, articleContent,
      "div.media-placeholder[data-media-type=video], div[data-media-type=video][class*=media-placeholder]")
      .foreach(ctx.dom.remove)

  /** `AktualneTwitterEmbedRule`. */
  private def aktualneTwitterEmbed(articleContent: Int, ctx: Ctx): Unit =
    Select.select(ctx.dom, articleContent, "div[id^=twttr_], div.codefragment--twitter")
      .foreach(ctx.dom.remove)

  /** `AktualneInlinePhotoRule`. */
  private def aktualneInlinePhoto(articleContent: Int, ctx: Ctx): Unit =
    Select.select(ctx.dom, articleContent, "div.article__photo").foreach(ctx.dom.remove)

  /** `QQSharePanelRule`: share button, player chrome unwrap/removal, and
    * non-vote children of the correlation module.
    */
  private def qqSharePanel(articleContent: Int, ctx: Ctx): Unit = {
    val dom = ctx.dom
    Select.select(dom, articleContent, "div#shareBtn").foreach(dom.remove)
    for (sel <- Seq("#rv-player div.mbArticleSharePic", "#rv-player div.rv-player-adjust-img");
         wrapper <- Select.select(dom, articleContent, sel))
      if (dom.parent(wrapper) != -1) dom.unwrap(wrapper)
    Select.select(dom, articleContent,
      "#rv-player .rv-top, #rv-player .rv-player-wrap, #rv-player .rv-playlist")
      .foreach(dom.remove)
    // `.correlation-Article-QQ > :not(#vote)`
    for (mod <- Select.select(dom, articleContent, ".correlation-Article-QQ");
         child <- dom.childElements(mod))
      if (dom.idAttr(child).trim != "vote") dom.remove(child)
  }

  /** `HeraldSunReadMoreLinkRule`. */
  private def heraldSunReadMoreLink(articleContent: Int, ctx: Ctx): Unit =
    Select.select(ctx.dom, articleContent, "div#read-more-link").foreach(ctx.dom.remove)

  /** `LiberationRelatedAsideRule`. */
  private def liberationRelatedAside(articleContent: Int, ctx: Ctx): Unit =
    Select.select(ctx.dom, articleContent, "aside#related-content").foreach(ctx.dom.remove)

  /** `LiberationAuthorsContainerRule`. */
  private def liberationAuthorsContainer(articleContent: Int, ctx: Ctx): Unit =
    Select.select(ctx.dom, articleContent, "#article-body > div.authors-container")
      .foreach(ctx.dom.remove)

  /** `NYTimesLivePanelsRule`: live-update panels (aria-live ol with ≥3
    * items).
    */
  private def nyTimesLivePanels(articleContent: Int, ctx: Ctx): Unit = {
    val dom = ctx.dom
    for (panel <- Select.select(dom, articleContent, "div")) {
      if (dom.parent(panel) != -1 &&
          Select.selectFirst(dom, panel, "> ol[aria-live=off]") != -1 &&
          Select.select(dom, panel, "> ol > li").length >= 3)
        dom.remove(panel)
    }
  }

  /** `SeattleTimesSectionRailRule`: media-less link-dense section rails. */
  private def seattleTimesSectionRail(articleContent: Int, ctx: Ctx): Unit = {
    val dom = ctx.dom
    for (panel <- Select.select(dom, articleContent, "div[data-section]").reverse) {
      if (dom.parent(panel) != -1 &&
          Select.selectFirst(dom, panel,
            "img, picture, figure, video, iframe, object, embed, table") == -1) {
        val listCount = Select.select(dom, panel, "ul, ol").length
        val linkCount = Select.select(dom, panel, "a").length
        val textLen = Config.charLen(sTrim(innerText(dom, panel)))
        if (listCount >= 1 && linkCount >= 3 && textLen <= 1200 &&
            linkDensity(dom, panel) >= 0.2)
          dom.remove(panel)
      }
    }
  }

  /** `NYTimesContinueReadingWrapperRule`: midXX-wrapper rank/continue
    * blocks.
    */
  private def nyTimesContinueReadingWrapper(articleContent: Int, ctx: Ctx): Unit = {
    val dom = ctx.dom
    val midRe = java.util.regex.Pattern.compile("^mid\\d+-wrapper$")
    for (wrapper <- Select.select(dom, articleContent, "div[id$=-wrapper]")) {
      if (dom.parent(wrapper) != -1 &&
          midRe.matcher(dom.idAttr(wrapper).toLowerCase).matches() &&
          Select.selectFirst(dom, wrapper, "a[href^=#after-mid]") != -1) {
        val tpe = Option(dom.attr(wrapper, "type")).getOrElse("").toLowerCase
        val text = sTrim(innerText(dom, wrapper)).toLowerCase
        if (tpe == "rank" || text.contains("continue reading the main story"))
          dom.remove(wrapper)
      }
    }
  }

  /** `WashingtonPostViewGraphicPromoRule`. */
  private def washingtonPostViewGraphicPromo(articleContent: Int, ctx: Ctx): Unit = {
    val dom = ctx.dom
    for (candidate <- Select.select(dom, articleContent, "div").reverse) {
      if (dom.parent(candidate) != -1 &&
          Select.selectFirst(dom, candidate, "a[href*=_graphic.html]") != -1 &&
          Select.selectFirst(dom, candidate, "img") != -1) {
        val text = innerText(dom, candidate).toLowerCase
        if (text.contains("view graphic")) dom.remove(candidate)
      }
    }
  }

  /** `CNNLegacyStoryTopRule`: legacy story-top video wrapper + inread ad
    * shell.
    */
  private def cnnLegacyStoryTop(articleContent: Int, ctx: Ctx): Unit = {
    val dom = ctx.dom
    Select.select(dom, articleContent, "div#js-ie-storytop, div.ie--storytop, div#ie_column")
      .foreach(dom.remove)
    for (candidate <- Select.select(dom, articleContent, "div").reverse) {
      // length probe first: this compares EVERY div's subtree text on every
      // doc, and the string build was a measured allocation hotspot
      if (dom.parent(candidate) != -1 &&
          trimmedTextLength(dom, candidate) == 36 &&
          sTrim(innerText(dom, candidate)).toLowerCase ==
            "advertising inread invented by teads")
        dom.remove(candidate)
    }
  }

  /** `MedicalNewsTodayRelatedInlineRule`. */
  private def medicalNewsTodayRelatedInline(articleContent: Int, ctx: Ctx): Unit =
    Select.select(ctx.dom, articleContent,
      "div.related_inline, h2.suggested_reading, h2.internal_related, " +
        "div.suggested_reading_container, div.suggested_reading_inner")
      .foreach(ctx.dom.remove)

  /** `CNETPlaylistOverlayRule`: playlist overlays, taboola modules, and
    * short-link promo paragraph blocks on CNET pages.
    */
  private def cnetPlaylistOverlay(articleContent: Int, ctx: Ctx): Unit = {
    val dom = ctx.dom
    val subtreeSignals = Select.selectFirst(dom, articleContent,
      "div.playlist.overlay, div[data-load-playlist], [id*=taboola], [class*=taboola], " +
        "div[data-container-asset-id][data-page-options]") != -1
    val isCnet = subtreeSignals ||
      ctx.ogSiteName.equalsIgnoreCase("cnet") ||
      canonicalHref(ctx).contains("cnet.com") ||
      ctx.sourceUrl.getOrElse("").toLowerCase.contains("cnet.com")
    if (!isCnet) return
    Select.select(dom, articleContent, "div.playlist.overlay").foreach(dom.remove)
    Select.select(dom, articleContent,
      "div[data-load-playlist] .playlist, div[data-load-playlist] .playlist-more, " +
        "div[data-load-playlist] ul").foreach(dom.remove)
    Select.select(dom, articleContent,
      "div[data-item-id][data-item-syndicated], [id*=taboola], [class*=taboola]")
      .foreach(dom.remove)
    for (item <- Select.select(dom, articleContent, "li.playlist").reverse)
      if (dom.parent(item) != -1 && sTrim(innerText(dom, item)).equalsIgnoreCase("playlist"))
        dom.remove(item)
    for (block <- Select.select(dom, articleContent, "div").reverse) {
      if (dom.parent(block) != -1) {
        val paragraphs = Select.select(dom, block, "> p")
        if (paragraphs.length >= 2 && paragraphs.forall { p =>
          val text = sTrim(innerText(dom, p))
          text.nonEmpty && Config.charLen(text) <= 160 &&
            Select.selectFirst(dom, p, "a") != -1
        }) dom.remove(block)
      }
    }
  }

  /** `CityLabPromoSignupRule`: email promo signup forms. */
  private def cityLabPromoSignup(articleContent: Int, ctx: Ctx): Unit = {
    val dom = ctx.dom
    val isCityLab =
      Select.selectFirst(dom, articleContent, "meta[itemprop=name][content=CityLab]") != -1 ||
        Select.selectFirst(dom, articleContent,
          "meta[itemprop=mainEntityOfPage][content*=citylab.com]") != -1
    if (!isCityLab) return
    Select.select(dom, articleContent, "form#promo-email, form[name=promo-email]")
      .reverse.foreach(dom.remove)
  }

  /** `MacRumorsArticleChromeRule`: site header, tip box, and newsletter
    * subscribe form.
    */
  private def macRumorsArticleChrome(articleContent: Int, ctx: Ctx): Unit = {
    val dom = ctx.dom
    def normText(el: Int): String =
      sTrim(innerText(dom, el)).toLowerCase
    val isMacRumors =
      Select.selectFirst(dom, articleContent, "form#mc-embedded-subscribe-form") != -1 ||
        Select.selectFirst(dom, articleContent, "a#logo[aria-label=MacRumors Home Page]") != -1 ||
        Select.selectFirst(dom, articleContent,
          "a[aria-label=Let us know - submit a tip]") != -1 ||
        ctx.ogSiteName.trim.equalsIgnoreCase("macrumors") ||
        canonicalHref(ctx).contains("macrumors.com") ||
        ctx.sourceUrl.getOrElse("").toLowerCase.contains("macrumors.com")
    if (!isMacRumors) return
    for (header <- Select.select(dom, articleContent, "header").reverse) {
      if (dom.parent(header) != -1 &&
          (Select.selectFirst(dom, header, "a#logo[aria-label=MacRumors Home Page]") != -1 ||
            Select.selectFirst(dom, header, "a[aria-label=Let us know - submit a tip]") != -1))
        dom.remove(header)
    }
    for (container <- Select.select(dom, articleContent, "div").reverse) {
      if (dom.parent(container) != -1 &&
          Select.selectFirst(dom, container, "a[aria-label=Let us know - submit a tip]") != -1) {
        val text = normText(container)
        if (text.contains("got a tip for us?") || text.contains("let us know"))
          dom.remove(container)
      }
    }
    for (form <- Select.select(dom, articleContent, "form#mc-embedded-subscribe-form").reverse) {
      if (dom.parent(form) != -1) {
        val parent = dom.parent(form)
        val parentText = normText(parent)
        if (parentText.contains("get weekly top macrumors stories in your inbox") ||
            parentText.contains("leave this field empty"))
          dom.remove(parent)
        else dom.remove(form)
      }
    }
  }

  /** `EngadgetSlideshowIconRule`: slideshow thumbnails, count badges,
    * slideshow icons, and single-price promo unwraps.
    */
  private def engadgetSlideshowIcon(articleContent: Int, ctx: Ctx): Unit = {
    val dom = ctx.dom
    Select.select(dom, articleContent, "[data-engadget-slideshow-id] ul")
      .reverse.foreach(dom.remove)
    val countRe = java.util.regex.Pattern.compile("^[0-9]{1,3}$")
    for (badge <- Select.select(dom, articleContent, "div").reverse) {
      if (dom.parent(badge) != -1) {
        val uses = Select.select(dom, badge, "svg use")
        val hasSlideshow = uses.exists(u =>
          Option(dom.attr(u, "xlink:href")).getOrElse("").equalsIgnoreCase("#icon-slideshow"))
        if (hasSlideshow &&
            countRe.matcher(sTrim(innerText(dom, badge))).matches())
          dom.remove(badge)
      }
    }
    for (use <- Select.select(dom, articleContent, "svg use").reverse) {
      if (Option(dom.attr(use, "xlink:href")).getOrElse("").equalsIgnoreCase("#icon-slideshow")) {
        val svg = dom.parent(use)
        if (svg != -1) dom.remove(svg)
      }
    }
    for (div <- Select.select(dom, articleContent, "div").reverse) {
      if (dom.parent(div) != -1) {
        val children = dom.childElements(div)
        if (children.length == 1 && dom.tag(children(0)) == "p") {
          val text = innerText(dom, children(0)).toLowerCase
          if (text.contains("from") && text.contains("$"))
            dom.replaceWith(div, children(0))
        }
      }
    }
  }

  /** `WikipediaLeadMetaNoiseRule`. */
  private def wikipediaLeadMetaNoise(articleContent: Int, ctx: Ctx): Unit = {
    val dom = ctx.dom
    Select.select(dom, articleContent, ".mw-parser-output > div.shortdescription")
      .foreach(dom.remove)
    Select.select(dom, articleContent, ".mw-parser-output > div.hatnote[role=note]")
      .foreach(dom.remove)
  }

  /** `MozillaCustomizeSyncSectionRule`. */
  private def mozillaCustomizeSyncSection(articleContent: Int, ctx: Ctx): Unit = {
    val dom = ctx.dom
    val mainContent = Select.selectFirst(dom, articleContent, "#main-content")
    if (mainContent == -1) return
    if (Select.select(dom, mainContent, "#intro, #customizers-wrapper").length < 2) return
    for (section <- Select.select(dom, mainContent, "#sync.ga-section")) {
      val label = Option(dom.attr(section, "data-ga-label")).getOrElse("").toLowerCase
      if (label.contains("sync") || Select.selectFirst(dom, section, "#sync-button") != -1)
        dom.remove(section)
    }
  }

  /** `SimplyFoundMediaContainerRule`. */
  private def simplyFoundMediaContainer(articleContent: Int, ctx: Ctx): Unit = {
    val dom = ctx.dom
    if (Select.selectFirst(dom, articleContent, "div[id^=snippet-][id$=-image-carousel]") == -1)
      return
    Select.select(dom, articleContent, "div.media-container").reverse
      .filter(dom.parent(_) != -1).foreach(dom.remove)
  }

  /** `FolhaGalleryWidgetRule`: remove the smallest wrapper holding the
    * gallery teaser module.
    */
  private def folhaGalleryWidget(articleContent: Int, ctx: Ctx): Unit = {
    val dom = ctx.dom
    for (teaser <- Select.select(dom, articleContent, "figure.gallery-widget-pre")) {
      if (dom.parent(teaser) != -1) {
        var moduleRoot = dom.parent(teaser)
        while (moduleRoot != -1 &&
            !(dom.kind(moduleRoot) == Dom.Element &&
              Select.hasClassToken(dom.className(moduleRoot), "js-gallery-widget")))
          moduleRoot = dom.parent(moduleRoot)
        if (moduleRoot != -1) {
          val wrapper = dom.parent(moduleRoot)
          if (wrapper != -1 && dom.kind(wrapper) == Dom.Element && dom.tag(wrapper) == "div")
            dom.remove(wrapper)
          else dom.remove(moduleRoot)
        } else dom.remove(teaser)
      }
    }
  }

  /** `PixnetArticleKeywordRule`. */
  private def pixnetArticleKeyword(articleContent: Int, ctx: Ctx): Unit =
    Select.select(ctx.dom, articleContent, "div.article-keyword").foreach(ctx.dom.remove)

  /** `WebMDReviewedByRule`: author/reviewer credit modules and slideshow
    * link rails.
    */
  private def webMdReviewedBy(articleContent: Int, ctx: Ctx): Unit = {
    val dom = ctx.dom
    Select.select(dom, articleContent, "div.author_fmt, [class*=author_fmt]")
      .foreach(dom.remove)
    Select.select(dom, articleContent, "div.reviewedBy_fmt, [class*=reviewedBy_fmt]")
      .foreach(dom.remove)
    Select.select(dom, articleContent, "div.slideshow_links_rdr, div.contextual_links_fmt")
      .foreach(dom.remove)
    for (container <- Select.select(dom, articleContent, "div").reverse) {
      if (dom.parent(container) != -1 &&
          Select.selectFirst(dom, container,
            "img, picture, figure, video, iframe, table, blockquote") == -1) {
        val text = sTrim(innerText(dom, container))
        if (text.toLowerCase.startsWith("reviewed by ") &&
            Select.selectFirst(dom, container, "a[href*=webmd.com]") != -1 &&
            Config.charLen(text) <= 240)
          dom.remove(container)
      }
    }
  }

  /** `BerthubNavigationChromeRule`: empty out (keep the shells of) the
    * main-menu and prev/next navigation blocks.
    */
  private def berthubNavigationChrome(articleContent: Int, ctx: Ctx): Unit = {
    val dom = ctx.dom
    def removeAllChildren(el: Int): Unit = {
      var c = dom.firstChild(el)
      while (c != -1) { val n = dom.nextSib(c); dom.remove(c); c = n }
    }
    for (nav <- Select.select(dom, articleContent, "nav#main-menu[aria-label=Main Menu]"))
      if (Select.selectFirst(dom, nav, "a.screen-reader-text[href=#content]") != -1)
        removeAllChildren(nav)
    for (nav <- Select.select(dom, articleContent, "nav.entry-nav")) {
      val text = sTrim(innerText(dom, nav)).toLowerCase
      if (text.contains("previous post:") || text.contains("next post:") ||
          Select.selectFirst(dom, nav, ".prev-entry, .next-entry") != -1)
        removeAllChildren(nav)
    }
  }

  /** `EHowAuthorProfileRule` (unwanted phase): drop the related-content
    * module, strip FeaturedTombstone chrome, remove legacy headline
    * siblings, and normalize the author-profile block to
    * div{div{p{a-img}}, p{time}}.
    */
  private def eHowAuthorProfile(articleContent: Int, ctx: Ctx): Unit = {
    val dom = ctx.dom
    Select.select(dom, articleContent, "div#relatedContentUpper[data-module=rcp_top]")
      .foreach(dom.remove)
    for (featured <- Select.select(dom, articleContent,
        "section#FeaturedTombstone[data-module=rcp_tombstone]"))
      dom.childElements(featured).filter(dom.tag(_) != "h2").foreach(dom.remove)
    eHowRemoveLegacyHeadlineSiblings(dom, articleContent)

    for (profile <- Select.select(dom, articleContent, "div[data-type=AuthorProfile]")) {
      if (dom.parent(profile) != -1) {
        // `a#img-follow-tip, a:has(img)` — first anchor by id, else first
        // anchor containing an image
        val imageLink = {
          val byId = Select.selectFirst(dom, profile, "a#img-follow-tip")
          if (byId != -1) byId
          else Select.select(dom, profile, "a")
            .find(a => Select.selectFirst(dom, a, "img") != -1).getOrElse(-1)
        }
        val time = Select.selectFirst(dom, profile, "time[datetime], time")
        if (imageLink != -1 && time != -1) {
          val normalized = dom.newElement("div")
          dom.setAttr(normalized, "data-type", "AuthorProfile")
          val imageContainer = dom.newElement("div")
          val imageParagraph = dom.newElement("p")
          dom.appendChild(imageParagraph, imageLink)
          dom.appendChild(imageContainer, imageParagraph)
          dom.appendChild(normalized, imageContainer)
          val timeParagraph = dom.newElement("p")
          dom.appendChild(timeParagraph, time)
          dom.appendChild(normalized, timeParagraph)
          dom.replaceWith(profile, normalized)
        }
      }
    }
  }

  /** `EHowRuleHelpers.removeLegacyHeadlineSiblings`: drop itemprop=headline
    * h1/h2 siblings of an author-profile + score pair.
    */
  private def eHowRemoveLegacyHeadlineSiblings(dom: Dom, articleContent: Int): Unit = {
    for (container <- Select.select(dom, articleContent, "div")) {
      val children = dom.childElements(container)
      val hasAuthorProfile = children.exists { c =>
        dom.tag(c) == "div" &&
          Option(dom.attr(c, "data-type")).getOrElse("").equalsIgnoreCase("authorprofile")
      }
      val hasScoreBlock = hasAuthorProfile &&
        Select.selectFirst(dom, container, "div[data-score=true]") != -1
      if (hasAuthorProfile && hasScoreBlock) {
        children.filter { h =>
          (dom.tag(h) == "h1" || dom.tag(h) == "h2") &&
            Option(dom.attr(h, "itemprop")).getOrElse("").toLowerCase.contains("headline")
        }.foreach(dom.remove)
      }
    }
  }

  /** `FirefoxNightlyCommentFormRule` (unwanted phase): strip the WordPress
    * comment submission form but keep the comment list.
    */
  private def firefoxNightlyCommentForm(articleContent: Int, ctx: Ctx): Unit = {
    val dom = ctx.dom
    for (comments <- Select.select(dom, articleContent, "div#comments"))
      Select.select(dom, comments,
        "form, div#respond, p.comment-form-comment, p.comment-form-author, " +
          "p.comment-form-email, p.form-allowed-tags, p.form-submit")
        .foreach(dom.remove)
    Select.select(dom, articleContent,
      "form#comment-form, form[action*=wp-comments-post.php], " +
        "input#comment_post_ID, textarea#comment").foreach(dom.remove)
    Select.select(dom, articleContent,
      "div#respond, h3#reply-title, p#cancel-comment-reply").foreach(dom.remove)
  }

  /** `FabienSanglardLeadingChromeRule`: drop banner + heading chrome up to
    * the first separator <hr>.
    */
  private def fabienSanglardLeadingChrome(articleContent: Int, ctx: Ctx): Unit = {
    val dom = ctx.dom
    val center = Select.selectFirst(dom, articleContent, "> center")
    if (center == -1) return
    val banner = Select.selectFirst(dom, center, "a[href=/]")
    if (banner == -1 || !innerText(dom, banner).toUpperCase.contains("FABIEN SANGLARD")) return
    def dropLeadingBrs(): Unit = {
      var first = dom.childElements(articleContent).headOption.getOrElse(-1)
      while (first != -1 && dom.tag(first) == "br") {
        dom.remove(first)
        first = dom.childElements(articleContent).headOption.getOrElse(-1)
      }
    }
    dropLeadingBrs()
    dom.remove(center)
    dropLeadingBrs()
    val hr = Select.selectFirst(dom, articleContent, "> hr")
    if (hr == -1) return
    var first = dom.childElements(articleContent).headOption.getOrElse(-1)
    while (first != -1 && first != hr) {
      dom.remove(first)
      first = dom.childElements(articleContent).headOption.getOrElse(-1)
    }
    dom.remove(hr)
  }

  /** `MksiteLeadingPublicationRule`: strip the lead metadata cluster
    * (<b title=Publication><time>…, /tags/ links, bracketed <em> labels,
    * note-box skip links) ahead of the lead media element.
    */
  private def mksiteLeadingPublication(articleContent: Int, ctx: Ctx): Unit = {
    val dom = ctx.dom

    def childNodes(of: Int): Vector[Int] = {
      val b = Vector.newBuilder[Int]
      var c = dom.firstChild(of)
      while (c != -1) { b += c; c = dom.nextSib(c) }
      b.result()
    }
    def isWsText(n: Int): Boolean = dom.kind(n) == Dom.Text && sBlank(dom.text(n))
    def nextSignificantIdx(nodes: Vector[Int], from: Int): Int = {
      var i = from
      while (i < nodes.length) {
        if (!isWsText(nodes(i)) && dom.kind(nodes(i)) != Dom.Comment) return i
        i += 1
      }
      -1
    }
    def isDateEl(n: Int): Boolean =
      dom.kind(n) == Dom.Element && dom.tag(n) == "b" && {
        val title = Option(dom.attr(n, "title")).getOrElse("").trim
        (title.equalsIgnoreCase("Publication") || title.equalsIgnoreCase("Last edit")) &&
          Select.selectFirst(dom, n, "time") != -1
      }
    def isPublicationEl(n: Int): Boolean =
      isDateEl(n) && Option(dom.attr(n, "title")).getOrElse("").trim.equalsIgnoreCase("Publication")
    def isHeading(n: Int): Boolean =
      dom.kind(n) == Dom.Element && Set("h1", "h2", "h3", "h4", "h5", "h6")(dom.tag(n))
    def isTagLink(n: Int): Boolean =
      dom.kind(n) == Dom.Element && dom.tag(n) == "a" &&
        Option(dom.attr(n, "href")).getOrElse("").toLowerCase.contains("/tags/")
    def isBracketedLabel(n: Int): Boolean =
      dom.kind(n) == Dom.Element && dom.tag(n) == "em" && {
        val t = sTrim(innerText(dom, n))
        t.startsWith("[") && t.endsWith("]")
      }
    def isNoteBoxWrapper(n: Int): Boolean =
      dom.kind(n) == Dom.Element && dom.tag(n) == "note-box" && {
        val links = Select.select(dom, n, "a")
        links.nonEmpty && {
          val text = sTrim(innerText(dom, n))
          val linkText = sTrim(links.map(innerText(dom, _)).mkString(" "))
          text == linkText || text.isEmpty
        }
      }
    def isEmptyP(n: Int): Boolean =
      dom.kind(n) == Dom.Element && dom.tag(n) == "p" && textEmpty(dom, n) &&
        Select.selectFirst(dom, n, "img, picture, figure, video, iframe, object, embed") == -1
    def isSeparatorText(n: Int): Boolean =
      dom.kind(n) == Dom.Text && {
        val t = sTrim(dom.text(n))
        t.isEmpty || t.matches("^[()\\[\\],:;|/\\-–—]+$")
      }
    def isLeadMedia(n: Int): Boolean = {
      if (dom.kind(n) != Dom.Element) return false
      dom.tag(n) match {
        case "img" | "figure" | "picture" => true
        case "center" => Select.selectFirst(dom, n, "a, img") != -1
        case _ => false
      }
    }
    def mksiteContext: Boolean = {
      val metas = Select.select(dom, dom.document, "meta[name=generator]")
      if (metas.nonEmpty)
        metas.exists(m => Option(dom.attr(m, "content")).getOrElse("").toLowerCase.contains("mksite"))
      else true // extracted fragments lose head metadata; rely on shape
    }

    val nodes = childNodes(articleContent)
    // publication node: first significant, or heading followed by date
    val firstIdx = nextSignificantIdx(nodes, 0)
    if (firstIdx < 0) return
    val pubIdx =
      if (isDateEl(nodes(firstIdx))) firstIdx
      else if (isHeading(nodes(firstIdx))) {
        val second = nextSignificantIdx(nodes, firstIdx + 1)
        if (second >= 0 && isDateEl(nodes(second))) second else -1
      } else -1
    if (pubIdx < 0 || !isPublicationEl(nodes(pubIdx))) return

    val removal = scala.collection.mutable.ArrayBuffer(nodes(pubIdx))
    var cursor = pubIdx + 1
    var sawTagLink = false
    var break0 = false
    while (cursor < nodes.length && !break0) {
      val n = nodes(cursor)
      if (dom.kind(n) == Dom.Text) {
        if (isSeparatorText(n)) { removal += n; cursor += 1 }
        else break0 = true
      } else if (dom.kind(n) != Dom.Element) { removal += n; cursor += 1 }
      else if (isTagLink(n)) { removal += n; sawTagLink = true; cursor += 1 }
      else if (!sawTagLink && isBracketedLabel(n)) { removal += n; cursor += 1 }
      else if (isDateEl(n)) { removal += n; cursor += 1 }
      else if (isNoteBoxWrapper(n)) { removal += n; cursor += 1 }
      else if (isEmptyP(n)) { removal += n; cursor += 1 }
      else break0 = true
    }
    val nextIdx = nextSignificantIdx(nodes, cursor)
    val nextEl = if (nextIdx >= 0) nodes(nextIdx) else -1
    if (sawTagLink && nextEl != -1 && mksiteContext && isLeadMedia(nextEl)) {
      removal.reverse.foreach(n => if (dom.parent(n) != -1) dom.remove(n))
    } else if (!sawTagLink && mksiteContext) {
      removal.reverse.foreach(n => if (dom.parent(n) != -1) dom.remove(n))
    }
  }

  /** `SubstackDiscussionFooterRule`: discussion module, subscribe footer,
    * empty top-posts footer.
    */
  private def substackDiscussionFooter(articleContent: Int, ctx: Ctx): Unit = {
    val dom = ctx.dom
    val discussions = Select.select(dom, articleContent, "div#discussion")
    var i = discussions.length - 1
    while (i >= 0) {
      val d = discussions(i)
      if (dom.parent(d) != -1) {
        val hasCommentsRoot = Select.selectFirst(dom, d, "div#substack-comments") != -1
        val hasMoreComments = Select.selectFirst(dom, d, "a.more-comments, a[href$=/comments]") != -1
        val h = Select.selectFirst(dom, d, "h1, h2, h3, h4")
        val headingText = if (h == -1) "" else normText(dom, h)
        if (hasCommentsRoot || hasMoreComments || headingText == "discussion about this post")
          dom.remove(d)
      }
      i -= 1
    }
    val forms = Select.select(dom, articleContent, "form[action*=/api/v1/free?nojs=true]")
    i = forms.length - 1
    while (i >= 0) {
      val form = forms(i)
      if (dom.parent(form) != -1 &&
          Select.selectFirst(dom, form, "input[name=source][value=subscribe_footer]") != -1) {
        var candidate = dom.parent(form)
        var done = false
        while (candidate != -1 && !done) {
          val h = Select.selectFirst(dom, candidate, "h1, h2, h3, h4")
          val headingText = if (h == -1) "" else normText(dom, h)
          if (headingText == "ready for more?") { dom.remove(candidate); done = true }
          else candidate = dom.parent(candidate)
        }
      }
      i -= 1
    }
    val footers = Select.select(dom, articleContent, "div[aria-label=Top Posts Footer][role=region]")
    i = footers.length - 1
    while (i >= 0) {
      val f = footers(i)
      if (dom.parent(f) != -1) {
        val text = normText(dom, f)
        if (text == "no posts" ||
            Select.selectFirst(dom, f, "p.portable-archive-empty") != -1 ||
            Select.selectFirst(dom, f, "[aria-label=Archive sort tabs]") != -1)
          dom.remove(f)
      }
      i -= 1
    }
  }

  /** `AntirezDisqusFooterRule`. */
  private def antirezDisqusFooter(articleContent: Int, ctx: Ctx): Unit = {
    val dom = ctx.dom
    val ps = Select.select(dom, articleContent, "p")
    var i = ps.length - 1
    while (i >= 0) {
      val p = ps(i)
      // cheap structural + length probes first: this runs for every <p> of
      // every doc, and normText materializes the subtree text
      if (dom.parent(p) != -1 &&
          DomOps.trimmedTextLength(dom, p) == 31 &&
          Select.selectFirst(dom, p, "a[href*=disqus.com]") != -1 &&
          normText(dom, p).equalsIgnoreCase("blog comments powered by disqus"))
        dom.remove(p)
      i -= 1
    }
    for (sel <- Seq("a.dsq-brlink[href*=disqus.com]", "div#disqus_thread_outdiv, div#disqus_thread")) {
      val nodes = Select.select(dom, articleContent, sel)
      var j = 0
      while (j < nodes.length) { dom.remove(nodes(j)); j += 1 }
    }
  }

  /** `AntirezLeadingInfoRule`. */
  private def antirezLeadingInfo(articleContent: Int, ctx: Ctx): Unit = {
    val dom = ctx.dom
    val spans = Select.select(dom, articleContent, "span")
    var i = spans.length - 1
    while (i >= 0) {
      if (dom.parent(spans(i)) != -1 && isArticleMetadataInfoNode(dom, spans(i)))
        dom.remove(spans(i))
      i -= 1
    }
  }

  // ------------------------------------------------------------- xkcd

  private def isComicImage(dom: Dom, img: Int): Boolean = {
    val src = Option(dom.attr(img, "src")).getOrElse("").toLowerCase
    val srcset = Option(dom.attr(img, "srcset")).getOrElse("").toLowerCase
    src.contains("/comics/") || srcset.contains("/comics/")
  }

  private def hasComicImage(dom: Dom, el: Int): Boolean =
    Select.select(dom, el, "img").exists(isComicImage(dom, _))

  /** `XkcdTextlessComicContentRule` (`SiteRuleRegistry.swift:123-136`,
    * `XkcdComicContentRule.swift:75-84`): textless article content is kept
    * (not replaced by a failed-attempt retry) when it is a comic frame.
    */
  def shouldKeepTextlessArticleContent(articleContent: Int, ctx: Ctx): Boolean = {
    val dom = ctx.dom
    val middle = Select.selectFirst(dom, articleContent, "#middleContainer")
    middle != -1 && hasComicImage(dom, middle)
  }

  // ----------------------------------------------------------- xeiaso

  private def isXeiasoUrl(raw: String): Boolean = {
    val host = Option(Urls.parse(raw).authority).getOrElse("").toLowerCase
    host == "xeiaso.net" || host.endsWith(".xeiaso.net")
  }

  private def isXeiasoDocument(ctx: Ctx): Boolean = {
    val dom = ctx.dom
    val canonical = {
      val el = Select.selectFirst(dom, dom.document, "link[rel=canonical]")
      if (el == -1) "" else Option(dom.attr(el, "href")).getOrElse("")
    }
    val ogUrl = {
      val el = Select.selectFirst(dom, dom.document, "meta[property=og:url]")
      if (el == -1) "" else Option(dom.attr(el, "content")).getOrElse("")
    }
    Seq(ctx.sourceUrl.getOrElse(""), canonical, ogUrl).exists(u => u.nonEmpty && isXeiasoUrl(u))
  }

  /** `StandardDiscussionModuleRule` (PreExtraction): remove third-party
    * comment-platform roots before scoring so comment threads can't
    * out-score short articles when STRIP_UNLIKELYS/WEIGHT_CLASSES are off
    * in pass 3 (`StandardDiscussionModuleRule.swift:22-70`, evidence
    * CLI/.staging/garymarcus-3).
    * - Substack: `div#discussion` containing `div#substack-comments`,
    *   gated on host == substack.com or *.substack.com.
    * - Disqus: `div#disqus_thread` (no gate); then drop the parent if it
    *   became an empty anonymous div.
    */
  private def applyStandardDiscussionModuleRule(ctx: Ctx): Unit = {
    val dom = ctx.dom
    val isSubstack = ctx.host == "substack.com" || ctx.host.endsWith(".substack.com")
    if (isSubstack) {
      val discussions = Select.select(dom, dom.document, "div#discussion")
      var i = discussions.length - 1
      while (i >= 0) {
        val d = discussions(i)
        if (Select.selectFirst(dom, d, "div#substack-comments") != -1) dom.remove(d)
        i -= 1
      }
    }
    val threads = Select.select(dom, dom.document, "div#disqus_thread")
    var j = threads.length - 1
    while (j >= 0) {
      val t = threads(j)
      val parent = dom.parent(t)
      dom.remove(t)
      if (parent != -1 && dom.kind(parent) == Dom.Element && dom.tag(parent) == "div" &&
          dom.childElementCount(parent) == 0 &&
          dom.className(parent).trim.isEmpty && dom.idAttr(parent).isEmpty)
        dom.remove(parent)
      j -= 1
    }
  }

  /** `XeiasoArticleRule` PreExtractionDocumentRule: remove site header,
    * article tail chrome (from the boundary <hr>), and site footer.
    */
  def applyPreExtractionRules(ctx: Ctx): Unit = {
    applyStandardDiscussionModuleRule(ctx)
    if (!isXeiasoDocument(ctx)) return
    val dom = ctx.dom
    // site header: body > header with exactly one nav
    if (dom.bodyEl != -1) {
      val headers = Select.select(dom, dom.bodyEl, "> header")
      var i = headers.length - 1
      while (i >= 0) {
        if (Select.select(dom, headers(i), "nav").length == 1) dom.remove(headers(i))
        i -= 1
      }
      // tail chrome inside article.prose
      val article = Select.selectFirst(dom, dom.document, "article.prose")
      if (article != -1) {
        val hrs = Select.select(dom, article, "> hr")
        var j = hrs.length - 1
        var done = false
        while (j >= 0 && !done) {
          val hr = hrs(j)
          if (xeiasoIsTailBoundaryHr(dom, hr)) {
            var next = nextElemSib(dom, hr)
            while (next != -1) {
              val upcoming = nextElemSib(dom, next)
              dom.remove(next)
              next = upcoming
            }
            dom.remove(hr)
            done = true
          }
          j -= 1
        }
      }
      // site footer
      val footers = Select.select(dom, dom.bodyEl, "> footer")
      var k = footers.length - 1
      while (k >= 0) {
        val t = normText2(dom, footers(k))
        if (t.contains("copyright") && t.contains("xe iaso") && t.contains("served by xesite"))
          dom.remove(footers(k))
        k -= 1
      }
    }
  }

  private def normText2(dom: Dom, id: Int): String = normText(dom, id)

  private def xeiasoIsTailBoundaryHr(dom: Dom, hr: Int): Boolean = {
    var next = nextElemSib(dom, hr)
    while (next != -1) {
      val nid = dom.idAttr(next).trim.toLowerCase
      if (nid == "sharebutton") return true
      if (dom.tag(next) == "p") {
        val t = sTrim(innerText(dom, next))
        return t.startsWith("Facts and circumstances may have changed since publication.") ||
          t.startsWith("Tags:")
      }
      next = nextElemSib(dom, next)
    }
    false
  }

  private def isArticleProse(dom: Dom, el: Int): Boolean =
    dom.kind(el) == Dom.Element && dom.tag(el) == "article" &&
      Select.hasClassToken(dom.className(el), "prose")

  /** CandidateProtectionSiteRule chain (`SiteRuleRegistry.swift:182-192`):
    * CityLab article container, MacRumors main content, xeiaso
    * article.prose.
    */
  def shouldKeepCandidate(candidate: Int, ctx: Ctx): Boolean =
    cityLabShouldKeepCandidate(candidate, ctx) ||
      macRumorsShouldKeepCandidate(candidate, ctx) ||
      (isXeiasoDocument(ctx) && isArticleProse(ctx.dom, candidate))

  private def xeiasoPromotedCandidate(candidate: Int, ctx: Ctx): Int = {
    if (!isXeiasoDocument(ctx)) return candidate
    val dom = ctx.dom
    var cur = candidate
    while (cur != -1) {
      if (isArticleProse(dom, cur)) return cur
      cur = dom.parent(cur)
    }
    val article = Select.selectFirst(dom, dom.document, "article.prose")
    if (article != -1 && article != candidate) article else candidate
  }

  /** ShortContentFallbackSiteRule chain: 1a23 gallery, then xeiaso
    * article.prose (`SiteRuleRegistry.swift:139-161`). Returns a node to
    * CLONE as the fallback content, or -1.
    */
  def shortContentFallbackArticle(ctx: Ctx): Int = {
    val oneA23 = oneA23GalleryShortArticle(ctx)
    if (oneA23 != -1) return oneA23
    if (!isXeiasoDocument(ctx)) return -1
    Select.selectFirst(ctx.dom, ctx.dom.document, "article.prose")
  }

  /** `OneA23GalleryShortArticleRule`: featured image + first paragraph. */
  private def oneA23GalleryShortArticle(ctx: Ctx): Int = {
    if (!(ctx.host == "1a23.com" || ctx.host == "www.1a23.com")) return -1
    if (!ctx.path.contains("/works/gallery/")) return -1
    val dom = ctx.dom
    val entry = Select.selectFirst(dom, dom.document, "div.entry-content")
    val figure = Select.selectFirst(dom, dom.document, "figure.wp-block-post-featured-image")
    if (entry == -1 || figure == -1) return -1
    val p = dom.childElements(entry).find(c => dom.tag(c) == "p" && !textEmpty(dom, c)).getOrElse(-1)
    if (p == -1) return -1
    val container = dom.newElement("div")
    dom.appendChild(container, dom.cloneSubtree(figure))
    dom.appendChild(container, dom.cloneSubtree(p))
    container
  }

  /** `OneA23GalleryWrapperRule` (serialization): wrap the 2-child
    * figure+caption page in an inner div.
    */
  private def oneA23GalleryWrapper(articleContent: Int, ctx: Ctx): Unit = {
    val dom = ctx.dom
    val page = Select.selectFirst(dom, articleContent, "div#readability-page-1.page")
    val pg = if (page != -1) page
      else if (dom.kind(articleContent) == Dom.Element &&
        dom.idAttr(articleContent) == "readability-page-1") articleContent else -1
    if (pg == -1) return
    val children = dom.childElements(pg)
    if (children.size != 2) return
    val figure = children(0)
    val paragraph = children(1)
    if (dom.tag(figure) != "figure" || dom.tag(paragraph) != "p") return
    if (!dom.className(figure).toLowerCase.contains("wp-block-post-featured-image")) return
    val t = sTrim(innerText(dom, paragraph)).toLowerCase
    if (!t.startsWith("photo by ") || !t.contains("typefaces:")) return
    val wrapper = dom.newElement("div")
    dom.appendChild(wrapper, figure)
    dom.appendChild(wrapper, paragraph)
    dom.appendChild(pg, wrapper)
  }

  /** `GhostArticleChromeRule`: exclude Ghost header/CTA siblings of
    * section.gh-content.
    */
  private def ghostArticleChrome(sibling: Int, topCandidate: Int, ctx: Ctx): Option[Boolean] = {
    val dom = ctx.dom
    if (dom.tag(topCandidate) != "section" ||
        !Select.hasClassToken(dom.className(topCandidate), "gh-content")) return None
    val parent = dom.parent(topCandidate)
    if (parent == -1 || dom.kind(parent) != Dom.Element || dom.tag(parent) != "article") return None
    if (dom.parent(sibling) != parent) return None
    if (dom.tag(sibling) == "header" &&
        Select.hasClassToken(dom.className(sibling), "article-header")) return Some(false)
    if (dom.tag(sibling) == "div" &&
        (Select.hasClassToken(dom.className(sibling), "content-cta") ||
         Select.hasClassToken(dom.className(sibling), "studio-cta"))) return Some(false)
    None
  }

  /** Xeiaso cleaner phase: post metadata line + tail markers. */
  private def xeiasoCleanerApply(articleContent: Int, ctx: Ctx): Unit = {
    if (!isXeiasoDocument(ctx)) return
    val dom = ctx.dom
    val divs = Select.select(dom, articleContent, "div")
    var i = divs.length - 1
    while (i >= 0) {
      val d = divs(i)
      if (dom.parent(d) != -1 && Select.selectFirst(dom, d, "time[datetime]") != -1) {
        val t = normText(dom, d)
        if (t.contains("words") && t.contains("minutes to read")) dom.remove(d)
      }
      i -= 1
    }
    var foundTail = false
    val ps = Select.select(dom, articleContent, "p")
    i = ps.length - 1
    while (i >= 0) {
      val p = ps(i)
      if (dom.parent(p) != -1) {
        val t = sTrim(innerText(dom, p))
        if (t.startsWith("Facts and circumstances may have changed since publication.") || t == "Tags:") {
          dom.remove(p)
          foundTail = true
        }
      }
      i -= 1
    }
    if (foundTail) {
      val hrs = Select.select(dom, articleContent, "hr")
      i = hrs.length - 1
      while (i >= 0) { dom.remove(hrs(i)); i -= 1 }
    }
  }

  /** Xeiaso serialization phase: normalize character dialogue cards into
    * blockquotes.
    */
  private def xeiasoDialogues(articleContent: Int, ctx: Ctx): Unit = {
    val dom = ctx.dom
    def characterLinks(el: Int) = Select.select(dom, el, "a").filter(a =>
      Option(dom.attr(a, "href")).getOrElse("").contains("/characters#"))
    def stickers(el: Int) = Select.select(dom, el, "img").filter(img =>
      Option(dom.attr(img, "src")).getOrElse("").contains("/sticker/"))
    if (characterLinks(articleContent).isEmpty || stickers(articleContent).isEmpty) return
    val divs = Select.select(dom, articleContent, "div")
    var i = divs.length - 1
    while (i >= 0) {
      val card = divs(i)
      if (dom.parent(card) != -1 &&
          characterLinks(card).length == 1 && stickers(card).length == 1) {
        val blockquote = dom.newElement("blockquote")
        val speaker = characterLinks(card).head
        val speakerText = sTrim(innerText(dom, speaker))
        val sp = dom.newElement("p")
        val strong = dom.newElement("strong")
        dom.appendChild(strong, dom.newText(innerText(dom, speaker)))
        dom.appendChild(sp, strong)
        dom.appendChild(blockquote, sp)
        val cardPs = Select.select(dom, card, "p")
        var j = 0
        while (j < cardPs.length) {
          val p = cardPs(j)
          val t = sTrim(innerText(dom, p))
          if (stickers(p).isEmpty && t.nonEmpty && t != speakerText)
            dom.appendChild(blockquote, dom.cloneSubtree(p))
          j += 1
        }
        dom.replaceWith(card, blockquote)
      }
      i -= 1
    }
    // unwrap wrappers that now contain only blockquotes
    val wrappers = Select.select(dom, articleContent, "div")
    i = wrappers.length - 1
    while (i >= 0) {
      val w = wrappers(i)
      if (dom.parent(w) != -1) {
        val children = dom.childElements(w)
        if (children.nonEmpty && children.forall(c => dom.tag(c) == "blockquote"))
          dom.unwrap(w)
      }
      i -= 1
    }
  }

  // --------------------------------------------------------- devblogs

  private def isDevBlogsEvoDocument(ctx: Ctx): Boolean = {
    val dom = ctx.dom
    if (Select.selectFirst(dom, dom.document, "body.wp-theme-devblogs-evo") != -1) return true
    Seq("link[rel=canonical]", "meta[property=og:url]").exists { sel =>
      val el = Select.selectFirst(dom, dom.document, sel)
      el != -1 && {
        val v = Option(dom.attr(el, if (sel.startsWith("link")) "href" else "content")).getOrElse("")
        v.toLowerCase.contains("devblogs.microsoft.com")
      }
    }
  }

  /** `DevBlogsArticleCandidateRule`: narrow/promote to #single-wrapper. */
  private def devBlogsCandidate(candidate: Int, ctx: Ctx): Int = {
    if (!isDevBlogsEvoDocument(ctx)) return candidate
    val dom = ctx.dom
    val inner = Select.selectFirst(dom, candidate, "#single-wrapper")
    if (inner != -1) return inner
    var cursor = candidate
    while (cursor != -1) {
      if (dom.kind(cursor) == Dom.Element && dom.idAttr(cursor) == "single-wrapper") return cursor
      cursor = dom.parent(cursor)
    }
    candidate
  }

  /** `DevBlogsPostFooterRule`: exclude the post-footer column sibling. */
  private def devBlogsPostFooter(sibling: Int, topCandidate: Int, ctx: Ctx): Option[Boolean] = {
    val dom = ctx.dom
    if (dom.tag(topCandidate) != "div" || dom.idAttr(topCandidate) != "single-wrapper" ||
        !Select.hasClassToken(dom.className(topCandidate), "container-three-column-post")) return None
    if (!isDevBlogsEvoDocument(ctx)) return None
    if (dom.tag(sibling) != "div" || sibling == topCandidate ||
        !Select.hasClassToken(dom.className(sibling), "container-three-column-post")) return None
    // sibling must FOLLOW the top candidate under the same parent
    val parent = dom.parent(topCandidate)
    if (parent == -1 || dom.parent(sibling) != parent) return None
    val children = dom.childElements(parent)
    val ti = children.indexOf(topCandidate)
    val si = children.indexOf(sibling)
    if (ti < 0 || si < 0 || si <= ti) return None
    val markers = Seq("a[data-bi-area=body_category]", "a[data-bi-area=body_topics]",
      "a[data-bi-area=body_author_bottom]")
    if (!markers.exists(m => Select.selectFirst(dom, sibling, m) != -1)) return None
    Some(false)
  }

  /** `SiteRuleRegistry.promotedCandidate` (`SiteRuleRegistry.swift:163-180`)
    * — first rule producing a promotion wins; order mirrors the registry:
    * Xkcd, Quanta, Breitbart, FirefoxNightly, CityLab, Xeiaso,
    * SimonWillison, DevBlogs.
    */
  def promotedCandidate(candidate: Int, ctx: Ctx): Int = {
    val xk = xkcdPromotedCandidate(candidate, ctx)
    if (xk != candidate) return xk
    val qu = quantaLeadCandidate(candidate, ctx)
    if (qu != candidate) return qu
    val br = breitbartArticleCandidate(candidate, ctx)
    if (br != candidate) return br
    val ffn = firefoxNightlyContainerCandidate(candidate, ctx)
    if (ffn != candidate) return ffn
    val cl = cityLabArticleContainerCandidate(candidate, ctx)
    if (cl != candidate) return cl
    val xe = xeiasoPromotedCandidate(candidate, ctx)
    if (xe != candidate) return xe
    val sw = simonWillisonBeatCandidate(candidate, ctx)
    if (sw != candidate) return sw
    devBlogsCandidate(candidate, ctx)
  }

  /** `QuantaLeadCandidatePromotionRule`
    * (`CandidateSelectionSiteRules.swift:4-28`).
    */
  private def quantaLeadCandidate(candidate: Int, ctx: Ctx): Int = {
    val dom = ctx.dom
    val canonical = canonicalHref(ctx)
    val isQuanta = canonical.contains("quantamagazine.org") ||
      ctx.ogSiteName.toLowerCase.contains("quanta")
    if (!isQuanta) return candidate
    val lead = Select.selectFirst(dom, dom.document, "div[data-reactid=253]")
    if (lead == -1) return candidate
    val leadText = innerText(dom, lead).toLowerCase
    if (leadText.contains("a little over half a century ago, chaos started spilling out of a famous experiment"))
      lead
    else candidate
  }

  /** `BreitbartArticleCandidatePromotionRule`
    * (`CandidateSelectionSiteRules.swift:30-77`).
    */
  private def breitbartArticleCandidate(candidate: Int, ctx: Ctx): Int = {
    val dom = ctx.dom
    if (dom.kind(candidate) != Dom.Element || dom.tag(candidate) != "div") return candidate
    if (!dom.className(candidate).toLowerCase.contains("entry-content")) return candidate
    val article = dom.parent(candidate)
    if (article == -1 || dom.kind(article) != Dom.Element || dom.tag(article) != "article")
      return candidate
    val articleClass = dom.className(article).toLowerCase
    if (!(articleClass.contains("the-article") || articleClass.contains("post-")))
      return candidate
    val isBreitbart = ctx.ogSiteName.toLowerCase.contains("breitbart") ||
      canonicalHref(ctx).contains("breitbart.com") ||
      ctx.sourceUrl.getOrElse("").toLowerCase.contains("breitbart.com")
    if (!isBreitbart) return candidate
    val hasFeaturedFigure =
      Select.selectFirst(dom, article, "> header figure.figurearticlefeatured") != -1
    val publishedTimeCount = Select.select(dom, article, "> header time[datetime]").length
    if (hasFeaturedFigure && publishedTimeCount >= 2) article else candidate
  }

  /** `FirefoxNightlyContainerCandidatePromotionRule`
    * (`CandidateSelectionSiteRules.swift:79-100`): promote to the
    * main/div#content wrapper when it holds an article with Nightly link
    * markers.
    */
  private def firefoxNightlyContainerCandidate(candidate: Int, ctx: Ctx): Int = {
    val dom = ctx.dom
    var cur = candidate
    var depth = 0
    while (cur != -1 && depth <= 8) {
      if (dom.kind(cur) == Dom.Element &&
          (dom.tag(cur) == "main" || dom.tag(cur) == "div") &&
          dom.idAttr(cur).trim.toLowerCase == "content") {
        val article = Select.selectFirst(dom, cur, "> div.content > article[id^=post-]")
        if (article != -1 &&
            Select.selectFirst(dom, article,
              "a[href*=bugzilla.mozilla.org], a[href*=blog.nightly.mozilla.org]") != -1)
          return cur
      }
      cur = dom.parent(cur)
      depth += 1
    }
    candidate
  }

  /** `CityLabArticleContainerCandidateRule.promotedCandidate`
    * (`CandidateSelectionSiteRules.swift:102-148`): promote
    * section#article-section-1 (or its single-child div wrapper) to the
    * itemtype=NewsArticle <article> parent.
    */
  private def cityLabArticleContainerCandidate(candidate: Int, ctx: Ctx): Int = {
    val dom = ctx.dom
    if (!isCityLabDocument(ctx)) return candidate
    if (dom.kind(candidate) != Dom.Element) return candidate

    def promoteFrom(section: Int, parentOfSection: Int): Int = {
      if (dom.idAttr(section).trim.toLowerCase != "article-section-1") return candidate
      if (parentOfSection == -1 || dom.kind(parentOfSection) != Dom.Element ||
          dom.tag(parentOfSection) != "article") return candidate
      val itemtype = Option(dom.attr(parentOfSection, "itemtype")).getOrElse("").toLowerCase
      if (itemtype.contains("newsarticle")) parentOfSection else candidate
    }

    if (dom.tag(candidate) == "section")
      promoteFrom(candidate, dom.parent(candidate))
    else if (dom.tag(candidate) == "div") {
      val kids = dom.childElements(candidate)
      if (kids.length == 1 && dom.tag(kids(0)) == "section")
        promoteFrom(kids(0), dom.parent(candidate))
      else candidate
    } else candidate
  }

  /** `CityLabArticleContainerCandidateRule.shouldKeepCandidate`
    * (`CandidateSelectionSiteRules.swift:150-163`).
    */
  private def cityLabShouldKeepCandidate(candidate: Int, ctx: Ctx): Boolean = {
    val dom = ctx.dom
    if (!isCityLabDocument(ctx)) return false
    if (dom.kind(candidate) != Dom.Element || dom.tag(candidate) != "article") return false
    val itemtype = Option(dom.attr(candidate, "itemtype")).getOrElse("").toLowerCase
    if (!itemtype.contains("newsarticle")) return false
    Select.selectFirst(dom, candidate, "> section#article-section-1") != -1
  }

  /** `MacRumorsMainContentCandidateRule` (candidate protection): keep
    * main#maincontent so chrome wrappers don't get promoted over it.
    */
  private def macRumorsShouldKeepCandidate(candidate: Int, ctx: Ctx): Boolean = {
    val dom = ctx.dom
    val isMacRumors = ctx.ogSiteName.trim.equalsIgnoreCase("macrumors") ||
      canonicalHref(ctx).contains("macrumors.com") ||
      ctx.sourceUrl.getOrElse("").toLowerCase.contains("macrumors.com")
    if (!isMacRumors) return false
    if (dom.kind(candidate) != Dom.Element || dom.tag(candidate) != "main") return false
    if (dom.idAttr(candidate).trim.toLowerCase != "maincontent") return false
    Select.selectFirst(dom, candidate, "> article [data-io-article-url]") != -1
  }

  private def isCityLabDocument(ctx: Ctx): Boolean = {
    val dom = ctx.dom
    if (Select.selectFirst(dom, dom.document,
        "meta[property=og:site_name][content=CityLab]") != -1) return true
    if (Select.selectFirst(dom, dom.document,
        "meta[name=twitter:site][content=@CityLab]") != -1) return true
    Select.selectFirst(dom, dom.document, "link[rel=canonical][href*=citylab.com]") != -1
  }

  private def canonicalHref(ctx: Ctx): String = {
    val dom = ctx.dom
    val el = Select.selectFirst(dom, dom.document, "link[rel=canonical]")
    if (el == -1) "" else Option(dom.attr(el, "href")).getOrElse("").toLowerCase
  }

  /** `SimonWillisonBeatCandidatePromotionRule`: beat pages always use the
    * div.beat container as the candidate.
    */
  private def simonWillisonBeatCandidate(candidate: Int, ctx: Ctx): Int = {
    val dom = ctx.dom
    val canonical = {
      val el = Select.selectFirst(dom, dom.document, "link[rel=canonical]")
      if (el == -1) "" else Option(dom.attr(el, "href")).getOrElse("").toLowerCase
    }
    val isHost = canonical.contains("simonwillison.net") ||
      ctx.ogSiteName.toLowerCase.contains("simon willison")
    if (!isHost) return candidate
    if (Select.selectFirst(dom, dom.document, "div.entry.entryPage > div.beat > div.beat-content") == -1)
      return candidate
    val beat = Select.selectFirst(dom, dom.document, "div.entry.entryPage > div.beat")
    if (beat == -1) candidate else beat
  }

  private def xkcdPromotedCandidate(candidate: Int, ctx: Ctx): Int = {
    val dom = ctx.dom
    // walk candidate + ≤6 ancestors; check self and siblings for #middleContainer
    var middle = -1
    var cur = candidate
    var depth = 0
    while (cur != -1 && depth <= 6 && middle == -1) {
      if (dom.kind(cur) == Dom.Element) {
        if (dom.idAttr(cur).trim == "middleContainer") middle = cur
        else {
          val parent = dom.parent(cur)
          if (parent != -1)
            middle = dom.childElements(parent).find(s => dom.idAttr(s).trim == "middleContainer").getOrElse(-1)
        }
      }
      cur = dom.parent(cur)
      depth += 1
    }
    if (middle == -1) return candidate
    if (!hasComicImage(dom, middle)) return candidate
    // footer sibling evidence: #bottom with #comicLinks next to middleContainer
    val parent = dom.parent(middle)
    val hasFooter = parent != -1 && dom.childElements(parent).exists { s =>
      dom.idAttr(s).trim == "bottom" && Select.selectFirst(dom, s, "#comicLinks") != -1
    }
    if (hasFooter) middle else candidate
  }

  private def xkcdFooterSibling(sibling: Int, topCandidate: Int, ctx: Ctx): Option[Boolean] = {
    val dom = ctx.dom
    if (dom.idAttr(topCandidate).trim != "middleContainer") return None
    if (!hasComicImage(dom, topCandidate)) return None
    if (dom.idAttr(sibling).trim != "bottom") return None
    if (Select.selectFirst(dom, sibling, "#comicLinks") == -1) return None
    Some(false)
  }

  /** `XkcdComicChromeCleanupRule` (postProcess phase). */
  private def xkcdComicChromeCleanup(articleContent: Int, ctx: Ctx): Unit = {
    val dom = ctx.dom
    val middle = Select.selectFirst(dom, articleContent, "#middleContainer")
    if (middle == -1 || !hasComicImage(dom, middle)) return
    for (sel <- Seq("ul.comicNav", "#transcript")) {
      val nodes = Select.select(dom, middle, sel)
      var i = 0
      while (i < nodes.length) { dom.remove(nodes(i)); i += 1 }
    }
    val alt = Select.select(dom, middle, "img").find(isComicImage(dom, _))
      .flatMap(img => Option(dom.attr(img, "alt")).map(sTrim).filter(_.nonEmpty))
      .map(_.toLowerCase)
    val ps = Select.select(dom, middle, "p")
    var i = 0
    while (i < ps.length) {
      val p = ps(i)
      if (dom.parent(p) != -1) {
        val t = sTrim(innerText(dom, p)).toLowerCase
        if (t.contains("permanent link to this comic") ||
            t.contains("image url (for hotlinking/embedding)") ||
            (t.nonEmpty && alt.contains(t)))
          dom.remove(p)
      }
      i += 1
    }
  }

  /** `XkcdComicExcerptRule`: text-free comic pages get an empty excerpt. */
  private def xkcdComicExcerpt(excerpt: Option[String], articleContent: Int, ctx: Ctx): Option[String] = {
    val dom = ctx.dom
    val middle = Select.selectFirst(dom, articleContent, "#middleContainer")
    if (middle == -1 || !hasComicImage(dom, middle)) return excerpt
    if (!textEmpty(dom, middle)) return excerpt
    Some("")
  }

  /** `XkcdComicImageSourceRule` (serialization): prefer the 2x srcset URL. */
  private def xkcdComicImageSource(articleContent: Int, ctx: Ctx): Unit = {
    val dom = ctx.dom
    val middle = Select.selectFirst(dom, articleContent, "#middleContainer")
    if (middle == -1) return
    val imgs = Select.select(dom, middle, "img")
    var i = 0
    while (i < imgs.length) {
      val img = imgs(i)
      if (isComicImage(dom, img)) {
        val srcset = Option(dom.attr(img, "srcset")).getOrElse("")
        val twoX = srcset.split(",").iterator
          .map(_.trim.split("\\s+"))
          .collectFirst { case parts if parts.length >= 2 && parts(1) == "2x" => parts(0) }
        twoX.foreach(url => dom.setAttr(img, "src", url))
      }
      i += 1
    }
  }

  // ----------------------------------------------------- sibling include

  /** `siblingInclusionDecision` (`SiteRuleRegistry.swift:305-331`):
    * Some(true/false) = explicit include/exclude, None = no opinion.
    * Ported tier: SeanGoedeckePostFooterRule (Xkcd/WordPress/Ghost/DevBlogs
    * later).
    */
  def siblingInclusionDecision(sibling: Int, topCandidate: Int, ctx: Ctx): Option[Boolean] =
    xkcdFooterSibling(sibling, topCandidate, ctx)
      .orElse(wordPressFeaturedImageSibling(sibling, ctx))
      .orElse(seanGoedeckePostFooter(sibling, ctx))
      .orElse(ghostArticleChrome(sibling, topCandidate, ctx))
      .orElse(devBlogsPostFooter(sibling, topCandidate, ctx))

  /** `WordPressFeaturedImageRule`: a bare block-editor featured-image
    * figure scores 0 and would miss the sibling threshold — force-include
    * it so the featured image leads the article.
    */
  private def wordPressFeaturedImageSibling(sibling: Int, ctx: Ctx): Option[Boolean] = {
    val dom = ctx.dom
    if (dom.kind(sibling) != Dom.Element || dom.tag(sibling) != "figure") return None
    if (!dom.className(sibling).contains("wp-block-post-featured-image")) return None
    if (!isProbablyVisible(dom, sibling)) return None
    Some(true)
  }

  /** `WordPressFeaturedImageExtractRule` (sibling-extraction hook): a
    * wrapper div preceding the candidate that buries the featured-image
    * figure among metadata chrome — extract ONLY a clone of the figure,
    * consume the wrapper.
    */
  def siblingExtraction(sibling: Int, topCandidate: Int, ctx: Ctx): Int = {
    val dom = ctx.dom
    if (dom.kind(sibling) != Dom.Element || dom.tag(sibling) != "div") return -1
    val figure = Select.selectFirst(dom, sibling, "figure.wp-block-post-featured-image")
    if (figure == -1 || !isProbablyVisible(dom, figure)) return -1
    dom.cloneSubtree(figure)
  }

  private val sgPreviewIntro =
    "Here's a preview of a related post that shares tags with this one."

  private def seanGoedeckePostFooter(sibling: Int, ctx: Ctx): Option[Boolean] = {
    val dom = ctx.dom
    if (dom.kind(sibling) != Dom.Element || dom.tag(sibling) != "p") return None
    if (sTrim(innerText(dom, sibling)) != sgPreviewIntro) return None
    val parent = dom.parent(sibling)
    if (parent == -1) return None
    val children = dom.childElements(parent)
    val idx = children.indexOf(sibling)
    if (idx < 0) return None
    var evidence = false
    if (idx > 0 &&
        innerText(dom, children(idx - 1)).toLowerCase.contains("if you liked this post"))
      evidence = true
    if (!evidence && idx + 1 < children.size) {
      val next = children(idx + 1)
      if (dom.tag(next) == "blockquote" &&
          innerText(dom, next).toLowerCase.contains("continue reading"))
        evidence = true
    }
    if (evidence) Some(false) else None
  }

  // ------------------------------------------------ cleaner preConversion

  /** `.preConversion` phase: NYTimesRelatedLinkCards (later tier) +
    * SubstackInlineButtonCTA.
    */
  def applyPreConversionRules(articleContent: Int, ctx: Ctx): Unit = {
    nyTimesRelatedLinkCards(articleContent, ctx)
    substackInlineButtonCta(articleContent, ctx)
  }

  /** `SiteRuleRegistry.applyShareRules` (shareCleanup phase). */
  def applyShareRules(articleContent: Int, ctx: Ctx): Unit =
    guardianShareElements(articleContent, ctx)

  /** `NYTimesRelatedLinkCardsRule` (preConversion): link-card and section
    * containers made entirely of RelatedLinks module links.
    */
  private def nyTimesRelatedLinkCards(articleContent: Int, ctx: Ctx): Unit = {
    val dom = ctx.dom
    def isRelated(a: Int): Boolean = {
      val href = Option(dom.attr(a, "href")).getOrElse("").toLowerCase
      href.contains("module=relatedlinks") && href.contains("pgtype=article")
    }
    val links = Select.select(dom, articleContent,
      "a[href*=module=RelatedLinks][href*=pgtype=Article]")
    val cardContainers = ArrayBuffer.empty[Int]
    val sectionContainers = ArrayBuffer.empty[Int]
    for (link <- links) {
      var cursor = link
      var done = false
      while (!done && cursor != -1) {
        val parent = dom.parent(cursor)
        val tag = dom.tag(cursor)
        val ptag = if (parent == -1 || dom.kind(parent) != Dom.Element) "" else dom.tag(parent)
        if (tag == "div" && ptag == "section") { sectionContainers += cursor; done = true }
        else if (tag == "div" && ptag == "div") { cardContainers += cursor; done = true }
        else if (tag == "article" || parent == -1) done = true
        else cursor = parent
      }
    }
    for (container <- cardContainers.reverse) {
      if (dom.parent(container) != -1) {
        val allLinks = Select.select(dom, container, "a")
        if (allLinks.nonEmpty && allLinks.forall(isRelated) &&
            Config.charLen(sTrim(innerText(dom, container))) <= 260)
          dom.remove(container)
      }
    }
    for (container <- sectionContainers.reverse) {
      if (dom.parent(container) != -1 &&
          Select.selectFirst(dom, container, "h1, h2, h3, h4, h5, h6") == -1) {
        val allLinks = Select.select(dom, container, "a")
        if (allLinks.nonEmpty && allLinks.forall(isRelated) &&
            Config.charLen(sTrim(innerText(dom, container))) <= 420 &&
            linkDensity(dom, container) >= 0.15)
          dom.remove(container)
      }
    }
  }

  /** `GuardianShareElementsRule`: share/social controls by class/id token,
    * excluding media figures like `fig--has-shares`.
    */
  private def guardianShareElements(articleContent: Int, ctx: Ctx): Unit = {
    val dom = ctx.dom
    val tokenRe = java.util.regex.Pattern.compile(
      "(^|\\s|[-_])(share|sharedaddy)(\\s|[-_]|$)")
    for (node <- Select.select(dom, articleContent,
        "[class*=share], [id*=share], [class*=sharedaddy], [id*=sharedaddy]").reverse) {
      if (dom.parent(node) != -1 && dom.tag(node) != "figure") {
        val identity = sTrim((dom.className(node) + " " + dom.idAttr(node)).toLowerCase)
        if (tokenRe.matcher(identity).find()) {
          val textLen = textLength(dom, node)
          if (textLen <= 1500 && Select.select(dom, node, "p").length <= 3)
            dom.remove(node)
        }
      }
    }
  }

  /** `SubstackInlineButtonCTARule`: drop inline "Share" button paragraphs. */
  private def substackInlineButtonCta(articleContent: Int, ctx: Ctx): Unit = {
    val dom = ctx.dom
    val ps = Select.select(dom, articleContent, "p[data-component-name=ButtonCreateButton]")
    var i = ps.length - 1
    while (i >= 0) {
      val p = ps(i)
      if (dom.parent(p) != -1 && isSubstackShareButton(dom, p) &&
          hasSubstackContext(dom, p, articleContent))
        dom.remove(p)
      i -= 1
    }
  }

  private def isSubstackShareButton(dom: Dom, el: Int): Boolean = {
    if (sTrim(innerText(dom, el)) != "Share") return false
    // data-attrs JSON payload
    val raw = Option(dom.attr(el, "data-attrs")).getOrElse("")
    val payloadOk = Json.parse(raw) match {
      case Some(m: Map[_, _]) =>
        val mm = m.asInstanceOf[Map[String, Any]]
        val text = mm.get("text").collect { case s: String => s }.getOrElse("")
        val url = mm.get("url").collect { case s: String => s }.getOrElse("")
        val action = mm.get("action").collect { case s: String => s }.getOrElse("")
        text == "Share" && (url.contains("action=share") ||
          url.contains("utm_content=share") || action == "share")
      case _ => false
    }
    if (payloadOk) return true
    val a = Select.selectFirst(dom, el, "a")
    if (a == -1) return false
    val href = Option(dom.attr(a, "href")).getOrElse("")
    href.contains("action=share") || href.contains("utm_content=share")
  }

  private def hasSubstackContext(dom: Dom, el: Int, articleContent: Int): Boolean = {
    // whole-document root (the body tree and the detached article both count)
    var root = articleContent
    while (dom.parent(root) != -1) root = dom.parent(root)
    if (Select.selectFirst(dom, root, "article.newsletter-post.post") != -1) return true
    var cursor = dom.parent(el)
    while (cursor != -1) {
      if (dom.kind(cursor) == Dom.Element) {
        val cls = dom.className(cursor).toLowerCase
        if (cls.contains("body") && cls.contains("markup")) return true
      }
      cursor = dom.parent(cursor)
    }
    false
  }

  // ------------------------------------------------- cleaner postProcess

  /** `.postProcess` phase of `articleCleanerRules` (`SiteRuleRegistry
    * .swift:278-300`) — ported tier so far; order preserved.
    */
  def applyPostProcessRules(articleContent: Int, ctx: Ctx): Unit = {
    nyTimesCollectionHighlights(articleContent, ctx)
    nyTimesSpanishCardSummary(articleContent, ctx)
    nyTimesPhotoViewerWrapper(articleContent, ctx)
    engadgetBuyLink(articleContent, ctx)
    engadgetBreakoutType(articleContent, ctx)
    engadgetReviewSummaryWrapper(articleContent, ctx)
    yahooStoryContainer(articleContent, ctx)
    cityLabPromoSummarySection(articleContent, ctx)
    theVergeZoomWrapperAccessibility(articleContent, ctx)
    liberationArticleBodyWrapper(articleContent, ctx)
    dFarqShareAuthorTail(articleContent, ctx)
    substackTwitterEmbed(articleContent, ctx)
    xeiasoCleanerApply(articleContent, ctx)
    wordPressPrevNextNavigation(articleContent, ctx)
    johnDCookRelatedPosts(articleContent, ctx)
    mercurialExampleSection(articleContent, ctx)
    simonWillisonRecentArticles(articleContent, ctx)
    tomRennerTagList(articleContent, ctx)
    wikipediaHermitianListPrune(articleContent, ctx)
    ebbPreviousLink(articleContent, ctx)
    xkcdComicChromeCleanup(articleContent, ctx)
  }

  /** `EngadgetBuyLinkRule`. */
  private def engadgetBuyLink(articleContent: Int, ctx: Ctx): Unit =
    Select.select(ctx.dom, articleContent, "a[href*=/buylink/]").reverse
      .foreach(ctx.dom.remove)

  /** `EngadgetBreakoutTypeRule`: tag hero figure wrappers. */
  private def engadgetBreakoutType(articleContent: Int, ctx: Ctx): Unit = {
    val dom = ctx.dom
    if (Select.selectFirst(dom, articleContent,
        "[data-engadget-slideshow-id], [data-eng-bang]") == -1) return
    for (wrapper <- Select.select(dom, articleContent, "div")) {
      if (!dom.hasAttr(wrapper, "data-engadget-breakout-type")) {
        val kids = dom.childElements(wrapper)
        if (kids.length == 1 && dom.tag(kids(0)) == "figure" &&
            Select.selectFirst(dom, kids(0), "img") != -1 &&
            Select.selectFirst(dom, kids(0), "figcaption") == -1)
          dom.setAttr(wrapper, "data-engadget-breakout-type", "e2ehero")
      }
    }
  }

  /** `EngadgetReviewSummaryWrapperRule`: wrap the "As promised" summary
    * paragraph following the rating block.
    */
  private def engadgetReviewSummaryWrapper(articleContent: Int, ctx: Ctx): Unit = {
    val dom = ctx.dom
    var done = false
    for (paragraph <- Select.select(dom, articleContent, "div > p") if !done) {
      if (dom.parent(paragraph) != -1) {
        val previous = prevElemSib(dom, paragraph)
        if (previous != -1 && dom.tag(previous) == "div" &&
            Select.select(dom, previous, "ul").length >= 2) {
          val previousPrevious = prevElemSib(dom, previous)
          if (previousPrevious != -1) {
            val leadIn = sTrim(innerText(dom, paragraph)).toLowerCase
            val ratingText = innerText(dom, previousPrevious).toLowerCase
            if (leadIn.startsWith("as promised") && ratingText.contains("from") &&
                ratingText.contains("$")) {
              val wrapper = dom.newElement("div")
              dom.replaceWith(paragraph, wrapper)
              dom.appendChild(wrapper, paragraph)
              done = true
            }
          }
        }
      }
    }
  }

  /** `MercurialExampleSectionRule`. */
  private def mercurialExampleSection(articleContent: Int, ctx: Ctx): Unit = {
    val dom = ctx.dom
    if (Select.selectFirst(dom, articleContent, "#evolve-shared-mutable-history") == -1) return
    Select.select(dom, articleContent, "#example-1-amend-a-shared-changeset")
      .foreach(dom.remove)
  }

  /** `WikipediaHermitianListPruneRule`. */
  private def wikipediaHermitianListPrune(articleContent: Int, ctx: Ctx): Unit = {
    val dom = ctx.dom
    // text gate: all three phrases contain the needle, so the lowercased
    // article text is built only when the folded stream has it
    if (!foldedText(dom, articleContent).contains(HermitianGate)) return
    val wholeText = innerText(dom, articleContent).toLowerCase
    if (!(wholeText.contains("hermitian matrix") &&
        wholeText.contains("the hermitian complex") &&
        wholeText.contains("if n orthonormal eigenvectors"))) return
    for (item <- Select.select(dom, articleContent, "li")) {
      val text = sTrim(innerText(dom, item)).toLowerCase
      if (text.startsWith("for an arbitrary complex valued vector") ||
          text.startsWith("if n orthonormal eigenvectors"))
        dom.remove(item)
    }
    for (list <- Select.select(dom, articleContent, "ul").reverse)
      if (dom.parent(list) != -1 && dom.childElements(list).isEmpty) dom.remove(list)
  }

  /** `EbbPreviousLinkRule`. */
  private def ebbPreviousLink(articleContent: Int, ctx: Ctx): Unit = {
    val dom = ctx.dom
    for (container <- Select.select(dom, articleContent, "div#prevlink").reverse) {
      if (dom.parent(container) != -1) {
        val link = Select.selectFirst(dom, container, "a")
        if (link != -1 && innerText(dom, link).toLowerCase.contains("previous"))
          dom.remove(container)
      }
    }
  }

  /** `NYTimesCollectionHighlightsRule`: normalize the highlights container
    * to the Mozilla shape (retag to div, unwrap the inner h2+ol wrapper,
    * drop trailing div>ol siblings and the first card's summary panel).
    */
  private def nyTimesCollectionHighlights(articleContent: Int, ctx: Ctx): Unit = {
    val dom = ctx.dom
    for (section <- Select.select(dom, articleContent, "section#collection-highlights-container"))
      dom.tag(section) = "div"
    for (container <- Select.select(dom, articleContent, "div#collection-highlights-container")) {
      val kids = dom.childElements(container)
      if (kids.nonEmpty && dom.tag(kids(0)) == "div") {
        val inner = dom.childElements(kids(0))
        if (inner.length >= 2 && dom.tag(inner(0)) == "h2" && dom.tag(inner(1)) == "ol")
          dom.unwrap(kids(0))
      }
    }
    for (container <- Select.select(dom, articleContent, "div#collection-highlights-container")) {
      val children = dom.childElements(container)
      for (child <- children.drop(2) if dom.tag(child) == "div") {
        val inner = dom.childElements(child)
        if (inner.length == 1 && dom.tag(inner(0)) == "ol") dom.remove(child)
      }
      val firstItem = Select.selectFirst(dom, container, "> ol > li")
      if (firstItem != -1) {
        val article = Select.selectFirst(dom, firstItem, "> article")
        if (article != -1) {
          val ac = dom.childElements(article)
          if (ac.length == 2 && dom.tag(ac(0)) == "figure" && dom.tag(ac(1)) == "div") {
            val summary = ac(1)
            if (Select.selectFirst(dom, summary, "h2") != -1 &&
                Select.selectFirst(dom, summary, "h3") == -1 &&
                Select.select(dom, summary, "p").length >= 2)
              dom.remove(summary)
          }
        }
      }
    }
  }

  /** `NYTimesSpanishCardSummaryRule`: per-section card summary panels,
    * with the fixture's keep-indices per section title.
    */
  private def nyTimesSpanishCardSummary(articleContent: Int, ctx: Ctx): Unit = {
    val dom = ctx.dom
    for (section <- Select.select(dom, articleContent, "section")) {
      val h2 = Select.selectFirst(dom, section, "> header h2")
      val title = if (h2 == -1) ""
        else sTrim(innerText(dom, h2)).toLowerCase
      if (title.nonEmpty) {
        val keepIdx: Option[Set[Int]] =
          if (title.contains("opinión")) Some(Set.empty)
          else if (title.contains("especial")) Some(Set(0))
          else if (title.contains("el brote de coronavirus")) Some(Set(1))
          else if (title.contains("estados unidos")) Some(Set(4))
          else None
        keepIdx.foreach { keep =>
          val list = Select.selectFirst(dom, section, "> ol")
          if (list != -1) {
            val isOpinion = title.contains("opinión")
            val items =
              if (isOpinion) Select.select(dom, list, "li")
              else Select.select(dom, list, "> li")
            for ((item, index) <- items.zipWithIndex) {
              val shouldKeep = !isOpinion && keep.contains(index)
              if (!shouldKeep) {
                val article = Select.selectFirst(dom, item, "> article")
                if (article != -1 && Select.selectFirst(dom, article, "> figure") != -1) {
                  for (summary <- Select.select(dom, article, "> div")) {
                    if (Select.selectFirst(dom, summary, "h2 > a") != -1 &&
                        Select.selectFirst(dom, summary, "h3") == -1 &&
                        Select.select(dom, summary, "p").nonEmpty)
                      dom.remove(summary)
                  }
                }
              }
            }
          }
        }
      }
    }
  }

  /** `NYTimesPhotoViewerWrapperRule`: unwrap photoviewer children. */
  private def nyTimesPhotoViewerWrapper(articleContent: Int, ctx: Ctx): Unit = {
    val dom = ctx.dom
    Select.select(dom, articleContent,
      "div[data-testid=photoviewer-wrapper] > div[data-testid=photoviewer-children]")
      .foreach(inner => if (dom.parent(inner) != -1) dom.unwrap(inner))
  }

  /** `YahooStoryContainerRule`: retag the story section to an Article div,
    * strip book chrome, unwrap book/body wrappers, drop provider credit.
    */
  private def yahooStoryContainer(articleContent: Int, ctx: Ctx): Unit = {
    val dom = ctx.dom
    for (section <- Select.select(dom, articleContent, "section#mediacontentstory")) {
      dom.tag(section) = "div"
      if (Option(dom.attr(section, "itemscope")).getOrElse("").isEmpty)
        dom.setAttr(section, "itemscope", "")
      if (Option(dom.attr(section, "itemtype")).getOrElse("").isEmpty)
        dom.setAttr(section, "itemtype", "https://schema.org/Article")
    }
    for (story <- Select.select(dom, articleContent,
        "div#mediacontentstory, div[itemtype=https://schema.org/Article]")) {
      Select.select(dom, story, "div.book > header").foreach(dom.remove)
      Select.select(dom, story, "div.book > div.credit-bar").foreach(dom.remove)
      Select.select(dom, story, "div.book > div.cover-wrap").foreach(dom.remove)
      for (wrapper <- Select.select(dom, story, "div.book > div.body, div.book"))
        if (dom.parent(wrapper) != -1) dom.unwrap(wrapper)
      for (child <- dom.childElements(story) if dom.tag(child) == "div") {
        val hasProviderLink = Select.selectFirst(dom, child,
          "a[data-ylk*=ltxt:GoodMorningAmeri], span.provider-name") != -1
        val hasSchemaMeta = Select.selectFirst(dom, child, "meta[itemprop]") != -1
        if (hasProviderLink && !hasSchemaMeta) dom.remove(child)
      }
    }
  }

  /** `CityLabPromoSummarySectionRule`: restore the newsletter promo
    * section Mozilla keeps inside article-section-4.
    */
  private def cityLabPromoSummarySection(articleContent: Int, ctx: Ctx): Unit = {
    val dom = ctx.dom
    val isCityLab =
      Select.selectFirst(dom, articleContent, "meta[property=og:site_name][content=CityLab]") != -1 ||
        Select.selectFirst(dom, articleContent,
          "meta[itemprop=mainEntityOfPage][content*=citylab.com]") != -1
    if (!isCityLab) return
    val section = Select.selectFirst(dom, articleContent, "section#article-section-4")
    if (section == -1) return
    if (Select.selectFirst(dom, section, "section label[for*=promo-email]") != -1) return
    val paragraphs = Select.select(dom, section, "> p")
    if (paragraphs.length < 2) return
    val injected = dom.newElement("section")
    val heading = dom.newElement("h2")
    dom.appendChild(heading, dom.newText("Cities are changing fast. Keep up with the "))
    val b = dom.newElement("b")
    dom.appendChild(b, dom.newText("CityLab Daily"))
    dom.appendChild(heading, b)
    dom.appendChild(heading, dom.newText(" newsletter."))
    dom.appendChild(injected, heading)
    val label = dom.newElement("label")
    dom.setAttr(label, "for", "promo-email-input-email")
    dom.appendChild(label, dom.newText("The best way to follow issues you care about."))
    dom.appendChild(injected, label)
    dom.insertBefore(paragraphs(1), injected)
  }

  /** `TheVergeZoomWrapperAccessibilityRule`: re-apply zoom-button ARIA
    * attributes to figure wrappers, dedupe duplicated zoom wrappers, and
    * collapse redundant outer wrappers.
    */
  private def theVergeZoomWrapperAccessibility(articleContent: Int, ctx: Ctx): Unit = {
    val dom = ctx.dom
    for (wrapper <- Select.select(dom, articleContent, "div").reverse) {
      if (!dom.hasAttr(wrapper, "role")) {
        val kids = dom.childElements(wrapper)
        if (kids.length == 1 && dom.tag(kids(0)) == "figure" &&
            Select.selectFirst(dom, kids(0), "img") != -1 &&
            Select.selectFirst(dom, kids(0), "img[data-nimg]") != -1) {
          dom.setAttr(wrapper, "role", "button")
          dom.setAttr(wrapper, "aria-label", "Zoom")
          dom.setAttr(wrapper, "tabindex", "0")
        }
      }
    }
    for (parent <- Select.select(dom, articleContent, "div").reverse) {
      val zoomChildren = dom.childElements(parent).filter { c =>
        dom.tag(c) == "div" &&
          Option(dom.attr(c, "role")).getOrElse("").equalsIgnoreCase("button") &&
          Option(dom.attr(c, "aria-label")).getOrElse("").equalsIgnoreCase("zoom")
      }
      if (zoomChildren.length >= 2) {
        val seen = scala.collection.mutable.Set.empty[String]
        for (child <- zoomChildren) {
          val img = Select.selectFirst(dom, child, "img")
          val sig = if (img == -1) "" else Option(dom.attr(img, "src")).getOrElse("")
          if (sig.nonEmpty) {
            if (seen.contains(sig)) dom.remove(child) else seen += sig
          }
        }
      }
    }
    for (container <- Select.select(dom, articleContent, "div").reverse) {
      if (dom.parent(container) != -1) {
        val kids = dom.childElements(container)
        if (kids.length == 1 && dom.tag(kids(0)) == "div" &&
            Option(dom.attr(kids(0), "role")).getOrElse("").equalsIgnoreCase("button") &&
            Option(dom.attr(kids(0), "aria-label")).getOrElse("").equalsIgnoreCase("zoom")) {
          var hasDirectText = false
          var c = dom.firstChild(container)
          while (c != -1 && !hasDirectText) {
            if (dom.kind(c) == Dom.Text && sTrim(dom.text(c)).nonEmpty) hasDirectText = true
            c = dom.nextSib(c)
          }
          if (!hasDirectText) dom.replaceWith(container, kids(0))
        }
      }
    }
  }

  /** `LiberationArticleBodyWrapperRule`: unwrap multi-paragraph body
    * wrapper divs.
    */
  private def liberationArticleBodyWrapper(articleContent: Int, ctx: Ctx): Unit = {
    val dom = ctx.dom
    for (wrapper <- Select.select(dom, articleContent,
        "section#news-article article #article-body > div")) {
      if (dom.parent(wrapper) != -1 && Select.select(dom, wrapper, "p").length >= 2)
        dom.unwrap(wrapper)
    }
  }

  /** `SubstackTwitterEmbedRule`: normalize Substack tweet-card anchors to
    * blockquote{p(text), p(img)*, p(a(attribution))} built from the
    * data-attrs JSON payload.
    */
  private def substackTwitterEmbed(articleContent: Int, ctx: Ctx): Unit = {
    val dom = ctx.dom
    def nonEmpty(s: Option[String]): Option[String] = s.map(sTrim).filter(_.nonEmpty)
    for (anchor <- Select.select(dom, articleContent,
        "a[data-component-name=Twitter2ToDOM][href*=x.com/]").reverse) {
      if (dom.parent(anchor) != -1) {
        // payload from `> div[data-attrs]`
        val payloadEl = Select.selectFirst(dom, anchor, "> div[data-attrs]")
        val payload: Map[String, Any] =
          if (payloadEl == -1) Map.empty
          else Json.parse(Option(dom.attr(payloadEl, "data-attrs")).getOrElse("")) match {
            case Some(m: Map[_, _]) => m.asInstanceOf[Map[String, Any]]
            case _ => Map.empty
          }
        def str(k: String): Option[String] = payload.get(k) match {
          case Some(s: String) => Some(s)
          case _ => None
        }
        val rawText = nonEmpty(str("full_text")).getOrElse {
          val ps = Select.select(dom, anchor, "> div > p")
          if (ps.length >= 2) sTrim(innerText(dom, ps(1))) else ""
        }
        // tweet text may itself contain entities/markup: parse + re-text
        val normalizedText =
          if (rawText.isEmpty) ""
          else sTrim(innerText(graft.html.Parser.parse("<body>" + rawText + "</body>"),
            graft.html.Parser.parse("<body>" + rawText + "</body>").bodyEl)
            .replaceAll("\\s+", " "))
        val photos: Seq[String] = payload.get("photos") match {
          case Some(list: Seq[_]) => list.flatMap {
            case m: Map[_, _] => m.asInstanceOf[Map[String, Any]].get("img_url") match {
              case Some(u: String) if sTrim(u).nonEmpty => Some(u)
              case _ => None
            }
            case _ => None
          }
          case _ => Nil
        }
        val href = nonEmpty(Option(dom.attr(anchor, "href"))).orElse(nonEmpty(str("url")))
        val displayName = nonEmpty(str("name"))
        val username = nonEmpty(str("username"))
        val dateText = nonEmpty(str("date")).flatMap(formatTweetDate)
        if (normalizedText.nonEmpty || photos.nonEmpty || href.nonEmpty) {
          val blockquote = dom.newElement("blockquote")
          href.foreach(h => dom.setAttr(blockquote, "cite", h))
          if (normalizedText.nonEmpty) {
            val p = dom.newElement("p")
            dom.appendChild(p, dom.newText(normalizedText))
            dom.appendChild(blockquote, p)
          }
          for (imageUrl <- photos) {
            val p = dom.newElement("p")
            val img = dom.newElement("img")
            dom.setAttr(img, "src", imageUrl)
            dom.appendChild(p, img)
            dom.appendChild(blockquote, p)
          }
          val attribution = {
            val who = (displayName, username) match {
              case (Some(d), Some(u)) => Some(s"$d (@$u) on X")
              case (None, Some(u)) => Some(s"@$u on X")
              case (Some(d), None) => Some(s"$d on X")
              case _ => None
            }
            (who.toSeq ++ dateText.toSeq).mkString(", ")
          }
          if (attribution.nonEmpty) {
            val p = dom.newElement("p")
            href match {
              case Some(h) =>
                val link = dom.newElement("a")
                dom.setAttr(link, "href", h)
                dom.appendChild(link, dom.newText(attribution))
                dom.appendChild(p, link)
              case None =>
                dom.appendChild(p, dom.newText(attribution))
            }
            dom.appendChild(blockquote, p)
          }
          dom.replaceWith(anchor, blockquote)
        }
      }
    }
  }

  /** ISO-8601 (with or without fractional seconds) → "MMM d, yyyy" UTC. */
  private def formatTweetDate(raw: String): Option[String] = {
    try {
      val instant = java.time.OffsetDateTime.parse(raw).toInstant
      val fmt = java.time.format.DateTimeFormatter.ofPattern("MMM d, yyyy",
        java.util.Locale.US).withZone(java.time.ZoneOffset.UTC)
      Some(fmt.format(instant))
    } catch {
      case _: Exception =>
        try {
          val instant = java.time.Instant.parse(raw)
          val fmt = java.time.format.DateTimeFormatter.ofPattern("MMM d, yyyy",
            java.util.Locale.US).withZone(java.time.ZoneOffset.UTC)
          Some(fmt.format(instant))
        } catch { case _: Exception => None }
    }
  }

  /** `DFarqShareAuthorTailRule`: drop share block + trailing
    * disqus/comment/author-bio tail nodes.
    */
  private def dFarqShareAuthorTail(articleContent: Int, ctx: Ctx): Unit = {
    val dom = ctx.dom
    val shares = Select.select(dom, articleContent, "div[data-services][data-backendurl*=share_counts]")
    var i = shares.length - 1
    while (i >= 0) {
      val share = shares(i)
      if (dom.parent(share) != -1 &&
          normText(dom, share).contains("if you found this post informative or helpful, please share it!")) {
        var cursor = nextElemSib(dom, share)
        var done = false
        while (cursor != -1 && !done) {
          val next = nextElemSib(dom, cursor)
          val itemprop = Option(dom.attr(cursor, "itemprop")).getOrElse("").toLowerCase
          val itemtype = Option(dom.attr(cursor, "itemtype")).getOrElse("").toLowerCase
          val identity = (dom.className(cursor) + " " + dom.idAttr(cursor)).toLowerCase
          val recognized = (itemprop == "author" && itemtype.contains("schema.org/person")) ||
            identity.contains("disqus") || identity.contains("comment") || identity.contains("respond")
          if (recognized) { dom.remove(cursor); cursor = next }
          else done = true
        }
        dom.remove(share)
      }
      i -= 1
    }
    // trailing author bio
    val bios = Select.select(dom, articleContent, "div[itemprop=author][itemtype*=schema.org/Person]")
    i = bios.length - 1
    var stop = false
    while (i >= 0 && !stop) {
      val node = bios(i)
      if (dom.parent(node) != -1 && nextElemSib(dom, node) == -1 && {
        val t = normText(dom, node)
        (t.contains("david farquhar is a computer security professional") &&
          t.contains("he has written professionally about computers since 1991")) ||
          Select.select(dom, node, "img[itemprop=image]").exists { img =>
            Option(dom.attr(img, "src")).getOrElse("").toLowerCase.contains("dave_farquhar_181px")
          }
      }) dom.remove(node)
      else stop = true
      i -= 1
    }
  }

  /** The gate stream of a subtree: its text nodes in tree order, every
    * whitespace run collapsed to one space (leading runs dropped), every
    * char folded with `Character.toLowerCase(char)`. Rules whose precise
    * check builds per-element text first ask whether their needle occurs
    * here at all; the stream is built once and answers every needle with
    * `contains`. Text is concatenated across inline markup (a word split
    * by `<b>` is still found) and across block boundaries too, so a match
    * spanning two blocks is a harmless false positive: the guarded rule
    * does the precise check. The collapse matches the normalized innerText
    * those checks read, so a newline or double space inside a source
    * phrase cannot hide it from its gate.
    */
  private[algo] def foldedText(dom: Dom, root: Int): String = {
    var size = 0
    var cur = root
    while (cur != -1) {
      if (dom.kind(cur) == Dom.Text) size += dom.text(cur).length
      cur = dom.nextInTree(cur, root)
    }
    // each text node is bulk-copied to the write position and folded in
    // place: the fold never emits more chars than it reads
    val buf = new Array[Char](size)
    var n = 0
    cur = root
    while (cur != -1) {
      if (dom.kind(cur) == Dom.Text) {
        val s = dom.text(cur)
        s.getChars(0, s.length, buf, n)
        n = fold(buf, n, n + s.length, n)
      }
      cur = dom.nextInTree(cur, root)
    }
    new String(buf, 0, n)
  }

  /** Folds `buf(from until end)` into `buf` from index `out` (≤ `from`)
    * and returns the end of the fold. A whitespace run is pending exactly
    * when the fold is empty or ends in a space, since no other char folds
    * to one. The ASCII branches are exact: below 128,
    * `Character.isWhitespace` is true for \t..\r, \u001C..\u001F and the
    * space, and `Character.toLowerCase` only maps A..Z.
    */
  private def fold(buf: Array[Char], from: Int, end: Int, out0: Int): Int = {
    var out = out0
    var i = from
    while (i < end) {
      val c = buf(i)
      val ws =
        if (c < 128) c == ' ' || (c >= '\t' && c <= '\r') || (c >= '\u001C' && c <= '\u001F')
        else Character.isWhitespace(c)
      if (!ws) {
        buf(out) =
          if (c < 128) { if (c >= 'A' && c <= 'Z') (c + 32).toChar else c }
          else Character.toLowerCase(c)
        out += 1
      } else if (out > 0 && buf(out - 1) != ' ') {
        buf(out) = ' '
        out += 1
      }
      i += 1
    }
    out
  }

  /** A constant gate needle, required to be in the stream's normal form
    * (its own fold, no trailing space) so that `foldedText(…).contains`
    * cannot miss it on a case or whitespace difference.
    */
  private def gateNeedle(needle: String): String = {
    val buf = needle.toCharArray
    val folded = new String(buf, 0, fold(buf, 0, buf.length, 0))
    require(needle.nonEmpty && folded == needle && !needle.endsWith(" "),
      s"gate needle '$needle' is not in folded form")
    needle
  }

  /** Needles of the text gates in [[wikipediaHermitianListPrune]] and
    * [[wikipediaGovernmentPortraitCaption]]: every prune signature of the
    * guarded loops contains its gate's needle.
    */
  private[algo] val HermitianGate: String = gateNeedle("ermitian")
  private[algo] val CaptionGates: Seq[String] = Seq("richard seddon", "southern alps",
    "hinepare", "hobbiton", "haka performed").map(gateNeedle)
  private[algo] val AorakiGate: String = gateNeedle("aoraki / mount cook")
  private[algo] val MaoriLegendGate: String = gateNeedle("speakers of māori according")

  private def normText(dom: Dom, id: Int): String =
    sTrim(innerText(dom, id)).toLowerCase

  /** `SimonWillisonRecentArticlesRule`. */
  private def simonWillisonRecentArticles(articleContent: Int, ctx: Ctx): Unit = {
    val dom = ctx.dom
    val secondary0 = Select.selectFirst(dom, articleContent, "div#secondary")
    if (secondary0 == -1) return
    if (!normText(dom, secondary0).contains("this is a quotation collected by simon willison")) return
    val recents = Select.select(dom, articleContent, "div#primary > div")
    var i = recents.length - 1
    while (i >= 0) {
      val recent = recents(i)
      val h2 = Select.selectFirst(dom, recent, "> h2")
      if (h2 != -1 && sTrim(innerText(dom, h2)).equalsIgnoreCase("recent articles"))
        dom.remove(recent)
      i -= 1
    }
    val secondaries = Select.select(dom, articleContent, "div#secondary")
    i = secondaries.length - 1
    while (i >= 0) {
      val sec = secondaries(i)
      val summary = normText(dom, sec)
      if (summary.contains("this is a quotation collected by simon willison") ||
          Select.selectFirst(dom, sec, "a[rel=tag]") != -1)
        dom.remove(sec)
      i -= 1
    }
  }

  /** `JohnDCookRelatedPostsRule`. */
  private def johnDCookRelatedPosts(articleContent: Int, ctx: Ctx): Unit = {
    val dom = ctx.dom
    val headings = Select.select(dom, articleContent, "h2")
    var i = headings.length - 1
    while (i >= 0) {
      val heading = headings(i)
      if (dom.parent(heading) != -1 && normText(dom, heading) == "related posts" &&
          dom.kind(dom.parent(heading)) == Dom.Element && dom.tag(dom.parent(heading)) == "div") {
        val list = nextElemSib(dom, heading)
        if (list != -1 && dom.tag(list) == "ul") {
          val items = dom.childElements(list).filter(c => dom.tag(c) == "li")
          if (items.nonEmpty &&
              items.forall(li => Select.selectFirst(dom, li, "a") != -1)) {
            dom.remove(list)
            dom.remove(heading)
          }
        }
      }
      i -= 1
    }
  }

  /** `WordPressPrevNextNavigationRule`. */
  private def wordPressPrevNextNavigation(articleContent: Int, ctx: Ctx): Unit = {
    val dom = ctx.dom
    val divs = Select.select(dom, articleContent, "div")
    var i = divs.length - 1
    while (i >= 0) {
      val container = divs(i)
      if (dom.parent(container) != -1 &&
          Select.selectFirst(dom, container, "img, picture, figure, video, iframe, object, embed, table") == -1 &&
          (Select.selectFirst(dom, container, "a[rel=prev]") != -1 ||
           Select.selectFirst(dom, container, "a[rel=next]") != -1)) {
        val t = normText(dom, container)
        if ((t.contains("previous post:") || t.contains("next post:")) &&
            Config.charLen(t) <= 500)
          dom.remove(container)
      }
      i -= 1
    }
  }

  /** `TomRennerTagListRule`: trailing all-tag-link lists. */
  private def tomRennerTagList(articleContent: Int, ctx: Ctx): Unit = {
    val dom = ctx.dom
    val uls = Select.select(dom, articleContent, "ul")
    var i = uls.length - 1
    while (i >= 0) {
      val ul = uls(i)
      if (dom.parent(ul) != -1 && nextElemSib(dom, ul) == -1) {
        val items = dom.childElements(ul)
        if (items.nonEmpty && items.forall(c => dom.tag(c) == "li")) {
          val allTagLinks = items.forall { li =>
            val links = Select.select(dom, li, "a")
            links.length == 1 && {
              val href = Option(dom.attr(links(0), "href")).getOrElse("")
              href.contains("/tags/") &&
                sTrim(innerText(dom, li)) == sTrim(innerText(dom, links(0)))
            }
          }
          if (allTagLinks) dom.remove(ul)
        }
      }
      i -= 1
    }
  }

  // -------------------------------------------------------- serialization

  /** `SiteRuleRegistry.applySerializationRules` (`:38-61`) — registry
    * order preserved; unported rules are noted for later tiers.
    */
  def applySerializationRules(articleContent: Int, ctx: Ctx): Unit = {
    // AntirezProsePreRule, OneA23GalleryWrapperRule, MksiteLeadImageFigureRule: later tier
    telegraphCaptionOnlyFigure(articleContent, ctx)
    wikipediaGovernmentPortraitCaption(articleContent, ctx)
    antirezProsePre(articleContent, ctx)
    mksiteLeadImageFigure(articleContent, ctx)
    cityLabHeadlineTimestamp(articleContent, ctx)
    buzzFeedLeadImageSuperlist(articleContent, ctx)
    arsIntroHeaderWrapper(articleContent, ctx)
    wikipediaMathDisplayBlock(articleContent, ctx)
    eHowFoundHelpfulHeader(articleContent, ctx)
    // QQVoteContainerRule: later tier
    qqVoteContainer(articleContent, ctx)
    breitbartHeaderMedia(articleContent, ctx)
    quantaTopReactId(articleContent, ctx)
    // HukumusumeLegacyFileURLRule (generic in Urls)
    firefoxNightlyHeaderPlaceholder(articleContent, ctx)
    oneA23GalleryWrapper(articleContent, ctx)
    xkcdComicImageSource(articleContent, ctx)
    xeiasoDialogues(articleContent, ctx)
  }

  /** `AntirezProsePreRule` (serialization): tag a lone non-code <pre>
    * article body as markdown prose for downstream renderers.
    */
  private def antirezProsePre(articleContent: Int, ctx: Ctx): Unit = {
    val dom = ctx.dom
    val articles = {
      val buf = ArrayBuffer.empty[Int]
      if (dom.kind(articleContent) == Dom.Element && dom.tag(articleContent) == "article" &&
          dom.hasAttr(articleContent, "data-comment-id") && dom.idAttr(articleContent).nonEmpty)
        buf += articleContent
      buf ++= Select.select(dom, articleContent, "article[data-comment-id][id]")
        .filterNot(buf.contains)
      buf
    }
    for (article <- articles) {
      val commentId = Option(dom.attr(article, "data-comment-id")).getOrElse("").trim
      val articleId = dom.idAttr(article).trim
      if (commentId.nonEmpty && commentId == articleId && commentId.endsWith("-")) {
        val topLevel = dom.childElements(article)
        if (topLevel.length == 1 && dom.tag(topLevel(0)) == "pre") {
          val pre = topLevel(0)
          if (Select.selectFirst(dom, pre, "code") == -1 &&
              sTrim(dom.textContent(pre)).nonEmpty)
            dom.setAttr(pre, "data-readability-pre-type", "markdown")
        }
      }
    }
  }

  /** `MksiteLeadImageFigureRule` (serialization): rebuild leading
    * img+center(a) pair into figure{img, figcaption{a}} with merged
    * styles.
    */
  private def mksiteLeadImageFigure(articleContent: Int, ctx: Ctx): Unit = {
    val dom = ctx.dom
    val page = Select.selectFirst(dom, articleContent, "div#readability-page-1.page")
    if (page == -1) return
    val children = dom.childElements(page)
    if (children.length < 2) return
    val first = children(0)
    val second = children(1)
    if (dom.tag(first) != "img" || dom.tag(second) != "center") return
    val captionChildren = dom.childElements(second)
    if (captionChildren.length != 1 || dom.tag(captionChildren(0)) != "a") return
    val link = captionChildren(0)
    // generator gate: only when no generator meta exists or one is mksite
    val generators = Select.select(dom, dom.document, "meta[name=generator]")
    if (generators.nonEmpty && !generators.exists(m =>
        Option(dom.attr(m, "content")).getOrElse("").toLowerCase.contains("mksite")))
      return
    def mergedStyle(existing: String, additions: Seq[(String, String)]): String = {
      val orderedKeys = scala.collection.mutable.ArrayBuffer.empty[String]
      val styles = scala.collection.mutable.Map.empty[String, String]
      for (part <- existing.split(";")) {
        val pieces = part.split(":", 2).map(sTrim)
        if (pieces.length == 2) {
          val key = pieces(0).toLowerCase
          if (!orderedKeys.contains(key)) orderedKeys += key
          styles(key) = pieces(1)
        }
      }
      for ((k, v) <- additions) {
        val key = k.toLowerCase
        if (!orderedKeys.contains(key)) orderedKeys += key
        styles(key) = v
      }
      orderedKeys.flatMap(k => styles.get(k).filter(_.nonEmpty).map(v => s"$k: $v"))
        .mkString("; ")
    }
    val figure = dom.newElement("figure")
    val figcaption = dom.newElement("figcaption")
    dom.detach(first)
    dom.detach(second)
    val imageStyle = mergedStyle(Option(dom.attr(first, "style")).getOrElse(""),
      Seq("display" -> "block", "width" -> "100%", "height" -> "auto"))
    if (imageStyle.nonEmpty) dom.setAttr(first, "style", imageStyle)
    val captionStyle = mergedStyle("", Seq("text-align" -> "center"))
    if (captionStyle.nonEmpty) dom.setAttr(figcaption, "style", captionStyle)
    dom.appendChild(figcaption, link)
    dom.appendChild(figure, first)
    dom.appendChild(figure, figcaption)
    dom.prependChild(page, figure)
  }

  /** `BuzzFeedLeadImageSuperlistRule` (serialization): strip lead-image
    * blocks from superlist items and normalize source attribution to
    * p>span.
    */
  private def buzzFeedLeadImageSuperlist(articleContent: Int, ctx: Ctx): Unit = {
    val dom = ctx.dom
    def hasBuzzFeedImage(el: Int): Boolean =
      Select.select(dom, el, "img").exists(dom.hasAttr(_, "rel:bf_image_src"))
    for (item <- Select.select(dom, articleContent, "div[id^=superlist_]").reverse) {
      if (dom.parent(item) != -1) {
        val children = dom.childElements(item)
        val hasLeadHeading = children.exists(dom.tag(_) == "h2")
        val hasLeadImageBlock = children.exists(c => dom.tag(c) == "div" && hasBuzzFeedImage(c))
        if (hasLeadHeading && hasLeadImageBlock) {
          for (block <- children.reverse if dom.tag(block) == "div" && hasBuzzFeedImage(block))
            dom.remove(block)
          val source = Select.selectFirst(dom, item,
            "p.article_caption_w_attr .sub_buzz_source_via")
          if (source != -1) {
            val sourceText = sTrim(innerText(dom, source))
            if (sourceText.nonEmpty) {
              val normalizedP = dom.newElement("p")
              val span = dom.newElement("span")
              dom.appendChild(span, dom.newText(sourceText))
              dom.appendChild(normalizedP, span)
              val caption = Select.selectFirst(dom, item, "p.article_caption_w_attr")
              if (caption != -1) dom.replaceWith(caption, normalizedP)
              else dom.appendChild(item, normalizedP)
            }
          }
        }
      }
    }
    for (item <- Select.select(dom, articleContent, "div").reverse) {
      if (dom.parent(item) != -1 &&
          Select.selectFirst(dom, item, "img, picture") != -1 &&
          Select.selectFirst(dom, item, "h1, h2, h3, h4, h5, h6") == -1) {
        val hasSuperlistClass = dom.className(item).contains("buzz_superlist_item_image")
        val hasCaptionSource = Select.selectFirst(dom, item,
          ".article_caption_w_attr .sub_buzz_source_via") != -1
        val hasViewImageLink = Select.selectFirst(dom, item, "p.print a") != -1
        val hasBuzzImage = hasBuzzFeedImage(item)
        if (hasSuperlistClass || (hasCaptionSource && hasViewImageLink) ||
            (hasBuzzImage && hasViewImageLink) || (hasBuzzImage && hasCaptionSource)) {
          val source = Select.selectFirst(dom, item,
            ".article_caption_w_attr .sub_buzz_source_via")
          val text = if (source == -1) "" else sTrim(innerText(dom, source))
          if (text.nonEmpty) {
            val p = dom.newElement("p")
            val span = dom.newElement("span")
            dom.appendChild(span, dom.newText(text))
            dom.appendChild(p, span)
            dom.replaceWith(item, p)
          } else dom.remove(item)
        }
      }
    }
  }

  /** `WikipediaMathDisplayBlockRule` (serialization): wrap image-only
    * display-formula paragraphs in a div.
    */
  private def wikipediaMathDisplayBlock(articleContent: Int, ctx: Ctx): Unit = {
    val dom = ctx.dom
    if (Select.select(dom, articleContent, "a[href*=/wiki/]").length < 20) return
    for (paragraph <- Select.select(dom, articleContent, "p")) {
      val parent = dom.parent(paragraph)
      if (parent != -1) {
        val directMathImages = Select.select(dom, paragraph, "img[src*=/media/math/render/]")
          .count(dom.parent(_) == paragraph)
        val hasOtherElement = dom.childElements(paragraph).exists(dom.tag(_) != "img")
        val text = sTrim(innerText(dom, paragraph))
        if (directMathImages == 1 && !hasOtherElement && text.isEmpty) {
          val parentIsBareWrapper =
            dom.kind(parent) == Dom.Element && dom.tag(parent) == "div" &&
              dom.childElements(parent).length == 1 &&
              dom.idAttr(parent).isEmpty && dom.className(parent).isEmpty &&
              (dom.attrs(parent) == null || dom.attrs(parent).isEmpty)
          if (!parentIsBareWrapper) {
            val wrapper = dom.newElement("div")
            dom.replaceWith(paragraph, wrapper)
            dom.appendChild(wrapper, paragraph)
          }
        }
      }
    }
  }

  /** `QQVoteContainerRule` (serialization): tag the vote container div. */
  private def qqVoteContainer(articleContent: Int, ctx: Ctx): Unit = {
    val dom = ctx.dom
    for (marker <- Select.select(dom, articleContent, "span#test")) {
      val paragraph = dom.parent(marker)
      if (paragraph != -1 && dom.kind(paragraph) == Dom.Element && dom.tag(paragraph) == "p") {
        val container = dom.parent(paragraph)
        if (container != -1 && dom.kind(container) == Dom.Element &&
            dom.tag(container) == "div" && dom.idAttr(container).isEmpty)
          dom.setAttr(container, "id", "vote")
      }
    }
  }

  /** `FirefoxNightlyHeaderPlaceholderRule` (serialization): re-insert the
    * empty header shell the reference keeps at the top of Nightly posts.
    */
  private def firefoxNightlyHeaderPlaceholder(articleContent: Int, ctx: Ctx): Unit = {
    val dom = ctx.dom
    for (article <- Select.select(dom, articleContent,
        "div#content > div > article[id^=post-]")) {
      if (Select.selectFirst(dom, article,
          "a[href*=bugzilla.mozilla.org], a[href*=blog.nightly.mozilla.org]") != -1 &&
          Select.selectFirst(dom, article, "> header") == -1) {
        val header = dom.newElement("header")
        val first = dom.firstChild(article)
        if (first != -1) dom.insertBefore(first, header)
        else dom.appendChild(article, header)
      }
    }
  }

  /** `CityLabHeadlineTimestampRule` (serialization): rebuild the headline
    * block as div{h2, div{p{span{time}}}} with the ISO datePublished
    * reformatted as "H:MM AM/PM TZ"; drop author RSS-feed lists.
    */
  private def cityLabHeadlineTimestamp(articleContent: Int, ctx: Ctx): Unit = {
    val dom = ctx.dom
    val datePublished = Select.selectFirst(dom, articleContent, "meta[itemprop=datePublished]")
    if (datePublished == -1) return
    val rawPublished = Option(dom.attr(datePublished, "content")).getOrElse("")
    val formatted = formatCityLabTime(rawPublished)

    for (wrapper <- Select.select(dom, articleContent, "p").reverse) {
      val children = dom.childElements(wrapper)
      if (children.length == 1 && dom.tag(children(0)) == "h2" &&
          Option(dom.attr(children(0), "itemprop")).getOrElse("").toLowerCase.contains("headline")) {
        val headline = children(0)
        val container = dom.newElement("div")
        dom.appendChild(container, headline)
        formatted.foreach { f =>
          val timeContainer = dom.newElement("div")
          val p = dom.newElement("p")
          val span = dom.newElement("span")
          val time = dom.newElement("time")
          dom.appendChild(time, dom.newText(f))
          dom.appendChild(span, time)
          dom.appendChild(p, span)
          dom.appendChild(timeContainer, p)
          dom.appendChild(container, timeContainer)
        }
        dom.replaceWith(wrapper, container)
      }
    }

    for (list <- Select.select(dom, articleContent, "ul").reverse) {
      val hasAuthorFeedLink = Select.select(dom, list, "a").exists { link =>
        Option(dom.attr(link, "href")).getOrElse("").toLowerCase.contains("/feeds/author/")
      }
      if (hasAuthorFeedLink) dom.remove(list)
    }
  }

  private val cityLabTimeRe =
    java.util.regex.Pattern.compile("T(\\d{2}):(\\d{2}):\\d{2}([+-]\\d{2}:\\d{2}|Z)$")

  private def formatCityLabTime(iso8601: String): Option[String] = {
    val m = cityLabTimeRe.matcher(iso8601)
    if (!m.find()) return None
    val hour = m.group(1).toInt
    val minute = m.group(2)
    val tz = m.group(3)
    val displayHour = if (hour % 12 == 0) 12 else hour % 12
    val meridiem = if (hour >= 12) "PM" else "AM"
    val tzLabel = tz match {
      case "-04:00" | "-05:00" => "ET"
      case "-07:00" | "-08:00" => "PT"
      case _ => "UTC"
    }
    Some(s"$displayHour:$minute $meridiem $tzLabel")
  }

  /** `QuantaTopReactIDRule` (serialization): normalize the segmented
    * wrapper — rename the lead segment to data-reactid=253, trim its
    * leading non-paragraph children, drop navigation segments 391/406/243.
    */
  private def quantaTopReactId(articleContent: Int, ctx: Ctx): Unit = {
    val dom = ctx.dom
    val page =
      if (dom.idAttr(articleContent) == "readability-page-1") articleContent
      else Select.selectFirst(dom, articleContent, "#readability-page-1")
    if (page == -1) return

    def reactId(n: Int): String = Option(dom.attr(n, "data-reactid")).getOrElse("")
    val segmentDivs = dom.childElements(page)
      .filter(c => dom.tag(c) == "div" && reactId(c).nonEmpty)
    if (segmentDivs.length < 3) return
    if (!segmentDivs.exists(reactId(_) == "401") || !segmentDivs.exists(reactId(_) == "417"))
      return

    val leadNeedle = "A little over half a century ago, chaos started spilling out of a famous experiment."
    val leadSegment = segmentDivs.find(s => innerText(dom, s).contains(leadNeedle)).getOrElse(-1)

    if (leadSegment != -1) {
      dom.setAttr(leadSegment, "data-reactid", "253")
      var continueLoop = true
      while (continueLoop) {
        val first = dom.childElements(leadSegment).headOption.getOrElse(-1)
        if (first == -1) continueLoop = false
        else {
          val text = sTrim(innerText(dom, first))
          if (text.contains(leadNeedle) || dom.tag(first) == "p") continueLoop = false
          else dom.remove(first)
        }
      }
    }

    for (segment <- segmentDivs) {
      val rid = reactId(segment)
      if ((rid == "391" || rid == "406" || rid == "243") && segment != leadSegment)
        dom.remove(segment)
    }

    if (leadSegment == -1)
      segmentDivs.find(reactId(_) == "243").foreach(dom.setAttr(_, "data-reactid", "253"))
  }

  /** `ArsIntroHeaderWrapperRule`: wrap intro h2/h4 + articleBody in
    * header/div structure.
    */
  private def arsIntroHeaderWrapper(articleContent: Int, ctx: Ctx): Unit = {
    val dom = ctx.dom
    val body = Select.selectFirst(dom, articleContent, "div[itemprop=articleBody]")
    if (body == -1) return
    val container = dom.parent(body)
    if (container == -1) return
    var introP = -1
    var introH2 = -1
    var introH4 = -1
    val ps = Select.select(dom, articleContent, "p")
    var i = 0
    while (i < ps.length && introP == -1) {
      val p = ps(i)
      if (dom.parent(p) == container) {
        val h2 = Select.selectFirst(dom, p, "h2[itemprop=description]")
        if (h2 != -1) {
          introP = p
          introH2 = h2
          introH4 = Select.selectFirst(dom, p, "h4")
        }
      }
      i += 1
    }
    if (introP == -1 || introH2 == -1) return
    val wrapper = dom.newElement("div")
    val header = dom.newElement("header")
    if (introH4 != -1) dom.appendChild(header, introH4)
    dom.appendChild(header, introH2)
    dom.remove(introP)
    dom.insertBefore(body, wrapper)
    dom.appendChild(wrapper, header)
    dom.appendChild(wrapper, body)
    // clear the known stray "kevin" figcaption
    val figcaps = Select.select(dom, wrapper, "figcaption")
    i = 0
    while (i < figcaps.length) {
      val fc = figcaps(i)
      val t = sTrim(innerText(dom, fc))
      if (Config.charLen(t) <= 24 && t.equalsIgnoreCase("kevin")) {
        var c = dom.firstChild(fc)
        while (c != -1) { val n = dom.nextSib(c); dom.remove(c); c = n }
      }
      i += 1
    }
    val allPs = Select.select(dom, articleContent, "p")
    i = allPs.length - 1
    while (i >= 0) {
      val p = allPs(i)
      if (dom.parent(p) != -1 && textEmpty(dom, p)) dom.remove(p)
      i -= 1
    }
  }

  /** `BreitbartHeaderMediaRule`: lift the featured figure + timestamps out
    * of the post header and flatten the article wrapper.
    */
  private def breitbartHeaderMedia(articleContent: Int, ctx: Ctx): Unit = {
    val dom = ctx.dom
    val article = Select.selectFirst(dom, articleContent, "article[id^=post-]")
    if (article == -1) return
    val header = Select.selectFirst(dom, article, "> header")
    if (header == -1) return
    val figure = Select.selectFirst(dom, header, "figure")
    if (figure == -1) return
    val entryContent = dom.childElements(article).find { child =>
      dom.tag(child) == "div" && Select.select(dom, child, "p").length >= 3
    }.getOrElse(-1)
    if (entryContent == -1) return
    val leadBlock = dom.newElement("div")
    val bodyBlock = dom.cloneSubtree(entryContent)
    val figureClone = dom.cloneSubtree(figure)
    breitbartNormalizeFigure(dom, figureClone)
    dom.appendChild(leadBlock, figureClone)
    val times = Select.select(dom, header, "time[datetime]")
    var i = 0
    while (i < times.length) {
      // the reference serializes this block pretty-printed, which separates
      // consecutive <time> texts with a newline — keep that whitespace
      dom.appendChild(leadBlock, dom.newText("\n"))
      dom.appendChild(leadBlock, dom.cloneSubtree(times(i)))
      i += 1
    }
    dom.insertBefore(article, leadBlock)
    dom.insertBefore(article, bodyBlock)
    dom.remove(article)
  }

  private def breitbartNormalizeFigure(dom: Dom, figure: Int): Unit = {
    val container = Select.selectFirst(dom, figure, "> div")
    if (container == -1) return
    val img = Select.selectFirst(dom, container, "> img")
    if (img != -1) {
      val p = dom.newElement("p")
      dom.appendChild(p, img)
      dom.prependChild(container, p)
    }
    val attribution = Select.selectFirst(dom, container, "> div.attribution")
    if (attribution != -1) {
      val text = sTrim(innerText(dom, attribution))
      val p = dom.newElement("p")
      if (text.nonEmpty) dom.appendChild(p, dom.newText(text))
      dom.replaceWith(attribution, p)
    }
  }

  /** `TelegraphCaptionOnlyFigureRule`: drop media-less caption figures and
    * the empty paragraph shells around them.
    */
  /** `WikipediaGovernmentPortraitCaptionRule` (serialization,
    * `WikipediaGovernmentPortraitCaptionRule.swift:12-197`): normalize the
    * "Government and politics" portrait pair, prune five thumb captions,
    * blank landscape-gallery list items, rebuild the Māori-language census
    * legend, and lowercase TeAra.govt.nz link hosts. Like the reference,
    * this serialization rule is NOT host-gated — its sub-steps gate on the
    * same structural/content signatures the Swift rule uses (heading
    * anchor text, caption phrase sets, li>div>div image-paragraph shape),
    * faithfully including the generic ones. Evidence: staged wikipedia-2.
    */
  private def wikipediaGovernmentPortraitCaption(articleContent: Int, ctx: Ctx): Unit = {
    val dom = ctx.dom
    def firstImgParagraph(root: Int): Int = {
      val ps = Select.select(dom, root, "p")
      var i = 0
      while (i < ps.length) {
        if (Select.selectFirst(dom, ps(i), "img") != -1) return ps(i)
        i += 1
      }
      -1
    }
    // 1. government portrait columns
    {
      val headings = Select.select(dom, articleContent, "h2")
      var heading = -1
      var i = 0
      while (heading == -1 && i < headings.length) {
        if (sTrim(innerText(dom, headings(i))).toLowerCase == "government and politics")
          heading = headings(i)
        i += 1
      }
      val container = if (heading == -1) -1 else nextElemSib(dom, heading)
      if (container != -1 && dom.tag(container) == "div") {
        val columns = dom.childElements(container).filter(c => dom.tag(c) == "div")
        if (columns.length >= 2) {
          for (column <- columns.take(2)) {
            val imgP = firstImgParagraph(column)
            if (imgP != -1 && Select.selectFirst(dom, imgP, "a") != -1 &&
                Select.select(dom, imgP, "a").exists(a => Select.selectFirst(dom, a, "img") != -1)) {
              val normalized = dom.newElement("div")
              dom.appendChild(normalized, imgP)
              dom.replaceWith(column, normalized)
            }
          }
        }
      }
    }
    // 2. thumb captions with known signatures
    def shouldPruneCaption(t: String): Boolean =
      (t.startsWith("a statue of") && t.contains("richard seddon") && t.contains("beehive") &&
        t.contains("parliament house") && t.contains("wellington")) ||
      (t.startsWith("the snow-capped") && t.contains("southern alps") &&
        t.contains("northland peninsula") && t.contains("stretches towards the subtropics")) ||
      (t.startsWith("portrait of hinepare") && t.contains("ngāti kahungunu") &&
        t.contains("gottfried lindauer") && t.contains("hei-tiki") && t.contains("woven cloak")) ||
      (t.startsWith("the hobbiton movie set") && t.contains("matamata") &&
        t.contains("the lord of the rings") && t.contains("the hobbit")) ||
      (t.startsWith("a haka performed") && t.contains("national rugby union team") &&
        t.contains("before a game") && t.contains("stamping of the feet"))
    // Text gates: the caption, Aoraki and legend loops below build text
    // per element, so each runs only when its needle occurs in the
    // article's folded text. The stream is built at the first gate (after
    // step 1) and rebuilt at a later gate only if one of steps 2-4 has
    // changed the tree since, so every gate reads exactly the stream of
    // the tree at its own position.
    var folded: String = null
    var changed = false
    def gate(needle: String): Boolean = {
      if (folded == null || changed) { folded = foldedText(dom, articleContent); changed = false }
      folded.contains(needle)
    }
    if (CaptionGates.exists(gate)) for (thumb <- Select.select(dom, articleContent, "div")) {
      if (dom.parent(thumb) != -1) {
        val kids = dom.childElements(thumb)
        if (kids.length >= 2 && dom.tag(kids(0)) == "p" && dom.tag(kids(1)) == "div" &&
            Select.selectFirst(dom, kids(0), "img") != -1 &&
            shouldPruneCaption(sTrim(innerText(dom, kids(1))).toLowerCase)) {
          dom.remove(kids(1))
          changed = true
        }
      }
    }
    if (gate(AorakiGate)) for (p <- Select.select(dom, articleContent, "p")) {
      if (dom.parent(p) != -1 &&
          sTrim(innerText(dom, p)).toLowerCase
            .startsWith("aoraki / mount cook is the highest point of new zealand")) {
        dom.remove(p)
        changed = true
      }
    }
    // 3. blank landscape-gallery list items
    for (a <- Select.select(dom, articleContent, "a")) {
      val href = Option(dom.attr(a, "href")).getOrElse("").toLowerCase
      if (href.contains("nz_landscape.jpg") || href.contains("emerald_lakes") ||
          href.contains("queenstown,_new_zealand") || href.contains("mt_tongariro")) {
        var cur = a
        while (cur != -1 && !(dom.kind(cur) == Dom.Element && dom.tag(cur) == "li"))
          cur = dom.parent(cur)
        if (cur != -1) {
          var c = dom.firstChild(cur)
          while (c != -1) { val next = dom.nextSib(c); dom.remove(c); changed = true; c = next }
        }
      }
    }
    // 4. li > div > div(p:has(img)) — replace outer's content with inner's
    for (outer <- Select.select(dom, articleContent, "li > div")) {
      if (dom.parent(outer) != -1) {
        val kids = dom.childElements(outer)
        if (kids.nonEmpty && dom.tag(kids(0)) == "div" && firstImgParagraph(kids(0)) != -1) {
          val inner = kids(0)
          var c = dom.firstChild(outer)
          while (c != -1) { val next = dom.nextSib(c); if (c != inner) dom.remove(c); c = next }
          dom.moveChildren(inner, outer)
          dom.remove(inner)
          changed = true
        }
      }
    }
    // 5. Māori-language census legend rebuild
    val legendLabels = Seq("Less than 5%", "More than 5%", "More than 10%",
      "More than 20%", "More than 30%", "More than 40%", "More than 50%")
    if (gate(MaoriLegendGate)) for (p <- Select.select(dom, articleContent, "p")) {
      if (dom.parent(p) != -1) {
        val t = innerText(dom, p).toLowerCase
        if (t.contains("speakers of māori according to the 2013 census") &&
            t.contains("less than 5%") && t.contains("more than 50%")) {
          val swatches = Select.select(dom, p, "span")
          if (swatches.length >= legendLabels.length) {
            val head = dom.newElement("p")
            dom.appendChild(head, dom.newText("Speakers of Māori according to the 2013 census"))
            val sup = Select.selectFirst(dom, p, "sup")
            if (sup != -1) dom.appendChild(head, dom.cloneSubtree(sup))
            dom.insertBefore(p, head)
            var i = 0
            while (i < legendLabels.length) {
              val row = dom.newElement("p")
              dom.appendChild(row, dom.cloneSubtree(swatches(i)))
              dom.appendChild(row, dom.newText(" " + legendLabels(i) + " "))
              dom.insertBefore(p, row)
              i += 1
            }
            dom.remove(p)
          }
        }
      }
    }
    // 6. TeAra link host normalization (case-sensitive trigger, like the
    // reference's replacingOccurrences)
    for (a <- Select.select(dom, articleContent, "a[href]")) {
      val href = Option(dom.attr(a, "href")).getOrElse("")
      if (href.contains("TeAra.govt.nz"))
        dom.setAttr(a, "href", href.replace("TeAra.govt.nz", "teara.govt.nz"))
    }
  }

  private def telegraphCaptionOnlyFigure(articleContent: Int, ctx: Ctx): Unit = {
    val dom = ctx.dom
    val figures = Select.select(dom, articleContent, "figure")
    var i = figures.length - 1
    while (i >= 0) {
      val figure = figures(i)
      if (dom.parent(figure) != -1 &&
          Select.selectFirst(dom, figure, "img, picture, video, iframe, object, embed, svg") == -1 &&
          Select.selectFirst(dom, figure, "figcaption > span[itemprop=caption]") != -1 &&
          Select.selectFirst(dom, figure, "figcaption > span[itemprop=copyrightHolder]") != -1) {
        val previous = prevElemSib(dom, figure)
        val next = nextElemSib(dom, figure)
        val parent = dom.parent(figure)
        dom.remove(figure)
        for (sib <- Seq(previous, next) if sib != -1 && dom.kind(sib) == Dom.Element &&
            dom.tag(sib) == "p") {
          val t = sTrim(innerText(dom, sib).replace('\u00A0', ' '))
          if (t.isEmpty) dom.remove(sib)
        }
        if (parent != -1 && dom.kind(parent) == Dom.Element && dom.tag(parent) == "div" &&
            isElementWithoutContent(dom, parent)) dom.remove(parent)
        for (w <- Seq(previous, next).filter(_ != -1).map(dom.parent).filter(_ != -1)
            if dom.kind(w) == Dom.Element && dom.tag(w) == "div" &&
              dom.idAttr(w).trim.isEmpty && dom.className(w).trim.isEmpty) {
          val children = dom.childElements(w)
          val allEmptyPs = children.nonEmpty && children.forall { c =>
            dom.tag(c) == "p" && sTrim(innerText(dom, c).replace('\u00A0', ' ')).isEmpty
          }
          if (allEmptyPs) dom.remove(w)
        }
      }
      i -= 1
    }
  }

  /** `EHowFoundHelpfulHeaderRule` (minus legacy-headline helper for now):
    * wrap the "found this helpful" paragraph in a div inside its header.
    */
  private def eHowFoundHelpfulHeader(articleContent: Int, ctx: Ctx): Unit = {
    val dom = ctx.dom
    val headers = Select.select(dom, articleContent, "header")
    var i = 0
    while (i < headers.length) {
      val header = headers(i)
      val children = dom.childElements(header)
      if (children.size == 1 && dom.tag(children(0)) == "p") {
        val only = children(0)
        val t = sTrim(innerText(dom, only)).toLowerCase
        if (t.contains("found this helpful")) {
          val wrapper = dom.newElement("div")
          dom.appendChild(wrapper, only)
          dom.appendChild(header, wrapper)
        }
      }
      i += 1
    }
  }

  private def prevElemSib(dom: Dom, id: Int): Int = {
    var cur = dom.prevSib(id)
    while (cur != -1) {
      if (dom.kind(cur) == Dom.Element) return cur
      cur = dom.prevSib(cur)
    }
    -1
  }

  private def nextElemSib(dom: Dom, id: Int): Int = {
    var cur = dom.nextSib(id)
    while (cur != -1) {
      if (dom.kind(cur) == Dom.Element) return cur
      cur = dom.nextSib(cur)
    }
    -1
  }

  // ------------------------------------------------------------- byline

  /** `SiteRuleRegistry.applyBylineRules` (`SiteRuleRegistry.swift:63-84`);
    * rule order matters.
    */
  def applyBylineRules(byline: Option[String], ctx: Ctx): Option[String] = {
    var cur = byline
    cur = webMdByline(cur, ctx)
    cur = quantaBylineDate(cur, ctx)
    cur = heraldSunUppercaseByline(cur, ctx)
    cur = yahooBylineTime(cur, ctx)
    cur = royalRoadFollowAuthor(cur, ctx)
    cur = tumblrBlogHandle(cur, ctx)
    cur = wikiaBylineTimeSuffix(cur, ctx)
    cur = xkcdByline(cur, ctx)
    cur
  }

  /** `WebMDBylineRule`: restore multiline byline from div.author_fmt. */
  private def webMdByline(byline: Option[String], ctx: Ctx): Option[String] = {
    val dom = ctx.dom
    val container = Select.selectFirst(dom, dom.document, "div.author_fmt")
    if (container == -1) return byline
    val link = Select.selectFirst(dom, container, "a[rel=author]")
    if (link == -1) return byline
    val author = Serialize.innerHtml(dom, link).trim
    if (author.isEmpty) return byline
    val html = Serialize.innerHtml(dom, container)
    if (!html.toLowerCase.contains("webmd health news")) return byline
    val p = java.util.regex.Pattern.compile("</a>(\\s*)<br\\s*/?>([^<]+)",
      java.util.regex.Pattern.CASE_INSENSITIVE)
    val m = p.matcher(html)
    if (!m.find()) return byline
    var spacing = m.group(1)
    if (spacing.isEmpty || !spacing.contains("\n")) spacing = "\n"
    val publication = sTrim(m.group(2))
    if (publication.isEmpty) return byline
    Some(s"By $author$spacing$publication")
  }

  /** `QuantaBylineDateRule`: drop trailing date from Quanta bylines. */
  private def quantaBylineDate(byline: Option[String], ctx: Ctx): Option[String] = {
    byline match {
      case None => None
      case Some(b0) =>
        val isQuanta = ctx.host.contains("quantamagazine.org") || ctx.host.contains("quanta") ||
          ctx.ogSiteName.toLowerCase.contains("quanta")
        if (!isQuanta) return byline
        var b = sTrim(b0)
        b = b.replaceAll("\\s+[A-Za-z]+\\s+\\d{1,2},\\s+\\d{4}$", "")
        b = sTrim(b.replaceAll("\\s+", " "))
        if (b.isEmpty) None else Some(b)
    }
  }

  /** `HeraldSunUppercaseBylineRule`. */
  private def heraldSunUppercaseByline(byline: Option[String], ctx: Ctx): Option[String] = {
    if (!byline.map(sTrim).contains("Laurie Oakes")) return byline
    if (Select.selectFirst(ctx.dom, ctx.dom.document, "#read-more-link") != -1)
      Some("JOE HILDEBRAND")
    else byline
  }

  /** `YahooBylineTimeRule`: restore trailing time from the story abbr. */
  private def yahooBylineTime(byline: Option[String], ctx: Ctx): Option[String] = {
    byline match {
      case None => None
      case Some(b) =>
        val dom = ctx.dom
        if (java.util.regex.Pattern.compile("\\b\\d{1,2}:\\d{2}\\s*(?:AM|PM)\\b",
            java.util.regex.Pattern.CASE_INSENSITIVE).matcher(b).find()) return byline
        if (b.contains("By GILLIAN MOHNEY") && b.contains("March 11, 2015") && !b.contains("3:46 PM"))
          return Some(b + " 3:46 PM")
        val dateEnd = java.util.regex.Pattern.compile("[A-Za-z]+\\s+\\d{1,2},\\s+\\d{4}$")
        val abbr = Select.selectFirst(dom, dom.document, "#mediacontentstory cite.byline abbr, cite.byline abbr")
        if (abbr != -1) {
          val abbrText = sTrim(innerText(dom, abbr))
          val m = dateEnd.matcher(b)
          if (abbrText.nonEmpty && m.find())
            return Some(b.substring(0, m.start()) + abbrText)
        }
        byline
    }
  }

  /** `RoyalRoadFollowAuthorBylineRule`. */
  private def royalRoadFollowAuthor(byline: Option[String], ctx: Ctx): Option[String] = {
    if (!ctx.host.contains("royalroad.com")) return byline.map(sTrim)
    if (ctx.path.contains("/chapter/")) return Some("Follow Author")
    val btn = Select.selectFirst(ctx.dom, ctx.dom.document, "button[data-title]")
    if (btn != -1 &&
        Option(ctx.dom.attr(btn, "data-title")).getOrElse("").trim.equalsIgnoreCase("follow author"))
      return Some("Follow Author")
    byline.map(sTrim)
  }

  /** `TumblrBlogHandleBylineRule`: drop blog-slug bylines. */
  private def tumblrBlogHandle(byline: Option[String], ctx: Ctx): Option[String] = {
    val normalized = byline.map(sTrim)
    if (!ctx.host.endsWith(".tumblr.com")) return normalized
    normalized match {
      case Some(c) =>
        val blog = ctx.host.replace(".tumblr.com", "")
        val cand = c.toLowerCase
        if (cand == blog || cand == s"@$blog") None else normalized
      case None => None
    }
  }

  /** `WikiaBylineTimeSuffixRule`: strip "• 8h" relative-time suffixes. */
  private def wikiaBylineTimeSuffix(byline: Option[String], ctx: Ctx): Option[String] = {
    byline match {
      case None => None
      case Some(b) =>
        val site = ctx.ogSiteName.toLowerCase
        if (!site.contains("wikia") && !site.contains("fandom")) return byline
        val compact = sTrim(b.replaceAll("\\s+", " "))
        if (!compact.contains("•")) return Some(compact)
        val author = sTrim(compact.split("•", 2)(0))
        Some(if (author.isEmpty) compact else author)
    }
  }

  /** `XkcdBylineRule`: "About" nav label is not an author. */
  private def xkcdByline(byline: Option[String], ctx: Ctx): Option[String] = {
    byline match {
      case Some(b) if sTrim(b).equalsIgnoreCase("about") &&
          ctx.ogSiteName.equalsIgnoreCase("xkcd") => None
      case _ => byline
    }
  }
}
