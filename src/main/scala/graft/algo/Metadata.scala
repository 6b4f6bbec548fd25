package graft.algo

import graft.html.{Dom, Select}
import DomOps._
import java.util.regex.Pattern

final case class Meta(
    var title: Option[String] = None,
    var byline: Option[String] = None,
    var excerpt: Option[String] = None,
    var siteName: Option[String] = None,
    var publishedTime: Option[String] = None)

/** Metadata extraction M1–M6 (SURVEY.md §2.2).
  * Behavior anchors: `Readability.swift:279-527` (JSON-LD + meta tags),
  * `:963-1055` (title), `:529-543` (byline quality gate), `:1099-1138`
  * (excerpt fallback).
  */
object Metadata {

  private val propertyPattern = Pattern.compile(
    "^\\s*(?:(dc|dcterm|og|twitter|parsely|weibo:(article|webpage))\\s*[-\\.:]\\s*)?(author|creator|pub-date|description|title|site_name)\\s*$",
    Pattern.CASE_INSENSITIVE)

  private def nonEmpty(v: Option[String]): Option[String] =
    v.map(_.trim).filter(_.nonEmpty)

  /** M1+M2+M3: JSON-LD preferred, meta tags fill gaps. Runs BEFORE
    * prepDocument so ld+json scripts still exist.
    */
  def extract(dom: Dom): Meta = {
    val m = extractJsonLd(dom)
    val mm = extractMetaTags(dom)
    // NOTE: no Mozilla-style _unescapeHtmlEntities pass — the reference
    // keeps metadata values as parsed (its 005 test asserts content+title
    // only; ex-pages fixtures like joanwestenberg keep &#x27;/&quot;)
    Meta(
      title = nonEmpty(m.title).orElse(nonEmpty(mm.title)),
      byline = nonEmpty(m.byline).orElse(nonEmpty(mm.byline)),
      excerpt = nonEmpty(m.excerpt).orElse(nonEmpty(mm.excerpt)),
      siteName = nonEmpty(m.siteName).orElse(nonEmpty(mm.siteName)),
      publishedTime = nonEmpty(m.publishedTime).orElse(nonEmpty(mm.publishedTime)))
  }

  // ------------------------------------------------------------- JSON-LD

  private def extractJsonLd(dom: Dom): Meta = {
    val meta = Meta()
    val scripts = Select.select(dom, dom.document, "script[type=application/ld+json]")
    var objects = List.empty[Map[String, Any]]
    var i = 0
    while (i < scripts.length) {
      val content = {
        val c = dom.firstChild(scripts(i))
        if (c != -1 && (dom.kind(c) == Dom.Data || dom.kind(c) == Dom.Text)) dom.text(c) else ""
      }
      val cleaned = content.replace("<![CDATA[", "").replace("]]>", "").trim
      if (cleaned.nonEmpty) {
        Json.parse(cleaned) match {
          case Some(o: Map[_, _]) =>
            objects = objects :+ o.asInstanceOf[Map[String, Any]]
          case Some(l: List[_]) =>
            objects = objects ++ l.collect { case o: Map[_, _] => o.asInstanceOf[Map[String, Any]] }
          case _ =>
        }
      }
      i += 1
    }
    val preferredTypes = Seq("newsarticle", "article", "webpage", "blogposting")
    var selected: Option[Map[String, Any]] = None
    for (t <- preferredTypes if selected.isEmpty) {
      selected = objects.find(o => o.get("@type") match {
        case Some(s: String) => s.toLowerCase == t
        case _ => false
      })
    }
    if (selected.isEmpty) selected = objects.headOption
    selected match {
      case None => meta
      case Some(jsonld) =>
        val publisherName = jsonld.get("publisher") match {
          case Some(p: Map[_, _]) => p.asInstanceOf[Map[String, Any]].get("name") match {
            case Some(s: String) => Some(s.trim)
            case _ => None
          }
          case _ => None
        }
        val name = jsonld.get("name").collect { case s: String => s.trim }
        val headline = jsonld.get("headline").collect { case s: String => s.trim }
        meta.title = (name, publisherName) match {
          case (Some(n), Some(p)) if n.nonEmpty && p.toLowerCase.contains("wikimedia foundation") =>
            Some(n) // Wikimedia stores shortdescription in headline (`Readability.swift:500-507`)
          case _ => headline.filter(_.nonEmpty)
        }
        meta.excerpt = jsonld.get("description").collect { case s: String => s }
        meta.publishedTime = jsonld.get("datePublished").collect { case s: String => s }
        meta.byline = authorFromJsonLd(jsonld.get("author").orNull)
        meta.siteName = publisherName.filter(_.nonEmpty)
        meta
    }
  }

  private def authorFromJsonLd(author: Any): Option[String] = author match {
    case null => None
    case l: List[_] =>
      val names = l.flatMap(a => authorFromJsonLd(a))
      if (names.isEmpty) None else Some(names.mkString(", "))
    case s: String => Some(s)
    case o: Map[_, _] => o.asInstanceOf[Map[String, Any]].get("name") match {
      case Some(s: String) => Some(s)
      case _ => None
    }
    case _ => None
  }

  // ------------------------------------------------------------ meta tags

  private def canonicalMetaKey(raw: String): String = {
    var key = raw.trim.toLowerCase
    if (key.startsWith("dc.")) key = "dc:" + key.substring(3)
    else if (key.startsWith("dcterm.")) key = "dcterm:" + key.substring(7)
    else if (key.startsWith("dcterms.")) key = "dcterm:" + key.substring(8)
    key
  }

  private def extractMetaTags(dom: Dom): Meta = {
    val values = new java.util.HashMap[String, String]()
    val metas = dom.getElementsByTag(dom.document, "meta")
    var i = 0
    while (i < metas.length) {
      val el = metas(i)
      val property = Option(dom.attr(el, "property")).getOrElse("").toLowerCase
      val name = Option(dom.attr(el, "name")).getOrElse("").toLowerCase
      val content = Option(dom.attr(el, "content")).getOrElse("")
      def store(key: String, fromProperty: Boolean): Unit = {
        val nk = canonicalMetaKey(key)
        // bare property=author is noisy; keep name=author (`Readability.swift:324-330`)
        if (nk == "author" && fromProperty) return
        val special = nk == "article:published_time" || nk == "article:author" || nk == "og:article:author"
        if ((propertyPattern.matcher(nk).find() || special) && content.nonEmpty)
          values.put(nk, content)
      }
      if (property.nonEmpty) property.split(" ").filter(_.nonEmpty).foreach(store(_, fromProperty = true))
      if (name.nonEmpty) store(name, fromProperty = false)
      i += 1
    }
    def v(k: String): Option[String] = Option(values.get(k))
    val m = Meta()
    m.title = v("dc:title").orElse(v("dcterm:title")).orElse(v("og:title"))
      .orElse(v("twitter:title")).orElse(v("parsely-title")).orElse(v("title"))
      .map(_.trim)
    val metaByline = v("dc:creator").orElse(v("dcterm:creator")).orElse(v("author"))
    val socialByline = v("parsely-author").orElse(v("weibo:article:author")).orElse(v("weibo:webpage:author"))
    val ogByline = v("article:author").orElse(v("og:article:author"))
      .orElse(v("twitter:creator")).orElse(v("og:author"))
    m.byline = metaByline.orElse(socialByline).orElse(ogByline).map { b0 =>
      var b = b0.trim
      if (b.toLowerCase.startsWith("by ")) b = b.substring(3).trim
      b
    }
    m.excerpt = v("dc:description").orElse(v("dcterm:description")).orElse(v("og:description"))
      .orElse(v("weibo:article:description")).orElse(v("weibo:webpage:description"))
      .orElse(v("description")).orElse(v("twitter:description"))
      .map { e =>
        e.trim
          .replace("&quot;", "\"").replace("&amp;", "&").replace("&lt;", "<")
          .replace("&gt;", ">").replace("&#39;", "'").replace("&apos;", "'")
      }
    m.siteName = v("og:site_name").orElse(v("twitter:site"))
      .orElse(v("dc:publisher")).orElse(v("dcterm:publisher"))
    m.publishedTime = v("article:published_time").orElse(v("parsely-pub-date"))
    m
  }

  // ------------------------------------------------------ byline gate M5

  /** `Readability.swift:529-543`. */
  def isLowQualityMetadataByline(byline: String): Boolean = {
    val trimmed = byline.trim
    if (trimmed.startsWith("@") && trimmed.length > 1) return true
    val lower = trimmed.toLowerCase
    if (lower.startsWith("http://") || lower.startsWith("https://")) return true
    if (lower.contains("facebook.com/") || lower.contains("twitter.com/")) return true
    false
  }

  // ----------------------------------------------------------- title M4

  private val separatorPattern = Pattern.compile("\\s[\\|\\-–—\\\\/»]\\s")
  private val hierarchicalPattern = Pattern.compile("\\s[\\\\/>»]\\s")

  def wordCount(s: String): Int = s.split("\\s+").count(_.nonEmpty)

  def extractTitle(dom: Dom): String = {
    var origTitle = ""
    val titleEl = Select.selectFirst(dom, dom.document, "title")
    if (titleEl != -1) origTitle = innerText(dom, titleEl).trim
    var curTitle = origTitle

    if (curTitle.isEmpty) {
      val h1 = Select.selectFirst(dom, dom.document, "h1")
      if (h1 != -1) return innerText(dom, h1).trim
      return ""
    }

    var titleHadHierarchicalSeparators = false
    val sepMatcher = separatorPattern.matcher(origTitle)
    val matches = new scala.collection.mutable.ArrayBuffer[(Int, Int)]()
    while (sepMatcher.find()) matches += ((sepMatcher.start(), sepMatcher.end()))

    if (matches.nonEmpty) {
      titleHadHierarchicalSeparators = hierarchicalPattern.matcher(origTitle).find()
      curTitle = origTitle.substring(0, matches.last._1)
      if (wordCount(curTitle) < 3)
        curTitle = origTitle.substring(matches.head._2).trim
    } else if (curTitle.contains(": ")) {
      val headings = Select.select(dom, dom.document, "h1, h2")
      val trimmedTitle = curTitle.trim
      val hasExactMatch = headings.exists(h => innerText(dom, h).trim == trimmedTitle)
      if (!hasExactMatch) {
        val lastColon = origTitle.lastIndexOf(':')
        if (lastColon >= 0) {
          curTitle = origTitle.substring(lastColon + 1).trim
          if (wordCount(curTitle) < 3) {
            val firstColon = origTitle.indexOf(':')
            curTitle = origTitle.substring(firstColon + 1).trim
          } else if (wordCount(origTitle.substring(0, origTitle.indexOf(':'))) > 5) {
            curTitle = origTitle
          }
        }
      }
    } else if (Config.charLen(curTitle) > 150 || Config.charLen(curTitle) < 15) {
      val hOnes = Select.select(dom, dom.document, "h1")
      if (hOnes.size == 1) curTitle = innerText(dom, hOnes(0))
    }

    curTitle = curTitle.trim.replaceAll("\\s+", " ")
    val curTitleWordCount = wordCount(curTitle)
    if (curTitleWordCount <= 4) {
      if (!titleHadHierarchicalSeparators) curTitle = origTitle
      else {
        val origWordCount = wordCount(separatorPattern.matcher(origTitle).replaceAll(""))
        if (curTitleWordCount != origWordCount - 1) curTitle = origTitle
      }
    }
    if (curTitle.isEmpty) origTitle else curTitle
  }

  // --------------------------------------------------------- excerpt M6

  /** First non-empty paragraph (`Readability.swift:1059-1097`). */
  def extractExcerpt(dom: Dom, article: Int): Option[String] = {
    val ps = dom.getElementsByTag(article, "p")
    var i = 0
    while (i < ps.length) {
      val p = ps(i)
      val text = innerText(dom, p)
      if (text.nonEmpty) {
        val raw = dom.textContent(p).trim
        if (raw.contains("\n")) return Some(raw)
        return Some(text)
      }
      i += 1
    }
    None
  }

  /** C16: title-matched header removal (`Readability.swift:1099-1138`). */
  def removeTitleMatchedHeaders(dom: Dom, article: Int, title: String): Unit = {
    def normalize(s: String): String = s.trim.replaceAll("\\s+", " ").toLowerCase
    val normalizedTitle = normalize(title)
    if (normalizedTitle.isEmpty) return
    val headers = Select.select(dom, article, "h1, h2")
    var i = 0
    while (i < headers.length) {
      val h = headers(i)
      if ((dom.parent(h) != -1)) {
        val text = innerText(dom, h)
        val normalizedHeader = normalize(text)
        if (normalizedHeader == normalizedTitle) dom.remove(h)
        else {
          val trimmedText = text.trim
          if (trimmedText.endsWith(":")) {
            var next = dom.nextSib(h)
            while (next != -1 && dom.kind(next) != Dom.Element) next = dom.nextSib(next)
            if (next != -1 && Set("h1", "h2", "h3", "h4", "h5", "h6").contains(dom.tag(next))) {
              val combined = normalize(trimmedText + " " + innerText(dom, next))
              if (combined.nonEmpty &&
                  (combined == normalizedTitle || normalizedTitle.endsWith(combined)))
                dom.remove(h)
            }
          }
        }
      }
      i += 1
    }
  }
}
