package graft.algo

import java.util.regex.Pattern

/** Algorithm constants and patterns.
  *
  * Mirrors the reference's configuration surface
  * (`Sources/Readability/Internal/Configuration.swift:10-265`, itself the
  * Mozilla Readability.js constant set plus small extensions: mathjax in
  * okMaybe, links-bar/gdpr in negative, bilibili in the video regex).
  */
object Config {

  // flags
  final val FlagStripUnlikelys = 0x1
  final val FlagWeightClasses = 0x2
  final val FlagCleanConditionally = 0x4
  final val FlagsAll = 0x7

  final val NTopCandidates = 5
  final val DefaultCharThreshold = 500
  final val MinimumTopCandidates = 3
  final val MinScoreRatioForAlternative = 0.75

  private def ci(p: String): Pattern = Pattern.compile(p, Pattern.CASE_INSENSITIVE)

  val unlikelyCandidates: Pattern = ci(
    "-ad-|ai2html|banner|breadcrumbs|combx|comment|community|cover-wrap|disqus|extra|footer|gdpr|header|legends|menu|related|remark|replies|rss|shoutbox|sidebar|skyscraper|social|sponsor|supplemental|ad-break|agegate|pagination|pager|popup|yom-remote|form-contents")

  val okMaybeItsACandidate: Pattern = ci(
    "and|article|body|column|content|main|mathjax|shadow")

  val positive: Pattern = ci(
    "article|body|content|entry|hentry|h-entry|main|page|pagination|post|text|blog|story")

  val negative: Pattern = ci(
    "-ad-|hidden|^hid$| hid$| hid |^hid |banner|combx|comment|com-|contact|foot|footer|footnote|gdpr|links-bar|masthead|media|meta|outbrain|promo|related|scroll|share|shoutbox|sidebar|skyscraper|sponsor|shopping|tags|tool|widget")

  val byline: Pattern = ci("byline|author|dateline|writtenby|p-author")

  val videos: Pattern = ci(
    "\\/\\/(www\\.)?((dailymotion|youtube|youtube-nocookie|player\\.vimeo|v\\.qq|bilibili|live.bilibili)\\.com|(archive|upload\\.wikimedia)\\.org|player\\.twitch\\.tv)")

  val hashUrl: Pattern = Pattern.compile("^#.+")

  /** Comma code points counted by the scorer (ASCII, Arabic, CJK forms). */
  val commas: Pattern = Pattern.compile(
    "[\\u002C\\u060C\\uFE50\\uFE10\\uFE11\\u2E41\\u2E34\\u2E32\\uFF0C]")

  val srcsetUrl: Pattern = Pattern.compile("(\\S+)(\\s+[\\d.]+[xw])?(\\s*(?:,|$))")

  val unlikelyRoles: Set[String] = Set(
    "menu", "menubar", "complementary", "navigation", "alert", "alertdialog", "dialog")

  val defaultTagsToScore: Set[String] = Set("h2", "h3", "h4", "h5", "h6", "p", "td", "pre")

  val divToPElems: Set[String] = Set(
    "blockquote", "dl", "div", "img", "ol", "p", "pre", "table", "ul")

  val alterToDivExceptions: Set[String] = Set("div", "article", "section", "p", "ol", "ul")

  val phrasingElems: Set[String] = Set(
    "abbr", "audio", "b", "bdo", "br", "button", "cite", "code", "data",
    "datalist", "dfn", "em", "embed", "i", "img", "input", "kbd", "label",
    "mark", "math", "meter", "noscript", "object", "output", "progress",
    "q", "ruby", "samp", "script", "select", "small", "span", "strong",
    "sub", "sup", "textarea", "time", "var", "wbr")

  val presentationalAttributes: Seq[String] = Seq(
    "align", "background", "bgcolor", "border", "cellpadding", "cellspacing",
    "frame", "hspace", "rules", "style", "valign", "vspace")

  val deprecatedSizeAttributeElems: Set[String] = Set("table", "th", "td", "hr", "pre")

  val classesToPreserveDefault: Seq[String] = Seq("page")

  // sibling merge
  final val SiblingScoreThresholdMinimum = 10.0
  final val SiblingScoreThresholdRatio = 0.2
  final val SiblingClassNameBonusRatio = 0.2
  final val LinkDensityThresholdLong = 0.25
  final val ParagraphLengthLong = 80

  // scoring
  final val ClassWeightPositive = 25.0
  final val ClassWeightNegative = -25.0

  /** Swift counts grapheme clusters; we count Unicode code points, which
    * matches on the fixture corpus (SURVEY.md §7.4 item 2).
    */
  @inline def charLen(s: String): Int = s.codePointCount(0, s.length)
}

/** The ReadabilityOptions (Swift:4-66) fields a caller sets. The rest of
  * that surface is fixed at the reference defaults: [[Config.NTopCandidates]]
  * top candidates, [[Config.videos]] as the allowed-embed pattern, class
  * cleaning and JSON-LD metadata always on, no link-density modifier.
  * `withContentHtml` asks for [[Result.contentHtml]]: the fixture tools
  * compare it, and the Spark path stores spans only, so it is off by
  * default.
  */
final case class Options(
    charThreshold: Int = Config.DefaultCharThreshold,
    classesToPreserve: Seq[String] = Nil,
    withContentHtml: Boolean = false)

/** Extraction result mirroring ReadabilityResult (Swift:3-37): the
  * cleaned article as spans, and as HTML when [[Options.withContentHtml]]
  * asked for it.
  */
final case class Result(
    title: String,
    byline: Option[String],
    dir: Option[String],
    lang: Option[String],
    contentHtml: Option[String],
    spans: IndexedSeq[graft.html.Serialize.Span],
    textContent: String,
    excerpt: Option[String],
    length: Int,
    siteName: Option[String],
    publishedTime: Option[String])
