package graft.algo

import java.nio.file.{Files, Paths, Path}
import graft.html.{Dom, Parser, Serialize}
import scala.jdk.CollectionConverters._

/** Golden-fixture comparison harness (dev tool + test support).
  *
  * For each fixture dir (source.html + expected.html + expected-metadata
  * .json) runs the full extraction and compares the output span sequence
  * against the span sequence derived from expected.html with the same
  * traversal (FIXTURES.md §2), plus metadata fields.
  */
object FixtureRunner {

  val fixtureRoot = "/root/reference/Tests/ReadabilityTests/Resources"
  val mozillaOptions: Options =
    Options(charThreshold = 500, classesToPreserve = Seq("caption"), withContentHtml = true)
  val fakeBaseUrl = "http://fakehost/test/index.html"

  /** Per-fixture metadata assertion matrix for test-pages, parsed from the
    * reference's own test file: only the fields it asserts
    * (`assertMetadataFieldMatches(.field, for: "fixture")`) are compared.
    */
  lazy val mozillaAssertedFields: Map[String, Set[String]] = {
    val src = Files.readString(Paths.get(
      "/root/reference/Tests/ReadabilityTests/MozillaCompatibilityTests.swift"))
    val re = "assertMetadataFieldMatches\\(\\.(\\w+), for: \"([^\"]+)\"\\)".r
    re.findAllMatchIn(src).toSeq
      .groupBy(_.group(2))
      .view.mapValues(_.map(_.group(1)).toSet).toMap
  }

  final case class FixtureResult(
      name: String,
      spansMatch: Boolean,
      metaDiffs: List[String],
      firstSpanDiff: Option[String],
      nOut: Int, nExp: Int,
      status: String)

  def metaField(json: String, field: String): Option[String] = {
    Json.parse(json) match {
      case Some(m: Map[_, _]) =>
        m.asInstanceOf[Map[String, Any]].get(field) match {
          case Some(s: String) => Some(s)
          case Some(null) | None => None
          case Some(b: java.lang.Boolean) => Some(b.toString)
          case Some(other) => Some(other.toString)
        }
      case _ => None
    }
  }

  def expectedSpans(expectedHtml: String): IndexedSeq[Serialize.Span] = {
    val dom = Parser.parse(expectedHtml)
    // root is div#readability-page-1 inside body
    val root = {
      val els = dom.getElementsByTag(dom.bodyEl, "div")
      els.find(e => dom.idAttr(e) == "readability-page-1").getOrElse(dom.bodyEl)
    }
    Serialize.spans(dom, root).toIndexedSeq
  }

  def runOne(dir: Path, baseUrl: String = fakeBaseUrl): FixtureResult = {
    val name = dir.getFileName.toString
    val source = Files.readString(dir.resolve("source.html"))
    val expectedHtml = Files.readString(dir.resolve("expected.html"))
    val metaJson = Files.readString(dir.resolve("expected-metadata.json"))
    val realUrl =
      if (Files.exists(dir.resolve("meta.json")))
        metaField(Files.readString(dir.resolve("meta.json")), "url").getOrElse(baseUrl)
      else baseUrl

    Readability.parse(source, realUrl, mozillaOptions) match {
      case Readability.Failed(status, error) =>
        FixtureResult(name, spansMatch = false, List(s"status=$status $error"), None, 0, 0, status)
      case Readability.Ok(result) =>
        if (sys.env.contains("GRAFT_DUMP")) {
          Files.writeString(Paths.get(s"/tmp/graft_out_$name.html"), result.contentHtml.get)
          Files.writeString(Paths.get(s"/tmp/graft_exp_$name.html"), expectedHtml)
        }
        val exp = expectedSpans(expectedHtml)
        val out = result.spans
        var firstDiff: Option[String] = None
        var i = 0
        while (firstDiff.isEmpty && i < math.max(out.length, exp.length)) {
          val o = if (i < out.length) Some(out(i)) else None
          val e = if (i < exp.length) Some(exp(i)) else None
          if (o != e) {
            val charDiff = (o, e) match {
              case (Some(a), Some(b)) if a.text != null && b.text != null =>
                val idx = (0 until math.min(a.text.length, b.text.length))
                  .find(k => a.text.charAt(k) != b.text.charAt(k))
                  .getOrElse(math.min(a.text.length, b.text.length))
                val from = math.max(0, idx - 40)
                s"\n  diverge@$idx:\n   out…${a.text.slice(from, idx + 60)}\n   exp…${b.text.slice(from, idx + 60)}"
              case _ => ""
            }
            firstDiff = Some(s"span[$i]:\n  out=${fmt(o)}\n  exp=${fmt(e)}$charDiff")
          }
          i += 1
        }
        // Assertion surface mirrors the reference suites: ex-pages assert
        // title/byline (+excerpt when expected); the others assert
        // title/byline/excerpt/siteName strictly and dir/lang/
        // publishedTime only when the fixture records a value
        // (`ExPagesCompatibilityTests.swift:36-46`,
        // `RealWorldCompatibilityTests.swift:39-55`).
        val corpus = dir.getParent.getFileName.toString
        val exPages = corpus == "ex-pages"
        val testPages = corpus == "test-pages"
        // test-pages: exactly the reference's per-fixture assertion set
        val asserted: String => Boolean =
          if (testPages) mozillaAssertedFields.getOrElse(name, Set("title", "byline")).contains _
          else _ => true
        val metaDiffs = List.newBuilder[String]
        def cmp(field: String, actual: Option[String], onlyWhenExpected: Boolean = false): Unit = {
          if (!asserted(field)) return
          val expectedV = metaField(metaJson, field).map(_.trim).filter(_.nonEmpty)
          if (onlyWhenExpected && expectedV.isEmpty) return
          val actualV = actual.map(_.trim).filter(_.nonEmpty)
          if (expectedV != actualV)
            metaDiffs += s"$field: out=${actualV.getOrElse("∅")} exp=${expectedV.getOrElse("∅")}"
        }
        cmp("title", Some(result.title))
        cmp("byline", result.byline)
        cmp("dir", result.dir, onlyWhenExpected = true)
        cmp("lang", result.lang, onlyWhenExpected = true)
        cmp("excerpt", result.excerpt, onlyWhenExpected = exPages)
        cmp("siteName", result.siteName, onlyWhenExpected = exPages)
        cmp("publishedTime", result.publishedTime, onlyWhenExpected = true)
        FixtureResult(name, firstDiff.isEmpty, metaDiffs.result(), firstDiff,
          out.length, exp.length, "ok")
    }
  }

  /** Cross-implementation diff — the OFFLINE form of the reference CLI's
    * mozilla-bridge workflow (`CLI/Sources/main.swift` Parse subcommand +
    * `CLI/scripts/mozilla-bridge.js`; live fetch needs network and the
    * bridge needs Node, neither available here): compare two STAGED
    * outputs — e.g. ours minted via `mint` vs a checked-in Readability.js
    * output for the same source — under the SAME span-sequence
    * normalization the golden suite uses (parse → readability-page-1 root
    * → serialized spans), so formatting-only differences (attribute
    * order, inter-block whitespace, self-closing syntax) do not count as
    * divergence. Returns divergence lines; empty = equivalent.
    */
  def diffStaged(a: Path, b: Path, maxSpanDiffs: Int = 10): List[String] = {
    def spansOf(d: Path) = expectedSpans(Files.readString(d.resolve("expected.html")))
    val sa = spansOf(a)
    val sb = spansOf(b)
    val out = List.newBuilder[String]
    var reported = 0
    var i = 0
    while (i < math.max(sa.length, sb.length) && reported < maxSpanDiffs) {
      val x = if (i < sa.length) Some(sa(i)) else None
      val y = if (i < sb.length) Some(sb(i)) else None
      if (x != y) {
        out += s"span[$i]:\n  a=${fmt(x)}\n  b=${fmt(y)}"
        reported += 1
      }
      i += 1
    }
    if (sa.length != sb.length)
      out += s"span count: a=${sa.length} b=${sb.length}"
    val ja = Files.readString(a.resolve("expected-metadata.json"))
    val jb = Files.readString(b.resolve("expected-metadata.json"))
    for (f <- Seq("title", "byline", "dir", "lang", "excerpt", "siteName", "publishedTime")) {
      val va = metaField(ja, f).map(_.trim).filter(_.nonEmpty)
      val vb = metaField(jb, f).map(_.trim).filter(_.nonEmpty)
      if (va != vb) out += s"meta $f: a=${va.getOrElse("∅")} b=${vb.getOrElse("∅")}"
    }
    out.result()
  }

  private def fmt(s: Option[Serialize.Span]): String = s match {
    case None => "<missing>"
    case Some(sp) =>
      val t = Option(sp.text).map(x => if (x.length > 120) x.take(120) + "…" else x)
      val cps = Option(sp.text).filter(_.length <= 4)
        .map(x => " cps=" + x.map(c => f"U+${c.toInt}%04X").mkString(",")).getOrElse("")
      s"(${sp.kind}, ${t.getOrElse("")}, ${Option(sp.mediaRef).getOrElse("")})$cps"
  }

  def corpusDirs(corpus: String): Seq[Path] = {
    val root = Paths.get(fixtureRoot, corpus)
    Files.list(root).iterator().asScala.filter(Files.isDirectory(_)).toSeq.sortBy(_.getFileName.toString)
  }

  /** Dev main: run a corpus, print per-fixture state + summary.
    * args: [corpus] [fixtureName]
    */
  def main(args: Array[String]): Unit = {
    // mint mode (the `parse`+`commit` half of the reference CLI's
    // fetch/parse/inspect/review/commit workflow, `CLI/Sources/main.swift`):
    // `FixtureRunner mint <source.html> <baseUrl> <outDir>` runs the full
    // extraction and stages expected.html + expected-metadata.json so a
    // new case can be reviewed and promoted into a fixture corpus.
    if (args.headOption.contains("mint")) {
      require(args.length >= 4, "usage: FixtureRunner mint <source.html> <baseUrl> <outDir>")
      val html = Files.readString(Paths.get(args(1)))
      val outDir = Paths.get(args(3))
      Files.createDirectories(outDir)
      Readability.parse(html, args(2), mozillaOptions) match {
        case Readability.Ok(r) =>
          Files.writeString(outDir.resolve("source.html"), html)
          Files.writeString(outDir.resolve("expected.html"), r.contentHtml.get)
          def j(v: Option[String]): String =
            v.map(s => "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"")
              .replace("\n", "\\n").replace("\r", "\\r").replace("\t", "\\t") + "\"")
              .getOrElse("null")
          Files.writeString(outDir.resolve("expected-metadata.json"),
            s"""{
               |  "title": ${j(Option(r.title))},
               |  "byline": ${j(r.byline)},
               |  "dir": ${j(r.dir)},
               |  "lang": ${j(r.lang)},
               |  "excerpt": ${j(r.excerpt)},
               |  "siteName": ${j(r.siteName)},
               |  "publishedTime": ${j(r.publishedTime)},
               |  "readerable": true
               |}
               |""".stripMargin)
          println(s"minted ${outDir.toAbsolutePath} (${r.spans.length} spans, " +
            s"title=${r.title}, byline=${r.byline.getOrElse("-")})")
        case Readability.Failed(status, error) =>
          println(s"extraction failed: $status $error")
      }
      return
    }
    // review mode (the `review` step of the reference CLI's
    // fetch/parse/inspect/review/commit workflow, `CLI/Sources/main.swift`;
    // fetch itself needs network, which this sandbox does not have — feed
    // `mint` a saved source.html instead): re-run extraction over a STAGED
    // fixture dir and diff against its staged expected.html/metadata.
    if (args.headOption.contains("review")) {
      require(args.length >= 2, "usage: FixtureRunner review <stagedDir>")
      val dir = Paths.get(args(1))
      val r = runOne(dir)
      val flag = if (r.spansMatch && r.metaDiffs.isEmpty) "PASS"
        else if (r.spansMatch) "META" else "FAIL"
      println(f"$flag%-5s ${r.name}%-45s spans=${r.nOut}/${r.nExp}")
      r.firstSpanDiff.foreach(d => println("  " + d.replace("\n", "\n  ")))
      r.metaDiffs.foreach(d => println("  META " + d))
      if (!(r.spansMatch && r.metaDiffs.isEmpty)) sys.exit(1)
      return
    }
    // commit mode: promote a reviewed staged fixture into a (writable)
    // corpus dir. The reference corpus under /root/reference is read-only
    // by contract; commit targets a project-local corpus root.
    if (args.headOption.contains("commit")) {
      require(args.length >= 3, "usage: FixtureRunner commit <stagedDir> <corpusRoot>")
      val src = Paths.get(args(1))
      val corpusRoot = Paths.get(args(2))
      // compare NORMALIZED real paths: a `..` segment or a symlink into the
      // reference tree must not slip past the read-only guard
      val resolvedRoot = {
        val p = corpusRoot.toAbsolutePath.normalize()
        try p.toRealPath() catch { case _: java.io.IOException => p }
      }
      require(!resolvedRoot.startsWith(Paths.get("/root/reference")),
        "the reference fixture corpus is read-only; commit to a project-local corpus root")
      val r = runOne(src)
      require(r.spansMatch && r.metaDiffs.isEmpty,
        s"refusing to commit a failing fixture (spans=${r.nOut}/${r.nExp}, " +
          s"metaDiffs=${r.metaDiffs.mkString("; ")}); run `review` and fix first")
      val dest = corpusRoot.resolve(src.getFileName)
      Files.createDirectories(dest)
      Seq("source.html", "expected.html", "expected-metadata.json").foreach { f =>
        Files.copy(src.resolve(f), dest.resolve(f),
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      }
      println(s"committed ${dest.toAbsolutePath}")
      return
    }
    // diff mode: `FixtureRunner diff <stagedDirA> <stagedDirB>` — the
    // offline cross-implementation check (see [[diffStaged]]): compare a
    // minted staging of OUR output against a checked-in staging of another
    // implementation's output (e.g. Readability.js) for the same source.
    if (args.headOption.contains("diff")) {
      require(args.length >= 3, "usage: FixtureRunner diff <stagedDirA> <stagedDirB>")
      val diffs = diffStaged(Paths.get(args(1)), Paths.get(args(2)))
      if (diffs.isEmpty) println("EQUIVALENT")
      else {
        println(s"DIVERGENT (${diffs.length} findings)")
        diffs.foreach(d => println("  " + d.replace("\n", "\n  ")))
        sys.exit(1)
      }
      return
    }
    // inspect mode: `FixtureRunner inspect <corpus> <fixture>` dumps the
    // per-phase extraction trace (candidates, promotions, sibling merge)
    if (args.headOption.contains("inspect")) {
      require(args.length >= 3, "usage: FixtureRunner inspect <corpus> <fixture>")
      Inspect.enabled = true
      Inspect.reset()
      val dirs = corpusDirs(args(1)).filter(_.getFileName.toString == args(2))
      require(dirs.nonEmpty, s"no fixture ${args(2)} in ${args(1)}")
      val r = runOne(dirs.head)
      Inspect.dump().foreach(println)
      val jsonPath = Paths.get(s"/tmp/graft_inspect_${args(2)}.json")
      Files.writeString(jsonPath, Inspect.toJson)
      println(s"structured report: $jsonPath")
      println(s"=> spans=${r.nOut}/${r.nExp} spansMatch=${r.spansMatch} metaDiffs=${r.metaDiffs}")
      r.firstSpanDiff.foreach(d => println("  " + d.replace("\n", "\n  ")))
      return
    }
    val corpus = if (args.nonEmpty) args(0) else "test-pages"
    val only = if (args.length > 1) Some(args(1)) else None
    val dirs = corpusDirs(corpus).filter(d => only.forall(_ == d.getFileName.toString))
    var pass = 0
    var contentPass = 0
    val t0 = System.nanoTime()
    for (dir <- dirs) {
      val r = try runOne(dir) catch {
        case e: Throwable =>
          FixtureResult(dir.getFileName.toString, spansMatch = false,
            List(s"EXCEPTION ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(100)}"), None, 0, 0, "exception")
      }
      val metaOk = r.metaDiffs.isEmpty
      if (r.spansMatch && metaOk) pass += 1
      if (r.spansMatch) contentPass += 1
      val flag = if (r.spansMatch && metaOk) "PASS" else if (r.spansMatch) "META" else "FAIL"
      println(f"$flag%-5s ${r.name}%-45s spans=${r.nOut}/${r.nExp}")
      if (only.isDefined || (!r.spansMatch && dirs.size <= 8)) {
        r.firstSpanDiff.foreach(d => println("  " + d.replace("\n", "\n  ")))
      }
      if (!metaOk && (only.isDefined || dirs.size <= 8))
        r.metaDiffs.foreach(d => println("  META " + d))
    }
    val dt = (System.nanoTime() - t0) / 1e9
    println(f"\n$corpus: $pass/${dirs.size} full pass, $contentPass/${dirs.size} content pass (${dt}%.1f s)")
  }
}
