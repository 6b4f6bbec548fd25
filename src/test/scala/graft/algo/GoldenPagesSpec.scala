package graft.algo

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path, Paths}

/** In-repo golden pages (`src/test/resources/golden/<page>/`: source.html,
  * expected.html, expected-metadata.json), hand-authored so that together
  * they fire every gated branch of the text-gated site rules:
  *
  *  - `nz-captions-mutation`: government-portrait columns (step 1) and a
  *    caption prune (step 2) mutate the tree BEFORE the Aoraki and Māori
  *    legend gates are read; TeAra host lowercasing;
  *  - `nz-geography-gates`: the Aoraki paragraph (phrase split across
  *    inline markup and a whitespace run) and the legend rebuild, with no
  *    earlier mutation;
  *  - `nz-culture-captions`: the other four caption signatures, the
  *    gallery blanking (step 3) and the li>div>div rewrite (step 4) before
  *    the legend gate;
  *  - `hermitian-list-prune`: the Hermitian list prune;
  *  - `site-rule-gates-negative`: every needle only split by block markup,
  *    in upper case or across whitespace runs, where the rules must leave
  *    the article unchanged;
  *  - `empty-text-retry`: the longest failed attempt holds only a header
  *    equal to the title (an `id` keeps it from the grab's title-duplicate
  *    removal), so the chosen article is empty once the title-matched
  *    headers go, and the retry re-parses the next attempt's stored HTML
  *    (`Grab.Attempt.html`) and keeps its two paragraphs. Without the retry
  *    the article text is empty;
  *  - `content-too-short` (in `failing`): every attempt cleans down to no
  *    text, so there is no best attempt and the page fails.
  *
  * expected.html is the recorded `Readability.parse` content HTML, compared
  * byte for byte and as the span sequence FixtureRunner derives from it. A
  * failing page has only source.html and its recorded status and error.
  */
class GoldenPagesSpec extends AnyFunSuite {

  private val root: Path = Paths.get(getClass.getResource("/golden").toURI)

  private def pages: Seq[Path] = {
    val s = Files.list(root)
    try s.toArray.toSeq.map(_.asInstanceOf[Path]).filter(Files.isDirectory(_))
      .sortBy(_.getFileName.toString)
    finally s.close()
  }

  /** Per page: phrases the source carries and the output must not (the
    * rule removed them), and phrases only the rule's rewrite produces.
    */
  private val fired: Map[String, (Seq[String], Seq[String])] = Map(
    "nz-captions-mutation" -> (Seq(
      "A statue of Richard Seddon",
      "Aoraki / Mount Cook is the highest point",
      "The monarch of the realm",
      "TeAra.govt.nz"), Seq(
      "<p>Speakers of Māori according to the 2013 census<sup",
      "&nbsp;More than 50% </p>",
      "https://www.teara.govt.nz/")),
    "nz-geography-gates" -> (Seq("highest point of New Zealand"), Seq(
      "<p>Speakers of Māori according to the 2013 census</p>",
      "&nbsp;Less than 5% </p>")),
    "nz-culture-captions" -> (Seq(
      "The snow-capped Southern Alps",
      "Portrait of Hinepare",
      "The Hobbiton Movie Set",
      "A haka performed",
      "Farmland in the Waikato",
      "The Emerald Lakes",
      "A second caption for the same image"), Seq(
      "<li></li>",
      "&nbsp;More than 40% </p>")),
    "hermitian-list-prune" -> (Seq(
      "For an arbitrary complex valued vector",
      "If n orthonormal eigenvectors"), Seq.empty),
    "site-rule-gates-negative" -> (Seq.empty, Seq(
      "A STATUE OF RICHARD",
      "The snow-capped Southern</p>",
      "<p>The summit of Aoraki</p>",
      "AORAKI   /   MOUNT    COOK stands",
      "<p>Speakers of Māori</p>",
      "IF N ORTHONORMAL EIGENVECTORS",
      "For an arbitrary complex valued vector")),
    "empty-text-retry" -> (Seq("The Quiet Harbour At The End Of The Long Northern Road"), Seq(
      "<p>A short note, kept by the retry pass.</p><p>A second line of the same short note.</p>")))

  /** Pages whose extraction fails: the recorded (status, error). */
  private val failing: Map[String, (String, String)] = Map(
    "content-too-short" -> ("content_too_short", "actual=0 threshold=500"))

  test("every golden page has its fired-branch expectations") {
    assert(pages.map(_.getFileName.toString).toSet == fired.keySet ++ failing.keySet)
  }

  for ((name, (status, error)) <- failing.toSeq.sortBy(_._1)) {
    test(s"golden page $name: extraction fails with the recorded status") {
      val source = Files.readString(root.resolve(name).resolve("source.html"))
      assert(Readability.parse(source, FixtureRunner.fakeBaseUrl, FixtureRunner.mozillaOptions) ==
        Readability.Failed(status, error))
    }
  }

  for (name <- fired.keys.toSeq.sorted) {
    test(s"golden page $name: output equals the recorded expected.html") {
      val dir = root.resolve(name)
      val source = Files.readString(dir.resolve("source.html"))
      val expected = Files.readString(dir.resolve("expected.html"))
      val content = Readability.parse(source, FixtureRunner.fakeBaseUrl,
          FixtureRunner.mozillaOptions) match {
        case Readability.Ok(r) => r.contentHtml.get
        case Readability.Failed(status, error) => fail(s"$status: $error")
      }
      assert(content == expected)
      val r = FixtureRunner.runOne(dir)
      assert(r.spansMatch, r.firstSpanDiff.getOrElse(""))
      assert(r.metaDiffs.isEmpty, r.metaDiffs.mkString("; "))
      val (removed, produced) = fired(name)
      for (phrase <- removed) {
        assert(source.contains(phrase), s"source lacks '$phrase'")
        assert(!content.contains(phrase), s"output still has '$phrase'")
      }
      for (phrase <- produced) assert(content.contains(phrase), s"output lacks '$phrase'")
    }
  }
}
