package graft.algo

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path, Paths}

/** Staging-workflow spec: mint → review → commit round-trips a fixture
  * (the reference CLI's parse/inspect/review/commit loop minus network
  * fetch, `CLI/Sources/main.swift`), and `diffStaged` compares two stagings.
  *
  * The workflow does not depend on which page goes in: each test runs on
  * the in-repo golden page `hermitian-list-prune` everywhere, and again on
  * the reference corpus's `ex-pages/xkcd` wherever that tree exists.
  */
class FixtureToolSpec extends AnyFunSuite {

  private val goldenSource: Path = Paths.get(getClass.getResource("/golden").toURI)
    .resolve("hermitian-list-prune").resolve("source.html")

  private val xkcdSource: Path =
    Paths.get(FixtureRunner.fixtureRoot, "ex-pages", "xkcd", "source.html")

  private def sources: Seq[Path] =
    goldenSource +: Seq(xkcdSource).filter(Files.exists(_))

  test("mint -> review -> commit round-trips a fixture; commit refuses a broken one") {
    sources.foreach(roundTrip)
  }

  test("diff: staged outputs compare under span normalization; divergences are reported") {
    sources.foreach(diffWorkflow)
  }

  private def roundTrip(src: Path): Unit = withClue(s"$src: ") {
    val tmp = Files.createTempDirectory("graft-fixturetool")
    try {
      val staged = tmp.resolve("staged")
      // mint: run extraction, stage source + expected + metadata
      FixtureRunner.main(Array("mint", src.toString, FixtureRunner.fakeBaseUrl, staged.toString))
      assert(Files.exists(staged.resolve("expected.html")))
      assert(Files.exists(staged.resolve("expected-metadata.json")))
      // review: re-extraction matches the staged expectation
      val r = FixtureRunner.runOne(staged)
      assert(r.spansMatch && r.metaDiffs.isEmpty, s"${r.metaDiffs} ${r.firstSpanDiff}")
      // commit: promoted into a writable corpus root
      val corpus = tmp.resolve("corpus")
      FixtureRunner.main(Array("commit", staged.toString, corpus.toString))
      val committed = corpus.resolve("staged")
      assert(Files.exists(committed.resolve("source.html")))
      assert(FixtureRunner.runOne(committed).spansMatch)
      // a staged fixture whose expectation no longer matches must not commit
      val broken = tmp.resolve("broken")
      Files.createDirectories(broken)
      Seq("source.html", "expected-metadata.json").foreach { f =>
        Files.copy(staged.resolve(f), broken.resolve(f))
      }
      Files.writeString(broken.resolve("expected.html"),
        "<div id=\"readability-page-1\"><p>not what extraction produces</p></div>")
      val e = intercept[IllegalArgumentException] {
        FixtureRunner.main(Array("commit", broken.toString, corpus.toString))
      }
      assert(e.getMessage.contains("refusing to commit"))
      // the read-only reference corpus is never a commit target (the guard
      // compares paths, so it holds whether or not that tree exists)
      val e2 = intercept[IllegalArgumentException] {
        FixtureRunner.main(Array("commit", staged.toString,
          FixtureRunner.fixtureRoot + "/ex-pages"))
      }
      assert(e2.getMessage.contains("read-only"))
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
    }
  }

  private def diffWorkflow(src: Path): Unit = withClue(s"$src: ") {
    val tmp = Files.createTempDirectory("graft-fixturediff")
    try {
      val ours = tmp.resolve("ours")
      FixtureRunner.main(Array("mint", src.toString, FixtureRunner.fakeBaseUrl, ours.toString))
      // an "other implementation's" staging with formatting-only changes.
      // replace("><", ...) touches every tag boundary; it is formatting-only
      // because every boundary in these pages' output joins block elements.
      // Whitespace at an inline boundary is real text, and diffStaged
      // reports it (`census[1]` vs `census [1]`).
      val theirs = tmp.resolve("theirs")
      Files.createDirectories(theirs)
      val html = Files.readString(ours.resolve("expected.html"))
      Files.writeString(theirs.resolve("expected.html"), html.replace("><", ">\n  <"))
      Files.copy(ours.resolve("expected-metadata.json"), theirs.resolve("expected-metadata.json"))
      assert(FixtureRunner.diffStaged(ours, theirs).isEmpty,
        FixtureRunner.diffStaged(ours, theirs).mkString("\n"))
      // real divergence: changed text content + changed metadata field
      val broken = tmp.resolve("broken")
      Files.createDirectories(broken)
      Files.writeString(broken.resolve("expected.html"),
        "<div id=\"readability-page-1\"><p>a different implementation said this</p></div>")
      Files.writeString(broken.resolve("expected-metadata.json"),
        """{"title": "Another Title", "byline": null}""")
      val diffs = FixtureRunner.diffStaged(ours, broken)
      assert(diffs.exists(_.startsWith("span[")), diffs.mkString("\n"))
      assert(diffs.exists(_.startsWith("meta title:")), diffs.mkString("\n"))
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
    }
  }
}
