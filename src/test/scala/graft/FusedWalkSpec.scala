package graft

import graft.dom.{Arena, Utf8Builder}
import graft.html.{ParseOptions, Parser}
import graft.query.VDoc
import graft.spark.Extractor
import graft.spark.Extractor.Recipe
import java.nio.charset.StandardCharsets.UTF_8
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

/** The compiled fused main-content walk against the general engine's
  * remove-then-find: `find(remove).remove()` on a fresh tree, then the
  * first candidate with a match. Every entry must give the same bytes. */
class FusedWalkSpec extends AnyFunSuite {

  private def utf8(s: String): Array[Byte] = s.getBytes(UTF_8)

  /** the general engine's remove-then-find, as UTF-8 */
  private def removeThenFind(html: Array[Byte], recipe: Recipe, opts: ParseOptions): Array[Byte] = {
    val arena = new Arena(64)
    assert(Parser.parseIntoUtf8(arena, html, opts).isEmpty)
    val root = new VDoc(arena).rootElems
    root.find(recipe.remove).remove()
    val main = recipe.mainCandidates.iterator.map(root.find(_)).find(_.nonEmpty)
      .map(_.first()).getOrElse(root)
    val out = new Utf8Builder()
    main.ids.foreach(arena.textContentUtf8(_, out))
    out.toBytes
  }

  private val invalidRole = utf8("<body><div role=\"") ++ Array(0xC3.toByte, 0x28.toByte) ++
    utf8("\">bad role</div><div data-kind=\"") ++ Array(0xFF.toByte) ++
    utf8("\">invalid kind</div><div id=\"") ++ Array(0xFE.toByte) ++
    utf8("\">odd id</div><p id=\"content\">c</p></body>")

  private val pages: Seq[Array[Byte]] = Seq(
    // duplicate id: the stripped nav holds the first id="content"
    "<html><body><nav><div id=\"content\">menu</div></nav><div id=\"content\">real</div><p>tail</p></body></html>",
    // mixed-case names
    "<HTML><BODY><NAV>menu</NAV><Script>x()</Script><Style>p{}</Style><MAIN>Main <B>text</B></MAIN></BODY></HTML>",
    "<body><Header>h</Header><ASIDE>a</ASIDE><p>keep</p><FOOTER>f</FOOTER></body>",
    // same-length and prefix names must not match nav/main/header
    "<body><navs>keep navs</navs><mainx>mx</mainx><heade>hd</heade><nav>drop</nav><p>p</p></body>",
    "<body><mai>m3</mai><bod>b3</bod><scripts>s</scripts><main>the main</main></body>",
    // hidden in every spelling
    "<body><div hidden>h1</div><div HIDDEN>h2</div><div hidden=\"false\">h3</div><div HiDdEn=\"\">h4</div><p>keep</p></body>",
    // role values: only the exact "main" matches
    "<body><div role>bare</div><div role=\"\">empty</div><div role=\"Main\">cap</div><div role=\"main\">real</div></body>",
    "<body><div ROLE=\"main\" role=\"x\">key folds</div><p>p</p></body>",
    "<body><div role=\"x\" ROLE=\"main\">first key wins</div><p>p</p></body>",
    // duplicate ids inside and outside stripped subtrees
    "<body><aside><p id=\"content\">side</p></aside><div id=\"content\">first<nav><span id=\"content\">n</span></nav></div><div id=\"content\">second</div></body>",
    "<body><div id=\"content\" hidden>gone</div><section><div id=\"content\">kept</div></section></body>",
    "<body><p id=\"content\">p first</p><div id=\"content\" class=\"x\">div second</div></body>",
    "<body><nav><p id=\"content\">p stripped</p></nav><div id=\"content\" class=\"x y\">div after</div></body>",
    "<body><nav><b id=\"ads\">x</b></nav><div id=\"ads\">ad two</div><div id=\"content\">c</div></body>",
    "<body><div id>bool id</div><div id=\"\">empty id</div><div ID=\"content\">upper key</div></body>",
    // role=main inside a stripped subtree, main after it
    "<body><header><div role=\"main\">in header</div></header><article>art</article><main>m</main></body>",
    // non-ASCII names and values
    "<body><sección>drop</sección><SECCIÓN>keep upper</SECCIÓN><artículo>artículo text</artículo><div data-kind=\"menú\">menu</div><div data-role=\"príncipal\">príncipal</div></body>",
    "<body><div role=\"mäin\">x</div><div id=\"cönt\">c</div><p>ünïcode ✓</p></body>",
    // no body, no candidate: the root
    "<p>fragment</p><nav>n</nav>",
    "plain text only"
  ).map(utf8) :+ invalidRole

  /** a recipe that exercises non-ASCII tags, non-ASCII and U+FFFD
    * `[k=v]` values, `#id` in the strip list and multi-simple compounds */
  private val custom = Recipe(
    remove = "script,style,nav,sección,[data-kind='menú'],[data-kind='�'],#ads,aside.promo,[hidden]",
    mainCandidates = Seq("div#content.x", "artículo", "[data-role='príncipal']", "[role='�(']",
      "#content", "body"))

  test("duplicate id in a stripped subtree: extract_main is remove-then-find") {
    val html = "<html><body><nav><div id=\"content\">menu</div></nav><div id=\"content\">real</div><p>tail</p></body></html>"
    assert(Extractor.extractMainCodegen(utf8(html)).toString == "real")
    assert(Extractor.extractMain(html, Recipe.default) == "real")
    assert(new String(removeThenFind(utf8(html), Recipe.default, ParseOptions.compat), UTF_8) == "real")
  }

  test("fused extract_main == general remove-then-find, byte for byte (BINARY, STRING, recipe entries)") {
    for ((page, n) <- pages.zipWithIndex) {
      val want = removeThenFind(page, Recipe.default, ParseOptions.compat)
      assert(Extractor.extractMainCodegen(page).getBytes.sameElements(want), s"BINARY page $n")
      assert(Extractor.extractMainCodegenStr(UTF8String.fromBytes(page)).getBytes.sameElements(want),
        s"STRING page $n")
      assert(utf8(Extractor.extractMain(page, Recipe.default)).sameElements(
        utf8(new String(want, UTF_8))), s"recipe bytes page $n")
      val crawl = removeThenFind(page, Recipe.default, ParseOptions.crawl)
      assert(Extractor.extractMainCrawlCodegen(page).getBytes.sameElements(crawl), s"crawl page $n")
      if (page ne invalidRole)
        assert(Extractor.extractMain(new String(page, UTF_8), Recipe.default) == new String(want, UTF_8),
          s"recipe string page $n")
    }
  }

  test("fused walk under a custom recipe == general remove-then-find") {
    val seen = scala.collection.mutable.Set.empty[String]
    for ((page, n) <- pages.zipWithIndex) {
      val want = new String(removeThenFind(page, custom, ParseOptions.compat), UTF_8)
      seen += want
      assert(Extractor.extractMain(page, custom) == want, s"bytes page $n")
      if (page ne invalidRole)
        assert(Extractor.extractMain(new String(page, UTF_8), custom) == want, s"string page $n")
    }
    // the multi-simple and non-ASCII [k=v] candidates each decide a page;
    // element names parse as ASCII, so the non-ASCII tags match nothing
    assert(seen.contains("div after"))
    assert(seen.contains("príncipal"))
    assert(seen.contains("bad role"))
  }
}
