package graft.spark

import graft.dom.{Arena, Entities, Utf8Builder}
import graft.html.{ParseOptions, Parser}
import graft.query.{Elems, Engine, VDoc}
import graft.selector.{Selector, Simple}
import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

/** Per-row extraction entry point for Spark executors.
  *
  * Design for scale (north rule): one reusable [[Arena]] per executor thread
  * — parsing a page touches only pre-grown primitive arrays, so a long
  * `mapPartitions` loop allocates close to nothing per row and GC pressure
  * stays flat at 10^12-document scale. Selectors are parsed once per JVM and
  * cached (the reference parses per query too — `mesdoc::init` + lazy_static
  * caches, reference `src/mesdoc/selector/rule.rs:10-12`).
  */
object Extractor extends Serializable {

  /** selector-driven boilerplate-strip recipe (north star: "nav/ads/script/
    * style removal, main-content DOM heuristics"). */
  final case class Recipe(
      remove: String = Recipe.DefaultRemove,
      mainCandidates: Seq[String] = Recipe.DefaultMain)

  object Recipe {
    val DefaultRemove = "script,style,nav,aside,header,footer,[hidden]"
    val DefaultMain: Seq[String] = Seq("main", "[role='main']", "#content", "body")
    val default: Recipe = Recipe()
  }

  private val arenas = new ThreadLocal[Arena] {
    override def initialValue(): Arena = new Arena(1024)
  }

  private val selectorCache = new ConcurrentHashMap[String, Either[String, Selector]]()
  // extract_text's selector operand is an arbitrary expression: a per-row
  // dynamic selector must not grow executor memory without bound
  private final val SelectorCacheCap = 4096

  def compiled(sel: String): Either[String, Selector] = {
    val hit = selectorCache.get(sel)
    if (hit != null) return hit
    val parsed = Selector.parse(sel, useLookup = true)
    if (selectorCache.size < SelectorCacheCap) selectorCache.putIfAbsent(sel, parsed)
    parsed
  }

  /** a rare giant page must not pin executor memory forever: drop the
    * thread-local arena back to a fresh one when its buffers grew far beyond
    * what the current row needs. */
  private final val ArenaShrinkChars = 32 << 20

  private def arenaFor(len: Int): Arena = {
    var arena = arenas.get()
    if (arena.buf.length > ArenaShrinkChars && len < (ArenaShrinkChars >> 3)) {
      arena = new Arena(1024)
      arenas.set(arena)
    }
    arena
  }

  /** parse into the thread-local arena; null on parse failure. */
  def parse(html: String): VDoc = {
    val arena = arenaFor(html.length)
    if (Parser.parseInto(arena, html, ParseOptions.compat).isEmpty) new VDoc(arena) else null
  }

  /** parse UTF-8 bytes into the thread-local arena (no intermediate String /
    * char[] garbage); null on parse failure. */
  def parseBytes(html: Array[Byte]): VDoc = parseBytesWith(html, ParseOptions.compat)

  /** [[parseBytes]] under the CRAWL profile (compat fixes + HTML5 implicit
    * tree): implied html/head/body + auto-close, for real crawl pages
    * that never wrote `<body>`. */
  def parseBytesCrawl(html: Array[Byte]): VDoc = parseBytesWith(html, ParseOptions.crawl)

  private def parseBytesWith(html: Array[Byte], opts: ParseOptions): VDoc = {
    val arena = arenaFor(html.length)
    if (Parser.parseIntoUtf8(arena, html, opts).isEmpty) new VDoc(arena) else null
  }

  /** the general engine's find(selector) from the root, in document
    * order; null for an invalid selector. */
  private def findAll(doc: VDoc, selector: String): ArrayBuffer[Int] =
    compiled(selector) match {
      case Right(sel) => Engine.findSelector(doc, ArrayBuffer(0), sel)
      case Left(_) => null
    }

  /** a selector's comma groups as flat compounds when every group is a
    * single-segment descendant predicate of non-positional simples
    * (matching is done on the intact tree, exactly like find): these
    * qualify for the fused one-pass tree walk instead of the general
    * engine. Null when any group needs the engine. */
  private def simpleCompounds(selStr: String): Array[Array[Simple]] =
    compiled(selStr) match {
      case Right(sel) if sel.process.forall(p =>
        p.shouldIn.isEmpty && p.query.lengthCompare(1) == 0 &&
          p.query.head.comb == graft.selector.Combinator.ChildrenAll &&
          !p.query.head.simples.exists(Engine.isPositional)) =>
        sel.process.iterator.map(_.query.head.simples.toArray).toArray
      case _ => null
    }

  /** node-local simples (tag/class/id/attr): a candidate made of them can
    * be tested mid-walk regardless of pending removals (`#id` is resolved
    * by the walk itself, see [[FusedWalk]]). */
  private def nodeLocal(s: Simple): Boolean = s match {
    case Simple.All | _: Simple.Tag | _: Simple.Cls | _: Simple.Id | _: Simple.Attr => true
    case _ => false
  }

  /** one node-local compound per candidate selector, or null if any
    * candidate needs the general engine. */
  private def candidateCompounds(recipe: Recipe): Array[Array[Simple]] = {
    val out = recipe.mainCandidates.map(simpleCompounds).toArray
    if (out.forall(c => c != null && c.length == 1 && c(0).forall(nodeLocal))) out.map(_(0))
    else null
  }

  /** fused-walk programs per recipe and per selector string, compiled once
    * per JVM (selectMain and the extract_* entries run per ROW); the
    * sentinel marks "needs the general engine". Same cap discipline as
    * the selector cache. */
  private val recipeCache = new ConcurrentHashMap[Recipe, FusedWalk.Program]()
  private val programCache = new ConcurrentHashMap[String, FusedWalk.Program]()
  private val NoProgram = FusedWalk.compile(Array.empty, Array.empty, strip = false)

  private def cached[K](cache: ConcurrentHashMap[K, FusedWalk.Program], key: K)(
      make: => FusedWalk.Program): FusedWalk.Program = {
    var hit = cache.get(key)
    if (hit == null) {
      val made = make
      hit = if (made == null) NoProgram else made
      if (cache.size < SelectorCacheCap) cache.putIfAbsent(key, hit)
    }
    if (hit eq NoProgram) null else hit
  }

  private def recipeProgram(recipe: Recipe): FusedWalk.Program = cached(recipeCache, recipe) {
    val strip = simpleCompounds(recipe.remove)
    val cands = candidateCompounds(recipe)
    if (strip == null || cands == null) null else FusedWalk.compile(strip, cands, strip = true)
  }

  private def selectorProgram(selStr: String): FusedWalk.Program = cached(programCache, selStr) {
    val groups = simpleCompounds(selStr)
    if (groups == null) null else FusedWalk.compile(groups, Array.empty, strip = false)
  }

  /** the recipe's main-content element after boilerplate removal (0, the
    * root, when no candidate matches); selectors come from the per-JVM
    * parse cache.
    *
    * Fast path (the default recipe shape): ONE fused tree pass does both
    * the strip match and the candidate match — a strip-matched element is
    * recorded for removal and its subtree is NOT entered (removing the
    * root detaches everything below, and candidates must not come from
    * stripped subtrees), which skips the bulk of a boilerplate-heavy page.
    * Candidate simples are node-local, and a candidate's `#id` is the
    * first non-stripped element carrying it, so the result equals
    * remove-then-find even when a stripped subtree holds a duplicate id.
    * Falls back to the general engine otherwise. */
  private def selectMain(doc: VDoc, recipe: Recipe): Int = {
    val prog = recipeProgram(recipe)
    if (prog != null) {
      val w = FusedWalk.walk(doc, prog)
      var i = 0
      while (i < w.nHits) { doc.arena.detach(w.hits(i)); i += 1 }
      i = 0
      while (i < prog.cands.length) {
        if (w.first(i) >= 0) return w.first(i)
        i += 1
      }
      return 0
    }
    val root = doc.rootElems
    root.find(recipe.remove).remove()
    val it = recipe.mainCandidates.iterator
    while (it.hasNext) {
      val found = root.find(it.next())
      if (found.nonEmpty) return found.ids(0)
    }
    0
  }

  private def extractMainFrom(doc: VDoc, recipe: Recipe): String =
    if (doc == null) null else new Elems(doc, Array(selectMain(doc, recipe))).text()

  /** main-content extraction: remove boilerplate, pick the first matching
    * main-content candidate, return its text(). Null on parse failure. */
  def extractMain(html: String, recipe: Recipe): String =
    extractMainFrom(parse(html), recipe)

  def extractMain(htmlBytes: Array[Byte], recipe: Recipe): String =
    if (htmlBytes == null) null
    else extractMainFrom(parseBytes(htmlBytes), recipe)

  /** generic `extract_text(html, selector)` — text() of all matches. */
  def extractText(html: String, selector: String): String = {
    val doc = parse(html)
    if (doc == null) return null
    val found = findAll(doc, selector)
    if (found == null) return null
    val sb = new java.lang.StringBuilder(64)
    found.foreach(e => doc.arena.textContent(e, sb))
    sb.toString
  }

  /** static entry used from generated code (ExtractText.doGenCode).
    * Defensive like every BINARY entry: ANY per-row failure yields null —
    * the same bytes must have the same fate whether the column is STRING
    * or BINARY. */
  def extractTextCodegen(html: UTF8String, selector: UTF8String): UTF8String =
    if (html == null) null else extractTextCodegenBinary(html.getBytes, selector)

  private val utf8Out = new ThreadLocal[Utf8Builder] {
    override def initialValue(): Utf8Builder = new Utf8Builder()
  }

  /** the output slab gets the same pin-guard as the arena: one rare giant
    * extracted text must not hold executor memory for the thread's
    * lifetime. */
  private def outBuilder(): Utf8Builder = {
    val b = utf8Out.get()
    if (b.buf.length > ArenaShrinkChars) {
      val fresh = new Utf8Builder()
      utf8Out.set(fresh)
      fresh
    } else b
  }

  /** hot path: bytes in, UTF-8 bytes out — no UTF-16 String round trip. */
  def extractMainCodegen(html: Array[Byte]): UTF8String =
    extractMainUtf8(html, ParseOptions.compat)

  /** STRING entries delegate to the byte-native paths via the UTF8String's
    * underlying UTF-8 bytes: no UTF-16 round trip of the page, and STRING
    * and BINARY columns give the same bytes the same fate by construction
    * (the round-4 interpreted-vs-codegen unification, now structural). */
  def extractMainCodegenStr(html: UTF8String): UTF8String =
    if (html == null) null else extractMainCodegen(html.getBytes)

  /** `extract_main_crawl` static entries: the SAME boilerplate-strip
    * recipe over the CRAWL parse profile — on fragment pages the implied
    * `body` gives the recipe's `body` candidate something to match, so
    * extraction returns main content instead of falling back to the whole
    * root (titles and all). */
  def extractMainCrawlCodegen(html: Array[Byte]): UTF8String =
    extractMainUtf8(html, ParseOptions.crawl)

  def extractMainCrawlCodegenStr(html: UTF8String): UTF8String =
    if (html == null) null else extractMainCrawlCodegen(html.getBytes)

  /** the default recipe's main text as UTF-8 under a parse profile.
    * Defensive: ANY per-row failure (parse error, pathological input)
    * yields null — a lineage `failure_count` increment, never a task
    * failure. */
  private def extractMainUtf8(html: Array[Byte], opts: ParseOptions): UTF8String = {
    if (html == null) return null
    try {
      val doc = parseBytesWith(html, opts)
      if (doc == null) return null
      val main = selectMain(doc, Recipe.default)
      val ub = outBuilder()
      ub.reset()
      doc.arena.textContentUtf8(main, ub)
      UTF8String.fromBytes(ub.toBytes)
    } catch {
      // belt over the parser's maxDepth=2048 cap: should a recursive walk
      // ever overflow the task stack anyway, the row degrades to null
      // after full unwind instead of failing the task (NonFatal does not
      // match StackOverflowError)
      case NonFatal(_) | _: StackOverflowError => null
    }
  }

  /** byte-native hot path for BINARY input: UTF-8 in (parseBytes), UTF-8 out
    * (Utf8Builder) — no UTF-16 String round trip of the page, same as
    * extract_main's path. */
  def extractTextCodegenBinary(html: Array[Byte], selector: UTF8String): UTF8String = {
    if (html == null || selector == null) return null
    try {
      val doc = parseBytes(html)
      if (doc == null) return null
      val selStr = selector.toString
      val prog = selectorProgram(selStr)
      val ub = outBuilder()
      ub.reset()
      if (prog != null) {
        // fused fast path: find()'s doc-order union-with-dedup over simple
        // comma groups IS one doc-order walk testing each element once
        // (nested matches included, exactly like the general engine)
        val w = FusedWalk.walk(doc, prog)
        var i = 0
        while (i < w.nHits) { doc.arena.textContentUtf8(w.hits(i), ub); i += 1 }
      } else {
        val found = findAll(doc, selStr)
        if (found == null) return null
        found.foreach(e => doc.arena.textContentUtf8(e, ub))
      }
      UTF8String.fromBytes(ub.toBytes)
    } catch {
      case NonFatal(_) | _: StackOverflowError => null // row degrades, task survives (see first belt note)
    }
  }

  /** outerHtml() of every selector match in document order (the reference
    * flow find(sel) + outer_html, reference elements.rs render path). */
  private def extractOuterHtmlFrom(doc: VDoc, selector: String): Array[String] = {
    val found = findAll(doc, selector)
    if (found == null) null else found.map(e => new Elems(doc, Array(e)).outerHtml()).toArray
  }

  def extractOuterHtmlCodegen(html: UTF8String, sel: UTF8String): ArrayData =
    if (html == null) null else extractOuterHtmlCodegenBinary(html.getBytes, sel)

  /** byte-native BINARY path (parseBytes; only the matched snippets
    * materialize as Strings). */
  def extractOuterHtmlCodegenBinary(html: Array[Byte], sel: UTF8String): ArrayData = {
    if (html == null || sel == null) return null
    try {
      val doc = parseBytes(html)
      if (doc == null) return null
      attrsToArrayData(extractOuterHtmlFrom(doc, sel.toString))
    } catch {
      case NonFatal(_) | _: StackOverflowError => null // row degrades, task survives (see first belt note)
    }
  }

  /** `attr(name)` of every selector match, in document order (the reference
    * flow `find(sel)` + per-element `attr`, reference elements.rs:3191);
    * null on parse/selector failure, null entries never emitted —
    * boolean attributes yield "" (IAttrValue::True analog). */
  def extractAttrs(html: String, selector: String, attrName: String): Array[String] = {
    val doc = parse(html)
    if (doc == null) return null
    extractAttrsFrom(doc, selector, attrName)
  }

  private def extractAttrsFrom(doc: VDoc, selector: String, attrName: String): Array[String] = {
    val found = findAll(doc, selector)
    if (found == null) null
    else found.flatMap(e => new Elems(doc, Array(e)).attr(attrName).map(_.value)).toArray
  }

  /** codegen entries for extract_attrs / extract_count (static calls from
    * generated code; null propagates as SQL NULL). */
  def extractAttrsCodegen(html: UTF8String, sel: UTF8String, attr: UTF8String): ArrayData =
    if (html == null) null else extractAttrsCodegenBinary(html.getBytes, sel, attr)

  /** byte-native BINARY path: the page parses straight from UTF-8 (no
    * UTF-16 inflation); only the small matched attr values materialize as
    * Strings. */
  def extractAttrsCodegenBinary(html: Array[Byte], sel: UTF8String, attr: UTF8String): ArrayData = {
    if (html == null || sel == null || attr == null) return null
    try {
      val doc = parseBytes(html)
      if (doc == null) return null
      val selStr = sel.toString
      val attrName = attr.toString
      val prog = selectorProgram(selStr)
      if (prog != null) {
        // fused walk (same contract as extract_text); only matched
        // elements' attr values materialize
        val w = FusedWalk.walk(doc, prog)
        val out = new scala.collection.mutable.ArrayBuffer[String](8)
        var i = 0
        while (i < w.nHits) {
          new Elems(doc, Array(w.hits(i))).attr(attrName).foreach(v => out += v.value)
          i += 1
        }
        attrsToArrayData(out.toArray)
      } else attrsToArrayData(extractAttrsFrom(doc, selStr, attrName))
    } catch {
      case NonFatal(_) | _: StackOverflowError => null // row degrades, task survives (see first belt note)
    }
  }

  private def attrsToArrayData(out: Array[String]): ArrayData =
    if (out == null) null
    else new GenericArrayData(
      out.map(v => UTF8String.fromString(v).asInstanceOf[Any]))

  def extractCountCodegen(html: UTF8String, sel: UTF8String): java.lang.Long =
    if (html == null) null else extractCountCodegenBinary(html.getBytes, sel)

  /** byte-native BINARY path: parseBytes, never a page-sized String. */
  def extractCountCodegenBinary(html: Array[Byte], sel: UTF8String): java.lang.Long = {
    if (html == null || sel == null) return null
    try {
      val doc = parseBytes(html)
      if (doc == null) return null
      val selStr = sel.toString
      val prog = selectorProgram(selStr)
      if (prog != null) java.lang.Long.valueOf(FusedWalk.walk(doc, prog).nHits.toLong)
      else extractCountFrom(doc, selStr)
    } catch {
      case NonFatal(_) | _: StackOverflowError => null // row degrades, task survives (see first belt note)
    }
  }

  /** number of selector matches (find(sel).length at SQL level); -1 is
    * never emitted — null on parse/selector failure. */
  def extractCount(html: String, selector: String): java.lang.Long = {
    val doc = parse(html)
    if (doc == null) null else extractCountFrom(doc, selector)
  }

  private def extractCountFrom(doc: VDoc, selector: String): java.lang.Long = {
    val found = findAll(doc, selector)
    if (found == null) null else java.lang.Long.valueOf(found.length.toLong)
  }

  /** `extract_links(html, base_url)` static entries: every `a[href]` in
    * document order, resolved per RFC 3986 against the page's effective
    * base and normalized to crawl identity ([[UrlOps.normalize]]). The
    * effective base is the first `base[href]` element resolved against
    * `base_url` (HTML's document-base rule — one base per document,
    * first wins), else `base_url` itself. Unresolvable / unnormalizable
    * hrefs are skipped (crawl tolerance); parse failure yields null. */
  def extractLinksCodegen(html: UTF8String, base: UTF8String): ArrayData =
    if (html == null) null else extractLinksCodegenBinary(html.getBytes, base)

  /** the page's effective base URL: HTML's document-base rule — the
    * first `base[href]` element wins, itself resolved against the page
    * URL; the page URL otherwise. Hrefs are entity-decoded here (attr()
    * returns raw source bytes, reference parity — links are the one
    * place the HTML-level value matters). */
  private def effectiveBase(doc: VDoc, pageUrl: String): String = {
    val baseHrefs = extractAttrsFrom(doc, "base[href]", "href")
    val b =
      if (baseHrefs != null && baseHrefs.nonEmpty)
        UrlOps.resolve(pageUrl, Entities.decode(baseHrefs(0)))
      else null
    if (b != null) b else pageUrl
  }

  /** byte-native BINARY path: parseBytes, only hrefs materialize as
    * Strings. */
  def extractLinksCodegenBinary(html: Array[Byte], base: UTF8String): ArrayData = {
    if (html == null || base == null) return null
    try {
      val doc = parseBytes(html)
      if (doc == null) return null
      val pageUrl = base.toString
      val effBase = effectiveBase(doc, pageUrl)
      val hrefs = extractAttrsFrom(doc, "a[href]", "href")
      if (hrefs == null) return null
      // split the base ONCE per page, not per href (pages carry
      // thousands of links at crawl scale)
      val bSplit = UrlOps.split(UrlOps.preClean(effBase))
      val out = new scala.collection.mutable.ArrayBuffer[String](hrefs.length)
      var i = 0
      while (i < hrefs.length) {
        val r = UrlOps.resolveParsed(bSplit, Entities.decode(hrefs(i)))
        if (r != null) {
          val n = UrlOps.normalize(r)
          if (n != null) out += n
        }
        i += 1
      }
      attrsToArrayData(out.toArray)
    } catch {
      case NonFatal(_) | _: StackOverflowError => null // row degrades, task survives (see first belt note)
    }
  }

  /** `extract_anchors(html, base_url)` static entries: every `a[href]`
    * in document order as STRUCT<href, text> — the WAT-style anchor
    * signal (inbound anchor text is a page-quality / relevance feature a
    * links-only extraction throws away). `href` resolves and normalizes
    * exactly like [[extractLinksCodegenBinary]]; `text` is the anchor's
    * extracted text (the parity `text()`). Unresolvable hrefs are
    * skipped; parse failure yields null. */
  def extractAnchorsCodegen(html: UTF8String, base: UTF8String): ArrayData =
    if (html == null) null else extractAnchorsCodegenBinary(html.getBytes, base)

  def extractAnchorsCodegenBinary(html: Array[Byte], base: UTF8String): ArrayData = {
    if (html == null || base == null) return null
    try {
      val doc = parseBytes(html)
      if (doc == null) return null
      val effBase = effectiveBase(doc, base.toString)
      val bSplit = UrlOps.split(UrlOps.preClean(effBase))
      val found = findAll(doc, "a[href]")
      val out = new ArrayBuffer[InternalRow](found.length)
      found.foreach { e =>
        val el = new Elems(doc, Array(e))
        el.attr("href").foreach { v =>
          val r = UrlOps.resolveParsed(bSplit, Entities.decode(v.value))
          if (r != null) {
            val n = UrlOps.normalize(r)
            if (n != null) out += new GenericInternalRow(
              Array[Any](
                UTF8String.fromString(n),
                UTF8String.fromString(el.text())))
          }
        }
      }
      new GenericArrayData(
        out.toArray[Any])
    } catch {
      case NonFatal(_) | _: StackOverflowError => null
    }
  }

  /** `extract_canonical(html, base_url)`: the first
    * `link[rel~=canonical][href]` (rel is a case-insensitive token
    * list), resolved against the document base and normalized — the
    * dedup-cluster key a crawl keeps per page. Null when absent. */
  def extractCanonicalCodegen(html: UTF8String, base: UTF8String): UTF8String =
    if (html == null) null else extractCanonicalCodegenBinary(html.getBytes, base)

  def extractCanonicalCodegenBinary(html: Array[Byte], base: UTF8String): UTF8String = {
    if (html == null || base == null) return null
    try {
      val doc = parseBytes(html)
      if (doc == null) return null
      val url = findRelUrl(doc, base.toString)
      if (url == null) null else UTF8String.fromString(url)
    } catch {
      case NonFatal(_) | _: StackOverflowError => null
    }
  }

  private def findRelUrl(doc: VDoc, pageUrl: String): String = {
    val found = findAll(doc, "link[href]")
    // one base[href] scan per DOCUMENT, not per candidate link
    lazy val effBase = effectiveBase(doc, pageUrl)
    var i = 0
    while (i < found.length) {
      val el = new Elems(doc, Array(found(i)))
      val rel = el.attr("rel")
      // rel matches on the HTML-level (entity-decoded) value, like
      // href — attr() itself stays raw-source
      if (rel.isDefined && hasToken(Entities.decode(rel.get.value), "canonical")) {
        val href = el.attr("href")
        if (href.isDefined) {
          val r = UrlOps.resolve(effBase, Entities.decode(href.get.value))
          if (r != null) {
            val n = UrlOps.normalize(r)
            if (n != null) return n
          }
        }
      }
      i += 1
    }
    null
  }

  /** case-insensitive membership in an HTML space-separated token list
    * (the rel attribute's grammar). */
  private def hasToken(list: String, token: String): Boolean = {
    var i = 0
    val n = list.length
    while (i < n) {
      while (i < n && Character.isWhitespace(list.charAt(i))) i += 1
      var j = i
      while (j < n && !Character.isWhitespace(list.charAt(j))) j += 1
      if (j - i == token.length && list.regionMatches(true, i, token, 0, token.length))
        return true
      i = j
    }
    false
  }

  /** `extract_refresh(html, base_url)`: the redirect target of a
    * `meta[http-equiv=refresh]` (WHATWG content grammar:
    * `delay [;,] [url=] TARGET`, quotes optional, all case-insensitive),
    * resolved + normalized. Null when absent or the refresh has no URL
    * part (self-refresh). */
  def extractRefreshCodegen(html: UTF8String, base: UTF8String): UTF8String =
    if (html == null) null else extractRefreshCodegenBinary(html.getBytes, base)

  def extractRefreshCodegenBinary(html: Array[Byte], base: UTF8String): UTF8String = {
    if (html == null || base == null) return null
    try {
      val doc = parseBytes(html)
      if (doc == null) return null
      val url = findRefreshUrl(doc, base.toString)
      if (url == null) null else UTF8String.fromString(url)
    } catch {
      case NonFatal(_) | _: StackOverflowError => null
    }
  }

  private def findRefreshUrl(doc: VDoc, pageUrl: String): String = {
    val found = findAll(doc, "meta[http-equiv][content]")
    lazy val effBase = effectiveBase(doc, pageUrl)
    var i = 0
    while (i < found.length) {
      val el = new Elems(doc, Array(found(i)))
      val he = el.attr("http-equiv")
      if (he.isDefined &&
        Entities.decode(he.get.value).equalsIgnoreCase("refresh")) {
        val content = el.attr("content")
        if (content.isDefined) {
          val target = parseRefreshContent(Entities.decode(content.get.value))
          if (target != null) {
            val r = UrlOps.resolve(effBase, target)
            if (r != null) {
              val n = UrlOps.normalize(r)
              if (n != null) return n
            }
          }
        }
      }
      i += 1
    }
    null
  }

  /** WHATWG shared-declarative-refresh steps: leading ws, REQUIRED delay
    * digits (no digits = invalid, not a redirect), optional fraction,
    * then a ws / ';' / ',' separator (plain whitespace is valid — no
    * other char is), optional case-insensitive `url` `=` prefix, and a
    * quoted target TRUNCATED at its close quote. Null when invalid or
    * delay-only (self-refresh carries no redirect edge). */
  private[spark] def parseRefreshContent(content: String): String = {
    val n = content.length
    var i = 0
    while (i < n && Character.isWhitespace(content.charAt(i))) i += 1
    val digitStart = i
    while (i < n && content.charAt(i) >= '0' && content.charAt(i) <= '9') i += 1
    if (i == digitStart) return null
    if (i < n && content.charAt(i) == '.') {
      i += 1
      while (i < n && content.charAt(i) >= '0' && content.charAt(i) <= '9') i += 1
    }
    if (i >= n) return null
    val sep = content.charAt(i)
    if (!(Character.isWhitespace(sep) || sep == ';' || sep == ',')) return null
    while (i < n && Character.isWhitespace(content.charAt(i))) i += 1
    if (i < n && (content.charAt(i) == ';' || content.charAt(i) == ',')) i += 1
    while (i < n && Character.isWhitespace(content.charAt(i))) i += 1
    if (i >= n) return null
    val mark = i
    if (n - i >= 3 && content.regionMatches(true, i, "url", 0, 3)) {
      var j = i + 3
      while (j < n && Character.isWhitespace(content.charAt(j))) j += 1
      if (j < n && content.charAt(j) == '=') {
        j += 1
        while (j < n && Character.isWhitespace(content.charAt(j))) j += 1
        i = j
      } else i = mark // "url" without '=' is part of the target itself
    }
    if (i >= n) return null
    val q = content.charAt(i)
    val s = (if (q == '"' || q == '\'') {
      val close = content.indexOf(q, i + 1)
      if (close >= 0) content.substring(i + 1, close) else content.substring(i + 1)
    } else content.substring(i)).trim
    if (s.isEmpty) null else s
  }
}
