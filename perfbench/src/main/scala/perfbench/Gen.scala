package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom

/** One generated page with the answers the oracles compare against. Every
  * expected value is written down by the generator while it renders the
  * markup, so no code of the program under test takes part in making it. */
final case class Page(
    url: String,
    warc_ts: java.sql.Timestamp,
    html: Array[Byte],
    text: String,
    // expected values of the select step, one per expression of [[Workloads.Selects]]
    e1: String,
    e2: Seq[String],
    e3: Long,
    e4: String)

/** Seeded page generator owned by the benchmark. It deliberately shares no
  * code with the program's own fixture generators or entity tables, so a
  * change to the program cannot change the workload.
  *
  * A page is a body with boilerplate blocks (nav, aside, header, footer,
  * script, style, `[hidden]`) around one main-content container chosen by
  * template: `<main>`, `[role=main]`, `#content`, or none (body fallback).
  * The number of boilerplate blocks is heavy-tailed. `text` is the
  * main-content text as `extract_main` must return it: the concatenated
  * decoded text nodes of the container, minus the stripped subtrees. */
object Gen {

  /** a reproducible generator stream per (seed, index) */
  def rng(seed: Long, i: Long): SplittableRandom = new SplittableRandom(mix(seed * 0x9E3779B97F4A7C15L + i))

  def mix(z0: Long): Long = {
    var z = z0
    z = (z ^ (z >>> 33)) * 0xFF51AFD7ED558CCDL
    z = (z ^ (z >>> 33)) * 0xC4CEB9FE1A85EC53L
    z ^ (z >>> 33)
  }

  private val Words = Array(
    "spark", "crawl", "index", "parser", "arena", "lambda", "vector", "stream",
    "token", "quartz", "harbor", "meadow", "copper", "signal", "garden", "orbit",
    "lantern", "basalt", "cedar", "delta", "ember", "fjord", "glacier", "hollow",
    "über", "straße", "café", "naïve", "日本語", "中文", "данные", "😀ok")

  /** (markup, decoded text) pairs: entities and raw non-ASCII text */
  private val Specials = Array(
    ("&amp;", "&"), ("&lt;", "<"), ("&gt;", ">"), ("&quot;", "\""), ("&#39;", "'"),
    ("&#233;", "é"), ("&#x4E2D;", "中"), ("&nbsp;", "\u00A0"), ("&copy;", "©"))

  private val Templates = Array("main", "role", "content", "body")

  /** renders page `i` of the seed's corpus */
  def page(seed: Long, i: Long): Page = new Builder(rng(seed, i), i).build()

  /** power-law host: a few hosts hold most pages */
  private def host(r: SplittableRandom): Int = {
    val u = 1.0 - r.nextDouble()
    math.min(99999, (1.0 / math.pow(u, 1.0 / 0.8)).toInt)
  }

  private final class Builder(r: SplittableRandom, i: Long) {
    private val html = new java.lang.StringBuilder(8192)
    private val text = new java.lang.StringBuilder(2048)
    private val e1 = new java.lang.StringBuilder(256)
    private val e2 = Vector.newBuilder[String]
    private var e3 = 0L
    private val e4 = new java.lang.StringBuilder(256)
    private val template = Templates(r.nextInt(Templates.length))
    // text lands in `text` only inside the main container and outside any
    // stripped subtree; for the body template the whole body is the container
    private var inMain = template == "body"
    private var stripped = 0

    private def visible: Boolean = inMain && stripped == 0
    private def raw(s: String): Unit = html.append(s)
    private def txt(markup: String, decoded: String): Unit = {
      html.append(markup)
      if (visible) text.append(decoded)
    }
    private def word(): String = Words(r.nextInt(Words.length))

    /** a run of words with entities, returning the decoded text */
    private def phrase(n: Int): String = {
      val dec = new java.lang.StringBuilder
      var k = 0
      while (k < n) {
        if (k > 0) { txt(" ", " "); dec.append(" ") }
        if (r.nextInt(9) == 0) {
          val (m, d) = Specials(r.nextInt(Specials.length))
          txt(m, d); dec.append(d)
        } else {
          val w = word(); txt(w, w); dec.append(w)
        }
        k += 1
      }
      dec.toString
    }

    private def open(tag: String, attrs: String = "", strip: Boolean = false): Unit = {
      raw(s"<$tag$attrs>")
      if (strip) stripped += 1
    }
    private def close(tag: String, strip: Boolean = false): Unit = {
      raw(s"</$tag>")
      if (strip) stripped -= 1
    }

    private def paragraph(): Unit = {
      open("p")
      var k = 0
      val parts = 1 + r.nextInt(4)
      while (k < parts) {
        r.nextInt(6) match {
          case 0 => open("b"); phrase(1 + r.nextInt(3)); close("b")
          case 1 => open("em"); phrase(1 + r.nextInt(3)); close("em")
          case 2 => open("a", s""" href="/doc/${r.nextInt(1000)}""""); phrase(1 + r.nextInt(2)); close("a")
          case 3 => raw(s"<!-- note ${r.nextInt(100)} <b>not text</b> -->")
          case _ => phrase(3 + r.nextInt(12))
        }
        txt(" ", " ")
        k += 1
      }
      close("p")
    }

    /** `ul.menu` items; items after a badge item feed e4, odd items feed e1 */
    private def menu(): Unit = {
      val cls = if (r.nextInt(3) == 0) "list" else "menu"
      open("ul", s""" class="$cls"""")
      val n = 2 + r.nextInt(6)
      var prevBadge = false
      var k = 1
      while (k <= n) {
        open("li")
        val badge = r.nextInt(4) == 0
        if (badge) { open("span", """ class="badge""""); txt("new", "new"); close("span") }
        open("a", s""" href="/m/${r.nextInt(500)}"""")
        val t = phrase(1 + r.nextInt(2))
        close("a")
        if (cls == "menu" && (k & 1) == 1) e1.append(t)
        if (prevBadge) e4.append(t)
        close("li")
        prevBadge = badge
        k += 1
      }
      close("ul")
    }

    /** `nav.top` links; hrefs under /cat/3 feed e2 */
    private def navTop(): Unit = {
      open("nav", """ class="top"""", strip = true)
      val n = 3 + r.nextInt(8)
      var k = 0
      while (k < n) {
        val href = s"/cat/${r.nextInt(40)}/${r.nextInt(100)}"
        if (href.startsWith("/cat/3")) e2 += href
        open("a", s""" href="$href"""")
        phrase(1)
        close("a")
        k += 1
      }
      close("nav", strip = true)
    }

    /** rows of class r0/r1/none; `em` in non-r0 rows feed e3 */
    private def table(): Unit = {
      open("table", """ class="grid"""")
      open("tbody")
      val rows = 2 + r.nextInt(5)
      var k = 0
      while (k < rows) {
        val c = r.nextInt(3)
        open("tr", if (c == 2) "" else s""" class="r$c"""")
        var d = 0
        val cells = 1 + r.nextInt(4)
        while (d < cells) {
          open("td")
          if (r.nextInt(2) == 0) {
            open("em"); phrase(1); close("em")
            if (c != 0) e3 += 1
          } else phrase(1 + r.nextInt(2))
          close("td")
          d += 1
        }
        close("tr")
        k += 1
      }
      close("tbody")
      close("table")
    }

    /** one boilerplate block; most are stripped by the main-content recipe */
    private def boilerplate(): Unit = r.nextInt(7) match {
      case 0 => navTop()
      case 1 => open("aside", strip = true); menu(); table(); close("aside", strip = true)
      case 2 => open("div", """ class="links"""", strip = false); menu(); close("div")
      case 3 => open("div", """ class="specs"""", strip = false); table(); close("div")
      case 4 => raw(s"<script>var cfg = {id: ${r.nextInt(1 << 20)}, tag: '<div>'};</script>")
      case 5 => open("div", " hidden", strip = true); paragraph(); close("div", strip = true)
      case _ => open("footer", strip = true); menu(); close("footer", strip = true)
    }

    /** heavy-tailed block count: mostly 1-3, rarely dozens */
    private def level(): Int = math.min(48, (1.0 / math.pow(1.0 - r.nextDouble(), 1.0 / 1.4)).toInt)

    def build(): Page = {
      val h = host(r)
      val url = s"https://h$h.example.org/p/$i-${r.nextInt(1 << 30)}"
      val ts = new java.sql.Timestamp(1700000000000L + r.nextInt(1 << 30).toLong * 1000L)
      raw("<!DOCTYPE html><html><head><title>")
      raw(word())
      raw("</title><style>body{margin:0}</style></head><body>")
      txt("\n", "\n")
      open("header", strip = true); navTop(); close("header", strip = true)
      val lv = level()
      val before = lv / 2
      var k = 0
      while (k < before) { boilerplate(); txt("\n", "\n"); k += 1 }
      template match {
        case "main" => raw("<main>"); inMain = true
        case "role" => raw("""<div role="main">"""); inMain = true
        case "content" => raw("""<div id="content">"""); inMain = true
        case _ => raw("""<div class="page">""")
      }
      open("h1"); phrase(2 + r.nextInt(4)); close("h1")
      val paras = 1 + r.nextInt(6)
      k = 0
      while (k < paras) {
        paragraph()
        if (r.nextInt(3) == 0) boilerplate()
        k += 1
      }
      if (r.nextInt(2) == 0) table()
      template match {
        case "main" => raw("</main>"); inMain = false
        case "body" => raw("</div>")
        case _ => raw("</div>"); inMain = false
      }
      txt("\n", "\n")
      while (k < lv + paras) { boilerplate(); txt("\n", "\n"); k += 1 }
      open("footer", strip = true); phrase(3); close("footer", strip = true)
      raw("</body></html>")
      Page(url, ts, html.toString.getBytes(UTF_8), text.toString,
        e1.toString, e2.result(), e3, e4.toString)
    }
  }

  /** Seeded clustered vectors: `clusters` random centres in [-1, 1]^dim, each
    * vector a centre plus gaussian noise. Returns (vec_id, vector) rows. */
  def vectors(seed: Long, n: Int, dim: Int, clusters: Int, firstId: Long): Array[(Long, Array[Float])] = {
    val cr = rng(seed, -1L)
    val centres = Array.fill(clusters)(Array.fill(dim)(cr.nextDouble() * 2 - 1))
    Array.tabulate(n) { j =>
      val r = rng(seed, firstId + j)
      val c = centres(r.nextInt(clusters))
      (firstId + j, Array.tabulate(dim)(d => (c(d) + gauss(r) * 0.25).toFloat))
    }
  }

  private def gauss(r: SplittableRandom): Double = {
    // Box-Muller; one value per call keeps the stream layout simple
    val u1 = 1.0 - r.nextDouble()
    val u2 = r.nextDouble()
    math.sqrt(-2.0 * math.log(u1)) * math.cos(2 * math.Pi * u2)
  }

  /** 64-bit hash of one row; an input's hash is the sum over its rows, so it
    * does not depend on row order */
  def rowHash(parts: Array[Byte]*): Long = {
    var h1 = 0x12345678
    var h2 = 0x9ABCDEF0
    parts.foreach { p =>
      h1 = scala.util.hashing.MurmurHash3.bytesHash(p, h1)
      h2 = scala.util.hashing.MurmurHash3.bytesHash(p, h2 ^ 0x5bd1e995)
    }
    (h1.toLong << 32) ^ (h2.toLong & 0xFFFFFFFFL)
  }

  def pageHash(p: Page): Long =
    rowHash(p.url.getBytes(UTF_8), p.html, p.text.getBytes(UTF_8), p.e1.getBytes(UTF_8),
      p.e2.mkString("\u0001").getBytes(UTF_8), p.e3.toString.getBytes(UTF_8), p.e4.getBytes(UTF_8))

  def vectorHash(id: Long, v: Array[Float]): Long = {
    val bb = java.nio.ByteBuffer.allocate(8 + 4 * v.length)
    bb.putLong(id); v.foreach(bb.putFloat)
    rowHash(bb.array())
  }
}
