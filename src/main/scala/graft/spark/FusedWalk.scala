package graft.spark

import graft.dom.Arena
import graft.query.{Engine, VDoc}
import graft.selector.Simple
import java.nio.charset.StandardCharsets.UTF_8
import scala.collection.mutable.ArrayBuffer

/** The one document-order walk behind [[Extractor]]'s fused paths, with
  * every selector compound compiled once into byte-level element tests
  * (the reference compiles its selector rules once too — lazy_static rule
  * caches, reference `src/mesdoc/selector/rule.rs:10-12`) instead of
  * re-interpreting `Simple` values at every element.
  *
  * A [[Program]] holds `any` compounds (a selector's comma groups, or a
  * recipe's strip list) and, for the main-content recipe, the ordered
  * candidate compounds. Per element:
  *  - a tag compares the name span against lowercase UTF-8 bytes, length
  *    first, with `Arena.spanEqIgnoreCase`'s ASCII folding; single-tag
  *    `any` compounds are grouped by name length;
  *  - `[k]` and `[k=v]` read one pass over the element's attributes that
  *    finds every key the program tests (first live one, like `findAttr`);
  *    values compare as bytes when `v` is ASCII, else decoded (invalid
  *    UTF-8 decodes to U+FFFD, which a non-ASCII `v` may hold);
  *  - `#id` resolves once per document: for `any` compounds it is
  *    `getElementById` on the intact tree (what `find` means); for
  *    candidates it is the first non-stripped element carrying the id in
  *    document order, i.e. `getElementById` after the removal (what
  *    remove-then-find means);
  *  - anything else (class lists, other attribute operators,
  *    non-positional pseudo-classes) goes through `Engine.matchOne`. */
private[spark] object FusedWalk {

  /** `[keys(key)]` when `value` is null, else `[keys(key)=value]`; `ascii`
    * is `value`'s UTF-8 when it is ASCII, else null. As an id, `value` is
    * the id and `key` the "id" key for a candidate's id, else -1. */
  final class AttrTest(val key: Int, val value: String, val ascii: Array[Byte])

  /** `tag` is null when the compound names none; `ids` index the program's
    * ids; `rest` is left to `Engine.matchOne` */
  final class Compound(val tag: Array[Byte], val attrs: Array[AttrTest],
      val ids: Array[Int], val rest: Array[Simple])

  final class Program(val keys: Array[Array[Byte]], val ids: Array[AttrTest],
      val tagsByLen: Array[Array[Array[Byte]]], val any: Array[Compound],
      val cands: Array[Compound], val strip: Boolean)

  /** with `strip`, the walk records the outermost `any` matches and does
    * not enter them (candidates must not come from stripped subtrees) */
  def compile(any: Array[Array[Simple]], cands: Array[Array[Simple]], strip: Boolean): Program = {
    val keys = ArrayBuffer.empty[String]
    val ids = ArrayBuffer.empty[AttrTest]
    def key(k: String): Int = {
      if (!keys.contains(k)) keys += k
      keys.indexOf(k)
    }
    def compound(simples: Array[Simple], candidate: Boolean): Compound = {
      var tag: Array[Byte] = null
      val attrs = ArrayBuffer.empty[AttrTest]
      val idx = ArrayBuffer.empty[Int]
      val rest = ArrayBuffer.empty[Simple]
      simples.foreach {
        case Simple.All =>
        case Simple.Tag(t) if tag == null => tag = t.getBytes(UTF_8)
        case Simple.Attr(k, op, v) if op == 0 || op == '=' =>
          attrs += new AttrTest(key(k), if (op == 0) null else v, ascii(v))
        case Simple.Id(v) =>
          idx += ids.length
          ids += new AttrTest(if (candidate) key("id") else -1, v, ascii(v))
        case s => rest += s
      }
      new Compound(tag, attrs.toArray, idx.toArray, rest.toArray)
    }
    val (single, others) = any.map(compound(_, candidate = false)).partition(c =>
      c.tag != null && c.attrs.isEmpty && c.ids.isEmpty && c.rest.isEmpty)
    val candC = cands.map(compound(_, candidate = true))
    val byLen = new Array[Array[Array[Byte]]](single.map(_.tag.length + 1).maxOption.getOrElse(0))
    single.groupBy(_.tag.length).foreach { case (n, cs) => byLen(n) = cs.map(_.tag) }
    new Program(keys.map(_.getBytes(UTF_8)).toArray, ids.toArray, byLen, others, candC, strip)
  }

  private def ascii(s: String): Array[Byte] =
    if (s == null || s.exists(_ >= 0x80)) null else s.getBytes(UTF_8)

  /** per-thread walk output, reused across rows: `hits(0 until nHits)` are
    * the `any` matches in document order (outermost only under `strip`),
    * `first(i)` the first element matching candidate `i` (-1 if none).
    * Not reentrant: nothing a walk calls may walk again. */
  final class State {
    var hits = new Array[Int](16)
    var nHits = 0
    var first = new Array[Int](4)
    private[FusedWalk] var slot = new Array[Int](4) // per key: the element's attr, -1 if none
    private[FusedWalk] var idElem = new Array[Int](4) // per id: its element, -1 if none yet
  }

  private val states = new ThreadLocal[State] {
    override def initialValue(): State = new State
  }

  /** walk the document's elements in document order under `p`; the result
    * stays in the thread-local state until the thread's next walk */
  def walk(doc: VDoc, p: Program): State = {
    val st = states.get()
    val a = doc.arena
    st.nHits = 0
    // a rare giant page must not pin its match list for the thread's life
    if (st.hits.length > (1 << 16)) st.hits = new Array[Int](16)
    if (st.slot.length < p.keys.length) st.slot = new Array[Int](p.keys.length)
    if (st.idElem.length < p.ids.length) st.idElem = new Array[Int](p.ids.length)
    if (st.first.length < p.cands.length) st.first = new Array[Int](p.cands.length)
    java.util.Arrays.fill(st.first, 0, p.cands.length, -1)
    var j = 0
    while (j < p.ids.length) {
      st.idElem(j) = if (p.ids(j).key >= 0) -1 else a.getElementById(p.ids(j).value)
      j += 1
    }
    var c = a.firstChild(0)
    while (c >= 0) {
      var enter = false
      if (a.kind(c) == a.ELEM) {
        val hasAttrs = a.attrHead(c) >= 0
        if (hasAttrs && p.keys.length > 0) scanAttrs(a, c, p.keys, st.slot)
        enter = true
        if (matchesAny(doc, c, hasAttrs, p, st)) {
          if (st.nHits == st.hits.length) st.hits = java.util.Arrays.copyOf(st.hits, st.nHits * 2)
          st.hits(st.nHits) = c
          st.nHits += 1
          enter = !p.strip
        } else if (p.cands.length > 0) {
          if (hasAttrs) noteIds(a, c, p, st)
          var i = 0
          while (i < p.cands.length) {
            if (st.first(i) < 0 && matches(doc, c, hasAttrs, p.cands(i), st)) st.first(i) = c
            i += 1
          }
        }
      }
      c = if (enter && a.firstChild(c) >= 0) a.firstChild(c) else following(a, c)
    }
    st
  }

  /** the next node in document order after `node`'s subtree; -1 at the end */
  private def following(a: Arena, node: Int): Int = {
    var n = node
    while (n > 0 && a.nextSib(n) < 0) n = a.parent(n)
    if (n > 0) a.nextSib(n) else -1
  }

  private def scanAttrs(a: Arena, e: Int, keys: Array[Array[Byte]], slot: Array[Int]): Unit = {
    java.util.Arrays.fill(slot, 0, keys.length, -1)
    var at = a.attrHead(e)
    while (at >= 0) {
      if (!a.aRemoved(at)) {
        var k = 0
        while (k < keys.length) {
          if (slot(k) < 0 && a.aKeyLen(at) == keys(k).length && foldEq(a.buf, a.aKeyOff(at), keys(k)))
            slot(k) = at
          k += 1
        }
      }
      at = a.aNext(at)
    }
  }

  /** make `e` the element of every candidate id it is the first to carry */
  private def noteIds(a: Arena, e: Int, p: Program, st: State): Unit = {
    var j = 0
    while (j < p.ids.length) {
      val id = p.ids(j)
      if (id.key >= 0 && st.idElem(j) < 0) {
        val at = st.slot(id.key)
        if (at >= 0 && a.aValOff(at) >= 0 && valueIs(a, at, id)) st.idElem(j) = e
      }
      j += 1
    }
  }

  private def matchesAny(doc: VDoc, e: Int, hasAttrs: Boolean, p: Program, st: State): Boolean = {
    val a = doc.arena
    val len = a.nameLen(e)
    if (len < p.tagsByLen.length && p.tagsByLen(len) != null) {
      val g = p.tagsByLen(len)
      var i = 0
      while (i < g.length) {
        if (foldEq(a.buf, a.nameOff(e), g(i))) return true
        i += 1
      }
    }
    var i = 0
    while (i < p.any.length) {
      if (matches(doc, e, hasAttrs, p.any(i), st)) return true
      i += 1
    }
    false
  }

  private def matches(doc: VDoc, e: Int, hasAttrs: Boolean, c: Compound, st: State): Boolean = {
    val a = doc.arena
    if (c.tag != null && (a.nameLen(e) != c.tag.length || !foldEq(a.buf, a.nameOff(e), c.tag)))
      return false
    var i = 0
    while (i < c.ids.length) {
      if (st.idElem(c.ids(i)) != e) return false
      i += 1
    }
    i = 0
    while (i < c.attrs.length) {
      val t = c.attrs(i)
      val at = if (hasAttrs) st.slot(t.key) else -1
      val ok =
        if (t.value == null) at >= 0
        else if (at < 0 || a.aValOff(at) < 0) t.value.isEmpty // no value: `Engine.matchAttr`'s '='
        else valueIs(a, at, t)
      if (!ok) return false
      i += 1
    }
    i = 0
    while (i < c.rest.length) {
      if (!Engine.matchOne(doc, e, c.rest(i))) return false
      i += 1
    }
    true
  }

  /** buf[off, off + lower.length) ASCII-folded equals `lower` */
  private def foldEq(buf: Array[Byte], off: Int, lower: Array[Byte]): Boolean = {
    var i = 0
    while (i < lower.length) {
      val b = buf(off + i)
      if ((if (b >= 'A' && b <= 'Z') (b + 32).toByte else b) != lower(i)) return false
      i += 1
    }
    true
  }

  /** attribute `at`'s value (present) equals `t.value` */
  private def valueIs(a: Arena, at: Int, t: AttrTest): Boolean = {
    val off = a.aValOff(at)
    val len = a.aValLen(at)
    if (t.ascii == null) a.str(off, len) == t.value
    else len == t.ascii.length && java.util.Arrays.equals(a.buf, off, off + len, t.ascii, 0, len)
  }
}
