package graft.expressions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Serializable Aho–Corasick automaton over a categorized term list —
  * the multi-pattern matcher behind [[graft.operators.Blocklist]].
  *
  * Why an automaton and not N regexes: the bad-words / URL-blocklist
  * filter a curation pipeline runs before quality scoring carries
  * 10³–10⁴ terms; N separate `rlike`/`replace` passes cost
  * O(N · doc_len) per document, where one AC scan costs
  * O(doc_len + matches) whatever N is. The automaton is built ONCE on
  * the driver (O(Σ term lengths)), broadcast, and referenced by the
  * codegen'd [[BlocklistHits]] expression, which carries the
  * Broadcast handle as construction state.
  *
  * Matching semantics (pinned by the scalacheck parity spec and the
  * q183 oracle): EVERY occurrence of every term counts — overlapping
  * occurrences, occurrences inside longer words, and terms that are
  * suffixes of other terms all count, per (term, category) row (a
  * term listed under two categories counts for both). Matching is
  * case-INSENSITIVE with ONE folding rule everywhere (round 11 —
  * previously hits lowered the whole string, redact folded per char,
  * and terms folded locale-sensitively, three subtly different maps):
  * each UTF-16 char of both terms (at build) and text (at scan) maps
  * through `Character.toLowerCase` — locale-independent, and equal to
  * SQL `LOWER` on ASCII, which is what lets the DuckDB oracles mirror
  * with `LOWER`. Full-string lowercasing differs only on the
  * locale-sensitive multi-char mappings (e.g. U+0130 → "i" + combining
  * dot); those are outside the contract.
  *
  * Representation (round 11 — the at-scale rewrite): the scan IS the
  * blocklist family's entire cost at corpus scale, so the hot loop
  * reads the [[UTF8String]]'s bytes directly (no per-document
  * `toString` copy) and steps through a DENSE precomputed goto table
  * for the ASCII alphabet — `dfa(state · 128 + c)`, the full automaton
  * with fail transitions resolved at build time, so the ASCII path
  * does zero fail chases and zero boxing. Non-ASCII term chars live in
  * per-node fallback maps walked with classic fail chasing (cold path;
  * most blocklists are pure ASCII). Memory: 512 B per trie node for
  * the dense row — a 10⁴-term list at ~10 chars/term broadcasts
  * ~50 MB, comfortably inside executor broadcast budgets; per-node
  * match counts are pre-aggregated through the fail chain at build
  * time, so the scan never walks suffix links for output.
  *
  * The byte walker decodes UTF-8 inline (1–4 byte sequences;
  * supplementary code points step the automaton as their two UTF-16
  * surrogates, exactly like the String-based walk it replaces).
  * Malformed sequences — which valid Spark string data never contains
  * — reset to the root and advance one byte.
  */
final class AhoCorasick private (
    val categories: Array[String],
    dfa: Array[Int],
    ext: Array[java.util.HashMap[Character, Integer]],
    fail: Array[Int],
    outCat: Array[Array[Int]],
    outCnt: Array[Array[Long]],
    outLens: Array[Array[Int]]) extends Serializable {

  /** goto for a folded char (any value): dense row for ASCII, fail
    * chase over the sparse fallback maps otherwise.
    */
  private def stepFolded(cur0: Int, c: Char): Int =
    if (c < 128) dfa((cur0 << 7) + c)
    else {
      var cur = cur0
      var nxt = extGet(cur, c)
      while (cur != 0 && nxt < 0) { cur = fail(cur); nxt = extGet(cur, c) }
      if (nxt < 0) 0 else nxt
    }

  private def extGet(u: Int, c: Char): Int = {
    val m = ext(u)
    if (m == null) -1
    else {
      val v = m.get(Character.valueOf(c))
      if (v == null) -1 else v.intValue()
    }
  }

  @inline private def fold(c: Char): Char =
    if (c >= 'A' && c <= 'Z') (c + 32).toChar
    else if (c < 128) c
    else Character.toLowerCase(c)

  @inline private def addHits(cur: Int, out: Array[Long]): Unit = {
    val cats = outCat(cur)
    if (cats != null) {
      val cnts = outCnt(cur)
      var j = 0
      while (j < cats.length) { out(cats(j)) += cnts(j); j += 1 }
    }
  }

  /** Per-category occurrence counts of all terms in `text` — one
    * left-to-right pass over the raw UTF-8 bytes, O(len + matches).
    */
  def countHits(text: UTF8String): Array[Long] = {
    val out = new Array[Long](categories.length)
    val n = text.numBytes
    var cur = 0
    var i = 0
    while (i < n) {
      val b0 = text.getByte(i) & 0xff
      if (b0 < 0x80) {
        // ASCII fast path: fold inline, one dense-table load
        val c = if (b0 >= 'A' && b0 <= 'Z') b0 + 32 else b0
        cur = dfa((cur << 7) + c)
        i += 1
      } else if ((b0 & 0xe0) == 0xc0 && i + 1 < n) {
        val cp = ((b0 & 0x1f) << 6) | (text.getByte(i + 1) & 0x3f)
        cur = stepFolded(cur, fold(cp.toChar))
        i += 2
      } else if ((b0 & 0xf0) == 0xe0 && i + 2 < n) {
        val cp = ((b0 & 0x0f) << 12) | ((text.getByte(i + 1) & 0x3f) << 6) |
          (text.getByte(i + 2) & 0x3f)
        cur = stepFolded(cur, fold(cp.toChar))
        i += 3
      } else if ((b0 & 0xf8) == 0xf0 && i + 3 < n) {
        val cp = ((b0 & 0x07) << 18) | ((text.getByte(i + 1) & 0x3f) << 12) |
          ((text.getByte(i + 2) & 0x3f) << 6) | (text.getByte(i + 3) & 0x3f)
        val u = cp - 0x10000
        cur = stepFolded(cur, fold((0xd800 + (u >> 10)).toChar))
        addHits(cur, out)
        cur = stepFolded(cur, fold((0xdc00 + (u & 0x3ff)).toChar))
        i += 4
      } else { cur = 0; i += 1 }
      addHits(cur, out)
    }
    out
  }

  /** Redact every character covered by ANY term occurrence (the union
    * of all match intervals — overlapping and nested matches merge
    * into one masked run) with `maskChar`, preserving the original
    * characters everywhere else. Returns (redacted, nMasked) where
    * nMasked is the exact count of covered positions (UTF-16 chars).
    *
    * One byte-level AC scan + a difference-array interval accumulation
    * — O(len + matches), no per-interval inner loop. `outLens` carries
    * the DISTINCT match lengths ending at each node (a node's own
    * terminal length is its trie depth; the fail chain contributes the
    * proper-suffix terms' depths), so each match end marks its
    * interval directly. Clean documents return the INPUT UTF8String —
    * zero copies on the overwhelmingly-common no-match path; only a
    * matched document materializes a char array.
    */
  def redact(text: UTF8String, maskChar: Char): (UTF8String, Int) = {
    val n = text.numBytes
    if (n == 0) return (text, 0)
    var diff: Array[Int] = null
    var cur = 0
    var i = 0
    var ci = 0 // UTF-16 char index of the char just consumed
    @inline def mark(endCi: Int): Unit = {
      val lens = outLens(cur)
      if (lens != null) {
        // sized by BYTE length + 1: the UTF-16 char count is always
        // <= the byte count (4-byte code points are 2 chars), and the
        // exact char count isn't known until the scan finishes
        if (diff == null) diff = new Array[Int](n + 1)
        var j = 0
        while (j < lens.length) {
          diff(endCi - lens(j) + 1) += 1
          diff(endCi + 1) -= 1
          j += 1
        }
      }
    }
    while (i < n) {
      val b0 = text.getByte(i) & 0xff
      if (b0 < 0x80) {
        val c = if (b0 >= 'A' && b0 <= 'Z') b0 + 32 else b0
        cur = dfa((cur << 7) + c)
        i += 1
      } else if ((b0 & 0xe0) == 0xc0 && i + 1 < n) {
        val cp = ((b0 & 0x1f) << 6) | (text.getByte(i + 1) & 0x3f)
        cur = stepFolded(cur, fold(cp.toChar))
        i += 2
      } else if ((b0 & 0xf0) == 0xe0 && i + 2 < n) {
        val cp = ((b0 & 0x0f) << 12) | ((text.getByte(i + 1) & 0x3f) << 6) |
          (text.getByte(i + 2) & 0x3f)
        cur = stepFolded(cur, fold(cp.toChar))
        i += 3
      } else if ((b0 & 0xf8) == 0xf0 && i + 3 < n) {
        val cp = ((b0 & 0x07) << 18) | ((text.getByte(i + 1) & 0x3f) << 12) |
          ((text.getByte(i + 2) & 0x3f) << 6) | (text.getByte(i + 3) & 0x3f)
        val u = cp - 0x10000
        cur = stepFolded(cur, fold((0xd800 + (u >> 10)).toChar))
        mark(ci)
        ci += 1
        cur = stepFolded(cur, fold((0xdc00 + (u & 0x3ff)).toChar))
        i += 4
      } else { cur = 0; i += 1 }
      mark(ci)
      ci += 1
    }
    if (diff == null) return (text, 0)
    val out = text.toString.toCharArray
    var cov = 0
    var masked = 0
    i = 0
    val lim = out.length
    while (i < lim) {
      cov += diff(i)
      if (cov > 0) { out(i) = maskChar; masked += 1 }
      i += 1
    }
    (UTF8String.fromString(new String(out)), masked)
  }
}

object AhoCorasick {

  /** Build from (term, category) rows; terms must be non-empty. Terms
    * are folded per char with `Character.toLowerCase` — the one
    * folding rule shared with the scan. `categories` on the result is
    * the SORTED distinct category list — the index space of
    * [[AhoCorasick.countHits]]'s output array.
    *
    * Construction: trie insert, then ONE BFS that simultaneously
    * resolves fail links, pre-aggregates match counts/lengths through
    * the fail chain, and completes the dense ASCII goto table
    * (`goto(u, c) = edge(u, c)` if present else `goto(fail(u), c)` —
    * well-defined in BFS order because fail targets are strictly
    * shallower).
    */
  def build(termCats: Seq[(String, String)]): AhoCorasick = {
    require(termCats.nonEmpty, "blocklist must hold at least one term")
    termCats.foreach { case (t, _) =>
      require(t.nonEmpty, "blocklist terms must be non-empty") }
    val categories = termCats.map(_._2).distinct.sorted.toArray
    val catIdx = categories.zipWithIndex.toMap

    // trie over folded chars: dense ASCII rows + sparse non-ASCII maps
    val rows = scala.collection.mutable.ArrayBuffer(Array.fill(128)(-1))
    val exts = scala.collection.mutable.ArrayBuffer[
      java.util.HashMap[Character, Integer]](null)
    val ownCnt = scala.collection.mutable.ArrayBuffer(
      new Array[Long](categories.length))
    val depth = scala.collection.mutable.ArrayBuffer(0)
    def newNode(d: Int): Int = {
      rows += Array.fill(128)(-1)
      exts += null
      ownCnt += new Array[Long](categories.length)
      depth += d
      rows.size - 1
    }
    termCats.foreach { case (term, cat) =>
      var cur = 0
      term.foreach { c0 =>
        val c = Character.toLowerCase(c0)
        if (c < 128) {
          var nxt = rows(cur)(c)
          if (nxt < 0) { nxt = newNode(depth(cur) + 1); rows(cur)(c) = nxt }
          cur = nxt
        } else {
          if (exts(cur) == null)
            exts(cur) = new java.util.HashMap[Character, Integer]()
          val v = exts(cur).get(Character.valueOf(c))
          val nxt = if (v == null) {
            val nn = newNode(depth(cur) + 1)
            exts(cur).put(Character.valueOf(c), Integer.valueOf(nn))
            nn
          } else v.intValue()
          cur = nxt
        }
      }
      ownCnt(cur)(catIdx(cat)) += 1L
    }

    val n = rows.size
    val fail = new Array[Int](n)
    val agg = Array.tabulate(n)(i => ownCnt(i).clone())
    // distinct match lengths ending at each node: the node's own depth
    // if terminal, plus the fail chain's (proper-suffix terms — their
    // depths are strictly smaller, so the union stays duplicate-free)
    val lens = Array.fill[List[Int]](n)(Nil)
    val dfa = new Array[Int](n << 7)
    def extGoto(start: Int, c: Char): Int = {
      var f = start
      while (f != 0 &&
        (exts(f) == null || exts(f).get(Character.valueOf(c)) == null))
        f = fail(f)
      val m = exts(f)
      if (m == null) 0
      else { val v = m.get(Character.valueOf(c)); if (v == null) 0 else v.intValue() }
    }
    val queue = new java.util.ArrayDeque[Integer]()
    // root row: goto(0, c) = edge or stay at root
    var c = 0
    while (c < 128) {
      val v = rows(0)(c)
      if (v >= 0) { fail(v) = 0; queue.add(v) }
      dfa(c) = math.max(v, 0)
      c += 1
    }
    if (exts(0) != null) exts(0).values().forEach { v =>
      fail(v.intValue()) = 0; queue.add(v)
    }
    while (!queue.isEmpty) {
      val u = queue.poll().intValue()
      // fail(u) is final and strictly shallower — aggregated already
      var k = 0
      while (k < categories.length) {
        agg(u)(k) += agg(fail(u))(k); k += 1
      }
      lens(u) =
        (if (ownCnt(u).exists(_ != 0L)) depth(u) :: lens(fail(u))
         else lens(fail(u)))
      val base = u << 7
      val fbase = fail(u) << 7
      var ch = 0
      while (ch < 128) {
        val v = rows(u)(ch)
        if (v >= 0) {
          fail(v) = dfa(fbase + ch) // goto(fail(u), ch): depth < depth(v)
          queue.add(v)
          dfa(base + ch) = v
        } else dfa(base + ch) = dfa(fbase + ch)
        ch += 1
      }
      if (exts(u) != null) exts(u).forEach { (ech, v) =>
        fail(v.intValue()) = extGoto(fail(u), ech)
        queue.add(v)
      }
    }

    // sparsify: most trie nodes match nothing — store null for them
    val outCat = new Array[Array[Int]](n)
    val outCnt = new Array[Array[Long]](n)
    val outLens = new Array[Array[Int]](n)
    var i = 0
    while (i < n) {
      val nz = agg(i).indices.filter(agg(i)(_) != 0L)
      if (nz.nonEmpty) {
        outCat(i) = nz.toArray
        outCnt(i) = nz.map(agg(i)(_)).toArray
      }
      if (lens(i).nonEmpty) outLens(i) = lens(i).toArray
      i += 1
    }
    new AhoCorasick(categories, dfa, exts.toArray, fail, outCat, outCnt,
      outLens)
  }
}

/** `blocklist_redact(text)` → struct<redacted: string, n_masked: int>
  * — union-of-intervals masking over every term occurrence, automaton
  * carried as broadcast state (see [[AhoCorasick.redact]]).
  */
case class BlocklistRedact(child: Expression, ac: Broadcast[AhoCorasick],
                           maskChar: Char)
    extends UnaryExpression {

  override def dataType: DataType = StructType(Seq(
    StructField("redacted", StringType, nullable = false),
    StructField("n_masked", IntegerType, nullable = false)))
  override def prettyName: String = "blocklist_redact"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"blocklist_redact expects string, got ${t.simpleString}")
  }

  override def nullSafeEval(text: Any): Any =
    BlocklistRedact.compute(text.asInstanceOf[UTF8String], ac.value,
      maskChar)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bc = ctx.addReferenceObj("acBc", ac, classOf[Broadcast[_]].getName)
    nullSafeCodeGen(ctx, ev, t =>
      s"""${ev.value} = graft.expressions.BlocklistRedact.compute($t,
         |  (graft.expressions.AhoCorasick)
         |    ((org.apache.spark.broadcast.Broadcast) $bc).value(),
         |  (char) ${maskChar.toInt});
       """.stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): BlocklistRedact =
    copy(child = newChild)
}

object BlocklistRedact {
  /** Shared interpreted/codegen kernel entry. */
  def compute(text: UTF8String, ac: AhoCorasick,
              maskChar: Char): InternalRow = {
    val (red, masked) = ac.redact(text, maskChar)
    new GenericInternalRow(Array[Any](red, Integer.valueOf(masked)))
  }
}

/** `blocklist_hits(text)` → array<long> of per-category term
  * occurrence counts, automaton carried as broadcast state (built
  * via GraftColumnBridge, not the string registry). Output array
  * index i is category `ac.categories(i)`.
  */
case class BlocklistHits(child: Expression, ac: Broadcast[AhoCorasick])
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "blocklist_hits"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"blocklist_hits expects string, got ${t.simpleString}")
  }

  override def nullSafeEval(text: Any): Any =
    new GenericArrayData(
      ac.value.countHits(text.asInstanceOf[UTF8String]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bc = ctx.addReferenceObj("acBc", ac, classOf[Broadcast[_]].getName)
    nullSafeCodeGen(ctx, ev, t =>
      s"""${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
         |  ((graft.expressions.AhoCorasick)
         |    ((org.apache.spark.broadcast.Broadcast) $bc).value())
         |    .countHits($t));
       """.stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): BlocklistHits =
    copy(child = newChild)
}
