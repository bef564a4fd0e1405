package graft.functions

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/**
 * Single-pass token statistics over whitespace-tokenized text — the native
 * backing of [[graft.ops.TextOps]]'s quality/language/token operators.
 *
 * Why: the former implementations composed Spark higher-order functions
 * (`size(filter(split(text, "\\s+"), ...))`, `aggregate(...)`) — HOFs are
 * CodegenFallback in Spark, so every document paid an interpreted
 * per-element lambda walk plus the materialized token array, and the
 * quality+language gate stack dominated the curation funnel's first job
 * (probed at ~2.5 s per pass over the sf0.1 corpus vs ~0.12 s for the
 * scan). These statics tokenize in one pass with no token-array
 * materialization and run inside whole-stage codegen via the expressions
 * in [[TextExpressions]].
 *
 * Token semantics are EXACTLY `split(text, "\\s+")` + drop-empties, i.e.
 * maximal runs of non-whitespace with Java-regex `\s` = [ \t\n\x0B\f\r]
 * (ASCII-only, not Unicode-aware — matching Spark's `split`). All outputs
 * are integers/strings, mirrored bit-for-bit by the DuckDB oracles.
 */
object TextStats {

  /** Java-regex `\s` exactly: space, \t, \n, \x0B (VT), \f, \r. */
  @inline private def isWs(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'

  /** Whitespace token count (== size(filter(split(s, "\\s+"), _ != ""))). */
  def tokenCount(s: String): Int = {
    var n = 0; var i = 0; val len = s.length
    while (i < len) {
      while (i < len && isWs(s.charAt(i))) i += 1
      if (i < len) { n += 1; while (i < len && !isWs(s.charAt(i))) i += 1 }
    }
    n
  }

  /** BPE-ish subword proxy: sum of ceil(tokenLen / 4) over tokens, with
    * tokenLen in code points (what Spark `length()` and the DuckDB oracle
    * count), so a supplementary-plane character counts once, not twice. */
  def bpeishTokenCount(s: String): Int = {
    var n = 0; var i = 0; val len = s.length
    while (i < len) {
      while (i < len && isWs(s.charAt(i))) i += 1
      val start = i
      while (i < len && !isWs(s.charAt(i))) i += 1
      if (i > start) n += (s.codePointCount(start, i) + 3) / 4
    }
    n
  }

  /** True iff s[from, until) equals `w`. */
  @inline private def runEquals(s: String, from: Int, until: Int, w: String): Boolean = {
    if (until - from != w.length) return false
    var i = 0
    while (i < w.length) {
      if (s.charAt(from + i) != w.charAt(i)) return false
      i += 1
    }
    true
  }

  /** Number of tokens equal to ANY word in `words` (exact match). */
  def stopwordCount(s: String, words: Array[String]): Int = {
    var n = 0; var i = 0; val len = s.length
    while (i < len) {
      while (i < len && isWs(s.charAt(i))) i += 1
      val start = i
      while (i < len && !isWs(s.charAt(i))) i += 1
      if (i > start) {
        var w = 0
        var hit = false
        while (!hit && w < words.length) {
          hit = runEquals(s, start, i, words(w)); w += 1
        }
        if (hit) n += 1
      }
    }
    n
  }

  /** Per-list stopword hits in ONE tokenization pass: out(k) = number of
    * tokens equal to any word of lists(k). A token may count toward
    * several lists (e.g. "la" is in both fr and es) — identical to
    * independent `stopwordCount` calls per list. */
  def stopwordCounts(s: String, lists: Array[Array[String]]): Array[Int] = {
    val out = new Array[Int](lists.length)
    var i = 0; val len = s.length
    while (i < len) {
      while (i < len && isWs(s.charAt(i))) i += 1
      val start = i
      while (i < len && !isWs(s.charAt(i))) i += 1
      if (i > start) {
        var k = 0
        while (k < lists.length) {
          val words = lists(k)
          var w = 0
          var hit = false
          while (!hit && w < words.length) {
            hit = runEquals(s, start, i, words(w)); w += 1
          }
          if (hit) out(k) += 1
          k += 1
        }
      }
    }
    out
  }

  /** Language id: argmax of per-language stopword hits over `langs`
    * (first max wins — mirrors TextOps.langId's fold with strict `>`),
    * "und" when every count is zero. */
  def langId(s: String, langs: Array[String], lists: Array[Array[String]]): UTF8String = {
    val counts = stopwordCounts(s, lists)
    var best = 0
    var i = 1
    while (i < counts.length) {
      if (counts(i) > counts(best)) best = i
      i += 1
    }
    if (counts(best) > 0) UTF8String.fromString(langs(best)) else TextStats.und
  }

  private val und = UTF8String.fromString("und")

  /** The token array itself (== filter(split(s, "\\s+"), _ != "")) — for
    * operators that need the strings (vocabulary explode), without the
    * interpreted HOF filter. */
  def tokens(s: String): ArrayData = {
    val n = tokenCount(s)
    val out = new Array[AnyRef](n)
    var idx = 0; var i = 0; val len = s.length
    while (i < len) {
      while (i < len && isWs(s.charAt(i))) i += 1
      val start = i
      while (i < len && !isWs(s.charAt(i))) i += 1
      if (i > start) { out(idx) = UTF8String.fromString(s.substring(start, i)); idx += 1 }
    }
    new GenericArrayData(out)
  }
}
