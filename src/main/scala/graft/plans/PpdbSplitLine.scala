package graft.plans

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** One-pass PPDB release-line splitter: the field split of both PPDB
  * parsers, the projection form ([[graft.ppdb.Ppdb.parse]]) and the
  * `format("ppdb")` reader.
  *
  * One forward byte scan for ` ||| ` over the line's UTF-8 bytes; each field
  * is a [[UTF8String.fromAddress]] view into the line, so nothing is
  * decoded to `java.lang.String` or copied. The delimiter is ASCII and
  * UTF-8 lead/continuation bytes are ≥ 0x80, so a match can never start or
  * end inside a multibyte code point. Fields equal the regex
  * `split(value, " \\|\\|\\| ")` (limit -1: leading, trailing and empty
  * fields kept; matches taken left to right without overlap) on every
  * input; the one difference is that invalid UTF-8 bytes pass through
  * as-is, where the regex split's `String` round-trip turns them into
  * U+FFFD.
  *
  * Replacing the regex split and the `str_to_map` score lookup with this
  * kernel and [[PpdbScoreToken]] took the `ppdb_ingest` benchmark's median
  * `cpu_s` from 5.21 s to 3.36 s (−36%, 0.64×), faster in 10 of 10
  * interleaved A/B pairs on a 4-core host (CHANGES.md has the pair table).
  *
  * Registered as SQL function `ppdb_split` via [[GraftExtensions]]; the
  * parser builds it as a Column directly, so it needs no registration.
  */
case class PpdbSplitLine(child: Expression)
  extends NativeKernel(PpdbSplitLine.getClass, "split", StringType)
  with UnaryLike[Expression] {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "ppdb_split"

  override protected def withNewChildInternal(newChild: Expression): PpdbSplitLine =
    copy(child = newChild)
}

object PpdbSplitLine {

  /** Fields of `line` split on ` ||| `, as views into its bytes: the
    * kernel of [[PpdbSplitLine]] in both codegen modes, and the reader's
    * field split.
    *
    * A Horspool scan: it tests the last byte of the 5-byte window first and
    * skips by how far that byte is from the end of the delimiter (5 for a
    * byte the delimiter does not hold, so most text advances 5 bytes per
    * test). No match is ever skipped, so the matches are the leftmost
    * non-overlapping ones.
    */
  def split(line: UTF8String): ArrayData = {
    val base = line.getBaseObject
    val off = line.getBaseOffset
    val n = line.numBytes()
    var parts = new Array[Any](8)
    var k = 0
    var start = 0
    def byteAt(i: Int): Byte = Platform.getByte(base, off + i)
    var i = 0 // start of the window
    while (i <= n - 5) {
      val last = byteAt(i + 4)
      if (last == ' ') {
        if (byteAt(i) == ' ' && byteAt(i + 1) == '|' && byteAt(i + 2) == '|' &&
            byteAt(i + 3) == '|') {
          if (k == parts.length) {
            val grown = new Array[Any](k * 2)
            System.arraycopy(parts, 0, grown, 0, k)
            parts = grown
          }
          parts(k) = UTF8String.fromAddress(base, off + start, i - start)
          k += 1
          i += 5
          start = i
        } else i += 4 // this space may open the next delimiter
      } else if (last == '|') i += 1
      else i += 5
    }
    val out = new Array[Any](k + 1)
    System.arraycopy(parts, 0, out, 0, k)
    out(k) = UTF8String.fromAddress(base, off + start, n - start)
    new GenericArrayData(out)
  }
}

/** `ppdb_score_token(features)`: the value text of the PPDB 2.0 ranking
  * score in a raw features field, read straight off the bytes.
  *
  * Returns the value of the LAST `PPDB2.0Score=` token that starts the
  * field or follows a space, up to the next space or the end; NULL when
  * there is none or the input is NULL. A token `PPDB2.0Score=` with nothing
  * after it yields the empty string. The caller casts the text to double,
  * so number parsing stays Catalyst's (ANSI or legacy).
  *
  * This is `element_at(str_to_map(features, " ", "="), "PPDB2.0Score")` on
  * every features field without a repeated key, without building the map
  * (a regex split and a `String` round-trip per token). Where the map
  * throws `DUPLICATED_MAP_KEY`, the last score token wins. The
  * `format("ppdb")` reader takes its score, its pushed score thresholds and
  * its pushed score aggregates from [[PpdbScoreToken.token]] too, so both
  * parsers apply this one rule.
  */
case class PpdbScoreToken(child: Expression)
  extends NativeKernel(PpdbScoreToken.getClass, "token", StringType)
  with UnaryLike[Expression] {

  override protected def nullResult: Boolean = true
  override def dataType: DataType = StringType
  override def prettyName: String = "ppdb_score_token"

  override protected def withNewChildInternal(newChild: Expression): PpdbScoreToken =
    copy(child = newChild)
}

object PpdbScoreToken {

  private val Key = "PPDB2.0Score=".getBytes("UTF-8")

  /** How far the window moves left when its first byte is `b` and no key
    * starts there: to the next position where `b` could be a key byte (the
    * key's length for a byte it does not hold).
    */
  private val Shift: Array[Int] = {
    val t = Array.fill(256)(Key.length)
    for (j <- Key.length - 1 to 1 by -1) t(Key(j) & 0xff) = j
    t
  }

  /** Backward scan: the first boundary-aligned key met from the end is the
    * last one in the field. The value is a view into `feat`'s bytes.
    *
    * A Horspool scan run backward: it tests the first byte of the window
    * and skips by [[Shift]], so a byte the key does not hold moves the
    * window by the key's length. No key occurrence is ever skipped.
    */
  def token(feat: UTF8String): UTF8String = {
    val n = feat.numBytes()
    var i = n - Key.length // start of the window
    while (i >= 0) {
      val b = feat.getByte(i)
      if (b == Key(0) && (i == 0 || feat.getByte(i - 1) == ' ') && keyAt(feat, i)) {
        val s = i + Key.length
        var e = s
        while (e < n && feat.getByte(e) != ' ') e += 1
        return UTF8String.fromAddress(feat.getBaseObject, feat.getBaseOffset + s, e - s)
      }
      i -= Shift(b & 0xff)
    }
    null
  }

  private def keyAt(feat: UTF8String, i: Int): Boolean = {
    var j = 0
    while (j < Key.length && feat.getByte(i + j) == Key(j)) j += 1
    j == Key.length
  }
}
