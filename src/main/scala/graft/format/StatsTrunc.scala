package graft.format

import org.apache.spark.unsafe.types.UTF8String

/** Bounded string/binary stats envelopes (round 13). A manifest entry
  * carrying full min/max of a long string column scales the manifest
  * with the DATA (two ~1 MB values per file for a document column) —
  * at 100 TB the manifest becomes the table. Iceberg's `truncate`
  * contract restated:
  *
  *  - **min**: a ≤[[maxBytes]] prefix cut at a code-point boundary —
  *    a prefix lower-bounds every string extending it in UTF-8 byte
  *    order (Spark SQL's string order), so pruning stays a superset.
  *  - **max**: the same prefix with its LAST CODE POINT incremented
  *    (code-point order == UTF-8 byte order, so the result
  *    upper-bounds every string sharing the prefix; the surrogate
  *    gap U+D7FF→U+E000 is skipped, U+10FFFF drops and carries). A
  *    value whose prefix is all U+10FFFF keeps the FULL max —
  *    truncation is an optimization, never a requirement.
  *  - Binary columns: the same at byte level (0xFF carries).
  *
  * Truncated envelopes stay VALID bounds (pruning correct) but are
  * no longer EXACT extremes: entries record a `trunc_<c>` marker and
  * exactness consumers (metadata-only MIN/MAX, connector agg
  * pushdown) decline marked columns; SPJ's value-purity test
  * (min == max) fails naturally. Snapshots whose live set carries
  * truncated envelopes stamp `min_reader_version=2` — an older
  * reader would fold a truncated max as an exact one. */
object StatsTrunc {

  /** Envelope byte budget per value; a `var` so specs can shrink it.
    * 64 bytes keeps real keys (ids, emails, URLs' hosts) exact while
    * capping document-sized values. */
  @volatile var maxBytes: Int = 64

  /** Longest prefix of `b` that is ≤ [[maxBytes]] bytes and ends at a
    * UTF-8 code-point boundary. */
  private def utf8PrefixLen(b: Array[Byte]): Int = {
    var n = maxBytes
    while (n > 0 && (b(n) & 0xC0) == 0x80) n -= 1
    n
  }

  /** (lower bound, wasTruncated) for a UTF-8 string value. */
  def minUtf8(u: UTF8String): (UTF8String, Boolean) = {
    val b = u.getBytes
    if (b.length <= maxBytes) (u, false)
    else (UTF8String.fromBytes(
      java.util.Arrays.copyOf(b, utf8PrefixLen(b))), true)
  }

  /** (upper bound, wasTruncated) for a UTF-8 string value.
    *
    * Spark never validates UTF8String contents, and decoding through
    * java.lang.String replaces invalid sequences with U+FFFD — an
    * "incremented" U+FFFD prefix can compare BELOW the true value in
    * byte order and pruning would silently skip its file (ADVICE
    * r13). The decode is therefore verified by re-encoding: on any
    * mismatch the prefix is not valid UTF-8 and the increment falls
    * back to byte level ([[maxBin]] semantics — a correct byte-order
    * bound that is itself not valid UTF-8, which UTF8String stores
    * and compares byte-exactly). */
  def maxUtf8(u: UTF8String): (UTF8String, Boolean) = {
    val b = u.getBytes
    if (b.length <= maxBytes) return (u, false)
    val pLen = utf8PrefixLen(b)
    var s = new String(b, 0, pLen,
      java.nio.charset.StandardCharsets.UTF_8)
    if (!java.util.Arrays.equals(
        s.getBytes(java.nio.charset.StandardCharsets.UTF_8),
        java.util.Arrays.copyOf(b, pLen))) {
      val (bm, f) = maxBin(b)
      return (if (f) UTF8String.fromBytes(bm) else u, f)
    }
    while (s.nonEmpty) {
      val cp = s.codePointBefore(s.length)
      val cut = s.length - Character.charCount(cp)
      if (cp < 0x10FFFF) {
        // skip the surrogate gap: no valid code point lives there
        val next = if (cp + 1 == 0xD800) 0xE000 else cp + 1
        return (UTF8String.fromString(
          s.substring(0, cut) + new String(Character.toChars(next))),
          true)
      }
      s = s.substring(0, cut) // U+10FFFF: drop and carry left
    }
    (u, false) // every prefix code point is U+10FFFF — keep full
  }

  /** (lower bound, wasTruncated) for a binary value. */
  def minBin(b: Array[Byte]): (Array[Byte], Boolean) =
    if (b.length <= maxBytes) (b, false)
    else (java.util.Arrays.copyOf(b, maxBytes), true)

  /** (upper bound, wasTruncated) for a binary value. */
  def maxBin(b: Array[Byte]): (Array[Byte], Boolean) = {
    if (b.length <= maxBytes) return (b, false)
    var i = maxBytes - 1
    while (i >= 0 && (b(i) & 0xFF) == 0xFF) i -= 1
    if (i < 0) (b, false) // all-0xFF prefix — keep full
    else {
      val p = java.util.Arrays.copyOf(b, i + 1)
      p(i) = ((p(i) & 0xFF) + 1).toByte
      (p, true)
    }
  }
}
