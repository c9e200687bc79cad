package graft.functions

/** Shared primitives for the one-pass text kernels (ShingleHash,
  * SimHashWide, WinnowFingerprint). Every kernel must stay
  * bit-identical to its composed-column form AND to the DuckDB
  * oracle's SQL md5 arithmetic, so the three building blocks live in
  * exactly one place:
  *
  *  - Spark-exact trim: strips 0x20 ONLY (Spark's `trim`; Java's
  *    `String.trim` strips all <= U+0020 — a doc edged with \t or \n
  *    must tokenize identically to the column form);
  *  - `\s+` tokenization with limit -1 (Spark's `split` keeps
  *    trailing empty tokens, Java's default drops them);
  *  - md5-prefix integers: the first 4 digest bytes as an unsigned
  *    32-bit value (= SQL `('0x' || substr(md5(x),1,8))::BIGINT`), or
  *    the first 15 hex digits as a non-negative 60-bit value (=
  *    `substr(md5(x),1,15)` — 60 not 64 so no sign handling on either
  *    engine).
  */
private[graft] object Md5Kernel {

  // the engine's whitespace contract: RE2's \s (= [ \t\n\f\r]), NOT
  // Java's \s which adds \x0B — must stay identical to TextFns.tokens
  val ws: java.util.regex.Pattern =
    java.util.regex.Pattern.compile("[ \t\n\f\r]+")

  private val digest = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** UTF8-binary (= code point) string order — matches Spark
    * StringType ordering (array_sort/orderBy/min/max). Java's
    * String.compareTo ranks a BMP char above a supplementary one
    * (surrogates 0xD800+ compare high); UTF-8 bytes do not. */
  def utf8Lt(a: String, b: String): Boolean = {
    var i = 0
    var j = 0
    while (i < a.length && j < b.length) {
      val ca = a.codePointAt(i)
      val cb = b.codePointAt(j)
      if (ca != cb) return ca < cb
      i += Character.charCount(ca)
      j += Character.charCount(cb)
    }
    a.length - i < b.length - j
  }

  /** Spark-exact trim (0x20 only). */
  def sparkTrim(s0: String): String = {
    var b = 0; var e = s0.length
    while (b < e && s0.charAt(b) == ' ') b += 1
    while (e > b && s0.charAt(e - 1) == ' ') e -= 1
    s0.substring(b, e)
  }

  /** Tokenize per the engine contract ([[graft.functions.TextFns.tokens]]):
    * trim (0x20 only), split on `\s+`, drop empty tokens — text edged
    * with \t/\n would otherwise contribute "" tokens. */
  def tokenize(s0: String): Array[String] = {
    val t = sparkTrim(s0)
    if (t.isEmpty) Array.empty[String]
    else ws.split(t, -1).filter(_.nonEmpty)
  }

  /** md5 digest of `utf8`, via a per-thread reused instance. */
  def md5(utf8: Array[Byte]): Array[Byte] = {
    val md = digest.get()
    md.reset()
    md.digest(utf8)
  }

  def md5(s: String): Array[Byte] =
    md5(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  /** First 8 md5 hex digits (4 digest bytes) as an unsigned 32-bit long. */
  def md5Int32(s: String): Long = prefix32(md5(s))

  /** First 15 md5 hex digits (60 bits) as a non-negative long. */
  def md5Int60(s: String): Long = prefix60(md5(s))

  /** The 32- or 60-bit prefix of the md5 of raw UTF-8 bytes — the entry
    * point of the codegen [[Md5PrefixExpr]] (UTF8String hands its bytes
    * out without a String round-trip). */
  def md5Prefix(utf8: Array[Byte], bits: Int): Long =
    if (bits == 32) prefix32(md5(utf8)) else prefix60(md5(utf8))

  private def prefix32(d: Array[Byte]): Long =
    ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
      ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)

  private def prefix60(d: Array[Byte]): Long =
    ((d(0) & 0xffL) << 52) | ((d(1) & 0xffL) << 44) |
      ((d(2) & 0xffL) << 36) | ((d(3) & 0xffL) << 28) |
      ((d(4) & 0xffL) << 20) | ((d(5) & 0xffL) << 12) |
      ((d(6) & 0xffL) << 4) | ((d(7) & 0xf0L) >> 4)
}
