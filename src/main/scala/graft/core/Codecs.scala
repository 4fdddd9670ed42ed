package graft.core

import org.apache.spark.sql.types._

/** Pure string/type codecs re-derived from the reference's behavior.
  *
  * Reference citations (paths relative to /root/reference/):
  *  - LikeToRegex:              src/web_archive_utils.cpp:28-72
  *  - ToCdxTimestamp:           src/web_archive_utils.cpp:74-89
  *  - SanitizeUTF8:             src/web_archive_utils.cpp:91-148
  *  - ConvertSQLWildcardsToCDX: src/web_archive_utils.cpp:179-197
  *  - ParseCDXTimestamp:        src/web_archive_utils.cpp:199-219
  *  - EscapeRegexSpecialChars:  src/common_crawl_index.cpp:770-785
  *  - SqlRegexToRegex:          src/common_crawl_index.cpp:789-814
  *  - EscapeRegex:              src/internet_archive.cpp:725-740
  *  - SQLiteTypeToDuckDB:       src/d1_http.cpp:723-763
  *
  * The output strings are observable behavior (they are embedded in the
  * generated CDX URLs asserted by the reference's pushdown tests), so these
  * must be byte-for-byte identical — including the `%5C` escape quirk and
  * the deliberate non-escaping of parentheses.
  */
object Codecs {

  /** SQL LIKE pattern → anchored regex with `%5C`-escaping of regex
    * metacharacters. `()` deliberately NOT escaped.
    */
  def likeToRegex(like: String): String = {
    val sb = new StringBuilder
    val startsPct = like.nonEmpty && like.head == '%'
    val endsPct = like.nonEmpty && like.last == '%'
    if (!startsPct) sb += '^'
    var i = 0
    while (i < like.length) {
      val c = like.charAt(i)
      if (c == '\\' && i + 1 < like.length) {
        sb += like.charAt(i + 1)
        i += 2
      } else {
        c match {
          case '%' => sb ++= ".*"; i += 1
          case '_' => sb += '.'; i += 1
          case '.' | '[' | ']' | '{' | '}' | '+' | '?' | '^' | '$' | '|' | '*' =>
            sb ++= "%5C"; sb += c; i += 1
          case other => sb += other; i += 1
        }
      }
    }
    if (!endsPct) sb += '$'
    sb.result()
  }

  /** Timestamp-ish string → digits-only, max 14 chars, trailing zeros
    * stripped down to a minimum of 4 chars (CDX prefix timestamp).
    */
  def toCdxTimestamp(ts: String): String = {
    var digits = ts.filter(c => c >= '0' && c <= '9')
    if (digits.length > 14) digits = digits.substring(0, 14)
    while (digits.length > 4 && digits.last == '0') digits = digits.dropRight(1)
    digits
  }

  /** Structural UTF-8 sanitation over raw bytes: invalid start bytes,
    * truncated sequences and bad continuation bytes become a single `?`.
    * Mirrors the reference's byte-level scan (not full Unicode validity).
    */
  def sanitizeUtf8(bytes: Array[Byte]): String = {
    val out = new java.io.ByteArrayOutputStream(bytes.length)
    var i = 0
    var break = false
    while (i < bytes.length && !break) {
      val c = bytes(i) & 0xff
      if (c < 0x80) { out.write(c); i += 1 }
      else {
        val len =
          if ((c & 0xe0) == 0xc0) 2
          else if ((c & 0xf0) == 0xe0) 3
          else if ((c & 0xf8) == 0xf0) 4
          else 0
        if (len == 0) { out.write('?'); i += 1 }
        else if (i + len > bytes.length) { out.write('?'); break = true }
        else {
          var valid = true
          var j = 1
          while (j < len && valid) {
            if (((bytes(i + j) & 0xff) & 0xc0) != 0x80) valid = false
            j += 1
          }
          if (valid) { out.write(bytes, i, len); i += len }
          else { out.write('?'); i += 1 }
        }
      }
    }
    new String(out.toByteArray, java.nio.charset.StandardCharsets.UTF_8)
  }

  def sanitizeUtf8(s: String): String =
    sanitizeUtf8(s.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1))

  /** SQL wildcards → CDX wildcards: `%`→`*`, `_`→`?`. */
  def convertSqlWildcardsToCdx(pattern: String): String =
    pattern.map {
      case '%' => '*'
      case '_' => '?'
      case c   => c
    }

  /** 14-digit CDX timestamp `YYYYMMDDhhmmss` → microseconds since epoch
    * (UTC). Malformed input (wrong length / non-numeric / out-of-range
    * fields) → 0 (epoch), like the reference.
    */
  def parseCdxTimestampMicros(cdx: String): Long = {
    if (cdx == null || cdx.length != 14) return 0L
    try {
      val year = cdx.substring(0, 4).toInt
      val month = cdx.substring(4, 6).toInt
      val day = cdx.substring(6, 8).toInt
      val hour = cdx.substring(8, 10).toInt
      val minute = cdx.substring(10, 12).toInt
      val second = cdx.substring(12, 14).toInt
      val dt = java.time.LocalDateTime.of(year, month, day, hour, minute, second)
      dt.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L
    } catch { case _: Exception => 0L }
  }

  /** Escape regex metacharacters in a literal (both CDX dialects):
    * `%5C`-prefixes `.[]{}+?*^$|`, drops backslashes, leaves `()` alone.
    */
  def escapeRegexSpecialChars(literal: String): String = {
    val sb = new StringBuilder
    literal.foreach {
      case c @ ('.' | '[' | ']' | '{' | '}' | '+' | '?' | '*' | '^' | '$' | '|') =>
        sb ++= "%5C"; sb += c
      case '\\' => // skip
      case c    => sb += c
    }
    sb.result()
  }

  /** SQL SIMILAR-TO/LIKE pattern → anchored regex (Common Crawl variant):
    * `%`/`*`→`.*`, `_`→`.`, metachars `%5C`-escaped (`^` excluded — added
    * by the anchors themselves).
    */
  def sqlRegexToRegex(sqlRegex: String): String = {
    val sb = new StringBuilder("^")
    var i = 0
    while (i < sqlRegex.length) {
      val c = sqlRegex.charAt(i)
      if (c == '%' || c == '*') { sb ++= ".*"; i += 1 }
      else if (c == '_') { sb += '.'; i += 1 }
      else if (c == '\\' && i + 1 < sqlRegex.length) {
        sb += sqlRegex.charAt(i + 1); i += 2
      } else if (c == '.' || c == '[' || c == ']' || c == '{' || c == '}' ||
                 c == '+' || c == '?' || c == '$') {
        sb ++= "%5C"; sb += c; i += 1
      } else { sb += c; i += 1 }
    }
    sb ++= "$"
    sb.result()
  }

  /** SQLite declared-type affinity → Spark type. Substring matching in
    * priority order: INT→Long, CHAR/CLOB/TEXT→String, BLOB/empty→Binary,
    * REAL/FLOA/DOUB→Double, BOOL→Boolean, DATE→Date, TIME→Timestamp,
    * default→String.
    */
  def sqliteAffinity(declared: String): DataType = {
    val u = Option(declared).getOrElse("").toUpperCase
    if (u.contains("INT")) LongType
    else if (u.contains("CHAR") || u.contains("CLOB") || u.contains("TEXT")) StringType
    else if (u.contains("BLOB") || u.isEmpty) BinaryType
    else if (u.contains("REAL") || u.contains("FLOA") || u.contains("DOUB")) DoubleType
    else if (u.contains("BOOL")) BooleanType
    else if (u.contains("DATE")) DateType
    else if (u.contains("TIME")) TimestampType
    else StringType
  }
}
