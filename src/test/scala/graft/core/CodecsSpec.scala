package graft.core

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.types._

class CodecsSpec extends AnyFunSuite {

  test("likeToRegex anchors and wildcards") {
    assert(Codecs.likeToRegex("example.com") == "^example%5C.com$")
    assert(Codecs.likeToRegex("%.example.com") == ".*%5C.example%5C.com$")
    assert(Codecs.likeToRegex("example.com/%") == "^example%5C.com/.*")
    assert(Codecs.likeToRegex("%x%") == ".*x.*")
    assert(Codecs.likeToRegex("a_b") == "^a.b$")
    // () not escaped
    assert(Codecs.likeToRegex("a(b)c") == "^a(b)c$")
    // backslash escape passes next char through raw
    assert(Codecs.likeToRegex("a\\%b") == "^a%b$")
  }

  test("toCdxTimestamp digits, truncate, strip trailing zeros") {
    assert(Codecs.toCdxTimestamp("2024-01-01 00:00:00") == "20240101")
    assert(Codecs.toCdxTimestamp("2024-06-15 12:30:00") == "20240615123")
    assert(Codecs.toCdxTimestamp("2024-06-15 12:34:56") == "20240615123456")
    assert(Codecs.toCdxTimestamp("20240101000000999") == "20240101")
    assert(Codecs.toCdxTimestamp("2000") == "2000")
    assert(Codecs.toCdxTimestamp("20000000000000") == "2000")
  }

  test("sanitizeUtf8 replaces invalid sequences with ?") {
    assert(Codecs.sanitizeUtf8("hello".getBytes("UTF-8")) == "hello")
    // valid 2-byte seq é
    assert(Codecs.sanitizeUtf8("café".getBytes("UTF-8")) == "café")
    // lone continuation byte
    assert(Codecs.sanitizeUtf8(Array[Byte]('a', 0x80.toByte, 'b')) == "a?b")
    // invalid continuation after a 2-byte lead
    assert(Codecs.sanitizeUtf8(Array[Byte]('a', 0xc3.toByte, 'x', 'b')) == "a?xb")
    // truncated multibyte at end -> single ? and stop
    assert(Codecs.sanitizeUtf8(Array[Byte]('a', 0xe2.toByte)) == "a?")
  }

  test("convertSqlWildcardsToCdx") {
    assert(Codecs.convertSqlWildcardsToCdx("%.example.com/%") == "*.example.com/*")
    assert(Codecs.convertSqlWildcardsToCdx("a_b%") == "a?b*")
  }

  test("parseCdxTimestampMicros") {
    val micros = Codecs.parseCdxTimestampMicros("20240102030405")
    val expect = java.time.LocalDateTime.of(2024, 1, 2, 3, 4, 5)
      .toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L
    assert(micros == expect)
    assert(Codecs.parseCdxTimestampMicros("2024") == 0L)
    assert(Codecs.parseCdxTimestampMicros("2024010203040x") == 0L)
    assert(Codecs.parseCdxTimestampMicros("20241402030405") == 0L) // month 14
  }

  test("escapeRegexSpecialChars (CC) and escapeRegexWayback") {
    assert(Codecs.escapeRegexSpecialChars("text/html") == "text/html")
    assert(Codecs.escapeRegexSpecialChars("a.b+c") == "a%5C.b%5C+c")
    assert(Codecs.escapeRegexSpecialChars("a(b)") == "a(b)")
    assert(Codecs.escapeRegexSpecialChars("a\\b") == "ab")
    // the wayback dialect's case: both CDX dialects share this escaper
    assert(Codecs.escapeRegexSpecialChars("a.b*") == "a%5C.b%5C*")
  }

  test("sqlRegexToRegex anchors, wildcards and %5C-escapes") {
    assert(Codecs.sqlRegexToRegex("text/%") == "^text/.*$")
    assert(Codecs.sqlRegexToRegex("a.b") == "^a%5C.b$")
    assert(Codecs.sqlRegexToRegex("a*b") == "^a.*b$")
  }

  test("sqliteAffinity") {
    assert(Codecs.sqliteAffinity("INTEGER") == LongType)
    assert(Codecs.sqliteAffinity("int") == LongType)
    assert(Codecs.sqliteAffinity("VARCHAR(20)") == StringType)
    assert(Codecs.sqliteAffinity("TEXT") == StringType)
    assert(Codecs.sqliteAffinity("BLOB") == BinaryType)
    assert(Codecs.sqliteAffinity("") == BinaryType)
    assert(Codecs.sqliteAffinity("REAL") == DoubleType)
    assert(Codecs.sqliteAffinity("DOUBLE PRECISION") == DoubleType)
    assert(Codecs.sqliteAffinity("BOOLEAN") == BooleanType)
    assert(Codecs.sqliteAffinity("DATE") == DateType)
    assert(Codecs.sqliteAffinity("TIMESTAMP") == TimestampType)
    assert(Codecs.sqliteAffinity("DATETIME") == DateType) // DATE checked before TIME
    assert(Codecs.sqliteAffinity("NUMERIC") == StringType)
  }
}
