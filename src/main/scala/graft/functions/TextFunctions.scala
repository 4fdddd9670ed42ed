package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Text-analysis primitives for training-data pipelines. Everything here
  * is a Column expression built from codegen'd builtins (no Python, no
  * driver loops), so it composes into whole-stage codegen over a 100 TB
  * scan. `RollingHash` is a native Catalyst Expression with `doGenCode`.
  */
object TextFunctions {

  /** Quality signals: length, word stats, uniqueness, punctuation and
    * stopword ratios. Returns a struct column.
    */
  def qualityScore(text: Column): Column = {
    val words = split(trim(text), "\\s+")
    val nWords = size(words)
    val nChars = length(text)
    val stopwords = Seq("the", "a", "an", "and", "or", "of", "to", "in", "is", "it")
    val nStop = size(filter(words, w => lower(w).isin(stopwords.map(lit(_)): _*)))
    val nPunct = length(text) - length(regexp_replace(text, "[\\p{Punct}]", ""))
    struct(
      nChars.as("n_chars"),
      nWords.as("n_words"),
      size(array_distinct(words)).as("n_uniq_words"),
      round(size(array_distinct(words)).cast("double") / nWords, 4).as("uniq_ratio"),
      round(nStop.cast("double") / nWords, 4).as("stopword_ratio"),
      round(nPunct.cast("double") / greatest(nChars, lit(1)), 4).as("punct_ratio"))
  }

  /** Marker-n-gram language ID heuristic. Scores each language by counts
    * of high-frequency marker words; deterministic, pure Column logic.
    */
  def langId(text: Column): Column = {
    val markers = Map(
      "en" -> Seq(" the ", " and ", " of ", " a "),
      "de" -> Seq(" der ", " und ", " die ", " das "),
      "fr" -> Seq(" le ", " la ", " les ", " et "),
      "es" -> Seq(" el ", " los ", " las ", " y "))
    val padded = concat(lit(" "), lower(text), lit(" "))
    def score(ms: Seq[String]): Column =
      ms.map(m => size(split(padded, java.util.regex.Pattern.quote(m))) - 1)
        .reduce(_ + _)
    val scored = markers.toSeq.map { case (lang, ms) => (lit(lang), score(ms)) }
    // argmax with deterministic tie-break on language code
    val best = scored.sortBy(_._1.toString).foldLeft((lit("unk"), lit(0))) {
      case ((bl, bs), (l, s)) => (when(s > bs, l).otherwise(bl), greatest(s, bs))
    }
    when(best._2 > 0, best._1).otherwise(lit("unk"))
  }

  /** Normalized-text content fingerprint (hash of whitespace-collapsed
    * lowercase text) — exact-dup key that survives formatting noise.
    */
  def fingerprint(text: Column): Column =
    md5(lower(regexp_replace(text, "\\s+", " ")))

  // --- PII detection/redaction -------------------------------------------
  // Patterns stay inside the RE2-compatible subset (no lookaround, no
  // backreferences) so the IDENTICAL pattern string runs under Java's
  // regex engine here and RE2 in the DuckDB oracle — pattern drift between
  // detection and the audit query is the classic PII-pipeline bug.

  /** RFC-5322-ish address shape (the practical subset). */
  val emailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"

  /** International-format phone: +CC NNN-NNNN. */
  val phonePattern = "\\+[0-9]{1,3} [0-9]{3}-[0-9]{4}"

  /** Dotted-quad IPv4 (word-bounded so version strings don't match). */
  val ipv4Pattern = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"

  /** Per-document PII hit counts as a struct — the audit/reporting side.
    * Pure codegen'd builtins (`regexp_count`), so a 100 TB PII census is
    * one whole-stage-codegen'd scan.
    */
  def piiCounts(text: Column): Column = struct(
    regexp_count(text, lit(emailPattern)).as("n_emails"),
    regexp_count(text, lit(phonePattern)).as("n_phones"),
    regexp_count(text, lit(ipv4Pattern)).as("n_ips"))

  /** Replace every PII span with a typed placeholder token. Emails are
    * redacted first (an address can contain digits that would otherwise
    * partially match the phone pattern), then phones, then IPs.
    */
  def piiRedact(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, emailPattern, "<EMAIL>"),
        phonePattern, "<PHONE>"),
      ipv4Pattern, "<IP>")

  /** Column wrapper for [[RollingHashExpr]]. */
  def rollingHash(text: Column): Column = {
    import org.apache.spark.sql.GraftColumnShim
    GraftColumnShim.column(RollingHashExpr(GraftColumnShim.expression(text)))
  }

  def registerAll(spark: SparkSession): Unit = {
    import org.apache.spark.sql.GraftColumnShim
    spark.udf.register("graft_token_count", (s: String) =>
      if (s == null) 0 else s.split("\\s+").length)
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "rolling_hash", exprs => {
        if (exprs.length != 1)
          throw new IllegalArgumentException(
            s"rolling_hash expects exactly 1 argument, got ${exprs.length}")
        RollingHashExpr(exprs.head)
      }, "built-in")
    // SQL spellings for the Column-level curation/analysis functions:
    // build the same composite expressions the Scala API produces, so
    // the SQL path stays codegen'd builtins (never a UDF detour)
    def unary(name: String, f: Column => Column): Unit =
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        name, exprs => {
          if (exprs.length != 1)
            throw new IllegalArgumentException(
              s"$name expects exactly 1 argument, got ${exprs.length}")
          GraftColumnShim.resolvedExpression(f(GraftColumnShim.column(exprs.head)))
        }, "built-in")
    unary("pii_redact", piiRedact)
    unary("pii_counts", piiCounts)
    unary("doc_fingerprint", fingerprint)
    unary("lang_id", langId)
    unary("quality_score", qualityScore)
    // word_windows(text, n[, sep]) — the ParagraphDedup unitizer's SQL
    // spelling (WordWindowsExpr codegen kernel; n and sep must be
    // literals, like any codegen'd config parameter)
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "word_windows", exprs => {
        if (exprs.length < 2 || exprs.length > 3)
          throw new IllegalArgumentException(
            s"word_windows expects (text, n[, sep]), got ${exprs.length} arguments")
        def lit[T](e: org.apache.spark.sql.catalyst.expressions.Expression,
                   what: String): Any = e match {
          case l: org.apache.spark.sql.catalyst.expressions.Literal => l.value
          case other => throw new IllegalArgumentException(
            s"word_windows: $what must be a literal, got $other")
        }
        val n = lit(exprs(1), "n") match {
          case i: Int => i
          case x => throw new IllegalArgumentException(
            s"word_windows: n must be an integer literal, got $x")
        }
        val sep =
          if (exprs.length == 3) lit(exprs(2), "sep") match {
            case s: org.apache.spark.unsafe.types.UTF8String => s.toString
            case x => throw new IllegalArgumentException(
              s"word_windows: sep must be a non-null string literal, got $x")
          }
          else " "
        WordWindowsExpr(exprs.head, n, sep)
      }, "built-in")
  }
}

/** Polynomial rolling hash (h = h*31 + byte mod 2^64) over a string's
  * UTF-8 bytes — the document-fingerprint primitive, as a native
  * codegen'd Expression: the generated code calls
  * [[RollingHashExpr.rollingHash]] inside whole-stage codegen with zero
  * boxing (a UDF here would break the codegen stage on the hot path of a
  * full-corpus scan).
  */
case class RollingHashExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
    child.dataType match {
      case org.apache.spark.sql.types.StringType |
           org.apache.spark.sql.types.NullType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"rolling_hash requires a string argument, got ${other.simpleString}")
    }
  }

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any =
    if (child.dataType == org.apache.spark.sql.types.NullType) null
    else super.eval(input)

  override def nullSafeEval(input: Any): Any =
    RollingHashExpr.rollingHash(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    if (child.dataType == org.apache.spark.sql.types.NullType) {
      import org.apache.spark.sql.catalyst.expressions.codegen.Block._
      return ev.copy(code =
        code"boolean ${ev.isNull} = true; long ${ev.value} = -1L;")
    }
    defineCodeGen(ctx, ev, c => s"graft.functions.RollingHashExpr.rollingHash($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): RollingHashExpr =
    copy(child = newChild)
}

object RollingHashExpr {
  /** `h = h * 31 + byte` over the string's UTF-8 bytes, wrapping at 2^64. */
  def rollingHash(s: UTF8String): Long = {
    val bytes = s.getBytes
    var h = 0L
    var i = 0
    while (i < bytes.length) { h = h * 31L + (bytes(i) & 0xffL); i += 1 }
    h
  }
}
