package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Lenient, null-on-fail type coercions (SURVEY.md §2.3 F1-F9).
  *
  * Semantics mirror the reference's value conversion
  * (`table-loader/services/data_transformer.py:156-217`): null-token
  * normalization first, then per-target-type parsing that yields null
  * (never an error) on malformed input. All are pure column
  * expressions — codegen'd, no UDFs — and are written to be safe under
  * both ANSI and legacy cast semantics (regex-guarded casts).
  */
object Coercions {

  /** Tokens treated as SQL null after trim+upper-case
    * (`data_transformer.py:160`). */
  val NullTokens: Seq[String] = Seq("", "NULL", "NA", "N/A")

  /** F1: `None/NaN/"NULL"/"NA"/"N/A"/""` → null; otherwise the trimmed
    * string (reference processes `str(value).strip()`). */
  def normalizeNullTokens(c: Column): Column =
    when(c.isNull || upper(trim(c)).isin(NullTokens.map(lit): _*), lit(null))
      .otherwise(trim(c))

  private val NumberRe = "^[+-]?([0-9]+\\.?[0-9]*|\\.[0-9]+)([eE][+-]?[0-9]+)?$"

  /** Guarded string→double: null unless it looks numeric (so the cast
    * can never throw under ANSI). */
  private def numeric(c: Column): Column = {
    val t = normalizeNullTokens(c)
    when(t.rlike(NumberRe), t.cast("double"))
  }

  /** F2: `int(float(s))` — truncation toward zero, null on parse
    * failure or int overflow (`data_transformer.py:172-177`). */
  def toIntLenient(c: Column): Column = {
    val d = numeric(c)
    when(d.between(Int.MinValue.toDouble, Int.MaxValue.toDouble), d.cast("int"))
  }

  /** F2 variant for BIGINT targets. */
  def toLongLenient(c: Column): Column = {
    val d = numeric(c)
    when(d.between(Long.MinValue.toDouble, Long.MaxValue.toDouble), d.cast("long"))
  }

  /** F3: `float(s)`, null on failure (`data_transformer.py:178-183`). */
  def toDoubleLenient(c: Column): Column = numeric(c)

  /** Truthy token set (`data_transformer.py:184-185`). */
  val TrueTokens: Seq[String] = Seq("true", "t", "yes", "y", "1")

  /** F4: boolean-typed target — token in the true-set, else false
    * (reference returns false for unrecognized tokens, null only for
    * null tokens, `data_transformer.py:184-185`). */
  def toBooleanLenient(c: Column): Column = {
    val t = normalizeNullTokens(c)
    when(t.isNull, lit(null).cast("boolean"))
      .otherwise(lower(t).isin(TrueTokens.map(lit): _*))
  }

  /** F5: strict `%Y-%m-%d` date, null on failure
    * (`data_transformer.py:186-191`). */
  def toDateLenient(c: Column): Column =
    try_to_timestamp(normalizeNullTokens(c), lit("yyyy-MM-dd")).cast("date")

  /** F6: ISO-8601 timestamp, `Z` → `+00:00`, null on failure
    * (`data_transformer.py:192-197`). try_to_timestamp handles the
    * trailing `Z` natively; cover the common second/fraction shapes. */
  def toTimestampLenient(c: Column): Column = {
    val t = normalizeNullTokens(c)
    coalesce(
      try_to_timestamp(t, lit("yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX")),
      try_to_timestamp(t, lit("yyyy-MM-dd'T'HH:mm:ss.SSSXXX")),
      try_to_timestamp(t, lit("yyyy-MM-dd'T'HH:mm:ssXXX")),
      try_to_timestamp(t, lit("yyyy-MM-dd'T'HH:mm:ss.SSSSSS")),
      try_to_timestamp(t, lit("yyyy-MM-dd'T'HH:mm:ss")),
      try_to_timestamp(t, lit("yyyy-MM-dd HH:mm:ss")),
      try_to_timestamp(t, lit("yyyy-MM-dd")))
  }

  /** F8: name normalization `lower ∘ strip ∘ replace('_',' ')`
    * (`fragment-validator/services/center_resolver.py:41-42`). */
  def normalizeName(c: Column): Column =
    lower(trim(regexp_replace(c, "_", " ")))

  /** F9: multi-format date → year start-of-year date, range-checked
    * 1900-2100 (`redcap-pipeline/services/data_processor.py:88-167`).
    * Accepted shapes: YYYY-MM-DD, bare YYYY, MM/dd/yyyy, dd/MM/yyyy,
    * yyyy/MM/dd — first match wins, in reference order. */
  def normalizeRegistrationYear(c: Column): Column = {
    val t = normalizeNullTokens(c)
    val parsed = coalesce(
      try_to_timestamp(t, lit("yyyy-MM-dd")),
      try_to_timestamp(t, lit("yyyy")),
      try_to_timestamp(t, lit("MM/dd/yyyy")),
      try_to_timestamp(t, lit("dd/MM/yyyy")),
      try_to_timestamp(t, lit("yyyy/MM/dd")))
    val y = year(parsed)
    when(y.between(1900, 2100), trunc(parsed.cast("date"), "year"))
  }

  /** Apply the schema-driven conversion of `data_transformer.py:156-217`
    * for one column given a reference-style type name. */
  def coerceTo(c: Column, dbType: String): Column = dbType.toLowerCase match {
    case "bigint" | "int8" | "long"                              => toLongLenient(c)
    case t if t.contains("int")                                  => toIntLenient(c)
    case "decimal" | "numeric" | "real" | "double precision" | "double" | "float" =>
      toDoubleLenient(c)
    case "boolean" | "bool"                                      => toBooleanLenient(c)
    case "date"                                                  => toDateLenient(c)
    case t if t.contains("timestamp")                            => toTimestampLenient(c)
    case _                                                       => normalizeNullTokens(c)
  }
}
