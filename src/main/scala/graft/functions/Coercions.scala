package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.sources.ChType

/** Typed row-coercion surface of the reference (main.py:81-104), as pure
  * Column expressions — fully codegen'd, no UDFs, so Catalyst can push,
  * prune, and whole-stage-compile every coercion at 100 TB scale.
  *
  * Semantics replicated:
  *   - `input_format_null_as_default` (main.py:13): NULL numeric -> 0,
  *     NULL string -> "", NULL bool -> false, NULL bytes -> empty
  *     bytes. Temporal types stay nullable (the reference parses
  *     those to None on failure).
  *   - UInt32/UInt64 wraparound masking (main.py:89-91).
  *   - Lenient temporal parsing (main.py:18-37): strip fractional
  *     seconds, trim, strict pattern, NULL on mismatch or blank.
  */
object Coercions {

  /** NULL-as-default per target type (main.py:86-101).
    *
    * Deviation, on purpose: the reference's String branch is
    * `str(value)` (main.py:95), which stringifies Python None to the
    * literal "None" — an accident of the host language, not a
    * ClickHouse semantic. `input_format_null_as_default` actually
    * defaults a NULL String to '' server-side, and that is what we
    * implement.
    */
  def nullAsDefault(c: Column, t: ChType): Column = t match {
    case ChType.Int32 | ChType.Int64 =>
      coalesce(c.cast(LongType), lit(0L))
    // Unsigned targets also get the wraparound mask (main.py:89-91):
    // a negative or >2^32-1 source value must land in range, exactly as
    // prepare_row does before insert.
    case ChType.UInt32 => toUInt32(coalesce(c.cast(LongType), lit(0L)))
    case ChType.UInt64 => toUInt64(coalesce(c.cast(LongType), lit(0L)))
    case ChType.Float32 | ChType.Float64 =>
      coalesce(c.cast(DoubleType), lit(0.0))
    case ChType.Str      => coalesce(c.cast(StringType), lit(""))
    case ChType.Binary   =>
      coalesce(c.cast(BinaryType), lit(Array.emptyByteArray))
    case ChType.Bool     => coalesce(c.cast(BooleanType), lit(false))
    case ChType.DateTime => parseDateTime(c.cast(StringType))
    case ChType.Date     => parseDate(c.cast(StringType))
    case _               => c
  }

  /** UInt32 wraparound: keep the low 32 bits (main.py:89). */
  def toUInt32(c: Column): Column =
    c.cast(LongType).bitwiseAND(lit(0xFFFFFFFFL))

  /** UInt64 wraparound (main.py:91). The mask keeps 64 bits, so on a
    * 64-bit Long it is the identity on the bit pattern: UInt64 is the
    * two's-complement reinterpretation of the stored Long.
    */
  def toUInt64(c: Column): Column = c.cast(LongType)

  /** DateTime parse (main.py:18-27): blank -> NULL; drop everything
    * after the first '.' (fractional seconds); trim; strict
    * `yyyy-MM-dd HH:mm:ss`; NULL on mismatch.
    */
  def parseDateTime(c: Column): Column = {
    val cleaned = trim(substring_index(c, ".", 1))
    try_to_timestamp(nullif(cleaned, lit("")), lit("yyyy-MM-dd HH:mm:ss"))
  }

  /** Date parse (main.py:29-37): blank -> NULL; trim; strict
    * `yyyy-MM-dd`; NULL on mismatch.
    */
  def parseDate(c: Column): Column = {
    val cleaned = nullif(trim(c), lit(""))
    try_to_timestamp(cleaned, lit("yyyy-MM-dd")).cast(DateType)
  }

  /** Coerce a whole row to its mapped target schema — the DataFrame
    * analog of prepare_row (main.py:81-104).
    */
  def coerceRow(cols: Seq[(String, ChType)]): Seq[Column] =
    cols.map { case (name, t) => nullAsDefault(col(name), t).as(name) }
}
