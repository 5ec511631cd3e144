package graft.types

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** PG typname → Spark DataType map (SURVEY §1.2). The reference casts
  * untyped wal2json text into `atttypid::regtype::text`
  * (`replayer/connemara_replay.pl:67-80,148`); we do the same with
  * `Column.cast`, driven by this map.
  */
object PgTypeMapper {
  private val numericRe = """(numeric|decimal)\s*\(\s*(\d+)\s*(?:,\s*(\d+)\s*)?\)""".r

  def toSpark(pgType: String): DataType = pgType.toLowerCase.trim match {
    // array case FIRST: `numeric(10,2)[]` / `timestamp[]` would
    // otherwise match the scalar prefix cases below
    case t if t.endsWith("[]")               => ArrayType(toSpark(t.dropRight(2)))
    case numericRe(_, p, s) =>
      val prec = math.min(p.toInt, 38)
      DecimalType(prec, math.min(Option(s).map(_.toInt).getOrElse(0), prec))
    case t if t.startsWith("numeric") || t.startsWith("decimal") => DecimalType(38, 18)
    case "smallint" | "int2" | "smallserial" | "serial2" => ShortType
    case "integer" | "int" | "int4" | "serial" | "serial4" => IntegerType
    case "bigserial" | "serial8"             => LongType
    // xid is a 32-bit UNSIGNED counter — values exceed Int.MaxValue
    case "bigint" | "int8" | "pg_lsn" | "oid" | "xid" => LongType
    case "real" | "float4"                   => FloatType
    case "double precision" | "float8"       => DoubleType
    case "boolean" | "bool"                  => BooleanType
    case "date"                              => DateType
    case t if t.startsWith("timestamp")      => TimestampType // µs, UTC session
    case "bytea"                             => BinaryType
    case "jsonb" | "json" | "uuid" | "name"  => StringType
    case _                                   => StringType // text, varchar, enums, …
  }

  /** Cast one wal2json text value into its target Spark type —
    * the `(payload#>>'{columnvalues,i}')::<coltype>` of
    * `replayer/connemara_replay.pl:133-156`. bytea arrives in PG hex
    * form `\x48656c6c6f` — the `\x` prefix must be stripped before
    * decoding (`unhex` would otherwise return NULL for EVERY value,
    * silently nulling all binary columns); bare hex also accepted.
    */
  def castFromText(c: Column, dt: DataType): Column = dt match {
    case BinaryType => unhex(regexp_replace(c, "^\\\\x", ""))
    case ArrayType(elem, _) =>
      // PG array literal text `{1,2,3}` — Spark cannot cast string to
      // array; parse the literal, then cast each element
      transform(
        graft.functions.PgArrayLiteral.parseCol(c),
        e => castFromText(e, elem))
    case other => c.cast(other)
  }
}

/** pg_lsn rendering: uint64 ↔ `%X/%X`
  * (`connemara_replication/src/connemara_replication.c:207-215,806-808`).
  */
object LsnCodec {
  /** `"16/B374D848"` → 0x16B374D848; malformed input (a truncated
    * string, junk hex) raises a diagnosable error instead of a bare
    * MatchError/NumberFormatException. */
  def parse(s: String): Long = s.split("/", 2) match {
    case Array(hi, lo) =>
      try (java.lang.Long.parseLong(hi, 16) << 32) | java.lang.Long.parseLong(lo, 16)
      catch {
        case e: NumberFormatException =>
          throw new IllegalArgumentException(s"invalid LSN '$s'", e)
      }
    case _ => throw new IllegalArgumentException(s"invalid LSN '$s' (expected HI/LO)")
  }
  def format(lsn: Long): String =
    f"${lsn >>> 32}%X/${lsn & 0xFFFFFFFFL}%X"

  /** Column-level versions (F13) for data-plane use. */
  def parseCol(c: Column): Column = {
    val parts = split(c, "/")
    shiftleft(conv(element_at(parts, 1), 16, 10).cast(LongType), 32)
      .bitwiseOR(conv(element_at(parts, 2), 16, 10).cast(LongType))
  }
  def formatCol(c: Column): Column =
    concat(
      upper(hex(shiftrightunsigned(c, 32))),
      lit("/"),
      upper(hex(c.bitwiseAND(lit(0xFFFFFFFFL)))))
}
