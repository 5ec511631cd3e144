package graft.decode

import graft.model.TableMeta
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** wal2json v1 change decoding (SURVEY §2.3 P1–P3, §1.1).
  *
  * The reference extracts untyped JSON text per column
  * (`payload->>…`, `replayer/connemara_replay.pl:818-833`) and builds
  * a names→values hash (`@record{@columnnames}=@columnvalues`,
  * `:287,393-398,938`). Here: one `from_json` into a struct, values
  * projected as strings (JSON numbers/bools coerce to their literal
  * text — same as PG's `#>>` text extraction), then
  * `map_from_arrays` for the names→values map.
  */
object Wal2Json {

  /** Payload shape with `include-types=false` (decoder options at
    * `connemara_replication/src/connemara_replication.c:504`).
    */
  val payloadSchema: StructType = StructType(Seq(
    StructField("kind", StringType),
    StructField("schema", StringType),
    StructField("table", StringType),
    StructField("columnnames", ArrayType(StringType)),
    StructField("columnvalues", ArrayType(StringType)),
    StructField("oldkeys", StructType(Seq(
      StructField("keynames", ArrayType(StringType)),
      StructField("keyvalues", ArrayType(StringType)))))))

  /** Transaction envelope for un-chunked streams (S2): one JSON doc
    * `{"xid":…,"timestamp":"…","change":[…]}` per transaction.
    */
  val envelopeSchema: StructType = StructType(Seq(
    StructField("xid", LongType),
    StructField("timestamp", StringType),
    StructField("change", ArrayType(payloadSchema))))

  /** Field of the parsed struct `p` that holds the raw payload when
    * the JSON parser failed on it. `from_json` keeps the fields it
    * parsed before the failure: a payload torn right after
    * `"keyvalues"` comes back as a complete-looking update with
    * `oldkeys` = null, and only this field tells it apart. */
  val corruptField = "_corrupt_record"

  private def fromJson(payload: Column, schema: StructType): Column =
    from_json(payload, schema.add(corruptField, StringType),
      Map("columnNameOfCorruptRecord" -> corruptField))

  /** Parse the spool `payload` column into a typed struct `p`. */
  def parse(spool: DataFrame): DataFrame =
    spool.withColumn("p", fromJson(col("payload"), payloadSchema))

  /** wal2json v2 change shape: one object per message, `action`
    * discriminated, columns as `[{name,type,value},…]` and the
    * replica identity under `identity` (wal2json ≥ 2 — the format the
    * reference falls back to when `include-unchanged-toast` is
    * rejected, `connemara_replication/src/connemara_replication.c:
    * 540-560`). Values parse as strings: JSON numbers/bools coerce to
    * their literal text, identical to the v1 columnvalues handling. */
  val payloadSchemaV2: StructType = StructType(Seq(
    StructField("action", StringType),
    StructField("schema", StringType),
    StructField("table", StringType),
    StructField("columns", ArrayType(StructType(Seq(
      StructField("name", StringType),
      StructField("value", StringType))))),
    StructField("identity", ArrayType(StructType(Seq(
      StructField("name", StringType),
      StructField("value", StringType)))))))

  /** Parse a v2 spool and normalize into the SAME `p` struct the v1
    * path produces, so decode/apply downstream is format-agnostic:
    * action I/U/D → kind, columns → columnnames/columnvalues,
    * identity → oldkeys. */
  def parseV2(spool: DataFrame): DataFrame = {
    val p2 = fromJson(col("payload"), payloadSchemaV2)
    val kind = when(p2("action") === "I", "insert")
      .when(p2("action") === "U", "update")
      .when(p2("action") === "D", "delete")
      .otherwise(lit(null).cast(StringType))
    spool.withColumn("p",
      when(p2.isNotNull, struct(
        kind.as("kind"),
        p2("schema").as("schema"),
        p2("table").as("table"),
        p2("columns").getField("name").as("columnnames"),
        p2("columns").getField("value").as("columnvalues"),
        when(p2("identity").isNotNull, struct(
          p2("identity").getField("name").as("keynames"),
          p2("identity").getField("value").as("keyvalues")))
          .otherwise(lit(null).cast(payloadSchema("oldkeys").dataType))
          .as("oldkeys"),
        p2(corruptField).as(corruptField))))
  }

  /** Format-dispatching parse (the spool records which framing its
    * writer negotiated). */
  def parse(spool: DataFrame, format: Framing.Format): DataFrame =
    format match {
      case Framing.V1 => parse(spool)
      case Framing.V2 => parseV2(spool)
    }

  /** Split parsed spool rows into (valid, quarantine): a row is
    * quarantined when its payload failed to parse entirely, or parsed
    * to a change with no usable kind/table. The reference dies on the
    * first bad row (A9) — strict mode keeps that; this is the
    * non-strict dead-letter path so one corrupt record can't stall
    * a 100 TB backfill. Quarantined rows keep the RAW payload for
    * offline repair.
    */
  def partitionValid(parsed: DataFrame): (DataFrame, DataFrame) = {
    val bad = invalid
    (parsed.filter(!bad), parsed.filter(bad))
  }

  /** The quarantine predicate over a [[parse]]d frame: payload failed
    * to parse entirely or in part (a torn payload: [[corruptField]]
    * is set), or parsed to a change with no usable kind/table. An
    * unrecognized kind quarantines too: wal2json change
    * records carry only insert/update/delete (truncate rides the DDL
    * spool), and [[decodeEvents]] would silently DROP any other value
    * — the reference fail-fasts on statements it can't generate
    * (`replayer/connemara_replay.pl:543-544`), so losing the row
    * quietly is the one behavior both modes must rule out. Exposed as
    * a column so the stream engine can fold validity counting into its
    * single per-batch preamble aggregate. */
  def invalid: Column =
    col("p").isNull || col(s"p.$corruptField").isNotNull ||
      col("p.kind").isNull || col("p.table").isNull || col("p.schema").isNull ||
      !col("p.kind").isin("insert", "update", "delete")

  /** Envelope stream → one spool-shaped row per change, the envelope's
    * xid/timestamp carried onto every change (S2's framing, minus the
    * chunk reassembly that a line-per-transaction source obviates).
    *
    * Envelope sources have no LSNs, but [[decodeEvents]] orders by
    * `(xid_timestamp, lsn_start)` and per-key order inside a
    * transaction matters (insert-then-update of one key). So a
    * synthetic `lsn_start` = `xid << 30 | chg_idx` provides the
    * logical clock: xids are assigned monotonically by the source,
    * and the intra-transaction change index breaks ties. 30 bits
    * cover ~1B changes per transaction without carrying into the xid
    * bits (a 2^20 shift overflowed on bulk transactions and
    * interleaved their ordering with the next xid); PG xids are
    * 32-bit, so xid << 30 stays inside a positive Long. */
  def explodeEnvelope(envelopes: DataFrame, payloadCol: String = "value"): DataFrame = {
    val parsed = envelopes.withColumn("env", fromJson(col(payloadCol), envelopeSchema))
    parsed
      .select(
        col("*"),
        posexplode(col("env.change")).as(Seq("chg_idx", "p")))
      // every change of a torn envelope is torn
      .withColumn("p", col("p").withField(corruptField, col(s"env.$corruptField")))
      .withColumn("xid", col("env.xid"))
      .withColumn("xid_timestamp", to_timestamp(col("env.timestamp")))
      .withColumn("lsn_start",
        shiftleft(col("env.xid"), 30).bitwiseOR(col("chg_idx")))
      .drop("env", payloadCol)
  }

  /** Decode parsed DML changes of ONE table into merge events:
    * `(ord struct(ts,lsn,sub), op ∈ {row,patch,del},
    *   key array<string> aligned to meta.pkCols, vals map)`.
    *
    *  - insert → `row` (full replacement)
    *  - update → `patch` keyed by oldkeys (partial columns — TOAST
    *    omission, `replayer/connemara_replay.pl:185-190`)
    *  - update changing the PK (`:905-931`) → `del`(oldkey) +
    *    `row`(newkey) pair, ordered by a sub-sequence number (A5)
    *  - delete → `del` keyed by oldkeys
    *
    * PK values are looked up name-by-name in registry order, never
    * positionally (`:938-940`). Each change row decodes in one
    * compiled call ([[graft.plans.DecodeEventsExpression]]) that
    * builds the values map once; the property spec pins it to the
    * column-lambda form it replaced.
    */
  def decodeEvents(parsed: DataFrame, meta: TableMeta): DataFrame =
    forTable(parsed, meta)
      .select(
        col("xid_timestamp"), col("lsn_start"),
        explode(graft.plans.NativeCols.decodeEvents(col("p"), meta.pkCols)).as("e"))
      .select(
        struct(
          col("xid_timestamp").as("ts"),
          col("lsn_start").as("lsn"),
          col("e.sub").as("sub")).as("ord"),
        col("e.op").as("op"),
        col("e.key").as("key"),
        col("e.vals").as("vals"))

  /** The parsed changes of ONE table. P5-style source restriction:
    * filter on database only when the spool carries it (unit fixtures
    * may omit the column). */
  private[graft] def forTable(parsed: DataFrame, meta: TableMeta): DataFrame = {
    val dbFilter =
      if (parsed.columns.contains("database")) col("database") === meta.id.database
      else lit(true)
    parsed.filter(
      dbFilter &&
        col("p.schema") === meta.id.schema && col("p.table") === meta.id.table &&
        !col("p.table").startsWith("pg_temp")) // P6 table-rewrite artifacts
  }
}
