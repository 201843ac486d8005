package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.GraftSqlBridge.{toColumn, toExpression}
import graft.functions.expressions.LiteralByReference

/** SBS-1 / BaseStation message parsing — the reference's core data model
  * (reference-reconstruction/dump1090-stream-parser.py: DDL P:55-81, split
  * P:134, 22-field validation P:137, parsed_time enrichment P:106-140).
  *
  * Design (SURVEY.md §2.5 S1): no custom expression needed — the parse is
  * `split` + `element_at` + empty→NULL normalization + casts, all Spark
  * built-ins inside one codegen'd projection (Catalyst's common-subexpression
  * elimination evaluates the split once per row).
  *
  * Deliberate divergences from upstream, pinned by Sbs1ParserSpec:
  *  - empty CSV fields become NULL, not '' (SURVEY.md §1.2);
  *  - a line split across read chunks is reassembled, and two complete
  *    lines are never merged (upstream's strip("\n") bug, P:114 / R3).
  */
/** Typed squitters row (SURVEY.md §1.3): compile-time field checks for the
  * Scala API; `Sbs1.typed` converts a parsed DataFrame.
  */
case class Squitter(
    message_type: String, transmission_type: Option[Int],
    session_id: Option[Int], aircraft_id: Option[Int],
    hex_ident: Option[String], flight_id: Option[Int],
    generated_date: Option[String], generated_time: Option[String],
    logged_date: Option[String], logged_time: Option[String],
    callsign: Option[String], altitude: Option[Int],
    ground_speed: Option[Int], track: Option[Int],
    lat: Option[Double], lon: Option[Double],
    vertical_rate: Option[Int], squawk: Option[String],
    alert: Option[Int], emergency: Option[Int],
    spi: Option[Int], is_on_ground: Option[Int])

object Sbs1 {

  /** The 22 SBS-1 positional fields: name → engine type. */
  val Fields: Seq[(String, DataType)] = Seq(
    "message_type"      -> StringType,
    "transmission_type" -> IntegerType,
    "session_id"        -> IntegerType,
    "aircraft_id"       -> IntegerType,
    "hex_ident"         -> StringType,
    "flight_id"         -> IntegerType,
    "generated_date"    -> StringType,
    "generated_time"    -> StringType,
    "logged_date"       -> StringType,
    "logged_time"       -> StringType,
    "callsign"          -> StringType,   // trailing spaces preserved
    "altitude"          -> IntegerType,
    "ground_speed"      -> IntegerType,
    "track"             -> IntegerType,
    "lat"               -> DoubleType,
    "lon"               -> DoubleType,
    "vertical_rate"     -> IntegerType,
    "squawk"            -> StringType,   // 4 octal digits, keep leading zeros
    "alert"             -> IntegerType,
    "emergency"         -> IntegerType,
    "spi"               -> IntegerType,
    "is_on_ground"      -> IntegerType
  )

  /** squitters schema: 22 fields + parsed_time (processing time, P:79). */
  val Schema: StructType = StructType(
    Fields.map { case (n, t) => StructField(n, t) } :+
      StructField("parsed_time", TimestampType))

  /** Typed columns from a raw SBS-1 line column: split once, empty→NULL,
    * cast per field. Codegen-friendly (no UDF).
    *
    * Spark 4 runs ANSI mode by default, where a malformed numeric field (or
    * an out-of-range element_at) would fail the whole job — one bad line
    * must never kill a stream, so lookups and casts use TRY semantics
    * (malformed → NULL), matching the reference's drop-don't-crash posture.
    */
  def sbs1Columns(raw: Column): Seq[Column] = {
    import org.apache.spark.sql.catalyst.expressions.{Cast, EvalMode}
    def tryCast(c: Column, t: DataType): Column =
      toColumn(Cast(toExpression(c), t, None, EvalMode.TRY))
    val parts = split(raw, ",", -1)
    Fields.zipWithIndex.map { case ((name, dt), i) =>
      val s = try_element_at(parts, lit(i + 1))
      val nulled = when(s === "", lit(null)).otherwise(s)
      (dt match {
        case StringType => nulled
        case t          => tryCast(nulled, t)
      }).as(name)
    }
  }

  /** Event time from the generated date/time fields (SURVEY.md §1.1: the
    * data's own clock, vs parsed_time's processing clock).
    */
  def eventTime: Column =
    // try_to_timestamp, not to_timestamp: under Spark 4's default ANSI
    // mode a malformed or partly-absent date/time (which passes the
    // 22-field validity check — the fields TRY-cast to NULL but
    // concat_ws SKIPS nulls, feeding a non-null unparseable string
    // here) would throw CANNOT_PARSE_TIMESTAMP and kill the whole
    // stream; one bad line must yield one NULL event_time instead
    // (r18 self-review)
    try_to_timestamp(
      concat_ws(" ", col("generated_date"), col("generated_time")),
      lit("yyyy/MM/dd HH:mm:ss.SSS")).as("event_time")

  /** Tag appended by the socket source to a record it framed from a
    * DISCONNECT-truncated partial (U+001A SUBSTITUTE — the control char
    * whose meaning is precisely "data here was corrupted"; it cannot occur
    * in the ASCII SBS-1 wire format). The 22-field arity check alone is a
    * leaky quarantine: a line cut mid-last-field can still hold exactly 21
    * commas and would pass with a silently corrupted final field value —
    * the tag makes truncation unforgeable regardless of where the cut
    * landed. (The driver fixtures contain complete lines only, so the
    * oracle's untagged read is unaffected.)
    */
  val TruncationTag = '\u001A'

  /** Validity predicate — exactly 22 fields (P:137) and not
    * disconnect-truncated (see [[TruncationTag]]).
    */
  def isValid(raw: Column): Column =
    size(split(raw, ",", -1)) === 22 && !raw.contains(TruncationTag.toString)

  /** Batch/stream parse of a lines DataFrame (column `value`, as produced
    * by text/socket sources). Keeps only valid lines; appends parsed_time
    * (processing time) like the reference's 23rd column.
    *
    * In a stream, parsed_time is the micro-batch timestamp: one value per
    * batch, the same again when the batch replays. The engine turns it
    * into a literal per batch; [[LiteralByReference]] keeps that literal
    * out of the generated source, so the codegen'd parse stage compiles
    * once per query instead of once per batch.
    */
  def parse(lines: DataFrame, withParsedTime: Boolean = true): DataFrame = {
    val base = lines
      .filter(isValid(col("value")))
      .select(sbs1Columns(col("value")): _*)
    if (withParsedTime)
      base.withColumn("parsed_time",
        toColumn(LiteralByReference(toExpression(current_timestamp()))))
    else base
  }

  /** Typed view of a parsed squitters DataFrame. */
  def typed(parsed: DataFrame): org.apache.spark.sql.Dataset[Squitter] = {
    val spark = parsed.sparkSession
    import spark.implicits._
    parsed.select(Fields.map(f => col(f._1)): _*).as[Squitter]
  }

  /** PERMISSIVE-mode variant: invalid lines survive with the raw text in
    * `corrupt_record` and NULL fields (CSV permissive-mode analog, R5).
    */
  def parsePermissive(lines: DataFrame): DataFrame =
    lines.select(
      (sbs1Columns(col("value")) :+
        when(!isValid(col("value")), col("value")).as("corrupt_record")): _*)
}
