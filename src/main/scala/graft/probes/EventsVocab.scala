package graft.probes

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StructField, StructType}
import graft.etl.Schemas

/** Deterministic mapping from the synthetic `events` table
  * (`TESTDATA.md`: event_id, ts, user_id, event_type, value, props) onto
  * the reference's parcel-event vocabulary, so the REAL parity pipeline
  * (Flatten/Dims/FactBuilder/Kpi) can be probed against a DuckDB oracle.
  *
  * Every Spark `Column` here has a byte-identical DuckDB SQL twin (the
  * `*Sql` constants). Null arms are deliberate — they exercise the
  * reference's null-sensitive join and concat_ws hazards (SURVEY §2.12).
  */
object EventsVocab {

  val kSchema = StructType(Seq(StructField("k", IntegerType)))

  /** The JSON payload field `props.k`. */
  def k: Column = from_json(col("props"), kSchema).getField("k")
  val kSql = "CAST(json_extract_string(props, '$.k') AS INTEGER)"

  def code: Column =
    when(col("event_type") === "signup", "PEC")
      .when(col("event_type") === "purchase", "TRN")
      .when(col("event_type") === "click", "LIV")
      .when(col("event_type") === "view", "ANN")
      .otherwise("ERR")
  val codeSql =
    "CASE event_type WHEN 'signup' THEN 'PEC' WHEN 'purchase' THEN 'TRN' WHEN 'click' THEN 'LIV' WHEN 'view' THEN 'ANN' ELSE 'ERR' END"

  /** Sub-code with a null arm (k%4==3 → null, the when-no-otherwise path). */
  def sub: Column =
    when(k % 4 === 0, "REL").when(k % 4 === 1, "APM").when(k % 4 === 2, "OTH")
  val subSql =
    s"CASE $kSql % 4 WHEN 0 THEN 'REL' WHEN 1 THEN 'APM' WHEN 2 THEN 'OTH' END"

  def shippingId: Column = when(col("user_id") % 17 =!= 0, concat(lit("SH"), col("user_id")))
  val shippingIdSql = "CASE WHEN user_id % 17 = 0 THEN NULL ELSE 'SH' || user_id END"

  def signCode: Column = when(col("user_id") % 11 =!= 0, concat(lit("S"), col("user_id") % 5))
  val signCodeSql = "CASE WHEN user_id % 11 = 0 THEN NULL ELSE 'S' || (user_id % 5) END"

  def brandCode: Column = when(col("user_id") % 13 =!= 0, concat(lit("B"), col("user_id") % 3))
  val brandCodeSql = "CASE WHEN user_id % 13 = 0 THEN NULL ELSE 'B' || (user_id % 3) END"

  def stateNature: Column = when(k % 7 =!= 0, concat(lit("NAT"), k % 2))
  val stateNatureSql = s"CASE WHEN $kSql % 7 = 0 THEN NULL ELSE 'NAT' || ($kSql % 2) END"

  /** The full reference-shaped payload as a JSON string column. */
  def eventJson: Column = to_json(
    struct(
      code.as("event_code"),
      col("ts").as("event_date"),
      (col("ts") - expr("INTERVAL 1 HOUR")).as("entry_date"),
      concat(lit("N"), k % 3).as("event_nature"),
      sub.as("event_sub_code"),
      struct(
        signCode.as("sign_code"),
        brandCode.as("brand_code_alpha"),
        struct(
          lit("P1").as("prestation_code"),
          struct(
            (col("user_id") % 10).cast("int").as("codeAgence"),
            when(col("user_id") % 2 === 0, "FR").otherwise("BE").as("pays")
          ).as("round")
        ).as("collection"),
        when(col("value") > 100, "Y").otherwise("N").as("paid"),
        (k % 2 === 0).as("sav_folder"),
        (k % 5 === 0).as("is_replaced"),
        struct(
          concat(lit("ST"), k % 4).as("code"),
          to_date(col("ts")).cast("string").as("date"),
          stateNature.as("nature"),
          concat(lit("SC"), k % 3).as("sousCode")
        ).as("state"),
        lit(null).cast("string").as("canceled_state"),
        shippingId.as("shipping_id"),
        struct(
          lit("P2").as("prestation_code"),
          struct(
            ((col("user_id") + 1) % 10).cast("int").as("codeAgence"),
            when((col("user_id") + 1) % 2 === 0, "FR").otherwise("BE").as("pays")
          ).as("round")
        ).as("delivery"),
        k.cast("int").as("parcel_number"),
        col("user_id").cast("int").as("shipping_number"),
        lit("O1").as("options"),
        (k % 3).cast("int").as("parcel_sequence")
      ).as("shipping")
    ),
    Schemas.jsonOptions
  )

  /** events → reference-shaped raw frame (the `event` JSON column plus two
    * carrier columns, like the real source CSV).
    */
  def synth(events: DataFrame): DataFrame =
    events.select(
      eventJson.as("event"),
      col("event_id").cast("string").as("row_id"),
      lit("events.parquet").as("ingest_file"))

  /** DuckDB twin of `Flatten(synth(events))` — the flat 21-column frame
    * computed directly (no JSON round-trip; the round-trip is exact by
    * construction with the 6-digit µs format).
    */
  val flatSql: String =
    s"""SELECT
       |  $codeSql AS event_code,
       |  $subSql AS event_sub_code,
       |  ts AS event_date,
       |  ts - INTERVAL 1 HOUR AS entry_date,
       |  'N' || ($kSql % 3) AS event_nature,
       |  $shippingIdSql AS shipping_id,
       |  $signCodeSql AS sign_code,
       |  $brandCodeSql AS brand_code_alpha,
       |  CAST(user_id % 10 AS INTEGER) AS collection_codeAgence,
       |  CASE WHEN user_id % 2 = 0 THEN 'FR' ELSE 'BE' END AS collection_pays,
       |  CAST((user_id + 1) % 10 AS INTEGER) AS delivery_codeAgence,
       |  CASE WHEN (user_id + 1) % 2 = 0 THEN 'FR' ELSE 'BE' END AS delivery_pays,
       |  ($kSql % 2 = 0) AS sav_folder,
       |  ($kSql % 5 = 0) AS is_replaced,
       |  CAST($kSql AS INTEGER) AS parcel_number,
       |  CAST($kSql % 3 AS INTEGER) AS parcel_sequence,
       |  CAST(user_id AS INTEGER) AS shipping_number,
       |  'ST' || ($kSql % 4) AS state_code,
       |  CAST(CAST(ts AS DATE) AS VARCHAR) AS state_date,
       |  $stateNatureSql AS state_nature,
       |  'SC' || ($kSql % 3) AS state_subcode
       |FROM events""".stripMargin

  /** DuckDB twin of [[graft.etl.SurrogateKeys.key]] (Deterministic mode). */
  def shaKeySql(cols: String*): String =
    if (cols.size == 1) s"sha256(coalesce(CAST(${cols.head} AS VARCHAR), '␀'))"
    else
      "sha256(concat_ws('§', " +
        cols.map(c => s"coalesce(CAST($c AS VARCHAR), '␀')").mkString(", ") + "))"
}
