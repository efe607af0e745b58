package graft.etl

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** JSON parse + nested-field flatten (reference `etl/main.py:128-161`).
  *
  * `from_json` runs in PERMISSIVE mode (reference default): malformed JSON
  * yields a struct of nulls whose [[Unparsed]] field keeps the raw text,
  * fields missing from a record yield nulls, fields not in the schema are
  * dropped. Catalyst's `OptimizeJsonExprs` prunes the
  * parse schema to the fields actually referenced downstream.
  */
object Flatten {

  /** The field of `event_json` that holds the raw text of a payload that
    * is not JSON, null for every payload that parsed: PERMISSIVE mode
    * turns such a payload into a struct of null fields, not a null struct.
    */
  val Unparsed = "_corrupt_record"

  /** Parse the embedded JSON payload column into `event_json`. */
  def parse(df: DataFrame, eventCol: String = "event"): DataFrame =
    df.withColumn(
      "event_json",
      from_json(col(eventCol), Schemas.eventSchema.add(Unparsed, "string"),
        Schemas.jsonOptions + ("columnNameOfCorruptRecord" -> Unparsed))
    )

  /** Project the 21 payload leaves to a flat, wide event table
    * (`etl/main.py:134-161`). Pure `GetStructField` chains — whole-stage
    * codegen friendly, nested-schema pruning applies at the scan.
    */
  def flatten(parsed: DataFrame): DataFrame =
    parsed.select(Schemas.flatColumns.map { case (path, alias) =>
      col(path).as(alias)
    }: _*)

  /** parse + flatten in one go. */
  def apply(df: DataFrame, eventCol: String = "event"): DataFrame =
    flatten(parse(df, eventCol))
}
