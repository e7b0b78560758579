package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Variant-typed value extraction with the reference's fallback-chain
  * semantics, as pure Column expressions (codegen-friendly, no UDFs).
  *
  * The reference's AdMob report rows carry `metricValues` /
  * `dimensionValues` maps whose leaves are variant-typed JSON objects
  * (`{"integerValue": "12"}` / `{"microsValue": "3400000"}` /
  * `{"decimalValue": "7.9"}` / `{"doubleValue": 0.25}` /
  * `{"value": "..."}`). We model those payloads as JSON string columns.
  *
  * Reference: save_CSV.py:73-101 (get_int/get_float),
  * native_CTR_alerts.py:78-106 (get_int/get_float/disp).
  */
object VariantF {

  /** Extract a named key's variant object from a dims/metrics JSON map
    * column, e.g. `variantField(col("metricValues"), "CLICKS")`. */
  def variantField(mapJson: Column, key: String): Column =
    get_json_object(mapJson, s"$$.$key")

  /** Parse a variant payload ONCE into a typed struct. A
    * `get_json_object` per key would re-parse the JSON string (one
    * Jackson parse per extracted key per row); parse with this and run
    * the fallback chains over struct fields — materialize the struct
    * in its own projection so it isn't inlined per consumer. */
  def parseVariant(mv: Column): Column =
    from_json(mv, org.apache.spark.sql.types.StructType(
      Seq("integerValue", "microsValue", "decimalValue", "doubleValue", "value")
        .map(org.apache.spark.sql.types.StructField(_,
          org.apache.spark.sql.types.StringType))))

  /** get_int semantics (save_CSV.py:73-87) over a [[parseVariant]]
    * struct: integerValue, else microsValue, else decimalValue (parsed
    * as float then truncated toward zero — Python's int(float(x)) and
    * Spark's double->long cast both truncate), else `value`, else 0. */
  def getIntFromStruct(v: Column): Column = coalesce(
    v.getField("integerValue").cast("long"),
    v.getField("microsValue").cast("long"),
    v.getField("decimalValue").cast("double").cast("long"),
    v.getField("value").cast("double").cast("long"),
    lit(0L))

  /** get_float semantics (save_CSV.py:89-101) over a [[parseVariant]]
    * struct: doubleValue, else decimalValue, else `value`, else 0.0. */
  def getFloatFromStruct(v: Column): Column = coalesce(
    v.getField("doubleValue").cast("double"),
    v.getField("decimalValue").cast("double"),
    v.getField("value").cast("double"),
    lit(0.0))

  /** disp() semantics (native_CTR_alerts.py:104-106): displayLabel if
    * non-empty, else value if non-empty, else "". Python `or` treats
    * empty string as falsy, hence the nullif-empty steps. */
  def displayCoalesce(displayLabel: Column, value: Column): Column =
    coalesce(nullif(displayLabel, lit("")), nullif(value, lit("")), lit(""))

  /** YYYYMMDD -> "YYYY-MM-DD" string transform (save_CSV.py:160-162).
    * Pure string slicing like the reference (no date parsing), applied
    * only when the input is 8 chars (save_network_CSV.py:150). */
  def yyyymmddToIso(raw: Column): Column =
    when(length(raw) === 8,
      concat_ws("-", substring(raw, 1, 4), substring(raw, 5, 2),
        substring(raw, 7, 2))
    ).otherwise(raw)

  /** BigQuery SAFE_DIVIDE semantics: NULL on zero/NULL divisor
    * (native_CTR_alerts.py:232). */
  def safeDivide(num: Column, den: Column): Column =
    num.cast("double") / nullif(den.cast("double"), lit(0.0))
}
