package graft.maef

import org.apache.spark.sql.types._

/** The reference's data model, verbatim (DDL:
  * data/sql/challenge_db_create.sql:6-48). Time is stored as zero-padded
  * `TEXT` date + time columns whose lexicographic order equals
  * chronological order — preserved here as StringType for byte parity at
  * the JSON/CSV boundaries (SURVEY §7.4.1); operators derive a real
  * timestamp internally when they need interval arithmetic.
  */
object MaefModel {

  val Conversions: StructType = StructType(Seq(
    StructField("conv_id", StringType, nullable = false),
    StructField("user_id", StringType),
    StructField("conv_date", StringType),
    StructField("conv_time", StringType),
    StructField("revenue", DoubleType)))

  val SessionSources: StructType = StructType(Seq(
    StructField("session_id", StringType, nullable = false),
    StructField("user_id", StringType),
    StructField("event_date", StringType),
    StructField("event_time", StringType),
    StructField("channel_name", StringType),
    StructField("holder_engagement", IntegerType),
    StructField("closer_engagement", IntegerType),
    StructField("impression_interaction", IntegerType)))

  val SessionCosts: StructType = StructType(Seq(
    StructField("session_id", StringType, nullable = false),
    StructField("cost", DoubleType)))

  /** channel_reporting (challenge_db_create.sql:41-48). */
  val ChannelReporting: StructType = StructType(Seq(
    StructField("channel_name", StringType, nullable = false),
    StructField("date", StringType, nullable = false),
    StructField("cost", DoubleType),
    StructField("ihc", DoubleType),
    StructField("ihc_revenue", DoubleType)))

  /** The journey-entry JSON record — the attribution API's input contract
    * (src/etl/transform.py:247-256, golden: data/output/required_format.json). */
  val JourneyEntry: StructType = StructType(Seq(
    StructField("conversion_id", StringType, nullable = false),
    StructField("session_id", StringType, nullable = false),
    StructField("timestamp", StringType),
    StructField("channel_label", StringType),
    StructField("holder_engagement", IntegerType),
    StructField("closer_engagement", IntegerType),
    StructField("conversion", IntegerType),
    StructField("impression_interaction", IntegerType)))

  /** One attribution-API response envelope
    * (data/output/api_response.json, consumed at src/etl/load.py:34-67).
    * The three alternative payload fields (`value`/`data`/`results`) mirror
    * the reference's defensive envelope dispatch. */
  val ResponseRecord: StructType = StructType(Seq(
    StructField("conversion_id", StringType),
    StructField("session_id", StringType),
    StructField("initializer", DoubleType),
    StructField("holder", DoubleType),
    StructField("closer", DoubleType),
    StructField("ihc", DoubleType)))

  val ResponseEnvelope: StructType = StructType(Seq(
    StructField("statusCode", IntegerType),
    StructField("value", ArrayType(ResponseRecord)),
    StructField("data", ArrayType(ResponseRecord)),
    StructField("results", ArrayType(ResponseRecord)),
    StructField("partialFailureErrors", ArrayType(StructType(Seq(
      StructField("error", StringType)))))))
}
