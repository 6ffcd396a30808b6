package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Ingestion parsing layer — the engine-side equivalent of the reference's
  * BrightSky client + router (S1–S3, F6, F7, J5–J7, A7; reference
  * `src/ingestion/brightsky_client.py:36-123`,
  * `src/ingestion/observations.py:85-229,321-407`).
  *
  * HTTP fetching stays driver-side (an ingestion concern, not an engine
  * one); everything after the byte boundary is columnar: `from_json` with
  * EXPLICIT schemas (never inference), field renames fixing the
  * reference's humidity/pressure mapping bug (SURVEY §8 Q3), type routing
  * via a broadcast join on `source_id`, past/future splitting against an
  * explicit asOf, anti-join station discovery, and max-timestamp
  * watermarking for incremental loads.
  */
object Ingest {

  /** BrightSky weather-record payload schema (S2) — explicit, tolerant of
    * missing fields (absent keys parse to NULL, matching the reference's
    * .get() defaults).
    */
  val weatherSchema: StructType = StructType(Seq(
    StructField("timestamp", StringType),
    StructField("source_id", LongType),
    StructField("temperature", DoubleType),
    StructField("precipitation", DoubleType),
    StructField("wind_speed", DoubleType),
    StructField("wind_direction", IntegerType),
    StructField("cloud_cover", IntegerType),
    StructField("pressure_msl", DoubleType),
    StructField("sunshine", DoubleType),
    StructField("visibility", DoubleType),
    StructField("dew_point", DoubleType),
    StructField("relative_humidity", IntegerType),
    StructField("lat", DoubleType),
    StructField("lon", DoubleType)))

  /** BrightSky source-metadata payload schema (S3). */
  val sourceSchema: StructType = StructType(Seq(
    StructField("id", LongType),
    StructField("station_name", StringType),
    StructField("wmo_station_id", StringType),
    StructField("observation_type", StringType),
    StructField("lat", DoubleType),
    StructField("lon", DoubleType),
    StructField("height", DoubleType),
    StructField("first_record", StringType),
    StructField("last_record", StringType)))

  /** Parse raw weather-record JSON strings: explicit schema, ISO8601
    * timestamps, and the rename `relative_humidity`→`humidity`,
    * `pressure_msl`→`pressure` (reference `brightsky_client.py:85,90`;
    * fixes the Q3 ingest mapping bug).
    */
  def parseWeather(raw: DataFrame, jsonCol: String): DataFrame =
    raw.withColumn("rec", from_json(col(jsonCol), weatherSchema))
      .select(
        to_timestamp(col("rec.timestamp")).as("timestamp"),
        col("rec.source_id").as("source_id"),
        col("rec.temperature").as("temperature"),
        col("rec.precipitation").as("precipitation"),
        col("rec.wind_speed").as("wind_speed"),
        col("rec.wind_direction").as("wind_direction"),
        col("rec.cloud_cover").as("cloud_cover"),
        col("rec.pressure_msl").as("pressure"),
        col("rec.sunshine").as("sunshine"),
        col("rec.visibility").as("visibility"),
        col("rec.dew_point").as("dew_point"),
        col("rec.relative_humidity").as("humidity"),
        col("rec.lat").as("lat"),
        col("rec.lon").as("lon"))

  /** Parse source-metadata JSON (S3). */
  def parseSources(raw: DataFrame, jsonCol: String): DataFrame =
    raw.withColumn("src", from_json(col(jsonCol), sourceSchema))
      .select(
        col("src.id").as("source_id"),
        col("src.station_name").as("station_name"),
        col("src.observation_type").as("observation_type"),
        col("src.lat").as("lat"),
        col("src.lon").as("lon"),
        to_timestamp(col("src.last_record")).as("last_record"))

  /** F7 type router (reference `observations.py:181-229`): attach
    * observation_type via broadcast join on source_id, set
    * `validated = (type == historical)`, DROP unknown types.
    */
  val KnownTypes: Seq[String] = Seq("historical", "synop", "current")

  def routeByType(records: DataFrame, sources: DataFrame): DataFrame =
    records.join(broadcast(sources.select("source_id", "observation_type")), "source_id")
      .filter(col("observation_type").isin(KnownTypes: _*))
      .withColumn("validated", col("observation_type") === "historical")

  /** F6 past/future split (reference `observations.py:374-387`,
    * `forecasts.py:186-195`): strictly-past rows are observations,
    * strictly-future are forecasts.
    */
  def splitPastFuture(df: DataFrame, asOf: Column): (DataFrame, DataFrame) =
    (df.filter(col("timestamp") < asOf), df.filter(col("timestamp") > asOf))

  /** J5 station discovery: source ids seen in data but absent from the
    * registry (reference `stations.py:101-118` — minus its LIMIT 100
    * row-by-row throttle, an upsert artifact).
    */
  def discoverStations(records: DataFrame, stations: DataFrame): DataFrame =
    records.select(col("source_id")).distinct()
      .join(stations.select(col("source_id")), Seq("source_id"), "left_anti")

  /** A7 incremental watermark (reference `observations.py:144-157`). */
  def watermark(df: DataFrame, tsCol: String): Option[java.sql.Timestamp] =
    Option(df.agg(max(col(tsCol))).head().getTimestamp(0))

  /** S4: GeoJSON MultiPolygon parsing + planar centroid precompute
    * (reference `scripts/load_postal_codes_berlin.py:20-59` builds closed
    * rings; `ST_Centroid` use at `aggregation.py:94,107` is replaced by
    * centroids computed once at load — SURVEY §4.3).
    *
    * Takes a column of GeoJSON strings, parses `coordinates`
    * ([[[lon,lat],…]]] nesting) with an explicit schema, and averages the
    * first ring's vertices (excluding the closing vertex) — the planar
    * centroid, within meters of ST_Centroid for postal-code-sized polygons.
    */
  val geoJsonSchema: StructType = StructType(Seq(
    StructField("type", StringType),
    StructField("coordinates",
      ArrayType(ArrayType(ArrayType(ArrayType(DoubleType)))))))

  def parseGeoJsonCentroids(raw: DataFrame, jsonCol: String): DataFrame =
    raw.withColumn("g", from_json(col(jsonCol), geoJsonSchema))
      // first polygon, outer ring, minus the closing vertex
      .withColumn("ring", expr("slice(g.coordinates[0][0], 1, size(g.coordinates[0][0]) - 1)"))
      .withColumn("centroid_lon",
        expr("aggregate(ring, CAST(0.0 AS DOUBLE), (acc, v) -> acc + v[0])") / size(col("ring")))
      .withColumn("centroid_lat",
        expr("aggregate(ring, CAST(0.0 AS DOUBLE), (acc, v) -> acc + v[1])") / size(col("ring")))
      .drop("g", "ring")
}
