package graft.etl

import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.NeoWs

/** Silver layer: flatten + type the raw NeoWs feed into one row per
  * asteroid-per-day (SURVEY.md §1.4), hive-partitioned by `_processing_date`.
  *
  * Capability twin of `/root/reference/src/etl/bronze_to_silver.py:31-98`
  * (operators F1-F8, P1-P3, S4-S5), re-expressed Spark-first:
  *   - explicit map-typed schema (graft.model.NeoWs) instead of per-read
  *     inference: no inference job, date-independent plan, multi-day feeds
  *     flatten naturally via `map_values` + `flatten` instead of the
  *     reference's `near_earth_objects.{today}` string splice (`:39`);
  *   - `_etl_batch_id` / processing timestamps injectable for deterministic
  *     replays (the reference stamps wall-clock, `:83-89`);
  *   - everything is codegen'd builtins — one narrow projection over one
  *     Generate, no shuffle at all in this stage; the only UDFs are the
  *     zero-argument carriers of the per-run audit values ([[runValue]]).
  */
object BronzeToSilver {

  val SourceSystem = "NeoWs API"

  /** A value that changes from run to run (the injected processing instant,
    * the batch id), handed to generated code by reference. Spark writes
    * long, date and timestamp literals into the generated source, so as
    * literals they made every feed-day's silver projection a new class to
    * compile and JIT in a long-lived backfill session. A zero-argument UDF
    * is not constant-folded, and its generated code reads the function from
    * the references array, so the class is the same every day. */
  private def runValue[T: TypeTag](v: T): Column = udf(() => v).apply()

  /** Read one-or-more bronze feed documents with the explicit schema. */
  def readBronze(spark: SparkSession, path: String): DataFrame =
    spark.read.option("multiline", "true").schema(NeoWs.feed).json(path)

  /** Pure transform: raw feed frame → silver frame.
    *
    * @param batchId  injected batch id (reference: `unix_timestamp()`, `:89`)
    * @param processingTs optional fixed processing instant for deterministic
    *                     tests; defaults to current_timestamp/current_date
    *                     exactly like the reference (`:83-85`).
    */
  def transform(raw: DataFrame, batchId: Long,
                processingTs: Option[java.time.Instant] = None): DataFrame = {
    val procTs = processingTs.map(runValue(_)).getOrElse(current_timestamp())
    val procDate = processingTs.map(i => to_date(runValue(i)))
      .getOrElse(current_date())

    raw
      // F1: un-nest {date -> [asteroid]} across ALL dates in the document
      .select(explode(flatten(map_values(col("near_earth_objects")))).as("asteroid"))
      // P1/P2: 19-column carve; keep only the FIRST close approach (reference
      // `:61` — a deliberate data reduction, not a bug)
      .select(
        col("asteroid.id").as("asteroid_id"),
        col("asteroid.neo_reference_id").as("neo_id"),
        col("asteroid.name").as("asteroid_name"),
        col("asteroid.absolute_magnitude_h").as("magnitude"),
        col("asteroid.is_potentially_hazardous_asteroid").as("is_hazardous"),
        col("asteroid.is_sentry_object").as("is_sentry"),
        col("asteroid.estimated_diameter.kilometers.estimated_diameter_min").as("diameter_min_km"),
        col("asteroid.estimated_diameter.kilometers.estimated_diameter_max").as("diameter_max_km"),
        col("asteroid.estimated_diameter.meters.estimated_diameter_min").as("diameter_min_m"),
        col("asteroid.estimated_diameter.meters.estimated_diameter_max").as("diameter_max_m"),
        col("asteroid.nasa_jpl_url").as("jpl_url"),
        // ANSI-safe element access: empty close_approach_data → null struct
        // (the reference's `[0]` under ANSI would throw; pandas twin coerces)
        get(col("asteroid.close_approach_data"), lit(0)).as("approach"))
      // P3: star-expand the approach struct into typed columns (F2-F4).
      // try_cast/try_to_timestamp: malformed input → null (pandas
      // errors="coerce" parity, SURVEY §2.6 F4) instead of ANSI abort — at
      // 100 TB one malformed row must not kill the job.
      .withColumn("approach_date", expr("try_cast(approach.close_approach_date AS date)"))
      .withColumn("approach_datetime",
        try_to_timestamp(col("approach.close_approach_date_full"), lit("yyyy-MMM-dd HH:mm")))
      .withColumn("approaching_body", col("approach.orbiting_body"))
      .withColumn("velocity_km_s", expr("try_cast(approach.relative_velocity.kilometers_per_second AS double)"))
      .withColumn("velocity_km_h", expr("try_cast(approach.relative_velocity.kilometers_per_hour AS double)"))
      .withColumn("miss_distance_km", expr("try_cast(approach.miss_distance.kilometers AS double)"))
      .withColumn("miss_distance_au", expr("try_cast(approach.miss_distance.astronomical AS double)"))
      .withColumn("miss_distance_lunar", expr("try_cast(approach.miss_distance.lunar AS double)"))
      .drop("approach")
      // F5-F8: audit columns
      .withColumn("_processing_timestamp", procTs)
      .withColumn("_processing_date", procDate)
      .withColumn("_source_system", lit(SourceSystem))
      .withColumn("_etl_batch_id", runValue(batchId))
      .select(NeoWs.silverColumns.map(col): _*)
  }

  /** S5: partitioned parquet write. Dynamic partition overwrite replaces only
    * the partitions present in this batch — at daily-batch scale that means
    * re-runs are idempotent without rewriting history (the reference's
    * whole-table `mode("overwrite")`, `:94-98`, would). */
  def write(silver: DataFrame, silverDir: String): Unit =
    silver.write
      .mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("_processing_date")
      .parquet(silverDir)

  def run(spark: SparkSession, bronzePath: String, silverDir: String,
          batchId: Long = System.currentTimeMillis() / 1000): DataFrame = {
    val silver = transform(readBronze(spark, bronzePath), batchId)
    write(silver, silverDir)
    spark.read.parquet(silverDir)
  }
}
