package graft.etl

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.{Dedup, Scalars}

/** The reference's full ETL surface: one wide denormalized CSV → the 16
  * star-schema tables of `DDL Final.sql` (15 populated + the declared-but-
  * never-loaded CircuitLocation stub), with the *intended* per-table
  * semantics documented in SURVEY §2 (not the bugs — §7.4 risk 7). A user
  * of the reference runs exactly this shape daily; here each table is one
  * lazy DataFrame lineage (column pruning via Catalyst) instead of
  * per-row Python loops. The lineages share one scan DEFINITION, not one
  * scan EXECUTION: each table's write is its own Spark job and re-parses
  * the CSV (the benchmark's traced star pass measures
  * `core.Tables.csv_reparse_ratio` = 15.24 — about one full CSV parse
  * per written table).
  *
  * Dedup fidelity (SURVEY §2.3): the reference sorts by key and keeps the
  * first-seen row, i.e. first in *file order* among equal keys. The
  * builders reproduce that with an input ordinal (`monotonically_
  * increasing_id` over the scan preserves file order) as the window
  * tiebreak — deterministic on any cluster layout.
  *
  * Scale: every table is projection + filter + one keyed window — nothing
  * materializes the wide frame, and at 100 TB each table build is a single
  * shuffle on its dedup key.
  */
object F1Pipeline {

  private val ord = "__ord"

  private def withOrd(wide: DataFrame): DataFrame =
    if (wide.columns.contains(ord)) wide
    else wide.withColumn(ord, monotonically_increasing_id())

  /** Project `cols`, keep the first row per `keys` in (keys asc, file
    * order) — the reference's sort-then-drop_duplicates shape. */
  private def first(wide: DataFrame, cols: Seq[String], keys: Seq[String]): DataFrame = {
    val df = withOrd(wide).select((cols :+ ord).map(col): _*)
    Dedup.keepFirst(df, keys, keys.map(col(_).asc) :+ col(ord).asc).drop(ord)
  }

  /** DateDimension (`date_etl.py`): D1 distinct + O1 sort desc + F1 split. */
  def dateDimension(wide: DataFrame): DataFrame =
    wide.select(Scalars.parseDate(col("date")).as("date"))
      .filter(col("date").isNotNull).distinct()
      .select(col("date") +: Scalars.calendar(col("date")): _*)
      .orderBy(col("date").desc)

  /** LocationDimension (`location_etl.py:19,31-38`): dedup circuitId,
    * renames circuitId→locationId, name_x→name_loc, url_x→url_location. */
  def locationDimension(wide: DataFrame): DataFrame =
    first(wide, Seq("circuitId", "name_x", "circuitRef", "location",
        "country", "lat", "lng", "url_x"), Seq("circuitId"))
      .select(col("circuitId").as("locationId"), col("name_x").as("name_loc"),
        col("circuitRef"), col("location"), col("country"), col("lat"),
        col("lng"), col("url_x").as("url_location"))
      .orderBy("locationId")

  /** StatusDimension (`status_etl.py:18,31`). */
  def statusDimension(wide: DataFrame): DataFrame =
    first(wide, Seq("statusId", "status"), Seq("statusId"))
      .select(col("statusId"), col("status").as("statusDescription"))
      .orderBy("statusId")

  /** Driver (`driver_etl.py:20,33,47-60`): dedup driverId, P7 drop rows
    * with unparseable dob, F2 age (not birthday-adjusted). */
  def driver(wide: DataFrame, refYear: Int): DataFrame =
    first(wide, Seq("driverId", "driverRef", "constructorRef", "number",
        "code", "forename", "surname", "dob", "nationality", "url"),
      Seq("driverId"))
      .withColumn("dob", Scalars.parseDate(col("dob")))
      .filter(col("dob").isNotNull)
      .select(col("driverId"), col("driverRef"), col("constructorRef"),
        col("number"), col("code"), col("forename"), col("surname"),
        col("dob"), col("nationality"), col("url").as("url_driver"),
        Scalars.age(col("dob"), refYear).as("age"))
      .orderBy("driverId")

  /** Team (`team_etl.py:18,31-36`). */
  def team(wide: DataFrame): DataFrame =
    first(wide, Seq("constructorId", "name", "constructorRef",
        "nationality_constructors", "url_constructors"),
      Seq("constructorId"))
      .select(col("constructorId"), col("name").as("name_team"),
        col("constructorRef"), col("nationality_constructors"),
        col("url_constructors"))
      .orderBy("constructorId")

  /** Race (`race_etl.py:14,20-24,36-37`): dedup raceId, F7 date parse,
    * renames raceId→race_id, circuitId→locationId. */
  def race(wide: DataFrame): DataFrame =
    first(wide, Seq("raceId", "date", "round", "circuitId"), Seq("raceId"))
      .select(col("raceId").as("race_id"),
        Scalars.parseDate(col("date")).as("date"),
        col("round"), col("circuitId").as("locationId"))
      .orderBy("race_id")

  /** TimeDimension (`time_etl.py:35-48`): dedup raceId; F9 resolution —
    * race_duration = parse(time), start_time = parse(time_races); P6 skip
    * rows where both payloads are NULL (`CompleteETL.py:694-696`).
    * Note: the reference's parser rejects '+m:ss.sss' gaps by accident
    * (':' check precedes '+', `time_etl.py:16-21`); the intended semantics
    * (SURVEY §7.4 risk 7) resolve them, as here. */
  def timeDimension(wide: DataFrame): DataFrame =
    first(wide, Seq("raceId", "time", "time_races"), Seq("raceId"))
      .select(col("raceId"),
        Scalars.resolveRaceTime(col("time")).as("race_duration"),
        Scalars.resolveRaceTime(col("time_races")).as("start_time"))
      .filter(col("race_duration").isNotNull || col("start_time").isNotNull)
      .orderBy("raceId")

  /** Sprint (`sprint_etl.py:11-38,48-52`): dedup raceId, F4 quote strip,
    * F7/F5 parses, P5 drop null sprint_date. */
  def sprint(wide: DataFrame): DataFrame =
    first(wide, Seq("raceId", "sprint_date", "sprint_time"), Seq("raceId"))
      .select(col("raceId"),
        Scalars.parseDate(Scalars.stripQuotes(col("sprint_date"))).as("sprint_date"),
        Scalars.parseTimeHms(Scalars.stripQuotes(col("sprint_time"))).as("sprint_time"))
      .filter(col("sprint_date").isNotNull)
      .orderBy("raceId")

  /** FreePractice (`fpractice_etl.py:20-50`): dedup raceId, parse 3 date +
    * 3 time columns, P4 drop rows where all six are NULL. */
  def freePractice(wide: DataFrame): DataFrame = {
    val parsed = first(wide, Seq("raceId", "fp1_date", "fp1_time",
        "fp2_date", "fp2_time", "fp3_date", "fp3_time"), Seq("raceId"))
      .select(col("raceId") +: (1 to 3).flatMap(n => Seq(
        Scalars.parseDate(col(s"fp${n}_date")).as(s"fp${n}_date"),
        Scalars.parseTimeHms(col(s"fp${n}_time")).as(s"fp${n}_time"))): _*)
    val payload = parsed.columns.filter(_ != "raceId").toIndexedSeq.map(col)
    parsed.filter(coalesce(payload: _*).isNotNull).orderBy("raceId")
  }

  /** Qualification (`quali_etl.py:26-34,57-75`): dedup (driverId, raceId),
    * F7/F5 parses, F12 position `\N`→0. */
  def qualification(wide: DataFrame): DataFrame =
    first(wide, Seq("raceId", "driverId", "quali_date", "quali_time",
        "position"), Seq("driverId", "raceId"))
      .select(col("raceId").as("race_id"), col("driverId").as("driver_id"),
        Scalars.parseDate(col("quali_date")).as("quali_date"),
        Scalars.parseTimeHms(col("quali_time")).as("quali_time"),
        Scalars.intOrZero(col("position")).as("position"))
      .orderBy("race_id", "driver_id")

  /** Laps (`laps_etl.py:34-67`): dedup (raceId, driverId, lap), F8 ms lap
    * time, O3 row cap — the reference capped at 1000 because row-wise
    * INSERT couldn't keep up; kept as an honest ordered limit. `lapsId`
    * is the DDL's surrogate PK (`SEQ_laps_id` default,
    * `DDL Final.sql:75-81,234`): contiguous 1..N over the table sort.
    * The unpartitioned window is bounded by the cap (≤1000 rows), never
    * corpus-scale. */
  def laps(wide: DataFrame, cap: Int = 1000): DataFrame =
    first(wide, Seq("raceId", "driverId", "laps", "lap", "time_laptimes",
        "position_laptimes", "milliseconds_laptimes"),
      Seq("raceId", "driverId", "lap"))
      .select(col("raceId"), col("driverId").as("driver_id"), col("laps"),
        col("lap"), Scalars.parseLapTime(col("time_laptimes")).as("time_laptimes"),
        col("position_laptimes"), col("milliseconds_laptimes"))
      .orderBy("raceId", "driver_id", "lap").limit(cap)
      .withColumn("lapsId", row_number().over(org.apache.spark.sql
        .expressions.Window.orderBy("raceId", "driver_id", "lap")))

  /** PitStop (`pitstop.py:26-55`): dedup (raceId, driverId, stop), F6
    * guarded time parse, F10 duration float. `pitsId` is the DDL's
    * surrogate PK (`SEQ_pits_id` default, `DDL Final.sql:83-87,251`):
    * contiguous 1..N over the table sort, assigned via the distributed
    * prefix sum (this table is uncapped — a single-reducer row_number
    * window would not survive scale). The id stays BIGINT: the DDL
    * declares the sequence `as int`, but an uncapped table's surrogate
    * must not wrap at 2^31 rows — the reference's own sequence would
    * fail there too, so the widening is the intended semantics. */
  def pitStop(wide: DataFrame): DataFrame =
    graft.ops.PrefixSum.cumsum(
      first(wide, Seq("raceId", "driverId", "stop", "lap_pitstops",
          "time_pitstops", "duration", "milliseconds_pitstops"),
        Seq("raceId", "driverId", "stop"))
        .select(col("raceId").as("race_id"), col("driverId").as("driver_id"),
          col("stop").as("stop_number"), col("lap_pitstops"),
          Scalars.parseTimeGuarded(col("time_pitstops")).as("time_pitstops"),
          Scalars.toDoubleOrNull(col("duration")).as("duration"),
          col("milliseconds_pitstops"))
        .withColumn("__one", lit(1L)),
      Seq("race_id", "driver_id", "stop_number"), "__one", "pitsId", 32)
      .drop("__one")
      .orderBy("race_id", "driver_id", "stop_number")

  /** Results (`results_etl.py:20,46,100-107`): dedup resultId, F8 fastest
    * lap time, F11 permissive double cast. */
  def results(wide: DataFrame): DataFrame =
    first(wide, Seq("resultId", "raceId", "driverId", "constructorId",
        "positionOrder", "points", "laps", "rank", "fastestLap",
        "fastestLapTime", "fastestLapSpeed", "statusId", "grid"),
      Seq("resultId"))
      .select(col("resultId"), col("raceId"), col("driverId"),
        col("constructorId"), col("positionOrder").as("position_order"),
        col("points"), col("laps"), col("rank"), col("fastestLap"),
        Scalars.parseLapTime(col("fastestLapTime")).as("fastestLapTime"),
        Scalars.toDoubleOrNull(col("fastestLapSpeed")).as("fastestLapSpeed"),
        col("statusId"), col("grid"))
      .orderBy("resultId")

  /** DriverStandings (`driver_stand_etl.py:18,31-41`): dedup only — the
    * transform is an identity re-projection (P3). */
  def driverStandings(wide: DataFrame): DataFrame =
    first(wide, Seq("driverStandingsId", "raceId", "driverId",
        "points_driverstandings", "position_driverstandings", "wins"),
      Seq("driverStandingsId"))
      .orderBy("driverStandingsId")

  /** TeamStandings (`team_stand.py:18,31-43`). */
  def teamStandings(wide: DataFrame): DataFrame =
    first(wide, Seq("constructorStandingsId", "constructorId", "raceId",
        "points_constructorstandings", "position_constructorstandings",
        "wins_constructorstandings"),
      Seq("constructorStandingsId"))
      .withColumnRenamed("raceId", "race_id")
      .orderBy("constructorStandingsId")

  /** CircuitLocation (`DDL Final.sql:361-367`): the reference declares
    * this dimension but NO DAG populates it (SURVEY §2: the orphan
    * table — "omit or stub"). Stubbed as an empty, correctly-typed
    * frame so a user materializing the star schema gets all 16 DDL
    * tables. */
  def circuitLocation(wide: DataFrame): DataFrame = {
    import org.apache.spark.sql.types._
    wide.sparkSession.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](),
      StructType(Seq(
        StructField("circuit_key", IntegerType),
        StructField("circuit_short_name", StringType),
        StructField("country_code", StringType),
        StructField("country_key", IntegerType),
        StructField("country_name", StringType))))
  }

  /** All tables from one wide frame (the `CompleteETL` monolith, minus its
    * dead code paths). The ordinal is attached once, so every table
    * derives from the same scan lineage — but the frames are lazy, and
    * each one that is written scans and parses the CSV again. */
  def buildAll(wide: DataFrame, refYear: Int = 2026): Map[String, DataFrame] = {
    val w = withOrd(wide)
    Map(
      "CircuitLocation" -> circuitLocation(w),
      "DateDimension" -> dateDimension(w),
      "LocationDimension" -> locationDimension(w),
      "StatusDimension" -> statusDimension(w),
      "Driver" -> driver(w, refYear),
      "Team" -> team(w),
      "Race" -> race(w),
      "TimeDimension" -> timeDimension(w),
      "Sprint" -> sprint(w),
      "FreePractice" -> freePractice(w),
      "Qualification" -> qualification(w),
      "Laps" -> laps(w),
      "PitStop" -> pitStop(w),
      "Results" -> results(w),
      "DriverStandings" -> driverStandings(w),
      "TeamStandings" -> teamStandings(w))
  }

  /** The reference's entire daily job in one call (every DAG in
    * `airflow/dags/` re-expressed): build all 16 tables over the wide CSV
    * and write each as parquet under `outDir/<Table>` — one Spark job per
    * table, each re-scanning the CSV (see the object doc). Overwrite mode
    * subsumes the reference's hand-run `DELETE FROM` resets
    * (`DDL Final.sql:338-352`); rerunning is idempotent. This is the
    * switch-over entry point for a user of the reference. */
  def run(spark: org.apache.spark.sql.SparkSession, csvPath: String,
      outDir: String, refYear: Int = 2026): Unit =
    buildAll(graft.core.Tables.csv(spark, csvPath, F1Schema.wide), refYear)
      .foreach { case (t, df) => graft.core.Sinks.parquet(df, s"$outDir/$t") }

  /** Natural key per star table — the upsert-guard join keys for
    * [[runIncremental]] (same keys the builders dedup on). */
  private[graft] val naturalKeys: Map[String, Seq[String]] = Map(
    "CircuitLocation" -> Seq("circuit_key"),
    "DateDimension" -> Seq("date"),
    "LocationDimension" -> Seq("locationId"),
    "StatusDimension" -> Seq("statusId"),
    "Driver" -> Seq("driverId"),
    "Team" -> Seq("constructorId"),
    "Race" -> Seq("race_id"),
    "TimeDimension" -> Seq("raceId"),
    "Sprint" -> Seq("raceId"),
    "FreePractice" -> Seq("raceId"),
    "Qualification" -> Seq("race_id", "driver_id"),
    "Laps" -> Seq("raceId", "driver_id", "lap"),
    "PitStop" -> Seq("race_id", "driver_id", "stop_number"),
    "Results" -> Seq("resultId"),
    "DriverStandings" -> Seq("driverStandingsId"),
    "TeamStandings" -> Seq("constructorStandingsId"))

  /** The reference's `@daily` cadence (`airflow/dags/CompleteETL.py:974-
    * 1042`: scheduled full reload) restated set-orientedly as an
    * INCREMENTAL, date-partitioned append:
    *
    * - Each run processes one day's CSV drop and appends ONLY rows whose
    *   natural key is not already present — the q54 upsert-guard
    *   (left_anti against the existing table's keys), so overlapping
    *   drops and re-runs of the same day are idempotent, without the
    *   reference's DELETE-then-reload window of emptiness.
    * - Output is hive-partitioned by `load_date` (the Airflow `ds` of the
    *   run): `outDir/<Table>/load_date=YYYY-MM-DD/`. A consumer filtering
    *   on load_date scans only that day's files (partition pruning) —
    *   and each day's append touches no existing file.
    *
    * Scale shape: the guard reads ONLY the key columns of the existing
    * table (column pruning reaches the parquet scan) and anti-joins on
    * the natural key — one shuffle keyed the same way the table was
    * built; nothing corpus-sized is broadcast or collected. A 100 TB
    * table costs one key-column scan per day, not a rewrite.
    */
  def runIncremental(spark: org.apache.spark.sql.SparkSession,
      csvPath: String, outDir: String, loadDate: String,
      refYear: Int = 2026): Unit = {
    buildAll(graft.core.Tables.csv(spark, csvPath, F1Schema.wide), refYear)
      .foreach { case (t, df) =>
        val path = s"$outDir/$t"
        val keys = naturalKeys(t)
        val hPath = new org.apache.hadoop.fs.Path(path)
        // the PATH's filesystem, not the default one: outDir is object
        // storage (s3a/abfs) in the deployment this method argues for,
        // and FileSystem.get(conf) would throw "Wrong FS" there
        val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val fresh =
          if (fs.exists(hPath)) {
            // explicit schema: skips inference listing AND keeps a
            // zero-row table readable (the CircuitLocation stub's first
            // append writes no data files — inference would throw)
            val existingSchema = org.apache.spark.sql.types.StructType(
              df.schema.fields :+ org.apache.spark.sql.types.StructField(
                "load_date", org.apache.spark.sql.types.DateType))
            val existingKeys = spark.read.schema(existingSchema).parquet(path)
              .select(keys.map(col): _*)
            df.join(existingKeys, keys, "left_anti")
          } else df
        fresh.withColumn("load_date", lit(loadDate).cast("date"))
          .write.mode(org.apache.spark.sql.SaveMode.Append)
          .partitionBy("load_date").parquet(path)
      }
  }
}
