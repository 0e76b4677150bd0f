package graft

import graft.dict.Dictionary
import graft.etl.{CityRecipes, Transforms}
import graft.store.Sources
import graft.ops.{Dedup, Multimodal, PerceptualFixtures, Similarity, TextAnalysis}
import graft.query.{Aggs, Federation, FilterSpec, PreAgg, Widgets}
import graft.streaming.EventStreams
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver contract: named queries over the synthetic star schema at
  * `/root/testdata/sf*`, with DuckDB-oracle SQL for every SQL-expressible
  * operator (SURVEY.md §2 inventory + the training-data-pipeline extensions).
  *
  * Column-binding conventions follow FIXTURES.md §3 (e.g. `o_orderpriority`
  * stands in for the harmonized `description` enum, `n_name` for `city`).
  *
  * Numeric outputs that aggregate doubles are `round`ed in BOTH the Spark
  * query and the oracle SQL so floating-point summation order can't flip the
  * hash compare; every query carries a total ORDER BY for deterministic rows.
  */
object SparkEntry {

  /** The served analyzer registry — "standard" is the engine's ASCII
    * tokenizer (the stated subset of ES's standard analyzer).
    */
  private def analyzerByName(name: String): graft.expr.TextMatch.Analyzer = name match {
    case "standard" => graft.expr.TextMatch.AsciiAnalyzer
    case "unicode" => graft.expr.TextMatch.UnicodeAnalyzer
    case "english" => graft.expr.TextMatch.EnglishAnalyzer
    case other => throw new IllegalArgumentException(
      s"unknown analyzer '$other' (standard, unicode, english)")
  }

  // (r18: examined — memoizing the analyzed scan plan per (session, path)
  // to skip repeated footer/listing reads measured ~1% on a 15-query
  // floor sample: local-file metadata is too cheap to matter. Left bare.)
  private def load(dir: String, table: String)(implicit spark: SparkSession): DataFrame =
    spark.read.parquet(s"$dir/$table.parquet")

  /** Load `events` with `ts` normalized to a session-zone TIMESTAMP
    * regardless of how the parquet writer encoded it. Generations of the
    * driver's testdata have carried nanosecond timestamps (read as raw
    * nanos via `spark.sql.legacy.parquet.nanosAsLong`, which
    * [[Verify]]/[[Bench]] set at session build — parquet has no per-read
    * option for it, checked ParquetOptions, Spark 4.1) and microsecond
    * TIMESTAMP_NTZ; dispatch on the type the scan actually produced:
    *  - LongType: raw nanos → `div 1000` (exact integer division — double
    *    division would lose 1µs above 2^53 ns, DuckDB truncates the same)
    *    → `timestamp_micros`.
    *  - TIMESTAMP_NTZ: cast to TIMESTAMP — value-preserving under the UTC
    *    session zone both entries pin, and identical to what DuckDB reads.
    */
  private def loadEvents(dir: String)(implicit spark: SparkSession): DataFrame = {
    // Sessions built outside Verify/Bench may not have the nanos conf; set it
    // iff missing so a nanosecond-generation file still scans (inert for
    // TIMESTAMP_NTZ data — the conf only affects INT64(NANOS) columns).
    val nanosConf = "spark.sql.legacy.parquet.nanosAsLong"
    if (spark.conf.getOption(nanosConf).isEmpty) spark.conf.set(nanosConf, "true")
    val raw = spark.read.parquet(s"$dir/events.parquet")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast("timestamp"))
      case _ => raw
    }
  }

  /** Flagship query on sf=0.001 (driver smoke-checks rows>0): the harmonized
    * "description" terms aggregation under a conjunction of dictionary-typed
    * filters — the reference's signature dashboard query (SURVEY.md §7.2 M0).
    */
  def entry(spark: SparkSession): DataFrame =
    queries("g2_terms_top10")(spark, "/root/testdata/sf0.001")

  // ---------------------------------------------------------------------
  // §2.2/§2.3 ETL: harmonization pipeline over `events` (P1-P12, F1-F2)
  // ---------------------------------------------------------------------

  /** The `events` table pushed through the harmonization transforms the city
    * notebooks apply: datetime parts, day-of-week naming, value recoding,
    * descriptor constants, name sanitization.
    */
  private def harmonizedEvents(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val ev = loadEvents(dir)
    import graft.etl.Harmonizer
    Harmonizer(ev)
      .mapVar("event_type", "description")
      .mapValues("description", Seq(
        "click" -> "Click", "view" -> "View", "purchase" -> "Purchase",
        "login" -> "Login", "logout" -> "Logout"))
      .transform { df =>
        Transforms.addDatasetDescriptors(
          df.withColumn("year", year(col("ts")))
            .withColumn("month", month(col("ts")))
            .withColumn("day", dayofmonth(col("ts")))
            .withColumn("hour", hour(col("ts")))
            .withColumn("minute", minute(col("ts")))
            .withColumn("dayofweek", Transforms.dayOfWeekName(col("ts"))),
          city = "synthville", rawDataPath = "events.parquet",
          harmonizedDataPath = "harmonized/events", notebookHtml = "none")
      }
      .makeValidVariableNames
      .df
  }

  // ---------------------------------------------------------------------
  // §2.2/§2.3 the reference's own city pipelines, as Recipe data over the
  // checked-in fixture extracts (tools/gen_city_fixtures.py — every notebook
  // recode key + the edge shapes each pipeline exercises).
  // ---------------------------------------------------------------------

  private def cityCsv(name: String): String =
    sys.env.getOrElse("GRAFT_CITY_DATA", "/root/repo/data/cities") + s"/$name.csv"

  /** SQL CASE mirroring [[graft.etl.Harmonizer.mapValues]]'s `when` chain
    * (unmapped values pass through).
    */
  private def recodeCase(column: String, mapping: Seq[(String, String)]): String =
    mapping.map { case (from, to) =>
      s"WHEN '${from.replace("'", "''")}' THEN '${to.replace("'", "''")}'"
    }.mkString(s"CASE $column ", " ", s" ELSE $column END")

  /** DuckDB relation producing one city's harmonized (published) rows —
    * the WITH-chain shared by the `recipe_harmonize_*` oracles and the
    * federated dictionary oracle. The datetime column carries its published
    * string rendering under the harmonized name `datetime`; no ORDER BY
    * (callers sort).
    */
  private def cityHarmonizedRelationSql(city: String): String = city match {
    case "baltimore" =>
      val recode = recodeCase("\"Description\"", CityRecipes.baltimoreDescr)
      s"""WITH kept AS (
         |  SELECT *, regexp_replace("Location 1", '[\\(\\)\\s]', '', 'g') AS geolocation
         |  FROM read_csv('${cityCsv("Baltimore")}', all_varchar=true)
         |  WHERE length(regexp_replace("Location 1", '[\\(\\)\\s]', '', 'g')) > 0
         |), parts AS (
         |  SELECT "CrimeCode" AS crimecode, $recode AS description,
         |    "Description" AS description_orig, geolocation,
         |    regexp_extract("CrimeDate", '(\\d+)/(\\d+)/(\\d+)', 1) AS mo,
         |    regexp_extract("CrimeDate", '(\\d+)/(\\d+)/(\\d+)', 2) AS d,
         |    regexp_extract("CrimeDate", '(\\d+)/(\\d+)/(\\d+)', 3) AS y,
         |    regexp_replace(concat(regexp_extract("CrimeTime", '(\\d+):(\\d+):(\\d+)', 1),
         |      regexp_extract("CrimeTime", '^(\\d\\d)(\\d\\d)$$', 1)), '^24$$', '00') AS h,
         |    concat(regexp_extract("CrimeTime", '(\\d+):(\\d+):(\\d+)', 2),
         |      regexp_extract("CrimeTime", '^(\\d\\d)(\\d\\d)$$', 2)) AS mi
         |  FROM kept
         |), asm AS (
         |  SELECT *, TRY_CAST(concat_ws('-', y, mo, d) ||
         |    CASE WHEN h <> '' AND mi <> '' THEN ' ' || h || ':' || mi || ':00'
         |         ELSE '' END AS TIMESTAMP) AS dt
         |  FROM parts
         |)
         |SELECT crimecode, description, description_orig, geolocation,
         |  TRY_CAST(y AS INT) AS year, TRY_CAST(mo AS INT) AS month,
         |  TRY_CAST(d AS INT) AS day, TRY_CAST(h AS INT) AS hour,
         |  TRY_CAST(mi AS INT) AS minute,
         |  strftime(dt, '%Y-%m-%d %H:%M:%S') AS datetime,
         |  dayname(dt) AS dayofweek, 'Baltimore' AS city
         |FROM asm""".stripMargin

    case "detroit" =>
      val recode = recodeCase("\"Offense Category\"", CityRecipes.detroitDescr)
      def dbl(c: String) =
        s"CASE WHEN regexp_matches($c, '^-?\\d+(\\.\\d+)?$$') THEN CAST($c AS DOUBLE) END"
      s"""WITH kept AS (
         |  SELECT * FROM read_csv('${cityCsv("Detroit")}', all_varchar=true)
         |  WHERE length("Latitude") > 0 AND length("Longitude") > 0
         |    AND ${dbl("\"Latitude\"")} > 0
         |    AND ${dbl("\"Latitude\"")} < 99999
         |    AND ${dbl("\"Longitude\"")} < 0
         |), parts AS (
         |  SELECT "Crime ID" AS crimeid, $recode AS description,
         |    "Incident Address" AS location,
         |    concat("Latitude", ',', "Longitude") AS geolocation,
         |    regexp_extract("Incident Date & Time", '(\\d+)/(\\d+)/(\\d+)', 1) AS mo,
         |    regexp_extract("Incident Date & Time", '(\\d+)/(\\d+)/(\\d+)', 2) AS d,
         |    regexp_extract("Incident Date & Time", '(\\d+)/(\\d+)/(\\d+)', 3) AS y,
         |    CASE WHEN regexp_matches("Hour of Day", '^-?\\d+$$')
         |         THEN printf('%02d', CAST("Hour of Day" AS INT)) END AS h,
         |    '00' AS mi
         |  FROM kept
         |), asm AS (
         |  SELECT *, TRY_CAST(concat_ws('-', y, mo, d) ||
         |    CASE WHEN h <> '' AND mi <> '' THEN ' ' || h || ':' || mi || ':00'
         |         ELSE '' END AS TIMESTAMP) AS dt
         |  FROM parts
         |)
         |SELECT crimeid, description, location, geolocation,
         |  TRY_CAST(y AS INT) AS year, TRY_CAST(mo AS INT) AS month,
         |  TRY_CAST(d AS INT) AS day, TRY_CAST(h AS INT) AS hour,
         |  TRY_CAST(mi AS INT) AS minute,
         |  strftime(dt, '%Y-%m-%d %H:%M:%S') AS datetime,
         |  dayname(dt) AS dayofweek, 'Detroit' AS city
         |FROM asm""".stripMargin

    case "losangeles" =>
      val recode = recodeCase("\"CRIME_CATEGORY_DESCRIPTION\"", CityRecipes.losAngelesDescr)
      val rx = "(\\d+)/(\\d+)/(\\d+) (\\d+):(\\d+):(\\d+) (\\w\\w)"
      s"""WITH kept AS (
         |  SELECT * FROM read_csv('${cityCsv("LosAngeles")}', all_varchar=true)
         |  WHERE length("LATITUDE") > 0 AND length("LONGITUDE") > 0
         |    AND CASE WHEN regexp_matches("LATITUDE", '^-?\\d+(\\.\\d+)?$$')
         |             THEN CAST("LATITUDE" AS DOUBLE) END > 0
         |), parts AS (
         |  SELECT "CRIME_IDENTIFIER" AS crime_identifier, $recode AS description,
         |    TRY_CAST(CASE WHEN "GANG_RELATED" = 'Y' THEN '1'
         |                  WHEN "GANG_RELATED" = 'N' THEN '0'
         |                  ELSE "GANG_RELATED" END AS INT) AS gang_related,
         |    concat("LATITUDE", ',', "LONGITUDE") AS geolocation,
         |    regexp_extract("CRIME_DATE", '$rx', 1) AS mo,
         |    regexp_extract("CRIME_DATE", '$rx', 2) AS d,
         |    regexp_extract("CRIME_DATE", '$rx', 3) AS y,
         |    regexp_replace(regexp_extract("CRIME_DATE", '$rx', 4), '^24$$', '00') AS h12,
         |    regexp_extract("CRIME_DATE", '$rx', 5) AS mi,
         |    regexp_extract("CRIME_DATE", '$rx', 7) AS ap
         |  FROM kept
         |), conv AS (
         |  SELECT *, regexp_replace(
         |    CASE WHEN ap = 'PM' AND TRY_CAST(h12 AS INT) <> 12
         |           THEN (TRY_CAST(h12 AS INT) + 12)::VARCHAR
         |         WHEN ap = 'AM' AND TRY_CAST(h12 AS INT) = 12 THEN '0'
         |         ELSE h12 END, '^24$$', '00') AS h
         |  FROM parts
         |), asm AS (
         |  SELECT *, TRY_CAST(concat_ws('-', y, mo, d) ||
         |    CASE WHEN h <> '' AND mi <> '' THEN ' ' || h || ':' || mi || ':00'
         |         ELSE '' END AS TIMESTAMP) AS dt
         |  FROM conv
         |)
         |SELECT crime_identifier, description, gang_related, geolocation,
         |  TRY_CAST(y AS INT) AS year, TRY_CAST(mo AS INT) AS month,
         |  TRY_CAST(d AS INT) AS day, TRY_CAST(h AS INT) AS hour,
         |  TRY_CAST(mi AS INT) AS minute,
         |  strftime(dt, '%Y-%m-%d %H:%M:%S') AS datetime,
         |  dayname(dt) AS dayofweek, 'LosAngeles' AS city
         |FROM asm""".stripMargin
  }

  /** Per-city published column lists (dataset-specific head + the shared
    * harmonized tail), with the numeric flag the dictionary oracle needs.
    */
  private val cityPublishedCols: Map[String, Seq[(String, Boolean)]] = {
    val shared = Seq("geolocation" -> false, "year" -> true, "month" -> true,
      "day" -> true, "hour" -> true, "minute" -> true, "datetime" -> false,
      "dayofweek" -> false, "city" -> false)
    Map(
      "baltimore" -> (Seq("crimecode" -> false, "description" -> false,
        "description_orig" -> false) ++ shared),
      "detroit" -> (Seq("crimeid" -> false, "description" -> false,
        "location" -> false) ++ shared),
      "losangeles" -> (Seq("crime_identifier" -> false, "description" -> false,
        "gang_related" -> true) ++ shared))
  }

  /** The published (at-rest) shape of one harmonized city dataset: the
    * recipe output with `datetime` rendered as its indexed string form —
    * what the search index stores and what the dictionary profiles.
    */
  private def cityPublished(s: SparkSession, city: String): DataFrame = {
    val (recipe, csv) = city match {
      case "baltimore"  => (CityRecipes.baltimore, "Baltimore")
      case "detroit"    => (CityRecipes.detroit, "Detroit")
      case "losangeles" => (CityRecipes.losAngeles, "LosAngeles")
    }
    val df = recipe.harmonize(Sources.csvAllStrings(s, cityCsv(csv))).df
    val cols = cityPublishedCols(city).map {
      case ("datetime", _) =>
        date_format(col("datetime"), "yyyy-MM-dd HH:mm:ss").as("datetime")
      case (name, _) => col(name)
    }
    df.select(cols: _*)
  }

  /** The reference's actual unit of interactive work (SURVEY §3.2/§3.3 +
    * `services/webapp/src/views.js:103-115`): every widget change re-issues
    * ALL five saved visualizations under the new filter state against the
    * `*harmonized*` federated view. This builds that one interaction:
    *
    *   1. fetch the (warm) federated dictionary and type the widgets from it;
    *   2. compile the user's selections to one conjunction (Q7);
    *   3. apply the dashboard's global time filter (G8) — in published
    *      string space, where lexicographic order IS chronological order;
    *   4. run the five saved viz — description pie (G2), city pie (G3),
    *      day/hour nested terms (G4), per-dataset table (G5), geohash map
    *      grid (G6) (`kibana-content/kibana-exported-visualizations.json:2-7`)
    *      — and union their bucket rows.
    *
    * `warm = true` serves from the pinned federated cache ([[Federation
    * .materialize]]) — the steady-state latency of one dashboard
    * interaction; `false` re-scans the sources each time (the backfill /
    * first-load cost). Identical results, one oracle.
    */
  /** Dictionary-typed widget fields, fetched once per session — the webapp
    * fetches the dictionary at page LOAD (`collections.js:66-81`) and every
    * later widget change reuses the typed field collection client-side; a
    * per-interaction re-collect would charge the dashboard a job it never
    * pays. Weak keys: a stopped session's entry is collectable.
    */
  private val dashboardFields =
    new java.util.WeakHashMap[SparkSession, graft.query.FieldCollection]

  /** The `*harmonized*` federated view (G9) over the three published city
    * datasets, dataset-tagged like ES's `_index`. `warm = true` serves the
    * pinned cache; `def fedObj` keeps the cold-plan construction (3 CSV
    * header reads + recipe plan builds) off the warm path, whose fast path
    * is a catalog lookup and nothing else.
    */
  private def federatedHarmonized(s: SparkSession, warm: Boolean): DataFrame = {
    val cities = Seq("baltimore", "detroit", "losangeles")
    def fedObj = Federation(cities.map(c =>
      s"${c}_harmonized" -> cityPublished(s, c).withColumn("dataset", lit(c))): _*)
    val fedView = "graft_dashboard_fed"
    if (!warm) fedObj.view("*harmonized*")
    else if (s.catalog.tableExists(fedView)) s.table(fedView)
    else fedObj.materialize(s, "*harmonized*", fedView)
  }

  /** The dashboard's default widget state, serialized the way the webapp's
    * filter UI would put it on the wire (`models.js:18-43` attributes; see
    * [[Widgets.fromJson]]). The production dashboard path decodes THIS, so
    * the `dashboard_refresh` oracle pins the decoder end to end.
    */
  private[graft] val dashboardStateJson: String =
    """[{"name": "year", "value": [2015, 2017],
      |  "enabled": {"state": true, "lastEnabled": 1}},
      | {"name": "hour", "value": [0, 18],
      |  "enabled": {"state": true, "lastEnabled": 2}}]""".stripMargin

  /** The federated view under a dashboard filter state (the widget
    * conjunction + the global time filter) — what every saved viz and every
    * map drill-down aggregates. `stateJson` is the webapp's widget-state
    * wire format; the default is the saved dashboard's own state.
    */
  private def dashboardWidgetFields(s: SparkSession): graft.query.FieldCollection =
    dashboardFields.synchronized {
      Option(dashboardFields.get(s)).getOrElse {
        val dict = Seq("baltimore", "detroit", "losangeles")
          .map(c => Dictionary.materializeProfile(s, cityPublished(s, c), s"graft_dict_city_$c"))
          .reduce(_.unionByName(_))
        val flds = Widgets.fieldsFromDictionary(dict)
        dashboardFields.put(s, flds)
        flds
      }
    }

  private def dashboardFiltered(
      s: SparkSession,
      warm: Boolean,
      stateJson: String = dashboardStateJson): DataFrame = {
    val fields = dashboardWidgetFields(s)
    val fc = Widgets.fromJson(fields, stateJson)
    federatedHarmonized(s, warm)
      .where(col("datetime").isNotNull && col("datetime") >= "2010-01-01 00:00:00")
      .where(fc.compile)
  }

  /** One request-body parser shared by every route: a configured
    * `ObjectMapper` is thread-safe for `readTree`, so concurrent handlers
    * need no per-request instance.
    */
  private val json = new com.fasterxml.jackson.databind.ObjectMapper()

  /** The HTTP serving entry (§3 lifecycle parity): POST the webapp's
    * widget-state JSON, get buckets back as a JSON row array — the
    * reference's browser → nginx → aws-es-kibana → ES `_search` round trip
    * collapsed to one localhost hop in front of the same compile chain the
    * oracles pin. Routes:
    *
    *  - `POST /query`: state over the lineitem dictionary → the §3.2
    *    widget aggregation (the `w_json_widget_query` shape);
    *  - `POST /dashboard`: state over the federated city dictionary → all
    *    five saved visualizations (the `dashboard_refresh_warm` unit); an
    *    empty body serves the saved dashboard's own state.
    *  - `POST /fields`: the Q8 dictionary fetch — the projection the webapp
    *    builds its widget list from on page load (`collections.js:66-81`);
    *    body ignored (the wildcard fetch takes no parameters).
    *  - `POST /histogram`: ES numeric histogram of the current state's
    *    slice, rollup-served when field + state stay inside the cube.
    *  - `POST /geo`: the map's viewport/pin filters (geo_bounding_box +
    *    geo_distance) → geohash grid of the matching points.
    *
    * `port = 0` binds an ephemeral port; caller owns `stop()`.
    */
  def serveHttp(s: SparkSession, dir: String, port: Int = 0): com.sun.net.httpserver.HttpServer = {
    implicit val spark: SparkSession = s
    import graft.serve.WidgetServer
    WidgetServer.start(s, port)(
      "/query" -> { body =>
        val li = load(dir, "lineitem")
        val fields = Widgets.fieldsFromDictionary(
          Dictionary.materializeProfile(s, li,
            s"graft_dict_lineitem_approx_${math.abs(dir.hashCode)}",
            exactDistinct = false))
        val fc = Widgets.fromJson(fields, body)
        WidgetServer.collectRowsJson(
          li.where(fc.compile)
            .groupBy("l_linestatus")
            .agg(count(lit(1)).as("n"), round(sum(col("l_extendedprice")), 2).as("revenue"))
            .orderBy("l_linestatus"))
      },
      "/dashboard" -> { body =>
        val state = if (body.trim.isEmpty) dashboardStateJson else body
        // Serve from the at-rest rollup whenever the posted state only
        // filters rollup dimensions (identical buckets — the shared oracle
        // proves it); a state outside the cube falls back to the pinned
        // scan. This is the routing a 100 TB deployment runs: doc_values
        // first, documents only when the query demands them.
        val covered = PreAgg.covers(dashboardCubeDims.map(_._1),
          Widgets.fromJson(dashboardWidgetFields(s), state).selections.keys.toSeq)
        WidgetServer.collectRowsJson(
          if (covered) dashboardRefreshPreagg(s, state)
          else dashboardRefresh(s, warm = true, state))
      },
      "/fields" -> { _ =>
        WidgetServer.collectRowsJson(queries("q8_dict_fetch_warm")(s, dir))
      },
      "/suggest" -> { body =>
        // The webapp's typeahead against `*harmonized*` (views.js:378-412):
        // {"field": "description", "prefix": "th", "size": 10} → top
        // completions from the pinned federated cache.
        val o = json.readTree(body)
        val field = o.path("field").asText("description")
        WidgetServer.collectRowsJson(Aggs.typeahead(
          federatedHarmonized(s, warm = true), field,
          o.path("prefix").asText(""), o.path("size").asInt(10)))
      },
      "/histogram" -> { body =>
        // ES numeric histogram of the CURRENT search: {"field": "hour",
        // "interval": 6, "state": <widget-state JSON array>} → interval
        // buckets of the state-matching slice. Rollup-served when the
        // field AND every state field stay inside the cube (quantization
        // commutes with the rollup — the same doc_values routing as
        // /dashboard); anything else scans the pinned federation.
        val o = json.readTree(body)
        val field = o.path("field").asText("hour")
        val interval = o.path("interval").asDouble(1.0)
        val state = o.path("state")
        val stateJson =
          if (state.isMissingNode || state.isNull) "[]" else state.toString
        val fc = Widgets.fromJson(dashboardWidgetFields(s), stateJson)
        val covered = PreAgg.covers(dashboardCubeDims.map(_._1),
          field +: fc.selections.keys.toSeq)
        WidgetServer.collectRowsJson(
          if (covered)
            PreAgg.numericHistogram(
              dashboardRollup(s).where(fc.compile), field, interval)
          else
            Aggs.numericHistogram(
              federatedHarmonized(s, warm = true).where(fc.compile),
              field, interval))
      },
      "/geotile" -> { body =>
        // Kibana-map tiles over the harmonized federation: {"z": 4} for
        // the top grid, {"z": 6, "cell": "4/x/y"} to drill into a clicked
        // tile, {"size": N} to widen. Every request is integer shifts
        // over the at-rest zoom-10 rollup (PreAgg.geoTileGridAt /
        // geoTileGridDrilldown) — no geometry, no corpus, any zoom ≤ 10.
        val o = json.readTree(body)
        val z = o.path("z").asInt(4)
        val size = o.path("size").asInt(10)
        val cell = o.path("cell").asText("")
        WidgetServer.collectRowsJson(
          if (cell.isEmpty)
            PreAgg.geoTileGridAt(geoTileRollup(s), geoTileIngestZoom, z, size)
          else {
            val Array(cz, cx, cy) = cell.split("/")
            PreAgg.geoTileGridDrilldown(geoTileRollup(s), geoTileIngestZoom,
              cz.toInt, cx.toLong, cy.toLong, z, size)
          })
      },
      "/significant" -> { body =>
        // ES significant_terms of the CURRENT search: {"field": "...",
        // "size": N, "state": <widget-state JSON array>} → which values of
        // `field` characterize the state-matching slice against the whole
        // federation. Foreground = the decoded state's predicate evaluated
        // in-plan (one pass — never a second scan for the background), and
        // the whole route serves from the at-rest rollup whenever the
        // state and field stay inside the cube (the 100 TB doc_values
        // routing, same as /dashboard).
        val o = json.readTree(body)
        val field = o.path("field").asText("description")
        val size = o.path("size").asInt(10)
        val state = o.path("state")
        val stateJson =
          if (state.isMissingNode || state.isNull) "[]" else state.toString
        val fc = Widgets.fromJson(dashboardWidgetFields(s), stateJson)
        val dimNames = dashboardCubeDims.map(_._1)
        val covered = PreAgg.covers(dimNames,
          field +: fc.selections.keys.toSeq)
        WidgetServer.collectRowsJson(
          if (covered)
            PreAgg.significantTerms(dashboardRollup(s), field, fc.compile, size)
          else
            Aggs.significantTerms(federatedHarmonized(s, warm = true),
              array(col(field)), fc.compile, size))
      },
      "/explain" -> { body =>
        // ES _explain over the wire: {"q": "<query>", "size": N} — the
        // ranked top-N with each doc's per-term score decomposition
        // (tf/df/idf/dl/contribution/total), the relevance-debugging
        // payload.
        val o = json.readTree(body)
        val qText = o.path("q").asText("")
        require(qText.nonEmpty, "explain: missing q")
        WidgetServer.collectRowsJson(
          graft.query.Bm25.explainTopK(load(dir, "documents"), "doc_id",
            concat(lit(" "), graft.expr.TextMatch.normalized(col("text")), lit(" ")),
            qText, k = o.path("size").asInt(5)))
      },
      "/termvectors" -> { body =>
        // ES _termvectors over the wire: {"ids": [1, 2, ...]} — per-(doc,
        // term) frequency + sorted positions for the requested documents
        // (the API is per-document; the id list bounds the scan).
        val o = json.readTree(body)
        val ids = o.path("ids")
        require(ids.isArray && ids.size() > 0, "termvectors: missing ids")
        val idSeq = (0 until ids.size()).map(ids.get(_).asLong())
        WidgetServer.collectRowsJson(
          graft.query.TermVectors.termVectors(
              load(dir, "documents").where(col("doc_id").isin(idSeq: _*)),
              "doc_id", "text")
            .orderBy("doc_id", "term"))
      },
      "/esql" -> { body =>
        // The ES|QL wire endpoint (ES's POST /_query): {"query": "FROM
        // … | …"}. FROM names resolve against this server's corpus dir
        // behind an ALLOWLIST (an unknown index is a 400, not a
        // path-leak 500); the `nations` ENRICH policy is exposed, the
        // /knn-rule row cap bounds unbounded programs (a program with a
        // tighter LIMIT is unaffected — limits compose), and the
        // response rides the engine's rows-JSON envelope rather than
        // ES's columnar columns/values split (a documented wire delta —
        // one serving shape across every route).
        val o = json.readTree(body)
        val q = o.path("query").asText("")
        require(q.nonEmpty, "esql: missing query")
        val known = Set("region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings")
        def resolveTable(t: String): DataFrame = {
          require(known.contains(t),
            s"esql: unknown index '$t' (have: ${known.toSeq.sorted.mkString(", ")})")
          if (t == "events") loadEvents(dir) else load(dir, t)
        }
        // `default_field` is the QSTR/KQL seam (ES reads it from the
        // index mapping; this server takes it on the request) — absent,
        // those functions reject with a 400 naming the option.
        val defaultField =
          if (o.hasNonNull("default_field")) Some(o.path("default_field").asText())
          else None
        // named `?name` parameters — ES's wire shape is an array of
        // one-field objects ([{"lang": "en"}, …]); a plain object map is
        // accepted too. Positional entries (bare scalars) reject loudly.
        def paramValue(name: String, v: com.fasterxml.jackson.databind.JsonNode): (String, Any) =
          name -> (if (v.isNull) null
            else if (v.isTextual) v.asText()
            else if (v.isBoolean) v.asBoolean()
            else if (v.isIntegralNumber) v.asLong()
            else if (v.isNumber) v.asDouble()
            else throw new IllegalArgumentException(
              s"esql: parameter '$name' must be a scalar, got ${v.getNodeType}"))
        val params: Map[String, Any] =
          if (!o.hasNonNull("params")) Map.empty
          else {
            import scala.jdk.CollectionConverters._
            val p = o.path("params")
            if (p.isObject) p.fields().asScala.map(e => paramValue(e.getKey, e.getValue)).toMap
            else if (p.isArray) p.elements().asScala.map { el =>
              require(el.isObject && el.size() == 1,
                "esql: params entries are one-field objects ({\"name\": value}) — " +
                  "positional parameters are not supported")
              val e = el.fields().next()
              paramValue(e.getKey, e.getValue)
            }.toMap
            else throw new IllegalArgumentException(
              "esql: params must be an object or an array of one-field objects")
          }
        val df = query.Esql.run(q, resolveTable,
          Map("nations" -> query.Esql.EnrichPolicy(
            load(dir, "nation"), "n_nationkey", Seq("n_name"))),
          defaultField = defaultField, params = params)
        WidgetServer.collectRowsJson(df.limit(1000))
      },

      "/search" -> { body =>
        // The search endpoint over the documents corpus: {"q": "dup
        // vector", "filter": "lang:en" (query_string, optional),
        // "size": N, "collapse": "lang" (optional), "after": [score, id]
        // (search_after, optional), "highlight": true (optional)}. BM25
        // over the analyzed text; filter compiled by the query_string
        // parser; collapse/after are the Paging tier; highlight wraps
        // matched tokens.
        val o = json.readTree(body)
        val qText = o.path("q").asText("")
        require(qText.nonEmpty, "search: missing q")
        val size = o.path("size").asInt(10)
        require(size >= 1 && size <= 1000,
          s"search: size must be 1..1000 (the page budget — deep result sets page with search_after), got $size")
        val docs0 = load(dir, "documents")
        // Kibana's own language toggle: the search bar sends KQL by
        // default since 7.0 and Lucene query_string behind the switch —
        // "filter_language": "kuery" routes the filter through the Kql
        // compiler, "lucene" (the default here, matching the reference's
        // pre-KQL dashboards) through QueryString.
        val filterLang = o.path("filter_language").asText("lucene")
        require(filterLang == "lucene" || filterLang == "kuery",
          s"search: filter_language must be lucene|kuery, got '$filterLang'")
        val docs =
          if (o.hasNonNull("filter")) {
            val f = o.path("filter").asText()
            val spec =
              if (filterLang == "kuery") graft.query.Kql.parse(f, Some("text"))
              else graft.query.QueryString.parse(f, defaultField = "text")
            docs0.where(spec.compile)
          } else docs0
        if (o.hasNonNull("fields")) {
          // ES's multi-field form: {"q": "...", "fields": ["text^5",
          // "source"], "mode": "most_fields"|"best_fields" (optional)} —
          // per-field BM25 × boost via multiMatchWeightedTopK (the
          // fields^boost scoring simple_query_string/query_string
          // document). Composes with "filter" (stats over the filtered
          // frame, the route's standing contract); collapse/after/
          // rescore/highlight stay single-field concerns and reject
          // loudly rather than silently ignoring the fields.
          val fj = o.path("fields")
          require(fj.isArray && fj.size() > 0,
            "search: fields must be a non-empty array of \"name\" or \"name^boost\"")
          Seq("collapse", "after", "rescore", "highlight", "analyzer").foreach { k =>
            require(!o.hasNonNull(k),
              s"search: $k does not compose with fields — use the single-field path")
          }
          val fieldBoosts = (0 until fj.size()).map { i =>
            val spec = fj.get(i).asText()
            val at = spec.lastIndexOf('^')
            if (at < 0) (spec, 1.0)
            else (spec.substring(0, at), spec.substring(at + 1).toDouble)
          }
          val mode = o.path("mode").asText("most_fields")
          WidgetServer.collectRowsJson(
            if (mode == "cross_fields")
              // the term-centric mode: blended DF, per-term dis_max with
              // the optional tie_breaker (ES's multi_match knob)
              graft.query.Bm25.crossFieldsTopK(docs, "doc_id", fieldBoosts,
                qText, size, tieBreaker = o.path("tie_breaker").asDouble(0.0))
            else {
              require(!o.hasNonNull("tie_breaker"),
                "search: tie_breaker rides mode=cross_fields here (best_fields' " +
                  "dis_max tie lives on the single-field path)")
              graft.query.Bm25.multiMatchWeightedTopK(
                docs, "doc_id", fieldBoosts, qText, size, mode = mode)
            })
        } else {
        // ES's per-request `analyzer` option: BOTH sides re-analyze —
        // "english" meets inflections at their stem. Non-standard
        // analyzers ride the plain ranked path only; boost carets /
        // collapse / after / rescore / highlight keep the standard
        // analyzer's oracled contracts and reject composition loudly.
        val anName = o.path("analyzer").asText("standard")
        val an = analyzerByName(anName)
        if (anName != "standard") {
          Seq("collapse", "after", "rescore", "highlight").foreach { k =>
            require(!o.hasNonNull(k),
              s"search: $k does not compose with analyzer — use the standard path")
          }
          require(!graft.query.QueryString.hasBoost(qText),
            "search: term boosts do not compose with analyzer")
        }
        val analyzed = concat(lit(" "), an.normalized(col("text")), lit(" "))
        // `term^2` boosts compile to per-term BM25 weights on this (the
        // scoring) path THROUGH boostedTerms' strict flat-list contract
        // (operators/groups/fielded tokens reject loudly — structure
        // belongs in "filter"). A caret-free q keeps the original
        // tolerant bag-of-words path (Bm25.queryTerms), so pre-boost
        // route clients sending `a AND b` keep their accepted-as-terms
        // behavior — the route contract only tightens where a boost is
        // actually used (round-15 advice: don't break caret-free
        // payloads). Boost-free boostedTerms output is bit-identical to
        // scoredAll anyway (every weight 1.0 short-circuits).
        val scored =
          if (graft.query.QueryString.hasBoost(qText))
            graft.query.Bm25.scoredAllBoosted(docs, "doc_id", analyzed,
              graft.query.QueryString.boostedTerms(qText))
          else graft.query.Bm25.scoredAll(docs, "doc_id", analyzed, qText,
            analyzer = an)
        val page =
          if (o.hasNonNull("collapse"))
            graft.query.Paging.collapseTopHits(
              scored.join(docs.select("doc_id", o.path("collapse").asText()), "doc_id"),
              "doc_id", "score", o.path("collapse").asText(), size)
          else if (o.hasNonNull("after")) {
            val a = o.path("after")
            graft.query.Paging.searchAfter(scored, "doc_id", "score",
              a.get(0).asDouble(), a.get(1).asLong(), size)
          } else if (o.hasNonNull("rescore")) {
            // ES rescore over the wire: {"rescore": {"q": "<query_string
            // phrase>", "window": N, "weight": w}} — only the window pays
            // the secondary phrase boost, the tail keeps primary order.
            val r = o.path("rescore")
            val rq = r.path("q").asText("")
            require(rq.nonEmpty, "search: rescore.q missing")
            val boost = docs0.select(col("doc_id"),
              when(graft.expr.TextMatch.containsToken(col("text"), rq),
                lit(1.0)).otherwise(lit(0.0)).as("boost"))
            // ROUTE CONTRACT: rescore serves at most runLimit (default
            // 1000) ranks — ranks beyond it truncate BY DESIGN (the
            // distributed top-k page budget; rescore's scaladoc). A
            // deeper page product would pass runLimit explicitly here.
            graft.query.Hybrid.rescore(scored, "doc_id", "score",
                boost, "boost",
                windowSize = r.path("window").asInt(10),
                rescoreWeight = r.path("weight").asDouble(2.0))
              .orderBy("rank").limit(size)
          } else scored.orderBy(desc("score"), asc("doc_id")).limit(size)
        WidgetServer.collectRowsJson(
          if (o.path("highlight").asBoolean(false))
            page.join(docs0.select(col("doc_id"),
              graft.expr.TextMatch.highlight(col("text"), qText).as("highlighted")),
              "doc_id")
              .orderBy(desc("score"), asc("doc_id"))
          else page)
        }
      },
      "/analyze" -> { body =>
        // ES's POST /_analyze: {"analyzer": "standard"|"unicode"|
        // "english", "text": "..."} → the token stream with positions —
        // the debugging endpoint every analyzer change gets tested
        // through. "standard" is the engine's ASCII tokenizer (the
        // stated subset of ES's standard), "english" adds the stopword
        // filter + the Snowball stemmer.
        val o = json.readTree(body)
        val text = o.path("text").asText("")
        require(text.nonEmpty, "analyze: missing text")
        val an = analyzerByName(o.path("analyzer").asText("standard"))
        val toks = an.analyze(text).zipWithIndex.map { case (t, i) => (i, t) }
        import s.implicits._
        WidgetServer.collectRowsJson(toks.toDF("position", "token"))
      },
      "/mlt" -> { body =>
        // ES more_like_this over the wire, like-TEXT form: {"like":
        // "free text", "max_query_terms": N, "min_term_freq": N,
        // "min_doc_freq": N, "max_doc_freq": N, "min_word_length": N,
        // "minimum_should_match": "50%", "size": N, "scored": bool}.
        // scored=true (default) returns the BM25 top-k; scored=false the
        // filter-context match set with per-doc matched counts.
        val o = json.readTree(body)
        val like = o.path("like").asText("")
        require(like.nonEmpty, "mlt: missing like")
        val mltSize = o.path("size").asInt(10)
        require(mltSize >= 1 && mltSize <= 1000,
          s"mlt: size must be 1..1000 (the page budget), got $mltSize")
        val p = graft.query.MoreLikeThis.MltParams(
          maxQueryTerms = o.path("max_query_terms").asInt(25),
          minTermFreq = o.path("min_term_freq").asInt(2),
          minDocFreq = o.path("min_doc_freq").asInt(5),
          maxDocFreq = if (o.hasNonNull("max_doc_freq")) o.path("max_doc_freq").asInt()
            else Int.MaxValue,
          minWordLength = o.path("min_word_length").asInt(0),
          maxWordLength = if (o.hasNonNull("max_word_length"))
            o.path("max_word_length").asInt() else Int.MaxValue,
          minimumShouldMatch = o.path("minimum_should_match").asText("30%"))
        val docs = load(dir, "documents")
        val analyzed = concat(lit(" "),
          graft.expr.TextMatch.normalized(col("text")), lit(" "))
        WidgetServer.collectRowsJson(
          if (o.path("scored").asBoolean(true))
            graft.query.MoreLikeThis.likeTextTopK(docs, "doc_id", analyzed,
              like, k = mltSize, p)
          else
            graft.query.MoreLikeThis.likeTextMatchSet(docs, "doc_id", analyzed,
                like, p)
              .orderBy("doc_id").limit(mltSize))
      },
      "/complete" -> { body =>
        // ES completion suggester: {"prefix": "sp", "size": N,
        // "fuzziness": 0..2, "prefix_length": N} over the documents
        // vocabulary (the at-rest suggest artifact).
        val o = json.readTree(body)
        val prefix = o.path("prefix").asText("")
        require(prefix.nonEmpty, "complete: missing prefix")
        require(o.path("size").asInt(5) >= 1 && o.path("size").asInt(5) <= 1000,
          "complete: size must be 1..1000")
        WidgetServer.collectRowsJson(graft.query.Fuzzy.suggestCompletion(
          graft.query.Fuzzy.vocabularyWithFreq(load(dir, "documents"), col("text")),
          prefix, size = o.path("size").asInt(5),
          fuzziness = o.path("fuzziness").asInt(0),
          prefixLength = o.path("prefix_length").asInt(1)))
      },
      "/knn" -> { body =>
        // ES 8 knn search over the wire: {"vec_id": 3, "k": 5,
        // "filter": "label:[0 TO 5]" (query_string over the metadata
        // columns, optional), "nprobe": N (optional — IVF path; omitted
        // = exact brute force), "similarity": t (optional)}. With "k"
        // present (or neither given), "similarity" is ES's documented
        // knn threshold: ranked hits below cosine t drop AFTER the k
        // cut. With "similarity" and NO "k", the request is a pure
        // RADIUS search — every hit with cos ≥ t, no rank window at
        // all: ivfRadius over the probed cells when "nprobe" is given
        // (the serving path — cell-pruned scan, round-15 verdict #3),
        // exact bruteForceRadius otherwise. The filter is PRE-filter
        // semantics (candidates prune before ranking, the
        // recall-preserving form); the query vector is looked up by id,
        // the kNN-by-example shape.
        val o = json.readTree(body)
        require(o.hasNonNull("vec_id"), "knn: missing vec_id")
        val qid = o.path("vec_id").asLong()
        val emb0 = load(dir, "embeddings")
        val emb =
          if (o.hasNonNull("filter"))
            emb0.where(graft.query.QueryString.parse(
              o.path("filter").asText(), defaultField = "label").compile)
          else emb0
        val queries = emb0.where(col("vec_id") === qid)
        def centroids() = ops.Similarity.kmeansCentroids(
          emb0, "vec_id", "embedding", k = 8, iters = 0)
        val hits =
          if (o.hasNonNull("similarity") && !o.hasNonNull("k")) {
            val t = o.path("similarity").asDouble()
            val radius =
              if (o.hasNonNull("nprobe")) {
                val cents = centroids()
                ops.Similarity.ivfRadius(
                  ops.Similarity.assignCells(emb, "vec_id", "embedding", cents),
                  cents, queries, "vec_id", "embedding", t,
                  nprobe = o.path("nprobe").asInt(3))
              } else
                ops.Similarity.bruteForceRadius(emb, "vec_id", "embedding",
                  queries, "vec_id", "embedding", t)
            // ROUTE CONTRACT (a diverging wire shape, documented): ES
            // defines `similarity` only alongside `k`; here `similarity`
            // WITHOUT `k` is this route's radius extension, and since
            // round 16 it returns the FULL radius set rather than the
            // old top-5-then-threshold page. "size" (default 1000)
            // bounds the response — a permissive threshold over a big
            // corpus must not stream the corpus down one HTTP body; a
            // deeper page passes size explicitly.
            radius.orderBy(desc("cos"), asc("neighbor_id"))
              .limit(o.path("size").asInt(1000))
          } else {
            val k = o.path("k").asInt(5)
            val ranked =
              if (o.hasNonNull("nprobe")) {
                val cents = centroids()
                ops.Similarity.ivfTopKFromIndex(
                  ops.Similarity.assignCells(emb, "vec_id", "embedding", cents),
                  cents, queries, "vec_id", "embedding", k,
                  nprobe = o.path("nprobe").asInt(3))
              } else
                ops.Similarity.bruteForceTopK(emb, "vec_id", "embedding",
                  queries, "vec_id", "embedding", k)
            if (o.hasNonNull("similarity"))
              ranked.where(col("cos") >= o.path("similarity").asDouble())
            else ranked
          }
        WidgetServer.collectRowsJson(hits)
      },
      "/sparse" -> { body =>
        // ES `sparse_vector` search over the wire (the ELSER/SPLADE
        // serving endpoint): {"terms": {"vector": 2.0, "dup": 1.5} —
        // the ES query_vector object — OR [["vector", 2.0], ...],
        // "k": N, "prune": true (optional; the ES pruning_config:
        // "freq_ratio" = tokens_freq_ratio_threshold, default 5.0,
        // "weight_ratio" = tokens_weight_threshold, default 0.4)}.
        // Scores the tf postings of the documents corpus — the same
        // engine path search_sparse_vector pins. Fault pins (400):
        // missing/empty terms, a non-numeric weight, duplicate terms
        // (the array form can carry them; SparseVector rejects), and
        // prune thresholds outside their ES ranges.
        val o = json.readTree(body)
        val t = o.path("terms")
        val b = Seq.newBuilder[(String, Double)]
        if (t.isObject && t.size() > 0) {
          val it = t.fields()
          while (it.hasNext) {
            val e = it.next()
            require(e.getValue.isNumber,
              s"sparse: weight of term <${e.getKey}> must be a number")
            b += e.getKey -> e.getValue.asDouble()
          }
        } else if (t.isArray && t.size() > 0) {
          (0 until t.size()).foreach { i =>
            val pair = t.get(i)
            require(pair.isArray && pair.size() == 2 && pair.get(0).isTextual &&
              pair.get(1).isNumber, "sparse: terms array entries must be [term, weight]")
            b += pair.get(0).asText() -> pair.get(1).asDouble()
          }
        } else throw new IllegalArgumentException("sparse: missing terms")
        val weights = b.result()
        val postings = query.SparseVector.tfPostings(
          load(dir, "documents"), "doc_id", "text")
        val served =
          if (o.path("prune").asBoolean(false))
            query.SparseVector.prune(postings, weights,
              freqRatioThreshold = o.path("freq_ratio").asDouble(5.0),
              weightThreshold = o.path("weight_ratio").asDouble(0.4))
          else weights
        WidgetServer.collectRowsJson(
          query.SparseVector.topK(postings, "doc_id", served,
            k = o.path("k").asInt(10)))
      },
      "/geo" -> { body =>
        // Kibana map filters over the wire: {"box": {"top": t, "left": l,
        // "bottom": b, "right": r}} (the viewport geo_bounding_box —
        // antimeridian crossing honored) and/or {"pin": {"lat": y,
        // "lon": x, "km": r}} (the geo_distance radius filter), plus
        // {"precision": p} — returns the geohash grid of the matching
        // points (the map's clustered-dots layer after a pan/pin).
        // Filters compile to plain comparisons / the pinned haversine
        // tree and push into the scan (PlanSpec).
        val o = json.readTree(body)
        val precision = o.path("precision").asInt(2)
        val pts = load(dir, "customer")
          .withColumn("lat", pmod(col("c_acctbal"), lit(180)) - 90 + lit(0.001))
          .withColumn("lon", pmod(col("c_custkey"), lit(360)) - 180 + lit(0.001))
        val specs = Seq(
          Option(o.path("box")).filter(_.isObject).map(b =>
            graft.query.FilterSpec.GeoBoundingBox("lat", "lon",
              b.path("top").asDouble(90), b.path("left").asDouble(-180),
              b.path("bottom").asDouble(-90), b.path("right").asDouble(180))),
          Option(o.path("pin")).filter(_.isObject).map { p =>
            require(p.hasNonNull("km"), "geo: pin needs km")
            graft.query.FilterSpec.GeoDistance("lat", "lon",
              p.path("lat").asDouble(0), p.path("lon").asDouble(0),
              p.path("km").asDouble())
          }).flatten
        WidgetServer.collectRowsJson(Aggs.geohashGrid(
          pts.where(graft.query.FilterSpec.conjunction(specs).compile),
          "lat", "lon", precision))
      },
      "/fuse" -> { body =>
        // Hybrid retrieval over the wire (the ES retrievers API shape):
        // {"q": "<text query>", "vec_id": N, "k": N, "mode": "rrf"|
        // "linear", "weights": [wLex, wVec] (linear only), "mmr":
        // {"k": n, "lambda": l} (optional diversification of the fused
        // list using the embedding vectors)}.
        val o = json.readTree(body)
        val qText = o.path("q").asText("")
        require(qText.nonEmpty, "fuse: missing q")
        require(o.hasNonNull("vec_id"), "fuse: missing vec_id")
        val k = o.path("k").asInt(10)
        val mode = o.path("mode").asText("rrf")
        val docs = load(dir, "documents")
        val emb = load(dir, "embeddings")
        val bmScored = graft.query.Bm25.topKRaw(docs, "doc_id", "text", qText, k = 50)
          .select(col("doc_id"), col("score"))
        val vecScored = ops.Similarity.bruteForceTopK(emb, "vec_id", "embedding",
            emb.where(col("vec_id") === o.path("vec_id").asLong()),
            "vec_id", "embedding", k = 50)
          .select(col("neighbor_id").as("doc_id"), col("rank"), col("cos").as("score"))
        val fused = mode match {
          case "rrf" =>
            val bmRun = graft.query.Hybrid.withRank(bmScored, "score", "doc_id")
              .select("doc_id", "rank")
            graft.query.Hybrid.rrf(
                Seq(bmRun, vecScored.select("doc_id", "rank")),
                "doc_id", "rank", topK = k)
              .withColumnRenamed("rrf_score", "fused_score")
          case "linear" =>
            val w = o.path("weights")
            val (w0, w1) =
              if (w.isArray && w.size() == 2) (w.get(0).asDouble(), w.get(1).asDouble())
              else (0.7, 0.3)
            graft.query.Hybrid.linearFusion(
              Seq(bmScored -> w0, vecScored.select("doc_id", "score") -> w1),
              "doc_id", "score", topK = k)
          case other => throw new IllegalArgumentException(
            s"fuse: unsupported mode <$other> (rrf|linear)")
        }
        WidgetServer.collectRowsJson(
          if (o.hasNonNull("mmr")) {
            val m = o.path("mmr")
            graft.query.Mmr.diversify(
              fused.select(col("doc_id").as("cand_id"),
                  col("fused_score").as("rel"))
                .join(emb.select(col("vec_id").as("cand_id"),
                  ops.Similarity.asDouble(col("embedding")).as("vec")), Seq("cand_id"))
                .withColumn("query_id", lit(0L)),
              k = m.path("k").asInt(5), lambda = m.path("lambda").asDouble(0.7))
              .orderBy("pick")
              .select("pick", "cand_id", "rel", "mmr")
          } else fused.orderBy(desc("fused_score"), asc("doc_id")))
      },
      "/retriever" -> { body =>
        // The ES 9.x search API's `retriever` tree — the recursive
        // request shape whose flat /search, /knn, /fuse forms are
        // special cases. The body IS the retriever JSON
        // ({"retriever": {...}} or the bare node); responses cap at the
        // tree's own rank_window_size (every node bounds its output).
        WidgetServer.collectRowsJson(
          query.Retriever.compile(load(dir, "documents"),
            load(dir, "embeddings"), body))
      },
      "/percolate" -> { body =>
        // The alerting endpoint: {"queries": {"alert_id": "<query_string
        // text>", ...}} percolated against the documents corpus — one
        // (query_id, doc_id) row per match, the Watcher wire shape.
        val o = json.readTree(body)
        val qs = o.path("queries")
        require(qs.isObject && qs.size() > 0, "percolate: missing queries")
        val it = qs.fields()
        val b = Seq.newBuilder[(String, String)]
        while (it.hasNext) { val e = it.next(); b += e.getKey -> e.getValue.asText() }
        val stored = graft.query.Percolator.fromStrings(b.result(), defaultField = "text")
        // sharded form: identical results (parity-spec'd), and a caller
        // POSTing an index-scale query set stays inside codegen budgets
        WidgetServer.collectRowsJson(
          graft.query.Percolator.percolateSharded(
            load(dir, "documents"), "doc_id", stored)
            .orderBy("query_id", "doc_id"))
      })
  }

  /** Stable engine-side panel labels, keyed by saved-object id — pure
    * presentation names the oracles pin. Everything else about a panel
    * (fields, sizes, nesting, grid precision) comes from its visState.
    */
  private val vizLabels = Map(
    "Description" -> "description_pie",
    "City" -> "city_pie",
    "Day-slash-Hour" -> "day_hour_heat",
    "DatasetTable" -> "dataset_table",
    "IncidentMap" -> "map_grid")

  /** The saved dashboard's panels, parsed once from the vendored reference
    * export (`kibana-exported-visualizations.json` — see
    * [[graft.query.VisState]]).
    */
  private lazy val dashboardVizes: Seq[graft.query.VisState.Viz] =
    graft.query.VisState.bundledDashboard()

  /** Render one saved visualization over the filtered federated frame onto
    * the dashboard's `(viz, key, subkey, count)` bucket schema. Bucket
    * fields resolve against the frame; a field the engine's published
    * projection does not carry is dropped (the export's `notebookhtml`
    * descriptor link — Kibana buckets a missing field into nothing, and
    * the DatasetTable panel degrades to its first level, per-city counts).
    */
  private[graft] def renderViz(f: DataFrame, v: graft.query.VisState.Viz): DataFrame = {
    import graft.query.VisState.BucketAgg
    val label = vizLabels.getOrElse(v.id, v.id)
    def flat(df: DataFrame, key: String) =
      df.select(lit(label).as("viz"), col(key).cast("string").as("key"),
        lit("").as("subkey"), col("count"))
    val buckets = v.buckets.filter(b => f.columns.contains(b.field))
    buckets match {
      case Seq() if v.buckets.nonEmpty =>
        // every bucket field is absent from the serving frame: the panel
        // renders as nothing, not as an error (matches the terms degrade)
        f.sparkSession.emptyDataFrame
          .select(lit(label).as("viz"), lit("").as("key"),
            lit("").as("subkey"), lit(0L).as("count"))
      case Seq(b @ BucketAgg("geohash_grid", _, _, _, _)) =>
        flat(Aggs.geohashGridFromGeoloc(f, b.field, b.precision), "geohash")
      case Seq(b @ BucketAgg("terms", _, _, _, _)) =>
        flat(Aggs.termsTopN(f, b.field, b.size), b.field)
      case Seq(p @ BucketAgg("terms", _, _, _, _), c @ BucketAgg("terms", _, _, _, _)) =>
        Aggs.nestedTermsBuckets(f, p.field, c.field,
          parentSize = p.size, childSize = c.size)
          .select(lit(label).as("viz"), col(p.field).cast("string").as("key"),
            col(c.field).cast("string").as("subkey"), col("count"))
      case other =>
        throw new IllegalArgumentException(
          s"unsupported panel shape for '${v.id}': ${other.mkString(", ")}")
    }
  }

  private def dashboardRefresh(
      s: SparkSession,
      warm: Boolean,
      stateJson: String = dashboardStateJson,
      vizes: Seq[graft.query.VisState.Viz] = null): DataFrame = {
    val f = dashboardFiltered(s, warm, stateJson)
    Option(vizes).getOrElse(dashboardVizes)
      .map(renderViz(f, _))
      .reduce(_.unionByName(_))
      // Total order without a range-partitioning exchange: a global sort
      // would sample the (tiny) result in an extra job per interaction;
      // one partition + a local sort is the same order at dashboard-result
      // cardinality.
      .coalesce(1)
      .sortWithinPartitions("viz", "key", "subkey")
  }

  /** The saved map panel's precision — baked into the rollup's geohash
    * dimension at build time (ES likewise indexes the geohash_grid's
    * precision levels into doc_values at ingest).
    */
  private val dashboardCubePrecision = 2

  /** The dashboard rollup's dimensions over the federated view: every
    * bucket field of the five saved visualizations plus every field the
    * saved widget state (and the global time filter, via `year`) can
    * constrain. Geohash is DERIVED here, at ingest, at the saved map's
    * precision — serving never parses a geolocation string again.
    */
  private def dashboardCubeDims: Seq[(String, Column)] = {
    val parts = split(col("geolocation"), ",")
    Seq(
      "dataset" -> col("dataset"),
      "description" -> col("description"),
      "city" -> col("city"),
      "dayofweek" -> col("dayofweek"),
      "hour" -> col("hour"),
      "year" -> col("year"),
      "geohash" -> when(length(col("geolocation")) > 0,
        graft.expr.Geohash.geohash(
          parts.getItem(0).cast("double"), parts.getItem(1).cast("double"),
          dashboardCubePrecision)))
  }

  /** [[renderViz]] over the at-rest rollup instead of the corpus: identical
    * buckets (the weighted ops in [[PreAgg]] restate each aggregation's
    * ordering contract over `sum(cnt)`), same degrade rules — a bucket
    * field the rollup does not carry drops out, a fully-missing panel
    * renders as nothing.
    */
  private[graft] def renderVizPreagg(pre: DataFrame, v: graft.query.VisState.Viz): DataFrame = {
    import graft.query.VisState.BucketAgg
    val label = vizLabels.getOrElse(v.id, v.id)
    def flat(df: DataFrame, key: String) =
      df.select(lit(label).as("viz"), col(key).cast("string").as("key"),
        lit("").as("subkey"), col("count"))
    val buckets = v.buckets.filter(b =>
      if (b.aggType == "geohash_grid") pre.columns.contains("geohash")
      else pre.columns.contains(b.field))
    buckets match {
      case Seq() if v.buckets.nonEmpty =>
        pre.sparkSession.emptyDataFrame
          .select(lit(label).as("viz"), lit("").as("key"),
            lit("").as("subkey"), lit(0L).as("count"))
      case Seq(b @ BucketAgg("geohash_grid", _, _, _, _)) =>
        // any precision at or below the ingest precision truncates from
        // the rollup (geohash prefixes ARE the coarser cells); only a
        // FINER saved map forces a rebuild or the corpus scan
        require(PreAgg.coversGeohash(dashboardCubePrecision, b.precision),
          s"saved map precision ${b.precision} > rollup ingest precision " +
            s"$dashboardCubePrecision — rebuild the rollup or fall back to the scan")
        flat(PreAgg.geohashGridAt(pre, dashboardCubePrecision, b.precision), "geohash")
      case Seq(b @ BucketAgg("terms", _, _, _, _)) =>
        flat(PreAgg.termsTopN(pre, b.field, b.size), b.field)
      case Seq(p @ BucketAgg("terms", _, _, _, _), c @ BucketAgg("terms", _, _, _, _)) =>
        PreAgg.nestedTerms(pre, p.field, c.field,
          parentSize = p.size, childSize = c.size)
          .select(lit(label).as("viz"), col(p.field).cast("string").as("key"),
            col(c.field).cast("string").as("subkey"), col("count"))
      case other =>
        throw new IllegalArgumentException(
          s"unsupported panel shape for '${v.id}': ${other.mkString(", ")}")
    }
  }

  /** The dashboard served ENTIRELY from the pre-aggregated rollup — the
    * 100 TB serving path. Identical results to [[dashboardRefresh]] (one
    * oracle pins both), but the serving plan reads only the rollup: the
    * corpus is scanned exactly once, at rollup build, and a widget change
    * re-aggregates |distinct dim combos| rows. The global time filter
    * (`datetime >= 2010-01-01T00:00`, a year-boundary instant in the
    * published string encoding) is applied as `year >= 2010` — `year` and
    * `datetime` are harmonized from the same source parts, so the
    * predicates select identical rows (the shared oracle certifies it).
    * A state filtering any field outside the rollup's dimensions fails
    * loudly ([[PreAgg.covers]]): fall back to [[dashboardRefresh]], never
    * serve silently-wrong buckets.
    */
  /** The dashboard rollup, built once per session (the at-rest table a
    * 100 TB deployment maintains at ingest).
    */
  private def dashboardRollup(s: SparkSession): DataFrame =
    PreAgg.materialize(s, federatedHarmonized(s, warm = false),
      dashboardCubeDims, "graft_dashboard_preagg")

  /** The Web-Mercator twin of the geohash cube dimension: an at-rest
    * `(tx, ty)` rollup at ingest zoom 10 over the federation's parsed
    * coordinates, materialized once — every map request ([[serveHttp]]'s
    * `/geotile`) is then integer shifts over its rows.
    */
  private val geoTileIngestZoom = 10
  private def geoTileRollup(s: SparkSession): DataFrame = {
    implicit val spark: SparkSession = s
    def coords = {
      val parts = split(col("geolocation"), ",")
      federatedHarmonized(s, warm = false)
        .where(length(col("geolocation")) > 0)
        .withColumn("_lat", parts.getItem(0).cast("double"))
        .withColumn("_lon", parts.getItem(1).cast("double"))
    }
    val Seq(tx, ty) = Aggs.geoTileXY(col("_lat"), col("_lon"), geoTileIngestZoom)
    PreAgg.materialize(s, coords, Seq("tx" -> tx, "ty" -> ty),
      "graft_geotile_preagg")
  }

  private def dashboardRefreshPreagg(
      s: SparkSession,
      stateJson: String = dashboardStateJson,
      rollup: Option[DataFrame] = None): DataFrame = {
    val dims = dashboardCubeDims
    val pre = rollup.getOrElse(dashboardRollup(s))
    val fc = Widgets.fromJson(dashboardWidgetFields(s), stateJson)
    val dimNames = dims.map(_._1)
    require(PreAgg.covers(dimNames, fc.selections.keys.toSeq),
      s"widget state filters outside rollup dims ${dimNames.mkString(",")} — " +
        "serve this state from dashboard_refresh (full scan) instead")
    val f = pre
      .where(col("year").isNotNull && col("year") >= 2010)
      .where(fc.compile)
    dashboardVizes
      .map(renderVizPreagg(f, _))
      .reduce(_.unionByName(_))
      .coalesce(1)
      .sortWithinPartitions("viz", "key", "subkey")
  }

  /** The `*harmonized*` federated relation in DuckDB: the shared harmonized
    * columns of each city relation, dataset-tagged — the oracle twin of the
    * dashboard's federated view.
    */
  private def federatedCitySql: String =
    Seq("baltimore", "detroit", "losangeles").map { c =>
      s"""SELECT description, city, dayofweek, hour, geolocation, year, datetime,
         |  '$c' AS dataset FROM (${cityHarmonizedRelationSql(c)})""".stripMargin
    }.mkString("\nUNION ALL\n")

  /** UNION ALL of the five saved visualizations' oracle shapes over the
    * filtered federated relation — each leg the already-proven form (terms
    * top-N, nested terms with parent-total ordering, precision-2 geohash
    * interleave), labeled and projected onto one (viz, key, subkey, count)
    * schema.
    */
  /** The `fed` + `f` CTEs (federated relation + the dashboard's filter
    * state) shared by the refresh and drill-down oracles.
    */
  private def dashboardFilteredCtesSql: String =
    s"""fed AS (
       |${federatedCitySql}
       |), f AS (
       |  SELECT * FROM fed
       |  WHERE datetime IS NOT NULL AND datetime >= '2010-01-01 00:00:00'
       |    AND year >= 2015 AND year <= 2017 AND hour >= 0 AND hour <= 18
       |)""".stripMargin

  /** Shared by the plain and Bloom-prefiltered incremental dedup entries:
    * the pre-filter is an optimization, never a semantics change.
    */
  private def dedupExactIncrementalOracleSql: String =
    s"""WITH store AS (
       |  SELECT DISTINCT fp FROM (
       |    SELECT $duckNorm AS fp FROM documents WHERE doc_id % 2 = 0
       |  ) WHERE fp IS NOT NULL
       |), batch AS (
       |  SELECT source, doc_id, fp FROM (
       |    SELECT source, doc_id, $duckNorm AS fp FROM documents
       |    WHERE doc_id % 2 <> 0
       |  ) WHERE fp IS NOT NULL
       |), fresh AS (
       |  SELECT source, fp,
       |    row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
       |  FROM batch WHERE fp NOT IN (SELECT fp FROM store)
       |)
       |SELECT source, count(*) AS n_accepted FROM fresh WHERE rn = 1
       |GROUP BY source ORDER BY source""".stripMargin

  private def dashboardRefreshOracleSql: String = {
    def terms(viz: String, key: String, size: Int = 10) =
      s"""SELECT * FROM (
         |  SELECT '$viz' AS viz, $key::VARCHAR AS key, '' AS subkey,
         |    count(*) AS count
         |  FROM f GROUP BY $key ORDER BY count DESC, key ASC LIMIT $size
         |)""".stripMargin
    s"""WITH ${dashboardFilteredCtesSql}
       |${terms("description_pie", "description")}
       |UNION ALL ${terms("city_pie", "city")}
       |UNION ALL SELECT * FROM (
       |  WITH pairs AS (
       |    SELECT dayofweek, hour, count(*) AS count FROM f GROUP BY 1, 2
       |  ), tp AS (
       |    SELECT dayofweek, sum(count)::BIGINT AS parent_count FROM pairs
       |    GROUP BY 1 ORDER BY parent_count DESC, dayofweek ASC LIMIT 10
       |  ), ranked AS (
       |    SELECT p.dayofweek, p.hour, p.count,
       |      row_number() OVER (PARTITION BY p.dayofweek
       |        ORDER BY p.count DESC, p.hour ASC) AS r
       |    FROM pairs p JOIN tp USING (dayofweek)
       |  )
       |  SELECT 'day_hour_heat' AS viz, dayofweek AS key, hour::VARCHAR AS subkey,
       |    count FROM ranked WHERE r <= 24
       |)
       |UNION ALL ${terms("dataset_table", "city", size = 20)}
       |UNION ALL SELECT * FROM (
       |  WITH pts AS (
       |    SELECT split_part(geolocation, ',', 1)::DOUBLE AS lat,
       |           split_part(geolocation, ',', 2)::DOUBLE AS lon
       |    FROM f WHERE length(geolocation) > 0
       |  ), idx AS (
       |    SELECT least(31, greatest(0, floor((lat + 90) / 180 * 32)))::INT AS la,
       |           least(31, greatest(0, floor((lon + 180) / 360 * 32)))::INT AS lo
       |    FROM pts WHERE lat IS NOT NULL AND lon IS NOT NULL
       |  ), gh AS (
       |    SELECT ((lo & 16) << 5) | ((la & 16) << 4) | ((lo & 8) << 4) | ((la & 8) << 3)
       |         | ((lo & 4) << 3) | ((la & 4) << 2) | ((lo & 2) << 2) | ((la & 2) << 1)
       |         | ((lo & 1) << 1) | (la & 1) AS v
       |    FROM idx
       |  )
       |  SELECT 'map_grid' AS viz,
       |    substr('0123456789bcdefghjkmnpqrstuvwxyz', (v >> 5) + 1, 1) ||
       |    substr('0123456789bcdefghjkmnpqrstuvwxyz', (v & 31) + 1, 1) AS key,
       |    '' AS subkey, count(*) AS count
       |  FROM gh GROUP BY 1, 2, 3
       |)
       |ORDER BY viz, key, subkey""".stripMargin
  }

  /** The IVF coarse-quantizer assignment in DuckDB (refineIters=0), shared
    * by the `ann_ivf` and `sample_embedding_percell` oracles: `e` (typed
    * corpus) → `cent` (the `nlist` vectors with the smallest seeded
    * md5-unit hash, in [[graft.ops.Sampling.hashUnitSql]] order — exactly
    * [[graft.ops.Similarity.kmeansCentroids]]'s init pick) → `cellranked`
    * (per-row cells by bit-stable cosine) → `assigned` (top-1 cell per
    * row). Emits CTE bodies only; callers continue the WITH chain.
    */
  /** Missing-bucket count over the derived conversion-type field —
    * shared by the scan form and the derived-dim rollup twin.
    */
  private val missingOracleSql: String =
    """SELECT coalesce(sum(CASE WHEN nullif(event_type, 'view') IS NULL
      |  THEN 1 ELSE 0 END), 0)::BIGINT AS missing_count
      |FROM events""".stripMargin

  /** Named widget-filter buckets — shared by the scan form and the
    * (event_type, value)-rollup serving twin.
    */
  private val filtersAggOracleSql: String =
    """SELECT * FROM (
      |  SELECT 'purchases' AS bucket,
      |    sum(CASE WHEN event_type IN ('purchase') THEN 1 ELSE 0 END)::BIGINT AS count
      |  FROM events
      |  UNION ALL SELECT 'big_value',
      |    sum(CASE WHEN value >= 100.0 AND value <= 10000.0 THEN 1 ELSE 0 END)::BIGINT
      |  FROM events
      |  UNION ALL SELECT 'clicks_or_views',
      |    sum(CASE WHEN event_type IN ('click', 'view') THEN 1 ELSE 0 END)::BIGINT
      |  FROM events
      |) ORDER BY bucket""".stripMargin

  /** Adjacency singles + pairwise intersections (zero cells omitted) —
    * shared by the scan form and the rollup serving twin.
    */
  private val adjacencyMatrixOracleSql: String =
    """SELECT * FROM (
        |  SELECT 'purchases' AS bucket,
        |    sum(CASE WHEN event_type IN ('purchase') THEN 1 ELSE 0 END)::BIGINT AS count
        |  FROM events
        |  UNION ALL SELECT 'big_value',
        |    sum(CASE WHEN value >= 100.0 AND value <= 10000.0 THEN 1 ELSE 0 END)::BIGINT
        |  FROM events
        |  UNION ALL SELECT 'clicks',
        |    sum(CASE WHEN event_type IN ('click') THEN 1 ELSE 0 END)::BIGINT
        |  FROM events
        |  UNION ALL SELECT 'purchases&big_value',
        |    sum(CASE WHEN event_type IN ('purchase')
        |      AND value >= 100.0 AND value <= 10000.0 THEN 1 ELSE 0 END)::BIGINT
        |  FROM events
        |  UNION ALL SELECT 'purchases&clicks',
        |    sum(CASE WHEN event_type IN ('purchase')
        |      AND event_type IN ('click') THEN 1 ELSE 0 END)::BIGINT
        |  FROM events
        |  UNION ALL SELECT 'big_value&clicks',
        |    sum(CASE WHEN value >= 100.0 AND value <= 10000.0
        |      AND event_type IN ('click') THEN 1 ELSE 0 END)::BIGINT
        |  FROM events
        |) WHERE count > 0 ORDER BY bucket""".stripMargin

  /** Range buckets generated from the SAME esRanges the engine buckets —
    * shared by the scan form and the (value)-rollup serving twin.
    */
  private lazy val rangeBucketsOracleSql: String = {
    val legs = esRanges.map { case (lo, hi) =>
      val cond = (lo.map(v => s"value >= $v") ++ hi.map(v => s"value < $v"))
        .reduceOption((a, b) => s"$a AND $b").getOrElse("value IS NOT NULL")
      s"""SELECT '${query.Aggs.rangeKey(lo, hi)}' AS bucket,
         |  sum(CASE WHEN $cond THEN 1 ELSE 0 END)::BIGINT AS count
         |FROM events""".stripMargin
    }
    legs.mkString("SELECT * FROM (\n", "\nUNION ALL ", "\n) ORDER BY bucket")
  }

  /** Page 2 of the composite export as ORDER BY/OFFSET — shared by the
    * corpus-scan form and the rollup-paged serving twin.
    */
  private val compositePagesOracleSql: String =
    """SELECT event_type, user_id, count(*)::BIGINT AS count
      |FROM events
      |WHERE event_type IS NOT NULL AND user_id IS NOT NULL
      |GROUP BY 1, 2 ORDER BY event_type, user_id
      |LIMIT 5 OFFSET 5""".stripMargin

  /** Integer-cents extended stats: exact LONG folds, one fixed
    * back-conversion tree evaluated identically by both engines — shared
    * by the scan form and the cents-rollup serving twin.
    */
  private val extendedStatsOracleSql: String =
    """WITH c AS (
      |  SELECT floor(value * 100)::BIGINT AS ct FROM events
      |  WHERE value IS NOT NULL
      |), s AS (
      |  SELECT count(*)::BIGINT AS count, min(ct) AS mn, max(ct) AS mx,
      |    sum(ct)::BIGINT AS sc, sum(ct * ct)::BIGINT AS sc2
      |  FROM c
      |)
      |SELECT count,
      |  (mn::DOUBLE / 100.0) AS min,
      |  (mx::DOUBLE / 100.0) AS max,
      |  (sc / 100.0) AS sum,
      |  ((sc / 100.0) / count) AS avg,
      |  (sc2 / 10000.0) AS sum_of_squares,
      |  ((sc2 / 10000.0) / count
      |    - ((sc / 100.0) / count) * ((sc / 100.0) / count)) AS variance,
      |  sqrt((sc2 / 10000.0) / count
      |    - ((sc / 100.0) / count) * ((sc / 100.0) / count)) AS std_deviation
      |FROM s""".stripMargin

  /** Rare-first long-tail count-by-key, shared scan/rollup. */
  private val rareTermsOracleSql: String =
    """SELECT user_id, count(*)::BIGINT AS count
      |FROM events WHERE user_id IS NOT NULL
      |GROUP BY 1 HAVING count(*) <= 55
      |ORDER BY count, user_id""".stripMargin

  /** Composite-key top-N with full-tuple tiebreak, shared scan/rollup. */
  private val multiTermsOracleSql: String =
    """SELECT lang, source, count(*)::BIGINT AS count
      |FROM documents
      |WHERE lang IS NOT NULL AND source IS NOT NULL
      |GROUP BY 1, 2 ORDER BY count DESC, lang, source LIMIT 10""".stripMargin

  /** Weighted mean via exact cents·weight folds, shared scan/sum-rollup. */
  private val weightedAvgOracleSql: String =
    """SELECT ((sum(floor(l_extendedprice * 100)::BIGINT * l_quantity::BIGINT)
      |  / sum(l_quantity::BIGINT)::DOUBLE) / 100.0) AS weighted_avg
      |FROM lineitem
      |WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL""".stripMargin

  /** Micro-degree centroid per segment, shared scan/sum-rollup. */
  private val geoCentroidOracleSql: String =
    """WITH pts AS (
      |  -- two IEEE pins the micro-degree floor needs that the coarse
      |  -- geohash oracles never noticed: (a) 0.001 must be DOUBLE (as a
      |  -- DECIMAL literal the addition stays exact and the floor flips
      |  -- vs the engine's double add); (b) pmod on DOUBLES is ONE fmod
      |  -- + conditional add — the ((x%m)+m)%m double-mod form re-rounds
      |  -- r+m and loses the low bits of small remainders
      |  SELECT c_mktsegment,
      |    (CASE WHEN (c_acctbal % 180) < 0 THEN (c_acctbal % 180) + 180
      |          ELSE (c_acctbal % 180) END) - 90 + CAST(0.001 AS DOUBLE) AS lat,
      |    ((c_custkey % 360) + 360) % 360 - 180 + CAST(0.001 AS DOUBLE) AS lon
      |  FROM customer
      |), m AS (
      |  SELECT c_mktsegment, count(*)::BIGINT AS count,
      |    sum(floor(lat * 1000000)::BIGINT)::BIGINT AS slat,
      |    sum(floor(lon * 1000000)::BIGINT)::BIGINT AS slon
      |  FROM pts WHERE lat IS NOT NULL AND lon IS NOT NULL
      |  GROUP BY 1
      |)
      |SELECT c_mktsegment, count,
      |  ((slat / 1000000.0) / count) AS centroid_lat,
      |  ((slon / 1000000.0) / count) AS centroid_lon
      |FROM m ORDER BY count DESC, c_mktsegment LIMIT 10""".stripMargin

  /** Exact lengths + ordered entropy fold, shared scan/rollup (the char
    * and length rollups reproduce the identical distribution tables).
    */
  private val stringStatsOracleSql: String =
    """WITH chars AS (
      |  SELECT c, count(*)::BIGINT AS cnt FROM (
      |    SELECT unnest(string_split(text, '')) AS c
      |    FROM documents WHERE text IS NOT NULL
      |  ) WHERE length(c) > 0 GROUP BY c
      |), tot AS (
      |  SELECT sum(cnt)::BIGINT AS n FROM chars
      |), terms AS (
      |  SELECT c,
      |    -(cnt::DOUBLE / n) * ln(cnt::DOUBLE / n) / ln(2.0) AS term
      |  FROM chars, tot
      |), folded AS (
      |  SELECT c, sum(term) OVER (
      |    ORDER BY c ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS h
      |  FROM terms
      |), e AS (
      |  SELECT round(h, 6) AS entropy FROM folded ORDER BY c DESC LIMIT 1
      |)
      |SELECT count(*)::BIGINT AS count,
      |  min(length(text))::INT AS min_length,
      |  max(length(text))::INT AS max_length,
      |  (sum(length(text))::DOUBLE / count(*)) AS avg_length,
      |  any_value(e.entropy) AS entropy
      |FROM documents, e WHERE text IS NOT NULL GROUP BY e.entropy""".stripMargin

  /** Six pair rows restated by hand: LONG cents folds (sums < 2^53, so
    * even the engines' differing wide-sum types convert to the same
    * doubles), then the per-statistic fixed trees — IEEE sqrt is
    * correctly rounded, so correlation needs no rounding escape hatch.
    * Shared scan/sum-rollup (the rollup's measures ARE these moments).
    */
  private val matrixStatsOracleSql: String = {
    val fields = Seq("l_discount", "l_quantity", "l_tax")
    val pairs = for { i <- fields.indices; j <- i until fields.size }
      yield (fields(i), fields(j))
    def mean(f: String) = s"(s_$f / 100.0) / n"
    def vr(f: String) = s"(p_${f}_$f / 10000.0) / n - ${mean(f)} * ${mean(f)}"
    def cov(a: String, b: String) =
      s"(p_${a}_$b / 10000.0) / n - ${mean(a)} * ${mean(b)}"
    val sums =
      fields.map(f => s"sum(c_$f)::BIGINT AS s_$f") ++
        pairs.map { case (a, b) => s"sum(c_$a * c_$b)::BIGINT AS p_${a}_$b" }
    val rows = pairs.map { case (a, b) =>
      s"""SELECT '$a' AS field_i, '$b' AS field_j, n AS count,
         |  ${mean(a)} AS mean_i, ${mean(b)} AS mean_j,
         |  ${vr(a)} AS var_i, ${vr(b)} AS var_j,
         |  ${cov(a, b)} AS covariance,
         |  (${cov(a, b)}) / sqrt((${vr(a)}) * (${vr(b)})) AS correlation
         |FROM s""".stripMargin
    }
    s"""WITH b AS (
       |  SELECT ${fields.map(f => s"floor($f * 100)::BIGINT AS c_$f").mkString(", ")}
       |  FROM lineitem
       |  WHERE ${fields.map(f => s"$f IS NOT NULL").mkString(" AND ")}
       |), s AS (
       |  SELECT count(*)::BIGINT AS n, ${sums.mkString(", ")} FROM b
       |)
       |${rows.mkString("\nUNION ALL\n")}
       |ORDER BY field_i, field_j""".stripMargin
  }

  /** Named half-open timestamp ranges, shared scan/date-rollup (every
    * boundary sits on an hour-grain edge, so the predicates commute with
    * the truncated dimension).
    */
  private val dateRangeOracleSql: String =
    """SELECT * FROM (
      |  SELECT '*-2024-01-10' AS bucket,
      |    sum(CASE WHEN ts < TIMESTAMP '2024-01-10' THEN 1 ELSE 0 END)::BIGINT AS count
      |  FROM events
      |  UNION ALL SELECT '2024-01-10-2024-01-20',
      |    sum(CASE WHEN ts >= TIMESTAMP '2024-01-10'
      |      AND ts < TIMESTAMP '2024-01-20' THEN 1 ELSE 0 END)::BIGINT
      |  FROM events
      |  UNION ALL SELECT '2024-01-20-*',
      |    sum(CASE WHEN ts >= TIMESTAMP '2024-01-20' THEN 1 ELSE 0 END)::BIGINT
      |  FROM events
      |) ORDER BY bucket""".stripMargin

  /** /16 CIDR blocks derived from the synthetic-quad CONSTRUCTION (an
    * independent restatement — no re-parse), shared scan//24-rollup.
    */
  private val ipPrefixOracleSql: String =
    """SELECT '10.' || (c_custkey % 50) || '.0.0/16' AS prefix,
      |  count(*)::BIGINT AS count
      |FROM customer GROUP BY 1 ORDER BY count DESC, prefix LIMIT 10""".stripMargin

  /** First-seen attribution + bounded-series running sum, shared by the
    * scan and the date-rollup + first-seen-extremes-rollup serve.
    */
  private val cumulativeCardinalityOracleSql: String =
    """WITH b AS (
      |  SELECT date_trunc('day', ts) AS bucket, count(*)::BIGINT AS count
      |  FROM events WHERE ts IS NOT NULL GROUP BY 1
      |), f AS (
      |  SELECT user_id, min(date_trunc('day', ts)) AS bucket
      |  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL GROUP BY 1
      |), n AS (
      |  SELECT bucket, count(*)::BIGINT AS news FROM f GROUP BY 1
      |)
      |SELECT strftime(b.bucket, '%Y-%m-%d') AS bucket, b.count,
      |  sum(coalesce(n.news, 0)) OVER (
      |    ORDER BY b.bucket
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT
      |    AS cumulative_cardinality
      |FROM b LEFT JOIN n ON b.bucket = n.bucket
      |ORDER BY bucket""".stripMargin

  /** Pearson vs the 1..30 ramp over exact integer moments, shared by the
    * scan series and the rollup-served series.
    */
  private val bucketCorrelationOracleSql: String =
    """WITH s AS (
      |  SELECT date_trunc('day', ts) AS b, count(*)::BIGINT AS c
      |  FROM events GROUP BY 1
      |), x AS (
      |  SELECT c AS x, row_number() OVER (ORDER BY b)::BIGINT AS y FROM s
      |), m AS (
      |  SELECT count(*)::BIGINT AS n,
      |    sum(x)::BIGINT AS sx, sum(x * x)::BIGINT AS sxx,
      |    sum(y)::BIGINT AS sy, sum(y * y)::BIGINT AS syy,
      |    sum(x * y)::BIGINT AS sxy
      |  FROM x
      |)
      |SELECT ((n * sxy - sx * sy)::DOUBLE /
      |  sqrt((n * sxx - sx * sx)::DOUBLE * (n * syy - sy * sy)::DOUBLE))
      |  AS correlation
      |FROM m""".stripMargin

  /** Exact-integer ECDFs (counts vs ppm fractions), per-row fixed
    * two-division deviations, order-free max reductions. Shared
    * scan/rollup-served-series.
    */
  private val ksTestOracleSql: String =
    """WITH s AS (
      |  SELECT date_trunc('day', ts) AS b, count(*)::BIGINT AS c
      |  FROM events GROUP BY 1
      |), e AS (
      |  SELECT b, c, row_number() OVER (ORDER BY b) AS pos,
      |    sum(c) OVER (ORDER BY b
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS ca,
      |    sum(c) OVER ()::BIGINT AS tot
      |  FROM s
      |), d AS (
      |  SELECT ca::DOUBLE / tot -
      |    (CASE WHEN pos <= 10 THEN pos * 50000
      |          ELSE 500000 + (pos - 10) * 25000 END)::DOUBLE / 1000000.0
      |    AS dev
      |  FROM e
      |)
      |SELECT greatest(max(-dev), 0.0) AS less,
      |  greatest(max(dev), 0.0) AS greater,
      |  max(abs(dev)) AS two_sided
      |FROM d""".stripMargin

  /** Every candidate split's cross-multiplied mean difference is an
    * exact LONG; one division to the magnitude, deterministic argmax
    * with the smallest boundary bucket on ties. Shared
    * scan/rollup-served-series.
    */
  private val changePointOracleSql: String =
    """WITH s AS (
      |  SELECT date_trunc('day', ts) AS b, count(*)::BIGINT AS c
      |  FROM events GROUP BY 1
      |), x AS (
      |  SELECT b, c, row_number() OVER (ORDER BY b)::BIGINT AS k,
      |    sum(c) OVER (ORDER BY b
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS s1,
      |    count(*) OVER ()::BIGINT AS n,
      |    sum(c) OVER ()::BIGINT AS tot,
      |    lead(b) OVER (ORDER BY b) AS nxt
      |  FROM s
      |), y AS (
      |  SELECT strftime(nxt, '%Y-%m-%d') AS change_point,
      |    abs(s1 * (n - k) - (tot - s1) * k)::DOUBLE /
      |      (k * (n - k))::DOUBLE AS delta,
      |    b
      |  FROM x WHERE k < n
      |)
      |SELECT change_point, delta FROM y
      |ORDER BY delta DESC, b LIMIT 1""".stripMargin

  /** The three stored alert queries restated clause-for-clause — shared
    * by the one-shot percolation (`q_percolate`) and its streamed
    * deployment twin (`stream_percolate`): batch boundaries, the
    * at-least-once replay, and the at-rest stored-query table must all be
    * invisible in the alert set.
    */
  /** The sparse_vector retrieval restated for the oracle — shared by the
    * one-shot postings query (`search_sparse_vector`) and its streamed
    * maintained-index twin (`stream_sparse_vector`): epochs, the
    * at-least-once replay, and the bucket-partitioned at-rest layout
    * must all be invisible in the ranked page.
    */
  private val sparseVectorOracleSql: String =
    """WITH t AS (
      |  SELECT doc_id,
      |    regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
      |  FROM documents
      |), e AS (
      |  SELECT doc_id, u.x AS term FROM t, unnest(toks) AS u(x)
      |), p AS (
      |  SELECT doc_id, term, count(*)::DOUBLE AS weight
      |  FROM e GROUP BY doc_id, term
      |), q AS (
      |  SELECT * FROM (VALUES ('vector', 2.0), ('dup', 1.5), ('scan', 0.5))
      |    AS q(term, qw)
      |)
      |SELECT doc_id,
      |  row_number() OVER (ORDER BY sum(weight * qw) DESC, doc_id ASC) AS rank,
      |  sum(weight * qw) AS score
      |FROM p JOIN q USING (term) GROUP BY doc_id
      |ORDER BY rank LIMIT 15""".stripMargin

  private val percolateOracleSql: String = {
    import graft.expr.TextMatch.containsTokenSql
    s"""SELECT query_id, doc_id FROM (
       |  SELECT 'alert_dup' AS query_id, doc_id FROM documents
       |  WHERE ${containsTokenSql("text", "dup")}
       |  UNION ALL
       |  SELECT 'alert_vector_scan' AS query_id, doc_id FROM documents
       |  WHERE ${containsTokenSql("text", "vector scan")}
       |  UNION ALL
       |  SELECT 'alert_long_en' AS query_id, doc_id FROM documents
       |  WHERE ${containsTokenSql("lang", "en")} AND n_chars::DOUBLE >= 400
       |) ORDER BY query_id, doc_id""".stripMargin
  }

  /** SQ8 ADC retrieval restated end to end — shared by the from-scratch
    * form (`ann_sq8`) and the maintained-bounds twin
    * (`ann_sq8_incremental`, whose merged increments equal these bounds
    * exactly by min/max algebra): per-dim bounds from one corpus scan,
    * the same clamp(floor((v−mn)·(256/(mx−mn)))) codes, the same midpoint
    * dequant tree, the same sequential ADC dot.
    */
  private val annSq8OracleSql: String = {
    val dim = 64
    val bounds = (0 until dim).map(j =>
      s"min(v[${j + 1}]) AS mn$j, max(v[${j + 1}]) AS mx$j").mkString(", ")
    val dq = (0 until dim).map { j =>
      val code = s"least(greatest(floor((v[${j + 1}] - mn$j) * " +
        s"(256.0 / (mx$j - mn$j)))::INT, 0), 255)"
      s"CASE WHEN mx$j = mn$j THEN mn$j " +
        s"ELSE mn$j + ($code + 0.5) * ((mx$j - mn$j) / 256.0) END"
    }.mkString("list_value(", ", ", ")")
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |b AS (SELECT $bounds FROM e),
       |dqt AS (SELECT vec_id, $dq AS dq FROM e, b),
       |q AS (SELECT vec_id, v FROM e WHERE vec_id < 5),
       |scored AS (
       |  SELECT q.vec_id AS query_id, d.vec_id AS neighbor_id,
       |    list_inner_product(d.dq, q.v) AS score
       |  FROM dqt d, q WHERE d.vec_id <> q.vec_id
       |), ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |    ORDER BY score DESC, neighbor_id ASC) AS rank
       |  FROM scored
       |)
       |SELECT query_id, rank, neighbor_id, score FROM ranked
       |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin
  }

  /** One corpus-scan date histogram, shared by the scan form and the
    * hour-grain-rollup serving twin (coarsening commutes with the rollup).
    */
  private val dateHistogramOracleSql: String =
    """SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS bucket,
      |  count(*) AS count
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  /** Shared by the scan boxplot/MAD and their pair-rollup twins — the
    * weighted percentile's frequency argument is bit-identical to the
    * expanded-rows statistic, so one restatement certifies both.
    */
  private val boxplotOracleSql: String =
    """WITH q AS (
      |  SELECT event_type, count(*)::BIGINT AS count, min(value) AS min,
      |    quantile_cont(value, 0.25) AS q1, quantile_cont(value, 0.5) AS q2,
      |    quantile_cont(value, 0.75) AS q3, max(value) AS max
      |  FROM events WHERE value IS NOT NULL GROUP BY 1
      |), w AS (
      |  SELECT e.event_type,
      |    min(e.value) FILTER (WHERE e.value >= q.q1 - (q.q3 - q.q1) * 1.5)
      |      AS lower_whisker,
      |    max(e.value) FILTER (WHERE e.value <= q.q3 + (q.q3 - q.q1) * 1.5)
      |      AS upper_whisker
      |  FROM events e JOIN q ON e.event_type = q.event_type
      |  WHERE e.value IS NOT NULL GROUP BY 1
      |)
      |SELECT q.event_type, q.count, q.min, q.q1, q.q2, q.q3, q.max,
      |  w.lower_whisker, w.upper_whisker
      |FROM q JOIN w ON q.event_type = w.event_type
      |ORDER BY q.count DESC, q.event_type LIMIT 10""".stripMargin

  private val madOracleSql: String =
    """WITH m AS (
      |  SELECT event_type, count(*)::BIGINT AS count,
      |    quantile_cont(value, 0.5) AS med
      |  FROM events WHERE value IS NOT NULL GROUP BY 1
      |)
      |SELECT e.event_type, any_value(m.count) AS count,
      |  quantile_cont(abs(e.value - m.med), 0.5) AS mad
      |FROM events e JOIN m ON e.event_type = m.event_type
      |WHERE e.value IS NOT NULL
      |GROUP BY e.event_type
      |ORDER BY count DESC, e.event_type LIMIT 10""".stripMargin

  private val geoBoundsOracleSql: String =
    """WITH pts AS (
        |  SELECT c_mktsegment,
        |    (CASE WHEN (c_acctbal % 180) < 0 THEN (c_acctbal % 180) + 180
        |          ELSE (c_acctbal % 180) END) - 90 + CAST(0.001 AS DOUBLE) AS lat,
        |    ((c_custkey % 360) + 360) % 360 - 180 + CAST(0.001 AS DOUBLE) AS lon
        |  FROM customer
        |)
        |SELECT c_mktsegment, count(*)::BIGINT AS count,
        |  max(lat) AS top, min(lon) AS "left",
        |  min(lat) AS bottom, max(lon) AS "right"
        |FROM pts WHERE lat IS NOT NULL AND lon IS NOT NULL
        |GROUP BY 1 ORDER BY count DESC, c_mktsegment LIMIT 10""".stripMargin

  private val topMetricsOracleSql: String =
    """WITH r AS (
        |  SELECT event_type, ts, value,
        |    row_number() OVER (
        |      PARTITION BY event_type ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events WHERE ts IS NOT NULL
        |), c AS (
        |  SELECT event_type, count(*)::BIGINT AS count
        |  FROM events WHERE ts IS NOT NULL GROUP BY 1
        |)
        |SELECT r.event_type, c.count, r.ts AS top_sort, r.value AS top_metric
        |FROM r JOIN c ON r.event_type = c.event_type WHERE r.rn = 1
        |ORDER BY c.count DESC, r.event_type LIMIT 10""".stripMargin

  private val tTestOracleSql: String =
    """WITH s AS (
        |  SELECT
        |    sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)::BIGINT AS na,
        |    sum(CASE WHEN event_type = 'click'
        |        THEN floor(value * 100)::BIGINT ELSE 0 END)::BIGINT AS sa,
        |    sum(CASE WHEN event_type = 'click'
        |        THEN floor(value * 100)::BIGINT * floor(value * 100)::BIGINT
        |        ELSE 0 END)::BIGINT AS qa,
        |    sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT AS nb,
        |    sum(CASE WHEN event_type = 'purchase'
        |        THEN floor(value * 100)::BIGINT ELSE 0 END)::BIGINT AS sb,
        |    sum(CASE WHEN event_type = 'purchase'
        |        THEN floor(value * 100)::BIGINT * floor(value * 100)::BIGINT
        |        ELSE 0 END)::BIGINT AS qb
        |  FROM events WHERE value IS NOT NULL
        |)
        |SELECT na AS n_a, nb AS n_b,
        |  (sa / 100.0) / na AS mean_a, (sb / 100.0) / nb AS mean_b,
        |  (((sa / 100.0) / na) - ((sb / 100.0) / nb)) /
        |    sqrt((qa - sa::DOUBLE * sa / na) / (10000.0 * (na - 1.0)) / na
        |       + (qb - sb::DOUBLE * sb / nb) / (10000.0 * (nb - 1.0)) / nb) AS t,
        |  (((qa - sa::DOUBLE * sa / na) / (10000.0 * (na - 1.0)) / na
        |   + (qb - sb::DOUBLE * sb / nb) / (10000.0 * (nb - 1.0)) / nb)
        |   * ((qa - sa::DOUBLE * sa / na) / (10000.0 * (na - 1.0)) / na
        |   + (qb - sb::DOUBLE * sb / nb) / (10000.0 * (nb - 1.0)) / nb))
        |  / ((qa - sa::DOUBLE * sa / na) / (10000.0 * (na - 1.0)) / na
        |     * ((qa - sa::DOUBLE * sa / na) / (10000.0 * (na - 1.0)) / na)
        |     / (na - 1.0)
        |   + (qb - sb::DOUBLE * sb / nb) / (10000.0 * (nb - 1.0)) / nb
        |     * ((qb - sb::DOUBLE * sb / nb) / (10000.0 * (nb - 1.0)) / nb)
        |     / (nb - 1.0)) AS df
        |FROM s""".stripMargin

  /** The zoom-5 geotile grid: the g_geo_centroid pts pins + the
    * Aggs.geoTileXY Mercator tree restated operator-for-operator
    * (π/180 as ONE shared double — neither engine's radians(), whose
    * trees differ).
    */
  private val geoTileGrid5OracleSql: String =
    """WITH pts AS (
      |  SELECT
      |    (CASE WHEN (c_acctbal % 180) < 0 THEN (c_acctbal % 180) + 180
      |          ELSE (c_acctbal % 180) END) - 90 + CAST(0.001 AS DOUBLE) AS lat,
      |    ((c_custkey % 360) + 360) % 360 - 180 + CAST(0.001 AS DOUBLE) AS lon
      |  FROM customer
      |), idx AS (
      |  SELECT
      |    least(31, greatest(0,
      |      floor((lon + 180.0) / 360.0 * 32)::BIGINT)) AS tx,
      |    least(31, greatest(0,
      |      floor((1.0 - ln(tan(lat * (pi() / 180.0))
      |                      + 1.0 / cos(lat * (pi() / 180.0))) / pi())
      |            / 2.0 * 32)::BIGINT)) AS ty
      |  FROM pts WHERE lat IS NOT NULL AND lon IS NOT NULL
      |)
      |SELECT '5/' || tx || '/' || ty AS tile, count(*)::BIGINT AS count
      |FROM idx GROUP BY 1 ORDER BY count DESC, tile LIMIT 10""".stripMargin

  /** The auto_date_histogram chooser replayed in SQL: one aggregation
    * computes every grain cardinality, one CASE picks the finest grain
    * fitting the target, the histogram truncates at the winner.
    */
  private val autoDateHistogram100OracleSql: String =
    """WITH c AS (
      |  SELECT count(DISTINCT date_trunc('minute', ts)) AS cm,
      |         count(DISTINCT date_trunc('hour', ts)) AS ch,
      |         count(DISTINCT date_trunc('day', ts)) AS cd,
      |         count(DISTINCT date_trunc('month', ts)) AS cmo
      |  FROM events WHERE ts IS NOT NULL
      |), g AS (
      |  SELECT CASE WHEN cm <= 100 THEN 'minute' WHEN ch <= 100 THEN 'hour'
      |              WHEN cd <= 100 THEN 'day' WHEN cmo <= 100 THEN 'month'
      |              ELSE 'year' END AS grain FROM c
      |)
      |SELECT strftime(CASE g.grain
      |    WHEN 'minute' THEN date_trunc('minute', ts)
      |    WHEN 'hour' THEN date_trunc('hour', ts)
      |    WHEN 'day' THEN date_trunc('day', ts)
      |    WHEN 'month' THEN date_trunc('month', ts)
      |    ELSE date_trunc('year', ts) END, '%Y-%m-%d %H:%M:%S') AS bucket,
      |  count(*)::BIGINT AS count, g.grain AS grain
      |FROM events, g WHERE ts IS NOT NULL
      |GROUP BY 1, g.grain ORDER BY 1""".stripMargin

  /** Windowed point-in-time assembly restated once — shared verbatim by
    * `join_rolling_features` and its time-chunked execution twin.
    */
  private val rollingFeaturesOracle: String =
    """WITH b AS (
      |  SELECT event_id, user_id, epoch_ms(ts) AS t,
      |    (event_type = 'click') AS a,
      |    (event_type = 'purchase') AS o,
      |    CASE WHEN event_type = 'purchase' THEN floor(value * 100)::BIGINT END AS v
      |  FROM events
      |), w AS (
      |  SELECT event_id, user_id, a,
      |    coalesce(sum(CASE WHEN o THEN 1 ELSE 0 END) OVER (
      |      PARTITION BY user_id ORDER BY t
      |      RANGE BETWEEN 604800000 PRECEDING AND 1 PRECEDING), 0)::BIGINT AS n_outcomes_past,
      |    coalesce(sum(v) OVER (
      |      PARTITION BY user_id ORDER BY t
      |      RANGE BETWEEN 604800000 PRECEDING AND 1 PRECEDING), 0)::BIGINT AS value_past,
      |    (coalesce(sum(CASE WHEN o THEN 1 ELSE 0 END) OVER (
      |      PARTITION BY user_id ORDER BY t
      |      RANGE BETWEEN 1 FOLLOWING AND 259200000 FOLLOWING), 0) > 0) AS converted
      |  FROM b
      |)
      |SELECT event_id, user_id, n_outcomes_past, value_past, converted
      |FROM w WHERE a ORDER BY event_id""".stripMargin

  private def ivfAssignCtesSql(nlist: Int, refineIters: Int = 0,
      trainPred: String = "TRUE"): String = {
    val u = ops.Sampling.hashUnitSql("vec_id", 42)
    // Cell assignment of source table `src` against centroid table
    // `centTable`, emitting sim/cellranked/assigned with `sfx`. The
    // refinement rounds assign the TRAINING set `et` (matching
    // kmeansCentroids, which refines over its — possibly trainCap-bounded —
    // training frame); the final serving assignment runs over the full
    // corpus `e` against the frozen result.
    def assignBlock(centTable: String, sfx: String, src: String): String =
      s"""sim$sfx AS (
         |  SELECT $src.vec_id, $src.v, $centTable.cell,
         |    list_inner_product($src.v, $centTable.cv)
         |      / (sqrt(list_inner_product($src.v, $src.v)) * sqrt(list_inner_product($centTable.cv, $centTable.cv))) AS ccos
         |  FROM $src, $centTable
         |), cellranked$sfx AS (
         |  SELECT *, row_number() OVER (PARTITION BY vec_id
         |    ORDER BY ccos DESC, cell ASC) AS r
         |  FROM sim$sfx
         |), assigned$sfx AS (
         |  SELECT vec_id, v, cell FROM cellranked$sfx WHERE r = 1
         |)""".stripMargin
    val init =
      s"""e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |et AS (SELECT * FROM e WHERE $trainPred),
         |cent_0 AS (
         |  SELECT row_number() OVER (ORDER BY u, vec_id) - 1 AS cell, v AS cv
         |  FROM (SELECT vec_id, v, $u AS u FROM et)
         |  ORDER BY u, vec_id LIMIT $nlist
         |)""".stripMargin
    // One k-means round: assign against cent_r, then the BIT-STABLE cell
    // mean — fold the cell's vectors in ascending-vec_id order
    // (`list_reduce(list(v ORDER BY vec_id), ...)`, left-associated exactly
    // like the engine's sorted `aggregate` fold in
    // [[graft.ops.Similarity.kmeansCentroids]]) — and divide once at the
    // end. Empty cells keep their previous centroid (the LEFT JOIN).
    val rounds = (0 until refineIters).map { r =>
      val sfx = s"_$r"
      val next = if (r == refineIters - 1) "cent" else s"cent_${r + 1}"
      s"""${assignBlock(s"cent_$r", sfx, "et")}, sums$sfx AS (
         |  SELECT cell, count(*) AS n,
         |    list_reduce(list(v ORDER BY vec_id),
         |      (a, b) -> list_transform(generate_series(1, len(a)), ii -> a[ii] + b[ii])) AS s
         |  FROM assigned$sfx GROUP BY cell
         |), $next AS (
         |  SELECT c.cell,
         |    CASE WHEN s.cell IS NULL THEN c.cv
         |         ELSE list_transform(s.s, x -> x / CAST(s.n AS DOUBLE)) END AS cv
         |  FROM cent_$r c LEFT JOIN sums$sfx s USING (cell)
         |)""".stripMargin
    }
    val centAlias =
      if (refineIters == 0) Seq("cent AS (SELECT * FROM cent_0)") else Nil
    (Seq(init) ++ rounds ++ centAlias ++ Seq(assignBlock("cent", "", "e"))).mkString(",\n")
  }

  /** The IVF-PQ pipeline in DuckDB (refineIters=0), continuing
    * [[ivfAssignCtesSql]]'s chain: `resid` (per-row RESIDUAL vs the row's
    * coarse centroid — elementwise IEEE subtraction, matching
    * [[graft.expr.VectorAlgo.sub]]), `pqinit` (residuals of the `ksub`
    * deterministic sample rows, [[graft.ops.Similarity.pqCodebooks]]'s
    * init), `cbsub` (their per-subspace slices = the codebooks),
    * `codes`/`codesw` (per-row per-subspace L2-argmin codes over residual
    * slices — `2·x·c − c·c` with `list_inner_product`, the exact fold
    * [[graft.expr.CellAlgo.nearestCellsL2]] computes), and an ADC score =
    * exact `q·centroid(cell)` term plus LUT terms summed sub-0-first (SQL
    * `+` is left-associative, matching the engine's left fold), ranked
    * like every ANN oracle here.
    */
  private def ivfPqSql(nlist: Int, nprobe: Int, m: Int, ksub: Int,
      dim: Int, k: Int, nQueries: Int, refineIters: Int = 0): String = {
    val dsub = dim / m
    val u = ops.Sampling.hashUnitSql("vec_id", 42)
    val cWide = (0 until m).map(s => s"max(CASE WHEN sub = $s THEN code END) AS c$s").mkString(",\n    ")
    val cbJoins = (0 until m).map(s =>
      s"JOIN cbsub s$s ON s$s.sub = $s AND s$s.code = c.c$s").mkString("\n  ")
    val adc = (0 until m).map { s =>
      s"list_inner_product(list_slice(c.qv, ${s * dsub + 1}, ${(s + 1) * dsub}), s$s.sv)"
    }.mkString("c.qc\n      + ", "\n      + ", "")
    // Per-row per-subspace L2-argmin codes against codebook table `cb`.
    def codesBlock(cb: String, sfx: String): String =
      s"""codes$sfx AS (
         |  SELECT vec_id, sub, code FROM (
         |    SELECT rr.vec_id, c.sub, c.code,
         |      row_number() OVER (PARTITION BY rr.vec_id, c.sub ORDER BY
         |        2 * list_inner_product(list_slice(rr.rv, c.sub * $dsub + 1, (c.sub + 1) * $dsub), c.sv)
         |          - list_inner_product(c.sv, c.sv) DESC, c.code ASC) AS rnk
         |    FROM resid rr, $cb c
         |  ) WHERE rnk = 1
         |)""".stripMargin
    // One PQ k-means round: codes against cbsub_r, then the bit-stable
    // per-(sub, code) mean of residual slices (ascending-vec_id left fold,
    // matching [[graft.ops.Similarity]]'s refineBooks); empty codes keep
    // their previous centroid.
    val pqRounds = (0 until refineIters).map { r =>
      val sfx = s"_$r"
      val next = if (r == refineIters - 1) "cbsub" else s"cbsub_${r + 1}"
      s"""${codesBlock(s"cbsub_$r", sfx)}, csums$sfx AS (
         |  SELECT cd.sub, cd.code, count(*) AS n,
         |    list_reduce(
         |      list(list_slice(rr.rv, cd.sub * $dsub + 1, (cd.sub + 1) * $dsub)
         |        ORDER BY cd.vec_id),
         |      (a, b) -> list_transform(generate_series(1, len(a)), ii -> a[ii] + b[ii])) AS s
         |  FROM codes$sfx cd JOIN resid rr ON rr.vec_id = cd.vec_id
         |  GROUP BY cd.sub, cd.code
         |), $next AS (
         |  SELECT b.sub, b.code,
         |    CASE WHEN s.code IS NULL THEN b.sv
         |         ELSE list_transform(s.s, x -> x / CAST(s.n AS DOUBLE)) END AS sv
         |  FROM cbsub_$r b LEFT JOIN csums$sfx s ON s.sub = b.sub AND s.code = b.code
         |)""".stripMargin
    }
    val cbAlias =
      if (refineIters == 0) Seq("cbsub AS (SELECT * FROM cbsub_0)") else Nil
    val pqChain = (pqRounds ++ cbAlias ++ Seq(codesBlock("cbsub", ""))).mkString(",\n")
    s"""WITH ${ivfAssignCtesSql(nlist, refineIters)}, resid AS (
       |  SELECT a.vec_id, a.cell,
       |    list_transform(range(1, ${dim + 1}), i -> a.v[i] - ct.cv[i]) AS rv
       |  FROM assigned a JOIN cent ct ON a.cell = ct.cell
       |), pqinit AS (
       |  SELECT row_number() OVER (ORDER BY u, vec_id) - 1 AS code, rv AS v
       |  FROM (SELECT vec_id, rv, $u AS u FROM resid)
       |  ORDER BY u, vec_id LIMIT $ksub
       |), subs AS (
       |  SELECT unnest(range(0, $m)) AS sub
       |), cbsub_0 AS (
       |  SELECT s.sub, p.code, list_slice(p.v, s.sub * $dsub + 1, (s.sub + 1) * $dsub) AS sv
       |  FROM pqinit p, subs s
       |), $pqChain, codesw AS (
       |  SELECT vec_id,
       |    $cWide
       |  FROM codes GROUP BY vec_id
       |), qprobe AS (
       |  SELECT cr.vec_id AS query_id, cr.v AS qv, cr.cell,
       |    list_inner_product(cr.v, ct.cv) AS qc
       |  FROM cellranked cr JOIN cent ct ON cr.cell = ct.cell
       |  WHERE cr.r <= $nprobe AND cr.vec_id < $nQueries
       |), cand AS (
       |  SELECT q.query_id, q.qv, q.qc, a.vec_id AS neighbor_id,
       |    ${(0 until m).map(s => s"w.c$s").mkString(", ")}
       |  FROM assigned a
       |  JOIN qprobe q ON a.cell = q.cell
       |  JOIN codesw w ON w.vec_id = a.vec_id
       |  WHERE a.vec_id <> q.query_id
       |), scored AS (
       |  SELECT c.query_id, c.neighbor_id,
       |    $adc AS adc
       |  FROM cand c
       |  $cbJoins
       |), ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |    ORDER BY adc DESC, neighbor_id ASC) AS rank
       |  FROM scored
       |)
       |SELECT query_id, rank, neighbor_id, adc FROM ranked
       |WHERE rank <= $k ORDER BY query_id, rank""".stripMargin
  }

  /** [[ivfPqSql]] wrapped in an exact cosine re-rank of its top
    * `k × refineFactor` candidates — the oracle twin of
    * [[graft.ops.Similarity.ivfPqTopKRerank]]: same candidate pipeline as
    * a CTE, then the ann_bruteforce scoring shape over candidates only.
    */
  private def ivfPqRerankSql(nlist: Int, nprobe: Int, m: Int, ksub: Int,
      dim: Int, k: Int, nQueries: Int, refineFactor: Int,
      refineIters: Int = 0): String =
    s"""WITH cand AS (
       |${ivfPqSql(nlist, nprobe, m, ksub, dim, k * refineFactor, nQueries, refineIters)}
       |), e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |qv AS (SELECT * FROM e WHERE vec_id < $nQueries),
       |re AS (
       |  SELECT c.query_id, c.neighbor_id,
       |    list_inner_product(e.v, q.v)
       |      / (sqrt(list_inner_product(e.v, e.v)) * sqrt(list_inner_product(q.v, q.v))) AS cos
       |  FROM cand c
       |  JOIN e ON e.vec_id = c.neighbor_id
       |  JOIN qv q ON q.vec_id = c.query_id
       |), reranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |    ORDER BY cos DESC, neighbor_id ASC) AS rank
       |  FROM re
       |)
       |SELECT query_id, rank, neighbor_id, cos FROM reranked
       |WHERE rank <= $k ORDER BY query_id, rank""".stripMargin

  /** DuckDB mirror of one city's dictionary as the federated fetch sees it:
    * per-column stats over the harmonized relation, with the registry
    * metadata ([[graft.schema.HarmonizedSchema]]) inlined at oracle-build
    * time for known fields and [[Dictionary.inferUnknownVarTypes]]'s CASE
    * restated for unknown ones (text columns always infer `text` — their
    * mean is null — so only unknown numeric columns need the runtime CASE).
    */
  private def cityDictOracleSql(dataset: String): String = {
    def sqlLit(s: String) = "'" + s.replace("'", "''") + "'"
    val subs = cityPublishedCols(dataset).map { case (name, numeric) =>
      val meta = graft.schema.HarmonizedSchema.byName.get(name)
      val (group, descr, ui) = meta match {
        case Some(m) => (m.group, m.descr, if (m.uiFilter) "True" else "False")
        case None => ("dataset", "unknown", "True")
      }
      val q = "\"" + name + "\""
      val vtype = meta match {
        case Some(m) => sqlLit(m.varType.serialize)
        case None if !numeric => "'text'"
        case None =>
          val minD = s"TRY_CAST(min($q)::VARCHAR AS DOUBLE)"
          val maxD = s"TRY_CAST(max($q)::VARCHAR AS DOUBLE)"
          s"""CASE WHEN count($q) = 0 THEN 'text'
             |    WHEN count(DISTINCT $q) = 2 AND $minD = 0 AND $maxD = 1 THEN 'boolean'
             |    WHEN count(DISTINCT $q) > (1 + $maxD - $minD)
             |      THEN 'range,0,' || floor($maxD + 1)::BIGINT::VARCHAR || ',0.1'
             |    ELSE 'range,0,' || (floor(($maxD / 10) + 1) * 10)::BIGINT::VARCHAR || ',1'
             |    END""".stripMargin
      }
      s"""SELECT ${sqlLit(dataset)} AS dataset, ${sqlLit(name)} AS dict_field,
         |  ${sqlLit(group)} AS dict_vargroup, $vtype AS dict_vartype,
         |  ${sqlLit(descr)} AS dict_vardescr,
         |  min($q)::VARCHAR AS dict_min, max($q)::VARCHAR AS dict_max,
         |  count(DISTINCT $q)::BIGINT AS dict_countdistinct,
         |  ${sqlLit(ui)} AS dict_uifilter
         |FROM rel""".stripMargin
    }
    s"""SELECT * FROM (WITH rel AS (
       |${cityHarmonizedRelationSql(dataset)}
       |) ${subs.mkString(" UNION ALL ")})""".stripMargin
  }

  // ---------------------------------------------------------------------
  // The query registry (name -> (spark, sfDir) => DataFrame)
  // ---------------------------------------------------------------------

  /** Queries that serve from pinned caches (SURVEY §3.3) and therefore
    * measure a steady-state serving path: Bench primes each once untimed so
    * the timed passes don't charge the one-off cache build to whichever of
    * them happens to run first. Keyed on behavior, not the `_warm` name
    * suffix — the federated fetches and the map drilldown also serve from
    * the pinned federation/dictionary caches.
    */
  def warmServed: Set[String] =
    queries.keySet.filter(_.endsWith("_warm")) ++
      Set("dashboard_map_drilldown", "g7_typeahead_federated",
        "q8_dict_fetch_federated", "dashboard_refresh_preagg",
        "g7_typeahead_preagg")

  /** Deterministic total order for a (small) pair-list result WITHOUT a
    * global sort: `orderBy` range-partitions, and range partitioning
    * SAMPLES its child — re-executing the entire pair DAG (join + both
    * aggregate passes) a second time just to pick range bounds. Measured
    * on the 10× scale corpus that sampling pass doubled
    * `dedup_ngram_jaccard` end to end. A near-dup pair list is tiny (the
    * actual duplicates), so one exchange to a single partition plus a
    * local sort gives the same order with the expensive subtree executed
    * exactly once.
    */
  private def pairSorted(df: DataFrame): DataFrame =
    df.repartition(1).sortWithinPartitions("id_a", "id_b")

  /** A Map literal silently keeps the LAST entry on a duplicate key —
    * in a registry this long (325+ entries across 10k lines) a re-added
    * name would shadow the live query/oracle pair without any symptom
    * (a drafted duplicate of the round-14 g_categorize_text got one
    * entry deep before review caught it). Build from Seq and reject
    * duplicates loudly instead.
    */
  private[graft] def distinctByName[V](what: String, entries: Seq[(String, V)]): Map[String, V] = {
    val dups = entries.groupBy(_._1).filter(_._2.size > 1).keys
    require(dups.isEmpty,
      s"$what: duplicate keys would silently shadow: ${dups.mkString(", ")}")
    entries.toMap
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = distinctByName("queries", Seq(

    // ===== §2.3 aggregations / sorts (A1-A7, O1-O2) =====

    "q1_agg" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      load(dir, "lineitem")
        .where(col("l_shipdate") <= lit(java.sql.Timestamp.valueOf("1998-09-01 00:00:00")))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          round(sum(col("l_quantity")), 2).as("sum_qty"),
          round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc_price"),
          round(avg(col("l_quantity")), 4).as("avg_qty"),
          round(avg(col("l_discount")), 4).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    }),

    "a3_distinct" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      load(dir, "orders").select(col("o_orderpriority")).distinct()
        .where(col("o_orderpriority") =!= "")
        .orderBy("o_orderpriority")
    }),

    "a5_describe" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // df.describe() semantics, restated deterministically: count / mean /
      // stddev (sample) / min / max of two numeric columns.
      load(dir, "lineitem").agg(
        count(col("l_quantity")).as("count_quantity"),
        round(avg(col("l_quantity")), 4).as("mean_quantity"),
        round(stddev_samp(col("l_quantity")), 4).as("std_quantity"),
        round(min(col("l_quantity")), 2).as("min_quantity"),
        round(max(col("l_quantity")), 2).as("max_quantity"),
        count(col("l_extendedprice")).as("count_price"),
        round(avg(col("l_extendedprice")), 4).as("mean_price"),
        round(stddev_samp(col("l_extendedprice")), 4).as("std_price"),
        round(min(col("l_extendedprice")), 2).as("min_price"),
        round(max(col("l_extendedprice")), 2).as("max_price"))
    }),

    "a6_count_after_filter" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // F1/F2/A6: row counts before/after a cleaning filter, in one pass.
      load(dir, "customer").agg(
        count(lit(1)).as("loaded"),
        sum(when(col("c_acctbal") > 0, 1).otherwise(0)).cast("long").as("kept"),
        sum(when(col("c_acctbal") <= 0 || col("c_acctbal").isNull, 1).otherwise(0)).cast("long").as("deleted"))
    }),

    // ===== §2.2 projections / scalar transforms (P1-P12) on events =====

    "p_harmonize_events" -> ((s, dir) => {
      harmonizedEvents(s, dir)
        .select("event_id", "description", "year", "month", "day", "hour",
          "minute", "dayofweek", "city", "value")
        .orderBy("event_id")
    }),

    "p6_regex_extract" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // P6/P7/P8/P12 over string-rendered dates: extract M/D/YYYY parts,
      // zero-pad, reassemble a timestamp — the Baltimore datetime pipeline.
      val raw = load(dir, "orders")
        .withColumn("datestr", date_format(col("o_orderdate"), "M/d/yyyy"))
        .withColumn("timestr", lit("14:30:00"))
      val asm = raw
        .withColumn("month", Transforms.mdyMonth(col("datestr")))
        .withColumn("day", Transforms.mdyDay(col("datestr")))
        .withColumn("year", Transforms.mdyYear(col("datestr")))
        .withColumn("hour", Transforms.normalizeHour24(Transforms.timeHour(col("timestr"))))
        .withColumn("minute", Transforms.timeMinute(col("timestr")))
        .withColumn("datetime", Transforms.assembleDatetime(
          col("year"), col("month"), col("day"), col("hour"), col("minute")))
      Transforms.castDateParts(asm, Seq("year", "month", "day", "hour", "minute"))
        .select(col("o_orderkey"), col("year"), col("month"), col("day"),
          col("hour"), col("minute"),
          date_format(col("datetime"), "yyyy-MM-dd HH:mm:ss").as("datetime_str"))
        .orderBy("o_orderkey")
    }),

    // ===== §2.2/§2.3 the reference's own city pipelines (Recipe data) =====

    "s1_csv_scan" -> ((s, _) => {
      // S1: headered CSV, no inference — every column arrives a string.
      Sources.csvAllStrings(s, cityCsv("Baltimore"))
        .select(col("CrimeCode").as("crimecode"), col("CrimeDate").as("crimedate"),
          col("CrimeTime").as("crimetime"), col("Description").as("description"),
          col("Location 1").as("location1"))
        .orderBy("crimecode")
    }),

    "recipe_harmonize_baltimore" -> ((s, _) => {
      CityRecipes.baltimore.harmonize(Sources.csvAllStrings(s, cityCsv("Baltimore"))).df
        .select(col("crimecode"), col("description"), col("description_orig"),
          col("geolocation"), col("year"), col("month"), col("day"),
          col("hour"), col("minute"),
          date_format(col("datetime"), "yyyy-MM-dd HH:mm:ss").as("datetime_str"),
          col("dayofweek"), col("city"))
        .orderBy("crimecode")
    }),

    "recipe_harmonize_detroit" -> ((s, _) => {
      CityRecipes.detroit.harmonize(Sources.csvAllStrings(s, cityCsv("Detroit"))).df
        .select(col("crimeid"), col("description"), col("location"),
          col("geolocation"), col("year"), col("month"), col("day"),
          col("hour"), col("minute"),
          date_format(col("datetime"), "yyyy-MM-dd HH:mm:ss").as("datetime_str"),
          col("dayofweek"), col("city"))
        .orderBy("crimeid")
    }),

    "recipe_harmonize_losangeles" -> ((s, _) => {
      CityRecipes.losAngeles.harmonize(Sources.csvAllStrings(s, cityCsv("LosAngeles"))).df
        .select(col("crime_identifier"), col("description"), col("gang_related"),
          col("geolocation"), col("year"), col("month"), col("day"),
          col("hour"), col("minute"),
          date_format(col("datetime"), "yyyy-MM-dd HH:mm:ss").as("datetime_str"),
          col("dayofweek"), col("city"))
        .orderBy("crime_identifier")
    }),

    // ===== §2.4 search predicates (Q1-Q9) =====

    "q2_range_filter" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      val spec = FilterSpec.And(Seq(
        FilterSpec.NumericRange("l_quantity", 10, 20),
        FilterSpec.NumericRange("l_discount", 0.02, 0.06)))
      load(dir, "lineitem").where(spec.compile)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"), round(sum(col("l_extendedprice")), 2).as("revenue"))
        .orderBy("l_returnflag")
    }),

    "q3_enum_in" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      val spec = FilterSpec.EnumIn("o_orderpriority", Seq("1-URGENT", "2-HIGH"))
      load(dir, "orders").where(spec.compile)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("total"))
        .orderBy("o_orderstatus")
    }),

    "q4_bool_eq" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // Boolean field derived the way LA derives gang_related Y/N → 1/0.
      val li = load(dir, "lineitem")
        .withColumn("returned", when(col("l_returnflag") === "R", 1).otherwise(0))
      li.where(FilterSpec.BoolEq("returned", 1).compile)
        .groupBy("l_linestatus")
        .agg(count(lit(1)).as("n"))
        .orderBy("l_linestatus")
    }),

    "q5_datetime_range" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      val spec = FilterSpec.DateTimeRange("o_orderdate",
        java.sql.Timestamp.valueOf("1995-01-01 00:00:00").getTime,
        java.sql.Timestamp.valueOf("1996-12-31 23:59:59").getTime)
      load(dir, "orders").where(spec.compile)
        .groupBy(year(col("o_orderdate")).as("order_year"))
        .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("total"))
        .orderBy("order_year")
    }),

    "q6_phrase_prefix" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      val spec = FilterSpec.PhrasePrefix("p_name", "small wid")
      load(dir, "part").where(spec.compile)
        .select("p_partkey", "p_name")
        .orderBy("p_partkey")
    }),

    "q6_phrase_prefix_unicode" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // The ES standard-analyzer delta closed (round-12 "What's missing"
      // #2): UAX#29-flavored segmentation — medial apostrophes stay in
      // their token, Han/Hiragana emit unigrams, Katakana/Hangul runs —
      // so multilingual phrase-prefix behaves like Lucene's
      // StandardTokenizer. Oracled on the corpus (where ASCII and
      // Unicode analysis agree); the CJK/apostrophe divergence cases are
      // spec-pinned (TextMatchSpec) since the testdata is ASCII.
      load(dir, "documents")
        .where(graft.expr.TextMatch.phrasePrefixUnicode(col("text"), "spark mer"))
        .select("doc_id", "lang")
        .orderBy("doc_id")
    }),

    "q6_phrase_prefix_indexed" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // The at-rest dual-field index path (S7/S8 replacement): analyzed
      // companion column precomputed, query is a plain instr against it.
      val indexed = graft.store.SearchIndex.withAnalyzedColumns(
        load(dir, "part"), Seq("p_name"))
      indexed
        .where(graft.store.SearchIndex.phrasePrefixIndexed(col("p_name_split"), "small wid"))
        .select("p_partkey", "p_name")
        .orderBy("p_partkey")
    }),

    "search_bm25" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // Relevance-RANKED retrieval (the ES query-context `match` the
      // dual-field mapping exists for — esindex.py:70-97 / collections.js
      // :185-191 run match_phrase_prefix in query, i.e. scoring, context):
      // top-15 documents by BM25, where the one rare corpus term ('dup',
      // df ≈ 5%) dominates via idf over the two common terms. Unindexed
      // path: analyzes per row, computes corpus stats in-query.
      graft.query.Bm25.topKRaw(load(dir, "documents"), "doc_id", "text",
        "dup vector scan", k = 15)
    }),

    "q_match_bool_prefix" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // ES match_bool_prefix (search_as_you_type's bool_prefix mode — the
      // search bar mid-keystroke): 'vector' must appear as a whole token
      // ANYWHERE (the delta from contiguous match_phrase_prefix), 'sc'
      // matches as a token prefix (scan/screen/...). Pure composition of
      // proven nodes.
      val spec = graft.query.FilterSpec.matchBoolPrefix("text", "vector sc")
      load(dir, "documents").where(spec.compile)
        .groupBy("lang").agg(count(lit(1)).as("n"))
        .orderBy("lang")
    }),

    "q_geo_bounding_box" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // ES geo_bounding_box — the filter a Kibana map viewport sends on
      // every pan — over the synthetic customer coordinates (FIXTURES.md
      // §3), with the box CROSSING the antimeridian (left 150 > right
      // -120) to exercise the dateline disjunction. Pure comparisons:
      // oracle-exact, and the predicate pushes into the scan.
      val pts = load(dir, "customer")
        .withColumn("lat", pmod(col("c_acctbal"), lit(180)) - 90 + lit(0.001))
        .withColumn("lon", pmod(col("c_custkey"), lit(360)) - 180 + lit(0.001))
      val box = graft.query.FilterSpec.GeoBoundingBox("lat", "lon",
        top = 60.0, left = 150.0, bottom = -10.0, right = -120.0)
      pts.where(box.compile)
        .groupBy("c_mktsegment").agg(count(lit(1)).as("n"),
          sum(floor(col("lat") * 1000000).cast("long")).as("slat"))
        .orderBy("c_mktsegment")
    }),

    "q_geo_distance_filter" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // ES geo_distance QUERY (filter context — "within 3000 km of the
      // pin", the map's radius filter; g_geo_distance is the RING AGG
      // twin) via the pinned haversine tree. The binary include/exclude
      // is libm-stable at this fixture: min |km − 3000| over the corpus
      // is 2.35 km at sf0.01 / 4.07 km at sf0.1 (margin asserted in
      // FilterSpecSpec), ~12 orders above the ≤1-ulp trig drift.
      val pts = load(dir, "customer")
        .withColumn("lat", pmod(col("c_acctbal"), lit(180)) - 90 + lit(0.001))
        .withColumn("lon", pmod(col("c_custkey"), lit(360)) - 180 + lit(0.001))
      val near = graft.query.FilterSpec.GeoDistance("lat", "lon",
        originLat = 10.0, originLon = 20.0, radiusKm = 3000.0)
      pts.where(near.compile)
        .groupBy("c_mktsegment").agg(count(lit(1)).as("n"),
          sum(floor(col("lat") * 1000000).cast("long")).as("slat"))
        .orderBy("c_mktsegment")
    }),

    "q_geo_shape_polygon" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // ES geo_shape with a CONCAVE polygon (a notched square — the
      // even-odd rule's reason to exist) over the synthetic customer
      // coordinates: 255 of 1,500 customers inside at sf0.01. Ray
      // casting is pure +,-,*,/ — no libm, so unlike the geo_distance
      // twin the oracle is bit-exact with no fixture margin.
      val pts = load(dir, "customer")
        .withColumn("lat", pmod(col("c_acctbal"), lit(180)) - 90 + lit(0.001))
        .withColumn("lon", pmod(col("c_custkey"), lit(360)) - 180 + lit(0.001))
      val poly = graft.query.FilterSpec.GeoPolygon("lat", "lon", Seq(
        (-60.0, -150.0), (60.0, -150.0), (60.0, -30.0), (-60.0, -30.0),
        (0.0, -90.0)))
      pts.where(poly.compile)
        .select("c_custkey", "c_mktsegment")
        .orderBy("c_custkey")
    }),

    "q_intervals_not_containing" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // ES intervals filter, the famous form: 'spark ... scan' within 5
      // gaps with NO 'vector' inside the matched window (126 docs match
      // the bare gapped source at sf0.01; 121 have a vector-free
      // interval). Bound position lists, forall non-containment at the
      // chain leaf.
      val spec = graft.query.FilterSpec.IntervalsFiltered("text",
        phrase = "spark scan", maxGaps = 5,
        rule = "not_containing", filterPhrase = "vector")
      load(dir, "documents").where(spec.compile)
        .select("doc_id", "lang")
        .orderBy("doc_id")
    }),

    "q_intervals_containing" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // The positive dual: some 'spark ... scan' window (<= 5 gaps) DOES
      // contain 'vector' (10 docs at sf0.01) — the filter phrase joins
      // the codegen'd substring guard, so non-candidates never reach the
      // position work.
      val spec = graft.query.FilterSpec.IntervalsFiltered("text",
        phrase = "spark scan", maxGaps = 5,
        rule = "containing", filterPhrase = "vector")
      load(dir, "documents").where(spec.compile)
        .select("doc_id", "lang")
        .orderBy("doc_id")
    }),

    "q_span_first" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // Lucene span_first: 'spark' ending within the first 6 positions —
      // the lead-paragraph/title-prefix match (88 of 500 docs at sf0.01
      // vs 384 with 'spark' anywhere). Same bound-position machinery as
      // span_near, substring-guarded.
      val spec = graft.query.FilterSpec.SpanFirst("text", "spark", end = 6)
      load(dir, "documents").where(spec.compile)
        .select("doc_id", "lang")
        .orderBy("doc_id")
    }),

    "q_span_not" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // Lucene span_not: a 'scan' occurrence NOT inside 'vector scan' —
      // the classic exclude-the-longer-phrase query (7 docs at sf0.01
      // have scan ONLY as part of 'vector scan' and drop out). exists
      // over bound include starts, forall non-overlap over bound exclude
      // starts.
      val spec = graft.query.FilterSpec.SpanNot("text",
        include = "scan", exclude = "vector scan")
      load(dir, "documents").where(spec.compile)
        .select("doc_id", "lang")
        .orderBy("doc_id")
    }),

    "q_span_within" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // Lucene span_within: a 'key' occurrence INSIDE a span_near(scan,
      // table, slop=3, unordered) window — the "term in context" query.
      // Plain conjunction keeps 261 of 500 docs at sf0.01; the enclosure
      // keeps 8 (3 with inOrder=true — the flag certified in
      // ProximitySemanticsSpec). Same bound-position machinery as
      // span_not: substring guards lead, one nested exists chain carries
      // the window bounds, row-local.
      val spec = graft.query.FilterSpec.SpanWithin("text",
        little = "key", big = Seq("scan", "table"), slop = 3)
      load(dir, "documents").where(spec.compile)
        .select("doc_id", "lang")
        .orderBy("doc_id")
    }),

    "q_intervals_pattern" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // ES intervals with PREDICATE sources: a token starting with 'sca'
      // followed (ordered) by a token within one Damerau edit of 'tabel'
      // — prefix + fuzzy rules composed under all_of, max_gaps 3 (104 of
      // 500 docs at sf0.01). Width-1 sources ride the span gap algebra
      // directly (no minimal-interval machinery); certified against the
      // brute-force evaluator in ProximitySemanticsSpec.
      import graft.query.FilterSpec.IntervalSource.{Fuzzy, Prefix}
      val spec = graft.query.FilterSpec.IntervalsPattern("text",
        Seq(Prefix("sca"), Fuzzy("tabel", 1)), maxGaps = 3)
      load(dir, "documents").where(spec.compile)
        .select("doc_id", "lang")
        .orderBy("doc_id")
    }),

    "q_nested_query" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // ES nested query vs the object-mapping default, side by side: an
      // order matches NESTED when one line item has BOTH quantity >= 45
      // and discount >= 0.08 (same element); the flattened OBJECT mapping
      // cross-matches different items and reports ~2.3x the orders — the
      // false-positive class the nested field type exists to kill. One
      // collect_list hash aggregate (bounded by items-per-order) + one
      // keyed join; both predicates are row-local exists HOFs.
      val items = graft.query.NestedDocs.nest(
        load(dir, "lineitem"), "l_orderkey",
        Seq("l_quantity", "l_discount"))
      val hit = (it: Column) =>
        it("l_quantity") >= 45 && it("l_discount") >= 0.08
      val flagged = items.select(col("l_orderkey"),
        graft.query.NestedDocs.nestedMatch(col("items"), hit).as("_nested"),
        graft.query.NestedDocs.objectMatch(col("items"), Seq(
          it => it("l_quantity") >= 45,
          it => it("l_discount") >= 0.08)).as("_object"))
      load(dir, "orders")
        .join(flagged, col("o_orderkey") === col("l_orderkey"), "left")
        .groupBy("o_orderpriority")
        .agg(
          sum(when(coalesce(col("_nested"), lit(false)), 1).otherwise(0)).as("n_nested"),
          sum(when(coalesce(col("_object"), lit(false)), 1).otherwise(0)).as("n_object"))
        .orderBy("o_orderpriority")
    }),

    "g_nested_agg" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // ES nested aggregation + reverse_nested in one pass — the agg
      // pair SURVEY §2.7 originally declared out of scope on the flat
      // schema; NestedDocs.nest changed the premise. The ENGINE path
      // buckets the nested-doc ARRAYS (one bounded explode + one hash
      // agg: child doc_count per l_returnflag bucket AND the
      // reverse_nested distinct-parent count); the oracle restates over
      // the flat child table the nest provably round-trips to.
      val items = graft.query.NestedDocs.nest(
        load(dir, "lineitem"), "l_orderkey",
        Seq("l_returnflag", "l_quantity"))
      graft.query.NestedDocs.nestedAgg(items, "l_orderkey", "items",
          it => it("l_returnflag"), as = "key")
        .orderBy("key")
    }),

    "q_has_child" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // ES has_child over the join-field pair orders/lineitem: orders
      // with AT LEAST TWO line items of quantity >= 49 (min_children=2
      // makes the count bound do real work: 165 parents at sf0.01 vs
      // 2,198 with the default at-least-one). Filtered children -> one
      // partial+final hash agg on the parent key -> left-semi join; at
      // the default bounds the agg disappears entirely (JoinFieldSpec
      // pins the agg-free plan).
      graft.query.JoinField.hasChild(
          load(dir, "orders"), load(dir, "lineitem"),
          "o_orderkey", "l_orderkey",
          col("l_quantity") >= 49, minChildren = 2)
        .select("o_orderkey", "o_orderpriority")
        .orderBy("o_orderkey")
    }),

    "q_has_child_scored" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // has_child score_mode=sum: parents ranked by their matching
      // children's folded scores (child score = floor(extendedprice) —
      // integral doubles, so the distributed sum is fold-order exact
      // and the oracle bit-matches without rounding). Same exchange
      // profile as the count-bounded has_child: one partial+final agg
      // on the parent key + one join.
      graft.query.JoinField.hasChildScored(
          load(dir, "orders"), load(dir, "lineitem"),
          "o_orderkey", "l_orderkey",
          col("l_quantity") >= 40, floor(col("l_extendedprice")),
          scoreMode = "sum")
        .select(col("o_orderkey"), col("_score").cast("long").as("score"))
        .orderBy(desc("score"), asc("o_orderkey"))
        .limit(20)
    }),

    "q_parent_id" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // ES parent_id: children of ONE named parent — a literal filter the
      // scan pushes down (PushedFilters; bucketed/partitioned children
      // prune to one bucket). Registered so the join-field family's
      // oracle coverage is complete, not because it needs machinery.
      graft.query.JoinField.parentId(
          load(dir, "lineitem"), "l_orderkey", lit(7L))
        .select("l_orderkey", "l_linenumber", "l_quantity")
        .orderBy("l_linenumber")
    }),

    "q_has_parent" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // ES has_parent: line items of urgent, high-value orders — one
      // left-semi join of children against the filtered parents' keys
      // (selective parent side -> AQE broadcasts it; the 60k-row child
      // scan never shuffles).
      graft.query.JoinField.hasParent(
          load(dir, "orders"), load(dir, "lineitem"),
          "o_orderkey", "l_orderkey",
          col("o_orderpriority") === "1-URGENT" && col("o_totalprice") >= 250000)
        .select("l_orderkey", "l_linenumber")
        .orderBy("l_orderkey", "l_linenumber")
    }),

    "g_children_agg" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // ES children aggregation: order-priority buckets stepping down to
      // child metrics (line-item doc_count + summed quantity — integral
      // doubles, so the sum is fold-order exact). One projected join on
      // the parent key + one hash agg.
      graft.query.JoinField.childrenAgg(
          load(dir, "orders"), load(dir, "lineitem"),
          "o_orderkey", "l_orderkey", "o_orderpriority",
          Seq(sum(col("l_quantity")).cast("long").as("sum_qty")))
        .orderBy("key")
    }),

    "g_frequent_item_sets" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // ES frequent_item_sets: closed itemsets of co-occurring operator
      // terms per document (a 12-word basket keeps the oracle's
      // level-joins polynomial and the lattice honest: 505 frequent sets
      // up to size 4 at sf0.01, support 0.45; the sf0.001 smoke corpus
      // reaches size 5). Level-wise Apriori — one broadcast equi-join +
      // two-phase count per level, driver-bounded candidates;
      // maxSetSize=6 raises loudly if the family outgrows
      // the oracle's enumerated levels instead of truncating. The
      // minCount fold shares the float guard ceil(sup·N − 1e-9) with the
      // oracle (0.45·500 = 225.00000000000003 in IEEE — a bare ceil
      // would demand 226 docs).
      val basket = Seq("scan", "join", "hash", "merge", "sort", "filter",
        "agg", "batch", "window", "index", "table", "key")
      val items = array_intersect(
        split(trim(graft.expr.TextMatch.normalized(col("text"))), " "),
        array(basket.map(lit): _*))
      graft.query.Aggs.frequentItemSets(
        load(dir, "documents").select(col("doc_id"), items.as("items")),
        col("doc_id"), col("items"),
        minSupport = 0.45, minSetSize = 2, size = 10, maxSetSize = 6)
    }),

    "q_rank_feature" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // ES rank_feature query — the static quality/popularity boost
      // (pagerank, url_length) in a bool.should: saturation + log
      // functions summed, ES's additive should-clause scoring. Pure
      // division + correctly-rounded ln — oracle-exact row-local trees,
      // lexicographic tie-break (scores collide across equal n_chars).
      val score =
        query.Scoring.rankFeatureSaturation(col("n_chars"), pivot = 250.0,
          boost = 2.0) +
        query.Scoring.rankFeatureLog(col("n_chars"), scalingFactor = 0.1)
      load(dir, "documents").select(col("doc_id"), score.as("score"))
        .orderBy(desc("score"), asc("doc_id"))
        .limit(30)
    }),

    "q_distance_feature" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // ES distance_feature query — recency boosting on a date field:
      // boost·pivot/(pivot + |ts − origin|) on epoch-µs integers
      // (exact doubles < 2^53; the division is the only rounding step,
      // identically rounded in both engines). Origin mid-corpus
      // (2024-01-15), pivot 3 days.
      val score = query.Scoring.distanceFeature(
        unix_micros(col("ts")).cast("double"),
        origin = 1705276800000000.0, pivot = 259200000000.0, boost = 2.0)
      loadEvents(dir).select(col("event_id"), score.as("score"))
        .orderBy(desc("score"), asc("event_id"))
        .limit(25)
    }),

    "search_highlight_fragments" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // ES fragment highlighting (fragment_size/number_of_fragments)
      // under the deterministic fixed-window contract (documented delta
      // from the unified highlighter's passage breaker): 60-char windows
      // ranked by match count, best 2 returned score-then-offset with
      // matches wrapped. Row-local; docs with no matching window drop
      // (posexplode of an empty array emits no rows). One row per
      // (doc, frag_rank) — scalar columns only: the round-15 array-typed
      // `fragments` column crashed the driver's pandas comparator
      // (unhashable ndarray), the search_explain explode precedent.
      val frags = graft.expr.TextMatch.highlightFragments(
        col("text"), "dup vector", fragmentSize = 60, numberOfFragments = 2)
      load(dir, "documents")
        .select(col("doc_id"), posexplode(frags).as(Seq("frag_rank", "fragment")))
        .orderBy("doc_id", "frag_rank")
    }),

    "search_explain" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // ES _explain — the relevance-debugging surface: the BM25 top-5
      // exploded into one row per (doc, query term) with the full score
      // decomposition (tf, df, idf, dl, per-term contribution, doc
      // total) — every value the same fixed IEEE tree the retrieval
      // computes, restated branch-for-branch in the oracle.
      val docs = load(dir, "documents")
      graft.query.Bm25.explainTopK(docs, "doc_id",
        concat(lit(" "), graft.expr.TextMatch.normalized(col("text")), lit(" ")),
        "dup vector scan", k = 5)
    }),

    "search_term_vectors" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // ES _termvectors: per-(doc, term) frequency + sorted 0-based
      // positions over the analyzed text — the index-introspection API of
      // the dual-field mapping's analyzed view. A 12-doc page (the
      // API is per-document; a bounded id range stands in for the
      // request's doc list). Positions render comma-joined (the
      // comparator-safe scalar twin of the array column that crashed the
      // round-15 pandas comparator).
      graft.query.TermVectors.termVectorsFlat(
          load(dir, "documents").where(col("doc_id") < 12), "doc_id", "text")
        .orderBy("doc_id", "term")
    }),

    "search_bm25_boosted" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // query_string boosts on the SCORING path: `vector^2 dup scan^0.5`
      // compiles to per-term BM25 weight multipliers (the real Lucene
      // boost meaning) through the same QueryString.boostedTerms →
      // Bm25.scoredAllBoosted chain the /search route serves — the
      // common term 'vector' doubled outweighs the rare 'dup''s idf
      // advantage for multi-occurrence docs, 'scan' half-weighted. The
      // filter path keeps its loud boost rejection.
      val docs = load(dir, "documents")
      val termBoosts = graft.query.QueryString.boostedTerms("vector^2 dup scan^0.5")
      graft.query.Bm25.topKBoosted(docs, "doc_id",
        concat(lit(" "), graft.expr.TextMatch.normalized(col("text")), lit(" ")),
        termBoosts, k = 15)
    }),

    "search_bm25_indexed" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // The at-rest serving shape: scores run against the stored `_split`
      // analyzed companion with corpus statistics precomputed once (per-
      // index constants at 100 TB) — retrieval is then a single scan +
      // 1-row broadcast + partial top-k.
      val indexed = graft.store.SearchIndex.withAnalyzedColumns(
        load(dir, "documents"), Seq("text"))
      val terms = graft.query.Bm25.queryTerms("dup vector scan")
      val stats = graft.query.Bm25.corpusStats(indexed, col("text_split"), terms)
      graft.query.Bm25.topK(indexed, "doc_id", col("text_split"),
        "dup vector scan", k = 15, stats = Some(stats))
    }),

    "search_bm25_incremental" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // Index-maintenance contract, demonstrated: corpus statistics built
      // per ingest batch (here: the two doc_id parity halves) and MERGED —
      // integer sums, so the merge is exact and the scores hash-match the
      // whole-corpus search_bm25. At 100 TB this is the difference between
      // re-scanning the corpus per ingest and adding two 1-row frames.
      import graft.query.Bm25
      val indexed = graft.store.SearchIndex.withAnalyzedColumns(
        load(dir, "documents"), Seq("text"))
      val terms = Bm25.queryTerms("dup vector scan")
      val halves = Seq(
        indexed.where(col("doc_id") % 2 === 0),
        indexed.where(col("doc_id") % 2 === 1))
      val stats = Bm25.mergeStats(
        halves.map(h => Bm25.corpusStats(h, col("text_split"), terms)))
      Bm25.topK(indexed, "doc_id", col("text_split"),
        "dup vector scan", k = 15, stats = Some(stats))
    }),

    "search_bm25_phrase" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // Scored PHRASE retrieval (ES match_phrase in query context): the
      // sequence "batch batch" — self-overlapping, so the kernel's
      // first-token stepping is what the oracle's toks[i:i+1] = [...] count
      // must match exactly. Indexed path over the stored analyzed column.
      val indexed = graft.store.SearchIndex.withAnalyzedColumns(
        load(dir, "documents"), Seq("text"))
      graft.query.Bm25.topKPhrase(indexed, "doc_id", col("text_split"),
        "batch batch", k = 15)
    }),

    "q7_conjunction" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      val spec = FilterSpec.conjunction(Seq(
        FilterSpec.NumericRange("o_totalprice", 50000, 200000),
        FilterSpec.EnumIn("o_orderstatus", Seq("F", "O")),
        FilterSpec.DateTimeRange("o_orderdate",
          java.sql.Timestamp.valueOf("1993-01-01 00:00:00").getTime,
          java.sql.Timestamp.valueOf("1997-12-31 00:00:00").getTime)))
      load(dir, "orders").where(spec.compile)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"))
        .orderBy("o_orderpriority")
    }),

    // ===== query_string — the Kibana search bar (round-13 fifth batch) =====

    "q_query_string" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // The search-bar composite: field term + analyzed prefix + exact
      // phrase under full boolean algebra — the grammar every reference
      // dashboard ships in its searchSourceJSON (analyze_wildcard: true,
      // kibana-exported-visualizations.json).
      val spec = graft.query.QueryString.parse(
        """lang:en AND (text:dup* OR text:"vector scan") AND NOT source:src1*""",
        defaultField = "text")
      load(dir, "documents").where(spec.compile)
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")
    }),

    "q_query_string_default" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // Bare clauses hit the default field and adjacency is the default
      // operator OR — Lucene's default_operator, exactly what a user
      // typing two words into the search bar gets.
      val spec = graft.query.QueryString.parse(
        """dup "big vector"""", defaultField = "text")
      load(dir, "documents").where(spec.compile)
        .agg(count(lit(1)).as("n"))
    }),

    "q_query_string_analytics" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // exists + half-open range + NOT over the events stream: the
      // webapp's own `dict_field:*` exists idiom (collections.js:79)
      // against a derived nullable (view rows carry no conversion type —
      // the g_missing construction).
      val spec = graft.query.QueryString.parse(
        "conv_type:* AND value:[10 TO 50} AND NOT event_type:error",
        defaultField = "event_type")
      loadEvents(dir)
        .withColumn("conv_type", expr("nullif(event_type, 'view')"))
        .where(spec.compile)
        .groupBy("event_type").agg(count(lit(1)).as("n"))
        .orderBy("event_type")
    }),

    "q_query_string_escaped" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // `\`-escapes (round-13 verdict #6): reserved characters queried
      // LITERALLY — `key\-agg` is the hyphenated term (not a MUST_NOT
      // operator), `big\ vector` a term with a literal space (not two
      // clauses). Both reach the analyzer whole, which folds them to
      // contiguous-token containment — ES's analyzed match of the same
      // user input.
      val spec = graft.query.QueryString.parse(
        """text:key\-agg OR text:big\ vector""", defaultField = "text")
      load(dir, "documents").where(spec.compile)
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")
    }),

    "q_query_string_ops" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // Lucene `+`/`-` occurrence prefixes (round-13 verdict #6): with no
      // MUST present, the SHOULD clause still constrains (≥ 1 must
      // match) and the MUST_NOT excludes — `dup* -source:src1*` filters
      // to prefix(dup) AND NOT prefix(src1), the Kibana-habituated
      // user's exclusion idiom.
      val spec = graft.query.QueryString.parse(
        """text:dup* -source:src1*""", defaultField = "text")
      load(dir, "documents").where(spec.compile)
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")
    }),

    "q_fuzzy_match" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // ES fuzzy query through the search bar: `dupe~1` reaches the
      // corpus term 'dup' at one edit. Scan form: per-row bounded
      // levenshtein over analyzed tokens (classic distance — documented
      // transpositions:false delta, Spark and DuckDB share it).
      val spec = graft.query.QueryString.parse(
        "text:dupe~1", defaultField = "text")
      load(dir, "documents").where(spec.compile)
        .select("doc_id", "lang")
        .orderBy("doc_id")
    }),

    "q_fuzzy_match_indexed" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // The 100 TB serve path: SymSpell deletion-neighborhood index over
      // the vocabulary (Heaps-law-sized), probe + exact verify + one
      // corpus semi-join — provably the scan twin's result set, so the
      // oracle is shared.
      graft.query.Fuzzy.fuzzyDocs(
          load(dir, "documents"), "text", "dupe", maxEdits = 1)
        .select("doc_id", "lang")
        .orderBy("doc_id")
    }),

    "q_fuzzy_match_damerau" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // ES's DEFAULT fuzziness counts a transposition as ONE edit:
      // 'tbale'~1 reaches 'table' under Damerau (swap) where classic
      // Levenshtein needs 2 — the transpositions delta, closed by the
      // codegen'd full DL expression (DuckDB's damerau_levenshtein is
      // the same unrestricted variant).
      load(dir, "documents")
        .where(graft.query.FilterSpec.FuzzyTerm(
          "text", "tbale", maxEdits = 1, transpositions = true).compile)
        .select("doc_id", "lang")
        .orderBy("doc_id")
    }),

    "q_phrase_slop" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // Sloppy phrase via the search bar: tokens in order within slop
      // extra positions (ordered form — documented delta vs Lucene's
      // transposition-tolerant moves metric). Positions and the chain
      // check are higher-order Column algebra — no UDF, row-local.
      val spec = graft.query.QueryString.parse(
        """text:"spark scan"~2""", defaultField = "text")
      load(dir, "documents").where(spec.compile)
        .select("doc_id", "lang")
        .orderBy("doc_id")
    }),

    "q_span_near" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // Lucene/ES span_near, ANY order (in_order: false) — the span
      // family's typable grammar form `~nearN`: all three terms at
      // pairwise-distinct positions inside a window of total gap budget
      // 4, in any arrangement. 266 sf0.01 docs contain all three terms;
      // the window cuts that to 64 — the slop is doing the work. Nested
      // higher-order exists over the row's own position lists: row-local,
      // no UDF, no join.
      val spec = graft.query.QueryString.parse(
        """text:"spark scan merge"~near4""", defaultField = "text")
      load(dir, "documents").where(spec.compile)
        .select("doc_id", "lang")
        .orderBy("doc_id")
    }),

    "q_intervals" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // ES intervals `match` with ordered + max_gaps (`~gapsN`): 'scan'
      // before 'spark' with at most 3 intervening positions — the
      // REVERSE of the corpus's dominant phrasing, so order matters (318
      // docs have both terms; 85 satisfy the ordered gap bound). Same
      // position-list machinery as span_near/phrase-slop.
      val spec = graft.query.QueryString.parse(
        """text:"scan spark"~gaps3""", defaultField = "text")
      load(dir, "documents").where(spec.compile)
        .select("doc_id", "lang")
        .orderBy("doc_id")
    }),

    "q_intervals_all_of" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // ES intervals all_of COMBINATION (ordered): each slot a nested
      // any_of of MIXED-LENGTH alternatives — ("spark" | "big vector")
      // then ("merge join" | "scan") — intervals strictly ordered and
      // non-overlapping with total gap budget 3 (94 sf0.01 docs; the
      // budget is doing real work: 61 at gaps 1, 146 at 6). One
      // occurrence interval chosen per slot via nested exists over the
      // row's own phrase-occurrence lists.
      val spec = graft.query.FilterSpec.IntervalsAllOf("text",
        Seq(Seq("spark", "big vector"), Seq("merge join", "scan")), maxGaps = 3)
      load(dir, "documents").where(spec.compile)
        .select("doc_id", "lang")
        .orderBy("doc_id")
    }),

    "q_intervals_all_of_any" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // ES intervals all_of with ordered: false (round-15 "decide
      // unordered" — implemented on the exact domain): Lucene's
      // unordered source — any arrangement, overlaps allowed, gaps =
      // enclosing width − Σ chosen widths ≤ 2 — over uniform-width
      // slots ("spark") + ("batch scan"), where the exists-a-choice
      // evaluation equals Lucene's minimal-interval enumeration
      // (IntervalsAllOf scaladoc). The flag does real work at the
      // fixture: 10 sf0.01 docs vs 3 for the ordered twin of the same
      // slots (reversed arrangements join here).
      val spec = graft.query.FilterSpec.IntervalsAllOf("text",
        Seq(Seq("spark"), Seq("batch scan")), maxGaps = 2, ordered = false)
      load(dir, "documents").where(spec.compile)
        .select("doc_id", "lang")
        .orderBy("doc_id")
    }),

    "q_intervals_all_of_mixed" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // ES intervals all_of unordered over MIXED-length slots (round-16
      // verdict #7 — the formerly-rejected domain): ("scan" |
      // "batch scan") then ("merge"), gap budget 0, any arrangement.
      // Evaluated per the minimal-interval algebra (IntervalsAllOf
      // scaladoc: per-slot OR-minimization — every "batch scan"
      // occurrence contains a "scan", so the wide alternative never
      // serves — then combine-minimal candidate windows). The algebra
      // does real work at this fixture: 49 sf0.01 docs vs 51 under the
      // naive exists-a-choice evaluation whose over-match the old
      // loud reject pinned (58 vs 59 at sf0.001, 515 vs 522 at sf0.1).
      // Certified against an independent brute-force evaluator in
      // ProximitySemanticsSpec; the oracle restates the same algebra in
      // SQL (1-based positions — window arithmetic is base-invariant).
      val spec = graft.query.FilterSpec.IntervalsAllOf("text",
        Seq(Seq("scan", "batch scan"), Seq("merge")), maxGaps = 0,
        ordered = false)
      load(dir, "documents").where(spec.compile)
        .select("doc_id", "lang")
        .orderBy("doc_id")
    }),

    "q_wildcard" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // ES term-level wildcard (embedded ? defeats analyze_wildcard's
      // prefix fast path): raw keyword field, LIKE-translated — both
      // engines share the operator.
      val spec = graft.query.QueryString.parse(
        "source:s?c1*", defaultField = "text")
      load(dir, "documents").where(spec.compile)
        .groupBy("source").agg(count(lit(1)).as("n"))
        .orderBy("source")
    }),

    "q_regexp" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // ES/Lucene regexp query through the search bar — `field:/pattern/`,
      // implicitly anchored full-value match over the raw keyword field,
      // in the RE2-compatible dialect both engines share.
      val spec = graft.query.QueryString.parse(
        "source:/src1[0-9]/ OR source:/s[0-9]/", defaultField = "text")
      load(dir, "documents").where(spec.compile)
        .groupBy("source").agg(count(lit(1)).as("n"))
        .orderBy("source")
    }),

    "q_percolate" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // ES percolator — search reversed (the Kibana-alerting machinery):
      // stored queries are user-authored query_string TEXT, compiled by
      // the parser, all evaluated in ONE codegen'd corpus scan. Long
      // form: one (query_id, doc_id) row per match.
      val stored = graft.query.Percolator.fromStrings(Seq(
        "alert_dup" -> "text:dup",
        "alert_vector_scan" -> """text:"vector scan"""",
        "alert_long_en" -> "lang:en AND n_chars:[400 TO *]"),
        defaultField = "text")
      graft.query.Percolator.percolateLong(load(dir, "documents"), "doc_id", stored)
        .orderBy("query_id", "doc_id")
    }),

    "stream_percolate" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      import spark.implicits._
      // The alerting deployment end-to-end (round-13 verdict #8): stored
      // queries live AT REST as rows (queries-are-data, the webapp's
      // dictionary-driven philosophy) and are compiled at plan-build time;
      // each arriving micro-batch percolates against the compiled set and
      // APPENDS its (query_id, doc_id) alert increment — epoch 0 appended
      // twice, the at-least-once replay the alert-table dedup must absorb.
      // The deduped union of increments must equal the one-shot
      // percolation: stream_percolate SHARES q_percolate's oracle. The
      // true streaming path drives the identical row-local plan through
      // MemoryStream (PercolatorSpec).
      val storedPath = s"/tmp/graft_percolate_stored_${math.abs(dir.hashCode)}"
      Seq(
        ("alert_dup", "text:dup"),
        ("alert_vector_scan", """text:"vector scan""""),
        ("alert_long_en", "lang:en AND n_chars:[400 TO *]"))
        .toDF("query_id", "query_text")
        .write.mode("overwrite").parquet(storedPath)
      val stored = graft.query.Percolator.storedFromTable(
        spark.read.parquet(storedPath), "query_id", "query_text",
        defaultField = "text")
      val docs = load(dir, "documents")
      val alertsPath = s"/tmp/graft_percolate_alerts_${math.abs(dir.hashCode)}"
      def inc(epoch: Int): DataFrame =
        graft.query.Percolator.percolateLong(
            docs.where(pmod(col("doc_id"), lit(2)) === epoch), "doc_id", stored)
          .withColumn("inc_batch_id", lit(epoch.toLong))
      // (r18: examined — a localCheckpoint of the replayed epoch-0
      // increment measured cost-neutral: the percolation is row-local and
      // cheap, and the checkpoint adds its own materialization job.)
      inc(0).unionByName(inc(1)).unionByName(inc(0)) // epoch 0 replayed
        .write.mode("overwrite").parquet(alertsPath)
      spark.read.parquet(alertsPath)
        .select("query_id", "doc_id").distinct() // absorb the replay
        .orderBy("query_id", "doc_id")
    }),

    "corpus_datasheet" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // The data card a corpus release publishes beside its shards
      // (Datasheets for Datasets): size, token volume, label diversity,
      // exact-duplicate rate, language concentration — long-form
      // (metric, value) rows, every value a fixed tree over counts.
      ops.Datasheet.corpusReport(load(dir, "documents"),
        "text", "lang", "source")
    }),

    "corpus_diff" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // Snapshot diff — which documents moved between corpus versions
      // (the pre-retrain audit): 'before' lacks the %7 ids and carries
      // older text for the %5 ids; 'after' lacks the %11 ids. One
      // full-outer id join over md5 fingerprints.
      val docs = load(dir, "documents")
      val before = docs.where(pmod(col("doc_id"), lit(7)) =!= 0)
        .withColumn("text",
          when(pmod(col("doc_id"), lit(5)) === 0, concat(col("text"), lit(" OLD")))
            .otherwise(col("text")))
      val after = docs.where(pmod(col("doc_id"), lit(11)) =!= 0)
      ops.Drift.snapshotDiff(before, after, "doc_id", col("text"))
        .orderBy("doc_id")
    }),

    "q_suggest_phrase" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // ES phrase suggester: per-position Levenshtein candidates, cross-
      // product sequences, each rescored by the corpus-trained integer
      // bigram LM — "tabel scan fastt" corrects to "table scan fast"
      // because the corrected bigrams are cheap where the OOV ones pay
      // the flat 24-bit cost.
      graft.query.Fuzzy.suggestPhrase(
        load(dir, "documents"), "doc_id", "text", "tabel scan fastt",
        maxEdits = 2, perTermCandidates = 3, n = 5)
    }),

    "search_bm25_collapse" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // ES collapse: one best BM25 hit per lang (field collapsing — dedup
      // the result list by source/domain without an aggregation round
      // trip), collapsed list ranked by surviving scores.
      val docs = load(dir, "documents")
      val analyzed = concat(lit(" "),
        graft.expr.TextMatch.normalized(col("text")), lit(" "))
      val scored = graft.query.Bm25.scoredAll(docs, "doc_id", analyzed,
        "dup vector scan")
      val withLang = scored.join(docs.select("doc_id", "lang"), "doc_id")
      graft.query.Paging.collapseTopHits(withLang, "doc_id", "score", "lang", k = 3)
        .select("doc_id", "lang", "score")
    }),

    "search_bm25_collapse_inner" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // ES collapse + inner_hits: the top-3 langs by their best BM25 hit,
      // each group carrying its own top-2 hits (group_rank × inner_rank)
      // — the "best page per site, with runners-up" serving shape.
      val docs = load(dir, "documents")
      val analyzed = concat(lit(" "),
        graft.expr.TextMatch.normalized(col("text")), lit(" "))
      val scored = graft.query.Bm25.scoredAll(docs, "doc_id", analyzed,
        "dup vector scan")
      val withLang = scored.join(docs.select("doc_id", "lang"), "doc_id")
      graft.query.Paging.collapseInnerHits(withLang, "doc_id", "score",
        "lang", k = 3, innerK = 2)
    }),

    "search_bm25_page2" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // ES search_after: the page after the anchor (score, id) tuple —
      // the deep-pagination shape (a predicate on the sort key, constant
      // work per page), never an offset scan. Anchor = page 1's last hit
      // at sf0.01, passed back as literals the way a client would.
      val docs = load(dir, "documents")
      val analyzed = concat(lit(" "),
        graft.expr.TextMatch.normalized(col("text")), lit(" "))
      val scored = graft.query.Bm25.scoredAll(docs, "doc_id", analyzed,
        "dup vector scan")
      graft.query.Paging.searchAfter(scored, "doc_id", "score",
        afterScore = 4.268536153941243, afterId = 45L, k = 5)
    }),

    "search_more_like_this" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // ES more_like_this: rank doc 42's terms by tf·idf, keep the top
      // 10 past the min_term_freq/min_doc_freq prunes (ES defaults 2/5),
      // BM25-score every other document sharing a selected term —
      // "related items" next to a search result. Deterministic ordered
      // score fold; full retrieval restated in the oracle.
      graft.query.MoreLikeThis.moreLikeThis(
        load(dir, "documents"), "doc_id", "text", seedId = 42L)
    }),

    "q_suggest_term" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // ES term suggester ("did you mean"): vocabulary terms within 2
      // edits of the misspelling 'tabel', ranked distance-then-frequency
      // — candidates from the same SymSpell deletion probe as fuzzy
      // retrieval, document frequency as the popularity statistic.
      graft.query.Fuzzy.suggestTerms(
        load(dir, "documents"), col("text"), "tabel", maxEdits = 2, n = 5)
    }),

    "q_suggest_completion" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // ES completion suggester with fuzziness 1 over the same at-rest
      // vocabulary: exact 'sp' completions rank at distance 0 (spark),
      // then one-edit 2-prefixes (scan/small/slow/…) by document
      // frequency — both ranking tiers carry teeth, and the df values
      // re-derive at any scale.
      graft.query.Fuzzy.suggestCompletion(
        graft.query.Fuzzy.vocabularyWithFreq(load(dir, "documents"), col("text")),
        "sp", size = 6, fuzziness = 1, prefixLength = 1)
    }),

    "q_highlight" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // ES highlight, whole-field mode: every whole-token occurrence of
      // a query term wrapped in <em> tags over the matching documents —
      // the search-results display tier. Single-pass alternation so
      // inserted tags are never re-matched.
      import graft.expr.TextMatch
      load(dir, "documents")
        .where(TextMatch.containsToken(col("text"), "dup") ||
          TextMatch.containsToken(col("text"), "vector"))
        .select(col("doc_id"),
          TextMatch.highlight(col("text"), "dup vector").as("highlighted"))
        .orderBy("doc_id")
    }),

    "w_dict_driven_query" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // The system's data-driven core, end to end (SURVEY.md §3.2): profile
      // the table into a dictionary, derive typed widgets from it, apply
      // user selections, compile, aggregate. Nothing below hardcodes a
      // predicate form — the dictionary decides.
      import graft.query.Widgets
      val li = load(dir, "lineitem")
      // approx distinct suffices for widget typing (HLL is exact at the tiny
      // cardinalities the boolean check needs) — the 100 TB profile path.
      val fields = Widgets.fieldsFromDictionary(
        Dictionary.profile(li, exactDistinct = false))
      val fc = fields
        .select("l_quantity", Widgets.Selection.RangeSel(10, 20))
        .select("l_returnflag", Widgets.Selection.TextSel("r"))
      li.where(fc.compile)
        .groupBy("l_linestatus")
        .agg(count(lit(1)).as("n"), round(sum(col("l_extendedprice")), 2).as("revenue"))
        .orderBy("l_linestatus")
    }),

    "w_dict_driven_query_warm" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // The §3.2 widget pipeline against the WARM dictionary: compile cost
      // collapses to a cache read, leaving only the actual aggregation scan
      // — the reference's per-interaction shape (dictionary from the hot
      // index, one ES query per widget change). Same oracle as the cold form.
      import graft.query.Widgets
      val li = load(dir, "lineitem")
      val fields = Widgets.fieldsFromDictionary(
        Dictionary.materializeProfile(s, li,
          s"graft_dict_lineitem_approx_${math.abs(dir.hashCode)}",
          exactDistinct = false))
      val fc = fields
        .select("l_quantity", Widgets.Selection.RangeSel(10, 20))
        .select("l_returnflag", Widgets.Selection.TextSel("r"))
      li.where(fc.compile)
        .groupBy("l_linestatus")
        .agg(count(lit(1)).as("n"), round(sum(col("l_extendedprice")), 2).as("revenue"))
        .orderBy("l_linestatus")
    }),

    "w_json_widget_query" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // The §3.2 pipeline fed from the WIRE: the webapp's widget-state JSON
      // (the exact Backbone attributes `generateQuery` reads) decoded by
      // Widgets.fromJson into the same selections w_dict_driven_query makes
      // programmatically — same compile chain, same oracle. The disabled
      // third widget and the empty-text fourth mirror `enabledValueFields`'
      // skip rules.
      import graft.query.Widgets
      val li = load(dir, "lineitem")
      val fields = Widgets.fieldsFromDictionary(
        Dictionary.materializeProfile(s, li,
          s"graft_dict_lineitem_approx_${math.abs(dir.hashCode)}",
          exactDistinct = false))
      val fc = Widgets.fromJson(fields,
        """[{"name": "l_quantity", "type": "range", "value": [10, 20],
          |  "enabled": {"state": true, "lastEnabled": 1}},
          | {"name": "l_returnflag", "type": "text", "value": "r",
          |  "enabled": {"state": true, "lastEnabled": 2}},
          | {"name": "l_linestatus", "type": "text", "value": "x",
          |  "enabled": {"state": false, "lastEnabled": 0}},
          | {"name": "l_shipdate", "type": "text", "value": "",
          |  "enabled": {"state": true, "lastEnabled": 3}}]""".stripMargin)
      li.where(fc.compile)
        .groupBy("l_linestatus")
        .agg(count(lit(1)).as("n"), round(sum(col("l_extendedprice")), 2).as("revenue"))
        .orderBy("l_linestatus")
    }),

    "q8_dict_fetch" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // The webapp's dictionary fetch (Q8): non-null fields, the full
      // 8-field `_source` projection (`collections.js:68-77`), limited to
      // 1000. The reference asks for `dict_countDistinct` — a casing bug
      // (the indexed field is `dict_countdistinct`, so ES's case-sensitive
      // _source filter silently drops it); we project the real column.
      Dictionary.profile(load(dir, "lineitem"))
        .where(col("dict_field").isNotNull)
        .select("dict_field", "dict_vargroup", "dict_vartype", "dict_vardescr",
          "dict_min", "dict_max", "dict_countdistinct", "dict_uifilter")
        .orderBy("dict_field")
        .limit(1000)
    }),

    "dict_profile_incremental" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // The 100 TB dictionary-maintenance path: profile two halves of the
      // corpus independently (per-day partitions in production), merge the
      // mergeable increments (sums/moments/min-max/HLL sketches), finalize.
      // The projection keeps the EXACTLY-mergeable statistics, which a
      // whole-corpus DuckDB profile must reproduce bit-for-bit (the sketch
      // estimates and float moments have no exact SQL twin — those are
      // pinned by DictionarySpec's split-merge ≡ whole-corpus equivalence).
      val li = load(dir, "lineitem")
      val half1 = Dictionary.profileIncrement(li.where(col("l_orderkey") % 2 === 0))
      val half2 = Dictionary.profileIncrement(li.where(col("l_orderkey") % 2 =!= 0))
      Dictionary.finalizeIncrement(Dictionary.mergeIncrements(half1, half2))
        .select("dict_field", "dict_count", "dict_countmissing",
          "dict_min", "dict_max")
        .orderBy("dict_field")
    }),

    "dict_quantiles" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // The percentile surface of the dictionary (robust range-widget
      // bounds), EXACT form for the oracle: Spark's percentile() and
      // DuckDB's quantile_cont share the (n-1)*p interpolation definition;
      // rounding guards the interpolation arithmetic's last ulp. The
      // KLL-sketch scale twin (quantileIncrement/mergeQuantileIncrements/
      // finalizeQuantiles — mergeable, one kilobyte row per column) is
      // pinned against this exact form in DictionarySpec.
      // One branch per column (the Dictionary.profile plan shape): a wide
      // 4-percentile agg + stack unpivot plans one big ObjectHashAggregate
      // holding all four value collections at once; per-column branches
      // run them as independent narrow stages over pruned scans.
      val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      val li = load(dir, "lineitem")
      cols.map { c =>
        li.select(col(s"`$c`").as("_c"))
          .agg(expr("percentile(_c, array(0.25d, 0.5d, 0.75d))").as("_q"))
          .select(lit(c).as("dict_field"),
            round(col("_q").getItem(0), 4).as("p25"),
            round(col("_q").getItem(1), 4).as("p50"),
            round(col("_q").getItem(2), 4).as("p75"))
      }.reduce(_.unionAll(_))
        .orderBy("dict_field")
    }),

    "q8_dict_fetch_warm" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // Warm twin of q8_dict_fetch — the reference's actual serving shape:
      // the dictionary lives in a hot index and the fetch never touches the
      // corpus. First call profiles + caches; Bench's min-of-N measures the
      // warm fetch. Identical results (and oracle) to the cold form.
      Dictionary.materializeProfile(s, load(dir, "lineitem"),
          s"graft_dict_lineitem_${math.abs(dir.hashCode)}")
        .where(col("dict_field").isNotNull)
        .select("dict_field", "dict_vargroup", "dict_vartype", "dict_vardescr",
          "dict_min", "dict_max", "dict_countdistinct", "dict_uifilter")
        .orderBy("dict_field")
        .limit(1000)
    }),

    "q8_dict_fetch_federated" -> ((s, _) => {
      // The webapp's ACTUAL dictionary fetch: one query against the
      // `*dictionary*` wildcard — the union of every dataset's dictionary
      // at once (`services/webapp/src/config.js:22`,
      // `collections.js:66-81`) — not a per-table fetch. Each city's
      // dictionary is profiled once over its published (at-rest) shape and
      // pinned warm; the fetch itself reads ONE published kilobyte-sized
      // federated view and never touches a corpus. The `dataset` column
      // plays the role of the ES `_index` name the webapp groups fields by.
      // Publishing the union once (not re-deriving it per fetch) mirrors the
      // wildcard index itself: `*dictionary*` is a single at-rest surface.
      val fed = graft.store.ServingViews.getOrBuild(s, "graft_dict_federated") {
        val union = Seq("baltimore", "detroit", "losangeles").map { city =>
          Dictionary.materializeProfile(s, cityPublished(s, city),
              s"graft_dict_city_$city")
            .withColumn("dataset", lit(city))
        }.reduce(_.unionByName(_))
        Dictionary.publishResult(s, union, "graft_dict_federated")
      }
      fed
        .where(col("dict_field").isNotNull)
        .select("dataset", "dict_field", "dict_vargroup", "dict_vartype",
          "dict_vardescr", "dict_min", "dict_max", "dict_countdistinct",
          "dict_uifilter")
        .orderBy("dataset", "dict_field")
        .limit(1000)
    }),

    "g7_typeahead_federated" -> ((s, _) => {
      // The webapp's typeahead issues against the `*harmonized*` pattern,
      // not one table (`views.js:378-412` + `config.js:16`): suggest the
      // top values of the shared `description` field across every city at
      // once, served from the pinned federated cache.
      Aggs.typeahead(federatedHarmonized(s, warm = true), "description", "a", 10)
    }),

    "dashboard_refresh" -> ((s, _) => dashboardRefresh(s, warm = false)),

    "dashboard_refresh_warm" -> ((s, _) => {
      // One dashboard interaction at steady state: all five saved viz under
      // a fresh dictionary-driven filter against the PINNED federated view —
      // the latency a user feels per widget change (reference: one Kibana
      // dashboard refresh = five ES _search calls against the hot index).
      dashboardRefresh(s, warm = true)
    }),

    "g7_typeahead_preagg" -> ((s, _) => {
      // The federated typeahead served from the at-rest rollup instead of
      // the pinned corpus projection — completions from the term
      // dictionary, like ES suggest. Same oracle as g7_typeahead_federated
      // (the equivalence claim); PlanSpec pins the rollup-only plan.
      PreAgg.typeahead(dashboardRollup(s), "description", "a", 10)
    }),

    "g_significant_terms_preagg" -> ((s, _) => {
      // "Which descriptions characterize Baltimore against the whole
      // federation" — ES significant_terms served from the at-rest rollup:
      // doc-frequency counts become sum(cnt) re-aggregations, the corpus
      // is never scanned at serve time, and the JLH ranking hash-matches
      // the corpus-scan oracle.
      PreAgg.significantTerms(dashboardRollup(s), "description",
        col("dataset") === "baltimore", n = 10)
    }),

    "g_significant_terms_chi2_preagg" -> ((s, _) => {
      // The chi_square heuristic served from the SAME at-rest rollup —
      // the x-pack-style "pick your significance scorer" knob with rollup
      // rows replacing doc-frequency counts; identical IEEE tree, shared
      // corpus-scan oracle restatement.
      PreAgg.significantTerms(dashboardRollup(s), "description",
        col("dataset") === "baltimore", n = 10, heuristic = "chi_square")
    }),

    "dashboard_refresh_preagg" -> ((s, _) => {
      // The dashboard served from the at-rest rollup — what replaces the
      // pinned-corpus warm path at 100 TB. Same buckets, same oracle as
      // dashboard_refresh; the plan reads ONLY the rollup (PlanSpec pins
      // it) and a widget change costs |distinct dim combos|, not |corpus|.
      dashboardRefreshPreagg(s)
    }),

    "dashboard_preagg_incremental" -> ((s, _) => {
      implicit val spark: SparkSession = s
      // The INGEST half of the serving rollup at 100 TB: the rollup table
      // is never rebuilt by re-scanning the corpus — per-arrival batches
      // (daily partitions in production, micro-batches under
      // EventStreams.maintainRollup) each contribute one mergeable
      // increment, and merge (union + group-sum) is associative and
      // commutative. Three hash-split batches of the federated view —
      // split on the full event identity, so one dimension combo's rows
      // land in DIFFERENT batches and the merge genuinely sums across
      // increments — then the saved dashboard served from the merged
      // rollup. Same oracle as dashboard_refresh (the full-scan shape):
      // increment-then-merge commutes with serving.
      val fed = federatedHarmonized(s, warm = false)
      val part = pmod(
        xxhash64(col("dataset"), col("datetime"), col("description")), lit(3))
      // ONE corpus pass computes every batch's increment at once (r18
      // optimization, guide §2.4): grouping by (slice, dims) then slicing
      // the rollup equals filtering the corpus per slice then grouping —
      // groupBy commutes with a filter on a group key — so the three
      // increments are IDENTICAL frames to the old fed.where(part === k)
      // form, without re-running the 3-city harmonize ETL once per batch
      // (3 corpus passes → 1). The checkpointed frame is rollup-sized
      // (≤ 3× the dim-combination count), bounded at any corpus scale;
      // merge still genuinely union+group-sums across the increments.
      val bySlice = PreAgg.increment(fed, ("_slice" -> part) +: dashboardCubeDims)
        .localCheckpoint()
      val increments = (0 until 3).map(k =>
        bySlice.where(col("_slice") === k).drop("_slice"))
      dashboardRefreshPreagg(s, rollup = Some(PreAgg.merge(increments: _*)))
    }),

    "dashboard_map_drilldown" -> ((s, _) => {
      // A tile-map click: Kibana zooms into the clicked cell — the cell's
      // decoded bounds become lat/lon RANGE predicates and autoPrecision
      // deepens the grid one level (cell "d" spans lat [0,45) lon [-90,-45)
      // → precision 3) — while the dashboard's widget + time filters stay
      // applied. Keeps Baltimore and Detroit, drops Los Angeles (lon -118
      // outside). The bounds here filter columns PARSED from the at-rest
      // "lat,lon" string (the reference's geo encoding), so they prune
      // in-memory batches, not the file scan; a deployment that wants
      // scan-level pruning stores lat/lon typed in the published
      // projection, where geohashGridZoom's predicates push down (the
      // parquet case PlanSpec pins).
      val f = dashboardFiltered(s, warm = true)
      val parts = split(col("geolocation"), ",")
      val pts = f.where(length(col("geolocation")) > 0)
        .withColumn("_lat", parts.getItem(0).cast("double"))
        .withColumn("_lon", parts.getItem(1).cast("double"))
      Aggs.geohashGridDrilldown(pts, "_lat", "_lon", cell = "d")
    }),

    // ===== §2.5 aggregations (G1-G9) =====

    "g1_count" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      Aggs.countMetric(load(dir, "lineitem"))
    }),

    "g2_terms_top10" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // The "Description" pie: terms top-10 under the dashboard time filter.
      val ev = Aggs.timeFiltered(loadEvents(dir), "ts",
        java.sql.Timestamp.valueOf("1990-01-01 00:00:00"),
        java.sql.Timestamp.valueOf("2030-01-01 00:00:00"))
      Aggs.termsTopN(ev, "event_type", 10)
    }),

    "g3_city_terms" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // The "City" pie over the federated customer+supplier view: nation
      // stands in for city; the dim table is broadcast.
      val cust = load(dir, "customer").select(col("c_nationkey").as("nationkey"))
      val supp = load(dir, "supplier").select(col("s_nationkey").as("nationkey"))
      val nat = load(dir, "nation")
      Federation("customers" -> cust, "suppliers" -> supp).view("*")
        .join(broadcast(nat), col("nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("count"))
        .orderBy(desc("count"), asc("n_name"))
        .limit(10)
    }),

    "g4_nested_terms" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // The "Day/Hour" nested pie: parent=o_orderpriority, child=o_orderstatus.
      Aggs.nestedTermsTopK(load(dir, "orders"), "o_orderpriority", "o_orderstatus",
        parentSize = 3, childSize = 2)
    }),

    "g6_geohash_grid" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // Geohash grid over synthetic coordinates derived from numeric columns
      // scaled into valid lat/lon ranges (FIXTURES.md §3).
      val pts = load(dir, "customer")
        .withColumn("lat", pmod(col("c_acctbal"), lit(180)) - 90 + lit(0.001))
        .withColumn("lon", pmod(col("c_custkey"), lit(360)) - 180 + lit(0.001))
      Aggs.geohashGrid(pts, "lat", "lon", precision = 2)
    }),

    "g6_geohash_auto" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // Kibana autoPrecision drill-down (`kibana-exported-visualizations
      // .json:7`): zoomed into cell "9" (lat [0,45), lon [-135,-90)) the
      // zoom ladder picks precision 3 (1024 cells ≤ 2000 < 32768); the
      // viewport becomes lat/lon range predicates that push into the scan.
      val pts = load(dir, "customer")
        .withColumn("lat", pmod(col("c_acctbal"), lit(180)) - 90 + lit(0.001))
        .withColumn("lon", pmod(col("c_custkey"), lit(360)) - 180 + lit(0.001))
      Aggs.geohashGridDrilldown(pts, "lat", "lon", cell = "9", targetCells = 2000)
    }),

    "g6_geohash_preagg" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // The serving-layer close of the geohash story: the rollup's geohash
      // dimension is ingested at the FINEST precision the map serves (3
      // here), and every coarser zoom level is a prefix truncation of the
      // at-rest rollup — geohash prefixes ARE the coarser cells, so zoom
      // out/in across the ladder never re-scans the corpus. This serves
      // the world-view precision-2 grid from the precision-3 rollup; the
      // oracle is g6_geohash_grid's corpus scan VERBATIM (the serving
      // layer must be invisible to results).
      val pts = load(dir, "customer")
        .withColumn("lat", pmod(col("c_acctbal"), lit(180)) - 90 + lit(0.001))
        .withColumn("lon", pmod(col("c_custkey"), lit(360)) - 180 + lit(0.001))
      val rollup = PreAgg.increment(pts, Seq(
        "geohash" -> graft.expr.Geohash.geohash(col("lat"), col("lon"), 3)))
      PreAgg.geohashGridAt(rollup, ingestPrecision = 3, precision = 2)
    }),

    "g7_typeahead" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      Aggs.typeahead(load(dir, "part"), "p_brand", "brand 1", size = 10)
    }),

    "g7_typeahead_warm" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // §3.3 warm serving path: the typeahead field pinned in the in-memory
      // columnar cache. The first call populates it (cold parquet scan);
      // every later call in the session reads cached batches — Bench's
      // min-of-N therefore measures the warm, sub-second serving path the
      // reference gets from its hot Elasticsearch index.
      val fed = Federation("parts_serving" ->
        load(dir, "part").select(col("p_brand")))
      val warm = fed.materialize(s, "*serving*", "graft_serving_parts")
      Aggs.typeahead(warm, "p_brand", "brand 1", size = 10)
    }),

    "g9_federation" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // Wildcard-pattern union with missing columns null-filled, then a
      // per-source count with a column only one member has.
      val cust = load(dir, "customer")
        .select(col("c_custkey").as("key"), col("c_acctbal").as("acctbal"),
          col("c_mktsegment").as("mktsegment"), lit("customer").as("src"))
      val supp = load(dir, "supplier")
        .select(col("s_suppkey").as("key"), col("s_acctbal").as("acctbal"),
          lit("supplier").as("src"))
      Federation("cust_harmonized" -> cust, "supp_harmonized" -> supp)
        .view("*harmonized*")
        .groupBy("src")
        .agg(count(lit(1)).as("n"),
          count(col("mktsegment")).as("n_mktsegment"),
          round(sum(col("acctbal")), 2).as("total_bal"))
        .orderBy("src")
    }),

    "g_date_histogram" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      Aggs.dateHistogram(loadEvents(dir), "ts", "day")
        .withColumn("bucket", date_format(col("bucket"), "yyyy-MM-dd"))
    }),

    "g_date_histogram_preagg" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // The time axis served from the rollup: ingest truncates to HOUR
      // grain (the rollup dimension), serving re-truncates to any coarser
      // calendar interval and re-sums — time-bucket coarsening commutes
      // with the rollup exactly like the geohash prefix and the numeric
      // quantization, so one at-rest rollup serves every zoom of the
      // dashboard's time axis (shared corpus-scan oracle).
      val pre = query.PreAgg.increment(loadEvents(dir),
        Seq("ts_hour" -> date_trunc("hour", col("ts"))))
      query.PreAgg.dateHistogram(pre, "ts_hour", "hour", "day")
        .withColumn("bucket", date_format(col("bucket"), "yyyy-MM-dd"))
    }),

    "g_date_histogram_incremental" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // The ingest half of the time-axis rollup: three hash-split batches
      // each contribute a mergeable hour-grain increment (split on the
      // full event identity so one hour's rows land in DIFFERENT batches
      // and the merge genuinely sums), then the day histogram serves from
      // the merged rollup — same oracle as the full scan; increment-then-
      // merge commutes with the calendar coarsening.
      val ev = loadEvents(dir)
      val part = pmod(xxhash64(col("event_id"), col("ts")), lit(3))
      val increments = (0 until 3).map(k =>
        query.PreAgg.increment(ev.where(part === k),
          Seq("ts_hour" -> date_trunc("hour", col("ts")))))
      query.PreAgg.dateHistogram(
          query.PreAgg.merge(increments: _*), "ts_hour", "hour", "day")
        .withColumn("bucket", date_format(col("bucket"), "yyyy-MM-dd"))
    }),

    "g_extended_stats" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // ES extended_stats in the repo's integer-cents discipline: every
      // statistic folds exact LONG cents and converts back through one
      // fixed arithmetic tree, so the row hash-matches cross-engine with
      // no rounding and the rollup twin serves the identical row.
      Aggs.extendedStats(loadEvents(dir), "value")
    }),

    "g_extended_stats_preagg" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // The stats tile from a cents-dimension rollup: weighted LONG
      // moments over |distinct cents values| rows — same oracle.
      val pre = query.PreAgg.increment(loadEvents(dir),
        Seq("value_cents" -> floor(col("value") * 100).cast("long")))
      query.PreAgg.extendedStats(pre, "value_cents")
    }),

    "g_weighted_avg" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // ES weighted_avg: mean line-item price weighted by quantity —
      // integer-exact cents·quantity folds, one division back.
      Aggs.weightedAvg(load(dir, "lineitem"),
        col("l_extendedprice"), col("l_quantity"))
    }),

    "g_weighted_avg_preagg" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // The same weighted mean from a sum rollup keyed by return flag:
      // Σ cents·w and Σ w are exact LONG measures, merged per batch, so
      // the serve re-sums |distinct flags| rows through the scan's own
      // division tree (shared oracle).
      val li = load(dir, "lineitem")
        .where(col("l_extendedprice").isNotNull && col("l_quantity").isNotNull)
      val pre = query.PreAgg.incrementWithSums(li,
        Seq("l_returnflag" -> col("l_returnflag")),
        Seq("swv_sum" -> (floor(col("l_extendedprice") * 100).cast("long") *
            col("l_quantity").cast("long")),
          "w_sum" -> col("l_quantity")))
      query.PreAgg.weightedAvg(pre)
    }),

    "g_missing" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // ES missing bucket agg over a derived field ('view' rows carry no
      // conversion type): the data-quality tile next to a terms widget.
      Aggs.missingCount(loadEvents(dir), expr("nullif(event_type, 'view')"))
    }),

    "g_missing_preagg" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // The data-quality tile from a rollup whose dimension is the
      // derived field: null is a rollup row like any value, so the
      // missing count is one cnt-sum over |distinct values| rows
      // (shared oracle with the scan form).
      val pre = query.PreAgg.increment(loadEvents(dir),
        Seq("conv_type" -> expr("nullif(event_type, 'view')")))
      query.PreAgg.missingCount(pre, "conv_type")
    }),

    "g_rare_terms" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // ES rare_terms: the long-tail inverse of terms top-N — users with
      // at most 55 events, rare-first. Exact one-exchange form (ES's
      // CuckooFilter is a memory approximation, not less work).
      Aggs.rareTerms(loadEvents(dir), "user_id", maxDocCount = 55)
    }),

    "g_rare_terms_preagg" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // The long-tail export served from the rollup: rare values are
      // invisible to any top-N cache, so at 100 TB this is exactly the
      // query the at-rest rollup exists for (shared oracle).
      val pre = query.PreAgg.increment(loadEvents(dir),
        Seq("user_id" -> col("user_id")))
      query.PreAgg.rareTerms(pre, "user_id", maxDocCount = 55)
    }),

    "g_multi_terms" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // ES multi_terms: top composite (lang, source) buckets, count-desc
      // with the full key tuple as deterministic tiebreak.
      Aggs.multiTerms(load(dir, "documents"), Seq("lang", "source"), 10)
    }),

    "g_multi_terms_preagg" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      val pre = query.PreAgg.increment(load(dir, "documents"),
        Seq("lang" -> col("lang"), "source" -> col("source")))
      query.PreAgg.multiTerms(pre, Seq("lang", "source"), 10)
    }),

    "g_adjacency_matrix" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // ES adjacency_matrix: named segments + every pairwise overlap in
      // ONE conditional-sum pass; empty cells omitted (ES semantics —
      // purchases&clicks is structurally zero and must not appear).
      Aggs.adjacencyMatrix(loadEvents(dir), Seq(
        "purchases" -> query.FilterSpec.EnumIn("event_type", Seq("purchase")),
        "big_value" -> query.FilterSpec.NumericRange("value", 100.0, 10000.0),
        "clicks" -> query.FilterSpec.EnumIn("event_type", Seq("click"))))
    }),

    "g_geo_centroid" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // ES geo_centroid per market-segment bucket over the synthetic
      // customer coordinates (the g6 fixture): micro-degree LONG sums +
      // one fixed conversion tree — hash-exact cross-engine where ES's
      // raw-double mean drifts with shard order.
      val pts = load(dir, "customer")
        .withColumn("lat", pmod(col("c_acctbal"), lit(180)) - 90 + lit(0.001))
        .withColumn("lon", pmod(col("c_custkey"), lit(360)) - 180 + lit(0.001))
      Aggs.geoCentroid(pts, "c_mktsegment", "lat", "lon")
    }),

    "g_geo_centroid_preagg" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // Centroids from a sum rollup keyed by segment: the micro-degree
      // LONG sums are mergeable measures, so serving is |segments| rows
      // through the scan's own conversion tree (shared oracle) — map
      // markers at 100 TB without touching a document.
      val pts = load(dir, "customer")
        .withColumn("lat", pmod(col("c_acctbal"), lit(180)) - 90 + lit(0.001))
        .withColumn("lon", pmod(col("c_custkey"), lit(360)) - 180 + lit(0.001))
        .where(col("lat").isNotNull && col("lon").isNotNull)
      val pre = query.PreAgg.incrementWithSums(pts,
        Seq("c_mktsegment" -> col("c_mktsegment")),
        Seq("slat_sum" -> floor(col("lat") * 1000000).cast("long"),
          "slon_sum" -> floor(col("lon") * 1000000).cast("long")))
      query.PreAgg.geoCentroid(pre, "c_mktsegment")
    }),

    "g_sampler_terms" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // ES sampler agg made deterministic: the inner terms agg runs over
      // a seeded hash-sample (same docs on any cluster; ES's
      // first-shard_size-per-shard is routing-dependent — the
      // reproducibility trade is documented in Aggs.samplerTerms).
      Aggs.samplerTerms(load(dir, "documents"), "doc_id", "lang",
        fraction = 0.5)
    }),

    "g_random_sampler" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // ES random_sampler: the terms agg over a deterministic 1-in-4
      // hash-sample with counts scaled back by 1/p — the dashboard
      // accuracy-for-speed trade, reproducible on any cluster.
      Aggs.randomSamplerTerms(load(dir, "documents"), "doc_id", "lang",
        probability = 0.25)
    }),

    "g_significant_text" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // ES significant_text with filter_duplicate_text: exact duplicate
      // (text, slice) rows collapse before the JLH scoring so mirrored
      // boilerplate cannot dominate the zh slice's signature tokens.
      Aggs.significantText(load(dir, "documents"), col("text"),
        col("lang") === "zh", ops.Dedup.tokens, n = 15)
    }),

    "g_diversified_sampler" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // ES diversified_sampler ≡ the per-domain cap of published corpus
      // pipelines: at most 10 docs per source (seeded hash order) feed
      // the language terms agg, de-biasing it from any dominant source.
      Aggs.diversifiedSamplerTerms(load(dir, "documents"), "doc_id",
        "source", maxPerValue = 10, field = "lang")
    }),

    "g_date_range" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // ES date_range agg: named half-open timestamp ranges in one
      // conditional-sum pass, ES's from-to keys with * for open sides.
      Aggs.dateRangeBuckets(loadEvents(dir), "ts", Seq(
        (None, Some("2024-01-10")),
        (Some("2024-01-10"), Some("2024-01-20")),
        (Some("2024-01-20"), None)))
    }),

    "g_date_range_preagg" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // The same named ranges from the hour-grain date rollup: every
      // boundary sits on an hour edge (coversDateBoundary certifies), so
      // the conditional sums weight by cnt over |distinct hours| rows
      // (shared oracle) — the g_date_histogram_preagg rollup reused for
      // its third serving shape.
      val pre = query.PreAgg.increment(loadEvents(dir),
        Seq("h" -> date_trunc("hour", col("ts"))))
      query.PreAgg.dateRange(pre, "h", "hour", Seq(
        (None, Some("2024-01-10")),
        (Some("2024-01-10"), Some("2024-01-20")),
        (Some("2024-01-20"), None)))
    }),

    "g_bucket_stats" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // ES max/min/avg/sum/stats_bucket siblings in one row over the
      // daily histogram: exact integer folds, avg divided once, extremes
      // carrying their bucket keys (smallest key on ties — ES leaves the
      // tiebreak unspecified; a total order is pinned here).
      Aggs.bucketStats(
        Aggs.dateHistogram(loadEvents(dir), "ts", "day")
          .withColumn("bucket", date_format(col("bucket"), "yyyy-MM-dd")),
        "bucket", "count")
    }),

    "g_serial_diff" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // ES serial_diff at lag 7 over the daily histogram: same-weekday
      // subtraction removes the weekly cycle; the window runs over the
      // bucket-bounded series, never the corpus.
      Aggs.serialDiff(
          Aggs.dateHistogram(loadEvents(dir), "ts", "day"),
          "bucket", "count", lagBuckets = 7)
        .withColumn("bucket", date_format(col("bucket"), "yyyy-MM-dd"))
        .orderBy("bucket")
    }),

    "g_geotile_grid" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // ES geotile_grid at zoom 5 over the synthetic customer coordinates
      // (the g6 fixture): slippy z/x/y Web-Mercator tiles, the one grid
      // whose cell function is transcendental (tan/ln library-rounded;
      // boundary-flip odds ~1e-14/row, documented at Aggs.geoTileGrid).
      val pts = load(dir, "customer")
        .withColumn("lat", pmod(col("c_acctbal"), lit(180)) - 90 + lit(0.001))
        .withColumn("lon", pmod(col("c_custkey"), lit(360)) - 180 + lit(0.001))
      Aggs.geoTileGrid(pts, "lat", "lon", z = 5)
    }),

    "g_geotile_preagg" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // The same zoom-5 grid served from a zoom-8 at-rest rollup: zoom-out
      // is integer >> over the tile dims — BIT-exact against the corpus
      // scan (power-of-two scaling commutes with IEEE rounding), so the
      // shared oracle certifies the serving identity. One rollup serves
      // every coarser zoom, the slippy-map-server identity as an
      // aggregation (PreAgg.geoTileGridAt).
      val pts = load(dir, "customer")
        .withColumn("lat", pmod(col("c_acctbal"), lit(180)) - 90 + lit(0.001))
        .withColumn("lon", pmod(col("c_custkey"), lit(360)) - 180 + lit(0.001))
      val Seq(tx, ty) = Aggs.geoTileXY(col("lat"), col("lon"), 8)
      val pre = query.PreAgg.increment(pts, Seq("tx" -> tx, "ty" -> ty))
      query.PreAgg.geoTileGridAt(pre, ingestZoom = 8, z = 5)
    }),

    "g_geo_bounds" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // ES geo_bounds per market-segment bucket: the viewport-fit box.
      // min/max on raw doubles are order-exact — no quantization needed.
      val pts = load(dir, "customer")
        .withColumn("lat", pmod(col("c_acctbal"), lit(180)) - 90 + lit(0.001))
        .withColumn("lon", pmod(col("c_custkey"), lit(360)) - 180 + lit(0.001))
      Aggs.geoBounds(pts, "c_mktsegment", "lat", "lon")
    }),

    "g_geo_bounds_preagg" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // The same bounds served from a MERGED extremes rollup (two
      // hash-split increments — the maintenance shape): min/max measures
      // are idempotent-mergeable and order-exact, so the served box
      // hash-matches the scan (shared oracle) from |distinct buckets|
      // rows at any corpus size.
      val pts = load(dir, "customer")
        .withColumn("lat", pmod(col("c_acctbal"), lit(180)) - 90 + lit(0.001))
        .withColumn("lon", pmod(col("c_custkey"), lit(360)) - 180 + lit(0.001))
        .where(col("lat").isNotNull && col("lon").isNotNull)
      def inc(df: DataFrame) = query.PreAgg.incrementWithExtremes(df,
        Seq("c_mktsegment" -> col("c_mktsegment")),
        mins = Seq("lat_min" -> col("lat"), "lon_min" -> col("lon")),
        maxs = Seq("lat_max" -> col("lat"), "lon_max" -> col("lon")))
      val merged = query.PreAgg.mergeExtremes(
        inc(pts.where(pmod(col("c_custkey"), lit(2)) === 0)),
        inc(pts.where(pmod(col("c_custkey"), lit(2)) === 1)))
      query.PreAgg.geoBounds(merged, "c_mktsegment")
    }),

    "g_top_metrics_preagg" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // top_metrics from the extremes rollup: the lexicographic
      // max(struct) is itself a mergeable max measure, so "latest value
      // per key" serves from |distinct keys| rows (shared oracle).
      val ev = loadEvents(dir).where(col("ts").isNotNull)
      def inc(df: DataFrame) = query.PreAgg.incrementWithExtremes(df,
        Seq("event_type" -> col("event_type")),
        mins = Nil,
        maxs = Seq("top_max" -> struct(col("ts").as("s"),
          col("event_id").as("t"), col("value").as("m"))))
      val merged = query.PreAgg.mergeExtremes(
        inc(ev.where(pmod(col("event_id"), lit(2)) === 0)),
        inc(ev.where(pmod(col("event_id"), lit(2)) === 1)))
      query.PreAgg.termsTopMetrics(merged, "event_type")
    }),

    "g_top_metrics" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // ES top_metrics (size=1, the default): the value carried by each
      // event type's LATEST event — one lexicographic max(struct), no
      // window, costs what max costs at any scale. event_id breaks
      // timestamp ties deterministically.
      Aggs.termsTopMetrics(loadEvents(dir), "event_type",
        sortCol = col("ts"), tiebreak = col("event_id"), metric = col("value"))
    }),

    "g_boxplot" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // ES boxplot per event-type bucket: exact interpolated quartiles
      // (deliberate exactness delta vs ES's TDigest) + the 1.5·IQR
      // whiskers as data values, ES's own whisker definition.
      Aggs.boxplot(loadEvents(dir), "event_type", "value")
    }),

    "g_boxplot_preagg" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // The same boxplot served from the at-rest PAIR rollup: weighted
      // quartiles over (value, cnt) rows are bit-identical to the scan
      // statistic (percentile's frequency argument — shared oracle), and
      // the whisker pass re-reads rollup ROWS, never the corpus. The
      // 100 TB answer to the scan form's per-bucket value buffering.
      val pre = query.PreAgg.increment(loadEvents(dir),
        Seq("event_type" -> col("event_type"), "value" -> col("value")))
      query.PreAgg.termsBoxplot(pre, "event_type", "value")
    }),

    "g_mad" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // ES median_absolute_deviation per event-type bucket: the robust
      // dispersion metric, exact (median-of-|deviations| via two
      // bucket-bounded passes and one broadcast).
      Aggs.medianAbsoluteDeviation(loadEvents(dir), "event_type", "value")
    }),

    "g_mad_preagg" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // MAD from the pair rollup — same weighted-percentile identity as
      // g_boxplot_preagg (shared oracle).
      val pre = query.PreAgg.increment(loadEvents(dir),
        Seq("event_type" -> col("event_type"), "value" -> col("value")))
      query.PreAgg.termsMad(pre, "event_type", "value")
    }),

    "g_string_stats" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // ES string_stats over the documents corpus text: exact lengths +
      // Shannon entropy of the character distribution, pinned by an
      // ORDERED fold over the char table (never a partition-order float
      // sum) and round(·,6) absorbing the ≤1-ulp ln library delta.
      Aggs.stringStats(load(dir, "documents"), "text")
    }),

    "g_string_stats_preagg" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // string_stats from TWO count rollups — lengths and characters,
      // both sum-mergeable: length stats re-aggregate |distinct lengths|
      // rows, entropy folds over the identical |alphabet|-row
      // distribution table (shared oracle). ES doc_values for text
      // statistics, maintained at ingest.
      val docs = load(dir, "documents").where(col("text").isNotNull)
      val lenPre = query.PreAgg.increment(docs,
        Seq("len" -> length(col("text"))))
      val charPre = query.PreAgg.increment(
        docs.select(explode(split(col("text"), "")).as("ch"))
          .where(length(col("ch")) > 0),
        Seq("ch" -> col("ch")))
      query.PreAgg.stringStats(lenPre, charPre)
    }),

    "g_matrix_stats" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // ES matrix_stats over three lineitem measures: the full
      // covariance/correlation matrices in ONE corpus pass, integer-cents
      // exact (LONG cross-moment folds; IEEE sqrt is correctly rounded so
      // even correlation hash-matches with no rounding escape hatch).
      // Fields are passed alphabetically so pair order == output order.
      Aggs.matrixStats(load(dir, "lineitem"),
        Seq("l_discount", "l_quantity", "l_tax"))
    }),

    "g_matrix_stats_preagg" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // The full covariance/correlation matrices from a sum rollup keyed
      // by return flag: the cents moments (Σc_f, Σc_a·c_b) are exact LONG
      // measures, so the serve re-sums |distinct flags| rows into the
      // scan's own fixed trees (shared oracle). The 100 TB shape for
      // "correlations across the whole corpus, updated per batch".
      val fields = Seq("l_discount", "l_quantity", "l_tax")
      val li = load(dir, "lineitem")
        .where(fields.map(col(_).isNotNull).reduce(_ && _))
      val cents = fields.map(f => f -> floor(col(f) * 100).cast("long")).toMap
      val pairs = for { i <- fields.indices; j <- i until fields.size }
        yield (fields(i), fields(j))
      val pre = query.PreAgg.incrementWithSums(li,
        Seq("l_returnflag" -> col("l_returnflag")),
        fields.map(f => s"s_${f}_sum" -> cents(f)) ++
          pairs.map { case (a, b) => s"p_${a}_${b}_sum" -> (cents(a) * cents(b)) })
      query.PreAgg.matrixStats(pre, fields)
    }),

    "g_auto_date_histogram" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // ES auto_date_histogram targeting ≤100 buckets: the chooser
      // computes all five grain cardinalities in ONE aggregation (events
      // span 30 days at ~9k distinct minutes → day wins), then histograms
      // at the chosen grain; the grain ships as a column so the oracle
      // replays the decision.
      Aggs.autoDateHistogram(loadEvents(dir), "ts", targetBuckets = 100)
        .withColumn("bucket", date_format(col("bucket"), "yyyy-MM-dd HH:mm:ss"))
    }),

    "g_auto_date_histogram_preagg" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // The same auto histogram decided AND served from the hour-grain
      // rollup: count monotonicity certifies the scan chooser would skip
      // every sub-ingest grain (the require in PreAgg.autoDateHistogram),
      // so both choosers walk the same ladder tail and the shared oracle
      // certifies decision + serving together.
      val pre = query.PreAgg.increment(loadEvents(dir),
        Seq("h" -> date_trunc("hour", col("ts"))))
      query.PreAgg.autoDateHistogram(pre, "h", "hour", targetBuckets = 100)
        .withColumn("bucket", date_format(col("bucket"), "yyyy-MM-dd HH:mm:ss"))
    }),

    "dedup_duplicate_spans_incremental" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // The ExactSubstr deployment shape: the ARRIVING half (odd doc ids)
      // deduplicates against the maintained corpus-wide gram-count state
      // — a gram's duplicate status is a pure function of that count, so
      // this emits exactly the whole-corpus rows for those documents (the
      // oracle is the whole-corpus restatement restricted to them). The
      // streamed maintenance twin is spec-certified
      // (EventStreamsSpec span-gram test).
      val docs = load(dir, "documents")
      val counts = ops.Dedup.slidingGramPostings(docs, "doc_id", "text", 8)
        .groupBy(col("_g").as("g")).agg(count(lit(1)).as("n"))
      ops.Dedup.duplicateSpanRemovalAgainst(
          docs.where(pmod(col("doc_id"), lit(2)) === 1),
          "doc_id", "text", counts, minLen = 8)
        .orderBy("doc_id")
    }),

    "g_geo_line" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // ES geo_line per market segment over the synthetic coordinates:
      // key-ordered micro-degree track, WKT lon-lat order, size-capped.
      // Integer rendering sidesteps the engines' diverging double
      // formatting rules (Aggs.geoLine scaladoc).
      val pts = load(dir, "customer")
        .withColumn("lat", pmod(col("c_acctbal"), lit(180)) - 90 + lit(0.001))
        .withColumn("lon", pmod(col("c_custkey"), lit(360)) - 180 + lit(0.001))
      Aggs.geoLine(pts, "c_mktsegment", "lat", "lon", "c_custkey",
        tiebreak = col("c_custkey"), size = 20)
    }),

    "g_time_series_rate" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // ES TSDB time_series + counter rate: per-event_type series, a
      // derived counter with GENUINE resets (row_number·7 mod 1000 —
      // wraps every ~143 samples), reset-adjusted hourly increase /
      // 3600 s. One series-partitioned window + one hash agg; 3,600
      // (series, hour) buckets at sf0.01.
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("event_type").orderBy("ts", "event_id")
      val ctr = loadEvents(dir)
        .withColumn("ctr", (row_number().over(w).cast("long") * 7) % 1000)
      Aggs.timeSeriesCounterRate(ctr, Seq("event_type"), "ts",
          col("event_id"), "ctr", interval = "hour")
        .orderBy("event_type", "bucket")
    }),

    "g_categorize_text" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // ES categorize_text made order-free: digit-bearing tokens template
      // to *, the word sequence is the category, smallest doc exemplar
      // carried — where ES's incremental categorizer depends on document
      // arrival order (not reproducible across shard routings).
      Aggs.categorizeText(load(dir, "documents"), "doc_id", "text")
    }),

    "g_ip_prefix" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // ES ip_prefix over synthetic dotted quads derived from customer
      // keys (the corpus has no address column — same fixture discipline
      // as the g6 coordinates): parse → integer >> → CIDR render. The
      // oracle derives the /16 blocks from the CONSTRUCTION instead of
      // re-parsing — an independent restatement.
      val ip = concat_ws(".", lit(10), pmod(col("c_custkey"), lit(50)),
        pmod(col("c_custkey"), lit(256)), pmod(col("c_custkey"), lit(251)))
      Aggs.ipPrefixBuckets(load(dir, "customer").withColumn("ip", ip), "ip", 16)
    }),

    "g_ip_prefix_preagg" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // The /16 blocks served from a /24-masked rollup: masking commutes
      // with aggregation (the geotile zoom-out identity on address bits),
      // so one at-rest rollup answers every coarser prefix length with
      // the scan's own render/tiebreak kernel (shared oracle).
      val ip = concat_ws(".", lit(10), pmod(col("c_custkey"), lit(50)),
        pmod(col("c_custkey"), lit(256)), pmod(col("c_custkey"), lit(251)))
      val ipl = Aggs.ipToLong(col("ip"))
      val pre = query.PreAgg.increment(
        load(dir, "customer").withColumn("ip", ip).where(ipl.isNotNull),
        Seq("ipb" -> shiftleft(shiftright(ipl, 8), 8)))
      query.PreAgg.ipPrefix(pre, "ipb", ingestLen = 24, prefixLen = 16)
    }),

    "g_ip_range" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // ES ip_range on the same synthetic quads: half-open address ranges
      // via the parsed integer order, zero-count ranges kept.
      val ip = concat_ws(".", lit(10), pmod(col("c_custkey"), lit(50)),
        pmod(col("c_custkey"), lit(256)), pmod(col("c_custkey"), lit(251)))
      Aggs.ipRangeBuckets(load(dir, "customer").withColumn("ip", ip), "ip", Seq(
        (None, Some("10.10.0.0")),
        (Some("10.10.0.0"), Some("10.30.0.0")),
        (Some("10.30.0.0"), None)))
    }),

    "g_moving_fn" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // ES moving_fn (min/max/sum) over the daily histogram, trailing
      // 7-bucket frame including the current bucket — the bucket-bounded
      // window contract of every parent pipeline agg here.
      Aggs.movingFn(Aggs.dateHistogram(loadEvents(dir), "ts", "day"),
          "bucket", "count", window = 7)
        .withColumn("bucket", date_format(col("bucket"), "yyyy-MM-dd"))
        .orderBy("bucket")
    }),

    "g_normalize" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // ES normalize over the daily histogram: percent_of_sum /
      // rescale_0_1 / z-score side by side. Counts are integer-valued, so
      // the series moments are order-exact and every derived value is one
      // fixed tree (Aggs.normalizeBuckets's moment-form variance).
      Aggs.normalizeBuckets(Aggs.dateHistogram(loadEvents(dir), "ts", "day"),
          "bucket", "count")
        .withColumn("bucket", date_format(col("bucket"), "yyyy-MM-dd"))
        .orderBy("bucket")
    }),

    "g_rate" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // ES rate: weekly buckets rescaled to a per-day rate by the NOMINAL
      // span (a week is always 7 days — ES's convention; month→day uses
      // calendar length, spec-covered).
      Aggs.ratePerUnit(Aggs.dateHistogram(loadEvents(dir), "ts", "week"),
          "bucket", "count", "week", "day")
        .withColumn("bucket", date_format(col("bucket"), "yyyy-MM-dd"))
        .orderBy("bucket")
    }),

    "g_cumulative_cardinality" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // ES cumulative_cardinality (x-pack): unique users seen so far per
      // day — exact via first-seen-bucket attribution (one key-level
      // exchange) + a running sum over the 30-row series, where ES merges
      // per-bucket HLL prefixes.
      Aggs.cumulativeCardinality(loadEvents(dir), "ts", "user_id")
        .withColumn("bucket", date_format(col("bucket"), "yyyy-MM-dd"))
    }),

    "g_cumulative_cardinality_preagg" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // The running unique-user series from TWO at-rest rollups: the
      // hour-grain date rollup serves the day series, and a user-keyed
      // extremes rollup carries each user's first day as an
      // idempotent-mergeable min measure — exact cumulative cardinality
      // with no corpus scan at serve time (shared oracle).
      val ev = loadEvents(dir).where(col("ts").isNotNull)
      val datePre = query.PreAgg.increment(ev,
        Seq("h" -> date_trunc("hour", col("ts"))))
      val series = query.PreAgg.dateHistogram(datePre, "h", "hour", "day")
      val firstSeen = query.PreAgg.incrementWithExtremes(
        ev.where(col("user_id").isNotNull),
        Seq("user_id" -> col("user_id")),
        mins = Seq("fb_min" -> date_trunc("day", col("ts"))), maxs = Nil)
      query.PreAgg.cumulativeCardinality(series, firstSeen, "fb_min")
        .withColumn("bucket", date_format(col("bucket"), "yyyy-MM-dd"))
    }),

    "g_bucket_correlation" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // ES bucket_correlation (count_correlation): does daily traffic
      // trend with the month — Pearson between the 30 daily counts and
      // the 1..30 ramp, every moment an exact LONG fold.
      Aggs.bucketCorrelation(Aggs.dateHistogram(loadEvents(dir), "ts", "day"),
        "bucket", "count", (1L to 30L))
    }),

    "g_ks_test" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // ES bucket_count_ks_test: daily counts against a front-loaded
      // expected distribution (first 10 days carry half the mass) — the
      // one-sided and two-sided K-S distances from exact-integer ECDFs.
      Aggs.bucketCountKsTest(Aggs.dateHistogram(loadEvents(dir), "ts", "day"),
        "bucket", "count",
        Seq.fill(10)(50000L) ++ Seq.fill(20)(25000L))
    }),

    "g_change_point" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // ES change_point, deterministic core: the split of the daily
      // series maximizing |mean(prefix) − mean(suffix)| via exact
      // cross-multiplied LONG folds; reports the first bucket of the new
      // regime.
      Aggs.changePoint(Aggs.dateHistogram(loadEvents(dir), "ts", "day"),
          "bucket", "count")
        .withColumn("change_point",
          date_format(col("change_point"), "yyyy-MM-dd"))
    }),

    "g_bucket_correlation_preagg" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // The same Pearson over a ROLLUP-SERVED series: the pipeline agg
      // reads |buckets| rows wherever they came from, so pointing it at
      // the hour rollup's day histogram makes the whole analytic
      // corpus-scan-free (shared oracle) — as are the two twins below.
      val pre = query.PreAgg.increment(loadEvents(dir),
        Seq("h" -> date_trunc("hour", col("ts"))))
      Aggs.bucketCorrelation(
        query.PreAgg.dateHistogram(pre, "h", "hour", "day"),
        "bucket", "count", (1L to 30L))
    }),

    "g_ks_test_preagg" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      val pre = query.PreAgg.increment(loadEvents(dir),
        Seq("h" -> date_trunc("hour", col("ts"))))
      Aggs.bucketCountKsTest(
        query.PreAgg.dateHistogram(pre, "h", "hour", "day"),
        "bucket", "count", Seq.fill(10)(50000L) ++ Seq.fill(20)(25000L))
    }),

    "g_change_point_preagg" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      val pre = query.PreAgg.increment(loadEvents(dir),
        Seq("h" -> date_trunc("hour", col("ts"))))
      Aggs.changePoint(
          query.PreAgg.dateHistogram(pre, "h", "hour", "day"),
          "bucket", "count")
        .withColumn("change_point",
          date_format(col("change_point"), "yyyy-MM-dd"))
    }),

    "g_geotile_drilldown" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // Kibana map drill-down on the geotile grid, served from the z=8
      // rollup: the clicked zoom-1 NE-quadrant tile bounds the view by a
      // PURE integer ancestor test (tx >> 7 == 1), deepened to zoom 4 by
      // the same >> identity — no geometry anywhere, rollup rows only.
      val pts = load(dir, "customer")
        .withColumn("lat", pmod(col("c_acctbal"), lit(180)) - 90 + lit(0.001))
        .withColumn("lon", pmod(col("c_custkey"), lit(360)) - 180 + lit(0.001))
      val Seq(tx, ty) = Aggs.geoTileXY(col("lat"), col("lon"), 8)
      val pre = query.PreAgg.increment(pts, Seq("tx" -> tx, "ty" -> ty))
      query.PreAgg.geoTileGridDrilldown(pre, ingestZoom = 8,
        cellZ = 1, cellX = 1, cellY = 0, z = 4)
    }),

    "g_frequent_pairs" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // ES 8 frequent_item_sets (2-itemset form) made exact: event-type
      // pairs co-occurring for at least 10 users — ES mines this
      // approximately per shard (routing-dependent); the exact
      // per-transaction self-join is the determinism delta.
      Aggs.frequentItemPairs(loadEvents(dir), "user_id", "event_type",
        minSupport = 10)
    }),

    "g_t_test" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // ES t_test (Welch): does value differ between click and purchase
      // events? One conditional-sum pass; exact LONG cents moments; t and
      // Welch–Satterthwaite df as fixed IEEE trees (the p-value is ES's
      // non-portable incomplete-beta — documented delta at Aggs.tTest).
      Aggs.tTest(loadEvents(dir), "value",
        col("event_type") === "click", col("event_type") === "purchase")
    }),

    "g_t_test_preagg" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // The same Welch test served from the pair rollup: cnt-weighted
      // cents folds over |distinct (type, value)| rows, identical fixed
      // trees, identical row (shared oracle).
      val pre = query.PreAgg.increment(loadEvents(dir),
        Seq("event_type" -> col("event_type"), "value" -> col("value")))
      query.PreAgg.tTest(pre, "value",
        col("event_type") === "click", col("event_type") === "purchase")
    }),

    "g_geo_distance" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // ES geo_distance rings around the null-island origin over the
      // synthetic customer coordinates: half-open km rings, zero-count
      // rings kept, one conditionalBuckets pass (haversine tree pinned at
      // Aggs.haversineKm).
      val pts = load(dir, "customer")
        .withColumn("lat", pmod(col("c_acctbal"), lit(180)) - 90 + lit(0.001))
        .withColumn("lon", pmod(col("c_custkey"), lit(360)) - 180 + lit(0.001))
      Aggs.geoDistanceRings(pts, "lat", "lon", 0.0, 0.0,
        Seq((None, Some(2000.0)), (Some(2000.0), Some(5000.0)),
          (Some(5000.0), Some(10000.0)), (Some(10000.0), None)))
    }),

    "g_bucket_script" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // The ES bucket_script → bucket_selector → bucket_sort pipeline
      // chain over a terms+metrics parent: per-event-type average value
      // derived in-frame, low-traffic buckets kept (HAVING of the bucket
      // world), re-sorted by the derived metric. Row-local arithmetic on
      // the aggregated frame — zero additional exchanges.
      val series = Aggs.termsWithMetrics(loadEvents(dir), "event_type",
        Seq(sum(floor(col("value") * 100)).cast("long").as("cents")), 100)
      val scripted = Aggs.bucketScript(series,
        Seq("avg_value" -> ((col("cents") / 100.0) / col("count"))))
      val selected = Aggs.bucketSelector(scripted, col("count") >= lit(10L))
      Aggs.bucketSort(selected, Seq(col("avg_value").desc, col("event_type").asc),
        from = 0, size = Some(3))
    }),

    "g_cardinality" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // ES "Unique Count" (cardinality metric agg): distinct users per
      // event-type bucket, exact. The corpus-scan reference form; the
      // rollup-served twin below shares this oracle.
      Aggs.termsWithMetrics(loadEvents(dir), "event_type",
        Seq(count_distinct(col("user_id")).as("unique_user_id")), 10)
    }),

    "g_cardinality_preagg" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // The same unique-count dashboard served from the at-rest PAIR
      // rollup: with user_id a rollup dimension, rollup rows ARE the
      // distinct (event_type, user_id) pairs, so count_distinct over them
      // is exact and the serving layer is invisible to results (shared
      // oracle). Serving touches |distinct pairs| rows, never the corpus;
      // the approximate path for id spaces too large even for the pair
      // rollup is the spec-certified HLL-sketch rollup
      // (PreAgg.incrementWithSketches — ES's own cardinality sketch).
      val pre = query.PreAgg.increment(loadEvents(dir),
        Seq("event_type" -> col("event_type"), "user_id" -> col("user_id")))
      query.PreAgg.termsUniqueCount(pre, "event_type", "user_id", 10)
    }),

    "g_percentiles" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // ES "Percentiles" metric agg: exact interpolated quartiles + p95 of
      // value per event-type bucket — the corpus-scan reference form; the
      // rollup-served twin below shares this oracle.
      Aggs.termsWithMetrics(loadEvents(dir), "event_type",
        Seq(0.25, 0.5, 0.75, 0.95).map(p =>
          expr(s"percentile(value, $p)").as("p" + math.round(p * 100))), 10)
    }),

    "g_percentiles_preagg" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // The same percentile dashboard served from the at-rest PAIR rollup:
      // with value a rollup dimension, rollup rows are (bucket, value)
      // groups with multiplicities, and the frequency-weighted percentile
      // interpolates the identical rank statistic — serving is invisible
      // to results (shared oracle). The covering trade is cardinality:
      // this corpus's value column keeps ~90% distinct values, so the
      // rollup win is thin HERE — the point certified is exactness; a
      // truly continuous field routes to the KLL-sketch path the
      // dictionary already maintains.
      val pre = query.PreAgg.increment(loadEvents(dir),
        Seq("event_type" -> col("event_type"), "value" -> col("value")))
      query.PreAgg.termsPercentiles(pre, "event_type", "value",
        Seq(0.25, 0.5, 0.75, 0.95), 10)
    }),

    "g_percentile_ranks" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // ES percentile_ranks (the inverse of percentiles): fraction of
      // each bucket's values at or below 100 / 500 — the scan form,
      // pure count-ratio arithmetic.
      Aggs.termsWithMetrics(loadEvents(dir), "event_type",
        Seq(100.0, 500.0).map(v =>
          (sum(when(col("value") <= v, 1L).otherwise(0L)).cast("double") /
            count(lit(1)).cast("double")).as("rank_" + math.round(v))), 10)
    }),

    "g_percentile_ranks_preagg" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // The same ranks from the at-rest pair rollup: a weighted count
      // ratio over (bucket, value, cnt) rows — exact, no interpolation,
      // shared oracle (serving invisible).
      val pre = query.PreAgg.increment(loadEvents(dir),
        Seq("event_type" -> col("event_type"), "value" -> col("value")))
      query.PreAgg.termsPercentileRanks(pre, "event_type", "value",
        Seq(100.0, 500.0), 10)
    }),

    "g_histogram" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // ES numeric histogram bucket agg (dateHistogram's fixed-interval
      // sibling): interval-50 value buckets keyed by lower bound.
      Aggs.numericHistogram(loadEvents(dir), "value", 50.0)
    }),

    "g_histogram_preagg" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // The histogram served from the rollup: bucketing is a pure
      // function of the value dimension, so quantize-and-resum over
      // |distinct values| rows equals the corpus scan (shared oracle) —
      // the numeric twin of the geohash prefix truncation, and the same
      // one at-rest rollup serves EVERY interval.
      val pre = query.PreAgg.increment(loadEvents(dir),
        Seq("value" -> col("value")))
      query.PreAgg.numericHistogram(pre, "value", 50.0)
    }),

    "g_variable_width_histogram" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // ES variable_width_histogram, the deterministic gap-cluster form
      // (documented delta vs ES's order-dependent centroid merging):
      // clusters split where ordered cents values gap by > 50; the
      // window runs over the distinct-value table, never the corpus.
      Aggs.variableWidthHistogram(loadEvents(dir), "value", gapCents = 50L)
    }),

    "g_variable_width_histogram_preagg" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // The same clusters from the at-rest cents rollup: the kernel's
      // input IS a (v, cnt) value table, counts are sum-mergeable, so
      // the serve is corpus-scan-free (shared oracle with the scan).
      val pre = query.PreAgg.increment(
        loadEvents(dir).where(col("value").isNotNull),
        Seq("v" -> floor(col("value") * 100).cast("long")))
      query.PreAgg.variableWidthHistogram(pre, "v", gapCents = 50L)
    }),

    "g_range_buckets" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // ES range bucket agg: half-open [from, to) buckets with ES's own
      // "from-to" keys, one conditional-sum pass — never a scan per range.
      Aggs.rangeBuckets(loadEvents(dir), "value", esRanges)
    }),

    "g_filters_agg" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // ES filters bucket agg: named arbitrary widget predicates as
      // side-by-side buckets, one conditional-sum pass over the corpus.
      Aggs.filtersAgg(loadEvents(dir), Seq(
        "purchases" -> query.FilterSpec.EnumIn("event_type", Seq("purchase")),
        "big_value" -> query.FilterSpec.NumericRange("value", 100.0, 10000.0),
        "clicks_or_views" -> query.FilterSpec.EnumIn("event_type", Seq("click", "view"))))
    }),

    "g_range_buckets_preagg" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // Range buckets from the (value) rollup: conditional sums weight by
      // cnt over |distinct values| rows — shared oracle with the scan.
      val pre = query.PreAgg.increment(loadEvents(dir),
        Seq("value" -> col("value")))
      query.PreAgg.rangeBuckets(pre, "value", esRanges)
    }),

    "g_filters_agg_preagg" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // Widget-filter buckets from the (event_type, value) pair rollup:
      // each FilterSpec's fields are rollup dims (the covering contract —
      // FilterSpec.fields feeds PreAgg.covers), the predicate filters
      // rollup ROWS, counts are cnt-weighted — the dashboard's filter
      // widgets answered from doc_values at 100 TB (shared oracle).
      val pre = query.PreAgg.increment(loadEvents(dir),
        Seq("event_type" -> col("event_type"), "value" -> col("value")))
      query.PreAgg.filtersAgg(pre, Seq(
        "purchases" -> query.FilterSpec.EnumIn("event_type", Seq("purchase")),
        "big_value" -> query.FilterSpec.NumericRange("value", 100.0, 10000.0),
        "clicks_or_views" -> query.FilterSpec.EnumIn("event_type", Seq("click", "view"))))
    }),

    "g_adjacency_matrix_preagg" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // The co-occurrence matrix from the same pair rollup — zero cells
      // omitted as in the scan form (shared oracle).
      val pre = query.PreAgg.increment(loadEvents(dir),
        Seq("event_type" -> col("event_type"), "value" -> col("value")))
      query.PreAgg.adjacencyMatrix(pre, Seq(
        "purchases" -> query.FilterSpec.EnumIn("event_type", Seq("purchase")),
        "big_value" -> query.FilterSpec.NumericRange("value", 100.0, 10000.0),
        "clicks" -> query.FilterSpec.EnumIn("event_type", Seq("click"))))
    }),

    "g_top_hits" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // ES top_hits metric agg: the 3 biggest-value events per type, id
      // tiebreak — the windowed per-bucket top-k, one exchange.
      Aggs.topHits(loadEvents(dir), "event_type", desc("value"), "event_id",
        size = 3, select = Seq("event_id", "value"))
    }),

    "g_composite_pages" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // ES composite agg: the paginated full-bucket export (the shape
      // that replaces top-N terms at 100 TB — unbounded bucket spaces in
      // bounded pages, the tuple-order predicate pruning each page's
      // skipped prefix BEFORE aggregation). This query walks to page 2:
      // the after key is page 1's last bucket (a 1-page bounded collect,
      // pagination's inherent driver round-trip), and page 2 must equal
      // the oracle's ORDER BY ... OFFSET restatement.
      val ev = loadEvents(dir)
      val keys = Seq("event_type", "user_id")
      val page1 = Aggs.compositeAgg(ev, keys, size = 5).collect()
      val after = keys.indices.map(page1.last.get)
      Aggs.compositeAgg(ev, keys, size = 5, after = Some(after))
    }),

    "g_composite_pages_preagg" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // The same page-2 walk served from the at-rest rollup: the after
      // predicate prunes |distinct (type, user)| rollup rows under a
      // sum(cnt) re-aggregation — at 100 TB the full-bucket export pages
      // over the rollup, never the corpus (shared oracle with the scan
      // form, page-for-page).
      val keys = Seq("event_type", "user_id")
      val pre = query.PreAgg.increment(loadEvents(dir),
        keys.map(k => k -> col(k)))
      val page1 = query.PreAgg.compositeAgg(pre, keys, size = 5).collect()
      val after = keys.indices.map(page1.last.get)
      query.PreAgg.compositeAgg(pre, keys, size = 5, after = Some(after))
    }),

    "g_pipeline_aggs" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // ES parent-pipeline aggs (cumulative_sum / derivative / moving_avg)
      // over the daily histogram: the corpus collapses in the groupBy;
      // the ordered window then runs over the bucket-bounded series only.
      Aggs.bucketPipeline(
          Aggs.dateHistogram(loadEvents(dir), "ts", "day"),
          "bucket", "count", movingWindow = 7)
        .withColumn("bucket", date_format(col("bucket"), "yyyy-MM-dd"))
        .orderBy("bucket")
    }),

    "g_rollup_terms" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // Subtotal hierarchy over (event_type, day-of-week): one Expand, one
      // aggregation, every prefix level — the terms table's "show totals".
      Aggs.rollupCounts(
        loadEvents(dir).select(col("event_type"),
          date_format(col("ts"), "EEEE").as("dayofweek")),
        Seq("event_type", "dayofweek"))
    }),

    "g_cube_terms" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // CUBE twin: all four grouping sets, still one Expand + one agg.
      Aggs.rollupCounts(
        loadEvents(dir).select(col("event_type"),
          date_format(col("ts"), "EEEE").as("dayofweek")),
        Seq("event_type", "dayofweek"), cube = true)
    }),

    // ===== M1: dictionary profiling (A1-A2) =====

    "dict_profile_lineitem" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      Dictionary.profile(load(dir, "lineitem"))
        .select(col("dict_field"), col("dict_count"), col("dict_countdistinct"),
          col("dict_countmissing"),
          round(col("dict_mean"), 4).as("dict_mean"),
          round(col("dict_stddev"), 4).as("dict_stddev"),
          col("dict_vartype"))
        .orderBy("dict_field")
    }),

    // ===== Training-data ops: dedup =====

    "dedup_exact" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      Dedup.exact(load(dir, "documents"), Seq("text"), "doc_id")
        .groupBy("source")
        .agg(count(lit(1)).as("n_unique"))
        .orderBy("source")
    }),

    // Pair/top-k operators return unordered results (no terminal global
    // sort at scale); the deterministic ORDER BY the oracle compare needs
    // is applied here, on the small result.
    "dedup_minhash" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      Dedup.minhashNearDupPairs(load(dir, "documents"), "doc_id", "text",
          threshold = 0.4, shingleK = 2, numBands = 32, rowsPerBand = 2)
        .transform(pairSorted)
    }),

    "dedup_minhash_portable" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // The fully-oracled MinHash twin: every hash the portable md5
      // construction, band buckets compared as value vectors — the DuckDB
      // oracle reruns the whole LSH pipeline (signatures → bands →
      // candidates → verified Jaccard) bit for bit. The xxhash64 kernel
      // (dedup_minhash) stays the scale path; this entry certifies its
      // shape cross-engine.
      Dedup.minhashNearDupPairsPortable(load(dir, "documents"), "doc_id", "text",
          threshold = 0.4, shingleK = 2, numBands = 16, rowsPerBand = 2)
        .transform(pairSorted)
    }),

    "dedup_simhash" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // Hamming radius 3 over 16-bit chunks — the classic web near-dup
      // setting (Manku et al., WWW'07). 4-bit chunks at radius 12 (round 1)
      // bucket ~1/16th of the corpus per chunk value: a near-cross-join.
      Dedup.simhashNearDupPairs(load(dir, "documents"), "doc_id", "text",
        maxHamming = 3, numChunks = 4)
        .transform(pairSorted)
    }),

    "dedup_cluster_keep_portable" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // The linear-generator cluster-keep pipeline, certified end to end:
      // portable-MinHash banded pairs → connected components → smallest
      // doc_id per cluster → per-source counts, hash-matched against the
      // recursive-CTE closure over the same portable pairs. PINNED
      // 500-doc certification slice: the twin proves MECHANISM
      // equivalence (every stage cross-engine), not serving cost — the
      // scale numbers are dedup_cluster_keep_minhash's; at sf0.01 the
      // slice is the whole corpus, so certification strength is unchanged
      // while the sf0.1 bench stops paying a 10× fixture for no extra
      // proof (r14 verdict, What's wrong #2).
      val docs = load(dir, "documents").where(col("doc_id") < 500)
      val pairs = Dedup.minhashNearDupPairsPortable(docs, "doc_id", "text",
        threshold = 0.4, shingleK = 2, numBands = 16, rowsPerBand = 2)
      Dedup.keepClusterRepresentatives(docs, "doc_id", pairs)
        .groupBy("source")
        .agg(count(lit(1)).as("n_kept"))
        .orderBy("source")
    }),

    "dedup_simhash_portable" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // The fully-oracled SimHash twin: Charikar votes over the portable
      // md5 hash (52 bits), pigeonhole chunks, Hamming verify — the DuckDB
      // oracle reruns every stage bit for bit. The codegen'd 64-bit kernel
      // (dedup_simhash) stays the scale path.
      Dedup.simhashNearDupPairsPortable(load(dir, "documents"), "doc_id", "text",
          maxHamming = 3, numChunks = 4)
        .transform(pairSorted)
    }),

    "dedup_perceptual_image" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // Perceptual image dedup certified end to end: real PNG render →
      // javax.imageio decode → 64-bit dHash → pigeonhole-banded pairing →
      // Hamming verify, over the deterministic in-code media corpus (the
      // parquet testdata carries no binary media). The DuckDB oracle PINS
      // the 16 expected dHashes as literals and re-pairs them brute-force:
      // hash-match certifies BOTH the codec chain's determinism and the
      // banding's exactness (pigeonhole = no false negatives, verify = no
      // false positives ≡ the all-pairs answer).
      Multimodal.imageNearDupPairs(
          Multimodal.imageDHashes(PerceptualFixtures.imageItems(s)),
          maxHamming = 6)
        .transform(pairSorted)
    }),

    "dedup_perceptual_audio" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // The audio twin: real WAV encode → javax.sound decode → energy-
      // profile dHash → the SAME hash-kind-agnostic banded pairing. The
      // re-leveled (quarter-gain) and re-sampled (double-duration) copies
      // must hash identically — gain and duration invariance oracled.
      Multimodal.imageNearDupPairs(
          Multimodal.audioDHashes(PerceptualFixtures.audioItems(s)),
          maxHamming = 6)
        .transform(pairSorted)
    }),

    "dedup_perceptual_video" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // The video tier: real MJPEG-AVI container walk → per-frame JPEG
      // decode → frame dHashes → banded FRAME pairing → per-video-pair
      // match count. The re-muxed copy (same frame bytes, double cadence)
      // must match on all 4 frames; distinct footage matches none.
      Multimodal.videoNearDupPairs(
          Multimodal.videoFrameDHashes(
            PerceptualFixtures.videoItems(s), framesPerVideo = 4),
          maxHamming = 6, minMatchingFrames = 3)
        .transform(pairSorted)
    }),

    "dedup_ngram_jaccard" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      Dedup.ngramJaccardPairs(load(dir, "documents"), "doc_id", "text",
          threshold = 0.35, shingleK = 2)
        .transform(pairSorted)
    }),

    "dedup_tfcosine" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // Bag-of-words TF-cosine near-dups: weighs REPEATED tokens where
      // Jaccard sees shingle sets — every accumulation an exact BIGINT
      // over the inverted index, so the float score is three
      // correctly-rounded IEEE ops and hash-matches the oracle.
      Dedup.tfCosinePairs(load(dir, "documents"), "doc_id", "text", tau = 0.9)
        .transform(pairSorted)
    }),

    "dedup_containment_keep" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // The containment story end to end: winnowing fingerprint pairs →
      // connected components → keep the smallest doc_id per cluster →
      // per-source counts. Partial copies cluster with their source even
      // when whole-doc similarity is low.
      val docs = load(dir, "documents")
      val pairs = Dedup.containmentPairs(docs, "doc_id", "text",
        tau = 0.5, shingleK = 3, window = 4)
      Dedup.keepClusterRepresentatives(docs, "doc_id", pairs)
        .groupBy("source")
        .agg(count(lit(1)).as("n_kept"))
        .orderBy("source")
    }),

    "dedup_containment" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // Partial-overlap detection via winnowing fingerprints (MOSS):
      // containment normalizes by the smaller fingerprint set, catching
      // copied passages whole-doc Jaccard dilutes. Portable md5 hashing
      // end to end, so fingerprints, window minima, and the containment
      // ratio all restate in SQL.
      Dedup.containmentPairs(load(dir, "documents"), "doc_id", "text",
          tau = 0.5, shingleK = 3, window = 4)
        .transform(pairSorted)
    }),

    "dedup_ngram_prefix" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // Exact results via AllPairs/PPJoin prefix filtering: the inverted
      // index posts only each document's rarest shingles, so the
      // frequent-shingle Σ df² blowup never materializes. Registered at the
      // technique's home regime — a NEAR-DUP threshold, where the prefix is
      // short and candidates collapse (at loose thresholds the unfiltered
      // count-as-intersection join is measured faster; see the operator's
      // scaladoc crossover notes).
      Dedup.ngramJaccardPairsPrefix(load(dir, "documents"), "doc_id", "text",
          threshold = 0.8, shingleK = 2)
        .transform(pairSorted)
    }),

    "dedup_embedding" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // Exact pair generation — the correctness baseline for
      // dedup_embedding_lsh below, which is the registered 100 TB path.
      Similarity.bruteForcePairs(load(dir, "embeddings"), "vec_id", "embedding",
          threshold = 0.42)
        .transform(pairSorted)
    }),

    "dedup_embedding_lsh" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // The scale path: sign-LSH bucketed candidates (linear shuffle, no n²
      // product), exact cosine verification. Fully oracled — the seeded
      // hyperplanes are deterministic constants, so the bucket ids and the
      // 1-bit-probe candidate set are restated in SQL (lshBucketSql).
      // m=4 planes × L=3 tables: at this loose threshold (cos 0.42, sign-
      // agreement p≈0.64) per-table 1-probe recall is ~0.54, amplified to
      // ~0.90 across tables. Recall vs the brute-force baseline is pinned
      // in SimilaritySpec.
      Similarity.embeddingNearDupPairs(load(dir, "embeddings"), "vec_id", "embedding",
          threshold = 0.42, dim = 64, numPlanes = 4, numTables = 3)
        .transform(pairSorted)
    }),

    "dedup_embedding_cluster_keep" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // The embedding-side cluster story: LSH near-dup pairs → connected
      // components → keep the smallest vec_id per cluster → counts per
      // label. Composes two fully-oracled pieces (seeded-hyperplane LSH
      // candidates + recursive-CTE closure), so the whole pipeline is
      // hash-checked end to end — the vector twin of dedup_cluster_keep.
      val emb = load(dir, "embeddings")
      val pairs = Similarity.embeddingNearDupPairs(emb, "vec_id", "embedding",
        threshold = 0.42, dim = 64, numPlanes = 4, numTables = 3)
      Dedup.keepClusterRepresentatives(emb, "vec_id", pairs)
        .groupBy("label")
        .agg(count(lit(1)).as("n_kept"))
        .orderBy("label")
    }),

    // ===== Training-data ops: similarity search =====

    "ann_bruteforce" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      val emb = load(dir, "embeddings")
      val queries = emb.where(col("vec_id") < 5)
      Similarity.bruteForceTopK(emb, "vec_id", "embedding",
          queries, "vec_id", "embedding", k = 5)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("query_id", "rank")
    }),

    "ann_radius" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // ES knn `similarity` threshold (radius search): all corpus vectors
      // with cosine >= 0.30 of each query — no k bound, the threshold IS
      // the cut. Margin at the fixture: min |cos - 0.30| = 1.2e-3 at
      // sf0.01 / 5.0e-4 at sf0.1, ~12 orders above libm drift.
      val emb = load(dir, "embeddings")
      val queries = emb.where(col("vec_id") < 5)
      Similarity.bruteForceRadius(emb, "vec_id", "embedding",
          queries, "vec_id", "embedding", minCosine = 0.30)
        .orderBy("query_id", "neighbor_id")
    }),

    "ann_radius_ivf" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // The SERVING-scale radius search (round-15 verdict #3): the same
      // 0.30 threshold cut applied over the probed cells of the at-rest
      // IVF index — cell-pruned scan + hash join, no window, no full
      // scan per query batch. Same margin discipline as ann_radius
      // (min |cos − 0.30| documented there); the oracle shares the
      // ann_ivf assignment CTEs and applies the threshold predicate.
      // Recall vs bruteForceRadius is nprobe-monotone, pinned in
      // SimilaritySpec.
      val emb = load(dir, "embeddings")
      val queries = emb.where(col("vec_id") < 5)
      val cents = Similarity.kmeansCentroids(emb, "vec_id", "embedding",
        k = 8, iters = 0)
      Similarity.ivfRadius(
          Similarity.assignCells(emb, "vec_id", "embedding", cents),
          cents, queries, "vec_id", "embedding",
          minCosine = 0.30, nprobe = 3)
        .orderBy("query_id", "neighbor_id")
    }),

    "ann_matryoshka_recall" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // Matryoshka prefix-truncation recall ladder (MRL, Kusupati 2022):
      // top-10 rankings over the first 8/16/32/64 dims vs the full-dim
      // ranking — the dimension-selection report that says how much of
      // the store's 64 dims serving actually needs (row-local slice, no
      // reprojection — the MRL contract). The 64 rung is the identity
      // sanity (recall exactly 1.0); counts are integers, the one
      // division two exact small ints.
      val emb = load(dir, "embeddings")
      val queries = emb.where(col("vec_id") < 5)
      Similarity.matryoshkaRecallReport(emb, "vec_id", "embedding",
          queries, "vec_id", "embedding", k = 10, dims = Seq(8, 16, 32, 64))
        .orderBy("dim")
    }),

    "ann_random_projection" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // JL random projection (Achlioptas ±1 planes — sign literals restate
      // exactly in SQL) 64→16 dims BEFORE the quadratic stage: the cheap
      // first rung of a 100 TB vector pipeline (4× less data through every
      // downstream scan/shuffle; relative distances within (1±ε)). The
      // whole pipeline — projection then top-k in the projected space —
      // hash-matches the oracle's restatement; recall vs the full-dim
      // exact ranking is pinned in SimilaritySpec.
      val emb = load(dir, "embeddings")
      val proj = Similarity.randomProject(emb, "vec_id", "embedding",
        outDim = 16, dim = 64)
      val queries = proj.where(col("vec_id") < 5)
      Similarity.bruteForceTopK(proj, "vec_id", "vec",
          queries, "vec_id", "vec", k = 5)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("query_id", "rank")
    }),

    "ann_sq8" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // FAISS-SQ8 / ES-int8 scalar quantization: the corpus rides as
      // uint8 codes (8× smaller than float64 — the at-rest compression
      // tier of a 100 TB vector store), queries stay full-precision, and
      // serving scores dot(q, dequant(codes)) row-locally (ADC). Bounds
      // train in ONE corpus scan (2·dim map-side aggregates, no explode).
      // Every stage — bounds, codes, midpoint dequant, dot — is a fixed
      // IEEE tree the oracle replays bit for bit.
      val emb = load(dir, "embeddings")
      Similarity.sq8TopK(emb, "vec_id", "embedding",
          emb.where(col("vec_id") < 5), "vec_id", "embedding", k = 5, dim = 64)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("query_id", "rank")
    }),

    "pairs_hard_negatives" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // Contrastive-pair mining for embedding-model training data (the
      // DPR/ANCE hard-negative recipe): per anchor, the best neighbor at
      // cos ≥ 0.3 becomes the positive, the top-5 in [0.2, 0.3) the hard
      // negatives — close enough to teach the margin, below the
      // duplicate bar. Built on the exact ranking (swap in the IVF
      // retriever at corpus scale — roles and thresholds are
      // retriever-agnostic).
      val emb = load(dir, "embeddings")
      Similarity.hardNegatives(emb, "vec_id", "embedding",
          emb.where(col("vec_id") < 5), "vec_id", "embedding",
          negK = 5, posThreshold = 0.3, negFloor = 0.2)
        .orderBy("anchor_id", "role", "rank")
    }),

    "ann_sq8_incremental" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // The SQ8 bounds as a MAINTAINED at-rest table: per-epoch
      // (dim, mn, mx) increments — epoch 0 appended twice (at-least-once
      // replay) — merged by one groupBy(dim).min/max. min/max are
      // idempotent AND commutative, so replays and batch boundaries
      // vanish by ALGEBRA (no dedup machinery — the mildest maintained
      // index; bounds only WIDEN as data arrives). Serving quantizes
      // against the merged bounds, which equal from-scratch training
      // exactly — the query SHARES ann_sq8's oracle.
      val emb = load(dir, "embeddings")
      val path = s"/tmp/graft_sq8_bounds_${math.abs(dir.hashCode)}"
      def inc(epoch: Int): DataFrame =
        Similarity.sqBoundsFrame(
            emb.where(pmod(col("vec_id"), lit(2)) === epoch), "embedding", 64)
          .withColumn("inc_batch_id", lit(epoch.toLong))
      // (r18: examined — the replayed epoch-0 branch ends in the bounds
      // aggregate's exchange, which ReuseExchange dedupes at runtime; a
      // localCheckpoint here measured cost-neutral at best. Left as is.)
      inc(0).unionByName(inc(1)).unionByName(inc(0)) // epoch 0 replayed
        .write.mode("overwrite").parquet(path)
      val (mn, mx) = EventStreams.sqBoundsFromIncrements(s, path)
      Similarity.sq8TopKFromBounds(emb, "vec_id", "embedding",
          emb.where(col("vec_id") < 5), "vec_id", "embedding", k = 5, mn, mx)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("query_id", "rank")
    }),

    "ann_ivf_incremental" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // The IVF index as a MAINTAINED at-rest table (FAISS's
      // add-after-train contract): centroids train on the initial half
      // and FREEZE; both halves then join the index as epoch appends —
      // exactly what maintainIvfIndex writes per micro-batch, with epoch
      // 0 appended twice (an at-least-once replay the per-(vec, epoch)
      // dedup must absorb); serving probes the deduped at-rest index.
      // The oracle restates frozen-centroid assignment from scratch —
      // epochs, replay, and the partitioned layout must be invisible.
      val emb = load(dir, "embeddings")
      val initial = emb.where(pmod(col("vec_id"), lit(2)) === 0)
      val centroids = Similarity.kmeansCentroids(initial, "vec_id", "embedding",
        k = 8, iters = 0)
      val path = s"/tmp/graft_ivf_inc_${math.abs(dir.hashCode)}"
      def inc(epoch: Int): DataFrame =
        Similarity.assignCells(emb.where(pmod(col("vec_id"), lit(2)) === epoch),
            "vec_id", "embedding", centroids)
          .withColumn("inc_batch_id", lit(epoch.toLong))
      // r18 optimization: checkpoint the replayed epoch-0 batch (a replay
      // is a re-delivered micro-batch, not a recompute) and repartition ON
      // the cell key before the partitioned write (guide §6 — otherwise
      // every upstream task writes a file per cell directory it touches).
      // r19 A/B RE-CONFIRMED the cell repartition (unlike the postings
      // appends, whose pre-write shuffle was reverted): the checkpointed
      // upstream here is shuffle-partitions wide, so dropping it measured
      // 2.2→5.5 s / 4.7→13.7 s (compacted) and 8→755 files at sf0.1.
      val i0 = inc(0).localCheckpoint()
      i0.unionByName(inc(1)).unionByName(i0) // epoch 0 replayed
        .repartition(col("cell"))
        .write.mode("overwrite").partitionBy("cell").parquet(path)
      val index = EventStreams.ivfIndexFromIncrements(s, path)
      Similarity.ivfTopKFromIndex(index, centroids,
        emb.where(col("vec_id") < 5), "vec_id", "embedding", k = 5, nprobe = 3)
    }),

    "ann_ivf_compacted" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // ann_ivf_incremental's lifecycle driven THROUGH a compaction
      // (round-17 batch 1): epochs 0/1 append with epoch 0 replayed,
      // compactIvfIndexIncrements folds the history to the served rows
      // under the sentinel epoch (staged swap, cell layout preserved),
      // then a post-compaction epoch RE-EMITS a third of the vectors —
      // identical embeddings, so the latest-epoch cut must pick the new
      // rows AND not double-serve against the sentinel rows; any
      // mistake in the cut breaks the hash. The oracle is
      // ann_ivf_incremental's VERBATIM: compaction and the
      // post-compaction update must be invisible to serving.
      val emb = load(dir, "embeddings")
      val initial = emb.where(pmod(col("vec_id"), lit(2)) === 0)
      val centroids = Similarity.kmeansCentroids(initial, "vec_id", "embedding",
        k = 8, iters = 0)
      val path = s"/tmp/graft_ivf_cmp_${math.abs(dir.hashCode)}"
      graft.store.FsOps.fileSystem(s, path)
        .delete(new org.apache.hadoop.fs.Path(path), true)
      def inc(epoch: Long, cond: Column): DataFrame =
        Similarity.assignCells(emb.where(cond), "vec_id", "embedding", centroids)
          .withColumn("inc_batch_id", lit(epoch))
      // r18 optimization: same two fixes as ann_ivf_incremental —
      // checkpoint the replayed batch, repartition ON the cell key before
      // both partitioned appends (guide §6 small-files).
      val i0 = inc(0L, pmod(col("vec_id"), lit(2)) === 0).localCheckpoint()
      i0.unionByName(inc(1L, pmod(col("vec_id"), lit(2)) === 1))
        .unionByName(i0) // replay
        .repartition(col("cell"))
        .write.mode("append").partitionBy("cell").parquet(path)
      EventStreams.compactIvfIndexIncrements(s, path)
      inc(2L, pmod(col("vec_id"), lit(3)) === 0) // post-compaction update
        .repartition(col("cell"))
        .write.mode("append").partitionBy("cell").parquet(path)
      val index = EventStreams.ivfIndexFromIncrements(s, path)
      Similarity.ivfTopKFromIndex(index, centroids,
        emb.where(col("vec_id") < 5), "vec_id", "embedding", k = 5, nprobe = 3)
    }),

    "ann_filtered" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // ES 8 knn-with-filter, PRE-filter semantics: only candidates
      // passing the predicate compete for top-k (post-filtering an
      // unfiltered top-k silently returns < k — the recall hole the
      // pre-filter exists to close; SimilaritySpec demonstrates it).
      // Brute-force exact baseline: filter then rank.
      val emb = load(dir, "embeddings")
      val queries = emb.where(col("vec_id") < 5)
      Similarity.bruteForceTopK(
          emb.where(pmod(col("label"), lit(2)) === 0), "vec_id", "embedding",
          queries, "vec_id", "embedding", k = 5)
        .withColumn("rank", col("rank").cast("long"))
    }),

    "ann_ivf_filtered" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // The scale path: the IVF index is built ONCE over the full corpus
      // (centroids shared by every filtered and unfiltered query, ES's
      // own shared-HNSW shape), and the filter prunes the CANDIDATE set
      // before ranking — cell assignment against frozen centroids is
      // row-local, so filtering before assignment equals filtering the
      // at-rest index rows.
      val emb = load(dir, "embeddings")
      val queries = emb.where(col("vec_id") < 5)
      val centroids = Similarity.kmeansCentroids(emb, "vec_id", "embedding",
        k = 8, iters = 0, seed = 42)
      val index = Similarity.assignCells(
        emb.where(pmod(col("label"), lit(2)) === 0), "vec_id", "embedding", centroids)
      Similarity.ivfTopKFromIndex(index, centroids,
          queries, "vec_id", "embedding", k = 5, nprobe = 3)
        .withColumn("rank", col("rank").cast("long"))
    }),

    "ann_ivf" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // IVF coarse quantization, fully oracled at refineIters=0: the init
      // centroids are the nlist corpus vectors with the smallest seeded
      // md5-unit hash (hashUnitSql restates the selection), and cell
      // assignment is a row_number()=1 argmax over inlined cosine — the
      // same bit-stable dot products the brute-force oracle relies on.
      // Recall vs brute force is additionally pinned in SimilaritySpec.
      val emb = load(dir, "embeddings")
      val queries = emb.where(col("vec_id") < 5)
      Similarity.ivfTopK(emb, "vec_id", "embedding",
          queries, "vec_id", "embedding", k = 5, nlist = 8, nprobe = 3)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("query_id", "rank")
    }),

    "ann_ivf_nlist256" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // The realistic-nlist IVF build+query (256 cells, k-means refine):
      // the bench pin for the codegen'd cell-assignment kernel — at this
      // nlist the interpreted HOF formulation it replaced was the hot loop.
      // Fully oracled: the refine's cell means fold in ascending-id order
      // (Similarity.orderedCellMean), so the refined centroids reproduce
      // bit for bit in DuckDB's ordered list_reduce restatement.
      val emb = load(dir, "embeddings")
      val queries = emb.where(col("vec_id") < 5)
      Similarity.ivfTopK(emb, "vec_id", "embedding",
          queries, "vec_id", "embedding", k = 5, nlist = 256, nprobe = 16,
          refineIters = 1)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("query_id", "rank")
    }),

    "ann_ivf_sampled" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // The 100 TB-shaped index BUILD: k-means refinement trains on a
      // trainingFrame-bounded deterministic sample (the FAISS discipline —
      // an index trains on ≤ ~256·nlist points, never the corpus), so the
      // ordered-fold cell means buffer ~trainCap/nlist vectors instead of
      // ~n/nlist. Fully oracled: the sample is a portable md5-unit
      // threshold (trainingFramePredSql), the refine round replays over
      // exactly the sampled rows, and serving assigns the full corpus
      // against the frozen refined centroids.
      val emb = load(dir, "embeddings")
      val queries = emb.where(col("vec_id") < 5)
      Similarity.ivfTopK(emb, "vec_id", "embedding",
          queries, "vec_id", "embedding", k = 5, nlist = 8, nprobe = 3,
          refineIters = 1, trainCap = 200)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("query_id", "rank")
    }),

    "ann_ivfpq_nlist256" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // The realistic-nlist IVF-PQ build+query (256 cells, k-means refine,
      // 16 probes): the bench pin for the ADC path's codegen where it
      // matters — codebook build, per-row coarse + 8 subspace argmins, and
      // LUT-sum scoring all at serving scale. Fully oracled: coarse AND
      // per-subspace codebook refinement both fold in ascending-id order
      // (Similarity.orderedCellMean), bit-reproducible in DuckDB.
      val emb = load(dir, "embeddings")
      val queries = emb.where(col("vec_id") < 5)
      Similarity.ivfPqTopK(emb, "vec_id", "embedding",
          queries, "vec_id", "embedding", k = 5, dim = 64,
          nlist = 256, nprobe = 16, m = 8, ksub = 16, refineIters = 1)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("query_id", "rank")
    }),

    "ann_ivfpq_rerank" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // FAISS IndexRefine shape: the compressed ADC scan nominates
      // k×4 candidates, only those rejoin full-precision vectors for an
      // exact cosine re-rank — recall recovered at k·refineFactor exact
      // dots per query instead of |corpus|. Fully oracled: the candidate
      // pipeline is the proven ann_ivfpq SQL as a CTE, the re-rank the
      // proven ann_bruteforce scoring shape over candidates only.
      val emb = load(dir, "embeddings")
      val queries = emb.where(col("vec_id") < 5)
      Similarity.ivfPqTopKRerank(emb, "vec_id", "embedding",
          queries, "vec_id", "embedding", k = 5, dim = 64,
          nlist = 8, nprobe = 3, m = 8, ksub = 16, refineFactor = 4)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("query_id", "rank")
    }),

    "join_salted" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // Manual hot-key spread (the skew tool for when broadcast doesn't fit
      // and AQE splitting can't help a single flooding key): fact rows join
      // the dimension through (key, salt). Same rows as the plain
      // equi-join — oracled as one.
      val li = load(dir, "lineitem")
      val ord = load(dir, "orders")
        .select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority"))
      ops.Joins.saltedEquiJoin(li, ord, Seq("l_orderkey"), saltBy = "l_partkey", numSalts = 8)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"), round(sum(col("l_extendedprice")), 2).as("revenue"))
        .orderBy("o_orderpriority")
    }),

    "join_keyskew" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // The skew diagnostic that decides whether salting is worth it, run
      // as a first-class oracled query: top-10 heaviest supplier keys of
      // lineitem with each key's share of the table. Plan shape pinned in
      // JoinsSpec: partial top-n + broadcast scalar total over ONE reused
      // groupBy exchange — no unpartitioned window, no second scan.
      ops.Joins.keyskewProfile(load(dir, "lineitem"), Seq("l_suppkey"), n = 10)
    }),

    "join_bucketed" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // Co-located join through the bucketed layout (TableStore
      // .saveAsBucketedTable): both sides pre-hashed into the same bucket
      // scheme on the join key at WRITE time, so the sort-merge join reads
      // bucket pairs directly — no exchange on either side of the join
      // (pinned in PlanSpec "co-bucketed tables join without an exchange").
      // This is the 100 TB layout for keys joined repeatedly (a document
      // table against its per-document feature tables): the shuffle is paid
      // once at ingest, then every join of the pair is shuffle-free.
      // Layout is invisible to results — oracled as the plain equi-join.
      val db = s"graft_bkt_${math.abs(dir.hashCode)}"
      if (!s.catalog.tableExists(s"`$db`.orders_b")) {
        s.sql(s"CREATE DATABASE IF NOT EXISTS `$db`")
        store.TableStore.saveAsBucketedTable(
          load(dir, "orders").select("o_custkey", "o_totalprice"),
          db, "orders_b", Seq("o_custkey"), numBuckets = 8,
          sortBy = Seq("o_custkey"))
        store.TableStore.saveAsBucketedTable(
          load(dir, "customer").select("c_custkey", "c_mktsegment"),
          db, "customer_b", Seq("c_custkey"), numBuckets = 8,
          sortBy = Seq("c_custkey"))
      }
      val ord = s.table(s"`$db`.orders_b")
      val cust = s.table(s"`$db`.customer_b")
      // MERGE hint: these sides are broadcast-sized at test SF, but the
      // layout exists for when neither side broadcasts — exercise that plan.
      cust.hint("MERGE").join(ord, cust("c_custkey") === ord("o_custkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_orders"),
          round(sum(col("o_totalprice")), 2).as("total_spend"))
        .orderBy("c_mktsegment")
    }),

    "ann_ivfpq" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // IVF-PQ: coarse cells bound candidates; scoring reads m=8 one-byte
      // codes per vector through a per-query ADC lookup table — the corpus
      // vectors are dropped at encode time (dim=64 floats -> 8 codes, the
      // 100 TB memory story). Fully oracled at refineIters=0: sampled
      // codebooks, bit-stable L2 argmin codes, fixed-fold ADC sum — every
      // stage restated in SQL (see the ann_ivfpq oracle builder).
      val emb = load(dir, "embeddings")
      val queries = emb.where(col("vec_id") < 5)
      Similarity.ivfPqTopK(emb, "vec_id", "embedding",
          queries, "vec_id", "embedding", k = 5, dim = 64,
          nlist = 8, nprobe = 3, m = 8, ksub = 16)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("query_id", "rank")
    }),

    "join_rolling_features" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // Point-in-time-correct training-example assembly (the feature-
      // store discipline): one example per click carrying the user's
      // strictly-earlier 7-day purchase count and cent-sum plus a
      // strictly-later 3-day conversion label — ONE entity exchange, two
      // RANGE frames over one sort; same-ms outcomes excluded from both
      // sides (neither safe past nor caused future). Values aggregate as
      // floor-cents so frame-order float addition cannot smear a ulp.
      ops.Features.rollingExamples(loadEvents(dir), "user_id", "ts",
          anchorCond = col("event_type") === "click",
          outcomeCond = col("event_type") === "purchase",
          valueCol = floor(col("value") * 100),
          featureWindowMs = 7L * 24 * 3600 * 1000,
          labelWindowMs = 3L * 24 * 3600 * 1000,
          carry = Seq("event_id"))
        .orderBy("event_id")
    }),

    "join_rolling_features_chunked" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // The mega-entity-safe execution of the same assembly: the window
      // partitions by (user, 7-day chunk) with halo replication across
      // boundaries, so one pathological entity's ordered pass spreads
      // over span/chunk tasks instead of serializing — and the result is
      // row-identical (same oracle text as join_rolling_features).
      ops.Features.rollingExamples(loadEvents(dir), "user_id", "ts",
          anchorCond = col("event_type") === "click",
          outcomeCond = col("event_type") === "purchase",
          valueCol = floor(col("value") * 100),
          featureWindowMs = 7L * 24 * 3600 * 1000,
          labelWindowMs = 3L * 24 * 3600 * 1000,
          carry = Seq("event_id"),
          chunkMs = 7L * 24 * 3600 * 1000)
        .orderBy("event_id")
    }),

    "join_range" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // Interval-overlap join via the binning rewrite (hash join on
      // (user, hour-bin), never a per-key nested loop): each user's click
      // sessions [ts, ts+30min] against purchase sessions [ts, ts+30min].
      // Bounds are epoch ms — unix_micros div 1000 here, epoch_ms() in the
      // oracle, identical integers — and the oracle is the naive all-pairs
      // predicate, so the dedup-free binning is cross-checked pair-exact.
      val ev = loadEvents(dir)
      val tsMs = expr("unix_micros(ts) div 1000L")
      val clicks = ev.where(col("event_type") === "click").select(
        col("event_id").as("click_id"), col("user_id"),
        tsMs.as("c_start"), (tsMs + lit(1800000L)).as("c_end"))
      val purchases = ev.where(col("event_type") === "purchase").select(
        col("event_id").as("purchase_id"), col("user_id"),
        tsMs.as("p_start"), (tsMs + lit(1800000L)).as("p_end"))
      ops.Joins.rangeJoin(clicks, purchases, Seq("user_id"),
          "c_start", "c_end", "p_start", "p_end", binWidth = 3600000L)
        .select(col("click_id"), col("purchase_id"), col("user_id"),
          (least(col("c_end"), col("p_end")) -
            greatest(col("c_start"), col("p_start"))).as("overlap_ms"))
        .orderBy("click_id", "purchase_id")
    }),

    "join_asof_forward" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // Forward as-of: each click joins the user's NEXT purchase at-or-
      // after its timestamp within a 7-day lookahead (time-to-conversion
      // attachment). Same one-exchange union-and-fill sweep, traversed
      // descending; oracle is the mirrored LATERAL (ts ASC LIMIT 1).
      val ev = loadEvents(dir)
      val clicks = ev.where(col("event_type") === "click")
        .select("event_id", "user_id", "ts")
      val purchases = ev.where(col("event_type") === "purchase")
        .select("user_id", "ts", "event_id", "value")
      ops.Joins.asOfJoinForward(clicks, purchases, Seq("user_id"), "ts", "ts",
          rightPayload = Seq("value"),
          tolerance = Some(expr("INTERVAL 7 DAYS")),
          rightTieBreak = Some("event_id"))
        .select(
          col("event_id"), col("user_id"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts"),
          col("asof_value"),
          date_format(col("asof_ts"), "yyyy-MM-dd HH:mm:ss").as("asof_ts"))
        .orderBy("event_id")
    }),

    "join_asof" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // Point-in-time enrichment (leakage-free feature attachment): each
      // click joins the user's LATEST purchase at-or-before its timestamp,
      // within a 7-day lookback. Union-and-fill: ONE hash exchange on
      // user_id + a per-key sort — no range-join candidate blow-up. The
      // oracle is a genuinely different algorithm (DuckDB LATERAL top-1
      // lookup per row), so the window construction is cross-checked, not
      // restated. Timestamps project to whole-second strings (the events-
      // table convention — ns vs µs precision differs by engine).
      val ev = loadEvents(dir)
      val clicks = ev.where(col("event_type") === "click")
        .select("event_id", "user_id", "ts")
      val purchases = ev.where(col("event_type") === "purchase")
        .select("user_id", "ts", "event_id", "value")
      ops.Joins.asOfJoin(clicks, purchases, Seq("user_id"), "ts", "ts",
          rightPayload = Seq("value"),
          tolerance = Some(expr("INTERVAL 7 DAYS")),
          rightTieBreak = Some("event_id"))
        .select(
          col("event_id"), col("user_id"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts"),
          col("asof_value"),
          date_format(col("asof_ts"), "yyyy-MM-dd HH:mm:ss").as("asof_ts"))
        .orderBy("event_id")
    }),

    "layout_zorder" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // The Z-order layout key for (user, time-of-day) locality: modulo-
      // bucket the id dimension, range-bucket minute-of-day, interleave
      // bits (store.Layout). The write path (repartitionByRange + sort)
      // is pinned by LayoutSpec's file-envelope test; this query oracles
      // the arithmetic every file boundary then derives from — pure
      // integer shift/mask algebra, bit-identical across engines.
      import graft.store.Layout
      val ev = loadEvents(dir)
      val ub = pmod(col("user_id"), lit(256L))
      val tb = Layout.bucketize(hour(col("ts")) * 60 + minute(col("ts")), 0, 1439, 8)
      ev.select(
          col("event_id"),
          ub.as("ub"),
          tb.as("tb"),
          Layout.zValue(Seq(ub, tb), 8).as("z"))
        .orderBy("event_id")
    }),

    "sample_embedding_percell" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // Diversity sampling: equal per-cell budget over the IVF quantizer
      // cells — preserves rare-cluster coverage where a uniform sample
      // collapses onto dense modes. Fully oracled at refineIters=0 (the
      // centroid init, cell argmin, and hash-order keep are all
      // SQL-expressible — same construction as ann_ivf).
      Similarity.cellStratifiedSample(load(dir, "embeddings"), "vec_id", "embedding",
          nlist = 8, perCell = 4)
        .orderBy("cell", "vec_id")
    }),

    "ann_lsh" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // Fully oracled: the seeded hyperplanes are deterministic constants,
      // so bucket ids and the 1-bit-probe candidate predicate
      // (hamming(bucket_c, bucket_q) <= 1) restate in SQL exactly as for
      // dedup_embedding_lsh; ranking is the same bit-stable cosine +
      // row_number() construction as ann_bruteforce.
      val emb = load(dir, "embeddings")
      val queries = emb.where(col("vec_id") < 5)
      Similarity.lshTopK(emb, "vec_id", "embedding",
          queries, "vec_id", "embedding", k = 5, dim = 64, numPlanes = 6)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("query_id", "rank")
    }),

    "ann_lsh_probe" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // The 2-bit multi-probe recall dial: queries also visit every bucket
      // within 2 sign flips (1 + 6 + C(6,2) = 22 probes of an ids-only
      // stream), recovering neighbors that 1-bit probing misses. The
      // oracle's candidate predicate is the symmetric hamming distance
      // <= 2 over the same inlined seeded hyperplane buckets.
      val emb = load(dir, "embeddings")
      val queries = emb.where(col("vec_id") < 5)
      Similarity.lshTopK(emb, "vec_id", "embedding",
          queries, "vec_id", "embedding", k = 5, dim = 64, numPlanes = 6,
          probeBits = 2)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("query_id", "rank")
    }),

    // ===== Training-data ops: text analysis =====

    "text_profile" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      val c = col("text")
      load(dir, "documents").select(
        col("doc_id"),
        // Ratio columns stay UNROUNDED: both engines compute bit-identical
        // doubles from identical expression trees, while round() on the
        // small-rational grid these land on (p/q, tiny q) hits .xxx5 ties
        // that the two engines' round() break differently.
        TextAnalysis.tokenCount(c).cast("long").as("token_count"),
        TextAnalysis.bpeTokenEstimate(c).cast("long").as("bpe_token_estimate"),
        TextAnalysis.punctRatio(c).as("punct_ratio"),
        TextAnalysis.stopwordRatio(c).as("stopword_ratio"),
        TextAnalysis.meanTokenLength(c).as("mean_token_length"),
        TextAnalysis.qualityScore(c).as("quality_score"))
        .orderBy("doc_id")
    }),

    "text_langid" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      load(dir, "documents")
        .withColumn("lang_pred", TextAnalysis.languageId(col("text")))
        .groupBy("lang_pred")
        .agg(count(lit(1)).as("n"))
        .orderBy("lang_pred")
    }),

    "text_content_fingerprint" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // Portable md5 form so DuckDB can oracle it; the xxhash64 variant
      // (same normalization) drives exactByFingerprint and is spec-tested.
      // RENAMED from text_fingerprint in round 17: the ES fingerprint-
      // ANALYZER query later registered under the same key, and the Map
      // literal's last-wins rule silently shadowed THIS dedup-tier
      // content-fingerprint pair from that round on — found the moment
      // the registry construction started rejecting duplicates.
      load(dir, "documents")
        .select(col("doc_id"), TextAnalysis.contentFingerprintHex(col("text")).as("fingerprint"))
        .orderBy("doc_id")
    }),

    "quality_classifier_score" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // Classifier distillation (CCNet-style): train integer odds-ratio
      // token weights on the exact length weak label, score every document
      // — training end to end IN the oracle, no model file. Weights are
      // floor-div-quantized log-odds (positive operands, so Spark's
      // truncating `div` ≡ DuckDB's flooring `//`), scores BIGINT tf·w
      // sums: the whole train-then-score pipeline hash-matches.
      ops.QualityModel.distill(load(dir, "documents"), "doc_id", "text",
          ops.QualityModel.lengthLabel(col("text")), minDf = 2)
        .orderBy("doc_id")
    }),

    "quality_classifier_holdout" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // The deployment contract: weights trained on one (hash-sampled)
      // split are a FROZEN model applied to unseen rows — the daily-ingest
      // scoring pass. Same integer-exact pipeline; the split is the
      // portable md5 unit hash, so the oracle reproduces membership
      // exactly.
      val docs = load(dir, "documents")
      val train = ops.Sampling.hashSample(docs, "doc_id", 0.6, seed = 7)
      val holdout = docs.join(train.select("doc_id"), Seq("doc_id"), "left_anti")
      val weights = ops.QualityModel.trainTokenWeights(train, "doc_id", "text",
        ops.QualityModel.lengthLabel(col("text")), minDf = 2)
      ops.QualityModel.scoreDocs(holdout, "doc_id", "text", weights)
        .orderBy("doc_id")
    }),

    "quality_classifier_auc" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // The evaluation row the holdout run should end with: ROC AUC of
      // the frozen classifier's integer scores against the truth labels
      // on unseen rows — Mann-Whitney rank sums with exact average-rank
      // tie handling (every addend a multiple of 0.5, order-free exact).
      val docs = load(dir, "documents")
      val train = ops.Sampling.hashSample(docs, "doc_id", 0.6, seed = 7)
      val holdout = docs.join(train.select("doc_id"), Seq("doc_id"), "left_anti")
      val weights = ops.QualityModel.trainTokenWeights(train, "doc_id", "text",
        ops.QualityModel.lengthLabel(col("text")), minDf = 2)
      val scoredH = ops.QualityModel.scoreDocs(holdout, "doc_id", "text", weights)
      val truth = holdout.select(col("doc_id"),
        ops.QualityModel.lengthLabel(col("text")).as("actual"))
      ops.QualityModel.auc(scoredH.join(truth, "doc_id"), "score", "actual")
    }),

    "quality_classifier_report" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // The holdout report card: confusion cells + accuracy, precision,
      // recall, F1, and Cohen's kappa (honest under class imbalance) —
      // every metric one fixed tree over four integer cells.
      val docs = load(dir, "documents")
      val train = ops.Sampling.hashSample(docs, "doc_id", 0.6, seed = 7)
      val holdout = docs.join(train.select("doc_id"), Seq("doc_id"), "left_anti")
      val weights = ops.QualityModel.trainTokenWeights(train, "doc_id", "text",
        ops.QualityModel.lengthLabel(col("text")), minDf = 2)
      val scoredH = ops.QualityModel.scoreDocs(holdout, "doc_id", "text", weights)
      val truth = holdout.select(col("doc_id"),
        ops.QualityModel.lengthLabel(col("text")).as("actual"))
      ops.QualityModel.classifierReport(
        scoredH.join(truth, "doc_id"), "predicted", "actual")
    }),

    "quality_lm_score" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // Label-free quality signal (CCNet's other half): a bigram LM
      // trained on the corpus itself scores every document's
      // bits-per-bigram — the integer twin of log2 perplexity. Training
      // is one bigram exchange; the pruned model broadcasts; costs are
      // ilog2 (= length(bin(n))) integers, so train-and-score restates
      // end to end in the oracle and hash-matches.
      ops.NgramLm.perplexityScore(load(dir, "documents"), "doc_id", "text",
          minCount = 2)
        .orderBy("doc_id")
    }),

    "quality_lm_filter" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // The two-sided perplexity gate over the same self-trained model:
      // cut the template-flat head AND the never-seen-transitions tail,
      // keep the natural-prose band. Integer bounds on the integer rate —
      // the kept set is exact cross-engine.
      ops.NgramLm.perplexityFilter(load(dir, "documents"), "doc_id", "text",
          minBitsPer1k = 3000L, maxBitsPer1k = 4500L, minCount = 2)
        .select(col("doc_id"), col("source"))
        .orderBy("doc_id")
    }),

    "quality_ml_select" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // Moore-Lewis cross-entropy-difference selection (Moore & Lewis
      // 2010): corpus-trained vs in-domain-trained (lang = 'en') bigram
      // models, rank documents by target_bits - corpus_bits ascending —
      // the most-target-like head. Both rates integer, delta exact.
      ops.NgramLm.contrastScores(load(dir, "documents"), "doc_id", "text",
          targetPred = col("lang") === "en", minCount = 2)
        .orderBy(asc("ml_delta"), asc("doc_id"))
        .limit(50)
    }),

    "q_ltr_features" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // ES LTR feature logging: per hit in the result window, the raw
      // ranking features (per-term TF, per-term IDF, doc length, BM25
      // total — shared trees with the serving scorer) joined with the
      // judged label. The log IS reranker training data — the search
      // tier feeding the training-data tier.
      import graft.expr.TextMatch
      val docs = load(dir, "documents")
      val judged = docs.where(TextMatch.containsToken(col("text"), "dup"))
        .select("doc_id")
      graft.query.Ltr.logFeatures(docs, "doc_id", "text",
        "dup vector scan", judged, k = 15)
    }),

    "q_rank_eval" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // ES rank_eval: score the search_bm25 run against a judged set
      // (docs containing the rare term 'dup') — precision/recall@15,
      // MRR, binary-gain NDCG@15. The offline ranking regression test.
      import graft.expr.TextMatch
      val docs = load(dir, "documents")
      // (r18: examined — checkpointing the run + judged set measured 2.3×
      // WORSE: RankEval's duplicated subtrees end in exchanges (the
      // judged-set distinct, the BM25 stats broadcast) that ReuseExchange
      // already dedupes inside the one evaluation job, and the eager
      // checkpoints serialized what previously overlapped. Left lazy.)
      val run = graft.query.Bm25.topKRaw(docs, "doc_id", "text",
        "dup vector scan", k = 15)
      val relevant = docs.where(TextMatch.containsToken(col("text"), "dup"))
        .select("doc_id")
      graft.query.RankEval.evaluate(run, "doc_id", "score", relevant, k = 15)
    }),

    "text_unigram_segment" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // SentencePiece-style unigram segmentation (Kudo 2018), the other
      // tokenizer family beside BPE: corpus-substring piece vocabulary
      // with integer ilog2 costs, per-word Viterbi decode packed into
      // single-long DP values (cost first, fewest pieces tiebreak) —
      // fully replayed in the oracle via unrolled position CTEs.
      ops.Unigram.segmentCounts(load(dir, "documents"), "doc_id", "text",
          maxPieceLen = 4, minCount = 2, maxWordLen = 16)
        .orderBy("doc_id")
    }),

    "text_chunk_windows" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // Overlapping 64-token windows with 16-token overlap — the RAG/
      // embedding chunking pass. Row-local explode, no shuffle; integer
      // offsets restated verbatim in the oracle.
      ops.TextAnalysis.chunkTokenWindows(load(dir, "documents"),
          "doc_id", "text", chunkTokens = 64, overlap = 16)
        .orderBy("doc_id", "chunk")
    }),

    "vocab_topk" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // Corpus vocabulary via the mergeable frequent-items sketch — exact
      // here (distinct terms ≪ maxTracked), so the plain GROUP BY oracle
      // hash-matches; deterministic re-sort before the k cut.
      ops.TextAnalysis.vocabTopK(load(dir, "documents"), "text", k = 10)
    }),

    "vocab_topk_incremental" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // The maintenance contract: accumulate per ingest batch (the doc_id
      // parity halves), combine sketch states, estimate — must equal the
      // whole-corpus vocab_topk bit for bit while only ever aggregating
      // the new batch.
      val docs = load(dir, "documents")
      val states = Seq(
        ops.TextAnalysis.vocabState(docs.where(col("doc_id") % 2 === 0), "text"),
        ops.TextAnalysis.vocabState(docs.where(col("doc_id") % 2 === 1), "text"))
      ops.TextAnalysis.vocabMerge(states, k = 10)
    }),

    "vocab_bpe_merges" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // BPE tokenizer training (Sennrich 2016): the corpus collapses to
      // word frequencies in ONE exchange, then every merge iteration runs
      // over the vocab-sized table — per-iteration cost independent of
      // corpus size. The oracle replays all 8 iterations verbatim
      // (overlapping get_stats counts, leftmost non-overlapping replace
      // via the two-space symbol encoding, count-then-pair tiebreak).
      ops.Bpe.mergeTable(load(dir, "documents"), "text",
        numMerges = 8, minPairCount = 2L)
    }),

    "text_bpe_tokens" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // The learned tokenizer applied back to the corpus: distinct words
      // segmented once (vocab-sized regex work), word -> piece-count
      // broadcast, one per-doc aggregation — the token-budget currency of
      // the selection/packing stages, in the corpus's own BPE.
      val docs = load(dir, "documents")
      val merges = ops.Bpe.trainMerges(docs, "text", numMerges = 8, minPairCount = 2L)
      ops.Bpe.tokenCounts(docs, "doc_id", "text", merges)
        .orderBy("doc_id")
    }),

    "text_repetition" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // Gopher-style repetition quality signals, one row-local codegen'd
      // kernel pass per n (no shuffle at any corpus size): top-2/3-gram
      // character fractions, duplicated-5-gram character fraction, and the
      // line-duplication fractions (constant 0 on this single-line corpus —
      // the multi-line path is spec-pinned on fixtures in GramStatsSpec).
      ops.TextAnalysis.repetitionProfile(load(dir, "documents"), "text")
        .select("doc_id", "top2gram_char_frac", "top3gram_char_frac",
          "dup5gram_char_frac", "dup_line_frac", "dup_line_char_frac")
        .orderBy("doc_id")
    }),

    "drift_report" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // Snapshot drift dashboard: the even-id half of the corpus vs the
      // odd-id half over three bucketings (language, source, token-count
      // decade) — TVD + symmetric chi-square per feature, each side one
      // map-side-combined histogram, compare = a bucket-sized outer join.
      val docs = load(dir, "documents")
      val a = docs.where(pmod(col("doc_id"), lit(2)) === 0)
      val b = docs.where(pmod(col("doc_id"), lit(2)) === 1)
      ops.Drift.driftReport(a, b, Seq(
          "lang" -> col("lang"),
          "source" -> col("source"),
          "tok_decade" ->
            (floor(ops.TextAnalysis.tokenCount(col("text")) / 10) * 10)))
        .orderBy("feature")
    }),

    "pack_length_bins" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // Homogeneous batching: same-length docs fill bins of
      // seqLen div L docs (no splits, no mixed lengths, zero intra-bin
      // padding); rank within a length group is seeded-hash order via
      // the bucketed two-phase prefix rank, so a head length never
      // serializes into one window task.
      ops.Packing.lengthGroupedBins(load(dir, "documents"), "doc_id",
          ops.TextAnalysis.tokenCount(col("text")), seqLen = 256, numBuckets = 8)
        .orderBy("doc_id")
    }),

    "pipeline_spans" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // The ExactSubstr curation chain composed end-to-end: exact dedup
      // first (smallest doc id survives per normalized content — full
      // copies would otherwise annihilate each other in the span pass),
      // alignment-free duplicate-span removal over the survivors, a
      // ≥10-surviving-tokens floor, then per-source kept/cut token
      // accounting — the shape a 100 TB curation run reports per domain.
      val docs = load(dir, "documents")
      val unique = ops.Dedup.exactByFingerprint(docs, "text", "doc_id")
      val cleaned = ops.Dedup.duplicateSpanRemoval(unique, "doc_id", "text",
        minLen = 8, carry = Seq("source"))
      cleaned.where(col("n_tokens") - col("n_removed") >= 10)
        .groupBy("source")
        .agg(count(lit(1)).as("docs"),
          sum(col("n_tokens") - col("n_removed")).as("tokens_kept"),
          sum(col("n_removed")).as("tokens_cut"))
        .orderBy("source")
    }),

    "pipeline_curate" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // The round-12 CURATION pipeline composed end-to-end, every stage
      // an already-oracled operator: document-shape gate (Gopher metrics
      // at corpus-appropriate thresholds — the full battery's stopword
      // floor would empty this synthetic vocabulary) → DSIR importance
      // selection toward the English target (top-200 by integer bits
      // rate) → temperature mixing over languages (α=0.5, sqrt-exact) →
      // length-grouped bin packing → per-language manifest. The oracle
      // replays the whole chain from the shared CTE fragments.
      val docs = load(dir, "documents")
      val gated = ops.TextAnalysis.gopherProfile(docs, "text")
        .where(col("word_count") >= 30 && col("alpha_word_frac") >= 0.8)
        .select(docs.columns.map(col): _*)
      // The 200-row selection head is checkpointed (r18 optimization —
      // guide §2.4 "remove shuffles outright"/§1.2 "don't recompute"):
      // downstream, mixTemperature's counting collect, lengthGroupedBins'
      // two-phase prefix (which references its input twice), and the final
      // manifest join would otherwise each re-execute the DSIR model+score
      // DAG (2 corpus scans with bigram explodes per execution — 8 scans
      // measured in the lazy plan). The checkpoint is BOUNDED at the
      // selection size (200 rows) — scale-safe at any corpus, unlike
      // persisting a corpus-sized frame.
      val selected = ops.Sampling.importanceScores(gated, "doc_id", "text",
          targetCond = col("lang") === "en", carry = Seq("lang", "text"))
        .orderBy(desc("bits_per_1k"), col("doc_id"))
        .limit(200)
        .localCheckpoint()
      val mixed = ops.Sampling.mixTemperature(selected, "doc_id", "lang", alpha = 0.5)
      val binned = ops.Packing.lengthGroupedBins(mixed, "doc_id",
        ops.TextAnalysis.tokenCount(col("text")), seqLen = 256, numBuckets = 8)
      binned.join(mixed.select("doc_id", "lang"), Seq("doc_id"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          count_distinct(struct(col("n_tok"), col("bin"))).as("n_bins"),
          sum("n_tok").as("n_tokens"))
        .orderBy("lang")
    }),

    "pipeline_assemble" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // This round's full corpus-ASSEMBLY story in one DAG: quality floor
      // (row-local, fused into the scan) → boilerplate-gram filter (Zipf
      // head broadcast) → repeated-segment cut (documents EDITED, not just
      // selected) → exact dedup of the rebuilt texts → per-source token
      // budget (bucketed prefix sum) → epoch shard assignment → per
      // (source, shard) manifest. Every stage is an already-oracled
      // operator; this oracles the COMPOSITION, rebuilt texts and all.
      val docs = load(dir, "documents")
      val quality = docs.where(TextAnalysis.qualityScore(col("text")) >= 0.5)
      // Deliberately LAZY end to end: the self-joining stages re-derive
      // their upstream (the plan scans `documents` 18×), but every
      // duplicated subtree is codegen'd row-local work off a columnar
      // scan — measured A/B at sf0.1, recomputation (4.7 s) beats
      // persist-scratch + eager-checkpoint hygiene (5.4 s), because the
      // persisted intermediates are corpus-sized TEXT frames whose
      // materialize+read costs more than their recompute. The hygiene
      // pattern stays the right call where scratch is expensive to rebuild
      // (PPJoin postings, IVF-PQ residuals); a 100 TB assembly run that
      // wants single-execution stages checkpoints noBp/deduped to the
      // at-rest store it is publishing to anyway — that deployment shape
      // is `pipeline_assemble_published` below, same oracle, plan pinned
      // to read the published tables.
      val noBp = TextAnalysis.boilerplateFilter(quality, "doc_id", "text",
        n = 3, minDocFrac = 0.01, maxRatio = 0.35)
      val seg = Dedup.repeatedSegmentFilter(noBp, "doc_id", "text",
          window = 8, maxOccurrences = 1, carry = Seq("source"))
        .where(col("n_kept") > 0)
        .select("doc_id", "source", "text")
      val deduped = Dedup.exactByFingerprint(seg, "text", "doc_id")
      val budgeted = ops.Sampling.tokenBudgetSelect(deduped, "doc_id", "source",
        TextAnalysis.tokenCount(col("text")), budget = 400L, numBuckets = 8)
      ops.Packing.shardAssignments(budgeted, "doc_id", 4)
        .groupBy("source", "shard")
        .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_tokens"))
        .orderBy("source", "shard")
    }),

    "pipeline_assemble_published" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // pipeline_assemble's 100 TB DEPLOYMENT shape: the scaladoc above
      // routes big runs to checkpointing the rebuilt-text stage boundaries
      // to the at-rest store the run is publishing to anyway — this query
      // IS that shape, tested. The two frames the lazy DAG re-derives most
      // (the boilerplate-filtered corpus and the deduped rebuilt texts) are
      // written as parquet tables and every downstream stage reads the
      // PUBLISHED table, so each stage executes once: the plan under the
      // final manifest has parquet leaves on the published store, not 18
      // scans of `documents` (pinned in PlanSpec). Same stages, same rows —
      // the oracle is pipeline_assemble's verbatim, because the at-rest
      // layout must be invisible to results.
      val docs = load(dir, "documents")
      val store = s"/tmp/graft_assemble_pub_${math.abs(dir.hashCode)}"
      val quality = docs.where(TextAnalysis.qualityScore(col("text")) >= 0.5)
      TextAnalysis.boilerplateFilter(quality, "doc_id", "text",
          n = 3, minDocFrac = 0.01, maxRatio = 0.35)
        .write.mode("overwrite").parquet(s"$store/no_boilerplate")
      val noBp = s.read.parquet(s"$store/no_boilerplate")
      val seg = Dedup.repeatedSegmentFilter(noBp, "doc_id", "text",
          window = 8, maxOccurrences = 1, carry = Seq("source"))
        .where(col("n_kept") > 0)
        .select("doc_id", "source", "text")
      Dedup.exactByFingerprint(seg, "text", "doc_id")
        .write.mode("overwrite").parquet(s"$store/deduped")
      val deduped = s.read.parquet(s"$store/deduped")
      val budgeted = ops.Sampling.tokenBudgetSelect(deduped, "doc_id", "source",
        TextAnalysis.tokenCount(col("text")), budget = 400L, numBuckets = 8)
      ops.Packing.shardAssignments(budgeted, "doc_id", 4)
        .groupBy("source", "shard")
        .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_tokens"))
        .orderBy("source", "shard")
    }),

    "pack_shards" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // The epoch shuffle: deterministic shard + in-shard rank from one
      // seeded hash — reading shards sequentially replays a global
      // pseudo-random permutation, reproducible on any cluster.
      ops.Packing.shardAssignments(load(dir, "documents"), "doc_id", 8)
        .select("doc_id", "shard", "pos")
        .orderBy("doc_id")
    }),

    "g_significant_terms" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // ES significant_terms: which tokens characterize the zh slice of
      // the corpus vs the whole? JLH score over exact doc-frequency
      // counts; one term exchange + a 1-row totals broadcast.
      query.Aggs.significantTerms(load(dir, "documents"),
        ops.Dedup.tokens(col("text")), col("lang") === "zh", n = 15)
    }),

    "g_significant_terms_chi2" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // The chi_square significance heuristic (ES's alternative scorer —
      // the textbook 2×2 contingency χ² over fg/bg marginals): same
      // exact-count plumbing as the JLH form, a different fixed IEEE
      // tree the oracle replays.
      query.Aggs.significantTerms(load(dir, "documents"),
        ops.Dedup.tokens(col("text")), col("lang") === "zh", n = 15,
        heuristic = "chi_square")
    }),

    "sample_token_budget" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // "Give me 600 tokens of every domain": per source, docs are taken
      // in seeded-hash order until the running token total hits the
      // budget — a pure prefix of the hash order, computed by the bucketed
      // two-phase prefix sum (per-source parallelism = numBuckets, never
      // one sequential task per source).
      ops.Sampling.tokenBudgetSelect(load(dir, "documents"),
          "doc_id", "source", ops.TextAnalysis.tokenCount(col("text")),
          budget = 600L, numBuckets = 8)
        .orderBy("doc_id")
    }),

    "sample_source_cap" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // RefinedWeb/C4-style per-domain cap ("at most 10 docs per
      // source"): each source's first 10 in seeded-hash order — the
      // anti-domination step of web-corpus assembly, computed as a unit-
      // weight token budget through the same bucketed two-phase prefix
      // (no per-source sequential window). Sources hold 25 docs at
      // sf0.01, so the cap genuinely cuts.
      ops.Sampling.perSourceCap(load(dir, "documents"),
          "doc_id", "source", cap = 10, numBuckets = 8)
        .orderBy("doc_id")
    }),

    "sample_importance" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // DSIR importance scoring (hashed-bigram log-ratio vs a target
      // slice, integer bits): resample the raw multilingual corpus toward
      // the ENGLISH target distribution. One corpus exchange builds the
      // 1024-bucket model; scoring is a broadcast join + one doc_id
      // aggregation. Top-50 by rate = the selection head.
      ops.Sampling.importanceScores(load(dir, "documents"),
          "doc_id", "text", targetCond = col("lang") === "en",
          numBuckets = 1024, clipBits = 16, carry = Seq("lang"))
        .orderBy(desc("bits_per_1k"), col("doc_id"))
        .limit(50)
    }),

    "sample_importance_priority" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // The PROPORTIONAL selection over the same scores: priority
      // sampling (w/u with a seeded unit hash) draws ∝ shifted bits — a
      // weighted sample without replacement, deterministic on any
      // cluster, transcendental-free so the priorities hash-match SQL.
      val scored = ops.Sampling.importanceScores(load(dir, "documents"),
        "doc_id", "text", targetCond = col("lang") === "en",
        numBuckets = 1024, clipBits = 16, carry = Seq("lang"))
      ops.Sampling.importancePriority(scored, "doc_id", shift = 16001.0)
        .orderBy(desc("pri"), col("doc_id"))
        .limit(25)
        .select("doc_id", "lang", "n_feats", "bits", "bits_per_1k", "w_lin", "pri")
    }),

    "sample_importance_stream" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // The streamed DSIR serve path end-to-end as an oracled batch query
      // (the same shape text_boilerplate_stream gives the gram-df table):
      // the corpus-so-far model arrives as two epoch increments of
      // (b, cr, ct) bucket counts — exactly what maintainImportanceModel
      // appends per micro-batch — with epoch 0 appended TWICE (an
      // at-least-once replay); importanceModelFromIncrements dedups the
      // replay and bucket-sums; the implied weights then score a NEW batch
      // the increments never saw, without re-reading corpus text. The
      // oracle restates the path as a from-scratch model over the corpus
      // split — replays and the increment layout must be invisible.
      val docs = load(dir, "documents")
      val corpus = docs.where(pmod(col("doc_id"), lit(3)) =!= 0)
      val newBatch = docs.where(pmod(col("doc_id"), lit(3)) === 0)
      val incPath = s"/tmp/graft_dsir_stream_${math.abs(dir.hashCode)}"
      def inc(epoch: Int): DataFrame =
        ops.Sampling.importanceModel(
            corpus.where(pmod(col("doc_id"), lit(2)) === epoch),
            "text", col("lang") === "en")
          .withColumn("inc_batch_id", lit(epoch.toLong))
      // (r18: examined — the replayed epoch-0 branch ends in the model
      // aggregate's exchange, which ReuseExchange dedupes at runtime; a
      // localCheckpoint here measured WORSE — an extra materialization
      // job replacing free reuse. Left as is.)
      inc(0).unionByName(inc(1)).unionByName(inc(0)) // epoch 0 replayed
        .write.mode("overwrite").parquet(incPath)
      val model = EventStreams.importanceModelFromIncrements(s, incPath)
      ops.Sampling.importanceScoresAgainst(newBatch, "doc_id", "text",
          ops.Sampling.importanceWeights(model), carry = Seq("lang"))
        .orderBy(desc("bits_per_1k"), col("doc_id"))
        .limit(50)
    }),

    "text_gopher_rules" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // The Gopher document-shape rule battery: seven published hard
      // gates as ONE row-local codegen'd pass (regex counts only — no
      // shuffle at any corpus size). Line-level rules are exercised on
      // multi-line fixtures in GopherSpec; here they profile as constants
      // on the single-line corpus, which the oracle restates identically.
      ops.TextAnalysis.gopherProfile(load(dir, "documents"), "text")
        .select("doc_id", "word_count", "mean_word_len", "symbol_word_ratio",
          "alpha_word_frac", "bullet_line_frac", "ellipsis_line_frac",
          "stopword_hits", "gopher_pass")
        .orderBy("doc_id")
    }),

    "text_normalize" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // Unicode NFC normalization + control stripping (the tokenizer
      // pipeline's first stage) as a codegen'd expression. This corpus is
      // ASCII, so the pass is an identity HERE — what the oracle certifies
      // is the cross-engine CONTRACT (graft_nfc_clean ≡ DuckDB
      // nfc_normalize over control-stripped text) plus the no-op fast
      // path; the composed/decomposed unicode semantics are spec-pinned
      // on real fixtures (UnicodeNormSpec).
      load(dir, "documents").select(col("doc_id"),
          graft.expr.UnicodeNorm.nfcClean(col("text")).as("norm_text"),
          length(graft.expr.UnicodeNorm.nfcClean(col("text"))).cast("long")
            .as("norm_chars"),
          (graft.expr.UnicodeNorm.nfcClean(col("text")) === col("text"))
            .as("unchanged"))
        .orderBy("doc_id")
    }),

    "dedup_semantic" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // SemDeDup: k-means cells bound the candidate set (Σ|cell|², not
      // N²), within-cell cosine ≥ τ pairs close under the oracled
      // recursive closure, one representative survives per component.
      // Same keep contract as dedup_embedding_cluster_keep but the
      // published clustering candidate generator instead of LSH.
      val emb = load(dir, "embeddings")
      val pairs = Similarity.semanticNearDupPairs(emb, "vec_id", "embedding",
        threshold = 0.42, nlist = 8)
      Dedup.keepClusterRepresentatives(emb, "vec_id", pairs)
        .groupBy("label")
        .agg(count(lit(1)).as("n_kept"))
        .orderBy("label")
    }),

    "dedup_semantic_probe" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // SemDeDup's structural-recall caveat closed the IVF way: nprobe=2
      // also joins each vector against its second-nearest cell, so
      // near-dup pairs straddling ONE cell boundary are recovered
      // (candidate volume ≤ 2×; ids-only through the probe dedup). Same
      // closure/keep contract — boundary pairs merge clusters, so keep
      // counts can only move toward the true all-pairs answer.
      val emb = load(dir, "embeddings")
      val pairs = Similarity.semanticNearDupPairs(emb, "vec_id", "embedding",
        threshold = 0.42, nlist = 8, nprobe = 2)
      Dedup.keepClusterRepresentatives(emb, "vec_id", pairs)
        .groupBy("label")
        .agg(count(lit(1)).as("n_kept"))
        .orderBy("label")
    }),

    "dedup_repeated_segments" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // C4 repeated-line removal restated on fixed 8-token spans (this
      // corpus has no line structure): spans occurring more than once
      // corpus-wide are cut from every document, documents reassemble
      // from the survivors in order. Segment-granular — the only dedup
      // here that edits documents instead of selecting among them.
      ops.Dedup.repeatedSegmentFilter(load(dir, "documents"),
          "doc_id", "text", window = 8, maxOccurrences = 1)
        .orderBy("doc_id")
    }),

    "dedup_duplicate_spans" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // ExactSubstr (Lee et al. 2022) restated distributed: every token
      // inside a >=8-token substring occurring more than once corpus-wide
      // is cut, at ANY alignment — sliding md5 gram postings, coverage
      // explode on duplicated occurrences only, document-bounded
      // reassembly. The alignment-free sibling of
      // dedup_repeated_segments (this corpus: ~1k duplicated 8-grams).
      ops.Dedup.duplicateSpanRemoval(load(dir, "documents"),
          "doc_id", "text", minLen = 8)
        .orderBy("doc_id")
    }),

    "text_boilerplate" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // C4/RefinedWeb-style template-text signal: 3-grams present in ≥1%
      // of the corpus are boilerplate; each doc reports its distinct-gram
      // count, boilerplate-gram count, and ratio. The df threshold is a
      // corpus FRACTION (scale-invariant), the frequent set is the Zipf
      // head only (broadcast), and the per-doc rollup partial-aggregates
      // before its single exchange.
      ops.TextAnalysis.boilerplateProfile(load(dir, "documents"),
          "doc_id", "text", n = 3, minDocFrac = 0.01)
        .orderBy("doc_id")
    }),

    "text_boilerplate_filter" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // The filter composed: drop docs whose boilerplate ratio exceeds the
      // line, count survivors per source. Docs too short for any 3-gram
      // pass (no signal is not a rejection).
      ops.TextAnalysis.boilerplateFilter(load(dir, "documents"),
          "doc_id", "text", n = 3, minDocFrac = 0.01, maxRatio = 0.35)
        .groupBy("source")
        .agg(count(lit(1)).as("n_kept"))
        .orderBy("source")
    }),

    "text_boilerplate_stream" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // The streaming boilerplate SERVE path end-to-end as an oracled
      // batch query (the same shape dashboard_preagg_incremental gives the
      // rollup): the corpus-so-far arrives as two epoch increments of
      // (gram, df) + the null-gram doc-count sentinel — exactly what
      // maintainGramDf appends per micro-batch — with epoch 0 appended
      // TWICE (an at-least-once replay); gramDfFromIncrements dedups the
      // replay and sum-merges; the implied Zipf head then scores a NEW
      // batch the increments never saw, without re-reading corpus text.
      // The oracle restates the whole path as from-scratch df counts over
      // the corpus split — replays and the increment layout must be
      // invisible to the scores.
      val docs = load(dir, "documents")
      val corpus = docs.where(pmod(col("doc_id"), lit(3)) =!= 0)
      val newBatch = docs.where(pmod(col("doc_id"), lit(3)) === 0)
      val incPath = s"/tmp/graft_gramdf_stream_${math.abs(dir.hashCode)}"
      def inc(epoch: Int): DataFrame = {
        val batch = corpus.where(pmod(col("doc_id"), lit(2)) === epoch)
        batch.select(explode(graft.expr.TextShingles.shingleHashes(
            col("text"), 3)).as("gram"))
          .groupBy("gram").agg(count(lit(1)).as("df"))
          .unionByName(batch.agg(count(lit(1)).as("df"))
            .select(lit(null).cast("long").as("gram"), col("df")))
          .withColumn("inc_batch_id", lit(epoch.toLong))
      }
      // (r18: examined — the replayed epoch-0 branch ends in the gram-df
      // aggregate's exchange, which ReuseExchange dedupes at runtime; a
      // localCheckpoint here measured WORSE. Left as is.)
      inc(0).unionByName(inc(1)).unionByName(inc(0)) // epoch 0 replayed
        .write.mode("overwrite").parquet(incPath)
      val gramDf = EventStreams.gramDfFromIncrements(s, incPath)
      TextAnalysis.boilerplateProfileAgainst(newBatch, "doc_id", "text", 3,
          TextAnalysis.boilerplateFrequent(gramDf, minDocFrac = 0.01))
        .orderBy("doc_id")
    }),

    "search_hybrid_rrf_ivfpq" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // The SERVING-SCALE hybrid: same RRF fusion, but the vector run is
      // the IVF-PQ index (coarse cells + one-byte ADC codes — the path
      // whose index fits executor memory at 100 TB) instead of the
      // brute-force scan. Still fully oracled: the oracled refineIters=0
      // IVF-PQ construction supplies the ranks.
      val docs = load(dir, "documents")
      val emb = load(dir, "embeddings")
      val bmRun = query.Hybrid.withRank(
          query.Bm25.topKRaw(docs, "doc_id", "text", "spark merge join window", k = 50),
          "score", "doc_id")
        .select("doc_id", "rank")
      val vecRun = ops.Similarity.ivfPqTopK(emb, "vec_id", "embedding",
          emb.where(col("vec_id") === 0), "vec_id", "embedding", k = 50,
          dim = 64, nlist = 8, nprobe = 3, m = 8, ksub = 16)
        .select(col("neighbor_id").as("doc_id"), col("rank"))
      query.Hybrid.rrf(Seq(bmRun, vecRun), "doc_id", "rank", rrfK = 60, topK = 20)
        .orderBy(desc("rrf_score"), asc("doc_id"))
    }),

    "search_hybrid_rrf" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // Hybrid retrieval: BM25 top-50 over the text corpus fused with
      // brute-force cosine top-50 around embedding 0 (ids align by
      // construction in the test data) via Reciprocal Rank Fusion.
      // Both runs are fully oracled retrievers; fusion adds only integer
      // ranks and two-term IEEE sums, so the whole pipeline hash-matches.
      val docs = load(dir, "documents")
      val emb = load(dir, "embeddings")
      val bmRun = query.Hybrid.withRank(
          query.Bm25.topKRaw(docs, "doc_id", "text", "spark merge join window", k = 50),
          "score", "doc_id")
        .select("doc_id", "rank")
      val vecRun = ops.Similarity.bruteForceTopK(emb, "vec_id", "embedding",
          emb.where(col("vec_id") === 0), "vec_id", "embedding", k = 50)
        .select(col("neighbor_id").as("doc_id"), col("rank"))
      query.Hybrid.rrf(Seq(bmRun, vecRun), "doc_id", "rank", rrfK = 60, topK = 20)
        .orderBy(desc("rrf_score"), asc("doc_id"))
    }),

    "q_retriever_rrf" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // The ES 9.x `retriever` TREE compiled recursively: an rrf node
      // fusing a standard (BM25) leaf with a knn (exact cosine) leaf —
      // the modern request shape whose flat routes are special cases.
      // Every stage is the proven tier underneath; the tree adds only
      // the JSON recursion, so the whole pipeline hash-matches.
      val vec = knnQueryVec.mkString("[", ", ", "]")
      query.Retriever.compile(load(dir, "documents"), load(dir, "embeddings"),
        s"""{"retriever": {"rrf": {"retrievers": [
           |  {"standard": {"query": "spark merge join window", "rank_window_size": 50}},
           |  {"knn": {"field": "embedding", "query_vector": $vec, "k": 50}}
           |], "rank_constant": 60, "rank_window_size": 20}}}""".stripMargin)
        .select("doc_id", "rank", "score")
        .orderBy("rank")
    }),

    "q_retriever_linear_nested" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // NESTED recursion — linear fusion whose second child is ITSELF an
      // rrf subtree: linear consumes its children's SCORES (min-max
      // normalized over each child's own window), the inner rrf consumes
      // ITS children's RANKS. The shape ES serves as retriever-in-
      // retriever; teeth: the rrf child's score magnitudes (~1/60) only
      // matter AFTER its min-max normalization.
      val vec = knnQueryVec.mkString("[", ", ", "]")
      query.Retriever.compile(load(dir, "documents"), load(dir, "embeddings"),
        s"""{"retriever": {"linear": {"retrievers": [
           |  {"retriever": {"standard": {"query": "dup vector scan", "rank_window_size": 30}},
           |   "weight": 0.7, "normalizer": "minmax"},
           |  {"retriever": {"rrf": {"retrievers": [
           |      {"standard": {"query": "spark merge join window", "rank_window_size": 50}},
           |      {"knn": {"field": "embedding", "query_vector": $vec, "k": 50}}
           |    ], "rank_window_size": 25}},
           |   "weight": 0.3, "normalizer": "minmax"}
           |], "rank_window_size": 15}}}""".stripMargin)
        .select("doc_id", "rank", "score")
        .orderBy("rank")
    }),

    "q_min_should_match" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // Lucene's group minimum_should_match — `(a b c)~2`: the general
      // N-of-M should group (ES bool.should + minimum_should_match),
      // parsed by the grammar and compiled to ONE codegen'd integer sum.
      val spec = graft.query.QueryString.parse(
        "(text:dup text:merge text:vector)~2", defaultField = "text")
      load(dir, "documents").where(spec.compile)
        .select("doc_id", "lang")
        .orderBy("doc_id")
    }),

    "q_msm_percent" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // The full ES minimum_should_match SPEC grammar on the group
      // suffix: `~-25%` over 4 clauses resolves (driver-side, clause
      // count static) to 4 − ⌊4·0.25⌋ = 3 — percentages, negatives, and
      // k<spec conditionals all fold to one integer through
      // MinShouldMatch.resolve, and degenerate results (pure-OR or
      // never-matching) reject loudly instead of silently clamping.
      val spec = graft.query.QueryString.parse(
        "(text:dup text:merge text:vector text:scan)~-25%",
        defaultField = "text")
      load(dir, "documents").where(spec.compile)
        .select("doc_id", "lang")
        .orderBy("doc_id")
    }),

    "q_msm_chain" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // ES minimum_should_match conditional CHAIN (the JSON-DSL
      // "multiple combinations" form, round-16 verdict #6): over these 5
      // clauses, `2<-25% 4<60%` picks the spec bound to the LARGEST k
      // below n — the 4< leg — so ⌊5·0.60⌋ = 3 of 5 must match. The
      // chain rule itself (all-required at n ≤ 2, the 2< leg at 3-4, in
      // any part order, nested conditionals rejected) is pinned across
      // clause counts in QueryStringSpec; this query proves the resolved
      // group end to end as one codegen'd integer sum.
      val terms = Seq("dup", "merge", "vector", "scan", "data")
      val msm = graft.query.FilterSpec.MinShouldMatch.resolve(
        "2<-25% 4<60%", terms.size)
      val spec = graft.query.FilterSpec.MinShouldMatch(
        msm, terms.map(t => graft.query.FilterSpec.TermMatch("text", t)))
      load(dir, "documents").where(spec.compile)
        .select("doc_id", "lang")
        .orderBy("doc_id")
    }),

    "search_multi_match_best" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // ES multi_match best_fields (the default dis_max mode): each field
      // scored by its OWN BM25 statistics, a doc takes its best field's
      // score — 'src1' only matches in `source`, 'spark' only in `text`,
      // so the two fields genuinely compete.
      query.Bm25.multiMatchTopK(load(dir, "documents"), "doc_id",
          Seq("text", "source"), "src1 spark", k = 20, mode = "best_fields")
        .orderBy(desc("score"), asc("doc_id"))
    }),

    "search_multi_match_most" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // most_fields: the same per-field runs SUMMED — docs matching in
      // both fields outrank single-field matches.
      query.Bm25.multiMatchTopK(load(dir, "documents"), "doc_id",
          Seq("text", "source"), "src1 spark", k = 20, mode = "most_fields")
        .orderBy(desc("score"), asc("doc_id"))
    }),

    "search_combined_fields" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // ES combined_fields — the term-centric cousin of multi_match:
      // fields POOL into one (tf, dl, and IDF over the union — BM25F at
      // unit weights), the right mode for title+body-style parts of the
      // same text. One scan over the analyzed concatenation.
      query.Bm25.combinedFieldsTopK(load(dir, "documents"), "doc_id",
          Seq("text", "source"), "src1 spark", k = 20)
        .orderBy(desc("score"), asc("doc_id"))
    }),

    "search_multi_match_dismax" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // dis_max with tie_breaker 0.3 (the ES knob between best_fields and
      // most_fields): best + 0.3*(sum of the other fields) - matching in
      // several fields counts, weighted below the best.
      query.Bm25.multiMatchTopK(load(dir, "documents"), "doc_id",
          Seq("text", "source"), "src1 spark", k = 20, mode = "best_fields",
          tieBreaker = 0.3)
        .orderBy(desc("score"), asc("doc_id"))
    }),

    "search_cross_fields" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // ES multi_match cross_fields — the TERM-centric mode (Lucene
      // BlendedTermQuery): per term, DF blends to the MAX across fields
      // (one shared IDF), TF-normalization stays per-field, per-term
      // dis_max then terms sum. Teeth: 'small' lives in BOTH p_name
      // (df 269 at sf0.01) and p_type (322) — the blended IDF uses 322
      // where best_fields' name-side scoring would use 269.
      query.Bm25.crossFieldsTopK(load(dir, "part"), "p_partkey",
        Seq("p_name" -> 1.0, "p_type" -> 1.0), "small bolt", k = 20)
    }),

    "search_cross_fields_boosted" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // cross_fields with a per-field boost (p_name^2) and tie_breaker
      // 0.3: the boost multiplies the field's term score BEFORE the
      // per-term dis_max, the tie_breaker folds the losing field back in.
      query.Bm25.crossFieldsTopK(load(dir, "part"), "p_partkey",
        Seq("p_name" -> 2.0, "p_type" -> 1.0), "small bolt", k = 20,
        tieBreaker = 0.3)
    }),

    "q_mlt_terms" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // more_like_this's SELECTION half, inspectable: like-text terms
      // with tf ≥ 2 and length ≥ 3 rank by Lucene's classic tf·idf
      // selection score against CORPUS statistics, top max_query_terms=4
      // survive. Teeth: 'dup' (tf 3, df 25/500 at sf0.01) dominates; the
      // common terms' cut is decided by their df spread, and the 'the' vs
      // 'vector' EXACT score tie (same tf, same df) breaks by term —
      // integer-derived scores make the order cross-engine stable.
      query.MoreLikeThis.likeTextTermsDF(s, load(dir, "documents"),
        analyzedText("text"), mltLikeText, mltParams)
    }),

    "q_more_like_this" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // ES more_like_this in FILTER context: documents holding at least
      // minimum_should_match="50%" (2 of the 4 selected terms), with the
      // distinct-selected-term count. One stats aggregate (bounded
      // collect, ES's own shape) + one distributed scan.
      query.MoreLikeThis.likeTextMatchSet(load(dir, "documents"), "doc_id",
          analyzedText("text"), mltLikeText, mltParams)
        .orderBy("doc_id")
    }),

    "q_more_like_this_scored" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // more_like_this in QUERY context: BM25 top-15 over the selected
      // terms, the scoring statistics reused from the selection pass
      // (two corpus passes total). Scores round to 6 decimals on BOTH
      // sides — the oracle's term sum is join-ordered — and rank on the
      // rounded value with id tie-break.
      query.MoreLikeThis.likeTextTopK(load(dir, "documents"), "doc_id",
        analyzedText("text"), mltLikeText, k = 15, mltParams)
    }),

    "q_terms_set" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // ES terms_set - minimum_should_match read FROM THE DOCUMENT (the
      // "required skills" idiom): each doc demands (doc_id % 3) + 1 of the
      // four query terms; one codegen'd integer sum against the per-row
      // bound, no join.
      val spec = graft.query.FilterSpec.TermsSet("text",
        Seq("dup", "merge", "vector", "scan"), "req_terms")
      load(dir, "documents")
        .withColumn("req_terms", (pmod(col("doc_id"), lit(3)) + 1).cast("int"))
        .where(spec.compile)
        .groupBy("req_terms").agg(count(lit(1)).as("n"))
        .orderBy("req_terms")
    }),

    "q_function_score" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // ES function_score: a linear length-decay around 400 chars
      // multiplied by a log1p popularity-style factor — the
      // relevance-shaping tier (freshness/distance/popularity) as fixed
      // IEEE trees (gauss/exp decay are spec-certified — bare exp()'s
      // last-ulp rounding is libm-specific; ln/log1p/sqrt oracle fine).
      val docs = load(dir, "documents")
      val score = query.Scoring.linearDecay(
          col("n_chars").cast("double"), origin = 400, scale = 200) *
        query.Scoring.fieldValueFactor(col("n_chars"), factor = 0.1,
          modifier = "log1p")
      docs.select(col("doc_id"), score.as("score"))
        .where(col("score") > 0)
        .orderBy(desc("score"), asc("doc_id"))
        .limit(30)
    }),

    "q_function_score_modes" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // ES function_score COMBINE modes — score_mode folds the function
      // array (sum / first / weighted avg exercised here), max_boost caps
      // the combined factor, boost_mode merges with the query score
      // (multiply / max / sum exercised). Three functions: an unfiltered
      // linear length-decay at weight 2, a weight-only function (ES's
      // `weight` with no kernel — score 1) on lang:en at weight 3, and a
      // log1p popularity factor filtered to even doc_ids. All row-local
      // fixed IEEE trees over oracle-able kernels (no bare exp).
      import graft.query.Scoring.ScoreFunction
      val docs = load(dir, "documents")
      val qscore = query.Scoring.fieldValueFactor(col("n_chars"),
        factor = 0.01, modifier = "sqrt")
      val decay = ScoreFunction(query.Scoring.linearDecay(
        col("n_chars").cast("double"), origin = 400, scale = 200), weight = 2.0)
      val enWeight = ScoreFunction(lit(1.0), weight = 3.0,
        filter = Some(col("lang") === "en"))
      val popEven = ScoreFunction(query.Scoring.fieldValueFactor(
          col("doc_id"), factor = 0.5, modifier = "log1p"),
        filter = Some(pmod(col("doc_id"), lit(2)) === 0))
      val fns = Seq(decay, enWeight, popEven)
      docs.select(col("doc_id"),
          query.Scoring.functionScore(qscore, fns,
            scoreMode = "sum", boostMode = "multiply", maxBoost = 4.0)
            .as("score_sum"),
          // filtered functions FIRST so the `first` cascade is non-trivial
          query.Scoring.functionScore(qscore, Seq(enWeight, popEven, decay),
            scoreMode = "first", boostMode = "max").as("score_first"),
          query.Scoring.functionScore(qscore, fns,
            scoreMode = "avg", boostMode = "sum").as("score_avg"))
        .orderBy(desc("score_sum"), asc("doc_id"))
        .limit(40)
    }),

    "search_linear_fusion" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // ES `linear` retriever fusion — the rank-free combiner for when
      // score MAGNITUDES matter: the same two proven runs rrf fuses by
      // rank, min-max normalized over their own top-50 windows and
      // weighted 0.7 lexical / 0.3 vector. Min/max are exact; the
      // normalization and weighted sum are fixed IEEE trees.
      val docs = load(dir, "documents")
      val emb = load(dir, "embeddings")
      val bmRun = query.Bm25.topKRaw(docs, "doc_id", "text",
        "spark merge join window", k = 50).select(col("doc_id"), col("score"))
      val vecRun = ops.Similarity.bruteForceTopK(emb, "vec_id", "embedding",
          emb.where(col("vec_id") === 0), "vec_id", "embedding", k = 50)
        .select(col("neighbor_id").as("doc_id"), col("cos").as("score"))
      query.Hybrid.linearFusion(Seq(bmRun -> 0.7, vecRun -> 0.3),
          "doc_id", "score", topK = 20)
        .orderBy(desc("fused_score"), asc("doc_id"))
    }),

    "search_pinned" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // ES `pinned` query — the editorial override: curated ids surface
      // first in their given order, the organic BM25 run follows with
      // the pinned ids deduped out. The curated list carries a STALE id
      // (10000000 — exists at no SF) and the corpus semi-join drops it,
      // the ES contract: only ids present in the index are promoted,
      // survivors' ranks compacting in curated order.
      val docs = load(dir, "documents")
      val organic = query.Bm25.topKRaw(docs, "doc_id", "text",
        "spark merge join window", k = 20)
      query.Hybrid.pinned(organic, "doc_id", "score",
          pinnedIds = Seq(400L, 10000000L, 7L, 123L), topK = 10,
          corpus = Some(docs))
        .orderBy("rank")
    }),

    "search_rescore" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // ES `rescore` — the text twin of the vector rerank: BM25 nominates
      // 30, only the top-10 window pays the secondary scorer (an exact
      // phrase-containment boost at weight 2), everything below keeps
      // its primary order.
      val docs = load(dir, "documents")
      val primary = query.Bm25.topKRaw(docs, "doc_id", "text",
        "spark merge join window", k = 30)
      val secondary = docs.select(col("doc_id"),
        when(graft.expr.TextMatch.containsToken(col("text"), "big vector"),
          lit(1.0)).otherwise(lit(0.0)).as("boost"))
      query.Hybrid.rescore(primary, "doc_id", "score", secondary, "boost",
          windowSize = 10, queryWeight = 1.0, rescoreWeight = 2.0)
        .orderBy("rank")
    }),

    "text_fingerprint" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // ES `fingerprint` analyzer (the OpenRefine clustering key):
      // analyze → dedupe → sort → rejoin. Texts differing only in word
      // order / repetition / punctuation / case collapse to one key —
      // the cheap first pass of the text-dedup tier, row-local built-in
      // column algebra only.
      load(dir, "documents").select(col("doc_id"),
          graft.expr.TextMatch.fingerprint(col("text")).as("fingerprint"))
        .orderBy("doc_id")
    }),

    "search_mmr" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // MMR diversification (Carbonell & Goldstein 1998) — the standard
      // post-retrieval step when the top of a ranked list is near-dup
      // heavy: greedy argmax of λ·rel − (1−λ)·max-sim-to-selected over
      // the retriever's top-10, k=3 picks, λ=0.7. The greedy loop
      // unrolls into k plan stages (no driver-side data), every score a
      // fixed IEEE tree over bit-reproducible cosines — the oracle
      // replays the full greedy trace as unrolled CTEs.
      val emb = load(dir, "embeddings")
      val queries = emb.where(col("vec_id") < 3)
      val top = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
        queries, "vec_id", "embedding", k = 10)
      val cands = top
        .select(col("query_id"), col("neighbor_id").as("cand_id"), col("cos").as("rel"))
        .join(emb.select(col("vec_id").as("cand_id"),
          Similarity.asDouble(col("embedding")).as("vec")), Seq("cand_id"))
      query.Mmr.diversify(cands, k = 3, lambda = 0.7)
        .orderBy("query_id", "pick")
    }),

    "pipeline_fim" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // Fill-in-the-Middle example construction (Bavarian et al. 2022):
      // half the corpus rearranged into <PRE>prefix<SUF>suffix<MID>middle
      // (the mixed objective), cut points the sorted pair of seeded
      // md5-unit hashes scaled by text length — portable, row-local, and
      // restated in SQL by the same unit-hash arithmetic. The reassembly
      // invariant (strip sentinels, reorder → original text) is
      // spec-pinned.
      ops.Packing.fimExamples(load(dir, "documents"), "doc_id", "text",
          fimRate = 0.5)
        .orderBy("doc_id")
    }),

    "pipeline_curriculum" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // Curriculum ordering (Bengio 2009): difficulty stages from length
      // thresholds (the classic proxy), deterministic within-stage pace
      // from the portable unit hash. The op emits sort KEYS (row-local);
      // this query samples each stage's first 5 in curriculum order via
      // a stage-PARTITIONED window — group-parallel, no global funnel.
      val staged = ops.Packing.curriculumKeys(load(dir, "documents"),
        "doc_id", "n_chars", bounds = Seq(150.0, 300.0))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("stage").orderBy(asc("pace"), asc("doc_id"))
      staged.withColumn("rn", row_number().over(w).cast("long"))
        .where(col("rn") <= 5)
        .select(col("stage"), col("rn"), col("doc_id"))
        .orderBy("stage", "rn")
    }),

    "q_random_score" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // ES function_score random_score with seed + field: deterministic
      // pseudo-random ordering (the reproducible sample page) — the
      // portable unit hash restates ES's seeded field hash.
      val score = query.Scoring.randomScore(col("doc_id"), seed = 7)
      load(dir, "documents").select(col("doc_id"), score.as("score"))
        .orderBy(asc("score"), asc("doc_id"))
        .limit(20)
    }),

    "q_boosting" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // ES `boosting` query: BM25 positive ("dup vector") with docs
      // matching the negative term ("merge") DEMOTED by
      // negative_boost = 0.25 — not excluded, the query's whole point.
      // 0.25 is dyadic so the demotion multiply is IEEE-exact; the
      // oracle replays the scored set and the same CASE.
      val docs = load(dir, "documents")
      val analyzed = concat(lit(" "),
        graft.expr.TextMatch.normalized(col("text")), lit(" "))
      val scored = query.Bm25.scoredAll(docs, "doc_id", analyzed, "dup vector")
      val neg = docs.select(col("doc_id"),
        graft.expr.TextMatch.containsToken(col("text"), "merge").as("_neg"))
      scored.join(neg, "doc_id")
        .withColumn("score",
          query.Scoring.boosting(col("score"), col("_neg"), negativeBoost = 0.25))
        .select("doc_id", "score")
        .orderBy(desc("score"), asc("doc_id"))
        .limit(15)
    }),

    "q_constant_score" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // ES `constant_score`: filter semantics with a scored hit list —
      // every match scores exactly the boost (1.5, dyadic), no tf/idf.
      // The filter is a compiled query_string conjunction; both engines
      // emit the same literal.
      val spec = graft.query.QueryString.parse(
        "lang:en AND text:vector", defaultField = "text")
      load(dir, "documents").where(spec.compile)
        .select(col("doc_id"),
          query.Scoring.constantScore(1.5).as("score"))
        .orderBy("doc_id")
    }),

    "search_sparse_vector" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // ES `sparse_vector` (ELSER/SPLADE serving): sparse dot product of
      // a (term, weight) query against at-rest tf postings — ONE
      // broadcast join on term + ONE doc-keyed aggregate, work ∝ the
      // query terms' postings (the inverted-index property). tf × dyadic
      // weights keep every product and sum IEEE-exact in any fold order
      // (SparseVector scaladoc).
      val postings = query.SparseVector.tfPostings(
        load(dir, "documents"), "doc_id", "text")
      query.SparseVector.topK(postings, "doc_id",
          Seq("vector" -> 2.0, "dup" -> 1.5, "scan" -> 0.5), k = 15)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("rank")
    }),

    "search_sparse_vector_pruned" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // ES sparse_vector `prune` (token pruning, the learned-sparse
      // stop-word guard): tokens that are BOTH corpus-frequent
      // (df > freq_ratio · avg df — 1.0 here, ES's legal minimum; this
      // synthetic corpus's Zipf head sits ~3-7% above the mean at every
      // sf, miles below the default 5×) AND insignificant
      // (w < 0.4 · best) drop before scoring. 'scan' and 'merge' prune
      // (frequent + light); 'dup' survives on rarity, 'vector' on
      // weight — the candidate set provably shrinks (docs matching only
      // scan/merge leave the result entirely) yet serving work drops,
      // which is the flag's whole point at ELSER scale.
      val postings = query.SparseVector.tfPostings(
        load(dir, "documents"), "doc_id", "text")
      // r18 optimization (guide §1.2): prune's df statistics come from ONE
      // checkpointed vocabulary-sized (term, df) table — the operator's own
      // documented serving shape ("at corpus scale serve from a maintained
      // df table") — instead of prune(postings, …) re-deriving the postings
      // explode once for the avg aggregate and again for the query-term df
      // collect. Identical keep decisions (pruneAgainstDf ≡ prune over
      // dfStats — SparseVectorSpec pins the equality).
      val dfTable = query.SparseVector.dfStats(postings).localCheckpoint()
      val kept = query.SparseVector.pruneAgainstDf(dfTable,
        Seq("vector" -> 2.0, "dup" -> 0.5, "scan" -> 0.3, "merge" -> 0.25),
        freqRatioThreshold = 1.0, weightThreshold = 0.4)
      query.SparseVector.topK(postings, "doc_id", kept, k = 15)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("rank")
    }),

    "search_sparse_vector_quantized" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // Arbitrary learned weights (ELSER floats) made bit-stable: the
      // non-dyadic query weights quantize to k/256 dyadics
      // (floor(w·256 + 0.5)/256 — the SQ8 arithmetic), so every tf·w
      // product and the doc-sum are IEEE-exact in any fold order and the
      // cross-engine hash can gate them. Closes the SparseVector class
      // scaladoc's float caveat with a mechanism instead of a warning.
      val postings = query.SparseVector.tfPostings(
        load(dir, "documents"), "doc_id", "text")
      query.SparseVector.topK(postings, "doc_id",
          query.SparseVector.quantizeWeights(
            Seq("vector" -> 1.7, "dup" -> 0.9, "scan" -> 0.31), bits = 8),
          k = 15)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("rank")
    }),

    "search_sparse_vector_rescored" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // ES's full token-pruning serving story, composed from this
      // round's pieces: quantize the learned weights to dyadics, PRUNE
      // the frequent+light tokens for the cheap retrieval leg, then
      // rescore only the top-10 window with the pruned remainder
      // (`only_score_pruned_tokens: true` in a rescorer — the documented
      // companion of `prune`). Inside the window the total is the EXACT
      // full-query score (kept + pruned legs partition the terms);
      // below it, the cheap leg's order stands. Work profile at corpus
      // scale: the expensive wide posting lists (the pruned stop-words)
      // are only ever joined against the 10-doc window, never the
      // match set.
      val postings = query.SparseVector.tfPostings(
        load(dir, "documents"), "doc_id", "text")
      val all = query.SparseVector.quantizeWeights(
        Seq("vector" -> 2.0, "dup" -> 0.5, "scan" -> 0.3, "merge" -> 0.25))
      // r18 optimization: both prune legs read ONE checkpointed
      // vocabulary-sized df table (the operator's documented maintained-df
      // serving shape) instead of each prune(postings, …) re-deriving the
      // postings explode twice (avg pass + query-term collect) — 4 corpus
      // passes → 1. Keep/prune decisions identical (SparseVectorSpec pins
      // pruneAgainstDf ≡ prune over dfStats).
      val dfTable = query.SparseVector.dfStats(postings).localCheckpoint()
      val kept = query.SparseVector.pruneAgainstDf(dfTable, all,
        freqRatioThreshold = 1.0, weightThreshold = 0.4)
      val pruned = query.SparseVector.pruneAgainstDf(dfTable, all,
        freqRatioThreshold = 1.0, weightThreshold = 0.4,
        onlyScorePrunedTokens = true)
      query.Hybrid.rescore(
          query.SparseVector.score(postings, "doc_id", kept), "doc_id", "score",
          query.SparseVector.score(postings, "doc_id", pruned), "score",
          windowSize = 10)
        .orderBy("rank").limit(15)
    }),

    "stream_sparse_vector" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // The sparse index as a MAINTAINED at-rest table: the corpus joins
      // the postings as epoch appends (doc-parity halves, epoch 0
      // appended TWICE — the at-least-once replay the per-doc epoch cut
      // must absorb), exactly what maintainPostings writes per
      // micro-batch; serving scores the deduped at-rest view. The oracle
      // is search_sparse_vector's VERBATIM — epochs, replay, and the
      // bucket-partitioned layout must be invisible to results.
      val docs = load(dir, "documents")
      val path = s"/tmp/graft_postings_inc_${math.abs(dir.hashCode)}"
      def inc(epoch: Int): DataFrame =
        query.SparseVector.tfPostingsBucketed(
            docs.where(pmod(col("doc_id"), lit(2)) === epoch),
            "doc_id", "text", numBuckets = 64)
          .withColumn("inc_batch_id", lit(epoch.toLong))
      // r19: the r18 pre-write repartition(term_bucket) is REVERTED for
      // the epoch APPENDS after the verdict-requested A/B (min-of-3 at 32
      // cores, sf0.1): no-repartition 2.9 s vs repartition(col) 3.1 s vs
      // REBALANCE hint 3.2 s, with IDENTICAL file counts (22) in all
      // three — a micro-batch append is bounded-width by construction
      // (AQE coalesces the postings aggregate's tiny output), so the
      // extra exchange was a pure stage barrier. This matches
      // maintainPostings, the actual streaming path, which also appends
      // without a shuffle; the one corpus-sized write of the lifecycle —
      // compactPostingsIncrements — KEEPS its repartition (§6). The
      // replayed epoch-0 branch deliberately stays a duplicate SUBTREE
      // (not a checkpoint): it ends in the postings aggregate's exchange,
      // which ReuseExchange dedupes at runtime — measured in r18: a
      // localCheckpoint here replaced that free reuse with an extra
      // materialization job and gained nothing.
      inc(0).unionByName(inc(1)).unionByName(inc(0)) // epoch 0 replayed
        .write.mode("overwrite").partitionBy("term_bucket").parquet(path)
      val postings = streaming.EventStreams.postingsFromIncrements(
        s, "doc_id", path)
      query.SparseVector.topK(postings, "doc_id",
          Seq("vector" -> 2.0, "dup" -> 1.5, "scan" -> 0.5), k = 15)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("rank")
    }),

    "stream_sparse_vector_compacted" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // stream_sparse_vector's lifecycle driven THROUGH a compaction
      // (round-17 batch 1): epoch appends + a replay, then
      // compactPostingsIncrements folds the history to the live
      // (doc, term) rows under the sentinel epoch (staged swap —
      // term_bucket layout and the num_buckets contract column
      // preserved), then a post-compaction epoch RE-EMITS a third of
      // the documents with identical text: the per-DOC latest-epoch cut
      // must serve the new rows and drop those docs' sentinel rows
      // whole — a per-(doc, term) cut or a dedup slip double-counts and
      // breaks the hash. Oracle: search_sparse_vector's VERBATIM.
      val docs = load(dir, "documents")
      val path = s"/tmp/graft_postings_cmp_${math.abs(dir.hashCode)}"
      graft.store.FsOps.fileSystem(s, path)
        .delete(new org.apache.hadoop.fs.Path(path), true)
      def inc(epoch: Long, cond: Column): DataFrame =
        query.SparseVector.tfPostingsBucketed(
            docs.where(cond), "doc_id", "text", numBuckets = 64)
          .withColumn("inc_batch_id", lit(epoch))
      // r19: append-side repartition reverted after the A/B — see
      // stream_sparse_vector (this query's three appends paid the barrier
      // thrice: 5.8 s with repartition / 6.0 s with REBALANCE vs 4.6 s
      // without, same 44 files in all three). The compaction inside
      // compactPostingsIncrements keeps its repartition — that is the
      // corpus-sized write. The replayed epoch-0 branch stays a duplicate
      // subtree (ReuseExchange dedupes the postings aggregate at runtime
      // — see stream_sparse_vector).
      inc(0L, pmod(col("doc_id"), lit(2)) === 0)
        .unionByName(inc(1L, pmod(col("doc_id"), lit(2)) === 1))
        .unionByName(inc(0L, pmod(col("doc_id"), lit(2)) === 0)) // replay
        .write.mode("append").partitionBy("term_bucket").parquet(path)
      streaming.EventStreams.compactPostingsIncrements(s, "doc_id", path)
      inc(2L, pmod(col("doc_id"), lit(3)) === 0) // post-compaction update
        .write.mode("append").partitionBy("term_bucket").parquet(path)
      val postings = streaming.EventStreams.postingsFromIncrements(
        s, "doc_id", path)
      query.SparseVector.topK(postings, "doc_id",
          Seq("vector" -> 2.0, "dup" -> 1.5, "scan" -> 0.5), k = 15)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("rank")
    }),

    "pipeline_span_corruption" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // T5 span-corruption examples (Raffel et al. 2020): two 3-token
      // spans masked with <extra_id_i> sentinels, inputs/targets pair
      // per document. Span positions from the portable seeded md5 unit
      // hash, one per equal token segment (never overlapping) — the FIM
      // discipline at token granularity; row-local split + slices, zero
      // shuffle, restated in SQL by list slicing.
      ops.Packing.spanCorruptionExamples(load(dir, "documents"),
          "doc_id", "text", numSpans = 2, spanLen = 3)
        .orderBy("doc_id")
    }),

    "pack_sequences" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // Concat-and-chunk packing of the documents corpus into 512-token
      // training sequences over 4 independent id-mod buckets: one hash
      // exchange + per-bucket sort, boundary explode row-local. Every
      // sequence but each bucket's last is exactly 512 tokens (spec-pinned
      // invariant); slice offsets are exact integer arithmetic, restated
      // verbatim in the oracle's window + generate_series form.
      val docs = load(dir, "documents")
      ops.Packing.packConcatChunk(docs, "doc_id",
          ops.TextAnalysis.tokenCount(col("text")), seqLen = 512, numBuckets = 4)
        .orderBy("bucket", "seq", "doc_id")
    }),

    "decontaminate_containment" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // Containment decontamination — "most of this bench item appears in
      // this doc", normalized by the BENCH fingerprint count so document
      // length never dilutes the score (the quoted-eval-question case
      // Jaccard misses). Winnowed fingerprints end to end, fully oracled.
      val docs = load(dir, "documents")
      val bench = docs.where(col("doc_id") % 97 === 0)
      ops.Decontaminate.containmentOverlaps(docs, "doc_id", "text",
          bench, "doc_id", "text", tau = 0.5, shingleK = 3, window = 4)
        .orderBy("doc_id", "bench_id")
    }),

    "decontaminate_fuzzy" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // Fuzzy (Jaccard ≥ 0.35 on 2-shingles) contamination against the
      // same deterministic bench slice: catches near-rewrites exact
      // 8-gram overlap misses. Same hashed-shingle engine path as
      // dedup_ngram_jaccard, same string-shingle oracle restatement.
      val docs = load(dir, "documents")
      val bench = docs.where(col("doc_id") % 97 === 0)
      ops.Decontaminate.fuzzyOverlaps(docs, "doc_id", "text",
          bench, "doc_id", "text", threshold = 0.35, shingleK = 2)
        .orderBy("doc_id", "bench_id")
    }),

    "pack_sequences_text" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // The materialized form of pack_sequences: every 512-token training
      // sequence as its actual space-joined token stream. Token arrays ride
      // through the one bucket exchange; the assembly aggregate reuses its
      // clustering (no join back to the corpus, no second text shuffle).
      ops.Packing.materializeSequences(load(dir, "documents"),
          "doc_id", "text", seqLen = 512, numBuckets = 4)
        .orderBy("bucket", "seq")
    }),

    "text_redact_pii" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // The corpus carries no PII, so the query injects a deterministic
      // docket of it (email, SSN, two phone forms, IPv4) derived from
      // doc_id, then scrubs — the redaction chain itself is what's under
      // oracle. Row-local regexp chain, no shuffle.
      val injected = concat(
        col("text"),
        lit(" contact u"), col("doc_id").cast("string"),
        lit("@ex-corp.example.com ph 555-867-5309 or (415) 555-0100" +
          " ssn 078-05-1120 host 192.168."),
        (col("doc_id") % 256).cast("string"), lit(".7"))
      load(dir, "documents").select(
        col("doc_id"),
        ops.TextAnalysis.redactPii(injected).as("redacted"),
        ops.TextAnalysis.piiMatchCount(injected).as("n_pii"))
        .orderBy("doc_id")
    }),

    "decontaminate_ngram" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // Benchmark decontamination: the "benchmark" is a deterministic slice
      // of the corpus itself (doc_id % 97 = 0), so overlaps are guaranteed
      // (each bench doc flags at least itself) and the whole pipeline —
      // per-row distinct 8-grams, broadcast bench set, count per doc —
      // restates in SQL. Contaminated docs + overlap counts, by id.
      val docs = load(dir, "documents")
      val bench = docs.where(col("doc_id") % 97 === 0)
      ops.Decontaminate.overlaps(docs, "doc_id", "text", bench, "text", n = 8)
        .orderBy("doc_id")
    }),

    "dedup_exact_fingerprint" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // Exact dedup on the normalized-content fingerprint: case/punctuation
      // variants collapse; keep the smallest doc_id per group.
      Dedup.exactByFingerprint(load(dir, "documents"), "text", "doc_id")
        .groupBy("source")
        .agg(count(lit(1)).as("n_unique"))
        .orderBy("source")
    }),

    "dedup_exact_incremental" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // The daily-ingest dedup shape: yesterday's corpus participates only
      // as its fingerprint column (the at-rest store); today's batch
      // left-anti joins it and dedups within itself. No corpus re-scan.
      val docs = load(dir, "documents")
      val store = Dedup.fingerprints(docs.where(col("doc_id") % 2 === 0), "text")
      Dedup.exactIncremental(docs.where(col("doc_id") % 2 =!= 0),
          "text", "doc_id", store)
        .groupBy("source")
        .agg(count(lit(1)).as("n_accepted"))
        .orderBy("source")
    }),

    "dedup_exact_incremental_bloom" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // The 100 TB daily-ingest shape: the store's mergeable Bloom states
      // (built per-half here — the at-rest increment contract) pre-filter
      // the batch, so only maybe-seen rows pay the store anti-join.
      // Exactness is the point: same accepted set, same oracle as
      // dedup_exact_incremental.
      val docs = load(dir, "documents")
      val store = Dedup.fingerprints(docs.where(col("doc_id") % 2 === 0), "text")
      val states = Dedup.fingerprintBloomState(
          store.where(col("fp") % 2 === 0), expectedItems = 100000, numBits = 1 << 21)
        .unionByName(Dedup.fingerprintBloomState(
          store.where(col("fp") % 2 =!= 0), expectedItems = 100000, numBits = 1 << 21))
      Dedup.exactIncrementalBloom(docs.where(col("doc_id") % 2 =!= 0),
          "text", "doc_id", store, states)
        .groupBy("source")
        .agg(count(lit(1)).as("n_accepted"))
        .orderBy("source")
    }),

    "p_json_props" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // Semi-structured metadata extraction (the WARC/metadata-sidecar
      // shape every web-scale pipeline has): pull a typed value out of a
      // JSON string column with the codegen'd built-in path expression —
      // no UDF, no per-row parser object — and aggregate it. Sums stay
      // integer-exact.
      loadEvents(dir)
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy("event_type")
        .agg(count(col("k")).as("n"), sum(col("k")).as("k_sum"),
          min(col("k")).as("k_min"), max(col("k")).as("k_max"))
        .orderBy("event_type")
    }),

    "dedup_cluster_keep" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // The full dedup story: exact near-dup pairs → connected components →
      // keep the smallest doc_id per cluster → counts per source. The
      // unfiltered inverted-index generator is the measured best at this
      // loose threshold on this corpus (its count-as-intersection verify
      // never materializes candidate pairs); dense Zipfian corpora swap in
      // ngramJaccardPairsPrefix (same pairs — see its measured crossover)
      // or the approximate dedup_cluster_keep_minhash composition.
      val docs = load(dir, "documents")
      val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
        threshold = 0.35, shingleK = 2)
      Dedup.keepClusterRepresentatives(docs, "doc_id", pairs)
        .groupBy("source")
        .agg(count(lit(1)).as("n_kept"))
        .orderBy("source")
    }),

    "dedup_cluster_keep_minhash" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // The same cluster-keep pipeline over the LINEAR pair generator — the
      // form a dense 100 TB corpus must run: banded MinHash candidates
      // (cost ∝ docs × bands) instead of the inverted-index self-join
      // (cost ∝ Σ df², which explodes on frequent shingles). The ngram twin
      // above stays registered as the exact-oracle form; DedupSpec pins
      // cluster equivalence on a fixture where banding recall is provably
      // 100% (identical token sets ⇒ identical signatures ⇒ certain
      // collision). No SQL oracle: seeded xxhash64 signatures aren't
      // expressible in DuckDB (rows-only check).
      val docs = load(dir, "documents")
      val pairs = Dedup.minhashNearDupPairs(docs, "doc_id", "text",
        threshold = 0.35, shingleK = 3)
      Dedup.keepClusterRepresentatives(docs, "doc_id", pairs)
        .groupBy("source")
        .agg(count(lit(1)).as("n_kept"))
        .orderBy("source")
    }),

    "pipeline_prep" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // The composed training-data prep flow a 100 TB corpus runs end to
      // end: exact near-dup removal on the content fingerprint → quality
      // floor → language filter → deterministic split assignment →
      // per-cell counts. Each stage is an already-oracled operator; this
      // oracles the COMPOSITION (same flow in DuckDB). One scan, one
      // window shuffle on the fingerprint, one aggregate — the filters and
      // split predicate are row-local and fuse into the scan.
      val docs = load(dir, "documents")
      val deduped = Dedup.exactByFingerprint(docs, "text", "doc_id")
      val kept = deduped.where(
        TextAnalysis.qualityScore(col("text")) >= 0.6 &&
          TextAnalysis.languageId(col("text")) === "en")
      ops.Sampling.assignSplit(kept, "doc_id",
          Seq("train" -> 0.75, "val" -> 0.125, "test" -> 0.125))
        .groupBy("split", "source")
        .agg(count(lit(1)).as("n"))
        .orderBy("split", "source")
    }),

    "sample_mix_sources" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // Domain re-weighting to a target mixture (src0 half, src1/src2 a
      // quarter each — binary-exact weights so the oracle's arithmetic is
      // bit-identical): binding source kept whole, others hash-downsampled.
      ops.Sampling.mixToTarget(load(dir, "documents"), "doc_id", "source",
          Seq("src0" -> 0.5, "src1" -> 0.25, "src2" -> 0.25))
        .groupBy("source")
        .agg(count(lit(1)).as("n"))
        .orderBy("source")
    }),

    "sample_mix_temperature" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // Temperature mixing (the multilingual-LM rule: sample ∝ share^α,
      // α=0.5): the smallest language is kept whole, larger ones
      // hash-downsample toward their square-rooted share. α=0.5 computes
      // as exact IEEE sqrt on both engines — the reason this query can
      // hash-match where a general pow could not.
      ops.Sampling.mixTemperature(load(dir, "documents"), "doc_id", "lang",
          alpha = 0.5)
        .groupBy("lang")
        .agg(count(lit(1)).as("n"))
        .orderBy("lang")
    }),

    "decontaminate_semantic" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // Embedding-space decontamination: the leakage n-grams cannot see
      // (paraphrase/translation) — corpus vectors within cosine 0.42 of
      // any benchmark vector are dropped; the bench broadcasts, the check
      // is one row-local pass.
      val emb = load(dir, "embeddings")
      val bench = emb.where(pmod(col("vec_id"), lit(29)) === 0)
      val corpus = emb.where(pmod(col("vec_id"), lit(29)) =!= 0)
      ops.Decontaminate.cleanSemantic(corpus, "vec_id", "embedding",
          bench, "vec_id", "embedding", threshold = 0.42)
        .groupBy("label")
        .agg(count(lit(1)).as("n_kept"))
        .orderBy("label")
    }),

    "pipeline_prep_llm" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // The round-9 full training-data story in ONE DAG, in the order a
      // 100 TB run wants: row-local filters fused into the scan (language,
      // quality floor, Gopher repetition cut) → exact dedup (one window
      // shuffle on the fingerprint) → benchmark decontamination (broadcast
      // bench grams, ids-only anti-join) → concat-and-chunk packing (one
      // bucket exchange) → per-bucket fill stats. Every stage is an
      // already-oracled operator; this oracles the COMPOSITION.
      val docs = load(dir, "documents")
      val c = col("text")
      val filtered = docs.where(
        TextAnalysis.languageId(c) === "en" &&
          TextAnalysis.qualityScore(c) >= 0.6 &&
          TextAnalysis.topNGramCharFrac(c, 2) <= 0.12)
      val deduped = Dedup.exactByFingerprint(filtered, "text", "doc_id")
      val bench = docs.where(col("doc_id") % 97 === 0)
      // Contamination is a PER-DOCUMENT text property, so flag ids from the
      // pre-dedup frame: flagging the post-dedup frame would be the same
      // predicate but self-reference the dedup subtree, running its
      // corpus-wide fingerprint shuffle twice (the duplicated branch costs
      // only a second codegen'd scan this way).
      val flagged = ops.Decontaminate.overlaps(filtered, "doc_id", "text",
        bench, "text", n = 8).select("doc_id")
      val clean = deduped.join(broadcast(flagged), Seq("doc_id"), "left_anti")
      val packed = ops.Packing.packConcatChunk(clean, "doc_id",
        TextAnalysis.tokenCount(col("text")), seqLen = 512, numBuckets = 4)
      // Distinct-free fill stats from packing invariants (each doc has
      // exactly one slice_begin = 0 row; seqs are contiguous from 0): a
      // countDistinct pair here would Expand the frame 3× and add two
      // exchanges; this aggregate rides the window's bucket clustering
      // with no exchange at all.
      packed.groupBy("bucket").agg(
          sum(when(col("slice_begin") === 0, 1L).otherwise(0L)).as("n_docs"),
          (max(col("seq")) + 1).as("n_seqs"),
          sum("slice_len").as("n_tokens"))
        .orderBy("bucket")
    }),

    // ===== Training-data ops: deterministic sampling =====

    "sample_hash" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      ops.Sampling.hashSample(load(dir, "documents"), "doc_id", fraction = 0.1)
        .select("doc_id", "source")
        .orderBy("doc_id")
    }),

    "sample_split" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // 0.75/0.125 are exact binary fractions: cumulative boundaries agree
      // bit-for-bit with the oracle's literals (0.8 + 0.1 would not).
      ops.Sampling.assignSplit(load(dir, "documents"), "doc_id",
          Seq("train" -> 0.75, "val" -> 0.125, "test" -> 0.125))
        .groupBy("split")
        .agg(count(lit(1)).as("n"))
        .orderBy("split")
    }),

    "sample_split_cluster_safe" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // Leakage-safe split: near-dup clusters (portable-MinHash pairs →
      // connected components, the certified dedup_cluster_keep_portable
      // pipeline) are the split unit — no paraphrase pair can straddle
      // train/test. Same pinned 500-doc certification slice; the
      // cross-engine proof re-runs pairs → closure → representative →
      // hash-split end to end.
      val docs = load(dir, "documents").where(col("doc_id") < 500)
      val pairs = Dedup.minhashNearDupPairsPortable(docs, "doc_id", "text",
        threshold = 0.4, shingleK = 2, numBands = 16, rowsPerBand = 2)
      ops.Sampling.clusterSafeSplit(docs, "doc_id", pairs,
          Seq("train" -> 0.75, "val" -> 0.125, "test" -> 0.125))
        .groupBy("split")
        .agg(count(lit(1)).as("n"))
        .orderBy("split")
    }),

    "sample_stratified" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      ops.Sampling.stratifiedHashSample(load(dir, "documents"), "doc_id", "source",
          Map("src0" -> 1.0, "src1" -> 0.5, "src2" -> 0.2))
        .groupBy("source")
        .agg(count(lit(1)).as("n"))
        .orderBy("source")
    }),

    // ===== Multimodal plumbing (stub codec; rows-only check) =====

    "mm_feature_stats" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      Multimodal.featureStatsByKind(load(dir, "documents"), "doc_id", "text", dim = 16)
    }),

    "mm_meta_stats" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // The integer-exact slice of the multimodal pipeline: counts, byte
      // totals, dimensions, durations, and sampled-frame arithmetic are
      // deterministic integers, so this leg hash-matches its oracle while
      // the codec's float features stay spec-pinned (MultimodalSpec).
      Multimodal.metaStatsByKind(load(dir, "documents"), "doc_id", "text")
    }),

    // ===== Streaming shapes (batch-parity form) =====

    "stream_window_counts" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      EventStreams.windowedCounts(loadEvents(dir), windowDuration = "1 day")
        .select(date_format(col("window_start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
          col("event_type"), col("n"), round(col("total_value"), 2).as("total_value"))
        .orderBy("window_start", "event_type")
    }),

    "stream_sessionize" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // Batch twin of the streaming sessionizer (gap = 1 hour); the
      // stateful streaming path is exercised in EventStreamsSpec.
      EventStreams.sessionizeBatch(loadEvents(dir), gapMs = 3600 * 1000L)
        .select(col("user_id"),
          date_format(col("session_start"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
          date_format(col("session_end"), "yyyy-MM-dd HH:mm:ss").as("session_end"),
          col("n_events"), round(col("total_value"), 2).as("total_value"))
        .orderBy("user_id", "session_start")
    }),

    // ===== ES|QL front-end (query/Esql.scala): the piped query language
    // compiled to ONE declarative plan — pushdown / pruning / top-K /
    // broadcast ENRICH all verified in EsqlSpec's plan pins =====

    "esql_stats" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // The pricing-summary shape as ES|QL: WHERE compiles against the
      // scan (PushedFilters), STATS is one partial+final hash agg. The
      // average price rides the integer-cents discipline (SUM of per-row
      // FLOOR(price·100) is a LONG fold — exact in any order) with a
      // fixed division tree both engines restate.
      query.Esql.run(
        """FROM lineitem
          | WHERE l_shipdate <= TO_DATETIME("1998-09-02 00:00:00")
          | STATS sum_qty = SUM(l_quantity), n = COUNT(*),
              avg_price = ROUND(TO_DOUBLE(SUM(FLOOR(l_extendedprice * 100))) / COUNT(*) / 100.0, 4)
            BY l_returnflag, l_linestatus
          | SORT l_returnflag, l_linestatus""",
        t => load(dir, t))
    }),

    "esql_wordcount" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // The canonical pipeline demo — tokenize, MV_EXPAND, aggregate:
      // explode feeds one hash agg, TakeOrderedAndProject caps the page.
      query.Esql.run(
        """FROM documents | EVAL tok = SPLIT(text, " ") | MV_EXPAND tok
          | WHERE LENGTH(tok) > 3 | STATS c = COUNT(*) BY tok
          | SORT c DESC, tok | LIMIT 25""",
        t => load(dir, t))
    }),

    "esql_dissect" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // DISSECT's literal-separator extract over the JSON-shaped props
      // column, typed with TO_INTEGER, aggregated per event_type. SUM of
      // ints is a long fold — exact; cast to double for a stable schema.
      query.Esql.run(
        """FROM events | DISSECT props "{\"k\": %{kv}}"
          | EVAL k = TO_INTEGER(kv)
          | STATS n = COUNT(*), total = TO_DOUBLE(SUM(k)) BY event_type
          | SORT event_type""",
        t => if (t == "events") loadEvents(dir) else load(dir, t))
    }),

    "esql_grok" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // GROK's typed extract (INT pattern with an :int cast) over the same
      // props fixture, reduced with MIN/MAX — integer-exact.
      query.Esql.run(
        """FROM events | GROK props "{\"k\": %{INT:kv:int}}"
          | STATS mx = MAX(kv), mn = MIN(kv) BY event_type
          | SORT event_type""",
        t => if (t == "events") loadEvents(dir) else load(dir, t))
    }),

    "esql_enrich" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // ENRICH = broadcast left join against the policy table (nation is
      // the enrich index; EsqlSpec pins BroadcastHashJoin). Account
      // balance totals ride the cents discipline.
      query.Esql.run(
        """FROM customer | ENRICH nations ON c_nationkey WITH nation = n_name
          | STATS n = COUNT(*), acct = TO_DOUBLE(SUM(FLOOR(c_acctbal * 100))) / 100.0 BY nation
          | SORT nation""",
        t => load(dir, t),
        Map("nations" -> query.Esql.EnrichPolicy(load(dir, "nation"), "n_nationkey", Seq("n_name"))))
    }),

    // ===== geo_shape completion: multi-ring shapes + envelope relations =====

    "q_geo_shape_multi" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // ES geo_shape with a polygon-with-hole PLUS a disjoint second
      // component, in one even-odd crossing count (a hole is just a ring
      // whose crossings flip the parity back). Same synthetic coordinate
      // fixture as q_geo_shape_polygon; the oracle restates the unrolled
      // arithmetic edge for edge via geoCrossingsSql — bit-exact, no libm.
      val pts = load(dir, "customer")
        .withColumn("lat", pmod(col("c_acctbal"), lit(180)) - 90 + lit(0.001))
        .withColumn("lon", pmod(col("c_custkey"), lit(360)) - 180 + lit(0.001))
      pts.where(graft.query.FilterSpec.GeoShape("lat", "lon", geoMultiRings).compile)
        .select("c_custkey", "c_mktsegment")
        .orderBy("c_custkey")
    }),

    "q_geo_shape_envelope" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // ES geo_shape `envelope` under the DISJOINT relation — four range
      // comparisons negated, aggregated per segment (the complement set is
      // corpus-sized; a grouped count keeps the result page-shaped).
      val pts = load(dir, "customer")
        .withColumn("lat", pmod(col("c_acctbal"), lit(180)) - 90 + lit(0.001))
        .withColumn("lon", pmod(col("c_custkey"), lit(360)) - 180 + lit(0.001))
      pts.where(graft.query.FilterSpec.GeoEnvelope("lat", "lon",
          -30, 30, -60, 60, relation = "disjoint").compile)
        .groupBy("c_mktsegment").agg(count(lit(1)).as("n"))
        .orderBy("c_mktsegment")
    }),

    // ===== simple_query_string: the never-throws end-user grammar =====

    "q_simple_query_string" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // Lucene SimpleQueryParser's LEFT FOLD under default AND: the `|`
      // folds first ((phrase OR merge*)), then the negated clause folds
      // in under the default operator — ((phrase | merge*) AND NOT
      // slow), every operator doing real work. (Under default OR the
      // fold would OR the complement in — the documented ES gotcha.)
      val spec = graft.query.SimpleQueryString.parse(
        "\"hash join\" | merge* -slow", "text", "and")
      load(dir, "documents").where(spec.compile)
        .select("doc_id", "lang").orderBy("doc_id")
    }),

    "q_simple_query_string_fields" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // simple_query_string with fields=["text^5","source"] — the SCORED
      // multi-field form: the flat default-OR bag of terms scores each
      // field with ITS own BM25 statistics, boosted 5/1, summed per doc
      // (Lucene SimpleQueryParser's newDefaultQuery: a BoostQuery-wrapped
      // SHOULD clause per field). The boost provably reorders: unweighted,
      // the short `source` field's exact src1 hit dominates every ranking
      // (tiny avgdl); 5× on text puts strong text matches above it —
      // Bm25Spec pins the flip. The filter twin is
      // SimpleQueryString.parseFields (same match set, spec-pinned).
      query.Bm25.multiMatchWeightedTopK(load(dir, "documents"), "doc_id",
        Seq("text" -> 5.0, "source" -> 1.0), "src1 merge", 20)
    }),

    "q_query_string_fields" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // query_string with fields=["text","source"]: BARE clauses (prefix,
      // term) match in ANY of the fields (ES's dis_max expansion — in
      // filter context the disjunction); the explicit lang: clause is
      // unaffected.
      val spec = graft.query.QueryString.parseFields(
        "(merge* OR src1) AND lang:en", Seq("text", "source"))
      load(dir, "documents").where(spec.compile)
        .select("doc_id", "lang", "source").orderBy("doc_id")
    }),

    // ===== percentiles_bucket sibling-pipeline agg =====

    "g_percentiles_bucket" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // Exact R-7 percentiles over the daily event-count series (30
      // buckets at any sf — the sibling series is bucket-bounded, so the
      // exact statistic replaces ES's TDigest approximation).
      val series = loadEvents(dir)
        .groupBy(date_trunc("day", col("ts")).as("d"))
        .agg(count(lit(1)).as("n"))
      Aggs.percentilesBucket(series, "n", Seq(25.0, 50.0, 75.0, 95.0))
        .orderBy("percent")
    }),

    "esql_lookup_join" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // ES|QL LOOKUP JOIN (8.18): the lookup index's FULL rows join in on
      // a shared column name (vs ENRICH's policy-projected fields) — the
      // idiomatic RENAME-then-join, broadcast like the single-shard
      // lookup index it models. MIN/MAX folds are order-exact doubles.
      query.Esql.run(
        """FROM customer | RENAME c_nationkey AS n_nationkey
          | LOOKUP JOIN nation ON n_nationkey
          | STATS n = COUNT(*), hi = MAX(c_acctbal), lo = MIN(c_acctbal) BY n_name
          | SORT n_name""",
        t => load(dir, t))
    }),

    "esql_inlinestats" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // ES|QL INLINESTATS: the group mean appended per row (ONE window
      // exchange, rows preserved), then rows above their group's mean
      // counted — the classic above-average filter that plain STATS
      // cannot express without a self-join.
      query.Esql.run(
        """FROM lineitem
          | INLINESTATS avg_qty = SUM(l_quantity) / COUNT(*) BY l_returnflag
          | WHERE l_quantity > avg_qty
          | STATS n = COUNT(*) BY l_returnflag
          | SORT l_returnflag""",
        t => load(dir, t))
    }),

    "q_script_score" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // ES script_score: the BM25 query's score replaced by a script over
      // the doc — and the "script" language here IS the ES|QL expression
      // grammar (Esql.column), compiled to the same codegen'd Catalyst
      // tree as every other predicate; 0.5 is dyadic, the length term is
      // one fixed division both engines restate.
      val docs = load(dir, "documents")
      val analyzed = concat(lit(" "),
        graft.expr.TextMatch.normalized(col("text")), lit(" "))
      val scored = query.Bm25.scoredAll(docs, "doc_id", analyzed, "dup vector")
      scored.join(docs.select("doc_id", "n_chars"), "doc_id")
        .withColumn("score", query.Esql.column("score * 0.5 + n_chars / 1000.0"))
        .select("doc_id", "score")
        .orderBy(desc("score"), asc("doc_id"))
        .limit(20)
    }),

    "esql_sample" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // ES|QL SAMPLE under the determinism discipline: seeded md5 key
      // hash instead of ES's per-row RNG — reproducible across engines,
      // so the sample COUNTS hash-match the oracle exactly (a property
      // ES's own SAMPLE cannot have).
      query.Esql.run(
        """FROM documents | SAMPLE 0.25 ON doc_id
          | STATS n = COUNT(*), langs = COUNT_DISTINCT(lang) BY source
          | SORT source""",
        t => load(dir, t))
    }),

    "esql_pipeline" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // The composition pin: one program threading SAMPLE (keyed hash) →
      // DISSECT (typed extract) → INLINESTATS (group mean as a window) →
      // WHERE (above the group mean) → STATS BY BUCKET (daily) → SORT →
      // LIMIT. Seven commands, one declarative plan — the integration
      // claim the per-command oracles can't make alone.
      query.Esql.run(
        """FROM events
          | SAMPLE 0.5 ON event_id
          | DISSECT props "{\"k\": %{kv}}"
          | EVAL k = TO_INTEGER(kv)
          | INLINESTATS avg_k = SUM(k) / COUNT(*) BY event_type
          | WHERE k > avg_k
          | STATS n = COUNT(*), hi = MAX(k) BY day = BUCKET(ts, 1 day), event_type
          | SORT day, event_type
          | LIMIT 50""",
        t => if (t == "events") loadEvents(dir) else load(dir, t))
    }),

    "esql_stats_where" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // ES|QL per-aggregate WHERE (8.13): filtered and unfiltered
      // aggregates in ONE scan and one hash agg — each filter wraps its
      // aggregate's fed values in when(cond, v), never a second pass.
      query.Esql.run(
        """FROM lineitem
          | STATS n_ret = COUNT(*) WHERE l_returnflag == "R",
              qty_ret = SUM(l_quantity) WHERE l_returnflag == "R",
              n = COUNT(*)
            BY l_linestatus
          | SORT l_linestatus""",
        t => load(dir, t))
    }),

    "esql_functions" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // The scalar-function padding sweep as one oracled page: hashes
      // (md5/sha256 — both engines emit lowercase hex), base64,
      // reverse, toward-zero TRUNC, SIGNUM, BIT_LENGTH — every value a
      // deterministic function of the row, restated verbatim in DuckDB.
      query.Esql.run(
        """FROM documents | WHERE doc_id < 30
          | EVAL h = MD5(lang), s2 = SHA256(source), b = TO_BASE64(lang),
              r = REVERSE(source), t = TRUNC(n_chars / 7.0, 1),
              sg = SIGNUM(n_chars - 500), bl = TO_LONG(BIT_LENGTH(source))
          | KEEP doc_id, h, s2, b, r, t, sg, bl | SORT doc_id""",
        t => load(dir, t))
    }),

    "esql_match" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // ES|QL full-text functions inside WHERE (the 8.16 surface): MATCH
      // is the match query's analyzed-OR, MATCH_PHRASE the contiguous
      // form — both riding the SAME TextMatch kernel as the query-DSL
      // tier, so the pipe language and /search agree on what matches.
      query.Esql.run(
        """FROM documents
          | WHERE MATCH(text, "hash join") AND NOT MATCH_PHRASE(text, "batch scan")
          | STATS n = COUNT(*) BY lang | SORT lang""",
        t => load(dir, t))
    }),

    "esql_change_point" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // ES|QL CHANGE_POINT over the daily series built in-pipe: rows pass
      // through, the detected step-change row keeps its type/pvalue mark
      // (Aggs.changePoint's exact cross-multiplied core; the no-ml delta
      // is documented there), WHERE + EVAL page it to the g_change_point
      // shape.
      query.Esql.run(
        """FROM events | STATS n = COUNT(*) BY d = DATE_TRUNC(1 day, ts)
          | CHANGE_POINT n ON d | WHERE type IS NOT NULL
          | EVAL day = DATE_FORMAT("yyyy-MM-dd", d)
          | KEEP day, type, pvalue""",
        t => if (t == "events") loadEvents(dir) else load(dir, t))
    }),

    "esql_fork_fuse" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // ES|QL FORK + FUSE (the 9.x hybrid-retrieval pipeline shape): two
      // branches rank the same filtered corpus by different signals
      // (length vs a deterministic mod-score), each top-10 via
      // TakeOrderedAndProject, fused with reciprocal-rank (k = 60) —
      // contributions fold over a SORTED array, one fixed tree per doc.
      query.Esql.run(
        """FROM documents | WHERE lang == "en"
          | FORK ( EVAL s = TO_DOUBLE(n_chars) | SORT s DESC, doc_id | LIMIT 10 )
                 ( EVAL s = TO_DOUBLE(doc_id % 97) | SORT s DESC, doc_id | LIMIT 10 )
          | FUSE rrf ON doc_id SCORE s
          | SORT _score DESC, doc_id | LIMIT 15""",
        t => load(dir, t))
    }),

    "esql_categorize" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // ES|QL CATEGORIZE (8.18 GA): the categorize_text agg expressed as
      // a STATS grouping function — the same row-local template
      // (Aggs.categoryTemplate), so this is g_categorize_text's result
      // through the pipe language, with MIN(doc_id) as the exemplar.
      query.Esql.run(
        """FROM documents
          | STATS count = COUNT(*), example_id = MIN(doc_id) BY category = CATEGORIZE(text)
          | SORT count DESC, category | LIMIT 10""",
        t => load(dir, t))
    }),

    "esql_bucket_numeric" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // ES|QL numeric BUCKET: the histogram form — integral width over
      // n_chars, exact integer bucket starts.
      query.Esql.run(
        """FROM documents
          | STATS n = COUNT(*) BY b = BUCKET(n_chars, 200)
          | SORT b""",
        t => load(dir, t))
    }),

    "esql_date_functions" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // ES|QL DATE_DIFF + DATE_EXTRACT over the event stream: days since
      // a midnight-aligned epoch (positive diffs + midnight alignment
      // make trunc ≡ DuckDB's boundary count — the restatable regime;
      // calendar units reject, the documented engine-divergence seam)
      // and the ISO day-of-week profile of event volume.
      query.Esql.run(
        """FROM events
          | EVAL dd = DATE_DIFF("day", TO_DATETIME("2023-12-01 00:00:00"), ts),
                 dow = DATE_EXTRACT("day_of_week", ts)
          | STATS n = COUNT(*), lo = MIN(dd), hi = MAX(dd) BY dow
          | SORT dow""",
        t => if (t == "events") loadEvents(dir) else load(dir, t))
    }),

    "esql_inlinestats_median" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // INLINESTATS with an ordered-set aggregate — compiled as the
      // STATS + broadcast null-safe join-back rewrite (NO window; the
      // rewrite ES|QL documents as the user workaround, applied by the
      // compiler): docs above their language's median length, counted
      // per language.
      query.Esql.run(
        """FROM documents
          | INLINESTATS med = MEDIAN(n_chars) BY lang
          | WHERE n_chars > med
          | STATS n = COUNT(*) BY lang | SORT lang""",
        t => load(dir, t))
    }),

    "esql_inlinestats_global" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // INLINESTATS with NO BY keys — compiled as a 1-row aggregate +
      // broadcast cross join, NOT an unpartitioned window (the
      // round-17 verdict's latent scale-killer, now plan-pinned): the
      // longest documents in the corpus.
      query.Esql.run(
        """FROM documents
          | INLINESTATS m = MAX(n_chars)
          | WHERE n_chars == m
          | KEEP doc_id, n_chars | SORT doc_id""",
        t => load(dir, t))
    }),

    "esql_ts_rate" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // ES|QL TS + RATE/INCREASE (the 8.18+ TSDB pipe surface):
      // g_time_series_rate's exact computation expressed in the pipe
      // language — the front-end invisible to results (shares that
      // oracle verbatim). The derived counter frame rides resolve as
      // the TS index, the same seam every FROM uses.
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("event_type").orderBy("ts", "event_id")
      val ctr = loadEvents(dir)
        .withColumn("ctr", (row_number().over(w).cast("long") * 7) % 1000)
      query.Esql.run(
        """TS events_ctr
          | STATS increase = INCREASE(ctr, event_id), rate = RATE(ctr, event_id)
              BY bucket = BUCKET(ts, 1 hour), event_type
          | SORT event_type, bucket""",
        t => if (t == "events_ctr") ctr else load(dir, t))
    }),

    "esql_fork_fuse_linear" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // ES|QL FUSE linear (9.x): the same two FORK branches as
      // esql_fork_fuse, fused by score MAGNITUDE — per-branch min-max
      // normalization over each branch's own top-10 window, weighted
      // 0.7/0.3, summed per doc (sorted-fold, the determinism rule).
      // The engine twin of search_linear_fusion, expressed in the pipe
      // language.
      query.Esql.run(
        """FROM documents | WHERE lang == "en"
          | FORK ( EVAL s = TO_DOUBLE(n_chars) | SORT s DESC, doc_id | LIMIT 10 )
                 ( EVAL s = TO_DOUBLE(doc_id % 97) | SORT s DESC, doc_id | LIMIT 10 )
          | FUSE linear ON doc_id SCORE s NORM minmax WEIGHTS 0.7, 0.3
          | SORT _score DESC, doc_id | LIMIT 15""",
        t => load(dir, t))
    }),

    "esql_topk" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // EVAL-scored top-K: SORT + LIMIT fuse to TakeOrderedAndProject (no
      // global sort) — the script_score serving shape, expressed in the
      // pipe language end to end.
      query.Esql.run(
        """FROM documents | WHERE lang == "en"
          | EVAL score = n_chars / 100.0 + CASE(source == "src0", 2, source == "src1", 1, 0)
          | SORT score DESC, doc_id | LIMIT 20 | KEEP doc_id, score""",
        t => load(dir, t))
    }),

    "esql_qstr" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // ES|QL QSTR (8.16): the Lucene query_string grammar inside the
      // pipe language — phrase, analyzed prefix, field clause, boolean —
      // compiled through the SAME QueryString parser as the /search
      // route's filter, with the default field supplied as the run
      // option (the /esql route's default_field; ES reads it from the
      // index mapping).
      query.Esql.run(
        """FROM documents
          | WHERE QSTR("(\"hash join\" OR merge*) AND lang:en")
          | STATS n = COUNT(*) BY source | SORT source""",
        t => load(dir, t), defaultField = Some("text"))
    }),

    "esql_kql" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // ES|QL KQL (8.16): the Kibana Query Language — value groups,
      // range comparisons, analyzed prefix — via the Kql compiler with
      // the same default-field seam as QSTR.
      query.Esql.run(
        """FROM documents
          | WHERE KQL("lang:(en or de) and n_chars >= 200 and text:merge*")
          | STATS n = COUNT(*) BY lang | SORT lang""",
        t => load(dir, t), defaultField = Some("text"))
    }),

    "esql_trig" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // The trigonometric scalar family as one oracled page. Every value
      // is ROUND(…, 6) so sub-ulp libm deltas between the JVM and DuckDB
      // cannot surface; SCALB's 1.5·2⁴ is exact in both engines.
      query.Esql.run(
        """FROM documents | WHERE doc_id < 30
          | EVAL x = doc_id / 10.0
          | EVAL s = ROUND(SIN(x), 6), c = ROUND(COS(x), 6),
              a2 = ROUND(ATAN2(x, 1.0 + x), 6), asn = ROUND(ASIN(x / 3.0), 6),
              dg = ROUND(TO_DEGREES(x), 6), hy = ROUND(HYPOT(x, 1.0), 6),
              th = ROUND(TANH(x), 6), sb = SCALB(1.5, 4)
          | KEEP doc_id, s, c, a2, asn, dg, hy, th, sb | SORT doc_id""",
        t => load(dir, t))
    }),

    "esql_mv_stats" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // The ordered-set MV family over SPLIT-built arrays: the numeric
      // up-cast means "9,10,2" medians as numbers (a lexicographic sort
      // would put "10" first — the oracle would catch it), MV_ZIP keeps
      // the longer side's tail, and the p-series fold runs in array order.
      query.Esql.run(
        """FROM documents | WHERE doc_id < 40
          | EVAL parts = SPLIT(CONCAT(TO_STRING(n_chars), ",", TO_STRING(doc_id * 7 % 100), ",", TO_STRING(doc_id)), ",")
          | EVAL med = MV_MEDIAN(parts), mad = MV_MEDIAN_ABSOLUTE_DEVIATION(parts),
              p75 = MV_PERCENTILE(parts, 75), ps = ROUND(MV_PSERIES_WEIGHTED_SUM(parts, 1.5), 6),
              z = MV_JOIN(MV_ZIP(SPLIT(CONCAT(lang, ",", source), ","), SPLIT(TO_STRING(n_chars), "."), "|"), ";")
          | KEEP doc_id, med, mad, p75, ps, z | SORT doc_id""",
        t => load(dir, t))
    }),

    "esql_cast_hash" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // The `::` inline-cast shorthand (sugar for TO_*) and the
      // generalized HASH function — md5/sha256 restated verbatim in
      // DuckDB (sha1/sha512 are spec-certified against MessageDigest;
      // DuckDB ships neither).
      query.Esql.run(
        """FROM documents | WHERE doc_id < 30
          | EVAL a = n_chars::double / 7.0, b = doc_id::string,
              flag = (n_chars > 200)::string,
              hm = HASH("md5", source), hs = HASH("sha256", CONCAT(lang, source))
          | KEEP doc_id, a, b, flag, hm, hs | SORT doc_id""",
        t => load(dir, t))
    }),

    "esql_date_parse_ip" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // DATE_PARSE (null on unparseable — ES's warning path) rendered
      // back through DATE_FORMAT so the oracle compares strings, not
      // timestamp encodings; TO_IP validation and IP_PREFIX /20 masking
      // restated as integer arithmetic in DuckDB.
      query.Esql.run(
        """FROM documents | WHERE doc_id < 50
          | EVAL ds = CONCAT("2024/03/0", TO_STRING(doc_id % 9 + 1), " 07:0", TO_STRING(doc_id % 10)),
              d = DATE_FORMAT("yyyy-MM-dd HH:mm", DATE_PARSE("yyyy/MM/dd HH:mm", ds)),
              ip = CONCAT("10.", TO_STRING(doc_id % 256), ".", TO_STRING(doc_id * 3 % 256), ".", TO_STRING(doc_id % 250 + 1)),
              v = TO_IP(ip), pfx = IP_PREFIX(ip, 20, 0),
              bad = TO_IP(CONCAT("300.", TO_STRING(doc_id), ".1.1"))
          | KEEP doc_id, d, ip, v, pfx, bad | SORT doc_id""",
        t => load(dir, t))
    }),

    "esql_spatial" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // The ST_* family end-to-end over the synthetic customer
      // coordinates (q_geo_shape_polygon's concave-pentagon fixture as
      // WKT): TO_GEOPOINT round-trips lon/lat through WKT text (Spark's
      // double→string→double is exact), ST_INTERSECTS ray-casts
      // bit-exactly against geoCrossingsSql, and ST_DISTANCE haversine
      // is rounded per-row to 2 decimals (cm) before the 1-decimal
      // group average so libm ulps and summation order cannot surface.
      query.Esql.run(
        """FROM customer
          | EVAL lat = ((c_acctbal % 180.0) + 180.0) % 180.0 - 90.0 + 0.001,
              lon = ((c_custkey % 360) + 360) % 360 - 180 + 0.001,
              pt = TO_GEOPOINT(CONCAT("POINT (", TO_STRING(lon), " ", TO_STRING(lat), ")")),
              inside = ST_INTERSECTS(pt, TO_GEOSHAPE("POLYGON ((-150 -60, -150 60, -30 60, -30 -60, -90 0, -150 -60))")),
              d = ROUND(ST_DISTANCE(pt, TO_GEOPOINT("POINT (0 0)")), 2)
          | WHERE ST_WITHIN(pt, TO_GEOSHAPE("POLYGON ((-180 -90, 180 -90, 180 90, -180 90, -180 -90))"))
          | STATS n = COUNT(*), avg_d = ROUND(AVG(d), 1) BY inside | SORT inside""",
        t => load(dir, t))
    }),

    "esql_show_info" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // SHOW INFO — the client handshake; the values are pinned build
      // constants so the row is deterministic and hash-gated.
      query.Esql.run("SHOW INFO", t => load(dir, t))
    }),

    "esql_date_math" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // date ± span arithmetic (calendar-aware month step across the 2024
      // leap February), 3-arg LOCATE (original-string 1-based index), and
      // MV_CONCAT, ES|QL's name for the delimiter join.
      query.Esql.run(
        """FROM documents | WHERE doc_id < 40
          | EVAL base = DATE_PARSE("yyyy-MM-dd", CONCAT("2024-01-", TO_STRING(doc_id % 18 + 10))),
              p_month = DATE_FORMAT("yyyy-MM-dd HH:mm", base + 1 month),
              m_week = DATE_FORMAT("yyyy-MM-dd HH:mm", base - 2 week),
              p_hour = DATE_FORMAT("yyyy-MM-dd HH:mm", base + 36 hour),
              loc = TO_LONG(LOCATE(text, "the", 10)),
              mvc = MV_CONCAT(SPLIT(source, "r"), "+")
          | KEEP doc_id, p_month, m_week, p_hour, loc, mvc | SORT doc_id""",
        t => load(dir, t))
    }),

    "esql_ts_gauge" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // The TSDB gauge surface: inner *_OVER_TIME aggregates each series
      // (user_id — passed explicitly, the mapping seam) within each hour
      // bucket, the outer combines across series. Two hash aggregates,
      // no window. ROUND(AVG, 4) is NOT enough to pin a double mean whose
      // exact value sits on the half boundary (sf0.01 has one at exactly
      // 36.36625), so the engine accumulates a rounded AVG/SUM in DECIMAL
      // (order-independent) and the oracle averages over DECIMAL (DuckDB's
      // exact hugeint-sum path) THEN rounds on a DECIMAL(28,8)
      // re-quantization — DuckDB's avg returns DOUBLE, and rounding that
      // double directly would still flip on boundary means whose nearest
      // double sits below the boundary (e.g. a mean of exactly 557.46125).
      // Both sides therefore round the same exact rational half-away at 4;
      // the shared contract is a finite gauge quantized at ≤4 decimals.
      query.Esql.run(
        """TS events
          | STATS peak = MAX(MAX_OVER_TIME(value, user_id)),
              floor_avg = ROUND(AVG(MIN_OVER_TIME(value, user_id)), 4),
              active = MAX(COUNT_OVER_TIME(value, user_id))
              BY event_type, b = BUCKET(ts, 1 hour)
          | SORT event_type, b | LIMIT 40""",
        t => load(dir, t))
    }),

    "q_kql_nested" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // KQL nested-query braces end-to-end: lineitems nested under their
      // orders, then `items:{ flag:R and qty > 45 }` — SOME item is both
      // returned AND high-quantity ON THE SAME LINE. The oracle is the
      // relational EXISTS over the child table (nested semantics ≡ a
      // same-row predicate before nesting); the flattened object reading
      // (a returned item anywhere + a qty>45 item anywhere) would
      // overmatch, which the spec pins.
      val items = load(dir, "lineitem").select(
        col("l_orderkey").as("oid"), col("l_returnflag").as("flag"),
        col("l_quantity").as("qty"))
      val parents = graft.query.NestedDocs.nest(items, "oid", Seq("flag", "qty"), as = "items")
      parents.where(graft.query.Kql.parse("items:{ flag:R and qty > 45 }", None).compile)
        .select("oid").orderBy("oid")
    }),

    "esql_like_list" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // the 8.16 LIKE pattern-list form: any pattern matches; NOT negates
      // the disjunction — restated as OR'd SQL LIKEs
      query.Esql.run(
        """FROM documents
          | WHERE source LIKE ("src1*", "src2*") AND lang NOT LIKE ("e*")
          | STATS n = COUNT(*) BY source | SORT source""",
        t => load(dir, t))
    }),

    "esql_params" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // named ?param placeholders (ES's POST /_query params) bound as
      // typed literals at compile — the bound plan is indistinguishable
      // from inlined literals, so pushdown survives
      query.Esql.run(
        """FROM documents | WHERE lang == ?lang AND n_chars >= ?minc
          | STATS n = COUNT(*), mx = MAX(n_chars) BY source | SORT source""",
        t => load(dir, t), params = Map("lang" -> "en", "minc" -> 200L))
    }),

    "esql_params_field" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // ??name field-name parameters (8.15+): the scanner splices a plain
      // identifier token, so the parsed program is indistinguishable from
      // one with the column inline — the WHERE pushes down and the BY key
      // takes the REAL column name (which is why the oracle can GROUP BY
      // it). Value params (?min) ride alongside.
      query.Esql.run(
        """FROM lineitem | WHERE ??qty > ?min
          | STATS n = COUNT(*) BY ??flag | SORT ??flag""",
        t => load(dir, t),
        params = Map("qty" -> "l_quantity", "min" -> 45L, "flag" -> "l_returnflag"))
    }),

    "esql_rerank" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // ES|QL RERANK with a REGISTERED deterministic scorer in the
      // inference_id slot (model endpoints stay the loud seam):
      // word-bigram Jaccard between the query text and each document —
      // integer-exact intersection/union counts, one exact IEEE
      // division, so the score hash-matches.
      query.Esql.run(
        """FROM documents
          | RERANK j = "dup vector scan merge" ON text WITH {"inference_id": "ngram-jaccard"}
          | KEEP doc_id, j
          | SORT j DESC, doc_id
          | LIMIT 15""",
        t => load(dir, t))
    }),

    "esql_dissect_append" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // The dissect modifier set on a worked line: %{first->} right-pads
      // (the double space between name and key absorbs into ONE
      // separator — without the modifier the second piece would capture
      // the empty string between the spaces), %{+first} appends under
      // APPEND_SEPARATOR, %{?skip}-style skips stay non-capturing.
      query.Esql.run(
        """FROM nation
          | EVAL line = CONCAT(n_name, "  ", TO_STRING(n_nationkey), " ", n_name)
          | DISSECT line "%{first->} %{num} %{+first}" APPEND_SEPARATOR="_"
          | KEEP n_nationkey, first, num
          | SORT n_nationkey""",
        t => load(dir, t))
    }),

    "ann_maxsim" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // Late-interaction (ColBERT) MaxSim: per-token vectors derived by
      // slicing the 64-d embeddings into 8 tokens × 8 dims (the oracle
      // slices identically); the 3 query tokens are DYADIC constants with
      // no zeros, so every float→double product and sequential fold is
      // exact in both engines — hash-exact compare, no rounding.
      val toks = load(dir, "embeddings").withColumn("tok_vecs",
        transform(sequence(lit(0), lit(7)),
          i => slice(col("embedding"), i * lit(8) + lit(1), lit(8))))
      graft.ops.Similarity.maxSimTopK(toks, "vec_id", "tok_vecs", maxSimQueryTokens, 20)
    }),

    "esql_version_sort" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // TO_VERSION as a sort key: synthesized semver strings (numeric
      // minor up to 11 — "1.10" must sort after "1.2", which a lexical
      // sort gets wrong — plus an -alpha prerelease tier that sorts
      // BEFORE its release); the oracle restates the same padded
      // encoding in DuckDB and orders by it.
      query.Esql.run(
        """FROM documents | WHERE doc_id < 40
          | EVAL v = CONCAT("1.", TO_STRING(doc_id % 12), ".", TO_STRING(doc_id % 3),
              CASE(doc_id % 4 == 0, "-alpha", ""))
          | EVAL k = TO_VERSION(v)
          | SORT k, doc_id | KEEP doc_id, v""",
        t => load(dir, t))
    }),

    "esql_round_to" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // ROUND_TO as a histogram band: round down to fixed points, the
      // below-minimum clamp included
      query.Esql.run(
        """FROM documents | WHERE doc_id < 60
          | EVAL band = ROUND_TO(n_chars, 0, 100, 200, 300, 400)
          | STATS n = COUNT(*) BY band | SORT band""",
        t => load(dir, t))
    }),

    "text_readability" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // Flesch reading ease over the documents corpus — integer counts +
      // one fixed arithmetic tree, restated bit-exactly in DuckDB (no
      // rounding; both engines parse the same decimal literals to the
      // same doubles and evaluate the same operation order).
      load(dir, "documents").select(col("doc_id"),
        graft.ops.TextAnalysis.fleschReadingEase(col("text")).as("fre"))
        .where(col("doc_id") < 80).orderBy("doc_id")
    }),

    "ann_bbq" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // Binary-quantization ANN (the ES 8.16 BBQ pattern): Hamming
      // agreement against the query's bit pattern cuts 60 candidates,
      // the exact dot product rescores to the top 15. Integer Hamming +
      // exact double rescore over dyadic query constants → hash-exact
      // oracle, no rounding.
      graft.ops.Similarity.bbqTopK(load(dir, "embeddings"), "vec_id", "embedding",
        bbqQueryVec, bbqThresholds, k = 15, candidates = 60)
    }),

    "esql_knn" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // ES|QL KNN (8.18+): vector search inside the pipe language. The
      // k-nearest cut compiles to ONE distributed top-k
      // (TakeOrderedAndProject — per-partition heaps, k-row driver merge;
      // EsqlSpec pins no window/join), with metric and tiebreak as
      // explicit options (the mapping / internal-doc-order seams,
      // stated). dot_product over a dyadic literal query vector and
      // METADATA _score carrying ES's (1+dot)/2 transform — every
      // product and the sequential fold restate bit-identically in
      // DuckDB's list_inner_product: hash-exact.
      val vec = knnQueryVec.mkString("[", ", ", "]")
      query.Esql.run(
        s"""FROM embeddings METADATA _score
           | WHERE KNN(embedding, $vec, {"k": 25, "metric": "dot_product", "tiebreak": "vec_id"})
           | KEEP vec_id, _score
           | SORT vec_id""",
        t => load(dir, t))
    }),

    "esql_knn_prefiltered" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // The pre/post-filter contract in one committed query (ES|QL's
      // rule, EsqlSpec pins the divergence): the same-WHERE conjunct
      // restricts candidates BEFORE the k-nearest cut, the later WHERE
      // trims the k survivors (teeth: 4 of 40 survive at sf0.01, 18 of
      // 40 at sf0.1). cosine restated operation-for-operation
      // (dot / (sqrt·sqrt), then (1+cos)/2) — sqrt is IEEE
      // correctly-rounded in both engines, so the post-filter threshold
      // needs no corpus margin.
      val vec = knnQueryVec.mkString("[", ", ", "]")
      query.Esql.run(
        s"""FROM embeddings METADATA _score
           | WHERE vec_id % 3 == 0 AND KNN(embedding, $vec, {"k": 40, "metric": "cosine", "tiebreak": "vec_id"})
           | WHERE _score > 0.62
           | KEEP vec_id, _score
           | SORT vec_id""",
        t => load(dir, t))
    }),

    "esql_metadata_index" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // METADATA _index under the multi-table FROM: each row carries the
      // FROM name that produced it (stamped per branch BEFORE the
      // union), so per-source attribution is a plain GROUP BY.
      query.Esql.run(
        """FROM region, nation METADATA _index
          | STATS n = COUNT(*) BY _index
          | SORT _index""",
        t => load(dir, t))
    }),

    "esql_match_score" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // ES|QL relevance scoring (8.15+): METADATA _score + MATCH — the
      // Kibana search-bar shape inside the pipe language. MATCH conjuncts
      // add their BM25 scores into _score (corpus statistics over the
      // frame entering the WHERE = the index, since the WHERE follows
      // FROM directly); the score tree is the Bm25 tier's fixed IEEE
      // fold, so the oracle wraps the SHARED oracleSqlScored generator.
      query.Esql.run(
        """FROM documents METADATA _score
          | WHERE MATCH(text, "dup vector scan")
          | KEEP doc_id, _score
          | SORT _score DESC, doc_id
          | LIMIT 15""",
        t => load(dir, t))
    }),

    "esql_match_phrase_score" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // MATCH_PHRASE under METADATA _score: the phrase scores as ONE
      // pseudo-term — TF = phrase-occurrence count (contiguous, in
      // order), DF = documents containing the phrase (Lucene
      // PhraseQuery's scoring shape). Oracle wraps the shared phrase
      // restatement; a MATCH twin on the same terms would rank
      // DIFFERENTLY (per-term DF ≫ phrase DF), which is the teeth.
      query.Esql.run(
        """FROM documents METADATA _score
          | WHERE MATCH_PHRASE(text, "vector scan")
          | KEEP doc_id, _score
          | SORT _score DESC, doc_id
          | LIMIT 15""",
        t => load(dir, t))
    }),

    "esql_multi_match" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      // ES|QL MULTI_MATCH (9.1) in filter context, cross_fields × AND:
      // every term appears in at least one of (p_name, p_type) — not
      // necessarily the same one. Teeth: 'small' satisfies via EITHER
      // the name or the type field (SMALL analyzes to 'small'), 'bolt'
      // only via the name — best_fields AND (one field holds both)
      // would be a strictly smaller set.
      query.Esql.run(
        """FROM part
          | WHERE MULTI_MATCH("small bolt", p_name, p_type, {"type": "cross_fields", "operator": "and"})
          | KEEP p_partkey
          | SORT p_partkey""",
        t => load(dir, t))
    }),

    "esql_enrich_range" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      import spark.implicits._
      // ENRICH with a RANGE policy (ES enrich policy type `range`): the
      // input value joins the band whose inclusive [lo, hi] contains it.
      // The policy table is a literal frame (the materialized enrich
      // index); the compile broadcasts it and plants an in-plan overlap
      // guard (overlap → ES would answer multivalued — here it raises).
      val bands = Seq((1, 10, "small"), (11, 25, "mid"), (26, 50, "large"))
        .toDF("lo", "hi", "band")
      query.Esql.run(
        """FROM part
          | ENRICH size_bands ON p_size WITH band
          | STATS n = COUNT(*) BY band
          | SORT band""",
        t => load(dir, t),
        Map("size_bands" -> query.Esql.EnrichPolicy(bands, "lo", Seq("band"),
          policyType = "range", rangeLowField = "lo", rangeHighField = "hi")))
    }),
  ))

  /** ann_bbq's query vector — 64 dyadic values in [-0.5, 0.5] — and the
    * per-dimension thresholds (zeros: comparisons against them are exact
    * in every engine).
    */
  private val bbqQueryVec: Seq[Double] =
    (0 until 64).map(i => (((i * 7) % 9) - 4) / 8.0)
  private val bbqThresholds: Seq[Double] = Seq.fill(64)(0.0)

  /** esql_knn's query vector — 64 dyadic zero-free values (exact as both
    * Scala doubles and DuckDB decimal literals cast to double).
    */
  /** The padded analyzed form of a raw text column — the Bm25/TextMatch
    * convention, shared by the more_like_this entries.
    */
  private def analyzedText(c: String) =
    concat(lit(" "), graft.expr.TextMatch.normalized(col(c)), lit(" "))

  /** more_like_this's like-text and knobs, shared by the three committed
    * queries and their oracles. tf: dup=3, vector/scan/fast/the=2, rest 1;
    * min_word_length 3 keeps 'the' (a real candidate the ranking must
    * beat) while min_term_freq 2 drops the singletons.
    */
  private val mltLikeText =
    "dup vector scan dup fast vector merge fast the the a scan batch window key value spark row dup"
  private val mltParams = graft.query.MoreLikeThis.MltParams(
    maxQueryTerms = 4, minTermFreq = 2, minDocFreq = 5,
    minWordLength = 3, minimumShouldMatch = "50%")

  private val knnQueryVec: Seq[Double] = {
    val cycle = Seq(0.5, -0.25, 0.75, -0.5, 0.125, -0.75, 0.25, -0.125)
    (0 until 64).map(i => cycle(i % 8) * (if ((i / 8) % 2 == 0) 1.0 else 0.5))
  }

  /** ann_maxsim's query token vectors — dyadic, zero-free (exact as both
    * Scala doubles and DuckDB decimals-cast-to-double).
    */
  private val maxSimQueryTokens: Seq[Seq[Double]] = Seq(
    Seq(1.0, -0.5, 0.25, 0.125, 0.5, -0.25, 0.125, -0.125),
    Seq(-0.25, 0.5, -0.125, 0.25, -1.0, 0.125, 0.5, -0.5),
    Seq(0.25, 0.25, -0.0625, -0.25, 0.125, 0.5, -0.5, 1.0))

  // ---------------------------------------------------------------------
  // DuckDB oracles — ANSI SQL over the same parquet files. The driver runs
  // these against `<sfDir>/<table>.parquet`; column names and rounding match
  // the Spark side exactly. Queries without an entry get a rows-only check.
  // ---------------------------------------------------------------------

  /** Lineitem columns and whether they are numeric — drives the generated
    * dictionary-profile oracle (the reference's per-column UNION ALL shape,
    * `harmonizeCrimeIncidents.py:356-387`, here as oracle SQL).
    */
  private val lineitemCols: Seq[(String, Boolean)] = Seq(
    "l_orderkey" -> true, "l_partkey" -> true, "l_suppkey" -> true,
    "l_linenumber" -> true, "l_quantity" -> true, "l_extendedprice" -> true,
    "l_discount" -> true, "l_tax" -> true,
    "l_returnflag" -> false, "l_linestatus" -> false, "l_shipdate" -> false)

  private def dictOracle(selectCols: String): String = {
    val subs = lineitemCols.map { case (c, numeric) =>
      val mean = if (numeric) s"avg($c)" else "NULL::DOUBLE"
      val std = if (numeric) s"stddev_pop($c)" else "NULL::DOUBLE"
      s"SELECT '$c' AS dict_field, count($c) AS dict_count, " +
        s"count(DISTINCT $c) AS dict_countdistinct, " +
        s"sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END)::BIGINT AS dict_countmissing, " +
        s"$mean AS dict_mean, $std AS dict_stddev, " +
        s"min($c)::VARCHAR AS dict_min, max($c)::VARCHAR AS dict_max FROM lineitem"
    }
    val minD = "TRY_CAST(dict_min AS DOUBLE)"
    val maxD = "TRY_CAST(dict_max AS DOUBLE)"
    s"""WITH stats AS (${subs.mkString(" UNION ALL ")}),
       |typed AS (SELECT *, CASE
       |  WHEN dict_mean IS NULL THEN 'text'
       |  WHEN dict_countdistinct = 2 AND $minD = 0 AND $maxD = 1 THEN 'boolean'
       |  WHEN dict_countdistinct > (1 + $maxD - $minD)
       |    THEN 'range,0,' || floor($maxD + 1)::BIGINT::VARCHAR || ',0.1'
       |  ELSE 'range,0,' || (floor(($maxD / 10) + 1) * 10)::BIGINT::VARCHAR || ',1'
       |END AS dict_vartype FROM stats)
       |SELECT $selectCols FROM typed ORDER BY dict_field""".stripMargin
  }

  /** Analyzer tokens in DuckDB — must mirror [[TextAnalysis]] exactly. */
  private val duckToks =
    "list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> len(x) > 0)"

  /** ES Unique Count (cardinality metric) over the events corpus — exact
    * distinct users per event-type bucket, the terms ordering/tiebreak of
    * every terms agg here. Shared by `g_cardinality` (corpus scan) and
    * `g_cardinality_preagg` (pair-rollup serving).
    */
  private val cardinalityOracleSql =
    """SELECT event_type, count(*)::BIGINT AS count,
      |  count(DISTINCT user_id)::BIGINT AS unique_user_id
      |FROM events GROUP BY 1
      |ORDER BY count DESC, event_type ASC LIMIT 10""".stripMargin

  /** The ES range-agg buckets both the query and its oracle are built
    * from, so bucket keys stay literally shared.
    */
  private val esRanges: Seq[(Option[Double], Option[Double])] =
    Seq((None, Some(10.0)), (Some(10.0), Some(100.0)), (Some(100.0), None))

  private val percentileRanksOracleSql =
    """SELECT event_type, count(*)::BIGINT AS count,
      |  sum(CASE WHEN value <= 100.0 THEN 1 ELSE 0 END)::DOUBLE / count(*) AS rank_100,
      |  sum(CASE WHEN value <= 500.0 THEN 1 ELSE 0 END)::DOUBLE / count(*) AS rank_500
      |FROM events GROUP BY 1
      |ORDER BY count DESC, event_type ASC LIMIT 10""".stripMargin

  private val histogramOracleSql =
    """SELECT floor(value / 50.0) * 50.0 AS bucket, count(*)::BIGINT AS count
      |FROM events WHERE value IS NOT NULL
      |GROUP BY 1 ORDER BY bucket""".stripMargin

  // Gap-cluster variable-width histogram restated: identical cents
  // quantization, identical lag-gap flag, identical running-sum cluster
  // ids, identical centroid division tree — shared by the scan and the
  // rollup serve (the rollup's merged increments ARE this value table).
  private val variableWidthOracleSql =
    """WITH v AS (
      |  SELECT floor(value * 100)::BIGINT AS v, count(*) AS cnt
      |  FROM events WHERE value IS NOT NULL GROUP BY 1
      |), g AS (
      |  SELECT v, cnt,
      |    CASE WHEN v - lag(v) OVER (ORDER BY v) > 50 THEN 1 ELSE 0 END AS nw
      |  FROM v
      |), c AS (
      |  SELECT v, cnt, sum(nw) OVER (
      |    ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cl
      |  FROM g
      |)
      |SELECT (sum(v * cnt)::DOUBLE / sum(cnt)) / 100.0 AS key,
      |  min(v) / 100.0 AS min, max(v) / 100.0 AS max,
      |  sum(cnt)::BIGINT AS count
      |FROM c GROUP BY cl ORDER BY min""".stripMargin

  private val percentilesOracleSql =
    """SELECT event_type, count(*)::BIGINT AS count,
      |  quantile_cont(value, 0.25) AS p25,
      |  quantile_cont(value, 0.5) AS p50,
      |  quantile_cont(value, 0.75) AS p75,
      |  quantile_cont(value, 0.95) AS p95
      |FROM events GROUP BY 1
      |ORDER BY count DESC, event_type ASC LIMIT 10""".stripMargin

  /** The BPE training loop replayed in SQL: 8 generated CTE triples
    * (pair counts with overlapping get_stats semantics via 1-based list
    * indexing; the argmax pair under the (count DESC, left, right) total
    * order; the rewrite as one global regexp_replace over the two-space
    * symbol encoding — leftmost non-overlapping in RE2 exactly as in Java
    * regex, see [[graft.ops.Bpe]]). Early exhaustion propagates as NULL
    * syms → empty pair sets → NULL merge rows, filtered at the end —
    * matching the engine's early stop. Every CTE is MATERIALIZED: the
    * chain is self-referential (w_i reads w_{i-1} three ways), and
    * DuckDB's default inlining re-expands the prefix exponentially —
    * materialization makes the oracle replay each iteration once, like
    * the engine does.
    */
  private val bpeMerges = 8

  /** The shared CTE body (wc, w0, and the k iteration triples, ending at
    * w$k — the fully-rewritten per-word symbol strings, `word` carried
    * through for the token-count join).
    */
  private val bpeCtes: String = {
    val k = bpeMerges
    val iters = (1 to k).map { i =>
      s"""p$i AS MATERIALIZED (
         |  SELECT ts[j] AS l, ts[j + 1] AS r, sum(freq)::BIGINT AS pair_count
         |  FROM (SELECT regexp_split_to_array(syms, '  ') AS ts, freq FROM w${i - 1}),
         |       unnest(range(1, len(ts))) AS u(j)
         |  GROUP BY 1, 2
         |), b$i AS MATERIALIZED (
         |  SELECT l, r, pair_count FROM p$i WHERE pair_count >= 2
         |  ORDER BY pair_count DESC, l ASC, r ASC LIMIT 1
         |), w$i AS MATERIALIZED (
         |  SELECT word, regexp_replace(syms,
         |    (SELECT l || '  ' || r FROM b$i),
         |    (SELECT l || r FROM b$i), 'g') AS syms, freq
         |  FROM w${i - 1}
         |)""".stripMargin
    }.mkString(",\n")
    s"""wc AS MATERIALIZED (
       |  SELECT t AS word, count(*)::BIGINT AS freq
       |  FROM (SELECT unnest($duckToks) AS t FROM documents) GROUP BY 1
       |), w0 AS MATERIALIZED (
       |  SELECT word, array_to_string(regexp_split_to_array(word, ''), '  ')
       |    || '  </w>' AS syms, freq FROM wc
       |),
       |$iters""".stripMargin
  }

  // NOTE: bpeCtes is concatenated, never re-interpolated under a second
  // stripMargin — its SQL contains `||` at line heads, which stripMargin
  // would truncate to a stray `|`.
  private val bpeOracleSql: String = {
    val ranks = (1 to bpeMerges).map { i =>
      s"""SELECT $i AS rank, (SELECT l FROM b$i) AS "left",
         |  (SELECT r FROM b$i) AS "right",
         |  (SELECT pair_count FROM b$i) AS pair_count""".stripMargin
    }.mkString("\nUNION ALL ")
    "WITH " + bpeCtes + "\n" +
      "SELECT rank, \"left\", \"right\", pair_count FROM (\n" +
      ranks + "\n" +
      ") WHERE \"left\" IS NOT NULL ORDER BY rank"
  }

  /** Learned-BPE token counts: w$bpeMerges IS every corpus word segmented
    * by the full merge table, so the per-doc count is one join of the
    * unnested token stream against it.
    */
  private val bpeTokensOracleSql: String =
    "WITH " + bpeCtes + ",\n" +
      s"""seg AS MATERIALIZED (
         |  SELECT word, len(regexp_split_to_array(syms, '  '))::BIGINT AS np
         |  FROM w$bpeMerges
         |)
         |SELECT d.doc_id, coalesce(a.bt, 0)::BIGINT AS bpe_tokens
         |FROM documents d LEFT JOIN (
         |  SELECT doc_id, sum(np)::BIGINT AS bt
         |  FROM (SELECT doc_id, unnest($duckToks) AS word FROM documents) t
         |  JOIN seg USING (word) GROUP BY 1
         |) a USING (doc_id)
         |ORDER BY doc_id""".stripMargin

  /** The bigram-LM pipeline as DuckDB CTEs ending at `costed(doc_id,
    * cost)` — adjacency-ordered bigrams by 1-based list indexing (DuckDB's
    * `range(1, len)` is exactly the bigram positions), counts, the
    * minCount=2 pruned head with full-count context totals, and the
    * per-occurrence ilog2 cost with the flat OOV constant; the exact
    * mirror of [[graft.ops.NgramLm.perplexityScore]]'s costed stream.
    * Shared by the score and filter oracles.
    */
  private val lmCostCtes =
    s"""lmtoks AS (
       |  SELECT doc_id, $duckToks AS ts FROM documents
       |), lmbg AS (
       |  SELECT doc_id, ts[i] AS w1, ts[i + 1] AS w2
       |  FROM lmtoks, unnest(range(1, len(ts))) AS u(i)
       |), lmc2 AS (
       |  SELECT w1, w2, count(*)::BIGINT AS c2 FROM lmbg GROUP BY 1, 2
       |), lmctx AS (
       |  SELECT w1, sum(c2)::BIGINT AS c1 FROM lmc2
       |  GROUP BY 1 HAVING sum(c2) >= 2
       |), lmhead AS (
       |  SELECT w1, w2, c2 FROM lmc2 WHERE c2 >= 2
       |), costed AS (
       |  SELECT b.doc_id,
       |    (CASE WHEN x.c1 IS NULL THEN ${ops.NgramLm.OovCost}
       |          ELSE length(bin(x.c1 + 1)) - length(bin(coalesce(h.c2, 0) + 1))
       |     END)::BIGINT AS cost
       |  FROM lmbg b
       |  LEFT JOIN lmctx x USING (w1)
       |  LEFT JOIN lmhead h USING (w1, w2)
       |)""".stripMargin

  /** The DSIR scoring pipeline as DuckDB CTEs ending at `scored(doc_id,
    * lang, n_feats, bits, bits_per_1k)` — the exact mirror of
    * [[graft.ops.Sampling.importanceScores]] at sample_importance's
    * parameters (English target, 1024 md5 buckets, ±16-bit clip, seed 7):
    * adjacency-ordered bigrams, the portable 52-bit bucket hash, raw and
    * conditional target counts, the clipped ilog2 weight with the 1-row
    * corpus normalizer, and the per-doc IEEE rate. Shared by the score and
    * priority-sampling oracles.
    */
  private def dsirCtes(modelPred: String, scorePred: String): String = {
    val bg = "ts[i] || ' ' || ts[i + 1]"
    val bucket = s"(${ops.Sampling.hashBits52Sql(bg, 7)} % 1024)"
    s"""dt AS (
       |  SELECT doc_id, lang, $duckToks AS ts FROM documents
       |), dfeat AS (
       |  SELECT doc_id, lang, $bucket AS b
       |  FROM dt, unnest(range(1, len(ts))) AS u(i)
       |), model AS (
       |  SELECT b, count(*)::BIGINT AS cr,
       |    sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)::BIGINT AS ct
       |  FROM dfeat WHERE $modelPred GROUP BY b
       |), tot AS (
       |  SELECT sum(cr)::BIGINT AS nr, sum(ct)::BIGINT AS nt FROM model
       |), wts AS (
       |  SELECT b, greatest(-16, least(16,
       |    length(bin(ct + 1)) - length(bin(cr + 1))
       |      + length(bin(nr + 1)) - length(bin(nt + 1))))::BIGINT AS w
       |  FROM model, tot
       |), scored AS (
       |  SELECT doc_id, lang, count(*)::BIGINT AS n_feats, sum(w)::BIGINT AS bits,
       |    (1000.0 * sum(w)) / count(*) AS bits_per_1k
       |  FROM dfeat JOIN wts USING (b)
       |  WHERE $scorePred
       |  GROUP BY doc_id, lang
       |)""".stripMargin
  }

  private val dsirScoreCtes = dsirCtes("TRUE", "TRUE")

  /** The portable-MinHash pipeline as DuckDB CTEs ending at
    * `pairs(id_a, id_b, jaccard)` — gram texts, seeded md5 minima,
    * value-vector band buckets, candidates, verified Jaccard; the exact
    * mirror of [[graft.ops.Dedup.minhashNearDupPairsPortable]]. Shared by
    * the pair-level and cluster-keep oracles.
    */
  private def portableMinhashCtesSql(
      k: Int, numHashes: Int, r: Int, threshold: Double,
      from: String = "documents"): String = {
    val P = graft.ops.Dedup.PortableP
    val sigCols = (0 until numHashes).map { i =>
      val (a, b) = graft.ops.Dedup.portablePerm(i)
      s"min((x * $a + $b) % $P) AS h$i"
    }.mkString(",\n    ")
    val bandRows = (0 until numHashes / r).map { j =>
      val key = (0 until r).map(x => s"h${j * r + x}").mkString("[", ", ", "]")
      s"SELECT doc_id, $j AS bidx, $key AS bkey FROM sig"
    }.mkString("\n  UNION ALL ")
    s"""d AS (
       |  SELECT doc_id, $duckToks AS toks FROM $from
       |), g AS (
       |  SELECT doc_id, list_distinct(list_transform(
       |    generate_series(1, len(toks) - ${k - 1}),
       |    i -> array_to_string(toks[i:i+${k - 1}], ' '))) AS grams
       |  FROM d WHERE len(toks) >= $k
       |), gx AS (
       |  SELECT doc_id, ('0x' || substr(md5(gram), 1, 13))::BIGINT % $P AS x
       |  FROM (SELECT doc_id, unnest(grams) AS gram FROM g)
       |), sig AS (
       |  SELECT doc_id,
       |    $sigCols
       |  FROM gx GROUP BY doc_id
       |), bands AS (
       |  $bandRows
       |), cand AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM bands a JOIN bands b
       |    ON a.bidx = b.bidx AND a.bkey = b.bkey AND a.doc_id < b.doc_id
       |), sets AS (
       |  SELECT doc_id, list_sort(list_distinct(list_transform(grams,
       |    x -> ('0x' || substr(md5(x), 1, 13))::BIGINT))) AS s
       |  FROM g
       |), pairs AS (
       |  SELECT id_a, id_b,
       |    len(list_intersect(sa.s, sb.s))::DOUBLE
       |      / len(list_distinct(list_concat(sa.s, sb.s))) AS jaccard
       |  FROM cand JOIN sets sa ON sa.doc_id = id_a
       |            JOIN sets sb ON sb.doc_id = id_b
       |  WHERE jaccard >= $threshold
       |)""".stripMargin
  }

  /** The analyzer-normalized text in DuckDB (mirror of
    * `trim(regexp_replace(lower(text), "[^a-z0-9]+", " "))`).
    */
  private val duckNorm =
    "trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))"

  /** The language-ID scores in DuckDB, mirroring [[TextAnalysis.languageId]]:
    * per-language token-hit ratio, Han-codepoint ratio, alphabetically-last
    * max-score language wins (the Spark fold's semantics), `und` below the
    * 0.05 threshold, `zh` when Han ratio exceeds 0.25. Emitted as CTEs whose
    * final relation `lang_per_doc` is `(doc_id, lang_pred)` — shared by the
    * corpus histogram and the composed prep-pipeline oracle.
    */
  private def langIdCtes: String = {
    val profiles = TextAnalysis.languageProfiles.toSeq.sortBy(_._1)
    val scoreCols = profiles.map { case (lang, words) =>
      val list = words.map(w => s"'$w'").mkString("[", ",", "]")
      s"CASE WHEN len(toks) = 0 THEN 0.0 ELSE " +
        s"len(list_filter(toks, x -> list_contains($list, x)))::DOUBLE / len(toks) END AS $lang"
    }.mkString(",\n    ")
    val langs = profiles.map(_._1)
    val best = s"greatest(${langs.mkString(", ")})"
    // reverse alphabetical: the Spark foldLeft lets the LAST tying language win
    val pickBranches = langs.reverse.map(l => s"WHEN $l = $best THEN '$l'").mkString(" ")
    s"""lang_t AS (
       |  SELECT doc_id, text, $duckToks AS toks FROM documents
       |), lang_s AS (
       |  SELECT doc_id, $scoreCols,
       |    CASE WHEN len(text) = 0 THEN 0.0
       |         ELSE len(regexp_extract_all(text, '[\\x{4e00}-\\x{9fff}]'))::DOUBLE / len(text)
       |    END AS han
       |  FROM lang_t
       |), lang_per_doc AS (
       |  SELECT doc_id,
       |    CASE WHEN han > 0.25 THEN 'zh'
       |         WHEN $best < 0.05 THEN 'und'
       |         $pickBranches
       |         ELSE 'und' END AS lang_pred
       |  FROM lang_s
       |)""".stripMargin
  }

  private def langIdOracle: String =
    s"""WITH $langIdCtes
       |SELECT lang_pred, count(*) AS n FROM lang_per_doc
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Per-document quality-score mirror (the [[TextAnalysis.qualityScore]]
    * closed formula), as a CTE `quality_per_doc(doc_id, quality_score)`.
    */
  private def qualityCtes: String = {
    val stoplist = TextAnalysis.englishStopwords.map(w => s"'$w'").mkString("[", ",", "]")
    s"""q_m AS (
       |  SELECT doc_id,
       |    CASE WHEN len(trim(text)) = 0 THEN 0
       |         ELSE len(regexp_split_to_array(trim(text), '\\s+')) END::BIGINT AS q_tokens,
       |    CASE WHEN len(text) = 0 THEN 0.0
       |         ELSE len(regexp_extract_all(text, '[^A-Za-z0-9\\s]'))::DOUBLE / len(text) END AS q_punct,
       |    CASE WHEN len(toks) = 0 THEN 0.0
       |         ELSE len(list_filter(toks, t -> list_contains($stoplist, t)))::DOUBLE / len(toks) END AS q_stop,
       |    CASE WHEN len(toks) = 0 THEN 0.0
       |         ELSE list_sum(list_transform(toks, t -> len(t)))::DOUBLE / len(toks) END AS q_mean_len
       |  FROM (SELECT doc_id, text, $duckToks AS toks FROM documents)
       |), quality_per_doc AS (
       |  SELECT doc_id,
       |    (least(1.0, q_tokens / 100.0)
       |     + greatest(0.0, 1.0 - abs(q_stop - 0.4) / 0.4)
       |     + (1.0 - least(1.0, q_punct * 5.0))
       |     + (1.0 - least(1.0, abs(q_mean_len - 5.0) / 5.0))) * 0.25 AS quality_score
       |  FROM q_m
       |)""".stripMargin
  }

  /** The assembly composition restated stage by stage, each fragment the
    * same proven restatement its standalone oracle uses: quality CTEs →
    * boilerplate df over the FILTERED frame (the ndocs threshold counts
    * survivors, as the engine's boilerplateProfile does) → segment cut
    * with ordered string_agg rebuild → min-id winner per normalized
    * rebuilt text → per-source budget window on the md5 unit hash →
    * md5-mod shard → (source, shard) manifest. Shared verbatim by
    * `pipeline_assemble` and `pipeline_assemble_published` — the published
    * form differs only in WHERE intermediates live, which must be
    * invisible to results.
    */
  private def assembleOracleSql: String =
    s"""WITH $qualityCtes,
       |q AS (
       |  SELECT d.doc_id, d.text, d.source FROM documents d
       |  JOIN quality_per_doc USING (doc_id) WHERE quality_score >= 0.5
       |), bp_g AS (
       |  SELECT doc_id, unnest(list_distinct(list_transform(
       |    generate_series(1, len(toks) - 2),
       |    i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2]))) AS gram
       |  FROM (SELECT doc_id, $duckToks AS toks FROM q) WHERE len(toks) >= 3
       |), bp_freq AS (
       |  SELECT gram FROM bp_g GROUP BY gram
       |  HAVING count(*) >= ceil((SELECT count(*) FROM q) * 0.01)
       |), bp_ratio AS (
       |  SELECT g.doc_id, count(f.gram)::DOUBLE / count(*) AS ratio
       |  FROM bp_g g LEFT JOIN bp_freq f ON g.gram = f.gram GROUP BY g.doc_id
       |), kept AS (
       |  SELECT q.* FROM q WHERE NOT EXISTS (
       |    SELECT 1 FROM bp_ratio p WHERE p.doc_id = q.doc_id AND p.ratio > 0.35)
       |), seg AS (
       |  SELECT doc_id, i - 1 AS seg_idx,
       |    array_to_string(toks[(i - 1) * 8 + 1 : i * 8], ' ') AS seg
       |  FROM (SELECT doc_id, $duckToks AS toks FROM kept),
       |       unnest(generate_series(1, (len(toks) + 7) // 8)) AS u(i)
       |  WHERE len(toks) > 0
       |), over_rep AS (
       |  SELECT seg FROM seg GROUP BY seg HAVING count(*) > 1
       |), rebuilt AS (
       |  SELECT s.doc_id,
       |    string_agg(CASE WHEN o.seg IS NULL THEN s.seg END,
       |      ' ' ORDER BY s.seg_idx) AS text
       |  FROM seg s LEFT JOIN over_rep o ON s.seg = o.seg
       |  GROUP BY s.doc_id
       |  HAVING count(*) - count(o.seg) > 0
       |), winners AS (
       |  SELECT r.doc_id, r.text, k.source FROM (
       |    SELECT doc_id, text,
       |      row_number() OVER (PARTITION BY $duckNorm ORDER BY doc_id) AS rn
       |    FROM rebuilt
       |  ) r JOIN kept k USING (doc_id) WHERE rn = 1
       |), bud AS (
       |  SELECT doc_id, source,
       |    (CASE WHEN len(trim(text)) = 0 THEN 0
       |          ELSE len(regexp_split_to_array(trim(text), '\\s+')) END)::BIGINT
       |      AS n_tok,
       |    ${ops.Sampling.hashUnitSql("doc_id", 42)} AS u
       |  FROM winners
       |), cum AS (
       |  SELECT doc_id, source, n_tok,
       |    (sum(n_tok) OVER (PARTITION BY source ORDER BY u, doc_id
       |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT
       |      AS cum_tok
       |  FROM bud WHERE n_tok > 0
       |), sel AS (
       |  SELECT doc_id, source, n_tok FROM cum WHERE cum_tok <= 400
       |)
       |SELECT source, ${ops.Sampling.hashBits52Sql("doc_id", 42)} % 4 AS shard,
       |  count(*) AS n_docs, sum(n_tok)::BIGINT AS n_tokens
       |FROM sel GROUP BY 1, 2 ORDER BY source, shard""".stripMargin

  /** The precision-2 geohash grid over the customer-derived points: the
    * 10-bit lon-leading interleave restated in SQL. Shared verbatim by
    * `g6_geohash_grid` (corpus scan) and `g6_geohash_preagg` (precision-3
    * rollup, prefix-truncated) — the serving layer must be invisible.
    */
  private def geohashGrid2OracleSql: String =
    """WITH pts AS (
      |  SELECT ((c_acctbal % 180) + 180) % 180 - 90 + 0.001 AS lat,
      |         ((c_custkey % 360) + 360) % 360 - 180 + 0.001 AS lon
      |  FROM customer
      |), idx AS (
      |  SELECT least(31, greatest(0, floor((lat + 90) / 180 * 32)))::INT AS la,
      |         least(31, greatest(0, floor((lon + 180) / 360 * 32)))::INT AS lo
      |  FROM pts
      |), gh AS (
      |  SELECT ((lo & 16) << 5) | ((la & 16) << 4) | ((lo & 8) << 4) | ((la & 8) << 3)
      |       | ((lo & 4) << 3) | ((la & 4) << 2) | ((lo & 2) << 2) | ((la & 2) << 1)
      |       | ((lo & 1) << 1) | (la & 1) AS v
      |  FROM idx
      |)
      |SELECT substr('0123456789bcdefghjkmnpqrstuvwxyz', (v >> 5) + 1, 1) ||
      |       substr('0123456789bcdefghjkmnpqrstuvwxyz', (v & 31) + 1, 1) AS geohash,
      |       count(*) AS count
      |FROM gh GROUP BY 1 ORDER BY count DESC, geohash ASC""".stripMargin

  /** q_geo_shape_multi's rings, shared verbatim by the query and its
    * oracle renderer: outer square, centered hole, disjoint second
    * component (east).
    */
  private val geoMultiRings: Seq[Seq[(Double, Double)]] = Seq(
    Seq((-50.0, -160.0), (50.0, -160.0), (50.0, -40.0), (-50.0, -40.0)),
    Seq((-20.0, -120.0), (20.0, -120.0), (20.0, -80.0), (-20.0, -80.0)),
    Seq((-30.0, 60.0), (30.0, 60.0), (30.0, 120.0), (-30.0, 120.0)))

  /** Render [[graft.query.FilterSpec.GeoShape]]'s even-odd crossing sum as
    * SQL over `lat`/`lon` columns — the oracle restates the SAME unrolled
    * arithmetic, edge for edge, so the compare is bit-exact (pure
    * +,−,×,÷; the q_geo_shape_polygon discipline, generated instead of
    * hand-unrolled now that shapes have multiple rings).
    */
  private def geoCrossingsSql(rings: Seq[Seq[(Double, Double)]]): String =
    rings.flatMap { ring =>
      val n = ring.size
      (0 until n).map { i =>
        val (yi, xi) = ring(i)
        val (yj, xj) = ring((i + 1) % n)
        s"(CASE WHEN (($yi > lat) <> ($yj > lat)) " +
          s"AND lon < ($xj - $xi) * (lat - $yi) / ($yj - $yi) + $xi " +
          "THEN 1 ELSE 0 END)"
      }
    }.mkString("(", "\n   + ", ")")

  def oracleSql: Map[String, String] = distinctByName("oracleSql", Seq(
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  round(sum(l_extendedprice), 2) AS sum_base_price,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
        |  round(avg(l_quantity), 4) AS avg_qty,
        |  round(avg(l_discount), 4) AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "a3_distinct" ->
      """SELECT DISTINCT o_orderpriority FROM orders
        |WHERE o_orderpriority <> '' ORDER BY o_orderpriority""".stripMargin,

    "a5_describe" ->
      """SELECT count(l_quantity) AS count_quantity,
        |  round(avg(l_quantity), 4) AS mean_quantity,
        |  round(stddev_samp(l_quantity), 4) AS std_quantity,
        |  round(min(l_quantity), 2) AS min_quantity,
        |  round(max(l_quantity), 2) AS max_quantity,
        |  count(l_extendedprice) AS count_price,
        |  round(avg(l_extendedprice), 4) AS mean_price,
        |  round(stddev_samp(l_extendedprice), 4) AS std_price,
        |  round(min(l_extendedprice), 2) AS min_price,
        |  round(max(l_extendedprice), 2) AS max_price
        |FROM lineitem""".stripMargin,

    "a6_count_after_filter" ->
      """SELECT count(*) AS loaded,
        |  sum(CASE WHEN c_acctbal > 0 THEN 1 ELSE 0 END)::BIGINT AS kept,
        |  sum(CASE WHEN c_acctbal <= 0 OR c_acctbal IS NULL THEN 1 ELSE 0 END)::BIGINT AS deleted
        |FROM customer""".stripMargin,

    "p_harmonize_events" ->
      """SELECT event_id,
        |  CASE event_type WHEN 'click' THEN 'Click' WHEN 'view' THEN 'View'
        |    WHEN 'purchase' THEN 'Purchase' WHEN 'login' THEN 'Login'
        |    WHEN 'logout' THEN 'Logout' ELSE event_type END AS description,
        |  year(ts) AS year, month(ts) AS month, day(ts) AS day,
        |  hour(ts) AS hour, minute(ts) AS minute,
        |  dayname(ts) AS dayofweek,
        |  'synthville' AS city, value
        |FROM events ORDER BY event_id""".stripMargin,

    "p6_regex_extract" ->
      """SELECT o_orderkey,
        |  year(o_orderdate)::INT AS year, month(o_orderdate)::INT AS month,
        |  day(o_orderdate)::INT AS day, 14 AS hour, 30 AS minute,
        |  strftime(o_orderdate + INTERVAL 14 HOUR + INTERVAL 30 MINUTE,
        |           '%Y-%m-%d %H:%M:%S') AS datetime_str
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "s1_csv_scan" ->
      s"""SELECT "CrimeCode" AS crimecode, "CrimeDate" AS crimedate,
         |  "CrimeTime" AS crimetime, "Description" AS description,
         |  "Location 1" AS location1
         |FROM read_csv('${cityCsv("Baltimore")}', all_varchar=true)
         |ORDER BY crimecode""".stripMargin,

    // Each recipe oracle is the shared harmonized relation
    // (cityHarmonizedRelationSql — also the base of the federated
    // dictionary oracle) with the query's published projection on top.
    "recipe_harmonize_baltimore" ->
      s"""SELECT crimecode, description, description_orig, geolocation, year,
         |  month, day, hour, minute, datetime AS datetime_str, dayofweek, city
         |FROM (${cityHarmonizedRelationSql("baltimore")})
         |ORDER BY crimecode""".stripMargin,

    "recipe_harmonize_detroit" ->
      s"""SELECT crimeid, description, location, geolocation, year,
         |  month, day, hour, minute, datetime AS datetime_str, dayofweek, city
         |FROM (${cityHarmonizedRelationSql("detroit")})
         |ORDER BY crimeid""".stripMargin,

    "recipe_harmonize_losangeles" ->
      s"""SELECT crime_identifier, description, gang_related, geolocation, year,
         |  month, day, hour, minute, datetime AS datetime_str, dayofweek, city
         |FROM (${cityHarmonizedRelationSql("losangeles")})
         |ORDER BY crime_identifier""".stripMargin,

    // The federated `*dictionary*` fetch: three per-city dictionaries, each
    // a per-column stats sweep over its harmonized relation with registry
    // metadata inlined, unioned and sorted — the webapp's one-query view of
    // every dataset's dictionary.
    "q8_dict_fetch_federated" ->
      s"""${Seq("baltimore", "detroit", "losangeles")
             .map(cityDictOracleSql).mkString("\nUNION ALL\n")}
         |ORDER BY dataset, dict_field LIMIT 1000""".stripMargin,

    "dashboard_refresh" -> dashboardRefreshOracleSql,
    // the cache changes where the federated view is read from, never its rows
    "dashboard_refresh_warm" -> dashboardRefreshOracleSql,
    // the pre-agg path must reproduce the FULL-SCAN oracle exactly — that
    // equivalence is the whole claim
    "dashboard_refresh_preagg" -> dashboardRefreshOracleSql,
    // increment-then-merge must commute with serving: the hash-split
    // per-batch rollup build reproduces the full-scan oracle exactly
    "dashboard_preagg_incremental" -> dashboardRefreshOracleSql,

    // Same filtered-federation CTEs as the refresh; the clicked cell "d"
    // decodes to lat [0,45) lon [-90,-45), and the precision-3 interleave
    // is the g6_geohash_auto mirror (8 lon bits, 7 lat bits, lon leads).
    "dashboard_map_drilldown" ->
      s"""WITH ${dashboardFilteredCtesSql}, pts AS (
         |  SELECT split_part(geolocation, ',', 1)::DOUBLE AS lat,
         |         split_part(geolocation, ',', 2)::DOUBLE AS lon
         |  FROM f WHERE length(geolocation) > 0
         |), zoomed AS (
         |  SELECT * FROM pts
         |  WHERE lat >= 0 AND lat < 45 AND lon >= -90 AND lon < -45
         |), idx AS (
         |  SELECT least(127, greatest(0, floor((lat + 90) / 180 * 128)))::INT AS la,
         |         least(255, greatest(0, floor((lon + 180) / 360 * 256)))::INT AS lo
         |  FROM zoomed
         |), gh AS (
         |  SELECT ((lo & 128) << 7) | ((lo & 64) << 6) | ((lo & 32) << 5)
         |       | ((lo & 16) << 4) | ((lo & 8) << 3) | ((lo & 4) << 2)
         |       | ((lo & 2) << 1) | (lo & 1)
         |       | ((la & 64) << 7) | ((la & 32) << 6) | ((la & 16) << 5)
         |       | ((la & 8) << 4) | ((la & 4) << 3) | ((la & 2) << 2)
         |       | ((la & 1) << 1) AS v
         |  FROM idx
         |)
         |SELECT substr('0123456789bcdefghjkmnpqrstuvwxyz', (v >> 10) + 1, 1) ||
         |       substr('0123456789bcdefghjkmnpqrstuvwxyz', ((v >> 5) & 31) + 1, 1) ||
         |       substr('0123456789bcdefghjkmnpqrstuvwxyz', (v & 31) + 1, 1) AS geohash,
         |       count(*) AS count
         |FROM gh GROUP BY 1 ORDER BY count DESC, geohash ASC""".stripMargin,

    "g7_typeahead_federated" ->
      s"""WITH fed AS (
         |${federatedCitySql}
         |)
         |SELECT description FROM (
         |  SELECT description, count(*) AS count FROM fed
         |  WHERE ${graft.expr.TextMatch.phrasePrefixSql("description", "a")}
         |  GROUP BY description
         |  ORDER BY count DESC, description ASC LIMIT 10
         |)""".stripMargin,

    // the rollup-served typeahead must reproduce the corpus-scan oracle
    "g7_typeahead_preagg" ->
      s"""WITH fed AS (
         |${federatedCitySql}
         |)
         |SELECT description FROM (
         |  SELECT description, count(*) AS count FROM fed
         |  WHERE ${graft.expr.TextMatch.phrasePrefixSql("description", "a")}
         |  GROUP BY description
         |  ORDER BY count DESC, description ASC LIMIT 10
         |)""".stripMargin,

    // The rollup-served JLH restated over the federated CORPUS relation —
    // the serving layer is invisible to results. Null descriptions form no
    // bucket but count toward the set totals, exactly as the engine's
    // missing-term contract states.
    "g_significant_terms_preagg" ->
      s"""WITH fed AS (
         |${federatedCitySql}
         |), tot AS (
         |  SELECT count(*) AS bgt,
         |    sum(CASE WHEN dataset = 'baltimore' THEN 1 ELSE 0 END)::BIGINT
         |      AS fgt
         |  FROM fed
         |), c AS (
         |  SELECT description AS term, count(*) AS bg_count,
         |    sum(CASE WHEN dataset = 'baltimore' THEN 1 ELSE 0 END)::BIGINT
         |      AS fg_count
         |  FROM fed WHERE description IS NOT NULL GROUP BY 1
         |)
         |SELECT term, fg_count, bg_count,
         |  (fg_count::DOUBLE / fgt - bg_count::DOUBLE / bgt)
         |    * ((fg_count::DOUBLE / fgt) / (bg_count::DOUBLE / bgt)) AS score
         |FROM c, tot WHERE fg_count > 0
         |ORDER BY score DESC, term ASC LIMIT 10""".stripMargin,

    // chi_square over the rollup: the same contingency tree over the same
    // federated counts.
    "g_significant_terms_chi2_preagg" ->
      s"""WITH fed AS (
         |${federatedCitySql}
         |), tot AS (
         |  SELECT count(*) AS bgt,
         |    sum(CASE WHEN dataset = 'baltimore' THEN 1 ELSE 0 END)::BIGINT
         |      AS fgt
         |  FROM fed
         |), c AS (
         |  SELECT description AS term, count(*) AS bg_count,
         |    sum(CASE WHEN dataset = 'baltimore' THEN 1 ELSE 0 END)::BIGINT
         |      AS fg_count
         |  FROM fed WHERE description IS NOT NULL GROUP BY 1
         |), m AS (
         |  SELECT term, fg_count, bg_count,
         |    fg_count::DOUBLE AS a,
         |    fgt::DOUBLE - fg_count::DOUBLE AS b,
         |    bg_count::DOUBLE - fg_count::DOUBLE AS c,
         |    (bgt::DOUBLE - fgt::DOUBLE) - (bg_count::DOUBLE - fg_count::DOUBLE) AS d,
         |    bgt::DOUBLE AS n
         |  FROM c, tot WHERE fg_count > 0
         |)
         |SELECT term, fg_count, bg_count,
         |  CASE WHEN (a + b) * (c + d) * (a + c) * (b + d) = 0.0 THEN 0.0
         |       ELSE ((a * d - b * c) * (a * d - b * c) * n)
         |            / ((a + b) * (c + d) * (a + c) * (b + d)) END AS score
         |FROM m
         |ORDER BY score DESC, term ASC LIMIT 10""".stripMargin,

    "q2_range_filter" ->
      """SELECT l_returnflag, count(*) AS n,
        |  round(sum(l_extendedprice), 2) AS revenue
        |FROM lineitem
        |WHERE l_quantity >= 10 AND l_quantity <= 20
        |  AND l_discount >= 0.02 AND l_discount <= 0.06
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q3_enum_in" ->
      """SELECT o_orderstatus, count(*) AS n, round(sum(o_totalprice), 2) AS total
        |FROM orders
        |WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "q4_bool_eq" ->
      """SELECT l_linestatus, count(*) AS n
        |FROM (SELECT l_linestatus,
        |        CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS returned
        |      FROM lineitem)
        |WHERE returned = 1
        |GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin,

    "q5_datetime_range" ->
      """SELECT year(o_orderdate) AS order_year, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS total
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
        |  AND o_orderdate <= TIMESTAMP '1996-12-31 23:59:59'
        |GROUP BY order_year ORDER BY order_year""".stripMargin,

    "q6_phrase_prefix" ->
      s"""SELECT p_partkey, p_name FROM part
         |WHERE ${graft.expr.TextMatch.phrasePrefixSql("p_name", "small wid")}
         |ORDER BY p_partkey""".stripMargin,

    "q6_phrase_prefix_indexed" ->
      s"""SELECT p_partkey, p_name FROM part
         |WHERE ${graft.expr.TextMatch.phrasePrefixSql("p_name", "small wid")}
         |ORDER BY p_partkey""".stripMargin,

    // The Unicode analyzer restated in RE2: same wrap passes + word
    // extraction, so the token streams — and the match set — agree.
    "q6_phrase_prefix_unicode" ->
      s"""SELECT doc_id, lang FROM documents
         |WHERE ${graft.expr.TextMatch.phrasePrefixUnicodeSql("text", "spark mer")}
         |ORDER BY doc_id""".stripMargin,

    // Full BM25 restated: same analyzer, token-equality TF (= the kernel's
    // boundary-sharing count), integer-derived idf inputs, identical
    // operator association — one ln() apart, agreeing far past the 9-decimal
    // rounding. Both paths produce identical rows, so one SQL serves both.
    "search_bm25" ->
      graft.query.Bm25.oracleSql("documents", "doc_id", "text", "dup vector scan", 15),

    "search_bm25_indexed" ->
      graft.query.Bm25.oracleSql("documents", "doc_id", "text", "dup vector scan", 15),

    // bool_prefix restated: whole-token containment for the complete
    // terms, the shared prefix predicate for the trailing fragment.
    "q_match_bool_prefix" ->
      s"""SELECT lang, count(*)::BIGINT AS n FROM documents
         |WHERE ${graft.expr.TextMatch.containsTokenSql("text", "vector")}
         |  AND ${graft.expr.TextMatch.phrasePrefixSql("text", "sc")}
         |GROUP BY lang ORDER BY lang""".stripMargin,

    // The viewport box restated: the pmod CASE form (DuckDB's % re-rounds
    // under the ((x%m)+m)%m form on doubles), micro-degree integer sums
    // (the geoCentroid rendering discipline), dateline-crossing lon
    // disjunction.
    "q_geo_bounding_box" ->
      """WITH pts AS (
        |  SELECT c_mktsegment,
        |    (CASE WHEN (c_acctbal % 180) < 0 THEN (c_acctbal % 180) + 180
        |          ELSE (c_acctbal % 180) END) - 90 + CAST(0.001 AS DOUBLE) AS lat,
        |    ((c_custkey % 360) + 360) % 360 - 180 + CAST(0.001 AS DOUBLE) AS lon
        |  FROM customer)
        |SELECT c_mktsegment, count(*)::BIGINT AS n,
        |  sum(floor(lat * 1000000)::BIGINT)::BIGINT AS slat
        |FROM pts
        |WHERE lat <= 60.0 AND lat >= -10.0 AND (lon >= 150.0 OR lon <= -120.0)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // The radius filter restates the pinned haversine tree
    // operator-for-operator (π/180 as one shared double — never
    // radians(); cos(origin·rad) recomputed from the same operands in the
    // same order). Threshold margin documented at the query.
    "q_geo_distance_filter" ->
      """WITH pts AS (
        |  SELECT c_mktsegment,
        |    (CASE WHEN (c_acctbal % 180) < 0 THEN (c_acctbal % 180) + 180
        |          ELSE (c_acctbal % 180) END) - 90 + CAST(0.001 AS DOUBLE) AS lat,
        |    ((c_custkey % 360) + 360) % 360 - 180 + CAST(0.001 AS DOUBLE) AS lon
        |  FROM customer
        |), d AS (
        |  SELECT c_mktsegment, lat,
        |    (2.0 * 6371.0088) * asin(sqrt(
        |      sin(((lat - 10.0) * (pi() / 180.0)) / 2.0)
        |        * sin(((lat - 10.0) * (pi() / 180.0)) / 2.0)
        |      + cos(lat * (pi() / 180.0)) * cos(10.0 * (pi() / 180.0))
        |        * sin(((lon - 20.0) * (pi() / 180.0)) / 2.0)
        |        * sin(((lon - 20.0) * (pi() / 180.0)) / 2.0))) AS km
        |  FROM pts
        |)
        |SELECT c_mktsegment, count(*)::BIGINT AS n,
        |  sum(floor(lat * 1000000)::BIGINT)::BIGINT AS slat
        |FROM d WHERE km <= 3000.0
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // geo_shape polygon restated: the identical per-edge crossing tests
    // (same operand order, so IEEE rounds identically — no libm, no
    // margin) summed for even-odd parity. The horizontal edge's division
    // never decides: its crossing conjunct is already false.
    "q_geo_shape_polygon" ->
      """WITH pts AS (
        |  SELECT c_custkey, c_mktsegment,
        |    (CASE WHEN (c_acctbal % 180) < 0 THEN (c_acctbal % 180) + 180
        |          ELSE (c_acctbal % 180) END) - 90 + CAST(0.001 AS DOUBLE) AS lat,
        |    ((c_custkey % 360) + 360) % 360 - 180 + CAST(0.001 AS DOUBLE) AS lon
        |  FROM customer
        |)
        |SELECT c_custkey, c_mktsegment FROM pts
        |WHERE (
        |    (CASE WHEN ((-60 > lat) <> (60 > lat))
        |      AND lon < (-150 - -150) * (lat - -60) / (60 - -60) + -150
        |      THEN 1 ELSE 0 END)
        |  + (CASE WHEN ((60 > lat) <> (60 > lat))
        |      AND lon < (-30 - -150) * (lat - 60) / (60 - 60) + -150
        |      THEN 1 ELSE 0 END)
        |  + (CASE WHEN ((60 > lat) <> (-60 > lat))
        |      AND lon < (-30 - -30) * (lat - 60) / (-60 - 60) + -30
        |      THEN 1 ELSE 0 END)
        |  + (CASE WHEN ((-60 > lat) <> (0 > lat))
        |      AND lon < (-90 - -30) * (lat - -60) / (0 - -60) + -30
        |      THEN 1 ELSE 0 END)
        |  + (CASE WHEN ((0 > lat) <> (-60 > lat))
        |      AND lon < (-150 - -90) * (lat - 0) / (-60 - 0) + -90
        |      THEN 1 ELSE 0 END)
        |) % 2 = 1
        |ORDER BY c_custkey""".stripMargin,

    // Intervals filter restated: gapped ordered source pairs, then the
    // containment test per interval — EXISTS an interval with no filter
    // position inside it / with one inside it.
    "q_intervals_not_containing" ->
      """WITH t AS (
        |  SELECT doc_id, lang,
        |    regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
        |  FROM documents
        |), a AS (
        |  SELECT doc_id, u.i AS p1 FROM t, unnest(range(1, len(toks)+1)) AS u(i)
        |  WHERE toks[u.i] = 'spark'
        |), b AS (
        |  SELECT doc_id, u.i AS p2 FROM t, unnest(range(1, len(toks)+1)) AS u(i)
        |  WHERE toks[u.i] = 'scan'
        |), iv AS (
        |  SELECT a.doc_id, p1, p2 FROM a JOIN b USING (doc_id)
        |  WHERE p2 > p1 AND p2 - p1 - 1 <= 5
        |)
        |SELECT DISTINCT t.doc_id, t.lang
        |FROM iv JOIN t USING (doc_id)
        |WHERE NOT EXISTS (SELECT 1 FROM t f, unnest(range(1, len(f.toks)+1)) AS u(i)
        |  WHERE f.doc_id = iv.doc_id AND f.toks[u.i] = 'vector'
        |    AND u.i >= iv.p1 AND u.i <= iv.p2)
        |ORDER BY doc_id""".stripMargin,

    "q_intervals_containing" ->
      """WITH t AS (
        |  SELECT doc_id, lang,
        |    regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
        |  FROM documents
        |), a AS (
        |  SELECT doc_id, u.i AS p1 FROM t, unnest(range(1, len(toks)+1)) AS u(i)
        |  WHERE toks[u.i] = 'spark'
        |), b AS (
        |  SELECT doc_id, u.i AS p2 FROM t, unnest(range(1, len(toks)+1)) AS u(i)
        |  WHERE toks[u.i] = 'scan'
        |), iv AS (
        |  SELECT a.doc_id, p1, p2 FROM a JOIN b USING (doc_id)
        |  WHERE p2 > p1 AND p2 - p1 - 1 <= 5
        |)
        |SELECT DISTINCT t.doc_id, t.lang
        |FROM iv JOIN t USING (doc_id)
        |WHERE EXISTS (SELECT 1 FROM t f, unnest(range(1, len(f.toks)+1)) AS u(i)
        |  WHERE f.doc_id = iv.doc_id AND f.toks[u.i] = 'vector'
        |    AND u.i >= iv.p1 AND u.i <= iv.p2)
        |ORDER BY doc_id""".stripMargin,

    // span_first restated: 1-based DuckDB position p = 0-based start + 1;
    // the end-position bound s + L <= 6 becomes p <= 6 for the single term.
    "q_span_first" ->
      """WITH t AS (
        |  SELECT doc_id, lang,
        |    regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
        |  FROM documents
        |)
        |SELECT DISTINCT t.doc_id, t.lang
        |FROM t, unnest(range(1, len(toks)+1)) AS u(i)
        |WHERE toks[u.i] = 'spark' AND u.i <= 6
        |ORDER BY doc_id""".stripMargin,

    // span_not restated: an include position with NO overlapping exclude
    // span — the same interval non-overlap algebra, NOT EXISTS form.
    "q_span_not" ->
      """WITH t AS (
        |  SELECT doc_id, lang,
        |    regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
        |  FROM documents
        |), i AS (
        |  SELECT doc_id, u.i AS s FROM t, unnest(range(1, len(toks)+1)) AS u(i)
        |  WHERE toks[u.i] = 'scan'
        |), e AS (
        |  SELECT doc_id, u.i AS x FROM t, unnest(range(1, len(toks)+1)) AS u(i)
        |  WHERE toks[u.i:u.i+1] = ['vector', 'scan']
        |)
        |SELECT DISTINCT t.doc_id, t.lang
        |FROM i JOIN t USING (doc_id)
        |WHERE NOT EXISTS (SELECT 1 FROM e
        |  WHERE e.doc_id = i.doc_id AND NOT (e.x + 1 < i.s OR e.x > i.s))
        |ORDER BY doc_id""".stripMargin,

    // span_within restated: an EXISTS over the (b1, b2, little) position
    // triple — pairwise-distinct big picks, window width − Σ widths ≤
    // slop, little inside [least, greatest] — the enclosurePredicate
    // algebra verbatim in 1-based SQL positions.
    "q_span_within" ->
      """WITH t AS (
        |  SELECT doc_id, lang,
        |    regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
        |  FROM documents
        |), l AS (
        |  SELECT doc_id, u.i AS s FROM t, unnest(range(1, len(toks)+1)) AS u(i)
        |  WHERE toks[u.i] = 'key'
        |), b1 AS (
        |  SELECT doc_id, u.i AS s FROM t, unnest(range(1, len(toks)+1)) AS u(i)
        |  WHERE toks[u.i] = 'scan'
        |), b2 AS (
        |  SELECT doc_id, u.i AS s FROM t, unnest(range(1, len(toks)+1)) AS u(i)
        |  WHERE toks[u.i] = 'table'
        |)
        |SELECT DISTINCT t.doc_id, t.lang
        |FROM t
        |WHERE EXISTS (SELECT 1 FROM b1, b2, l
        |  WHERE b1.doc_id = t.doc_id AND b2.doc_id = t.doc_id
        |    AND l.doc_id = t.doc_id AND b1.s <> b2.s
        |    AND greatest(b1.s, b2.s) - least(b1.s, b2.s) + 1 - 2 <= 3
        |    AND l.s >= least(b1.s, b2.s) AND l.s <= greatest(b1.s, b2.s))
        |ORDER BY doc_id""".stripMargin,

    // intervals predicate sources restated: per-predicate position CTEs
    // (starts_with / damerau_levenshtein — the unrestricted variant both
    // engines share, q_fuzzy_match_damerau's pairing), the ordered
    // width-1 window check.
    "q_intervals_pattern" ->
      """WITH t AS (
        |  SELECT doc_id, lang,
        |    regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
        |  FROM documents
        |), a AS (
        |  SELECT doc_id, u.i AS s FROM t, unnest(range(1, len(toks)+1)) AS u(i)
        |  WHERE starts_with(toks[u.i], 'sca')
        |), b AS (
        |  SELECT doc_id, u.i AS s FROM t, unnest(range(1, len(toks)+1)) AS u(i)
        |  WHERE len(toks[u.i]) > 0 AND damerau_levenshtein(toks[u.i], 'tabel') <= 1
        |)
        |SELECT DISTINCT t.doc_id, t.lang
        |FROM t
        |WHERE EXISTS (SELECT 1 FROM a, b
        |  WHERE a.doc_id = t.doc_id AND b.doc_id = t.doc_id
        |    AND b.s > a.s AND (b.s - a.s + 1) - 2 <= 3)
        |ORDER BY doc_id""".stripMargin,

    // Nested-vs-object restated relationally: same-element = one EXISTS
    // with both conditions; flattened = independent EXISTS per condition.
    "q_nested_query" ->
      """SELECT o.o_orderpriority,
        |  sum(CASE WHEN EXISTS (SELECT 1 FROM lineitem l
        |        WHERE l.l_orderkey = o.o_orderkey
        |          AND l.l_quantity >= 45 AND l.l_discount >= 0.08)
        |      THEN 1 ELSE 0 END)::BIGINT AS n_nested,
        |  sum(CASE WHEN EXISTS (SELECT 1 FROM lineitem l
        |        WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity >= 45)
        |      AND EXISTS (SELECT 1 FROM lineitem l
        |        WHERE l.l_orderkey = o.o_orderkey AND l.l_discount >= 0.08)
        |      THEN 1 ELSE 0 END)::BIGINT AS n_object
        |FROM orders o GROUP BY 1 ORDER BY 1""".stripMargin,

    // rank_feature restated: saturation (pure division) + log (ln is
    // correctly-rounded at the 9-decimal compare). n_chars > 0 corpus-wide,
    // so the missing-feature zero branch is constant-false and drops out.
    "q_rank_feature" ->
      """SELECT doc_id,
        |  2.0 * n_chars::DOUBLE / (n_chars::DOUBLE + 250.0)
        |    + 1.0 * ln(0.1 * n_chars::DOUBLE + 1.0) AS score
        |FROM documents
        |ORDER BY score DESC, doc_id ASC LIMIT 30""".stripMargin,

    // nested + reverse_nested aggs restated over the flat child table
    // (explode(nest(x)) round-trips to x — NestedDocsSpec pins the nest
    // semantics; the engine path buckets the ARRAYS).
    "g_nested_agg" ->
      """SELECT l_returnflag AS key, count(*)::BIGINT AS doc_count,
        |  count(DISTINCT l_orderkey)::BIGINT AS parent_count
        |FROM lineitem GROUP BY 1 ORDER BY key""".stripMargin,

    // has_child restated: a correlated HAVING-count subquery — the
    // matching-children bound as SQL says it.
    "q_has_child" ->
      """SELECT o_orderkey, o_orderpriority FROM orders
        |WHERE o_orderkey IN (
        |  SELECT l_orderkey FROM lineitem WHERE l_quantity >= 49
        |  GROUP BY 1 HAVING count(*) >= 2)
        |ORDER BY o_orderkey""".stripMargin,

    // has_child score_mode restated: one grouped sum of the integral
    // child scores, top-20 with the explicit tiebreak.
    "q_has_child_scored" ->
      """SELECT o_orderkey,
        |  (SELECT sum(floor(l_extendedprice))::BIGINT FROM lineitem l
        |   WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity >= 40) AS score
        |FROM orders o
        |WHERE EXISTS (SELECT 1 FROM lineitem l
        |  WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity >= 40)
        |ORDER BY score DESC, o_orderkey ASC LIMIT 20""".stripMargin,

    // parent_id restated: the literal equality, as SQL says it.
    "q_parent_id" ->
      """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
        |WHERE l_orderkey = 7 ORDER BY l_linenumber""".stripMargin,

    // has_parent restated: children IN the filtered parents' key set.
    "q_has_parent" ->
      """SELECT l_orderkey, l_linenumber FROM lineitem
        |WHERE l_orderkey IN (
        |  SELECT o_orderkey FROM orders
        |  WHERE o_orderpriority = '1-URGENT' AND o_totalprice >= 250000)
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    // children agg restated: the parent-bucket join flattened to one
    // grouped join (integral-double quantities sum exactly).
    "g_children_agg" ->
      """SELECT o.o_orderpriority AS key, count(*)::BIGINT AS doc_count,
        |  sum(l.l_quantity)::BIGINT AS sum_qty
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |GROUP BY 1 ORDER BY key""".stripMargin,

    // frequent_item_sets restated level-by-level: a LEFT-DEEP chain of
    // per-doc ordered-combination joins (j2..j5 — each level extends the
    // previous on an adjacent doc_id equi-key; the n-way self-join form
    // makes DuckDB's reorderer cross-join non-adjacent legs and spill),
    // the shared float-guarded minCount, closed = NO equal-count
    // superset one larger (counts are antitone, so size+1 suffices —
    // the engine's argument verbatim), the f5 level guarding the same
    // completeness the engine's maxSetSize=6 raise does.
    "g_frequent_item_sets" ->
      """WITH tx AS (
        |  SELECT doc_id, list_distinct(list_filter(
        |    regexp_extract_all(lower(text), '[a-z0-9]+'),
        |    x -> x IN ('scan','join','hash','merge','sort','filter',
        |               'agg','batch','window','index','table','key'))) AS items
        |  FROM documents
        |), nn AS (SELECT count(*)::BIGINT AS n FROM tx),
        |mc AS (SELECT ceil(0.45 * n - 1e-9) AS c FROM nn),
        |p AS (SELECT doc_id, u.item FROM tx, unnest(items) AS u(item)),
        |f1 AS (SELECT item FROM p GROUP BY item
        |       HAVING count(*) >= (SELECT c FROM mc)),
        |fp AS (SELECT p.doc_id, p.item FROM p JOIN f1 USING (item)),
        |j2 AS (SELECT a.doc_id, a.item AS i1, b.item AS i2
        |  FROM fp a JOIN fp b ON a.doc_id = b.doc_id AND a.item < b.item),
        |j3 AS (SELECT j2.doc_id, i1, i2, c.item AS i3
        |  FROM j2 JOIN fp c ON j2.doc_id = c.doc_id AND i2 < c.item),
        |j4 AS (SELECT j3.doc_id, i1, i2, i3, d.item AS i4
        |  FROM j3 JOIN fp d ON j3.doc_id = d.doc_id AND i3 < d.item),
        |j5 AS (SELECT j4.doc_id, i1, i2, i3, i4, e.item AS i5
        |  FROM j4 JOIN fp e ON j4.doc_id = e.doc_id AND i4 < e.item),
        |j6 AS (SELECT j5.doc_id, i1, i2, i3, i4, i5, g.item AS i6
        |  FROM j5 JOIN fp g ON j5.doc_id = g.doc_id AND i5 < g.item),
        |f2 AS (SELECT [i1, i2] AS key, count(*)::BIGINT AS cnt FROM j2
        |  GROUP BY 1 HAVING count(*) >= (SELECT c FROM mc)),
        |f3 AS (SELECT [i1, i2, i3] AS key, count(*)::BIGINT AS cnt FROM j3
        |  GROUP BY 1 HAVING count(*) >= (SELECT c FROM mc)),
        |f4 AS (SELECT [i1, i2, i3, i4] AS key, count(*)::BIGINT AS cnt FROM j4
        |  GROUP BY 1 HAVING count(*) >= (SELECT c FROM mc)),
        |f5 AS (SELECT [i1, i2, i3, i4, i5] AS key, count(*)::BIGINT AS cnt FROM j5
        |  GROUP BY 1 HAVING count(*) >= (SELECT c FROM mc)),
        |f6 AS (SELECT [i1, i2, i3, i4, i5, i6] AS key, count(*)::BIGINT AS cnt FROM j6
        |  GROUP BY 1 HAVING count(*) >= (SELECT c FROM mc)),
        |fs AS (SELECT * FROM f2 UNION ALL SELECT * FROM f3
        |       UNION ALL SELECT * FROM f4 UNION ALL SELECT * FROM f5
        |       UNION ALL SELECT * FROM f6),
        |closed AS (SELECT key, cnt FROM fs f WHERE NOT EXISTS (
        |  SELECT 1 FROM fs t WHERE t.cnt = f.cnt
        |    AND len(t.key) = len(f.key) + 1 AND list_has_all(t.key, f.key)))
        |SELECT array_to_string(key, ',') AS key, cnt AS doc_count,
        |  cnt::DOUBLE / (SELECT n FROM nn) AS support
        |FROM closed
        |ORDER BY doc_count DESC, len(key) DESC, array_to_string(key, ',') ASC
        |LIMIT 10""".stripMargin,


    // distance_feature restated on epoch-µs integers (exact doubles
    // < 2^53; epoch_us ≡ unix_micros under the UTC session) — one
    // division is the only rounding step.
    "q_distance_feature" ->
      """SELECT event_id,
        |  2.0 * 259200000000.0 / (259200000000.0
        |    + abs(epoch_us(ts)::DOUBLE - 1705276800000000.0)) AS score
        |FROM events
        |ORDER BY score DESC, event_id ASC LIMIT 25""".stripMargin,

    // Fragment highlighting restated by the SQL twin builder — the same
    // fixed windows, negated-count struct sort, slice, and RE2 wrap —
    // then unnested to one (doc_id, frag_rank, fragment) row per
    // fragment (scalar columns only; an empty list unnests to no rows,
    // matching posexplode).
    "search_highlight_fragments" -> {
      val frags = graft.expr.TextMatch.highlightFragmentsSql(
        "text", "dup vector", fragmentSize = 60, numberOfFragments = 2)
      s"""WITH f AS (
         |  SELECT doc_id,
         |$frags AS fragments
         |  FROM documents)
         |SELECT doc_id, (u.i - 1)::INT AS frag_rank, fragments[u.i] AS fragment
         |FROM f, unnest(range(1, len(fragments)+1)) AS u(i)
         |ORDER BY doc_id, frag_rank""".stripMargin
    },

    // _explain restated: the same base/stats CTEs, the ranked top-k with
    // its tf/df/dl context, one UNION ALL branch per term with the
    // identical idf/contribution trees.
    "search_explain" ->
      graft.query.Bm25.oracleSqlExplain(
        "documents", "doc_id", "text", "dup vector scan", 5),

    // _termvectors restated: unnest-with-position over the identical
    // token stream, grouped with ordered position lists rendered as the
    // comma-joined string (the comparator-safe scalar shape).
    "search_term_vectors" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
        |  FROM documents WHERE doc_id < 12
        |), e AS (
        |  SELECT doc_id, u.i - 1 AS pos, toks[u.i] AS term
        |  FROM t, unnest(range(1, len(toks)+1)) AS u(i)
        |)
        |SELECT doc_id, term, count(*)::BIGINT AS freq,
        |  array_to_string(list(pos ORDER BY pos), ',') AS positions
        |FROM e GROUP BY doc_id, term
        |ORDER BY doc_id, term""".stripMargin,

    // Boosted twin: the identical scored restatement with each term's
    // contribution multiplied by its boost literal (1.0 boosts keep the
    // unweighted tree — the engine's own short-circuit).
    "search_bm25_boosted" ->
      graft.query.Bm25.oracleSqlBoosted("documents", "doc_id", "text",
        graft.query.QueryString.boostedTerms("vector^2 dup scan^0.5"), 15),

    "search_bm25_phrase" ->
      graft.query.Bm25.oracleSqlPhrase("documents", "doc_id", "text", "batch batch", 15),

    // Incrementally-merged stats are exact integer sums — scores must equal
    // the whole-corpus computation bit for bit, so the oracle is the same.
    "search_bm25_incremental" ->
      graft.query.Bm25.oracleSql("documents", "doc_id", "text", "dup vector scan", 15),

    "q7_conjunction" ->
      """SELECT o_orderpriority, count(*) AS n FROM orders
        |WHERE o_totalprice >= 50000 AND o_totalprice <= 200000
        |  AND o_orderstatus IN ('F', 'O')
        |  AND o_orderdate >= TIMESTAMP '1993-01-01 00:00:00'
        |  AND o_orderdate <= TIMESTAMP '1997-12-31 00:00:00'
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    // ===== query_string oracles: each clause restated with the SAME
    // analyzed-containment constructions the engine compiles to =====

    "q_query_string" -> {
      import graft.expr.TextMatch.{containsTokenSql, phrasePrefixSql}
      s"""SELECT doc_id, lang, source FROM documents
         |WHERE ${containsTokenSql("lang", "en")}
         |  AND (${phrasePrefixSql("text", "dup")}
         |       OR ${containsTokenSql("text", "vector scan")})
         |  AND NOT ${phrasePrefixSql("source", "src1")}
         |ORDER BY doc_id""".stripMargin
    },

    "q_query_string_default" -> {
      import graft.expr.TextMatch.containsTokenSql
      s"""SELECT count(*) AS n FROM documents
         |WHERE ${containsTokenSql("text", "dup")}
         |   OR ${containsTokenSql("text", "big vector")}""".stripMargin
    },

    "q_query_string_analytics" -> {
      import graft.expr.TextMatch.containsTokenSql
      s"""SELECT event_type, count(*) AS n FROM events
         |WHERE nullif(event_type, 'view') IS NOT NULL
         |  AND value >= 10 AND value < 50
         |  AND NOT ${containsTokenSql("event_type", "error")}
         |GROUP BY event_type ORDER BY event_type""".stripMargin
    },

    // Escaped reserved characters reach the analyzer whole; the analyzer
    // folds them to contiguous-token containment — so the oracle passes
    // the same literal terms through the same analysis.
    "q_query_string_escaped" -> {
      import graft.expr.TextMatch.containsTokenSql
      s"""SELECT doc_id, lang, source FROM documents
         |WHERE ${containsTokenSql("text", "key-agg")}
         |   OR ${containsTokenSql("text", "big vector")}
         |ORDER BY doc_id""".stripMargin
    },

    // `-` MUST_NOT with a constraining SHOULD (no must present):
    // prefix(dup) AND NOT prefix(src1).
    "q_query_string_ops" -> {
      import graft.expr.TextMatch.phrasePrefixSql
      s"""SELECT doc_id, lang, source FROM documents
         |WHERE ${phrasePrefixSql("text", "dup")}
         |  AND NOT ${phrasePrefixSql("source", "src1")}
         |ORDER BY doc_id""".stripMargin
    },

    // Fuzzy: the same analyzed tokens, the same classic-Levenshtein
    // threshold — list_filter + levenshtein is DuckDB's spelling of the
    // engine's higher-order exists.
    "q_fuzzy_match" ->
      """SELECT doc_id, lang FROM documents
        |WHERE len(list_filter(regexp_extract_all(lower(text), '[a-z0-9]+'),
        |      t -> levenshtein(t, 'dupe') <= 1)) > 0
        |ORDER BY doc_id""".stripMargin,

    // The SymSpell index path returns provably the same documents — the
    // candidate superset is closed under the deletion lemma and the
    // levenshtein verify makes it exact — so the oracle is shared.
    "q_fuzzy_match_indexed" ->
      """SELECT doc_id, lang FROM documents
        |WHERE len(list_filter(regexp_extract_all(lower(text), '[a-z0-9]+'),
        |      t -> levenshtein(t, 'dupe') <= 1)) > 0
        |ORDER BY doc_id""".stripMargin,

    // Damerau fuzzy: the same analyzed tokens under the same unrestricted
    // transposition-counting distance.
    "q_fuzzy_match_damerau" ->
      """SELECT doc_id, lang FROM documents
        |WHERE len(list_filter(regexp_extract_all(lower(text), '[a-z0-9]+'),
        |      t -> damerau_levenshtein(t, 'tbale') <= 1)) > 0
        |ORDER BY doc_id""".stripMargin,

    // Sloppy phrase: positions from the identical token stream, the same
    // ordered constraint p2 > p1 AND p2 - p1 - 1 <= slop.
    "q_phrase_slop" ->
      """WITH t AS (
        |  SELECT doc_id, lang,
        |    regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
        |  FROM documents
        |), a AS (
        |  SELECT doc_id, u.i AS p1 FROM t, unnest(range(1, len(toks)+1)) AS u(i)
        |  WHERE toks[u.i] = 'spark'
        |), b AS (
        |  SELECT doc_id, u.i AS p2 FROM t, unnest(range(1, len(toks)+1)) AS u(i)
        |  WHERE toks[u.i] = 'scan'
        |)
        |SELECT DISTINCT t.doc_id, t.lang
        |FROM a JOIN b USING (doc_id) JOIN t USING (doc_id)
        |WHERE p2 > p1 AND p2 - p1 - 1 <= 2
        |ORDER BY doc_id""".stripMargin,

    // span_near any-order: one position per term, pairwise distinct,
    // window width − 3 ≤ 4 — the exact predicate the nested exists
    // evaluates row-locally.
    "q_span_near" ->
      """WITH t AS (
        |  SELECT doc_id, lang,
        |    regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
        |  FROM documents
        |), a AS (
        |  SELECT doc_id, u.i AS p1 FROM t, unnest(range(1, len(toks)+1)) AS u(i)
        |  WHERE toks[u.i] = 'spark'
        |), b AS (
        |  SELECT doc_id, u.i AS p2 FROM t, unnest(range(1, len(toks)+1)) AS u(i)
        |  WHERE toks[u.i] = 'scan'
        |), c AS (
        |  SELECT doc_id, u.i AS p3 FROM t, unnest(range(1, len(toks)+1)) AS u(i)
        |  WHERE toks[u.i] = 'merge'
        |)
        |SELECT DISTINCT t.doc_id, t.lang
        |FROM a JOIN b USING (doc_id) JOIN c USING (doc_id) JOIN t USING (doc_id)
        |WHERE p1 <> p2 AND p1 <> p3 AND p2 <> p3
        |  AND greatest(p1, p2, p3) - least(p1, p2, p3) - 2 <= 4
        |ORDER BY doc_id""".stripMargin,

    // all_of restated: per-alternative phrase-occurrence intervals from
    // the same token stream (list-slice equality gives the starts), slot
    // alternatives unioned, the ordered non-overlap + gap-budget algebra
    // verbatim: s2 > e1, enclosing width − Σ widths ≤ 3.
    "q_intervals_all_of" ->
      """WITH t AS (
        |  SELECT doc_id, lang,
        |    regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
        |  FROM documents
        |), s1 AS (
        |  SELECT doc_id, u.i AS s, u.i AS e
        |  FROM t, unnest(range(1, len(toks)+1)) AS u(i)
        |  WHERE toks[u.i] = 'spark'
        |  UNION ALL
        |  SELECT doc_id, u.i, u.i + 1
        |  FROM t, unnest(range(1, len(toks)+1)) AS u(i)
        |  WHERE toks[u.i:u.i+1] = ['big', 'vector']
        |), s2 AS (
        |  SELECT doc_id, u.i AS s, u.i + 1 AS e
        |  FROM t, unnest(range(1, len(toks)+1)) AS u(i)
        |  WHERE toks[u.i:u.i+1] = ['merge', 'join']
        |  UNION ALL
        |  SELECT doc_id, u.i, u.i
        |  FROM t, unnest(range(1, len(toks)+1)) AS u(i)
        |  WHERE toks[u.i] = 'scan'
        |)
        |SELECT DISTINCT t.doc_id, t.lang
        |FROM s1 JOIN s2 USING (doc_id) JOIN t USING (doc_id)
        |WHERE s2.s > s1.e
        |  AND (s2.e - s1.s + 1) - ((s1.e - s1.s + 1) + (s2.e - s2.s + 1)) <= 3
        |ORDER BY doc_id""".stripMargin,

    // all_of unordered restated: the same per-slot occurrence intervals,
    // the minimal-enclosing-window gap algebra with NO arrangement
    // constraint — greatest(e) − least(s) + 1 − Σ widths ≤ 2 (overlaps
    // drive the expression negative, which still passes — Lucene's
    // unordered overlap semantics).
    "q_intervals_all_of_any" ->
      """WITH t AS (
        |  SELECT doc_id, lang,
        |    regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
        |  FROM documents
        |), s1 AS (
        |  SELECT doc_id, u.i AS s, u.i AS e
        |  FROM t, unnest(range(1, len(toks)+1)) AS u(i)
        |  WHERE toks[u.i] = 'spark'
        |), s2 AS (
        |  SELECT doc_id, u.i AS s, u.i + 1 AS e
        |  FROM t, unnest(range(1, len(toks)+1)) AS u(i)
        |  WHERE toks[u.i:u.i+1] = ['batch', 'scan']
        |)
        |SELECT DISTINCT t.doc_id, t.lang
        |FROM s1 JOIN s2 USING (doc_id) JOIN t USING (doc_id)
        |WHERE (greatest(s1.e, s2.e) - least(s1.s, s2.s) + 1)
        |  - ((s1.e - s1.s + 1) + (s2.e - s2.s + 1)) <= 2
        |ORDER BY doc_id""".stripMargin,

    // all_of unordered MIXED-length slots restated: the same occurrence
    // intervals, per-slot OR-minimization as a correlated NOT EXISTS
    // (an interval properly containing another of its slot never
    // serves), the cross-joined candidate windows, and combine
    // minimality as a second NOT EXISTS over the candidates — the
    // minimal-interval algebra end to end in SQL.
    "q_intervals_all_of_mixed" ->
      """WITH t AS (
        |  SELECT doc_id, lang,
        |    regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
        |  FROM documents
        |), s1 AS (
        |  SELECT doc_id, u.i AS s, u.i AS e
        |  FROM t, unnest(range(1, len(toks)+1)) AS u(i)
        |  WHERE toks[u.i] = 'scan'
        |  UNION ALL
        |  SELECT doc_id, u.i, u.i + 1
        |  FROM t, unnest(range(1, len(toks)+1)) AS u(i)
        |  WHERE toks[u.i:u.i+1] = ['batch', 'scan']
        |), s1m AS (
        |  SELECT * FROM s1 x WHERE NOT EXISTS (
        |    SELECT 1 FROM s1 y WHERE y.doc_id = x.doc_id
        |      AND y.s >= x.s AND y.e <= x.e AND (y.s > x.s OR y.e < x.e))
        |), s2 AS (
        |  SELECT doc_id, u.i AS s, u.i AS e
        |  FROM t, unnest(range(1, len(toks)+1)) AS u(i)
        |  WHERE toks[u.i] = 'merge'
        |), cand AS (
        |  SELECT s1m.doc_id, least(s1m.s, s2.s) AS ws,
        |    greatest(s1m.e, s2.e) AS we,
        |    (s1m.e - s1m.s + 1) + (s2.e - s2.s + 1) AS inner_w
        |  FROM s1m JOIN s2 USING (doc_id)
        |)
        |SELECT DISTINCT t.doc_id, t.lang
        |FROM cand c JOIN t ON c.doc_id = t.doc_id
        |WHERE (c.we - c.ws + 1) - c.inner_w <= 0
        |  AND NOT EXISTS (SELECT 1 FROM cand d WHERE d.doc_id = c.doc_id
        |    AND d.ws >= c.ws AND d.we <= c.we
        |    AND (d.ws > c.ws OR d.we < c.we))
        |ORDER BY t.doc_id""".stripMargin,

    // intervals ordered match: 'scan' strictly before 'spark' with at
    // most max_gaps intervening positions.
    "q_intervals" ->
      """WITH t AS (
        |  SELECT doc_id, lang,
        |    regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
        |  FROM documents
        |), a AS (
        |  SELECT doc_id, u.i AS p1 FROM t, unnest(range(1, len(toks)+1)) AS u(i)
        |  WHERE toks[u.i] = 'scan'
        |), b AS (
        |  SELECT doc_id, u.i AS p2 FROM t, unnest(range(1, len(toks)+1)) AS u(i)
        |  WHERE toks[u.i] = 'spark'
        |)
        |SELECT DISTINCT t.doc_id, t.lang
        |FROM a JOIN b USING (doc_id) JOIN t USING (doc_id)
        |WHERE p2 > p1 AND p2 - p1 - 1 <= 3
        |ORDER BY doc_id""".stripMargin,

    // Percolator: each stored query's predicate restated, one UNION ALL
    // branch per query — the reverse of the usual one-query oracle.
    "q_percolate" -> percolateOracleSql,

    // The streamed deployment twin: increments-union-dedup must be
    // invisible — the SAME oracle as the one-shot percolation.
    "stream_percolate" -> percolateOracleSql,

    // Datasheet: each metric leg restated over the same analyzer tokens,
    // md5 fingerprints, and count trees.
    "corpus_datasheet" -> {
      val tokCount =
        s"len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> len(x) > 0))"
      s"""WITH base AS (
         |  SELECT count(*)::BIGINT AS n, sum($tokCount)::BIGINT AS t
         |  FROM documents
         |)
         |SELECT metric, value FROM (
         |  SELECT 'n_docs' AS metric, n::DOUBLE AS value FROM base
         |  UNION ALL SELECT 'n_tokens', t::DOUBLE FROM base
         |  UNION ALL SELECT 'mean_doc_tokens', t::DOUBLE / n::DOUBLE FROM base
         |  UNION ALL SELECT 'n_langs',
         |    (SELECT count(DISTINCT lang) FROM documents)::DOUBLE
         |  UNION ALL SELECT 'n_sources',
         |    (SELECT count(DISTINCT source) FROM documents)::DOUBLE
         |  UNION ALL SELECT 'distinct_text_rate',
         |    (SELECT count(DISTINCT md5(text)) FROM documents)::DOUBLE / n::DOUBLE
         |    FROM base
         |  UNION ALL SELECT 'top_lang_share',
         |    (SELECT max(c) FROM (
         |       SELECT count(*)::BIGINT AS c FROM documents GROUP BY lang))::DOUBLE
         |      / n::DOUBLE
         |    FROM base
         |) ORDER BY metric""".stripMargin
    },

    // Snapshot diff: identical derived snapshots, md5 fingerprints, the
    // same full-outer status derivation.
    "corpus_diff" ->
      """SELECT doc_id, status FROM (
        |  SELECT coalesce(b.doc_id, a.doc_id) AS doc_id,
        |    CASE WHEN b.f IS NULL THEN 'added'
        |         WHEN a.f IS NULL THEN 'removed'
        |         WHEN b.f <> a.f THEN 'changed' END AS status
        |  FROM (
        |    SELECT doc_id,
        |      md5(CASE WHEN doc_id % 5 = 0 THEN text || ' OLD' ELSE text END) AS f
        |    FROM documents WHERE doc_id % 7 <> 0
        |  ) b FULL OUTER JOIN (
        |    SELECT doc_id, md5(text) AS f FROM documents WHERE doc_id % 11 <> 0
        |  ) a USING (doc_id)
        |) WHERE status IS NOT NULL ORDER BY doc_id""".stripMargin,

    // The whole phrase-suggester chain restated: vocabulary df, banded
    // candidates with min/max dedup, positional cross product, integer
    // bigram-LM rescoring (the quality_lm_* CTE pattern).
    "q_suggest_phrase" ->
      graft.query.Fuzzy.suggestPhraseOracleSql(
        "documents", "text", "tabel scan fastt",
        maxEdits = 2, perTermCandidates = 3, n = 5),

    // Collapse: identical scored set (shared scored CTE), per-lang argmax
    // via QUALIFY, identical final ranking.
    "search_bm25_collapse" -> {
      val scored = graft.query.Bm25.oracleSqlScored(
        "documents", "doc_id", "text", "dup vector scan")
      s"""WITH s AS (
         |$scored
         |)
         |SELECT s.doc_id, d.lang, s.score
         |FROM s JOIN documents d USING (doc_id)
         |QUALIFY row_number() OVER (
         |  PARTITION BY d.lang ORDER BY s.score DESC, s.doc_id ASC) = 1
         |ORDER BY s.score DESC, s.doc_id ASC LIMIT 3""".stripMargin
    },

    // collapse + inner_hits: the same scored set; groups ranked by their
    // best hit, each group's top-2 kept with in-group ranks.
    "search_bm25_collapse_inner" -> {
      val scored = graft.query.Bm25.oracleSqlScored(
        "documents", "doc_id", "text", "dup vector scan")
      s"""WITH s AS (
         |$scored
         |), ranked AS (
         |  SELECT d.lang, s.doc_id, s.score,
         |    row_number() OVER (
         |      PARTITION BY d.lang ORDER BY s.score DESC, s.doc_id ASC) AS inner_rank
         |  FROM s JOIN documents d USING (doc_id)
         |  QUALIFY inner_rank <= 2
         |), topg AS (
         |  SELECT lang, row_number() OVER (ORDER BY score DESC, doc_id ASC) AS group_rank
         |  FROM ranked WHERE inner_rank = 1
         |  QUALIFY group_rank <= 3
         |)
         |SELECT r.lang, t.group_rank, r.inner_rank, r.doc_id, r.score
         |FROM ranked r JOIN topg t USING (lang)
         |ORDER BY t.group_rank, r.inner_rank""".stripMargin
    },

    // search_after: identical scored set, the identical lexicographic
    // strictly-after predicate on the (score, id) anchor.
    "search_bm25_page2" -> {
      val scored = graft.query.Bm25.oracleSqlScored(
        "documents", "doc_id", "text", "dup vector scan")
      s"""WITH s AS (
         |$scored
         |)
         |SELECT doc_id, score FROM s
         |WHERE score < 4.268536153941243
         |   OR (score = 4.268536153941243 AND doc_id > 45)
         |ORDER BY score DESC, doc_id ASC LIMIT 5""".stripMargin
    },

    // Full MLT retrieval restated: identical analyzer, integer tf/df/dl,
    // identical IEEE selection + scoring trees, term-ordered fold.
    "search_more_like_this" ->
      graft.query.MoreLikeThis.oracleSql("documents", "doc_id", "text", seedId = 42L),

    // Term suggester: the same vocabulary document frequencies, the same
    // classic-Levenshtein band, the same distance/freq/term ranking.
    "q_suggest_term" ->
      """WITH v AS (
        |  SELECT t AS term, count(*)::BIGINT AS freq FROM (
        |    SELECT doc_id, unnest(list_distinct(
        |      regexp_extract_all(lower(text), '[a-z0-9]+'))) AS t
        |    FROM documents) GROUP BY 1
        |)
        |SELECT term, freq, levenshtein(term, 'tabel')::INT AS distance
        |FROM v WHERE levenshtein(term, 'tabel') BETWEEN 1 AND 2
        |ORDER BY distance ASC, freq DESC, term ASC LIMIT 5""".stripMargin,

    // Completion suggester: same vocabulary, same prefix-edit band and
    // guard, same distance/freq/term ranking.
    "q_suggest_completion" ->
      """WITH v AS (
        |  SELECT t AS term, count(*)::BIGINT AS freq FROM (
        |    SELECT doc_id, unnest(list_distinct(
        |      regexp_extract_all(lower(text), '[a-z0-9]+'))) AS t
        |    FROM documents) GROUP BY 1
        |)
        |SELECT term, freq, levenshtein(substr(term, 1, 2), 'sp')::BIGINT AS distance
        |FROM v
        |WHERE len(term) >= 2 AND substr(term, 1, 1) = 's'
        |  AND levenshtein(substr(term, 1, 2), 'sp') <= 1
        |ORDER BY distance ASC, freq DESC, term ASC LIMIT 6""".stripMargin,

    // Highlight: the identical single-pass word-boundary alternation
    // (RE2 spelling), over the identically-filtered match set.
    "q_highlight" -> {
      import graft.expr.TextMatch.{containsTokenSql, highlightSql}
      s"""SELECT doc_id, ${highlightSql("text", "dup vector")} AS highlighted
         |FROM documents
         |WHERE ${containsTokenSql("text", "dup")}
         |   OR ${containsTokenSql("text", "vector")}
         |ORDER BY doc_id""".stripMargin
    },

    // Wildcard: the identical LIKE translation (* -> %, ? -> _).
    "q_wildcard" ->
      """SELECT source, count(*) AS n FROM documents
        |WHERE source LIKE 's_c1%'
        |GROUP BY source ORDER BY source""".stripMargin,

    // Regexp: DuckDB's full-match primitive mirrors the engine's anchored
    // rlike wrapper.
    "q_regexp" ->
      """SELECT source, count(*) AS n FROM documents
        |WHERE regexp_full_match(source, 'src1[0-9]')
        |   OR regexp_full_match(source, 's[0-9]')
        |GROUP BY source ORDER BY source""".stripMargin,

    "g1_count" -> "SELECT count(*) AS count FROM lineitem",

    "w_dict_driven_query" ->
      s"""SELECT l_linestatus, count(*) AS n,
         |  round(sum(l_extendedprice), 2) AS revenue
         |FROM lineitem
         |WHERE l_quantity >= 10 AND l_quantity <= 20
         |  AND ${graft.expr.TextMatch.phrasePrefixSql("l_returnflag", "r")}
         |GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin,

    // identical compiled predicate to w_dict_driven_query — the JSON wire
    // decode changes where the selections come from, not what they compile to
    "w_json_widget_query" ->
      s"""SELECT l_linestatus, count(*) AS n,
         |  round(sum(l_extendedprice), 2) AS revenue
         |FROM lineitem
         |WHERE l_quantity >= 10 AND l_quantity <= 20
         |  AND ${graft.expr.TextMatch.phrasePrefixSql("l_returnflag", "r")}
         |GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin,

    // identical compiled predicate — the warm dictionary only changes where
    // the widget typing is read from
    "w_dict_driven_query_warm" ->
      s"""SELECT l_linestatus, count(*) AS n,
         |  round(sum(l_extendedprice), 2) AS revenue
         |FROM lineitem
         |WHERE l_quantity >= 10 AND l_quantity <= 20
         |  AND ${graft.expr.TextMatch.phrasePrefixSql("l_returnflag", "r")}
         |GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin,

    "g2_terms_top10" ->
      """SELECT event_type, count(*) AS count FROM events
        |WHERE ts >= TIMESTAMP '1990-01-01 00:00:00'
        |  AND ts <= TIMESTAMP '2030-01-01 00:00:00'
        |GROUP BY event_type
        |ORDER BY count DESC, event_type ASC LIMIT 10""".stripMargin,

    "g3_city_terms" ->
      """SELECT n_name, count(*) AS count FROM (
        |  SELECT c_nationkey AS nationkey FROM customer
        |  UNION ALL
        |  SELECT s_nationkey AS nationkey FROM supplier
        |) u JOIN nation ON u.nationkey = n_nationkey
        |GROUP BY n_name
        |ORDER BY count DESC, n_name ASC LIMIT 10""".stripMargin,

    "g4_nested_terms" ->
      """WITH pair_counts AS (
        |  SELECT o_orderpriority, o_orderstatus, count(*) AS count
        |  FROM orders GROUP BY 1, 2
        |), top_parents AS (
        |  SELECT o_orderpriority, sum(count)::BIGINT AS parent_count
        |  FROM pair_counts GROUP BY 1
        |  ORDER BY parent_count DESC, o_orderpriority ASC LIMIT 3
        |), ranked AS (
        |  SELECT p.o_orderpriority, p.o_orderstatus, p.count, t.parent_count,
        |    row_number() OVER (PARTITION BY p.o_orderpriority
        |                       ORDER BY p.count DESC, p.o_orderstatus ASC) AS child_rank
        |  FROM pair_counts p JOIN top_parents t USING (o_orderpriority)
        |)
        |SELECT o_orderpriority, o_orderstatus, count, parent_count
        |FROM ranked WHERE child_rank <= 2
        |ORDER BY parent_count DESC, o_orderpriority ASC, count DESC, o_orderstatus ASC""".stripMargin,

    "g7_typeahead" ->
      s"""SELECT p_brand FROM (
         |  SELECT p_brand, count(*) AS count FROM part
         |  WHERE ${graft.expr.TextMatch.phrasePrefixSql("p_brand", "brand 1")}
         |  GROUP BY p_brand
         |  ORDER BY count DESC, p_brand ASC LIMIT 10
         |)""".stripMargin,

    // identical result to the cold path — the cache changes WHERE the scan
    // reads, never what it returns
    "g7_typeahead_warm" ->
      s"""SELECT p_brand FROM (
         |  SELECT p_brand, count(*) AS count FROM part
         |  WHERE ${graft.expr.TextMatch.phrasePrefixSql("p_brand", "brand 1")}
         |  GROUP BY p_brand
         |  ORDER BY count DESC, p_brand ASC LIMIT 10
         |)""".stripMargin,

    "g9_federation" ->
      """SELECT src, count(*) AS n, count(mktsegment) AS n_mktsegment,
        |  round(sum(acctbal), 2) AS total_bal
        |FROM (
        |  SELECT c_custkey AS key, c_acctbal AS acctbal,
        |         c_mktsegment AS mktsegment, 'customer' AS src FROM customer
        |  UNION ALL
        |  SELECT s_suppkey AS key, s_acctbal AS acctbal,
        |         NULL AS mktsegment, 'supplier' AS src FROM supplier
        |)
        |GROUP BY src ORDER BY src""".stripMargin,

    "g_date_histogram" -> dateHistogramOracleSql,
    // hour-grain rollup → day serving must be invisible: shared verbatim,
    // whether the rollup is built whole or merged from batch increments
    "g_date_histogram_preagg" -> dateHistogramOracleSql,
    "g_date_histogram_incremental" -> dateHistogramOracleSql,

    // Integer-cents moments with the identical fixed conversion tree —
    // shared by the corpus scan and the cents-dimension rollup twin.
    "g_extended_stats" -> extendedStatsOracleSql,
    "g_extended_stats_preagg" -> extendedStatsOracleSql,

    "g_weighted_avg" -> weightedAvgOracleSql,
    // sum-measure rollup twin: Σ cents·w and Σ w merge exactly
    "g_weighted_avg_preagg" -> weightedAvgOracleSql,

    "g_missing" -> missingOracleSql,
    // derived-dim rollup twin: null is a rollup row like any value
    "g_missing_preagg" -> missingOracleSql,

    // One count-by-key restatement shared by the exact scan form and the
    // rollup-served long-tail export.
    "g_rare_terms" -> rareTermsOracleSql,
    "g_rare_terms_preagg" -> rareTermsOracleSql,

    "g_multi_terms" -> multiTermsOracleSql,
    "g_multi_terms_preagg" -> multiTermsOracleSql,

    // Singles + pairwise intersections in one pass; zero cells omitted
    // (purchases&clicks is structurally empty and must not appear).
    "g_adjacency_matrix" -> adjacencyMatrixOracleSql,
    "g_adjacency_matrix_preagg" -> adjacencyMatrixOracleSql,

    "g_geo_centroid" -> geoCentroidOracleSql,
    // micro-degree sums are rollup measures: merged exactly, same tree
    "g_geo_centroid_preagg" -> geoCentroidOracleSql,

    "g_sampler_terms" -> {
      val u = ops.Sampling.hashUnitSql("doc_id", 42)
      s"""SELECT lang, count(*)::BIGINT AS count
         |FROM documents WHERE $u < 0.5
         |GROUP BY 1 ORDER BY count DESC, lang LIMIT 10""".stripMargin
    },

    // random_sampler: the same deterministic hash sample, counts scaled
    // back by 1/p with the identical division + half-up round.
    "g_random_sampler" -> {
      val u = ops.Sampling.hashUnitSql("doc_id", 42)
      s"""SELECT lang, round(count(*) / 0.25)::BIGINT AS count
         |FROM documents WHERE $u < 0.25
         |GROUP BY 1 ORDER BY count DESC, lang LIMIT 10""".stripMargin
    },

    "g_diversified_sampler" -> {
      val u = ops.Sampling.hashUnitSql("doc_id", 42)
      s"""WITH r AS (
         |  SELECT lang, row_number() OVER (
         |    PARTITION BY source ORDER BY $u, doc_id) AS rn
         |  FROM documents
         |)
         |SELECT lang, count(*)::BIGINT AS count FROM r WHERE rn <= 10
         |GROUP BY 1 ORDER BY count DESC, lang LIMIT 10""".stripMargin
    },

    "g_date_range" -> dateRangeOracleSql,
    // day boundaries sit on hour-grain edges, so range predicates commute
    // with the truncated rollup dimension
    "g_date_range_preagg" -> dateRangeOracleSql,

    "g_bucket_stats" ->
      """WITH h AS (
        |  SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS bucket,
        |    count(*)::BIGINT AS count
        |  FROM events GROUP BY 1
        |), x AS (
        |  SELECT bucket, count,
        |    min(count) OVER () AS vmin, max(count) OVER () AS vmax
        |  FROM h
        |)
        |SELECT count(*)::BIGINT AS n_buckets,
        |  min(count)::BIGINT AS min_bucket,
        |  max(count)::BIGINT AS max_bucket,
        |  sum(count)::BIGINT AS sum_bucket,
        |  (sum(count)::DOUBLE / count(*)) AS avg_bucket,
        |  min(CASE WHEN count = vmin THEN bucket END) AS min_bucket_key,
        |  min(CASE WHEN count = vmax THEN bucket END) AS max_bucket_key
        |FROM x""".stripMargin,

    "g_serial_diff" ->
      """WITH h AS (
        |  SELECT date_trunc('day', ts) AS b, count(*)::BIGINT AS count
        |  FROM events GROUP BY 1
        |)
        |SELECT strftime(b, '%Y-%m-%d') AS bucket, count,
        |  (count - lag(count, 7) OVER (ORDER BY b))::BIGINT AS serial_diff
        |FROM h ORDER BY bucket""".stripMargin,

    // One transcendental grid (tan/ln library-rounded, documented at
    // Aggs.geoTileGrid); everything around them — the pmod/0.001 pts pins
    // from g_geo_centroid, π/180 as ONE shared double, the clamp, the
    // floor — is the identical IEEE tree on both engines. The rollup twin
    // shares this oracle: zoom-out over the z=8 rollup is integer >>.
    "g_geotile_grid" -> geoTileGrid5OracleSql,
    "g_geotile_preagg" -> geoTileGrid5OracleSql,

    "g_geo_bounds" -> geoBoundsOracleSql,
    "g_geo_bounds_preagg" -> geoBoundsOracleSql,

    "g_top_metrics" -> topMetricsOracleSql,
    "g_top_metrics_preagg" -> topMetricsOracleSql,

    "g_boxplot" -> boxplotOracleSql,
    "g_boxplot_preagg" -> boxplotOracleSql,

    "g_mad" -> madOracleSql,
    "g_mad_preagg" -> madOracleSql,

    // Entropy: the SAME fixed per-term tree over exact LONG char counts,
    // summed by the SAME char-ordered running-sum fold, rounded at 6 —
    // the one statistic here with no integer-exact form.
    "g_string_stats" -> stringStatsOracleSql,
    // length + char count rollups: identical distribution tables, same
    // ordered entropy fold
    "g_string_stats_preagg" -> stringStatsOracleSql,

    // Six pair rows restated by hand: LONG cents folds (sums < 2^53, so
    // even the engines' differing wide-sum types convert to the same
    // doubles), then the per-statistic fixed trees — IEEE sqrt is
    // correctly rounded, so correlation needs no rounding escape hatch.
    "g_matrix_stats" -> matrixStatsOracleSql,
    // moments ARE rollup measures: the serve renames them into the same
    // fixed trees
    "g_matrix_stats_preagg" -> matrixStatsOracleSql,

    // The chooser replayed in SQL: the same five one-pass grain counts,
    // the same finest-grain-fitting-target CASE; both twins (scan chooser
    // and the rollup's certified ladder tail) share it.
    "g_auto_date_histogram" -> autoDateHistogram100OracleSql,
    "g_auto_date_histogram_preagg" -> autoDateHistogram100OracleSql,

    "g_geo_line" ->
      """WITH pts AS (
        |  SELECT c_mktsegment, c_custkey,
        |    (CASE WHEN (c_acctbal % 180) < 0 THEN (c_acctbal % 180) + 180
        |          ELSE (c_acctbal % 180) END) - 90 + CAST(0.001 AS DOUBLE) AS lat,
        |    ((c_custkey % 360) + 360) % 360 - 180 + CAST(0.001 AS DOUBLE) AS lon
        |  FROM customer
        |), r AS (
        |  SELECT c_mktsegment,
        |    floor(lon * 1000000)::BIGINT AS lon6,
        |    floor(lat * 1000000)::BIGINT AS lat6,
        |    row_number() OVER (
        |      PARTITION BY c_mktsegment ORDER BY c_custkey, c_custkey) AS rn
        |  FROM pts WHERE lat IS NOT NULL AND lon IS NOT NULL
        |)
        |SELECT c_mktsegment, count(*)::BIGINT AS points,
        |  'LINESTRING_E6 (' ||
        |    string_agg(lon6 || ' ' || lat6, ', ' ORDER BY rn) || ')' AS line
        |FROM r WHERE rn <= 20
        |GROUP BY 1 ORDER BY points DESC, c_mktsegment LIMIT 10""".stripMargin,

    // time_series counter rate restated: the same two windows (counter
    // derivation + lag) and the same reset CASE, integer increases.
    "g_time_series_rate" ->
      """WITH c AS (
        |  SELECT event_type, ts, event_id,
        |    (row_number() OVER (PARTITION BY event_type
        |       ORDER BY ts, event_id) * 7) % 1000 AS ctr
        |  FROM events
        |), d AS (
        |  SELECT event_type, ts, ctr,
        |    lag(ctr) OVER (PARTITION BY event_type
        |      ORDER BY ts, event_id) AS prev
        |  FROM c
        |)
        |SELECT event_type, date_trunc('hour', ts) AS bucket,
        |  sum(CASE WHEN prev IS NULL THEN 0
        |           WHEN ctr >= prev THEN ctr - prev
        |           ELSE ctr END)::BIGINT AS increase,
        |  sum(CASE WHEN prev IS NULL THEN 0
        |           WHEN ctr >= prev THEN ctr - prev
        |           ELSE ctr END)::DOUBLE / 3600.0 AS rate
        |FROM d GROUP BY 1, 2
        |ORDER BY event_type, bucket""".stripMargin,

    "g_categorize_text" ->
      s"""WITH t AS (
         |  SELECT doc_id, array_to_string(list_transform($duckToks,
         |    t -> CASE WHEN regexp_matches(t, '[0-9]') THEN '*' ELSE t END),
         |    ' ') AS category
         |  FROM documents WHERE text IS NOT NULL
         |)
         |SELECT category, count(*)::BIGINT AS count,
         |  min(doc_id) AS example_id
         |FROM t WHERE len(category) > 0
         |GROUP BY 1 ORDER BY count DESC, category LIMIT 10""".stripMargin,

    // Derived from the CONSTRUCTION (second octet = custkey % 50), not by
    // re-parsing — an independent restatement of the parse→shift→render
    // path.
    "g_ip_prefix" -> ipPrefixOracleSql,
    // /24-masked rollup serves /16 by re-masking (geotile zoom-out twin)
    "g_ip_prefix_preagg" -> ipPrefixOracleSql,

    "g_ip_range" ->
      """SELECT * FROM (
        |  SELECT '*-10.10.0.0' AS bucket,
        |    sum(CASE WHEN (c_custkey % 50) < 10 THEN 1 ELSE 0 END)::BIGINT AS count
        |  FROM customer
        |  UNION ALL SELECT '10.10.0.0-10.30.0.0',
        |    sum(CASE WHEN (c_custkey % 50) BETWEEN 10 AND 29 THEN 1 ELSE 0 END)::BIGINT
        |  FROM customer
        |  UNION ALL SELECT '10.30.0.0-*',
        |    sum(CASE WHEN (c_custkey % 50) >= 30 THEN 1 ELSE 0 END)::BIGINT
        |  FROM customer
        |) ORDER BY bucket""".stripMargin,

    "g_moving_fn" ->
      """WITH h AS (
        |  SELECT date_trunc('day', ts) AS b, count(*)::BIGINT AS count
        |  FROM events GROUP BY 1
        |)
        |SELECT strftime(b, '%Y-%m-%d') AS bucket, count,
        |  min(count) OVER w AS moving_min,
        |  max(count) OVER w AS moving_max,
        |  (sum(count) OVER w)::BIGINT AS moving_sum,
        |  median(count) OVER w AS moving_median
        |FROM h
        |WINDOW w AS (ORDER BY b ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
        |ORDER BY bucket""".stripMargin,

    // The same fixed trees over order-exact integer moments: mean = Σv/n,
    // var = Σv²/n − mean², each reference recomputed identically.
    "g_normalize" ->
      """WITH h AS (
        |  SELECT date_trunc('day', ts) AS b, count(*)::BIGINT AS count
        |  FROM events GROUP BY 1
        |), t AS (
        |  SELECT b, count,
        |    sum(count::DOUBLE) OVER () AS s,
        |    min(count::DOUBLE) OVER () AS mn,
        |    max(count::DOUBLE) OVER () AS mx,
        |    count(*) OVER () AS n,
        |    sum(count::DOUBLE * count::DOUBLE) OVER () AS q
        |  FROM h
        |)
        |SELECT strftime(b, '%Y-%m-%d') AS bucket, count,
        |  count::DOUBLE / s * 100.0 AS percent_of_sum,
        |  CASE WHEN mx <> mn
        |    THEN (count::DOUBLE - mn) / (mx - mn) END AS rescale_0_1,
        |  CASE WHEN q / n - (s / n) * (s / n) > 0.0
        |    THEN (count::DOUBLE - s / n) / sqrt(q / n - (s / n) * (s / n))
        |  END AS z_score
        |FROM t ORDER BY bucket""".stripMargin,

    "g_rate" ->
      """WITH h AS (
        |  SELECT date_trunc('week', ts) AS b, count(*)::BIGINT AS count
        |  FROM events GROUP BY 1
        |)
        |SELECT strftime(b, '%Y-%m-%d') AS bucket, count,
        |  count / 7.0 AS rate
        |FROM h ORDER BY bucket""".stripMargin,

    // First-seen attribution + a running sum over the series — the exact
    // restatement of what ES serves from merged per-bucket HLL prefixes.
    // Shared scan/rollup (the first-seen min is an extremes-rollup measure).
    "g_cumulative_cardinality" -> cumulativeCardinalityOracleSql,
    "g_cumulative_cardinality_preagg" -> cumulativeCardinalityOracleSql,

    // Pearson against the 1..30 ramp: exact integer moments (DuckDB's
    // wide-sum types and Spark's LONGs convert to identical doubles) and
    // the variance factors convert BEFORE multiplying, as in the engine.
    // Shared scan/rollup-served-series, as for the two twins below.
    "g_bucket_correlation" -> bucketCorrelationOracleSql,
    "g_bucket_correlation_preagg" -> bucketCorrelationOracleSql,
    "g_ks_test" -> ksTestOracleSql,
    "g_ks_test_preagg" -> ksTestOracleSql,
    "g_change_point" -> changePointOracleSql,
    "g_change_point_preagg" -> changePointOracleSql,


    // The drill-down restated at zoom 4 directly — equal to the
    // rollup-served shift by the bit-exact ⌊u·2^zi⌋ >> k identity; the
    // ancestor filter is the same integer test on the z=4 indices.
    "g_geotile_drilldown" ->
      """WITH pts AS (
        |  SELECT
        |    (CASE WHEN (c_acctbal % 180) < 0 THEN (c_acctbal % 180) + 180
        |          ELSE (c_acctbal % 180) END) - 90 + CAST(0.001 AS DOUBLE) AS lat,
        |    ((c_custkey % 360) + 360) % 360 - 180 + CAST(0.001 AS DOUBLE) AS lon
        |  FROM customer
        |), idx AS (
        |  SELECT
        |    least(15, greatest(0,
        |      floor((lon + 180.0) / 360.0 * 16)::BIGINT)) AS tx,
        |    least(15, greatest(0,
        |      floor((1.0 - ln(tan(lat * (pi() / 180.0))
        |                      + 1.0 / cos(lat * (pi() / 180.0))) / pi())
        |            / 2.0 * 16)::BIGINT)) AS ty
        |  FROM pts WHERE lat IS NOT NULL AND lon IS NOT NULL
        |)
        |SELECT '4/' || tx || '/' || ty AS tile, count(*)::BIGINT AS count
        |FROM idx WHERE (tx >> 3) = 1 AND (ty >> 3) = 0
        |GROUP BY 1 ORDER BY count DESC, tile LIMIT 10""".stripMargin,

    "g_frequent_pairs" ->
      """WITH it AS (
        |  SELECT DISTINCT user_id AS t, event_type AS i
        |  FROM events WHERE event_type IS NOT NULL
        |)
        |SELECT a.i AS item_a, b.i AS item_b, count(*)::BIGINT AS support
        |FROM it a JOIN it b ON a.t = b.t AND a.i < b.i
        |GROUP BY 1, 2 HAVING count(*) >= 10
        |ORDER BY support DESC, item_a, item_b LIMIT 10""".stripMargin,

    // Welch t-test: the same conditional LONG cents folds and the same
    // fixed t/df trees ((Σc)² exceeds 2^53 as a double but the rounding
    // is ONE shared multiply — determinism, not absolute exactness, is
    // the contract there).
    "g_t_test" -> tTestOracleSql,
    "g_t_test_preagg" -> tTestOracleSql,

    // Haversine restated operator-for-operator (π/180 as one shared
    // double, sin/cos/asin library-rounded — same documented risk class
    // as the geotile oracle).
    "g_geo_distance" ->
      """WITH pts AS (
        |  SELECT
        |    (CASE WHEN (c_acctbal % 180) < 0 THEN (c_acctbal % 180) + 180
        |          ELSE (c_acctbal % 180) END) - 90 + CAST(0.001 AS DOUBLE) AS lat,
        |    ((c_custkey % 360) + 360) % 360 - 180 + CAST(0.001 AS DOUBLE) AS lon
        |  FROM customer
        |), d AS (
        |  SELECT (2.0 * 6371.0088) * asin(sqrt(
        |    sin(((lat - 0.0) * (pi() / 180.0)) / 2.0)
        |      * sin(((lat - 0.0) * (pi() / 180.0)) / 2.0)
        |    + cos(lat * (pi() / 180.0)) * cos(0.0 * (pi() / 180.0))
        |      * sin(((lon - 0.0) * (pi() / 180.0)) / 2.0)
        |      * sin(((lon - 0.0) * (pi() / 180.0)) / 2.0))) AS km
        |  FROM pts
        |)
        |SELECT * FROM (
        |  SELECT '*-2000.0' AS bucket,
        |    sum(CASE WHEN km < 2000.0 THEN 1 ELSE 0 END)::BIGINT AS count FROM d
        |  UNION ALL SELECT '2000.0-5000.0',
        |    sum(CASE WHEN km >= 2000.0 AND km < 5000.0 THEN 1 ELSE 0 END)::BIGINT FROM d
        |  UNION ALL SELECT '5000.0-10000.0',
        |    sum(CASE WHEN km >= 5000.0 AND km < 10000.0 THEN 1 ELSE 0 END)::BIGINT FROM d
        |  UNION ALL SELECT '10000.0-*',
        |    sum(CASE WHEN km >= 10000.0 THEN 1 ELSE 0 END)::BIGINT FROM d
        |) ORDER BY bucket""".stripMargin,

    "g_bucket_script" ->
      """WITH series AS (
        |  SELECT event_type, count(*)::BIGINT AS count,
        |    sum(floor(value * 100)::BIGINT)::BIGINT AS cents
        |  FROM events GROUP BY 1
        |)
        |SELECT event_type, count, cents, (cents / 100.0) / count AS avg_value
        |FROM series WHERE count >= 10
        |ORDER BY avg_value DESC, event_type LIMIT 3""".stripMargin,

    // One corpus-relation restatement shared by the scan form and the
    // pair-rollup serving form — the serving layer provably invisible.
    "g_cardinality" -> cardinalityOracleSql,
    "g_cardinality_preagg" -> cardinalityOracleSql,

    // One shared corpus restatement for the scan form AND the pair-rollup
    // serving twin (the serving layer must be invisible to results):
    // quantile_cont is the same linear-interpolated rank statistic as
    // Spark's exact percentile, weighted or not.
    "g_percentiles" -> percentilesOracleSql,
    "g_percentiles_preagg" -> percentilesOracleSql,

    // One shared restatement for the rank pair: a count ratio is the same
    // two IEEE-exact integers divided once, scan or rollup.
    "g_percentile_ranks" -> percentileRanksOracleSql,
    "g_percentile_ranks_preagg" -> percentileRanksOracleSql,

    // One shared restatement for the scan histogram and its rollup-served
    // twin (quantization commutes with the rollup).
    "g_histogram" -> histogramOracleSql,
    "g_histogram_preagg" -> histogramOracleSql,

    // Gap-cluster variable-width histogram — scan and rollup serve share
    // the restatement (the rollup's merged increments ARE the value table).
    "g_variable_width_histogram" -> variableWidthOracleSql,
    "g_variable_width_histogram_preagg" -> variableWidthOracleSql,

    // Range buckets generated from the SAME esRanges the engine buckets
    // by, so the "from-to" keys are literally shared.
    "g_range_buckets" -> rangeBucketsOracleSql,
    // (value)-rollup-served twin: cnt-weighted sums must be invisible
    "g_range_buckets_preagg" -> rangeBucketsOracleSql,

    // Per-bucket windowed top-k restated; desc sorts place NULLs last in
    // both engines, id tiebreak pins the hit set.
    "g_top_hits" ->
      """SELECT event_type, rn AS hit_rank, event_id, value FROM (
        |  SELECT event_type, event_id, value,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY value DESC, event_id ASC) AS rn
        |  FROM events
        |) WHERE rn <= 3 ORDER BY event_type, rn""".stripMargin,

    // Page 2 of the composite walk ≡ the ordered bucket space with the
    // first page OFFSET away — the after-key mechanism must be invisible.
    "g_composite_pages" -> compositePagesOracleSql,
    // rollup-paged export must be page-identical to the corpus scan
    "g_composite_pages_preagg" -> compositePagesOracleSql,

    "g_filters_agg" -> filtersAggOracleSql,
    // (event_type, value)-rollup twin — the same covering pair serves
    // every widget predicate here
    "g_filters_agg_preagg" -> filtersAggOracleSql,

    // Window semantics restated verbatim: trailing-inclusive moving window,
    // lag-derivative null in the first bucket, running sum including the
    // current bucket. DuckDB's sum(BIGINT) widens to HUGEINT — cast back.
    "g_pipeline_aggs" ->
      """WITH h AS (
        |  SELECT date_trunc('day', ts) AS bucket, count(*) AS count
        |  FROM events WHERE ts IS NOT NULL GROUP BY 1
        |)
        |SELECT strftime(bucket, '%Y-%m-%d') AS bucket, count,
        |  (sum(count) OVER (ORDER BY bucket
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT
        |    AS cumulative,
        |  count - lag(count, 1) OVER (ORDER BY bucket) AS derivative,
        |  round(avg(count) OVER (ORDER BY bucket
        |     ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 4) AS moving_avg
        |FROM h ORDER BY bucket""".stripMargin,

    // GROUPING() carries the identical bit-vector meaning in both engines;
    // NULLS FIRST matches Spark's ASC default for the subtotal rows.
    "g_rollup_terms" ->
      """SELECT event_type, dayname(ts) AS dayofweek, count(*) AS count,
        |  GROUPING(event_type, dayname(ts))::BIGINT AS gid
        |FROM events
        |GROUP BY ROLLUP (event_type, dayname(ts))
        |ORDER BY gid, event_type ASC NULLS FIRST, dayofweek ASC NULLS FIRST""".stripMargin,

    "g_cube_terms" ->
      """SELECT event_type, dayname(ts) AS dayofweek, count(*) AS count,
        |  GROUPING(event_type, dayname(ts))::BIGINT AS gid
        |FROM events
        |GROUP BY CUBE (event_type, dayname(ts))
        |ORDER BY gid, event_type ASC NULLS FIRST, dayofweek ASC NULLS FIRST""".stripMargin,

    "dedup_exact" ->
      """SELECT source, count(*) AS n_unique FROM (
        |  SELECT text, source,
        |    row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
        |  FROM documents
        |) WHERE rn = 1
        |GROUP BY source ORDER BY source""".stripMargin,

    // The multimodal pipeline's integer-exact slice. This oracle restates
    // the engine's DOCUMENTED stub arithmetic independently: kind cycles
    // id % 3; payload bytes are the UTF-8 text; declared dims are 64×64;
    // durations 0 (still) / 1000 ms; frame sampling slices a non-empty
    // video payload into exactly `framesPerVideo`=4 chunks totalling
    // 4·⌊len/4⌋ bytes (or 4 single bytes when len < 4).
    "mm_meta_stats" ->
      """WITH media AS (
        |  SELECT doc_id AS id,
        |    CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
        |      ELSE 'video' END AS kind,
        |    CASE WHEN text IS NULL THEN 0
        |      ELSE octet_length(encode(text)) END AS nbytes
        |  FROM documents
        |)
        |SELECT kind, count(*) AS n,
        |  sum(nbytes)::BIGINT AS total_bytes,
        |  (count(*) * 64)::BIGINT AS sum_width,
        |  (count(*) * 64)::BIGINT AS sum_height,
        |  sum(CASE WHEN kind = 'image' THEN 0 ELSE 1000 END)::BIGINT
        |    AS sum_duration_ms,
        |  sum(CASE WHEN kind = 'video' AND nbytes > 0 THEN 4 ELSE 0 END)::BIGINT
        |    AS n_frames,
        |  sum(CASE WHEN kind <> 'video' OR nbytes = 0 THEN 0
        |           WHEN nbytes < 4 THEN 4
        |           ELSE 4 * (nbytes // 4) END)::BIGINT AS frame_bytes
        |FROM media GROUP BY kind ORDER BY kind""".stripMargin,

    "stream_window_counts" ->
      """SELECT strftime(date_trunc('day', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
        |  event_type, count(*) AS n, round(sum(value), 2) AS total_value
        |FROM events
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "stream_sessionize" ->
      """WITH marked AS (
        |  SELECT user_id, ts, event_id, value,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR epoch_ms(ts) - epoch_ms(lag(ts) OVER w) > 3600000
        |         THEN 1 ELSE 0 END AS new_sess
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), sess AS (
        |  SELECT *, sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM marked
        |)
        |SELECT user_id,
        |  strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
        |  strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS session_end,
        |  count(*) AS n_events, round(sum(value), 2) AS total_value
        |FROM sess GROUP BY user_id, sid
        |ORDER BY user_id, session_start""".stripMargin,

    // Metadata fields are literals here: no lineitem column is in the
    // harmonized vocabulary, so every row gets the registry defaults.
    "q8_dict_fetch" -> dictOracle(
      "dict_field, 'dataset' AS dict_vargroup, dict_vartype, " +
        "'unknown' AS dict_vardescr, dict_min, dict_max, " +
        "dict_countdistinct, 'True' AS dict_uifilter"),

    // split-merge of exactly-mergeable stats == one whole-corpus profile
    "dict_profile_incremental" -> dictOracle(
      "dict_field, dict_count, dict_countmissing, dict_min, dict_max"),

    // quantile_cont and Spark's percentile() share the (n-1)*p interpolated
    // definition; both sides round identically (DuckDB lists are 1-based)
    "dict_quantiles" -> {
      val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      val subs = cols.map(c =>
        s"SELECT '$c' AS dict_field, quantile_cont($c, [0.25, 0.5, 0.75]) AS q FROM lineitem")
      s"""SELECT dict_field, round(q[1], 4) AS p25, round(q[2], 4) AS p50,
         |  round(q[3], 4) AS p75
         |FROM (${subs.mkString(" UNION ALL ")})
         |ORDER BY dict_field""".stripMargin
    },

    // the cache changes where the dictionary is read from, never its content
    "q8_dict_fetch_warm" -> dictOracle(
      "dict_field, 'dataset' AS dict_vargroup, dict_vartype, " +
        "'unknown' AS dict_vardescr, dict_min, dict_max, " +
        "dict_countdistinct, 'True' AS dict_uifilter"),

    // Geohash precision 2 in portable SQL (10 bits: 5 lon interleaved with
    // 5 lat, lon first) — GeohashAlgo's bisection restated as index
    // arithmetic: cell = floor((coord - lo) / span * 32), clamped (clamping
    // covers coords at/past the upper bound exactly like the all-ones
    // bisection path). Synthetic lat/lon derivation mirrors the Spark query.
    "g6_geohash_grid" -> geohashGrid2OracleSql,

    // The rollup-served precision-2 grid must equal the corpus scan —
    // same SQL by construction (the serving layer is invisible to results).
    "g6_geohash_preagg" -> geohashGrid2OracleSql,

    // precision-3 mirror of the bit-interleave (15 bits: lon leads with 8
    // bits at even positions, lat 7 at odd), zoomed to cell "9"'s bounds
    "g6_geohash_auto" ->
      """WITH pts AS (
        |  SELECT ((c_acctbal % 180) + 180) % 180 - 90 + 0.001 AS lat,
        |         ((c_custkey % 360) + 360) % 360 - 180 + 0.001 AS lon
        |  FROM customer
        |), zoomed AS (
        |  SELECT * FROM pts
        |  WHERE lat >= 0 AND lat < 45 AND lon >= -135 AND lon < -90
        |), idx AS (
        |  SELECT least(127, greatest(0, floor((lat + 90) / 180 * 128)))::INT AS la,
        |         least(255, greatest(0, floor((lon + 180) / 360 * 256)))::INT AS lo
        |  FROM zoomed
        |), gh AS (
        |  SELECT ((lo & 128) << 7) | ((lo & 64) << 6) | ((lo & 32) << 5)
        |       | ((lo & 16) << 4) | ((lo & 8) << 3) | ((lo & 4) << 2)
        |       | ((lo & 2) << 1) | (lo & 1)
        |       | ((la & 64) << 7) | ((la & 32) << 6) | ((la & 16) << 5)
        |       | ((la & 8) << 4) | ((la & 4) << 3) | ((la & 2) << 2)
        |       | ((la & 1) << 1) AS v
        |  FROM idx
        |)
        |SELECT substr('0123456789bcdefghjkmnpqrstuvwxyz', (v >> 10) + 1, 1) ||
        |       substr('0123456789bcdefghjkmnpqrstuvwxyz', ((v >> 5) & 31) + 1, 1) ||
        |       substr('0123456789bcdefghjkmnpqrstuvwxyz', (v & 31) + 1, 1) AS geohash,
        |       count(*) AS count
        |FROM gh GROUP BY 1 ORDER BY count DESC, geohash ASC""".stripMargin,

    "text_content_fingerprint" ->
      s"""SELECT doc_id, md5($duckNorm) AS fingerprint
         |FROM documents ORDER BY doc_id""".stripMargin,

    // Training AND scoring restated: df counts per (token, class), integer
    // floor-div quantized odds-ratio weights (all operands positive, so //
    // ≡ Spark's div), BIGINT tf·w scores; vocab-free docs keep score 0.
    "quality_classifier_score" ->
      s"""WITH posting AS (
         |  SELECT doc_id, t, count(*)::BIGINT AS tf
         |  FROM (SELECT doc_id, unnest($duckToks) AS t FROM documents)
         |  GROUP BY 1, 2
         |), labels AS (
         |  SELECT doc_id,
         |    (CASE WHEN len(trim(text)) = 0 THEN 0
         |          ELSE len(regexp_split_to_array(trim(text), '\\s+')) END) >= 50 AS pos
         |  FROM documents
         |), dfc AS (
         |  SELECT t,
         |    sum(CASE WHEN l.pos THEN 1 ELSE 0 END)::BIGINT AS pos_df,
         |    sum(CASE WHEN l.pos THEN 0 ELSE 1 END)::BIGINT AS neg_df
         |  FROM posting p JOIN labels l USING (doc_id) GROUP BY t
         |), w AS (
         |  SELECT t,
         |    (${ops.QualityModel.Scale} * (pos_df + 1)) // (neg_df + 1)
         |      - (${ops.QualityModel.Scale} * (neg_df + 1)) // (pos_df + 1) AS w
         |  FROM dfc WHERE pos_df + neg_df >= 2
         |), s AS (
         |  SELECT p.doc_id, sum(p.tf * w.w)::BIGINT AS score
         |  FROM posting p JOIN w USING (t) GROUP BY 1
         |)
         |SELECT d.doc_id, coalesce(s.score, 0)::BIGINT AS score,
         |  coalesce(s.score, 0) > 0 AS predicted
         |FROM documents d LEFT JOIN s USING (doc_id)
         |ORDER BY doc_id""".stripMargin,

    // Frozen-model scoring: weights from the hash-sampled train split only,
    // applied to the disjoint holdout — split membership via the portable
    // unit hash, everything else the quality_classifier_score pipeline.
    "quality_classifier_holdout" ->
      s"""WITH train AS (
         |  SELECT * FROM documents
         |  WHERE ${ops.Sampling.hashUnitSql("doc_id", 7)} < 0.6
         |), holdout AS (
         |  SELECT * FROM documents
         |  WHERE doc_id NOT IN (SELECT doc_id FROM train)
         |), tposting AS (
         |  SELECT doc_id, t, count(*)::BIGINT AS tf
         |  FROM (SELECT doc_id, unnest($duckToks) AS t FROM train)
         |  GROUP BY 1, 2
         |), labels AS (
         |  SELECT doc_id,
         |    (CASE WHEN len(trim(text)) = 0 THEN 0
         |          ELSE len(regexp_split_to_array(trim(text), '\\s+')) END) >= 50 AS pos
         |  FROM train
         |), dfc AS (
         |  SELECT t,
         |    sum(CASE WHEN l.pos THEN 1 ELSE 0 END)::BIGINT AS pos_df,
         |    sum(CASE WHEN l.pos THEN 0 ELSE 1 END)::BIGINT AS neg_df
         |  FROM tposting p JOIN labels l USING (doc_id) GROUP BY t
         |), w AS (
         |  SELECT t,
         |    (${ops.QualityModel.Scale} * (pos_df + 1)) // (neg_df + 1)
         |      - (${ops.QualityModel.Scale} * (neg_df + 1)) // (pos_df + 1) AS w
         |  FROM dfc WHERE pos_df + neg_df >= 2
         |), hposting AS (
         |  SELECT doc_id, t, count(*)::BIGINT AS tf
         |  FROM (SELECT doc_id, unnest($duckToks) AS t FROM holdout)
         |  GROUP BY 1, 2
         |), s AS (
         |  SELECT p.doc_id, sum(p.tf * w.w)::BIGINT AS score
         |  FROM hposting p JOIN w USING (t) GROUP BY 1
         |)
         |SELECT h.doc_id, coalesce(s.score, 0)::BIGINT AS score,
         |  coalesce(s.score, 0) > 0 AS predicted
         |FROM holdout h LEFT JOIN s USING (doc_id)
         |ORDER BY doc_id""".stripMargin,

    // AUC: the identical holdout scoring chain extended with the truth
    // label and the Mann-Whitney rank-sum form — cumulative tie-group
    // ranks, every addend an exact multiple of 0.5.
    "quality_classifier_auc" ->
      s"""WITH train AS (
         |  SELECT * FROM documents
         |  WHERE ${ops.Sampling.hashUnitSql("doc_id", 7)} < 0.6
         |), holdout AS (
         |  SELECT * FROM documents
         |  WHERE doc_id NOT IN (SELECT doc_id FROM train)
         |), tposting AS (
         |  SELECT doc_id, t, count(*)::BIGINT AS tf
         |  FROM (SELECT doc_id, unnest($duckToks) AS t FROM train)
         |  GROUP BY 1, 2
         |), labels AS (
         |  SELECT doc_id,
         |    (CASE WHEN len(trim(text)) = 0 THEN 0
         |          ELSE len(regexp_split_to_array(trim(text), '\\s+')) END) >= 50 AS pos
         |  FROM train
         |), dfc AS (
         |  SELECT t,
         |    sum(CASE WHEN l.pos THEN 1 ELSE 0 END)::BIGINT AS pos_df,
         |    sum(CASE WHEN l.pos THEN 0 ELSE 1 END)::BIGINT AS neg_df
         |  FROM tposting p JOIN labels l USING (doc_id) GROUP BY t
         |), w AS (
         |  SELECT t,
         |    (${ops.QualityModel.Scale} * (pos_df + 1)) // (neg_df + 1)
         |      - (${ops.QualityModel.Scale} * (neg_df + 1)) // (pos_df + 1) AS w
         |  FROM dfc WHERE pos_df + neg_df >= 2
         |), hposting AS (
         |  SELECT doc_id, t, count(*)::BIGINT AS tf
         |  FROM (SELECT doc_id, unnest($duckToks) AS t FROM holdout)
         |  GROUP BY 1, 2
         |), s AS (
         |  SELECT p.doc_id, sum(p.tf * w.w)::BIGINT AS score
         |  FROM hposting p JOIN w USING (t) GROUP BY 1
         |), hl AS (
         |  SELECT h.doc_id, coalesce(s.score, 0)::BIGINT AS score,
         |    (CASE WHEN len(trim(h.text)) = 0 THEN 0
         |          ELSE len(regexp_split_to_array(trim(h.text), '\\s+')) END) >= 50 AS actual
         |  FROM holdout h LEFT JOIN s USING (doc_id)
         |), grp AS (
         |  SELECT score, count(*)::BIGINT AS n,
         |    sum(CASE WHEN actual THEN 1 ELSE 0 END)::BIGINT AS np
         |  FROM hl GROUP BY 1
         |), cum AS (
         |  SELECT score, n, np,
         |    coalesce(sum(n) OVER (ORDER BY score
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS bfr
         |  FROM grp
         |), tot AS (
         |  SELECT sum(np)::BIGINT AS p, sum(n - np)::BIGINT AS nn,
         |    sum(np::DOUBLE * (bfr::DOUBLE + (n::DOUBLE + 1.0) / 2.0)) AS rs
         |  FROM cum
         |)
         |SELECT p AS n_pos, nn AS n_neg,
         |  CASE WHEN p = 0 OR nn = 0 THEN NULL
         |       ELSE round((rs - p::DOUBLE * (p::DOUBLE + 1.0) / 2.0)
         |                  / (p::DOUBLE * nn::DOUBLE), 6) END AS auc
         |FROM tot""".stripMargin,

    // Report card: the identical holdout chain, four integer cells, and
    // the identical fixed metric trees (left-associated sums, single
    // divisions — no rounding escape needed).
    "quality_classifier_report" ->
      s"""WITH train AS (
         |  SELECT * FROM documents
         |  WHERE ${ops.Sampling.hashUnitSql("doc_id", 7)} < 0.6
         |), holdout AS (
         |  SELECT * FROM documents
         |  WHERE doc_id NOT IN (SELECT doc_id FROM train)
         |), tposting AS (
         |  SELECT doc_id, t, count(*)::BIGINT AS tf
         |  FROM (SELECT doc_id, unnest($duckToks) AS t FROM train)
         |  GROUP BY 1, 2
         |), labels AS (
         |  SELECT doc_id,
         |    (CASE WHEN len(trim(text)) = 0 THEN 0
         |          ELSE len(regexp_split_to_array(trim(text), '\\s+')) END) >= 50 AS pos
         |  FROM train
         |), dfc AS (
         |  SELECT t,
         |    sum(CASE WHEN l.pos THEN 1 ELSE 0 END)::BIGINT AS pos_df,
         |    sum(CASE WHEN l.pos THEN 0 ELSE 1 END)::BIGINT AS neg_df
         |  FROM tposting p JOIN labels l USING (doc_id) GROUP BY t
         |), w AS (
         |  SELECT t,
         |    (${ops.QualityModel.Scale} * (pos_df + 1)) // (neg_df + 1)
         |      - (${ops.QualityModel.Scale} * (neg_df + 1)) // (pos_df + 1) AS w
         |  FROM dfc WHERE pos_df + neg_df >= 2
         |), hposting AS (
         |  SELECT doc_id, t, count(*)::BIGINT AS tf
         |  FROM (SELECT doc_id, unnest($duckToks) AS t FROM holdout)
         |  GROUP BY 1, 2
         |), s AS (
         |  SELECT p.doc_id, sum(p.tf * w.w)::BIGINT AS score
         |  FROM hposting p JOIN w USING (t) GROUP BY 1
         |), hl AS (
         |  SELECT coalesce(s.score, 0) > 0 AS pred,
         |    (CASE WHEN len(trim(h.text)) = 0 THEN 0
         |          ELSE len(regexp_split_to_array(trim(h.text), '\\s+')) END) >= 50 AS actual
         |  FROM holdout h LEFT JOIN s USING (doc_id)
         |), cells AS (
         |  SELECT
         |    sum(CASE WHEN pred AND actual THEN 1 ELSE 0 END)::BIGINT AS tp,
         |    sum(CASE WHEN pred AND NOT actual THEN 1 ELSE 0 END)::BIGINT AS fp,
         |    sum(CASE WHEN NOT pred AND NOT actual THEN 1 ELSE 0 END)::BIGINT AS tn,
         |    sum(CASE WHEN NOT pred AND actual THEN 1 ELSE 0 END)::BIGINT AS fn
         |  FROM hl
         |)
         |SELECT tp, fp, tn, fn,
         |  (tp::DOUBLE + tn::DOUBLE)
         |    / (tp::DOUBLE + fp::DOUBLE + tn::DOUBLE + fn::DOUBLE) AS accuracy,
         |  CASE WHEN tp::DOUBLE + fp::DOUBLE = 0.0 THEN NULL
         |       ELSE tp::DOUBLE / (tp::DOUBLE + fp::DOUBLE) END AS precision,
         |  CASE WHEN tp::DOUBLE + fn::DOUBLE = 0.0 THEN NULL
         |       ELSE tp::DOUBLE / (tp::DOUBLE + fn::DOUBLE) END AS recall,
         |  CASE WHEN tp::DOUBLE + fp::DOUBLE = 0.0 OR tp::DOUBLE + fn::DOUBLE = 0.0
         |         OR tp::DOUBLE / (tp::DOUBLE + fp::DOUBLE)
         |            + tp::DOUBLE / (tp::DOUBLE + fn::DOUBLE) = 0.0 THEN NULL
         |       ELSE 2.0 * (tp::DOUBLE / (tp::DOUBLE + fp::DOUBLE))
         |            * (tp::DOUBLE / (tp::DOUBLE + fn::DOUBLE))
         |            / (tp::DOUBLE / (tp::DOUBLE + fp::DOUBLE)
         |               + tp::DOUBLE / (tp::DOUBLE + fn::DOUBLE)) END AS f1,
         |  CASE WHEN ((tp::DOUBLE + fp::DOUBLE) * (tp::DOUBLE + fn::DOUBLE)
         |             + (fn::DOUBLE + tn::DOUBLE) * (fp::DOUBLE + tn::DOUBLE))
         |            / ((tp::DOUBLE + fp::DOUBLE + tn::DOUBLE + fn::DOUBLE)
         |               * (tp::DOUBLE + fp::DOUBLE + tn::DOUBLE + fn::DOUBLE)) = 1.0
         |       THEN NULL
         |       ELSE ((tp::DOUBLE + tn::DOUBLE)
         |              / (tp::DOUBLE + fp::DOUBLE + tn::DOUBLE + fn::DOUBLE)
         |             - ((tp::DOUBLE + fp::DOUBLE) * (tp::DOUBLE + fn::DOUBLE)
         |                + (fn::DOUBLE + tn::DOUBLE) * (fp::DOUBLE + tn::DOUBLE))
         |               / ((tp::DOUBLE + fp::DOUBLE + tn::DOUBLE + fn::DOUBLE)
         |                  * (tp::DOUBLE + fp::DOUBLE + tn::DOUBLE + fn::DOUBLE)))
         |            / (1.0
         |               - ((tp::DOUBLE + fp::DOUBLE) * (tp::DOUBLE + fn::DOUBLE)
         |                  + (fn::DOUBLE + tn::DOUBLE) * (fp::DOUBLE + tn::DOUBLE))
         |                 / ((tp::DOUBLE + fp::DOUBLE + tn::DOUBLE + fn::DOUBLE)
         |                    * (tp::DOUBLE + fp::DOUBLE + tn::DOUBLE + fn::DOUBLE)))
         |       END AS kappa
         |FROM cells""".stripMargin,

    // Bigram-LM training AND scoring restated: row-ordered bigrams via
    // 1-based list indexing over the token array, counts, minCount-pruned
    // head with FULL-count context totals, ilog2 (= length(bin(n+1)))
    // integer costs with the flat OOV constant, flooring-division
    // bits-per-1k rate. Every operand integer — hash-matches.
    "quality_lm_score" ->
      s"""WITH $lmCostCtes,
         |agg AS (
         |  SELECT doc_id, sum(cost)::BIGINT AS lm_cost,
         |         count(*)::BIGINT AS lm_bigrams
         |  FROM costed GROUP BY 1
         |)
         |SELECT d.doc_id, coalesce(a.lm_cost, 0)::BIGINT AS lm_cost,
         |  coalesce(a.lm_bigrams, 0)::BIGINT AS lm_bigrams,
         |  (CASE WHEN coalesce(a.lm_bigrams, 0) = 0 THEN 0
         |        ELSE (1000 * a.lm_cost) // a.lm_bigrams END)::BIGINT AS lm_bits_per_1k
         |FROM documents d LEFT JOIN agg a USING (doc_id)
         |ORDER BY doc_id""".stripMargin,

    // Unigram segmentation replayed end-to-end: weighted substring
    // vocabulary, ilog2 costs, and the Viterbi DP as unrolled position
    // CTEs (the BPE merge-replay precedent).
    "text_unigram_segment" ->
      ops.Unigram.oracleSql("documents", "doc_id", "text",
        maxPieceLen = 4, minCount = 2, maxWordLen = 16),

    // Moore-Lewis restated: TWO model chains over the shared bigram
    // stream (corpus; lang='en' target), the identical ilog2 costs and
    // flooring rates, integer delta, ascending head.
    "quality_ml_select" ->
      s"""WITH lmtoks AS (
         |  SELECT doc_id, lang, $duckToks AS ts FROM documents
         |), lmbg AS (
         |  SELECT doc_id, lang, ts[i] AS w1, ts[i + 1] AS w2
         |  FROM lmtoks, unnest(range(1, len(ts))) AS u(i)
         |), cc2 AS (
         |  SELECT w1, w2, count(*)::BIGINT AS c2 FROM lmbg GROUP BY 1, 2
         |), cctx AS (
         |  SELECT w1, sum(c2)::BIGINT AS c1 FROM cc2
         |  GROUP BY 1 HAVING sum(c2) >= 2
         |), chead AS (
         |  SELECT w1, w2, c2 FROM cc2 WHERE c2 >= 2
         |), tc2 AS (
         |  SELECT w1, w2, count(*)::BIGINT AS c2 FROM lmbg
         |  WHERE lang = 'en' GROUP BY 1, 2
         |), tctx AS (
         |  SELECT w1, sum(c2)::BIGINT AS c1 FROM tc2
         |  GROUP BY 1 HAVING sum(c2) >= 2
         |), thead AS (
         |  SELECT w1, w2, c2 FROM tc2 WHERE c2 >= 2
         |), ccost AS (
         |  SELECT b.doc_id,
         |    (CASE WHEN x.c1 IS NULL THEN ${ops.NgramLm.OovCost}
         |          ELSE length(bin(x.c1 + 1)) - length(bin(coalesce(h.c2, 0) + 1))
         |     END)::BIGINT AS cost
         |  FROM lmbg b LEFT JOIN cctx x USING (w1) LEFT JOIN chead h USING (w1, w2)
         |), tcost AS (
         |  SELECT b.doc_id,
         |    (CASE WHEN x.c1 IS NULL THEN ${ops.NgramLm.OovCost}
         |          ELSE length(bin(x.c1 + 1)) - length(bin(coalesce(h.c2, 0) + 1))
         |     END)::BIGINT AS cost
         |  FROM lmbg b LEFT JOIN tctx x USING (w1) LEFT JOIN thead h USING (w1, w2)
         |), cagg AS (
         |  SELECT doc_id, sum(cost)::BIGINT AS lm_cost, count(*)::BIGINT AS n
         |  FROM ccost GROUP BY 1
         |), tagg AS (
         |  SELECT doc_id, sum(cost)::BIGINT AS lm_cost, count(*)::BIGINT AS n
         |  FROM tcost GROUP BY 1
         |), rates AS (
         |  SELECT d.doc_id,
         |    (CASE WHEN coalesce(c.n, 0) = 0 THEN 0
         |          ELSE (1000 * c.lm_cost) // c.n END)::BIGINT AS corpus_bits_per_1k,
         |    (CASE WHEN coalesce(t.n, 0) = 0 THEN 0
         |          ELSE (1000 * t.lm_cost) // t.n END)::BIGINT AS target_bits_per_1k
         |  FROM documents d
         |  LEFT JOIN cagg c USING (doc_id) LEFT JOIN tagg t USING (doc_id)
         |)
         |SELECT doc_id, corpus_bits_per_1k, target_bits_per_1k,
         |  (target_bits_per_1k - corpus_bits_per_1k)::BIGINT AS ml_delta
         |FROM rates ORDER BY ml_delta ASC, doc_id ASC LIMIT 50""".stripMargin,

    // LTR feature log: Bm25's exact analyzer/TF/IDF/score spellings with
    // the feature projection and the judged-label join.
    "q_ltr_features" ->
      graft.query.Ltr.oracleSql("documents", "doc_id", "text",
        "dup vector scan",
        graft.expr.TextMatch.containsTokenSql("text", "dup"), k = 15),

    // rank_eval: identical run (shared scored CTE + rank), identical
    // judged set, fixed IEEE metric trees, rank-ordered DCG folds with
    // arg_max extraction, round(ndcg, 6).
    "q_rank_eval" -> {
      val scored = graft.query.Bm25.oracleSqlScored(
        "documents", "doc_id", "text", "dup vector scan")
      val relPred = graft.expr.TextMatch.containsTokenSql("text", "dup")
      s"""WITH s AS (
         |$scored
         |), run AS (
         |  SELECT doc_id, score FROM s ORDER BY score DESC, doc_id ASC LIMIT 15
         |), ranked AS (
         |  SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rank
         |  FROM run
         |), rel AS (
         |  SELECT doc_id FROM documents WHERE $relPred
         |), tot AS (
         |  SELECT count(*)::BIGINT AS r FROM rel
         |), flags AS (
         |  SELECT rank, (doc_id IN (SELECT doc_id FROM rel)) AS is_rel FROM ranked
         |), fold AS (
         |  SELECT rank, sum(CASE WHEN is_rel
         |      THEN 1.0 / (ln(rank + 1) / ln(2.0)) ELSE 0.0 END)
         |    OVER (ORDER BY rank ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sdcg
         |  FROM flags
         |), dcg AS (
         |  SELECT arg_max(sdcg, rank) AS dcg FROM fold
         |), hits AS (
         |  SELECT sum(CASE WHEN is_rel THEN 1 ELSE 0 END)::BIGINT AS h,
         |    min(CASE WHEN is_rel THEN rank END)::BIGINT AS fr
         |  FROM flags
         |), ideal AS (
         |  SELECT i FROM tot, unnest(range(1, least(15, r) + 1)) AS u(i)
         |), ifold AS (
         |  SELECT i, sum(1.0 / (ln(i + 1) / ln(2.0)))
         |    OVER (ORDER BY i ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sidcg
         |  FROM ideal
         |), idcg AS (
         |  SELECT arg_max(sidcg, i) AS idcg FROM ifold
         |)
         |SELECT h::DOUBLE / 15 AS precision_at_k,
         |  CASE WHEN r = 0 THEN 0.0 ELSE h::DOUBLE / r::DOUBLE END AS recall_at_k,
         |  CASE WHEN fr IS NULL THEN 0.0 ELSE 1.0 / fr::DOUBLE END AS mrr,
         |  CASE WHEN idcg IS NULL OR idcg = 0.0 THEN 0.0
         |       ELSE round(dcg / idcg, 6) END AS ndcg_at_k
         |FROM hits, tot, dcg, idcg""".stripMargin
    },

    "quality_lm_filter" ->
      s"""WITH $lmCostCtes,
         |agg AS (
         |  SELECT doc_id, sum(cost)::BIGINT AS lm_cost,
         |         count(*)::BIGINT AS lm_bigrams
         |  FROM costed GROUP BY 1
         |), rated AS (
         |  SELECT d.doc_id,
         |    (CASE WHEN coalesce(a.lm_bigrams, 0) = 0 THEN 0
         |          ELSE (1000 * a.lm_cost) // a.lm_bigrams END)::BIGINT AS rate
         |  FROM documents d LEFT JOIN agg a USING (doc_id)
         |)
         |SELECT d.doc_id, d.source FROM documents d
         |JOIN rated r USING (doc_id)
         |WHERE r.rate >= 3000 AND r.rate <= 4500
         |ORDER BY doc_id""".stripMargin,

    "text_langid" -> langIdOracle,

    "pipeline_prep" ->
      s"""WITH $langIdCtes,
         |$qualityCtes,
         |winners AS (
         |  SELECT doc_id, source FROM (
         |    SELECT doc_id, source,
         |      row_number() OVER (PARTITION BY $duckNorm ORDER BY doc_id) AS rn
         |    FROM documents
         |  ) WHERE rn = 1
         |)
         |SELECT CASE WHEN ${ops.Sampling.hashUnitSql("doc_id", 42)} < 0.75 THEN 'train'
         |            WHEN ${ops.Sampling.hashUnitSql("doc_id", 42)} < 0.875 THEN 'val'
         |            ELSE 'test' END AS split,
         |  source, count(*) AS n
         |FROM winners
         |JOIN lang_per_doc USING (doc_id)
         |JOIN quality_per_doc USING (doc_id)
         |WHERE quality_score >= 0.6 AND lang_pred = 'en'
         |GROUP BY split, source ORDER BY split, source""".stripMargin,

    "sample_hash" ->
      s"""SELECT doc_id, source FROM documents
         |WHERE ${ops.Sampling.hashUnitSql("doc_id", 42)} < 0.1
         |ORDER BY doc_id""".stripMargin,

    "sample_split" ->
      s"""SELECT CASE WHEN ${ops.Sampling.hashUnitSql("doc_id", 42)} < 0.75 THEN 'train'
         |            WHEN ${ops.Sampling.hashUnitSql("doc_id", 42)} < 0.875 THEN 'val'
         |            ELSE 'test' END AS split, count(*) AS n
         |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,

    // Cluster-safe split restated end to end: the portable pair CTEs +
    // recursive closure of dedup_cluster_keep_portable, then the split
    // CASE on the coalesced representative — the same md5 unit hash.
    "sample_split_cluster_safe" ->
      s"""WITH ${portableMinhashCtesSql(k = 2, numHashes = 32, r = 2, threshold = 0.4,
            from = "(SELECT * FROM documents WHERE doc_id < 500)")},
         |edges AS (
         |  SELECT id_a AS a, id_b AS b FROM pairs
         |  UNION SELECT id_b, id_a FROM pairs
         |), reach AS (
         |  WITH RECURSIVE r(a, b) AS (
         |    SELECT a, b FROM edges
         |    UNION
         |    SELECT r.a, e.b FROM r JOIN edges e ON r.b = e.a
         |  ) SELECT * FROM r
         |), comp AS (
         |  SELECT a AS id, least(a, min(b)) AS component FROM reach GROUP BY a
         |)
         |SELECT CASE
         |    WHEN ${ops.Sampling.hashUnitSql("coalesce(comp.component, doc.doc_id)", 42)} < 0.75 THEN 'train'
         |    WHEN ${ops.Sampling.hashUnitSql("coalesce(comp.component, doc.doc_id)", 42)} < 0.875 THEN 'val'
         |    ELSE 'test' END AS split, count(*) AS n
         |FROM (SELECT * FROM documents WHERE doc_id < 500) doc
         |  LEFT JOIN comp ON doc.doc_id = comp.id
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    "sample_stratified" ->
      s"""SELECT source, count(*) AS n FROM documents
         |WHERE ${ops.Sampling.hashUnitSql("doc_id", 42)} <
         |  CASE source WHEN 'src0' THEN 1.0 WHEN 'src1' THEN 0.5
         |              WHEN 'src2' THEN 0.2 ELSE 0.0 END
         |GROUP BY source ORDER BY source""".stripMargin,

    // Fingerprint-store anti-join + within-batch min-keep, restated on the
    // normalized text (the store's xxhash64 key is injective modulo
    // collisions, same established equivalence as dedup_exact_fingerprint).
    "dedup_exact_incremental" -> dedupExactIncrementalOracleSql,
    // the Bloom pre-filter must not change the accepted set — same oracle
    "dedup_exact_incremental_bloom" -> dedupExactIncrementalOracleSql,

    "p_json_props" ->
      """SELECT event_type, count(k) AS n, sum(k)::BIGINT AS k_sum,
        |  min(k) AS k_min, max(k) AS k_max
        |FROM (
        |  SELECT event_type, json_extract(props, '$.k')::BIGINT AS k
        |  FROM events
        |)
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    "dedup_exact_fingerprint" ->
      s"""SELECT source, count(*) AS n_unique FROM (
         |  SELECT source,
         |    row_number() OVER (PARTITION BY $duckNorm ORDER BY doc_id) AS rn
         |  FROM documents
         |) WHERE rn = 1
         |GROUP BY source ORDER BY source""".stripMargin,

    "dict_profile_lineitem" -> dictOracle(
      "dict_field, dict_count, dict_countdistinct, dict_countmissing, " +
        "round(dict_mean, 4) AS dict_mean, round(dict_stddev, 4) AS dict_stddev, dict_vartype"),

    "text_profile" ->
      s"""WITH t AS (
         |  SELECT doc_id, text, $duckToks AS toks FROM documents
         |), m AS (
         |  SELECT doc_id,
         |    CASE WHEN len(trim(text)) = 0 THEN 0
         |         ELSE len(regexp_split_to_array(trim(text), '\\s+')) END::BIGINT AS token_count,
         |    len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]'))::BIGINT AS bpe_token_estimate,
         |    CASE WHEN len(text) = 0 THEN 0.0
         |         ELSE len(regexp_extract_all(text, '[^A-Za-z0-9\\s]'))::DOUBLE / len(text) END AS punct_ratio,
         |    CASE WHEN len(toks) = 0 THEN 0.0
         |         ELSE len(list_filter(toks, t -> list_contains(${TextAnalysis.englishStopwords.map(w => s"'$w'").mkString("[", ",", "]")}, t)))::DOUBLE / len(toks) END AS stopword_ratio,
         |    CASE WHEN len(toks) = 0 THEN 0.0
         |         ELSE list_sum(list_transform(toks, t -> len(t)))::DOUBLE / len(toks) END AS mean_token_length
         |  FROM t
         |)
         |SELECT doc_id, token_count, bpe_token_estimate,
         |  punct_ratio, stopword_ratio, mean_token_length,
         |  (least(1.0, token_count / 100.0)
         |       + greatest(0.0, 1.0 - abs(stopword_ratio - 0.4) / 0.4)
         |       + (1.0 - least(1.0, punct_ratio * 5.0))
         |       + (1.0 - least(1.0, abs(mean_token_length - 5.0) / 5.0))) * 0.25 AS quality_score
         |FROM m ORDER BY doc_id""".stripMargin,

    "text_chunk_windows" ->
      s"""WITH t AS (
         |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks,
         |    CASE WHEN len(trim(text)) = 0 THEN 0
         |         ELSE len(regexp_split_to_array(trim(text), '\\s+')) END::BIGINT AS tok
         |  FROM documents
         |), n AS (
         |  SELECT doc_id, toks, tok,
         |    1 + greatest(0, (tok - 64 + 47) // 48) AS n_chunks
         |  FROM t WHERE tok > 0
         |), e AS (
         |  SELECT doc_id, toks, tok, unnest(generate_series(0, n_chunks - 1)) AS chunk
         |  FROM n
         |)
         |SELECT doc_id, chunk, (chunk * 48)::BIGINT AS begin_tok,
         |  least(64, tok - chunk * 48)::BIGINT AS n_tok,
         |  array_to_string(toks[chunk * 48 + 1:chunk * 48 + least(64, tok - chunk * 48)], ' ') AS chunk_text
         |FROM e ORDER BY doc_id, chunk""".stripMargin,

    "vocab_topk" -> {
      s"""SELECT term, count(*)::BIGINT AS n
         |FROM (SELECT unnest($duckToks) AS term FROM documents)
         |GROUP BY term ORDER BY n DESC, term ASC LIMIT 10""".stripMargin
    },

    "vocab_bpe_merges" -> bpeOracleSql,
    "text_bpe_tokens" -> bpeTokensOracleSql,

    // exact while distinct terms < maxTracked, so the merged estimate must
    // equal the whole-corpus aggregation
    "vocab_topk_incremental" -> {
      s"""SELECT term, count(*)::BIGINT AS n
         |FROM (SELECT unnest($duckToks) AS term FROM documents)
         |GROUP BY term ORDER BY n DESC, term ASC LIMIT 10""".stripMargin
    },

    // JLH restated on the same exact integer doc-frequency counts; the
    // score is the identical three-op IEEE tree, so it hash-matches. The
    // (score DESC, term ASC) total order makes the limit boundary
    // deterministic in both engines.
    "g_significant_terms" ->
      s"""WITH base AS (
         |  SELECT list_distinct($duckToks) AS terms, (lang = 'zh') AS fg
         |  FROM documents
         |), tot AS (
         |  SELECT count(*) AS bgt,
         |    sum(CASE WHEN fg THEN 1 ELSE 0 END)::BIGINT AS fgt FROM base
         |), e AS (SELECT unnest(terms) AS term, fg FROM base),
         |c AS (
         |  SELECT term, count(*) AS bg_count,
         |    sum(CASE WHEN fg THEN 1 ELSE 0 END)::BIGINT AS fg_count
         |  FROM e GROUP BY term
         |)
         |SELECT term, fg_count, bg_count,
         |  (fg_count::DOUBLE / fgt - bg_count::DOUBLE / bgt)
         |    * ((fg_count::DOUBLE / fgt) / (bg_count::DOUBLE / bgt)) AS score
         |FROM c, tot WHERE fg_count > 0
         |ORDER BY score DESC, term ASC LIMIT 15""".stripMargin,

    // The chi_square heuristic: the same exact counts, the textbook 2×2
    // contingency tree in DOUBLE arithmetic, identical operation order.
    "g_significant_terms_chi2" ->
      s"""WITH base AS (
         |  SELECT list_distinct($duckToks) AS terms, (lang = 'zh') AS fg
         |  FROM documents
         |), tot AS (
         |  SELECT count(*) AS bgt,
         |    sum(CASE WHEN fg THEN 1 ELSE 0 END)::BIGINT AS fgt FROM base
         |), e AS (SELECT unnest(terms) AS term, fg FROM base),
         |c AS (
         |  SELECT term, count(*) AS bg_count,
         |    sum(CASE WHEN fg THEN 1 ELSE 0 END)::BIGINT AS fg_count
         |  FROM e GROUP BY term
         |), m AS (
         |  SELECT term, fg_count, bg_count,
         |    fg_count::DOUBLE AS a,
         |    fgt::DOUBLE - fg_count::DOUBLE AS b,
         |    bg_count::DOUBLE - fg_count::DOUBLE AS c,
         |    (bgt::DOUBLE - fgt::DOUBLE) - (bg_count::DOUBLE - fg_count::DOUBLE) AS d,
         |    bgt::DOUBLE AS n
         |  FROM c, tot WHERE fg_count > 0
         |)
         |SELECT term, fg_count, bg_count,
         |  CASE WHEN (a + b) * (c + d) * (a + c) * (b + d) = 0.0 THEN 0.0
         |       ELSE ((a * d - b * c) * (a * d - b * c) * n)
         |            / ((a + b) * (c + d) * (a + c) * (b + d)) END AS score
         |FROM m
         |ORDER BY score DESC, term ASC LIMIT 15""".stripMargin,

    // significant_text = the same JLH chain over the duplicate-collapsed
    // frame: each distinct (text, slice-membership) combination counts
    // once (the deterministic filter_duplicate_text contract).
    "g_significant_text" ->
      s"""WITH base AS (
         |  SELECT list_distinct($duckToks) AS terms, fg FROM (
         |    SELECT DISTINCT text, (lang = 'zh') AS fg FROM documents)
         |), tot AS (
         |  SELECT count(*) AS bgt,
         |    sum(CASE WHEN fg THEN 1 ELSE 0 END)::BIGINT AS fgt FROM base
         |), e AS (SELECT unnest(terms) AS term, fg FROM base),
         |c AS (
         |  SELECT term, count(*) AS bg_count,
         |    sum(CASE WHEN fg THEN 1 ELSE 0 END)::BIGINT AS fg_count
         |  FROM e GROUP BY term
         |)
         |SELECT term, fg_count, bg_count,
         |  (fg_count::DOUBLE / fgt - bg_count::DOUBLE / bgt)
         |    * ((fg_count::DOUBLE / fgt) / (bg_count::DOUBLE / bgt)) AS score
         |FROM c, tot WHERE fg_count > 0
         |ORDER BY score DESC, term ASC LIMIT 15""".stripMargin,

    // Stage-by-stage restatement shared with the published twin — see
    // assembleOracleSql's scaladoc.
    "pipeline_assemble" -> assembleOracleSql,
    "pipeline_assemble_published" -> assembleOracleSql,

    // Shard + rank restated on the shared 52-bit md5 hash: the hash is
    // non-negative, so SQL's % equals pmod, and the (hash, id) rank is one
    // window per shard in both engines.
    "pack_shards" ->
      s"""WITH a AS (
         |  SELECT doc_id, ${ops.Sampling.hashBits52Sql("doc_id", 42)} AS h
         |  FROM documents
         |)
         |SELECT doc_id, h % 8 AS shard,
         |  (row_number() OVER (PARTITION BY h % 8 ORDER BY h, doc_id) - 1)::BIGINT
         |    AS pos
         |FROM a ORDER BY doc_id""".stripMargin,

    // The budget cut restated as the ONE global window the bucketed
    // two-phase prefix sum is provably equal to (bucket index is monotone
    // in the hash): same md5 unit hash, same (u, id) order, same
    // prefix-inclusive running sum, same <= line.
    "sample_token_budget" ->
      s"""WITH d AS (
         |  SELECT doc_id, source,
         |    (CASE WHEN len(trim(text)) = 0 THEN 0
         |          ELSE len(regexp_split_to_array(trim(text), '\\s+')) END)::BIGINT
         |      AS n_tok,
         |    ${ops.Sampling.hashUnitSql("doc_id", 42)} AS u
         |  FROM documents
         |), p AS (
         |  SELECT doc_id, source, n_tok,
         |    (sum(n_tok) OVER (PARTITION BY source ORDER BY u, doc_id
         |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT
         |      AS cum_tok
         |  FROM d WHERE n_tok > 0
         |)
         |SELECT doc_id, source, n_tok, cum_tok FROM p
         |WHERE cum_tok <= 600 ORDER BY doc_id""".stripMargin,

    // Per-source cap restated as the one-window form the bucketed
    // two-phase prefix provably equals: per-source row_number in the
    // identical (hash, id) order, kept ≤ cap.
    "sample_source_cap" ->
      s"""WITH r AS (
         |  SELECT doc_id, source,
         |    row_number() OVER (PARTITION BY source
         |      ORDER BY ${ops.Sampling.hashUnitSql("doc_id", 42)}, doc_id)
         |      AS rank_in_source
         |  FROM documents
         |)
         |SELECT doc_id, source, rank_in_source FROM r
         |WHERE rank_in_source <= 10 ORDER BY doc_id""".stripMargin,

    // Drift restated feature by feature from the SAME bucketing
    // expressions: per-side histogram shares, full-outer bucket join,
    // exact-arithmetic TVD and symmetric chi-square, both rounded at 6
    // (the dictionary-stats precedent for order-free double sums).
    "drift_report" -> {
      val tokCount =
        """(CASE WHEN len(trim(text)) = 0 THEN 0
          |      ELSE len(regexp_split_to_array(trim(text), '\s+')) END)""".stripMargin
      val feats = Seq(
        "lang" -> "lang",
        "source" -> "source",
        "tok_decade" -> s"(floor($tokCount / 10) * 10)")
      val legs = feats.map { case (name, e) =>
        s"""SELECT '$name' AS feature, count(*)::BIGINT AS n_buckets,
           |  round(sum(abs(p - q)) / 2.0, 6) AS tvd,
           |  round(sum((p - q) * (p - q) / (p + q)), 6) AS chi2_sym,
           |  round(sum(CASE WHEN p > 0 AND q > 0
           |    THEN (p - q) * ln(p / q) ELSE 0.0 END), 6) AS psi
           |FROM (
           |  SELECT coalesce(pa.p, 0.0) AS p, coalesce(pb.q, 0.0) AS q
           |  FROM (SELECT $e AS bucket,
           |          count(*)::DOUBLE / (SELECT count(*) FROM da) AS p
           |        FROM da GROUP BY 1) pa
           |  FULL OUTER JOIN (SELECT $e AS bucket,
           |          count(*)::DOUBLE / (SELECT count(*) FROM db) AS q
           |        FROM db GROUP BY 1) pb
           |  USING (bucket)
           |)""".stripMargin
      }
      s"""WITH da AS (SELECT * FROM documents WHERE doc_id % 2 = 0),
         |db AS (SELECT * FROM documents WHERE doc_id % 2 = 1)
         |SELECT * FROM (
         |${legs.mkString("\nUNION ALL ")}
         |) ORDER BY feature""".stripMargin
    },

    // The round-12 curation chain replayed stage by stage from the shared
    // fragments: metric gate → DSIR (model AND scoring over the gated set
    // via the membership predicate) → top-200 → sqrt-share temperature
    // mix → global-window length bins → per-language manifest.
    "pipeline_curate" -> {
      val u = ops.Sampling.hashUnitSql("doc_id", 42)
      val tokCount =
        """(CASE WHEN len(trim(text)) = 0 THEN 0
          |      ELSE len(regexp_split_to_array(trim(text), '\s+')) END)""".stripMargin
      val gatePred = "doc_id IN (SELECT doc_id FROM gated)"
      s"""WITH gated AS (
         |  SELECT doc_id FROM (
         |    SELECT doc_id, $tokCount::BIGINT AS wc,
         |      len(regexp_extract_all(text, '\\S*[A-Za-z]\\S*'))::BIGINT AS aw
         |    FROM documents)
         |  WHERE wc >= 30 AND aw::DOUBLE / wc >= 0.8
         |), ${dsirCtes(gatePred, gatePred)}, sel AS (
         |  SELECT doc_id, lang FROM scored
         |  ORDER BY bits_per_1k DESC, doc_id LIMIT 200
         |), cnt AS (
         |  SELECT lang, count(*)::BIGINT AS c FROM sel GROUP BY lang
         |), scl AS (
         |  SELECT min(c / sqrt(c)) AS scale FROM cnt
         |), mixed AS (
         |  SELECT s.doc_id, s.lang
         |  FROM sel s JOIN cnt ON cnt.lang = s.lang, scl
         |  WHERE $u < sqrt(cnt.c) * scl.scale / cnt.c
         |), bd AS (
         |  SELECT m.doc_id, m.lang, $tokCount::BIGINT AS n_tok, $u AS bu
         |  FROM mixed m JOIN documents USING (doc_id)
         |), br AS (
         |  SELECT doc_id, lang, n_tok,
         |    row_number() OVER (PARTITION BY n_tok ORDER BY bu, doc_id) - 1 AS rk
         |  FROM bd WHERE n_tok BETWEEN 1 AND 256
         |)
         |SELECT lang, count(*)::BIGINT AS n_docs,
         |  count(DISTINCT (n_tok, rk // (256 // n_tok)))::BIGINT AS n_bins,
         |  sum(n_tok)::BIGINT AS n_tokens
         |FROM br GROUP BY lang ORDER BY lang""".stripMargin
    },

    // The two-phase rank restated as ONE global per-length window — the
    // bucketed construction must be invisible; integer div/mod floor
    // identically on non-negative operands.
    "pack_length_bins" -> {
      val u = ops.Sampling.hashUnitSql("doc_id", 42)
      s"""WITH d AS (
         |  SELECT doc_id,
         |    (CASE WHEN len(trim(text)) = 0 THEN 0
         |          ELSE len(regexp_split_to_array(trim(text), '\\s+')) END)::BIGINT
         |      AS n_tok,
         |    $u AS u
         |  FROM documents
         |), r AS (
         |  SELECT doc_id, n_tok,
         |    row_number() OVER (PARTITION BY n_tok ORDER BY u, doc_id) - 1 AS rk
         |  FROM d WHERE n_tok BETWEEN 1 AND 256
         |)
         |SELECT doc_id, n_tok,
         |  (rk // (256 // n_tok))::BIGINT AS bin,
         |  (rk % (256 // n_tok))::BIGINT AS slot
         |FROM r ORDER BY doc_id""".stripMargin
    },

    // DSIR restated end to end: analyzer bigrams, the portable md5 bucket
    // hash, occurrence counts with conditional target sums, the clipped
    // ilog2 weight with the 1-row corpus normalizer, and the per-doc rate
    // as the same IEEE division. Shared CTE chain for both entries.
    "sample_importance" ->
      s"""WITH $dsirScoreCtes
         |SELECT doc_id, lang, n_feats, bits, bits_per_1k FROM scored
         |ORDER BY bits_per_1k DESC, doc_id LIMIT 50""".stripMargin,

    // The streamed-model serve path: same CTE chain with the model built
    // over the corpus split only and the scoring restricted to the unseen
    // batch — the epoch-increment merge (with its replayed epoch 0) must
    // be invisible to the scores.
    "sample_importance_stream" ->
      s"""WITH ${dsirCtes("doc_id % 3 <> 0", "doc_id % 3 = 0")}
         |SELECT doc_id, lang, n_feats, bits, bits_per_1k FROM scored
         |ORDER BY bits_per_1k DESC, doc_id LIMIT 50""".stripMargin,

    // Priority sampling over the same scores: pri = (rate + shift) / u —
    // two more IEEE divisions of exactly representable values, so the
    // top-25 draw is bit-identical cross-engine.
    "sample_importance_priority" ->
      s"""WITH $dsirScoreCtes, pri AS (
         |  SELECT doc_id, lang, n_feats, bits, bits_per_1k,
         |    bits_per_1k + 16001.0 AS w_lin,
         |    (bits_per_1k + 16001.0) / ${ops.Sampling.hashUnitSql("doc_id", 11)} AS pri
         |  FROM scored
         |)
         |SELECT doc_id, lang, n_feats, bits, bits_per_1k, w_lin, pri FROM pri
         |ORDER BY pri DESC, doc_id LIMIT 25""".stripMargin,

    // The Gopher battery restated metric by metric: every count is a
    // regexp_extract_all length over the same RE2/Java-identical pattern,
    // ratios are the same guarded IEEE divisions, and the pass flag is the
    // same inclusive-bounds conjunction.
    "text_gopher_rules" -> {
      val stopHits = ops.TextAnalysis.gopherStopwords.map(w =>
        s"(CASE WHEN regexp_matches(text, '(?i)\\b$w\\b') THEN 1 ELSE 0 END)")
        .mkString(" + ")
      s"""WITH m AS (
         |  SELECT doc_id,
         |    (CASE WHEN len(trim(text)) = 0 THEN 0
         |          ELSE len(regexp_split_to_array(trim(text), '\\s+')) END)::BIGINT
         |      AS word_count,
         |    len(regexp_extract_all(text, '\\S'))::BIGINT AS nsp,
         |    (len(regexp_extract_all(text, '#'))
         |      + len(regexp_extract_all(text, '\\.\\.\\.|…')))::BIGINT AS sym,
         |    len(regexp_extract_all(text, '\\S*[A-Za-z]\\S*'))::BIGINT AS alpha_words,
         |    len(regexp_extract_all(text, '(?m)^[ \\t]*[-*•]'))::BIGINT AS bullet_lines,
         |    len(regexp_extract_all(text, '(?m)(\\.\\.\\.|…)[ \\t]*$$'))::BIGINT AS ellipsis_lines,
         |    (len(regexp_extract_all(text, chr(10))) + 1)::BIGINT AS n_lines,
         |    ($stopHits)::BIGINT AS stopword_hits
         |  FROM documents
         |), r AS (
         |  SELECT doc_id, word_count,
         |    CASE WHEN word_count = 0 THEN 0.0 ELSE nsp::DOUBLE / word_count END AS mean_word_len,
         |    CASE WHEN word_count = 0 THEN 0.0 ELSE sym::DOUBLE / word_count END AS symbol_word_ratio,
         |    CASE WHEN word_count = 0 THEN 0.0 ELSE alpha_words::DOUBLE / word_count END AS alpha_word_frac,
         |    bullet_lines::DOUBLE / n_lines AS bullet_line_frac,
         |    ellipsis_lines::DOUBLE / n_lines AS ellipsis_line_frac,
         |    stopword_hits
         |  FROM m
         |)
         |SELECT doc_id, word_count, mean_word_len, symbol_word_ratio,
         |  alpha_word_frac, bullet_line_frac, ellipsis_line_frac, stopword_hits,
         |  (word_count BETWEEN 50 AND 100000
         |    AND mean_word_len BETWEEN 3.0 AND 10.0
         |    AND symbol_word_ratio <= 0.1
         |    AND alpha_word_frac >= 0.8
         |    AND bullet_line_frac <= 0.9
         |    AND ellipsis_line_frac <= 0.3
         |    AND stopword_hits >= 2) AS gopher_pass
         |FROM r ORDER BY doc_id""".stripMargin
    },

    // The normalization contract restated: DuckDB's nfc_normalize over the
    // same control-stripped text (identical Unicode canonical composition
    // for assigned codepoints).
    "text_normalize" ->
      s"""SELECT doc_id,
         |  nfc_normalize(regexp_replace(text,
         |    '[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]', '', 'g')) AS norm_text,
         |  length(nfc_normalize(regexp_replace(text,
         |    '[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]', '', 'g')))::BIGINT AS norm_chars,
         |  (nfc_normalize(regexp_replace(text,
         |    '[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]', '', 'g')) = text) AS unchanged
         |FROM documents ORDER BY doc_id""".stripMargin,

    // Segment dedup restated verbatim: same analyzer tokens, same 1-based
    // inclusive span slicing (both engines truncate the last span), same
    // ordered reassembly (string_agg ORDER BY ≡ array_sort(collect_list)).
    // All-spans-dropped documents keep an empty-text row on both sides.
    "dedup_repeated_segments" ->
      s"""WITH t AS (SELECT doc_id, $duckToks AS toks FROM documents),
         |seg AS (
         |  SELECT doc_id, i - 1 AS seg_idx,
         |    array_to_string(toks[(i - 1) * 8 + 1 : i * 8], ' ') AS seg
         |  FROM t, unnest(generate_series(1, (len(toks) + 7) // 8)) AS u(i)
         |  WHERE len(toks) > 0
         |), over_rep AS (
         |  SELECT seg FROM seg GROUP BY seg HAVING count(*) > 1
         |)
         |SELECT s.doc_id, count(o.seg) AS n_dropped,
         |  count(*) - count(o.seg) AS n_kept,
         |  coalesce(string_agg(CASE WHEN o.seg IS NULL THEN s.seg END,
         |    ' ' ORDER BY s.seg_idx), '') AS text
         |FROM seg s LEFT JOIN over_rep o ON s.seg = o.seg
         |GROUP BY s.doc_id ORDER BY s.doc_id""".stripMargin,

    // The sliding-gram postings, the duplicated set, the coverage
    // explode, and the ordered reassembly — all restated; md5 is the
    // portable gram fingerprint on both engines.
    "dedup_duplicate_spans" ->
      s"""WITH t AS (SELECT doc_id, $duckToks AS toks FROM documents),
         |tok AS (
         |  SELECT doc_id, i AS tp, toks[i] AS tok
         |  FROM t, unnest(generate_series(1, len(toks))) u(i)
         |  WHERE len(toks) > 0
         |), grams AS (
         |  SELECT doc_id, i AS pos,
         |    md5(array_to_string(toks[i : i + 7], ' ')) AS g
         |  FROM t, unnest(generate_series(1, len(toks) - 7)) u(i)
         |  WHERE len(toks) >= 8
         |), dup AS (
         |  SELECT g FROM grams GROUP BY g HAVING count(*) > 1
         |), covered AS (
         |  SELECT DISTINCT grams.doc_id, pos + j AS tp
         |  FROM grams JOIN dup USING (g),
         |    unnest(generate_series(0, 7)) v(j)
         |)
         |SELECT tok.doc_id, count(*) AS n_tokens,
         |  count(covered.tp) AS n_removed,
         |  coalesce(string_agg(CASE WHEN covered.tp IS NULL THEN tok.tok END,
         |    ' ' ORDER BY tok.tp), '') AS text
         |FROM tok LEFT JOIN covered
         |  ON tok.doc_id = covered.doc_id AND tok.tp = covered.tp
         |GROUP BY tok.doc_id ORDER BY tok.doc_id""".stripMargin,

    // The full chain restated: survivors (rn=1 per normalized content),
    // spans over the SURVIVORS only, the token floor, the per-source
    // accounting.
    "pipeline_spans" ->
      s"""WITH surv AS (
         |  SELECT doc_id, text, source FROM (
         |    SELECT doc_id, text, source,
         |      row_number() OVER (PARTITION BY $duckNorm ORDER BY doc_id) AS rn
         |    FROM documents
         |  ) WHERE rn = 1
         |), t AS (SELECT doc_id, source, $duckToks AS toks FROM surv),
         |tok AS (
         |  SELECT doc_id, i AS tp
         |  FROM t, unnest(generate_series(1, len(toks))) u(i)
         |  WHERE len(toks) > 0
         |), grams AS (
         |  SELECT doc_id, i AS pos,
         |    md5(array_to_string(toks[i : i + 7], ' ')) AS g
         |  FROM t, unnest(generate_series(1, len(toks) - 7)) u(i)
         |  WHERE len(toks) >= 8
         |), dup AS (
         |  SELECT g FROM grams GROUP BY g HAVING count(*) > 1
         |), covered AS (
         |  SELECT DISTINCT grams.doc_id, pos + j AS tp
         |  FROM grams JOIN dup USING (g), unnest(generate_series(0, 7)) v(j)
         |), per_doc AS (
         |  SELECT tok.doc_id, count(*) AS n_tokens, count(covered.tp) AS n_removed
         |  FROM tok LEFT JOIN covered
         |    ON tok.doc_id = covered.doc_id AND tok.tp = covered.tp
         |  GROUP BY tok.doc_id
         |)
         |SELECT t.source, count(*)::BIGINT AS docs,
         |  sum(p.n_tokens - p.n_removed)::BIGINT AS tokens_kept,
         |  sum(p.n_removed)::BIGINT AS tokens_cut
         |FROM per_doc p JOIN t ON p.doc_id = t.doc_id
         |WHERE p.n_tokens - p.n_removed >= 10
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    // The whole-corpus restatement restricted to the arriving half: the
    // duplicated set still comes from ALL documents (that is the point),
    // only the tokens/coverage narrow to odd ids.
    "dedup_duplicate_spans_incremental" ->
      s"""WITH t AS (SELECT doc_id, $duckToks AS toks FROM documents),
         |tok AS (
         |  SELECT doc_id, i AS tp, toks[i] AS tok
         |  FROM t, unnest(generate_series(1, len(toks))) u(i)
         |  WHERE len(toks) > 0 AND (doc_id % 2) = 1
         |), grams AS (
         |  SELECT doc_id, i AS pos,
         |    md5(array_to_string(toks[i : i + 7], ' ')) AS g
         |  FROM t, unnest(generate_series(1, len(toks) - 7)) u(i)
         |  WHERE len(toks) >= 8
         |), dup AS (
         |  SELECT g FROM grams GROUP BY g HAVING count(*) > 1
         |), covered AS (
         |  SELECT DISTINCT grams.doc_id, pos + j AS tp
         |  FROM grams JOIN dup USING (g),
         |    unnest(generate_series(0, 7)) v(j)
         |  WHERE (grams.doc_id % 2) = 1
         |)
         |SELECT tok.doc_id, count(*) AS n_tokens,
         |  count(covered.tp) AS n_removed,
         |  coalesce(string_agg(CASE WHEN covered.tp IS NULL THEN tok.tok END,
         |    ' ' ORDER BY tok.tp), '') AS text
         |FROM tok LEFT JOIN covered
         |  ON tok.doc_id = covered.doc_id AND tok.tp = covered.tp
         |GROUP BY tok.doc_id ORDER BY tok.doc_id""".stripMargin,

    // Boilerplate restated on gram STRINGS where the engine counts distinct
    // gram HASHES — identical counts because per-doc grams are distinct by
    // construction on both sides (xxhash64 collisions aside, the same
    // warrant every ngram oracle here carries). The df threshold and the
    // ratio are the same IEEE arithmetic in both engines.
    "text_boilerplate" ->
      s"""WITH t AS (SELECT doc_id, $duckToks AS toks FROM documents),
         |g AS (
         |  SELECT doc_id, unnest(list_distinct(list_transform(
         |    generate_series(1, len(toks) - 2),
         |    i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2]))) AS gram
         |  FROM t WHERE len(toks) >= 3
         |), freq AS (
         |  SELECT gram FROM g GROUP BY gram
         |  HAVING count(*) >= ceil((SELECT count(*) FROM documents) * 0.01)
         |)
         |SELECT g.doc_id, count(*) AS n_grams, count(f.gram) AS n_boilerplate,
         |  count(f.gram)::DOUBLE / count(*) AS boilerplate_ratio
         |FROM g LEFT JOIN freq f ON g.gram = f.gram
         |GROUP BY g.doc_id ORDER BY g.doc_id""".stripMargin,

    // The streamed-increment path restated from scratch: df counts over
    // the doc_id%3<>0 corpus (the replayed epoch contributes nothing — the
    // engine's per-(gram, epoch) dedup must make it invisible), the same
    // corpus-fraction line, scores over the held-out doc_id%3=0 batch.
    "text_boilerplate_stream" ->
      s"""WITH corpus AS (SELECT doc_id, text FROM documents WHERE doc_id % 3 <> 0),
         |newb AS (SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0),
         |cg AS (
         |  SELECT doc_id, unnest(list_distinct(list_transform(
         |    generate_series(1, len(toks) - 2),
         |    i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2]))) AS gram
         |  FROM (SELECT doc_id, $duckToks AS toks FROM corpus) WHERE len(toks) >= 3
         |), freq AS (
         |  SELECT gram FROM cg GROUP BY gram
         |  HAVING count(*) >= ceil((SELECT count(*) FROM corpus) * 0.01)
         |), ng AS (
         |  SELECT doc_id, unnest(list_distinct(list_transform(
         |    generate_series(1, len(toks) - 2),
         |    i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2]))) AS gram
         |  FROM (SELECT doc_id, $duckToks AS toks FROM newb) WHERE len(toks) >= 3
         |)
         |SELECT n.doc_id, count(*) AS n_grams, count(f.gram) AS n_boilerplate,
         |  count(f.gram)::DOUBLE / count(*) AS boilerplate_ratio
         |FROM ng n LEFT JOIN freq f ON n.gram = f.gram
         |GROUP BY n.doc_id ORDER BY n.doc_id""".stripMargin,

    "text_boilerplate_filter" ->
      s"""WITH t AS (SELECT doc_id, $duckToks AS toks FROM documents),
         |g AS (
         |  SELECT doc_id, unnest(list_distinct(list_transform(
         |    generate_series(1, len(toks) - 2),
         |    i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2]))) AS gram
         |  FROM t WHERE len(toks) >= 3
         |), freq AS (
         |  SELECT gram FROM g GROUP BY gram
         |  HAVING count(*) >= ceil((SELECT count(*) FROM documents) * 0.01)
         |), p AS (
         |  SELECT g.doc_id, count(f.gram)::DOUBLE / count(*) AS ratio
         |  FROM g LEFT JOIN freq f ON g.gram = f.gram GROUP BY g.doc_id
         |)
         |SELECT source, count(*) AS n_kept FROM documents d
         |WHERE NOT EXISTS (
         |  SELECT 1 FROM p WHERE p.doc_id = d.doc_id AND p.ratio > 0.35)
         |GROUP BY source ORDER BY source""".stripMargin,

    // Repetition signals restated by a genuinely different algorithm: the
    // engine runs a row-local sort+run-scan kernel; the oracle explodes
    // grams and aggregates per (doc, gram). Tie-break for the top gram
    // (count DESC, chars DESC, gram ASC in binary collation) matches the
    // kernel's documented pick exactly; every fraction is one DOUBLE
    // division of exact BIGINTs.
    "text_repetition" ->
      s"""WITH t AS (
         |  SELECT doc_id, text, $duckToks AS toks,
         |    len(regexp_extract_all(lower(text), '[a-z0-9]'))::BIGINT AS alnum
         |  FROM documents
         |), g2 AS (
         |  SELECT doc_id, unnest(list_transform(generate_series(1, len(toks) - 1),
         |    i -> array_to_string(toks[i:i+1], ' '))) AS gram
         |  FROM t WHERE len(toks) >= 2
         |), c2 AS (
         |  SELECT doc_id, gram, count(*)::BIGINT AS cnt, (len(gram) - 1)::BIGINT AS chars
         |  FROM g2 GROUP BY doc_id, gram
         |), top2 AS (
         |  SELECT doc_id, cnt * chars AS mass FROM (
         |    SELECT *, row_number() OVER (PARTITION BY doc_id
         |      ORDER BY cnt DESC, chars DESC, gram ASC) AS rn FROM c2
         |  ) WHERE rn = 1
         |), g3 AS (
         |  SELECT doc_id, unnest(list_transform(generate_series(1, len(toks) - 2),
         |    i -> array_to_string(toks[i:i+2], ' '))) AS gram
         |  FROM t WHERE len(toks) >= 3
         |), c3 AS (
         |  SELECT doc_id, gram, count(*)::BIGINT AS cnt, (len(gram) - 2)::BIGINT AS chars
         |  FROM g3 GROUP BY doc_id, gram
         |), top3 AS (
         |  SELECT doc_id, cnt * chars AS mass FROM (
         |    SELECT *, row_number() OVER (PARTITION BY doc_id
         |      ORDER BY cnt DESC, chars DESC, gram ASC) AS rn FROM c3
         |  ) WHERE rn = 1
         |), g5 AS (
         |  SELECT doc_id, unnest(list_transform(generate_series(1, len(toks) - 4),
         |    i -> array_to_string(toks[i:i+4], ' '))) AS gram
         |  FROM t WHERE len(toks) >= 5
         |), c5 AS (
         |  SELECT doc_id, gram, count(*)::BIGINT AS cnt, (len(gram) - 4)::BIGINT AS chars
         |  FROM g5 GROUP BY doc_id, gram
         |), dup5 AS (
         |  SELECT doc_id, sum(CASE WHEN cnt > 1 THEN cnt * chars ELSE 0 END)::BIGINT AS mass
         |  FROM c5 GROUP BY doc_id
         |), lg AS (
         |  SELECT doc_id, unnest(list_filter(
         |    list_transform(str_split(text, chr(10)),
         |      x -> trim(x, ' ' || chr(9) || chr(13))), x -> x <> '')) AS line
         |  FROM t
         |), cl AS (
         |  SELECT doc_id, line, count(*)::BIGINT AS cnt, len(line)::BIGINT AS chars
         |  FROM lg GROUP BY doc_id, line
         |), ln AS (
         |  SELECT doc_id, sum(cnt)::BIGINT AS total, sum(cnt * chars)::BIGINT AS total_chars,
         |    sum(CASE WHEN cnt > 1 THEN cnt ELSE 0 END)::BIGINT AS dup_occ,
         |    sum(CASE WHEN cnt > 1 THEN cnt * chars ELSE 0 END)::BIGINT AS dup_chars
         |  FROM cl GROUP BY doc_id
         |)
         |SELECT t.doc_id,
         |  CASE WHEN t.alnum = 0 OR top2.mass IS NULL THEN 0.0
         |       ELSE top2.mass::DOUBLE / t.alnum::DOUBLE END AS top2gram_char_frac,
         |  CASE WHEN t.alnum = 0 OR top3.mass IS NULL THEN 0.0
         |       ELSE top3.mass::DOUBLE / t.alnum::DOUBLE END AS top3gram_char_frac,
         |  CASE WHEN t.alnum = 0 OR dup5.mass IS NULL THEN 0.0
         |       ELSE dup5.mass::DOUBLE / t.alnum::DOUBLE END AS dup5gram_char_frac,
         |  CASE WHEN ln.total IS NULL OR ln.total = 0 THEN 0.0
         |       ELSE ln.dup_occ::DOUBLE / ln.total::DOUBLE END AS dup_line_frac,
         |  CASE WHEN ln.total_chars IS NULL OR ln.total_chars = 0 THEN 0.0
         |       ELSE ln.dup_chars::DOUBLE / ln.total_chars::DOUBLE END AS dup_line_char_frac
         |FROM t
         |LEFT JOIN top2 USING (doc_id)
         |LEFT JOIN top3 USING (doc_id)
         |LEFT JOIN dup5 USING (doc_id)
         |LEFT JOIN ln USING (doc_id)
         |ORDER BY t.doc_id""".stripMargin,

    // N-of-M restated: the same analyzed-containment clauses as integer
    // CASE sums against the same threshold.
    "q_min_should_match" -> {
      import graft.expr.TextMatch.containsTokenSql
      def c(t: String) = s"(CASE WHEN ${containsTokenSql("text", t)} THEN 1 ELSE 0 END)"
      s"""SELECT doc_id, lang FROM documents
         |WHERE ${c("dup")} + ${c("merge")} + ${c("vector")} >= 2
         |ORDER BY doc_id""".stripMargin
    },

    // msm spec grammar restated at its RESOLVED integer: -25% of 4
    // clauses = threshold 3 (the resolution itself is pinned in
    // QueryStringSpec against the ES documentation's own examples).
    "q_msm_percent" -> {
      import graft.expr.TextMatch.containsTokenSql
      def c(t: String) = s"(CASE WHEN ${containsTokenSql("text", t)} THEN 1 ELSE 0 END)"
      s"""SELECT doc_id, lang FROM documents
         |WHERE ${c("dup")} + ${c("merge")} + ${c("vector")} + ${c("scan")} >= 3
         |ORDER BY doc_id""".stripMargin
    },

    // msm chain restated: the chain `2<-25% 4<60%` over 5 clauses folds
    // (largest k below n, then ⌊5·0.60⌋) to the integer 3 — the oracle
    // carries the folded bound over the same whole-token counts.
    "q_msm_chain" -> {
      import graft.expr.TextMatch.containsTokenSql
      def c(t: String) = s"(CASE WHEN ${containsTokenSql("text", t)} THEN 1 ELSE 0 END)"
      s"""SELECT doc_id, lang FROM documents
         |WHERE ${c("dup")} + ${c("merge")} + ${c("vector")} + ${c("scan")}
         |  + ${c("data")} >= 3
         |ORDER BY doc_id""".stripMargin
    },

    // multi_match restated: per-field BM25 runs by the proven scored
    // restatement, combined by greatest (best_fields) with absent fields 0.
    "search_multi_match_best" -> {
      val s0 = graft.query.Bm25.oracleSqlScored("documents", "doc_id", "text", "src1 spark")
      val s1 = graft.query.Bm25.oracleSqlScored("documents", "doc_id", "source", "src1 spark")
      s"""WITH s0 AS (
         |$s0
         |), s1 AS (
         |$s1
         |)
         |SELECT doc_id,
         |  greatest(coalesce(s0.score, 0.0), coalesce(s1.score, 0.0)) AS score
         |FROM s0 FULL OUTER JOIN s1 USING (doc_id)
         |ORDER BY score DESC, doc_id ASC LIMIT 20""".stripMargin
    },

    // ... and by their sum (most_fields).
    "search_multi_match_most" -> {
      val s0 = graft.query.Bm25.oracleSqlScored("documents", "doc_id", "text", "src1 spark")
      val s1 = graft.query.Bm25.oracleSqlScored("documents", "doc_id", "source", "src1 spark")
      s"""WITH s0 AS (
         |$s0
         |), s1 AS (
         |$s1
         |)
         |SELECT doc_id,
         |  coalesce(s0.score, 0.0) + coalesce(s1.score, 0.0) AS score
         |FROM s0 FULL OUTER JOIN s1 USING (doc_id)
         |ORDER BY score DESC, doc_id ASC LIMIT 20""".stripMargin
    },

    // combined_fields restated: the SAME concatenation expression through
    // the proven scored restatement - one stats set over the pooled field.
    "search_combined_fields" -> graft.query.Bm25.oracleSql(
      "documents", "doc_id",
      "concat_ws(' ', coalesce(text, ''), coalesce(source, ''))",
      "src1 spark", 20),

    // dis_max restated: greatest + tb*(sum - greatest) over the same
    // per-field scored runs.
    "search_multi_match_dismax" -> {
      val s0 = graft.query.Bm25.oracleSqlScored("documents", "doc_id", "text", "src1 spark")
      val s1 = graft.query.Bm25.oracleSqlScored("documents", "doc_id", "source", "src1 spark")
      s"""WITH s0 AS (
         |$s0
         |), s1 AS (
         |$s1
         |), j AS (
         |  SELECT doc_id, coalesce(s0.score, 0.0) AS a, coalesce(s1.score, 0.0) AS b
         |  FROM s0 FULL OUTER JOIN s1 USING (doc_id)
         |)
         |SELECT doc_id,
         |  greatest(a, b) + 0.3 * ((a + b) - greatest(a, b)) AS score
         |FROM j
         |ORDER BY score DESC, doc_id ASC LIMIT 20""".stripMargin
    },

    // cross_fields restated: blended (greatest) DF per term, per-field
    // TF-normalization, per-term dis_max, left-folded term sum — the
    // generator mirrors the engine's float tree operator-for-operator.
    "search_cross_fields" -> graft.query.Bm25.oracleSqlCrossFields(
      "part", "p_partkey", Seq("p_name" -> 1.0, "p_type" -> 1.0),
      "small bolt", 20),

    "search_cross_fields_boosted" -> graft.query.Bm25.oracleSqlCrossFields(
      "part", "p_partkey", Seq("p_name" -> 2.0, "p_type" -> 1.0),
      "small bolt", 20, tieBreaker = 0.3),

    // more_like_this restated END-TO-END in SQL: the oracle re-runs the
    // term SELECTION itself (like-text tf gates, corpus df via an
    // unnest-distinct join, classic-idf ranking with term tie-break),
    // then the match-set / BM25 halves over ITS selection — a selection
    // disagreement surfaces as a hash mismatch.
    "q_mlt_terms" -> graft.query.MoreLikeThis.oracleSqlLikeTextTerms(
      "documents", "doc_id", "text", mltLikeText, mltParams),

    "q_more_like_this" -> graft.query.MoreLikeThis.oracleSqlLikeTextMatchSet(
      "documents", "doc_id", "text", mltLikeText, mltParams),

    "q_more_like_this_scored" -> graft.query.MoreLikeThis.oracleSqlLikeTextTopK(
      "documents", "doc_id", "text", mltLikeText, k = 15, mltParams),

    // terms_set restated: the same CASE sum against the same derived
    // per-row threshold.
    "q_terms_set" -> {
      import graft.expr.TextMatch.containsTokenSql
      def c(t: String) = s"(CASE WHEN ${containsTokenSql("text", t)} THEN 1 ELSE 0 END)"
      s"""SELECT req_terms, count(*) AS n FROM (
         |  SELECT (doc_id % 3 + 1)::INT AS req_terms,
         |    ${c("dup")} + ${c("merge")} + ${c("vector")} + ${c("scan")} AS hits
         |  FROM documents)
         |WHERE hits >= req_terms
         |GROUP BY req_terms ORDER BY req_terms""".stripMargin
    },

    // function_score restated with the engine's precomputed divisor
    // (s = scale/(1−decay) = 400.0) and the identical operator tree;
    // log1p(x) ≡ ln(1+x) well past 9 decimals at x ≥ 48.
    "q_function_score" ->
      s"""SELECT doc_id, score FROM (
         |  SELECT doc_id,
         |    greatest(0.0, (400.0 - greatest(0.0, abs(n_chars::DOUBLE - 400.0) - 0.0))
         |      / 400.0)
         |    * (0.1 * ln(1 + coalesce(n_chars::DOUBLE, 0.0))) AS score
         |  FROM documents)
         |WHERE score > 0 ORDER BY score DESC, doc_id ASC LIMIT 30""".stripMargin,

    // The combine-mode surface restated: per-function (match, weight·value)
    // columns once in a CTE, then each score column replays the engine's
    // exact fold — sum with the 4.0 max_boost cap under multiply, the
    // first-match cascade under max, the weighted average under sum. The
    // decay function is unfiltered so every doc matches ≥1 function (the
    // no-match→1 branch is constant-false and drops out of the oracle).
    "q_function_score_modes" ->
      s"""WITH f AS (
         |  SELECT doc_id,
         |    0.01 * sqrt(coalesce(n_chars::DOUBLE, 0.0)) AS q,
         |    2.0 * greatest(0.0, (400.0 - greatest(0.0, abs(n_chars::DOUBLE - 400.0) - 0.0))
         |      / 400.0) AS v1,
         |    (lang = 'en') AS m2,
         |    (doc_id % 2 = 0) AS m3,
         |    1.0 * (0.5 * ln(1 + coalesce(doc_id::DOUBLE, 0.0))) AS v3
         |  FROM documents
         |)
         |SELECT doc_id,
         |  q * least(v1 + (CASE WHEN m2 THEN 3.0 ELSE 0.0 END)
         |    + (CASE WHEN m3 THEN v3 ELSE 0.0 END), 4.0) AS score_sum,
         |  greatest(q, CASE WHEN m2 THEN 3.0 WHEN m3 THEN v3 ELSE v1 END) AS score_first,
         |  q + ((v1 + (CASE WHEN m2 THEN 3.0 ELSE 0.0 END)
         |    + (CASE WHEN m3 THEN v3 ELSE 0.0 END))
         |    / (2.0 + (CASE WHEN m2 THEN 3.0 ELSE 0.0 END)
         |    + (CASE WHEN m3 THEN 1.0 ELSE 0.0 END))) AS score_avg
         |FROM f
         |ORDER BY score_sum DESC, doc_id ASC LIMIT 40""".stripMargin,

    // Linear fusion restated: the same two runs, each min-max normalized
    // over its own top-50 window (degenerate run → 1.0), weighted 0.7/0.3,
    // absent docs contributing 0.
    "search_linear_fusion" -> {
      val bm = graft.query.Bm25.oracleSql(
        "documents", "doc_id", "text", "spark merge join window", 50)
      s"""WITH bm AS (
         |$bm
         |), bstats AS (SELECT min(score) AS mn, max(score) AS mx FROM bm),
         |bn AS (
         |  SELECT doc_id, 0.7 * (CASE WHEN mx = mn THEN 1.0
         |    ELSE (score - mn) / (mx - mn) END) AS c
         |  FROM bm, bstats
         |), e AS (
         |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
         |), q AS (
         |  SELECT * FROM e WHERE vec_id = 0
         |), scored AS (
         |  SELECT e.vec_id AS doc_id,
         |    list_inner_product(e.v, q.v)
         |      / (sqrt(list_inner_product(e.v, e.v)) * sqrt(list_inner_product(q.v, q.v))) AS cos
         |  FROM e, q WHERE e.vec_id <> q.vec_id
         |), vr AS (
         |  SELECT doc_id, cos AS score FROM (
         |    SELECT doc_id, cos, row_number() OVER (ORDER BY cos DESC, doc_id ASC) AS rank
         |    FROM scored
         |  ) WHERE rank <= 50
         |), vstats AS (SELECT min(score) AS mn, max(score) AS mx FROM vr),
         |vn AS (
         |  SELECT doc_id, 0.3 * (CASE WHEN mx = mn THEN 1.0
         |    ELSE (score - mn) / (mx - mn) END) AS c
         |  FROM vr, vstats
         |)
         |SELECT doc_id, coalesce(bn.c, 0.0) + coalesce(vn.c, 0.0) AS fused_score
         |FROM bn FULL OUTER JOIN vn USING (doc_id)
         |ORDER BY fused_score DESC, doc_id ASC LIMIT 20""".stripMargin
    },

    // Pinned restated: three literal curated rows ranked 1..3, the organic
    // top-20 anti-filtered and shifted by 3.
    // Pinned restated with the existence contract: the curated VALUES
    // list semi-joins the corpus (the stale id 10000000 drops out),
    // survivors re-rank in curated order, organic ranks offset by the
    // SURVIVING pin count.
    "search_pinned" -> {
      val bm = graft.query.Bm25.oracleSql(
        "documents", "doc_id", "text", "spark merge join window", 20)
      s"""WITH bm AS (
         |$bm
         |), pins AS (
         |  SELECT doc_id, pin_order FROM (VALUES
         |    (400::BIGINT, 1), (10000000::BIGINT, 2), (7::BIGINT, 3),
         |    (123::BIGINT, 4)) AS t(doc_id, pin_order)
         |  WHERE doc_id IN (SELECT doc_id FROM documents)
         |), pr AS (
         |  SELECT doc_id, row_number() OVER (ORDER BY pin_order) AS rank,
         |    true AS pinned
         |  FROM pins
         |), org AS (
         |  SELECT doc_id,
         |    row_number() OVER (ORDER BY score DESC, doc_id ASC)
         |      + (SELECT count(*) FROM pins) AS rank,
         |    false AS pinned
         |  FROM bm WHERE doc_id NOT IN (400, 10000000, 7, 123)
         |)
         |SELECT doc_id, rank, pinned FROM (
         |  SELECT doc_id, rank, pinned FROM pr
         |  UNION ALL SELECT doc_id, rank, pinned FROM org)
         |ORDER BY rank LIMIT 10""".stripMargin
    },

    // Rescore restated: primary ranks, the top-10 window recombined with
    // the phrase boost at weight 2, the tail below it untouched.
    "search_rescore" -> {
      import graft.expr.TextMatch.containsTokenSql
      val bm = graft.query.Bm25.oracleSql(
        "documents", "doc_id", "text", "spark merge join window", 30)
      s"""WITH bm AS (
         |$bm
         |), pr AS (
         |  SELECT doc_id, score,
         |    row_number() OVER (ORDER BY score DESC, doc_id ASC) AS prank
         |  FROM bm
         |), win AS (
         |  SELECT p.doc_id,
         |    1.0 * p.score + 2.0 * (CASE WHEN ${containsTokenSql("d.text", "big vector")}
         |      THEN 1.0 ELSE 0.0 END) AS score,
         |    0 AS tier
         |  FROM pr p JOIN documents d ON d.doc_id = p.doc_id
         |  WHERE p.prank <= 10
         |), tl AS (
         |  SELECT doc_id, score, 1 AS tier FROM pr WHERE prank > 10
         |)
         |SELECT doc_id,
         |  row_number() OVER (ORDER BY tier ASC, score DESC, doc_id ASC) AS rank,
         |  score
         |FROM (SELECT * FROM win UNION ALL SELECT * FROM tl)
         |ORDER BY rank""".stripMargin
    },

    // The fingerprint analyzer restated token for token.
    "text_fingerprint" -> {
      import graft.expr.TextMatch.fingerprintSql
      s"""SELECT doc_id, ${fingerprintSql("text")} AS fingerprint
         |FROM documents ORDER BY doc_id""".stripMargin
    },

    // Both retriever runs restate by their own proven oracle constructions
    // (the BM25 query verbatim, the brute-force cosine ranking shape);
    // fusion adds integer ranks and a two-term sum, order-exact in IEEE.
    "search_hybrid_rrf" -> {
      val bm = graft.query.Bm25.oracleSql(
        "documents", "doc_id", "text", "spark merge join window", 50)
      s"""WITH bm AS (
         |$bm
         |), bmr AS (
         |  SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rank
         |  FROM bm
         |), e AS (
         |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
         |), q AS (
         |  SELECT * FROM e WHERE vec_id = 0
         |), scored AS (
         |  SELECT e.vec_id AS doc_id,
         |    list_inner_product(e.v, q.v)
         |      / (sqrt(list_inner_product(e.v, e.v)) * sqrt(list_inner_product(q.v, q.v))) AS cos
         |  FROM e, q WHERE e.vec_id <> q.vec_id
         |), vr AS (
         |  SELECT doc_id, rank FROM (
         |    SELECT doc_id, row_number() OVER (ORDER BY cos DESC, doc_id ASC) AS rank
         |    FROM scored
         |  ) WHERE rank <= 50
         |), c0 AS (SELECT doc_id, 1.0 / (60.0 + rank) AS c FROM bmr),
         |c1 AS (SELECT doc_id, 1.0 / (60.0 + rank) AS c FROM vr)
         |SELECT doc_id, coalesce(c0.c, 0.0) + coalesce(c1.c, 0.0) AS rrf_score
         |FROM c0 FULL OUTER JOIN c1 USING (doc_id)
         |ORDER BY rrf_score DESC, doc_id ASC LIMIT 20""".stripMargin
    },

    // the retriever tree's rrf restated: the standard leaf is the proven
    // BM25 CTE, the knn leaf the op-for-op cosine against the dyadic
    // literal vector, rrf the two-term reciprocal sum
    "q_retriever_rrf" -> {
      val bm = graft.query.Bm25.oracleSql(
        "documents", "doc_id", "text", "spark merge join window", 50)
      val qLit = s"CAST(${knnQueryVec.mkString("[", ", ", "]")} AS DOUBLE[])"
      s"""WITH bm AS (
         |$bm
         |), bmr AS (
         |  SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rank
         |  FROM bm
         |), e AS (
         |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
         |), kn AS (
         |  SELECT vec_id AS doc_id,
         |    list_inner_product(v, $qLit)
         |      / (sqrt(list_inner_product(v, v)) * sqrt(list_inner_product($qLit, $qLit))) AS score
         |  FROM e
         |), knr AS (
         |  SELECT doc_id, rank FROM (
         |    SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rank
         |    FROM kn
         |  ) WHERE rank <= 50
         |), c0 AS (SELECT doc_id, 1.0 / (60.0 + rank) AS c FROM bmr),
         |c1 AS (SELECT doc_id, 1.0 / (60.0 + rank) AS c FROM knr),
         |f AS (
         |  SELECT doc_id, coalesce(c0.c, 0.0) + coalesce(c1.c, 0.0) AS score
         |  FROM c0 FULL OUTER JOIN c1 USING (doc_id)
         |  ORDER BY score DESC, doc_id ASC LIMIT 20
         |)
         |SELECT doc_id,
         |  row_number() OVER (ORDER BY score DESC, doc_id ASC)::INT AS rank, score
         |FROM f ORDER BY rank""".stripMargin
    },

    // the nested tree: linear's min-max windows over (a) the BM25 leaf
    // and (b) the WHOLE rrf subtree above — recursion as CTE composition
    "q_retriever_linear_nested" -> {
      val bm1 = graft.query.Bm25.oracleSql(
        "documents", "doc_id", "text", "dup vector scan", 30)
      val bm2 = graft.query.Bm25.oracleSql(
        "documents", "doc_id", "text", "spark merge join window", 50)
      val qLit = s"CAST(${knnQueryVec.mkString("[", ", ", "]")} AS DOUBLE[])"
      s"""WITH s1 AS (
         |$bm1
         |), bm2 AS (
         |$bm2
         |), bmr AS (
         |  SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rank
         |  FROM bm2
         |), e AS (
         |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
         |), kn AS (
         |  SELECT vec_id AS doc_id,
         |    list_inner_product(v, $qLit)
         |      / (sqrt(list_inner_product(v, v)) * sqrt(list_inner_product($qLit, $qLit))) AS score
         |  FROM e
         |), knr AS (
         |  SELECT doc_id, rank FROM (
         |    SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rank
         |    FROM kn
         |  ) WHERE rank <= 50
         |), c0 AS (SELECT doc_id, 1.0 / (60.0 + rank) AS c FROM bmr),
         |c1 AS (SELECT doc_id, 1.0 / (60.0 + rank) AS c FROM knr),
         |s2 AS (
         |  SELECT doc_id, coalesce(c0.c, 0.0) + coalesce(c1.c, 0.0) AS score
         |  FROM c0 FULL OUTER JOIN c1 USING (doc_id)
         |  ORDER BY score DESC, doc_id ASC LIMIT 25
         |), st1 AS (SELECT min(score) AS mn, max(score) AS mx FROM s1),
         |st2 AS (SELECT min(score) AS mn, max(score) AS mx FROM s2),
         |n0 AS (
         |  SELECT doc_id,
         |    0.7 * CASE WHEN st1.mx = st1.mn THEN 1.0
         |               ELSE (s1.score - st1.mn) / (st1.mx - st1.mn) END AS c
         |  FROM s1, st1
         |), n1 AS (
         |  SELECT doc_id,
         |    0.3 * CASE WHEN st2.mx = st2.mn THEN 1.0
         |               ELSE (s2.score - st2.mn) / (st2.mx - st2.mn) END AS c
         |  FROM s2, st2
         |), f AS (
         |  SELECT doc_id, coalesce(n0.c, 0.0) + coalesce(n1.c, 0.0) AS score
         |  FROM n0 FULL OUTER JOIN n1 USING (doc_id)
         |  ORDER BY score DESC, doc_id ASC LIMIT 15
         |)
         |SELECT doc_id,
         |  row_number() OVER (ORDER BY score DESC, doc_id ASC)::INT AS rank, score
         |FROM f ORDER BY rank""".stripMargin
    },

    // FIM restated: the same seeded unit hashes decide the gate and the
    // sorted cut pair; 1-indexed substr slices are identical both engines.
    "pipeline_fim" -> {
      import graft.ops.Sampling.hashUnitSql
      s"""WITH cuts AS (
         |  SELECT doc_id, text, length(text) AS n,
         |    ${hashUnitSql("doc_id", 42)} AS u0,
         |    floor(${hashUnitSql("doc_id", 43)} * length(text))::INT AS c1,
         |    floor(${hashUnitSql("doc_id", 44)} * length(text))::INT AS c2
         |  FROM documents
         |), spans AS (
         |  SELECT doc_id, text, n, u0,
         |    least(c1, c2) AS lo, greatest(c1, c2) AS hi
         |  FROM cuts
         |)
         |SELECT doc_id,
         |  (text IS NOT NULL AND u0 < 0.5) AS fim,
         |  CASE WHEN text IS NOT NULL AND u0 < 0.5 THEN
         |    '<PRE>' || substr(text, 1, lo) ||
         |    '<SUF>' || substr(text, hi + 1, n - hi) ||
         |    '<MID>' || substr(text, lo + 1, hi - lo)
         |  ELSE text END AS fim_text
         |FROM spans ORDER BY doc_id""".stripMargin
    },

    // Curriculum keys restated: the CASE-sum stage, the same unit hash
    // pace, a stage-partitioned row_number.
    "pipeline_curriculum" -> {
      import graft.ops.Sampling.hashUnitSql
      s"""WITH s AS (
         |  SELECT doc_id,
         |    (CASE WHEN n_chars::DOUBLE >= 150.0 THEN 1 ELSE 0 END
         |     + CASE WHEN n_chars::DOUBLE >= 300.0 THEN 1 ELSE 0 END) AS stage,
         |    ${hashUnitSql("doc_id", 42)} AS pace
         |  FROM documents
         |), r AS (
         |  SELECT stage, doc_id,
         |    row_number() OVER (PARTITION BY stage ORDER BY pace, doc_id) AS rn
         |  FROM s
         |)
         |SELECT stage, rn, doc_id FROM r WHERE rn <= 5
         |ORDER BY stage, rn""".stripMargin
    },

    // random_score restated: the identical seeded md5 unit hash.
    "q_random_score" -> {
      import graft.ops.Sampling.hashUnitSql
      s"""SELECT doc_id, ${hashUnitSql("doc_id", 7)} AS score
         |FROM documents ORDER BY score ASC, doc_id ASC LIMIT 20""".stripMargin
    },

    // boosting restated: the shared scored CTE, the same whole-token
    // negative probe, the same dyadic CASE multiply.
    "q_boosting" -> {
      val scored = graft.query.Bm25.oracleSqlScored(
        "documents", "doc_id", "text", "dup vector")
      val neg = graft.expr.TextMatch.containsTokenSql("d2.text", "merge")
      s"""WITH s AS (
         |$scored
         |)
         |SELECT s.doc_id,
         |  CASE WHEN $neg THEN s.score * 0.25 ELSE s.score END AS score
         |FROM s JOIN documents d2 ON s.doc_id = d2.doc_id
         |ORDER BY score DESC, s.doc_id ASC LIMIT 15""".stripMargin
    },

    // constant_score restated: the same compiled whole-token filters,
    // the literal.
    "q_constant_score" -> {
      val langEn = graft.expr.TextMatch.containsTokenSql("lang", "en")
      val in = graft.expr.TextMatch.containsTokenSql("text", "vector")
      s"""SELECT doc_id, 1.5 AS score FROM documents
         |WHERE $langEn AND $in
         |ORDER BY doc_id""".stripMargin
    },

    // sparse_vector restated: the same tf postings (token-equality
    // counts over the identical analyzer stream), the same dyadic
    // (term, weight) VALUES list, one join + one sum per doc. The
    // streamed deployment twin shares it VERBATIM (epochs/replay/layout
    // invisible) via sparseVectorOracleSql below the map.
    "search_sparse_vector" -> sparseVectorOracleSql,

    "stream_sparse_vector" -> sparseVectorOracleSql,

    // The compacted lifecycle twin shares it too: the sentinel fold, the
    // staged swap, and the post-compaction re-emit must be invisible.
    "stream_sparse_vector_compacted" -> sparseVectorOracleSql,

    // Token pruning restated end to end: df per term IS the postings row
    // count (one row per (doc, term)), avg df is total rows over distinct
    // terms, and the ES keep rule — NOT (frequent outlier AND
    // insignificant weight) — filters the query VALUES list before the
    // same join + sum. All comparisons are exact (integer dfs, one IEEE
    // division computed identically by both engines); scores stay
    // tf × dyadic.
    "search_sparse_vector_pruned" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
        |  FROM documents
        |), e AS (
        |  SELECT doc_id, u.x AS term FROM t, unnest(toks) AS u(x)
        |), p AS (
        |  SELECT doc_id, term, count(*)::DOUBLE AS weight
        |  FROM e GROUP BY doc_id, term
        |), df AS (
        |  SELECT term, count(*)::DOUBLE AS df FROM p GROUP BY term
        |), a AS (
        |  SELECT count(*)::DOUBLE / count(DISTINCT term) AS avg_df FROM p
        |), q0 AS (
        |  SELECT * FROM (VALUES ('vector', 2.0), ('dup', 0.5),
        |    ('scan', 0.3), ('merge', 0.25)) AS q0(term, qw)
        |), q AS (
        |  SELECT q0.term, q0.qw FROM q0 LEFT JOIN df USING (term), a
        |  WHERE NOT (coalesce(df.df, 0.0) > 1.0 * a.avg_df
        |    AND q0.qw < 0.4 * (SELECT max(qw) FROM q0))
        |)
        |SELECT doc_id,
        |  row_number() OVER (ORDER BY sum(weight * qw) DESC, doc_id ASC) AS rank,
        |  sum(weight * qw) AS score
        |FROM p JOIN q USING (term) GROUP BY doc_id
        |ORDER BY rank LIMIT 15""".stripMargin,

    // The pruning+rescore composition restated: quantized weights, the
    // ES keep rule splitting the query into kept/pruned legs, the cheap
    // leg's ranked run bounded at the rescore page budget (QUALIFY
    // prank ≤ 1000 — the same distributed-top-k cut), the top-10 window
    // totalled with the pruned leg (1.0·x + 1.0·y, IEEE-exact dyadics),
    // the tail keeping primary order.
    "search_sparse_vector_rescored" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
        |  FROM documents
        |), e AS (
        |  SELECT doc_id, u.x AS term FROM t, unnest(toks) AS u(x)
        |), p AS (
        |  SELECT doc_id, term, count(*)::DOUBLE AS weight
        |  FROM e GROUP BY doc_id, term
        |), df AS (
        |  SELECT term, count(*)::DOUBLE AS df FROM p GROUP BY term
        |), a AS (
        |  SELECT count(*)::DOUBLE / count(DISTINCT term) AS avg_df FROM p
        |), q0 AS (
        |  SELECT term, floor(w * 256.0 + 0.5) / 256.0 AS qw
        |  FROM (VALUES ('vector', 2.0), ('dup', 0.5), ('scan', 0.3),
        |    ('merge', 0.25)) AS v(term, w)
        |), mx AS (SELECT max(qw) AS best FROM q0
        |), keep AS (
        |  SELECT q0.term, q0.qw FROM q0 LEFT JOIN df USING (term), a, mx
        |  WHERE NOT (coalesce(df.df, 0.0) > 1.0 * a.avg_df
        |    AND q0.qw < 0.4 * mx.best)
        |), prn AS (
        |  SELECT q0.term, q0.qw FROM q0 LEFT JOIN df USING (term), a, mx
        |  WHERE coalesce(df.df, 0.0) > 1.0 * a.avg_df
        |    AND q0.qw < 0.4 * mx.best
        |), run AS (
        |  SELECT doc_id, sum(weight * qw) AS score
        |  FROM p JOIN keep USING (term) GROUP BY doc_id
        |), bounded AS (
        |  SELECT doc_id, score,
        |    row_number() OVER (ORDER BY score DESC, doc_id ASC) AS prank
        |  FROM run QUALIFY prank <= 1000
        |), sec AS (
        |  SELECT doc_id, sum(weight * qw) AS s2
        |  FROM p JOIN prn USING (term) GROUP BY doc_id
        |), scored AS (
        |  SELECT b.doc_id,
        |    CASE WHEN b.prank <= 10
        |      THEN 1.0 * b.score + 1.0 * coalesce(sec.s2, 0.0)
        |      ELSE b.score END AS score,
        |    CASE WHEN b.prank <= 10 THEN 0 ELSE 1 END AS tier
        |  FROM bounded b LEFT JOIN sec USING (doc_id)
        |)
        |SELECT doc_id,
        |  row_number() OVER (ORDER BY tier ASC, score DESC, doc_id ASC) AS rank,
        |  score
        |FROM scored ORDER BY rank LIMIT 15""".stripMargin,

    // Quantized learned weights restated: the identical
    // floor(w·256 + 0.5)/256 dyadic snap on the same double literals
    // (both engines parse and multiply them identically), then the
    // standard postings join + sum — exact in any fold order.
    "search_sparse_vector_quantized" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
        |  FROM documents
        |), e AS (
        |  SELECT doc_id, u.x AS term FROM t, unnest(toks) AS u(x)
        |), p AS (
        |  SELECT doc_id, term, count(*)::DOUBLE AS weight
        |  FROM e GROUP BY doc_id, term
        |), q AS (
        |  SELECT term, floor(w * 256.0 + 0.5) / 256.0 AS qw
        |  FROM (VALUES ('vector', 1.7), ('dup', 0.9), ('scan', 0.31))
        |    AS q0(term, w)
        |)
        |SELECT doc_id,
        |  row_number() OVER (ORDER BY sum(weight * qw) DESC, doc_id ASC) AS rank,
        |  sum(weight * qw) AS score
        |FROM p JOIN q USING (term) GROUP BY doc_id
        |ORDER BY rank LIMIT 15""".stripMargin,

    // Span corruption restated by list slicing: the same seeded unit
    // hashes place one span per token segment; DuckDB's inclusive [a:b]
    // slices mirror Spark's (start, length) slices exactly.
    "pipeline_span_corruption" -> {
      import graft.ops.Sampling.hashUnitSql
      s"""WITH p AS (
         |  SELECT doc_id, text, string_split(text, ' ') AS toks,
         |    len(string_split(text, ' ')) AS n,
         |    floor(len(string_split(text, ' ')) / 2.0)::INT AS seg
         |  FROM documents
         |), s AS (
         |  SELECT *,
         |    (0 * seg + floor(${hashUnitSql("doc_id", 43)} * (seg - 3 + 1))::INT) AS s0,
         |    (1 * seg + floor(${hashUnitSql("doc_id", 44)} * (seg - 3 + 1))::INT) AS s1
         |  FROM p
         |)
         |SELECT doc_id,
         |  (text IS NOT NULL AND seg >= 3) AS corrupted,
         |  CASE WHEN text IS NOT NULL AND seg >= 3 THEN array_to_string(
         |    toks[1:s0] || ['<extra_id_0>'] || toks[s0+4:s1]
         |      || ['<extra_id_1>'] || toks[s1+4:n], ' ')
         |  ELSE text END AS inputs,
         |  CASE WHEN text IS NOT NULL AND seg >= 3 THEN array_to_string(
         |    ['<extra_id_0>'] || toks[s0+1:s0+3]
         |      || ['<extra_id_1>'] || toks[s1+1:s1+3] || ['<extra_id_2>'], ' ')
         |  ELSE '' END AS targets
         |FROM s ORDER BY doc_id""".stripMargin
    },

    "pack_sequences" ->
      s"""WITH t AS (
         |  SELECT doc_id, doc_id % 4 AS bucket,
         |    CASE WHEN len(trim(text)) = 0 THEN 0
         |         ELSE len(regexp_split_to_array(trim(text), '\\s+')) END::BIGINT AS tok
         |  FROM documents
         |), c AS (
         |  SELECT doc_id, bucket, tok,
         |    (sum(tok) OVER (PARTITION BY bucket ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - tok)::BIGINT AS strt
         |  FROM t WHERE tok > 0
         |), e AS (
         |  SELECT *, unnest(generate_series(strt // 512, (strt + tok - 1) // 512)) AS seq
         |  FROM c
         |)
         |SELECT bucket, seq, doc_id,
         |  greatest(0, seq * 512 - strt)::BIGINT AS slice_begin,
         |  (least(tok, (seq + 1) * 512 - strt) - greatest(0, seq * 512 - strt))::BIGINT AS slice_len
         |FROM e ORDER BY bucket, seq, doc_id""".stripMargin,

    // The scale-path hybrid: BM25 run via its oracle builder, vector run
    // via the full oracled IVF-PQ restatement, fused with the same
    // two-term RRF arithmetic.
    "search_hybrid_rrf_ivfpq" -> {
      val bm = graft.query.Bm25.oracleSql(
        "documents", "doc_id", "text", "spark merge join window", 50)
      val pq = ivfPqSql(nlist = 8, nprobe = 3, m = 8, ksub = 16, dim = 64,
        k = 50, nQueries = 1)
      s"""WITH bm AS (
         |$bm
         |), bmr AS (
         |  SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rank
         |  FROM bm
         |), vr AS (
         |  SELECT neighbor_id AS doc_id, rank FROM (
         |$pq
         |  )
         |), c0 AS (SELECT doc_id, 1.0 / (60.0 + rank) AS c FROM bmr),
         |c1 AS (SELECT doc_id, 1.0 / (60.0 + rank) AS c FROM vr)
         |SELECT doc_id, coalesce(c0.c, 0.0) + coalesce(c1.c, 0.0) AS rrf_score
         |FROM c0 FULL OUTER JOIN c1 USING (doc_id)
         |ORDER BY rrf_score DESC, doc_id ASC LIMIT 20""".stripMargin
    },

    "pack_sequences_text" ->
      s"""WITH t AS (
         |  SELECT doc_id, doc_id % 4 AS bucket,
         |    regexp_split_to_array(trim(text), '\\s+') AS toks,
         |    CASE WHEN len(trim(text)) = 0 THEN 0
         |         ELSE len(regexp_split_to_array(trim(text), '\\s+')) END::BIGINT AS tok
         |  FROM documents
         |), c AS (
         |  SELECT doc_id, bucket, toks, tok,
         |    (sum(tok) OVER (PARTITION BY bucket ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - tok)::BIGINT AS strt
         |  FROM t WHERE tok > 0
         |), e AS (
         |  SELECT *, unnest(generate_series(strt // 512, (strt + tok - 1) // 512)) AS seq
         |  FROM c
         |), s AS (
         |  SELECT bucket, seq, doc_id, toks,
         |    greatest(0, seq * 512 - strt)::BIGINT AS b,
         |    least(tok, (seq + 1) * 512 - strt)::BIGINT AS e2
         |  FROM e
         |)
         |SELECT bucket, seq,
         |  string_agg(array_to_string(toks[b + 1:e2], ' '), ' ' ORDER BY doc_id) AS seq_text,
         |  sum(e2 - b)::BIGINT AS n_tokens
         |FROM s GROUP BY bucket, seq ORDER BY bucket, seq""".stripMargin,

    // The redaction chain replayed stage by stage from the SAME pattern
    // list the engine folds over (single source of truth), counting each
    // stage's matches on its input — identical precedence semantics.
    "text_redact_pii" -> {
      val inj = "text || ' contact u' || doc_id::VARCHAR ||" +
        " '@ex-corp.example.com ph 555-867-5309 or (415) 555-0100" +
        " ssn 078-05-1120 host 192.168.' || (doc_id % 256)::VARCHAR || '.7'"
      val stages = ops.TextAnalysis.piiPatterns.zipWithIndex.map { case ((p, r), i) =>
        s"""t${i + 1} AS (
           |  SELECT doc_id, regexp_replace(s, '$p', '$r', 'g') AS s,
           |    c + len(regexp_extract_all(s, '$p'))::BIGINT AS c
           |  FROM t$i
           |)""".stripMargin
      }
      s"""WITH t0 AS (
         |  SELECT doc_id, $inj AS s, 0::BIGINT AS c FROM documents
         |),
         |${stages.mkString(",\n")}
         |SELECT doc_id, s AS redacted, c AS n_pii
         |FROM t${ops.TextAnalysis.piiPatterns.size} ORDER BY doc_id""".stripMargin
    },

    // scale = least(count_s / target_s); fraction_s = target_s·scale/count_s
    // — the same single IEEE ops the engine's mixFractions runs, so the
    // kept sets are bit-identical.
    "sample_mix_sources" -> {
      val u = ops.Sampling.hashUnitSql("doc_id", 42)
      s"""WITH cnt AS (
         |  SELECT source, count(*)::BIGINT AS c FROM documents GROUP BY source
         |), sc AS (
         |  SELECT least(
         |    (SELECT c FROM cnt WHERE source = 'src0')::DOUBLE / 0.5::DOUBLE,
         |    (SELECT c FROM cnt WHERE source = 'src1')::DOUBLE / 0.25::DOUBLE,
         |    (SELECT c FROM cnt WHERE source = 'src2')::DOUBLE / 0.25::DOUBLE) AS scale
         |)
         |SELECT source, count(*)::BIGINT AS n
         |FROM documents, sc
         |WHERE $u < CASE source
         |  WHEN 'src0' THEN 0.5::DOUBLE * sc.scale / (SELECT c FROM cnt WHERE source = 'src0')::DOUBLE
         |  WHEN 'src1' THEN 0.25::DOUBLE * sc.scale / (SELECT c FROM cnt WHERE source = 'src1')::DOUBLE
         |  WHEN 'src2' THEN 0.25::DOUBLE * sc.scale / (SELECT c FROM cnt WHERE source = 'src2')::DOUBLE
         |  ELSE 0.0::DOUBLE END
         |GROUP BY source ORDER BY source""".stripMargin
    },

    // Temperature mixing restated: the α=0.5 power is sqrt, so the scale
    // (min over sources of c/sqrt(c)) and every kept-fraction
    // (sqrt(c)·scale/c) are the same IEEE values in both engines.
    "sample_mix_temperature" -> {
      val u = ops.Sampling.hashUnitSql("doc_id", 42)
      s"""WITH cnt AS (
         |  SELECT lang, count(*)::BIGINT AS c FROM documents GROUP BY lang
         |), sc AS (
         |  SELECT min(c / sqrt(c)) AS scale FROM cnt
         |)
         |SELECT d.lang, count(*)::BIGINT AS n
         |FROM documents d JOIN cnt ON cnt.lang = d.lang, sc
         |WHERE $u < sqrt(cnt.c) * sc.scale / cnt.c
         |GROUP BY d.lang ORDER BY d.lang""".stripMargin
    },

    // Semantic decontamination restated: the same sequential
    // list_inner_product cosine, DISTINCT flagged ids, anti-join, kept
    // counts per label.
    "decontaminate_semantic" ->
      """WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
        |b AS (SELECT * FROM e WHERE vec_id % 29 = 0),
        |c AS (SELECT * FROM e WHERE vec_id % 29 <> 0),
        |flagged AS (
        |  SELECT DISTINCT c.vec_id FROM c JOIN b ON
        |    list_inner_product(c.v, b.v)
        |      / (sqrt(list_inner_product(c.v, c.v)) * sqrt(list_inner_product(b.v, b.v))) >= 0.42
        |)
        |SELECT c.label, count(*)::BIGINT AS n_kept
        |FROM c LEFT JOIN flagged ON c.vec_id = flagged.vec_id
        |WHERE flagged.vec_id IS NULL
        |GROUP BY c.label ORDER BY c.label""".stripMargin,

    // The composed round-9 pipeline: language/quality/repetition filters,
    // fingerprint dedup winners, exact-8-gram decontamination, and packing
    // restated stage by stage from the same fragments the per-operator
    // oracles use.
    "pipeline_prep_llm" ->
      s"""WITH $langIdCtes,
         |$qualityCtes,
         |rep_t AS (
         |  SELECT doc_id, $duckToks AS toks,
         |    len(regexp_extract_all(lower(text), '[a-z0-9]'))::BIGINT AS alnum
         |  FROM documents
         |), rep_g2 AS (
         |  SELECT doc_id, unnest(list_transform(generate_series(1, len(toks) - 1),
         |    i -> array_to_string(toks[i:i+1], ' '))) AS gram
         |  FROM rep_t WHERE len(toks) >= 2
         |), rep_c2 AS (
         |  SELECT doc_id, gram, count(*)::BIGINT AS cnt, (len(gram) - 1)::BIGINT AS chars
         |  FROM rep_g2 GROUP BY doc_id, gram
         |), rep_top2 AS (
         |  SELECT doc_id, cnt * chars AS mass FROM (
         |    SELECT *, row_number() OVER (PARTITION BY doc_id
         |      ORDER BY cnt DESC, chars DESC, gram ASC) AS rn FROM rep_c2
         |  ) WHERE rn = 1
         |), base AS (
         |  SELECT d.doc_id, d.text FROM documents d
         |  JOIN lang_per_doc USING (doc_id)
         |  JOIN quality_per_doc USING (doc_id)
         |  JOIN rep_t USING (doc_id)
         |  LEFT JOIN rep_top2 USING (doc_id)
         |  WHERE lang_pred = 'en' AND quality_score >= 0.6
         |    AND (CASE WHEN rep_t.alnum = 0 OR rep_top2.mass IS NULL THEN 0.0
         |              ELSE rep_top2.mass::DOUBLE / rep_t.alnum::DOUBLE END) <= 0.12
         |), winners AS (
         |  SELECT doc_id, text FROM (
         |    SELECT doc_id, text,
         |      row_number() OVER (PARTITION BY $duckNorm ORDER BY doc_id) AS rn
         |    FROM base
         |  ) WHERE rn = 1
         |), wg AS (
         |  SELECT doc_id, unnest(list_distinct(list_transform(
         |    generate_series(1, len(toks) - 7),
         |    i -> array_to_string(toks[i:i+7], ' ')))) AS gram
         |  FROM (SELECT doc_id, $duckToks AS toks FROM winners) WHERE len(toks) >= 8
         |), bg AS (
         |  SELECT DISTINCT gram FROM (
         |    SELECT unnest(list_distinct(list_transform(
         |      generate_series(1, len(toks) - 7),
         |      i -> array_to_string(toks[i:i+7], ' ')))) AS gram
         |    FROM (SELECT $duckToks AS toks FROM documents WHERE doc_id % 97 = 0)
         |    WHERE len(toks) >= 8
         |  )
         |), contaminated AS (
         |  SELECT DISTINCT doc_id FROM wg JOIN bg USING (gram)
         |), cleaned AS (
         |  SELECT doc_id, text FROM winners
         |  WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)
         |), pt AS (
         |  SELECT doc_id, doc_id % 4 AS bucket,
         |    CASE WHEN len(trim(text)) = 0 THEN 0
         |         ELSE len(regexp_split_to_array(trim(text), '\\s+')) END::BIGINT AS tok
         |  FROM cleaned
         |), pc AS (
         |  SELECT doc_id, bucket, tok,
         |    (sum(tok) OVER (PARTITION BY bucket ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - tok)::BIGINT AS strt
         |  FROM pt WHERE tok > 0
         |), pe AS (
         |  SELECT *, unnest(generate_series(strt // 512, (strt + tok - 1) // 512)) AS seq
         |  FROM pc
         |)
         |SELECT bucket,
         |  sum(CASE WHEN greatest(0, seq * 512 - strt) = 0 THEN 1 ELSE 0 END)::BIGINT AS n_docs,
         |  (max(seq) + 1)::BIGINT AS n_seqs,
         |  sum(least(tok, (seq + 1) * 512 - strt) - greatest(0, seq * 512 - strt))::BIGINT AS n_tokens
         |FROM pe GROUP BY bucket ORDER BY bucket""".stripMargin,

    // Winnowed fingerprints as in dedup_containment, normalized by the
    // bench side's fingerprint count.
    "decontaminate_containment" ->
      s"""WITH t AS (
         |  SELECT doc_id, $duckToks AS toks FROM documents
         |), g AS (
         |  SELECT doc_id, list_transform(generate_series(1, len(toks) - 2),
         |    i -> ('0x' || substr(md5(array_to_string(toks[i:i+2], ' ')), 1, 13))::BIGINT) AS hs
         |  FROM t WHERE len(toks) >= 3
         |), f AS (
         |  SELECT doc_id, list_sort(list_distinct(
         |    CASE WHEN len(hs) < 4 THEN [list_min(hs)]
         |         ELSE list_transform(generate_series(1, len(hs) - 3),
         |                i -> list_min(hs[i:i+3])) END)) AS fp
         |  FROM g
         |), b AS (
         |  SELECT doc_id AS bench_id, fp FROM f WHERE doc_id % 97 = 0
         |), pairs AS (
         |  SELECT f.doc_id, b.bench_id,
         |    len(list_intersect(f.fp, b.fp))::DOUBLE / len(b.fp)::DOUBLE AS containment
         |  FROM f, b
         |)
         |SELECT doc_id, bench_id, containment FROM pairs
         |WHERE containment >= 0.5 ORDER BY doc_id, bench_id""".stripMargin,

    "decontaminate_fuzzy" ->
      s"""WITH d AS (
         |  SELECT doc_id,
         |    list_distinct(list_transform(generate_series(1, len(toks) - 1),
         |      i -> toks[i] || ' ' || toks[i + 1])) AS sh
         |  FROM (SELECT doc_id, $duckToks AS toks FROM documents)
         |  WHERE len(toks) >= 2
         |), b AS (
         |  SELECT doc_id AS bench_id, sh FROM d WHERE doc_id % 97 = 0
         |), pairs AS (
         |  SELECT d.doc_id, b.bench_id,
         |    len(list_intersect(d.sh, b.sh))::DOUBLE
         |      / len(list_distinct(list_concat(d.sh, b.sh))) AS jaccard
         |  FROM d, b
         |)
         |SELECT doc_id, bench_id, jaccard FROM pairs
         |WHERE jaccard >= 0.35 ORDER BY doc_id, bench_id""".stripMargin,

    "decontaminate_ngram" ->
      s"""WITH t AS (
         |  SELECT doc_id, $duckToks AS toks FROM documents
         |), cg AS (
         |  SELECT doc_id, unnest(list_distinct(list_transform(
         |    generate_series(1, len(toks) - 7),
         |    i -> array_to_string(toks[i:i+7], ' ')))) AS gram
         |  FROM t WHERE len(toks) >= 8
         |), bg AS (
         |  SELECT DISTINCT gram FROM cg WHERE doc_id % 97 = 0
         |)
         |SELECT doc_id, count(*)::BIGINT AS n_overlapping_grams
         |FROM cg JOIN bg USING (gram)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // The full LSH pipeline rerun in SQL: portable md5 gram hashes,
    // per-permutation minima, value-vector band buckets, candidate pairs,
    // verified Jaccard — byte-identical to the engine's portable twin.
    "dedup_minhash_portable" ->
      s"""WITH ${portableMinhashCtesSql(k = 2, numHashes = 32, r = 2, threshold = 0.4)}
         |SELECT id_a, id_b, jaccard FROM pairs
         |ORDER BY id_a, id_b""".stripMargin,

    // Portable LSH pairs → recursive-CTE transitive closure → smallest-id
    // representative per cluster: the whole linear-generator cluster-keep
    // pipeline certified cross-engine.
    "dedup_cluster_keep_portable" ->
      s"""WITH ${portableMinhashCtesSql(k = 2, numHashes = 32, r = 2, threshold = 0.4,
            from = "(SELECT * FROM documents WHERE doc_id < 500)")},
         |edges AS (
         |  SELECT id_a AS a, id_b AS b FROM pairs
         |  UNION SELECT id_b, id_a FROM pairs
         |), reach AS (
         |  -- transitive closure (recursive UNION dedupes, so it terminates)
         |  WITH RECURSIVE r(a, b) AS (
         |    SELECT a, b FROM edges
         |    UNION
         |    SELECT r.a, e.b FROM r JOIN edges e ON r.b = e.a
         |  ) SELECT * FROM r
         |), comp AS (
         |  SELECT a AS id, least(a, min(b)) AS component FROM reach GROUP BY a
         |)
         |SELECT source, count(*) AS n_kept
         |FROM (SELECT * FROM documents WHERE doc_id < 500) doc
         |  LEFT JOIN comp ON doc.doc_id = comp.id
         |WHERE comp.id IS NULL OR comp.component = doc.doc_id
         |GROUP BY source ORDER BY source""".stripMargin,

    // Charikar votes over portable md5 hashes, sign bits reassembled,
    // pigeonhole chunk join, Hamming verify — every stage rerun in SQL.
    "dedup_simhash_portable" -> {
      val bits = 52; val chunkBits = 13; val mask = (1L << chunkBits) - 1
      s"""WITH d AS (
         |  SELECT doc_id, $duckToks AS toks FROM documents
         |), th AS (
         |  SELECT doc_id, ('0x' || substr(md5(t), 1, 13))::BIGINT AS h
         |  FROM (SELECT doc_id, unnest(toks) AS t FROM d)
         |), votes AS (
         |  SELECT doc_id, b,
         |    sum(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS tally
         |  FROM th CROSS JOIN (SELECT unnest(range($bits)) AS b)
         |  GROUP BY doc_id, b
         |), sims AS (
         |  SELECT doc_id,
         |    sum(CASE WHEN tally > 0 THEN (1::BIGINT << b) ELSE 0 END)::BIGINT AS sim
         |  FROM votes GROUP BY doc_id
         |), chunks AS (
         |  SELECT doc_id, sim, j AS cidx, (sim >> (j * $chunkBits)) & $mask AS cval
         |  FROM sims CROSS JOIN (SELECT unnest(range(4)) AS j)
         |)
         |SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         |  bit_count(xor(a.sim, b.sim))::INT AS hamming
         |FROM chunks a JOIN chunks b
         |  ON a.cidx = b.cidx AND a.cval = b.cval AND a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.sim, b.sim)) <= 3
         |ORDER BY id_a, id_b""".stripMargin
    },

    // Perceptual image dedup from the hash table down: the 16 dHashes the
    // real render→PNG→decode→dHash chain MUST reproduce are pinned as
    // literals (PerceptualFixtures.imageItems: 4 content seeds × base /
    // rescaled / inverted / 2-cells-edited), and the oracle re-pairs them
    // brute-force — equality with the engine's banded pairing certifies
    // the pigeonhole's exactness, equality of the hashes certifies the
    // codec chain (the dedup_simhash_portable pattern; codec floats stay
    // spec-pinned like mm_feature_stats).
    "dedup_perceptual_image" ->
      s"""WITH h(id, dhash) AS (VALUES
         |  (0::BIGINT, 4630899439270693008::BIGINT),
         |  (1, 4630899439270693008), (2, 617284796691915041),
         |  (3, 4630899439270693008), (10, 2887449548950081866),
         |  (11, 2887449548950081866), (12, 6090173087819793556),
         |  (13, 2887449549084299594), (20, 6136440453505061024),
         |  (21, 6136440453505061024), (22, -6191180341422577592),
         |  (23, 6136440453639278753), (30, 1172101461208355108),
         |  (31, 1172101461208355108), (32, 5226726719570094097),
         |  (33, 1172101461208355108))
         |SELECT a.id AS id_a, b.id AS id_b,
         |  bit_count(xor(a.dhash, b.dhash))::INT AS hamming
         |FROM h a JOIN h b ON a.id < b.id
         |WHERE bit_count(xor(a.dhash, b.dhash)) <= 6
         |ORDER BY id_a, id_b""".stripMargin,

    // The audio twin: pinned energy-profile dHashes (4 seeds × unit gain /
    // quarter gain / double duration — all three variants of a seed hash
    // IDENTICALLY, oracling the gain- and duration-invariance contract).
    "dedup_perceptual_audio" ->
      s"""WITH h(id, dhash) AS (VALUES
         |  (0::BIGINT, 5280797294829315364::BIGINT),
         |  (1, 5280797294829315364), (2, 5280797294829315364),
         |  (10, 2640416308320310418), (11, 2640416308320310418),
         |  (12, 2640416308320310418), (20, -7885079115306218934),
         |  (21, -7885079115306218934), (22, -7885079115306218934),
         |  (30, 5352890211215419689), (31, 5352890211215419689),
         |  (32, 5352890211215419689))
         |SELECT a.id AS id_a, b.id AS id_b,
         |  bit_count(xor(a.dhash, b.dhash))::INT AS hamming
         |FROM h a JOIN h b ON a.id < b.id
         |WHERE bit_count(xor(a.dhash, b.dhash)) <= 6
         |ORDER BY id_a, id_b""".stripMargin,

    // The video tier: pinned PER-FRAME dHashes (3 footages × 4 frames,
    // each footage in two containers at different cadence), brute-force
    // frame pairing, per-video-pair match count — the re-muxed copy must
    // match all 4 frames, distinct footage none.
    "dedup_perceptual_video" ->
      s"""WITH f(id, frame, dhash) AS (VALUES
         |  (0::BIGINT, 0, 4630899439270693008::BIGINT),
         |  (0, 1, 2887449548950081866), (0, 2, 6136440453505061024),
         |  (0, 3, 1172101461208355108), (1, 0, 4630899439270693008),
         |  (1, 1, 2887449548950081866), (1, 2, 6136440453505061024),
         |  (1, 3, 1172101461208355108), (10, 0, 146528212543931714),
         |  (10, 1, 4684875151837499412), (10, 2, 5341625546202220552),
         |  (10, 3, 2455029179965539722), (11, 0, 146528212543931714),
         |  (11, 1, 4684875151837499412), (11, 2, 5341625546202220552),
         |  (11, 3, 2455029179965539722), (20, 0, 5770248019920423490),
         |  (20, 1, -7923922441996775356), (20, 2, 595611565877897488),
         |  (20, 3, 4632693297563059202), (21, 0, 5770248019920423490),
         |  (21, 1, -7923922441996775356), (21, 2, 595611565877897488),
         |  (21, 3, 4632693297563059202)),
         |m AS (
         |  SELECT a.id AS id_a, b.id AS id_b
         |  FROM f a JOIN f b ON a.id < b.id
         |  WHERE bit_count(xor(a.dhash, b.dhash)) <= 6
         |)
         |SELECT id_a, id_b, count(*) AS matching_frames
         |FROM m GROUP BY id_a, id_b HAVING count(*) >= 3
         |ORDER BY id_a, id_b""".stripMargin,

    // Integer postings → BIGINT dot/norms → three IEEE ops: bit-exact in
    // any engine (see Dedup.tfCosinePairs).
    "dedup_tfcosine" ->
      s"""WITH rawposting AS (
         |  SELECT doc_id, t, count(*)::BIGINT AS tf
         |  FROM (SELECT doc_id, unnest($duckToks) AS t FROM documents)
         |  GROUP BY doc_id, t
         |), n AS (
         |  SELECT count(DISTINCT doc_id) AS n FROM rawposting
         |), posting AS (
         |  -- drop tokens in > 50/1000 of docs (exact-integer cutoff)
         |  SELECT p.* FROM rawposting p WHERE p.t NOT IN (
         |    SELECT t FROM rawposting, n GROUP BY t, n.n
         |    HAVING count(*) * 1000 > n.n * 50)
         |), norms AS (
         |  SELECT doc_id, sum(tf * tf)::BIGINT AS n2 FROM posting GROUP BY doc_id
         |), dots AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |    sum(a.tf * b.tf)::BIGINT AS dot
         |  FROM posting a JOIN posting b ON a.t = b.t AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2
         |), scored AS (
         |  SELECT id_a, id_b,
         |    dot::DOUBLE / (sqrt(na.n2::DOUBLE) * sqrt(nb.n2::DOUBLE)) AS cosine
         |  FROM dots JOIN norms na ON na.doc_id = id_a
         |            JOIN norms nb ON nb.doc_id = id_b
         |)
         |SELECT id_a, id_b, cosine FROM scored
         |WHERE cosine >= 0.9 ORDER BY id_a, id_b""".stripMargin,

    "dedup_ngram_jaccard" ->
      s"""WITH d AS (
         |  SELECT doc_id,
         |    list_distinct(list_transform(generate_series(1, len(toks) - 1),
         |      i -> toks[i] || ' ' || toks[i + 1])) AS sh
         |  FROM (SELECT doc_id, $duckToks AS toks FROM documents)
         |  WHERE len(toks) >= 2
         |), pairs AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |    len(list_intersect(a.sh, b.sh))::DOUBLE
         |      / len(list_distinct(list_concat(a.sh, b.sh))) AS jaccard
         |  FROM d a, d b WHERE a.doc_id < b.doc_id
         |)
         |SELECT id_a, id_b, jaccard FROM pairs
         |WHERE jaccard >= 0.35 ORDER BY id_a, id_b""".stripMargin,

    // Winnowing restated: portable md5 gram hashes, window minima compared
    // by VALUE (list_min over each slice — tie-handling moot), sorted
    // distinct sets, then all-pairs containment. The engine's inverted-
    // index count equals len(list_intersect) because fingerprint sets are
    // distinct by construction.
    "dedup_containment" ->
      s"""WITH t AS (
         |  SELECT doc_id, $duckToks AS toks FROM documents
         |), g AS (
         |  SELECT doc_id, list_transform(generate_series(1, len(toks) - 2),
         |    i -> ('0x' || substr(md5(array_to_string(toks[i:i+2], ' ')), 1, 13))::BIGINT) AS hs
         |  FROM t WHERE len(toks) >= 3
         |), f AS (
         |  SELECT doc_id, list_sort(list_distinct(
         |    CASE WHEN len(hs) < 4 THEN [list_min(hs)]
         |         ELSE list_transform(generate_series(1, len(hs) - 3),
         |                i -> list_min(hs[i:i+3])) END)) AS fp
         |  FROM g
         |), pairs AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |    len(list_intersect(a.fp, b.fp))::DOUBLE
         |      / least(len(a.fp), len(b.fp))::DOUBLE AS containment
         |  FROM f a, f b WHERE a.doc_id < b.doc_id
         |)
         |SELECT id_a, id_b, containment FROM pairs
         |WHERE containment >= 0.5 ORDER BY id_a, id_b""".stripMargin,

    // containment pairs → the same recursive-CTE transitive closure the
    // exact-dedup keep oracle uses
    "dedup_containment_keep" ->
      s"""WITH t AS (
         |  SELECT doc_id, $duckToks AS toks FROM documents
         |), g AS (
         |  SELECT doc_id, list_transform(generate_series(1, len(toks) - 2),
         |    i -> ('0x' || substr(md5(array_to_string(toks[i:i+2], ' ')), 1, 13))::BIGINT) AS hs
         |  FROM t WHERE len(toks) >= 3
         |), f AS (
         |  SELECT doc_id, list_sort(list_distinct(
         |    CASE WHEN len(hs) < 4 THEN [list_min(hs)]
         |         ELSE list_transform(generate_series(1, len(hs) - 3),
         |                i -> list_min(hs[i:i+3])) END)) AS fp
         |  FROM g
         |), pairs AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM f a, f b
         |  WHERE a.doc_id < b.doc_id
         |    AND len(list_intersect(a.fp, b.fp))::DOUBLE
         |          / least(len(a.fp), len(b.fp))::DOUBLE >= 0.5
         |), edges AS (
         |  SELECT id_a AS a, id_b AS b FROM pairs
         |  UNION SELECT id_b, id_a FROM pairs
         |), reach AS (
         |  WITH RECURSIVE r(a, b) AS (
         |    SELECT a, b FROM edges
         |    UNION
         |    SELECT r.a, e.b FROM r JOIN edges e ON r.b = e.a
         |  ) SELECT * FROM r
         |), comp AS (
         |  SELECT a AS id, least(a, min(b)) AS component FROM reach GROUP BY a
         |)
         |SELECT source, count(*) AS n_kept
         |FROM documents doc LEFT JOIN comp ON doc.doc_id = comp.id
         |WHERE comp.id IS NULL OR comp.component = doc.doc_id
         |GROUP BY source ORDER BY source""".stripMargin,

    // the prefix-filtered join is EXACT — same all-pairs oracle shape as
    // the unfiltered form, at the near-dup threshold
    "dedup_ngram_prefix" ->
      s"""WITH d AS (
         |  SELECT doc_id,
         |    list_distinct(list_transform(generate_series(1, len(toks) - 1),
         |      i -> toks[i] || ' ' || toks[i + 1])) AS sh
         |  FROM (SELECT doc_id, $duckToks AS toks FROM documents)
         |  WHERE len(toks) >= 2
         |), pairs AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |    len(list_intersect(a.sh, b.sh))::DOUBLE
         |      / len(list_distinct(list_concat(a.sh, b.sh))) AS jaccard
         |  FROM d a, d b WHERE a.doc_id < b.doc_id
         |)
         |SELECT id_a, id_b, jaccard FROM pairs
         |WHERE jaccard >= 0.8 ORDER BY id_a, id_b""".stripMargin,

    "dedup_cluster_keep" ->
      s"""WITH d AS (
         |  SELECT doc_id, $duckToks AS toks FROM documents
         |), sets AS (
         |  SELECT doc_id,
         |    list_distinct(list_transform(generate_series(1, len(toks) - 1),
         |      i -> toks[i] || ' ' || toks[i + 1])) AS sh
         |  FROM d WHERE len(toks) >= 2
         |), pairs AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM sets a, sets b
         |  WHERE a.doc_id < b.doc_id
         |    AND len(list_intersect(a.sh, b.sh))::DOUBLE
         |          / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.35
         |), edges AS (
         |  SELECT id_a AS a, id_b AS b FROM pairs
         |  UNION SELECT id_b, id_a FROM pairs
         |), reach AS (
         |  -- transitive closure (recursive UNION dedupes, so it terminates)
         |  WITH RECURSIVE r(a, b) AS (
         |    SELECT a, b FROM edges
         |    UNION
         |    SELECT r.a, e.b FROM r JOIN edges e ON r.b = e.a
         |  ) SELECT * FROM r
         |), comp AS (
         |  SELECT a AS id, least(a, min(b)) AS component FROM reach GROUP BY a
         |)
         |SELECT source, count(*) AS n_kept
         |FROM documents doc LEFT JOIN comp ON doc.doc_id = comp.id
         |WHERE comp.id IS NULL OR comp.component = doc.doc_id
         |GROUP BY source ORDER BY source""".stripMargin,

    "dedup_embedding" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |scored AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |    list_inner_product(a.v, b.v)
        |      / (sqrt(list_inner_product(a.v, a.v)) * sqrt(list_inner_product(b.v, b.v))) AS cos
        |  FROM e a, e b WHERE a.vec_id < b.vec_id
        |)
        |SELECT id_a, id_b, cos FROM scored
        |WHERE cos >= 0.42 ORDER BY id_a, id_b""".stripMargin,

    // The LSH candidate set is fully SQL-expressible: per-table bucket ids
    // are signs of dot products against the seeded (deterministic)
    // hyperplanes, inlined as literals; the 1-bit multi-probe candidate
    // predicate is hamming(bucket_a, bucket_b) <= 1 over the plane bits
    // (symmetric: b ∈ probes(a) ⟺ a ∈ probes(b)), OR'd across tables.
    "dedup_embedding_lsh" -> {
      val tables = 0 until 3
      val bucketCols = tables.map(t =>
        Similarity.lshBucketSql("v", dim = 64, numPlanes = 4, seed = 42L + t) + s" AS b$t")
      val candPred = tables.map(t =>
        s"bit_count(xor(x.b$t, y.b$t)) <= 1").mkString("(", " OR ", ")")
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |b AS (SELECT vec_id, v, ${bucketCols.mkString(", ")} FROM e),
         |cand AS (
         |  SELECT x.vec_id AS id_a, y.vec_id AS id_b,
         |    list_inner_product(x.v, y.v)
         |      / (sqrt(list_inner_product(x.v, x.v)) * sqrt(list_inner_product(y.v, y.v))) AS cos
         |  FROM b x, b y
         |  WHERE x.vec_id < y.vec_id AND $candPred
         |)
         |SELECT id_a, id_b, cos FROM cand
         |WHERE cos >= 0.42 ORDER BY id_a, id_b""".stripMargin
    },

    // LSH pair generation + recursive-CTE closure, composed — the vector
    // twin of dedup_cluster_keep's oracle
    "dedup_embedding_cluster_keep" -> {
      val tables = 0 until 3
      val bucketCols = tables.map(t =>
        Similarity.lshBucketSql("v", dim = 64, numPlanes = 4, seed = 42L + t) + s" AS b$t")
      val candPred = tables.map(t =>
        s"bit_count(xor(x.b$t, y.b$t)) <= 1").mkString("(", " OR ", ")")
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |b AS (SELECT vec_id, v, ${bucketCols.mkString(", ")} FROM e),
         |pairs AS (
         |  SELECT x.vec_id AS id_a, y.vec_id AS id_b
         |  FROM b x, b y
         |  WHERE x.vec_id < y.vec_id AND $candPred
         |    AND list_inner_product(x.v, y.v)
         |      / (sqrt(list_inner_product(x.v, x.v)) * sqrt(list_inner_product(y.v, y.v))) >= 0.42
         |), edges AS (
         |  SELECT id_a AS a, id_b AS b FROM pairs
         |  UNION SELECT id_b, id_a FROM pairs
         |), reach AS (
         |  WITH RECURSIVE r(a, b) AS (
         |    SELECT a, b FROM edges
         |    UNION
         |    SELECT r.a, e2.b FROM r JOIN edges e2 ON r.b = e2.a
         |  ) SELECT * FROM r
         |), comp AS (
         |  SELECT a AS id, least(a, min(b)) AS component FROM reach GROUP BY a
         |)
         |SELECT label, count(*) AS n_kept
         |FROM embeddings emb LEFT JOIN comp ON emb.vec_id = comp.id
         |WHERE comp.id IS NULL OR comp.component = emb.vec_id
         |GROUP BY label ORDER BY label""".stripMargin
    },

    // SemDeDup restated: the SAME k-means cell assignment CTEs the IVF
    // oracles replay (deterministic seeded init, r=1 pick with cell-ASC
    // tiebreak), within-cell cosine pairs at the engine's threshold, then
    // the recursive closure / min-id representative / per-label count
    // shape shared with dedup_embedding_cluster_keep.
    "dedup_semantic" ->
      s"""WITH ${ivfAssignCtesSql(nlist = 8)}, pairs AS (
         |  SELECT x.vec_id AS id_a, y.vec_id AS id_b
         |  FROM assigned x JOIN assigned y
         |    ON x.cell = y.cell AND x.vec_id < y.vec_id
         |  WHERE list_inner_product(x.v, y.v)
         |      / (sqrt(list_inner_product(x.v, x.v)) * sqrt(list_inner_product(y.v, y.v))) >= 0.42
         |), edges AS (
         |  SELECT id_a AS a, id_b AS b FROM pairs
         |  UNION SELECT id_b, id_a FROM pairs
         |), reach AS (
         |  WITH RECURSIVE r(a, b) AS (
         |    SELECT a, b FROM edges
         |    UNION
         |    SELECT r.a, e2.b FROM r JOIN edges e2 ON r.b = e2.a
         |  ) SELECT * FROM r
         |), comp AS (
         |  SELECT a AS id, least(a, min(b)) AS component FROM reach GROUP BY a
         |)
         |SELECT label, count(*) AS n_kept
         |FROM embeddings emb LEFT JOIN comp ON emb.vec_id = comp.id
         |WHERE comp.id IS NULL OR comp.component = emb.vec_id
         |GROUP BY label ORDER BY label""".stripMargin,

    // The multi-probe twin: candidates additionally pair each vector's
    // top-2 cells (cellranked r <= 2) against home cells, LEAST/GREATEST-
    // normalized and DISTINCT'd exactly like the engine's ids-only dedup;
    // everything downstream is the shared closure shape.
    "dedup_semantic_probe" ->
      s"""WITH ${ivfAssignCtesSql(nlist = 8)}, cand AS (
         |  SELECT DISTINCT least(p.vec_id, b.vec_id) AS id_a,
         |    greatest(p.vec_id, b.vec_id) AS id_b
         |  FROM cellranked p JOIN assigned b
         |    ON p.cell = b.cell AND p.vec_id <> b.vec_id
         |  WHERE p.r <= 2
         |), pairs AS (
         |  SELECT c.id_a, c.id_b
         |  FROM cand c
         |  JOIN e x ON x.vec_id = c.id_a
         |  JOIN e y ON y.vec_id = c.id_b
         |  WHERE list_inner_product(x.v, y.v)
         |      / (sqrt(list_inner_product(x.v, x.v)) * sqrt(list_inner_product(y.v, y.v))) >= 0.42
         |), edges AS (
         |  SELECT id_a AS a, id_b AS b FROM pairs
         |  UNION SELECT id_b, id_a FROM pairs
         |), reach AS (
         |  WITH RECURSIVE r(a, b) AS (
         |    SELECT a, b FROM edges
         |    UNION
         |    SELECT r.a, e2.b FROM r JOIN edges e2 ON r.b = e2.a
         |  ) SELECT * FROM r
         |), comp AS (
         |  SELECT a AS id, least(a, min(b)) AS component FROM reach GROUP BY a
         |)
         |SELECT label, count(*) AS n_kept
         |FROM embeddings emb LEFT JOIN comp ON emb.vec_id = comp.id
         |WHERE comp.id IS NULL OR comp.component = emb.vec_id
         |GROUP BY label ORDER BY label""".stripMargin,

    // Radius search restated: same cosine tree as ann_bruteforce, the
    // threshold replacing the window.
    "ann_radius" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |q AS (SELECT * FROM e WHERE vec_id < 5)
        |SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
        |  list_inner_product(e.v, q.v)
        |    / (sqrt(list_inner_product(e.v, e.v)) * sqrt(list_inner_product(q.v, q.v))) AS cos
        |FROM e, q WHERE e.vec_id <> q.vec_id
        |  AND list_inner_product(e.v, q.v)
        |    / (sqrt(list_inner_product(e.v, e.v)) * sqrt(list_inner_product(q.v, q.v))) >= 0.30
        |ORDER BY query_id, neighbor_id""".stripMargin,

    // Cell-pruned radius restated: the ann_ivf assignment CTEs (identical
    // centroid pick + argmax assignment), the 3-cell probe, and the same
    // 0.30 threshold predicate in place of the rank window.
    "ann_radius_ivf" -> {
      s"""WITH ${ivfAssignCtesSql(nlist = 8)}, qprobe AS (
         |  SELECT vec_id AS query_id, v AS qv, cell
         |  FROM cellranked WHERE r <= 3 AND vec_id < 5
         |)
         |SELECT q.query_id, a.vec_id AS neighbor_id,
         |  list_inner_product(a.v, q.qv)
         |    / (sqrt(list_inner_product(a.v, a.v)) * sqrt(list_inner_product(q.qv, q.qv))) AS cos
         |FROM assigned a JOIN qprobe q ON a.cell = q.cell
         |WHERE a.vec_id <> q.query_id
         |  AND list_inner_product(a.v, q.qv)
         |    / (sqrt(list_inner_product(a.v, a.v)) * sqrt(list_inner_product(q.qv, q.qv))) >= 0.30
         |ORDER BY query_id, neighbor_id""".stripMargin
    },

    "ann_bruteforce" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |q AS (SELECT * FROM e WHERE vec_id < 5),
        |scored AS (
        |  SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
        |    list_inner_product(e.v, q.v)
        |      / (sqrt(list_inner_product(e.v, e.v)) * sqrt(list_inner_product(q.v, q.v))) AS cos
        |  FROM e, q WHERE e.vec_id <> q.vec_id
        |), ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY query_id
        |    ORDER BY cos DESC, neighbor_id ASC) AS rank
        |  FROM scored
        |)
        |SELECT query_id, rank, neighbor_id, cos FROM ranked
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    // Matryoshka ladder restated: one ranked CTE per prefix dim (the
    // same certified cosine/rank shape over DuckDB's [1:d] slice — the
    // identical prefix fold), intersection counts against the d=64
    // identity rung, the one exact division per row.
    "ann_matryoshka_recall" -> {
      val dims = Seq(8, 16, 32, 64)
      val ctes = dims.map { d =>
        s"""e$d AS (SELECT vec_id, (embedding::DOUBLE[])[1:$d] AS v FROM embeddings),
           |q$d AS (SELECT * FROM e$d WHERE vec_id < 5),
           |r$d AS (
           |  SELECT query_id, neighbor_id FROM (
           |    SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
           |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
           |        list_inner_product(e.v, q.v)
           |          / (sqrt(list_inner_product(e.v, e.v)) * sqrt(list_inner_product(q.v, q.v))) DESC,
           |        e.vec_id ASC) AS rank
           |    FROM e$d e, q$d q WHERE e.vec_id <> q.vec_id)
           |  WHERE rank <= 10
           |)""".stripMargin
      }.mkString(",\n")
      val rungs = dims.map { d =>
        s"""SELECT $d AS dim,
           |  (SELECT count(*) FROM r$d t JOIN r64 f
           |     USING (query_id, neighbor_id))::DOUBLE
           |    / 50.0 AS recall""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"WITH $ctes\n$rungs\nORDER BY dim"
    },

    // JL projection restated: the same ±1 plane literals, the same
    // sequential inner products, then the brute-force ranking shape over
    // the PROJECTED vectors.
    "ann_random_projection" -> {
      val proj = Similarity.randomProjectSql("embedding::DOUBLE[]", outDim = 16, dim = 64)
      s"""WITH e AS (SELECT vec_id, $proj AS v FROM embeddings),
         |q AS (SELECT * FROM e WHERE vec_id < 5),
         |scored AS (
         |  SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
         |    list_inner_product(e.v, q.v)
         |      / (sqrt(list_inner_product(e.v, e.v)) * sqrt(list_inner_product(q.v, q.v))) AS cos
         |  FROM e, q WHERE e.vec_id <> q.vec_id
         |), ranked AS (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY cos DESC, neighbor_id ASC) AS rank
         |  FROM scored
         |)
         |SELECT query_id, rank, neighbor_id, cos FROM ranked
         |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin
    },

    // Hard negatives restated: the same candidate top-50 per anchor, the
    // same threshold split, the same per-role rankings.
    "pairs_hard_negatives" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |q AS (SELECT * FROM e WHERE vec_id < 5),
         |scored AS (
         |  SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
         |    list_inner_product(e.v, q.v)
         |      / (sqrt(list_inner_product(e.v, e.v)) * sqrt(list_inner_product(q.v, q.v))) AS cos
         |  FROM e, q WHERE e.vec_id <> q.vec_id
         |), cand AS (
         |  SELECT * FROM scored QUALIFY row_number() OVER (
         |    PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) <= 50
         |), pos AS (
         |  SELECT query_id AS anchor_id, 'positive' AS role, 1 AS rank,
         |    neighbor_id, cos
         |  FROM cand WHERE cos >= 0.3
         |  QUALIFY row_number() OVER (
         |    PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) = 1
         |), neg AS (
         |  SELECT query_id AS anchor_id, 'hard_negative' AS role,
         |    row_number() OVER (
         |      PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC)::INT AS rank,
         |    neighbor_id, cos
         |  FROM cand WHERE cos < 0.3 AND cos >= 0.2
         |  QUALIFY rank <= 5
         |)
         |SELECT anchor_id, role, rank, neighbor_id, cos FROM (
         |  SELECT * FROM pos UNION ALL SELECT * FROM neg)
         |ORDER BY anchor_id, role, rank""".stripMargin,

    // SQ8 restated end to end: per-dim bounds from the same corpus scan,
    // the same clamp(floor((v-mn)·(256/(mx-mn)))) codes, the same midpoint
    // dequant tree, the same sequential ADC dot.
    "ann_sq8" -> annSq8OracleSql,

    // The maintained-bounds twin: increments merge to EXACTLY the
    // from-scratch bounds (min/max algebra), so the SAME oracle applies —
    // epochs, the replay, and the at-rest layout must be invisible.
    "ann_sq8_incremental" -> annSq8OracleSql,

    // The MMR greedy trace unrolled: top-10 candidates, then pick-1 /
    // pick-2 / pick-3 as explicit CTE stages — each an argmax of the same
    // fixed λ·rel − (1−λ)·max-sim tree over the not-yet-picked set.
    "search_mmr" -> {
      def cosSql(a: String, b: String): String =
        s"list_inner_product($a, $b) / (sqrt(list_inner_product($a, $a)) * " +
          s"sqrt(list_inner_product($b, $b)))"
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |q AS (SELECT * FROM e WHERE vec_id < 3),
         |scored AS (
         |  SELECT q.vec_id AS query_id, e.vec_id AS cand_id,
         |    ${cosSql("e.v", "q.v")} AS rel, e.v AS vec
         |  FROM e, q WHERE e.vec_id <> q.vec_id
         |), cand AS (
         |  SELECT * FROM scored
         |  QUALIFY row_number() OVER (PARTITION BY query_id
         |    ORDER BY rel DESC, cand_id ASC) <= 10
         |), p1 AS (
         |  SELECT query_id, 1 AS pick, cand_id, rel, vec, 0.7 * rel AS mmr
         |  FROM cand
         |  QUALIFY row_number() OVER (PARTITION BY query_id
         |    ORDER BY 0.7 * rel DESC, cand_id ASC) = 1
         |), m2 AS (
         |  SELECT c.query_id, c.cand_id, max(${cosSql("c.vec", "s.vec")}) AS msim
         |  FROM cand c JOIN p1 s USING (query_id)
         |  WHERE c.cand_id <> s.cand_id
         |  GROUP BY 1, 2
         |), p2 AS (
         |  SELECT c.query_id, 2 AS pick, c.cand_id, c.rel, c.vec,
         |    0.7 * c.rel - (1.0 - 0.7) * m.msim AS mmr
         |  FROM cand c JOIN m2 m ON c.query_id = m.query_id AND c.cand_id = m.cand_id
         |  QUALIFY row_number() OVER (PARTITION BY c.query_id
         |    ORDER BY 0.7 * c.rel - (1.0 - 0.7) * m.msim DESC, c.cand_id ASC) = 1
         |), sel2 AS (
         |  SELECT query_id, cand_id, vec FROM p1
         |  UNION ALL SELECT query_id, cand_id, vec FROM p2
         |), m3 AS (
         |  SELECT c.query_id, c.cand_id, max(${cosSql("c.vec", "s.vec")}) AS msim
         |  FROM cand c JOIN sel2 s USING (query_id)
         |  WHERE NOT EXISTS (SELECT 1 FROM sel2 s2
         |    WHERE s2.query_id = c.query_id AND s2.cand_id = c.cand_id)
         |  GROUP BY 1, 2
         |), p3 AS (
         |  SELECT c.query_id, 3 AS pick, c.cand_id, c.rel, c.vec,
         |    0.7 * c.rel - (1.0 - 0.7) * m.msim AS mmr
         |  FROM cand c JOIN m3 m ON c.query_id = m.query_id AND c.cand_id = m.cand_id
         |  QUALIFY row_number() OVER (PARTITION BY c.query_id
         |    ORDER BY 0.7 * c.rel - (1.0 - 0.7) * m.msim DESC, c.cand_id ASC) = 1
         |)
         |SELECT query_id, pick, cand_id, rel, mmr FROM (
         |  SELECT query_id, pick, cand_id, rel, mmr FROM p1
         |  UNION ALL SELECT query_id, pick, cand_id, rel, mmr FROM p2
         |  UNION ALL SELECT query_id, pick, cand_id, rel, mmr FROM p3)
         |ORDER BY query_id, pick""".stripMargin
    },

    // Sign-LSH ANN: same seeded-hyperplane bucket restatement as
    // dedup_embedding_lsh (one table, 6 planes), with the 1-bit multi-probe
    // as a symmetric hamming predicate, then the brute-force ranking shape
    // over the candidate set only.
    "ann_lsh" -> {
      val bucket = Similarity.lshBucketSql("v", dim = 64, numPlanes = 6, seed = 42L)
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |b AS (SELECT vec_id, v, $bucket AS bkt FROM e),
         |q AS (SELECT * FROM b WHERE vec_id < 5),
         |scored AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    list_inner_product(c.v, q.v)
         |      / (sqrt(list_inner_product(c.v, c.v)) * sqrt(list_inner_product(q.v, q.v))) AS cos
         |  FROM b c, q
         |  WHERE c.vec_id <> q.vec_id AND bit_count(xor(c.bkt, q.bkt)) <= 1
         |), ranked AS (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY cos DESC, neighbor_id ASC) AS rank
         |  FROM scored
         |)
         |SELECT query_id, rank, neighbor_id, cos FROM ranked
         |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin
    },

    // 2-bit multi-probe twin: same buckets, hamming predicate loosened to
    // <= 2 — exactly the candidate set the mask enumeration visits.
    "ann_lsh_probe" -> {
      val bucket = Similarity.lshBucketSql("v", dim = 64, numPlanes = 6, seed = 42L)
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |b AS (SELECT vec_id, v, $bucket AS bkt FROM e),
         |q AS (SELECT * FROM b WHERE vec_id < 5),
         |scored AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    list_inner_product(c.v, q.v)
         |      / (sqrt(list_inner_product(c.v, c.v)) * sqrt(list_inner_product(q.v, q.v))) AS cos
         |  FROM b c, q
         |  WHERE c.vec_id <> q.vec_id AND bit_count(xor(c.bkt, q.bkt)) <= 2
         |), ranked AS (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY cos DESC, neighbor_id ASC) AS rank
         |  FROM scored
         |)
         |SELECT query_id, rank, neighbor_id, cos FROM ranked
         |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin
    },

    // IVF at refineIters=0 is fully SQL-expressible: init centroids are the
    // nlist vectors with the smallest (md5-unit hash, vec_id) — the same
    // deterministic selection kmeansCentroids collects — and cell
    // assignment/probing are row_number() over per-(row, cell) cosines,
    // whose dot products DuckDB computes bit-identically (sequential
    // list_inner_product). Corpus rows take their top-1 cell; queries probe
    // their top-3; ranking is the brute-force shape over cell-joined
    // candidates.
    // Frozen-centroid incremental index restated: centroids come from the
    // initial half only (trainPred), assignment and probing run over the
    // whole corpus against them — the maintained index's serve-time view.
    "ann_ivf_incremental" -> {
      s"""WITH ${ivfAssignCtesSql(nlist = 8, trainPred = "vec_id % 2 = 0")}, qprobe AS (
         |  SELECT vec_id AS query_id, v AS qv, cell
         |  FROM cellranked WHERE r <= 3 AND vec_id < 5
         |), scored AS (
         |  SELECT q.query_id, a.vec_id AS neighbor_id,
         |    list_inner_product(a.v, q.qv)
         |      / (sqrt(list_inner_product(a.v, a.v)) * sqrt(list_inner_product(q.qv, q.qv))) AS cos
         |  FROM assigned a JOIN qprobe q ON a.cell = q.cell
         |  WHERE a.vec_id <> q.query_id
         |), ranked AS (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY cos DESC, neighbor_id ASC) AS rank
         |  FROM scored
         |)
         |SELECT query_id, rank, neighbor_id, cos FROM ranked
         |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin
    },

    // The compacted lifecycle twin shares ann_ivf_incremental's oracle
    // VERBATIM: compaction (sentinel fold + staged swap) and the
    // post-compaction re-emit must be invisible to serving.
    "ann_ivf_compacted" -> {
      s"""WITH ${ivfAssignCtesSql(nlist = 8, trainPred = "vec_id % 2 = 0")}, qprobe AS (
         |  SELECT vec_id AS query_id, v AS qv, cell
         |  FROM cellranked WHERE r <= 3 AND vec_id < 5
         |), scored AS (
         |  SELECT q.query_id, a.vec_id AS neighbor_id,
         |    list_inner_product(a.v, q.qv)
         |      / (sqrt(list_inner_product(a.v, a.v)) * sqrt(list_inner_product(q.qv, q.qv))) AS cos
         |  FROM assigned a JOIN qprobe q ON a.cell = q.cell
         |  WHERE a.vec_id <> q.query_id
         |), ranked AS (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY cos DESC, neighbor_id ASC) AS rank
         |  FROM scored
         |)
         |SELECT query_id, rank, neighbor_id, cos FROM ranked
         |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin
    },

    // Pre-filter knn, brute baseline: the corpus side filters BEFORE the
    // ranking window — queries stay unfiltered (ES filters results, not
    // the query vector).
    "ann_filtered" ->
      """WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
        |q AS (SELECT * FROM e WHERE vec_id < 5),
        |c AS (SELECT * FROM e WHERE label % 2 = 0),
        |scored AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    list_inner_product(c.v, q.v)
        |      / (sqrt(list_inner_product(c.v, c.v)) * sqrt(list_inner_product(q.v, q.v))) AS cos
        |  FROM c, q WHERE c.vec_id <> q.vec_id
        |), ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY query_id
        |    ORDER BY cos DESC, neighbor_id ASC) AS rank
        |  FROM scored
        |)
        |SELECT query_id, rank, neighbor_id, cos FROM ranked
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    // Pre-filter knn over the SHARED full-corpus IVF index: identical
    // centroid/assignment CTEs, the filter applied to the candidate index
    // rows before the probed-cell ranking.
    "ann_ivf_filtered" -> {
      s"""WITH ${ivfAssignCtesSql(nlist = 8)}, fidx AS (
         |  SELECT a.* FROM assigned a JOIN embeddings em USING (vec_id)
         |  WHERE em.label % 2 = 0
         |), qprobe AS (
         |  SELECT vec_id AS query_id, v AS qv, cell
         |  FROM cellranked WHERE r <= 3 AND vec_id < 5
         |), scored AS (
         |  SELECT q.query_id, a.vec_id AS neighbor_id,
         |    list_inner_product(a.v, q.qv)
         |      / (sqrt(list_inner_product(a.v, a.v)) * sqrt(list_inner_product(q.qv, q.qv))) AS cos
         |  FROM fidx a JOIN qprobe q ON a.cell = q.cell
         |  WHERE a.vec_id <> q.query_id
         |), ranked AS (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY cos DESC, neighbor_id ASC) AS rank
         |  FROM scored
         |)
         |SELECT query_id, rank, neighbor_id, cos FROM ranked
         |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin
    },

    "ann_ivf" -> {
      s"""WITH ${ivfAssignCtesSql(nlist = 8)}, qprobe AS (
         |  SELECT vec_id AS query_id, v AS qv, cell
         |  FROM cellranked WHERE r <= 3 AND vec_id < 5
         |), scored AS (
         |  SELECT q.query_id, a.vec_id AS neighbor_id,
         |    list_inner_product(a.v, q.qv)
         |      / (sqrt(list_inner_product(a.v, a.v)) * sqrt(list_inner_product(q.qv, q.qv))) AS cos
         |  FROM assigned a JOIN qprobe q ON a.cell = q.cell
         |  WHERE a.vec_id <> q.query_id
         |), ranked AS (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY cos DESC, neighbor_id ASC) AS rank
         |  FROM scored
         |)
         |SELECT query_id, rank, neighbor_id, cos FROM ranked
         |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin
    },

    // The refined-index twin: one k-means round whose cell means are the
    // bit-stable ascending-id fold on BOTH engines (see ivfAssignCtesSql's
    // refinement rounds) — what graduated this entry from rows-only.
    "ann_ivf_nlist256" -> {
      s"""WITH ${ivfAssignCtesSql(nlist = 256, refineIters = 1)}, qprobe AS (
         |  SELECT vec_id AS query_id, v AS qv, cell
         |  FROM cellranked WHERE r <= 16 AND vec_id < 5
         |), scored AS (
         |  SELECT q.query_id, a.vec_id AS neighbor_id,
         |    list_inner_product(a.v, q.qv)
         |      / (sqrt(list_inner_product(a.v, a.v)) * sqrt(list_inner_product(q.qv, q.qv))) AS cos
         |  FROM assigned a JOIN qprobe q ON a.cell = q.cell
         |  WHERE a.vec_id <> q.query_id
         |), ranked AS (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY cos DESC, neighbor_id ASC) AS rank
         |  FROM scored
         |)
         |SELECT query_id, rank, neighbor_id, cos FROM ranked
         |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin
    },

    // The sampled-training build twin: the training set is the portable
    // md5-unit threshold sample (trainingFramePredSql — LEAST/count
    // arithmetic matches the engine's IEEE min(1.0, 1.05·cap/n) exactly),
    // the refine round folds cell means over SAMPLED rows only, and the
    // serving assignment runs the full corpus against the frozen result.
    "ann_ivf_sampled" -> {
      val pred = ops.Similarity.trainingFramePredSql("embeddings", "vec_id", cap = 200)
      s"""WITH ${ivfAssignCtesSql(nlist = 8, refineIters = 1, trainPred = pred)}, qprobe AS (
         |  SELECT vec_id AS query_id, v AS qv, cell
         |  FROM cellranked WHERE r <= 3 AND vec_id < 5
         |), scored AS (
         |  SELECT q.query_id, a.vec_id AS neighbor_id,
         |    list_inner_product(a.v, q.qv)
         |      / (sqrt(list_inner_product(a.v, a.v)) * sqrt(list_inner_product(q.qv, q.qv))) AS cos
         |  FROM assigned a JOIN qprobe q ON a.cell = q.cell
         |  WHERE a.vec_id <> q.query_id
         |), ranked AS (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY cos DESC, neighbor_id ASC) AS rank
         |  FROM scored
         |)
         |SELECT query_id, rank, neighbor_id, cos FROM ranked
         |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin
    },

    // Product quantization end to end: sampled codebooks, bit-stable L2
    // argmin code assignment, ADC scoring as a left-folded sum of subspace
    // inner products — the full IVF-PQ pipeline restated in SQL.
    "ann_ivfpq" ->
      ivfPqSql(nlist = 8, nprobe = 3, m = 8, ksub = 16, dim = 64, k = 5, nQueries = 5),

    // IndexRefine: the ann_ivfpq candidate pipeline + exact cosine re-rank
    "ann_ivfpq_rerank" ->
      ivfPqRerankSql(nlist = 8, nprobe = 3, m = 8, ksub = 16, dim = 64,
        k = 5, nQueries = 5, refineFactor = 4),

    // The refined-index IVF-PQ twin: coarse centroids AND residual
    // codebooks each take one bit-stable k-means round (ordered folds on
    // both engines) — graduated from rows-only with the IVF twin.
    "ann_ivfpq_nlist256" ->
      ivfPqSql(nlist = 256, nprobe = 16, m = 8, ksub = 16, dim = 64, k = 5,
        nQueries = 5, refineIters = 1),

    // The point-in-time frames restated as the same RANGE windows over
    // epoch ms — strict [-7d, -1ms] past, strict [+1ms, +3d] future; the
    // cent-sum is an integer aggregate, immune to frame order.
    "join_rolling_features" -> rollingFeaturesOracle,

    // The chunked mega-entity twin shares the oracle VERBATIM: chunking
    // with halo replication is an execution-layout choice that must be
    // invisible in the result.
    "join_rolling_features_chunked" -> rollingFeaturesOracle,

    // The naive all-pairs overlap predicate — a different algorithm from
    // the engine's binning rewrite, so the dedup-free bin emission is
    // cross-checked pair-exact.
    "join_range" ->
      """WITH c AS (
        |  SELECT event_id AS click_id, user_id,
        |    epoch_ms(ts) AS c_start, epoch_ms(ts) + 1800000 AS c_end
        |  FROM events WHERE event_type = 'click'
        |), p AS (
        |  SELECT event_id AS purchase_id, user_id,
        |    epoch_ms(ts) AS p_start, epoch_ms(ts) + 1800000 AS p_end
        |  FROM events WHERE event_type = 'purchase'
        |)
        |SELECT click_id, purchase_id, user_id,
        |  (least(c_end, p_end) - greatest(c_start, p_start))::BIGINT AS overlap_ms
        |FROM c JOIN p USING (user_id)
        |WHERE c_start <= p_end AND p_start <= c_end
        |ORDER BY click_id, purchase_id""".stripMargin,

    // The as-of semantics restated as a per-row LATERAL top-1 lookup — a
    // different algorithm from the engine's union-and-fill window, so the
    // hash match is a real cross-check. Inclusive bound, 7-day lookback,
    // ties on (user_id, ts) broken by the largest purchase event_id.
    "join_asof_forward" ->
      """WITH clicks AS (
        |  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
        |), purchases AS (
        |  SELECT user_id, ts, event_id, value FROM events WHERE event_type = 'purchase'
        |)
        |SELECT c.event_id, c.user_id,
        |  strftime(c.ts, '%Y-%m-%d %H:%M:%S') AS ts,
        |  p.value AS asof_value,
        |  strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS asof_ts
        |FROM clicks c LEFT JOIN LATERAL (
        |  SELECT r.ts, r.value FROM purchases r
        |  WHERE r.user_id = c.user_id AND r.ts >= c.ts
        |    AND r.ts <= c.ts + INTERVAL 7 DAY
        |  ORDER BY r.ts ASC, r.event_id DESC LIMIT 1
        |) p ON true
        |ORDER BY c.event_id""".stripMargin,

    "join_asof" ->
      """WITH clicks AS (
        |  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
        |), purchases AS (
        |  SELECT user_id, ts, event_id, value FROM events WHERE event_type = 'purchase'
        |)
        |SELECT c.event_id, c.user_id,
        |  strftime(c.ts, '%Y-%m-%d %H:%M:%S') AS ts,
        |  p.value AS asof_value,
        |  strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS asof_ts
        |FROM clicks c LEFT JOIN LATERAL (
        |  SELECT r.ts, r.value FROM purchases r
        |  WHERE r.user_id = c.user_id AND r.ts <= c.ts
        |    AND r.ts >= c.ts - INTERVAL 7 DAY
        |  ORDER BY r.ts DESC, r.event_id DESC LIMIT 1
        |) p ON true
        |ORDER BY c.event_id""".stripMargin,

    // Same bucket + Morton arithmetic rendered by Layout's SQL mirrors:
    // 64-bit shifts, masks and truncating integer division only, so the
    // layout key is bit-identical in any engine.
    "layout_zorder" -> {
      import graft.store.Layout
      val ub = "(user_id % 256)"
      val tb = Layout.bucketizeSql("(hour(ts) * 60 + minute(ts))", 0, 1439, 8)
      s"""SELECT event_id, $ub AS ub, $tb AS tb,
         |  ${Layout.zValueSql(Seq(ub, tb), 8)} AS z
         |FROM events ORDER BY event_id""".stripMargin
    },

    // The skew profile restated: per-key counts, top-10 by weight, share
    // from the grand total. Float math is one double division from two
    // integers — deterministic in any engine.
    "join_keyskew" ->
      """WITH c AS (
        |  SELECT l_suppkey, count(*)::BIGINT AS "rows"
        |  FROM lineitem GROUP BY l_suppkey
        |), t AS (SELECT sum("rows")::BIGINT AS total FROM c)
        |SELECT c.l_suppkey, c."rows", c."rows"::DOUBLE / t.total::DOUBLE AS share
        |FROM c, t
        |ORDER BY c."rows" DESC, c.l_suppkey ASC LIMIT 10""".stripMargin,

    // salting spreads rows across reducers but never changes the join result
    "join_salted" ->
      """SELECT o_orderpriority, count(*) AS n,
        |  round(sum(l_extendedprice), 2) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    // The bucketed layout is a physical-plan property only — the oracle is
    // the plain equi-join the co-located tables compute.
    "join_bucketed" ->
      """SELECT c_mktsegment, count(*) AS n_orders,
        |  round(sum(o_totalprice), 2) AS total_spend
        |FROM customer JOIN orders ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    // Same assignment CTEs as ann_ivf; the keep order inside each cell is
    // the seeded md5-unit hash (then id) — the deterministic per-cell
    // budget selection restated exactly.
    "sample_embedding_percell" -> {
      val u = ops.Sampling.hashUnitSql("a.vec_id", 42)
      s"""WITH ${ivfAssignCtesSql(nlist = 8)}, keep AS (
         |  SELECT a.vec_id, a.cell,
         |    row_number() OVER (PARTITION BY a.cell ORDER BY $u, a.vec_id) AS kr
         |  FROM assigned a
         |)
         |SELECT vec_id, cell FROM keep WHERE kr <= 4
         |ORDER BY cell, vec_id""".stripMargin
    },

    // ===== ES|QL front-end: each piped program restated as the ANSI
    // query it compiles to. The cents folds (SUM of per-row FLOOR·100)
    // are integer-exact in any fold order on both engines. =====

    "esql_stats" ->
      """SELECT sum(l_quantity) AS sum_qty, count(*) AS n,
        |  round(CAST(sum(floor(l_extendedprice * 100)) AS DOUBLE) / count(*) / 100.0, 4) AS avg_price,
        |  l_returnflag, l_linestatus
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "esql_wordcount" ->
      """SELECT count(*) AS c, tok FROM (
        |  SELECT unnest(string_split(text, ' ')) AS tok FROM documents) t
        |WHERE length(tok) > 3
        |GROUP BY tok ORDER BY c DESC, tok LIMIT 25""".stripMargin,

    "esql_dissect" ->
      """SELECT count(*) AS n,
        |  CAST(sum(CAST(NULLIF(regexp_extract(props, '^\{"k": (.*)\}$', 1), '') AS INTEGER)) AS DOUBLE) AS total,
        |  event_type
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "esql_grok" ->
      """SELECT max(CAST(NULLIF(regexp_extract(props, '^\{"k": ([+-]?\d+)\}$', 1), '') AS INTEGER)) AS mx,
        |  min(CAST(NULLIF(regexp_extract(props, '^\{"k": ([+-]?\d+)\}$', 1), '') AS INTEGER)) AS mn,
        |  event_type
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "esql_enrich" ->
      """SELECT count(*) AS n,
        |  CAST(sum(floor(c_acctbal * 100)) AS DOUBLE) / 100.0 AS acct,
        |  n_name AS nation
        |FROM customer LEFT JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY nation""".stripMargin,

    "q_geo_shape_multi" -> {
      s"""WITH pts AS (
         |  SELECT c_custkey, c_mktsegment,
         |    (CASE WHEN (c_acctbal % 180) < 0 THEN (c_acctbal % 180) + 180
         |          ELSE (c_acctbal % 180) END) - 90 + CAST(0.001 AS DOUBLE) AS lat,
         |    ((c_custkey % 360) + 360) % 360 - 180 + CAST(0.001 AS DOUBLE) AS lon
         |  FROM customer
         |)
         |SELECT c_custkey, c_mktsegment FROM pts
         |WHERE ${geoCrossingsSql(geoMultiRings)} % 2 = 1
         |ORDER BY c_custkey""".stripMargin
    },

    "q_geo_shape_envelope" ->
      """WITH pts AS (
        |  SELECT c_mktsegment,
        |    (CASE WHEN (c_acctbal % 180) < 0 THEN (c_acctbal % 180) + 180
        |          ELSE (c_acctbal % 180) END) - 90 + CAST(0.001 AS DOUBLE) AS lat,
        |    ((c_custkey % 360) + 360) % 360 - 180 + CAST(0.001 AS DOUBLE) AS lon
        |  FROM customer
        |)
        |SELECT c_mktsegment, count(*) AS n FROM pts
        |WHERE NOT (lat >= -30 AND lat <= 30 AND lon >= -60 AND lon <= 60)
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    "q_simple_query_string" -> {
      import graft.expr.TextMatch.{containsTokenSql, phrasePrefixSql}
      s"""SELECT doc_id, lang FROM documents
         |WHERE (${containsTokenSql("text", "hash join")}
         |       OR ${phrasePrefixSql("text", "merge")})
         |  AND NOT ${containsTokenSql("text", "slow")}
         |ORDER BY doc_id""".stripMargin
    },

    // multi-field simple_query_string restated: per-field BM25 runs by
    // the proven scored restatement, boosted and summed with the engine's
    // exact tree (boost·coalesce(score,0), left-to-right sum).
    "q_simple_query_string_fields" -> {
      val s0 = graft.query.Bm25.oracleSqlScored("documents", "doc_id", "text", "src1 merge")
      val s1 = graft.query.Bm25.oracleSqlScored("documents", "doc_id", "source", "src1 merge")
      s"""WITH s0 AS (
         |$s0
         |), s1 AS (
         |$s1
         |)
         |SELECT doc_id,
         |  5.0 * coalesce(s0.score, 0.0) + 1.0 * coalesce(s1.score, 0.0) AS score
         |FROM s0 FULL OUTER JOIN s1 USING (doc_id)
         |ORDER BY score DESC, doc_id ASC LIMIT 20""".stripMargin
    },

    "q_query_string_fields" -> {
      import graft.expr.TextMatch.{containsTokenSql, phrasePrefixSql}
      s"""SELECT doc_id, lang, source FROM documents
         |WHERE (${phrasePrefixSql("text", "merge")}
         |       OR ${phrasePrefixSql("source", "merge")}
         |       OR ${containsTokenSql("text", "src1")}
         |       OR ${containsTokenSql("source", "src1")})
         |  AND lang = 'en'
         |ORDER BY doc_id""".stripMargin
    },

    "g_percentiles_bucket" ->
      """WITH series AS (
        |  SELECT date_trunc('day', ts) AS d, count(*) AS n
        |  FROM events GROUP BY 1)
        |SELECT unnest(CAST([25.0, 50.0, 75.0, 95.0] AS DOUBLE[])) AS percent,
        |       unnest(quantile_cont(n, CAST([0.25, 0.5, 0.75, 0.95] AS DOUBLE[]))) AS value
        |FROM series ORDER BY percent""".stripMargin,

    "esql_lookup_join" ->
      """SELECT count(*) AS n, max(c_acctbal) AS hi, min(c_acctbal) AS lo, n_name
        |FROM customer LEFT JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin,

    "esql_inlinestats" ->
      """WITH w AS (
        |  SELECT l_returnflag, l_quantity,
        |    sum(l_quantity) OVER (PARTITION BY l_returnflag)
        |      / count(*) OVER (PARTITION BY l_returnflag) AS avg_qty
        |  FROM lineitem)
        |SELECT count(*) AS n, l_returnflag FROM w
        |WHERE l_quantity > avg_qty
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q_script_score" -> {
      val scored = graft.query.Bm25.oracleSqlScored(
        "documents", "doc_id", "text", "dup vector")
      s"""WITH s AS (
         |$scored
         |)
         |SELECT s.doc_id, s.score * 0.5 + d2.n_chars / 1000.0 AS score
         |FROM s JOIN documents d2 ON s.doc_id = d2.doc_id
         |ORDER BY score DESC, s.doc_id ASC LIMIT 20""".stripMargin
    },

    "esql_sample" -> {
      val unit = ops.Sampling.hashUnitSql("doc_id", 42)
      s"""SELECT count(*) AS n, count(DISTINCT lang) AS langs, source
         |FROM documents
         |WHERE $unit < 0.25
         |GROUP BY source ORDER BY source""".stripMargin
    },

    "esql_pipeline" -> {
      val unit = ops.Sampling.hashUnitSql("event_id", 42)
      s"""WITH sampled AS (
         |  SELECT event_id, event_type, ts,
         |    CAST(NULLIF(regexp_extract(props, '^\\{"k": (.*)\\}$$', 1), '') AS INTEGER) AS k
         |  FROM events WHERE $unit < 0.5
         |), w AS (
         |  SELECT event_type, ts, k,
         |    sum(k) OVER (PARTITION BY event_type)
         |      / count(*) OVER (PARTITION BY event_type) AS avg_k
         |  FROM sampled
         |)
         |SELECT count(*) AS n, max(k) AS hi,
         |  CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, event_type
         |FROM w WHERE k > avg_k
         |GROUP BY day, event_type
         |ORDER BY day, event_type LIMIT 50""".stripMargin
    },

    "esql_stats_where" ->
      """SELECT count(*) FILTER (WHERE l_returnflag = 'R') AS n_ret,
        |  sum(l_quantity) FILTER (WHERE l_returnflag = 'R') AS qty_ret,
        |  count(*) AS n, l_linestatus
        |FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin,

    "esql_functions" ->
      """SELECT doc_id, md5(lang) AS h, sha256(source) AS s2,
        |  to_base64(lang::BLOB) AS b, reverse(source) AS r,
        |  trunc(n_chars / 7.0 * 10.0) / 10.0 AS t,
        |  CAST(sign(n_chars - 500) AS DOUBLE) AS sg,
        |  bit_length(source) AS bl
        |FROM documents WHERE doc_id < 30 ORDER BY doc_id""".stripMargin,

    "esql_match" -> {
      import graft.expr.TextMatch.containsTokenSql
      s"""SELECT count(*) AS n, lang FROM documents
         |WHERE (${containsTokenSql("text", "hash")}
         |       OR ${containsTokenSql("text", "join")})
         |  AND NOT ${containsTokenSql("text", "batch scan")}
         |GROUP BY lang ORDER BY lang""".stripMargin
    },

    "esql_qstr" -> {
      import graft.expr.TextMatch.{containsTokenSql, phrasePrefixSql}
      s"""SELECT count(*) AS n, source FROM documents
         |WHERE (${containsTokenSql("text", "hash join")}
         |       OR ${phrasePrefixSql("text", "merge")})
         |  AND lang = 'en'
         |GROUP BY source ORDER BY source""".stripMargin
    },

    "esql_kql" -> {
      import graft.expr.TextMatch.phrasePrefixSql
      s"""SELECT count(*) AS n, lang FROM documents
         |WHERE lang IN ('en', 'de') AND n_chars >= 200
         |  AND ${phrasePrefixSql("text", "merge")}
         |GROUP BY lang ORDER BY lang""".stripMargin
    },

    // trig restatements: TANH via its exp identity and HYPOT via the naive
    // sqrt (DuckDB ships neither) — ROUND(…, 6) absorbs the formula-level
    // ulp deltas on both sides.
    "esql_trig" ->
      """SELECT doc_id,
        |  round(sin(doc_id / 10.0), 6) AS s,
        |  round(cos(doc_id / 10.0), 6) AS c,
        |  round(atan2(doc_id / 10.0, 1.0 + doc_id / 10.0), 6) AS a2,
        |  round(asin(doc_id / 10.0 / 3.0), 6) AS asn,
        |  round(degrees(doc_id / 10.0), 6) AS dg,
        |  round(sqrt((doc_id / 10.0) * (doc_id / 10.0) + 1.0), 6) AS hy,
        |  round((exp(2 * (doc_id / 10.0)) - 1) / (exp(2 * (doc_id / 10.0)) + 1), 6) AS th,
        |  CAST(24.0 AS DOUBLE) AS sb
        |FROM documents WHERE doc_id < 30 ORDER BY doc_id""".stripMargin,

    "esql_mv_stats" ->
      """WITH l AS (
        |  SELECT doc_id, lang, source, n_chars,
        |    [CAST(n_chars AS DOUBLE), CAST(doc_id * 7 % 100 AS DOUBLE),
        |     CAST(doc_id AS DOUBLE)] AS parts
        |  FROM documents WHERE doc_id < 40
        |)
        |SELECT doc_id,
        |  list_aggregate(parts, 'median') AS med,
        |  list_aggregate(list_transform(parts,
        |    x -> abs(x - list_aggregate(parts, 'median'))), 'median') AS mad,
        |  list_aggregate(parts, 'quantile_cont', 0.75) AS p75,
        |  round(parts[1] / 1.0 + parts[2] / pow(2.0, 1.5) + parts[3] / pow(3.0, 1.5), 6) AS ps,
        |  lang || '|' || CAST(n_chars AS VARCHAR) || ';' || source AS z
        |FROM l ORDER BY doc_id""".stripMargin,

    "esql_date_parse_ip" ->
      """SELECT doc_id,
        |  strftime(strptime('2024/03/0' || CAST(doc_id % 9 + 1 AS VARCHAR)
        |      || ' 07:0' || CAST(doc_id % 10 AS VARCHAR), '%Y/%m/%d %H:%M'),
        |    '%Y-%m-%d %H:%M') AS d,
        |  '10.' || CAST(doc_id % 256 AS VARCHAR) || '.'
        |      || CAST(doc_id * 3 % 256 AS VARCHAR) || '.'
        |      || CAST(doc_id % 250 + 1 AS VARCHAR) AS ip,
        |  '10.' || CAST(doc_id % 256 AS VARCHAR) || '.'
        |      || CAST(doc_id * 3 % 256 AS VARCHAR) || '.'
        |      || CAST(doc_id % 250 + 1 AS VARCHAR) AS v,
        |  '10.' || CAST(doc_id % 256 AS VARCHAR) || '.'
        |      || CAST((doc_id * 3 % 256) // 16 * 16 AS VARCHAR) || '.0' AS pfx,
        |  CAST(NULL AS VARCHAR) AS bad
        |FROM documents WHERE doc_id < 50 ORDER BY doc_id""".stripMargin,

    "esql_spatial" -> {
      val pentagon = Seq(Seq(
        (-60.0, -150.0), (60.0, -150.0), (60.0, -30.0), (-60.0, -30.0),
        (0.0, -90.0)))
      val world = Seq(Seq(
        (-90.0, -180.0), (-90.0, 180.0), (90.0, 180.0), (90.0, -180.0)))
      s"""WITH pts AS (
         |  SELECT c_custkey,
         |    fmod(fmod(c_acctbal, 180.0) + 180.0, 180.0) - 90.0 + 0.001 AS lat,
         |    (c_custkey % 360 + 360) % 360 - 180 + 0.001 AS lon
         |  FROM customer
         |), rel AS (
         |  SELECT c_custkey, lat, lon,
         |    ${geoCrossingsSql(pentagon)} % 2 = 1 AS inside,
         |    ${geoCrossingsSql(world)} % 2 = 1 AS inworld,
         |    round(2 * CAST(6371008.7714 AS DOUBLE) * asin(sqrt(
         |      pow(sin(radians(0.0 - lat) / 2), 2)
         |      + cos(radians(lat)) * cos(radians(0.0)) * pow(sin(radians(0.0 - lon) / 2), 2))), 2) AS d
         |  FROM pts
         |)
         |SELECT count(*) AS n, round(avg(d), 1) AS avg_d, inside
         |FROM rel WHERE inworld GROUP BY inside ORDER BY inside""".stripMargin
    },

    "esql_show_info" ->
      """SELECT '8.18.0-graft' AS version, '2026-01-01T00:00:00.000Z' AS date,
        |  'graft' AS hash""".stripMargin,

    "esql_date_math" ->
      """SELECT doc_id,
        |  strftime(strptime('2024-01-' || CAST(doc_id % 18 + 10 AS VARCHAR), '%Y-%m-%d')
        |    + INTERVAL 1 MONTH, '%Y-%m-%d %H:%M') AS p_month,
        |  strftime(strptime('2024-01-' || CAST(doc_id % 18 + 10 AS VARCHAR), '%Y-%m-%d')
        |    - INTERVAL 14 DAY, '%Y-%m-%d %H:%M') AS m_week,
        |  strftime(strptime('2024-01-' || CAST(doc_id % 18 + 10 AS VARCHAR), '%Y-%m-%d')
        |    + INTERVAL 36 HOUR, '%Y-%m-%d %H:%M') AS p_hour,
        |  CAST(CASE WHEN strpos(substr(text, 10), 'the') > 0
        |       THEN strpos(substr(text, 10), 'the') + 9 ELSE 0 END AS BIGINT) AS loc,
        |  array_to_string(string_split(source, 'r'), '+') AS mvc
        |FROM documents WHERE doc_id < 40 ORDER BY doc_id""".stripMargin,

    "esql_like_list" ->
      """SELECT count(*) AS n, source FROM documents
        |WHERE (source LIKE 'src1%' OR source LIKE 'src2%')
        |  AND NOT (lang LIKE 'e%')
        |GROUP BY source ORDER BY source""".stripMargin,

    "esql_params" ->
      """SELECT count(*) AS n, max(n_chars) AS mx, source FROM documents
        |WHERE lang = 'en' AND n_chars >= 200
        |GROUP BY source ORDER BY source""".stripMargin,

    "esql_params_field" ->
      """SELECT count(*) AS n, l_returnflag FROM lineitem
        |WHERE l_quantity > 45
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    // the dissect modifiers restated: the same anchored RE2 (lazy groups,
    // repeated-separator padding), append joined with the separator
    // RERANK ngram-jaccard restated: the same distinct bigram sets, the
    // same integer intersect/union counts, one exact division
    "esql_rerank" -> {
      val qSh = Seq("dup vector", "vector scan", "scan merge")
        .map(s => s"'$s'").mkString("[", ", ", "]")
      s"""WITH d AS (
         |  SELECT doc_id, $duckToks AS toks FROM documents
         |), s AS (
         |  SELECT doc_id,
         |    CASE WHEN len(toks) >= 2 THEN
         |      list_distinct(list_transform(generate_series(1, len(toks) - 1),
         |        i -> toks[i] || ' ' || toks[i + 1]))
         |    ELSE []::VARCHAR[] END AS sh
         |  FROM d
         |)
         |SELECT doc_id,
         |  len(list_intersect(sh, $qSh))::DOUBLE
         |    / len(list_distinct(list_concat(sh, $qSh)))::DOUBLE AS j
         |FROM s ORDER BY j DESC, doc_id LIMIT 15""".stripMargin
    },

    "esql_dissect_append" -> {
      val rx = "'^(.*?)(?: )+(.*?) (.*)$'"
      s"""WITH d AS (
         |  SELECT n_nationkey,
         |    n_name || '  ' || CAST(n_nationkey AS VARCHAR) || ' ' || n_name AS line
         |  FROM nation
         |)
         |SELECT n_nationkey,
         |  regexp_extract(line, $rx, 1) || '_' || regexp_extract(line, $rx, 3) AS first,
         |  regexp_extract(line, $rx, 2) AS num
         |FROM d ORDER BY n_nationkey""".stripMargin
    },

    "ann_maxsim" -> {
      def tokSum(qt: Seq[Double]): String = {
        val lit = qt.mkString("[", ", ", "]")
        s"""list_max(list_transform(tv, dt -> list_reduce(
           |      list_transform(range(1, 9), j -> CAST(dt[j] AS DOUBLE) * (CAST($lit AS DOUBLE[]))[j]),
           |      (a, b) -> a + b)))""".stripMargin
      }
      s"""WITH toks AS (
         |  SELECT vec_id,
         |    list_transform(range(0, 8), i -> embedding[i*8+1 : i*8+8]) AS tv
         |  FROM embeddings
         |), scored AS (
         |  SELECT vec_id,
         |    ${maxSimQueryTokens.map(tokSum).mkString("\n    + ")} AS score
         |  FROM toks
         |)
         |SELECT vec_id, score FROM scored ORDER BY score DESC, vec_id LIMIT 20""".stripMargin
    },

    "esql_version_sort" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    '1.' || CAST(doc_id % 12 AS VARCHAR) || '.' || CAST(doc_id % 3 AS VARCHAR)
        |      || CASE WHEN doc_id % 4 = 0 THEN '-alpha' ELSE '' END AS v
        |  FROM documents WHERE doc_id < 40
        |)
        |SELECT doc_id, v FROM d
        |ORDER BY array_to_string(list_transform(string_split(v, '.'), seg ->
        |    lpad(regexp_extract(seg, '^([0-9]*)', 1), 12, '0')
        |    || CASE WHEN regexp_extract(seg, '^[0-9]*(.*)$', 1) = ''
        |            THEN '~' ELSE regexp_extract(seg, '^[0-9]*(.*)$', 1) END), '.'),
        |  doc_id""".stripMargin,

    "esql_round_to" ->
      """SELECT count(*) AS n,
        |  CAST(CASE WHEN n_chars >= 400 THEN 400 WHEN n_chars >= 300 THEN 300
        |       WHEN n_chars >= 200 THEN 200 WHEN n_chars >= 100 THEN 100
        |       ELSE 0 END AS DOUBLE) AS band
        |FROM documents WHERE doc_id < 60 GROUP BY band ORDER BY band""".stripMargin,

    "text_readability" ->
      """SELECT doc_id,
        |  CAST(206.835 AS DOUBLE)
        |  - CAST(1.015 AS DOUBLE) *
        |    (CAST(greatest(len(regexp_split_to_array(trim(text), '\s+')), 1) AS DOUBLE)
        |     / CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS DOUBLE))
        |  - CAST(84.6 AS DOUBLE) *
        |    (CAST(greatest(len(regexp_extract_all(lower(text), '[aeiouy]+')), 1) AS DOUBLE)
        |     / CAST(greatest(len(regexp_split_to_array(trim(text), '\s+')), 1) AS DOUBLE)) AS fre
        |FROM documents WHERE doc_id < 80 ORDER BY doc_id""".stripMargin,

    "ann_bbq" -> {
      val qb = bbqQueryVec.zip(bbqThresholds).map { case (q, t) => if (q >= t) 1 else 0 }
      val qbLit = qb.mkString("[", ", ", "]")
      val qLit = bbqQueryVec.mkString("[", ", ", "]")
      s"""WITH c AS (
         |  SELECT vec_id, embedding,
         |    CAST(list_reduce(list_transform(range(1, 65), j ->
         |      CASE WHEN ($qbLit)[j] = 1
         |           THEN CASE WHEN embedding[j] >= 0.0 THEN 1 ELSE 0 END
         |           ELSE CASE WHEN embedding[j] < 0.0 THEN 1 ELSE 0 END END),
         |      (a, b) -> a + b) AS BIGINT) AS hamming
         |  FROM embeddings
         |), cand AS (
         |  SELECT vec_id, embedding, hamming FROM c
         |  ORDER BY hamming DESC, vec_id LIMIT 60
         |)
         |SELECT vec_id, hamming,
         |  list_reduce(list_transform(range(1, 65), j ->
         |    CAST(embedding[j] AS DOUBLE) * (CAST($qLit AS DOUBLE[]))[j]),
         |    (a, b) -> a + b) AS score
         |FROM cand ORDER BY score DESC, vec_id LIMIT 15""".stripMargin
    },

    // ES|QL KNN restated: (1 + dot)/2 over the same dyadic literal vector
    // — list_inner_product folds in the same sequential order as the
    // engine's codegen'd kernel, so the score is bit-identical.
    "esql_knn" -> {
      val qLit = knnQueryVec.mkString("[", ", ", "]")
      s"""WITH s AS (
         |  SELECT vec_id,
         |    (1.0 + list_inner_product(embedding::DOUBLE[], CAST($qLit AS DOUBLE[]))) / 2.0 AS _score
         |  FROM embeddings
         |), cut AS (
         |  SELECT vec_id, _score FROM s ORDER BY _score DESC, vec_id LIMIT 25
         |)
         |SELECT vec_id, _score FROM cut ORDER BY vec_id""".stripMargin
    },

    // pre-filter → cosine top-40 → post-filter, operation-for-operation:
    // dot / (sqrt(n_a)·sqrt(n_b)), then ES's (1+cos)/2 transform.
    "esql_knn_prefiltered" -> {
      val qLit = knnQueryVec.mkString("[", ", ", "]")
      s"""WITH e AS (
         |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id % 3 = 0
         |), s AS (
         |  SELECT vec_id,
         |    (1.0 + list_inner_product(v, CAST($qLit AS DOUBLE[]))
         |      / (sqrt(list_inner_product(v, v))
         |         * sqrt(list_inner_product(CAST($qLit AS DOUBLE[]), CAST($qLit AS DOUBLE[]))))) / 2.0 AS _score
         |  FROM e
         |), cut AS (
         |  SELECT vec_id, _score FROM s ORDER BY _score DESC, vec_id LIMIT 40
         |)
         |SELECT vec_id, _score FROM cut WHERE _score > 0.62 ORDER BY vec_id""".stripMargin
    },

    "esql_metadata_index" ->
      """SELECT n, _index FROM (
        |  SELECT CAST(count(*) AS BIGINT) AS n, 'region' AS _index FROM region
        |  UNION ALL
        |  SELECT CAST(count(*) AS BIGINT) AS n, 'nation' AS _index FROM nation
        |) ORDER BY _index""".stripMargin,

    // the search_bm25 scoring tree verbatim (the shared generator) — the
    // ES|QL front-end is invisible to results, the repo's standing trick
    "esql_match_score" -> {
      val scored = graft.query.Bm25.oracleSqlScored(
        "documents", "doc_id", "text", "dup vector scan")
      s"""WITH s AS (
         |$scored
         |)
         |SELECT doc_id, score AS _score FROM s
         |ORDER BY _score DESC, doc_id LIMIT 15""".stripMargin
    },

    // phrase scoring restated: the shared pseudo-term generator (TF =
    // sequence positions, DF = docs containing the phrase)
    "esql_match_phrase_score" -> {
      val scored = graft.query.Bm25.oracleSqlScoredPhrase(
        "documents", "doc_id", "text", "vector scan")
      s"""WITH s AS (
         |$scored
         |)
         |SELECT doc_id, score AS _score FROM s
         |ORDER BY _score DESC, doc_id LIMIT 15""".stripMargin
    },

    // cross_fields × AND: every term in at least one field
    "esql_multi_match" -> {
      import graft.expr.TextMatch.containsTokenSql
      def anyField(t: String) =
        s"(${containsTokenSql("p_name", t)} OR ${containsTokenSql("p_type", t)})"
      s"""SELECT p_partkey FROM part
         |WHERE ${anyField("small")} AND ${anyField("bolt")}
         |ORDER BY p_partkey""".stripMargin
    },

    "esql_enrich_range" ->
      """WITH bands(lo, hi, band) AS (
        |  VALUES (1, 10, 'small'), (11, 25, 'mid'), (26, 50, 'large')
        |)
        |SELECT count(*)::BIGINT AS n, band
        |FROM part JOIN bands ON p_size BETWEEN lo AND hi
        |GROUP BY band ORDER BY band""".stripMargin,

    "q_kql_nested" ->
      """SELECT DISTINCT l_orderkey AS oid FROM lineitem
        |WHERE l_returnflag = 'R' AND l_quantity > 45
        |ORDER BY oid""".stripMargin,

    "esql_ts_gauge" ->
      """WITH i AS (
        |  SELECT event_type, date_trunc('hour', ts) AS b, user_id,
        |    max(value) AS mx, min(value) AS mn, count(value) AS c
        |  FROM events GROUP BY 1, 2, 3
        |)
        |SELECT max(mx) AS peak,
        |  CAST(round(CAST(avg(CAST(mn AS DECIMAL(18,4))) AS DECIMAL(28,8)), 4)
        |       AS DOUBLE) AS floor_avg,
        |  max(c) AS active, event_type, b
        |FROM i GROUP BY event_type, b ORDER BY event_type, b LIMIT 40""".stripMargin,

    "esql_cast_hash" ->
      """SELECT doc_id,
        |  CAST(n_chars AS DOUBLE) / 7.0 AS a,
        |  CAST(doc_id AS VARCHAR) AS b,
        |  CAST(n_chars > 200 AS VARCHAR) AS flag,
        |  md5(source) AS hm,
        |  sha256(lang || source) AS hs
        |FROM documents WHERE doc_id < 30 ORDER BY doc_id""".stripMargin,

    "esql_change_point" ->
      """WITH s AS (
        |  SELECT date_trunc('day', ts) AS b, count(*)::BIGINT AS c
        |  FROM events GROUP BY 1
        |), x AS (
        |  SELECT b, c, row_number() OVER (ORDER BY b)::BIGINT AS k,
        |    sum(c) OVER (ORDER BY b
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS s1,
        |    count(*) OVER ()::BIGINT AS n,
        |    sum(c) OVER ()::BIGINT AS tot,
        |    lead(b) OVER (ORDER BY b) AS nxt
        |  FROM s
        |), y AS (
        |  SELECT strftime(nxt, '%Y-%m-%d') AS day,
        |    abs(s1 * (n - k) - (tot - s1) * k)::DOUBLE /
        |      (k * (n - k))::DOUBLE AS pvalue,
        |    b
        |  FROM x WHERE k < n
        |)
        |SELECT day, 'step_change' AS type, pvalue FROM y
        |ORDER BY pvalue DESC, b LIMIT 1""".stripMargin,

    "esql_fork_fuse" ->
      """WITH b1 AS (
        |  SELECT doc_id, CAST(n_chars AS DOUBLE) AS s FROM documents
        |  WHERE lang = 'en' ORDER BY s DESC, doc_id LIMIT 10),
        |b2 AS (
        |  SELECT doc_id, CAST(doc_id % 97 AS DOUBLE) AS s FROM documents
        |  WHERE lang = 'en' ORDER BY s DESC, doc_id LIMIT 10),
        |u AS (
        |  SELECT doc_id, 1.0 / (60 + row_number() OVER (ORDER BY s DESC, doc_id)) AS c FROM b1
        |  UNION ALL
        |  SELECT doc_id, 1.0 / (60 + row_number() OVER (ORDER BY s DESC, doc_id)) AS c FROM b2)
        |SELECT doc_id, sum(c) AS _score FROM u
        |GROUP BY doc_id ORDER BY _score DESC, doc_id LIMIT 15""".stripMargin,

    // CATEGORIZE restated: g_categorize_text's template SQL with the
    // null group kept (the grouping-function delta from the agg's
    // drop — stated in the compiler's scaladoc).
    "esql_categorize" ->
      s"""WITH t AS (
         |  SELECT doc_id, nullif(array_to_string(list_transform($duckToks,
         |    t -> CASE WHEN regexp_matches(t, '[0-9]') THEN '*' ELSE t END),
         |    ' '), '') AS category
         |  FROM documents
         |)
         |SELECT count(*)::BIGINT AS count, min(doc_id) AS example_id, category
         |FROM t GROUP BY category
         |ORDER BY count DESC, category LIMIT 10""".stripMargin,

    "esql_bucket_numeric" ->
      """SELECT count(*)::BIGINT AS n,
        |  (floor(n_chars / 200.0) * 200.0)::BIGINT AS b
        |FROM documents GROUP BY 2 ORDER BY b""".stripMargin,

    // DATE_DIFF/DATE_EXTRACT restated: DuckDB's date_diff counts day
    // boundaries — equal to the engine's trunc((e-s)/day) exactly
    // because the start is midnight-aligned and every diff is positive;
    // isodow is the ISO day_of_week both sides use.
    "esql_date_functions" ->
      """WITH e AS (
        |  SELECT date_diff('day', TIMESTAMP '2023-12-01 00:00:00', ts) AS dd,
        |         isodow(ts)::BIGINT AS dow
        |  FROM events)
        |SELECT count(*) AS n, min(dd)::BIGINT AS lo, max(dd)::BIGINT AS hi, dow
        |FROM e GROUP BY dow ORDER BY dow""".stripMargin,

    // INLINESTATS rewrite restated: the per-group median as a window
    // aggregate (DuckDB's median ≡ quantile_cont(0.5) ≡ Spark's
    // interpolated MEDIAN), the filter, then the count.
    "esql_inlinestats_median" ->
      """WITH w AS (
        |  SELECT lang, n_chars,
        |    median(n_chars) OVER (PARTITION BY lang) AS med
        |  FROM documents)
        |SELECT count(*) AS n, lang FROM w
        |WHERE n_chars > med
        |GROUP BY lang ORDER BY lang""".stripMargin,

    "esql_inlinestats_global" ->
      """SELECT doc_id, n_chars FROM documents
        |WHERE n_chars = (SELECT max(n_chars) FROM documents)
        |ORDER BY doc_id""".stripMargin,

    // TS + RATE restated: g_time_series_rate's oracle verbatim, renamed
    // columns only (the front-end is invisible to the result).
    "esql_ts_rate" ->
      """WITH c AS (
        |  SELECT event_type, ts, event_id,
        |    (row_number() OVER (PARTITION BY event_type
        |       ORDER BY ts, event_id) * 7) % 1000 AS ctr
        |  FROM events
        |), d AS (
        |  SELECT event_type, ts, ctr,
        |    lag(ctr) OVER (PARTITION BY event_type
        |      ORDER BY ts, event_id) AS prev
        |  FROM c
        |)
        |SELECT event_type, date_trunc('hour', ts) AS bucket,
        |  sum(CASE WHEN prev IS NULL THEN 0
        |           WHEN ctr >= prev THEN ctr - prev
        |           ELSE ctr END)::BIGINT AS increase,
        |  sum(CASE WHEN prev IS NULL THEN 0
        |           WHEN ctr >= prev THEN ctr - prev
        |           ELSE ctr END)::DOUBLE / 3600.0 AS rate
        |FROM d GROUP BY 1, 2
        |ORDER BY event_type, bucket""".stripMargin,

    // FUSE linear restated: per-branch min-max over each top-10 window,
    // the same weight-times-normalized tree (multiplication commutes
    // exactly in IEEE; the 2-branch sum is order-free).
    "esql_fork_fuse_linear" ->
      """WITH b1 AS (
        |  SELECT doc_id, CAST(n_chars AS DOUBLE) AS s FROM documents
        |  WHERE lang = 'en' ORDER BY s DESC, doc_id LIMIT 10),
        |b2 AS (
        |  SELECT doc_id, CAST(doc_id % 97 AS DOUBLE) AS s FROM documents
        |  WHERE lang = 'en' ORDER BY s DESC, doc_id LIMIT 10),
        |u AS (
        |  SELECT doc_id,
        |    (CASE WHEN mx = mn THEN 1.0 ELSE (s - mn) / (mx - mn) END) * 0.7 AS c
        |  FROM (SELECT doc_id, s, min(s) OVER () AS mn, max(s) OVER () AS mx FROM b1)
        |  UNION ALL
        |  SELECT doc_id,
        |    (CASE WHEN mx = mn THEN 1.0 ELSE (s - mn) / (mx - mn) END) * 0.3 AS c
        |  FROM (SELECT doc_id, s, min(s) OVER () AS mn, max(s) OVER () AS mx FROM b2))
        |SELECT doc_id, sum(c) AS _score FROM u
        |GROUP BY doc_id ORDER BY _score DESC, doc_id LIMIT 15""".stripMargin,

    "esql_topk" ->
      """SELECT doc_id,
        |  n_chars / 100.0 + CASE WHEN source = 'src0' THEN 2
        |    WHEN source = 'src1' THEN 1 ELSE 0 END AS score
        |FROM documents WHERE lang = 'en'
        |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin,
  ))
}
