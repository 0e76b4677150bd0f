package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.etl.CityRecipes
import graft.query.{Aggs, Federation, FieldCollection, Widgets}
import graft.store.Sources
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Engine-direct answers to served dashboard requests, computed outside
  * the timed window in a session of the benchmark's own (`server` is the
  * serving session, read only for the widget fields it typed). Each route
  * is answered from a scan of the federated view: the server may answer
  * from its rollup, so a rollup that disagrees with the scan shows here.
  */
final class Reference(spark: SparkSession, cityDir: String, server: SparkSession) {
  private val mapper = new ObjectMapper()

  /** Each city's published (harmonized, at-rest) frame. */
  val published: Seq[(String, DataFrame)] = {
    val shared = Seq("geolocation", "year", "month", "day", "hour", "minute", "datetime", "dayofweek", "city")
    Seq(
      ("baltimore", CityRecipes.baltimore, "Baltimore", Seq("crimecode", "description", "description_orig")),
      ("detroit", CityRecipes.detroit, "Detroit", Seq("crimeid", "description", "location")),
      ("losangeles", CityRecipes.losAngeles, "LosAngeles", Seq("crime_identifier", "description", "gang_related"))
    ).map { case (name, recipe, csv, head) =>
      val df = recipe.harmonize(Sources.csvAllStrings(spark, s"$cityDir/$csv.csv")).df
      name -> df.select((head ++ shared).map {
        case "datetime" => date_format(col("datetime"), "yyyy-MM-dd HH:mm:ss").as("datetime")
        case c => col(c)
      }: _*)
    }
  }

  /** Harmonized rows per city, for the workload's recorded properties. */
  def keptRows: Seq[(String, Double)] = published.map { case (c, df) => s"rows_kept_$c" -> df.count().toDouble }

  lazy val fed: DataFrame =
    Federation(published.map { case (c, df) => s"${c}_harmonized" -> df.withColumn("dataset", lit(c)) }: _*)
      .view("*harmonized*").cache()

  private lazy val cityFields = Reference.cityFields(server)

  /** The engine-direct answer as JSON rows, or None for routes whose check
    * is the DuckDB oracle instead (`/dashboard`, `/fields`).
    */
  def answer(req: Req): Option[String] = {
    val o = if (req.body.trim.isEmpty) mapper.createObjectNode() else mapper.readTree(req.body)
    def state(node: JsonNode) =
      Widgets.fromJson(cityFields, if (node.isMissingNode || node.isNull) "[]" else node.toString)
    val df: Option[DataFrame] = req.route match {
      case "/histogram" =>
        Some(Aggs.numericHistogram(fed.where(state(o.path("state")).compile),
          o.path("field").asText("hour"), o.path("interval").asDouble(1.0)))
      case "/significant" =>
        val field = o.path("field").asText("description")
        Some(Aggs.significantTerms(fed, array(col(field)), state(o.path("state")).compile,
          o.path("size").asInt(10)))
      case "/suggest" =>
        Some(Aggs.typeahead(fed, o.path("field").asText("description"), o.path("prefix").asText(""),
          o.path("size").asInt(10)))
      case "/geotile" =>
        val parts = split(col("geolocation"), ",")
        val coords = fed.where(length(col("geolocation")) > 0)
          .withColumn("_lat", parts.getItem(0).cast("double"))
          .withColumn("_lon", parts.getItem(1).cast("double"))
        val z = o.path("z").asInt(4)
        val cell = o.path("cell").asText("")
        val inCell =
          if (cell.isEmpty) coords
          else {
            val Array(cz, cx, cy) = cell.split("/")
            val Seq(tx, ty) = Aggs.geoTileXY(col("_lat"), col("_lon"), cz.toInt)
            coords.where(tx === cx.toLong && ty === cy.toLong)
          }
        Some(Aggs.geoTileGrid(inCell, "_lat", "_lon", z, o.path("size").asInt(10)))
      case _ => None
    }
    df.map(_.toJSON.collect().mkString("[", ",", "]"))
  }

  /** Rows as a sorted list of canonical strings: fields in name order,
    * doubles to 9 significant digits, row order ignored.
    */
  def canon(json: String): Seq[String] = {
    val arr = mapper.readTree(json)
    (0 until arr.size()).map { i =>
      val row = arr.get(i)
      val names = scala.collection.mutable.ArrayBuffer.empty[String]
      row.fieldNames().forEachRemaining(n => names += n)
      names.sorted.map { n =>
        val v = row.get(n)
        val s = if (v.isFloatingPointNumber) f"${v.asDouble()}%.9g" else v.toString
        s"$n=$s"
      }.mkString("|")
    }.sorted
  }
}

object Reference {
  /** The widget fields the server typed from its city dictionary. The
    * check compares answers, not the dictionary, so it reuses these rather
    * than profile the cities a second time.
    */
  def cityFields(server: SparkSession): FieldCollection = Widgets.fieldsFromDictionary(
    Seq("baltimore", "detroit", "losangeles").map(c => server.table(s"graft_dict_city_$c"))
      .reduce(_.unionByName(_)))
}
