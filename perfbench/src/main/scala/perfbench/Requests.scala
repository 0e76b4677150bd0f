package perfbench

import scala.util.Random

/** One HTTP request of a workload: route plus the exact body bytes. */
final case class Req(route: String, body: String)

/** Seeded request generators. Nothing here reads the program's output:
  * every request is a function of the seed, the client and the script
  * number, so two runs with one seed send the same requests.
  */
object Requests {

  private def q(s: String): String = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  /** A widget selection, in the wire shape its dictionary type takes. */
  sealed trait Sel
  final case class Text(prefix: String) extends Sel
  final case class Enum(values: Seq[String]) extends Sel
  final case class Range(lo: Int, hi: Int) extends Sel

  /** Widget fields of the federated city dictionary, by how the rollup
    * serves them: the first group is inside the dashboard rollup's
    * dimensions, the second is not, so a state that touches the second is
    * served by a scan of the federated view.
    */
  val cubeFields: Seq[String] = Seq("description", "city", "dayofweek", "hour", "year")
  val offCubeFields: Seq[String] = Seq("month", "day")
  val cubeDims: Seq[String] = Seq("dataset", "description", "city", "dayofweek", "hour", "year", "geohash")

  private lazy val descriptionWords: Seq[String] = {
    import graft.etl.CityRecipes._
    (baltimoreDescr ++ detroitDescr ++ losAngelesDescr)
      .flatMap(_._2.toLowerCase.split("[^a-z0-9]+")).filter(_.length >= 4).distinct.sorted
  }
  private val days = Seq("Monday", "Tuesday", "Wednesday", "Thursday", "Friday", "Saturday", "Sunday")

  /** A widget state: the selected fields in widget order. */
  type State = Seq[(String, Sel)]

  def stateJson(st: State): String = st.zipWithIndex.map { case ((f, sel), i) =>
    val v = sel match {
      case Text(p) => q(p)
      case Enum(vs) => vs.map(q).mkString("[", ", ", "]")
      case Range(lo, hi) => s"[$lo, $hi]"
    }
    s"""{"name": ${q(f)}, "value": $v, "enabled": {"state": true, "lastEnabled": ${i + 1}}}"""
  }.mkString("[", ", ", "]")

  /** The SQL predicate a state compiles to, for the DuckDB oracle. */
  def stateSql(st: State): String =
    if (st.isEmpty) "TRUE"
    else st.map {
      case (f, Text(p)) => graft.expr.TextMatch.phrasePrefixSql(f, p)
      case (f, Enum(vs)) => vs.map(v => "'" + v.replace("'", "''") + "'").mkString(s"$f IN (", ", ", ")")
      case (f, Range(lo, hi)) => s"$f >= $lo AND $f <= $hi"
    }.mkString(" AND ")

  def covered(st: State, extra: Seq[String] = Nil): Boolean =
    (st.map(_._1) ++ extra).forall(cubeDims.contains)

  private def randomSel(r: Random, field: String): Sel = {
    def range(lo: Int, hi: Int) = { val a = lo + r.nextInt(hi - lo + 1); Range(a, a + r.nextInt(hi - a + 1)) }
    field match {
      case "description" => val w = descriptionWords(r.nextInt(descriptionWords.size)); Text(w.take(3 + r.nextInt(w.length - 2)))
      case "city" => Text(Seq("baltimore", "detroit", "losangeles")(r.nextInt(3)).take(3 + r.nextInt(4)))
      case "dayofweek" => Enum(r.shuffle(days).take(1 + r.nextInt(3)))
      case "month" => Enum(r.shuffle((1 to 12).map(_.toString)).take(1 + r.nextInt(4)).sortBy(_.toInt))
      case "hour" => range(0, 23)
      case "year" => range(2010, 2017)
      case "day" => range(1, 31)
    }
  }

  /** One step away from `st`, touching only `pool` fields: add a widget
    * (at most three), change one, or drop one and add another.
    */
  private def refine(r: Random, st: State, pool: Seq[String]): State = {
    val unused = pool.filterNot(f => st.exists(_._1 == f))
    val inPool = st.indices.filter(i => pool.contains(st(i)._1))
    if (unused.nonEmpty && (st.size < 3 || inPool.isEmpty)) {
      val f = unused(r.nextInt(unused.size))
      (if (st.size >= 3) st.tail else st) :+ (f -> randomSel(r, f))
    } else {
      val i = inPool(r.nextInt(inPool.size))
      st.updated(i, st(i)._1 -> randomSel(r, st(i)._1))
    }
  }

  /** Web-Mercator tile of a point at zoom `z` (the map's drill-down target). */
  def tile(lat: Double, lon: Double, z: Int): (Long, Long) = {
    val n = 1L << z
    val x = math.floor((lon + 180.0) / 360.0 * n).toLong
    val rad = lat * math.Pi / 180.0
    val y = math.floor((1.0 - math.log(math.tan(rad) + 1.0 / math.cos(rad)) / math.Pi) / 2.0 * n).toLong
    (x, y)
  }

  private val centres = Seq((39.29, -76.61), (42.35, -83.08), (34.05, -118.25))

  /** The fixed shape of a session: which fields each refinement may touch
    * ("saved" is the saved dashboard's state, "cube" keeps the state inside
    * the rollup, "off" adds or changes an off-cube widget so a scan serves
    * it, "back" returns to the state two steps earlier, exactly). Every script has this shape; only the values come
    * from the seed, so the route mix and the rollup/scan split are the
    * same in every run.
    */
  private val shape = Seq("saved", "cube", "off", "cube", "back", "off", "cube")

  /** A session script of ten steps (user interactions) of two requests
    * each: the page load (`/fields`, the map at z4); seven widget-state
    * refinements, each re-rendering the dashboard plus one panel (a
    * significant-terms panel after even steps, a histogram after odd ones);
    * a typeahead typed one character at a time; and a map drill-down
    * z4 -> z6 -> z8. Every step has two requests so that step times are
    * comparable. Returns the steps and the states posted.
    */
  def dashboardScript(seed: Long, n: Int): (Seq[Seq[Req]], Seq[State]) = {
    val r = new Random(seed * 1000003L + n)
    val steps = Seq.newBuilder[Seq[Req]]
    val states = Seq.newBuilder[State]
    steps += Seq(Req("/fields", "{}"), Req("/geotile", """{"z": 4, "size": 10}"""))
    val history = scala.collection.mutable.ArrayBuffer[State](Seq("year" -> Range(2015, 2017)))
    shape.zipWithIndex.foreach { case (kind, i) =>
      val st = kind match {
        case "saved" => history.head
        case "back" => history(history.size - 2)
        case "off" => refine(r, history.last, offCubeFields)
        case _ => refine(r, history.last.filter(s => cubeFields.contains(s._1)), cubeFields)
      }
      history += st
      states += st
      val panel =
        if (i % 2 == 1)
          Req("/histogram", s"""{"field": ${q(if (i == 3) "month" else "hour")}, "interval": 1, "state": ${stateJson(st)}}""")
        else Req("/significant", s"""{"field": "description", "size": 10, "state": ${stateJson(st)}}""")
      steps += Seq(Req("/dashboard", stateJson(st)), panel)
    }
    val word = descriptionWords(r.nextInt(descriptionWords.size))
    steps += (1 to 2).map(i => Req("/suggest", s"""{"field": "description", "prefix": ${q(word.take(i))}, "size": 10}"""))
    val (lat, lon) = centres(r.nextInt(centres.size))
    val (x4, y4) = tile(lat, lon, 4)
    val (x6, y6) = tile(lat, lon, 6)
    steps += Seq(Req("/geotile", s"""{"cell": "4/$x4/$y4", "z": 6, "size": 10}"""),
      Req("/geotile", s"""{"cell": "6/$x6/$y6", "z": 8, "size": 10}"""))
    (steps.result(), states.result())
  }

  /** Client `c`'s share of a script played by `clients` clients: its
    * `c`-th contiguous slice of the steps, so that one round of the clients
    * sends every step of the script exactly once.
    */
  def share(steps: Seq[Seq[Req]], c: Int, clients: Int): Seq[Seq[Req]] =
    steps.slice(c * steps.size / clients, (c + 1) * steps.size / clients)

  /** Untimed first request of each dashboard route (set-up). */
  val dashboardFirst: Seq[Req] = Seq(
    Req("/fields", "{}"),
    Req("/dashboard", ""),
    Req("/histogram", """{"field": "hour", "interval": 1}"""),
    Req("/significant", """{"field": "description", "size": 5, "state": [{"name": "year", "value": [2012, 2013], "enabled": {"state": true}}]}"""),
    Req("/suggest", """{"field": "description", "prefix": "zz", "size": 1}"""),
    Req("/geotile", """{"z": 2, "size": 3}"""))
}
