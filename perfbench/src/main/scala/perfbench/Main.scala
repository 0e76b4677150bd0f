package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import com.sun.net.httpserver.HttpServer
import graft.SparkEntry
import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side: builds a `local[nproc]` session, serves
  * `SparkEntry.serveHttp` in-process (`dashboard_session`) or runs registry
  * queries in-process (`pipeline_batch`), measures, checks outputs and
  * writes `result.json` for `perfbench/run.py`, which prints the result.
  *
  * Usage: perfbench.Main <workload> <seed> <seconds> <trace 0|1> <corpusDir>
  *   <cityDir> <workDir>
  */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      corpus: String, cities: String, work: String)

  /** The pipeline_batch registry list: one query per layer it stresses.
    * Harmonization of the events table (`p_harmonize_events`), eager jobs
    * while the DataFrame is built (`pipeline_curate`), a salted skew join
    * whose both sides shuffle (`join_salted`), a profiling scan that
    * `count()` prunes (`text_profile`) and a write next to its reads
    * (`dict_profile_incremental`).
    */
  val batchQueries: Seq[String] = Seq("p_harmonize_events", "dict_profile_incremental", "text_profile",
    "join_salted", "pipeline_curate")

  val mapper = new ObjectMapper()

  /** Metrics in print order: name -> (value, unit). */
  final class Metrics {
    val m = mutable.LinkedHashMap.empty[String, (Double, String)]
    def update(name: String, unit: String, v: Double): Unit = m(name) = (v, unit)
  }

  /** Output checks collected outside the timed window. */
  final class Checks {
    val mismatches = ArrayBuffer.empty[String]
    val oracle = ArrayBuffer.empty[ObjectNode] // checked by run.py in DuckDB
    var checked = 0
    def sql(name: String, sql: String, rowsJson: Option[String], parquet: Option[String]): Unit = {
      val n = mapper.createObjectNode().put("name", name).put("sql", sql)
      rowsJson.foreach(n.put("rows_json", _))
      parquet.foreach(n.put("parquet", _))
      oracle += n
    }
  }

  def main(argv: Array[String]): Unit = {
    val Array(w, seed, secs, tr, corpus, cities, work) = argv
    val a = Args(w, seed.toLong, secs.toDouble, tr == "1", corpus, cities, work)
    val startNs = System.nanoTime() -
      (System.currentTimeMillis() - java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) * 1000000L
    val cpus = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val metrics = new Metrics
    val checks = new Checks
    val failures = ArrayBuffer.empty[String]
    val props = mutable.LinkedHashMap.empty[String, Double]
    val tracer = new Tracer
    val attempted = a.workload match {
      case "dashboard_session" =>
        new ServingRun(spark, a, startNs, metrics, checks, failures, props, tracer).dashboard()
      case "pipeline_batch" =>
        new BatchRun(spark, a, startNs, metrics, checks, failures, props, tracer).run()
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val out = mapper.createObjectNode()
    out.put("workload", a.workload).put("attempted", attempted).put("checked", checks.checked)
    val ms = out.putObject("metrics")
    metrics.m.foreach { case (k, (v, u)) => ms.putObject(k).put("value", v).put("unit", u) }
    val ps = out.putObject("properties")
    props.foreach { case (k, v) => ps.put(k, v) }
    val fs = out.putArray("failures")
    failures.foreach(fs.add)
    val mm = out.putArray("mismatches")
    checks.mismatches.foreach(mm.add)
    val oc = out.putArray("oracle")
    checks.oracle.foreach(oc.add)
    if (a.trace) {
      val sp = out.putArray("spans")
      tracer.allSpans.foreach { s =>
        sp.addObject().put("id", s.id).put("parent", s.parent).put("trace", s.trace).put("name", s.name)
          .put("start_ms", (s.startNs - startNs) / 1e6).put("end_ms", (s.endNs - startNs) / 1e6)
      }
    }
    mapper.writeValue(new java.io.File(s"${a.work}/result.json"), out)
    spark.stop()
    // the JDK HTTP server's dispatcher is a non-daemon thread
    System.exit(0)
  }

  /** Heap in use after forced full collections. Spark's ContextCleaner
    * releases shuffle and broadcast state only after a collection finds its
    * owner unreachable, so collect, let it run, and collect again.
    */
  def liveHeapMb(): Double = {
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    for (_ <- 0 until 4) { mem.gc(); Thread.sleep(250) }
    mem.getHeapMemoryUsage.getUsed / 1048576.0
  }

}

/** dashboard_session: set up the server once, cold, then drive it with
  * closed-loop clients.
  */
final class ServingRun(spark: SparkSession, a: Main.Args, startNs: Long, metrics: Main.Metrics,
    checks: Main.Checks, failures: ArrayBuffer[String], props: mutable.LinkedHashMap[String, Double],
    tracer: Tracer) {
  import Main._

  private var server: HttpServer = _
  private val firstRoute = mutable.LinkedHashMap.empty[String, Double] // setup.first_<route>_s

  /** Start the server on the process's session and send the first request
    * of every route; set-up time runs from process start.
    */
  private def setUp(first: Seq[Req]): Unit = {
    server = SparkEntry.serveHttp(spark, a.corpus)
    val client = new Client(server.getAddress.getPort, -1)
    first.foreach { r =>
      val s = client.send(r)
      if (!s.ok) throw new IllegalStateException(s"set-up request ${r.route} failed: ${s.error.get}")
      firstRoute.getOrElseUpdate(s"setup.first_${r.route.stripPrefix("/")}_s", s.ms / 1000)
    }
    client.close()
    metrics("setup_s", "s") = (System.nanoTime() - startNs) / 1e9
    System.err.println(f"[perfbench] set-up: ${metrics.m("setup_s")._1}%.1f s; first requests: " +
      firstRoute.map { case (k, v) => f"$k $v%.2f" }.mkString(", "))
  }

  private def port = server.getAddress.getPort

  private def measure(clients: Int, script: (Int, Int) => Seq[Seq[Req]]): Window =
    Serving.closedLoop(port, clients, a.seconds, script)

  private def report(w: Window, clients: Int): Unit = {
    val xs = w.samples
    val p90 = Serving.percentile(xs, 0.9)
    metrics("latency_p50_ms", "ms") = cap(Serving.percentile(xs, 0.5), w)
    metrics("latency_p90_ms", "ms") = cap(p90, w)
    metrics("throughput_rps", "1/s") = xs.count(_.ok) / w.seconds
    metrics("wall_s", "s") = Serving.median(w.passes)
    props("samples") = xs.size
    props("samples_beyond_p90") = xs.count(s => !s.ok || s.ms > p90)
    props("error_rate") = xs.count(!_.ok).toDouble / math.max(1, xs.size)
    props("clients") = clients
  }

  /** A failed request ranks as infinitely slow; report it as the window. */
  private def cap(v: Double, w: Window): Double = if (v.isInfinite) w.seconds * 1000 else v

  private def account(samples: Seq[Sample]): Unit =
    samples.filterNot(_.ok).foreach(s => failures += s"${s.req.route} client ${s.client}: ${s.error.get}")

  /** Same request, same answer: every repeat of a request must return the
    * bytes its first answer had.
    */
  private def consistency(samples: Seq[Sample]): Unit =
    samples.filter(_.ok).groupBy(_.req).foreach { case (r, ss) =>
      if (ss.map(_.body).distinct.size > 1)
        checks.mismatches += s"${r.route} ${r.body.take(120)}: ${ss.map(_.body).distinct.size} different answers"
    }

  /** Compare the first `perRoute` distinct requests of each route with an
    * engine-direct answer.
    */
  private def against(ref: Reference, w: Window, perRoute: Int): Unit = {
    val firstOk = w.samples.filter(_.ok).groupBy(_.req).map { case (r, ss) => r -> ss.minBy(_.startNs) }
    firstOk.values.toSeq.sortBy(_.startNs).groupBy(_.req.route).foreach { case (_, ss) =>
      ss.sortBy(_.startNs).take(perRoute).foreach { s =>
        ref.answer(s.req).foreach { want =>
          checks.checked += 1
          if (ref.canon(want) != ref.canon(s.body))
            checks.mismatches += s"${s.req.route} ${s.req.body.take(160)}: served ${s.body.take(200)} want ${want.take(200)}"
        }
      }
    }
  }

  /** Time a fixed request list with one client, untraced and traced in
    * the order u t t u (a linear drift of the host cancels). Returns the
    * median untraced request time and the traced/untraced time ratio.
    */
  private def pairedReplay(ws: Seq[Req]): (Double, Double, Seq[Sample]) = {
    val c = new Client(port, -1)
    def pass(traced: Boolean): Seq[Sample] = {
      if (traced) tracer.attach(spark)
      try ws.map(r => c.send(r)) finally if (traced) tracer.detach(spark)
    }
    try {
      val Seq(u1, t1, t2, u2) = Seq(false, true, true, false).map(pass)
      def total(ss: Seq[Sample]) = ss.map(_.ms).sum
      (Serving.median((u1 ++ u2).filter(_.ok).map(_.ms)), (total(t1) + total(t2)) / (total(u1) + total(u2)),
        u1 ++ t1 ++ t2 ++ u2)
    } finally c.close()
  }

  /** Per-layer serve/spark metrics of a traced window. */
  private def layerMetrics(w: Window, d: Snap, serviceMs: Double): Unit = {
    val n = math.max(1, w.samples.size).toDouble
    metrics("serve.service_ms", "ms") = serviceMs
    metrics("serve.queue_wait_ms", "ms") = Serving.percentile(w.samples.filter(_.ok), 0.5) - serviceMs
    metrics("serve.response_bytes", "bytes") = w.samples.map(_.body.length.toDouble).sum / n
    metrics("serve.status_4xx", "count") = w.samples.count(s => s.status >= 400 && s.status < 500)
    metrics("serve.status_5xx", "count") = w.samples.count(_.status >= 500)
    metrics("serve.io_errors", "count") = w.samples.count(_.status == 0)
    BatchRun.sparkMetrics(metrics, d, n)
  }

  private def recordSpans(w: Window): Unit = w.samples.foreach { s =>
    tracer.record(Span(tracer.nextId(), 0, s"c${s.client}/${s.script}", s"serve ${s.req.route}", s.startNs, s.endNs))
  }

  /** The traced window: the same rounds as an untraced run, with the
    * listeners attached. Returns the window and its Spark counter delta.
    */
  private def tracedWindow(clients: Int, scripts: (Int, Int) => Seq[Seq[Req]]): (Window, Snap) = {
    tracer.attach(spark)
    val s0 = tracer.snap()
    val w = measure(clients, scripts)
    tracer.drain(spark)
    val d = tracer.snap() - s0
    tracer.detach(spark)
    recordSpans(w)
    (w, d)
  }

  /** Per-layer metrics of the traced window and the tracing overhead,
    * from the window's first distinct requests replayed untraced and
    * traced. Returns the replayed samples.
    */
  private def traceMetrics(w: Window, d: Snap): Seq[Sample] = {
    val replay = w.samples.sortBy(_.startNs).map(_.req).distinct.take(4)
    val (serviceMs, ratio, replayed) = pairedReplay(replay)
    layerMetrics(w, d, serviceMs)
    metrics("trace.overhead_pct", "%") = (ratio - 1) * 100
    replayed
  }

  def dashboard(): Int = {
    setUp(Requests.dashboardFirst)
    val clients = Runtime.getRuntime.availableProcessors
    val states = mutable.LinkedHashMap.empty[String, Requests.State]
    val cache = mutable.HashMap.empty[Int, Seq[Seq[Req]]]
    val scripts = (c: Int, n: Int) => Requests.share(cache.synchronized(cache.getOrElseUpdate(n, {
      val (steps, sts) = Requests.dashboardScript(a.seed, n)
      sts.foreach(st => states.getOrElseUpdate(Requests.stateJson(st), st))
      steps
    })), c, clients)
    // a traced run measures its one window traced; only the per-layer
    // metrics of it are reported
    val (w, traceDelta) =
      if (a.trace) { val (tw, d) = tracedWindow(clients, scripts); (tw, Some(d)) }
      else (measure(clients, scripts), None)
    System.err.println(f"[perfbench] window: ${w.samples.size} requests in ${w.seconds}%.1f s; " +
      w.samples.groupBy(_.req.route).toSeq.sortBy(_._1).map { case (r, ss) =>
        f"$r n=${ss.size} p50 ${Serving.median(ss.map(_.ms))}%.0f max ${ss.map(_.ms).max}%.0f ms" }.mkString(", "))
    report(w, clients)
    metrics("live_heap_mb", "MB") = liveHeapMb()
    var all = w.samples
    traceDelta.foreach { d =>
      all = all ++ traceMetrics(w, d)
      queryMetrics(w, states)
      etlMetrics()
    }
    firstRoute.foreach { case (k, v) => metrics(k, "s") = v }
    dashboardProperties(all, states)
    account(all)
    consistency(all)
    val ref = new Reference(spark.newSession(), a.cities, server = spark)
    against(ref, w, perRoute = 2)
    dashboardOracle(w, states)
    props ++= ref.keptRows
    all.size
  }

  private def covered(s: Sample, states: collection.Map[String, Requests.State]): Option[Boolean] = {
    val o = mapper.readTree(if (s.req.body.isEmpty) "{}" else s.req.body)
    s.req.route match {
      case "/dashboard" => states.get(s.req.body).map(Requests.covered(_))
      case "/histogram" | "/significant" =>
        val st = if (o.path("state").isMissingNode) "[]" else o.path("state").toString
        states.get(st).map(Requests.covered(_, Seq(o.path("field").asText())))
      case _ => None
    }
  }

  private def dashboardProperties(all: Seq[Sample], states: collection.Map[String, Requests.State]): Unit = {
    val cov = all.flatMap(s => covered(s, states))
    props("rollup_covered_share") = cov.count(identity).toDouble / math.max(1, cov.size)
    val seen = mutable.HashSet.empty[Req]
    props("repeat_share") = all.sortBy(_.startNs).count(s => !seen.add(s.req)).toDouble / math.max(1, all.size)
  }

  private def queryMetrics(w: Window, states: collection.Map[String, Requests.State]): Unit = {
    val fields = Reference.cityFields(spark)
    val sts = states.keys.toSeq
    val t0 = System.nanoTime()
    sts.foreach(j => graft.query.Widgets.fromJson(fields, j).compile)
    metrics("query.compile_ms", "ms") = (System.nanoTime() - t0) / 1e6 / math.max(1, sts.size)
    val byCov = w.samples.filter(_.ok).flatMap(s => covered(s, states).map(_ -> s))
    val (roll, scan) = byCov.partition(_._1)
    metrics("query.rollup_p50_ms", "ms") = nz(Serving.median(roll.map(_._2.ms)))
    metrics("query.scan_p50_ms", "ms") = nz(Serving.median(scan.map(_._2.ms)))
    metrics("query.rollup_share", "ratio") = roll.size.toDouble / math.max(1, byCov.size)
    val rollupRows = spark.table("graft_dashboard_preagg").count()
    metrics("query.rollup_rows", "count") = rollupRows
    metrics("query.rollup_ratio", "ratio") = rollupRows.toDouble / spark.table("graft_dashboard_fed").count()
    val seen = mutable.HashSet.empty[Req]
    metrics("query.repeat_share", "ratio") =
      w.samples.sortBy(_.startNs).count(s => !seen.add(s.req)).toDouble / math.max(1, w.samples.size)
  }

  private def nz(v: Double): Double = if (v.isNaN) 0.0 else v

  /** ETL and dictionary layers timed on their own, each on a fresh session. */
  private def etlMetrics(): Unit = {
    val s = spark.newSession()
    tracer.attach(s)
    val ref = new Reference(s, a.cities, server = spark)
    val t0 = System.nanoTime()
    ref.published.foreach { case (_, df) => df.write.format("noop").mode("overwrite").save() }
    metrics("etl.harmonize_s", "s") = (System.nanoTime() - t0) / 1e9
    val kept = ref.published.map { case (_, df) => df.count() }.sum
    val raw = Seq("Baltimore", "Detroit", "LosAngeles")
      .map(c => graft.store.Sources.csvAllStrings(s, s"${a.cities}/$c.csv").count()).sum
    metrics("etl.rows_kept_ratio", "ratio") = kept.toDouble / raw
    tracer.drain(s)
    val s0 = tracer.snap()
    val t1 = System.nanoTime()
    ref.published.foreach { case (c, df) =>
      graft.dict.Dictionary.materializeProfile(s, df, s"perfbench_trace_dict_$c")
    }
    metrics("dict.profile_s", "s") = (System.nanoTime() - t1) / 1e9
    tracer.drain(s)
    metrics("dict.jobs", "count") = (tracer.snap() - s0).jobs
    tracer.detach(s)
  }

  /** `/dashboard` and `/fields` answers against the registry's DuckDB
    * oracles (checked by run.py): the `dashboard_refresh` oracle with the
    * posted state's predicate in place of the saved state's.
    *
    * The saved state keeps `hour` in 0..18, so the registry's oracle never
    * ranks a null key and leaves DuckDB's default (ASC NULLS LAST) in its
    * tiebreaks. A posted state can let rows with no hour through (Baltimore
    * rows without a `CrimeTime`), so the tiebreaks are spelled with Spark's
    * ASC default, NULLS FIRST, as the registry's oracles do wherever a null
    * reaches an ordering key.
    */
  private def dashboardOracle(w: Window, states: collection.Map[String, Requests.State]): Unit = {
    val base = SparkEntry.oracleSql("dashboard_refresh")
    val savedFilter = "AND year >= 2015 AND year <= 2017 AND hour >= 0 AND hour <= 18"
    val fedCols = "SELECT description, city, dayofweek, hour, geolocation, year, datetime,"
    val tiebreaks = Seq("key ASC LIMIT", "dayofweek ASC LIMIT", "p.hour ASC)")
    require((savedFilter +: fedCols +: tiebreaks).forall(base.contains),
      "dashboard_refresh oracle no longer has the expected shape; the /dashboard check cannot run")
    val firstOk = w.samples.filter(_.ok).groupBy(_.req).values.map(_.minBy(_.startNs)).toSeq.sortBy(_.startNs)
    firstOk.filter(_.req.route == "/dashboard").take(3).foreach { s =>
      val sql =
        if (s.req.body.trim.isEmpty) base
        else tiebreaks.foldLeft(
          base.replace(savedFilter, s"AND (${Requests.stateSql(states(s.req.body))})")
            .replace(fedCols, fedCols + " month, day, minute,")) { (q, t) =>
          q.replace(t, t.replace("ASC", "ASC NULLS FIRST"))
        }
      checks.sql(s"/dashboard ${s.req.body.take(160)}", sql, Some(s.body), None)
    }
    firstOk.find(_.req.route == "/fields").foreach { s =>
      checks.sql("/fields", SparkEntry.oracleSql("q8_dict_fetch_warm"), Some(s.body), None)
    }
  }
}
