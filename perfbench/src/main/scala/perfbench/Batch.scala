package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.util.Random

import graft.SparkEntry
import org.apache.spark.sql.{DataFrame, SparkSession}

/** pipeline_batch: each pass materializes every query of
  * [[Main.batchQueries]] with `write.format("noop")`, in a seed-shuffled
  * order. Set-up is session start plus two untimed warm-up passes, the
  * first writing each result to parquet for the oracle check.
  */
final class BatchRun(spark: SparkSession, a: Main.Args, startNs: Long, metrics: Main.Metrics,
    checks: Main.Checks, failures: ArrayBuffer[String], props: mutable.LinkedHashMap[String, Double],
    tracer: Tracer) {
  import Main._

  private def resultPath(q: String) = s"${a.work}/results/$q"

  /** Materialize one query: to the noop sink, or (set-up pass) to parquet
    * for the oracle check.
    */
  private def materialize(q: String, keep: Boolean): Unit = {
    val w = SparkEntry.queries(q)(spark, a.corpus).write.mode("overwrite")
    if (keep) w.parquet(resultPath(q)) else w.format("noop").save()
  }

  /** One pass; returns per-query seconds, or records the failure. */
  private def pass(order: Seq[String], keep: Boolean = false): Seq[(String, Double)] = order.flatMap { q =>
    val t0 = System.nanoTime()
    try {
      materialize(q, keep)
      Some(q -> (System.nanoTime() - t0) / 1e9)
    } catch {
      case e: Exception =>
        failures += s"$q: ${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}"
        None
    }
  }

  def run(): Int = {
    // the first pass writes the results the oracle check reads; the second
    // runs the noop sink the window uses, so that the window's first pass
    // is as warm as its last
    if (pass(batchQueries, keep = true).size + pass(batchQueries).size < 2 * batchQueries.size)
      throw new IllegalStateException("set-up passes failed: " + failures.mkString("; "))
    metrics("setup_s", "s") = (System.nanoTime() - startNs) / 1e9
    System.err.println(f"[perfbench] set-up: ${metrics.m("setup_s")._1}%.1f s")

    val (passes, times, attempted) = measure()
    System.err.println("[perfbench] passes s: " + passes.map(p => f"$p%.2f").mkString(" ") + "; per-query s: " +
      times.groupBy(_._1).toSeq.sortBy(_._1).map { case (q, ts) => f"$q ${Serving.median(ts.map(_._2))}%.2f" }
        .mkString(", "))
    val ok = times.map(_._2 * 1000)
    val failed = attempted - ok.size
    // a failed query ranks slower than any success; reported as the window
    val ranked = ok ++ Seq.fill(failed)(Double.PositiveInfinity)
    def pct(p: Double) = { val v = Serving.percentileOf(ranked, p); if (v.isInfinite) passes.sum * 1000 else v }
    metrics("latency_p50_ms", "ms") = pct(0.5)
    metrics("latency_p90_ms", "ms") = pct(0.9)
    metrics("throughput_rps", "1/s") = ok.size / passes.sum
    metrics("wall_s", "s") = Serving.median(passes)
    metrics("live_heap_mb", "MB") = liveHeapMb()
    props("passes") = passes.size
    props("samples") = attempted
    props("error_rate") = failed.toDouble / attempted
    if (a.trace) tracedPass(Serving.median(passes))
    batchQueries.foreach(q => checks.sql(q, SparkEntry.oracleSql.getOrElse(q, ""), None, Some(resultPath(q))))
    attempted
  }

  /** Passes for `seconds`: at least one, and another only while a pass of
    * the mean length so far still fits in the window.
    */
  private def measure(): (Seq[Double], Seq[(String, Double)], Int) = {
    val passes = ArrayBuffer.empty[Double]
    val times = ArrayBuffer.empty[(String, Double)]
    var attempted = 0
    val stopAt = System.nanoTime() + (a.seconds * 1e9).toLong
    var n = 0
    while (passes.isEmpty || System.nanoTime() + passes.sum / passes.size * 1e9 <= stopAt) {
      val order = new Random(a.seed * 31 + n).shuffle(batchQueries)
      val t0 = System.nanoTime()
      times ++= pass(order)
      attempted += order.size
      passes += (System.nanoTime() - t0) / 1e9
      n += 1
    }
    (passes.toSeq, times.toSeq, attempted)
  }

  /** One traced pass: each query's construction (the registry lambda and
    * its eager jobs), Catalyst planning and execution of the noop write,
    * and its `count()` time against the materialized time.
    */
  private def tracedPass(untracedPass: Double): Unit = {
    tracer.attach(spark)
    var tracedTotal = 0.0
    val tot = Array.fill(4)(0.0)
    val s00 = { tracer.drain(spark); tracer.snap() }
    batchQueries.foreach { q =>
      tracer.span(q, s"batch $q") { root =>
        tracer.drain(spark)
        val s0 = tracer.snap()
        val t0 = System.nanoTime()
        val df: DataFrame = tracer.span(q, "construct", root)(_ => SparkEntry.queries(q)(spark, a.corpus))
        val t1 = System.nanoTime()
        tracer.drain(spark)
        val s1 = tracer.snap()
        val m0 = System.nanoTime()
        tracer.span(q, "materialize", root)(_ => df.write.format("noop").mode("overwrite").save())
        // construction plus materialization, without the listener-bus drain
        val materializedS = ((t1 - t0) + (System.nanoTime() - m0)) / 1e9
        tracer.drain(spark)
        val d = tracer.snap() - s1
        val c0 = System.nanoTime()
        tracer.span(q, "count", root)(_ => SparkEntry.queries(q)(spark, a.corpus).count())
        val countS = (System.nanoTime() - c0) / 1e9
        val vals = Seq((t1 - t0) / 1e9, (s1 - s0).jobs.toDouble, d.planMs / 1000.0, d.execNs / 1e9)
        Seq("construct_s" -> "s", "eager_jobs" -> "count", "plan_s" -> "s", "exec_s" -> "s").zip(vals).zipWithIndex
          .foreach { case (((k, u), v), i) => metrics(s"batch.$q.$k", u) = v; tot(i) += v }
        metrics(s"batch.$q.count_vs_materialized", "ratio") = countS / materializedS
        tracedTotal += materializedS
      }
    }
    tracer.drain(spark)
    val all = tracer.snap() - s00
    tracer.detach(spark)
    metrics("batch.construct_s", "s") = tot(0)
    metrics("batch.eager_jobs", "count") = tot(1)
    metrics("batch.plan_s", "s") = tot(2)
    metrics("batch.exec_s", "s") = tot(3)
    BatchRun.sparkMetrics(metrics, all, batchQueries.size)
    metrics("trace.overhead_pct", "%") = (tracedTotal / untracedPass - 1) * 100
  }
}

object BatchRun {
  /** Spark's per-request (or per-query) cost from a counter delta. */
  def sparkMetrics(metrics: Main.Metrics, d: Snap, n: Double): Unit = {
    val mb = 1048576.0
    metrics("spark.plan_ms", "ms") = d.planMs / n
    metrics("spark.exec_ms", "ms") = d.execNs / 1e6 / n
    metrics("spark.jobs", "count") = d.jobs / n
    metrics("spark.tasks", "count") = d.tasks / n
    metrics("spark.task_cpu_s", "s") = d.taskCpuNs / 1e9 / n
    metrics("spark.gc_s", "s") = d.gcMs / 1000.0 / n
    metrics("spark.input_mb", "MB") = d.inputBytes / mb / n
    metrics("spark.shuffle_write_mb", "MB") = d.shuffleWriteBytes / mb / n
    metrics("spark.spill_mb", "MB") = d.spillBytes / mb / n
    metrics("spark.output_mb", "MB") = d.outputBytes / mb / n
  }
}
