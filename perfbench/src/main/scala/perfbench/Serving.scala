package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.time.Duration

import scala.collection.mutable.ArrayBuffer

/** One request as the client saw it. `error` is the cause of a failure:
  * a non-200 status or an IO error; a failed request is never retried.
  */
final case class Sample(req: Req, client: Int, script: Int, startNs: Long, endNs: Long,
    status: Int, body: String, error: Option[String]) {
  def ok: Boolean = error.isEmpty
  def ms: Double = (endNs - startNs) / 1e6
}

/** Closed-loop HTTP clients: each client owns one `HttpClient` (its own
  * connection), sends its next request only when the previous one has
  * completed, and has no think time.
  */
final class Client(port: Int, id: Int) {
  private val http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1)
    .connectTimeout(Duration.ofSeconds(10)).build()

  def send(req: Req, script: Int = -1): Sample = {
    val hr = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port${req.route}"))
      .timeout(Duration.ofSeconds(60))
      .POST(HttpRequest.BodyPublishers.ofString(req.body)).build()
    val t0 = System.nanoTime()
    try {
      val resp = http.send(hr, HttpResponse.BodyHandlers.ofString())
      val t1 = System.nanoTime()
      val err = if (resp.statusCode == 200) None else Some(s"status ${resp.statusCode}: ${resp.body.take(200)}")
      Sample(req, id, script, t0, t1, resp.statusCode, resp.body, err)
    } catch {
      case e: Exception =>
        val msg = Option(e.getMessage).getOrElse("")
        Sample(req, id, script, t0, System.nanoTime(), 0, "", Some(s"io ${e.getClass.getSimpleName}: $msg"))
    }
  }

  def close(): Unit = http match {
    case c: AutoCloseable => c.close()
    case _ => ()
  }
}

/** The result of one measured window. `passes` are step times. */
final case class Window(samples: Seq[Sample], startNs: Long, endNs: Long, passes: Seq[Double]) {
  def seconds: Double = (endNs - startNs) / 1e9
}

object Serving {

  /** Run `clients` closed loops for `seconds`, in whole rounds. In round
    * `n` client `c` plays its script `script(c, n)` to the end: a sequence
    * of steps (one user interaction each: its requests go out back to back),
    * a step's time being one entry of `Window.passes`. A round ends when
    * every client has finished its script; there is at least one, and
    * another only while a round of the mean length so far still fits in the
    * window. Every round therefore serves the same mix of requests, which a
    * window cut at an arbitrary request would not.
    */
  def closedLoop(port: Int, clients: Int, seconds: Double, script: (Int, Int) => Seq[Seq[Req]]): Window = {
    val start = System.nanoTime()
    val stopAt = start + (seconds * 1e9).toLong
    val results = Array.fill(clients)(ArrayBuffer.empty[Sample])
    val passes = Array.fill(clients)(ArrayBuffer.empty[Double])
    val conns = Array.tabulate(clients)(c => new Client(port, c))
    try {
      var n = 0
      while (n == 0 || System.nanoTime() + (System.nanoTime() - start) / n <= stopAt) {
        val round = n
        val threads = (0 until clients).map { c =>
          new Thread(() => script(c, round).foreach { step =>
            val t0 = System.nanoTime()
            step.foreach(r => results(c) += conns(c).send(r, round))
            passes(c) += (System.nanoTime() - t0) / 1e9
          }, s"perfbench-client-$c")
        }
        threads.foreach(_.start())
        threads.foreach(_.join())
        n += 1
      }
    } finally conns.foreach(_.close())
    val all = results.flatten.toSeq
    Window(all, start, if (all.isEmpty) System.nanoTime() else all.map(_.endNs).max, passes.flatten.toSeq)
  }

  /** Percentile by nearest rank; failed requests rank slower than any
    * success (they count as infinitely slow).
    */
  def percentile(samples: Seq[Sample], p: Double): Double =
    percentileOf(samples.map(s => if (s.ok) s.ms else Double.PositiveInfinity), p)

  def percentileOf(values: Seq[Double], p: Double): Double = {
    val xs = values.sorted
    if (xs.isEmpty) Double.NaN else xs(math.min(xs.size - 1, math.max(0, math.ceil(p * xs.size).toInt - 1)))
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}
