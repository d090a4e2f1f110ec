package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.time.Duration

import org.json4s._
import org.json4s.jackson.JsonMethods

/** The benchmark's HTTP/1.1 client: one JDK client on one kept-alive
  * loopback connection, used from a single thread, so every request after
  * the first reuses the same connection. Each request's latency is kept by
  * route into `latencies`. */
final class Http(port: Int,
    val latencies: scala.collection.mutable.Map[String, Vector[Double]]) {
  private val client = HttpClient.newBuilder()
    .version(HttpClient.Version.HTTP_1_1)
    .connectTimeout(Duration.ofSeconds(10))
    .build()
  private val base = s"http://127.0.0.1:$port"

  private def send(route: String, req: HttpRequest): (Int, JValue) = {
    val t0 = System.nanoTime()
    val r = client.send(req, HttpResponse.BodyHandlers.ofString())
    latencies(route) = latencies.getOrElse(route, Vector.empty) :+
      (System.nanoTime() - t0) / 1e6
    (r.statusCode(), JsonMethods.parse(r.body()))
  }

  def get(route: String, path: String): (Int, JValue) =
    send(route, HttpRequest.newBuilder(URI.create(base + path))
      .timeout(Duration.ofSeconds(60)).GET().build())

  def post(route: String, path: String, body: String): (Int, JValue) =
    send(route, HttpRequest.newBuilder(URI.create(base + path))
      .timeout(Duration.ofSeconds(60))
      .header("Content-Type", "application/json")
      .POST(HttpRequest.BodyPublishers.ofString(body)).build())
}
