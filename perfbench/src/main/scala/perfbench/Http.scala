package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import scala.util.Random

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** A blocking HTTP/1.1 client, one per load thread. */
final class Http {
  private val client = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()

  /** (status, body, start ns, end ns); status -1 on a transport failure. */
  def get(url: String): (Int, String, Long, Long) = {
    val req = HttpRequest.newBuilder(URI.create(url)).GET().build()
    val t0 = System.nanoTime()
    try {
      val r = client.send(req, HttpResponse.BodyHandlers.ofString())
      (r.statusCode, r.body, t0, System.nanoTime())
    } catch {
      case e: InterruptedException => throw e
      case scala.util.control.NonFatal(e) => (-1, String.valueOf(e), t0, System.nanoTime())
    }
  }
}

object Http {
  private val mapper = new ObjectMapper()

  def json(body: String): Option[JsonNode] =
    try Option(mapper.readTree(body)) catch { case scala.util.control.NonFatal(_) => None }

  /** `{total, result}` page: (total, result size). */
  def page(body: String): Option[(Long, Int)] = json(body).flatMap { n =>
    val t = n.get("total")
    val r = n.get("result")
    if (t == null || !t.canConvertToLong) None
    else Some((t.asLong, if (r == null || !r.isArray) 0 else r.size))
  }

  def field(body: String, path: String*): Option[String] = json(body).flatMap { n =>
    path.foldLeft(Option(n))((acc, k) => acc.flatMap(x => Option(x.get(k)))).map(_.asText)
  }

  /** Per-route server-side (count, sum seconds) from a `/metrics` scrape. */
  def serverTimes(metricsBody: String): Map[String, (Long, Double)] = {
    val Sum = """gbe_api_request_duration_seconds_sum\{route="([^"]+)"\} (\S+)""".r
    val Count = """gbe_api_request_duration_seconds_count\{route="([^"]+)"\} (\S+)""".r
    val lines = metricsBody.split('\n').toSeq
    val sums = lines.collect { case Sum(r, v) => r -> v.toDouble }.toMap
    val counts = lines.collect { case Count(r, v) => r -> v.toDouble.toLong }.toMap
    counts.map { case (r, c) => r -> (c, sums.getOrElse(r, 0.0)) }
  }
}

/** Route names as the `/metrics` listener labels them. */
object Routes {
  val All: Seq[(String, String)] = Seq(
    "pulses" -> "/api/v1/pulses",
    "pulse" -> "/api/v1/pulses/:pulse",
    "pulse_drops" -> "/api/v1/pulses/:pulse/jet-drops",
    "drop" -> "/api/v1/jet-drops/:id",
    "drop_records" -> "/api/v1/jet-drops/:id/records",
    "jet_drops" -> "/api/v1/jets/:jet/jet-drops",
    "lifeline" -> "/api/v1/lifeline/:ref/records",
    "search" -> "/api/v1/search")
  val Names: Seq[String] = All.map(_._1)
  val Template: Map[String, String] = All.toMap
}

/** One completed request as a load thread saw it. */
final case class Sample(route: String, startNs: Long, endNs: Long, ok: Boolean) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** One planned request: its route, path, the check its answer must pass,
  * and the same request as a direct `Endpoints` call where one exists.
  */
final case class Req(route: String, path: String, check: (Int, String) => Boolean,
    direct: Option[(org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame] = None)

/** Seeded list-page parameters. */
final class Paging(rng: Random) {
  def limit(): Int = Seq(10, 20, 50, 100)(rng.nextInt(4))
  /** The first page half the time, else anywhere up to just past the end. */
  def offset(total: Long): Int = if (rng.nextBoolean()) 0 else rng.nextInt(math.max(1, total.toInt + 1))
}

object Paging {
  /** A `{total, result}` page answer: status 200, the total, and a full or final page. */
  def check(total: Long, limit: Int, offset: Int)(st: Int, body: String): Boolean =
    st == 200 && Http.page(body).contains((total, math.max(0L, math.min(limit.toLong, total - offset)).toInt))
}
