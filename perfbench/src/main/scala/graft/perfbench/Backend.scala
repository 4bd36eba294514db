package graft.perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import graft.engine.Engine

/** A statement's outcome as every backend reports it: rows as the
  * engine's formatted strings, and for REST the server-side
  * `executionTimeMs` and the response size.
  */
final case class Outcome(ok: Boolean, rows: Vector[Vector[String]], affected: Long,
                         error: String, execMs: Double = Double.NaN, bytes: Int = 0)

/** Where a client's statements go: straight into `Engine` or over
  * HTTP to `ApiServer`.
  */
sealed trait Backend {
  def sql(q: String): Outcome
  def sparkSql(q: String): Outcome
}

final class InProc(val engine: Engine) extends Backend {
  def sql(q: String): Outcome = {
    val rs = engine.sql(q)
    Outcome(rs.ok, rs.rows, rs.rowsAffected, rs.error)
  }
  def sparkSql(q: String): Outcome = {
    val rows = engine.sparkSql(q).collect()
    Outcome(ok = true, rows.iterator.map(r => r.toSeq.map(String.valueOf).toVector).toVector, 0L, "")
  }
}

/** One JDK HttpClient per client thread against `/api/query` and
  * `/api/sparksql`.
  */
final class Rest(port: Int) extends Backend {
  private val client = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  private def post(path: String, q: String): Outcome = {
    val body = "{\"sql\":\"" + q.replace("\\", "\\\\").replace("\"", "\\\"") + "\"}"
    val req = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
      .header("Content-Type", "application/json")
      .POST(HttpRequest.BodyPublishers.ofString(body)).build()
    val resp = client.send(req, HttpResponse.BodyHandlers.ofByteArray())
    val bytes = resp.body()
    val root = mapper.readTree(bytes)
    if (!root.path("success").asBoolean(false))
      Outcome(ok = false, Vector.empty, 0L, root.path("error").path("message").asText(""),
        bytes = bytes.length)
    else {
      val d = root.path("data")
      val rows = Vector.newBuilder[Vector[String]]
      d.path("rows").elements().forEachRemaining { r =>
        val cells = Vector.newBuilder[String]
        r.elements().forEachRemaining(c => cells += c.asText())
        rows += cells.result()
      }
      Outcome(ok = true, rows.result(), d.path("rowsAffected").asLong(0L), "",
        d.path("executionTimeMs").asDouble(Double.NaN), bytes.length)
    }
  }

  def sql(q: String): Outcome = post("/api/query", q)
  def sparkSql(q: String): Outcome = post("/api/sparksql", q)
}
