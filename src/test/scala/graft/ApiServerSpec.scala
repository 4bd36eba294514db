package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.api.ApiServer
import graft.engine.Engine

/** Ignition test for the REST surface: every endpoint of the reference
  * API server (api_server.hpp:103-320) answered against a live engine.
  */
class ApiServerSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  private val client = HttpClient.newHttpClient()

  private def get(port: Int, path: String): (Int, String) = {
    val r = client.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path")).GET().build(),
      HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), r.body())
  }

  private def post(port: Int, path: String, body: String): (Int, String) = {
    val r = client.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
        .POST(HttpRequest.BodyPublishers.ofString(body))
        .header("Content-Type", "application/json").build(),
      HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), r.body())
  }

  private def withServer(f: Int => Unit): Unit = {
    val e = new Engine(spark)
    assert(e.sql("CREATE TABLE api_t (id BIGINT NOT NULL, name VARCHAR(50), amount DOUBLE)").ok)
    assert(e.sql("INSERT INTO api_t VALUES (1, 'a', 10.5)").ok)
    assert(e.sql("INSERT INTO api_t VALUES (2, 'b', 20.0)").ok)
    val srv = new ApiServer(e)
    srv.start()
    try f(srv.boundPort) finally srv.stop()
  }

  test("POST /api/query runs SQL and returns rows / errors") {
    withServer { p =>
      val (c1, b1) = post(p, "/api/query", """{"sql": "SELECT * FROM api_t WHERE id = 1;"}""")
      assert(c1 == 200 && b1.contains(""""success":true""") && b1.contains("10.5"))
      val (c2, b2) = post(p, "/api/query", """{"sql": "SELECT COUNT(*) FROM api_t"}""")
      assert(c2 == 200 && b2.contains("\"2\""))
      val (c3, b3) = post(p, "/api/query", """{"sql": "SELECT * FROM nope"}""")
      assert(c3 == 400 && b3.contains("does not exist"))
      val (c4, _) = post(p, "/api/query", """{"nosql": 1}""")
      assert(c4 == 400)
      // DML through the API
      val (c5, b5) = post(p, "/api/query", """{"sql": "INSERT INTO api_t VALUES (3, 'c', 30.0)"}""")
      assert(c5 == 200 && b5.contains(""""rowsAffected":1"""))
      // SEARCH through the API (r19): the similarity-search verb is a
      // first-class statement — an in-memory engine auto-routes exact
      val (c6, b6) = post(p, "/api/query",
        """{"sql": "CREATE TABLE api_v (id BIGINT NOT NULL PRIMARY KEY, v VARCHAR)"}""")
      assert(c6 == 200, b6)
      post(p, "/api/query", """{"sql": "INSERT INTO api_v VALUES (1, '1.0,0.0')"}""")
      post(p, "/api/query", """{"sql": "INSERT INTO api_v VALUES (2, '0.0,1.0')"}""")
      post(p, "/api/query", """{"sql": "INSERT INTO api_v VALUES (3, '0.9,0.1')"}""")
      val (c7, b7) = post(p, "/api/query",
        """{"sql": "SEARCH api_v NEAREST (1.0, 0.0) TOP 2"}""")
      assert(c7 == 200 && b7.contains(""""success":true"""), b7)
      // nearest = the identical vector (id 1), then the 0.9/0.1 row,
      // never the orthogonal id 2
      assert(b7.contains("cosine"), b7)
      assert(b7.indexOf("[\"1\"") >= 0 && b7.indexOf("[\"3\"") >= 0 &&
        b7.indexOf("[\"1\"") < b7.indexOf("[\"3\""), b7)
      assert(!b7.contains("[\"2\""), b7)
      // the /api/info documented form, instantiated VERBATIM (r20 —
      // every optional clause spelled out): same result as the bare verb
      val (c8, b8) = post(p, "/api/query",
        """{"sql": "SEARCH api_v NEAREST (1.0, 0.0) TOP 2 USING exact VECTOR v"}""")
      assert(c8 == 200 && b8.contains(""""success":true"""), b8)
      assert(b8.indexOf("[\"1\"") >= 0 && b8.indexOf("[\"3\"") >= 0 &&
        b8.indexOf("[\"1\"") < b8.indexOf("[\"3\""), b8)
    }
  }

  test("POST /api/explain returns a router plan") {
    withServer { p =>
      val (c, b) = post(p, "/api/explain", """{"sql": "SELECT * FROM api_t WHERE id = 1"}""")
      assert(c == 200 && b.contains("POINT_LOOKUP") && b.contains("Estimated I/O Cost"))
    }
  }

  test("POST /api/explainspark reports tier feed and the Catalyst physical plan") {
    withServer { p =>
      val (c, b) = post(p, "/api/explainspark",
        """{"sql": "SELECT COUNT(*) AS n FROM api_t WHERE id > 0"}""")
      assert(c == 200 && b.contains("Snapshot Sources:") && b.contains("api_t: hot rows"), b)
      assert(b.contains("Physical Plan"), b)
      val (c2, b2) = post(p, "/api/explainspark", """{"sql": "SELECT broken syntax FROM"}""")
      assert(c2 == 400 && b2.contains("QUERY_ERROR"), b2)
    }
  }

  test("GET /api/tables, /api/tables/:name, /api/tables/:name/describe") {
    withServer { p =>
      val (c1, b1) = get(p, "/api/tables")
      assert(c1 == 200 && b1.contains("api_t") && b1.contains(""""count":1"""))
      val (c2, b2) = get(p, "/api/tables/api_t")
      assert(c2 == 200 && b2.contains(""""primaryKey":"id"""") && b2.contains(""""columnCount":3"""))
      val (c3, b3) = get(p, "/api/tables/api_t/describe")
      assert(c3 == 200 && b3.contains("amount"))
      val (c4, _) = get(p, "/api/tables/nope")
      assert(c4 == 404)
    }
  }

  test("POST /api/sparksql runs full Spark SQL over live snapshots") {
    withServer { p =>
      val (c, b) = post(p, "/api/sparksql",
        """{"sql": "SELECT name, amount * 2 AS dbl FROM api_t WHERE id <= 2 ORDER BY id"}""")
      assert(c == 200 && b.contains(""""success":true"""), b)
      assert(b.contains("dbl") && b.contains("\"21\"") && b.contains("\"40\""), b)
      // analysis errors surface as QUERY_ERROR, not a 500
      val (c2, b2) = post(p, "/api/sparksql", """{"sql": "SELECT bogus FROM api_t"}""")
      assert(c2 == 400 && b2.contains("QUERY_ERROR"), b2)
    }
  }

  test("truncated SELECT carries a warning in the success envelope") {
    val e = new Engine(spark, selectRowCap = 2)
    assert(e.sql("CREATE TABLE trunc_t (id BIGINT NOT NULL, v INT)").ok)
    (1 to 5).foreach(i => assert(e.sql(s"INSERT INTO trunc_t VALUES ($i, $i)").ok))
    val srv = new ApiServer(e)
    srv.start()
    try {
      val (c, b) = post(srv.boundPort, "/api/query", """{"sql": "SELECT * FROM trunc_t"}""")
      assert(c == 200 && b.contains(""""success":true"""), b)
      assert(b.contains(""""warning"""") && b.contains("truncated"), b)
      // un-truncated results carry no warning field
      val (c2, b2) = post(srv.boundPort, "/api/query",
        """{"sql": "SELECT * FROM trunc_t WHERE id = 1"}""")
      assert(c2 == 200 && !b2.contains(""""warning""""), b2)
    } finally srv.stop()
  }

  test("GET /api/status, /api/health, /api/info; POST /api/admin/*") {
    withServer { p =>
      val (c1, b1) = get(p, "/api/status")
      assert(c1 == 200 && b1.contains(""""name":"api_t"""") && b1.contains("totalWrites"))
      val (c2, b2) = get(p, "/api/health")
      assert(c2 == 200 && b2.contains(""""status":"ok""""))
      val (c3, b3) = get(p, "/api/info")
      assert(c3 == 200 && b3.contains("SHOW TABLES"))
      // SEARCH is a documented capability (r20): the statement list
      // carries the full verb syntax a client can run verbatim
      assert(b3.contains("SEARCH <table> NEAREST"), b3)
      assert(b3.contains("USING exact|lsh|ivf|ivfpq"), b3)
      val (c4, _) = post(p, "/api/admin/flush", "")
      assert(c4 == 200)
      val (c5, _) = post(p, "/api/admin/compact", "")
      assert(c5 == 200)
      // engine still consistent after admin ops (no dataDir → no-op flush)
      val (c6, b6) = post(p, "/api/query", """{"sql": "SELECT COUNT(*) FROM api_t"}""")
      assert(c6 == 200 && b6.contains("\"2\""))
    }
  }

  test("POST /api/admin/optimize validates, rewrites z-ordered, and reports outcome") {
    val dir = java.nio.file.Files.createTempDirectory("graft-api-zopt").toString
    try {
      val e = new Engine(spark, Some(dir), compactTrigger = 100)
      assert(e.sql("CREATE TABLE zapi (id BIGINT NOT NULL, x BIGINT, y BIGINT)").ok)
      e.batchPut("zapi", (1L to 500L).map(i =>
        Array[Any](i, (i * 37L) % 100L, (i * 53L) % 100L)))
      e.forceFlush("zapi")
      val srv = new ApiServer(e)
      srv.start()
      try {
        val p = srv.boundPort
        val (c1, b1) = post(p, "/api/admin/optimize",
          """{"table": "zapi", "zorder": "x,y"}""")
        assert(c1 == 200 && b1.contains(""""outcome":"rewritten""""), b1)
        // the optimized layout is visible in the explainspark tier feed
        val (c2, b2) = post(p, "/api/explainspark",
          """{"sql": "SELECT count(*) FROM zapi"}""")
        assert(c2 == 200 && b2.contains("zorder(x,y)"), b2)
        // validation surfaces as client errors, not 500s
        val (c3, b3) = post(p, "/api/admin/optimize",
          """{"table": "nope", "zorder": "x,y"}""")
        assert(c3 == 404 && b3.contains("does not exist"), b3)
        val (c4, b4) = post(p, "/api/admin/optimize",
          """{"table": "zapi", "zorder": "x"}""")
        assert(c4 == 400 && b4.contains("2 to 4"), b4)
        val (c5, _) = post(p, "/api/admin/optimize", """{"table": "zapi"}""")
        assert(c5 == 400)
        // data intact after the rewrite
        val (c6, b6) = post(p, "/api/query", """{"sql": "SELECT COUNT(*) FROM zapi"}""")
        assert(c6 == 200 && b6.contains("\"500\""), b6)
        // the declared layout is discoverable on the schema endpoint
        val (c7, b7) = get(p, "/api/tables/zapi")
        assert(c7 == 200 && b7.contains(""""zorderLayout":["x","y"]"""), b7)
        // optional part_bytes: a new granularity for the SAME columns
        // must rewrite (the token carries the part size), bare-number
        // and quoted forms both parse, garbage is a 400 not a silent
        // default, and non-positive values surface the engine error
        val (c8, b8) = post(p, "/api/admin/optimize",
          """{"table": "zapi", "zorder": "x,y", "part_bytes": 32768}""")
        assert(c8 == 200 && b8.contains(""""outcome":"rewritten""""), b8)
        val (c9, b9) = post(p, "/api/admin/optimize",
          """{"table": "zapi", "zorder": "x,y", "part_bytes": "32768"}""")
        assert(c9 == 200 && b9.contains(""""outcome":"noop""""), b9)
        val (c10, b10) = post(p, "/api/admin/optimize",
          """{"table": "zapi", "zorder": "x,y", "part_bytes": "lots"}""")
        assert(c10 == 400 && b10.contains("part_bytes"), b10)
        val (c11, b11) = post(p, "/api/admin/optimize",
          """{"table": "zapi", "zorder": "x,y", "part_bytes": -1}""")
        assert(c11 == 400 && b11.contains("positive"), b11)
      } finally srv.stop()
    } finally graft.engine.Persist.deleteRecursively(java.nio.file.Paths.get(dir))
  }

  test("POST /api/admin/compact/pause and /resume round-trip") {
    withServer { p =>
      val (c1, b1) = post(p, "/api/admin/compact/pause", "")
      assert(c1 == 200 && b1.contains("Compaction paused"), b1)
      // a compact issued while paused reports deferral, not execution
      val (c2, b2) = post(p, "/api/admin/compact", "")
      assert(c2 == 200 && b2.contains("deferred"), b2)
      val (c3, b3) = post(p, "/api/admin/compact/resume", "")
      assert(c3 == 200 && b3.contains("Compaction resumed"), b3)
      // and a post-resume compact executes normally again
      val (c4, b4) = post(p, "/api/admin/compact", "")
      assert(c4 == 200 && b4.contains("Compaction triggered"), b4)
      val (c5, b5) = post(p, "/api/query", """{"sql": "SELECT COUNT(*) FROM api_t"}""")
      assert(c5 == 200 && b5.contains("\"2\""))
    }
  }

  test("keep-alive point queries are not held back by the delayed-ACK stall") {
    // With Nagle on, each response body waits for the client's delayed
    // ACK of the header segment: a ~40 ms floor per keep-alive request.
    // One shared HttpClient keeps the connection alive across calls.
    withServer { p =>
      val q = """{"sql": "SELECT * FROM api_t WHERE id = 1"}"""
      (1 to 10).foreach(_ => post(p, "/api/query", q))   // warm-up
      val ms = (1 to 50).map { _ =>
        val t0 = System.nanoTime()
        val (c, b) = post(p, "/api/query", q)
        assert(c == 200 && b.contains("10.5"), b)
        (System.nanoTime() - t0) / 1e6
      }.sorted
      val p50 = ms(ms.size / 2)
      assert(p50 < 20.0, f"keep-alive point p50 $p50%.1f ms (all: ${ms.map(m => f"$m%.1f").mkString(" ")})")
    }
  }
}
