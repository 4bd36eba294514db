package graft.api

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets

import com.sun.net.httpserver.{HttpExchange, HttpServer}

import graft.engine.{Engine, EngineStats, ResultSet}

/** REST API over the engine — the reference's primary external entry
  * point (StorageEngine/API/api_server.hpp:103-320), same endpoint
  * surface and response envelope, served by the JDK's built-in HTTP
  * server (no extra dependencies):
  *
  *   POST /api/query                    {"sql": "..."} → result set
  *   POST /api/explain                  {"sql": "..."} → {"plan": "..."}
  *   POST /api/explainspark             {"sql": "..."} → tier feed + Catalyst plan
  *   GET  /api/tables                   table names
  *   GET  /api/tables/:name             full schema
  *   GET  /api/tables/:name/describe    text description
  *   GET  /api/status                   engine stats (M5)
  *   POST /api/admin/flush              force flush all tables
  *   POST /api/admin/compact            compact all tables
  *   POST /api/admin/optimize           {"table","zorder":"c1,c2"} → z-order rewrite
  *   GET  /api/health                   liveness + uptime
  *   GET  /api/info                     capability discovery
  *
  * Envelope: {"success":true,"data":{...}} /
  * {"success":false,"error":{"message":...,"type":...}}
  * (reference API/json_helpers.hpp:23-51).
  */
final class ApiServer(engine: Engine, port: Int = 0) {

  // The JDK server writes response headers and body as two TCP
  // segments; with Nagle on, the body waits for the client's delayed
  // ACK (~40 ms per keep-alive request). The JDK reads this property
  // once per JVM, at its first HttpServer.create, so it must be set
  // before that; putIfAbsent leaves an explicit setting alone.
  System.getProperties.putIfAbsent("sun.net.httpserver.nodelay", "true")

  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
  private val startNanos = System.nanoTime()
  private val pool = java.util.concurrent.Executors.newFixedThreadPool(8)

  server.createContext("/api/", handle _)
  server.setExecutor(pool)

  def boundPort: Int = server.getAddress.getPort
  def start(): Unit = server.start()
  def stop(): Unit = {
    server.stop(0)
    // HttpServer.stop does not shut down a caller-supplied executor;
    // its non-daemon threads would keep the JVM alive
    pool.shutdown()
  }

  // ---- JSON encoding (minimal, dependency-free) ----------------------------

  private def jstr(s: String): String =
    "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  private def jarr(items: Iterable[String]): String = items.mkString("[", ",", "]")
  private def jobj(fields: (String, String)*): String =
    fields.map { case (k, v) => jstr(k) + ":" + v }.mkString("{", ",", "}")

  private def success(data: String): String =
    jobj("success" -> "true", "data" -> data)
  private def failure(message: String, kind: String): String =
    jobj("success" -> "false",
      "error" -> jobj("message" -> jstr(message), "type" -> jstr(kind)))

  private def resultSetJson(rs: ResultSet, ms: Double): String =
    if (!rs.ok) failure(rs.error, "QUERY_ERROR")
    else {
      val fields = Seq(
        "headers" -> jarr(rs.headers.map(jstr)),
        "rows" -> jarr(rs.rows.map(r => jarr(r.map(jstr)))),
        "rowsAffected" -> rs.rowsAffected.toString,
        // Locale.ROOT: the f-interpolator is locale-sensitive and a
        // comma decimal separator breaks the JSON envelope
        "executionTimeMs" -> String.format(java.util.Locale.ROOT, "%.3f", ms)) ++
        // a successful SELECT capped at selectRowCap carries its
        // truncation notice in rs.error — surface it (the Shell
        // prints it as a WARNING line; API clients would otherwise
        // silently get a partial result set)
        (if (rs.error.nonEmpty) Seq("warning" -> jstr(rs.error)) else Nil)
      success(jobj(fields: _*))
    }

  private def statsJson(st: EngineStats): String =
    success(jobj(
      "tables" -> jarr(st.tables.map(ts => jobj(
        "name" -> jstr(ts.name),
        "hotRows" -> ts.hotRows.toString,
        "hotVersions" -> ts.hotVersions.toString,
        "hotBytes" -> ts.hotBytes.toString,
        "coldTiers" -> ts.coldTiers.toString,
        "coldBytes" -> ts.coldBytes.toString,
        "unlaidBytes" -> ts.unlaidBytes.toString,
        "maxFlushedSeq" -> ts.maxFlushedSeq.toString))),
      "operations" -> jobj(
        "totalWrites" -> st.totalWrites.toString,
        "totalReads" -> st.totalReads.toString,
        "totalRangeQueries" -> st.totalRangeQueries.toString,
        "totalCompactions" -> st.totalCompactions.toString),
      "currentSeq" -> st.currentSeq.toString))

  /** Value formatting for arbitrary Spark SQL results — consistent
    * with the engine's reference-parity formatter (doubles at 6
    * significant digits, NULL as empty string).
    */
  private def fmtAny(v: Any): String = v match {
    case null => ""
    case d: java.lang.Double => engine.fmtDouble(d)
    case f: java.lang.Float  => engine.fmtDouble(f.toDouble)
    case b: Array[Byte]      => b.map("%02x".format(_)).mkString
    case other => other.toString
  }

  /** Index just past the ':' of TOP-LEVEL key `key` in `body`, or -1
    * when absent: a string token at brace/bracket DEPTH 1 whose
    * preceding non-whitespace character (outside strings) is '{' or
    * ',' and whose next non-whitespace character is ':'. Tracks
    * in-string state with escape handling, so the key spelled INSIDE
    * a string value ({"note":"set \"part_bytes\": later"}) never
    * matches — the failure mode of both the raw substring test and a
    * bare key-colon regex — and tracks nesting depth, so a key inside
    * a NESTED object ({"opts":{"part_bytes":1}}) is not top-level
    * presence and can never feed a nested value to a caller that
    * applies it as if top-level.
    */
  private def depth1ValueStart(body: String, key: String): Int = {
    var i = 0
    var depth = 0     // brace/bracket depth OUTSIDE string tokens
    var prev = ' '    // last non-ws char seen OUTSIDE string tokens
    while (i < body.length) {
      val c = body.charAt(i)
      if (c == '"') {
        val start = i + 1
        var j = start
        var esc = false
        var end = -1
        while (j < body.length && end < 0) {
          val cj = body.charAt(j)
          if (esc) esc = false
          else if (cj == '\\') esc = true
          else if (cj == '"') end = j
          j += 1
        }
        if (end < 0) return -1 // unterminated string: malformed body
        val tok = body.substring(start, end)
        var k2 = end + 1
        while (k2 < body.length && body.charAt(k2).isWhitespace) k2 += 1
        val isKey = k2 < body.length && body.charAt(k2) == ':' &&
          (prev == '{' || prev == ',')
        if (isKey && depth == 1 && tok == key) return k2 + 1
        prev = '"' // a string token is neither '{' nor ','
        i = end + 1
      } else {
        if (!c.isWhitespace) {
          if (c == '{' || c == '[') depth += 1
          else if (c == '}' || c == ']') depth -= 1
          prev = c
        }
        i += 1
      }
    }
    -1
  }

  /** True when `key` appears as a TOP-LEVEL JSON key in `body` (see
    * [[depth1ValueStart]] for the scanner's contract).
    */
  private[api] def jsonHasKey(body: String, key: String): Boolean =
    depth1ValueStart(body, key) >= 0

  /** Extract a TOP-LEVEL string field from a JSON body — located by
    * the depth-1 scanner, so a same-named key inside a nested object
    * or spelled inside a string value never matches (the jsonHasKey
    * contract, applied to the value extractors too).
    */
  private[api] def jsonField(body: String, key: String): Option[String] = {
    val at = depth1ValueStart(body, key)
    if (at < 0) return None
    var i = at
    while (i < body.length && body.charAt(i).isWhitespace) i += 1
    if (i >= body.length || body.charAt(i) != '"') return None
    i += 1
    val start = i
    var esc = false
    var end = -1
    while (i < body.length && end < 0) {
      val c = body.charAt(i)
      if (esc) esc = false
      else if (c == '\\') esc = true
      else if (c == '"') end = i
      i += 1
    }
    if (end < 0) return None // unterminated string: malformed body
    val raw = body.substring(start, end)
    val sb = new StringBuilder
    var j = 0
    while (j < raw.length) {
      raw(j) match {
        case '\\' if j + 1 < raw.length =>
          raw(j + 1) match {
            case 'n' => sb += '\n'; j += 2
            case 'r' => sb += '\r'; j += 2
            case 't' => sb += '\t'; j += 2
            case 'u' if j + 6 <= raw.length &&
                raw.substring(j + 2, j + 6).forall(c =>
                  Character.digit(c, 16) >= 0) =>
              sb += Integer.parseInt(raw.substring(j + 2, j + 6), 16).toChar; j += 6
            case c   => sb += c; j += 2
          }
        case c => sb += c; j += 1
      }
    }
    Some(sb.toString)
  }

  /** Extract a top-level integer field from a (flat) JSON body — a
    * bare number or a quoted digit string both parse; anything else
    * (incl. numeric-PREFIX garbage like `1e6`, `32768.5`, `"32kb"` —
    * the lookahead requires the value to END at the digits) yields
    * None, and callers that saw the key present reject loudly rather
    * than run with a silently truncated number.
    */
  private[api] def jsonLongField(body: String, key: String): Option[Long] = {
    val at = depth1ValueStart(body, key) // top-level keys only
    if (at < 0) return None
    var i = at
    while (i < body.length && body.charAt(i).isWhitespace) i += 1
    if (i >= body.length) return None
    val quoted = body.charAt(i) == '"'
    if (quoted) i += 1
    val start = i
    if (i < body.length && body.charAt(i) == '-') i += 1
    while (i < body.length && body.charAt(i).isDigit) i += 1
    val digits = body.substring(start, i)
    if (!digits.matches("-?\\d+")) return None
    if (quoted) {
      if (i >= body.length || body.charAt(i) != '"') return None // "32kb"
      i += 1
    }
    var j = i
    while (j < body.length && body.charAt(j).isWhitespace) j += 1
    // the value must END at the digits: numeric-PREFIX garbage (1e6,
    // 32768.5) silently truncating to a tiny part size is the failure
    // the anchored parse exists to prevent
    if (j >= body.length || (body.charAt(j) != ',' && body.charAt(j) != '}'))
      return None
    digits.toLongOption
  }

  // ---- routing -------------------------------------------------------------

  private def handle(ex: HttpExchange): Unit = {
    val path = ex.getRequestURI.getPath
    val method = ex.getRequestMethod
    val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
    val (code, json) =
      try route(method, path, body)
      catch { case e: Exception => (500, failure(s"Internal error: ${e.getMessage}", "INTERNAL_ERROR")) }
    val bytes = json.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(code, bytes.length)
    val os = ex.getResponseBody
    try os.write(bytes) finally os.close()
  }

  private def route(method: String, path: String, body: String): (Int, String) =
    (method, path) match {
      case ("POST", "/api/query") =>
        withSql(body) { sql =>
          val t0 = System.nanoTime()
          val rs = engine.sql(sql)
          val ms = (System.nanoTime() - t0) / 1e6
          (if (rs.ok) 200 else 400, resultSetJson(rs, ms))
        }

      // beyond the reference surface: FULL Spark SQL over the live
      // snapshots (joins, windows, set ops — everything the
      // reference dialect lacks), same envelope, same row cap
      case ("POST", "/api/sparksql") =>
        withSql(body) { sql =>
          try {
            val t0 = System.nanoTime()
            // block-loss retry: this action runs outside the engine's
            // scan leases, so a concurrently retired snapshot-cache
            // entry can lose a block mid-fetch — the retry re-plans
            val (headers, rows, truncated) = engine.withBlockLossRetry {
              val df = engine.sparkSql(sql)
              val hdrs = df.columns.toVector
              val it = df.toLocalIterator()
              val buf = Vector.newBuilder[Vector[String]]
              var n = 0
              while (it.hasNext && n < engine.selectRowCap) {
                val r = it.next()
                buf += hdrs.indices.toVector.map(i => fmtAny(r.get(i)))
                n += 1
              }
              (hdrs, buf.result(), it.hasNext)
            }
            val ms = (System.nanoTime() - t0) / 1e6
            val fields = Seq(
              "headers" -> jarr(headers.map(jstr)),
              "rows" -> jarr(rows.map(r => jarr(r.map(jstr)))),
              "rowsAffected" -> "0",
              "executionTimeMs" -> String.format(java.util.Locale.ROOT, "%.3f", ms)) ++
              (if (truncated)
                Seq("warning" -> jstr(s"Result truncated at ${engine.selectRowCap} rows"))
              else Nil)
            (200, success(jobj(fields: _*)))
          } catch {
            case e: Exception => (400, failure(
              Option(e.getMessage).getOrElse(e.getClass.getSimpleName), "QUERY_ERROR"))
          }
        }

      case ("POST", "/api/explain") =>
        withSql(body) { sql =>
          val stmt = if (sql.toUpperCase.startsWith("EXPLAIN")) sql else s"EXPLAIN $sql"
          val rs = engine.sql(stmt)
          if (!rs.ok) (400, failure(rs.error, "QUERY_ERROR"))
          else (200, success(jobj("plan" -> jstr(rs.rows.map(_.head).mkString("\n")))))
        }

      // EXPLAIN for the Spark SQL extension surface: per-table tier
      // feed (hot rows, cold tiers by level) + Catalyst physical plan
      case ("POST", "/api/explainspark") =>
        withSql(body) { sql =>
          try (200, success(jobj("plan" -> jstr(engine.explainSpark(sql)))))
          catch {
            case e: Exception => (400, failure(
              Option(e.getMessage).getOrElse(e.getClass.getSimpleName), "QUERY_ERROR"))
          }
        }

      case ("GET", "/api/tables") =>
        val names = engine.tableNames
        (200, success(jobj(
          "tables" -> jarr(names.map(jstr)),
          "count" -> names.size.toString)))

      case ("GET", TablePath(name, "")) =>
        engine.meta(name) match {
          case None => (404, failure(s"Table '$name' does not exist", "NOT_FOUND"))
          case Some(m) => (200, success(jobj(
            "tableName" -> jstr(m.name),
            "primaryKey" -> jstr(m.pk),
            "columns" -> jarr(m.cols.map(c => jobj(
              "name" -> jstr(c.name),
              "type" -> jstr(c.tpe.sqlName),
              "nullable" -> (!c.notNull && c.name != m.pk).toString))),
            "columnCount" -> m.cols.size.toString,
            // declared z-order layout (empty = pk-sorted tiers)
            "zorderLayout" -> jarr(engine.layoutOf(name).map(jstr)))))
        }

      case ("GET", TablePath(name, "/describe")) =>
        val rs = engine.sql(s"DESCRIBE $name")
        if (!rs.ok) (404, failure(rs.error, "NOT_FOUND"))
        else (200, success(jobj("description" ->
          jstr(rs.rows.map(_.mkString(" ")).mkString("\n")))))

      case ("GET", "/api/status") =>
        (200, statsJson(engine.stats))

      case ("POST", "/api/admin/flush") =>
        engine.tableNames.foreach(engine.forceFlush)
        (200, success(jobj("message" -> jstr("Hot stores flushed to parquet"))))

      case ("POST", "/api/admin/compact") =>
        try {
          engine.tableNames.foreach(engine.compact)
          if (engine.compactionIsPaused)
            (200, success(jobj(
              "message" -> jstr("Compaction deferred — scheduler is paused"),
              "pending" -> engine.pendingCompactions.toString)))
          else (200, success(jobj("message" -> jstr("Compaction triggered"))))
        } catch {
          // a wedged in-flight pass surfaces as retriable 503, not an
          // API thread pinned to the per-store serialization guard
          case e: graft.engine.EngineException =>
            (503, failure(e.getMessage, "COMPACTION_BUSY"))
        }

      // OPTIMIZE ZORDER — declare 2-4 layout columns and rewrite the
      // table's cold tiers Morton-clustered (engine extension; the
      // reference's unwired columnar-layout ambition, lsm_levels.hpp:84-99).
      // Optional "part_bytes" sets the rewrite granularity (persisted
      // with the layout, honored by deferred drains and later majors).
      case ("POST", "/api/admin/optimize") =>
        // ONE parse of part_bytes; present-but-malformed is a loud 400.
        // Presence via the in-string-aware key scanner (jsonHasKey) —
        // the raw substring test fired on the literal as a VALUE
        // ({"table":"part_bytes"}), and a bare key-colon regex still
        // fired on the shape inside a string value
        val partBytes = jsonLongField(body, "part_bytes")
        val partBytesMalformed =
          jsonHasKey(body, "part_bytes") && partBytes.isEmpty
        (jsonField(body, "table"), jsonField(body, "zorder")) match {
          case (Some(table), Some(zorder)) if !partBytesMalformed =>
            val cols = zorder.split(",").map(_.trim).filter(_.nonEmpty).toSeq
            try {
              val outcome = partBytes match {
                case Some(pb) => engine.optimizeZorder(table, cols, pb)
                case None     => engine.optimizeZorder(table, cols)
              }
              (200, success(jobj(
                "message" -> jstr(s"OPTIMIZE ${outcome}: '$table' zorder(${cols.mkString(",")})"),
                "outcome" -> jstr(outcome))))
            } catch {
              case e: graft.engine.EngineException
                  if e.getMessage.startsWith("Table '") &&
                     e.getMessage.endsWith("does not exist") =>
                (404, failure(e.getMessage, "NOT_FOUND"))
              case e: graft.engine.EngineException if e.getMessage.contains("busy") =>
                (503, failure(e.getMessage, "COMPACTION_BUSY"))
              case e: graft.engine.EngineException =>
                (400, failure(e.getMessage, "INVALID_REQUEST"))
            }
          case _ =>
            (400, failure("Body must carry 'table' and 'zorder' (comma-separated " +
              "columns); optional 'part_bytes' must be a positive integer",
              "INVALID_REQUEST"))
        }

      // reference api_server.hpp:271-285 — pause/resume the compaction
      // scheduler; paused triggers queue as deferred jobs, resume drains
      case ("POST", "/api/admin/compact/pause") =>
        engine.pauseCompaction()
        (200, success(jobj("message" -> jstr("Compaction paused"))))

      case ("POST", "/api/admin/compact/resume") =>
        try {
          engine.resumeCompaction()
          if (engine.pendingCompactions > 0)
            (200, success(jobj(
              "message" -> jstr("Compaction resumed — some deferred jobs re-deferred busy"),
              "pending" -> engine.pendingCompactions.toString)))
          else (200, success(jobj("message" -> jstr("Compaction resumed"))))
        } catch {
          // resumeCompaction re-defers failed jobs itself; this is the
          // same retriable-503 belt as the compact endpoint in case a
          // future drain path ever rethrows
          case e: graft.engine.EngineException =>
            (503, failure(e.getMessage, "COMPACTION_BUSY"))
        }

      case ("GET", "/api/health") =>
        val uptime = (System.nanoTime() - startNanos) / 1e9
        (200, success(jobj(
          "status" -> jstr("ok"),
          "uptime_seconds" -> uptime.toLong.toString,
          "engine" -> jstr("graft"))))

      case ("GET", "/api/info") =>
        (200, success(jobj(
          "engine" -> jstr("graft — Spark-native HTAP engine"),
          "supportedStatements" -> jarr(Seq(
            "CREATE TABLE", "DROP TABLE", "INSERT", "SELECT", "UPDATE",
            "DELETE", "SHOW TABLES", "EXPLAIN", "DESCRIBE",
            "OPTIMIZE ... ZORDER BY",
            "SEARCH <table> NEAREST (v1, v2, ...) TOP k " +
              "[USING exact|lsh|ivf|ivfpq] [VECTOR col]").map(jstr)),
          "extensions" -> jarr(Seq(
            "POST /api/sparksql (full Spark SQL)",
            "POST /api/explainspark (tier feed + Catalyst physical plan)",
            "POST /api/admin/optimize (z-order cold-tier rewrite)",
            "SEARCH via POST /api/query (engine-owned ANN index: " +
              "any vector dimension, fresh at commit, self-retraining)").map(jstr)))))

      case _ => (404, failure(s"No route for $method $path", "NOT_FOUND"))
    }

  private def withSql(body: String)(f: String => (Int, String)): (Int, String) =
    jsonField(body, "sql") match {
      case None => (400, failure("Missing 'sql' field in request body", "INVALID_REQUEST"))
      case Some(raw) =>
        val sql = raw.trim.stripSuffix(";")
        if (sql.isEmpty) (400, failure("SQL statement cannot be empty", "INVALID_REQUEST"))
        else f(sql)
    }

  private object TablePath {
    def unapply(path: String): Option[(String, String)] = {
      val prefix = "/api/tables/"
      if (!path.startsWith(prefix)) None
      else {
        val rest = path.drop(prefix.length)
        val slash = rest.indexOf('/')
        if (slash < 0) Some((rest, ""))
        else Some((rest.take(slash), rest.drop(slash)))
      }
    }
  }
}
