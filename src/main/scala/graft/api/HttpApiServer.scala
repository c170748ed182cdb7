package graft.api

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets

import scala.util.control.NonFatal

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}

import graft.json.JsonValue

/** HTTP transport for [[JsonApi]] on the reference server's routes
  * (`server/src/main.rs:133-146`):
  *
  * {{{
  *   GET    /v1/table                       list tables
  *   PUT    /v1/table/{name}                create table
  *   DELETE /v1/table/{name}                delete table
  *   POST   /v1/table/{name}/write          batch write
  *   POST   /v1/table/{name}/rows           multi-get
  *   POST   /v1/table/{name}/scan           scan
  *   POST   /v1/table/{name}/count          count
  *   POST   /v1/table/{name}/column-family  create column families
  *   DELETE /v1/table/{name}/row            filtered row delete
  *   GET    /v1/table/{name}/metrics        registered; unimplemented upstream
  *   GET    /  or  /index.html              metrics dashboard (HTML)
  *   GET    <any ./dist asset path>         static file (actix_files layer)
  *   *      <anything else>                 dashboard (default_service)
  * }}}
  *
  * JSON bodies on the API routes are capped at 10 MiB, the reference's
  * `JsonConfig::limit` (`server/src/main.rs:124-126`) — an oversized
  * payload gets a plain 413 without ever being buffered in full.
  *
  * (`GET /v1/table/{name}/metrics` is `unimplemented!()` upstream past its
  * table-existence check — `server/src/api/metrics.rs:29-44` — so the route
  * here reproduces exactly the reachable behavior: 404 envelope for unknown
  * tables, plain 500 for known ones.)
  *
  * Built on the JDK's `com.sun.net.httpserver` — zero new dependencies in
  * the zero-egress build. The HTTP status code mirrors the envelope's
  * `status` field (`server/src/response.rs:6-19`); unexpected failures
  * produce the reference's plain-text 500
  * (`server/src/error.rs:12-16`).
  *
  * `port = 0` binds an ephemeral port (tests); the reference defaults to
  * 9876 (`server/src/main.rs:53`).
  */
final class HttpApiServer(api: JsonApi, port: Int = 9876,
    /** One line per completed request, the reference's
      * `Logger::new("%r %s - %{User-Agent}i")` (`server/src/main.rs:129`):
      * request line, status, user agent — plus the duration actix's `%T`
      * family would add. Injectable so specs can capture it. */
    accessLog: String => Unit = line => System.err.println(line),
    /** Root of the static-asset layer (`actix_files::Files::new("/",
      * "./dist")`) — explicit rather than implicitly the process CWD. */
    distDir: String = "dist") {

  /** `server/src/main.rs:124-126`: `JsonConfig::default().limit(10 MiB)`. */
  private val MaxJsonBody = 10 * 1024 * 1024

  /** Max wall-clock a rejected body drain may occupy a worker thread. */
  private val DrainDeadlineNanos = 5L * 1000 * 1000 * 1000

  private val server = HttpServer.create(new InetSocketAddress(port), 0)
  server.createContext("/", new Router)

  /** Request workers, named `graft-http-<n>`. Non-daemon, so [[stop]]
    * must shut them down or a JVM that served HTTP never exits. */
  private val pool = java.util.concurrent.Executors.newFixedThreadPool(8,
    new java.util.concurrent.ThreadFactory {
      private val base = java.util.concurrent.Executors.defaultThreadFactory()
      private val n = new java.util.concurrent.atomic.AtomicInteger(0)
      def newThread(r: Runnable): Thread = {
        val t = base.newThread(r)
        t.setName(s"graft-http-${n.incrementAndGet()}")
        t
      }
    })
  server.setExecutor(pool)

  def boundPort: Int = server.getAddress.getPort

  def start(): Int = { server.start(); boundPort }

  def stop(): Unit = { server.stop(0); pool.shutdown() }

  private final class Router extends HttpHandler {
    override def handle(ex: HttpExchange): Unit = {
      val t0 = System.nanoTime()
      try {
        val path = ex.getRequestURI.getPath
        val method = ex.getRequestMethod
        // permissive CORS on every response, mirroring the reference's
        // `actix_cors::Cors::default().send_wildcard().allow_any_origin()
        // .allowed_methods(["*"]).allowed_headers(["*"]).max_age(3600)`
        // (`server/src/main.rs:114-120`) — the browser-SPA-on-another-
        // origin deployment shape the reference's app/ assumes
        ex.getResponseHeaders.set("Access-Control-Allow-Origin", "*")
        if (method == "OPTIONS" && ex.getRequestHeaders
            .containsKey("Access-Control-Request-Method")) {
          val h = ex.getResponseHeaders
          h.set("Access-Control-Allow-Methods", "*")
          h.set("Access-Control-Allow-Headers", "*")
          h.set("Access-Control-Max-Age", "3600")
          ex.sendResponseHeaders(200, -1L) // preflight: headers, no body
          return
        }
        if (method == "GET" && (path == "/" || path == "/index.html")) {
          // reference routes `/` and `/index.html` to the dashboard
          // (`server/src/main.rs:133-134`)
          respond(ex, 200, "text/html", api.dashboardHtml())
          return
        }
        route(method, path) match {
          case Some(handler) =>
            // the reference's JSON extractor rejects payloads over
            // 10 MiB (`server/src/main.rs:124-126` `JsonConfig::limit`);
            // the capped read stops BEFORE buffering an oversized body —
            // an unbounded readAllBytes was the DoS divergence
            readCapped(ex) match {
              case None =>
                // drain the remaining body (bounded) BEFORE responding:
                // answering while the client is still mid-upload races a
                // TCP reset against the 413 — the client may never see
                // the status. A fully-drained request gets a clean
                // response; past the drain bound we stop reading and the
                // unread tail makes the connection unusable for
                // keep-alive either way, so always advertise close.
                val drained = drainBounded(ex)
                ex.getResponseHeaders.set("Connection", "close")
                respond(ex, 413, "text/plain",
                  s"JSON payload is larger than allowed (limit: $MaxJsonBody bytes)")
                if (!drained) ex.close()
              case Some(body) =>
                val envelope = handler(body)
                val status = JsonValue.parse(envelope).get("status")
                  .map(_.asLong.toInt).getOrElse(200)
                respond(ex, status, "application/json", envelope)
            }
          case None =>
            // reference fallthrough (`server/src/main.rs:145-146`):
            // `actix_files` serves `./dist` assets, then ANY still
            // unmatched request routes to the dashboard — a deep link
            // renders the app instead of a 404
            staticFile(method, path) match {
              case Some((bytes, contentType)) =>
                ex.getResponseHeaders.set("Content-Type", contentType)
                ex.sendResponseHeaders(200, bytes.length.toLong)
                ex.getResponseBody.write(bytes)
              case None =>
                respond(ex, 200, "text/html", api.dashboardHtml())
            }
        }
      } catch {
        case NonFatal(_) =>
          // reference: ResponseError -> plain 500 (`server/src/error.rs`)
          respond(ex, 500, "text/plain", "Internal Server Error")
      } finally {
        // `%r %s - %{User-Agent}i` + duration; getResponseCode is the
        // code actually sent (-1 only if the handler died pre-headers)
        val ua = Option(ex.getRequestHeaders.getFirst("User-Agent"))
          .getOrElse("-")
        val ms = (System.nanoTime() - t0) / 1e6
        try accessLog(f""""${ex.getRequestMethod} ${ex.getRequestURI} ${ex
            .getProtocol}" ${ex.getResponseCode} $ms%.1fms - $ua""")
        catch { case NonFatal(_) => () } // a broken sink must not leak the exchange
        ex.close()
      }
    }

    /** Discard the rest of a rejected request body, bounded in BYTES (4×
      * the JSON cap) and in TIME ([[DrainDeadlineNanos]]) — an attacker
      * streaming forever OR trickling one byte per second must not hold
      * one of the fixed worker threads; returns true if EOF was reached —
      * i.e. the upload completed and the 413 can be delivered race-free.
      * A Content-Length declared beyond the byte bound skips the drain
      * entirely: EOF is unreachable within the bound, so reading first
      * would only burn worker time before the same connection-close. */
    private def drainBounded(ex: HttpExchange): Boolean = {
      val bound = 4L * MaxJsonBody
      val declared = Option(ex.getRequestHeaders.getFirst("Content-Length"))
        .flatMap(_.toLongOption)
      if (declared.exists(_ > bound)) return false
      val in = ex.getRequestBody
      val chunk = new Array[Byte](64 * 1024)
      val deadline = System.nanoTime() + DrainDeadlineNanos
      var left = bound
      var n = in.read(chunk)
      while (n >= 0 && left > 0 && System.nanoTime() < deadline) {
        left -= n; n = in.read(chunk)
      }
      n < 0
    }

    /** Request body up to [[MaxJsonBody]]; `None` = over the cap. A
      * declared-oversized Content-Length rejects BEFORE reading a single
      * byte (actix's extractor checks the declared length first); an
      * undeclared/chunked body stops at the cap — never fully buffered
      * either way. */
    private def readCapped(ex: HttpExchange): Option[String] = {
      val declared = Option(ex.getRequestHeaders.getFirst("Content-Length"))
        .flatMap(_.toLongOption)
      if (declared.exists(_ > MaxJsonBody)) return None
      val in = ex.getRequestBody
      val out = new java.io.ByteArrayOutputStream()
      val chunk = new Array[Byte](64 * 1024)
      var n = in.read(chunk)
      while (n >= 0) {
        if (out.size() + n > MaxJsonBody) return None
        out.write(chunk, 0, n)
        n = in.read(chunk)
      }
      Some(new String(out.toByteArray, StandardCharsets.UTF_8))
    }

    /** `dist` asset for a GET, if present — the `actix_files` layer.
      * The served file's REAL path (symlinks resolved) must stay inside
      * the real dist root: a normalize()-only check passes a symlink
      * planted inside dist that points outside it. */
    private def staticFile(method: String,
        path: String): Option[(Array[Byte], String)] = {
      if (method != "GET") return None
      val target = try {
        val dist = java.nio.file.Paths.get(distDir).toRealPath()
        val t = dist.resolve(path.stripPrefix("/")).toRealPath()
        if (t.startsWith(dist)) t else return None
      } catch { case _: java.io.IOException => return None } // incl. missing
      if (!java.nio.file.Files.isRegularFile(target)) None
      else {
        val ct = path.substring(path.lastIndexOf('.') + 1) match {
          case "html" => "text/html"
          case "js" => "application/javascript"
          case "css" => "text/css"
          case "svg" => "image/svg+xml"
          case "png" => "image/png"
          case "json" => "application/json"
          case _ => "application/octet-stream"
        }
        Some((java.nio.file.Files.readAllBytes(target), ct))
      }
    }

    private def respond(ex: HttpExchange, status: Int, contentType: String,
        body: String): Unit = {
      val bytes = body.getBytes(StandardCharsets.UTF_8)
      ex.getResponseHeaders.set("Content-Type", contentType)
      ex.sendResponseHeaders(status, bytes.length.toLong)
      ex.getResponseBody.write(bytes)
    }

    private def route(method: String,
        path: String): Option[String => String] = {
      val segs = path.split("/").filter(_.nonEmpty)
      (method, segs) match {
        case ("GET", Array("v1", "table")) =>
          Some(_ => api.listTables())
        case ("PUT", Array("v1", "table", name)) =>
          Some(_ => api.createTable(name))
        case ("DELETE", Array("v1", "table", name)) =>
          Some(_ => api.deleteTable(name))
        case ("DELETE", Array("v1", "table", name, "row")) =>
          Some(body => api.deleteRow(name, body))
        case ("POST", Array("v1", "table", name, "write")) =>
          Some(body => api.write(name, body))
        case ("POST", Array("v1", "table", name, "rows")) =>
          Some(body => api.getRows(name, body))
        case ("POST", Array("v1", "table", name, "scan")) =>
          Some(body => api.scan(name, body))
        case ("POST", Array("v1", "table", name, "count")) =>
          Some(body => api.count(name, body))
        case ("POST", Array("v1", "table", name, "column-family")) =>
          Some(body => api.createColumnFamilies(name, body))
        case ("GET", Array("v1", "table", name, "metrics")) =>
          Some(_ => api.tableMetrics(name))
        case _ => None
      }
    }
  }
}
