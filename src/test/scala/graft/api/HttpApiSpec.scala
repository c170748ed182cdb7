package graft.api

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import graft.SparkSuite
import graft.core.Catalog
import graft.json.JsonValue

/** Drives the engine over REAL HTTP using the reference server's routes and
  * the documented request bodies (the md files under
  * `docs/src/content/docs/reference/json-api/`, routes
  * `server/src/main.rs:133-146`).
  */
class HttpApiSpec extends SparkSuite {

  private val client = HttpClient.newHttpClient()

  private def send(method: String, url: String,
      body: String = ""): (Int, JsonValue) = {
    val b = HttpRequest.newBuilder(URI.create(url))
    val req = (method match {
      case "GET"    => b.GET()
      case "PUT"    => b.PUT(HttpRequest.BodyPublishers.ofString(body))
      case "POST"   => b.POST(HttpRequest.BodyPublishers.ofString(body))
      case "DELETE" => b.method("DELETE", HttpRequest.BodyPublishers.ofString(body))
    }).header("Content-Type", "application/json").build()
    val resp = client.send(req, HttpResponse.BodyHandlers.ofString())
    val parsed =
      try JsonValue.parse(resp.body)
      catch { case _: Throwable => JsonValue.JString(resp.body) }
    (resp.statusCode, parsed)
  }

  test("concurrent mutations through the server serialize correctly") {
    withTempDir { dir =>
      val api = new JsonApi(new Catalog(dir.toString), spark)
      val srv = new HttpApiServer(api, port = 0)
      val port = srv.start()
      val base = s"http://localhost:$port/v1/table"
      try {
        send("PUT", s"$base/ctable")
        send("POST", s"$base/ctable/column-family",
          """{"column_families":[{"name":"v"}]}""")
        val items = (0 until 8).map(i =>
          s"""{"row_key":"r$i","cells":[{"column_key":"v:","time":0,"type":"string","value":"x$i"}]}""")
          .mkString("""{"items":[""", ",", "]}")
        send("POST", s"$base/ctable/write", items)

        // four concurrent filtered row deletes: the per-table mutation
        // lock must serialize the copy-on-write rewrites losslessly
        import scala.concurrent.{Await, Future}
        import scala.concurrent.ExecutionContext.Implicits.global
        import scala.concurrent.duration._
        val deletes = (0 until 4).map { i =>
          Future(send("DELETE", s"$base/ctable/row",
            s"""{"row_key":"r$i"}"""))
        }
        val results = Await.result(Future.sequence(deletes), 120.seconds)
        assert(results.forall(_._1 == 202), results.map(_._1))
        assert(results.map(_._2.get("result")
          .flatMap(_.get("deleted_cells_count")).get.asLong).sum == 4L)

        val (_, cnt) = send("POST", s"$base/ctable/count",
          """{"row":{"prefix":""}}""")
        assert(cnt.get("result").flatMap(_.get("row_count"))
          .map(_.asLong) == Some(4L))
      } finally srv.stop()
    }
  }

  test("GET / serves the metrics dashboard with recorded lat#* series") {
    withTempDir { dir =>
      val api = new JsonApi(new Catalog(dir.toString), spark,
        recordLatencies = true)
      val srv = new HttpApiServer(api, port = 0)
      val port = srv.start()
      val base = s"http://localhost:$port"
      try {
        send("PUT", s"$base/v1/table/dash")
        send("POST", s"$base/v1/table/dash/column-family",
          """{"column_families":[{"name":"v"}]}""")
        send("POST", s"$base/v1/table/dash/write",
          """{"items":[{"row_key":"r1","cells":[
            |{"column_key":"v:","time":0,"type":"string","value":"x"}]}]}""".stripMargin)
        send("POST", s"$base/v1/table/dash/scan", """{"row":{"prefix":"r"}}""")

        val req = HttpRequest.newBuilder(URI.create(s"$base/")).GET().build()
        val resp = client.send(req, HttpResponse.BodyHandlers.ofString())
        assert(resp.statusCode == 200)
        assert(resp.headers.firstValue("Content-Type")
          .orElse("") == "text/html")
        val html = resp.body
        assert(html.contains("table: dash"), "dashboard lists the user table")
        assert(html.contains("lat#read#pfx"), "scan latency series present")
        assert(html.contains("lat#write#batch"), "write latency series present")
        assert(html.contains("""id="table_stats""""), "JSON data island present")
        // /index.html serves the same page (reference main.rs:134)
        val req2 = HttpRequest.newBuilder(
          URI.create(s"$base/index.html")).GET().build()
        assert(client.send(req2,
          HttpResponse.BodyHandlers.ofString()).statusCode == 200)
      } finally srv.stop()
    }
  }

  test("unmatched paths fall through to the dashboard (default_service) " +
      "and oversized JSON bodies get a plain 413") {
    withTempDir { dir =>
      val api = new JsonApi(new Catalog(dir.toString), spark)
      val srv = new HttpApiServer(api, port = 0)
      val port = srv.start()
      val base = s"http://localhost:$port"
      try {
        // reference main.rs:146: default_service routes ANY unmatched
        // request to the dashboard — a browser deep link renders the app
        for (path <- Seq("/tables/webtable", "/deep/link", "/v1/unknown")) {
          val req = HttpRequest.newBuilder(
            URI.create(s"$base$path")).GET().build()
          val resp = client.send(req, HttpResponse.BodyHandlers.ofString())
          assert(resp.statusCode == 200, s"$path -> ${resp.statusCode}")
          assert(resp.headers.firstValue("Content-Type")
            .orElse("") == "text/html", s"$path must render the dashboard")
          assert(resp.body.contains("<html"), s"$path body is the dashboard")
        }
        // a POST to an unmatched path falls through too (any method)
        val (ps, pb) = send("POST", s"$base/not/a/route", "{}")
        assert(ps == 200 && pb.asString.contains("<html"))

        // reference main.rs:124-126: JsonConfig limit 10 MiB — an
        // oversized write body is rejected with a plain 4xx, never
        // buffered or parsed
        send("PUT", s"$base/v1/table/cap")
        send("POST", s"$base/v1/table/cap/column-family",
          """{"column_families":[{"name":"v"}]}""")
        val big = "x" * (10 * 1024 * 1024 + 16)
        val (bs, bbody) = send("POST", s"$base/v1/table/cap/write", big)
        assert(bs == 413, s"oversized body -> $bs")
        assert(bbody.asString.contains("larger than allowed"))
        // an at-limit body still reaches the JSON parser (400, not 413)
        val okSize = "x" * (1024 * 1024)
        val (as, _) = send("POST", s"$base/v1/table/cap/write", okSize)
        assert(as == 400, s"under-limit malformed body -> $as (JSON error)")
      } finally srv.stop()
    }
  }

  test("reference routes over real HTTP: lifecycle + doc-example bodies") {
    withTempDir { dir =>
      val api = new JsonApi(new Catalog(dir.toString), spark)
      val srv = new HttpApiServer(api, port = 0)
      val port = srv.start()
      val base = s"http://localhost:$port/v1/table"
      try {
        // PUT create table
        val (cs, cb) = send("PUT", s"$base/webtable")
        // create_table.rs:56: 201 CREATED; create again → 409 Conflict
        assert(cs == 201 && cb.get("status").map(_.asLong) == Some(201L))
        val (cs2, cb2) = send("PUT", s"$base/webtable")
        assert(cs2 == 409 &&
          cb2.get("message").map(_.asString) == Some("Conflict"))

        // POST column-family (docs create-column-families.md body)
        val (fs, _) = send("POST", s"$base/webtable/column-family",
          """{"column_families":[{"name":"language"},{"name":"title"},
            |{"name":"anchor"},{"name":"meta"}]}""".stripMargin)
        // create_column_family.rs:98: 201 CREATED; re-create → 409 with
        // the family named; unknown table → 404; system name → 403
        assert(fs == 201)
        val (fs2, fb2) = send("POST", s"$base/webtable/column-family",
          """{"column_families":[{"name":"title"}]}""")
        assert(fs2 == 409 && fb2.get("message").map(_.asString) ==
          Some("Column family title already exists"))
        val (fs3, _) = send("POST", s"$base/absent/column-family",
          """{"column_families":[{"name":"x"}]}""")
        assert(fs3 == 404)
        val (fs4, _) = send("POST", s"$base/_metrics/column-family",
          """{"column_families":[{"name":"x"}]}""")
        assert(fs4 == 403)
        // per-table verbs on an unknown table → 404 envelope, never
        // auto-create (write.rs:127, scan.rs:100, get_rows.rs:96,
        // count.rs:78, delete_row.rs:97)
        for ((m, p, b) <- Seq(
          ("POST", "absent/write", """{"items":[{"row_key":"r","cells":[{"column_key":"v:","type":"string","value":"x"}]}]}"""),
          ("POST", "absent/rows", """{"items":[{"row":{"key":"r"}}]}"""),
          ("POST", "absent/scan", """{"row":{"prefix":""}}"""),
          ("POST", "absent/count", """{"row":{"prefix":""}}"""),
          ("DELETE", "absent/row", """{"row_key":"r"}""")))
          assert(send(m, s"$base/$p", b)._1 == 404, s"$p must 404")

        // POST write (docs ingest-data.md body)
        val (ws, wb) = send("POST", s"$base/webtable/write",
          """{"items":[{"row_key":"org.apache.spark","cells":[
            |{"column_key":"title:","type":"string","value":"Apache Spark™ - Unified Engine for large-scale data analytics"},
            |{"column_key":"anchor:org.apache.hbase","type":"string","value":"Visit Apache Spark"},
            |{"column_key":"meta:size","type":"i64","value":152014}]}]}""".stripMargin)
        assert(ws == 200)
        assert(wb.get("result").flatMap(_.get("items"))
          .flatMap(_.get("cell_count")).map(_.asLong) == Some(3L))

        // POST rows (docs retrieve-rows.md shape)
        val (rs, rb) = send("POST", s"$base/webtable/rows",
          """{"items":[{"row":{"key":"org.apache.spark"}}]}""")
        assert(rs == 200)
        val row0 = rb.get("result").flatMap(_.get("rows")).get.asArray.head
        assert(row0.get("row_key").map(_.asString) == Some("org.apache.spark"))
        assert(row0.get("columns").flatMap(_.get("meta")).flatMap(_.get("size"))
          .get.asArray.head.get("value").map(_.asLong) == Some(152014L))

        // POST scan (docs scan-rows.md shape)
        val (ss, sb) = send("POST", s"$base/webtable/scan",
          """{"row":{"prefix":"org.apache"}}""")
        assert(ss == 200)
        assert(sb.get("result").flatMap(_.get("rows")).map(_.asArray.size) == Some(1))

        // POST count
        val (ns, nb) = send("POST", s"$base/webtable/count",
          """{"row":{"prefix":""}}""")
        assert(ns == 200)
        assert(nb.get("result").flatMap(_.get("cell_count")).map(_.asLong) == Some(3L))

        // DELETE row with filter → 202 envelope
        val (ds, db) = send("DELETE", s"$base/webtable/row",
          """{"row_key":"org.apache.spark","column_filter":{"key":"anchor:org.apache.hbase"}}""")
        assert(ds == 202)
        assert(db.get("result").flatMap(_.get("deleted_cells_count"))
          .map(_.asLong) == Some(1L))

        // GET list
        val (ls, lb) = send("GET", base)
        assert(ls == 200)
        assert(lb.get("result").flatMap(_.get("tables")).flatMap(_.get("count"))
          .map(_.asLong) == Some(1L))

        // --- error envelopes (server/src/api/mod.rs bad_request) ---
        // malformed JSON → 400 envelope, not a connection error
        val (bs, bb) = send("POST", s"$base/webtable/scan", """{"row": {"pref""")
        assert(bs == 400 && bb.get("status").map(_.asLong) == Some(400L))
        // missing scan mode → 400
        val (ms, _) = send("POST", s"$base/webtable/scan", """{"row":{}}""")
        assert(ms == 400)
        // unknown column family on write → 400
        val (us, _) = send("POST", s"$base/webtable/write",
          """{"items":[{"row_key":"x","cells":[{"column_key":"nope:","type":"string","value":"v"}]}]}""")
        assert(us == 400)
        // system table name → 400
        val (ts, _) = send("PUT", s"$base/_secret")
        assert(ts == 400)
        // unknown route → default_service dashboard (main.rs:146), the
        // reference's catch-all — NOT a 404
        val (xs, xb) = send("POST", s"$base/webtable/nope", "{}")
        assert(xs == 200 && xb.asString.contains("<html"))

        // GET metrics: registered upstream but unimplemented!() past the
        // table-existence check (server/src/api/metrics.rs:29-44) —
        // known table → the panic's plain 500, unknown table → 404 envelope
        val (is, ib) = send("GET", s"$base/webtable/metrics")
        assert(is == 500 && ib.asString == "Internal Server Error")
        val (as2, ab) = send("GET", s"$base/absent/metrics")
        assert(as2 == 404)
        assert(ab.get("status").map(_.asLong) == Some(404L))
        assert(ab.get("message").map(_.asString) == Some("Table not found"))
        assert(ab.asObject.get("result") == Some(JsonValue.JNull))

        // DELETE table: 202 + micros (delete_table.rs:74-81); a second
        // delete of the now-absent table → 404 envelope (:83-89); system
        // names → 400 (:22-28)
        val (es, eb) = send("DELETE", s"$base/webtable")
        assert(es == 202)
        assert(eb.get("result").flatMap(_.get("micros")).isDefined)
        val (es2, _) = send("DELETE", s"$base/webtable")
        assert(es2 == 404)
        val (es3, _) = send("DELETE", s"$base/_metrics")
        assert(es3 == 400)
      } finally srv.stop()
    }
  }

  test("CORS parity (actix_cors wildcards + preflight) and the access log") {
    withTempDir { dir =>
      val api = new JsonApi(new Catalog(dir.toString), spark)
      val logs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val srv = new HttpApiServer(api, port = 0, accessLog = l => logs.add(l))
      val port = srv.start()
      val base = s"http://localhost:$port"
      try {
        // every response carries the wildcard origin (send_wildcard +
        // allow_any_origin, main.rs:114-120)
        val req = HttpRequest.newBuilder(URI.create(s"$base/v1/table"))
          .header("Origin", "http://elsewhere.example").GET().build()
        val resp = client.send(req, HttpResponse.BodyHandlers.ofString())
        assert(resp.statusCode == 200)
        assert(resp.headers.firstValue("Access-Control-Allow-Origin")
          .orElse("") == "*")

        // browser preflight: OPTIONS + Access-Control-Request-Method →
        // wildcard methods/headers, max-age 3600, empty body
        val pre = HttpRequest.newBuilder(URI.create(s"$base/v1/table/t/scan"))
          .method("OPTIONS", HttpRequest.BodyPublishers.noBody())
          .header("Origin", "http://elsewhere.example")
          .header("Access-Control-Request-Method", "POST").build()
        val presp = client.send(pre, HttpResponse.BodyHandlers.ofString())
        assert(presp.statusCode == 200, s"preflight -> ${presp.statusCode}")
        assert(presp.headers.firstValue("Access-Control-Allow-Origin")
          .orElse("") == "*")
        assert(presp.headers.firstValue("Access-Control-Allow-Methods")
          .orElse("") == "*")
        assert(presp.headers.firstValue("Access-Control-Allow-Headers")
          .orElse("") == "*")
        assert(presp.headers.firstValue("Access-Control-Max-Age")
          .orElse("") == "3600")
        assert(presp.body.isEmpty, "preflight must have no body")

        // the access log captured both requests: request line, status, UA
        // (`%r %s - %{User-Agent}i`); the log write races the client's
        // return by a hair, so poll briefly
        import scala.jdk.CollectionConverters._
        val deadline = System.nanoTime() + 5000000000L
        def logged(p: String => Boolean): Boolean = {
          while (!logs.asScala.exists(p) && System.nanoTime() < deadline)
            Thread.sleep(10)
          logs.asScala.exists(p)
        }
        assert(logged(l => l.contains("\"GET /v1/table HTTP/1.1\" 200") &&
          l.contains("Java-http-client")), s"missing GET log line in $logs")
        assert(logged(l => l.contains("\"OPTIONS /v1/table/t/scan") &&
          l.contains(" 200 ")), s"missing preflight log line in $logs")
      } finally srv.stop()
    }
  }

  test("static layer resolves symlinks before the dist containment check " +
      "and an oversized body closes the connection") {
    withTempDir { dir =>
      val secret = dir.resolve("secret.txt")
      java.nio.file.Files.writeString(secret, "TOP-SECRET")
      val dist = java.nio.file.Files.createDirectory(dir.resolve("dist"))
      java.nio.file.Files.writeString(dist.resolve("ok.js"), "let x = 1")
      java.nio.file.Files.createSymbolicLink(dist.resolve("evil.js"), secret)
      val api = new JsonApi(new Catalog(dir.resolve("data").toString), spark)
      val srv = new HttpApiServer(api, port = 0, distDir = dist.toString)
      val port = srv.start()
      val base = s"http://localhost:$port"
      try {
        // a real dist asset is served with its content type
        val (os, ob) = send("GET", s"$base/ok.js")
        assert(os == 200 && ob.asString == "let x = 1")
        // the symlink inside dist points OUTSIDE it: toRealPath fails the
        // containment check → falls through to the dashboard, never the
        // linked file's bytes
        val req = HttpRequest.newBuilder(URI.create(s"$base/evil.js"))
          .GET().build()
        val resp = client.send(req, HttpResponse.BodyHandlers.ofString())
        assert(resp.statusCode == 200)
        assert(!resp.body.contains("TOP-SECRET"),
          "symlink escaped the dist root")
        assert(resp.body.contains("<html"), "expected dashboard fallthrough")

        // 413 tells the client the connection is done: the unread body
        // tail makes it unusable for keep-alive
        val big = "x" * (10 * 1024 * 1024 + 16)
        val breq = HttpRequest.newBuilder(URI.create(s"$base/v1/table/c/write"))
          .POST(HttpRequest.BodyPublishers.ofString(big)).build()
        val bresp = client.send(breq, HttpResponse.BodyHandlers.ofString())
        assert(bresp.statusCode == 413)
        assert(bresp.headers.firstValue("Connection").orElse("") == "close")
      } finally srv.stop()
    }
  }

  test("stop() ends every graft-http- worker thread within 5 s") {
    withTempDir { dir =>
      val srv = new HttpApiServer(new JsonApi(new Catalog(dir.toString),
        spark), port = 0)
      val port = srv.start()
      def httpThreads(): Seq[String] = {
        import scala.jdk.CollectionConverters._
        Thread.getAllStackTraces.keySet.asScala.toSeq
          .filter(t => t.isAlive && t.getName.startsWith("graft-http-"))
          .map(_.getName)
      }
      try {
        // a few requests so the pool has started worker threads
        for (_ <- 0 until 4)
          assert(send("GET", s"http://localhost:$port/v1/table")._1 == 200)
        assert(httpThreads().nonEmpty, "requests ran on no graft-http- thread")
      } finally srv.stop()
      val deadline = System.nanoTime() + 5000000000L
      while (httpThreads().nonEmpty && System.nanoTime() < deadline)
        Thread.sleep(50)
      assert(httpThreads().isEmpty,
        s"worker threads outlived stop(): ${httpThreads()}")
    }
  }
}
