package perfbench

import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.{ConcurrentLinkedQueue, LinkedBlockingQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.api.{HttpApiServer, JsonApi}
import graft.core.{Catalog, Smoltable, Workers}
import graft.json.JsonValue
import graft.model.{ColumnFamilyDefinition, Json}

/** `serve_mixed`: the reference's own use. An in-process `HttpApiServer`
  * over a `JsonApi` with latency recording on (as `graft.tools.Serve`
  * deploys it) serves the orders cell table, bulk-loaded into two locality
  * groups, to `nproc - 1` closed-loop client threads over loopback: each
  * client sends its next request only after the reply to the last one.
  * The mix (dealt to all clients from one shuffled deck, so it is exact
  * every 20 requests)
  * is 60% multi-gets of 1-4 keys (about 5% of keys absent), 15%
  * prefix scans under a row and a cell limit, 5% prefix counts and 20%
  * writes of 1-5 rows x 1-3 cells. Each client writes only its own
  * qualifiers, half of them upserts of cells it wrote before; the writes
  * leave segments every later read must merge. One more thread runs the
  * row-count and system sweeps after every `SweepEvery` completed
  * requests, so background work follows load, not a timer.
  *
  * Checks: every reply has status 200; gets return exactly the present
  * keys with their five base columns; scans keep their prefix and limits;
  * counts match the key space; and a final read-back matches each
  * client's model of its own writes. */
object ServeMixed {
  private val Table = "orders"
  private val SweepEvery = 20
  /** Untimed warm-up before the window: request latency keeps falling for
    * the first 5-8 requests of each client as the JVM and Spark's code
    * generation warm up. */
  private val WarmUpSeconds = 8.0

  private final case class Call(op: String, ms: Double, serverMs: Double,
      bytes: Long, scanned: Long, returned: Long)

  def run(ctx: Ctx, rep: Report): Unit = {
    val s = ctx.spark
    val rows = if (ctx.smoke) 2000L else 100000L
    val catalog = ctx.setup(rep) { dir =>
      val cat = new Catalog(dir.toString)
      val t = Smoltable.open(s, cat, Table)
      t.createColumnFamilies(Seq(ColumnFamilyDefinition("o")))
      t.createColumnFamilies(Seq(ColumnFamilyDefinition("m")),
        localityGroup = true)
      t.writeBulk(Inputs.orderCells(s, ctx.seed, rows, versions = 1))
      cat
    }(cat => Util.deleteTree(java.nio.file.Paths.get(cat.baseDir)))
    val table = Smoltable.open(s, catalog, Table)
    val api = new JsonApi(catalog, s, recordLatencies = true)
    val server = new HttpApiServer(api, 0,
      distDir = ctx.work.resolve("dist").toString)
    val port = server.start()
    val workers = new Workers(s, catalog)
    val models = Array.fill(ctx.clients)(mutable.Map.empty[(String, String), String])
    val written = new AtomicLong(0)
    val bytesBefore = catalog.diskSpaceUsage(Table)

    def http(path: String, body: String): String = {
      val c = URI.create(s"http://127.0.0.1:$port/v1/table/$Table/$path")
        .toURL.openConnection().asInstanceOf[HttpURLConnection]
      c.setRequestMethod("POST")
      c.setDoOutput(true)
      c.setRequestProperty("Content-Type", "application/json")
      val b = body.getBytes(UTF_8)
      c.setFixedLengthStreamingMode(b.length)
      val os = c.getOutputStream
      try os.write(b) finally os.close()
      val code = c.getResponseCode
      val in = if (code < 400) c.getInputStream else c.getErrorStream
      try new String(in.readAllBytes(), UTF_8) finally in.close()
    }
    def direct(path: String, body: String): String = path match {
      case "rows" => api.getRows(Table, body)
      case "scan" => api.scan(Table, body)
      case "count" => api.count(Table, body)
      case "write" => api.write(Table, body)
    }

    /** One phase: `ctx.clients` closed-loop clients plus the sweeper, for
      * `ctx.window` seconds. Traced phases call `JsonApi` directly, each
      * call a span with its own job description. */
    def phase(name: String, tracer: Option[Tracer],
        seconds: Double = ctx.window): (Seq[Call], Double) = {
      val calls = new ConcurrentLinkedQueue[Call]()
      val done = new AtomicLong(0)
      val sweeps = new LinkedBlockingQueue[Option[Long]]()
      val deck = new Deck(ctx.rng(name.hashCode))
      val deadline = Util.nowMs() + seconds * 1000
      val sweeper = new Thread(() => {
        var next = sweeps.take()
        while (next.isDefined) {
          val req = s"${name}_sweep${next.get}"
          def sweep(): Unit = { workers.rowCountSweep(); workers.systemSweep() }
          try tracer.fold(sweep())(_.span(req, "sweep", "core")(sweep()))
          catch { case e: Exception => rep.check(false, s"sweep failed: $e") }
          next = sweeps.take()
        }
      }, "perfbench-sweeper")
      sweeper.start()
      val t0 = Util.nowMs()
      val clients = (0 until ctx.clients).map { c =>
        val th = new Thread(() => {
          val rnd = ctx.rng(1000L * c + name.hashCode)
          val ops = Iterator.continually(deck.next())
            .takeWhile(_ => Util.nowMs() < deadline)
          var n = 0
          ops.foreach { card =>
            val (op, path, body, verify) = request(c, rnd, card, rows, models(c))
            val req = s"${name}_c${c}_$n"
            val call = try {
              val (ms, resp) = Util.timed(tracer.fold(http(path, body))(
                _.span(req, op, "api")(direct(path, body))))
              val env = JsonValue.parse(resp)
              val status = env.get("status").map(_.asLong).getOrElse(-1L)
              val result = env.get("result").getOrElse(JsonValue.JNull)
              val ok = rep.check(status == 200 && verify(result),
                s"$op $body -> ${resp.take(300)}")
              if (ok && op == "write") written.addAndGet(userBytes(body))
              Some(Call(op, ms, env.get("time_ms").map(_.asDouble).getOrElse(0.0),
                resp.length.toLong,
                result.get("cells_scanned_count").map(_.asLong).getOrElse(0L),
                cellsIn(result)))
            } catch {
              case e: Exception =>
                rep.check(false, s"$op failed: $e"); None
            }
            call.foreach(calls.add)
            n += 1
            if (done.incrementAndGet() % SweepEvery == 0)
              sweeps.put(Some(done.get))
          }
        }, s"perfbench-client-$c")
        th.start()
        th
      }
      clients.foreach(_.join())
      val wall = Util.nowMs() - t0
      sweeps.put(None)
      sweeper.join()
      rep.attempted += done.get
      (calls.asScala.toSeq, wall)
    }

    ctx.warmUp(rep)(phase("w", None,
      if (ctx.smoke) math.min(1.0, ctx.window) else WarmUpSeconds))
    val (calls, wallMs) = phase("u", None)
    Util.mark("window done")
    val bytesAfter = catalog.diskSpaceUsage(Table)
    val userWritten = written.get
    def lat(op: String) = calls.filter(_.op == op).map(_.ms)
    val gets = lat("get")
    rep.endToEnd("ops_per_s") = Metric(calls.size / (wallMs / 1000.0), "1/s")
    rep.endToEnd("op_p50_ms") = Metric(Util.median(gets), "ms")
    rep.detail("ops_per_s") = Metric(calls.size / (wallMs / 1000.0), "req/s")
    rep.detail("get_p50_ms") = Metric(Util.median(gets), "ms")
    rep.detail("get_p90_ms") = Metric(Util.quantile(gets, 0.9), "ms")
    Seq("scan", "count", "write").foreach { op =>
      rep.detail(s"${op}_p50_ms") = Metric(Util.median(lat(op)), "ms")
    }
    Seq("get", "scan", "count", "write").foreach { op =>
      rep.detail(s"requests.$op") = Metric(lat(op).size, "count")
      rep.samples(op) = lat(op)
    }

    if (ctx.trace) {
      val tr = new Tracer(s, full = true)
      val (tcalls, _) = phase("t", Some(tr))
      Workloads.finishTrace(ctx, rep, tr)
      val spans = tr.spans
      Seq("get", "scan", "count", "write").foreach { op =>
        val mine = calls.filter(_.op == op)
        rep.layers(s"api.transport_ms.$op") =
          Metric(Util.median(mine.map(c => c.ms - c.serverMs)), "ms")
        rep.layers(s"api.handler_ms.$op") =
          Metric(Util.median(spans.filter(_.name == op).map(_.ms)), "ms")
        SparkCost.of(tr, spans.filter(_.name == op))
          .metrics(op).foreach { case (k, v, u) =>
            rep.layers(k) = Metric(v, u)
          }
      }
      Seq("get", "scan").foreach { op =>
        val mine = calls.filter(_.op == op)
        rep.layers(s"api.response_bytes.$op") =
          Metric(Util.mean(mine.map(_.bytes.toDouble)), "bytes")
        rep.layers(s"core.read_amp.$op") = Metric(Util.ratio(
          mine.map(_.scanned).sum.toDouble, mine.map(_.returned).sum.toDouble), "ratio")
      }
      Workloads.genericLayers(rep, SparkCost.of(tr,
        spans.filter(s => s.layer == "api")), tr)
      val tracedGet = Util.median(tcalls.filter(_.op == "get").map(_.ms))
      rep.layers("trace.overhead_ratio") =
        Metric(tracedGet / Util.median(calls.filter(_.op == "get").map(_.serverMs)),
          "ratio")
      rep.layers("trace.sweep_ms") =
        Metric(Util.median(spans.filter(_.name == "sweep").map(_.ms)), "ms")
      tr.close()
    }
    server.stop()
    Util.mark("server stopped")

    // final read-back: each client's cells equal its model (untimed)
    models.zipWithIndex.foreach { case (m, c) =>
      Some(m.keys.map(_._1).toSeq.distinct.sorted).filter(_.nonEmpty).foreach { keys =>
        val body = keys.map(k => s"""{"row":{"key":${Json.quote(k)}}}""")
          .mkString("""{"items":[""", ",", "]}")
        val res = JsonValue.parse(api.getRows(Table, body))
        val got = res.get("result").flatMap(_.get("rows")).map(_.asArray)
          .getOrElse(Nil).flatMap { r =>
            val k = r.get("row_key").get.asString
            r.get("columns").flatMap(_.get("o")).map(_.asObject).getOrElse(Map.empty)
              .filter(_._1.startsWith(s"c${c}_")).map { case (q, cells) =>
                (k, s"o:$q") -> cells.asArray.map(_.get("value").get.asString)
              }
          }.toMap
        val want = m.filter(kv => keys.contains(kv._1._1))
          .map { case (kq, v) => kq -> Seq(v) }.toMap
        rep.check(got == want, s"client $c read-back differs for rows ${keys.take(3)}")
      }
    }
    Util.mark("read-back checked")
    val files = table.dataFileCount
    val disk = catalog.diskSpaceUsage(Table).toDouble
    rep.endToEnd("disk_bytes_per_user_byte") =
      Metric(disk / Workloads.logicalBytes(table), "ratio")
    rep.layers("storage.files_end") = Metric(files, "count")
    rep.layers("storage.bytes_end") = Metric(disk, "bytes")
    rep.layers("storage.write_amp") =
      Metric(Util.ratio((bytesAfter - bytesBefore).toDouble, userWritten.toDouble), "ratio")
    rep.stamp("input") = s"orders seed=${ctx.seed} rows=$rows versions=1"
  }

  /** Logical bytes of the cells in a write body. */
  private def userBytes(body: String): Long =
    JsonValue.parse(body).get("items").get.asArray.map { it =>
      val k = it.get("row_key").get.asString.length
      it.get("cells").get.asArray.map { c =>
        k + c.get("column_key").get.asString.length - 1 + 8 +
          c.get("value").get.asString.length
      }.sum.toLong
    }.sum

  private def cellsIn(result: JsonValue): Long =
    result.get("rows").map(_.asArray).getOrElse(Nil).map { r =>
      r.get("columns").map(_.asObject).getOrElse(Map.empty).values
        .map(_.asObject.values.map(_.asArray.size).sum).sum.toLong
    }.sum

  private val BaseColumns = Map("o" -> Set("status", "priority", "custkey"),
    "m" -> Set("total", "date"))

  /** One request to make: its op and its size (keys of a get, row limit of
    * a scan, rows of a write). */
  private final case class Card(op: String, size: Int)

  /** The op mix as a deck of 20 cards: 12 gets of 1-4 keys, 3 scans, 1
    * count and 4 writes of 1-5 rows, reshuffled by a seeded random when
    * used up and dealt to all clients of a phase. Every 20 requests hold
    * the exact mix and sizes; the seed orders them and picks every key. */
  private final class Deck(rnd: scala.util.Random) {
    private val cards = Seq(1, 2, 3, 4, 1, 2, 3, 4, 1, 2, 3, 4).map(Card("get", _)) ++
      Seq(10, 30, 50).map(Card("scan", _)) ++ Seq(Card("count", 1)) ++
      Seq(1, 2, 3, 5).map(Card("write", _))
    private var left: List[Card] = Nil
    def next(): Card = synchronized {
      if (left.isEmpty) left = rnd.shuffle(cards).toList
      val c = left.head
      left = left.tail
      c
    }
  }

  /** The request for `card` from client `c`: op, route, body and a check
    * of the reply's `result`. */
  private def request(c: Int, rnd: scala.util.Random, card: Card, rows: Long,
      model: mutable.Map[(String, String), String])
      : (String, String, String, JsonValue => Boolean) = {
    def key(): String = Inputs.rowKey(rnd.nextLong(rows))
    def prefix(): String = key().take(8)
    def keysWith(p: String): Long = {
      val lo = p.toLong * 100
      math.max(0L, math.min(lo + 100, rows) - lo)
    }
    def rowsOf(r: JsonValue) = r.get("rows").map(_.asArray).getOrElse(Nil)
    val op = card.op
    if (op == "get") {
      // a deck's gets ask for 30 keys; one of every 20 is absent (~5%)
      val ks = Seq.fill(card.size) {
        if (rnd.nextInt(20) == 0) Inputs.rowKey(rows + rnd.nextInt(1000000))
        else key()
      }
      val present = ks.filter(_ < Inputs.rowKey(rows))
      val body = ks.map(k => s"""{"row":{"key":"$k"}}""")
        .mkString("""{"items":[""", ",", "]}")
      ("get", "rows", body, r => {
        val got = rowsOf(r)
        got.map(_.get("row_key").get.asString).sorted == present.sorted &&
          got.forall { row =>
            val cols = row.get("columns").get.asObject
            BaseColumns.forall { case (f, qs) =>
              cols.get(f).exists(x => qs.subsetOf(x.asObject.keySet))
            }
          }
      })
    } else if (op == "scan") {
      val (p, lim, cells) = (prefix(), card.size, 4 * card.size)
      val body = s"""{"row":{"prefix":"$p","limit":$lim},"cell":{"limit":$cells}}"""
      ("scan", "scan", body, r => {
        val got = rowsOf(r)
        got.size <= lim && cellsIn(r) <= cells &&
          got.forall(_.get("row_key").get.asString.startsWith(p))
      })
    } else if (op == "count") {
      val p = prefix()
      ("count", "count", s"""{"row":{"prefix":"$p"}}""",
        r => r.get("row_count").exists(_.asLong == keysWith(p)))
    } else {
      // `size` rows of 1-3 cells; every other cell (from the first write
      // on) is an upsert of a cell this client wrote before
      var n = 0
      val items = Seq.fill(card.size) {
        val row = key()
        Seq.fill(1 + rnd.nextInt(3)) {
          n += 1
          if (model.nonEmpty && n % 2 == 0)
            model.keys.toSeq.sorted.apply(rnd.nextInt(model.size))
          else (row, s"o:c${c}_${rnd.nextInt(10)}")
        }
      }.flatten.groupBy(_._1).toSeq.sortBy(_._1)
      val withValues = items.map { case (k, cs) =>
        k -> cs.map(_._2).distinct.map(col => col -> s"v$c-${rnd.nextInt(1000000)}")
      }
      val body = withValues.map { case (k, cs) =>
        cs.map { case (col, v) =>
          s"""{"column_key":"$col","time":1,"type":"string","value":"$v"}"""
        }.mkString(s"""{"row_key":"$k","cells":[""", ",", "]}")
      }.mkString("""{"items":[""", ",", "]}")
      ("write", "write", body, r => {
        val ok = r.get("items").flatMap(_.get("cell_count"))
          .exists(_.asLong == withValues.map(_._2.size).sum)
        if (ok) withValues.foreach { case (k, cs) =>
          cs.foreach { case (col, v) => model((k, col)) = v }
        }
        ok
      })
    }
  }
}
