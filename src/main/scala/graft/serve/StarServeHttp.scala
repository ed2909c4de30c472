package graft.serve

import java.net.InetSocketAddress
import java.net.URLDecoder
import java.nio.charset.StandardCharsets
import java.util.Locale
import java.util.concurrent.Executors
import java.util.concurrent.atomic.LongAdder

import scala.collection.mutable
import scala.util.control.NonFatal

import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** HTTP facade over [[StarServe]] — the reference dashboard's
  * interaction surface (`streamlit/app.py`) exposed as plain HTTP, so
  * a user of the reference can point a browser (or curl) at the engine
  * the way they point one at Streamlit. JDK `com.sun.net.httpserver`
  * only — no web framework, zero added dependencies.
  *
  * Endpoint map (reference evidence in parens):
  *
  *  - `GET /indexes` — the sidebar's index list (`app.py:97-99`),
  *    JSON array of dim_stock_index rows.
  *  - `GET /bounds` — the date-range picker's min/max
  *    (`app.py:101-103`).
  *  - `GET /series?index=C&start=D&end=D` — the chart's two series
  *    (`app.py:118-127`) as JSON rows, ordered by date. Capped at
  *    `maxSliceRows` (413 beyond): the dashboard slice is KB-sized by
  *    intent, and a start/end spanning the whole fact must not put the
  *    fact into one response. `/chart` enforces the same cap before
  *    rendering. A start/end that is not a date is 400.
  *  - `GET /chart?index=C&start=D&end=D` — the rendered dual-axis
  *    figure (`app.py:114-130`) as `image/svg+xml`; an empty slice
  *    returns the warning banner (`app.py:131`), still as SVG.
  *  - `GET /latest?index=C&k=N` — latest-k table widget.
  *  - `POST /refresh` — snapshot-mode pointer poll
  *    ([[StarServe.refresh]]); the Streamlit analogue is a page rerun.
  *  - `GET /metrics` — per endpoint: requests, responses by status
  *    class, summed latency; for the serving index: builds (full
  *    builds plus delta applies), the rows of the last delta applied,
  *    the last build's time, rows held, snapshot name, the layers of
  *    its upsert chain, seconds since the swap.
  *  - `GET /health` — liveness.
  *
  * Every read endpoint answers from [[StarServe.index]], the
  * in-memory index of the recorded snapshot: one volatile read, then a
  * binary search and a string join — no Spark job per request. Each
  * body is byte-identical to `toJSON` (or `ChartRender.dualAxis`) over
  * the matching [[StarServe]] DataFrame accessor (ServeIndexSpec).
  * Index builds run inside `POST /refresh` (and on first use); a fact
  * above `ServeIndex.MaxIndexRows` fails its build, so reads of such a
  * fact get that error as a 500. Requests run on a small thread pool;
  * reads concurrent with a refresh see the old or the new index, never
  * a mix (ServeHttpSpec race probe).
  */
class StarServeHttp(serve: StarServe, bindPort: Int = 0, threads: Int = 4,
    maxSliceRows: Int = 10000) {
  import StarServeHttp.BadRequest

  // The JDK server sends a response's headers and its body as two TCP
  // segments; under Nagle's algorithm the body then waits for the
  // client's delayed ACK of the headers, about 40 ms per keep-alive
  // request on Linux — a hundred times what an index read costs. The
  // JDK's own switch turns Nagle off on accepted sockets. It is read
  // when the JVM's first server is created; an explicit setting wins.
  if (System.getProperty("sun.net.httpserver.nodelay") == null)
    System.setProperty("sun.net.httpserver.nodelay", "true")
  private val server =
    HttpServer.create(new InetSocketAddress("127.0.0.1", bindPort), 0)
  // daemon threads: an embedder that returns from main() without
  // calling stop() must not be kept alive by the serve pool
  private val pool = Executors.newFixedThreadPool(threads,
    (r: Runnable) => {
      val t = new Thread(r, "star-serve-http")
      t.setDaemon(true)
      t
    })
  server.setExecutor(pool)

  /** Ephemeral-port friendly: the port actually bound. */
  def port: Int = server.getAddress.getPort

  def url: String = s"http://127.0.0.1:$port"

  // ---- helpers ---------------------------------------------------------

  private def params(ex: HttpExchange): Map[String, String] = {
    // undecodable percent-escapes are the CLIENT's fault → 400, not a
    // server error (URLDecoder throws IllegalArgumentException)
    def dec(s: String): String =
      try URLDecoder.decode(s, "UTF-8")
      catch {
        case e: IllegalArgumentException =>
          throw new BadRequest(s"bad percent-encoding: ${e.getMessage}")
      }
    val q = Option(ex.getRequestURI.getRawQuery).getOrElse("")
    q.split("&").iterator.filter(_.nonEmpty).flatMap { kv =>
      kv.split("=", 2) match {
        case Array(k, v) => Some(dec(k) -> dec(v))
        case Array(k) => Some(dec(k) -> "")
        case _ => None
      }
    }.toMap
  }

  private def respond(ex: HttpExchange, status: Int, contentType: String,
      body: String): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", contentType)
    // HEAD gets the same status + headers, no body (RFC 9110 §9.3.2)
    if (ex.getRequestMethod == "HEAD") {
      ex.sendResponseHeaders(status, -1L)
      ex.getResponseBody.close()
    } else {
      ex.sendResponseHeaders(status, bytes.length.toLong)
      val os = ex.getResponseBody
      try os.write(bytes) finally os.close()
    }
  }

  private def jsonErr(msg: String): String =
    s"""{"error":"${StarServeHttp.jsonEsc(msg)}"}"""

  /** Per-endpoint counters behind `/metrics`. */
  private final class EndpointStats {
    val requests = new LongAdder
    /** Responses by status class: 2xx..5xx at 0..3. */
    val byClass: Array[LongAdder] = Array.fill(4)(new LongAdder)
    val nanos = new LongAdder
    def record(status: Int, tookNanos: Long): Unit = {
      requests.increment()
      byClass(math.min(math.max(status / 100, 2), 5) - 2).increment()
      nanos.add(tookNanos)
    }
  }

  // filled while the constructor registers endpoints, read-only after
  private val endpoints = mutable.LinkedHashMap[String, EndpointStats]()

  /** Wrap a handler with param validation + error mapping: a missing
    * required param or a malformed date is the client's fault (400),
    * anything else non-fatal thrown by the serve path is ours (500
    * with the message, never a hung connection). Fatal errors (OOM,
    * linkage) propagate. Every answered request of the exact path is
    * counted for `/metrics`. */
  private def handle(path: String, required: Seq[String] = Nil,
      method: String = "GET")(
      f: Map[String, String] => (Int, String, String)): Unit = {
    val stats = new EndpointStats
    endpoints(path) = stats
    server.createContext(path, (ex: HttpExchange) => {
      val t0 = System.nanoTime()
      // exact-path check FIRST: createContext matches by prefix, and
      // an unknown path is 404 regardless of its query string — a
      // bad percent-escape on /seriesX must not turn into a 400
      if (ex.getRequestURI.getPath != path)
        respond(ex, 404, "application/json", jsonErr("not found"))
      else {
        val (status, ct, body) =
          try {
            val p = params(ex)
            val missing = required.filterNot(p.contains)
            // HEAD is answered wherever GET is (respond() omits the body)
            val effective =
              if (method == "GET" && ex.getRequestMethod == "HEAD") "HEAD"
              else method
            if (ex.getRequestMethod != effective) {
              // RFC 9110 §15.5.6: 405 MUST carry Allow
              ex.getResponseHeaders.set("Allow",
                if (method == "GET") "GET, HEAD" else method)
              (405, "application/json",
                jsonErr(s"method ${ex.getRequestMethod} not allowed; use $method"))
            } else if (missing.nonEmpty)
              (400, "application/json",
                jsonErr(s"missing parameter(s): ${missing.mkString(", ")}"))
            else f(p)
          } catch {
            case e: BadRequest => (400, "application/json", jsonErr(e.getMessage))
            case e: StarServe.InvalidDate =>
              (400, "application/json", jsonErr(e.getMessage))
            // 413 Content Too Large (RFC 9110 §15.5.14)
            case e: StarServe.SliceTooLarge =>
              (413, "application/json", jsonErr(e.getMessage))
            case NonFatal(e) =>
              (500, "application/json",
                jsonErr(Option(e.getMessage).getOrElse(e.getClass.getName)))
          }
        respond(ex, status, ct, body)
        stats.record(status, System.nanoTime() - t0)
      }
    })
  }

  private def num(x: Double): String = "%.3f".formatLocal(Locale.ROOT, x)

  /** The `/metrics` body. */
  private def metricsJson: String = {
    val eps = endpoints.map { case (path, s) =>
      val classes = s.byClass.zipWithIndex.map { case (n, i) =>
        s""""${i + 2}xx":${n.sum}""" }.mkString(",")
      s""""$path":{"requests":${s.requests.sum},"status":{$classes},""" +
        s""""latency_ms_sum":${num(s.nanos.sum / 1e6)}}"""
    }.mkString(",")
    val st = serve.indexState
    val counts = s""""builds":${st.builds},"full_builds":${st.fullBuilds},""" +
      s""""delta_applies":${st.deltaApplies},"last_delta_rows":${st.lastDeltaRows.getOrElse("null")}"""
    val index = st.index match {
      case None => s"""{$counts,"last_build_ms":null,"rows":null,""" +
        """"snapshot":null,"chain_layers":null,"age_s":null}"""
      case Some(i) =>
        val snap = i.snapshot.map(n => s""""${StarServeHttp.jsonEsc(n)}"""").getOrElse("null")
        s"""{$counts,"last_build_ms":${num(i.buildMs)},""" +
          s""""rows":${i.rows},"snapshot":$snap,"chain_layers":${i.layers.size},""" +
          s""""age_s":${num((System.nanoTime() - i.builtAtNanos) / 1e9)}}"""
    }
    s"""{"endpoints":{$eps},"index":$index}"""
  }

  // ---- endpoints -------------------------------------------------------

  handle("/health") { _ => (200, "application/json", """{"status":"ok"}""") }

  handle("/indexes") { _ =>
    (200, "application/json", serve.index.indexesJson)
  }

  handle("/bounds") { _ =>
    val (lo, hi) = serve.factDateBounds()
    (200, "application/json", s"""{"start":"$lo","end":"$hi"}""")
  }

  handle("/series", required = Seq("index", "start", "end")) { p =>
    (200, "application/json",
      serve.index.seriesJson(p("index"), p("start"), p("end"), maxSliceRows))
  }

  handle("/chart", required = Seq("index", "start", "end")) { p =>
    (200, "image/svg+xml",
      serve.chartSvg(p("index"), p("start"), p("end"), maxSliceRows))
  }

  handle("/latest", required = Seq("index")) { p =>
    val raw = p.getOrElse("k", "10")
    val k = raw.toIntOption.getOrElse(throw new BadRequest(s"k not an integer: $raw"))
    if (k <= 0 || k > 10000) throw new BadRequest(s"k out of range: $k")
    (200, "application/json", serve.index.latestJson(p("index"), k))
  }

  handle("/metrics") { _ => (200, "application/json", metricsJson) }

  // POST-only: the snapshot swap mutates server state — a GET (link
  // prefetcher, monitoring crawl) must not trigger it
  handle("/refresh", method = "POST") { _ =>
    val swapped = serve.refresh()
    (200, "application/json", s"""{"swapped":$swapped}""")
  }

  // Root: a minimal self-contained dashboard page over the endpoints
  // above — the browser-facing analogue of the reference's Streamlit
  // page (index selector `app.py:97-99`, date range `:101-103`, chart
  // `:114-131`), no framework, no assets. Anything else under "/" is
  // 404 (createContext matches by longest prefix).
  server.createContext("/", (ex: HttpExchange) => {
    if (ex.getRequestURI.getPath == "/")
      respond(ex, 200, "text/html; charset=utf-8", StarServeHttp.IndexHtml)
    else respond(ex, 404, "application/json", jsonErr("not found"))
  })

  def start(): StarServeHttp = {
    // the JDK HttpServer spawns its HTTP-Dispatcher from the thread
    // calling start(), inheriting daemon status — start from a daemon
    // thread so an embedder that returns from main() without stop()
    // doesn't hang the JVM (with a non-daemon dispatcher it does;
    // observed empirically)
    val starter = new Thread(() => server.start(), "star-serve-http-start")
    starter.setDaemon(true)
    starter.start()
    starter.join()
    this
  }

  /** Stop accepting, drain in-flight exchanges (≤`graceSeconds`), shut
    * the pool down. Idempotent. */
  def stop(graceSeconds: Int = 1): Unit = {
    server.stop(graceSeconds)
    pool.shutdown()
  }
}

object StarServeHttp {
  /** Thrown by handlers for malformed CLIENT input → 400 (anything
    * else thrown by the serve path stays a 500). */
  private final class BadRequest(msg: String) extends RuntimeException(msg)

  /** Bind + start in one call; port 0 picks an ephemeral port. */
  def serve(s: StarServe, port: Int = 0): StarServeHttp =
    new StarServeHttp(s, port).start()

  /** The "/" dashboard page: index selector + date range + inline-SVG
    * chart, driven entirely by the JSON/SVG endpoints. Kept
    * dependency-free and inline so the serving tier ships no asset
    * pipeline. */
  private[graft] val IndexHtml: String =
    """<!doctype html>
      |<html><head><meta charset="utf-8"><title>graft star dashboard</title>
      |<style>
      |body{font-family:sans-serif;margin:2rem;max-width:760px}
      |label{margin-right:1rem}#err{color:#d62728;white-space:pre-wrap}
      |</style></head>
      |<body>
      |<h1>Stock index dashboard</h1>
      |<div>
      | <label>Index <select id="idx"></select></label>
      | <label>From <input id="from" type="date"></label>
      | <label>To <input id="to" type="date"></label>
      | <button id="go">Draw</button>
      |</div>
      |<div id="err"></div>
      |<div id="chart"></div>
      |<script>
      |async function j(u){const r=await fetch(u);
      | if(!r.ok)throw new Error((await r.json()).error||r.status);return r.json()}
      |const el=id=>document.getElementById(id);
      |async function draw(){el('err').textContent='';
      | try{
      |  const q='index='+encodeURIComponent(el('idx').value)+
      |    '&start='+el('from').value+'&end='+el('to').value;
      |  const r=await fetch('/chart?'+q);
      |  if(!r.ok)throw new Error((await r.json()).error||r.status);
      |  el('chart').innerHTML=await r.text();
      | }catch(e){el('err').textContent=String(e)}}
      |async function init(){
      | try{
      |  const idx=await j('/indexes');
      |  for(const row of idx){const o=document.createElement('option');
      |   o.value=row.IndexCode;o.textContent=row.IndexName||row.IndexCode;
      |   el('idx').appendChild(o)}
      |  const b=await j('/bounds');
      |  el('from').value=b.start;el('to').value=b.end;
      |  await draw();
      | }catch(e){el('err').textContent=String(e)}}
      |el('go').addEventListener('click',draw);init();
      |</script></body></html>
      |""".stripMargin

  /** The library's one JSON string escape (error bodies here,
    * `Bench.json`'s strings), incl. control characters — Spark
    * exception messages routinely span lines; a raw newline inside the
    * string literal would make the error body unparseable. */
  private[graft] def jsonEsc(msg: String): String = {
    val sb = new StringBuilder
    msg.foreach {
      case '\\' => sb.append("\\\\")
      case '"' => sb.append("\\\"")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.toString
  }
}
