package graft.server

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import graft.Graft
import org.apache.spark.sql.{AnalysisException, SparkSession}
import org.apache.spark.sql.catalyst.parser.ParseException

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets

/** Minimal SQL-over-HTTP endpoint — the analog of the reference's demo
  * server (reference: demo/app.ts, demo/routes.ts): POST a PostGIS-flavored
  * SQL string, get JSON rows back, plus a GeoJSON FeatureCollection when
  * the query projects `ST_AsGeoJSON` (reference: src/index.ts:323
  * convertRestoGeoJSON). JDK-only (com.sun.net.httpserver) — no framework
  * dependency.
  *
  * {{{
  *   val srv = SqlHttpServer.start(spark, port = 8080)
  *   // POST /query   body = SQL text   → {"columns":[…],"rows":[[…]…]}
  *   // GET  /health                    → {"status":"ok"}
  *   srv.stop(0)
  * }}}
  *
  * Serving is driver-side by nature (it collects the result), so `maxRows`
  * caps every response — this is a query API for reduced/final results,
  * not a bulk export path.
  *
  * Security: binds to loopback by default (the endpoint executes arbitrary
  * SQL against every registered table). Pass `bindAddress = "0.0.0.0"` to
  * expose it wider — then set `authToken` (checked as `Authorization:
  * Bearer <token>` on /query) and front it with a real auth layer for
  * anything beyond a demo.
  */
object SqlHttpServer {

  /** Starts the server on a pool of 4 daemon threads.
    *
    * Sets `sun.net.httpserver.nodelay=true` unless the caller has set the
    * property. The JDK server writes the headers and the body of a
    * response separately; with Nagle's algorithm on, the body waits for
    * the client's delayed ACK, about 40 ms on loopback. The JDK reads the
    * property once per JVM, when the first `HttpServer` is created, so
    * the default only takes effect when this is the JVM's first
    * `HttpServer`. */
  def start(spark: SparkSession, port: Int = 0, maxRows: Int = 1000,
            bindAddress: String = "127.0.0.1",
            authToken: Option[String] = None): HttpServer = {
    Graft.register(spark)
    if (System.getProperty(NoDelayProperty) == null) System.setProperty(NoDelayProperty, "true")
    val server = HttpServer.create(new InetSocketAddress(bindAddress, port), 0)

    server.createContext("/health", (ex: HttpExchange) =>
      respond(ex, 200, """{"status":"ok"}"""))

    // Demo UI (reference: demo/views/index.ejs + demo/public) — a single
    // self-contained page: SQL form, registered-table list, result table,
    // and an inline-SVG map of the returned FeatureCollection. No external
    // assets (the reference pulls Leaflet/Bootstrap from CDNs; this
    // environment is offline by design, and a dependency-free page keeps
    // the server JDK-only).
    server.createContext("/", (ex: HttpExchange) => {
      if (ex.getRequestURI.getPath != "/")
        respond(ex, 404, """{"error":"not found"}""")
      else respondHtml(ex, 200, DemoPage)
    })

    // analog of the reference's per-DBMS listCollections panel; bearer-gated
    // like /query when a token is configured (table names are metadata)
    server.createContext("/tables", (ex: HttpExchange) => {
      try {
        if (!authorized(ex, authToken)) respond(ex, 401, """{"error":"unauthorized"}""")
        else {
          val names = spark.catalog.listTables().collect().map(_.name).sorted
          respond(ex, 200, names.map(jstr).mkString("""{"tables":[""", ",", "]}"))
        }
      } catch {
        case e: Throwable =>
          respond(ex, 500, s"""{"error":${jstr(String.valueOf(e.getMessage))}}""")
      }
    })

    server.createContext("/query", (ex: HttpExchange) => {
      try {
        // auth and origin are decided BEFORE the body is read: an
        // unauthenticated client must not be able to buffer an
        // arbitrarily large body on a handler thread
        if (!authorized(ex, authToken)) respond(ex, 401, """{"error":"unauthorized"}""")
        else if (!browserGuard(ex, bindAddress)) respond(ex, 403, """{"error":"cross-site request refused"}""")
        else {
        val sql = ex.getRequestMethod match {
          case "POST" =>
            val body = ex.getRequestBody.readNBytes(MaxBodyBytes + 1)
            if (body.length > MaxBodyBytes)
              throw new IllegalArgumentException(s"request body exceeds $MaxBodyBytes bytes")
            new String(body, StandardCharsets.UTF_8)
          case "GET" =>
            Option(ex.getRequestURI.getRawQuery).toSeq
              .flatMap(_.split("&").toSeq)
              .collectFirst { case kv if kv.startsWith("sql=") =>
                java.net.URLDecoder.decode(kv.drop(4), StandardCharsets.UTF_8)
              }.getOrElse("")
          case _ => ""
        }
        if (sql.trim.isEmpty) respond(ex, 400, """{"error":"empty sql"}""")
        else {
          val result = Graft.processQuery(spark, sql, maxRows)
          val rows = result.rows // collected once inside processQuery
          val cols = result.df.schema.fieldNames
          val sb = new StringBuilder("""{"columns":[""")
          sb.append(cols.map(jstr).mkString(","))
          sb.append("],\"rows\":[")
          rows.zipWithIndex.foreach { case (row, i) =>
            if (i > 0) sb.append(',')
            sb.append('[')
            var f = 0
            while (f < cols.length) {
              if (f > 0) sb.append(',')
              sb.append(jval(row.get(f)))
              f += 1
            }
            sb.append(']')
          }
          sb.append(']')
          result.geoJson.foreach { g => sb.append(",\"geojson\":").append(g) }
          sb.append('}')
          respond(ex, 200, sb.toString)
        }
        }
      } catch {
        case e: Throwable =>
          respond(ex, statusOf(e), s"""{"error":${jstr(String.valueOf(e.getMessage))}}""")
      }
    })

    // daemon threads: HttpServer.stop() does not shut down a
    // caller-supplied executor, and non-daemon pool threads would keep
    // the JVM alive after srv.stop(0)
    server.setExecutor(java.util.concurrent.Executors.newFixedThreadPool(4, r => {
      val t = new Thread(r, "graft-sql-http")
      t.setDaemon(true)
      t
    }))
    server.start()
    server
  }

  private[server] val NoDelayProperty = "sun.net.httpserver.nodelay"

  /** A failed /query's status: 400 when the client must change the
    * request (SQL that does not parse or resolve, a bad argument, an
    * over-size body), 500 for a fault while executing it, such as a
    * failed task. */
  private[server] def statusOf(e: Throwable): Int = e match {
    case _: ParseException | _: AnalysisException | _: IllegalArgumentException => 400
    case _ => 500
  }

  /** Requests are refused at most 1 MB of SQL — far past any real query,
    * well short of a memory-exhaustion body. */
  private val MaxBodyBytes = 1024 * 1024

  /** Browser CSRF guard: the endpoint executes arbitrary SQL, and
    * loopback binding does NOT stop a malicious page the user browses
    * from reaching 127.0.0.1 (a no-preflight simple POST, or an
    * Origin-less `<img>`/`<script>` GET). Three checks, all vacuous for
    * non-browser clients (curl/JDBC send none of these headers):
    *
    *  1. `Host` must be a name this server actually answers for —
    *     loopback literals or the configured bind address. This is the
    *     DNS-rebinding defense (rebinding makes Origin and Host AGREE,
    *     so comparing them to each other proves nothing). A wildcard
    *     bind serves under names it cannot know, so the check is
    *     skipped — the docs require `authToken` there, and a bearer
    *     token is itself CSRF-proof (browsers never attach it
    *     cross-site).
    *  2. `Origin`, when present, must match the request's own host —
    *     refuses cross-site POSTs from browser pages.
    *  3. `Sec-Fetch-Site`, when present, must be `same-origin` or
    *     `none` — refuses the Origin-less cross-site vectors
    *     (`<img src="http://127.0.0.1:…/query?sql=…">`) on every
    *     modern browser. */
  private[server] def browserGuard(ex: HttpExchange, bindAddress: String): Boolean = {
    val wildcardBind = bindAddress == "0.0.0.0" || bindAddress == "::" || bindAddress == "[::]"
    val reqHost = Option(ex.getRequestHeaders.getFirst("Host")).map(hostOf).getOrElse("")
    val hostOk = wildcardBind || reqHost == bindAddress ||
      Set("localhost", "127.0.0.1", "::1").contains(reqHost)
    val originOk = Option(ex.getRequestHeaders.getFirst("Origin")).forall { origin =>
      val oh = try Option(new java.net.URI(origin).getHost) catch { case _: Exception => None }
      oh.exists(o => o.stripPrefix("[").stripSuffix("]") == reqHost)
    }
    val fetchSiteOk = Option(ex.getRequestHeaders.getFirst("Sec-Fetch-Site"))
      .forall(v => v.equalsIgnoreCase("same-origin") || v.equalsIgnoreCase("none"))
    hostOk && originOk && fetchSiteOk
  }

  /** Host header → bare host: strips the port and IPv6 brackets
    * (`[::1]:8080` → `::1`, `localhost:8080` → `localhost`). */
  private def hostOf(hostHeader: String): String = {
    val h = hostHeader.trim
    if (h.startsWith("[")) h.drop(1).takeWhile(_ != ']')
    else h.takeWhile(_ != ':')
  }

  /** Constant-time bearer-token check (no token configured = open). */
  private def authorized(ex: HttpExchange, token: Option[String]): Boolean =
    token.forall { t =>
      Option(ex.getRequestHeaders.getFirst("Authorization")).exists { h =>
        java.security.MessageDigest.isEqual(
          h.getBytes(StandardCharsets.UTF_8),
          s"Bearer $t".getBytes(StandardCharsets.UTF_8))
      }
    }

  private def jstr(s: String): String = graft.JsonText.str(s)

  private def jval(v: Any): String = v match {
    case null                => "null"
    // NaN/Infinity have no JSON literal — bare `NaN` breaks every parser
    case d: java.lang.Double if d.isNaN || d.isInfinite => "null"
    case f: java.lang.Float if f.isNaN || f.isInfinite  => "null"
    case n: Number           => n.toString
    case b: Boolean          => b.toString
    case bytes: Array[Byte]  => jstr(java.util.Base64.getEncoder.encodeToString(bytes))
    case other               => jstr(other.toString)
  }

  private def respond(ex: HttpExchange, code: Int, body: String): Unit =
    respondBytes(ex, code, body, "application/json; charset=utf-8")

  private def respondHtml(ex: HttpExchange, code: Int, body: String): Unit =
    respondBytes(ex, code, body, "text/html; charset=utf-8")

  private def respondBytes(ex: HttpExchange, code: Int, body: String,
                           contentType: String): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", contentType)
    ex.sendResponseHeaders(code, bytes.length)
    val os = ex.getResponseBody
    try os.write(bytes) finally os.close()
  }

  /** The demo page. Vanilla JS: POSTs the textarea to /query, renders the
    * row table, and projects any FeatureCollection into an SVG viewport
    * (equirectangular fit-to-bbox — adequate for a result preview; real
    * mapping belongs to a real client on the JSON API). */
  private val DemoPage: String =
    """<!DOCTYPE html>
      |<html><head><meta charset="utf-8"><title>graft SQL console</title>
      |<style>
      | body{font-family:system-ui,sans-serif;margin:1.5rem;max-width:60rem}
      | textarea{width:100%;height:6rem;font-family:monospace}
      | table{border-collapse:collapse;margin-top:1rem}
      | td,th{border:1px solid #999;padding:.2rem .5rem;font-size:.85rem}
      | #map{border:1px solid #999;margin-top:1rem;background:#f4f8fb}
      | #err{color:#b00020;white-space:pre-wrap}
      | .tables{color:#555;font-size:.85rem}
      |</style></head><body>
      |<h1>graft SQL console</h1>
      |<div class="tables" id="tables">loading tables…</div>
      |<form id="f"><textarea id="sql" placeholder="SELECT c_name, ST_AsGeoJSON(ST_Point(1.0, 2.0)) AS st_asgeojson FROM customer LIMIT 50"></textarea>
      |<input id="tok" type="password" placeholder="bearer token (if configured)" size="28">
      |<button type="submit">Run</button></form>
      |<div id="err"></div><div id="out"></div>
      |<script>
      |function hdrs(){
      |  const t=document.getElementById('tok').value;
      |  return t?{'Authorization':'Bearer '+t}:{};
      |}
      |function loadTables(){
      |  fetch('/tables',{headers:hdrs()}).then(r=>r.json()).then(j=>{
      |    document.getElementById('tables').textContent=
      |      j.tables?'tables: '+j.tables.join(', '):('tables: '+(j.error||'unavailable'));
      |  }).catch(()=>{});
      |}
      |loadTables();
      |document.getElementById('tok').addEventListener('change', loadTables);
      |document.getElementById('f').addEventListener('submit', ev=>{
      |  ev.preventDefault();
      |  const out=document.getElementById('out'), err=document.getElementById('err');
      |  out.innerHTML=''; err.textContent='';
      |  fetch('/query',{method:'POST',headers:hdrs(),body:document.getElementById('sql').value})
      |    .then(r=>r.json()).then(j=>{
      |      if(j.error){err.textContent=j.error;return;}
      |      const t=document.createElement('table');
      |      t.innerHTML='<tr>'+j.columns.map(c=>'<th></th>').join('')+'</tr>';
      |      j.columns.forEach((c,i)=>{t.rows[0].cells[i].textContent=c;});
      |      j.rows.forEach(r=>{
      |        const tr=t.insertRow();
      |        r.forEach(v=>{tr.insertCell().textContent=v===null?'NULL':String(v);});
      |      });
      |      out.appendChild(t);
      |      if(j.geojson) out.appendChild(renderMap(j.geojson));
      |    }).catch(e=>{err.textContent=String(e);});
      |});
      |function coordsOf(g,acc){
      |  if(!g)return;
      |  if(g.type==='GeometryCollection'){(g.geometries||[]).forEach(x=>coordsOf(x,acc));return;}
      |  const walk=c=>{ if(typeof c[0]==='number')acc.push(c); else c.forEach(walk); };
      |  if(g.coordinates)walk(g.coordinates);
      |}
      |function renderMap(fc){
      |  const W=760,H=420,P=16,pts=[];
      |  fc.features.forEach(f=>coordsOf(f.geometry,pts));
      |  const svg=document.createElementNS('http://www.w3.org/2000/svg','svg');
      |  svg.setAttribute('width',W);svg.setAttribute('height',H);svg.id='map';
      |  if(!pts.length)return svg;
      |  let x0=1/0,y0=1/0,x1=-1/0,y1=-1/0;
      |  pts.forEach(c=>{x0=Math.min(x0,c[0]);x1=Math.max(x1,c[0]);
      |                  y0=Math.min(y0,c[1]);y1=Math.max(y1,c[1]);});
      |  const sx=(W-2*P)/Math.max(x1-x0,1e-9), sy=(H-2*P)/Math.max(y1-y0,1e-9),
      |        s=Math.min(sx,sy),
      |        px=c=>P+(c[0]-x0)*s, py=c=>H-P-(c[1]-y0)*s;
      |  const NS='http://www.w3.org/2000/svg';
      |  function ring(c){return c.map(p=>px(p)+','+py(p)).join(' ');}
      |  function draw(g){
      |    if(!g)return;
      |    if(g.type==='Point'){
      |      const e=document.createElementNS(NS,'circle');
      |      e.setAttribute('cx',px(g.coordinates));e.setAttribute('cy',py(g.coordinates));
      |      e.setAttribute('r',3);e.setAttribute('fill','#1565c0');svg.appendChild(e);
      |    }else if(g.type==='MultiPoint'){g.coordinates.forEach(c=>draw({type:'Point',coordinates:c}));
      |    }else if(g.type==='LineString'){
      |      const e=document.createElementNS(NS,'polyline');
      |      e.setAttribute('points',ring(g.coordinates));
      |      e.setAttribute('fill','none');e.setAttribute('stroke','#2e7d32');svg.appendChild(e);
      |    }else if(g.type==='MultiLineString'){g.coordinates.forEach(c=>draw({type:'LineString',coordinates:c}));
      |    }else if(g.type==='Polygon'){
      |      const e=document.createElementNS(NS,'polygon');
      |      e.setAttribute('points',ring(g.coordinates[0]));
      |      e.setAttribute('fill','rgba(230,81,0,.25)');e.setAttribute('stroke','#e65100');
      |      svg.appendChild(e);
      |    }else if(g.type==='MultiPolygon'){g.coordinates.forEach(c=>draw({type:'Polygon',coordinates:c}));
      |    }else if(g.type==='GeometryCollection'){(g.geometries||[]).forEach(draw);}
      |  }
      |  fc.features.forEach(f=>draw(f.geometry));
      |  return svg;
      |}
      |</script></body></html>
      |""".stripMargin
}
