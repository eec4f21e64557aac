package graft.control

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets

import com.sun.net.httpserver.{HttpExchange, HttpServer}

import scala.collection.concurrent.TrieMap

/**
 * TTL'd registry — the Store TTL decorator analog
 * (reference: controller/storage/TTLDecorator over ZKStore; worker TTL 10 s,
 * job-status TTL 1 h, application-uforwarder-controller.yaml:94-109). A
 * worker that stops heartbeating ages out of `live`, so the next rebalance
 * reschedules its jobs — failover without a lease protocol.
 */
final class TtlRegistry[K, V](
    ttlMs: Long,
    clock: () => Long = () => System.currentTimeMillis()) {
  private val entries = TrieMap.empty[K, (V, Long)]

  def put(k: K, v: V): Unit = { entries.put(k, (v, clock())); () }

  def get(k: K): Option[V] =
    entries.get(k).collect { case (v, t) if clock() - t <= ttlMs => v }

  /** Unexpired entries; expired ones are purged as a side effect. */
  def live: Map[K, V] = { purge(); entries.view.mapValues(_._1).toMap }

  /** Drop expired entries, returning how many were removed. */
  def purge(): Int = {
    val now = clock()
    val dead = entries.collect { case (k, (_, t)) if now - t > ttlMs => k }.toSeq
    dead.foreach(entries.remove)
    dead.size
  }

  def size: Int = entries.size
}

/**
 * Minimal JSON status endpoint — the management/debug surface
 * (reference: uforwarder-core/.../management/ 17 files of HTML+JSON pages;
 * the JSON shapes operators actually script against — WorkerStubsJson.java,
 * jobs/workers/masters). Spark's UI covers task-level detail; this serves
 * the CONTROL-PLANE state Spark doesn't know: job-group status, live
 * workers, autoscaler snapshots.
 *
 * Endpoints:
 *   GET /status/jobs    -> JobManager.statusJson
 *   GET /status/workers -> live worker heartbeats (TTL-filtered)
 *   GET /status/scaler  -> per-group AutoScaler snapshot
 *   GET /status/history -> TTL'd JobStatus heartbeat history per group
 *   GET /health         -> {"status":"ok"}
 *
 * When an [[AdminService]] is supplied, the mutation surface mounts too —
 * the MasterAdminService analog (reference: master_admin_service.proto:17-37
 * over gRPC; HTTP+JSON here, same verbs):
 *   POST   /admin/jobgroup        -> AddJobGroup (idempotent)
 *   PUT    /admin/jobgroup        -> UpdateJobGroup (404 when absent)
 *   GET    /admin/jobgroup?id=X   -> GetJobGroup
 *   DELETE /admin/jobgroup?id=X   -> DeleteJobGroup
 *   POST   /admin/jobgroup/state  -> UpdateJobGroupState {"id","state"}
 *   GET    /admin/jobgroups       -> GetAllJobGroups (array; ?format=ndjson
 *                                    streams one chunked doc per line — the
 *                                    streamed-response analog)
 */
final class StatusServer(
    jm: JobManager,
    scaler: Option[AutoScaler] = None,
    workers: Option[TtlRegistry[String, Long]] = None,
    statusStore: Option[JobStatusStore] = None,
    port: Int = 0,
    admin: Option[AdminService] = None) {

  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)

  private def reply(
      ex: HttpExchange,
      body: String,
      code: Int = 200,
      contentType: String = "application/json"): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", contentType)
    ex.sendResponseHeaders(code, bytes.length.toLong)
    val os = ex.getResponseBody
    try os.write(bytes) finally os.close()
  }

  private def esc(s: String): String = StatusServer.escJson(s)

  private def scalerJson: String = scaler match {
    case None => "[]"
    case Some(sc) =>
      sc.groups.flatMap(g => sc.state(g).map(g -> _)).map { case (g, st) =>
        s"""{"jobGroupId":"${esc(g)}","phase":"${st.phase}","scale":${st.scale},""" +
          s""""desiredWorkers":${sc.desiredWorkers(g)}}"""
      }.mkString("[", ",", "]")
  }

  private def workersJson: String = workers match {
    case None => "[]"
    case Some(w) =>
      w.live.toSeq.sortBy(_._1).map { case (id, lastMs) =>
        s"""{"workerId":"${esc(id)}","lastHeartbeatMs":$lastMs}"""
      }.mkString("[", ",", "]")
  }

  private def readBody(ex: HttpExchange): String = {
    val in = ex.getRequestBody
    try new String(in.readAllBytes(), StandardCharsets.UTF_8) finally in.close()
  }

  private def queryParam(ex: HttpExchange, name: String): Option[String] =
    Option(ex.getRequestURI.getRawQuery).toSeq
      .flatMap(_.split('&').toSeq)
      .map(_.split("=", 2))
      .collectFirst { case Array(k, v) if k == name =>
        java.net.URLDecoder.decode(v, StandardCharsets.UTF_8)
      }

  /** Validate-then-store boundary: parse/validation failures are the
    * caller's fault (400), absent ids are 404, everything else is the
    * reference's Status.fromThrowable → 500. */
  private def handle(ex: HttpExchange)(body: => (Int, String)): Unit = {
    val (code, payload) =
      try body catch {
        case e: IllegalArgumentException =>
          (400, s"""{"error":"${esc(String.valueOf(e.getMessage))}"}""")
        case e: Exception =>
          (500, s"""{"error":"${esc(String.valueOf(e.getMessage))}"}""")
      }
    reply(ex, payload, code)
  }

  private val NotFound = (404, """{"error":"no such job group"}""")
  private val BadMethod = (405, """{"error":"method not allowed"}""")

  private def mountAdmin(ad: AdminService): Unit = {
    // longest-prefix routing: /admin/jobgroup/state wins over /admin/jobgroup
    server.createContext("/admin/jobgroup/state", (ex: HttpExchange) =>
      handle(ex) {
        ex.getRequestMethod match {
          case "POST" | "PUT" =>
            val n = new com.fasterxml.jackson.databind.ObjectMapper().readTree(readBody(ex))
            if (n == null || !n.isObject) throw new IllegalArgumentException("body must be a JSON object")
            val id = Option(n.get("id")).filter(_.isTextual).map(_.asText)
              .getOrElse(throw new IllegalArgumentException("missing required field 'id'"))
            val state = Option(n.get("state")).filter(_.isTextual).map(_.asText)
              .getOrElse(throw new IllegalArgumentException("missing required field 'state'"))
            ad.updateState(id, state).map(g => (200, JobGroupJson.toJson(g))).getOrElse(NotFound)
          case _ => BadMethod
        }
      })
    server.createContext("/admin/jobgroup", (ex: HttpExchange) =>
      handle(ex) {
        ex.getRequestMethod match {
          case "POST" => (200, JobGroupJson.toJson(ad.add(JobGroupJson.parseDoc(readBody(ex)))))
          case "PUT" =>
            ad.update(JobGroupJson.parseDoc(readBody(ex)))
              .map(g => (200, JobGroupJson.toJson(g))).getOrElse(NotFound)
          case "GET" =>
            queryParam(ex, "id").flatMap(ad.get)
              .map(g => (200, JobGroupJson.toJson(g))).getOrElse(NotFound)
          case "DELETE" =>
            queryParam(ex, "id") match {
              case None => throw new IllegalArgumentException("missing query parameter 'id'")
              case Some(id) => if (ad.delete(id)) (200, """{"deleted":true}""") else NotFound
            }
          case _ => BadMethod
        }
      })
    server.createContext("/admin/jobgroups", (ex: HttpExchange) =>
      if (queryParam(ex, "format").contains("ndjson")) {
        // the streamed GetAllJobGroups analog: chunked transfer, one
        // document per line, flushed per group
        ex.getResponseHeaders.set("Content-Type", "application/x-ndjson")
        ex.sendResponseHeaders(200, 0L)
        val os = ex.getResponseBody
        try ad.all.foreach { g =>
          os.write((JobGroupJson.toJson(g) + "\n").getBytes(StandardCharsets.UTF_8))
          os.flush()
        } finally os.close()
      } else reply(ex, JobGroupJson.toJson(ad.all)))
  }

  admin.foreach(mountAdmin)

  server.createContext("/status/jobs", (ex: HttpExchange) => reply(ex, jm.statusJson))
  server.createContext("/status/workers", (ex: HttpExchange) => reply(ex, workersJson))
  server.createContext("/status/scaler", (ex: HttpExchange) => reply(ex, scalerJson))
  server.createContext("/status/history", (ex: HttpExchange) =>
    reply(ex, statusStore.map(_.historyJson).getOrElse("[]")))
  server.createContext("/health", (ex: HttpExchange) => reply(ex, """{"status":"ok"}"""))
  // The HTML debug surface, same shape as the reference's management pages
  // (uforwarder-core/.../management/AbstractHtml.java + JobsHtml/WorkersHtml/
  // MastersHtml: static HTML shells whose client-side script fetches the
  // JSON endpoints) — one page here covers jobs/workers/scaler/history.
  server.createContext("/debug", (ex: HttpExchange) =>
    reply(ex, StatusServer.DebugHtml, contentType = "text/html"))
  server.setExecutor(null) // serve on the dispatch thread; status-volume traffic

  def start(): Int = { server.start(); server.getAddress.getPort }
  def stop(): Unit = server.stop(0)
  def boundPort: Int = server.getAddress.getPort
}

object StatusServer {
  /** Minimal JSON string escaping — ids are free-form heartbeat strings
    * and must not be able to break the document. Shared by every JSON
    * producer on the management surface (StatusServer, JobStatusStore). */
  private[control] def escJson(s: String): String =
    s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }

  /** Static debug page: fetches the JSON endpoints client-side and renders
    * them as tables (the reference's management-page pattern). Served from
    * a constant — no resource files, no templating. */
  val DebugHtml: String =
    """<!DOCTYPE html>
      |<html><head><title>graft control plane</title><style>
      |body{font-family:monospace;margin:2em}table{border-collapse:collapse;margin:1em 0}
      |td,th{border:1px solid #999;padding:2px 8px;text-align:left}h2{margin-bottom:0}
      |</style></head><body>
      |<h1>graft control plane</h1>
      |<div id="root">loading…</div>
      |<script>
      |const SECTIONS = [["jobs","/status/jobs"],["workers","/status/workers"],
      |  ["scaler","/status/scaler"],["history","/status/history"],
      |  ["jobgroups","/admin/jobgroups"]];
      |// ids/values are free-form strings: everything reaching innerHTML is
      |// HTML-escaped, or a hostile jobGroupId becomes script on this page
      |function esc(s){return String(s).replace(/[&<>"']/g,
      |  c=>({"&":"&amp;","<":"&lt;",">":"&gt;",'"':"&quot;","'":"&#39;"}[c]));}
      |function table(rows){
      |  if(!rows.length) return "<i>empty</i>";
      |  const cols = Object.keys(rows[0]);
      |  return "<table><tr>" + cols.map(c=>"<th>"+esc(c)+"</th>").join("") + "</tr>" +
      |    rows.map(r=>"<tr>"+cols.map(c=>"<td>"+esc(JSON.stringify(r[c]))+"</td>").join("")+"</tr>").join("") +
      |    "</table>";
      |}
      |// per-section resilience: an unmounted surface (e.g. no admin service)
      |// renders as absent instead of killing the whole page
      |Promise.all(SECTIONS.map(([n,u])=>
      |    fetch(u).then(r=>r.ok?r.json():null).then(d=>[n,d]).catch(()=>[n,null])))
      |  .then(all=>{
      |    document.getElementById("root").innerHTML = all.filter(([,d])=>d!==null).map(([n,d])=>
      |      "<h2>"+n+"</h2>"+(n==="history"
      |        ? d.map(g=>"<h3>"+esc(g.jobGroupId)+"</h3>"+table(g.history)).join("")||"<i>empty</i>"
      |        : n==="jobgroups"
      |        ? table(d.map(g=>({jobGroupId:g.jobGroup.jobGroupId,state:g.jobGroupState,
      |            topic:g.jobGroup.topic,consumerGroup:g.jobGroup.consumerGroup,
      |            jobType:g.jobGroup.jobTypeName,
      |            msgsPerSec:g.jobGroup.flowControl.messagesPerSec})))
      |        : table(d))).join("");
      |  })
      |  .catch(e=>{document.getElementById("root").textContent = "error: "+e});
      |</script></body></html>
      |""".stripMargin
}
