package graft.driver

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8

import scala.util.Try

import com.fasterxml.jackson.databind.{DeserializationFeature, JsonNode, ObjectMapper}
import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** Thin REST skin over [[JobControl]], route-compatible with remap's
  * initiator API (`/root/reference/daemons/initiator/http_interface.py:
  * 104-107` registers /api/v1.0/{apps,jobs,nodes} and /api/v1.0/jobs/<id>):
  *
  *   GET    /api/v1.0/apps       → registered query names
  *   GET    /api/v1.0/jobs       → all tracked jobs
  *   POST   /api/v1.0/jobs       → {"app": "<name>"} → 201 + job doc
  *   GET    /api/v1.0/jobs/<id>  → one job, 404 unknown
  *   DELETE /api/v1.0/jobs/<id>  → cancel, 204 / 404
  *   GET    /api/v1.0/nodes      → executor inventory
  *   GET    /api/v1.0/status     → session totals
  *                                 ([[JobControl.sessionProgress]])
  *
  * Built on the JDK's HttpServer — a control-plane endpoint serving
  * O(jobs)-sized JSON has no business pulling a web framework onto the
  * driver classpath. A POST body is read up to [[MaxBodyBytes]] (a larger
  * one is answered 413) and must be one JSON object, parsed with the
  * Jackson that Spark already ships; only its string `app` (the one field
  * the reference's POST contract requires beyond scheduler knobs Spark
  * owns) and integer `priority` are read. A rejected body submits nothing.
  */
object JobHttpApi {

  /** Start on `port` (0 = ephemeral); returns the bound server — callers
    * read the actual port from `server.getAddress.getPort` and own
    * `server.stop()`. */
  def start(control: JobControl, port: Int = 0): HttpServer = {
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
    server.createContext("/api/v1.0/", (ex: HttpExchange) => handle(control, ex))
    server.setExecutor(null) // control plane: the accept thread suffices
    server.start()
    server
  }

  private def handle(c: JobControl, ex: HttpExchange): Unit =
    try {
      val path = ex.getRequestURI.getPath.stripSuffix("/")
      val m = ex.getRequestMethod
      (m, path) match {
        case ("GET", "/api/v1.0/apps") =>
          respond(ex, 200, jarr(c.listApps.map(jstr)))
        case ("GET", "/api/v1.0/jobs") =>
          respond(ex, 200, jarr(c.listJobs.map(j => jobJson(c, j))))
        case ("POST", "/api/v1.0/jobs") =>
          val bytes = ex.getRequestBody.readNBytes(MaxBodyBytes + 1)
          if (bytes.length > MaxBodyBytes)
            respond(ex, 413, jobj("error" ->
              jstr(s"request body over $MaxBodyBytes bytes")))
          else jsonObject(new String(bytes, UTF_8)) match {
            case None =>
              respond(ex, 400, jobj("error" ->
                jstr("request body is not a JSON object")))
            case Some(o) => app(o) match {
              case Some(name) if graft.SparkEntry.queries.contains(name) =>
                respond(ex, 201, jobJson(c, c.submit(name, priority(o))))
              case Some(name) =>
                respond(ex, 400, jobj("error" -> jstr(s"unknown app '$name'")))
              case None =>
                respond(ex, 400, jobj("error" -> jstr("No app name specified")))
            }
          }
        case ("GET", JobPath(id)) =>
          c.get(id) match {
            case Some(j) => respond(ex, 200, jobJson(c, j))
            case None    => respond(ex, 404, jobj("error" -> jstr("not found")))
          }
        case ("DELETE", JobPath(id)) =>
          if (c.cancel(id)) respond(ex, 204, "")
          else respond(ex, 404, jobj("error" -> jstr("not found")))
        case ("GET", "/api/v1.0/nodes") =>
          respond(ex, 200, jarr(c.listNodes.map(n => jobj(
            "address" -> jstr(n.address),
            "max_mem_bytes" -> n.maxMemBytes.toString,
            "remaining_mem_bytes" -> n.remainingMemBytes.toString))))
        case ("GET", "/api/v1.0/status") =>
          val s = c.sessionProgress
          respond(ex, 200, jobj(
            "jobs_submitted" -> s.jobsSubmitted.toString,
            "jobs_succeeded" -> s.jobsSucceeded.toString,
            "jobs_failed" -> s.jobsFailed.toString,
            "tasks_completed" -> s.tasksCompleted.toString,
            "task_failures" -> s.taskFailures.toString,
            "active_stages" -> s.activeStages.toString))
        case _ =>
          respond(ex, 404, jobj("error" -> jstr("no such route")))
      }
    } catch {
      case e: Throwable => // the reference maps handler errors to 400
        respond(ex, 400,
          jobj("error" -> jstr(Option(e.getMessage).getOrElse("bad request"))))
    } finally ex.close()

  private val JobPath = "/api/v1\\.0/jobs/([^/]+)".r

  /** Largest POST body read; a job request is a few dozen bytes. */
  private[graft] val MaxBodyBytes = 64 * 1024

  private val json = new ObjectMapper()
    .enable(DeserializationFeature.FAIL_ON_TRAILING_TOKENS)

  /** The body as a JSON object; None when it is not exactly one. */
  private def jsonObject(body: String): Option[JsonNode] =
    Try(json.readTree(body)).toOption.filter(n => n != null && n.isObject)

  /** The body's string `app` field, if any. */
  private[graft] def appField(body: String): Option[String] =
    jsonObject(body).flatMap(app)

  private def app(o: JsonNode): Option[String] =
    Option(o.get("app")).filter(_.isTextual).map(_.asText)

  /** The reference POST contract's `priority` (int); absent → 0. */
  private[graft] def priorityField(body: String): Int =
    jsonObject(body).map(priority).getOrElse(0)

  private def priority(o: JsonNode): Int =
    Option(o.get("priority")).filter(_.canConvertToInt).map(_.asInt).getOrElse(0)

  private def respond(ex: HttpExchange, code: Int, body: String): Unit = {
    val bytes = body.getBytes(UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    // 204 must not carry a body; -1 signals no content
    ex.sendResponseHeaders(code, if (code == 204) -1 else bytes.length)
    if (code != 204) ex.getResponseBody.write(bytes)
  }

  // -- minimal JSON emitters (same policy as Bench: escape quotes,
  //    backslashes, and control chars; no framework on the driver) --------
  private def jstr(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"")
      .replaceAll("[\\x00-\\x1f]", " ") + "\""
  private def jarr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  private def jobj(fields: (String, String)*): String =
    fields.map { case (k, v) => s"${jstr(k)}:$v" }.mkString("{", ",", "}")
  private def jobJson(c: JobControl, j: JobControl.JobInfo): String = {
    // progress depth — the remap monitor's per-job task movement
    // (`monitor.py:32-45`); zeros while the job is still QUEUED
    val p = c.progressOf(j.id)
    jobj(
      "id" -> jstr(j.id),
      "app" -> jstr(j.name),
      "status" -> jstr(j.status),
      "priority" -> j.priority.toString,
      "submitted_ms" -> j.submittedMs.toString,
      "finished_ms" -> j.finishedMs.map(_.toString).getOrElse("null"),
      "error" -> j.error.map(jstr).getOrElse("null"),
      "progress" -> jobj(
        "pct" -> p.pct.toString,
        "spark_jobs" -> p.sparkJobs.toString,
        "stages_submitted" -> p.stagesSubmitted.toString,
        "stages_completed" -> p.stagesCompleted.toString,
        "tasks_total" -> p.tasksTotal.toString,
        "tasks_completed" -> p.tasksCompleted.toString,
        "task_retries" -> p.taskRetries.toString))
  }
}
