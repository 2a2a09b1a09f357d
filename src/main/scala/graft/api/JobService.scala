package graft.api

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import graft.app.Experiment.jsonValue
import org.json4s._
import org.json4s.jackson.JsonMethods

import java.net.InetSocketAddress
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets
import java.time.Instant
import java.util.concurrent.{ConcurrentHashMap, Executors}
import scala.util.Random

/** Job-lifecycle REST microservice — the reference's `src/` layer
  * (/root/reference/src/app.py, emr.py, validations.py) re-expressed as a
  * thin JDK-HttpServer service over a pluggable execution backend
  * (EMR-on-EKS in the reference; in-process Spark here; any
  * `JobBackend`).
  *
  * Endpoints (app.py:37-152):
  *  - `GET /` version banner;
  *  - `POST /job` validate + schedule → 201 `{id}` + Location, 400 on
  *    invalid body (must contain name, algorithm, entrypoint_arguments
  *    with an `app-name` arg — validations.py:12-18), 500 on backend
  *    failure;
  *  - `GET /job/{id}` → `{id, createdAt, finishedAt, name, state,
  *    stateDetails}` or 404;
  *  - `DELETE /job/{id}` cancel → 200, 409 when not cancellable;
  *  - `PATCH /job/{id}` job-finished callback: 204 immediately, then a
  *    daemon task sleeps SLEEP_TIME (default 10 s — app.py:31-32,
  *    letting the backend state settle), re-fetches, and POSTs the
  *    status to `MULTIOMIX_URL/{id}/` with a 100 s timeout, errors
  *    logged not retried (app.py:108-152).
  */
object JobService {

  val Version = "1.0.0-graft"

  /** `BLIND_SEARCH = 0, BBHA = 1` (emr.py:10-14; blind search is a TODO
    * in the reference and routes to the same entrypoint).
    */
  object Algorithm extends Enumeration {
    val BlindSearch: Value = Value(0)
    val Bbha: Value = Value(1)
  }

  sealed trait JobState
  object JobState {
    case object Pending extends JobState
    case object Running extends JobState
    case object Completed extends JobState
    case object Failed extends JobState
    case object Cancelled extends JobState
  }

  case class Job(id: String, name: String, algorithm: Int,
      args: Seq[String], createdAt: Instant,
      var finishedAt: Option[Instant] = None,
      var state: JobState = JobState.Pending,
      var stateDetails: Option[String] = None)

  /** Execution backend: the reference talks to EMR-on-EKS
    * (`start_job_run`/`describe_job_run`/`cancel_job_run`,
    * emr.py:28-102); locally jobs run on a daemon pool.
    */
  trait JobBackend {
    def submit(job: Job, onFinish: (JobState, Option[String]) => Unit): Unit
    def cancel(job: Job): Boolean
  }

  /** In-process backend: runs the marshalled job on a daemon thread.
    * Cancellation wins races: once `cancel` succeeds, a late task
    * completion must not resurrect the job (the terminal-state guard in
    * onFinish below), and the future is registered BEFORE submission so
    * finish-before-put cannot leak a map entry.
    */
  class InProcessBackend(run: Job => Unit) extends JobBackend {
    private val pool = Executors.newCachedThreadPool { r =>
      val t = new Thread(r); t.setDaemon(true); t
    }
    private val running = new ConcurrentHashMap[String, java.util.concurrent.FutureTask[_]]()
    def submit(job: Job, onFinish: (JobState, Option[String]) => Unit): Unit = {
      val task = new java.util.concurrent.FutureTask[Unit](() =>
        try { run(job); onFinish(JobState.Completed, None) }
        catch {
          case _: InterruptedException =>
            onFinish(JobState.Cancelled, Some("cancelled"))
          case e: Throwable =>
            onFinish(JobState.Failed, Some(e.toString))
        } finally running.remove(job.id))
      running.put(job.id, task)
      pool.execute(task)
    }
    def cancel(job: Job): Boolean =
      Option(running.remove(job.id)).exists(_.cancel(true))
  }

  /** `[{name, value}] → ["--name", "value", ...]` with the `--` prefix
    * (ENTRYPOINT_ARGS_KEY_PREFIX, emr.py:144-164).
    */
  def marshalArgs(args: Seq[(String, String)], prefix: String = "--"): Seq[String] =
    args.flatMap { case (k, v) => Seq(s"$prefix$k", v) }

  /** `multiomix-<algo>-<6 lowercase>-<6 digits>` when name is absent
    * (emr.py:140-142, 193-195).
    */
  def generateJobName(algorithm: Int, rng: Random = new Random()): String = {
    val letters = Iterator.continually(rng.nextInt(26))
      .map(i => ('a' + i).toChar).take(6).mkString
    val digits = Iterator.continually(rng.nextInt(10)).take(6).mkString
    val algoName = Algorithm(algorithm).toString.toLowerCase
    s"multiomix-$algoName-$letters-$digits"
  }

  /** Request validation (validations.py:4-18). */
  def validateSchedule(body: JValue): Either[String, (Option[String], Int, Seq[(String, String)])] = {
    val keys = body match {
      case JObject(fields) => fields.map(_._1).toSet
      case _ => return Left("body must be a JSON object")
    }
    val required = Set("name", "algorithm", "entrypoint_arguments")
    if (!required.subsetOf(keys))
      return Left(s"missing keys: ${(required -- keys).mkString(", ")}")
    val name = body \ "name" match {
      case JString(s) => Some(s)
      case JNull => None
      case _ => return Left("name must be string or null")
    }
    val algo = body \ "algorithm" match {
      case JInt(i) if i == 0 || i == 1 => i.toInt
      case _ => return Left("algorithm must be 0 (BLIND_SEARCH) or 1 (BBHA)")
    }
    val args = body \ "entrypoint_arguments" match {
      case JArray(items) => items.map { it =>
        (it \ "name", it \ "value") match {
          case (JString(n), v) => n -> jvalueToString(v)
          case _ => return Left("entrypoint_arguments items need name/value")
        }
      }
      case _ => return Left("entrypoint_arguments must be an array")
    }
    if (!args.exists(_._1 == "app-name"))
      return Left("entrypoint_arguments must contain app-name")
    Right((name, algo, args))
  }

  private def jvalueToString(v: JValue): String = v match {
    case JString(s) => s
    case JInt(i) => i.toString
    case JDouble(d) => d.toString
    case JBool(b) => b.toString
    case JNull => "null"
    case other => JsonMethods.compact(JsonMethods.render(other))
  }

  def errorJson(msg: String): String = s"""{"error": ${jsonValue(msg)}}"""

  def jobJson(j: Job): String = {
    def q(s: String) = jsonValue(s)
    val fin = j.finishedAt.map(t => q(t.toString)).getOrElse("null")
    val det = j.stateDetails.map(q).getOrElse("null")
    s"""{"id": ${q(j.id)}, "createdAt": ${q(j.createdAt.toString)}, """ +
      s""""finishedAt": $fin, "name": ${q(j.name)}, """ +
      s""""state": ${q(j.state.toString.toUpperCase)}, "stateDetails": $det}"""
  }
}

class JobService(backend: JobService.JobBackend,
    multiomixUrl: Option[String] = sys.env.get("MULTIOMIX_URL"),
    sleepTimeMs: Long = sys.env.get("SLEEP_TIME").map(_.toLong * 1000).getOrElse(10000L),
    // 100 s — just under the reference's 2-minute NGINX proxy timeout
    // (app.py:121-123); constructor-injectable so the timeout BRANCH is
    // spec-testable without a 100 s wait
    relayTimeoutMs: Long = 100000L) {
  import JobService._

  private val jobs = new ConcurrentHashMap[String, Job]()
  private val rng = new Random()
  private var server: HttpServer = _
  private val callbackPool = Executors.newCachedThreadPool { r =>
    val t = new Thread(r); t.setDaemon(true); t
  }

  def start(port: Int = 0): Int = {
    server = HttpServer.create(new InetSocketAddress(port), 0)
    server.createContext("/", handle _)
    server.setExecutor(Executors.newFixedThreadPool(4))
    server.start()
    server.getAddress.getPort
  }

  def stop(): Unit = if (server != null) server.stop(0)

  def getJob(id: String): Option[Job] = Option(jobs.get(id))

  private def handle(ex: HttpExchange): Unit = try {
    val path = ex.getRequestURI.getPath.stripSuffix("/")
    val method = ex.getRequestMethod
    (method, path) match {
      case ("GET", "") | ("GET", "/") =>
        respond(ex, 200, s"<h1>Multiomix-graft job service v$Version</h1>", "text/html")
      case ("POST", "/job") => scheduleJob(ex)
      case ("GET", JobPath(id)) =>
        getJob(id) match {
          case Some(j) => respond(ex, 200, jobJson(j))
          case None => respond(ex, 404, """{"error": "unknown job"}""")
        }
      case ("DELETE", JobPath(id)) =>
        getJob(id) match {
          case Some(j) =>
            val cancelled = j.synchronized {
              if ((j.state == JobState.Pending || j.state == JobState.Running)
                  && backend.cancel(j)) {
                j.state = JobState.Cancelled
                j.finishedAt = Some(Instant.now())
                true
              } else false
            }
            if (cancelled) respond(ex, 200, jobJson(j))
            else respond(ex, 409, """{"error": "job not cancellable"}""")
          case None => respond(ex, 404, """{"error": "unknown job"}""")
        }
      case ("PATCH", JobPath(id)) =>
        // 204 now; async settle-delay + relay (app.py:108-152)
        respond(ex, 204, "")
        callbackPool.submit(new Runnable {
          def run(): Unit = relayState(id)
        })
      case _ => respond(ex, 404, """{"error": "not found"}""")
    }
  } catch {
    case e: Throwable => respond(ex, 500, errorJson(String.valueOf(e.getMessage)))
  }

  private object JobPath {
    def unapply(path: String): Option[String] =
      if (path.startsWith("/job/")) Some(path.drop(5)).filter(_.nonEmpty)
      else None
  }

  private def scheduleJob(ex: HttpExchange): Unit = {
    val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
    val parsed = try JsonMethods.parse(body)
      catch { case _: Throwable => JNothing }
    validateSchedule(parsed) match {
      case Left(err) =>
        respond(ex, 400, errorJson(err))
      case Right((nameOpt, algo, args)) =>
        val id = java.util.UUID.randomUUID().toString
        try {
          val name = nameOpt.getOrElse(generateJobName(algo, rng))
          val job = Job(id, name, algo, marshalArgs(args), Instant.now())
          jobs.put(id, job)
          job.state = JobState.Running
          backend.submit(job, (st, details) => job.synchronized {
            // a DELETE that already moved the job to a terminal state
            // wins over a late task completion
            if (job.state == JobState.Running || job.state == JobState.Pending) {
              job.state = st
              job.stateDetails = details
              job.finishedAt = Some(Instant.now())
            }
          })
          ex.getResponseHeaders.add("Location", s"/job/$id")
          respond(ex, 201, s"""{"id": "$id"}""")
        } catch {
          case e: Throwable =>
            // a failed submission must not leave a zombie Running record
            // (the reference persists nothing when schedule returns None)
            jobs.remove(id)
            respond(ex, 500, errorJson(String.valueOf(e.getMessage)))
        }
    }
  }

  /** Settle-sleep, re-fetch, relay to MULTIOMIX_URL/{id}/ (100 s
    * timeout; errors logged, not retried).
    */
  private def relayState(id: String): Unit = {
    Thread.sleep(sleepTimeMs)
    (getJob(id), multiomixUrl) match {
      case (Some(job), Some(url)) =>
        try {
          val client = HttpClient.newBuilder()
            .connectTimeout(java.time.Duration.ofMillis(relayTimeoutMs)).build()
          val req = HttpRequest.newBuilder()
            // strip ALL trailing slashes from the env value (reference:
            // app.py rstrip('/')) so the callback never doubles the '/'
            .uri(java.net.URI.create(s"${url.replaceAll("/+$", "")}/$id/"))
            .timeout(java.time.Duration.ofMillis(relayTimeoutMs))
            .header("Content-Type", "application/json")
            .POST(HttpRequest.BodyPublishers.ofString(jobJson(job)))
            .build()
          client.send(req, HttpResponse.BodyHandlers.ofString())
        } catch {
          case e: Throwable =>
            System.err.println(s"[job-service] relay for $id failed: $e")
        }
      case _ =>
        System.err.println(s"[job-service] relay skipped for $id " +
          s"(job known=${getJob(id).isDefined}, url set=${multiomixUrl.isDefined})")
    }
  }

  private def respond(ex: HttpExchange, code: Int, body: String,
      contentType: String = "application/json"): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.add("Content-Type", contentType)
    if (code == 204) ex.sendResponseHeaders(code, -1)
    else { ex.sendResponseHeaders(code, bytes.length); ex.getResponseBody.write(bytes) }
    ex.close()
  }
}
