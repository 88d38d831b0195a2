package graft.pipelines

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** HTTP wrapper mirroring the reference's Flask surface (main.py:22-280):
  * `POST /sync/{refresh|full_reindex|lists|tasks|accounts|apps}`,
  * `GET /health` (main.py:210-222) and a self-describing root
  * (main.py:225-280). Built on the JDK's HttpServer — no extra
  * dependencies; one shared SparkSession serves all requests (the
  * reference runs the pipeline in-process the same way, main.py:35-41).
  *
  * Query params stand in for the reference's env/arg config:
  *   /sync/refresh?days=60&today=2026-08-12&in=raw&warehouse=wh
  */
object HttpApi {

  def main(args: Array[String]): Unit = {
    val port = sys.env.getOrElse("PORT", "8080").toInt
    val spark = GraftSession.local()
    val server = start(spark, port)
    println(s"graft http api listening on :$port")
    server.getAddress // keep reference
    Thread.currentThread().join()
  }

  def start(spark: SparkSession, port: Int): HttpServer = {
    val server = HttpServer.create(new InetSocketAddress(port), 0)
    server.createContext("/", (ex: HttpExchange) => handle(spark, ex))
    server.setExecutor(null) // serialize requests, like the reference's single worker
    server.start()
    server
  }

  /** JSON string escape (shared, graft.JsonUtil) — exception messages and
    * captured logs routinely contain newlines.
    */
  private def jsonStr(s: String): String = graft.JsonUtil.jstr(s)

  /** Capture a pipeline run's stdout (the row-count lines) for the JSON
    * `detail` field.
    */
  private def capture(body: => Unit): String = {
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(out)) { body }
    out.toString(StandardCharsets.UTF_8).trim
  }

  /** `"mode"` (+ `"days"`) fields for the two fact-sync endpoints — the
    * reference includes them in both success and error bodies
    * (main.py:42-55, 78-90) but not for the dimension syncs.
    */
  private def modeFields(cmd: String, params: Map[String, String]): String =
    cmd match {
      case "refresh" =>
        // toIntOption: this also runs while BUILDING the error body for a
        // malformed ?days= — a throw here would lose the mode/days fields
        // the reference's error shape carries (main.py:51-55)
        s""""mode":"refresh","days":${params.get("days").flatMap(_.toIntOption).getOrElse(60)},"""
      case "full_reindex" => """"mode":"full_reindex","""
      case _ => ""
    }

  private def handle(spark: SparkSession, ex: HttpExchange): Unit = {
    val path = ex.getRequestURI.getPath
    val params = Option(ex.getRequestURI.getQuery).getOrElse("").split("&")
      .filter(_.contains("=")).map { kv =>
        val Array(k, v) = kv.split("=", 2)
        k -> java.net.URLDecoder.decode(v, StandardCharsets.UTF_8)
      }.toMap
    try {
      (ex.getRequestMethod, path) match {
        case ("GET", "/") =>
          respond(ex, 200, rootJson)
        case ("GET", "/health") =>
          // main.py:210-222 shape (status/service/version) + the warehouse
          // probe detail the reference's Cloud Run health check cannot give
          val out = capture { Main.run(spark, "health", params) }
          respond(ex, 200,
            s"""{"status":"healthy","service":"$Service","version":"$Version","detail":${jsonStr(out)}}""")
        // only the six declared sync routes run a pipeline; any other
        // /sync/<x> (health, describe, …) is an undeclared route and gets
        // the 404 below, as Flask answers it (main.py:22-207)
        case ("POST", s"/sync/$cmd") if SyncCommands(cmd) =>
          try {
            val out = capture { Main.run(spark, cmd, params) }
            respond(ex, 200, s"""{"status":"success",${modeFields(cmd, params)}""" +
              s""""message":${jsonStr(s"$cmd sync completed successfully")},"detail":${jsonStr(out)}}""")
          } catch {
            case e: Throwable =>
              respond(ex, 500, s"""{"status":"error",${modeFields(cmd, params)}""" +
                s""""error":${jsonStr(Option(e.getMessage).getOrElse(e.getClass.getName))}}""")
          }
        case (m, p) =>
          respond(ex, 404, s"""{"status":"error","error":${jsonStr(s"no route $m $p")}}""")
      }
    } catch {
      case e: Throwable =>
        respond(ex, 500, s"""{"status":"error","error":${
          jsonStr(Option(e.getMessage).getOrElse(e.getClass.getName))}}""")
    }
  }

  private val SyncCommands =
    Set("refresh", "full_reindex", "lists", "tasks", "accounts", "apps")

  private val Service = "graft-spark-sync"
  private val Version = "2.0.0"

  /** Root service description (main.py:225-280 shape: service, version,
    * endpoints{method, description, use_case}, schedule).
    */
  private[pipelines] val rootJson: String = {
    def ep(path: String, method: String, desc: String, useCase: String) =
      s""""$path":{"method":"$method","description":${jsonStr(desc)},"use_case":${jsonStr(useCase)}}"""
    val endpoints = Seq(
      ep("/sync/refresh", "POST", "Sync last 60 days of time entries (M1 windowed merge)",
        "Regular scheduled updates"),
      ep("/sync/full_reindex", "POST", "Full reindex of time entries (M2)",
        "Quarterly validation or after data issues"),
      ep("/sync/lists", "POST", "Sync all lists (Space -> Folder -> List hierarchy)",
        "Update list metadata (run when lists are added/removed/renamed)"),
      ep("/sync/tasks", "POST", "Sync all tasks (open, closed, archived, subtasks)",
        "Update task metadata (run when tasks change)"),
      ep("/sync/accounts", "POST", "Sync accounts with custom fields (Connected Lists, Hours Discount, ARR)",
        "Update account/customer metadata"),
      ep("/sync/apps", "POST", "Sync applications (custom_item_id 1005) with custom fields",
        "Update application/software metadata"),
      ep("/health", "GET", "Health check endpoint", "Container health monitoring")
    ).mkString(",")
    val schedule = Seq(
      """"refresh":"Every 6 hours"""",
      """"full_reindex":"Quarterly (Jan 1, Apr 1, Jul 1, Oct 1)"""",
      """"lists":"Daily at 3 AM (Oslo time)"""",
      """"tasks":"Daily at 4 AM (Oslo time)"""",
      """"accounts":"Daily at 5 AM (Oslo time)"""",
      """"apps":"Daily at 6 AM (Oslo time)"""").mkString(",")
    s"""{"service":"$Service","version":"$Version","endpoints":{$endpoints},"schedule":{$schedule}}"""
  }

  private def respond(ex: HttpExchange, code: Int, body: String): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.add("Content-Type",
      if (body.startsWith("{")) "application/json" else "text/plain")
    ex.sendResponseHeaders(code, bytes.length.toLong)
    val os = ex.getResponseBody
    os.write(bytes)
    os.close()
  }
}
