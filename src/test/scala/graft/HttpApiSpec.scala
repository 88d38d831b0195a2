package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{Files, Paths}

import graft.pipelines.HttpApi

/** Drive the HTTP surface end-to-end: sync a pipeline over fixture JSON,
  * then probe /health and the self-describing root.
  */
class HttpApiSpec extends SparkSpec {

  test("POST /sync/lists + GET /health + GET / round-trip") {
    val server = HttpApi.start(spark, 0) // ephemeral port
    try {
      val port = server.getAddress.getPort
      val client = HttpClient.newHttpClient()
      def get(p: String) = client.send(
        HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$p")).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      def post(p: String) = client.send(
        HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$p"))
          .POST(HttpRequest.BodyPublishers.noBody()).build(),
        HttpResponse.BodyHandlers.ofString())

      // root: JSON service description with the reference's shape
      // (main.py:225-280 — service/version/endpoints{method, description,
      // use_case}/schedule), not plain text
      val root = get("/")
      assert(root.statusCode() == 200)
      assert(root.headers().firstValue("Content-Type").orElse("")
        .startsWith("application/json"))
      for (field <- Seq("\"service\"", "\"version\"", "\"endpoints\"",
          "\"schedule\"", "\"/sync/full_reindex\"", "\"method\"",
          "\"description\"", "\"use_case\""))
        assert(root.body().contains(field), s"root missing $field: ${root.body()}")

      val in = Files.createTempDirectory("graft_http_in").toString
      val wh = Files.createTempDirectory("graft_http_wh").toString
      Files.createDirectories(Paths.get(in, "spaces"))
      Files.writeString(Paths.get(in, "spaces", "s.json"),
        """{"id":"s1","name":"S","archived":false}""")
      Files.createDirectories(Paths.get(in, "folders"))
      Files.writeString(Paths.get(in, "folders", "f.json"),
        """{"id":"f1","name":"F","space_id":"s1","archived":false}""")
      Files.createDirectories(Paths.get(in, "lists"))
      Files.writeString(Paths.get(in, "lists", "l.json"),
        """{"id":"l1","name":"L","space_id":"s1","folder_id":"f1","archived":false}""")

      // sync success: main.py:109-112 shape (status + message)
      val sync = post(s"/sync/lists?in=$in&warehouse=$wh")
      assert(sync.statusCode() == 200, sync.body())
      assert(sync.body().contains("\"status\":\"success\""))
      assert(sync.body().contains("\"message\""))
      assert(graft.operators.LogTable.read(spark, s"$wh/dim_lists").count() == 1)

      // refresh adds mode + days to the body (main.py:42-47); no
      // time_entries fixture here → error body must carry them too
      // (main.py:51-55)
      val refreshErr = post(s"/sync/refresh?in=$in&warehouse=$wh&days=7")
      assert(refreshErr.statusCode() == 500)
      assert(refreshErr.body().contains("\"status\":\"error\""))
      assert(refreshErr.body().contains("\"mode\":\"refresh\""))
      assert(refreshErr.body().contains("\"days\":7"))
      assert(refreshErr.body().contains("\"error\""))

      // the `detail` lines, in the order the syncs commit them
      def detail(body: String): String =
        "\"detail\":\"(.*)\"}$".r.findFirstMatchIn(body).get.group(1)
      assert(detail(sync.body()) == "dim_lists: version 1")
      Files.createDirectories(Paths.get(in, "tasks"))
      Files.writeString(Paths.get(in, "tasks", "t.json"),
        """{"id":"t1","name":"T","status":{"status":"open","type":"open"},"list_id":"l1"}""")
      val tasks = post(s"/sync/tasks?in=$in&warehouse=$wh")
      assert(tasks.statusCode() == 200, tasks.body())
      assert(detail(tasks.body()) == "dim_tasks: version 1")
      Files.createDirectories(Paths.get(in, "time_entries"))
      Files.writeString(Paths.get(in, "time_entries", "e.json"),
        """{"id":"e1","start":"1708855200000","end":"1708858800000",""" +
          """"duration":"3600000","at":"1708855200000","billable":true,""" +
          """"task":{"id":"t1"},"user":{"id":"u1","username":"jane"},""" +
          """"task_location":{"list_id":"l1","folder_id":"f1","space_id":"s1"}}""")
      for (n <- 1 to 2) {
        val refresh = post(s"/sync/refresh?in=$in&warehouse=$wh&days=7" +
          "&today=2024-03-01")
        assert(refresh.statusCode() == 200, refresh.body())
        assert(detail(refresh.body()) == s"staging_time_entries: version $n" +
          s"\\nrefresh: fact_time_entries version $n")
      }

      // health: main.py:218-222 shape (status/service/version)
      val health = get(s"/health?warehouse=$wh")
      assert(health.statusCode() == 200)
      assert(health.body().contains("\"status\":\"healthy\""))
      assert(health.body().contains("\"service\""))
      assert(health.body().contains("\"version\":\"2.0.0\""))
      assert(health.body().contains("dim_lists=1"))

      // an undeclared /sync/<x> is no route (Flask's 404), never a run
      // of some other Main command
      for (p <- Seq("/sync/nonsense", "/sync/health")) {
        val missing = post(p)
        assert(missing.statusCode() == 404, s"$p: ${missing.body()}")
        assert(missing.body().contains("\"status\":\"error\""))
        assert(missing.body().contains(s"no route POST $p"))
      }

      val noRoute = get("/sync/lists") // GET on a POST route
      assert(noRoute.statusCode() == 404)
    } finally server.stop(0)
  }
}
