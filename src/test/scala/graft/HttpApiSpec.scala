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
