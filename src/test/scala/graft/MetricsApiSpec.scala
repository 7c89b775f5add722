package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.api.MetricsApi
import graft.model.Tables
import graft.operators.MetricQuery

class MetricsApiSpec extends AnyFunSuite with TestSpark {

  private lazy val now: Long =
    Tables.metrics(spark, Sf).agg(max("ts")).collect().head.getLong(0)

  test("GET /metrics: response matches the metric_fetch operator exactly") {
    val resp = MetricsApi.getMetrics(spark, Sf,
      Seq(MetricQuery.FetchPath), now - MetricQuery.FetchAgeSec, now)
    val op = MetricQuery.fetch(spark, Sf).collect()
      .map(r => r.getLong(1) -> (if (r.isNullAt(2)) None else Some(r.getDouble(2))))
      .sortBy(_._1)
    assert(resp.step === 3600L)
    assert(resp.from === op.head._1)
    val series = resp.series(MetricQuery.FetchPath)
    assert(series === op.map(_._2).toSeq)
  }

  test("GET /metrics: multi-path response carries the LAST path's step (reference quirk)") {
    // click paths roll at 60s/3600s/86400s; default rolls at 600s/3600s/86400s
    val resp = MetricsApi.getMetrics(spark, Sf,
      Seq("servers.view.u5", "servers.click.u5"), now - 3600, now)
    // age 3600: view.u5 (default) -> 600s win (ret 1d); click.u5 -> 60s (ret 2h)
    assert(resp.step === 60L)
    assert(resp.series.keySet === Set("servers.view.u5", "servers.click.u5"))
  }

  test("GET /paths: glob response mirrors index_glob") {
    val api = MetricsApi.getPaths(spark, Sf, "servers.*.u3").map(_.path)
    val op = graft.operators.Index.glob(spark, Sf).collect().map(_.getString(0)).toSeq
    assert(api === op)
    assert(api.nonEmpty)
  }

  test("DELETE /metrics: dry-run counts match the operator; apply removes them") {
    val paths = MetricQuery.DeletePaths
    val from = now - MetricQuery.DeleteFromAge
    val to = now - MetricQuery.DeleteToAge
    val (dry, none) = MetricsApi.deleteMetrics(spark, Sf, paths, from, to, dryRun = true)
    assert(none.isEmpty)
    val opCounts = MetricQuery.deleteDryRun(spark, Sf).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(dry.byPathTable === opCounts)
    val (applied, Some(remaining)) =
      MetricsApi.deleteMetrics(spark, Sf, paths, from, to, dryRun = false)
    assert(remaining.count() ===
      graft.operators.Rollups.rollups(spark, Sf).count() - applied.totalDeleted)
  }

  test("a daemon answers GET /metrics and /paths before its first flush creates the store") {
    def answers(store: String): Seq[(Int, String)] = {
      val daemon = new Daemon(spark, store, Some(now))
      try {
        val port = daemon.startHttp()
        val http = java.net.http.HttpClient.newHttpClient()
        Seq(s"/metrics?path=${MetricQuery.FetchPath}&from=${now - 3600}&to=$now",
          "/paths?query=servers.*").map { p =>
          val r = http.send(java.net.http.HttpRequest.newBuilder(
            java.net.URI.create(s"http://127.0.0.1:$port$p")).GET().build(),
            java.net.http.HttpResponse.BodyHandlers.ofString())
          (r.statusCode(), r.body())
        }
      } finally daemon.stop()
    }
    val root = java.nio.file.Files.createTempDirectory("metrics_api_store")
    try {
      val empty = answers(java.nio.file.Files.createDirectory(root.resolve("empty")).toString)
      val missing = answers(root.resolve("not_yet_flushed").toString)
      assert(missing.map(_._1) == Seq(200, 200), s"pre-flush answers: $missing")
      assert(missing == empty, s"missing store $missing vs empty store $empty")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(root.toFile)
  }

  test("healthcheck") {
    assert(MetricsApi.healthcheck(spark, Sf))
    assert(!MetricsApi.healthcheck(spark, "/nonexistent"))
  }
}
