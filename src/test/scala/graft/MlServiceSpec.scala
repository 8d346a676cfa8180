package graft

import org.apache.spark.sql.functions._
import graft.llm.MlService
import graft.llm.MlService.FakeModel

/** F6 ML-service enrichment: the HTTP boundary is real (local server,
  * batched JSON POSTs from mapPartitions, retry-until-ready, API key),
  * the model deterministic (broken_site_report_ml/main.py:13-66). */
class MlServiceSpec extends SparkTestBase {

  private def reports(n: Int) =
    spark.range(0, n).select(col("id").as("uuid"),
      concat(lit("t"), col("id")).as("title"),
      concat(lit("alpha beta gamma doc "), col("id")).as("body"))

  test("enrich round-trips translate + classify with deterministic model outputs") {
    val server = new MlService.FakeMlServer()
    try {
      val out = MlService.enrich(spark, reports(25), server.base)
        .collect().map(e => e.uuid -> e).toMap
      assert(out.size == 25)
      // uuid=3: translation succeeds -> classified body is the reversal
      val body3 = FakeModel.translate("alpha beta gamma doc 3")
      assert(out(3L).translated)
      assert(out(3L).prediction == FakeModel.prediction(body3))
      assert(out(3L).probability == FakeModel.probability(body3))
      assert(out(3L).detected_lang == FakeModel.detectedLang("alpha beta gamma doc 3"))
      // uuid=0: %97==0 -> translation fails -> original body classified
      assert(!out(0L).translated)
      assert(out(0L).prediction == FakeModel.prediction("alpha beta gamma doc 0"))
      // retry loop: %5 uuids are not-ready on attempt 1, ready on 2
      assert(out(5L).n_attempts == 2 && out(7L).n_attempts == 1)
    } finally server.stop()
  }

  test("batching: chunks larger than batchSize still classify every row") {
    val server = new MlService.FakeMlServer()
    try {
      val n = MlService.enrich(spark, reports(53), server.base, batchSize = 7)
        .count()
      assert(n == 53)
    } finally server.stop()
  }

  test("missing API key is rejected by the service") {
    val server = new MlService.FakeMlServer()
    try {
      val client = java.net.http.HttpClient.newHttpClient()
      val req = java.net.http.HttpRequest.newBuilder(
          java.net.URI.create(s"${server.base}/translate"))
        .POST(java.net.http.HttpRequest.BodyPublishers.ofString("{\"reports\":[]}"))
        .build()
      val resp = client.send(req, java.net.http.HttpResponse.BodyHandlers.ofString())
      assert(resp.statusCode() == 403)
    } finally server.stop()
  }

  test("exhausted retries abort the run (reference main.py:59-66)") {
    val server = new MlService.FakeMlServer()
    try {
      // retryCount=1: the %5 uuids never become ready within the budget
      val ex = intercept[org.apache.spark.SparkException] {
        MlService.enrich(spark, reports(6), server.base, retryCount = 1).collect()
      }
      assert(ex.getMessage != null)
    } finally server.stop()
  }
}
