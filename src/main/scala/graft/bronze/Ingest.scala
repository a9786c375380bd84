package graft.bronze

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.time.Duration

import org.apache.spark.sql.SparkSession

import scala.util.{Failure, Success, Try}

/** Bronze ingest stage E0 (SURVEY.md §2.1 SRC1/SRC2, §2.4 G6/G7):
  * fetch a JSON-stat payload, wrap it with provenance metadata, and land it
  * at a timestamped raw path.
  *
  * The HTTP transfer is driver-side by design — one small payload per series
  * (`ingestion_hicp_raw.py:19–28`), not a distributed read. The fetch
  * function is pluggable so the offline harness injects fixtures; the
  * default uses `java.net.http.HttpClient` with the reference's 60s timeout.
  */
object Ingest {

  type Fetch = String => String

  /** SRC1: GET with a non-200 failure carrying a truncated body
    * (`ingestion_hicp_raw.py:19–28`).
    */
  def httpFetch(timeoutSeconds: Long = 60): Fetch = { url =>
    val client = HttpClient.newBuilder()
      .connectTimeout(Duration.ofSeconds(timeoutSeconds)).build()
    val req = HttpRequest.newBuilder(URI.create(url))
      .timeout(Duration.ofSeconds(timeoutSeconds)).GET().build()
    val resp = client.send(req, HttpResponse.BodyHandlers.ofString())
    if (resp.statusCode() != 200)
      throw new RuntimeException(
        s"fetch failed ${resp.statusCode()}: ${resp.body().take(300)}")
    resp.body()
  }

  private def url(base: String, dataset: String, params: Seq[(String, String)]): String =
    s"$base/$dataset?" + params.map { case (k, v) => s"$k=$v" }.mkString("&")

  /** SRC2: try with the `unit` parameter; on any failure retry without it.
    * Returns the payload and the params actually used
    * (`ingestion_hicp_raw.py:31–47`).
    */
  def fetchWithFallback(fetch: Fetch, base: String, dataset: String,
                        geo: String, coicop: String,
                        unit: Option[String]): (String, Seq[(String, String)]) = {
    val core = Seq("geo" -> geo, "coicop" -> coicop)
    val withUnit = core ++ unit.map("unit" -> _)
    Try(fetch(url(base, dataset, withUnit))) match {
      case Success(body) => (body, withUnit)
      case Failure(_) if unit.isDefined =>
        (fetch(url(base, dataset, core)), core)
      case Failure(e) => throw e
    }
  }

  /** Bronze meta wrapper (`ingestion_hicp_raw.py:63–71`). The meta object
    * is serialized by Jackson, so any character in a param or the dataset
    * name stays valid JSON; the payload is kept byte for byte.
    */
  def wrap(payloadJson: String, dataset: String, params: Seq[(String, String)],
           fetchedAtUtc: String): String = {
    val meta = json.createObjectNode()
    meta.put("dataset", dataset)
    val ps = meta.putObject("params")
    params.foreach { case (k, v) => ps.put(k, v) }
    meta.put("fetched_at_utc", fetchedAtUtc)
    meta.put("source", "Eurostat dissemination API")
    meta.put("pipeline_stage", "bronze/raw")
    s"""{"meta": ${json.writeValueAsString(meta)},
       | "data": $payloadJson}""".stripMargin
  }

  private val json = new com.fasterxml.jackson.databind.ObjectMapper()

  /** G6+G7: land the wrapped payload at `raw/<dataset>/geo=../coicop=../
    * ts=<ts>.json` (`ingestion_hicp_raw.py:73–78`). Each of `dataset`,
    * `geo`, `coicop` and `ts` must be one path segment (no separator, no
    * `..`), so a hostile value cannot land outside its series' directory.
    */
  def land(spark: SparkSession, rawRoot: String, dataset: String, geo: String,
           coicop: String, ts: String, wrapped: String): String = {
    Seq("dataset" -> dataset, "geo" -> geo, "coicop" -> coicop, "ts" -> ts).foreach {
      case (name, v) =>
        require(v.nonEmpty && !v.contains('/') && !v.contains('\\') && !v.contains(".."),
          s"$name must be one non-empty path segment without '/', '\\' or '..': $v")
    }
    val path = s"$rawRoot/$dataset/geo=$geo/coicop=$coicop/ts=$ts.json"
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(new org.apache.hadoop.fs.Path(path), true)
    try out.write(wrapped.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    path
  }
}
