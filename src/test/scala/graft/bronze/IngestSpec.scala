package graft.bronze

import graft.SparkSpec
import graft.jsonstat.JsonStat
import graft.silver.SilverTransform

/** E0 bronze ingest with an injected fetch (offline harness — SRC1 is never
  * exercised against the network here).
  */
class IngestSpec extends SparkSpec {

  private val payload =
    """{"id": ["geo", "time"], "size": [1, 2],
      |"dimension": {"geo": {"category": {"index": {"LU": 0}}},
      |              "time": {"category": {"index": {"2024M01": 0, "2024M02": 1}}}},
      |"value": [105.1, 105.6]}""".stripMargin

  test("SRC2: unit param is dropped on failure and retried") {
    var calls = List.empty[String]
    val fetch: Ingest.Fetch = { url =>
      calls ::= url
      if (url.contains("unit=")) throw new RuntimeException("400 bad param")
      payload
    }
    val (body, used) = Ingest.fetchWithFallback(
      fetch, "https://example.invalid/api", "prc_hicp_midx", "LU", "CP00", Some("I15"))
    assert(body == payload)
    assert(used == Seq("geo" -> "LU", "coicop" -> "CP00"))
    assert(calls.length == 2 && calls.head.contains("unit=") == false)
  }

  test("SRC2: first try kept when unit param works") {
    val (_, used) = Ingest.fetchWithFallback(
      _ => payload, "b", "d", "LU", "CP00", Some("I15"))
    assert(used.contains("unit" -> "I15"))
  }

  test("E0 end-to-end: wrap -> land -> silver pipeline consumes the wrapper") {
    val wrapped = Ingest.wrap(payload, "prc_hicp_midx",
      Seq("geo" -> "LU", "coicop" -> "CP00"), "2026-01-01T00:00:00+00:00")
    val root = tempDir("raw").toString
    val path = Ingest.land(spark, root, "prc_hicp_midx", "LU", "CP00",
      "20260101_000000", wrapped)
    assert(path.endsWith("geo=LU/coicop=CP00/ts=20260101_000000.json"))

    val readBack = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)))
    // the densifier unwraps the bronze {meta, data} envelope itself
    val silver = SilverTransform.silver(spark, readBack, "2026-01-01T00:00:00+00:00", path)
    assert(silver.count() == 2)
    assert(JsonStat.parse(readBack).dims.map(_._1) == Seq("geo", "time"))
  }

  test("wrap: quotes and backslashes in params and dataset still give valid JSON") {
    val wrapped = Ingest.wrap(payload, "d\"s\\", Seq("geo" -> "L\"U", "note" -> "a\\b\n"),
      "2026-01-01T00:00:00+00:00")
    val meta = new com.fasterxml.jackson.databind.ObjectMapper().readTree(wrapped).get("meta")
    assert(meta.get("dataset").asText == "d\"s\\")
    assert(meta.get("params").get("geo").asText == "L\"U")
    assert(meta.get("params").get("note").asText == "a\\b\n")
    assert(JsonStat.parse(wrapped).dims.map(_._1) == Seq("geo", "time"))
  }

  test("land: path separators and '..' in dataset, geo, coicop or ts are rejected") {
    val root = tempDir("raw").toString
    def land(dataset: String = "d", geo: String = "LU", coicop: String = "CP00",
             ts: String = "t") = Ingest.land(spark, root, dataset, geo, coicop, ts, "{}")
    Seq(() => land(geo = "../../escape"), () => land(coicop = "CP/00"),
      () => land(dataset = ".."), () => land(ts = "a\\b"), () => land(geo = ""))
      .foreach(f => intercept[IllegalArgumentException](f()))
    assert(land().endsWith("d/geo=LU/coicop=CP00/ts=t.json"))
  }
}
