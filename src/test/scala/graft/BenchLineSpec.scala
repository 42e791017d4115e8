package graft

import org.scalatest.funsuite.AnyFunSuite

/** The final stdout line of [[Bench]] must parse from the last 2 KB of
  * the run's output.
  */
class BenchLineSpec extends AnyFunSuite {

  test("the result line is compact JSON with only the contract keys") {
    // a corpus-sized run with many failures and long names and paths
    val failed = (1 to 220).map(i => f"q_some_rather_long_query_name_$i%03d")
    val line = Bench.resultLine(total = 1234.567891, sf = "/data/testdata/sf0.1",
      nQueries = 220, failed = failed, totalNorm = 1100.25,
      queriesFile = "/a/fairly/long/working/directory/path/bench_out_32.json")
    assert(line.getBytes(java.nio.charset.StandardCharsets.UTF_8).length < 2048, line)
    assert(!line.contains("\n"))
    val json = new com.fasterxml.jackson.databind.ObjectMapper().readTree(line)
    val keys = scala.jdk.CollectionConverters.IteratorHasAsScala(json.fieldNames()).asScala.toSeq
    assert(keys == Seq("metric", "value", "unit", "sf", "n_queries", "failed_queries",
      "total_norm", "queries_file"))
    assert(json.get("metric").asText == "total")
    assert(json.get("value").asDouble == 1234.567891)
    assert(json.get("n_queries").asInt == 220)
    assert(json.get("failed_queries").size == Bench.MaxFailedListed)
    assert(json.get("failed_queries").get(0).asText == failed.head)
    assert(json.get("queries_file").asText.endsWith("bench_out_32.json"))
  }
}
