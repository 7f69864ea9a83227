package graft

import com.fasterxml.jackson.databind.ObjectMapper

import graft.tools.Harness

/** The shared session config, the JSON escaper, and Bench's row set. */
class HarnessSpec extends SparkSpec {

  test("Harness.session registers graft's SQL functions and uses one " +
    "shuffle partition per core") {
    assert(spark.sparkContext.master == "local[4]")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(spark.catalog.functionExists("graft_dot"))
  }

  test("Harness.json round-trips quote, backslash, tab and U+0001 " +
    "through a JSON parser") {
    val mapper = new ObjectMapper()
    for (s <- Seq("a\"b", "c\\d", "e\tf", "g\u0001h", "\"\\\t\u0001\n\r"))
      assert(mapper.readValue(Harness.json(s), classOf[String]) == s)
  }

  test("Harness.provenance is a JSON fragment naming commit, cpus and heap") {
    val node = new ObjectMapper().readTree("{" + Harness.provenance(4) + "}")
    assert(node.get("cpus").asInt == 4)
    assert(node.get("commit").asText.nonEmpty)
    assert(node.get("xmx_mb").asLong > 0)
  }

  test("Bench runs 142 distinct rows; its 140 registry rows all resolve") {
    val names = Bench.headline.map(_._1)
    assert(names.size == 142 && names.distinct.size == 142)
    assert(Bench.registryRows.size == 140)
    val unknown = Bench.registryRows.filterNot(SparkEntry.queries.contains)
    assert(unknown.isEmpty, unknown.mkString(", "))
  }
}
