package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.tools.Adjudicate

/** The adjudication tool's artifact parser: a Bench artifact carries the
  * same query names TWICE (the `"queries"` min map, then the `"samples"`
  * array map) — the parser must take the first occurrence (the min) and
  * never the sample arrays, or a future field reorder would silently
  * adjudicate against the wrong numbers.
  */
class AdjudicateSpec extends AnyFunSuite {

  test("parse takes each query's FIRST occurrence (the min map)") {
    val artifact =
      """{"metric":"total","value":9.9,"unit":"sec",""" +
        """"queries":{"q01_pricing_summary":0.327,"q43_simhash_hamming_pairs":1.2},""" +
        """"samples":{"q01_pricing_summary":[0.589,0.524],"q43_simhash_hamming_pairs":[9.9,1.2]},""" +
        """"sf":"/root/testdata/sf0.1"}"""
    val f = Files.createTempFile("bench", ".json")
    Files.writeString(f, artifact)
    try {
      val parsed = Adjudicate.parse(f.toString)
      assert(parsed == Map(
        "q01_pricing_summary" -> 0.327,
        "q43_simhash_hamming_pairs" -> 1.2))
    } finally Files.deleteIfExists(f)
  }

  test("parse accepts spaced colons (hand-pooled boards via json.dumps)") {
    // BENCH_R*_BOARD.json artifacts are pooled with python json.dumps,
    // which writes `"q01": 0.425` — the r10-close adjudication found
    // ZERO movers because the no-space regex parsed the record as empty
    val f = Files.createTempFile("bench", ".json")
    Files.writeString(f,
      """{"metric": "total", "value": 97.872, "queries": {"q01_pricing_summary": 0.425, "q48_curation_pipeline": 0.134}}""")
    try assert(Adjudicate.parse(f.toString) == Map(
      "q01_pricing_summary" -> 0.425,
      "q48_curation_pipeline" -> 0.134))
    finally Files.deleteIfExists(f)
  }

  test("parse ignores non-query numeric fields (value, sf)") {
    val f = Files.createTempFile("bench", ".json")
    Files.writeString(f,
      """{"metric":"total","value":103.344,"queries":{"q167_shard_gini":0.5}}""")
    try assert(Adjudicate.parse(f.toString) == Map("q167_shard_gini" -> 0.5))
    finally Files.deleteIfExists(f)
  }

  test("a repeat that throws makes the query FAILED, never jitter") {
    assert(Adjudicate.verdict(None, 1.0, 1.5).startsWith("FAILED"))
    assert(Adjudicate.verdict(Some(Seq(1.0, 0.9, 1.1)), 1.0, 1.5).startsWith("jitter"))
    assert(Adjudicate.verdict(Some(Seq(1.4, 1.3, 1.35)), 1.0, 1.5).startsWith("borderline"))
    assert(Adjudicate.verdict(Some(Seq(3.0, 2.9, 1.6)), 1.0, 1.5).startsWith("not converged"))
    assert(Adjudicate.verdict(Some(Seq(2.0, 2.1, 2.2)), 1.0, 1.5).startsWith("REGRESSION"))
  }
}
