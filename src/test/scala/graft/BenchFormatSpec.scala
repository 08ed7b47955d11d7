package graft

import org.scalatest.funsuite.AnyFunSuite

class BenchFormatSpec extends AnyFunSuite {

  test("compact line points reps_in at the run's actual out file and is valid shape") {
    val line = Bench.compactLine(12.345,
      Seq("slow_query" -> 10.0, "fast_query" -> 2.345),
      totalQueries = 5, sfDir = "/data/sf0.1", outFile = "/tmp/custom_bench.json")
    // the r5 advice regression: a hardcoded "BENCH_LOCAL.json" here
    // sent readers of a captured tail to a file the run never wrote
    assert(line.contains("\"reps_in\":\"/tmp/custom_bench.json\""))
    assert(!line.contains("BENCH_LOCAL"))
    assert(line.contains("\"queries_total\":5") && line.contains("\"queries_omitted\":3"))
    assert(line.contains("\"slow_query\":10.000"))
  }

  test("compact line carries canary min/max and retry count when sampled") {
    val line = Bench.compactLine(12.0, Seq("q" -> 12.0), 1, "/d", "/tmp/b.json",
      canary = Seq((0, 0.101), (20, 0.455), (40, 0.110)), retried = 2)
    assert(line.contains("\"canary_min\":0.101"))
    assert(line.contains("\"canary_max\":0.455"))
    assert(line.contains("\"retried\":2"))
    // no canary samples -> no canary fields (old-format readers unaffected)
    val bare = Bench.compactLine(1.0, Seq("q" -> 1.0), 1, "/d", "/tmp/b.json")
    assert(!bare.contains("canary"))
  }

  test("baseline loader parses the bench artifact's queries map, tolerant of absence") {
    val f = java.nio.file.Files.createTempFile("bench_baseline", ".json")
    java.nio.file.Files.writeString(f,
      """{"metric":"total","value":3.5,"unit":"sec","queries":{"q1_agg":1.250,"similar_pairs":2.250},"reps":{"q1_agg":[1.3,1.25]},"sf":"/d"}""")
    val m = Bench.loadBaseline(f.toString)
    assert(m("q1_agg") === 1.25 && m("similar_pairs") === 2.25)
    // "value" is matched inside the queries group only — reps arrays and
    // the headline total must not pollute the map
    assert(!m.contains("reps") && m.size === 2)
    assert(Bench.loadBaseline("/nonexistent/path.json").isEmpty)
    // sf guard: a baseline recorded at another scale factor must not
    // arm the retry gate (sf0.1 times vs a 1M-doc corpus would flag
    // every query an outlier)
    assert(Bench.loadBaseline(f.toString, Some("/d")).size === 2)
    assert(Bench.loadBaseline(f.toString, Some("/other/sf")).isEmpty)
    java.nio.file.Files.delete(f)
  }

  test("compact line and baseline guard survive a path holding a quote or a backslash") {
    val sf = "/data/we\"ird\\sf\t0.1"
    val out = "/tmp/o\"ut.json"
    val line = Bench.compactLine(1.0, Seq("q" -> 1.0), 1, sf, out)
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(line)
    assert(node.get("sf").asText == sf && node.get("reps_in").asText == out)
    assert(node.get("queries").get("q").asDouble == 1.0)
    val f = java.nio.file.Files.createTempFile("bench_baseline", ".json")
    java.nio.file.Files.writeString(f,
      s"""{"queries":{"q":1.000},"sf":${Bench.jsonStr(sf)}}""")
    assert(Bench.loadBaseline(f.toString, Some(sf)) == Map("q" -> 1.0))
    assert(Bench.loadBaseline(f.toString, Some("/data/we")).isEmpty)
    java.nio.file.Files.delete(f)
  }

  test("outlier gate: 3x baseline AND non-trivial absolute excess") {
    assert(Bench.isOutlier(minSec = 4.0, baselineSec = 1.0))
    assert(!Bench.isOutlier(minSec = 2.9, baselineSec = 1.0))   // under 3x
    assert(!Bench.isOutlier(minSec = 0.2, baselineSec = 0.05))  // noise-scale
    assert(Bench.isOutlier(minSec = 1.0, baselineSec = 0.1))
  }
}
