package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** Bench's record builders and run selection, without a session: the
  * headline is the last stdout line a bounded-tail reader parses. */
class BenchSpec extends AnyFunSuite {
  private val names = SparkEntry.queries.keys.toSeq.sorted
  // every catalog query, a spread of medians, three failures (-1)
  private val results = names.zipWithIndex.map { case (n, i) =>
    n -> (if (i % 100 == 7) -1.0 else 0.123 + i * 1.731)
  }

  test("full-catalog headline is JSON of at most 2000 chars") {
    assert(results.size === 272)
    val line = Bench.headline(results, 0.186, 3, 4, restricted = false,
      "testdata/sf0.1")
    assert(!line.contains('\n'))
    assert(line.length <= 2000, s"${line.length} chars")
    val j = new ObjectMapper().readTree(line)
    assert(j.get("metric").asText === "total")
    assert(j.get("n_queries").asInt === 272)
    assert(j.get("n_failed").asInt === 3)
    assert(j.get("cpus").asInt === 4)
    assert(j.get("runs").asInt === 3)
    val slowest = j.get("slowest10")
    assert(slowest.size === 10)
    assert(slowest.has(names.last))
    val total = results.collect { case (_, v) if v >= 0 => v }.sum
    assert(math.abs(j.get("value").asDouble - total) < 1e-3)
  }

  test("a restricted run's headline is a subset total, never the catalog total") {
    val line = Bench.headline(results.take(2), 0.186, 3, 4, restricted = true, "sf")
    val j = new ObjectMapper().readTree(line)
    assert(j.get("metric").asText === "subset_total")
    assert(!line.contains("\"metric\":\"total\""))
  }

  test("full record keeps the queries map and adds per-counter layer medians") {
    val l = Bench.Layers(jobs = 5, stages = 9, tasks = 40,
      shuffleWriteBytes = 1000, shuffleReadBytes = 900)
    val rec = Bench.fullRecord(results.take(2),
      Seq(results.head._1 -> Seq(l, l.copy(shuffleWriteBytes = 1001))),
      0.186, 2, 4, "sf")
    val j = new ObjectMapper().readTree(rec)
    assert(j.get("metric").asText === "total")
    assert(j.get("queries").size === 2)
    val layer = j.get("layers").get(results.head._1)
    assert(layer.get("jobs").asLong === 5)
    assert(layer.get("tasks").asLong === 40)
    assert(layer.get("shuffle_write_bytes").asDouble === 1000.5)
    assert(layer.get("shuffle_read_bytes").asLong === 900)
  }

  test("median of odd and even run counts") {
    assert(Bench.median(Seq(3.0, 1.0, 2.0)) === 2.0)
    assert(Bench.median(Seq(4.0, 1.0, 3.0, 2.0)) === 2.5)
    assert(Bench.median(Seq(7.0)) === 7.0)
  }

  test("SPARK_GRAFT_ONLY selects listed queries and rejects unknown names") {
    assert(Bench.select(None, Seq("b", "a")) === Seq("a", "b"))
    assert(Bench.select(Some(" b , "), Seq("b", "a")) === Seq("b"))
    val e = intercept[IllegalArgumentException] {
      Bench.select(Some(s"${names.head},g4_kcroe"), names)
    }
    assert(e.getMessage.contains("g4_kcroe"))
    assert(!e.getMessage.contains(names.head))
  }
}
