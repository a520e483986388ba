package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite {
  test("a query whose timed run throws is listed as failed and never timed") {
    val line = Bench.record(Seq("good", "bad", "slow"), "sf", () => ()) {
      case "bad" => throw new IllegalStateException("planted failure")
      case "slow" => Thread.sleep(20)
      case _ => ()
    }
    val json = new ObjectMapper().readTree(line)
    assert(json.get("metric").asText == "total")
    assert(json.get("failed").size == 1 && json.get("failed").get(0).asText == "bad")
    Seq("queries", "queries_min").foreach { k =>
      assert(json.get(k).has("good") && json.get(k).has("slow") && !json.get(k).has("bad"), k)
    }
    val q = json.get("queries")
    assert(json.get("value").asDouble == q.get("good").asDouble + q.get("slow").asDouble)
    assert(q.get("slow").asDouble >= 0.02)
    val qMin = json.get("queries_min")
    assert(json.get("min_total").asDouble ==
      qMin.get("good").asDouble + qMin.get("slow").asDouble)
  }
}
