package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Bench's compact summary — its last stdout line — is what a reader
  * of a truncated output tail parses, so it must stay ONE line, well
  * under 1 KB, valid JSON, and carry exactly the documented keys (the
  * full line's schema minus the per-query maps).
  */
class BenchSummaryLineSpec extends AnyFunSuite {

  private val documentedKeys = Set("metric", "value", "unit", "n_queries", "sf",
    "master", "iters", "probe_scale", "value_normalized", "shared_cache_sec",
    "probe", "host_noise", "noisy_queries", "requeued", "failed_queries",
    "contaminated")

  private def summary(sfDir: String = "/data/sf0.1", master: String = "local[32]"): String =
    Bench.compactSummaryLine(total = 36.2181, totalNorm = 35.9, nQueries = 160,
      sfDir = sfDir, master = master, iters = 3, scale = 0.991,
      sharedCacheSec = 27.512, probeN = 163, pMin = 0.041, pMed = 0.064,
      pMax = 0.188, hostNoise = 4.59, noisy = 2, requeued = 3, failedN = 1,
      contaminated = false)

  test("is one line under 1 KB") {
    val line = summary()
    assert(!line.contains('\n') && !line.contains('\r'))
    assert(line.getBytes("UTF-8").length < 1024)
    // a long sf path / cluster master still fits
    val wide = summary(sfDir = "/" + "d" * 200, master = "local-cluster[2,4,4096]")
    assert(wide.getBytes("UTF-8").length < 1024)
  }

  test("parses as JSON with the documented values") {
    val node = new ObjectMapper().readTree(summary())
    assert(node.isObject)
    assert(node.get("metric").asText === "total")
    assert(node.get("value").asDouble === 36.218)
    assert(node.get("unit").asText === "sec")
    assert(node.get("n_queries").asInt === 160)
    assert(node.get("master").asText === "local[32]")
    assert(node.get("failed_queries").asInt === 1)
    assert(node.get("requeued").asInt === 3)
    assert(!node.get("contaminated").asBoolean)
    val probe = node.get("probe")
    assert(probe.fieldNames.asScala.toSet === Set("n", "min", "med", "max"))
    assert(probe.get("med").asDouble === 0.064)
  }

  test("carries exactly the documented keys") {
    val keys = new ObjectMapper().readTree(summary()).fieldNames.asScala.toSet
    assert(keys === documentedKeys)
    // no per-query map leaks into the compact line
    assert(!keys.contains("queries") && !keys.contains("queries_normalized"))
  }
}
