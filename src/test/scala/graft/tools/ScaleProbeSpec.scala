package graft.tools

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

import graft.TestSpark

/** Smoke run of the sf100 probe at the sf0.001 fixture, so that the only
  * way to reproduce SCALING.md's sf100 rows keeps compiling and running.
  */
class ScaleProbeSpec extends AnyFunSuite {
  test("ScaleProbe's default ops run at the sf0.001 fixture and report rows") {
    val line = ScaleProbe.run(TestSpark.spark, TestSpark.sf0001, ScaleProbe.DefaultOps)
    val json = new ObjectMapper().readTree(line)
    assert(json.get("sf_dir").asText() == TestSpark.sf0001)
    assert(json.get("n_docs").asLong() == 500L)
    assert(json.get("gram_cap").asLong() == 50L)
    val ops = json.get("ops")
    assert(ops.size() == ScaleProbe.DefaultOps.size)
    ops.fields().asScala.foreach { e =>
      assert(e.getValue.get("rows").isIntegralNumber, s"${e.getKey} reports no row count")
      assert(e.getValue.get("rows").asLong() >= 0L, e.getKey)
    }
  }
}
