package perfbench

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** BENCHMARK.json declares exactly the figures the runs print. */
class ContractSpec extends AnyFunSuite {

  private val json = Files.readString(Paths.get("..", "BENCHMARK.json"))

  private def declared(section: String): Seq[(String, String)] = {
    val body = json.split("\"" + section + "\"")(1).takeWhile(_ != ']')
    "\"name\": \"([^\"]+)\",\\s*\"unit\": \"([^\"]+)\"".r.findAllMatchIn(body)
      .map(m => m.group(1) -> m.group(2)).toSeq
  }

  test("per-layer figures match the declaration, in order") {
    assert(declared("per_layer") == Layers.names)
  }

  test("every workload reports every end-to-end figure") {
    val e2e = Report.endToEnd(Seq(1.0), (1 to 40).map(_.toDouble), 1.0)
    assert(declared("end_to_end") == e2e.map(m => m.name -> m.unit))
  }
}
