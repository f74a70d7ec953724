package perfbench

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

class CurateSpec extends AnyFunSuite {

  test("a result's hash ignores row order and last-bit double noise") {
    val rows = Seq(Row(1L, 0.1 + 0.2, "a"), Row(2L, 1.0 / 3, "b"))
    val same = Seq(Row(2L, 1.0 / 3 + 1e-16, "b"), Row(1L, 0.3, "a"))
    assert(Curate.hash(rows) == Curate.hash(same))
  }

  test("a changed value or a lost row changes the hash") {
    val rows = Seq(Row(1L, 0.3, "a"), Row(2L, 0.5, "b"))
    assert(Curate.hash(rows) != Curate.hash(Seq(Row(1L, 0.3, "a"), Row(2L, 0.51, "b"))))
    assert(Curate.hash(rows) != Curate.hash(rows.take(1)))
  }
}
