package graft

import java.util.concurrent.atomic.AtomicBoolean
import org.scalatest.funsuite.AnyFunSuite

class ParSpec extends AnyFunSuite {

  test("sections returns results in section order") {
    assert(Par.sections(Seq(() => 1, () => 2, () => 3)) == Seq(1, 2, 3))
  }

  test("sections rethrows the first failure only after every section settles") {
    val finished = new AtomicBoolean(false)
    val e = intercept[IllegalStateException] {
      Par.sections[Unit](Seq(
        () => throw new IllegalStateException("leg 0"),
        () => { Thread.sleep(500); finished.set(true) }))
    }
    assert(e.getMessage == "leg 0")
    assert(finished.get, "sections threw while section 1 was still running")
  }
}
