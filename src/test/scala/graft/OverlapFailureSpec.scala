package graft

import java.util.concurrent.atomic.AtomicBoolean

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Par

/** [[Par.all]]'s failure path: a failing section must not leave a later
  * section running after `all` has thrown (a query that "returned"
  * while its sections still write is the leak the overlap contract
  * forbids) — every section is awaited, then the first failure in input
  * order propagates unwrapped.
  */
class OverlapFailureSpec extends AnyFunSuite {

  test("Par.all awaits every section before rethrowing a middle section's failure") {
    val slowFinished = new AtomicBoolean(false)
    val e = intercept[IllegalStateException] {
      Par.all(Seq(
        () => 1,
        () => throw new IllegalStateException("middle"),
        () => { Thread.sleep(500); slowFinished.set(true); 3 }))
    }
    assert(e.getMessage == "middle")
    assert(slowFinished.get(),
      "the slower section after the failure must have finished by the time all threw")
  }

  test("Par.all rethrows the FIRST failure in input order") {
    val e = intercept[IllegalArgumentException] {
      Par.all(Seq(
        () => 0,
        () => { Thread.sleep(200); throw new IllegalArgumentException("first") },
        () => throw new IllegalStateException("second")))
    }
    assert(e.getMessage == "first")
  }
}
