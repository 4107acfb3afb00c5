package graft

import org.scalatest.funsuite.AnyFunSuite

/** The `SPARK_GRAFT_CPUS` parse every main shares: one positive int for
  * both `local[n]` and the shuffle partitions, anything else a config
  * error. */
class MainSpec extends AnyFunSuite {
  test("SPARK_GRAFT_CPUS: default 8, a positive int, else a config error") {
    assert(GraftSession.parseCpus(None) == Right(8))
    assert(GraftSession.parseCpus(Some("4")) == Right(4))
    for (bad <- Seq("*", "0", "-2", "", "four"))
      assert(GraftSession.parseCpus(Some(bad)).left.exists(_.contains("SPARK_GRAFT_CPUS")), bad)
  }
}
