package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins [[Session.conf]]: the mains ([[Bench]], [[Verify]], the
  * `graft.tools` probes) and the benchmark's own session
  * (perfbench `Main.session`) must keep measuring the same engine, so
  * a change to any of these pairs has to show up here. Pure: no
  * session is started. */
class SessionSpec extends AnyFunSuite {

  test("conf is exactly the five settings the bench and perfbench sessions set") {
    assert(Session.conf(4).toMap == Map(
      "spark.sql.shuffle.partitions" -> "4",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "4194304",
      "spark.ui.enabled" -> "false"))
    assert(Session.conf(4).map(_._1).distinct.size == 5, "a key is set twice")
  }

  test("shuffle partitions follow the core count") {
    for (n <- Seq(1, 4, 32))
      assert(Session.conf(n).toMap.get("spark.sql.shuffle.partitions").contains(n.toString))
  }
}
