package graft

import org.scalatest.funsuite.AnyFunSuite

/** Every query a [[Probe]] family names is a suite query, so a renamed or
  * removed query fails here rather than at the start of a probe run. */
class ProbeSpec extends AnyFunSuite {

  test("every Probe family names only suite queries, each once") {
    Probe.families.foreach { case (family, names) =>
      assert(names.distinct === names, s"$family repeats a query")
      assert(names.filterNot(SparkEntry.queries.contains).isEmpty, s"$family names an unknown query")
    }
  }
}
