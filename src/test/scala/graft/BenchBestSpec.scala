package graft

import org.scalatest.funsuite.AnyFunSuite

/** Best-ever times only judge a Bench pass run at the core count they
  * were recorded at. */
class BenchBestSpec extends AnyFunSuite {

  test("bests are compared only at the core count they were recorded at") {
    // a file without `_cpus` was recorded at 32 cores
    val (legacyCpus, legacy) = Bench.parseBest(
      Bench.parseFlat("""{"q01_a":0.5,"q02_b":2.0}"""))
    assert(legacyCpus == 32 && legacy == Map("q01_a" -> 0.5, "q02_b" -> 2.0))

    val written = Bench.bestJson(4, legacy.toSeq)
    assert(written == "{\"_cpus\":4,\"q01_a\":0.5,\"q02_b\":2.0}\n")
    val (cpus, best) = Bench.parseBest(Bench.parseFlat(written))
    assert(cpus == 4 && best == legacy) // `_cpus` is not a query

    assert(Bench.sameCores(32, "32") && Bench.sameCores(4, " 4"))
    assert(!Bench.sameCores(32, "4") && !Bench.sameCores(32, "*"))
    val mins = Seq("q01_a" -> 1.6, "q02_b" -> 2.1)
    assert(Bench.suspectsOf(comparable = true, best, mins) == Seq("q01_a"))
    assert(Bench.suspectsOf(comparable = false, best, mins).isEmpty)
  }
}
