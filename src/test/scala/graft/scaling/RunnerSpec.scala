package graft.scaling

import org.scalatest.funsuite.AnyFunSuite

/** The runner's shared logic, driven without a SparkSession. */
class RunnerSpec extends AnyFunSuite {

  /** a job whose successive runs take the scripted wall times */
  private def scripted(ts: Double*): () => Double = {
    val it = ts.iterator
    () => it.next()
  }

  test("protocol: warm-ups stop once two consecutive agree, trials stop once the best 3 are tight") {
    val (warmups, trials) = Protocol.measure(
      scripted(10.0, 5.0, 4.8, 99.0),
      scripted(3.0, 2.0, 2.1, 2.05, 99.0))
    assert(warmups == Seq(10.0, 5.0, 4.8, 3.0)) // + the untimed full-size run
    assert(trials == Seq(2.0, 2.1, 2.05))
  }

  test("protocol: trials extend while the best-3 spread is over the bound") {
    val (_, trials) = Protocol.measure(
      scripted(1.0, 1.0),
      scripted(9.0, 2.0, 3.0, 3.1, 2.1, 2.05, 99.0))
    // [2.0, 3.0, 3.1] and then [2.0, 2.1, 3.0] are over 15 %; [2.0, 2.05, 2.1] is not
    assert(trials == Seq(2.0, 3.0, 3.1, 2.1, 2.05))
  }

  test("protocol: warm-ups and trials respect their caps") {
    val (warmups, trials) = Protocol.measure(
      scripted(Seq.tabulate(20)(i => if (i % 2 == 0) 1.0 else 2.0): _*),
      scripted(Seq.tabulate(20)(i => 1.0 + i): _*))
    assert(warmups.length == Protocol.MaxWarmups + 1)
    assert(trials == Seq(2.0, 3.0, 4.0, 5.0, 6.0, 7.0).take(Protocol.MaxTrials))
    assert(Protocol.MaxTrials == 6)
  }

  private val frag = Fragment("flagship", 200000L, 1,
    Timing(Seq(3.5, 2.25, 2.125), Seq(1.5, 1.75, 1.625)),
    Map("routed.hot" -> 131072L, "routed.cold" -> 9998L, "checksum" -> -8123456789012L))

  test("fragment JSON round-trips") {
    assert(Runner.fromJson(Runner.toJson(frag)) == frag)
  }

  test("combine's level check: equal counters pass, differing counters fail loudly") {
    val big = frag.copy(cores = 4)
    Runner.checkLevels(frag, big)
    val e = intercept[IllegalArgumentException](
      Runner.checkLevels(frag, big.copy(counters = big.counters + ("routed.cold" -> 9997L))))
    assert(e.getMessage.contains("routed.cold: 9998 vs 9997"), e.getMessage)
    val missing = intercept[IllegalArgumentException](
      Runner.checkLevels(frag, big.copy(counters = big.counters - "routed.hot")))
    assert(missing.getMessage.contains("routed.hot: 131072 vs -"), missing.getMessage)
    intercept[IllegalArgumentException](Runner.checkLevels(frag, frag.copy(cores = 2)))
    intercept[IllegalArgumentException](Runner.checkLevels(frag, big.copy(size = 1L)))
  }

  test("only the flagship and stream campaigns: an unknown name fails and lists them") {
    assert(Runner.Campaigns.map(_.name) == Seq("flagship", "stream"))
    val e = intercept[RuntimeException](Runner.campaign("dedup"))
    assert(e.getMessage.contains("flagship, stream"), e.getMessage)
  }
}
