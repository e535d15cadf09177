package graft

import graft.queries.DedupQueries

/** The pair-family router chooses its plan from the measured corpus shape
  * alone: Zipf-tailed corpora take the rarest-first prefix (it changes the
  * asymptotics), uniform-df corpora the plain count-join. The arms' output
  * equality is pinned in Round8RouterSpec; this pins the decision table.
  */
class Round9RouterSpec extends SparkSpec {

  private val uniform = DedupQueries.GramDfStats(
    vocab = 27213L, gramRows = 2.60e6, coPairs = 1.266e7,
    rareVocabFrac = 0.008)
  private val zipf = DedupQueries.GramDfStats(
    vocab = 500000L, gramRows = 5e6, coPairs = 4e8, rareVocabFrac = 0.55)

  test("route table: corpus shape x fabric") {
    assert(DedupQueries.routePairArm(uniform) == DedupQueries.CountJoinArm)
    assert(DedupQueries.routePairArm(zipf) == DedupQueries.PrefixArm)
  }

  test("gramDfStats is memoized per (app, dir)") {
    val d = "/root/testdata/sf0.001"
    val a = DedupQueries.gramDfStats(spark, d)
    val b = DedupQueries.gramDfStats(spark, d)
    assert(a == b)
    // distinct dirs memoize independently; the original entry survives
    val other = DedupQueries.gramDfStats(spark, "/root/testdata/sf0.01")
    assert(other.vocab != a.vocab, "different SF dirs have different vocab")
    assert(DedupQueries.gramDfStats(spark, d) == a)
  }
}
