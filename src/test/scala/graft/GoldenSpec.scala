package graft

import graft.tools.Golden

/** Pins every oracle-bearing query's sf0.001 result to a golden hash —
  * the between-rounds regression gate the round-5 miss motivated: a
  * semantic drift in any query fails `sbt test` immediately, instead of
  * surfacing as a red CORRECTNESS row at the next driver run. Regenerate
  * after intentional changes with `sbt "runMain graft.tools.GoldenGen"`.
  */
class GoldenSpec extends SparkSpec {

  test("every oracle-bearing query matches its pinned sf0.001 golden hash") {
    val pinned = Golden.readGoldens()
    assert(pinned.nonEmpty, s"no goldens at ${Golden.GoldenPath} — run GoldenGen")
    // every oracle query must be pinned (a new query without a golden is a
    // gate hole), and no stale pins for removed queries
    assert(pinned.keySet === SparkEntry.oracleSql.keySet,
      "goldens out of sync with oracleSql — run GoldenGen; " +
        s"missing=${SparkEntry.oracleSql.keySet -- pinned.keySet} " +
        s"stale=${pinned.keySet -- SparkEntry.oracleSql.keySet}")
    val got = Golden.computeAll(spark)
    val bad = pinned.keySet.toSeq.sorted.flatMap { name =>
      val (pc, ph, pn) = pinned(name)
      val (gc, gh, gn) = got(name)
      if (pc != gc) Some(s"$name: columns $gc != pinned $pc")
      else if (pn != gn) Some(s"$name: rows $gn != pinned $pn")
      else if (ph != gh) Some(s"$name: hash drifted (rows/cols unchanged)")
      else None
    }
    assert(bad.isEmpty, "result drift vs pinned goldens:\n" + bad.mkString("\n"))
  }

  test("every query has an oracle — the rows-only exception set is EMPTY") {
    // r12 (VERDICT ask #6): the last two rows-only queries re-platformed
    // onto graft-native deterministic sketches (q25 → md5-nibble HLL,
    // q33 → bottom-k md5 hash-sample quantiles), so every declared query
    // now carries a full DuckDB oracle. Spark's approx_count_distinct /
    // approx_percentile built-ins stay covered by JoinsSpec's
    // error-bound pins.
    val rowsOnly = Set.empty[String]
    val missing = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(missing == rowsOnly,
      s"queries without oracles beyond the documented set: " +
        s"${missing -- rowsOnly}; stale exceptions: ${rowsOnly -- missing}")
  }
}
