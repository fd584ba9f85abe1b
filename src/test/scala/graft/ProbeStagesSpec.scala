package graft

import graft.operators.Dedup
import org.apache.spark.sql.functions._

/** The incremental near-dup probe stages every twin composes
  * (`Dedup.prefixRows`, `Dedup.bestCorpusMatch`), pinned on hand-built
  * local frames: no parquet, no index build. */
class ProbeStagesSpec extends GraftSpec {
  import spark.implicits._

  test("best corpus match: highest J wins, ties to the lowest corpus_id, J = t kept, J < t dropped") {
    def toks(p: String, n: Int): Seq[String] = (1 to n).map(i => s"$p$i")
    val shared = toks("s", 50)
    val bArr = Seq(
      (1L, Seq("a", "b", "c", "d")),  // ties between corpus 5 and 10
      (2L, Seq("m", "n", "o")),        // J exactly 0.5 against corpus 20
      (3L, shared ++ toks("x", 25))    // J = 50/101 against corpus 30
    ).toDF("batch_id", "sh").withColumn("nb", size(col("sh")).cast("long"))
    val cArr = Seq(
      (3L, Seq("a", "b", "x", "y", "z")),   // J 2/7 with doc 1: lower id, lower J
      (10L, Seq("a", "b", "c", "y")),       // J 3/5 with doc 1
      (5L, Seq("a", "b", "c", "x")),        // J 3/5 with doc 1: the tie winner
      (20L, Seq("m", "n", "o", "p", "q", "r")),
      (30L, shared ++ toks("y", 26))
    ).toDF("corpus_id", "sh").withColumn("nc", size(col("sh")).cast("long"))
    val cand = bArr.select("batch_id").crossJoin(cArr.select("corpus_id"))
    def best(t: Double): Map[Long, (Long, Double)] =
      Dedup.bestCorpusMatch(cand, bArr, cArr, t).collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    // J = t (doc 2) is kept; doc 3's 50/101 sits just below 0.5 and is dropped
    assert(best(0.5) == Map(1L -> (5L, 0.6), 2L -> (20L, 0.5)))
    // at t = 50/101 exactly, doc 3 is kept
    assert(best(50.0 / 101) ==
      Map(1L -> (5L, 0.6), 2L -> (20L, 0.5), 3L -> (30L, 50.0 / 101)))
    assert(best(0.6) == Map(1L -> (5L, 0.6)))
  }

  test("frozen-order prefix rows: an unseen shingle takes df 0 and sorts first") {
    val dfreq = Seq(("a", 3L), ("b", 1L), ("c", 2L)).toDF("s", "df")
    val arr = Seq((1L, Seq("a", "b", "c", "z"))).toDF("id", "sh")
    def prefix(t: Double): Set[(Long, Long, String)] =
      Dedup.prefixRows(arr, "id", "n", dfreq, t).as[(Long, Long, String)].collect().toSet
    // t = 0.9: 4 − ⌈3.6⌉ + 1 = 1 prefix shingle, the unseen z (df 0)
    assert(prefix(0.9) == Set((1L, 4L, "z")))
    // t = 0.5: 3 shingles in (df, s) order z(0), b(1), c(2); a (df 3) is cut
    assert(prefix(0.5) == Set((1L, 4L, "z"), (1L, 4L, "b"), (1L, 4L, "c")))
  }

  test("frozen-order prefix rows: prefix length is n − ⌈t·n⌉ + 1 for n = 1..6") {
    val arr = (1 to 6).map(n => (n.toLong, (1 to n).map(i => s"w$i"))).toDF("id", "sh")
    val dfreq = Seq.empty[(String, Long)].toDF("s", "df")
    for (t <- Seq(0.5, 0.7, 0.8)) {
      val got = Dedup.prefixRows(arr, "id", "n", dfreq, t)
        .groupBy("id", "n").count().as[(Long, Long, Long)].collect()
        .map { case (id, n, c) => id -> (n, c) }.toMap
      val want = (1 to 6).map { n =>
        val cut = (BigDecimal(t.toString) * n).setScale(0, BigDecimal.RoundingMode.CEILING)
        n.toLong -> (n.toLong, n - cut.toLong + 1)
      }.toMap
      assert(got == want, s"t = $t")
    }
  }
}
