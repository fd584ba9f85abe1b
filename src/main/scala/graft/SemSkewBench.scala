package graft

import graft.operators.Similarity
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Duplicate-skewed-delta rehearsal for the star-capped standing semantic
  * probe (round 19; SCALE.md records its output): the hot-cell scenario
  * the cap exists for — a delta of N identical vectors (a scraped
  * duplicate flood) on a direction ABSENT from the base lands in ONE
  * frozen cell, where the pre-cap all-pairs stage would schedule N²/2
  * within-cell pairs (4.5e8 cosine evaluations at the default N = 30000).
  * The capped probe pays N star spokes instead; the gate here is that it
  * completes in seconds AND still collapses the whole clique to its
  * minimum id (star spokes reconnect the component through the hub).
  *
  * The corpus is synthesized, not read from a dir, because the scenario
  * needs a direction provably absent from the base: 8 axis-aligned
  * direction groups (cosine ≈ 1 within a group, ≈ 0.02 across) with the
  * centroid rule's % 200 ids covering every group, so the frozen
  * quantizer spreads the base across 8 cells at the designed occupancy;
  * the flood direction (alternating signs) has cosine ≈ 0.35 < 0.4
  * against every base vector — stage 1 passes it through and stage 2
  * meets the full clique.
  *
  * Usage: `graft.SemSkewBench [nBase] [nDup]`. Prints one JSON line.
  */
object SemSkewBench {
  def main(args: Array[String]): Unit = {
    val nBase = args.headOption.map(_.toInt).getOrElse(50000)
    val nDup  = args.lift(1).map(_.toInt).getOrElse(30000)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.artifact.isolation.enabled", "false")
      .config("spark.sql.optimizer.excludedRules", GraftExtensions.ExcludedOptimizerRules)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    // 8 direction groups keyed by (id / 200) % 8, so the % 200 centroid
    // subset covers every group and each base vector quantizes to its own
    // group's lowest centroid — 8 cells at nBase/8 occupancy
    def axisExpr(idCol: String): String =
      s"transform(sequence(0, 7), i -> IF(i = cast($idCol / 200 as int) % 8, 10.0d, 0.1d))"
    val base = Pins.checkpoint(spark.range(nBase.toLong)
      .select(col("id").as("vec_id"), expr(axisExpr("id")).as("v")))
    val flood = Pins.checkpoint(spark.range(1000000L, 1000000L + nDup)
      .select(col("id").as("vec_id"),
        expr("transform(sequence(0, 7), i -> IF(i % 2 = 0, 10.0d, -10.0d))").as("v")))

    def timed[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val r = f
      (r, (System.nanoTime() - t0) / 1e9)
    }
    val tag = s"semskew_${System.nanoTime()}"
    val (_, tBuild) = timed(Similarity.buildSemDedupFor(base, tag))
    val (rows, tProbe) = timed(
      Similarity.semanticDedupIvfIndexedFor(spark, tag, flood)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))))

    require(rows.length == nDup, s"expected $nDup decisions, got ${rows.length}")
    val reps = rows.map(_._2).distinct
    require(reps.length == 1 && reps.head == 1000000L,
      s"flood must collapse to its min id through the star hub, got reps ${reps.take(5).toSeq}")
    require(rows.count(_._3) == 1,
      s"exactly the hub survives, got ${rows.count(_._3)} kept")

    def r2(v: Double) = String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))
    spark.stop()
    println(s"""{"metric":"sem_skew_flood","n_base":$nBase,"n_dup":$nDup,""" +
      s""""build_s":${r2(tBuild)},"probe_s":${r2(tProbe)},""" +
      s""""uncapped_pairs":${nDup.toLong * (nDup - 1) / 2},"collapsed":true}""")
  }
}
