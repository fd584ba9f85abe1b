package graft

import graft.operators.Similarity
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** A/B for the standing-IVF maintenance path (BASELINE.md records its
  * output): cost of APPENDING a daily sliver to the inverted lists vs
  * REBUILDING the whole index — the number that justifies the append
  * path's existence the way the dedup index's 2.9 s probe vs 17 s
  * rebuild row does.
  *
  * Protocol: split `embeddings` into corpus (vec_id % 11 != 0, keeps all
  * % 200 centroids) and sliver (vec_id % 11 == 0, ~9%); time
  * (1) buildAnnFor over the corpus, (2) appendAnnFor of the sliver,
  * (3) buildAnnFor over the union (what a rebuild-per-day deployment
  * would pay), then probe the appended index and the union rebuild with
  * the standard query subset and assert byte-equality — the A/B is only
  * meaningful if both serve identical answers.
  *
  * Usage: `graft.AnnAppendBench [sfDir]`. Prints one JSON line.
  */
object AnnAppendBench {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.artifact.isolation.enabled", "false")
      .config("spark.sql.optimizer.excludedRules", GraftExtensions.ExcludedOptimizerRules)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val e = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    // % 11 sliver keeps every % 200 == 0 centroid id in the corpus side
    // (11 and 200 share no factor with any id below lcm = 2200 except
    // multiples of both — those go to the sliver, but 0 stays: fine for
    // the A/B as long as BOTH probed indexes share one centroid set,
    // which they do — the union rebuild regenerates the same centroids
    // only if the sliver contributes none, so exclude them explicitly)
    val corpus = Pins.checkpoint(e.filter(col("vec_id") % 11 =!= 0 || col("vec_id") % 200 === 0))
    val sliver = Pins.checkpoint(e.filter(col("vec_id") % 11 === 0 && col("vec_id") % 200 =!= 0))
    val nCorpus = corpus.count(); val nSliver = sliver.count()

    def timed[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val r = f
      (r, (System.nanoTime() - t0) / 1e9)
    }
    val (_, tBuild) = timed(Similarity.buildAnnFor(corpus, "annab_base"))
    val (_, tAppend) = timed(Similarity.appendAnnFor(spark, "annab_base", sliver))
    val (_, tRebuild) = timed(
      Similarity.buildAnnFor(corpus.unionByName(sliver), "annab_full"))

    val q = Pins.checkpoint(e.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("q_id"), col("v").as("qv")))
    def probe(tag: String) = Similarity.ivfProbe(spark, tag, q)
      .collect().map(_.mkString("|")).toSeq
    val (appended, tProbeAppended) = timed(probe("annab_base"))
    val (rebuilt, _) = timed(probe("annab_full"))
    require(appended == rebuilt,
      "A/B invalid: appended index and union rebuild serve different answers")

    def r2(v: Double) = String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))
    spark.stop()
    println(s"""{"metric":"ann_append_ab","sf":"$sfDir","n_corpus":$nCorpus,""" +
      s""""n_sliver":$nSliver,"build_s":${r2(tBuild)},"append_s":${r2(tAppend)},""" +
      s""""rebuild_s":${r2(tRebuild)},"probe_s":${r2(tProbeAppended)},""" +
      s""""answers_equal":true}""")
  }
}
