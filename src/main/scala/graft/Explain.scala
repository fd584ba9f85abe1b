package graft

/** Plan/latency probe: `graft.Explain <sfDir> <queryName> [queryName ...]`
  * prints the formatted physical plan and two timed runs (cold + warm) for
  * each named query — the iterate-on-`.explain` loop SURVEY.md §7 calls for.
  * Pass no names to list available queries. */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = args.drop(1)
    val spark = Session.builder(sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    if (names.isEmpty) {
      SparkEntry.queries.keys.toSeq.sorted.foreach(println)
    } else names.foreach { name =>
      // time CONSTRUCTION + count, not count alone: iterative operators
      // (connected components, k-means) run eager driver loops while the
      // DataFrame is being built — count-only timing hid 95% of
      // neardup_clusters' cost in round 3
      val t0 = System.nanoTime()
      val df = SparkEntry.queries(name)(spark, sfDir)
      val tBuild = (System.nanoTime() - t0) / 1e9
      println(s"===== $name =====")
      df.explain("formatted")
      val n = df.count()
      println(f"rows=$n build=$tBuild%.2fs cold=${(System.nanoTime() - t0) / 1e9}%.2fs (incl build)")
      val t1 = System.nanoTime()
      df.count()
      println(f"warm=${(System.nanoTime() - t1) / 1e9}%.2fs")
    }
    spark.stop()
  }
}
