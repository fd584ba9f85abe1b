package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Measurement harness for two as-of operator claims (SCALE.md /
  * BASELINE.md record its output):
  *
  *  1. WIDTH: the window-trick as-of pays one `last(when(...)) OVER`
  *     aggregate per carried right-hand column, while the custom merge
  *     operator (`graft.plans.AsOfJoinExec`) is one pass at any width —
  *     so the window form's cost should grow with payload width and the
  *     merge's should stay flat. Run both at 2 and 10 carried columns.
  *
  *  2. SKEW: on a deliberately hot-keyed input (one user holding ~half of
  *     all events), compare the unsalted merge against the salted form
  *     (`asof_join_salted`'s shape: left salted by hash, right replicated
  *     ×S). Salting splits the hot key's LEFT rows and merge output across
  *     S partitions at the price of sorting the hot right side S times.
  *
  * Usage: `graft.AsOfWidthBench <sfDir>`; prints one JSON line per
  * experiment with cold/warm timings and result checksums (both forms
  * must agree — a fast wrong answer is no answer).
  */
object AsOfWidthBench {
  private def time[T](f: => T): (Double, T) = {
    val t0 = System.nanoTime()
    val r = f
    ((System.nanoTime() - t0) / 1e9, r)
  }

  /** Checksum a result: row count + sum of gap and first payload column. */
  private def checksum(df: DataFrame): (Long, Long) = {
    val r = df.agg(count(lit(1)), sum(col("gap_sec") + col("p1"))).head()
    (r.getLong(0), r.getLong(1))
  }

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

    // inflate ×F and CACHE: sf0.1 events alone are small enough that
    // fixed scheduling overhead (~0.3 s) drowns the operator cost; the
    // cache pins the input so repeated runs time the JOIN, not the scan
    val factor = sys.env.getOrElse("SPARK_GRAFT_ASOF_INFLATE", "20").toInt
    val ev = Pins.cache(Tables.events(spark, sfDir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        unix_timestamp(col("ts")).as("sec"))
      .withColumn("rep", explode(sequence(lit(0), lit(factor - 1))))
      .withColumn("event_id", col("event_id") * factor + col("rep"))
      .drop("rep"))
    val nEv = ev.count()

    /** Min of 3 timed runs (post-warmup), so codegen/JIT order can't pick
      * the winner. */
    def best(mk: () => DataFrame): (Double, (Long, Long)) = {
      val runs = (1 to 3).map(_ => time(checksum(mk())))
      (runs.map(_._1).min, runs.head._2)
    }

    // ---------------------------------------------------------- width A/B
    // p1 is a long (checksummable); p2..pk are 64-byte strings — payload
    // WIDTH in bytes is what stresses the window form (its padded union
    // pushes every carried column through the full shuffle+sort on BOTH
    // sides; the merge shuffles each side's own columns once)
    def payloadCol(i: Int, secC: org.apache.spark.sql.Column,
                   idC: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      if (i == 1) (secC * i + idC % 97).cast("long")
      else rpad((secC * i + idC % 97).cast("string"), 64, "x")

    def windowForm(k: Int): DataFrame = {
      var tagged = ev
        .withColumn("is_click", when(col("event_type") === "click", 1).otherwise(0))
        .filter(col("event_type").isin("click", "purchase"))
      for (i <- 1 to k)
        tagged = tagged.withColumn(s"p$i",
          payloadCol(i, col("sec"), col("event_id")))
      val byUser = Window.partitionBy(col("user_id"))
        .orderBy(col("sec"), col("is_click").desc, col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      var out = tagged.withColumn("last_click_id",
        last(when(col("is_click") === 1, col("event_id")), ignoreNulls = true).over(byUser))
      for (i <- 1 to k)
        out = out.withColumn(s"lp$i",
          last(when(col("is_click") === 1, col(s"p$i")), ignoreNulls = true).over(byUser))
      out = out.withColumn("last_click_sec",
        last(when(col("is_click") === 1, col("sec")), ignoreNulls = true).over(byUser))
      out.filter(col("event_type") === "purchase" && col("last_click_id").isNotNull)
        .select(Seq(col("event_id").as("purchase_id"),
          (col("sec") - col("last_click_sec")).as("gap_sec")) ++
          (1 to k).map(i => col(s"lp$i").as(s"p$i")): _*)
    }

    def mergeForm(k: Int): DataFrame = {
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("sec"))
      var clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id").as("click_user"),
          col("sec").as("click_sec"))
      // identical payload expressions over the click projection's names —
      // the window form's last(when(is_click, p_i)) picks the CLICK row's
      // payload, so both forms must derive p_i from the click's columns
      for (i <- 1 to k)
        clicks = clicks.withColumn(s"p$i",
          payloadCol(i, col("click_sec"), col("click_id")))
      graft.plans.AsOf.joinBackward(
          purchases, clicks,
          leftKeys = Seq("user_id"), rightKeys = Seq("click_user"),
          leftTime = "sec", rightTime = "click_sec",
          rightTiebreak = Seq("click_id"))
        .select(Seq(col("event_id").as("purchase_id"),
          (col("sec") - col("click_sec")).as("gap_sec")) ++
          (1 to k).map(i => col(s"p$i")): _*)
    }

    // JVM/codegen warmup on both shapes before anything is timed
    checksum(windowForm(2)); checksum(mergeForm(2))
    for (k <- Seq(2, 10)) {
      val (wT, wSum) = best(() => windowForm(k))
      val (mT, mSum) = best(() => mergeForm(k))
      require(wSum == mSum, s"width=$k: forms disagree — window=$wSum merge=$mSum")
      println(s"""{"exp":"width","k":$k,"n_events":$nEv,"rows":${wSum._1},""" +
        s""""window_min":$wT,"merge_min":$mT}""")
    }

    // ----------------------------------------------------------- skew A/B
    // One synthetic user swallows ~half of all rows. Two scenarios, because
    // salting splits only the LEFT side (the right is replicated ×S):
    //   left-hot : hot key is probe-dominated (clicks+views all become
    //              probes; the right side is the small purchase set) — the
    //              quotes-vs-trades shape where salting should win;
    //   both-hot : hot key dominates both sides — salting re-sorts the hot
    //              right S times for little gain; the honest anti-case.
    def mkSides(probeTypes: Seq[String], rightType: String,
                rightSample: Int): (DataFrame, DataFrame) = {
      val hot = ev.withColumn("user_id",
        when(col("event_id") % 2 === 0, lit(999999999L)).otherwise(col("user_id")))
      (hot.filter(col("event_type").isin(probeTypes: _*))
         .select(col("event_id"), col("user_id"), col("sec")),
       hot.filter(col("event_type") === rightType &&
           col("event_id") % rightSample === 0)
         .select(col("event_id").as("click_id"), col("user_id").as("click_user"),
           col("sec").as("click_sec")))
    }
    def unsalted(l: DataFrame, r: DataFrame): DataFrame =
      graft.plans.AsOf.joinBackward(l, r,
          leftKeys = Seq("user_id"), rightKeys = Seq("click_user"),
          leftTime = "sec", rightTime = "click_sec",
          rightTiebreak = Seq("click_id"))
        .select(col("event_id"), (col("sec") - col("click_sec")).as("gap_sec"),
          lit(0L).as("p1"))
    def salted(l0: DataFrame, r0: DataFrame, s: Int): DataFrame = {
      val l = l0.withColumn("salt", pmod(hash(col("event_id")), lit(s)))
      val r = r0.withColumn("click_salt",
        explode(sequence(lit(0), lit(s - 1))))
      graft.plans.AsOf.joinBackward(l, r,
          leftKeys = Seq("user_id", "salt"), rightKeys = Seq("click_user", "click_salt"),
          leftTime = "sec", rightTime = "click_sec",
          rightTiebreak = Seq("click_id"))
        .select(col("event_id"), (col("sec") - col("click_sec")).as("gap_sec"),
          lit(0L).as("p1"))
    }
    // the right-hot alternative: split TIME instead of replicating history
    // (asof_join_epoch's rewrite) — 6h epochs over the events' ~90-day span
    def epochSplit(l: DataFrame, r: DataFrame): DataFrame =
      graft.operators.TimeWindows.asofEpochSplit(l, r, epochSec = 6 * 3600)
        .select(col("event_id"), (col("sec") - col("click_sec")).as("gap_sec"),
          lit(0L).as("p1"))
    for ((scenario, probes, right, rightSample) <- Seq(
        // trades-vs-quotes shape: huge hot probe side, SMALL right side
        // (1% of purchases) — replication ×S is cheap, splitting the
        // straggler is the whole win
        ("left_hot", Seq("click", "view"), "purchase", 100),
        // both sides hot: replication re-sorts the hot right S times
        ("both_hot", Seq("purchase"), "click", 1))) {
      val (l, r) = mkSides(probes, right, rightSample)
      checksum(unsalted(l, r)) // warmup
      val (uT, uSum) = best(() => unsalted(l, r))
      val (eT, eSum) = best(() => epochSplit(l, r))
      require(uSum == eSum, s"$scenario: epoch-split disagrees — $uSum vs $eSum")
      for (s <- Seq(4, 8)) {
        val (sT, sSum) = best(() => salted(l, r, s))
        require(uSum == sSum, s"$scenario salt=$s: forms disagree — $uSum vs $sSum")
        println(s"""{"exp":"skew","scenario":"$scenario","salts":$s,""" +
          s""""rows":${uSum._1},"unsalted_min":$uT,"salted_min":$sT,"epoch_min":$eT}""")
      }
    }
    spark.stop()
  }
}
