package graft

import org.apache.spark.sql.SparkSession

/** Scale rehearsal: measure the multi-stage queries and their standing
  * builds across corpus scale factors, so the 100 TB posture rests on a
  * MEASURED scaling curve rather than plan-shape argument alone.
  *
  * Protocol (SCALE.md records the results):
  *  - corpora: the driver's sf0.1 plus `scripts/gen_scale_corpus.py`
  *    outputs (sf0.5 ≈ 5×, sf1 ≈ 10× the sf0.1 document/embedding rows,
  *    same vocabulary/length/near-dup distribution, so per-doc work is
  *    comparable across scale);
  *  - per corpus: time each standing-index build (dedup, leakage-audit,
  *    ANN-IVF, substring-gram, semantic-dedup — the once-per-corpus
  *    session setup), then each target query 3× on the small dirs
  *    (≤ 100 k docs — the gate denominators, stabilized round 18) and
  *    2× on the large; the per-query MIN is the steady-state number
  *    (same attribution discipline as [[Bench]]);
  *  - targets: the most composed document/embedding pipelines — exactly
  *    the queries whose scaling a quadratic candidate generator or an
  *    unbounded fixpoint would wreck first — plus, for each, its
  *    banded-LSH scale twin where one exists, so every rehearsal re-reads
  *    the exact-vs-banded crossover.
  *
  * Usage: ScaleBench [--assert] [--ceilings=harness|heaps]
  * [--targets=a,b,c] <dir1> <dir2> ... (each dir holding
  * documents.parquet + embeddings.parquet). Prints one JSON line per
  * corpus with build and query seconds. `--ceilings=heaps` gates with
  * [[AssertCeilingsHeaps]] — the close protocol runs BOTH gate pairs
  * (harness sf0.1→sf1 and heaps _sf01→_sf1).
  *
  * `--targets=` restricts the run (iteration aid; standing-index builds
  * are skipped when no selected target probes them).
  *
  * `--assert` turns the rehearsal into a GATE: with ≥ 2 dirs ordered by
  * scale, the measured growth ratio min(last)/min(first) of every gated
  * family must stay under its pinned ceiling — a regression to a
  * quadratic candidate stream exits non-zero instead of merely printing
  * a bad curve. Each consecutive pair is a ~10× step gated under the
  * ceiling map for ITS decade, inferred from the step's own row count
  * (> 25 k docs at the small end → the d2 maps), so a focused 2-dir
  * `sf1 sf10` run gates correctly. Ceilings carry ~1.4–1.6× headroom
  * over the measured ratios: generous to host noise, far under the
  * ≥ 3× blowup a quadratic term shows at 10× data. The run REFUSES dir
  * pairs whose row ratio is outside [7, 13] so the ceilings always
  * gate the step they were calibrated for.
  */
object ScaleBench {
  private val Targets = Seq(
    "dedup_incremental", "entity_resolution", "pipeline_training_set",
    "split_leakage_audit", "ann_ivf_indexed",
    // round-13 widening: one representative per remaining scale-sensitive
    // family — banded-LSH near-dup (the dedup scale path), the standing
    // gram-index substring probe, the five-stage curation dataflow, and
    // embedding-space dedup (sign-grid cells + CC)
    "neardup_minhash_md5", "dedup_incremental_substring_indexed",
    "pipeline_curate", "semantic_dedup",
    // the ER capstone's banded scale twin — the pair SCALE.md's
    // exact-vs-LSH reading is about
    "entity_resolution_lsh",
    // round-15: the composed pipelines' banded twins, so the flagship
    // crossover (exact Σ df² near-dup stage vs band candidates inside
    // the SAME five-stage chain) is re-measured every rehearsal
    "pipeline_curate_lsh", "pipeline_training_set_lsh",
    // round-15: the batch-incremental composed curation — the daily-delta
    // job; its cost must track the delta, not the corpus — and its
    // standing-index twin (probe-only: the curve a deployment's day-2
    // run actually pays)
    "pipeline_curate_incremental", "pipeline_curate_incremental_indexed",
    // round-16: the BANDED standing probes — the adversarial-vocabulary
    // scale paths the prefix probes' mean-df guards name; they must run
    // (and stay flat) exactly where the indexed forms refuse
    "pipeline_curate_incremental_banded", "dedup_incremental_banded",
    // round-17: the IVF-clustered SemDeDup — the embedding-space scale
    // remedy; its kmeans cell universe must keep growing with the corpus
    "semantic_dedup_ivf",
    // round-18: its day-2 deployment form — frozen standing centroids,
    // delta-sized probes (no per-run Lloyd term)
    "semantic_dedup_ivf_indexed")

  /** Which standing-index build each target consumes — builds run only
    * for selected consumers (round 16: the build list was all-or-nothing,
    * which at the second-decade corpus tried to build the AUDIT index —
    * whose curated stage rides the now-tripwired exact kept build — for
    * a target list that never probes it). */
  private val BuildConsumers: Map[String, Set[String]] = Map(
    // NOTE: dedup_incremental (the per-run rebuild form) is NOT a
    // consumer — it builds its own frames in-run; listing it here made
    // targeted runs pay the 737 s sf10 standing build for nothing
    "build_dedup_idx" -> Set("dedup_incremental_indexed",
                             "dedup_incremental_banded"),
    "build_audit_idx" -> Set("split_leakage_audit"),
    "build_ann_idx"   -> Set("ann_ivf_indexed"),
    "build_gram_idx"  -> Set("dedup_incremental_substring_indexed"),
    "build_cur_idx"   -> Set("pipeline_curate_incremental_indexed",
                             "pipeline_curate_incremental_banded"),
    "build_sem_idx"   -> Set("semantic_dedup_ivf_indexed"))

  /** Growth-ratio ceilings for the ~10× step (first dir → last dir),
    * gated under `--assert`. Families and their round-13/15 measured
    * ratios at 10× data (SCALE.md): standing-index probes —
    * dedup_incremental 3.3×, substring probe 2.4×, ANN-IVF 2.0×; banded
    * LSH families — neardup_minhash_md5 3.8×, entity_resolution_lsh
    * 2.0×, pipeline_curate_lsh 2.6× / pipeline_training_set_lsh 2.7×
    * (round-15 measured, SCALE.md "Round-15" section). Each ceiling is
    * ~1.6× the measured ratio. */
  /** Absolute-cost floor for the growth gate: a family whose last-dir
    * time is below this is measured inside shared-host noise, where a
    * single scheduling hiccup doubles a sub-second ratio (observed on
    * `ann_ivf_indexed`: same HEAD, 1.9x quiet vs 4.2x under residual
    * load). Real regressions clear the floor immediately at 10x data.
    * Round 18: raised 2.0 → 5.0 after d1-ceiling churn in two
    * consecutive rounds on sub-5 s steps (dedup_incremental_banded sf1
    * 3.70 s flagged at a 4.3x ratio off a 0.85 s denominator); a
    * quadratic regression at 10x data costs tens of seconds, so a sub-5 s
    * absolute cost still cannot hide one. Paired with min-of-3 passes on
    * the small dirs (denominator stabilization), below. */
  private val NoiseFloorSec = 5.0

  /** Pinned per-family ABSOLUTE last-dir baselines for the sub-floor
    * regime (round 19, advisor): with the floor at 5 s, a family whose
    * last-dir cost sits under it passed on absolute cost REGARDLESS of
    * ratio — so the smallest d1 steps pinned nothing. A sub-floor pass
    * now additionally requires the last-dir cost stay within
    * [[AbsPinFactor]]× the family's pinned quiet baseline (worst quiet
    * observation across both vocabularies; families without a pin keep
    * the floor-only rule). Where 3× the pin exceeds the floor the floor
    * still binds — the pin is then documentation — but the genuinely
    * sub-second probes (ann_ivf_indexed) are pinned at 3.6 s: a
    * regression to 4.5 s that used to hide under the floor now fails. */
  private val AbsPinFactor = 3.0
  private val AbsPinSec: Map[String, Double] = Map(
    "ann_ivf_indexed"            -> 1.2,  // 0.25-1.0 s measured d1, both vocabularies
    "semantic_dedup_ivf_indexed" -> 2.3,  // 1.58-2.27 s measured d1
    "dedup_incremental_banded"   -> 3.7)  // 0.85-3.70 s measured d1

  private val AssertCeilings: Map[String, Double] = Map(
    "dedup_incremental"                   -> 5.5,
    "dedup_incremental_substring_indexed" -> 4.0,
    "ann_ivf_indexed"                     -> 3.5,
    "neardup_minhash_md5"                 -> 6.0,
    "entity_resolution_lsh"               -> 4.0,
    "pipeline_curate_lsh"                 -> 4.5,
    "pipeline_training_set_lsh"           -> 4.5,
    // round-16: the banded kept build cut this from the r15 2.5x
    // (measured 1.32x at 10x, 18.78 -> 24.77 s — SCALE.md run M)
    "pipeline_curate_incremental"         -> 4.0,
    // round-15 measured 1.4x at 10x (8.24 -> 11.89 s, probe-only)
    "pipeline_curate_incremental_indexed" -> 2.5,
    // round-16: the banded standing probe, measured 1.36x at 10x
    // (5.82 -> 7.93 s) on the adversarial corpus it exists for
    "pipeline_curate_incremental_banded"  -> 2.5,
    // measured 2.0x (r16, 1.68 -> 3.36) and 4.34x (r17 close, 0.85 ->
    // 3.70): the sf0.1 denominator is sub-second and swings 2x across
    // quiet same-HEAD runs, so the ceiling sits at ~1.4x the worst
    // observation (the ER-lsh discipline), not 1.6x a single run
    "dedup_incremental_banded"            -> 6.0,
    // measured 2.5x / 4.17x across three same-HEAD runs (sf1
    // observations swing 11.04-23.73 s with identical plans) — ~1.4x
    // the worst observation
    "semantic_dedup_ivf"                  -> 6.0,
    // round-18 measured 1.16x at 10x (1.58 -> 1.84 s, sub-floor probe)
    "semantic_dedup_ivf_indexed"          -> 3.5)

  /** Ceilings for the HEAPS-vocabulary corpus pair (round 16, task:
    * the realistic-text gate). Calibrated from the round-16 measured
    * 10×-step ratios on /tmp/graft_heaps_sf01 → _sf1 (SCALE.md run N)
    * at the usual ~1.6× headroom: dedup_incremental 3.1×,
    * substring-indexed 2.5×, ann-ivf 1.4×, minhash-md5 3.8×, ER-lsh
    * 1.9×, curate-lsh 2.7×, training-set-lsh 2.9×, incremental 2.1×,
    * indexed 2.3×. A regression that only shows on a GROWING vocabulary
    * (dfreq/prefix structures scale with |V|, which Heaps' law grows
    * 3.2× per decade while the harness vocabulary stays fixed) gates
    * here and nowhere else. Selected via `--ceilings=heaps`. */
  private val AssertCeilingsHeaps: Map[String, Double] = Map(
    "dedup_incremental"                   -> 5.0,
    "dedup_incremental_substring_indexed" -> 4.0,
    "ann_ivf_indexed"                     -> 2.5,
    "neardup_minhash_md5"                 -> 6.0,
    "entity_resolution_lsh"               -> 3.5,
    "pipeline_curate_lsh"                 -> 4.5,
    "pipeline_training_set_lsh"           -> 4.5,
    "pipeline_curate_incremental"         -> 3.5,
    "pipeline_curate_incremental_indexed" -> 4.0,
    // round-16 measured 1.67x-2.55x at 10x across two quiet runs (the
    // sf0.1 denominator swings 5.15-7.10 s on this host) — ceiling at
    // ~1.4x the worst observation, same discipline as ER-lsh above
    "pipeline_curate_incremental_banded"  -> 3.5,
    // round-16 measured 1.10x at 10x (2.67 -> 2.95 s, noise-floor
    // range); run T's contended 3.37x shows the sub-second denominator
    // swing — harness discipline applies (~1.4x worst observation)
    "dedup_incremental_banded"            -> 5.0,
    // embeddings are vocabulary-independent: same ceiling as harness
    "semantic_dedup_ivf"                  -> 6.0,
    // round-18 measured 0.96x at 10x (2.27 -> 2.17 s)
    "semantic_dedup_ivf_indexed"          -> 3.5)

  /** SECOND-decade (sf1 → sf10) growth ceilings — harness/adversarial
    * vocabulary. Round 16 measured the 100×-row corpus but gated only
    * the first decade, so a regression in exactly the regime where the
    * two scale cliffs lived would have passed both close gates silently;
    * these pin it (round-17 task). Calibrated from SCALE.md runs M/R
    * measured sf1 → sf10 ratios at the usual ~1.6× headroom:
    * ann-ivf 3.1×, substring-indexed 4.0×, minhash-md5 5.6×, ER-lsh
    * 5.3×, curate-lsh 5.4×, training-set-lsh 5.2×, curate-incremental-
    * banded 3.1–3.55×, dedup-banded 4.4×, semantic-dedup-ivf 5.9×
    * (run S). Ratios exceed the 1.6× d1 calibrations for ONE measured
    * reason — amortization: fixed per-query overhead hides the linear
    * data term at the first decade; the second approaches the linear
    * 10× asymptote from below (per-doc cost FALLS in every row).
    * Only families that COMPLETE the adversarial sf10 belong here: the
    * lossless prefix probes correctly refuse that corpus (mean-df
    * guard), which the guard spec pins — gating their refusal as a
    * ratio is meaningless. */
  private val AssertCeilingsD2: Map[String, Double] = Map(
    "ann_ivf_indexed"                     -> 5.0,
    "dedup_incremental_substring_indexed" -> 6.5,
    "neardup_minhash_md5"                 -> 9.0,
    "entity_resolution_lsh"               -> 8.5,
    "pipeline_curate_lsh"                 -> 8.5,
    "pipeline_training_set_lsh"           -> 8.5,
    "pipeline_curate_incremental_banded"  -> 5.5,
    "dedup_incremental_banded"            -> 7.0,
    "semantic_dedup_ivf"                  -> 9.5,
    // round-18 measured 3.44x at 100x rows (1.84 -> 6.33 s — the probe
    // stays delta-sized where the per-run Lloyd form pays 68.74 s)
    "semantic_dedup_ivf_indexed"          -> 5.5)

  /** Second-decade ceilings, Heaps-law corpus pair (_sf1 → _sf10). The
    * growing vocabulary keeps the prefix probes linear, so the full
    * family INCLUDING them gates here (run N measured the 100× sweep
    * end-to-end: dedup-incremental 4.8×, ann-ivf 3.0×, minhash-md5
    * 8.0×, substring-indexed 4.8×, ER-lsh 5.3×, curate-lsh 5.9×,
    * training-set-lsh 6.1×, curate-incremental 6.0×, indexed 7.9×;
    * round-17 runs T/U: curate-incremental-banded and dedup-banded
    * heaps sf10, semantic-dedup-ivf). ~1.6× headroom as everywhere. */
  private val AssertCeilingsHeapsD2: Map[String, Double] = Map(
    "dedup_incremental"                   -> 7.5,
    "ann_ivf_indexed"                     -> 5.0,
    "neardup_minhash_md5"                 -> 12.5,
    "dedup_incremental_substring_indexed" -> 7.5,
    "entity_resolution_lsh"               -> 8.5,
    "pipeline_curate_lsh"                 -> 9.5,
    "pipeline_training_set_lsh"           -> 9.5,
    "pipeline_curate_incremental"         -> 9.5,
    "pipeline_curate_incremental_indexed" -> 12.5,
    // run T measured the heaps sf10 cells: curate-banded 3.04x
    // (11.43 -> 34.71 s), dedup-banded 3.51x contended / 3.98x against
    // the quiet run-N sf1 denominator (11.75 s sf10), semantic-ivf
    // 4.48x (14.84 -> 66.52 s) — ceilings at ~1.6-1.75x the worst
    // observation
    "pipeline_curate_incremental_banded"  -> 5.5,
    "dedup_incremental_banded"            -> 7.0,
    "semantic_dedup_ivf"                  -> 9.5,
    // round-18 measured 3.0x at 100x rows (2.17 -> 6.50 s)
    "semantic_dedup_ivf_indexed"          -> 5.5)

  def main(args: Array[String]): Unit = {
    val (flags, dirs) = args.partition(_.startsWith("--"))
    require(dirs.nonEmpty,
      "usage: ScaleBench [--assert] [--targets=a,b,c] <sfDir> [<sfDir> ...]")
    // every flag must be recognized: a typo like '--asert' or a bare
    // '--targets' would otherwise silently degrade an --assert CI run to
    // a plain rehearsal that exits 0 with the scale gate disabled
    flags.foreach { f =>
      require(f == "--assert" ||
        (f.startsWith("--targets=") && f.length > "--targets=".length) ||
        f == "--ceilings=harness" || f == "--ceilings=heaps",
        s"unknown flag: $f (known: --assert, --targets=a,b,c, --ceilings=harness|heaps)")
    }
    val assertMode = flags.contains("--assert")
    val heapsMode = flags.contains("--ceilings=heaps")
    val ceilings = if (heapsMode) AssertCeilingsHeaps else AssertCeilings
    val ceilingsD2 = if (heapsMode) AssertCeilingsHeapsD2 else AssertCeilingsD2
    val targets = flags.find(_.startsWith("--targets="))
      .map(_.stripPrefix("--targets=")) match {
        // the second-decade close list, spelled by name so the gate
        // command can't drift out of sync with the ceiling map (a typo'd
        // hand-list would silently un-gate a family)
        case Some("@decade2") => ceilingsD2.keys.toSeq.sorted
        case Some(csv) => csv.split(",").map(_.trim).filter(_.nonEmpty).toSeq
        case None => Targets
      }
    targets.foreach(t => require(SparkEntry.queries.contains(t), s"unknown target: $t"))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
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
    spark.sparkContext.setLogLevel("WARN")
    def r2(v: Double): String = String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))
    def time(body: => Unit): Double = {
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    }
    // JVM/codegen warmup, untimed (same rationale as Bench)
    spark.range(1000000L).selectExpr("sum(id)").collect()
    // (dir, nDocs, per-query min) per corpus — kept for the assert step
    val results = scala.collection.mutable.ArrayBuffer
      .empty[(String, Long, Map[String, Double])]
    for (dir <- dirs) {
      val nDocs = Tables.footerRowCount(spark, dir, "documents")
      def want(build: String): Boolean =
        targets.exists(BuildConsumers(build))
      val buildFns: Seq[(String, () => Unit)] = Seq(
        "build_dedup_idx" -> (() => { graft.operators.StandingIndex.ensureBuilt(spark, dir); () }),
        "build_audit_idx" -> (() => { graft.operators.StandingIndex.ensureAuditBuilt(spark, dir); () }),
        "build_ann_idx"   -> (() => { graft.operators.Similarity.ensureAnnIndex(spark, dir); () }),
        "build_gram_idx"  -> (() => { graft.operators.SubstringDedup.ensureGramIndex(spark, dir); () }),
        "build_cur_idx"   -> (() => { graft.operators.StandingIndex.ensureCurationBuilt(spark, dir); () }),
        "build_sem_idx"   -> (() => { graft.operators.Similarity.ensureSemDedupIndex(spark, dir); () }))
      // Round 18: the per-run prefix-rebuild forms (`dedup_incremental`,
      // `pipeline_curate_incremental`) now carry the mean-df saturation
      // guard IN-RUN (Dedup.incrementalNearCandidates) — on adversarial
      // corpora past the saturation decade they refuse by themselves,
      // recorded below like every other guard refusal, so the harness no
      // longer needs a vocabulary-mode special case (and a user calling
      // the operator directly is protected too).
      // A guard refusal (exact-baseline tripwire, mean-df statistic) is a
      // deliberate, instant, zero-job outcome at the over-scale corpora —
      // record it as `refused` instead of crashing the sweep, so the full
      // target list can ride a 3-dir run: the exact forms refuse sf10 BY
      // DESIGN (their guard specs pin the behavior) while their banded
      // twins measure. A d2-GATED family that refuses still fails the
      // gate below (missing from the step's results).
      def refusal(name: String, e: IllegalArgumentException): Option[Double] = {
        System.err.println(s"[scale] $dir: $name REFUSED: ${e.getMessage.take(160)}")
        None
      }
      val builds = buildFns.collect {
        case (name, fn) if want(name) =>
          try name -> Some(time(fn()))
          catch { case e: IllegalArgumentException => name -> refusal(name, e) }
      }
      // min-of-3 on the small corpora: sub-5 s denominators swung 2x
      // across quiet same-HEAD runs (dedup_incremental_banded sf0.1
      // 0.85-1.68 s, semantic_dedup_ivf sf1 11.04-23.73 s), forcing a
      // ceiling recalibration in two consecutive rounds — one extra pass
      // at the cheap dirs stabilizes every d1 denominator for a few
      // seconds of wall-clock; the expensive last dir keeps 2 passes
      val passCount = if (nDocs > 100000) 2 else 3
      val queries = targets.map { name =>
        val fn = SparkEntry.queries(name)
        var refused = false
        val obs = (1 to passCount).flatMap { i =>
          // a refusal is deterministic for the (corpus, code) pair —
          // don't pay its setup cost (the in-run guards materialize a
          // linear prefix index before refusing) once per pass
          if (refused) None
          else {
            // progress marker: when a run dies mid-corpus (OOM, disk-full
            // spill), stderr names the query that was executing
            System.err.println(s"[scale] $dir: $name pass $i")
            Some(try {
              val t = Some(time(fn(spark, dir).count()))
              spark.catalog.clearCache()
              Pins.releaseAll()
              t
            } catch { case e: IllegalArgumentException =>
              refused = true; refusal(name, e) })
          }
        }
        System.gc()
        name -> obs
      }
      // builds and queries join as ONE fragment list — a suffix-comma
      // scheme malformed the line when one side was empty
      val frags =
        builds.map {
          case (k, Some(v)) => s""""$k":${r2(v)}"""
          case (k, None)    => s""""$k":"refused""""
        } ++
        queries.map {
          case (k, os) if os.nonEmpty && os.forall(_.isDefined) =>
            val ts = os.flatten
            s""""$k":{"min":${r2(ts.min)},"passes":[${ts.map(r2).mkString(",")}]}"""
          case (k, _) => s""""$k":{"refused":true}"""
        }
      val json = (s""""dir":"$dir"""" +: s""""n_docs":$nDocs""" +: frags)
        .mkString("{", ",", "}")
      println(json)
      System.out.flush()
      results += ((dir, nDocs, queries.collect {
        case (k, os) if os.forall(_.isDefined) => k -> os.flatten.min
      }.toMap))
    }
    spark.stop()
    if (assertMode) {
      require(results.length >= 2, "--assert needs at least two corpora")
      require(results.length <= 3,
        "--assert gates at most two decade steps (ceilings are calibrated per step)")
      // each CONSECUTIVE pair is a gated ~10x step — so a regression in
      // the 100x regime (where round 16 found both scale cliffs) fails
      // the gate instead of waiting for a rehearsal. The decade is
      // inferred from the STEP'S OWN row count, not its position in the
      // dir list: a focused 2-dir `sf1 sf10` run must gate under the
      // second-decade map, not silently reuse the first-decade ceilings
      // (the corpora are ~5k/50k/500k docs; 25k splits the decades)
      var gatedTotal = 0
      val violations = (0 until results.length - 1).flatMap { step =>
          val (d0, n0, q0) = results(step)
          val (d1, n1, q1) = results(step + 1)
          val caps = if (n0 > 25000) ceilingsD2 else ceilings
          val dLabel = if (n0 > 25000) "d2" else "d1"
          val dataRatio = n1.toDouble / n0
          require(dataRatio >= 7 && dataRatio <= 13,
            f"--assert ceilings are calibrated for the ~10x step; got $d0 -> $d1 = $dataRatio%.1fx rows")
          // the decade maps are calibrated ONLY for the canonical
          // ~5k/50k/500k-doc corpora — a legitimate ~10x pair at another
          // scale (200k -> 2M, a future sf10 -> sf100) would pass the
          // ratio check but gate under ceilings never calibrated for it;
          // fail loudly instead (round 19, advisor)
          require(n1 <= (if (n0 > 25000) 1300000 else 130000),
            s"step $d0 -> $d1 ($n0 -> $n1 docs) is outside both calibrated " +
            "decade regimes (d1 ~5k->50k, d2 ~50k->500k docs): calibrate a " +
            "new ceiling map for this scale instead of gating under a stale one")
          // a family with a ceiling for THIS step that refused (or died)
          // at either end is a gate failure, not a silent skip — a
          // regression that turns a gated family into a refusal must not
          // pass the gate it used to be measured under
          val missing = targets.filter(t => caps.contains(t) &&
            !(q0.contains(t) && q1.contains(t)))
            .map(t => s"$dLabel $t is ceiling-gated but refused/absent at $d0 or $d1")
          val gated = targets.filter(t => caps.contains(t) &&
            q0.contains(t) && q1.contains(t))
          gatedTotal += gated.size
          missing ++ gated.flatMap { t =>
            val ratio = q1(t) / q0(t)
            val cap = caps(t)
            System.err.println(f"[scale-gate $dLabel] $t: ${q0(t)}%.2f s -> ${q1(t)}%.2f s " +
              f"= $ratio%.2fx at $dataRatio%.1fx data (ceiling ${cap}%.1fx)")
            // sub-second probes (ann_ivf_indexed is 0.25-1 s here) are
            // noise-dominated on a shared host: one 0.5 s hiccup doubles the
            // ratio with the code untouched (measured: the same HEAD gave
            // 1.9x quiet and 4.2x under residual load). A real complexity
            // regression cannot hide under the floor — quadratic at 10x data
            // costs tens of seconds — so the gate passes any family whose
            // ABSOLUTE last-dir cost stays under the floor, and says so.
            val absBound = AbsPinSec.get(t)
              .map(p => math.min(NoiseFloorSec, AbsPinFactor * p))
              .getOrElse(NoiseFloorSec)
            if (ratio > cap && q1(t) < absBound) {
              System.err.println(f"[scale-gate $dLabel] $t: ratio over ceiling but " +
                f"${q1(t)}%.2f s < $absBound%.1f s absolute bound " +
                "(noise floor ∧ pinned-baseline cap) — passed on absolute cost")
              None
            } else if (ratio > cap && q1(t) < NoiseFloorSec)
              Some(f"$dLabel $t grew $ratio%.2fx > ceiling ${cap}%.1fx AND its " +
                f"${q1(t)}%.2f s last-dir cost exceeds ${AbsPinFactor}x its " +
                f"pinned quiet baseline ($absBound%.1f s) — not noise")
            else if (ratio > cap)
              Some(f"$dLabel $t grew $ratio%.2fx > ceiling ${cap}%.1fx")
            else None
          }
      }
      require(gatedTotal > 0, "--assert selected no gated family — nothing pinned")
      if (violations.nonEmpty) {
        violations.foreach(v => System.err.println(s"[scale-gate] VIOLATION: $v"))
        sys.exit(1)
      }
      System.err.println(s"[scale-gate] OK: $gatedTotal family-steps within ceilings")
    }
  }
}
