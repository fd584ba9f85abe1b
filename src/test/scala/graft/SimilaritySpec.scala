package graft

import graft.operators.Similarity
import org.apache.spark.sql.functions._

class SimilaritySpec extends GraftSpec {
  import spark.implicits._

  test("cosine(v, v) = 1 within 1e-12") {
    val df = Seq((Array(1.0, 2.0, -3.0), Array(1.0, 2.0, -3.0))).toDF("a", "b")
    val c = df.select(Similarity.cosine(col("a"), col("b")).as("c"))
      .as[Double].head()
    assert(math.abs(c - 1.0) < 1e-12)
  }

  test("cosine of orthogonal vectors = 0") {
    val df = Seq((Array(1.0, 0.0), Array(0.0, 5.0))).toDF("a", "b")
    assert(math.abs(df.select(Similarity.cosine(col("a"), col("b"))).as[Double].head()) < 1e-12)
  }

  test("PQ top-k matches an independent pure-Scala ADC reference end-to-end") {
    // reference PQ: same codebook rule (vec_id < 16), same subspace split,
    // same strict-left-fold L2², same x1e9 fixed-point table — rebuilt
    // from scratch in local Scala so a bug in the Spark pipeline can't
    // hide behind an identical bug in itself
    val vecs = Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }; s
    }
    def sub(v: Array[Double], m: Int): Array[Double] = v.slice(m * 8, m * 8 + 8)
    def d2(a: Array[Double], b: Array[Double]): Double =
      dot(a, a) - 2.0 * dot(a, b) + dot(b, b)
    val cb = (0L until 16L).map(i => i -> vecs(i)).toMap
    def encode(v: Array[Double], m: Int): Long =
      cb.toSeq.map { case (c, cv) => (d2(sub(v, m), sub(cv, m)), c) }.minBy(identity)._2
    val queries = vecs.keys.filter(_ % 100 == 0).toSeq.sorted
    val expected = queries.flatMap { qid =>
      val qv = vecs(qid)
      val dt = (for (m <- 0 until 8; c <- 0L until 16L)
        yield (m, c) -> math.round(d2(sub(qv, m), sub(cb(c), m)) * 1e9)).toMap
      vecs.toSeq.filter(_._1 != qid)
        .map { case (vid, v) => (vid, (0 until 8).map(m => dt((m, encode(v, m)))).sum) }
        .sortBy { case (vid, d) => (d, vid) }.take(5).zipWithIndex
        .map { case ((vid, d), i) => (qid, vid, i + 1, d) }
    }.toSet
    val got = graft.operators.Similarity.pqTopK(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3))).toSet
    assert(got == expected,
      s"diff got-exp=${got -- expected}\nexp-got=${expected -- got}")
  }

  test("exact baselines refuse to run past the corpus-size tripwire") {
    // the O(n²) baselines exist as recall oracles for the ANN paths; a
    // config mistake must not quietly schedule them over a huge corpus
    val key = "spark.graft.exactBaseline.maxRows"
    spark.conf.set(key, "10")
    try {
      val ex = intercept[IllegalArgumentException] {
        Similarity.bruteForceTopK(spark, sf0001).collect()
      }
      assert(ex.getMessage.contains("ann_ivf_topk"), ex.getMessage)
      val ex2 = intercept[IllegalArgumentException] {
        Similarity.cosineNearDup(spark, sf0001).collect()
      }
      assert(ex2.getMessage.contains("emb_neardup_cosine_lsh"), ex2.getMessage)
      // round 16: the FIXED-bucket-universe generators saturate past the
      // first decade (sign-grid 2^8 cells, SRP 2^4 buckets — candidates
      // ~ n^2/cells; semantic_dedup measured a 45+ GB spill at 200k
      // vectors) — guarded by the same tripwire, naming the IVF path
      Seq[(String, () => Any)](
        ("semantic_dedup", () => Similarity.semanticDedup(spark, sf0001)),
        ("emb_neardup_signgrid", () => Similarity.cosineNearDupSignGrid(spark, sf0001)),
        ("emb_neardup_srp_md5", () => Similarity.cosineNearDupSrpMd5(spark, sf0001)),
        ("emb_neardup_cosine_lsh", () => Similarity.cosineNearDupLsh(spark, sf0001))
      ).foreach { case (name, mk) =>
        val ex = intercept[IllegalArgumentException](mk())
        assert(ex.getMessage.contains(name), s"$name: ${ex.getMessage}")
        assert(ex.getMessage.contains("ivf") || ex.getMessage.contains("IVF"),
          s"$name must name the IVF scale path: ${ex.getMessage}")
      }
    } finally spark.conf.unset(key)
    // and under the default bound the harness corpus runs fine
    assert(Similarity.bruteForceTopK(spark, sf0001).limit(1).count() == 1)
  }

  test("brute-force top-k: scores are within [-1,1], ranks contiguous per query") {
    val rows = Similarity.bruteForceTopK(spark, sf0001).collect()
    assert(rows.nonEmpty)
    val byQ = rows.groupBy(_.getLong(0))
    byQ.foreach { case (_, rs) =>
      assert(rs.map(_.getInt(2)).sorted.sameElements(1 to rs.length))
      rs.foreach(r => assert(math.abs(r.getDouble(3)) <= 1.000001))
    }
  }

  test("bounded-heap top-k aggregate is row-identical to the window variant") {
    val win = Similarity.bruteForceTopK(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSeq
    val heap = Similarity.heapTopK(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSeq
    assert(heap == win)
  }

  test("bucket census: xxhash and md5 planes both partition the whole corpus into 2^Planes buckets") {
    val total = Tables.embeddings(spark, sf0001).count()
    Seq(Similarity.bucketStats(spark, sf0001),
        Similarity.bucketStatsXx(spark, sf0001)).foreach { census =>
      val rows = census.collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(rows.map(_._2).sum == total, "census must conserve the corpus")
      assert(rows.forall { case (b, _) => b >= 0 && b < 16 }, "4 planes → bucket ids in [0,16)")
      assert(rows.map(_._1).distinct.length == rows.length, "one row per bucket")
    }
  }

  test("bucketed cosine near-dup is an exact subset of the O(n^2) query with bounded recall") {
    val exact = Similarity.cosineNearDup(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Similarity.cosineNearDupLsh(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "fixture should contain near-dup embedding pairs")
    assert(lsh.subsetOf(exact), "exact verification must kill all false positives")
    val recall = exact.intersect(lsh).size.toDouble / exact.size
    assert(recall >= 0.3, f"bucketed near-dup recall $recall%.2f below floor")
  }

  test("DTW expression: identity, band-0 = L2 on equal lengths, shift elasticity") {
    import graft.functions.DtwDistance.dtw
    val df = Seq((
      Array(1.0, 2.0, 3.0, 4.0),
      Array(1.0, 2.0, 3.0, 4.0),
      Array(0.0, 1.0, 2.0, 3.0))).toDF("a", "b", "shifted")
    val r = df.select(
      dtw(col("a"), col("b"), 3).as("self"),
      dtw(col("a"), col("b"), 0).as("l2band0"),
      dtw(col("a"), col("shifted"), 3).as("elastic"),
      dtw(col("a"), col("shifted"), 0).as("lockstep")).head
    assert(r.getDouble(0) == 0.0, "dtw(v, v) = 0")
    assert(r.getDouble(1) == 0.0, "band 0 on identical series = L2 = 0")
    // a one-step shift: lockstep (band 0) pays |1|^2 per step = sqrt(4);
    // elastic warping aligns the interior but BOTH endpoints stay
    // anchored at (1,1) and (n,m), each paying 1 -> sqrt(2)
    assert(math.abs(r.getDouble(3) - 2.0) < 1e-12, s"lockstep ${r.getDouble(3)}")
    assert(math.abs(r.getDouble(2) - math.sqrt(2.0)) < 1e-12, s"elastic ${r.getDouble(2)}")
  }

  test("DTW top-k matches an independent pure-Scala DP reference end-to-end") {
    def dtwRef(x: Array[Double], y: Array[Double], band: Int): Double = {
      val (n, m) = (x.length, y.length)
      val w = math.max(band, math.abs(n - m))
      val inf = Double.PositiveInfinity
      var prev = Array.fill(m + 1)(inf); var cur = Array.fill(m + 1)(inf)
      prev(0) = 0.0
      for (i <- 1 to n) {
        java.util.Arrays.fill(cur, inf)
        for (j <- math.max(1, i - w) to math.min(m, i + w)) {
          val d = x(i - 1) - y(j - 1)
          cur(j) = d * d + math.min(prev(j), math.min(cur(j - 1), prev(j - 1)))
        }
        val t = prev; prev = cur; cur = t
      }
      math.sqrt(prev(m))
    }
    val series = Similarity.dailySeries(spark, sf0001)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    val expected = series.keys.filter(_ % 100 == 0).toSeq.sorted.flatMap { q =>
      series.toSeq.filter(_._1 != q)
        .map { case (u, v) => (u, dtwRef(series(q), v, 3)) }
        .sortBy { case (u, d) => (d, u) }.take(3).zipWithIndex
        .map { case ((u, d), i) => (q, u, i + 1, math.rint(d * 1e6) / 1e6) }
    }.toSet
    val got = Similarity.tsDtwTopK(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSet
    assert(got == expected, s"got-exp=${got -- expected}\nexp-got=${expected -- got}")
  }

  test("time-series similarity: contiguous ranks, bounded non-increasing scores") {
    val rows = graft.operators.Similarity.tsSimilarity(spark, sf0001).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getLong(0)).foreach { case (q, rs) =>
      val sorted = rs.sortBy(_.getInt(2))
      assert(sorted.map(_.getInt(2)).sameElements(1 to rs.length), s"q=$q ranks")
      sorted.foreach(r => assert(math.abs(r.getDouble(3)) <= 1.000001))
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(a.getDouble(3) >= b.getDouble(3), s"q=$q order")
        case _ =>
      }
      assert(!rs.exists(_.getLong(1) == q), "self excluded")
    }
  }

  test("IVF-PQ top-k: recall within reach of plain IVF, results subset of probed lists") {
    val ivf = Similarity.ivfTopK(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivfpq = Similarity.ivfPqTopK(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ivfpq.nonEmpty)
    // same coarse probing: IVF-PQ can only lose vs IVF through the PQ
    // shortlist. The harness corpus is the adversarial case for PQ —
    // near-orthogonal random vectors give nearly-equal distances, so a
    // 16-codeword codebook discriminates weakly (measured ~0.32 here;
    // clustered real embeddings sit far higher, cf. the SRP-LSH recall
    // note). A RANDOM 20-of-~250 shortlist would score ~0.08, so the
    // floor is set at 2x chance: below that the ADC table or code
    // assignment is broken, not merely weak.
    val agree = ivf.intersect(ivfpq).size.toDouble / ivf.size
    assert(agree >= 0.16, f"IVF-PQ agreement with IVF $agree%.2f below 2x-chance floor")
    // exact re-rank: every reported score must equal the true cosine
    val e = Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var num = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { num += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      num / (math.sqrt(na) * math.sqrt(nb))
    }
    Similarity.ivfPqTopK(spark, sf0001).collect().foreach { r =>
      val expect = cos(e(r.getLong(0)), e(r.getLong(1)))
      assert(math.abs(r.getDouble(3) - expect) < 1e-5,
        s"re-ranked score must be the exact cosine: ${r.getDouble(3)} vs $expect")
    }
  }

  test("IVF top-k recall vs brute force >= 30% (nprobe=2 deterministic coarse lists)") {
    val brute = Similarity.bruteForceTopK(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.ivfTopK(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ivf.nonEmpty, "IVF result must not be empty")
    val recall = brute.intersect(ivf).size.toDouble / brute.size
    assert(recall >= 0.3, f"IVF recall $recall%.2f below floor")
  }

  test("k-means fit: deterministic, covers the corpus, inertia non-increasing in iterations") {
    val one = Similarity.kmeansFitIters(spark, sf0001, 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val three = Similarity.kmeansFitIters(spark, sf0001, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val threeAgain = Similarity.kmeansFitIters(spark, sf0001, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(three.nonEmpty && three.sameElements(threeAgain), "fit must be deterministic")
    val corpus = spark.read.parquet(s"$sf0001/embeddings.parquet").count()
    assert(three.map(_._2).sum == corpus, "every vector assigned exactly once")
    assert(three.map(_._3).sum <= one.map(_._3).sum + 1e-6,
      s"inertia increased: iters=3 ${three.map(_._3).sum} vs iters=1 ${one.map(_._3).sum}")
  }

  test("prototype pruning: per-cluster keep count is ceil(half), hardest example always kept") {
    val rows = Similarity.pruneGroupPrototypes(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3), r.getBoolean(4)))
    val corpus = spark.read.parquet(s"$sf0001/embeddings.parquet").count()
    assert(rows.length == corpus, "one verdict per vector, none dropped from the report")
    rows.groupBy(_._2).foreach { case (cId, members) =>
      val kept = members.filter(_._5)
      assert(kept.length == (members.length + 1) / 2,
        s"cluster $cId keeps ${kept.length} of ${members.length}")
      // SSL-prototypes keeps the HARD examples: the max-distance member
      // must be kept, the min-distance member dropped (clusters > 1)
      val byD = members.sortBy(m => (-m._3, m._1))
      assert(byD.head._5, s"cluster $cId hardest example was pruned")
      if (members.length > 1)
        assert(!byD.last._5, s"cluster $cId easiest example was kept")
    }
  }

  test("k-center coreset equals an independent greedy farthest-point reference") {
    val vecs = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .selectExpr("vec_id", "embedding")
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
      .sortBy(_._1)
    def d2(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      // the same expansion the operator computes: |a|² − 2a·b + |b|²
      var aa = 0.0; var ab = 0.0; var bb = 0.0
      while (i < a.length) { aa += a(i) * a(i); ab += a(i) * b(i); bb += b(i) * b(i); i += 1 }
      s = aa - 2.0 * ab + bb; s
    }
    var selected = Vector(vecs.head._1)
    val expect = scala.collection.mutable.ArrayBuffer[(Long, Long)]((1L, vecs.head._1))
    for (rank <- 2 to Similarity.KcenterK) {
      val selVecs = selected.map(id => vecs.find(_._1 == id).get._2)
      val cand = vecs.filterNot(v => selected.contains(v._1))
        .map { case (id, v) => (id, selVecs.map(sv => d2(v, sv)).min) }
      val pick = cand.minBy { case (id, dm) => (-dm, id) }
      selected :+= pick._1
      expect += ((rank.toLong, pick._1))
    }
    val got = Similarity.kcenterCoreset(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq == expect.toSeq,
      s"greedy trace diverged: got ${got.toSeq}, want ${expect.toSeq}")
  }

  test("MMR re-rank replays an independent greedy reference over the same pool") {
    val vecs = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .selectExpr("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var ab = 0.0; var aa = 0.0; var bb = 0.0; var i = 0
      while (i < a.length) { ab += a(i) * b(i); aa += a(i) * a(i); bb += b(i) * b(i); i += 1 }
      ab / (math.sqrt(aa) * math.sqrt(bb))
    }
    val lam = Similarity.MmrLambda
    val expect = scala.collection.mutable.ArrayBuffer[(Long, Long, Long)]()
    for (qId <- vecs.keys.filter(_ % 100 == 0).toSeq.sorted) {
      val pool = vecs.toSeq.filter(_._1 != qId)
        .map { case (id, v) => (id, cos(v, vecs(qId))) }
        .sortBy { case (id, rel) => (-rel, id) }.take(Similarity.MmrPool)
      var sel = Vector.empty[Long]
      for (r <- 1 to Similarity.MmrK) {
        val cand = pool.filterNot(p => sel.contains(p._1)).map { case (id, rel) =>
          val maxsim = if (sel.isEmpty) 0.0
            else sel.map(sid => cos(vecs(id), vecs(sid))).max
          (id, lam * rel - (1 - lam) * maxsim)
        }
        val pick = cand.minBy { case (id, m) => (-m, id) }
        sel :+= pick._1
        expect += ((qId, r.toLong, pick._1))
      }
    }
    val got = Similarity.mmrTopK(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == expect.toSeq,
      s"greedy trace diverged (first diff: ${got.zip(expect).find(p => p._1 != p._2)})")
  }

  test("md5-LSH search twin: recall vs brute force >= 30%, same envelope as the xxhash path") {
    val brute = Similarity.bruteForceTopK(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Similarity.lshMd5TopK(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.nonEmpty, "md5-LSH result must not be empty")
    val recall = brute.intersect(lsh).size.toDouble / brute.size
    assert(recall >= 0.3, f"md5-LSH recall $recall%.2f below floor")
  }

  test("LSH top-k recall vs brute force >= 30% (single-bit multi-probe, 8 planes)") {
    val brute = Similarity.bruteForceTopK(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Similarity.lshTopK(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.nonEmpty, "LSH result must not be empty")
    val recall = brute.intersect(lsh).size.toDouble / brute.size
    assert(recall >= 0.3, f"LSH recall $recall%.2f below floor")
  }

  test("md5-SRP near-dup twin: exact subset of O(n^2), matches the xxhash variant's shape") {
    val exact = Similarity.cosineNearDup(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val srp = Similarity.cosineNearDupSrpMd5(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(srp.nonEmpty, "md5-SRP must surface near-dup pairs on the fixture")
    assert(srp.subsetOf(exact), "exact verification must kill all false positives")
    // Rademacher planes are real SRP — the bucketing must retain a
    // meaningful share of the true pairs (multi-probe, 4 planes)
    assert(srp.size >= math.ceil(exact.size * 0.3).toInt,
      s"md5-SRP recall too low: ${srp.size}/${exact.size}")
  }

  test("sign-grid near-dup: exact subset of O(n^2), deterministic across runs") {
    val exact = Similarity.cosineNearDup(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def run() = Similarity.cosineNearDupSignGrid(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val first = run()
    assert(first.nonEmpty, "sign-grid must surface near-dup pairs on the fixture")
    assert(first.map(t => (t._1, t._2)).toSet.subsetOf(exact),
      "exact verification must kill all false positives")
    // determinism is the whole point vs the SRP variant: same rows, same
    // order, same scores on every run — this is what lets the query go
    // under the DuckDB hash gate instead of a rows-only check
    assert(run().sameElements(first), "sign-grid output must be deterministic")
  }

  test("semantic dedup: one representative per pair-component, all vectors covered") {
    val decisions = Similarity.semanticDedup(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    val rep = decisions.map(d => d._1 -> d._2).toMap
    val total = Tables.embeddings(spark, sf0001).count()
    assert(decisions.length == total, "every vector gets a decision row")
    // kept iff own representative; every cluster_rep is itself kept
    assert(decisions.forall { case (id, r, kept) => kept == (id == r) })
    assert(decisions.map(_._2).toSet.subsetOf(
      decisions.filter(_._3).map(_._1).toSet))
    // both ends of every sign-grid pair share a representative, and the
    // rep is <= both (min-label semantics)
    val pairs = Similarity.cosineNearDupSignGrid(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty)
    assert(pairs.forall { case (a, b) =>
      rep(a) == rep(b) && rep(a) <= a && rep(b) <= b })
    // something must actually be dropped on the fixture (planted near-dups)
    assert(decisions.count(!_._3) > 0)
  }

  test("semantic_dedup_ivf RUNS where the fixed-grid form refuses, with the same decision contract") {
    // the run-R discipline: the tripwire's named remedy must actually run
    // on a corpus the guarded form refuses — not just be named in prose
    val key = "spark.graft.exactBaseline.maxRows"
    spark.conf.set(key, "10")
    try {
      val ex = intercept[IllegalArgumentException] {
        Similarity.semanticDedup(spark, sf0001).collect()
      }
      assert(ex.getMessage.contains("semantic_dedup_ivf"), ex.getMessage)
      // the IVF-clustered remedy runs on the SAME refused corpus: its
      // candidate universe (kmeans cells) grows with the corpus, so it
      // carries no tripwire
      val decisions = Similarity.semanticDedupIvf(spark, sf0001)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
      val total = Tables.embeddings(spark, sf0001).count()
      assert(decisions.length == total, "every vector gets a decision row")
      assert(decisions.forall { case (id, r, kept) => kept == (id == r) })
      val keptSet = decisions.filter(_._3).map(_._1).toSet
      assert(decisions.map(_._2).toSet.subsetOf(keptSet),
        "every cluster_rep is itself kept")
      assert(decisions.forall { case (id, r, _) => r <= id },
        "min-label semantics: rep <= member")
      // the harness fixture plants near-dups → something must be dropped
      assert(decisions.count(!_._3) > 0)
    } finally spark.conf.unset(key)
  }

  test("sampled ANN recall runs past the exact-baseline tripwire with a fixed-size sample") {
    // ann_recall_report inherits the brute-force guard by design, so past
    // the tripwire index acceptance previously had no runnable form; the
    // sampled report's exact side is |sample|*n — linear — and must run
    // on a corpus the full report refuses
    val key = "spark.graft.exactBaseline.maxRows"
    spark.conf.set(key, "10")
    try {
      intercept[IllegalArgumentException](
        Similarity.annRecallReport(spark, sf0001).collect())
      val rows = Similarity.annRecallSampled(spark, sf0001).collect()
      assert(rows.length == 32, "content-stable fixed-size sample")
      rows.foreach { r =>
        assert(r.getLong(1) >= 0 && r.getLong(1) <= 5)
        assert(r.getDouble(2) >= 0.0 && r.getDouble(2) <= 1.0)
      }
      // the sample must hit SOME true neighbors (the IVF probe's measured
      // recall at this scale is well above zero)
      assert(rows.map(_.getLong(1)).sum > 0)
    } finally spark.conf.unset(key)
  }

  test("semantic_dedup_ivf pairs stage: within-cell pairs are a subset of exact cosine >= 0.4") {
    // every (a,b) collapsed into one component must be a genuine exact
    // near-dup pair (the kmeans cells only BLOCK; verification is exact),
    // so non-singleton components never link vectors below the threshold
    // unless transitively connected
    val exact = Similarity.cosineNearDup(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val decisions = Similarity.semanticDedupIvf(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val byRep = decisions.groupBy(_._2).values.filter(_.length > 1)
    // within each component, at least a spanning set of exact pairs must
    // exist: check every member participates in >= 1 exact pair with
    // another member of the same component
    byRep.foreach { comp =>
      val ids = comp.map(_._1).toSet
      ids.foreach { id =>
        assert(ids.exists(o => o != id &&
          (exact.contains((math.min(id, o), math.max(id, o))))),
          s"member $id of component ${comp.head._2} has no exact near-dup edge inside it")
      }
    }
  }

  test("int8 quantization: codes in range, quantization error within half a step") {
    val vecs = Tables.embeddings(spark, sf0001)
      .selectExpr("vec_id", "cast(embedding as array<double>) v")
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    val dims = vecs.values.head.length
    val scales = (0 until dims).map(d => vecs.values.map(v => math.abs(v(d))).max)
    val rows = Similarity.quantizeInt8(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getString(1).split(",").map(_.toInt), r.getLong(2)))
    assert(rows.length == vecs.size)
    rows.foreach { case (id, q, l2) =>
      assert(q.length == dims)
      assert(q.forall(c => c >= -127 && c <= 127), s"vec $id: code out of range")
      assert(l2 == q.map(c => c.toLong * c).sum, s"vec $id: l2 mismatch")
      val v = vecs(id)
      (0 until dims).foreach { d =>
        val step = scales(d) / 127.0
        assert(math.abs(v(d) - q(d) * step) <= step / 2 + 1e-9,
          s"vec $id dim $d: dequant error exceeds half a step")
      }
    }
  }

  test("standing IVF index probe: identical output to the per-query plan, lists read bucketed") {
    val perQuery = Similarity.ivfTopK(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
    val indexed = Similarity.ivfIndexedTopK(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
    assert(indexed.nonEmpty && indexed.sameElements(perQuery),
      "the standing index must serve exactly the per-query plan's answers")
    // the inverted lists (the corpus-sized side at scale) must be read
    // bucketed — a re-shuffle of the lists would defeat the index
    val threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val probe = Similarity.ivfIndexedTopK(spark, sf0001)
      probe.collect()
      val plan = probe.queryExecution.executedPlan.toString
      assert(plan.contains("Bucketed: true"), plan.take(1200))
      assert(!plan.contains("Bucketed: false"),
        plan.linesIterator.filter(_.contains("Bucketed: false")).mkString("\n"))
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
    }
  }

  test("IVF index append: probe over build(A)+append(B) equals a fresh index") {
    // maintenance path: new arrivals join their nearest FROZEN centroid's
    // list; a fresh rebuild over A∪B has the identical centroid set (B
    // deliberately contains no vec_id % 200 == 0), so the probes must be
    // byte-equal — and the arrivals must actually be findable
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    def vec() = Seq.fill(8)(rnd.nextInt(10).toDouble)
    val a = (Seq(0L, 200L, 400L) ++ (1L to 149L)).map(id => (id, vec()))
    val b = (301L to 330L).map(id => (id, vec()))
    def df(rows: Seq[(Long, Seq[Double])]) =
      rows.toDF("vec_id", "v")
    Similarity.buildAnnFor(df(a), "spec_annappend")
    Similarity.appendAnnFor(spark, "spec_annappend", df(b))
    Similarity.buildAnnFor(df(a ++ b), "spec_annfresh")
    val q = df(a.take(5) ++ b.take(5))
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    def probe(tag: String) = Similarity.ivfProbe(spark, tag, q)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
      .toSeq
    val appended = probe("spec_annappend")
    val fresh = probe("spec_annfresh")
    assert(appended.nonEmpty && appended == fresh,
      s"appended-index probe diverges from fresh rebuild: " +
        s"${appended.diff(fresh).take(3)} vs ${fresh.diff(appended).take(3)}")
    assert(appended.exists(_._2 >= 301L),
      "appended vectors must be findable as neighbors")
  }

  test("semantic decontamination equals an independent blocked reference, planted cases included") {
    import spark.implicits._
    // harness vectors + planted contamination: 9001 is a near-copy of
    // benchmark vector b0 (same cell), 9002 a noisy paraphrase one sign
    // flip away (multi-probe must find it), 9003 orthogonal (must NOT flag)
    val base = Tables.embeddings(spark, sf0001).collect().map { r =>
      val v = r.getSeq[Float](1).map(_.toDouble).toArray
      (r.getLong(0), v, r.getInt(2))
    }
    val b0 = base.find(_._3 == 0).get._2
    val nearCopy = b0.map(_ * 0.9) // same signs → same cell; cosine 1.0
    val flipped = b0.clone(); flipped(0) = -math.abs(flipped(0)) - 0.05
    val ortho = Array.tabulate(b0.length)(i => if (i % 2 == 0) 1.0 else -1.0)
    val all = base ++ Seq((9001L, nearCopy, 3), (9002L, flipped, 3), (9003L, ortho, 3))
    val vecs = all.toSeq.map { case (id, v, l) => (id, v.toSeq, l) }
      .toDF("vec_id", "v", "label")
    val got = Similarity.semanticDecontaminateFrom(vecs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got.exists(_._1 == 9001L), "planted near-copy must be flagged")
    assert(got.exists(_._1 == 9002L), "one-flip paraphrase must be found via multi-probe")
    assert(!got.exists(_._1 == 9003L), "orthogonal vector must not be flagged")
    def bucket(v: Array[Double]): Long =
      (0 until 8).map(d => if (v(d) >= 0) 1L << d else 0L).sum
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i) }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val bench = all.filter(_._3 == 0)
    val expected = all.filter(_._3 != 0).flatMap { case (id, v, _) =>
      val bkt = bucket(v)
      val hits = bench.filter { case (_, vb, _) =>
        java.lang.Long.bitCount(bkt ^ bucket(vb)) <= 1 }
        .map { case (bid, vb, _) => (bid, cos(v, vb)) }
        .filter(_._2 >= 0.4)
      if (hits.isEmpty) None
      else {
        val (bid, sc) = hits.minBy { case (b, s) => (-s, b) }
        Some((id, bid,
          BigDecimal(sc).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
      }
    }.sortBy(_._1).toSeq
    assert(got == expected,
      s"flagged set diverges: got=${got.take(4)} want=${expected.take(4)}")
  }

  test("IVF index delete: probe equals a fresh same-centroid index over the survivors") {
    // the forget path: deleted vectors leave the inverted lists (and stop
    // being retrievable) while centroids stay frozen — so a fresh rebuild
    // over the survivors with the identical centroid set must probe
    // byte-equal. Deleted ids are chosen from the densest neighborhoods
    // (low ids) so their absence is actually visible in top-k results.
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    def vec() = Seq.fill(8)(rnd.nextInt(10).toDouble)
    val all = (Seq(0L, 200L, 400L) ++ (1L to 179L)).map(id => (id, vec()))
    val delIds = (1L to 179L).filter(_ % 5 == 1)
    val survivors = all.filterNot(v => delIds.contains(v._1))
    def df(rows: Seq[(Long, Seq[Double])]) = rows.toDF("vec_id", "v")
    Similarity.buildAnnFor(df(all), "spec_anndel")
    Similarity.deleteAnnFor(spark, "spec_anndel", delIds.toDF("vec_id"))
    Similarity.buildAnnFor(df(survivors), "spec_anndelfresh")
    val q = df(survivors.take(8))
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    def probe(tag: String) = Similarity.ivfProbe(spark, tag, q)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
      .toSeq
    val deleted = probe("spec_anndel")
    val fresh = probe("spec_anndelfresh")
    assert(deleted.nonEmpty && deleted == fresh,
      s"deleted-from probe diverges from fresh survivor rebuild: " +
        s"${deleted.diff(fresh).take(3)} vs ${fresh.diff(deleted).take(3)}")
    assert(deleted.forall(r => !delIds.contains(r._2)),
      "a deleted vector resurfaced as a neighbor")
  }

  test("standing semantic-dedup index: planted stage semantics; append/delete equal a same-centroid rebuild") {
    // the day-2 semantic dedup (round 18): frozen centroids + bucketed
    // base lists, delta-sized per-run work. Axis-aligned vectors make
    // every cosine deterministic: same axis = exactly 1.0, cross axis
    // ~0.02 (never a candidate at t = 0.4), alternating-sign directions
    // ~0 against the all-positive base.
    import spark.implicits._
    def axisVec(axis: Int): Seq[Double] =
      Seq.tabulate(8)(i => if (i == axis) 10.0 else 0.1)
    val altVec: Seq[Double] = Seq.tabulate(8)(i => if (i % 2 == 0) 10.0 else -10.0)
    val alt2Vec: Seq[Double] = Seq.tabulate(8)(i => if (i % 4 < 2) 10.0 else -10.0)
    def df(rows: Seq[(Long, Seq[Double])]) = rows.toDF("vec_id", "v")
    val baseA = (Seq(0L, 200L, 400L) ++ (1L to 149L)).map(id => (id, axisVec((id % 8).toInt)))
    // stage semantics: 1001 copies base axis 1 (base hit -> lowest
    // same-axis base id = 1); 1002/1003 share a direction absent from the
    // base (delta CC -> component min 1002); 1004 is orthogonal to
    // everything (kept singleton)
    val delta = df(Seq(1001L -> axisVec(1), 1002L -> altVec,
                       1003L -> altVec, 1004L -> alt2Vec))
    Similarity.buildSemDedupFor(df(baseA), "spec_sem")
    def probe(tag: String) =
      Similarity.semanticDedupIvfIndexedFor(spark, tag, delta)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq
    val got = probe("spec_sem")
    assert(got == Seq((1001L, 1L, false), (1002L, 1002L, true),
                      (1003L, 1002L, false), (1004L, 1004L, true)), got)
    // append: arrivals on the 1002 direction join the standing side and
    // become findable reps; probe equals a fresh rebuild over A∪B (B has
    // no % 200 == 0 ids, so the fresh centroid set is identical)
    val baseB = (301L to 305L).map(id => (id, altVec))
    Similarity.appendSemDedupFor(spark, "spec_sem", df(baseB))
    Similarity.buildSemDedupFor(df(baseA ++ baseB), "spec_semfresh")
    val appended = probe("spec_sem")
    assert(appended == probe("spec_semfresh"),
      s"appended-index probe diverges from fresh rebuild: $appended")
    assert(appended.contains((1002L, 301L, false)),
      s"appended vectors must be findable as standing reps: $appended")
    // delete: the axis-1 twins 1 and 9 leave the lists (centroids stay
    // frozen); 1001's rep falls to the next-lowest axis-1 survivor, and
    // the probe equals a fresh same-centroid rebuild over the survivors
    Similarity.deleteSemDedupFor(spark, "spec_sem", Seq(1L, 9L, 301L, 302L,
      303L, 304L, 305L).toDF("vec_id"))
    Similarity.buildSemDedupFor(
      df(baseA.filterNot(v => Seq(1L, 9L).contains(v._1))), "spec_semdelfresh")
    val deleted = probe("spec_sem")
    assert(deleted == probe("spec_semdelfresh"),
      s"deleted-from probe diverges from fresh survivor rebuild: $deleted")
    assert(deleted.contains((1001L, 17L, false)),
      s"rep must fall to the next-lowest surviving twin: $deleted")
  }

  test("semantic_dedup_ivf_indexed reads the standing lists bucketed (no corpus reshuffle)") {
    // the 100 TB claim: per-run work is delta-sized — the bucketed sema
    // table must be read on its bucket key, never re-shuffled. The PLAN
    // variant is probed (the public form checkpoints the delta-sized
    // result, hiding the joins behind an ExistingRDD scan — the
    // StandingIndex plan-pin convention).
    val threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val tag = Similarity.ensureSemDedupIndex(spark, sf0001)
      val delta = Similarity.embeddings(spark, sf0001)
        .filter(col("vec_id") % 7 === 0).select(col("vec_id"), col("v"))
      val plan = graft.Pins.scope {
        val probe = Similarity.semanticDedupIvfIndexedPlan(spark, tag, delta)
        probe.collect()
        probe.queryExecution.executedPlan.toString
      }
      assert(plan.contains("Bucketed: true"), plan.take(1200))
      assert(!plan.contains("Bucketed: false"),
        plan.linesIterator.filter(_.contains("Bucketed: false")).mkString("\n"))
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
    }
  }

  test("semantic probe star-caps hot cells: a >MaxBucket duplicate clique still collapses to its min") {
    // the round-19 scale fix: the quantizer is FROZEN, so a
    // duplicate-heavy delta concentrates into few cells — the within-cell
    // pair stage must ride the star-capped candidate generator, not an
    // uncapped all-pairs join. 70 identical-direction delta vectors (> the
    // 64 cap) share one cell with no base twin: the star spokes around the
    // cell-min id (cosine exactly 1.0 on every spoke) must reconnect the
    // whole clique, so CC labels every member with the min — byte-equal to
    // what uncapped all-pairs would decide, at linear candidate cost.
    import spark.implicits._
    def axisVec(axis: Int): Seq[Double] =
      Seq.tabulate(8)(i => if (i == axis) 10.0 else 0.1)
    val altVec: Seq[Double] = Seq.tabulate(8)(i => if (i % 2 == 0) 10.0 else -10.0)
    def df(rows: Seq[(Long, Seq[Double])]) = rows.toDF("vec_id", "v")
    val base = (Seq(0L, 200L, 400L) ++ (1L to 149L)).map(id => (id, axisVec((id % 8).toInt)))
    Similarity.buildSemDedupFor(df(base), "spec_semstar")
    // clique on a direction absent from the base (alternating signs —
    // ~0 cosine against every all-positive base vector): no stage-1 hit,
    // all 70 land in one frozen cell and meet in stage 2
    val clique = (2001L to 2070L).map(id => (id, altVec))
    val got = Similarity.semanticDedupIvfIndexedFor(spark, "spec_semstar",
        df(clique :+ (3001L -> axisVec(3))))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq
    val expected = clique.map { case (id, _) =>
      (id, 2001L, id == 2001L) } :+ ((3001L, 3L, false))
    // 3001 copies base axis 3 → stage-1 hit on the lowest same-axis base
    // id (3); the clique collapses to 2001 via the star spokes
    assert(got.sortBy(_._1) == expected.sortBy(_._1),
      s"star-capped clique must fully collapse: ${got.filterNot(expected.contains).take(5)}")
  }

  test("semantic probe refuses a hot-cell index past the mass threshold and names the remedy; report flags it") {
    // the round-19 acceptance guard: a duplicate-saturated append stream
    // concentrates mass into one frozen cell; past the configured
    // threshold the probe must refuse (naming semantic_dedup_ivf and the
    // rebuild path) rather than schedule the hot-cell joins — and the
    // remedy must RUN on the same shape (run-R discipline).
    import spark.implicits._
    def axisVec(axis: Int): Seq[Double] =
      Seq.tabulate(8)(i => if (i == axis) 10.0 else 0.1)
    def df(rows: Seq[(Long, Seq[Double])]) = rows.toDF("vec_id", "v")
    // 40 base vectors on one axis → one cell holds all 40 (plus the
    // centroid rule's own id 0/200)
    val base = (Seq(0L, 200L) ++ (1L to 40L)).map(id => (id, axisVec(1)))
    Similarity.buildSemDedupFor(df(base), "spec_semhot")
    val delta = df(Seq(5001L -> axisVec(1)))
    val key = "spark.graft.semanticProbe.maxCellMass"
    try {
      spark.conf.set(key, "8")
      val ex = intercept[IllegalArgumentException] {
        Similarity.semanticDedupIvfIndexedFor(spark, "spec_semhot", delta)
      }
      assert(ex.getMessage.contains("semantic_dedup_ivf") &&
             ex.getMessage.contains("buildSemDedupFor") &&
             ex.getMessage.contains(key),
        s"refusal must name the remedies and the knob: ${ex.getMessage}")
    } finally spark.conf.unset(key)
    // default threshold: same probe runs (42 << 65536)
    val ok = Similarity.semanticDedupIvfIndexedFor(spark, "spec_semhot", delta)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq
    assert(ok == Seq((5001L, 0L, false)), ok.toString)
  }

  test("a malformed semantic-probe cell-mass threshold fails naming the key and the value") {
    import spark.implicits._
    val key = "spark.graft.semanticProbe.maxCellMass"
    spark.conf.set(key, "lots")
    try {
      val ex = intercept[IllegalArgumentException](Similarity.guardSemanticCellMass(
        spark, Seq(1L, 1L, 2L).toDF("c_id"), "spec_malformed", "spec"))
      assert(ex.getMessage.contains(key) && ex.getMessage.contains("'lots'"), ex.getMessage)
    } finally spark.conf.unset(key)
  }

  test("hard-negative mining matches an independent pure-Scala reference") {
    val rows = Similarity.hardNegatives(spark, sf0001).collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getLong(2), r.getDouble(3),
        r.getLong(4), r.getDouble(5))).toMap
    val all = Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), col("embedding").cast("array<double>"), col("label"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray, r.getInt(2)))
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val queries = all.filter(_._1 % 100 == 0)
    assert(queries.nonEmpty && rows.size == queries.length)
    queries.foreach { case (qid, qv, qlab) =>
      val others = all.filter(_._1 != qid)
      val negs = others.filter(_._3 != qlab)
        .map { case (id, v, _) => (id, cos(qv, v)) }
      val poss = others.filter(_._3 == qlab)
        .map { case (id, v, _) => (id, cos(qv, v)) }
      val expNeg = negs.minBy { case (id, s) => (-s, id) }
      val expPos = poss.minBy { case (id, s) => (s, id) }
      val (gotLab, negId, negCos, posId, posCos) = rows(qid)
      assert(gotLab == qlab)
      assert(negId == expNeg._1 && math.abs(negCos - expNeg._2) < 1e-5,
        s"q=$qid hard negative: got ($negId,$negCos) exp $expNeg")
      assert(posId == expPos._1 && math.abs(posCos - expPos._2) < 1e-5,
        s"q=$qid hardest positive: got ($posId,$posCos) exp $expPos")
    }
  }
}
