package graft

import graft.operators.Dedup

class DedupSpec extends GraftSpec {
  import spark.implicits._

  test("exact dedup keeps lowest doc_id per text and is idempotent") {
    val df = Seq(
      (1L, "a b c", "en", "s0", 5L),
      (2L, "a b c", "en", "s0", 5L),
      (3L, "x y z", "en", "s0", 5L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    df.createOrReplaceTempView("dedup_fixture")
    // run the same window-dedup logic the operator uses, on the fixture
    val out = spark.sql(
      """SELECT doc_id, n_copies FROM (
        |  SELECT doc_id, count(*) OVER (PARTITION BY text) AS n_copies,
        |         row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
        |  FROM dedup_fixture
        |) WHERE rn = 1""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    assert(out.sameElements(Array((1L, 2L), (3L, 1L))))
  }

  test("df-capped Jaccard is a subset of the uncapped query; equal where the cap doesn't bite") {
    val exact = Dedup.jaccardNearDup(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val capped = Dedup.jaccardNearDupDfCap(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(capped.subsetOf(exact),
      "cap only restricts candidate generation; scores are exact full-set Jaccard")
    // on the harness corpus no >=0.5 pair depends solely on stop-shingles,
    // so the capped output is identical (verified empirically; the oracle
    // pins the exact cap semantics at every SF)
    assert(capped == exact, s"lost pairs: ${exact.diff(capped)}")
  }

  test("prefix-filtered Jaccard is lossless: bit-identical to the all-shingle baseline") {
    // the PPJoin prefix filter's completeness guarantee, checked end to
    // end: every pair and every score must match the uncapped query
    val exact = Dedup.jaccardNearDup(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val pref = Dedup.jaccardPrefixNearDup(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(pref == exact,
      s"prefix-filter lost ${(exact -- pref).take(5)} / invented ${(pref -- exact).take(5)}")
    assert(exact.nonEmpty, "fixture corpus must contain near-dup pairs")
  }

  test("incremental dedup probe: exact rows are true twins, near rows score >= 0.5, one verdict per batch doc") {
    val docs = graft.Tables.documents(spark, sf0001)
      .select($"doc_id", $"text").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val out = Dedup.incrementalDedup(spark, sf0001).collect()
    assert(out.nonEmpty, "fixture corpus must contain planted duplicates")
    // the near probe (the hard half) must actually fire — exact-only
    // output would leave it silently untested. The exact branch has no
    // cross-split twins at sf0.001 (matches here are all near-dups); its
    // correctness is hash-gated by the DuckDB oracle at sf0.01/sf0.1.
    assert(out.exists(_.getString(2) == "near"), "near stage produced no rows")
    val ids = out.map(_.getLong(0))
    assert(ids.distinct.length == ids.length, "one verdict per batch doc")
    out.foreach { r =>
      val (bid, cid, kind, jac) = (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3))
      assert(bid % 7 == 0 && cid % 7 != 0, s"split sides crossed: $bid/$cid")
      if (kind == "exact") assert(docs(bid) == docs(cid), s"exact pair $bid/$cid texts differ")
      else assert(jac >= 0.5 && jac <= 1.0 && docs(bid) != docs(cid),
        s"near pair $bid/$cid jac=$jac")
    }
  }

  test("incremental near probe: prefix index prunes candidates losslessly") {
    import org.apache.spark.sql.functions._
    // the operator's two sides, rebuilt as incrementalDedup builds them
    val docs = graft.Tables.documents(spark, sf0001)
    val bArr = Dedup.shingleArrays(docs.filter(col("doc_id") % 7 === 0))
      .select(col("doc_id").as("batch_id"), col("sh"),
        size(col("sh")).cast("long").as("nb"))
    val cArr = Dedup.shingleArrays(docs.filter(col("doc_id") % 7 =!= 0))
      .select(col("doc_id").as("corpus_id"), col("sh"),
        size(col("sh")).cast("long").as("nc"))
    // full-index candidates: any shared shingle (the pre-round-7 probe)
    val full = bArr.select(col("batch_id"), explode(col("sh")).as("s"))
      .join(cArr.select(col("corpus_id"), explode(col("sh")).as("s")), "s")
      .select("batch_id", "corpus_id").distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val pref = graft.Pins.scope(Dedup.incrementalNearCandidates(bArr, cArr, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
    assert(pref.subsetOf(full), s"prefix invented pairs: ${(pref -- full).take(5)}")
    assert(pref.size < full.size,
      s"prefix index must prune the candidate space: $full vs $pref")
    info(s"candidate pairs: full-index=${full.size}, prefix-index=${pref.size} " +
      f"(${100.0 * (full.size - pref.size) / full.size}%.0f%% pruned)")
    // losslessness: every pair whose TRUE full-set Jaccard clears the
    // threshold must survive the filter (the PPJoin completeness lemma)
    val shapes = (bArr.collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSet) ++
      cArr.collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSet)).toMap
    val truePairs = full.filter { case (b, c) =>
      val (sb, sc) = (shapes(b), shapes(c))
      sb.intersect(sc).size.toDouble / sb.union(sc).size >= 0.5
    }
    assert(truePairs.nonEmpty, "fixture corpus must contain true near pairs")
    assert(truePairs.subsetOf(pref),
      s"prefix filter LOST true pairs: ${(truePairs -- pref).take(5)}")
  }

  test("positional filter keeps a pair at exactly the Jaccard threshold") {
    // r19 optimization: the candidate join applies the PPJoin positional
    // filter (ub = 1 + min(bn−pb−1, cn−pc−1) ≥ ⌈t(bn+cn)/(1+t)⌉). This
    // plants a pair at EXACTLY J = 0.5 whose only common prefix shingle
    // meets the bound with zero slack (ub = α = 2): shingle sets
    // {w1w2w3, w2w3w4, w3w4w5} vs {w1w2w3, w2w3w4, w3w4w6} — common 2,
    // union 4. An off-by-one in either side of the inequality drops it.
    import org.apache.spark.sql.functions._
    val batchDocs = Seq((70L, "w1 w2 w3 w4 w6")).toDF("doc_id", "text")
    val corpusDocs = Seq((1L, "w1 w2 w3 w4 w5"), (2L, "x1 x2 x3 x4"),
      (3L, "y1 y2 y3 y4")).toDF("doc_id", "text")
    val bArr = Dedup.shingleArrays(batchDocs).select(
      col("doc_id").as("batch_id"), col("sh"), size(col("sh")).cast("long").as("nb"))
    val cArr = Dedup.shingleArrays(corpusDocs).select(
      col("doc_id").as("corpus_id"), col("sh"), size(col("sh")).cast("long").as("nc"))
    val pairs = graft.Pins.scope(Dedup.incrementalNearCandidates(bArr, cArr, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
    assert(pairs.contains((70L, 1L)), s"J=0.5 boundary pair lost: $pairs")
  }

  test("connected components merge transitive chains and keep components separate") {
    // chain 1~2~3 (1~3 NOT a pair: transitivity must come from propagation),
    // separate pair 10~11, plus a star 20~{21,22}
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L), (20L, 22L))
      .toDF("a_id", "b_id")
    val out = graft.operators.Dedup.connectedComponents(pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toList
    assert(out == List((1L, 3L, "1,2,3"), (10L, 2L, "10,11"), (20L, 3L, "20,21,22")))
  }

  test("connected components converge on a 200-hop chain (pointer doubling, not one-hop)") {
    // a pure path graph 1-2-3-...-200: one-hop min-label propagation needs
    // 199 rounds, so the previous 50-round-capped loop exited silently
    // before fixpoint and emitted split clusters (ADVICE round 3). Pointer
    // doubling reaches fixpoint in O(log 200) ~ 8 rounds; the loop now
    // throws instead of returning if the cap is ever hit non-converged.
    // driverMaxEdges = 0 forces the DISTRIBUTED fixpoint (the r20 driver
    // union-find fast path would otherwise absorb a 199-edge fixture).
    val pairs = (1L until 200L).map(i => (i, i + 1)).toDF("a_id", "b_id")
    spark.conf.set("spark.graft.cc.driverMaxEdges", "0")
    try {
      val out = graft.operators.Dedup.connectedComponents(pairs)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toList
      assert(out == List((1L, 200L, (1L to 200L).mkString(","))))
    } finally spark.conf.unset("spark.graft.cc.driverMaxEdges")
  }

  test("CC driver union-find fast path equals the distributed fixpoint, label for label") {
    // r20 optimization: edge sets under spark.graft.cc.driverMaxEdges are
    // collapsed by a driver-side union-find (min-label semantics). The
    // label table must be IDENTICAL to the distributed pointer-doubling
    // loop's — pinned here on a mixed fixture (chain + triangle + pair +
    // star) and on the real sf0.001 near-dup pair set.
    def labelsOf(pairs: org.apache.spark.sql.DataFrame): List[(Long, Long)] =
      graft.operators.Dedup.ccLabels(pairs)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toList.sorted
    val fixture = ((1L until 50L).map(i => (i, i + 1)) ++          // chain
      Seq((100L, 101L), (101L, 102L), (100L, 102L)) ++             // triangle
      Seq((200L, 201L)) ++                                          // pair
      (301L to 310L).map(i => (300L, i))).toDF("a_id", "b_id")      // star
    val realPairs = graft.operators.Dedup
      .jaccardPairsFrom(graft.Tables.documents(spark, sf0001))
      .select("a_id", "b_id")
    val fast = (labelsOf(fixture), labelsOf(realPairs))
    spark.conf.set("spark.graft.cc.driverMaxEdges", "0")
    val slow =
      try (labelsOf(fixture), labelsOf(realPairs))
      finally spark.conf.unset("spark.graft.cc.driverMaxEdges")
    assert(fast._1 == slow._1, "fixture labels diverge between CC paths")
    assert(fast._2 == slow._2, "sf0.001 near-dup labels diverge between CC paths")
    assert(fast._1.nonEmpty && fast._2.nonEmpty)
  }

  test("ccLabels reads its pair input once: both edge directions come from one pass") {
    // a union of the two directions ran the pair plan twice; every caller
    // hands ccLabels a lazy plan, so a second read repeats the whole join
    import org.apache.spark.sql.functions.{col, udf}
    val reads = spark.sparkContext.longAccumulator("cc_pair_reads")
    val tick = udf { (x: Long) => reads.add(1); x }
    val n = 50L
    val pairs = spark.range(n)
      .select(tick(col("id") * 2).as("a_id"), (col("id") * 2 + 1).as("b_id"))
    val labels = Dedup.ccLabels(pairs).collect()
    assert(labels.length == 2 * n)
    assert(reads.value == n, s"the pair plan was evaluated ${reads.value / n.toDouble} times")
  }

  test("neardup_clusters' CC edge checkpoint carries no presentation sort") {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (f == "localCheckpoint" && qe.analyzed.output.map(_.name) == Seq("src", "dst"))
          plans.add(qe.executedPlan.toString)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try Pins.scope(Dedup.nearDupClusters(spark, sf0001).collect())
    finally {
      Thread.sleep(1000) // the listener bus is async
      spark.listenerManager.unregister(listener)
    }
    import scala.jdk.CollectionConverters._
    val edgePlans = plans.asScala.toSeq
    assert(edgePlans.nonEmpty, "no CC edge checkpoint was seen")
    val globalSort = """Sort \[.*\], true""".r
    edgePlans.foreach { p =>
      assert(!p.contains("rangepartitioning") && globalSort.findFirstIn(p).isEmpty,
        s"edge checkpoint plan sorts its pairs:\n$p")
    }
  }

  test("pair-source contract: banded pairs are a subset of exact pairs with equal jac") {
    val docs = graft.Tables.documents(spark, sf0001)
    def pairsOf(src: Dedup.PairSource, t: Double): Map[(Long, Long), Double] =
      src(docs, t).collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    for (t <- Seq(0.5, 0.7)) Pins.scope {
      val exact = pairsOf(Dedup.jaccardPairsFrom, t)
      val banded = pairsOf(Dedup.bandedPairsFrom, t)
      assert(banded.nonEmpty, s"t=$t: no banded pairs on the harness corpus")
      assert(banded.forall { case (k, j) => k._1 < k._2 && j >= t && exact.get(k).contains(j) },
        s"t=$t: banded pairs outside the exact set: " +
        banded.filterNot { case (k, j) => exact.get(k).contains(j) }.take(3))
    }
  }

  test("oversized buckets emit star candidates that keep giant clusters fully connected") {
    // a true near-dup cluster larger than MaxBucket(=64) lands in the same
    // oversized bucket in EVERY band — dropping the bucket would lose the
    // cluster deterministically. The star fallback must instead link every
    // member to the bucket's min doc_id, linear in bucket size.
    val big = (1L to 70L).map(id => (id, 0, 7L))        // one 70-member bucket
    val small = Seq((100L, 1, 9L), (101L, 1, 9L), (102L, 1, 9L)) // 3-member bucket
    val lone = Seq((200L, 2, 5L))                        // singleton: no pairs
    val rows = (big ++ small ++ lone).toDF("doc_id", "k1", "k2")
    val cand = Dedup.bucketCandidates(rows, "k1", "k2")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val star = (2L to 70L).map((1L, _)).toSet
    val allPairs = Set((100L, 101L), (100L, 102L), (101L, 102L))
    assert(cand == star ++ allPairs,
      s"expected 69 star + 3 all-pairs candidates, got ${cand.size}")
    // the star output alone reconnects the whole cluster downstream
    val cc = Dedup.connectedComponents(
        cand.toSeq.filter(_._1 <= 70L).toDF("a_id", "b_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(cc.sameElements(Array((1L, 70L))),
      "connected components over star pairs must recover the full cluster")
  }

  test("row-local band signatures equal the explode + wide-min-aggregate reference") {
    // r20 optimization: mdBandRows / xxhashBandBuckets compute the k
    // minhashes per row (array_min over transform) instead of explode +
    // k wide min aggregates. min commutes over the identical per-shingle
    // hash values, so the (doc_id, band, bucket) row set must be
    // IDENTICAL — the md5 bucket strings are the oracle-pinned
    // cross-engine contract. This pins the row-local form against an
    // inline explode+agg reference (the pre-r20 shape) on the real sf0.001
    // corpus, both hash families.
    import org.apache.spark.sql.functions._
    val arr = Dedup.shingleArrays(graft.Tables.documents(spark, sf0001)).cache()
    val k = Dedup.NumHashes
    // md5 family reference: explode + wide min aggregate, then the same
    // band/bucket assembly as mdBandRows
    val md5Mins = (0 until k).map { i =>
      min(conv(substring(md5(concat(col("s"), lit(s"#$i"))), 1, 15), 16, 10)
        .cast("long")).as(s"mh$i")
    }
    val md5SigRef = arr.select(col("doc_id"), explode(col("sh")).as("s"))
      .groupBy("doc_id").agg(md5Mins.head, md5Mins.tail: _*)
    val md5Ref = md5SigRef.select(col("doc_id"),
        explode(array((0 until k / Dedup.BandRows).map { b =>
          struct(lit(b).as("band"),
            concat_ws(",", (0 until Dedup.BandRows)
              .map(r => col(s"mh${b * Dedup.BandRows + r}").cast("string")): _*)
              .as("bucket"))
        }: _*)).as("bb"))
      .select(col("doc_id"), col("bb.band"), col("bb.bucket"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    val md5Now = Dedup.mdBandRows(arr)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    assert(md5Now == md5Ref,
      s"md5 band rows diverge from the explode+agg reference: " +
      s"${md5Now.diff(md5Ref).take(3)} vs ${md5Ref.diff(md5Now).take(3)}")
    // xxhash64 family: same check on the production hash
    val xxMins = (0 until k).map(i => min(xxhash64(lit(i), col("s"))).as(s"mh$i"))
    val xxSigRef = arr.select(col("doc_id"), explode(col("sh")).as("s"))
      .groupBy("doc_id").agg(xxMins.head, xxMins.tail: _*)
    val xxRef = xxSigRef.select(col("doc_id"),
        explode(array((0 until k / Dedup.BandRows).map { b =>
          struct(lit(b).as("band"),
            xxhash64((lit(b) +: (0 until Dedup.BandRows)
              .map(r => col(s"mh${b * Dedup.BandRows + r}"))): _*).as("bucket"))
        }: _*)).as("bb"))
      .select(col("doc_id"), col("bb.band"), col("bb.bucket"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val xxNow = Dedup.xxhashBandBuckets(arr)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(xxNow == xxRef,
      s"xxhash band rows diverge from the explode+agg reference: " +
      s"${xxNow.diff(xxRef).take(3)} vs ${xxRef.diff(xxNow).take(3)}")
    arr.unpersist()
  }

  test("single-key bucketCandidates (winnow path) caps hot fingerprints with the same star") {
    // the winnow fingerprint join routes through the single-key overload; a
    // viral boilerplate fingerprint shared by >MaxBucket docs must produce
    // linear star spokes, not a quadratic self-join
    val hot = (1L to 80L).map(id => (id, 42L))           // 80-doc fingerprint
    val pair = Seq((100L, 7L), (101L, 7L))               // normal 2-doc bucket
    val rows = (hot ++ pair).toDF("doc_id", "fp")
    val cand = Dedup.bucketCandidates(rows, "fp")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val star = (2L to 80L).map((1L, _)).toSet
    assert(cand == star + ((100L, 101L)),
      s"expected 79 star spokes + 1 pair, got ${cand.size}")
  }

  test("bloom prefilter: zero false negatives, bounded FPR, and the native bloom sketch agrees") {
    val rows = Dedup.bloomPrefilter(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getBoolean(1), r.getBoolean(2)))
    assert(rows.nonEmpty)
    // the one property Bloom guarantees: every true dup is flagged maybe
    rows.foreach { case (id, maybe, isDup) =>
      assert(!isDup || maybe, s"false negative on doc $id")
    }
    // the filter must actually filter: at sf0.001's ~3% fill the FPR is
    // ~1e-6, so the maybe set should all but equal the true-dup set
    val fp = rows.count { case (_, m, d) => m && !d }
    assert(fp <= math.max(1, rows.length / 20), s"FPR too high: $fp/${rows.length}")
    // the production hot path — Spark's native bloom sketch
    // (DataFrameStatFunctions.bloomFilter) — agrees on no-false-negatives
    // over the same corpus/batch split
    import org.apache.spark.sql.functions._
    val docs = graft.Tables.documents(spark, sf0001)
    val bf = docs.filter(col("doc_id") % 7 =!= 0)
      .stat.bloomFilter("text", 5000L, Dedup.BloomBits.toLong)
    val probes = docs.filter(col("doc_id") % 7 === 0)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> bf.mightContainString(r.getString(1))).toMap
    rows.foreach { case (id, _, isDup) =>
      assert(!isDup || probes(id), s"native bloom false negative on doc $id")
    }
  }

  test("MinHash-LSH candidates, exact-verified, recover >=80% of true Jaccard pairs") {
    val exact = Dedup.jaccardNearDup(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minhashLsh(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "fixture should contain planted near-dups")
    assert(lsh.subsetOf(exact), "verification must kill all false positives")
    assert(lsh.size >= math.ceil(exact.size * 0.8).toInt,
      s"recall too low: ${lsh.size}/${exact.size}")
  }

  test("md5-minhash derives the exact 60-bit value DuckDB's formula yields") {
    // conv(substring(md5(s),1,15),16,10) in Spark must equal
    // ('0x' || substring(md5(s),1,15))::BIGINT in DuckDB — the constant
    // below was computed IN DuckDB for 'the quick#3'; any drift in either
    // engine's md5/hex handling breaks the neardup_minhash_md5 oracle gate
    import org.apache.spark.sql.functions._
    val v = Seq("the quick#3").toDF("s")
      .select(conv(substring(md5(col("s")), 1, 15), 16, 10).cast("long"))
      .head().getLong(0)
    assert(v == 148890231742269918L)
  }

  test("md5-minhash LSH matches the xxhash64 variant's guarantees") {
    val exact = Dedup.jaccardNearDup(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minhashMd5(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(exact), "verification must kill all false positives")
    // measured 28/28 on the fixed corpus; assert the generic LSH bound so
    // a testdata regeneration with different planted pairs still passes
    assert(lsh.size >= math.ceil(exact.size * 0.8).toInt,
      s"recall too low: ${lsh.size}/${exact.size}")
  }

  test("winnowing: exact-verified subset with full recall on the planted near-dups") {
    val exact = Dedup.jaccardNearDup(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val win = Dedup.winnowNearDup(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(win.subsetOf(exact), "verification must kill all false positives")
    // winnowing guarantees a shared fingerprint for any shared run of
    // w+k-1 = 6 tokens; the planted J>=0.5 near-dups share far longer
    // runs, so recall on this corpus must be total
    assert(win == exact, s"missed pairs: ${exact.diff(win)}")
  }

  test("md5-SimHash twin matches the xxhash variant's blocking guarantees") {
    val exact = Dedup.jaccardNearDup(spark, sf0001)
      .filter("jac >= 0.8").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sim = Dedup.simhashMd5(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // same generic bound as the xxhash form: high-similarity planted pairs
    // have near-equal fingerprints under ANY decent hash, and the 8-block
    // pigeonhole must surface them
    assert(exact.intersect(sim).size >= math.ceil(exact.size * 0.8).toInt,
      s"md5 simhash missed planted pairs: found ${exact.intersect(sim).size}/${exact.size}")
  }

  test("SimHash blocking finds the high-similarity planted pairs") {
    val exact = Dedup.jaccardNearDup(spark, sf0001)
      .filter("jac >= 0.8").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sim = Dedup.simhashNearDup(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.intersect(sim).size >= math.ceil(exact.size * 0.8).toInt,
      s"simhash missed planted pairs: found ${exact.intersect(sim).size}/${exact.size}")
  }

  test("canonical selection keeps each cluster's best-ttr member") {
    val canon = Dedup.nearDupCanonical(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    val clusters = Dedup.nearDupClusters(spark, sf0001).collect()
      .map(r => r.getLong(0) -> r.getString(2).split(",").map(_.toLong).toSet).toMap
    assert(canon.map(_._1).toSet == clusters.keySet, "one canonical row per cluster")
    val t = org.apache.spark.sql.functions.split(
      org.apache.spark.sql.functions.col("text"), " ")
    val ttr = Tables.documents(spark, sf0001)
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.round(
          org.apache.spark.sql.functions.size(
            org.apache.spark.sql.functions.array_distinct(t)).cast("double") /
          org.apache.spark.sql.functions.size(t), 6).as("ttr"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    canon.foreach { case (rep, keeper, score, discarded) =>
      val members = clusters(rep)
      assert(members.contains(keeper))
      assert(discarded == members.size - 1)
      val best = members.toSeq.map(m => (-ttr(m), m)).min
      assert(keeper == best._2 && math.abs(score - ttr(keeper)) < 1e-9,
        s"cluster $rep: keeper $keeper is not the best-ttr member ${best._2}")
    }
  }

  test("entity resolution co-clusters every signal's pairs; reps are minima") {
    val ents = Dedup.entityResolution(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2).split(",").map(_.toLong).toSet))
    val memberOf = ents.flatMap { case (rep, _, ms) => ms.map(_ -> rep) }.toMap
    // disjoint clusters, rep = min member, size = member count
    assert(memberOf.size == ents.map(_._3.size).sum, "entities overlap")
    ents.foreach { case (rep, size, ms) =>
      assert(ms.min == rep && ms.size == size)
    }
    // every signal pair lands in one entity
    val exact = Tables.documents(spark, sf0001)
      .select("doc_id", "text").collect().map(r => (r.getLong(0), r.getString(1)))
      .groupBy(_._2).values.filter(_.length > 1)
      .flatMap(g => g.map(_._1).sorted.sliding(2).map(p => (p(0), p(1)))).toSeq
    val near = Dedup.jaccardNearDup(spark, sf0001)
      .filter("jac >= 0.7").collect().map(r => (r.getLong(0), r.getLong(1)))
    val media = graft.operators.Multimodal.imageNearDup(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val allPairs = exact ++ near ++ media
    assert(allPairs.nonEmpty, "fixture must contain at least one signal pair")
    allPairs.foreach { case (a, b) =>
      assert(memberOf.get(a) == memberOf.get(b) && memberOf.contains(a),
        s"signal pair ($a,$b) split across entities")
    }
  }

  test("LSH-banded entity resolution: a subset of exact ER's edges, equal when recall holds") {
    // the twin's near signal is band-candidates → exact verify: its edge
    // set is a SUBSET of exact ER's (verify threshold identical; banding
    // only drops candidates), so every LSH entity must sit inside one
    // exact entity — and on the harness corpus, where the planted
    // near-dups share most shingles (J ≥ 0.7 pairs are caught by 8×2
    // banding w.p. ~99.5%), the partitions are identical
    val exact = Dedup.entityResolution(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getString(2).split(",").map(_.toLong).toSet))
    val lsh = Dedup.entityResolutionLsh(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getString(2).split(",").map(_.toLong).toSet))
    val exactOf = exact.flatMap { case (rep, ms) => ms.map(_ -> rep) }.toMap
    lsh.foreach { case (rep, ms) =>
      val hosts = ms.map(exactOf.get).toSet
      assert(hosts.size == 1 && hosts.head.isDefined,
        s"LSH entity $rep spans exact entities: $hosts")
    }
    assert(exact.toSet == lsh.toSet,
      "banding missed a qualifying pair on the harness corpus — " +
        "expected identical partitions at this scale")
  }

  test("minhash recall report reconciles with the standalone pair queries") {
    val r = Dedup.minhashRecall(spark, sf0001).head()
    val (nExact, nCand, tp) = (r.getLong(0), r.getLong(1), r.getLong(2))
    assert(tp <= nExact && tp <= nCand, "true candidates bound both margins")
    val exact = Dedup.jaccardNearDup(spark, sf0001).count()
    assert(nExact == exact, s"exact margin $nExact != neardup_jaccard $exact")
    // every VERIFIED md5-minhash pair is a true candidate by construction
    val verified = Dedup.minhashMd5(spark, sf0001).count()
    assert(verified == tp,
      s"verified pairs $verified must equal true candidates $tp (verify only filters)")
    assert(r.getDouble(3) >= 0.5, s"candidate recall ${r.getDouble(3)} collapsed")
  }

  test("threshold sweep is monotone and its t=50 row equals the 0.5 query") {
    val rows = Dedup.thresholdSweep(spark, sf0001).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq
    assert(rows.map(_._1) == Seq(30, 40, 50, 60, 70, 80, 90))
    rows.sliding(2).foreach { case Seq((_, p1, d1), (t2, p2, d2)) =>
      assert(p2 <= p1 && d2 <= d1, s"sweep not monotone at t=$t2")
    }
    val at50 = rows.find(_._1 == 50).get
    val exact = Dedup.jaccardNearDup(spark, sf0001).collect()
    assert(at50._2 == exact.length.toLong,
      s"t=50 pair count ${at50._2} != neardup_jaccard ${exact.length}")
    val docs = exact.flatMap(r => Seq(r.getLong(0), r.getLong(1))).distinct.length
    assert(at50._3 == docs.toLong)
  }

  test("exact Σ df² near-dup family refuses past the corpus tripwire, naming the banded path") {
    val key = "spark.graft.exactBaseline.maxRows"
    spark.conf.set(key, "10")
    try {
      Seq[(String, () => Any)](
        ("neardup_jaccard", () => Dedup.jaccardNearDup(spark, sf0001)),
        ("neardup_threshold_sweep", () => Dedup.thresholdSweep(spark, sf0001)),
        ("neardup_clusters", () => Dedup.nearDupClusters(spark, sf0001)),
        ("neardup_canonical", () => Dedup.nearDupCanonical(spark, sf0001)),
        ("entity_resolution", () => Dedup.entityResolution(spark, sf0001))
      ).foreach { case (name, mk) =>
        val ex = intercept[IllegalArgumentException](mk())
        assert(ex.getMessage.contains(name), s"$name: ${ex.getMessage}")
        assert(ex.getMessage.contains("minhash_md5") ||
               ex.getMessage.contains("_lsh"),
          s"$name must name its banded alternative: ${ex.getMessage}")
      }
      // the banded family stays runnable under the same tightened bound
      assert(Dedup.minhashMd5(spark, sf0001).count() > 0)
    } finally spark.conf.unset(key)
    // default bound: the harness corpus runs
    assert(Dedup.jaccardNearDup(spark, sf0001).limit(1).count() == 1)
  }

  test("per-run prefix-rebuild forms refuse a saturated vocabulary IN-RUN, naming a banded remedy that runs") {
    // run U killed the first 3-dir harness sweep at 28 GB disk and
    // climbing: the per-run rebuild forms compute their dfreq in-run, so
    // no standing-index footer guard saw them. They now compute the SAME
    // saturation statistic (corpus-side prefix rows / distinct shingles)
    // from their own materialized frames BEFORE the candidate join, and
    // refuse over the shared threshold naming the banded standing twin —
    // which must RUN at the refused shape (the run-R discipline)
    import graft.operators.{Pipeline, StandingIndex}
    val key = "spark.graft.prefixProbe.maxMeanDf"
    spark.conf.set(key, "0.1") // sf0.001's in-run mean is well above this
    try {
      val e1 = intercept[IllegalArgumentException](
        Dedup.incrementalDedup(spark, sf0001))
      assert(e1.getMessage.contains("dedup_incremental_banded"), e1.getMessage)
      assert(e1.getMessage.contains("computed in-run"), e1.getMessage)
      assert(StandingIndex.incrementalDedupBanded(spark, sf0001).count() > 0)
      val e2 = intercept[IllegalArgumentException](
        Pipeline.curateIncremental(spark, sf0001))
      assert(e2.getMessage.contains("pipeline_curate_incremental_banded"),
        e2.getMessage)
      assert(StandingIndex.curateIncrementalBanded(spark, sf0001).count() > 0)
    } finally spark.conf.unset(key)
    // under the default bound both per-run oracle twins run
    assert(Dedup.incrementalDedup(spark, sf0001).count() > 0)
    assert(Pipeline.curateIncremental(spark, sf0001).count() > 0)
  }
}
