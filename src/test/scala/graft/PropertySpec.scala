package graft

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.apache.spark.sql.functions._
import graft.operators.Dedup

/** Property-based invariants (SURVEY.md §5.3) — randomized inputs through
  * the REAL Spark expressions/aggregates, not reimplementations. Uses
  * scalacheck Gens with fixed seeds sampled in-loop (the scalatestplus
  * bridge artifact is not in the offline cache). */
class PropertySpec extends GraftSpec {
  import spark.implicits._

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(42L + i)))

  test("TopKByScore == sort-take for random score/id sets") {
    val gen = Gen.listOfN(40, Gen.zip(Gen.chooseNum(-100.0, 100.0), Gen.chooseNum(0L, 30L)))
    samples(gen, 8).foreach { pairs =>
      val df = pairs.toDF("score", "id")
      val viaAgg = df.agg(graft.functions.TopKAggregate.topK(col("score"), col("id"), 5).as("t"))
        .select(explode(col("t")).as("e"))
        .select(col("e.id"), col("e.score"))
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val expected = pairs.map { case (s, i) => (i, s) }
        .sortBy { case (i, s) => (-s, i) }.take(5)
      assert(viaAgg == expected, s"input: $pairs")
    }
  }

  test("star edges give the same components as quadratic same-content pairing") {
    // the entity_resolution scale claim: replacing each exact-content
    // group's |g|²/2 pairs with |g|-1 star edges (group-min → member)
    // changes nothing about the connected components
    val gen = Gen.chooseNum(5, 25).flatMap(n =>
      Gen.listOfN(n, Gen.chooseNum(0, 6)))  // few content classes → big groups
    samples(gen, 6).foreach { contents =>
      val docs = contents.zipWithIndex.map { case (c, i) => (i.toLong, c) }
      val groups = docs.groupBy(_._2).values.filter(_.length > 1).toSeq
      val starPairs = groups.flatMap { g =>
        val ids = g.map(_._1); val m = ids.min
        ids.filter(_ != m).map(b => (m, b))
      }
      val fullPairs = groups.flatMap { g =>
        val ids = g.map(_._1).sorted
        for (i <- ids.indices; j <- i + 1 until ids.length) yield (ids(i), ids(j))
      }
      if (starPairs.nonEmpty) {
        def labelsOf(pairs: Seq[(Long, Long)]) =
          Dedup.ccLabels(pairs.toDF("a_id", "b_id")).collect()
            .map(r => (r.getLong(0), r.getLong(1))).toSet
        assert(labelsOf(starPairs) == labelsOf(fullPairs),
          s"star-edge CC diverges from full pairing on $docs")
      }
    }
  }

  test("aHash through the decode path == a pure-Scala block-mean reference on random texts") {
    import graft.operators.Multimodal
    val alpha = Gen.oneOf(('a' to 'z') ++ Seq(' ', ' '))
    val gen = Gen.chooseNum(2, 12).flatMap(n => Gen.listOfN(n,
      Gen.chooseNum(40, 200).flatMap(len => Gen.listOfN(len, alpha).map(_.mkString))))
    samples(gen, 6).foreach { texts =>
      // ids in the image classes only (% 3 != 1); both BMP (0) and PPM (2)
      val docs = texts.zipWithIndex.map { case (t, i) =>
        (i.toLong * 3 + (if (i % 2 == 0) 0L else 2L), t) }
      val got = Multimodal.imageHashesOf(docs.toDF("doc_id", "text"))
        .collect().map(r => r.getLong(0) -> (r.getLong(3), r.getLong(4))).toMap
      docs.foreach { case (id, text) =>
        val xs = text.getBytes("UTF-8").map(_ & 0xff)
        val n = xs.length; val total = xs.map(_.toLong).sum
        val bs = new Array[Long](64); val bl = new Array[Long](64)
        xs.zipWithIndex.foreach { case (v, i) =>
          val b = ((i.toLong * 64) / n).toInt; bs(b) += v; bl(b) += 1 }
        var lo = 0L; var hi = 0L
        (0 until 64).foreach { b =>
          if (bl(b) > 0 && bs(b) * n >= total * bl(b)) {
            if (b < 32) lo |= 1L << b else hi |= 1L << (b - 32) } }
        assert(got(id) == (lo, hi),
          s"id=$id: decode-path hash ${got(id)} != reference ($lo, $hi)")
      }
    }
  }

  test("water-fill allocation == an independent reference on random supply vectors") {
    import graft.operators.Curation
    val gen = Gen.chooseNum(2, 12).flatMap(n =>
      Gen.listOfN(n, Gen.chooseNum(1L, 500L)))
    samples(gen, 8).foreach { supplies =>
      val named = supplies.zipWithIndex.map { case (sp, i) => (f"s$i%02d", sp) }
      val got = Curation.waterfillOf(named.toDF("source", "supply"))
        .collect().map(r => (r.getString(0), r.getLong(2))).toMap
      // independent reference: raise the integer waterline until the next
      // step would overshoot, then hand out the remainder alphabetically
      val budget = supplies.sum * 6 / 10
      val exp = {
        var line = 0L
        def allocAt(l: Long) = named.map { case (_, sp) => math.min(sp, l) }.sum
        while (allocAt(line + 1) <= budget) line += 1
        val base = named.map { case (n, sp) => n -> math.min(sp, line) }.toMap
        var left = budget - base.values.sum
        val un = named.filter(_._2 > line).map(_._1).sorted
        base ++ un.take(left.toInt).map(n => n -> (base(n) + 1))
      }
      assert(got == exp,
        s"supplies=$named budget=$budget got=$got exp=$exp")
    }
  }

  test("substring spans == an independent anchor/diagonal reference on random tiny-alphabet corpora") {
    import graft.operators.SubstringDedup
    val (k, cap, minSpan) = (SubstringDedup.GramK, SubstringDedup.OccCap, SubstringDedup.MinSpan)
    // a 3-token alphabet makes long shared runs and over-cap grams both
    // common — the two interacting behaviors the property must pin
    val docGen = Gen.listOfN(8,
      Gen.chooseNum(15, 40).flatMap(n => Gen.listOfN(n, Gen.oneOf("x", "y", "z"))))
    def refSpans(docs: Seq[(Long, Vector[String])]): Set[(Long, Long, Long, Long, Long)] = {
      val grams = docs.flatMap { case (id, tk) =>
        (0 to tk.length - k).map(i => (id, (i + 1).toLong, tk.slice(i, i + k).mkString(" "))) }
      val occ = grams.groupBy(_._3).view.mapValues(_.size).toMap
      val byGram = grams.filter(g => occ(g._3) <= cap).groupBy(_._3)
      val anchors = for {
        (_, rows) <- byGram.toSeq
        (a, pa, _) <- rows; (b, pb, _) <- rows if a < b
      } yield (a, b, pa, pb)
      anchors.groupBy { case (a, b, pa, pb) => (a, b, pa - pb) }.toSeq.flatMap {
        case ((a, b, d), as) =>
          val pas = as.map(_._3).distinct.sorted
          val runs = pas.foldLeft(List.empty[List[Long]]) {
            case (acc @ (h :: rest), p) if h.head == p - 1 => (p :: h) :: rest
            case (acc, p) => List(p) :: acc
          }
          runs.map(r => (a, b, r.min, r.min - d, r.max - r.min + k))
            .filter(_._5 >= minSpan)
      }.toSet
    }
    samples(docGen, 5).foreach { toks =>
      val docs = toks.zipWithIndex.map { case (tk, i) => (i.toLong, tk.toVector) }
      val df = docs.map { case (id, tk) =>
        (id, tk.mkString(" "), "en", "s0", tk.mkString(" ").length.toLong) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
      val got = SubstringDedup.substringSpansFrom(df)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
        .toSet
      val want = refSpans(docs)
      assert(got == want,
        s"spans diverged: missing=${(want -- got).take(3)} extra=${(got -- want).take(3)} " +
        s"docs=${docs.map(_._2.mkString(" "))}")
    }
  }

  test("BPE merge table == reference on random corpora (pair ties and overlap rewrites)") {
    import graft.operators.{DataPrep, Dedup}
    // words over {a, b} of length 2-6: identical pair counts (forcing the
    // lexicographic tie-break) and runs like "aaaa" (forcing the greedy
    // non-overlap rule) both occur constantly
    val docGen = Gen.listOfN(6, Gen.chooseNum(5, 15).flatMap(n =>
      Gen.listOfN(n, Gen.chooseNum(2, 6).flatMap(l => Gen.listOfN(l, Gen.oneOf("a", "b")).map(_.mkString)))))
    def ref(words: Map[String, Long]): Seq[(Long, String, String, Long)] = {
      var vocab: Map[String, List[String]] = words.keys.map(w => w -> w.map(_.toString).toList).toMap
      val out = scala.collection.mutable.ArrayBuffer[(Long, String, String, Long)]()
      for (step <- 1 to DataPrep.BpeMerges) {
        val pc = scala.collection.mutable.Map[(String, String), Long]()
        for ((w, syms) <- vocab; j <- 0 until syms.length - 1)
          pc((syms(j), syms(j + 1))) = pc.getOrElse((syms(j), syms(j + 1)), 0L) + words(w)
        if (pc.nonEmpty) {
          val ((l, r), cnt) = pc.minBy { case ((l, r), c) => (-c, l, r) }
          out += ((step.toLong, l, r, cnt))
          vocab = vocab.map { case (w, syms) =>
            val o = scala.collection.mutable.ListBuffer[String]()
            for (c <- syms)
              if (o.nonEmpty && o.last == l && c == r) o(o.length - 1) = l + r else o += c
            w -> o.toList
          }
        }
      }
      out.toSeq
    }
    val sc = spark.sparkContext
    samples(docGen, 5).foreach { docs =>
      val df = docs.zipWithIndex.map { case (ws, i) =>
        (i.toLong, ws.mkString(" "), "en", "s0", 0L) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
      val words = docs.flatten.groupBy(identity).map { case (w, ws) => w -> ws.length.toLong }
      val prev = sc.getLocalProperty(Dedup.CcFixpointTag)
      sc.setLocalProperty(Dedup.CcFixpointTag, "1")
      val got = try DataPrep.bpeTrainFrom(df)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
      finally sc.setLocalProperty(Dedup.CcFixpointTag, prev)
      val want = ref(words)
      assert(got == want, s"merge tables diverged: got=$got want=$want words=$words")
    }
  }

  test("bloom prefilter never yields a false negative on random corpora with planted dups") {
    // random short texts over a tiny vocabulary (so cross-split exact dups
    // occur often), plus explicit planted duplicates straddling the
    // doc_id % 7 batch/corpus boundary
    val word = Gen.oneOf("a", "bb", "ccc", "dd", "e")
    val text = Gen.chooseNum(1, 6).flatMap(n => Gen.listOfN(n, word)).map(_.mkString(" "))
    val corpus = Gen.listOfN(40, text)
    samples(corpus, 5).foreach { texts =>
      // plant: doc 7 (batch) duplicates doc 1 (corpus)
      val planted = texts.zipWithIndex.map { case (t, i) => if (i == 7) texts(1) else t }
      val df = planted.zipWithIndex.map { case (t, i) => (i.toLong, t, "en", "s0", 0L) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
      val rows = Dedup.bloomPrefilterFrom(df)
        .collect().map(r => (r.getLong(0), r.getBoolean(1), r.getBoolean(2)))
      val corpusTexts = planted.zipWithIndex.filter(_._2 % 7 != 0).map(_._1).toSet
      rows.foreach { case (id, maybe, isDup) =>
        assert(isDup == corpusTexts.contains(planted(id.toInt)), s"is_dup wrong for doc $id")
        assert(!isDup || maybe, s"false negative on doc $id")
      }
      assert(rows.find(_._1 == 7L).exists(_._3), "planted dup not detected")
    }
  }

  test("explode-pushthrough rule is result-invariant on random corpora and prefixes") {
    // random texts over a tiny alphabet (so prefixes hit often), random
    // 1-2 char prefix, sometimes with an extra conjunct — rule-on vs
    // rule-off row multisets must agree exactly
    val word = Gen.stringOfN(3, Gen.oneOf('a', 'b', '#'))
    val text = Gen.listOfN(6, word).map(_.mkString(" "))
    val corpus = Gen.listOfN(30, text)
    val prefix = Gen.oneOf("#", "a", "ab", "b#")
    val cases = samples(Gen.zip(corpus, prefix, Gen.oneOf(true, false)), 10)
    val key = "spark.sql.optimizer.excludedRules"
    val prev = spark.conf.getOption(key)
    try cases.foreach { case (texts, p, extraConjunct) =>
      def q() = {
        val base = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
          .toDF("id", "text")
          .select(col("id"), explode(split(col("text"), " ")).as("tok"))
          .filter(col("tok").startsWith(p))
        if (extraConjunct) base.filter(length(col("tok")) >= 2) else base
      }
      spark.conf.unset(key)
      val withRule = q().collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
      spark.conf.set(key, "graft.plans.PushStartsWithThroughExplode")
      val without = q().collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
      assert(withRule == without, s"prefix=$p extra=$extraConjunct texts=${texts.take(3)}...")
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  test("explode-pushthrough rule guards: outer generators are left untouched") {
    import org.apache.spark.sql.catalyst.plans.logical.Filter
    // posexplode_outer emits a null row per empty generator; the rule
    // must not inject a prefilter below an outer Generate
    val df = Seq((1L, "x y"), (2L, "#a b")).toDF("id", "text")
      .select(col("id"), explode_outer(split(col("text"), " ")).as("tok"))
      .filter(col("tok").startsWith("#"))
    val optimized = df.queryExecution.optimizedPlan
    val injected = optimized.collect {
      case f: Filter if f.condition.sql.toLowerCase.contains("contains") => f
    }
    assert(injected.isEmpty, s"rule must skip outer generators:\n$optimized")
  }

  test("explode-pushthrough converges with multiple StartsWith prefixes") {
    import org.apache.spark.sql.catalyst.expressions.Contains
    import org.apache.spark.sql.catalyst.plans.logical.Filter
    // two prefixes imply And(contains, contains); the fixpoint guard must
    // recognize each implied conjunct individually or the batch re-injects
    // a duplicate every optimizer iteration until optimizerMaxIterations
    // RDD-backed source: over a LocalRelation, ConvertToLocalRelation
    // folds the injected filter away before the plan can be inspected
    val df = spark.sparkContext
      .parallelize(Seq((1L, "#ab x"), (2L, "b #a"), (3L, "c d"), (4L, "#a #ab")))
      .toDF("id", "text")
      .select(col("id"), explode(split(col("text"), " ")).as("tok"))
      .filter(col("tok").startsWith("#") && col("tok").startsWith("#a"))
    val optimized = df.queryExecution.optimizedPlan
    val injected = optimized.collect { case f: Filter => f }
      .flatMap(_.condition.collect { case c: Contains => c })
    assert(injected.size == 2,
      s"expected exactly one Contains per prefix, got ${injected.size}:\n$optimized")
    val rows = df.collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    assert(rows == Seq((1L, "#ab"), (2L, "#a"), (4L, "#a"), (4L, "#ab")))
  }

  test("cosine(v, v) == 1 for random non-zero vectors") {
    val vec = Gen.listOfN(16, Gen.chooseNum(-10.0, 10.0))
      .suchThat(v => v.exists(math.abs(_) > 1e-3))
    samples(vec, 8).foreach { v =>
      val c = Seq((v.toArray, v.toArray)).toDF("a", "b")
        .select(graft.operators.Similarity.cosine(col("a"), col("b")))
        .head().getDouble(0)
      assert(math.abs(c - 1.0) < 1e-9, s"vector: $v")
    }
  }

  test("sliding window mass == 2x input rows for any event times") {
    val times = Gen.listOfN(50, Gen.chooseNum(0L, 100000L))
    samples(times, 5).foreach { ts =>
      val df = ts.map(t => (new java.sql.Timestamp(t * 1000), "k")).toDF("ts", "event_type")
      val winSum = df
        .groupBy(window(col("ts"), "3600 seconds", "1800 seconds"), col("event_type"))
        .agg(count(lit(1)).as("cnt"))
        .agg(sum("cnt")).head().getLong(0)
      assert(winSum == 2L * ts.length)
    }
  }

  test("connected components partition nodes with rep = min member, for random graphs") {
    val edgeGen = Gen.listOfN(20, Gen.zip(Gen.chooseNum(0L, 14L), Gen.chooseNum(0L, 14L)))
      .map(_.filter { case (a, b) => a != b }
            .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct)
      .suchThat(_.nonEmpty)
    samples(edgeGen, 5).foreach { edges =>
      val out = graft.operators.Dedup.connectedComponents(edges.toDF("a_id", "b_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      // reference union-find on the driver
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = { val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r } }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb) }
      val expected = parent.keys.toSeq.groupBy(find).toSeq
        .map { case (_, ms) => (ms.min, ms.size.toLong, ms.sorted.mkString(",")) }
        .sortBy(_._1)
      assert(out.toSeq == expected, s"edges: $edges")
    }
  }

  test("SimHashAgg is partition-invariant and equals a driver-side majority vote") {
    // merge correctness: the same multiset of hashes must produce the
    // same fingerprint at any parallelism (partial buffers merged in any
    // grouping), and match an independent per-bit majority computed here
    val gen = Gen.listOfN(25, Gen.chooseNum(Long.MinValue, Long.MaxValue))
    samples(gen, 6).foreach { hs =>
      def viaAgg(parts: Int): Long =
        spark.sparkContext.parallelize(hs, parts).toDF("h")
          .agg(graft.functions.SimHashAggregate.simhashAgg(col("h")).as("s"))
          .head().getLong(0)
      val expected = (0 until 64).map { k =>
        val ones = hs.count(h => ((h >>> k) & 1L) == 1L)
        if (ones * 2 > hs.length) 1L << k else 0L
      }.reduce(_ | _)
      val p1 = viaAgg(1); val p7 = viaAgg(7)
      assert(p1 == expected && p7 == expected,
        s"p1=$p1 p7=$p7 expected=$expected hashes=${hs.take(5)}...")
    }
  }

  test("exact dedup is idempotent for any duplicate multiplicity") {
    val gen = Gen.listOfN(30, Gen.oneOf("a b c", "d e f", "g h i", "j k l"))
    samples(gen, 5).foreach { texts =>
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      def dd(in: org.apache.spark.sql.DataFrame) = {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(md5(col("text"))).orderBy(col("doc_id"))
        in.withColumn("rn", row_number().over(w)).filter(col("rn") === 1).drop("rn")
      }
      val once  = dd(df).collect().map(_.getLong(0)).sorted.toSeq
      val twice = dd(dd(df)).collect().map(_.getLong(0)).sorted.toSeq
      assert(once == twice)
      assert(once.length == texts.distinct.length)
    }
  }

  test("AsOfJoinExec == independent reference on random row sets, both directions") {
    // few keys + a narrow time range force heavy key/time collisions —
    // exactly where tie policy and cursor/candidate logic can go wrong.
    // The oracle is a direct per-key scan, deliberately NOT a Spark plan.
    val rowGen = Gen.zip(Gen.chooseNum(0L, 3L), Gen.chooseNum(0L, 15L))
    val setGen = Gen.zip(Gen.listOfN(25, rowGen), Gen.listOfN(25, rowGen))
    samples(setGen, 8).zipWithIndex.foreach { case ((lRaw, rRaw), caseNo) =>
      val l = lRaw.zipWithIndex.map { case ((k, t), i) => (k, t, i) }
      val r = rRaw.zipWithIndex.map { case ((k, t), i) => (k, t, i + 1000) }
      val lDf = spark.sparkContext.parallelize(l, 3).toDF("k", "lsec", "lid")
      val rDf = spark.sparkContext.parallelize(r, 3).toDF("rk", "rsec", "rid")

      def reference(direction: String, outer: Boolean,
                    tol: Option[Long]): Set[(Int, Option[Int])] =
        l.flatMap { case (k, t, lid) =>
          // backward candidate: latest time ≤ t, largest id on ties;
          // forward candidate: earliest time after t, smallest id on ties
          // (equal-time rows are ALWAYS backward candidates, gap 0)
          val backBest = r.filter { case (rk, rt, _) => rk == k && rt <= t }
            .sortBy { case (_, rt, rid) => (rt, rid) }.lastOption
          val fwdBest = r.filter { case (rk, rt, _) => rk == k && rt > t }
            .sortBy { case (_, rt, rid) => (rt, rid) }.headOption
          val best = direction match {
            case "backward" => backBest
            case "forward"  =>
              // forward semantics are non-strict (>=): an equal-time row is
              // the match, and among equal times the smallest id wins
              r.filter { case (rk, rt, _) => rk == k && rt >= t }
                .sortBy { case (_, rt, rid) => (rt, rid) }.headOption
            case "nearest"  => (backBest, fwdBest) match {
              case (Some(b), Some(f)) =>
                if (t - b._2 <= f._2 - t) Some(b) else Some(f) // tie → backward
              case (b, f) => b.orElse(f)
            }
          }
          // tolerance applies to the CLOSEST row only — beyond-bound means
          // unmatched, never a fallback to the next-closest
          val bounded = best.filter { case (_, rt, _) =>
            tol.forall(b => math.abs(rt - t) <= b) }
          bounded match {
            case Some((_, _, rid))  => Some((lid, Some(rid)))
            case None if outer      => Some((lid, None))
            case None               => None
          }
        }.toSet

      for (dir <- Seq("backward", "forward", "nearest"); out <- Seq(false, true);
           tol <- Seq(None, Some(4L))) {
        val joined = dir match {
          case "forward" => graft.plans.AsOf.joinForward(
            lDf, rDf, Seq("k"), Seq("rk"), "lsec", "rsec", Seq("rid"),
            outer = out, tolerance = tol)
          case "nearest" => graft.plans.AsOf.joinNearest(
            lDf, rDf, Seq("k"), Seq("rk"), "lsec", "rsec", Seq("rid"),
            outer = out, tolerance = tol)
          case _ => graft.plans.AsOf.joinBackward(
            lDf, rDf, Seq("k"), Seq("rk"), "lsec", "rsec", Seq("rid"),
            outer = out, tolerance = tol)
        }
        val got = joined.select("lid", "rid").collect()
          .map(x => (x.getInt(0), if (x.isNullAt(1)) None else Some(x.getInt(1)))).toSet
        assert(got === reference(dir, out, tol),
          s"case $caseNo direction=$dir outer=$out tol=$tol left=$l right=$r")
      }
    }
  }

  test("winnowing theorem: any shared w+k-1 token run yields a shared fingerprint") {
    // random word-soup pairs with a PLANTED shared run of exactly
    // w+k-1 = 6 tokens at random positions — the SIGMOD'03 guarantee says
    // the two docs must then share >= 1 selected fingerprint, whatever
    // surrounds the run. (Random pairs WITHOUT a planted run may still
    // collide — the theorem is one-directional — so only the planted
    // direction is asserted.)
    val word = Gen.oneOf("aa", "bb", "cc", "dd", "ee", "ff", "gg", "hh")
    val run = Gen.listOfN(6, word)
    val pad = Gen.chooseNum(0, 8).flatMap(n => Gen.listOfN(n, word))
    val docPair = for {
      r <- run; p1 <- pad; s1 <- pad; p2 <- pad; s2 <- pad
    } yield ((p1 ++ r ++ s1).mkString(" "), (p2 ++ r ++ s2).mkString(" "))
    samples(docPair, 12).zipWithIndex.foreach { case ((a, b), i) =>
      val docs = Seq((0L, a), (1L, b)).toDF("doc_id", "text")
      val fps = graft.operators.Dedup.winnowFingerprints(docs)
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      val fa = fps.filter(_._1 == 0L).map(_._2).toSet
      val fb = fps.filter(_._1 == 1L).map(_._2).toSet
      assert(fa.intersect(fb).nonEmpty,
        s"case $i: planted 6-token run produced no shared fingerprint\nA=$a\nB=$b")
    }
  }

  test("standing-index maintenance: random append/delete/probe schedules equal fresh rebuilds") {
    // The append test in StandingIndexSpec asserts build+append == fresh
    // ONCE; this drives RANDOM schedules — corpus split into 2-4 append
    // segments with a probe after every segment — the way a daily-ingest
    // deployment actually interleaves maintenance and probing. At every
    // probe point the on-disk appended index must decide identically to
    // a fresh index over everything admitted so far (the frozen-dfreq /
    // per-segment-digest invariants must hold mid-schedule, not just at
    // the end).
    import graft.operators.StandingIndex
    import graft.streaming.StreamingDedup
    val word = Gen.oneOf("a", "b", "c", "d", "e", "f")
    val docGen = Gen.chooseNum(0, 12).flatMap(n => Gen.listOfN(n, word))
      .map(_.mkString(" "))
    val schedGen = for {
      n     <- Gen.chooseNum(24, 40)
      texts <- Gen.listOfN(n, docGen)
      segs  <- Gen.chooseNum(2, 4)
    } yield (texts, segs)
    samples(schedGen, 3).zipWithIndex.foreach { case ((texts, segs), si) =>
      // planted cross-segment twin: doc 0's text reappears as the LAST doc,
      // exercising the multi-segment digest min-agg on every later probe
      val all = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) } :+
        (900L, texts.head)
      val segments = all.grouped(math.max(1, all.size / segs)).toList
      val tag = s"prop_sched_$si"
      def tbl(n: String) = spark.table(s"graft_idx_${n}_$tag")
      var soFar = segments.head
      StandingIndex.buildFor(spark, soFar.toDF("doc_id", "text"), tag)
      def probeAndCheck(step: Int): Unit = {
        // probe with twins of the most recently admitted docs plus one
        // certainly-novel doc — fresh ids so exact twins resolve by digest
        val batch = soFar.takeRight(6).map { case (id, t) => (id + 1000L, t) } :+
          (2000L, "zz qq ww rr")
        val diskIdx = StreamingDedup.StandingIndex(
          digests = tbl("digests"), arrays = tbl("arrays"), dfreq = tbl("dfreq"),
          prefix = tbl("prefix").withColumnRenamed("cn", "nc"), threshold = 0.5)()
        def decide(idx: StreamingDedup.StandingIndex) =
          StreamingDedup.decideBatch(batch.toDF("doc_id", "text"), idx).collect()
            .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3)))
            .toSet
        val got = decide(diskIdx)
        val fresh = StreamingDedup.buildStandingIndex(soFar.toDF("doc_id", "text"))
        try {
          val want = decide(fresh)
          assert(got == want, s"schedule $si step $step (${soFar.size} docs): " +
            s"missing=${(want -- got).take(3)} extra=${(got -- want).take(3)}")
        } finally fresh.release()
        // the BANDED probe must hold the same invariant mid-schedule: the
        // maintained bands table vs a fresh standing rebuild
        def banded(t: String) = StandingIndex
          .incrementalDedupBandedFor(spark, t, batch.toDF("doc_id", "text"))
          .collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
            math.rint(r.getDouble(3) * 1e9) / 1e9)).toSet
        val freshTag = s"prop_sched_fresh_${si}_$step"
        StandingIndex.buildFor(spark, soFar.toDF("doc_id", "text"), freshTag)
        val gotB = banded(tag); val wantB = banded(freshTag)
        assert(gotB == wantB, s"schedule $si step $step banded: " +
          s"missing=${(wantB -- gotB).take(3)} extra=${(gotB -- wantB).take(3)}")
      }
      probeAndCheck(0)
      val rnd = new scala.util.Random(77L + si)
      segments.tail.zipWithIndex.foreach { case (seg, step) =>
        StandingIndex.appendFor(spark, tag, seg.toDF("doc_id", "text"))
        soFar = soFar ++ seg
        probeAndCheck(step + 1)
        // interleave a DELETE after some appends: drop a random admitted
        // slice (possibly including the planted twin's original) and the
        // invariants must still hold against a fresh survivor rebuild
        if (rnd.nextBoolean() && soFar.size > 4) {
          val delIds = rnd.shuffle(soFar.map(_._1)).take(1 + rnd.nextInt(3))
          soFar = soFar.filterNot(d => delIds.contains(d._1))
          StandingIndex.deleteFor(spark, tag, delIds.toDF("doc_id"),
            soFar.toDF("doc_id", "text"))
          probeAndCheck(100 + step)
        }
      }
    }
  }
}
