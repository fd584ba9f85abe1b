package graft.operators

import graft.Pins
import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Materialized standing dedup index — the production form of
  * [[Dedup.incrementalDedup]]'s steady state (reference analogue: ABSENT;
  * §2c extension scope).
  *
  * The batch probe rebuilds the corpus digest table and the df-ordered
  * shingle prefix index on EVERY run — correct, but at 100 TB that is a
  * full corpus scan + shuffle per daily batch, for an index that only
  * changes when the corpus does. Its own scaladoc names the remedy ("a
  * production deployment materializes the corpus shingle index once,
  * bucketed by shingle, and probes it daily without reshuffling the
  * corpus"); this module IS that remedy, not a comment:
  *
  *   - `build` writes five bucketed tables once per (session, corpus):
  *       digests  (h, len, corpus_id)   bucketed by h          — stage-1 exact probe
  *       dfreq    (s, df)               bucketed by s          — the FROZEN prefix order
  *       prefix   (corpus_id, cn, s)    bucketed by s          — stage-2 candidate probe
  *       arrays   (corpus_id, sh, nc)   bucketed by corpus_id  — stage-2 exact verify
  *       bands    (corpus_id, band, bucket) bucketed by bucket — banded candidate probe
  *   - `probe` answers a batch with NO corpus-side shuffle: every join
  *     lands on a table already bucketed on its join key, so only the
  *     batch sliver (the small side, by construction) moves.
  *
  * Losslessness under the frozen order: the PPJoin prefix lemma holds for
  * ANY total order shared by both sides (Xiao et al., WWW'08 §3 — the
  * order is a free parameter; df-ascending is merely the best heuristic).
  * The build freezes (corpus df asc, shingle asc); the probe ranks batch
  * shingles under the SAME order by joining the stored dfreq, with
  * corpus-unseen shingles given df 0 (they sort first, consuming prefix
  * slots but never breaking the lemma — and a corpus-unseen shingle can't
  * produce an index hit anyway). Candidates are a superset of the true
  * J ≥ t pairs under EITHER order, and the exact full-set verification
  * makes the final output IDENTICAL to [[Dedup.incrementalDedup]] — which
  * the driver hash-gate proves end-to-end by running both against the
  * same DuckDB oracle ([[Dedup.incrementalDedupSql]]).
  *
  * Bench protocol note: the first invocation per session pays the build
  * (pass 1 of the instrumented bench); later passes pay only the probe.
  * The per-query MIN therefore reports the steady-state probe cost — the
  * number a daily-ingest deployment actually pays — while pass 1 records
  * the amortized build. Both appear in BENCH_FULL.json by design.
  */
object StandingIndex {

  private[graft] val Threshold = 0.5
  private val Buckets = 8

  /** Index builds already done, keyed by (session, corpus dir) — the
    * standing index is immutable for the life of a session, like the
    * loader memos in [[graft.Tables]]. Value is the table-name tag. */
  private val built =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), String]

  /** Bump whenever any standing-index BUILD logic changes (shingling,
    * kept-set rules, prefix thresholds, ANN planes/centroid seeding):
    * catalog tables written under an older version then carry a different
    * tag and are never adopted — they are rebuilt, not silently probed. */
  private[graft] val LogicVersion = 3 // r16: curation kept build went banded

  /** Content fingerprint of the corpus files the standing indexes derive
    * from (size + mtime of documents/embeddings parquet, recursing one
    * level when Spark wrote a directory). Folding this into the tag makes
    * catalog adoption STALE-SAFE: if the corpus changed on disk — or
    * [[LogicVersion]] was bumped — the tag changes, the old `graft_idx_*`
    * tables no longer match, and `ensure*Built` rebuilds instead of
    * adopting a stale index that only the oracle gate would catch. */
  private def corpusFingerprint(dir: String): String = {
    import java.nio.file.{Files, Path, Paths}
    def stamp(p: Path): String =
      if (!Files.exists(p)) "absent"
      else if (Files.isDirectory(p)) {
        // Files.list holds an open directory handle until closed — each
        // cold tagOf otherwise leaks one fd per stat (Similarity and
        // SubstringDedup call tagOf too, so the leak multiplies)
        val st = Files.list(p)
        val kids = try st.toArray.toSeq.map(_.asInstanceOf[Path]) finally st.close()
        s"${kids.size}:${kids.map(k => scala.util.Try(Files.size(k)).getOrElse(0L)).sum}:" +
          kids.map(k => scala.util.Try(Files.getLastModifiedTime(k).toMillis).getOrElse(0L))
            .foldLeft(0L)(math.max)
      } else s"${Files.size(p)}:${Files.getLastModifiedTime(p).toMillis}"
    Seq("documents.parquet", "embeddings.parquet")
      .map(f => s"$f=${stamp(Paths.get(dir, f))}").mkString("|") + s"|v$LogicVersion"
  }

  private[graft] def tagOf(dir: String): String =
    // sanitizer + two hashes: the readable part aids debugging, the dir
    // hash makes distinct dirs that sanitize identically (sf0.1 vs sf0_1)
    // collide-free, and the corpus fingerprint hash invalidates adoption
    // when the underlying parquet (or the build logic version) changes
    dir.replaceAll("[^A-Za-z0-9]", "_").toLowerCase +
      "_" + Integer.toHexString(dir.hashCode) +
      "_" + Integer.toHexString(
        scala.util.hashing.MurmurHash3.stringHash(corpusFingerprint(dir)))

  /** Root directory for every standing-index table (dedup AND ANN). The
    * harness default lives under `java.io.tmpdir`; a deployment sets
    * `spark.graft.standingIndex.path` to a durable location (HDFS /
    * object store) — "standing" is only an honest claim when the tables
    * outlive the process. Restart behavior: the table FILES survive
    * wherever this points, and any session whose catalog still lists the
    * `graft_idx_*` tables (same metastore, or `newSession()` off the same
    * context) adopts them without rebuilding ([[ensureBuilt]]); a fresh
    * in-memory-catalog process re-registers by rebuilding. */
  private[graft] def indexRoot(s: SparkSession): String =
    s.conf.get("spark.graft.standingIndex.path",
      s"${System.getProperty("java.io.tmpdir")}/graft_standing_index")

  private[operators] def tablePath(s: SparkSession, tag: String, name: String): String =
    s"${indexRoot(s)}/$tag/$name"

  /** Maintenance marker (one zero-byte file per tag + family prefix,
    * next to the tables): append/delete maintenance moves an index past
    * the pure function of its corpus dir that the oracles model, so a
    * LATER session must not silently adopt maintained state — the
    * dir-keyed probes would diverge from the shared pristine-build
    * oracle while every hash gate ran against the pristine SQL. The
    * dir-keyed `ensure*Built` adoption branch rebuilds when the marker
    * is present; caller-owned tags (the lifecycle specs, deployment
    * pipelines that own their kept tables) are never adopted by tag
    * construction, so the marker costs them nothing. Hadoop FS API so
    * the marker rides whatever filesystem `standingIndex.path` names. */
  private def maintainedMarker(s: SparkSession, tag: String, p: String) =
    new org.apache.hadoop.fs.Path(s"${indexRoot(s)}/$tag/${p}MAINTAINED")
  private def markMaintained(s: SparkSession, tag: String, p: String): Unit = {
    val m = maintainedMarker(s, tag, p)
    val fs = m.getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.create(m, true).close()
  }
  private[graft] def isMaintained(s: SparkSession, tag: String, p: String): Boolean = {
    val m = maintainedMarker(s, tag, p)
    m.getFileSystem(s.sparkContext.hadoopConfiguration).exists(m)
  }
  private def clearMaintained(s: SparkSession, tag: String, p: String): Unit = {
    val m = maintainedMarker(s, tag, p)
    m.getFileSystem(s.sparkContext.hadoopConfiguration).delete(m, false)
  }

  /** Collapse multi-segment digest hits to the lowest corpus twin — paid
    * ONLY when the index is actually maintained (round 19): a pristine
    * build pre-mins its digests to one row per content
    * ([[writeProbeTables]]), so each probe doc matches at most one row
    * and the re-collapse shuffle is a pure per-probe tax; the zero-job
    * MAINTAINED-marker read decides. Both maintenance paths
    * ([[appendFor]]/[[deleteFor]] and their `cur` twins) set the marker
    * before touching any table, and the lifecycle specs' planted
    * cross-segment twins exercise the agg branch. */
  private def minAcrossSegments(s: SparkSession, tag: String, p: String,
                                hits: DataFrame, key: String,
                                out: String): DataFrame =
    if (isMaintained(s, tag, p))
      hits.groupBy(key).agg(min("corpus_id").as(out))
    else hits.select(col(key), col("corpus_id").as(out))

  /** The corpus split this index covers — must match
    * [[Dedup.incrementalDedup]]'s (doc_id % 7 <> 0). */
  private def corpusOf(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).filter(col("doc_id") % 7 =!= 0)

  /** Table names of the five index tables for `tag`. */
  private def tableNames(tag: String): Seq[String] =
    Seq("digests", "dfreq", "prefix", "arrays", "bands")
      .map(n => s"graft_idx_${n}_$tag")

  /** Build (once per session+dir) the five bucketed index tables and
    * return the table-name tag. Serialized under a lock: unlike the
    * loader memos (immutable plans, racing builds harmless), two
    * concurrent builds here would WRITE the same table paths — the
    * overwrite staging of one can delete files the other just committed. */
  def ensureBuilt(s: SparkSession, dir: String): String = built.synchronized {
    val k = (s, dir)
    val existing = built.get(k)
    if (existing != null) existing
    else {
      val tag = tagOf(dir)
      // adopt an index another session already built: if the catalog still
      // lists all five tables (shared metastore, or a newSession() off the
      // same context), probing reads them as-is — the restart story the
      // durable-path knob exists for. The tag embeds a corpus fingerprint
      // + LogicVersion, so a changed corpus or changed build logic yields
      // a NEW tag and a rebuild; the MAINTAINED marker closes the
      // remaining gap — append/delete maintenance mutates the dir-keyed
      // tables IN PLACE (same tag), and a maintained index is NOT the
      // pristine build the shared oracle models, so adoption rebuilds it.
      if (tableNames(tag).forall(s.catalog.tableExists) &&
          !isMaintained(s, tag, "")) { built.put(k, tag); tag }
      else buildTables(s, dir, k)
    }
  }

  private def buildTables(s: SparkSession, dir: String,
                          k: (SparkSession, String)): String = {
    val tag = tagOf(dir)
    buildFor(s, corpusOf(s, dir), tag)
    built.put(k, tag)
    tag
  }

  private[operators] def save(df: DataFrame, tag: String, name: String,
                   bucketCol: String, mode: String): Unit =
    df.write.mode(mode)
      .option("path", tablePath(df.sparkSession, tag, name))
      .bucketBy(Buckets, bucketCol)
      .saveAsTable(s"graft_idx_${name}_$tag")

  /** Write the five index tables for `corpus` under `tag` (overwrite).
    * Exposed within the package so specs can index arbitrary corpora. */
  private[graft] def buildFor(s: SparkSession, corpus: DataFrame,
                              tag: String): Unit =
    writeProbeTables(corpus, tag, "")

  /** The five dedup-probe tables (digests / arrays / dfreq / prefix / bands) for
    * any document frame, table names prefixed by `p` — shared by the
    * incremental-dedup index (p = "", corpus split) and the
    * incremental-curation index (p = "cur", the standing KEPT set). */
  private def writeProbeTables(corpus: DataFrame, tag: String,
                               p: String): Unit = {
    // a fresh (over)write IS the pristine build — retire any maintenance
    // marker a prior lifecycle left, so the rebuilt index adopts cleanly
    clearMaintained(corpus.sparkSession, tag, p)
    // stage-1 index: min corpus twin per content digest, pre-aggregated
    // so the probe's exact stage joins one row per distinct content (per
    // SEGMENT — appends may add a second row for a digest, which the
    // probe's min-agg re-collapses)
    save(corpus
      .select(md5(col("text")).as("h"), length(col("text")).as("len"),
        col("doc_id").as("corpus_id"))
      .groupBy("h", "len").agg(min("corpus_id").as("corpus_id")),
      tag, s"${p}digests", "h", "overwrite")

    // stage-2 indexes: per-doc distinct shingle arrays (row-local), the
    // corpus document frequencies (the frozen global order), and the
    // df-ordered prefix inverted index (PPJoin: only the first
    // n − ⌈t·n⌉ + 1 shingles of each doc can witness a J ≥ t pair).
    val cArr = Dedup.shingleArrays(corpus).select(
      col("doc_id").as("corpus_id"), col("sh"),
      size(col("sh")).cast("long").as("nc"))
    save(cArr, tag, s"${p}arrays", "corpus_id", "overwrite")

    val dfreq = cArr.select(col("corpus_id"), explode(col("sh")).as("s"))
      .groupBy("s").agg(count(lit(1)).as("df"))
    save(dfreq, tag, s"${p}dfreq", "s", "overwrite")

    save(Dedup.prefixRows(cArr, "corpus_id", "cn", dfreq, Threshold),
      tag, s"${p}prefix", "s", "overwrite")

    // the md5-minhash band rows ([[Dedup.mdBandRows]]), bucketed by band
    // bucket — the standing half of the BANDED probes' R-S candidate
    // join. Per-doc function of content, so appends extend and deletes
    // filter this table with no global recompute.
    save(Dedup.mdBandRows(cArr.select(col("corpus_id").as("doc_id"), col("sh")))
        .select(col("doc_id").as("corpus_id"), col("band"), col("bucket")),
      tag, s"${p}bands", "bucket", "overwrite")
  }

  /** Append newly accepted documents to an existing standing index — the
    * MAINTENANCE path: a curation pipeline admits yesterday's unique docs
    * into the corpus, and the index must follow without the full rebuild
    * the A/B shows costs ~6× the probe. Appends write new bucketed files
    * into the same four tables (bucket specs match, so probe-side joins
    * stay exchange-free); three invariants make this exact, not
    * approximate:
    *
    *   - `dfreq` — the prefix ORDER — is frozen at first build and NEVER
    *     appended to: the PPJoin lemma needs one total order shared by
    *     both sides of any pair, not a current one, so appended docs rank
    *     their shingles under the original (df, s) order with unseen
    *     shingles at df 0 — exactly how probes rank theirs. Updating df
    *     counts instead would REORDER old prefixes and invalidate them.
    *   - the digest table may now hold several rows per (h, len) (one per
    *     append segment); the probe re-minimizes per batch doc — the same
    *     min rule the batch operator applies.
    *   - appended prefix/array rows only ADD candidates; exact full-set
    *     verification keeps the output identical to a fresh index over
    *     the unioned corpus, which `StandingIndexSpec` asserts.
    */
  private[graft] def appendFor(s: SparkSession, tag: String,
                               docs: DataFrame): Unit = built.synchronized {
    appendProbeTables(s, tag, docs, "")
  }

  /** The shared append body — same four writes for the dedup index
    * (p = "") and the curation index (p = "cur"); the frozen-df /
    * per-segment-digest / exact-verify invariants in [[appendFor]]'s
    * scaladoc are prefix-independent. */
  private def appendProbeTables(s: SparkSession, tag: String,
                                docs: DataFrame, p: String): Unit = {
    markMaintained(s, tag, p)
    save(docs
      .select(md5(col("text")).as("h"), length(col("text")).as("len"),
        col("doc_id").as("corpus_id"))
      .groupBy("h", "len").agg(min("corpus_id").as("corpus_id")),
      tag, s"${p}digests", "h", "append")
    val cArr = Dedup.shingleArrays(docs).select(
      col("doc_id").as("corpus_id"), col("sh"),
      size(col("sh")).cast("long").as("nc"))
    save(cArr, tag, s"${p}arrays", "corpus_id", "append")
    save(Dedup.prefixRows(cArr, "corpus_id", "cn",
        s.table(s"graft_idx_${p}dfreq_$tag"), Threshold),
      tag, s"${p}prefix", "s", "append")
    // band rows for the appended docs — per-doc, so append-only
    save(Dedup.mdBandRows(cArr.select(col("corpus_id").as("doc_id"), col("sh")))
        .select(col("doc_id").as("corpus_id"), col("band"), col("bucket")),
      tag, s"${p}bands", "bucket", "append")
  }

  /** Dir-keyed convenience over [[appendFor]]: append to the index of the
    * standard corpus split (which must already be built). */
  def append(s: SparkSession, dir: String, docs: DataFrame): Unit = {
    val tag = built.get((s, dir))
    require(tag != null,
      s"standing index for $dir not built in this session — ensureBuilt first")
    appendFor(s, tag, docs)
  }

  /** Right-to-be-forgotten maintenance — the delete half of the index's
    * lifecycle ([[appendFor]] is the other): remove `ids` (a `doc_id`
    * column) from the standing index given the post-delete corpus
    * `remaining` (the caller owns the corpus table; the index never
    * stores raw text). Per table:
    *  - `arrays` / `prefix`: anti-join out the deleted corpus ids —
    *    bucket-local filters (at 100 TB: partition-overwrite MERGEs
    *    touching only buckets that contain the ids).
    *  - `digests`: rows owned by a deleted id are dropped, and fallback
    *    min-rows are re-aggregated for JUST the affected contents (one
    *    corpus scan + a broadcast join sliver, zero shuffle beyond the
    *    tiny agg; a deployment additionally keeps the corpus bucketed by
    *    digest so the sliver reads only affected buckets) — a residual
    *    copy of deleted content keeps answering exact probes. Extra rows
    *    per digest are harmless: the probe min-aggregates, the same
    *    duplicate-neutral algebra the append path leans on.
    *  - `dfreq`: FROZEN, exactly like appends: PPJoin losslessness needs
    *    only that probe-side and index-side prefixes share ONE global
    *    order — the stored one; frequencies only shrink under deletion,
    *    and the exact-verify stage makes candidate-set differences
    *    invisible in results. The spec proves delete-then-probe equals a
    *    fresh rebuild over the surviving corpus, decision for decision.
    * Each rewritten table is localCheckpoint'ed before the overwrite so
    * the write never reads the files it is replacing. */
  private[graft] def deleteFor(s: SparkSession, tag: String,
                               ids: DataFrame,
                               remaining: DataFrame): Unit = built.synchronized {
    deleteProbeTables(s, tag, ids, remaining, "")
  }

  /** The shared delete body — same four rewrites for the dedup index
    * (p = "") and the curation index (p = "cur"); the scaladoc invariants
    * on [[deleteFor]] are prefix-independent. */
  private def deleteProbeTables(s: SparkSession, tag: String, ids: DataFrame,
                                remaining: DataFrame, p: String): Unit = Pins.scope {
    markMaintained(s, tag, p)
    val del = ids.select(col("doc_id").as("corpus_id"))
    def tbl(name: String): DataFrame = s.table(s"graft_idx_${p}${name}_$tag")
    def rewrite(name: String, df: DataFrame, bucketCol: String): Unit = Pins.scope {
      save(Pins.checkpoint(df), tag, s"$p$name", bucketCol, "overwrite")
    }
    val affected = Pins.checkpoint(tbl("digests")
      .join(broadcast(del), "corpus_id").select("h", "len"))
    val fallback = remaining
      .select(md5(col("text")).as("h"), length(col("text")).as("len"),
        col("doc_id").as("corpus_id"))
      .join(broadcast(affected), Seq("h", "len"))
      .groupBy("h", "len").agg(min("corpus_id").as("corpus_id"))
    rewrite("digests",
      tbl("digests").join(broadcast(del), Seq("corpus_id"), "left_anti")
        .unionByName(fallback), "h")
    rewrite("arrays",
      tbl("arrays").join(broadcast(del), Seq("corpus_id"), "left_anti"),
      "corpus_id")
    rewrite("prefix",
      tbl("prefix").join(broadcast(del), Seq("corpus_id"), "left_anti"), "s")
    // the banded probes' standing band rows leave with their owner
    // (bucket-local filter, like arrays/prefix)
    rewrite("bands",
      tbl("bands").join(broadcast(del), Seq("corpus_id"), "left_anti"),
      "bucket")
  }

  /** Right-to-be-forgotten for the CURATED state: remove `ids` from the
    * standing curation tables given the post-delete kept set `remaining`.
    * Same per-table rules as [[deleteFor]] (anti-joined arrays/prefix,
    * re-aggregated digest fallbacks for just the affected contents,
    * FROZEN `curdfreq`). Tag-keyed with the caller owning `remaining`
    * deliberately — unlike the dedup index, the curated state is
    * history-dependent (appends move it past any pure function of the
    * corpus dir), so only the pipeline that owns the kept table can name
    * the survivors; the lifecycle spec proves delete-then-probe equals a
    * fresh rebuild over them. */
  private[graft] def deleteCurationFor(s: SparkSession, tag: String,
                                       ids: DataFrame,
                                       remaining: DataFrame): Unit =
    curBuilt.synchronized { deleteProbeTables(s, tag, ids, remaining, "cur") }

  /** [[deleteFor]] against the session-built index over `dir`'s corpus. */
  def delete(s: SparkSession, dir: String, ids: DataFrame): Unit = {
    val tag = built.get((s, dir))
    require(tag != null,
      s"standing index for $dir not built in this session — ensureBuilt first")
    deleteFor(s, tag, ids, corpusOf(s, dir)
      .join(broadcast(ids.select(col("doc_id"))), Seq("doc_id"), "left_anti"))
  }

  /** Adversarial-vocabulary guard on the standing PREFIX probes (round
    * 16, found by the second-decade scale rehearsal): the lossless
    * PPJoin candidate set is Σ_s dfB(s)·dfC(s); on a vocabulary that
    * stays FIXED while the corpus grows, df ∝ n on BOTH sides and the
    * candidate stream grows ~n²/|V| — at the 100×-row adversarial
    * corpus (500 k docs, 31-token vocabulary) the probe's verify
    * shuffle spilled 70+ GB and killed the host's disk before
    * completing, while the Heaps-law corpus (vocabulary growing with
    * n — real text's shape) stays near-linear. Mean index-side prefix
    * df = prefix rows / dfreq rows is a pure parquet-footer statistic
    * (ZERO Spark jobs, uncached because appends/compaction mutate the
    * tables) that separates the regimes by an order of magnitude per
    * decade once the vocabulary saturates (measured from the built
    * indexes: harness sf0.1 = 4.2, sf1 = 39.6 — the shingle universe
    * saturates at 31³ ≈ 30 k right around sf1 — adversarial 100× =
    * 396 and ∝ n beyond). The default threshold 128 passes every
    * corpus the gates run (≤ 40) and refuses the measured disk-killer
    * (396) with 3× margin on each side. Above it the probe refuses
    * and names the bounded-candidate paths instead of quietly
    * scheduling the shuffle. The per-run rebuild forms
    * (`dedup_incremental`, `pipeline_curate_incremental`) compute
    * their dfreq in-run (no footers to read, so this footer guard
    * cannot see them) — round 18: they carry the SAME statistic and
    * threshold computed IN-RUN from the frames their prefix path
    * materializes anyway ([[Dedup.incrementalNearCandidates]]), via
    * [[guardMeanPrefixDf]] below, so the per-run oracle twins refuse
    * the same corpora the standing probes do. */
  private val MaxMeanPrefixDfKey = "spark.graft.prefixProbe.maxMeanDf"
  private def maxMeanPrefixDf(s: SparkSession): Double =
    Dedup.doubleConf(s, MaxMeanPrefixDfKey, 128.0)
  private def meanPrefixDf(s: SparkSession, tag: String, p: String): Double = {
    val prefixRows = Tables.footerRowCountAt(s, tablePath(s, tag, s"${p}prefix"))
    val dfreqRows = Tables.footerRowCountAt(s, tablePath(s, tag, s"${p}dfreq")).max(1L)
    prefixRows.toDouble / dfreqRows
  }
  /** Shared refusal on the saturation statistic — `how` names where the
    * statistic came from (parquet footers for the standing probes, the
    * in-run cached frames for the per-run rebuild forms). */
  private[graft] def guardMeanPrefixDf(s: SparkSession, mean: Double,
                                       how: String, what: String,
                                       alt: String): Unit = {
    val max = maxMeanPrefixDf(s)
    // pass-side observability: the round-18 adversarial-sf10 demo showed
    // the statistic is FRAME-specific (the dedup probe's 6/7-corpus side
    // reads 396 and refuses; the curation probe's kept-set side stays
    // under threshold on the same corpus and runs) — log what was read
    autoLog.info(f"$what: mean per-shingle prefix df $mean%.1f vs threshold $max%.0f ($how)")
    require(mean <= max,
      f"$what: the prefix index has mean per-shingle df $mean%.0f " +
      f"(prefix rows over distinct shingles, $how) > $max%.0f — " +
      "a near-fixed vocabulary at this corpus size makes the lossless prefix " +
      f"candidate stream ~quadratic (measured: 70+ GB spill at 100x rows). " +
      s"Use $alt at this vocabulary shape, or raise $MaxMeanPrefixDfKey deliberately.")
  }
  private def guardPrefixProbe(s: SparkSession, tag: String, p: String,
                               what: String, alt: String): Unit =
    guardMeanPrefixDf(s, meanPrefixDf(s, tag, p),
      "zero-job parquet-footer statistic", what, alt)

  /** Last routing decision per "family/tag" — observability hook for the
    * auto-routed probes below (the spec pins it; a deployment greps the
    * log line). */
  private[graft] val lastAutoRoute =
    new java.util.concurrent.ConcurrentHashMap[String, String]

  /** Family → chosen route, collapsed over index tags — the
    * artifact-layer view of [[lastAutoRoute]]: Bench and Verify embed it
    * in their JSON artifacts so which plan a routed query actually ran is
    * diffable across rounds from the artifacts alone (not just a log
    * line). "mixed" marks a family that routed differently across the
    * session's index tags. */
  private[graft] def autoRouteSummary: Map[String, String] = {
    import scala.jdk.CollectionConverters._
    lastAutoRoute.asScala.toSeq
      .groupBy(_._1.split('/').head)
      .map { case (fam, kvs) =>
        val rs = kvs.map(_._2).distinct
        fam -> (if (rs.size == 1) rs.head else "mixed")
      }
  }

  private lazy val autoLog = org.slf4j.LoggerFactory.getLogger("graft.StandingIndex")

  /** Pick prefix vs banded from the SAME zero-job footer statistic the
    * [[guardPrefixProbe]] refusal reads — so a deployment gets the right
    * plan for its vocabulary shape without catching exceptions: growing
    * vocabulary (mean prefix df under the threshold) → the lossless
    * prefix probe; saturated vocabulary → the bucket-capped banded
    * probe. The decision is logged and recorded in [[lastAutoRoute]]. */
  private def autoRoute(s: SparkSession, tag: String, p: String,
                        family: String): String = {
    val mean = meanPrefixDf(s, tag, p)
    val max = maxMeanPrefixDf(s)
    val route = if (mean <= max) "prefix" else "banded"
    lastAutoRoute.put(s"$family/$tag", route)
    autoLog.info(f"$family: routed to $route probe " +
      f"(mean prefix df $mean%.1f vs threshold $max%.0f, index $tag)")
    route
  }

  /** Auto-routed standing dedup probe: [[incrementalDedupIndexed]] when
    * the index's vocabulary is still growing, [[incrementalDedupBanded]]
    * once it has saturated — same decision statistic as the guard, so
    * this form NEVER refuses; it runs the plan the refusal would have
    * named. At oracle scales the harness vocabulary routes to the
    * prefix probe (mean df ≤ 40 vs threshold 128), so the gated output
    * is [[Dedup.incrementalDedupSql]]'s; the banded route is spec-pinned
    * equal to the banded query's gated output. */
  def incrementalDedupAuto(s: SparkSession, dir: String): DataFrame = {
    val tag = ensureBuilt(s, dir)
    autoRoute(s, tag, "", "dedup_incremental_auto") match {
      case "prefix" => incrementalDedupIndexed(s, dir)
      case _        => incrementalDedupBanded(s, dir)
    }
  }

  /** Auto-routed incremental curation — [[incrementalDedupAuto]]'s
    * composed-pipeline sibling over the `cur*` index. */
  def curateIncrementalAuto(s: SparkSession, dir: String): DataFrame = {
    val tag = ensureCurationBuilt(s, dir)
    autoRoute(s, tag, "cur", "pipeline_curate_incremental_auto") match {
      case "prefix" => curateIncrementalIndexed(s, dir)
      case _        => curateIncrementalBanded(s, dir)
    }
  }

  /** Probe the standing index with the batch sliver (doc_id % 7 == 0) —
    * output identical to [[Dedup.incrementalDedup]], but the corpus is
    * never rescanned or reshuffled: all four index-side joins read
    * bucketed tables on their join keys. Lazy: its pins belong to the
    * caller's scope. */
  def incrementalDedupIndexed(s: SparkSession, dir: String): DataFrame =
    dedupIndexedPlan(s, ensureBuilt(s, dir),
      Tables.documents(s, dir).filter(col("doc_id") % 7 === 0))

  /** The standing dedup probe's LAZY plan, shared by the prefix
    * ([[incrementalDedupIndexed]]) and banded ([[incrementalDedupBanded]])
    * forms, which differ only in the guard and the candidate source —
    * the dedup twin of [[curateIndexedPlan]]. Its pins belong to the
    * caller's scope. */
  private def dedupIndexedPlan(s: SparkSession, tag: String, batch: DataFrame,
                               banded: Boolean = false): DataFrame = {
    def idx(name: String): DataFrame = s.table(s"graft_idx_${name}_$tag")
    // the banded probe is the guard's named remedy
    if (!banded)
      guardPrefixProbe(s, tag, "", "dedup_incremental_indexed",
        "dedup_incremental_banded (the banded standing probe)")
    // exact probe: each digest is pre-min'd PER SEGMENT, and appends may
    // add a second segment row for a digest — [[minAcrossSegments]]
    // re-collapses to the batch operator's lowest-twin rule only when the
    // MAINTAINED marker says segments can actually exist
    val exact = Pins.cache(minAcrossSegments(s, tag, "", batch
        .select(col("doc_id").as("batch_id"), md5(col("text")).as("h"),
          length(col("text")).as("len"))
        .join(idx("digests"), Seq("h", "len")), "batch_id", "corpus_id")
      .select(col("batch_id"), col("corpus_id"),
        lit("exact").as("kind"), lit(1.0).as("jac"))) // feeds both the output union and the left_anti below

    val rest = batch.join(
      exact.select(col("batch_id").as("doc_id")), Seq("doc_id"), "left_anti")
    val bArr = Pins.cache(Dedup.shingleArrays(rest).select(
      col("doc_id").as("batch_id"), col("sh"),
      size(col("sh")).cast("long").as("nb"))) // read twice: candidates + exact verify

    val best = Dedup.bestCorpusMatch(standingCandidates(bArr, idx, banded), bArr,
        idx("arrays"), Threshold)
      .select(col("batch_id"), col("corpus_id"), lit("near").as("kind"), col("jac"))
    exact.unionByName(best).orderBy("batch_id")
  }

  // ------------------------------------------- split-leakage audit index
  /** Audit-index builds done, keyed like [[built]]. Separate memo because
    * the audit index covers a DIFFERENT corpus split (the curation
    * corpus, doc_id % 10 <> 0) at a looser threshold
    * ([[Pipeline.LeakThreshold]] = 0.3) than the dedup index. */
  private val auditBuilt =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), String]

  private def auditTableNames(tag: String): Seq[String] =
    Seq("leakpost", "leakkept").map(n => s"graft_idx_${n}_$tag")

  /** Build (once per session+dir) the two standing audit tables
    * `split_leakage_audit` probes, and return the tag:
    *
    *  - `leakpost` — the FULL shingle postings over the curation corpus
    *    (`(s, corpus_id, nc)`, one row per distinct doc-shingle), bucketed
    *    by shingle. The audit's pair stage is a bucket-local self-join of
    *    this table followed by a count aggregation — exact Jaccard from
    *    the common count alone (J = c / (na + nb − c)), never an array
    *    re-verify. The round-13 scale rehearsal is why: the previous
    *    PPJoin-prefix + array-verify probe went 1.7 s → 521 s from sf0.1
    *    to sf1 because a t = 0.3 prefix keeps ~70% of each doc's shingles
    *    and the verify stage paid a distinct + double array join per
    *    candidate; the count form pays one narrow groupBy over the same
    *    join output and scales with Σ df² only (18 s at sf1 — see
    *    SCALE.md);
    *  - `leakkept` — the MATERIALIZED curation-survivor ids
    *    ([[Pipeline.keptDocs]]), bucketed by doc id. This is the
    *    production shape: a QA audit runs against the training set the
    *    pipeline already materialized — it does not re-run curation
    *    (here: the connected-components fixpoint) per audit.
    *
    * Same catalog-adoption rule as [[ensureBuilt]]. */
  def ensureAuditBuilt(s: SparkSession, dir: String): String =
    auditBuilt.synchronized {
      val k = (s, dir)
      val existing = auditBuilt.get(k)
      if (existing != null) existing
      else {
        val tag = tagOf(dir)
        if (auditTableNames(tag).forall(s.catalog.tableExists)) {
          auditBuilt.put(k, tag); tag
        } else { buildAuditFor(s, dir, tag); auditBuilt.put(k, tag); tag }
      }
    }

  private def buildAuditFor(s: SparkSession, dir: String, tag: String): Unit = {
    val corpus = Tables.documents(s, dir).filter(col("doc_id") % 10 =!= 0)
    val post = Dedup.shingleArrays(corpus)
      .select(col("doc_id").as("corpus_id"),
        size(col("sh")).cast("long").as("nc"), explode(col("sh")).as("s"))
    save(post, tag, "leakpost", "s", "overwrite")
    save(Pipeline.keptDocs(s, dir).select("doc_id"),
      tag, "leakkept", "doc_id", "overwrite")
  }

  /** The two audit tables as frames — the probe surface
    * [[Pipeline.splitLeakageAudit]] reads. */
  private[operators] def auditTables(s: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    val tag = ensureAuditBuilt(s, dir)
    (s.table(s"graft_idx_leakpost_$tag"),
     s.table(s"graft_idx_leakkept_$tag"))
  }

  // --------------------------------------- incremental-curation index
  /** Curation-index builds done, keyed like [[built]]. A third memo: this
    * index covers the standing KEPT set of the curation pipeline's base
    * half (doc_id % 10 <> 0 AND % 7 <> 0 survivors of the full five-stage
    * chain), not a raw corpus split. */
  private val curBuilt =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), String]

  private def curTableNames(tag: String): Seq[String] =
    Seq("curdigests", "curdfreq", "curprefix", "curarrays", "curbench",
        "curbands")
      .map(n => s"graft_idx_${n}_$tag")

  /** Build (once per session+dir) the standing curation tables
    * [[curateIncrementalIndexed]] probes, and return the tag:
    *
    *  - `curdigests` / `curarrays` / `curdfreq` / `curprefix` / `curbands`
    *    — the same five probe tables as the dedup index ([[writeProbeTables]]), but
    *    over the BASE-KEPT set ([[Pipeline.keptDocsOf]] on the % 7 <> 0
    *    half): what a deployment materializes is the curated state, so
    *    exact/near probes land on kept docs only — a batch doc identical
    *    to a doc the base curation DROPPED must flow on, which is exactly
    *    what an index that only holds kept docs yields for free;
    *  - `curbench` — the benchmark's distinct shingle set, bucketed by
    *    shingle. At deployment this is the eval-suite registry (MBs): the
    *    decontamination stage of every future delta probes it without
    *    rescanning any corpus.
    *
    * Same catalog-adoption rule as [[ensureBuilt]]; maintenance follows
    * [[appendFor]]'s invariants verbatim (same table shapes: frozen
    * `curdfreq` order, per-segment digest rows the probe re-minimizes,
    * append-only prefix/array rows with exact re-verification). */
  def ensureCurationBuilt(s: SparkSession, dir: String): String =
    curBuilt.synchronized {
      val k = (s, dir)
      val existing = curBuilt.get(k)
      if (existing != null) existing
      else {
        val tag = tagOf(dir)
        // same maintained-marker rule as [[ensureBuilt]]: a prior
        // session's appendCuration/deleteCurationFor moved the cur*
        // tables past the pristine base-kept build the shared
        // curateIncremental oracle models — rebuild instead of adopting
        if (curTableNames(tag).forall(s.catalog.tableExists) &&
            !isMaintained(s, tag, "cur")) {
          curBuilt.put(k, tag); tag
        } else { buildCurationFor(s, dir, tag); curBuilt.put(k, tag); tag }
      }
    }

  private[graft] def buildCurationFor(s: SparkSession, dir: String,
                                      tag: String): Unit = {
    val base = Tables.documents(s, dir)
      .filter(col("doc_id") % 10 =!= 0 && col("doc_id") % 7 =!= 0)
    // banded pair stage, matching [[Pipeline.curateIncremental]]'s kept
    // build (round 16) — the two must agree because they share one oracle
    val kept = Pipeline.keptDocsOf(s, dir, base)(Pipeline.bandedNearPairs)
    buildCurationFromKept(s, kept,
      Tables.documents(s, dir).filter(col("doc_id") % 10 === 0), tag)
  }

  /** Write the five curation tables from an explicit kept set + benchmark
    * doc set — the spec surface for lifecycle tests (append vs fresh
    * rebuild) that must not mutate the standard dir-keyed index. */
  private[graft] def buildCurationFromKept(s: SparkSession, kept: DataFrame,
                                           benchDocs: DataFrame,
                                           tag: String): Unit = {
    writeProbeTables(kept, tag, "cur")
    save(Dedup.shingles(benchDocs).select("s").distinct(),
      tag, "curbench", "s", "overwrite")
  }

  /** Append newly ADMITTED docs into the standing curation tables — the
    * maintenance half of the incremental-curation lifecycle: after a
    * delta probe, the `admitted` rows join the kept state so the NEXT
    * delta dedups against them. [[appendProbeTables]]'s invariants apply
    * verbatim (frozen `curdfreq` order, per-segment digests the probe
    * re-minimizes, append-only candidates under exact re-verification);
    * `curbench` is untouched — the eval suite changes by re-registration,
    * never by corpus growth. The lifecycle spec proves append-then-probe
    * equals a probe against a fresh index over kept ∪ admitted. */
  def appendCuration(s: SparkSession, dir: String, docs: DataFrame): Unit = {
    val tag = curBuilt.get((s, dir))
    require(tag != null,
      s"curation index for $dir not built in this session — ensureCurationBuilt first")
    appendCurationFor(s, tag, docs)
  }

  private[graft] def appendCurationFor(s: SparkSession, tag: String,
                                       docs: DataFrame): Unit =
    curBuilt.synchronized { appendProbeTables(s, tag, docs, "cur") }

  /** Compact the standing probe tables for `tag` (family prefix `p`: ""
    * = dedup index, "cur" = curation index) — the maintenance step that
    * keeps many small appends from fragmenting the bucketed tables.
    * [[appendProbeTables]] writes one file set per append segment, so N
    * daily appends make every later probe pay ~N× the file opens and
    * footer parses per bucket — the classic small-file pathology
    * [[Layout.compact]] exists for. This is Layout's size-derived
    * file-count rule applied UNDER the bucket spec: rows are
    * hash-repartitioned into a multiple of [[Buckets]] (Spark's
    * repartition-by-column and bucketBy use the same Murmur3 hash
    * family, so with a partition count that is a multiple of the bucket
    * count every write task holds exactly one bucket → one file per
    * task) and rewritten with the SAME `bucketBy`, so the probe's
    * exchange-free bucketed joins survive verbatim (spec-pinned). Pure
    * layout: the row set is untouched — compaction neither sets nor
    * clears the MAINTAINED marker, because pristine-ness is about rows,
    * not files. Each table is localCheckpoint'ed before its overwrite so
    * the write never reads the files it replaces (the
    * [[deleteProbeTables]] rule). `dfreq`/`curbench` are skipped: the
    * frozen order and the benchmark registry are written once and never
    * appended to. Returns (table, files before, files after). */
  def compact(s: SparkSession, tag: String, p: String = "",
              targetFileMB: Int = 128): Seq[(String, Int, Int)] = {
    val lock = if (p == "cur") curBuilt else built
    lock.synchronized {
      Seq((s"${p}digests", "h"), (s"${p}arrays", "corpus_id"),
          (s"${p}prefix", "s"), (s"${p}bands", "bucket"))
        .map { case (name, bucketCol) =>
        val path = new org.apache.hadoop.fs.Path(tablePath(s, tag, name))
        val fs = path.getFileSystem(s.sparkContext.hadoopConfiguration)
        def files(): Int = fs.listStatus(path).count { st =>
          val n = st.getPath.getName
          st.isFile && !n.startsWith("_") && !n.startsWith(".")
        }
        val before = files()
        val tbl = s.table(s"graft_idx_${name}_$tag")
        // files per bucket from the optimizer's size estimate (catalog /
        // listing at real scale), never a fixed count — clamped both ways
        // so a missing-stats Long.MaxValue cannot explode the task count
        val bytes = tbl.queryExecution.optimizedPlan.stats.sizeInBytes
        val perBucket = (bytes / (targetFileMB.toLong * 1024 * 1024) / Buckets)
          .min(BigInt(1024)).toInt.max(1)
        Pins.scope(save(Pins.checkpoint(tbl).repartition(Buckets * perBucket, col(bucketCol)),
          tag, name, bucketCol, "overwrite"))
        s.catalog.refreshTable(s"graft_idx_${name}_$tag")
        (name, before, files())
      }
    }
  }

  /** Probe the standing curation index with the delta sliver — output
    * identical to [[Pipeline.curateIncremental]] (same oracle), but
    * nothing corpus-sized is rescanned or reshuffled: the standing kept
    * state arrives through the four bucketed `cur*` tables, the
    * benchmark shingles through `curbench`, and the quality gates score
    * ONLY the sliver (per-doc decisions — subset flags equal global
    * flags restricted). This is the production shape: the per-run cost
    * a deployment pays daily is THIS query; the standing build is paid
    * once and maintained by appends. */
  def curateIncrementalIndexed(s: SparkSession, dir: String): DataFrame =
    curateIncrementalIndexedFor(s, ensureCurationBuilt(s, dir),
      Tables.documents(s, dir)
        .filter(col("doc_id") % 10 =!= 0 && col("doc_id") % 7 === 0))

  /** [[curateIncrementalIndexed]] against an explicit tag + delta frame —
    * the lifecycle surface: day-2 probes (post-append) and spec-owned
    * private tags route through here. */
  private[graft] def curateIncrementalIndexedFor(s: SparkSession, tag: String,
                                                 batch0: DataFrame): DataFrame =
    // the decision table is tiny (one row per batch doc) — materialize it
    // eagerly so the scope releases the plan's pins now (runs once per
    // micro-batch on the durable curation stream)
    Pins.scope(Pins.checkpoint(curateIndexedPlan(s, tag, batch0)))

  /** The BANDED standing probe — [[curateIncrementalIndexed]] with both
    * near stages riding the md5-minhash band family instead of the
    * lossless prefix filter: near_base candidates come from the batch's
    * band rows joined to the standing `curbands` table (hot buckets
    * star-collapsed to their minimum kept id), near_batch from the
    * star-capped banded self-join ([[Dedup.minhashMd5CandidatesFrom]]);
    * both verify exact full-set Jaccard ≥ 0.5 before any decision. This
    * is the probe [[guardPrefixProbe]] names as the remedy when the
    * vocabulary saturates: the prefix probe's lossless candidate stream
    * is Σ_s dfB(s)·dfC(s) — ~n²/|V| on a fixed vocabulary, the measured
    * 100× disk-killer — while the banded stream is bounded by the bucket
    * cap at ANY vocabulary shape, so this query runs where the indexed
    * form refuses. Own oracle ([[Pipeline.curateIncrementalBandedSql]]):
    * the banding, star caps and verification are hash-gated end-to-end,
    * recall is the band family's (reported by `dedup_minhash_recall`). */
  def curateIncrementalBanded(s: SparkSession, dir: String): DataFrame =
    curateIncrementalBandedFor(s, ensureCurationBuilt(s, dir),
      Tables.documents(s, dir)
        .filter(col("doc_id") % 10 =!= 0 && col("doc_id") % 7 === 0))

  /** [[curateIncrementalBanded]] against an explicit tag + delta frame —
    * the lifecycle/spec surface, mirroring
    * [[curateIncrementalIndexedFor]]. */
  private[graft] def curateIncrementalBandedFor(s: SparkSession, tag: String,
                                                batch0: DataFrame): DataFrame =
    Pins.scope(Pins.checkpoint(curateIndexedPlan(s, tag, batch0, banded = true)))

  /** The BANDED standing dedup probe — [[incrementalDedupIndexed]] with
    * the near stage riding the md5-minhash band family instead of the
    * lossless prefix filter: the batch sliver's band rows R-S-join the
    * standing `bands` table (hot corpus buckets star-collapsed to their
    * minimum corpus id), survivors verify exact full-set Jaccard ≥ 0.5
    * against the bucketed `arrays` table, best corpus match wins (same
    * tie rules). The exact digest stage is identical. This is the dedup
    * family's symmetric twin of [[curateIncrementalBanded]]: the prefix
    * probe's mean-df guard refuses a saturated-vocabulary index; this
    * probe's candidate volume is bucket-capped at any vocabulary shape,
    * so daily dedup keeps running there. Own oracle
    * ([[Dedup.incrementalDedupBandedSql]]) — banding, star cap and
    * verification hash-gated end-to-end; recall is the band family's
    * (`dedup_minhash_recall`). */
  def incrementalDedupBanded(s: SparkSession, dir: String): DataFrame =
    incrementalDedupBandedFor(s, ensureBuilt(s, dir),
      Tables.documents(s, dir).filter(col("doc_id") % 7 === 0))

  /** [[incrementalDedupBanded]] against an explicit tag + batch frame —
    * the lifecycle/spec surface. */
  private[graft] def incrementalDedupBandedFor(s: SparkSession, tag: String,
                                               batch: DataFrame): DataFrame =
    Pins.scope(Pins.checkpoint(dedupIndexedPlan(s, tag, batch, banded = true)))

  /** Batch→standing near candidates `(batch_id, corpus_id)` for a probe
    * batch's `(batch_id, sh, nb)` arrays against one index family's
    * tables (`idx` names them). The two standing sources:
    *  - BANDED: the batch's md5-minhash band rows (per-doc, computed on
    *    the sliver) against the standing `bands` rows on the bucket key.
    *    Hot standing buckets (> MaxBucket members — hash degeneracy or a
    *    giant kept cluster) collapse to their minimum id, the star rule
    *    every banded generator in the family uses: candidate volume is
    *    ≤ MaxBucket × |batch bands| + |hot-bucket hits|, INDEPENDENT of
    *    the vocabulary shape that makes the lossless prefix stream
    *    quadratic on a saturated vocabulary. Recall is the band family's
    *    (~0.9 at J = 0.5, measured by dedup_minhash_recall); each banded
    *    oracle models the banding end-to-end, so the trade is gated.
    *  - LOSSLESS prefix: the batch's prefixes under the FROZEN `dfreq`
    *    order (df 0 for index-unseen shingles — see the object scaladoc
    *    for why this stays lossless) against the bucketed `prefix` rows. */
  private def standingCandidates(bArr: DataFrame, idx: String => DataFrame,
                                 banded: Boolean): DataFrame =
    if (banded)
      bandedProbeCandidates(
        Dedup.mdBandRows(bArr.select(col("batch_id").as("doc_id"), col("sh")))
          .select(col("doc_id").as("batch_id"), col("band"), col("bucket")),
        idx("bands"))
    else
      Dedup.prefixCandidates(
        Dedup.prefixRows(bArr, "batch_id", "bn", idx("dfreq"), Threshold), "bn",
        idx("prefix"), "cn", Threshold)

  /** The banded R-S candidate rule, factored for the cap spec: probe band
    * rows (batch_id, band, bucket) × standing band rows (corpus_id, band,
    * bucket) → distinct (batch_id, corpus_id) candidates. A standing
    * bucket with ≤ [[Dedup.MaxBucket]] kept members expands fully; a hot
    * bucket (hash degeneracy or a giant kept cluster) contributes only
    * its MINIMUM kept id per probe hit — linear in probe size, and the
    * minimum is exactly the representative the kept build's own star cap
    * elects, so a batch doc near a hot cluster still reaches its
    * canonical twin. */
  private[graft] def bandedProbeCandidates(pb: DataFrame, kb: DataFrame): DataFrame = {
    val kstats = kb.groupBy("band", "bucket")
      .agg(count(lit(1)).as("ksz"), min("corpus_id").as("kmin"))
    // only buckets both sides share survive the join; stats are one
    // skinny row per standing bucket (AQE broadcasts while small)
    val pj = Pins.cache(pb.join(kstats, Seq("band", "bucket")))
    val candSmall = pj.filter(col("ksz") <= Dedup.MaxBucket)
      .join(kb, Seq("band", "bucket"))
      .select("batch_id", "corpus_id")
    val candStar = pj.filter(col("ksz") > Dedup.MaxBucket)
      .select(col("batch_id"), col("kmin").as("corpus_id"))
    candSmall.union(candStar).distinct()
  }

  /** The probe's LAZY plan — split out so the plan-pin spec can assert the
    * cur* scans stay bucketed (the public form checkpoints the result,
    * which hides the joins behind an ExistingRDD scan). Its pins belong to
    * the caller's scope. */
  private[graft] def curateIndexedPlan(s: SparkSession, tag: String,
                                       batch0: DataFrame,
                                       banded: Boolean = false): DataFrame = {
    def idx(name: String): DataFrame = s.table(s"graft_idx_cur${name}_$tag")
    val t = Threshold
    // the banded probe is the guard's named remedy — its candidate volume
    // is bounded by the band-bucket cap, not by the vocabulary shape
    if (!banded)
      guardPrefixProbe(s, tag, "cur", "pipeline_curate_incremental_indexed",
        "pipeline_curate_incremental_banded (the banded standing probe)")

    // a streaming delta carries only (doc_id, text); n_chars feeds just
    // [[DataPrep.splitOf]]'s projection (the split itself is a pure
    // doc_id hash) and is derived when absent
    val batch = Pins.cache((if (batch0.columns.contains("n_chars")) batch0
                 else batch0.withColumn("n_chars", length(col("text")))))
    val nullRef = lit(null).cast("long").as("ref_id")
    val nullJac = lit(null).cast("double").as("jac")
    val nullSplit = lit(null).cast("string").as("split")

    // 1a. exact vs the standing kept digests (re-min across segments).
    // Each survivor frame below feeds BOTH its decision branch and the
    // next stage's anti-join — cached once each (sliver-sized rows), like
    // incrementalDedupIndexed's `exact`; uncached, every downstream stage
    // re-evaluates the whole cascade and the planner disables the
    // bucketed digest scans it then sees many copies of
    val exactBase = Pins.cache(minAcrossSegments(s, tag, "cur", batch
        .select(col("doc_id"), md5(col("text")).as("h"),
          length(col("text")).as("len"))
        .join(idx("digests"), Seq("h", "len")), "doc_id", "ref_id")
      .select(col("doc_id"), lit("exact_base").as("decision"),
        col("ref_id"), lit(1.0).as("jac"), nullSplit))
    val r1 = batch.join(exactBase.select("doc_id"), Seq("doc_id"), "left_anti")

    // 1b. exact within the remaining batch (keep lowest id per text)
    val grp = Window.partitionBy(md5(col("text")), length(col("text")))
    val r1k = r1.withColumn("keep_id", min("doc_id").over(grp))
    val exactBatch = r1k.filter(col("doc_id") =!= col("keep_id"))
      .select(col("doc_id"), lit("exact_batch").as("decision"),
        col("keep_id").as("ref_id"), lit(1.0).as("jac"), nullSplit)
    val r2 = Pins.cache(r1k.filter(col("doc_id") === col("keep_id")).drop("keep_id"))

    // 2a. near vs the standing kept set: candidates off the curprefix or
    // curbands rows ([[standingCandidates]]), exact full-set verification
    // against curarrays, best match wins
    val bArr = Pins.cache(Dedup.shingleArrays(r2).select(
      col("doc_id").as("batch_id"), col("sh"),
      size(col("sh")).cast("long").as("nb")))
    // eager + tiny: the probe (candidate join + array verify) runs once,
    // not once for the union branch and again to populate r3's cache
    val nearBase = Pins.checkpoint(Dedup.bestCorpusMatch(
        standingCandidates(bArr, idx, banded), bArr, idx("arrays"), t)
      .select(col("batch_id").as("doc_id"), lit("near_base").as("decision"),
        col("corpus_id").as("ref_id"), col("jac"), nullSplit))
    val r3 = Pins.cache(r2.join(nearBase.select("doc_id"), Seq("doc_id"), "left_anti"))

    // 2b. near within the remaining batch — sliver-local CC collapse. The
    // banded form swaps the exact Σ df² self-join for the star-capped
    // band candidates here too: on the vocabulary shapes this probe
    // exists for, the SLIVER is itself corpus-proportional and the exact
    // within-batch join inherits the same quadratic term.
    val batchPairs =
      if (banded) {
        val r3Arr = bArr
          .join(r3.select(col("doc_id").as("batch_id")), Seq("batch_id"),
            "left_semi")
          .select(col("batch_id").as("doc_id"), col("sh"))
        Dedup.verifyPairs(Dedup.minhashMd5CandidatesFrom(r3Arr), r3Arr, t)
      } else Dedup.jaccardPairsFromArrays(bArr
        .join(r3.select(col("doc_id").as("batch_id")), Seq("batch_id"),
          "left_semi")
        .select(col("batch_id").as("doc_id"), col("sh")))
    val nearBatch = Dedup.ccLabels(batchPairs.select("a_id", "b_id"))
      .filter(col("id") =!= col("lbl"))
      .select(col("id").as("doc_id"), lit("near_batch").as("decision"),
        col("lbl").as("ref_id"), nullJac, nullSplit)
    val r4 = Pins.cache(r3.join(nearBatch.select("doc_id"), Seq("doc_id"), "left_anti"))

    // 3./4. quality gates scored over the SLIVER only (per-doc decisions)
    val rep = Pins.cache(QualityFilters.repetitionFlagsOf(r4).select("doc_id"))
    val repDrop = r4.select("doc_id").join(rep, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), lit("repetition").as("decision"),
        nullRef, nullJac, nullSplit)
    val r5 = Pins.cache(r4.join(rep, Seq("doc_id"), "left_anti"))
    val con = Pins.cache(QualityFilters.deconScoredOf(
        Dedup.shingles(r5), idx("bench").withColumn("hit", lit(1)))
      .select("doc_id"))
    val conDrop = r5.select("doc_id").join(con, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), lit("contaminated").as("decision"),
        nullRef, nullJac, nullSplit)
    val r6 = r5.join(con, Seq("doc_id"), "left_anti")

    // 5. admitted survivors carry their split assignment
    val admitted = DataPrep.splitOf(r6)
      .select(col("doc_id"), lit("admitted").as("decision"),
        nullRef, nullJac, col("split"))

    exactBase.unionByName(exactBatch).unionByName(nearBase)
      .unionByName(nearBatch).unionByName(repDrop).unionByName(conDrop)
      .unionByName(admitted)
      .orderBy("doc_id")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_incremental_indexed" -> (incrementalDedupIndexed _),
    "dedup_incremental_banded" -> (incrementalDedupBanded _),
    "dedup_incremental_auto" -> (incrementalDedupAuto _),
    "pipeline_curate_incremental_indexed" -> (curateIncrementalIndexed _),
    "pipeline_curate_incremental_banded" -> (curateIncrementalBanded _),
    "pipeline_curate_incremental_auto" -> (curateIncrementalAuto _)
  )

  /** Same oracle as `dedup_incremental` — the indexed probe's contract is
    * bit-identical output from the materialized index. The incremental-
    * curation probe shares `pipeline_curate_incremental`'s oracle under
    * the same contract; the banded probe has its own (the band candidates
    * change the decision set by the band family's recall). */
  def oracles: Map[String, String] = Map(
    "dedup_incremental_indexed" -> Dedup.incrementalDedupSql,
    "dedup_incremental_banded" -> Dedup.incrementalDedupBandedSql,
    // the harness vocabulary routes the auto forms to the prefix probe at
    // every oracle scale (mean df ≤ 40 vs threshold 128), so their gated
    // output is the prefix probes'; the banded route is spec-pinned
    "dedup_incremental_auto" -> Dedup.incrementalDedupSql,
    "pipeline_curate_incremental_indexed" -> Pipeline.curateIncrementalSql,
    "pipeline_curate_incremental_banded" -> Pipeline.curateIncrementalBandedSql,
    "pipeline_curate_incremental_auto" -> Pipeline.curateIncrementalSql
  )
}
