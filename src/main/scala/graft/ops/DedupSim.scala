package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import scala.util.chaining._
import graft.Tables

/** Dedup + similarity surface (SURVEY.md §2.9) — the LLM-training-data
  * operators the north star adds on top of the reference: exact and
  * near-duplicate detection over documents, vector similarity over
  * embeddings. Designed for 100 TB: near-dup uses MinHash banding so
  * candidate generation is a hash-bucket join, never O(n²); cosine
  * top-k broadcasts the single query vector.
  */
object DedupSim {
  /** Exact float carrier (see Functions.emb): float→double exact, then
    * double→DECIMAL(25,12) rounds identically in Spark and DuckDB. */
  private def emb(c: Column): Column =
    c.cast("double").cast(DecimalType(25, 12))

  /** All-zeros join key DERIVED FROM AN ATTRIBUTE: a literal key would
    * be folded away (FoldablePropagation → condition `true` → the
    * planner falls back to BroadcastNestedLoopJoin); pmod(hash(attr),1)
    * is always 0 but non-foldable, so "replicate rows against a tiny
    * broadcast table" plans as a proper BroadcastHashJoin. */
  private def k0(c: Column): Column = pmod(hash(c), lit(1))

  /** IVF coarse quantizer shared by q_sim_ann_ivf and q_dedup_embcos:
    * exact-decimal per-label centroids (deterministic under any
    * partitioning), reassembled into dim-ordered arrays. */
  private def labelCentroids(embeddings: DataFrame): DataFrame =
    embeddings
      .select(col("label"), posexplode(col("embedding")))
      .select(col("label"), col("pos"), emb(col("col")).as("x"))
      .groupBy(col("label"), col("pos"))
      .agg((sum(col("x")).cast("double") / count(lit(1))).as("c"))
      .groupBy(col("label"))
      .agg(expr("transform(array_sort(collect_list(struct(pos, c))), s -> s.c)")
        .as("cv"))
      .select(col("label").as("list_id"), col("cv"))

  /** O(metadata) CONTENT fingerprint of a parquet table path: an md5
    * over the sorted (path, length, mtime) manifest of every file under
    * it — ONE filesystem LIST, never a data scan. Replaces the
    * r13/r14 (count, max doc_id) probe, which (a) paid a column-pruned
    * scan of `documents` on EVERY admission — a real fact-table pass
    * per batch at 100 TB — and (b) missed regenerations that edit text
    * but keep the count and max id (ADVICE r14). Any rewrite changes
    * the manifest (Spark part files carry a fresh job UUID per write,
    * and lengths/mtimes move with content), so a stale index can never
    * be silently reused, while a FRESH-index admission touches only
    * the namenode / object-store listing — zero Spark jobs, asserted
    * in DedupSimSpec. */
  private[graft] def datasetFingerprint(s: SparkSession, path: String)
      : String = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
    def walk(p: org.apache.hadoop.fs.Path)
        : Seq[org.apache.hadoop.fs.FileStatus] = {
      val st = fs.getFileStatus(p)
      if (st.isDirectory)
        fs.listStatus(p).sortBy(_.getPath.getName).toSeq
          .flatMap(c => walk(c.getPath))
      else Seq(st)
    }
    val manifest = walk(root)
      .map(st => s"${st.getPath.toUri.getPath}|${st.getLen}|" +
        s"${st.getModificationTime}")
      .mkString("\n")
    java.security.MessageDigest.getInstance("MD5")
      .digest(manifest.getBytes("UTF-8"))
      .take(8).map(b => f"$b%02x").mkString
  }

  /** Collision-free per-dataset index-name prefix: the sanitized path
    * (kept for human readability) PLUS an 8-hex md5 of the RAW path.
    * Sanitizing '/'→'_' alone makes /data/sf1's prefix a string-prefix
    * of /data/sf1/extra's names, so [[dropStaleIndexes]]' prefix match
    * could drop a nested/sibling dataset's LIVE index and delete its
    * files (ADVICE r15); the raw-path hash makes each dataset's
    * namespace disjoint for every realistic path. One contrived
    * residual remained (ADVICE r16): a path that literally embeds
    * another dataset's sanitized name plus its 8-hex md5 could still
    * make that dataset's prefix a string-prefix of this one's names —
    * so [[dropStaleIndexes]] / [[dropStaleIndexDirs]] now match the
    * FULL name shape (anchored `prefix + 16-hex fingerprint`), never
    * a bare startsWith, and a live sibling index can only be dropped
    * if its entire name collides. */
  private[graft] def indexPrefix(kind: String, d: String): String = {
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(d.getBytes("UTF-8")).take(4).map(b => f"$b%02x").mkString
    kind + "_" + d.replaceAll("[^a-zA-Z0-9]", "_") + "_" + h + "_"
  }

  /** Drop every standing index table named `prefix` + a 16-hex
    * [[datasetFingerprint]] (the full anchored name shape — see the
    * [[indexPrefix]] scaladoc for why a bare startsWith is not
    * enough) that is not `keep`, plus its tmpdir parquet — without
    * this, every corpus regeneration would leak a stale
    * fingerprint-named table and its files for the life of the
    * metastore (ADVICE r14). */
  private[graft] def dropStaleIndexes(s: SparkSession, prefix: String,
      keep: String): Unit = {
    val shape =
      (java.util.regex.Pattern.quote(prefix) + "[0-9a-f]{16}").r
    s.catalog.listTables().collect().map(_.name)
      .filter(n => shape.matches(n) && n != keep)
      .foreach { n =>
        s.sql(s"DROP TABLE IF EXISTS `$n`")
        val p = new org.apache.hadoop.fs.Path(java.nio.file.Paths
          .get(System.getProperty("java.io.tmpdir"), n).toString)
        val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
        if (fs.exists(p)) fs.delete(p, true)
      }
  }

  /** q_dedup_incr — STANDING-INDEX incremental dedup (r13): the
    * signature index of the corpus-so-far is persisted ONCE as a
    * bucketed table (`bucketBy(8, sig)` + `sortBy` — the
    * q_join_bucketed write discipline), and each NEW batch is admitted
    * against the INDEX ONLY — history text is never rescanned. This is
    * the daily-ingest contract at 100 TB: the index is O(distinct
    * fingerprints) (one 32-byte md5 per distinct doc), pre-bucketed so
    * the admission join shuffles only the (small) incoming batch;
    * admitting N batches costs N batch-sized joins, not N corpus
    * rescans. Wire: the per-doc ADMISSION LEDGER — (doc_id, source,
    * decision) with decision ∈ kept / dup_index (fingerprint already
    * in the corpus) / dup_batch (a smaller doc_id in the same batch
    * holds the fingerprint; disjoint from dup_index by construction —
    * if the fingerprint is indexed, ALL its batch holders are
    * dup_index).
    *
    * The batch is PLANTED deterministically (the q_text_pii pattern)
    * because the shipped corpus has no exact duplicates: docs
    * ≡3 (mod 7) re-enter verbatim under doc_id+1_000_000 (→
    * dup_index), docs ≡0 (mod 10) enter as a NEW revision (text ⊕
    * " rev2") TWICE under +2_000_000 and +3_000_000 (first kept,
    * second dup_batch) — so every decision branch is oracle-exercised.
    *
    * DedupSimSpec proves the incremental contract: admission against
    * the standing index ≡ the from-scratch dedup of history ∪ batch
    * restricted to the batch, and the admission plan reads the index
    * table, never the history parquet. */
  def dedupIncr(s: SparkSession, d: String): DataFrame = {
    // the index name carries an O(metadata) CONTENT fingerprint (the
    // file-manifest hash of [[datasetFingerprint]] — a filesystem
    // LIST, no data scan): a regenerated corpus at the same path
    // rebuilds the index instead of silently reusing a stale one,
    // and a FRESH-index admission never touches the documents parquet
    // on the index side at all
    val pfx = indexPrefix("graft_dedup_idx", d)
    val idxT = pfx + datasetFingerprint(s, s"$d/documents.parquet")
    if (!s.catalog.tableExists(idxT)) {
      // fingerprint changed (or first build): the Tables memo may hold
      // a frame cached against the PREVIOUS generation's file listing —
      // evict it so index AND batch read the current files (ADVICE r15)
      Tables.refresh(s, d, "documents")
      dropStaleIndexes(s, pfx, idxT)
      Tables.documents(s, d)
        .select(md5(col("text")).as("sig")).distinct()
        .write.mode("overwrite")
        .bucketBy(8, "sig").sortBy("sig")
        .option("path", java.nio.file.Paths.get(
          System.getProperty("java.io.tmpdir"), idxT).toString)
        .format("parquet").saveAsTable(idxT)
    }
    dedupIncrAdmit(dedupIncrBatch(Tables.documents(s, d)), s.table(idxT))
  }

  /** The planted incoming batch over any (doc_id, source, text) frame:
    * verbatim re-entries (≡3 mod 7, +1e6) and a twice-submitted new
    * revision (≡0 mod 10, +2e6/+3e6). */
  private[graft] def dedupIncrBatch(documents: DataFrame): DataFrame = {
    val d = documents.select(col("doc_id"), col("source"), col("text"))
    d.filter(col("doc_id") % 7 === 3)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("source"),
        col("text"))
      .unionByName(d.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 2000000L).as("doc_id"), col("source"),
          concat(col("text"), lit(" rev2")).as("text")))
      .unionByName(d.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 3000000L).as("doc_id"), col("source"),
          concat(col("text"), lit(" rev2")).as("text")))
  }

  /** Admit `batch` (doc_id, source, text) against a standing signature
    * index ((sig) rows): one left join on sig + one within-batch
    * min-window — the batch shuffles, the bucketed index does not. */
  private[graft] def dedupIncrAdmit(batch: DataFrame, index: DataFrame)
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val b = batch.select(col("doc_id"), col("source"),
      md5(col("text")).as("sig"))
    b.join(index.select(col("sig"), lit(1).as("in_idx")),
        Seq("sig"), "left")
      .withColumn("first_id",
        min(col("doc_id")).over(Window.partitionBy(col("sig"))))
      .select(col("doc_id"), col("source"),
        when(col("in_idx").isNotNull, "dup_index")
          .when(col("doc_id") =!= col("first_id"), "dup_batch")
          .otherwise("kept").as("decision"))
      .orderBy(col("doc_id"))
  }

  /** q_dedup_incr_near — STANDING-INDEX incremental NEAR-dup admission
    * (r14): the MinHash/LSH counterpart of [[dedupIncr]] — the daily-
    * ingest contract a 100 TB training-data pipeline actually runs,
    * where re-crawled pages arrive lightly EDITED, not byte-identical.
    * The index is TWO bucketed signature artifacts derived ONCE from
    * history (history TEXT is never re-read or re-shingled):
    *   bands (band, bh, doc_id), bucketBy(8, bh) — the LSH probe side;
    *   sigs  (doc_id, hs),      bucketBy(8, doc_id) — the sorted
    *     shingle-hash sets exact-Jaccard verification reads.
    * Admitting a batch: shingle/minhash/band the BATCH ONLY (the
    * [[nearSignatures]] pipeline), probe the band table for (band, bh)
    * collisions → candidate (batch, history) pairs, verify J ≥ 0.8
    * against the stored hs sets, plus within-batch candidates via the
    * same exact [[bucketPairs]] grid. Wire: the per-doc ADMISSION
    * LEDGER (doc_id, source, decision), decision ∈ kept / dup_index
    * (J ≥ 0.8 with an indexed doc — takes precedence) / dup_batch
    * (J ≥ 0.8 with a smaller-id batch doc). Index storage is
    * O(signatures + shingle hashes) ≈ 1-2% of text volume; admitting N
    * batches costs N batch-sized probes, never a history rescan.
    *
    * The batch is PLANTED deterministically: docs ≡1 (mod 7) re-enter
    * VERBATIM (+1e6 → dup_index at J = 1); docs ≡5 (mod 9) re-enter
    * with an appended tail (+4e6 → exercises the J-threshold
    * verification: long docs clear 0.8, short ones fall below and are
    * KEPT — both engines of the spec's from-scratch twin agree
    * case-by-case); docs ≡0 (mod 10) enter as REVERSED word order
    * (entirely new 5-shingles → J ≈ 0 vs history) TWICE (+2e6 kept,
    * +3e6 dup_batch).
    *
    * ORACLE-CHECKED since r16 (the md5 minhash — DuckDB replays the
    * whole pipeline: shingle hashes, 128 permutation minima, band
    * collisions vs the index, within-batch pairs, J ≥ 0.8,
    * precedence); DedupSimSpec additionally proves the incremental
    * contract: admission against the standing index ≡ the
    * from-scratch [[dedupNearOn]] of history ∪ batch restricted to
    * the batch, and the admission plan reads the index tables, never
    * the documents parquet. */
  def dedupIncrNear(s: SparkSession, d: String): DataFrame = {
    // manifest-fingerprinted names (the dedupIncr discipline): a
    // regenerated corpus rebuilds the index instead of reusing a stale
    // one, and the freshness probe is a filesystem LIST, not a scan
    val fp = datasetFingerprint(s, s"$d/documents.parquet")
    val bandsPfx = indexPrefix("graft_neardup_bands", d)
    val sigsPfx = indexPrefix("graft_neardup_sigs", d)
    val bandsT = bandsPfx + fp
    val sigsT = sigsPfx + fp
    if (!s.catalog.tableExists(bandsT) || !s.catalog.tableExists(sigsT)) {
      Tables.refresh(s, d, "documents") // see dedupIncr (ADVICE r15)
      dropStaleIndexes(s, bandsPfx, bandsT)
      dropStaleIndexes(s, sigsPfx, sigsT)
      val perDoc = nearSignatures(
        Tables.documents(s, d).select(col("doc_id"), col("text")))
      nearBands(perDoc).write.mode("overwrite")
        .bucketBy(8, "bh").sortBy("bh")
        .option("path", java.nio.file.Paths.get(
          System.getProperty("java.io.tmpdir"), bandsT).toString)
        .format("parquet").saveAsTable(bandsT)
      perDoc.select(col("doc_id"), col("hs")).write.mode("overwrite")
        .bucketBy(8, "doc_id").sortBy("doc_id")
        .option("path", java.nio.file.Paths.get(
          System.getProperty("java.io.tmpdir"), sigsT).toString)
        .format("parquet").saveAsTable(sigsT)
      ScratchCache.releaseAll()
    }
    dedupIncrNearAdmit(dedupIncrNearBatch(Tables.documents(s, d)),
      s.table(bandsT), s.table(sigsT))
  }

  /** The planted incoming batch over any (doc_id, source, text) frame:
    * verbatim re-entries (≡1 mod 7, +1e6), appended-tail revisions
    * (≡5 mod 9, +4e6), and a twice-submitted reversed-order rewrite
    * (≡0 mod 10, +2e6/+3e6). */
  private[graft] def dedupIncrNearBatch(documents: DataFrame): DataFrame = {
    val dd = documents.select(col("doc_id"), col("source"), col("text"))
    val reversed = concat_ws(" ", reverse(split(col("text"), " ")))
    dd.filter(col("doc_id") % 7 === 1)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("source"),
        col("text"))
      .unionByName(dd.filter(col("doc_id") % 9 === 5)
        .select((col("doc_id") + 4000000L).as("doc_id"), col("source"),
          concat(col("text"), lit(" zz yy xx ww vv uu tt")).as("text")))
      .unionByName(dd.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 2000000L).as("doc_id"), col("source"),
          reversed.as("text")))
      .unionByName(dd.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 3000000L).as("doc_id"), col("source"),
          reversed.as("text")))
  }

  /** Admit `batch` (doc_id, source, text) against the standing near-dup
    * index (`bandsIdx` (band, bh, doc_id) + `sigsIdx` (doc_id, hs)):
    * batch signatures are computed in-flight; history is touched ONLY
    * through the two signature tables. */
  private[graft] def dedupIncrNearAdmit(batch: DataFrame,
      bandsIdx: DataFrame, sigsIdx: DataFrame): DataFrame = {
    val perB = nearSignatures(batch.select(col("doc_id"), col("text")))
    val hsB = perB.select(col("doc_id"), col("hs"))
    val bandsB = nearBands(perB)
    // vs index: band-bucket collisions → verified J ≥ 0.8.
    // batch bands are the (small) probe side; the index table is
    // pre-bucketed on bh. One distinct bounds repeat collisions
    // (several bands of the same pair) before verification.
    val candIdx = bandsB.as("x")
      .join(bandsIdx.as("y"),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .distinct()
    val dupIdx = jaccardVerify(candIdx, hsB, sigsIdx, 0.8, bcastB = false)
      .select(col("a").as("doc_id"), lit(1).as("in_idx")).distinct()
    // within batch: the exact block-grid pair enumeration + verify;
    // a doc is dup_batch when a SMALLER-id batch partner exists
    // (bucketPairs emits a < b, so the b side is the duplicate)
    val dupBatch = jaccardVerify(
        bucketPairs(bandsB, cap = 64), hsB, hsB, 0.8, bcastB = true)
      .select(col("b").as("doc_id"), lit(1).as("in_batch")).distinct()
    batch.select(col("doc_id"), col("source"))
      .join(dupIdx, Seq("doc_id"), "left")
      .join(dupBatch, Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"),
        when(col("in_idx").isNotNull, "dup_index")
          .when(col("in_batch").isNotNull, "dup_batch")
          .otherwise("kept").as("decision"))
      .orderBy(col("doc_id"))
  }

  /** q_dedup_exact — md5-fingerprint duplicate counts per source
    * (reference: KGXFileWriter's in-memory written-node id set, here a
    * distributed distinct). */
  def dedupExact(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(md5(col("text"))).as("n_distinct"),
        (count(lit(1)) - countDistinct(md5(col("text")))).as("n_dups"))
      .orderBy(col("source"))

  /** q_dedup_near — MinHash/LSH near-duplicate pairs. ORACLE-CHECKED
    * since r16: the shingle and band hashes are 60-bit md5 truncations
    * (bit-shared by both engines — the winnowing/tfidf idiom), so
    * DuckDB replays shingles → 128 permutation minima → band buckets →
    * candidates → exact Jaccard end-to-end; property tests still
    * assert recall ⊇ exact dups.
    *
    * Pipeline (all Catalyst expressions, zero UDFs):
    *   word 5-shingles (window leads over the token stream)
    *   → md5 shingle hash → 128 affine-permutation minima
    *   → 32 bands of 4 slots hashed together (md5)
    *   → explode bands, groupBy bucket → candidate pairs
    *   → exact shingle-set Jaccard ≥ 0.8 on candidates only.
    * At 100 TB scale the band explode is 32 rows/doc and the bucket
    * groupBy is the only shuffle before the (tiny) candidate join;
    * hot buckets (boilerplate docs) spread over a 2-D block grid in
    * [[bucketPairs]] so no single reducer owns a quadratic bucket. */
  def dedupNear(s: SparkSession, d: String): DataFrame =
    dedupNearOn(Tables.documents(s, d))

  /** Per-doc MinHash state shared by q_dedup_near and the standing-
    * index incremental admission (q_dedup_incr_near): one row per doc
    * with the 128-slot signature (m0..m127) AND the sorted distinct
    * shingle-hash set hs (the exact-Jaccard verification side).
    * Cached — one rolling-hash + aggregate pass feeds every consumer. */
  private[graft] def nearSignatures(documents: DataFrame): DataFrame = {
    // One row per distinct (doc, shingle) with ONE base hash; the 128
    // permutations are cheap affine transforms h*A_k+B_k (odd A_k) whose
    // per-group min is a single codegen'd hash-aggregate pass. The
    // nested-higher-order-function formulation (transform inside
    // transform) is a trap: CollapseProject inlines the shingle array
    // into every permutation slot and evaluation goes interpreted —
    // thousands of times slower.
    // Shingle identity is md5 OF THE 5-GRAM STRING, truncated to 60
    // bits (r16, replacing the r13 xxhash64 rolling hash): both
    // engines share md5 bit-for-bit (the q_text_winnowing /
    // q_text_tfidf idiom), which is what converts this key — and the
    // incremental-admission twin — from oracle-N to oracle-CHECKED.
    // The 5-gram is assembled from window leads of the token string
    // (codegen'd concat_ws; no higher-order function touches the hot
    // path — interpreted HOF evaluation + its per-element allocations
    // was the dominant cost and GC load of earlier variants). The
    // window's shuffle by doc_id is shared by the signature and
    // verification branches via ReuseExchange.
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val sh5 = documents
      .select(col("doc_id"), posexplode(split(lower(col("text")), " ")))
      .select(col("doc_id"), col("pos"), col("col").as("t0"))
      .select(col("doc_id"), col("t0"),
        lead(col("t0"), 1).over(w).as("t1"),
        lead(col("t0"), 2).over(w).as("t2"),
        lead(col("t0"), 3).over(w).as("t3"),
        lead(col("t0"), 4).over(w).as("t4"))
      .filter(col("t4").isNotNull) // docs shorter than 5 tokens drop out
      .select(col("doc_id"),
        conv(substring(md5(concat_ws(" ", col("t0"), col("t1"),
          col("t2"), col("t3"), col("t4"))), 1, 15), 16, 10)
          .cast("long").as("sh"))
    // Base hash masked to 32 bits so the affine permutations can't
    // overflow a long under ANSI arithmetic (32-bit value × 9-bit odd
    // multiplier + small offset stays < 2^42). Duplicate shingles don't
    // perturb a min, so no distinct pass is needed here.
    val hashed = sh5.withColumn("h", col("sh").bitwiseAND(lit(0xFFFFFFFFL)))
    val minCols = (0 until 128).map { k =>
      min(col("h") * lit(2L * k + 1) + lit(k * 1315423911L)).as(s"m$k")
    }
    // ONE aggregate produces both the 128-slot signature and the
    // distinct sorted hash set for verification: separate groupBys
    // would each re-run the rolling-hash window over the million-row
    // token table (different partial aggregates → different exchanges
    // → no reuse); a single aggregate shares one exchange among every
    // downstream branch.
    // THREE consumers below (the signature path and both sides of the
    // verification join): exchange reuse only shares the shuffle
    // files, the 128-min + collect_set evaluation above them re-runs
    // per branch — cache the per-doc result (|docs| rows, a few MB)
    // so the signature pipeline runs once
    hashed.groupBy(col("doc_id"))
      .agg(minCols.head,
        minCols.tail :+ sort_array(collect_set(col("sh"))).as("hs"): _*)
      .pipe(ScratchCache.cache)
  }

  /** The 32 LSH band rows (band, bh, doc_id) of a [[nearSignatures]]
    * frame — 4 signature slots mixed per band by an EXACT-INTEGER
    * polynomial (((m₀·31 + m₁)·31 + m₂)·31 + m₃, max ~3.4e16 — no
    * overflow), replayable in DuckDB verbatim and 32 md5s/doc cheaper
    * than a cryptographic band hash. A mix collision between unequal
    * quadruples can only ADD a candidate pair, which the exact
    * Jaccard verify then kills. */
  private[graft] def nearBands(perDoc: DataFrame): DataFrame = {
    val bandCols = (0 until 32).map { b =>
      val ms = (b * 4 until b * 4 + 4).map(k => col(s"m$k"))
      struct(lit(b).as("band"),
        (((ms(0) * 31L + ms(1)) * 31L + ms(2)) * 31L + ms(3)).as("bh"))
    }
    perDoc
      .select(col("doc_id"), explode(array(bandCols: _*)).as("bd"))
      .select(col("bd.band"), col("bd.bh"), col("doc_id"))
  }

  /** Exact-Jaccard verification of candidate (a, b) doc pairs against
    * two (doc_id, hs) sorted shingle-set frames — a pure
    * array_intersect expression per pair, linear in candidates. hsA is
    * broadcast (a few MB of 8 B hashes at test scale; at 100 TB both
    * joins become doc_id-keyed shuffle/bucket joins — still linear in
    * candidates, never O(n²)). Keeps pairs with J ≥ minJ. */
  private def jaccardVerify(cands: DataFrame, hsA: DataFrame,
      hsB: DataFrame, minJ: Double, bcastB: Boolean): DataFrame = {
    val zb = if (bcastB) broadcast(hsB.as("zb")) else hsB.as("zb")
    cands
      .join(broadcast(hsA.as("za")), col("a") === col("za.doc_id"))
      .join(zb, col("b") === col("zb.doc_id"))
      .select(col("a"), col("b"),
        expr("size(array_intersect(za.hs, zb.hs))").as("inter"),
        expr("size(za.hs)").as("na"), expr("size(zb.hs)").as("nb"))
      .select(col("a"), col("b"),
        round(col("inter").cast("double") /
          (col("na") + col("nb") - col("inter")), 6).as("jaccard"))
      .filter(col("jaccard") >= minJ)
  }

  /** Core of q_dedup_near over any (doc_id, text) frame — split out so
    * tests can plant known duplicates. */
  def dedupNearOn(documents: DataFrame): DataFrame = {
    val perDoc = nearSignatures(documents)
    val docsH = perDoc.select(col("doc_id"), col("hs"))
    val cands = bucketPairs(nearBands(perDoc), cap = 64)
    jaccardVerify(cands, docsH, docsH, 0.8, bcastB = true)
      .orderBy(col("a"), col("b"))
  }

  /** q_dedup_ngram — EXACT n-gram Jaccard near-dup (the fourth member
    * of the dedup family: exact ↔ MinHash ↔ SimHash ↔ n-gram Jaccard):
    * every pair of documents whose distinct word-5-gram sets have
    * Jaccard ≥ 0.5, computed exactly via a set-similarity join with
    * PREFIX FILTERING — never an all-pairs join:
    *   1. distinct (doc, 5-gram) rows; per-doc set size n;
    *   2. canonical gram order = (global document frequency ASC, gram):
    *      rarest grams first maximizes pruning;
    *   3. each doc indexes only its first p = n − ⌈τ·n⌉ + 1 grams: two
    *      sets with Jaccard ≥ τ MUST share a gram inside both prefixes
    *      (prefix-filter theorem), so candidates from the prefix
    *      inverted index are complete — the result is exact, and the
    *      index join avoids the stop-gram blowup of a full inverted
    *      index (a df-10⁶ gram contributes C(10⁶,2) pairs unfiltered);
    *   4. exact intersection counts only for candidate pairs, then
    *      J = inter / (na + nb − inter) ≥ τ.
    * All equi joins + hash aggregates; candidate volume is bounded by
    * Σ C(prefix-df, 2), which τ controls. */
  def dedupNgram(s: SparkSession, d: String): DataFrame =
    dedupNgramOn(Par.spread(Tables.documents(s, d), col("doc_id")))

  /** The staged intermediates of the exact-Jaccard/containment pair
    * pipelines. */
  private case class PairStages(grams: DataFrame, sizes: DataFrame,
      prefix: DataFrame, cands: DataFrame, tau: Double)

  private def ngramStages(documents: DataFrame): PairStages = {
    import org.apache.spark.sql.expressions.Window
    val tau = 0.5
    graft.plans.GraftExtensions.registerFunctions(documents.sparkSession)
    // gram construction is ROW-LOCAL via the native shingles()
    // Generator: the lead-window formulation this replaces shuffled and
    // sorted the whole exploded token table by (doc_id, pos) before the
    // first useful operator — a token-sized exchange bought for
    // nothing, since a document's shingles depend only on its own text.
    // The Generator evaluates interpreted (CodegenFallback, like
    // Spark's own json_tuple); at sf0.1 the swap is time-neutral (the
    // 5k-doc corpus is stage-scheduling-bound, ~1.5 s either way) — the
    // win is the removed exchange, which grows with the data while the
    // per-row interpretation cost stays flat
    val grams = documents
      .select(col("doc_id"), expr("shingles(text, 5)"))
      .select(col("doc_id"), col("shingle").as("ng"))
      .distinct()
      // five consumers (sizes, df, ranked, both inter sides): cache so
      // the tokenize+window+distinct pipeline runs once. 100 TB story:
      // memory cache becomes the wrong tool once the gram table exceeds
      // cluster RAM — there the swap is materializing this intermediate
      // to parquet (checkpoint / write+re-read between pipeline stages),
      // which keeps the run-once property, adds spill-free durability,
      // and lets each consumer's scan prune columns; the query shape
      // above is unchanged.
      .pipe(ScratchCache.cache)
    val sizes = grams.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val df = grams.groupBy(col("ng")).agg(count(lit(1)).as("gdf"))
    val ranked = grams.join(df, "ng")
      .withColumn("rk", row_number().over(Window.partitionBy(col("doc_id"))
        .orderBy(col("gdf"), col("ng"))))
      .join(sizes, "doc_id")
      .filter(col("rk") <= col("n") - ceil(col("n") * lit(tau)) + 1)
      .select(col("doc_id"), col("ng"))
      // both sides of the candidate self-join consume the prefix index:
      // cache so the df-join + rank window runs once, not per side
      .pipe(ScratchCache.cache)
    val cands = ranked.as("x").join(ranked.as("y"),
        col("x.ng") === col("y.ng") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .distinct()
    PairStages(grams, sizes, ranked, cands, tau)
  }

  def dedupNgramOn(documents: DataFrame): DataFrame = {
    // tau comes FROM the stages: the prefix-filter bound is only
    // exact when the verify threshold equals the prefix threshold
    val st = ngramStages(documents)
    val inter = st.cands
      .join(st.grams.select(col("doc_id").as("a"), col("ng")), "a")
      .join(st.grams.select(col("doc_id").as("b2"), col("ng").as("ng2")),
        col("b") === col("b2") && col("ng") === col("ng2"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("inter"))
    inter
      .join(st.sizes.select(col("doc_id").as("a"), col("n").as("na")), "a")
      .join(st.sizes.select(col("doc_id").as("b"), col("n").as("nb")), "b")
      .select(col("a"), col("b"),
        round(col("inter").cast("double") /
          (col("na") + col("nb") - col("inter")), 6).as("jaccard"))
      .filter(col("jaccard") >= st.tau)
      .orderBy(col("a"), col("b"))
  }

  /** q_dedup_contain — asymmetric n-gram CONTAINMENT: directed pairs
    * (a, b) where ≥ 80% of a's distinct word-5-grams appear in b —
    * C(a→b) = |A∩B| / |A|. The partial-copy detector Jaccard cannot
    * be: a short doc quoted inside a much longer one has tiny Jaccard
    * (union is dominated by the long doc) but containment ≈ 1. The
    * fourth member of the exact-dedup family (exact ↔ Jaccard ↔
    * containment ↔ lines).
    *
    * Exactness with a one-sided prefix filter: if |A∩B| ≥ ⌈t·|A|⌉,
    * then at most |A| − ⌈t·|A|⌉ of A's grams are unshared, so A's
    * first |A| − ⌈t·|A|⌉ + 1 grams in the canonical (df ASC, gram)
    * order contain at least one shared gram — candidates from
    * prefix(A) ⋈ full(B) are complete, and the result is exact.
    * Unlike Jaccard's prefix×prefix join, B must be FULLY indexed
    * (B's needed overlap ⌈t·|A|⌉ depends on the unknown partner size),
    * so candidate volume is Σ_g pdf(g)·df(g): prefixes hold each doc's
    * RAREST grams, keeping pdf mass on low-df grams — the stop-gram
    * C(df,2) blowup cannot enter through the prefix side. All equi
    * joins + hash aggregates, never all-pairs. */
  def dedupContain(s: SparkSession, d: String): DataFrame =
    dedupContainOn(Par.spread(Tables.documents(s, d), col("doc_id")))

  private def containStages(documents: DataFrame): PairStages = {
    import org.apache.spark.sql.expressions.Window
    val tau = 0.8
    graft.plans.GraftExtensions.registerFunctions(documents.sparkSession)
    // same row-local shingles() gram build as dedupNgramOn; three
    // consumers (prefix rank, full index side, intersection recount)
    val grams = documents
      .select(col("doc_id"), expr("shingles(text, 5)"))
      .select(col("doc_id"), col("shingle").as("ng"))
      .distinct()
      .pipe(ScratchCache.cache)
    val sizes = grams.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val df = grams.groupBy(col("ng")).agg(count(lit(1)).as("gdf"))
    val prefixA = grams.join(df, "ng")
      .withColumn("rk", row_number().over(Window.partitionBy(col("doc_id"))
        .orderBy(col("gdf"), col("ng"))))
      .join(sizes, "doc_id")
      .filter(col("rk") <= col("n") - ceil(col("n") * lit(tau)) + 1)
      .select(col("doc_id"), col("ng"))
    val cands = prefixA.as("x").join(grams.as("y"),
        col("x.ng") === col("y.ng") && col("x.doc_id") =!= col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .distinct()
    PairStages(grams, sizes, prefixA, cands, tau)
  }

  def dedupContainOn(documents: DataFrame): DataFrame = {
    val st = containStages(documents)
    val inter = st.cands
      .join(st.grams.select(col("doc_id").as("a"), col("ng")), "a")
      .join(st.grams.select(col("doc_id").as("b2"), col("ng").as("ng2")),
        col("b") === col("b2") && col("ng") === col("ng2"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("inter"))
    inter
      .join(st.sizes.select(col("doc_id").as("a"), col("n").as("na")), "a")
      .select(col("a"), col("b"),
        round(col("inter").cast("double") / col("na"), 6).as("containment"))
      .filter(col("containment") >= st.tau)
      .orderBy(col("a"), col("b"))
  }

  /** q_dedup_cluster — near-dup CLUSTER collapse, the step after pair
    * finding that an actual dedup run needs: exact n-gram Jaccard pairs
    * ([[dedupNgramOn]]) become connected components
    * ([[GraphOps.ccLabels]] — pair graphs are exactly where transitive
    * closure matters: A~B, B~C ⇒ one cluster even when A,C don't pair),
    * each cluster keeps its minimum doc_id as the canonical survivor,
    * and everything else is removed. Per-source ledger: docs, docs in
    * dup clusters, removed docs, kept docs.
    *
    * Scale shape: pairs are sparse (bounded by the prefix filter), the
    * CC runs on the PAIR graph (≪ corpus), and the final classification
    * is one equi join of the corpus against the (tiny) label table —
    * broadcastable at any realistic dup rate. No oracle (iterative CC);
    * planted-cluster invariants in DedupSimSpec. */
  def dedupCluster(s: SparkSession, d: String): DataFrame =
    dedupClusterOn(Par.spread(Tables.documents(s, d), col("doc_id")))

  def dedupClusterOn(documents: DataFrame): DataFrame = {
    // the pair table is THIS operator's multi-consumer intermediate
    // (ccLabels reads it more than once): cache the projected pairs
    // here, NOT the full pair-query result — a result-level cache
    // would also serve q_dedup_ngram's own bench reps and turn that
    // measurement into a cache read
    val pairs = ScratchCache.cache(
      dedupNgramOn(documents).select(col("a"), col("b")))
    val labels = GraphOps.ccLabels(pairs)
      .withColumnRenamed("node", "doc_id")
    documents.join(labels, Seq("doc_id"), "left")
      .select(col("source"),
        col("comp").isNotNull.cast("int").as("in_cluster"),
        (col("comp").isNotNull && col("comp") =!= col("doc_id"))
          .cast("int").as("removed"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("in_cluster")).cast("long").as("n_in_dup_clusters"),
        sum(col("removed")).cast("long").as("n_removed"),
        (count(lit(1)) - sum(col("removed"))).cast("long").as("n_kept"))
      .orderBy(col("source"))
  }

  /** q_dedup_semantic — SEMANTIC dedup over the EMBEDDING modality
    * (the SemDeDup shape, Abbas et al. 2023 — public paper: cluster
    * the embedding space coarsely, then keep one representative of
    * each within-cluster group of near-identical vectors). This
    * completes the dedup-run family across modalities (text:
    * minhash/simhash/ngram; image: phash; audio: fingerprint;
    * embeddings: this): [[kdQuantize]] buckets the space into ≈ √N
    * near-balanced lists, candidate pairs are WITHIN-LIST only
    * (cosine ≥ τ verified by the native codegen `cosine_sim`), pairs
    * become connected components ([[GraphOps.ccLabels]] — transitive
    * closure matters), each cluster keeps its minimum vec_id, and the
    * wire is the per-label collapse ledger. Near-dup vectors are
    * PLANTED (every vec_id%25==0 gets a dim-0-perturbed twin at
    * id+10,000,000 — cosine ≈ 0.9999998 vs the corpus's unrelated
    * max ≈ 0.51, so τ = 0.999 separates cleanly).
    *
    * Approximation contract: pairs split across quantizer lists are
    * missed BY DESIGN (SemDeDup's own trade — candidate volume drops
    * N² → Σ|list|²/2 ≈ N·√N/2). ORACLE-CHECKED since r16: the
    * equal-width [[kdQuantize]] is pinned double/integer arithmetic,
    * so DuckDB replays the corpus+twin build, the quantizer rounds,
    * the within-list cosine ≥ τ pairs, pointer-doubling CC and the
    * collapse ledger end-to-end ([[graft.oracle.OracleSql]]
    * semanticSql). DedupSimSpec additionally asserts (1) EXACT
    * equality with brute-force all-pairs dedup when the quantizer is
    * forced to one list, (2) the planted-twin ledger on the real
    * corpus, (3) found pairs are always a subset of brute-force pairs
    * (no false positives — the cosine verify is exact) at any k.
    *
    * Scale shape: the within-list self-join is bounded by the list
    * size (near-balanced up to the distribution's shape under
    * equal-width cuts); CC runs
    * on the PAIR graph (≪ corpus); the final classification is one
    * equi join of the corpus against the label table. */
  def dedupSemantic(s: SparkSession, d: String): DataFrame = {
    val n = parquetRowCount(s, s"$d/embeddings.parquet")
    dedupSemanticOn(Tables.embeddings(s, d), tau = 0.999, knownCount = n)
  }

  /** Core of q_dedup_semantic over any (vec_id, label, embedding)
    * frame. `kOverride` forces the quantizer list count (tests use 1
    * for the brute-force-equality differential). */
  def dedupSemanticOn(embeddings: DataFrame, tau: Double,
      knownCount: Option[Long] = None,
      kOverride: Option[Int] = None): DataFrame = {
    val s = embeddings.sparkSession
    graft.plans.GraftExtensions.registerFunctions(s)
    val base = embeddings.select(col("vec_id"), col("label"),
      expr("transform(embedding, x -> cast(x as double))").as("v"))
    val twins = base.filter(col("vec_id") % 25 === 0)
      .select((col("vec_id") + 10000000L).as("vec_id"), col("label"),
        expr("transform(v, (x, i) -> IF(i = 0, cast(x + 0.001d as double), x))")
          .as("v"))
    // corpus + twins feed the quantizer, the pair verify AND the final
    // classification join — cache the union once
    val vecs = ScratchCache.cache(base.unionByName(twins))
    val n = knownCount.map(c => c + (c + 24) / 25)
      .getOrElse(vecs.count())
    val k = kOverride.getOrElse(
      math.max(1, math.ceil(math.sqrt(n.toDouble)).toInt))
    val assigned = ScratchCache.cache(
      kdQuantize(vecs.select(col("vec_id"), col("v")), k))
    val pairs = ScratchCache.cache(semanticPairs(assigned, tau))
    val labels = GraphOps.ccLabels(pairs)
      .withColumnRenamed("node", "vec_id")
    vecs.join(labels, Seq("vec_id"), "left")
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(col("comp").isNotNull.cast("long")).as("n_in_dup_clusters"),
        countDistinct(col("comp")).as("n_clusters"),
        sum((col("comp").isNotNull && col("comp") =!= col("vec_id"))
          .cast("long")).as("n_removed"),
        (count(lit(1)) - sum((col("comp").isNotNull &&
          col("comp") =!= col("vec_id")).cast("long"))).as("n_kept"))
      .orderBy(col("label"))
  }

  /** Within-list cosine ≥ τ pair enumeration over a kdQuantize
    * assignment — the SemDeDup candidate+verify step, factored out so
    * the spec can differential it against brute force. */
  private[graft] def semanticPairs(assigned: DataFrame, tau: Double)
      : DataFrame =
    assigned.as("x").join(assigned.as("y"),
        col("x.list_id") === col("y.list_id") &&
        col("x.vec_id") < col("y.vec_id"))
      .filter(expr("cosine_sim(x.v, y.v)") >= tau)
      .select(col("x.vec_id").as("a"), col("y.vec_id").as("b"))

  /** q_emb_quantize — int8 embedding quantization, the storage/ANN
    * compression step a 100 TB embedding pipeline runs before indexing:
    * per-vector max-abs scaling, q = round(v·127/maxabs) ∈ [−127,127]
    * (zero vectors quantize to zeros). The one double computation uses
    * an identical IEEE operation order in both engines, so the integer
    * outputs are exact and oracle-able. Narrow shapes only: posexplode
    * + one per-vector window max + hash agg — no joins, no data ever
    * leaves its partition except the final per-label aggregate. */
  def embQuantize(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("vec_id"))
    Tables.embeddings(s, d)
      .select(col("vec_id"), col("label"), posexplode(col("embedding")))
      .select(col("vec_id"), col("label"),
        col("col").cast("double").as("v"))
      .withColumn("ma", max(abs(col("v"))).over(w))
      .withColumn("q", when(col("ma") === 0d, 0L)
        .otherwise(round(col("v") * lit(127d) / col("ma")).cast("long")))
      .groupBy(col("label"))
      .agg(countDistinct(col("vec_id")).as("n_vecs"),
        sum(col("q")).as("sum_q"),
        min(col("q")).as("min_q"),
        max(col("q")).as("max_q"),
        sum(when(abs(col("q")) === 127, 1L).otherwise(0L)).as("n_extreme"))
      .orderBy(col("label"))
  }

  /** Candidate-pair enumeration within (band, bh) buckets, with hot
    * buckets spread over a 2-D block grid — the boilerplate-document
    * skew fix: 500 identical docs share every band bucket, and a plain
    * self-join would put all ~125k of that bucket's pairs on ONE
    * reducer. Here a bucket of size B gets S = min(16, ⌈B/cap⌉)
    * deterministic hash blocks; the x side replicates each member
    * against every y-block and vice versa, so the join key
    * (band, bh, block_x, block_y) splits one hot bucket's pair grid
    * across S² reducers. Every (u, v) pair meets on exactly one key
    * (u's block, v's block), so the candidate SET — and therefore
    * near-dup recall — is identical to the unsalted join (asserted by
    * a planted-cluster property test). Cold buckets have S = 1: no
    * replication, same plan as before. */
  private[graft] def bucketPairs(buckets: DataFrame, cap: Int,
      pred: Option[(String, String) => Column] = None,
      dedup: Boolean = true): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sized = buckets
      .withColumn("s",
        least(ceil(count(lit(1)).over(
          Window.partitionBy(col("band"), col("bh"))) / lit(cap.toDouble)),
          lit(16L)).cast("int"))
      .withColumn("blk", pmod(xxhash64(col("doc_id")), col("s")).cast("int"))
    // extra input columns ride along on both sides so `pred` — an
    // optional pair predicate built from the two side aliases — can be
    // evaluated INSIDE the candidate join: a quantized bucket grid
    // over-admits (e.g. the embcos ε band quantizes a peaked 1-D
    // distribution into hot buckets whose pair grid is ~40× the true
    // band volume), and filtering during the hash-join probe means the
    // over-admitted pairs are never materialized, shuffled or
    // distinct()ed
    val x = sized
      .withColumn("rep", explode(sequence(lit(0), col("s") - 1)))
      .withColumnRenamed("blk", "bx").withColumnRenamed("rep", "ry")
      .as("x")
    val y = sized
      .withColumn("rep", explode(sequence(lit(0), col("s") - 1)))
      .withColumnRenamed("rep", "rx").withColumnRenamed("blk", "by")
      .as("y")
    val joined = x.join(y,
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh") &&
        col("x.bx") === col("y.rx") && col("x.ry") === col("y.by") &&
        col("x.doc_id") < col("y.doc_id") &&
        pred.map(f => f("x", "y")).getOrElse(lit(true)))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
    // the grid itself meets every pair on exactly ONE key; distinct()
    // is only needed when the INPUT puts a pair into several (band,
    // bh) buckets (phash's four bands, the ε band's two-bucket
    // emission). A caller whose pred already selects one canonical
    // shared bucket per pair passes dedup = false and skips the
    // pair-stream shuffle.
    if (dedup) joined.distinct() else joined
  }

  /** q_sim_cosine_topk — brute-force cosine top-10 against one query
    * vector (vec_id=0). The query side is a 1-row broadcast; dot and
    * norms are sequential left-to-right folds exactly like DuckDB's
    * list_dot_product, so the doubles match bit-for-bit before the 6dp
    * round. The IVF/LSH-bucketed variant is the documented scale path
    * (q_dedup_near shows the banding machinery). */
  def simCosineTopK(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), col("label"),
        expr("transform(embedding, x -> cast(x as double))").as("v"))
    val q = e.filter(col("vec_id") === 0)
      .select(col("v").as("qv"), k0(col("vec_id")).as("k"))
    e.filter(col("vec_id") =!= 0)
      .withColumn("k", k0(col("vec_id")))
      .join(broadcast(q), "k")
      .select(col("vec_id"), col("label"),
        round(
          expr("aggregate(zip_with(v, qv, (x, y) -> x * y), 0d, (acc, x) -> acc + x)") /
          (sqrt(expr("aggregate(transform(v, x -> x * x), 0d, (acc, x) -> acc + x)")) *
           sqrt(expr("aggregate(transform(qv, x -> x * x), 0d, (acc, x) -> acc + x)"))),
          6).as("cos"))
      .orderBy(col("cos").desc, col("vec_id"))
      .limit(10)
  }

  /** q_sim_knn_graph — exact k-NN JOIN over a deterministic query
    * sample (every 50th vector): each query's top-3 cosine neighbors
    * among all other vectors, the building block of kNN-graph
    * construction (semantic-dedup clustering, diversity sampling, graph
    * ANN indexes all start from this edge list).
    *
    * Scale shape: the query side is a sampled, dimension-sized frame —
    * it BROADCASTS (on the non-foldable all-zeros key; a true cross
    * join would plan as a census-breaking BNLJ) and the corpus streams
    * past it once, row-locally computing cosines; per-query top-k is a
    * rank window partitioned by query id over the (|corpus|·|queries|)
    * scored pairs, which AQE splits across reducers by query id. For
    * corpus×corpus kNN (queries = everything) the documented scale path
    * is the LSH/IVF-bucketed candidate join ([[simAnnLsh]]/
    * [[simAnnIvf]]) feeding the same rank window — this key pins the
    * exact semantics those approximations are measured against.
    * DETERMINISM: ranking orders by the 6dp-ROUNDED cosine (identical
    * doubles in both engines — the codegen [[graft.functions
    * .CosineSimilarity]] accumulates in ascending index order exactly
    * like the oracle's fold; same parity the embcos oracle proves)
    * with vec_id tiebreak. The sf0.1→sf1 sweep caught TWO scale bugs
    * here: (1) the interpreted per-pair lambda chain (dot + BOTH norms
    * re-derived per pair) scaled at 94× for 10× data — fixed by the
    * fused codegen expression (150.8 → 16 s at sf1); (2) the pair
    * expansion inherited the SCAN's partitioning — a 5 MB / 20k-row
    * parquet reads as 2 splits, so the 8M-pair join, cosine, and
    * partial top-k sort all ran on 2 of 32 cores. The explicit
    * defaultParallelism repartition of the corpus side spreads the
    * expansion (16 → ~2 s at sf1); explicit numPartitions so AQE
    * cannot coalesce the deliberately small-input shuffle back down. */
  def knnGraph(s: SparkSession, d: String): DataFrame =
    knnGraphOn(Tables.embeddings(s, d))

  /** Core of q_sim_knn_graph over any (vec_id, embedding) frame. */
  def knnGraphOn(embeddings: DataFrame): DataFrame = {
    graft.plans.GraftExtensions.registerFunctions(embeddings.sparkSession)
    val e = embeddings
      .select(col("vec_id"),
        expr("transform(embedding, x -> cast(x as double))").as("v"))
    val q = e.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("q_id"), col("v").as("qv"),
        k0(col("vec_id")).as("k"))
    // spread the |corpus|·|queries| expansion across all cores: the
    // corpus parquet alone is tiny (few input splits) but each row
    // fans out to |queries| pairs downstream
    val par = embeddings.sparkSession.sparkContext.defaultParallelism
    val scored = e.repartition(par, col("vec_id"))
      .withColumn("k", k0(col("vec_id")))
      .join(broadcast(q), "k")
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("nb_id"),
        round(expr("cosine_sim(v, qv)"), 6).as("cos"))
    scored
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("q_id"))
          .orderBy(col("cos").desc, col("nb_id"))).cast("long"))
      .filter(col("rk") <= 3)
      .orderBy(col("q_id"), col("rk"))
  }

  /** q_dedup_simhash — SimHash near-dup detection, fully oracle-checked:
    * a 60-bit fingerprint per doc (bit j = sign of the count-weighted
    * sum of term-hash bit j), banded into 4×15-bit LSH buckets, with
    * candidate pairs kept when Hamming distance ≤ 3. The term hash is
    * the first 15 hex chars of md5 (portable: DuckDB parses the same
    * value), so every step is exact integer arithmetic in both engines.
    * Same O(n·bands) candidate structure as MinHash — never O(n²). */
  def dedupSimhash(s: SparkSession, d: String): DataFrame =
    dedupSimhashOn(Par.spread(Tables.documents(s, d), col("doc_id")))

  def dedupSimhashOn(documents: DataFrame): DataFrame = {
    val tf = documents
      .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("h",
        conv(substring(md5(col("term")), 1, 15), 16, 10).cast("long"))
    val bitSums = (0 until 60).map { j =>
      sum(when(shiftright(col("h"), j).bitwiseAND(1) === 1, col("cnt"))
        .otherwise(-col("cnt"))).as(s"b$j")
    }
    val sums = tf.groupBy(col("doc_id")).agg(bitSums.head, bitSums.tail: _*)
    val simhash = (0 until 60).map { j =>
      when(col(s"b$j") >= 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)
    val sh = sums.select(col("doc_id"), simhash.as("simhash"))
    val bands = array((0 until 4).map { b =>
      struct(lit(b).as("bi"),
        shiftright(col("simhash"), b * 15).bitwiseAND(0x7FFF).as("bv"))
    }: _*)
    // both sides of the band self-join consume this (4 rows/doc, tiny):
    // cache so the 60-sum fingerprint aggregate evaluates once instead
    // of once per join side (the exchange below is reused either way,
    // the aggregate above it is not)
    val bk = sh.select(col("doc_id"), col("simhash"), explode(bands).as("bd"))
      .select(col("doc_id"), col("simhash"), col("bd.bi"), col("bd.bv"))
      .pipe(ScratchCache.cache)
    bk.as("x").join(bk.as("y"),
        col("x.bi") === col("y.bi") && col("x.bv") === col("y.bv") &&
        col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
        bit_count(col("x.simhash").bitwiseXOR(col("y.simhash")))
          .cast("int").as("hamming"))
      .distinct()
      .filter(col("hamming") <= 3)
      .orderBy(col("a"), col("b"))
  }

  /** q_dedup_embcos — embedding-cosine near-dup: the 50 closest vector
    * pairs by cosine (native codegen expression), totally ordered by
    * (rounded cos DESC, pair ids) so the cut is deterministic. A
    * threshold filter would be data-dependent; top-k keeps the
    * operator meaningful at every scale.
    *
    * NOT a nested-loop all-pairs join: exact top-k in two phases.
    *   1. SEED: [[kdQuantize]] partitions the vectors into k ≈ √N
    *      near-balanced lists (ceil(log₂√N) approx-median bisection
    *      rounds — sized to the data, so same-list volume is ~N·√N/2
    *      at every N, never N²/k for a fixed k). All same-list pairs
    *      are candidates; their 50th-best raw cosine is τ.
    *   2. PROJECTION-BAND cross candidates: for unit vectors,
    *      cos(u,v) ≥ τ ⟹ ‖û−v̂‖ ≤ ε = √(2−2τ), and for ANY fixed unit
    *      direction w, |⟨û,w⟩−⟨v̂,w⟩| ≤ ‖û−v̂‖ ≤ ε — so every pair
    *      that could displace a seed lies within ε on EVERY 1-D
    *      projection. Vectors are bucketed on floor(p₁/ε) (each row
    *      emitted to its bucket and the next, so any pair within ε
    *      shares a bucket — the r16 replacement for the spherical
    *      triangle-inequality list bound, which concentration of
    *      measure makes vacuous in 64-dim: the r15 10× sweep showed
    *      100% of list pairs surviving it). Bucket pairs enumerate
    *      through [[bucketPairs]]' 2-D block grid (hot buckets spread
    *      across reducers), then a SECOND projection p₂ filters
    *      scalar-narrow rows before the only wide work — the 64-dim
    *      cosine — runs on the survivors.
    * Exactness: a dropped cross pair has |p₁ diff| > ε or
    * |p₂ diff| > ε ⟹ cos < τ − 1.1·10⁻⁶, so after the 6-dp rounding
    * it ranks STRICTLY below all 50 same-list seeds (two doubles more
    * than 1.1e-6 apart can never round to the same 1e-6 grid point —
    * the slack is folded into ε) and cannot enter the top-50 under
    * the (rounded cos DESC, a, b) order. DedupSimSpec's brute-force
    * differential asserts top-50 equality on strongly clustered sets.
    *
    * Scale shape: every join is an equi join (bucket ids, vec ids) —
    * no BNLJ anywhere; candidate volume is N·√N/2 seeds plus the
    * ε-band collisions. On a real dup-carrying corpus — the actual
    * 100 TB near-dup case — τ is driven to ≈1 by the dups themselves,
    * ε collapses, and cross volume is ~linear (measured at gen-sf1:
    * planted twins give τ ≈ 0.9998 ⟹ ε = 0.02, vs the r15 angular
    * bound enumerating ~N²/2 = 199M pairs); on a dup-free weak set τ
    * stays low and the band admits ~all pairs — but then the exact
    * top-50 genuinely requires them, and they stream through bucketed
    * shuffle joins on narrow (id, p₁, p₂) rows, never wide vectors
    * (PropertiesSpec "embcos candidate volume" measures
    * [[embCosCandidateCount]] on planted-cluster sets at N ∈
    * {5k, 20k} and asserts ~N^1.5 growth). */
  def dedupEmbCos(s: SparkSession, d: String): DataFrame =
    dedupEmbCosOn(Tables.embeddings(s, d),
      parquetRowCount(s, s"$d/embeddings.parquet"))

  /** Core of q_dedup_embcos over any (vec_id, embedding) frame.
    * `knownCount` (when the caller has it from table metadata) keeps
    * query construction fully lazy — no sizing job runs before the
    * returned DataFrame is acted on. */
  def dedupEmbCosOn(embeddings: DataFrame,
      knownCount: Option[Long] = None): DataFrame = {
    val parts = embCosParts(embeddings, knownCount)
    // the one wide join: fetch full vectors for the filtered cross
    // candidates only
    val v2 = parts.assigned.select(col("vec_id"), col("v"))
    val cross = parts.crossCand
      .join(v2.as("x"), col("a") === col("x.vec_id"))
      .join(v2.as("y"), col("b") === col("y.vec_id"))
      .select(col("a"), col("b"), expr("cosine_sim(x.v, y.v)").as("cos_raw"))
    parts.same.unionByName(cross)
      .select(col("a"), col("b"), round(col("cos_raw"), 6).as("cos"))
      .orderBy(col("cos").desc, col("a"), col("b"))
      .limit(50)
  }

  /** The pruning skeleton shared by [[dedupEmbCosOn]] and the
    * candidate-volume audit [[embCosCandidateCount]]:
    * `assigned` = (vec_id, v, list_id, p₁, p₂) for every vector,
    * `same` = all same-list pair cosines (the τ seeds),
    * `crossCand` = the cross-list (a, b) id pairs inside the ε band
    * on both projections — the only pairs that still need the full
    * cosine. */
  private case class EmbCosParts(
      assigned: DataFrame, same: DataFrame, crossCand: DataFrame)

  private def embCosParts(embeddings: DataFrame,
      knownCount: Option[Long] = None): EmbCosParts = {
    val s = embeddings.sparkSession
    graft.plans.GraftExtensions.registerFunctions(s)
    // k ≈ √N sizes the quantizer to the data. Callers that know the
    // table's row count (e.g. from parquet footers via
    // [[parquetRowCount]]) pass it so NO job runs during query
    // construction; the count() fallback serves arbitrary in-memory
    // frames (tests). k only needs to be approximately √N — any
    // nearby value preserves both exactness and the N·√N asymptotics.
    val n = knownCount.getOrElse(embeddings.count())
    val k = math.max(1, math.ceil(math.sqrt(n.toDouble)).toInt)
    val vecs = embeddings.select(col("vec_id"),
      expr("transform(embedding, x -> cast(x as double))").as("v"))
    // two fixed unit projection directions, dimension-agnostic and
    // deterministic: w₁ = 1/√d · (1,1,…), w₂ = 1/√d · (1,−1,1,−1,…)
    // (orthogonal, so the two band filters cut independent slices);
    // projections are of the NORMALIZED vector — the ε bound needs
    // unit vectors. A zero vector projects to 0 (its cosine is NaN
    // in both engines, same as the pre-r16 plan).
    val assigned = kdQuantize(vecs, k)
      .withColumn("nrm", sqrt(expr(
        "aggregate(v, 0d, (acc, x) -> acc + x * x)")) *
        sqrt(expr("cast(size(v) as double)")))
      .withColumn("p1", when(col("nrm") === 0d, 0d).otherwise(
        expr("aggregate(v, 0d, (acc, x) -> acc + x)") / col("nrm")))
      .withColumn("p2", when(col("nrm") === 0d, 0d).otherwise(
        expr("""aggregate(zip_with(v, sequence(0, size(v) - 1),
                  (x, i) -> if(i % 2 = 0, x, -x)),
                0d, (acc, x) -> acc + x)""") / col("nrm")))
      .select(col("vec_id"), col("v"), col("list_id"), col("p1"), col("p2"))
      // four consumers (same ×2 sides, bucket rows, cross verify ×2
      // sides): without a cache each branch re-runs the quantizer
      .pipe(ScratchCache.cache)
    val same = assigned.as("x").join(assigned.as("y"),
        col("x.list_id") === col("y.list_id") &&
        col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("a"), col("y.vec_id").as("b"),
        expr("cosine_sim(x.v, y.v)").as("cos_raw"))
      // consumed by BOTH the τ branch and the final union — cache so the
      // same-list pair cosines are computed once
      .pipe(ScratchCache.cache)
    // the ε filters and the cross-list-only restriction evaluate
    // INSIDE the grid join — the quantized band over-admits ~40× on
    // peaked projections, and those pairs die during the probe instead
    // of being materialized (see bucketPairs). The canonical-bucket
    // term (a pair counts only in floor(max(p₁ᵤ,p₁ᵥ)/ε) — a bucket
    // both sides emitted, by the two-bucket construction) makes every
    // pair match exactly once, so the pair stream needs no distinct()
    // shuffle (dedup = false).
    val crossCand = bucketPairs(embCosBandRows(same, assigned), cap = 256,
      pred = Some((l, r) =>
        col(s"$l.list_id") =!= col(s"$r.list_id") &&
        abs(col(s"$l.p1") - col(s"$r.p1")) <= col(s"$l.eps") &&
        abs(col(s"$l.p2") - col(s"$r.p2")) <= col(s"$l.eps") &&
        col(s"$l.bh") === floor(
          greatest(col(s"$l.p1"), col(s"$r.p1")) / col(s"$l.eps"))),
      dedup = false)
    EmbCosParts(assigned, same, crossCand)
  }

  /** The ε-band bucket rows of [[embCosParts]]' cross-candidate phase:
    * (band, bh, doc_id, list_id, p₁, p₂, eps) — each vector lands in
    * its floor(p₁/ε) bucket AND the next one up, so any pair within ε
    * shares ≥ 1 bucket; the scalar columns ride along for the in-join
    * pair filter. τ = 50th-best same-list cosine (or −2 ⇒ no pruning
    * when < 50 seed pairs exist); ε = √(2−2τ) carries the 1.1e-6
    * rounding-tie slack (see [[dedupEmbCos]]) plus 1e-9 for sqrt/arith
    * roundoff. ε is data-derived, so it reaches every row by a 1-row
    * broadcast join on the non-foldable constant key (see k0) —
    * construction stays fully lazy, no collect. */
  private[graft] def embCosBandRows(same: DataFrame,
      assigned: DataFrame): DataFrame = {
    val eps = same.orderBy(col("cos_raw").desc).limit(50)
      .agg(when(count(lit(1)) < 50, lit(-2.0))
        .otherwise(min(col("cos_raw"))).as("tau"))
      .select((sqrt(greatest(lit(1e-12),
        lit(2d) - lit(2d) * (col("tau") - lit(1.1e-6)))) + lit(1e-9))
        .as("eps"))
      .withColumn("k", k0(col("eps")))
    assigned.drop("v").withColumn("k", k0(col("vec_id")))
      .join(broadcast(eps), "k")
      .select(lit(0).as("band"),
        explode(array(floor(col("p1") / col("eps")),
          floor(col("p1") / col("eps")) + 1)).as("bh"),
        col("vec_id").as("doc_id"),
        col("list_id"), col("p1"), col("p2"), col("eps"))
  }

  /** Row count straight from parquet footer metadata — a driver-side
    * footer read (no Spark job), the lazy-construction path for sizing
    * [[dedupEmbCosOn]]'s quantizer. Handles both a single .parquet file
    * and a directory of part files; any failure (missing path, not
    * parquet) degrades to None and the caller falls back to count(). */
  private[graft] def parquetRowCount(s: SparkSession, path: String)
      : Option[Long] =
    try {
      val conf = s.sessionState.newHadoopConf()
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(conf)
      val files = {
        val st = fs.getFileStatus(p)
        if (st.isFile) Array(st)
        else fs.listStatus(p).filter(f =>
          f.isFile && f.getPath.getName.endsWith(".parquet"))
      }
      if (files.isEmpty) None
      else Some(files.map { f =>
        val in = org.apache.parquet.hadoop.util.HadoopInputFile
          .fromStatus(f, conf)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try r.getRecordCount finally r.close()
      }.sum)
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Total candidate-pair volume the pruned plan enumerates (same-list
    * seed pairs + cross pairs surviving the projection bands — i.e.
    * the pairs that reach a cosine evaluation) — the quantity the
    * N·√N scale property test audits (PropertiesSpec
    * "embcos candidate volume"). */
  private[graft] def embCosCandidateCount(embeddings: DataFrame): Long = {
    val parts = embCosParts(embeddings)
    parts.same.count() + parts.crossCand.count()
  }

  /** Near-balanced k-d-style coarse quantizer: grouped rounds of
    * EQUAL-WIDTH splitting on each list's widest dimension
    * (max − min spread, ties to the lowest dim). Returns
    * (vec_id, v, list_id) with 2^⌈log₂ k⌉ ∈ [k, 2k) lists.
    *
    * The per-round cut structure is equal-width buckets over the
    * widest dim's exact [min, max] (r16, replacing percentile_approx
    * median sketches): min/max are order-free DISTRIBUTED partial
    * aggregates — no round ever sorts a list through one task, and
    * unlike a quantile sketch the whole quantizer is BIT-REPLAYABLE
    * in SQL (pinned double arithmetic + floor), which is what lets
    * q_dedup_semantic carry a full DuckDB oracle. Fully degenerate
    * lists (mx = mn) split by pmod(vec_id, f). An earlier formulation
    * used `ntile(2) OVER (PARTITION BY list_id ORDER BY sv)` for an
    * exactly-balanced split — a scale trap: round 0 has ONE list, so
    * the window serialized the entire dataset through a single
    * reducer's sort. Equal-width balance is distribution-shaped
    * (center-heavy on gaussian data) rather than sketch-exact, but
    * split QUALITY never affects correctness — any assignment yields
    * a valid quantizer: the projection-band bound in [[embCosParts]]
    * keeps embcos exact, and q_dedup_semantic's within-list-only
    * candidate trade is part of its declared contract whatever the
    * lists are.
    *
    * Construction is FULLY LAZY — no action, no job until the caller
    * acts on the result (q_dedup_embcos builds with zero jobs;
    * asserted in DedupSimSpec). Each round computes min/max for
    * every dim in ONE aggregate (the work on the 63 non-widest dims
    * is the price of one pass), then ends in a
    * LAZY localCheckpoint so the plan stays constant-size across
    * rounds instead of doubling (a cache-per-round variant was tried:
    * execution dedups fine, but the 2^rounds logical plan OOMs AQE's
    * per-stage explain-string rendering at 20k vectors). The
    * checkpointed frame is PLANNED WITH AQE DISABLED: classic
    * planning builds the RDD DAG without materializing any stage
    * (AQE's toRdd eagerly runs every shuffle as a job), which is what
    * keeps construction job-free; everything downstream of the
    * quantizer still plans adaptively. All rounds' blocks are
    * released via [[ScratchCache]] once the harness has consumed the
    * query — log₂√N ≤ ~17 rounds × N rows at any realistic N. At
    * 100 TB the per-round materialization swaps from executor-local
    * blocks to a parquet checkpoint between rounds — the standard
    * iterative-refinement shape (k-means, CC).
    */
  private[graft] def kdQuantize(vecs: DataFrame, k: Int): DataFrame =
    kdQuantizeWithSplits(vecs, k)._1

  /** [[kdQuantize]] variant that ALSO returns the per-round split
    * tables — (round, list_id, sdim, mn, mx, fanout) — i.e. the
    * quantizer itself as a persistable artifact. This is what makes
    * the equal-width tree a FROZEN quantizer for
    * q_dedup_incr_semantic: [[kdqAssign]] walks the persisted tables
    * to assign NEW vectors without refitting, and since every cut is
    * an exact min/max plus pinned double arithmetic, the whole walk
    * (build + assignment) replays bit-for-bit in DuckDB — the r16→r17
    * oracle-N → oracle-checked conversion. The split frames reference
    * the same lazy per-round plans the assignment consumed (exact
    * order-free aggregates, deterministic argmax), so what persists
    * is exactly what was applied; like the assignment they must be
    * consumed before [[ScratchCache.releaseAll]] frees the round
    * checkpoints. */
  private[graft] def kdQuantizeWithSplits(vecs: DataFrame, k: Int)
      : (DataFrame, DataFrame) = {
    val splitRounds = scala.collection.mutable.ArrayBuffer[DataFrame]()
    val bits =
      if (k <= 1) 0
      else 32 - Integer.numberOfLeadingZeros(k - 1) // = ceil(log2(k))
    // 16-WAY rounds (r16): each round splits every list into 2^b
    // equal-width buckets of its widest dim (b = up to 4 bits), so
    // the SERIAL round chain — the measured wall-clock floor of the
    // embcos/semantic keys, each round being two aggregates + a join
    // + a checkpoint no matter how many executors exist — shrinks
    // from ceil(log₂k) to ceil(log₂k / 4) with the FINAL list count
    // unchanged (2^bits ∈ [k, 2k)): one min/max pass prices every
    // bucket boundary at once.
    val rounds = (bits + 3) / 4
    // round 0's list_id is always 0 but must be NON-FOLDABLE (see k0):
    // a literal would constant-fold the round-0 join condition to
    // 0 = 0 → no equi keys → BroadcastNestedLoopJoin, whose broadcast
    // job would fire during the lazy checkpoint's planning
    var cur = vecs.select(col("vec_id"), col("v"),
      pmod(xxhash64(col("vec_id")), lit(1L)).as("list_id"))
    for (r <- 0 until rounds) {
      val b = math.min(4, bits - r * 4)
      val fanout = 1 << b
      // per (list, dim): exact [min, max] in one pass; the widest
      // dim's row survives → (list_id, sdim, mn, mx). EQUAL-WIDTH
      // buckets over that range (r16, replacing approx-median cuts):
      // min/max are order-free exact aggregates and the bucket index
      // is pinned double arithmetic — the whole quantizer is
      // bit-replayable in SQL, which is what converts
      // q_dedup_semantic from oracle-N to oracle-checked. max_by over
      // (sp, -pos) is the deterministic argmax (ties → lowest dim) as
      // a partial-aggregable hash aggregate — no window (a
      // partitionBy(list_id) window would constant-fold to an empty
      // partition spec in round 0, where list_id is literal 0).
      val sdc = cur
        .select(col("list_id"), posexplode(col("v")))
        .groupBy(col("list_id"), col("pos"))
        .agg(min(col("col")).as("mn"), max(col("col")).as("mx"))
        .groupBy(col("list_id"))
        .agg(max_by(struct(col("pos").as("sdim"), col("mn"), col("mx")),
          struct((col("mx") - col("mn")).as("sp"), -col("pos"))).as("w"))
        .select(col("list_id"), col("w.sdim").as("sdim"),
          col("w.mn").as("mn"), col("w.mx").as("mx"))
      splitRounds += sdc.select(lit(r + 1).as("round"), col("list_id"),
        col("sdim"), col("mn"), col("mx"), lit(fanout.toLong).as("fanout"))
      // ≤ 2^(4·round) split rows joined back for the assignment. A
      // SHUFFLE_HASH join, not broadcast: broadcast exchanges submit
      // their build job during doExecute — i.e. during this lazy
      // checkpoint's planning — which would make construction eager
      // again. The price is a per-round shuffle of the vectors by
      // list_id (the split table side is k rows); at 100 TB that
      // shuffle rides the same parquet-checkpoint-per-round swap the
      // scaladoc above describes. Bucket = floor((sv−mn)/(mx−mn)·f)
      // clamped to f−1 (sv = mx lands exactly on f); a fully
      // degenerate list (mx = mn ⟹ every dim constant) splits by
      // pmod(vec_id, f) instead of collapsing into bucket 0 — also
      // replayable, unlike the previous per-cut hash coin.
      val next = withAqeDisabled(cur.sparkSession)(cur
        .join(sdc.hint("SHUFFLE_HASH"), "list_id")
        .withColumn("sv", element_at(col("v"), col("sdim") + 1))
        .withColumn("half",
          when(col("mx") > col("mn"),
            least(lit(fanout - 1L),
              floor((col("sv") - col("mn")) / (col("mx") - col("mn"))
                * lit(fanout.toDouble))))
          .otherwise(pmod(col("vec_id"), lit(fanout.toLong))))
        .select(col("vec_id"), col("v"),
          (col("list_id") * fanout + col("half")).as("list_id"))
        .localCheckpoint(false))
      ScratchCache.defer(() => GraphOps.unpersistCheckpoint(next))
      cur = next
    }
    val emptySplits = vecs.sparkSession.range(0)
      .select(lit(0).as("round"), lit(0L).as("list_id"),
        lit(0).as("sdim"), lit(0d).as("mn"), lit(0d).as("mx"),
        lit(1L).as("fanout"))
    (cur, splitRounds.reduceOption(_ unionByName _).getOrElse(emptySplits))
  }

  /** Assign `vecs` (vec_id + v, any passthrough columns, no list_id)
    * through a FROZEN [[kdQuantizeWithSplits]] quantizer: one
    * broadcast join per persisted round, replaying the build's exact
    * bucket arithmetic — a history vector re-assigns to exactly the
    * list the build gave it. A new vector can reach a list no history
    * vector occupied (no split row at the next round): it then takes
    * bucket 0 deterministically — a vector-only rule in THAT branch,
    * so identical batch vectors on a history-empty path always share
    * a final list, and every descendant of a history-empty list is
    * history-empty, so the fallback can never manufacture history
    * candidates. (A DEGENERATE split — mx = mn on the chosen dim —
    * buckets by vec_id % f instead, replaying the build's rule so
    * history vectors land on their build list; identical batch
    * vectors with different vec_ids CAN diverge there, so the
    * within-batch dup contract is scoped to the other two branches.)
    * Batch vectors are CLAMPED to the frozen list's [0, f) bucket
    * range at BOTH edges: a value above the history max takes bucket
    * f-1 and one below the history min takes bucket 0, keeping every
    * assignment inside its parent's [parent*f, parent*f+f) range —
    * without the lower clamp a below-min value would escape into a
    * sibling parent's bucket space and lose its near-dups. Scale
    * shape: R = ⌈log₂k/4⌉ broadcast joins of a ≤ k-row table each —
    * batch-sized work, zero history scans. */
  private[graft] def kdqAssign(vecs: DataFrame, splits: DataFrame)
      : DataFrame = {
    val passCols = vecs.columns.map(col).toSeq
    // per-round fanouts: a ≤ ⌈log₂k/4⌉-row driver read of the artifact
    val rf = splits.select(col("round"), col("fanout")).distinct()
      .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    // non-foldable 0, same reason as kdQuantize round 0
    var cur = vecs.withColumn("list_id",
      pmod(xxhash64(col("vec_id")), lit(1L)))
    for ((r, f) <- rf) {
      val sp = broadcast(splits.filter(col("round") === r)
        .select(col("list_id"), col("sdim"), col("mn"), col("mx")))
      cur = cur.join(sp, Seq("list_id"), "left")
        .withColumn("sv", element_at(col("v"), col("sdim") + 1))
        .withColumn("half",
          when(col("sdim").isNull, lit(0L))
            .when(col("mx") > col("mn"),
              greatest(lit(0L), least(lit(f - 1L),
                floor((col("sv") - col("mn")) / (col("mx") - col("mn"))
                  * lit(f.toDouble)))))
            .otherwise(pmod(col("vec_id"), lit(f))))
        .select(passCols :+ (col("list_id") * f + col("half"))
          .as("list_id"): _*)
    }
    cur
  }

  /** Runs `body` (a plan-construction block, typically ending in a
    * lazy localCheckpoint) with adaptive execution off, restoring the
    * session conf after. Lazy checkpointing under AQE is NOT lazy:
    * AdaptiveSparkPlanExec.execute materializes every upstream stage
    * as jobs during toRdd; the classic planner builds the same DAG
    * without running anything. */
  private def withAqeDisabled[A](s: SparkSession)(body: => A): A = {
    val key = "spark.sql.adaptive.enabled"
    val before = s.conf.get(key)
    s.conf.set(key, "false")
    try body finally s.conf.set(key, before)
  }

  /** q_sim_ann_lsh — the ANN *scale path* for similarity search:
    * random-hyperplane LSH. Every vector gets a bucket id from the sign
    * pattern of 6 fixed Gaussian hyperplane dots (seeded, deterministic,
    * evaluated as a row-local sequential fold so no partition-order
    * effects); search ranks only the query's bucket with the native
    * codegen `cosine_sim` expression. At 100 TB: bucketing is one
    * narrow map + one shuffle by bucket; brute force would be a full
    * cross product. ORACLE-CHECKED since r17: approximate-by-
    * construction never precluded an oracle — the DuckDB twin replays
    * the SAME approximation (identical plane literals, identical
    * sequential-fold sign dots and cosine rank; see
    * OracleSql.annLshSql) — and the recall-vs-brute-force specs with
    * planted neighbors stay as the semantic gate. */
  def simAnnLsh(s: SparkSession, d: String): DataFrame =
    simAnnLshOn(Tables.embeddings(s, d), queryVecId = 0L)

  def simAnnLshOn(embeddings: DataFrame, queryVecId: Long): DataFrame = {
    val s = embeddings.sparkSession
    graft.plans.GraftExtensions.registerFunctions(s)
    val rnd = new scala.util.Random(42)
    val planes = Seq.fill(6)(Array.fill(64)(rnd.nextGaussian()))
    val e = embeddings.select(col("vec_id"), col("label"),
      expr("transform(embedding, x -> cast(x as double))").as("v"))
    val bucket = planes.zipWithIndex.map { case (p, i) =>
      val arr = "array(" + p.map(x => s"${x}d").mkString(",") + ")"
      expr(s"case when aggregate(zip_with(v, $arr, (x, y) -> x * y), 0d, (a, x) -> a + x) >= 0 then ${1 << i} else 0 end")
    }.reduce(_ + _)
    val bucketed = e.withColumn("bucket", bucket)
    val q = bucketed.filter(col("vec_id") === queryVecId)
      .select(col("bucket"), col("v").as("qv"))
    bucketed.filter(col("vec_id") =!= queryVecId)
      .join(broadcast(q), "bucket")
      .select(col("vec_id"), col("label"),
        round(expr("cosine_sim(v, qv)"), 6).as("cos"))
      .orderBy(col("cos").desc, col("vec_id"))
      .limit(10)
  }

  /** The trainer-sample bound shared by every ANN/PQ trainer
    * (`spark.graft.ann.trainMax`, default 65536): above it, quantizer
    * and codebook training run on a deterministic md5-ordered sample;
    * below it, on the full input. */
  private def annTrainMax(s: SparkSession): Long = {
    val v = s.conf.getOption("spark.graft.ann.trainMax")
      .map(_.trim.toLong).getOrElse(65536L)
    // md5PrefixSample pins the prefix with limit(target.toInt): a conf
    // above Int.MaxValue would wrap negative and throw far downstream
    // (ADVICE r14) — fail loudly at the source instead
    require(v > 0 && v <= Int.MaxValue,
      s"spark.graft.ann.trainMax must be in [1, ${Int.MaxValue}], got $v")
    v
  }

  /** The `target` smallest-md5(idCol) rows of `df` (n = |df|, known by
    * the caller) — a deterministic, partitioning-independent,
    * corpus-content-independent sample. Shape: ONE narrow md5-prefix
    * threshold filter (rate c·target/n, O(1)/row, NO shuffle — at
    * 100 TB this is the pass that makes trainer sampling tractable)
    * cuts the input to ~c·target candidate rows, then an exact
    * orderBy(h).limit(target) on that small remainder pins the
    * md5-ordered prefix bit-exactly under any partitioning. c doubles
    * on the (md5-uniform ⇒ vanishing) chance the threshold undercuts
    * target. */
  private[graft] def md5PrefixSample(df: DataFrame, idCol: String,
      target: Long, n: Long): DataFrame = {
    require(target > 0 && target <= Int.MaxValue,
      s"md5PrefixSample target must be in [1, ${Int.MaxValue}], got " +
        s"$target (the exact prefix cut is limit(target.toInt))")
    val hexSpace = math.pow(16.0, 15.0) // conv() of a 15-hex prefix
    val h = conv(substring(md5(col(idCol).cast("string")), 1, 15),
      16, 10).cast("long")
    var c = 2.0
    var cut: DataFrame = null
    while (cut == null) {
      val cand = df.filter(h <
        lit((hexSpace * math.min(1.0, c * target / n)).toLong))
      if (c * target >= n || cand.count() >= target) cut = cand
      else c *= 2.0
    }
    cut.withColumn("__h", h).orderBy(col("__h"), col(idCol))
      .limit(target.toInt).drop("__h")
  }

  /** LEARNED coarse quantizer for the IVF path (r13, replacing the
    * per-label centroids): k-means|| oversampling seeding (Bahmani et
    * al., VLDB 2012) followed by 2 distributed Lloyd refinement
    * rounds. Labels are NEVER read — the quantizer is learned from the
    * vectors alone, which is what a real 100 TB corpus (no label
    * column) requires. Returns (list_id 0..k-1, cv: array<double>).
    *
    * Above `spark.graft.ann.trainMax` vectors (default 65536) the
    * trainer runs on the trainMax smallest-md5(vec_id) rows — the
    * Faiss-style train-on-subsample discipline that keeps quantizer
    * training O(trainMax) no matter the corpus size (a coarse
    * quantizer needs O(k) training points; iterating Lloyd over all of
    * 100 TB would be pure waste). The sample is deterministic and
    * partitioning-independent (md5 order, exact prefix cut), so the
    * learned centroids — and every recall spec downstream — are
    * reproducible at any scale.
    *
    * Shape per pass (identical to [[embKmeansOn]]'s contract): each
    * cost/assign round is ONE broadcast of the candidate arrays
    * against the vector table collapsing map-side via a
    * min(struct(score, cid)) partial aggregate; centroid recompute is
    * a (cid, dim)-keyed decimal-sum hash agg — k·dim rows on the wire,
    * never vectors. Driver traffic: only the k-means|| candidate set,
    * O(ℓ·rounds) = O(k) rows by construction (each round draws ~ℓ
    * candidates in expectation via the hash-thresholded d² sampler),
    * so the driver-side weighted reduction to k seeds is O(k²·dim) —
    * the standard Bahmani recluster step, scale-independent.
    *
    * DETERMINISM (for reproducible tests; the key itself is no-oracle):
    * the first candidate is the min-md5(vec_id) vector; round-r
    * sampling thresholds pmod(xxhash64(vec_id, r), 1e6)/1e6 against
    * ℓ·d²/φ (a deterministic Bernoulli draw); the driver reduction is
    * greedy farthest-point seeding (max weight·d², ties → min id) plus
    * 5 weighted Lloyd sweeps; both distributed Lloyd rounds reuse the
    * q_emb_kmeans decimal/rounding discipline, so the result is
    * repartition-invariant. */
  private[graft] def learnedCentroids(embeddings: DataFrame, k: Int)
      : DataFrame = {
    val s = embeddings.sparkSession
    graft.plans.GraftExtensions.registerFunctions(s)
    // native codegen dot (bit-exact with the HOF fold) — the hot path
    // runs |vecs| × |candidates| dots per pass
    val dot = (a: String, b: String) => expr(s"dot_product($a, $b)")
    val eAll = ScratchCache.cache(embeddings.select(col("vec_id"),
        expr("transform(embedding, x -> cast(x as double))").as("v"))
      .withColumn("xx", dot("v", "v")))
    // --- SAMPLED TRAINING (the 100 TB gate): above trainMax vectors
    // the quantizer trains on the trainMax smallest-md5(vec_id) rows —
    // a deterministic, corpus-independent sample (Faiss-style train-on-
    // subsample; quantizer quality needs O(k) samples, not the corpus).
    // Below trainMax: train on all. See [[md5PrefixSample]].
    val trainMax = math.max(k.toLong, annTrainMax(s))
    val n = eAll.count()
    val e = if (n <= trainMax) eAll
      else ScratchCache.cache(
        md5PrefixSample(eAll, "vec_id", trainMax, n))
    // --- k-means|| oversampling: 2 rounds at l = 2k ---
    val l = 2 * k
    var cand = scala.collection.mutable.LinkedHashMap[Long, Array[Double]]()
    val seed0 = e.withColumn("h", md5(col("vec_id").cast("string")))
      .orderBy(col("h"), col("vec_id")).limit(1)
      .select(col("vec_id"), col("v")).collect()
    require(seed0.nonEmpty, "learnedCentroids needs a non-empty table")
    cand(seed0(0).getLong(0)) =
      seed0(0).getSeq[Double](1).toArray
    def candDf: DataFrame = {
      val rows = cand.toSeq.zipWithIndex
        .map { case ((id, v), i) => (i.toLong, v) }
      s.createDataFrame(rows).toDF("cid", "cv")
        .withColumn("cc", dot("cv", "cv"))
    }
    // d²(x, C) = xx + min_c(cc − 2⟨x,c⟩), clamped at 0 for float slop
    def costDf: DataFrame =
      e.join(broadcast(candDf.withColumn("j", k0(col("cid")))),
          k0(col("vec_id")) === col("j"))
        .select(col("vec_id"), col("xx"), col("cid"),
          (col("cc") - lit(2.0) * dot("v", "cv")).as("sc"))
        .groupBy(col("vec_id"), col("xx"))
        .agg(min(struct(col("sc"), col("cid"))).as("m"))
        .select(col("vec_id"),
          greatest(lit(0.0), col("xx") + col("m.sc")).as("d2"),
          col("m.cid").as("near"))
    for (r <- 1 to 2) {
      val c = ScratchCache.cache(costDf)
      val phi = c.agg(sum(col("d2"))).head().getDouble(0)
      if (phi > 0) {
        val picked = c
          .filter((pmod(xxhash64(col("vec_id"), lit(r)), lit(1000000L))
            .cast("double") / 1e6) < lit(l.toDouble) * col("d2") / lit(phi))
          .join(e, "vec_id").select(col("vec_id"), col("v")).collect()
        picked.foreach { row =>
          val id = row.getLong(0)
          if (!cand.contains(id)) cand(id) = row.getSeq[Double](1).toArray
        }
      }
    }
    // candidate weights: |points nearest to each candidate|
    val wts = costDf.groupBy(col("near")).agg(count(lit(1)).as("w"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val cs = cand.toSeq.zipWithIndex.map { case ((id, v), i) =>
      (id, v, wts.getOrElse(i.toLong, 0L).toDouble)
    }
    // --- driver reduction: greedy farthest-point seeding + 5 weighted
    // Lloyd sweeps over the O(k)-sized candidate set ---
    def d2(a: Array[Double], b: Array[Double]): Double = {
      var s0 = 0.0; var i = 0
      while (i < a.length) { val d = a(i) - b(i); s0 += d * d; i += 1 }
      s0
    }
    val kEff = math.min(k, cs.length)
    val chosen = scala.collection.mutable.ArrayBuffer[Array[Double]]()
    chosen += cs.maxBy(c => (c._3, -c._1))._2
    while (chosen.length < kEff) {
      chosen += cs.maxBy(c =>
        (c._3 * chosen.map(d2(c._2, _)).min, -c._1))._2
    }
    var seeds = chosen.map(_.clone()).toArray
    for (_ <- 1 to 5) {
      val sums = Array.fill(kEff)(new Array[Double](seeds(0).length))
      val ws = new Array[Double](kEff)
      cs.foreach { case (_, v, w) =>
        val j = (0 until kEff).minBy(i => (d2(v, seeds(i)), i))
        ws(j) += w
        var i = 0
        while (i < v.length) { sums(j)(i) += w * v(i); i += 1 }
      }
      seeds = seeds.indices.map { j =>
        if (ws(j) > 0) sums(j).map(_ / ws(j)) else seeds(j)
      }.toArray
    }
    // --- 2 distributed Lloyd rounds (q_emb_kmeans discipline: 6-dp
    // decimal-exact centroid recompute, min-struct assignment) ---
    var cents = s.createDataFrame(
        seeds.toSeq.zipWithIndex.map { case (v, i) => (i.toLong, v.toSeq) })
      .toDF("cid", "cv").withColumn("cc", dot("cv", "cv"))
    for (_ <- 1 to 2) {
      val a = e.join(broadcast(cents.withColumn("j", k0(col("cid")))),
          k0(col("vec_id")) === col("j"))
        .select(col("vec_id"), col("v"), col("cid"),
          (col("cc") - lit(2.0) * dot("v", "cv")).as("sc"))
        .groupBy(col("vec_id"))
        .agg(min(struct(col("sc"), col("cid"))).as("m"),
          first(col("v")).as("v"))
        .select(col("vec_id"), col("v"), col("m.cid").as("cid"))
      cents = a.select(col("cid"), posexplode(col("v")))
        .groupBy(col("cid"), col("pos"))
        .agg(count(lit(1)).as("n"),
          sum(emb(col("col"))).cast(DecimalType(38, 12)).as("sv"))
        .withColumn("m", round(col("sv").cast("double") / col("n"), 6))
        .groupBy(col("cid"))
        .agg(transform(
          sort_array(collect_list(struct(col("pos"), col("m")))),
          st => st.getField("m")).as("cv"))
        .withColumn("cc", dot("cv", "cv"))
    }
    cents.select(col("cid").as("list_id"), col("cv"))
  }

  /** q_sim_ann_ivf — the OTHER ANN scale path: IVF (inverted-file)
    * search over a LEARNED coarse quantizer (r13): nlists=10 k-means
    * centroids from [[learnedCentroids]] (k-means|| seeding + Lloyd),
    * computed from the vectors alone — the label column is never read,
    * so the operator works on an unlabeled 100 TB corpus. Every vector
    * is assigned to its nearest centroid by L2 (the training metric),
    * giving 10 inverted lists; the query probes the nprobe=2 nearest
    * lists and ranks only those with the native codegen cosine. At
    * 100 TB the centroid table is a broadcast, assignment is one
    * narrow map, and search touches nprobe/nlists of the data instead
    * of all of it. No oracle (approximate by construction); recall vs
    * brute force asserted in tests, including on a corpus whose label
    * column is constant (the degenerate case the old per-label
    * quantizer could not survive). */
  def simAnnIvf(s: SparkSession, d: String): DataFrame =
    simAnnIvfOn(Tables.embeddings(s, d), queryVecId = 0L)

  /** Core of q_sim_ann_ivf over any (vec_id, label, embedding) frame. */
  def simAnnIvfOn(embeddings: DataFrame, queryVecId: Long): DataFrame = {
    val s = embeddings.sparkSession
    graft.plans.GraftExtensions.registerFunctions(s)
    // both the quantizer and the lists have two consumers (assign +
    // probe / query-row + candidates) — cache, or the Lloyd chain and
    // the assignment re-run per consumer
    val cent = ScratchCache.cache(learnedCentroids(embeddings, k = 10))
    val assigned = ScratchCache.cache(ivfAssign(embeddings, cent))
    ivfSearch(assigned, cent, queryVecId)
  }

  /** Assign every vector of `embeddings` to its nearest centroid of
    * `cent` ((list_id, cv) rows) by L2 (min-struct argmin, list_id
    * tiebreak → deterministic): the IVF inverted-list build, shared by
    * the in-memory key and the persisted-index key. */
  private[graft] def ivfAssign(embeddings: DataFrame, cent: DataFrame)
      : DataFrame = {
    val dot = (a: String, b: String) => expr(s"dot_product($a, $b)")
    val c = cent.withColumn("cc", dot("cv", "cv"))
    val e = embeddings.select(col("vec_id"), col("label"),
      expr("transform(embedding, x -> cast(x as double))").as("v"))
    e.join(broadcast(c.withColumn("j", k0(col("list_id")))),
        k0(col("vec_id")) === col("j"))
      .select(col("vec_id"), col("label"), col("v"),
        col("list_id"),
        round(col("cc") - lit(2.0) * dot("v", "cv"), 6).as("sc"))
      .groupBy(col("vec_id"))
      .agg(min(struct(col("sc"), col("list_id"))).as("m"),
        first(col("label")).as("label"), first(col("v")).as("v"))
      .select(col("vec_id"), col("label"), col("v"),
        col("m.list_id").as("list_id"))
  }

  /** Probe the nprobe=2 centroid-nearest inverted lists of `assigned`
    * ((vec_id, label, v, list_id) rows) for `queryVecId`'s top-10
    * cosine neighbors. `cent` is the quantizer that built the lists —
    * the persisted-index variant stores it beside the lists (the
    * standard IVF artifact layout: quantizer + inverted lists). */
  private[graft] def ivfSearch(assigned: DataFrame, cent: DataFrame,
      queryVecId: Long): DataFrame = {
    val qlists = assigned.filter(col("vec_id") === queryVecId)
      .select(col("v").as("qv"), k0(col("vec_id")).as("k"))
      .join(broadcast(cent.withColumn("k", k0(col("list_id")))), "k")
      .select(col("list_id"), col("qv"),
        round(expr("cosine_sim(qv, cv)"), 6).as("qsim"))
      .orderBy(col("qsim").desc, col("list_id"))
      .limit(2)
      .select(col("list_id"), col("qv"))
    assigned.filter(col("vec_id") =!= queryVecId)
      .join(broadcast(qlists), "list_id")
      .select(col("vec_id"), col("label"),
        round(expr("cosine_sim(v, qv)"), 6).as("cos"))
      .orderBy(col("cos").desc, col("vec_id"))
      .limit(10)
  }

  /** Measured recall@10 DISTRIBUTION of the IVF approximation (r17
    * verdict ask #4): per-query recall of the nprobe-list IVF search
    * against brute-force cosine top-10, over a deterministic stride
    * sample of `nQueries` query vectors. Returns (q_id, recall) rows —
    * the caller aggregates to mean/min/quantiles (tools/RecallProbe
    * prints the SCALE.md table; AnnLshSpec asserts the mean floor).
    *
    * Shapes: ground truth is a broadcast of the ≤ nQueries query rows
    * against the corpus (one pass, no all-pairs), the IVF side is the
    * probe path's own list-restricted join; both rank with the exact
    * tie-breaks of [[ivfSearch]] (cosine desc rounded to 6 dp, vec_id
    * asc) so the measurement exercises the production metric. */
  private[graft] def ivfRecall(embeddings: DataFrame, nprobe: Int,
      nQueries: Int = 100): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val s = embeddings.sparkSession
    graft.plans.GraftExtensions.registerFunctions(s)
    val cent = ScratchCache.cache(learnedCentroids(embeddings, k = 10))
    val assigned = ScratchCache.cache(ivfAssign(embeddings, cent))
    val n = assigned.count()
    val stride = math.max(1L, n / nQueries)
    val queries = ScratchCache.cache(assigned
      .withColumn("rn", row_number().over(Window.orderBy(col("vec_id"))))
      .filter(col("rn") % stride === 0)
      .limit(nQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv")))
    val perQ = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("vec_id"))
    val truth = assigned.select(col("vec_id"), col("v"))
      .join(broadcast(queries), col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        round(expr("cosine_sim(v, qv)"), 6).as("cos"))
      .withColumn("rk", row_number().over(perQ))
      .filter(col("rk") <= 10).select(col("q_id"), col("vec_id"))
    val qlists = queries.crossJoin(broadcast(cent))
      .select(col("q_id"), col("list_id"),
        round(expr("cosine_sim(qv, cv)"), 6).as("qsim"))
      .withColumn("rk", row_number().over(Window.partitionBy(col("q_id"))
        .orderBy(col("qsim").desc, col("list_id"))))
      .filter(col("rk") <= nprobe).select(col("q_id"), col("list_id"))
    val got = assigned.select(col("vec_id"), col("v"), col("list_id"))
      .join(broadcast(qlists), "list_id")
      .join(broadcast(queries), "q_id")
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        round(expr("cosine_sim(v, qv)"), 6).as("cos"))
      .withColumn("rk", row_number().over(perQ))
      .filter(col("rk") <= 10)
      .select(col("q_id"), col("vec_id"), lit(1L).as("hit"))
    // denominator = the ACTUAL truth-set size per query (min(n−1, 10)
    // by construction), not a fixed 10 — a corpus under 11 vectors
    // would otherwise understate recall (r18 ADVICE)
    truth.join(got, Seq("q_id", "vec_id"), "left")
      .groupBy(col("q_id"))
      .agg((sum(coalesce(col("hit"), lit(0L))) / count(lit(1)))
        .as("recall"))
  }

  /** [[ivfRecall]]'s twin for the IVFADC path (q_sim_ann_ivfpq):
    * per-query recall@10 of the code-ranked ADC search against
    * brute-force L2 top-10 (the PQ training metric), over the same
    * deterministic stride sample. The multi-query generalization of
    * [[simAnnIvfPqOn]]: every stage keys by q_id; the per-query LUT
    * union is nQueries·nprobe·m·k rows — still broadcast-sized.
    * `m`/`k` default to the key's production budget (m=16,
    * k=16 → 64-bit codes); pass the demo budget (m=4, k=4 → 8-bit
    * codes: 4 subspaces × log2(4)=2 bits) or intermediate budgets
    * (m=8, k=16 → 32 bits) to measure how quality scales with the
    * code budget (SCALE.md IVFADC table, tools/RecallProbe). */
  private[graft] def ivfPqRecall(embeddings: DataFrame, nprobe: Int,
      nQueries: Int = 100, m: Int = 16, k: Int = 16): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val s = embeddings.sparkSession
    graft.plans.GraftExtensions.registerFunctions(s)
    val dot = (a: String, b: String) => expr(s"dot_product($a, $b)")
    val cent = ScratchCache.cache(learnedCentroids(embeddings, k = 10))
    val assigned = ScratchCache.cache(ivfAssign(embeddings, cent))
    val resid = assigned.join(broadcast(cent), "list_id")
      .select(col("vec_id"),
        expr("zip_with(v, cv, (x, c) -> x - c)").as("embedding"))
    val (_, codebook, codes) = embPqModel(resid, m, k)
    val sd = 64 / m
    val n = assigned.count()
    val stride = math.max(1L, n / nQueries)
    val queries = ScratchCache.cache(assigned
      .withColumn("rn", row_number().over(Window.orderBy(col("vec_id"))))
      .filter(col("rn") % stride === 0)
      .limit(nQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv")))
    // ground truth: brute-force L2 top-10 (‖q‖² is rank-constant)
    val truth = assigned.select(col("vec_id"), col("v"))
      .join(broadcast(queries), col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        round(dot("v", "v") - lit(2.0) * dot("v", "qv"), 6).as("d2"))
      .withColumn("rk", row_number().over(Window.partitionBy(col("q_id"))
        .orderBy(col("d2"), col("vec_id"))))
      .filter(col("rk") <= 10).select(col("q_id"), col("vec_id"))
    val qlists = queries.crossJoin(broadcast(cent))
      .select(col("q_id"), col("qv"), col("list_id"), col("cv"),
        round(dot("cv", "cv") - lit(2.0) * dot("qv", "cv"), 6).as("qd2"))
      .withColumn("rk", row_number().over(Window.partitionBy(col("q_id"))
        .orderBy(col("qd2"), col("list_id"))))
      .filter(col("rk") <= nprobe)
      .select(col("q_id"), col("list_id"), col("qv"), col("cv"))
    val qr = qlists
      .select(col("q_id"), col("list_id"),
        expr("zip_with(qv, cv, (x, c) -> x - c)").as("qres"))
      .select(col("q_id"), col("list_id"),
        explode(sequence(lit(0L), lit(m - 1L))).as("sub"), col("qres"))
      .select(col("q_id"), col("list_id"), col("sub"),
        expr(s"slice(qres, 1 + CAST(sub * $sd AS INT), $sd)").as("qs"))
      .withColumn("qq", dot("qs", "qs"))
    val lut = qr.join(codebook, Seq("sub"))
      .select(col("q_id"), col("list_id"), col("sub"), col("cid"),
        (col("qq") + col("cc") - lit(2.0) * dot("qs", "cv")).as("qd"))
    val got = assigned.select(col("vec_id"), col("list_id"))
      .join(broadcast(qlists.select(col("q_id"), col("list_id"))),
        "list_id")
      .filter(col("vec_id") =!= col("q_id"))
      .join(codes.select(col("vec_id"), col("sub"), col("cid")), "vec_id")
      .join(broadcast(lut), Seq("q_id", "list_id", "sub", "cid"))
      .groupBy(col("q_id"), col("vec_id"))
      .agg(round(sum(col("qd")), 6).as("adc"))
      .withColumn("rk", row_number().over(Window.partitionBy(col("q_id"))
        .orderBy(col("adc"), col("vec_id"))))
      .filter(col("rk") <= 10)
      .select(col("q_id"), col("vec_id"), lit(1L).as("hit"))
    // same per-query truth-set denominator as ivfRecall (r18 ADVICE)
    truth.join(got, Seq("q_id", "vec_id"), "left")
      .groupBy(col("q_id"))
      .agg((sum(coalesce(col("hit"), lit(0L))) / count(lit(1)))
        .as("recall"))
  }

  /** q_sim_ann_ivf_index — the PERSISTED vector-index artifact (r13):
    * the [[learnedCentroids]] quantizer written once as a tiny parquet
    * beside the inverted lists written `partitionBy(list_id)`
    * (hive-style `list_id=<c>/` directories) — the standard IVF
    * artifact layout (quantizer + lists), built once and probed many
    * times. A probe is (1) a driver-side quantizer lookup (k rows) that
    * picks the nprobe=2 nearest list ids, then (2) a list scan carrying
    * a STATIC `list_id IN (...)` partition filter, so only 2 of the 10
    * directories are listed and read — `PartitionFilters` +
    * `partitionCount == 2` asserted on the physical plan in AnnLshSpec,
    * the q_sink_partitioned discipline applied to a vector index. At
    * 100 TB this is the difference between re-deriving the quantizer
    * per query (the in-memory key's contract) and paying k-means once
    * at ingest: a probe touches nprobe/nlists of the corpus and ZERO
    * training passes. Results are identical to [[simAnnIvf]] (same
    * quantizer, same assignment, same probe metric + tie-breaks) —
    * asserted in AnnLshSpec; no oracle (approximate by construction).
    * The one full-index scan here is the query-row lookup (a real
    * service receives the query vector in the request). */
  def simAnnIvfIndex(s: SparkSession, d: String): DataFrame = {
    graft.plans.GraftExtensions.registerFunctions(s)
    val dir = ivfIndexDir(d)
    if (!new java.io.File(s"$dir/lists/_SUCCESS").exists()) {
      val cent = ScratchCache.cache(
        learnedCentroids(Tables.embeddings(s, d), k = 10))
      cent.write.mode("overwrite").parquet(s"$dir/quantizer")
      ivfAssign(Tables.embeddings(s, d), cent)
        .write.mode("overwrite").partitionBy("list_id")
        .parquet(s"$dir/lists")
    }
    ivfIndexProbe(s, dir, queryVecId = 0L)
  }

  /** Where [[simAnnIvfIndex]] lays out quantizer + inverted lists. */
  private[graft] def ivfIndexDir(d: String): String =
    java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"),
      "graft_ivf_index_" + d.replaceAll("[^a-zA-Z0-9]", "_")).toString

  /** Probe a persisted IVF index: driver-side nprobe selection against
    * the k-row quantizer, then a partition-pruned scan of the chosen
    * inverted lists. Probe metric and tie-breaks mirror [[ivfSearch]]
    * exactly (6-dp rounded cosine desc, list_id asc) so the persisted
    * path returns the same rows as the in-memory path. */
  private[graft] def ivfIndexProbe(s: SparkSession, dir: String,
      queryVecId: Long, nprobe: Int = 2): DataFrame = {
    val lists = IndexMaint.openIndex(s, s"$dir/lists")
    val qRow = lists.filter(col("vec_id") === queryVecId)
      .select(col("v")).head()
    val qv = qRow.getSeq[Double](0).toArray
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
      }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val probeIds = s.read.parquet(s"$dir/quantizer").collect()
      .map(r => (r.getLong(r.fieldIndex("list_id")),
        BigDecimal(cos(qv, r.getSeq[Double](r.fieldIndex("cv")).toArray))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
      .sortBy { case (id, c) => (-c, id) }
      .take(nprobe).map(_._1).toSeq
    val qvSql = "array(" + qv.map(x => s"${x}d").mkString(",") + ")"
    lists.filter(col("list_id").isin(probeIds: _*))
      .filter(col("vec_id") =!= queryVecId)
      .select(col("vec_id"), col("label"),
        round(expr(s"cosine_sim(v, $qvSql)"), 6).as("cos"))
      .orderBy(col("cos").desc, col("vec_id"))
      .limit(10)
  }

  /** q_sim_ann_ivf_append — INCREMENTAL maintenance of the persisted
    * IVF index (r13): the daily-ingest shape for vectors, composing
    * [[simAnnIvfIndex]]'s artifact (quantizer + `partitionBy(list_id)`
    * inverted lists) with [[graft.ops.Incremental]]'s standing-index
    * discipline. The base corpus builds the index ONCE (quantizer
    * learned on the base, then FROZEN — the production reality: new
    * batches are assigned against the existing coarse quantizer, never
    * retrained); a new batch is admitted via ONE anti join against the
    * stored vec_ids (idempotent re-ingest: a replayed batch appends
    * nothing) and appended with `mode("append")` — only the touched
    * list_id partition directories gain files, untouched lists are
    * never rewritten or read. Wire: per-list ledger (list_id, n_base,
    * n_batch, n_total) from the re-read artifact.
    *
    * No oracle (list membership depends on the float-iteration-learned
    * quantizer — the q_sim_ann_ivf precedent); AnnLshSpec proves the
    * append path ROW-IDENTICAL to assigning base ∪ batch against the
    * same frozen quantizer, probe equality over the appended artifact,
    * and append idempotence.
    *
    * Scale shape: batch-sized assign (broadcast k-row quantizer) + one
    * anti join against the index's id column + a partition-local
    * append; the ledger is one hash agg by list_id. Nothing rescans
    * the base vectors. */
  def simAnnIvfAppend(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    simAnnIvfAppendOn(
      emb.filter(col("vec_id") % 7 =!= 3),
      emb.filter(col("vec_id") % 7 === 3),
      ivfIndexDir(d) + "_append")
  }

  /** Core of q_sim_ann_ivf_append: base builds the artifact at `dir`
    * if absent (rows tagged is_batch=false); batch rows are anti-joined
    * against the stored ids, assigned on the frozen quantizer and
    * appended tagged is_batch=true. Returns the per-list ledger from
    * the re-read artifact. */
  def simAnnIvfAppendOn(base: DataFrame, batch: DataFrame,
      dir: String): DataFrame = {
    val s = base.sparkSession
    graft.plans.GraftExtensions.registerFunctions(s)
    if (!new java.io.File(s"$dir/lists/_SUCCESS").exists()) {
      val cent = ScratchCache.cache(learnedCentroids(base, k = 10))
      cent.write.mode("overwrite").parquet(s"$dir/quantizer")
      ivfAssign(base, cent).withColumn("is_batch", lit(false))
        .write.mode("overwrite").partitionBy("list_id")
        .parquet(s"$dir/lists")
    }
    val cent = s.read.parquet(s"$dir/quantizer")
    val existingIds = IndexMaint.openIndex(s, s"$dir/lists")
      .select(col("vec_id"))
    val admitted = batch.join(existingIds, Seq("vec_id"), "left_anti")
    // assign carries only (vec_id, label, v, list_id); re-attach the
    // batch marker for the ledger
    ivfAssign(admitted, cent).withColumn("is_batch", lit(true))
      .write.mode("append").partitionBy("list_id").parquet(s"$dir/lists")
    IndexMaint.openIndex(s, s"$dir/lists")
      .groupBy(col("list_id"))
      .agg(sum(when(col("is_batch"), 0L).otherwise(1L)).as("n_base"),
        sum(when(col("is_batch"), 1L).otherwise(0L)).as("n_batch"),
        count(lit(1)).as("n_total"))
      .orderBy(col("list_id"))
  }

  /** q_dedup_incr_semantic — STANDING-IVF incremental SEMANTIC-dup
    * admission (r15): the embedding-space member completing the
    * exact / near / semantic incremental-admission trio
    * ([[dedupIncr]] / [[dedupIncrNear]] / this) — the contract a
    * multimodal 100 TB training-data pipeline runs daily: new
    * embeddings arrive and must be admitted against the corpus-so-far
    * WITHOUT re-embedding, re-training or re-scanning history. The
    * standing index is built ONCE from history: the
    * [[kdQuantizeWithSplits]] equal-width kd-cut tables (≤ k rows,
    * then FROZEN — the production reality; refitting would reshuffle
    * every list) beside the `partitionBy(list_id)` inverted lists,
    * k = ⌈√N⌉ (the [[dedupSemantic]] SemDeDup list-count contract).
    * Admitting a batch: assign the BATCH ONLY on the frozen split
    * tables ([[kdqAssign]] — one broadcast join per round), read
    * history candidates from the touched
    * inverted lists via a STATIC `list_id IN (...)` partition filter
    * (the touched-list set is a ≤ k-row driver read of the batch
    * assignment — bounded by the quantizer size, not the data), verify
    * cosine ≥ τ = 0.999 with the native codegen `cosine_sim` (the
    * SemDeDup within-list contract of [[dedupSemantic]]), plus
    * within-batch pairs by the same within-list rule. Wire: the
    * per-vector ADMISSION LEDGER (vec_id, label, decision) with
    * decision ∈ kept / dup_index (cosine ≥ τ with an indexed vector —
    * precedence) / dup_batch (cosine ≥ τ with a smaller-vec_id batch
    * vector).
    *
    * The batch is PLANTED deterministically (the dedupIncr pattern):
    * vec_id ≡ 0 (mod 25) re-enters VERBATIM (+1e6 → dup_index at
    * cos = 1); ≡ 3 (mod 25) re-enters dim-0-perturbed (+2e6 → the
    * [[dedupSemantic]] twin, cos ≈ 0.9999998 ≥ τ when it lands in its
    * original's list — the SemDeDup cross-list miss is the declared
    * trade); ≡ 7 (mod 25) enters REVERSED (unrelated direction,
    * cos ≪ τ) TWICE (+3e6 kept, +4e6 dup_batch).
    *
    * ORACLE-CHECKED since r17 (the r16 verdict's ask #2): the
    * persisted split tables make the whole key SQL-replayable —
    * DuckDB rebuilds the history quantizer (exact min/max cuts,
    * pinned double bucket arithmetic), walks the batch through the
    * same tables, and replays the within-list cosine ≥ τ decisions
    * (OracleSql.incrSemanticSql). DedupSimSpec additionally keeps the
    * EQUIVALENCE PROOF: admission against the standing index ≡ the
    * from-scratch within-list semantic dedup of history ∪ batch under
    * the SAME frozen quantizer, restricted to the batch (per-vector
    * case-by-case), idempotent re-ingest after index growth, and the
    * admission plan asserted to read the index artifact, never the
    * embeddings parquet, on the history side.
    *
    * Scale shape: batch-sized assign (broadcast k-row quantizer) +
    * one partition-pruned scan of the touched lists + within-list
    * verifies bounded by the balanced list size (~N/k per list — the
    * q_dedup_semantic candidate-volume argument); N batches cost N
    * batch-sized probes, zero history rescans; the index freshness
    * probe is the [[datasetFingerprint]] filesystem LIST, zero Spark
    * jobs. */
  def dedupIncrSemantic(s: SparkSession, d: String): DataFrame = {
    graft.plans.GraftExtensions.registerFunctions(s)
    val pfx = indexPrefix("graft_semdedup_idx", d)
    val name = pfx + datasetFingerprint(s, s"$d/embeddings.parquet")
    val dir = java.nio.file.Paths
      .get(System.getProperty("java.io.tmpdir"), name).toString
    // gate on BOTH artifacts: an index written by an older layout (or
    // a build killed between the two writes) rebuilds instead of
    // half-loading
    if (!new java.io.File(s"$dir/lists/_SUCCESS").exists() ||
        !new java.io.File(s"$dir/splits/_SUCCESS").exists()) {
      Tables.refresh(s, d, "embeddings") // see dedupIncr (ADVICE r15)
      dropStaleIndexDirs(pfx, name)
      val e = ScratchCache.cache(Tables.embeddings(s, d)
        .select(col("vec_id"), col("label"),
          expr("transform(embedding, x -> cast(x as double))").as("v")))
      // k = ⌈√N⌉, the SemDeDup list-count contract of dedupSemantic
      // (within-list candidate volume Σ(N/k)²·k = N^1.5 at k = √N)
      val k = math.ceil(math.sqrt(e.count().toDouble)).toInt
      val (asg, splits) =
        kdQuantizeWithSplits(e.select(col("vec_id"), col("v")), k)
      // splits first, the _SUCCESS-gated lists last — a partial build
      // (killed between the writes) re-enters this branch and rebuilds
      splits.write.mode("overwrite").parquet(s"$dir/splits")
      asg.join(e.select(col("vec_id"), col("label")), "vec_id")
        .select(col("vec_id"), col("label"), col("v"), col("list_id"))
        .write.mode("overwrite").partitionBy("list_id")
        .parquet(s"$dir/lists")
      ScratchCache.releaseAll()
    }
    dedupIncrSemanticAdmit(dedupIncrSemanticBatch(Tables.embeddings(s, d)),
      s.read.parquet(s"$dir/splits"),
      IndexMaint.openIndex(s, s"$dir/lists"), tau = 0.999)
  }

  /** Delete stale fingerprint-named index DIRECTORIES under tmpdir
    * (the filesystem twin of [[dropStaleIndexes]] for parquet-artifact
    * indexes that have no metastore entry; same anchored
    * `prefix + 16-hex` name shape, never a bare startsWith). */
  private[graft] def dropStaleIndexDirs(prefix: String, keep: String)
      : Unit = {
    val shape =
      (java.util.regex.Pattern.quote(prefix) + "[0-9a-f]{16}").r
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
      f.delete(); ()
    }
    Option(tmp.listFiles()).getOrElse(Array.empty)
      .filter(f => shape.matches(f.getName) && f.getName != keep)
      .foreach(rm)
  }

  /** The planted incoming batch over any (vec_id, label, embedding)
    * frame: verbatim re-entries (≡0 mod 25, +1e6), dim-0-perturbed
    * twins (≡3 mod 25, +2e6), and a twice-submitted reversed vector
    * (≡7 mod 25, +3e6/+4e6). The `embedding` column stays an array so
    * [[ivfAssign]] consumes the batch unchanged. */
  private[graft] def dedupIncrSemanticBatch(embeddings: DataFrame)
      : DataFrame = {
    val e = embeddings.select(col("vec_id"), col("label"),
      expr("transform(embedding, x -> cast(x as double))").as("embedding"))
    e.filter(col("vec_id") % 25 === 0)
      .select((col("vec_id") + 1000000L).as("vec_id"), col("label"),
        col("embedding"))
      .unionByName(e.filter(col("vec_id") % 25 === 3)
        .select((col("vec_id") + 2000000L).as("vec_id"), col("label"),
          expr("transform(embedding, (x, i) -> " +
            "IF(i = 0, cast(x + 0.001d as double), x))").as("embedding")))
      .unionByName(e.filter(col("vec_id") % 25 === 7)
        .select((col("vec_id") + 3000000L).as("vec_id"), col("label"),
          reverse(col("embedding")).as("embedding")))
      .unionByName(e.filter(col("vec_id") % 25 === 7)
        .select((col("vec_id") + 4000000L).as("vec_id"), col("label"),
          reverse(col("embedding")).as("embedding")))
  }

  /** Admit `batch` (vec_id, label, embedding) against the standing
    * kd-tree index (`splits` — the [[kdQuantizeWithSplits]] per-round
    * cut tables — + `lists` (vec_id, label, v, list_id)): batch
    * assignment is computed in-flight by [[kdqAssign]] on the frozen
    * split tables; history is touched ONLY through the inverted
    * lists, partition-pruned to the batch's touched list ids (a
    * ≤ k-row driver read). */
  private[graft] def dedupIncrSemanticAdmit(batch: DataFrame,
      splits: DataFrame, lists: DataFrame, tau: Double): DataFrame = {
    val asg = ScratchCache.cache(kdqAssign(
      batch.select(col("vec_id"), col("label"),
        expr("transform(embedding, x -> cast(x as double))").as("v")),
      splits))
    // touched lists: bounded by the quantizer size k, never the data —
    // collected so the list scan carries a STATIC partition filter
    val touched = asg.select(col("list_id")).distinct()
      .collect().map(_.getLong(0)).sorted.toSeq
    val dupIdx = asg.as("b")
      .join(lists.filter(col("list_id").isin(touched: _*)).as("h"),
        col("b.list_id") === col("h.list_id"))
      .filter(expr("cosine_sim(b.v, h.v)") >= tau)
      .select(col("b.vec_id").as("vec_id")).distinct()
      .withColumn("in_idx", lit(1))
    val dupBatch = asg.as("x").join(asg.as("y"),
        col("x.list_id") === col("y.list_id") &&
        col("x.vec_id") < col("y.vec_id"))
      .filter(expr("cosine_sim(x.v, y.v)") >= tau)
      .select(col("y.vec_id").as("vec_id")).distinct()
      .withColumn("in_batch", lit(1))
    batch.select(col("vec_id"), col("label"))
      .join(dupIdx, Seq("vec_id"), "left")
      .join(dupBatch, Seq("vec_id"), "left")
      .select(col("vec_id"), col("label"),
        when(col("in_idx").isNotNull, "dup_index")
          .when(col("in_batch").isNotNull, "dup_batch")
          .otherwise("kept").as("decision"))
      .orderBy(col("vec_id"))
  }

  /** q_sim_centroid — per-label centroid (64 dims) + centroid L2 norm.
    * All cross-row sums ride exact decimals; the norm uses
    * Σ(Σv)² / n² so no division happens before the final double —
    * fully partition-order independent. */
  def simCentroid(s: SparkSession, d: String): DataFrame = {
    val g = Tables.embeddings(s, d)
      .select(col("label"), posexplode(col("embedding")))
      .select(col("label"), (col("pos") + 1).cast("long").as("dim"),
        emb(col("col")).as("v"))
      .groupBy(col("label"), col("dim"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(col("v")).cast(DecimalType(17, 12)).as("sv"))
    val nrm = g.groupBy(col("label"))
      .agg(sum(col("sv") * col("sv")).cast("double").as("ss"))
    g.join(nrm, "label")
      .select(col("label"), col("dim"), col("n_vecs"),
        round(col("sv").cast("double") / col("n_vecs"), 6).as("cavg"),
        round(sqrt(col("ss")) / col("n_vecs"), 6).as("cnorm"))
      .orderBy(col("label"), col("dim"))
  }

  /** q_emb_dim_stats — per-dimension embedding health statistics
    * (n, mean, variance, min, max for each of the 64 dimensions): the
    * distribution audit run before any similarity/ANN pass — dead
    * dimensions (≈0 variance), scale outliers and mean drift all show
    * up here, and IVF/LSH bucket quality depends on them.
    *
    * Determinism: each float is quantized once to DECIMAL(12,6)
    * (double→decimal rounds identically in both engines — no exact
    * decimal tie at the 7th place is representable in binary, same
    * argument as [[emb]]); sums and sums-of-squares then stay
    * decimal-EXACT (6/12-scale), are explicitly round()ed to scale 6
    * BEFORE the double wire so the magnitude·10^scale stays under 2^53
    * at any SF (the money-wire rule), and the variance arithmetic runs
    * on the same wired doubles in both engines. min/max are plain
    * float→double casts — no arithmetic, no rounding needed.
    *
    * Scale shape: posexplode is row-local (narrow), ONE hash aggregate
    * down to 64 rows with map-side partials carrying (count, two
    * decimal sums, min, max) — the classic one-pass moments plan; at
    * 100 TB nothing but that single aggregate exchanges. */
  def embDimStats(s: SparkSession, d: String): DataFrame =
    embDimStatsOn(Tables.embeddings(s, d))

  /** Core of q_emb_dim_stats over any frame with an `embedding`
    * Array[Float] column. */
  def embDimStatsOn(embDf: DataFrame): DataFrame = {
    val q6 = (c: Column) => c.cast(DecimalType(12, 6))
    val x = embDf
      .select(posexplode(col("embedding")))
      .select((col("pos") + 1).cast("long").as("dim"),
        col("col").cast("double").as("vd"))
      .withColumn("q", q6(col("vd")))
    val g = x.groupBy(col("dim")).agg(
      count(lit(1)).as("n_vecs"),
      round(sum(col("q")), 6).cast(DecimalType(38, 6)).as("sv"),
      round(sum(col("q") * col("q")), 6).cast(DecimalType(38, 6)).as("sq"),
      min(col("vd")).as("v_min"),
      max(col("vd")).as("v_max"))
    val m = col("sv").cast("double") / col("n_vecs")
    g.select(col("dim"), col("n_vecs"),
        round(m, 6).as("mean"),
        round(col("sq").cast("double") / col("n_vecs") - m * m, 6)
          .as("variance"),
        col("v_min"), col("v_max"))
      .orderBy(col("dim"))
  }

  /** q_emb_gram — the full 64×64 covariance (upper triangle, 2 080
    * pairs) of the embedding table in ONE pass through a typed
    * [[GramAggregator]]: each vector is quantized to integers
    * (`round(x·1000)` — the engine-identical rounding q_emb_quantize
    * proved), the aggregator accumulates {n, Σqᵢ, Σqᵢqⱼ} per partition
    * as a flat Array[Long], and partials merge by elementwise addition.
    *
    * The covariance/PCA feature-prep primitive at 100 TB: raw vectors
    * never shuffle — the only bytes crossing the wire are one ~17 KB
    * state per partition (the posexplode-self-join alternative shuffles
    * N·d² rows). Integer accumulation makes the state exact and
    * order-independent; the final covariance is one shared IEEE double
    * expression over exact inputs, so DuckDB reproduces it bit-for-bit.
    * The (i,j) wire rows come from a generated pair table cross-joined
    * against the single state row — 2 080 rows, driver-free.
    */
  def embGram(s: SparkSession, d: String): DataFrame =
    embGramOn(s, Tables.embeddings(s, d))

  /** Core of q_emb_gram over any frame with an `embedding`
    * Array[Float] column. */
  def embGramOn(s: SparkSession, embDf: DataFrame): DataFrame = {
    val dim = 64
    val gram = udaf(new GramAggregator(dim))
    val st = embDf
      .select(expr("transform(embedding, x -> " +
        "cast(round(cast(x as double) * 1000) as bigint))").as("q"))
      .agg(gram(col("q")).as("st"))
    val pairs = s.range(dim).select(col("id").cast("int").as("i"))
      .withColumn("j", explode(sequence(col("i"), lit(dim - 1))))
    // buffer layout: [1]=n, [2..dim+1]=Σq(i), then the upper triangle
    // at 1-based offset dim+2 + i·dim − i(i−1)/2 + (j−i)
    val n = element_at(col("st"), 1)
    val si = element_at(col("st"), col("i") + 2)
    val sj = element_at(col("st"), col("j") + 2)
    val sij = element_at(col("st"),
      expr(s"cast(${dim + 2} + i * $dim - (i * (i - 1)) div 2 + (j - i)" +
        " as int)"))
    pairs.withColumn("k", k0(col("i")))
      .join(broadcast(st.withColumn("k", k0(size(col("st"))))), "k")
      .select(col("i").cast("long").as("i"), col("j").cast("long").as("j"),
        sij.as("s_ij"),
        // n is the aggregator's ROW count (state[0]); the oracle's nn
        // matches with COUNT(*), not COUNT(DISTINCT vec_id). Guard the
        // n=1 degenerate input on both engines identically (NULL cov).
        when(n > 1,
          round((sij.cast("double") - si.cast("double") * sj.cast("double")
            / n) / (n - 1), 4)).otherwise(lit(null).cast("double"))
          .as("cov"))
      .orderBy(col("i"), col("j"))
  }

  /** q_emb_pca — TOP PRINCIPAL COMPONENT of the embedding table +
    * per-label projection statistics (r12): the covariance comes from
    * the same one-pass exact [[GramAggregator]] state q_emb_gram
    * builds (vectors never shuffle — ONE ~17 KB integer state crosses
    * the wire); the dominant eigenvector is extracted DRIVER-SIDE by
    * 50 fixed power-iteration steps over that 64×64 matrix (the state
    * is dimension-sized, not data-sized — the same driver-bounded
    * contract as the BPE merge table), and a second distributed pass
    * projects every embedding onto the component, reporting per label
    * (n, mean, sd) of the centered projection plus the eigenvalue and
    * its variance share. The "is one direction eating the variance /
    * do labels separate on PC1" embedding-health probe that runs
    * before any ANN/cluster pass at 100 TB.
    *
    * DETERMINISM — and since r16, a full DuckDB ORACLE: the gram
    * state is exact integers (partition-order invariant); the power
    * iteration runs on the EXACT INTEGER covariance numerator
    * covp(i,j) = n·S_ij − S_i·S_j (scaling never matters under
    * per-step normalization) with the iterate QUANTIZED to a 10⁶-
    * scaled integer vector after every step — each step is then an
    * exact big-integer matvec (summation-order-free, so SQL GROUP BY
    * replays it), one deterministic double norm (a LOWEST-INDEX-FIRST
    * fold of exact-integer squares — DuckDB replays it as
    * list_dot_product over list(... ORDER BY r)), and one
    * deterministic per-element floor(x+0.5) requantization. Sign
    * fixed by making the largest-|loading| coordinate positive
    * (lowest index on ties); λ and the trace come from exact integer
    * contractions divided in a pinned operation order; the projection
    * pass quantizes each row's projection to DECIMAL(24,6) so the
    * per-label moments ride exact decimal sums. Every number is
    * repartition-invariant AND bit-replayable: the oracle unrolls the
    * 50 matvec steps as MATERIALIZED HUGEINT CTEs
    * ([[graft.oracle.OracleSql.pcaSql]]). The spec still asserts the
    * Rayleigh residual, planted-direction recovery and repartition
    * invariance (quantizing the iterate at 10⁻⁶ leaves the component
    * accurate far beyond the 6-dp wire). */
  def embPca(s: SparkSession, d: String): DataFrame =
    embPcaOn(s, Tables.embeddings(s, d))

  /** Core of q_emb_pca over any frame with (label, embedding) columns. */
  def embPcaOn(s: SparkSession, embDf: DataFrame): DataFrame = {
    val dim = 64
    val gram = udaf(new GramAggregator(dim))
    val q = ScratchCache.cache(embDf
      .select(col("label"), expr("transform(embedding, x -> " +
        "cast(round(cast(x as double) * 1000) as bigint))").as("q")))
    val st = q.agg(gram(col("q")).as("st"))
      .collect()(0).getAs[scala.collection.Seq[Long]]("st")
    val n = st(0).toDouble
    require(n > 1, "q_emb_pca needs at least 2 vectors")
    val mean = Array.tabulate(dim)(i => st(1 + i) / n / 1000.0)
    // EXACT integer covariance numerator: covp = n·S_ij − S_i·S_j
    // (covariance in original units = covp / (n(n−1)·10⁶); the power
    // iteration is scale-invariant so it runs on covp directly)
    val nL = st(0)
    val covp = Array.ofDim[BigInt](dim, dim)
    var i = 0
    while (i < dim) {
      var j = i
      while (j < dim) {
        val idx = 1 + dim + i * dim - i * (i - 1) / 2 + (j - i)
        val c = BigInt(nL) * st(idx) - BigInt(st(1 + i)) * st(1 + j)
        covp(i)(j) = c; covp(j)(i) = c
        j += 1
      }
      i += 1
    }
    // fixed-start power iteration on 10⁶-quantized integer iterates:
    // matvec exact (order-free), norm a lowest-index-first double
    // fold over exact squares, requantize floor(x+0.5) — every step
    // bit-replayable in SQL
    var v = Array.fill(dim)(BigInt(125000)) // round(1/√64 · 10⁶)
    var it = 0
    while (it < 50) {
      val nv = Array.tabulate(dim) { r =>
        var acc = BigInt(0)
        var c = 0
        while (c < dim) { acc += covp(r)(c) * v(c); c += 1 }
        acc
      }
      var nrm2 = 0.0
      var r = 0
      while (r < dim) {
        val d = nv(r).toDouble
        nrm2 += d * d
        r += 1
      }
      val nrm = math.sqrt(nrm2)
      if (nrm != 0.0)
        v = nv.map(x => BigInt(math.floor(x.toDouble / nrm * 1e6 + 0.5).toLong))
      it += 1
    }
    // sign convention: largest-|loading| coordinate positive (lowest
    // index wins ties) — the eigenvector is only defined up to ±1
    val pivot = v.zipWithIndex.maxBy { case (x, ix) => (x.abs, BigInt(-ix)) }
    if (pivot._1 < 0) v = v.map(x => -x)
    // exact integer contractions; divisions in a pinned order shared
    // with the oracle SQL
    val v2 = v.map(x => x * x).sum
    val lNum = {
      var acc = BigInt(0)
      var r = 0
      while (r < dim) {
        var c = 0
        while (c < dim) { acc += v(r) * covp(r)(c) * v(c); c += 1 }
        r += 1
      }
      acc
    }
    val tNum = (0 until dim).map(i => covp(i)(i)).sum
    val lambda = lNum.toDouble / v2.toDouble / (n * (n - 1)) / 1e6
    val trace = tNum.toDouble / (n * (n - 1)) / 1e6
    val vUnitNrm = math.sqrt(v2.toDouble)
    val vd = v.map(x => x.toDouble / vUnitNrm).toArray
    // distributed pass 2: centered projection, decimal-exact moments
    val wCol = array(vd.map(lit(_)).toIndexedSeq: _*)
    val mCol = array(mean.map(lit(_)).toIndexedSeq: _*)
    val prj = aggregate(
      zip_with(
        zip_with(col("q"), mCol, (x: Column, mu: Column) =>
          x.cast("double") / 1000.0 - mu),
        wCol, (cx: Column, wi: Column) => cx * wi),
      lit(0.0), (acc: Column, x: Column) => acc + x)
    q.select(col("label"),
        round(prj, 6).cast(DecimalType(24, 6)).as("p"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(col("p")).cast(DecimalType(38, 6)).as("sp"),
        // square at DECIMAL(18,6) so the product is DECIMAL(37,12) —
        // EXACT; DECIMAL(24,6)² would exceed precision 38 and Spark
        // would silently round the square to scale 6, diverging from
        // the oracle's exact 12-scale squares by an ulp (caught at
        // sf0.001)
        sum((col("p").cast(DecimalType(18, 6)) *
            col("p").cast(DecimalType(18, 6)))
          .cast(DecimalType(38, 12)))
          .cast(DecimalType(38, 12)).as("spp"))
      .select(col("label"), col("n_vecs"),
        round(col("sp").cast("double") / col("n_vecs"), 6)
          .as("proj_mean"),
        when(col("n_vecs") > 1,
          round(sqrt((col("spp").cast("double")
            - col("sp").cast("double") * col("sp").cast("double")
              / col("n_vecs")) / (col("n_vecs") - 1)), 6))
          .as("proj_sd"),
        round(lit(lambda), 6).as("pc1_lambda"),
        round(lit(lambda / trace), 6).as("pc1_var_share"))
      .orderBy(col("label"))
  }

  /** q_emb_kmeans — distributed Lloyd k-means over the embedding table
    * (k = 8, 2 assignment rounds), reporting per final cluster its
    * size, majority label (+ purity count) and exact-decimal inertia.
    * The clustering primitive every curation pass leans on (SemDeDup
    * cluster assignment, domain mixing, coreset selection) expressed
    * as the plan a 1000-executor run wants: each round is ONE
    * broadcast of the k centroid arrays against the vector table
    * (never a shuffle of the vectors by cluster), assignment collapses
    * map-side via a min(struct(score, cid)) partial aggregate over
    * k skinny (vec_id, cid, score) rows per vector, and the centroid
    * recompute is a (cid, dim)-keyed decimal-sum hash aggregate —
    * 8×64 rows on the wire, not vectors.
    *
    * DETERMINISM (the whole key is oracle-checked in DuckDB):
    * seeds are the k smallest md5(vec_id) vectors (cluster ids in
    * that order); assignment minimizes cc − 2·x·c where both dot
    * products are sequential left-to-right double folds (Spark
    * `aggregate(zip_with(...))` ≡ DuckDB `list_dot_product`, the
    * q_sim_cosine_topk bit-match idiom), ties broken by lowest cid;
    * recomputed centroid components ride DECIMAL(25,12) sums and are
    * rounded to 6 dp BEFORE re-entering the double fold; per-row
    * squared distances are rounded to 6 dp and summed as
    * DECIMAL(38,6), so inertia is repartition-invariant. At 100 TB
    * the only change is the seeding (k-means‖ oversampling instead of
    * a global md5 sort-limit — the sort is O(N log N) but returns k
    * rows); rounds stay broadcast-sized as long as k·dim fits a
    * broadcast, which holds to k ~ 100k. A cluster that loses every
    * member in round 1 simply fields no centroid in round 2
    * (documented drop; deterministic). */
  def embKmeans(s: SparkSession, d: String): DataFrame =
    embKmeansOn(Tables.embeddings(s, d), k = 8)

  /** Core of q_emb_kmeans over any (vec_id, label, embedding) frame. */
  def embKmeansOn(embDf: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dot = (a: String, b: String) =>
      expr(s"aggregate(zip_with($a, $b, (x, y) -> x * y), 0d, (acc, x) -> acc + x)")
    val e = ScratchCache.cache(embDf.select(
      col("vec_id"), col("label"),
      col("embedding").cast("array<double>").as("v"))
      .withColumn("xx", dot("v", "v")))
    // k seeds: smallest md5(vec_id); cid = rank in that order. The
    // global sort-limit returns k rows (Spark plans TakeOrderedAndProject
    // — no full sort materializes); the k-row window is driver-trivial.
    val hw = Window.orderBy(col("h"), col("vec_id"))
    val seeds = e.select(col("vec_id"))
      .withColumn("h", md5(col("vec_id").cast("string")))
      .orderBy(col("h"), col("vec_id")).limit(k)
      .withColumn("cid", (row_number().over(hw) - 1).cast("long"))
      .select(col("vec_id"), col("cid"))
    val c1 = e.join(broadcast(seeds), "vec_id")
      .select(col("cid"), col("v").as("cv"))
      .withColumn("cc", dot("cv", "cv"))
    // one Lloyd assignment: k-row broadcast against the vectors, then
    // a partial-aggregating min(struct(score, cid)) per vec_id. Only
    // (vec_id, cid, score) rows shuffle — never the vectors.
    def assign(cents: DataFrame): DataFrame =
      e.select(col("vec_id"), col("v"))
        .join(broadcast(cents.withColumn("j", k0(col("cid")))),
          k0(col("vec_id")) === col("j"))
        .select(col("vec_id"), col("cid"),
          (col("cc") - lit(2.0) * dot("v", "cv")).as("sc"))
        .groupBy(col("vec_id"))
        .agg(min(struct(col("sc"), col("cid"))).as("m"))
        .select(col("vec_id"), col("m.cid").as("cid"), col("m.sc").as("sc"))
    val a1 = assign(c1)
    // centroid recompute: (cid, dim)-keyed decimal sums — 6-dp-rounded
    // double components so the round-2 fold replays in DuckDB.
    val c2 = e.join(a1.select(col("vec_id"), col("cid")), "vec_id")
      .select(col("cid"), posexplode(col("v")))
      .groupBy(col("cid"), col("pos"))
      .agg(count(lit(1)).as("n"),
        sum(emb(col("col"))).cast(DecimalType(38, 12)).as("sv"))
      .withColumn("m", round(col("sv").cast("double") / col("n"), 6))
      .groupBy(col("cid"))
      .agg(transform(
        sort_array(collect_list(struct(col("pos"), col("m")))),
        s => s.getField("m")).as("cv"))
      .withColumn("cc", dot("cv", "cv"))
    val a2 = assign(c2)
    val fin = e.join(a2, "vec_id")
      .select(col("cid"), col("label"),
        round(col("xx") + col("sc"), 6).cast(DecimalType(20, 6)).as("d2"))
      .pipe(ScratchCache.cache)
    val sizes = fin.groupBy(col("cid"))
      .agg(count(lit(1)).as("n_vecs"),
        round(sum(col("d2")).cast(DecimalType(38, 6)).cast("double"), 6)
          .as("inertia"))
    val lw = Window.partitionBy(col("cid"))
      .orderBy(col("nl").desc, col("label").asc)
    val top = fin.groupBy(col("cid"), col("label"))
      .agg(count(lit(1)).as("nl"))
      .withColumn("rk", row_number().over(lw))
      .filter(col("rk") === 1)
      .select(col("cid"), col("label").as("top_label"),
        col("nl").as("n_top"))
    sizes.join(top, "cid")
      .select(col("cid"), col("n_vecs"), col("top_label"),
        col("n_top"), col("inertia"))
      .orderBy(col("cid"))
  }

  /** q_emb_pq — PRODUCT QUANTIZATION codebook training (Jégou, Douze
    * & Schmid, "Product Quantization for Nearest Neighbor Search",
    * TPAMI 2011): the 64-dim vectors split into m=4 contiguous 16-dim
    * subspaces, each subspace k-means-quantized to k=4 codes → every
    * vector compresses to m small codes (here 4×2 bits vs 64×4 bytes,
    * a 256× storage cut — the memory trick that makes billion-vector
    * ANN feasible; production uses m=8..64, k=256, same algebra).
    * Training mirrors [[embKmeansOn]] EXACTLY (md5 sort-limit seeds,
    * one Lloyd update with DECIMAL(25,12)-exact dim sums rounded to 6
    * dp, reassign) but with `sub` added to every key — all m
    * subspace trainings run in ONE plan, no per-subspace loop: the
    * seed join, the k·m-row broadcast assign, the (sub, cid, dim)
    * hash-agg update. Scale shape identical to kmeans: only (vec_id,
    * sub, cid, score) rows ever shuffle, centroids stay broadcast to
    * k·m ~ 10^5. The ADC search path (asymmetric distance: query vs
    * per-code lookup tables) and the merge with the IVF lists rides
    * in DedupSimSpec — recall-bounded vs brute force, the
    * [[simAnnIvf]] discipline. Wire: per (sub, code) cell sizes and
    * exact-decimal reconstruction error — the codebook quality
    * ledger, fully DuckDB-replayable. */
  def embPq(s: SparkSession, d: String): DataFrame =
    embPqOn(Tables.embeddings(s, d), m = 4, k = 4)

  /** PQ model shared by [[embPqOn]] and [[embPqAdcTopK]]: returns
    * (subs, codebook, codes) — subs = cached (vec_id, sub, v, xx)
    * slices, codebook = (sub, cid, cv, cc) after one Lloyd update,
    * codes = (vec_id, sub, cid, sc) final assignments. */
  private[graft] def embPqModel(embDf: DataFrame, m: Int,
      k: Int): (DataFrame, DataFrame, DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    val dim = 64
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    val sd = dim / m
    val dot = (a: String, b: String) =>
      expr(s"aggregate(zip_with($a, $b, (x, y) -> x * y), 0d, (acc, x) -> acc + x)")
    val base = embDf.select(col("vec_id"),
      col("embedding").cast("array<double>").as("fv"))
    // SAMPLED CODEBOOK TRAINING (the learnedCentroids gate applied to
    // PQ): above trainMax vectors, the seed pick + Lloyd refinement
    // run on the trainMax smallest-md5(vec_id) rows only; the final
    // ENCODE pass still assigns every vector. Below: identical plan
    // to full training (trainBase IS base). The md5-prefix sample
    // contains the k smallest-md5 rows by construction, so the seeds
    // are the same rows the full trainer would pick.
    val trainMax = math.max(k.toLong, annTrainMax(embDf.sparkSession))
    val n = base.count()
    val trainBase = if (n <= trainMax) base
      else md5PrefixSample(base, "vec_id", trainMax, n)
    // (vec_id, sub, v): one row per vector per subspace slice
    def slices(b: DataFrame): DataFrame = b
      .select(col("vec_id"),
        explode(sequence(lit(0L), lit(m - 1L))).as("sub"), col("fv"))
      .select(col("vec_id"), col("sub"),
        expr(s"slice(fv, 1 + CAST(sub * $sd AS INT), $sd)").as("v"))
      .withColumn("xx", dot("v", "v"))
    val subs = ScratchCache.cache(slices(base))
    val subsTrain = if (n <= trainMax) subs
      else ScratchCache.cache(slices(trainBase))
    // k seed vectors by md5 order — the SAME seed rows feed every
    // subspace (their per-subspace slices differ, so codebooks do too)
    val hw = Window.orderBy(col("h"), col("vec_id"))
    val seeds = trainBase.select(col("vec_id"))
      .withColumn("h", md5(col("vec_id").cast("string")))
      .orderBy(col("h"), col("vec_id")).limit(k)
      .withColumn("cid", (row_number().over(hw) - 1).cast("long"))
      .select(col("vec_id"), col("cid"))
    val c1 = subsTrain.join(broadcast(seeds), "vec_id")
      .select(col("sub"), col("cid"), col("v").as("cv"))
      .withColumn("cc", dot("cv", "cv"))
    // assignment: m·k-row broadcast equi-join on sub, partial-agg min
    def assign(cents: DataFrame, over: DataFrame): DataFrame =
      over.select(col("vec_id"), col("sub").as("sb"), col("v"))
        .join(broadcast(cents), col("sb") === col("sub"))
        .select(col("vec_id"), col("sb").as("sub"), col("cid"),
          (col("cc") - lit(2.0) * dot("v", "cv")).as("sc"))
        .groupBy(col("vec_id"), col("sub"))
        .agg(min(struct(col("sc"), col("cid"))).as("mn"))
        .select(col("vec_id"), col("sub"),
          col("mn.cid").as("cid"), col("mn.sc").as("sc"))
    val a1 = assign(c1, subsTrain)
    val c2 = subsTrain
      .join(a1.select(col("vec_id"), col("sub"), col("cid")),
        Seq("vec_id", "sub"))
      .select(col("sub"), col("cid"), posexplode(col("v")))
      .groupBy(col("sub"), col("cid"), col("pos"))
      .agg(count(lit(1)).as("n"),
        sum(emb(col("col"))).cast(DecimalType(38, 12)).as("sv"))
      .withColumn("mv", round(col("sv").cast("double") / col("n"), 6))
      .groupBy(col("sub"), col("cid"))
      .agg(expr("transform(array_sort(collect_list(struct(pos, mv))), s -> s.mv)")
        .as("cv"))
      .withColumn("cc", dot("cv", "cv"))
    val a2 = assign(c2, subs)
    (subs, c2, a2)
  }

  /** Core of q_emb_pq over any (vec_id, embedding) frame; dim must be
    * divisible by m. */
  def embPqOn(embDf: DataFrame, m: Int, k: Int): DataFrame = {
    val (subs, _, codes) = embPqModel(embDf, m, k)
    subs.join(codes, Seq("vec_id", "sub"))
      .select(col("sub"), col("cid"),
        round(col("xx") + col("sc"), 6).cast(DecimalType(20, 6)).as("d2"))
      .groupBy(col("sub"), col("cid"))
      .agg(count(lit(1)).as("n_vecs"),
        round(sum(col("d2")).cast(DecimalType(38, 6)).cast("double"), 6)
          .as("recon_err"))
      .orderBy(col("sub"), col("cid"))
  }

  /** ADC (asymmetric distance computation) top-k search over the PQ
    * codes — the Jégou et al. §IV search path: the query builds an
    * m·k LOOKUP TABLE of per-subspace query→centroid partial
    * distances (cc − 2·q_sub·c — the ‖q_sub‖² term is rank-constant
    * and dropped), then every database vector's approximate distance
    * is the SUM of m table lookups keyed by its codes. Scale shape:
    * the LUT is broadcast (m·k rows), the lookup is one broadcast
    * equi-join against the (vec_id, sub, cid) code table + a vec_id
    * hash-agg — no full vectors touched at query time, which is the
    * entire point of PQ at 100 TB (the code table is ~256× smaller
    * than the vectors). Spec-bounded recall vs brute force
    * (DedupSimSpec); approximate by design, so no SQL oracle. */
  def embPqAdcTopK(embDf: DataFrame, m: Int, k: Int, queryVecId: Long,
      topK: Int): DataFrame = {
    val dot = (a: String, b: String) =>
      expr(s"aggregate(zip_with($a, $b, (x, y) -> x * y), 0d, (acc, x) -> acc + x)")
    val (subs, codebook, codes) = embPqModel(embDf, m, k)
    val q = subs.filter(col("vec_id") === queryVecId)
      .select(col("sub").as("qsub"), col("v").as("qv"))
    val lut = codebook.join(broadcast(q), col("sub") === col("qsub"))
      .select(col("sub"), col("cid"),
        (col("cc") - lit(2.0) * dot("qv", "cv")).as("qd"))
    codes.filter(col("vec_id") =!= queryVecId)
      .join(broadcast(lut), Seq("sub", "cid"))
      .groupBy(col("vec_id"))
      .agg(sum(col("qd")).as("adc_dist"))
      .orderBy(col("adc_dist"), col("vec_id")).limit(topK)
  }

  /** q_sample_coreset — LIGHTWEIGHT CORESET sampling for k-means
    * (Bachem, Lucic & Krause, "Scalable k-Means Clustering via
    * Lightweight Coresets", KDD 2018): importance q(x) = ½/n +
    * ½·d²(x,μ)/Σd² mixes uniform mass with distance-to-the-mean mass,
    * each point kept independently with probability min(1, m·q(x))
    * and Horvitz–Thompson weight 1/min(1, m·q(x)) — the weighted subsample
    * is a provable (ε, k)-coreset, THE curation primitive for running
    * k-means/SemDeDup-style analyses on a 100 TB embedding corpus
    * without touching most of it. Two passes, both trivially
    * distributed: (1) exact-decimal mean + Σd² (the q_emb_kmeans
    * centroid discipline — 6-dp-rounded mean components, DECIMAL(20,6)
    * d², DECIMAL(38,6) sum, so the probabilities are bit-identical
    * under any partitioning), (2) a broadcast-stats filter. The
    * selector u(x) is a Lehmer-style affine hash mod 2³¹−1 — exact
    * integers, so selection REPLAYS IN DUCKDB and the oracle checks
    * the exact chosen set + weights (a seeded-RNG formulation could
    * never be cross-engine-checked). Wire: (vec_id, label, w) of the
    * selected points. */
  def sampleCoreset(s: SparkSession, d: String): DataFrame =
    sampleCoresetOn(Tables.embeddings(s, d), m = 100)

  /** Core of q_sample_coreset over any (vec_id, label, embedding)
    * frame; m = target sample size. */
  def sampleCoresetOn(embDf: DataFrame, m: Int): DataFrame = {
    val dot = (a: String, b: String) =>
      expr(s"aggregate(zip_with($a, $b, (x, y) -> x * y), 0d, (acc, x) -> acc + x)")
    val p = 2147483647L
    val e = ScratchCache.cache(embDf.select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("v"))
      .withColumn("xx", dot("v", "v")))
    // pass 1a: exact-decimal per-dim mean, 6-dp components
    val muRow = e.select(posexplode(col("v")))
      .groupBy(col("pos"))
      .agg(count(lit(1)).as("n"),
        sum(emb(col("col"))).cast(DecimalType(38, 12)).as("sv"))
      .withColumn("mv", round(col("sv").cast("double") / col("n"), 6))
      .agg(expr("transform(array_sort(collect_list(struct(pos, mv))), s -> s.mv)")
        .as("mu"), first(col("n")).as("n"))
      .withColumn("mm", dot("mu", "mu"))
    // pass 1b: d²(x, μ) exact on the wire; float slop clamped at 0
    val d2 = e.join(broadcast(muRow.withColumn("j", k0(col("n")))),
        k0(col("vec_id")) === col("j"))
      .select(col("vec_id"), col("label"), col("n"),
        greatest(lit(0.0),
          round(col("xx") + col("mm") - lit(2.0) * dot("v", "mu"), 6))
          .cast(DecimalType(20, 6)).as("d2"))
      .pipe(ScratchCache.cache)
    val sRow = d2.agg(sum(col("d2")).cast(DecimalType(38, 6)).as("st"),
      first(col("n")).as("n2"))
    // pass 2: broadcast-stats selection; u and q replay exactly
    d2.join(broadcast(sRow.withColumn("j2", k0(col("n2")))),
        k0(col("vec_id")) === col("j2"))
      .withColumn("q", lit(0.5) / col("n").cast("double") +
        when(col("st").cast("double") > 0.0,
          lit(0.5) * col("d2").cast("double") / col("st").cast("double"))
          .otherwise(lit(0.0)))
      // 3-step Lehmer chain (48271, the MINSTD multiplier, mod 2³¹−1):
      // one affine step leaves u ≈ 48271·id/p — tiny for small ids, so
      // EVERYTHING under id ~ 10⁴ would be selected; three steps mix
      // small ids across [0,1) while staying exact 63-bit integer math
      .withColumn("hv", pmod(lit(48271L) * pmod(lit(48271L) *
        pmod(lit(48271L) * pmod(col("vec_id") + lit(1L), lit(p)),
          lit(p)), lit(p)), lit(p)))
      .withColumn("u", col("hv").cast("double") / lit(p.toDouble))
      .filter(col("u") < lit(m.toDouble) * col("q"))
      // inclusion probability is min(1, m·q) — a point with m·q > 1 is
      // kept with CERTAINTY, so its Horvitz–Thompson weight is 1, not
      // 1/(m·q) < 1 (which would bias Σw low on extreme-d² points)
      .select(col("vec_id"), col("label"),
        round(lit(1.0) / least(lit(1.0), lit(m.toDouble) * col("q")), 6)
          .as("w"))
      .orderBy(col("vec_id"))
  }

  /** q_emb_outliers — embedding-corpus OUTLIER ledger: top-20 vectors
    * by distance-to-the-corpus-mean z-score — the QC pass run before
    * any dedup/ANN/curation step trusts an embedding column (encoder
    * glitches, wrong-modality rows and truncated inputs all surface as
    * extreme d²(x, μ)). Wire: (vec_id, label, d2, z).
    *
    * EXACT REPLAY: reuses [[sampleCoresetOn]]'s exact-decimal mean +
    * d² discipline, then carries d² as INTEGER MICRO-UNITS
    * (d2u = d²·10⁶, exact — the decimal is scale-6 by construction) so
    * Σd2u and Σd2u² ride DECIMAL(38,0) integers that DuckDB replays in
    * HUGEINT; ranking is by the exact d² itself (z is monotone in d²,
    * so the rounded z can never reorder the ledger), ties by vec_id;
    * z derives from the exact sums through one shared double formula.
    *
    * Scale shape: the coreset's two stats passes + one top-k
    * (TakeOrdered) — no shuffle carries vectors. */
  def embOutliers(s: SparkSession, d: String): DataFrame =
    embOutliersOn(Tables.embeddings(s, d))

  /** Core of q_emb_outliers over any (vec_id, label, embedding)
    * frame (needs ≥ 2 rows for the sample variance). */
  def embOutliersOn(embDf: DataFrame): DataFrame = {
    val dot = (a: String, b: String) =>
      expr(s"aggregate(zip_with($a, $b, (x, y) -> x * y), 0d, (acc, x) -> acc + x)")
    val e = ScratchCache.cache(embDf.select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("v"))
      .withColumn("xx", dot("v", "v")))
    val muRow = e.select(posexplode(col("v")))
      .groupBy(col("pos"))
      .agg(count(lit(1)).as("n"),
        sum(emb(col("col"))).cast(DecimalType(38, 12)).as("sv"))
      .withColumn("mv", round(col("sv").cast("double") / col("n"), 6))
      .agg(expr("transform(array_sort(collect_list(struct(pos, mv))), s -> s.mv)")
        .as("mu"), first(col("n")).as("n"))
      .withColumn("mm", dot("mu", "mu"))
    val d2 = e.join(broadcast(muRow.withColumn("j", k0(col("n")))),
        k0(col("vec_id")) === col("j"))
      .select(col("vec_id"), col("label"),
        (greatest(lit(0.0),
          round(col("xx") + col("mm") - lit(2.0) * dot("v", "mu"), 6))
          .cast(DecimalType(20, 6)) * lit(1000000L))
          .cast(DecimalType(19, 0)).as("d2u"))
      .pipe(ScratchCache.cache)
    val st = d2.agg(count(lit(1)).as("n"),
        sum(col("d2u").cast(DecimalType(38, 0))).cast(DecimalType(38, 0))
          .as("s1"),
        sum((col("d2u").cast(DecimalType(19, 0))
          * col("d2u").cast(DecimalType(19, 0))).cast(DecimalType(38, 0)))
          .cast(DecimalType(38, 0)).as("s2"))
      .withColumn("j2", k0(col("n")))
    d2.join(broadcast(st), k0(col("vec_id")) === col("j2"))
      .withColumn("mean_u", col("s1").cast("double") / col("n"))
      .withColumn("var_u", greatest(lit(0.0),
        (col("s2").cast("double")
          - col("s1").cast("double") * col("s1").cast("double")
            / col("n")) / greatest(col("n") - 1, lit(1L))))
      .select(col("vec_id"), col("label"),
        (col("d2u").cast("double") / lit(1000000.0)).as("d2"),
        when(col("n") > 1 && col("var_u") > 0,
          round((col("d2u").cast("double") - col("mean_u"))
            / sqrt(col("var_u")), 6)).as("z"))
      .orderBy(col("d2").desc, col("vec_id")).limit(20)
  }

  /** q_sample_kcenter — greedy FARTHEST-POINT (k-center) sampling
    * (Gonzalez 1985, the 2-approximation): start from the minimum
    * vec_id, then k−1 times add the point farthest from the current
    * center set — the max-coverage companion of
    * [[sampleCoresetOn]]'s probability-proportional sampling (coreset
    * preserves MASS for k-means; k-center covers the EXTREMES — the
    * eval-set / diversity-probe / outlier-audit pick for an embedding
    * corpus). Wire: the k selected points as (sel_round, vec_id,
    * label, d2_sel) where d2_sel = the max-min-d² the round closed —
    * a decreasing sequence whose last value is the corpus coverage
    * radius at k centers.
    *
    * EXACT REPLAY: d² is quantized round-6 DECIMAL(20,6) on every
    * pair (the [[embKmeansOn]] discipline), argmax ties break by
    * minimum vec_id, and min-d² updates are exact decimal `least` —
    * so DuckDB reproduces the EXACT selected sequence. The plan is
    * fully lazy: each round is one broadcast 1-row join (the new
    * center) + a `least` update, lineage-truncated per round; the
    * argmax is a 1-row aggregate joined back, never collected.
    *
    * Scale shape: k passes over the (vec_id, md) table with the
    * vectors re-joined from the one cached copy — vectors never ride
    * a checkpoint; per round the wire is (vec_id, decimal) plus one
    * 1-row broadcast. O(k·N) distance work, the k-center lower
    * bound. */
  def sampleKcenter(s: SparkSession, d: String): DataFrame =
    sampleKcenterOn(Tables.embeddings(s, d), k = 8)

  /** Core of q_sample_kcenter over any (vec_id, label, embedding)
    * frame; k = number of centers (table must be non-empty). */
  def sampleKcenterOn(embDf: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    val dot = (a: String, b: String) =>
      expr(s"aggregate(zip_with($a, $b, (x, y) -> x * y), 0d, (acc, x) -> acc + x)")
    def trunc(df: DataFrame): DataFrame = {
      val t = df.localCheckpoint(false)
      ScratchCache.defer(() => GraphOps.unpersistCheckpoint(t))
      t
    }
    val D = DecimalType(20, 6)
    val e = ScratchCache.cache(embDf.select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("v"))
      .withColumn("xx", dot("v", "v")))
    // (cv, cc, j) 1-row broadcast frame for a 1-row (vec_id) selection
    def centerOf(sel: DataFrame): DataFrame =
      e.join(broadcast(sel.select(col("vec_id").as("cid"))),
          col("vec_id") === col("cid"))
        .select(col("v").as("cv"), col("xx").as("cc"))
        .withColumn("j", k0(col("cc")))
    def d2New: Column =
      greatest(lit(0.0),
        round(col("xx") + col("cc") - lit(2.0) * dot("v", "cv"), 6))
        .cast(D)
    val c1 = e.agg(min(col("vec_id")).as("vec_id"))
    var ledger = Vector(c1.select(lit(1L).as("sel_round"), col("vec_id"),
      lit(null).cast(D).as("d2_sel")))
    var md = trunc(e
      .join(broadcast(centerOf(c1)), k0(col("vec_id")) === col("j"))
      .select(col("vec_id"), d2New.as("md")))
    for (r <- 2 to k) {
      val amax = md.agg(max(struct(col("md").as("d2"),
          (col("vec_id") * -1).as("nv"))).as("m"))
        .select((col("m.nv") * -1).as("vec_id"), col("m.d2").as("d2_sel"))
      ledger :+= amax.select(lit(r.toLong).as("sel_round"),
        col("vec_id"), col("d2_sel"))
      md = trunc(md.join(e, Seq("vec_id"))
        .join(broadcast(centerOf(amax)), k0(col("vec_id")) === col("j"))
        .select(col("vec_id"), least(col("md"), d2New).as("md")))
    }
    ledger.reduce(_ unionByName _)
      .join(e.select(col("vec_id"), col("label")), "vec_id")
      .select(col("sel_round"), col("vec_id"), col("label"),
        col("d2_sel").cast("double").as("d2_sel"))
      .orderBy(col("sel_round"))
  }

  /** q_sim_ann_ivfpq — IVFADC, the PRODUCTION billion-vector ANN
    * layout (Jégou-Douze-Schmid TPAMI'11 §V, the FAISS IVF+PQ
    * architecture): the LEARNED coarse quantizer ([[learnedCentroids]],
    * k-means‖ seeding) splits the corpus into nlists=10 inverted
    * lists; every vector stores only its list id + the PQ CODES OF ITS
    * RESIDUAL v − c_list (residual encoding concentrates the PQ error
    * budget on the within-cell displacement — §V.A); a query probes
    * the nprobe nearest lists, builds ONE nprobe·m·k-row ADC lookup
    * table from its per-list residuals, and ranks candidates by the
    * sum of m table lookups. The three scale facts that make this THE
    * 100 TB answer: (1) search touches nprobe/nlists of the corpus,
    * (2) ranked candidates are CODES (m small ints), never vectors —
    * the working set shrinks ~256×, (3) the LUT is O(nprobe·m·k) and
    * broadcast. Composes this round's two pieces end-to-end:
    * [[ivfAssign]] lists + [[embPqModel]] codebooks trained on the
    * pooled residuals.
    *
    * CODE BUDGET (r18 verdict #1): the key runs [[simAnnIvfPqOn]]'s
    * default m=16, k=16, nprobe=2 — m=16 subspaces × log2(16)=4 bits =
    * 64-BIT CODES, the FAISS production floor; the 8-bit demo budget
    * (m=4, k=4) that r15-r18 shipped hardcoded measured recall@10 ≈
    * 0.01-0.05 on isotropic data (ADC quantization error above the
    * inter-neighbor gaps — a ranked list indistinguishable from vec_id
    * ties) and stays reachable only via explicit args (AnnLshSpec's
    * 32-row-LUT ledger test). No oracle (quantizer is float-iteration-
    * dependent, like q_sim_ann_ivf); recall vs brute force spec'd in
    * AnnLshSpec, the measured per-budget distribution in SCALE.md. */
  def simAnnIvfPq(s: SparkSession, d: String): DataFrame =
    simAnnIvfPqOn(Tables.embeddings(s, d), queryVecId = 0L)

  /** Core of q_sim_ann_ivfpq over any (vec_id, label, embedding)
    * frame at a code budget of m subspaces of dim 64/m, k centroids per
    * subspace (log2(k)·m-bit codes) and nprobe probed lists — by
    * default the key's 64-bit budget (see [[simAnnIvfPq]]). */
  def simAnnIvfPqOn(embeddings: DataFrame, queryVecId: Long,
      m: Int = 16, k: Int = 16, nprobe: Int = 2): DataFrame = {
    val s = embeddings.sparkSession
    graft.plans.GraftExtensions.registerFunctions(s)
    val dot = (a: String, b: String) => expr(s"dot_product($a, $b)")
    val sd = 64 / m
    val cent = ScratchCache.cache(learnedCentroids(embeddings, k = 10))
    val assigned = ScratchCache.cache(ivfAssign(embeddings, cent))
    // residual encode: r = v − c_list, then PQ codebooks over the
    // POOLED residuals (one codebook set, not per-list — §V.A)
    val resid = assigned.join(broadcast(cent), "list_id")
      .select(col("vec_id"),
        expr("zip_with(v, cv, (x, c) -> x - c)").as("embedding"))
    val (_, codebook, codes) = embPqModel(resid, m, k)
    // probe: nprobe centroid-nearest lists by L2 (the train metric;
    // cc − 2⟨q,c⟩ is rank-equal to the true distance, ‖q‖² constant)
    val qlists = assigned.filter(col("vec_id") === queryVecId)
      .select(col("v").as("qv"), k0(col("vec_id")).as("k"))
      .join(broadcast(cent.withColumn("k", k0(col("list_id")))), "k")
      .select(col("list_id"), col("qv"), col("cv"),
        round(dot("cv", "cv") - lit(2.0) * dot("qv", "cv"), 6).as("qd2"))
      .orderBy(col("qd2"), col("list_id")).limit(nprobe)
    // per-list query residual slices × codebook → the ADC LUT
    // (nprobe·m·k rows — 2·16·16 = 512 at the default budget, 32 in
    // the demo-args ledger test): qd = ‖qr_sub‖² + cc − 2⟨qr_sub, code⟩
    val qr = qlists
      .select(col("list_id"),
        expr("zip_with(qv, cv, (x, c) -> x - c)").as("qres"))
      .select(col("list_id"),
        explode(sequence(lit(0L), lit(m - 1L))).as("sub"), col("qres"))
      .select(col("list_id"), col("sub"),
        expr(s"slice(qres, 1 + CAST(sub * $sd AS INT), $sd)").as("qs"))
      .withColumn("qq", dot("qs", "qs"))
    val lut = qr.join(codebook, Seq("sub"))
      .select(col("list_id"), col("sub"), col("cid"),
        (col("qq") + col("cc") - lit(2.0) * dot("qs", "cv")).as("qd"))
    // candidates = probed lists only; ranked from CODES + LUT, the
    // vectors themselves are never read past the encode
    assigned.filter(col("vec_id") =!= queryVecId)
      .select(col("vec_id"), col("label"), col("list_id"))
      .join(broadcast(qlists.select(col("list_id"))), "list_id")
      .join(codes.select(col("vec_id"), col("sub"), col("cid")), "vec_id")
      .join(broadcast(lut), Seq("list_id", "sub", "cid"))
      .groupBy(col("vec_id"))
      .agg(first(col("label")).as("label"),
        round(sum(col("qd")), 6).as("adc_dist"))
      .orderBy(col("adc_dist"), col("vec_id")).limit(10)
  }
}
