package graft.queries

import org.apache.spark.sql.functions._
import graft.text.TextOps
import graft.operators.Relational
import graft.streaming.StreamExec
import graft.streaming.StreamExec.{Arrivals, Callback, Sliced, Update}

/** Training-data text operators over the `documents` table: exact dedup,
  * MinHash+LSH candidate pairs, SimHash, n-gram Jaccard, language ID,
  * quality scoring, token counting, fingerprinting, and gap
  * sessionization over `events`. Each has a DuckDB oracle re-deriving the
  * identical md5-based hashes.
  */
object TextQueries {

  private val tokSql = "list_filter(string_split(text, ' '), x -> x != '')"

  // doc-side shingles: word 3-grams. Tokens are materialized as a column
  // BEFORE the ngram transform — a lambda body referencing the tokenize
  // expression tree would re-split the text once per shingle element
  // (measured 10x slowdown); referencing an attribute is O(1).
  private def withShingles(df: org.apache.spark.sql.DataFrame) =
    df.select(col("doc_id"), TextOps.tokens(col("text")).as("t"))
      .select(col("doc_id"), TextOps.wordNgrams(col("t"), 3).as("sh"))

  // the t6/g5 shared oracle: LSH pairs → transitive closure → per-vertex
  // component minimum. Two different distributed CC algorithms must both
  // reproduce this exact frame.
  private lazy val ccOverLshPairsSql: String = s"""
        WITH RECURSIVE pairs AS (
          WITH sig AS (
            SELECT doc_id,
                   ${minhashSql(0, shingleSql)} || '|' || ${minhashSql(1, shingleSql)} AS band0,
                   ${minhashSql(2, shingleSql)} || '|' || ${minhashSql(3, shingleSql)} AS band1
            FROM documents),
          bands AS (
            SELECT doc_id, 0 AS band_idx, band0 AS band_val FROM sig
            UNION ALL
            SELECT doc_id, 1, band1 FROM sig)
          SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
          FROM bands a JOIN bands b
            ON a.band_idx = b.band_idx AND a.band_val = b.band_val
          WHERE a.doc_id < b.doc_id),
        edges AS (
          SELECT id_a AS s, id_b AS t FROM pairs
          UNION SELECT id_b, id_a FROM pairs),
        reach(src, node) AS (
          SELECT s, s FROM (SELECT DISTINCT s FROM edges) v
          UNION
          SELECT r.src, e.t FROM reach r JOIN edges e ON r.node = e.s)
        SELECT src AS doc_id, CAST(min(node) AS BIGINT) AS cluster_rep
        FROM reach GROUP BY src ORDER BY doc_id"""

  // t61's churning CDF text table, memoized per (dir, table fingerprint)
  private val cdfTextCopies =
    new LayoutCache[String]("text_cdf_docs")

  /** t61's CDF text lineage (the IoQueries builder pattern): 4 CDF
    * commits, writer-pays O(table) each — build once per sf.
    */
  private def cdfTextDocs(s: org.apache.spark.sql.SparkSession, d: String): String =
    cdfTextCopies.computeIfAbsent(
      s"$d|${Tables.fileFingerprint(s, d, "documents")}", _ => {
        val docs = Tables.documents(s, d).select("doc_id", "text")
        val out = java.nio.file.Files.createTempDirectory(
          PipelineQueries.checkpointParent, "cdfidx_").toString + "/tbl"
        val v0 = docs.filter(col("doc_id") % 4 === 0)
        graft.operators.Scale.writeSnapshotCdf(s, out, v0, "doc_id")
        val v1 = v0.withColumn("text",
            when(col("doc_id") % 8 === 0, concat(col("text"), lit(" upd")))
              .otherwise(col("text")))
          .unionByName(docs.filter(col("doc_id") % 4 === 1))
        graft.operators.Scale.writeSnapshotCdf(s, out, v1, "doc_id")
        val v2 = v1.filter(col("doc_id") % 8 =!= 0 &&
          !(col("doc_id") % 4 === 1 && col("doc_id") % 3 === 0))
        graft.operators.Scale.writeSnapshotCdf(s, out, v2, "doc_id")
        val v3 = v2.unionByName(docs.filter(col("doc_id") % 8 === 0)
          .withColumn("text", concat(col("text"), lit(" v3"))))
        graft.operators.Scale.writeSnapshotCdf(s, out, v3, "doc_id")
        out
      })

  /** Layout prewarm hooks (round-20, guide §2.6): the memoized
    * commit-chain fixtures this file owns, exposed so the bench/verify
    * mains can build INDEPENDENT layouts concurrently at session start
    * instead of serially on first touch inside the query path. Builds
    * are idempotent (LayoutCache.computeIfAbsent) and cost-accounted
    * exactly as before.
    */
  private[graft] def prewarmLayouts(s: org.apache.spark.sql.SparkSession,
                                    d: String): Seq[(String, () => Unit)] = Seq(
    ("text_stream_boot", () => { streamBootDocs(s, d); () }),
    ("text_cdf_docs", () => { cdfTextDocs(s, d); () }))

  /** s25's squashed+vacuumed bootstrap PREFIX (v0..v4 churn commits,
    * squash (0..3], vacuum to one version): immutable once built, so
    * it memoizes like every other commit-chain layout — each s25 run
    * copies it and mutates only the copy (the post-bootstrap commit).
    */
  private val streamBootCopies =
    new LayoutCache[String]("text_stream_boot")

  private def streamBootDocs(s: org.apache.spark.sql.SparkSession,
                             d: String): String =
    streamBootCopies.computeIfAbsent(
      s"$d|${Tables.fileFingerprint(s, d, "documents")}", _ => {
        val tbl = java.nio.file.Files.createTempDirectory(
          graft.streaming.StreamExec.scratchParent, "sboot_")
          .toString + "/tbl"
        val docs = Tables.documents(s, d).select("doc_id", "lang", "n_chars")
        val v0 = docs.filter(col("doc_id") % 3 === 0)
        graft.operators.Scale.writeSnapshotCdf(s, tbl, v0, "doc_id")
        val v1 = v0.withColumn("n_chars",
            when(col("lang") === "en", col("n_chars") + 5).otherwise(col("n_chars")))
          .unionByName(docs.filter(col("doc_id") % 3 === 1 && col("lang") === "de"))
        graft.operators.Scale.writeSnapshotCdf(s, tbl, v1, "doc_id")
        val v2 = v1.filter(col("doc_id") % 3 === 0 || col("lang") =!= "de")
          .unionByName(docs.filter(col("doc_id") % 3 === 1 && col("lang") === "fr"))
        graft.operators.Scale.writeSnapshotCdf(s, tbl, v2, "doc_id")
        val v3 = v2.filter(!(col("doc_id") % 3 === 0 && col("lang") === "zh"))
        graft.operators.Scale.writeSnapshotCdf(s, tbl, v3, "doc_id")
        val v4 = v3.unionByName(docs.filter(col("doc_id") % 3 === 2 && col("lang") === "en"))
        graft.operators.Scale.writeSnapshotCdf(s, tbl, v4, "doc_id")
        graft.operators.Scale.squashFeed(s, tbl, "doc_id", 0L, 3L)
        graft.operators.Scale.vacuumSnapshots(s, tbl, keepLast = 1)
        tbl
      })

  // fused LSH banding (doc_id, band0, band1): one token scan builds all
  // 4 seed minima (native.minhashSigArr — no interpreted shingle
  // lambda, no shingle strings), bands concat signature slices; values
  // byte-identical to the per-seed lshBands form (HashExprsSpec).
  private def fusedBands(df: org.apache.spark.sql.DataFrame) =
    df.select(col("doc_id"), TextOps.tokens(col("text")).as("__t"))
      .select(col("doc_id"),
        graft.functions.native.minhashSigArr(col("__t"), 3, 4).as("__mh"))
      .select(col("doc_id") +:
        graft.functions.native.lshBandsFromSig(col("__mh"), 4, 2): _*)
  private val shingleSql =
    s"""CASE WHEN len($tokSql) >= 3
        THEN list_transform(range(len($tokSql) - 2),
               i -> array_to_string(list_slice($tokSql, i + 1, i + 3), ' '))
        ELSE [] END"""

  private def minhashSql(seed: Int, of: String) =
    s"list_aggregate(list_transform($of, x -> md5('s$seed' || x)), 'min')"

  // 32-bit simhash SQL (explode + 32 conditional sums; same values as the
  // Spark array-aggregate single-pass form)
  private val simhashSql: String = {
    val sums = (0 until 32).map(j =>
      s"sum(CASE WHEN substring(md5(tok), ${j + 1}, 1) IN ('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END) AS b$j")
      .mkString(",\n           ")
    val value = (0 until 32).map(j => s"(CASE WHEN b$j > 0 THEN ${1L << j} ELSE 0 END)")
      .mkString(" + ")
    s"""
      WITH toks AS (
        SELECT doc_id, unnest($tokSql) AS tok FROM documents
        WHERE len($tokSql) > 0),
      bits AS (
        SELECT doc_id,
           $sums
        FROM toks GROUP BY doc_id)
      SELECT doc_id, CAST($value AS BIGINT) AS simhash
      FROM bits ORDER BY doc_id"""
  }

  // 64-bit simhash SQL: two conditional sums per md5 nibble (bits 8 and
  // 4), sign bit added as -(2^63) to stay inside BIGINT — validated
  // bit-identical to HashAlgos.simhash64 including the sign bit.
  /** 64-bit simhash over an arbitrary (doc_id, tok) source CTE —
    * reused by t22 (word tokens) and m5 (frame hashes). */
  private[queries] def simhash64SqlOver(toksCte: String): String = {
    def nibChars(mask: Int): String =
      "0123456789abcdef".zipWithIndex.collect { case (c, n) if (n & mask) != 0 => c }.mkString("','")
    val sums = (0 until 64).map { j =>
      val mask = if ((j & 1) == 0) 8 else 4
      s"sum(CASE WHEN substring(md5(tok), ${(j >> 1) + 1}, 1) IN ('${nibChars(mask)}') THEN 1 ELSE -1 END) AS b$j"
    }.mkString(",\n           ")
    val low = (0 until 63).map(j => s"(CASE WHEN b$j > 0 THEN ${1L << j} ELSE 0 END)")
      .mkString(" + ")
    val value = s"$low + (CASE WHEN b63 > 0 THEN -9223372036854775808 ELSE 0 END)"
    s"""
      WITH toks AS (
        $toksCte),
      bits AS (
        SELECT doc_id,
           $sums
        FROM toks GROUP BY doc_id)
      SELECT doc_id, CAST($value AS BIGINT) AS simhash
      FROM bits"""
  }

  private val simhash64Sql: String = simhash64SqlOver(
    s"""SELECT doc_id, unnest($tokSql) AS tok FROM documents
        WHERE len($tokSql) > 0""")

  /** DuckDB twin of [[TextOps.pigeonholePairs]] — blocking, occupancy
    * cap, and exact Hamming verify all replayed, so the cap is INSIDE
    * the oracle contract (same pattern as v2/t3): both engines drop
    * blocks hotter than `maxBlockSize` before pairing, making the
    * saturating-geometry guard itself hash-matched, not just the happy
    * path. Block masks are precomputed signed-Long literals (DuckDB's
    * `<<` raises on signed overflow, so `65535 << 48` can't be written
    * as a shift there).
    */
  private[queries] def pigeonholeOracle(hashCte: String, blockBits: Int, nBlocks: Int,
                                        maxHamming: Int, maxBlockSize: Int): String = {
    val blocks = (0 until nBlocks).map { b =>
      val mask = ((1L << blockBits) - 1) << (blockBits * b)
      s"SELECT doc_id, simhash, $b AS blk_idx, simhash & CAST($mask AS BIGINT) AS blk_val FROM h"
    }.mkString("\n          UNION ALL ")
    s"""
        WITH h AS ($hashCte),
        blocks AS (
          $blocks),
        bcnt AS (
          SELECT blk_idx, blk_val, count(*) AS c
          FROM blocks GROUP BY 1, 2),
        okb AS (
          SELECT bl.doc_id, bl.simhash, bl.blk_idx, bl.blk_val
          FROM blocks bl JOIN bcnt USING (blk_idx, blk_val)
          WHERE c <= $maxBlockSize),
        p AS (
          SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                 CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
          FROM okb a JOIN okb b
            ON a.blk_idx = b.blk_idx AND a.blk_val = b.blk_val
               AND a.doc_id < b.doc_id
          WHERE bit_count(xor(a.simhash, b.simhash)) <= $maxHamming)
        SELECT id_a, id_b, hamming FROM p ORDER BY id_a, id_b"""
  }

  /** t3's LSH candidate pairs, materialized once per (session, dir) and
    * reused — t6's clustering consumes exactly t3's output, and in a real
    * pipeline that upstream stage IS materialized, so t6's cost is the
    * component loop, not an LSH recompute. The cached frame is tiny
    * (candidate pairs, not documents).
    */
  private val lshPairsCache =
    new LayoutCache[org.apache.spark.sql.DataFrame]("text_lsh_pairs")

  /** Test hook: unpersist and drop all cached candidate-pair frames. */
  def clearPairsCache(): Unit = {
    lshPairsCache.values.forEach(df => { df.unpersist(); () })
    lshPairsCache.clear()
  }

  /** t3's banded-LSH candidate-pair derivation as a reusable CTE chain
    * (`sig` → `bands` → `pairs(id_a, id_b)`), shared by the t3 oracle and
    * every oracle that consumes the pair set (t44's leak-free split;
    * m8's modality agreement via the prefixed form, whose names must not
    * collide with the IVF chain's `pairs`).
    */
  private[queries] def lshPairCtesPrefixed(p: String): String = s"""${p}sig AS (
          SELECT doc_id,
                 ${minhashSql(0, shingleSql)} || '|' || ${minhashSql(1, shingleSql)} AS band0,
                 ${minhashSql(2, shingleSql)} || '|' || ${minhashSql(3, shingleSql)} AS band1
          FROM documents),
        ${p}bands AS (
          SELECT doc_id, 0 AS band_idx, band0 AS band_val FROM ${p}sig
          UNION ALL
          SELECT doc_id, 1, band1 FROM ${p}sig),
        ${p}pairs AS (
          SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
          FROM ${p}bands a JOIN ${p}bands b
            ON a.band_idx = b.band_idx AND a.band_val = b.band_val
          WHERE a.doc_id < b.doc_id)"""

  private lazy val lshPairCtes: String = lshPairCtesPrefixed("")

  private[queries] def lshPairsFor(s: org.apache.spark.sql.SparkSession, d: String) =
    // keyed on a documents-file fingerprint (same pattern as the IVF memo)
    // so rewriting the dir's data in-process invalidates instead of
    // serving stale pairs
    lshPairsCache.computeIfAbsent(
      s"${System.identityHashCode(s)}|$d|${Tables.fileFingerprint(s, d, "documents")}", _ =>
        all.find(_.name == "t3_lsh_dup_pairs").get.run(s, d).persist())

  val all: Seq[Q] = Seq(

    // t1: exact dedup by normalized-text fingerprint (hash-groupBy).
    Q("t1_exact_dedup",
      (s, d) => Tables.documents(s, d)
        .withColumn("fp", TextOps.fingerprint(col("text")))
        .groupBy("fp")
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_dups")),
      Some("""
        SELECT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp,
               min(doc_id) AS keep_id, count(*) AS n_dups
        FROM documents GROUP BY 1 ORDER BY fp""")),

    // t2: MinHash signature (4 components over word 3-gram shingles).
    // Shingles are materialized by a first projection so the 4 seed
    // expressions share one tokenize+ngram pass (CollapseProject won't
    // duplicate the expensive alias).
    Q("t2_minhash_signature",
      (s, d) => {
        // fused path: one token scan assembles each shingle's bytes once
        // and digests all 4 seeds (native.minhashSigArr) — same values
        // as 4 per-seed minhash columns, HashExprsSpec-pinned
        TextOps.fanOut(Tables.documents(s, d), col("doc_id"))
          .select(col("doc_id"), TextOps.tokens(col("text")).as("__t"))
          .select(col("doc_id"),
            graft.functions.native.minhashSigArr(col("__t"), 3, 4).as("__mh"))
          .select(col("doc_id") +:
            (0 until 4).map(i => element_at(col("__mh"), i + 1).as(s"mh$i")): _*)
      },
      Some(s"""
        SELECT doc_id,
               ${(0 until 4).map(i => minhashSql(i, shingleSql) + s" AS mh$i").mkString(",\n               ")}
        FROM documents ORDER BY doc_id""")),

    // t3: LSH dup-candidate pairs — docs sharing any of 2 bands
    // (2 minhash rows per band); the O(n²) pair space becomes a
    // band-value equijoin.
    Q("t3_lsh_dup_pairs",
      (s, d) => {
        val docs = Tables.documents(s, d)
        // <3-token docs have no shingles → NULL signature elements →
        // NULL bands (concat propagates, matching the oracle's
        // `NULL || x`); the equijoin's implied isnotnull(band_val) then
        // drops them BEFORE the shuffle. Banding is the FUSED signature
        // (one token scan, all 4 seeds — native.minhashSigArr).
        val banded = fusedBands(docs)
        val exploded = banded.select(col("doc_id"),
          explode(map(lit(0), col("band0"), lit(1), col("band1"))).as(Seq("band_idx", "band_val")))
        // alias-only self-join: both sides canonicalize identically, so
        // ReuseExchange computes the banding + shuffle ONCE (aliasing the
        // id column before the join would fork the plan and double the work)
        exploded.alias("a").join(exploded.alias("b"),
            col("a.band_idx") === col("b.band_idx") &&
              col("a.band_val") === col("b.band_val") &&
              col("a.doc_id") < col("b.doc_id"))
          .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
          .distinct()
      },
      Some(s"""
        WITH $lshPairCtes
        SELECT id_a, id_b FROM pairs ORDER BY id_a, id_b""")),

    // t6: dedup clusters — connected components over the LSH candidate
    // pairs; every clustered doc gets its canonical (min-id) representative.
    // The pair input is t3's output, materialized once per dataset
    // ([[lshPairsFor]]) the way a staged pipeline would persist it.
    // Oracle: transitive closure via recursive CTE.
    Q("t6_dedup_clusters",
      (s, d) => TextOps.clusterPairs(lshPairsFor(s, d)),
      Some(ccOverLshPairsSql)),

    // g5: CONNECTED COMPONENTS BY STAR CONTRACTION — the alternating
    // large-star/small-star algorithm (Kiveris et al., SoCC'14), the
    // web-scale CC discipline production MapReduce stacks use, run over
    // the SAME LSH pair graph as t6 and gated against the SAME
    // transitive-closure oracle — so the two CC implementations
    // (label-propagation pointer halving vs edge-set contraction) are
    // pinned against each other through DuckDB. Scale: t6's loop
    // carries a label frame and needs O(log diameter) rounds of joins
    // against the full edge set; star contraction rewrites the edge
    // set ITSELF, which only shrinks, so every round's shuffles are
    // bounded by a contracting frame — the shape that wins when the
    // graph dwarfs memory. Termination is an exact edge-set fixed
    // point, never a round-count guess.
    Q("g5_cc_star_contraction",
      (s, d) => TextOps.clusterPairsStar(lshPairsFor(s, d)),
      Some(ccOverLshPairsSql)),

    // t51: CLUSTER REPRESENTATIVE SELECTION — the curation step t6
    // stops short of: near-dup dedup keeps the BEST member of each
    // cluster, not an arbitrary one (the standard web-corpus heuristic
    // keeps the longest document; doc_id breaks length ties
    // deterministically). Composes t6's connected components with a
    // per-cluster argmax: min(struct(-len, doc_id)) is ONE partial-agg
    // shuffle keyed by cluster_rep — the struct-min combines map-side,
    // so no window, no sort, no second pass over members; at 100 TB
    // the cost is the CC labels join (doc-keyed equijoin) plus that
    // single reduced exchange. n_dropped is the dedup's removal ledger.
    Q("t51_cluster_representatives",
      (s, d) => {
        val clusters = TextOps.clusterPairs(lshPairsFor(s, d))
        val docs = Tables.documents(s, d)
          .select(col("doc_id"), length(col("text")).cast("long").as("len"))
        clusters.join(docs, "doc_id")
          .groupBy("cluster_rep")
          .agg(min(struct((-col("len")).as("nl"), col("doc_id").as("id"))).as("best"),
            count(lit(1)).as("n_members"))
          .select(col("cluster_rep"), col("best.id").as("kept_doc"),
            (-col("best.nl")).as("kept_len"), col("n_members"),
            (col("n_members") - 1).as("n_dropped"))
          .orderBy("cluster_rep")
      },
      Some(s"""
        WITH RECURSIVE $lshPairCtes,
        edges AS (
          SELECT id_a AS s, id_b AS t FROM pairs
          UNION SELECT id_b, id_a FROM pairs),
        reach(src, node) AS (
          SELECT s, s FROM (SELECT DISTINCT s FROM edges) v
          UNION
          SELECT r.src, e.t FROM reach r JOIN edges e ON r.node = e.s),
        clusters AS (
          SELECT src AS doc_id, CAST(min(node) AS BIGINT) AS cluster_rep
          FROM reach GROUP BY src),
        mem AS (
          SELECT c.doc_id, c.cluster_rep, CAST(length(doc.text) AS BIGINT) AS len
          FROM clusters c JOIN documents doc USING (doc_id)),
        rk AS (
          SELECT *, row_number() OVER (PARTITION BY cluster_rep
                      ORDER BY len DESC, doc_id ASC) AS rn,
                 count(*) OVER (PARTITION BY cluster_rep) AS n_members
          FROM mem)
        SELECT cluster_rep, doc_id AS kept_doc, len AS kept_len,
               n_members, n_members - 1 AS n_dropped
        FROM rk WHERE rn = 1 ORDER BY cluster_rep""")),

    // t4: n-gram Jaccard similarity between consecutive documents
    // (pair generation kept trivial; the similarity math is the point).
    Q("t4_ngram_jaccard",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val a = docs.select(col("doc_id").as("id_a"), TextOps.tokens(col("text")).as("ta"))
        val b = docs.select((col("doc_id") - 1).as("id_a"), col("doc_id").as("id_b"),
          TextOps.tokens(col("text")).as("tb"))
        a.join(b, "id_a")
          .select(col("id_a"), col("id_b"),
            Q.cents(TextOps.jaccard(col("ta"), col("tb")) * 100).as("jaccard_e4"))
      },
      Some(s"""
        WITH t AS (SELECT doc_id, $tokSql AS toks FROM documents)
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
          ${Q.sqlCents("""(CASE WHEN (len(list_distinct(a.toks)) + len(list_distinct(b.toks))
                 - len(list_filter(list_distinct(a.toks), x -> list_contains(b.toks, x)))) = 0 THEN 0.0
            ELSE CAST(len(list_filter(list_distinct(a.toks), x -> list_contains(b.toks, x))) AS DOUBLE)
                 / CAST(len(list_distinct(a.toks)) + len(list_distinct(b.toks))
                   - len(list_filter(list_distinct(a.toks), x -> list_contains(b.toks, x))) AS DOUBLE) END) * 100""")} AS jaccard_e4
        FROM t a JOIN t b ON b.doc_id = a.doc_id + 1
        ORDER BY id_a""")),

    // t5: 32-bit SimHash per document.
    Q("t5_simhash",
      (s, d) => TextOps.fanOut(Tables.documents(s, d), col("doc_id"))
        .select(col("doc_id"), TextOps.tokens(col("text")).as("t"))
        .filter(size(col("t")) > 0)
        .select(col("doc_id"), graft.functions.native.simhash32(col("t")).as("simhash")),
      Some(simhashSql)),

    // t9: language-ID heuristic + stopword ratio (per-mille, exact).
    Q("t9_lang_id",
      (s, d) => Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), TextOps.tokens(col("text")).as("t"))
        .select(
          col("doc_id"), col("lang"),
          TextOps.langIdHeuristic(col("t")).as("lang_pred"),
          floor(TextOps.stopwordRatio(col("t")) * 1000).cast("long").as("sw_ratio_pm")),
      Some(s"""
        WITH t AS (
          SELECT doc_id, lang, $tokSql AS toks FROM documents),
        r AS (
          SELECT doc_id, lang,
            CASE WHEN len(toks) = 0 THEN 0.0
                 ELSE CAST(len(list_filter(toks, x -> list_contains(
                      ['the','a','an','of','and','to','in','is','are','for','on','with','as','at','by','it','this','that','was','be'],
                      lower(x)))) AS DOUBLE) / CAST(len(toks) AS DOUBLE) END AS sw
          FROM t)
        SELECT doc_id, lang,
               CASE WHEN sw >= 0.15 THEN 'en' ELSE 'unk' END AS lang_pred,
               CAST(floor(sw * 1000) AS BIGINT) AS sw_ratio_pm
        FROM r ORDER BY doc_id""")),

    // t10: quality scoring — integer feature counts + a deterministic
    // composite score.
    Q("t10_quality_score",
      (s, d) => Tables.documents(s, d)
        .select(col("doc_id"), col("text"), TextOps.tokens(col("text")).as("t"))
        .select(
          col("doc_id"),
          length(col("text")).cast("long").as("n_chars_actual"),
          size(col("t")).cast("long").as("n_tokens"),
          size(array_distinct(col("t"))).cast("long").as("n_distinct"),
          TextOps.bpeishTokenCount(col("text")).as("n_bpeish"),
          (when(size(col("t")) >= 10, 1).otherwise(0) +
            when(length(col("text")) >= 50, 1).otherwise(0) +
            when(size(array_distinct(col("t"))) * 2 >= size(col("t")), 1).otherwise(0))
            .cast("long").as("quality")),
      Some(s"""
        WITH t AS (SELECT doc_id, text, $tokSql AS toks FROM documents)
        SELECT doc_id,
               CAST(length(text) AS BIGINT) AS n_chars_actual,
               CAST(len(toks) AS BIGINT) AS n_tokens,
               CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct,
               CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')) AS BIGINT) AS n_bpeish,
               CAST((CASE WHEN len(toks) >= 10 THEN 1 ELSE 0 END)
                  + (CASE WHEN length(text) >= 50 THEN 1 ELSE 0 END)
                  + (CASE WHEN len(list_distinct(toks)) * 2 >= len(toks) THEN 1 ELSE 0 END) AS BIGINT) AS quality
        FROM t ORDER BY doc_id""")),

    // t11: token counting, whitespace + BPE-ish, aggregated per source.
    Q("t11_token_count",
      (s, d) => Tables.documents(s, d)
        .groupBy("source")
        .agg(
          sum(TextOps.tokenCount(col("text"))).as("ws_tokens"),
          sum(TextOps.bpeishTokenCount(col("text"))).as("bpeish_tokens"),
          count(lit(1)).as("n_docs")),
      Some(s"""
        SELECT source,
               CAST(sum(len($tokSql)) AS BIGINT) AS ws_tokens,
               CAST(sum(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]'))) AS BIGINT) AS bpeish_tokens,
               count(*) AS n_docs
        FROM documents GROUP BY source ORDER BY source""")),

    // t12: document fingerprints — normalized md5 (oracle-checked) and
    // Karp-Rabin rolling hash (checked too: integer arithmetic is exact).
    Q("t12_fingerprint",
      (s, d) => Tables.documents(s, d)
        .select(col("doc_id"),
          TextOps.fingerprint(col("text")).as("fp_md5"),
          TextOps.rollingHash(col("text")).as("fp_roll")),
      Some("""
        SELECT doc_id,
               md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp_md5,
               CAST(list_reduce(
                 list_prepend(0::BIGINT, list_transform(string_split_regex(text, ''), c -> ord(c))),
                 (acc, x) -> (acc * 31 + x) % 1000000007) AS BIGINT) AS fp_roll
        FROM documents ORDER BY doc_id""")),

    // t7: deterministic content-hash sampling — the reproducible subset
    // primitive (engine/run/partitioning-independent, unlike sample()).
    Q("t7_deterministic_sample",
      (s, d) => Tables.documents(s, d)
        .filter(TextOps.deterministicSample(col("doc_id"), 200))
        .select("doc_id", "lang", "source"),
      Some("""
        SELECT doc_id, lang, source FROM documents
        WHERE ('0x' || substr(md5('smp' || CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT * 1000
              < 200 * 65536
        ORDER BY doc_id""")),

    // t8: stratified deterministic sampling — per-language quotas (en
    // downsampled to 100‰·⅕, others kept at 500‰), the curation move for
    // rebalancing a training corpus. Same md5 primitive as t7.
    Q("t8_stratified_sample",
      (s, d) => {
        val keepPm = when(col("lang") === "en", 100).otherwise(500)
        Tables.documents(s, d)
          .filter(conv(substring(md5(concat(lit("strat"), col("doc_id").cast("string"))), 1, 4), 16, 10)
            .cast("long") * 1000 < keepPm.cast("long") * 65536)
          .groupBy("lang").agg(count(lit(1)).as("kept"))
      },
      Some("""
        SELECT lang, count(*) AS kept FROM documents
        WHERE ('0x' || substr(md5('strat' || CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT * 1000
              < (CASE WHEN lang = 'en' THEN 100 ELSE 500 END) * 65536
        GROUP BY lang ORDER BY lang""")),

    // t38: train/val/test SPLIT — t7/t8 SAMPLE (keep a subset); a split
    // PARTITIONS: every document lands in exactly one of train/val/test
    // (80/10/10), so the assignment must be exhaustive and disjoint BY
    // CONSTRUCTION (non-overlapping ranges of one hash draw — two
    // independent coin flips would leak rows into two splits). Same
    // salted-md5 primitive as t7, different salt: reusing t7's salt
    // would correlate the split with any downstream sample taken with
    // it. Pure map-side predicate — no shuffle until the audit agg; at
    // 100 TB the split column is computed on scan and used as a
    // partition key on write. Output is the audit row per split (count,
    // char mass, id range) a curation run records next to the manifest.
    Q("t38_train_split",
      (s, d) => {
        val b = conv(substring(md5(concat(lit("split"),
          col("doc_id").cast("string"))), 1, 4), 16, 10).cast("long")
        Tables.documents(s, d)
          .withColumn("split",
            when(b * 10 < lit(8L * 65536), "train")
              .when(b * 10 < lit(9L * 65536), "val")
              .otherwise("test"))
          .groupBy("split")
          .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("chars"),
            min("doc_id").as("first_doc"), max("doc_id").as("last_doc"))
          .orderBy("split")
      },
      Some("""
        WITH s AS (
          SELECT doc_id, n_chars,
                 CASE WHEN ('0x' || substr(md5('split' || CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT * 10 < 8 * 65536 THEN 'train'
                      WHEN ('0x' || substr(md5('split' || CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT * 10 < 9 * 65536 THEN 'val'
                      ELSE 'test' END AS split
          FROM documents)
        SELECT split, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS chars,
               min(doc_id) AS first_doc, max(doc_id) AS last_doc
        FROM s GROUP BY split ORDER BY split""")),

    // t39: blocked EDIT-DISTANCE fuzzy join — the similarity kernel the
    // minhash/simhash family doesn't cover: character-level Levenshtein
    // (typo/OCR-noise near-matches, title reconciliation across
    // sources). All-pairs is O(n²·len²) and never acceptable; the
    // blocking key is (lang, first 8 chars of the head) — a content
    // prefix, so block occupancy tracks prefix collisions, not corpus
    // size (the first cut, token-level blocking, collapsed onto a
    // handful of hot tokens at 2× scale: 31 s at sf0.2 vs 3 s at
    // sf0.1). Prefix blocking deliberately trades recall — a pair
    // differing inside the first 8 chars is missed — for a bounded
    // candidate set; v2's enforced occupancy cap (a block larger than
    // 1000 contributes no pairs, like lshPairsBounded) bounds the
    // within-block quadratic, and lives in BOTH engines so the contract
    // itself is oracle-checked. Levenshtein on the 32-char head is
    // exact integer DP in Spark and DuckDB — no cross-engine float
    // risk.
    Q("t39_fuzzy_join",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val doc = Tables.documents(s, d)
          .select(col("doc_id"), col("lang"), substring(col("text"), 1, 32).as("head"))
          // concat (NOT concat_ws): a NULL lang/text must null the block
          // key so the row drops out of the equi-join — matching the
          // oracle's `||`, which propagates NULL the same way; concat_ws
          // would silently skip the null part and join the row anyway
          .withColumn("blk",
            concat(col("lang"), lit("|"), substring(col("head"), 1, 8)))
        val capped = doc.withColumn("__n", count(lit(1)).over(Window.partitionBy("blk")))
          .filter(col("__n") <= 1000).drop("__n")
        val a = capped.select(col("blk"), col("doc_id").as("id_a"), col("head").as("head_a"))
        val b = capped.select(col("blk"), col("doc_id").as("id_b"), col("head").as("head_b"))
        a.join(b, Seq("blk"))
          .filter(col("id_a") < col("id_b"))
          .withColumn("dist", levenshtein(col("head_a"), col("head_b")).cast("long"))
          .filter(col("dist") <= 12)
          .select("id_a", "id_b", "dist")
          .orderBy("id_a", "id_b")
      },
      Some("""
        WITH h0 AS (
          SELECT doc_id,
                 lang || '|' || substr(text, 1, 8) AS blk,
                 substr(text, 1, 32) AS head
          FROM documents),
        h AS (
          SELECT * FROM (
            SELECT doc_id, blk, head, count(*) OVER (PARTITION BY blk) AS n
            FROM h0) WHERE n <= 1000)
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(levenshtein(a.head, b.head) AS BIGINT) AS dist
        FROM h a JOIN h b ON a.blk = b.blk AND a.doc_id < b.doc_id
        WHERE levenshtein(a.head, b.head) <= 12
        ORDER BY id_a, id_b""")),

    // t40: BPE merge-candidate induction — the first round of byte-pair-
    // encoding tokenizer training: count adjacent CHARACTER pairs inside
    // words across the corpus, rank the top merge candidates. (t19's
    // n-grams are word-level; this is the char-level vocab-induction
    // pass.) The length ≥ 2 filter is load-bearing: Spark's
    // sequence(1, 0) descends (step −1), so a 1-char word would emit
    // positions [1, 0] instead of nothing. Map-side explode + partial
    // agg on a small key space (alphabet²), top-20 via TakeOrdered —
    // at 100 TB this is a scan plus a tiny-cardinality shuffle; full
    // BPE iterates merge→re-tokenize→count, each round this same shape.
    Q("t40_bpe_pairs",
      (s, d) => {
        val words = Tables.documents(s, d)
          .select(explode(split(col("text"), " ")).as("w"))
          .filter(length(col("w")) >= 2)
        words
          .select(explode(expr(
            "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")).as("pair"))
          .groupBy("pair").agg(count(lit(1)).as("cnt"))
          .orderBy(col("cnt").desc, col("pair")).limit(20)
      },
      Some("""
        WITH w AS (
          SELECT unnest(string_split(text, ' ')) AS w FROM documents),
        p AS (
          SELECT substr(w, CAST(i AS INT), 2) AS pair
          FROM (SELECT w, unnest(range(1, length(w))) AS i
                FROM w WHERE length(w) >= 2))
        SELECT pair, count(*) AS cnt FROM p
        GROUP BY pair ORDER BY cnt DESC, pair LIMIT 20""")),

    // t41: PRIORITY SAMPLING (Duffield–Lund–Thorup) — the weighted
    // counterpart of t7/t8's uniform draws: selection probability
    // increases with weight (here n_chars: longer docs likelier kept,
    // the char-budget-proportional corpus subset). Priority qᵢ = wᵢ/uᵢ
    // with uᵢ uniform(0,1]; keep the top-k by priority. The uniform is
    // the t7 salted-md5 draw (fresh salt — correlating with t7's keep
    // set would bias both), and the whole computation is INTEGER-exact:
    // u = (h+1)/65536 ⇒ q = w·65536 div (h+1) — no float ordering risk.
    // Map-side priority + TakeOrdered top-k: one bounded reduction at
    // any corpus size, the same shape as every other top-k in the gate.
    Q("t41_priority_sample",
      (s, d) => {
        val h = conv(substring(md5(concat(lit("prio"),
          col("doc_id").cast("string"))), 1, 4), 16, 10).cast("long")
        Tables.documents(s, d)
          .withColumn("__h", h)
          .withColumn("priority", expr("(n_chars * 65536) div (__h + 1)"))
          .select("doc_id", "priority")
          .orderBy(col("priority").desc, col("doc_id")).limit(100)
      },
      Some("""
        SELECT doc_id,
               CAST(n_chars * 65536 //
                 (('0x' || substr(md5('prio' || CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT + 1)
                 AS BIGINT) AS priority
        FROM documents ORDER BY priority DESC, doc_id LIMIT 100""")),

    // s2: the streaming module's windowed-counts transform itself, run on
    // batch input (same code path readStream takes; watermark is a no-op
    // in batch).
    Q("s2_windowed_counts",
      (s, d) => graft.streaming.EventStreams.windowedCounts(
        Tables.events(s, d)),
      Some("""
        SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS bucket,
               event_type, count(*) AS cnt
        FROM events GROUP BY 1, 2 ORDER BY bucket, event_type""")),

    // s1: gap sessionization (30 min) over the event stream's batch twin.
    Q("s1_sessionize",
      (s, d) => {
        val ev = Tables.events(s, d)
        Relational.sessionize(ev, "user_id", "ts_us", 1800L * 1000000,
            order = Seq(col("ts_us").asc, col("event_id").asc))
          .groupBy("user_id", "session_idx")
          .agg(count(lit(1)).as("n_events"),
            min(col("ts_us")).as("start_us"), max(col("ts_us")).as("end_us"))
      },
      Some("""
        WITH ev AS (
          SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events),
        lagd AS (
          SELECT *, lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us ASC, event_id ASC) AS prev_us
          FROM ev),
        flags AS (
          SELECT *, CASE WHEN prev_us IS NULL OR ts_us - prev_us > 1800000000 THEN 1 ELSE 0 END AS is_new
          FROM lagd),
        sess AS (
          SELECT *, CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts_us ASC, event_id ASC
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_idx
          FROM flags)
        SELECT user_id, session_idx, count(*) AS n_events,
               CAST(min(ts_us) AS BIGINT) AS start_us, CAST(max(ts_us) AS BIGINT) AS end_us
        FROM sess GROUP BY user_id, session_idx ORDER BY user_id, session_idx""")),

    // s5: gap sessionization through Spark's NATIVE session_window
    // operator (s1 pins the window/cumsum composition in
    // Relational.sessionize; s5 pins the engine-managed state form the
    // streaming module prefers — [[graft.streaming.EventStreams
    // .sessionizeNative]], identical code on readStream). The oracle
    // derives sessions independently via the lag/gap-flag/cumsum chain,
    // so the native operator's merge semantics (an event within the gap
    // of the session END extends it) are cross-checked, not assumed.
    Q("s5_sessionize_native",
      (s, d) => graft.streaming.EventStreams
        .sessionizeNative(Tables.events(s, d), 1800L * 1000000)
        .orderBy("user_id", "session_start_us"),
      Some("""
        WITH ev AS (
          SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events),
        lagd AS (
          SELECT *, lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us ASC, event_id ASC) AS prev_us
          FROM ev),
        flags AS (
          SELECT *, CASE WHEN prev_us IS NULL OR ts_us - prev_us > 1800000000 THEN 1 ELSE 0 END AS is_new
          FROM lagd),
        sess AS (
          SELECT *, CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts_us ASC, event_id ASC
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_idx
          FROM flags)
        SELECT user_id,
               CAST(min(ts_us) AS BIGINT) AS session_start_us,
               CAST(max(ts_us) AS BIGINT) AS session_end_us,
               count(*) AS n_events
        FROM sess GROUP BY user_id, session_idx
        ORDER BY user_id, session_start_us""")),

    // s7: the SAME sessionization as s5 executed as a REAL incremental
    // StreamingQuery — file source replayed in 4 time-sliced
    // micro-batches (maxFilesPerTrigger=1), engine-managed session
    // state merged ACROSS batches, append emission driven by the
    // watermark (a far-future sentinel row advances it past every real
    // session so the final no-data batch flushes the state store), and
    // the result read back from the parquet SINK, not from a batch
    // plan. The harness hard-fails unless >= 4 data micro-batches ran,
    // so this row is green only if execution was genuinely
    // incremental. Same oracle as s5: streaming execution must agree
    // with the lag/gap-flag/cumsum derivation bit-for-bit.
    Q("s7_stream_sessions",
      (s, d) => {
        val ev = Tables.events(s, d).select(
          col("event_id"), col("ts_us"), col("user_id"),
          col("event_type"), col("value"))
        val gapUs = 1800L * 1000000
        val mm = ev.agg(min("ts_us").as("lo"), max("ts_us").as("hi")).head()
        val (lo, hi) = (mm.getLong(0), mm.getLong(1))
        // nothing replayed is ever late (arrival order inside a slice is
        // nondeterministic), and the sentinel clears every session end
        val latenessUs = (hi - lo) + gapUs
        val sentinel = s.range(1).select(
          lit(-1L).as("event_id"), lit(hi + latenessUs + 2 * gapUs).as("ts_us"),
          lit(-1L).as("user_id"), lit("__wm").as("event_type"),
          lit(0.0).as("value"))
        StreamExec.replay(Seq(Sliced(ev, "ts_us", 2, Some(sentinel), Some((lo, hi))))) {
          case Seq(st) => graft.streaming.EventStreams.sessionizeNative(
            st, gapUs, lateness = s"$latenessUs microseconds")
        }.filter(col("user_id") >= 0)
          .orderBy("user_id", "session_start_us")
      },
      Some("""
        WITH ev AS (
          SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events),
        lagd AS (
          SELECT *, lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us ASC, event_id ASC) AS prev_us
          FROM ev),
        flags AS (
          SELECT *, CASE WHEN prev_us IS NULL OR ts_us - prev_us > 1800000000 THEN 1 ELSE 0 END AS is_new
          FROM lagd),
        sess AS (
          SELECT *, CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts_us ASC, event_id ASC
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_idx
          FROM flags)
        SELECT user_id,
               CAST(min(ts_us) AS BIGINT) AS session_start_us,
               CAST(max(ts_us) AS BIGINT) AS session_end_us,
               count(*) AS n_events
        FROM sess GROUP BY user_id, session_idx
        ORDER BY user_id, session_start_us""")),

    // s8: s2's watermarked tumbling-window aggregation as a real
    // incremental StreamingQuery through the same replay harness —
    // hour windows are fed by MULTIPLE micro-batches (the slices cut
    // the span mid-hour), so partial window state must survive batch
    // boundaries and only emit when the sentinel-advanced watermark
    // passes each window's end. Oracle is s2's: the streamed sink must
    // equal the one-shot GROUP BY.
    Q("s8_stream_windowed_counts",
      (s, d) => {
        val ev = Tables.events(s, d).select(
          col("event_id"), col("ts_us"), col("user_id"),
          col("event_type"), col("value"))
        val hourUs = 3600L * 1000000
        val mm = ev.agg(min("ts_us").as("lo"), max("ts_us").as("hi")).head()
        val (lo, hi) = (mm.getLong(0), mm.getLong(1))
        val latenessUs = (hi - lo) + hourUs
        val sentinel = s.range(1).select(
          lit(-1L).as("event_id"), lit(hi + latenessUs + 2 * hourUs).as("ts_us"),
          lit(-1L).as("user_id"), lit("__wm").as("event_type"),
          lit(0.0).as("value"))
        StreamExec.replay(Seq(Sliced(ev, "ts_us", 2, Some(sentinel), Some((lo, hi))))) {
          case Seq(st) => graft.streaming.EventStreams.windowedCounts(
            st, "1 hour", s"$latenessUs microseconds")
        }.filter(col("event_type") =!= "__wm")
          .orderBy("bucket", "event_type")
      },
      Some("""
        SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS bucket,
               event_type, count(*) AS cnt
        FROM events GROUP BY 1, 2 ORDER BY bucket, event_type""")),

    // s18: SLIDING-WINDOW counts under real execution — s8 proves
    // tumbling windows; sliding windows add the one thing tumbling
    // can't: each event belongs to window/slide OVERLAPPING windows
    // (2 at 1h/30m), so the streaming aggregate's multi-window
    // expansion, doubled open-state population, and per-window
    // watermark-gated emission all run for real across the 4
    // micro-batch boundaries. The oracle states the overlap law
    // directly: every event contributes to exactly the two 30-min-grid
    // starts covering it. At 100 TB sliding windows are the trending/
    // rate surface (s6's batch twin) — state is (window, type)-keyed
    // and expires with the watermark, never O(stream).
    Q("s18_stream_sliding_counts",
      (s, d) => {
        val ev = Tables.events(s, d).select(
          col("event_id"), col("ts_us"), col("user_id"),
          col("event_type"), col("value"))
        val hourUs = 3600L * 1000000
        val mm = ev.agg(min("ts_us").as("lo"), max("ts_us").as("hi")).head()
        val (lo, hi) = (mm.getLong(0), mm.getLong(1))
        val latenessUs = (hi - lo) + hourUs
        val sentinel = s.range(1).select(
          lit(-1L).as("event_id"), lit(hi + latenessUs + 2 * hourUs).as("ts_us"),
          lit(-1L).as("user_id"), lit("__wm").as("event_type"),
          lit(0.0).as("value"))
        StreamExec.replay(Seq(Sliced(ev, "ts_us", 2, Some(sentinel), Some((lo, hi))))) {
          case Seq(st) => graft.streaming.EventStreams.slidingCounts(
            st, "1 hour", "30 minutes", s"$latenessUs microseconds")
        }.filter(col("event_type") =!= "__wm")
          .orderBy("bucket", "event_type")
      },
      Some("""
        WITH ev AS (SELECT epoch_us(ts) AS us, event_type FROM events),
        c AS (SELECT us - us % 1800000000 AS w1, event_type FROM ev),
        x AS (SELECT unnest([w1, w1 - 1800000000]) AS bus, event_type FROM c)
        SELECT CAST(bus // 1000000 AS BIGINT) AS bucket, event_type,
               count(*) AS cnt
        FROM x GROUP BY 1, 2 ORDER BY 1, 2""")),

    // s19: DEDUP-STATE EXPIRY (dropDuplicatesWithinWatermark) — s11
    // proves suppression; s19 proves the state is ALLOWED TO DIE, which
    // is what makes streaming dedup feasible on an infinite stream
    // (s11's plain dropDuplicates state grows forever). Three-batch
    // replay: batch A carries every event TWICE (in-batch dup →
    // emitted once); batch B is a lone watermark-advancer 4 h ahead;
    // batch C re-delivers every A key at fresh timestamps — by then
    // the 1 h TTL has evicted A's fingerprints, so C re-emits IN FULL.
    // TWO advancer batches are load-bearing: batch N's state cleanup
    // runs with the watermark computed through batch N-1, so after ONE
    // advancer the tail of A (events within TTL of the corpus max) is
    // still in state and would suppress part of C — measured, not
    // theorized; the second advancer lets eviction run with the
    // post-advance watermark before C arrives. The oracle states the
    // exact expected sink (A once + both advancers + all of C), so
    // both a leak (C suppressed = state never expired) and a bug (A
    // emitted twice = in-batch dedup broken) break the hash. Scale:
    // state is keys-within-TTL-sized — bounded by arrival rate ×
    // delay, not by stream history.
    Q("s19_stream_dedup_ttl",
      (s, d) => {
        val ev = Tables.events(s, d).select(
          col("event_id"), col("ts_us"), col("user_id"),
          col("event_type"), col("value"))
        val hourUs = 3600L * 1000000
        val hi = ev.agg(max("ts_us")).head().getLong(0)
        val a = ev.union(ev)
        val b = s.range(1).select(
          lit(-2L).as("event_id"), lit(hi + 4 * hourUs).as("ts_us"),
          lit(-2L).as("user_id"), lit("__adv").as("event_type"),
          lit(0.0).as("value"))
        val b2 = s.range(1).select(
          lit(-3L).as("event_id"), lit(hi + 4 * hourUs + 1000000L).as("ts_us"),
          lit(-3L).as("user_id"), lit("__adv").as("event_type"),
          lit(0.0).as("value"))
        val c = ev.withColumn("ts_us", lit(hi + 5 * hourUs))
        StreamExec.replay(Seq(Arrivals(Seq(a, b, b2, c)))) { case Seq(st) =>
          st.withColumn("ts_ts", timestamp_micros(col("ts_us")))
            .withWatermark("ts_ts", "1 hour")
            .dropDuplicatesWithinWatermark("event_id")
            .select("event_id", "ts_us")
        }.groupBy("event_id")
          .agg(count(lit(1)).as("n_emissions"),
            min(col("ts_us")).as("first_ts"), max(col("ts_us")).as("last_ts"))
          .orderBy("event_id")
      },
      Some("""
        WITH ev AS (SELECT event_id, epoch_us(ts) AS ts_us FROM events),
        hi AS (SELECT max(ts_us) AS h FROM ev),
        sink AS (
          SELECT event_id, ts_us FROM ev
          UNION ALL
          SELECT -2, h + 14400000000 FROM hi
          UNION ALL
          SELECT -3, h + 14401000000 FROM hi
          UNION ALL
          SELECT event_id, (SELECT h FROM hi) + 18000000000 FROM ev)
        SELECT event_id, count(*) AS n_emissions,
               CAST(min(ts_us) AS BIGINT) AS first_ts,
               CAST(max(ts_us) AS BIGINT) AS last_ts
        FROM sink GROUP BY event_id ORDER BY event_id""")),

    // s20: UPDATE OUTPUT MODE — the dashboard-refresh semantics every
    // other streaming gate entry (append mode) can't show: a window's
    // count re-emits in EVERY micro-batch where it changed, and the
    // consumer keeps last-writer-wins. BOTH halves are under oracle:
    // the final counts (max-batch row per key == the one-shot GROUP
    // BY) and the EMISSION TRAIL itself — n_updates per key must equal
    // the number of replay slices containing at least one event of
    // that window, because update mode emits exactly-when-changed and
    // the slice rule ((ts-lo) div span) is stated in the oracle
    // verbatim. A key emitted spuriously (no change), a missed
    // re-emission, or a stale final value all break the hash. Scale:
    // state is (window × type)-keyed; the sink write is per-batch
    // changed-keys-sized.
    Q("s20_stream_update_mode",
      (s, d) => {
        val ev = Tables.events(s, d).select(
          col("event_id"), col("ts_us"), col("user_id"),
          col("event_type"), col("value"))
        val upd = StreamExec.replay(Seq(Sliced(ev, "ts_us", 4)), Update) {
          case Seq(st) => st.withColumn("ts_ts", timestamp_micros(col("ts_us")))
            .groupBy(window(col("ts_ts"), "1 hour").as("w"), col("event_type"))
            .agg(count(lit(1)).as("cnt"))
            .select(unix_timestamp(col("w.start")).as("bucket"),
              col("event_type"), col("cnt"))
        }
        val wLast = org.apache.spark.sql.expressions.Window
          .partitionBy("bucket", "event_type").orderBy(col("__batch").desc)
        upd.withColumn("rn", row_number().over(wLast))
          .withColumn("n_updates",
            count(lit(1)).over(org.apache.spark.sql.expressions.Window
              .partitionBy("bucket", "event_type")))
          .filter(col("rn") === 1)
          .select(col("bucket"), col("event_type"), col("cnt"),
            col("n_updates"))
          .orderBy("bucket", "event_type")
      },
      Some("""
        WITH ev AS (SELECT epoch_us(ts) AS us, event_type FROM events),
        mm AS (SELECT min(us) AS lo, max(us) AS hi FROM ev),
        sl AS (
          SELECT us, event_type,
                 (us - (SELECT lo FROM mm))
                   // greatest(1, ((SELECT hi FROM mm) - (SELECT lo FROM mm)) // 4 + 1) AS slice
          FROM ev)
        SELECT CAST((us - us % 3600000000) // 1000000 AS BIGINT) AS bucket,
               event_type, count(*) AS cnt,
               CAST(count(DISTINCT slice) AS BIGINT) AS n_updates
        FROM sl GROUP BY 1, 2 ORDER BY 1, 2""")),

    // s9: the CUSTOM-STATE streaming form under real execution — s7
    // proves the engine-managed session_window path; s9 drives the
    // flatMapGroupsWithState state machine (EventStreams.sessionize:
    // user-written merge logic + event-time TIMEOUT emission) through
    // the same replay harness. Because the slices are time-ordered,
    // the operator's own 30-minute watermark is safe (batch i+1's
    // events are never behind batch i's watermark), and sessions far
    // enough behind the advancing watermark emit MID-replay via
    // GroupState timeouts — the timeout branch runs for real, not just
    // in a spec; the sentinel then flushes the tail. Oracle: the same
    // lag/gap-flag/cumsum chain as s5/s7 — the hand-written state
    // machine, the native operator, and the SQL derivation must agree
    // on every session at the same gap.
    Q("s9_stream_stateful_sessions",
      (s, d) => {
        val ev = Tables.events(s, d).select(
          col("event_id"), col("ts_us"), col("user_id"),
          col("event_type"), col("value"))
        val gapUs = 1800L * 1000000
        // one min/max pass serves the sentinel AND the slice bounds
        // (round-20: the harness's internal min/max scan was a measured
        // chunk of the per-replay floor)
        val mm = ev.agg(min("ts_us").as("lo"), max("ts_us").as("hi")).head()
        val (lo, hi) = (mm.getLong(0), mm.getLong(1))
        val sentinel = s.range(1).select(
          lit(-1L).as("event_id"), lit(hi + 3 * gapUs + 1000000L).as("ts_us"),
          lit(-1L).as("user_id"), lit("__wm").as("event_type"),
          lit(0.0).as("value"))
        implicit val enc: org.apache.spark.sql.Encoder[graft.streaming.EventStreams.Event] =
          org.apache.spark.sql.Encoders.product[graft.streaming.EventStreams.Event]
        StreamExec.replay(Seq(Sliced(ev, "ts_us", 2, Some(sentinel), Some((lo, hi))))) {
          case Seq(st) => graft.streaming.EventStreams.sessionize(st.as[graft.streaming.EventStreams.Event], gapUs).toDF()
        }.filter(col("user_id") >= 0)
          .select(col("user_id"), col("session_start_us"),
            col("session_end_us"), col("n_events"))
          .orderBy("user_id", "session_start_us")
      },
      Some("""
        WITH ev AS (
          SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events),
        lagd AS (
          SELECT *, lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us ASC, event_id ASC) AS prev_us
          FROM ev),
        flags AS (
          SELECT *, CASE WHEN prev_us IS NULL OR ts_us - prev_us > 1800000000 THEN 1 ELSE 0 END AS is_new
          FROM lagd),
        sess AS (
          SELECT *, CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts_us ASC, event_id ASC
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_idx
          FROM flags)
        SELECT user_id,
               CAST(min(ts_us) AS BIGINT) AS session_start_us,
               CAST(max(ts_us) AS BIGINT) AS session_end_us,
               count(*) AS n_events
        FROM sess GROUP BY user_id, session_idx
        ORDER BY user_id, session_start_us""")),

    // s22: ARBITRARY STATE VIA transformWithState — Spark 4's modern
    // stateful API (the flatMapGroupsWithState successor) under real
    // execution: typed NAMED state registered in init (ValueState),
    // EXPLICIT per-key timers (registerTimer / handleExpiredTimer —
    // the delete-then-replace discipline is part of the machine), and
    // the RocksDB state-store provider the API requires (set for this
    // query only through the replay harness's conf window — the first
    // gate row exercising the off-heap store end to end). Semantics
    // are s9's exact session machine, so the THREE implementations —
    // engine session_window (s7), the legacy GroupState machine (s9),
    // and this — are pinned to the SAME SQL oracle: any divergence
    // among the APIs breaks exactly one row and names the culprit.
    Q("s22_stream_tws_sessions",
      (s, d) => {
        val ev = Tables.events(s, d).select(
          col("event_id"), col("ts_us"), col("user_id"),
          col("event_type"), col("value"))
        val gapUs = 1800L * 1000000
        // one min/max pass serves the sentinel AND the slice bounds
        val mm = ev.agg(min("ts_us").as("lo"), max("ts_us").as("hi")).head()
        val (lo, hi) = (mm.getLong(0), mm.getLong(1))
        val sentinel = s.range(1).select(
          lit(-1L).as("event_id"), lit(hi + 3 * gapUs + 1000000L).as("ts_us"),
          lit(-1L).as("user_id"), lit("__wm").as("event_type"),
          lit(0.0).as("value"))
        StreamExec.replay(Seq(Sliced(ev, "ts_us", 2, Some(sentinel), Some((lo, hi)))),
          sessionConfs = Map("spark.sql.streaming.stateStore.providerClass" ->
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")) {
          case Seq(st) => graft.streaming.EventStreams.sessionizeTws(
            st.as[graft.streaming.EventStreams.Event](
              org.apache.spark.sql.Encoders.product[graft.streaming.EventStreams.Event]),
            gapUs).toDF()
        }.filter(col("user_id") >= 0)
          .select(col("user_id"), col("session_start_us"),
            col("session_end_us"), col("n_events"))
          .orderBy("user_id", "session_start_us")
      },
      Some("""
        WITH ev AS (
          SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events),
        lagd AS (
          SELECT *, lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us ASC, event_id ASC) AS prev_us
          FROM ev),
        flags AS (
          SELECT *, CASE WHEN prev_us IS NULL OR ts_us - prev_us > 1800000000 THEN 1 ELSE 0 END AS is_new
          FROM lagd),
        sess AS (
          SELECT *, CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts_us ASC, event_id ASC
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_idx
          FROM flags)
        SELECT user_id,
               CAST(min(ts_us) AS BIGINT) AS session_start_us,
               CAST(max(ts_us) AS BIGINT) AS session_end_us,
               count(*) AS n_events
        FROM sess GROUP BY user_id, session_idx
        ORDER BY user_id, session_start_us""")),

    // s23: STREAMING CDF SOURCE — the round-18 tie between the two
    // strongest subsystems: the snapshot change feed (r88–r96) consumed
    // as a STRUCTURED STREAM. The feed layout is already a streaming
    // source (append-only `_cdf/v=N` parquet dirs; `v` = commit), so
    // the engine's own file source + offset checkpoint provides
    // exactly-once delivery — no bespoke connector. The gate REPLAYS a
    // three-commit table the hard way: commit → drain → commit → drain
    // → commit → drain, each drain a brand-new AvailableNow query on
    // the SAME checkpoint — i.e. two real mid-feed restarts — folding
    // each batch's signed counts into a versioned state table through
    // the idempotent snapshot sink (source offsets fence replays of
    // old batches, the sink token fences the last). In-band: exactly
    // one state commit per table commit (a restart that re-read old
    // feed dirs would double-apply deltas and break BOTH the version
    // count and the hash), and a fourth drain with nothing new must
    // leave the state untouched. Oracle: the from-scratch aggregate of
    // the final contents — the same truth r89's batch fold answers to,
    // so the streaming and batch consumers are pinned to one another.
    Q("s23_stream_cdf_source",
      (s, d) => {
        import org.apache.spark.sql.types._
        val root = java.nio.file.Files.createTempDirectory(
          graft.streaming.StreamExec.scratchParent, "s23_")
        val tbl = root.resolve("tbl").toString
        val state = root.resolve("state").toString
        val ck = root.resolve("ck").toString
        val docs = Tables.documents(s, d)
          .select("doc_id", "source", "lang", "n_chars")
        val feedSchema = StructType(Seq(
          StructField("doc_id", LongType), StructField("source", StringType),
          StructField("lang", StringType), StructField("n_chars", LongType),
          StructField("_change_type", StringType)))
        def drain(): Unit =
          graft.streaming.StreamExec.cdfStreamOnce(s, tbl, ck, feedSchema) {
            (batch, id) =>
              if (batch.limit(1).count() > 0) {
                val deltas = batch
                  .select(col("lang"), col("n_chars"),
                    when(col("_change_type").isin("insert", "update_postimage"), lit(1L))
                      .otherwise(lit(-1L)).as("sign"))
                  .groupBy("lang")
                  .agg(sum(col("sign")).as("dn"),
                    sum(col("sign") * col("n_chars")).as("dchars"))
                val base = graft.operators.Scale.latestSnapshot(s, state) match {
                  case Some(_) => graft.operators.Scale.readSnapshot(s, state)
                  case None => s.createDataFrame(
                    new java.util.ArrayList[org.apache.spark.sql.Row](),
                    StructType(Seq(StructField("lang", StringType),
                      StructField("n_docs", LongType),
                      StructField("sum_chars", LongType))))
                }
                val merged = base.join(deltas, Seq("lang"), "full_outer")
                  .select(col("lang"),
                    (coalesce(col("n_docs"), lit(0L)) + coalesce(col("dn"), lit(0L))).as("n_docs"),
                    (coalesce(col("sum_chars"), lit(0L)) + coalesce(col("dchars"), lit(0L))).as("sum_chars"))
                graft.operators.Scale.writeSnapshotIdempotent(s, state, merged, s"b=$id")
                ()
              }
          }
        // the r88 commit chain, replayed commit-by-commit with a drain
        // (and therefore a query restart) between every pair
        val v0 = docs.filter(col("doc_id") % 3 === 0)
        graft.operators.Scale.writeSnapshotCdf(s, tbl, v0, "doc_id")
        drain()
        val v1 = v0.withColumn("n_chars",
            when(col("source") === "src5", col("n_chars") + 7)
              .otherwise(col("n_chars")))
          .unionByName(docs.filter(col("doc_id") % 3 === 1 && col("lang") =!= "de"))
        graft.operators.Scale.writeSnapshotCdf(s, tbl, v1, "doc_id")
        drain()
        val v2 = v1.filter(!(col("doc_id") % 3 === 0 && col("lang") === "de" &&
            col("source") =!= "src5"))
          .unionByName(docs.filter(col("doc_id") % 3 === 1 && col("lang") === "de"))
        graft.operators.Scale.writeSnapshotCdf(s, tbl, v2, "doc_id")
        drain()
        // exactly-once across restarts: one state commit per table
        // commit — a re-read of old feed dirs would inflate this (and
        // double-apply deltas into the hash below)
        require(graft.operators.Scale.latestSnapshot(s, state).contains(2L),
          "s23: expected exactly 3 state commits (one per drained table commit)")
        // a drain with nothing new is a no-op end to end
        drain()
        require(graft.operators.Scale.latestSnapshot(s, state).contains(2L),
          "s23: an empty drain must not advance the state table")
        graft.operators.Scale.readSnapshot(s, state)
          .filter(col("n_docs") > 0)
          .orderBy("lang")
      },
      Some("""
        SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
        FROM (
          SELECT doc_id, source, lang,
                 CASE WHEN doc_id % 3 = 0 AND source = 'src5'
                      THEN n_chars + 7 ELSE n_chars END AS n_chars
          FROM documents
          WHERE (doc_id % 3 = 0 AND NOT (lang = 'de' AND source <> 'src5'))
             OR doc_id % 3 = 1)
        GROUP BY lang ORDER BY lang""")),

    // s24: STREAMING CDF SOURCE UNDER COLUMN MAPPING — the round-19
    // top task: renameSnapshotColumn is metadata-only, so feed files
    // keep PHYSICAL names forever; a stream consumer naturally asks
    // for the CURRENT logical schema, and a file source reading the
    // logical name against physical-named files would silently
    // NULL-fill it on every batch (parquet schema-on-read) — wrong
    // data, no error, while the batch path (readChangesBetween →
    // toLogicalCols) stayed correct. The gate renames the measure
    // column BETWEEN two drains of one checkpoint (a real mid-feed
    // restart), so the same stream delivers a pre-rename commit under
    // the old logical name and post-rename commits — recorded in
    // physical-named files — under the new one, values intact. Then a
    // FRESH stream started after the rename re-delivers the whole
    // history under current logical names, and the in-band require
    // hash-matches its rows against readChangesBetween over the same
    // span (stream and batch CDF reads are ONE semantics). A stale
    // logical name is a loud error, pinned in StreamingSpec. Oracle:
    // the per-lang aggregate of the final table contents, folded from
    // the stream-delivered feed alone via cdfLatestChanges.
    Q("s24_stream_cdf_rename",
      (s, d) => {
        import org.apache.spark.sql.types._
        val root = java.nio.file.Files.createTempDirectory(
          graft.streaming.StreamExec.scratchParent, "s24_")
        val tbl = root.resolve("tbl").toString
        val ck = root.resolve("ck").toString
        val docs = Tables.documents(s, d).select("doc_id", "lang", "n_chars")
        val delivered = scala.collection.mutable.Buffer[(Long, String, Long, String, Long)]()
        def drain(ckPath: String, lenCol: String): Unit =
          graft.streaming.StreamExec.cdfStreamOnce(s, tbl, ckPath,
            StructType(Seq(StructField("doc_id", LongType),
              StructField("lang", StringType), StructField(lenCol, LongType),
              StructField("_change_type", StringType)))) { (b, _) =>
            delivered ++= b.collect().map(r => (r.getLong(0), r.getString(1),
              r.getLong(2), r.getString(3), r.getLong(4)))
          }
        val v0 = docs.filter(col("doc_id") % 2 === 0)
        graft.operators.Scale.writeSnapshotCdf(s, tbl, v0, "doc_id")
        drain(ck, "n_chars")
        graft.operators.Scale.renameSnapshotColumn(s, tbl, "n_chars", "len")
        // post-rename commits speak the current logical name
        val v1 = v0.withColumnRenamed("n_chars", "len")
          .withColumn("len",
            when(col("lang") === "en", col("len") + 3).otherwise(col("len")))
          .unionByName(docs.filter(col("doc_id") % 2 === 1)
            .withColumnRenamed("n_chars", "len"))
        graft.operators.Scale.writeSnapshotCdf(s, tbl, v1, "doc_id")
        drain(ck, "len")
        require(delivered.nonEmpty && delivered.forall(_._3 > 0L),
          "s24: a NULL-filled length column means the stream read logical " +
            "names against physical-named feed files")
        // restart surface: a FRESH checkpoint replays the full span —
        // including the PRE-rename commit — under current logical names,
        // byte-equal to the batch CDF read
        delivered.clear()
        drain(root.resolve("ck_fresh").toString, "len")
        val stream = delivered.toSet
        val batch = graft.operators.Scale.readChangesBetween(s, tbl, -1L, 1L)
          .select("doc_id", "lang", "len", "_change_type", "_commit_version")
          .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
            r.getString(3), r.getLong(4))).toSet
        require(stream == batch,
          s"s24: streamed CDF rows must hash-match readChangesBetween over " +
            s"the same span (stream ${stream.size} rows, batch ${batch.size})")
        // fold the STREAM's rows to the final state and aggregate
        val sp = s; import sp.implicits._
        val feed = delivered.toSeq
          .toDF("doc_id", "lang", "len", "_change_type", "_commit_version")
        graft.operators.Scale.cdfLatestChanges(feed, "doc_id")
          .filter(col("_change_type") =!= "delete")
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"), sum(col("len")).as("sum_len"))
          .orderBy("lang")
      },
      Some("""
        SELECT lang, count(*) AS n_docs,
               CAST(sum(CASE WHEN doc_id % 2 = 0 AND lang = 'en'
                             THEN n_chars + 3 ELSE n_chars END) AS BIGINT) AS sum_len
        FROM documents
        GROUP BY lang ORDER BY lang""")),

    // s25: CHECKPOINT-AWARE STREAMING BOOTSTRAP — closes the round-18
    // footgun: an UNSTARTED stream over a table whose early per-commit
    // feeds were squashed (squashFeed) and swept (vacuumSnapshots)
    // used to silently miss the swept history (the file source lists
    // only what exists). Now the first drain of a fresh checkpoint
    // detects the gap, serves the widest covering feed checkpoint ONCE
    // as the synthetic batch −1 (net changes — every linear CDF fold
    // is squash-invariant), records the range in a marker inside the
    // stream checkpoint, and follows per-commit dirs outside it. The
    // gate: five commits of churn (updates, a delete, a transient
    // key), squash (0..3], vacuum to one version (sweeping feeds
    // v=1..3), THEN start the stream — fold each batch's signed
    // deltas into the idempotent state sink (batch −1 included: the
    // bootstrap is re-delivered on a crash before the marker lands,
    // and the token fences it). In-band: the marker records (0,3], a
    // post-bootstrap commit arrives incrementally (exactly one more
    // state version), and the folded state equals the from-scratch
    // truth the oracle computes.
    Q("s25_stream_cdf_bootstrap",
      (s, d) => {
        import org.apache.spark.sql.types._
        val root = java.nio.file.Files.createTempDirectory(
          graft.streaming.StreamExec.scratchParent, "s25_")
        val tbl = root.resolve("tbl").toString
        val state = root.resolve("state").toString
        val ck = root.resolve("ck").toString
        val feedSchema = StructType(Seq(StructField("doc_id", LongType),
          StructField("lang", StringType), StructField("n_chars", LongType),
          StructField("_change_type", StringType)))
        def drain(): Unit =
          graft.streaming.StreamExec.cdfStreamOnce(s, tbl, ck, feedSchema) {
            (batch, id) =>
              if (batch.limit(1).count() > 0) {
                val deltas = batch
                  .select(col("lang"), col("n_chars"),
                    when(col("_change_type").isin("insert", "update_postimage"), lit(1L))
                      .otherwise(lit(-1L)).as("sign"))
                  .groupBy("lang")
                  .agg(sum(col("sign")).as("dn"),
                    sum(col("sign") * col("n_chars")).as("dchars"))
                val base = graft.operators.Scale.latestSnapshot(s, state) match {
                  case Some(_) => graft.operators.Scale.readSnapshot(s, state)
                  case None => s.createDataFrame(
                    new java.util.ArrayList[org.apache.spark.sql.Row](),
                    StructType(Seq(StructField("lang", StringType),
                      StructField("n_docs", LongType),
                      StructField("sum_chars", LongType))))
                }
                val merged = base.join(deltas, Seq("lang"), "full_outer")
                  .select(col("lang"),
                    (coalesce(col("n_docs"), lit(0L)) + coalesce(col("dn"), lit(0L))).as("n_docs"),
                    (coalesce(col("sum_chars"), lit(0L)) + coalesce(col("dchars"), lit(0L))).as("sum_chars"))
                graft.operators.Scale.writeSnapshotIdempotent(s, state, merged, s"b=$id")
                ()
              }
          }
        // five commits of churn BEFORE any stream exists — the
        // immutable squashed+vacuumed prefix is a memoized layout
        // (streamBootDocs, charged to layout_build like every commit
        // chain); each run COPIES it (tiny: one retained snapshot +
        // checkpoint + tail feed) because the query then MUTATES its
        // table (the post-bootstrap v5 commit)
        val conf = s.sparkContext.hadoopConfiguration
        val fs = new org.apache.hadoop.fs.Path(tbl).getFileSystem(conf)
        org.apache.hadoop.fs.FileUtil.copy(
          fs, new org.apache.hadoop.fs.Path(streamBootDocs(s, d)),
          fs, new org.apache.hadoop.fs.Path(tbl), false, conf)
        require((1L to 3L).forall(v => !fs.exists(
          new org.apache.hadoop.fs.Path(s"$tbl/_cdf/v=$v"))),
          "s25 premise: vacuum must sweep the checkpoint-covered feeds")
        drain()
        val in = fs.open(new org.apache.hadoop.fs.Path(s"$ck/graft_bootstrap"))
        val marker = try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
                     finally in.close()
        require(marker == "0 3",
          s"s25: bootstrap marker must record the served range (0,3], got '$marker'")
        val afterBoot = graft.operators.Scale.latestSnapshot(s, state)
        // a post-bootstrap commit arrives incrementally — exactly one
        // more state version, not a re-fold of history (v5 derives from
        // the stored snapshot, exactly as a real writer would)
        val v5 = graft.operators.Scale.readSnapshot(s, tbl)
          .withColumn("n_chars",
            when(col("lang") === "fr", col("n_chars") + 1).otherwise(col("n_chars")))
        graft.operators.Scale.writeSnapshotCdf(s, tbl, v5, "doc_id")
        drain()
        require(graft.operators.Scale.latestSnapshot(s, state) ==
            afterBoot.map(_ + 1),
          "s25: the incremental drain must advance the state exactly once")
        graft.operators.Scale.readSnapshot(s, state)
          .filter(col("n_docs") > 0)
          .orderBy("lang")
      },
      Some("""
        SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
        FROM (
          SELECT doc_id, lang,
                 CASE WHEN doc_id % 3 = 0 AND lang = 'en' THEN n_chars + 5
                      WHEN lang = 'fr' THEN n_chars + 1
                      ELSE n_chars END AS n_chars
          FROM documents
          WHERE (doc_id % 3 = 0 AND NOT lang = 'zh')
             OR (doc_id % 3 = 1 AND lang = 'fr')
             OR (doc_id % 3 = 2 AND lang = 'en'))
        GROUP BY lang ORDER BY lang""")),

    // s10: STREAM-STREAM interval join under real execution — the last
    // streaming shape the batch twins couldn't prove: both sides of
    // s3's attribution join become live file streams (one slice per
    // micro-batch EACH), so a 'view' buffered in join state in batch i
    // really does match a 'click' arriving in batch i+1. Inner-join
    // matches emit in the batch where the second side arrives (no
    // watermark wait on output); the watermarks + time-range condition
    // exist for state expiry, with lateness sized to the replay span
    // so intra-slice arrival disorder can never drop a row. The two
    // sentinels (one per side, same far-future instant) advance both
    // watermarks through the whole state horizon at the end — and
    // deliberately match EACH OTHER, exercising the join on the
    // sentinel path too before the user_id filter drops the pair.
    // Same oracle as s3: streamed bytes must equal the one-shot
    // equijoin + residual time filter.
    Q("s10_stream_attribution",
      (s, d) => {
        val ev = Tables.events(s, d).select(
          col("event_id"), col("ts_us"), col("user_id"),
          col("event_type"), col("value"))
        val mm = ev.agg(min("ts_us").as("lo"), max("ts_us").as("hi")).head()
        val (lo, hi) = (mm.getLong(0), mm.getLong(1))
        val hourUs = 3600L * 1000000
        val latenessUs = (hi - lo) + hourUs
        def sentinel = s.range(1).select(
          lit(-1L).as("event_id"), lit(hi + latenessUs + 2 * hourUs).as("ts_us"),
          lit(-1L).as("user_id"), lit("__wm").as("event_type"),
          lit(0.0).as("value"))
        StreamExec.replay(Seq(
          Sliced(ev.filter(col("event_type") === "view"), "ts_us", 2, Some(sentinel)),
          Sliced(ev.filter(col("event_type") === "click"), "ts_us", 2, Some(sentinel)))) {
          case Seq(imps, convs) =>
            graft.streaming.EventStreams.attributionJoin(
              imps, convs, windowSec = 3600,
              lateness = s"$latenessUs microseconds")
        }.filter(col("user_id") >= 0)
          .orderBy("user_id", "imp_id", "conv_id")
      },
      Some("""
        WITH v AS (
          SELECT event_id AS imp_id, user_id, epoch_us(ts) AS ts_us
          FROM events WHERE event_type = 'view'),
        c AS (
          SELECT event_id AS conv_id, user_id, epoch_us(ts) AS ts_us
          FROM events WHERE event_type = 'click')
        SELECT v.user_id, imp_id, conv_id,
               CAST(c.ts_us - v.ts_us AS BIGINT) AS delay_us
        FROM v JOIN c
          ON v.user_id = c.user_id
         AND c.ts_us >= v.ts_us
         AND c.ts_us <= v.ts_us + 3600000000
        ORDER BY v.user_id, imp_id, conv_id""")),

    // s11: STREAMING EXACT DEDUP under real execution — ingest-time
    // dedup, the streaming complement of t48's batch-index
    // maintenance: documents replayed in doc_id-sliced micro-batches
    // through `dropDuplicates` on the t1 normalized-text fingerprint,
    // so a duplicate arriving in batch 3 of a fingerprint first seen
    // in batch 1 is suppressed by STATE carried across batches, and
    // the sink receives each fingerprint exactly once (the frame is
    // reduced to the fingerprint before dedup, so "which arrival wins"
    // — nondeterministic within a batch — cannot leak into the
    // output). No watermark: emission is immediate in append mode and
    // state is O(distinct fingerprints); the production variant with
    // bounded state is dropDuplicatesWithinWatermark when near-time
    // re-arrivals are the only dup source. Oracle: the distinct
    // fingerprint set of the whole corpus.
    Q("s11_stream_exact_dedup",
      (s, d) => {
        val docs = Tables.documents(s, d).select("doc_id", "text")
        // one min/max pass serves the sentinel AND the slice bounds
        val mm = docs.agg(min("doc_id").as("lo"), max("doc_id").as("hi")).head()
        val (lo, hi) = (mm.getLong(0), mm.getLong(1))
        val sentinel = s.range(1).select(
          lit(hi + 1000000L).as("doc_id"), lit("__wm").as("text"))
        StreamExec.replay(
          Seq(Sliced(docs, "doc_id", 2, Some(sentinel), Some((lo, hi))))) { case Seq(st) =>
            st.select(TextOps.fingerprint(col("text")).as("fp"))
              .dropDuplicates("fp")
        }.filter(col("fp") =!= md5(lit("__wm")))
          .orderBy("fp")
      },
      Some("""
        SELECT DISTINCT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
        FROM documents ORDER BY fp""")),

    // s13: STREAM-STATIC enrichment under real execution — the one
    // streaming shape s7–s12 left as a batch twin (s4): each
    // micro-batch of the replayed event stream broadcast-joins the
    // STATIC nation×region dim (stateless — no join state, the static
    // side re-broadcast per batch is the production pattern for
    // dimension enrichment), then feeds a watermarked hourly window
    // aggregation whose partial state spans micro-batch boundaries.
    // The same enrichJoin transform as s4, so the oracle is s4's
    // aggregation bucketed by hour: streamed sink == one-shot GROUP BY.
    Q("s13_stream_static_enrich",
      (s, d) => {
        val ev = Tables.events(s, d).select(
          col("event_id"), col("ts_us"), col("user_id"),
          col("event_type"), col("value"))
        val dim = Tables.nation(s, d)
          .join(Tables.region(s, d), col("n_regionkey") === col("r_regionkey"))
          .select(col("n_nationkey"), col("r_name"))
        val hourUs = 3600L * 1000000
        val mm = ev.agg(min("ts_us").as("lo"), max("ts_us").as("hi")).head()
        val (lo, hi) = (mm.getLong(0), mm.getLong(1))
        val latenessUs = (hi - lo) + hourUs
        val sentinel = s.range(1).select(
          lit(-1L).as("event_id"), lit(hi + latenessUs + 2 * hourUs).as("ts_us"),
          lit(-1L).as("user_id"), lit("__wm").as("event_type"),
          lit(0.0).as("value"))
        StreamExec.replay(Seq(Sliced(ev, "ts_us", 2, Some(sentinel), Some((lo, hi))))) { case Seq(st) =>
          val keyed = st
            .withColumn("n_key", (col("user_id") % 25).cast("int"))
            .withColumn("ts_ts", timestamp_micros(col("ts_us")))
            .withWatermark("ts_ts", s"$latenessUs microseconds")
          graft.streaming.EventStreams.enrichJoin(keyed, dim, "n_key", "n_nationkey")
            .groupBy(window(col("ts_ts"), "1 hour").as("w"),
              col("r_name"), col("event_type"))
            .agg(count(lit(1)).as("cnt"), sum(Q.cents(col("value"))).as("value_cents"))
            .select(unix_timestamp(col("w.start")).as("bucket"),
              col("r_name"), col("event_type"), col("cnt"), col("value_cents"))
        }.filter(col("event_type") =!= "__wm")
          .orderBy("bucket", "r_name", "event_type")
      },
      Some(s"""
        WITH dim AS (
          SELECT n_nationkey, r_name
          FROM nation JOIN region ON n_regionkey = r_regionkey)
        SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS bucket,
               r_name, event_type, count(*) AS cnt,
               CAST(sum(${Q.sqlCents("value")}) AS BIGINT) AS value_cents
        FROM events e LEFT JOIN dim ON CAST(e.user_id % 25 AS INT) = n_nationkey
        GROUP BY 1, 2, 3 ORDER BY bucket, r_name, event_type""")),

    // s14: DQ-GATED STREAMING INGEST — the reference's publish-time DQ
    // (bronze writes + a Glue ruleset verdict) run as a real streaming
    // topology: each micro-batch of the replayed document feed is split
    // by the row-level ruleset (DataQuality.quarantine — clean rows to
    // the curated sink, violating rows with their failed-rule
    // annotations to the quarantine sink) and appends a per-batch audit
    // row per rule. The gate checks BOTH halves of the contract: the
    // streamed sinks' row counts equal the one-shot batch split, and
    // the per-batch audit counts SUM to the full-table violation counts
    // (a row double-counted across batch boundaries, or a batch
    // silently skipped, breaks the sums). Scale: per-batch cost is
    // O(batch) — one scan for the split's two writes sharing a lineage
    // + one aggregate job for the audit; the audit table is
    // (rules × batches)-sized; nothing ever re-reads the sinks during
    // ingest.
    Q("s14_stream_dq_gate",
      (s, d) => {
        import s.implicits._
        val ruleset = """Rules = [
          ColumnValues "n_chars" <= 400,
          ColumnValues "lang" in ["en", "es", "de", "fr"],
          ColumnValues "doc_id" >= 0 ]"""
        val docs = Tables.documents(s, d).select("doc_id", "lang", "n_chars")
        val base = java.nio.file.Files.createTempDirectory(
          graft.streaming.StreamExec.scratchParent, "dqgate_")
        val (cleanDir, quarDir, auditDir) = (base.resolve("clean").toString,
          base.resolve("quar").toString, base.resolve("audit").toString)
        StreamExec.replay(Seq(Sliced(docs, "doc_id", 2)), Callback { (b, _) =>
          val (clean, bad) = graft.quality.DataQuality.quarantine(b, ruleset)
          clean.write.mode("append").parquet(cleanDir)
          bad.write.mode("append").parquet(quarDir)
          graft.quality.DataQuality.evaluate(b, ruleset)
            .results.map(r => (r.rule, r.passed, r.observed))
            .toDF("rule", "passed", "observed")
            .write.mode("append").parquet(auditDir)
        })()
        val audit = s.read.parquet(auditDir)
          .groupBy("rule")
          .agg(sum(col("observed")).as("value"),
            min(when(col("passed"), 1L).otherwise(0L)).as("flag"))
          .select(concat(lit("rule:"), col("rule")).as("metric"),
            col("value"), col("flag"))
        val counts = Seq(
          ("clean_rows", s.read.parquet(cleanDir).count(), -1L),
          ("quarantined_rows", s.read.parquet(quarDir).count(), -1L))
          .toDF("metric", "value", "flag")
        audit.unionByName(counts).orderBy("metric")
      },
      Some("""
        WITH v AS (
          SELECT doc_id, lang, n_chars,
                 (n_chars IS NULL OR NOT n_chars <= 400) AS v1,
                 (lang IS NULL OR lang NOT IN ('en', 'es', 'de', 'fr')) AS v2,
                 (doc_id IS NULL OR NOT doc_id >= 0) AS v3
          FROM documents),
        rules AS (
          SELECT 'rule:ColumnValues "n_chars" <= 400' AS metric,
                 CAST(sum(CASE WHEN v1 THEN 1 ELSE 0 END) AS BIGINT) AS value
          FROM v
          UNION ALL
          SELECT 'rule:ColumnValues "lang" in ["en", "es", "de", "fr"]',
                 CAST(sum(CASE WHEN v2 THEN 1 ELSE 0 END) AS BIGINT) FROM v
          UNION ALL
          SELECT 'rule:ColumnValues "doc_id" >= 0',
                 CAST(sum(CASE WHEN v3 THEN 1 ELSE 0 END) AS BIGINT) FROM v)
        SELECT metric, value,
               CAST(CASE WHEN value = 0 THEN 1 ELSE 0 END AS BIGINT) AS flag
        FROM rules
        UNION ALL
        SELECT 'clean_rows',
               CAST(sum(CASE WHEN NOT (v1 OR v2 OR v3) THEN 1 ELSE 0 END) AS BIGINT),
               CAST(-1 AS BIGINT) FROM v
        UNION ALL
        SELECT 'quarantined_rows',
               CAST(sum(CASE WHEN v1 OR v2 OR v3 THEN 1 ELSE 0 END) AS BIGINT),
               CAST(-1 AS BIGINT) FROM v
        ORDER BY metric""")),

    // s15: LATE-DATA DISCARD under real execution — the watermark
    // semantic none of s7–s14 could exercise, because the time-sliced
    // replay harness never delivers a late row by construction. Here
    // the ARRIVAL order is explicit (StreamExec.Arrivals):
    // the odd-event_id half of the first time-quarter is withheld and
    // re-delivered only AFTER two newer batches have advanced the
    // watermark (1 h lateness; the quarters are ~180 h wide, so the
    // early hour-windows' state is long finalized and evicted) — the
    // engine must DROP those rows, and the oracle is the hourly
    // aggregation over everything EXCEPT the withheld set. If late
    // rows leaked into closed windows (or on-time rows were dropped),
    // the counts hash-diverge. This is the at-scale correctness
    // contract of watermarking: state is bounded because closed
    // windows never reopen, at the documented price that data later
    // than the allowed lateness is discarded, deterministically.
    Q("s15_stream_late_data",
      (s, d) => {
        val ev = Tables.events(s, d).select(col("event_id"), col("ts_us"),
          col("user_id"), col("event_type"), col("value"))
        val hourUs = 3600L * 1000000
        val mm = ev.agg(min("ts_us").as("lo"), max("ts_us").as("hi")).head()
        val (lo, hi) = (mm.getLong(0), mm.getLong(1))
        val q = (hi - lo) / 4
        val isEarly = col("ts_us") < lo + q
        val isOdd = col("event_id") % 2 === 1
        val sentinel = s.range(1).select(
          lit(-1L).as("event_id"), lit(hi + 10 * hourUs).as("ts_us"),
          lit(-1L).as("user_id"), lit("__wm").as("event_type"),
          lit(0.0).as("value"))
        // BOTH middle batches are load-bearing (measured, round 17: a
        // single merged advancer leaks the tail early windows): state
        // cleanup in batch N runs with the watermark computed through
        // batch N-1 (the same lag s19 documents), so the early windows
        // the first advancer's watermark couldn't evict are only
        // removed DURING the second advancer batch — the late batch
        // must arrive after that, or it finds those windows still open
        // and is admitted instead of dropped.
        val batches = Seq(
          ev.filter(isEarly && !isOdd),
          ev.filter(col("ts_us") >= lo + q && col("ts_us") < lo + 3 * q),
          ev.filter(col("ts_us") >= lo + 3 * q),
          ev.filter(isEarly && isOdd), // late: behind the watermark now
          sentinel)
        StreamExec.replay(Seq(Arrivals(batches))) { case Seq(st) =>
          st.withColumn("ts_ts", timestamp_micros(col("ts_us")))
            .withWatermark("ts_ts", "1 hour")
            .groupBy(window(col("ts_ts"), "1 hour").as("w"), col("event_type"))
            .agg(count(lit(1)).as("cnt"))
            .select(unix_timestamp(col("w.start")).as("bucket"),
              col("event_type"), col("cnt"))
        }.filter(col("event_type") =!= "__wm")
          .orderBy("bucket", "event_type")
      },
      Some("""
        WITH b AS (SELECT min(epoch_us(ts)) AS lo, max(epoch_us(ts)) AS hi
                   FROM events),
        keep AS (
          SELECT e.* FROM events e, b
          WHERE NOT (epoch_us(ts) < lo + (hi - lo) // 4 AND event_id % 2 = 1))
        SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS bucket,
               event_type, count(*) AS cnt
        FROM keep GROUP BY 1, 2 ORDER BY bucket, event_type""")),

    // s16: STREAM-STREAM LEFT OUTER JOIN under real execution — the
    // semantics corner the inner join (s10) cannot reach: an
    // impression with NO conversion in its window must still emit,
    // null-padded, and in streaming that row can only appear after
    // the WATERMARK has passed its entire match window (before that,
    // a matching click could still arrive — emitting early would be
    // wrong, emitting never would drop it). The replay drives exactly
    // that machinery: unmatched views buffered as join state across
    // micro-batches are declared unmatched only once the two
    // sentinels push both watermarks past the whole horizon, and the
    // trailing no-data batch flushes the null-padded rows to the
    // sink. Matched rows still emit in the batch where the second
    // side arrives — both emission paths land in one sink under one
    // oracle: the batch LEFT JOIN with the same residual time
    // condition (NULLS FIRST pins the cross-engine sort of the
    // null-padded rows). State cost is identical to s10's inner join
    // (the unmatched flag rides the existing buffered row).
    Q("s16_stream_outer_attribution",
      (s, d) => {
        val ev = Tables.events(s, d).select(
          col("event_id"), col("ts_us"), col("user_id"),
          col("event_type"), col("value"))
        val mm = ev.agg(min("ts_us").as("lo"), max("ts_us").as("hi")).head()
        val (lo, hi) = (mm.getLong(0), mm.getLong(1))
        val hourUs = 3600L * 1000000
        val latenessUs = (hi - lo) + hourUs
        def sentinel = s.range(1).select(
          lit(-1L).as("event_id"), lit(hi + latenessUs + 2 * hourUs).as("ts_us"),
          lit(-1L).as("user_id"), lit("__wm").as("event_type"),
          lit(0.0).as("value"))
        StreamExec.replay(Seq(
          Sliced(ev.filter(col("event_type") === "view"), "ts_us", 2, Some(sentinel)),
          Sliced(ev.filter(col("event_type") === "click"), "ts_us", 2, Some(sentinel)))) {
          case Seq(imps, convs) =>
            graft.streaming.EventStreams.attributionJoin(
              imps, convs, windowSec = 3600,
              lateness = s"$latenessUs microseconds", joinType = "leftOuter")
        }.filter(col("user_id") >= 0)
          .orderBy("user_id", "imp_id", "conv_id")
      },
      Some("""
        WITH v AS (
          SELECT event_id AS imp_id, user_id, epoch_us(ts) AS ts_us
          FROM events WHERE event_type = 'view'),
        c AS (
          SELECT event_id AS conv_id, user_id, epoch_us(ts) AS ts_us
          FROM events WHERE event_type = 'click')
        SELECT v.user_id, imp_id, conv_id,
               CAST(c.ts_us - v.ts_us AS BIGINT) AS delay_us
        FROM v LEFT JOIN c
          ON v.user_id = c.user_id
         AND c.ts_us >= v.ts_us
         AND c.ts_us <= v.ts_us + 3600000000
        ORDER BY v.user_id, imp_id, conv_id NULLS FIRST""")),

    // s17: CHECKPOINT RESTART — the state-RECOVERY path under real
    // execution. s8 proves windowed aggregation state survives
    // micro-batch boundaries within ONE query lifetime; s17 proves it
    // survives the lifetime boundary itself: the replay runs two
    // sequential StreamingQuery instances against one checkpoint
    // (StreamExec.replay with splitAt) — query #1 processes the
    // first slice and stops, query #2 must RESUME from the
    // recorded offsets (batch ids continue — asserted) and restore the
    // state store before processing the rest. Hour windows cut by the
    // stop/restart boundary only reach the sink through recovered
    // state; lateness covers the span, so run 1 emits nothing and the
    // ENTIRE run-1 contribution arrives via the checkpoint. Failure
    // modes are oracle-visible: lost state → undercounted buckets;
    // re-read files → doubled counts; both hash-mismatch the one-shot
    // GROUP BY. This is the production rollout/crash path on a real
    // cluster — correctness rests on the checkpoint contract, not on
    // any single query lifetime.
    Q("s17_stream_restart_recovery",
      (s, d) => {
        val ev = Tables.events(s, d).select(
          col("event_id"), col("ts_us"), col("user_id"),
          col("event_type"), col("value"))
        val hourUs = 3600L * 1000000
        val mm = ev.agg(min("ts_us").as("lo"), max("ts_us").as("hi")).head()
        val (lo, hi) = (mm.getLong(0), mm.getLong(1))
        val latenessUs = (hi - lo) + hourUs
        val sentinel = s.range(1).select(
          lit(-1L).as("event_id"), lit(hi + latenessUs + 2 * hourUs).as("ts_us"),
          lit(-1L).as("user_id"), lit("__wm").as("event_type"),
          lit(0.0).as("value"))
        StreamExec.replay(Seq(Sliced(ev, "ts_us", 2, Some(sentinel), Some((lo, hi)))),
          splitAt = Some(1)) {
          case Seq(st) => graft.streaming.EventStreams.windowedCounts(
            st, "1 hour", s"$latenessUs microseconds")
        }.filter(col("event_type") =!= "__wm")
          .orderBy("bucket", "event_type")
      },
      Some("""
        SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS bucket,
               event_type, count(*) AS cnt
        FROM events GROUP BY 1, 2 ORDER BY bucket, event_type""")),

    // t18: sequence packing — assign documents to fixed-budget (512-token)
    // training sequences by cumulative token count, sharded: packs are
    // contiguous WITHIN a 1000-doc shard (the last pack of each shard may
    // run short — standard practice), so the window partitions by shard
    // and the cumsum is one hash exchange with bounded per-task state,
    // never a global single-partition sort. Deterministic under any input
    // partitioning, unlike greedy bin packing.
    Q("t18_sequence_packing",
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("shard")).orderBy(col("doc_id"))
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
        Tables.documents(s, d)
          .select(col("doc_id"), (col("doc_id") / 1000).cast("long").as("shard"),
            TextOps.tokenCount(col("text")).as("n_tokens"))
          .withColumn("start", sum(col("n_tokens")).over(w) - col("n_tokens"))
          .select(col("doc_id"), col("n_tokens"),
            (col("shard") * 100000 + floor(col("start") / 512)).cast("long").as("pack_id"),
            (col("start") - floor(col("start") / 512) * 512).cast("long").as("pack_offset"))
      },
      Some(s"""
        WITH t AS (
          SELECT doc_id, doc_id // 1000 AS shard,
                 CAST(len($tokSql) AS BIGINT) AS n_tokens
          FROM documents),
        c AS (
          SELECT doc_id, shard, n_tokens,
                 sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS start
          FROM t)
        SELECT doc_id, n_tokens,
               CAST(shard * 100000 + start // 512 AS BIGINT) AS pack_id,
               CAST(start % 512 AS BIGINT) AS pack_offset
        FROM c ORDER BY doc_id""")),

    // t19: corpus-level n-gram frequencies — top 2-grams by count
    // (explode → count → top-k with total tiebreak). The shuffle carries
    // one row per distinct gram per task (partial aggregation), not one
    // per occurrence.
    Q("t19_top_ngrams",
      (s, d) => Tables.documents(s, d)
        .select(TextOps.tokens(col("text")).as("t"))
        .select(explode(TextOps.wordNgrams(col("t"), 2)).as("gram"))
        .groupBy("gram").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("gram").asc)
        .limit(20),
      Some(s"""
        WITH t AS (SELECT $tokSql AS toks FROM documents),
        g AS (
          SELECT unnest(CASE WHEN len(toks) >= 2
                   THEN list_transform(range(len(toks) - 1),
                          i -> array_to_string(list_slice(toks, i + 1, i + 2), ' '))
                   ELSE [] END) AS gram
          FROM t)
        SELECT gram, count(*) AS cnt FROM g
        GROUP BY gram ORDER BY cnt DESC, gram ASC LIMIT 20""")),

    // t23: duplicated-span fraction per document — the exact-substring
    // dedup signal (hashed 8-token span inverted index; see
    // TextOps.spanDupStats for the scale argument: linear shuffle, no
    // pairwise step). Complements t1 (whole-doc exact), t3/t17/t22
    // (whole-doc near-dup): a doc that is 40% boilerplate spans is
    // invisible to all of those and caught here.
    Q("t23_span_dedup",
      (s, d) => TextOps.spanDupStats(Tables.documents(s, d), "text", "doc_id", 8)
        .orderBy("doc_id"),
      Some(s"""
        WITH t AS (SELECT doc_id, $tokSql AS toks FROM documents),
        sp AS (
          SELECT doc_id, unnest(CASE WHEN len(toks) >= 8
                   THEN list_transform(range(len(toks) - 7),
                          i -> ('0x' || substr(md5(array_to_string(list_slice(toks, i + 1, i + 8), ' ')), 1, 15))::BIGINT)
                   ELSE [] END) AS h
          FROM t),
        idx AS (SELECT h, count(DISTINCT doc_id) AS nd FROM sp GROUP BY h)
        SELECT sp.doc_id, count(*) AS total_spans,
               CAST(sum(CASE WHEN idx.nd >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS dup_spans,
               CAST(floor(CAST(sum(CASE WHEN idx.nd >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
                          / CAST(count(*) AS DOUBLE) * 10000.0 + 0.5) AS BIGINT) AS dup_frac_e4
        FROM sp JOIN idx USING (h)
        GROUP BY sp.doc_id ORDER BY sp.doc_id""")),

    // t57: EXACT MAXIMAL DUPLICATED INTERVALS — t23 reports the dup
    // FRACTION, t52 cuts fixed spans; t57 produces the (doc, start,
    // end) intervals a surgical exact-substring dedup removes: adjacent
    // duplicated 8-token span starts chained into maximal runs via
    // `pos − row_number()` (constant exactly on consecutive positions —
    // the t49 greedy-run trick, here per doc). One shuffle keyed by
    // span hash + one per-doc window: linear end-to-end; the oracle
    // replays the identical run-grouping as a window-chained CTE, so a
    // chain that split a run, merged across a gap, or mis-anchored the
    // +n−1 end offset breaks the hash.
    Q("t57_dup_intervals",
      (s, d) => TextOps.dupIntervals(Tables.documents(s, d), "text", "doc_id", 8)
        .orderBy("doc_id", "start_tok"),
      Some(s"""
        WITH t AS (SELECT doc_id, $tokSql AS toks FROM documents),
        sp AS (
          SELECT doc_id,
                 unnest(CASE WHEN len(toks) >= 8
                   THEN list_transform(range(len(toks) - 7),
                          i -> ('0x' || substr(md5(array_to_string(list_slice(toks, i + 1, i + 8), ' ')), 1, 15))::BIGINT)
                   ELSE [] END) AS h,
                 unnest(CASE WHEN len(toks) >= 8
                   THEN range(len(toks) - 7) ELSE [] END) AS pos
          FROM t),
        idx AS (SELECT h FROM sp GROUP BY h HAVING count(DISTINCT doc_id) >= 2),
        dup AS (SELECT sp.doc_id, sp.pos FROM sp JOIN idx USING (h)),
        runs AS (SELECT doc_id, pos,
                        pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
                 FROM dup)
        SELECT doc_id, min(pos) AS start_tok, max(pos) + 7 AS end_tok,
               count(*) AS n_spans
        FROM runs GROUP BY doc_id, grp ORDER BY doc_id, start_tok""")),

    // t58: PII REDACTION — the transform every training corpus runs
    // before anything ships: emails/URLs/dotted-quad IPs replaced by
    // typed placeholders with a per-doc removal ledger
    // (TextOps.scrubPii — map-only, no shuffle, codegen regex builtins;
    // the pattern set and application ORDER are one shared constant so
    // Spark and the oracle redact identically). The corpus has no PII,
    // so the gate injects a deterministic block per doc (skipped for
    // doc_id%3=0, double email for %5=0 — absence, presence, and
    // multiplicity all covered); both the counts and the md5 of the
    // REDACTED text are hashed, so a pattern that over- or under-matched
    // by one character breaks the gate.
    Q("t58_pii_scrub",
      (s, d) => {
        val injected = Tables.documents(s, d).select(col("doc_id"),
          concat(col("text"),
            when(col("doc_id") % 3 =!= 0, concat(
              lit(" reach user"), col("doc_id").cast("string"), lit("@example.com"),
              when(col("doc_id") % 5 === 0,
                concat(lit(" cc admin"), col("doc_id").cast("string"),
                  lit("@corp.example.org"))).otherwise(lit("")),
              lit(" via https://site"), col("doc_id").cast("string"),
              lit(".example/a?b=1"),
              lit(" from 10.2."), (col("doc_id") % 256).cast("string"),
              lit("."), (col("doc_id") % 100).cast("string")))
              .otherwise(lit(""))).as("text"))
        TextOps.scrubPii(injected, "text", "doc_id")
          .select(col("doc_id"), col("n_emails"), col("n_urls"), col("n_ips"),
            md5(col("clean")).as("clean_fp"))
          .orderBy("doc_id")
      },
      Some(s"""
        WITH inj AS (
          SELECT doc_id, text ||
            CASE WHEN doc_id % 3 <> 0 THEN
              ' reach user' || CAST(doc_id AS VARCHAR) || '@example.com' ||
              CASE WHEN doc_id % 5 = 0
                   THEN ' cc admin' || CAST(doc_id AS VARCHAR) || '@corp.example.org'
                   ELSE '' END ||
              ' via https://site' || CAST(doc_id AS VARCHAR) || '.example/a?b=1' ||
              ' from 10.2.' || CAST(doc_id % 256 AS VARCHAR) || '.' || CAST(doc_id % 100 AS VARCHAR)
            ELSE '' END AS t
          FROM documents),
        st AS (
          -- staged exactly like scrubPii: each pattern counts on the
          -- text the PREVIOUS pass redacted, URLs first
          SELECT doc_id, t,
            regexp_replace(t, '${TextOps.PiiPatterns(0)._2}', '<URL>', 'g') AS t1
          FROM inj),
        st2 AS (
          SELECT doc_id, t, t1,
            regexp_replace(t1, '${TextOps.PiiPatterns(1)._2}', '<EMAIL>', 'g') AS t2
          FROM st)
        SELECT doc_id,
          CAST(len(regexp_extract_all(t1, '${TextOps.PiiPatterns(1)._2}')) AS BIGINT) AS n_emails,
          CAST(len(regexp_extract_all(t, '${TextOps.PiiPatterns(0)._2}')) AS BIGINT) AS n_urls,
          CAST(len(regexp_extract_all(t2, '${TextOps.PiiPatterns(2)._2}')) AS BIGINT) AS n_ips,
          md5(regexp_replace(t2, '${TextOps.PiiPatterns(2)._2}', '<IP>', 'g')) AS clean_fp
        FROM st2 ORDER BY doc_id""")),

    // t59: CORPUS-LM CONTINUATION SCORE — the KenLM-style perplexity
    // filter in integer-exact form (TextOps.lmContinuation): per
    // trigram position, floor(1e6·c3(w1w2w3)/c2(w1w2)) with counts over
    // the whole corpus, rolled up per doc. A float log-prob would never
    // hash-match across engines (summation order); the integer
    // micro-unit continuation mass ranks documents the same way and is
    // bit-portable. Two n-gram count shuffles + two count-frame joins +
    // one doc rollup — linear, the trained-statistic filter family of
    // t54/t56.
    Q("t59_lm_continuation",
      (s, d) => TextOps.lmContinuation(Tables.documents(s, d), "text", "doc_id")
        .orderBy("doc_id"),
      Some(s"""
        WITH t AS (SELECT doc_id, $tokSql AS toks FROM documents),
        tri AS (
          SELECT doc_id,
                 unnest(CASE WHEN len(toks) >= 3
                   THEN list_transform(range(len(toks) - 2),
                          i -> array_to_string(list_slice(toks, i + 1, i + 3), ' '))
                   ELSE [] END) AS g
          FROM t),
        bi AS (
          SELECT doc_id,
                 unnest(CASE WHEN len(toks) >= 2
                   THEN list_transform(range(len(toks) - 1),
                          i -> array_to_string(list_slice(toks, i + 1, i + 2), ' '))
                   ELSE [] END) AS g
          FROM t),
        c3 AS (SELECT g, count(*) AS c3 FROM tri GROUP BY g),
        c2 AS (SELECT g, count(*) AS c2 FROM bi GROUP BY g)
        SELECT tri.doc_id, count(*) AS n_trigrams,
               CAST(sum((c3.c3 * 1000000) // c2.c2) AS BIGINT) AS sum_cont_e6
        FROM tri JOIN c3 USING (g)
        JOIN c2 ON c2.g = array_to_string(list_slice(string_split(tri.g, ' '), 1, 2), ' ')
        GROUP BY tri.doc_id ORDER BY tri.doc_id""")),

    // t60: SEQUENCE PACKING — the concat-then-chunk layout GPT-style
    // pretraining feeds on: documents concatenated in doc_id order,
    // the token stream cut into fixed 256-token training sequences,
    // and each document mapped to the chunk range it lands in (a doc
    // strictly inside one chunk, straddling a boundary, or spanning
    // many chunks — all three arise and all are pure prefix-sum
    // arithmetic). The running token offset is
    // [[graft.operators.Relational.prefixSumScalable]] — the bucketedRank
    // core's local cumsums + broadcast offsets, NO single-partition global
    // window — so the layout computes at 100 TB the same way m7's
    // byte-offset shards do; everything after the cumsum is row-local
    // integer division. Zero-token docs carry no chunk (NULL range,
    // the oracle states them explicitly). The oracle recomputes the
    // offsets with a plain window cumsum, so the scalable geometry is
    // pinned against the naive definition row-for-row.
    Q("t60_sequence_packing",
      (s, d) => {
        val L = 256L
        val counted = Tables.documents(s, d)
          .select(col("doc_id"),
            size(TextOps.tokens(col("text"))).cast("long").as("n_tok"))
        graft.operators.Relational
          .prefixSumScalable(counted, "doc_id", "n_tok", "cum")
          .select(col("doc_id"), col("n_tok"),
            when(col("n_tok") > 0, expr(s"(cum - n_tok) div ${L}L"))
              .as("first_chunk"),
            when(col("n_tok") > 0, expr(s"(cum - 1) div ${L}L"))
              .as("last_chunk"))
          .withColumn("n_chunks",
            when(col("n_tok") > 0,
              col("last_chunk") - col("first_chunk") + 1L))
          .orderBy("doc_id")
      },
      Some(s"""
        WITH t AS (
          SELECT doc_id, CAST(len($tokSql) AS BIGINT) AS n_tok
          FROM documents),
        c AS (
          SELECT doc_id, n_tok,
                 sum(n_tok) OVER (ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
          FROM t)
        SELECT doc_id, n_tok,
               CAST(CASE WHEN n_tok > 0 THEN (cum - n_tok) // 256 END AS BIGINT) AS first_chunk,
               CAST(CASE WHEN n_tok > 0 THEN (cum - 1) // 256 END AS BIGINT) AS last_chunk,
               CAST(CASE WHEN n_tok > 0
                    THEN (cum - 1) // 256 - (cum - n_tok) // 256 + 1 END AS BIGINT) AS n_chunks
        FROM c ORDER BY doc_id""")),

    // t52: BOILERPLATE STRIPPING — the transform t23's measurement stops
    // short of (C4's "discard repeated lines across documents", CCNet's
    // paragraph-hash dedup): spans shared by >= 2 docs are cut out and
    // each doc is REBUILT from its surviving tokens, with the removal
    // ledger and an md5 of the cleaned text under oracle — so the
    // reconstruction (coverage expansion, order-preserving token
    // filter), not just the counts, is hash-checked. Scale: t23's
    // inverted-index geometry plus one doc-keyed join-back and
    // row-local array rebuild; see TextOps.stripBoilerplate.
    Q("t52_boilerplate_strip",
      (s, d) => TextOps.stripBoilerplate(
        Tables.documents(s, d), "text", "doc_id", n = 8, minDocs = 2)
        .orderBy("doc_id"),
      Some(s"""
        WITH t AS (SELECT doc_id, $tokSql AS toks FROM documents),
        sp AS (
          SELECT doc_id, toks,
                 unnest(CASE WHEN len(toks) >= 8
                   THEN range(len(toks) - 7) ELSE [] END) AS i
          FROM t),
        sph AS (
          SELECT doc_id, i,
                 ('0x' || substr(md5(array_to_string(list_slice(toks, i + 1, i + 8), ' ')), 1, 15))::BIGINT AS h
          FROM sp),
        idx AS (SELECT h, count(DISTINCT doc_id) AS nd FROM sph GROUP BY h),
        bp AS (SELECT sph.doc_id, sph.i FROM sph JOIN idx USING (h) WHERE nd >= 2),
        cov AS (
          SELECT doc_id, list(DISTINCT j) AS cov FROM (
            SELECT doc_id, unnest(range(i, i + 8)) AS j FROM bp)
          GROUP BY doc_id)
        SELECT t.doc_id,
               CAST(len(toks) AS BIGINT) AS n_tokens,
               CAST(COALESCE(len(cov), 0) AS BIGINT) AS n_removed,
               -- COALESCE: DuckDB's array_to_string([]) is NULL, Spark's
               -- array_join([]) is '' — a fully-stripped doc must hash ''
               md5(COALESCE(array_to_string(
                 list_transform(
                   list_filter(range(len(toks)),
                     j -> NOT list_contains(COALESCE(cov, []), j)),
                   j -> toks[j + 1]), ' '), '')) AS clean_fp
        FROM t LEFT JOIN cov USING (doc_id)
        ORDER BY t.doc_id""")),

    // t24: corpus mixture rebalancing (data mixing) — per-source keep
    // rates derived so every source downsamples toward the smallest one,
    // applied with the t7 md5 law; output is the audit table. The rate
    // pass is a column-pruned count, the sampling pass a broadcast-joined
    // map-side filter — no corpus shuffle (see TextOps.sourceMix).
    Q("t24_source_mix",
      (s, d) => TextOps.sourceMix(Tables.documents(s, d), "source", "doc_id")
        .orderBy("source"),
      Some("""
        WITH c AS (SELECT source, count(*) AS total FROM documents GROUP BY source),
        m AS (SELECT min(total) AS m FROM c),
        r AS (SELECT source, total,
                CAST(floor(CAST(m.m AS DOUBLE) / CAST(total AS DOUBLE) * 1000.0) AS BIGINT) AS keep_pm
              FROM c CROSS JOIN m),
        k AS (SELECT d.source, count(*) AS kept
              FROM documents d JOIN r USING (source)
              WHERE ('0x' || substr(md5('mix' || CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT * 1000
                    < keep_pm * 65536
              GROUP BY d.source)
        SELECT r.source, r.total, r.keep_pm, CAST(COALESCE(k.kept, 0) AS BIGINT) AS kept
        FROM r LEFT JOIN k USING (source) ORDER BY r.source""")),

    // t25: benchmark decontamination — the GPT-3 13-gram rule with
    // src0 standing in as the held-out eval set: training docs (every
    // other source) sharing any 13-token span with it are flagged with
    // their distinct-hit count. Semi-join-with-count on 60-bit span
    // hashes; the benchmark side reduces to distinct hashes first
    // (broadcast-eligible at real eval-set sizes).
    Q("t25_decontaminate",
      (s, d) => {
        val docs = Tables.documents(s, d)
        TextOps.decontaminate(
          docs.filter(col("source") =!= "src0"),
          docs.filter(col("source") === "src0"), "text", "doc_id", 13)
          .orderBy("doc_id")
      },
      Some(s"""
        WITH t AS (SELECT doc_id, source, $tokSql AS toks FROM documents),
        sp AS (SELECT doc_id, source, unnest(CASE WHEN len(toks) >= 13
                 THEN list_transform(range(len(toks) - 12),
                        i -> ('0x' || substr(md5(array_to_string(list_slice(toks, i + 1, i + 13), ' ')), 1, 15))::BIGINT)
                 ELSE [] END) AS h FROM t),
        b AS (SELECT DISTINCT h FROM sp WHERE source = 'src0'),
        tr AS (SELECT DISTINCT doc_id, h FROM sp WHERE source != 'src0')
        SELECT doc_id, count(*) AS n_hits FROM tr JOIN b USING (h)
        GROUP BY doc_id ORDER BY doc_id""")),

    // t32: cross-source contamination MATRIX — t25 generalized from
    // "train vs one benchmark" to every source pair: distinct 13-token
    // span hashes per source (the t23/t25 60-bit law), self-joined on
    // the hash, counted per (src_a, src_b) with exact span-Jaccard in
    // fixed point. The eval-safety artifact a data org keeps on the
    // wall: which corpora leak into which. Scale shape: the heavy
    // explosion reduces to DISTINCT (source, hash) FIRST (one shuffle,
    // ∝ distinct spans), and the self-join fan-out per hash is bounded
    // by sources² — never doc-pairwise. Totals are a broadcast-sized
    // per-source frame joined twice.
    Q("t32_overlap_matrix",
      (s, d) => {
        // the interpreted n-gram explosion is referenced FOUR times below
        // (both self-join sides + both totals joins) — materialize the
        // reduced DISTINCT frame once (r45's localCheckpoint pattern) so
        // the heavy scan runs once and the joins read a tiny cached frame
        val sh = TextOps.spanHashes(
            Tables.documents(s, d).select(col("source").as("sid"), col("text")),
            "text", "sid", 13)
          .select(col("sid"), col("__h")).distinct()
          .localCheckpoint(true)
        val tot = sh.groupBy("sid").agg(count(lit(1)).as("n"))
        val pairs = sh.as("a").join(sh.as("b"),
            col("a.__h") === col("b.__h") && col("a.sid") < col("b.sid"))
          .groupBy(col("a.sid").as("src_a"), col("b.sid").as("src_b"))
          .agg(count(lit(1)).as("shared_spans"))
        pairs
          .join(broadcast(tot.select(col("sid").as("src_a"), col("n").as("a_spans"))), "src_a")
          .join(broadcast(tot.select(col("sid").as("src_b"), col("n").as("b_spans"))), "src_b")
          .select(col("src_a"), col("src_b"), col("shared_spans"),
            col("a_spans"), col("b_spans"),
            floor(lit(1000000.0) * col("shared_spans") /
              (col("a_spans") + col("b_spans") - col("shared_spans")))
              .cast("long").as("jaccard_e6"))
          .orderBy("src_a", "src_b")
      },
      Some(s"""
        WITH t AS (SELECT source, $tokSql AS toks FROM documents),
        sp AS (
          SELECT DISTINCT source, h FROM (
            SELECT source, unnest(CASE WHEN len(toks) >= 13
                     THEN list_transform(range(len(toks) - 12),
                            i -> ('0x' || substr(md5(array_to_string(list_slice(toks, i + 1, i + 13), ' ')), 1, 15))::BIGINT)
                     ELSE [] END) AS h
            FROM t)),
        tot AS (SELECT source, count(*) AS n FROM sp GROUP BY source),
        pairs AS (
          SELECT a.source AS src_a, b.source AS src_b, count(*) AS shared_spans
          FROM sp a JOIN sp b ON a.h = b.h AND a.source < b.source
          GROUP BY 1, 2)
        SELECT src_a, src_b, shared_spans, ta.n AS a_spans, tb.n AS b_spans,
               CAST(floor(1000000.0 * shared_spans / (ta.n + tb.n - shared_spans)) AS BIGINT)
                 AS jaccard_e6
        FROM pairs JOIN tot ta ON ta.source = src_a
                   JOIN tot tb ON tb.source = src_b
        ORDER BY src_a, src_b""")),

    // t17: SimHash near-dup pairs, Hamming ≤ 3 on the 32-bit hash via
    // TextOps.pigeonholePairs (4 disjoint 8-bit blocks). ROLE MARKER —
    // t17 is t22's SATURATING-GEOMETRY ORACLE TWIN, not the scale path
    // (the r33-exact↔r35-sketch pairing applied to blocking geometry):
    // its 256-value block keyspace grows candidates as n²/256 (the
    // round-7 sweep measured 18× wall-clock at 5× data), and it stays in
    // the gate to pin the 32-bit hash + pigeonhole SEMANTICS at small sf.
    // Its cost is now BOUNDED, not just documented: the shared occupancy
    // cap (1000, inside the oracle contract — both engines drop hotter
    // blocks before pairing) means a bigger-sf gate run truncates
    // observably instead of going quadratic; TextOpsSpec pins the
    // truncation and PropertySpec the losslessness. At the gate sfs no
    // block nears the cap, so output is byte-identical to the unguarded
    // form. Scale users run t22. Completes the dedup battery: exact
    // (t1), MinHash-Jaccard (t3), SimHash-Hamming (t17), embedding (v2).
    Q("t17_simhash_neardup",
      (s, d) => TextOps.pigeonholePairs(
        Tables.documents(s, d)
          .select(col("doc_id"), TextOps.tokens(col("text")).as("t"))
          .filter(size(col("t")) > 0)
          .select(col("doc_id"), graft.functions.native.simhash32(col("t")).as("sh")),
        blockBits = 8, nBlocks = 4, maxHamming = 3, maxBlockSize = 1000),
      Some(pigeonholeOracle(simhashSql, blockBits = 8, nBlocks = 4,
        maxHamming = 3, maxBlockSize = 1000))),

    // t22: t17's SCALE twin — 64-bit SimHash, pigeonhole on 4 disjoint
    // 16-bit blocks (still lossless for Hamming ≤ 3). The point is block
    // SPACE: t17's 8-bit blocks have 2^8 values, so bucket occupancy —
    // and the O(occupancy²) within-bucket join — grows linearly with the
    // corpus (measured superlinear past ~10k docs, docs/SCALING.md);
    // 2^16 values per block push that saturation out 256×. Same
    // exact-verify step, same output shape, same capped operator.
    Q("t22_simhash64_neardup",
      (s, d) => TextOps.pigeonholePairs(
        Tables.documents(s, d)
          .select(col("doc_id"), TextOps.tokens(col("text")).as("t"))
          .filter(size(col("t")) > 0)
          .select(col("doc_id"), graft.functions.native.simhash64(col("t")).as("sh")),
        blockBits = 16, nBlocks = 4, maxHamming = 3, maxBlockSize = 1000),
      Some(pigeonholeOracle(simhash64Sql, blockBits = 16, nBlocks = 4,
        maxHamming = 3, maxBlockSize = 1000))),

    // t13: Gopher/C4-style quality heuristics — mean word length, symbol
    // ratio, alpha-word fraction, and the composite keep/drop flag.
    // Ratios are floor-scaled to exact integers (double division of exact
    // ints is a single IEEE op, bit-identical across engines).
    Q("t13_gopher_quality",
      (s, d) => Tables.documents(s, d)
        .select(col("doc_id"), col("text"), TextOps.tokens(col("text")).as("t"))
        .select(col("doc_id"),
          size(col("t")).cast("long").as("n_tokens"),
          aggregate(col("t"), lit(0L), (a, x) => a + length(x)).as("sum_word_len"),
          regexp_count(col("text"), lit("[^A-Za-z0-9 ]")).cast("long").as("n_symbols"),
          size(filter(col("t"), x => x.rlike("^[A-Za-z]+$"))).cast("long").as("n_alpha"))
        .select(col("doc_id"), col("n_tokens"), col("sum_word_len"),
          col("n_symbols"), col("n_alpha"),
          when(col("n_tokens") === 0, 0L)
            .otherwise(floor(col("sum_word_len") * lit(1000.0) / col("n_tokens")).cast("long"))
            .as("mean_word_len_e3"),
          when(col("n_tokens") === 0, 0L)
            .otherwise(floor(col("n_alpha") * lit(1000.0) / col("n_tokens")).cast("long"))
            .as("alpha_frac_e3"))
        .withColumn("keep",
          (col("n_tokens") >= 5) && (col("n_tokens") <= 100000) &&
            col("mean_word_len_e3").between(2000, 12000) &&
            (col("alpha_frac_e3") >= 500)),
      Some(s"""
        WITH t AS (SELECT doc_id, text, $tokSql AS toks FROM documents),
        f AS (
          SELECT doc_id,
                 CAST(len(toks) AS BIGINT) AS n_tokens,
                 CAST(list_aggregate(list_prepend(0, list_transform(toks, x -> length(x))), 'sum') AS BIGINT) AS sum_word_len,
                 CAST(len(regexp_extract_all(text, '[^A-Za-z0-9 ]')) AS BIGINT) AS n_symbols,
                 CAST(len(list_filter(toks, x -> regexp_full_match(x, '[A-Za-z]+'))) AS BIGINT) AS n_alpha
          FROM t),
        r AS (
          SELECT *,
                 CASE WHEN n_tokens = 0 THEN 0
                      ELSE CAST(floor(sum_word_len * 1000.0 / n_tokens) AS BIGINT) END AS mean_word_len_e3,
                 CASE WHEN n_tokens = 0 THEN 0
                      ELSE CAST(floor(n_alpha * 1000.0 / n_tokens) AS BIGINT) END AS alpha_frac_e3
          FROM f)
        SELECT doc_id, n_tokens, sum_word_len, n_symbols, n_alpha,
               mean_word_len_e3, alpha_frac_e3,
               (n_tokens >= 5 AND n_tokens <= 100000
                AND mean_word_len_e3 BETWEEN 2000 AND 12000
                AND alpha_frac_e3 >= 500) AS keep
        FROM r ORDER BY doc_id""")),

    // t14: PII detection + redaction. The corpus is synthetic word salad,
    // so deterministic contact strings are appended in-query, then
    // detected and masked — the operator under test is the regex
    // match/replace pipeline, hash-checked on the redacted output.
    Q("t14_pii_redact",
      (s, d) => {
        val withPii = Tables.documents(s, d)
          .withColumn("aug", concat(col("text"),
            lit(" contact "), col("source"), lit("@example.com or 555-"),
            col("doc_id").cast("string")))
        val emailRe = "[a-z0-9]+@[a-z0-9]+\\.com"
        val phoneRe = "555-[0-9]+"
        withPii.select(col("doc_id"),
          regexp_count(col("aug"), lit(emailRe)).cast("long").as("n_emails"),
          regexp_count(col("aug"), lit(phoneRe)).cast("long").as("n_phones"),
          md5(regexp_replace(regexp_replace(col("aug"), emailRe, "<EMAIL>"),
            phoneRe, "<PHONE>")).as("redacted_fp"))
      },
      Some("""
        WITH a AS (
          SELECT doc_id,
                 text || ' contact ' || source || '@example.com or 555-' || CAST(doc_id AS VARCHAR) AS aug
          FROM documents)
        SELECT doc_id,
               CAST(len(regexp_extract_all(aug, '[a-z0-9]+@[a-z0-9]+\.com')) AS BIGINT) AS n_emails,
               CAST(len(regexp_extract_all(aug, '555-[0-9]+')) AS BIGINT) AS n_phones,
               md5(regexp_replace(regexp_replace(aug, '[a-z0-9]+@[a-z0-9]+\.com', '<EMAIL>', 'g'),
                   '555-[0-9]+', '<PHONE>', 'g')) AS redacted_fp
        FROM a ORDER BY doc_id""")),

    // t15: repetition ratio — the duplicated-2-gram fraction, the
    // standard within-document repetition signal for corpus filtering.
    Q("t15_repetition",
      (s, d) => Tables.documents(s, d)
        .select(col("doc_id"), TextOps.tokens(col("text")).as("t"))
        .select(col("doc_id"), TextOps.wordNgrams(col("t"), 2).as("g"))
        .select(col("doc_id"),
          size(col("g")).cast("long").as("n_2grams"),
          size(array_distinct(col("g"))).cast("long").as("n_distinct_2grams"))
        .withColumn("rep_e3",
          when(col("n_2grams") === 0, 0L)
            .otherwise(floor((col("n_2grams") - col("n_distinct_2grams")) * lit(1000.0)
              / col("n_2grams")).cast("long"))),
      Some(s"""
        WITH t AS (SELECT doc_id, $tokSql AS toks FROM documents),
        g AS (
          SELECT doc_id,
                 CASE WHEN len(toks) >= 2
                      THEN list_transform(range(len(toks) - 1),
                             i -> array_to_string(list_slice(toks, i + 1, i + 2), ' '))
                      ELSE [] END AS grams
          FROM t),
        c AS (
          SELECT doc_id, CAST(len(grams) AS BIGINT) AS n_2grams,
                 CAST(len(list_distinct(grams)) AS BIGINT) AS n_distinct_2grams
          FROM g)
        SELECT doc_id, n_2grams, n_distinct_2grams,
               CASE WHEN n_2grams = 0 THEN 0
                    ELSE CAST(floor((n_2grams - n_distinct_2grams) * 1000.0 / n_2grams) AS BIGINT) END AS rep_e3
        FROM c ORDER BY doc_id""")),

    // t16: token-window chunking (size 32, stride 24 → 8-token overlap) —
    // the training-sequence packing primitive. One explode per chunk
    // start; chunk text is hash-checked.
    Q("t16_chunking",
      (s, d) => Tables.documents(s, d)
        .select(col("doc_id"), TextOps.tokens(col("text")).as("t"))
        .filter(size(col("t")) > 0)
        .select(col("doc_id"), col("t"),
          explode(sequence(lit(0), size(col("t")) - 1, lit(24))).as("start"))
        .select(col("doc_id"),
          (col("start") / 24).cast("long").as("chunk_idx"),
          least(lit(32), size(col("t")) - col("start")).cast("long").as("n_toks"),
          md5(array_join(slice(col("t"), col("start") + 1, lit(32)), " ")).as("chunk_fp")),
      Some(s"""
        WITH t AS (SELECT doc_id, $tokSql AS toks FROM documents WHERE len($tokSql) > 0),
        c AS (SELECT doc_id, toks, unnest(range(0, len(toks), 24)) AS start FROM t)
        SELECT doc_id,
               CAST(start // 24 AS BIGINT) AS chunk_idx,
               CAST(least(32, len(toks) - start) AS BIGINT) AS n_toks,
               md5(array_to_string(list_slice(toks, start + 1, start + 32), ' ')) AS chunk_fp
        FROM c ORDER BY doc_id, chunk_idx""")),

    // t20: t2's MinHash signature computed through the SQL extension
    // point — GraftExtensions puts graft_minhash in the session's
    // FunctionRegistry and the signature itself is SQL TEXT, so a
    // SQL-first user (the reference's scripts are all SQL-shaped) reaches
    // the native codegen expression without the Scala DSL. Same oracle as
    // t2: identical values prove registry resolution + codegen under SQL.
    Q("t20_minhash_sql",
      (s, d) => {
        graft.functions.GraftExtensions.register(s)
        withShingles(Tables.documents(s, d)).createOrReplaceTempView("t20_docs")
        s.sql("""
          SELECT doc_id,
                 graft_minhash(sh, 0) AS mh0, graft_minhash(sh, 1) AS mh1,
                 graft_minhash(sh, 2) AS mh2, graft_minhash(sh, 3) AS mh3
          FROM t20_docs""")
      },
      Some(s"""
        SELECT doc_id,
               ${(0 until 4).map(i => minhashSql(i, shingleSql) + s" AS mh$i").mkString(",\n               ")}
        FROM documents ORDER BY doc_id""")),

    // t21: the curation surface reached PURELY through spark.sql — a
    // silver-style quality/sample filter where every graft-specific
    // operator (fingerprint, token counts, stopword ratio, language ID,
    // deterministic sampling) is a registered SQL function. Proves an
    // analyst session with GraftExtensions gets the same oracle-checked
    // semantics as the Column API: the SQL builders reuse the TextOps
    // expression trees via the Column bridge, so this can't drift.
    Q("t21_quality_sql",
      (s, d) => {
        graft.functions.GraftExtensions.register(s)
        Tables.documents(s, d).createOrReplaceTempView("t21_docs")
        s.sql("""
          SELECT doc_id,
                 graft_fingerprint(text) AS fp,
                 graft_bpeish_token_count(text) AS n_bpeish,
                 graft_lang_id(graft_tokens(text), 0.05D) AS lang_pred,
                 CAST(floor(graft_stopword_ratio(graft_tokens(text)) * 1000) AS BIGINT) AS sw_pm
          FROM t21_docs
          WHERE graft_deterministic_sample(doc_id, 500)
            AND graft_token_count(text) >= 5""")
      },
      Some(s"""
        WITH t AS (
          SELECT doc_id, text, $tokSql AS toks FROM documents),
        r AS (
          SELECT doc_id, text, toks,
            CASE WHEN len(toks) = 0 THEN 0.0
                 ELSE CAST(len(list_filter(toks, x -> list_contains(
                      ['the','a','an','of','and','to','in','is','are','for','on','with','as','at','by','it','this','that','was','be'],
                      lower(x)))) AS DOUBLE) / CAST(len(toks) AS DOUBLE) END AS sw
          FROM t)
        SELECT doc_id,
               md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp,
               CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')) AS BIGINT) AS n_bpeish,
               CASE WHEN sw >= 0.05 THEN 'en' ELSE 'unk' END AS lang_pred,
               CAST(floor(sw * 1000) AS BIGINT) AS sw_pm
        FROM r
        WHERE ('0x' || substr(md5('smp' || CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT * 1000
              < 500 * 65536
          AND len(toks) >= 5
        ORDER BY doc_id""")),

    // t26: corpus-rarity quality bucketing — the CCNet-style
    // head/middle/tail split, expressed without floating logs so the
    // cross-engine hash stays exact: instead of a unigram-LM perplexity
    // (whose ln() last-ulp differs between libm and the JVM), each doc is
    // scored by (a) the fraction of its tokens OUTSIDE the top-16 corpus
    // vocabulary and (b) its mean corpus token count — both ratios of
    // exact integer sums, fixed-point-scaled with identical IEEE ops in
    // both engines. Shape: one token-level shuffle agg builds the vocab,
    // the corpus→vocab equijoin is the standard big-big shuffle (vocab is
    // O(|V|), not O(corpus)), the top-K common set is broadcast. At
    // 100 TB nothing here is all-pairs; the vocab agg is map-side
    // partial-combined.
    Q("t26_rarity_quality",
      (s, d) => {
        val toks = TextOps.fanOut(Tables.documents(s, d), col("doc_id"))
          .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("tok"))
        val vocab = toks.groupBy("tok").agg(count(lit(1)).as("cnt"))
        val top16 = vocab.orderBy(col("cnt").desc, col("tok").asc).limit(16)
          .select(col("tok"), lit(1L).as("is_common"))
        toks.join(vocab, "tok")
          .join(broadcast(top16), Seq("tok"), "left")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_tokens"),
            sum(col("cnt")).as("sum_cnt"),
            sum(coalesce(col("is_common"), lit(0L))).as("n_common"))
          .select(col("doc_id"), col("n_tokens"), col("sum_cnt"),
            floor((col("n_tokens") - col("n_common")) * lit(10000.0)
              / col("n_tokens") + lit(0.5)).cast("long").as("oov_frac_e4"),
            floor(col("sum_cnt") * lit(100.0) / col("n_tokens") + lit(0.5))
              .cast("long").as("mean_cnt_e2"))
          .withColumn("bucket",
            when(col("oov_frac_e4") <= 4600, "head")
              .when(col("oov_frac_e4") <= 5000, "middle")
              .otherwise("tail"))
      },
      Some(s"""
        WITH t AS (SELECT doc_id, unnest($tokSql) AS tok FROM documents),
        v AS (SELECT tok, count(*) AS cnt FROM t GROUP BY tok),
        top AS (SELECT tok FROM v ORDER BY cnt DESC, tok ASC LIMIT 16),
        j AS (
          SELECT t.doc_id, v.cnt,
                 CASE WHEN top.tok IS NOT NULL THEN 1 ELSE 0 END AS is_common
          FROM t JOIN v USING (tok) LEFT JOIN top USING (tok)),
        a AS (
          SELECT doc_id, count(*) AS n_tokens,
                 CAST(sum(cnt) AS BIGINT) AS sum_cnt,
                 CAST(sum(is_common) AS BIGINT) AS n_common
          FROM j GROUP BY doc_id),
        f AS (
          SELECT doc_id, n_tokens, sum_cnt,
                 CAST(floor((n_tokens - n_common) * 10000.0 / n_tokens + 0.5) AS BIGINT) AS oov_frac_e4,
                 CAST(floor(sum_cnt * 100.0 / n_tokens + 0.5) AS BIGINT) AS mean_cnt_e2
          FROM a)
        SELECT doc_id, n_tokens, sum_cnt, oov_frac_e4, mean_cnt_e2,
               CASE WHEN oov_frac_e4 <= 4600 THEN 'head'
                    WHEN oov_frac_e4 <= 5000 THEN 'middle'
                    ELSE 'tail' END AS bucket
        FROM f ORDER BY doc_id""")),

    // t27: TF-IDF keyword extraction — top-1 distinctive token per doc,
    // scored tf·1e6/df in exact fixed point (floor of one IEEE division
    // of exact ints; no ln(), see t26). tf/df are two shuffle aggs; the
    // df side is O(|V|) so AQE broadcasts it at gate scale and it stays
    // an equijoin (never all-pairs) at any scale; top-1 is a per-doc
    // row_number window over the doc's own tokens (bounded partitions).
    Q("t27_tfidf_keyword",
      (s, d) => {
        val toks = TextOps.fanOut(Tables.documents(s, d), col("doc_id"))
          .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("tok"))
        val tf = toks.groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
        val dfreq = tf.groupBy("tok").agg(count(lit(1)).as("df"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("doc_id").orderBy(col("score").desc, col("tok").asc)
        tf.join(dfreq, "tok")
          .withColumn("score", floor(col("tf") * lit(1000000.0) / col("df")).cast("long"))
          .withColumn("rnk", row_number().over(w))
          .filter(col("rnk") === 1)
          .select(col("doc_id"), col("tok").as("keyword"),
            col("tf"), col("df"), col("score"))
      },
      Some(s"""
        WITH t AS (SELECT doc_id, unnest($tokSql) AS tok FROM documents),
        tf AS (SELECT doc_id, tok, count(*) AS tf FROM t GROUP BY doc_id, tok),
        df AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
        sc AS (
          SELECT doc_id, tok, tf.tf, df.df,
                 CAST(floor(tf.tf * 1000000.0 / df.df) AS BIGINT) AS score
          FROM tf JOIN df USING (tok)),
        r AS (
          SELECT *, row_number() OVER (PARTITION BY doc_id
                    ORDER BY score DESC, tok ASC) AS rnk
          FROM sc)
        SELECT doc_id, tok AS keyword, CAST(tf AS BIGINT) AS tf,
               CAST(df AS BIGINT) AS df, score
        FROM r WHERE rnk = 1 ORDER BY doc_id""")),

    // t28: count-min-sketch heavy hitters — the sketch twin of the exact
    // t19 top-ngrams (the r20↔r21 exact↔sketch pattern): a 4×1024
    // fixed-memory mergeable sketch built in one map-side-combined agg,
    // point-estimated for every vocab token and compared against the
    // exact counts IN the hash-matched contract (est ≥ true always;
    // overcount is the collision cost made visible). At 100 TB the
    // sketch is the only option for streaming/windowed heavy hitters —
    // the exact path needs a full-vocab shuffle per window.
    Q("t28_cms_heavy_hitters",
      (s, d) => {
        val toks = Tables.documents(s, d)
          .select(explode(TextOps.tokens(col("text"))).as("tok"))
        val sketch = TextOps.countMinSketch(toks, "tok", depth = 4, width = 1024)
        val exact = toks.groupBy("tok").agg(count(lit(1)).as("true_cnt"))
        TextOps.cmsEstimate(sketch, exact, "tok", depth = 4, width = 1024)
          .join(exact, "tok")
          .select(col("tok"), col("true_cnt"), col("est_cnt"),
            (col("est_cnt") - col("true_cnt")).as("overcount"))
      },
      Some(s"""
        WITH t AS (SELECT unnest($tokSql) AS tok FROM documents),
        rows_ AS (SELECT unnest([0, 1, 2, 3]) AS r),
        exact AS (SELECT tok, count(*) AS true_cnt FROM t GROUP BY tok),
        cells AS (
          SELECT tok, true_cnt, r,
                 ('0x' || substr(md5('cms' || CAST(r AS VARCHAR) || tok), 1, 8))::BIGINT % 1024 AS cell
          FROM exact CROSS JOIN rows_),
        sketch AS (SELECT r, cell, CAST(sum(true_cnt) AS BIGINT) AS cnt FROM cells GROUP BY r, cell),
        cand AS (
          SELECT tok, r,
                 ('0x' || substr(md5('cms' || CAST(r AS VARCHAR) || tok), 1, 8))::BIGINT % 1024 AS cell
          FROM exact CROSS JOIN rows_),
        est AS (
          SELECT cand.tok, CAST(min(cnt) AS BIGINT) AS est_cnt
          FROM cand JOIN sketch USING (r, cell) GROUP BY cand.tok)
        SELECT e.tok, true_cnt, est_cnt, est_cnt - true_cnt AS overcount
        FROM exact e JOIN est ON e.tok = est.tok ORDER BY e.tok""")),

    // t29: bigram language-model table — the KenLM-style counting
    // primitive: c(w1,w2) and c(w1·) from one n-gram explode, conditional
    // probability in exact fixed point (floor(c12·1e6/c1) — one IEEE
    // division of exact ints, no logs), and the argmax next-word per
    // left-context. Shape: the bigram agg is map-side combined into
    // O(|V|²)-bounded groups; the context-marginal c1 comes from
    // re-aggregating the BIGRAM table (O(|V|²) rows, not the corpus);
    // top-1 is a window over per-context groups. At 100 TB this is the
    // standard distributed n-gram-LM count pipeline (prune/backoff would
    // filter the same tables).
    Q("t29_bigram_lm",
      (s, d) => {
        // fanOut: the single-row-group scan would otherwise run the
        // bigram explode + split as ONE task (round-19; see
        // TextOps.fanOut — measured 2.5 s single-core on this shape)
        val grams = TextOps.fanOut(Tables.documents(s, d), col("doc_id"))
          .select(TextOps.tokens(col("text")).as("t"))
          .select(explode(TextOps.wordNgrams(col("t"), 2)).as("gram"))
          .select(substring_index(col("gram"), " ", 1).as("w1"),
            substring_index(col("gram"), " ", -1).as("w2"))
        val big = grams.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
        val ctx = big.groupBy("w1").agg(sum(col("c12")).as("c1"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("w1").orderBy(col("p_e6").desc, col("w2").asc)
        big.join(ctx, "w1")
          .withColumn("p_e6", floor(col("c12") * lit(1000000.0) / col("c1")).cast("long"))
          .withColumn("rnk", row_number().over(w))
          .filter(col("rnk") === 1)
          .select(col("w1"), col("w2").as("next_word"), col("c12"), col("c1"), col("p_e6"))
      },
      Some(s"""
        WITH t AS (SELECT $tokSql AS toks FROM documents),
        g AS (
          SELECT unnest(CASE WHEN len(toks) >= 2
                   THEN list_transform(range(len(toks) - 1),
                          i -> array_to_string(list_slice(toks, i + 1, i + 2), ' '))
                   ELSE [] END) AS gram
          FROM t),
        b AS (
          SELECT split_part(gram, ' ', 1) AS w1, split_part(gram, ' ', 2) AS w2,
                 count(*) AS c12
          FROM g GROUP BY 1, 2),
        c AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM b GROUP BY w1),
        p AS (
          SELECT b.w1, b.w2, b.c12, c.c1,
                 CAST(floor(b.c12 * 1000000.0 / c.c1) AS BIGINT) AS p_e6
          FROM b JOIN c USING (w1)),
        r AS (
          SELECT *, row_number() OVER (PARTITION BY w1
                    ORDER BY p_e6 DESC, w2 ASC) AS rnk
          FROM p)
        SELECT w1, w2 AS next_word, c12, c1, p_e6
        FROM r WHERE rnk = 1 ORDER BY w1""")),

    // s3: the streaming module's time-bounded attribution join run on
    // batch input (the exact code path two readStream inputs take; the
    // watermarks are no-ops in batch). Pairs each 'view' with same-user
    // 'click's within 1 hour. StreamingSpec pins MemoryStream ==
    // batch-twin equality for the streaming path.
    Q("s3_attribution_join",
      (s, d) => {
        val ev = Tables.events(s, d)
        graft.streaming.EventStreams.attributionJoin(
          ev.filter(col("event_type") === "view"),
          ev.filter(col("event_type") === "click"),
          windowSec = 3600)
      },
      Some("""
        WITH v AS (
          SELECT event_id AS imp_id, user_id, epoch_us(ts) AS ts_us
          FROM events WHERE event_type = 'view'),
        c AS (
          SELECT event_id AS conv_id, user_id, epoch_us(ts) AS ts_us
          FROM events WHERE event_type = 'click')
        SELECT v.user_id, imp_id, conv_id,
               CAST(c.ts_us - v.ts_us AS BIGINT) AS delay_us
        FROM v JOIN c
          ON v.user_id = c.user_id
         AND c.ts_us >= v.ts_us
         AND c.ts_us <= v.ts_us + 3600000000
        ORDER BY v.user_id, imp_id, conv_id""")),

    // s4: stream-static enrichment through EventStreams.enrichJoin —
    // the per-micro-batch broadcast dim join every production stream
    // runs (events against a slowly-changing reference table). The dim
    // side (nation⨝region, 25 rows) broadcasts so the stream side never
    // shuffles before its aggregation; batch input takes the identical
    // code path, which is what hash-matches here. StreamingSpec pins
    // MemoryStream == batch-twin equality for the streaming path.
    Q("s4_stream_enrich",
      (s, d) => {
        val ev = Tables.events(s, d)
          .withColumn("n_key", (col("user_id") % 25).cast("int"))
        val dim = Tables.nation(s, d)
          .join(Tables.region(s, d), col("n_regionkey") === col("r_regionkey"))
          .select(col("n_nationkey"), col("r_name"))
        graft.streaming.EventStreams.enrichJoin(ev, dim, "n_key", "n_nationkey")
          .groupBy("r_name", "event_type")
          .agg(count(lit(1)).as("cnt"), sum(Q.cents(col("value"))).as("value_cents"))
          .orderBy("r_name", "event_type")
      },
      Some(s"""
        WITH dim AS (
          SELECT n_nationkey, r_name
          FROM nation JOIN region ON n_regionkey = r_regionkey)
        SELECT r_name, event_type, count(*) AS cnt,
               CAST(sum(${Q.sqlCents("value")}) AS BIGINT) AS value_cents
        FROM events e LEFT JOIN dim ON CAST(e.user_id % 25 AS INT) = n_nationkey
        GROUP BY 1, 2 ORDER BY r_name, event_type""")),

    // t30: LM-based document scoring — the CCNet-style "fit a language
    // model on a corpus, score every document with it" curation filter
    // (here the t29 bigram LM fit on the corpus itself, so the score is
    // an integer-exact predictability proxy, not float perplexity — no
    // ln() is allowed in an oracle-checked output). Both passes over the
    // bigrams are partial-agg shuffles on (w1,w2); the score join is a
    // plain equijoin on the same key, so the whole query is three
    // bounded shuffles regardless of corpus size. At 100 TB the LM
    // table itself is the growth concern: the production variants are a
    // pruned top-K LM broadcast, or the t28 count-min sketch as the
    // probability source.
    Q("t30_lm_doc_score",
      (s, d) => {
        // NOTE: the bigram explosion is referenced by both the LM build
        // and the scoring join; measured, recomputing it (0.89 s at
        // sf0.1) beats materializing it (localCheckpoint tried: 1.74 s —
        // the (doc,w1,w2) frame is wide relative to the fused codegen
        // scan, unlike t32's reduced distinct-hash frame)
        // fanOut: the single-row-group scan would otherwise run each
        // explosion as ONE task (round-19; see TextOps.fanOut)
        val grams = TextOps.fanOut(Tables.documents(s, d), col("doc_id"))
          .select(col("doc_id"), TextOps.tokens(col("text")).as("t"))
          .select(col("doc_id"), explode(TextOps.wordNgrams(col("t"), 2)).as("gram"))
          .select(col("doc_id"),
            substring_index(col("gram"), " ", 1).as("w1"),
            substring_index(col("gram"), " ", -1).as("w2"))
        val big = grams.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
        val ctx = big.groupBy("w1").agg(sum(col("c12")).as("c1"))
        val lm = big.join(ctx, "w1")
          .select(col("w1"), col("w2"),
            floor(col("c12") * lit(1000000.0) / col("c1")).cast("long").as("p_e6"))
        grams.join(lm, Seq("w1", "w2"))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_bigrams"), sum(col("p_e6")).as("sum_p_e6"))
          .select(col("doc_id"), col("n_bigrams"), col("sum_p_e6"),
            floor(col("sum_p_e6") * lit(1.0) / col("n_bigrams")).cast("long").as("score_e6"))
          .orderBy("doc_id")
      },
      Some(s"""
        WITH t AS (SELECT doc_id, $tokSql AS toks FROM documents),
        g AS (
          SELECT doc_id, unnest(CASE WHEN len(toks) >= 2
                   THEN list_transform(range(len(toks) - 1),
                          i -> array_to_string(list_slice(toks, i + 1, i + 2), ' '))
                   ELSE [] END) AS gram
          FROM t),
        gs AS (
          SELECT doc_id, split_part(gram, ' ', 1) AS w1,
                 split_part(gram, ' ', 2) AS w2
          FROM g),
        b AS (SELECT w1, w2, count(*) AS c12 FROM gs GROUP BY 1, 2),
        c AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM b GROUP BY w1),
        lm AS (
          SELECT b.w1, b.w2,
                 CAST(floor(b.c12 * 1000000.0 / c.c1) AS BIGINT) AS p_e6
          FROM b JOIN c USING (w1))
        SELECT gs.doc_id, count(*) AS n_bigrams,
               CAST(sum(p_e6) AS BIGINT) AS sum_p_e6,
               CAST(floor(sum(p_e6) * 1.0 / count(*)) AS BIGINT) AS score_e6
        FROM gs JOIN lm USING (w1, w2)
        GROUP BY gs.doc_id ORDER BY doc_id""")),

    // t31: keyword search — multi-term retrieval with tf·idf ranking
    // (idf as the integer fixed point floor(1e6·N/df); no log, so the
    // ranking is oracle-exact). The inverted-index shape: explode →
    // isin-filter to the query terms (selectivity ~|terms|/|vocab|, so
    // the per-doc posting lists are tiny), tf via one partial-agg
    // shuffle on (doc, term), df + corpus size both broadcast (≤|terms|
    // rows and 1 row). Top-20 is TakeOrdered with a doc_id tiebreak —
    // no global sort. This is the scan side of a search engine: at
    // 100 TB the same plan holds because everything after the filter is
    // proportional to matching postings, not corpus size.
    Q("t31_keyword_search",
      (s, d) => {
        val terms = Seq("vector", "stream", "merge")
        val docs = Tables.documents(s, d)
        val hits = docs
          .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("tok"))
          .filter(col("tok").isin(terms: _*))
        val tf = hits.groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
        val dfreq = tf.groupBy("tok").agg(count(lit(1)).as("df"))
        val n = docs.agg(count(lit(1)).as("n_docs"))
        tf.join(broadcast(dfreq), "tok")
          .crossJoin(broadcast(n))
          .select(col("doc_id"), col("tf"),
            floor(lit(1000000.0) * col("n_docs") / col("df")).cast("long").as("idf_e6"))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_terms"), sum(col("tf") * col("idf_e6")).as("score_e6"))
          .orderBy(col("score_e6").desc, col("doc_id").asc)
          .limit(20)
      },
      Some(s"""
        WITH toks AS (
          SELECT doc_id, unnest($tokSql) AS tok FROM documents),
        hits AS (
          SELECT doc_id, tok FROM toks WHERE tok IN ('vector', 'stream', 'merge')),
        tf AS (SELECT doc_id, tok, count(*) AS tf FROM hits GROUP BY 1, 2),
        dfreq AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
        n AS (SELECT count(*) AS n_docs FROM documents)
        SELECT doc_id, count(*) AS n_terms,
               CAST(sum(tf * CAST(floor(1000000.0 * n_docs / df) AS BIGINT)) AS BIGINT)
                 AS score_e6
        FROM tf JOIN dfreq USING (tok), n
        GROUP BY doc_id
        ORDER BY score_e6 DESC, doc_id ASC
        LIMIT 20""")),

    // t34: deterministic corpus mix rebalance — downsample every language
    // to the smallest language's volume (the "balanced mix" move when
    // assembling a training corpus from skewed sources). Per-language
    // acceptance thresholds are derived from the corpus itself
    // (floor(min_cnt * 1000 / cnt) per-mille), then applied with the
    // md5-prefix law (t7/t8's primitive) so the SAME documents are kept
    // on any cluster size, any engine, any run. The per-language count
    // frame is tiny (one row per language) and broadcast back onto the
    // corpus — one partial-agg shuffle over documents, no repartition of
    // the corpus itself; at 100 TB the plan is identical, only the scan
    // grows. Threshold math is integer-in, single-division, floor —
    // bit-identical IEEE in both engines.
    Q("t34_mix_rebalance",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val cnts = docs.groupBy("lang").agg(count(lit(1)).as("cnt"))
        val minc = cnts.agg(min("cnt").as("min_cnt"))
        val thr = cnts.crossJoin(broadcast(minc)).select(
          col("lang"), col("cnt"),
          floor(col("min_cnt").cast("double") * lit(1000.0) /
            col("cnt").cast("double")).cast("long").as("thr_pm"))
        val kept = docs.join(broadcast(thr.select("lang", "thr_pm")), "lang")
          .filter(conv(substring(md5(concat(lit("mix"),
            col("doc_id").cast("string"))), 1, 4), 16, 10).cast("long") * 1000
            < col("thr_pm") * 65536)
          .groupBy("lang").agg(count(lit(1)).as("kept"))
        thr.join(kept, Seq("lang"), "left")
          .select(col("lang"), col("cnt"), col("thr_pm"),
            coalesce(col("kept"), lit(0L)).as("kept"))
          .orderBy("lang")
      },
      Some("""
        WITH c AS (SELECT lang, count(*) AS cnt FROM documents GROUP BY lang),
        m AS (SELECT min(cnt) AS min_cnt FROM c),
        t AS (SELECT lang, cnt,
                     CAST(floor(CAST(min_cnt AS DOUBLE) * 1000.0
                          / CAST(cnt AS DOUBLE)) AS BIGINT) AS thr_pm
              FROM c, m),
        k AS (SELECT d.lang, count(*) AS kept
              FROM documents d JOIN t USING (lang)
              WHERE ('0x' || substr(md5('mix' || CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT * 1000
                    < thr_pm * 65536
              GROUP BY d.lang)
        SELECT t.lang, t.cnt, t.thr_pm,
               CAST(coalesce(k.kept, 0) AS BIGINT) AS kept
        FROM t LEFT JOIN k USING (lang) ORDER BY lang""")),

    // t35: CCNet-style quality bucketing — score every document with the
    // corpus LM (t30's integer-exact predictability score), then split
    // the corpus into head/middle/tail terciles by score. The bucket
    // assignment matches ntile(3) over (score DESC, doc_id) bit-for-bit
    // — the doc_id tiebreak makes the cut deterministic across engines
    // and cluster sizes — but is computed by Relational.ntileScalable:
    // the bucketedRank core ranks on the (negated) score (per-bucket
    // parallel running counts, broadcast bucket-count offsets), then
    // the tile is pure (rank, n) arithmetic. No single-partition window anywhere at any
    // corpus size; the only global sort is over the 64-row offsets
    // frame. (Until round 13 this was a literal global ntile — one task
    // sorting one row per document, the plan's lone scale-killer.)
    Q("t35_quality_buckets",
      (s, d) => {
        // DELIBERATE double explosion (measured, not an oversight): the
        // gram stream feeds two consumers — the corpus LM build and the
        // per-doc scoring join — and each RE-derives tokenize+explode
        // rather than sharing a materialized (doc_id, w1, w2) frame.
        // The round-13 single-scan rewrite (shared pre-aggregate +
        // ReuseExchange) was built, measured 1.6× SLOWER at sf0.1, and
        // reverted: sharing forces one full hash exchange of the entire
        // gram stream keyed by (doc_id, w1, w2), while this shape's
        // only shuffles are map-side-combined vocab²- and doc-count-
        // sized partials plus a broadcast of the vocab-sized LM — at
        // 100 TB a second codegen'd scan is cheap, a corpus-wide
        // shuffle is the bottleneck. (t43's one-explosion rule applies
        // when the consumers SHARE a shuffle key; these don't.)
        // fanOut: the single-row-group scan would otherwise run each
        // explosion as ONE task (round-19; see TextOps.fanOut)
        val grams = TextOps.fanOut(Tables.documents(s, d), col("doc_id"))
          .select(col("doc_id"), TextOps.tokens(col("text")).as("t"))
          .select(col("doc_id"), explode(TextOps.wordNgrams(col("t"), 2)).as("gram"))
          .select(col("doc_id"),
            substring_index(col("gram"), " ", 1).as("w1"),
            substring_index(col("gram"), " ", -1).as("w2"))
        val big = grams.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
        val ctx = big.groupBy("w1").agg(sum(col("c12")).as("c1"))
        val lm = big.join(ctx, "w1")
          .select(col("w1"), col("w2"),
            floor(col("c12") * lit(1000000.0) / col("c1")).cast("long").as("p_e6"))
        val scored = grams.join(lm, Seq("w1", "w2"))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_bigrams"), sum(col("p_e6")).as("sum_p_e6"))
          .select(col("doc_id"), col("n_bigrams"),
            floor(col("sum_p_e6") * lit(1.0) / col("n_bigrams")).cast("long").as("score_e6"))
        graft.operators.Relational.ntileScalable(
            scored, 3, -col("score_e6"),
            Seq(col("score_e6").desc, col("doc_id").asc), "bucket")
          .groupBy("bucket")
          .agg(count(lit(1)).as("n_docs"),
            sum("n_bigrams").as("sum_bigrams"),
            min("score_e6").as("min_score_e6"),
            max("score_e6").as("max_score_e6"))
          .orderBy("bucket")
      },
      Some(s"""
        WITH t AS (SELECT doc_id, $tokSql AS toks FROM documents),
        g AS (
          SELECT doc_id, unnest(CASE WHEN len(toks) >= 2
                   THEN list_transform(range(len(toks) - 1),
                          i -> array_to_string(list_slice(toks, i + 1, i + 2), ' '))
                   ELSE [] END) AS gram
          FROM t),
        gs AS (
          SELECT doc_id, split_part(gram, ' ', 1) AS w1,
                 split_part(gram, ' ', 2) AS w2
          FROM g),
        b AS (SELECT w1, w2, count(*) AS c12 FROM gs GROUP BY 1, 2),
        c AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM b GROUP BY w1),
        lm AS (
          SELECT b.w1, b.w2,
                 CAST(floor(b.c12 * 1000000.0 / c.c1) AS BIGINT) AS p_e6
          FROM b JOIN c USING (w1)),
        sc AS (
          SELECT gs.doc_id, count(*) AS n_bigrams,
                 CAST(floor(sum(p_e6) * 1.0 / count(*)) AS BIGINT) AS score_e6
          FROM gs JOIN lm USING (w1, w2)
          GROUP BY gs.doc_id),
        bk AS (
          SELECT doc_id, n_bigrams, score_e6,
                 CAST(ntile(3) OVER (ORDER BY score_e6 DESC, doc_id ASC) AS BIGINT) AS bucket
          FROM sc)
        SELECT bucket, count(*) AS n_docs,
               CAST(sum(n_bigrams) AS BIGINT) AS sum_bigrams,
               min(score_e6) AS min_score_e6,
               max(score_e6) AS max_score_e6
        FROM bk GROUP BY bucket ORDER BY bucket""")),

    // t36: TextRank keyword extraction — PageRank over the word
    // co-occurrence (bigram) graph, the classic unsupervised keyword
    // ranker. Three damped power iterations in exact integer fixed
    // point: transition weights are floor(1e6·c12/c1), each
    // contribution is (rank · p_e6) div 1e6, each new rank is
    // 0.15·1e6 + (0.85·inflow) via integer div — floor division on
    // non-negative longs is bit-identical in both engines, so a
    // 3-iteration matrix recurrence hash-matches. Every frame after
    // the bigram count is VOCAB-sized, not corpus-sized; the edge
    // list is localCheckpoint'ed once (the t32 lesson: a reduced
    // frame referenced by 3 iterations must not re-explode bigrams
    // per reference) and each iteration is one equijoin on w1 + one
    // partial agg on w2 — fixed 3×2 bounded shuffles at any sf.
    // Dangling mass (words never seen as a bigram head) is dropped,
    // as in the original TextRank formulation.
    Q("t36_textrank",
      (s, d) => {
        val grams = Tables.documents(s, d)
          .select(TextOps.tokens(col("text")).as("t"))
          .select(explode(TextOps.wordNgrams(col("t"), 2)).as("gram"))
          .select(substring_index(col("gram"), " ", 1).as("w1"),
            substring_index(col("gram"), " ", -1).as("w2"))
        val big = grams.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
        val ctx = big.groupBy("w1").agg(sum("c12").as("c1"))
        val edges = big.join(ctx, "w1")
          .select(col("w1"), col("w2"),
            floor(col("c12") * lit(1000000.0) / col("c1")).cast("long").as("p_e6"))
          .localCheckpoint(true)
        val nodes = edges.select(col("w1").as("w"))
          .union(edges.select(col("w2").as("w"))).distinct()
          .localCheckpoint(true)
        var rank = nodes.select(col("w"), lit(1000000L).as("r"))
        for (_ <- 1 to 3) {
          val inflow = rank.join(edges, rank("w") === edges("w1"))
            .select(col("w2").as("w"),
              expr("(r * p_e6) div 1000000").as("contrib"))
            .groupBy("w").agg(sum("contrib").as("s"))
          rank = nodes.join(inflow, Seq("w"), "left")
            .select(col("w"),
              (lit(150000L) + expr("(coalesce(s, 0L) * 85) div 100")).as("r"))
        }
        rank.select(col("w").as("word"), col("r").as("rank_e6"))
          .orderBy(col("rank_e6").desc, col("word").asc)
          .limit(20)
      },
      Some(s"""
        WITH t AS (SELECT $tokSql AS toks FROM documents),
        g AS (
          SELECT unnest(CASE WHEN len(toks) >= 2
                   THEN list_transform(range(len(toks) - 1),
                          i -> array_to_string(list_slice(toks, i + 1, i + 2), ' '))
                   ELSE [] END) AS gram
          FROM t),
        b AS (
          SELECT split_part(gram, ' ', 1) AS w1, split_part(gram, ' ', 2) AS w2,
                 count(*) AS c12
          FROM g GROUP BY 1, 2),
        c AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM b GROUP BY w1),
        e AS (
          SELECT b.w1, b.w2,
                 CAST(floor(b.c12 * 1000000.0 / c.c1) AS BIGINT) AS p_e6
          FROM b JOIN c USING (w1)),
        n AS (SELECT w1 AS w FROM e UNION SELECT w2 FROM e),
        r0 AS (SELECT w, CAST(1000000 AS BIGINT) AS r FROM n),
        s1 AS (SELECT e.w2 AS w, CAST(sum((r0.r * e.p_e6) // 1000000) AS BIGINT) AS s
               FROM r0 JOIN e ON r0.w = e.w1 GROUP BY e.w2),
        r1 AS (SELECT n.w, CAST(150000 + (coalesce(s1.s, 0) * 85) // 100 AS BIGINT) AS r
               FROM n LEFT JOIN s1 USING (w)),
        s2 AS (SELECT e.w2 AS w, CAST(sum((r1.r * e.p_e6) // 1000000) AS BIGINT) AS s
               FROM r1 JOIN e ON r1.w = e.w1 GROUP BY e.w2),
        r2 AS (SELECT n.w, CAST(150000 + (coalesce(s2.s, 0) * 85) // 100 AS BIGINT) AS r
               FROM n LEFT JOIN s2 USING (w)),
        s3 AS (SELECT e.w2 AS w, CAST(sum((r2.r * e.p_e6) // 1000000) AS BIGINT) AS s
               FROM r2 JOIN e ON r2.w = e.w1 GROUP BY e.w2),
        r3 AS (SELECT n.w, CAST(150000 + (coalesce(s3.s, 0) * 85) // 100 AS BIGINT) AS r
               FROM n LEFT JOIN s3 USING (w))
        SELECT w AS word, r AS rank_e6 FROM r3
        ORDER BY rank_e6 DESC, word ASC LIMIT 20""")),

    // t37: MinHash accuracy, in-gate — for a deterministic 20% slice of
    // consecutive-doc pairs (doc_id ≡ 0 mod 5, paired with its
    // successor), the 8-component MinHash Jaccard ESTIMATE (agreeing
    // components × 1/8) next to the EXACT shingle-set Jaccard, plus the
    // absolute error. The r33↔r35 pattern applied to dedup: the estimate
    // is the 100 TB path (signatures are 8 strings per doc; shingle sets
    // never ship), the exact value is co-computed here solely so the
    // oracle pins BOTH the estimator and its error — a regression in the
    // hash family or the shingle rule shows up as an err_e4 shift, not a
    // silent quality drop. The slice is how a production estimator-drift
    // monitor runs too: the exact side is per-pair O(doc length), so you
    // audit a fixed fraction, never the full corpus. exact_e4 is integer
    // intersection/union sizes with one division + floor, identical IEEE
    // ops both engines.
    Q("t37_minhash_accuracy",
      (s, d) => {
        val k = 8
        // localCheckpoint: the interpreted shingle explosion + 8 minhash
        // folds feed BOTH join sides (a and b shuffle on different keys,
        // so ReuseExchange can't share them) — materialize once (the t32
        // lesson). Shingle arrays are kept only for the exact co-compute;
        // the deployable estimator would checkpoint signatures alone.
        val sig = withShingles(
            Tables.documents(s, d).filter(col("doc_id") % 5 <= 1))
          .filter(size(col("sh")) > 0)
          .select(col("doc_id") +:
            graft.functions.native.minhashSignature(col("sh"), k) :+
            array_distinct(col("sh")).as("sh"): _*)
          .localCheckpoint(true)
        val a = sig.toDF("id_a" +: (0 until k).map(i => s"a$i") :+ "sha": _*)
        val b = sig.toDF("id_b" +: (0 until k).map(i => s"b$i") :+ "shb": _*)
          .withColumn("id_a", col("id_b") - 1)
        val agree = (0 until k)
          .map(i => when(col(s"a$i") === col(s"b$i"), 1L).otherwise(0L))
          .reduce(_ + _)
        // sh is pre-deduped in the checkpoint, so set sizes are lengths
        val inter = size(array_intersect(col("sha"), col("shb"))).cast("long")
        val uni = (size(col("sha")) + size(col("shb"))).cast("long") - inter
        a.join(b, "id_a")
          .select(col("id_a"), col("id_b"),
            (agree * lit(1250L)).as("est_e4"),
            floor(inter * lit(10000.0) / uni + lit(0.5)).cast("long").as("exact_e4"))
          .withColumn("err_e4", abs(col("est_e4") - col("exact_e4")))
          .orderBy("id_a")
      },
      Some(s"""
        WITH s AS (
          SELECT doc_id, list_distinct($shingleSql) AS sh FROM documents
          WHERE doc_id % 5 <= 1),
        f AS (
          SELECT doc_id, sh,
                 ${(0 until 8).map(i => minhashSql(i, "sh") + s" AS mh$i").mkString(",\n                 ")}
          FROM s WHERE len(sh) > 0),
        j AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                 CAST((${(0 until 8).map(i =>
                   s"CASE WHEN a.mh$i = b.mh$i THEN 1 ELSE 0 END").mkString(" + ")})
                      * 1250 AS BIGINT) AS est_e4,
                 len(list_filter(a.sh, x -> list_contains(b.sh, x))) AS inter,
                 len(a.sh) + len(b.sh)
                   - len(list_filter(a.sh, x -> list_contains(b.sh, x))) AS uni
          FROM f a JOIN f b ON b.doc_id = a.doc_id + 1)
        SELECT id_a, id_b, est_e4,
               CAST(floor(inter * 10000.0 / uni + 0.5) AS BIGINT) AS exact_e4,
               abs(est_e4 - CAST(floor(inter * 10000.0 / uni + 0.5) AS BIGINT)) AS err_e4
        FROM j ORDER BY id_a""")),

    // t42: VOCABULARY-RICHNESS quality stats — per-doc type count,
    // hapax-legomenon count (tokens occurring exactly once), and the
    // type-token / hapax ratios in exact basis points. Low TTR ⇒
    // template/boilerplate spam; a near-1 hapax fraction on long docs ⇒
    // gibberish — the classic Zipf-shaped filters next to t10's surface
    // ratios and t13's Gopher rules. Scale: ZERO shuffles — every stat
    // is computed per ROW with array expressions (sort the token array
    // once, count elements unequal to both neighbors for hapaxes), so
    // the plan is scan → project → sort-for-output; at 100 TB it is
    // embarrassingly parallel with no exchange before the final ORDER
    // BY, which a real pipeline drops anyway. Counting equal-adjacent
    // runs is order-insensitive to COLLATION differences between
    // engines: any total sort order groups equal strings adjacently,
    // which is all the run-length logic needs.
    Q("t42_vocab_stats",
      (s, d) => {
        val n = size(col("sorted"))
        // 1-based positions; the j==1 / j==n boundary guards use
        // when/otherwise (CaseWhen evaluates only the matched branch) so
        // element_at never sees index 0, which Spark rejects at runtime —
        // Or/And make no lazy-evaluation promise after optimizer reorder.
        val isHapax = (j: org.apache.spark.sql.Column) =>
          when(j === 1, lit(true)).otherwise(
            element_at(col("sorted"), j - 1) =!= element_at(col("sorted"), j)) &&
          when(j === n, lit(true)).otherwise(
            element_at(col("sorted"), j + 1) =!= element_at(col("sorted"), j))
        Tables.documents(s, d)
          .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
          .filter(size(col("toks")) > 0)
          .withColumn("sorted", array_sort(col("toks")))
          .select(col("doc_id"),
            size(col("toks")).cast("long").as("n_tokens"),
            size(array_distinct(col("toks"))).cast("long").as("n_types"),
            size(filter(sequence(lit(1), n), isHapax)).cast("long").as("n_hapax"))
          .withColumn("ttr_bp", expr("(n_types * 10000) div n_tokens"))
          .withColumn("hapax_bp", expr("(n_hapax * 10000) div n_tokens"))
          .orderBy("doc_id")
      },
      Some(s"""
        WITH t AS (
          SELECT doc_id, $tokSql AS toks, list_sort($tokSql) AS s,
                 len($tokSql) AS n
          FROM documents WHERE len($tokSql) > 0)
        SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
               CAST(len(list_distinct(toks)) AS BIGINT) AS n_types,
               CAST(len(list_filter(range(n), i ->
                 (i = 0 OR s[i + 1] != s[i])
                 AND (i = n - 1 OR s[i + 1] != s[i + 2]))) AS BIGINT) AS n_hapax,
               CAST(len(list_distinct(toks)) * 10000 // n AS BIGINT) AS ttr_bp,
               CAST(len(list_filter(range(n), i ->
                 (i = 0 OR s[i + 1] != s[i])
                 AND (i = n - 1 OR s[i + 1] != s[i + 2]))) * 10000 // n
                 AS BIGINT) AS hapax_bp
        FROM t ORDER BY doc_id""")),

    // t43: N-GRAM NOVELTY scoring — what fraction of each document's
    // distinct word 3-grams appear in NO earlier document (owner =
    // min(doc_id) over the corpus; doc order is the ingestion order a
    // dedup pipeline sees). The memorization/novelty signal used to
    // down-weight recycled boilerplate when t25's binary decontamination
    // verdict is too blunt. Scale/perf: the shingle EXPLOSION is the
    // dominant cost (each 3-gram is a slice+join string build), so it
    // must run ONCE — t23's spanDupStats rule. The first cut computed
    // the shingle chain three times (CollapseProject clones the
    // expression into the size() filter, then explode and the join-back
    // branch each re-derive it: 9.5 s at sf0.1); this shape explodes
    // RAW shingles once and pushes the per-doc dedup into the first
    // shuffle's partial agg (groupBy (g, doc) ≡ array_distinct, without
    // a second scan), then the owner is a min() window on the already-
    // reduced frame and the per-doc rollup rides the same lineage — no
    // join, three shuffles of reduced data, 1.3 s. Linear in total
    // shingles at any corpus size.
    Q("t43_ngram_novelty",
      (s, d) => {
        val spans = Tables.documents(s, d)
          .select(col("doc_id"), TextOps.tokens(col("text")).as("__t"))
          .select(col("doc_id"), explode(TextOps.wordNgrams(col("__t"), 3)).as("g"))
        val dist = spans.groupBy(col("g"), col("doc_id")).agg(count(lit(1)).as("__c"))
        val w = org.apache.spark.sql.expressions.Window.partitionBy("g")
        dist.withColumn("owner", min(col("doc_id")).over(w))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_shingles"),
            sum(when(col("doc_id") === col("owner"), 1L).otherwise(0L)).as("n_novel"))
          .withColumn("novelty_bp", expr("(n_novel * 10000) div n_shingles"))
          .orderBy("doc_id")
      },
      Some(s"""
        WITH sh AS (
          SELECT doc_id, list_distinct($shingleSql) AS sh FROM documents),
        e AS (SELECT doc_id, unnest(sh) AS g FROM sh WHERE len(sh) > 0),
        own AS (SELECT g, min(doc_id) AS owner FROM e GROUP BY g),
        nov AS (SELECT owner AS doc_id, count(*) AS novel FROM own GROUP BY owner),
        tot AS (SELECT doc_id, len(sh) AS n_sh FROM sh WHERE len(sh) > 0)
        SELECT t.doc_id, CAST(t.n_sh AS BIGINT) AS n_shingles,
               CAST(coalesce(n.novel, 0) AS BIGINT) AS n_novel,
               CAST(coalesce(n.novel, 0) * 10000 // t.n_sh AS BIGINT) AS novelty_bp
        FROM tot t LEFT JOIN nov n ON n.doc_id = t.doc_id
        ORDER BY t.doc_id""")),

    // t44: LEAKAGE-FREE train/eval split — t38 cuts the corpus, t3 finds
    // near-dups; a benchmark is only trustworthy when the two compose:
    // any train document that is an LSH near-dup of a val/test document
    // is DROPPED FROM TRAIN (eval stays pristine — the standard
    // direction: you can't touch the benchmark, you can always shrink
    // train). The audit emits, per split, total docs, dropped count, and
    // the surviving doc/char budget. Scale: the pair frame is the
    // memoized t3 candidate set (banded equijoin, never all-pairs); the
    // split labels join onto the pair endpoints by the unique doc key
    // (two broadcast-or-shuffle equijoins on id), and the final rollup is
    // a 3-row aggregate. Nothing rescans text.
    Q("t44_leakfree_split",
      (s, d) => {
        val b = conv(substring(md5(concat(lit("split"),
          col("doc_id").cast("string"))), 1, 4), 16, 10).cast("long")
        val docs = Tables.documents(s, d)
          .select(col("doc_id"), col("n_chars"))
          .withColumn("split",
            when(b * 10 < lit(8L * 65536), "train")
              .when(b * 10 < lit(9L * 65536), "val")
              .otherwise("test"))
        val pairs = lshPairsFor(s, d)
        val edges = pairs.select(col("id_a").as("x"), col("id_b").as("y"))
          .union(pairs.select(col("id_b").as("x"), col("id_a").as("y")))
        val contaminated = edges
          .join(docs.select(col("doc_id").as("x"), col("split").as("sx")), "x")
          .join(docs.select(col("doc_id").as("y"), col("split").as("sy")), "y")
          .filter(col("sx") === "train" && col("sy").isin("val", "test"))
          .select(col("x").as("doc_id")).distinct()
        docs.join(contaminated.withColumn("dropped", lit(1L)), Seq("doc_id"), "left")
          .groupBy("split")
          .agg(count(lit(1)).as("n_docs"),
            sum(coalesce(col("dropped"), lit(0L))).as("n_dropped"),
            (count(lit(1)) - sum(coalesce(col("dropped"), lit(0L)))).as("n_kept"),
            sum(when(col("dropped").isNull, col("n_chars")).otherwise(0L)).as("kept_chars"))
          .orderBy("split")
      },
      Some(s"""
        WITH $lshPairCtes,
        s AS (
          SELECT doc_id, n_chars,
                 CASE WHEN ('0x' || substr(md5('split' || CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT * 10 < 8 * 65536 THEN 'train'
                      WHEN ('0x' || substr(md5('split' || CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT * 10 < 9 * 65536 THEN 'val'
                      ELSE 'test' END AS split
          FROM documents),
        edges AS (
          SELECT id_a AS x, id_b AS y FROM pairs
          UNION ALL SELECT id_b, id_a FROM pairs),
        contaminated AS (
          SELECT DISTINCT e.x AS doc_id
          FROM edges e
          JOIN s sx ON sx.doc_id = e.x
          JOIN s sy ON sy.doc_id = e.y
          WHERE sx.split = 'train' AND sy.split IN ('val', 'test'))
        SELECT s.split, count(*) AS n_docs,
               CAST(count(c.doc_id) AS BIGINT) AS n_dropped,
               CAST(count(*) - count(c.doc_id) AS BIGINT) AS n_kept,
               CAST(sum(CASE WHEN c.doc_id IS NULL THEN n_chars ELSE 0 END) AS BIGINT) AS kept_chars
        FROM s LEFT JOIN contaminated c ON c.doc_id = s.doc_id
        GROUP BY s.split ORDER BY s.split""")),

    // t45: FIXED-k STRATIFIED SAMPLE — exactly 10 docs per language,
    // chosen by salted-md5 rank (t7's determinism law: the same docs win
    // at any cluster size or partitioning). t8's fraction-based stratum
    // sampling can't promise exact counts; eval sets and few-shot prompt
    // pools need exactly-k. Runs through [[Relational.topNPerKeyAgg]] —
    // the bounded TopK aggregate: map-side partials cap task state and
    // shuffle bytes at k rows per task × key, and no per-task sort is
    // paid (a bounded heap per key). Honest ledger: Spark 4's
    // WindowGroupLimit bounds the row_number()-filter window form's
    // SHUFFLE equally well (partial rank-limit below the exchange) but
    // still fully SORTS every task's rows first — the aggregate skips
    // that, and the three-way contrast (agg ≈ limited window ≪
    // unlimited window) is pinned numerically in ShuffleBudgetSpec.
    // v10 uses this path for its scored top-k; t45 pins it under oracle
    // on the text side too.
    Q("t45_stratified_topk",
      (s, d) => {
        val h = conv(substring(md5(concat(lit("strat"),
          col("doc_id").cast("string"))), 1, 8), 16, 10).cast("long")
        val df = Tables.documents(s, d)
          .select(col("lang"), col("doc_id"), col("n_chars"))
          .withColumn("h", h)
        Relational.topNPerKeyAgg(df, Seq("lang"), Seq("h", "doc_id"), 10)
          .select(col("lang"), col("rnk").cast("long").as("rnk"),
            col("doc_id"), col("n_chars"))
          .orderBy("lang", "rnk")
      },
      Some("""
        WITH h AS (
          SELECT lang, doc_id, n_chars,
                 ('0x' || substr(md5('strat' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT AS hh
          FROM documents),
        ranked AS (
          SELECT lang, doc_id, n_chars,
                 row_number() OVER (PARTITION BY lang
                   ORDER BY hh ASC, doc_id ASC) AS rnk
          FROM h)
        SELECT lang, CAST(rnk AS BIGINT) AS rnk, doc_id, n_chars
        FROM ranked WHERE rnk <= 10 ORDER BY lang, rnk""")),

    // t46: VERIFIED near-dup pairs — the production two-stage dedup
    // shape in one query: banded-LSH CANDIDATES (cheap, recall-
    // oriented, with false positives by design) re-scored with the
    // EXACT distinct-shingle Jaccard and kept only at ≥ 0.5 — the
    // precision stage that makes the pair list safe to delete against.
    // BOTH stages are bounded (the round-11 sf0.5 sweep showed the
    // verify stage's candidate count, not candidate generation, is
    // what grows): buckets hotter than 1000 entries contribute no
    // candidates (occupancy cap), and within each surviving bucket
    // only the first 5000 pairs under the deterministic (id_a, id_b)
    // order reach the exact-Jaccard check (verify cap,
    // TextOps.lshPairsCapped). Truncation is an AUDIT ROW, not a
    // silent drop: the sentinel (id_a = -1) row carries (truncated
    // buckets, dropped candidate slots) — zero/zero on this corpus,
    // and the oracle replays both caps so the row is oracle-pinned
    // either way. Scale: the expensive exactness is paid ONLY on
    // capped candidates (pair-count-sized joins against the shingle
    // projection by unique doc id), never corpus²; the shingle arrays
    // travel to the pair rows, not the other way.
    Q("t46_verified_neardup",
      (s, d) => {
        val sh = withShingles(Tables.documents(s, d))
          .select(col("doc_id"), array_distinct(col("sh")).as("sh"))
        val banded = fusedBands(Tables.documents(s, d))
        val exploded = banded.select(col("doc_id"),
          explode(map(lit(0), col("band0"), lit(1), col("band1"))).as(Seq("band_idx", "band_val")))
        val wOcc = org.apache.spark.sql.expressions.Window
          .partitionBy("band_idx", "band_val")
        val ok = exploded.filter(col("band_val").isNotNull)
          .withColumn("__n", count(lit(1)).over(wOcc))
          .filter(col("__n") <= 1000).drop("__n")
        val (pairs, audit) = TextOps.lshPairsCapped(ok, 5000)
        val verified = pairs
          .join(sh.select(col("doc_id").as("id_a"), col("sh").as("sha")), "id_a")
          .join(sh.select(col("doc_id").as("id_b"), col("sh").as("shb")), "id_b")
          .withColumn("inter", size(array_intersect(col("sha"), col("shb"))).cast("long"))
          .withColumn("uni",
            (size(col("sha")) + size(col("shb"))).cast("long") - col("inter"))
          .withColumn("jac_e4", expr("(inter * 10000) div uni"))
          .filter(col("jac_e4") >= 5000)
          .select(col("id_a"), col("id_b"), col("jac_e4"))
        verified.union(audit.select(lit(-1L).as("id_a"),
            col("truncated_buckets").cast("long").as("id_b"),
            col("dropped_candidates").cast("long").as("jac_e4")))
          .orderBy("id_a", "id_b")
      },
      Some(s"""
        WITH sig AS (
          SELECT doc_id,
                 ${minhashSql(0, shingleSql)} || '|' || ${minhashSql(1, shingleSql)} AS band0,
                 ${minhashSql(2, shingleSql)} || '|' || ${minhashSql(3, shingleSql)} AS band1
          FROM documents),
        bands AS (
          SELECT doc_id, band_idx, band_val FROM (
            SELECT doc_id, 0 AS band_idx, band0 AS band_val FROM sig
            UNION ALL SELECT doc_id, 1, band1 FROM sig)
          WHERE band_val IS NOT NULL),
        bcnt AS (
          SELECT band_idx, band_val, count(*) AS c FROM bands GROUP BY 1, 2),
        ok AS (
          SELECT b.* FROM bands b JOIN bcnt USING (band_idx, band_val)
          WHERE c <= 1000),
        rawp AS (
          SELECT a.band_idx, a.band_val, a.doc_id AS id_a, b.doc_id AS id_b
          FROM ok a JOIN ok b
            ON a.band_idx = b.band_idx AND a.band_val = b.band_val
          WHERE a.doc_id < b.doc_id),
        rankedp AS (
          SELECT *, row_number() OVER (PARTITION BY band_idx, band_val
            ORDER BY id_a, id_b) AS rnk
          FROM rawp),
        pairs AS (
          SELECT DISTINCT id_a, id_b FROM rankedp WHERE rnk <= 5000),
        audit AS (
          SELECT count(DISTINCT (band_idx, band_val)) AS tb, count(*) AS dc
          FROM rankedp WHERE rnk > 5000),
        sh AS (
          SELECT doc_id, list_distinct($shingleSql) AS sh FROM documents),
        v AS (
          SELECT p.id_a, p.id_b,
                 len(list_filter(a.sh, x -> list_contains(b.sh, x))) AS inter,
                 len(a.sh) + len(b.sh)
                   - len(list_filter(a.sh, x -> list_contains(b.sh, x))) AS uni
          FROM pairs p
          JOIN sh a ON a.doc_id = p.id_a
          JOIN sh b ON b.doc_id = p.id_b)
        SELECT id_a, id_b, jac_e4 FROM (
          SELECT id_a, id_b, CAST((inter * 10000) // uni AS BIGINT) AS jac_e4
          FROM v WHERE (inter * 10000) // uni >= 5000
          UNION ALL
          SELECT -1, CAST(tb AS BIGINT), CAST(dc AS BIGINT) FROM audit)
        ORDER BY id_a, id_b""")),

    // s6: TRENDING top-3 event types per hour — the windowed-leaderboard
    // shape every streaming dashboard runs, expressed as the tumbling
    // bucket agg (s2's reduction) feeding the bounded TopK aggregate
    // keyed by hour (t45's kernel with MANY keys and a reduced input:
    // the per-(hour, type) counts, never raw events). Descending order
    // via count negation (the documented topNPerKeyAgg contract).
    Q("s6_trending_events",
      (s, d) => {
        val hourly = Tables.events(s, d)
          .groupBy(expr("ts_us div 3600000000").as("hour"), col("event_type"))
          .agg(count(lit(1)).as("cnt"))
          .withColumn("neg_cnt", -col("cnt"))
        Relational.topNPerKeyAgg(hourly, Seq("hour"),
            Seq("neg_cnt", "event_type"), 3)
          .select(col("hour"), col("rnk").cast("long").as("rnk"),
            col("event_type"), col("cnt"))
          .orderBy("hour", "rnk")
      },
      Some("""
        WITH hourly AS (
          SELECT epoch_us(ts) // 3600000000 AS hour, event_type,
                 count(*) AS cnt
          FROM events GROUP BY 1, 2),
        ranked AS (
          SELECT hour, event_type, cnt,
                 row_number() OVER (PARTITION BY hour
                   ORDER BY cnt DESC, event_type ASC) AS rnk
          FROM hourly)
        SELECT CAST(hour AS BIGINT) AS hour, CAST(rnk AS BIGINT) AS rnk,
               event_type, cnt
        FROM ranked WHERE rnk <= 3 ORDER BY hour, rnk""")),

    // t47: SOURCE VOCABULARY OVERLAP — pairwise word-level Jaccard
    // between sources (t32 asks which corpora share SPANS — literal
    // copying; t47 asks which share VOCABULARY — topical/stylistic
    // kinship, the signal for merging near-duplicate crawls or spotting
    // a source that is secretly another's subset). Inverted-index shape:
    // distinct (source, word) postings, one word-keyed self-join whose
    // per-word fan-out is bounded by sources² (20² here — never corpus-
    // sized), per-pair intersection counts against broadcast vocabulary
    // sizes, exact basis points. Emitted only for pairs with jac_bp ≥
    // 2000 to keep the artifact the interesting tail.
    Q("t47_vocab_overlap",
      (s, d) => {
        val posts = Tables.documents(s, d)
          .select(col("source"), explode(TextOps.tokens(col("text"))).as("w"))
          .distinct()
        val sizes = posts.groupBy("source").agg(count(lit(1)).as("vsz"))
        val inter = posts.alias("a").join(posts.alias("b"),
            col("a.w") === col("b.w") && col("a.source") < col("b.source"))
          .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
          .agg(count(lit(1)).as("n_common"))
        inter
          .join(broadcast(sizes.select(col("source").as("src_a"), col("vsz").as("sz_a"))), "src_a")
          .join(broadcast(sizes.select(col("source").as("src_b"), col("vsz").as("sz_b"))), "src_b")
          .withColumn("jac_bp",
            expr("(n_common * 10000) div (sz_a + sz_b - n_common)"))
          .filter(col("jac_bp") >= 2000)
          .select(col("src_a"), col("src_b"), col("n_common"), col("jac_bp"))
          .orderBy("src_a", "src_b")
      },
      Some(s"""
        WITH posts AS (
          SELECT DISTINCT source, unnest($tokSql) AS w FROM documents),
        sizes AS (SELECT source, count(*) AS vsz FROM posts GROUP BY source),
        inter AS (
          SELECT a.source AS src_a, b.source AS src_b, count(*) AS n_common
          FROM posts a JOIN posts b
            ON a.w = b.w AND a.source < b.source
          GROUP BY 1, 2)
        SELECT i.src_a, i.src_b, i.n_common,
               CAST((i.n_common * 10000)
                 // (sa.vsz + sb.vsz - i.n_common) AS BIGINT) AS jac_bp
        FROM inter i
        JOIN sizes sa ON sa.source = i.src_a
        JOIN sizes sb ON sb.source = i.src_b
        WHERE (i.n_common * 10000) // (sa.vsz + sb.vsz - i.n_common) >= 2000
        ORDER BY i.src_a, i.src_b""")),

    // t48: INCREMENTAL DEDUP-INDEX MAINTENANCE — the ingest-time
    // composition the batch queries can't show: the LSH band index
    // lives as a SNAPSHOT-VERSIONED table (Scale.writeSnapshot), each
    // arriving batch dedups against the committed index
    // (TextOps.dedupAgainstIndex: left-semi band probe, bucket-capped),
    // and the survivors' bands commit as the next snapshot — so
    // history is never re-banded, readers keep snapshot isolation
    // while a batch lands, and a crashed commit is invisible (pointer
    // protocol). Batch 1 = even doc_ids, batch 2 = odd; the result
    // audits the decision AND both index versions (row counts + id
    // sums). The oracle replays both batches in ONE statement over raw
    // documents — if the snapshot plumbing dropped, duplicated, or
    // time-traveled a single band row, a signature diverges.
    Q("t48_incremental_dedup_index",
      (s, d) => {
        val cap = 1000
        def bandsOf(docs: org.apache.spark.sql.DataFrame) =
          fusedBands(docs)
            .select(col("doc_id"), explode(map(
              lit(0), col("band0"), lit(1), col("band1"))).as(Seq("band_idx", "band_val")))
            .filter(col("band_val").isNotNull)
        val all = Tables.documents(s, d)
        val batch1 = all.filter(col("doc_id") % 2 === 0)
        val batch2 = all.filter(col("doc_id") % 2 === 1)
        val idxPath = java.nio.file.Files.createTempDirectory(
          PipelineQueries.checkpointParent, "dedup_idx_").toString + "/idx"
        graft.operators.Scale.writeSnapshot(s, idxPath, bandsOf(batch1))
        val v0 = graft.operators.Scale.readSnapshot(s, idxPath, Some(0L))
        val kept2 = TextOps.dedupAgainstIndex(batch2, bandsOf(batch2), v0, cap)
        graft.operators.Scale.writeSnapshot(s, idxPath,
          v0.unionByName(bandsOf(kept2)))
        val v1 = graft.operators.Scale.readSnapshot(s, idxPath)
        def docRow(tag: String, df: org.apache.spark.sql.DataFrame) =
          df.agg(count(lit(1)).as("n_rows"),
              coalesce(sum(col("doc_id")), lit(0L)).as("sig"))
            .select(lit(tag).as("part"), col("n_rows"), col("sig"))
        docRow("batch2_kept", kept2)
          .union(docRow("batch2_dropped",
            batch2.join(kept2.select("doc_id"), Seq("doc_id"), "left_anti")))
          .union(docRow("index_v0", v0))
          .union(docRow("index_v1", v1))
          .orderBy("part")
      },
      Some(s"""
        WITH b1 AS (SELECT * FROM documents WHERE doc_id % 2 = 0),
        b2 AS (SELECT * FROM documents WHERE doc_id % 2 = 1),
        sig1 AS (
          SELECT doc_id,
                 ${minhashSql(0, shingleSql)} || '|' || ${minhashSql(1, shingleSql)} AS band0,
                 ${minhashSql(2, shingleSql)} || '|' || ${minhashSql(3, shingleSql)} AS band1
          FROM b1),
        idx0 AS (
          SELECT doc_id, band_idx, band_val FROM (
            SELECT doc_id, 0 AS band_idx, band0 AS band_val FROM sig1
            UNION ALL SELECT doc_id, 1, band1 FROM sig1)
          WHERE band_val IS NOT NULL),
        sig2 AS (
          SELECT doc_id,
                 ${minhashSql(0, shingleSql)} || '|' || ${minhashSql(1, shingleSql)} AS band0,
                 ${minhashSql(2, shingleSql)} || '|' || ${minhashSql(3, shingleSql)} AS band1
          FROM b2),
        b2bands AS (
          SELECT doc_id, band_idx, band_val FROM (
            SELECT doc_id, 0 AS band_idx, band0 AS band_val FROM sig2
            UNION ALL SELECT doc_id, 1, band1 FROM sig2)
          WHERE band_val IS NOT NULL),
        bcnt AS (
          SELECT band_idx, band_val, count(*) AS c FROM idx0 GROUP BY 1, 2),
        okidx AS (
          SELECT i.* FROM idx0 i JOIN bcnt USING (band_idx, band_val)
          WHERE c <= 1000),
        matched AS (
          SELECT DISTINCT nb.doc_id FROM b2bands nb
          JOIN okidx i USING (band_idx, band_val)),
        kept2 AS (
          SELECT * FROM b2
          WHERE doc_id NOT IN (SELECT doc_id FROM matched)),
        kept2bands AS (
          SELECT nb.* FROM b2bands nb
          WHERE nb.doc_id IN (SELECT doc_id FROM kept2)),
        idx1 AS (
          SELECT * FROM idx0 UNION ALL SELECT * FROM kept2bands)
        SELECT part, n_rows, sig FROM (
          SELECT 'batch2_kept' AS part, count(*) AS n_rows,
                 CAST(coalesce(sum(doc_id), 0) AS BIGINT) AS sig FROM kept2
          UNION ALL
          SELECT 'batch2_dropped', count(*),
                 CAST(coalesce(sum(doc_id), 0) AS BIGINT)
          FROM b2 WHERE doc_id NOT IN (SELECT doc_id FROM kept2)
          UNION ALL
          SELECT 'index_v0', count(*),
                 CAST(coalesce(sum(doc_id), 0) AS BIGINT) FROM idx0
          UNION ALL
          SELECT 'index_v1', count(*),
                 CAST(coalesce(sum(doc_id), 0) AS BIGINT) FROM idx1)
        ORDER BY part""")),

    // t61: DEDUP INDEX AS A MATERIALIZED VIEW OF A CHANGE FEED — t48
    // maintains the band index across batch APPENDS; t61 closes the
    // loop with r90's churn: the corpus lives as a CDF-committed
    // snapshot table whose doc_id%8=0 slice is inserted → text-updated
    // → deleted → re-inserted (fresh ' v3' text) across four commits,
    // plus a permanently-deleted insert class — and the LSH band index
    // is maintained purely from readChangesBetween: remove every
    // touched key's band rows, add back bands of each key's FINAL
    // alive version (last change per key, commit order). The full
    // corpus text is scanned exactly once (the v0 bootstrap); every
    // refresh after that is O(changed rows). The gate emits the
    // maintained index itself and the oracle recomputes the index of
    // the reconstructed v3 contents from scratch, so a leaked stale
    // band (the ' upd' text that exists only inside the feed), a
    // missed delete, or a dropped re-insert all break the hash.
    Q("t61_cdf_dedup_index_maintenance",
      (s, d) => {
        def bandsOf(docs: org.apache.spark.sql.DataFrame) =
          fusedBands(docs)
            .select(col("doc_id"), explode(map(
              lit(0), col("band0"), lit(1), col("band1"))).as(Seq("band_idx", "band_val")))
            .filter(col("band_val").isNotNull)
        val p = cdfTextDocs(s, d)
        // bootstrap: the ONLY full-corpus band computation
        val idx0 = bandsOf(graft.operators.Scale.readSnapshot(s, p, Some(0L)))
        // refresh purely from the feed — O(changed rows)
        val feed = graft.operators.Scale.readChangesBetween(s, p, 0L, 3L)
        val touched = feed.select("doc_id").distinct()
        val aliveChanged = graft.operators.Scale.cdfLatestChanges(feed, "doc_id")
          .filter(col("_change_type") =!= "delete")
          .select("doc_id", "text")
        idx0.join(touched, Seq("doc_id"), "left_anti")
          .unionByName(bandsOf(aliveChanged))
          .orderBy("doc_id", "band_idx")
      },
      Some(s"""
        WITH v3 AS (
          SELECT doc_id, text FROM documents
          WHERE doc_id % 4 = 0 AND doc_id % 8 <> 0
          UNION ALL
          SELECT doc_id, text FROM documents
          WHERE doc_id % 4 = 1 AND doc_id % 3 <> 0
          UNION ALL
          SELECT doc_id, text || ' v3' FROM documents WHERE doc_id % 8 = 0),
        sig AS (
          SELECT doc_id,
                 ${minhashSql(0, shingleSql)} || '|' || ${minhashSql(1, shingleSql)} AS band0,
                 ${minhashSql(2, shingleSql)} || '|' || ${minhashSql(3, shingleSql)} AS band1
          FROM v3)
        SELECT doc_id, band_idx, band_val FROM (
          SELECT doc_id, 0 AS band_idx, band0 AS band_val FROM sig
          UNION ALL SELECT doc_id, 1, band1 FROM sig)
        WHERE band_val IS NOT NULL
        ORDER BY doc_id, band_idx""")),

    // t50: WITHIN-DOCUMENT REPETITION FILTERS — the Gopher repetition
    // signals (Rae et al.) that t13's surface stats don't cover: a doc
    // can pass length/symbol ratios and still be degenerate repetition.
    // Three exact integer signals per doc: (1) max_run — the longest
    // run of identical consecutive tokens, computed by gaps-and-
    // islands (run id = pos − row_number within (doc, token)) instead
    // of a sequential fold, so both engines express it with the same
    // two window functions; (2) top-bigram CHARACTER coverage — chars
    // claimed by the most frequent adjacent pair (count × pair length)
    // over the doc's total chars, in e6 fixed point; (3) duplicate-
    // token fraction — 1 − distinct/total. Docs with < 2 tokens are
    // out of scope (no pair, no run). Scale: one explode keyed by
    // doc_id; every window/aggregate clusters on doc_id (+run keys),
    // one fact-sized hash exchange total.
    Q("t50_repetition_filters",
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window
        val toks = Tables.documents(s, d)
          .select(col("doc_id"), length(col("text")).cast("long").as("n_chars_t"),
            TextOps.tokens(col("text")).as("t"))
          .filter(size(col("t")) >= 2)
        val ex = toks.select(col("doc_id"), col("n_chars_t"),
          posexplode(col("t")).as(Seq("pos", "tok")))
        // (1) max run of identical consecutive tokens
        val runs = ex
          .withColumn("grp", col("pos") - row_number().over(
            w.partitionBy("doc_id", "tok").orderBy("pos")))
          .groupBy("doc_id", "tok", "grp").agg(count(lit(1)).as("runlen"))
          .groupBy("doc_id").agg(max(col("runlen")).as("max_run"))
        // (2) most frequent adjacent pair + its char coverage
        val pairs = toks.select(col("doc_id"), col("n_chars_t"),
            explode(TextOps.wordNgrams(col("t"), 2)).as("pair"))
          .groupBy("doc_id", "n_chars_t", "pair").agg(count(lit(1)).as("cnt"))
        val wp = w.partitionBy("doc_id").orderBy(col("cnt").desc, col("pair").asc)
        val topPair = pairs.withColumn("rnk", row_number().over(wp))
          .filter(col("rnk") === 1)
          .select(col("doc_id"), col("pair").as("top_bigram"),
            floor(col("cnt") * length(col("pair")).cast("long") * lit(1000000.0)
              / col("n_chars_t")).cast("long").as("bigram_cov_e6"))
        // (3) duplicate-token fraction
        val dup = ex.groupBy("doc_id")
          .agg(count(lit(1)).as("n_tok"), countDistinct(col("tok")).as("n_dist"))
          .select(col("doc_id"),
            floor((col("n_tok") - col("n_dist")) * lit(1000000.0) / col("n_tok"))
              .cast("long").as("dup_tok_e6"))
        runs.join(topPair, "doc_id").join(dup, "doc_id")
          .select("doc_id", "max_run", "top_bigram", "bigram_cov_e6", "dup_tok_e6")
          .orderBy("doc_id")
      },
      Some(s"""
        WITH base AS (
          SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars_t,
                 $tokSql AS t
          FROM documents),
        docs AS (SELECT * FROM base WHERE len(t) >= 2),
        ex AS (
          SELECT doc_id, n_chars_t, pos, t[pos + 1] AS tok
          FROM (SELECT doc_id, n_chars_t, t, unnest(range(0, len(t))) AS pos FROM docs)),
        runs AS (
          SELECT doc_id, max(runlen) AS max_run FROM (
            SELECT doc_id, tok, grp, count(*) AS runlen FROM (
              SELECT doc_id, tok,
                     pos - row_number() OVER (PARTITION BY doc_id, tok ORDER BY pos) AS grp
              FROM ex)
            GROUP BY doc_id, tok, grp)
          GROUP BY doc_id),
        prs AS (
          SELECT doc_id, n_chars_t, pair, count(*) AS cnt FROM (
            SELECT doc_id, n_chars_t,
                   unnest(list_transform(range(len(t) - 1),
                     i -> array_to_string(list_slice(t, i + 1, i + 2), ' '))) AS pair
            FROM docs)
          GROUP BY doc_id, n_chars_t, pair),
        tp AS (
          SELECT doc_id, pair AS top_bigram,
                 CAST(floor(cnt * length(pair) * 1000000.0 / n_chars_t) AS BIGINT)
                   AS bigram_cov_e6
          FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
                  ORDER BY cnt DESC, pair ASC) AS rnk FROM prs)
          WHERE rnk = 1),
        dup AS (
          SELECT doc_id,
                 CAST(floor((count(*) - count(DISTINCT tok)) * 1000000.0
                   / count(*)) AS BIGINT) AS dup_tok_e6
          FROM ex GROUP BY doc_id)
        SELECT runs.doc_id, CAST(max_run AS BIGINT) AS max_run, top_bigram,
               bigram_cov_e6, dup_tok_e6
        FROM runs JOIN tp ON runs.doc_id = tp.doc_id
        JOIN dup ON runs.doc_id = dup.doc_id
        ORDER BY runs.doc_id""")),

    // t49: BPE TOKENIZER TRAINING, the real iterative loop (t40 counts
    // round 1's candidates; t49 RUNS three rounds): distinct-word
    // frequency table → per round, frequency-weighted adjacent-pair
    // counts, argmax merge under (count desc, a, b), and an EXACT
    // greedy left-to-right merge application expressed with per-word
    // window functions (consecutive-match runs alternate — see
    // TextOps.bpeTrain; the "aaaa"/(a,a) → [aa,aa] case is spec-
    // pinned). The oracle replays the ENTIRE training trajectory —
    // each round's argmax included, as scalar subqueries — so a
    // divergence in any round's pair statistics, tie-break, or merge
    // application breaks a later round's output. Emitted: the three
    // learned merges with their weighted counts, plus the top-10
    // tokens of the final segmentation by weighted frequency. Scale:
    // every round is VOCAB-sized (the standard BPE formulation), one
    // word-keyed window partition per round, localCheckpointed between
    // rounds; corpus size only enters through the one word-count scan.
    Q("t49_bpe_train",
      (s, d) => {
        import s.implicits._
        val vocab = Tables.documents(s, d)
          .select(explode(split(col("text"), " ")).as("w"))
          .filter(col("w").rlike("^[a-z]{2,}$"))
          .groupBy("w").agg(count(lit(1)).as("wcnt"))
        val (merges, segs) = TextOps.bpeTrain(vocab, rounds = 3)
        val mergeRows = merges.zipWithIndex
          .map { case ((a, b, c), i) => (s"merge_${i + 1}", s"$a>$b", c) }
          .toDF("part", "item", "cnt")
        val topTok = segs
          .select(col("wcnt"), explode(col("toks")).as("item"))
          .groupBy("item").agg(sum(col("wcnt")).as("cnt"))
          .orderBy(col("cnt").desc, col("item")).limit(10)
          .select(lit("token").as("part"), col("item"), col("cnt"))
        mergeRows.unionByName(topTok).orderBy("part", "item")
      },
      Some(bpeTrainSql)),

    // t53: BPE ENCODE AT CORPUS SCALE — the apply half of the t49
    // tokenizer: the trained 3-round segmentation of each DISTINCT
    // vocabulary word is broadcast-joined back onto the corpus's word
    // stream, giving per-document token counts under the trained
    // merges (the fertility/compression signal a data pipeline uses
    // to budget sequence packing and price corpora in tokens). This
    // is the production encode shape: the expensive iterative merge
    // loop runs once over the VOCABULARY (distinct words — Zipf makes
    // this orders of magnitude smaller than the corpus), and the
    // corpus-sized pass is a single stateless broadcast hash join +
    // partial-aggregated groupBy(doc_id) — no window, no shuffle of
    // text, O(corpus) map-side work however large the corpus grows.
    // The oracle replays training (t49's exact CTE chain) AND the
    // encode join, so a drift in any round's merges breaks the
    // per-doc token totals downstream.
    Q("t53_bpe_encode",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val vocab = docs
          .select(explode(split(col("text"), " ")).as("w"))
          .filter(col("w").rlike("^[a-z]{2,}$"))
          .groupBy("w").agg(count(lit(1)).as("wcnt"))
        val (_, segs) = TextOps.bpeTrain(vocab, rounds = 3)
        val tokLen = segs.select(col("w"), size(col("toks")).cast("long").as("ntok"))
        docs.select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
          .filter(col("w").rlike("^[a-z]{2,}$"))
          .join(broadcast(tokLen), "w")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_words"),
            sum(col("ntok")).as("n_tokens"),
            sum(length(col("w")).cast("long")).as("n_bytes"))
          .orderBy("doc_id")
      },
      Some(bpeEncodeSql)),

    // t54: MULTI-CLASS TRIGRAM LANGUAGE-ID — the real langid discipline
    // (t10's binary stopword heuristic only says en/unk): per-language
    // character-trigram profiles are TRAINED on a deterministic 30%
    // split (doc_id % 10 < 3 — top 50 trigrams per language by
    // frequency, ties by trigram), held-out docs are classified by
    // profile-set overlap (argmax hits, ties by language; zero hits →
    // 'unk'), and the gate output is the full confusion matrix — so a
    // drifted profile, a lost doc, or a tie broken differently all
    // break the hash. (On THIS corpus the matrix is honestly
    // near-uniform: the generator draws every language's text from one
    // shared word pool, so the labels carry no trigram signal — the
    // gate pins the trained-profile MECHANISM bit-for-bit, not a
    // vacuous accuracy claim.) Scale: the trigram explosion is one linear pass
    // (materialized lower() column, attribute-referencing lambda — the
    // withShingles rule); the profile COUNTS frame is trigram-vocabulary
    // -bounded (charset³), independent of corpus row count, and the
    // top-50 window runs over that reduced frame; the trained profile
    // (5 langs × 50) broadcasts, so classification filters the raw
    // trigram stream BEFORE any doc-keyed shuffle — the distinct and
    // the (doc, lang) rollup see only profile-matched rows. No
    // corpus-sized shuffle anywhere.
    Q("t54_trigram_langid",
      (s, d) => {
        val docs = Tables.documents(s, d).select("doc_id", "lang", "text")
        val top = TextOps.trigramProfiles(
          docs.filter(col("doc_id") % 10 < 3), "text", "lang", topN = 50)
        TextOps.classifyByProfiles(
            docs.filter(col("doc_id") % 10 >= 3), "doc_id", "text", top)
          .groupBy(col("lang").as("true_lang"), col("pred_lang"))
          .agg(count(lit(1)).as("n_docs"))
          .orderBy("true_lang", "pred_lang")
      },
      Some("""
        WITH d AS (SELECT doc_id, lang, lower(text) AS lt FROM documents),
        tr AS (
          SELECT doc_id, lang,
                 unnest(list_transform(range(1, length(lt) - 1),
                   i -> substr(lt, i, 3))) AS tri
          FROM d WHERE length(lt) >= 3),
        prof AS (
          SELECT lang AS plang, tri, count(*) AS cnt
          FROM tr WHERE doc_id % 10 < 3 GROUP BY 1, 2),
        top AS (
          SELECT plang, tri FROM (
            SELECT plang, tri, row_number() OVER (PARTITION BY plang
                     ORDER BY cnt DESC, tri ASC) AS rn FROM prof)
          WHERE rn <= 50),
        dt AS (
          SELECT DISTINCT t.doc_id, p.plang, t.tri
          FROM tr t JOIN top p ON t.tri = p.tri
          WHERE t.doc_id % 10 >= 3),
        hits AS (
          SELECT doc_id, plang, count(*) AS hits FROM dt GROUP BY 1, 2),
        pred AS (
          SELECT doc_id, plang AS p FROM (
            SELECT doc_id, plang, row_number() OVER (PARTITION BY doc_id
                     ORDER BY hits DESC, plang ASC) AS rn FROM hits)
          WHERE rn = 1)
        SELECT d.lang AS true_lang, coalesce(p.p, 'unk') AS pred_lang,
               count(*) AS n_docs
        FROM d LEFT JOIN pred p ON d.doc_id = p.doc_id
        WHERE d.doc_id % 10 >= 3
        GROUP BY 1, 2 ORDER BY 1, 2""")),

    // t55: HASHED-NGRAM DOMAIN-AFFINITY RESAMPLING (the DSIR shape,
    // Xie et al. 2023, with the log-ratio importance weight replaced by
    // an integer affinity share so the whole law replays in any
    // engine): token occurrences hash into 1024 buckets; the TARGET
    // domain (source src0, the stand-in for "high-quality reference
    // corpus") and the rest each contribute per-bucket occurrence
    // counts in ONE conditional-sum pass; every non-target doc then
    // scores affinity_bp = 10000·Σtc[b] / Σ(tc[b]+sc[b]) over its own
    // token stream, and the resample keeps the top 100 by (affinity
    // desc, doc_id) — the deterministic skeleton of importance-weighted
    // domain selection. Scale: the bucket-counts frame is B-bounded
    // (1024 rows, broadcast); both corpus passes are linear explodes
    // with partial-agg reduction; the top-k is a TakeOrdered, never a
    // global sort.
    Q("t55_domain_affinity",
      (s, d) => {
        val toks = TextOps.fanOut(Tables.documents(s, d), col("doc_id"))
          .select(col("doc_id"), col("source"),
            explode(TextOps.tokens(col("text"))).as("tok"))
          .withColumn("b", pmod(conv(substring(md5(concat(lit("aff"),
            col("tok"))), 1, 8), 16, 10).cast("long"), lit(1024L)))
        val counts = toks.groupBy("b").agg(
          sum(when(col("source") === "src0", 1L).otherwise(0L)).as("tc"),
          sum(when(col("source") =!= "src0", 1L).otherwise(0L)).as("sc"))
        val scored = toks.filter(col("source") =!= "src0")
          .join(broadcast(counts), "b")
          .groupBy("doc_id")
          .agg(sum(col("tc")).as("t_mass"), sum(col("tc") + col("sc")).as("all_mass"))
          .filter(col("all_mass") > 0)
          .withColumn("affinity_bp", expr("(t_mass * 10000) div all_mass"))
        scored.orderBy(col("affinity_bp").desc, col("doc_id").asc).limit(100)
          .select("doc_id", "affinity_bp", "t_mass", "all_mass")
      },
      Some("""
        WITH toks AS (
          SELECT doc_id, source, unnest(list_filter(string_split(text, ' '),
            x -> x != '')) AS tok
          FROM documents),
        hb AS (
          SELECT doc_id, source,
                 ('0x' || substr(md5('aff' || tok), 1, 8))::BIGINT % 1024 AS b
          FROM toks),
        counts AS (
          SELECT b, sum(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS tc,
                 sum(CASE WHEN source != 'src0' THEN 1 ELSE 0 END) AS sc
          FROM hb GROUP BY b),
        scored AS (
          SELECT h.doc_id, CAST(sum(c.tc) AS BIGINT) AS t_mass,
                 CAST(sum(c.tc + c.sc) AS BIGINT) AS all_mass
          FROM hb h JOIN counts c ON h.b = c.b
          WHERE h.source != 'src0'
          GROUP BY h.doc_id HAVING sum(c.tc + c.sc) > 0)
        SELECT doc_id, CAST(t_mass * 10000 // all_mass AS BIGINT) AS affinity_bp,
               t_mass, all_mass
        FROM scored
        ORDER BY affinity_bp DESC, doc_id ASC LIMIT 100""")),

    // t56: MODEL-BASED QUALITY FILTER — a TRAINED classifier in the
    // DCLM/FineWeb slot (every other quality op here — t10/t13/t21/
    // t26/t50 — is a fixed heuristic): an integer-exact batch
    // PERCEPTRON over hashed token-bucket features (B=512 + a bias
    // pseudo-bucket) DISTILLS the t10-style quality heuristic into a
    // model — the weak-supervision shape of the production pipelines:
    // label hi-quality iff stopword density clears 80‰ (all-integer:
    // 1000·hits ≥ 80·tokens; zero-token docs are lo). Trained 3 epochs
    // on a 30% md5-law split (NOT doc_id%k — this corpus derives
    // columns from doc_id mods), scored on the holdout; the gate
    // output is the full confusion matrix PLUS the integer margin mass
    // per cell, so a drifted weight, a missed epoch, a tie broken
    // differently (y·m=0 counts misclassified), or a lost holdout doc
    // all break the hash. The oracle replays training: 3 epochs
    // unrolled as a CTE chain (w1→m2/d2→w2→m3/d3→w3), exactly the t49
    // BPE-round discipline — and the learned model genuinely works
    // (both predicted classes populated; stopword buckets carry the
    // weight). Scale: per epoch one broadcast join against the
    // B-bounded weight frame + doc-keyed partial-agg rollups; the
    // design matrix is localCheckpointed for the epoch loop (the
    // MLlib cache-the-training-set shape — at 100 TB this is a
    // DISK_ONLY persist or a staging parquet, same structure); weights
    // never leave the cluster — the driver holds nothing beyond the
    // plan.
    Q("t56_quality_classifier",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val feats = TextOps.fanOut(docs, col("doc_id"))
          .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("tok"))
          .select(col("doc_id"), pmod(conv(substring(md5(concat(lit("qf"),
            col("tok"))), 1, 8), 16, 10).cast("long"), lit(512L)).as("b"))
          .unionByName(docs.select(col("doc_id"), lit(-1L).as("b")))
          .groupBy("doc_id", "b").agg(count(lit(1)).as("x"))
          .localCheckpoint()
        val sw = TextOps.enStopwords
        val labels = docs
          .select(col("doc_id"), TextOps.tokens(col("text")).as("t"))
          .select(col("doc_id"),
            when(size(col("t")) > 0 &&
                lit(1000) * size(filter(col("t"), x => lower(x).isin(sw: _*)))
                  >= lit(80) * size(col("t")), 1L)
              .otherwise(-1L).as("y"))
        def isTrain = TextOps.deterministicSample(col("doc_id"), 300, "qfsplit")
        val w = TextOps.perceptronTrain(
          feats, labels.filter(isTrain), "doc_id", epochs = 3)
        val holdout = labels.filter(!isTrain)
        TextOps.perceptronScore(
            feats.join(holdout.select("doc_id"), "doc_id"), w, "doc_id")
          .join(holdout, "doc_id")
          .withColumn("pred", when(col("m") > 0, 1L).otherwise(-1L))
          .groupBy(col("y").as("true_y"), col("pred"))
          .agg(count(lit(1)).as("n_docs"), sum(col("m")).as("margin_mass"))
          .orderBy("true_y", "pred")
      },
      Some(s"""
        WITH toks AS (
          SELECT doc_id, ('0x' || substr(md5('qf' || tok), 1, 8))::BIGINT % 512 AS b
          FROM (SELECT doc_id, unnest($tokSql) AS tok FROM documents)
          UNION ALL SELECT doc_id, -1 AS b FROM documents),
        feat AS (SELECT doc_id, b, CAST(count(*) AS BIGINT) AS x
                 FROM toks GROUP BY 1, 2),
        lab AS (SELECT doc_id,
                       CAST(CASE WHEN len(tl) > 0 AND
                         1000 * len(list_filter(tl, x -> lower(x) IN
                           ('the','a','an','of','and','to','in','is','are','for',
                            'on','with','as','at','by','it','this','that','was','be')))
                           >= 80 * len(tl)
                         THEN 1 ELSE -1 END AS BIGINT) AS y,
                       ('0x' || substr(md5('qfsplit' || CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT
                         * 1000 < 300 * 65536 AS tr
                FROM (SELECT doc_id, $tokSql AS tl FROM documents)),
        t AS (SELECT f.doc_id, f.b, f.x, l.y
              FROM feat f JOIN lab l ON f.doc_id = l.doc_id WHERE l.tr),
        w1 AS (SELECT b, CAST(sum(y * x) AS BIGINT) AS w FROM t GROUP BY b),
        m2 AS (SELECT t.doc_id, t.y, CAST(sum(t.x * coalesce(w1.w, 0)) AS BIGINT) AS m
               FROM t LEFT JOIN w1 ON t.b = w1.b GROUP BY 1, 2),
        d2 AS (SELECT t.b, CAST(sum(t.y * t.x) AS BIGINT) AS w
               FROM t JOIN m2 ON t.doc_id = m2.doc_id
               WHERE m2.y * m2.m <= 0 GROUP BY t.b),
        w2 AS (SELECT b, CAST(sum(w) AS BIGINT) AS w FROM
               (SELECT b, w FROM w1 UNION ALL SELECT b, w FROM d2) GROUP BY b),
        m3 AS (SELECT t.doc_id, t.y, CAST(sum(t.x * coalesce(w2.w, 0)) AS BIGINT) AS m
               FROM t LEFT JOIN w2 ON t.b = w2.b GROUP BY 1, 2),
        d3 AS (SELECT t.b, CAST(sum(t.y * t.x) AS BIGINT) AS w
               FROM t JOIN m3 ON t.doc_id = m3.doc_id
               WHERE m3.y * m3.m <= 0 GROUP BY t.b),
        w3 AS (SELECT b, CAST(sum(w) AS BIGINT) AS w FROM
               (SELECT b, w FROM w2 UNION ALL SELECT b, w FROM d3) GROUP BY b),
        ho AS (SELECT f.doc_id, f.b, f.x, l.y
               FROM feat f JOIN lab l ON f.doc_id = l.doc_id WHERE NOT l.tr),
        sm AS (SELECT h.doc_id, h.y, CAST(sum(h.x * coalesce(w3.w, 0)) AS BIGINT) AS m
               FROM ho h LEFT JOIN w3 ON h.b = w3.b GROUP BY 1, 2)
        SELECT y AS true_y,
               CAST(CASE WHEN m > 0 THEN 1 ELSE -1 END AS BIGINT) AS pred,
               count(*) AS n_docs, CAST(sum(m) AS BIGINT) AS margin_mass
        FROM sm GROUP BY 1, 2 ORDER BY 1, 2"""))
  )

  /** t49's oracle: the full three-round BPE loop as CTEs. Each round's
    * CTE chain mirrors [[TextOps.bpeTrain]] operation for operation —
    * weighted pair counts, the argmax as a LIMIT-1 CTE consumed by
    * scalar subqueries, the run-alternating greedy merge via the same
    * window expressions (0-based positions match posexplode).
    */
  private def bpeTrainSql: String =
    s"""
        WITH $bpeCtes,
        toptok AS (
          SELECT item, cnt FROM (
            SELECT t AS item, CAST(sum(wcnt) AS BIGINT) AS cnt FROM (
              SELECT wcnt, unnest(toks) AS t FROM segs3)
            GROUP BY t)
          ORDER BY cnt DESC, item LIMIT 10)
        SELECT part, item, cnt FROM (
          SELECT 'merge_1' AS part, a || '>' || b AS item, cnt FROM top1
          UNION ALL SELECT 'merge_2', a || '>' || b, cnt FROM top2
          UNION ALL SELECT 'merge_3', a || '>' || b, cnt FROM top3
          UNION ALL SELECT 'token', item, cnt FROM toptok)
        ORDER BY part, item"""

  /** t53's oracle: the SAME training chain (so the trained merges are
    * re-derived, not trusted), then the encode join — per-word final
    * token counts from segs3 joined back onto the per-document word
    * stream, aggregated to per-doc word/token/byte totals.
    */
  private def bpeEncodeSql: String =
    s"""
        WITH $bpeCtes,
        tl AS (SELECT w, CAST(len(toks) AS BIGINT) AS ntok FROM segs3),
        fw AS (
          SELECT doc_id, w FROM (
            SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
          WHERE regexp_matches(w, '^[a-z]{2,}$$'))
        SELECT doc_id, count(*) AS n_words,
               CAST(sum(tl.ntok) AS BIGINT) AS n_tokens,
               CAST(sum(length(fw.w)) AS BIGINT) AS n_bytes
        FROM fw JOIN tl ON fw.w = tl.w
        GROUP BY doc_id ORDER BY doc_id"""

  /** The shared 3-round BPE training trajectory as a WITH-body prefix
    * (vocab → segs0 → per-round pair-count/argmax/greedy-merge chain →
    * segs3), mirroring [[TextOps.bpeTrain]] operation for operation —
    * weighted pair counts, the argmax as a LIMIT-1 CTE consumed by
    * scalar subqueries, the run-alternating greedy merge via the same
    * window expressions (0-based positions match posexplode). Used by
    * both t49 (training trajectory output) and t53 (corpus encode).
    */
  private def bpeCtes: String = {
    def round(r: Int): String = {
      val prev = if (r == 1) "segs0" else s"segs${r - 1}"
      s"""
        pc$r AS (
          SELECT toks[i] AS a, toks[i + 1] AS b, CAST(sum(wcnt) AS BIGINT) AS cnt
          FROM (SELECT w, wcnt, toks, unnest(range(1, len(toks))) AS i FROM $prev)
          GROUP BY 1, 2),
        top$r AS (SELECT a, b, cnt FROM pc$r ORDER BY cnt DESC, a, b LIMIT 1),
        ex$r AS (
          SELECT w, wcnt, pos, toks[pos + 1] AS t,
                 lead(toks[pos + 1]) OVER (PARTITION BY w ORDER BY pos) AS nxt
          FROM (SELECT w, wcnt, toks, unnest(range(0, len(toks))) AS pos FROM $prev)),
        mm$r AS (
          SELECT *, (t = (SELECT a FROM top$r) AND nxt = (SELECT b FROM top$r)) AS m
          FROM ex$r),
        gg$r AS (
          SELECT *, CASE WHEN m THEN pos - sum(CASE WHEN m THEN 1 ELSE 0 END)
                   OVER (PARTITION BY w ORDER BY pos
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) END AS grp
          FROM mm$r),
        ss$r AS (
          SELECT *, (m AND (pos - min(pos) OVER (PARTITION BY w, grp)) % 2 = 0) AS sel
          FROM gg$r),
        kk$r AS (
          SELECT *, coalesce(lag(sel) OVER (PARTITION BY w ORDER BY pos), false) AS dropnext
          FROM ss$r),
        segs$r AS (
          SELECT w, wcnt,
                 list(CASE WHEN sel THEN t || nxt ELSE t END ORDER BY pos) AS toks
          FROM kk$r WHERE NOT dropnext GROUP BY w, wcnt)"""
    }
    s"""vocab AS (
          SELECT w, CAST(count(*) AS BIGINT) AS wcnt FROM (
            SELECT unnest(string_split(text, ' ')) AS w FROM documents)
          WHERE regexp_matches(w, '^[a-z]{2,}$$')
          GROUP BY w),
        segs0 AS (
          SELECT w, wcnt, list_filter(string_split(w, ''), x -> x != '') AS toks
          FROM vocab),${(1 to 3).map(round).mkString(",")}"""
  }
}
