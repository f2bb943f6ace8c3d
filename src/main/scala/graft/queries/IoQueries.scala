package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Format round-trip ingest queries — the JSONL and ORC source/sink
  * surface, gate-pinned. Each query writes the `documents` table to a
  * scratch dir in the target format, reads it back with an EXPLICIT
  * schema (no inference job — the 100 TB rule: schema is metadata, not
  * a second scan), and aggregates per source; the oracle computes the
  * identical aggregate straight from the parquet table, so any loss in
  * the round trip — integer widths, string escaping (JSONL must escape
  * arbitrary text), encoding — breaks the hash match.
  *
  * JSONL matters because it is the lingua franca of LLM training-data
  * interchange; ORC because a complete Spark engine speaks both
  * columnar formats it ships with. Writes shard across partitions and
  * reads parallelize per file, so the round trip scales like any other
  * scan — the scratch dir here stands in for the exchange bucket a real
  * pipeline would target.
  */
object IoQueries {

  /** One shared parent for all round-trip scratch dirs, reaped by ONE
    * JVM shutdown hook (the [[PipelineQueries.checkpointParent]]
    * pattern — RAM-backed when /dev/shm is writable so the bench's
    * timed runs don't amplify ambient disk I/O).
    */
  private lazy val scratchParent: java.nio.file.Path = {
    val shm = java.nio.file.Paths.get("/dev/shm")
    val base =
      if (java.nio.file.Files.isDirectory(shm) && java.nio.file.Files.isWritable(shm)) shm
      else java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
    val root = java.nio.file.Files.createTempDirectory(base, "graft_io_root_")
    sys.addShutdownHook {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(root.toFile)
    }
    root
  }

  /** Write `df` out in `fmt` and read it back with the explicit schema —
    * the whole lossless-round-trip contract in one place. CSV states the
    * quoting contract on both sides: quoteAll + header on write,
    * multiLine on read (embedded newlines live inside quotes). Exposed
    * package-wide so IoRoundTripSpec can drive it with adversarial
    * strings (commas, quotes, newlines, unicode) the synthetic corpus
    * never contains.
    */
  private[graft] def writeRead(s: SparkSession, df: DataFrame, fmt: String): DataFrame = {
    val out = java.nio.file.Files.createTempDirectory(scratchParent, s"${fmt}_").toString
    // CSV's writer TRIMS whitespace by default (ignore*WhiteSpace default
    // true on write, false on read), and its reader maps the default
    // nullValue ("") onto quoted-empty strings — lossless needs the trim
    // off and a null sentinel that can't collide with real data, so ""
    // stays a string and NULL round-trips as \N (the classic dump marker)
    val wo = if (fmt == "csv") Map("header" -> "true", "quoteAll" -> "true",
      "ignoreLeadingWhiteSpace" -> "false", "ignoreTrailingWhiteSpace" -> "false",
      "nullValue" -> "\\N")
             else Map.empty[String, String]
    // multiLine makes a CSV file non-splittable (quoted newlines span
    // row boundaries) — parallelism becomes the FILE count, which the
    // sharded write already provides; at 100 TB you keep shards at
    // maxPartitionBytes size and lose nothing
    val ro = if (fmt == "csv") wo + ("multiLine" -> "true") else wo
    df.write.mode("overwrite").options(wo).format(fmt).save(out)
    s.read.schema(df.schema).options(ro).format(fmt).load(out)
  }

  private def roundTrip(s: SparkSession, d: String, fmt: String): DataFrame = {
    writeRead(s, Tables.documents(s, d), fmt)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        countDistinct(col("lang")).as("n_langs"),
        sum(length(col("text")).cast("long")).as("sum_text_len"))
      .orderBy("source")
  }

  private val oracleAgg = """
        SELECT source, count(*) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS sum_chars,
               CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
               CAST(sum(length(text)) AS BIGINT) AS sum_text_len
        FROM documents GROUP BY source ORDER BY source"""

  /** Hive-layout partitioned write + pruned read-back. Memoized per
    * (dir, table fingerprint) — deliberately SESSION-FREE, unlike the
    * vector-side model caches: the cached value is a path on disk, not a
    * session-bound plan, so any session may reuse the layout. The
    * partitioned COPY of the corpus is written once and the
    * gate query exercises what actually matters at 100 TB — that a
    * partition-key predicate prunes directories at PLANNING time
    * (PartitionFilters, pinned by PlanSpec) instead of scanning and
    * filtering rows. The written layout is the `partitionBy` physical
    * design every large corpus ships with (per-language/per-source
    * shards); pruning is the difference between reading 2 dirs and
    * reading all of them.
    */
  private val partitionedCopies = new LayoutCache[String]("io_partitioned_docs")

  private[graft] def partitionedDocs(s: SparkSession, d: String): String =
    partitionedCopies.computeIfAbsent(
      s"$d|${Tables.fileFingerprint(s, d, "documents")}", _ => {
        val out = java.nio.file.Files
          .createTempDirectory(scratchParent, "part_lang_").toString
        Tables.documents(s, d).write.mode("overwrite")
          .partitionBy("lang").parquet(out)
        out
      })

  /** h6's two-generation layout: the corpus split into a LEGACY batch
    * (doc_id % 4 == 0) written WITHOUT `n_chars` — the file footprint
    * of writers that predate the column — and a CURRENT batch with the
    * full schema, both parquet file sets in one directory. Memoized per
    * (dir, table fingerprint) like [[partitionedDocs]]; the split is
    * deterministic in doc_id so the oracle can re-derive which
    * generation each row landed in.
    */
  private val evolvedCopies = new LayoutCache[String]("io_evolved_docs")

  private[graft] def evolvedDocs(s: SparkSession, d: String): String =
    evolvedCopies.computeIfAbsent(
      s"$d|${Tables.fileFingerprint(s, d, "documents")}", _ => {
        val out = java.nio.file.Files
          .createTempDirectory(scratchParent, "evolved_").toString
        val docs = Tables.documents(s, d)
        docs.filter(col("doc_id") % 4 === 0)
          .select("doc_id", "text", "lang", "source")
          .write.mode("overwrite").parquet(out)
        docs.filter(col("doc_id") % 4 =!= 0)
          .select("doc_id", "text", "lang", "source", "n_chars")
          .write.mode("append").parquet(out)
        out
      })

  /** h7's merge-on-read table: the corpus as an immutable base plus two
    * appended equality-delete files — doc_ids with n_chars < 200, then
    * doc_ids with lang = 'de' (overlapping: short German docs appear in
    * both, pinning the re-delete-collapses contract). Memoized per
    * (dir, table fingerprint) like [[partitionedDocs]].
    */
  private val morCopies = new LayoutCache[String]("io_mor_docs")

  private[graft] def morDocs(s: SparkSession, d: String): String =
    morCopies.computeIfAbsent(
      s"$d|${Tables.fileFingerprint(s, d, "documents")}", _ => {
        val out = java.nio.file.Files
          .createTempDirectory(scratchParent, "mor_").toString
        val docs = Tables.documents(s, d)
        graft.operators.Scale.writeMorBase(s, out, docs)
        graft.operators.Scale.appendDeletes(s, out,
          docs.filter(col("n_chars") < 200).select("doc_id"))
        graft.operators.Scale.appendDeletes(s, out,
          docs.filter(col("lang") === "de").select("doc_id"))
        // record the delete key so the unified zero-argument read (h7)
        // can reconcile without being told the column
        graft.operators.GraftTable.buildIndex(s, out, morKey = Some("doc_id"))
        out
      })

  /** h12's UNIFIED table: every protocol the round-16 [[graft.operators.GraftTable]]
    * read path resolves WITHOUT the caller asking — a merge-on-read base
    * clustered by n_chars into 8 files, an equality-delete file
    * (doc_id % 97 = 0), and a persisted skipping index (n_chars zones +
    * doc_id blooms + the delete key). Memoized per table fingerprint
    * like [[morDocs]].
    */
  private val unifiedCopies =
    new LayoutCache[String]("io_unified_docs")

  private[graft] def unifiedDocs(s: SparkSession, d: String): String =
    unifiedCopies.computeIfAbsent(
      s"$d|${Tables.fileFingerprint(s, d, "documents")}", _ => {
        val out = java.nio.file.Files
          .createTempDirectory(scratchParent, "unified_").toString
        val docs = Tables.documents(s, d)
        graft.operators.Scale.writeMorBase(s, out, docs
          .repartitionByRange(8, col("n_chars"))
          .sortWithinPartitions("n_chars"))
        graft.operators.Scale.appendDeletes(s, out,
          docs.filter(col("doc_id") % 97 === 0).select("doc_id"))
        graft.operators.GraftTable.buildIndex(s, out,
          zoneCols = Seq("n_chars"), bloomCols = Seq("doc_id"),
          morKey = Some("doc_id"))
        out
      })

  /** r88's CHANGE-DATA-FEED table: three commits of a documents-derived
    * table through [[graft.operators.Scale.writeSnapshotCdf]] —
    * v0 = the doc_id%3=0 slice; v1 adds inserts (doc_id%3=1, lang≠'de')
    * and updates (+7 n_chars on v0's src5 rows); v2 deletes v0's German
    * rows (except the updated src5 ones) and inserts the remaining
    * doc_id%3=1 German rows. NO key is touched in two commits, so the
    * union of the recorded feeds equals the point diff v0→v2 — which is
    * exactly what the oracle computes from scratch. Memoized per table
    * fingerprint like [[morDocs]].
    */
  private val cdfCopies =
    new LayoutCache[String]("io_cdf_docs")

  private[graft] def cdfDocs(s: SparkSession, d: String): String =
    cdfCopies.computeIfAbsent(
      s"$d|${Tables.fileFingerprint(s, d, "documents")}", _ => {
        val out = java.nio.file.Files
          .createTempDirectory(scratchParent, "cdf_").toString + "/tbl"
        val docs = Tables.documents(s, d)
          .select("doc_id", "source", "lang", "n_chars")
        val v0 = docs.filter(col("doc_id") % 3 === 0)
        graft.operators.Scale.writeSnapshotCdf(s, out, v0, "doc_id")
        val v1 = v0.withColumn("n_chars",
            when(col("source") === "src5", col("n_chars") + 7)
              .otherwise(col("n_chars")))
          .unionByName(docs.filter(col("doc_id") % 3 === 1 && col("lang") =!= "de"))
        graft.operators.Scale.writeSnapshotCdf(s, out, v1, "doc_id")
        val v2 = v1.filter(!(col("doc_id") % 3 === 0 && col("lang") === "de" &&
            col("source") =!= "src5"))
          .unionByName(docs.filter(col("doc_id") % 3 === 1 && col("lang") === "de"))
        graft.operators.Scale.writeSnapshotCdf(s, out, v2, "doc_id")
        out
      })

  /** r95's SCHEMA-EVOLVING CDF table: v0/v1 commit three columns
    * (doc_id, lang, n_chars) — v1 updates the English rows (+5) and
    * inserts the %3=1 slice — then v2 ADDS a `quality` column
    * (backfilled for the %3=1 rows only, so unchanged rows stay out of
    * the feed) and deletes the German %3=1 rows. The 0..2 feed span
    * therefore crosses the evolution point: a 3-column feed unioned
    * with a 4-column one. Memoized like the others.
    */
  private val evolveCopies =
    new LayoutCache[String]("io_cdf_evolve_docs")

  private[graft] def evolveDocs(s: SparkSession, d: String): String =
    evolveCopies.computeIfAbsent(
      s"$d|${Tables.fileFingerprint(s, d, "documents")}", _ => {
        val out = java.nio.file.Files
          .createTempDirectory(scratchParent, "cdfevo_").toString + "/tbl"
        val docs = Tables.documents(s, d).select("doc_id", "lang", "n_chars")
        val v0 = docs.filter(col("doc_id") % 3 === 0)
        graft.operators.Scale.writeSnapshotCdf(s, out, v0, "doc_id")
        val v1 = v0.withColumn("n_chars",
            when(col("lang") === "en", col("n_chars") + 5)
              .otherwise(col("n_chars")))
          .unionByName(docs.filter(col("doc_id") % 3 === 1))
        graft.operators.Scale.writeSnapshotCdf(s, out, v1, "doc_id")
        val v2 = v1.filter(!(col("doc_id") % 3 === 1 && col("lang") === "de"))
          .withColumn("quality",
            when(col("doc_id") % 3 === 1, col("n_chars") % 7)
              .otherwise(lit(null).cast("long")))
        graft.operators.Scale.writeSnapshotCdf(s, out, v2, "doc_id")
        out
      })

  /** r90's KEY-CHURNING CDF table: four commits where the doc_id%8=0
    * keys go insert (v0) → update (v1, n_chars+3) → delete (v2) →
    * re-insert (v3, FRESH original-value+11 rows), alongside ordinary
    * inserts (v1 adds the %4=1 slice) and deletes (v2 drops the German
    * %4=1 rows) — the adversarial complement of [[cdfDocs]], whose
    * change sets never touch a key twice. Memoized like the others.
    */
  private val churnCopies =
    new LayoutCache[String]("io_churn_docs")

  private[graft] def churnDocs(s: SparkSession, d: String): String =
    churnCopies.computeIfAbsent(
      s"$d|${Tables.fileFingerprint(s, d, "documents")}", _ => {
        val out = java.nio.file.Files
          .createTempDirectory(scratchParent, "churn_").toString + "/tbl"
        val docs = Tables.documents(s, d)
          .select("doc_id", "source", "lang", "n_chars")
        val v0 = docs.filter(col("doc_id") % 4 === 0)
        graft.operators.Scale.writeSnapshotCdf(s, out, v0, "doc_id")
        val v1 = v0.withColumn("n_chars",
            when(col("doc_id") % 8 === 0, col("n_chars") + 3)
              .otherwise(col("n_chars")))
          .unionByName(docs.filter(col("doc_id") % 4 === 1))
        graft.operators.Scale.writeSnapshotCdf(s, out, v1, "doc_id")
        val v2 = v1.filter(col("doc_id") % 8 =!= 0 &&
          !(col("doc_id") % 4 === 1 && col("lang") === "de"))
        graft.operators.Scale.writeSnapshotCdf(s, out, v2, "doc_id")
        val v3 = v2.unionByName(docs.filter(col("doc_id") % 8 === 0)
          .withColumn("n_chars", col("n_chars") + 11))
        graft.operators.Scale.writeSnapshotCdf(s, out, v3, "doc_id")
        out
      })

  /** r96's LONG-LIVED CHURN TABLE: seven CDF commits (v0..v6) with
    * multi-hop churn — the doc_id%10=0 keys go update (v1) → delete
    * (v2) → re-insert (v3, fresh +21) → update (v6, +5); the %5=2
    * English src3 rows are TRANSIENT inside the checkpoint range (born
    * v2, dead v3) — followed by a [[graft.operators.Scale.squashFeed]]
    * checkpoint over (0..4], leaving v5/v6 as the per-commit tail. The
    * gate reads must then reconcile [checkpoint + tail] against the
    * raw 6-dir union. Memoized like the others.
    */
  private val churn6Copies =
    new LayoutCache[String]("io_churn6_docs")

  private[graft] def churn6Docs(s: SparkSession, d: String): String =
    churn6Copies.computeIfAbsent(
      s"$d|${Tables.fileFingerprint(s, d, "documents")}", _ => {
        val out = java.nio.file.Files
          .createTempDirectory(scratchParent, "churn6_").toString + "/tbl"
        val docs = Tables.documents(s, d)
          .select("doc_id", "source", "lang", "n_chars")
        def commit(df: DataFrame): DataFrame = {
          graft.operators.Scale.writeSnapshotCdf(s, out, df, "doc_id"); df
        }
        val v0 = commit(docs.filter(col("doc_id") % 5 === 0))
        val v1 = commit(v0.withColumn("n_chars",
            when(col("doc_id") % 10 === 0, col("n_chars") + 1)
              .otherwise(col("n_chars")))
          .unionByName(docs.filter(col("doc_id") % 5 === 1 && col("lang") =!= "de")))
        val v2 = commit(v1.filter(col("doc_id") % 10 =!= 0)
          .unionByName(docs.filter(col("doc_id") % 5 === 2 && col("lang") === "en")))
        val v3 = commit(v2.filter(!(col("doc_id") % 5 === 2 && col("source") === "src3"))
          .unionByName(docs.filter(col("doc_id") % 10 === 0)
            .withColumn("n_chars", col("n_chars") + 21)))
        val v4 = commit(v3.withColumn("n_chars",
          when(col("doc_id") % 5 === 1, col("n_chars") + 2)
            .otherwise(col("n_chars"))))
        val v5 = commit(v4.filter(!(col("doc_id") % 5 === 1 && col("lang") === "fr"))
          .unionByName(docs.filter(col("doc_id") % 5 === 3 && col("lang") === "de")))
        commit(v5.withColumn("n_chars",
          when(col("doc_id") % 10 === 0, col("n_chars") + 5)
            .otherwise(col("n_chars"))))
        graft.operators.Scale.squashFeed(s, out, "doc_id", 0L, 4L)
        out
      })

  /** r97's RENAMED-COLUMN CDF table: v0/v1 commit (doc_id, lang,
    * n_chars) — v1 updates the English rows (+5) — then `n_chars` is
    * RENAMED to `length_chars` ([[graft.operators.Scale.renameSnapshotColumn]],
    * metadata-only), and v2 commits UNDER THE NEW NAME (German rows +7,
    * French %3=1 rows inserted). Every version is clustered by the
    * value column and the v0 commit plants a zone index, so the gate
    * can prove pruning on the RENAMED name survives. Memoized like the
    * others.
    */
  private val renameCopies =
    new LayoutCache[String]("io_rename_docs")

  private[graft] def renameDocs(s: SparkSession, d: String): String =
    renameCopies.computeIfAbsent(
      s"$d|${Tables.fileFingerprint(s, d, "documents")}", _ => {
        val out = java.nio.file.Files
          .createTempDirectory(scratchParent, "cdfren_").toString + "/tbl"
        val docs = Tables.documents(s, d).select("doc_id", "lang", "n_chars")
        def clustered(df: DataFrame, c: String) =
          df.repartitionByRange(8, col(c)).sortWithinPartitions(c)
        val v0 = docs.filter(col("doc_id") % 3 === 0)
        graft.operators.Scale.writeSnapshotCdf(s, out, clustered(v0, "n_chars"), "doc_id")
        graft.operators.GraftTable.buildIndex(s, out, zoneCols = Seq("n_chars"))
        val v1 = v0.withColumn("n_chars",
          when(col("lang") === "en", col("n_chars") + 5).otherwise(col("n_chars")))
        graft.operators.Scale.writeSnapshotCdf(s, out, clustered(v1, "n_chars"), "doc_id")
        graft.operators.Scale.renameSnapshotColumn(s, out, "n_chars", "length_chars")
        val v2 = docs.filter(col("doc_id") % 3 === 0)
          .select(col("doc_id"), col("lang"),
            when(col("lang") === "en", col("n_chars") + 5)
              .when(col("lang") === "de", col("n_chars") + 7)
              .otherwise(col("n_chars")).as("length_chars"))
          .unionByName(docs.filter(col("doc_id") % 3 === 1 && col("lang") === "fr")
            .select(col("doc_id"), col("lang"), col("n_chars").as("length_chars")))
        graft.operators.Scale.writeSnapshotCdf(s, out,
          clustered(v2, "length_chars"), "doc_id")
        out
      })

  /** r98's MERGE-ON-READ COMMIT-HISTORY table: a base load (%2=0),
    * then four interleaved commits under the shared MoR sequence —
    * delete short docs (d=0), append the %4=1 slice (a=1), delete all
    * German rows (d=2, killing base survivors AND commit-1 appends),
    * append German %4=3 rows (a=3, which the commit-2 delete must NOT
    * reach forward to — the sequence rule). No compaction, so the
    * whole history is feed-derivable. Memoized like the others.
    */
  private val morFeedCopies =
    new LayoutCache[String]("io_mor_feed_docs")

  private[graft] def morFeedDocs(s: SparkSession, d: String): String =
    morFeedCopies.computeIfAbsent(
      s"$d|${Tables.fileFingerprint(s, d, "documents")}", _ => {
        val out = java.nio.file.Files
          .createTempDirectory(scratchParent, "morfeed_").toString + "/tbl"
        val docs = Tables.documents(s, d).select("doc_id", "lang", "n_chars")
        graft.operators.Scale.writeMorBase(s, out, docs.filter(col("doc_id") % 2 === 0))
        // record the delete key so the unified zero-argument read can
        // reconcile the derived feed without being told the column
        graft.operators.GraftTable.buildIndex(s, out, morKey = Some("doc_id"))
        graft.operators.Scale.appendDeletes(s, out,
          docs.filter(col("doc_id") % 2 === 0 && col("n_chars") < 300)
            .select("doc_id"))
        graft.operators.Scale.appendMorRows(s, out, docs.filter(col("doc_id") % 4 === 1))
        graft.operators.Scale.appendDeletes(s, out,
          docs.filter(col("lang") === "de").select("doc_id"))
        graft.operators.Scale.appendMorRows(s, out,
          docs.filter(col("doc_id") % 4 === 3 && col("lang") === "de"))
        out
      })

  /** r91's APPEND-ONLY CDF table: three commits of disjoint inserts
    * (the %3=0, %3=1, %3=2 slices), so the feed between any two
    * versions is pure inserts — the contract under which bounded
    * top-k state is mergeable. Memoized like the others.
    */
  private val cdfAppendCopies =
    new LayoutCache[String]("io_cdf_append_docs")

  private[graft] def cdfAppendDocs(s: SparkSession, d: String): String =
    cdfAppendCopies.computeIfAbsent(
      s"$d|${Tables.fileFingerprint(s, d, "documents")}", _ => {
        val out = java.nio.file.Files
          .createTempDirectory(scratchParent, "cdfapp_").toString + "/tbl"
        val docs = Tables.documents(s, d)
          .select("doc_id", "source", "lang", "n_chars")
        val v0 = docs.filter(col("doc_id") % 3 === 0)
        graft.operators.Scale.writeSnapshotCdf(s, out, v0, "doc_id")
        val v1 = v0.unionByName(docs.filter(col("doc_id") % 3 === 1))
        graft.operators.Scale.writeSnapshotCdf(s, out, v1, "doc_id")
        val v2 = v1.unionByName(docs.filter(col("doc_id") % 3 === 2))
        graft.operators.Scale.writeSnapshotCdf(s, out, v2, "doc_id")
        out
      })

  /** h19's INTROSPECTION lineage table — every commit-object kind at
    * one root (3 CDF commits, a rename, a feed checkpoint). The query
    * only READS it (history/files TVFs + time travel), so the layout
    * memoizes whole. Also h21's base: same chain shape, plus es
    * updates in v1 so the feed carries all four change types.
    */
  private val sqlHistCopies =
    new LayoutCache[String]("io_sqlhist_docs")

  private[graft] def sqlHistDocs(s: SparkSession, d: String): String =
    sqlHistCopies.computeIfAbsent(
      s"$d|${Tables.fileFingerprint(s, d, "documents")}", _ => {
        val out = java.nio.file.Files
          .createTempDirectory(scratchParent, "sqlhist_").toString + "/t"
        val docs = Tables.documents(s, d).select("doc_id", "lang", "n_chars")
        val v0 = docs.filter(col("doc_id") % 2 === 0)
        val v1 = v0.filter(col("lang") =!= "de")
        val v2 = v1.unionByName(
          docs.filter(col("doc_id") % 2 === 1 && col("lang") === "fr"))
        graft.operators.Scale.writeSnapshotCdf(s, out, v0, "doc_id")
        graft.operators.Scale.writeSnapshotCdf(s, out, v1, "doc_id")
        graft.operators.Scale.writeSnapshotCdf(s, out, v2, "doc_id")
        graft.operators.Scale.renameSnapshotColumn(s, out, "n_chars", "len")
        graft.operators.Scale.squashFeed(s, out, "doc_id", 0L, 2L)
        out
      })

  /** h21's CHANGE-FEED table: 3 CDF commits with deletes (de),
    * updates (es, +7) and inserts (odd fr), a rename, and a (0..1]
    * checkpoint — immutable once built (the query reads the changes
    * view; its DML attempt is REJECTED before any write).
    */
  private val sqlCdfCopies =
    new LayoutCache[String]("io_sqlcdf_docs")

  private[graft] def sqlCdfDocs(s: SparkSession, d: String): String =
    sqlCdfCopies.computeIfAbsent(
      s"$d|${Tables.fileFingerprint(s, d, "documents")}", _ => {
        val out = java.nio.file.Files
          .createTempDirectory(scratchParent, "sqlcdf_").toString + "/t"
        val docs = Tables.documents(s, d).select("doc_id", "lang", "n_chars")
        val v0 = docs.filter(col("doc_id") % 2 === 0)
        val v1 = v0.filter(col("lang") =!= "de")
          .withColumn("n_chars",
            when(col("lang") === "es", col("n_chars") + 7L)
              .otherwise(col("n_chars")))
        val v2 = v1.unionByName(
          docs.filter(col("doc_id") % 2 === 1 && col("lang") === "fr"))
        Seq(v0, v1, v2).foreach(
          graft.operators.Scale.writeSnapshotCdf(s, out, _, "doc_id"))
        graft.operators.Scale.renameSnapshotColumn(s, out, "n_chars", "len")
        graft.operators.Scale.squashFeed(s, out, "doc_id", 0L, 1L)
        out
      })

  /** h20's MAINTENANCE template: the snapshot chain (t: v0..v3) and
    * the merge-on-read lineage (m: base + index + two delete commits)
    * the SQL maintenance statements then MUTATE — so each run COPIES
    * this immutable template (tiny: metadata + a few snapshot files)
    * and runs VACUUM/OPTIMIZE on its own copy.
    */
  private val sqlMaintCopies =
    new LayoutCache[String]("io_sqlmaint_docs")

  private[graft] def sqlMaintDocs(s: SparkSession, d: String): String =
    sqlMaintCopies.computeIfAbsent(
      s"$d|${Tables.fileFingerprint(s, d, "documents")}", _ => {
        val root = java.nio.file.Files
          .createTempDirectory(scratchParent, "sqlmaint_").toString
        val t = s"$root/t"
        val m = s"$root/m"
        val docs = Tables.documents(s, d).select("doc_id", "lang", "n_chars")
        val v0 = docs.filter(col("doc_id") % 2 === 0)
        val v1 = v0.filter(col("lang") =!= "de")
        val v2 = v1.unionByName(
          docs.filter(col("doc_id") % 2 === 1 && col("lang") === "fr"))
        val v3 = v2.withColumn("n_chars",
          when(col("lang") === "es", col("n_chars") + 11L)
            .otherwise(col("n_chars")))
        Seq(v0, v1, v2, v3).foreach(
          graft.operators.Scale.writeSnapshotCdf(s, t, _, "doc_id"))
        graft.operators.Scale.writeMorBase(s, m, v0)
        graft.operators.GraftTable.buildIndex(s, m,
          zoneCols = Seq("n_chars"), morKey = Some("doc_id"))
        graft.operators.Scale.appendDeletes(s, m,
          v0.filter(col("lang") === "es").select("doc_id"))
        graft.operators.Scale.appendDeletes(s, m,
          v0.filter(col("lang") === "zh").select("doc_id"))
        root
      })

  /** h8's PARTITION-SPEC EVOLUTION layout: one logical table whose two
    * generations carry DIFFERENT partition specs — the legacy batch
    * (doc_id % 3 == 0) laid out `lang=` only, the current batch
    * `lang=/source=` (the Iceberg partition-evolution shape: a spec
    * change never rewrites old data; each file keeps the spec it was
    * written under). Plain parquet directory discovery requires one
    * consistent depth per root, so the two generations live under
    * sibling roots and the TABLE is their union view — exactly what a
    * manifest/catalog layer resolves a spec-evolved table to. Returns
    * (legacyRoot, currentRoot). Memoized per (dir, table fingerprint)
    * like [[partitionedDocs]].
    */
  private val specEvolvedCopies =
    new LayoutCache[(String, String)]("io_spec_evolved_docs")

  private[graft] def specEvolvedDocs(s: SparkSession, d: String): (String, String) =
    specEvolvedCopies.computeIfAbsent(
      s"$d|${Tables.fileFingerprint(s, d, "documents")}", _ => {
        val root = java.nio.file.Files
          .createTempDirectory(scratchParent, "specevo_").toString
        val docs = Tables.documents(s, d)
          .select("doc_id", "n_chars", "lang", "source")
        docs.filter(col("doc_id") % 3 === 0)
          .write.mode("overwrite").partitionBy("lang").parquet(s"$root/gen1")
        docs.filter(col("doc_id") % 3 =!= 0)
          .write.mode("overwrite").partitionBy("lang", "source").parquet(s"$root/gen2")
        (s"$root/gen1", s"$root/gen2")
      })

  /** b1's BINARY SHARD layout: one opaque .bin file per source — the
    * shape image/audio/video corpora actually arrive in (a directory of
    * blobs, no schema). Each shard is the UTF-8 bytes of that source's
    * sampled docs' text joined by \n in doc_id order (array_sort over
    * (doc_id, text) structs — a deterministic byte stream any engine
    * can re-derive). The per-source blobs are bounded (5% doc sample /
    * nSources) so the driver-side file write stays small; a real corpus
    * would land these shards straight from the object store. Memoized
    * per (dir, table fingerprint) like [[partitionedDocs]].
    */
  private val binShardCopies =
    new LayoutCache[String]("io_bin_shards")

  private[graft] def binaryShards(s: SparkSession, d: String): String =
    binShardCopies.computeIfAbsent(
      s"$d|${Tables.fileFingerprint(s, d, "documents")}", _ => {
        val root = java.nio.file.Files
          .createTempDirectory(scratchParent, "binshards_").toString
        // md5-law sample, NOT doc_id % N — source IS doc_id % nSources
        // in this corpus, so a modulus sample would collapse to one shard
        Tables.documents(s, d)
          .filter(graft.text.TextOps.deterministicSample(col("doc_id"), 50, "bin"))
          .groupBy("source")
          .agg(array_sort(collect_list(struct(col("doc_id"), col("text")))).as("a"))
          .select(col("source"),
            array_join(transform(col("a"), x => x.getField("text")), "\n").as("blob"))
          .collect()
          .foreach { r =>
            java.nio.file.Files.write(
              java.nio.file.Paths.get(root, s"${r.getString(0)}.bin"),
              r.getString(1).getBytes(java.nio.charset.StandardCharsets.UTF_8))
          }
        root
      })

  /** h9's DYNAMIC PARTITION OVERWRITE layout: yesterday's snapshot
    * (missing the doc_id % 7 == 0 rows that hadn't arrived yet) is laid
    * out hive-partitioned by lang; today's batch — the FULL corrected
    * content of the two partitions that changed (lang en/de) — lands
    * with `partitionOverwriteMode=dynamic`, Spark's INSERT OVERWRITE
    * discipline: only the partitions PRESENT in the incoming frame are
    * replaced; every other partition's files are untouched bytes (the
    * static mode would drop them — at 100 TB the difference is
    * rewriting two partitions vs rewriting the table). The spec pins
    * the untouched-files contract by mtime+size; memoized per
    * (dir, table fingerprint) like [[partitionedDocs]].
    */
  private val dynOverwriteCopies =
    new LayoutCache[String]("io_dyn_overwrite")

  private[graft] def dynOverwrittenDocs(s: SparkSession, d: String): String =
    dynOverwriteCopies.computeIfAbsent(
      s"$d|${Tables.fileFingerprint(s, d, "documents")}", _ => {
        val root = java.nio.file.Files
          .createTempDirectory(scratchParent, "dynover_").toString
        val docs = Tables.documents(s, d)
          .select("doc_id", "n_chars", "lang", "source")
        docs.filter(col("doc_id") % 7 =!= 0)
          .write.mode("overwrite").partitionBy("lang").parquet(root)
        docs.filter(col("lang").isin("en", "de"))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("lang").parquet(root)
        root
      })

  /** h4's dimension table: (lang, tier), written to parquet once per
    * table fingerprint so the fact join's build side is a real file
    * source — dynamic partition pruning needs a broadcastable scan with
    * a SELECTIVE predicate, which is exactly the production star-schema
    * shape (a LocalRelation dim would constant-fold the filter away and
    * prove nothing). `tier` is an INT compared with `=== 1`, not a
    * boolean flag: Catalyst simplifies `flag = true` to the bare
    * attribute, and PartitionPruning's `isLikelySelective` heuristic
    * does not count a bare attribute as a selective predicate — a
    * boolean-flagged dim silently loses DPP (measured: no
    * dynamicpruning filter on the fact scan). The comparison survives
    * optimization, so the rule sees a selective build side.
    */
  private val langDims = new LayoutCache[String]("io_lang_dims")

  private[graft] def langDim(s: SparkSession, d: String): DataFrame = {
    val path = langDims.computeIfAbsent(
      s"$d|${Tables.fileFingerprint(s, d, "documents")}", _ => {
        val out = java.nio.file.Files
          .createTempDirectory(scratchParent, "lang_dim_").toString
        import s.implicits._
        Seq(("en", 1), ("de", 1), ("es", 0), ("fr", 0), ("zh", 0))
          .toDF("lang", "tier")
          .coalesce(1).write.mode("overwrite").parquet(out)
        out
      })
    s.read.parquet(path)
  }

  /** h5's bucketed pair: orders and lineitem pre-projected and written
    * `bucketBy(8, orderkey).sortBy(orderkey)` as external tables (data
    * under the scratch dir, metadata in the session catalog — bucketing
    * lives in the CATALOG, which is why h5 reads via `spark.table`, not
    * a path). Memoized per (dir, fingerprint) AND re-registered when a
    * fresh session's catalog doesn't know the name.
    */
  private val bucketedPairs = new LayoutCache[(String, String)]("io_bucketed_pair")

  private[graft] def bucketedPair(s: SparkSession, d: String): (String, String) = {
    import graft.queries.{Q => QQ}
    val fp = Tables.fileFingerprint(s, d, "lineitem")
    val tag = java.lang.Integer.toHexString((d + "|" + fp).hashCode)
    val names = (s"graft_bkt_orders_$tag", s"graft_bkt_lineitem_$tag")
    def writeTables(): Unit = {
      val root = java.nio.file.Files
        .createTempDirectory(scratchParent, "bucketed_").toString
      // repartition on the bucket column first: bucket hashing and
      // repartition use the same Murmur3 HashPartitioning, so each of
      // the 8 write tasks holds exactly one bucket → ONE file per
      // bucket, which is the precondition for Spark to trust the
      // sortBy metadata and elide the join-side Sorts too
      Tables.orders(s, d).select(col("o_orderkey"), col("o_orderstatus"))
        .repartition(8, col("o_orderkey"))
        .write.mode("overwrite").format("parquet")
        .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .option("path", s"$root/orders").saveAsTable(names._1)
      Tables.lineitem(s, d)
        .select(col("l_orderkey"), QQ.cents(col("l_extendedprice")).as("price_cents"))
        .repartition(8, col("l_orderkey"))
        .write.mode("overwrite").format("parquet")
        .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .option("path", s"$root/lineitem").saveAsTable(names._2)
    }
    bucketedPairs.compute(s"$d|$fp", (_, prev) => {
      if (prev == null || !s.catalog.tableExists(prev._1) ||
          !s.catalog.tableExists(prev._2)) writeTables()
      names
    })
  }

  /** Range-CLUSTERED layout + its file zone map, the h2 companion to h1's
    * directory layout: documents written with n_chars range-clustered
    * across files (repartitionByRange + sorted within), with the per-file
    * (min, max) zone index [[graft.operators.GraftTable.buildIndex]]
    * persists inside the table in one scan at layout time. Memoized
    * SESSION-FREE like [[partitionedDocs]] — the cached value is the
    * table path; [[graft.operators.GraftTable.read]] prunes from the
    * persisted index without rescanning.
    */
  private val zonedCopies = new LayoutCache[String]("io_zoned_docs")

  /** Two-commit snapshot table for r60: version 0 is "yesterday's load"
    * (documents with n_chars > 100), version 1 the full corpus — built
    * ONCE per table fingerprint through the real
    * [[graft.operators.Scale.writeSnapshot]] commit protocol (lock,
    * immutable v= dir, pointer rename), so the gate exercises the
    * time-travel read path, not a hand-made layout.
    */
  private val snapshotCopies = new LayoutCache[String]("io_snapshot_docs")

  private[graft] def snapshotDocs(s: SparkSession, d: String): String =
    snapshotCopies.computeIfAbsent(
      s"$d|${Tables.fileFingerprint(s, d, "documents")}", _ => {
        val out = java.nio.file.Files
          .createTempDirectory(scratchParent, "snap_docs_").toString + "/tbl"
        graft.operators.Scale.writeSnapshot(s, out,
          Tables.documents(s, d).filter(col("n_chars") > 100))
        graft.operators.Scale.writeSnapshot(s, out, Tables.documents(s, d))
        out
      })

  private[graft] def zonedDocs(s: SparkSession, d: String): String =
    zonedCopies.computeIfAbsent(
      s"$d|${Tables.fileFingerprint(s, d, "documents")}", _ => {
        val out = java.nio.file.Files
          .createTempDirectory(scratchParent, "zoned_chars_").toString
        Tables.documents(s, d)
          .repartitionByRange(8, col("n_chars"))
          .sortWithinPartitions("n_chars")
          .write.mode("overwrite").parquet(out)
        graft.operators.GraftTable.buildIndex(s, out, zoneCols = Seq("n_chars"))
        out
      })

  /** h10's STRING-clustered layout: documents range-partitioned and
    * sorted by `source`, with a per-file lexicographic (min, max) zone
    * index — the string twin of [[zonedDocs]]. Built once per table
    * fingerprint; returns the table path.
    */
  private val zonedStrCopies = new LayoutCache[String]("io_zoned_str_docs")

  private[graft] def zonedDocsStr(s: SparkSession, d: String): String =
    zonedStrCopies.computeIfAbsent(
      s"$d|${Tables.fileFingerprint(s, d, "documents")}", _ => {
        val out = java.nio.file.Files
          .createTempDirectory(scratchParent, "zoned_src_").toString
        Tables.documents(s, d)
          .repartitionByRange(8, col("source"))
          .sortWithinPartitions("source")
          .write.mode("overwrite").parquet(out)
        graft.operators.GraftTable.buildIndex(s, out, zoneCols = Seq("source"))
        out
      })

  /** h11's BLOOM-INDEXED layout: documents clustered by SOURCE into 8
    * files (so doc_id SCATTERS — source ≡ doc_id % 20, every file's
    * doc_id min/max spans nearly the whole domain and min/max skipping
    * is provably useless), with a per-file Bloom index over doc_id
    * built in ONE grouped-aggregate scan by
    * [[graft.operators.GraftTable.buildIndex]] (filters sized from the
    * actual rows-per-file so fpp holds at any sf). Returns the table
    * path; memoized per table fingerprint like [[zonedDocs]].
    */
  private val bloomCopies = new LayoutCache[String]("io_bloom_docs")

  private[graft] def bloomDocs(s: SparkSession, d: String): String =
    bloomCopies.computeIfAbsent(
      s"$d|${Tables.fileFingerprint(s, d, "documents")}", _ => {
        val out = java.nio.file.Files
          .createTempDirectory(scratchParent, "bloomed_").toString
        Tables.documents(s, d)
          .repartitionByRange(8, col("source"))
          .sortWithinPartitions("source")
          .write.mode("overwrite").parquet(out)
        graft.operators.GraftTable.buildIndex(s, out, bloomCols = Seq("doc_id"))
        out
      })

  /** Z-ORDERED layout of documents on (n_chars, doc_id) for h3: the
    * real [[graft.operators.Scale.zOrderBy]] Morton rewrite into 8
    * files, indexed with one zone entry per dimension — together the
    * per-file bounding box, so conjunctive pushed-down predicates prune
    * each axis independently. Returns the table path; built once per
    * table fingerprint, like [[zonedDocs]].
    */
  private val zorderedCopies = new LayoutCache[String]("io_zordered_docs")

  private[graft] def zorderedDocs(s: SparkSession, d: String): String =
    zorderedCopies.computeIfAbsent(
      s"$d|${Tables.fileFingerprint(s, d, "documents")}", _ => {
        val out = java.nio.file.Files
          .createTempDirectory(scratchParent, "zorder_docs_").toString
        graft.operators.Scale
          .zOrderBy(Tables.documents(s, d), "n_chars", "doc_id", numFiles = 8)
          .write.mode("overwrite").parquet(out)
        graft.operators.GraftTable.buildIndex(s, out,
          zoneCols = Seq("n_chars", "doc_id"))
        out
      })

  /** Layout prewarm hooks (round-20, guide §2.6): every memoized
    * (sfDir)-keyed fixture this file owns, exposed so the bench/verify
    * mains can build INDEPENDENT layouts concurrently at session start
    * instead of serially on first touch inside the query path (the io
    * family alone built ~38 s of commit chains one at a time). Builds
    * are idempotent (LayoutCache.computeIfAbsent) and cost-accounted
    * exactly as before; nothing here touches per-query work.
    */
  private[graft] def prewarmLayouts(s: SparkSession, d: String): Seq[(String, () => Unit)] = Seq(
    ("io_churn6_docs", () => { churn6Docs(s, d); () }),
    ("io_sqlmaint_docs", () => { sqlMaintDocs(s, d); () }),
    ("io_rename_docs", () => { renameDocs(s, d); () }),
    ("io_sqlhist_docs", () => { sqlHistDocs(s, d); () }),
    ("io_churn_docs", () => { churnDocs(s, d); () }),
    ("io_sqlcdf_docs", () => { sqlCdfDocs(s, d); () }),
    ("io_cdf_evolve_docs", () => { evolveDocs(s, d); () }),
    ("io_cdf_append_docs", () => { cdfAppendDocs(s, d); () }),
    ("io_cdf_docs", () => { cdfDocs(s, d); () }),
    ("io_spec_evolved_docs", () => { specEvolvedDocs(s, d); () }),
    ("io_unified_docs", () => { unifiedDocs(s, d); () }),
    ("io_zordered_docs", () => { zorderedDocs(s, d); () }),
    ("io_bucketed_pair", () => { bucketedPair(s, d); () }),
    ("io_mor_feed_docs", () => { morFeedDocs(s, d); () }),
    ("io_bloom_docs", () => { bloomDocs(s, d); () }),
    ("io_zoned_str_docs", () => { zonedDocsStr(s, d); () }),
    ("io_zoned_docs", () => { zonedDocs(s, d); () }),
    ("io_mor_docs", () => { morDocs(s, d); () }),
    ("io_snapshot_docs", () => { snapshotDocs(s, d); () }),
    ("io_bin_shards", () => { binaryShards(s, d); () }),
    ("io_dyn_overwrite", () => { dynOverwrittenDocs(s, d); () }),
    ("io_partitioned_docs", () => { partitionedDocs(s, d); () }),
    ("io_evolved_docs", () => { evolvedDocs(s, d); () }),
    ("io_lang_dims", () => { langDim(s, d); () }))

  val all: Seq[Q] = Seq(
    Q("j1_jsonl_roundtrip", (s, d) => roundTrip(s, d, "json"), Some(oracleAgg)),
    Q("o1_orc_roundtrip", (s, d) => roundTrip(s, d, "orc"), Some(oracleAgg)),

    // c2: COMPRESSION-CODEC ROUND TRIP — zstd parquet write + read
    // under the shared lossless-aggregate oracle. Codec choice is a
    // first-order 100 TB lever (storage cost and scan throughput both
    // move ~2× between snappy and zstd), and the thing that must hold
    // when you pull it is exactly what the oracle checks: bytes in,
    // identical values out. The reader needs no codec hint — parquet
    // footers self-describe — so a mixed-codec table (old snappy files,
    // new zstd) reads through the same scan, which is how a codec
    // migration actually rolls out: new files only, never a rewrite.
    Q("c2_zstd_roundtrip",
      (s, d) => {
        val out = java.nio.file.Files
          .createTempDirectory(scratchParent, "zstd_").toString
        Tables.documents(s, d).write.mode("overwrite")
          .option("compression", "zstd").parquet(out)
        s.read.parquet(out)
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("sum_chars"),
            countDistinct(col("lang")).as("n_langs"),
            sum(length(col("text")).cast("long")).as("sum_text_len"))
          .orderBy("source")
      },
      Some(oracleAgg)),
    Q("c1_csv_roundtrip", (s, d) => roundTrip(s, d, "csv"), Some(oracleAgg)),
    Q("h1_partitioned_prune",
      (s, d) => s.read.parquet(partitionedDocs(s, d))
        .filter(col("lang").isin("de", "fr"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"),
          min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
        .orderBy("lang"),
      Some("""
        SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars,
               min(doc_id) AS first_doc, max(doc_id) AS last_doc
        FROM documents WHERE lang IN ('de', 'fr')
        GROUP BY lang ORDER BY lang""")),

    // h2: FILE-LEVEL ZONE-MAP SKIPPING — h1 prunes partition
    // DIRECTORIES by a categorical key; h2 prunes individual FILES by a
    // numeric range, the other half of lakehouse data skipping (Delta/
    // Iceberg min-max stats). The layout clusters n_chars across files;
    // the range query's scan consults the table's persisted zone index
    // and reads only the files whose zone intersects [450, 10000] — at
    // any scale the read cost tracks the SELECTIVITY of the predicate,
    // not the table size. Pruning is conservative (skip only when the
    // whole zone misses), so the result is exact however
    // repartitionByRange happened to cut the ranges — the oracle is the
    // plain filter over the original table. PlanSpec pins that
    // files-read < files-total on this layout (the scan's numFiles), so
    // the skipping itself is asserted, not assumed.
    Q("h2_zonemap_skipping",
      (s, d) => {
        // the read is a PLAIN filter over GraftTable.read — file skipping
        // happens inside the scan's own listing from the pushed-down
        // range, no explicit prune call. No in-band skip require: at an
        // arbitrary sf every file may legitimately intersect the range,
        // and a gate query must stay a pure correctness check
        val path = zonedDocs(s, d)
        val pruned = graft.operators.GraftTable.read(s, path)
          .filter(col("n_chars").between(450L, 10000L))
        pruned.groupBy("lang")
          .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"),
            min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
          .orderBy("lang")
      },
      Some("""
        SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars,
               min(doc_id) AS first_doc, max(doc_id) AS last_doc
        FROM documents WHERE n_chars BETWEEN 450 AND 10000
        GROUP BY lang ORDER BY lang""")),

    // h10: STRING ZONE MAPS — h2's skipping on a STRING column, which
    // is what parquet BINARY min/max stats actually give you on the
    // category/tenant/date-string columns real tables cluster by.
    // Bounds compare lexicographically — and the gate range is chosen
    // to make the classic string-ordering trap part of the oracle:
    // BETWEEN 'src2' AND 'src4' excludes src10..src19 (they sort below
    // 'src2'), so an engine that compared numerically would keep the
    // wrong files AND the wrong rows. Layout clusters source into 8
    // files; CatalogIoSpec asserts files are actually skipped.
    Q("h10_string_zonemap",
      (s, d) => {
        // skipping pinned in CatalogIoSpec and GraftTableSpec ("string
        // zone pruning compares unsigned UTF-8"); gate query is pure
        // correctness
        val path = zonedDocsStr(s, d)
        val pruned = graft.operators.GraftTable.read(s, path)
          .filter(col("source") >= "src2" && col("source") <= "src4")
        pruned.groupBy("source")
          .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"),
            min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
          .orderBy("source")
      },
      Some("""
        SELECT source, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars,
               min(doc_id) AS first_doc, max(doc_id) AS last_doc
        FROM documents WHERE source >= 'src2' AND source <= 'src4'
        GROUP BY source ORDER BY source""")),

    // h11: BLOOM-FILTER FILE SKIPPING — the point-lookup complement
    // that completes the data-skipping ladder (h2 min/max ranges, h3
    // z-order boxes, h10 string ranges): the layout clusters SOURCE,
    // so each file's doc_id min/max spans nearly the whole domain —
    // provably un-prunable by zone maps (the query requires it) — yet
    // a 5-key point lookup must NOT scan the table. The per-file Bloom
    // manifest (built in ONE grouped-aggregate scan — the Delta bloom
    // index shape) answers "definitely absent" per file; a bloom "no"
    // is proof, so pruning is conservative-exact and false positives
    // only cost an extra file read. The query requires real skipping
    // (≤ 6 of 8 files at fpp=1%) in-band, then hashes the looked-up
    // rows against the plain IN-list oracle. At 100 TB this is the
    // difference between a point lookup touching a handful of files
    // and a full scan on every id fetch.
    Q("h11_bloom_skipping",
      (s, d) => {
        val path = bloomDocs(s, d)
        val keys = Seq(3L, 77L, 191L, 302L, 441L)
        // the layout's zone maps must be USELESS for this probe — pin
        // the premise, not just the conclusion
        val zones = graft.operators.Scale.zoneMap(s, path, "doc_id")
          .select(col("min_v").cast("long"), col("max_v").cast("long")).collect()
        val zonePrunable = zones.count(z =>
          keys.forall(k => k < z.getLong(0) || k > z.getLong(1)))
        require(zonePrunable == 0,
          s"h11 premise broken: min/max would already skip $zonePrunable files")
        // unified read: the IN-list is pushed down and probed against the
        // table's persisted Bloom index inside the scan's file listing
        val pruned = graft.operators.GraftTable.read(s, path)
          .filter(col("doc_id").isin(keys: _*))
        val (read, total) = graft.operators.GraftTable.scanFiles(pruned)
        require(total == 8 && read <= 6,
          s"h11: bloom index must actually skip files (read $read of $total)")
        pruned.select(col("doc_id"), col("source"), col("lang"), col("n_chars"))
          .orderBy("doc_id")
      },
      Some("""
        SELECT doc_id, source, lang, n_chars
        FROM documents WHERE doc_id IN (3, 77, 191, 302, 441)
        ORDER BY doc_id""")),

    // h12: THE UNIFIED SELF-PRUNING TABLE READ — the round-16 engine
    // step past the h2/h3/h10/h11 ladder: those queries each CALL a
    // pruning function; h12's read site is nothing but
    // `GraftTable.read(path).filter(...)`. The scan itself resolves the
    // merge-on-read pointer, fences deletes at the hwm, reconciles them
    // through a broadcast anti-join, and — inside its own file listing —
    // prunes files from the predicates Catalyst pushed down against the
    // table's persisted zone index (the Delta/Iceberg reading contract:
    // skipping as table behavior, not caller discipline — the property
    // that actually survives an org at 100 TB). The skipping proof
    // lives in GraftTableSpec on a controlled layout; here the oracle
    // is the plain predicate-plus-delete complement over the original
    // table, so a read that skipped a file WRONGLY (or lost/
    // double-applied a delete) breaks the hash.
    Q("h12_unified_table_read",
      (s, d) => {
        // skipping-under-MoR pinned in GraftTableSpec ("deletes applied
        // AND pruning fires beneath the anti-join"); pure correctness here
        val path = unifiedDocs(s, d)
        val df = graft.operators.GraftTable.read(s, path)
          .filter(col("n_chars").between(450L, 10000L))
        df.groupBy("lang")
          .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"),
            min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
          .orderBy("lang")
      },
      Some("""
        SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars,
               min(doc_id) AS first_doc, max(doc_id) AS last_doc
        FROM documents
        WHERE n_chars BETWEEN 450 AND 10000 AND doc_id % 97 <> 0
        GROUP BY lang ORDER BY lang""")),

    // h13: THE PURE-SQL SURFACE OF THE UNIFIED READ — h12 proves the
    // programmatic read path; h13 proves a user who only writes SQL
    // gets the same self-pruning scan: `CREATE TEMPORARY VIEW … USING
    // graft` (graft.io.GraftDataSource, registered through Spark's
    // standard DataSourceRegister service file) and a plain WHERE
    // clause — no Scala call anywhere in the query text. The relation
    // behind the view IS the GraftFileIndex parquet relation, so the
    // SQL predicate prunes files at scan planning (pinned off the SQL
    // plan's numFiles in GraftTableSpec). Same oracle as h2 — the two
    // surfaces must agree byte-for-byte.
    Q("h13_sql_source_read",
      (s, d) => {
        val path = zonedDocs(s, d)
        s.sql("CREATE OR REPLACE TEMPORARY VIEW graft_docs " +
          s"USING graft OPTIONS (path '$path')")
        val df = s.sql("""
          SELECT lang, count(*) AS n_docs, sum(n_chars) AS sum_chars,
                 min(doc_id) AS first_doc, max(doc_id) AS last_doc
          FROM graft_docs WHERE n_chars BETWEEN 450 AND 10000
          GROUP BY lang ORDER BY lang""")
        // SQL-surface skipping pinned in GraftTableSpec ("USING graft
        // SQL source: plain SQL over a view prunes files")
        df
      },
      Some("""
        SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars,
               min(doc_id) AS first_doc, max(doc_id) AS last_doc
        FROM documents WHERE n_chars BETWEEN 450 AND 10000
        GROUP BY lang ORDER BY lang""")),

    // h14: THE PURE-SQL SURFACE OVER MERGE-ON-READ — the round-16 gap:
    // the V1 source is a leaf relation and can't BE a join, so for MoR
    // tables it plants a GraftMarkerRelation that the injected analyzer
    // rule (GraftExtensions → GraftTableRewrite) expands at resolution
    // into the full GraftTable.read plan — pointer, hwm-fenced deletes
    // as a broadcast anti-join, and manifest file skipping from the
    // predicates the SQL WHERE pushes through the planted Project. The
    // oracle is the predicate-plus-delete complement over the original
    // table (same as h12), so a rewrite that lost or double-applied a
    // delete breaks the hash; the in-band require reads the SQL plan's
    // own numFiles, premise-guarded by the live zone manifest so the
    // check never misfires at a scale where every file genuinely
    // intersects the range; and the SQL aggregate must equal the
    // programmatic read's byte-for-byte — the two surfaces are ONE
    // read path, not two implementations.
    Q("h14_sql_mor_read",
      (s, d) => {
        val path = unifiedDocs(s, d)
        s.sql("CREATE OR REPLACE TEMPORARY VIEW graft_mor " +
          s"USING graft OPTIONS (path '$path')")
        val df = s.sql("""
          SELECT lang, count(*) AS n_docs, sum(n_chars) AS sum_chars,
                 min(doc_id) AS first_doc, max(doc_id) AS last_doc
          FROM graft_mor WHERE n_chars BETWEEN 450 AND 10000
          GROUP BY lang ORDER BY lang""")
        val (read, total) = graft.operators.GraftTable.scanFiles(df)
        val (v, _) = graft.operators.Scale.morPointer(s, path)
          .getOrElse(sys.error(s"h14: no MoR pointer at $path"))
        // the zones unifiedDocs' buildIndex persisted for this base (the
        // manifest GraftFileIndex prunes with), not a fresh base scan
        val zones = s.read.parquet(s"$path/_index/base_v=$v/zone_long_n_chars")
          .select(col("min_v"), col("max_v"))
          .collect().filter(z => !z.isNullAt(0) && !z.isNullAt(1))
        val skippable = zones.count(z =>
          z.getLong(1) < 450L || z.getLong(0) > 10000L)
        if (skippable > 0)
          require(read < total,
            s"h14: the SQL view's predicate must prune beneath the MoR " +
              s"anti-join (read $read of $total, $skippable skippable)")
        val prog = graft.operators.GraftTable.read(s, path)
          .filter(col("n_chars").between(450L, 10000L))
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"),
            min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
          .orderBy("lang")
        require(df.collect().toSeq == prog.collect().toSeq,
          "h14: SQL and programmatic MoR reads must agree byte-for-byte")
        df
      },
      Some("""
        SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars,
               min(doc_id) AS first_doc, max(doc_id) AS last_doc
        FROM documents
        WHERE n_chars BETWEEN 450 AND 10000 AND doc_id % 97 <> 0
        GROUP BY lang ORDER BY lang""")),

    // h15: SQL DML — MERGE INTO a `USING graft` view, routed through
    // the CDF commit protocol (GraftDmlRule: Spark resolves the MERGE
    // against the V1 relation, the injected rule swaps it for a command
    // that rebases onto the current version, computes the post-merge
    // table, and commits via writeSnapshotCdf with expectedVersion =
    // the rebased version). In-band: (1) the SQL merge's result equals
    // the r36-style PROGRAMMATIC CDC merge byte-for-byte (one
    // semantics, two surfaces); (2) the commit emitted CDF rows with
    // the exact insert/update/delete split; (3) the SQL commit
    // participates in OCC — a programmatic writer holding the
    // pre-merge version conflicts loudly. Oracle: the post-merge
    // aggregate recomputed from the raw documents table.
    Q("h15_sql_merge",
      (s, d) => {
        val root = java.nio.file.Files.createTempDirectory(scratchParent, "h15_")
        val t = root.resolve("t").toString
        val docs = Tables.documents(s, d).select("doc_id", "lang", "n_chars")
        graft.operators.Scale.writeSnapshotCdf(s, t,
          docs.filter(col("doc_id") % 2 === 0), "doc_id")
        s.sql(s"CREATE OR REPLACE TEMPORARY VIEW h15_t USING graft OPTIONS (path '$t')")
        val src = docs.filter(col("doc_id") % 2 === 0 && col("doc_id") % 6 === 0)
          .withColumn("n_chars", col("n_chars") + 1000L).withColumn("op", lit("U"))
          .unionByName(docs.filter(col("doc_id") % 2 === 0 &&
              col("doc_id") % 6 =!= 0 && col("lang") === "de")
            .withColumn("op", lit("D")))
          .unionByName(docs.filter(col("doc_id") % 2 === 1 && col("lang") === "en")
            .withColumn("op", lit("I")))
        src.createOrReplaceTempView("h15_s")
        s.sql("""
          MERGE INTO h15_t t USING h15_s s ON t.doc_id = s.doc_id
          WHEN MATCHED AND s.op = 'D' THEN DELETE
          WHEN MATCHED AND s.op = 'U' THEN UPDATE SET *
          WHEN NOT MATCHED AND s.op = 'I' THEN INSERT *""")
        // (1) one semantics, two surfaces: the programmatic CDC merge of
        // the same change set must agree as a multiset — compared by a
        // collision-resistant signature (count + two independent
        // xxhash64 sums, the r98 pattern): one tiny aggregate per side
        // instead of two shuffle-heavy exceptAll folds (round-19 diet)
        val expected = docs.filter(col("doc_id") % 2 === 0 &&
            !(col("lang") === "de" && col("doc_id") % 6 =!= 0))
          .withColumn("n_chars", when(col("doc_id") % 6 === 0,
            col("n_chars") + 1000L).otherwise(col("n_chars")))
          .unionByName(docs.filter(col("doc_id") % 2 === 1 && col("lang") === "en"))
        def sig(df: org.apache.spark.sql.DataFrame): (Long, Long, Long) = {
          val r = df.agg(count(lit(1)),
            sum(pmod(xxhash64(col("doc_id"), col("lang"), col("n_chars")),
              lit(2147483647L))),
            sum(pmod(xxhash64(col("n_chars"), col("doc_id"), lit(7), col("lang")),
              lit(2147483629L)))).head()
          (r.getLong(0),
            if (r.isNullAt(1)) 0L else r.getLong(1),
            if (r.isNullAt(2)) 0L else r.getLong(2))
        }
        val got = graft.operators.Scale.readSnapshot(s, t)
        require(sig(got) == sig(expected),
          "h15: SQL MERGE must equal the programmatic CDC merge")
        // (2) the feed records the merge's row-level effect; the three
        // expected counts come from ONE aggregate over docs, not three
        // separate count() jobs
        val byType = graft.operators.Scale.readChangesBetween(s, t, 0L, 1L)
          .groupBy("_change_type").count().collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
        val exp = docs.agg(
          count(when(col("doc_id") % 2 === 1 && col("lang") === "en", 1)),
          count(when(col("doc_id") % 2 === 0 && col("doc_id") % 6 === 0, 1)),
          count(when(col("doc_id") % 2 === 0 && col("doc_id") % 6 =!= 0 &&
            col("lang") === "de", 1))).head()
        val (nIns, nUpd, nDel) = (exp.getLong(0), exp.getLong(1), exp.getLong(2))
        require(byType.getOrElse("insert", 0L) == nIns &&
            byType.getOrElse("update_postimage", 0L) == nUpd &&
            byType.getOrElse("delete", 0L) == nDel,
          s"h15: merge must emit CDF rows (ins=$nIns upd=$nUpd del=$nDel), got $byType")
        // (3) OCC: a programmatic writer still holding the pre-merge
        // version conflicts against the SQL commit
        val conflicted =
          try {
            graft.operators.Scale.writeSnapshotCdf(s, t,
              got.limit(1), "doc_id", expectedVersion = Some(0L))
            false
          } catch { case _: graft.operators.Scale.CommitConflictException => true }
        require(conflicted, "h15: the SQL merge commit must participate in OCC")
        got.groupBy("lang")
          .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
          .orderBy("lang")
      },
      Some("""
        SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
        FROM (
          SELECT lang, CASE WHEN doc_id % 6 = 0 THEN n_chars + 1000 ELSE n_chars END AS n_chars
          FROM documents WHERE doc_id % 2 = 0 AND NOT (lang = 'de' AND doc_id % 6 <> 0)
          UNION ALL
          SELECT lang, n_chars FROM documents WHERE doc_id % 2 = 1 AND lang = 'en')
        GROUP BY lang ORDER BY lang""")),

    // h16: SQL TIME TRAVEL — `OPTIONS (version '<n>')` pins the view to
    // a committed version THROUGH the marker + rewrite (explicit pins
    // always take the marker path), so the pinned SQL read equals the
    // programmatic GraftTable.read(path, v) byte-for-byte INCLUDING
    // across a rename: old data surfaces under CURRENT logical names
    // (column mapping applies to every version — feeds and files store
    // physical names forever). In-band: byte-compare vs the
    // programmatic read, and DML through the pin is a loud error.
    // Oracle: the v0 aggregate recomputed from the raw documents table.
    Q("h16_sql_time_travel",
      (s, d) => {
        val root = java.nio.file.Files.createTempDirectory(scratchParent, "h16_")
        val t = root.resolve("t").toString
        val docs = Tables.documents(s, d).select("doc_id", "lang", "n_chars")
        val v0 = docs.filter(col("doc_id") % 2 === 0)
        graft.operators.Scale.writeSnapshotCdf(s, t, v0, "doc_id")
        graft.operators.Scale.writeSnapshotCdf(s, t,
          v0.filter(col("lang") =!= "fr")
            .withColumn("n_chars", col("n_chars") + 9L)
            .unionByName(docs.filter(col("doc_id") % 2 === 1)), "doc_id")
        graft.operators.Scale.renameSnapshotColumn(s, t, "n_chars", "len")
        s.sql(s"CREATE OR REPLACE TEMPORARY VIEW h16_v0 USING graft " +
          s"OPTIONS (path '$t', version '0')")
        val sqlRows = s.sql("SELECT doc_id, lang, len FROM h16_v0 ORDER BY doc_id")
        val prog = graft.operators.GraftTable.read(s, t, Some(0L))
          .select("doc_id", "lang", "len").orderBy("doc_id")
        require(sqlRows.collect().toSeq == prog.collect().toSeq,
          "h16: pinned SQL read must equal programmatic time travel byte-for-byte")
        val pinRejected =
          try { s.sql("DELETE FROM h16_v0 WHERE doc_id = 0"); false }
          catch { case e: IllegalArgumentException =>
            e.getMessage.contains("time-travel") }
        require(pinRejected, "h16: DML through a time-travel pin must fail loudly")
        sqlRows.groupBy("lang")
          .agg(count(lit(1)).as("n_docs"), sum(col("len")).as("sum_len"))
          .orderBy("lang")
      },
      Some("""
        SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_len
        FROM documents WHERE doc_id % 2 = 0
        GROUP BY lang ORDER BY lang""")),

    // h17: SEQUENTIAL SQL DML — INSERT INTO, UPDATE, DELETE through ONE
    // view, each statement one versioned commit REBASED onto its
    // predecessor (statement semantics: the second statement must see
    // the first's commit, not the generation the view bound at CREATE —
    // the ergonomics a SQL-first user assumes). In-band: exactly three
    // new versions; the per-commit feeds record each statement's
    // row-level effect. Oracle: the final contents recomputed from raw
    // documents.
    Q("h17_sql_dml_chain",
      (s, d) => {
        val root = java.nio.file.Files.createTempDirectory(scratchParent, "h17_")
        val t = root.resolve("t").toString
        val docs = Tables.documents(s, d).select("doc_id", "lang", "n_chars")
        graft.operators.Scale.writeSnapshotCdf(s, t,
          docs.filter(col("doc_id") % 3 === 0), "doc_id")
        s.sql(s"CREATE OR REPLACE TEMPORARY VIEW h17_t USING graft OPTIONS (path '$t')")
        docs.filter(col("doc_id") % 3 === 1 && col("lang") === "en")
          .createOrReplaceTempView("h17_new")
        s.sql("INSERT INTO h17_t SELECT doc_id, lang, n_chars FROM h17_new")
        s.sql("UPDATE h17_t SET n_chars = n_chars + 50 WHERE lang = 'de'")
        s.sql("DELETE FROM h17_t WHERE lang = 'zh' AND doc_id % 3 = 0")
        require(graft.operators.Scale.latestSnapshot(s, t).contains(3L),
          "h17: three statements must be three rebased commits")
        // both statement feeds verified in ONE scan + ONE aggregate
        // (round-20: the three separate actions — isEmpty + two counts —
        // were ~3 jobs of pure driver overhead for the same evidence);
        // (0,2] stamps the INSERT commit's rows 1 and the UPDATE's 2
        val fr = graft.operators.Scale.readChangesBetween(s, t, 0L, 2L)
          .agg(
            sum(when(col("_commit_version") === 1L &&
              col("_change_type") =!= "insert", 1L).otherwise(0L)).as("badIns"),
            sum(when(col("_commit_version") === 2L &&
              col("_change_type") === "update_postimage", 1L).otherwise(0L)).as("posts"),
            sum(when(col("_commit_version") === 2L, 1L).otherwise(0L)).as("updAll"))
          .head()
        require(fr.getLong(0) == 0L,
          "h17: the INSERT commit's feed is inserts only")
        require(fr.getLong(1) == fr.getLong(2) / 2,
          "h17: the UPDATE commit's feed is update pairs")
        graft.operators.Scale.readSnapshot(s, t)
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
          .orderBy("lang")
      },
      Some("""
        SELECT lang, count(*) AS n_docs,
               CAST(sum(CASE WHEN lang = 'de' THEN n_chars + 50 ELSE n_chars END) AS BIGINT) AS sum_chars
        FROM documents
        WHERE (doc_id % 3 = 0 AND lang <> 'zh') OR (doc_id % 3 = 1 AND lang = 'en')
        GROUP BY lang ORDER BY lang""")),

    // h18: SQL DML ON MERGE-ON-READ — DELETE FROM appends an
    // equality-delete file (O(deleted keys): no base byte is rewritten,
    // the same commit Scale.appendDeletes writes) and INSERT INTO
    // appends a row commit under the shared sequence; the view's
    // subsequent SQL read reconciles both. In-band: exactly one delete
    // file and one append dir, base untouched; UPDATE stays a loud
    // error. Oracle: complement-plus-append recomputed from raw
    // documents.
    Q("h18_sql_mor_dml",
      (s, d) => {
        val root = java.nio.file.Files.createTempDirectory(scratchParent, "h18_")
        val t = root.resolve("t").toString
        val docs = Tables.documents(s, d).select("doc_id", "lang", "n_chars")
        graft.operators.Scale.writeMorBase(s, t, docs.filter(col("doc_id") % 2 === 0))
        graft.operators.GraftTable.buildIndex(s, t,
          zoneCols = Seq("n_chars"), morKey = Some("doc_id"))
        s.sql(s"CREATE OR REPLACE TEMPORARY VIEW h18_t USING graft OPTIONS (path '$t')")
        docs.createOrReplaceTempView("h18_src")
        s.sql("DELETE FROM h18_t WHERE lang = 'es'")
        s.sql("INSERT INTO h18_t SELECT doc_id, lang, n_chars FROM " +
          "h18_src WHERE doc_id % 2 = 1 AND lang = 'fr'")
        require(new java.io.File(s"$t/_deletes").list().count(_.startsWith("d=")) == 1 &&
            new java.io.File(s"$t/_appends").list().count(_.startsWith("a=")) == 1 &&
            new java.io.File(t).list().count(_.startsWith("base_v=")) == 1,
          "h18: SQL DML on MoR must append commits, never rewrite the base")
        val updRejected =
          try { s.sql("UPDATE h18_t SET n_chars = 0 WHERE doc_id = 0"); false }
          catch { case e: IllegalArgumentException =>
            e.getMessage.contains("DELETE FROM + INSERT INTO") }
        require(updRejected, "h18: UPDATE on MoR must stay a loud error")
        graft.operators.Scale.readMergeOnRead(s, t, "doc_id")
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
          .orderBy("lang")
      },
      Some("""
        SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
        FROM documents
        WHERE (doc_id % 2 = 0 AND lang <> 'es') OR (doc_id % 2 = 1 AND lang = 'fr')
        GROUP BY lang ORDER BY lang""")),

    // h19: SQL TABLE HISTORY / FILE INTROSPECTION — the graft_history /
    // graft_files TVFs (DESCRIBE HISTORY, as composable SQL). A table
    // accumulates every commit-object kind (3 CDF commits, a rename, a
    // feed checkpoint); the TVF's rows must agree with the INDEPENDENT
    // library observables (listSnapshots / latestSnapshot /
    // snapshotColMap / the current read set), and time-travel reads
    // driven by the TVF's own version list must reproduce each
    // historical state. Oracle: the three versions' contents recomputed
    // from raw documents.
    Q("h19_sql_history",
      (s, d) => {
        // the lineage table is IMMUTABLE once built (the query only
        // reads: history TVF, files TVF, time travel) — memoized like
        // every other commit-chain layout
        val t = sqlHistDocs(s, d)
        val hist = s.sql(
          s"SELECT * FROM graft_history('$t') ORDER BY kind, version, detail")
          .collect().toSeq
        def of(kind: String) = hist.filter(_.getString(0) == kind)
        val snaps = of("snapshot")
        require(snaps.map(_.getLong(1)) ==
            graft.operators.Scale.listSnapshots(s, t),
          "h19: history's snapshot versions must equal listSnapshots")
        require(snaps.filter(_.getBoolean(5)).map(_.getLong(1)) ==
            graft.operators.Scale.latestSnapshot(s, t).toSeq,
          "h19: exactly the pointer target is current")
        require(of("feed").map(_.getLong(1)) == snaps.map(_.getLong(1)),
          "h19: every CDF commit carries its feed dir")
        require(of("feed_checkpoint").map(_.getString(2)) == Seq("0..2"),
          "h19: the squashed range appears as a feed_checkpoint row")
        require(of("rename").map(_.getString(2)) == Seq("len<-n_chars"),
          "h19: the _colmap entry appears as a rename row")
        val files = s.sql(
          s"SELECT * FROM graft_files('$t') ORDER BY tag, rel_path")
          .collect().toSeq
        require(files.nonEmpty && files.forall(_.getString(0) == "v=2"),
          "h19: the current read set lives entirely in the pointer target")
        require(files.size == snaps.find(_.getLong(1) == 2L).get.getInt(3),
          "h19: graft_files count == history's current-snapshot file count")
        // SQL can aggregate the TVF like any table
        val nKinds = s.sql(
          s"SELECT count(DISTINCT kind) AS k FROM graft_history('$t')")
          .head().getLong(0)
        require(nKinds == 4L,
          s"h19: snapshot/feed/feed_checkpoint/rename kinds, got $nKinds")
        // drive time travel from the TVF's own version list — reads
        // surface the CURRENT logical name (len) for every version
        snaps.map(_.getLong(1)).map { v =>
          graft.operators.GraftTable.read(s, t, Some(v))
            .agg(count(lit(1)).as("n_docs"), sum(col("len")).as("sum_len"))
            .select(lit(v).as("version"), col("n_docs"), col("sum_len"))
        }.reduce(_.unionByName(_)).orderBy("version")
      },
      Some("""
        SELECT 0 AS version, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_len
        FROM documents WHERE doc_id % 2 = 0
        UNION ALL
        SELECT 1, count(*), CAST(sum(n_chars) AS BIGINT)
        FROM documents WHERE doc_id % 2 = 0 AND lang <> 'de'
        UNION ALL
        SELECT 2, count(*), CAST(sum(n_chars) AS BIGINT)
        FROM documents
        WHERE (doc_id % 2 = 0 AND lang <> 'de') OR (doc_id % 2 = 1 AND lang = 'fr')
        ORDER BY version""")),

    // h20: SQL MAINTENANCE STATEMENTS — VACUUM GRAFT / OPTIMIZE GRAFT
    // through the injected delegating parser, each statement calling
    // the SAME library entry point as programmatic maintenance (same
    // lock, same crash-safety) and returning queryable status rows.
    // In-band: SQL SQUASH writes the 0..3 checkpoint and the feed still
    // serves the full span afterwards; SQL VACUUM removes exactly the
    // non-retained versions; SQL COMPACT DELETES folds the MoR delete
    // files into a new base whose state matches the returned row; SQL
    // REINDEX returns the applied spec with fresh manifests for the
    // compacted base. Oracle: both tables' final contents recomputed
    // from raw documents.
    Q("h20_sql_maintenance",
      (s, d) => {
        // the statements MUTATE their tables, so each run copies the
        // memoized immutable template (t: v0..v3 chain, m: MoR lineage)
        // and runs the SQL maintenance on its own copy
        val root = java.nio.file.Files.createTempDirectory(scratchParent, "h20_")
        val conf = s.sparkContext.hadoopConfiguration
        // copy target must NOT pre-exist: FileUtil.copy nests the source
        // under an existing directory instead of filling it
        val dst = new org.apache.hadoop.fs.Path(root.resolve("c").toString)
        val fs = dst.getFileSystem(conf)
        org.apache.hadoop.fs.FileUtil.copy(
          fs, new org.apache.hadoop.fs.Path(sqlMaintDocs(s, d)),
          fs, dst, false, conf)
        val t = root.resolve("c/t").toString
        val ck = s.sql(
          s"OPTIMIZE GRAFT '$t' SQUASH FEED KEY doc_id FROM 0 TO 3")
          .collect().toSeq
        require(ck.map(_.getString(0)) == Seq("c=0_3"),
          "h20: SQUASH FEED must report the checkpoint it wrote")
        // the SQL-written checkpoint must actually SERVE anchored reads:
        // a (0..3] read comes back entirely stamped at the checkpoint's
        // upper bound (no per-commit tail), and its net content equals
        // squashing the raw per-commit feeds — compared BEFORE the
        // vacuum below, which sweeps the covered per-commit dirs (a raw
        // read afterwards is by contract a loud error, not comparable)
        val viaCkpt = graft.operators.Scale.readChangesBetween(s, t, 0L, 3L)
        val rawNet = graft.operators.Scale.cdfSquash(
          graft.operators.Scale.readChangesBetween(s, t, 0L, 3L,
            useCheckpoints = false), "doc_id")
        // multiset equality by collision-resistant signature (count +
        // two independent xxhash64 sums — the r98 pattern): one tiny
        // aggregate per side instead of two exceptAll shuffles. The
        // checkpoint side's commit-stamp check rides the SAME aggregate
        // (round-20: it was a separate distinct+collect action).
        def sigC(df: org.apache.spark.sql.DataFrame,
                 versionCol: Boolean): (Long, Long, Long, Long, Long) = {
          // cdfSquash's net frame carries no _commit_version — the
          // version stats only exist on the checkpoint side
          val (vmin, vmax) =
            if (versionCol) (min(col("_commit_version")), max(col("_commit_version")))
            else (min(lit(3L)), max(lit(3L)))
          val r = df.agg(count(lit(1)),
            sum(pmod(xxhash64(col("doc_id"), col("lang"), col("n_chars"),
              col("_change_type")), lit(2147483647L))),
            sum(pmod(xxhash64(col("_change_type"), col("n_chars"), col("doc_id"),
              lit(7), col("lang")), lit(2147483629L))),
            vmin, vmax).head()
          (r.getLong(0),
            if (r.isNullAt(1)) 0L else r.getLong(1),
            if (r.isNullAt(2)) 0L else r.getLong(2),
            if (r.isNullAt(3)) -1L else r.getLong(3),
            if (r.isNullAt(4)) -1L else r.getLong(4))
        }
        val (ckSig, rawSig) = (sigC(viaCkpt, versionCol = true),
          sigC(rawNet, versionCol = false))
        require(ckSig._4 == 3L && ckSig._5 == 3L,
          "h20: the anchored read is served by the SQL-written checkpoint")
        require((ckSig._1, ckSig._2, ckSig._3) == (rawSig._1, rawSig._2, rawSig._3),
          "h20: checkpoint content == net of the raw per-commit feeds")
        val removed = s.sql(s"VACUUM GRAFT '$t' RETAIN 2 VERSIONS")
          .collect().map(_.getLong(0)).toSeq
        require(removed == Seq(0L, 1L),
          s"h20: VACUUM RETAIN 2 removes exactly v0,v1 — got $removed")
        require(graft.operators.Scale.listSnapshots(s, t) == Seq(2L, 3L),
          "h20: retained versions survive the vacuum")
        // and the checkpoint outlives the sweep: the anchored read still
        // serves after the covered per-commit feeds are gone (min/max
        // aggregate — same evidence as distinct+collect, no shuffle)
        val pv = graft.operators.Scale.readChangesBetween(s, t, 0L, 3L)
          .agg(min(col("_commit_version")), max(col("_commit_version"))).head()
        require(!pv.isNullAt(0) && pv.getLong(0) == 3L && pv.getLong(1) == 3L,
          "h20: the checkpoint survives the vacuum and keeps serving")
        // merge-on-read lineage (from the copied template: base + index
        // + two delete commits), folded by ONE SQL statement into a new
        // base
        val m = root.resolve("c/m").toString
        val st = s.sql(s"OPTIMIZE GRAFT '$m' COMPACT DELETES KEY doc_id")
          .collect().toSeq
        require(st.map(r => (r.getLong(0), r.getLong(1))) ==
            Seq((graft.operators.Scale.morPointer(s, m).get._1,
              graft.operators.Scale.morPointer(s, m).get._2)),
          "h20: COMPACT DELETES reports the post-compaction pointer state")
        require(st.head.getLong(0) >= 1L,
          "h20: compaction commits a NEW base generation")
        val spec = s.sql(s"OPTIMIZE GRAFT '$m' REINDEX").collect().toSeq
        require(spec.map(_.getString(0)) == Seq("n_chars"),
          "h20: REINDEX reports the zone spec it rebuilt")
        require(new java.io.File(
            s"$m/_index/base_v=${st.head.getLong(0)}").exists(),
          "h20: fresh manifests cover the compacted base")
        val snapAgg = graft.operators.Scale.readSnapshot(s, t)
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
          .select(lit("snap").as("src"), col("lang"), col("n_docs"), col("sum_chars"))
        val morAgg = graft.operators.GraftTable.read(s, m)
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
          .select(lit("mor").as("src"), col("lang"), col("n_docs"), col("sum_chars"))
        snapAgg.unionByName(morAgg).orderBy("src", "lang")
      },
      Some("""
        SELECT * FROM (
          SELECT 'snap' AS src, lang, count(*) AS n_docs,
                 CAST(sum(CASE WHEN lang = 'es' THEN n_chars + 11 ELSE n_chars END) AS BIGINT) AS sum_chars
          FROM documents
          WHERE (doc_id % 2 = 0 AND lang <> 'de') OR (doc_id % 2 = 1 AND lang = 'fr')
          GROUP BY lang
          UNION ALL
          SELECT 'mor', lang, count(*), CAST(sum(n_chars) AS BIGINT)
          FROM documents
          WHERE doc_id % 2 = 0 AND lang NOT IN ('es', 'zh')
          GROUP BY lang
        ) AS u ORDER BY src, lang""")),

    // h21: SQL CHANGE-FEED READS — the CDC consumer surface as pure
    // SQL: `USING graft OPTIONS (changesFrom, changesTo)` is
    // readChangesBetween as a view (insert/delete/update pre+post
    // rows, `_commit_version` stamps, CURRENT logical names across a
    // rename, checkpoint-anchored serving). In-band: the anchored read
    // is served from the SQL-visible checkpoint (commit stamps collapse
    // to {1, 2}), SQL rows == programmatic readChangesBetween
    // byte-for-byte, and DML through the changes view is rejected —
    // a change feed is a read of the commit log, never a table. Oracle:
    // each commit's row-level change set recomputed from raw documents.
    Q("h21_sql_changes",
      (s, d) => {
        // immutable once built (the DML attempt below is REJECTED
        // before any write), so the table memoizes whole
        val t = sqlCdfDocs(s, d)
        s.sql(s"CREATE OR REPLACE TEMPORARY VIEW h21_c USING graft " +
          s"OPTIONS (path '$t', changesFrom '0', changesTo '2')")
        val sqlRows = s.sql(
          """SELECT doc_id, lang, len, _change_type, _commit_version
             FROM h21_c ORDER BY _commit_version, _change_type, doc_id""")
        val prog = graft.operators.Scale.readChangesBetween(s, t, 0L, 2L)
          .select("doc_id", "lang", "len", "_change_type", "_commit_version")
          .orderBy("_commit_version", "_change_type", "doc_id")
        require(sqlRows.collect().toSeq == prog.collect().toSeq,
          "h21: the SQL changes view must equal readChangesBetween byte-for-byte")
        require(sqlRows.select("_commit_version").distinct()
            .collect().map(_.getLong(0)).toSet == Set(1L, 2L),
          "h21: the 0-anchored read is served by checkpoint c=0_1 " +
            "(stamped 1) plus the v2 tail — never per-commit v1 dirs")
        val dmlRejected =
          try { s.sql("DELETE FROM h21_c WHERE doc_id = 0"); false }
          catch { case _: Exception => true }
        require(dmlRejected, "h21: a change feed is read-only for DML")
        // SQL composes over the feed like any table: per-commit,
        // per-change-type row counts and len totals
        val agg = s.sql("""
          SELECT _commit_version AS commit_v, _change_type AS change_type,
                 count(*) AS n_rows, sum(len) AS sum_len
          FROM h21_c GROUP BY 1, 2 ORDER BY 1, 2""")
        require(agg.count() == 4,
          "h21 premise: de deletes, es updates (pre+post), fr inserts " +
            "must all be non-empty at this sf — the oracle enumerates " +
            "all four groups unconditionally")
        agg
      },
      Some("""
        SELECT * FROM (
          SELECT 1 AS commit_v, 'delete' AS change_type, count(*) AS n_rows,
                 CAST(sum(n_chars) AS BIGINT) AS sum_len
          FROM documents WHERE doc_id % 2 = 0 AND lang = 'de'
          UNION ALL
          SELECT 1, 'update_preimage', count(*), CAST(sum(n_chars) AS BIGINT)
          FROM documents WHERE doc_id % 2 = 0 AND lang = 'es'
          UNION ALL
          SELECT 1, 'update_postimage', count(*), CAST(sum(n_chars + 7) AS BIGINT)
          FROM documents WHERE doc_id % 2 = 0 AND lang = 'es'
          UNION ALL
          SELECT 2, 'insert', count(*), CAST(sum(n_chars) AS BIGINT)
          FROM documents WHERE doc_id % 2 = 1 AND lang = 'fr'
        ) AS u ORDER BY commit_v, change_type""")),

    // h3: MULTI-DIMENSION (Z-ORDER) DATA SKIPPING — h2 prunes files by
    // ONE clustered column; h3 is the Delta/Iceberg liquid-layout move
    // for 2-D predicates: the layout Morton-interleaves (n_chars,
    // doc_id) so every file covers a tight RECTANGLE, the table's zone
    // index carries per-file min/max of both dimensions, and the box
    // query reads only files whose rectangle intersects on BOTH axes — a
    // single-column layout would leave doc_id full-width in every file
    // and that axis would prune nothing. Pruning is conservative, so
    // the result is exact under any range cuts; the oracle is the
    // plain two-predicate filter. GraftTableSpec asserts the box
    // skipping and ScaleSpec the 3-D non-leading-dimension case, both
    // on controlled layouts.
    Q("h3_zorder_skipping",
      (s, d) => {
        val path = zorderedDocs(s, d)
        // two pushed-down ranges prune each z-order axis independently:
        // the per-file bounding-box intersection, as scan behavior
        val pruned = graft.operators.GraftTable.read(s, path)
          .filter(col("n_chars").between(150L, 400L) &&
            col("doc_id").between(100L, 2600L))
        // no in-band skip require: at small sf the doc_id domain sits
        // entirely inside the probe box, so every file legitimately
        // intersects; the skipping itself is pinned on a controlled
        // layout by GraftTableSpec, and correctness never depends on
        // pruning
        pruned.groupBy("lang")
          .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"),
            min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
          .orderBy("lang")
      },
      Some("""
        SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars,
               min(doc_id) AS first_doc, max(doc_id) AS last_doc
        FROM documents
        WHERE n_chars BETWEEN 150 AND 400 AND doc_id BETWEEN 100 AND 2600
        GROUP BY lang ORDER BY lang""")),

    // h4: DYNAMIC partition pruning — h1 prunes by a LITERAL predicate
    // the planner sees; h4 is the case where the partition filter only
    // exists at RUNTIME, as the join-key set of a filtered dimension
    // (the star-schema norm: `fact JOIN dim WHERE dim.attr = ...` with
    // no literal on the fact side). Catalyst's DPP inserts a pruning
    // subquery that reuses the dimension's broadcast to enumerate the
    // surviving lang= directories before the fact scan starts, so only
    // the tier-1 partitions are read — without DPP the fact scan is
    // full-width and the filter rides the join. PlanSpec pins the
    // `dynamicpruning` expression in the scan's PartitionFilters. At
    // 100 TB this is THE mechanism that keeps dim-driven fact queries
    // proportional to selectivity; the dim here is a tiny lang-tier
    // frame (written to parquet so the scan side sees a real source —
    // and filtered by an int COMPARISON; see [[langDim]] for why a
    // boolean flag would silently disable the rule).
    Q("h4_dynamic_partition_prune",
      (s, d) => {
        val dim = langDim(s, d)
        s.read.parquet(partitionedDocs(s, d))
          .join(dim.filter(col("tier") === 1), Seq("lang"))
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"),
            min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
          .orderBy("lang")
      },
      Some("""
        SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars,
               min(doc_id) AS first_doc, max(doc_id) AS last_doc
        FROM documents
        WHERE lang IN ('de', 'en')
        GROUP BY lang ORDER BY lang""")),

    // h5: BUCKETED CO-LOCATED JOIN — the data-placement answer to the
    // fact-fact shuffle the r-series pays on lineitem⋈orders: both
    // sides written bucketBy(8, orderkey).sortBy(orderkey), so the
    // sort-merge join consumes the on-disk bucket layout directly and
    // the plan has NO exchange (and no sort) on either join input —
    // the shuffle was paid ONCE at layout time and amortizes over
    // every subsequent join on the key. PlanSpec pins the
    // exchange-free join subtree. At 100 TB this is the difference
    // between re-shuffling two fact tables per query and never
    // shuffling them again; the trade (fixed bucket count must suit
    // the data volume) is the documented reason AQE can't help here —
    // bucketing is a write-time contract.
    Q("h5_bucketed_join",
      (s, d) => {
        val (oTbl, lTbl) = bucketedPair(s, d)
        // hint("merge"): at gate scale orders fits the broadcast
        // threshold and the whole point — the exchange-free SMJ over
        // the bucket layout — never appears; at 100 TB both sides are
        // facts and SMJ is what the planner picks unhinted
        s.table(lTbl)
          .join(s.table(oTbl).hint("merge"), col("l_orderkey") === col("o_orderkey"))
          .groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n_items"), sum(col("price_cents")).as("rev_cents"))
          .orderBy("o_orderstatus")
      },
      Some(s"""
        SELECT o_orderstatus, count(*) AS n_items,
               CAST(sum(${Q.sqlCents("l_extendedprice")}) AS BIGINT) AS rev_cents
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY o_orderstatus ORDER BY o_orderstatus""")),

    // h6: SCHEMA EVOLUTION READ — every long-lived lakehouse table
    // accretes columns, and at 100 TB you do NOT rewrite old files
    // when one is added: readers must merge footers (`mergeSchema`)
    // and null-fill the column for pre-evolution files. The layout is
    // the corpus written as two generations into ONE directory — a
    // legacy batch missing `n_chars` entirely and a current batch
    // with it — and the query does the production read: merged
    // schema, then a READ-TIME BACKFILL (coalesce the missing stat
    // from the text itself) feeding a per-language aggregate. The
    // oracle recomputes the same backfill from the original table, so
    // a reader that dropped legacy rows, picked one footer's schema,
    // or misaligned columns across generations breaks the hash. At
    // scale the footer merge is a one-off planning cost you'd pin in
    // a catalog; per-file column pruning and row-group pushdown are
    // unaffected because parquet resolves columns by name per file.
    Q("h6_schema_evolution",
      (s, d) => {
        s.read.option("mergeSchema", "true").parquet(evolvedDocs(s, d))
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("n_chars").isNull, 1L).otherwise(0L)).as("n_legacy"),
            sum(coalesce(col("n_chars"),
              length(col("text")).cast("long"))).as("sum_chars_filled"))
          .orderBy("lang")
      },
      Some("""
        SELECT lang, count(*) AS n_docs,
               CAST(sum(CASE WHEN doc_id % 4 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_legacy,
               CAST(sum(CASE WHEN doc_id % 4 = 0 THEN length(text) ELSE n_chars END) AS BIGINT)
                 AS sum_chars_filled
        FROM documents GROUP BY lang ORDER BY lang""")),

    // h7: MERGE-ON-READ DELETES — the third lakehouse mutation
    // discipline under the oracle (r32/r36 rewrite touched partitions
    // copy-on-write, r60 snapshots whole versions; h7 deletes WITHOUT
    // rewriting anything): the corpus as an immutable base file set
    // plus two appended equality-delete files (short docs, then German
    // docs — the second overlapping the first, so re-deletes must
    // collapse), reconciled at read time by one broadcast anti-join.
    // The oracle is the plain predicate complement over the original
    // table, so a reader that lost a delete file, double-applied the
    // overlap, or leaked a deleted row breaks the hash. At 100 TB the
    // delete of a million keys writes megabytes, and the read-side
    // anti-join stays broadcast-sized because compactDeletes folds
    // deletes into the base on a cadence (ScaleSpec pins that fold
    // preserves this exact view).
    Q("h7_merge_on_read",
      (s, d) => {
        // unified zero-argument read: pointer + hwm-fenced deletes
        // resolved from table metadata (_graft_key names the key column)
        graft.operators.GraftTable.read(s, morDocs(s, d))
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"),
            min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
          .orderBy("source")
      },
      Some("""
        SELECT source, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars,
               min(doc_id) AS first_doc, max(doc_id) AS last_doc
        FROM documents WHERE NOT (n_chars < 200 OR lang = 'de')
        GROUP BY source ORDER BY source""")),

    // h8: PARTITION-SPEC EVOLUTION READ — the fourth lakehouse layout
    // discipline: when a table's partitioning is changed (coarse
    // `lang=` → finer `lang=/source=`), old data is NEVER rewritten;
    // each generation keeps the spec it was written under and the
    // table is the catalog's union view over both. The query runs the
    // production read: a (lang, source) predicate over the union —
    // planning-time partition pruning applies PER GENERATION, to
    // whatever that generation's spec can express (gen1 prunes lang
    // dirs and row-filters source inside them; gen2 prunes both
    // levels — pinned structurally by CatalogIoSpec via inputFiles).
    // The oracle is the plain predicate over the original table, so a
    // union that misaligned the differing column orders (partition
    // cols trail file cols, differently per spec), dropped a
    // generation, or double-read one breaks the hash. At 100 TB spec
    // evolution is why yesterday's petabyte never gets rewritten when
    // today's query pattern wants finer pruning.
    Q("h8_partition_spec_evolution",
      (s, d) => {
        val (gen1, gen2) = specEvolvedDocs(s, d)
        s.read.parquet(gen1).unionByName(s.read.parquet(gen2))
          .filter(col("lang") === "en" && col("source") =!= "src0")
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"),
            min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
          .orderBy("source")
      },
      Some("""
        SELECT source, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars,
               min(doc_id) AS first_doc, max(doc_id) AS last_doc
        FROM documents
        WHERE lang = 'en' AND source <> 'src0'
        GROUP BY source ORDER BY source""")),

    // b1: BINARY-FILE SOURCE — Spark's `binaryFile` format is how a
    // multimodal corpus enters the engine: a directory of opaque blobs
    // becomes (path, modificationTime, length, content) rows, one task
    // per file, content untouched bytes. The gate reads the shard dir
    // back and emits per-shard (source, byte length, md5-of-content);
    // the oracle RE-DERIVES the exact byte stream from the documents
    // table (string_agg in doc_id order, octet_length, md5), so a
    // dropped shard, an encoding mangle, or a reordered concatenation
    // all break the digest. Scale: binaryFile parallelizes per file
    // with pushed path filters (pathGlobFilter/recursiveFileLookup);
    // content never deserializes — this is m1–m8's ingest seam done as
    // a real source instead of a parquet stand-in.
    Q("b1_binary_ingest",
      (s, d) => {
        val root = binaryShards(s, d)
        s.read.format("binaryFile").load(root)
          .select(regexp_extract(col("path"), "([^/]+)\\.bin$", 1).as("source"),
            col("length").as("n_bytes"), md5(col("content")).as("digest"))
          .orderBy("source")
      },
      Some("""
        SELECT source, CAST(octet_length(encode(blob)) AS BIGINT) AS n_bytes,
               md5(blob) AS digest
        FROM (SELECT source, string_agg(text, chr(10) ORDER BY doc_id) AS blob
              FROM documents
              WHERE ('0x' || substr(md5('bin' || CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT * 1000 < 50 * 65536
              GROUP BY source)
        ORDER BY source""")),

    // m9: BLOB RECORD-IZATION — the step after b1 in a real multimodal
    // ingest: the opaque shard bytes become RECORDS (decode UTF-8,
    // split on the record separator, posexplode keeps arrival order)
    // and each record gets a content fingerprint — the handoff from
    // binary ingest to the dedup pipeline (t1's fingerprint law on
    // records that never touched a parquet writer). The oracle
    // re-derives records straight from the documents table (the
    // separator is injective here: the corpus has zero embedded
    // newlines, asserted cheaply by n_records == the sampled doc
    // count), so a lost record, a split-eaten empty line, or an
    // encoding mangle all break counts or fingerprints. Scale: one
    // task per blob, decode+split row-local; records flow into the
    // same partial-agg shuffle any parquet scan would feed.
    Q("m9_blob_recordize",
      (s, d) => {
        val root = binaryShards(s, d)
        s.read.format("binaryFile").load(root)
          .select(regexp_extract(col("path"), "([^/]+)\\.bin$", 1).as("source"),
            posexplode(split(decode(col("content"), "UTF-8"), "\n"))
              .as(Seq("rec_idx", "rec")))
          .withColumn("fp", md5(col("rec")))
          .groupBy("source")
          .agg(count(lit(1)).as("n_records"),
            sum(length(col("rec")).cast("long")).as("sum_chars"),
            countDistinct(col("fp")).as("n_distinct"))
          .orderBy("source")
      },
      Some("""
        SELECT source, count(*) AS n_records,
               CAST(sum(length(text)) AS BIGINT) AS sum_chars,
               CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_distinct
        FROM documents
        WHERE ('0x' || substr(md5('bin' || CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT * 1000 < 50 * 65536
        GROUP BY source ORDER BY source""")),

    // h9: DYNAMIC PARTITION OVERWRITE READ — the refresh discipline on
    // top of h1's hive layout: the table is yesterday's snapshot except
    // for the two lang partitions today's batch replaced wholesale
    // (dynamic mode: only partitions PRESENT in the batch are swapped;
    // the rest keep their original files — pinned byte-for-byte by
    // CatalogIoSpec). The aggregate sees the merged state, so a mode
    // mixup is loud in the hash: static overwrite drops es/fr/zh
    // entirely (rows vanish), append instead of overwrite double-counts
    // en/de's carried-over rows. The oracle states the expected merged
    // state directly: full current content for the replaced partitions,
    // the stale snapshot for the rest. At 100 TB this is the daily
    // refresh that rewrites 2 partitions instead of the table.
    Q("h9_dynamic_partition_overwrite",
      (s, d) => {
        val root = dynOverwrittenDocs(s, d)
        s.read.parquet(root)
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"),
            min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
          .orderBy("lang")
      },
      Some("""
        SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars,
               min(doc_id) AS first_doc, max(doc_id) AS last_doc
        FROM documents
        WHERE lang IN ('en', 'de') OR doc_id % 7 <> 0
        GROUP BY lang ORDER BY lang""")),

    // r60: SNAPSHOT TIME-TRAVEL DIFF — what arrived between version 0
    // and the latest commit of the snapshot table, computed as a
    // left-anti join of the current read against the PINNED historical
    // read ([[graft.operators.Scale.readSnapshot]] with an explicit
    // version). This puts the copy-on-write commit protocol under the
    // oracle the way r32 pins upsert: the layout is built by the real
    // writeSnapshot path, v0 is immutable by construction, so the diff
    // equals the plain predicate complement over the source table. The
    // anti join is one broadcast-or-shuffled equijoin on the unique key
    // — the standard CDC-derivation shape between any two snapshots at
    // any scale.
    Q("r60_snapshot_diff",
      (s, d) => {
        val p = snapshotDocs(s, d)
        val cur = graft.operators.Scale.readSnapshot(s, p)
        val prev = graft.operators.Scale.readSnapshot(s, p, Some(0L))
        cur.join(prev.select("doc_id"), Seq("doc_id"), "left_anti")
          .select(col("doc_id"), col("lang"), col("n_chars"))
          .orderBy("doc_id")
      },
      Some("""
        SELECT doc_id, lang, n_chars FROM documents
        WHERE n_chars <= 100 ORDER BY doc_id""")),

    // r88: CHANGE-FEED READ — the CDC-CONSUMER half of the lakehouse
    // contract that r60 only approximates: r60 DERIVES "what's new" by
    // diffing two full snapshot reads (O(table) however small the
    // delta); r88 reads the row-level changes the COMMIT recorded
    // ([[graft.operators.Scale.writeSnapshotCdf]] — the Delta CDF
    // shape), touching only `_cdf/v=…` files, O(changed rows), across
    // two commits. The oracle is the from-scratch FULL-TABLE DIFF of
    // the v0 and v2 contents (reconstructed by predicate over the
    // source table), so the recorded feed must equal the point diff
    // exactly — a feed that lost a change, attributed an update as
    // insert+delete, or leaked an unchanged row breaks the hash. The
    // gate's change sets touch no key twice, which is precisely the
    // condition under which feed-union ≡ point-diff.
    Q("r88_change_feed_read",
      (s, d) => {
        val p = cdfDocs(s, d)
        graft.operators.Scale.readChangesBetween(s, p, 0L, 2L)
          .select(col("doc_id"), col("source"), col("lang"), col("n_chars"),
            col("_change_type").as("change_type"))
          .orderBy("doc_id", "change_type")
      },
      Some("""
        WITH v0 AS MATERIALIZED (
          SELECT doc_id, source, lang, n_chars FROM documents
          WHERE doc_id % 3 = 0),
        v2 AS MATERIALIZED (
          SELECT doc_id, source, lang,
                 CASE WHEN doc_id % 3 = 0 AND source = 'src5'
                      THEN n_chars + 7 ELSE n_chars END AS n_chars
          FROM documents
          WHERE (doc_id % 3 = 0 AND NOT (lang = 'de' AND source <> 'src5'))
             OR doc_id % 3 = 1),
        chg AS (
          SELECT v0.doc_id FROM v0 JOIN v2 USING (doc_id)
          WHERE v0.n_chars <> v2.n_chars OR v0.source <> v2.source
             OR v0.lang <> v2.lang)
        SELECT * FROM (
          SELECT v2.*, 'insert' AS change_type FROM v2
          WHERE doc_id NOT IN (SELECT doc_id FROM v0)
          UNION ALL
          SELECT v0.*, 'delete' FROM v0
          WHERE doc_id NOT IN (SELECT doc_id FROM v2)
          UNION ALL
          SELECT v0.*, 'update_preimage' FROM v0 JOIN chg USING (doc_id)
          UNION ALL
          SELECT v2.*, 'update_postimage' FROM v2 JOIN chg USING (doc_id))
        ORDER BY doc_id, change_type""")),

    // r89: INCREMENTAL AGGREGATE MAINTENANCE FROM THE CHANGE FEED — the
    // consumer end-use r88's read exists for, and the CDF twin of r81
    // (which refreshes from delta PARTITIONS): a per-lang pre-aggregate
    // materialized at v0 is rolled forward to v2 by folding ONLY the
    // recorded changes — inserts/update-postimages count +1, deletes/
    // update-preimages count −1, n_chars signed the same way — then
    // merged with the base by one group-keyed outer join. Nothing ever
    // rescans a version: the maintenance cost is O(changed rows) +
    // O(groups), which is the entire point of a change feed at 100 TB
    // (r60's derive-by-diff pays O(table) for the same answer). The
    // oracle aggregates the reconstructed v2 contents from scratch, so
    // a sign error, a missed change type, or a double-applied update
    // breaks the hash; groups whose count reaches zero must VANISH
    // (filter n > 0), exactly like a deleted partition.
    Q("r89_cdf_incremental_agg",
      (s, d) => {
        val p = cdfDocs(s, d)
        val base = graft.operators.Scale.readSnapshot(s, p, Some(0L))
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
        val deltas = graft.operators.Scale.readChangesBetween(s, p, 0L, 2L)
          .select(col("lang"), col("n_chars"),
            when(col("_change_type").isin("insert", "update_postimage"), lit(1L))
              .otherwise(lit(-1L)).as("sign"))
          .groupBy("lang")
          .agg(sum(col("sign")).as("dn"),
            sum(col("sign") * col("n_chars")).as("dchars"))
        base.join(deltas, Seq("lang"), "full_outer")
          .select(col("lang"),
            (coalesce(col("n_docs"), lit(0L)) + coalesce(col("dn"), lit(0L))).as("n_docs"),
            (coalesce(col("sum_chars"), lit(0L)) + coalesce(col("dchars"), lit(0L))).as("sum_chars"))
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

    // r90: KEY-CHURNING MULTI-HOP CDF — r88's gate table deliberately
    // never touches a key twice (the condition under which feed-union
    // ≡ point-diff); r90 is the adversarial complement: the doc_id%8=0
    // keys are INSERTED (v0) → UPDATED (v1, +3) → DELETED (v2) →
    // RE-INSERTED (v3, fresh +11 values) across four commits. Under
    // churn a consumer cannot union the feed rows — it must FOLD them
    // in commit order: last change per key wins (update_preimage is
    // bookkeeping), a final delete erases the key, a later re-insert
    // resurrects it with the NEW row; untouched keys keep their v0
    // row. The reconstruction must equal the from-scratch v3 (oracle
    // by predicate), and — in-band — the r89 signed-count consumer
    // folded over the SAME churning feed must reconcile with the
    // reconstruction's own aggregate (signed counts are churn-safe by
    // algebra; proven here, not assumed). Scale: the fold is one
    // row_number window over the FEED (O(changed rows)) plus one
    // anti-join against v0 — history is never rescanned.
    Q("r90_cdf_key_churn",
      (s, d) => {
        val p = churnDocs(s, d)
        val feed = graft.operators.Scale.readChangesBetween(s, p, 0L, 3L)
        // premise: real churn — some key appears in >= 3 commits
        val churned = feed.groupBy("doc_id")
          .agg(countDistinct(col("_commit_version")).as("nc"))
          .filter(col("nc") >= 3).limit(1).count()
        require(churned > 0, "r90 premise: no key churns across >= 3 commits")
        val v0 = graft.operators.Scale.readSnapshot(s, p, Some(0L))
        val alive = graft.operators.Scale.cdfLatestChanges(feed, "doc_id")
          .filter(col("_change_type") =!= "delete")
          .select("doc_id", "source", "lang", "n_chars")
        val untouched = v0.join(feed.select("doc_id").distinct(),
          Seq("doc_id"), "left_anti")
        val rec = alive.unionByName(untouched)
        // in-band: the r89 signed-count fold reconciles under churn
        val baseAgg = v0.groupBy("lang")
          .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sc"))
        val deltas = feed.select(col("lang"), col("n_chars"),
            when(col("_change_type").isin("insert", "update_postimage"), lit(1L))
              .otherwise(lit(-1L)).as("sign"))
          .groupBy("lang")
          .agg(sum(col("sign")).as("dn"), sum(col("sign") * col("n_chars")).as("dsc"))
        val rolled = baseAgg.join(deltas, Seq("lang"), "full_outer")
          .select(col("lang"),
            (coalesce(col("n"), lit(0L)) + coalesce(col("dn"), lit(0L))).as("n"),
            (coalesce(col("sc"), lit(0L)) + coalesce(col("dsc"), lit(0L))).as("sc"))
          .filter(col("n") > 0)
        val direct = rec.groupBy("lang")
          .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sc"))
        require(rolled.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet ==
          direct.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet,
          "r90: the r89 signed-count consumer diverged from the reconstruction under key churn")
        rec.orderBy("doc_id")
      },
      Some("""
        SELECT doc_id, source, lang, n_chars FROM documents
        WHERE doc_id % 4 = 0 AND doc_id % 8 <> 0
        UNION ALL
        SELECT doc_id, source, lang, n_chars FROM documents
        WHERE doc_id % 4 = 1 AND lang <> 'de'
        UNION ALL
        SELECT doc_id, source, lang, n_chars + 11 FROM documents
        WHERE doc_id % 8 = 0
        ORDER BY doc_id""")),

    // r91: NON-TRIVIALLY-MERGEABLE INCREMENTAL MAINTENANCE — r89
    // maintains count/sum, a commutative group where deltas simply
    // add; r91 maintains a BOUNDED TOP-K PER GROUP, which has no
    // subtraction at all: the state is only a SEMILATTICE under union
    // (merge = topK of the merged states), so the maintainable
    // contract is append-only feeds — asserted in-band, not assumed
    // (a delete would need the evicted k+1-th row the state no longer
    // holds; that path is full-recompute by design). The v0 top-k
    // state (k rows per lang — the ONLY thing kept from history) is
    // merged with the feed's insert rows through the same bounded
    // TopK aggregate that built it, and the result must equal the
    // from-scratch top-k over the final contents (oracle). Cost:
    // O(changed rows + k·groups) per refresh; v0's full contents are
    // never rescanned — the 100 TB property that makes materialized
    // top-k dashboards maintainable from a change feed.
    Q("r91_cdf_topk_maintenance",
      (s, d) => {
        val p = cdfAppendDocs(s, d)
        val k = 5
        // bounded state materialized at v0 (descending n_chars via
        // negation — the documented topNPerKeyAgg contract)
        val state0 = graft.operators.Relational.topNPerKeyAgg(
          graft.operators.Scale.readSnapshot(s, p, Some(0L))
            .select(col("lang"), (-col("n_chars")).as("neg"), col("doc_id")),
          Seq("lang"), Seq("neg", "doc_id"), k).drop("rnk")
        val feed = graft.operators.Scale.readChangesBetween(s, p, 0L, 2L)
        // in-band contract: top-k state is mergeable ONLY under inserts
        require(feed.filter(col("_change_type") =!= "insert").limit(1).count() == 0L,
          "r91: top-k maintenance requires an append-only feed")
        val delta = feed.select(col("lang"), (-col("n_chars")).as("neg"), col("doc_id"))
        graft.operators.Relational.topNPerKeyAgg(
          state0.unionByName(delta), Seq("lang"), Seq("neg", "doc_id"), k)
          .select(col("lang"), (-col("neg")).as("n_chars"), col("doc_id"),
            col("rnk").cast("long").as("rnk"))
          .orderBy("lang", "rnk")
      },
      Some("""
        WITH ranked AS (
          SELECT lang, n_chars, doc_id,
                 row_number() OVER (PARTITION BY lang
                   ORDER BY n_chars DESC, doc_id ASC) AS rnk
          FROM documents)
        SELECT lang, n_chars, doc_id, CAST(rnk AS BIGINT) AS rnk
        FROM ranked WHERE rnk <= 5 ORDER BY lang, rnk""")),

    // r92: DELETE-TOLERANT TOP-K MAINTENANCE VIA SLACK — r91's honest
    // limit is append-only feeds (top-k state has no subtraction); the
    // production answer is SLACK: materialize top-(k+slack) per group,
    // so up to `slack` state-resident deletions per group still leave
    // ≥ k stored rows that provably dominate every never-stored row
    // (they were the k+slack best). The fold over r90's CHURNING feed:
    // touched keys' rows leave the state, each key's FINAL alive
    // version re-enters, and the bounded TopK aggregate re-merges. A
    // group whose state lost MORE than `slack` rows is flagged and
    // recomputed from the live table — the explicit escape hatch,
    // never a silent wrong answer (at the sf0.01 gate corpus the en/zh
    // groups flag and recompute while de/es/fr ride the slack path —
    // both branches land under ONE full-recompute oracle). Refresh cost:
    // O(changed rows + (k+slack)·groups) plus a per-FLAGGED-group
    // rescan — the knob (slack vs rescan frequency) a 100 TB
    // leaderboard pipeline actually tunes.
    Q("r92_cdf_topk_slack_maintenance",
      (s, d) => {
        val p = churnDocs(s, d)
        val (k, slack) = (5, 4)
        def prep(df: org.apache.spark.sql.DataFrame) =
          df.select(col("lang"), (-col("n_chars")).as("neg"), col("doc_id"))
        val state0 = graft.operators.Relational.topNPerKeyAgg(
          prep(graft.operators.Scale.readSnapshot(s, p, Some(0L))),
          Seq("lang"), Seq("neg", "doc_id"), k + slack).drop("rnk")
        val feed = graft.operators.Scale.readChangesBetween(s, p, 0L, 3L)
        val touched = feed.select("doc_id").distinct()
        val finalAlive = graft.operators.Scale.cdfLatestChanges(feed, "doc_id")
          .filter(col("_change_type") =!= "delete")
        val survivors = state0.join(touched, Seq("doc_id"), "left_anti")
        val flagged = state0.join(touched, Seq("doc_id"), "left_semi")
          .groupBy("lang").agg(count(lit(1)).as("__d"))
          .filter(col("__d") > slack).select("lang")
        val merged = graft.operators.Relational.topNPerKeyAgg(
          survivors.unionByName(prep(finalAlive)),
          Seq("lang"), Seq("neg", "doc_id"), k)
        val okPart = merged.join(flagged, Seq("lang"), "left_anti")
        val recomputed = graft.operators.Relational.topNPerKeyAgg(
          prep(graft.operators.Scale.readSnapshot(s, p)
            .join(flagged, Seq("lang"), "left_semi")),
          Seq("lang"), Seq("neg", "doc_id"), k)
        okPart.unionByName(recomputed)
          .select(col("lang"), (-col("neg")).as("n_chars"), col("doc_id"),
            col("rnk").cast("long").as("rnk"))
          .orderBy("lang", "rnk")
      },
      Some("""
        WITH v3 AS (
          SELECT doc_id, lang, n_chars FROM documents
          WHERE doc_id % 4 = 0 AND doc_id % 8 <> 0
          UNION ALL
          SELECT doc_id, lang, n_chars FROM documents
          WHERE doc_id % 4 = 1 AND lang <> 'de'
          UNION ALL
          SELECT doc_id, lang, n_chars + 11 FROM documents WHERE doc_id % 8 = 0),
        ranked AS (
          SELECT lang, n_chars, doc_id,
                 row_number() OVER (PARTITION BY lang
                   ORDER BY n_chars DESC, doc_id ASC) AS rnk
          FROM v3)
        SELECT lang, n_chars, doc_id, CAST(rnk AS BIGINT) AS rnk
        FROM ranked WHERE rnk <= 5 ORDER BY lang, rnk""")),

    // r93: DELETE-SAFE INCREMENTAL DISTINCT-COUNT MAINTENANCE — the
    // remaining half of the "non-trivially-mergeable state" family:
    // r91/r92 maintain bounded top-k (a union semilattice, append-only
    // or slack-tolerant); COUNT DISTINCT has the OPPOSITE problem —
    // sketches (HLL) union cheaply but cannot subtract, so a churning
    // feed forces the EXACT refcount formulation: the state is one row
    // per live (group, value) pair with its multiplicity, and the CDF
    // fold is pure algebra — insert/update_postimage +1, delete/
    // update_preimage −1 on the (lang, n_chars) pair, merged with the
    // v0 refcounts by one group-keyed outer join; a pair whose count
    // reaches zero leaves the distinct set, a brand-new pair enters it.
    // Exactness + delete-safety costs state ∝ |distinct pairs| (vs
    // HLL's O(1) insert-only sketch) — the honest tradeoff a 100 TB
    // dashboard picks per column; refresh cost is O(changed rows +
    // touched pairs), history never rescanned. The vanish path is
    // asserted in-band (some refcount must actually hit zero through
    // the churning feed), and the oracle recomputes DISTINCT from the
    // reconstructed final contents from scratch.
    Q("r93_cdf_distinct_maintenance",
      (s, d) => {
        val p = churnDocs(s, d)
        val base = graft.operators.Scale.readSnapshot(s, p, Some(0L))
          .groupBy("lang", "n_chars").agg(count(lit(1)).as("rc"))
        val deltas = graft.operators.Scale.readChangesBetween(s, p, 0L, 3L)
          .select(col("lang"), col("n_chars"),
            when(col("_change_type").isin("insert", "update_postimage"), lit(1L))
              .otherwise(lit(-1L)).as("sign"))
          .groupBy("lang", "n_chars").agg(sum(col("sign")).as("drc"))
        val merged = base.join(deltas, Seq("lang", "n_chars"), "full_outer")
          .select(col("lang"), col("n_chars"),
            (coalesce(col("rc"), lit(0L)) + coalesce(col("drc"), lit(0L))).as("rc"))
        require(merged.filter(col("rc") === 0).limit(1).count() > 0,
          "r93 premise: the churning feed must drive some refcount to zero")
        merged.filter(col("rc") > 0)
          .groupBy("lang")
          .agg(count(lit(1)).as("n_vals"), sum(col("rc")).as("n_docs"))
          .orderBy("lang")
      },
      Some("""
        WITH v3 AS (
          SELECT doc_id, lang, n_chars FROM documents
          WHERE doc_id % 4 = 0 AND doc_id % 8 <> 0
          UNION ALL
          SELECT doc_id, lang, n_chars FROM documents
          WHERE doc_id % 4 = 1 AND lang <> 'de'
          UNION ALL
          SELECT doc_id, lang, n_chars + 11 FROM documents WHERE doc_id % 8 = 0)
        SELECT lang, CAST(count(DISTINCT n_chars) AS BIGINT) AS n_vals,
               count(*) AS n_docs
        FROM v3 GROUP BY lang ORDER BY lang""")),

    // r94: CDF SQUASH — compose a multi-commit feed into the NET change
    // set, from the feed ALONE (no snapshot is ever read): the feed
    // itself reveals prior existence (a key whose first event is an
    // insert was absent at the range start; one whose first event is an
    // update_preimage/delete was present, and THAT row IS its start-of-
    // range image) and final state (last non-preimage event). The fold
    // is two bounded windows over the feed — O(changed rows) — and the
    // classification is pure algebra: existed+dead → net delete,
    // existed+alive → net update (suppressed when the row churned back
    // to its original value), absent+alive → net insert, absent+dead →
    // TRANSIENT (a key born and killed inside the range) which must
    // vanish from the squash entirely — asserted in-band, as is the
    // net-delete path on the 0..2 prefix (where the %8 keys die before
    // their v3 resurrection). This is what ships a day of micro-commits
    // downstream as one compact diff; the oracle is the from-scratch
    // point diff of the reconstructed endpoint contents (r88's shape,
    // but under churn, where naive feed-union is wrong).
    Q("r94_cdf_squash",
      (s, d) => {
        val p = churnDocs(s, d)
        val dataCols = Seq("doc_id", "source", "lang", "n_chars")
        // the squash fold itself is [[graft.operators.Scale.cdfSquash]]
        // (round 18 materialized it as the storage-level checkpoint
        // write behind squashFeed/r96); this gate keeps pinning the
        // QUERY-level semantics: first event reveals prior existence,
        // last non-preimage event reveals final state, transients vanish
        def net(feed: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
          graft.operators.Scale.cdfSquash(feed, "doc_id")
            .withColumnRenamed("_change_type", "change_type")
        val feed03 = graft.operators.Scale.readChangesBetween(s, p, 0L, 3L)
        // premise: transient keys exist in the feed and vanish from the
        // squash (the de inserts killed one commit later)
        val squashed = net(feed03)
        val touched = feed03.select("doc_id").distinct().count()
        require(squashed.select("doc_id").distinct().count() < touched,
          "r94 premise: no transient key vanished in the squash")
        // the net-delete branch is CONTENT-verified on the 0..2 prefix,
        // where the churned keys are dead and not yet resurrected: each
        // emitted delete must carry the key's START-of-range image (the
        // v0 row) — for the churned keys that differs from the
        // deletion-time image (+3), so emitting the wrong side is loud
        val dels = net(graft.operators.Scale.readChangesBetween(s, p, 0L, 2L))
          .filter(col("change_type") === "delete")
          .select(dataCols.map(col): _*)
        val expected = graft.operators.Scale.readSnapshot(s, p, Some(0L))
          .join(graft.operators.Scale.readSnapshot(s, p, Some(2L)),
            Seq("doc_id"), "left_anti")
          .select(dataCols.map(col): _*)
        // multiset equality by collision-resistant signature (count +
        // two independent xxhash64 sums — the r98 pattern): one tiny
        // aggregate per side instead of two exceptAll shuffles over
        // frames that each re-derive the squash fold
        def sigR(df: org.apache.spark.sql.DataFrame): (Long, Long, Long) = {
          val r = df.agg(count(lit(1)),
            sum(pmod(xxhash64(dataCols.map(col): _*), lit(2147483647L))),
            sum(pmod(xxhash64((dataCols.reverse.map(col) :+ lit(7)): _*),
              lit(2147483629L)))).head()
          (r.getLong(0),
            if (r.isNullAt(1)) 0L else r.getLong(1),
            if (r.isNullAt(2)) 0L else r.getLong(2))
        }
        val (delSig, expSig) = (sigR(dels), sigR(expected))
        require(delSig._1 > 0 && delSig == expSig,
          "r94 premise: 0..2 net deletes must equal the v0 rows of keys dead at v2")
        squashed.orderBy("doc_id", "change_type")
      },
      Some("""
        SELECT doc_id, source, lang, n_chars, change_type FROM (
          SELECT doc_id, source, lang, n_chars, 'insert' AS change_type
          FROM documents WHERE doc_id % 4 = 1 AND lang <> 'de'
          UNION ALL
          SELECT doc_id, source, lang, n_chars, 'update_preimage'
          FROM documents WHERE doc_id % 8 = 0
          UNION ALL
          SELECT doc_id, source, lang, n_chars + 11, 'update_postimage'
          FROM documents WHERE doc_id % 8 = 0)
        ORDER BY doc_id, change_type""")),

    // r95: ADDITIVE SCHEMA EVOLUTION THROUGH THE CHANGE FEED — the
    // Delta-CDF rule: a commit may ADD columns (the previous version is
    // null-padded for the diff, so a row whose only change is a new
    // column becoming non-null records as an update, and unchanged rows
    // stay OUT of the feed even across the evolution commit); drops and
    // retypes stay loud errors. The consumer side is the other half:
    // readChangesBetween unions feeds of DIFFERENT widths, so rows
    // recorded before the column existed surface with NULL for it —
    // asserted in-band on both sides of the evolution point. The r90
    // reconstruction fold then runs unchanged across the width change,
    // and the oracle recomputes the final contents (with the partial
    // backfill) from scratch. At 100 TB this is the only viable ALTER
    // TABLE: no version is rewritten, no feed is migrated — old feeds
    // stay byte-identical and WIDEN at read time.
    Q("r95_cdf_schema_evolution",
      (s, d) => {
        val p = evolveDocs(s, d)
        val feed = graft.operators.Scale.readChangesBetween(s, p, 0L, 2L)
        // the span crosses the evolution point: pre-evolution feed rows
        // widen to NULL quality, post-evolution updates carry values
        require(feed.filter(col("_commit_version") === 1 &&
            col("quality").isNotNull).limit(1).count() == 0,
          "r95 premise: pre-evolution feed rows must surface with NULL quality")
        require(feed.filter(col("_commit_version") === 2 &&
            col("quality").isNotNull).limit(1).count() > 0,
          "r95 premise: the evolution commit must record backfilled quality")
        val v0 = graft.operators.Scale.readSnapshot(s, p, Some(0L))
          .withColumn("quality", lit(null).cast("long"))
        val alive = graft.operators.Scale.cdfLatestChanges(feed, "doc_id")
          .filter(col("_change_type") =!= "delete")
          .select("doc_id", "lang", "n_chars", "quality")
        val untouched = v0.join(feed.select("doc_id").distinct(),
          Seq("doc_id"), "left_anti")
        alive.unionByName(untouched).orderBy("doc_id")
      },
      Some("""
        SELECT doc_id, lang,
               CASE WHEN lang = 'en' THEN n_chars + 5 ELSE n_chars END AS n_chars,
               CAST(NULL AS BIGINT) AS quality
        FROM documents WHERE doc_id % 3 = 0
        UNION ALL
        SELECT doc_id, lang, n_chars, n_chars % 7 AS quality
        FROM documents WHERE doc_id % 3 = 1 AND lang <> 'de'
        ORDER BY doc_id""")),

    // r96: CHECKPOINTED CHANGE-FEED COMPACTION — the storage-level
    // materialization of r94's squash, closing the CDC family's one
    // remaining O(commits) cost: readChangesBetween used to union one
    // `_cdf/v=…` dir PER COMMIT, so a long-lived table's incremental
    // refresh paid listing+union proportional to commit count however
    // small the net change. The gate table carries SEVEN commits of
    // multi-hop churn plus a squashFeed checkpoint over (0..4]; the
    // anchored read transparently serves [checkpoint + v5 + v6] — its
    // event rows are asserted strictly FEWER than the raw 6-dir union
    // (feed-scan cost bounded by net changes, not commits) — and the
    // consumers must not be able to tell: the reconstruction fold over
    // the checkpointed read must equal the fold over the raw read
    // row-for-row, the r89 signed-count consumer folded over the
    // checkpointed feed must reconcile with the reconstruction's own
    // aggregate (squash-invariance of the linear fold, proven in-band,
    // not assumed), and the final contents must equal the from-scratch
    // oracle. Transients (born+killed inside the checkpoint range)
    // vanish from the squash; churned keys cross the checkpoint
    // boundary (re-born inside it, updated again in the tail).
    Q("r96_cdf_checkpoint_read",
      (s, d) => {
        val p = churn6Docs(s, d)
        val dataCols = Seq("doc_id", "source", "lang", "n_chars")
        val ckpt = graft.operators.Scale.readChangesBetween(s, p, 0L, 6L)
        val raw = graft.operators.Scale.readChangesBetween(s, p, 0L, 6L,
          useCheckpoints = false)
        // premise: the checkpoint actually served the anchored read —
        // its events carry only the squash stamp (4) plus the tail
        val ckptVers = ckpt.select("_commit_version").distinct()
          .collect().map(_.getLong(0)).toSet
        require(ckptVers == Set(4L, 5L, 6L),
          s"r96 premise: checkpointed read must span {4,5,6}, got $ckptVers")
        // the scale property: event rows bounded by net changes + tail,
        // strictly below the raw per-commit union under churn
        val (nCkpt, nRaw) = (ckpt.count(), raw.count())
        require(nCkpt < nRaw,
          s"r96 premise: squash must shrink the feed ($nCkpt vs $nRaw)")
        val v0 = graft.operators.Scale.readSnapshot(s, p, Some(0L))
        def reconstruct(feed: org.apache.spark.sql.DataFrame) = {
          val alive = graft.operators.Scale.cdfLatestChanges(feed, "doc_id")
            .filter(col("_change_type") =!= "delete")
            .select(dataCols.map(col): _*)
          alive.unionByName(v0.join(feed.select("doc_id").distinct(),
            Seq("doc_id"), "left_anti"))
        }
        val recC = reconstruct(ckpt)
        val recR = reconstruct(raw)
        // multiset equality by collision-resistant signature (count +
        // two independent xxhash64 sums — the r98 pattern) instead of
        // two exceptAll shuffles that each re-derive a reconstruction
        def sigR(df: org.apache.spark.sql.DataFrame): (Long, Long, Long) = {
          val r = df.agg(count(lit(1)),
            sum(pmod(xxhash64(dataCols.map(col): _*), lit(2147483647L))),
            sum(pmod(xxhash64((dataCols.reverse.map(col) :+ lit(7)): _*),
              lit(2147483629L)))).head()
          (r.getLong(0),
            if (r.isNullAt(1)) 0L else r.getLong(1),
            if (r.isNullAt(2)) 0L else r.getLong(2))
        }
        require(sigR(recC) == sigR(recR),
          "r96: checkpointed and raw feed reads must reconcile row-for-row")
        // the r89 signed-count consumer over the CHECKPOINTED feed:
        // inserts/postimages +1, deletes/preimages −1 — squash-invariant
        // because intermediate hops telescope; proven against the
        // reconstruction's own aggregate
        val baseAgg = v0.groupBy("lang")
          .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sc"))
        val deltas = ckpt.select(col("lang"), col("n_chars"),
            when(col("_change_type").isin("insert", "update_postimage"), lit(1L))
              .otherwise(lit(-1L)).as("sign"))
          .groupBy("lang")
          .agg(sum(col("sign")).as("dn"), sum(col("sign") * col("n_chars")).as("dsc"))
        val rolled = baseAgg.join(deltas, Seq("lang"), "full_outer")
          .select(col("lang"),
            (coalesce(col("n"), lit(0L)) + coalesce(col("dn"), lit(0L))).as("n"),
            (coalesce(col("sc"), lit(0L)) + coalesce(col("dsc"), lit(0L))).as("sc"))
          .filter(col("n") > 0)
        val direct = recC.groupBy("lang")
          .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sc"))
        require(rolled.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet ==
          direct.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet,
          "r96: the signed-count consumer diverged across the checkpoint boundary")
        recC.orderBy("doc_id")
      },
      Some("""
        SELECT doc_id, source, lang, n_chars + 26 AS n_chars
        FROM documents WHERE doc_id % 10 = 0
        UNION ALL
        SELECT doc_id, source, lang, n_chars FROM documents
        WHERE doc_id % 5 = 0 AND doc_id % 10 <> 0
        UNION ALL
        SELECT doc_id, source, lang, n_chars + 2 FROM documents
        WHERE doc_id % 5 = 1 AND lang NOT IN ('de', 'fr')
        UNION ALL
        SELECT doc_id, source, lang, n_chars FROM documents
        WHERE doc_id % 5 = 2 AND lang = 'en' AND source <> 'src3'
        UNION ALL
        SELECT doc_id, source, lang, n_chars FROM documents
        WHERE doc_id % 5 = 3 AND lang = 'de'
        ORDER BY doc_id""")),

    // r97: COLUMN-MAPPING SCHEMA EVOLUTION (RENAME) — r95 covers ADDs;
    // rename used to be a loud error because without a logical→physical
    // layer it would either rewrite every version + feed (O(history) at
    // 100 TB for a metadata change) or silently fork a second column.
    // Scale now keeps Delta-style column mapping in `_colmap`: files —
    // data dirs, feeds, checkpoints, index manifests — keep the
    // PHYSICAL name a column was born with forever; rename is one
    // atomic metadata write; writers speak current logical names
    // (stale names fail loudly); every read maps physical→logical at
    // plan time. Proven in-band: the 0..2 feed SPANS the rename and
    // surfaces pre-rename rows under the new name with values intact;
    // the physical parquet schema of the post-rename version still
    // carries the old name (nothing rewritten); time travel to v0
    // reads under the new name; and file skipping on the RENAMED
    // column still fires (predicates push through the mapping aliases
    // to the physical zone index). Output: the reconstruction across
    // the rename, against a from-scratch oracle phrased in the new
    // name.
    Q("r97_cdf_column_rename",
      (s, d) => {
        val p = renameDocs(s, d)
        val feed = graft.operators.Scale.readChangesBetween(s, p, -1L, 2L)
        require(feed.columns.contains("length_chars") &&
            !feed.columns.contains("n_chars"),
          "r97 premise: the feed must surface the renamed column only")
        require(feed.filter(col("_commit_version") === 1 &&
            col("length_chars").isNotNull).limit(1).count() > 0,
          "r97 premise: pre-rename feed rows must carry their values under the new name")
        val physCols = s.read.parquet(s"$p/v=2").schema.fieldNames.toSet
        require(physCols.contains("n_chars") && !physCols.contains("length_chars"),
          "r97 premise: rename must be metadata-only — no data rewrite")
        val v0 = graft.operators.Scale.readSnapshot(s, p, Some(0L))
        require(v0.columns.contains("length_chars"),
          "r97 premise: time travel must read old versions under the new name")
        // skipping on the renamed column: the zone index was built on
        // the physical column before the rename and never rebuilt
        val stats = graft.operators.GraftTable.read(s, p)
          .agg(min("length_chars"), max("length_chars")).head()
        val cut = stats.getLong(0) + (stats.getLong(1) - stats.getLong(0)) / 8
        val pruned = graft.operators.GraftTable.read(s, p)
          .filter(col("length_chars") <= cut)
        val (fRead, fTotal) = graft.operators.GraftTable.scanFiles(pruned)
        require(fTotal >= 4 && fRead < fTotal,
          s"r97: skipping on the renamed column died: $fRead of $fTotal files")
        // reconstruction across the rename (the r90 fold, unchanged)
        val chg = graft.operators.Scale.readChangesBetween(s, p, 0L, 2L)
        val alive = graft.operators.Scale.cdfLatestChanges(chg, "doc_id")
          .filter(col("_change_type") =!= "delete")
          .select("doc_id", "lang", "length_chars")
        val untouched = v0.join(chg.select("doc_id").distinct(),
          Seq("doc_id"), "left_anti")
        alive.unionByName(untouched).orderBy("doc_id")
      },
      Some("""
        SELECT doc_id, lang,
               CASE WHEN lang = 'en' THEN n_chars + 5
                    WHEN lang = 'de' THEN n_chars + 7
                    ELSE n_chars END AS length_chars
        FROM documents WHERE doc_id % 3 = 0
        UNION ALL
        SELECT doc_id, lang, n_chars AS length_chars
        FROM documents WHERE doc_id % 3 = 1 AND lang = 'fr'
        ORDER BY doc_id""")),

    // r98: MERGE-ON-READ DERIVED CHANGE FEED — the CDC surface the MoR
    // lineage lacked: snapshot tables RECORD a feed at commit time
    // (writeSnapshotCdf), but a MoR table's commits ARE its metadata —
    // appends are inserts, an equality-delete kills whatever was alive
    // before it — so the feed is DERIVED (Scale.morChangesBetween), no
    // storage ever written. The reader pays one broadcast join of the
    // row universe against the per-key delete-commit lists to
    // reconstruct each delete's row image (the writer never recorded
    // it — the opposite trade from the snapshot lineage, both now
    // available). Ordering is the Iceberg sequence rule: the commit-2
    // delete of every German row must NOT reach forward to the German
    // rows appended at commit 3, while it DOES kill the German rows
    // appended at commit 1 — and a key already dead (deleted at 0)
    // emits nothing at 2. Proven in-band at EVERY version: the feed's
    // events over (c−1..c] equal the set diff of the as-of
    // reconstructions, the full fold equals both Scale.readMergeOnRead
    // and the unified GraftTable.read, and the event list matches the
    // from-scratch oracle.
    Q("r98_mor_derived_feed",
      (s, d) => {
        val p = morFeedDocs(s, d)
        val feed = graft.operators.Scale.morChangesBetween(s, p, "doc_id", -1L, 3L)
          .select(col("doc_id"), col("lang"), col("n_chars"),
            col("_change_type").as("change_type"),
            col("_commit_version").as("commit_v"))
        // per-version reconciliation: feed events over (c-1..c] must
        // equal the diff of the as-of reconstructions at every commit —
        // the sequence rule proven at every step, including the
        // reach-forward boundary at c=3. Multiset equality is compared
        // by a collision-resistant signature (count + two independent
        // xxhash64 sums over the full row), one tiny aggregate per
        // frame instead of eight shuffle-heavy exceptAll folds — the
        // round-18 diet that keeps the gate's wall on the operator,
        // not the verification.
        def sig(df: org.apache.spark.sql.DataFrame): (Long, Long, Long) = {
          // pmod keeps the per-row term < 2^31 so the sum can never
          // overflow ANSI long arithmetic at any corpus size
          val r = df.agg(count(lit(1)),
            sum(pmod(xxhash64(col("doc_id"), col("lang"), col("n_chars")),
              lit(2147483647L))),
            sum(pmod(xxhash64(col("n_chars"), col("doc_id"), lit(7), col("lang")),
              lit(2147483629L)))).head()
          (r.getLong(0),
            if (r.isNullAt(1)) 0L else r.getLong(1),
            if (r.isNullAt(2)) 0L else r.getLong(2))
        }
        // multiset balance per commit: cur = prev ⊎ inserts ∖ deletes,
        // so each signature dimension must satisfy
        // sig(cur) − sig(prev) == sig(ins) − sig(del) — checked in two
        // independent hash dimensions plus the count, with NO set-diff
        // shuffle anywhere. A single-step feed equals the full-range
        // feed filtered to its commit (an event's version is range-
        // independent), so ONE grouped aggregate over the already-
        // derived feed yields every step's signatures.
        //
        // As-of signatures (round-19 diet): one universe pass instead of
        // five reconciliation scans. A row born at __seq and first
        // deleted at __kill is alive at commit c iff __seq <= c and
        // (__kill IS NULL OR __kill > c), so ONE aggregate over the
        // kill-stamped universe yields every version's (count, h1, h2) —
        // at 100 TB that is 1 scan of the row universe where the
        // per-version readMorAsOf loop paid 5. The per-row lifetime
        // formula is cross-checked against the INDEPENDENT
        // reconciliation path (readMorAsOf's anti-join plan) at both
        // ENDPOINTS below, so the intermediate versions' sigs rest on a
        // formula the independent reader endorses at -1 and 3, and the
        // telescoped sum of all four balance checks equals the
        // endpoint-to-endpoint diff of the independent reads.
        def aliveAt(c: Long) = col("__seq") <= c &&
          (col("__kill").isNull || col("__kill") > c)
        val aliveAggs = (-1L to 3L).flatMap { c =>
          Seq(count(when(aliveAt(c), 1)).as(s"n_$c"),
            sum(when(aliveAt(c),
              pmod(xxhash64(col("doc_id"), col("lang"), col("n_chars")),
                lit(2147483647L)))).as(s"h1_$c"),
            sum(when(aliveAt(c),
              pmod(xxhash64(col("n_chars"), col("doc_id"), lit(7), col("lang")),
                lit(2147483629L)))).as(s"h2_$c"))
        }
        val aliveRow = graft.operators.Scale
          .morUniverseWithKill(s, p, "doc_id", 3L, keepAll = true)
          .agg(aliveAggs.head, aliveAggs.tail: _*).head()
        val asOfSig = (-1L to 3L).zipWithIndex.map { case (c, i) =>
          c -> (aliveRow.getLong(3 * i),
            if (aliveRow.isNullAt(3 * i + 1)) 0L else aliveRow.getLong(3 * i + 1),
            if (aliveRow.isNullAt(3 * i + 2)) 0L else aliveRow.getLong(3 * i + 2))
        }.toMap
        require(asOfSig(-1L) == sig(graft.operators.Scale.readMorAsOf(s, p, "doc_id", -1L)),
          "r98: the one-pass alive signature diverged from the " +
            "independent readMorAsOf reconciliation at commit -1")
        // the c=3 endpoint rides readMergeOnRead below (same independent
        // reconciliation plan at the current horizon — one action, not two)
        //
        // ONE materialization of the bootstrap-inclusive event list
        // serves the step signatures, the fold, and the premise check
        // (each used to re-derive the union + delete probe from scratch);
        // the returned frame stays the raw derivation so its physical
        // plan remains reviewable in EXPLAINS/PLAN_FINGERPRINTS.
        val boot = graft.operators.Scale.morChangesBetween(s, p, "doc_id", -1L, 3L,
          includeBootstrap = true)
          .select(col("doc_id"), col("lang"), col("n_chars"),
            col("_change_type").as("change_type"),
            col("_commit_version").as("commit_v"))
          .localCheckpoint()
        val stepSigs = boot.groupBy("commit_v", "change_type")
          .agg(count(lit(1)).as("n"),
            sum(pmod(xxhash64(col("doc_id"), col("lang"), col("n_chars")),
              lit(2147483647L))).as("h1"),
            sum(pmod(xxhash64(col("n_chars"), col("doc_id"), lit(7), col("lang")),
              lit(2147483629L))).as("h2"))
          .collect()
          .map(r => (r.getLong(0), r.getString(1)) ->
            (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
        // premise: both delete commits non-trivial, re-delete silent —
        // read off the step signatures (the old dedicated groupBy over
        // the feed re-derived the whole universe for one count)
        require(stepSigs.getOrElse((0L, "delete"), (0L, 0L, 0L))._1 > 0 &&
            stepSigs.getOrElse((2L, "delete"), (0L, 0L, 0L))._1 > 0,
          s"r98 premise: both delete commits must emit events, got " +
            s"${stepSigs.filter(_._1._2 == "delete").map { case (k, v) => k._1 -> v._1 }}")
        (0L to 3L).foreach { c =>
          val si = stepSigs.getOrElse((c, "insert"), (0L, 0L, 0L))
          val sd = stepSigs.getOrElse((c, "delete"), (0L, 0L, 0L))
          val (pv, cv) = (asOfSig(c - 1), asOfSig(c))
          require(cv._1 - pv._1 == si._1 - sd._1 &&
              cv._2 - pv._2 == si._2 - sd._2 &&
              cv._3 - pv._3 == si._3 - sd._3,
            s"r98: events at commit $c do not balance the as-of diff")
        }
        // full fold == both read paths: the Scale-level reconciled read
        // AND the unified zero-argument GraftTable.read (which resolves
        // the delete key from _graft_key and applies the same sequence
        // rule from file metadata). readMergeOnRead doubles as the c=3
        // endpoint for the one-pass alive signature (it IS readMorAsOf
        // at the current horizon — same reconciliation plan).
        val folded = graft.operators.Scale.cdfLatestChanges(
            boot.withColumnRenamed("change_type", "_change_type")
              .withColumnRenamed("commit_v", "_commit_version"), "doc_id")
          .filter(col("_change_type") =!= "delete")
          .select("doc_id", "lang", "n_chars")
        require(sig(graft.operators.Scale.readMergeOnRead(s, p, "doc_id")) == asOfSig(3L),
          "r98: the independent reconciled read diverged from the one-pass " +
            "alive signature at the current horizon")
        require(sig(folded) == asOfSig(3L),
          "r98: the folded feed diverged from the reconciled reads")
        require(sig(graft.operators.GraftTable.read(s, p)
            .select("doc_id", "lang", "n_chars")) == asOfSig(3L),
          "r98: the unified GraftTable.read diverged from the reconciled reads")
        feed.orderBy("doc_id", "commit_v")
      },
      Some("""
        SELECT * FROM (
          SELECT doc_id, lang, n_chars, 'delete' AS change_type,
                 CAST(0 AS BIGINT) AS commit_v
          FROM documents WHERE doc_id % 2 = 0 AND n_chars < 300
          UNION ALL
          SELECT doc_id, lang, n_chars, 'insert', 1
          FROM documents WHERE doc_id % 4 = 1
          UNION ALL
          SELECT doc_id, lang, n_chars, 'delete', 2 FROM documents
          WHERE lang = 'de'
            AND ((doc_id % 2 = 0 AND n_chars >= 300) OR doc_id % 4 = 1)
          UNION ALL
          SELECT doc_id, lang, n_chars, 'insert', 3
          FROM documents WHERE doc_id % 4 = 3 AND lang = 'de')
        ORDER BY doc_id, commit_v""")))
}
