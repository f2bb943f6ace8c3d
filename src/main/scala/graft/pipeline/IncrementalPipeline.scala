package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.text.TextOps
import graft.operators.Scale
import IncrementalPipeline.commitBoth

/** Incremental curation refresh — [[TextPipeline]] composed with the
  * t48 snapshot-versioned dedup index, so batch N+1 costs O(delta),
  * not O(corpus). The reference's medallion architecture re-materializes
  * between stages precisely to enable this: history is curated once
  * (p1's job), its dedup evidence is COMMITTED as two snapshot tables
  * (the exact-dedup fingerprint set and the LSH band index,
  * `Scale.writeSnapshot`), and a later delta batch then runs the same
  * gate-verified stages scanning ONLY the delta plus index probes:
  *
  *   1. `hist_quality` / `hist_exact` — bootstrap: quality-gate and
  *      exact-dedup the history batch, commit `fp_idx` v0 and
  *      `band_idx` v0 (one band row per (kept doc, band)).
  *   2. `delta_quality` — the same map-side gate over the delta only.
  *   3. `delta_exact` — min-doc_id per fingerprint WITHIN the delta,
  *      then an anti semi-probe against fp_idx v0: a delta doc whose
  *      normalized text already exists in history is a duplicate.
  *      One hash shuffle keyed by the 128-bit fingerprint.
  *   4. `delta_probe` — [[TextOps.dedupAgainstIndex]]: LSH band
  *      left-semi probe against band_idx v0 with the occupancy cap —
  *      near-duplicates-of-history drop WITHOUT re-banding history.
  *   5. `delta_near` — the p1 cluster pass (bounded pairs → connected
  *      components → canonical representative) WITHIN the surviving
  *      delta: near-dup groups that arrived together in one batch.
  *   6. band_idx v1 commits as v0 + the survivors' bands (incremental
  *      index maintenance — t48's protocol), fp_idx v1 likewise, and
  *      the survivors flow through the same sample + chunks stages.
  *
  * Semantics note (shared with every streaming-ingest dedup): the
  * incremental result is NOT defined as equal to a full-batch rerun —
  * history is immutable, so a delta doc always loses to a history
  * near-dup even when its doc_id is smaller, whereas a one-shot p1
  * over the union could keep the delta doc instead. The p2 oracle
  * therefore replays BOTH batches under the incremental semantics in
  * one SQL statement (t48's discipline), pinning exactly what the
  * refresh path computes.
  *
  * 100 TB shape: the bootstrap is p1 (linear in history, run once);
  * every delta stage is a scan of the delta plus a hash join against
  * an index keyed by (band_idx, band_val) or fingerprint — both
  * partition-prunable snapshot tables compacted like any lakehouse
  * table — so refresh cost tracks the batch, not the corpus. The
  * per-stage durations land in [[TextPipeline.lastRunDurations]], so
  * the bench artifact itself shows delta-stage wall « bootstrap wall.
  */
class IncrementalPipeline(spark: SparkSession, docsPath: String, outRoot: String,
                          cfg: TextPipeline.Config = TextPipeline.Config(),
                          deltaMod: Int = 4, deltaRes: Int = 3) {

  val durations = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  val counts = scala.collection.mutable.LinkedHashMap.empty[String, Long]
  /** Per-stage (row count, signature) — the p2 gate's evidence, filled
    * from the observations once [[run]] completes. */
  val sigs = scala.collection.mutable.LinkedHashMap.empty[String, (Long, Long)]
  /** The materialized stage frames (parquet-backed). */
  val frames = scala.collection.mutable.LinkedHashMap.empty[String, DataFrame]

  private val observations =
    scala.collection.mutable.LinkedHashMap.empty[String, org.apache.spark.sql.Observation]

  /** Attach the stage's gate signature as OBSERVED METRICS riding
    * whatever downstream job first evaluates this frame — zero extra
    * jobs and zero extra scans (the round-19 p2 diet: at gate scale the
    * old per-stage checkpoint + count cost ~0.3 s of job overhead per
    * stage regardless of data volume). `sigExpr` defaults to the doc
    * signature (sum of doc_id); the chunk stage signs its text hash.
    */
  private def tap(name: String, df: DataFrame,
                  sigExpr: Column = coalesce(sum(col("doc_id")), lit(0L))): DataFrame = {
    val o = org.apache.spark.sql.Observation(s"p2_$name")
    observations(name) = o
    df.observe(o, count(lit(1)).cast("long").as("n"), sigExpr.cast("long").as("sig"))
  }

  /** Materialize a MULTI-CONSUMER stage to parquet (temp-dir + rename
    * swap, /dev/shm-backed scratch) so each of its 2–3 consumers reads
    * the files instead of recomputing the lineage. Single-consumer
    * stages skip this and FUSE into their consumer's job ([[fused]]):
    * the old always-checkpoint discipline paid a per-stage write+count
    * job whose replay isolation nothing used.
    */
  private def stage(name: String)(df: => DataFrame): DataFrame = {
    val t0 = System.nanoTime()
    val back = TextPipeline.materialize(spark, outRoot, name, tap(name, df))
    durations(name) = (System.nanoTime() - t0) / 1e9
    frames(name) = back
    back
  }

  /** A single-consumer stage: observed for its gate signature, fused
    * into the consumer's job (its wall time rides the consumer's
    * duration; recorded as 0 here so sums stay consistent).
    */
  private def fused(name: String)(df: => DataFrame): DataFrame = {
    durations(name) = 0.0
    tap(name, df)
  }

  /** Drain every observation into [[counts]]/[[sigs]] — call only after
    * every stage's consumer job has run. */
  private def drainObservations(): Unit =
    observations.foreach { case (name, o) =>
      val m = o.get
      counts(name) = m("n").asInstanceOf[Long]
      sigs(name) = (m("n").asInstanceOf[Long], m("sig").asInstanceOf[Long])
    }

  /** Time a snapshot commit under its own `durations` key, so the
    * bench's per-stage artifact accounts for the FULL p2 wall (the
    * four index commits are real parquet writes, not checkpoint
    * stages — untimed they'd show up as unexplained residual).
    */
  private def timedCommit(name: String)(body: => Long): Long = {
    val t0 = System.nanoTime()
    val v = body
    durations(name) = (System.nanoTime() - t0) / 1e9
    v
  }

  def bandIdxPath: String = s"$outRoot/band_idx"
  def fpIdxPath: String = s"$outRoot/fp_idx"

  private def fingerprints(in: DataFrame): DataFrame =
    in.select(col("doc_id"), TextOps.fingerprint(col("text")).as("fp"))

  /** Bootstrap + O(delta) refresh; returns the delta's training chunks. */
  def run(): DataFrame = {
    val docs = spark.read.parquet(docsPath)
    val history = docs.filter(col("doc_id") % deltaMod =!= deltaRes)
    val delta = docs.filter(col("doc_id") % deltaMod === deltaRes)

    // ---- bootstrap (batch 1): curate history, commit index v0 ----
    // hist_quality has ONE consumer (hist_exact) — fused; its metrics
    // ride hist_exact's write job
    val hq = fused("hist_quality")(TextPipeline.qualityGate(history, cfg))
    val he = stage("hist_exact")(TextPipeline.exactDedup(hq))
    timedCommit("commit_v0") {
      commitBoth(
        Scale.writeSnapshot(spark, fpIdxPath, fingerprints(he)),
        Scale.writeSnapshot(spark, bandIdxPath, TextPipeline.bandRows(he, cfg)))
    }
    val fpV0 = Scale.readSnapshot(spark, fpIdxPath, Some(0L))
    val bandV0 = Scale.readSnapshot(spark, bandIdxPath, Some(0L))

    // ---- refresh (batch 2): every stage scans only the delta ----
    val dq = fused("delta_quality")(TextPipeline.qualityGate(delta, cfg))
    val de = stage("delta_exact") {
      TextPipeline.exactDedup(dq)
        .withColumn("__fp", TextOps.fingerprint(col("text")))
        .join(fpV0.select(col("fp").as("__fp")), Seq("__fp"), "left_anti")
        .drop("__fp")
    }
    // the delta's band evidence is computed ONCE (MinHash is the
    // expensive expression) and reused three times: the history probe,
    // the within-delta cluster pass (semi-joined to the survivors),
    // and the index-v1 commit — the old flow re-minhashed the
    // shrinking survivor sets at each step
    val t0b = System.nanoTime()
    val deBands = TextPipeline.materialize(spark, outRoot, "delta_bands",
      TextPipeline.bandRows(de, cfg))
    durations("delta_bands") = (System.nanoTime() - t0b) / 1e9
    def bandsOf(survivors: DataFrame): DataFrame =
      deBands.join(survivors.select("doc_id"), Seq("doc_id"), "left_semi")
    val dp = stage("delta_probe")(TextOps.dedupAgainstIndex(
      de, deBands, bandV0, cfg.maxBucketSize))
    val dn = stage("delta_near")(
      TextPipeline.nearDedupWithBands(dp, bandsOf(dp), cfg))

    // index maintenance: v1 = v0 + the survivors' evidence (history is
    // never re-banded; the committed v0 frame is unioned lazily, so the
    // write re-reads v0's files, not its lineage)
    timedCommit("commit_v1") {
      commitBoth(
        Scale.writeSnapshot(spark, bandIdxPath,
          bandV0.unionByName(bandsOf(dn))),
        Scale.writeSnapshot(spark, fpIdxPath, fpV0.unionByName(fingerprints(dn))))
    }

    val ds = fused("delta_sample")(TextPipeline.sample(dn, cfg))
    // the chunks ARE the durable product — written once, signed by the
    // chunk-text hash riding the same write
    val t0 = System.nanoTime()
    val dc = TextPipeline.materialize(spark, outRoot, "delta_chunks",
      tap("delta_chunks", TextPipeline.chunks(ds, cfg),
        coalesce(sum(conv(substring(md5(col("chunk_text")), 1, 10), 16, 10)
          .cast("long") % lit(1000000007L)), lit(0L))))
    durations("delta_chunks") = (System.nanoTime() - t0) / 1e9
    frames("delta_chunks") = dc
    drainObservations()
    TextPipeline.lastRunDurations = durations.toMap
    dc
  }
}

object IncrementalPipeline {

  /** Run two INDEPENDENT-table snapshot commits concurrently (guide
    * §2.6 overlap: the fp and band indexes are different tables, each
    * write a small job whose tail otherwise leaves the session idle —
    * round-20: commit_v0/v1 were ~0.5 s each of back-to-back small
    * writes). Job-descriptions and commit locks are per-table/thread.
    * Always waits for `b`, also when `a` throws, so no commit is still
    * running when the caller sees the failure; when both fail, `b`'s
    * error rides `a`'s as suppressed.
    */
  private[graft] def commitBoth(a: => Long, b: => Long): Long = {
    val fb = new java.util.concurrent.FutureTask[Long](() => b)
    val th = new Thread(fb, "p2-commit-b"); th.setDaemon(true); th.start()
    val ra = try Right(a) catch { case e: Throwable => Left(e) }
    val rb = try Right(fb.get()) catch {
      case e: java.util.concurrent.ExecutionException => Left(e.getCause)
    }
    (ra, rb) match {
      case (Right(x), Right(y)) => math.max(x, y)
      case (Left(ea), _) => rb.left.foreach(ea.addSuppressed); throw ea
      case (_, Left(eb)) => throw eb
    }
  }
}
