package graft

import org.apache.spark.sql.functions._
import graft.pipeline.TextPipeline
import graft.text.TextOps

class TextPipelineSpec extends SparkSpec {

  private def freshRoot(tag: String) =
    java.nio.file.Files.createTempDirectory(s"graft_textpipe_$tag").toString + "/lake"

  // permissive quality gate: the synthetic corpus is stopword-light, and
  // the dedup stages only see real work when most of the 500 docs pass
  private val openGate = TextPipeline.Config(
    minTokens = 1, minStopwordRatio = 0.0, langThreshold = 0.0)

  test("curation DAG: stages materialize, shrink monotonically, and agree with the operators") {
    val out = freshRoot("a")
    val p = new TextPipeline(spark, s"$sf001/documents.parquet", out, openGate)
    val chunks = p.runAll()
    val c = p.counts
    assert(c("quality") == 500, s"open gate should pass the whole corpus: $c")
    // monotone shrink through the filter stages; the corpus HAS near-dups
    // (the t3/t6 gate queries find them), so near-dedup must remove some
    assert(c("quality") >= c("exact_dedup"))
    assert(c("near_dedup") < c("exact_dedup"),
      s"near-dedup removed nothing from a corpus with known near-dups: $c")
    assert(c("near_dedup") >= c("sample"))
    assert(c.values.forall(_ > 0), s"a stage emptied the corpus: $c")
    // exact-dedup agrees with the fingerprint operator: one survivor per
    // distinct fingerprint of the quality-gated corpus
    val distinctFp = spark.read.parquet(s"$out/quality")
      .select(TextOps.fingerprint(col("text")).as("fp"))
      .distinct().count()
    assert(c("exact_dedup") == distinctFp)
    // every stage is a readable checkpoint with the doc schema intact
    Seq("quality", "exact_dedup", "near_dedup", "sample").foreach { s =>
      val cols = spark.read.parquet(s"$out/$s").columns.toSet
      assert(cols.contains("doc_id") && cols.contains("text"), s"$s lost doc columns: $cols")
    }
    assert(chunks.columns.toSeq == Seq("doc_id", "chunk_idx", "chunk_text"))
  }

  test("near-dup stage is a fixed point: re-running it on its output removes nothing") {
    // any two survivors that still shared an LSH bucket would have been in
    // the same connected component — so exactly one of them survived; a
    // second pass must find zero losers
    val root = freshRoot("b")
    val p = new TextPipeline(spark, s"$sf001/documents.parquet", root, openGate)
    val survivors = p.runNearDedup(p.runExactDedup(p.runQuality()))
    val nSurvivors = survivors.count()
    // second pass reuses the SAME root: `survivors` lazily reads
    // root/near_dedup while the stage rewrites that very checkpoint —
    // safe only because stage() materializes to a temp dir and swaps
    // (this is the regression test for that swap)
    val again = p.runNearDedup(survivors)
    assert(again.count() == nSurvivors,
      "near-dedup removed docs on a second pass — clustering is not converging")
  }

  test("commitBoth waits for both branches and surfaces both failures") {
    import graft.pipeline.IncrementalPipeline.commitBoth
    val bDone = new java.util.concurrent.atomic.AtomicBoolean(false)
    val e = intercept[IllegalStateException] {
      commitBoth(throw new IllegalStateException("a failed"), {
        Thread.sleep(500); bDone.set(true); throw new IllegalArgumentException("b failed")
      })
    }
    assert(bDone.get(), "commitBoth returned before branch b finished")
    assert(e.getMessage == "a failed")
    assert(e.getSuppressed.map(_.getMessage).toSeq == Seq("b failed"))
    // b failing alone surfaces b's own error, not the future's wrapper
    val eb = intercept[IllegalArgumentException] {
      commitBoth(1L, throw new IllegalArgumentException("b only"))
    }
    assert(eb.getMessage == "b only")
    assert(commitBoth(1L, 2L) == 2L)
  }

  test("incremental pipeline: O(delta) stages, index maintenance, cross-batch dedup") {
    val out = freshRoot("inc")
    val p = new graft.pipeline.IncrementalPipeline(
      spark, s"$sf001/documents.parquet", out, openGate)
    p.run()
    val c = p.counts
    // the hist/delta residue split partitions the gated corpus
    assert(c("hist_quality") + c("delta_quality") == 500, s"split lost docs: $c")
    // monotone shrink through the delta filter stages
    assert(c("delta_quality") >= c("delta_exact") &&
      c("delta_exact") >= c("delta_probe") &&
      c("delta_probe") >= c("delta_near") &&
      c("delta_near") >= c("delta_sample"), s"non-monotone delta stages: $c")
    // the corpus has near-dups (t3/t6) and 3/4 of any dup's partners land
    // in history, so the history probe must really drop delta docs here
    assert(c("delta_probe") < c("delta_exact"),
      s"index probe dropped nothing from a corpus with known near-dups: $c")
    // every surviving delta doc is in the delta residue class
    val dn = p.frames("delta_near")
    assert(dn.filter(col("doc_id") % 4 =!= 3).count() == 0,
      "a history doc leaked into the delta stages")
    // index maintenance is incremental: v1 = v0 + the survivors' bands,
    // history never re-banded
    val v0 = graft.operators.Scale.readSnapshot(spark, p.bandIdxPath, Some(0L))
    val v1 = graft.operators.Scale.readSnapshot(spark, p.bandIdxPath, Some(1L))
    val dnBands = TextPipeline.bandRows(dn, openGate)
    assert(v1.count() == v0.count() + dnBands.count(),
      "band index v1 is not v0 + delta survivors")
    // cross-batch exact dedup: no delta survivor shares a fingerprint
    // with the committed history index
    val hFp = graft.operators.Scale.readSnapshot(spark, p.fpIdxPath, Some(0L)).select("fp")
    val deFp = p.frames("delta_exact")
      .select(TextOps.fingerprint(col("text")).as("fp"))
    assert(deFp.join(hFp, Seq("fp"), "left_semi").count() == 0,
      "a delta doc with a history fingerprint survived delta_exact")
    // cross-batch near dedup: no probe survivor shares an un-capped band
    // with index v0
    val dpBands = TextPipeline.bandRows(p.frames("delta_probe"), openGate)
    assert(dpBands.join(v0.select("band_idx", "band_val"),
      Seq("band_idx", "band_val"), "left_semi").count() == 0,
      "a delta doc sharing a history LSH band survived the probe")
    // the commit wall times are first-class stage evidence
    assert(p.durations.contains("commit_v0") && p.durations.contains("commit_v1"))
  }

  test("the DAG is deterministic: two runs produce identical chunk sets") {
    val (outA, outB) = (freshRoot("c1"), freshRoot("c2"))
    def runOnce(out: String): Set[(Long, Long, String)] = {
      new TextPipeline(spark, s"$sf001/documents.parquet", out, openGate).runAll()
        .select("doc_id", "chunk_idx", "chunk_text")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    }
    val a = runOnce(outA)
    val b = runOnce(outB)
    assert(a == b)
    assert(a.nonEmpty)
  }
}
