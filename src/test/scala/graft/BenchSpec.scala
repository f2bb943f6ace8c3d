package graft

import org.scalatest.funsuite.AnyFunSuite
import com.fasterxml.jackson.databind.ObjectMapper
import Bench.QueryResult

/** The bench handshake is the one artifact the driver parses from a bounded
  * stdout tail window (~2000 chars). These tests pin the final-line contract
  * without starting a SparkSession: the rendered line must stay under the
  * budget for the real query set, must be valid JSON in both the rounded and
  * the fallback form, and must carry the self-diagnosis fields (round 7's
  * 199.9 s driver artifact needed a judge-side re-run to acquit; round 8's
  * artifact must distinguish interference from regression on its own).
  */
class BenchSpec extends AnyFunSuite {
  private val mapper = new ObjectMapper()

  /** Per-query entry count of a rendered final line's `queries` node,
    * across both shapes: JSON object (tiers 1–7) and the packed
    * "key:ds,key:ds" string of the `"qfmt":"kv"` tier.
    */
  private def queryCount(node: com.fasterxml.jackson.databind.JsonNode): Int = {
    val qs = node.get("queries")
    if (qs == null) 0
    else if (node.get("qfmt") != null && node.get("qfmt").asText() == "kv") {
      val entries = qs.asText().split(",")
      assert(entries.forall(_.matches("[A-Za-z0-9]+:-?\\d+")),
        s"malformed kv entry in: ${qs.asText().take(120)}")
      entries.length
    } else if (node.get("qfmt") != null && node.get("qfmt").asText() == "vals") {
      val entries = qs.asText().split(",")
      assert(entries.forall(_.matches("-?\\d+")),
        s"malformed vals entry in: ${qs.asText().take(120)}")
      assert(node.get("qcount") != null && node.get("qcount").asInt() == entries.length,
        "vals tier must carry a matching qcount")
      assert(node.get("qorder") != null && node.get("qorder").asText() == "name")
      entries.length
    } else qs.size()
  }

  // Realistic per-query timings: a skewed mix like the observed bench
  // (median ~0.4 s, one ~18 s outlier) so value widths match production.
  private def fakeResults: Map[String, QueryResult] =
    SparkEntry.queries.keys.zipWithIndex.map { case (name, i) =>
      val best = if (i == 0) 17.654321987 else 0.1 + (i % 40) * 0.123456789
      name -> QueryResult(Seq(best, best * 1.21, best * 1.05), 1.5)
    }.toMap

  private def quiet(names: Iterable[String]): Map[String, QueryResult] =
    names.map(n => n -> QueryResult(Seq(1.0, 1.1, 1.2), 1.0)).toMap

  test("final line fits the driver tail window for the full query set") {
    val line = Bench.renderFinal(fakeResults, "/root/testdata/sf0.1")
    assert(line.length <= Bench.FinalLineBudget,
      s"final bench line is ${line.length} chars, budget ${Bench.FinalLineBudget}")
    assert(!line.contains("\n"))
  }

  test("final line is valid JSON with the contract fields") {
    val node = mapper.readTree(Bench.renderFinal(fakeResults, "/root/testdata/sf0.1"))
    assert(node.get("metric").asText() == "total")
    assert(node.get("unit").asText() == "sec")
    assert(node.get("value").isNumber)
    assert(node.get("load1") != null && node.get("load1").isNumber,
      "bench JSON must carry the ambient load average")
    assert(node.get("interference_suspected") != null &&
      node.get("interference_suspected").isBoolean,
      "the archived final line must carry its own interference verdict")
    assert(node.get("flagged") != null && node.get("flagged").isArray)
    assert(node.get("sf").asText() == "/root/testdata/sf0.1")
    // Per-query detail must survive into the final line for the real gate
    // (via whichever compression tier fits).
    assert(queryCount(node) == SparkEntry.queries.size)
  }

  test("per-query detail survives past 100 queries (short-key tier)") {
    // The real gate plus synthetic x-family queries, gate-style names:
    // detail must survive the budget via one of the compression tiers,
    // not collapse to the totals-only summary. Padded relative to the
    // CURRENT gate so the margin holds as the gate keeps growing.
    val target = SparkEntry.queries.size + 10
    val extra = quiet((1 to (target - SparkEntry.queries.size))
      .map(i => f"x$i%d_synthetic_gate_growth"))
    val grown = fakeResults ++ extra
    assert(grown.size == target)
    val line = Bench.renderFinal(grown, "/root/testdata/sf0.1")
    assert(line.length <= Bench.FinalLineBudget)
    val node = mapper.readTree(line)
    assert(queryCount(node) == target,
      s"per-query detail was dropped at $target queries")
    // short-key tier must be self-describing and collision-free
    if (node.get("keys") != null && node.get("keys").asText() == "short" &&
        node.get("qfmt") == null) {
      val qs = node.get("queries")
      assert(qs.has("e1") || qs.has(Bench.shortKey(fakeResults.keys.head)))
    }
  }

  test("short keys are collision-free for the real gate and map back uniquely") {
    val names = SparkEntry.queries.keys.toSeq
    val shorts = names.map(Bench.shortKey)
    assert(shorts.distinct.size == names.size,
      s"short-key collision: ${shorts.diff(shorts.distinct).distinct}")
  }

  test("short-key collision disables the short tier, never emits ambiguous keys") {
    val colliding = quiet(Seq("q1_alpha", "q1_beta")) ++
      quiet((1 to 200).map(i => f"z${i}_long_enough_to_overflow_the_rounded_tiers"))
    val line = Bench.renderFinal(colliding, "/root/testdata/sf0.1")
    assert(line.length <= Bench.FinalLineBudget)
    val node = mapper.readTree(line)
    // with shorts disabled and 202 long names the key-free vals tier
    // carries the detail — but NEVER an ambiguous short-key object
    assert(node.get("keys") == null)
    assert(node.get("queries") == null || queryCount(node) == colliding.size)
  }

  test("fallback summary is valid JSON and under budget when queries overflow") {
    // Enough synthetic queries that even the key-free vals tier cannot
    // fit (~450-query capacity at ds widths).
    val many = quiet((1 to 700).map(i => f"q$i%03d_synthetic_overflow_name"))
    val line = Bench.renderFinal(many, "/root/testdata/sf0.1")
    assert(line.length <= Bench.FinalLineBudget)
    val node = mapper.readTree(line)
    assert(node.get("metric").asText() == "total")
    assert(node.get("detail").asText() == "bench_out.json")
  }

  test("full-precision render carries runs, per-query load, and the verdict") {
    val node = mapper.readTree(Bench.renderFull(fakeResults, "/root/testdata/sf0.1"))
    assert(node.get("queries").size() == SparkEntry.queries.size)
    val runs = node.get("runs")
    assert(runs != null && runs.size() == SparkEntry.queries.size,
      "bench_out.json must carry every run of every query")
    val firstName = SparkEntry.queries.keys.toSeq.sorted.head
    assert(runs.get(firstName).isArray && runs.get(firstName).size() == 3)
    val qload = node.get("qload1")
    assert(qload != null && qload.size() == SparkEntry.queries.size,
      "bench_out.json must carry a per-query ambient-load sample")
    assert(node.get("interference_suspected").isBoolean)
    // the min the driver scores must equal the min of the recorded runs
    val minShown = node.get("queries").get(firstName).asDouble()
    val runVals = (0 until 3).map(runs.get(firstName).get(_).asDouble())
    assert(math.abs(minShown - runVals.min) < 1e-3)
  }

  test("interference verdict: clean run is not flagged") {
    assert(!Bench.interferenceSuspected(fakeResults))
    assert(Bench.flaggedQueries(fakeResults).isEmpty)
  }

  test("interference verdict: round-7-shaped anomaly is flagged with names") {
    // Six non-trivial queries with 5-50x spreads (the round-7 driver-run
    // shape) on top of an otherwise clean gate.
    val anomalous = fakeResults ++ Map(
      "r36_cdc_merge_delete" -> QueryResult(Seq(0.48, 24.4, 1.2), 9.0),
      "r37_bloom_prune_join" -> QueryResult(Seq(0.79, 20.4, 2.0), 11.0),
      "v6_ivf_neardup" -> QueryResult(Seq(0.56, 22.2, 3.1), 14.0),
      "t6_dedup_clusters" -> QueryResult(Seq(3.7, 25.8, 5.0), 12.0))
    assert(Bench.interferenceSuspected(anomalous))
    val flagged = Bench.flaggedQueries(anomalous)
    assert(flagged.contains("r36_cdc_merge_delete") && flagged.contains("t6_dedup_clusters"))
    val node = mapper.readTree(Bench.renderFinal(anomalous, "/root/testdata/sf0.1"))
    assert(node.get("interference_suspected").asBoolean())
    assert(node.get("flagged").size() >= 4)
  }

  test("interference verdict: first-run warmup spread does not flag") {
    // Run 1 carrying 3-4x codegen/JIT/cache warmup with stable later
    // runs is the IDLE-machine shape (e1/j1/t6 measured) — the min is
    // trustworthy, so the artifact must not cry interference.
    val warm = fakeResults ++ Map(
      "e1_silver_cust_info" -> QueryResult(Seq(3.17, 0.85, 0.79), 2.0),
      "j1_jsonl_roundtrip" -> QueryResult(Seq(1.60, 0.47, 0.45), 2.0),
      "t6_dedup_clusters" -> QueryResult(Seq(2.27, 0.41, 0.37), 2.0))
    assert(!Bench.interferenceSuspected(warm))
    assert(Bench.flaggedQueries(warm).isEmpty)
  }

  test("interference verdict: one noisy query or tiny queries do not flag") {
    // A single big spread is GC/codegen luck, not interference.
    val oneOff = fakeResults + ("t6_dedup_clusters" -> QueryResult(Seq(3.7, 25.8, 5.0), 2.0))
    assert(!Bench.interferenceSuspected(oneOff))
    // Sub-200ms queries spread 10x on a page-cache miss alone: excluded.
    val tiny = fakeResults ++ (1 to 5).map(i =>
      s"y${i}_tiny" -> QueryResult(Seq(0.01, 0.12, 0.02), 2.0)).toMap
    assert(!Bench.interferenceSuspected(tiny))
  }

  test("errored queries are excluded from the total and reported, never timed") {
    // Round 9: 19 schema-broken queries fast-failed in ~0.1 s each and
    // IMPROVED the headline total. An errored query must (a) not count
    // toward the total, (b) appear in the full render's errors map and the
    // final line's error_count, (c) never trip the interference verdict.
    val broken = fakeResults ++ Map(
      "r7_dedup_latest" -> QueryResult(Seq(0.06, 0.07, 0.06), 2.0,
        Some("""DATATYPE_MISMATCH: "ts div 1000" needs ("BIGINT"), got "TIMESTAMP_NTZ"""" + "\nsecond line")),
      "s1_sessionize" -> QueryResult(Seq(8.0, 8.1, 8.2), 2.0, Some("boom")))
    val clean = fakeResults -- Seq("r7_dedup_latest", "s1_sessionize")
    val cleanTotal = mapper.readTree(Bench.renderFull(clean, "sf")).get("value").asDouble()
    val full = mapper.readTree(Bench.renderFull(broken, "sf"))
    assert(math.abs(full.get("value").asDouble() - cleanTotal) < 1e-6,
      "errored queries' elapsed time must not enter the total")
    val errs = full.get("errors")
    assert(errs != null && errs.size() == 2)
    assert(errs.get("r7_dedup_latest").asText().contains("DATATYPE_MISMATCH"))
    assert(!errs.get("r7_dedup_latest").asText().contains("second line"),
      "error messages are truncated to their first line for the artifact")
    assert(!full.get("queries").has("r7_dedup_latest"))
    val fin = mapper.readTree(Bench.renderFinal(broken, "sf"))
    assert(fin.get("error_count").asInt() == 2)
    assert(math.abs(fin.get("value").asDouble() - cleanTotal) < 2e-3)
    // a clean run records the absence of failures explicitly
    assert(mapper.readTree(Bench.renderFull(clean, "sf")).get("errors").size() == 0)
    assert(mapper.readTree(Bench.renderFinal(clean, "sf")).get("error_count").asInt() == 0)
  }

  test("errored queries never trip or join the interference verdict") {
    // A fast-fail's spread is meaningless; even a wild one must not flag.
    val noisyErr = fakeResults + ("t6_dedup_clusters" ->
      QueryResult(Seq(0.5, 9.9, 0.6), 2.0, Some("boom")))
    assert(!Bench.flaggedQueries(noisyErr).contains("t6_dedup_clusters"))
  }

  test("final line still fits the tail window with a worst-case error count") {
    val allBroken = fakeResults.map { case (k, r) =>
      k -> r.copy(error = Some("x" * 200)) }
    val line = Bench.renderFinal(allBroken, "/root/testdata/sf0.1")
    assert(line.length <= Bench.FinalLineBudget)
    assert(mapper.readTree(line).get("error_count").asInt() == fakeResults.size)
  }

  test("min-of-2 mode covers exactly the checkpoint-heavy queries") {
    assert(Bench.runsFor("p1_curation_pipeline") == 2,
      "p1 needs a second sample to damp ambient I/O (r11/r12: 10.4 s vs 7.6 s " +
        "vs 4.0 s on identical code) but not a third (5 stage writes per run)")
    assert(Bench.runsFor("e9_fact_sales") == 3)
    assert(Bench.runsFor("s7_stream_sessions") == 2,
      "streaming executions re-write source/checkpoint/sink per run")
    // every single-run query must actually exist in the gate
    assert(Bench.singleRunQueries.subsetOf(SparkEntry.queries.keySet))
    // spread of a single run is neutral — it can never trip the verdict
    assert(QueryResult(Seq(9.9), 1.0).spread == 1.0)
  }

  test("min-of-2 warmup spread never flags (round-13 advice)") {
    // p1/s7-s11 run twice; run 1 carries documented 3-4x cold-start.
    // With the first run excluded there is no steady-state PAIR, so
    // spread must report 1.0 (no evidence) — six such queries were
    // enough to trip MinFlaggedForSuspicion spuriously before.
    val twoRun = QueryResult(Seq(8.0, 2.1), 1.0)
    assert(twoRun.spread == 1.0)
    val sixCold = fakeResults ++ (1 to 6).map(i =>
      s"w${i}_two_run_pipeline" -> QueryResult(Seq(9.0, 2.5), 1.0)).toMap
    assert(!Bench.interferenceSuspected(sixCold))
  }

  test("final line carries the self-diagnosis block (round-13 task #1)") {
    // realistic per-query magnitudes (median well under 1 s, one heavy
    // outlier — the r13 driver shape) at a 150-query gate: the diag
    // block must fit NEXT TO per-query detail at this size. The REAL
    // 274-query gate outgrew every diag-carrying named tier — there the
    // slim-kv tiers keep the NAMES and shrink the block to the md5
    // canaries (see the round-20 slim-kv test below); the pathological
    // all-heavy shape is covered by the degradation test below.
    val withEvidence = SparkEntry.queries.keys.toSeq.sorted.take(150)
      .zipWithIndex.map { case (name, i) =>
      val best = if (i == 0) 17.654321987 else 0.05 + (i % 40) * 0.02
      name -> QueryResult(Seq(best, best * 1.21, best * 1.05), 1.5,
        cpuRuns = Seq(best * 3.0, best * 3.0, best * 3.0),
        gcRuns = Seq(best * 0.01, 0.0, 0.0))
    }.toMap
    val canary = Seq((0, 0.12, 0.3), (30, 0.11, 0.3), (60, 0.95, 0.3))
    val line = Bench.renderFinal(withEvidence, "/root/testdata/sf0.1", canary)
    assert(line.length <= Bench.FinalLineBudget)
    val node = mapper.readTree(line)
    assert(node.get("heap_mb").isNumber)
    assert(node.get("cpu_sec").isNumber && node.get("gc_sec").isNumber)
    // canary track: [[after-query-index, deciseconds], ...] — the third
    // sample's 0.95 s (vs 0.12 steady) is a visible mid-run bend
    val c = node.get("canary")
    assert(c.size() == 3 && c.get(0).get(0).asInt() == 0)
    assert(c.get(2).get(1).asInt() == 10, "0.95 s rounds to 10 ds")
    // diag: most-expensive queries as [order, wall, cpu, gc, load1x10];
    // fakeResults' 17.65 s outlier must be present with its evidence
    val diag = node.get("diag")
    // flagged queries ride ON TOP of the DiagCap heavy budget (round-15
    // fix: the heaviest queries must never fall out because flags
    // crowded them), so the block can exceed DiagCap by the flag count
    val flaggedCount = Bench.flaggedQueries(withEvidence).size
    assert(diag != null && diag.size() > 0 &&
      diag.size() <= Bench.DiagCap + flaggedCount)
    val heavyName = withEvidence.maxBy(_._2.best)._1
    val entry = diag.get(Bench.shortKey(heavyName))
    assert(entry != null, s"heaviest query $heavyName missing from diag")
    assert(entry.size() >= 3, "diag vector carries at least [order, wall, cpu]")
    assert(entry.get(1).asInt() == 177, "17.654 s rounds to 177 ds")
    if (entry.size() == 5) {
      assert(entry.get(2).asInt() == math.round(17.654321987 * 3 * 10).toInt)
      assert(entry.get(4).asInt() == 15, "load1 1.5 renders as 15")
    }
    // run-order index points into the sorted execution order
    val sortedNames = withEvidence.keys.toSeq.sorted
    assert(sortedNames(entry.get(0).asInt()) == heavyName)
  }

  test("heaviest queries stay in diag even when many queries are spread-flagged (round-14 t25 loss)") {
    // round 14: 4 flagged queries + p1/s16 filled a shared 6-slot cap
    // and t25 — the 3rd-heaviest — fell out of the archived artifact.
    // Flags must ride on top of the heavy budget, not consume it.
    val base = SparkEntry.queries.keys.zipWithIndex.map { case (name, i) =>
      name -> QueryResult(Seq(0.1 + (i % 7) * 0.01), 0.5)
    }.toMap
    val heavyNames = base.keys.toSeq.sorted.take(Bench.DiagCap)
    val flaggedNames = base.keys.toSeq.sorted.slice(20, 28)
    val shaped = base ++
      heavyNames.zipWithIndex.map { case (n, i) =>
        n -> QueryResult(Seq(9.0 - i, 9.0 - i), 0.5) } ++
      flaggedNames.map { n =>
        // 3 runs: warmup-excluded steady spread 10/2 > SpreadThreshold
        n -> QueryResult(Seq(2.0, 2.0, 10.0), 0.5) }
    val flagged = Bench.flaggedQueries(shaped)
    assert(flagged.size >= 6, s"shape must actually flag, got $flagged")
    val diag = mapper.readTree(Bench.diagJson(shaped))
    heavyNames.foreach { n =>
      assert(diag.get(Bench.shortKey(n)) != null,
        s"heavy query $n missing from diag despite ${flagged.size} flags")
    }
  }

  test("diag degrades before per-query detail under budget pressure") {
    // the all-heavy shape (median ~2.5 s × 274 queries) overflows the
    // tiers that carry the diag vectors AND the full fixed block;
    // per-query TIMES must survive (bench_out.json always has the full
    // diag), and the interference verdict must survive in EVERY tier
    val heavy = fakeResults.map { case (k, r) =>
      k -> r.copy(cpuRuns = r.runs.map(_ * 3.0)) }
    val line = Bench.renderFinal(heavy, "/root/testdata/sf0.1")
    assert(line.length <= Bench.FinalLineBudget)
    val node = mapper.readTree(line)
    assert(queryCount(node) == heavy.size,
      "per-query detail was sacrificed for the diag block")
    assert(node.get("interference_suspected") != null)
  }

  test("slim-kv tier keeps NAMED per-query times at the real gate size (round-19 PERF gap)") {
    // The driver reconstructs per-query names from the final line alone;
    // the name-less vals tier left PERF's per_query empty for two
    // rounds. At the real gate's value widths (median ~0.3 s, a few
    // heavies) the slim-kv tier must win: full kv body, short keys
    // mapping 1:1 onto gate names, md5 canaries riding along.
    val realistic = SparkEntry.queries.keys.zipWithIndex.map { case (name, i) =>
      val best = if (i == 0) 8.2 else 0.05 + (i % 12) * 0.08
      name -> QueryResult(Seq(best, best * 1.2, best * 1.05), 1.5,
        cpuRuns = Seq(best, best, best))
    }.toMap
    val line = Bench.renderFinal(realistic, "/root/testdata/sf0.1")
    assert(line.length <= Bench.FinalLineBudget)
    val node = mapper.readTree(line)
    assert(node.get("qfmt") != null && node.get("qfmt").asText() == "kv",
      s"expected the named kv tier at the real gate size, got: ${line.take(200)}")
    val entries = node.get("queries").asText().split(",")
      .map(_.split(":")(0)).toSet
    assert(entries == SparkEntry.queries.keySet.map(Bench.shortKey),
      "kv keys must map 1:1 onto the gate's short names")
    assert(node.get("md5_st").isNumber && node.get("md5_mt").isNumber,
      "the machine canaries must ride every slim tier")
  }

  test("md5 collapse trips the interference verdict (round-19 detector gap)") {
    // r19 driver run: md5_st 373, md5_mt 387 on 32 procs — >20 cores
    // stolen, detector silent. The canary ratio names it.
    assert(Bench.md5Collapse(373, 387, 32))
    // clean 32-core machine: mt ~20-29x st
    assert(!Bench.md5Collapse(277, 8100, 32))
    // small machines are exempt (mt ~ st is the honest reading there)
    assert(!Bench.md5Collapse(300, 500, 4))
    // degenerate canary (platform couldn't measure) never trips
    assert(!Bench.md5Collapse(0, 0, 32))
  }

  test("md5 collapse gates on the cgroup cpu.max quota, not the processor count") {
    // no quota: the processor count stands
    assert(Bench.effectiveCores(Some("max 100000\n"), 32) == 32)
    // a 4-core quota on a 32-processor host: mt ~ 4x st is the honest
    // reading there, and the small-machine exemption applies
    assert(Bench.effectiveCores(Some("400000 100000\n"), 32) == 4)
    assert(!Bench.md5Collapse(373, 1300, Bench.effectiveCores(Some("400000 100000"), 32)))
    // no cgroup v2 file: the processor count stands
    assert(Bench.effectiveCores(None, 32) == 32)
    // floored, at least one core, never above the processor count
    assert(Bench.effectiveCores(Some("250000 100000"), 32) == 2)
    assert(Bench.effectiveCores(Some("50000 100000"), 32) == 1)
    assert(Bench.effectiveCores(Some("6400000 100000"), 32) == 32)
    assert(Bench.effectiveCores(Some("garbage"), 32) == 32)
  }

  test("full artifact carries qcpu/qgc/spread/canary evidence") {
    val withEvidence = fakeResults.map { case (k, r) =>
      k -> r.copy(cpuRuns = r.runs.map(_ * 2.0), gcRuns = r.runs.map(_ => 0.05)) }
    val full = mapper.readTree(Bench.renderFull(withEvidence, "sf",
      Seq((0, 0.12, 0.31))))
    val firstName = SparkEntry.queries.keys.toSeq.sorted.head
    assert(full.get("qcpu").get(firstName).size() == 3)
    assert(full.get("qgc").get(firstName).get(0).asDouble() == 0.05)
    assert(full.get("spread").get(firstName).isNumber)
    val c = full.get("canary").get(0)
    assert(c.get(1).asDouble() == 0.12 && c.get(2).asDouble() == 0.31)
    assert(full.get("heap_mb").isNumber)
  }

  test("full artifact carries per-run per-stage wall times for pipeline queries") {
    val withStages = fakeResults + ("p1_curation_pipeline" -> QueryResult(
      Seq(4.0, 3.8), 1.0, None,
      Seq(Map("quality" -> 1.0, "chunks" -> 0.5),
          Map("quality" -> 0.9, "chunks" -> 0.6))))
    val full = mapper.readTree(Bench.renderFull(withStages, "sf"))
    val st = full.get("stages").get("p1_curation_pipeline")
    assert(st.size() == 2, "one stage object per run")
    assert(st.get(0).get("quality").asDouble() == 1.0)
    assert(st.get(1).get("chunks").asDouble() == 0.6)
    // queries without stage evidence stay out of the stages map
    assert(!full.get("stages").has("e1_silver_customers"))
  }
}
