package graft
import org.apache.spark.sql.SparkSession

object Bench {
  /** Driver tail-window budget for the final stdout line. The harness keeps
    * only the last ~2000 chars of output and sbt prefixes `[info] `
    * (7 chars); round 4's final line was 2354 chars of JSON and truncated
    * mid-line, so the JSON must stay under this (1950 + 7 + newline still
    * fits the window with margin).
    */
  val FinalLineBudget = 1950

  /** Queries timed min-of-TWO instead of min-of-3: their cost is
    * dominated by real parquet checkpoint materialization (5 stage
    * writes for p1), so a third run adds filesystem traffic without
    * damping noise the second run's min can't already remove. One run
    * proved too few: two identical-code driver rounds put p1 at 10.42 s
    * (r11) and 7.61 s (r12) vs the builder's same-HEAD 4.0 s — with a
    * single sample, one ambient-I/O hiccup IS the reported number. The
    * checkpoints land on /dev/shm when available (PipelineQueries
    * .checkpointParent), so the second run costs RAM bandwidth, not
    * disk. Per-stage wall times for each run are emitted in the full
    * artifact (`stages`) so a slow sample indicts the stage that ate
    * the time instead of the plan wholesale.
    */
  private[graft] val singleRunQueries: Set[String] =
    Set("p1_curation_pipeline",
      // p2 additionally commits four snapshot versions per run
      "p2_incremental_curation",
      // real streaming executions: each run writes sliced source files,
      // a checkpoint dir, and a parquet sink (all /dev/shm-backed), and
      // their cost is micro-batch machinery, not the plan — the sweep
      // shows them flat from sf0.1 to sf0.5
      "s7_stream_sessions", "s8_stream_windowed_counts",
      "s9_stream_stateful_sessions", "s10_stream_attribution",
      "s11_stream_exact_dedup", "s12_stream_cdc_upsert",
      "s13_stream_static_enrich", "s14_stream_dq_gate",
      "s15_stream_late_data", "s16_stream_outer_attribution",
      // s17 additionally runs TWO query lifetimes per replay (restart)
      "s17_stream_restart_recovery", "s18_stream_sliding_counts",
      "s19_stream_dedup_ttl", "s20_stream_update_mode",
      // s23 runs FOUR AvailableNow queries (three drains + the no-op
      // check) and commits three CDF versions + three state versions
      // per run — micro-batch machinery cost, not plan cost
      "s23_stream_cdf_source")
  private[graft] def runsFor(name: String): Int = if (singleRunQueries(name)) 2 else 3

  /** 1-minute system load average, or -1 when the platform can't say.
    * Sampled once per QUERY (not once per render of the whole bench):
    * round 7's driver artifact read 199.9 s vs 47.8 s on an idle re-run,
    * and a single render-time load1 could not show the mid-run
    * interference that caused it. Per-query samples make the artifact
    * self-diagnosing.
    */
  private def load1: Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  /** Cumulative CPU seconds consumed by THIS JVM, or -1 when the
    * platform bean can't say. The per-run delta separates "the query
    * did more work" (cpu tracks wall) from "the machine was stolen /
    * the process was blocked" (wall grows, cpu doesn't) — the
    * distinction round 13's driver-vs-builder 11× gap on the events
    * family could not make from wall-clock alone.
    */
  private def procCpuSec: Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean =>
        val t = os.getProcessCpuTime
        if (t < 0) -1.0 else t / 1e9
      case _ => -1.0
    }

  /** Cumulative GC seconds across all collectors. A wall-time inflation
    * that the GC delta explains is a heap-sizing problem (e.g. the
    * driver launching the bench JVM with a smaller -Xmx than the
    * builder), not a plan problem — `heap_mb` in the artifact carries
    * the other half of that diagnosis.
    */
  private def gcSecTotal: Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum / 1e3
  }

  private def heapMb: Long = Runtime.getRuntime.maxMemory() / (1L << 20)

  /** MD5 throughput of THIS machine, MB/s, over many SMALL inputs
    * (96 bytes — the size of a 13-gram span or an LSH shingle), the
    * exact hot loop of the span-hash/near-dedup family (t25, p1's
    * near_dedup, t2/t3 minhash). Round 14 left that family 3–6× slower
    * on the driver than on a same-commit builder run with cpu≈wall and
    * gc≈0 — i.e. the same work retired slower — and heap was
    * EXONERATED by experiment (t25: 1.29 s at 8 GiB vs 1.35 s at
    * 90 GiB on one machine). This canary names the remaining suspect
    * in-band: if `md5_st` (single-thread) drops ~3× on the driver,
    * the machine's scalar hash throughput is the resource; if
    * `md5_st` is flat but `md5_mt` (all-cores) drops, it's core
    * contention / SMT sharing / memory bandwidth instead. Deterministic
    * input, fixed iteration count, so the number is comparable across
    * environments byte-for-byte.
    */
  private def md5Mbps(threads: Int): Long = {
    val iters = 200000
    val block = new Array[Byte](96)
    java.util.Arrays.fill(block, 0x5a.toByte)
    def burn(): Unit = {
      val md = java.security.MessageDigest.getInstance("MD5")
      var i = 0
      while (i < iters) { md.update(block); md.digest(); i += 1 }
    }
    burn() // JIT warmup outside the timer
    val t0 = System.nanoTime()
    val pool = (1 to threads).map(_ => new Thread(() => burn()))
    pool.foreach(_.start()); pool.foreach(_.join())
    val secs = (System.nanoTime() - t0) / 1e9
    math.round(threads.toLong * iters * block.length / (secs * 1e6))
  }

  private[graft] lazy val md5St: Long = md5Mbps(1)
  private[graft] lazy val md5Mt: Long =
    md5Mbps(Runtime.getRuntime.availableProcessors())

  /** CPU model string from /proc/cpuinfo (bench_out.json provenance —
    * a driver-vs-builder hardware delta should be nameable from the
    * artifacts alone). Empty when unreadable.
    */
  private[graft] def cpuModel: String =
    try {
      val src = scala.io.Source.fromFile("/proc/cpuinfo")
      try src.getLines().collectFirst {
        case l if l.startsWith("model name") => l.split(":", 2)(1).trim
      }.getOrElse("")
      finally src.close()
    } catch { case _: Throwable => "" }

  /** All timing evidence for one query: every run's wall-clock plus the
    * ambient load sampled just before its first run. `error` non-empty when
    * any run threw — a failed query's elapsed time is a fast-fail, not
    * work, so errored queries are EXCLUDED from the headline total and
    * reported in an `errors` map instead (round 9's 19 schema-broken
    * queries "improved" the total by 4.3 s before this rule).
    */
  final case class QueryResult(runs: Seq[Double], load1AtStart: Double,
                               error: Option[String] = None,
                               stages: Seq[Map[String, Double]] = Seq.empty,
                               cpuRuns: Seq[Double] = Seq.empty,
                               gcRuns: Seq[Double] = Seq.empty) {
    def best: Double = runs.min
    /** CPU seconds of the run that produced `best` (the reported
      * number's own utilization evidence); -1 when not measured.
      */
    def cpuOfBest: Double = {
      val i = runs.indexOf(best)
      if (i >= 0 && i < cpuRuns.size) cpuRuns(i) else -1.0
    }
    def gcOfBest: Double = {
      val i = runs.indexOf(best)
      if (i >= 0 && i < gcRuns.size) gcRuns(i) else -1.0
    }
    /** max/min across this query's STEADY-STATE runs. Whenever there is
      * more than one run the FIRST is excluded: run 1 deterministically
      * carries codegen/JIT/datasource-init warmup and upstream-cache
      * priming (measured 3–4× on e1/j1/t6 on an IDLE machine), and the
      * reported min is already insulated from it — spread among the
      * remaining runs is what distinguishes "the min is trustworthy"
      * from "something external was stealing the machine mid-run". For
      * min-of-2 queries that leaves a single steady-state sample, so
      * spread is 1.0 (no evidence — same as single-run), rather than a
      * warmup ratio masquerading as interference (round-13 advice: the
      * 6 two-run checkpoint/streaming queries could otherwise trip the
      * ≥3-flagged suspicion verdict on documented warmup alone). Also
      * 1.0 when the best time is ~0 (noise, not signal).
      */
    def spread: Double = {
      val obs = if (runs.size >= 2) runs.tail else runs
      if (obs.size < 2 || obs.min <= 1e-9) 1.0 else obs.max / obs.min
    }
  }

  /** Interference verdict: a run is suspect when SEVERAL non-trivial
    * queries each saw a >3x spread between their fastest and slowest run
    * of identical code. One such query is GC/codegen luck; three or more
    * means something external was stealing the machine mid-run (round 7:
    * six queries at 5-50x). Tiny queries (best < 0.2 s) are excluded —
    * at that scale a page-cache miss alone is 3x.
    */
  private[graft] val SpreadThreshold = 3.0
  private[graft] val MinBestForSpread = 0.2
  private[graft] val MinFlaggedForSuspicion = 3
  private[graft] def flaggedQueries(results: Map[String, QueryResult]): Seq[String] =
    results.toSeq
      .filter { case (_, r) =>
        r.error.isEmpty && r.best >= MinBestForSpread && r.spread > SpreadThreshold }
      .map(_._1).sorted
  private[graft] def interferenceSuspected(results: Map[String, QueryResult]): Boolean =
    flaggedQueries(results).size >= MinFlaggedForSuspicion

  /** Machine-canary interference trip (round-19 detector gap): the r19
    * driver run had md5_mt at ~5% of the same machine's clean capacity
    * (387 vs ~8100 MB/s minutes apart — >20 cores' worth of CPU stolen
    * for the WHOLE run) yet `interference_suspected` stayed false,
    * because per-query spread compares a query only against ITSELF and
    * run-long theft is spread-invisible. MD5 throughput scales near
    * linearly with real cores, so on any >=8-logical-core machine
    * `md5_mt < 3 x md5_st` means well over half the machine's parallel
    * capacity was not available when the canaries ran — external
    * contention by definition (the bench itself is idle at that point).
    * Both numbers are already in every artifact tier, so the verdict
    * stays checkable from the archived line alone.
    */
  private[graft] def md5Collapse(st: Long, mt: Long, procs: Int): Boolean =
    procs >= 8 && st > 0 && mt < 3L * st
  private def md5CollapseNow: Boolean = {
    val cpuMax =
      try Some(new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("/sys/fs/cgroup/cpu.max")), "UTF-8"))
      catch { case _: java.io.IOException => None }
    md5Collapse(md5St, md5Mt, effectiveCores(cpuMax, Runtime.getRuntime.availableProcessors()))
  }

  /** The cores this process can actually run on, for the md5-collapse
    * gate: a cgroup v2 `cpu.max` of `"<quota> <period>"` grants
    * quota/period cores (floored, at least 1, at most `procs`); `"max
    * <period>"` (no quota), an unreadable line or a missing file (`None`)
    * leave `procs`. A quota-limited container otherwise reads as a
    * many-core machine whose md5_mt "collapsed".
    */
  private[graft] def effectiveCores(cpuMax: Option[String], procs: Int): Int =
    cpuMax.map(_.trim.split("\\s+").toSeq).collect {
      case Seq(q, p) if q.toLongOption.exists(_ > 0) && p.toLongOption.exists(_ > 0) =>
        math.max(1L, math.min(q.toLong / p.toLong, procs.toLong)).toInt
    }.getOrElse(procs)

  private def jsonNum(v: Double): String = (math.round(v * 1000) / 1000.0).toString

  /** Git commit of the working tree, read straight from `.git` (no
    * subprocess): identical-result rounds are then verifiably fresh
    * runs of identifiable code — the provenance the round-12 advice
    * asked artifacts to carry. Empty string when not in a git checkout
    * (artifact stays well-formed).
    */
  private[graft] def gitHead(repoRoot: String = "/root/repo"): String =
    try {
      val head = java.nio.file.Paths.get(repoRoot, ".git", "HEAD")
      val s = new String(java.nio.file.Files.readAllBytes(head), "UTF-8").trim
      if (s.startsWith("ref: ")) {
        val ref = java.nio.file.Paths.get(repoRoot, ".git", s.stripPrefix("ref: "))
        if (java.nio.file.Files.exists(ref))
          new String(java.nio.file.Files.readAllBytes(ref), "UTF-8").trim
        else { // packed refs
          val packed = java.nio.file.Paths.get(repoRoot, ".git", "packed-refs")
          scala.io.Source.fromFile(packed.toFile).getLines()
            .find(_.endsWith(s.stripPrefix("ref: ")))
            .map(_.split(" ")(0)).getOrElse("")
        }
      } else s
    } catch { case _: Throwable => "" }

  /** `"errors":{name:firstLineOfMessage}` for every errored query — present
    * (possibly `{}`) in every artifact tier so the absence of failures is
    * itself recorded, and a shrunken query set can't masquerade as a full
    * green run.
    */
  private def errorsJson(results: Map[String, QueryResult]): String =
    results.toSeq.sortBy(_._1)
      .collect { case (k, r) if r.error.nonEmpty =>
        // capture already firstLine's Throwables; the string overload
        // keeps the artifact single-line for hand-built QueryResults too
        Jsons.str(k) + ":" + Jsons.str(Jsons.firstLine(r.error.get, 160)) }
      .mkString("\"errors\":{", ",", "}")

  // per-query precision in the FINAL line only: 2 dp keeps 75+ queries
  // comfortably inside the tail-window budget (full precision is always
  // on the BENCH_JSON marker line and in bench_out.json)
  private def jsonNum2(v: Double): String = (math.round(v * 100) / 100.0).toString
  private def jsonNum1(v: Double): String = (math.round(v * 10) / 10.0).toString

  /** Per-query key in the final line's most compressed tier: the unique
    * family code before the first underscore ("t7_deterministic_sample" →
    * "t7"). Used only when every short form is unique (guaranteed by the
    * gate's naming convention; verified at render time, never assumed).
    */
  private[graft] def shortKey(name: String): String = name.takeWhile(_ != '_')

  private def queriesJson(results: Map[String, Double], fmt: Double => String,
                          key: String => String = identity): String =
    results.toSeq.sortBy(_._1)
      .map { case (k, v) => "\"" + key(k) + "\":" + fmt(v) }
      .mkString("{", ",", "}")

  private def interferenceJson(results: Map[String, QueryResult]): String = {
    val flagged = flaggedQueries(results)
    val shortOk = results.keys.map(shortKey).toSet.size == results.size
    val names = (if (shortOk) flagged.map(shortKey) else flagged)
      .map("\"" + _ + "\"").mkString("[", ",", "]")
    s""""interference_suspected":${
      interferenceSuspected(results) || md5CollapseNow},"flagged":$names"""
  }

  /** Full-precision JSON — persisted to bench_out.json and the marker line.
    * Carries the complete self-diagnosis evidence: every run of every query
    * (`runs`), the ambient load sampled at each query's start (`qload1`),
    * and the interference verdict — so a 4x-anomalous total (round 7) is
    * distinguishable from a code regression from the artifact alone.
    */
  def renderFull(results: Map[String, QueryResult], sfDir: String,
                 canary: Seq[(Int, Double, Double)] = Seq.empty): String = {
    val mins = results.collect { case (k, r) if r.error.isEmpty => k -> r.best }
    val total = if (mins.nonEmpty) mins.values.sum else 0.0
    def perQuery(f: QueryResult => String): String = results.toSeq.sortBy(_._1)
      .map { case (k, r) => "\"" + k + "\":" + f(r) }.mkString("{", ",", "}")
    val runsJson = perQuery(r => r.runs.map(jsonNum).mkString("[", ",", "]"))
    val qloadJson = perQuery(r => jsonNum(r.load1AtStart))
    // per-run JVM-cpu-seconds and GC-seconds deltas (same shape as
    // `runs`): wall ≫ cpu with flat gc = the machine wasn't ours (I/O
    // block or CPU theft); wall tracking gc = heap pressure. Either way
    // the artifact names the stolen resource instead of indicting the
    // plan (round-13 task #1).
    val qcpuJson = perQuery(r => r.cpuRuns.map(jsonNum).mkString("[", ",", "]"))
    val qgcJson = perQuery(r => r.gcRuns.map(jsonNum).mkString("[", ",", "]"))
    val spreadJson = perQuery(r => jsonNum(r.spread))
    // calibration canary: the same trivial query re-timed at fixed
    // points through the run ([after-query-index, wall, cpu]) — a
    // mid-run environment shift bends this line in-band, where a
    // per-query spread (same-minute samples) cannot see it
    val canaryJson = canary.map { case (i, w, c) =>
      s"[$i,${jsonNum(w)},${jsonNum(c)}]" }.mkString("[", ",", "]")
    // per-run per-stage wall times for checkpoint-pipeline queries (p1):
    // one object per run, so a slow total names its guilty stage
    val stagesJson = results.toSeq.sortBy(_._1)
      .collect { case (k, r) if r.stages.exists(_.nonEmpty) =>
        "\"" + k + "\":" + r.stages.map(m =>
          m.toSeq.map { case (s, v) => "\"" + s + "\":" + jsonNum(v) }
            .mkString("{", ",", "}")).mkString("[", ",", "]") }
      .mkString("{", ",", "}")
    // layout-build accounting (round-18 gate-runtime hygiene): seconds
    // spent building memoized gate tables/models on THIS run — charged
    // to whichever query touched each layout first, so cold-vs-warm
    // totals differ by exactly this amount without it being a plan
    // regression. Warm in-JVM reruns report ~0.
    val layouts = graft.queries.LayoutBuild.perLayoutSec
    val layoutsJson = layouts.toSeq.sortBy(_._1)
      .map { case (k, v) => Jsons.str(k) + ":" + jsonNum(v) }
      .mkString("{", ",", "}")
    s"""{"metric":"total","value":$total,"unit":"sec","load1":${jsonNum(load1)},""" +
      s""""commit":${Jsons.str(gitHead())},"generated_at_ms":${System.currentTimeMillis()},""" +
      s""""heap_mb":$heapMb,"md5_st":$md5St,"md5_mt":$md5Mt,""" +
      s""""cpu_model":${Jsons.str(cpuModel)},""" +
      s""""procs":${Runtime.getRuntime.availableProcessors()},""" +
      s""""layout_build_sec":${jsonNum(graft.queries.LayoutBuild.totalSec)},""" +
      s""""layout_wall_sec":${jsonNum(graft.queries.LayoutBuild.prewarmWallSec)},""" +
      s""""layouts":$layoutsJson,""" +
      s""""jvm":${Jsons.str(System.getProperty("java.vm.version", ""))},""" +
      s"""${interferenceJson(results)},${errorsJson(results)},""" +
      s""""queries":${queriesJson(mins, _.toString)},""" +
      s""""runs":$runsJson,"qload1":$qloadJson,"qcpu":$qcpuJson,"qgc":$qgcJson,""" +
      s""""spread":$spreadJson,"canary":$canaryJson,""" +
      s""""stages":$stagesJson,"sf":"$sfDir"}"""
  }

  /** The FINAL stdout line. Six tiers, first that fits the tail window
    * wins — per-query detail survives to ~230 queries instead of 79:
    *   1. full keys, 2 dp values
    *   2. full keys, 1 dp values
    *   3. short family-code keys ("t7"), 2 dp, marked `"keys":"short"`
    *      (only when the short forms are collision-free)
    *   4. short keys, 1 dp (the 163-query gate outgrew tier 3's budget)
    *   5. short keys, integer deciseconds, marked `"qunit":"ds"` (the
    *      175-query gate outgrew tier 4's budget)
    *   5b. slim-kv tiers (round 20): NAMED per-query ds times with the
    *      diagnosis block shrunk to the md5 machine canaries — the
    *      274-query gate outgrew every named tier that carries the full
    *      block, and the name-less vals tier left the driver's PERF
    *      per-query comparison dark for two rounds
    *   6. totals-only summary pointing at bench_out.json
    * Every tier carries the interference verdict — the final line is the
    * artifact the driver archives, so it must acquit (or indict) itself.
    */
  /** Final-line self-diagnosis block, budget-capped by construction:
    * `heap_mb` + whole-run cpu/gc totals, the canary track as
    * `[[after-query-index, deciseconds], ...]`, and `diag` — per-query
    * [run-order-index, wall ds, cpu ds, gc ds, load1×10] for at most
    * [[DiagCap]] queries (every spread-flagged one, then the most
    * expensive error-free ones ≥ 1 s). Run-order index is the query's
    * rank in the sorted execution order, so the driver artifact alone
    * places an anomaly on the run's timeline next to the canary bends.
    */
  /** The N heaviest error-free queries ALWAYS carry diag vectors —
    * spread-flagged queries ride along on top instead of consuming the
    * budget (round 14 lost t25, the 3rd-heaviest query, from the
    * archived artifact because four flagged queries filled a shared
    * cap). The line-budget tiers absorb the marginally longer block.
    */
  private[graft] val DiagCap = 6
  private def ds(v: Double): Long = math.round(v * 10)

  /** `diag`: per-query `[run-order-index, wall ds, cpu ds, gc ds,
    * load1×10]` for at most [[DiagCap]] queries — every spread-flagged
    * one, then the most expensive error-free ones ≥ 1 s. The run-order
    * index is the query's rank in the sorted execution order, so the
    * driver artifact alone places an anomaly on the run's timeline
    * next to the canary bends, and wall-vs-cpu-vs-gc names the stolen
    * resource (cpu tracks wall = real work or GC; cpu flat = the
    * machine wasn't ours). `fields` trims the per-entry vector when
    * the line is squeezed (full per-query evidence is always in
    * bench_out.json).
    */
  private[graft] def diagJson(results: Map[String, QueryResult],
                              fields: Int = 5): String = {
    val ordered = results.toSeq.sortBy(_._1)
    val orderIdx = ordered.map(_._1).zipWithIndex.toMap
    val flagged = flaggedQueries(results)
    val heavy = ordered.collect {
      case (k, r) if r.error.isEmpty && r.best >= 1.0 => k -> r.best }
      .sortBy(-_._2).map(_._1)
    val picked = (heavy.take(DiagCap) ++ flagged).distinct
    val shortOk = results.keys.map(shortKey).toSet.size == results.size
    picked.sortBy(orderIdx).map { k =>
      val r = results(k)
      val key = if (shortOk) shortKey(k) else k
      val vec = Seq[Long](orderIdx(k), ds(r.best), ds(r.cpuOfBest),
        ds(r.gcOfBest), ds(r.load1AtStart)).take(fields)
      s""""$key":${vec.mkString("[", ",", "]")}"""
    }.mkString("{", ",", "}")
  }

  /** Fixed-size self-diagnosis block for every final-line tier:
    * `heap_mb` (a smaller driver-side -Xmx would explain GC-bound
    * inflation), whole-run JVM cpu/gc totals, and the canary track as
    * `[[after-query-index, deciseconds], ...]` — a mid-run environment
    * shift bends the canary line in-band.
    */
  private[graft] def diagFixedJson(results: Map[String, QueryResult],
                                   canary: Seq[(Int, Double, Double)]): String = {
    val canaryJson = canary.map { case (i, w, _) => s"[$i,${ds(w)}]" }
      .mkString("[", ",", "]")
    val cpuTotal = results.valuesIterator.map(_.cpuRuns.sum).sum
    val gcTotal = results.valuesIterator.map(_.gcRuns.sum).sum
    // per-FAMILY layout seconds (deciseconds, compact): the tail-window
    // artifact the driver parses can now subtract cold layout cost per
    // query family mechanically (io_/text_/vec_ caches prefix their
    // family); the full per-layout map stays in bench_out.json
    val famJson = graft.queries.LayoutBuild.perLayoutSec.toSeq
      .groupBy(_._1.split("_").head)
      .map { case (f, vs) => f -> vs.map(_._2).sum }
      .toSeq.sortBy(_._1)
      .map { case (f, v) => Jsons.str(f) + ":" + math.round(v * 10) }
      .mkString("{", ",", "}")
    s""""heap_mb":$heapMb,"md5_st":$md5St,"md5_mt":$md5Mt,""" +
      s""""cpu_sec":${jsonNum1(cpuTotal)},"gc_sec":${jsonNum1(gcTotal)},""" +
      s""""layout_build_sec":${
        jsonNum1(graft.queries.LayoutBuild.totalSec)},""" +
      s""""layout_ds":$famJson,"canary":$canaryJson"""
  }

  def renderFinal(results: Map[String, QueryResult], sfDir: String,
                  canary: Seq[(Int, Double, Double)] = Seq.empty): String = {
    val mins = results.collect { case (k, r) if r.error.isEmpty => k -> r.best }
    val total = if (mins.nonEmpty) mins.values.sum else 0.0
    val totalR = jsonNum(total)
    val nErr = results.count(_._2.error.nonEmpty)
    val intf = interferenceJson(results) + s""","error_count":$nErr,""" +
      diagFixedJson(results, canary)
    def line(mid: String): String =
      s"""{"metric":"total","value":$totalR,"unit":"sec","load1":${jsonNum(load1)},$intf,$mid"sf":"$sfDir"}"""
    // slim variant: interference verdict + error count, but the caller
    // supplies its own (smaller) diagnosis block inside `mid`
    def lineSlim(mid: String): String =
      s"""{"metric":"total","value":$totalR,"unit":"sec","load1":${jsonNum(load1)},${
        interferenceJson(results)},"error_count":$nErr,$mid"sf":"$sfDir"}"""
    val shortOk = results.keys.map(shortKey).toSet.size == results.size
    def never = " " * (FinalLineBudget + 1) // never fits → next tier
    def dsTier(diagFields: Int): String = if (!shortOk) never else
      line(s""""diag":${diagJson(results, diagFields)},""" +
        s""""keys":"short","qunit":"ds","queries":${
          queriesJson(mins, v => math.round(v * 10).toString, shortKey)},""")
    def kvBody: String = mins.toSeq.sortBy(_._1)
      .map { case (k, v) => shortKey(k) + ":" + math.round(v * 10) }
      .mkString(",")
    def valsBody: String = mins.toSeq.sortBy(_._1)
      .map { case (_, v) => math.round(v * 10) }.mkString(",")
    // kv packing saves ~2 chars/query over the ds object — more than a
    // trimmed diag block costs — so diag+kv outranks ds-without-diag
    def kvDiagTier(diagFields: Int): String = if (!shortOk) never else
      line(s""""diag":${diagJson(results, diagFields)},""" +
        s""""keys":"short","qunit":"ds","qfmt":"kv","queries":${Jsons.str(kvBody)},""")
    val tiers: Seq[() => String] = Seq(
      () => line(s""""diag":${diagJson(results)},"queries":${queriesJson(mins, jsonNum2)},"""),
      () => line(s""""diag":${diagJson(results)},"queries":${queriesJson(mins, jsonNum1)},"""),
      () => if (shortOk)
        line(s""""diag":${diagJson(results)},"keys":"short","queries":${
          queriesJson(mins, jsonNum2, shortKey)},""")
      else never,
      () => if (shortOk)
        line(s""""diag":${diagJson(results)},"keys":"short","queries":${
          queriesJson(mins, jsonNum1, shortKey)},""")
      else never,
      // tier 5 — short keys, INTEGER DECISECONDS ("qunit":"ds", value
      // 4 = 0.4 s): ~2 chars/query denser than 1 dp, which carries
      // per-query detail to ~230 queries before the totals-only
      // fallback (the 175-query gate crossed 1950 chars in tier 4).
      // Squeezed further, the diag vectors trim to [order, wall, cpu]
      // and then drop entirely — per-query TIMES outrank the diag in
      // the final line because bench_out.json always carries both.
      () => dsTier(5),
      () => dsTier(3),
      () => kvDiagTier(5),
      () => kvDiagTier(3),
      () => if (shortOk)
        line(s""""keys":"short","qunit":"ds","queries":${
          queriesJson(mins, v => math.round(v * 10).toString, shortKey)},""")
      else never,
      // tier 8 — short keys + deciseconds packed into ONE JSON string
      // ("e1:4,r10:12,…", marked "qfmt":"kv"): drops the per-entry
      // quote/colon overhead of a JSON object (~2 chars/query — the
      // margin the 192-query gate outgrew), carrying per-query detail
      // to ~240 queries before the totals-only fallback.
      () => if (shortOk)
        line(s""""keys":"short","qunit":"ds","qfmt":"kv","queries":${Jsons.str(kvBody)},""")
      else never,
      // SLIM kv tiers (round-20): NAMED per-query times outrank the
      // fixed self-diagnosis block — the 274-query gate outgrew every
      // tier that carries both, and the driver's round-over-round PERF
      // comparison went dark for two rounds because the vals tier below
      // drops the names. These tiers keep the full kv body and shrink
      // the diagnosis block to the machine canaries (md5 collapse IS
      // the interference evidence; heap/canary/layout detail stays in
      // bench_out.json and the BENCH_JSON marker line). kv at ds
      // precision fits ~280 queries with the totals, ~290 md5-only.
      () => if (shortOk)
        lineSlim(
          s""""md5_st":$md5St,"md5_mt":$md5Mt,""" +
            s""""cpu_sec":${jsonNum1(results.valuesIterator.map(_.cpuRuns.sum).sum)},""" +
            s""""gc_sec":${jsonNum1(results.valuesIterator.map(_.gcRuns.sum).sum)},""" +
            s""""layout_build_sec":${jsonNum1(graft.queries.LayoutBuild.totalSec)},""" +
            s""""keys":"short","qunit":"ds","qfmt":"kv","queries":${Jsons.str(kvBody)},""")
      else never,
      () => if (shortOk)
        lineSlim(s""""md5_st":$md5St,"md5_mt":$md5Mt,""" +
          s""""keys":"short","qunit":"ds","qfmt":"kv","queries":${Jsons.str(kvBody)},""")
      else never,
      // tier 9 — VALUES-ONLY deciseconds ("qfmt":"vals": one packed
      // string of ds values in lexicographic full-name order, count in
      // "qcount"): drops the keys entirely (~4 chars/query — the margin
      // the 250-query gate outgrew), carrying per-query detail to ~450
      // queries. Names reconstruct from any same-commit artifact's
      // sorted key set (oracle_sql.json, bench_out.json); full
      // key→value detail is always in bench_out.json. The vals body is
      // dense enough that the diag block fits BESIDE it well past 300
      // queries (271-query gate: ~950 + ~220 chars), so diag-carrying
      // variants come first — the 271-query gate outgrew the kv tiers
      // and was silently losing the per-query self-diagnosis vectors.
      () => line(s""""diag":${diagJson(results)},"qunit":"ds","qfmt":"vals","qorder":"name","qcount":${
        mins.size},"queries":${Jsons.str(valsBody)},"""),
      () => line(s""""diag":${diagJson(results, 3)},"qunit":"ds","qfmt":"vals","qorder":"name","qcount":${
        mins.size},"queries":${Jsons.str(valsBody)},"""),
      () => line(s""""qunit":"ds","qfmt":"vals","qorder":"name","qcount":${
        mins.size},"queries":${Jsons.str(valsBody)},"""),
      () => line(s""""diag":${diagJson(results)},"detail":"bench_out.json","""))
    tiers.iterator.map(_.apply()).find(_.length <= FinalLineBudget)
      .getOrElse(line("")) // unreachable: the summary tier is O(1) size
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // testdata-contract preflight (see Verify): name drifted columns
    // before any timing; failures then show up per-query in `errors`.
    queries.Tables.preflight(spark, sfDir)
      .foreach(m => System.err.println(s"[preflight] $m"))
    // warmup: initialize FS/codegen/shuffle machinery outside the timers,
    // and touch EVERY base table once (page cache + parquet footers) — on
    // a loaded machine a cold first scan otherwise dominates the small
    // queries' timings (round 6: t7 at 4x its idle time, code unchanged)
    Option(new java.io.File(sfDir).listFiles()).getOrElse(Array.empty)
      .filter(_.getName.endsWith(".parquet")).foreach { f =>
        try spark.read.parquet(f.getPath)
          .write.format("noop").mode("overwrite").save()
        catch { case _: Throwable => }
      }
    SparkEntry.queries.headOption.foreach { case (_, fn) =>
      try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch { case _: Throwable => }
    }
    // build the memoized gate layouts CONCURRENTLY up front (round-20,
    // guide §2.6) instead of serially on first touch inside the query
    // loop: same builds, same layout_build_sec accounting, ~4x less
    // gate wall spent on them; `layout_wall_sec` in bench_out.json
    // records what the phase actually cost this run
    try queries.LayoutBuild.prewarmAll(spark, sfDir)
    catch { case e: Throwable => System.err.println(s"[bench] prewarm: $e") }
    // noop sink forces full computation of every operator in the plan
    // (count() would let Catalyst drop projections and wide transforms).
    // Three timed runs per query, min reported — damps GC/codegen-compile/
    // ambient-load noise (first runs of sketch aggregates measured 5x
    // their steady state from one-time class init alone). Checkpoint-heavy
    // queries (singleRunQueries) run once — see runsFor.
    def timeOnce(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): (Double, Option[String], Double, Double) = {
      val (cpu0, gc0) = (procCpuSec, gcSecTotal)
      val t0 = System.nanoTime()
      val err =
        try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); None }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name FAILED: $e")
          // firstLine at capture: a message starting with "\n" would
          // otherwise render as an empty identifier in errors.json
          Some(graft.Jsons.firstLine(e))
        }
      val wall = (System.nanoTime() - t0) / 1e9
      val cpu = if (cpu0 < 0) -1.0 else procCpuSec - cpu0
      (wall, err, cpu, gcSecTotal - gc0)
    }
    // SPARK_GRAFT_ONLY="e9_fact_sales,e3_..." restricts the run — the
    // iteration loop for benchmarking one operator without the full gate.
    // Unknown names fail fast (a typo would otherwise silently bench an
    // empty/partial set), and any subset run is marked in the JSON so a
    // partial bench_out.json can't be mistaken for a full-gate result.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    only.foreach { names =>
      val unknown = names.diff(SparkEntry.queries.keySet)
      require(unknown.isEmpty,
        s"SPARK_GRAFT_ONLY names not in SparkEntry.queries: ${unknown.toSeq.sorted.mkString(", ")}")
    }
    // Calibration canary: re-time one trivial fixed query at a steady
    // cadence through the run. Two identical-code rounds bracketed
    // ambient noise at ~3×, but round 13's driver run put three
    // events-family queries at 11× the builder's same-commit numbers
    // with internally-consistent runs — a shift the per-query spread
    // (samples seconds apart) cannot see. A bent canary line localizes
    // a mid-run environment change to a position in the execution
    // order; a flat one exonerates the environment and indicts the
    // code. The canary is r2 (single filter+project over lineitem,
    // ~0.1 s steady-state): cheap enough to repeat, big enough to feel
    // CPU theft.
    // force the machine canaries BEFORE the query loop: they
    // characterize the environment the queries are about to run in
    val _ = (md5St, md5Mt)
    val CanaryEvery = 30
    val canaryName = "r2_filter_project"
    val canarySamples = scala.collection.mutable.ArrayBuffer.empty[(Int, Double, Double)]
    def runCanary(afterIdx: Int): Unit =
      SparkEntry.queries.get(canaryName).foreach { fn =>
        val (w, err, c, _) = timeOnce(canaryName, fn)
        if (err.isEmpty) canarySamples += ((afterIdx, w, c))
      }
    val toRun = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
    val results = toRun.zipWithIndex
      .map { case ((name, fn), idx) =>
        if (idx % CanaryEvery == 0) runCanary(idx)
        val loadAtStart = load1
        val samples = (1 to runsFor(name)).map { _ =>
          graft.pipeline.TextPipeline.lastRunDurations = Map.empty
          val (secs, err, cpu, gc) = timeOnce(name, fn)
          (secs, err, graft.pipeline.TextPipeline.lastRunDurations, cpu, gc)
        }
        // real streaming executions leave state-store providers and a
        // maintenance thread alive after the query terminates; stop
        // them so the NEXT query's timing can't carry their upkeep
        // (no-op unless a StreamingQuery actually ran since last call)
        graft.streaming.StreamExec.teardownStateStores()
        name -> QueryResult(samples.map(_._1), loadAtStart,
          samples.flatMap(_._2).headOption, samples.map(_._3),
          samples.map(_._4), samples.map(_._5))
      }.toMap
    runCanary(toRun.size) // closing sample bounds the run's tail
    def markSubset(json: String): String =
      if (only.isEmpty) json
      else json.replaceFirst("\\{", """{"subset":true,""")
    val full = markSubset(renderFull(results, sfDir, canarySamples.toSeq))
    val finalLine = markSubset(renderFinal(results, sfDir, canarySamples.toSeq))
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "/root/repo/bench_out.json")
    try java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      (full + "\n").getBytes("UTF-8"))
    catch { case e: Throwable => System.err.println(s"[bench] write $outPath: $e") }
    // after stop() so no executor/log line can land after it. Marker line
    // first (greppable, full precision), short bare JSON as the final
    // stdout line of the program.
    spark.stop()
    println("BENCH_JSON " + full)
    println(finalLine)
  }
}
