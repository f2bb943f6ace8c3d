package graft.perfbench

import java.lang.management.ManagementFactory
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.io.{CsvBronzeSource, LocalWarehouseSink}
import graft.pipeline.{IncrementalPipeline, Runner, TextPipeline}
import graft.silver.Transforms
import graft.text.TextOps

/** One benchmark process: builds the session, runs a cold pass and then
  * warm passes of one workload back to back until the time window is
  * spent, checks every pass's outputs outside the timers, and writes the
  * raw record (timings, resources, digests, trace events) as JSON for
  * run.py to reduce.
  *
  *   Main --workload W --data DIR --work DIR --out FILE --seconds S
  *        --trace 0|1 --cores N --seed N --t0-ms EPOCH_MS
  */
object Main {

  /** The p2 gate's curation thresholds (PipelineQueries), so the
    * benchmark runs the pipeline exactly as the gate does. */
  val gateCfg = TextPipeline.Config(minTokens = 5, minStopwordRatio = 0.05, langThreshold = 0.05)

  val streamQueries = Seq(
    "s8" -> "s8_stream_windowed_counts", "s12" -> "s12_stream_cdc_upsert",
    "s23" -> "s23_stream_cdf_source")

  final case class PassResult(check: Map[String, Any], digest: String)

  def main(argv: Array[String]): Unit = {
    val args = argv.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val t0Ms = args("t0-ms").toDouble
    val cores = args("cores").toInt
    val spark = graft.core.Sessions.local(cores, "perfbench")
    val setupS = (nowMs - t0Ms) / 1e3
    val rec = try run(spark, args, setupS) catch {
      case e: Throwable => e.printStackTrace(); Runtime.getRuntime.halt(3); null
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(args("out")),
      Json.render(rec).getBytes("UTF-8"))
    // nothing after the record is measured; run.py removes the work dir
    Runtime.getRuntime.halt(0)
  }

  private def nowMs: Double = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1e3 + i.getNano / 1e6
  }

  // ---- resource probes ----

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def cpuS: Double = os.getProcessCpuTime / 1e9

  /** Hadoop FileSystem bytes written through the local file system. */
  private def bytesWritten: Long = {
    import org.apache.hadoop.fs.FileSystem
    FileSystem.getAllStatistics.asScala.filter(_.getScheme == "file").map(_.getBytesWritten).sum
  }

  /** Old-generation bytes live after a full GC. A peak taken after young
    * GCs varied by up to 45% between seeds (how much garbage was promoted
    * before the pass ended); the live set after the full GC that closes a
    * pass repeats, and shows what a pass leaves behind. */
  private val oldGen = ManagementFactory.getMemoryPoolMXBeans.asScala
    .find(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))
    .getOrElse(sys.error("no old-generation memory pool"))
  private def liveOldGenAfterGc(): Long = { System.gc(); oldGen.getUsage.getUsed }

  /** Wait, at most 5 s, until the JIT has compiled nothing for 250 ms, so
    * a pass does not start behind the compile backlog of the work before
    * it. Returns the seconds waited. */
  private def jitQuiet(): Double = {
    val jit = ManagementFactory.getCompilationMXBean
    val t0 = System.nanoTime()
    var last = jit.getTotalCompilationTime
    var quietSince = t0
    while (System.nanoTime() - t0 < 5000000000L && System.nanoTime() - quietSince < 250000000L) {
      Thread.sleep(50)
      val t = jit.getTotalCompilationTime
      if (t != last) { last = t; quietSince = System.nanoTime() }
    }
    (System.nanoTime() - t0) / 1e9
  }

  // ---- workloads ----

  trait Workload {
    def pass(dir: String, trace: Trace): Unit
    /** Output checks, outside the timers. */
    def check(dir: String): PassResult
  }

  private def digestOf(parts: Seq[(String, Any)]): String =
    parts.map { case (k, v) => s"$k=$v" }.mkString(";")

  /** Order-independent table digest: row count and the sum of the rows'
    * xxhash64 values folded below 2^31 (no overflow at any input size here). */
  private def tableDigest(df: DataFrame): (Long, Long) = {
    val r = df.select(pmod(xxhash64(df.columns.map(col).toIndexedSeq: _*), lit(2147483647L)).as("h"))
      .agg(count(lit(1)), coalesce(sum(col("h")), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  final class Medallion(spark: SparkSession, data: String) extends Workload {
    def pass(dir: String, trace: Trace): Unit = {
      val r = new Runner(spark, new CsvBronzeSource(data), dir,
        new LocalWarehouseSink(s"$dir/warehouse"), Transforms.Clock.fixed("2026-01-01"))
      trace.span("bronze")(r.runBronze())
      trace.span("silver")(r.runSilver())
      trace.span("gold")(r.runGold())
    }
    def check(dir: String): PassResult = {
      val wh = Seq("customer_sch/dim_customers", "product_sch/dim_products", "sales_sch/fact_sales")
        .map(t => t -> spark.read.parquet(s"$dir/warehouse/$t"))
      val digests = wh.map { case (t, df) => t -> tableDigest(df) }
      def keys(t: String, k: String) = {
        val r = wh.toMap.apply(t).agg(min(k), max(k), countDistinct(col(k)), count(lit(1))).head()
        Map("min" -> r.getLong(0), "max" -> r.getLong(1), "distinct" -> r.getLong(2), "rows" -> r.getLong(3))
      }
      PassResult(Map(
        "silver_sales" -> spark.read.parquet(s"$dir/silver/crm_sales_details").count(),
        "fact_sales" -> digests(2)._2._1,
        "dim_customers" -> keys("customer_sch/dim_customers", "customer_key"),
        "dim_products" -> keys("product_sch/dim_products", "product_key")),
        digestOf(digests.map { case (t, (n, h)) => t -> s"$n:$h" }))
    }
  }

  /** Kept docs whose normalized-text fingerprint another kept doc shares. */
  private def sharedFingerprints(docs: DataFrame): Long =
    docs.groupBy(TextOps.fingerprint(col("text")).as("fp")).count()
      .filter(col("count") > 1).count()

  /** IncrementalPipeline.run over `data`/documents.parquet. */
  final class Incremental(spark: SparkSession, data: String) extends Workload {
    private var p: IncrementalPipeline = _
    def pass(dir: String, trace: Trace): Unit = {
      p = new IncrementalPipeline(spark, s"$data/documents.parquet", dir, gateCfg)
      trace.span("p2.run")(p.run())
    }
    def check(dir: String): PassResult = {
      val fpV1 = graft.operators.Scale.readSnapshot(spark, p.fpIdxPath, Some(1L))
      val fpRows = fpV1.count()
      val fpDistinct = fpV1.select("fp").distinct().count()
      val kept = p.frames("delta_near").select("doc_id")
        .join(spark.read.parquet(s"$data/documents.parquet"), "doc_id")
      PassResult(Map("counts" -> p.counts.toMap,
        "fp_index_v1_rows" -> fpRows, "fp_index_v1_distinct" -> fpDistinct,
        "shared_fingerprints" -> sharedFingerprints(kept)),
        digestOf(p.sigs.toSeq.map { case (k, (n, s)) => k -> s"$n:$s" }))
    }
  }

  /** The four streaming gate queries, called by name, over `data`. */
  final class StreamReplay(spark: SparkSession, data: String) extends Workload {
    private val results = scala.collection.mutable.LinkedHashMap.empty[String, (Array[Row], DataFrame)]
    def pass(dir: String, trace: Trace): Unit = streamQueries.foreach { case (short, name) =>
      trace.span(short) {
        val df = SparkEntry.queries(name)(spark, data)
        results(short) = (df.collect(), df)
      }
    }
    def check(dir: String): PassResult = {
      val digests = results.toSeq.map { case (short, (rows, df)) =>
        val h = java.security.MessageDigest.getInstance("SHA-256")
        rows.map(_.toString).sorted.foreach(s => h.update(s.getBytes("UTF-8")))
        // the oracle comparison reads this copy (run.py, DuckDB)
        spark.createDataFrame(rows.toSeq.asJava, df.schema)
          .write.mode("overwrite").parquet(s"$dir/result/$short")
        short -> (rows.length.toString + ":" + h.digest().take(8).map("%02x".format(_)).mkString)
      }
      results.clear()
      PassResult(Map("rows" -> digests.map { case (k, v) => k -> v.takeWhile(_ != ':').toLong }.toMap),
        digestOf(digests))
    }
  }

  /** The incremental paths in one pass: the p2 refresh (bootstrap, index
    * commits, O(delta) stages) and then the streaming gate queries. */
  final class IncrementalStream(spark: SparkSession, data: String) extends Workload {
    private val p2 = new Incremental(spark, s"$data/p2")
    private val stream = new StreamReplay(spark, s"$data/stream")
    def pass(dir: String, trace: Trace): Unit = {
      p2.pass(s"$dir/p2", trace)
      stream.pass(dir, trace)
    }
    def check(dir: String): PassResult = {
      val a = p2.check(s"$dir/p2")
      val b = stream.check(dir)
      PassResult(a.check ++ b.check, a.digest + ";" + b.digest)
    }
  }

  /** Point the streaming harness's scratch root at `dir`: its default,
    * /dev/shm or java.io.tmpdir, would write outside the work directory. */
  private def redirectStreamScratch(dir: java.nio.file.Path): Unit = {
    val owner = graft.streaming.StreamExec
    val cls = owner.getClass
    val f = cls.getDeclaredField("scratchParent")
    f.setAccessible(true)
    f.set(owner, java.nio.file.Files.createDirectories(dir))
    val bitmap = cls.getDeclaredFields.find(_.getName.startsWith("bitmap$"))
      .getOrElse(sys.error("StreamExec.scratchParent: lazy-val bitmap not found"))
    bitmap.setAccessible(true)
    bitmap.getType match {
      case java.lang.Boolean.TYPE => bitmap.setBoolean(owner, true)
      case java.lang.Byte.TYPE => bitmap.setByte(owner, (bitmap.getByte(owner) | 1).toByte)
      case t => sys.error(s"StreamExec.scratchParent: unexpected bitmap type $t")
    }
    require(graft.streaming.StreamExec.scratchParent == dir, "scratch redirect did not take")
  }

  // ---- the closed loop ----

  def run(spark: SparkSession, args: Map[String, String], setupS: Double): Map[String, Any] = {
    val workload = args("workload")
    val data = args("data")
    val work = args("work")
    val seconds = args("seconds").toDouble
    val traceMode = args("trace") == "1"
    val w: Workload = workload match {
      case "medallion" => new Medallion(spark, data)
      case "incremental_stream" =>
        redirectStreamScratch(java.nio.file.Paths.get(work, "stream_scratch"))
        val bad = graft.queries.Tables.preflight(spark, s"$data/stream")
          .filter(m => Seq("events", "orders", "documents").exists(t => m.startsWith(t + ".") || m.startsWith(t + ":")))
        require(bad.isEmpty, s"generated tables break the Tables.preflight contract: ${bad.mkString("; ")}")
        new IncrementalStream(spark, data)
      case other => sys.error(s"unknown workload $other")
    }
    val trace = new Trace(spark, s"$workload-${args.getOrElse("seed", "0")}-${ProcessHandle.current.pid}")
    // an untraced run needs a cold pass and >= 1 warm one; the traced run
    // alternates untraced and traced warm passes, starting and ending
    // untraced, so the JIT's warm-up trend cancels out of the overhead
    val minWarm = if (traceMode) 3 else 1
    val maxPasses = 40
    val passes = scala.collection.mutable.ArrayBuffer.empty[Map[String, Any]]
    val tStart = System.nanoTime()
    var i = 0
    def elapsed = (System.nanoTime() - tStart) / 1e9
    while (i == 0 || ((elapsed < seconds || i - 1 < minWarm) && i < maxPasses)) {
      val dir = s"$work/pass$i"
      val traced = traceMode && i > 0 && i % 2 == 0
      liveOldGenAfterGc()
      val jitWait = jitQuiet()
      trace.beginPass(i, traced)
      val (c0, b0) = (cpuS, bytesWritten)
      val n0 = System.nanoTime()
      val err = try { trace.span("pass")(w.pass(dir, trace)); None }
      catch { case e: Throwable => Some(graft.Jsons.firstLine(e, 400)) }
      val wall = (System.nanoTime() - n0) / 1e9
      val (c1, b1) = (cpuS, bytesWritten)
      trace.endPass()
      val live = liveOldGenAfterGc()
      val k0 = System.nanoTime()
      val res = err.fold(
        try Right(w.check(dir)) catch { case e: Throwable => Left(graft.Jsons.firstLine(e, 400)) }
      )(Left(_))
      passes += Map("index" -> i, "traced" -> traced, "wall_s" -> wall, "cpu_s" -> (c1 - c0),
        "check_s" -> (System.nanoTime() - k0) / 1e9, "jit_wait_s" -> jitWait,
        "write_bytes" -> (b1 - b0), "old_gen_live_bytes" -> live,
        "error" -> res.left.toOption,
        "check" -> res.toOption.map(_.check), "digest" -> res.toOption.map(_.digest))
      // the next pass writes into a fresh directory; keep the disk small
      if (i > 0) deleteTree(java.nio.file.Paths.get(s"$work/pass${i - 1}"))
      i += 1
    }
    Map("workload" -> workload, "setup_s" -> setupS, "cores" -> args("cores").toInt,
      "jvm" -> System.getProperty("java.vm.version"), "spark" -> spark.version,
      "passes" -> passes.toSeq, "trace" -> trace.toJson,
      "oracle_sql" -> (if (workload == "incremental_stream")
        streamQueries.map { case (short, name) => short -> SparkEntry.oracleSql(name) }.toMap
      else Map.empty))
  }

  private def deleteTree(p: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(p))
      java.nio.file.Files.walk(p).sorted(java.util.Comparator.reverseOrder())
        .forEach(f => java.nio.file.Files.delete(f))
}

/** Minimal JSON rendering for the run record. */
object Json {
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => graft.Jsons.str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => graft.Jsons.str(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case a: Array[_] => render(a.toSeq)
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
    case other => graft.Jsons.str(other.toString)
  }
}
