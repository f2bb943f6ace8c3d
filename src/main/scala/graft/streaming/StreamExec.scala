package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Real incremental streaming EXECUTION harness: replay bounded frames
  * as file streams through an actual `StreamingQuery` (file source →
  * transform → sink, `Trigger.AvailableNow`) with [[StreamExec.replay]].
  * The s1–s6 gate entries pin streaming *shapes* by running the shared
  * transforms on batch input; the s7+ entries run the SAME transforms
  * through this harness, so micro-batch state carry-over,
  * watermark-driven append emission, and checkpoint/sink plumbing are
  * themselves under the DuckDB oracle.
  *
  * Mechanics:
  *   - Each source is split into slices — contiguous order-key ranges
  *     ([[StreamExec.Sliced]]) or explicit batches in arrival order
  *     ([[StreamExec.Arrivals]]) — each written as ONE parquet file with
  *     strictly ascending modification times; `maxFilesPerTrigger=1`
  *     then forces one micro-batch per slice (Spark's file source
  *     processes oldest mtime first), so entities spanning slice
  *     boundaries — a session straddling two files, an hour window fed
  *     by three — exercise cross-batch state merge for real.
  *   - Append-mode aggregation only emits state the watermark has
  *     passed. The caller's `lateness` must cover the whole replayed
  *     span (no replayed event is ever late — arrival order inside a
  *     slice is nondeterministic), and a single WATERMARK SENTINEL row
  *     — far-future timestamp, impossible key — RIDES THE LAST SLICE
  *     file: the watermark is recomputed from the max event time at the
  *     END of each batch, so the final data batch advances it past
  *     every real session/window end and the trailing no-data
  *     micro-batch (`spark.sql.streaming.noDataMicroBatches.enabled`,
  *     default on) flushes the state store to the sink. The sentinel's
  *     own state never emits (nothing passes ITS end) and its key is
  *     filtered on read-back.
  *
  * 100 TB shape: this harness is a test/backfill surface, but the
  * execution it drives is the production one — per-batch work is
  * bounded by one slice plus live state, state is keyed and
  * watermark-expired (never O(stream)), and the sink is append-only
  * parquet a downstream reader partition-prunes.
  */
object StreamExec {

  /** True once a real StreamingQuery has terminated since the last
    * [[teardownStateStores]] call. A finished query (even under
    * `Trigger.AvailableNow` + `awaitTermination`) leaves its loaded
    * state-store providers and the shared store-maintenance thread
    * alive in the session — background upkeep that would otherwise be
    * silently billed to whatever the bench times NEXT (round-13 task:
    * rule out cross-query contamination from the five real streaming
    * executions).
    */
  @volatile private var streamRanSinceTeardown = false

  /** Stop the state-store maintenance thread and unload every cached
    * provider. No-op unless a streaming query actually ran since the
    * last call, so callers (Bench, after every query) pay nothing on
    * the batch path. Spark restarts the maintenance machinery lazily
    * on the next streaming load, so later replays are unaffected.
    */
  def teardownStateStores(): Unit = if (streamRanSinceTeardown) {
    org.apache.spark.sql.execution.streaming.state.StateStore.stop()
    streamRanSinceTeardown = false
  }

  /** One shared reaped scratch parent for every replay (source files,
    * checkpoint, sink), mirroring PipelineQueries.checkpointParent:
    * /dev/shm when writable (the files are rewritten-then-discarded
    * scratch), one JVM shutdown hook.
    */
  private[graft] lazy val scratchParent: java.nio.file.Path = {
    val shm = java.nio.file.Paths.get("/dev/shm")
    val base =
      if (java.nio.file.Files.isDirectory(shm) && java.nio.file.Files.isWritable(shm)) shm
      else java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
    val root = java.nio.file.Files.createTempDirectory(base, "graft_stream_")
    sys.addShutdownHook {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(root.toFile)
    }
    root
  }

  /** State partition count of the append and update sinks. It is FROZEN
    * INTO THE CHECKPOINT at query start (spark.sql.shuffle.partitions),
    * so it is sized to the replayed state volume, not inherited from the
    * session's batch tuning: every micro-batch commits one store delta
    * per partition, and 32 near-empty partitions × (slices + no-data
    * batches) is pure fixed overhead — measured ~2 s per replay at gate
    * scale. Results are partitioning-independent either way (the
    * determinism gate pins this). Callback sinks keep the session's
    * value, so the tables their statements write keep its partitioning.
    */
  private val StatePartitions = 4

  /** One replayed input: one parquet file, hence one micro-batch, per
    * slice. */
  sealed trait Source {
    def frame: DataFrame
    def slices: Int
  }

  /** `frame` cut into `slices` contiguous ranges of the integral (or
    * timestamp) `orderCol`: slice = (v - lo) div span, with span =
    * (hi - lo) / slices + 1. `bounds` is the caller's (min, max) of
    * `orderCol` when it already computed them (for the sentinel or the
    * lateness): the internal min/max scan is a full extra pass of the
    * replayed input. `sentinel` (the watermark flush of append-mode
    * aggregations) rides the last slice.
    */
  final case class Sliced(frame: DataFrame, orderCol: String, slices: Int,
                          sentinel: Option[DataFrame] = None,
                          bounds: Option[(Long, Long)] = None) extends Source

  /** Explicit batches in ARRIVAL order, one micro-batch each. They need
    * not be event-time slices — this is the surface for LATE arrivals:
    * a batch whose event times lie behind the watermark the earlier
    * batches advanced. The caller appends its own watermark-flush
    * sentinel batch when the transform aggregates.
    */
  final case class Arrivals(batches: Seq[DataFrame]) extends Source {
    def frame: DataFrame = batches.head
    def slices: Int = batches.size
  }

  sealed trait Sink

  /** Append output mode into a parquet sink; [[replay]] returns the sink. */
  case object Append extends Sink

  /** UPDATE output mode — the dashboard-refresh semantics append mode
    * can't show: a key re-emits in EVERY batch where its aggregate
    * changed. No watermark or sentinel is needed for a bounded replay.
    * [[replay]] returns the raw captured emissions (transform columns +
    * `__batch`, the batch id); callers reduce last-writer-wins
    * themselves so the per-batch emission trail stays checkable.
    */
  case object Update extends Sink

  /** `foreachBatch` sink for STATEMENTS rather than appends (CDC upsert
    * into a keyed table, warehouse MERGE): `f(batch, batchId)` runs for
    * each non-empty micro-batch, strictly in batch order, batch N+1 not
    * starting until N's callback returns — exactly the ordering a merge
    * sequence needs. The real batch ids let a sink implement
    * batchId-keyed idempotence. [[replay]] returns an empty frame.
    */
  final case class Callback(f: (DataFrame, Long) => Unit) extends Sink

  /** Replay `sources` through `transform` (one stream per source, in
    * order) into `sink`, await completion, and return what the sink
    * holds. Requires the query to have actually run incrementally: at
    * least one data micro-batch per slice (a single-batch fallback would
    * silently stop exercising cross-batch state). Two sources become
    * independent file streams advancing together through event time,
    * one file from each per micro-batch — the stream-STREAM join
    * surface, where a row waiting N batches for its match is join state.
    *
    * `splitAt` = k makes it the CHECKPOINT-RESTART replay, the
    * state-RECOVERY surface: only slices 0..k-1 exist while query #1
    * runs to completion and STOPS, leaving its state and watermark only
    * in the checkpoint; then the remaining slices (with the sentinel)
    * land and query #2 starts AGAINST THE SAME CHECKPOINT and sink. It
    * must resume from the recorded offsets — asserted: its batch ids
    * strictly follow query #1's, so a batchId-keyed sink sees each id
    * exactly once — and restore the state store, or windows straddling
    * the cut emit as duplicate partials and the oracle compare fails.
    * This is the production rollout/crash path: correctness rests on
    * the checkpoint contract, not on any single query lifetime.
    *
    * `sessionConfs` is set only while the query starts (e.g. the RocksDB
    * state-store provider transformWithState needs).
    */
  def replay(sources: Seq[Source], sink: Sink = Append, splitAt: Option[Int] = None,
             sessionConfs: Map[String, String] = Map.empty)
            (transform: Seq[DataFrame] => DataFrame = _.head): DataFrame = {
    val spark = sources.head.frame.sparkSession
    val slices = sources.map(_.slices).max
    require(sources.forall(_.slices >= 2), "replay: need >= 2 slices per source " +
      s"to exercise cross-batch state, got ${sources.map(_.slices).mkString(", ")}")
    splitAt.foreach(k => require(k >= 1 && k < slices,
      s"replay: splitAt must cut the replay in two, got $k/$slices"))
    val root = java.nio.file.Files.createTempDirectory(scratchParent, "replay_")
    val srcs = sources.indices.map(i => root.resolve(
      if (sources.size == 1) "src" else s"src${('A' + i).toChar}"))
    val stamped = sources.map(stampSlices)
    val out = root.resolve("out").toString
    val confs = sink match {
      case _: Callback => sessionConfs
      case _ => Map("spark.sql.shuffle.partitions" -> StatePartitions.toString) ++ sessionConfs
    }
    def start(): StreamingQuery = {
      val streams = sources.zip(srcs).map { case (s, p) =>
        spark.readStream.schema(s.frame.schema)
          .option("maxFilesPerTrigger", 1).parquet(p.toString)
      }
      val w = transform(streams).writeStream
        .option("checkpointLocation", root.resolve("ck").toString)
        .trigger(Trigger.AvailableNow())
      (sink match {
        case Append => w.format("parquet").option("path", out).outputMode("append")
        case Update => w.outputMode("update").foreachBatch { (df: Dataset[Row], id: Long) =>
          df.withColumn("__batch", lit(id)).write.mode("append").parquet(out)
        }
        case Callback(f) => w.foreachBatch { (df: Dataset[Row], id: Long) =>
          if (!df.isEmpty) f(df.toDF(), id)
        }
      }).start()
    }
    // one slice-file write and one query lifetime per run; the sentinel
    // sits in the last slice, so it rides the last run
    val runs = splitAt.fold(Seq((Option.empty[Column], slices))) { k =>
      Seq((Some(col("__slice") < k), k), (Some(col("__slice") >= k), slices - k))
    }
    runs.zipWithIndex.foldLeft(-1L) { case (lastBatch, ((cut, minData), run)) =>
      stamped.zip(srcs).foreach { case ((df, prefix, geometry), src) =>
        writeSliceFiles(cut.fold(df)(df.filter), root, src, geometry,
          i => if (i < slices) Some(f"$prefix$i%04d") else None)
      }
      runQuery(spark, confs, s"replay run ${run + 1}/${runs.size}", minData, lastBatch)(start())
    }
    sink match {
      case _: Callback => spark.emptyDataFrame
      case _ => spark.read.parquet(out)
    }
  }

  /** One query lifetime: start it with `confs` set (restored once it has
    * started — the running query keeps its own copy), await it, and
    * require at least `minData` micro-batches that carried rows and, for
    * a resumed query, batch ids strictly after the previous lifetime's
    * `resumeAfter`. Returns the last batch id (-1 when none ran).
    */
  private def runQuery(spark: SparkSession, confs: Map[String, String], label: String,
                       minData: Int = 0, resumeAfter: Long = -1L)
                      (start: => StreamingQuery): Long = {
    val saved = confs.keys.map(k => k -> spark.conf.getOption(k))
    val q = try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      start
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
    q.awaitTermination()
    streamRanSinceTeardown = true
    val progress = q.recentProgress
    val data = progress.count(_.numInputRows > 0)
    require(data >= minData, s"$label: expected >= $minData data micro-batches, " +
      s"saw $data - the run was not incremental")
    val ids = progress.map(_.batchId)
    require(ids.forall(_ > resumeAfter), s"$label: did not resume from the " +
      s"checkpoint (first batch ${ids.min} vs previous run's last $resumeAfter)")
    ids.foldLeft(-1L)(math.max)
  }

  /** Stamp a source's rows with their `__slice` index: the order-key
    * geometry for [[Sliced]] (sentinel in the last slice), the arrival
    * index for [[Arrivals]]. Returns the stamped frame, the file-name
    * prefix, and the geometry for error messages.
    */
  private def stampSlices(s: Source): (DataFrame, String, String) = s match {
    case Arrivals(batches) =>
      // all batches share one schema (one file source reads them), so
      // the arrival sequence writes in a single partitioned pass
      (batches.zipWithIndex.map { case (b, i) => b.withColumn("__slice", lit(i.toLong)) }
        .reduce(_ unionByName _), "file", s"${batches.size} arrival batches")
    case Sliced(frame, orderCol, slices, sentinel, bounds) =>
      val (lo, hi) = bounds.getOrElse {
        val mm = frame.agg(min(col(orderCol)).cast("long"), max(col(orderCol)).cast("long")).head()
        require(!mm.isNullAt(0), "replay: empty input")
        (mm.getLong(0), mm.getLong(1))
      }
      val span = math.max(1L, (hi - lo) / slices + 1)
      val sliced = frame.withColumn("__slice",
        expr(s"(cast(`$orderCol` as bigint) - ${lo}L) div ${span}L"))
      (sentinel.fold(sliced)(st =>
        sliced.unionByName(st.withColumn("__slice", lit((slices - 1).toLong)))),
        "slice", s"bounds ($lo, $hi) of `$orderCol`, $slices slices of span $span")
  }

  /** Write a `__slice`-stamped frame as one ascending-mtime file per
    * slice under `src` via a single hive-partitioned job (one pass, not
    * one filter+write job per slice). `nameOf` maps a slice index to its
    * file name (None = unexpected index, fails). Empty slices produce no
    * file, contribute no data micro-batch and so fail the incrementality
    * require. A negative or non-numeric slice (bounds that do not cover
    * the input) fails loudly, naming the `geometry`; NULL order keys land
    * in __HIVE_DEFAULT_PARTITION__ and are dropped, as a per-slice
    * `=== i` filter would.
    */
  private def writeSliceFiles(all: DataFrame, root: java.nio.file.Path,
                              src: java.nio.file.Path, geometry: String,
                              nameOf: Int => Option[String]): Unit = {
    java.nio.file.Files.createDirectories(src)
    val tmp = root.resolve(s"__${src.getFileName}_all").toString
    // hash-repartition BY SLICE, not coalesce(1): each slice still lands
    // wholly in one task (one part file per slice dir — the invariant
    // the mtime-pinned rename below needs), but distinct slices write in
    // parallel instead of serializing the whole replay input through a
    // single task
    all.repartition(all.sparkSession.sparkContext.defaultParallelism, col("__slice"))
      .write.mode("overwrite").partitionBy("__slice").parquet(tmp)
    val baseMtime = (System.currentTimeMillis() / 1000) * 1000 - 3600L * 1000
    Option(new java.io.File(tmp).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("__slice=") &&
        f.getName != "__slice=__HIVE_DEFAULT_PARTITION__")
      .map { dir =>
        val i = dir.getName.stripPrefix("__slice=").toIntOption.filter(_ >= 0).getOrElse(
          sys.error(s"replay: slice dir ${dir.getName} is outside the replay - the " +
            s"$geometry do not cover the input"))
        (i, dir)
      }
      .sortBy(_._1)
      .foreach { case (i, dir) =>
        val name = nameOf(i).getOrElse(
          sys.error(s"replay: unexpected slice index $i in ${dir.getPath} ($geometry)"))
        val part = Option(dir.listFiles()).getOrElse(Array.empty)
          .find(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("."))
          .getOrElse(sys.error(s"no part file written for slice $i"))
        val dst = src.resolve(s"$name.parquet").toFile
        require(part.renameTo(dst), s"rename failed: $part -> $dst")
        require(dst.setLastModified(baseMtime + i * 60000L),
          s"cannot pin mtime for $dst")
      }
  }

  /** STREAMING CHANGE-DATA-FEED SOURCE — one micro-batch drain of a
    * snapshot table's CDF as a structured stream. The feed layout IS a
    * streaming source already: `_cdf/v=<n>` dirs are an append-only,
    * Hive-partitioned parquet file set (squash checkpoints live under
    * the separate `_cdf_ckpt`, invisible here), so Spark's own file
    * source over `<table>/_cdf` — with the partition column `v`
    * surfacing as `_commit_version` — gives exactly-once consumption
    * through the file-source offset log in `checkpoint`: each commit's
    * files are delivered once, across any number of query restarts.
    *
    * This runs ONE `Trigger.AvailableNow` query against the shared
    * checkpoint and returns when it drains; the caller interleaves
    * table commits with calls — every call after the first is a
    * RESTART resuming from the checkpointed offsets, which is the
    * recovery path a long-lived consumer exercises on every deploy.
    * Pair `foreach` with an idempotent sink keyed by `batchId`
    * ([[graft.operators.Scale.writeSnapshotIdempotent]]) and the whole
    * pipeline is exactly-once end to end: the source fences replays of
    * all but the last batch, the sink token fences the last one.
    *
    * The 100 TB contract matches the batch CDF consumers: per-batch
    * input is the NEW commits' change rows only — history is never
    * re-listed beyond the file-source log's own bookkeeping.
    *
    * Three storage realities the source must absorb (round-19):
    *
    *   - COLUMN MAPPING: feed files keep PHYSICAL names forever
    *     (renameSnapshotColumn is metadata-only), so the stream reads
    *     under physical names and aliases to the caller's CURRENT
    *     logical schema per batch — the streaming twin of
    *     readChangesBetween's toLogicalCols. Without it, a rename
    *     would make the file source silently NULL-fill the logical
    *     column on every batch (parquet schema-on-read): wrong data,
    *     no error.
    *   - COMMITTED-POINTER FENCE: each drain streams only the feed
    *     dirs of versions at-or-below the pointer AT DRAIN START
    *     (explicit committed-version glob, never a listing of the feed
    *     root). A crashed CDF writer's above-pointer orphan feed — the
    *     artifact the batch readers are already fenced against — thus
    *     never enters the file-source offset log, where its delivery
    *     would be both phantom and PERMANENT (and would wedge the
    *     checkpoint when the real commit later overwrites those
    *     files). In-flight writers racing a drain are invisible the
    *     same way; their commit arrives at the next drain.
    *   - CHECKPOINT-AWARE BOOTSTRAP: a FRESH stream over a table whose
    *     early per-commit feeds were squashed ([[graft.operators.Scale.squashFeed]])
    *     and swept delivers [widest covering checkpoint] once as the
    *     synthetic batch −1 (net changes — every linear CDF fold is
    *     squash-invariant), records the bootstrapped range in a
    *     `graft_bootstrap` marker inside the checkpoint dir, then
    *     follows per-commit dirs outside that range forever. Pair
    *     `foreach` with a batchId-keyed idempotent sink
    *     ([[graft.operators.Scale.writeSnapshotIdempotent]]): a crash
    *     between the bootstrap delivery and the marker write
    *     re-delivers batch −1 on retry, which the sink token fences —
    *     the same exactly-once contract as every other batch.
    *     Swept feeds NOT covered by a single anchored checkpoint stay
    *     a loud error (the consumer cannot skip history silently).
    */
  def cdfStreamOnce(spark: SparkSession, tablePath: String, checkpoint: String,
                    dataSchema: org.apache.spark.sql.types.StructType)
                   (foreach: (DataFrame, Long) => Unit): Unit = {
    import org.apache.hadoop.fs.Path
    import graft.operators.Scale
    val fs = new Path(tablePath).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val latest = Scale.latestSnapshot(spark, tablePath).getOrElse(
      throw new IllegalStateException(
        s"cdfStreamOnce: no committed snapshot table at $tablePath"))
    // physical <-> logical mapping, resolved fresh at every drain (a
    // rename between drains changes only the aliasing, never the files)
    val cmap = Scale.snapshotColMap(spark, tablePath)
    val inv = cmap.map(_.swap)
    val stale = dataSchema.fieldNames.filter(c => c != "_change_type" &&
      cmap.contains(c) && cmap(c) != c && !cmap.valuesIterator.contains(c))
    require(stale.isEmpty,
      s"cdfStreamOnce: column(s) ${stale.mkString(", ")} were renamed " +
        s"(${stale.map(c => s"$c -> ${cmap(c)}").mkString(", ")}); request " +
        "the current logical schema")
    val physNames = dataSchema.fieldNames.map(n =>
      if (n == "_change_type") n else inv.getOrElse(n, n))
    val physSchema = org.apache.spark.sql.types.StructType(
      dataSchema.fields.zip(physNames).map { case (f, p) => f.copy(name = p) })

    // bootstrap decision is made ONCE per checkpoint (the marker makes
    // it durable); later drains replay the recorded range exclusion
    val ckBoot = new Path(checkpoint, "graft_bootstrap")
    def feedDir(v: Long) = new Path(s"$tablePath/_cdf/v=$v")
    val bootRange: Option[(Long, Long)] =
      if (fs.exists(ckBoot)) {
        val in = fs.open(ckBoot)
        val body = try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
                   finally in.close()
        if (body == "none") None
        else body.split("\\s+") match {
          case Array(f, t) => Some((f.toLong, t.toLong))
          case _ => throw new IllegalStateException(
            s"corrupt bootstrap marker $ckBoot: '$body'")
        }
      } else {
        val missing = (0L to latest).filterNot(v => fs.exists(feedDir(v)))
        val range =
          if (missing.isEmpty) None
          else Some(Scale.listFeedCheckpoints(fs, tablePath)
            .filter { case (f, t) =>
              missing.forall(v => v > f && v <= t) &&
                (0L to f).forall(v => fs.exists(feedDir(v)))
            }.sortBy(_._2).lastOption.getOrElse(throw new IllegalStateException(
              s"cdfStreamOnce: per-commit feed dir(s) v=${missing.mkString(",")} " +
                s"of $tablePath are gone and no single feed checkpoint covers " +
                "them behind an intact prefix — the stream cannot bootstrap; " +
                "squash the feed over the swept range before vacuuming (or " +
                "start streams before sweeping history)")))
        range.foreach { case (f, t) =>
          foreach(Scale.readChangesBetween(spark, tablePath, f, t)
            .select(dataSchema.fieldNames.toIndexedSeq.map(col) :+
              col("_commit_version"): _*), -1L)
        }
        val out = fs.create(ckBoot, true)
        out.write(range.map { case (f, t) => s"$f $t" }.getOrElse("none")
          .getBytes("UTF-8"))
        out.close()
        range
      }

    val live = (0L to latest)
      .filter(v => bootRange.forall { case (f, t) => v <= f || v > t })
      .filter(v => fs.exists(feedDir(v)))
    if (live.isEmpty) return // bootstrap (if any) was the whole history
    val srcGlob = s"$tablePath/_cdf/v={${live.mkString(",")}}"
    // recursiveFileLookup disables hive-partition inference, so a DATA
    // column named `v` can never collide with the feed's `v=<n>` dir
    // layout; the commit version is derived from the file path instead
    runQuery(spark, Map.empty, "cdfStreamOnce")(spark.readStream
      .schema(physSchema)
      .option("recursiveFileLookup", "true")
      .parquet(srcGlob)
      // physical -> logical aliasing + version-from-path must ride the
      // STREAMING plan: `_metadata` resolves only on the file source
      .select(physNames.zip(dataSchema.fieldNames).toIndexedSeq.map {
        case (p, l) => col(p).as(l) } :+
        regexp_extract(col("_metadata.file_path"), "/v=(\\d+)/", 1)
          .cast("long").as("_commit_version"): _*)
      .writeStream
      .foreachBatch { (b: DataFrame, id: Long) => foreach(b, id) }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start())
  }
}
