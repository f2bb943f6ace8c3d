package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}

/** Scale-path join strategies: what keeps the 100 TB shapes out of
  * single-hot-partition and full-shuffle territory when AQE's automatic
  * handling isn't enough.
  */
object Scale {

  /** Optimistic-concurrency loser's signal (the Delta
    * ConcurrentModificationException shape): a commit carrying an
    * `expectedVersion` found the table advanced past it. RETRY
    * CONTRACT: re-read the table at its NEW latest version, re-apply
    * the transformation to that fresh read, and commit again with the
    * new version as `expectedVersion` — never resubmit the stale frame
    * (it was derived from a superseded state; blind retry would undo
    * the interleaved writer, exactly the lost update the CAS exists to
    * prevent). The table is untouched when this throws: no data dir,
    * feed, or pointer moved.
    */
  final class CommitConflictException(message: String)
    extends RuntimeException(message)

  /** The shared version-CAS: `expected` is the latest version the
    * writer's read was based on (-1 for "I expect an uncommitted/empty
    * table"); None disables the check — the documented
    * last-pointer-swap-wins legacy behavior. Called under the table
    * lock, so the compare and the commit are one atomic step.
    */
  private def casCheck(path: String, kind: String,
                       expected: Option[Long], current: Long): Unit =
    expected.foreach { exp =>
      if (current != exp) throw new CommitConflictException(
        s"optimistic commit conflict on $kind table $path: this writer " +
          s"read version $exp but the table is now at $current — " +
          "re-read, re-apply the transformation on the fresh state, and " +
          "retry with the new expectedVersion")
    }

  /** Hadoop FileSystem.rename reports some failures by RETURNING false
    * (existing destination, missing parent, cross-filesystem) instead of
    * throwing — an unchecked call can silently not move anything. Every
    * swap in this module goes through this guard so a failed rename
    * aborts loudly with the table still consistent.
    */
  private def renameOrFail(fs: org.apache.hadoop.fs.FileSystem,
                           from: org.apache.hadoop.fs.Path,
                           to: org.apache.hadoop.fs.Path): Unit =
    require(fs.rename(from, to), s"rename failed: $from -> $to")

  /** Exclusive-create lock shared by every table-mutating maintenance op
    * (merge, compaction): two concurrent mutators on one table would
    * interleave rename swaps and corrupt it, so the loser fails loudly.
    * A crash leaves the lock behind — the error names the path so an
    * operator (or a retry policy that knows the writer is dead) deletes
    * it; deliberately no auto-expiry, because a slow live mutator is
    * indistinguishable from a dead one without a heartbeat.
    */
  private val inProcessLocks =
    new java.util.concurrent.ConcurrentHashMap[String, AnyRef]()

  private def withTableLock[T](fs: org.apache.hadoop.fs.FileSystem,
                               path: String)(body: => T): T = {
    // Same-JVM mutators need a REAL compare-and-set first: Hadoop's
    // RawLocalFileSystem exclusive create is check-then-act, so two
    // threads of one local[n] session can both "win" the lock file
    // (caught by the concurrent-snapshot spec under full-suite load).
    // The lock FILE below still guards cross-process mutators, with
    // atomicity as good as the FileSystem's create(overwrite=false) —
    // exact on HDFS, advisory on the local FS; object stores need a
    // conditional put or an external catalog.
    val token = new Object
    if (inProcessLocks.putIfAbsent(path, token) != null)
      throw new IllegalStateException(
        s"table maintenance already in flight on $path (in-process)")
    try {
      val lock = new org.apache.hadoop.fs.Path(path + "__maint_lock")
      try fs.create(lock, false).close()
      catch { case e: java.io.IOException =>
        throw new IllegalStateException(
          s"table maintenance already in flight on $path (lock file $lock " +
          "exists); if its writer crashed, delete the lock", e)
      }
      try body finally { fs.delete(lock, false); () }
    } finally { inProcessLocks.remove(path, token); () }
  }

  // ---------------------------------------------------------------
  // THE COMMIT SEAM — one implementation of the optimistic log-pointer
  // commit (Delta Lake's protocol) behind every snapshot and
  // merge-on-read write: under [[withTableLock]], write the new
  // immutable data dir ("data"), then its side files ("token", "feed",
  // "key"), then PUBLISH the commit point — an atomic pointer replace
  // ([[publishFile]]) or an atomic dir rename — and only then rebuild
  // the skipping manifests. A crash at any step before "publish" leaves
  // uncommitted garbage that readers never see and the next commit
  // overwrites; the step order below is the crash discipline.
  // ---------------------------------------------------------------

  /** Test seam, not an option: called with (table path, step name)
    * right before each named commit step; a hook that throws simulates
    * a crash there. The default does nothing.
    */
  @volatile private[operators] var commitHook: (String, String) => Unit = (_, _) => ()

  private def step(path: String, name: String): Unit = commitHook(path, name)

  private def writeSmallFile(fs: FileSystem, p: Path, body: String): Unit = {
    val out = fs.create(p, true)
    out.write(body.getBytes("UTF-8")); out.close()
  }

  /** ATOMIC replace of a small metadata file (a pointer, the CDF key,
    * the column map, the MoR key): write `<name>.tmp`, then FileContext
    * rename with OVERWRITE — not delete-then-rename, which leaves a
    * window (and a crash point) with NO file at all, during which
    * readers see "no committed snapshot" on a committed table and a
    * subsequent writer would restart at v=0 over live data. With the
    * atomic rename the file always holds the old or the new body.
    */
  private[operators] def publishFile(spark: SparkSession, fs: FileSystem,
                                     dest: Path, body: String): Unit = {
    val tmp = new Path(dest.getParent, dest.getName + ".tmp")
    writeSmallFile(fs, tmp, body)
    org.apache.hadoop.fs.FileContext.getFileContext(
      tmp.toUri, spark.sparkContext.hadoopConfiguration)
      .rename(tmp, dest, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
  }

  /** The `<prefix><n>` dirs directly under `dir` as (n, path), ascending
    * by n; empty when `dir` does not exist. The one listing behind every
    * numbered dir of the table formats (`v=`, `base_v=`, `a=`, `d=`).
    */
  private[operators] def numberedDirs(fs: FileSystem, dir: Path,
                                      prefix: String): Seq[(Long, Path)] =
    if (!fs.exists(dir)) Nil
    else fs.listStatus(dir).toSeq.collect {
      case st if st.isDirectory && st.getPath.getName.startsWith(prefix) =>
        (st.getPath.getName.stripPrefix(prefix).toLong, st.getPath)
    }.sortBy(_._1)

  /** Copy-on-write swap of one dir: park the live `to` (if any) at
    * `to + bakSuffix`, rename `from` into place, drop the parked copy.
    * Every rename is checked ([[renameOrFail]]), so a failed step aborts
    * with the old or the new dir in place.
    */
  private def swapDir(fs: FileSystem, from: Path, to: Path, bakSuffix: String): Unit = {
    val bak = new Path(to.toString + bakSuffix)
    fs.delete(bak, true)
    val existed = fs.exists(to)
    if (existed) renameOrFail(fs, to, bak)
    fs.mkdirs(to.getParent)
    renameOrFail(fs, from, to)
    if (existed) { fs.delete(bak, true); () }
  }

  /** `c IN values`, NULL included: isin() never matches NULL, so a null
    * partition value (Hive's __HIVE_DEFAULT_PARTITION__ dir) needs its
    * own predicate or its rows would be replaced instead of merged.
    */
  private def touchedPred(c: Column, values: Seq[Any]): Column = {
    val (nulls, nonNull) = values.partition(_ == null)
    if (nulls.isEmpty) c.isin(nonNull: _*)
    else if (nonNull.isEmpty) c.isNull
    else c.isin(nonNull: _*) || c.isNull
  }

  /** Skew-safe equi-join: salt the skewed (large) side into `salt`
    * sub-keys and explode the compact side to match — the hot key's rows
    * spread across `salt` reducers instead of one straggler task.
    * Semantics identical to `big.join(small, keys, joinType)` for
    * inner/left joins.
    *
    * AQE's skew-join split (enabled in our sessions) handles sort-merge
    * skew automatically at runtime; explicit salting remains necessary
    * when the skew is extreme or the join is hash-partitioned upstream
    * (e.g. into a window or groupBy on the same key).
    */
  def saltedJoin(big: DataFrame, small: DataFrame, keys: Seq[String],
                 salt: Int, joinType: String = "inner"): DataFrame = {
    require(salt > 0)
    val bigS = big.withColumn("__salt", pmod(hash(keys.map(col) :+ monotonically_increasing_id(): _*), lit(salt)))
    val smallS = small.withColumn("__salt", explode(array((0 until salt).map(lit): _*)))
    bigS.join(smallS, keys :+ "__salt", joinType).drop("__salt")
  }

  /** Bloom-pruned equi-join: build a Bloom filter over the small side's
    * join key, probe it with the native codegen expression
    * [[graft.functions.BloomMightContainLong]] on the big side BEFORE its
    * shuffle, then exact-join the survivors. At 100 TB this is the
    * difference between shuffling the whole fact table and shuffling only
    * the ~selectivity slice that can possibly match — the explicit,
    * any-plan-shape form of the runtime filter Spark's own
    * `InjectRuntimeFilter` rule applies only under its narrow cost
    * heuristics. Bloom filters have no false negatives, so the probe can
    * only pass non-matching rows (at ~`fpp` rate), never drop matching
    * ones — the exact join afterwards keeps results identical to the
    * plain join.
    *
    * Restricted to join types where a big-side row without a match is
    * dropped anyway (inner, left_semi): pruning under left/full outer
    * would delete big-side rows the join must keep.
    *
    * `expectedItems` sizes the filter; when 0 the small side is counted
    * first (one cheap job — pass the estimate at 100 TB to skip it).
    * Overestimating just widens the filter; underestimating raises the
    * false-positive rate but never breaks correctness.
    *
    * Integral keys probe on the raw value (putLong domain); any other
    * key type (string doc ids, URLs, binary) is normalized to
    * `xxhash64(key)` on BOTH sides — hash collisions can only ADD false
    * positives, which the exact join removes, so correctness is
    * type-independent.
    */
  def bloomPruneJoin(big: DataFrame, small: DataFrame, key: String,
                     fpp: Double = 0.01, expectedItems: Long = 0L,
                     joinType: String = "inner"): DataFrame = {
    val jt = joinType.toLowerCase.replaceAll("[_-]", "")
    require(Set("inner", "leftsemi", "semi").contains(jt),
      s"bloomPruneJoin prunes the big side, so only inner/left_semi joins " +
        s"keep their semantics; got '$joinType'")
    import org.apache.spark.sql.types._
    // the probe path is chosen from the key TYPE; if the two sides
    // disagreed, the bloom would be built over one coercion and the exact
    // join over Spark's own — the no-false-negative guarantee would then
    // rest on cast/coercion alignment instead of construction. Make it
    // structural: identical types or no deal (callers cast explicitly).
    require(big.schema(key).dataType == small.schema(key).dataType,
      s"bloomPruneJoin: key '$key' differs in type between sides " +
        s"(${big.schema(key).dataType.simpleString} vs " +
        s"${small.schema(key).dataType.simpleString}); cast one side first")
    val integral = Seq[DataType](ByteType, ShortType, IntegerType, LongType)
      .contains(big.schema(key).dataType)
    def probeKey(df: DataFrame): Column =
      if (integral) df(key).cast("long") else xxhash64(df(key))
    val items = if (expectedItems > 0) expectedItems else math.max(small.count(), 1L)
    val bloom = small.stat.bloomFilter(probeKey(small), items, fpp)
    val pruned = big.filter(
      graft.functions.native.bloomMightContain(probeKey(big), bloom))
    pruned.join(small, Seq(key), joinType)
  }

  /** Range (point-in-interval) join as a binned equijoin. Catalyst plans
    * a pure inequality join (`p >= lo AND p < hi`, no equi key) as
    * BroadcastNestedLoop or a cartesian product — O(points × intervals)
    * comparisons, dead at 100 TB. Exploding each interval into the
    * fixed-size bins it covers and equijoining on the point's single bin
    * turns it into one hash shuffle plus an exact residual filter —
    * the same move behind Databricks' range-join hints and
    * GeoSpark-style spatial binning.
    *
    * Each (point, interval) match is produced exactly once — a point
    * lives in ONE bin, and an interval emits each covered bin once — so
    * no dedup pass is needed. Cost is Σ(span/binSize + 1) interval rows:
    * pick `binSize` near the typical interval span; a binSize far below
    * the span multiplies interval replication, far above it degrades
    * toward a few giant buckets.
    *
    * Binning uses exact integer `div` — epoch-micros values (~10¹⁸ for
    * nanos) are beyond double's 2⁵³ mantissa, where a floating floor
    * division would misbin boundary values. Truncating division is
    * monotone, so bin assignment stays consistent for negative values
    * too (the zero-straddling bin is wider but identical on both sides).
    * Inner join only: points outside every interval are dropped.
    *
    * Degenerate intervals (lo >= hi) match nothing under the half-open
    * predicate, so they are filtered out BEFORE binning — previously an
    * inverted interval fed `sequence(start, stop)` a start > stop, which
    * silently generates a DESCENDING bin list (default step -1) whose
    * junk rows only the residual filter discarded. An interval spanning
    * more than `maxBinsPerInterval` bins fails loudly at run time (via
    * `raise_error`, no extra driver job) instead of exploding a
    * million-element array per row or hitting sequence's length cap with
    * a confusing error: that shape means `binSize` is mis-chosen for the
    * data and silent acceptance would hide a quadratic blowup.
    */
  def rangeJoin(points: DataFrame, pointCol: String,
                intervals: DataFrame, loCol: String, hiCol: String,
                binSize: Long, maxBinsPerInterval: Long = 1L << 20): DataFrame = {
    require(binSize > 0, s"binSize must be positive, got $binSize")
    require(maxBinsPerInterval > 0,
      s"maxBinsPerInterval must be positive, got $maxBinsPerInterval")
    def bin(c: String) = expr(s"`$c` div $binSize")
    val hiBinGuarded = when(bin(hiCol) - bin(loCol) >= lit(maxBinsPerInterval),
        raise_error(concat(
          lit(s"rangeJoin: interval ["), col(loCol).cast("string"), lit(", "),
          col(hiCol).cast("string"),
          lit(s") spans >= $maxBinsPerInterval bins of size $binSize — raise binSize"))))
      .otherwise(bin(hiCol))
    val binned = intervals
      .filter(col(loCol) < col(hiCol))
      .withColumn("__bin", explode(sequence(bin(loCol), hiBinGuarded)))
    points.withColumn("__bin", bin(pointCol))
      .join(binned, Seq("__bin"))
      .filter(col(pointCol) >= col(loCol) && col(pointCol) < col(hiCol))
      .drop("__bin")
  }

  /** Pre-aggregate-then-total pattern for skewed groupBy: partial
    * aggregation on (key, salt) first spreads a hot key over `salt`
    * reducers; the second (tiny) aggregation combines the partials.
    * `aggs` must be algebraic (sum/count/min/max style).
    */
  def saltedSum(df: DataFrame, keys: Seq[String], valueCol: String,
                salt: Int, out: String = "sum"): DataFrame = {
    val salted = df.withColumn("__salt", pmod(hash(monotonically_increasing_id()), lit(salt)))
    salted.groupBy((keys :+ "__salt").map(col): _*)
      .agg(sum(col(valueCol)).as("__partial"))
      .groupBy(keys.map(col): _*)
      .agg(sum(col("__partial")).as(out))
  }

  /** Write both join sides bucketed by the join key so subsequent joins
    * are co-located (zero Exchange). Bucketed tables require the session
    * catalog (`saveAsTable`); readers get bucket pruning + shuffle-free
    * joins when `spark.sql.sources.bucketing.enabled` (default true).
    */
  def writeBucketed(df: DataFrame, table: String, buckets: Int,
                    bucketCols: Seq[String], sortCols: Seq[String] = Nil): Unit = {
    val w = df.write.mode(SaveMode.Overwrite).format("parquet")
      .bucketBy(buckets, bucketCols.head, bucketCols.tail: _*)
    (if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.tail: _*) else w)
      .saveAsTable(table)
  }

  /** Read a bucketed table back (plain catalog read; bucketing metadata
    * rides along and removes the Exchange under joins on the bucket key).
    */
  def readBucketed(spark: SparkSession, table: String): DataFrame =
    spark.table(table)

  /** Morton (Z-order) interleave of N non-negative int columns: bit `b`
    * of column `i` lands at position `b*N + i` of one 64-bit locality
    * value. Sorting/range-partitioning by it clusters rows that are close
    * in EVERY dimension into the same files, so per-file/row-group
    * min/max stats prune scans filtered on ANY of the columns — the
    * lakehouse data-clustering move for multi-dimension predicates. Pure
    * codegen'd bitwise expressions, no UDF.
    */
  def zValueN(cols: Seq[Column], bits: Int = 16): Column = {
    val n = cols.size
    require(n >= 2, "z-ordering needs at least 2 columns")
    require(bits > 0 && bits * n <= 62, s"$bits bits x $n cols overflows a long")
    (for { b <- 0 until bits; (c, i) <- cols.zipWithIndex } yield
      shiftleft(shiftright(c.cast("long"), b).bitwiseAND(1L), b * n + i).cast("long"))
      .reduce(_ + _)
  }

  /** Rewrite a DataFrame into `numFiles` Z-ordered output slices:
    * range-partition on the interleaved value, sort within partitions so
    * every file covers a tight hyper-rectangle across ALL `cols`.
    */
  def zOrderByN(df: DataFrame, cols: Seq[String], numFiles: Int,
                bits: Int = 16): DataFrame = {
    val withZ = df.withColumn("__z", zValueN(cols.map(col), bits))
    withZ.repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
  }

  def zOrderBy(df: DataFrame, x: String, y: String, numFiles: Int): DataFrame =
    zOrderByN(df, Seq(x, y), numFiles)

  /** Self-tuning [[zOrderByN]] for MAINTENANCE rewrites (compaction),
    * where the column set and value magnitudes are whatever the table's
    * zone spec says, not what a caller hand-checked. Two failure modes
    * of the raw interleave are closed here:
    *
    *  1. WIDTH: `zValueN` needs `bits × n ≤ 62`, so a 4-column spec at
    *     the default 16 bits would throw mid-compaction. Bits are
    *     derived from the column count (`min(16, 62/n)`), never passed.
    *  2. MAGNITUDE: the raw interleave keeps only each value's LOW
    *     `bits` bits, so a column whose values exceed 2^bits (any real
    *     id column) would get near-random z-values and the rewrite
    *     would silently DESTROY the clustering it exists to preserve.
    *     Each column is first range-normalized into [0, 2^(bits−1))
    *     with one tiny min/max aggregate and a monotone shift: values
    *     map through the unsigned domain (`x XOR Long.MinValue` — the
    *     order-preserving signed→unsigned bijection) and an unsigned
    *     right shift sized from the column's actual range, so the
    *     subtraction can never overflow (post-shift values fit in
    *     64−s bits) and high-magnitude columns keep tight per-file
    *     bounds.
    *
    * Falls back to lexicographic `repartitionByRange` when a column's
    * min/max is NULL (empty or all-null frame) or the column count
    * can't give every dimension at least one bit.
    */
  def zOrderByNAuto(df: DataFrame, cols: Seq[String], numFiles: Int): DataFrame = {
    val n = cols.size
    require(n >= 2, "z-ordering needs at least 2 columns")
    def fallback = df.repartitionByRange(numFiles, cols.map(col): _*)
      .sortWithinPartitions(cols.map(col): _*)
    if (62 / n < 1) return fallback
    val bits = math.min(16, 62 / n)
    val aggs = cols.flatMap(c => Seq(min(col(c)).cast("long"), max(col(c)).cast("long")))
    val mm = df.agg(aggs.head, aggs.tail: _*).head()
    if ((0 until 2 * n).exists(mm.isNullAt)) return fallback
    val signBit = lit(Long.MinValue)
    val zCols = cols.zipWithIndex.map { case (c, i) =>
      val lo = mm.getLong(2 * i)
      val range = BigInt(mm.getLong(2 * i + 1)) - BigInt(lo)
      // post-shift range < 2^(bits-1), so bucket values always fit the
      // interleave's bits even at the rounding boundary. Floor 1, not 0:
      // a zero shift leaves sign-straddling u-values at full width,
      // where ANSI subtraction overflows even though the two's-
      // complement wrap would be the right answer — one shift makes
      // both operands nonnegative and the difference exact. Cap 63
      // because Java's >>> is mod-64 (a shift of 64 would be a NO-op).
      val s = math.min(63, math.max(1, range.bitLength - (bits - 1)))
      val u = col(c).cast("long").bitwiseXOR(signBit)
      shiftrightunsigned(u, s) - shiftrightunsigned(lit(lo).bitwiseXOR(signBit), s)
    }
    df.withColumn("__z", zValueN(zCols, bits))
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
  }

  /** Incremental MERGE (upsert) into a parquet table on disk: rows whose
    * `keys` match an update are replaced by the newest version under
    * `order` ([[graft.operators.Relational.upsert]] semantics), new keys
    * are appended — without rewriting the whole table. With `deleteCol`
    * set, update rows flagged true are CDC tombstones
    * ([[graft.operators.Relational.upsertCdc]]): a key whose newest
    * version is a tombstone disappears, and a partition emptied entirely
    * by tombstones is removed from disk.
    *
    * With `partitionCol` set (Hive `col=value` layout), only the
    * partitions the updates actually touch are read, merged, and swapped;
    * every other partition's files are left byte-for-byte in place. That
    * is the 100 TB shape for CDC-driven gold refresh: cost scales with
    * the CHANGED slice of the table, not its size — the reference
    * re-builds and overwrites all of gold on every run
    * (gold-snowflake/fact_sales_gold.py full overwrite). The touched
    * partition values are collected to the driver, which is O(touched
    * partitions), never O(rows).
    *
    * CONSTRAINT: `keys` must determine a stable `partitionCol` value (a
    * key must not move between partitions) — the same invariant every
    * partition-scoped MERGE (Hive dynamic-partition overwrite, Delta
    * replaceWhere) requires. The merged slice is fully written to a temp
    * dir BEFORE any swap, so a failure mid-write leaves the table intact;
    * each partition then swaps in with one rename (atomic per partition —
    * a crash mid-sequence can leave SOME partitions refreshed and the
    * rest pristine, the same commit granularity as Hive dynamic-partition
    * overwrite without a metastore transaction; re-running the merge
    * converges because it is content-idempotent).
    *
    * READ-SIDE CONTRACT (plain parquet directories have no snapshot
    * manifest, so this is the strongest isolation a rename swap can give):
    * a scan PLANNED before the merge and executed after it fails loudly
    * with FileNotFoundException — the swap renames the old leaf away, so
    * stale file lists can never return a torn mix of old and new rows; a
    * scan planned after the merge sees exactly the merged table. Each
    * touched leaf is additionally absent for the instant between its two
    * renames, so a reader listing precisely then can miss it. Readers
    * that need stronger isolation must quiesce during maintenance, retry
    * on FileNotFound, or read through a catalog/manifest layer that pins
    * snapshots — the same operational rule as Hive dynamic-partition
    * overwrite. Both halves are pinned by ScaleSpec
    * ("read-side contract").
    */
  def mergeParquet(spark: SparkSession, path: String, updates: DataFrame,
                   keys: Seq[String], order: Seq[Column],
                   partitionCol: Option[String] = None,
                   deleteCol: Option[String] = None): Unit = {
    import org.apache.hadoop.fs.Path
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val src = fs.makeQualified(new Path(path))
    val tmp = new Path(path + "__merge_tmp")
    withTableLock(fs, path) {
      mergeParquetLocked(spark, fs, src, tmp, path, updates, keys, order,
        partitionCol, deleteCol)
    }
  }

  private def mergeParquetLocked(spark: SparkSession,
                                 fs: org.apache.hadoop.fs.FileSystem,
                                 src: org.apache.hadoop.fs.Path,
                                 tmp: org.apache.hadoop.fs.Path,
                                 path: String, updates: DataFrame,
                                 keys: Seq[String], order: Seq[Column],
                                 partitionCol: Option[String],
                                 deleteCol: Option[String]): Unit = {
    import org.apache.hadoop.fs.Path
    fs.delete(tmp, true)
    // capture the skipping-index spec before any swap destroys the
    // manifests; zone columns steer the rewrite so the merged layout
    // keeps the clustering the index prunes on (see compactParquet)
    val idxSpec = GraftTable.indexSpec(spark, path)
    val clusterCols = idxSpec.map(_._1).getOrElse(Nil)
    def merge(base: DataFrame): DataFrame = deleteCol match {
      case Some(d) => graft.operators.Relational.upsertCdc(base, updates, keys, order, d)
      case None    => graft.operators.Relational.upsert(base, updates, keys, order)
    }
    if (!fs.exists(src)) {
      // bootstrap: first delivery creates the table (streaming's batch 0);
      // still newest-per-key (and tombstone-aware) so an in-batch version
      // chain collapses
      val first = merge(updates.limit(0).drop(deleteCol.toSeq: _*))
      val w = first.write.mode(SaveMode.ErrorIfExists)
      partitionCol.fold(w)(p => w.partitionBy(p)).parquet(src.toString)
      return
    }
    partitionCol match {
      case None =>
        val merged = merge(spark.read.parquet(path))
        // explicit file count (the base's own): an argless range
        // repartition is AQE-coalescible and a tiny merge would land in
        // ONE file, erasing the granularity the zone index prunes over
        val shaped =
          if (clusterCols.isEmpty) merged
          else {
            val nFiles = math.max(1, fs.listStatus(src).count(s =>
              s.isFile && s.getPath.getName.endsWith(".parquet")))
            merged.repartitionByRange(nFiles, clusterCols.map(col): _*)
              .sortWithinPartitions(clusterCols.map(col): _*)
          }
        shaped.write.mode(SaveMode.Overwrite).parquet(tmp.toString)
        swapDir(fs, tmp, src, "__merge_bak")
      case Some(p) =>
        val touched = updates.select(col(p)).distinct().collect().map(_.get(0))
        require(touched.nonEmpty, "mergeParquet: updates are empty")
        // partition pruning confines the base read to the touched slice
        val base = spark.read.parquet(path).filter(touchedPred(col(p), touched.toIndexedSeq))
        val merged = merge(base)
        merged.write.mode(SaveMode.Overwrite).partitionBy(p).parquet(tmp.toString)
        // the write above fully materialized tmp; now swap ONLY the
        // touched leaf dirs (new partition values simply rename in)
        val written = fs.listStatus(tmp)
          .filter(s => s.isDirectory && s.getPath.getName.startsWith(s"$p="))
        written.foreach(s => swapDir(fs, s.getPath, new Path(src, s.getPath.getName), "__merge_bak"))
        // a partition whose every key was tombstoned produces NO leaf in
        // tmp — remove its live dir entirely (value→dir name via Spark's
        // own Hive-escaping; null maps to __HIVE_DEFAULT_PARTITION__).
        // Only reachable with deleteCol set: without tombstones a touched
        // partition always retains at least its update rows.
        if (deleteCol.isDefined) {
          import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
          val writtenNames = written.map(_.getPath.getName).toSet
          touched.foreach { v =>
            val leaf = ExternalCatalogUtils.getPartitionPathString(
              p, if (v == null) "" else String.valueOf(v))
            if (!writtenNames.contains(leaf)) { fs.delete(new Path(src, leaf), true); () }
          }
        }
        fs.delete(tmp, true)
    }
    // swaps changed the data listing under an unchanged index dir —
    // rebuild or the next indexed read fails the staleness check (loud,
    // but maintenance shouldn't require caller repair)
    GraftTable.reindexAuto(spark, path, idxSpec)
  }

  /** OPTIMIZE-style compaction: rewrite a parquet directory into
    * ~`targetBytes`-sized files. Streaming ingest and per-partition
    * writers leave thousands of small files per directory at 100 TB;
    * scan-task scheduling and footer reads then dominate.
    *
    * PARTITION-PRESERVING: Hive-style `col=value` directory layout is
    * discovered and each LEAF partition is compacted independently into
    * its own right-sized files — the rewritten table keeps the exact
    * directory structure (and therefore every downstream reader's
    * partition pruning), and a huge partition still splits into multiple
    * `targetBytes` files instead of one per directory. Leaf rewrites are
    * independent Spark jobs submitted from a small fixed thread pool
    * (the Delta OPTIMIZE shape) so a 10k-partition table pipelines
    * through the scheduler without flooding it. The whole rewrite goes
    * through a temp directory and an atomic-ish rename swap (never
    * read-and-overwrite the same path — the lazy scan would read the
    * half-deleted input).
    *
    * @return number of data files after compaction
    */
  def compactParquet(spark: SparkSession, path: String,
                     targetBytes: Long = 128L * 1024 * 1024,
                     maxConcurrentJobs: Int = 8): Int = {
    import org.apache.hadoop.fs.Path
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // qualify so URI-relativize against listStatus paths (always
    // scheme-qualified) yields the partition-relative subpath
    val src = fs.makeQualified(new Path(path))
    // Spark's own convention: _ and . prefixed entries are metadata
    // (_SUCCESS, .crc), invisible to readers and to this layout check.
    def isMeta(p: Path): Boolean = p.getName.startsWith("_") || p.getName.startsWith(".")
    // Leaf partition dirs: descend while children are `name=value` dirs.
    // The layout must be all-or-nothing per level — data files sitting
    // NEXT TO partition dirs would be silently dropped by the rename swap
    // (they belong to no leaf), so that mix is an error, as is a
    // directory level mixing partition and non-partition dirs.
    def leaves(p: Path): Seq[Path] = {
      val children = fs.listStatus(p).filterNot(s => isMeta(s.getPath))
      val partDirs = children.filter(s => s.isDirectory && s.getPath.getName.contains("="))
      if (partDirs.isEmpty) Seq(p)
      else {
        val strays = children.filterNot(s => s.isDirectory && s.getPath.getName.contains("="))
        require(strays.isEmpty,
          s"compactParquet: mixed layout under $p — partition dirs next to " +
            s"${strays.map(_.getPath.getName).mkString(", ")}; compact the " +
            "offending level separately or fix the layout")
        partDirs.toSeq.flatMap(d => leaves(d.getPath))
      }
    }
    withTableLock(fs, path) {
      // capture the skipping-index spec BEFORE the swap (the _index dir
      // rides inside src and is destroyed with the old generation);
      // zone columns also steer the rewrite below so the compacted
      // layout KEEPS the clustering the index prunes on
      val idxSpec = GraftTable.indexSpec(spark, path)
      val clusterCols = idxSpec.map(_._1).getOrElse(Nil)
      val leafDirs = leaves(src)
      val tmp = new Path(path + "__compact_tmp")
      fs.delete(tmp, true)
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.max(1, math.min(maxConcurrentJobs, leafDirs.size)))
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      try {
        val jobs = leafDirs.map { leaf =>
          Future {
            val rel = src.toUri.relativize(leaf.toUri).toString
            val dest = if (rel.isEmpty) tmp else new Path(tmp, rel)
            // A leaf with no data files (only _SUCCESS etc.) has nothing to
            // compact and would abort schema inference — preserve the empty
            // directory in the swapped tree and skip the Spark job.
            val hasData = fs.listStatus(leaf)
              .exists(s => s.isFile && !isMeta(s.getPath))
            if (!hasData) { fs.mkdirs(dest); () }
            else {
              val bytes = fs.getContentSummary(leaf).getLength
              val n = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
              val in = spark.read.parquet(leaf.toString)
              // an indexed table's zone columns must stay clustered or
              // compaction would smear every file across the full value
              // range and silently kill its own skipping (the Delta
              // OPTIMIZE+ZORDER discipline); unindexed tables keep the
              // cheap round-robin rewrite. Hive partition columns live
              // in the dir name, not the leaf files — constant within a
              // leaf, so clustering on them is vacuous: drop them rather
              // than crash the per-leaf read. Sorted by name so the
              // layout never depends on manifest-listing order.
              val present = clusterCols.filter(in.columns.contains).sorted
              val integral = present.forall { c =>
                in.schema(c).dataType match {
                  case ByteType | ShortType | IntegerType | LongType => true
                  case _ => false
                }
              }
              val sized =
                if (present.isEmpty) in.repartition(n)
                else if (present.size >= 2 && integral)
                  // multi-dim integral spec: re-interleave — lexicographic
                  // range partitioning would keep only the primary column
                  // tight and smear every other dimension across its full
                  // range. The AUTO variant derives bits from the column
                  // count (a 4-column spec overflows the raw 16-bit
                  // interleave) and range-normalizes magnitudes (raw
                  // low-bit interleaving of real ids would destroy the
                  // clustering this rewrite exists to preserve).
                  zOrderByNAuto(in, present, n)
                else in.repartitionByRange(n, present.map(col): _*)
                  .sortWithinPartitions(present.map(col): _*)
              sized.write.mode(SaveMode.Overwrite).parquet(dest.toString)
            }
          }
        }
        Await.result(Future.sequence(jobs), Duration.Inf)
      } finally { pool.shutdown(); () }
      swapDir(fs, tmp, src, "__compact_bak")
      // skipping survives maintenance without caller discipline: rebuild
      // the captured spec over the compacted layout
      GraftTable.reindexAuto(spark, path, idxSpec)
      // recursive DATA-file count (leaves may be nested partition dirs;
      // "_"-prefixed entries — _index manifests, _SUCCESS — are metadata)
      def countParquet(p: Path): Int = fs.listStatus(p).map { s =>
        if (isMeta(s.getPath)) 0
        else if (s.isDirectory) countParquet(s.getPath)
        else if (s.getPath.getName.endsWith(".parquet")) 1 else 0
      }.sum
      countParquet(src)
    }
  }

  /** FILE-LEVEL ZONE MAP — the Delta/Iceberg data-skipping design as a
    * plain operator: one scan of a parquet table produces its per-file
    * (min, max, rows) stats for `valueCol`, keyed by `_metadata.file_path`
    * (constant-folded per split — no per-row UDF cost). In a lakehouse
    * this manifest is written ONCE at layout time next to the data and
    * consulted by every subsequent range query; its size is the FILE
    * count, not the row count, so it stays driver-broadcastable at any
    * data size (a 100 TB table at 256 MB files is ~400k manifest rows).
    * Pays off only when the layout correlates the column with files —
    * compose with [[zOrderBy]] / `repartitionByRange` + sorted writes.
    */
  def zoneMap(spark: SparkSession, path: String, valueCol: String): DataFrame =
    zoneMapPaths(spark, Seq(path), valueCol)

  /** [[zoneMap]] over a MULTI-DIR generation (a merge-on-read base plus
    * its live append dirs): one scan, per-file stats keyed by
    * `_metadata.file_path` exactly as the single-dir form.
    */
  def zoneMapPaths(spark: SparkSession, paths: Seq[String],
                   valueCol: String): DataFrame =
    spark.read.parquet(paths: _*)
      .select(col("_metadata.file_path").as("file"), col(valueCol))
      .groupBy("file")
      .agg(min(col(valueCol)).as("min_v"), max(col(valueCol)).as("max_v"),
        count(lit(1)).as("n_rows"))

  /** Per-file BLOOM manifest — the point-lookup complement of
    * [[zoneMap]]'s min/max: one scan over a (possibly multi-dir)
    * generation groups by `_metadata.file_path` and folds `keyCol` into
    * a fixed-geometry Bloom filter per file (the Delta/Iceberg
    * bloom-index shape). Zone maps prune RANGES on clustered columns;
    * blooms prune EXACT keys on columns the layout did NOT cluster —
    * where every file's min/max spans the whole domain and min/max
    * skipping is useless. Returns (file, bloom bytes, n_rows);
    * file-count-sized like every manifest here.
    * [[GraftTable.buildIndex]] persists it and [[GraftTable.read]]
    * probes it against pushed-down IN-lists.
    */
  def bloomManifestPaths(spark: SparkSession, paths: Seq[String], keyCol: String,
                         expectedPerFile: Long, fpp: Double): DataFrame =
    spark.read.parquet(paths: _*)
      .select(col("_metadata.file_path").as("file"), col(keyCol))
      .groupBy("file")
      .agg(graft.functions.native.bloomBuild(col(keyCol), expectedPerFile, fpp)
          .as("bloom"),
        count(lit(1)).as("n_rows"))

  /** SNAPSHOT-VERSIONED TABLE — the copy-on-write half of the lakehouse
    * maintenance story ([[mergeParquet]] is the in-place half, with its
    * documented rename-window caveat for concurrent readers). Layout:
    * immutable `v=<n>/` parquet dirs plus a `_latest` pointer file whose
    * content is the committed version number. A snapshot dir is complete
    * BEFORE the pointer moves (write-then-rename, same discipline as
    * mergeParquet's swap), so a reader that resolved a version keeps a
    * consistent, never-mutated view for the whole query — time travel
    * and snapshot isolation with no read lock, which is precisely the
    * property mergeParquet cannot give. Writers serialize under the
    * shared maintenance lock; version history grows until
    * [[vacuumSnapshots]] drops old ones (readers pinned to a vacuumed
    * version fail loudly on file-not-found, Delta's contract).
    */
  def writeSnapshot(spark: SparkSession, path: String, df0: DataFrame,
                    expectedVersion: Option[Long] = None): Long =
    commitSnapshot(spark, path, df0, expectedVersion, Plain).get

  /** What a snapshot commit records beside its data dir: nothing, an
    * idempotence token, or a change feed keyed by a (logical) column —
    * one of the three, never a mix.
    */
  private sealed trait SnapshotKind
  private case object Plain extends SnapshotKind
  private final case class Idempotent(token: String) extends SnapshotKind {
    require(token.nonEmpty, "idempotence token must be non-empty")
  }
  private final case class Cdf(keyCol: String) extends SnapshotKind

  /** The ONE snapshot commit behind [[writeSnapshot]],
    * [[writeSnapshotIdempotent]] and [[writeSnapshotCdf]]. Under the
    * table lock, in this order (the crash discipline):
    *
    *  1. resolve the latest version; for [[Idempotent]], a latest
    *     version already carrying the token is OUR redelivery — None,
    *     decided BEFORE the CAS (a version advance is not a conflict);
    *  2. writer-writer optimistic concurrency: with `expectedVersion`
    *     set, a commit whose base read was superseded fails loudly
    *     ([[CommitConflictException]]'s retry contract) instead of
    *     silently last-write-winning over the interleaved commit;
    *  3. "data": write `v=<next>` in physical column names (callers
    *     speak logical ones). Overwrite, not ErrorIfExists: a dir at
    *     `next` can only be a CRASHED writer's leftovers (the pointer
    *     never moved past it, and live writers serialize under the
    *     lock) — uncommitted garbage by protocol, which a new commit
    *     must replace rather than be permanently blocked by;
    *  4. "token" ([[Idempotent]]): `v=<next>/_token`, so a crash between
    *     data and pointer never leaves a committed version missing it;
    *  5. "feed": [[Cdf]] writes `_cdf/v=<next>` off the WRITTEN data
    *     bytes; every other kind deletes an orphan `_cdf/v=<next>` a
    *     crashed CDF writer left — a `_cdf/v=<n>` dir must only ever
    *     exist for a version a CDF commit published, or
    *     readChangesBetween would serve it as describing THIS commit;
    *  6. "key" ([[Cdf]]): publish the physical key to `_cdf_key`;
    *  7. "publish": the atomic `_latest` swap — THE commit point;
    *  8. a previously indexed table's new version inherits the spec
    *     (discovered from the surviving `v=<prev>` manifests; no-op on
    *     never-indexed tables).
    *
    * A crash anywhere before 7 leaves an above-pointer dir (and maybe
    * feed) that readers never see, the next commit overwrites, and
    * [[vacuumSnapshots]] sweeps. Returns None only on an
    * [[Idempotent]] redelivery.
    */
  private def commitSnapshot(spark: SparkSession, path: String, df0: DataFrame,
                             expectedVersion: Option[Long],
                             kind: SnapshotKind): Option[Long] = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new Path(path))
    withTableLock(fs, path) {
      val latest = latestSnapshot(spark, path)
      val redelivery = kind match {
        case Idempotent(token) => latest.exists { v =>
          val tp = new Path(s"$path/v=$v/_token")
          fs.exists(tp) && readPointerFully(fs, tp) == token
        }
        case _ => false
      }
      if (redelivery) None
      else {
        casCheck(path, "snapshot", expectedVersion, latest.getOrElse(-1L))
        val next = latest.map(_ + 1).getOrElse(0L)
        val cmap = snapshotColMap(spark, path)
        step(path, "data")
        toPhysicalCols(df0, cmap).write.mode(SaveMode.Overwrite).parquet(s"$path/v=$next")
        kind match {
          case Idempotent(token) =>
            step(path, "token")
            writeSmallFile(fs, new Path(s"$path/v=$next/_token"), token)
          case _ =>
        }
        step(path, "feed")
        kind match {
          case Cdf(keyCol0) =>
            // the diff, the feed, and the data dirs all live in physical names
            val keyCol = cmap.map(_.swap).getOrElse(keyCol0, keyCol0)
            writeChangeFeed(spark, path, latest, next, keyCol)
            // record the PHYSICAL key name so argument-free consumers (SQL
            // DML routing through this commit protocol) can keep the feed
            // lineage going; last writer wins — the key is a per-commit
            // argument, this is just its latest value
            step(path, "key")
            val kp = new Path(path, "_cdf_key")
            if (!fs.exists(kp) || readPointerFully(fs, kp) != keyCol)
              publishFile(spark, fs, kp, keyCol)
          case _ => fs.delete(new Path(s"$path/_cdf/v=$next"), true)
        }
        step(path, "publish")
        publishFile(spark, fs, new Path(path, "_latest"), next.toString)
        GraftTable.reindexAuto(spark, path)
        Some(next)
      }
    }
  }

  /** Idempotent snapshot commit — the EXACTLY-ONCE sink primitive for
    * streaming: commits `df` as the next version UNLESS the latest
    * committed version already carries `token`. Structured Streaming's
    * foreachBatch is at-least-once per batch (a sink that committed and
    * then crashed before the CHECKPOINT commit gets the same batch
    * REDELIVERED on restart), but only the LAST batch can replay —
    * earlier ones are fenced by the checkpoint — so one token of memory
    * makes the sink exactly-once. The token rides inside the version
    * dir as `_token` (underscore-prefixed: parquet readers ignore it),
    * written BEFORE the pointer moves, so a crash between data and
    * pointer leaves uncommitted garbage, never a committed version
    * missing its token. Returns Some(version) when committed, None on
    * the redelivery no-op.
    */
  def writeSnapshotIdempotent(spark: SparkSession, path: String, df0: DataFrame,
                              token: String,
                              expectedVersion: Option[Long] = None): Option[Long] =
    commitSnapshot(spark, path, df0, expectedVersion, Idempotent(token))

  /** [[writeSnapshot]] with a CHANGE-DATA-FEED commit (the Delta CDF
    * contract): alongside the new version's data, the commit records the
    * row-level changes vs the previous version under `_cdf/v=<n>/`, so a
    * downstream consumer reads "what changed between v_i and v_j"
    * ([[readChangesBetween]]) at a cost proportional to the CHANGES —
    * never rescanning either version. The diff is computed ONCE, at
    * commit time, as a single key-co-partitioned full-outer join (the
    * writer pays O(table) the way any MERGE does); every subsequent
    * consumer pays O(delta).
    *
    * Change rows carry the data columns plus `_change_type` ∈ {insert,
    * delete, update_preimage, update_postimage}. The CDF dir is written
    * BEFORE the pointer moves ([[writeSnapshotIdempotent]]'s crash
    * discipline): a crash between data/cdf and pointer leaves
    * uncommitted garbage, never a committed version missing its feed.
    * `keyCol` must be unique per row in both versions (checked on the
    * incoming frame — a duplicate key would make pre/post pairing
    * ambiguous).
    */
  def writeSnapshotCdf(spark: SparkSession, path: String, df0: DataFrame,
                       keyCol0: String,
                       expectedVersion: Option[Long] = None): Long =
    commitSnapshot(spark, path, df0, expectedVersion, Cdf(keyCol0)).get

  /** The "feed" step of a [[Cdf]] commit: the diff of the just-written
    * `v=<next>` against `latest`, written to `_cdf/v=<next>`. The
    * uniqueness check and the diff are driven off the WRITTEN bytes: the
    * incoming frame's lineage — arbitrary caller computation — runs once
    * instead of three times (round-19: the dup-check and the diff's
    * new-side each re-ran the whole MERGE computation in the SQL DML
    * path). A require tripping here leaves an uncommitted above-pointer
    * dir — the same garbage any crashed writer leaves.
    */
  private def writeChangeFeed(spark: SparkSession, path: String,
                              latest: Option[Long], next: Long, keyCol: String): Unit = {
    val df = spark.read.parquet(s"$path/v=$next")
    // ONE key-grouped aggregation computes the whole diff AND both
    // key-uniqueness checks (round-19; was a dup-check action + a
    // full-outer join + a separate rescan of a plain-committed
    // predecessor — three shuffles and two extra driver actions).
    // Per key: per-side row counts (each must be <= 1 — asserted
    // in-band via assert_true, so the check costs zero extra passes
    // and now ALWAYS covers the predecessor, not only plain-committed
    // ones) plus each side's single row, reassembled into
    // insert/delete/update_{pre,post}image events. The per-column
    // conditional FIRSTs keep the aggregation buffer primitive-typed
    // (hash aggregate, no sort); `!(p <=> n)` per column is exactly
    // the old struct `=!=` ordering semantics (null fields compare
    // equal).
    val inMsg = s"writeSnapshotCdf: key column $keyCol is not unique in the incoming frame"
    def diffEvents(prevOpt: Option[DataFrame], prevV: Long): DataFrame = {
      val cols = df.columns.toSeq
      val n = df.withColumn("__s", lit(1))
      val u = prevOpt.fold(n)(p => p.withColumn("__s", lit(0)).unionByName(n))
      val aggs =
        count(when(col("__s") === 0, 1)).as("__np") +:
          count(when(col("__s") === 1, 1)).as("__nn") +:
          cols.flatMap(c => Seq(
            first(when(col("__s") === 0, col(c)), ignoreNulls = true).as(s"__p_$c"),
            first(when(col("__s") === 1, col(c)), ignoreNulls = true).as(s"__n_$c")))
      val g = u.groupBy(col(keyCol).as("__k")).agg(aggs.head, aggs.tail: _*)
      val prevMsg = s"writeSnapshotCdf: key column $keyCol is not unique in previous version v=$prevV"
      // assert_true yields NULL when the condition holds, so the
      // where-clause keeps every row while enforcing the check; it
      // throws (with the side-specific message) on the first dup key
      val checked = g.where(assert_true(col("__np") <= 1 && col("__nn") <= 1,
        when(col("__np") > 1, lit(prevMsg)).otherwise(lit(inMsg))).isNull)
      def side(prefix: String, tag: String) =
        struct((cols.map(c => col(s"$prefix$c").as(c)) :+
          lit(tag).as("_change_type")): _*)
      val changed = cols.map(c => !(col(s"__p_$c") <=> col(s"__n_$c")))
        .reduce(_ || _)
      checked.select(explode(filter(array(
          when(col("__np") === 0 && col("__nn") === 1, side("__n_", "insert")),
          when(col("__np") === 1 && col("__nn") === 0, side("__p_", "delete")),
          when(col("__np") === 1 && col("__nn") === 1 && changed,
            side("__p_", "update_preimage")),
          when(col("__np") === 1 && col("__nn") === 1 && changed,
            side("__n_", "update_postimage"))),
        x => x.isNotNull)).as("__e"))
        .select((cols.map(c => col(s"__e.$c").as(c)) :+
          col("__e._change_type").as("_change_type")): _*)
    }
    val changes = latest match {
      case None =>
        diffEvents(None, -1L)
      case Some(v) =>
        val prev0 = spark.read.parquet(s"$path/v=$v")
        // ADDITIVE schema evolution (the Delta-CDF rule): the incoming
        // frame may introduce new columns — the previous version is
        // null-padded for them, so a row whose only difference is a
        // new column becoming non-null records as an update, and the
        // feed carries the WIDEST schema of its commit. Removing or
        // retyping a column stays a loud error: a dropped column
        // would silently erase history from every downstream diff.
        val removed = prev0.columns.toSet -- df.columns.toSet
        require(removed.isEmpty,
          s"writeSnapshotCdf: incoming frame drops column(s) " +
            s"${removed.toSeq.sorted.mkString(", ")} present in v=$v — " +
            "only additive schema evolution is supported")
        prev0.schema.foreach { f =>
          require(df.schema(f.name).dataType == f.dataType,
            s"writeSnapshotCdf: column ${f.name} retyped from " +
              s"${f.dataType} (v=$v) to ${df.schema(f.name).dataType}")
        }
        val added = df.columns.filterNot(prev0.columns.contains)
        val prev = added.foldLeft(prev0) { (d, c) =>
          d.withColumn(c, lit(null).cast(df.schema(c).dataType))
        }
        diffEvents(Some(prev), v)
    }
    // the in-band uniqueness assert surfaces as a wrapped executor
    // error; rethrow it under the documented driver-side contract
    // (IllegalArgumentException naming the offending side)
    try changes.write.mode(SaveMode.Overwrite).parquet(s"$path/_cdf/v=$next")
    catch { case e: Throwable =>
      val msgs = Iterator.iterate(e.asInstanceOf[Throwable])(_.getCause)
        .takeWhile(_ != null).map(t => Option(t.getMessage).getOrElse(""))
        .mkString("\n")
      val at = msgs.indexOf("writeSnapshotCdf: key column")
      if (at < 0) throw e
      throw new IllegalArgumentException(msgs.substring(at).linesIterator.next())
    }
  }

  /** The CDC-consumer read: every row-level change committed AFTER
    * `fromV` up to and including `toV`, as recorded by
    * [[writeSnapshotCdf]] — data columns + `_change_type` +
    * `_commit_version`. Cost is O(changed rows): the read lists only the
    * `_cdf/v=…` dirs in range and never touches a version's data files,
    * which is the property that makes incremental consumers viable at
    * 100 TB (the alternative — diffing two full snapshots — scans the
    * table twice however small the delta). Fails loudly if any version
    * in range was committed WITHOUT a feed (plain [[writeSnapshot]]):
    * silently skipping it would hand the consumer a hole.
    */
  def readChangesBetween(spark: SparkSession, path: String,
                         fromV: Long, toV: Long,
                         useCheckpoints: Boolean = true): DataFrame = {
    import org.apache.hadoop.fs.Path
    require(fromV < toV, s"readChangesBetween needs fromV < toV, got $fromV..$toV")
    val latest = latestSnapshot(spark, path).getOrElse(
      throw new IllegalStateException(s"no committed snapshot table at $path"))
    require(toV <= latest, s"version $toV not committed yet (latest $latest)")
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val ckpts = if (useCheckpoints) listFeedCheckpoints(fs, path) else Nil
    // the widest checkpoint anchored exactly at this read's start: reads
    // anchored at a squash boundary pay O(net changes + tail commits);
    // other anchors fall through to the raw per-commit dirs (and fail
    // loudly below if those were swept — the pinned-reader contract)
    val anchor = ckpts.filter { case (f, t) => f == fromV && t <= toV }
      .sortBy(_._2).lastOption
    val ckptPart = anchor.toSeq.map { case (f, t) =>
      // a squash spans (f..t]; its rows are stamped with the UPPER bound
      // so latest-change folds order them before every tail commit
      spark.read.parquet(s"$path/_cdf_ckpt/c=${f}_$t")
        .withColumn("_commit_version", lit(t))
    }
    val tailFrom = anchor.map(_._2).getOrElse(fromV)
    val dirs = ((tailFrom + 1) to toV).map { v =>
      val p = new Path(s"$path/_cdf/v=$v")
      require(fs.exists(p), {
        val covering = ckpts.find { case (f, t) => f < v && v <= t }
        s"version $v of $path has no change feed — it was committed " +
          "without writeSnapshotCdf" + covering.map { case (f, t) =>
            s", or its per-commit feed was compacted into checkpoint " +
              s"c=${f}_$t and swept; anchor the read at version $f " +
              s"spanning at least version $t"
          }.getOrElse("") + "; the consumer cannot skip it silently"
      })
      spark.read.parquet(p.toString).withColumn("_commit_version", lit(v))
    }
    // feeds widen under additive schema evolution — rows recorded before
    // a column existed surface with NULL for it (the Delta-CDF read rule) —
    // and surface under CURRENT logical names across renames (feeds store
    // physical names forever; `_change_type`/`_commit_version` are ours,
    // never mapped)
    toLogicalCols(
      (ckptPart ++ dirs).reduce(_.unionByName(_, allowMissingColumns = true)),
      snapshotColMap(spark, path))
  }

  /** SQUASH a multi-commit change feed into its NET change set, from
    * the feed alone (no snapshot is ever read): the feed itself reveals
    * prior existence — a key whose first event is an insert was absent
    * at range start; one whose first event is an update_preimage or
    * delete was present, and THAT row IS its start-of-range image — and
    * final state (last non-preimage event). Two bounded windows over
    * the feed, O(changed rows); the classification is pure algebra:
    * existed+dead → net delete (carrying the START-of-range image),
    * existed+alive → net update (suppressed when the row churned back
    * to its original value), absent+alive → net insert, absent+dead →
    * TRANSIENT (born and killed inside the range) which vanishes
    * entirely. Every linear CDF consumer is squash-invariant: the
    * signed count/sum fold sees identical deltas (intermediate hops
    * telescope), and the latest-change fold sees the same final row
    * per key — which is what lets [[squashFeed]] substitute the squash
    * for the raw per-commit feeds.
    *
    * Input must carry `_change_type` and `_commit_version`
    * ([[readChangesBetween]]'s shape); output carries the data columns
    * + `_change_type` only (a squash spans commits, so no single
    * version describes it — [[readChangesBetween]] stamps the
    * checkpoint's upper bound when serving one).
    */
  def cdfSquash(feed: DataFrame, keyCol: String): DataFrame = {
    val dataCols = feed.columns.toSeq
      .filterNot(c => c == "_change_type" || c == "_commit_version")
    val wf = org.apache.spark.sql.expressions.Window.partitionBy(keyCol)
      .orderBy(col("_commit_version").asc,
        when(col("_change_type") === "update_postimage", 1).otherwise(0))
    val first = feed.withColumn("__rn", row_number().over(wf))
      .filter(col("__rn") === 1)
      .select(col(keyCol).as("__k"),
        (col("_change_type") =!= "insert").as("existed"),
        struct(dataCols.map(col): _*).as("v0row"))
    val last = cdfLatestChanges(feed, keyCol)
      .select(col(keyCol).as("__k"),
        (col("_change_type") =!= "delete").as("alive"),
        struct(dataCols.map(col): _*).as("v1row"))
    val j = first.join(last, Seq("__k"))
    val ins = j.filter(!col("existed") && col("alive"))
      .select(col("v1row.*")).withColumn("_change_type", lit("insert"))
    val del = j.filter(col("existed") && !col("alive"))
      .select(col("v0row.*")).withColumn("_change_type", lit("delete"))
    val upd = j.filter(col("existed") && col("alive") &&
      col("v0row") =!= col("v1row"))
    ins.unionByName(del)
      .unionByName(upd.select(col("v0row.*"))
        .withColumn("_change_type", lit("update_preimage")))
      .unionByName(upd.select(col("v1row.*"))
        .withColumn("_change_type", lit("update_postimage")))
  }

  /** CHECKPOINTED FEED COMPACTION — the storage-level materialization
    * of [[cdfSquash]], closing the CDC family's one remaining
    * O(commits) cost: without it, a long-lived table's incremental
    * consumers pay one directory listing + union PER COMMIT on every
    * refresh ([[readChangesBetween]] unions `_cdf/v=…` dirs), so feed
    * scan cost grows with commit count even when almost nothing
    * changed. `squashFeed(path, keyCol, fromV, toV)` writes the net
    * change set of the range once, as `_cdf_ckpt/c=<from>_<to>/`, and
    * [[readChangesBetween]] transparently serves [checkpoint + tail]
    * for any read anchored at `fromV` — feed-scan cost becomes
    * O(net changed rows + tail commits), bounded by CHANGES, not
    * commits. Checkpoints CHAIN: building the next one reads
    * [previous checkpoint + tail], never the full per-commit history.
    *
    * After a checkpoint commits, [[vacuumSnapshots]] sweeps the
    * per-commit feeds it covers — reads anchored INSIDE a swept range
    * (fromV strictly between a checkpoint's bounds) then fail loudly
    * naming the checkpoint boundary, the same pinned-reader contract
    * as vacuumed snapshot versions. Crash-safe like every commit here:
    * the checkpoint dir appears atomically (write-to-tmp + rename)
    * and nothing else moves, so a crashed squash leaves at most an
    * invisible tmp dir.
    */
  def squashFeed(spark: SparkSession, path: String, keyCol: String,
                 fromV: Long, toV: Long): Unit = {
    import org.apache.hadoop.fs.Path
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    withTableLock(fs, path) {
      // the feed read surfaces logical names; the checkpoint is STORAGE
      // and stores physical ones like every feed dir, so reads map all
      // parts uniformly whatever renames come later
      val squashed = toPhysicalCols(
        cdfSquash(readChangesBetween(spark, path, fromV, toV), keyCol),
        snapshotColMap(spark, path))
      val tmp = new Path(path, "_cdf_ckpt/.c_tmp")
      fs.delete(tmp, true)
      squashed.write.mode(SaveMode.Overwrite).parquet(tmp.toString)
      val dest = new Path(path, s"_cdf_ckpt/c=${fromV}_$toV")
      fs.delete(dest, true) // idempotent re-squash of the same range
      renameOrFail(fs, tmp, dest)
    }
  }

  /** Checkpoints on disk as (from, to) bounds, ascending by `to`. */
  private[graft] def listFeedCheckpoints(fs: org.apache.hadoop.fs.FileSystem,
                                         path: String): Seq[(Long, Long)] = {
    import org.apache.hadoop.fs.Path
    val root = new Path(path, "_cdf_ckpt")
    if (!fs.exists(root)) Nil
    else fs.listStatus(root).toSeq.filter(_.isDirectory)
      .map(_.getPath.getName)
      .collect { case n if n.startsWith("c=") =>
        n.stripPrefix("c=").split("_") match {
          case Array(f, t) => (f.toLong, t.toLong)
        }
      }.sortBy(_._2)
  }

  /** The per-key LATEST MATERIALIZED change of a multi-commit feed —
    * the shared first step of every churn-safe consumer (reconstruction,
    * top-k/distinct maintenance, index refresh, squash): drop
    * `update_preimage` bookkeeping rows, keep each key's newest
    * remaining row by `_commit_version` (one row per key per commit
    * after the preimage filter, so the ordering is total). The result
    * carries `_change_type`, so callers decide what a trailing delete
    * means (drop the key, or emit it as a net delete) — and
    * `_commit_version`, for consumers that resume from a cursor. One
    * bounded window over the FEED: O(changed rows), never O(table).
    */
  def cdfLatestChanges(feed: DataFrame, keyCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCol).orderBy(col("_commit_version").desc)
    feed.filter(col("_change_type") =!= "update_preimage")
      .withColumn("__cdf_rn", row_number().over(w))
      .filter(col("__cdf_rn") === 1).drop("__cdf_rn")
  }

  /** Read a pointer file FULLY (InputStream.read may legally return
    * fewer bytes than available — a truncated "12"→"1" parse would
    * silently serve a stale snapshot and let the next writer overwrite
    * a committed dir), with a bounded retry on ChecksumException: the
    * local ChecksumFileSystem/LocalFs moves a renamed file and its
    * .crc sidecar in TWO steps, so a lock-free reader racing the
    * atomic pointer swap can transiently pair new bytes with the old
    * checksum. HDFS/object stores swap a single object, so the retry
    * is a no-op there; here it resolves within one sidecar rename.
    */
  private def readPointerFully(fs: org.apache.hadoop.fs.FileSystem,
                               ptr: org.apache.hadoop.fs.Path): String = {
    var attempt = 0
    while (true) {
      try {
        val in = fs.open(ptr)
        val body = try {
          val buf = new java.io.ByteArrayOutputStream()
          val chunk = new Array[Byte](64)
          var n = in.read(chunk)
          while (n >= 0) { buf.write(chunk, 0, n); n = in.read(chunk) }
          buf.toString("UTF-8").trim
        } finally in.close()
        return body
      } catch {
        case e: org.apache.hadoop.fs.ChecksumException =>
          attempt += 1
          if (attempt > 100) throw new IllegalStateException(
            s"pointer $ptr failed checksum after $attempt reads — corrupt, not a race", e)
          Thread.sleep(5)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Resolve a pointer a lock-free reader needs on a COMMITTED table,
    * retrying the short no-pointer window that the local FS's
    * OVERWRITE rename leaves (AbstractFileSystem's default for
    * checksummed FS is delete-then-rename; HDFS renames atomically and
    * object stores PUT the pointer, so the retry never fires there).
    * `committedEvidence` distinguishes the race from a genuinely empty
    * table: committed data dirs next to a missing pointer mean a
    * writer is mid-swap (retry) — or, after the retry budget, corrupt
    * metadata (loud error, per vacuumSnapshots's discipline).
    */
  private[operators] def pointerOrRetry[T](path: String, kind: String,
                                read: () => Option[T],
                                committedEvidence: () => Boolean): T = {
    var attempt = 0
    while (true) {
      read() match {
        case Some(p) => return p
        case None =>
          if (!committedEvidence()) throw new IllegalStateException(
            s"no committed $kind table at $path")
          attempt += 1
          if (attempt > 100) throw new IllegalStateException(
            s"$kind pointer missing at $path despite committed dirs — " +
              "corrupt table metadata, not a rename race (or a first-ever " +
              "writer crashed before publishing its pointer: its leftover " +
              "data dirs are indistinguishable from a committed table's; " +
              "re-running that writer overwrites them and repairs this)")
          Thread.sleep(5)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  // ---------------------------------------------------------------
  // COLUMN MAPPING (Delta-style logical→physical names): a snapshot
  // table's parquet files keep the PHYSICAL name a column was born
  // with, forever; `_colmap` records physical→logical for columns
  // renamed since. RENAME is therefore a metadata-only commit — no
  // version, feed, or index file is rewritten: writers hand in frames
  // with LOGICAL names (converted to physical before the diff/write,
  // so old and new versions share physical schema), and every read —
  // readSnapshot at any version, readChangesBetween across feeds
  // recorded before the rename, GraftTable.read — surfaces CURRENT
  // logical names. Pruning operates on physical columns underneath
  // and is unaffected. Retypes remain loud errors (writeSnapshotCdf's
  // additive-only contract).
  // ---------------------------------------------------------------

  /** The CDF key column [[writeSnapshotCdf]] last committed with —
    * stored under its PHYSICAL name (stable across renames), surfaced
    * as the current LOGICAL name. None for tables never committed
    * through the CDF writer. This is what lets argument-free surfaces
    * (SQL `MERGE INTO`/`UPDATE`/`DELETE`, [[graft.plans.GraftDml]])
    * keep the change-feed lineage going.
    */
  def snapshotCdfKey(spark: SparkSession, path: String): Option[String] = {
    import org.apache.hadoop.fs.Path
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val p = new Path(path, "_cdf_key")
    if (!fs.exists(p)) None
    else {
      val phys = readPointerFully(fs, p)
      Some(snapshotColMap(spark, path).getOrElse(phys, phys))
    }
  }

  /** The table's physical→logical column mapping (empty = identity). */
  def snapshotColMap(spark: SparkSession, path: String): Map[String, String] = {
    import org.apache.hadoop.fs.Path
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val p = new Path(path, "_colmap")
    if (!fs.exists(p)) Map.empty
    else readPointerFully(fs, p).split("\n").toSeq.filter(_.nonEmpty).map { line =>
      line.split("\t") match {
        case Array(phys, logical) => phys -> logical
        case _ => throw new IllegalStateException(
          s"corrupt _colmap line '$line' at $path")
      }
    }.toMap
  }

  /** Physical frame (as stored) → current logical names. */
  private[operators] def toLogicalCols(df: DataFrame,
                                       m: Map[String, String]): DataFrame =
    if (m.isEmpty) df
    else df.select(df.columns.toIndexedSeq.map(c => df(c).as(m.getOrElse(c, c))): _*)

  /** Caller frame (logical names) → physical storage names. A frame
    * still carrying a RENAMED-AWAY name is a stale writer and fails
    * loudly — accepting it would silently commit under a name the
    * table no longer exposes.
    */
  private def toPhysicalCols(df: DataFrame, m: Map[String, String]): DataFrame = {
    if (m.isEmpty) return df
    // a frame column is STALE only when it is a renamed-away physical
    // name AND not also a current logical name: after a→c then b→a,
    // logical 'a' is legitimate (the inverse map routes it to physical
    // 'b') even though 'a' is also a key of the physical→logical map
    val stale = df.columns.filter(c =>
      m.contains(c) && m(c) != c && !m.valuesIterator.contains(c))
    require(stale.isEmpty,
      s"column(s) ${stale.mkString(", ")} were renamed " +
        s"(${stale.map(c => s"$c -> ${m(c)}").mkString(", ")}); " +
        "write with the current logical names")
    val inv = m.map(_.swap)
    df.select(df.columns.toIndexedSeq.map(c => df(c).as(inv.getOrElse(c, c))): _*)
  }

  /** METADATA-ONLY RENAME of a snapshot-table column: updates `_colmap`
    * atomically under the table lock; no data, feed, or index file is
    * touched. After it, every read (any version — time travel included —
    * and every recorded change feed) surfaces `to`; writers must hand
    * in `to` (a frame still carrying `from` now FAILS the CDF width
    * check loudly, never silently forks a second column). Renaming back
    * to the physical name drops the mapping entry.
    */
  def renameSnapshotColumn(spark: SparkSession, path: String,
                           from: String, to: String): Unit = {
    import org.apache.hadoop.fs.Path
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    withTableLock(fs, path) {
      val latest = latestSnapshot(spark, path).getOrElse(
        throw new IllegalStateException(s"no committed snapshot table at $path"))
      val m = snapshotColMap(spark, path)
      val phys = spark.read.parquet(s"$path/v=$latest").schema.fieldNames.toSeq
      val logical = phys.map(p => m.getOrElse(p, p))
      require(logical.contains(from),
        s"renameSnapshotColumn: no column '$from' at $path " +
          s"(logical columns: ${logical.mkString(", ")})")
      require(!logical.contains(to),
        s"renameSnapshotColumn: column '$to' already exists at $path")
      val physFrom = m.find(_._2 == from).map(_._1).getOrElse(from)
      val next = (m - physFrom) ++
        (if (physFrom == to) Nil else Seq(physFrom -> to))
      publishFile(spark, fs, new Path(path, "_colmap"),
        next.toSeq.sorted.map { case (p, l) => s"$p\t$l" }.mkString("\n"))
    }
  }

  /** The committed version, or None for an empty table. */
  def latestSnapshot(spark: SparkSession, path: String): Option[Long] = {
    import org.apache.hadoop.fs.Path
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val ptr = new Path(path, "_latest")
    if (!fs.exists(ptr)) None
    else {
      val body = readPointerFully(fs, ptr)
      if (body.isEmpty) throw new IllegalStateException(
        s"snapshot pointer $ptr is empty — table metadata is corrupt")
      Some(body.toLong)
    }
  }

  /** Read the latest committed snapshot, or a pinned `version` (time
    * travel). The resolved dir is immutable, so the returned frame is a
    * consistent view however long the query runs.
    */
  def readSnapshot(spark: SparkSession, path: String,
                   version: Option[Long] = None): DataFrame = {
    import org.apache.hadoop.fs.Path
    val v = version.getOrElse {
      val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
      pointerOrRetry(path, "snapshot",
        () => latestSnapshot(spark, path),
        () => fs.exists(new Path(path)) && fs.listStatus(new Path(path)).exists(st =>
          st.isDirectory && st.getPath.getName.startsWith("v=")))
    }
    // column mapping: any version — however old — reads under CURRENT
    // logical names (rename is metadata-only; files keep physical names)
    toLogicalCols(spark.read.parquet(s"$path/v=$v"), snapshotColMap(spark, path))
  }

  /** All version numbers present on disk (committed ones; an in-flight
    * writer's dir is excluded until the pointer moves past it).
    */
  def listSnapshots(spark: SparkSession, path: String): Seq[Long] = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val latest = latestSnapshot(spark, path)
    numberedDirs(fs, new Path(path), "v=").map(_._1).filter(v => latest.exists(v <= _))
  }

  /** Drop all but the newest `keepLast` snapshots. Returns the versions
    * deleted. Runs under the maintenance lock so it cannot race a writer
    * allocating the next version.
    */
  def vacuumSnapshots(spark: SparkSession, path: String,
                      keepLast: Int): Seq[Long] = {
    require(keepLast >= 1, "keepLast must be >= 1")
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    withTableLock(fs, path) {
      val committed = listSnapshots(spark, path)
      val victims = committed.dropRight(keepLast)
      // a vacuumed version's skipping manifests go with it (auto
      // re-index writes `_index/v=<n>` per commit on indexed tables;
      // leaving them would grow table metadata without bound and keep
      // indexSpec scanning an ever-longer tag list). `_cdf/v=<n>` feeds
      // are deliberately RETAINED: incremental consumers replay feeds of
      // versions whose data dirs are long gone, and feeds are
      // delta-sized, not table-sized.
      victims.foreach { v =>
        fs.delete(new Path(s"$path/v=$v"), true)
        fs.delete(new Path(s"$path/_index/v=$v"), true)
      }
      // …except per-commit feeds a CHECKPOINT supersedes ([[squashFeed]]):
      // the squash carries their net content, so retaining them would keep
      // the O(commits) listing cost the checkpoint exists to remove.
      // Readers anchored inside a swept range fail loudly naming the
      // checkpoint boundary (readChangesBetween's contract).
      val covered = listFeedCheckpoints(fs, path)
      val feeds = numberedDirs(fs, new Path(path, "_cdf"), "v=")
      if (covered.nonEmpty) {
        feeds.filter { case (v, _) => covered.exists { case (f, t) => f < v && v <= t } }
          .foreach(e => fs.delete(e._2, true))
        // a checkpoint whose range another checkpoint strictly extends is
        // itself superseded (chained squashes): keep only maximal ranges
        covered.foreach { case (f, t) =>
          if (covered.exists { case (f2, t2) =>
              f2 <= f && t <= t2 && (f2, t2) != (f, t) })
            fs.delete(new Path(s"$path/_cdf_ckpt/c=${f}_$t"), true)
        }
      }
      // also sweep uncommitted dirs ABOVE the pointer (a crashed writer's
      // leftovers — no live writer can exist while we hold the lock).
      // A MISSING pointer next to existing snapshot dirs is corrupt
      // metadata, not license to sweep: treating None as "everything is
      // garbage" would delete the whole table's history over one lost
      // 64-byte file.
      val latest = latestSnapshot(spark, path)
      val onDisk = numberedDirs(fs, new Path(path), "v=").map(_._1)
      latest match {
        case Some(l) =>
          onDisk.filter(_ > l).foreach { v =>
            fs.delete(new Path(s"$path/v=$v"), true)
            fs.delete(new Path(s"$path/_index/v=$v"), true)
            // an above-pointer `_cdf/v=<n>` is a crashed CDF writer's
            // orphan feed — sweeping only the data dir would let a later
            // commit of <n> inherit a stale feed (and let
            // writeSnapshotCdf's committed-predecessor check trust a
            // commit that was never verified)
            fs.delete(new Path(s"$path/_cdf/v=$v"), true)
          }
          // also orphan feeds ABOVE any existing data dir (a CDF writer
          // that crashed before even finishing its data dir leaves only
          // the feed behind)
          feeds.filter(_._1 > l).foreach(e => fs.delete(e._2, true))
        case None => require(onDisk.isEmpty,
          s"snapshot pointer missing at $path but ${onDisk.size} snapshot " +
            "dirs exist — refusing to vacuum corrupt table metadata")
      }
      victims
    }
  }

  // ---------------------------------------------------------------
  // MERGE-ON-READ deletes — the third lakehouse mutation discipline,
  // completing the story: mergeParquet rewrites touched partitions in
  // place (copy-on-write, cheap reads / expensive deletes),
  // writeSnapshot rewrites whole versions (time travel), and
  // merge-on-read makes a delete O(deleted keys): immutable
  // `base_v=<n>/` file sets plus append-only `_deletes/d=<k>/`
  // EQUALITY-DELETE files (deleted key values, the Iceberg-v2 shape),
  // reconciled at READ time by an anti-join. At 100 TB a delete of a
  // million keys from a billion-row table writes megabytes instead of
  // rewriting terabytes; the read-side tax is one broadcast anti-join,
  // bounded because [[compactDeletes]] periodically folds the
  // accumulated deletes into a NEW base version (the Iceberg
  // `rewrite_data_files` cadence) — the delete set between compactions
  // stays broadcast-sized BY CONTRACT.
  //
  // Row APPENDS are first-class commits too (`_appends/a=<c>`, see
  // [[appendMorRows]]): appends and deletes share one monotone commit
  // sequence, and a delete applies only to rows born at an EARLIER
  // commit (base rows are born at fence−1) — the Iceberg
  // sequence-number rule, which makes append-after-delete resurrect a
  // key instead of being silently swallowed by an older tombstone.
  //
  // CONCURRENCY: the `_mor` pointer file holds "<baseVersion>
  // <fence>" — base_v=<n> already folds every commit (append or
  // delete) below the fence, so readers apply only commits >= fence.
  // The pointer moves by atomic
  // FileContext rename (writeSnapshot's discipline) and every
  // committed dir is immutable until [[vacuumMor]], so a LOCK-FREE
  // reader that resolved the pointer sees a committed, consistent view
  // even across a concurrent compaction: delete numbering is global
  // and monotone, so old-base + (its hwm onward, as listed) equals the
  // logical table at list time. Delete dirs appear atomically
  // (write-to-tmp + dir rename), and their single key column is
  // normalized to the name `key` at write time so a later read can
  // never silently drop a delete file over a column-name mismatch.
  // The two documented exceptions to lock-free reading:
  // [[writeMorBase]] is a table REPLACE (a reader pinned across one
  // may mix generations), and [[vacuumMor]] invalidates pinned old
  // versions loudly (file-not-found — Delta's contract).
  // ---------------------------------------------------------------

  /** Parse the `_mor` pointer: (baseVersion, deleteHwm). Full-read
    * discipline as [[latestSnapshot]] (short reads would serve a stale
    * or corrupt pointer).
    */
  def morPointer(spark: SparkSession, path: String): Option[(Long, Long)] = {
    import org.apache.hadoop.fs.Path
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val ptr = new Path(path, "_mor")
    if (!fs.exists(ptr)) None
    else {
      val body = readPointerFully(fs, ptr)
      body.split("\\s+") match {
        case Array(v, h) => Some((v.toLong, h.toLong))
        case _ => throw new IllegalStateException(
          s"merge-on-read pointer $ptr is corrupt: '$body'")
      }
    }
  }

  /** Merge-on-read CAS (see [[CommitConflictException]]): compare the
    * writer's observed (base version, NEXT COMMIT NUMBER) against the
    * live table under the lock. The second element is
    * [[nextCommitNum]]'s value — the shared append+delete sequence, so
    * BOTH appendMorRows and appendDeletes advance it; retry code must
    * re-derive it from the table (morPointer + nextCommitNum semantics),
    * never from counting `_deletes` files alone.
    */
  private def morCasCheck(spark: SparkSession,
                          fs: org.apache.hadoop.fs.FileSystem,
                          path: String,
                          expected: Option[(Long, Long)]): Unit =
    expected.foreach { case (expBase, expCommit) =>
      val curBase = morPointer(spark, path).map(_._1).getOrElse(-1L)
      val curCommit = nextCommitNum(fs, path)
      if (curBase != expBase || curCommit != expCommit)
        throw new CommitConflictException(
          s"optimistic commit conflict on merge-on-read table $path: this " +
            s"writer read (base=$expBase, nextCommit=$expCommit) but the table " +
            s"is now at (base=$curBase, nextCommit=$curCommit) — re-read, " +
            "re-derive the change set, and retry with the new expectedState " +
            "(nextCommit spans the shared append+delete sequence)")
    }

  /** Next COMMIT number: appends (`_appends/a=<c>`) and equality
    * deletes (`_deletes/d=<c>`) share ONE global monotone sequence
    * (never resets across base generations) — the Iceberg
    * sequence-number idea. The shared ordering is what gives deletes
    * their scope (a delete at commit c applies only to rows whose
    * commit precedes c, so append-after-delete resurrects a key) and
    * what makes the single fence in the pointer sufficient for
    * readers. Tables written before appends existed have only `d=`
    * entries — the numbering is unchanged for them.
    */
  private def nextCommitNum(fs: FileSystem, path: String): Long =
    (numberedDirs(fs, new Path(path, "_deletes"), "d=") ++
      numberedDirs(fs, new Path(path, "_appends"), "a=")).map(_._1).foldLeft(-1L)(math.max) + 1

  /** A merge-on-read table's `<dir>/<prefix><c>` commit dirs (appends
    * `_appends/a=<c>` or equality deletes `_deletes/d=<c>`) with
    * fence <= c <= upto, as (commit, path), ascending.
    */
  private[operators] def morDirs(fs: FileSystem, path: String, dir: String, prefix: String,
                                 fence: Long, upto: Long = Long.MaxValue): Seq[(Long, String)] =
    numberedDirs(fs, new Path(path, dir), prefix)
      .collect { case (c, p) if c >= fence && c <= upto => (c, p.toString) }

  /** The base commit behind [[writeMorBase]] and [[compactDeletes]]:
    * "data" writes `base_v=<next>` (Overwrite: a dir at `next` is a
    * crashed writer's leftovers — the pointer never moved past it),
    * "publish" atomically moves the `_mor` pointer to (next, fence), and
    * the new generation inherits the previous one's skipping spec (no-op
    * on never-indexed tables).
    */
  private def commitMorBase(spark: SparkSession, fs: FileSystem, path: String,
                            next: Long, fence: Long, data: DataFrame): Unit = {
    step(path, "data")
    data.write.mode(SaveMode.Overwrite).parquet(s"$path/base_v=$next")
    step(path, "publish")
    publishFile(spark, fs, new Path(path, "_mor"), s"$next $fence")
    GraftTable.reindexAuto(spark, path)
  }

  /** The row commit behind [[appendMorRows]] and [[appendDeletes]]:
    * "data" writes `<dir>/.<p>_tmp`, "publish" renames it to
    * `<dir>/<p>=<c>` — the dir appears atomically, so a lock-free reader
    * never scans a half-written one. Returns `c`.
    */
  private def commitMorDir(fs: FileSystem, path: String, dir: String, p: String,
                           c: Long, data: DataFrame): Long = {
    val tmp = new Path(path, s"$dir/.${p}_tmp")
    fs.delete(tmp, true)
    step(path, "data")
    data.write.mode(SaveMode.Overwrite).parquet(tmp.toString)
    step(path, "publish")
    renameOrFail(fs, tmp, new Path(s"$path/$dir/$p=$c"))
    c
  }

  /** Initialize (or REPLACE) the base of a merge-on-read table as a new
    * immutable `base_v=<n>` generation; the pointer's hwm jumps past
    * every existing delete file, superseding them (the new base is by
    * definition fully reconciled). Replace is NOT covered by the
    * lock-free-reader guarantee: a reader pinned across it may combine
    * the old base with deletes aimed at the new generation — the same
    * caveat as any TRUNCATE+reload.
    */
  def writeMorBase(spark: SparkSession, path: String, df: DataFrame,
                   expectedState: Option[(Long, Long)] = None): Unit = {
    import org.apache.hadoop.fs.Path
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new Path(path))
    withTableLock(fs, path) {
      // MoR CAS: expectedState = (base version, next COMMIT number — the
      // shared append+delete sequence, nextCommitNum) the writer's read
      // observed ((-1, 0) for a fresh table). Either advancing means the
      // frame was derived from superseded contents — same retry contract
      // as the snapshot commits.
      morCasCheck(spark, fs, path, expectedState)
      val next = morPointer(spark, path).map(_._1 + 1).getOrElse(0L)
      commitMorBase(spark, fs, path, next, nextCommitNum(fs, path), df)
    }
  }

  /** Append one equality-delete file: `keys` (a single-column frame of
    * deleted key values) lands as `_deletes/d=<k>/` without touching a
    * byte of any base. The column is NORMALIZED to the name `key` at
    * write time (so no later read can silently ignore a delete file
    * over a name mismatch) and its type must match any delete file
    * already present (checked against one existing footer — a
    * type-mismatched append would otherwise null out and resurrect its
    * keys). The dir appears ATOMICALLY via write-to-tmp + rename, so a
    * lock-free reader never scans a half-written delete file. Monotone
    * global numbering under the maintenance lock; deleting an
    * already-deleted or absent key is a no-op at read time (anti-join
    * semantics), so retries are idempotent. Returns the file number.
    */
  def appendDeletes(spark: SparkSession, path: String, keys: DataFrame,
                    expectedState: Option[(Long, Long)] = None): Long = {
    import org.apache.hadoop.fs.Path
    require(keys.columns.length == 1,
      s"equality-delete frame must be single-column, got ${keys.columns.mkString(",")}")
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    withTableLock(fs, path) {
      require(morPointer(spark, path).nonEmpty,
        s"no committed merge-on-read base at $path — writeMorBase first")
      // same CAS as writeMorBase: a delete set computed against a view
      // another writer has since replaced or further deleted from must
      // not silently apply to the new state
      morCasCheck(spark, fs, path, expectedState)
      val next = nextCommitNum(fs, path)
      // type check against the newest EXISTING delete file (commit
      // numbers are shared with appends, so next-1 may be an append dir)
      morDirs(fs, path, "_deletes", "d=", 0L).lastOption.foreach { case (_, prev) =>
        val prevType = spark.read.parquet(prev).schema.head.dataType
        require(keys.schema.head.dataType == prevType,
          s"equality-delete key type ${keys.schema.head.dataType} does not " +
            s"match the table's existing delete files ($prevType)")
      }
      commitMorDir(fs, path, "_deletes", "d", next, keys.toDF("key"))
    }
  }

  /** APPEND rows to a merge-on-read table: `df` (schema must match the
    * base exactly — a drifted append would silently null out or fork
    * columns) lands as `_appends/a=<c>/` under the next shared commit
    * number, without touching a byte of any base or delete file. The
    * dir appears atomically (write-to-tmp + rename). ORDERING
    * SEMANTICS: appended rows are born at commit c, so only deletes
    * with a LATER commit number affect them — appending a key after
    * its delete resurrects it (the Iceberg sequence-number rule);
    * deletes already on file never reach forward. On indexed tables
    * the skipping manifests are rebuilt to cover the new files
    * (writer-pays, like every maintenance op). Returns the commit
    * number.
    */
  def appendMorRows(spark: SparkSession, path: String, df: DataFrame,
                    expectedState: Option[(Long, Long)] = None): Long = {
    import org.apache.hadoop.fs.Path
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    withTableLock(fs, path) {
      val (v, _) = morPointer(spark, path).getOrElse(throw new IllegalStateException(
        s"no committed merge-on-read base at $path — writeMorBase first"))
      morCasCheck(spark, fs, path, expectedState)
      val baseSchema = spark.read.parquet(s"$path/base_v=$v").schema
      require(df.schema.map(f => (f.name, f.dataType)) ==
          baseSchema.map(f => (f.name, f.dataType)),
        s"appendMorRows: schema mismatch — base has " +
          s"[${baseSchema.map(f => s"${f.name}: ${f.dataType.simpleString}").mkString(", ")}], " +
          s"append has [${df.schema.map(f => s"${f.name}: ${f.dataType.simpleString}").mkString(", ")}]")
      val next = commitMorDir(fs, path, "_appends", "a", nextCommitNum(fs, path), df)
      // the generation's file set grew — rebuild the skipping manifests
      // so indexed reads stay valid (absent index: no-op)
      GraftTable.reindexAuto(spark, path)
      next
    }
  }

  /** Commits are ONE dense global sequence from the fence up (every
    * number is exactly one append or delete dir), so a GAP in the
    * combined listing marks a commit that published between this
    * reader's two directory listings — clamping both lists to the
    * largest contiguous prefix restores a view that equals the logical
    * table at some single commit point (a lock-free reader racing
    * appendMorRows-then-appendDeletes must never apply delete commit c
    * while missing append commit c−1). Returns the horizon h: keep
    * commits <= h.
    */
  private[operators] def consistentHorizon(fence: Long, observed: Seq[Long]): Long = {
    val seen = observed.toSet
    var h = fence - 1
    while (seen.contains(h + 1)) h += 1
    h
  }

  /** Broadcast the delete-key frame only while its on-disk footprint is
    * inside `spark.graft.mor.deleteBroadcastBytes` (default 128 MiB —
    * comfortably driver-sized); above it, return the frame unhinted so
    * the join plans as a shuffle (sort-merge) join instead of an OOM.
    * The contract stays "compactDeletes keeps the delete set
    * broadcast-sized", but a caller who defers compaction past that now
    * gets a slower plan, not a dead driver. Size check is free: the
    * dirs were already listed, and content length is one FS call each.
    */
  private[operators] def maybeBroadcastDeletes(
      spark: SparkSession, fs: org.apache.hadoop.fs.FileSystem,
      dirs: Seq[(Long, String)], df: DataFrame): DataFrame = {
    val limit = spark.conf.getOption("spark.graft.mor.deleteBroadcastBytes")
      .map(_.toLong).getOrElse(128L * 1024 * 1024)
    val bytes = dirs.map { case (_, p) =>
      fs.getContentSummary(new org.apache.hadoop.fs.Path(p)).getLength
    }.sum
    if (bytes <= limit) org.apache.spark.sql.functions.broadcast(df) else df
  }

  /** The reconciled view at an optional commit horizon: base (which
    * folds every commit below the pointer's fence) plus live appends,
    * minus equality deletes under the SEQUENCE RULE — a delete at
    * commit c removes only rows born before c (base rows are born at
    * fence−1, appended rows at their commit number). The delete set is
    * broadcast with its commit number (size-guarded — see
    * [[maybeBroadcastDeletes]]), so the scan stays shuffle-free: one
    * hash-probe per row against (key, first-applicable-delete),
    * exactly how engine-native deletion vectors behave.
    */
  private def morReconciled(spark: SparkSession, path: String, keyCol: String,
                            upto: Long): DataFrame = {
    import org.apache.hadoop.fs.Path
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val (v, fence) = pointerOrRetry(path, "merge-on-read",
      () => morPointer(spark, path),
      () => fs.exists(new Path(path)) && fs.listStatus(new Path(path)).exists(st =>
        st.isDirectory && st.getPath.getName.startsWith("base_v=")))
    // explicit dir lists, not a `d=*` glob: the glob path trips Spark's
    // streaming-sink metadata probe into logging a spurious
    // FileNotFoundException stack per read
    val appDs0 = morDirs(fs, path, "_appends", "a=", fence, upto)
    val delDs0 = morDirs(fs, path, "_deletes", "d=", fence, upto)
    val h = consistentHorizon(fence, appDs0.map(_._1) ++ delDs0.map(_._1))
    val appDs = appDs0.filter(_._1 <= h)
    val delDs = delDs0.filter(_._1 <= h)
    val base = spark.read.parquet(s"$path/base_v=$v")
      .withColumn("__seq", lit(fence - 1))
    val rows = appDs.foldLeft(base) {
      case (acc, (c, p)) =>
        acc.unionByName(spark.read.parquet(p).withColumn("__seq", lit(c)))
    }
    val out =
      if (delDs.isEmpty) rows
      else {
        val keys = delDs.map { case (c, p) =>
          spark.read.parquet(p).toDF("key").withColumn("__dc", lit(c))
        }.reduce(_.unionByName(_))
        require(keys.schema.head.dataType == base.schema(keyCol).dataType,
          s"delete key type ${keys.schema.head.dataType} does not match base " +
            s"column $keyCol: ${base.schema(keyCol).dataType}")
        // per key only the EARLIEST live delete matters for any given
        // row generation; keep (key, commit) pairs distinct and probe
        // with the sequence condition — a broadcast hash join on the
        // key equality while the delete set is bounded, the range
        // condition rides as a post-probe filter inside the join
        val delKeys = maybeBroadcastDeletes(spark, fs, delDs, keys.distinct())
        rows.join(delKeys,
          rows(keyCol) === delKeys("key") && delKeys("__dc") > rows("__seq"),
          "left_anti")
      }
    out.drop("__seq")
  }

  /** The current reconciled view — see [[morReconciled]]. LOCK-FREE and
    * consistent (see the section comment): base, append, and delete
    * dirs are immutable once committed, the pointer resolves atomically,
    * and commit numbering is global — so this view equals the logical
    * table at list time even if a compaction commits mid-read. `keyCol`
    * names the base column equality deletes apply to; its type must
    * match the delete files' (loud error, never a silent null-out).
    */
  def readMergeOnRead(spark: SparkSession, path: String, keyCol: String): DataFrame =
    morReconciled(spark, path, keyCol, Long.MaxValue)

  /** Time-scoped read: the table as of commit `uptoC` (appends and
    * deletes with commit <= uptoC applied; base = "as of fence − 1").
    * Only commits at-or-above the current fence are replayable —
    * [[compactDeletes]] folds older ones into the base for good.
    */
  def readMorAsOf(spark: SparkSession, path: String, keyCol: String,
                  uptoC: Long): DataFrame = {
    val (_, fence) = morPointer(spark, path).getOrElse(throw new IllegalStateException(
      s"no committed merge-on-read base at $path"))
    require(uptoC >= fence - 1,
      s"commit $uptoC predates the pointer fence $fence — folded into the " +
        "base by compactDeletes, no longer replayable")
    morReconciled(spark, path, keyCol, uptoC)
  }

  /** The MERGE-ON-READ DERIVED CHANGE FEED — the CDC surface
    * [[readChangesBetween]] gives snapshot tables, derived here from
    * commit METADATA alone (no feed is ever stored): appends are
    * insert events at their commit; an equality-delete at commit c
    * emits one delete event — carrying the full row image — for every
    * row that was ALIVE just before c (born earlier, not yet deleted);
    * re-deletes and deletes of never-present keys emit nothing. Same
    * shape as the snapshot feed (data columns + `_change_type` +
    * `_commit_version`), so the CDF folds ([[cdfLatestChanges]],
    * signed counts) consume it unchanged. `includeBootstrap` adds the
    * base's rows as insert events at commit fence−1 (the bootstrap
    * pseudo-commit). Events range over commits (fromC..toC];
    * fromC >= fence−1 (earlier history is folded into the base).
    *
    * Cost: one join of the row universe against the delete-key sets —
    * broadcast while the delete set is inside the size guard
    * ([[maybeBroadcastDeletes]]), a shuffle join beyond it (delete
    * images require reading the rows they killed — the writer never
    * paid to record them, so the READER pays one scan; the snapshot
    * lineage makes the opposite trade).
    */
  /** The MoR row universe up to commit `toC` — base + appends, each row
    * stamped with its birth commit (`__seq`) and the commit of the FIRST
    * equality-delete after its birth (`__kill`, NULL when never deleted)
    * — the per-row lifetime record both the derived feed and the as-of
    * sigs read off. One broadcast-guarded probe of the delete-key lists
    * ([[maybeBroadcastDeletes]]); `keepAll=false` keeps only rows that
    * ever die (an INNER probe — the feed's delete-image path needs
    * nothing else and drops never-deleted rows at the join), while
    * `keepAll=true` keeps the full universe (LEFT probe) so a consumer
    * can evaluate liveness at ANY commit in one pass instead of one
    * reconciliation scan per version.
    */
  private[graft] def morUniverseWithKill(spark: SparkSession, path: String,
                                         keyCol: String, toC: Long,
                                         keepAll: Boolean = false): DataFrame = {
    import org.apache.hadoop.fs.Path
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val (v, fence) = morPointer(spark, path).getOrElse(throw new IllegalStateException(
      s"no committed merge-on-read base at $path"))
    val base = spark.read.parquet(s"$path/base_v=$v")
    val rows = morDirs(fs, path, "_appends", "a=", fence, toC).foldLeft(
      base.withColumn("__seq", lit(fence - 1))) { case (acc, (c, p)) =>
      acc.unionByName(spark.read.parquet(p).withColumn("__seq", lit(c)))
    }
    val delDs = morDirs(fs, path, "_deletes", "d=", fence, toC)
    if (delDs.isEmpty) {
      if (keepAll) rows.withColumn("__kill", lit(null).cast("long"))
      else rows.limit(0).withColumn("__kill", lit(null).cast("long"))
    } else {
      val keys = delDs.map { case (c, p) =>
        spark.read.parquet(p).toDF("key").withColumn("__dc", lit(c))
      }.reduce(_.unionByName(_)).distinct()
      // per key: the ascending list of delete commits (tiny — a key is
      // rarely deleted twice); per row: the FIRST delete after its
      // birth is the killing commit, if any
      val perKey = maybeBroadcastDeletes(spark, fs, delDs,
        keys.groupBy("key")
          .agg(sort_array(collect_list(col("__dc"))).as("__dcs")))
      rows.join(perKey, rows(keyCol) === perKey("key"),
          if (keepAll) "left" else "inner")
        .withColumn("__kill",
          // get(), not getItem: ANSI mode throws on index-into-empty
          // (a row never deleted has an empty filtered list — NULL)
          get(filter(col("__dcs"), dc => dc > col("__seq")), lit(0)))
        .drop("key", "__dcs")
    }
  }

  def morChangesBetween(spark: SparkSession, path: String, keyCol: String,
                        fromC: Long, toC: Long,
                        includeBootstrap: Boolean = false): DataFrame = {
    import org.apache.hadoop.fs.Path
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val (v, fence) = morPointer(spark, path).getOrElse(throw new IllegalStateException(
      s"no committed merge-on-read base at $path"))
    require(fromC < toC, s"morChangesBetween needs fromC < toC, got $fromC..$toC")
    require(fromC >= fence - 1,
      s"commits at-or-below ${fence - 1} are folded into base_v=$v by " +
        s"compactDeletes; anchor the read at ${fence - 1} or later")
    require(toC < nextCommitNum(fs, path),
      s"commit $toC not committed yet")
    val base = spark.read.parquet(s"$path/base_v=$v")
    val dataCols = base.columns.toIndexedSeq
    val delDs = morDirs(fs, path, "_deletes", "d=", fence, toC)
    val deletes =
      if (delDs.isEmpty) base.limit(0)
        .withColumn("_change_type", lit("delete"))
        .withColumn("_commit_version", lit(null).cast("long"))
      else
        morUniverseWithKill(spark, path, keyCol, toC)
          .filter(col("__kill").isNotNull &&
            col("__kill") > lit(fromC) && col("__kill") <= lit(toC))
          .select((dataCols.map(col) :+
            lit("delete").as("_change_type") :+
            col("__kill").as("_commit_version")): _*)
    val inserts = morDirs(fs, path, "_appends", "a=", fence, toC)
      .filter { case (c, _) => c > fromC }
      .map { case (c, p) =>
        spark.read.parquet(p)
          .withColumn("_change_type", lit("insert"))
          .withColumn("_commit_version", lit(c))
      }
    val bootstrap =
      if (includeBootstrap) {
        require(fromC == fence - 1,
          "includeBootstrap only composes with a read anchored at the base " +
            s"(fromC = ${fence - 1})")
        Seq(base.withColumn("_change_type", lit("insert"))
          .withColumn("_commit_version", lit(fence - 1)))
      } else Nil
    (bootstrap ++ inserts :+ deletes).reduce(_.unionByName(_))
  }

  /** Fold the accumulated deletes AND appends into a NEW base
    * generation (the periodic rewrite that keeps the read-side delete
    * set broadcast-sized and the append dir list short): write
    * `base_v=<n+1>` as the reconciled view, then atomically advance
    * the pointer fence past every folded commit. Nothing is deleted
    * here — superseded dirs stay until [[vacuumMor]] — so in-flight
    * lock-free readers keep their consistent view. NOTE: folding
    * collapses commit history below the fence, so
    * [[morChangesBetween]]/[[readMorAsOf]] can no longer replay it —
    * derive feeds BEFORE compacting, or compact on the consumer's
    * cursor cadence (the same discipline as vacuuming snapshot CDF
    * feeds).
    */
  def compactDeletes(spark: SparkSession, path: String, keyCol: String): Unit = {
    import org.apache.hadoop.fs.Path
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    withTableLock(fs, path) {
      val (v, hwm) = morPointer(spark, path).getOrElse(throw new IllegalStateException(
        s"no committed merge-on-read base at $path"))
      val maxD = nextCommitNum(fs, path) - 1
      if (maxD >= hwm)
        commitMorBase(spark, fs, path, v + 1, maxD + 1, readMergeOnRead(spark, path, keyCol))
    }
  }

  /** Drop superseded base generations (every `base_v=` dir except the
    * pointer's, including crashed writers' above-pointer leftovers) and
    * folded delete files (d < hwm). Readers pinned to a vacuumed
    * generation fail loudly on file-not-found — Delta's contract, same
    * as [[vacuumSnapshots]]. Returns (base versions, delete numbers)
    * dropped.
    */
  def vacuumMor(spark: SparkSession, path: String): (Seq[Long], Seq[Long]) = {
    import org.apache.hadoop.fs.Path
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    withTableLock(fs, path) {
      val (v, hwm) = morPointer(spark, path).getOrElse(throw new IllegalStateException(
        s"no committed merge-on-read base at $path"))
      val baseVictims = numberedDirs(fs, new Path(path), "base_v=").map(_._1).filter(_ != v)
      // superseded generations take their skipping manifests with them
      // (auto re-index writes `_index/base_v=<n>` per generation on
      // indexed tables) — same no-orphaned-metadata rule as
      // vacuumSnapshots
      baseVictims.foreach { b =>
        fs.delete(new Path(s"$path/base_v=$b"), true)
        fs.delete(new Path(s"$path/_index/base_v=$b"), true)
      }
      val delVictims = numberedDirs(fs, new Path(path, "_deletes"), "d=").filter(_._1 < hwm)
      delVictims.foreach(d => fs.delete(d._2, true))
      // appends below the fence were folded into the pointer's base by
      // compactDeletes — same superseded-dir rule as folded delete files
      numberedDirs(fs, new Path(path, "_appends"), "a=").filter(_._1 < hwm)
        .foreach(a => fs.delete(a._2, true))
      (baseVictims, delVictims.map(_._1))
    }
  }

  /** Incremental partition-level AGGREGATE maintenance — the
    * materialized pre-agg (summary table) counterpart of
    * [[mergeParquet]]'s row-level merge. The summary table at `path`
    * holds `partCol, keyCols…, cnt, sumCols…` (counts and BIGINT sums —
    * the self-mergeable aggregates: partials of a partition combine
    * with delta partials by addition, so maintenance never needs the
    * raw history). A refresh:
    *
    *   1. pre-aggregates the delta (map-side partial + one shuffle on
    *      the grouping keys — O(delta));
    *   2. reads ONLY the summary partitions the delta touches
    *      (partition pruning via the collected touched-value set,
    *      O(touched partitions) at the driver like mergeParquet);
    *   3. re-sums base ∪ delta partials and swaps just those leaf
    *      dirs — untouched partitions keep their files byte-for-byte.
    *
    * This is the 100 TB shape for dashboard/gold aggregate refresh: the
    * reference recomputes gold aggregates from the full silver scan on
    * every run; here a daily delta costs O(delta + touched partitions)
    * regardless of table history. Same lock, temp-dir write-then-swap,
    * and crash-granularity contract as [[mergeParquet]]. AVG and other
    * algebraic aggregates derive from (sum, cnt) at read time;
    * non-algebraic ones (exact distinct) need a different structure
    * (sketches — see the HLL/quantile queries) and are out of scope
    * here by design.
    */
  def refreshAggregate(spark: SparkSession, path: String, delta: DataFrame,
                       partCol: String, keyCols: Seq[String],
                       sumCols: Seq[String]): Unit = {
    import org.apache.hadoop.fs.Path
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val src = fs.makeQualified(new Path(path))
    val dims = (partCol +: keyCols).map(col)
    def partials(df: DataFrame, cntExpr: Column): DataFrame =
      df.groupBy(dims: _*).agg(
        cntExpr.cast("long").as("cnt"),
        sumCols.map(c => sum(col(c)).cast("long").as(c)): _*)
    val deltaAgg = partials(delta, count(lit(1)))
    withTableLock(fs, path) {
      if (!fs.exists(src)) {
        deltaAgg.write.mode(SaveMode.ErrorIfExists).partitionBy(partCol)
          .parquet(src.toString)
        return
      }
      val touched = deltaAgg.select(col(partCol)).distinct().collect().map(_.get(0))
      require(touched.nonEmpty, "refreshAggregate: delta is empty")
      val base = spark.read.parquet(path).filter(touchedPred(col(partCol), touched.toIndexedSeq))
      // re-sum partials: base cnt/sums are already aggregates, so the
      // combined count is sum(cnt), not count(*)
      val merged = partials(base.unionByName(deltaAgg), sum(col("cnt")))
      val tmp = new Path(path + "__agg_tmp")
      fs.delete(tmp, true)
      merged.write.mode(SaveMode.Overwrite).partitionBy(partCol).parquet(tmp.toString)
      val written = fs.listStatus(tmp)
        .filter(s => s.isDirectory && s.getPath.getName.startsWith(s"$partCol="))
      written.foreach(s => swapDir(fs, s.getPath, new Path(src, s.getPath.getName), "__agg_bak"))
      fs.delete(tmp, true); ()
    }
  }
}
