package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import graft.operators.{Relational, Scale}

class ScaleSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  test("saltedJoin returns exactly the plain join's rows") {
    // one hot key (90% of rows) + uniform tail
    val big = (1 to 2000).map(i => (if (i % 10 != 0) 1 else i % 50, i)).toDF("k", "v")
    val small = (0 until 50).map(k => (k, s"dim$k")).toDF("k", "name")
    val plain = big.join(small, Seq("k"), "inner")
      .select("k", "v", "name").collect().map(_.toSeq).toSeq.sortBy(_.toString)
    val salted = Scale.saltedJoin(big, small, Seq("k"), salt = 8)
      .select("k", "v", "name").collect().map(_.toSeq).toSeq.sortBy(_.toString)
    assert(salted == plain)
  }

  test("bloomPruneJoin equals the plain join and shuffles strictly fewer rows") {
    // 20k big rows over 5k keys; small side holds 100 of those keys, so
    // ~2% of big survives the probe (+ ~fpp false positives) — the rest
    // must never reach the shuffle
    val big = (1 to 20000).map(i => (i.toLong % 5000, i)).toDF("k", "v")
    val small = (0 until 5000 by 50).map(k => (k.toLong, s"dim$k")).toDF("k", "name")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    // force a shuffle join so shuffled-row counts are the observable
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      def shuffledRows(df: org.apache.spark.sql.DataFrame): (Long, Set[Seq[Any]]) = {
        val rows = df.collect().map(_.toSeq).toSet
        val written = collect(df.queryExecution.executedPlan) {
          case e: ShuffleExchangeExec => e.metrics("shuffleRecordsWritten").value
        }.sum
        (written, rows)
      }
      val (plainShuffled, plainRows) =
        shuffledRows(big.join(small, Seq("k"), "inner").select("k", "v", "name"))
      val (prunedShuffled, prunedRows) =
        shuffledRows(Scale.bloomPruneJoin(big, small, "k").select("k", "v", "name"))
      assert(prunedRows == plainRows, "bloom-pruned join changed the result")
      assert(plainShuffled >= 20000L, s"plain join should shuffle the full big side, saw $plainShuffled")
      assert(prunedShuffled < plainShuffled / 10,
        s"bloom probe did not prune before the shuffle: $prunedShuffled vs $plainShuffled")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("bloomPruneJoin: null keys, left_semi, and outer-join refusal") {
    val big = Seq((Some(1L), "a"), (Some(2L), "b"), (None, "c"), (Some(9L), "d"))
      .toDF("k", "v")
    val small = Seq((1L, "x"), (3L, "y")).toDF("k", "name")
    // null big keys never equi-join; the probe dropping them is invisible
    val inner = Scale.bloomPruneJoin(big, small, "k")
      .select("k", "v", "name").collect().map(_.toSeq).toSet
    assert(inner == Set(Seq(1L, "a", "x")))
    val semi = Scale.bloomPruneJoin(big, small, "k", joinType = "left_semi")
      .select("k", "v").collect().map(_.toSeq).toSet
    assert(semi == Set(Seq(1L, "a")))
    val e = intercept[IllegalArgumentException] {
      Scale.bloomPruneJoin(big, small, "k", joinType = "left_outer")
    }
    assert(e.getMessage.contains("inner/left_semi"))
  }

  test("bloomPruneJoin on string keys: xxhash64 normalization, result identical, shuffle pruned") {
    // dedup-by-URL shape: string keys hash to the putLong domain on both
    // sides; collisions only add false positives, removed by the exact join
    val big = (1 to 20000).map(i => (s"https://host/page-${i % 5000}", i)).toDF("url", "v")
    val small = (0 until 5000 by 50).map(k => (s"https://host/page-$k", s"d$k")).toDF("url", "name")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      def shuffledRows(df: org.apache.spark.sql.DataFrame): (Long, Set[Seq[Any]]) = {
        val rows = df.collect().map(_.toSeq).toSet
        val written = collect(df.queryExecution.executedPlan) {
          case e: ShuffleExchangeExec => e.metrics("shuffleRecordsWritten").value
        }.sum
        (written, rows)
      }
      val (plainShuffled, plainRows) =
        shuffledRows(big.join(small, Seq("url"), "inner").select("url", "v", "name"))
      val (prunedShuffled, prunedRows) =
        shuffledRows(Scale.bloomPruneJoin(big, small, "url").select("url", "v", "name"))
      assert(prunedRows == plainRows, "string-key bloom join changed the result")
      assert(prunedShuffled < plainShuffled / 10,
        s"string-key probe did not prune before the shuffle: $prunedShuffled vs $plainShuffled")
      // null string keys hash to a non-null constant but can never join:
      // result must still match the plain join exactly
      val bigN = Seq((Some("a"), 1), (None, 2), (Some("zz"), 3)).toDF("url", "v")
      val smallN = Seq(("a", "x")).toDF("url", "name")
      assert(Scale.bloomPruneJoin(bigN, smallN, "url").collect().map(_.toSeq).toSet ==
        bigN.join(smallN, Seq("url"), "inner").collect().map(_.toSeq).toSet)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("rangeJoin equals the naive inequality join without its nested-loop plan") {
    // pseudo-random points/intervals spanning negatives, boundary hits
    // (p == lo is in, p == hi is out), and bin-straddling spans
    val points = (0 until 3000)
      .map(i => ((i * 2654435761L % 10000) - 2000, i)).toDF("p", "pid")
    val intervals = (0 until 60).map { i =>
      val lo = (i * 40503L % 9000) - 2000
      (lo, lo + 1 + i * 7 % 500, i)
    }.toDF("lo", "hi", "iid")
    val naive = points.join(intervals,
      col("p") >= col("lo") && col("p") < col("hi"))
    val binned = Scale.rangeJoin(points, "p", intervals, "lo", "hi", binSize = 128)
    assert(binned.select("pid", "iid").collect().map(_.toSeq).toSet ==
      naive.select("pid", "iid").collect().map(_.toSeq).toSet)
    // the naive plan is a nested loop / cartesian; the binned one must not be
    import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
    import org.apache.spark.sql.execution.joins.CartesianProductExec
    naive.collect(); binned.collect()
    def loops(df: org.apache.spark.sql.DataFrame) =
      collect(df.queryExecution.executedPlan) {
        case e: BroadcastNestedLoopJoinExec => e
        case e: CartesianProductExec => e
      }
    assert(loops(naive).nonEmpty, "expected the inequality join to plan as a nested loop")
    assert(loops(binned).isEmpty,
      s"binned range join still nested-loops:\n${binned.queryExecution.executedPlan.toString.take(800)}")
  }

  test("saltedSum equals plain aggregation") {
    val df = (1 to 5000).map(i => (i % 3, i.toLong)).toDF("k", "v")
    val plain = df.groupBy("k").agg(sum("v").as("sum"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSet
    val salted = Scale.saltedSum(df, Seq("k"), "v", salt = 16)
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSet
    assert(salted == plain)
  }

  test("merge-on-read: append-only deletes reconcile at read; compaction folds them in") {
    val dir = java.nio.file.Files.createTempDirectory("graft_mor").toString + "/t"
    val df = (1L to 100L).map(i => (i, s"row$i")).toDF("id", "v")
    Scale.writeMorBase(spark, dir, df)
    // no deletes yet: the reconciled view IS the base
    assert(Scale.readMergeOnRead(spark, dir, "id").count() == 100)
    // two delete files, overlapping (ids 1-10, then evens 2-40): the
    // overlap (2,4,6,8,10) must collapse, not double-apply
    assert(Scale.appendDeletes(spark, dir, (1L to 10L).toDF("id")) == 0L)
    assert(Scale.appendDeletes(spark, dir,
      (1L to 20L).map(_ * 2).toDF("id")) == 1L)
    val expect = (1L to 100L).filterNot(i => i <= 10 || (i % 2 == 0 && i <= 40)).toSet
    def ids() = Scale.readMergeOnRead(spark, dir, "id")
      .select("id").collect().map(_.getLong(0)).toSet
    assert(ids() == expect, "reconciled view must be base minus the delete union")
    // base files untouched by the deletes (the whole point)
    assert(spark.read.parquet(s"$dir/base_v=0").count() == 100)
    // compaction folds deletes into a NEW base generation; the pointer
    // advances, the reconciled view is unchanged and now materialized,
    // and the superseded dirs survive until vacuum (pinned readers).
    // Index first: the new generation must inherit the spec, and vacuum
    // must later sweep the superseded generation's manifests with it
    graft.operators.GraftTable.buildIndex(spark, dir, zoneCols = Seq("id"))
    Scale.compactDeletes(spark, dir, "id")
    assert(new java.io.File(s"$dir/_index/base_v=1").isDirectory,
      "compacted generation must inherit the skipping spec")
    assert(Scale.morPointer(spark, dir).contains((1L, 2L)))
    assert(ids() == expect, "compaction must preserve the reconciled view")
    assert(spark.read.parquet(s"$dir/base_v=1").count() == expect.size,
      "deleted rows must be physically gone in the compacted generation")
    assert(new java.io.File(s"$dir/base_v=0").exists,
      "superseded base must survive until vacuum")
    // delete numbering is GLOBAL (never resets) — that's what makes the
    // pointer's hwm fence sufficient for lock-free readers
    assert(Scale.appendDeletes(spark, dir, Seq(99L).toDF("id")) == 2L)
    assert(ids() == expect - 99L)
    // deleting an absent key is a read-time no-op (idempotent retries)
    Scale.appendDeletes(spark, dir, Seq(12345L).toDF("id"))
    assert(ids() == expect - 99L)
    // a type-mismatched delete append fails LOUDLY, not as silent nulls
    intercept[IllegalArgumentException] {
      Scale.appendDeletes(spark, dir, Seq("oops").toDF("id"))
    }
    // vacuum drops the superseded generation and folded delete files
    val (bGone, dGone) = Scale.vacuumMor(spark, dir)
    assert(bGone == Seq(0L) && dGone == Seq(0L, 1L))
    assert(!new java.io.File(s"$dir/base_v=0").exists)
    // metadata goes with the generation: no orphaned manifest trees
    assert(!new java.io.File(s"$dir/_index/base_v=0").exists)
    assert(new java.io.File(s"$dir/_index/base_v=1").isDirectory)
    assert(ids() == expect - 99L, "vacuum must not change the live view")
  }

  test("merge-on-read: lock-free readers always see a committed, consistent view under a concurrent writer") {
    // The protocol's concurrency claim, exercised for real: one writer
    // thread runs a deterministic op sequence (append / append / compact
    // / append / compact / append) while reader threads hammer
    // readMergeOnRead with NO lock. Ops serialize under the table lock,
    // so the table passes through a known chain of logical states
    // S0..Sn; every read must equal EXACTLY one of them — a torn view
    // (half a delete file, a mixed base generation, a vanished base) is
    // an automatic failure, as is any FileNotFoundException. Seeded
    // deterministic op data so the expected-state chain is precomputed.
    val dir = java.nio.file.Files.createTempDirectory("graft_mor_conc").toString + "/t"
    val all = (1L to 400L)
    Scale.writeMorBase(spark, dir, all.map(i => (i, s"r$i")).toDF("id", "v"))
    val batches: Seq[Seq[Long]] = Seq(
      (1L to 40L), (30L to 90L), (80L to 160L), (150L to 260L)).map(_.toSeq)
    // expected logical states: cumulative delete prefixes (compaction
    // never changes the logical view, so only appends add states)
    val states: Seq[Set[Long]] = batches.scanLeft(Set.empty[Long])(_ ++ _)
      .map(dels => all.toSet -- dels)
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val readers = (1 to 3).map { _ =>
      new Thread(() => {
        try {
          while (!stop.get()) {
            val seen = Scale.readMergeOnRead(spark, dir, "id")
              .select("id").collect().map(_.getLong(0)).toSet
            if (!states.contains(seen))
              failures.add(s"torn view: ${seen.size} rows, not any committed state " +
                s"(sizes ${states.map(_.size)})")
          }
        } catch { case e: Throwable => failures.add(s"reader threw: $e") }
      })
    }
    readers.foreach(_.start())
    try {
      for ((b, i) <- batches.zipWithIndex) {
        Scale.appendDeletes(spark, dir, b.toDF("id"))
        if (i % 2 == 1) Scale.compactDeletes(spark, dir, "id")
      }
      // let readers observe the final state a little longer
      Thread.sleep(300)
    } finally { stop.set(true); readers.foreach(_.join(30000)) }
    assert(failures.isEmpty, s"concurrent-read violations: ${failures.toArray.take(3).mkString(" | ")}")
    val finalIds = Scale.readMergeOnRead(spark, dir, "id")
      .select("id").collect().map(_.getLong(0)).toSet
    assert(finalIds == states.last)
  }

  test("compactParquet rewrites many small files into few, content identical") {
    val dir = java.nio.file.Files.createTempDirectory("graft_compact").toString + "/t"
    val df = (1 to 10000).map(i => (i.toLong, s"row$i")).toDF("id", "v")
    df.repartition(40).write.parquet(dir)
    val before = new java.io.File(dir).listFiles().count(_.getName.endsWith(".parquet"))
    assert(before == 40)
    val after = Scale.compactParquet(spark, dir, targetBytes = 1L << 30)
    assert(after == 1, s"expected 1 file, got $after")
    val back = spark.read.parquet(dir)
    assert(back.count() == 10000)
    assert(back.agg(sum("id")).head().getLong(0) == 10000L * 10001 / 2)
  }

  test("compactParquet preserves hive partition layout, content, and pruning") {
    val base = java.nio.file.Files.createTempDirectory("graft_compact_p").toString + "/t"
    val orders = spark.read.parquet(s"$sf001/orders.parquet")
      .withColumn("order_month", date_format(col("o_orderdate"), "yyyy-MM"))
    orders.repartition(6).write.partitionBy("order_month").parquet(base)
    def partDirs = new java.io.File(base).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("order_month="))
      .map(_.getName).toSet
    def countFiles(f: java.io.File): Int =
      if (f.isDirectory) f.listFiles().map(countFiles).sum
      else if (f.getName.endsWith(".parquet")) 1 else 0
    val partsBefore = partDirs
    val filesBefore = countFiles(new java.io.File(base))
    assert(filesBefore > partsBefore.size, "setup should leave multiple files per partition")
    val beforeAgg = spark.read.parquet(base)
      .agg(count(lit(1)), sum("o_orderkey")).head()
    val after = Scale.compactParquet(spark, base, targetBytes = 1L << 30)
    assert(partDirs == partsBefore, "partition directories changed by compaction")
    assert(after == partsBefore.size,
      s"expected 1 file per partition (${partsBefore.size}), got $after")
    val back = spark.read.parquet(base)
    val afterAgg = back.agg(count(lit(1)), sum("o_orderkey")).head()
    assert(afterAgg == beforeAgg, "row content changed by compaction")
    // partition pruning must survive the rewrite
    val month = partsBefore.head.stripPrefix("order_month=")
    val filtered = back.filter(col("order_month") === month)
    filtered.collect()
    val scans = filtered.queryExecution.executedPlan.collect {
      case sc: org.apache.spark.sql.execution.FileSourceScanExec => sc
    }
    assert(scans.nonEmpty && scans.head.selectedPartitions.partitionCount == 1,
      s"month filter no longer prunes after compaction:\n${filtered.queryExecution.executedPlan.toString.take(1200)}")
  }

  test("compactParquet with a partition-column zone index: no crash, partition cols dropped from clustering") {
    // buildIndex on a Hive PARTITION column is legal (zoneMap reads the
    // root with partition discovery), but the per-leaf compact read has
    // no such column — it lives in the dir name and is constant within a
    // leaf, so the rewrite must drop it from the cluster spec instead of
    // throwing UNRESOLVED_COLUMN (regression: round-17 clustered rewrite)
    val base = java.nio.file.Files.createTempDirectory("graft_compact_pc").toString + "/t"
    (1 to 3000).map(i => (i.toLong, (i % 3).toLong)).toDF("v", "k")
      .repartition(4).write.partitionBy("k").parquet(base)
    graft.operators.GraftTable.buildIndex(spark, base, zoneCols = Seq("k", "v"))
    val n = Scale.compactParquet(spark, base, targetBytes = 1L << 30)
    assert(n == 3, s"expected 1 file per partition, got $n")
    val back = spark.read.parquet(base)
    assert(back.count() == 3000 &&
      back.agg(sum("v")).head().getLong(0) == 3000L * 3001 / 2)
    // partition pruning (the layout's own skipping) still fires
    val one = back.filter(col("k") === 1)
    one.collect()
    val scans = one.queryExecution.executedPlan.collect {
      case sc: org.apache.spark.sql.execution.FileSourceScanExec => sc
    }
    assert(scans.nonEmpty && scans.head.selectedPartitions.partitionCount == 1)
  }

  test("compactParquet re-interleaves a multi-column z-order spec; both dimensions keep skipping") {
    // lexicographic repartitionByRange(a, b) would keep only `a` tight
    // and smear `b` across its full range — the rewrite must go back
    // through the Morton interleave for a multi-dim integral spec
    val base = java.nio.file.Files.createTempDirectory("graft_compact_z").toString + "/t"
    val n = 64 * 64
    val df = spark.range(n).select(
      (col("id") / 64).cast("long").as("a"),
      (col("id") % 64).cast("long").as("b"))
    Scale.zOrderByN(df, Seq("a", "b"), numFiles = 16).write.parquet(base)
    graft.operators.GraftTable.buildIndex(spark, base, zoneCols = Seq("a", "b"))
    // fragment it (5 small files per z-slice would be realistic; the
    // simple shape below still forces a full clustered rewrite)
    Scale.compactParquet(spark, base, targetBytes = 2048L)
    def pruned(c: String): (Long, Long) = {
      val d = graft.operators.GraftTable.read(spark, base)
        .filter(col(c).between(0, 7))
      assert(d.count() == 8L * 64)
      graft.operators.GraftTable.scanFiles(d)
    }
    val (ra, ta) = pruned("a")
    val (rb, tb) = pruned("b")
    assert(ta >= 4 && ra < ta, s"dimension a stopped skipping: $ra of $ta")
    assert(tb >= 4 && rb < tb,
      s"dimension b stopped skipping after compaction (lexicographic smear): $rb of $tb")
  }

  test("writeSnapshotCdf rejects a plain-committed predecessor with duplicate keys, skips the rescan on a CDF one") {
    val t = java.nio.file.Files.createTempDirectory("graft_cdf_mix").toString + "/t"
    // v=0 via plain writeSnapshot WITH a duplicate key — legal at its
    // own commit (plain snapshots have no key contract)
    Scale.writeSnapshot(spark, t,
      Seq((1L, "a"), (1L, "b"), (2L, "c")).toDF("k", "s"))
    // the CDF commit must verify the predecessor and refuse: a dup key
    // there would fan out the full-outer diff into a silently-wrong feed
    val e = intercept[IllegalArgumentException] {
      Scale.writeSnapshotCdf(spark, t,
        Seq((1L, "a"), (2L, "c")).toDF("k", "s"), "k")
    }
    assert(e.getMessage.contains("previous version"))
    // all-CDF chain: predecessors were verified at THEIR commits, the
    // O(prev) rescan is skipped (contract documented; behavior here just
    // proves the chain commits and diffs stay exact)
    val t2 = java.nio.file.Files.createTempDirectory("graft_cdf_chain").toString + "/t"
    Scale.writeSnapshotCdf(spark, t2, Seq((1L, "a"), (2L, "b")).toDF("k", "s"), "k")
    Scale.writeSnapshotCdf(spark, t2, Seq((1L, "a2"), (3L, "c")).toDF("k", "s"), "k")
    val feed = Scale.readChangesBetween(spark, t2, 0L, 1L)
    val byType = feed.groupBy("_change_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byType == Map("insert" -> 1L, "delete" -> 1L,
      "update_preimage" -> 1L, "update_postimage" -> 1L), s"got $byType")
  }

  test("writeSnapshotCdf additive schema evolution: adds null-pad the diff, drops/retypes fail loudly") {
    val t = java.nio.file.Files.createTempDirectory("graft_cdf_evo").toString + "/t"
    Scale.writeSnapshotCdf(spark, t, Seq((1L, "a"), (2L, "b")).toDF("k", "s"), "k")
    // v1 ADDS column q, non-null for k=1 only: the null-padded preimage
    // differs for k=1 alone, so the feed records exactly that update —
    // k=2's (2,"b",null) == (2,"b",null) must NOT fan into the feed
    // (struct comparison is null-safe per field)
    Scale.writeSnapshotCdf(spark, t,
      Seq((1L, "a", Some(5L)), (2L, "b", Option.empty[Long])).toDF("k", "s", "q"), "k")
    val feed = Scale.readChangesBetween(spark, t, 0L, 1L)
    val byType = feed.groupBy("_change_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byType == Map("update_preimage" -> 1L, "update_postimage" -> 1L),
      s"only k=1's null->5 transition may record: $byType")
    assert(feed.filter(col("_change_type") === "update_preimage")
      .select("q").head().isNullAt(0), "the preimage predates the column")
    // the widened read: v0's 2-column feed unions with v1's 3-column one
    val span = Scale.readChangesBetween(spark, t, -1L, 1L)
    assert(span.filter(col("_change_type") === "insert")
      .select("q").collect().forall(_.isNullAt(0)),
      "pre-evolution feed rows must surface with NULL for the new column")
    // drops and retypes stay loud
    val eDrop = intercept[IllegalArgumentException] {
      Scale.writeSnapshotCdf(spark, t, Seq((1L, "a")).toDF("k", "s"), "k")
    }
    assert(eDrop.getMessage.contains("drops column"))
    val eType = intercept[IllegalArgumentException] {
      Scale.writeSnapshotCdf(spark, t,
        Seq((1L, "a", 1.5)).toDF("k", "s", "q"), "k")
    }
    assert(eType.getMessage.contains("retyped"))
  }

  test("compactParquet refuses a mixed layout instead of dropping stray files") {
    val base = java.nio.file.Files.createTempDirectory("graft_compact_mix").toString + "/t"
    val df = (1 to 100).map(i => (i, i % 3)).toDF("v", "k")
    df.write.partitionBy("k").parquet(base)
    // a data file sitting NEXT TO the partition dirs — the rename swap
    // would silently drop it, so compaction must refuse up front
    df.limit(5).drop("k").write.parquet(s"$base/__stray_tmp")
    val strayFile = new java.io.File(s"$base/__stray_tmp").listFiles()
      .find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.move(strayFile.toPath,
      java.nio.file.Paths.get(s"$base/stray.parquet"))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(s"$base/__stray_tmp"))
    val e = intercept[IllegalArgumentException] {
      Scale.compactParquet(spark, base)
    }
    assert(e.getMessage.contains("mixed layout"))
    // nothing was swapped: the stray file and all partition dirs survive
    assert(new java.io.File(s"$base/stray.parquet").exists())
    assert(new java.io.File(base).listFiles().count(_.getName.startsWith("k=")) == 3)
  }

  test("compactParquet preserves an empty leaf partition dir") {
    val base = java.nio.file.Files.createTempDirectory("graft_compact_e").toString + "/t"
    (1 to 100).map(i => (i, i % 3)).toDF("v", "k")
      .write.partitionBy("k").parquet(base)
    // an empty partition (e.g. all rows deleted, _SUCCESS-only) must not
    // abort compaction nor vanish from the swapped tree
    assert(new java.io.File(s"$base/k=99").mkdir())
    val n = Scale.compactParquet(spark, base, targetBytes = 1L << 30)
    assert(n == 3, s"expected 3 data files, got $n")
    assert(new java.io.File(s"$base/k=99").isDirectory, "empty partition dir dropped")
    assert(spark.read.parquet(base).count() == 100)
  }

  test("mergeParquet rewrites only touched partitions; untouched files stay in place") {
    val base = java.nio.file.Files.createTempDirectory("graft_merge").toString + "/t"
    val rows = (1 to 300).map(i => (i.toLong, 1L, s"v1-$i", i % 3))
      .toDF("k", "version", "payload", "part")
    rows.write.partitionBy("part").parquet(base)
    def files(part: Int) = new java.io.File(s"$base/part=$part").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getName).toSet
    val untouched1 = files(1)
    val untouched2 = files(2)
    // updates: newer versions for 2 keys in part=0, a brand-new key in
    // part=0, and an entirely new partition part=3
    val updates = Seq(
      (3L, 2L, "v2-3", 0), (6L, 2L, "v2-6", 0), (1000L, 1L, "new", 0),
      (2000L, 1L, "p3", 3)).toDF("k", "version", "payload", "part")
    Scale.mergeParquet(spark, base, updates, Seq("k"),
      Seq(col("version").desc), partitionCol = Some("part"))
    val back = spark.read.parquet(base)
    // content equals a full-table upsert of the same updates
    val expected = graft.operators.Relational.upsert(rows, updates, Seq("k"),
      Seq(col("version").desc))
      .select("k", "version", "payload", "part")
      .collect().map(_.toSeq).toSet
    val got = back.select("k", "version", "payload", "part")
      .collect().map(_.toSeq).toSet
    assert(got == expected)
    assert(back.filter(col("k") === 3L).head().getLong(1) == 2L) // new version won
    // incremental proof: untouched partitions were not rewritten
    assert(files(1) == untouched1 && files(2) == untouched2,
      "untouched partition files were rewritten")
    assert(new java.io.File(s"$base/part=3").isDirectory, "new partition not created")
  }

  test("mergeParquet merges a NULL partition value instead of replacing it") {
    val base = java.nio.file.Files.createTempDirectory("graft_merge_n").toString + "/t"
    // part=null lands in __HIVE_DEFAULT_PARTITION__; isin() alone would
    // never match it and its old rows would be dropped, not merged
    val rows = Seq((1L, 1L, "a", Some(0)), (2L, 1L, "b", Some(1)),
      (3L, 1L, "c", None), (4L, 1L, "d", None))
      .toDF("k", "version", "payload", "part")
    rows.write.partitionBy("part").parquet(base)
    val p1Before = new java.io.File(s"$base/part=1").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getName).toSet
    val updates = Seq((3L, 2L, "c2", None), (1L, 2L, "a2", Some(0)))
      .toDF("k", "version", "payload", "part")
    Scale.mergeParquet(spark, base, updates, Seq("k"),
      Seq(col("version").desc), partitionCol = Some("part"))
    val got = spark.read.parquet(base).select("k", "version", "payload")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(got == Set((1L, 2L, "a2"), (2L, 1L, "b"), (3L, 2L, "c2"), (4L, 1L, "d")),
      s"null-partition rows mishandled: $got")
    val p1After = new java.io.File(s"$base/part=1").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getName).toSet
    assert(p1After == p1Before)
  }

  test("mergeParquet deleteCol: tombstones drop keys, emptied partitions vanish, stale tombstones lose") {
    val base = java.nio.file.Files.createTempDirectory("graft_merge_d").toString + "/t"
    Seq((1L, 1L, "a", 0), (2L, 1L, "b", 0), (3L, 1L, "c", 1), (4L, 1L, "d", 1),
      (5L, 1L, "e", 2), (6L, 1L, "f", 3))
      .toDF("k", "version", "payload", "part")
      .write.partitionBy("part").parquet(base)
    val p3Before = new java.io.File(s"$base/part=3").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getName).toSet
    val updates = Seq(
      (1L, 2L, "", 0, true),    // tombstone: k=1 disappears
      (2L, 0L, "", 0, true),    // STALE tombstone (older version): k=2 stays
      (3L, 2L, "c2", 1, false), // plain upsert
      (5L, 2L, "", 2, true))    // tombstones the only key in part=2
      .toDF("k", "version", "payload", "part", "deleted")
    Scale.mergeParquet(spark, base, updates, Seq("k"),
      Seq(col("version").desc), partitionCol = Some("part"),
      deleteCol = Some("deleted"))
    val got = spark.read.parquet(base).select("k", "version", "payload")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(got == Set((2L, 1L, "b"), (3L, 2L, "c2"), (4L, 1L, "d"), (6L, 1L, "f")),
      s"tombstone semantics wrong: $got")
    assert(!spark.read.parquet(base).columns.contains("deleted"),
      "tombstone transport column leaked into the stored table")
    assert(!new java.io.File(s"$base/part=2").exists(),
      "partition emptied by tombstones still on disk")
    val p3After = new java.io.File(s"$base/part=3").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getName).toSet
    assert(p3After == p3Before, "untouched partition rewritten")
    // bootstrap with tombstones: first delivery on a fresh path drops them
    val fresh = java.nio.file.Files.createTempDirectory("graft_merge_db").toString + "/t"
    Scale.mergeParquet(spark, fresh,
      Seq((1L, 1L, "x", 0, false), (2L, 1L, "", 0, true))
        .toDF("k", "version", "payload", "part", "deleted"),
      Seq("k"), Seq(col("version").desc), partitionCol = Some("part"),
      deleteCol = Some("deleted"))
    assert(spark.read.parquet(fresh).select("k").as[Long].collect().toSet == Set(1L))
  }

  test("mergeParquet equals full-table upsert on seeded random change sets") {
    val rnd = new scala.util.Random(42)
    for (iter <- 1 to 3) {
      val base = java.nio.file.Files.createTempDirectory(s"graft_merge_r$iter").toString + "/t"
      val baseRows = (1 to 500).map { _ =>
        (rnd.nextInt(200).toLong, rnd.nextInt(5).toLong + 1,
          s"p${rnd.nextInt(1000)}", rnd.nextInt(4))
      }
      // order must totally order each key for determinism of BOTH sides
      val order = Seq(col("version").desc, col("payload").desc)
      val baseDf = Relational.dedupLatest(
        baseRows.toDF("k", "version", "payload", "part"), Seq("k"), order)
      baseDf.write.partitionBy("part").parquet(base)
      // keys keep their partition (stable-partition constraint): derive it
      val updates = (1 to 80).map { _ =>
        val k = rnd.nextInt(250).toLong
        (k, rnd.nextInt(9).toLong + 1, s"u${rnd.nextInt(1000)}", (k % 4).toInt)
      }.toDF("k", "version", "payload", "part")
        // drop update keys whose base partition differs (constraint holds)
        .join(baseDf.select(col("k"), col("part").as("bpart")), Seq("k"), "left")
        .filter(col("bpart").isNull || col("bpart") === col("part"))
        .drop("bpart")
      Scale.mergeParquet(spark, base, updates, Seq("k"), order,
        partitionCol = Some("part"))
      val got = spark.read.parquet(base)
        .select("k", "version", "payload", "part").collect().map(_.toSeq).toSet
      // baseDf/updates are in-memory lineage (toDF), so the oracle upsert
      // is unaffected by the on-disk rewrite above
      val expected = Relational.upsert(baseDf, updates, Seq("k"), order)
        .select("k", "version", "payload", "part").collect().map(_.toSeq).toSet
      assert(got == expected, s"iter $iter diverged from upsert oracle")
    }
  }

  test("merge and compaction refuse to run while the maintenance lock is held") {
    val base = java.nio.file.Files.createTempDirectory("graft_merge_l").toString + "/t"
    Seq((1L, 1L, "a")).toDF("k", "version", "payload").write.parquet(base)
    val lock = new java.io.File(base + "__maint_lock")
    assert(lock.createNewFile())
    val updates = Seq((1L, 2L, "a2")).toDF("k", "version", "payload")
    val ex = intercept[IllegalStateException] {
      Scale.mergeParquet(spark, base, updates, Seq("k"), Seq(col("version").desc))
    }
    assert(ex.getMessage.contains("__maint_lock"))
    // compaction shares the same lock — merge racing compact is the same
    // corruption case as merge racing merge
    intercept[IllegalStateException] { Scale.compactParquet(spark, base) }
    // table untouched by the refused mutators
    assert(spark.read.parquet(base).head().getString(2) == "a")
    assert(lock.delete())
    Scale.mergeParquet(spark, base, updates, Seq("k"), Seq(col("version").desc))
    assert(spark.read.parquet(base).head().getString(2) == "a2")
    assert(!lock.exists(), "lock file not released after a successful merge")
    Scale.compactParquet(spark, base)
    assert(!lock.exists(), "lock file not released after a successful compaction")
  }

  test("mergeParquet read-side contract: stale plans fail loudly, fresh reads see the merge") {
    val base = java.nio.file.Files.createTempDirectory("graft_merge_rc").toString + "/t"
    (1 to 100).map(i => (i.toLong, 1L, s"v1-$i", i % 2))
      .toDF("k", "version", "payload", "part")
      .write.partitionBy("part").parquet(base)
    // plan (and pin the file listing of) a scan BEFORE the merge; read one
    // row so the scan is fully realized against the pre-merge files
    val stale = spark.read.parquet(base)
    assert(stale.count() == 100)
    val updates = Seq((2L, 2L, "v2-2", 0)).toDF("k", "version", "payload", "part")
    Scale.mergeParquet(spark, base, updates, Seq("k"),
      Seq(col("version").desc), partitionCol = Some("part"))
    // the swap renamed part=0's old files away: the stale plan must fail
    // loudly (FileNotFoundException), never silently return torn rows
    val e = intercept[org.apache.spark.SparkException] {
      stale.filter(col("part") === 0).collect()
    }
    def rootCauses(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: rootCauses(t.getCause)
    assert(rootCauses(e).exists(_.isInstanceOf[java.io.FileNotFoundException]),
      s"stale read should surface FileNotFoundException, got $e")
    // a reader planned after the merge sees exactly the merged table
    val fresh = spark.read.parquet(base)
    assert(fresh.count() == 100)
    assert(fresh.filter(col("k") === 2L).head().getLong(1) == 2L)
  }

  test("mergeParquet (unpartitioned) swaps the whole table atomically") {
    val base = java.nio.file.Files.createTempDirectory("graft_merge_u").toString + "/t"
    Seq((1L, 1L, "a"), (2L, 1L, "b")).toDF("k", "version", "payload")
      .write.parquet(base)
    Scale.mergeParquet(spark, base,
      Seq((2L, 2L, "b2"), (3L, 1L, "c")).toDF("k", "version", "payload"),
      Seq("k"), Seq(col("version").desc))
    val got = spark.read.parquet(base).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(got == Set((1L, 1L, "a"), (2L, 2L, "b2"), (3L, 1L, "c")))
  }

  test("zOrderBy clusters both dimensions into tight per-file rectangles") {
    val n = 40000
    // deterministic pseudo-uniform grid points in [0,256)^2
    val pts = (0 until n).map(i => ((i * 2654435761L % 256).toInt,
      (i * 40503 % 256).toInt)).toDF("x", "y")
    def avgSpread(df: org.apache.spark.sql.DataFrame, c: String): Double =
      df.withColumn("p", spark_partition_id())
        .groupBy("p").agg((max(col(c)) - min(col(c))).as("spread"))
        .agg(avg("spread")).head().getDouble(0)
    val zed = Scale.zOrderBy(pts, "x", "y", numFiles = 16).cache()
    val (zx, zy) = (avgSpread(zed, "x"), avgSpread(zed, "y"))
    // single-column sort leaves the other dimension at full range
    val xSorted = pts.repartitionByRange(16, col("x")).cache()
    val xy = avgSpread(xSorted, "y")
    zed.unpersist(); xSorted.unpersist()
    assert(zx < 128 && zy < 128, s"z-order spreads too wide: x=$zx y=$zy")
    assert(zy < xy / 1.5, s"z-order y-spread $zy not better than x-sort's $xy")
  }

  test("zOrderByN (3 dims): per-file stats prune a non-leading dimension") {
    // file-skipping evidence: a reader that consults per-file min/max
    // stats (what parquet row-group pruning and lakehouse file indexes
    // do) must touch far fewer z-ordered files for a range predicate on
    // the LAST z-column than it would for a single-dimension sort layout.
    val n = 32768
    // decorrelated dims: disjoint bit-slices of a multiplicative hash
    val pts = (0 until n).map { i =>
      val h = i.toLong * 0x9E3779B97F4A7C15L
      (((h >>> 10) & 63).toInt, ((h >>> 22) & 63).toInt, ((h >>> 34) & 63).toInt)
    }.toDF("a", "b", "c")
    def filesHit(df: org.apache.spark.sql.DataFrame, dir: String,
                 lo: Int, hi: Int): (Int, Int) = {
      df.write.mode("overwrite").parquet(dir)
      val stats = spark.read.parquet(dir)
        .groupBy(input_file_name().as("f"))
        .agg(min(col("c")).as("mn"), max(col("c")).as("mx"))
        .collect()
      (stats.count(r => r.getInt(1) <= hi && r.getInt(2) >= lo), stats.length)
    }
    val base = java.nio.file.Files.createTempDirectory("graft_zorder").toString
    val (zHit, zTot) = filesHit(
      Scale.zOrderByN(pts, Seq("a", "b", "c"), 16, bits = 6), s"$base/z", 10, 13)
    val (sHit, sTot) = filesHit(
      pts.repartitionByRange(16, col("a")).sortWithinPartitions("a"), s"$base/s", 10, 13)
    assert(zTot == 16 && sTot == 16, s"expected 16 files each, got $zTot/$sTot")
    assert(sHit == 16, "single-dim sort leaves c at full range in every file")
    assert(zHit <= 8, s"z-order should skip most files on a c-range predicate, hit $zHit/16")
  }

  test("bucketed tables join without a shuffle exchange") {
    val li = spark.read.parquet(s"$sf001/lineitem.parquet")
      .select("l_orderkey", "l_quantity")
    val o = spark.read.parquet(s"$sf001/orders.parquet")
      .select("o_orderkey", "o_custkey")
    Scale.writeBucketed(li, "li_b", 8, Seq("l_orderkey"), Seq("l_orderkey"))
    Scale.writeBucketed(o, "o_b", 8, Seq("o_orderkey"), Seq("o_orderkey"))
    // disable broadcast so the join would otherwise need a full shuffle
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = Scale.readBucketed(spark, "li_b")
        .join(Scale.readBucketed(spark, "o_b"),
          col("l_orderkey") === col("o_orderkey"))
      joined.collect()
      val shuffles = collect(joined.queryExecution.executedPlan) {
        case e: ShuffleExchangeExec => e
      }
      assert(shuffles.isEmpty,
        s"bucketed join should be co-located:\n${joined.queryExecution.executedPlan}")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE IF EXISTS li_b")
      spark.sql("DROP TABLE IF EXISTS o_b")
    }
  }

  test("writeSnapshotIdempotent: a redelivered token no-ops; a new token commits; interleaving with plain commits is safe") {
    val dir = java.nio.file.Files.createTempDirectory("graft_snap_idem").toString + "/t"
    val d1 = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    assert(Scale.writeSnapshotIdempotent(spark, dir, d1, "b0").contains(0L))
    // the at-least-once redelivery: same token must NOT create a version
    assert(Scale.writeSnapshotIdempotent(spark, dir, d1, "b0").isEmpty)
    assert(Scale.latestSnapshot(spark, dir).contains(0L))
    // a new token commits the next version
    val d2 = d1.unionByName(Seq((3L, "c")).toDF("id", "v"))
    assert(Scale.writeSnapshotIdempotent(spark, dir, d2, "b1").contains(1L))
    assert(Scale.writeSnapshotIdempotent(spark, dir, d2, "b1").isEmpty)
    assert(Scale.readSnapshot(spark, dir).count() == 3)
    // a plain (non-idempotent) commit in between clears the token fence:
    // the NEXT idempotent token sees no _token on the latest version
    Scale.writeSnapshot(spark, dir, d1)
    assert(Scale.writeSnapshotIdempotent(spark, dir, d2, "b1").contains(3L))
    // the _token sidecar is invisible to parquet readers
    assert(Scale.readSnapshot(spark, dir).count() == 3)
    // empty token is a misuse, loudly
    intercept[IllegalArgumentException] {
      Scale.writeSnapshotIdempotent(spark, dir, d1, "")
    }
  }

  test("snapshot table: append-only versions, time travel, vacuum, loud empty read") {
    import spark.implicits._
    val t = java.nio.file.Files.createTempDirectory("snap").toString + "/tbl"
    intercept[IllegalStateException](Scale.readSnapshot(spark, t))
    val v0 = Scale.writeSnapshot(spark, t, Seq((1L, "a"), (2L, "b")).toDF("k", "v"))
    val v1 = Scale.writeSnapshot(spark, t, Seq((1L, "a2"), (3L, "c")).toDF("k", "v"))
    assert(v0 == 0L && v1 == 1L)
    assert(Scale.latestSnapshot(spark, t).contains(1L))
    assert(Scale.listSnapshots(spark, t) == Seq(0L, 1L))
    // latest sees v1; time travel sees v0 unchanged
    assert(Scale.readSnapshot(spark, t).orderBy("k").collect().map(_.getString(1)).toSeq
      == Seq("a2", "c"))
    assert(Scale.readSnapshot(spark, t, Some(0L)).orderBy("k").collect()
      .map(_.getString(1)).toSeq == Seq("a", "b"))
    // a resolved reader frame survives later writes (immutability)
    val pinned = Scale.readSnapshot(spark, t)
    Scale.writeSnapshot(spark, t, Seq((9L, "z")).toDF("k", "v"))
    assert(pinned.count() == 2L)
    // vacuum drops the oldest, keeps history depth
    assert(Scale.vacuumSnapshots(spark, t, keepLast = 2) == Seq(0L))
    assert(Scale.listSnapshots(spark, t) == Seq(1L, 2L))
    intercept[Exception](Scale.readSnapshot(spark, t, Some(0L)).count())
  }

  test("snapshot writers serialize: concurrent commits get distinct versions") {
    import spark.implicits._
    import scala.concurrent.{Await, Future, ExecutionContext}
    import scala.concurrent.duration.Duration
    val t = java.nio.file.Files.createTempDirectory("snapc").toString + "/tbl"
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val versions = (1 to 4).map { i =>
        Future {
          // the lock makes losers fail loudly rather than corrupt; retry
          // until committed, as a real writer with a retry policy would
          var v = -1L
          while (v < 0) {
            try v = Scale.writeSnapshot(spark, t, Seq((i.toLong, s"w$i")).toDF("k", "v"))
            catch { case _: IllegalStateException => Thread.sleep(20) }
          }
          v
        }
      }
      val got = Await.result(Future.sequence(versions), Duration.Inf)
      assert(got.sorted == Seq(0L, 1L, 2L, 3L), s"versions collided: $got")
      assert(Scale.readSnapshot(spark, t).count() == 1L) // last commit wins the pointer
    } finally pool.shutdown()
  }

  test("snapshot crash recovery: a stale uncommitted dir neither blocks the next commit nor leaks") {
    import spark.implicits._
    val t = java.nio.file.Files.createTempDirectory("snapcr").toString + "/tbl"
    Scale.writeSnapshot(spark, t, Seq(1L).toDF("k"))
    // simulate a writer that died after writing v=1 but before the
    // pointer moved: the dir exists, the pointer still says 0
    Seq(99L).toDF("k").write.parquet(s"$t/v=1")
    assert(Scale.latestSnapshot(spark, t).contains(0L))
    assert(Scale.listSnapshots(spark, t) == Seq(0L)) // garbage not listed
    // the next commit replaces the garbage instead of failing
    val v = Scale.writeSnapshot(spark, t, Seq(2L).toDF("k"))
    assert(v == 1L)
    assert(Scale.readSnapshot(spark, t).collect().map(_.getLong(0)).toSeq == Seq(2L))
    // and vacuum sweeps any uncommitted dir above the pointer
    Seq(77L).toDF("k").write.parquet(s"$t/v=9")
    Scale.vacuumSnapshots(spark, t, keepLast = 2)
    val dirs = new java.io.File(t).listFiles().filter(_.isDirectory).map(_.getName).sorted
    assert(!dirs.contains("v=9"), s"uncommitted dir survived vacuum: ${dirs.toSeq}")
  }

  test("snapshot crash recovery property: torn _latest.tmp and orphan dirs never corrupt reads or commits") {
    import spark.implicits._
    // Randomized crash injection under a FIXED seed: before each commit,
    // maybe leave (a) an uncommitted v=<next> dir (writer died before
    // the pointer moved), (b) a torn _latest.tmp (writer died mid
    // pointer write — partial bytes, even garbage), or both. Invariants
    // after every commit: the pointer is monotonic +1, readSnapshot
    // serves exactly the just-committed rows, and time travel to any
    // earlier version still serves that version's rows. The tmp file is
    // scratch by protocol (the atomic rename is the commit point), so
    // torn leftovers must be silently overwritten, never read.
    val t = java.nio.file.Files.createTempDirectory("snapprop").toString + "/tbl"
    val rnd = new scala.util.Random(13)
    val committed = scala.collection.mutable.ArrayBuffer.empty[Seq[Long]]
    for (i <- 0 until 8) {
      rnd.nextInt(4) match {
        case 1 => // orphan dir at the next version number
          Seq(-1L).toDF("k").write.mode("overwrite").parquet(s"$t/v=${committed.size}")
        case 2 => // torn pointer tmp: partial/garbage bytes
          java.nio.file.Files.createDirectories(java.nio.file.Paths.get(t))
          java.nio.file.Files.write(java.nio.file.Paths.get(t, "_latest.tmp"),
            Array[Byte]('9', '9', '9', 0x7f))
        case 3 => // both
          Seq(-2L).toDF("k").write.mode("overwrite").parquet(s"$t/v=${committed.size}")
          java.nio.file.Files.write(java.nio.file.Paths.get(t, "_latest.tmp"),
            Array[Byte]('x'))
        case _ =>
      }
      if (committed.nonEmpty) { // reads recover BEFORE the next commit too
        assert(Scale.latestSnapshot(spark, t).contains(committed.size - 1L),
          s"iter $i: pointer drifted")
        assert(Scale.readSnapshot(spark, t).collect().map(_.getLong(0)).sorted
          .toSeq == committed.last, s"iter $i: read served uncommitted data")
      }
      val rows = (0 to i).map(j => i * 100L + j)
      val v = Scale.writeSnapshot(spark, t, rows.toDF("k"))
      committed += rows
      assert(v == committed.size - 1L, s"iter $i: version not monotonic (+1)")
      assert(Scale.readSnapshot(spark, t).collect().map(_.getLong(0)).sorted
        .toSeq == rows, s"iter $i: commit not readable")
    }
    // full history intact: every version time-travels to its own rows
    committed.zipWithIndex.foreach { case (rows, v) =>
      assert(Scale.readSnapshot(spark, t, Some(v.toLong)).collect()
        .map(_.getLong(0)).sorted.toSeq == rows, s"time travel to v=$v broken")
    }
    assert(Scale.listSnapshots(spark, t) == (0L until committed.size).toSeq)
  }

  test("refreshAggregate: delta refresh equals one-shot aggregate; untouched partitions stay in place") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_aggref").toString + "/t"
    val batch1 = (1 to 300).map(i => (s"m${i % 3}", s"p${i % 2}", i.toLong))
      .toDF("month", "prio", "v")
    Scale.refreshAggregate(spark, base, batch1, "month", Seq("prio"), Seq("v"))
    def files(m: String) = new java.io.File(s"$base/month=$m").listFiles()
      .filter(_.getName.endsWith(".parquet"))
      .map(f => (f.getName, f.lastModified, f.length)).toSet
    val m1 = files("m1"); val m2 = files("m2")
    // delta touches only m0 plus a brand-new month m9
    val delta = Seq(("m0", "p0", 1000L), ("m0", "p1", 50L), ("m9", "p0", 7L))
      .toDF("month", "prio", "v")
    Scale.refreshAggregate(spark, base, delta, "month", Seq("prio"), Seq("v"))
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
    val got = canon(spark.read.parquet(base).select(
      col("month"), col("prio"), col("cnt"), col("v")))
    val expected = canon(batch1.unionByName(delta).groupBy("month", "prio")
      .agg(count(lit(1)).cast("long").as("cnt"), sum("v").cast("long").as("v"))
      .select("month", "prio", "cnt", "v"))
    assert(got == expected, s"incremental refresh diverged from one-shot:\n $got\n $expected")
    // incremental proof: months the delta never touched keep their files
    assert(files("m1") == m1 && files("m2") == m2,
      "untouched month partitions were rewritten")
    assert(new java.io.File(s"$base/month=m9").isDirectory, "new month not created")
    // empty delta refuses loudly rather than silently no-opping
    intercept[IllegalArgumentException] {
      Scale.refreshAggregate(spark, base, delta.limit(0), "month", Seq("prio"), Seq("v"))
    }
  }

  test("compactParquet: 4-column integral zone spec compacts width-safely (no bits overflow)") {
    // the raw interleave would throw '16 bits x 4 cols overflows a long'
    // mid-compaction; the auto variant derives bits from the column count
    val base = java.nio.file.Files.createTempDirectory("graft_compact_z4").toString + "/t"
    val df = spark.range(4096).select(
      ((col("id") / 512).cast("long") * 1000000007L).as("a"),
      (col("id") % 64).as("b"),
      (col("id") * 7 % 64).as("c"),
      (col("id") * 13 % 64).as("d"))
    df.repartition(12).write.parquet(base)
    graft.operators.GraftTable.buildIndex(spark, base,
      zoneCols = Seq("a", "b", "c", "d"))
    Scale.compactParquet(spark, base, targetBytes = 4096L)
    val back = spark.read.parquet(base)
    assert(back.count() == 4096 &&
      back.agg(sum("b")).head().getLong(0) ==
        df.agg(sum("b")).head().getLong(0))
    // the indexed read still works (reindexAuto rebuilt all 4 manifests)
    assert(graft.operators.GraftTable.read(spark, base)
      .filter(col("b") === 3).count() == 64)
  }

  test("compactParquet: high-magnitude zone values keep tight per-file bounds (range-normalized interleave)") {
    // values >= 2^16: the old low-16-bit interleave maps them to
    // near-random z-values, so every compacted file would span almost the
    // whole domain and the table's own skipping dies with it
    val base = java.nio.file.Files.createTempDirectory("graft_compact_mag").toString + "/t"
    val n = 4096L
    val df = spark.range(n).select(
      (col("id") * 1000003L).as("a"),          // ~4e9 range, monotone
      ((col("id") % 64) * 70000L).as("b"))     // 64 huge distinct values
    df.repartition(12).write.parquet(base)
    graft.operators.GraftTable.buildIndex(spark, base, zoneCols = Seq("a", "b"))
    Scale.compactParquet(spark, base, targetBytes = 4096L)
    val zones = Scale.zoneMap(spark, base, "a").collect()
      .map(r => (r.getLong(1), r.getLong(2)))
    assert(zones.length >= 8, s"expected a multi-file rewrite, got ${zones.length}")
    val fullRange = ((n - 1) * 1000003L).toDouble
    val tight = zones.count { case (lo, hi) => (hi - lo) < fullRange * 0.55 }
    assert(tight >= zones.length / 2,
      s"high-magnitude column smeared across files: only $tight of " +
        s"${zones.length} files have a span under 55% of the domain")
    // and the skipping the rewrite exists to preserve actually fires
    val probe = graft.operators.GraftTable.read(spark, base)
      .filter(col("a") < (n / 8) * 1000003L)
    assert(probe.count() == n / 8)
    val (read, total) = graft.operators.GraftTable.scanFiles(probe)
    assert(read < total, s"zone skipping dead after compaction: $read of $total")
  }

  test("zOrderByNAuto: negative and full-range columns bucket monotonically, content preserved") {
    // sign-bit XOR path: values straddling zero (and a range wider than
    // Long can hold as a difference) must keep signed order through the
    // unsigned normalization — a wrap bug would interleave garbage and
    // scatter the clustering
    val n = 4096
    val df = spark.range(n).select(
      (col("id") * 2000003L - 4096L * 1000001L).as("x"), // straddles 0
      ((col("id") % 64) - 32).as("y"))                   // small, negative half
    val z = Scale.zOrderByNAuto(df, Seq("x", "y"), numFiles = 8)
    assert(z.count() == n)
    assert(z.agg(sum("x")).head().getLong(0) == df.agg(sum("x")).head().getLong(0))
    // per-file x-bounds must be tight (monotone normalization): most
    // files span well under the full range
    val t = java.nio.file.Files.createTempDirectory("graft_zauto").toString + "/t"
    z.write.parquet(t)
    val zones = Scale.zoneMap(spark, t, "x").collect().map(r => (r.getLong(1), r.getLong(2)))
    val full = (df.agg(max("x")).head().getLong(0) -
      df.agg(min("x")).head().getLong(0)).toDouble
    assert(zones.count { case (lo, hi) => (hi - lo) < full * 0.6 } >= zones.length / 2,
      s"negative-range column smeared: ${zones.mkString(", ")}")
    // all-null column falls back rather than crashing
    val withNull = df.withColumn("z", lit(null).cast("long"))
    assert(Scale.zOrderByNAuto(withNull, Seq("x", "z"), 4).count() == n)
  }

  test("a plain snapshot commit removes a crashed CDF writer's orphan feed; vacuum sweeps above-pointer feeds") {
    import org.apache.hadoop.fs.Path
    val t = java.nio.file.Files.createTempDirectory("graft_cdf_orphan").toString + "/t"
    val fs = new Path(t).getFileSystem(spark.sparkContext.hadoopConfiguration)
    Scale.writeSnapshotCdf(spark, t, Seq((1L, "a"), (2L, "b")).toDF("k", "s"), "k")
    // crashed writeSnapshotCdf: feed for v=1 written, pointer never moved
    Seq((9L, "junk")).toDF("k", "s").withColumn("_change_type", lit("insert"))
      .write.parquet(s"$t/_cdf/v=1")
    // a PLAIN commit of v=1 (duplicate keys — legal for plain snapshots)
    // must remove the orphan: otherwise (a) readChangesBetween serves a
    // stale feed for v=1 and (b) the next CDF commit trusts _cdf/v=1 as
    // proof v=1 was key-verified and skips the dup check
    Scale.writeSnapshot(spark, t, Seq((1L, "x"), (1L, "y")).toDF("k", "s"))
    assert(!fs.exists(new Path(s"$t/_cdf/v=1")),
      "plain commit must delete the crashed CDF writer's orphan feed")
    val eFeed = intercept[IllegalArgumentException] {
      Scale.readChangesBetween(spark, t, 0L, 1L)
    }
    assert(eFeed.getMessage.contains("no change feed"))
    val eDup = intercept[IllegalArgumentException] {
      Scale.writeSnapshotCdf(spark, t, Seq((1L, "z")).toDF("k", "s"), "k")
    }
    assert(eDup.getMessage.contains("previous version"),
      "the CDF commit must re-verify a plain predecessor once the orphan is gone")
    // vacuum: an above-pointer crashed writer leaves data + feed; both go
    val t2 = java.nio.file.Files.createTempDirectory("graft_cdf_vac").toString + "/t"
    val fs2 = new Path(t2).getFileSystem(spark.sparkContext.hadoopConfiguration)
    Scale.writeSnapshotCdf(spark, t2, Seq((1L, "a")).toDF("k", "s"), "k")
    Seq((9L, "junk")).toDF("k", "s").write.parquet(s"$t2/v=1")
    Seq((9L, "junk")).toDF("k", "s").withColumn("_change_type", lit("insert"))
      .write.parquet(s"$t2/_cdf/v=1")
    Scale.vacuumSnapshots(spark, t2, keepLast = 10)
    assert(!fs2.exists(new Path(s"$t2/v=1")) && !fs2.exists(new Path(s"$t2/_cdf/v=1")),
      "vacuum must sweep a crashed writer's data dir AND its orphan feed")
    // the committed version's feed is retained (CDC replay contract)
    assert(fs2.exists(new Path(s"$t2/_cdf/v=0")))
  }

  test("optimistic concurrency: interleaved snapshot writers — loser conflicts loudly, retry converges, feed stays consistent") {
    val t = java.nio.file.Files.createTempDirectory("graft_cas").toString + "/t"
    Scale.writeSnapshotCdf(spark, t,
      Seq((1L, 10L), (2L, 20L)).toDF("k", "v"), "k", expectedVersion = Some(-1L))
    // writer A and writer B both read v=0
    val aBase = Scale.latestSnapshot(spark, t).get
    val bBase = aBase
    // B wins the race: bumps k=1 to 11
    Scale.writeSnapshotCdf(spark, t,
      Seq((1L, 11L), (2L, 20L)).toDF("k", "v"), "k", expectedVersion = Some(bBase))
    // A's commit (derived from the superseded v=0 read: k=2 -> 21) must
    // NOT silently last-write-win over B's k=1 change
    val e = intercept[Scale.CommitConflictException] {
      Scale.writeSnapshotCdf(spark, t,
        Seq((1L, 10L), (2L, 21L)).toDF("k", "v"), "k", expectedVersion = Some(aBase))
    }
    assert(e.getMessage.contains("read version 0") &&
      e.getMessage.contains("now at 1"))
    // table untouched by the failed commit: still v=1, B's content
    assert(Scale.latestSnapshot(spark, t).contains(1L))
    // A follows the retry contract: re-read, re-apply ON the new state
    val fresh = Scale.readSnapshot(spark, t)
    val reapplied = fresh.withColumn("v",
      when(col("k") === 2L, col("v") + 1).otherwise(col("v")))
    val v2 = Scale.writeSnapshotCdf(spark, t, reapplied, "k",
      expectedVersion = Some(1L))
    assert(v2 == 2L)
    // converged: BOTH writers' changes present, and the feed is a
    // consistent per-commit history (no hole, no duplicate version)
    assert(Scale.readSnapshot(spark, t).orderBy("k").collect().map(_.toSeq).toSeq ==
      Seq(Seq(1L, 11L), Seq(2L, 21L)))
    val feed = Scale.readChangesBetween(spark, t, -1L, 2L)
    assert(feed.select("_commit_version").distinct().as[Long].collect().sorted.toSeq ==
      Seq(0L, 1L, 2L))
    // plain/idempotent commits honor the same CAS; a redelivered token
    // is OUR own commit, never a conflict
    intercept[Scale.CommitConflictException] {
      Scale.writeSnapshot(spark, t, fresh, expectedVersion = Some(0L))
    }
    assert(Scale.writeSnapshotIdempotent(spark, t, fresh, "cas-tok",
      expectedVersion = Some(2L)).contains(3L))
    assert(Scale.writeSnapshotIdempotent(spark, t, fresh, "cas-tok",
      expectedVersion = Some(0L)).isEmpty,
      "a redelivered token no-ops even with a stale expectedVersion")
  }

  test("optimistic concurrency: merge-on-read CAS on (base, deletes)") {
    val t = java.nio.file.Files.createTempDirectory("graft_cas_mor").toString + "/t"
    Scale.writeMorBase(spark, t,
      (1L to 100L).map(i => (i, i * 10)).toDF("k", "v"),
      expectedState = Some((-1L, 0L)))
    // both writers observe (base=0, deletes=0); B appends first
    Scale.appendDeletes(spark, t, Seq(5L).toDF("k"), expectedState = Some((0L, 0L)))
    val e = intercept[Scale.CommitConflictException] {
      Scale.appendDeletes(spark, t, Seq(7L).toDF("k"), expectedState = Some((0L, 0L)))
    }
    assert(e.getMessage.contains("nextCommit=1"),
      "conflict message names the shared append+delete commit sequence")
    // retry against the fresh state converges
    Scale.appendDeletes(spark, t, Seq(7L).toDF("k"), expectedState = Some((0L, 1L)))
    assert(Scale.readMergeOnRead(spark, t, "k").count() == 98)
    // a base replace derived from a stale read also conflicts
    intercept[Scale.CommitConflictException] {
      Scale.writeMorBase(spark, t, Seq((1L, 1L)).toDF("k", "v"),
        expectedState = Some((0L, 0L)))
    }
    assert(Scale.readMergeOnRead(spark, t, "k").count() == 98,
      "failed commits must leave the table untouched")
  }

  test("squashFeed: checkpoints chain, reads reconcile, vacuum sweeps covered feeds, mid-range reads fail loudly") {
    import org.apache.hadoop.fs.Path
    val t = java.nio.file.Files.createTempDirectory("graft_cdf_ckpt").toString + "/t"
    val fs = new Path(t).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def commit(rows: (Long, Long)*): Unit =
      Scale.writeSnapshotCdf(spark, t, rows.toDF("k", "v"), "k")
    commit((1L, 10L), (2L, 20L), (3L, 30L))          // v0
    commit((1L, 11L), (2L, 20L), (3L, 30L), (4L, 40L)) // v1: upd 1, ins 4
    commit((1L, 11L), (3L, 30L), (4L, 41L))            // v2: del 2, upd 4
    commit((1L, 11L), (3L, 30L), (4L, 41L), (2L, 22L)) // v3: 2 resurrects
    commit((3L, 31L), (4L, 41L), (2L, 22L))            // v4: del 1, upd 3
    val rawSquash = Scale.cdfSquash(
        Scale.readChangesBetween(spark, t, 0L, 4L, useCheckpoints = false), "k")
      .collect().map(_.toSeq).toSet
    Scale.squashFeed(spark, t, "k", 0L, 2L)
    // CHAINING: the second squash must read [c=0_2 + v3 + v4], never
    // the full per-commit history — prove it by sweeping v1/v2 first
    fs.delete(new Path(s"$t/_cdf/v=1"), true)
    fs.delete(new Path(s"$t/_cdf/v=2"), true)
    Scale.squashFeed(spark, t, "k", 0L, 4L)
    val viaCkpt = spark.read.parquet(s"$t/_cdf_ckpt/c=0_4")
      .collect().map(_.toSeq).toSet
    assert(viaCkpt == rawSquash,
      s"chained squash diverged from the one-shot squash:\n$viaCkpt\n$rawSquash")
    // the anchored read serves [checkpoint + tail] and folds identically
    val served = Scale.readChangesBetween(spark, t, 0L, 4L)
    assert(served.select("_commit_version").distinct()
      .collect().map(_.getLong(0)).toSet == Set(4L))
    val foldServed = Scale.cdfLatestChanges(served, "k")
      .filter(col("_change_type") =!= "delete")
      .select("k", "v").collect().map(_.toSeq).toSet
    assert(foldServed == Set(Seq(2L, 22L), Seq(3L, 31L), Seq(4L, 41L)))
    // vacuum: covered per-commit feeds and the superseded c=0_2 go;
    // the maximal checkpoint and the uncovered commit feeds stay
    Scale.vacuumSnapshots(spark, t, keepLast = 5)
    assert(!fs.exists(new Path(s"$t/_cdf/v=3")) &&
      !fs.exists(new Path(s"$t/_cdf/v=4")),
      "vacuum must sweep per-commit feeds a checkpoint covers")
    assert(!fs.exists(new Path(s"$t/_cdf_ckpt/c=0_2")),
      "vacuum must sweep a checkpoint another checkpoint strictly extends")
    assert(fs.exists(new Path(s"$t/_cdf_ckpt/c=0_4")))
    assert(fs.exists(new Path(s"$t/_cdf/v=0")),
      "feeds outside every checkpoint range are retained")
    // post-sweep: the anchored read still serves, byte-identical fold
    val after = Scale.cdfLatestChanges(
        Scale.readChangesBetween(spark, t, 0L, 4L), "k")
      .filter(col("_change_type") =!= "delete")
      .select("k", "v").collect().map(_.toSeq).toSet
    assert(after == foldServed)
    // a read anchored INSIDE the swept range fails loudly, naming the
    // checkpoint boundary — never a silent hole
    val e = intercept[IllegalArgumentException] {
      Scale.readChangesBetween(spark, t, 1L, 4L)
    }
    assert(e.getMessage.contains("c=0_4") && e.getMessage.contains("anchor"),
      s"got: ${e.getMessage}")
    // and a too-short anchored span (toV inside the checkpoint) too
    val e2 = intercept[IllegalArgumentException] {
      Scale.readChangesBetween(spark, t, 0L, 3L)
    }
    assert(e2.getMessage.contains("c=0_4"))
  }

  test("column mapping: rename is metadata-only, reads map everywhere, stale writers fail, rename-back drops the entry") {
    import org.apache.hadoop.fs.Path
    val t = java.nio.file.Files.createTempDirectory("graft_colmap").toString + "/t"
    val fs = new Path(t).getFileSystem(spark.sparkContext.hadoopConfiguration)
    Scale.writeSnapshotCdf(spark, t,
      Seq((1L, 10L, "x"), (2L, 20L, "y")).toDF("k", "a", "b"), "k")
    Scale.renameSnapshotColumn(spark, t, "a", "score")
    // reads — latest, time travel, feed — all surface the new name
    assert(Scale.readSnapshot(spark, t).columns.toSeq == Seq("k", "score", "b"))
    assert(Scale.readSnapshot(spark, t, Some(0L)).columns.contains("score"))
    // writers speak the new name; the physical file keeps the old one
    Scale.writeSnapshotCdf(spark, t,
      Seq((1L, 11L, "x"), (2L, 20L, "y")).toDF("k", "score", "b"), "k")
    assert(spark.read.parquet(s"$t/v=1").columns.toSeq == Seq("k", "a", "b"),
      "rename must not rewrite storage names")
    val feed = Scale.readChangesBetween(spark, t, -1L, 1L)
    assert(feed.columns.contains("score") && !feed.columns.contains("a"))
    assert(feed.filter(col("_change_type") === "update_postimage")
      .select("score").head().getLong(0) == 11L)
    // a stale writer still using the old name fails loudly
    val eStale = intercept[IllegalArgumentException] {
      Scale.writeSnapshotCdf(spark, t,
        Seq((1L, 11L, "x")).toDF("k", "a", "b"), "k")
    }
    assert(eStale.getMessage.contains("renamed"))
    // rename validations
    assert(intercept[IllegalArgumentException] {
      Scale.renameSnapshotColumn(spark, t, "nope", "z")
    }.getMessage.contains("no column"))
    assert(intercept[IllegalArgumentException] {
      Scale.renameSnapshotColumn(spark, t, "score", "b")
    }.getMessage.contains("already exists"))
    // checkpoints store physical names and read back mapped
    Scale.writeSnapshotCdf(spark, t,
      Seq((1L, 12L, "x")).toDF("k", "score", "b"), "k")
    Scale.squashFeed(spark, t, "k", 0L, 2L)
    val served = Scale.readChangesBetween(spark, t, 0L, 2L)
    assert(served.columns.contains("score"))
    assert(Scale.cdfLatestChanges(served, "k")
      .filter(col("_change_type") =!= "delete")
      .select("k", "score").collect().map(_.toSeq).toSet == Set(Seq(1L, 12L)))
    // additive evolution composes with mapping; rename-back drops entry
    Scale.renameSnapshotColumn(spark, t, "score", "a")
    assert(Scale.snapshotColMap(spark, t).isEmpty ||
      !fs.exists(new Path(t, "_colmap")) ||
      Scale.snapshotColMap(spark, t).forall(kv => kv._1 == kv._2))
    assert(Scale.readSnapshot(spark, t).columns.toSeq == Seq("k", "a", "b"))
    // GraftTable.read surfaces logical names too
    Scale.renameSnapshotColumn(spark, t, "b", "tag")
    assert(graft.operators.GraftTable.read(spark, t).columns.toSeq ==
      Seq("k", "a", "tag"))
  }

  test("merge-on-read appends: sequence rule, derived change feed, as-of reads, compaction folds") {
    val t = java.nio.file.Files.createTempDirectory("graft_mor_app").toString + "/t"
    Scale.writeMorBase(spark, t, (1L to 10L).map(i => (i, i * 10)).toDF("k", "v"))
    graft.operators.GraftTable.buildIndex(spark, t,
      zoneCols = Seq("v"), morKey = Some("k"))
    Scale.appendDeletes(spark, t, Seq(2L, 3L).toDF("k"))          // commit 0
    Scale.appendMorRows(spark, t, Seq((11L, 110L), (3L, 330L)).toDF("k", "v")) // commit 1
    Scale.appendDeletes(spark, t, Seq(11L, 5L).toDF("k"))         // commit 2
    // SEQUENCE RULE: key 3's delete (commit 0) must NOT swallow its
    // re-append (commit 1); key 11's delete (commit 2) DOES kill the
    // commit-1 row; base rows fall to any later delete
    val expect = Set(Seq(1L, 10L), Seq(4L, 40L), Seq(6L, 60L), Seq(7L, 70L),
      Seq(8L, 80L), Seq(9L, 90L), Seq(10L, 100L), Seq(3L, 330L))
    assert(Scale.readMergeOnRead(spark, t, "k")
      .collect().map(_.toSeq).toSet == expect)
    // the unified zero-argument read agrees (appends in the listing,
    // index auto-rebuilt by appendMorRows — a stale manifest would be a
    // loud staleness error here, not a silent miss)
    assert(graft.operators.GraftTable.read(spark, t)
      .collect().map(_.toSeq).toSet == expect)
    // and its zone skipping covers appended files too
    val pruned = graft.operators.GraftTable.read(spark, t).filter(col("v") >= 100)
    assert(pruned.collect().map(_.toSeq).toSet ==
      Set(Seq(10L, 100L), Seq(3L, 330L)))
    // as-of reads replay the commit history
    assert(Scale.readMorAsOf(spark, t, "k", -1L).count() == 10)
    assert(Scale.readMorAsOf(spark, t, "k", 0L)
      .select("k").collect().map(_.getLong(0)).toSet == (1L to 10L).toSet -- Set(2L, 3L))
    assert(Scale.readMorAsOf(spark, t, "k", 1L).count() == 10) // +11, +3'
    // derived change feed: bootstrap inserts + append inserts + delete
    // events carrying the image of the row each delete actually killed
    val feed = Scale.morChangesBetween(spark, t, "k", -1L, 2L, includeBootstrap = true)
    val events = feed.select("k", "v", "_change_type", "_commit_version")
      .collect().map(_.toSeq).toSet
    val bootstrap = (1L to 10L).map(i => Seq(i, i * 10, "insert", -1L)).toSet
    assert(events == bootstrap ++ Set(
      Seq(11L, 110L, "insert", 1L), Seq(3L, 330L, "insert", 1L),
      Seq(2L, 20L, "delete", 0L), Seq(3L, 30L, "delete", 0L),
      Seq(11L, 110L, "delete", 2L), Seq(5L, 50L, "delete", 2L)),
      s"got $events")
    // the CDF folds consume it unchanged: latest-change fold == read
    val alive = Scale.cdfLatestChanges(feed, "k")
      .filter(col("_change_type") =!= "delete").select("k", "v")
    assert(alive.collect().map(_.toSeq).toSet == expect)
    // a scoped read excludes events at-or-before its anchor
    assert(Scale.morChangesBetween(spark, t, "k", 0L, 2L)
      .filter(col("_change_type") === "delete")
      .select("_commit_version").collect().map(_.getLong(0)).toSet == Set(2L))
    // schema drift on append is loud
    assert(intercept[IllegalArgumentException] {
      Scale.appendMorRows(spark, t, Seq((1L, "x")).toDF("k", "v"))
    }.getMessage.contains("schema mismatch"))
    // compaction folds appends AND deletes; content unchanged; history
    // below the new fence is no longer replayable — loudly
    Scale.compactDeletes(spark, t, "k")
    assert(Scale.readMergeOnRead(spark, t, "k")
      .collect().map(_.toSeq).toSet == expect)
    assert(intercept[IllegalArgumentException] {
      Scale.morChangesBetween(spark, t, "k", -1L, 2L)
    }.getMessage.contains("folded"))
    val (bases, dels) = Scale.vacuumMor(spark, t)
    assert(bases.nonEmpty && dels == Seq(0L, 2L))
    assert(!new java.io.File(s"$t/_appends/a=1").exists(),
      "vacuum must sweep folded append dirs")
    assert(Scale.readMergeOnRead(spark, t, "k")
      .collect().map(_.toSeq).toSet == expect)
  }

  test("delete-broadcast guard: an oversized delete set falls back to a shuffle join, results identical") {
    val t = java.nio.file.Files.createTempDirectory("graft_delguard").toString + "/t"
    Scale.writeMorBase(spark, t, (1L to 500L).map(i => (i, i * 3)).toDF("k", "v"))
    Scale.appendDeletes(spark, t, (1L to 500L by 7).toDF("k"))
    Scale.appendMorRows(spark, t, Seq((8L, 99L), (1001L, 1L)).toDF("k", "v"))
    Scale.appendDeletes(spark, t, Seq(8L, 1001L, 20L).toDF("k"))
    val expect = Scale.readMergeOnRead(spark, t, "k").collect().map(_.toSeq).toSet
    val savedAuto = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // force the guard past its bound (any delete file is > 0 bytes) and
      // disable stats-based auto-broadcast so the fallback plan is visible
      spark.conf.set("spark.graft.mor.deleteBroadcastBytes", "0")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val df = Scale.readMergeOnRead(spark, t, "k")
      assert(df.collect().map(_.toSeq).toSet == expect,
        "fallback plan must reconcile identically")
      df.count() // materialize the adaptive plan before inspecting it
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastHashJoin"),
        s"guard must drop the broadcast hint above the byte bound:\n$plan")
      // the derived change feed takes the same guarded path
      val feed = Scale.morChangesBetween(spark, t, "k", 0L, 2L)
      assert(feed.filter(col("_change_type") === "delete").count() == 3L,
        "commit 2 kills 8 + 1001 (appended at 1) and 20 (base)")
      // GraftTable.read's unified scan honors the guard too
      graft.operators.GraftTable.buildIndex(spark, t,
        zoneCols = Seq("k"), morKey = Some("k"))
      assert(graft.operators.GraftTable.read(spark, t)
        .collect().map(_.toSeq).toSet == expect)
    } finally {
      spark.conf.unset("spark.graft.mor.deleteBroadcastBytes")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", savedAuto)
    }
  }

  test("column mapping: a rename SWAP (a->c then b->a) keeps the table writable under current logical names") {
    val t = java.nio.file.Files.createTempDirectory("graft_swap").toString + "/t"
    Scale.writeSnapshotCdf(spark, t,
      Seq((1L, 10L, "x"), (2L, 20L, "y")).toDF("k", "a", "b"), "k")
    Scale.renameSnapshotColumn(spark, t, "a", "c")
    Scale.renameSnapshotColumn(spark, t, "b", "a")
    // logical schema is now (k, c, a) with physical (k, a, b): a write
    // carrying logical 'a' must route to physical 'b', not be rejected
    // as a stale writer (its name is a colmap KEY but also a CURRENT
    // logical name)
    Scale.writeSnapshotCdf(spark, t,
      Seq((1L, 10L, "x"), (2L, 21L, "y"), (3L, 30L, "z")).toDF("k", "c", "a"), "k")
    val read = Scale.readSnapshot(spark, t)
    assert(read.columns.toSeq == Seq("k", "c", "a"))
    assert(read.orderBy("k").collect().map(_.toSeq).toSeq ==
      Seq(Seq(1L, 10L, "x"), Seq(2L, 21L, "y"), Seq(3L, 30L, "z")))
    // the feed diff ran against physical names: exactly one update pair
    // (k=2) and one insert (k=3)
    val feed = Scale.readChangesBetween(spark, t, 0L, 1L)
    assert(feed.columns.contains("c") && feed.columns.contains("a"))
    assert(feed.groupBy("_change_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap ==
      Map("insert" -> 1L, "update_preimage" -> 1L, "update_postimage" -> 1L))
    // a genuinely stale writer (physical 'b', renamed away) still fails
    assert(intercept[IllegalArgumentException] {
      Scale.writeSnapshotCdf(spark, t,
        Seq((1L, 10L, "x")).toDF("k", "c", "b"), "k")
    }.getMessage.contains("renamed"))
  }

  test("cross-process lock handshake: a second JVM is excluded while the lock is held, and our writers respect a foreign lock") {
    // OCC interleaving is proven in-JVM (the interleaved-writer tests);
    // this pins the CROSS-PROCESS half of the story with a real forked
    // JVM: (1) while one process holds the maintenance lock file, a
    // second process's exclusive-create fails; (2) a graft writer in
    // THIS process respects a lock created by the OTHER process —
    // failing loudly, never interleaving. The primitive is
    // FileSystem.create(overwrite=false): exact on HDFS, best-effort on
    // the local FS (check-then-act) — the racing-create caveat is the
    // documented single-maintainer contract in DESIGN.md.
    val t = java.nio.file.Files.createTempDirectory("graft_xproc").toString + "/t"
    Scale.writeSnapshotCdf(spark, t, Seq((1L, 10L)).toDF("k", "v"), "k")
    val cp = System.getProperty("java.class.path")
    def probe(): Int = new ProcessBuilder(
      "java", "-cp", cp, "graft.LockProbeMain", t)
      .inheritIO().start().waitFor()
    // we hold the lock -> the other process must lose
    val lock = new java.io.File(t + "__maint_lock")
    assert(lock.createNewFile(), "test setup: lock should be free")
    assert(probe() == 17, "a second JVM must fail to take a held lock")
    assert(lock.delete())
    // the other process holds the lock -> our writers must fail loudly
    assert(probe() == 0, "a second JVM must acquire a free lock")
    val e = intercept[IllegalStateException] {
      Scale.writeSnapshotCdf(spark, t, Seq((2L, 20L)).toDF("k", "v"), "k")
    }
    assert(e.getMessage.contains("maintenance already in flight"),
      s"foreign lock must exclude our writers loudly: ${e.getMessage}")
    assert(lock.delete())
    // and the retry after the foreign process releases converges
    Scale.writeSnapshotCdf(spark, t, Seq((1L, 10L), (2L, 20L)).toDF("k", "v"), "k")
    assert(Scale.latestSnapshot(spark, t).contains(1L))
  }

  test("writeSnapshotIdempotent removes an orphan feed before committing") {
    import org.apache.hadoop.fs.Path
    val t = java.nio.file.Files.createTempDirectory("graft_cdf_orphan2").toString + "/t"
    val fs = new Path(t).getFileSystem(spark.sparkContext.hadoopConfiguration)
    Scale.writeSnapshotCdf(spark, t, Seq((1L, "a")).toDF("k", "s"), "k")
    Seq((9L, "junk")).toDF("k", "s").withColumn("_change_type", lit("insert"))
      .write.parquet(s"$t/_cdf/v=1")
    assert(Scale.writeSnapshotIdempotent(spark, t,
      Seq((1L, "b")).toDF("k", "s"), "tok-1").contains(1L))
    assert(!fs.exists(new Path(s"$t/_cdf/v=1")),
      "idempotent commit must delete the crashed CDF writer's orphan feed")
  }
}
