package graft

import org.apache.spark.sql.functions._
import graft.operators.{GraftTable, Scale}

/** The unified self-pruning read path: pointer resolution + MoR deletes
  * + manifest-driven file skipping from PUSHED-DOWN predicates, with no
  * explicit prune call at the read site.
  */
class GraftTableSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).resolve("t").toString

  // 4k rows, v clustered across 8 files by repartitionByRange
  private def clusteredDf = spark.range(4000)
    .select(col("id").as("k"), (col("id") % 4000).as("v"),
      concat(lit("cat"),
        lpad((col("id") / 500).cast("long").cast("string"), 2, "0")).as("s"))
    .repartitionByRange(8, col("v"))
    .sortWithinPartitions("v")

  test("snapshot table: plain filtered read prunes files via pushed-down range") {
    val path = tmp("gt_snap")
    Scale.writeSnapshot(spark, path, clusteredDf)
    GraftTable.buildIndex(spark, path, zoneCols = Seq("v"))
    val df = GraftTable.read(spark, path).filter(col("v") >= 100 && col("v") <= 400)
    val (read, total) = GraftTable.scanFiles(df)
    assert(total == 8, s"expected 8 files, saw $total")
    assert(read <= 2, s"zone pruning must skip files: read $read of $total")
    val got = df.select("k").as[Long].collect().sorted
    assert(got.toSeq == (100L to 400L).toSeq)
    // a range every zone misses reads no file and returns no row
    val empty = GraftTable.read(spark, path).filter(col("v").between(10000, 20000))
    assert(GraftTable.scanFiles(empty) == ((0L, 8L)))
    assert(empty.count() == 0L)
  }

  test("z-ordered layout: two zone entries prune a 2-D box") {
    // hashed points Morton-clustered into 16 files: each file covers a
    // tight (x, y) rectangle, so one zone entry per dimension is the
    // per-file bounding box and a box query reads only the files whose
    // rectangle intersects it on BOTH axes
    val pts = (0 until 32768).map { i =>
      val h = i.toLong * 0x9E3779B97F4A7C15L
      (i.toLong, (h >>> 10) & 255, (h >>> 30) & 255)
    }.toDF("id", "x", "y")
    val path = tmp("gt_zbox")
    Scale.zOrderBy(pts, "x", "y", numFiles = 16).write.parquet(path)
    GraftTable.buildIndex(spark, path, zoneCols = Seq("x", "y"))
    val box = col("x").between(32, 95) && col("y").between(160, 223)
    val df = GraftTable.read(spark, path).filter(box)
    val (read, total) = GraftTable.scanFiles(df)
    assert(total == 16 && read < total, s"2-D box must skip files: read $read of $total")
    val want = pts.filter(box).select("id").as[Long].collect().sorted
    assert(df.select("id").as[Long].collect().sorted.toSeq == want.toSeq)
    // a box outside the x domain reads no file and returns no row
    val empty = GraftTable.read(spark, path)
      .filter(col("x").between(1000, 2000) && col("y").between(0, 255))
    assert(GraftTable.scanFiles(empty) == ((0L, 16L)))
    assert(empty.count() == 0L)
  }

  test("all-NULL zone column in a file: index loads, file kept conservatively") {
    // one file's zone column is entirely NULL -> its manifest row has
    // NULL bounds; the read must not crash (regression: getLong NPE)
    // and must keep that file on every predicate (absent entry = keep)
    val path = tmp("gt_nullzone")
    val withNulls = spark.range(2000)
      .select(col("id").as("k"),
        when(col("id") < 1000, col("id")).as("v")) // file 0: all NULL v
      .repartitionByRange(4, col("v").asc_nulls_first)
    Scale.writeSnapshot(spark, path, withNulls)
    GraftTable.buildIndex(spark, path, zoneCols = Seq("v"))
    val df = GraftTable.read(spark, path).filter(col("v") >= 100 && col("v") <= 200)
    val got = df.select("k").as[Long].collect().sorted
    assert(got.toSeq == (100L to 200L).toSeq)
    // and an unfiltered read still returns every row incl. the null file
    assert(GraftTable.read(spark, path).count() == 2000L)
  }

  test("snapshot table: read resolves the LATEST version; time travel pins v0") {
    val path = tmp("gt_vers")
    Scale.writeSnapshot(spark, path, Seq((1L, 10L)).toDF("k", "v"))
    Scale.writeSnapshot(spark, path, Seq((2L, 20L), (3L, 30L)).toDF("k", "v"))
    val got = GraftTable.read(spark, path).select("k").as[Long].collect().sorted
    assert(got.toSeq == Seq(2L, 3L))
    val v0 = GraftTable.read(spark, path, Some(0L)).select("k").as[Long].collect()
    assert(v0.toSeq == Seq(1L))
    val e = intercept[IllegalArgumentException] {
      GraftTable.read(spark, path, Some(9L))
    }
    assert(e.getMessage.contains("does not exist"))
  }

  test("string zone pruning compares unsigned UTF-8, conservatively") {
    val path = tmp("gt_str")
    Scale.writeSnapshot(spark, path, clusteredDf
      .repartitionByRange(8, col("s")).sortWithinPartitions("s"))
    GraftTable.buildIndex(spark, path, zoneCols = Seq("s"))
    val df = GraftTable.read(spark, path).filter(col("s") === "cat03")
    val (read, total) = GraftTable.scanFiles(df)
    assert(total >= 7 && read <= 2, s"string zone must prune: $read of $total")
    assert(df.count() == 500)
  }

  test("bloom manifest prunes IN-list lookups on a scattered key") {
    val path = tmp("gt_bloom")
    // cluster by v but probe k — k scatters, zones on k are useless
    Scale.writeSnapshot(spark, path, spark.range(4000)
      .select((col("id") * 2654435761L % 4000).as("k"), col("id").as("v"))
      .repartitionByRange(8, col("v")))
    GraftTable.buildIndex(spark, path, bloomCols = Seq("k"))
    val probe = GraftTable.read(spark, path)
      .filter(col("k").isin(2L, 1338L, 3002L))
    val (read, total) = GraftTable.scanFiles(probe)
    assert(total == 8 && read <= 6, s"bloom must skip files: read $read of $total")
    val expected = spark.read.parquet(s"$path/v=0")
      .filter(col("k").isin(2L, 1338L, 3002L)).count()
    assert(probe.count() == expected)
    // absent keys: the result is exactly empty whatever the false positives
    val absent = GraftTable.read(spark, path).filter(col("k").isin(999999L, 888888L))
    assert(absent.count() == 0L)
  }

  test("merge-on-read: deletes applied AND pruning fires beneath the anti-join") {
    val path = tmp("gt_mor")
    Scale.writeMorBase(spark, path, clusteredDf)
    Scale.appendDeletes(spark, path, Seq(150L, 200L, 9999L).toDF("k"))
    GraftTable.buildIndex(spark, path, zoneCols = Seq("v"), morKey = Some("k"))
    val df = GraftTable.read(spark, path).filter(col("v").between(100, 400))
    val (read, total) = GraftTable.scanFiles(df)
    assert(total == 8 && read <= 2,
      s"zone pruning must push through the left-anti join: read $read of $total")
    val got = df.select("k").as[Long].collect().sorted
    assert(got.toSeq == ((100L to 400L).toSet -- Set(150L, 200L)).toSeq.sorted)
  }

  test("USING graft over merge-on-read: SQL == programmatic read, pruning beneath anti-join") {
    val path = tmp("gt_mor_sql")
    Scale.writeMorBase(spark, path, clusteredDf)
    Scale.appendDeletes(spark, path, Seq(150L, 200L, 9999L).toDF("k"))
    GraftTable.buildIndex(spark, path, zoneCols = Seq("v"), morKey = Some("k"))
    spark.sql("CREATE OR REPLACE TEMPORARY VIEW gt_mor_sql_v " +
      s"USING graft OPTIONS (path '$path')")
    val viaSql = spark.sql(
      "SELECT * FROM gt_mor_sql_v WHERE v BETWEEN 100 AND 400")
    // the rewritten plan's own numFiles proves skipping fired beneath
    // the planted delete anti-join
    val (read, total) = org.apache.spark.sql.graft.bridge.scanFileCounts(
      viaSql, _.isInstanceOf[graft.operators.GraftFileIndex])
    assert(total == 8 && read <= 2,
      s"SQL MoR read must prune files: read $read of $total")
    // byte-for-byte against the programmatic read: same rows, all columns
    val prog = GraftTable.read(spark, path).filter(col("v").between(100, 400))
    val a = viaSql.orderBy("k").collect().toSeq
    val b = prog.orderBy("k").collect().toSeq
    assert(a == b, s"SQL vs programmatic drift: ${a.take(3)} vs ${b.take(3)}")
    assert(a.map(_.getLong(0)).toSet == ((100L to 400L).toSet -- Set(150L, 200L)))
    // generation binding: a temp view freezes its plan at CREATE (same
    // contract as the snapshot views above — the V1 file listing is
    // also resolved then), so a later delete commit needs a view
    // re-create (or a fresh format("graft") read) to become visible
    Scale.appendDeletes(spark, path, Seq(300L).toDF("k"))
    val stale = spark.sql("SELECT k FROM gt_mor_sql_v WHERE v BETWEEN 100 AND 400")
      .as[Long].collect().toSet
    assert(stale == ((100L to 400L).toSet -- Set(150L, 200L)))
    spark.sql("CREATE OR REPLACE TEMPORARY VIEW gt_mor_sql_v " +
      s"USING graft OPTIONS (path '$path')")
    val fresh = spark.sql("SELECT k FROM gt_mor_sql_v WHERE v BETWEEN 100 AND 400")
      .as[Long].collect().toSet
    assert(fresh == ((100L to 400L).toSet -- Set(150L, 200L, 300L)))
    // the programmatic read always resolves live
    val live = GraftTable.read(spark, path).filter(col("v").between(100, 400))
      .select("k").as[Long].collect().toSet
    assert(live == fresh)
  }

  test("MoR rewrite guard: a same-arity, same-name RETYPE is a loud drift error, never a silent rebind") {
    // same arity, same names, but the key retyped long -> string: the
    // rewrite would otherwise alias the new column under the view
    // attribute's exprId while carrying the NEW type — downstream
    // operators bound to the old long type get a type-mismatched plan
    // (runtime cast errors or wrong semantics) instead of this error
    val path = tmp("gt_mor_retype")
    Scale.writeMorBase(spark, path, Seq((1L, "a"), (2L, "b")).toDF("k", "s"))
    GraftTable.buildIndex(spark, path, morKey = Some("k"))
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    val staleMarker = new graft.io.GraftMarkerRelation(spark, path, None,
      Seq((1L, "a")).toDF("k", "s").schema)
    val lr = LogicalRelation(staleMarker)
    val rule = graft.plans.GraftTableRewrite(spark)
    assert(rule(lr).collectLeaves().forall {
      case l: LogicalRelation => !l.relation.isInstanceOf[graft.io.GraftMarkerRelation]
      case _ => true
    })
    // REPLACE the base with k retyped to string (arity + names unchanged)
    Scale.writeMorBase(spark, path, Seq(("1", "a"), ("3", "c")).toDF("k", "s"))
    val e = intercept[IllegalArgumentException] { rule(lr) }
    assert(e.getMessage.contains("schema drift"),
      s"expected the loud drift error, got: ${e.getMessage.take(200)}")
  }

  test("no index: full scan, correct rows (pruning is pure optimization)") {
    val path = tmp("gt_noidx")
    Scale.writeSnapshot(spark, path, clusteredDf)
    val df = GraftTable.read(spark, path).filter(col("v") < 50)
    val (read, total) = GraftTable.scanFiles(df)
    assert(read == total)
    assert(df.count() == 50)
  }

  test("stale manifest (files rewritten in place) fails loudly") {
    val path = tmp("gt_stale")
    Scale.writeSnapshot(spark, path, clusteredDf)
    GraftTable.buildIndex(spark, path, zoneCols = Seq("v"))
    // rewrite the generation dir in place with DIFFERENT file layout
    clusteredDf.coalesce(2).write.mode("overwrite").parquet(s"$path/v=0")
    val e = intercept[IllegalArgumentException] {
      GraftTable.read(spark, path).filter(col("v") < 50).count()
    }
    assert(e.getMessage.contains("stale index manifest"))
  }

  test("unsupported predicate shapes keep all files (conservative)") {
    val path = tmp("gt_cons")
    Scale.writeSnapshot(spark, path, clusteredDf)
    GraftTable.buildIndex(spark, path, zoneCols = Seq("v"))
    // v % 2 is opaque to the interpreter — must read everything, return exact
    val df = GraftTable.read(spark, path).filter(pmod(col("v"), lit(797)) === 3)
    val (read, total) = GraftTable.scanFiles(df)
    assert(read == total)
    assert(df.count() == clusteredDf.filter(pmod(col("v"), lit(797)) === 3).count())
  }

  test("prefix predicate (startsWith) prunes string zones as [p, succ(p))") {
    val path = tmp("gt_prefix")
    Scale.writeSnapshot(spark, path, clusteredDf
      .repartitionByRange(8, col("s")).sortWithinPartitions("s"))
    GraftTable.buildIndex(spark, path, zoneCols = Seq("s"))
    val df = GraftTable.read(spark, path).filter(col("s").startsWith("cat03"))
    val (read, total) = GraftTable.scanFiles(df)
    assert(read < total, s"prefix pruning must skip files: $read of $total")
    assert(df.count() == 500)
    // LIKE 'p%' simplifies to StartsWith and prunes the same way
    val one = GraftTable.read(spark, path).filter(col("s").like("cat05%"))
    val (r1, t1) = GraftTable.scanFiles(one)
    assert(r1 < t1 && one.count() == 500)
  }

  test("USING graft SQL source: plain SQL over a view prunes files") {
    val path = tmp("gt_sql")
    Scale.writeSnapshot(spark, path, clusteredDf)
    GraftTable.buildIndex(spark, path, zoneCols = Seq("v"))
    // programmatic format("graft")
    val df = spark.read.format("graft").load(path)
      .filter(col("v").between(100, 400))
    val (read, total) = GraftTable.scanFiles(df)
    assert(total == 8 && read <= 2, s"format(graft) must prune: $read of $total")
    // pure-SQL surface: CREATE VIEW ... USING graft, filter in SQL
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW gt_sql_view " +
      s"USING graft OPTIONS (path '$path')")
    val viaSql = spark.sql(
      "SELECT count(*) AS n FROM gt_sql_view WHERE v BETWEEN 100 AND 400")
    val (r2, t2) = org.apache.spark.sql.graft.bridge.scanFileCounts(viaSql)
    assert(t2 == 8 && r2 <= 2, s"SQL view must prune: $r2 of $t2")
    assert(viaSql.head.getLong(0) == 301)
    // version pin through the source options
    Scale.writeSnapshot(spark, path, clusteredDf.limit(10))
    val pinned = spark.read.format("graft")
      .option("version", "0").load(path)
    assert(pinned.count() == 4000)
    // merge-on-read through format("graft"): the GraftTableRewrite rule
    // expands the marker — deletes applied, never silently skipped
    val morPath = tmp("gt_sql_mor")
    Scale.writeMorBase(spark, morPath, clusteredDf)
    Scale.appendDeletes(spark, morPath, Seq(1L).toDF("k"))
    GraftTable.buildIndex(spark, morPath, morKey = Some("k"))
    val mor = spark.read.format("graft").load(morPath)
    assert(mor.count() == 3999L)
    assert(mor.filter(col("k") === 1L).count() == 0L)
  }

  test("auto re-index: skipping survives compact + merge + commit, no explicit rebuild") {
    // plain indexed table → compact → merge: both maintenance writes
    // must leave a FRESH index over a still-clustered layout, so the
    // h12-style self-pruning read works with zero caller discipline
    val path = tmp("gt_autoidx")
    clusteredDf.write.parquet(path)
    GraftTable.buildIndex(spark, path, zoneCols = Seq("v"))
    val bytes = new java.io.File(path).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.length).sum
    Scale.compactParquet(spark, path, targetBytes = math.max(1L, bytes / 4))
    val afterCompact = GraftTable.read(spark, path)
      .filter(col("v").between(100, 400))
    val (r1, t1) = GraftTable.scanFiles(afterCompact)
    assert(t1 >= 3 && r1 < t1,
      s"compaction must keep clustering AND rebuild the index: read $r1 of $t1")
    assert(afterCompact.select("k").as[Long].collect().sorted.toSeq ==
      (100L to 400L).toSeq)

    // merge (upsert winning on s desc: "upd" > "cat…") — same contract
    val updates = (0L to 50L).map(i => (i, i, "upd")).toDF("k", "v", "s")
    Scale.mergeParquet(spark, path, updates, Seq("k"), Seq(col("s").desc))
    val afterMerge = GraftTable.read(spark, path)
      .filter(col("v").between(0, 50))
    val (r2, t2) = GraftTable.scanFiles(afterMerge)
    assert(r2 < t2, s"merge must rebuild the index: read $r2 of $t2")
    assert(afterMerge.filter(col("s") === "upd").count() == 51L)

    // snapshot table: a NEW commit inherits the previous version's spec
    val snap = tmp("gt_autoidx_snap")
    Scale.writeSnapshot(spark, snap, clusteredDf)
    GraftTable.buildIndex(spark, snap, zoneCols = Seq("v"))
    Scale.writeSnapshot(spark, snap, clusteredDf) // v=1, auto-indexed
    val v1 = GraftTable.read(spark, snap).filter(col("v").between(100, 400))
    val (r3, t3) = GraftTable.scanFiles(v1)
    assert(t3 == 8 && r3 <= 2,
      s"new snapshot version must inherit the skipping spec: read $r3 of $t3")
    // and v=0's own manifests still serve time travel
    val v0 = GraftTable.read(spark, snap, Some(0L)).filter(col("v") < 50)
    val (r4, t4) = GraftTable.scanFiles(v0)
    assert(r4 < t4 && v0.count() == 50)
  }

  test("MoR rewrite guard: a same-arity base rename/reorder is a loud drift error, never positional binding") {
    // the rewrite's race guard: a marker resolved against one base
    // generation, analyzed after a concurrent writer swapped in a
    // SAME-ARITY renamed/reordered one. Positional zip would silently
    // serve `v`-data as `k`; the guard must compare NAMES, not count.
    val path = tmp("gt_mor_rename")
    Scale.writeMorBase(spark, path, Seq((1L, 10L), (2L, 20L)).toDF("k", "v"))
    graft.operators.GraftTable.buildIndex(spark, path, morKey = Some("k"))
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    val staleMarker = new graft.io.GraftMarkerRelation(spark, path, None,
      Seq((1L, 10L)).toDF("k", "v").schema)
    val lr = LogicalRelation(staleMarker)
    val rule = graft.plans.GraftTableRewrite(spark)
    // same generation: rewrite succeeds and leaves no marker behind
    val ok = rule(lr)
    assert(ok.collectLeaves().forall {
      case l: LogicalRelation => !l.relation.isInstanceOf[graft.io.GraftMarkerRelation]
      case _ => true
    })
    Scale.writeMorBase(spark, path, Seq((10L, 1L), (20L, 2L)).toDF("v", "k"))
    val e = intercept[IllegalArgumentException] { rule(lr) }
    assert(e.getMessage.contains("schema drift"),
      s"expected a loud schema-drift error, got: ${e.getMessage.take(200)}")
  }

  test("schema-drift commit on an indexed snapshot table: commit survives, index sheds the lost column") {
    val path = tmp("gt_drift")
    Scale.writeSnapshot(spark, path, clusteredDf)
    GraftTable.buildIndex(spark, path, zoneCols = Seq("v", "k"))
    // v=1 drops `v` entirely — the commit is durable before reindexAuto
    // runs, so auto re-index must NOT throw (a post-swap exception would
    // poison this and every later commit); `k` keeps its skipping
    Scale.writeSnapshot(spark, path,
      clusteredDf.drop("v").repartitionByRange(8, col("k")))
    val byK = GraftTable.read(spark, path).filter(col("k").between(0, 400))
    val (r1, t1) = GraftTable.scanFiles(byK)
    assert(t1 == 8 && r1 <= 2,
      s"surviving column must keep skipping after drift: read $r1 of $t1")
    assert(byK.count() == 401L)
    // v=2 retypes `k` to double — no zone-indexable column survives;
    // the commit must still succeed and the read fall back to keep-all
    Scale.writeSnapshot(spark, path,
      clusteredDf.drop("v").withColumn("k", col("k").cast("double")))
    assert(GraftTable.read(spark, path).count() == 4000L)
    // v=3 re-admits a long `k`: v=2 indexed NOTHING, so the spec comes
    // from v=1's manifests (k alone — `v` left the spec when k survived
    // it at v=1) and k's skipping resurrects with no manual call
    Scale.writeSnapshot(spark, path,
      clusteredDf.drop("v").repartitionByRange(8, col("k")))
    val back = GraftTable.read(spark, path).filter(col("k").between(100, 400))
    val (r2, t2) = GraftTable.scanFiles(back)
    assert(t2 == 8 && r2 <= 2,
      s"re-admitted column must resurrect skipping: read $r2 of $t2")
  }

  test("vacuumSnapshots sweeps vacuumed versions' _index manifests, keeps survivors'") {
    val path = tmp("gt_vacidx")
    Scale.writeSnapshot(spark, path, clusteredDf)
    GraftTable.buildIndex(spark, path, zoneCols = Seq("v"))
    Scale.writeSnapshot(spark, path, clusteredDf) // v=1, auto-indexed
    Scale.writeSnapshot(spark, path, clusteredDf) // v=2, auto-indexed
    val idx = new java.io.File(s"$path/_index")
    assert(idx.listFiles().map(_.getName).toSet == Set("v=0", "v=1", "v=2"))
    val victims = Scale.vacuumSnapshots(spark, path, keepLast = 1)
    assert(victims == Seq(0L, 1L))
    // metadata goes with the data: no orphaned manifest trees
    assert(idx.listFiles().map(_.getName).toSet == Set("v=2"))
    // the surviving version's skipping is untouched
    val df = GraftTable.read(spark, path).filter(col("v").between(100, 400))
    val (read, total) = GraftTable.scanFiles(df)
    assert(total == 8 && read <= 2, s"read $read of $total")
  }

  test("disjunction prunes to the union of branch survivors") {
    val path = tmp("gt_or")
    Scale.writeSnapshot(spark, path, clusteredDf)
    GraftTable.buildIndex(spark, path, zoneCols = Seq("v"))
    val df = GraftTable.read(spark, path)
      .filter(col("v") === 10 || col("v") === 3900)
    val (read, total) = GraftTable.scanFiles(df)
    assert(total == 8 && read <= 3, s"OR pruning: read $read of $total")
    assert(df.count() == 2)
  }
}
