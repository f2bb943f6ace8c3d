package graft

import org.apache.spark.sql.functions._
import graft.operators.Relational

class RelationalOpsSpec extends SparkSpec {
  import spark.implicits._

  test("dedupLatest keeps exactly the newest row per key") {
    val df = Seq(
      (1, "2020-01-01", "old"), (1, "2021-06-01", "new"),
      (2, "2019-01-01", "only"),
      (3, "2020-05-05", "tie-a"), (3, "2020-05-05", "tie-b")
    ).toDF("id", "d", "tag").withColumn("d", col("d").cast("date"))
    val out = Relational.dedupLatest(df, Seq("id"), Seq(col("d").desc, col("tag").desc))
      .orderBy("id").collect()
    assert(out.map(_.getString(2)).toSeq == Seq("new", "only", "tie-b"))
  }

  test("dedupLatest keeps one row for a null key group (reference behavior)") {
    val df = Seq(
      (Some(1), "2020-01-01"), (None, "2020-01-01"), (None, "2021-01-01")
    ).toDF("id", "d").withColumn("d", col("d").cast("date"))
    val out = Relational.dedupLatest(df, Seq("id"), Seq(col("d").desc))
    assert(out.count() == 2)
    assert(out.filter(col("id").isNull).count() == 1)
  }

  test("scd2EndDate: end = next start - 1 day, last version open") {
    val df = Seq(
      ("p1", "2020-01-01"), ("p1", "2020-06-01"), ("p1", "2021-01-01"),
      ("p2", "2020-03-01")
    ).toDF("k", "start").withColumn("start", col("start").cast("date"))
    val out = Relational.scd2EndDate(df, Seq("k"), "start", "end")
      .orderBy("k", "start").collect()
    assert(out.map(r => Option(r.getDate(2)).map(_.toString)).toSeq ==
      Seq(Some("2020-05-31"), Some("2020-12-31"), None, None))
  }

  test("surrogateKey is a dense 1..N permutation following the sort") {
    val df = Seq(30, 10, 20).toDF("v")
    val out = Relational.surrogateKey(df, "sk", Seq(col("v").asc))
      .orderBy("sk").collect()
    assert(out.map(r => (r.getLong(1), r.getInt(0))).toSeq ==
      Seq((1L, 10), (2L, 20), (3L, 30)))
  }

  test("surrogateKeyScalable matches surrogateKey on the same order") {
    val df = (1 to 500).map(i => (i * 7919) % 1000).toDF("v")
    val a = Relational.surrogateKey(df, "sk", Seq(col("v").asc, col("v").asc))
    val b = Relational.surrogateKeyScalable(
      df.repartition(8), "sk", col("v"), Seq(col("v").asc))
    // same multiset of (v, sk) pairs requires identical dense ranks per
    // duplicate-free slice; compare the sorted v sequence keyed by sk
    val av = a.orderBy("sk").select("v").as[Int].collect().toSeq
    val bv = b.orderBy("sk").select("v").as[Int].collect().toSeq
    assert(av == bv)
    assert(b.select("sk").as[Long].collect().sorted.toSeq == (1L to 500L))
  }

  test("surrogateKeyScalable: NULL rankKeys are keyed NULLS-FIRST, never dropped") {
    // mixed null / non-null: nulls take the lowest keys, values follow
    val df = Seq[(java.lang.Integer, String)](
      (30, "c"), (null, "x"), (10, "a"), (null, "y"), (20, "b"))
      .toDF("v", "tag")
    val out = Relational.surrogateKeyScalable(
      df.repartition(4), "sk", col("v"),
      Seq(col("v").asc_nulls_first, col("tag").asc))
    assert(out.count() == 5L) // no silent row loss
    assert(out.select("sk").as[Long].collect().sorted.toSeq == (1L to 5L))
    val bySk = out.orderBy("sk").select("tag").as[String].collect().toSeq
    assert(bySk == Seq("x", "y", "a", "b", "c"), bySk.toString)

    // all-NULL rankKey: still keys every row (regression: the empty-input
    // early exit used to swallow this case)
    val allNull = Seq[(java.lang.Integer, String)]((null, "p"), (null, "q"))
      .toDF("v", "tag")
    val an = Relational.surrogateKeyScalable(
      allNull, "sk", col("v"), Seq(col("tag").asc))
    assert(an.orderBy("sk").select("tag").as[String].collect().toSeq ==
      Seq("p", "q"))

    // genuinely empty input: schema kept, zero rows
    val empty = Relational.surrogateKeyScalable(
      df.where(lit(false)), "sk", col("v"), Seq(col("tag").asc))
    assert(empty.count() == 0L && empty.columns.contains("sk"))
  }

  test("scalable rank operators on {empty, some NULL, all NULL} keys") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.types.LongType
    // prefix sum and ntile reject NULL keys loudly (a NULL bucket used
    // to be dropped by the offsets join, or the all-NULL input returned
    // NULL columns); the surrogate key ranks NULL keys first
    val ops: Seq[(String, DataFrame => DataFrame, Boolean)] = Seq(
      ("prefix", Relational.prefixSumScalable(_, "v", "n", "out", buckets = 3), true),
      ("ntile", Relational.ntileScalable(_, 2, col("v"),
        Seq(col("v").asc_nulls_first, col("tag").asc), "out", buckets = 3), true),
      ("surrogate", Relational.surrogateKeyScalable(_, "out", col("v"),
        Seq(col("v").asc_nulls_first, col("tag").asc), buckets = 3), false))
    val some = Seq[(java.lang.Long, Long, String)](
      (30L, 1L, "c"), (null, 2L, "x"), (10L, 3L, "a"), (null, 4L, "y"), (20L, 5L, "b"))
      .toDF("v", "n", "tag").repartition(3)
    val allNull = some.withColumn("v", lit(null).cast("long"))
    val inputs = Seq(("empty", some.where(lit(false))), ("some NULL", some), ("all NULL", allNull))
    val surrogateTags = Map("some NULL" -> Seq("x", "y", "a", "b", "c"),
      "all NULL" -> Seq("a", "b", "c", "x", "y"))
    for ((op, f, rejects) <- ops; (input, df) <- inputs) {
      val clue = s"$op on $input"
      if (input == "empty") {
        val out = f(df)
        assert(out.count() == 0L, clue)
        assert(out.schema("out").dataType == LongType, clue)
        // the empty schemas are pinned: NULL-valued for prefix/ntile, 0L for the key
        assert(out.schema("out").nullable == rejects, clue)
      } else if (rejects) {
        val e = intercept[IllegalArgumentException](f(df).collect())
        val nulls = df.filter(col("v").isNull).count()
        assert(e.getMessage.contains(s"has $nulls NULL values"), s"$clue: ${e.getMessage}")
      } else {
        val out = f(df)
        assert(out.select("out").as[Long].collect().sorted.toSeq == (1L to 5L), clue)
        assert(out.orderBy("out").select("tag").as[String].collect().toSeq ==
          surrogateTags(input), clue)
      }
    }
  }

  test("asofJoin: greatest right time <= left time, ties inclusive, unmatched null") {
    val left = Seq((1, 10L, "a"), (1, 20L, "b"), (1, 5L, "c"), (2, 50L, "d"))
      .toDF("k", "lt", "tag")
    val right = Seq((1, 10L, 100), (1, 15L, 150), (3, 1L, 999))
      .toDF("k", "rt", "px")
    val out = Relational.asofJoin(left, right, "k", "lt", "rt", Seq("px"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getString(2),
        if (r.isNullAt(3)) -1 else r.getInt(3))).toSet
    assert(out == Set(
      (1, 10L, "a", 100),  // tie at t=10 is inclusive
      (1, 20L, "b", 150),  // latest <= 20 is 15
      (1, 5L, "c", -1),    // nothing at or before 5
      (2, 50L, "d", -1)))  // key with no right rows
  }

  test("asofJoin keeps whole-row payload semantics when the matched row has NULL fields") {
    // the most recent right row (t=20) has px=NULL but qty=7; an older row
    // (t=10) has px=100. The left row at t=25 must see (NULL, 7) — the
    // matched row intact — never (100, 7) stitched from two right rows.
    val left = Seq((1, 25L, "a")).toDF("k", "lt", "tag")
    val right = Seq((1, 10L, Some(100), 5), (1, 20L, None, 7))
      .toDF("k", "rt", "px", "qty")
    val r = Relational.asofJoin(left, right, "k", "lt", "rt", Seq("px", "qty")).head()
    assert(r.isNullAt(3), s"px must stay NULL from the t=20 row: $r")
    assert(r.getInt(4) == 7)
  }

  test("sessionize splits on gaps larger than the threshold") {
    val us = 1000000L
    val df = Seq(
      (1L, 0L * us), (1L, 60L * us), (1L, 4000L * us), (1L, 4030L * us),
      (2L, 10L * us)
    ).toDF("user_id", "ts_us")
    val out = Relational.sessionize(df, "user_id", "ts_us", 1800L * us)
      .groupBy("user_id", "session_idx").count()
      .orderBy("user_id", "session_idx")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(out == Seq((1L, 1L, 2L), (1L, 2L, 2L), (2L, 1L, 1L)))
  }

  test("upsertCdc: tombstone wins in-merge; a later stale update resurrects (documented tradeoff)") {
    val order = Seq(col("version").desc)
    val base = Seq((1L, 1L, "a")).toDF("k", "version", "payload")
    // tombstone v3 beats the v1 row within one merge
    val afterDelete = Relational.upsertCdc(base,
      Seq((1L, 3L, "", true)).toDF("k", "version", "payload", "deleted"),
      Seq("k"), order, "deleted")
    assert(afterDelete.count() == 0)
    assert(!afterDelete.columns.contains("deleted"))
    // the snapshot retains no tombstone, so a stale v2 arriving in a
    // LATER merge resurrects the key — the documented retention tradeoff
    val resurrected = Relational.upsertCdc(afterDelete,
      Seq((1L, 2L, "late", false)).toDF("k", "version", "payload", "deleted"),
      Seq("k"), order, "deleted")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(resurrected == Set((1L, 2L, "late")))
  }

  test("prefixSumScalable equals the global-window cumsum for any bucket count") {
    // Sparse, unordered, negative-value input exercises bucket-boundary
    // handoffs: every bucket's local cumsum must continue exactly where
    // the previous bucket's total left off, for 1 bucket (degenerate:
    // one global window) through more buckets than rows.
    val rows = Seq((7L, 3L), (1L, -2L), (100L, 10L), (42L, 0L), (13L, 5L), (99L, -1L))
    val df = rows.toDF("id", "v").repartition(4)
    val expected = rows.sortBy(_._1)
      .scanLeft((0L, 0L)) { case ((_, acc), (id, v)) => (id, acc + v) }.drop(1)
    for (b <- Seq(1, 2, 3, 64)) {
      val got = Relational.prefixSumScalable(df, "id", "v", "cum", buckets = b)
        .orderBy("id").select("id", "cum")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(got == expected, s"buckets=$b")
    }
  }

  test("prefixSumScalable: closed-form check at 10k rows") {
    val df = (1L to 10000L).map(i => (i, i % 7)).toDF("id", "v")
    val out = Relational.prefixSumScalable(df, "id", "v", "cum", buckets = 16)
    // cum(id=n) for v = id%7, n = 9999
    val at9999 = out.filter(col("id") === 9999L).head().getAs[Long]("cum")
    assert(at9999 == (1L to 9999L).map(_ % 7).sum)
  }

  test("ntileScalable matches the global-window ntile bit-for-bit") {
    import org.apache.spark.sql.expressions.Window
    // Heavy ties (score = id % 23 collapses ~43 ids per score at n=997),
    // n not divisible by k, and a DESCENDING order — the t35 shape. The
    // bucket assignment must equal ntile's first-(n mod k)-tiles-get-
    // the-extra-row split for every row, for bucket counts from
    // degenerate 1 (== one global window) through more than distinct
    // key values.
    val df = (1L to 997L).map(i => (i, i % 23)).toDF("id", "score").repartition(5)
    for (k <- Seq(1, 3, 4, 10); b <- Seq(1, 7, 64)) {
      val w = Window.orderBy(col("score").desc, col("id").asc)
      val expected = df.withColumn("t", ntile(k).over(w).cast("long"))
        .orderBy("id").select("id", "t")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      val got = Relational.ntileScalable(df, k, -col("score"),
          Seq(col("score").desc, col("id").asc), "t", buckets = b)
        .orderBy("id").select("id", "t")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(got == expected, s"k=$k buckets=$b")
    }
  }

  test("ntileScalable: n < k gives each row its own tile; empty input is null-tiled") {
    val tiny = Seq((1L, 5L), (2L, 9L)).toDF("id", "score")
    val got = Relational.ntileScalable(tiny, 5, col("score"),
        Seq(col("score").asc, col("id").asc), "t")
      .orderBy("t").select("id", "t")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    // ascending score: id=1 (score 5) ranks first
    assert(got == Seq((1L, 1L), (2L, 2L)))
    val empty = spark.emptyDataFrame.withColumn("id", lit(0L)).filter(lit(false))
      .select(col("id"), col("id").as("score"))
    val out = Relational.ntileScalable(empty, 3, col("score"), Seq(col("id")), "t")
    assert(out.columns.contains("t") && out.count() == 0)
  }
}
