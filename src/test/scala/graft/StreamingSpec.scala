package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.streaming.{EventStreams, StreamExec}
import graft.streaming.EventStreams.Event
import graft.streaming.StreamExec.{Arrivals, Callback, Sliced, Update}
import graft.operators.Relational

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private val us = 1000000L
  private def ev(id: Long, tsSec: Long, user: Long, typ: String = "click") =
    Event(id, tsSec * us, user, typ, 1.0)
  private def evUs(id: Long, tsUs: Long, user: Long) =
    Event(id, tsUs, user, "click", 1.0)

  test("windowedCounts over a MemoryStream matches the batch twin") {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[Event]
    mem.addData(
      ev(1, 100, 1), ev(2, 200, 1, "buy"), ev(3, 3700, 2), ev(4, 3800, 2))
    val q = EventStreams.windowedCounts(mem.toDF(), "1 hour", "10 minutes")
      .writeStream.format("memory").queryName("wc_out")
      .outputMode("complete").start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("wc_out")
      .select("bucket", "event_type", "cnt")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val batch = EventStreams.windowedCounts(
      Seq(ev(1, 100, 1), ev(2, 200, 1, "buy"), ev(3, 3700, 2), ev(4, 3800, 2)).toDF(),
      "1 hour", "10 minutes")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(streamed == batch)
    assert(streamed == Set((0L, "click", 1L), (0L, "buy", 1L), (3600L, "click", 2L)))
  }

  test("slidingCounts: every event lands in exactly window/slide overlapping buckets") {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[Event]
    // ts 100 s -> windows starting -1800 and 0; ts 1900 s -> 0 and 1800
    mem.addData(ev(1, 100, 1), ev(2, 1900, 1), ev(3, 1900, 2, "buy"))
    val q = EventStreams.slidingCounts(mem.toDF(), "1 hour", "30 minutes", "10 minutes")
      .writeStream.format("memory").queryName("sc_out")
      .outputMode("complete").start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("sc_out")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(got == Set(
      (-1800L, "click", 1L), (0L, "click", 2L), (1800L, "click", 1L),
      (0L, "buy", 1L), (1800L, "buy", 1L)), got.toString)
    // the overlap law: total assignments = 2x events
    assert(got.toSeq.map(_._3).sum == 6L)
  }

  test("streaming sessionize closes sessions after the gap via event-time timeout") {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = EventStreams.sessionize(mem.toDS(), gapUs = 1800L * us)
      .writeStream.format("memory").queryName("sess_out")
      .outputMode("append").start()
    // session 1: two events close together; then a far-future event moves
    // the watermark past session 1's timeout so it emits
    mem.addData(ev(1, 100, 7), ev(2, 200, 7))
    q.processAllAvailable()
    mem.addData(ev(3, 100000, 7))
    q.processAllAvailable()
    mem.addData(ev(4, 200000, 7))
    q.processAllAvailable()
    q.stop()
    val sessions = spark.table("sess_out").as[EventStreams.Session].collect()
    assert(sessions.exists(s =>
      s.user_id == 7 && s.session_start_us == 100 * us &&
        s.session_end_us == 200 * us && s.n_events == 2))
  }

  test("transformWithState sessionize: named state + explicit timers close sessions") {
    implicit val sq = spark.sqlContext
    // the API requires the RocksDB provider; scope it to this query
    val key = "spark.sql.streaming.stateStore.providerClass"
    val saved = spark.conf.getOption(key)
    try {
      spark.conf.set(key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      val mem = MemoryStream[Event]
      val q = EventStreams.sessionizeTws(mem.toDS(), gapUs = 1800L * us)
        .writeStream.format("memory").queryName("tws_out")
        .outputMode("append").start()
      // same script as the flatMapGroupsWithState twin: two close events,
      // then far-future advancers fire the registered close-timer
      mem.addData(ev(1, 100, 7), ev(2, 200, 7))
      q.processAllAvailable()
      mem.addData(ev(3, 100000, 7))
      q.processAllAvailable()
      mem.addData(ev(4, 200000, 7))
      q.processAllAvailable()
      q.stop()
      val sessions = spark.table("tws_out").as[EventStreams.Session].collect()
      assert(sessions.exists(s =>
        s.user_id == 7 && s.session_start_us == 100 * us &&
          s.session_end_us == 200 * us && s.n_events == 2),
        sessions.mkString(", "))
    } finally saved match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("file-source streaming: new parquet files picked up incrementally") {
    val dir = java.nio.file.Files.createTempDirectory("graft_stream_in").toString
    val batch1 = Seq(ev(1, 100, 1), ev(2, 200, 2)).toDF()
    batch1.write.mode("append").parquet(dir)
    val stream = spark.readStream.schema(batch1.schema).parquet(dir)
    val q = EventStreams.windowedCounts(stream, "1 hour", "10 minutes")
      .writeStream.format("memory").queryName("fs_out")
      .outputMode("complete").start()
    q.processAllAvailable()
    val n1 = spark.table("fs_out").agg(sum("cnt")).head().getLong(0)
    assert(n1 == 2)
    Seq(ev(3, 300, 3), ev(4, 4000, 4)).toDF().write.mode("append").parquet(dir)
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("fs_out").collect()
      .map(r => (r.getLong(0), r.getLong(2))).groupBy(_._1).view.mapValues(_.map(_._2).sum)
    assert(rows.toMap == Map(0L -> 3L, 3600L -> 1L)) // second batch landed
  }

  test("streaming dedup keeps one row per fingerprint across micro-batches") {
    import graft.streaming.StreamOps
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(Long, Long, String)]
    val toDocs = (df: org.apache.spark.sql.DataFrame) => df
      .toDF("doc_id", "ts_us", "text")
      .withColumn("ts_ts", timestamp_micros(col("ts_us")))
    mem.addData((1L, 100L * us, "spark  makes big data SMALL"),
      (2L, 110L * us, "spark makes big data small"),   // dup of 1 (normalized)
      (3L, 120L * us, "entirely different"))
    val q = StreamOps.dedupStream(toDocs(mem.toDF()), "ts_ts", "text", "10 minutes")
      .writeStream.format("memory").queryName("dd_out").outputMode("append").start()
    q.processAllAvailable()
    // second batch: another dup of doc 1 within the watermark + a fresh doc
    mem.addData((4L, 130L * us, "SPARK MAKES BIG DATA SMALL"),
      (5L, 140L * us, "brand new content"))
    q.processAllAvailable(); q.stop()
    val kept = spark.table("dd_out").select("doc_id").as[Long].collect().toSet
    assert(kept.intersect(Set(1L, 2L, 4L)).size == 1, s"dups not collapsed: $kept")
    assert(kept.contains(3L) && kept.contains(5L))
  }

  test("streaming dedup recovers fingerprint state across a checkpointed restart") {
    import graft.streaming.StreamOps
    implicit val sq = spark.sqlContext
    val ckpt = java.nio.file.Files.createTempDirectory("graft_dd_ckpt").toString
    val out = java.nio.file.Files.createTempDirectory("graft_dd_out").toString
    val mem = MemoryStream[(Long, Long, String)]
    val toDocs = (df: org.apache.spark.sql.DataFrame) => df
      .toDF("doc_id", "ts_us", "text")
      .withColumn("ts_ts", timestamp_micros(col("ts_us")))
    def start() = StreamOps.dedupStream(toDocs(mem.toDF()), "ts_ts", "text", "10 minutes")
      .drop("ts_ts") // parquet sink needs no extra cols; fp stays for debug
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .outputMode("append").start()
    // run 1: doc 1 emits and its fingerprint enters the dedup state
    val q1 = start()
    mem.addData((1L, 100L * us, "spark makes big data small"),
      (3L, 120L * us, "entirely different"))
    q1.processAllAvailable(); q1.stop()
    // run 2: restart from the checkpoint; a normalized dup of doc 1
    // arrives within the watermark — it is suppressed ONLY if the
    // fingerprint state survived the restart
    val q2 = start()
    mem.addData((4L, 130L * us, "SPARK  MAKES BIG DATA SMALL"),
      (5L, 140L * us, "brand new content"))
    q2.processAllAvailable(); q2.stop()
    val kept = spark.read.parquet(out).select("doc_id").as[Long].collect().toSet
    assert(kept.contains(1L) && kept.contains(3L) && kept.contains(5L), s"missing firsts: $kept")
    assert(!kept.contains(4L),
      s"post-restart dup re-emitted — dedup state was lost across restart: $kept")
  }

  test("CDC latestByKey suppresses stale versions, emits only advances") {
    import graft.streaming.StreamOps
    import graft.streaming.StreamOps.Change
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[Change]
    val q = StreamOps.latestByKey(mem.toDS())
      .writeStream.format("memory").queryName("cdc_out").outputMode("update").start()
    mem.addData(Change(1, 1, "a1"), Change(2, 5, "b5"))
    q.processAllAvailable()
    mem.addData(Change(1, 3, "a3"), Change(2, 2, "b2-stale"))
    q.processAllAvailable()
    mem.addData(Change(1, 2, "a2-stale"))
    q.processAllAvailable(); q.stop()
    val out = spark.table("cdc_out").as[Change].collect()
    // per key: latest version per emission round, stale rows suppressed
    assert(out.count(_.key == 1) == 2) // v1 then v3; v2 suppressed
    assert(out.count(_.key == 2) == 1) // v5; v2 suppressed
    val last = out.filter(_.key == 1).maxBy(_.version)
    assert(last.version == 3 && last.payload == "a3")
    // agrees with the batch upsert twin (newest version wins)
    val batch = graft.operators.Relational.upsert(
      Seq((1L, 1L, "a1"), (2L, 5L, "b5")).toDF("key", "version", "payload"),
      Seq((1L, 3L, "a3"), (1L, 2L, "a2-stale"), (2L, 2L, "b2-stale"))
        .toDF("key", "version", "payload"),
      Seq("key"), Seq(col("version").desc))
      .as[(Long, Long, String)].collect().map(c => c._1 -> c._2).toMap
    assert(batch == Map(1L -> 3L, 2L -> 5L))
  }

  test("sessionize recovers state across a checkpointed restart") {
    implicit val sq = spark.sqlContext
    val ckpt = java.nio.file.Files.createTempDirectory("graft_sess_ckpt").toString
    val out = java.nio.file.Files.createTempDirectory("graft_sess_out").toString
    val mem = MemoryStream[Event]
    def start() = EventStreams.sessionize(mem.toDS(), gapUs = 1800L * us)
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .outputMode("append").start()
    // run 1: open a session for user 7, then STOP with it still in state
    val q1 = start()
    mem.addData(ev(1, 100, 7), ev(2, 200, 7))
    q1.processAllAvailable(); q1.stop()
    // run 2: restart from the checkpoint; the far-future events advance
    // the watermark past the recovered session's timeout, so it can only
    // emit if the pre-restart state survived
    val q2 = start()
    mem.addData(ev(3, 100000, 7))
    q2.processAllAvailable()
    mem.addData(ev(4, 200000, 7))
    q2.processAllAvailable(); q2.stop()
    val emitted = spark.read.parquet(out).as[EventStreams.Session].collect().toSet
    assert(emitted.contains(EventStreams.Session(7, 100 * us, 200 * us, 2)),
      s"pre-restart session state was lost: $emitted")
    // batch-twin equivalence: every emitted (closed) session appears in the
    // batch sessionization of the full event sequence
    val batchAll = EventStreams.sessionizeBatch(
      Seq(ev(1, 100, 7), ev(2, 200, 7), ev(3, 100000, 7), ev(4, 200000, 7)).toDS(),
      1800L * us).collect().toSet
    assert(emitted.subsetOf(batchAll), s"streamed $emitted not in batch twin $batchAll")
  }

  test("latestByKey (TTL path) recovers version state across a restart") {
    import graft.streaming.StreamOps
    import graft.streaming.StreamOps.Change
    implicit val sq = spark.sqlContext
    val ckpt = java.nio.file.Files.createTempDirectory("graft_cdc_ckpt").toString
    val got = java.util.Collections.synchronizedList(
      new java.util.ArrayList[(Long, Long, String)]())
    val mem = MemoryStream[Change]
    def start() = StreamOps.latestByKey(mem.toDS(), idleTtl = Some("1 hour"))
      .writeStream.outputMode("update")
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[Change], _: Long) =>
        batch.collect().foreach(c => { got.add((c.key, c.version, c.payload)); () }); ()
      }.start()
    // NOTE: no processAllAvailable here — with ProcessingTimeTimeout the
    // engine reruns (empty) batches every trigger to fire timers, so
    // processAllAvailable never settles. Poll emitted rows / progress.
    def await(what: String)(cond: => Boolean): Unit = {
      val t0 = System.currentTimeMillis
      while (!cond && System.currentTimeMillis - t0 < 60000) Thread.sleep(100)
      assert(cond, s"timed out waiting for $what")
    }
    def rows = got.toArray.toSeq.asInstanceOf[Seq[(Long, Long, String)]]
    val q1 = start()
    mem.addData(Change(1, 5, "a5"))
    await("v5 emitted")(rows.contains((1L, 5L, "a5")))
    q1.stop()
    // restart: send the stale v3 ALONE first — if the recovered state
    // still knows key 1 is at v5 it is suppressed; if state was lost the
    // engine would emit it as "new". Wait for its batch to commit before
    // sending the advancing v7.
    val q2 = start()
    mem.addData(Change(1, 3, "a3-stale"))
    await("stale batch processed")(
      q2.recentProgress.map(_.numInputRows).sum >= 1)
    mem.addData(Change(1, 7, "a7"))
    await("v7 emitted")(rows.contains((1L, 7L, "a7")))
    q2.stop()
    assert(!rows.exists(_._2 == 3L),
      s"stale version re-emitted after restart — state lost: $rows")
  }

  test("CDC chain: latestByKey suppression feeds the incremental merge sink") {
    import graft.streaming.StreamOps
    import graft.streaming.StreamOps.Change
    implicit val sq = spark.sqlContext
    val tbl = java.nio.file.Files.createTempDirectory("graft_chain_gold").toString + "/t"
    val ckpt = java.nio.file.Files.createTempDirectory("graft_chain_ckpt").toString
    val mem = MemoryStream[Change]
    // stateful stale-version suppression upstream, partition-scoped merge
    // downstream — one streaming query, update mode end to end
    val q = StreamOps.mergeParquetSink(
      StreamOps.latestByKey(mem.toDS()).toDF()
        .withColumn("part", (col("key") % 2).cast("int")),
      tbl, Seq("key"), Seq(col("version").desc), ckpt,
      partitionCol = Some("part"))
    mem.addData(Change(1, 1, "a1"), Change(2, 5, "b5"))
    q.processAllAvailable()
    mem.addData(Change(1, 3, "a3"), Change(2, 2, "b2-stale"), Change(3, 1, "c1"))
    q.processAllAvailable(); q.stop()
    val got = spark.read.parquet(tbl)
      .select("key", "version", "payload")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(got == Set((1L, 3L, "a3"), (2L, 5L, "b5"), (3L, 1L, "c1")),
      s"CDC chain produced: $got")
  }

  test("batch sessionize agrees with the window-based operator") {
    val events = (1 to 200).map { i =>
      ev(i.toLong, i.toLong * 600 * (i % 7 + 1) % 500000, i % 5 + 1)
    }
    val viaState = EventStreams.sessionizeBatch(events.toDS(), 1800L * us)
      .groupBy("user_id").agg(count(lit(1)).as("n_sessions"),
        sum("n_events").as("n_events"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val viaWindow = Relational.sessionize(events.toDF(), "user_id", "ts_us", 1800L * us,
        order = Seq(col("ts_us").asc, col("event_id").asc))
      .groupBy("user_id").agg(countDistinct("session_idx").as("n_sessions"),
        count(lit(1)).as("n_events"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(viaState == viaWindow)
  }

  test("mergeParquetSink: CDC stream incrementally refreshes a partitioned gold table") {
    import graft.streaming.StreamOps
    import graft.operators.Scale
    implicit val sq = spark.sqlContext
    val tbl = java.nio.file.Files.createTempDirectory("graft_cdc_gold").toString + "/t"
    val ckpt = java.nio.file.Files.createTempDirectory("graft_cdc_ckpt").toString
    val mem = MemoryStream[(Long, Long, String, Int)]
    val order = Seq(col("version").desc, col("payload").desc) // total per (k, version)
    val q = StreamOps.mergeParquetSink(
      mem.toDF().toDF("k", "version", "payload", "part"),
      tbl, Seq("k"), order, ckpt, partitionCol = Some("part"))
    // batch 0 bootstraps the table
    val b0 = (1L to 60L).map(k => (k, 1L, s"v1-$k", (k % 3).toInt))
    mem.addData(b0: _*)
    q.processAllAvailable()
    assert(spark.read.parquet(tbl).count() == 60)
    def files(part: Int) = new java.io.File(s"$tbl/part=$part").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getName).toSet
    val p1Before = files(1)
    val p2Before = files(2)
    // batch 1 touches only part=0 (+ a brand-new part=3)
    val b1 = Seq((3L, 2L, "v2-3", 0), (999L, 1L, "new", 0), (1000L, 1L, "p3", 3))
    mem.addData(b1: _*)
    q.processAllAvailable(); q.stop()
    val got = spark.read.parquet(tbl)
      .select("k", "version", "payload", "part").collect().map(_.toSeq).toSet
    val expected = Relational.upsert(
      b0.toDF("k", "version", "payload", "part"),
      b1.toDF("k", "version", "payload", "part"), Seq("k"), order)
      .select("k", "version", "payload", "part").collect().map(_.toSeq).toSet
    assert(got == expected)
    assert(files(1) == p1Before && files(2) == p2Before,
      "partitions untouched by the batch were rewritten")
    // foreachBatch replay after a crash re-delivers the last batch:
    // re-merging it must be a no-op on content
    Scale.mergeParquet(spark, tbl, b1.toDF("k", "version", "payload", "part"),
      Seq("k"), order, partitionCol = Some("part"))
    val afterReplay = spark.read.parquet(tbl)
      .select("k", "version", "payload", "part").collect().map(_.toSeq).toSet
    assert(afterReplay == got, "batch replay was not idempotent")
  }

  test("attributionJoin: two MemoryStreams match the batch twin") {
    implicit val sq = spark.sqlContext
    // user 1: views at t=100 and t=5000; clicks at 200 (inside w1),
    // 4100 (outside w1 [100,3700], inside w2) and 90 (before both).
    // user 2: view at 100, click only for user 1 → no pairs.
    val views = Seq(ev(10, 100, 1, "view"), ev(11, 5000, 1, "view"),
      ev(12, 100, 2, "view"))
    val clicks = Seq(ev(20, 200, 1), ev(21, 4100, 1), ev(22, 90, 1))
    val memV = MemoryStream[Event]
    val memC = MemoryStream[Event]
    memV.addData(views: _*)
    memC.addData(clicks: _*)
    val q = EventStreams.attributionJoin(memV.toDF(), memC.toDF(),
        windowSec = 3600, lateness = "10 minutes")
      .writeStream.format("memory").queryName("attr_out")
      .outputMode("append").start()
    q.processAllAvailable(); q.stop()
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("user_id", "imp_id", "conv_id", "delay_us")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val streamed = rows(spark.table("attr_out"))
    val batch = rows(EventStreams.attributionJoin(
      views.toDF(), clicks.toDF(), windowSec = 3600))
    assert(streamed == batch)
    // (view 10, click 20) Δ=100s is the only pair: click 21 is 4000s
    // after view 10 (> 3600s) and 900s BEFORE view 11; click 22 precedes
    // everything; user 2 has no clicks.
    assert(streamed == Set((1L, 10L, 20L, 100L * us)))
  }

  test("attributionJoin leftOuter: unmatched views emit null-padded only after watermark passes their window") {
    implicit val sq = spark.sqlContext
    // same geometry as the inner test: only (view 10, click 20) pairs;
    // views 11 (u1) and 12 (u2) have no click in window and must
    // surface null-padded — but ONLY once the watermark clears their
    // whole match window (before that a matching click could still
    // arrive, so early emission would be wrong).
    val views = Seq(ev(10, 100, 1, "view"), ev(11, 5000, 1, "view"),
      ev(12, 100, 2, "view"))
    val clicks = Seq(ev(20, 200, 1), ev(21, 4100, 1), ev(22, 90, 1))
    val memV = MemoryStream[Event]
    val memC = MemoryStream[Event]
    memV.addData(views: _*)
    memC.addData(clicks: _*)
    val q = EventStreams.attributionJoin(memV.toDF(), memC.toDF(),
        windowSec = 3600, lateness = "10 minutes", joinType = "leftOuter")
      .writeStream.format("memory").queryName("attr_outer_out")
      .outputMode("append").start()
    q.processAllAvailable()
    def rows() = spark.table("attr_outer_out")
      .select("user_id", "imp_id", "conv_id", "delay_us")
      .collect().map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)),
        if (r.isNullAt(3)) None else Some(r.getLong(3)))).toSet
    // watermark is still at 5000s - 600s: views 11/12 could yet match,
    // so only the real pair has emitted
    assert(rows() == Set((1L, 10L, Some(20L), Some(100L * us))),
      s"premature outer emission: ${rows()}")
    // advance both watermarks far past every window; the no-data batch
    // then flushes the evicted unmatched views, null-padded. View 13's
    // own window stays open, so it must NOT emit (the batch twin would
    // emit it - the difference IS the streaming contract).
    memV.addData(ev(13, 100000, 3, "view"))
    memC.addData(ev(23, 100000, 4))
    q.processAllAvailable(); q.stop()
    assert(rows() == Set(
      (1L, 10L, Some(20L), Some(100L * us)),
      (1L, 11L, None, None),
      (2L, 12L, None, None)), s"outer flush wrong: ${rows()}")
  }

  test("enrichJoin: stream-static broadcast join matches the batch twin") {
    implicit val sq = spark.sqlContext
    val data = Seq((1L, 1L, 1.0), (2L, 2L, 2.0), (3L, 5L, 3.0))
    def toEv(df: org.apache.spark.sql.DataFrame) =
      df.toDF("event_id", "user_id", "value")
        .withColumn("n_key", (col("user_id") % 3).cast("int"))
    val dim = Seq((0, "alpha"), (1, "beta"), (2, "gamma")).toDF("k", "tier")
    val mem = MemoryStream[(Long, Long, Double)]
    mem.addData(data: _*)
    val q = EventStreams.enrichJoin(toEv(mem.toDF()), dim, "n_key", "k")
      .writeStream.format("memory").queryName("s4_out")
      .outputMode("append").start()
    q.processAllAvailable(); q.stop()
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("event_id", "tier").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
    val streamed = rows(spark.table("s4_out"))
    val batch = rows(EventStreams.enrichJoin(toEv(data.toDF()), dim, "n_key", "k"))
    assert(streamed == batch)
    assert(streamed == Set((1L, "beta"), (2L, "gamma"), (3L, "gamma")))
  }

  test("DQ annotate/quarantine runs unchanged on a stream (pure projection, no state)") {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(Long, String, Long)]
    mem.addData((1L, "en", 200L), (2L, "zz", 300L), (3L, "en", 50L))
    val ruleset =
      """Rules = [ ColumnValues "n" > 100, ColumnValues "lang" in ["en", "de"] ]"""
    val annotated = graft.quality.DataQuality.annotate(
      mem.toDF().toDF("id", "lang", "n"), ruleset)
    assert(annotated.isStreaming, "annotate must preserve streaming-ness")
    val q = annotated.writeStream.format("memory").queryName("dq_stream")
      .outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val rows = spark.table("dq_stream").orderBy("id").collect()
    assert(rows(0).getSeq[String](3).isEmpty)
    assert(rows(1).getSeq[String](3) == Seq("""ColumnValues "lang" in ["en", "de"]"""))
    assert(rows(2).getSeq[String](3) == Seq("""ColumnValues "n" > 100"""))
  }

  test("native session_window sessionize matches the stateful twin, batch and streaming") {
    implicit val sq = spark.sqlContext
    val gapUs = 1800L * us
    val events = Seq(
      ev(1, 100, 1), ev(2, 200, 1), ev(3, 5000, 1),   // user 1: two sessions
      ev(4, 300, 2))                                   // user 2: one session
    // batch parity: native window == the batch twin (the stateful
    // flatMapGroupsWithState form cannot emit its final open sessions in
    // batch mode - no timeout processing - which is exactly why
    // sessionizeBatch exists)
    val nat = EventStreams.sessionizeNative(events.toDF(), gapUs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val twin = EventStreams.sessionizeBatch(events.toDS(), gapUs)
      .collect().map(s => (s.user_id, s.session_start_us, s.session_end_us, s.n_events)).toSet
    assert(nat == twin, s"native $nat vs batch twin $twin")
    // streaming: sessions emit in append mode once the watermark passes
    val mem = MemoryStream[Event]
    mem.addData(events: _*)
    val q = EventStreams.sessionizeNative(mem.toDF(), gapUs, lateness = "0 seconds")
      .writeStream.format("memory").queryName("sess_native")
      .outputMode("append").start()
    q.processAllAvailable()
    // advance the watermark far enough to close the last session
    mem.addData(ev(99, 100000, 9))
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("sess_native")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(streamed == twin, s"streamed $streamed vs batch $twin")
  }

  test("sessionizeNative: events EXACTLY gapUs apart merge (boundary is inclusive)") {
    // The resolved boundary semantics, pinned from three directions:
    // the stateful twin merges on `e.ts_us - s.endUs <= gapUs`
    // (inclusive), the s1/s5 oracle starts a new session only on
    // `ts_us - prev_us > gap` (same inclusive merge), and Spark's
    // native session_window merges when the next window's start equals
    // the current session's end (event2 = event1 + gap ⇒ start2 ==
    // end1 ⇒ merge). All three agree: exactly-gap-apart is ONE
    // session. One microsecond past the gap splits.
    val gapUs = 1800L * us
    val boundary = Seq(ev(1, 100, 1), evUs(2, 100L * us + gapUs, 1))
    val merged = EventStreams.sessionizeNative(boundary.toDF(), gapUs).collect()
    assert(merged.length == 1, s"exactly-gap events must merge: ${merged.toSeq}")
    assert(merged.head.getLong(1) == 100L * us &&
      merged.head.getLong(2) == 100L * us + gapUs &&
      merged.head.getLong(3) == 2L)
    val mergedTwin = EventStreams.sessionizeBatch(boundary.toDS(), gapUs).collect()
    assert(mergedTwin.length == 1 && mergedTwin.head.n_events == 2L,
      "stateful twin must agree at the boundary")
    // one microsecond past the gap → two sessions, in both forms
    val split = Seq(ev(1, 100, 1), evUs(2, 100L * us + gapUs + 1, 1))
    assert(EventStreams.sessionizeNative(split.toDF(), gapUs).count() == 2)
    assert(EventStreams.sessionizeBatch(split.toDS(), gapUs).count() == 2)
  }

  test("replay: a callback sink gets one ordered batch per slice") {
    // the CDC-merge contract (s12) rests on two properties of the
    // harness: each version arrives as its OWN micro-batch, and
    // callbacks run strictly in version order — pin both
    val log = (1 to 3).flatMap(v => (1 to 5).map(k => (k.toLong, v.toLong)))
      .toDF("k", "version")
    val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
    StreamExec.replay(Seq(Sliced(log, "version", 3)), Callback { (b, _) =>
      val r = b.agg(min(col("version")), max(col("version")), count(lit(1))).head()
      seen.synchronized { seen += ((r.getLong(0), r.getLong(1), r.getLong(2))); () }
    })()
    assert(seen.toSeq == Seq((1L, 1L, 5L), (2L, 2L, 5L), (3L, 3L, 5L)),
      s"batches arrived merged or out of order: $seen")
  }

  test("replay fails loudly when the bounds put rows on a negative slice") {
    // bounds (2, 3) over versions 1..3: version 1 lands on slice -1,
    // which must be an error naming the bounds, not five dropped rows
    val log = (1 to 3).flatMap(v => (1 to 5).map(k => (k.toLong, v.toLong)))
      .toDF("k", "version")
    val delivered = new java.util.concurrent.atomic.AtomicLong()
    val e = intercept[RuntimeException] {
      StreamExec.replay(Seq(Sliced(log, "version", 2, bounds = Some((2L, 3L)))),
        Callback { (b, _) => delivered.addAndGet(b.count()); () })()
    }
    assert(e.getMessage.contains("bounds (2, 3)"), e.getMessage)
    assert(delivered.get() == 0L, s"${delivered.get()} rows were delivered before the error")
  }

  test("replay modes match their batch twins") {
    def canon(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.mkString("|")).toSeq.sorted
    val hourUs = 3600L * us
    def events(ids: Range, tsUs: Long) =
      ids.map(i => (i.toLong, tsUs + i * us)).toDF("event_id", "ts_us")
    def hourly(st: org.apache.spark.sql.DataFrame) =
      st.withColumn("ts", timestamp_micros(col("ts_us")))
        .withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "1 hour").as("w"))
        .agg(count(lit(1)).as("cnt"))
        .select(unix_timestamp(col("w.start")).as("bucket"), col("cnt"))
    val cases: Seq[(String, () => (Seq[String], Seq[String]))] = Seq(
      // UPDATE mode: a key re-emits in every batch that changed it, so
      // its emissions = the slices holding it (span 4 over t = 0..11)
      "update-mode capture" -> { () =>
        val ev = ((0 until 12).map(t => (t.toLong, "a")) ++
          (0 until 4).map(t => (t.toLong, "b")) ++
          (4 until 12).map(t => (t.toLong, "c"))).toDF("t", "k")
        val upd = StreamExec.replay(Seq(Sliced(ev, "t", 3)), Update) {
          case Seq(st) => st.groupBy("k").agg(count(lit(1)).as("cnt"))
        }
        val got = upd.groupBy("k").agg(
          max(struct(col("__batch"), col("cnt"))).getField("cnt").as("cnt"),
          count(lit(1)).as("n_updates"))
        val twin = ev.groupBy("k").agg(count(lit(1)).as("cnt"),
          countDistinct(expr("t div 4")).as("n_updates"))
        (canon(got), canon(twin))
      },
      // two sources, each cut by its OWN bounds: every id's left row and
      // right row land in different batches, so each match is made
      // against join state
      "two-source inner join" -> { () =>
        val left = (0 until 10).map(i => (i.toLong, i.toLong)).toDF("id", "ta")
        val right = (0 until 10).map(i => (i.toLong, 109L - i)).toDF("id", "tb")
        val got = StreamExec.replay(Seq(Sliced(left, "ta", 2), Sliced(right, "tb", 2))) {
          case Seq(l, r) => l.join(r, "id")
        }
        (canon(got.select("id", "ta", "tb")), canon(left.join(right, "id")))
      },
      // explicit arrival order: two advancer batches move the watermark
      // (and evict the early window) before the late batch arrives, so
      // it is dropped; the sentinel batch flushes the advancers' windows
      "explicit arrival order drops a late batch" -> { () =>
        val early = events(0 until 3, 0L)
        val adv = Seq(events(10 until 12, 10 * hourUs), events(20 until 22, 11 * hourUs))
        val late = events(30 until 32, 0L)
        val sentinel = events(-1 until 0, 100 * hourUs + us)
        val got = StreamExec.replay(Seq(Arrivals(Seq(early) ++ adv ++ Seq(late, sentinel)))) {
          case Seq(st) => hourly(st)
        }
        (canon(got), canon(hourly(adv.foldLeft(early)(_ unionByName _))))
      },
      // callback restart: run 2 resumes the checkpoint, so batch ids run
      // on across the cut and each version is delivered exactly once
      "callback restart" -> { () =>
        val log = (1 to 4).flatMap(v => (1 to 5).map(k => (k.toLong, v.toLong)))
          .toDF("k", "version")
        val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
        StreamExec.replay(Seq(Sliced(log, "version", 4)), Callback { (b, id) =>
          val r = b.agg(min(col("version")), max(col("version")), count(lit(1))).head()
          assert(r.getLong(0) == r.getLong(1), s"batch $id merged versions")
          seen.synchronized { seen += ((id, r.getLong(0), r.getLong(2))); () }
        }, splitAt = Some(2))()
        val ids = seen.map(_._1).toSeq
        assert(ids == ids.sorted && ids.distinct == ids && ids.size == 4,
          s"batch ids did not continue across the restart: $seen")
        (seen.map { case (_, v, n) => s"$v|$n" }.toSeq.sorted,
          canon(log.groupBy("version").count()))
      })
    for ((name, run) <- cases) {
      val (got, twin) = run()
      assert(got.nonEmpty && got == twin, s"$name diverged from its batch twin:\n got=$got\n twin=$twin")
    }
  }

  private def cdfSchema(fields: (String, org.apache.spark.sql.types.DataType)*) =
    org.apache.spark.sql.types.StructType(fields.map { case (n, t) =>
      org.apache.spark.sql.types.StructField(n, t) })

  test("cdfStreamOnce: a mid-stream rename delivers pre- and post-rename commits under current logical names, values intact") {
    import org.apache.spark.sql.types.{LongType, StringType}
    import graft.operators.Scale
    val root = java.nio.file.Files.createTempDirectory("graft_s_cdf_ren")
    val tbl = root.resolve("tbl").toString
    val ck = root.resolve("ck").toString
    val delivered = scala.collection.mutable.Buffer[(Long, Long, String, Long)]()
    def drain(schema: org.apache.spark.sql.types.StructType): Unit =
      StreamExec.cdfStreamOnce(spark, tbl, ck, schema) { (b, _) =>
        delivered ++= b.collect().map(r => (
          r.getLong(r.fieldIndex("k")),
          r.getLong(1), // the length column, whatever its current name
          r.getString(r.fieldIndex("_change_type")),
          r.getLong(r.fieldIndex("_commit_version"))))
      }
    Scale.writeSnapshotCdf(spark, tbl,
      Seq((1L, 10L, "a"), (2L, 20L, "b")).toDF("k", "n", "s"), "k")
    drain(cdfSchema("k" -> LongType, "n" -> LongType, "_change_type" -> StringType))
    assert(delivered.toSet == Set((1L, 10L, "insert", 0L), (2L, 20L, "insert", 0L)))

    Scale.renameSnapshotColumn(spark, tbl, "n", "len")
    // the stale logical name now fails loudly instead of null-filling
    val e = intercept[IllegalArgumentException] {
      drain(cdfSchema("k" -> LongType, "n" -> LongType, "_change_type" -> StringType))
    }
    assert(e.getMessage.contains("renamed"))

    Scale.writeSnapshotCdf(spark, tbl,
      Seq((1L, 10L, "a"), (2L, 25L, "b"), (3L, 30L, "c")).toDF("k", "len", "s"), "k")
    delivered.clear()
    drain(cdfSchema("k" -> LongType, "len" -> LongType, "_change_type" -> StringType))
    // feed files store the PHYSICAL name (n); values must surface under
    // `len`, non-null — the silent-NULL bug this fences out
    assert(delivered.toSet == Set(
      (2L, 20L, "update_preimage", 1L), (2L, 25L, "update_postimage", 1L),
      (3L, 30L, "insert", 1L)))

    // a FRESH stream started after the rename delivers the PRE-rename
    // commit under the current logical name too, hash-matched against
    // the batch reader over the same span
    delivered.clear()
    drain(cdfSchema("k" -> LongType, "len" -> LongType, "_change_type" -> StringType)
      ) // no-op on the old checkpoint: nothing new
    assert(delivered.isEmpty, "a drain with nothing new must deliver nothing")
    val ck2 = root.resolve("ck2").toString
    val fresh = scala.collection.mutable.Buffer[(Long, Long, String, Long)]()
    StreamExec.cdfStreamOnce(spark, tbl, ck2,
      cdfSchema("k" -> LongType, "len" -> LongType, "_change_type" -> StringType)) {
      (b, _) => fresh ++= b.collect().map(r => (
        r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    }
    val batch = Scale.readChangesBetween(spark, tbl, -1L, 1L)
      .select("k", "len", "_change_type", "_commit_version")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    assert(fresh.toSet == batch.toSet,
      s"fresh stream must match the batch CDF read:\n stream=${fresh.toSet}\n batch=${batch.toSet}")
  }

  test("cdfStreamOnce: an above-pointer orphan feed is fenced out; the real commit arrives cleanly") {
    import org.apache.spark.sql.types.{LongType, StringType}
    import graft.operators.Scale
    val root = java.nio.file.Files.createTempDirectory("graft_s_cdf_orph")
    val tbl = root.resolve("tbl").toString
    val ck = root.resolve("ck").toString
    val schema = cdfSchema("k" -> LongType, "v" -> LongType, "_change_type" -> StringType)
    val delivered = scala.collection.mutable.Buffer[(Long, Long, String, Long)]()
    def drain(): Unit =
      StreamExec.cdfStreamOnce(spark, tbl, ck, schema) { (b, _) =>
        delivered ++= b.collect().map(r => (
          r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
      }
    Scale.writeSnapshotCdf(spark, tbl, Seq((1L, 10L)).toDF("k", "v"), "k")
    drain()
    delivered.clear()
    // a crashed CDF writer's leftover: feed dir above the pointer
    Seq((999L, 999L)).toDF("k", "v").withColumn("_change_type", lit("insert"))
      .write.parquet(s"$tbl/_cdf/v=1")
    drain()
    assert(delivered.isEmpty,
      "an uncommitted orphan feed must never reach the stream (phantom delivery)")
    // the real commit overwrites the orphan; the drain sees only it
    Scale.writeSnapshotCdf(spark, tbl, Seq((1L, 10L), (2L, 20L)).toDF("k", "v"), "k")
    drain()
    assert(delivered.toSet == Set((2L, 20L, "insert", 1L)),
      s"only the committed v1 changes may arrive, got ${delivered.toSet}")
  }

  test("cdfStreamOnce: a fresh stream bootstraps from a feed checkpoint after vacuum, exactly once") {
    import org.apache.hadoop.fs.Path
    import org.apache.spark.sql.types.{LongType, StringType}
    import graft.operators.Scale
    val root = java.nio.file.Files.createTempDirectory("graft_s_cdf_boot")
    val tbl = root.resolve("tbl").toString
    val ck = root.resolve("ck").toString
    def commit(rows: (Long, Long)*): Unit =
      Scale.writeSnapshotCdf(spark, tbl, rows.toDF("k", "v"), "k")
    commit((1L, 10L), (2L, 20L), (3L, 30L))                       // v0
    commit((1L, 10L), (2L, 21L), (4L, 40L))                       // v1: upd 2, del 3, ins 4
    commit((1L, 10L), (2L, 21L), (4L, 41L), (5L, 50L))            // v2: upd 4, ins 5
    commit((1L, 11L), (2L, 21L), (4L, 41L))                       // v3: upd 1, del 5
    commit((1L, 11L), (2L, 21L), (4L, 41L), (6L, 60L))            // v4: ins 6
    Scale.squashFeed(spark, tbl, "k", 0L, 3L)
    Scale.vacuumSnapshots(spark, tbl, keepLast = 1)
    val fs = new Path(tbl).getFileSystem(spark.sparkContext.hadoopConfiguration)
    (1L to 3L).foreach(v => assert(!fs.exists(new Path(s"$tbl/_cdf/v=$v")),
      s"premise: vacuum must sweep covered feed v=$v"))

    val schema = cdfSchema("k" -> LongType, "v" -> LongType, "_change_type" -> StringType)
    val delivered = scala.collection.mutable.Buffer[(Long, Long, String, Long, Long)]()
    def drain(): Unit =
      StreamExec.cdfStreamOnce(spark, tbl, ck, schema) { (b, id) =>
        delivered ++= b.collect().map(r => (
          r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3), id))
      }
    drain()
    // marker records the bootstrapped range
    val in = fs.open(new Path(ck, "graft_bootstrap"))
    val marker = try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
                 finally in.close()
    assert(marker == "0 3", s"bootstrap marker should record (0,3], got '$marker'")
    assert(delivered.exists(_._5 == -1L), "bootstrap must arrive as batch -1")
    // final state folded from the stream == the table itself (the batch
    // fold from v0) — squash-invariance end to end
    val feed = delivered.toSeq.toDF("k", "v", "_change_type", "_commit_version", "b")
    val folded = Scale.cdfLatestChanges(feed, "k")
      .filter(col("_change_type") =!= "delete")
      .select("k", "v").collect().map(_.toSeq).toSet
    val table = Scale.readSnapshot(spark, tbl).collect().map(_.toSeq).toSet
    assert(folded == table, s"stream fold diverged:\n stream=$folded\n table=$table")

    // the next commit arrives incrementally, outside the bootstrap range
    delivered.clear()
    commit((1L, 11L), (2L, 21L), (4L, 41L), (6L, 61L))            // v5: upd 6
    drain()
    assert(delivered.map(_._4).toSet == Set(5L),
      s"post-bootstrap drains must deliver only new commits, got ${delivered.toSet}")
  }

  test("replay splitAt: windows straddling the stop/restart cut emit exactly once") {
    // the s17 contract: query #1 processes half the slices and stops;
    // query #2 resumes from the same checkpoint (asserted inside the
    // harness via batch-id continuation) and must restore the partial
    // window state — lost state undercounts, re-read files double-count,
    // and either diverges from the batch twin below
    val n = 40
    val ev = (0 until n).map(i =>
        (i.toLong, (1000L + i * 450) * us, (i % 3).toLong, "click", 1.0))
      .toDF("event_id", "ts_us", "user_id", "event_type", "value")
    val hourUs = 3600L * us
    val lo = 1000L * us
    val hi = (1000L + (n - 1) * 450) * us
    val latenessUs = (hi - lo) + hourUs
    val sentinel = Seq((-1L, hi + latenessUs + 2 * hourUs, -1L, "__wm", 0.0))
      .toDF("event_id", "ts_us", "user_id", "event_type", "value")
    val got = StreamExec.replay(Seq(Sliced(ev, "ts_us", 4, Some(sentinel))),
        splitAt = Some(2)) { case Seq(st) =>
      EventStreams.windowedCounts(st, "1 hour", s"$latenessUs microseconds")
    }.filter(col("event_type") =!= "__wm")
      .select("bucket", "event_type", "cnt")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val expected = ev
      .groupBy((col("ts_us") - (col("ts_us") % (hourUs))).as("b"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .select((col("b") / 1000000L).cast("long").as("bucket"), col("event_type"), col("cnt"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(got == expected, s"restart replay diverged:\n got=$got\n exp=$expected")
  }
}
