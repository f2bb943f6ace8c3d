package graft.operators

import graft.SparkSpec
import graft.operators.Scale.CommitConflictException
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame

/** Crash matrix over [[Scale]]'s commit seam: every writer × every named
  * step its commit runs. Each cell makes one clean commit (recording the
  * steps the seam ran, which must be exactly the writer's row of the
  * matrix, in order), then a commit whose `Scale.commitHook` throws right
  * before the cell's step, then checks that
  *
  *  1. readers see exactly the old rows and the pointer (or the MoR
  *     commit sequence) has not moved;
  *  2. the next commit of the same kind, holding the pre-crash expected
  *     state, lands at the expected version or commit number and reads
  *     back its own rows;
  *  3. the crashed CDF commit's orphan feed is never served;
  *  4. a writer still holding the pre-crash expected state now gets
  *     [[CommitConflictException]] and leaves the table untouched.
  */
class CommitCrashSpec extends SparkSpec {
  import spark.implicits._

  private final class Crash(step: String) extends RuntimeException(s"injected crash before $step")

  private type State = (Long, Long)

  /** One row of the matrix. `commit(t, round, expected)` commits the
    * round's frame and returns its version or commit number; `stale`
    * commits while holding `expected` (the CAS probe); `after(before, i)`
    * is what a reader sees once round `i` commits over `before`; `lands`
    * is the version or commit number a commit from a state lands at.
    */
  private case class Writer(name: String, steps: Seq[String], snapshot: Boolean,
                            commit: (String, Int, Option[State]) => Long,
                            after: (Seq[String], Int) => Seq[String],
                            lands: State => Long,
                            create: String => Unit = _ => (),
                            prepare: (String, Int) => Unit = (_, _) => (),
                            stale: Option[(String, Int, State) => Unit] = None)

  private def snapRows(i: Int): DataFrame = (i until i + 5).map(k => (k.toLong, s"r$i")).toDF("k", "v")
  private def snapSeen(i: Int): Seq[String] = (i until i + 5).map(k => s"$k|r$i")
  private val baseRows = (0 until 10).map(k => (k.toLong, "b")).toDF("k", "v")
  private def appendRows(i: Int): DataFrame = (0 until 3).map(j => (100L * i + j, s"a$i")).toDF("k", "v")
  private def deleteKey(i: Int): DataFrame = Seq(i.toLong).toDF("k")
  private def snapV(s: Option[State]) = s.map(_._1)
  private def keyOf(row: String) = row.takeWhile(_ != '|').toLong

  private def morBase(t: String): Unit = Scale.writeMorBase(spark, t, baseRows)

  private val writers = Seq(
    Writer("plain snapshot", Seq("data", "feed", "publish"), snapshot = true,
      (t, i, e) => Scale.writeSnapshot(spark, t, snapRows(i), snapV(e)),
      (_, i) => snapSeen(i), s => s._1 + 1),
    Writer("idempotent snapshot", Seq("data", "token", "feed", "publish"), snapshot = true,
      (t, i, e) => Scale.writeSnapshotIdempotent(spark, t, snapRows(i), s"batch-$i", snapV(e)).get,
      (_, i) => snapSeen(i), s => s._1 + 1),
    Writer("CDF snapshot", Seq("data", "feed", "key", "publish"), snapshot = true,
      (t, i, e) => Scale.writeSnapshotCdf(spark, t, snapRows(i), "k", snapV(e)),
      (_, i) => snapSeen(i), s => s._1 + 1),
    Writer("writeMorBase", Seq("data", "publish"), snapshot = false,
      (t, i, e) => { Scale.writeMorBase(spark, t, snapRows(i), e); Scale.morPointer(spark, t).get._1 },
      (_, i) => snapSeen(i), s => s._1 + 1),
    Writer("appendMorRows", Seq("data", "publish"), snapshot = false,
      (t, i, e) => Scale.appendMorRows(spark, t, appendRows(i), e),
      (before, i) => before ++ (0 until 3).map(j => s"${100L * i + j}|a$i"), s => s._2,
      create = morBase),
    Writer("appendDeletes", Seq("data", "publish"), snapshot = false,
      (t, i, e) => Scale.appendDeletes(spark, t, deleteKey(i), e),
      (before, i) => before.filterNot(keyOf(_) == i), s => s._2,
      create = morBase),
    // no CAS of its own: the stale probe is an equality delete holding
    // the pre-crash state, which the recovered compaction superseded
    Writer("compactDeletes", Seq("data", "publish"), snapshot = false,
      (t, _, _) => { Scale.compactDeletes(spark, t, "k"); Scale.morPointer(spark, t).get._1 },
      (before, _) => before, s => s._1 + 1,
      create = morBase,
      prepare = (t, i) => { Scale.appendDeletes(spark, t, deleteKey(i)); () },
      stale = Some((t, i, s) => { Scale.appendDeletes(spark, t, deleteKey(i), Some(s)); () })))

  private def rows(w: Writer, t: String): Seq[String] =
    (if (w.snapshot) Scale.readSnapshot(spark, t) else Scale.readMergeOnRead(spark, t, "k"))
      .collect().map(r => s"${r.getLong(0)}|${r.getString(1)}").toSeq.sorted

  private def state(w: Writer, t: String): State = {
    val fs = new Path(t).getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (w.snapshot) (Scale.latestSnapshot(spark, t).getOrElse(-1L), 0L)
    else (Scale.morPointer(spark, t).map(_._1).getOrElse(-1L),
      (Scale.numberedDirs(fs, new Path(t, "_deletes"), "d=") ++
        Scale.numberedDirs(fs, new Path(t, "_appends"), "a=")).map(_._1 + 1).foldLeft(0L)(math.max))
  }

  private def withHook[T](hook: (String, String) => Unit)(body: => T): T = {
    Scale.commitHook = hook
    try body finally Scale.commitHook = (_, _) => ()
  }

  /** The feed a CDF commit from `before` to `after` must record. */
  private def expectedFeed(before: Seq[String], after: Seq[String]): Set[String] = {
    val (b, a) = (before.map(r => keyOf(r) -> r).toMap, after.map(r => keyOf(r) -> r).toMap)
    ((a.keySet -- b.keySet).map(k => s"${a(k)}|insert") ++
      (b.keySet -- a.keySet).map(k => s"${b(k)}|delete") ++
      (a.keySet & b.keySet).filter(k => a(k) != b(k)).flatMap(k =>
        Seq(s"${b(k)}|update_preimage", s"${a(k)}|update_postimage")))
  }

  writers.foreach { w =>
    test(s"commit seam crash matrix: ${w.name} at every step (${w.steps.mkString(", ")})") {
      val t = java.nio.file.Files.createTempDirectory("crashmx").toString + "/tbl"
      w.create(t)
      var round = 0
      w.steps.foreach { crashAt =>
        val cell = s"${w.name} @ $crashAt"
        // one clean commit, recording the seam's steps
        w.prepare(t, round)
        val seen = scala.collection.mutable.ArrayBuffer.empty[String]
        withHook((p, s) => if (p == t) seen += s)(w.commit(t, round, None))
        assert(seen.toSeq == w.steps, s"$cell: the seam ran ${seen.mkString(", ")}")
        round += 1

        // a commit that crashes right before `crashAt`
        w.prepare(t, round)
        val pre = state(w, t)
        val before = rows(w, t)
        val crash = intercept[Crash] {
          withHook((p, s) => if (p == t && s == crashAt) throw new Crash(s))(
            w.commit(t, round, Some(pre)))
        }
        assert(crash.getMessage.endsWith(crashAt))
        // 1. readers see exactly the old rows; nothing published
        assert(state(w, t) == pre, s"$cell: the pointer moved")
        assert(rows(w, t) == before, s"$cell: readers see uncommitted rows")
        // 3. the crashed commit's feed (an orphan at `crashAt` = key or
        // publish) is not served: its version was never committed
        if (w.snapshot) intercept[IllegalArgumentException](
          Scale.readChangesBetween(spark, t, pre._1, pre._1 + 1))

        // 2. the next commit of the same kind recovers at the expected slot
        val landed = w.commit(t, round, Some(pre))
        assert(landed == w.lands(pre), s"$cell: recovery landed at $landed")
        val now = rows(w, t)
        assert(now == w.after(before, round).sorted, s"$cell: recovery reads back other rows")
        if (w.name == "CDF snapshot") {
          val feed = Scale.readChangesBetween(spark, t, pre._1, landed).collect()
            .map(r => s"${r.getLong(0)}|${r.getString(1)}|${r.getString(2)}").toSet
          assert(feed == expectedFeed(before, now), s"$cell: feed is not the recovery's diff")
        }
        if (w.name == "idempotent snapshot") // the redelivered batch is now a no-op
          assert(Scale.writeSnapshotIdempotent(spark, t, snapRows(round), s"batch-$round").isEmpty)

        // 4. the pre-crash expected state is stale now: a loud conflict
        val moved = state(w, t)
        intercept[CommitConflictException] {
          w.stale.fold(w.commit(t, round + 1, Some(pre)))(f => { f(t, round + 1, pre); 0L })
        }
        assert(state(w, t) == moved && rows(w, t) == now, s"$cell: a conflict touched the table")
        round += 1
      }
    }
  }
}
