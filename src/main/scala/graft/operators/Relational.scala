package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Named reusable relational operators distilled from the reference's
  * window patterns (SURVEY.md §2.7). All are pure DataFrame => DataFrame —
  * composable, unit-testable, and plan-transparent (each is a single
  * window + filter that Catalyst compiles to Exchange+Sort+Window).
  */
object Relational {

  /** Dedup-by-recency (W1): keep the first row per key under `order`.
    * Reference: row_number() OVER (PARTITION BY cst_id ORDER BY
    * cst_create_date DESC) + filter row_num=1 + drop
    * (silver/crm_cust_info_silver.py:55,72-74).
    *
    * Callers should pass a total order (append unique tiebreakers) — the
    * reference leaves ties nondeterministic (SURVEY.md §7.4.2); we don't.
    * Scale: one hash exchange on `keys`; window sort is per-key, spill-safe.
    */
  def dedupLatest(df: DataFrame, keys: Seq[String], order: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(order: _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** SCD-2 end-dating (W2): a version's end = day before the next version's
    * start within its key; the last (current) version gets NULL.
    * Reference: lead(prd_start_dt) OVER (PARTITION BY prd_key ORDER BY
    * prd_start_dt) - INTERVAL 1 DAY (silver/crm_prd_info_silver.py:51,67-69).
    */
  def scd2EndDate(df: DataFrame, keys: Seq[String], startCol: String,
                  endCol: String, tiebreak: Seq[Column] = Nil): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(startCol) +: tiebreak: _*)
    df.withColumn(endCol, date_sub(lead(col(startCol), 1).over(w), 1))
  }

  /** Surrogate key (W3/W4): deterministic dense 1..N by sort key.
    * Reference: row_number() OVER (ORDER BY cst_id) with no partition
    * (dim_customers_gold.py:36-40) — a single-partition exchange. That is
    * the reference's semantics and is fine for dimension-sized data; do NOT
    * use for fact-sized tables.
    */
  def surrogateKey(df: DataFrame, keyCol: String, order: Seq[Column]): DataFrame =
    df.withColumn(keyCol, row_number().over(Window.orderBy(order: _*)).cast("long"))

  /** Batch upsert (CDC merge): base snapshot ∪ update rows, keep the
    * newest version per key — dedup-by-recency over the union. Callers
    * pass a total `order` (version/timestamp desc + tiebreaks). At scale
    * this is the standard snapshot-merge: one shuffle on the key,
    * update-heavy keys spread like any other window partition.
    */
  def upsert(base: DataFrame, updates: DataFrame, keys: Seq[String],
             order: Seq[Column]): DataFrame =
    dedupLatest(base.unionByName(updates), keys, order)

  /** CDC merge with DELETE tombstones: update rows whose `deleteCol` is
    * true are deletion markers — when the tombstone is the key's newest
    * version under `order`, the key disappears from the output (Delta
    * MERGE's WHEN MATCHED DELETE; a stale tombstone loses to a newer
    * upsert like any other stale row). `deleteCol` is transport metadata,
    * not table content: it is defaulted to false on a base that lacks it
    * and dropped from the output, so stored snapshots stay tombstone-free.
    *
    * TRADEOFF (same as Delta's tombstone retention window): because the
    * snapshot does not retain applied tombstones, a STALE update arriving
    * in a LATER merge than the tombstone that out-versioned it will
    * resurrect the key — within one merge the tombstone wins, across
    * merges the evidence is gone. Feed merges from an in-order or
    * watermarked change stream (e.g. [[graft.streaming.StreamOps
    * .latestByKey]] upstream) when late stale updates are possible.
    */
  def upsertCdc(base: DataFrame, updates: DataFrame, keys: Seq[String],
                order: Seq[Column], deleteCol: String): DataFrame = {
    val base2 = if (base.columns.contains(deleteCol)) base
                else base.withColumn(deleteCol, lit(false))
    dedupLatest(base2.unionByName(updates), keys, order)
      .filter(!coalesce(col(deleteCol).cast("boolean"), lit(false)))
      .drop(deleteCol)
  }

  /** Grouped top-N: the n best rows per key under `order` (total order
    * required for determinism). One hash exchange + per-partition sort;
    * rank filter applies before any downstream shuffle.
    */
  def topNPerKey(df: DataFrame, keys: Seq[String], order: Seq[Column], n: Int,
                 rankCol: String = "rnk"): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(order: _*)
    df.withColumn(rankCol, row_number().over(w)).filter(col(rankCol) <= n)
  }

  /** Grouped top-N, aggregate path: same contract as [[topNPerKey]]
    * (ascending on `orderCols`, rank 1..n, deterministic given a total
    * order) but via the bounded [[graft.functions.TopK]] aggregate, so
    * map-side partial aggregation caps both task state and shuffle bytes
    * at n rows per (task × key). Honest comparison vs the window form on
    * Spark 4: WindowGroupLimit pushes a partial rank-limit below the
    * exchange for a `row_number() <= n` filter, bounding ITS shuffle
    * identically — but only after fully sorting each task's rows; the
    * aggregate replaces that O(rows·log rows) sort with an O(rows·log n)
    * bounded heap, and keeps its bound even in shapes the rank-limit
    * rewrite can't see (rank exposed to later operators, non-rank
    * predicates). ShuffleBudgetSpec pins all three shapes numerically.
    * Descending dims: negate the numeric column before calling
    * (lexicographic struct order is ascending-only).
    */
  def topNPerKeyAgg(df: DataFrame, keys: Seq[String], orderCols: Seq[String],
                    n: Int, rankCol: String = "rnk"): DataFrame = {
    val payload = df.columns.toSeq.filterNot(c => keys.contains(c) || orderCols.contains(c))
    val structCols = orderCols ++ payload
    val agged = df.groupBy(keys.map(col): _*)
      .agg(graft.functions.native.topK(
        struct(structCols.map(col): _*), n).as("__top"))
    agged
      .select(keys.map(col) :+ posexplode(col("__top")): _*)
      .select(keys.map(col) ++
        structCols.map(c => col("col").getField(c).as(c)) :+
        (col("pos") + 1).as(rankCol): _*)
  }

  /** As-of (backward) join: for each left row, attach the single right row
    * with the greatest right-time <= left-time within the same key — the
    * canonical time-series enrichment Spark has no native operator for.
    *
    * Composition (preference (a) of the extension ladder — no custom
    * plan needed): union both sides tagged, sort per key by (time,
    * right-first), carry the last-seen right payload forward with
    * last_value(ignoreNulls) over an unbounded-preceding window, keep left
    * rows. ONE hash exchange on the key + one per-partition sort — same
    * shuffle shape as a sort-merge join, no range explosion.
    *
    * @param left      probe side; must contain `key` and `leftTime`
    * @param right     reference side; must contain `key`, `rightTime`, payload
    * @param key       equi-key column name (both sides)
    * @param leftTime  left ordering column (numeric/date/timestamp)
    * @param rightTime right ordering column (same type)
    * @param payload   right columns to carry (become nullable on the output)
    */
  def asofJoin(left: DataFrame, right: DataFrame, key: String,
               leftTime: String, rightTime: String,
               payload: Seq[String]): DataFrame = {
    val leftCols = left.columns.toSeq
    // The payload travels as ONE struct through a single
    // last(ignoreNulls) window — whole-row semantics. Per-column windows
    // would mix fields from DIFFERENT right rows whenever the most recent
    // right row has a NULL in one payload field but an older row doesn't
    // (DuckDB/pandas ASOF keep the matched row intact; so do we).
    val payStruct = org.apache.spark.sql.types.StructType(
      payload.map(p => right.schema(p)))
    val l = left
      .withColumn("__t", col(leftTime))
      .withColumn("__isL", lit(1))
      .select(Seq(col(key), col("__t"), col("__isL")) ++
        leftCols.filter(_ != key).map(col) :+
        lit(null).cast(payStruct).as("__pay"): _*)
    val r = right
      .withColumn("__t", col(rightTime))
      .withColumn("__isL", lit(0))
      .select(Seq(col(key), col("__t"), col("__isL")) ++
        leftCols.filter(_ != key).map(c => lit(null).cast(left.schema(c).dataType).as(c)) :+
        struct(payload.map(col): _*).as("__pay"): _*)
    // right rows sort BEFORE left rows at equal time => ties are inclusive
    // (right-at-same-instant is visible to the left row)
    val w = Window.partitionBy(key).orderBy(col("__t").asc, col("__isL").asc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val carried = l.unionByName(r)
      .withColumn("__m", last(col("__pay"), ignoreNulls = true).over(w))
    carried.filter(col("__isL") === 1)
      .select(leftCols.map(col) ++ payload.map(p => col("__m").getField(p).as(p)): _*)
  }

  /** Gap-based sessionization: assign a per-key session index that
    * increments whenever the gap to the previous event exceeds
    * `gapMicros`. Batch twin of the streaming
    * flatMapGroupsWithState sessionizer — two windows over one hash
    * exchange on `key`.
    */
  def sessionize(df: DataFrame, key: String, tsMicros: String,
                 gapMicros: Long, order: Seq[Column] = Nil): DataFrame = {
    val ord = if (order.nonEmpty) order else Seq(col(tsMicros).asc)
    val w = Window.partitionBy(key).orderBy(ord: _*)
    df.withColumn("__prev", lag(col(tsMicros), 1).over(w))
      .withColumn("__new",
        when(col("__prev").isNull || col(tsMicros) - col("__prev") > gapMicros, 1)
          .otherwise(0))
      .withColumn("session_idx",
        sum(col("__new")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .drop("__prev", "__new")
  }

  /** The range-bucketed rank core behind [[prefixSumScalable]],
    * [[ntileScalable]] and [[surrogateKeyScalable]]: an exact running
    * total of `weight` in a global order WITHOUT the single-partition
    * sort a `Window.orderBy` over the data costs. Rows range-bucket on
    * `key` (cast to long, monotone ASCENDING in the desired total order;
    * span from one eager bounds aggregate), each bucket sums `weight`
    * locally in parallel under `order` (the full tie-broken order), and
    * per-bucket totals — `buckets` rows, model-sized, not data-sized —
    * come back as a broadcast of exclusive prefix offsets. Equal key
    * values always share a bucket (ranges are disjoint in the key), so
    * `order`'s tie-break never straddles a boundary; a fully degenerate
    * key degrades to one bucket, i.e. the key must carry real entropy.
    *
    * Appends `__rank` (the inclusive global running total; with weight
    * `1L` that is the dense 1..N `row_number`) and `__n` (the grand
    * total), or returns None for an empty input. NULL keys (or keys
    * whose long cast is NULL) are rejected loudly unless `nullsFirst`,
    * which puts them in bucket -1, sorted before every value bucket and
    * tie-broken by `order` — NULLS FIRST, as Spark's default ASC sort.
    */
  private def bucketedRank(df: DataFrame, op: String, key: Column, order: Seq[Column],
                           weight: Column, buckets: Int, nullsFirst: Boolean): Option[DataFrame] = {
    val in = df.withColumn("__k", key.cast("long"))
    val bounds = in.agg(min("__k"), max("__k"), count(lit(1)), count("__k")).head()
    val (rows, nulls) = (bounds.getLong(2), bounds.getLong(2) - bounds.getLong(3))
    if (rows == 0L) return None
    require(nullsFirst || nulls == 0L,
      s"$op: key $key has $nulls NULL values; coalesce the key to a sentinel " +
        "(or filter nulls) first — null keys cannot be range-bucketed into a total order")
    val (lo, hi) = if (nulls == rows) (0L, 0L) else (bounds.getLong(0), bounds.getLong(1))
    // hi - lo in raw Long arithmetic wraps for ranges wider than
    // Long.MaxValue (hash-derived keys spanning both extremes), which
    // would silently scramble bucket order — fail loudly instead
    require(hi - lo >= 0, s"$op: key $key range [$lo, $hi] exceeds Long.MaxValue; " +
      "pre-bucket wide hash keys on their high bits first")
    val span = math.max(1L, (hi - lo) / buckets + 1)
    // `div` (integer division), not `/`: Column `/` on longs is double
    // division then truncation, whose boundaries drift from the integer
    // geometry for key spans above 2^53
    val bucketed = in.withColumn("__b",
      coalesce(expr(s"(__k - ${lo}L) div ${span}L"), lit(-1L))).drop("__k")
    val local = bucketed.withColumn("__cum", sum(weight).over(
      Window.partitionBy("__b").orderBy(order: _*).rowsBetween(Window.unboundedPreceding, 0)))
    // per-bucket totals aggregate the bucketed input (map-side partial
    // sums), not the local window's output: no plan reuses the window's
    // exchange, so reading totals off it replays the sort and the window
    val wAll = Window.partitionBy(lit(0)).orderBy("__b")
    val offsets = bucketed.groupBy("__b").agg(sum(weight).as("__bt")).select(col("__b"),
      coalesce(sum("__bt").over(wAll.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)).as("__off"),
      sum("__bt").over(wAll.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)).as("__n"))
    Some(local.join(broadcast(offsets), "__b")
      .withColumn("__rank", col("__cum") + col("__off"))
      .drop("__b", "__cum", "__off"))
  }

  /** Scalable exact prefix sum: running total of `valueCol` in `orderCol`
    * order (inclusive) — [[bucketedRank]] weighted by `valueCol`.
    * `orderCol` must be unique (the usual id column) so the prefix order
    * is total, and non-NULL.
    *
    * This is the building block for running-offset layouts at 100 TB:
    * shard packing (m7), byte-offset manifests, cumulative token budgets.
    */
  def prefixSumScalable(df: DataFrame, orderCol: String, valueCol: String,
                        outCol: String, buckets: Int = 64): DataFrame =
    bucketedRank(df, "prefixSumScalable", col(orderCol), Seq(col(orderCol)),
      col(valueCol), buckets, nullsFirst = false) match {
      case None => df.withColumn(outCol, lit(null).cast("long"))
      case Some(r) => r.withColumn(outCol, col("__rank")).drop("__rank", "__n")
    }

  /** Exact `ntile(k)` over a global order WITHOUT the single-partition
    * sort `ntile(k).over(Window.orderBy(...))` costs — at 100 TB that
    * naive frame is billions of rows sorted in one task. [[bucketedRank]]
    * with weight 1 gives every row its exact global rank under `order`
    * (`rankKey` a non-NULL long column monotone ASCENDING in it — pass
    * the negated score for a descending sort), and the tile is pure
    * arithmetic on (rank, n): the first `n mod k` tiles carry
    * `n div k + 1` rows, the rest `n div k` — bit-identical to SQL
    * `ntile`. An LM score at 1e-6 granularity carries the entropy the
    * range buckets need.
    */
  def ntileScalable(df: DataFrame, k: Int, rankKey: Column, order: Seq[Column],
                    outCol: String, buckets: Int = 64): DataFrame = {
    require(k >= 1, s"ntileScalable: k must be >= 1, got $k")
    bucketedRank(df, "ntileScalable", rankKey, order, lit(1L), buckets,
        nullsFirst = false) match {
      case None => df.withColumn(outCol, lit(null).cast("long"))
      // SQL ntile split: rem = n mod k tiles of size+1 first, then size
      case Some(r) => r.withColumn(outCol, expr(
        s"""CASE WHEN __rank <= (__n % $k) * ((__n div $k) + 1)
            THEN (__rank - 1) div ((__n div $k) + 1) + 1
            ELSE (__n % $k) + (__rank - 1 - (__n % $k) * ((__n div $k) + 1)) div (__n div $k) + 1
            END""").cast("long")).drop("__rank", "__n")
    }
  }

  /** Scalable surrogate key: the [[surrogateKey]] contract (dense 1..N
    * following the sort order) without the global single-partition sort
    * — [[bucketedRank]] with weight 1 on `rankKey` (a long column
    * monotone ASCENDING in the total `order`; pass a negated key for
    * descending). Entirely DataFrame-native, and value-derived buckets
    * are deterministic even when upstream row order is not.
    *
    * NULL contract: rows whose `rankKey` is NULL (or whose long cast
    * yields NULL) are NOT dropped — they take the lowest keys (NULLS
    * FIRST), tie-broken by `order`. An all-NULL rankKey input therefore
    * still keys every row.
    */
  def surrogateKeyScalable(df: DataFrame, keyCol: String, rankKey: Column,
                           order: Seq[Column], buckets: Int = 64): DataFrame =
    bucketedRank(df, "surrogateKeyScalable", rankKey, order, lit(1L), buckets,
        nullsFirst = true) match {
      case None => df.withColumn(keyCol, lit(0L)) // empty: schema kept, no rows
      case Some(r) => r.withColumn(keyCol, col("__rank")).drop("__rank", "__n")
    }
}
