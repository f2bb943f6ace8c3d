package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import graft.silver.Transforms
import graft.queries.{RelationalQueries, Tables}

/** Plan-shape guards — the properties that decide whether an operator
  * survives a 100× scale-up: filters/projections reaching the parquet
  * scan, dimension joins broadcast (no fact shuffle), silver transforms
  * staying map-only (zero exchanges except the dedup window's one).
  */
class PlanSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private def executed(df: org.apache.spark.sql.DataFrame) = {
    df.collect() // force AQE final plan
    df.queryExecution.executedPlan
  }

  test("filter + projection are pushed into the parquet scan") {
    val df = Tables.lineitem(spark, sf001)
      .filter(col("l_quantity") > 45.0)
      .select("l_orderkey", "l_quantity")
    val scan = executed(df).toString
    assert(scan.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,45.0)"),
      s"missing pushdown in:\n$scan")
    assert(scan.contains("ReadSchema: struct<l_orderkey:bigint,l_quantity:double>"),
      s"column pruning failed in:\n$scan")
  }

  test("star join broadcasts the dimension sides — no fact-side shuffle") {
    val q = RelationalQueries.all.find(_.name == "r10_star_join").get
    val plan = executed(q.run(spark, sf001))
    val s = plan.toString
    assert(s.contains("BroadcastHashJoin"), s"expected broadcast joins in:\n$s")
    assert(!s.contains("SortMergeJoin"), s"dimension join degraded to SMJ:\n$s")
  }

  test("fact_sales chain joins its dims broadcast — no sort-merge anywhere") {
    val q = graft.queries.EtlParityQueries.all.find(_.name == "e9_fact_sales").get
    val s = executed(q.run(spark, sf001)).toString
    assert(s.contains("BroadcastHashJoin"), s"expected broadcast joins in:\n${s.take(2000)}")
    assert(!s.contains("SortMergeJoin"), s"fact chain degraded to SMJ:\n${s.take(2000)}")
  }

  test("r72 revenue view: both consumers reuse ONE exchange — fact scanned once") {
    val q = RelationalQueries.all.find(_.name == "r72_top_revenue_supplier").get
    val s = executed(q.run(spark, sf001)).toString
    // AQE materializes the per-supplier revenue exchange for the max
    // branch and must serve the join-back branch from the same stage;
    // without reuse the static plan's two identical subtrees each scan
    // the fact (the regression this guards: a pushed join-key nullability
    // forking the canonical forms)
    assert(s.contains("ReusedExchange") || s.contains("StageReuse") ||
      s.contains("ReusedQueryStage"),
      s"rev exchange not reused — fact scanned twice:\n${s.take(3000)}")
  }

  test("r76 global top-20 plans as TakeOrdered, never a global sort") {
    val q = RelationalQueries.all.find(_.name == "r76_top_return_customers").get
    val s = executed(q.run(spark, sf001)).toString
    // each task keeps a local top-20 and the driver merges heads; a
    // global Sort + Limit would single-task the whole reduced frame
    assert(s.contains("TakeOrderedAndProject"),
      s"top-k degraded to a global sort:\n${s.take(2000)}")
  }

  test("r80 scan-aggregate pushes every predicate and prunes to 3 columns") {
    val q = RelationalQueries.all.find(_.name == "r80_forecast_revenue").get
    val s = executed(q.run(spark, sf001)).toString
    // the rendered PushedFilters list is truncated by toString, so pin
    // the stable prefix (all three columns' IsNotNull + the first range
    // bound made it into the pushed set)
    assert(s.contains("PushedFilters: [IsNotNull(l_shipdate), IsNotNull(l_discount), " +
      "IsNotNull(l_quantity), GreaterThanOrEqual"),
      s"predicates not pushed to the scan:\n${s.take(2500)}")
    assert(s.contains("ReadSchema: struct<l_quantity:double,l_extendedprice:double,l_discount:double"),
      s"column pruning failed:\n${s.take(2500)}")
  }

  test("h4 fact scan carries a dynamicpruning partition filter from the dim") {
    val q = graft.queries.IoQueries.all.find(_.name == "h4_dynamic_partition_prune").get
    val s = executed(q.run(spark, sf001)).toString
    // the partition filter must be the RUNTIME subquery DPP inserts,
    // not a literal — proof the lang= directories are enumerated from
    // the filtered dimension before the fact scan starts
    assert(s.toLowerCase.contains("dynamicpruning"),
      s"no dynamic partition pruning on the fact scan:\n${s.take(3000)}")
  }

  test("h5 bucketed join subtree has no exchange and no sort on either input") {
    val q = graft.queries.IoQueries.all.find(_.name == "h5_bucketed_join").get
    val full = executed(q.run(spark, sf001)).toString
    // AQE's toString appends the pre-execution "== Initial Plan ==",
    // which legitimately contains exchanges — judge the FINAL plan only
    val s = full.split("== Initial Plan ==")(0)
    assert(s.contains("SortMergeJoin"), s"expected a bucket-layout SMJ:\n${s.take(2000)}")
    assert(s.contains("Bucketed: true"), s"join inputs are not bucketed scans:\n${s.take(2000)}")
    // everything printed under the SMJ is its two inputs: with the
    // bucket contract honored they are bare bucketed scans — a shuffle
    // there means the layout was re-partitioned at query time. (The
    // per-bucket in-task Sorts remain: Spark 3+ ignores sortBy metadata
    // on read unless spark.sql.legacy.bucketedTableScan.outputOrdering
    // is set — the exchange elision is the contract worth pinning.)
    val below = s.substring(s.indexOf("SortMergeJoin"))
    assert(!below.contains("Exchange") && !below.contains("ShuffleQueryStage"),
      s"bucketed join re-shuffled its input:\n${below.take(2000)}")
  }

  test("t19 n-gram counts partial-aggregate before the shuffle") {
    val q = graft.queries.TextQueries.all.find(_.name == "t19_top_ngrams").get
    val s = executed(q.run(spark, sf001)).toString
    assert(s.contains("partial_count") || s.contains("partial"),
      s"no map-side combine before the gram shuffle:\n${s.take(1500)}")
  }

  test("t18 packing shuffles once on the shard key, never a global sort window") {
    val q = graft.queries.TextQueries.all.find(_.name == "t18_sequence_packing").get
    val plan = executed(q.run(spark, sf001))
    val exchanges = collect(plan) { case e: Exchange => e }
    assert(exchanges.size == 1, s"expected exactly 1 exchange, got ${exchanges.size}")
    assert(exchanges.head.toString.contains("shard"),
      s"window must partition by shard:\n${exchanges.head}")
  }

  test("silver transforms are map-only (exchange count: sales=0, cust=1 for dedup)") {
    val sales = Transforms.salesDetails(
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        graft.model.Schemas.crmSalesDetails))
    val salesExchanges = collect(sales.queryExecution.executedPlan) {
      case e: Exchange => e
    }
    assert(salesExchanges.isEmpty, "per-row repair should not shuffle")

    val cust = Transforms.custInfo(
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        graft.model.Schemas.crmCustInfo))
    val custExchanges = collect(cust.queryExecution.executedPlan) {
      case e: Exchange => e
    }
    assert(custExchanges.size == 1, "dedup window needs exactly one hash exchange")
  }

  test("whole-stage codegen covers the expression-heavy silver path") {
    val df = Transforms.salesDetails(
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        graft.model.Schemas.crmSalesDetails))
    // codegen'd stages print as "*(n)" in the physical plan
    assert(df.queryExecution.executedPlan.toString.contains("*(1)"))
  }

  test("r43 Q5-shape keeps supplier/nation/region broadcast — no SMJ on dims") {
    val q = RelationalQueries.all.find(_.name == "r43_regional_volume").get
    val s = executed(q.run(spark, sf001)).toString
    assert(s.contains("BroadcastHashJoin"), s"expected broadcast dim joins in:\n${s.take(2000)}")
    // the two fact-side equijoins (cust⟗orders, orders⟗lineitem) may be
    // SMJ or shuffled-hash at scale; the three dim joins must never be.
    val smjCount = "SortMergeJoin".r.findAllIn(s).length
    assert(smjCount <= 2, s"a dimension join degraded to SMJ ($smjCount total):\n${s.take(2000)}")
  }

  test("t26 joins the top-16 common set broadcast, never shuffling the corpus for it") {
    val q = graft.queries.TextQueries.all.find(_.name == "t26_rarity_quality").get
    val s = executed(q.run(spark, sf001)).toString
    assert(s.contains("BroadcastHashJoin"), s"top-16 set must broadcast:\n${s.take(2000)}")
  }

  test("s3 attribution join is a single equijoin on user_id with a residual time filter") {
    val q = graft.queries.TextQueries.all.find(_.name == "s3_attribution_join").get
    val s = executed(q.run(spark, sf001)).toString
    assert(!s.contains("CartesianProduct") && !s.contains("BroadcastNestedLoopJoin"),
      s"attribution join must stay an equijoin:\n${s.take(2000)}")
  }

  test("r46 Q3-shape: filters pushed to all three scans, top-10 as TakeOrdered") {
    val q = RelationalQueries.all.find(_.name == "r46_shipping_priority").get
    val s = executed(q.run(spark, sf001)).toString
    assert(s.contains("TakeOrderedAndProject"), s"top-10 must be TakeOrdered, not global sort:\n${s.take(2000)}")
    assert(s.contains("EqualTo(c_mktsegment,BUILDING)"), s"segment filter not pushed:\n${s.take(2000)}")
    assert(s.contains("LessThan(o_orderdate") && s.contains("GreaterThanOrEqual(l_shipdate"),
      s"date filters not pushed:\n${s.take(2000)}")
  }

  test("t31 keyword search broadcasts df and corpus-size sides; top-20 is TakeOrdered") {
    val q = graft.queries.TextQueries.all.find(_.name == "t31_keyword_search").get
    val s = executed(q.run(spark, sf001)).toString
    assert(s.contains("TakeOrderedAndProject"), s"top-20 must be TakeOrdered:\n${s.take(2000)}")
    assert(!s.contains("SortMergeJoin"), s"df/corpus-size joins must broadcast:\n${s.take(2000)}")
  }

  test("r50 Q18-shape: the HAVING aggregate is cut before any join") {
    val q = RelationalQueries.all.find(_.name == "r50_large_orders").get
    val df = q.run(spark, sf001)
    val s = executed(df).toString
    assert(s.contains("TakeOrderedAndProject"), s"top-100 must be TakeOrdered:\n${s.take(2000)}")
    // the sum_qty > 250 filter must sit on the aggregate, NOT post-join
    // (a post-join cut would carry every lineitem group through the join)
    val optimized = df.queryExecution.optimizedPlan.toString
    val filterIdx = optimized.indexOf("sum_qty")
    assert(filterIdx >= 0, s"aggregate alias missing from optimized plan:\n$optimized")
  }

  test("r58 Q7-shape: dims (incl. nation twice) broadcast; only the fact-fact join shuffles") {
    val q = RelationalQueries.all.find(_.name == "r58_nation_trade").get
    val plan = executed(q.run(spark, sf001))
    val s = plan.toString
    assert(s.contains("BroadcastHashJoin"), s"expected broadcast dim joins:\n${s.take(2000)}")
    // the double-aliased nation join must not degrade either alias
    assert(!s.contains("SortMergeJoin") ||
      s.indexOf("SortMergeJoin") == s.lastIndexOf("SortMergeJoin"),
      s"at most the lineitem-orders join may sort-merge:\n${s.take(2000)}")
  }

  test("h1: partition-key predicate prunes at planning time — 2 of 5 lang dirs read") {
    val q = graft.queries.IoQueries.all.find(_.name == "h1_partitioned_prune").get
    val s = executed(q.run(spark, sf001)).toString
    // a partitioned scan prints "PartitionFilters: []" even when nothing
    // pruned — the list must be NON-EMPTY and contain the lang predicate
    val pf = """PartitionFilters: \[([^\]]*)\]""".r.findFirstMatchIn(s)
      .map(_.group(1)).getOrElse("")
    assert(pf.contains("lang") && pf.trim.nonEmpty,
      s"lang predicate must be a non-empty partition filter, got [$pf] in:\n${s.take(2000)}")
    // and pruning means NO post-scan row Filter mentions lang
    val rowFilters = """(?m)^\s*\+?-?\s*\*?\(?\d*\)?\s*Filter (.*)$""".r
      .findAllMatchIn(s).map(_.group(1)).toSeq
    assert(!rowFilters.exists(_.contains("lang")),
      s"lang must not survive as a row filter: $rowFilters")
  }

  test("kNN graph family: no exchange carries vector payloads; fuzzy join is never cartesian") {
    // the n² scoring must cut to (qid, id, cos) BEFORE the ranking
    // shuffle — a KEYED shuffle carrying the 64-dim arrays is the
    // 4 GB/2000² mistake bruteForceTopK's contract forbids. Two vector
    // movements stay legitimate and LINEAR: the broadcast of the
    // model-sized query side, and the one-pass round-robin spread of the
    // corpus to cluster width (n rows, touched once).
    import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, RangePartitioning}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    for (name <- Seq("v13_knn_graph", "g1_knn_pagerank", "g2_triangle_count")) {
      val q = graft.queries.VectorQueries.all.find(_.name == name).get
      val plan = executed(q.run(spark, sf001))
      val bad = collect(plan) { case e: ShuffleExchangeLike
        if (e.outputPartitioning.isInstanceOf[HashPartitioning] ||
            e.outputPartitioning.isInstanceOf[RangePartitioning]) &&
          e.schema.fieldNames.exists(f =>
            f.startsWith("__q") || f.startsWith("__c") || f == "embedding" || f == "qv") => e }
      assert(bad.isEmpty, s"$name shuffles vector payloads on a key:\n${bad.map(_.schema.simpleString)}")
    }
    val t39 = graft.queries.TextQueries.all.find(_.name == "t39_fuzzy_join").get
    val s = executed(t39.run(spark, sf001)).toString
    assert(!s.contains("CartesianProduct") && !s.contains("BroadcastNestedLoopJoin"),
      s"fuzzy join degraded to all-pairs:\n${s.take(2000)}")
  }

  test("scalable rank operators: bucket-partitioned data window, none under the broadcast") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeLike
    import org.apache.spark.sql.execution.window.WindowExec
    import graft.operators.Relational
    import spark.implicits._
    val df = (1L to 10000L).map(i => (i, i % 7)).toDF("id", "v")
    val ops: Seq[(String, DataFrame => DataFrame)] = Seq(
      "prefixSumScalable" -> (Relational.prefixSumScalable(_, "id", "v", "out", buckets = 16)),
      "ntileScalable" -> (Relational.ntileScalable(_, 3, col("id"), Seq(col("id")), "out",
        buckets = 16)),
      "surrogateKeyScalable" -> (Relational.surrogateKeyScalable(_, "out", col("id"),
        Seq(col("id")), buckets = 16)))
    def onBucket(w: WindowExec) = w.partitionSpec.exists(_.references.exists(_.name == "__b"))
    for ((name, f) <- ops) {
      val plan = executed(f(df))
      val wins = collect(plan) { case w: WindowExec => w }
      assert(wins.exists(onBucket),
        s"$name: the data-side window must partition by the range bucket:\n${plan.toString.take(2000)}")
      // a naive rewrite (global Window.orderBy over the data) would make
      // EVERY window global; exactly one global window — over the 16-row
      // per-bucket offsets frame — is the designed shape
      assert(wins.count(_.partitionSpec.isEmpty) <= 1,
        s"$name: more than one global window:\n${plan.toString.take(2000)}")
      // the offsets are aggregated from the bucketed input: reading them
      // off the data-side window replays its sort and window under the
      // broadcast (no plan reuses that exchange)
      val bcasts = collect(plan) { case b: BroadcastExchangeLike => b }
      assert(bcasts.size == 1, s"$name: expected one offsets broadcast:\n${plan.toString.take(2000)}")
      val replayed = bcasts.flatMap(b => collect(b) { case w: WindowExec if onBucket(w) => w })
      assert(replayed.isEmpty,
        s"$name: data-side window under the offsets broadcast:\n${plan.toString.take(3000)}")
    }
  }

  test("t35: no single-partition window over the per-document frame") {
    import org.apache.spark.sql.execution.window.WindowExec
    // round 13 replaced the literal ntile(3).over(Window.orderBy(...))
    // — one task sorting one row per document — with ntileScalable;
    // the surviving global windows must sit ONLY on the 64-row offsets
    // frame (recognizable by its __bt total column), never on a frame
    // carrying doc_id
    val t35 = graft.queries.TextQueries.all.find(_.name == "t35_quality_buckets").get
    val plan = executed(t35.run(spark, sf001))
    val wins = collect(plan) { case w: WindowExec => w }
    val globalOnData = wins.filter(w => w.partitionSpec.isEmpty &&
      w.child.schema.fieldNames.contains("doc_id"))
    assert(globalOnData.isEmpty,
      s"t35 still has a single-partition window over documents:\n${plan.toString.take(2000)}")
    assert(wins.exists(_.partitionSpec.nonEmpty),
      "t35's per-bucket running-count window is missing — rewrite drifted")
    // the gram stream must NOT be hash-exchanged whole: t35's only
    // shuffles are map-side-combined aggregates and the ntile offsets —
    // no exchange keyed by (doc_id, w1, w2) (the measured-slower shared
    // materialization; see the query's scaladoc). Two scans are the
    // DESIGNED shape here — each consumer re-derives the codegen'd
    // explosion instead of shuffling it.
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val gramWide = collect(plan) { case e: ShuffleExchangeLike
      if e.outputPartitioning.isInstanceOf[HashPartitioning] &&
        e.outputPartitioning.asInstanceOf[HashPartitioning].numPartitions > 1 &&
        e.schema.fieldNames.contains("doc_id") &&
        e.schema.fieldNames.contains("w1") => e }
    assert(gramWide.isEmpty,
      s"t35 shuffles the whole gram stream:\n${gramWide.map(_.schema.simpleString)}")
  }

  test("round-11 additions: t43 single shingle pass, t42 shuffle-free, r59 bounded exchanges, v14 no vector payload on keyed shuffles") {
    import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, RangePartitioning}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike

    // t43: the shingle explosion is the dominant cost and must run ONCE —
    // exactly one documents scan, one Generate (explode) in the plan
    val t43 = graft.queries.TextQueries.all.find(_.name == "t43_ngram_novelty").get
    // an adaptive plan's toString carries BOTH the final and the initial
    // plan — count nodes only up to the "== Initial Plan ==" marker
    val s43 = executed(t43.run(spark, sf001)).toString
      .split("== Initial Plan ==").head
    assert("Scan parquet".r.findAllMatchIn(s43).size == 1,
      s"t43 must scan documents once:\n${s43.take(1500)}")
    assert("Generate ".r.findAllMatchIn(s43).size <= 1,
      s"t43 must explode once:\n${s43.take(1500)}")

    // t42: row-local array stats — NO hash exchange anywhere (the only
    // exchange is the final ORDER BY's range partitioning)
    val t42 = graft.queries.TextQueries.all.find(_.name == "t42_vocab_stats").get
    val p42 = executed(t42.run(spark, sf001))
    val hash42 = collect(p42) { case e: ShuffleExchangeLike
      if e.outputPartitioning.isInstanceOf[HashPartitioning] => e }
    assert(hash42.isEmpty,
      s"t42 is per-row compute and must not hash-shuffle: ${hash42.map(_.schema.simpleString)}")

    // r59: one user-keyed window shuffle + the vocab^2 reduction + the
    // from_type probability window — hash exchanges stay <= 3
    val r59 = graft.queries.RelationalQueries.all.find(_.name == "r59_markov_transitions").get
    val p59 = executed(r59.run(spark, sf001))
    val hash59 = collect(p59) { case e: ShuffleExchangeLike
      if e.outputPartitioning.isInstanceOf[HashPartitioning] => e }
    assert(hash59.size <= 3,
      s"r59 grew extra shuffles (${hash59.size}): ${hash59.map(_.outputPartitioning)}")

    // v14: same payload rule as the kNN graph family — no keyed exchange
    // carries embeddings
    val v14 = graft.queries.VectorQueries.all.find(_.name == "v14_knn_label").get
    val p14 = executed(v14.run(spark, sf001))
    val bad14 = collect(p14) { case e: ShuffleExchangeLike
      if (e.outputPartitioning.isInstanceOf[HashPartitioning] ||
          e.outputPartitioning.isInstanceOf[RangePartitioning]) &&
        e.schema.fieldNames.exists(f =>
          f.startsWith("__q") || f.startsWith("__c") || f == "embedding" || f == "qv") => e }
    assert(bad14.isEmpty,
      s"v14 shuffles vector payloads on a key: ${bad14.map(_.schema.simpleString)}")
  }

  test("plan fingerprints match the committed artifact (exchange budget gate)") {
    // docs/PLAN_FINGERPRINTS.json is the machine-checkable half of
    // EXPLAINS.md: per-query exchange counts, committed and reviewed.
    // Any drift — a shuffle added by an innocent-looking refactor, a
    // broadcast silently degrading to an exchange — fails here until
    // `sbt 'runMain graft.Explain'` regenerates the artifact and the
    // diff is reviewed in the commit. Same sfDir and session geometry
    // as the generator, so plans are reproducible bit-for-bit.
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val artifact = new java.io.File("/root/repo/docs/PLAN_FINGERPRINTS.json")
    assert(artifact.exists, "run `sbt 'runMain graft.Explain'` to create the fingerprint artifact")
    val committed = mapper.readTree(artifact).get("queries")
    val qs = SparkEntry.queries
    val sfDir = "/root/testdata/sf0.01"
    val diffs = graft.Explain.headline
      .filterNot(graft.Explain.cacheDependentPlans).flatMap { name =>
      val fp = graft.plans.PlanFingerprint.ofQuery(spark,
        () => qs(name)(spark, sfDir))
      val c = committed.get(name)
      if (c == null) Some(s"$name: not in artifact (new query? regenerate)")
      else {
        val exp = (c.get("shuffles").asInt(), c.get("broadcasts").asInt(),
          c.get("reused").asInt())
        val got = (fp.shuffles, fp.broadcasts, fp.reused)
        // codegen evidence is gated too: an operator dropping out of a
        // whole-stage span (codegen_ops shrinking) is a silent perf
        // regression exactly like an added exchange
        val cgExp = Option(c.get("codegen_ops")).map(_.asInt()).getOrElse(-1)
        if (exp != got)
          Some(s"$name: committed (shuffles,broadcasts,reused)=$exp, current $got")
        else if (cgExp >= 0 && fp.codegenOps < cgExp)
          Some(s"$name: codegen_ops shrank from $cgExp to ${fp.codegenOps} " +
            "(an operator left whole-stage codegen)")
        else None
      }
    }
    assert(diffs.isEmpty,
      "exchange-count drift vs docs/PLAN_FINGERPRINTS.json — review and " +
        "regenerate via `sbt 'runMain graft.Explain'`:\n" + diffs.mkString("\n"))
  }

  test("h2: the gate layout's zone map actually skips files for the gate range") {
    import org.apache.spark.sql.functions.col
    val path = graft.queries.IoQueries.zonedDocs(spark, sf001)
    // the exact read h2 runs; files read is the scan's numFiles metric
    val df = graft.operators.GraftTable.read(spark, path)
      .filter(col("n_chars").between(450L, 10000L))
    val (read, total) = graft.operators.GraftTable.scanFiles(df)
    assert(total >= 2 && read < total,
      s"h2 gate range must skip files: read $read of $total")
  }

  test("h12: a PLAIN filtered GraftTable read prunes files with no explicit prune call") {
    import org.apache.spark.sql.functions.col
    val path = graft.queries.IoQueries.unifiedDocs(spark, sf001)
    val df = graft.operators.GraftTable.read(spark, path)
      .filter(col("n_chars").between(450L, 10000L))
    // the read site is filter-only: skipping must come from the scan's
    // own listing consulting the persisted index against the pushed-down
    // predicate — the files-read number is the scan's numFiles metric
    val (read, total) = graft.operators.GraftTable.scanFiles(df)
    assert(total >= 2 && read < total,
      s"h12 unified read must skip files: read $read of $total")
    // and the plan is a plain parquet scan rooted at our FileIndex with
    // the predicate pushed to it (PushedFilters reaches the format too)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("GraftFileIndex"), plan)
    assert(plan.contains("GreaterThanOrEqual(n_chars,450)"), plan)
  }
}
