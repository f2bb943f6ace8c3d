package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.core.{Catalog, Sessions}
import graft.io.{BronzeSource, CsvBronzeSource, Sinks, LocalWarehouseSink, WarehouseSink}
import graft.model.Schemas
import graft.quality.DataQuality
import graft.silver.Transforms
import graft.gold.Builders

/** The reference's full job DAG as one orchestrated run (SURVEY.md §3):
  * 6 bronze 1:1 ingests → 6 silver cleanses → dim_customers +
  * dim_products → fact_sales, stages communicating only through parquet +
  * catalog (per-stage materialization = reprocessing checkpoints), with
  * the reference's `ColumnCount > 0` DQ gate and duration logging per
  * stage.
  *
  * Within a layer the independent stages run concurrently, one fresh
  * thread each ([[Parallel.all]]): the six bronze ingests, the six silver
  * cleanses, and the two gold dims (fact_sales follows them, since it
  * joins both). At pipeline sizes a stage is bound by driver latency,
  * not data, so overlapping them is what fills the cores. A layer waits
  * for every stage and then fails with the first failed stage in
  * declared order, the others attached as suppressed; `dqReports` keeps
  * the declared order whatever order the stages finish in. A stage's
  * write is its only job: nothing reads the output back, and the next
  * layer reads it through a catalog entry that carries its schema, so no
  * footer-inference job runs either.
  *
  * Engine-level improvement over the reference (documented, output-
  * identical): gold frames are cached between the parquet write and the
  * warehouse write — the reference recomputes the whole join DAG for its
  * second sink (gold-snowflake/dim_customers_gold.py:56-62 then :81).
  */
class Runner(spark: SparkSession, source: BronzeSource, outRoot: String,
             warehouse: WarehouseSink, clock: Transforms.Clock = Transforms.Clock.system,
             ruleset: String = """Rules = [ ColumnCount > 0 ]""",
             layout: Option[Runner.Layout] = None) {

  /** CSV convenience constructor (the repo's default seed-data topology). */
  def this(spark: SparkSession, csvRoot: String, outRoot: String,
           warehouse: WarehouseSink, clock: Transforms.Clock,
           ruleset: String) =
    this(spark, new CsvBronzeSource(csvRoot), outRoot, warehouse, clock, ruleset)
  def this(spark: SparkSession, csvRoot: String, outRoot: String,
           warehouse: WarehouseSink, clock: Transforms.Clock) =
    this(spark, new CsvBronzeSource(csvRoot), outRoot, warehouse, clock)
  def this(spark: SparkSession, csvRoot: String, outRoot: String,
           warehouse: WarehouseSink) =
    this(spark, new CsvBronzeSource(csvRoot), outRoot, warehouse)

  val catalog = new Catalog(spark)
  val durations = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  val dqReports = scala.collection.mutable.LinkedHashMap.empty[String, DataQuality.Report]

  private def timed[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    val r = body
    durations(name) = (System.nanoTime() - t0) / 1e9
    r
  }

  /** Write a stage frame and return its DQ report (BEST_EFFORT). Metric
    * rules ride the sink action via `observe` — one scan per stage, never
    * a second DQ-only job over the frame.
    */
  private def stage(layer: String, name: String, df: DataFrame,
                    partitionBy: Seq[String] = Nil): DataQuality.Report = {
    val obs = DataQuality.observed(df, ruleset, s"dq_${layer}_$name")
    Sinks.parquet(obs.df, s"$outRoot/$layer/$name", Some(catalog), s"$layer.$name", partitionBy)
    obs.report()
  }

  /** Run a layer's independent stages concurrently; each builds its frame
    * on its own thread. Reports land in `dqReports` in declared order.
    */
  private def stages(layer: String)(named: (String, () => DataQuality.Report)*): Unit =
    Parallel.all(named.map(_._2)).zip(named).foreach { case (rep, (name, _)) =>
      dqReports(s"$layer.$name") = rep
    }

  /** Bronze: 1:1 typed ingest through the source seam, one table per
    * source (CSV file or JDBC table).
    */
  def runBronze(): Unit = timed("bronze") {
    stages("bronze")(Schemas.sourceCsv.keys.toSeq.map { name =>
      name -> (() => stage("bronze", name, source.read(spark, name)))
    }: _*)
  }

  private def bronze(name: String) = catalog.read(s"bronze.$name")
  private def silver(name: String) = catalog.read(s"silver.$name")

  /** Silver: the six cleansing transforms (SURVEY.md §2.9). */
  def runSilver(): Unit = timed("silver") {
    def cleanse(name: String)(transform: DataFrame => DataFrame) =
      name -> (() => stage("silver", name, transform(bronze(name))))
    stages("silver")(
      cleanse("crm_cust_info")(Transforms.custInfo(_)),
      cleanse("crm_prd_info")(Transforms.prdInfo),
      cleanse("crm_sales_details")(Transforms.salesDetails),
      cleanse("erp_cust_az12")(Transforms.custAz12(_, clock)),
      cleanse("erp_loc_a101")(Transforms.locA101),
      cleanse("erp_px_cat_g1v2")(Transforms.pxCatG1v2))
  }

  /** A gold dim: one cached copy feeds the parquet stage and the
    * warehouse write, and is released whether or not they succeed. */
  private def dim(name: String, table: String)(build: => DataFrame) =
    name -> (() => {
      val df = build.cache()
      try { val rep = stage("gold", name, df); warehouse.write(df, table); rep }
      finally df.unpersist()
    })

  /** Gold: star-schema assembly + dual sink (parquet + warehouse). */
  def runGold(): Unit = timed("gold") {
    stages("gold")(
      dim("dim_customers", "customer_sch.dim_customers") {
        Builders.dimCustomers(silver("crm_cust_info"), silver("erp_cust_az12"), silver("erp_loc_a101"))
      },
      dim("dim_products", "product_sch.dim_products") {
        Builders.dimProducts(silver("crm_prd_info"), silver("erp_px_cat_g1v2"))
      })

    val factSales = Builders.factSales(
      silver("crm_sales_details"),
      catalog.read("gold.dim_products"), catalog.read("gold.dim_customers")).cache()
    // the lake copy is month-partitioned (the 100 TB upgrade over the
    // reference's partitionKeys=[], bronze/crm_cust_info_bronze.py:41) so
    // date-ranged readers get partition pruning; the warehouse table keeps
    // the reference's exact column set.
    import org.apache.spark.sql.functions.{col, date_format}
    val factWithMonth = factSales.withColumn("order_month",
      date_format(col("order_date"), "yyyy-MM"))
    // Opt-in layout maintenance (Runner.Layout): range-partition on
    // (month, z-value) and sort within tasks so every fact file covers a
    // tight hyper-rectangle of the z-order columns INSIDE its month dir —
    // min/max row-group stats then prune scans filtered on any z column,
    // on top of the month partition pruning. Row content is unchanged.
    val factLaidOut = layout.filter(_.zOrderCols.nonEmpty).fold(factWithMonth) { l =>
      factWithMonth
        .withColumn("__z", graft.operators.Scale.zValueN(l.zOrderCols.map(col)))
        .repartitionByRange(l.zOrderSlices, col("order_month"), col("__z"))
        .sortWithinPartitions("order_month", "__z")
        .drop("__z")
    }
    try {
      dqReports("gold.fact_sales") =
        stage("gold", "fact_sales", factLaidOut, partitionBy = Seq("order_month"))
      // OPTIMIZE-style small-file compaction of the partitioned fact dir
      // (partition-preserving — pruning above survives, see ScaleSpec).
      layout.flatMap(_.compactTargetBytes).foreach { tb =>
        graft.operators.Scale.compactParquet(spark, s"$outRoot/gold/fact_sales", tb); ()
      }
      warehouse.write(factSales, "sales_sch.fact_sales")
    } finally factSales.unpersist()
  }

  def runAll(): Unit = { runBronze(); runSilver(); runGold() }
}

object Runner {
  /** Opt-in gold layout maintenance (OPTIMIZE/Z-ORDER in lakehouse terms):
    * `zOrderCols` clusters fact files on the interleaved z-value inside
    * each month partition at write time; `compactTargetBytes` rewrites the
    * partitioned fact dir into right-sized files afterwards. Both steps
    * are content-identical — only file layout changes.
    *
    * @param zOrderSlices number of (month, z) range slices at write time —
    *   at 100 TB size this so one slice ≈ one output file of row-group-
    *   stats-friendly size, NOT one slice per month (a month is huge).
    */
  case class Layout(zOrderCols: Seq[String] = Nil,
                    zOrderSlices: Int = 16,
                    compactTargetBytes: Option[Long] = None)

  /** CLI: <csvRoot> <outRoot> — runs the whole DAG against the bundled
    * reference CSVs and prints per-stage durations + DQ results.
    */
  def main(args: Array[String]): Unit = {
    val csvRoot = if (args.length > 0) args(0) else "/root/reference/datasets"
    val outRoot = if (args.length > 1) args(1) else "/tmp/graft_lake"
    val spark = Sessions.local()
    val r = new Runner(spark, csvRoot, outRoot, new LocalWarehouseSink(s"$outRoot/warehouse"))
    r.runAll()
    r.durations.foreach { case (k, v) => println(f"[pipeline] $k%-8s ${v}%8.2f s") }
    r.dqReports.foreach { case (k, rep) =>
      println(s"[dq] $k: ${if (rep.allPassed) "PASS" else "FAIL"} ${rep.results.mkString("; ")}")
    }
    spark.stop()
  }
}
