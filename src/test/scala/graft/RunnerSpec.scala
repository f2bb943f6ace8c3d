package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Catalog
import graft.io.{BronzeSource, CsvBronzeSource, LocalWarehouseSink, Sinks}
import graft.model.Schemas
import graft.pipeline.Runner
import graft.silver.Transforms

/** The medallion runner end to end over a tiny dirty CRM/ERP CSV set
  * written here (no external corpus): a duplicate cst_id, a null id, a
  * multi-version prd_key and invalid int dates. Pins the layer outputs,
  * the declared `dqReports` order under concurrent stages, the Spark jobs
  * a layer starts, the failure path, and the catalog's registered schema.
  */
class RunnerSpec extends SparkSpec {

  private val csvs = Map(
    "crm_cust_info" -> Seq(
      "cst_id,cst_key,cst_firstname,cst_lastname,cst_marital_status,cst_gndr,cst_create_date",
      "1,AW001, Ann ,Lee,S,F,2024-01-01",
      "1,AW001,Ann,Lee,M,f,2024-06-01",
      "2,AW002,Bob ,Ray,M,M,2024-02-01",
      "3,AW003,Cy,Doe,,,2024-03-01",
      ",SF500,,,,,"),
    "crm_prd_info" -> Seq(
      "prd_id,prd_key,prd_nm,prd_cost,prd_line,prd_start_dt,prd_end_dt",
      "1,CO-RF-FR-R92B-58,Frame,100,R ,2011-07-01,",
      "2,CO-RF-FR-R92B-58,Frame,120,R ,2012-07-01,2011-12-28",
      "3,AC-HE-HL-U509,Helmet,,S ,2013-07-01,",
      "4,BI-RB-BK-R93R-62,Bike,900,M ,2013-07-01,"),
    "crm_sales_details" -> Seq(
      "sls_ord_num,sls_prd_key,sls_cust_id,sls_order_dt,sls_ship_dt,sls_due_dt,sls_sales,sls_quantity,sls_price",
      "SO1,FR-R92B-58,1,20120101,20120108,20120113,120,1,120",
      "SO2,HL-U509,2,0,20120208,20120213,,2,35",
      "SO3,BK-R93R-62,3,20130230,20130308,20130313,900,1,900",
      "SO4,BK-R93R-62,9,20130301,20130308,20130313,900,1,-900"),
    "erp_cust_az12" -> Seq(
      "CID,BDATE,GEN",
      "NASAW001,1980-05-05,F",
      "AW002,2045-01-01,Male",
      "AW003,1990-01-01, "),
    "erp_loc_a101" -> Seq(
      "CID,CNTRY",
      "AW-001,DE",
      "AW-002,US",
      "AW-003,"),
    "erp_px_cat_g1v2" -> Seq(
      "ID,CAT,SUBCAT,MAINTENANCE",
      "CO_RF,Components,Road Frames,No",
      "AC_HE,Accessories,Helmets,Yes",
      "BI_RB,Bikes,Road Bikes,Yes"))

  private def tmp(prefix: String): String = Files.createTempDirectory(prefix).toString

  private lazy val csvRoot: String = {
    val root = tmp("graft_runner_csv")
    csvs.foreach { case (name, lines) =>
      val p = Paths.get(root, Schemas.sourceCsv(name)._1)
      Files.createDirectories(p.getParent)
      Files.write(p, lines.asJava)
    }
    root
  }

  private def runner(out: String, source: BronzeSource = new CsvBronzeSource(csvRoot)) =
    new Runner(spark, source, out, new LocalWarehouseSink(s"$out/warehouse"),
      Transforms.Clock.fixed("2026-01-01"))

  /** Spark jobs started while `body` runs, each with the caller's
    * `graft.test.layer` local property and its SQL execution id. */
  private def jobsOf(body: => Unit): Seq[(String, Option[String])] = {
    val jobs = new ConcurrentLinkedQueue[(String, Option[String])]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val p = Option(e.properties)
        jobs.add((p.flatMap(x => Option(x.getProperty("graft.test.layer"))).getOrElse(""),
          p.flatMap(x => Option(x.getProperty("spark.sql.execution.id")))))
        ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      org.apache.spark.graft.listenerBridge
        .waitUntilListenerBusEmpty(spark.sparkContext, 30000)
    } finally spark.sparkContext.removeSparkListener(listener)
    jobs.asScala.toSeq
  }

  /** One instrumented runAll, layer by layer, tagging each layer's jobs. */
  private lazy val run = {
    val out = tmp("graft_runner")
    val r = runner(out)
    val sc = spark.sparkContext
    val jobs = jobsOf {
      try Seq[(String, () => Unit)]("bronze" -> (() => r.runBronze()),
        "silver" -> (() => r.runSilver()), "gold" -> (() => r.runGold())).foreach {
        case (layer, body) => sc.setLocalProperty("graft.test.layer", layer); body()
      } finally sc.setLocalProperty("graft.test.layer", null)
    }
    (out, r, jobs)
  }

  private def read(t: String): DataFrame = spark.read.parquet(s"${run._1}/$t")

  test("runAll over dirty CSVs: silver and gold row counts, dense surrogate keys") {
    val silverCounts = Seq("crm_cust_info", "crm_prd_info", "crm_sales_details",
      "erp_cust_az12", "erp_loc_a101", "erp_px_cat_g1v2").map(t => t -> read(s"silver/$t").count())
    // cust_info: the duplicate id keeps its latest row, the null-id row stays once
    assert(silverCounts == Seq("crm_cust_info" -> 4L, "crm_prd_info" -> 4L,
      "crm_sales_details" -> 4L, "erp_cust_az12" -> 3L, "erp_loc_a101" -> 3L,
      "erp_px_cat_g1v2" -> 3L))
    val custInfo = read("silver/crm_cust_info").filter(col("cst_id") === 1).head()
    assert(custInfo.getAs[String]("cst_marital_status") == "Married")
    // the invalid int dates (0 and 20130230) repair to NULL
    assert(read("silver/crm_sales_details").filter(col("sls_order_dt").isNull)
      .select("sls_ord_num").collect().map(_.getString(0)).toSet == Set("SO2", "SO3"))

    val wh = s"${run._1}/warehouse"
    val dc = spark.read.parquet(s"$wh/customer_sch/dim_customers")
    val dp = spark.read.parquet(s"$wh/product_sch/dim_products")
    val fs = spark.read.parquet(s"$wh/sales_sch/fact_sales")
    assert((dc.count(), dp.count(), fs.count()) == ((4L, 3L, 4L)))
    assert(dc.select("customer_key").collect().map(_.getLong(0)).sorted.toSeq == (1L to 4L))
    assert(dp.select("product_key").collect().map(_.getLong(0)).sorted.toSeq == (1L to 3L))
    // the multi-version prd_key keeps only its current version
    assert(dp.filter(col("product_number") === "FR-R92B-58")
      .select("product_id").collect().map(_.getInt(0)).toSeq == Seq(2))
    // the lake copies match the warehouse tables
    assert(read("gold/dim_customers").count() == 4 && read("gold/dim_products").count() == 3)
    assert(read("gold/fact_sales").count() == 4)
    // the unknown customer joins to a NULL key, never drops the line
    assert(fs.filter(col("customer_key").isNull).select("order_number")
      .collect().map(_.getString(0)).toSeq == Seq("SO4"))
  }

  test("dqReports keep the declared stage order whatever order stages finish in") {
    val declared = Schemas.sourceCsv.keys.toSeq.map("bronze." + _) ++
      Seq("crm_cust_info", "crm_prd_info", "crm_sales_details", "erp_cust_az12",
        "erp_loc_a101", "erp_px_cat_g1v2").map("silver." + _) ++
      Seq("gold.dim_customers", "gold.dim_products", "gold.fact_sales")
    assert(run._2.dqReports.keys.toSeq == declared)
    assert(run._2.dqReports.values.forall(_.allPassed))
    assert(run._2.durations.keys.toSeq == Seq("bronze", "silver", "gold"))
  }

  test("runBronze starts exactly 6 jobs, and every job of runAll runs inside a SQL execution") {
    val jobs = run._3
    // one write per bronze table: no read-back, no schema-inference job
    assert(jobs.count(_._1 == "bronze") == 6, s"bronze jobs: ${jobs.filter(_._1 == "bronze")}")
    // the stage threads inherit the caller's local properties
    assert(jobs.forall(_._1.nonEmpty), s"jobs without the caller's layer tag: $jobs")
    // footer inference and parallel listing run outside any SQL execution
    assert(jobs.forall(_._2.nonEmpty), s"jobs outside a SQL execution: ${jobs.filter(_._2.isEmpty)}")
  }

  test("a failing bronze stage fails the layer only after the others finish") {
    val declared = Schemas.sourceCsv.keys.toSeq
    val failing = declared.filter(Set("crm_prd_info", "erp_loc_a101"))
    val slow = declared.filterNot(failing.contains).last
    val csv = new CsvBronzeSource(csvRoot)
    val source = new BronzeSource {
      def read(spark: SparkSession, name: String): DataFrame = {
        if (failing.contains(name)) throw new IllegalStateException(s"source down: $name")
        if (name == slow) Thread.sleep(500)
        csv.read(spark, name)
      }
    }
    val out = tmp("graft_runner_fail")
    val r = runner(out, source)
    val e = intercept[IllegalStateException](r.runBronze())
    assert(e.getMessage == s"source down: ${failing.head}")
    assert(e.getSuppressed.map(_.getMessage).toSeq == Seq(s"source down: ${failing(1)}"))
    val others = declared.filterNot(failing.contains)
    assert(others.size == 4)
    others.foreach { t =>
      assert(r.catalog.contains(s"bronze.$t"), s"bronze.$t not registered")
      assert(Files.exists(Paths.get(out, "bronze", t, "_SUCCESS")), s"bronze.$t not written")
      assert(r.catalog.read(s"bronze.$t").count() == csvs(t).size - 1)
    }
    failing.foreach(t => assert(!r.catalog.contains(s"bronze.$t")))
  }

  test("Sinks.parquet registers the schema a parquet read infers; catalog reads start no job") {
    val df = spark.range(0, 12).select(
      col("id"),
      (col("id") % 3).as("part_l"),
      concat(lit("m"), (col("id") % 2).cast("string")).as("part_s"),
      array(col("id")).as("arr"),
      struct(col("id").as("x"), lit("y").as("y")).as("st"),
      lit(null).cast("date").as("d"))
    val cat = new Catalog(spark)
    val dir = tmp("graft_sink_schema")
    Sinks.parquet(df, s"$dir/plain", Some(cat), "plain")
    // a long partition column reads back as the int a reader infers from
    // the directory names, so the registration must not pin it
    Sinks.parquet(df, s"$dir/by_l", Some(cat), "by_l", partitionBy = Seq("part_l"))
    Sinks.parquet(df, s"$dir/by_ls", Some(cat), "by_ls", partitionBy = Seq("part_l", "part_s"))
    def fields(s: org.apache.spark.sql.types.StructType) =
      s.fields.toSeq.map(f => (f.name, f.dataType, f.nullable))
    Seq("plain" -> "plain", "by_l" -> "by_l", "by_ls" -> "by_ls").foreach { case (name, sub) =>
      val inferred = spark.read.parquet(s"$dir/$sub").schema
      var schema: org.apache.spark.sql.types.StructType = null
      val jobs = jobsOf { schema = cat.read(name).schema }
      assert(jobs.isEmpty, s"catalog read of $name started ${jobs.size} job(s)")
      assert(fields(schema) == fields(inferred), s"$name: $schema vs $inferred")
      assert(cat.read(name).count() == 12)
    }
    // the listener does see a schema-inference job
    assert(jobsOf(spark.read.parquet(s"$dir/plain").schema).nonEmpty)
  }
}
