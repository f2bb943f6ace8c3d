package graft.gold

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Relational

/** Gold-layer star-schema builders (SURVEY.md §2.4, §2.7). All joins are
  * left outer equi-joins with dimension-sized right sides — we broadcast
  * them explicitly so the plan is broadcast-hash regardless of threshold
  * config; at 100 TB the fact side streams through map-side joins with zero
  * shuffle.
  */
object Builders {
  // Intent-vs-letter notes (SURVEY.md §7.4.1): the reference assigns the
  // surrogate keys (dim_customers_gold.py:36-40, dim_products_gold.py:33-37)
  // but then OMITS them from the select lists — yet fact_sales_gold.py:48-49
  // reads pr.product_key / cu.customer_key, which would fail. And
  // dim_products assigns keys before the current-only filter (non-dense
  // keys). We implement the evident intent: keys present in both dims,
  // assigned after the filter so they are a dense 1..N.

  /** dim_customers (reference gold-snowflake/dim_customers_gold.py:23-52):
    * silver cust_info ⟕ erp cust_az12 on cst_key=cid ⟕ erp loc_a101 on
    * cst_key=cid; gender prefers CRM unless 'n/a', then ERP, then 'n/a'
    * (:48-49); surrogate key = row_number ordered by cst_id (:36-40).
    */
  def dimCustomers(custInfo: DataFrame, custAz12: DataFrame,
                   locA101: DataFrame): DataFrame = {
    val ci = custInfo.alias("ci")
    val ca = broadcast(custAz12).alias("ca")
    val la = broadcast(locA101).alias("la")
    val joined = ci
      .join(ca, col("ci.cst_key") === col("ca.cid"), "left")
      .join(la, col("ci.cst_key") === col("la.cid"), "left")
    // surrogateKeyScalable (Relational's bucketedRank core): identical
    // dense 1..N in the same (cst_id NULLS FIRST, cst_key) order, WITHOUT
    // the single-partition global WindowExec the reference's row_number()
    // OVER (ORDER BY ...) costs — cst_id is the rank key (nulls land in
    // the dedicated nulls-first bucket), cst_key tie-breaks inside a bucket
    val keyed = Relational.surrogateKeyScalable(joined, "customer_key",
      col("ci.cst_id"),
      Seq(col("ci.cst_id").asc_nulls_first, col("ci.cst_key").asc))
    keyed.select(
      col("customer_key"),
      col("ci.cst_id").alias("customer_id"),
      col("ci.cst_key").alias("customer_number"),
      col("ci.cst_firstname").alias("first_name"),
      col("ci.cst_lastname").alias("last_name"),
      col("la.cntry").alias("country"),
      col("ci.cst_marital_status").alias("marital_status"),
      when(col("ci.cst_gndr") =!= "n/a", col("ci.cst_gndr"))
        .otherwise(coalesce(col("ca.gen"), lit("n/a"))).alias("gender"),
      col("ca.bdate").alias("birthdate"),
      col("ci.cst_create_date").alias("create_date"))
  }

  /** dim_products (dim_products_gold.py:24-51): silver prd_info ⟕ the
    * 36-row category lookup on cat_id=id; keep only current versions
    * (prd_end_dt IS NULL, :49-51); surrogate key ordered by
    * (prd_start_dt, prd_key) (:33-37).
    */
  def dimProducts(prdInfo: DataFrame, pxCat: DataFrame): DataFrame = {
    val pn = prdInfo.filter(col("prd_end_dt").isNull).alias("pn")
    val pc = broadcast(pxCat).alias("pc")
    val joined = pn.join(pc, col("pn.cat_id") === col("pc.id"), "left")
    // same scalable pattern as dimCustomers: the DATE rank key becomes
    // days-since-epoch (monotone, so bucket ranges follow the sort
    // order); prd_key tie-breaks inside a bucket
    val keyed = Relational.surrogateKeyScalable(joined, "product_key",
      unix_date(col("pn.prd_start_dt")),
      Seq(col("pn.prd_start_dt").asc_nulls_first, col("pn.prd_key").asc))
    keyed.select(
      col("product_key"),
      col("pn.prd_id").alias("product_id"),
      col("pn.prd_key").alias("product_number"),
      col("pn.prd_nm").alias("product_name"),
      col("pn.cat_id").alias("category_id"),
      col("pc.cat").alias("category"),
      col("pc.subcat").alias("subcategory"),
      col("pc.maintenance").alias("maintenance"),
      col("pn.prd_cost").alias("cost"),
      col("pn.prd_line").alias("product_line"),
      col("pn.prd_start_dt").alias("start_date"))
  }

  /** fact_sales (fact_sales_gold.py:23-57): silver sales_details ⟕
    * dim_products on sls_prd_key=product_number ⟕ dim_customers on
    * sls_cust_id=customer_id; rename-only projection — the fact carries dim
    * surrogate keys + measures.
    */
  def factSales(salesDetails: DataFrame, dimProducts: DataFrame,
                dimCustomers: DataFrame): DataFrame = {
    val sd = salesDetails.alias("sd")
    val pr = broadcast(dimProducts.select("product_key", "product_number")).alias("pr")
    val cu = broadcast(dimCustomers.select("customer_key", "customer_id")).alias("cu")
    sd.join(pr, col("sd.sls_prd_key") === col("pr.product_number"), "left")
      .join(cu, col("sd.sls_cust_id") === col("cu.customer_id"), "left")
      .select(
        col("sd.sls_ord_num").alias("order_number"),
        col("pr.product_key"),
        col("cu.customer_key"),
        col("sd.sls_order_dt").alias("order_date"),
        col("sd.sls_ship_dt").alias("shipping_date"),
        col("sd.sls_due_dt").alias("due_date"),
        col("sd.sls_sales").alias("sales_amount"),
        col("sd.sls_quantity").alias("quantity"),
        col("sd.sls_price").alias("price"))
  }
}
