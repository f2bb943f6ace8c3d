package graft.io

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.graft.bridge
import org.apache.spark.sql.types.StructType
import graft.core.{Catalog, TableEntry, TableFormat}

/** Credential provider seam. The reference fetches Snowflake credentials
  * from AWS Secrets Manager (reference Glue-spark/scripts/utils.py:5-16);
  * we take them from config/env behind an interface — no cloud SDK.
  */
trait Credentials { def get(key: String): Option[String] }
object EnvCredentials extends Credentials {
  def get(key: String): Option[String] = sys.env.get(key)
}
case class MapCredentials(m: Map[String, String]) extends Credentials {
  def get(key: String): Option[String] = m.get(key)
}

/** Warehouse sink seam. The reference's gold layer dual-writes: S3 parquet
  * (reference gold-snowflake/dim_customers_gold.py:56-62) then a Snowflake
  * table overwrite (:81, fact_sales_gold.py:88 — note the reference's
  * `.options('dbtable', …)` misuse of `options`; we implement the intent:
  * `option("dbtable", t)` + SaveMode.Overwrite). A real Snowflake connector
  * drops in behind this trait; the default local implementation has the
  * same observable semantics (full table overwrite by name).
  */
trait WarehouseSink {
  def write(df: DataFrame, table: String): Unit
}

/** Local warehouse = parquet directory per table name, full overwrite. */
class LocalWarehouseSink(root: String) extends WarehouseSink {
  def write(df: DataFrame, table: String): Unit =
    df.write.mode(SaveMode.Overwrite).parquet(s"$root/${table.replace('.', '/')}")
}

/** Wiring for the Spark-Snowflake connector with the option set the
  * reference uses (gold-snowflake/dim_customers_gold.py:72-81:
  * sfURL/sfUser/sfPassword/sfDatabase/sfSchema/sfWarehouse + dbtable).
  * Connector jar is not present in this offline build; construction is
  * cheap, `write` fails fast if the format is unavailable.
  */
class SnowflakeSink(options: Map[String, String]) extends WarehouseSink {
  /** The exact option set handed to the connector for one table write —
    * exposed so the mapping is contract-testable without the jar.
    */
  def optionsFor(table: String): Map[String, String] =
    options + ("dbtable" -> table)

  def write(df: DataFrame, table: String): Unit =
    df.write.format("snowflake").options(optionsFor(table))
      .mode(SaveMode.Overwrite).save()
}

object SnowflakeSink {
  /** The connection keys the reference passes (gold-snowflake/
    * dim_customers_gold.py:72-81).
    */
  val requiredKeys: Seq[String] =
    Seq("sfURL", "sfUser", "sfPassword", "sfDatabase", "sfSchema", "sfWarehouse")

  /** Build from a credential provider (the reference's Secrets-Manager
    * fetch, utils.py:5-16, behind the [[Credentials]] seam). Missing keys
    * fail fast at construction, not at first write.
    */
  def fromCredentials(creds: Credentials): SnowflakeSink = {
    val resolved = requiredKeys.map(k => k -> creds.get(k))
    val missing = resolved.collect { case (k, None) => k }
    require(missing.isEmpty, s"missing warehouse credentials: ${missing.mkString(", ")}")
    new SnowflakeSink(resolved.map { case (k, v) => k -> v.get }.toMap)
  }
}

object Sinks {
  /** Parquet sink + catalog registration — the Spark-native equivalent of
    * the reference's `getSink(... enableUpdateCatalog=True)` + snappy
    * glueparquet write (bronze/crm_cust_info_bronze.py:37-47). Snappy is
    * Spark's parquet default. `partitionBy` empty mirrors the reference's
    * `partitionKeys=[]`; at 100 TB callers pass real partition keys so
    * downstream reads get partition pruning.
    *
    * The registration carries the data columns' schema as parquet stores
    * it (every field nullable), so a catalog read starts no footer-
    * inference job. Partition columns are left out of it: the reader
    * appends them from the directory names with the same inferred types
    * a schema-less read gives.
    */
  def parquet(df: DataFrame, path: String, catalog: Option[Catalog] = None,
              name: String = "", partitionBy: Seq[String] = Nil): Unit = {
    val w = df.write.mode(SaveMode.Overwrite)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).parquet(path)
    val dataSchema = StructType(df.schema.filterNot(f => partitionBy.contains(f.name)))
    catalog.foreach(_.register(if (name.nonEmpty) name else path,
      TableEntry(path, TableFormat.Parquet, Some(bridge.asNullable(dataSchema)))))
  }
}
