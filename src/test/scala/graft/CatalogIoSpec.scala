package graft

import org.apache.spark.sql.functions._
import graft.core.{Catalog, TableEntry, TableFormat}
import graft.io.{Sinks, Sources, MapCredentials, LocalWarehouseSink}
import graft.model.Schemas

class CatalogIoSpec extends SparkSpec {

  test("catalog round-trip: sink registers, read resolves") {
    val cat = new Catalog(spark)
    val dir = java.nio.file.Files.createTempDirectory("graft_cat").toString
    val df = spark.read.parquet(s"$sf001/region.parquet")
    Sinks.parquet(df, s"$dir/region", Some(cat), "bronze.region")
    assert(cat.contains("bronze.region"))
    assert(cat.read("bronze.region").count() == df.count())
    assertThrows[NoSuchElementException](cat.read("nope"))
  }

  test("partitioned sink writes hive-style directories for pruning") {
    val cat = new Catalog(spark)
    val dir = java.nio.file.Files.createTempDirectory("graft_part").toString
    val df = spark.read.parquet(s"$sf001/nation.parquet")
    Sinks.parquet(df, s"$dir/nation", Some(cat), "nation_p", partitionBy = Seq("n_regionkey"))
    val parts = new java.io.File(s"$dir/nation").listFiles().map(_.getName)
      .filter(_.startsWith("n_regionkey="))
    assert(parts.length == 5)
    // partition filter prunes: only one directory is scanned
    val pruned = spark.read.parquet(s"$dir/nation").filter(col("n_regionkey") === 2)
    val scan = pruned.queryExecution.executedPlan.toString
    assert(pruned.count() > 0)
    assert(scan.contains("PartitionFilters: [isnotnull(n_regionkey"), scan)
  }

  test("h6 layout: two real footer schemas on disk; merged read null-fills exactly the legacy rows") {
    val path = graft.queries.IoQueries.evolvedDocs(spark, sf001)
    // the directory must genuinely hold BOTH generations' footers —
    // a 4-column legacy schema and the 5-column current one — or the
    // query proves nothing about schema merging
    val files = new java.io.File(path).listFiles()
      .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("."))
    val widths = files.map(f => spark.read.parquet(f.getAbsolutePath).schema.size).toSet
    assert(widths == Set(4, 5), s"expected 4- and 5-column footers, got $widths")
    val merged = spark.read.option("mergeSchema", "true").parquet(path)
    assert(merged.schema.fieldNames.contains("n_chars"))
    val docs = graft.queries.Tables.documents(spark, sf001)
    val legacy = docs.filter(col("doc_id") % 4 === 0).count()
    assert(merged.filter(col("n_chars").isNull).count() == legacy,
      "null n_chars rows must be exactly the legacy generation")
    assert(merged.count() == docs.count(), "no rows lost across generations")
  }

  test("CSV source: explicit schema, header, CRLF-safe on the reference corpus") {
    val df = Sources.csv(spark, "/root/reference/datasets/erp/LOC_A101.csv",
      Schemas.erpLocA101)
    assert(df.schema == Schemas.erpLocA101)
    assert(df.count() == 18484)
    // CRLF must not leak into the last column
    assert(df.filter(col("cntry").contains("\r")).count() == 0)
  }

  test("snowflake sink fails fast without the connector, with a clear error") {
    val sink = new graft.io.SnowflakeSink(Map("sfURL" -> "x"))
    val e = intercept[Exception] {
      sink.write(spark.read.parquet(s"$sf001/region.parquet"), "sch.t")
    }
    assert(e.getMessage.toLowerCase.contains("snowflake"))
  }

  test("credentials + local warehouse sink") {
    val creds = MapCredentials(Map("user" -> "u"))
    assert(creds.get("user").contains("u") && creds.get("nope").isEmpty)
    val dir = java.nio.file.Files.createTempDirectory("graft_whs").toString
    val sink = new LocalWarehouseSink(dir)
    sink.write(spark.read.parquet(s"$sf001/region.parquet"), "sch.regions")
    assert(spark.read.parquet(s"$dir/sch/regions").count() == 5)
  }

  test("h10: string zone map skips files for the gate range, lexicographic semantics") {
    val path = graft.queries.IoQueries.zonedDocsStr(spark, sf001)
    // the exact read h10 runs; files read is the scan's numFiles metric
    val pruned = graft.operators.GraftTable.read(spark, path)
      .filter(col("source") >= "src2" && col("source") <= "src4")
    val (read, total) = graft.operators.GraftTable.scanFiles(pruned)
    assert(total >= 2 && read < total,
      s"h10 gate range must skip files: read $read of $total")
    val srcs = pruned.select("source").distinct().collect().map(_.getString(0)).toSet
    // the string-ordering trap: src10..src19 sort BELOW 'src2' and are out
    assert(srcs == Set("src2", "src3", "src4"), srcs.toString)
  }

  test("binaryFile source: exact bytes, metadata columns, pathGlobFilter pruning") {
    val dir = java.nio.file.Files.createTempDirectory("binsrc_").toString
    val payload = Array[Byte](0, 1, 2, -1, 127, -128, 10, 13) // not valid UTF-8 text
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "a.bin"), payload)
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "b.dat"), "xyz".getBytes)
    val rows = spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.bin").load(dir).collect()
    assert(rows.length == 1, "glob filter should prune b.dat")
    val r = rows.head
    assert(r.getAs[String]("path").endsWith("a.bin"))
    assert(r.getAs[Long]("length") == payload.length)
    assert(r.getAs[Array[Byte]]("content").toSeq == payload.toSeq,
      "content must be the exact untouched bytes")
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
    }
    rm(new java.io.File(dir))
  }

  test("h9 layout: dynamic overwrite swaps ONLY the batch's partitions; others byte-untouched") {
    // replay the builder's two writes by hand so the untouched-files
    // contract is observable between them
    val root = java.nio.file.Files.createTempDirectory("dynover_spec_").toString
    val docs = graft.queries.Tables.documents(spark, sf001)
      .select("doc_id", "n_chars", "lang", "source")
    docs.filter(col("doc_id") % 7 =!= 0)
      .write.mode("overwrite").partitionBy("lang").parquet(root)
    def listing(lang: String): Map[String, (Long, Long)] =
      Option(new java.io.File(s"$root/lang=$lang").listFiles()).get
        .filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> ((f.length(), f.lastModified()))).toMap
    val frBefore = listing("fr")
    val zhBefore = listing("zh")
    assert(frBefore.nonEmpty && zhBefore.nonEmpty)
    docs.filter(col("lang").isin("en", "de"))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("lang").parquet(root)
    // untouched partitions: same files, same bytes, same mtimes
    assert(listing("fr") == frBefore, "dynamic overwrite rewrote lang=fr")
    assert(listing("zh") == zhBefore, "dynamic overwrite rewrote lang=zh")
    // replaced partitions now carry the FULL current content (the
    // doc_id % 7 == 0 rows the snapshot lacked are present)
    val en = spark.read.parquet(root).filter(col("lang") === "en")
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    val enExp = docs.filter(col("lang") === "en")
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(en == enExp, s"replaced partition diverged: ${en.size} vs ${enExp.size}")
    assert(en.exists(_ % 7 == 0), "batch rows missing from replaced partition")
    // and the rest still hold only the snapshot rows
    val fr = spark.read.parquet(root).filter(col("lang") === "fr")
      .select("doc_id").collect().map(_.getLong(0))
    assert(fr.nonEmpty && fr.forall(_ % 7 != 0))
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
    }
    rm(new java.io.File(root))
  }

  test("h8 layout: each generation prunes with its OWN partition spec; union view complete") {
    val (gen1, gen2) = graft.queries.IoQueries.specEvolvedDocs(spark, sf001)
    // both specs really exist on disk at their documented depths
    assert(new java.io.File(gen1).listFiles().exists(f =>
      f.isDirectory && f.getName.startsWith("lang=") &&
        f.listFiles().forall(!_.getName.startsWith("source="))),
      "gen1 should be lang= only")
    assert(new java.io.File(gen2).listFiles().exists(f =>
      f.isDirectory && f.getName.startsWith("lang=") &&
        f.listFiles().exists(_.getName.startsWith("source="))),
      "gen2 should be lang=/source=")
    val pred = col("lang") === "en" && col("source") === "src1"
    // input_file_name() over the filtered scan lists the files the
    // pruned plan actually read (DataFrame.inputFiles is pre-pruning)
    def readFiles(root: String) = spark.read.parquet(root).filter(pred)
      .select(input_file_name()).distinct().collect().map(_.getString(0))
    val f1 = readFiles(gen1)
    val f2 = readFiles(gen2)
    // gen1's spec can only prune lang: every read file sits under
    // lang=en but source dirs don't exist to prune
    assert(f1.nonEmpty && f1.forall(_.contains("lang=en")), f1.mkString("\n"))
    // gen2's finer spec prunes BOTH levels
    assert(f2.nonEmpty && f2.forall(p => p.contains("lang=en") && p.contains("source=src1")),
      f2.mkString("\n"))
    // the union view is exactly the original slice (no loss, no dup)
    val got = spark.read.parquet(gen1).unionByName(spark.read.parquet(gen2))
      .filter(pred).select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    val exp = graft.queries.Tables.documents(spark, sf001)
      .filter(pred).select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(got == exp, s"union view diverged: ${got.size} vs ${exp.size}")
  }
}
