package graft.operators

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType, StringType}

/** ONE self-pruning read path over the [[Scale]] table protocols, and
  * the only file-skipping read in the library: zone maps, z-order boxes
  * and Bloom manifests are all consulted here, so no reader has to
  * remember an opt-in prune call to avoid a full scan.
  * `GraftTable.read(spark, path)` resolves the committed generation from
  * the table's pointer, applies equality deletes, and — through
  * [[GraftFileIndex]] — prunes files from whatever predicates Catalyst
  * pushes down, AT SCAN PLANNING, with no explicit prune call. Skipping
  * is behavior of the scan itself (the Delta/Iceberg reading contract);
  * [[scanFiles]] reads the scan's own files-read metric back so callers
  * can assert it.
  *
  * Layouts understood, auto-detected from the table's metadata:
  *  - snapshot tables (`v=N` dirs + `_latest` pointer, [[Scale.writeSnapshot]])
  *  - merge-on-read tables (`base_v=N` + `_mor` pointer + `_deletes/d=K`,
  *    [[Scale.writeMorBase]]/[[Scale.appendDeletes]])
  *  - plain parquet dirs (no pointer)
  *
  * Index manifests live INSIDE the table at `_index/<generation>/…`, keyed
  * by the immutable generation dir they describe, so a new base/snapshot
  * simply has no index until [[buildIndex]] runs again — stale-manifest
  * wrong-pruning is structurally impossible, and reads additionally
  * validate the manifest's file set against the live listing and fail
  * loudly on drift, in case a caller rewrote files in place.
  */
object GraftTable {

  /** Resolved generation: the immutable data dir, its tag (index subdir
    * name), for MoR tables the (base version, fence), and the live
    * append dirs as (commit, path). */
  private case class Gen(dataDir: String, tag: String,
                         mor: Option[(Long, Long)],
                         appends: Seq[(Long, String)] = Nil) {
    def dataDirs: Seq[String] = dataDir +: appends.map(_._2)
  }

  private def fsFor(spark: SparkSession, path: String) =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def resolve(spark: SparkSession, path: String,
                      version: Option[Long] = None): Gen = {
    val fs = fsFor(spark, path)
    def dirs(prefix: String): Boolean =
      fs.exists(new Path(path)) && fs.listStatus(new Path(path)).exists(st =>
        st.isDirectory && st.getPath.getName.startsWith(prefix))
    if (fs.exists(new Path(path, "_mor")) || dirs("base_v=")) {
      require(version.isEmpty,
        "time travel pins snapshot versions; merge-on-read tables have no " +
          "version history (base generations supersede, they don't coexist)")
      val (v, hwm) = Scale.pointerOrRetry(path, "merge-on-read",
        () => Scale.morPointer(spark, path), () => dirs("base_v="))
      // live row appends (commit >= fence) are part of the generation's
      // file set — the scan, the index, and the delete sequence rule all
      // see base + appends as one table
      Gen(s"$path/base_v=$v", s"base_v=$v", Some((v, hwm)),
        Scale.morDirs(fs, path, "_appends", "a=", hwm))
    } else if (fs.exists(new Path(path, "_latest")) || dirs("v=")) {
      val v = version.getOrElse(Scale.pointerOrRetry(path, "snapshot",
        () => Scale.latestSnapshot(spark, path), () => dirs("v=")))
      version.foreach(p => require(fs.exists(new Path(s"$path/v=$p")),
        s"pinned version $p does not exist at $path"))
      Gen(s"$path/v=$v", s"v=$v", None)
    } else {
      require(version.isEmpty, s"no versioned table at $path to time-travel")
      Gen(path, "plain", None)
    }
  }

  private def dataFiles(spark: SparkSession, dir: String): Seq[FileStatus] =
    fsFor(spark, dir).listStatus(new Path(dir)).toSeq.filter(st =>
      st.isFile && st.getPath.getName.endsWith(".parquet") &&
        !st.getPath.getName.startsWith(".") &&
        !st.getPath.getName.startsWith("_"))

  /** Every data file of the generation: base dir + live append dirs. */
  private def genFiles(spark: SparkSession, g: Gen): Seq[FileStatus] =
    g.dataDirs.flatMap(d => dataFiles(spark, d))

  /** The current generation's data files as `(generation tag, file
    * path, bytes)` — the pre-pruning read set a [[read]] would list,
    * exposed for the `graft_files` SQL table function
    * ([[graft.plans.GraftMeta]]). Metadata-listing cost only. */
  def currentDataFiles(spark: SparkSession, path: String)
      : Seq[(String, Path, Long)] = {
    val g = resolve(spark, path)
    g.dataDirs.flatMap { d =>
      val tag = new Path(d).getName match {
        case n if n.startsWith("v=") || n.startsWith("base_v=") ||
          n.startsWith("a=") => n
        case _ => "" // plain dir: the root itself
      }
      dataFiles(spark, d).map(st => (tag, st.getPath, st.getLen))
    }
  }

  /** Build (or rebuild) the table's skipping index for its CURRENT
    * committed generation: one grouped-aggregate scan per manifest —
    * min/max zones for `zoneCols` (long or string typed from the data
    * schema), per-file Bloom filters over `bloomCols` (integral only),
    * sized from the actual rows-per-file so fpp holds at any scale.
    * Multi-column z-order layouts need no special manifest: a zone entry
    * per dimension IS the per-file bounding box, and conjunctive
    * predicates prune on each axis independently: a file is read only
    * when its rectangle intersects the query box on every dimension.
    *
    * `morKey` names the base column equality deletes apply to
    * (merge-on-read tables only); it is recorded in `_graft_key` so the
    * READ needs zero arguments.
    */
  def buildIndex(spark: SparkSession, path: String,
                 zoneCols: Seq[String] = Nil,
                 bloomCols: Seq[String] = Nil,
                 morKey: Option[String] = None,
                 fpp: Double = 0.01): Unit = {
    val g = resolve(spark, path)
    val fs = fsFor(spark, path)
    val schema = spark.read.parquet(g.dataDir).schema
    val idxDir = s"$path/_index/${g.tag}"
    zoneCols.foreach { c =>
      val kind = schema(c).dataType match {
        case StringType => "str"
        case ByteType | ShortType | IntegerType | LongType => "long"
        case other => sys.error(s"buildIndex: unsupported zone type $other for $c")
      }
      Scale.zoneMapPaths(spark, g.dataDirs, c)
        .select(col("file"),
          (if (kind == "long") col("min_v").cast("long") else col("min_v").cast("string")).as("min_v"),
          (if (kind == "long") col("max_v").cast("long") else col("max_v").cast("string")).as("max_v"))
        .coalesce(1)
        .write.mode(SaveMode.Overwrite).parquet(s"$idxDir/zone_${kind}_$c")
    }
    if (bloomCols.nonEmpty) {
      // count(*) resolves from parquet footers — no data scan
      val files = genFiles(spark, g)
      val perFile = math.max(1024L,
        spark.read.parquet(g.dataDirs: _*).count() / math.max(files.size, 1) + 1)
      bloomCols.foreach { c =>
        require(Seq[org.apache.spark.sql.types.DataType](
          ByteType, ShortType, IntegerType, LongType).contains(schema(c).dataType),
          s"buildIndex: bloom manifests need an integral column, got $c")
        Scale.bloomManifestPaths(spark, g.dataDirs, c, perFile, fpp)
          .select(col("file"), col("bloom"))
          .coalesce(1)
          .write.mode(SaveMode.Overwrite).parquet(s"$idxDir/bloom_$c")
      }
    }
    morKey.foreach(k => Scale.publishFile(spark, fs, new Path(path, "_graft_key"), k))
  }

  /** The skipping-index SPEC the table's manifests record — (zone
    * columns, bloom columns) of the most recently indexed generation,
    * None when the table was never indexed (or its manifests are
    * empty). Old generations keep their manifests for time travel, so
    * recency is resolved by generation number, not listing order.
    */
  private[graft] def indexSpec(spark: SparkSession, path: String)
      : Option[(Seq[String], Seq[String])] = {
    val fs = fsFor(spark, path)
    val idxRoot = new Path(path, "_index")
    if (!fs.exists(idxRoot)) return None
    val tags = fs.listStatus(idxRoot).filter(_.isDirectory).map(_.getPath.getName)
    def gen(tag: String): Long = tag match {
      case t if t.startsWith("base_v=") => t.stripPrefix("base_v=").toLong
      case t if t.startsWith("v=") => t.stripPrefix("v=").toLong
      case _ => Long.MaxValue // "plain" is the only generation of its table
    }
    tags.sortBy(gen).lastOption.flatMap { tag =>
      val subs = fs.listStatus(new Path(idxRoot, tag))
        .filter(_.isDirectory).map(_.getPath.getName).toSeq
      val zones = subs.collect {
        case s if s.startsWith("zone_long_") => s.stripPrefix("zone_long_")
        case s if s.startsWith("zone_str_") => s.stripPrefix("zone_str_")
      }
      val blooms = subs.collect {
        case s if s.startsWith("bloom_") => s.stripPrefix("bloom_")
      }
      if (zones.isEmpty && blooms.isEmpty) None else Some((zones, blooms))
    }
  }

  /** AUTO RE-INDEX — the maintenance hook that makes data skipping
    * TABLE BEHAVIOR, not caller discipline. Called after the commit
    * point by [[Scale]]'s commit seam (the snapshot commit behind the
    * three snapshot writers, the merge-on-read base commit behind
    * `writeMorBase`/`compactDeletes`, and `appendMorRows`), by
    * `mergeParquet` and `compactParquet`, and by the SQL `OPTIMIZE GRAFT
    * ... REINDEX` command: the recorded spec (captured
    * by the caller BEFORE a destructive swap via [[indexSpec]], or
    * discovered here from the surviving manifests) is rebuilt for the
    * table's current generation. Never-indexed tables cost nothing.
    * The rebuild is one grouped-aggregate scan of the new generation —
    * the writer-pays-O(table) contract every lakehouse maintenance
    * operation already accepts.
    */
  def reindexAuto(spark: SparkSession, path: String,
                  spec: Option[(Seq[String], Seq[String])] = None): Unit =
    spec.orElse(indexSpec(spark, path)).foreach { case (zones, blooms) =>
      // The commit is already DURABLE when this hook runs (pointer
      // swapped / dirs renamed), so it must never throw on legitimate
      // table evolution: a commit that drops or retypes an indexed
      // column sheds THAT column's manifests for the new generation
      // (absent manifest = keep-every-file, conservative) instead of
      // poisoning this and every future commit with a post-swap
      // exception. Surviving columns keep their skipping. Shed columns:
      // the spec is rediscovered from the most recently INDEXED
      // generation, so a column shed while siblings survived leaves the
      // spec for good (manual buildIndex restores it), while a column
      // shed in a generation that indexed nothing resurrects on the
      // next commit that re-admits it.
      val schema = spark.read.parquet(resolve(spark, path).dataDir).schema
      val names = schema.fieldNames.toSet
      def zoneOk(c: String) = names(c) && (schema(c).dataType match {
        case StringType | ByteType | ShortType | IntegerType | LongType => true
        case _ => false
      })
      def bloomOk(c: String) = names(c) && (schema(c).dataType match {
        case ByteType | ShortType | IntegerType | LongType => true
        case _ => false
      })
      val (z2, b2) = (zones.filter(zoneOk), blooms.filter(bloomOk))
      if (z2.nonEmpty || b2.nonEmpty)
        buildIndex(spark, path, zoneCols = z2, bloomCols = b2)
    }

  /** The unified read. Plans as a plain V1 parquet relation whose file
    * LISTING is [[GraftFileIndex]]: filters the caller stacks on top are
    * pushed down by Catalyst and prune files before the scan starts
    * (range/equality → zone manifests, equality/IN → Bloom manifests,
    * prefix → string zones). MoR deletes ride as a broadcast anti-join
    * ABOVE the pruned scan — Catalyst pushes left-side predicates
    * through a left-anti join, so skipping still fires underneath it.
    * `version` pins a snapshot table to an immutable historical dir
    * (time travel); each version's own `_index/v=N` manifests prune its
    * reads, so skipping time-travels too.
    */
  private def indexAndSchema(spark: SparkSession, path: String, g: Gen)
      : (GraftFileIndex, org.apache.spark.sql.types.StructType) = {
    val files = genFiles(spark, g)
    require(files.nonEmpty, s"no parquet data files under ${g.dataDir}")
    val schema = spark.read.parquet(g.dataDir).schema
    val (lz, sz, bl) = loadManifests(spark, s"$path/_index/${g.tag}", files)
    (new GraftFileIndex(new Path(g.dataDir), files, lz, sz, bl), schema)
  }

  /** The self-pruning scan as a bare V1 relation — what the `USING
    * graft` SQL data source ([[graft.io.GraftDataSource]]) returns.
    * Plain layouts and never-renamed snapshot tables plan directly as
    * the GraftFileIndex-backed parquet relation. Reads a V1 leaf
    * cannot express return a [[graft.io.GraftMarkerRelation]] that the
    * injected analyzer rule [[graft.plans.GraftTableRewrite]] replaces
    * with the full [[read]] plan during resolution — pointer, deletes,
    * column-mapping aliases, pruning and all:
    *
    *   - MERGE-ON-READ tables (the read is a JOIN: base minus deletes);
    *   - snapshot tables with a non-empty `_colmap` (the read must
    *     surface CURRENT logical names, not the physical storage
    *     names a rename left behind) — including version pins, so SQL
    *     time travel gets old data under new names exactly like
    *     `GraftTable.read(path, v)`.
    *
    * The marker's schema is the final read's schema (reconciled /
    * logical), so the view resolves correctly before the rewrite fires.
    */
  private[graft] def pruningRelation(spark: SparkSession, path: String,
                                     version: Option[Long])
      : org.apache.spark.sql.sources.BaseRelation = {
    val g = resolve(spark, path, version)
    val cmap = if (g.mor.isDefined) Map.empty[String, String]
               else Scale.snapshotColMap(spark, path)
    if (g.mor.isDefined)
      new graft.io.GraftMarkerRelation(spark, path, None,
        spark.read.parquet(g.dataDir).schema)
    else if (cmap.nonEmpty || version.isDefined) {
      // explicit version pins always go through the marker: the rewrite
      // applies column mapping uniformly, and DML can tell a
      // time-travel pin (rejected) from an ordinary bound view (rebased)
      val phys = spark.read.parquet(g.dataDir).schema
      val logical = org.apache.spark.sql.types.StructType(
        phys.fields.map(f => f.copy(name = cmap.getOrElse(f.name, f.name))))
      new graft.io.GraftMarkerRelation(spark, path, version, logical)
    } else {
      val (idx, schema) = indexAndSchema(spark, path, g)
      org.apache.spark.sql.graft.bridge.relationFor(spark, idx, schema)
    }
  }

  def read(spark: SparkSession, path: String,
           version: Option[Long] = None): DataFrame = {
    val g = resolve(spark, path, version)
    val (idx, schema) = indexAndSchema(spark, path, g)
    val base0 = org.apache.spark.sql.graft.bridge.dataFrameFor(spark, idx, schema)
    // column mapping (snapshot lineage): surface current logical names;
    // predicates stacked on the logical projection push through the
    // aliases to the physical scan, so skipping is unaffected
    val base = g.mor match {
      case None => Scale.toLogicalCols(base0, Scale.snapshotColMap(spark, path))
      case Some(_) => base0
    }
    g.mor match {
      case Some((_, hwm)) =>
        val fs = fsFor(spark, path)
        val delDirs0 = Scale.morDirs(fs, path, "_deletes", "d=", hwm)
        // appends were listed at resolve() time, deletes just now — clamp
        // to the largest contiguous commit prefix so a delete published
        // after an append this reader missed is excluded too (the view
        // equals the table at ONE commit point; see Scale.consistentHorizon)
        val horizon = Scale.consistentHorizon(hwm,
          g.appends.map(_._1) ++ delDirs0.map(_._1))
        val delDirs = delDirs0.filter(_._1 <= horizon)
        if (delDirs.isEmpty) base
        else {
          val keyPath = new Path(path, "_graft_key")
          require(fs.exists(keyPath),
            s"merge-on-read table $path has deletes but no _graft_key — " +
              "run GraftTable.buildIndex(..., morKey = Some(<col>)) once, " +
              "or read via Scale.readMergeOnRead(path, keyCol)")
          val in = fs.open(keyPath)
          val keyCol = try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
                       finally in.close()
          val keys = delDirs.map { case (c, p) =>
            spark.read.parquet(p).toDF("key").withColumn("__dc", lit(c))
          }.reduce(_.unionByName(_)).distinct()
          require(keys.schema.head.dataType == schema(keyCol).dataType,
            s"delete key type ${keys.schema.head.dataType} does not match " +
              s"base column $keyCol: ${schema(keyCol).dataType}")
          // sequence rule over the UNIFIED scan: a row's birth commit is
          // derived from which dir its file lives in (_metadata.file_path
          // — constant-folded per split), base rows at fence−1, so a
          // delete applies only to rows born before it. The equality on
          // the key keeps this a broadcast HASH join; the commit
          // comparison rides inside it.
          val seq = g.appends.foldRight(lit(hwm - 1): org.apache.spark.sql.Column) {
            case ((c, _), acc) =>
              when(col("_metadata.file_path").contains(s"/_appends/a=$c/"), lit(c))
                .otherwise(acc)
          }
          val withSeq = base.withColumn("__seq", seq)
          val guarded = Scale.maybeBroadcastDeletes(spark, fs, delDirs, keys)
          withSeq.join(guarded,
              withSeq(keyCol) === guarded("key") && guarded("__dc") > withSeq("__seq"),
              "left_anti")
            .drop("__seq")
        }
      case None => base
    }
  }

  /** (files read, files total) for a frame rooted at [[read]] — executes
    * the frame's real plan and reads the scan's own `numFiles` metric, so
    * the number proves the PUSHED-DOWN pruning, not a side computation.
    */
  def scanFiles(df: DataFrame): (Long, Long) =
    org.apache.spark.sql.graft.bridge.scanFileCounts(df,
      _.isInstanceOf[GraftFileIndex])

  /** Load every manifest present under `idxDir` (none → no pruning, the
    * conservative default). Each manifest's file set must match the live
    * data listing — a mismatch means files were rewritten in place under
    * an index built for different contents, which must fail loudly, never
    * skip wrongly.
    */
  private def loadManifests(spark: SparkSession, idxDir: String,
                            files: Seq[FileStatus])
      : (Map[String, Map[String, (Long, Long)]],
         Map[String, Map[String, (Array[Byte], Array[Byte])]],
         Map[String, Map[String, Array[Byte]]]) = {
    val fs = fsFor(spark, idxDir)
    if (!fs.exists(new Path(idxDir))) return (Map.empty, Map.empty, Map.empty)
    val live = files.map(_.getPath.toUri.getPath).toSet
    def fileKey(s: String): String = new java.net.URI(s).getPath
    def validate(name: String, listed: Set[String]): Unit =
      require(listed == live,
        s"stale index manifest $name: lists ${listed.size} files, live " +
          s"generation has ${live.size} — rebuild with GraftTable.buildIndex")
    var lz = Map.empty[String, Map[String, (Long, Long)]]
    var sz = Map.empty[String, Map[String, (Array[Byte], Array[Byte])]]
    var bl = Map.empty[String, Map[String, Array[Byte]]]
    fs.listStatus(new Path(idxDir)).filter(_.isDirectory).foreach { st =>
      val name = st.getPath.getName
      // A file whose zone column is entirely NULL persists NULL bounds
      // in the manifest (Scale.zoneMap's min/max of an all-NULL column).
      // Validate coverage on ALL listed rows, then drop the null-bounded
      // entries: an absent entry already means "keep the file" in
      // GraftFileIndex's forall pruning logic — conservative, never a
      // crash, never a wrong skip.
      if (name.startsWith("zone_long_")) {
        val c = name.stripPrefix("zone_long_")
        val rows = spark.read.parquet(st.getPath.toString).collect()
        validate(name, rows.map(r => fileKey(r.getString(0))).toSet)
        val m = rows.filter(r => !r.isNullAt(1) && !r.isNullAt(2))
          .map(r => fileKey(r.getString(0)) -> (r.getLong(1), r.getLong(2))).toMap
        lz += c -> m
      } else if (name.startsWith("zone_str_")) {
        val c = name.stripPrefix("zone_str_")
        val rows = spark.read.parquet(st.getPath.toString).collect()
        validate(name, rows.map(r => fileKey(r.getString(0))).toSet)
        val m = rows.filter(r => !r.isNullAt(1) && !r.isNullAt(2))
          .map(r => fileKey(r.getString(0)) ->
            (r.getString(1).getBytes("UTF-8"), r.getString(2).getBytes("UTF-8"))).toMap
        sz += c -> m
      } else if (name.startsWith("bloom_")) {
        val c = name.stripPrefix("bloom_")
        val rows = spark.read.parquet(st.getPath.toString).collect()
        validate(name, rows.map(r => fileKey(r.getString(0))).toSet)
        val m = rows.filter(!_.isNullAt(1))
          .map(r => fileKey(r.getString(0)) -> r.getAs[Array[Byte]](1)).toMap
        bl += c -> m
      }
    }
    (lz, sz, bl)
  }
}
