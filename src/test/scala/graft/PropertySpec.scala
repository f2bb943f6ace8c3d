package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import graft.silver.Transforms
import graft.operators.{GraftTable, Relational, Scale}

/** Property-based invariants of the cleansing semantics (SURVEY.md §5.3.4)
  * over randomly generated dirty inputs.
  */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  /** Deterministic sampling without the scalatest-scalacheck bridge:
    * draw `n` samples of `gen` from fixed seeds.
    */
  private def forAll[T](gen: Gen[T], minSuccessful: Int = 5)(body: T => Unit): Unit = {
    val params = Gen.Parameters.default
    (1 to minSuccessful).foreach { i =>
      body(gen.apply(params, org.scalacheck.rng.Seed(i.toLong)).get)
    }
  }

  private val dirtyCode = Gen.oneOf("S", "M", "s ", " m", "x", "", "  ", "F", "f")
  private val dirtyInt = Gen.oneOf(Gen.const[Option[Int]](None),
    Gen.choose(-100, 100000).map(Some(_)))
  private val dirtyDate = Gen.oneOf(0, 1234567, 20200101, 20231215, 99, 20190230)

  test("ntileScalable == global ntile on random data, any (k, buckets, duplication)") {
    // random id/score multisets with heavy tie probability, random tile
    // and bucket counts — the bucketed tiling must agree with the
    // single-partition reference bit-for-bit, including n < k and
    // all-scores-equal degeneracies
    val gen = Gen.zip(
      Gen.listOfN(300, Gen.zip(Gen.choose(1L, 500L), Gen.choose(0L, 12L))),
      Gen.choose(1, 9), Gen.choose(1, 20))
    forAll(gen) { case (rows, k, buckets) =>
      val df = rows.distinctBy(_._1).toDF("id", "score")
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("score").desc, col("id").asc)
      val expected = df.withColumn("t", ntile(k).over(w).cast("long"))
        .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      val got = Relational.ntileScalable(df, k, -col("score"),
          Seq(col("score").desc, col("id").asc), "t", buckets = buckets)
        .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(got == expected, s"k=$k buckets=$buckets n=${expected.size}")
    }
  }

  test("surrogateKeyScalable == surrogateKey on random NULL/tie-heavy keys, any buckets") {
    // rank keys from a tiny domain with NULLs (heavy ties, a NULL
    // bucket), unique ids completing a total order — the bucketed keys
    // must be dense 1..N and equal the global row_number row for row
    val gen = Gen.zip(
      Gen.listOfN(200, Gen.zip(Gen.choose(1L, 400L),
        Gen.option(Gen.choose(-5L, 5L)))),
      Gen.oneOf(1, 2, 7, 64))
    forAll(gen, minSuccessful = 4) { case (rows, buckets) =>
      val df = rows.distinctBy(_._1).toDF("id", "v").repartition(3)
      val order = Seq(col("v").asc_nulls_first, col("id").asc)
      val expected = Relational.surrogateKey(df, "sk", order)
        .orderBy("id").select("id", "sk")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      val got = Relational.surrogateKeyScalable(df, "sk", col("v"), order, buckets)
        .orderBy("id").select("id", "sk")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(got.map(_._2).sorted == (1L to got.size.toLong), s"buckets=$buckets")
      assert(got == expected, s"buckets=$buckets n=${expected.size}")
    }
  }

  test("bloomPruneJoin == plain join on random key sets (no false negatives ever)") {
    // keys drawn from a small domain so overlap, misses, dupes, and nulls
    // all occur; fpp varied to stress the probe — correctness must be
    // independent of the false-positive rate
    val gen = Gen.zip(
      Gen.listOfN(120, Gen.zip(Gen.option(Gen.choose(0L, 60L)), Gen.choose(0, 1000))),
      Gen.listOfN(25, Gen.choose(0L, 90L)),
      Gen.oneOf(0.5, 0.1, 0.01))
    forAll(gen) { case (bigRows, smallKeys, fpp) =>
      val big = bigRows.toDF("k", "v")
      val small = smallKeys.distinct.map(k => (k, s"d$k")).toDF("k", "name")
      val plain = big.join(small, Seq("k"), "inner")
        .collect().map(_.toSeq).toSet
      val pruned = Scale.bloomPruneJoin(big, small, "k", fpp = fpp)
        .collect().map(_.toSeq).toSet
      assert(pruned == plain, s"fpp=$fpp diverged from the plain join")
    }
  }

  test("rangeJoin == naive inequality join on random intervals and bin sizes") {
    // intervals may be empty (lo == hi), overlapping, or duplicated;
    // points may sit exactly on either boundary; binSize varies from
    // smaller-than-span to larger-than-domain — correctness must be
    // independent of the binning geometry
    val gen = Gen.zip(
      Gen.listOfN(200, Gen.choose(-500L, 500L)),
      Gen.listOfN(30, Gen.zip(Gen.choose(-500L, 500L), Gen.choose(0L, 200L))),
      Gen.oneOf(7L, 64L, 1000L, 5000L))
    forAll(gen) { case (ps, ivs, binSize) =>
      val points = ps.zipWithIndex.toDF("p", "pid")
      val intervals = ivs.zipWithIndex.map { case ((lo, len), i) => (lo, lo + len, i) }
        .toDF("lo", "hi", "iid")
      val naive = points.join(intervals, col("p") >= col("lo") && col("p") < col("hi"))
        .select("pid", "iid").collect().map(_.toSeq).toSet
      val binned = Scale.rangeJoin(points, "p", intervals, "lo", "hi", binSize)
        .select("pid", "iid").collect().map(_.toSeq).toSet
      assert(binned == naive, s"binSize=$binSize diverged")
    }
  }

  test("custInfo outputs stay in the decoded label domains, one row per id") {
    forAll(Gen.listOfN(60, Gen.zip(Gen.choose(1, 10), dirtyCode, dirtyCode))) { rows =>
      val df = rows.zipWithIndex.map { case ((id, ms, g), i) =>
        (id, s"K$i", " n ", " l ", ms, g, java.sql.Date.valueOf("2020-01-01"))
      }.toDF("cst_id", "cst_key", "cst_firstname", "cst_lastname",
        "cst_marital_status", "cst_gndr", "cst_create_date")
      val out = Transforms.custInfo(df).collect()
      assert(out.map(_.getInt(0)).distinct.length == out.length)
      assert(out.forall(r => Set("Single", "Married", "n/a")(r.getString(4))))
      assert(out.forall(r => Set("Female", "Male", "n/a")(r.getString(5))))
    }
  }

  test("salesDetails: repaired sales == qty * |price| whenever price non-null") {
    forAll(Gen.listOfN(50, Gen.zip(dirtyDate, dirtyInt, Gen.choose(0, 60), dirtyInt))) { rows =>
      val df = rows.zipWithIndex.map { case ((dt, sales, qty, price), i) =>
        (s"SO$i", "P1", 1, dt, 20200105, 20200110, sales, qty, price)
      }.toDF("sls_ord_num", "sls_prd_key", "sls_cust_id", "sls_order_dt",
        "sls_ship_dt", "sls_due_dt", "sls_sales", "sls_quantity", "sls_price")
      val out = Transforms.salesDetails(df)
      // price repaired as sales/qty is a double — qty*(sales/qty) is not
      // bit-exact (reference behavior), so the invariant holds numerically.
      // qty=0 + null price is excluded: the reference's null-propagating
      // CASE keeps the original sales there while deriving price from it
      // via the zero-divisor guard — a documented inconsistency we keep.
      val violations = out.filter(
        col("sls_price").isNotNull && col("sls_price") > 0 && col("sls_quantity") > 0 &&
          abs(col("sls_sales") - col("sls_quantity") * abs(col("sls_price"))) >
            lit(1e-6) * greatest(lit(1), abs(col("sls_sales"))))
      assert(violations.count() == 0)
      // dates: every non-null output date came from an 8-digit input
      assert(out.filter(col("sls_order_dt").isNotNull).count() ==
        df.filter(length(col("sls_order_dt").cast("string")) === 8 &&
          col("sls_order_dt") =!= 0).filter(
          // ANSI-safe: 20190230 style invalids parse to null via try_to_date
          try_to_date(col("sls_order_dt").cast("string"), "yyyyMMdd").isNotNull).count())
    }
  }

  test("scd2EndDate: end dates partition the timeline, exactly one open version per key") {
    forAll(Gen.listOfN(40, Gen.zip(Gen.choose(1, 6), Gen.choose(0, 2000)))) { rows =>
      val df = rows.distinct.zipWithIndex.map { case ((k, off), i) =>
        (s"p$k", java.sql.Date.valueOf(java.time.LocalDate.of(2015, 1, 1).plusDays(off)), i)
      }.toDF("k", "start", "uid")
      val out = Relational.scd2EndDate(df, Seq("k"), "start", "end",
        tiebreak = Seq(col("uid")))
      val perKeyOpen = out.filter(col("end").isNull).groupBy("k").count().collect()
      assert(perKeyOpen.forall(_.getLong(1) == 1))
      assert(out.filter(col("end").isNotNull && col("end") < col("start")).count() == 0
        || rows.map(_._2).distinct.length < rows.length) // equal starts may invert by tiebreak
    }
  }

  test("surrogate keys are always a dense 1..N permutation") {
    forAll(Gen.listOfN(30, Gen.choose(-1000, 1000))) { vs =>
      val df = vs.zipWithIndex.toDF("v", "uid")
      val keys = Relational.surrogateKey(df, "sk", Seq(col("v").asc, col("uid").asc))
        .select("sk").as[Long].collect().sorted.toSeq
      assert(keys == (1L to vs.length.toLong))
    }
  }

  private val wordGen = Gen.listOfN(5, Gen.alphaLowerChar).map(_.mkString)
  private val textGen = Gen.choose(0, 90)
    .flatMap(n => Gen.listOfN(n, wordGen).map(_.mkString(" ")))

  test("chunking at stride == size covers every token exactly once") {
    import graft.text.TextOps
    forAll(Gen.listOfN(20, textGen), minSuccessful = 3) { texts =>
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
        .select(col("doc_id"), TextOps.tokens(col("text")).as("t"))
        .filter(size(col("t")) > 0)
      // stride == size: chunk token counts partition the doc exactly
      val exact = df
        .select(col("doc_id"), size(col("t")).as("n"),
          explode(sequence(lit(0), size(col("t")) - 1, lit(32))).as("start"))
        .groupBy("doc_id", "n")
        .agg(sum(least(lit(32), col("n") - col("start"))).as("covered"))
        .filter(col("covered") =!= col("n"))
      assert(exact.count() == 0)
    }
  }

  test("PII redaction removes every match it counts (idempotent second pass)") {
    forAll(Gen.listOfN(15, textGen), minSuccessful = 3) { texts =>
      val emailRe = "[a-z0-9]+@[a-z0-9]+\\.com"
      val df = texts.zipWithIndex.map { case (t, i) =>
        (i.toLong, s"$t user$i@mail.com tail") }.toDF("doc_id", "text")
      val red = df.select(col("doc_id"),
        regexp_replace(col("text"), emailRe, "<EMAIL>").as("r"))
      // a second redaction pass is a no-op: nothing matchable remains
      assert(red.filter(regexp_count(col("r"), lit(emailRe)) > 0).count() == 0)
      assert(red.filter(!col("r").contains("<EMAIL>")).count() == 0)
    }
  }

  test("clusterPairs labels random graphs identically to a union-find oracle") {
    // Path-halving must stay a pure optimization: on arbitrary random
    // graphs (mixed cliques, chains, isolated edges) every vertex's final
    // label equals the component minimum computed by a sequential
    // union-find.
    val edgeGen = Gen.listOfN(60, Gen.zip(Gen.choose(0L, 39L), Gen.choose(0L, 39L)))
      .map(_.filter(e => e._1 != e._2))
      .suchThat(_.nonEmpty)
    forAll(edgeGen, minSuccessful = 3) { edges =>
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expected = edges.flatMap(e => Seq(e._1, e._2)).distinct
        .map(v => v -> find(v)).toMap
      val got = graft.text.TextOps.clusterPairs(edges.toDF("id_a", "id_b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == expected, s"edges=$edges")
    }
  }

  test("simhash Hamming blocking is lossless for distance <= 3 (pigeonhole)") {
    // brute-force all pairs on a small corpus and check the blocked join
    // finds exactly the same qualifying set
    forAll(Gen.listOfN(40, textGen), minSuccessful = 2) { texts =>
      import graft.text.TextOps
      val df = texts.distinct.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
        .select(col("doc_id"), TextOps.tokens(col("text")).as("t"))
        .filter(size(col("t")) > 0)
        .select(col("doc_id"), graft.functions.native.simhash32(col("t")).as("sh"))
        .cache()
      val brute = df.alias("a").join(df.alias("b"), col("a.doc_id") < col("b.doc_id"))
        .filter(bit_count(col("a.sh").bitwiseXOR(col("b.sh"))) <= 3)
        .select(col("a.doc_id"), col("b.doc_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val blocked = df.select(col("doc_id"), col("sh"),
          explode(array((0 until 4).map(b =>
            struct(lit(b).as("bi"), col("sh").bitwiseAND(lit(255L << (8 * b))).as("bv"))): _*)).as("blk"))
        .select(col("doc_id"), col("sh"), col("blk.bi"), col("blk.bv"))
      val viaBlocks = blocked.alias("a").join(blocked.alias("b"),
          col("a.bi") === col("b.bi") && col("a.bv") === col("b.bv") &&
            col("a.doc_id") < col("b.doc_id"))
        .filter(bit_count(col("a.sh").bitwiseXOR(col("b.sh"))) <= 3)
        .select(col("a.doc_id"), col("b.doc_id")).distinct()
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      df.unpersist()
      assert(viaBlocks == brute)
    }
  }

  test("simhash64 16-bit-block pigeonhole is lossless for distance <= 3") {
    // same property as the 32-bit test but for t22's scale geometry:
    // 4 disjoint 16-bit blocks of the 64-bit hash (incl. the sign-bit
    // block, a negative Long mask) find exactly the brute-force set
    forAll(Gen.listOfN(40, textGen), minSuccessful = 2) { texts =>
      import graft.text.TextOps
      val df = texts.distinct.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
        .select(col("doc_id"), TextOps.tokens(col("text")).as("t"))
        .filter(size(col("t")) > 0)
        .select(col("doc_id"), graft.functions.native.simhash64(col("t")).as("sh"))
        .cache()
      val brute = df.alias("a").join(df.alias("b"), col("a.doc_id") < col("b.doc_id"))
        .filter(bit_count(col("a.sh").bitwiseXOR(col("b.sh"))) <= 3)
        .select(col("a.doc_id"), col("b.doc_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val blocked = df.select(col("doc_id"), col("sh"),
          explode(array((0 until 4).map(b =>
            struct(lit(b).as("bi"), col("sh").bitwiseAND(lit(0xFFFFL << (16 * b))).as("bv"))): _*)).as("blk"))
        .select(col("doc_id"), col("sh"), col("blk.bi"), col("blk.bv"))
      val viaBlocks = blocked.alias("a").join(blocked.alias("b"),
          col("a.bi") === col("b.bi") && col("a.bv") === col("b.bv") &&
            col("a.doc_id") < col("b.doc_id"))
        .filter(bit_count(col("a.sh").bitwiseXOR(col("b.sh"))) <= 3)
        .select(col("a.doc_id"), col("b.doc_id")).distinct()
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      df.unpersist()
      assert(viaBlocks == brute)
    }
  }

  test("upsertCdc over random batch sequences matches a sequential map oracle") {
    // Fold random CDC batches (upserts + tombstones, duplicate keys and
    // versions included) through upsertCdc and replay the same batches on
    // a mutable map: per batch the winner per key under the SAME total
    // order (version desc, deleted desc, payload desc) either replaces or
    // removes the entry. Exercises in-batch collapse, cross-batch
    // newest-wins, tombstone drop, and the documented resurrect behavior.
    val opGen = Gen.zip(Gen.choose(1L, 10L), Gen.choose(1L, 9L),
      Gen.oneOf(true, false), Gen.alphaLowerStr.map(_.take(4)))
    val batchesGen = Gen.listOfN(4, Gen.listOfN(12, opGen))
    forAll(batchesGen, minSuccessful = 3) { batches =>
      val order = Seq(col("version").desc, col("deleted").desc, col("payload").desc)
      // Spark side: fold batches into a snapshot
      var snap = Seq.empty[(Long, Long, String)].toDF("k", "version", "payload")
      batches.foreach { b =>
        snap = Relational.upsertCdc(snap,
          b.toDF("k", "version", "deleted", "payload")
            .select("k", "version", "payload", "deleted"),
          Seq("k"), order, "deleted")
      }
      val got = snap.collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
      // oracle: (version, deleted, payload) triple ordered like `order`
      val model = scala.collection.mutable.Map.empty[Long, (Long, String)]
      implicit val ord: Ordering[(Long, Boolean, String)] =
        Ordering.Tuple3(Ordering.Long, Ordering.Boolean, Ordering.String)
      batches.foreach { b =>
        b.groupBy(_._1).foreach { case (k, ops) =>
          val cands = ops.map(o => (o._2, o._3, o._4)) ++
            model.get(k).map { case (v, p) => (v, false, p) }
          val (wv, wdel, wp) = cands.max
          if (wdel) model.remove(k) else model(k) = (wv, wp)
        }
      }
      val expected = model.map { case (k, (v, p)) => (k, v, p) }.toSet
      assert(got == expected, s"batches=$batches")
    }
  }

  test("prefixSumScalable == scanLeft oracle on random sparse ids, values, and bucket counts") {
    // Random unique order keys (sparse, unordered, negative), random
    // signed values, random bucket counts (including 1 and more-than-
    // rows) — the running total must equal the sequential scanLeft
    // whatever the bucket geometry, because every bucket boundary is a
    // local-cumsum → broadcast-offset handoff.
    val rowsGen = Gen.listOfN(40, Gen.zip(Gen.choose(-1000L, 1000L), Gen.choose(-50L, 50L)))
      .map(_.distinctBy(_._1))
    val gen = Gen.zip(rowsGen, Gen.oneOf(1, 2, 5, 64))
    forAll(gen, minSuccessful = 4) { case (rows, buckets) =>
      val df = rows.toDF("id", "v").repartition(3)
      val got = Relational.prefixSumScalable(df, "id", "v", "cum", buckets)
        .orderBy("id").select("id", "cum")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      val expected = rows.sortBy(_._1)
        .scanLeft((0L, 0L)) { case ((_, acc), (id, v)) => (id, acc + v) }.drop(1)
      assert(got == expected, s"buckets=$buckets rows=${rows.size}")
    }
  }

  test("zone-pruned range read == full-scan filter on random layouts and ranges") {
    // the zone index is CONSERVATIVE by contract: whatever
    // repartitionByRange did to the file cuts, pruning must never change
    // the result — only the number of files read. Random values, file
    // counts, and query ranges (including empty and all-covering ones),
    // on a long zone column and on a string one. The string alphabet
    // holds supplementary code points (U+1F600, U+10000) next to
    // U+E000–U+FFFF characters — UTF-16 and UTF-8 order those pairs
    // differently, and zones must follow UTF-8 like Spark's comparison
    // — plus the empty string.
    val alphabet = Seq("", "a", "b", "\u00e9", "\ue000", "\ufffd",
      "\ud83d\ude00", "\ud800\udc00")
    val str = Gen.choose(0, 3).flatMap(Gen.listOfN(_, Gen.oneOf(alphabet)))
      .map(_.mkString)
    def u8le(a: String, b: String): Boolean =
      java.util.Arrays.compareUnsigned(
        a.getBytes(java.nio.charset.StandardCharsets.UTF_8),
        b.getBytes(java.nio.charset.StandardCharsets.UTF_8)) <= 0
    val gen = Gen.zip(
      Gen.listOfN(300, Gen.zip(Gen.choose(-500L, 500L), str)),
      Gen.oneOf(1, 3, 8),
      Gen.listOfN(4, Gen.zip(Gen.choose(-600L, 600L), Gen.choose(0L, 400L))),
      Gen.listOfN(4, Gen.zip(str, str)))
    forAll(gen, minSuccessful = 4) { case (rows, nFiles, longRanges, strRanges) =>
      val df = rows.zipWithIndex.map { case ((v, t), i) => (i.toLong, v, t) }
        .toDF("id", "v", "s")
      // per zone column: (predicate, the same test row-side, label)
      val ranges = Seq(
        "v" -> longRanges.map { case (lo, span) =>
          (col("v").between(lo, lo + span),
            (v: Long, _: String) => v >= lo && v <= lo + span, s"[$lo,${lo + span}]")
        },
        "s" -> strRanges.map { case (a, b) =>
          val (lo, hi) = if (u8le(a, b)) (a, b) else (b, a)
          (col("s").between(lo, hi),
            (_: Long, t: String) => u8le(lo, t) && u8le(t, hi), s"[$lo,$hi]")
        })
      ranges.foreach { case (zone, queries) =>
        val out = java.nio.file.Files.createTempDirectory("zprop").toString
        df.repartitionByRange(nFiles, col(zone)).sortWithinPartitions(zone)
          .write.mode("overwrite").parquet(out)
        GraftTable.buildIndex(spark, out, zoneCols = Seq(zone))
        val table = GraftTable.read(spark, out)
        queries.foreach { case (pred, keep, label) =>
          val got = table.filter(pred).select("id").as[Long].collect().sorted.toSeq
          val expected = rows.zipWithIndex
            .collect { case ((v, t), i) if keep(v, t) => i.toLong }
          assert(got == expected, s"zone=$zone nFiles=$nFiles range=$label")
        }
      }
    }
  }

  test("DQ rule splitter survives commas inside in-lists and quoted regexes, round-trips texts") {
    val ident = Gen.alphaLowerStr.suchThat(_.nonEmpty).map(_.take(8))
    val cmpRule = Gen.zip(ident, Gen.oneOf(">", ">=", "<", "<=", "=="), Gen.choose(-999L, 999L))
      .map { case (c, op, n) => s"""ColumnValues "$c" $op $n""" }
    val inRule = Gen.zip(ident, Gen.listOfN(3, ident))
      .map { case (c, vs) => s"""ColumnValues "$c" in [${vs.map("\"" + _ + "\"").mkString(", ")}]""" }
    val matchRule = ident.map(c => s"""ColumnValues "$c" matches "^[a-z,]+,[0-9]+$$"""")
    val metaRule = Gen.oneOf(
      Gen.zip(Gen.oneOf(">", ">="), Gen.choose(0L, 99L)).map { case (op, n) => s"RowCount $op $n" },
      ident.map(c => s"""IsComplete "$c""""))
    val rules = Gen.listOfN(5, Gen.oneOf(cmpRule, inRule, matchRule, metaRule))
    forAll(rules, minSuccessful = 6) { rs =>
      val parsed = graft.quality.DataQuality.parse(s"Rules = [ ${rs.mkString(", ")} ]")
      assert(parsed.map(_.text) == rs, s"round-trip failed for: $rs")
    }
  }

  test("snapshot history is linear: each commit reads back exactly what it wrote") {
    val gen = Gen.listOfN(4, Gen.listOfN(6, Gen.choose(0L, 50L)).map(_.distinct))
    forAll(gen, minSuccessful = 3) { commits =>
      val t = java.nio.file.Files.createTempDirectory("snapprop").toString + "/tbl"
      commits.zipWithIndex.foreach { case (rows, i) =>
        val v = Scale.writeSnapshot(spark, t, rows.toDF("k"))
        assert(v == i.toLong)
      }
      commits.zipWithIndex.foreach { case (rows, i) =>
        val got = Scale.readSnapshot(spark, t, Some(i.toLong))
          .collect().map(_.getLong(0)).sorted.toSeq
        assert(got == rows.sorted, s"version $i")
      }
    }
  }

  test("charTrigrams == naive sliding reference on random strings (incl. unicode, spaces)") {
    val ch = Gen.oneOf(('a' to 'e') ++ Seq(' ', 'é', '中', '"', '\\'))
    val gen = Gen.listOfN(40, Gen.choose(0, 9).flatMap(n => Gen.listOfN(n, ch).map(_.mkString)))
    forAll(gen) { strings =>
      val got = strings.toDF("text")
        .select(graft.text.TextOps.charTrigrams(col("text")))
        .collect().map(_.getSeq[String](0).toList).toList
      val expected = strings.map { s =>
        if (s.length < 3) Nil else (0 to s.length - 3).map(i => s.substring(i, i + 3)).toList
      }
      assert(got == expected)
    }
  }

  test("volumeAnomalies: status partition is total, warmup exactly under minHist, bands exclusive") {
    val gen = Gen.listOfN(60,
      Gen.zip(Gen.oneOf("a", "b"), Gen.choose(1, 28), Gen.choose(1L, 1000L)))
    forAll(gen) { raw =>
      val daily = raw.map { case (k, d, c) => (k, d, c) }.distinctBy(t => (t._1, t._2))
        .toDF("k", "day", "cnt")
      val out = graft.quality.DataQuality
        .volumeAnomalies(daily, "k", "day", "cnt", histDays = 7, minHist = 3)
        .collect()
      assert(out.length == daily.count())
      out.foreach { r =>
        val (cnt, hn, hs, st) = (r.getAs[Long]("cnt"), r.getAs[Long]("hist_n"),
          r.getAs[Long]("hist_sum"), r.getAs[String]("status"))
        assert(Set("warmup", "low", "high", "ok")(st))
        if (hn < 3) assert(st == "warmup")
        else {
          val lo = cnt * hn * 10000L < hs * 5000L
          val hi = cnt * hn * 10000L > hs * 20000L
          assert(!(lo && hi))
          assert(st == (if (lo) "low" else if (hi) "high" else "ok"))
        }
      }
    }
  }

  test("kmeansParallelInit candidate ids always come from the sample; weights non-negative") {
    val gen = Gen.listOfN(80, Gen.zip(Gen.choose(0L, 5000L), Gen.listOfN(4, Gen.choose(-5, 5))))
    forAll(gen, minSuccessful = 3) { raw =>
      val rows = raw.distinctBy(_._1).map { case (id, v) => (id, v.map(_.toFloat)) }
      val df = rows.toDF("vec_id", "embedding")
      val sampleIds = df.filter(graft.text.TextOps.deterministicSample(
        col("vec_id"), 1000, "ivf")).select("vec_id").collect().map(_.getLong(0)).toSet
      if (sampleIds.nonEmpty) {
        val out = graft.vector.VectorOps
          .kmeansParallelInit(df, rounds = 2, ell = 3, samplePermille = 1000).collect()
        assert(out.forall(r => sampleIds(r.getLong(0))), "candidate not from sample")
        assert(out.forall(_.getLong(2) >= 0L))
        assert(out.map(_.getLong(2)).sum == sampleIds.size)
      }
    }
  }
}
