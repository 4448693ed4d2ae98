package graft.table

import graft.SparkSpec
import graft.catalog.GraftCatalog
import graft.format.{Predicate, TableProperties, Transform}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

/** The indexed per-key keep rule ([[GraftScan.keepForKeys]], r16 verdict #2)
  * must be SET-EQUAL to the brute per-key Eq sweep it replaces — the hash
  * index and the per-(transform, key) derivation memo are pure planning
  * optimizations, never a semantic change. Pinned property-style over
  * seeded random key sets against every plane shape: identity / bucket /
  * month / truncate transforms, stats-only disjoint ranges, interleaved
  * blooms, null partition values, missing keys, null keys, and type-widened
  * probe literals (Int probes against Long columns).
  */
class KeepForKeysSpec extends SparkSpec {

  private def brute(sc: GraftScan, col: String, keys: Seq[Any]) = {
    val files = sc.dataFiles
    val nonNull = keys.filter(_ != null).distinct
    files.filter(f => nonNull.exists(k => sc.fileMayMatch(f, Predicate.Eq(col, k))))
      .map(_.path).toSet
  }

  private def check(sc: GraftScan, col: String, keys: Seq[Any]): Unit = {
    val fast = sc.keepForKeys(sc.dataFiles, col, keys).map(_.path).toSet
    val slow = brute(sc, col, keys)
    assert(fast == slow,
      s"keepForKeys diverged from the brute per-key rule for $col keys=$keys:\n" +
        s"  fast-only: ${(fast -- slow).take(5)}\n  slow-only: ${(slow -- fast).take(5)}")
  }

  private val rnd = new scala.util.Random(20250816L)

  test("long column: identity / bucket / stats-only / bloom layouts all agree with brute") {
    val schema = StructType(Seq(StructField("k", LongType), StructField("v", LongType)))
    val cat = new GraftCatalog(tempWarehouse())
    val layouts = Seq(
      "ident" -> Seq("k" -> (Transform.Identity: Transform)),
      "bucket" -> Seq("k" -> (Transform.Bucket(8): Transform)),
      "plain" -> Nil)
    layouts.foreach { case (name, partBy) =>
      val t = cat.createTable(s"db.t_$name", schema, partitionBy = partBy)
      if (name == "plain") t.setProperty(TableProperties.BloomColumns, "k")
      // 4 commits: disjoint ranges for 2, interleaved for 2 (so stats prune
      // some files and blooms the others), plus null keys in one commit
      (0 until 4).foreach { c =>
        val rows = (0 until 100).map { i =>
          val k: java.lang.Long =
            if (c == 3 && i % 10 == 0) null
            else if (c < 2) (c * 1000 + i).toLong // disjoint ranges
            else (i * 4 + c).toLong // interleaved
          Row(k, (c * 100 + i).toLong)
        }
        t.append(spark, spark.createDataFrame(rows.asJava, schema)
          .repartition(4, col("k")))
      }
      val sc = t.scan()
      // seeded sweeps: hits, misses, nulls, Int-typed probes, duplicates
      (0 until 20).foreach { _ =>
        val n = 1 + rnd.nextInt(12)
        val keys: Seq[Any] = (0 until n).map { _ =>
          rnd.nextInt(5) match {
            case 0 => null
            case 1 => rnd.nextInt(5000).toLong - 500L // misses + hits
            case 2 => java.lang.Integer.valueOf(rnd.nextInt(1200)) // Int probe
            case 3 => (rnd.nextInt(4) * 1000 + rnd.nextInt(100)).toLong
            case _ => (rnd.nextInt(100) * 4 + rnd.nextInt(4)).toLong
          }
        }
        check(sc, "k", keys)
      }
      // degenerate key sets
      check(sc, "k", Seq(null))
      check(sc, "k", Seq(42L, 42L, 42L))
      assert(sc.keepForKeys(sc.dataFiles, "k", Seq(null)).isEmpty,
        "a null-only probe set keeps nothing (equality matches no null)")
    }
  }

  test("date column through month transform + string column through truncate agree with brute") {
    val cat = new GraftCatalog(tempWarehouse())
    val dSchema = StructType(Seq(StructField("d", DateType), StructField("v", LongType)))
    val td = cat.createTable("db.t_month", dSchema,
      partitionBy = Seq("d" -> Transform.Month))
    (0 until 3).foreach { c =>
      val rows = (0 until 120).map { i =>
        Row(java.sql.Date.valueOf(java.time.LocalDate.of(2023, 1, 1)
          .plusDays(c * 120 + i)), i.toLong)
      }
      td.append(spark, spark.createDataFrame(rows.asJava, dSchema))
    }
    val scd = td.scan()
    (0 until 12).foreach { _ =>
      val keys: Seq[Any] = (0 until 1 + rnd.nextInt(6)).map { _ =>
        if (rnd.nextInt(6) == 0) null
        else java.sql.Date.valueOf(java.time.LocalDate.of(2023, 1, 1)
          .plusDays(rnd.nextInt(500) - 30))
      }
      check(scd, "d", keys)
    }
    // string probes against a DateType column derive through Canonical.of
    check(scd, "d", Seq("2023-03-05", "not-a-date", null))

    val sSchema = StructType(Seq(StructField("s", StringType), StructField("v", LongType)))
    val ts = cat.createTable("db.t_trunc", sSchema,
      partitionBy = Seq("s" -> Transform.Truncate(2)))
    val words = Seq("alpha", "alder", "beta", "bess", "gamma", "go", "", "a")
    ts.append(spark, spark.createDataFrame(
      words.zipWithIndex.map { case (w, i) => Row(w, i.toLong) }.asJava, sSchema)
      .repartition(3, col("s")))
    val scs = ts.scan()
    (0 until 12).foreach { _ =>
      val keys: Seq[Any] = (0 until 1 + rnd.nextInt(5)).map { _ =>
        if (rnd.nextInt(6) == 0) null
        else rnd.shuffle(words ++ Seq("alxx", "zeta", "b")).head
      }
      check(scs, "s", keys)
    }
  }

  test("partition evolution: mixed specIds index per spec and stay brute-equal") {
    // files written before and after evolvePartitionSpec carry DIFFERENT
    // specIds — keepForKeys groups by (specId, schemaId), indexes each
    // group on its own partition field (old files: none on k; new files:
    // bucket(k)), and must stay set-equal to the brute per-key rule
    val schema = StructType(Seq(StructField("k", LongType), StructField("v", LongType)))
    val cat = new GraftCatalog(tempWarehouse())
    val t = cat.createTable("db.t_evo", schema)
    t.append(spark, spark.createDataFrame(
      (0 until 200).map(i => Row(i.toLong, i.toLong)).asJava, schema)
      .repartition(3))
    t.evolvePartitionSpec(Seq("k" -> Transform.Bucket(8)))
    t.append(spark, spark.createDataFrame(
      (200 until 400).map(i => Row(i.toLong, i.toLong)).asJava, schema)
      .repartition(3, col("k")))
    val sc = t.scan()
    assert(sc.dataFiles.map(_.specId).distinct.size == 2,
      "fixture must span two partition specs")
    (0 until 10).foreach { _ =>
      val keys: Seq[Any] = (0 until 1 + rnd.nextInt(8)).map { _ =>
        if (rnd.nextInt(6) == 0) null else rnd.nextInt(500).toLong
      }
      check(sc, "k", keys)
    }
  }

  test("stats-plane index classes: point / ranged / partial / unbounded / all-null stay brute-equal") {
    // r17 verdict #2 (the indexed stats plane): fabricated metadata-plane
    // files hit every classification the index routes — point (min==max,
    // hash), ranged (sorted lower + prefix-max-upper walk), PARTIAL bounds
    // (one side only — a shape real writes never produce but the manifest
    // format admits), unbounded (no stats / empty bounds), all-null, and
    // bloom'd files — all REQUIREd set-equal to the brute per-key rule.
    import graft.format.{ColStats, DataFile, GraftSchema}
    val schema = StructType(Seq(StructField("id", LongType)))
    val cat = new GraftCatalog(tempWarehouse())
    val t = cat.createTable("db.t_statsidx", schema)
    val fid = GraftSchema.fieldId(t.meta.currentSchema.fields.head)
    def mkFile(tag: String, stats: Map[Int, ColStats], rows: Long = 10L) = DataFile(
      path = s"data/fab-$tag.parquet", content = "data", partition = Map.empty,
      recordCount = rows, fileSizeBytes = 1024L,
      schemaId = t.meta.currentSchemaId, specId = t.meta.defaultSpecId, stats = stats)
    def cs(lo: Option[Long], hi: Option[Long], nulls: Long = 0L,
           bloomOf: Seq[Long] = Nil): ColStats = {
      val bloom =
        if (bloomOf.isEmpty) None
        else Some(graft.io.Bloom.encode(bloomOf.flatMap { v =>
          graft.io.Bloom.hashPair(LongType, v).toSeq.flatMap { hp =>
            val (p1, p2) = graft.io.Bloom.positions(hp)
            Seq(p1, p2)
          }
        }))
      ColStats(lo.map(_.toString), hi.map(_.toString), Some(nulls), bloom)
    }
    val files = Seq(
      mkFile("p10", Map(fid -> cs(Some(10L), Some(10L)))), // point
      mkFile("p10b", Map(fid -> cs(Some(10L), Some(10L)))), // duplicate point
      mkFile("p20", Map(fid -> cs(Some(20L), Some(20L)))),
      mkFile("r0", Map(fid -> cs(Some(0L), Some(100L)))), // ranged, overlapping
      mkFile("r1", Map(fid -> cs(Some(50L), Some(150L)))),
      mkFile("r2", Map(fid -> cs(Some(120L), Some(200L)))),
      mkFile("r3", Map(fid -> cs(Some(5L), Some(300L)))), // wide span dominates
      mkFile("half_lo", Map(fid -> cs(Some(40L), None))), // partial: lower only
      mkFile("half_hi", Map(fid -> cs(None, Some(25L)))), // partial: upper only
      mkFile("nostats", Map.empty), // unbounded: no stats at all
      mkFile("nobounds", Map(fid -> cs(None, None))), // unbounded: empty bounds
      mkFile("allnull", Map(fid -> ColStats(None, None, Some(10L))), rows = 10L),
      mkFile("bloomed", Map(fid -> cs(Some(0L), Some(400L), bloomOf = Seq(7L, 399L)))))
    PlanningFixture.appendFabricated(t, files)
    val sc = t.scan()
    assert(sc.dataFiles.size == files.size)
    // targeted probes: point hit, range-interior, partial boundary both
    // sides, bloom member + non-member, misses far out both directions
    Seq[Seq[Any]](
      Seq(10L), Seq(20L), Seq(60L), Seq(130L), Seq(250L), Seq(39L), Seq(40L),
      Seq(25L), Seq(26L), Seq(7L), Seq(8L), Seq(399L), Seq(-5L), Seq(1000L),
      Seq(10L, 130L, 399L, null), Seq("not-a-long", 60L)
    ).foreach(check(sc, "id", _))
    // seeded sweeps across the whole domain
    (0 until 25).foreach { _ =>
      val keys: Seq[Any] = (0 until 1 + rnd.nextInt(10)).map { _ =>
        if (rnd.nextInt(7) == 0) null else (rnd.nextInt(460) - 30).toLong
      }
      check(sc, "id", keys)
    }
    // the all-null file never matches an equality probe
    assert(!sc.keepForKeys(sc.dataFiles, "id", Seq(0L, 500L))
      .exists(_.path.contains("allnull")))
  }

  test("double / string / timestamp ranged stats stay brute-equal (signed sortable-bits order)") {
    // The ranged index's primitive fast path maps float/double bounds to
    // IEEE sortable longs; the SIGNED-comparable form is load-bearing —
    // the unsigned variant inverts the sign halves under signed compares
    // and silently DROPS any ranged file whose bounds straddle zero (a
    // file [-5.0, 2.0] probed at 0.5 vanished). These legs pin the double
    // order across the zero boundary, the -0.0/+0.0 edge, float columns,
    // the generic comparator path (strings), and timestamps.
    import graft.format.{ColStats, DataFile, GraftSchema}
    def fabricate(dt: DataType, bounds: Seq[(String, String)]) = {
      val schema = StructType(Seq(StructField("c", dt)))
      val cat = new GraftCatalog(tempWarehouse())
      val t = cat.createTable(s"db.t_${dt.typeName.replace("(", "_").replace(")", "")}", schema)
      val fid = GraftSchema.fieldId(t.meta.currentSchema.fields.head)
      val files = bounds.zipWithIndex.map { case ((lo, hi), i) =>
        DataFile(path = s"data/fab-$i.parquet", content = "data",
          partition = Map.empty, recordCount = 10L, fileSizeBytes = 1024L,
          schemaId = t.meta.currentSchemaId, specId = t.meta.defaultSpecId,
          stats = Map(fid -> ColStats(Some(lo), Some(hi), Some(0L))))
      }
      PlanningFixture.appendFabricated(t, files)
      t.scan()
    }

    // doubles: sign-straddling, all-negative, all-positive, point, ±0.0
    val scd = fabricate(DoubleType, Seq(
      ("-5.0", "2.0"), ("-100.5", "-10.25"), ("0.5", "7.5"),
      ("-0.0", "0.0"), ("3.25", "3.25"), ("-2.0", "-2.0")))
    Seq[Any](0.5, -0.5, -50.0, -10.25, -5.0, 2.0, 0.0, -0.0, 3.25, -2.0,
      7.5, 100.0, -1000.0, 1.9999).foreach(k => check(scd, "c", Seq(k)))
    (0 until 25).foreach { _ =>
      val keys: Seq[Any] = (0 until 1 + rnd.nextInt(6))
        .map(_ => (rnd.nextDouble() - 0.5) * 250.0)
      check(scd, "c", keys)
    }

    // floats take the same path through the Double canonical space
    val scf = fabricate(FloatType, Seq(("-1.5", "1.5"), ("-8.0", "-4.0"), ("2.0", "9.0")))
    Seq[Any](0.25f, -5.0f, -1.5f, 1.5f, 3.0f, -9.0f)
      .foreach(k => check(scf, "c", Seq(k)))

    // strings: the generic comparator path (no primitive embedding)
    val scs = fabricate(StringType, Seq(
      ("apple", "cherry"), ("banana", "fig"), ("kiwi", "kiwi"), ("melon", "plum")))
    Seq[Any]("berry", "apple", "fig", "grape", "kiwi", "aaa", "zzz", "plum")
      .foreach(k => check(scs, "c", Seq(k)))

    // timestamps: canonical micros includes pre-epoch (negative) values
    val sct = fabricate(TimestampType, Seq(
      ("-5000000", "2000000"), ("1000000", "9000000"), ("-9000000", "-6000000")))
    Seq[Any](0L, -7000000L, 1500000L, -5000000L, 2000000L, 99999999L)
      .foreach(k => check(sct, "c", Seq(k)))
  }

  test("seeded fuzz: random stat-class mixes stay brute-equal across long / double / string") {
    // The class-specific legs above enumerate each index route once; this
    // leg drives RANDOM file populations (random class mix, random bounds
    // with duplicate lowers, nested and disjoint ranges, empty classes)
    // through random probe sweeps — the shapes a future index change is
    // most likely to get subtly wrong (it is exactly the missing-leg gap
    // that let the unsigned sortable-bits variant ship).
    import graft.format.{ColStats, DataFile, GraftSchema}
    def fuzzOne(dt: DataType, renderKey: () => Any, renderBound: () => Any): Unit = {
      val schema = StructType(Seq(StructField("c", dt)))
      val cat = new GraftCatalog(tempWarehouse())
      val t = cat.createTable("db.t_fuzz", schema)
      val fid = GraftSchema.fieldId(t.meta.currentSchema.fields.head)
      val nFiles = 40 + rnd.nextInt(40)
      val files = (0 until nFiles).map { i =>
        val stats = rnd.nextInt(6) match {
          case 0 => // point
            val v = renderBound().toString
            Map(fid -> ColStats(Some(v), Some(v), Some(0L)))
          case 1 | 2 => // ranged (ordered pair; duplicates likely)
            val (a, b) = (renderBound(), renderBound())
            val (lo, hi) =
              if (graft.format.Canonical.compare(
                graft.format.Canonical.fromJsonString(dt, a.toString),
                graft.format.Canonical.fromJsonString(dt, b.toString)) <= 0) (a, b)
              else (b, a)
            Map(fid -> ColStats(Some(lo.toString), Some(hi.toString), Some(0L)))
          case 3 => // partial (one bound)
            val v = renderBound().toString
            if (rnd.nextBoolean()) Map(fid -> ColStats(Some(v), None, Some(0L)))
            else Map(fid -> ColStats(None, Some(v), Some(0L)))
          case 4 => // unbounded / no stats
            if (rnd.nextBoolean()) Map.empty[Int, ColStats]
            else Map(fid -> ColStats(None, None, Some(0L)))
          case _ => // all-null
            Map(fid -> ColStats(None, None, Some(10L)))
        }
        DataFile(path = s"data/fz-$i.parquet", content = "data",
          partition = Map.empty, recordCount = 10L, fileSizeBytes = 1024L,
          schemaId = t.meta.currentSchemaId, specId = t.meta.defaultSpecId,
          stats = stats)
      }
      PlanningFixture.appendFabricated(t, files)
      val sc = t.scan()
      (0 until 12).foreach { _ =>
        val keys: Seq[Any] = (0 until 1 + rnd.nextInt(8)).map { _ =>
          if (rnd.nextInt(9) == 0) null else renderKey()
        }
        check(sc, "c", keys)
      }
    }
    (0 until 6).foreach { _ =>
      fuzzOne(LongType,
        () => (rnd.nextInt(2000) - 1000).toLong,
        () => (rnd.nextInt(2000) - 1000).toLong)
      fuzzOne(DoubleType,
        () => (rnd.nextDouble() - 0.5) * 500.0,
        () => (rnd.nextDouble() - 0.5) * 500.0)
      fuzzOne(StringType,
        () => ('a' + rnd.nextInt(26)).toChar.toString * (1 + rnd.nextInt(3)),
        () => ('a' + rnd.nextInt(26)).toChar.toString * (1 + rnd.nextInt(3)))
    }
  }

  test("unknown column and empty key set behave like the brute rule's edges") {
    val schema = StructType(Seq(StructField("k", LongType)))
    val cat = new GraftCatalog(tempWarehouse())
    val t = cat.createTable("db.t_edge", schema)
    t.append(spark, spark.createDataFrame(
      Seq(Row(1L), Row(2L)).asJava, schema))
    val sc = t.scan()
    // unknown column: conservative keep-all (mayMatch's own posture)
    assert(sc.keepForKeys(sc.dataFiles, "nope", Seq(1L)).size == sc.dataFiles.size)
    // empty / all-null key set: nothing can match an equality probe
    assert(sc.keepForKeys(sc.dataFiles, "k", Nil).isEmpty)
  }
}
