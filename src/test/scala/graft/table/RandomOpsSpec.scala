package graft.table

import graft.SparkSpec
import graft.catalog.GraftCatalog
import graft.format.Predicate
import graft.sources.GraftTableCatalog
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._
import scala.util.Random

/** Model-based randomized DML and schema evolution (SURVEY §5.3): a seeded
  * random sequence of append / COW-delete / MOR-delete / update / compact /
  * rewrite-manifests / rollback / cherry-pick ops, interleaved with
  * add-column, rename, widen (int→bigint, float→double, decimal precision)
  * and drop-then-re-add-the-same-name, runs against both the Graft table
  * and an in-memory model. Invariants after every op:
  *   1. table contents == model contents, through `GraftTable.toDF`,
  *      catalog SQL and `format("graft")` alike;
  *   2. every earlier snapshot still re-reads its exact historical rows
  *      under its own schema, through `atSnapshot` and `VERSION AS OF`
  *      (immutability, docs/05 + docs/08:30-49);
  *   3. snapshot accounting: the head's `total-data-files`,
  *      `total-records` and `total-delete-files` equal what its live
  *      manifests hold, and each manifest's counts equal its entries.
  */
class RandomOpsSpec extends SparkSpec {

  /** A model column: `key` is its identity (a field ID survives renames and
    * widenings; a re-added name is a new key), `name` and `dt` its current
    * name and type.
    */
  private case class MCol(key: Int, name: String, dt: DataType)
  private type MRow = Map[Int, Any]

  private def rowsOf(df: DataFrame): Set[Seq[Any]] = df.collect().map(_.toSeq).toSet

  /** Rows as `cols` read them: a value stored before its column was
    * widened (a rolled-back or cherry-picked file) reads widened.
    */
  private def expected(cols: Seq[MCol], rows: Set[MRow]): Set[Seq[Any]] =
    rows.map(r => cols.map(c => widened(r.getOrElse(c.key, null), c.dt)))

  /** Invariant 3: snapshot totals and manifest counts match the entries. */
  private def checkAccounting(t: GraftTable, ctx: String): Unit = {
    val m = t.meta
    val summary = m.currentSnapshot.get.summary
    val entries = t.currentManifests(m).map(mf => mf -> t.readManifest(m, mf))
    entries.foreach { case (mf, files) =>
      assert(mf.fileCount == files.size && mf.recordCount == files.map(_.recordCount).sum,
        s"manifest ${mf.path} counts ${mf.fileCount}/${mf.recordCount} != its entries $ctx")
    }
    def filesOf(content: String) = entries.filter(_._1.content == content).flatMap(_._2)
    assert(summary("total-data-files").toLong == filesOf("data").size, s"total-data-files $ctx")
    assert(summary("total-records").toLong == filesOf("data").map(_.recordCount).sum,
      s"total-records $ctx")
    assert(summary("total-delete-files").toLong == filesOf("position-deletes").size,
      s"total-delete-files $ctx")
  }

  private def valueOf(rnd: Random, dt: DataType): Any =
    if (rnd.nextInt(6) == 0) null
    else dt match {
      case IntegerType => rnd.nextInt(100)
      case LongType => rnd.nextInt(100).toLong
      case FloatType => rnd.nextInt(40) / 4f // exact in float and double
      case DoubleType => rnd.nextInt(40) / 4.0
      case d: DecimalType => java.math.BigDecimal.valueOf(rnd.nextInt(100000).toLong, d.scale)
      case StringType => s"s${rnd.nextInt(9)}"
    }

  /** The model value of `v` after widening its column to `to`. */
  private def widened(v: Any, to: DataType): Any = (v, to) match {
    case (i: Int, LongType) => i.toLong
    case (f: Float, DoubleType) => f.toDouble
    case (other, _) => other
  }

  for (partitioned <- Seq(false, true))
  test(s"random op sequences (partitioned=$partitioned): table == model, history immutable") {
    val rnd = new Random(if (partitioned) 77 else 4242)
    val wh = tempWarehouse()
    val cat = new GraftCatalog(wh)
    val name = s"db.rand_$partitioned"
    val mor = rnd.nextBoolean()
    var cols = Vector(MCol(0, "id", LongType), MCol(1, "grp", StringType),
      MCol(2, "v", LongType), MCol(3, "n", IntegerType), MCol(4, "f", FloatType),
      MCol(5, "dec", DecimalType(9, 2)))
    val t = cat.createTable(name, StructType(cols.map(c => StructField(c.name, c.dt))),
      partitionBy = if (partitioned) Seq("grp" -> graft.format.Transform.Identity) else Nil,
      properties = Map("enable-iceberg-merge-on-read" -> mor.toString))
    val sqlCat = s"rops_$partitioned"
    spark.conf.set(s"spark.sql.catalog.$sqlCat", classOf[GraftTableCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$sqlCat.warehouse", wh)
    def graftRead(): DataFrame =
      spark.read.format("graft").option("warehouse", wh).option("table", name).load()

    var model = Set.empty[MRow]
    // rows of each append snapshot, and the appends a rollback undid (a
    // cherry-pick may re-apply one)
    var appended = Map.empty[Long, Set[MRow]]
    var undone = Map.empty[Long, Set[MRow]]
    val ran = scala.collection.mutable.Set.empty[String]
    var nextId = 0L
    var nextKey = 6
    // (snapshot id, columns at its commit, rows at its commit)
    val history = scala.collection.mutable.ArrayBuffer.empty[(Long, Vector[MCol], Set[MRow])]
    val groups = Vector("a", "b", "c")
    // evolution kinds, one per evolution step, so every kind runs
    val evolutions = Vector("add", "widen-int", "rename", "widen-float", "drop-readd",
      "widen-decimal")

    def extra(pick: MCol => Boolean): Option[MCol] = {
      val cands = cols.filter(c => c.key > 2 && pick(c))
      if (cands.isEmpty) None else Some(cands(rnd.nextInt(cands.size)))
    }

    // the 16 data ops in seeded order, so every kind runs; a rollback waits
    // until it can undo an append, and a cherry-pick until one is undone
    val dataOps = scala.collection.mutable.Buffer(rnd.shuffle(Vector.fill(5)("append") ++
      Vector("delete", "delete", "update", "update", "compact", "compact", "rewrite-manifests",
        "rollback", "rollback", "cherry-pick", "cherry-pick")): _*)
    def rollbackTargets = history.filter(h => !t.meta.currentSnapshotId.contains(h._1) &&
      appended.keys.exists(_ > h._1))
    def nextDataOp(): String = dataOps.remove(math.max(0, dataOps.indexWhere {
      case "rollback" => rollbackTargets.nonEmpty
      case "cherry-pick" => undone.nonEmpty
      case _ => true
    }))
    for (step <- 1 to 24) {
      val what =
        if (step % 3 == 0) evolutions((step / 3 - 1) % evolutions.size)
        else nextDataOp()
      ran += what
      what match {
        case "append" => // 1-20 rows in the current schema
          val rows = (0 until rnd.nextInt(20) + 1).map { _ =>
            nextId += 1
            cols.map(c => c.key -> (c.key match {
              case 0 => nextId
              case 1 => groups(rnd.nextInt(3))
              case 2 => rnd.nextInt(100).toLong
              case _ => valueOf(rnd, c.dt)
            })).toMap
          }
          val schema = StructType(cols.map(c => StructField(c.name, c.dt)))
          val snap = t.append(spark, spark.createDataFrame(
            rows.map(r => Row.fromSeq(cols.map(c => r(c.key)))).asJava, schema))
          model ++= rows
          appended += snap.snapshotId -> rows.toSet
        case "delete" => // a whole group
          val g = groups(rnd.nextInt(3))
          t.delete(spark, Seq(Predicate.Eq("grp", g)))
          model = model.filterNot(_(1) == g)
        case "update" => // v += 1000 where v < cut
          val cut = rnd.nextInt(100).toLong
          t.update(spark, Map("v" -> (col("v") + 1000)), Seq(Predicate.Lt("v", cut)))
          model = model.map(r => r(2) match {
            case v: Long if v < cut => r.updated(2, v + 1000)
            case _ => r
          })
        case "compact" =>
          t.compact(spark) // content-neutral
        case "rewrite-manifests" =>
          t.rewriteManifests() // content-neutral
        case "rollback" => // to a random earlier snapshot that a later append follows
          val earlier = rollbackTargets
          if (earlier.isEmpty) ran -= what
          else {
            val (sid, _, rows) = earlier(rnd.nextInt(earlier.size))
            t.rollbackTo(sid)
            model = rows
            // appends committed after the target are absent from it, and no
            // live snapshot's deletes can name their files
            undone = appended.filter(_._1 > sid)
          }
        case "cherry-pick" => // re-apply an append the last rollback undid
          if (undone.isEmpty) ran -= what
          else {
            val (sid, rows) = undone.minBy(_._1)
            t.cherryPick(sid)
            model ++= rows
            undone -= sid
          }
        case "add" =>
          val c = MCol(nextKey, s"x$nextKey", Vector(StringType, IntegerType, FloatType)(rnd.nextInt(3)))
          nextKey += 1
          t.addColumn(c.name, c.dt)
          cols :+= c
        case "rename" =>
          extra(_ => true).foreach { c =>
            val to = s"${c.name}_r$step"
            t.renameColumn(c.name, to)
            cols = cols.map(x => if (x.key == c.key) x.copy(name = to) else x)
          }
        case w if w.startsWith("widen-") =>
          val (from, to): (DataType => Boolean, DataType => DataType) = w match {
            case "widen-int" => (_ == IntegerType, _ => LongType)
            case "widen-float" => (_ == FloatType, _ => DoubleType)
            case _ => ({ case d: DecimalType => d.precision < 30; case _ => false },
              { case d: DecimalType => DecimalType(d.precision + 3, d.scale) })
          }
          extra(c => from(c.dt)).foreach { c =>
            val dt = to(c.dt)
            t.widenColumn(c.name, dt)
            cols = cols.map(x => if (x.key == c.key) x.copy(dt = dt) else x)
            model = model.map(r => r.updated(c.key, widened(r.getOrElse(c.key, null), dt)))
          }
        case "drop-readd" =>
          // the file still holds a column of this name: the re-added field
          // must read null, never the dropped values
          extra(_ => true).foreach { c =>
            t.dropColumn(c.name)
            t.addColumn(c.name, c.dt)
            val readded = c.copy(key = nextKey)
            nextKey += 1
            cols = cols.filterNot(_.key == c.key) :+ readded
            model = model.map(_ - c.key)
          }
      }
      val want = expected(cols, model)
      val ctx = s"at step $step ($what, mor=$mor, cols=${cols.map(c => s"${c.name}:${c.dt.simpleString}")})"
      assert(rowsOf(t.toDF(spark)) == want, s"toDF diverges $ctx")
      assert(rowsOf(spark.sql(s"SELECT * FROM $sqlCat.$name")) == want, s"SQL diverges $ctx")
      assert(rowsOf(graftRead()) == want, s"format(graft) diverges $ctx")
      checkAccounting(t, ctx)
      val head = t.meta.currentSnapshotId
      if (!history.exists(h => head.contains(h._1))) history += ((head.get, cols, model))
      // every earlier snapshot re-reads its exact historical rows; the
      // head snapshot reads under the current schema
      history.foreach { case (sid, hCols, hRows) =>
        val exp = if (head.contains(sid)) want else expected(hCols, hRows)
        assert(rowsOf(t.atSnapshot(sid).toDF(spark)) == exp, s"snapshot $sid mutated $ctx")
        assert(rowsOf(spark.sql(s"SELECT * FROM $sqlCat.$name VERSION AS OF $sid")) == exp,
          s"VERSION AS OF $sid diverges $ctx")
      }
    }
    assert(Set("compact", "rewrite-manifests", "rollback", "cherry-pick").subsetOf(ran),
      s"ops that ran: $ran")
    spark.conf.unset(s"spark.sql.catalog.$sqlCat.warehouse")
    spark.conf.unset(s"spark.sql.catalog.$sqlCat")
  }
}
