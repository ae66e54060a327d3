package perfbench

import java.io.File

import scala.collection.mutable

import graft.io.AtomicSink

/** `catalog_dml`: an `AtomicCatalog` table of seeded rating rows, cast
  * to the catalog's BIGINT/DOUBLE/STRING types. Set-up bulk-commits
  * the table. Each pass resets it with INSERT OVERWRITE, runs a
  * seed-ordered mix of appends, copy-on-write MERGE, merge-on-read
  * MERGE, merge-on-read DELETE and UPDATE with an aggregate scan after
  * every write, reads one earlier snapshot with `VERSION AS OF`, then
  * compacts and expires snapshots. A model of the table in the driver
  * checks every scan, the time-travel read and the final state. */
final class Catalog(size: Catalog.Size, seed: Long) extends Workload {
  import Catalog._

  private final case class Sums(count: Long, rating: Long, score: Double, weighted: Long)

  private val rnd = new scala.util.Random(seed)
  private val model = mutable.LongMap[(Long, Double)]()
  private var nextId = 0L
  private var table = ""
  private var dir: File = _
  private val bulkS = mutable.ArrayBuffer[Double]()
  private var bytesWritten = 0L
  private var rowsTouched = 0L
  private var filesLive = 0.0
  private var deleteFilesLive = 0.0
  private var versionsLive = 0.0

  private def rating(id: Long, salt: Long): Long = (id * 31 + salt) % 5 + 1

  /** Seeded rows for ids in [lo, hi), in the table's column order. */
  private def rows(lo: Long, hi: Long, salt: Long): String =
    s"""SELECT id, (id * 2654435761 + $salt) % 480189 + 1 AS customer,
       |  (id * 40503 + $salt) % 17770 + 1 AS movie,
       |  (id * 31 + $salt) % 5 + 1 AS rating,
       |  CAST((id * 31 + $salt) % 5 + 1 AS DOUBLE) * 0.5 AS score,
       |  concat('r', CAST(id % 97 AS STRING)) AS note
       |FROM range($lo, $hi)""".stripMargin

  private def resetModel(salt: Long): Unit = {
    model.clear()
    var id = 0L
    while (id < size.rows) {
      val r = rating(id, salt); model(id) = (r, r * 0.5); id += 1
    }
    nextId = size.rows
  }

  private def modelSums: Sums = {
    var c = 0L; var r = 0L; var s = 0.0; var w = 0L
    model.foreach { case (id, (rt, sc)) => c += 1; r += rt; s += sc; w += (id % 1009) * rt }
    Sums(c, r, s, w)
  }

  private def tableSums(run: Run, suffix: String): Sums = {
    val row = run.spark.sql(
      s"""SELECT count(*), CAST(coalesce(sum(rating), 0) AS BIGINT),
         |  coalesce(sum(score), 0D), CAST(coalesce(sum((id % 1009) * rating), 0) AS BIGINT)
         |FROM $table $suffix""".stripMargin).head()
    Sums(row.getLong(0), row.getLong(1), row.getDouble(2), row.getLong(3))
  }

  def prepare(run: Run, attempt: Int): Unit = {
    val spark = run.spark
    // the session initializes the catalog once, with the first root set
    val root = spark.conf.getOption("spark.sql.catalog.pb.root").map(new File(_))
      .getOrElse {
        val r = run.dir("catalog")
        spark.conf.set("spark.sql.catalog.pb", "graft.io.AtomicCatalog")
        spark.conf.set("spark.sql.catalog.pb.root", r.getPath)
        r
      }
    if (table.nonEmpty) spark.sql(s"DROP TABLE IF EXISTS $table")
    val name = s"ratings_$attempt"
    table = s"pb.$name"
    dir = new File(root, name)
    spark.sql(s"DROP TABLE IF EXISTS $table")
    spark.sql(s"CREATE TABLE $table (id BIGINT, customer BIGINT, movie BIGINT, " +
      "rating BIGINT, score DOUBLE, note STRING)")
    val t0 = System.nanoTime()
    spark.sql(s"INSERT INTO $table ${rows(0, size.rows, seed)}")
    bulkS += (System.nanoTime() - t0) / 1e9
    resetModel(seed)
  }

  private def withConf[T](run: Run, key: String, value: String)(body: => T): T = {
    run.spark.conf.set(key, value)
    try body finally run.spark.conf.unset(key)
  }

  private def newFileBytes(before: Set[String]): Long =
    Stats.dataFiles(dir).filterNot(f => before(f.getName)).map(_.length).sum

  /** One write: the SQL runs as a timed span, the model follows. */
  private def write(run: Run, kind: String): Unit = {
    val spark = run.spark
    val salt = rnd.nextInt(1000).toLong
    val lo = (rnd.nextDouble() * (nextId - size.window)).toLong.max(0L)
    val hi = lo + size.window
    val before = Stats.dataFiles(dir).map(_.getName).toSet
    val touched: Long = kind match {
      case "append" =>
        val n = size.append
        run.op(kind, "catalog")(spark.sql(s"INSERT INTO $table ${rows(nextId, nextId + n, salt)}"))
        (nextId until nextId + n).foreach { id =>
          val r = rating(id, salt); model(id) = (r, r * 0.5)
        }
        nextId += n
        n
      case "merge_cow" | "merge_mor" =>
        val fresh = size.append / 4
        val src =
          s"""SELECT id, (id * 13 + $salt) % 5 + 1 AS rating FROM range($lo, $hi) WHERE id % 2 = 0
             |UNION ALL
             |SELECT id, (id * 13 + $salt) % 5 + 1 AS rating FROM range($nextId, ${nextId + fresh})
             |""".stripMargin
        val sql =
          s"""MERGE INTO $table dst USING ($src) src ON dst.id = src.id
             |WHEN MATCHED THEN UPDATE SET rating = src.rating, score = src.rating * 0.5D
             |WHEN NOT MATCHED THEN INSERT (id, customer, movie, rating, score, note)
             |  VALUES (src.id, src.id % 480189 + 1, src.id % 17770 + 1, src.rating,
             |          src.rating * 0.5D, 'merged')""".stripMargin
        if (kind == "merge_mor")
          run.op(kind, "catalog")(withConf(run, "spark.graft.atomic.dmlMode", "mor")(spark.sql(sql)))
        else run.op(kind, "catalog")(spark.sql(sql))
        val ids = (lo until hi).filter(_ % 2 == 0) ++ (nextId until nextId + fresh)
        ids.foreach { id => val r = (id * 13 + salt) % 5 + 1; model(id) = (r, r * 0.5) }
        nextId += fresh
        ids.size.toLong
      case "delete" =>
        val m = 3 + rnd.nextInt(3)
        val r = rnd.nextInt(m)
        run.op(kind, "catalog")(withConf(run, "spark.graft.atomic.deleteMode", "mor")(
          spark.sql(s"DELETE FROM $table WHERE id >= $lo AND id < $hi AND id % $m = $r")))
        val gone = (lo until hi).filter(id => id % m == r && model.contains(id))
        gone.foreach(model.remove)
        gone.size.toLong
      case "update" =>
        val m = 3 + rnd.nextInt(3)
        val r = rnd.nextInt(m)
        run.op(kind, "catalog")(spark.sql(
          s"UPDATE $table SET rating = rating % 5 + 1, score = score + 1.0D " +
            s"WHERE id >= $lo AND id < $hi AND id % $m = $r"))
        val hit = (lo until hi).filter(id => id % m == r && model.contains(id))
        hit.foreach { id => val (rt, sc) = model(id); model(id) = (rt % 5 + 1, sc + 1.0) }
        hit.size.toLong
    }
    bytesWritten += newFileBytes(before)
    rowsTouched += touched
  }

  private def scan(run: Run): Unit = {
    val got = run.op("scan", "catalog") {
      run.spark.sql(s"SELECT rating, count(*), sum(score) FROM $table GROUP BY rating")
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    }
    val want = model.values.groupBy(_._1).map { case (rt, v) => rt -> (v.size.toLong, v.map(_._2).sum) }
    got.foreach(g => run.check(g == want, s"scan after pass ${run.pass} write: $g, expected $want"))
  }

  private def version(run: Run): Int = AtomicSink.versions(run.spark, dir.getPath).last

  def pass(run: Run): Unit = {
    val spark = run.spark
    val salt = rnd.nextInt(1000).toLong
    val before = Stats.dataFiles(dir).map(_.getName).toSet
    run.op("overwrite", "catalog")(spark.sql(s"INSERT OVERWRITE $table ${rows(0, size.rows, salt)}"))
    bytesWritten += newFileBytes(before)
    rowsTouched += size.rows
    resetModel(salt)

    val mix = rnd.shuffle(Seq.fill(size.each)(Seq("append", "merge_cow", "merge_mor",
      "delete", "update")).flatten)
    val travelAt = rnd.nextInt(mix.size)
    var travel: Option[(Int, Sums)] = None
    mix.zipWithIndex.foreach { case (kind, i) =>
      write(run, kind)
      if (i == travelAt) travel = Some(version(run) -> modelSums)
      scan(run)
    }
    travel.foreach { case (v, want) =>
      run.op("time_travel", "catalog")(tableSums(run, s"VERSION AS OF $v")).foreach { got =>
        run.check(got == want, s"VERSION AS OF $v: $got, expected $want")
      }
    }
    val schema = spark.table(table).schema
    run.op("compact", "catalog")(AtomicSink.compact(spark, dir.getPath, schema))
    run.op("expire", "catalog")(AtomicSink.expireSnapshots(dir.getPath, KeepVersions))
    val names = Stats.dataFiles(dir).map(_.getName)
    filesLive = AtomicSink.committedFiles(spark, dir.getPath).size.toDouble
    deleteFilesLive = names.count(_.contains("del")).toDouble
    versionsLive = AtomicSink.versions(spark, dir.getPath).size.toDouble
  }

  override def finish(run: Run): Unit = {
    val got = tableSums(run, "")
    val want = modelSums
    run.check(got == want, s"final table $got, expected $want")
  }

  private def p50ms(run: Run, kind: String): Double =
    Stats.median(run.samples.filter(s => s.pass > 0 && s.kind == kind).map(_.seconds).toSeq) * 1e3

  private def count(run: Run, kind: String): Double =
    run.samples.count(s => s.pass > 0 && s.kind == kind).toDouble

  def detail(run: Run): Seq[(String, Double, String)] =
    Seq("append", "merge_cow", "merge_mor", "delete", "scan").flatMap { k =>
      Seq((s"${k}_p50_ms", p50ms(run, k), "ms"), (s"${k}_samples", count(run, k), "count"))
    } ++ Seq(
      ("space_bytes_per_row", Stats.dirBytes(dir).toDouble / model.size.max(1), "B/row"),
      ("write_bytes_per_row", bytesWritten.toDouble / rowsTouched.max(1L), "B/row"),
      ("table_rows", size.rows.toDouble, "count"))

  def layerDetail(run: Run, layers: Map[Int, Map[String, Double]]): Map[String, Double] = {
    def wall(k: String) = Layers.perPass(run, layers, _.name == k)
    Map(
      "catalog.bulk_commit_s" -> Stats.median(bulkS.toSeq),
      "catalog.append_s" -> wall("append"),
      "catalog.merge_cow_s" -> wall("merge_cow"),
      "catalog.merge_mor_s" -> wall("merge_mor"),
      "catalog.delete_mor_s" -> wall("delete"),
      "catalog.update_s" -> wall("update"),
      "catalog.overwrite_s" -> wall("overwrite"),
      "catalog.compact_s" -> wall("compact"),
      "catalog.expire_s" -> wall("expire"),
      "catalog.scan_s" -> wall("scan"),
      "catalog.time_travel_s" -> wall("time_travel"),
      "catalog.files_live" -> filesLive,
      "catalog.delete_files_live" -> deleteFilesLive,
      "catalog.versions" -> versionsLive)
  }
}

object Catalog {
  /** Table rows, rows per append, id window of MERGE/DELETE/UPDATE,
    * and writes of each kind per pass. */
  final case class Size(rows: Long, append: Long, window: Long, each: Int)
  object Size {
    val Bench = Size(200000L, 2000L, 8000L, 1)
    val Tiny = Size(2000L, 100L, 400L, 1)
  }
  /** Snapshots kept by `expireSnapshots` at the end of a pass. */
  val KeepVersions = 4
}
