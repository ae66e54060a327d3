package perfbench

import java.io.{File, PrintWriter}

import scala.io.Source

import org.apache.spark.sql.SparkSession

/** Tiny-size self-test of the correctness gates: each gate passes on
  * a correct run and fails when an output is wrong — a dropped input
  * row, a wrong or short lane output, a row lost from the catalog table. */
object SelfTest {
  def run(spark: SparkSession, work: File, data: File): Int = {
    val results = Seq(
      "ingest passes on the tiny corpus" -> ingest(spark, work, dropRow = false).isEmpty,
      "ingest fails when a detail row is dropped" -> ingest(spark, work, dropRow = true).nonEmpty,
      "lane digest matches the recorded one" -> lane(spark, work, data, "none").isEmpty,
      "lane check fails on a wrong digest" -> lane(spark, work, data, "wrong_digest").nonEmpty,
      "lane check fails on a dropped row" -> lane(spark, work, data, "dropped_row").nonEmpty,
      "catalog passes on the tiny table" -> catalog(spark, work, dropRow = false).isEmpty,
      "catalog fails when a row is lost" -> catalog(spark, work, dropRow = true).nonEmpty)
    results.foreach { case (name, ok) => println(s"${if (ok) "ok  " else "FAIL"} $name") }
    if (results.forall(_._2)) 0 else 1
  }

  private def newRun(spark: SparkSession, work: File, name: String): Run = {
    val dir = new File(work, s"selftest-$name")
    Stats.deleteTree(dir)
    dir.mkdirs()
    new Run(spark, new Tracer(spark), dir, 7L)
  }

  private def ingest(spark: SparkSession, work: File, dropRow: Boolean): Seq[String] = {
    val run = newRun(spark, work, s"ingest-$dropRow")
    val w = new Ingest(NetflixCorpus.Size.Tiny)
    w.prepare(run, 1)
    if (dropRow) {
      // remove the first well-formed detail line; expectations stay
      val f = new File(run.work, "corpus-1/combined_data_1.txt")
      val lines = Source.fromFile(f, "UTF-8").getLines().toVector
      val i = lines.indexWhere(l => l.count(_ == ',') == 2 && l.head.isDigit && !l.contains("13-45"))
      val out = new PrintWriter(f, "UTF-8")
      try lines.patch(i, Nil, 1).foreach(l => out.print(l + "\n")) finally out.close()
    }
    w.pass(run)
    run.errors.toSeq
  }

  /** `fault`: "none", "wrong_digest" (the recorded digest altered) or
    * "dropped_row" (one output row dropped before digesting). */
  private def lane(spark: SparkSession, work: File, data: File, fault: String): Seq[String] = {
    val run = newRun(spark, work, s"lane-$fault")
    val (lane, _) = Lanes.lanes.head
    val recorded = Lanes.readDigests(new File(data, "lane_digests.json"))(lane)
    val expected = if (fault == "wrong_digest") recorded.reverse else recorded
    val df = graft.SparkEntry.queries(lane)(spark, new File(data, "sf0.01").getPath)
    val out = if (fault == "dropped_row") df.limit((df.count() - 1).toInt) else df
    val got = Digest.of(out)
    run.check(got == expected, s"$lane digest $got, expected $expected")
    run.errors.toSeq
  }

  private def catalog(spark: SparkSession, work: File, dropRow: Boolean): Seq[String] = {
    val run = newRun(spark, work, s"catalog-$dropRow")
    val w = new Catalog(Catalog.Size.Tiny, 7L)
    w.prepare(run, if (dropRow) 2 else 1)
    w.pass(run)
    if (dropRow) spark.sql(s"DELETE FROM pb.ratings_2 WHERE id = 0")
    w.finish(run)
    run.errors.toSeq
  }
}
