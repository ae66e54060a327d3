package perfbench

import java.io.File
import java.nio.file.Files

import graft.{Derived, SparkEntry}
import org.apache.spark.sql.SparkSession

/** `lane_mix`: registered lanes over a committed copy of the sf0.01
  * test tables, one cold pass in the fresh session and then warm
  * passes, each pass in a seeded lane order of its own. The cold pass
  * digests every lane's output, which must equal the digest recorded
  * from a run the DuckDB oracle verified; warm passes time a `noop`
  * write, as `graft.Bench` does. */
final class Lanes(data: File, seed: Long) extends Workload {
  private val tables = new File(data, "sf0.01")
  private var expected: Map[String, String] = Map.empty
  private var frames = 0
  private var heldMb = 0.0

  /** Each pass runs the lanes in an order of its own, drawn from the
    * seed, so that no lane always follows the same one. */
  private def order(pass: Int): Seq[(String, String)] =
    new scala.util.Random(seed * 1000003L + pass).shuffle(Lanes.lanes)

  def prepare(run: Run, attempt: Int): Unit = {
    expected = Lanes.readDigests(new File(data, "lane_digests.json"))
    Lanes.tableNames.foreach { t =>
      run.spark.read.parquet(new File(tables, s"$t.parquet").getPath).schema
    }
  }

  def pass(run: Run): Unit = {
    val fns = SparkEntry.queries
    val dir = tables.getPath
    order(run.pass).foreach { case (lane, group) =>
      val fn = fns(lane)
      if (run.pass == 0) {
        // the cold pass digests each lane's output as its action
        val before = Derived.keys
        run.op(lane, s"lanes.$group")(Digest.of(fn(run.spark, dir))).foreach { got =>
          run.check(expected.get(lane).contains(got),
            s"$lane digest $got, expected ${expected.getOrElse(lane, "none recorded")}")
        }
        frames += (Derived.keys -- before).size
      } else run.op(lane, s"lanes.$group") {
        fn(run.spark, dir).write.format("noop").mode("overwrite").save()
      }
    }
    if (run.pass == 0) heldMb = Derived.heldBytes / 1048576.0
  }

  private def warm(run: Run) = run.samples.filter(_.pass > 0).map(_.seconds).toSeq

  def detail(run: Run): Seq[(String, Double, String)] = Seq(
    ("lane_p50_s", Stats.median(warm(run)), "s"),
    ("lane_p75_s", Stats.quantile(warm(run), 0.75), "s"),
    ("lanes", Lanes.lanes.size.toDouble, "count"))

  def layerDetail(run: Run, layers: Map[Int, Map[String, Double]]): Map[String, Double] = {
    val walls = run.samples.groupBy(_.pass).map { case (p, v) => p -> v.map(_.seconds).sum }
    val groups = Lanes.lanes.map(_._2).distinct.map { g =>
      s"lanes.${g}_s" -> Layers.perPass(run, layers, _.layer == s"lanes.$g")
    }
    groups.toMap ++ Map(
      "derived.frames_built" -> frames.toDouble,
      "derived.held_mb" -> heldMb,
      "derived.cold_excess_s" ->
        (walls.getOrElse(0, 0.0) - Stats.median(walls.filter(_._1 > 0).values.toSeq)))
  }
}

object Lanes {
  val tableNames = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Lane prefix -> layer group, by the module the lane exercises:
    * one to three lanes per group, sub-second planning-bound lanes next
    * to iterative ones. */
  private val byGroup: Seq[(String, Seq[String])] = Seq(
    "queries" -> Seq("q01", "q07"),
    "plans" -> Seq("q80"),
    "operators" -> Seq("q129"),
    "graph" -> Seq("q95"),
    "similarity" -> Seq("q27"),
    "text" -> Seq("q71"),
    "stats" -> Seq("q49"),
    "events" -> Seq("q19"),
    "streaming" -> Seq("q332"))

  /** (registered lane name, group), resolved against SparkEntry. */
  lazy val lanes: Seq[(String, String)] = {
    val names = SparkEntry.queries.keys.toSeq
    byGroup.flatMap { case (g, prefixes) =>
      prefixes.map { p =>
        val hits = names.filter(_.startsWith(p + "_"))
        require(hits.size == 1, s"lane $p resolves to ${hits.mkString(",")}")
        hits.head -> g
      }
    }
  }

  def readDigests(f: File): Map[String, String] = {
    val pair = "\"([^\"]+)\"\\s*:\\s*\"([^\"]+)\"".r
    pair.findAllMatchIn(Files.readString(f.toPath)).map(m => m.group(1) -> m.group(2)).toMap
  }

  /** Digest every lane's verified output under `verified` (one parquet
    * directory per lane, as `graft.Verify` writes them) into
    * `<data>/lane_digests.json`. */
  def recordDigests(spark: SparkSession, verified: File, data: File): Int = {
    val ds = lanes.map { case (lane, _) =>
      lane -> Digest.of(spark.read.parquet(new File(verified, lane).getPath))
    }
    Files.writeString(new File(data, "lane_digests.json").toPath,
      ds.map { case (k, v) => s"  ${Json.str(k)}: ${Json.str(v)}" }
        .mkString("{\n", ",\n", "\n}\n"))
    ds.foreach { case (k, v) => println(s"$k $v") }
    0
  }
}
