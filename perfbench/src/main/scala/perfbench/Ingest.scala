package perfbench

import java.io.File

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.ingest.{DateDim, NetflixParser, StarBuilder}
import graft.io.Sinks

/** `netflix_ingest`: the paper's pipeline over a seeded corpus. Each
  * pass calls the program stage by stage, as `StarBuilder.build` does,
  * and materializes each stage so that stages are timed apart:
  * parse (its eager carry-scan job separately) → date, movie and
  * customer dimensions → fact → parquet sink, then the post-load
  * aggregates of the reference's views over the sunk star. */
final class Ingest(size: NetflixCorpus.Size) extends Workload {
  private var corpus: NetflixCorpus.Corpus = _
  private var starBytes = 0L
  private var starFiles = 0L

  def prepare(run: Run, attempt: Int): Unit = {
    val dir = new File(run.work, s"corpus-$attempt")
    Stats.deleteTree(dir)
    corpus = NetflixCorpus.generate(dir, size, run.seed)
    if (attempt > 1) Stats.deleteTree(new File(run.work, s"corpus-${attempt - 1}"))
  }

  private def materialize[T](ds: Dataset[T]): Dataset[T] = {
    ds.persist(StorageLevel.MEMORY_AND_DISK)
    ds.count()
    ds
  }

  def pass(run: Run): Unit = {
    val spark = run.spark
    val exp = corpus.expected
    val star = new File(run.work, "star").getPath
    val text = spark.read.text(corpus.ratingFiles.map(_.getPath): _*)

    // cut the rating files as a four-thread read does, whatever the
    // thread count, so that splits end inside movie blocks and the
    // parser's carry-in between partitions is exercised
    spark.conf.set("spark.sql.files.minPartitionNum", "4")
    val parsed = run.op("parse_carry_scan", "ingest")(NetflixParser.parseCombinedData(text))
    val ratings = parsed.flatMap(p => run.op("parse", "ingest")(materialize(p)))
    spark.conf.unset("spark.sql.files.minPartitionNum")
    val dimDate = run.op("dim_date", "ingest")(materialize(DateDim.build(spark)))
    val dimMovie = run.op("dim_movie", "ingest")(materialize(StarBuilder.dimMovie(
      NetflixParser.parseMovieTitles(spark.read.text(corpus.titles.getPath)))))
    val dimCustomer = ratings.flatMap(r =>
      run.op("dim_customer", "ingest")(materialize(StarBuilder.dimCustomer(r))))
    val fact = for (r <- ratings; m <- dimMovie; c <- dimCustomer;
                    f <- run.op("fact", "ingest")(materialize(StarBuilder.factRatings(r, m, c))))
      yield f
    for (d <- dimDate; m <- dimMovie; c <- dimCustomer; f <- fact)
      run.op("sink", "io.sinks") {
        Sinks.writeParquet(d, s"$star/dim_date")
        Sinks.writeParquet(m, s"$star/dim_movie")
        Sinks.writeParquet(c, s"$star/dim_customer")
        Sinks.writeParquet(f, s"$star/fact_ratings")
      }
    val loaded: Seq[Dataset[_]] =
      ratings.toSeq ++ dimDate.toSeq ++ dimMovie.toSeq ++ dimCustomer.toSeq ++ fact.toSeq
    ratings.foreach(r => run.check(r.count() == exp.valid,
      s"parse kept ${r.count()} rows, expected ${exp.valid}"))
    loaded.foreach(_.unpersist(blocking = true))

    val starDir = new File(star)
    starBytes = Stats.dirBytes(starDir)
    starFiles = Stats.dataFiles(starDir).count(_.getName.endsWith(".parquet")).toLong
    run.op("postload", "postload")(postload(run, star)).foreach(check(run, _))
  }

  /** Results of the post-load read-back, collected for checking. */
  private final case class PostLoad(
      factRows: Long, customers: Long, movies: Long,
      titles: Map[Int, String], histogram: Map[Int, Long],
      daily: Seq[(Int, Long, Long, Double)], movieStats: Seq[(Int, Long, Long, Double)],
      activity: (Long, Long, Long, Long))

  /** The reference's post-load aggregates and `schema.sql` views
    * (daily rating summary, movie statistics, customer activity) over
    * the sunk star. */
  private def postload(run: Run, star: String): PostLoad = {
    val spark = run.spark
    val fact = spark.read.parquet(s"$star/fact_ratings")
    val dimDate = spark.read.parquet(s"$star/dim_date")
    val dimMovie = spark.read.parquet(s"$star/dim_movie")
    val dimCustomer = spark.read.parquet(s"$star/dim_customer")
    val daily = fact.join(dimDate, "date_key")
      .groupBy(col("date_actual"))
      .agg(count(lit(1)).as("n"), sum("rating").cast("long").as("s"), avg("rating").as("a"))
      .select(datediff(col("date_actual"), lit(NetflixCorpus.FirstDay.toString)).as("d"),
        col("n"), col("s"), col("a"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    val movieStats = fact.groupBy("movie_key")
      .agg(count(lit(1)).as("n"), sum("rating").cast("long").as("s"), avg("rating").as("a"))
      .join(dimMovie, "movie_key")
      .select(col("movie_id"), col("n"), col("s"), col("a"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    val activity = fact.groupBy("customer_key").agg(count(lit(1)).as("n"),
        min("rating_timestamp").as("first"), max("rating_timestamp").as("last"))
      .join(dimCustomer, "customer_key")
      .agg(count(lit(1)), sum(col("n") * col("n")), max("n"),
        sum(when(col("n") === col("total_ratings") &&
          to_date(col("first")) === col("first_rating_date") &&
          to_date(col("last")) === col("last_rating_date"), 1L).otherwise(0L)))
      .head()
    val hist = fact.groupBy("rating").count().collect()
      .map(r => r.getAs[Number](0).intValue -> r.getLong(1)).toMap
    val titles = dimMovie.select("movie_id", "title").collect()
      .map(r => r.getInt(0) -> r.getString(1)).toMap
    PostLoad(fact.count(), dimCustomer.count(), dimMovie.count(), titles, hist,
      daily, movieStats,
      (activity.getLong(0), activity.getLong(1), activity.getLong(2), activity.getLong(3)))
  }

  private def check(run: Run, p: PostLoad): Unit = {
    val e = corpus.expected
    run.check(p.factRows == e.valid, s"fact has ${p.factRows} rows, expected ${e.valid}")
    run.check(p.customers == e.customers,
      s"dim_customer has ${p.customers} rows, expected ${e.customers}")
    run.check(p.movies == NetflixCorpus.Movies,
      s"dim_movie has ${p.movies} rows, expected ${NetflixCorpus.Movies}")
    run.check(p.titles == e.titles, "dim_movie titles differ from movie_titles.csv")
    (1 to 5).foreach { r =>
      run.check(p.histogram.getOrElse(r, 0L) == e.histogram(r),
        s"rating $r: ${p.histogram.getOrElse(r, 0L)} rows, expected ${e.histogram(r)}")
    }
    val days = e.dayCount.indices.filter(e.dayCount(_) > 0)
    run.check(p.daily.size == days.size, s"daily summary has ${p.daily.size} days, expected ${days.size}")
    p.daily.foreach { case (d, n, s, a) =>
      run.check(d >= 0 && d < e.dayCount.length && n == e.dayCount(d) &&
        s == e.dayRatingSum(d) && math.abs(a - s.toDouble / n) < 1e-9,
        s"daily summary day $d: ($n, $s) differs from the corpus")
    }
    val movies = (1 to NetflixCorpus.Movies).filter(e.movieCount(_) > 0)
    run.check(p.movieStats.size == movies.size,
      s"movie stats has ${p.movieStats.size} movies, expected ${movies.size}")
    p.movieStats.foreach { case (m, n, s, a) =>
      run.check(m >= 1 && m <= NetflixCorpus.Movies && n == e.movieCount(m) &&
        s == e.movieRatingSum(m) && math.abs(a - s.toDouble / n) < 1e-9,
        s"movie stats movie $m: ($n, $s) differs from the corpus")
    }
    val (custs, sumSq, max, agree) = p.activity
    run.check(custs == e.customers && sumSq == e.customerCountSumSq &&
      max == e.customerCountMax && agree == e.customers,
      s"customer activity ($custs, $sumSq, $max, $agree) differs from the corpus " +
        s"(${e.customers}, ${e.customerCountSumSq}, ${e.customerCountMax})")
  }

  private def kind(run: Run, k: String): Seq[Double] =
    run.samples.filter(s => s.pass > 0 && s.kind == k).map(_.seconds).toSeq

  private val loadKinds =
    Seq("parse_carry_scan", "parse", "dim_date", "dim_movie", "dim_customer", "fact", "sink")

  private def loadS(run: Run): Double = {
    val perPass = run.samples.filter(s => s.pass > 0 && loadKinds.contains(s.kind))
      .groupBy(_.pass).values.map(_.map(_.seconds).sum).toSeq
    Stats.median(perPass)
  }

  def detail(run: Run): Seq[(String, Double, String)] = {
    val load = loadS(run)
    Seq(
      ("load_s", load, "s"),
      ("ingest_rows_per_s", if (load > 0) corpus.expected.valid / load else 0.0, "rows/s"),
      ("postload_s", Stats.median(kind(run, "postload")), "s"),
      ("space_bytes_per_row", starBytes.toDouble / corpus.expected.valid, "B/row"),
      ("fact_rows", corpus.expected.valid.toDouble, "count"),
      ("input_lines", corpus.expected.lines.toDouble, "count"))
  }

  def layerDetail(run: Run, layers: Map[Int, Map[String, Double]]): Map[String, Double] = {
    def wall(k: String) = Layers.perPass(run, layers, _.name == k)
    val e = corpus.expected
    Map(
      "ingest.parse.s" -> (wall("parse_carry_scan") + wall("parse")),
      "ingest.parse.carry_scan_s" -> wall("parse_carry_scan"),
      "ingest.parse.lines_in" -> e.lines.toDouble,
      "ingest.parse.rows_out" -> e.valid.toDouble,
      "ingest.parse.useful_frac" -> e.valid.toDouble / e.lines,
      "ingest.dim_date.s" -> wall("dim_date"),
      "ingest.dim_movie.s" -> wall("dim_movie"),
      "ingest.dim_customer.s" -> wall("dim_customer"),
      "ingest.fact.s" -> wall("fact"),
      "ingest.fact.broadcast_mb" -> Layers.perPass(run, layers, _.name == "fact", "broadcast_mb"),
      "io.sinks.write_s" -> wall("sink"),
      "io.sinks.mb_written" -> starBytes / 1048576.0,
      "io.sinks.files" -> starFiles.toDouble,
      "postload.s" -> wall("postload"),
      "postload.scan_mb" -> Layers.perPass(run, layers, _.name == "postload", "scan.mb"))
  }
}
