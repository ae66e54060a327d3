package perfbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.time.LocalDate
import java.util.SplittableRandom

/** Seeded Netflix-Prize-format corpus (`movie_titles.csv` plus a few
  * large `combined_data_N.txt` files) with the expectations a correct
  * load must meet, computed while the files are written.
  *
  * Shape, following the real data set: 17,770 movies, customer ids
  * drawn from a pool of 480,189 sparse ids below 2,649,430, ratings
  * 1-5 with the published skew towards 3 and 4, dates from 1999-11-11
  * to 2005-12-31. Movie block lengths follow a Zipf law over a seeded
  * movie ranking, so a few movies have very long blocks; the blocks are
  * written in movie-id order into a few large files, which Spark's
  * input splits cut through mid-block. About 2 % of lines end in CRLF
  * (one file entirely), and about 0.1 % of detail lines are malformed
  * and must be dropped. Some titles carry embedded commas, a `NULL`
  * year, a two-field row or more than 500 characters.
  */
object NetflixCorpus {
  final case class Size(ratings: Int, files: Int)
  object Size {
    val Bench = Size(2000000, 3)
    val Tiny = Size(20000, 2)
  }

  val Movies = 17770
  val PoolSize = 480189
  val MaxCustomerId = 2649429
  val FirstDay: LocalDate = LocalDate.parse("1999-11-11")
  val Days = 2243 // through 2005-12-31
  private val TwoFieldMovie = 4242

  /** What a correct load of the corpus yields. Arrays are indexed by
    * movie id, day offset from [[FirstDay]], and rating value. */
  final class Expected(val lines: Long, val valid: Long,
                       val movieCount: Array[Long], val movieRatingSum: Array[Long],
                       val dayCount: Array[Long], val dayRatingSum: Array[Long],
                       val histogram: Array[Long], val customers: Long,
                       val customerCountSumSq: Long, val customerCountMax: Long,
                       val titles: Map[Int, String])

  final case class Corpus(titles: File, ratingFiles: Seq[File], expected: Expected)

  private val RatingCdf = Array(0.046, 0.147, 0.434, 0.770, 1.0)

  def generate(dir: File, size: Size, seed: Long): Corpus = {
    dir.mkdirs()
    val rnd = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + 17)

    // customer pool: distinct sparse ids
    val pool = {
      val ids = new Array[Int](PoolSize)
      val seen = new java.util.BitSet(MaxCustomerId + 1)
      var i = 0
      while (i < PoolSize) {
        val c = 1 + rnd.nextInt(MaxCustomerId)
        if (!seen.get(c)) { seen.set(c); ids(i) = c; i += 1 }
      }
      ids
    }

    // Zipf block lengths over a seeded ranking of the movies
    val rank = (1 to Movies).toArray
    for (i <- Movies - 1 to 1 by -1) {
      val j = rnd.nextInt(i + 1); val t = rank(i); rank(i) = rank(j); rank(j) = t
    }
    val weight = rank.map(r => 1.0 / math.pow(r.toDouble, 0.9))
    val wsum = weight.sum
    val blockLen = weight.map(w => math.max(1L, math.round(size.ratings * w / wsum)).toInt)

    val days = Array.tabulate(Days)(d => FirstDay.plusDays(d.toLong).toString)
    val movieCount = new Array[Long](Movies + 1)
    val movieRatingSum = new Array[Long](Movies + 1)
    val dayCount = new Array[Long](Days)
    val dayRatingSum = new Array[Long](Days)
    val histogram = new Array[Long](6)
    val custCount = new Array[Int](PoolSize)
    var lines = 0L
    var valid = 0L

    // movie-id ranges per file, balanced by line count
    val total = blockLen.map(_.toLong).sum + Movies
    val files = (1 to size.files).map(n => new File(dir, s"combined_data_$n.txt"))
    var movie = 1
    files.zipWithIndex.foreach { case (f, fi) =>
      val crlfFile = fi == 1
      val target = total * (fi + 1) / size.files
      val w = new BufferedWriter(new OutputStreamWriter(
        new FileOutputStream(f), StandardCharsets.UTF_8), 1 << 20)
      val sb = new java.lang.StringBuilder(64)
      def emit(s: CharSequence): Unit = {
        w.append(s)
        w.append(if (crlfFile || rnd.nextInt(50) == 0) "\r\n" else "\n")
        lines += 1
      }
      while (movie <= Movies && (lines < target || fi == size.files - 1)) {
        sb.setLength(0); sb.append(movie).append(':'); emit(sb)
        var k = 0
        while (k < blockLen(movie - 1)) {
          val ci = rnd.nextInt(PoolSize)
          val u = rnd.nextDouble()
          var rating = 1
          while (u > RatingCdf(rating - 1)) rating += 1
          val day = rnd.nextInt(Days)
          sb.setLength(0)
          if (rnd.nextInt(1000) == 0) {
            // malformed detail line: dropped by a correct parser
            rnd.nextInt(5) match {
              case 0 => sb.append("abc,").append(rating).append(',').append(days(day))
              case 1 => sb.append(pool(ci)).append(',').append(rating)
              case 2 => sb.append(pool(ci)).append(',').append(rating).append(",2005-13-45")
              case 3 => sb.append(pool(ci)).append(",x,").append(days(day))
              case _ => sb.append('+').append(movie).append(':')
            }
          } else {
            sb.append(pool(ci)).append(',').append(rating).append(',').append(days(day))
            valid += 1
            movieCount(movie) += 1
            movieRatingSum(movie) += rating
            dayCount(day) += 1
            dayRatingSum(day) += rating
            histogram(rating) += 1
            custCount(ci) += 1
          }
          emit(sb)
          k += 1
        }
        movie += 1
      }
      w.close()
    }

    // movie_titles.csv: embedded commas, NULL years, a two-field row,
    // an over-long title, and a few lines without a numeric id
    val titlesFile = new File(dir, "movie_titles.csv")
    val tw = new BufferedWriter(new OutputStreamWriter(
      new FileOutputStream(titlesFile), StandardCharsets.ISO_8859_1), 1 << 16)
    val titles = Map.newBuilder[Int, String]
    for (m <- 1 to Movies) {
      val year = if (rnd.nextInt(100) == 0) "NULL" else (1915 + rnd.nextInt(91)).toString
      val title = rnd.nextInt(20) match {
        case _ if m == TwoFieldMovie => s"Movie Title $m"
        case 0 => s"Movie $m, The (Part ${m % 7}, Director's Cut)"
        case 1 if m % 2 == 0 => s"Episode $m: " + ("Long" * 130)
        case _ => s"Movie Title $m"
      }
      // a two-field row: the parser takes the title from the year slot
      if (m == TwoFieldMovie) tw.write(s"$m,$title\n")
      else tw.write(s"$m,$year,$title\n")
      titles += m -> title.take(500)
      if (m % 5000 == 0) tw.write(s"bad$m,2001,Not A Movie\n")
    }
    tw.close()

    var customers = 0L
    var sumSq = 0L
    var max = 0L
    custCount.foreach { c =>
      if (c > 0) { customers += 1; sumSq += c.toLong * c; max = max.max(c.toLong) }
    }
    Corpus(titlesFile, files, new Expected(lines, valid, movieCount,
      movieRatingSum, dayCount, dayRatingSum, histogram, customers, sumSq, max,
      titles.result()))
  }
}
