package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Timed operation sample: pass number (0 = the cold pass), kind, its
  * ordinal among the pass's operations of that kind, seconds. */
final case class Sample(pass: Int, kind: String, index: Int, seconds: Double)

/** State of one benchmark run, shared by the workloads. */
final class Run(val spark: SparkSession, val tracer: Tracer, val work: File,
                val seed: Long) {
  val samples = mutable.ArrayBuffer[Sample]()
  val errors = mutable.ArrayBuffer[String]()
  var pass = 0
  var attempted = 0
  var failed = 0

  /** Time one call into the program as a span. A call that throws
    * counts as failed and fails the run. */
  def op[T](kind: String, layer: String)(body: => T): Option[T] = {
    attempted += 1
    val t0 = System.nanoTime()
    try {
      val r = tracer.span(kind, layer, pass)(body)
      val index = samples.count(s => s.pass == pass && s.kind == kind)
      samples += Sample(pass, kind, index, (System.nanoTime() - t0) / 1e9)
      Some(r)
    } catch {
      case e: Throwable =>
        failed += 1
        errors += s"$kind threw ${e.getClass.getName}: ${e.getMessage}"
        None
    }
  }

  def check(ok: Boolean, msg: => String): Unit = if (!ok) errors += msg

  def dir(name: String): File = { val d = new File(work, name); d.mkdirs(); d }
}

/** A workload: inputs made from the seed, then passes of timed calls. */
trait Workload {
  /** Make the inputs. Runs several times; the last result is used. */
  def prepare(run: Run, attempt: Int): Unit
  /** One pass over the workload's operations. */
  def pass(run: Run): Unit
  /** Checks after the last pass, outside every timer. */
  def finish(run: Run): Unit = ()
  /** Workload-specific figures: name -> (value, unit). */
  def detail(run: Run): Seq[(String, Double, String)]
  /** Workload-specific per-layer figures from the traced passes. */
  def layerDetail(run: Run, layers: Map[Int, Map[String, Double]]): Map[String, Double]
}

object Stats {
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.floor.toInt
    val hi = pos.ceil.toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Highest of p50/p75/p90/p95/p99 that leaves at least ten samples
    * above it. */
  def tailQuantile(n: Int): Double =
    Seq(0.99, 0.95, 0.9, 0.75, 0.5).find(q => n * (1 - q) >= 10).getOrElse(0.5)

  def dirBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(dirBytes).sum
    else if (f.isFile) f.length() else 0L

  def dataFiles(f: File): Seq[File] =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(dataFiles)
    else if (f.isFile && !f.getName.startsWith(".") && !f.getName.startsWith("_")) Seq(f)
    else Nil

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }
}

/** Order-independent digest of a frame: row count plus two 64-bit
  * folds of each row's xxhash64 (masked sum and xor). */
object Digest {
  def of(df: DataFrame): String = {
    val h = xxhash64(df.columns.map(c => df.col(s"`$c`")).toIndexedSeq: _*)
    val r = df.select(h.as("h"))
      .agg(count(lit(1)), sum(col("h").bitwiseAND(lit(0xFFFFFFFFL))),
           bit_xor(col("h")))
      .head()
    val s = if (r.isNullAt(1)) 0L else r.getLong(1)
    val x = if (r.isNullAt(2)) 0L else r.getLong(2)
    f"${r.getLong(0)}%d:$s%016x:$x%016x"
  }
}

object Main {
  private val usage =
    "usage: perfbench.Main --workload <netflix_ingest|lane_mix|catalog_dml> " +
      "--seed <n> --seconds <s> --trace <0|1> --work <dir> --data <dir>\n" +
      "       perfbench.Main --record-digests <verify_out_dir> --data <dir>\n" +
      "       perfbench.Main --selftest --work <dir> --data <dir>"

  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap ++ args.filter(a => a == "--selftest").map(_.drop(2) -> "1")
    def need(k: String) = opts.getOrElse(k, { System.err.println(usage); sys.exit(2) })
    // Spark's task threads; the runner caps the JVM's processor count
    // below the host's so that JIT, GC and the driver have cores left
    val cpus = Runtime.getRuntime.availableProcessors()
    val nproc = sys.props.get("perfbench.nproc").map(_.toInt).getOrElse(cpus)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val work = new File(opts.getOrElse("work", "perfbench-work")).getAbsoluteFile
    work.mkdirs()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .config("spark.sql.streaming.checkpointLocation",
        new File(work, "checkpoints").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val code =
      try {
        if (opts.contains("record-digests"))
          Lanes.recordDigests(spark, new File(opts("record-digests")), new File(need("data")))
        else if (opts.contains("selftest"))
          SelfTest.run(spark, work, new File(need("data")))
        else
          bench(spark, need("workload"), need("seed").toLong,
            need("seconds").toDouble, need("trace") == "1", work,
            new File(need("data")), sessionS, cpus, nproc)
      } catch {
        case e: Throwable =>
          e.printStackTrace()
          2
      }
    graft.Derived.clear()
    spark.stop()
    sys.exit(code)
  }

  def workload(name: String, data: File, seed: Long): Workload = name match {
    case "netflix_ingest" => new Ingest(NetflixCorpus.Size.Bench)
    case "lane_mix" => new Lanes(data, seed)
    case "catalog_dml" => new Catalog(Catalog.Size.Bench, seed)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  private def bench(spark: SparkSession, name: String, seed: Long,
                    seconds: Double, trace: Boolean, work: File, data: File,
                    sessionS: Double, cpus: Int, nproc: Int): Int = {
    val tracer = new Tracer(spark)
    val run = new Run(spark, tracer, work, seed)
    val w = workload(name, data, seed)

    // set-up: inputs made three times from the seed; the median counts
    val prepS = (1 to 3).map { i =>
      val t0 = System.nanoTime()
      w.prepare(run, i)
      (System.nanoTime() - t0) / 1e9
    }
    val setupS = sessionS + Stats.median(prepS)

    // timed phase: the cold pass, then at least three warm passes and
    // more while the next one, at the median warm pass's length, ends
    // within `seconds`. A traced run alternates traced and untraced
    // warm passes so the tracing overhead is measured in the same run.
    tracer.setTracing(trace)
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    val minWarm = 3
    val warmS = mutable.ArrayBuffer[Double]()
    var p = 0
    while (p == 0 || p <= minWarm || elapsed + Stats.median(warmS.toSeq) < seconds) {
      run.pass = p
      if (p > 0) System.gc() // between passes, outside every timer
      if (trace) tracer.setTracing(p == 0 || p % 2 == 1)
      val p0 = System.nanoTime()
      w.pass(run)
      if (p > 0) warmS += (System.nanoTime() - p0) / 1e9
      p += 1
    }
    tracer.setTracing(false)
    w.finish(run)

    val passWall = run.samples.groupBy(_.pass).map { case (k, v) => k -> v.map(_.seconds).sum }
    val warm = run.samples.filter(_.pass > 0).toSeq
    val warmPasses = passWall.filter(_._1 > 0)
    val tailQ = Stats.tailQuantile(warm.size)
    // each operation's median over the warm passes: one stalled
    // sample moves none of them. A warm pass costs their sum; their
    // geometric mean weighs every operation alike, sub-second or not.
    val opMedians = warm.groupBy(s => (s.kind, s.index)).values
      .map(v => Stats.median(v.map(_.seconds))).toSeq
    val e2e = Seq(
      ("setup_s", setupS, "s"),
      ("wall_s", opMedians.sum, "s"),
      ("op_gmean_ms", math.exp(opMedians.map(math.log).sum / opMedians.size.max(1)) * 1e3, "ms"))
    val detail = e2e ++ w.detail(run) ++ Seq(
      ("cold_wall_s", passWall.getOrElse(0, 0.0), "s"),
      ("op_p50_ms", Stats.median(warm.map(_.seconds)) * 1e3, "ms")) ++
      (if (tailQ > 0.5) Seq((f"op_p${(tailQ * 100).round}%d_ms",
        Stats.quantile(warm.map(_.seconds), tailQ) * 1e3, "ms")) else Nil) ++ Seq(
      ("warm_passes", warmPasses.size.toDouble, "count"),
      ("warm_ops", warm.size.toDouble, "count"),
      ("failed_frac", run.failed.toDouble / run.attempted.max(1), "frac"),
      ("nproc", nproc.toDouble, "count"),
      ("spark_threads", cpus.toDouble, "count"),
      ("driver_heap_mb", Runtime.getRuntime.maxMemory / 1048576.0, "MB"))
    run.errors.take(20).foreach(e => System.err.println(s"[perfbench] ERROR $e"))

    val metrics: Seq[(String, Double, String)] =
      if (!trace) e2e
      else {
        val layers = tracer.layers()
        val perLayer = Layers.summarize(run, layers, passWall) ++
          detail.map(d => d._1 -> d._2) ++ w.layerDetail(run, layers)
        Layers.writeSpans(new File(work, "spans.json"), tracer, layers)
        Layers.names.map(n => (n, perLayer.getOrElse(n, 0.0), Layers.unit(n)))
      }
    java.nio.file.Files.writeString(new File(work, "samples.json").toPath,
      run.samples.map(x => Json.obj("pass" -> x.pass.toString, "kind" -> Json.str(x.kind),
        "index" -> x.index.toString, "seconds" -> Json.num(x.seconds))).mkString("", "\n", "\n"))
    println(Json.obj("detail" -> Json.metrics(detail)))
    val correct = run.errors.isEmpty
    println(Json.obj(
      "correct" -> correct.toString,
      "attempted" -> run.attempted.toString,
      "failed" -> run.failed.toString,
      "metrics" -> Json.metrics(metrics)))
    if (correct) 0 else 1
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else java.math.BigDecimal.valueOf(d).toPlainString
  def obj(kv: (String, String)*): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
  def metrics(ms: Seq[(String, Double, String)]): String =
    obj(ms.map { case (n, v, u) => n -> obj("value" -> num(v), "unit" -> str(u)) }: _*)
}
