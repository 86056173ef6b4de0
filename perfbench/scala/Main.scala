package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** Benchmark JVM entry point. Runs one workload against the program's
  * public entry points and writes every raw observation (schedules,
  * streaming progress, spans, listener records, check results) to one
  * JSON file; `run.py` turns that file into metrics.
  *
  *   perfbench.Main --workload <name> --seed <n> --seconds <s>
  *                  --trace <0|1> --out <raw.json>
  *                  [--data <dir> --reads <q,...> --lifecycle <q,...>]
  *
  * The working directory is a fresh per-run directory: checkpoints,
  * sink output and the program's own index root (`target/graft-index`,
  * relative) all land under it. */
object Main {
  val Cores = 4
  /** Setups per run; `setup_s` is their median. The last one is kept
    * and measured. */
  val Setups = 3

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val ctx = Ctx(
      seed = opts("seed").toLong,
      seconds = opts("seconds").toDouble,
      tracer = new Tracer(opts("trace") == "1"),
      data = opts.getOrElse("data", ""),
      work = new File(".").getCanonicalFile)
    val raw: Map[String, Any] = workload match {
      case "request_ingest" => RequestIngest.run(ctx)
      case "response_batching" => ResponseBatching.run(ctx)
      case "batch_queries" =>
        BatchQueries.run(ctx, opts("reads").split(",").toSeq, opts("lifecycle").split(",").toSeq)
      case other => sys.error(s"unknown workload $other")
    }
    val all = raw ++ Map(
      "workload" -> workload, "seed" -> ctx.seed, "seconds" -> ctx.seconds,
      "cores" -> Cores, "live_heap_mb" -> ctx.liveHeapMb,
      "setup_s" -> ctx.setupTimes.toSeq, "cold_setup_s" -> ctx.coldSetupS) ++ ctx.tracer.dump()
    Files.writeString(Paths.get(opts("out")), Json(all))
  }
}

/** Per-run context shared by the workloads. */
case class Ctx(seed: Long, seconds: Double, tracer: Tracer, data: String,
    work: File) {
  val setupTimes = mutable.ArrayBuffer.empty[Double]
  /** JVM start to the end of the first setup: class loading, JIT and
    * one-time initialisation included. */
  var coldSetupS = 0.0
  private var heapPeak = 0.0

  /** Post-full-GC heap occupancy, sampled at phase boundaries only
    * (never inside a measured interval). Collections repeat until the
    * heap stops shrinking: Spark's cleaner releases shuffle and
    * broadcast blocks only after a collection has found them
    * unreachable, so one collection can leave them counted. */
  def sampleLiveHeap(): Unit = {
    def usedMb(): Double = {
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }
    var used = usedMb()
    var prev = Double.MaxValue
    var rounds = 0
    while (rounds < 8 && prev - used > 0.5) {
      Thread.sleep(100)
      prev = used
      used = usedMb()
      rounds += 1
    }
    heapPeak = math.max(heapPeak, used)
  }
  def liveHeapMb: Double = heapPeak

  def dir(name: String): String = {
    val f = new File(work, name)
    f.mkdirs()
    f.getAbsolutePath
  }

  /** A fresh local session. Each setup gets its own context, so nothing
    * (cached plans, state, listeners) carries over between setups. */
  def session(cores: Int, tag: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$tag")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", dir(s"spark-local/$tag"))
      .config("spark.sql.warehouse.dir", dir(s"warehouse/$tag"))
      .config("spark.hadoop.hadoop.tmp.dir", dir(s"hadoop-tmp/$tag"))
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    tracer.attach(s)
    s
  }

  /** Runs `Setups` setups, tearing down all but the last, and records
    * each one's wall time. Only the first runs cold; `coldSetupS`
    * keeps its time from JVM start. */
  def setUp[T](parent: Int)(build: (Int, Int) => T)(tearDown: T => Unit): T = {
    var kept: Option[T] = None
    for (i <- 0 until Main.Setups) {
      kept.foreach(tearDown)
      val t0 = System.nanoTime()
      kept = Some(tracer.span(s"setup_$i", parent)(build(i, _)))
      setupTimes += (System.nanoTime() - t0) / 1e9
      if (i == 0) coldSetupS =
        (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    }
    kept.get
  }
}

object Clock {
  private val baseNanos = System.nanoTime()
  private val baseMs = System.currentTimeMillis().toDouble
  /** Epoch milliseconds with sub-millisecond resolution, on the same
    * epoch as Spark's listener and progress timestamps. */
  def nowMs(): Double = baseMs + (System.nanoTime() - baseNanos) / 1e6
  def sleepUntilMs(t: Double): Unit = {
    var left = t - nowMs()
    while (left > 0) {
      Thread.sleep(math.max(1L, left.toLong))
      left = t - nowMs()
    }
  }
}

/** Minimal JSON writer for the raw dump. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case a: Array[_] => apply(a.toSeq)
    case other => quote(other.toString)
  }
  def quote(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")
}
