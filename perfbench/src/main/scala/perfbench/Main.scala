package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Command-line options of one benchmark run. */
final case class Opts(workload: String, seed: Long, seconds: Double,
    trace: Boolean, cores: Int, work: Path, out: Path, hold: Option[Path])

/** One closed-loop operation: its wall time (checks excluded), the items it
  * processed, and how many of its checked units were attempted and failed.
  */
final case class Op(seconds: Double, items: Long, attempted: Long,
    failed: Long)

/** A workload: inputs written during set-up, a warm-up, a checked timed
  * operation and a traced operation that reports per-layer metrics.
  */
trait Workload {
  /** Generate this workload's inputs from the seed and write them under
    * `dir`. Runs once per set-up repetition, on a fresh session.
    */
  def prepare(spark: SparkSession, dir: Path): Unit

  /** Untimed first operation (codegen, JIT, lazy initialisation), counted
    * in `setup_s`, for workloads whose users run warm.
    */
  def warmup(spark: SparkSession): Unit

  def op(spark: SparkSession, i: Int): Op

  /** Result quality over the checked operations (1.0 = all outputs match). */
  def quality: Double

  /** One traced operation; returns per-layer metrics. `untraced` is the
    * time of the untraced operation run right before it, for the tracing
    * overhead.
    */
  def traced(spark: SparkSession, tracer: Tracer,
      untraced: Double): (Map[String, Double], Op)

  /** Input facts recorded in the output (seed, sizes, which CC loop ran). */
  def info: Map[String, String]
}

object Main {

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val wl: Workload = o.workload match {
      case "linkage" => new LinkageWorkload(o)
      case "suite" => new SuiteWorkload(o)
      case w => sys.error(s"unknown workload '$w' (linkage, suite)")
    }
    Files.writeString(o.out, Harness.run(wl, o))
    SparkSession.getDefaultSession.foreach(_.stop())
    System.exit(0)
  }

  private def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def get(k: String) = kv.getOrElse(k, sys.error(s"missing $k"))
    Opts(get("--workload"), get("--seed").toLong, get("--seconds").toDouble,
      get("--trace") == "1", get("--cores").toInt, Paths.get(get("--work")),
      Paths.get(get("--out")), kv.get("--hold").map(Paths.get(_)))
  }
}

object Session {
  /** A `local[cores]` session with shuffle partitions = cores and every
    * scratch directory inside `work`.
    */
  def start(cores: Int, work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    graft.functions.GraftFunctions.register(s)
    s
  }
}

/** Peak live heap: the largest heap in use after an operation, measured
  * after a full collection, a pause in which Spark's ContextCleaner
  * releases what the operation dropped (cached and checkpointed blocks,
  * broadcasts), and a second full collection.
  */
object HeapPeak {
  private var peak = 0L

  def reset(): Unit = peak = 0L

  def sample(): Unit = {
    System.gc()
    Thread.sleep(300)
    System.gc()
    peak = math.max(peak, ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed)
  }

  def peakMb: Double = peak / (1024.0 * 1024.0)

  def gcSeconds(): Double = ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(_.getCollectionTime).sum / 1e3
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }
}

object Harness {
  val SetupReps = 3

  /** Set up [[SetupReps]] times (fresh session + inputs each time), warm up,
    * run checked operations back to back for `o.seconds`, then, with
    * `--trace 1`, one more untraced and one traced operation. Returns the
    * result JSON. The file `inputs_ready` in the work directory names the
    * inputs once set-up ends.
    */
  def run(wl: Workload, o: Opts): String = {
    var spark: SparkSession = null
    val setups = (1 to SetupReps).map { r =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = Session.start(o.cores, o.work)
      wl.prepare(spark, o.work.resolve(s"input-$r"))
      (System.nanoTime() - t0) / 1e9
    }
    (1 until SetupReps).foreach(r => Dirs.delete(o.work.resolve(s"input-$r")))
    Files.writeString(o.work.resolve("inputs_ready"),
      o.work.resolve(s"input-$SetupReps").toString)
    val tw = System.nanoTime()
    wl.warmup(spark)
    val warmupS = (System.nanoTime() - tw) / 1e9
    val setupS = Stats.median(setups) + warmupS

    // `--hold <file>`: the caller runs work of its own (the suite's slow
    // oracle queries) beside set-up and warm-up and creates the file when
    // done, so that nothing else competes with the timed loop
    o.hold.foreach { f =>
      val limit = System.nanoTime() + 120000000000L
      while (!Files.exists(f) && System.nanoTime() < limit) Thread.sleep(100)
    }
    System.gc() // every timed loop starts from a collected heap
    HeapPeak.reset()
    val ops = scala.collection.mutable.ArrayBuffer.empty[Op]
    val deadline = System.nanoTime() + (o.seconds * 1e9).toLong
    while (ops.isEmpty || System.nanoTime() < deadline) {
      ops += (try wl.op(spark, ops.length) catch {
        case e: Exception =>
          System.err.println(s"perfbench: operation ${ops.length} failed: $e")
          Op(Double.NaN, 0L, 1L, 1L)
      })
      HeapPeak.sample()
    }
    val heapMb = HeapPeak.peakMb
    val done = ops.filterNot(_.seconds.isNaN)

    val opS = Stats.median(done.map(_.seconds).toSeq)
    val metrics: Seq[(String, Double, String)] =
      if (!o.trace) Seq(
        ("setup_s", setupS, "s"),
        ("heap_peak_mb", heapMb, "MB"),
        ("op_s", opS, "s"),
        ("items_per_s", done.map(_.items).sum / done.map(_.seconds).sum, "1/s"),
        ("quality", wl.quality, "ratio"))
      else {
        // the overhead compares against an untraced operation run right
        // before the traced one, in nearly the same JIT state (the timed
        // linkage run is the JVM's first)
        val untraced = wl.op(spark, ops.length)
        ops += untraced
        val tracer = Trace.setup(spark)
        val (layers, tracedOp) = wl.traced(spark, tracer, untraced.seconds)
        Files.write(Paths.get(s"${o.out}.spans.jsonl"), tracer.json.asJava)
        ops += tracedOp
        val all = layers + ("trace.ops_untraced" -> (ops.length - 1).toDouble)
        Layers.all.map { case (name, unit) =>
          (name, all.getOrElse(name, 0.0), unit)
        }
      }
    val attempted = ops.map(_.attempted).sum
    val failed = ops.map(_.failed).sum

    val info = wl.info ++ Map(
      "workload" -> o.workload, "seed" -> o.seed.toString,
      "cores" -> o.cores.toString, "ops" -> ops.length.toString,
      "op_seconds" -> ops.map(_.seconds).mkString("[", ",", "]"),
      "setup_seconds" -> setups.mkString("[", ",", "]"),
      "warmup_seconds" -> warmupS.toString)
    Json.result(failed == 0, attempted, failed, metrics, info)
  }
}

object Dirs {
  def delete(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).iterator().asScala.toSeq.sortBy(-_.getNameCount)
        .foreach(Files.deleteIfExists)

  def bytes(p: Path, suffix: String = ""): (Long, Long) =
    if (!Files.exists(p)) (0L, 0L)
    else {
      val fs = Files.walk(p).iterator().asScala
        .filter(f => Files.isRegularFile(f) && f.toString.endsWith(suffix)).toSeq
      (fs.length.toLong, fs.map(Files.size).sum)
    }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else d.toString

  def result(correct: Boolean, attempted: Long, failed: Long,
      metrics: Seq[(String, Double, String)], info: Map[String, String]): String = {
    val ms = metrics.map { case (n, v, u) =>
      s"${str(n)}:{\"value\":${num(v)},\"unit\":${str(u)}}"
    }.mkString("{", ",", "}")
    val is = info.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${str(k)}:${str(v)}" }.mkString("{", ",", "}")
    s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,""" +
      s""""metrics":$ms,"info":$is}"""
  }
}
