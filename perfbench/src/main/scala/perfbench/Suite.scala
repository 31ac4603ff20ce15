package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** `suite`: one pass over every `SparkEntry.queries` entry on seeded
  * tables in the driver-data shape, each forced with `count()`. Inputs are
  * small, so per-job fixed overhead dominates; it also covers `graft.ops`,
  * `graft.streaming` and `graft.goldens`.
  *
  * The warm-up pass writes each query's output for the comparison with
  * `SparkEntry.oracleSql` in DuckDB that perfbench/run.py makes after the
  * run.
  */
final class SuiteWorkload(o: Opts) extends Workload {
  import SuiteWorkload._

  private var dataDir: Path = _
  private val queries = SparkEntry.queries.toSeq.sortBy(_._1)
  private var counts: Map[String, Long] = Map.empty

  def prepare(spark: SparkSession, dir: Path): Unit = {
    dataDir = dir
    SuiteData.write(spark, dir, o.seed)
    Files.createDirectories(checkDir)
    Files.writeString(checkDir.resolve("oracle_sql.json"), SparkEntry.oracleSql
      .toSeq.sortBy(_._1).map { case (k, v) => s"${Json.str(k)}:${Json.str(v)}" }
      .mkString("{", ",", "}"))
  }

  private def checkDir: Path = o.work.resolve("check")

  def warmup(spark: SparkSession): Unit =
    queries.foreach { case (name, fn) =>
      fn(spark, dataDir.toString).coalesce(1).write.mode("overwrite")
        .parquet(checkDir.resolve(name).toString)
    }

  /** One pass; a query that throws, or whose row count differs from the
    * first pass, is a failed unit.
    */
  private def pass(spark: SparkSession,
      wrap: (String, () => Long) => Long): (Double, Long) = {
    val t0 = System.nanoTime()
    val failed = queries.count { case (name, fn) =>
      try {
        val n = wrap(name, () => fn(spark, dataDir.toString).count())
        if (!counts.contains(name)) counts += name -> n
        counts(name) != n
      } catch { case _: Exception => true }
    }
    ((System.nanoTime() - t0) / 1e9, failed.toLong)
  }

  def op(spark: SparkSession, i: Int): Op = {
    val (secs, failed) = pass(spark, (_, f) => f())
    Op(secs, queries.length, queries.length, failed)
  }

  /** perfbench/run.py replaces this with the share of queries whose output
    * matches the oracle.
    */
  def quality: Double = 1.0

  def traced(spark: SparkSession, tracer: Tracer,
      untraced: Double): (Map[String, Double], Op) = {
    tracer.streams.reset()
    val (secs, failed) = tracer.span("pass") {
      pass(spark, (n, f) => tracer.span(n)(f()))
    }
    tracer.drain()
    val byGroup = queries.map(_._1).groupBy(groupOf)
    val groups = Layers.SuiteGroups.flatMap { g =>
      val spans = byGroup.getOrElse(g, Nil).flatMap(tracer.named)
      val work = spans.map(tracer.work)
      Seq(s"suite.$g.s" -> spans.map(_.seconds).sum,
        s"suite.$g.jobs" -> work.map(_.jobs).sum.toDouble,
        s"suite.$g.tasks" -> work.map(_.tasks).sum.toDouble)
    }
    val batches = tracer.streams.synchronized(tracer.streams.batchMs.toSeq)
    val metrics = groups ++ Seq(
      "streaming.batches" -> batches.length.toDouble,
      "streaming.batch_ms_median" -> Stats.median(batches.map(_.toDouble)),
      "streaming.state_rows_max" -> tracer.streams.stateRowsMax.toDouble,
      "trace.traced_s" -> secs,
      "trace.overhead_s" -> (secs - untraced))
    (metrics.toMap, Op(secs, queries.length, queries.length, failed))
  }

  def info: Map[String, String] = Map(
    "queries" -> queries.length.toString,
    "data_dir" -> dataDir.toString,
    "counts" -> counts.toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString(","))
}

object SuiteWorkload {
  private val Relational =
    Set("q1_agg", "q_join_agg", "q_topk_orders", "q_filter_project", "q_window_events")
  private val Linkage = Set("q_linkage_clusters", "q_cc_resume", "q_checkpoint_lineage")
  private val PhoneticPrefixes = Seq("q_soundex", "q_refined_soundex",
    "q_cologne", "q_caverphone", "q_metaphone", "q_double_metaphone",
    "q_nysiis", "q_phonex", "q_mra_", "q_dm_", "q_beider_morse", "q_bm_",
    "q_jaro_winkler")

  /** The suite group of a driver query. */
  def groupOf(q: String): String =
    if (q.startsWith("q_streaming_")) "streaming"
    else if (Relational(q)) "relational"
    else if (Linkage(q)) "linkage"
    else if (PhoneticPrefixes.exists(q.startsWith)) "phonetic"
    else "ops"
}
