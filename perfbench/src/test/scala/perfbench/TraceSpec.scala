package perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.io.TableIO
import graft.pipeline.{LinkagePipeline, RepoFiles}

/** The tracer observes and never acts: its listeners add no Spark job, and
  * the structure it records (jobs, tasks and rows per stage, CC rounds)
  * repeats exactly across traced runs of the same input.
  */
class TraceSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val work: Path = Files.createTempDirectory("perfbench-spec")
  private lazy val spark: SparkSession = Session.start(2, work)
  private lazy val files: DataFrame = {
    val dir = work.resolve("files").toString
    RepoFiles.generate(spark, 1500, seed = 7).write.parquet(dir)
    spark.read.parquet(dir)
  }
  private var runs = 0

  override def afterAll(): Unit = {
    spark.stop()
    Dirs.delete(work)
  }

  private def root(): Path = { runs += 1; work.resolve(s"run-$runs") }

  private final class JobCounter extends SparkListener {
    val jobs = new AtomicInteger
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
  }

  private def jobsOf(counter: JobCounter)(body: => Unit): Int = {
    PerfbenchBus.drain(spark.sparkContext)
    val before = counter.jobs.get
    body
    PerfbenchBus.drain(spark.sparkContext)
    counter.jobs.get - before
  }

  test("the listeners and spans add zero Spark jobs") {
    val counter = new JobCounter
    spark.sparkContext.addSparkListener(counter)
    files.count()
    val untraced = jobsOf(counter) {
      new LinkagePipeline(spark, new TableIO(spark, root().toString)).run(files)
    }
    val tracer = Trace.setup(spark)
    val traced = jobsOf(counter) {
      LinkageWorkload.tracedRun(spark, tracer, root(), files)
    }
    assert(untraced > 0)
    assert(traced == untraced)
    spark.sparkContext.removeSparkListener(counter)
  }

  test("setup is idempotent: one tracer and one listener per session") {
    assert(Trace.setup(spark) eq Trace.setup(spark))
    assert(PerfbenchBus.listeners(spark.sparkContext)
      .count(_.isInstanceOf[SpanListener]) == 1)
  }

  test("structural counts repeat exactly across two traced runs") {
    val tracer = Trace.setup(spark)
    def structure(): (Seq[(String, Long, Long, Long)], Int) = {
      tracer.reset()
      val (_, io, rounds, _) = LinkageWorkload.tracedRun(spark, tracer, root(), files)
      val perStage = Layers.Stages.map { s =>
        val w = tracer.work(tracer.named(s).head)
        (s, w.jobs, w.tasks, io.committedRows(s).getOrElse(-1L))
      }
      (perStage, rounds)
    }
    val first = structure()
    val second = structure()
    assert(first == second)
    assert(first._2 > 0)
    assert(first._1.forall { case (_, jobs, tasks, rows) =>
      jobs > 0 && tasks > 0 && rows > 0 })
  }
}
