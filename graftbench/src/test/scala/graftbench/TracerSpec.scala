package graftbench

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, lit}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class TracerSpec extends AnyFunSuite with BeforeAndAfterAll {
  private val work = Files.createTempDirectory("graftbench-tracer")
  private lazy val spark = graft.core.Session.tuned(SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.catalog.graft.warehouse", work.resolve("warehouse").toString), 4)
    .getOrCreate()
  private lazy val fixtures = {
    spark.sparkContext.setLogLevel("WARN")
    val d = work.resolve("fixtures").toString
    Fixtures.generate(spark, d, 1L)
    d
  }

  override def afterAll(): Unit = {
    spark.stop()
    Workload.deleteTree(work)
  }

  /** Run `body` as one op with the listener on: the op, the jobs
    * attributed to it, and every job the listener saw.
    */
  private def traced(body: => Unit): (Op, Seq[JobRec], Seq[JobRec]) = {
    val listener = new JobListener
    spark.sparkContext.addSparkListener(listener)
    val rec = new Recorder
    rec.window = 1
    rec.op("op")(body)
    listener.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(listener)
    val op = rec.ops.head
    val seen = listener.jobs.values.toSeq
    (op, Attribution.jobsIn(op, seen), seen)
  }

  private def runQuery(name: String): (Op, Seq[JobRec], Seq[JobRec]) = {
    val q = graft.Queries.headlines(name)
    q(spark, fixtures).write.format("noop").mode("overwrite").save() // warm
    traced(q(spark, fixtures).write.format("noop").mode("overwrite").save())
  }

  test("union of intervals merges overlaps and skips gaps") {
    assert(Attribution.union(Seq((20L, 30L), (0L, 10L), (5L, 15L), (12L, 14L))) == 25L)
    assert(Attribution.union(Seq((0L, 10L), (10L, 20L))) == 20L)
    assert(Attribution.union(Seq((5L, 5L))) == 0L)
  }

  test("every job of a traced query is attributed to its op; busy + gap is its wall") {
    val (op, jobs, seen) = runQuery("q1_agg")
    // the listener was on for this op only, so nothing it saw may be lost
    assert(jobs.map(_.id) == seen.map(_.id))
    // Spark stamps jobs in whole milliseconds: allow one either side
    jobs.foreach { j =>
      assert(j.start >= op.start - Attribution.Ms && j.end <= op.end + Attribution.Ms)
    }
    val wall = op.end - op.start
    val busy = Attribution.busy(op, jobs)
    val durations = jobs.map(j => j.end - j.start)
    // a union of intervals lies between the longest and the sum of them
    assert(busy >= durations.max - Attribution.Ms && busy <= durations.sum)
    // planning and result handling happen outside jobs: the gap is not empty
    val gap = wall - busy
    assert(gap > 0 && busy + gap == wall)
  }

  test("job counts match the engine's own per-query counts") {
    assert(runQuery("q1_agg")._2.size == 2)
    assert(runQuery("q_incremental_agg_cdc")._2.size == 32)
  }

  test("a KeyedParquetTable.merge job is attributed to cdc") {
    val t = new graft.cdc.KeyedParquetTable(spark, work.resolve("t").toString,
      Seq("id"), Nil, 4)
    t.commit(spark.range(0, 100).select(col("id"), lit(1L).as("v")))
    val (_, jobs, _) = traced(t.merge(spark.range(50, 150)
      .select(col("id"), lit(2L).as("v"), lit("u").as("operation"))))
    assert(jobs.nonEmpty)
    assert(jobs.forall(_.frameLayer.contains("cdc")), jobs.map(j => (j.name, j.frameLayer)))
  }
}
