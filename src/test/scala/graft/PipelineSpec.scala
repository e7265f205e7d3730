package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, udf}
import org.apache.spark.util.LongAccumulator
import org.scalatest.funsuite.AnyFunSuite

/** `Pipeline.run` executes each stage's plan once per attempt: the
  * row count it reports comes from the timed write itself, not from a
  * second execution.
  */
class PipelineSpec extends AnyFunSuite {
  lazy val spark: SparkSession = Engine.builder("local[4]", 4).getOrCreate()

  /** `n` rows over 4 partitions, filtered to every third id; each
    * output row adds 1 to `acc` as it leaves the plan, so `acc` counts
    * output rows times executions. The ticking filter is
    * nondeterministic, so Catalyst can neither prune nor reorder it.
    */
  private def ticking(sp: SparkSession, acc: LongAccumulator, n: Long,
                      failAt: Long = -1L): DataFrame = {
    val tick = udf { (id: Long) =>
      if (id == failAt) throw new IllegalStateException(s"poisoned row $id")
      acc.add(1L); true
    }.asNondeterministic()
    sp.range(0L, n, 1L, 4).toDF().filter(col("id") % 3 === 0).filter(tick(col("id")))
  }

  private def results(df: DataFrame): Map[String, (Long, Boolean, Int)] =
    df.collect().map(r =>
      r.getString(0) -> ((r.getLong(1), r.getBoolean(3), r.getInt(4)))).toMap

  test("each stage's plan executes once and reports the rows it wrote") {
    val a = spark.sparkContext.longAccumulator("a")
    // the sorted stage carries no accumulator: range partitioning
    // samples its input in a job of its own
    val out = results(Pipeline.run(spark, Seq(
      Pipeline.stage("a")(sp => ticking(sp, a, 1000L)),
      Pipeline.stage("sorted")(sp => sp.range(0L, 30L, 1L, 4).toDF()
        .filter(col("id") % 3 === 0).orderBy(col("id").desc)),
      Pipeline.stage("empty")(sp => sp.range(0L, 10L).toDF().filter(col("id") < 0)))))
    assert(out("a") == ((334L, true, 1)), s"${out("a")}")
    assert(out("sorted") == ((10L, true, 1)), s"${out("sorted")}")
    assert(out("empty") == ((0L, true, 1)), s"${out("empty")}")
    assert(a.value == 334L, s"stage a executed ${a.value / 334.0} times")
  }

  test("a retried stage reports the rows of its successful attempt only") {
    val acc = spark.sparkContext.longAccumulator("retry")
    val tries = new java.util.concurrent.atomic.AtomicInteger(0)
    val out = results(Pipeline.run(spark, Seq(
      Pipeline.stage("flaky", maxAttempts = 3) { sp =>
        if (tries.incrementAndGet() < 3) sp.read.parquet("/nonexistent")
        else ticking(sp, acc, 300L)
      })))
    assert(out("flaky") == ((100L, true, 3)), s"${out("flaky")}")
    assert(acc.value == 100L, s"successful attempt executed ${acc.value / 100.0} times")
  }

  test("a stage failing during execution reports -1 rows after its attempts") {
    val acc = spark.sparkContext.longAccumulator("fail")
    val ok = spark.sparkContext.longAccumulator("ok")
    val out = results(Pipeline.run(spark, Seq(
      Pipeline.stage("poisoned", maxAttempts = 2)(sp =>
        ticking(sp, acc, 300L, failAt = 150L)),
      Pipeline.stage("after")(sp => ticking(sp, ok, 60L)))))
    assert(out("poisoned") == ((-1L, false, 2)), s"${out("poisoned")}")
    assert(out("after") == ((20L, true, 1)), s"${out("after")}")
    assert(ok.value == 20L, s"stage after executed ${ok.value / 20.0} times")
  }
}
