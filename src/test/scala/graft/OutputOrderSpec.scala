package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The order-first queries (range partitioning plus an in-partition sort
  * in place of a final `orderBy`, see `Par.orderedEvents`) return rows in
  * strictly increasing `event_id` whatever the shuffle width and whether
  * adaptive execution may coalesce the range exchange.
  */
class OutputOrderSpec extends AnyFunSuite {
  lazy val spark: SparkSession = Engine.builder("local[4]", 4).getOrCreate()
  val dir = "/root/testdata/sf0.001"

  val orderFirst = Seq(
    "q20_log_parse", "q37_kafka_roundtrip", "q41_pii_scrub", "q89_bpeish_tokens")

  private def checkOrder(confs: (String, String)*): Unit = {
    val session = spark.newSession()
    confs.foreach { case (k, v) => session.conf.set(k, v) }
    orderFirst.foreach { q =>
      val ids = QueryClue(q)(SparkEntry.queries(q)(session, dir))
        .collect().map(_.getAs[Long]("event_id"))
      assert(ids.nonEmpty, s"$q returned no rows")
      ids.indices.drop(1).find(i => ids(i) <= ids(i - 1)).foreach { i =>
        fail(s"$q: event_id ${ids(i)} follows ${ids(i - 1)} at row $i " +
          s"under ${confs.mkString(", ")}")
      }
    }
  }

  test("order-first queries return increasing event_id with one shuffle partition") {
    checkOrder("spark.sql.shuffle.partitions" -> "1")
  }

  test("order-first queries return increasing event_id with seven shuffle partitions") {
    checkOrder("spark.sql.shuffle.partitions" -> "7")
  }

  test("order-first queries return increasing event_id with adaptive execution off") {
    checkOrder("spark.sql.adaptive.enabled" -> "false")
  }
}
