package graft

import org.apache.spark.SparkException
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.DriverLoop

/** `DriverLoop` releases the loop state it persisted on every exit
  * path, and a replaced round's copy as soon as the next one is cached.
  */
class DriverLoopSpec extends AnyFunSuite {
  lazy val spark: SparkSession = Engine.builder("local[4]", 4).getOrCreate()

  test("replace releases the previous copy once the next one is materialized") {
    val sc = spark.sparkContext
    val persisted = sc.getPersistentRDDs.keySet
    val total = DriverLoop { loop =>
      val edges = loop.hold(sc.parallelize(1 to 100, 4))
      val first = loop.hold(edges.map(_ * 2))
      assert(first.sum() == 10100.0)
      val next = first.map(_ + 1)
      val n = loop.replace(first, next)(_.sum())
      assert(sc.getPersistentRDDs.keySet -- persisted == Set(edges.id, next.id),
        "replace must keep the held RDDs and the new copy, and drop the old one")
      n
    }
    assert(total == 10200.0)
    assert(sc.getPersistentRDDs.keySet == persisted,
      "the loop left persisted RDDs behind after returning")
  }

  test("a round that throws still releases the loop state") {
    val sc = spark.sparkContext
    val persisted = sc.getPersistentRDDs.keySet
    val err = intercept[SparkException] {
      DriverLoop { loop =>
        val state = loop.hold(sc.parallelize(1 to 100, 4))
        state.count()
        val poisoned = state.map { x =>
          if (x == 42) throw new IllegalStateException("poisoned round")
          x
        }
        loop.replace(state, poisoned)(_.count())
      }
    }
    assert(err.getMessage.contains("poisoned round"))
    assert(sc.getPersistentRDDs.keySet == persisted,
      "a failed round left the loop state persisted")
  }
}
