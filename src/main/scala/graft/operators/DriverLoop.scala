package graft.operators

import org.apache.spark.rdd.RDD

/** Lifecycle of the executor-resident state of a driver-paced loop
  * (GD, label propagation, BPE, k-center): each round is one Spark
  * job, and the RDDs the rounds read are persisted between them.
  *
  * `DriverLoop { loop => ... }` persists what the body [[Loop.hold]]s
  * and [[Loop.replace]]s, and releases all of it when the body
  * returns or throws — non-convergence and failed rounds included.
  * Anything the result still needs (an eager `localCheckpoint`, a
  * collected table) must therefore be built inside the body.
  */
object DriverLoop {

  final class Loop private[DriverLoop] {
    private val held = scala.collection.mutable.ArrayBuffer.empty[RDD[_]]

    /** Persist `rdd` until the loop ends. */
    def hold[T](rdd: RDD[T]): RDD[T] = {
      held += rdd.persist()
      rdd
    }

    /** Persist `next`, materialize it with `action`, then release
      * `prev`: the old copy goes only once the new one, computed from
      * it, is cached. Returns the action's result.
      */
    def replace[T, A](prev: RDD[T], next: RDD[T])(action: RDD[T] => A): A = {
      val out = action(hold(next))
      prev.unpersist(false)
      held -= prev
      out
    }

    private[DriverLoop] def release(): Unit = held.foreach(_.unpersist(false))
  }

  def apply[A](body: Loop => A): A = {
    val loop = new Loop
    try body(loop) finally loop.release()
  }
}
