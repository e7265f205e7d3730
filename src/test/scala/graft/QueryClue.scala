package graft

import scala.util.control.NonFatal

/** Names the catalog query whose construction threw. Whole-catalog
  * sweeps stop at their first exception, and an engine error such as
  * PATH_NOT_FOUND does not say which query raised it.
  */
object QueryClue {
  def apply[T](name: String)(body: => T): T =
    try body
    catch { case NonFatal(e) => throw new RuntimeException(s"$name: $e", e) }
}
