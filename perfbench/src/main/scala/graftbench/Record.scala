package graftbench

import scala.collection.mutable

/** What a run has measured so far: timing samples per metric, per-layer
  * values, and the operation tally behind `attempted` / `failed`. */
final class Record {
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val layer = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val failures = mutable.ArrayBuffer.empty[String]
  var attempted = 0L

  def sample(name: String, v: Double): Unit = synchronized {
    samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty[Double]) += v
  }

  def layerValue(name: String, v: Double): Unit = synchronized {
    layer.getOrElseUpdate(name, mutable.ArrayBuffer.empty[Double]) += v
  }

  /** Runs one operation; a throw is counted as a failed operation and
    * yields None. */
  def op[T](what: String)(body: => T): Option[T] = {
    synchronized(attempted += 1)
    try Some(body)
    catch {
      case e: Exception =>
        fail(s"$what: $e")
        None
    }
  }

  def fail(why: String): Unit = synchronized {
    System.err.println(s"[perfbench] FAILED $why")
    failures += why
  }
}
