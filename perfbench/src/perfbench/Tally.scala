package perfbench

import scala.collection.mutable.ArrayBuffer

/** Counts attempted operations and named failures. Every set-up step,
  * measured operation and output check goes through [[attempt]] or
  * [[check]], so nothing that fails can go uncounted.
  */
final class Tally {
  private var attempts = 0
  private val failures = ArrayBuffer.empty[(String, String)]

  def attempted: Int = attempts
  def failed: Int = failures.size
  def failureList: Seq[(String, String)] = failures.toSeq

  /** Runs `body`; a throw is recorded under `what` and yields None. */
  def attempt[T](what: String)(body: => T): Option[T] = {
    attempts += 1
    try Some(body)
    catch {
      case e: Throwable if scala.util.control.NonFatal(e) =>
        fail(what, s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("")}")
        None
    }
  }

  /** One output check; `ok` false counts as a failure with `detail`. */
  def check(what: String, ok: => Boolean, detail: => String): Unit =
    attempt(what)(if (!ok) throw new IllegalStateException(detail))

  private def fail(what: String, message: String): Unit = {
    failures += ((what, message.split("\n").head.take(300)))
    System.err.println(s"[perfbench] FAILED $what: ${failures.last._2}")
  }
}
