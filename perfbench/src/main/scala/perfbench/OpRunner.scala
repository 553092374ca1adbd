package perfbench

import scala.util.control.NonFatal

/** One timed operation's record. An operation that throws gets its error
  * and no time: a failure is counted, never measured. */
final case class OpRecord(id: Int, kind: String, traced: Boolean,
                          seconds: Option[Double], error: Option[String],
                          parts: Map[String, Double] = Map.empty,
                          confChanged: Seq[String] = Nil) {
  def failed: Boolean = error.isDefined
  def withError(msg: String): OpRecord = copy(seconds = None, error = Some(msg))
}

object OpRunner {
  /** Times `body`. `parts` receives the durations of named sub-steps the
    * body reports through the callback (e.g. the ingest write inside a
    * job); they are kept only when the whole operation succeeds. */
  def run[T](id: Int, kind: String, traced: Boolean)(
      body: ((String, Double) => Unit) => T): (OpRecord, Option[T]) = {
    val parts = scala.collection.mutable.LinkedHashMap[String, Double]()
    val t0 = System.nanoTime()
    try {
      val out = body((k, v) => parts(k) = v)
      val dt = (System.nanoTime() - t0) / 1e9
      (OpRecord(id, kind, traced, Some(dt), None, parts.toMap), Some(out))
    } catch {
      case NonFatal(e) =>
        val msg = s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("")}"
        (OpRecord(id, kind, traced, None, Some(msg.take(2000))), None)
    }
  }

  /** Times a sub-step and reports it under `name`. */
  def part[T](report: (String, Double) => Unit, name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    val out = body
    report(name, (System.nanoTime() - t0) / 1e9)
    out
  }
}
