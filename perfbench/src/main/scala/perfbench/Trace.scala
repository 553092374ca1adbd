package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.DataFrame

/** Wall clock in microseconds since the epoch, monotonic within the run:
  * spans and the listener's millisecond event times share one time base. */
object Clock {
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  def us(): Long = baseMs * 1000L + (System.nanoTime() - baseNs) / 1000L
}

/** The benchmark's own SparkListener. Untraced, it only sums output bytes
  * (the write-amplification numerator). Traced, it also keeps one record
  * per job and per task so that work can be attributed to spans. */
final class Recorder(keepDetail: Boolean) extends SparkListener {
  @volatile var outputBytes: Long = 0L
  val jobs = new ArrayBuffer[Map[String, Any]]()
  val tasks = new ArrayBuffer[Map[String, Any]]()

  override def onJobStart(e: SparkListenerJobStart): Unit = if (keepDetail) {
    val group = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id")))
    synchronized {
      jobs += Map("job" -> e.jobId, "t_ms" -> e.time, "stages" -> e.stageIds,
        "group" -> group)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) synchronized {
      outputBytes += m.outputMetrics.bytesWritten
      if (keepDetail) {
        val sr = m.shuffleReadMetrics
        tasks += Map(
          "stage" -> e.stageId,
          "launch_ms" -> e.taskInfo.launchTime,
          "finish_ms" -> e.taskInfo.finishTime,
          "run_ms" -> m.executorRunTime,
          "shuffle_write" -> m.shuffleWriteMetrics.bytesWritten,
          "shuffle_read" -> (sr.remoteBytesRead + sr.localBytesRead),
          "out_bytes" -> m.outputMetrics.bytesWritten,
          "out_records" -> m.outputMetrics.recordsWritten,
          "in_records" -> m.inputMetrics.recordsRead,
          "spill" -> (m.memoryBytesSpilled + m.diskBytesSpilled),
          "peak_mem" -> m.peakExecutionMemory)
      }
    }
  }
}

/** Spans around the calls into each layer of the engine, kept in memory
  * and written out when the run ends. A span sets the job group so that
  * the jobs it starts carry its id; the analysis also matches jobs to
  * spans by time, because jobs started from pooled threads inherit the
  * group of whichever span created the thread. */
final class Tracer(sc: SparkContext) {
  final class Span(val id: Int, val parent: Int, val name: String,
                   val op: Int, val startUs: Long) {
    var endUs: Long = -1L
    var rows: Long = 0L
  }

  private val spans = new ArrayBuffer[Span]()
  private var stack: List[Span] = Nil
  val counters = new ArrayBuffer[Map[String, Any]]()

  def span[T](name: String, op: Int)(body: => T): T = {
    val s = new Span(spans.size, stack.headOption.map(_.id).getOrElse(-1),
      name, op, Clock.us())
    spans += s
    stack = s :: stack
    sc.setJobGroup(s"span-${s.id}", name, interruptOnCancel = false)
    try body
    finally {
      s.endUs = Clock.us()
      stack = stack.tail
      stack.headOption match {
        case Some(p) => sc.setJobGroup(s"span-${p.id}", p.name, interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
    }
  }

  /** Materializes `df` once, in full, at the current span's boundary and
    * hands the materialized frame on; its row count is taken afterwards,
    * in the caller's span, and credited to the span that produced it. */
  def force(df: DataFrame): DataFrame = {
    val owner = stack.head
    val cp = df.localCheckpoint(eager = true)
    pendingCounts += ((owner, cp))
    cp
  }
  private val pendingCounts = new ArrayBuffer[(Span, DataFrame)]()

  /** Forces a terminal result into the driver, crediting its rows. */
  def collect(df: DataFrame): Array[org.apache.spark.sql.Row] = {
    val rows = df.collect()
    stack.head.rows += rows.length
    rows
  }

  /** Counts the rows of every frame forced since the last call. */
  def settleCounts(): Unit = {
    pendingCounts.foreach { case (s, df) => s.rows += df.count() }
    pendingCounts.clear()
  }

  /** A layer-specific count (e.g. fetch retries) recorded at a boundary. */
  def count(op: Int, name: String, value: Double): Unit =
    counters += Map("op" -> op, "name" -> name, "value" -> value)

  def records: Seq[Map[String, Any]] = spans.toSeq.map(s => Map(
    "id" -> s.id, "parent" -> s.parent, "name" -> s.name, "op" -> s.op,
    "start_us" -> s.startUs, "end_us" -> s.endUs, "rows" -> s.rows))
}
