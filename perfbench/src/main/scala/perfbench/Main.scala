package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.perfbench.Bus

/** The benchmark's JVM side: one process, one `local[cpus]` session and
  * one closed-loop client that waits for each operation before sending
  * the next. It runs a fixed number of operations of one workload, so
  * every commit runs the same operation sequence whatever its speed, and
  * writes a run record (operations, set-up, byte counts and, when traced,
  * spans, jobs and tasks) as JSON. `perfbench/run.py` generates the
  * inputs, starts this, checks the outputs and computes the metrics.
  *
  * `--seconds` only caps the run: when the operations have used it up
  * before the last one, the run fails (exit code 3) instead of
  * measuring a different workload.
  *
  * Usage: Main --workload W --inputs DIR --work DIR --out FILE
  *             --seconds S --trace 0|1 --cpus N --check-every K --ops M
  */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val trace = a("trace") == "1"
    val seconds = a("seconds").toDouble
    val checkEvery = a.getOrElse("check-every", "1").toInt
    val nOps = a("ops").toInt
    val work = a("work")
    Files.createDirectories(Paths.get(work))

    val t0 = System.nanoTime()
    val spark = graft.Sessions.local(a("cpus"), "perfbench")
    val sc = spark.sparkContext
    val recorder = new Recorder(keepDetail = trace)
    sc.addSparkListener(recorder)
    implicit val session: org.apache.spark.sql.SparkSession = spark
    implicit val tracer: Tracer = if (trace) new Tracer(sc) else null
    val ctx = new Ctx(spark, a("inputs"), work, tracer)
    val wl: Workload = a("workload") match {
      case "review_job" => new ReviewJob(ctx)
      case "corpus_dedup" => new CorpusDedup(ctx)
      case "vector_search" => new VectorSearch(ctx)
      case w => sys.error(s"unknown workload $w")
    }
    val sessionS = secondsSince(t0)
    val t1 = System.nanoTime()
    wl.setup()
    val workloadSetupS = secondsSince(t1)
    val t2 = System.nanoTime()
    wl.warmup()
    val warmupS = secondsSince(t2)
    release(spark, Map.empty)

    Bus.drain(sc)
    val outBytes0 = recorder.outputBytes
    val ops = new ArrayBuffer[Map[String, Any]]()
    val checks = new ArrayBuffer[Map[String, Any]]()
    val loopStart = System.nanoTime()
    var measured = 0.0
    for (id <- 0 until nOps) {
      if (measured > seconds) fail(spark,
        f"the first $id of $nOps operations took $measured%.1f s, over the --seconds cap")
      val op = wl.next().getOrElse(
        fail(spark, s"the inputs hold $id operations, the run needs $nOps"))
      val sampled = (checkEvery > 0 && id % checkEvery == 0) || op.alwaysCheck
      if (sampled) op.beforeCheck()
      val records =
        if (!trace) Seq(runOnce(op, id, traced = false, twin = false))
        else {
          op.prepareTwin()
          // alternate which side runs first, so neither always gets the
          // warmer caches
          val sides = if (id % 2 == 0) Seq(false, true) else Seq(true, false)
          val recs = sides.map(tr => runOnce(op, id, traced = tr, twin = tr))
          val plain = recs.find(!_.traced).get
          val traced = recs.find(_.traced).get
          if (!plain.failed && !traced.failed && op.output(false) != op.output(true))
            recs.map(r => if (r.traced) r.withError("traced output differs from untraced output") else r)
          else recs
        }
      if (sampled && records.forall(!_.failed))
        op.check(twin = false).foreach(ch => checks += (ch + ("op" -> id)))
      val stored = op.storedBytes
      op.cleanup()
      measured += records.flatMap(_.seconds).sum
      records.foreach { r =>
        ops += Map("id" -> r.id, "kind" -> r.kind, "primary" -> op.primary,
          "traced" -> r.traced, "seconds" -> r.seconds, "error" -> r.error,
          "parts" -> r.parts, "docs" -> op.docs, "input_bytes" -> op.inputBytes,
          "stored_bytes" -> stored, "conf_changed" -> r.confChanged)
      }
    }
    val loopS = secondsSince(loopStart)
    Bus.drain(sc)
    val outBytes = recorder.outputBytes - outBytes0
    if (trace) wl.finalCounters().foreach { case (k, v) => tracer.count(-1, k, v) }
    val compact = wl match {
      case v: VectorSearch => Map("compact_s" -> v.compactSeconds, "compact_error" -> v.compactError)
      case _ => Map.empty[String, Any]
    }

    val record = Map(
      "workload" -> a("workload"), "cpus" -> a("cpus").toInt,
      "spark_version" -> spark.version,
      "java_version" -> System.getProperty("java.version"),
      "java_vm" -> System.getProperty("java.vm.name"),
      "trace" -> trace, "seconds" -> seconds, "loop_s" -> loopS,
      "measured_s" -> measured,
      "setup" -> Map("session_s" -> sessionS, "workload_s" -> workloadSetupS,
        "warmup_s" -> warmupS),
      "ops" -> ops, "checks" -> checks,
      "output_bytes" -> outBytes, "stored_bytes" -> wl.storedBytes,
      "total_input_bytes" -> wl.totalInputBytes,
      "peak_rss_mb" -> vmHwmMb(),
      "trace_data" -> (if (!trace) null else Map(
        "spans" -> tracer.records, "jobs" -> recorder.jobs.toSeq,
        "tasks" -> recorder.tasks.toSeq, "counters" -> tracer.counters.toSeq))
    ) ++ compact
    Files.write(Paths.get(a("out")), Json.render(record).getBytes("UTF-8"))
    spark.stop()
  }

  /** Runs one side of an operation, then, outside the timed region,
    * takes the traced side's layer counts, records what the operation
    * left behind (persisted RDDs, changed session conf) and releases it,
    * so operations stay independent while a leak still shows as a
    * count. */
  private def runOnce(op: Op, id: Int, traced: Boolean, twin: Boolean)(
      implicit spark: org.apache.spark.sql.SparkSession, tracer: Tracer): OpRecord = {
    val confBefore = spark.conf.getAll
    val gc0 = gcMillis()
    val rec = OpRunner.run(id, op.kind, traced) { report => op.run(traced, twin, id, report) }._1
    val gcS = (gcMillis() - gc0) / 1000.0
    if (traced) {
      tracer.settleCounts()
      if (!rec.failed) op.traceCounts(id)
    }
    val leftover = spark.sparkContext.getPersistentRDDs.size
    val changed = release(spark, confBefore)
    rec.copy(parts = rec.parts ++ Map("gc_s" -> gcS, "leftover_rdds" -> leftover.toDouble),
      confChanged = changed)
  }

  /** Ends a run that cannot measure its fixed operation sequence. */
  private def fail(spark: org.apache.spark.sql.SparkSession, msg: String): Nothing = {
    System.err.println(s"perfbench: $msg")
    spark.stop()
    sys.exit(3)
  }

  private def secondsSince(t: Long): Double = (System.nanoTime() - t) / 1e9

  private def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** Releases every persisted RDD and cached plan an operation left
    * behind and restores any session conf it changed; returns the conf
    * keys that differed. */
  private def release(spark: org.apache.spark.sql.SparkSession,
                      before: Map[String, String]): Seq[String] = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    spark.catalog.clearCache()
    if (before.isEmpty) Nil
    else {
      val after = spark.conf.getAll
      val changed = (before.keySet ++ after.keySet).filter(k => before.get(k) != after.get(k)).toSeq.sorted
      changed.foreach { k =>
        before.get(k) match {
          case Some(v) => spark.conf.set(k, v)
          case None => spark.conf.unset(k)
        }
      }
      changed
    }
  }

  /** The process's peak resident set (VmHWM), in MB. */
  private def vmHwmMb(): Double = {
    val f = new File("/proc/self/status")
    if (!f.exists()) -1.0
    else scala.io.Source.fromFile(f).getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
  }
}
