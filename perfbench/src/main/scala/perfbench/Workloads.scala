package perfbench

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Pipeline, Tables}
import graft.functions.Sentiment
import graft.operators.{Analytics, Dedup, Risk, Serving, Similarity}
import graft.sources.{Artifacts, Html, Ingest}
import graft.streaming.Streams

/** Everything a workload needs: the session, its generated inputs, a
  * scratch directory for what the program writes, and the tracer. */
final class Ctx(val spark: SparkSession, val inputs: String,
                val work: String, val tracer: Tracer)

/** One operation of a workload. `run` is the timed part; everything else
  * runs outside the timed region. In a traced run each operation runs
  * twice on equal state, once plain and once traced (`twin` selects the
  * second state copy), and the two `output`s must be equal. */
trait Op {
  def kind: String
  def primary: Boolean = true
  def docs: Long
  def inputBytes: Long
  def prepareTwin(): Unit = ()
  /** Checked whatever the sampling rate. */
  def alwaysCheck: Boolean = false
  /** Runs before a sampled operation, outside the timed region. */
  def beforeCheck(): Unit = ()
  def run(traced: Boolean, twin: Boolean, opId: Int,
          report: (String, Double) => Unit): Unit
  /** Records the layer counts of the traced run that just ended. Runs
    * outside the timed region and outside every span, so the jobs it
    * starts count toward no layer and no operation time. */
  def traceCounts(opId: Int): Unit = ()
  /** Canonical output lines, compared between the two runs of a traced
    * operation. */
  def output(twin: Boolean): Seq[String]
  /** What the output checks need for this operation, if it is sampled. */
  def check(twin: Boolean): Option[Map[String, Any]]
  /** Bytes the operation left on disk, taken before `cleanup`. */
  def storedBytes: Long = 0L
  def cleanup(): Unit = ()
}

trait Workload {
  def setup(): Unit
  def warmup(): Unit
  /** The next operation, or None when the inputs are used up. */
  def next(): Option[Op]
  def storedBytes: Long
  /** Input bytes stored by the end of the run, the stored-ratio base. */
  def totalInputBytes: Long
  /** Layer counts taken once, at the end of a traced run. */
  def finalCounters(): Seq[(String, Double)] = Nil
}

object Disk {
  def du(f: File): Long =
    if (!f.exists()) 0L
    else if (f.isFile) f.length()
    else Option(f.listFiles()).toSeq.flatten.map(du).sum

  /** Data files under `f` (not `_SUCCESS`, not checksum files). */
  def dataFiles(f: File): Seq[File] =
    if (!f.exists()) Nil
    else if (f.isFile) {
      if (f.getName.startsWith("_") || f.getName.startsWith(".")) Nil else Seq(f)
    } else Option(f.listFiles()).toSeq.flatten.sortBy(_.getName).flatMap(dataFiles)

  def rm(f: File): Unit = if (f.exists()) org.apache.commons.io.FileUtils.deleteDirectory(f)

  def copyDir(from: File, to: File): Unit =
    if (from.exists()) org.apache.commons.io.FileUtils.copyDirectory(from, to)

  def listDirs(f: File): Seq[File] =
    Option(f.listFiles()).toSeq.flatten.filter(_.isDirectory).sortBy(_.getName)
}

// ------------------------------------------------------------------ review

/** `review_job`: each operation is one analysis job, as the reference's
  * API caller runs it: fetch the job's pages, extract review blocks,
  * write the job's documents table, then analyze and write the
  * artifacts with every result branch forced. */
final class ReviewJob(c: Ctx) extends Workload {
  import c.spark
  private val jobs = Disk.listDirs(new File(c.inputs)).filter(_.getName.startsWith("job_"))
  private var nextJob = 1 // job 0 is the warm-up
  private var stored = 0L
  private var inputs = 0L

  def setup(): Unit = ()
  /** The warm-up is a short job (two pages of job 0): it compiles and
    * loads the same plans as a full job at a fraction of its cost. */
  def warmup(): Unit = {
    val op = new JobOp(jobs(0), "warmup", pageLimit = 2)
    op.run(traced = false, twin = false, -1, (_, _) => ())
    op.discard()
  }
  def next(): Option[Op] =
    if (nextJob >= jobs.size) None
    else {
      val op = new JobOp(jobs(nextJob), s"job-$nextJob")
      nextJob += 1
      inputs += op.inputBytes
      Some(op)
    }
  def storedBytes: Long = stored
  def totalInputBytes: Long = inputs

  /** The review blocks of the fetched pages as the job's documents
    * table: each distinct paragraph once, at its first occurrence (pages
    * in URL order), titled by its page. */
  private def documentsFrom(fetched: DataFrame): DataFrame =
    fetched.select(col("url"), col("content").cast("string").as("html"))
      .select(col("url"), Html.title(col("html")).as("source"),
        posexplode(Html.paragraphs(col("html"))).as(Seq("pos", "text")))

  private def firstOccurrence(blocks: DataFrame): DataFrame =
    blocks.groupBy("text")
      .agg(min(struct(col("url"), col("pos"), col("source"))).as("f"))
      .select(col("text"), col("f.url").as("url"), col("f.pos").as("pos"),
        col("f.source").as("source"))
      .withColumn("doc_id",
        (row_number().over(Window.orderBy("url", "pos")) - 1).cast("long"))
      .select(col("doc_id"), col("text"), lit("en").as("lang"), col("source"),
        length(col("text")).cast("long").as("n_chars"))

  final class JobOp(job: File, tag: String, pageLimit: Int = Int.MaxValue) extends Op {
    val kind = "job"
    private val pages = Disk.dataFiles(new File(job, "pages")).take(pageLimit)
    val inputBytes: Long = pages.map(_.length).sum + new File(job, "events.parquet").length
    val docs: Long = spark.read.parquet(new File(job, "expected_documents.parquet").getPath).count()
    private val results = Array.fill(2)(Seq.empty[(String, Seq[String])])
    private def dir(twin: Boolean) = s"${c.work}/$tag${if (twin) "-b" else ""}"
    // the traced run's fetched pages, blocks and documents, for traceCounts
    private var tracedFrames: (DataFrame, DataFrame, DataFrame) = _

    def run(traced: Boolean, twin: Boolean, opId: Int,
            report: (String, Double) => Unit): Unit = {
      val work = dir(twin)
      Disk.rm(new File(work))
      Files.createDirectories(Paths.get(work))
      Files.copy(Paths.get(job.getPath, "events.parquet"),
        Paths.get(work, "events.parquet"), StandardCopyOption.REPLACE_EXISTING)
      val urls = pages.map(_.toURI.toString).mkString("\n")
      results(if (twin) 1 else 0) =
        if (traced) runTraced(work, urls, opId) else runPlain(work, urls, report)
    }

    private def runPlain(work: String, urls: String,
                         report: (String, Double) => Unit): Seq[(String, Seq[String])] = {
      OpRunner.part(report, "ingest_write") {
        val manifest = Ingest.searchDispatch(spark, "urls", Some(urls),
          resolveUrls = true)
        val fetched = Ingest.fetchUrls(spark, manifest)
        firstOccurrence(documentsFrom(fetched))
          .write.mode("overwrite").parquet(s"$work/documents.parquet")
      }
      val r = Pipeline.analyzeAndWrite(spark, work, s"$work/artifacts")
      // trends and risk were forced by the artifact writes; the other
      // branches are forced here, in full, into the driver
      Seq("distribution" -> r.distribution, "stats" -> r.stats,
        "representatives" -> r.representatives, "chat_context" -> r.chatContext,
        "results_document" -> r.resultsDocument, "summary_prompts" -> r.summaryPrompts)
        .map { case (k, df) => k -> df.collect().toSeq.map(_.json) }
    }

    private def runTraced(work: String, urls: String,
                          opId: Int): Seq[(String, Seq[String])] = {
      val t = c.tracer
      def sp[T](name: String)(body: => T): T = t.span(name, opId)(body)
      t.span("op", opId) {
        val fetched = sp("ingest") {
          val manifest = Ingest.searchDispatch(spark, "urls", Some(urls),
            resolveUrls = true)
          t.force(Ingest.fetchUrls(spark, manifest))
        }
        val (blocks, docsOut) = sp("html") {
          val b = t.force(documentsFrom(fetched))
          (b, t.force(firstOccurrence(b)))
        }
        val (docs, events) = sp("tables") {
          docsOut.write.mode("overwrite").parquet(s"$work/documents.parquet")
          (t.force(Tables.documents(spark, work)), t.force(Tables.events(spark, work)))
        }
        val sentiment = sp("sentiment")(t.force(Sentiment.score(docs)))
        val (scored, trends, distribution, stats) = sp("analytics") {
          val s = t.force(Analytics.normalizeScores(sentiment))
          val tr = t.force(Analytics.dailyTrends(events))
          (s, tr, t.collect(Analytics.distributionWithPct(s, "sentiment")),
            t.collect(Analytics.confidenceStats(s, col("n_chars") >= 200)))
        }
        val risk = sp("risk")(t.force(Risk.insuranceRisk(scored, trends)))
        val reps = sp("representatives")(
          t.collect(graft.ml.Representatives.representatives(scored)))
        val topWords = sp("analytics")(t.force(Analytics.topWords(scored, "text", 15)))
        val (chat, doc, prompts) = sp("serving") {
          (t.collect(Serving.chatContext(scored, topWords)),
            t.collect(Serving.resultsDocument(scored, trends)),
            t.collect(Serving.summaryPrompts(scored)))
        }
        sp("artifacts") {
          val out = s"$work/artifacts"
          Artifacts.writeJsonArtifacts(scored, trends, out)
          Artifacts.writeCsv(scored, out)
          Artifacts.writeTxtBlocks(scored.select("doc_id", "text"), out)
          risk.coalesce(1).write.mode("overwrite").json(s"$out/insurance_risk")
        }
        tracedFrames = (fetched, blocks, docsOut)
        Seq("distribution" -> distribution, "stats" -> stats,
          "representatives" -> reps, "chat_context" -> chat,
          "results_document" -> doc, "summary_prompts" -> prompts)
          .map { case (k, rows) => k -> rows.toSeq.map(_.json) }
      }
    }

    override def traceCounts(opId: Int): Unit = {
      val t = c.tracer
      val (fetched, blocks, docsOut) = tracedFrames
      val fetchStats = fetched.agg(
        sum(when(col("status") === "error", 1L).otherwise(0L)),
        sum(col("attempts") - 1L)).collect()(0)
      t.count(opId, "ingest.fetch_failed", fetchStats.getLong(0).toDouble)
      t.count(opId, "ingest.fetch_retries", fetchStats.getLong(1).toDouble)
      t.count(opId, "html.blocks", blocks.count().toDouble)
      t.count(opId, "html.kept", docsOut.count().toDouble)
      val art = Disk.dataFiles(new File(s"${dir(true)}/artifacts"))
      t.count(opId, "artifacts.bytes_written", art.map(_.length).sum.toDouble)
      t.count(opId, "artifacts.files_written", art.size.toDouble)
    }

    /** The collected branches plus what the job wrote: its documents
      * table and the trends and risk artifacts. */
    private def outputs(twin: Boolean): Seq[(String, Seq[String])] = {
      val w = dir(twin)
      def lines(p: String) = Disk.dataFiles(new File(p)).flatMap { f =>
        val src = scala.io.Source.fromFile(f, "UTF-8")
        try src.getLines().toList finally src.close()
      }
      results(if (twin) 1 else 0) ++ Seq(
        "documents" -> spark.read.parquet(s"$w/documents.parquet")
          .orderBy("doc_id").collect().map(_.json).toSeq,
        "trends" -> lines(s"$w/artifacts/sentiment_trends"),
        "risk" -> lines(s"$w/artifacts/insurance_risk"))
    }

    def output(twin: Boolean): Seq[String] =
      outputs(twin).flatMap { case (k, rows) => rows.map(k + "\t" + _) }

    def check(twin: Boolean): Option[Map[String, Any]] = Some(Map(
      "kind" -> "job", "job_dir" -> job.getPath, "outputs" -> outputs(twin).toMap))

    override def storedBytes: Long = Disk.du(new File(dir(false)))
    override def cleanup(): Unit = {
      stored += storedBytes
      discard()
    }
    def discard(): Unit = {
      Disk.rm(new File(dir(false)))
      Disk.rm(new File(dir(true)))
    }
  }
}

// ------------------------------------------------------------------- dedup

/** `corpus_dedup`: documents arrive in fixed micro-batches; each
  * operation is one near-duplicate-filtered ingest of a batch against
  * the growing snapshot. */
final class CorpusDedup(c: Ctx) extends Workload {
  import c.spark
  private val batches = Disk.listDirs(new File(c.inputs, "batches"))
  private val snapshot = s"${c.work}/snapshot"
  // batch 0 is the warm-up: the first ingest after a cold start is still
  // compiling. The next two still run slower than the rest, and the
  // run's median over its six ingests does not rest on them.
  private val WarmupBatches = 1
  private var nextBatch = WarmupBatches
  private var inputs = 0L

  def setup(): Unit = Disk.rm(new File(snapshot))
  def warmup(): Unit = batches.take(WarmupBatches).foreach { b =>
    val op = new IngestOp(b)
    op.run(traced = false, twin = false, -1, (_, _) => ())
    inputs += op.inputBytes
  }
  def next(): Option[Op] =
    if (nextBatch >= batches.size) None
    else {
      val op = new IngestOp(batches(nextBatch))
      nextBatch += 1
      inputs += op.inputBytes
      Some(op)
    }
  def storedBytes: Long = Disk.du(new File(snapshot))
  def totalInputBytes: Long = inputs

  private def snapIds(dir: String): Seq[Long] =
    if (!new File(dir).exists()) Nil
    else spark.read.parquet(dir).select("doc_id").collect().map(_.getLong(0)).sorted.toSeq

  final class IngestOp(batchDir: File) extends Op {
    val kind = "ingest"
    private val file = new File(batchDir, "documents.parquet")
    val inputBytes: Long = file.length
    val docs: Long = spark.read.parquet(file.getPath).count()
    private val twinSnap = snapshot + "-b"
    private var before: Seq[Long] = Nil

    override def prepareTwin(): Unit = {
      Disk.rm(new File(twinSnap))
      Disk.copyDir(new File(snapshot), new File(twinSnap))
      // candidate pairs are not visible from outside the probe: count
      // them by re-running it with no similarity floor, outside any span
      val batch = Tables.documents(spark, batchDir.getPath)
      val snap =
        if (new File(snapshot).exists()) spark.read.parquet(snapshot)
        else spark.createDataFrame(new java.util.ArrayList[Row](), batch.schema)
      val all = Dedup.minhashIngestPairs(
        batch.select("doc_id", "text"), snap.select("doc_id", "text"),
        "text", "doc_id", n = 4, k = 32, bands = 8, minJaccard = -1.0,
        family = Dedup.PortableFamily)
      candidates = all.count()
    }
    private var candidates = 0L
    private var tracedPairs: DataFrame = _

    def run(traced: Boolean, twin: Boolean, opId: Int,
            report: (String, Double) => Unit): Unit = {
      val snap = if (twin) twinSnap else snapshot
      if (traced) runTraced(snap, opId)
      else Streams.dedupIngestBatch(spark, snap, Tables.documents(spark, batchDir.getPath))
    }

    /** `Streams.dedupIngestBatch`, called piece by piece in its own
      * order so each layer gets its span. */
    private def runTraced(snapDir: String, opId: Int): Unit = {
      val t = c.tracer
      def sp[T](name: String)(body: => T): T = t.span(name, opId)(body)
      t.span("op", opId) {
        val batch = sp("tables")(t.force(Tables.documents(spark, batchDir.getPath)))
        val snap =
          if (new File(snapDir).exists()) spark.read.parquet(snapDir)
          else spark.createDataFrame(new java.util.ArrayList[Row](), batch.schema)
        val (pairs, kept) = sp("dedup") {
          val pairs = Dedup.minhashIngestPairs(
            batch.select("doc_id", "text"), snap.select("doc_id", "text"),
            "text", "doc_id", n = 4, k = 32, bands = 8, minJaccard = 0.5,
            family = Dedup.PortableFamily)
          val hits = pairs.filter(col("vs_corpus"))
            .select(col("id_a").as("doc_id")).distinct()
          val fresh = batch.join(hits, Seq("doc_id"), "left_anti")
          val freshPairs = pairs.filter(!col("vs_corpus"))
            .join(hits.select(col("doc_id").as("id_a")), Seq("id_a"), "left_anti")
            .join(hits.select(col("doc_id").as("id_b")), Seq("id_b"), "left_anti")
            .select("id_a", "id_b", "jaccard")
          (pairs, t.force(Dedup.pruneToCanonical(fresh, freshPairs, "doc_id")))
        }
        sp("streams")(Streams.upsertSnapshotBatch(spark, snapDir, kept, "doc_id"))
        tracedPairs = pairs
      }
    }

    // the pairs are eagerly checkpointed by the probe, so counting them
    // after the snapshot swap reads the checkpoint, not the new snapshot
    override def traceCounts(opId: Int): Unit = {
      val t = c.tracer
      t.count(opId, "dedup.verified_pairs", tracedPairs.count().toDouble)
      t.count(opId, "dedup.candidate_pairs", candidates.toDouble)
      t.count(opId, "streams.snapshot_bytes", Disk.du(new File(twinSnap)).toDouble)
    }

    def output(twin: Boolean): Seq[String] =
      snapIds(if (twin) twinSnap else snapshot).map(_.toString)

    /** The snapshot's ids before the operation, for the oracle replay. */
    override def beforeCheck(): Unit = before = snapIds(snapshot)

    def check(twin: Boolean): Option[Map[String, Any]] = Some(Map(
      "kind" -> "ingest", "batch" -> file.getPath, "before" -> before,
      "after" -> snapIds(if (twin) twinSnap else snapshot)))

    override def cleanup(): Unit = Disk.rm(new File(twinSnap))
  }
}

// ------------------------------------------------------------------ vector

/** `vector_search`: top-k queries against an IVF-PQ index with its
  * un-compacted delta overlaid; every fourth operation appends a
  * batch of vectors to the delta, and one compaction runs mid-run. */
final class VectorSearch(c: Ctx) extends Workload {
  import c.spark
  private val index = s"${c.work}/index"
  private val base = new File(c.inputs, "base")
  private val appends = Disk.listDirs(new File(c.inputs, "appends"))
  private val queryIds: Array[Long] = {
    val s = new String(Files.readAllBytes(Paths.get(c.inputs, "queries.json")), "UTF-8")
    s.stripPrefix("[").stripSuffix("]").split(",").map(_.trim.toLong)
  }
  /** Compaction runs once, after this many operations: mid-run of the
    * shortest run, at the same point in every run. */
  private val CompactAfter = 5
  private var version = 1
  // query 0 is the warm-up; the first measured query is the pinned one
  private var nextQuery = 0
  private var pinnedDone = false
  private var appended = 0
  private var compacted = false
  private var deltaReadChecked = false
  // the first vector of the first append batch, once appended
  private var appendedId: Option[Long] = None
  private var ops = 0
  private var inputs = Disk.du(base)
  var compactSeconds: Option[Double] = None
  var compactError: Option[String] = None

  /** The index build: centroids and codebook by the engine's
    * deterministic convention (the first 16 vectors). */
  def setup(): Unit = {
    Disk.rm(new File(index))
    val emb = Tables.embeddings(spark, base.getPath)
    val e0 = emb.select(col("vec_id"), Similarity.toDoubleArray(col("embedding")).as("v"))
    val cents = e0.filter(col("vec_id") < 16).select(col("vec_id").as("cell"), col("v").as("cv"))
    val cb = e0.filter(col("vec_id") < 16).select(col("vec_id"),
      posexplode(array((0 until 8).map(s => slice(col("v"), s * 8 + 1, 8)): _*))
        .as(Seq("s", "vs")))
      .select(col("s"), col("vec_id").cast("int").as("code"), col("vs").as("cw"))
    Similarity.writeIvfPqIndex(emb, cents, cb, index, version = 1)
  }

  private def topK(qid: Long): DataFrame =
    Similarity.ivfPqTopKFromIndex(
      Similarity.readIvfPqIndexWithDelta(spark, index, version), qid, 10)

  def warmup(): Unit = topK(queryIds(0)).collect()

  def next(): Option[Op] = {
    val justCompacted = !compacted && ops == CompactAfter
    if (justCompacted) compact()
    ops += 1
    if (ops % 4 == 0 && appended < appends.size) {
      val op = new AppendOp(appends(appended))
      inputs += op.inputBytes
      Some(op)
    } else if (!pinnedDone) {
      // the catalog's index oracles are pinned to query 20
      pinnedDone = true
      Some(new QueryOp(20L, check = true))
    } else if (justCompacted) {
      // the first query that reads the compacted index, checked; it asks
      // for an appended vector, so its answer depends on the compaction
      Some(new QueryOp(appendedId.get + 1, check = true))
    } else if (appended > 0 && !compacted && !deltaReadChecked) {
      // the first query that reads the un-compacted delta, checked; its
      // query vector exists only in the delta
      deltaReadChecked = true
      Some(new QueryOp(appendedId.get, check = true))
    } else if (nextQuery + 1 < queryIds.length) {
      nextQuery += 1
      Some(new QueryOp(queryIds(nextQuery), check = false))
    } else None
  }

  /** Compaction is not an operation of the client's loop: it is timed on
    * its own and its bytes count toward the run's writes. */
  private def compact(): Unit = {
    compacted = true
    val t0 = System.nanoTime()
    try {
      val run = () => { version = Similarity.compactIvfPqIndex(spark, index, version) }
      if (c.tracer != null) c.tracer.span("similarity", -2)(run()) else run()
      compactSeconds = Some((System.nanoTime() - t0) / 1e9)
    } catch {
      case scala.util.control.NonFatal(e) => compactError = Some(e.toString)
    }
  }

  def storedBytes: Long = Disk.du(new File(index))
  def totalInputBytes: Long = inputs
  override def finalCounters(): Seq[(String, Double)] = {
    val d = s"$index/v=$version/delta"
    val rows = if (new File(d).exists()) spark.read.parquet(d).count() else 0L
    Seq("similarity.delta_rows" -> rows.toDouble) ++
      compactSeconds.map("similarity.compact_s" -> _)
  }

  final class QueryOp(qid: Long, check: Boolean) extends Op {
    val kind = "query"
    val docs = 1L
    val inputBytes = 0L
    override val alwaysCheck: Boolean = check
    private val results = Array.fill(2)(Seq.empty[String])
    private val appendedAt = appended
    private val afterCompaction = compacted
    def run(traced: Boolean, twin: Boolean, opId: Int,
            report: (String, Double) => Unit): Unit = {
      val rows =
        if (!traced) topK(qid).collect()
        else c.tracer.span("op", opId) {
          val rows = c.tracer.span("similarity", opId)(c.tracer.collect(topK(qid)))
          c.tracer.count(opId, "similarity.results", rows.length.toDouble)
          rows
        }
      results(if (twin) 1 else 0) = rows.map(_.json).toSeq
    }
    def output(twin: Boolean): Seq[String] = results(if (twin) 1 else 0)
    def check(twin: Boolean): Option[Map[String, Any]] = Some(Map(
      "kind" -> "query", "query" -> qid, "appended" -> appendedAt,
      "compacted" -> afterCompaction,
      "rows" -> results(if (twin) 1 else 0)))
  }

  final class AppendOp(batch: File) extends Op {
    val kind = "append"
    override val primary = false
    val inputBytes: Long = Disk.du(batch)
    private val vectors = spark.read.parquet(new File(batch, "embeddings.parquet").getPath)
    val docs: Long = vectors.count()
    private val firstId: Long = vectors.agg(min("vec_id")).head().getLong(0)
    def run(traced: Boolean, twin: Boolean, opId: Int,
            report: (String, Double) => Unit): Unit = {
      // appending the same vectors twice is idempotent (last write wins
      // per vec_id), so the traced twin runs on the same index
      if (!traced)
        Similarity.appendIvfPqDelta(Tables.embeddings(spark, batch.getPath), index, version)
      else c.tracer.span("op", opId) {
        val b = c.tracer.span("tables", opId)(
          c.tracer.force(Tables.embeddings(spark, batch.getPath)))
        c.tracer.span("similarity", opId)(Similarity.appendIvfPqDelta(b, index, version))
      }
      if (!twin) {
        appended += 1
        appendedId = appendedId.orElse(Some(firstId))
      }
    }
    private def deltaRows: Long = {
      val d = s"$index/v=$version/delta"
      if (new File(d).exists()) spark.read.parquet(d).count() else 0L
    }
    def output(twin: Boolean): Seq[String] = Seq(deltaRows.toString)
    def check(twin: Boolean): Option[Map[String, Any]] = None
  }
}
