package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.api.{DiffJobConfig, ResultsApi}
import graft.core.{RangeStats, TableSpec}
import graft.engine.{DiffEngine, Quarantine, Repair}
import graft.journal.{MetadataStore, Resume}
import graft.sources.SourceProvider

/** One traced interval. `layer` names the module the span's work runs in;
  * spans of one traced job share `run`.
  */
final case class Span(id: Int, run: String, layer: String, name: String,
    parent: Int, start: Long, end: Long, startMs: Long, endMs: Long) {
  def seconds: Double = (end - start) / 1e9
}

/** Spark work per span, attributed through a local property that every
  * job submitted inside the span carries.
  */
final class LayerListener extends SparkListener {
  private val stageSpan = mutable.Map.empty[Int, Int]
  private val jobStart = mutable.Map.empty[Int, Long]
  private val counts = mutable.Map.empty[(Int, String), Long].withDefaultValue(0L)
  val jobIntervals = ArrayBuffer.empty[(Long, Long)]

  private def add(span: Int, k: String, v: Long): Unit = counts((span, k)) += v

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanKey)))
      .map(_.toInt).getOrElse(-1)
    e.stageIds.foreach(stageSpan(_) = span)
    jobStart(e.jobId) = e.time
    add(span, "jobs", 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach(s => jobIntervals += ((s, e.time)))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val span = stageSpan.getOrElse(e.stageId, -1)
    add(span, "tasks", 1)
    Option(e.taskMetrics).foreach { m =>
      add(span, "input_bytes", m.inputMetrics.bytesRead)
      add(span, "shuffle_bytes", m.shuffleWriteMetrics.bytesWritten)
      add(span, "spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  def count(spans: Iterable[Int], k: String): Long = synchronized {
    spans.map(s => counts((s, k))).sum
  }
}

/** Spans kept in memory; each span tags the Spark jobs submitted inside
  * it. Written out with the run report.
  */
final class Tracer(spark: SparkSession) {
  val spans = ArrayBuffer.empty[Span]
  private var open = List.empty[Int]
  private var run = ""
  val listener = new LayerListener
  spark.sparkContext.addSparkListener(listener)

  def newRun(id: String): Unit = run = id

  def span[T](layer: String, name: String)(f: => T): T = {
    val id = spans.size
    spans += Span(id, run, layer, name, open.headOption.getOrElse(-1),
      System.nanoTime(), 0L, System.currentTimeMillis(), 0L)
    open = id :: open
    spark.sparkContext.setLocalProperty(Tracer.SpanKey, id.toString)
    try f
    finally {
      spans(id) = spans(id).copy(end = System.nanoTime(), endMs = System.currentTimeMillis())
      open = open.tail
      spark.sparkContext.setLocalProperty(Tracer.SpanKey,
        open.headOption.map(_.toString).orNull)
    }
  }

  /** Wait until the listener has seen every event posted so far. */
  def drain(): Unit = org.apache.spark.PerfbenchBridge.drain(spark.sparkContext)

  def stop(): Unit = { drain(); spark.sparkContext.removeSparkListener(listener) }
}

object Tracer {
  val SpanKey = "perfbench.span"
}

/** Per-job counts the traced spine measures directly (rows, buckets,
  * statements); Spark-side counts come from the listener.
  */
final class Counts {
  private val m = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
  def add(k: String, v: Double): Unit = m(k) += v
  def apply(k: String): Double = m(k)
}

/** DiffRunner.run repeated step by step through the public functions it
  * calls, with every step's output materialized at the step boundary and
  * wrapped in a span. Same journal writes in the same order, so the
  * traced job's results and journal are checked like an untraced one.
  */
final class TracedJob(source: SourceProvider, target: SourceProvider,
    cfg: DiffJobConfig, tr: Tracer, c: Counts)(implicit spark: SparkSession) {
  import spark.implicits._

  private val cached = ArrayBuffer.empty[DataFrame]
  private val store = new MetadataStore(cfg.metadataRoot, cfg.retry)
  private val root = java.nio.file.Paths.get(cfg.metadataRoot)

  /** Persist and count: the step's output exists before the next step. */
  private def done(df: DataFrame): (DataFrame, Long) = {
    val p = df.persist(StorageLevel.MEMORY_AND_DISK)
    cached += p
    (p, p.count())
  }

  private def visibleParquet(): Long =
    if (!Files.exists(root)) 0L
    else Files.walk(root).iterator().asScala.count { f =>
      val rel = root.relativize(f).iterator().asScala.map(_.toString).toSeq
      f.toString.endsWith(".parquet") && Files.isRegularFile(f) &&
        rel.forall(n => !n.startsWith(".") && !n.startsWith("_"))
    }.toLong

  /** Materialize a journal frame in the layer that produces it, then
    * time the write alone.
    */
  private def write(table: String, df: DataFrame, partitionBy: Seq[String] = Nil,
      layer: String = "stats"): Unit = {
    val (frame, rows) = tr.span(layer, s"materialize $table")(done(df))
    tr.span("journal.write", table) {
      val before = visibleParquet()
      store.write(table, frame, partitionBy)
      c.add("journal.writes", 1)
      c.add("journal.rows_written", rows)
      c.add("journal.files_published", visibleParquet() - before)
    }
  }

  private def latestPerBucket(table: String, spec: TableSpec, mergeSchema: Boolean): DataFrame = {
    val w = Window.partitionBy(col("bucket")).orderBy(col("run_ts").desc)
    store.read(table, mergeSchema)
      .filter(col("job_id") === cfg.jobId && col("table_name") === spec.table)
      .withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
  }

  def run(): Map[String, RangeStats] = tr.span("runner", "job") {
    require(store.acquireRunLock(cfg.jobId), s"job ${cfg.jobId} already running")
    try {
      val options = cfg.options
      val token = DiffEngine.tokenFunction(cfg.partitioner)
      val prior = tr.span("journal.read", "job_summary") {
        if (store.exists("job_summary"))
          store.read("job_summary", mergeSchema = true)
            .filter(col("job_id") === cfg.jobId).collect().headOption
        else None
      }
      // a re-run restores its stored params; the traced re-run submits the
      // same ones, so only the reads are repeated here
      if (prior.nonEmpty) tr.span("journal.read", "table_params") {
        store.read("table_params", mergeSchema = true)
          .filter(col("job_id") === cfg.jobId).collect()
      }
      else {
        write("job_summary", Seq((cfg.jobId, source.getClass.getSimpleName,
          target.getClass.getSimpleName, cfg.tables.map(_.table), options.buckets,
          options.disallowedTokens, options.specificTokens, options.samplingNum,
          options.samplingDen, options.reverseReadProbability, cfg.partitioner,
          java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSS'Z'")
            .withZone(java.time.ZoneOffset.UTC).format(java.time.Instant.now())))
          .toDF("job_id", "source_cluster", "target_cluster", "keyspaces",
            "buckets", "disallowed_tokens", "specific_tokens", "sampling_num",
            "sampling_den", "reverse_read_probability", "partitioner", "start_time"),
          layer = "journal.write")
        write("table_params", cfg.tables.map(t =>
            (cfg.jobId, t.table, t.pk, t.clustering, t.regular, t.uniqueKey))
          .toDF("job_id", "table_name", "pk", "clustering", "regular", "unique_key"),
          layer = "journal.write")
      }
      cfg.tables.map(t => t.table -> table(t, token)).toMap
    } finally {
      store.releaseRunLock(cfg.jobId)
      cached.foreach(_.unpersist())
      cached.clear()
    }
  }

  private def table(spec0: TableSpec, token: Seq[Column] => Column): RangeStats = {
    val options = cfg.options
    val spec = spec0.bind(source.table(spark, spec0.table))
    val (fsrc, ftgt, errors) = tr.span("sources", "scan") {
      val sq = Quarantine.split(source.table(spark, spec.table), spec, "source")
      val tq = Quarantine.split(target.table(spark, spec.table), spec, "target")
      val (s, ns) = done(DiffEngine.applyTokenFilters(sq.valid, spec, options, token))
      val (t, nt) = done(DiffEngine.applyTokenFilters(tq.valid, spec, options, token))
      c.add("sources.rows", ns + nt)
      (s, t, sq.errors.unionByName(tq.errors))
    }
    write("errors", errors.withColumn("table_name", lit(spec.table))
      .withColumn("job_id", lit(cfg.jobId)), layer = "sources")
    // the runner's resume test: the latest task_status row per bucket
    if (store.exists("task_status")) tr.span("resume", "pending") {
      val journal = latestPerBucket("task_status", spec, mergeSchema = false)
        .select(col("bucket"), col("status"), col("last_token"))
      if (!journal.isEmpty && !cfg.rerun && !cfg.incremental)
        throw new UnsupportedOperationException("traced resume of a partial job")
    }
    val curDigests =
      if (!cfg.incremental) None
      else Some(tr.span("digest", "side_digests")(done(
        DiffEngine.sideDigests(fsrc, ftgt, spec, options.buckets, token)))._1)
    val priorDigests = curDigests.flatMap { _ =>
      if (!store.exists("bucket_digests")) None
      else Some(tr.span("journal.read", "bucket_digests")(done(
        latestPerBucket("bucket_digests", spec, mergeSchema = true)))._1)
    }
    val (unchanged, retired) = (curDigests, priorDigests) match {
      case (Some(cur), Some(pr)) => tr.span("resume", "unchanged_buckets") {
        val u = DiffEngine.unchangedDigestBuckets(cur, pr).as[Long].collect().toSeq
        val r = pr.select("bucket").as[Long].collect().toSeq
          .diff(cur.select("bucket").as[Long].collect().toSeq)
        c.add("resume.buckets", cur.count())
        c.add("resume.unchanged", u.size)
        (u, r)
      }
      case _ => (Nil, Nil)
    }
    def keyed(df: DataFrame): DataFrame = {
      val k = df.withColumn("__token", token(spec.pk.map(col)))
      k.withColumn("__bucket", DiffEngine.bucketOf(k, options.buckets, tokenCol = "__token"))
    }
    def restricted(df: DataFrame, buckets: Seq[Long], how: String): DataFrame =
      keyed(df).join(broadcast(buckets.toDF("__b")), col("__bucket") === col("__b"), how)
        .drop("__token", "__bucket", "__b")
    val (csrc, ctgt) =
      if (unchanged.isEmpty) (fsrc, ftgt)
      else tr.span("resume", "changed_only") {
        (done(restricted(fsrc, unchanged, "left_anti"))._1,
          done(restricted(ftgt, unchanged, "left_anti"))._1)
      }
    val digestPre =
      if (!cfg.digestFirst) None
      else Some(tr.span("digest", "prefilter") {
        val (d, n) = done(DiffEngine.digestProgress(csrc, ctgt, spec, options.buckets, token))
        val dirty = d.filter(!col("digest_match"))
          .select(col("bucket").cast("long")).as[Long].collect().toSeq
        (d, n, dirty)
      })
    // buckets digested, and how many of them the wide join still reads
    curDigests.map(_.count()).orElse(digestPre.map(_._2)).foreach { seen =>
      c.add("digest.buckets", seen)
      c.add("digest.dirty", digestPre.fold(seen - unchanged.size)(_._3.size.toLong))
    }
    val (src, tgt) = digestPre match {
      case None => (csrc, ctgt)
      case Some((_, _, dirty)) => tr.span("digest", "dirty_only") {
        (done(restricted(csrc, dirty, "left_semi"))._1,
          done(restricted(ctgt, dirty, "left_semi"))._1)
      }
    }
    val (ps, parts) = tr.span("join", "partition_stats") {
      c.add("join.rows_in", src.count() + tgt.count())
      done(DiffEngine.partitionStats(src, tgt, spec, token))
    }
    c.add("join.partitions", parts)
    val runTs = System.currentTimeMillis()
    def stamped(df: DataFrame): DataFrame =
      df.withColumn("job_id", lit(cfg.jobId)).withColumn("run_ts", lit(runTs))
    write("mismatches", stamped(DiffEngine.mismatchesFromPartitions(ps, spec, options.buckets)
      .select("table_name", "bucket", "token", "mismatch_type")), Seq("job_id"))
    if (cfg.repair) {
      val (stmts, n) = tr.span("repair", "statements")(done(
        Repair.repairStatements(src, tgt, spec)
          .withColumn("token", token(spec.pk.map(col)))
          .select(col("token"), col("action"), col("statement"))
          .withColumn("table_name", lit(spec.table))))
      c.add("repair.statements", n)
      write("repair_scripts", stamped(stmts), Seq("job_id"), layer = "repair")
    }
    val fromDiff = DiffEngine.bucketProgressFromPartitions(ps, spec, options.buckets)
    val progress = digestPre match {
      case Some((d, _, _)) => fromDiff.unionByName(d.filter(col("digest_match")).drop("digest_match"))
      case None => fromDiff
    }
    write("task_status", stamped(progress.withColumn("status", lit(Resume.StatusDone))),
      Seq("job_id"))
    if (retired.nonEmpty) {
      val tokenType = fsrc.select(token(spec.pk.map(col)).as("__t")).schema("__t").dataType
      val zero = Seq("matched_partitions", "mismatched_partitions", "only_in_source",
        "only_in_target", "matched_rows", "matched_values", "mismatched_values")
        .foldLeft(retired.toDF("bucket"))((df, c) => df.withColumn(c, lit(0L)))
      write("task_status", stamped(zero.withColumn("last_token", lit(null).cast(tokenType))
        .withColumn("table_name", lit(spec.table)).withColumn("status", lit("done"))),
        Seq("job_id"))
    }
    curDigests.foreach(cur =>
      write("bucket_digests", stamped(cur.withColumn("table_name", lit(spec.table))),
        Seq("job_id"), layer = "digest"))
    if (options.reverseReadProbability > 0.0) {
      val (rv, n) = tr.span("reverse", "validation")(done(
        DiffEngine.reverseValidation(src, tgt, spec, options.reverseReadProbability, token)))
      c.add("reverse.partitions", n)
      write("reverse_checks", stamped(rv.filter(!col("agree"))
        .select(col("token"), col("fwd_classification"), col("rev_classification"))
        .withColumn("table_name", lit(spec.table))), Seq("job_id"), layer = "reverse")
    }
    val counters = Seq("matched_partitions", "mismatched_partitions",
      "only_in_source", "only_in_target", "matched_rows", "matched_values",
      "mismatched_values")
    val totals = tr.span("journal.read", "task_status") {
      val sums = counters.map(k => coalesce(sum(col(k)), lit(0L)).as(k))
      latestPerBucket("task_status", spec, mergeSchema = false)
        .agg(sums.head, sums.tail: _*).collect()(0)
    }
    val stats = RangeStats(
      matchedPartitions = totals.getAs[Long]("matched_partitions"),
      mismatchedPartitions = totals.getAs[Long]("mismatched_partitions"),
      onlyInSource = totals.getAs[Long]("only_in_source"),
      onlyInTarget = totals.getAs[Long]("only_in_target"),
      matchedRows = totals.getAs[Long]("matched_rows"),
      matchedValues = totals.getAs[Long]("matched_values"),
      mismatchedValues = totals.getAs[Long]("mismatched_values"))
    write("job_results", Seq((cfg.jobId, spec.table, runTs, stats.matchedPartitions,
      stats.mismatchedPartitions, stats.onlyInSource, stats.onlyInTarget,
      stats.matchedRows, stats.matchedValues, stats.mismatchedValues,
      stats.skippedPartitions)).toDF("job_id", "table_name", "run_ts",
      "matched_partitions", "mismatched_partitions", "only_in_source",
      "only_in_target", "matched_rows", "matched_values", "mismatched_values",
      "skipped_partitions"), Seq("job_id"), layer = "journal.write")
    stats
  }
}

/** `--trace 1`: untraced jobs for the overhead baseline, then traced
  * jobs and API probes; every per-layer metric is the median over the
  * traced repetitions.
  */
object Trace {
  import PerfBench._

  val TracedJobs = 2
  val UntracedJobs = 2
  val ProbeReps = 5

  /** Layer metrics of one traced job. */
  private def layerMetrics(tr: Tracer, run: String, c: Counts, journalBytes: Long,
      untracedS: Double): Map[String, Double] = {
    tr.drain()
    val spans = tr.spans.filter(_.run == run)
    val job = spans.find(_.layer == "runner").get
    val l = tr.listener
    def ids(layer: String) = spans.filter(_.layer == layer).map(_.id)
    def secs(layer: String) = spans.filter(_.layer == layer).map(_.seconds).sum
    val children = spans.filter(_.parent == job.id).map(_.seconds).sum
    // share of the job's wall-clock window with at least one Spark job running
    val busy = {
      val iv = l.synchronized(l.jobIntervals.toList)
        .map { case (a, b) => (math.max(a, job.startMs), math.min(b, job.endMs)) }
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L
      var reach = Long.MinValue
      iv.foreach { case (a, b) =>
        if (b > reach) { covered += b - math.max(a, reach); reach = b }
      }
      covered.toDouble / math.max(1L, job.endMs - job.startMs)
    }
    Map(
      "sources.scan_s" -> secs("sources"),
      "sources.rows" -> c("sources.rows"),
      "sources.bytes" -> l.count(ids("sources"), "input_bytes").toDouble,
      "digest.s" -> secs("digest"),
      "digest.dirty_bucket_frac" ->
        (if (c("digest.buckets") == 0) 0.0 else c("digest.dirty") / c("digest.buckets")),
      "digest.shuffle_bytes" -> l.count(ids("digest"), "shuffle_bytes").toDouble,
      "join.s" -> secs("join"),
      "join.rows_in" -> c("join.rows_in"),
      "join.partitions" -> c("join.partitions"),
      "join.shuffle_bytes" -> l.count(ids("join"), "shuffle_bytes").toDouble,
      "join.spill_bytes" -> l.count(ids("join"), "spill_bytes").toDouble,
      "stats.s" -> secs("stats"),
      "reverse.s" -> secs("reverse"),
      "reverse.partitions" -> c("reverse.partitions"),
      "repair.s" -> secs("repair"),
      "repair.statements" -> c("repair.statements"),
      "resume.s" -> secs("resume"),
      "resume.unchanged_bucket_frac" ->
        (if (c("resume.buckets") == 0) 0.0 else c("resume.unchanged") / c("resume.buckets")),
      "journal.write_s" -> secs("journal.write"),
      "journal.writes" -> c("journal.writes"),
      "journal.rows_written" -> c("journal.rows_written"),
      "journal.files_published" -> c("journal.files_published"),
      "journal.read_s" -> secs("journal.read"),
      "journal.bytes" -> journalBytes.toDouble,
      "runner.self_s" -> (job.seconds - children),
      "spark.jobs" -> l.count(spans.map(_.id), "jobs").toDouble,
      "spark.tasks" -> l.count(spans.map(_.id), "tasks").toDouble,
      "spark.busy_frac" -> busy,
      "trace.job_s" -> job.seconds,
      "trace.untraced_job_s" -> untracedS)
  }

  def unit(metric: String): String =
    if (metric.endsWith("_ms") || metric.startsWith("api.query_ms.")) "ms"
    else if (metric.endsWith("_s") || metric.endsWith(".s")) "s"
    else if (metric.endsWith("bytes")) "bytes"
    else if (metric.endsWith("_frac")) "frac"
    else if (metric.endsWith("_mb")) "MB"
    else "count"

  /** The frame each endpoint serves, queried directly. */
  def direct(api: ResultsApi, endpoint: String, jobId: String, table: String): DataFrame =
    endpoint match {
      case "recent" => api.recentJobs()
      case "job" => api.job(jobId)
      case "results" => api.jobResults(jobId)
      case "status" => api.jobStatus(jobId)
      case "mismatches" => api.jobMismatches(jobId)
      case "mismatches_summary" => api.mismatchSummary(jobId)
      case "repair" => api.jobRepair(jobId, Some(table))
      case "errors_summary" => api.errorSummary(jobId)
    }

  /** Each endpoint queried directly (rendered to JSON as the server
    * renders it), then over HTTP, ProbeReps times in turn. `api.serve_ms`
    * is the median over endpoints of each endpoint's median paired
    * difference (HTTP minus the direct call just before it).
    */
  def probes(report: Report, root: Path, port: Int, jobId: String, want: Expect)
      (implicit spark: SparkSession): Map[String, Double] = {
    val api = new ResultsApi(new MetadataStore(root.toString))
    val table = want.table
    def ms(t0: Long) = (System.nanoTime() - t0) / 1e6
    val pairs = ApiCheck.Endpoints.map { ep =>
      ep -> (1 to ProbeReps).map { _ =>
        val t0 = System.nanoTime()
        val n = this.direct(api, ep, jobId, table).limit(10000).toJSON.collect().length
        val direct = ms(t0)
        val t1 = System.nanoTime()
        val (code, body) = ApiCheck.get(port, ApiCheck.path(ep, jobId, table))
        val http = ms(t1)
        report.op(ApiCheck.check(want, ep, table, code, body))
        (direct, http, n)
      }
    }
    pairs.map { case (ep, xs) => s"api.query_ms.$ep" -> median(xs.map(_._1)) }.toMap ++ Map(
      "api.serve_ms" -> median(pairs.map { case (_, xs) => median(xs.map(x => x._2 - x._1)) }),
      "api.rows" -> pairs.map(_._2.head._3.toDouble).sum)
  }

  /** The traced job's journal against the untraced DiffRunner.run's:
    * the same tables with the same row counts, or the copy in TracedJob
    * has drifted from the runner.
    */
  def checkFidelity(traced: Map[String, Long], runner: Map[String, Long]): Seq[String] =
    if (traced == runner) Nil
    else Seq(s"traced journal differs from DiffRunner.run's: got $traced, want $runner")

  /** Untraced jobs for the overhead baseline and the journal the traced
    * job must match, then traced repetitions; the API metrics are probed
    * once against the last traced job's journal.
    */
  def diffWorkload(args: Args, report: Report, kind: JobKind, p: Prepared,
      template: Option[Path], want: Expect, bench: DiffBench)
      (implicit spark: SparkSession): Unit = {
    val untraced = (1 to UntracedJobs).map { _ =>
      val j = bench.job(p, template, want, rows = true)
      report.op(j.problems)
      j
    }
    val untracedS = median(untraced.map(_.seconds))
    val tr = new Tracer(spark)
    var api = Map.empty[String, Double]
    val samples = try (1 to TracedJobs).map { i =>
      val root = args.work.resolve(s"traced/$i")
      template.foreach(t => copyTree(t, root))
      val before = treeBytes(root)
      val jobId = template.fold(s"traced-$i")(_ => "nightly")
      val (s, t, cfg) = kind.runner(jobId, p.source, p.target, root)
      val c = new Counts
      val run = s"traced-$i"
      tr.newRun(run)
      try {
        val stats = new TracedJob(s, t, cfg, tr, c).run()
        report.op(want.checkStats(stats, "traced job") ++ want.checkJournal(root, jobId) ++
          checkFidelity(journalRows(root), untraced.head.journalRows))
        val m = layerMetrics(tr, run, c, treeBytes(root) - before, untracedS)
        if (i == TracedJobs) {
          val server = new graft.api.DiffApiServer(new MetadataStore(root.toString), 0)
          try api = probes(report, root, server.start(), jobId, want)
          finally server.stop()
        }
        m
      } finally deleteTree(root)
    } finally tr.stop()
    val keys = samples.head.keys.toSeq.sorted
    keys.foreach(k => report.metric(k, median(samples.map(_(k))), unit(k)))
    api.toSeq.sorted.foreach { case (k, v) => report.metric(k, v, unit(k)) }
    val traced = median(samples.map(_("trace.job_s")))
    report.metric("trace.overhead_frac", traced / untracedS - 1, "frac")
    report.detail("spans", tr.spans.map { sp => Map[String, Object](
      "id" -> Int.box(sp.id), "run" -> sp.run, "layer" -> sp.layer, "name" -> sp.name,
      "parent" -> Int.box(sp.parent), "start_ms" -> Long.box(sp.startMs),
      "dur_ms" -> Double.box(sp.seconds * 1000)).asJava }.asJava)
  }
}
