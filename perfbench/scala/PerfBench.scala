package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.api.{DiffApiServer, DiffJobConfig, DiffRunner}
import graft.cli.JobConfig
import graft.core.RangeStats
import graft.journal.MetadataStore
import graft.sources.ParquetSource

/** Diff-job benchmark: runs one workload closed-loop for a fixed time and
  * prints one JSON summary line (see perfbench/README.md).
  *
  *   PerfBench run --workload W --seed N --seconds S --trace 0|1 --work DIR
  *                 [--result FILE] [--report FILE] [--partitions P] [--perturb-expected]
  *   PerfBench gen --workload W --seed N --partitions P --work DIR
  */
object PerfBench {

  val Workloads = Seq("divergent_repair", "nightly_rerun")
  val DefaultPartitions = 12000
  val SetupReps = 3
  val MinOps = 4
  /** Runs of the timed job before timing, the cold first job included. */
  val WarmRuns = 2

  final case class Args(mode: String, workload: String, seed: Long,
      seconds: Double, trace: Boolean, work: Path, result: Option[Path],
      report: Option[Path], partitions: Int, perturbExpected: Boolean)

  def parse(a: Array[String]): Args = {
    val kv = a.drop(1).sliding(2, 1).collect {
      case Array(k, v) if k.startsWith("--") && !v.startsWith("--") => k -> v
    }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing $k"))
    val w = need("--workload")
    require(Workloads.contains(w), s"unknown workload $w (expected ${Workloads.mkString("|")})")
    Args(a.headOption.getOrElse("run"), w, need("--seed").toLong,
      kv.getOrElse("--seconds", "10").toDouble, kv.get("--trace").contains("1"),
      Paths.get(need("--work")).toAbsolutePath, kv.get("--result").map(Paths.get(_)),
      kv.get("--report").map(Paths.get(_)), kv.get("--partitions").map(_.toInt).getOrElse(DefaultPartitions),
      a.contains("--perturb-expected"))
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val t0 = System.nanoTime()
    Files.createDirectories(args.work)
    implicit val spark: SparkSession = session(args.work)
    val sessionS = secondsSince(t0)
    try args.mode match {
      case "gen" => Gen.write(args)
      case "run" =>
        val report = new Report(args)
        DiffBench(args, report, sessionS).run()
        report.finish()
        if (!report.correct) sys.exit(1)
      case other => throw new IllegalArgumentException(s"unknown mode $other")
    } finally spark.stop()
  }

  /** One local session over every core, the same engine settings
    * DiffJobMain uses, with scratch space kept under the work dir.
    */
  def session(work: Path): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors()
    val s = SparkSession.builder()
      .appName("perfbench")
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val all = Files.walk(p).iterator().asScala.toList
    all.sortBy(-_.getNameCount).foreach(Files.deleteIfExists(_))
  }

  def copyTree(from: Path, to: Path): Unit =
    Files.walk(from).iterator().asScala.toList.foreach { f =>
      val t = to.resolve(from.relativize(f).toString)
      if (Files.isDirectory(f)) Files.createDirectories(t)
      else Files.copy(f, t)
    }

  /** Row count of every journal table under a metadata root. */
  def journalRows(root: Path)(implicit spark: SparkSession): Map[String, Long] = {
    val store = new MetadataStore(root.toString)
    Files.list(root).iterator().asScala.map(_.getFileName.toString)
      .filter(t => t != "running_jobs" && Files.isDirectory(root.resolve(t)))
      .map(t => t -> store.read(t, mergeSchema = true).count()).toMap
  }

  def treeBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_))
      .map(Files.size).sum
}

/** The job settings a workload submits, rendered as the YAML a user
  * hands to DiffJobMain.
  */
final case class JobKind(tables: Seq[String], partitioner: String, digestFirst: Boolean,
    repair: Boolean, reverseReadProbability: Double, incremental: Boolean) {

  def shapes: Seq[Shape] = tables.map(Shape.named)

  def yaml(jobId: String, source: Path, target: Path, meta: Path): String =
    s"""keyspace_tables: [${tables.map("bench." + _).mkString(", ")}]
       |job_id: $jobId
       |buckets: 100
       |partitioner: $partitioner
       |reverse_read_probability: $reverseReadProbability
       |digest_first: $digestFirst
       |generate_repair: $repair
       |cluster_config:
       |  source: {impl: parquet, path: "$source"}
       |  target: {impl: parquet, path: "$target"}
       |  metadata: {path: "$meta"}
       |""".stripMargin

  /** YAML → runner, built the way DiffJobMain builds it. `incremental`
    * has no YAML key and is set on the runner config directly.
    */
  def runner(jobId: String, source: Path, target: Path, meta: Path)
      (implicit spark: SparkSession): (ParquetSource, ParquetSource, DiffJobConfig) = {
    val c = JobConfig.loadString(yaml(jobId, source, target, meta))
    val cfg = DiffJobConfig(
      jobId = c.jobId.get,
      tables = c.keyspaceTables.map(JobConfig.tableSpec),
      options = c.toDiffOptions,
      metadataRoot = c.clusterConfig("metadata")("path"),
      partitioner = c.partitioner,
      retry = c.retryPolicy,
      incremental = incremental,
      digestFirst = c.digestFirst,
      repair = c.generateRepair)
    (ParquetSource(c.clusterConfig("source")("path")),
      ParquetSource(c.clusterConfig("target")("path")), cfg)
  }

  def run(jobId: String, source: Path, target: Path, meta: Path)
      (implicit spark: SparkSession): Map[String, RangeStats] = {
    val (s, t, cfg) = runner(jobId, source, target, meta)
    new DiffRunner(s, t, cfg).run()
  }
}

object JobKind {
  val DivergentRepair = JobKind(Seq("lineitem"), "xxhash64", digestFirst = false,
    repair = true, reverseReadProbability = 0.5, incremental = false)
  val NightlyRerun = JobKind(Seq("orders"), "murmur3", digestFirst = true,
    repair = false, reverseReadProbability = 0.0, incremental = true)

  def of(workload: String): JobKind =
    if (workload == "nightly_rerun") NightlyRerun else DivergentRepair
}

/** A workload's generated inputs: the source, the target the timed jobs
  * diff against, and (nightly_rerun) the baseline target of the template
  * journal.
  */
final case class Prepared(inputs: Inputs, dir: Path, script: Map[String, Edits],
    baseline: Option[Map[String, Edits]]) {
  def source: Path = dir.resolve("source")
  def target: Path = dir.resolve("target")
  def baselineTarget: Path = dir.resolve("target_baseline")
}

object Prepared {

  /** Edit scripts per workload, drawn from the seed. */
  def scripts(workload: String, seed: Long, partitions: Int)
      : (Map[String, Edits], Option[Map[String, Edits]]) = workload match {
    case "nightly_rerun" =>
      val Seq(base, drift) =
        Inputs.draw(seed, partitions, Seq(Inputs.spread(15), Inputs.spread(10)))
      (base.map { case (t, e) => t -> (e ++ drift(t)) }, Some(base))
    case _ =>
      (Inputs.draw(seed, partitions, Seq(Inputs.perturbDensity(partitions))).head, None)
  }

  def generate(workload: String, seed: Long, partitions: Int, dir: Path,
      shapes: Seq[Shape])(implicit spark: SparkSession): Prepared = {
    val inputs = Inputs(seed, partitions, shapes)
    val (script, baseline) = scripts(workload, seed, partitions)
    val p = Prepared(inputs, dir, script, baseline)
    inputs.writeSource(spark, p.source.toString)
    inputs.writeTarget(spark, p.target.toString, script)
    baseline.foreach(b => inputs.writeTarget(spark, p.baselineTarget.toString, b))
    p
  }
}

/** Result checks against the edit script. Each returns the list of
  * disagreements; empty means correct.
  */
final case class Expect(stats: Map[String, RangeStats], repair: Map[String, Long],
    statusRows: Long) {

  /** The table the repair endpoint is asked about. */
  def table: String = stats.keys.min

  def mismatches: Long = stats.values.map(s =>
    s.mismatchedPartitions + s.onlyInSource + s.onlyInTarget).sum

  def checkStats(got: Map[String, RangeStats], what: String): Seq[String] =
    stats.toSeq.flatMap { case (t, want) =>
      got.get(t) match {
        case Some(g) if g == want => Nil
        case g => Seq(s"$what $t: got $g, want $want")
      }
    }

  /** The journal's newest job_results row per table. */
  def checkJournal(root: Path, jobId: String)(implicit spark: SparkSession): Seq[String] = {
    val store = new MetadataStore(root.toString)
    val rows = store.read("job_results", mergeSchema = true)
      .filter(col("job_id") === jobId).collect()
      .groupBy(_.getAs[String]("table_name"))
      .map { case (t, rs) => t -> graft.journal.MetadataStore.toRangeStats(
        rs.maxBy(_.getAs[Long]("run_ts"))) }
    checkStats(rows, "job_results")
  }

  private val json = new ObjectMapper()

  /** One API response body against the script. */
  def checkApi(endpoint: String, table: String, body: String): Seq[String] = {
    val rows = json.readTree(body)
    if (!rows.isArray) return Seq(s"$endpoint: not a JSON array: ${body.take(200)}")
    val n = rows.size.toLong
    def count(want: Long) = if (n == want) Nil else Seq(s"$endpoint: $n rows, want $want")
    endpoint match {
      case "recent" => count(1)
      case "job" => count(1)
      case "results" =>
        count(stats.size) ++ rows.elements().asScala.toSeq.flatMap { r =>
          val t = r.get("table_name").asText
          val got = RangeStats(
            matchedPartitions = r.get("matched_partitions").asLong,
            mismatchedPartitions = r.get("mismatched_partitions").asLong,
            onlyInSource = r.get("only_in_source").asLong,
            onlyInTarget = r.get("only_in_target").asLong,
            matchedRows = r.get("matched_rows").asLong,
            matchedValues = r.get("matched_values").asLong,
            mismatchedValues = r.get("mismatched_values").asLong,
            skippedPartitions = r.get("skipped_partitions").asLong)
          if (stats.get(t).contains(got)) Nil
          else Seq(s"api results $t: got $got, want ${stats.get(t)}")
        }
      case "status" => count(statusRows)
      case "mismatches" => count(mismatches)
      case "mismatches_summary" =>
        val want = stats.toSeq.flatMap { case (t, s) => Seq(
          (t, "ONLY_IN_SOURCE") -> s.onlyInSource,
          (t, "ONLY_IN_TARGET") -> s.onlyInTarget,
          (t, "PARTITION_MISMATCH") -> s.mismatchedPartitions) }
          .filter(_._2 > 0).toMap
        val got = rows.elements().asScala.map(r =>
          (r.get("table_name").asText, r.get("mismatch_type").asText) ->
            r.get("n").asLong).toMap
        if (got == want) Nil else Seq(s"mismatches_summary: got $got, want $want")
      case "repair" => count(repair.getOrElse(table, 0L))
      case "errors_summary" => count(0)
      case other => Seq(s"unknown endpoint $other")
    }
  }
}

object Expect {

  /** Cassandra-style token of a long partition key, per partitioner. */
  def token(partitioner: String)(k: Long): Long = partitioner match {
    case "murmur3" => graft.functions.CassandraMurmur3.token(
      graft.functions.CassandraMurmur3.serializeLong(k))
    case "xxhash64" =>
      org.apache.spark.sql.catalyst.expressions.XXH64.hashLong(k, 42L)
  }

  def apply(p: Prepared, kind: JobKind, perturb: Boolean,
      script: Map[String, Edits]): Expect = {
    val stats0 = p.inputs.expected(script)
    val stats =
      if (!perturb) stats0
      else stats0.map { case (t, st) => t -> st.copy(matchedRows = st.matchedRows + 1) }
    val tok = token(kind.partitioner) _
    val status = p.inputs.shapes.map(s => p.inputs.keys(script, s.name)
      .map(k => java.lang.Math.floorMod(tok(k), 100L)).distinct.size.toLong).sum
    Expect(stats, if (kind.repair) p.inputs.expectedRepair(script) else Map.empty, status)
  }
}

/** Samples, failures and the final JSON line of one run. */
final class Report(args: PerfBench.Args) {
  private val out = new java.util.LinkedHashMap[String, Object]()
  private val metrics = new java.util.LinkedHashMap[String, Object]()
  val problems = ArrayBuffer.empty[String]
  var attempted = 0L
  var failed = 0L

  def correct: Boolean = failed == 0 && problems.isEmpty

  /** Count one timed operation; its disagreements make it a failure. */
  def op(errors: Seq[String]): Unit = synchronized {
    attempted += 1
    if (errors.nonEmpty) { failed += 1; if (problems.size < 20) problems ++= errors }
  }

  /** A set-up check: no operation attempted, but a wrong answer fails the run. */
  def check(errors: Seq[String]): Unit = synchronized { problems ++= errors }

  def metric(name: String, value: Double, unit: String): Unit =
    metrics.put(name, Map[String, Object]("value" -> Double.box(value), "unit" -> unit).asJava)

  def detail(key: String, value: Object): Unit = out.put(key, value)

  def finish(): Unit = {
    val mapper = new ObjectMapper()
    val line = new java.util.LinkedHashMap[String, Object]()
    line.put("correct", Boolean.box(correct))
    line.put("attempted", Long.box(math.max(1, attempted)))
    line.put("failed", Long.box(if (attempted == 0 && !correct) 1 else failed))
    line.put("metrics", metrics)
    out.put("summary", line)
    out.put("problems", problems.asJava)
    args.report.foreach { f =>
      Files.createDirectories(f.toAbsolutePath.getParent)
      mapper.writerWithDefaultPrettyPrinter().writeValue(f.toFile, out)
    }
    val summary = mapper.writeValueAsString(line)
    args.result match {
      case Some(f) => Files.writeString(f, summary + "\n")
      case None => println(summary)
    }
    problems.take(5).foreach(p => System.err.println(s"[perfbench] wrong: $p"))
  }
}

/** Peak bytes of cached (RDD) blocks held in memory at once. */
final class BlockPeak extends SparkListener {
  private val blocks = mutable.Map.empty[String, Long]
  private var held = 0L
  private var peakHeld = 0L

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val b = e.blockUpdatedInfo
    if (b.blockId.isRDD) {
      held -= blocks.remove(b.blockId.name).getOrElse(0L)
      if (b.memSize > 0) { blocks(b.blockId.name) = b.memSize; held += b.memSize }
      peakHeld = math.max(peakHeld, held)
    }
  }

  // blocks of an unpersisted RDD are dropped without a block update
  override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit = synchronized {
    val prefix = s"rdd_${e.rddId}_"
    blocks.keys.filter(_.startsWith(prefix)).toList
      .foreach(b => held -= blocks.remove(b).getOrElse(0L))
  }

  private def drain(): Unit =
    org.apache.spark.PerfbenchBridge.drain(SparkSession.active.sparkContext)

  private var start = 0L

  /** Start a new window at what is held now. */
  def reset(): Unit = { drain(); synchronized { start = held; peakHeld = held } }

  /** Bytes held at the window start (blocks an earlier job left cached). */
  def held0: Long = synchronized(start)

  /** Peak growth above the window start. */
  def peak(): Long = { drain(); synchronized(peakHeld - start) }
}

/** One timed job: wall seconds, journal bytes added, peak growth of
  * Spark block storage, the block bytes still cached when it started, its
  * disagreements with the script, and (when asked for) the row count of
  * each journal table it left.
  */
final case class JobSample(seconds: Double, journalBytes: Long, peakBytes: Long,
    heldBefore: Long, problems: Seq[String], journalRows: Map[String, Long])

/** divergent_repair and nightly_rerun: one client, one
  * DiffRunner.run at a time, each into a fresh metadata root
  * (nightly_rerun: a fresh copy of the baseline journal).
  */
final case class DiffBench(args: PerfBench.Args, report: Report, sessionS: Double)
    (implicit spark: SparkSession) {
  import PerfBench._

  private val kind = JobKind.of(args.workload)
  private val blocks = new BlockPeak
  spark.sparkContext.addSparkListener(blocks)
  private var jobCount = 0

  /** One job. With `api`, its journal is also read back over HTTP; with
    * `rows`, its journal tables are counted.
    */
  def job(p: Prepared, template: Option[Path], want: Expect,
      api: Boolean = false, rows: Boolean = false): JobSample = {
    jobCount += 1
    val root = args.work.resolve(s"jobs/$jobCount")
    template.foreach(t => copyTree(t, root))
    val before = treeBytes(root)
    val jobId = template.fold(s"job-$jobCount")(_ => "nightly")
    blocks.reset()
    val t0 = System.nanoTime()
    val stats = kind.run(jobId, p.source, p.target, root)
    val s = secondsSince(t0)
    val peak = blocks.peak()
    val bytes = treeBytes(root) - before
    val problems = want.checkStats(stats, "returned") ++ want.checkJournal(root, jobId) ++
      (if (api) ApiCheck.overHttp(jobId, root, want, kind.repair) else Nil)
    val journal = if (rows) journalRows(root) else Map.empty[String, Long]
    deleteTree(root)
    JobSample(s, bytes, peak, blocks.held0, problems, journal)
  }

  def run(): Unit = {
    // set-up: input generation SetupReps times (the median counts), the
    // cold first job — for nightly_rerun the baseline job that writes the
    // journal every timed job starts from — and warm-up jobs until the
    // timed job has run WarmRuns times. Only the jobs' own run time counts,
    // not their checks.
    val gens = (1 to (if (args.trace) 1 else SetupReps)).map { rep =>
      val t0 = System.nanoTime()
      val p = Prepared.generate(args.workload, args.seed, args.partitions,
        args.work.resolve(s"inputs$rep"), kind.shapes)
      (secondsSince(t0), p)
    }
    val p = gens.last._2
    val want = Expect(p, kind, args.perturbExpected, p.script)
    val template = p.baseline.map(_ => args.work.resolve("template"))
    val coldS = p.baseline match {
      case Some(base) =>
        val t0 = System.nanoTime()
        val stats = kind.run("nightly", p.source, p.baselineTarget, template.get)
        val s = secondsSince(t0)
        report.check(Expect(p, kind, perturb = false, base)
          .checkStats(stats, "baseline job"))
        s
      case None =>
        val j = job(p, None, want)
        report.check(j.problems)
        j.seconds
    }
    val warm = (1 to WarmRuns - (if (template.isEmpty) 1 else 0))
      .map(i => job(p, template, want, api = i == 1))
    warm.foreach(j => report.check(j.problems))
    val rows = p.inputs.rowsDiffed(p.script)
    report.detail("session_s", Double.box(sessionS))
    report.detail("generate_s", gens.map(_._1).asJava)
    report.detail("first_job_s", Double.box(coldS))
    report.detail("warm_job_s", warm.map(_.seconds).asJava)
    report.detail("rows_diffed", Long.box(rows))
    if (args.trace) {
      Trace.diffWorkload(args, report, kind, p, template, want, this)
      return
    }
    // timed jobs: start another while it is expected to end within half a
    // job of the window
    val samples = ArrayBuffer.empty[JobSample]
    val start = System.nanoTime()
    def mean = if (samples.isEmpty) 0.0 else samples.map(_.seconds).sum / samples.size
    while (samples.size < MinOps || secondsSince(start) + mean / 2 < args.seconds) {
      try {
        val j = job(p, template, want)
        report.op(j.problems)
        samples += j
      } catch {
        case e: Exception => report.op(Seq(s"job threw ${e.toString.take(300)}"))
      }
      if (report.attempted > 2 * MinOps && samples.isEmpty) return
    }
    report.detail("job_s", samples.map(_.seconds).asJava)
    report.detail("journal_bytes", samples.map(_.journalBytes).asJava)
    report.detail("cache_peak_bytes", samples.map(_.peakBytes).asJava)
    report.detail("cache_held_before_bytes", samples.map(_.heldBefore).asJava)
    val jobS = median(samples.map(_.seconds).toSeq)
    report.metric("setup_s", sessionS + median(gens.map(_._1)) + coldS +
      warm.map(_.seconds).sum, "s")
    report.metric("job_s", jobS, "s")
    report.metric("rows_per_s", rows / jobS, "1/s")
    report.metric("journal_bytes", median(samples.map(_.journalBytes.toDouble).toSeq), "bytes")
    report.metric("cache_peak_mb", median(samples.map(_.peakBytes / 1e6).toSeq), "MB")
  }
}

/** HTTP checks of a job's journal through DiffApiServer. */
object ApiCheck {
  val Endpoints: Seq[String] = Seq("recent", "job", "results", "status",
    "mismatches", "mismatches_summary", "repair", "errors_summary")

  def path(endpoint: String, jobId: String, table: String): String = endpoint match {
    case "recent" => "/jobs/recent"
    case "job" => s"/jobs/$jobId"
    case "results" => s"/jobs/$jobId/results"
    case "status" => s"/jobs/$jobId/status"
    case "mismatches" => s"/jobs/$jobId/mismatches"
    case "mismatches_summary" => s"/jobs/$jobId/mismatches/summary"
    case "repair" => s"/jobs/$jobId/repair/$table"
    case "errors_summary" => s"/jobs/$jobId/errors/summary"
  }

  val client: HttpClient = HttpClient.newBuilder()
    .version(HttpClient.Version.HTTP_1_1).build()

  def get(port: Int, p: String): (Int, String) = {
    val r = client.send(HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$p")).GET().build(),
      HttpResponse.BodyHandlers.ofString())
    (r.statusCode, r.body)
  }

  def check(want: Expect, endpoint: String, table: String, code: Int, body: String): Seq[String] =
    if (code != 200) Seq(s"$endpoint: HTTP $code ${body.take(200)}")
    else want.checkApi(endpoint, table, body)

  /** Every endpoint of one job's journal, served by a throwaway server. */
  def overHttp(jobId: String, root: Path, want: Expect, repair: Boolean)
      (implicit spark: SparkSession): Seq[String] = {
    val server = new DiffApiServer(new MetadataStore(root.toString), 0)
    val port = server.start()
    try Endpoints.filter(e => repair || e != "repair").flatMap { ep =>
      val (code, body) = get(port, path(ep, jobId, want.table))
      check(want, ep, want.table, code, body)
    } finally server.stop()
  }
}

/** `gen`: write one workload's inputs plus the script and the expected
  * stats, for checking the generator against an independent recount.
  */
object Gen {
  def write(args: PerfBench.Args)(implicit spark: SparkSession): Unit = {
    val p = Prepared.generate(args.workload, args.seed, args.partitions, args.work, Shape.all)
    val kind = JobKind.of(args.workload)
    val m = new java.util.LinkedHashMap[String, Object]()
    m.put("partitions", Int.box(args.partitions))
    m.put("edits", p.script.map { case (t, e) =>
      t -> e.toMap.map { case (c, ks) => c -> ks.map(Long.box).asJava }.asJava }.asJava)
    m.put("expected", p.inputs.expected(p.script).map { case (t, s) =>
      t -> Map[String, Object](
        "matched_partitions" -> Long.box(s.matchedPartitions),
        "mismatched_partitions" -> Long.box(s.mismatchedPartitions),
        "only_in_source" -> Long.box(s.onlyInSource),
        "only_in_target" -> Long.box(s.onlyInTarget),
        "matched_rows" -> Long.box(s.matchedRows),
        "matched_values" -> Long.box(s.matchedValues),
        "mismatched_values" -> Long.box(s.mismatchedValues)).asJava }.asJava)
    m.put("repair_statements", p.inputs.expectedRepair(p.script)
      .map { case (t, n) => t -> Long.box(n) }.asJava)
    m.put("partitioner", kind.partitioner)
    new ObjectMapper().writerWithDefaultPrettyPrinter()
      .writeValue(args.work.resolve("expected.json").toFile, m)
  }
}
