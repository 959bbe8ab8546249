package ocsfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import graft.ocsf.{CoreLayer, IngestMetrics, Monitor, SarifToOcsf, Staging}
import org.apache.spark.sql.Row

/** `ocsf_ingest`: a closed loop with one producer. Each drop is one
  * seeded SARIF scan: SARIF file on disk -> `SarifToOcsf.convert`
  * (default enrichment chain) -> `writeFindingsArray` (.ocsf.json) ->
  * `Monitor.run` one-shot with a metrics table -> `Staging.mergeRun` ->
  * `CoreLayer.openFindingsBySeverity`. Freshness is the time from the
  * SARIF file being complete to the dashboard result that includes it.
  * `Staging.vacuumVersions` runs every [[VacuumEvery]] drops on a
  * background thread. Setup preloads [[PreloadScans]] scans (about 100
  * times the mean drop) as staging history.
  *
  * After every drop the dashboard must equal the generator's ground
  * truth; at the end, malformed documents must be in `failed/` and
  * counted in the ingest metrics table. The traced run then measures
  * corpus curation's layers ([[Curation]]).
  */
final class Ingest(ctx: Ctx) extends Workload {
  import Ingest._
  import ctx.{spark, tracer => tr}

  final class State(val dir: Path, val gen: SarifGen) {
    val inbox   = dir.resolve("inbox")
    val landing = dir.resolve("landing").toString
    val failed  = dir.resolve("failed")
    val ckpt    = dir.resolve("checkpoint").toString
    val metrics = dir.resolve("ingest_metrics").toString
    val staging = dir.resolve("staging")
    var loadSeq   = 0L
    var drops     = 0
    var malformed = 0L
  }

  private var st: State = _

  /** The traced run also measures corpus curation ([[Curation]]). */
  override def oracleQueries: Seq[String] = if (ctx.traced) Seq(Curation.OracleQuery) else Nil

  def setup(dir: Path): Unit = {
    st = preload(dir)
    // Warm pass: a small drop carrying a malformed document, then a
    // medium one, so the measured block starts with more of the
    // conversion and merge code compiled.
    drop(st, SarifGen.Drop(st.gen.newScan(40), redrop = false, malformed = true))
    drop(st, SarifGen.Drop(st.gen.newScan(300), redrop = false, malformed = false))
    ()
  }

  /** Staging history: [[PreloadScans]] scans converted and landed as one
    * batch, then merged, so its rows are the ones this path writes. */
  private def preload(dir: Path): State = {
    val st = new State(dir, new SarifGen(ctx.seed))
    val preload = (0 until PreloadScans).map(st.gen.historyScan)
    preload.foreach(s => Files2.write(dir.resolve(s"preload/${s.id}.sarif"), SarifGen.sarifJson(s)))
    val history = SarifToOcsf.convert(SarifToOcsf.readSarif(spark, dir.resolve("preload").toString))
    graft.ocsf.Landing.append(history, st.landing)
    Staging.mergeRun(spark, st.landing, st.staging.toString)
    preload.foreach(s => st.gen.loaded(s, 0L))
    st
  }

  /** One drop through the whole path; returns its freshness in seconds. */
  private def drop(st: State, d: SarifGen.Drop): Double = tr.span("drop") {
    st.drops += 1
    val n     = st.drops
    val sarif = st.dir.resolve(f"sarif/drop-$n%05d.sarif")
    Files2.write(sarif, SarifGen.sarifJson(d.scan))
    val t0 = System.nanoTime()
    val findings = tr.span("ocsf.SarifToOcsf.convert") {
      val df = SarifToOcsf.convert(SarifToOcsf.readSarif(spark, sarif.toString))
      if (tr.enabled) df.persist().count()
      df
    }
    tr.span("ocsf.SarifToOcsf.write_array") {
      SarifToOcsf.writeFindingsArray(findings, st.inbox.resolve(f"drop-$n%05d.ocsf.json").toString)
    }
    if (tr.enabled) findings.unpersist()
    if (d.malformed) {
      Files2.write(st.inbox.resolve(f"bad-$n%05d.ocsf.json"), SarifGen.malformedDocument(n))
      st.malformed += 1
    }
    val landed0 = if (tr.enabled) Files2.bytesUnder(Path.of(st.landing)) else 0L
    tr.span("ocsf.Monitor.batch") {
      Monitor
        .run(spark, st.inbox.toString, st.landing, st.failed.toString, st.ckpt, metricsPath = Some(st.metrics))
        .awaitTermination()
    }
    tr.span("ocsf.Staging.merge") { Staging.mergeRun(spark, st.landing, st.staging.toString) }
    val dash = tr.span("ocsf.CoreLayer.dashboard") {
      CoreLayer.openFindingsBySeverity(Staging.readCurrent(spark, st.staging.toString).get).collect()
    }
    val fresh = Stats.secondsSince(t0)
    if (tr.enabled) {
      tr.count("landing_bytes", (Files2.bytesUnder(Path.of(st.landing)) - landed0).toDouble)
      val v = Staging.currentVersion(spark, st.staging.toString).get
      tr.count("rewritten_bytes", Files2.bytesUnder(st.staging.resolve(s"v=$v")).toDouble)
    }
    st.loadSeq += 1
    st.gen.loaded(d.scan, st.loadSeq)
    checkDashboard(st, dash, n)
    fresh
  }

  private def checkDashboard(st: State, rows: Array[Row], n: Int): Unit = {
    val got  = rows.map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val want = st.gen.expectedDashboard
    if (got != want) {
      val diff = (got.keySet ++ want.keySet).filter(k => got.get(k) != want.get(k)).take(3)
      ctx.mismatch(s"ocsf_ingest drop $n: dashboard differs from ground truth at " +
        diff.map(k => s"$k got=${got.get(k)} want=${want.get(k)}").mkString("; "))
    }
  }

  def measure(seconds: Double): Measured = {
    val vacuumer = java.util.concurrent.Executors.newSingleThreadExecutor()
    var pending: java.util.concurrent.Future[_] = null
    val fresh    = scala.collection.mutable.ArrayBuffer.empty[Double]
    val traced   = scala.collection.mutable.ArrayBuffer.empty[Double]
    val sizes    = scala.collection.mutable.ArrayBuffer.empty[Int]
    var findings = 0L
    var attempted, failed = 0L
    val gcs  = ManagementFactory.getGarbageCollectorMXBeans.asScala
    val heapAfterGc = new HeapAfterGc
    var gc0  = 0L

    /** One block of the size schedule; drops at block positions where
      * `traceAt` holds are traced. Returns the block's wall seconds. */
    def runBlock(traceAt: Int => Boolean): Double = {
      val b0 = System.nanoTime()
      st.gen.startBlock()
      var i = 0
      while (i < SarifGen.BlockSize && failed == 0) {
        val d = st.gen.nextDrop()
        tr.enabled = traceAt(i)
        attempted += 1
        i += 1
        try {
          (if (tr.enabled) traced else fresh) += drop(st, d)
          if (tr.enabled) sizes += d.scan.size
          findings += d.scan.size
          // Every vacuum of a traced run is traced: `tr.enabled` belongs to
          // the drop loop, which may have changed it before the vacuum runs.
          if (st.drops % VacuumEvery == 0 && (pending == null || pending.isDone))
            pending = vacuumer.submit(new Runnable {
              def run(): Unit = tr.span("ocsf.Staging.vacuum", ctx.traced) {
                Staging.vacuumVersions(spark, st.staging.toString, keep = 2)
              }
            })
        } catch {
          case e: Exception =>
            failed += 1
            ctx.mismatch(s"ocsf_ingest drop ${st.drops} failed: $e")
        }
      }
      Stats.secondsSince(b0)
    }

    // Whole blocks only, so every seed measures the same size mix. Untraced:
    // another block only while it is expected to end within `seconds`, and
    // never fewer than one. Traced: two blocks, tracing the even positions
    // of the first and the odd positions of the second, so traced and
    // untraced drops cover the same sizes and the same warm-up; the
    // difference of their summed wall times is the tracing overhead.
    var wall = 0.0
    if (ctx.traced) {
      ctx.engine.foreach(_.start())
      heapAfterGc.start()
      gc0 = gcs.map(_.getCollectionTime).sum
      runBlock(_ % 2 == 0)
      runBlock(_ % 2 == 1)
    } else {
      var last = 0.0
      while (failed == 0 && (wall == 0.0 || wall + last <= seconds)) {
        last = runBlock(_ => false)
        wall += last
      }
    }
    vacuumer.shutdown()
    vacuumer.awaitTermination(120, java.util.concurrent.TimeUnit.SECONDS)
    val gcS      = (gcs.map(_.getCollectionTime).sum - gc0) / 1000.0
    heapAfterGc.stop()
    ctx.engine.foreach(_.stop())
    tr.enabled = false

    // Untimed: end-of-run checks, and one more vacuum so the storage figure
    // holds exactly the versions the retention policy keeps.
    val summary = IngestMetrics.summary(spark, st.metrics).head()
    val corrupt = summary.getAs[Long]("corrupt_rows")
    if (corrupt != st.malformed)
      ctx.mismatch(s"ocsf_ingest: ingest metrics count $corrupt corrupt rows, ${st.malformed} injected")
    val failedDocs = failedLines(st.failed)
    if (failedDocs.size != st.malformed || failedDocs.exists(!_.startsWith("[{\"class_name\"")))
      ctx.mismatch(s"ocsf_ingest: failed/ holds ${failedDocs.size} documents, ${st.malformed} injected")

    Staging.vacuumVersions(spark, st.staging.toString, keep = 2)
    val stored = Files2.bytesUnder(Path.of(st.landing)) + Files2.bytesUnder(st.staging)
    val ops    = fresh.toSeq
    val e2e = Map(
      "latency_p50_s"          -> Stats.median(ops),
      "latency_p75_s"          -> Stats.hdQuantile(ops, 0.75),
      "throughput_per_s"       -> findings / wall,
      "storage_bytes_per_item" -> stored.toDouble / st.gen.distinctFindings,
    )
    if (ctx.traced && tr.selfPerOp("ocsf.Staging.vacuum").isEmpty)
      ctx.mismatch("ocsf_ingest: the traced run recorded no vacuum")
    if (ctx.traced && heapAfterGc.collections.get == 0)
      ctx.mismatch("ocsf_ingest: no garbage collection during the traced run, so no heap-after-GC reading")
    val layers =
      if (!ctx.traced) Map.empty[String, Double]
      else {
        val nTraced = math.max(traced.size, 1)
        val nDrops  = math.max(traced.size + fresh.size, 1)
        val roots   = tr.roots("drop")
        val conv    = tr.selfByRoot("ocsf.SarifToOcsf.convert")
        def perFinding(keep: Int => Boolean) = Stats.median(
          roots.zip(sizes).collect { case (r, s) if keep(s) && conv.contains(r) => conv(r) / s * 1e6 }
        )
        val eng = ctx.engine.get
        Map(
          "ocsf.SarifToOcsf.convert_s"     -> Stats.median(tr.selfPerOp("ocsf.SarifToOcsf.convert")),
          "ocsf.SarifToOcsf.write_array_s" -> Stats.median(tr.selfPerOp("ocsf.SarifToOcsf.write_array")),
          "ocsf.Monitor.batch_s"           -> Stats.median(tr.selfPerOp("ocsf.Monitor.batch")),
          "ocsf.Staging.merge_s"           -> Stats.median(tr.selfPerOp("ocsf.Staging.merge")),
          "ocsf.CoreLayer.dashboard_s"     -> Stats.median(tr.selfPerOp("ocsf.CoreLayer.dashboard")),
          "ocsf.Staging.vacuum_s"          -> Stats.median(tr.selfPerOp("ocsf.Staging.vacuum")),
          "ocsf.SarifToOcsf.convert_us_per_finding.small" -> perFinding(_ < 200),
          "ocsf.SarifToOcsf.convert_us_per_finding.large" -> perFinding(_ >= 1000),
          "ocsf.Landing.bytes_appended"    -> tr.counter("landing_bytes") / nTraced,
          "ocsf.Staging.bytes_rewritten"   -> tr.counter("rewritten_bytes") / nTraced,
          "ocsf.Staging.write_amplification" ->
            tr.counter("rewritten_bytes") / math.max(tr.counter("landing_bytes"), 1.0),
          "ocsf.Staging.bytes_retained"    -> Files2.bytesUnder(st.staging).toDouble,
          "ocsf.Monitor.corrupt_rows"      -> corrupt.toDouble,
          "spark.planning_s"               -> eng.planningS.sum / nDrops,
          "spark.jobs"                     -> eng.jobs.get.toDouble / nDrops,
          "spark.tasks"                    -> eng.tasks.get.toDouble / nDrops,
          "jvm.heap_peak_mb"               -> heapAfterGc.peakMb,
          "jvm.gc_s"                       -> gcS / nDrops,
          "trace.overhead_s"               -> (traced.sum - fresh.sum),
        ) ++ new Curation(ctx, st.dir.resolve("curation")).run()
      }
    Measured(attempted, failed, e2e, layers, (fresh ++ traced).toSeq)
  }

  /** Lines of the text files Monitor wrote under `failed/`. */
  private def failedLines(dir: Path): Seq[String] =
    if (!Files.exists(dir)) Nil
    else {
      val s = Files.walk(dir)
      try
        s.iterator().asScala.toSeq
          .filter(f => Files.isRegularFile(f) && f.getFileName.toString.startsWith("part-"))
          .flatMap(f => Files.readAllLines(f).asScala)
          .filter(_.nonEmpty)
      finally s.close()
    }
}

object Ingest {

  /** History scans: 230 body-sized scans hold about 31k findings, 100
    * times the mean drop of the size schedule. */
  val PreloadScans = 230
  val VacuumEvery   = 4
}
