package ocsfbench

import java.nio.file.Path

import scala.jdk.CollectionConverters._

import graft.SparkEntry
import graft.ocsf.{CoreLayer, Staging}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

/** `analyst_mix`: a closed loop with one client issuing a seeded,
  * weighted sequence of the registry's `rel_*`, `win_*` and `grp_*`
  * queries over the generated star schema, plus `CoreLayer` dashboards
  * over a staging table preloaded the way `ocsf_ingest` preloads it. No
  * writes. The sequence is drawn in blocks: each block is a seeded
  * permutation holding every registry query once and each dashboard
  * [[DashboardWeight]] times, so whole blocks give every seed the same
  * mix.
  *
  * Checks: every dashboard execution must equal the generator's ground
  * truth; once per run, untimed, every registry query's warm-pass result
  * is written as parquet for run.py to compare with the registry's DuckDB
  * oracle SQL over the same files.
  */
final class Analyst(ctx: Ctx) extends Workload {
  import Analyst._
  import ctx.{spark, tracer => tr}

  private val sf = ctx.data.toString

  val registry: Seq[(String, (org.apache.spark.sql.SparkSession, String) => DataFrame)] =
    SparkEntry.queries.toSeq
      .filter { case (n, _) => Categories.exists(c => n.startsWith(c + "_")) }
      .sortBy(_._1)

  final class State(val dir: Path) {
    val gen     = new SarifGen(ctx.seed)
    val staging = dir.resolve("staging").toString
    /** Each registry query's warm-pass result, for the oracle check. */
    val results = new java.util.concurrent.ConcurrentHashMap[String, (StructType, Array[Row])]
  }

  /** The staging history of `ocsf_ingest`'s set-up: the same scans,
    * landed directly as OCSF documents ([[SarifGen.ocsfLines]]: the
    * converter's finding UIDs, severities and scan ids, fewer other
    * fields) instead of through the conversion, then merged. This
    * workload measures reads; the history's findings, not their
    * conversion, are what its dashboards see. */
  private def preload(st: State): Unit = {
    val scans = (0 until Ingest.PreloadScans).map(st.gen.historyScan)
    val docs  = st.dir.resolve("history.json")
    java.nio.file.Files.createDirectories(st.dir)
    java.nio.file.Files.write(docs, scans.iterator.flatMap(SarifGen.ocsfLines).toSeq.asJava)
    val landing = st.dir.resolve("landing").toString
    graft.ocsf.Landing.append(spark.read.schema(graft.ocsf.OcsfModel.ocsfFinding).json(docs.toString), landing)
    Staging.mergeRun(spark, landing, st.staging)
    scans.foreach(s => st.gen.loaded(s, 0L))
  }

  /** History preload and warm pass (every query once) share one thread
    * per core; the dashboards wait for the history. Registry results are
    * kept for the oracle check. */
  private var st: State = _

  override def oracleQueries: Seq[String] = registry.map(_._1)

  def setup(dir: Path): Unit = {
    st = new State(dir)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(ctx.cpus)
    def submit(body: => Unit) =
      pool.submit(new java.util.concurrent.Callable[Unit] { def call(): Unit = body })
    try {
      val history = submit(preload(st))
      val (dash, reg) = block(new java.util.Random(ctx.seed)).partition(Dashboards.contains)
      val warm = reg.map(q => submit(run(st, q, keep = true)))
      history.get()
      (warm ++ dash.map(q => submit(run(st, q)))).foreach(_.get())
    } finally pool.shutdown()
  }

  private def block(rng: java.util.Random): Seq[String] =
    scala.util.Random.javaRandomToRandom(rng).shuffle(
      registry.map(_._1) ++ Seq.fill(DashboardWeight)(Dashboards).flatten
    )

  private def category(q: String): String = q.takeWhile(_ != '_')

  /** Run query `q` to completion (rows collected, as a client would). */
  private def run(st: State, q: String, keep: Boolean = false): Array[Row] = tr.span(s"queries.${category(q)}") {
    q match {
      case "core_open_by_severity" =>
        val rows = CoreLayer.openFindingsBySeverity(current(st)).collect()
        val got  = rows.map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
        if (got != st.gen.expectedDashboard) ctx.mismatch(s"analyst_mix $q differs from ground truth")
        rows
      case "core_findings_by_tool" =>
        val rows = CoreLayer.latestFindingState(current(st)).groupBy(col("tool_name")).count().collect()
        val got  = rows.map(r => r.getString(0) -> r.getLong(1)).toMap
        val want = st.gen.expectedDashboard.groupMapReduce(_._1._1)(_._2)(_ + _)
        if (got != want) ctx.mismatch(s"analyst_mix $q differs from ground truth")
        rows
      case _ =>
        val df   = registryFn(q)(spark, sf)
        val rows = df.collect()
        if (keep) st.results.put(q, (df.schema, rows))
        rows
    }
  }

  private lazy val registryFn = registry.toMap

  private def current(st: State): DataFrame = Staging.readCurrent(spark, st.staging).get

  /** Runs whole blocks. Untraced: another block only while it is
    * expected to end within `seconds` (judged by the last block's wall
    * time), and never fewer than one, so every seed's figures cover the
    * same mix. Traced: the same block twice, tracing its even positions
    * the first time and its odd positions the second, so every query runs
    * once each way at matched warm-up; the difference of the summed
    * traced and untraced latencies is the tracing overhead. */
  def measure(seconds: Double): Measured = {
    val rng      = new java.util.Random(ctx.seed * 31 + 7)
    val lat      = scala.collection.mutable.ArrayBuffer.empty[Double]
    val tlat     = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
    var wall     = 0.0
    var attempted, failed = 0L

    /** One block, tracing the positions where `traceAt` holds; returns the
      * untraced latencies and the block's wall seconds. */
    def runBlock(qs: Seq[String], traceAt: Int => Boolean): (Seq[Double], Double) = {
      val b0  = System.nanoTime()
      val out = qs.zipWithIndex.flatMap { case (q, i) =>
        tr.enabled = traceAt(i)
        val q0 = System.nanoTime()
        attempted += 1
        try {
          run(st, q)
          val dt = Stats.secondsSince(q0)
          if (tr.enabled) { tlat += q -> dt; None }
          else Some(dt)
        } catch {
          case e: Exception =>
            failed += 1
            ctx.mismatch(s"analyst_mix $q failed: $e")
            None
        }
      }
      (out, Stats.secondsSince(b0))
    }

    if (ctx.traced) {
      val qs = block(rng)
      ctx.engine.foreach(_.start())
      lat ++= runBlock(qs, _ % 2 == 0)._1
      lat ++= runBlock(qs, _ % 2 == 1)._1
    } else {
      var last = 0.0
      while (wall == 0.0 || wall + last <= seconds) {
        val (l, w) = runBlock(block(rng), _ => false)
        lat ++= l
        wall += w
        last = w
      }
    }
    ctx.engine.foreach(_.stop())
    tr.enabled = false

    // Untimed: the warm-pass results, for run.py's comparison with the
    // DuckDB oracle.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(ctx.cpus)
    try
      st.results.asScala.toSeq
        .map { case (name, (schema, rows)) =>
          pool.submit(new Runnable {
            def run(): Unit = ctx.oracleResult(name, spark.createDataFrame(rows.toSeq.asJava, schema))
          })
        }
        .foreach(_.get())
    finally pool.shutdown()

    val stored = Files2.bytesUnder(Path.of(st.staging))
    val e2e = Map(
      "latency_p50_s"          -> Stats.median(lat.toSeq),
      "latency_p75_s"          -> Stats.hdQuantile(lat.toSeq, 0.75),
      "throughput_per_s"       -> lat.size / wall,
      "storage_bytes_per_item" -> stored.toDouble / st.gen.distinctFindings,
    )
    val layers =
      if (!ctx.traced) Map.empty[String, Double]
      else {
        val eng = ctx.engine.get
        val n   = math.max(tlat.size + lat.size, 1)
        def p50(cat: String) = Stats.median(tlat.collect { case (q, t) if category(q) == cat => t }.toSeq)
        Map(
          "queries.rel.p50_s"   -> p50("rel"),
          "queries.win.p50_s"   -> p50("win"),
          "queries.grp.p50_s"   -> p50("grp"),
          "queries.core.p50_s"  -> p50("core"),
          "spark.planning_s"    -> eng.planningS.sum / n,
          "spark.jobs"          -> eng.jobs.get.toDouble / n,
          "spark.tasks"         -> eng.tasks.get.toDouble / n,
          "spark.shuffle_bytes" -> eng.shuffleBytes.get.toDouble / n,
          "Tables.scan_bytes"   -> eng.inputBytes.get.toDouble / n,
          "trace.overhead_s"    -> (tlat.map(_._2).sum - lat.sum),
        )
      }
    Measured(attempted, failed, e2e, layers, (lat ++ tlat.map(_._2)).toSeq)
  }
}

object Analyst {
  val Categories      = Seq("rel", "win", "grp")
  val Dashboards      = Seq("core_open_by_severity", "core_findings_by_tool")
  val DashboardWeight = 2
}
