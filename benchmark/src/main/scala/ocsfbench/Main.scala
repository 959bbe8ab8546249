package ocsfbench

import java.nio.file.{Files, Path}

import graft.{AmbientProbe, SparkEntry}
import org.apache.spark.sql.SparkSession

/** Harness entry point, launched by run.py:
  *
  * {{{
  * Main --workload W --seed N --seconds S --trace 0|1 --cpus C
  *      --work DIR --data DIR --out FILE
  * }}}
  *
  * Starts a `local[C]` session, sets the workload up, measures it for S
  * seconds and writes one JSON object to FILE: set-up time, counts, metrics, the
  * output-check errors and the run's environment (the `AmbientProbe`
  * reading, CPU count, JDK and Spark versions). Exits non-zero only when
  * the harness itself breaks; output mismatches travel in the JSON.
  */
object Main {

  def main(args: Array[String]): Unit = {
    val opt     = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val name    = opt("workload")
    val seed    = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced  = opt("trace") == "1"
    val cpus    = opt("cpus").toInt
    val work    = Path.of(opt("work"))
    val data    = Path.of(opt("data"))

    val spark = SparkSession
      .builder()
      .master(s"local[$cpus]")
      .appName("ocsfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.plans.ShingleRewrite.installOn(spark)
    graft.plans.EditDistancePrefilter.installOn(spark)
    val readyMs = System.currentTimeMillis()

    val ctx = new Ctx(spark, cpus, seed, work, data, new Tracer(s"$name-$seed-$readyMs"), traced)
    val workload: Workload = name match {
      case "ocsf_ingest"     => new Ingest(ctx)
      case "analyst_mix"     => new Analyst(ctx)
    }
    val t0     = System.nanoTime()
    workload.setup(work.resolve("setup"))
    val setupS = Stats.secondsSince(t0)
    val m      = workload.measure(seconds)
    if (traced) ctx.tracer.write(work.resolve("spans.jsonl"))

    val ambientS = AmbientProbe.time(spark, cpus)
    val oracle = workload.oracleQueries
    val sql = SparkEntry.oracleSql
    def num(x: Double)   = if (x.isNaN || x.isInfinite) "null" else x.toString
    def obj(m: Map[String, Double]) =
      m.toSeq.sortBy(_._1).map { case (k, v) => s"${str(k)}:${num(v)}" }.mkString("{", ",", "}")
    val json = Seq(
      s""""ready_ms":$readyMs""",
      s""""setup_s":${num(setupS)}""",
      s""""attempted":${m.attempted}""",
      s""""failed":${m.failed}""",
      s""""errors":${ctx.errors.map(str).mkString("[", ",", "]")}""",
      s""""e2e":${obj(m.e2e)}""",
      s""""layers":${obj(m.layers)}""",
      s""""op_s":${m.opSeconds.map(num).mkString("[", ",", "]")}""",
      s""""oracle":${oracle.map(q => s"${str(q)}:${sql.get(q).map(str).getOrElse("null")}").mkString("{", ",", "}")}""",
      s""""env":{"ambient_s":${num(ambientS)},"ambient_ratio":${num(AmbientProbe.ratio(ambientS, cpus))},""" +
        s""""nproc":${Runtime.getRuntime.availableProcessors},"cpus":$cpus,""" +
        s""""jdk":${str(System.getProperty("java.version"))},"spark":${str(spark.version)}}""",
    ).mkString("{", ",", "}")
    Files.write(Path.of(opt("out")), json.getBytes("UTF-8"))
    spark.stop()
  }

  /** JSON string literal. */
  def str(s: String): String = "\"" + s.flatMap {
    case '"'          => "\\\""
    case '\\'         => "\\\\"
    case '\n'         => "\\n"
    case '\r'         => "\\r"
    case '\t'         => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c            => c.toString
  } + "\""
}
