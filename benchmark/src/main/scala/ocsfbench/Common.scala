package ocsfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

/** What a workload shares with the harness: the session, the run's
  * directories, the tracer and the output-check log. */
final class Ctx(
    val spark: SparkSession,
    val cpus: Int,
    val seed: Long,
    val work: Path,
    val data: Path,
    val tracer: Tracer,
    val traced: Boolean,
) {

  /** Engine counters, present in a traced run only. */
  val engine: Option[EngineCounters] = if (traced) Some(new EngineCounters(spark)) else None
  private val errs    = mutable.ArrayBuffer.empty[String]

  /** Record an output mismatch; any one fails the run. */
  def mismatch(msg: String): Unit = synchronized { if (errs.size < 20) errs += msg; () }
  def errors: Seq[String]         = synchronized(errs.toSeq)

  /** Write `df` as the result of registry query `name`, in the layout
    * `graft.Verify` dumps (one parquet directory per query), for run.py's
    * comparison with the query's DuckDB oracle SQL. */
  def oracleResult(name: String, df: DataFrame): Unit =
    df.coalesce(1).write.mode("overwrite").parquet(work.resolve(s"results/$name").toString)
}

/** One measured run of a workload. `e2e` and `layers` hold the metrics by
  * name; `opSeconds` the per-operation wall times behind the latency
  * figures. */
final case class Measured(
    attempted: Long,
    failed: Long,
    e2e: Map[String, Double],
    layers: Map[String, Double],
    opSeconds: Seq[Double],
)

trait Workload {

  /** Build inputs and warm state in `dir`. */
  def setup(dir: Path): Unit

  /** Closed loop over the set-up state for about `seconds`. */
  def measure(seconds: Double): Measured

  /** Registry queries whose oracle SQL run.py replays against the results
    * this run wrote with [[Ctx.oracleResult]]. */
  def oracleQueries: Seq[String] = Nil
}

object Stats {

  /** Linear-interpolated quantile, `q` in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s   = xs.sorted
      val pos = q * (s.size - 1)
      val lo  = math.floor(pos).toInt
      val hi  = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Harrell–Davis estimate of quantile `q`: a Beta-weighted average of
    * all order statistics. On the 8–56 samples of one run it moves far
    * less between runs than a single interpolated order statistic. */
  def hdQuantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    val n = s.size
    val (a, b) = (q * (n + 1), (1 - q) * (n + 1))
    def cdf(x: Double) = org.apache.commons.math3.special.Beta.regularizedBeta(x, a, b)
    s.indices.map(i => (cdf((i + 1.0) / n) - cdf(i.toDouble / n)) * s(i)).sum
  }

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9
}

object Files2 {

  /** Total size of the regular files under `p`, skipping Hadoop's
    * checksum side files. */
  def bytesUnder(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try
        s.filter(f => Files.isRegularFile(f) && !f.getFileName.toString.endsWith(".crc"))
          .mapToLong(f => Files.size(f))
          .sum()
      finally s.close()
    }

  def write(p: Path, text: String): Unit = {
    Files.createDirectories(p.getParent)
    Files.write(p, text.getBytes("UTF-8"))
    ()
  }
}
