package ocsfbench

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

class SarifGenSpec extends AnyFunSuite {
  private val json = new ObjectMapper()

  private def drops(seed: Long, n: Int): (SarifGen, Seq[SarifGen.Drop]) = {
    val g = new SarifGen(seed)
    (g, Seq.fill(n)(g.nextDrop()))
  }

  test("the same seed gives the same drops, another seed different ones") {
    val a = drops(7, 40)._2.map(d => SarifGen.sarifJson(d.scan))
    val b = drops(7, 40)._2.map(d => SarifGen.sarifJson(d.scan))
    val c = drops(8, 40)._2.map(d => SarifGen.sarifJson(d.scan))
    assert(a == b)
    assert(a != c)
  }

  test("scan sizes are heavy-tailed: every block opens with a scan of at least 1500 results") {
    val sizes = drops(3, 4 * SarifGen.BlockSize)._2.map(_.scan.size)
    sizes.grouped(SarifGen.BlockSize).foreach { block =>
      assert(block.head >= SarifGen.TailMin && block.head <= SarifGen.TailMax)
      assert(block.tail.forall(s => s >= SarifGen.BodyMin && s <= SarifGen.BodyMax))
    }
    val body = sizes.filter(_ < SarifGen.TailMin).sorted
    assert(sizes.max > 10 * body(body.size / 2), s"tail not heavy: $sizes")
    // every block's body spans the size range
    sizes.grouped(SarifGen.BlockSize).foreach { block =>
      assert(block.tail.min < 20 && block.tail.max > 300, s"body does not span the range: $block")
    }
    assert(SarifGen.StrataOrder.sorted == (0 until SarifGen.BodyStrata))
  }

  test("drops mix tools and fingerprint styles, and findings recur across scans") {
    val (_, ds) = drops(11, 64)
    val scans   = ds.map(_.scan)
    assert(scans.map(_.tool.name).distinct.size >= 4)
    val styles = scans.flatMap(_.results.map(_.style)).toSet
    assert(styles == Set(0, 1, 2))
    val seen = scans.filterNot(s => ds.exists(d => d.redrop && (d.scan eq s)))
      .flatMap(s => s.results.map(f => (s.tool.name, f.fp)))
    assert(seen.size > seen.distinct.size, "no finding recurs")
  }

  test("each block re-drops one earlier scan of the same size stratum; about 1% of drops carry a malformed document") {
    val g = new SarifGen(5)
    (0 until 30).foreach(g.historyScan)
    val ds = Seq.fill(40 * SarifGen.BlockSize)(g.nextDrop())
    ds.grouped(SarifGen.BlockSize).foreach { block =>
      assert(block.indices.filter(block(_).redrop) == Seq(SarifGen.RedropSlot))
    }
    val k = SarifGen.StrataOrder(SarifGen.RedropSlot - 1)
    def bound(q: Double) = SarifGen.BodyMin * math.pow(SarifGen.BodyMax.toDouble / SarifGen.BodyMin, q / SarifGen.BodyStrata)
    ds.filter(_.redrop).foreach { r =>
      assert(r.scan.size >= math.floor(bound(k)) && r.scan.size <= math.ceil(bound(k + 1)), s"${r.scan.size}")
    }
    val bad = ds.count(_.malformed)
    assert(bad >= 1 && bad <= 15, s"$bad malformed documents")
  }

  test("SARIF documents parse, malformed documents do not") {
    val (_, ds) = drops(9, 20)
    ds.foreach { d =>
      val run = json.readTree(SarifGen.sarifJson(d.scan)).get("runs").get(0)
      assert(run.get("results").size == d.scan.size)
      assert(run.get("automationDetails").get("id").asText == d.scan.id)
    }
    assert(scala.util.Try(json.readTree(SarifGen.malformedDocument(1))).isFailure)
    assert(!SarifGen.malformedDocument(1).contains('\n'))
  }

  test("ground truth: the latest load of a finding wins, re-drops included") {
    val g  = new SarifGen(21)
    val s1 = g.newScan(300)
    val s2 = g.newScan(300)
    g.loaded(s1, 1)
    g.loaded(s2, 2)
    val afterTwo = g.expectedDashboard
    assert(afterTwo.values.sum == g.distinctFindings)
    // re-loading the first scan makes its levels current again
    g.loaded(s1, 3)
    val key = (f: SarifGen.Finding, s: SarifGen.Scan) => (s.tool.name, SarifGen.severityOf(f.level))
    val expect = scala.collection.mutable.Map.empty[(String, String), (Long, String)]
    for ((s, seq) <- Seq(s1 -> 1L, s2 -> 2L, s1 -> 3L); f <- s.results) expect((s.tool.name, f.fp)) = (seq, key(f, s)._2)
    val want = expect.toSeq.groupBy { case ((t, _), (_, sev)) => (t, sev) }.map { case (k, v) => k -> v.size.toLong }
    assert(g.expectedDashboard == want)
    // within one load, the larger scan id wins
    val h  = new SarifGen(21)
    val a  = h.newScan(300)
    val b  = h.newScan(300)
    h.loaded(b, 0)
    h.loaded(a, 0)
    val hb = new SarifGen(21)
    val a2 = hb.newScan(300)
    val b2 = hb.newScan(300)
    hb.loaded(a2, 0)
    hb.loaded(b2, 0)
    assert(h.expectedDashboard == hb.expectedDashboard)
  }

  test("the converter derives one stable finding UID per generated identity") {
    val spark = SparkSession.builder().master("local[2]").config("spark.ui.enabled", "false").getOrCreate()
    try {
      val g   = new SarifGen(33)
      val s1  = g.newScan(120)
      val s2  = g.newScan(120)
      val dir = java.nio.file.Path.of("target", "sarifgen-spec")
      Seq(s1, s2).foreach(s => Files2.write(dir.resolve(s"${s.id}.sarif"), SarifGen.sarifJson(s)))
      val out = graft.ocsf.SarifToOcsf
        .convert(graft.ocsf.SarifToOcsf.readSarif(spark, dir.toString))
        .select(col("finding_info.uid").as("uid"), col("metadata.product.name").as("tool"), col("severity"))
        .collect()
      val identities = Seq(s1, s2).flatMap(s => s.results.map(f => (s.tool.name, f.fp))).distinct
      assert(out.length == s1.size + s2.size)
      assert(out.map(_.getString(0)).distinct.length == identities.size)
      assert(out.forall(_.getString(0).contains(":fingerprint:")))
      // the analyst preload's direct OCSF documents carry the same UIDs
      val lines = SarifGen.ocsfLines(s1).toSeq
      val uids  = lines.map(l => json.readTree(l).get("finding_info").get("uid").asText).toSet
      assert(uids.subsetOf(out.map(_.getString(0)).toSet))
      assert(lines.map(json.readTree).forall(_.get("enrichments").elements.asScala.exists(_.get("name").asText == "scan_metadata")))
    } finally spark.stop()
  }
}
