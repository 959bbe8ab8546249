package ocsfbench

import scala.collection.mutable

/** Seeded SARIF 2.1.0 scan generator that tracks the ground truth the
  * dashboard must show.
  *
  * Scans come from a handful of tools. Each tool owns a pool of finding
  * identities (a fingerprint value plus a location); a scan re-reports a
  * share of its tool's pool and adds new identities, so findings recur
  * across scans, sometimes at a changed level. Identities carry
  * `fingerprints`, `partialFingerprints` or both, and the finding UID the
  * converter derives from them is stable across scans.
  *
  * Scan sizes are heavy-tailed and drawn in stratified blocks of
  * [[BlockSize]] drops (see [[nextDrop]]): each block holds one scan of
  * [[TailMin]] to [[TailMax]] results and a log-uniform spread of small
  * and medium scans, so runs of any seed see the same size mix; only the
  * content changes.
  *
  * Ground truth: the latest load of each identity wins, where loads are
  * ordered by (load sequence, scan id) — the order
  * `CoreLayer.latestFindingState` applies through staging_loaded_at and
  * scan_run_id. Scan ids are zero-padded so string order is generation
  * order.
  */
final class SarifGen(seed: Long) {
  import SarifGen._

  private val rng = new java.util.Random(seed)

  private final class Identity(
      val tool: Tool,
      val fp: String,
      val style: Int, // 0 fingerprints, 1 both maps, 2 partialFingerprints only
      val rule: Int,
      val file: String,
      val line: Int,
      var level: String,
  )

  private val pools      = mutable.Map.empty[String, mutable.ArrayBuffer[Identity]]
  private var nextScan   = 0
  private var nextFp     = 0L

  /** (tool, fingerprint value) -> (load seq, scan id, severity) */
  private val latest = mutable.Map.empty[(String, String), (Long, String, String)]

  private def pick[A](xs: IndexedSeq[A]): A = xs(rng.nextInt(xs.size))

  private def pickTool(): Tool = {
    val u = rng.nextDouble() * Tools.map(_.weight).sum
    var acc = 0.0
    Tools.find { t => acc += t.weight; u < acc }.getOrElse(Tools.last)
  }

  private def pickLevel(): String = {
    val u = rng.nextDouble()
    if (u < 0.2) "error" else if (u < 0.65) "warning" else if (u < 0.93) "note" else "none"
  }

  private def newIdentity(tool: Tool): Identity = {
    nextFp += 1
    val fp = f"${(seed * 0x9e3779b97f4a7c15L) ^ (nextFp * 0xbf58476d1ce4e5b9L)}%016x$nextFp%08x"
    val u  = rng.nextDouble()
    val style = if (u < 0.6) 0 else if (u < 0.85) 1 else 2
    new Identity(
      tool, fp, style, rng.nextInt(RulesPerTool),
      s"src/${pick(Dirs)}/mod${rng.nextInt(400)}.${tool.ext}", 1 + rng.nextInt(2000), pickLevel(),
    )
  }

  /** Size of a scan in body stratum `i` of [[BodyStrata]]: log-uniform
    * between [[BodyMin]] and [[BodyMax]] across the strata. */
  private def bodySize(i: Int): Int =
    math.round(BodyMin * math.pow(BodyMax.toDouble / BodyMin, (i + rng.nextDouble()) / BodyStrata)).toInt

  /** Slots left in the current block: [[TailSlot]] or a body stratum. */
  private var block     = List.empty[Int]
  private val byStratum = mutable.Map.empty[Int, mutable.ArrayBuffer[Scan]]

  private def scanIn(slot: Int): Scan = {
    val scan =
      newScan(if (slot == TailSlot) TailMin + rng.nextInt(TailMax - TailMin + 1) else bodySize(slot))
    byStratum.getOrElseUpdate(slot, mutable.ArrayBuffer.empty) += scan
    scan
  }

  /** Abandon the rest of the current block; the next drop opens a new one. */
  def startBlock(): Unit = block = Nil

  /** A history scan: body sizes only, cycling through the strata. */
  def historyScan(i: Int): Scan = scanIn(i % BodyStrata)

  /** The next drop from the stratified heavy-tailed schedule. Each block
    * of [[BlockSize]] drops opens with its tail scan, then visits the body
    * strata in bit-reversed order, so every prefix of a block spans the
    * size range and every seed sees the same size mix. The drop at
    * [[RedropSlot]] re-drops an earlier scan of its stratum (same scan id
    * and content), which the staging upsert must absorb. About
    * [[MalformedShare]] of drops also carry one malformed document. */
  def nextDrop(): Drop = {
    if (block.isEmpty) block = TailSlot :: StrataOrder.toList
    val pos  = BlockSize - block.size
    val slot = block.head
    block = block.tail
    val earlier = byStratum.getOrElse(slot, mutable.ArrayBuffer.empty[Scan])
    val redrop  = pos == RedropSlot && earlier.nonEmpty
    val scan    = if (redrop) pick(earlier.toIndexedSeq) else scanIn(slot)
    Drop(scan, redrop, malformed = rng.nextDouble() < MalformedShare)
  }

  /** A fresh scan of `n` results. */
  def newScan(n: Int): Scan = {
    val tool = pickTool()
    val pool = pools.getOrElseUpdate(tool.name, mutable.ArrayBuffer.empty)
    val reuse = math.min(pool.size, (n * RecurShare).toInt)
    val chosen = mutable.LinkedHashSet.empty[Identity]
    // distinct recurring identities, drawn without replacement
    val idx = mutable.HashSet.empty[Int]
    while (idx.size < reuse) idx += rng.nextInt(pool.size)
    idx.toSeq.sorted.foreach(i => chosen += pool(i))
    chosen.foreach { id => if (rng.nextDouble() < LevelChangeShare) id.level = pickLevel() }
    while (chosen.size < n) {
      val id = newIdentity(tool)
      pool += id
      chosen += id
    }
    val scanId = f"scan-$nextScan%07d"
    nextScan += 1
    val results = chosen.toVector.map(id => Finding(id.fp, id.style, id.rule, id.file, id.line, id.level))
    val scan = Scan(scanId, tool, rng.nextBoolean(), results)
    scan
  }

  /** Record that `scan` was loaded with load sequence `loadSeq`. */
  def loaded(scan: Scan, loadSeq: Long): Unit =
    scan.results.foreach { f =>
      val key = (scan.tool.name, f.fp)
      val now = (loadSeq, scan.id, severityOf(f.level))
      latest.get(key) match {
        case Some((s, id, _)) if s > loadSeq || (s == loadSeq && id > scan.id) => ()
        case _ => latest(key) = now
      }
    }

  /** Expected dashboard: open findings per (tool name, severity). */
  def expectedDashboard: Map[(String, String), Long] =
    latest.toSeq.groupBy { case ((tool, _), (_, _, sev)) => (tool, sev) }.map { case (k, v) =>
      k -> v.size.toLong
    }

  def distinctFindings: Long = latest.size.toLong
}

object SarifGen {

  final case class Tool(name: String, version: String, useSemantic: Boolean, ext: String, weight: Double)

  final case class Finding(fp: String, style: Int, rule: Int, file: String, line: Int, level: String)

  final case class Scan(id: String, tool: Tool, withSnippets: Boolean, results: Vector[Finding]) {
    def size: Int = results.size
  }

  final case class Drop(scan: Scan, redrop: Boolean, malformed: Boolean)

  val Tools: IndexedSeq[Tool] = IndexedSeq(
    Tool("csmock", "3.5.0", useSemantic = true, "c", 0.35),
    Tool("Semgrep OSS", "1.61.0", useSemantic = true, "py", 0.25),
    Tool("CodeQL", "2.16.1", useSemantic = false, "java", 0.2),
    Tool("gosec", "2.19.0", useSemantic = true, "go", 0.1),
    Tool("Bandit", "1.7.7", useSemantic = false, "py", 0.1),
  )
  val RulesPerTool      = 40
  val BlockSize         = 8
  val BodyStrata        = BlockSize - 1
  val TailSlot          = -1
  /** Block position of the re-drop: early, so short runs hold one. */
  val RedropSlot        = 3
  /** 3-bit bit-reversal order of 0..7, without 7. */
  val StrataOrder: Seq[Int] =
    (0 until 8).map(i => Integer.reverse(i) >>> 29).filter(_ < BodyStrata)
  val BodyMin           = 8
  val BodyMax           = 600
  val TailMin           = 1500
  val TailMax           = 1600
  val RecurShare        = 0.5
  val LevelChangeShare  = 0.15
  val MalformedShare    = 0.01
  private val Dirs      = IndexedSeq("api", "core", "db", "auth", "util", "net", "ui", "crypto")
  private val Cwes      = IndexedSeq("CWE-79", "CWE-89", "CWE-22", "CWE-78", "CWE-457", "CWE-476", "CWE-190", "CWE-327")

  /** The converter's SARIF level -> OCSF severity name mapping. */
  def severityOf(level: String): String = level match {
    case "error"   => "High"
    case "warning" => "Medium"
    case "note"    => "Informational"
    case _         => "Unknown"
  }

  private def q(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'          => b ++= "\\\""
      case '\\'         => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c            => b += c
    }
    (b += '"').toString
  }

  /** SARIF 2.1.0 document for `scan`. */
  def sarifJson(scan: Scan): String = {
    val t = scan.tool
    val b = new StringBuilder(256 + scan.size * 420)
    b ++= "{\"version\":\"2.1.0\",\"runs\":[{\"tool\":{\"driver\":{\"name\":" ++= q(t.name)
    b ++= (if (t.useSemantic) ",\"semanticVersion\":" else ",\"version\":") ++= q(t.version)
    b ++= ",\"rules\":["
    (0 until RulesPerTool).foreach { r =>
      if (r > 0) b += ','
      b ++= s"""{"id":"R$r","shortDescription":{"text":"${t.name} check $r"}"""
      if (r % 3 != 0) b ++= s""","properties":{"cwe":["${Cwes(r % Cwes.size)}"]}"""
      b += '}'
    }
    b ++= "]}},\"invocations\":[{\"startTimeUtc\":\"2024-03-01T10:00:00Z\",\"endTimeUtc\":\"2024-03-01T10:05:00Z\"}]"
    b ++= ",\"automationDetails\":{\"id\":" ++= q(scan.id) ++= "},\"results\":["
    scan.results.zipWithIndex.foreach { case (f, i) =>
      if (i > 0) b += ','
      b ++= s"""{"ruleId":"R${f.rule}","level":"${f.level}""""
      if (f.rule % 4 != 1) b ++= s""","message":{"text":"${t.name} R${f.rule} at ${f.file}:${f.line}"}"""
      if (f.rule % 5 == 2) b ++= s""","properties":{"cwe":["${Cwes((f.rule + 3) % Cwes.size)}"]}"""
      b ++= s""","locations":[{"physicalLocation":{"artifactLocation":{"uri":${q(f.file)}},"region":{"startLine":${f.line},"endLine":${f.line + f.rule % 4}"""
      if (scan.withSnippets) b ++= s""","snippet":{"text":"call_${f.rule}(x);"}"""
      b ++= "}}}]"
      // The converter's UID comes from the alphabetically last key of
      // `fingerprints`, else of `partialFingerprints`; both carry the
      // identity's value under that key.
      if (f.style <= 1) b ++= s""","fingerprints":{"csdiff/v0":"${f.fp.reverse}","csdiff/v1":"${f.fp}"}"""
      if (f.style >= 1) b ++= s""","partialFingerprints":{"primaryLocationLineHash":"${f.fp}"}"""
      b += '}'
    }
    b ++= "]}]}"
    b.toString
  }

  private def sha256(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString

  /** The findings of `scan` as OCSF documents, one JSON object per line, in
    * the shape the converter emits (finding UID from the fingerprint,
    * `scan_metadata` enrichment carrying the scan id). */
  def ocsfLines(scan: Scan): Iterator[String] = {
    val t    = scan.tool
    val slug = t.name.toLowerCase.replaceAll("[^a-z0-9]+", "-").replaceAll("^-+|-+$", "")
    scan.results.iterator.map { f =>
      val sev = severityOf(f.level)
      val sevId = f.level match { case "error" => 5; case "warning" => 4; case "note" => 2; case _ => 1 }
      val name = f.file.substring(f.file.lastIndexOf('/') + 1)
      s"""{"class_name":"Application Security Posture Finding","class_uid":2007,"category_uid":2,""" +
        s""""category_name":"Findings","activity_id":2,"activity_name":"Update","type_uid":200702,""" +
        s""""time":1709287500000,"severity_id":$sevId,"severity":"$sev","status_id":1,"status":"New",""" +
        s""""metadata":{"product":{"name":${q(t.name)},"version":${q(t.version)}},"version":"1.5.0"},""" +
        s""""finding_info":{"uid":"boann:sast:$slug:fingerprint:${sha256(f.fp)}","title":"R${f.rule}: ${t.name} check ${f.rule}",""" +
        s""""desc":"${t.name} R${f.rule} at ${f.file}:${f.line}","created_time":1709287200000},""" +
        s""""vulnerabilities":[{"cwe":{"uid":"${Cwes(f.rule % Cwes.size)}"},"affected_code":[{"file":{"name":${q(name)},""" +
        s""""path":${q(f.file)},"type_id":1},"start_line":${f.line},"end_line":${f.line + f.rule % 4}}]}],""" +
        s""""enrichments":[{"name":"scan_metadata","type":"custom","value":"Scan metadata","data":{"scan_run_id":${q(scan.id)}}}]}"""
    }
  }

  /** A one-line `.ocsf.json` document that fails to parse: an array cut
    * short. */
  def malformedDocument(n: Int): String =
    s"""[{"class_name":"Application Security Posture Finding","class_uid":2007,"severity":"High","finding_info":{"uid":"broken-$n","title":"trunc"""
}
