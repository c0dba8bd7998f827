package etlbench

import java.time.{LocalDate, ZoneOffset}
import java.util.SplittableRandom

import scala.collection.mutable

/** Seeded input generators and the expected-state models the output
  * checks compare against. Everything here is plain Scala: no engine
  * operator computes an expected value.
  *
  * The tables are synthetic but shaped like the TPC-H-style sf tables
  * the engine's queries run on (suppliers → displays, parts →
  * contents, lineitems → report rows, orders/customers/nations →
  * tasks and their expanded objects, documents → the corpus).
  */
object Gen {

  /** Independent random stream `stream` of workload seed `seed`. */
  def rng(seed: Long, stream: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + stream * 0xBF58476D1CE4E5B9L + 1L)

  /** Seconds since 2020-01-01T00:00:00Z: the version unit of e2/lake. */
  val Epoch: Long = LocalDate.of(2020, 1, 1).atStartOfDay(ZoneOffset.UTC).toEpochSecond

  def isoUtc(secondsSinceEpoch2020: Long): String =
    java.time.Instant.ofEpochSecond(Epoch + secondsSinceEpoch2020).toString // 2025-04-04T08:00:00Z

  def jsonStr(s: String): String = if (s == null) "null" else "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  val Nations: Vector[String] = Vector("ALGERIA", "ARGENTINA", "BRAZIL", "CANADA", "EGYPT",
    "ETHIOPIA", "FRANCE", "GERMANY", "INDIA", "INDONESIA", "IRAN", "IRAQ", "JAPAN", "JORDAN",
    "KENYA", "MOROCCO", "MOZAMBIQUE", "PERU", "CHINA", "ROMANIA", "SAUDI ARABIA", "VIETNAM",
    "RUSSIA", "UNITED KINGDOM", "UNITED STATES")

  /** Order-independent checksum over (key, version) pairs, computable
    * in Derby SQL as COUNT, SUM(k), SUM(v), SUM(MOD(k * v, P)).
    */
  final case class KeyVersionSum(count: Long, sumKey: Long, sumVersion: Long, sumMix: Long) {
    def add(k: Long, v: Long): KeyVersionSum =
      KeyVersionSum(count + 1, sumKey + k, sumVersion + v, sumMix + Math.floorMod(k * v, KeyVersionSum.P))
  }
  object KeyVersionSum {
    val P = 1000000007L
    val zero = KeyVersionSum(0, 0, 0, 0)
    def of(pairs: Iterable[(Long, Long)]): KeyVersionSum = pairs.foldLeft(zero) { case (s, (k, v)) => s.add(k, v) }
  }

  // ---------------------------------------------------------------- E1

  /** The reference's anchor date (LAT:145) fixed for reproducibility;
    * the report window is [anchor−25d, anchor+2d].
    */
  val Anchor = "2025-05-19"
  val WindowFrom = "2025-04-24"
  val WindowTo = "2025-05-21"
  val TombstoneDisplay = 40660L
  val ContentCap = 11000

  final case class Content(id: Long, name: String, kind: String, file: String, updatedAt: Long)
  final case class ReportRow(display: Long, displayKey: Option[Long], shows: Long, totalTime: Long,
                             date: String, impacts: Option[Long])

  /** E1 inputs: displays (plus the 40660 tombstone), contents, and the
    * report rows of every content.
    */
  final class E1Data(val displays: Vector[Long], val contents: Vector[Content],
                     val reports: Map[Long, Vector[ReportRow]], val failing: Set[Long]) {
    /** What the server returns for the S2 ordered, capped scan. */
    val served: Vector[Content] = contents.sortBy(c => (-c.updatedAt, c.id)).take(ContentCap)
    val displayCsv: String = displays.filter(_ != TombstoneDisplay).sorted.mkString(",")

    def displaysJson: String = displays.map { d =>
      s"""{"id": $d, "name": "Pantalla $d", "company_id": ${283 + d % 7}, "audience_provider": {"id": ${d % 11}, "name": "prov${d % 11}"}}"""
    }.mkString("[", ",\n", "]")

    def contentsJson: String = served.map { c =>
      s"""{"id": ${c.id}, "name": ${jsonStr(c.name)}, "type": "${c.kind}", "file": ${jsonStr(c.file)}, "updated_at": "${isoUtc(c.updatedAt)}"}"""
    }.mkString("{\"data\": [", ",\n", "]}")

    def reportJson(content: Long): String = reports.getOrElse(content, Vector.empty).map { r =>
      val key = r.displayKey.fold("null")(_.toString)
      val imp = r.impacts.fold("null")(i => s"$i.0")
      s"""{"display": ${r.display}, "content": $content, "child_content_id": null, "shows": ${r.shows}, "total_time": ${r.totalTime}, "date": "${r.date}", "impacts": $imp, "content_display": {"display_id": $key, "content_id": $content, "rules": null}}"""
    }.mkString("{\"report\": [", ",\n", "]}")
  }

  /** `nDisplays` suppliers, `nContents` parts, about `rowsPerContent`
    * lineitems per part dated inside the report window; 1 % of report
    * rows carry a null display key and 1 % an empty date (both dropped
    * by the pipeline), and a seeded 1 % of contents fail their first
    * report request.
    */
  def e1(seed: Long, nDisplays: Int, nContents: Int, rowsPerContent: Int): E1Data = {
    val r = rng(seed, 1)
    val displays = (TombstoneDisplay +: (1 to nDisplays).map(i => TombstoneDisplay + i)).toVector
    val real = displays.tail
    val window = LocalDate.parse(WindowFrom)
    val kinds = Vector("video", "image", "html")
    val base = 5L * 365 * 86400
    val contents = (1 to nContents).toVector.map { id =>
      val fileLen = r.nextInt(20, 90)
      val file = if (r.nextInt(100) < 5) null else "https://cdn.example/" + ("x" * (fileLen - 24)) + ".mp4"
      Content(id.toLong, s"spot$id.mp4", kinds(r.nextInt(kinds.size)), file, base + r.nextLong(90L * 86400))
    }
    val reports = contents.iterator.map { c =>
      val n = rowsPerContent / 2 + r.nextInt(rowsPerContent + 1)
      c.id -> Vector.fill(n) {
        val d = real(r.nextInt(real.size))
        val roll = r.nextInt(100)
        ReportRow(d, if (roll == 0) None else Some(d), r.nextLong(1, 500), r.nextLong(100, 200000),
          if (roll == 1) "" else window.plusDays(r.nextInt(28).toLong).toString,
          if (r.nextInt(10) == 0) None else Some(r.nextLong(0, 5000)))
      }
    }.toMap
    val failing = contents.iterator.map(_.id).filter(_ => r.nextInt(100) == 0).toSet
    new E1Data(displays, contents, reports, failing)
  }

  /** The row of `report_fact` seeded before the first run, outside the
    * report window: the ranged overwrite must leave it alone.
    */
  val E1OutOfWindow: String =
    """(1, 1, 1, 1, 0, 0.0, '2024-01-01', 0, 'old-out-of-window', '', 'y')"""

  /** Expected `report_fact` and `content_dim` after any E1 run:
    * fact (count, Σcontent_key, Σ(display_key·7 + shows), Σimpacts,
    * Σday-of-month) and dim (count, Σid, Σlength(arch)).
    */
  def e1Expected(d: E1Data): (Seq[Long], Seq[Long]) = {
    var n, sk, sds, si, sday = 0L
    n = 1; sk = 1; sds = 7; si = 0; sday = 1 // the out-of-window row
    for (c <- d.served; row <- d.reports(c.id) if row.displayKey.isDefined && row.date.nonEmpty) {
      n += 1; sk += c.id; sds += row.displayKey.get * 7 + row.shows
      si += row.impacts.getOrElse(0L); sday += row.date.substring(8, 10).toLong
    }
    val arch = d.served.map(c => if (c.file == null || c.file.length > 50) 0L else c.file.length.toLong)
    (Seq(n, sk, sds, si, sday), Seq(d.served.size.toLong, d.served.map(_.id).sum, arch.sum))
  }

  // ------------------------------------------------- E2 and lake (CDC)

  /** A keyed table under change: key → (version, partition month). */
  final class KeyedModel(init: Iterable[(Long, Long, String)]) {
    val state: mutable.LongMap[(Long, String)] = mutable.LongMap.from(init.map { case (k, v, m) => k -> (v, m) })
    var nextKey: Long = if (state.isEmpty) 1L else state.keys.max + 1

    def sum: KeyVersionSum = KeyVersionSum.of(state.iterator.map { case (k, (v, _)) => (k, v) }.toSeq)
  }

  /** One CDC increment against a [[KeyedModel]]. */
  final case class Increment(updates: Vector[Long], inserts: Vector[Long], tombstones: Vector[Long],
                             version: Long)

  /** Seeded increment `i`: `updPct`% of keys updated (80 % of them
    * from the newest 10 % of keys), `insPct`% new keys and `delPerMille`‰
    * tombstones; every changed key gets version `version`, newer than
    * anything stored.
    */
  def increment(seed: Long, i: Int, m: KeyedModel, updPct: Double, insPct: Double,
                delPerMille: Double, version: Long): Increment = {
    val r = rng(seed, 1000 + i)
    val keys = m.state.keys.toArray.sorted
    val n = keys.length
    val nUpd = math.round(n * updPct / 100).toInt
    val newest = keys.drop(n - math.max(1, n / 10))
    val older = keys.take(n - newest.length)
    val chosen = mutable.LinkedHashSet.empty[Long]
    val fromNewest = math.min(newest.length, math.round(nUpd * 0.8).toInt)
    while (chosen.size < fromNewest) chosen += newest(r.nextInt(newest.length))
    while (chosen.size < nUpd) chosen += older(r.nextInt(older.length))
    val dead = mutable.LinkedHashSet.empty[Long]
    val nDel = math.round(n * delPerMille / 1000).toInt
    while (dead.size < nDel) { val k = keys(r.nextInt(n)); if (!chosen(k)) dead += k }
    val nIns = math.round(n * insPct / 100).toInt
    val ins = (0 until nIns).map(j => m.nextKey + j).toVector
    Increment(chosen.toVector, ins, dead.toVector, version)
  }

  /** Applies `inc` to the model (latest-wins: every change row is newer). */
  def applyIncrement(m: KeyedModel, inc: Increment, monthOfNew: Long => String): Unit = {
    inc.updates.foreach(k => m.state(k) = (inc.version, m.state(k)._2))
    inc.inserts.foreach(k => m.state(k) = (inc.version, monthOfNew(k)))
    inc.tombstones.foreach(m.state.remove)
    if (inc.inserts.nonEmpty) m.nextKey = inc.inserts.max + 1
  }

  /** The E2 split of an increment against a stored (key → version)
    * snapshot: (inserts, updates, unchanged), by the pipeline's rule
    * (update when the incoming version is strictly newer).
    */
  def e2Split(stored: collection.Map[Long, Long], incoming: Seq[(Long, Long)]): (Seq[Long], Seq[Long], Seq[Long]) = {
    val ins = incoming.collect { case (k, _) if !stored.contains(k) => k }
    val upd = incoming.collect { case (k, v) if stored.get(k).exists(v > _) => k }
    val same = incoming.collect { case (k, v) if stored.get(k).exists(v <= _) => k }
    (ins, upd, same)
  }

  /** The task table after an E2 run: the stored versions with the
    * inserted and updated keys' incoming versions laid over them.
    * Returns (table, inserted, updated).
    */
  def e2Expected(stored: collection.Map[Long, Long], incoming: Seq[(Long, Long)]): (Map[Long, Long], Int, Int) = {
    val (ins, upd, _) = e2Split(stored, incoming)
    val in = incoming.toMap
    (stored.toMap ++ (ins ++ upd).map(k => k -> in(k)), ins.size, upd.size)
  }

  /** E2 base tasks: `n` orders over `nCust` customers and 25 nations;
    * versions spread over the year before the first increment.
    */
  final class E2Data(val n: Int, val nCust: Int, seed: Long) {
    private val r = rng(seed, 2)
    val firstClock: Long = 5L * 365 * 86400
    val baseVersion: Array[Long] = Array.fill(n)(firstClock - 365L * 86400 + r.nextLong(364L * 86400))
    val custOf: Array[Int] = Array.fill(n + 1)(r.nextInt(nCust))
    val nationOfCust: Array[Int] = Array.fill(nCust)(r.nextInt(25))
    def custName(c: Int): String = f"Customer#$c%09d"

    private def custFor(id: Long): Int =
      if (id < custOf.length) custOf(id.toInt) else Math.floorMod(id * 7919L, nCust.toLong).toInt

    def taskJson(id: Long, version: Long): String = {
      val c = custFor(id)
      val nat = nationOfCust(c)
      val status = Vector("finished", "open", "pending")((id % 3).toInt)
      val created = version - 86400 * (1 + id % 20)
      val turn = if (id % 4 == 0) "null" else (id % 50).toString
      val obs = if (id % 5 == 0) "null" else s""""obs $id""""
      s"""{"id": $id, "description": "task $id v$version", "observations": $obs, "task_type_id": ${id % 3}, "task_type_name": "$status", "element_id": $c, "project_id": $nat, "created_by": {"name": "${custName(c)}"}, "update_by": {"name": "${custName((c + 1) % nCust)}"}, "state": {"name": "$status"}, "project": {"name": "${Nations(nat)}", "header": "H$nat", "ot_number": "OT-$nat", "central_title": "CT"}, "team": {"name": "Cuadrilla $nat", "members_name": "${custName(c)};${custName((c + 2) % nCust)}", "id": $nat, "team_group": "G${nat % 5}", "team_company": "ACME"}, "turn_id": $turn, "assigned_at": "${isoUtc(created + 3600)}", "started_at": "${isoUtc(created + 5400)}", "finished_at": "${isoUtc(created + 9000)}", "original_finisched_at": "${isoUtc(created + 9000)}", "created_at": "${isoUtc(created)}", "updated_at": "${isoUtc(version)}"}"""
    }

    def tasksJson(state: Iterable[(Long, Long)]): String =
      state.toSeq.sortBy(_._1).map { case (k, v) => taskJson(k, v) }.mkString("[", ",\n", "]")

    def turnsJson: String = (0 until 25).map { nat =>
      val workers = (0 until (nat % 6)).map { w =>
        val c = (nat * 31 + w) % nCust
        s"""{"worker": {"name": "${custName(c)}", "rut": "$c-${c % 10}"}}"""
      }.mkString("[", ", ", "]")
      s"""{"id": ${70 + nat}, "date": "2025-04-${"%02d".format(1 + nat % 28)}T00:00:00Z", "team_id": $nat, "workers": $workers}"""
    }.mkString("[", ",\n", "]")

    def projectsJson: String =
      (0 until 25).map(nat => s"""{"id": $nat, "name": "${Nations(nat)}", "add": "CC-$nat"}""").mkString("[", ",\n", "]")

    def elementsJson: String = (0 until nCust).map { c =>
      s"""{"element_type_id": ${c % 7}, "commune_name": "${Nations(nationOfCust(c))}", "id": $c, "name": "Poste $c", "latitude": ${-33.0 - c % 100 / 100.0}, "longitude": ${-70.0 - c % 50 / 100.0}, "address": "Calle $c", "deleted_at": ${if (c % 9 == 0) "\"2025-03-01T09:00:00Z\"" else "null"}, "enabled": ${c % 2 == 0}, "external_id": "E-$c"}"""
    }.mkString("[", ",\n", "]")

    def dimRows: Long = 25L + 25L + nCust
  }

  /** Lake base rows: `n` orders over 24 months, keyed by order id,
    * partitioned by month; the newest keys sit in the newest months.
    */
  final class LakeData(val n: Int, seed: Long) {
    private val r = rng(seed, 3)
    val months: Vector[String] = (0 until 24).map(i => LocalDate.of(2019, 1, 1).plusMonths(i.toLong).toString.take(7)).toVector
    def monthOf(id: Long): String = months(math.min(months.size - 1, ((id - 1) * months.size / n).toInt))
    val baseVersion: Array[Long] = Array.fill(n)(r.nextLong(1000000L))
    val cust: Array[Long] = Array.fill(n)(r.nextLong(1, 15001))
    val price: Array[Long] = Array.fill(n)(r.nextLong(100, 50000000))
  }

  // ------------------------------------------------------------ corpus

  val Vocab: Vector[String] = Vector("a", "the", "data", "spark", "scan", "sort", "join", "filter",
    "group", "agg", "window", "stream", "batch", "merge", "hash", "key", "value", "row", "column",
    "table", "query", "order", "line", "part", "customer", "vector", "small", "big", "fast",
    "slow", "index")
  val Langs: Vector[String] = Vector("en", "en", "en", "en", "zh", "de", "es", "fr", "zh", "de")

  final case class Doc(id: Long, text: String, lang: String, source: String)

  /** `nBase` documents of 8–100 vocabulary tokens, each replicated
    * `replicas` times with 1–3 seeded token substitutions (near
    * duplicates for the SimHash clusters). Replica `k` of base doc `b`
    * has id `k·nBase + b`.
    */
  def corpus(seed: Long, nBase: Int, replicas: Int): Vector[Doc] = {
    val r = rng(seed, 4)
    val base = Vector.tabulate(nBase) { b =>
      val toks = Vector.fill(8 + r.nextInt(93))(Vocab(r.nextInt(Vocab.size)))
      (toks, Langs(r.nextInt(Langs.size)), s"src${b % 20}")
    }
    (0 until replicas).toVector.flatMap { k =>
      base.zipWithIndex.map { case ((toks, lang, src), b) =>
        val edited = if (k == 0) toks else {
          var t = toks
          (0 until 1 + r.nextInt(3)).foreach(_ => t = t.updated(r.nextInt(t.size), Vocab(r.nextInt(Vocab.size))))
          t
        }
        Doc(k.toLong * nBase + b, edited.mkString(" "), lang, src)
      }
    }
  }
}
