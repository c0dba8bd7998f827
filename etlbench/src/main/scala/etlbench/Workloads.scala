package etlbench

import java.nio.file.{Files, Path}
import java.sql.{Connection, DriverManager}
import java.util.Properties

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.io.{Sources, Warehouse}
import graft.pipelines.Pipelines

/** What one run needs from its surroundings. */
final class Ctx(val spark: SparkSession, val dir: Path, val seed: Long, val tracer: Tracer,
                val benchDir: Path)

/** One closed-loop workload: untimed `prepare`, timed `run`, untimed
  * `check` of the program's output against the generator's model.
  */
trait Workload {
  /** Generates inputs and seeds the load target under `ctx.dir`. */
  def setup(ctx: Ctx): Unit
  /** Builds iteration `i`'s inputs (untimed). */
  def prepare(i: Int): Unit = ()
  /** The timed public calls; returns the rows landed. */
  def run(i: Int): Long
  /** Compares the target with the model; None when it matches. */
  def check(i: Int): Option[String]
  /** Iterations per period of the workload's periodic work; a run ends on a whole period. */
  def cycle: Int = 1
  /** Untimed clean-up the public API asks callers for. */
  def after(i: Int): Unit = ()
  /** Operations this iteration attempted and lost, beyond the iteration itself. */
  def subOps(i: Int): (Long, Long) = (0L, 0L)
  /** On-disk bytes of the load target. */
  def storedBytes: Long
  /** Layer counts taken from outside the engine (file listings). */
  def listingCounts(): Map[String, Long] = Map.empty
  /** Per-layer metrics only this workload measures, over iterations `iters`. */
  def layerMetrics(tracer: Tracer, iters: Set[Int], delta: Map[String, Long]): Map[String, Double] = Map.empty
  /** Untimed work the traced run needs before iteration `i` (e.g. sizing the change batch). */
  def tracedPrepare(i: Int): Unit = ()
  /** Drops generated inputs so the heap measurement sees only the engine. */
  def release(): Unit = ()
  /** Closes what setup opened (databases). */
  def close(): Unit = ()
}

object Workloads {
  def apply(name: String): Workload = name match {
    case "e1_reload"     => new E1Reload
    case "e2_cdc_upsert" => new E2CdcUpsert
    case "lake_merge"    => new LakeMerge
    case "corpus_build"  => new CorpusBuild
    case other           => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator.asScala.filter(Files.isRegularFile(_)).map(Files.size).sum finally s.close()
    }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.iterator.asScala.toSeq.reverse.foreach(Files.deleteIfExists) finally s.close()
  }

  /** A fresh embedded Derby database under `dir`; the counting driver
    * fronts it in the traced run only, so the untraced run pays no
    * counting.
    */
  final class Derby(dir: Path, traced: Boolean) {
    val derbyUrl = s"jdbc:derby:${dir.toAbsolutePath};create=true"
    val url: String = if (traced) CountingDriver.countingUrl(derbyUrl) else derbyUrl
    private def driverProps(driver: String): Properties = {
      val p = new Properties()
      p.setProperty("driver", driver)
      p
    }
    /** Properties for [[url]], the pipeline's endpoint. */
    val props: Properties =
      driverProps(if (traced) classOf[CountingDriver].getName else "org.apache.derby.jdbc.EmbeddedDriver")
    /** Properties for [[derbyUrl]]: uncounted seeding. */
    val rawProps: Properties = driverProps("org.apache.derby.jdbc.EmbeddedDriver")
    /** Uncounted connection for seeding and checks. */
    def raw[A](f: Connection => A): A = {
      val c = DriverManager.getConnection(derbyUrl)
      try f(c) finally c.close()
    }
    def exec(sqls: String*): Unit = raw { c =>
      val st = c.createStatement()
      try sqls.foreach(st.executeUpdate) finally st.close()
    }
    def longs(sql: String): Seq[Long] = raw { c =>
      val st = c.createStatement()
      try {
        val rs = st.executeQuery(sql)
        rs.next()
        (1 to rs.getMetaData.getColumnCount).map(rs.getLong)
      } finally st.close()
    }
    def dataBytes: Long = dirBytes(dir.resolve("seg0"))
    def shutdown(): Unit =
      try DriverManager.getConnection(s"jdbc:derby:${dir.toAbsolutePath};shutdown=true").close()
      catch { case _: java.sql.SQLException => () } // Derby reports a clean shutdown as an exception
  }

  def mismatch(what: String, got: Seq[Long], want: Seq[Long]): Option[String] =
    if (got == want) None else Some(s"$what: got ${got.mkString(",")} want ${want.mkString(",")}")
}

import Workloads._

/** E1: `Pipelines.runE1` over the counting transport into Derby. */
final class E1Reload extends Workload {
  // sf0.01's 100 suppliers as displays, half its 2,000 parts as
  // contents (below the 11,000 cap, which the server still receives and
  // obeys), about 20 lineitems per part: sized so one run takes about
  // a minute, most of it JVM and Spark start-up.
  val Displays = 100
  val Contents = 1000
  val RowsPerContent = 20
  val ServiceNanos = 1000000L

  private var ctx: Ctx = _
  private var data: Gen.E1Data = _
  private var db: Derby = _
  private var expected: (Seq[Long], Seq[Long]) = _
  private var landed = 0L
  private var failures: BenchTransport.FirstAttemptFailures = _
  private val served = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
  private val transport = new BenchTransport(ServiceNanos)

  def setup(c: Ctx): Unit = {
    ctx = c
    data = Gen.e1(c.seed, Displays, Contents, RowsPerContent)
    expected = Gen.e1Expected(data)
    landed = expected._1.head - 1 + data.served.size
    failures = new BenchTransport.FirstAttemptFailures(data.failing)
    val displaysJson = data.displaysJson
    val contentsJson = data.contentsJson
    val reports: Map[Long, String] = data.served.iterator.map(x => x.id -> data.reportJson(x.id)).toMap
    val d = data
    BenchTransport.state = new BenchTransport.Server {
      def route(req: Sources.RestRequest): String = {
        val p = req.params
        if (req.url.endsWith("/displays")) displaysJson
        else if (req.url.endsWith("/contents")) {
          require(p.get("order[0][dir]").contains("desc") &&
            p.get("columns[0][data]").contains("updated_at") &&
            p.get("length").contains(Gen.ContentCap.toString) && p.get("start").contains("0"),
            s"missing S2 order/limit pushdown params: $p")
          contentsJson
        } else if (req.url.endsWith("/report")) {
          require(p.get("display_id").contains(d.displayCsv) &&
            p.get("from").contains(Gen.WindowFrom) && p.get("to").contains(Gen.WindowTo),
            s"report request without the display list or date window: ${p - "display_id"}")
          val id = p("content_id").toLong
          failures.check(id)
          val body = reports.getOrElse(id, throw new IllegalArgumentException(s"unknown content $id"))
          served.add(id)
          body
        } else throw new IllegalArgumentException(s"no endpoint ${req.url}")
      }
    }
    BenchTransport.state.counting = c.tracer.enabled
    db = new Derby(c.dir.resolve("derby"), c.tracer.enabled)
    db.exec(
      """CREATE TABLE report_fact ("content_key" BIGINT, "display_key" BIGINT, "content" BIGINT,
        |"display" BIGINT, "shows" BIGINT, "total_time" DOUBLE, "Fecha" VARCHAR(10),
        |"impacts" BIGINT, "content_name" VARCHAR(64), "arch" VARCHAR(80), "sk" VARCHAR(64))""".stripMargin,
      """CREATE TABLE content_dim ("id" BIGINT, "name" VARCHAR(64), "type" VARCHAR(16),
        |"arch" VARCHAR(80), "updated_at" VARCHAR(32))""".stripMargin,
      s"INSERT INTO report_fact VALUES ${Gen.E1OutOfWindow}")
  }

  override def prepare(i: Int): Unit = { failures.reset(); served.clear() }

  def run(i: Int): Long = {
    ctx.tracer.span("pipelines.runE1") {
      Pipelines.runE1(ctx.spark, transport, "https://latinad.bench", db.url, db.props, Gen.Anchor)
    }
    landed
  }

  override def subOps(i: Int): (Long, Long) = (data.served.size.toLong, data.served.size.toLong - served.size)

  def check(i: Int): Option[String] =
    mismatch("report_fact", db.longs(
      """SELECT COUNT(*), SUM("content_key"), SUM("display_key" * 7 + "shows"), SUM("impacts"),
        |SUM(CAST(SUBSTR("Fecha", 9, 2) AS BIGINT)) FROM report_fact""".stripMargin), expected._1)
      .orElse(mismatch("content_dim", db.longs(
        """SELECT COUNT(*), SUM("id"), SUM(LENGTH("arch")) FROM content_dim"""), expected._2))

  def storedBytes: Long = db.dataBytes
  override def release(): Unit = { data = null; BenchTransport.state = null }
  override def close(): Unit = if (db != null) db.shutdown()
}

/** E2: `Pipelines.runE2` against a seeded, key-indexed Derby task table. */
final class E2CdcUpsert extends Workload {
  // Two fifths of sf0.01: 6,000 orders as tasks, 600 customers, 25 nations.
  val Tasks = 6000
  val Customers = 600
  val ServiceNanos = 1000000L
  val UpdatePct = 5.0
  val InsertPct = 1.0

  private var ctx: Ctx = _
  private var data: Gen.E2Data = _
  private var model: Gen.KeyedModel = _
  private var db: Derby = _
  @volatile private var tasksPayload: String = _
  private val transport = new BenchTransport(ServiceNanos)

  private def clock(i: Int): Long = data.firstClock + i * 3L * 3600

  def setup(c: Ctx): Unit = {
    ctx = c
    data = new Gen.E2Data(Tasks, Customers, c.seed)
    model = new Gen.KeyedModel((1 to Tasks).map(k => (k.toLong, data.baseVersion(k - 1), "")))
    val (turns, projects, elements) = (data.turnsJson, data.projectsJson, data.elementsJson)
    BenchTransport.state = new BenchTransport.Server {
      def route(req: Sources.RestRequest): String = {
        val p = req.params
        if (req.url.endsWith("/tasks")) {
          val expand = (0 until 5).flatMap(j => p.get(s"expand[$j]"))
          require(expand == Seq("created_by", "update_by", "state", "project", "team") &&
            p.get("deleted").contains("false"), s"missing S4 expand[] pushdown params: $p")
          tasksPayload
        } else if (req.url.endsWith("/turns")) turns
        else if (req.url.endsWith("/projects")) projects
        else if (req.url.endsWith("/elements")) elements
        else throw new IllegalArgumentException(s"no endpoint ${req.url}")
      }
    }
    BenchTransport.state.counting = c.tracer.enabled
    db = new Derby(c.dir.resolve("derby"), c.tracer.enabled)
    val spark = c.spark
    import spark.implicits._
    def parse(json: String) = Sources.parseJson(spark, spark.createDataset(Seq(json)), None)
    // the target holds the load schema the pipeline writes, seeded
    // through the same shaping (as PipelinesSpec seeds it)
    Pipelines.shapeTasks(parse(data.tasksJson(model.state.iterator.map { case (k, (v, _)) => (k, v) }.toSeq)))
      .write.jdbc(db.derbyUrl, "task_tbl", db.rawProps)
    db.exec("""CREATE UNIQUE INDEX task_tbl_id ON task_tbl ("id")""")
    Pipelines.shapeTurns(parse(turns)).limit(0).write.jdbc(db.derbyUrl, "turn_tbl", db.rawProps)
    Pipelines.shapeProjects(parse(projects)).limit(0).write.jdbc(db.derbyUrl, "project_tbl", db.rawProps)
    Pipelines.shapeElements(parse(elements)).limit(0).write.jdbc(db.derbyUrl, "element_tbl", db.rawProps)
  }

  override def prepare(i: Int): Unit = {
    val inc = Gen.increment(ctx.seed, i, model, UpdatePct, InsertPct, 0.0, clock(i))
    val stored = model.state.map { case (k, (v, _)) => k -> v }
    val incoming = (stored ++ (inc.updates ++ inc.inserts).map(_ -> inc.version)).toSeq
    tasksPayload = data.tasksJson(incoming)
    val (next, inserted, updated) = Gen.e2Expected(stored, incoming)
    expected = next
    landed = inserted + updated + data.dimRows
  }
  private var expected: Map[Long, Long] = _
  private var landed = 0L

  def run(i: Int): Long = {
    ctx.tracer.span("pipelines.runE2") {
      Pipelines.runE2(ctx.spark, transport, "https://sercom.bench", db.url, db.props)
    }
    landed
  }

  def check(i: Int): Option[String] = {
    model = new Gen.KeyedModel(expected.map { case (k, v) => (k, v, "") })
    val s = model.sum
    val ts = """CAST({fn TIMESTAMPDIFF(SQL_TSI_SECOND, TIMESTAMP('2020-01-01 00:00:00'), "updated_at")} AS BIGINT)"""
    mismatch("task_tbl", db.longs(
      s"""SELECT COUNT(*), SUM("id"), SUM($ts), SUM(MOD("id" * $ts, ${Gen.KeyVersionSum.P})) FROM task_tbl"""),
      Seq(s.count, s.sumKey, s.sumVersion, s.sumMix))
      .orElse(mismatch("dims", db.longs(
        "SELECT (SELECT COUNT(*) FROM turn_tbl), (SELECT COUNT(*) FROM project_tbl), " +
          "(SELECT COUNT(*) FROM element_tbl) FROM SYSIBM.SYSDUMMY1"), Seq(25L, 25L, Customers.toLong)))
  }

  /** runE2's contract: callers release the pinned snapshot when done. */
  override def after(i: Int): Unit = ctx.spark.catalog.clearCache()

  def storedBytes: Long = db.dataBytes
  override def release(): Unit = { tasksPayload = null; BenchTransport.state = null }
  override def close(): Unit = if (db != null) db.shutdown()
}

/** Warehouse CDC: `mergeInto`, `deleteWhereDv`, two `graft` catalog
  * reads, and `compact` + `vacuum` every 4th iteration.
  */
final class LakeMerge extends Workload {
  // A fifth of sf0.1's 150,000 orders, over 24 month partitions: the
  // cost is per statement and per partition, not per row, and one run
  // should take about a minute.
  val Orders = 30000
  val UpdatePct = 5.0
  val InsertPct = 1.0
  val TombstonePerMille = 5.0
  val DvDeletes = 100
  val MaintainEvery = 4
  val CompactTargetBytes: Long = 8L << 20
  val VacuumRetentionMs = 0L

  private var ctx: Ctx = _
  private var data: Gen.LakeData = _
  private var model: Gen.KeyedModel = _
  private var path: String = _
  private var inc: Gen.Increment = _
  private var changes: DataFrame = _
  private var dvKeys: Seq[Long] = _
  private var aggMonth: String = _
  private var pointKey: Long = _
  private var deleted = 0L
  private var aggGot: Seq[Long] = _
  private var pointGot: Seq[Long] = _
  private val changeBytes = scala.collection.mutable.Map.empty[Int, Long]

  override def cycle: Int = MaintainEvery

  val schema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false), StructField("cust", LongType),
    StructField("price", LongType), StructField("ym", StringType), StructField("version", LongType),
    StructField("deleted", BooleanType)))

  private def rows(keys: Seq[Long], version: Long, del: Boolean): Seq[Row] =
    keys.map(k => Row(k, k * 7 % 15000 + 1, (k * 7919 + version) % 50000000, model.state.get(k).map(_._2)
      .getOrElse(data.months.last), version, del))

  def setup(c: Ctx): Unit = {
    ctx = c
    data = new Gen.LakeData(Orders, c.seed)
    model = new Gen.KeyedModel((1 to Orders).map(k => (k.toLong, data.baseVersion(k - 1), data.monthOf(k.toLong))))
    path = c.dir.resolve("orders_tbl").toAbsolutePath.toString
    val base = (1 to Orders).map { k =>
      Row(k.toLong, data.cust(k - 1), data.price(k - 1), data.monthOf(k.toLong), data.baseVersion(k - 1), false)
    }
    Warehouse.create(c.spark, path, c.spark.createDataFrame(base.asJava, schema).drop("deleted"), "ym")
  }

  override def prepare(i: Int): Unit = {
    inc = Gen.increment(ctx.seed, i, model, UpdatePct, InsertPct, TombstonePerMille, 1000000L + i)
    changes = ctx.spark.createDataFrame((rows(inc.updates, inc.version, del = false) ++
      rows(inc.inserts, inc.version, del = false) ++ rows(inc.tombstones, inc.version, del = true)).asJava, schema)
    val r = Gen.rng(ctx.seed, 5000 + i)
    val gone = inc.tombstones.toSet
    val live = (model.state.keys.filterNot(gone) ++ inc.inserts).toArray.sorted
    dvKeys = Seq.fill(DvDeletes)(live(r.nextInt(live.length))).distinct.sorted
    aggMonth = data.months(r.nextInt(data.months.size))
    pointKey = live(r.nextInt(live.length))
  }

  override def tracedPrepare(i: Int): Unit = {
    val p = ctx.dir.resolve(s"changes_$i").toString
    changes.write.mode("overwrite").parquet(p)
    changeBytes(i) = dirBytes(java.nio.file.Paths.get(p)); deleteTree(java.nio.file.Paths.get(p))
  }

  def run(i: Int): Long = {
    val spark = ctx.spark
    val t = ctx.tracer
    t.span("warehouse.merge") {
      Warehouse.mergeInto(spark, path, changes, "id", "version", "ym", Some("deleted"))
    }
    deleted = t.span("warehouse.delete") {
      Warehouse.deleteWhereDv(spark, path, col("id").isin(dvKeys: _*))
    }
    t.span("warehouse.scan") {
      val a = spark.sql(s"SELECT count(*) AS n, coalesce(sum(version), 0) AS sv FROM graft.`$path` WHERE ym = '$aggMonth'").head()
      aggGot = Seq(a.getLong(0), a.getLong(1))
      pointGot = spark.sql(s"SELECT id, version FROM graft.`$path` WHERE id = $pointKey").collect()
        .toSeq.flatMap(r => Seq(r.getLong(0), r.getLong(1)))
    }
    if (i > 0 && i % MaintainEvery == 0) t.span("warehouse.maintain") {
      Warehouse.compact(spark, path, "id", CompactTargetBytes)
      Warehouse.vacuum(spark, path, VacuumRetentionMs)
    }
    inc.updates.size + inc.inserts.size + inc.tombstones.size + deleted
  }

  def check(i: Int): Option[String] = {
    Gen.applyIncrement(model, inc, _ => data.months.last)
    val wantDeleted = dvKeys.count(model.state.contains).toLong
    dvKeys.foreach(model.state.remove)
    val inMonth = model.state.valuesIterator.filter(_._2 == aggMonth).map(_._1)
    val wantAgg = inMonth.foldLeft((0L, 0L)) { case ((n, s), v) => (n + 1, s + v) }
    val s = model.sum
    val p = Gen.KeyVersionSum.P
    val a = Warehouse.read(ctx.spark, path).agg(count(lit(1)), sum("id"), sum("version"),
      sum(pmod(col("id") * col("version"), lit(p)))).head()
    mismatch("deleteWhereDv rows", Seq(deleted), Seq(wantDeleted))
      .orElse(mismatch(s"aggregate over $aggMonth", aggGot, Seq(wantAgg._1, wantAgg._2)))
      .orElse(mismatch(s"point lookup $pointKey", pointGot, model.state.get(pointKey).toSeq.flatMap(v => Seq(pointKey, v._1))))
      .orElse(mismatch("table", (0 until 4).map(j => if (a.isNullAt(j)) 0L else a.getLong(j)),
        Seq(s.count, s.sumKey, s.sumVersion, s.sumMix)))
  }

  def storedBytes: Long = dirBytes(java.nio.file.Paths.get(path))

  override def listingCounts(): Map[String, Long] = {
    val files = {
      val s = Files.walk(java.nio.file.Paths.get(path))
      try s.iterator.asScala.filter(f => Files.isRegularFile(f) && !f.getFileName.toString.startsWith(".")).toVector
      finally s.close()
    }
    val data = files.filter(f => f.toString.contains("/data/") || f.toString.contains("/_dv/"))
    val fresh = data.filterNot(f => listed.contains(f.toString))
    listed = data.map(_.toString).toSet
    filesLive = Warehouse.read(ctx.spark, path).inputFiles.length
    Map("warehouse.version" -> Warehouse.currentVersion(ctx.spark, path),
      "warehouse.files_created" -> fresh.size.toLong,
      "warehouse.bytes_created" -> fresh.map(Files.size).sum)
  }
  private var listed: Set[String] = Set.empty
  private var filesLive = 0

  override def layerMetrics(tracer: Tracer, iters: Set[Int], d: Map[String, Long]): Map[String, Double] = {
    val k = iters.size.toDouble
    val merges = tracer.count("warehouse.merge", iters)
    val deletes = tracer.count("warehouse.delete", iters)
    Map(
      "warehouse.merge_s" -> tracer.seconds("warehouse.merge", iters) / k,
      "warehouse.delete_s" -> tracer.seconds("warehouse.delete", iters) / k,
      "warehouse.scan_s" -> tracer.seconds("warehouse.scan", iters) / k,
      "warehouse.maintain_s" -> tracer.seconds("warehouse.maintain", iters) / k,
      "warehouse.jobs_per_merge" -> d.getOrElse("jobs@warehouse.merge", 0L).toDouble / math.max(1, merges),
      "warehouse.jobs_per_delete" -> d.getOrElse("jobs@warehouse.delete", 0L).toDouble / math.max(1, deletes),
      "warehouse.commits" -> d.getOrElse("warehouse.version", 0L) / k,
      "warehouse.files_written" -> d.getOrElse("warehouse.files_created", 0L) / k,
      "warehouse.bytes_written_mb" -> d.getOrElse("warehouse.bytes_created", 0L) / Main.MB / k,
      "warehouse.write_amp" -> d.getOrElse("warehouse.bytes_created", 0L).toDouble /
        math.max(1L, iters.toSeq.map(changeBytes.getOrElse(_, 0L)).sum),
      "warehouse.scan_bytes_read_mb" -> d.getOrElse("input@warehouse.scan", 0L) / Main.MB / k,
      "warehouse.files_live" -> filesLive.toDouble)
  }

  override def release(): Unit = { changes = null; data = null }
}

/** The registry's `c9_decontaminated_pack` over a generated corpus,
  * compared on every iteration with the registry's DuckDB oracle SQL
  * run once over the same corpus.
  */
final class CorpusBuild extends Workload {
  // sf0.1's 5,000 documents, replication factor 1.
  val BaseDocs = 5000
  val Replicas = 1
  val Query = "c9_decontaminated_pack"

  private var ctx: Ctx = _
  private var docsDir: Path = _
  private var expected: Seq[String] = _
  private var got: Seq[String] = _
  private var nDocs = 0L
  private var artifacts: Long = 0L

  def setup(c: Ctx): Unit = {
    ctx = c
    val docs = Gen.corpus(c.seed, BaseDocs, Replicas)
    nDocs = docs.size.toLong
    val spark = c.spark
    import spark.implicits._
    docsDir = c.dir.resolve("corpus")
    docs.map(d => (d.id, d.text, d.lang, d.source, d.text.length.toLong)).toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(docsDir.resolve("documents.parquet").toString)
  }

  /** Runs the registry's DuckDB oracle over the generated corpus. */
  private def runOracle(): Seq[String] = {
    val sqlFile = ctx.dir.resolve("oracle.sql")
    Files.writeString(sqlFile, graft.queries.Registry.oracleSql(Query))
    val out = ctx.dir.resolve("oracle.tsv")
    val pb = new ProcessBuilder("python3", ctx.benchDir.resolve("oracle.py").toString,
      sqlFile.toString, docsDir.resolve("documents.parquet").toString, out.toString).inheritIO()
    pb.redirectOutput(ProcessBuilder.Redirect.to(ctx.dir.resolve("oracle.log").toFile))
    val rc = pb.start().waitFor()
    require(rc == 0, s"DuckDB oracle exited $rc (see ${ctx.dir.resolve("oracle.log")})")
    Files.readAllLines(out).asScala.toSeq
  }

  /** A fresh sf-dir per iteration (hard links to the one corpus): the
    * registry memoizes its dedup artifacts per sf-dir, and each
    * iteration must rebuild them.
    */
  private def iterDir(i: Int): Path = ctx.dir.resolve(s"sf_$i")

  override def prepare(i: Int): Unit = {
    val src = docsDir.resolve("documents.parquet")
    val dst = Files.createDirectories(iterDir(i).resolve("documents.parquet"))
    val s = Files.list(src)
    try s.iterator.asScala.foreach(f => Files.createLink(dst.resolve(f.getFileName), f)) finally s.close()
  }

  def run(i: Int): Long = {
    val tmp = tmpArtifacts
    val rows = ctx.tracer.span("registry.c9_decontaminated_pack") {
      graft.queries.Registry.queries(Query)(ctx.spark, iterDir(i).toString).collect()
    }
    got = rows.toSeq.map(r => s"${r.getString(0)}\t${r.getLong(1)}\t${r.getLong(2)}\t${r.getLong(3)}")
    artifacts = (tmpArtifacts -- tmp).toSeq.map(dirBytes).sum
    nDocs
  }

  private def tmpArtifacts: Set[Path] = {
    val s = Files.list(java.nio.file.Paths.get(System.getProperty("java.io.tmpdir")))
    try s.iterator.asScala.filter(_.getFileName.toString.startsWith("graft_")).toSet finally s.close()
  }

  def check(i: Int): Option[String] = {
    if (expected == null) expected = CorpusBuild.oracle.getOrElseUpdate(ctx.seed, runOracle())
    if (got == expected) None
    else Some(s"c9 rows differ from the DuckDB oracle: ${got.size} vs ${expected.size} rows, first diff at " +
      got.zipAll(expected, "", "").indexWhere { case (a, b) => a != b })
  }

  /** The dedup artifacts (SimHash clusters, contamination hits) one
    * iteration persists.
    */
  def storedBytes: Long = artifacts
}

object CorpusBuild {
  /** Oracle rows per seed: the corpus is the same in every setup of a run. */
  private val oracle = scala.collection.mutable.Map.empty[Long, Seq[String]]
}
