package etlbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One benchmark run: `--workload <name> --seed <n> --seconds <s>
  * --trace <0|1> --work <dir> --bench-dir <dir>`.
  *
  * Closed loop, one client: set up [[SetupReps]] times (fresh session,
  * generated inputs, seeded target), run [[WarmUps]] warm-up iterations
  * on the last setup (`setup_s` is the setups' median plus the warm-up), then
  * run iterations back to back until `--seconds` have passed and at
  * least [[CountIters]] ran. Each iteration's output is
  * checked against the generator's model outside the timed region.
  *
  * The last stdout line is the result object. `--trace 0` reports the
  * end-to-end metrics; `--trace 1` reports the per-layer metrics, with
  * counts averaged over the first [[CountIters]] iterations so they
  * repeat exactly for a seed, and writes the spans as JSON lines.
  */
object Main {
  val SetupReps = 3
  /** One warm-up iteration leaves the next one ~40 % slow (JIT); two do not. */
  val WarmUps = 2
  /** Every run holds at least these iterations; the traced run's
    * counts cover exactly them, and `stored_mb` is read after the
    * last of them, so both reflect a fixed amount of work, not the
    * run's length. Four is one lake maintenance cycle.
    */
  val CountIters = 4
  val MB: Double = 1024.0 * 1024.0

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val work = Files.createDirectories(Paths.get(a("work")))
    val benchDir = Paths.get(a("bench-dir"))
    val cpus = Runtime.getRuntime.availableProcessors()
    val ok = run(name, seed, seconds, traced, work, benchDir, cpus)
    sys.exit(if (ok) 0 else 1)
  }

  private def log(msg: String): Unit = System.err.println(s"etlbench: $msg")

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def newSession(cpus: Int): SparkSession = graft.engine.Sessions.local(cpus.toString)

  private def stopSession(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** All counters at the boundaries the benchmark owns. */
  private def snapshot(t: Tracer, wl: Workload): Map[String, Long] = {
    val listing = wl.listingCounts() // may run jobs of its own: drain them before reading
    t.drain()
    val tc = BenchTransport.counters
    val jc = CountingDriver.counters
    val e = t.engine
    import scala.jdk.CollectionConverters._
    Map(
      "sources.requests" -> tc.requests.get, "sources.bytes" -> tc.bytes.get,
      "sources.useful" -> tc.useful.get, "sources.retries" -> tc.retries.get,
      "sources.driver_ns" -> tc.driverNanos.get, "sources.executor_ns" -> tc.executorNanos.get,
      "sinks.connections" -> jc.connections.get, "sinks.statements" -> jc.statements.get,
      "sinks.batches" -> jc.batches.get, "sinks.batch_rows" -> jc.batchRows.get,
      "sinks.commits" -> jc.commits.get, "sinks.rows_inserted" -> jc.inserted.get,
      "sinks.rows_updated" -> jc.updated.get, "sinks.rows_deleted" -> jc.deleted.get,
      "sinks.rows_read" -> jc.read.get, "sinks.db_ns" -> jc.dbNanos.get,
      "engine.sql_executions" -> e.sqlExecutions.get, "engine.plan_ns" -> e.planNanos.get,
      "engine.jobs" -> e.jobs.get, "engine.stages" -> e.stages.get, "engine.tasks" -> e.tasks.get,
      "engine.executor_run_ms" -> e.executorRunMs.get, "engine.shuffle_write" -> e.shuffleWrite.get,
      "engine.shuffle_read" -> e.shuffleRead.get, "engine.spill" -> e.spill.get,
      "engine.gc_ns" -> e.gcNanos.get, "engine.input" -> e.inputBytes.get) ++
      e.jobsBySpan.asScala.map { case (k, v) => s"jobs@$k" -> v.get } ++
      e.inputBySpan.asScala.map { case (k, v) => s"input@$k" -> v.get } ++
      listing
  }

  def run(name: String, seed: Long, seconds: Double, traced: Boolean, work: Path,
          benchDir: Path, cpus: Int): Boolean = {
    val tracer = new Tracer(traced)
    if (traced) CountingDriver.register()
    val setupTimes = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    var wl: Workload = null
    val failures = mutable.ArrayBuffer.empty[String]
    var attempted = 0L
    var failed = 0L

    /** One iteration: untimed prepare, then the timed run. Returns its
      * wall seconds and the rows it landed.
      */
    def iteration(i: Int): (Double, Long) = {
      wl.prepare(i)
      val t0 = System.nanoTime()
      val rows = tracer.span("iteration")(wl.run(i))
      ((System.nanoTime() - t0) / 1e9, rows)
    }
    def checked(i: Int): Unit = {
      val (subAttempted, subLost) = wl.subOps(i)
      attempted += 1 + subAttempted
      val t0 = System.nanoTime()
      val bad = wl.check(i)
      log(f"iteration $i checked in ${(System.nanoTime() - t0) / 1e9}%.3f s")
      bad.foreach(m => failures += s"iteration $i: $m")
      failed += (if (bad.isDefined) 1 else 0) + subLost
      wl.after(i)
    }

    try {
      for (rep <- 0 until SetupReps) {
        if (spark != null) { wl.close(); stopSession(spark) }
        val dir = work.resolve(s"setup$rep")
        Workloads.deleteTree(dir)
        Files.createDirectories(dir)
        val t0 = System.nanoTime()
        spark = newSession(cpus)
        tracer.attachSession(spark)
        wl = Workloads(name)
        wl.setup(new Ctx(spark, dir, seed, tracer, benchDir))
        setupTimes += (System.nanoTime() - t0) / 1e9
        log(f"setup $rep took ${setupTimes.last}%.3f s")
        if (rep > 0) Workloads.deleteTree(work.resolve(s"setup${rep - 1}"))
      }
      // warm-up iterations are numbered 1 - WarmUps .. 0
      val warmUp = (1 - WarmUps to 0).map { w =>
        tracer.iter = w
        val (dt, _) = iteration(w)
        log(f"warm-up iteration $w took $dt%.3f s")
        checked(w) // a failed check ends the run before the timed loop
        dt
      }.sum
      tracer.attachListeners()

      val walls = mutable.ArrayBuffer.empty[Double]
      var rowsTotal = 0L
      var stored = 0L
      val counts = mutable.Map.empty[String, Long].withDefaultValue(0L)
      val countWalls = mutable.ArrayBuffer.empty[Double]
      val deadline = System.nanoTime() + (seconds * 1e9).toLong
      var i = 1
      // stop only after whole cycles, so every run weighs the
      // workload's periodic work (lake maintenance) the same
      while (failures.isEmpty &&
          (i <= CountIters || System.nanoTime() < deadline || (i - 1) % wl.cycle != 0)) {
        tracer.iter = i
        val counting = traced && i <= CountIters
        if (counting) wl.tracedPrepare(i)
        tracer.drain()
        val before = if (counting) snapshot(tracer, wl) else Map.empty[String, Long]
        tracer.engine.gcStart()
        val (dt, rows) = iteration(i)
        tracer.engine.gcStop()
        tracer.drain()
        if (counting) {
          snapshot(tracer, wl).foreach { case (k, v) => counts(k) += v - before.getOrElse(k, 0L) }
          countWalls += dt
        }
        walls += dt
        log(f"iteration $i took $dt%.3f s")
        rowsTotal += rows
        checked(i)
        if (i == CountIters) stored = wl.storedBytes
        i += 1
      }

      wl.release()
      val heapMb = retainedHeapMb()
      val metrics: Seq[(String, Double, String)] =
        if (!traced) Seq(
          ("setup_s", median(setupTimes.toSeq) + warmUp, "s"),
          ("iter_s_p50", median(walls.toSeq), "s"),
          ("rows_per_s", rowsTotal / walls.sum, "rows/s"),
          ("heap_retained_mb", heapMb, "MB"),
          ("stored_mb", stored / MB, "MB"))
        else Layers.perLayer(tracer, wl, counts.toMap, countWalls.toSeq, walls.toSeq, cpus)
      if (traced) tracer.writeJsonl(work.resolve(s"spans-$name-$seed.jsonl"))
      failures.foreach(f => System.err.println(s"etlbench: output check failed: $f"))
      val correct = failures.isEmpty && failed == 0
      println(resultJson(correct, attempted, failed, metrics))
      correct
    } catch {
      case e: Throwable =>
        System.err.println(s"etlbench: $name failed")
        e.printStackTrace()
        false
    } finally {
      if (wl != null) wl.close()
      if (spark != null) spark.stop()
    }
  }

  private def retainedHeapMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(100) }
    mem.getHeapMemoryUsage.getUsed / MB
  }

  def resultJson(correct: Boolean, attempted: Long, failed: Long, metrics: Seq[(String, Double, String)]): String = {
    val ms = metrics.map { case (n, v, u) =>
      val num = if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString
      s""""$n": {"value": $num, "unit": "$u"}"""
    }
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {${ms.mkString(", ")}}}"""
  }
}

/** The per-layer metrics of a traced run: counts are per iteration,
  * averaged over the counted iterations.
  */
object Layers {
  def perLayer(t: Tracer, wl: Workload, d: Map[String, Long], countWalls: Seq[Double],
               walls: Seq[Double], cpus: Int): Seq[(String, Double, String)] = {
    val k = countWalls.size.toDouble
    val iters = (1 to countWalls.size).toSet
    def per(key: String): Double = d.getOrElse(key, 0L) / k
    def ratio(a: String, b: String): Double = { val den = d.getOrElse(b, 0L); if (den == 0) 0.0 else d.getOrElse(a, 0L).toDouble / den }
    val mb = Main.MB
    val warehouse = wl.layerMetrics(t, iters, d)
    def wh(n: String): Double = warehouse.getOrElse(n, 0.0)
    Seq(
      ("sources.requests", per("sources.requests"), "count"),
      ("sources.bytes_in_mb", per("sources.bytes") / mb, "MB"),
      ("sources.fetch_s_driver", per("sources.driver_ns") / 1e9, "s"),
      ("sources.fetch_s_executor", per("sources.executor_ns") / 1e9, "s"),
      ("sources.retries", per("sources.retries"), "count"),
      ("sources.useful_request_frac", ratio("sources.useful", "sources.requests"), "ratio"),
      ("sinks.db_s", per("sinks.db_ns") / 1e9, "s"),
      ("sinks.connections", per("sinks.connections"), "count"),
      ("sinks.statements", per("sinks.statements"), "count"),
      ("sinks.batches", per("sinks.batches"), "count"),
      ("sinks.rows_per_batch", ratio("sinks.batch_rows", "sinks.batches"), "rows"),
      ("sinks.commits", per("sinks.commits"), "count"),
      ("sinks.rows_inserted", per("sinks.rows_inserted"), "rows"),
      ("sinks.rows_updated", per("sinks.rows_updated"), "rows"),
      ("sinks.rows_deleted", per("sinks.rows_deleted"), "rows"),
      ("sinks.rows_read", per("sinks.rows_read"), "rows"),
      ("warehouse.merge_s", wh("warehouse.merge_s"), "s"),
      ("warehouse.delete_s", wh("warehouse.delete_s"), "s"),
      ("warehouse.scan_s", wh("warehouse.scan_s"), "s"),
      ("warehouse.maintain_s", wh("warehouse.maintain_s"), "s"),
      ("warehouse.jobs_per_merge", wh("warehouse.jobs_per_merge"), "count"),
      ("warehouse.jobs_per_delete", wh("warehouse.jobs_per_delete"), "count"),
      ("warehouse.commits", wh("warehouse.commits"), "count"),
      ("warehouse.files_written", wh("warehouse.files_written"), "count"),
      ("warehouse.bytes_written_mb", wh("warehouse.bytes_written_mb"), "MB"),
      ("warehouse.write_amp", wh("warehouse.write_amp"), "ratio"),
      ("warehouse.scan_bytes_read_mb", wh("warehouse.scan_bytes_read_mb"), "MB"),
      ("warehouse.files_live", wh("warehouse.files_live"), "count"),
      ("engine.sql_executions", per("engine.sql_executions"), "count"),
      ("engine.plan_s", per("engine.plan_ns") / 1e9, "s"),
      ("engine.jobs", per("engine.jobs"), "count"),
      ("engine.stages", per("engine.stages"), "count"),
      ("engine.tasks", per("engine.tasks"), "count"),
      ("engine.executor_run_s", per("engine.executor_run_ms") / 1e3, "s"),
      ("engine.busy_frac", d.getOrElse("engine.executor_run_ms", 0L) / 1e3 / (countWalls.sum * cpus), "ratio"),
      ("engine.shuffle_write_mb", per("engine.shuffle_write") / mb, "MB"),
      ("engine.shuffle_read_mb", per("engine.shuffle_read") / mb, "MB"),
      ("engine.spill_mb", per("engine.spill") / mb, "MB"),
      ("engine.gc_s", per("engine.gc_ns") / 1e9, "s"),
      ("operators.shuffle_per_input_byte", ratio("engine.shuffle_write", "engine.input"), "ratio"),
      ("trace.iter_s_p50", Main.median(walls), "s"),
      ("trace.iterations", walls.size.toDouble, "count"))
  }
}
