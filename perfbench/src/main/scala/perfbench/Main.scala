package perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicReference

import scala.collection.mutable
import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.SparkSession

/** Harness JVM for one run of one workload. `run.py` starts it, then
  * checks the curation outputs against DuckDB and prints the result.
  *
  * Load is one closed-loop client: the next op starts only after the
  * previous one (and its correctness check) has finished.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        work: Path, records: Path, result: Path,
                        lineitem: String, curateSf: String, entries: Seq[String],
                        cycles: Int, deadline: Double, corrupt: Boolean,
                        cores: Int, xmx: String)

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      Paths.get(m("work")), Paths.get(m("records")), Paths.get(m("result")),
      m("lineitem"), m("curate-sf"), m("entries").split(",").toSeq.filter(_.nonEmpty),
      m("cycles").toInt, m("deadline").toDouble, m("corrupt") == "1",
      m("cores").toInt, m("xmx"))
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** One finished op, as written to the result file. */
  final case class Op(id: Int, name: String, seconds: Double, reason: Option[String],
                      items: Long = 0L, out: String = "", timed: Boolean = false) {
    def ok: Boolean = reason.isEmpty
    def json: Map[String, Any] = Map("id" -> id, "name" -> name, "s" -> seconds, "ok" -> ok,
      "reason" -> reason, "items" -> items, "out" -> out, "timed" -> timed)
  }

  /** Runs each op on its own worker thread under a deadline. An op past
    * its deadline has its jobs cancelled and its thread abandoned (it
    * may be spinning on the driver), and no further op is started. A
    * failed op keeps the seconds it took (the deadline, if it hit it).
    */
  final class Ops(spark: SparkSession, records: Records, deadline: Double) {
    val done = mutable.ArrayBuffer.empty[Op]
    var abandoned = false
    /** Largest heap in use right after the full collection that follows
      * each op: the live set the program keeps between ops.
      */
    var liveHeapPeakMb = 0.0
    /** Set when the timed phase starts; ops finished after it are timed. */
    var timing = false
    private var nextId = 0

    def run[A](name: String)(body: => A): (Option[A], Int, Double, Option[String]) = {
      nextId += 1
      val id = nextId
      records.write("ev" -> "started", "op" -> id, "name" -> name)
      val sc = spark.sparkContext
      val group = s"perfbench-op-$id"
      val box = new AtomicReference[(Try[A], Double)]()
      val t = new Thread(() => {
        sc.setJobGroup(group, name, interruptOnCancel = true)
        val t0 = System.nanoTime()
        val r = Try(body)
        box.set((r, (System.nanoTime() - t0) / 1e9))
      }, s"perfbench-op-$id")
      t.setDaemon(true)
      t.start()
      t.join((deadline * 1000).toLong)
      if (t.isAlive) {
        abandoned = true
        sc.cancelJobGroup(group)
        (None, id, deadline, Some(s"deadline: not finished after $deadline s"))
      } else box.get() match {
        case (Success(v), s) => (Some(v), id, s, None)
        case (Failure(e), s) =>
          val msg = s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}"
          (None, id, s, Some(msg.take(300)))
      }
    }

    /** Record a checked op, then collect the heap (untimed). */
    def finish(op: Op): Unit = {
      done += op.copy(timed = timing)
      System.gc()
      val live = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
      liveHeapPeakMb = math.max(liveHeapPeakMb, live / 1048576.0)
      records.write("ev" -> "finished", "op" -> op.id, "name" -> op.name, "s" -> op.seconds,
        "ok" -> op.ok, "reason" -> op.reason, "live_heap_mb" -> live / 1048576.0)
    }
  }

  def loadavg(): Double = Try(Files.readString(Paths.get("/proc/loadavg"))
    .split(" ")(0).toDouble).getOrElse(-1.0)

  def vmHwmMb(): Double = Try {
    Files.readAllLines(Paths.get("/proc/self/status")).toArray.map(_.toString)
      .find(_.startsWith("VmHWM:")).get.split("\\s+")(1).toDouble / 1024.0
  }.getOrElse(-1.0)

  /** The `graft.Bench` calibration probe: median of three timed 5e7-row
    * range sums. Recorded only.
    */
  def calProbe(spark: SparkSession): Double = median((1 to 3).map { _ =>
    val t0 = System.nanoTime()
    spark.range(50000000L).selectExpr("sum(id)").collect()
    (System.nanoTime() - t0) / 1e9
  })

  /** Bytes read through Hadoop's local file system, process-wide. */
  def localFsBytesRead(): Long = {
    import scala.jdk.CollectionConverters._
    org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file").map(_.getBytesRead).sum
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val records = new Records(a.records)
    val code =
      try run(a, records)
      catch { case e: Throwable =>
        records.write("ev" -> "error", "reason" -> e.toString)
        e.printStackTrace()
        2
      }
    records.close()
    System.out.flush()
    System.err.flush()
    // an abandoned op thread may still spin: do not wait for it
    Runtime.getRuntime.halt(code)
  }

  private def newSession(a: Args): SparkSession = SparkSession.builder()
    .master(s"local[${a.cores}]")
    .config("spark.sql.shuffle.partitions", a.cores.toString)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    .config("spark.local.dir", a.work.resolve("spark-local").toString)
    .config("spark.sql.warehouse.dir", a.work.resolve("warehouse").toString)
    .getOrCreate()

  private def run(a: Args, records: Records): Int = {
    val mainStartNs = System.nanoTime()
    val jvmStartS = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    def sinceJvmStart = jvmStartS + (System.nanoTime() - mainStartNs) / 1e9
    val loadStart = loadavg()
    records.write("ev" -> "run", "workload" -> a.workload, "seed" -> a.seed, "trace" -> a.trace)
    val imports = a.workload match {
      case "import_upsert" => Some(new Imports(true, a.seed, a.lineitem, a.work))
      case "import_insert" => Some(new Imports(false, a.seed, a.lineitem, a.work))
      case "curate_mix" => None
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    // set-up: session, inputs, Derby pre-load (or a warm-up read for the
    // curation mix)
    val t0 = System.nanoTime()
    val spark = newSession(a)
    spark.sparkContext.setLogLevel("ERROR")
    records.write("ev" -> "setup_step", "step" -> "session", "s" -> (System.nanoTime() - t0) / 1e9)
    imports match {
      case Some(im) => im.setup(spark, records); im.reset()
      case None =>
        spark.read.parquet(s"${a.curateSf}/nation.parquet").count()
        spark.range(1000000).selectExpr("sum(id)").collect()
    }
    // the calibration probe runs before the timed phase but measures the
    // machine, so its time is taken out of `setupS`
    val calT0 = System.nanoTime()
    val calStart = calProbe(spark)
    val calTookS = (System.nanoTime() - calT0) / 1e9
    val ops = new Ops(spark, records, a.deadline)
    val tracer = new Tracer(spark, s"${a.workload}-${a.seed}")
    val layers = mutable.LinkedHashMap.empty[String, Double]
    val passes = mutable.ArrayBuffer.empty[Double]
    val untraced = mutable.ArrayBuffer.empty[Double]
    val traced = mutable.ArrayBuffer.empty[Double]
    var phaseStart = System.nanoTime()
    def elapsed = (System.nanoTime() - phaseStart) / 1e9
    // JVM start until the first timed op is ready
    var setupS = 0.0
    def timedPhaseStarts(): Unit = {
      ops.timing = true
      phaseStart = System.nanoTime()
      setupS = sinceJvmStart - calTookS
      records.write("ev" -> "setup", "setup_s" -> setupS, "cal_probe_s" -> calTookS)
    }
    // closed loop over a fixed number of cycles (imports or passes), so
    // every run does the same work and each op sits at the same point of
    // the JVM's warm-up; a run that gets far slower stops at 3x `seconds`
    var cycles = 0
    def another = !ops.abandoned && cycles < a.cycles && (cycles == 0 || elapsed <= 3 * a.seconds)

    imports.foreach { im =>
      val csvBytes = Files.size(im.csvPath).toDouble
      def oneImport(withTrace: Boolean, sample: Boolean = true): Unit = {
        im.reset()
        if (withTrace) tracer.attach()
        val fs0 = localFsBytesRead()
        val (res, id, s, err) = ops.run("import") {
          if (withTrace) tracer.span("api.importToJdbc")(im.importOnce(spark))
          else (im.importOnce(spark), null)
        }
        val fsBytes = localFsBytesRead() - fs0
        if (withTrace) tracer.detach()
        val reason = err.orElse {
          val bad = im.check(res.map(_._1), a.corrupt)
          if (bad.isEmpty) None else Some("wrong output: " + bad.mkString("; "))
        }
        ops.finish(Op(id, "import", s, reason, items = if (reason.isEmpty) im.found else 0L))
        if (reason.isEmpty && sample) (if (withTrace) traced else untraced) += s
        for ((r, sp) <- res if withTrace) {
          layers ++= tracer.engine(sp)
          layers("api.jobs") = layers("spark.jobs")
          layers("sources.scan_amplification") = fsBytes / csvBytes
          layers("api.import_s") = s
          layers("sink.inserted_plus_updated") = (r.inserted + r.updated).toDouble
        }
      }
      // the first import in a JVM runs cold (about 3x a warm one): it is
      // checked but not timed, and the timed phase starts after it
      oneImport(withTrace = false, sample = false)
      timedPhaseStarts()
      if (!a.trace) {
        while (another) {
          oneImport(withTrace = false)
          cycles += 1
        }
      } else {
        // the traced replay, then traced and untraced imports in pairs for
        // the tracing overhead
        tracer.attach()
        im.reset()
        val (rep, id, s, err) = ops.run("replay") { im.replay(spark, tracer) }
        val reason = err.orElse {
          val bad = im.check(None, a.corrupt)
          if (bad.isEmpty) None else Some("wrong output: " + bad.mkString("; "))
        }
        ops.finish(Op(id, "replay", s, reason, items = im.found))
        tracer.detach()
        rep.foreach { m =>
          val spans = tracer.allSpans
          def self(n: String) = spans.filter(_.name == n).map(tracer.selfSeconds).sum
          layers("sources.read_s") = self("sources.read")
          layers("sources.rows") = m("rows")
          layers("api.map_validate_s") = self("api.map_validate")
          layers("api.invalid_rows") = m("invalid_rows")
          layers("operators.dedup_s") = self("operators.dedup")
          layers("operators.merge_s") = self("operators.merge")
          layers("operators.dup_rows") = m("dup_rows")
          layers("sink.write_s") = self("sink.write")
          layers("sink.rows_written") = m("rows_written")
          layers("sink.fallback_blocks") = m("fallback_blocks")
        }
        while (another) {
          oneImport(withTrace = true)
          oneImport(withTrace = false)
          cycles += 2
        }
        layers("sink.write_amplification") =
          layers.getOrElse("sink.rows_written", 0.0) /
            math.max(1.0, layers.getOrElse("sink.inserted_plus_updated", 0.0))
        layers.remove("sink.inserted_plus_updated")
      }
    }

    if (imports.isEmpty) {
      val tmp = Paths.get(sys.props("java.io.tmpdir"))
      Files.writeString(a.work.resolve("oracle.json"), Json.render(
        a.entries.map(e => e -> graft.SparkEntry.oracleSql(e)).toMap))
      def pass(n: Int, withTrace: Boolean): Double = {
        // each pass builds its shared artifacts from scratch, as the
        // first pass of a fresh `graft.Bench` run does
        sys.props("graft.artifact.cache") = a.work.resolve(s"artifacts-$n").toString
        var total = 0.0
        for (entry <- a.entries if !ops.abandoned) {
          val out = a.work.resolve(s"out/p$n/$entry")
          val (res, id, s, err) = ops.run(entry) {
            if (withTrace) tracer.span(Curate.short(entry))(Curate.runEntry(spark, entry, a.curateSf, out))
            else (Curate.runEntry(spark, entry, a.curateSf, out), null)
          }
          ops.finish(Op(id, entry, s, err, out = out.toString))
          if (!ops.abandoned) Curate.release(spark)
          total += s
          for ((_, sp) <- res if withTrace) layers(s"queries.${Curate.short(entry)}_s") = sp.seconds
        }
        total
      }
      timedPhaseStarts()
      if (!a.trace) {
        while (another) {
          passes += pass(passes.size + 1, withTrace = false)
          cycles += 1
        }
      } else {
        // warm-up pass (not sampled), traced pass, untraced pass
        pass(1, withTrace = false)
        tracer.attach()
        val (_, root) = tracer.span("curate_mix") { traced += pass(2, withTrace = true) }
        tracer.detach()
        if (!ops.abandoned) untraced += pass(3, withTrace = false)
        layers ++= tracer.engine(root)
      }
      if (!ops.abandoned) {
        val tables = Curate.leftoverTables(spark)
        layers("streaming.leftover_tables") = tables.size.toDouble
        layers("streaming.leftover_dirs") = Curate.leftoverDirs(tmp).toDouble
        tables.foreach(t => Try(spark.catalog.dropTempView(t)))
      }
    }
    if (a.trace) {
      layers("trace.overhead_s") = median(traced.toSeq) - median(untraced.toSeq)
      tracer.allSpans.foreach { sp =>
        records.write("ev" -> "span", "id" -> sp.id, "name" -> sp.name, "parent" -> sp.parent,
          "run" -> sp.run, "start_ms" -> sp.startMs, "end_ms" -> sp.endMs, "s" -> sp.seconds,
          "self_s" -> tracer.selfSeconds(sp))
      }
    }
    val timedS = elapsed
    // the heap is fixed and pre-touched, so VmHWM is the whole heap plus
    // the native peak; the program's memory is the native peak plus the
    // live heap it kept between ops
    val hwm = vmHwmMb()
    val heapMb = java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getCommitted / 1048576.0
    val env = Map(
      "nproc" -> Runtime.getRuntime.availableProcessors(), "cores_used" -> a.cores,
      "xmx" -> a.xmx, "derby" -> "embedded, in-memory (jdbc:derby:memory), nothing flushed to disk",
      "loadavg" -> Seq(loadStart, loadavg()), "cal_s" -> calStart,
      "jvm_start_s" -> jvmStartS, "timed_phase_s" -> timedS, "vm_hwm_mb" -> hwm,
      "heap_committed_mb" -> heapMb, "live_heap_peak_mb" -> ops.liveHeapPeakMb)
    records.write("ev" -> "env", "env" -> env)
    val result = Map(
      "workload" -> a.workload, "seed" -> a.seed, "trace" -> a.trace,
      "setup_s" -> setupS, "ops" -> ops.done.map(_.json), "passes" -> passes,
      "peak_rss_mb" -> (hwm - heapMb + ops.liveHeapPeakMb), "layers" -> layers, "env" -> env,
      "abandoned" -> ops.abandoned)
    Files.writeString(a.result, Json.render(result))
    imports.foreach(_.dropDb())
    if (!ops.abandoned) spark.stop()
    0
  }
}
