package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import scala.util.{Failure, Success, Try}

/** One timed op as it ran. */
final case class OpRecord(pass: Int, name: String, family: String, traced: Boolean,
    seconds: Double, cpuSeconds: Double, heapMb: Double, rows: Long, landed: Long,
    error: Option[String], startMs: Long, endMs: Long) {
  def id: String = Main.opId(pass, name)
}

/** Benchmark JVM: sets up one workload, times passes over its op list
  * for the requested seconds, and writes the run record as JSON.
  *
  * {{{
  * graftbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *   --data <tables dir> --work <scratch dir> --out <record.json>
  * }}}
  *
  * With `--trace 1`, passes alternate untraced / traced, ending on an
  * untraced one; traced passes
  * register the [[Collector]] and run the workload's layer probes, and
  * the record carries per-layer values plus the traced/untraced ratio.
  * In both modes [[OpCounts]] counts each pass's plan-shape figures,
  * and the record says how many of them differ between passes.
  */
object Main {

  private val cpu = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def cpuSeconds(): Double = cpu.getProcessCpuTime / 1e9

  /** Elapsed JIT compilation time summed over compiler threads; printed
    * as a diagnostic only. */
  def jitSeconds(): Double = ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3

  def opId(pass: Int, name: String): String = s"p$pass:$name"

  def heapMb(): Double =
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0

  /** Exits non-zero on any failure: the stub's server threads would
    * otherwise keep a failed JVM alive. */
  def main(args: Array[String]): Unit = {
    val code = try { run(args); 0 } catch {
      case e: Throwable => e.printStackTrace(); 1
    }
    System.exit(code)
  }

  private def run(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val work = Paths.get(opt("work")).toAbsolutePath
    val cores = Runtime.getRuntime.availableProcessors
    val env = Map("load1" -> Env.loadAvg1m(), "other_jvms" -> Env.otherJvms(),
      "cores" -> cores)

    val spark = session(cores, work)
    val spans = new Spans
    val collector = new Collector
    val ctx = Ctx(spark, seed, cores, Paths.get(opt("data")).toAbsolutePath.toString,
      work, spans, collector)
    val wl = Workload(workload, ctx)
    val setupS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

    val opCounts = new OpCounts
    spark.sparkContext.addSparkListener(opCounts)
    val records = Seq.newBuilder[OpRecord]
    val probes = Seq.newBuilder[Map[String, Double]]
    val passCounts = Seq.newBuilder[Map[String, Double]]
    val jit0 = jitSeconds()
    val rng = new scala.util.Random(seed)
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    var pass = 0
    // an untraced pass always comes first; in trace mode passes alternate
    // and the run ends on an untraced one, so a traced pass always has an
    // untraced pass after the first (which carries the most JIT work) to
    // compare with
    val minPasses = if (trace) 3 else 1
    while (pass < minPasses || elapsed < seconds || (trace && pass % 2 == 0)) {
      val traced = trace && pass % 2 == 1
      if (traced) {
        spark.sparkContext.addSparkListener(collector)
        spark.listenerManager.register(collector)
      }
      rng.shuffle(wl.ops).foreach { op =>
        records += runOp(spark, collector, spans, wl, op, pass, traced)
      }
      val counted = wl.counts()
      if (traced) {
        collector.drain()
        spark.sparkContext.removeSparkListener(collector)
        spark.listenerManager.unregister(collector)
        val probe = wl.probe()
        probes += probe
        passCounts += counted ++ probe.filter { case (k, _) => Layers.Counts.contains(k) }
      } else passCounts += counted
      pass += 1
    }
    val jitS = jitSeconds() - jit0
    val ops = records.result()
    opCounts.drain()
    val counts = ops.groupBy(_.pass).toSeq.sortBy(_._1).zip(passCounts.result()).map {
      case ((_, passOps), c) => c ++ Map(
        "exec.tasks" -> passOps.map(r => opCounts.tasksOf(r.id)).sum.toDouble,
        "stream.triggers" -> passOps.map(r => opCounts.triggersIn(r.startMs, r.endMs)).sum.toDouble)
    }
    val planChanges = Layers.planChanges(counts)
    val layers = if (trace) Layers.compute(ops, collector.settle(), probes.result(), cores) ++
        Map("trace.plan_changes" -> planChanges.toDouble)
      else Map.empty[String, Double]
    val checks = wl.checks
    wl.close()
    if (trace) spans.writeJsonLines(work.resolve("spans.jsonl"))
    spark.stop()

    val record = Json.obj(
      "workload" -> workload, "seed" -> seed, "trace" -> trace, "env" -> env,
      "setup_s" -> setupS, "jit_s" -> jitS, "plan_changes" -> planChanges,
      "pass_counts" -> counts,
      "ops" -> ops.map(r => Map("pass" -> r.pass, "name" -> r.name,
        "family" -> r.family, "traced" -> r.traced, "s" -> r.seconds,
        "cpu_s" -> r.cpuSeconds, "heap_mb" -> r.heapMb, "rows" -> r.rows, "landed" -> r.landed,
        "tasks" -> opCounts.tasksOf(r.id),
        "triggers" -> opCounts.triggersIn(r.startMs, r.endMs), "error" -> r.error)),
      "layers" -> layers, "checks" -> checks)
    Files.write(Paths.get(opt("out")),
      record.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  private def runOp(spark: SparkSession, collector: Collector, spans: Spans,
      wl: Workload, op: Op, pass: Int, traced: Boolean): OpRecord = {
    val id = opId(pass, op.name)
    spark.sparkContext.setLocalProperty(Collector.OpKey, id)
    System.gc()
    val heap = heapMb() - wl.harnessMb
    val w0 = System.currentTimeMillis()
    val c0 = cpuSeconds()
    val t0 = System.nanoTime()
    val out = Try(spans(op.name, id)(op.run(id)))
    val s = (System.nanoTime() - t0) / 1e9
    val c = cpuSeconds() - c0
    val w1 = System.currentTimeMillis()
    if (traced) collector.window(id, w0, w1)
    spark.sparkContext.setLocalProperty(Collector.OpKey, null)
    out match {
      case Success(o) =>
        OpRecord(pass, op.name, op.family, traced, s, c, heap, o.rows, o.landed, None, w0, w1)
      case Failure(e) =>
        System.err.println(s"[graftbench] op ${op.name} failed: $e")
        OpRecord(pass, op.name, op.family, traced, s, c, heap, 0L, 0L,
          Some(s"${e.getClass.getName}: ${e.getMessage}"), w0, w1)
    }
  }

  /** The session `graft.Bench` builds, with every scratch location
    * inside `work`. */
  def session(cores: Int, work: Path): SparkSession = {
    val b = graft.SessionTuning(SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.local.dir", work.resolve("local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toUri.toString)
      .config("spark.hadoop.hadoop.tmp.dir", work.resolve("hadoop").toString)
      .config("spark.sql.streaming.forceDeleteTempCheckpointLocation", "true"))
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

/** Environment stamp: 1-minute load average and other live JVMs. */
object Env {
  def loadAvg1m(): Double =
    Try(new String(Files.readAllBytes(Paths.get("/proc/loadavg"))).split(" ")(0).toDouble)
      .getOrElse(-1.0)

  /** Live `java` processes other than this one and its ancestors. */
  def otherJvms(): Int = Try {
    val ancestors = Iterator.iterate(Option(ProcessHandle.current())) {
      _.flatMap(h => Option(h.parent().orElse(null)))
    }.takeWhile(_.isDefined).flatten.map(_.pid()).toSet
    new java.io.File("/proc").listFiles().count { f =>
      f.getName.forall(_.isDigit) && !ancestors.contains(f.getName.toLong) &&
        Try(new String(Files.readAllBytes(f.toPath.resolve("comm"))).trim == "java")
          .getOrElse(false)
    }
  }.getOrElse(-1)
}
