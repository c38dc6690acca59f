package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import graft.SparkEntry
import org.apache.spark.sql.SparkSession

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}
import java.util.{LinkedHashMap => JMap}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Benchmark entry point:
  * `Main --workload <name> [--seed n] [--seconds s] [--trace 0|1]`.
  * Prints informational `#` lines, then one JSON result line. */
object Main {
  val DefaultSeed = 1L
  val SetupReps = 3
  val Spans: Seq[String] = Seq("tracking.prepare", "models.pi", "models.efpi", "graphs.frames",
    "llm.score_gate", "llm.near_dup", "llm.dedup", "llm.chunk")
  val json = new ObjectMapper()

  def main(args: Array[String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = opts.getOrElse("workload", sys.error("--workload is required"))
    val seed = opts.get("seed").map(_.toLong).getOrElse(DefaultSeed)
    val seconds = opts.get("seconds").map(_.toDouble).getOrElse(10.0)
    require(seconds > 0, "--seconds must be positive")
    val traced = opts.get("trace").contains("1")
    val benchDir = new File(sys.props.getOrElse("perfbench.dir", "perfbench"))
    val work = new File(benchDir, s".work/run-${ProcessHandle.current.pid}")
    val cores = Runtime.getRuntime.availableProcessors

    val spark = SparkEntry.configure(SparkSession.builder()
      .appName("perfbench")
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath),
      cores.toString).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      val sessionS = (System.currentTimeMillis - jvmStartMs) / 1000.0
      val result = new Run(spark, workload, seed, seconds, traced, benchDir, work, cores, sessionS).run()
      println(json.writeValueAsString(result))
    } finally {
      val t = System.nanoTime()
      spark.stop()
      Gen.cleanDir(work)
      System.err.println(f"perfbench: stop ${(System.nanoTime() - t) / 1e9}%.3f s, jvm ${(System.currentTimeMillis - jvmStartMs) / 1e3}%.3f s")
    }
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Heap in use right after a full collection, once queued listener
    * events are delivered (they hold references to the op's queries and
    * tasks) and Spark's context cleaner has released the blocks of
    * broadcasts and shuffles the first collection found unreachable:
    * the live heap an op leaves behind. */
  def liveHeapBytes(spark: SparkSession): Long = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    System.gc()
    Thread.sleep(200)
    System.gc()
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getCollectionUsage.getUsed).sum
  }
}

final class Run(spark: SparkSession, workload: String, seed: Long, seconds: Double,
    traced: Boolean, benchDir: File, work: File, cores: Int, sessionS: Double) {
  import Main.median

  private val tracer = new Tracer(spark)
  private val wl = Workloads(workload, Env(spark, work, seed, tracer, cores))
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private var peakHeapBytes = 0L
  private val committed: Option[Map[String, String]] = loadCommitted()
  private val reference = mutable.Map.empty[String, String]
  private val rowsOut = mutable.Map.empty[(Int, String), Long]
  private val problems = mutable.ArrayBuffer.empty[String]

  private def info(s: String): Unit = println(s"# $s")

  /** The default seed's committed record in workloads.json, if any. */
  private def loadCommitted(): Option[Map[String, String]] =
    if (seed != Main.DefaultSeed) None
    else Some(Main.json.readTree(new File(benchDir, "workloads.json"))
      .path("workloads").path(workload).path("default_seed")
      .fields().asScala.map(e => e.getKey -> e.getValue.asText).toMap)

  private def withTracing[T](body: => T): T = if (traced) tracer.attach(body) else body

  /** Reads back the outputs of the given ops and checks each table's row
    * count and checksum; returns the ops with a mismatch. For each output
    * key the lowest op gives the run's reference checksum. */
  private def check(results: Seq[(Int, OpResult)]): Set[Int] = {
    val outputs = results.flatMap { case (op, r) => r.outputs.map(op -> _) }
    val sums = Check.checksums(spark, outputs.map(_._2.path))
    outputs.groupBy(_._2.key).toSeq.sortBy(_._1).flatMap { case (key, group) =>
      group.sortBy(_._1).flatMap { case (op, o) =>
        val (n, sum) = sums(o.path)
        rowsOut((op, o.span)) = n
        val ref = reference.getOrElseUpdate(key, sum)
        val want = committed.map(_.getOrElse(s"out.$key", "<missing>"))
        if (n == o.expectedRows && sum == ref && want.forall(_ == sum)) None
        else {
          problems += s"op $op $key: rows $n (expected ${o.expectedRows}), " +
            s"checksum $sum (run reference $ref${want.fold("")(w => s", committed $w")})"
          Some(op)
        }
      }
    }.toSet
  }

  def run(): JMap[String, AnyRef] = {
    // input generation, repeated: each repetition regenerates the inputs
    // from the seed; then the at-rest table, once
    val setupTimes = (1 to Main.SetupReps).map { _ =>
      val t0 = System.nanoTime()
      val cs = wl.setup()
      ((System.nanoTime() - t0) / 1e9, cs)
    }
    val t0 = System.nanoTime()
    val rest = withTracing(wl.atRest())
    val atRestS = (System.nanoTime() - t0) / 1e9
    check(Seq(-1 -> OpResult(0, rest, work)))
    val inputChecksum = setupTimes.head._2
    if (setupTimes.map(_._2).distinct.size != 1)
      problems += s"same seed gave different input checksums: ${setupTimes.map(_._2).mkString(", ")}"
    val props = wl.properties
    info(s"$workload seed $seed: input checksum $inputChecksum")
    props.foreach { case (k, v) => info(s"  $k = $v") }
    committed.foreach { c =>
      (("input" -> inputChecksum) +: props.map { case (k, v) => s"prop.$k" -> v.toString })
        .foreach { case (k, v) =>
          if (!c.get(k).contains(v)) problems += s"$k = $v, committed ${c.getOrElse(k, "<missing>")}"
        }
    }

    // warm-up: untimed ops, checked with the timed ones
    val results = mutable.ArrayBuffer.empty[(Int, OpResult)]
    val tw = System.nanoTime()
    for (i <- 0 until wl.warmups) results ++= timedOp(i, tracedOp = false)._2.map(i -> _)
    val warmupS = (System.nanoTime() - tw) / 1e9

    // timed phase: ops until their summed wall time reaches `seconds` and
    // the op count is a whole number of cycles; a traced run alternates
    // untraced and traced ops
    val walls = mutable.ArrayBuffer.empty[(Int, Boolean, Double)]
    var cpuNs = 0L
    var inputRows = 0L
    var i = wl.warmups
    if (traced) {
      // one more untimed op at full size, so that neither side of the
      // traced/untraced comparison gets the last JIT transition
      results ++= timedOp(i, tracedOp = false)._2.map(i -> _)
      i += 1
    }
    val first = i
    while (walls.map(_._3).sum < seconds || walls.size % wl.cycle != 0) {
      val tracedOp = traced && (i - first) % 2 == 1
      val c0 = os.getProcessCpuTime
      val (wall, res) = timedOp(i, tracedOp)
      cpuNs += os.getProcessCpuTime - c0
      walls += ((i, tracedOp, wall))
      results ++= res.map(i -> _)
      inputRows += res.map(_.inputRows).getOrElse(0L)
      i += 1
    }
    val tChecks = System.nanoTime()
    val badOps = check(results.toSeq)
    info(f"checks ${(System.nanoTime() - tChecks) / 1e9}%.3f s")
    val done = results.map(_._1).toSet
    val failed = walls.count(w => !done(w._1) || badOps(w._1))
    results.foreach(r => Gen.cleanDir(r._2.dir))

    info(f"warm-up ${warmupS}%.3f s; op walls: " + walls.map(w => f"${w._3}%.3f${if (w._2) "t" else ""}").mkString(" "))
    val other = wl.otherSeedChecksum()
    if (other == inputChecksum) problems += s"seeds $seed and ${seed + 1} gave the same input checksum $other"
    problems.foreach(p => info(s"CHECK FAILED: $p"))
    reference.toSeq.sorted.foreach { case (k, v) => info(s"  out.$k = $v") }

    val n = walls.size
    val untracedWalls = walls.filterNot(_._2).map(_._3).toSeq
    val sorted = untracedWalls.sorted
    // the highest percentile with 10 ops beyond it, but never below p90
    // (nearest rank), which is all a short run can give
    val tailIdx = math.max(sorted.size - 11, math.ceil(0.9 * sorted.size).toInt - 1)
    val (tail, tailPct) = (sorted(tailIdx), 100.0 * (tailIdx + 1) / sorted.size)
    val setupS = sessionS + median(setupTimes.map(_._1)) + atRestS + warmupS

    val metrics = new JMap[String, AnyRef]
    def put(name: String, value: Double, unit: String): Unit = {
      val m = new JMap[String, AnyRef]
      m.put("value", Double.box(value)); m.put("unit", unit)
      metrics.put(name, m)
    }
    if (!traced) {
      info(f"set-up: session $sessionS%.3f s + median of ${Main.SetupReps} input generations " +
        f"${median(setupTimes.map(_._1))}%.3f s + at-rest table $atRestS%.3f s + " +
        f"warm-up $warmupS%.3f s (${wl.warmups} ops)")
      info(f"op_tail_s is p$tailPct%.1f of ${sorted.size} ops")
      put("setup_s", setupS, "s")
      put("op_p50_s", median(untracedWalls), "s")
      put("op_tail_s", tail, "s")
      put("rows_per_s", inputRows / walls.map(_._3).sum, "1/s")
      put("cpu_s_per_op", cpuNs / 1e9 / n, "s")
      put("peak_heap_mb", peakHeapBytes / 1048576.0, "MB")
      put("ok_share", (n - failed).toDouble / n, "share")
    } else traceMetrics(untracedWalls, walls.filter(_._2).map(_._1).toSeq, put)

    val out = new JMap[String, AnyRef]
    out.put("correct", Boolean.box(problems.isEmpty))
    out.put("attempted", Int.box(n))
    out.put("failed", Int.box(failed))
    out.put("metrics", metrics)
    out
  }

  private def timedOp(i: Int, tracedOp: Boolean): (Double, Option[OpResult]) = {
    val t0 = System.nanoTime()
    val res =
      try Some(if (tracedOp) tracer.attach(wl.op(i, traced = true)) else wl.op(i, traced = false))
      catch {
        case e: Exception =>
          problems += s"op $i threw ${e.getClass.getName}: ${e.getMessage}"
          Gen.cleanDir(new File(work, s"op$i"))
          None
      }
    val wall = (System.nanoTime() - t0) / 1e9
    if (i >= wl.warmups) peakHeapBytes = math.max(peakHeapBytes, Main.liveHeapBytes(spark))
    (wall, res)
  }

  /** Per-span metrics over the traced ops (and traced set-ups), plus the
    * op's unattributed remainder and the tracing overhead. */
  private def traceMetrics(untracedWalls: Seq[Double], tracedOps: Seq[Int],
      put: (String, Double, String) => Unit): Unit = {
    val counted = tracer.spans.filter(s => s.op < 0 || tracedOps.contains(s.op)).toSeq
    val ops = counted.filter(_.name == "op")
    val traceFile = new File(benchDir, s".work/trace-$workload-seed$seed.json")
    writeSpans(traceFile, counted)
    info(s"spans of ${tracedOps.size} traced ops written to ${traceFile.getPath}")
    for (name <- Main.Spans) {
      val inst = counted.filter(_.name == name)
      val cs = inst.map(tracer.countersOf)
      def mean(f: Int => Double): Double = if (inst.isEmpty) 0.0 else inst.indices.map(f).sum / inst.size
      val wallSum = inst.map(_.wallS).sum
      put(s"$name.wall_s", mean(k => inst(k).wallS), "s")
      put(s"$name.self_s", mean(k => tracer.selfS(inst(k))), "s")
      put(s"$name.rows_out", mean(k => rowsOut.getOrElse((inst(k).op, name), 0L).toDouble), "rows")
      put(s"$name.jobs", mean(k => cs(k).jobs.toDouble), "count")
      put(s"$name.tasks", mean(k => cs(k).tasks.toDouble), "count")
      put(s"$name.busy_share",
        if (wallSum == 0) 0.0 else cs.map(_.runMs).sum / 1000.0 / (wallSum * cores), "share")
      put(s"$name.task_skew", Main.median(cs.map(_.taskSkew)), "ratio")
      put(s"$name.shuffle_write_mb", mean(k => cs(k).shuffleWriteBytes / 1048576.0), "MB")
      put(s"$name.spill_mb", mean(k => cs(k).spillBytes / 1048576.0), "MB")
      put(s"$name.gc_s", mean(k => cs(k).gcMs / 1000.0), "s")
      put(s"$name.plan_s", mean(k => tracer.planS(inst(k))), "s")
    }
    put("op.wall_s", Main.median(ops.map(_.wallS)), "s")
    put("op.unattributed_s", Main.median(ops.map(tracer.selfS)), "s")
    val tracedWalls = tracedOps.flatMap(wl.comparableWallS(_, tracer))
    put("tracing_overhead_s", Main.median(tracedWalls) - Main.median(untracedWalls), "s")
  }

  private def writeSpans(f: File, spans: Seq[Span]): Unit = {
    f.getParentFile.mkdirs()
    val t0 = if (spans.isEmpty) 0L else spans.map(_.startNs).min
    val rows = spans.map { s =>
      val c = tracer.countersOf(s)
      val m = new JMap[String, AnyRef]
      m.put("name", s.name); m.put("op", Int.box(s.op))
      m.put("parent", s.parent.orNull); m.put("shorter_prefix", s.prev.orNull)
      m.put("start_s", Double.box((s.startNs - t0) / 1e9)); m.put("end_s", Double.box((s.endNs - t0) / 1e9))
      m.put("self_s", Double.box(tracer.selfS(s)))
      m.put("rows_out", Long.box(rowsOut.getOrElse((s.op, s.name), -1L)))
      m.put("jobs", Long.box(c.jobs)); m.put("tasks", Long.box(c.tasks))
      m.put("task_run_s", Double.box(c.runMs / 1000.0)); m.put("task_skew", Double.box(c.taskSkew))
      m.put("shuffle_write_bytes", Long.box(c.shuffleWriteBytes)); m.put("spill_bytes", Long.box(c.spillBytes))
      m.put("gc_s", Double.box(c.gcMs / 1000.0)); m.put("plan_s", Double.box(tracer.planS(s)))
      m
    }
    Main.json.writerWithDefaultPrettyPrinter().writeValue(f, rows.asJava)
  }
}
