package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.perfbench.Bus
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import graft.api.Wireduck

object Stats {
  def median(xs: Iterable[Double]): Double = {
    val s = xs.toIndexedSeq.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
  /** Nearest-rank percentile. */
  def percentile(xs: Iterable[Double], p: Int): Double = {
    val s = xs.toIndexedSeq.sorted
    s(math.min(s.size - 1, math.max(0, math.ceil(p / 100.0 * s.size).toInt - 1)))
  }
}

/** `--key value` command-line arguments. */
final case class Args(args: Array[String]) {
  private val kv: Map[String, String] = args.sliding(2).collect {
    case Array(k, v) if k.startsWith("--") && !v.startsWith("--") => k.drop(2) -> v
  }.toMap
  def apply(k: String): String = kv.getOrElse(k, sys.error(s"missing --$k"))
}

object Files {
  def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}

/** The executed plans of the actions a query ran. */
final class PlanCapture extends QueryExecutionListener {
  private val plans = mutable.ArrayBuffer.empty[QueryExecution]
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    plans.synchronized(plans += qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  def take(): Seq[QueryExecution] = plans.synchronized { val r = plans.toList; plans.clear(); r }
}

/** One timed query execution. */
final case class QueryRun(pass: Int, query: String, seconds: Double, failures: Seq[String],
    signature: String, total: Long, ops: Seq[PlanMetrics.Op])

/** One pass over a workload's query list. */
final case class PassRun(index: Int, traced: Boolean, queries: Seq[QueryRun], taskS: Double,
    cpuS: Double, gcS: Double, shuffleMb: Double, spillMb: Double, stages: Long, tasks: Long, heapMb: Double,
    spans: Seq[Span]) {
  def seconds: Double = queries.map(_.seconds).sum
}

/** Benchmark entry point. One client runs the workload's queries one at a
  * time (a closed loop: each query starts when the previous answer is in)
  * for `--seconds`, on a `local[nproc]` session with `graft.Bench`'s
  * settings, and prints one JSON object as its last stdout line.
  *
  * {{{
  * Main --workload scan_full|scan_triage --seed N --seconds S --trace 0|1
  *      --fixtures DIR --work DIR --out DIR
  * }}}
  */
object Main {
  val WarmMiB = 2L
  /** Untimed warm-up on the real capture: at least one pass and this long. */
  val WarmupSeconds = 10.0
  val LadderPackets = 60000

  private val log = org.slf4j.LoggerFactory.getLogger("perfbench")

  def session(cores: Int, work: File): SparkSession = {
    val s = SparkSession.builder()
      .appName("perfbench")
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .config("spark.local.dir", new File(work, "local").getAbsolutePath)
      .config("spark.hadoop.hadoop.tmp.dir", new File(work, "tmp").getAbsolutePath)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def stop(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** Old-generation occupancy after a full collection, in MB. */
  def heapAfterGcMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))
      .map(_.getUsage.getUsed).sum / 1e6
  }

  def main(args: Array[String]): Unit = {
    val a = Args(args)
    val wl = Workload(a("workload"))
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val work = new File(a("work"))
    val outDir = new File(a("out"))
    val fixtures = new File(a("fixtures"))
    val mib = Workload.CaptureMiB
    val nproc = Runtime.getRuntime.availableProcessors
    val runId = s"${wl.name}-seed$seed-trace${if (traced) 1 else 0}-${ProcessHandle.current.pid}"
    val tracer = new Tracer(runId)
    outDir.mkdirs()

    // inputs: generated from the seed, outside every timed region
    val tg = System.nanoTime()
    val inputs = Inputs(new File(work, "capture"),
      // the traced run's layer ladder reads the single-file form
      Capture.generate(fixtures, seed, mib << 20, new File(work, "capture"), wl.single || traced,
        wl.ring),
      new File(work, "scratch"), fixtures)
    val warm = Inputs(new File(work, "warm"),
      Capture.generate(fixtures, seed + 1, WarmMiB << 20, new File(work, "warm"), wl.single, wl.ring),
      inputs.scratch, fixtures)
    val generateS = (System.nanoTime() - tg) / 1e9
    log.warn(f"inputs: ${inputs.manifest.packets} packets, ${mib} MiB, generated in $generateS%.1f s")

    val failures = mutable.ArrayBuffer.empty[String]
    var attempted = 0L
    var failed = 0L
    var spark: SparkSession = null
    var exec: Executor = null
    var plans: PlanCapture = null

    def runQuery(pass: Int, q: Query, in: Inputs): QueryRun = {
      val sc = spark.sparkContext
      sc.setLocalProperty(Executor.QueryProp, s"$pass/${q.name}")
      plans.take()
      val t0 = System.nanoTime()
      val out = scala.util.Try(tracer.span("query", q.name) {
        sc.setLocalProperty(Executor.SpanProp, tracer.currentId.toString)
        q.run(spark, in)
      })
      val s = (System.nanoTime() - t0) / 1e9
      sc.setLocalProperty(Executor.QueryProp, null)
      sc.setLocalProperty(Executor.SpanProp, null)
      Bus.drain(sc)
      val ops = plans.take().flatMap(qe => PlanMetrics.operators(qe.executedPlan))
      val (errs, sig, total) = out match {
        case scala.util.Success(v) =>
          (scala.util.Try(q.check(v, ops, in)).fold(e => Seq(s"check threw $e"), identity),
            Query.signature(v), q.total(v))
        case scala.util.Failure(e) => (Seq(s"threw $e"), "", -1L)
      }
      QueryRun(pass, q.name, s, errs.map(e => s"${q.name}: $e"), sig, total, ops)
    }

    def runPass(index: Int, in: Inputs): PassRun = {
      val t = tracer.enabled
      val spans0 = tracer.all.size
      val runs = tracer.span("pass", s"pass-$index")(wl.queries.map(q => runQuery(index, q, in)))
      val cross = scala.util.Try(wl.passCheck(runs.map(r => r.query -> r).toMap, in))
        .fold(e => Seq(s"pass check threw $e"), identity)
      Bus.drain(spark.sparkContext)
      val agg = exec.total(wl.queries.map(q => s"$index/${q.name}"))
      val heap = heapAfterGcMb()
      runs.foreach { r =>
        attempted += 1
        if (r.failures.nonEmpty) failed += 1
      }
      attempted += 1
      if (cross.nonEmpty) failed += 1
      failures ++= runs.flatMap(_.failures) ++ cross
      PassRun(index, t, runs, agg.taskMs / 1e3, agg.cpuNs / 1e9, agg.gcMs / 1e3, agg.shuffleWrite / 1e6,
        agg.spill / 1e6, agg.stages, agg.tasks, heap, tracer.all.drop(spans0))
    }

    def start(cores: Int): Unit = {
      spark = session(cores, work)
      exec = new Executor(tracer)
      spark.sparkContext.addSparkListener(exec)
      plans = new PlanCapture
      spark.listenerManager.register(plans)
      Wireduck.setup(spark)
    }

    // set-up, once and cold, as an analyst's session pays it: class loading,
    // session start, glossary registration and a warm-up pass on a small
    // capture. A repeat in this JVM would be warm and hide a cold-start
    // regression, so the noise is left to the median over runs. The
    // session stays up for the passes.
    val s0 = System.nanoTime()
    start(nproc)
    runPass(-1, warm)
    val setupS = (System.nanoTime() - s0) / 1e9

    // untimed passes over the real capture, so the JIT has compiled the
    // paths this capture takes before anything is measured
    val warmups = mutable.ArrayBuffer.empty[Double]
    val w0 = System.nanoTime()
    while (warmups.isEmpty || (System.nanoTime() - w0) / 1e9 < WarmupSeconds)
      warmups += runPass(-2 - warmups.size, inputs).seconds

    // measured passes: untraced, or when tracing untraced and traced in
    // ABBA order, so a drift over the run cancels out of the overhead
    val passes = mutable.ArrayBuffer.empty[PassRun]
    val m0 = System.nanoTime()
    while (passes.size < (if (traced) 4 else 2) || (System.nanoTime() - m0) / 1e9 < seconds) {
      tracer.enabled = traced && (passes.size % 4 == 1 || passes.size % 4 == 2)
      passes += runPass(passes.size, inputs)
      tracer.enabled = false
    }
    val measureS = (System.nanoTime() - m0) / 1e9

    // every pass must answer exactly as the first did
    val firstSig = passes.head.queries.map(r => r.query -> r.signature).toMap
    passes.tail.foreach(p => p.queries.foreach { r =>
      attempted += 1
      if (r.signature != firstSig(r.query)) {
        failed += 1
        failures += s"${r.query}: pass ${p.index} answered differently from pass 0"
      }
    })
    // once per run, untimed: checks that need more than one query's output
    val finalErrs = scala.util.Try(wl.finalCheck(spark, inputs, passes.head.queries))
      .fold(e => Seq(s"final check threw $e"), identity)
    attempted += 1
    if (finalErrs.nonEmpty) failed += 1
    failures ++= finalErrs

    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    val record = mutable.LinkedHashMap.empty[String, Any]
    val plain = passes.filterNot(_.traced)
    val allQueries = plain.flatMap(_.queries.map(_.seconds))
    val tailP = math.max(50, math.floor(100 * (1 - 10.0 / allQueries.size)).toInt)
    if (!traced) {
      val passS = Stats.median(plain.map(_.seconds))
      metrics("pass_s") = (passS, "s")
      metrics("query_p50_s") = (Stats.median(allQueries), "s")
      metrics("pkts_per_s") = (inputs.manifest.packets * wl.scansPerPass / passS, "pkt/s")
      metrics("cpu_s") = (Stats.median(plain.map(_.cpuS)), "s")
      metrics("heap_mb") = (plain.map(_.heapMb).max, "MB")
      metrics("setup_s") = (setupS, "s")
    } else {
      val tp = passes.filter(_.traced)
      def med(f: PassRun => Double) = Stats.median(tp.map(f))
      metrics("spark.task_s") = (med(_.taskS), "s")
      metrics("spark.gc_s") = (med(_.gcS), "s")
      metrics("spark.shuffle_mb") = (med(_.shuffleMb), "MB")
      metrics("spark.spill_mb") = (med(_.spillMb), "MB")
      metrics("spark.broadcast_mb") = (med(p => opSum(p, "BroadcastExchange", "dataSize") / 1e6), "MB")
      metrics("spark.stages") = (med(_.stages.toDouble), "count")
      metrics("spark.tasks") = (med(_.tasks.toDouble), "count")
      metrics("sql.scan_rows") = (med(p => opSum(p, "BatchScan", "numOutputRows")), "count")
      metrics("sql.agg_time_s") = (med(p => opSum(p, "HashAggregate", "aggTime") / 1e3), "s")
      metrics("sql.exchange_mb") = (med(p => opSum(p, "Exchange", "dataSize") / 1e6), "MB")
      metrics("sql.operators") = (med(_.queries.map(_.ops.size).sum.toDouble), "count")
      metrics("trace.overhead_s") = (med(_.seconds) - Stats.median(plain.map(_.seconds)), "s")
      for (layer <- Seq("pass", "query", "job", "stage", "task"))
        metrics(s"trace.self_s.$layer") =
          (med(p => tracer.selfTimeByLayer(p.spans).getOrElse(layer, 0L) / 1e9), "s")

      // the layer ladder, single-threaded, with the session idle
      tracer.enabled = true
      val ladder = new Ladder(new File(inputs.single), LadderPackets, fixtures, seed, tracer)
      val framing = ladder.framing()
      ladder.dissect()
      ladder.displayFilter(Workload.CFilter)
      ladder.reader(Workload.Protocols.split(",").toSeq, framing)
      ladder.splitPlanning()
      ladder.writer(spark, inputs.scratch)
      metrics ++= ladder.metrics
      record("ladder_detail") = ladder.detail
      // the rungs must time what the scan does: the split count planned
      // alone is the partition count of scan_full's scan
      val ladderErrs = ladder.failures ++ Workload.expect("PcapIndex.splits vs scan_full partitions",
        ladder.splits, ScanFull.scan(spark, inputs).rdd.getNumPartitions.toLong)
      attempted += 1
      if (ladderErrs.nonEmpty) failed += 1
      failures ++= ladderErrs

      // scaling: the same full-column split scan at 1..4 cores
      val scaling = (1 to 4).map { c =>
        stop(spark)
        start(c)
        val df = () => ScanFull.scan(spark, inputs)
        df().limit(1000).write.format("noop").mode("overwrite").save()
        val t0 = System.nanoTime()
        tracer.span("scaling", s"c$c")(df().write.format("noop").mode("overwrite").save())
        val pps = inputs.manifest.packets / ((System.nanoTime() - t0) / 1e9)
        metrics(s"spark.pkts_per_s.c$c") = (pps, "pkt/s")
        pps
      }
      metrics("spark.scale_eff") = (scaling(3) / (4 * scaling(0)), "ratio")
      tracer.enabled = false
    }
    stop(spark)

    // the run's full record: context, inputs, every pass and query, plans
    val jvm = ManagementFactory.getRuntimeMXBean
    record("context") = Json.obj(
      "workload" -> wl.name, "seed" -> seed, "seconds" -> seconds, "traced" -> traced,
      "nproc" -> nproc, "spark_cores" -> nproc,
      "SPARK_GRAFT_CPUS" -> sys.env.getOrElse("SPARK_GRAFT_CPUS", "unset"),
      "SPARK_DRIVER_MEM" -> sys.env.getOrElse("SPARK_DRIVER_MEM", "unset"),
      "xmx_mb" -> Runtime.getRuntime.maxMemory / (1L << 20),
      "jvm_args" -> jvm.getInputArguments.asScala.filter(_.startsWith("-X")).toSeq,
      "jdk" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.runtime.version")}",
      "spark" -> org.apache.spark.SPARK_VERSION,
      "capture_mib" -> mib, "capture_bytes" -> (inputs.manifest.single.toSeq ++ inputs.manifest.ring).map(_.bytes).sum,
      "storage" -> "capture generated just before the run; page-cache resident, not a cold-disk read",
      "client" -> "closed loop, one client, one query at a time",
      "generate_s" -> generateS, "measure_s" -> measureS)
    record("manifest") = Json.Raw(inputs.manifest.json)
    record("warmup_pass_s") = warmups.toSeq
    record("query_tail") = Json.obj("percentile" -> tailP, "samples" -> allQueries.size,
      "value_s" -> (if (allQueries.isEmpty) Double.NaN else Stats.percentile(allQueries, tailP)))
    record("failed_frac") = failed.toDouble / attempted
    record("failures") = failures.toSeq
    record("passes") = passes.map(p => Json.obj(
      "index" -> p.index, "traced" -> p.traced, "seconds" -> p.seconds, "task_s" -> p.taskS,
      "cpu_s" -> p.cpuS,
      "gc_s" -> p.gcS, "shuffle_mb" -> p.shuffleMb, "spill_mb" -> p.spillMb, "stages" -> p.stages,
      "tasks" -> p.tasks, "heap_mb" -> p.heapMb,
      "queries" -> p.queries.map(r => Json.obj("query" -> r.query, "seconds" -> r.seconds,
        "failures" -> r.failures, "operators" -> r.ops.map(o => Json.obj(
          "op" -> o.name, "metrics" -> o.metrics)))))).toSeq
    record("metrics") = metrics.map { case (k, (v, u)) => k -> Json.obj("value" -> v, "unit" -> u) }
    val base = new File(outDir, runId)
    java.nio.file.Files.writeString(new File(s"$base.json").toPath, Json.render(record) + "\n")
    if (traced) tracer.write(new File(s"$base.spans.jsonl"))

    failures.take(20).foreach(f => log.error(s"check failed: $f"))
    val correct = failed == 0
    println(Json.obj("correct" -> correct, "attempted" -> attempted, "failed" -> failed,
      "metrics" -> Json.obj(metrics.toSeq.map { case (k, (v, u)) =>
        k -> (Json.obj("value" -> v, "unit" -> u): Any) }: _*)))
    System.out.flush()
    System.exit(if (correct) 0 else 1)
  }

  private def opSum(p: PassRun, prefix: String, metric: String): Double =
    p.queries.flatMap(_.ops).filter(_.name.contains(prefix)).flatMap(_.metrics.get(metric)).sum.toDouble
}
