package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.SparkSession

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}

/** One op's outcome. Failed ops (threw, or output did not check) keep
  * their error and are left out of every timing. */
final case class OpResult(name: String, wallS: Double, cpuS: Double, items: Long,
                          error: Option[String], engine: Option[OpEngine],
                          scratch: Int, persisted: Int, facts: Map[String, Double])

/** Benchmark JVM: builds the session the way `graft.Bench` does, sets the
  * workload up (several times, for `setup_s`), then runs it as a closed
  * loop — one client, next op only after the previous one ended — for
  * about the requested seconds, and writes the result JSON that
  * `perfbench/run.py` prints.
  *
  * Usage: Main --workload W --inputs DIR --work DIR --out FILE
  *             --seconds S --trace 0|1 --cores N [--fail-op K]
  */
object Main {
  private val SetupReps = 3
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def session(cores: Int, work: Path): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      // the graft.Bench confs
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.shuffle.compress", "false")
      .config("spark.shuffle.spill.compress", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // where scratch goes: inside the benchmark's work directory
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.GraftExtensions.register(spark)
    spark
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The highest of a fixed ladder of percentiles with at least ten samples
    * beyond it (nearest rank); p90 when no percentile has ten, which below
    * ten samples is the maximum. */
  def tail(xs: Seq[Double]): (Double, Double, Int) = {
    val s = xs.sorted
    val n = s.size
    def rank(p: Double) = math.max(1, math.ceil(p / 100 * n).toInt)
    val p = Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0).find(p => n - rank(p) >= 10).getOrElse(90.0)
    if (n == 0) (p, Double.NaN, 0) else (p, s(rank(p) - 1), n - rank(p))
  }

  /** A small join + aggregation: pays the engine's first-query costs
    * (shuffle, codegen, broadcast) inside set-up, not in the first op. */
  def touchEngine(spark: SparkSession): Unit = {
    import org.apache.spark.sql.functions._
    spark.range(0, 20000, 1, 4).select((col("id") % 97).as("k"), col("id").as("v"))
      .groupBy("k").agg(sum("v").as("s"))
      .join(spark.range(97).withColumnRenamed("id", "k"), "k")
      .orderBy("k").collect()
  }

  private def heapAfterGcMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** `probes`: per round, the probe spans' counts and times. */
  final class Section(val results: ArrayBuffer[OpResult], val probes: Seq[Map[String, Double]],
                      val peakHeapMb: Double)

  /** Counts summed and layer-span times ("<name>_s") of spans(from..). */
  private def spanFacts(t: Tracer, from: Int): Map[String, Double] = {
    val ss = t.spans.drop(from)
    ss.flatMap(_.attrs).groupMapReduce(_._1)(_._2)(_ + _) ++
      ss.filter(_.kind == "layer").groupMapReduce(_.name + "_s")(_.durS)(_ + _)
  }

  /** `rounds` rounds of ops: a fixed amount of work, so every run of a
    * workload makes the same ops in the same order. */
  def section(spark: SparkSession, wl: Workload, rounds: Int, tracer: Option[Tracer],
              failOp: Int, counter: Iterator[Int], log: String => Unit): Section = {
    val results = ArrayBuffer.empty[OpResult]
    val probes = ArrayBuffer.empty[Map[String, Double]]
    var peak = 0.0
    (0 until rounds).foreach { r =>
      for (t <- tracer; p <- wl.probes) {
        val from = t.spans.size
        p(t)
        t.collectOp()
        probes += spanFacts(t, from)
      }
      wl.round(r).foreach { op =>
        val k = counter.next()
        tracer.foreach(_.collectOp()) // drop what the last op's check started
        val spansBefore = tracer.map(_.spans.size).getOrElse(0)
        val cpu0 = os.getProcessCpuTime
        val t0 = System.nanoTime()
        val out = scala.util.Try {
          if (k == failOp) throw new IllegalStateException(s"forced failure of op $k")
          tracer match {
            case Some(t) => t.span(op.name, "op")(op.run(tracer))()
            case None => op.run(None)
          }
        }
        val wall = (System.nanoTime() - t0) / 1e9
        val cpu = (os.getProcessCpuTime - cpu0) / 1e9
        val engine = tracer.map(_.collectOp())
        val error = out.fold(e => Some(s"threw $e"), o =>
          scala.util.Try(op.check(o)).fold(e => Some(s"check threw $e"), identity))
        val items = out.toOption.flatMap(o => scala.util.Try(op.items(o)).toOption).getOrElse(0L)
        val scratch = graft.ops.ScratchCache.registered
        val persisted = spark.sparkContext.getPersistentRDDs.size
        graft.ops.ScratchCache.releaseAll()
        spark.catalog.clearCache()
        scala.util.Try(op.after())
        peak = math.max(peak, heapAfterGcMb())
        log(f"op $k ${op.name} $wall%.3fs" + error.fold("")(e => s" FAILED: $e"))
        results += OpResult(op.name, wall, cpu, items, error, engine, scratch, persisted,
          tracer.map(spanFacts(_, spansBefore)).getOrElse(Map.empty))
      }
    }
    new Section(results, probes.toSeq, peak)
  }

  def main(argv: Array[String]): Unit = {
    val processStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val inputs = Paths.get(a("inputs"))
    val work = Files.createDirectories(Paths.get(a("work")))
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val cores = a("cores").toInt
    val failOp = a.get("fail-op").map(_.toInt).getOrElse(-1)
    def log(s: String): Unit = System.err.println(s"[perfbench] $s")
    val load0 = os.getSystemLoadAverage

    val spark = session(cores, work)
    val sessionS = (System.currentTimeMillis() - processStartMs) / 1e3
    val spec = graft.model.Json.parseObject(Files.readString(inputs.resolve("spec.json")))
    val wl = Workloads(workload, spark, spec, inputs, work)
    val setups = (1 to SetupReps).map { _ =>
      val t0 = System.nanoTime()
      wl.setup()
      touchEngine(spark)
      (System.nanoTime() - t0) / 1e9
    }
    val setupS = sessionS + median(setups)
    log(f"session $sessionS%.2fs, set-ups ${setups.map(x => f"$x%.2f").mkString(",")}")

    val counter = Iterator.from(0)
    // nominal seconds of one round on a 4-core host: a run of S seconds
    // makes round(S / round_s) rounds, the same count whatever the speed
    val roundS = spec("round_s").asInstanceOf[Double]
    def rounds(s: Double) = math.max(1, math.round(s / roundS).toInt)
    val (metrics, results, extra) =
      if (!traced) {
        val s = section(spark, wl, rounds(seconds), None, failOp, counter, log)
        (endToEnd(s, setupS), s.results, Seq.empty[(String, String)])
      } else {
        // untraced, traced, untraced again: the first part takes the cold
        // round; the overhead pairs each traced op with the same op in the
        // last part, both run warm
        val third = rounds(seconds / 3)
        val before = section(spark, wl, third, None, failOp, counter, log)
        val tracer = new Tracer(spark, s"$workload-${a.getOrElse("run-id", "run")}")
        tracer.attach()
        val t = section(spark, wl, third, Some(tracer), failOp, counter, log)
        tracer.detach()
        val after = section(spark, wl, third, None, failOp, counter, log)
        tracer.writeJsonl(Paths.get(a("trace-out")))
        val self = tracer.selfTimes.toSeq.sortBy(_._1)
          .map { case (k, v) => k -> Json.num(v) }
        (perLayer(t, after), before.results ++ t.results ++ after.results,
          Seq("self_time_s" -> Json.obj(self), "spans" -> tracer.spans.size.toString))
      }

    val failures = results.filter(_.error.nonEmpty)
      .map(r => Json.obj(Seq("op" -> Json.str(r.name), "error" -> Json.str(r.error.get))))
    val rt = ManagementFactory.getRuntimeMXBean
    val hs = ManagementFactory.getPlatformMXBean(classOf[com.sun.management.HotSpotDiagnosticMXBean])
    val conf = spark.conf.getAll.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.str(v) }
    val okWall = results.filter(_.error.isEmpty)
    val (tailP, _, beyond) = tail(okWall.map(_.wallS).toSeq)
    val conditions = Seq(
      "load_1m_start" -> Json.num(load0),
      "load_1m_end" -> Json.num(os.getSystemLoadAverage),
      "nproc" -> Runtime.getRuntime.availableProcessors.toString,
      "local_n" -> cores.toString,
      "heap_max_mb" -> Json.num(Runtime.getRuntime.maxMemory / 1048576.0),
      "compressed_oops" -> Json.str(hs.getVMOption("UseCompressedOops").getValue),
      "gc" -> Json.str(ManagementFactory.getGarbageCollectorMXBeans.toArray
        .map(_.asInstanceOf[java.lang.management.GarbageCollectorMXBean].getName).mkString(",")),
      "jvm_args" -> Json.str(rt.getInputArguments.toArray.mkString(" ")),
      "spark_conf" -> Json.obj(conf),
      "session_start_s" -> Json.num(sessionS),
      "setup_reps_s" -> setups.map(Json.num).mkString("[", ",", "]"),
      "ops_timed" -> okWall.size.toString,
      "op_tail_percentile" -> Json.num(tailP),
      "op_tail_samples_beyond" -> beyond.toString)
    val json = Json.obj(Seq(
      "attempted" -> results.size.toString,
      "failed" -> failures.size.toString,
      "failures" -> failures.mkString("[", ",", "]"),
      "metrics" -> Json.obj(metrics.map { case (k, v) => k -> Json.num(v) }),
      "conditions" -> Json.obj(conditions ++ extra)))
    Files.writeString(Paths.get(a("out")), json + "\n")
    scala.util.Try(spark.stop())
    System.exit(0)
  }

  def endToEnd(s: Section, setupS: Double): Seq[(String, Double)] = {
    val ok = s.results.filter(_.error.isEmpty)
    val walls = ok.map(_.wallS).toSeq
    Seq(
      "setup_s" -> setupS,
      "items_per_s" -> ok.map(_.items).sum / walls.sum,
      "op_p50_s" -> median(walls),
      "op_tail_s" -> tail(walls)._2,
      "cpu_s" -> ok.map(_.cpuS).sum / ok.size,
      "peak_heap_mb" -> s.peakHeapMb)
  }

  /** Means per traced op (probe numbers: means per round). Layer numbers
    * come from the spans the ops and probes opened. */
  def perLayer(t: Section, plain: Section): Seq[(String, Double)] = {
    val ok = t.results.filter(_.error.isEmpty)
    val n = math.max(1, ok.size).toDouble
    val e = ok.flatMap(_.engine)
    def mean(f: OpEngine => Double) = e.map(f).sum / n
    val skews = e.flatMap(_.stageSkews)
    def means(facts: Seq[Map[String, Double]]): Map[String, Double] =
      facts.flatMap(_.keys).distinct.map(k => k -> facts.map(_.getOrElse(k, 0.0)).sum / facts.size).toMap
    val overhead = t.results.zip(plain.results).collect {
      case (x, y) if x.error.isEmpty && y.error.isEmpty => x.wallS - y.wallS
    }
    Seq(
      "spark.jobs" -> mean(_.jobs),
      "spark.stages" -> mean(_.stages),
      "spark.tasks" -> mean(_.tasks),
      "spark.task_skew" -> (if (skews.isEmpty) 1.0 else skews.sum / skews.size),
      "spark.task_cpu_s" -> mean(_.taskCpuS),
      "spark.gc_s" -> mean(_.gcS),
      "spark.shuffle_write_mb" -> mean(_.shuffleWriteMb),
      "spark.shuffle_read_mb" -> mean(_.shuffleReadMb),
      "spark.spill_mb" -> mean(_.spillMb),
      "catalyst.planning_s" -> mean(_.planningS),
      "catalyst.plan_nodes" -> mean(_.planNodes),
      "spark.driver_gap_s" -> ok.flatMap(r => r.engine.map(en =>
        math.max(0.0, r.wallS - Tracer.unionUs(en.jobIntervalsUs) / 1e6))).sum / n,
      "spark.persisted_rdds_after" -> ok.map(_.persisted).sum / n,
      "ops.scratch_registered" -> ok.map(_.scratch).sum / n,
      "trace.overhead_s" -> median(overhead.toSeq)
    ) ++ means(ok.map(_.facts).toSeq) ++ means(t.probes)
  }
}
