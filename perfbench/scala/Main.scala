package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Command-line options of one benchmark run. `scale` shrinks the
  * full-size inputs (the self-test runs at a small scale); `expectWrong`
  * makes every output check expect a deliberately wrong answer;
  * `setupOnly` stops after the set-up and prints nothing: the run that
  * records the class-data-sharing archive, which names every workload
  * in `workload` (comma-separated) and sets each of them up in turn.
  */
final case class Opts(workload: String, seed: Long, seconds: Int,
    trace: Boolean, work: Path, out: Path, cores: Int, scale: Double,
    expectWrong: Boolean, setupOnly: Boolean, metrics: Path)

/** The metrics a run must print, with their units, as listed in
  * BENCHMARK.json (`run.py` passes them as `kind<TAB>name<TAB>unit`
  * lines, kind `e2e` or `layer`).
  */
final case class MetricSpec(e2e: Seq[(String, String)], layer: Seq[(String, String)])

object MetricSpec {
  def load(p: Path): MetricSpec = {
    val rows = Files.readAllLines(p).toArray(Array.empty[String]).toSeq
      .filter(_.nonEmpty).map(_.split('\t'))
    def of(kind: String) = rows.collect { case Array(`kind`, n, u) => n -> u }
    MetricSpec(of("e2e"), of("layer"))
  }
}

/** A workload: runs its operations and fills `res`. `bypasses` are the
  * per-layer metric prefixes of layers this workload does not time;
  * a traced run reports 0 there. Every other listed metric must be
  * measured, or the run fails.
  */
trait Workload {
  def name: String
  def bypasses: Seq[String]
  def run(ctx: Ctx, res: Result): Unit
}

/** What a workload needs while it runs. */
final case class Ctx(spark: SparkSession, opts: Opts, tracer: Tracer,
    sessionReadyS: Double) {
  def dir(name: String): Path = {
    val p = opts.work.resolve(name)
    Files.createDirectories(p)
    p
  }
}

/** Metrics and operation counts of one run. An operation is one batch
  * run or one streaming slice; a failed output check fails it.
  */
final class Result {
  /** End-to-end metrics (printed by an untraced run). */
  val e2e = mutable.LinkedHashMap.empty[String, Double]
  /** Per-layer metrics (printed by a traced run). */
  val layer = mutable.LinkedHashMap.empty[String, Double]
  var attempted = 0
  var failed = 0
  val failures = mutable.ArrayBuffer.empty[String]

  def put(name: String, value: Double): Unit = e2e(name) = value

  def putLayer(name: String, value: Double): Unit = layer(name) = value

  /** Count one operation; `problem` is the failed check, if any. */
  def op(label: String, problem: Option[String]): Unit = {
    attempted += 1
    problem.foreach { p =>
      failed += 1
      if (failures.size < 20) failures += s"$label: $p"
    }
  }
}

object Main {

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    Files.createDirectories(o.work)
    Files.createDirectories(o.out)
    System.setProperty("derby.system.home", o.work.resolve("derby").toString)
    System.setProperty("derby.stream.error.file",
      o.work.resolve("derby.log").toString)
    // the JDBC target is scratch: no fsync per commit, so disk latency
    // does not leak into the timings
    System.setProperty("derby.system.durability", "test")
    val spark = graft.GraftSession.builder(o.cores, "perfbench")
      .master(s"local[${o.cores}]")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", o.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", o.work.resolve("warehouse").toString)
      .config("spark.hadoop.hadoop.tmp.dir", o.work.resolve("hadoop-tmp").toString)
      .config("spark.sql.streaming.checkpointLocation",
        o.work.resolve("checkpoints").toString)
      .getOrCreate()
    graft.functions.GraftFunctions.register(spark)
    spark.sparkContext.setLogLevel("ERROR")
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val sessionReadyS = (System.currentTimeMillis() - jvmStart) / 1e3

    val runId = s"${o.workload}-${o.seed}-${System.currentTimeMillis()}"
    val tracer = new Tracer(o.trace, runId)
    val res = new Result
    val wls: Seq[Workload] = o.workload.split(',').toSeq.map {
      case "c360_nightly" => C360
      case "corpus_prepare" => Corpus
      case "admit_stream" => Admit
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    require(o.setupOnly || wls.size == 1, "one workload per measured run")
    wls.foreach(w => w.run(Ctx(spark, o.copy(work = o.work.resolve(w.name)), tracer,
      sessionReadyS), res))
    spark.stop()
    if (o.setupOnly) return
    val wl = wls.head

    // the printed set is exactly BENCHMARK.json's end-to-end list
    // (untraced) or per-layer list (traced)
    val spec = MetricSpec.load(o.metrics)
    val (want, got) = if (o.trace) (spec.layer, res.layer) else (spec.e2e, res.e2e)
    val printed = want.map { case (k, u) =>
      val bypassed = o.trace && wl.bypasses.exists(k.startsWith)
      (k, got.get(k).orElse(if (bypassed) Some(0.0) else None), u)
    }
    res.failures.foreach(f => println(s"[perfbench] FAILED $f"))
    printed.foreach { case (k, v, u) =>
      println(f"[perfbench] $k%-40s ${v.fold("MISSING")(Json.num)}%s $u%s")
    }
    println(s"[perfbench] fail_frac ${Json.num(res.failed.toDouble / math.max(1, res.attempted))} " +
      s"(attempted=${res.attempted} failed=${res.failed})")
    val missing = printed.collect { case (k, None, _) => k }
    if (missing.nonEmpty) {
      System.err.println(s"[perfbench] not measured: ${missing.mkString(", ")}")
      sys.exit(3)
    }
    val metrics = metricsJson(printed.map { case (k, v, u) => (k, v.get, u) })
    if (o.trace) {
      val art = o.out.resolve(s"trace-${o.workload}-${o.seed}.json")
      Files.writeString(art, tracer.json(Seq(
        "run" -> Json.str(runId), "workload" -> Json.str(o.workload),
        "seed" -> o.seed.toString,
        "attempted" -> res.attempted.toString, "failed" -> res.failed.toString,
        "per_layer" -> metrics)))
      println(s"[perfbench] trace artifact ${art.getFileName} " +
        s"(${tracer.all.size} spans)")
    }
    println(s"""RESULT {"correct":${res.failed == 0},"attempted":${res.attempted},""" +
      s""""failed":${res.failed},"metrics":$metrics}""")
  }

  private def metricsJson(ms: Seq[(String, Double, String)]): String =
    ms.map { case (k, v, u) =>
      s"${Json.str(k)}:{${Json.str("value")}:${Json.num(v)},${Json.str("unit")}:${Json.str(u)}}"
    }.mkString("{", ",", "}")

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def get(k: String, d: => String): String = m.getOrElse(k, d)
    Opts(
      workload = get("workload", sys.error("--workload is required")),
      seed = get("seed", "1").toLong,
      seconds = get("seconds", "10").toInt,
      trace = get("trace", "0") == "1",
      work = Paths.get(get("work", ".bench_work")).toAbsolutePath,
      out = Paths.get(get("out", ".bench_out")).toAbsolutePath,
      cores = get("cores", Runtime.getRuntime.availableProcessors.toString).toInt,
      scale = get("scale", "1.0").toDouble,
      expectWrong = get("expect-wrong", "0") == "1",
      setupOnly = get("setup-only", "0") == "1",
      metrics = Paths.get(get("metrics", sys.error("--metrics is required"))).toAbsolutePath)
  }

  // ---- measurement helpers shared by the workloads ----

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** Process CPU seconds so far (all threads: driver and executors). */
  def cpuS(): Double = os.getProcessCpuTime / 1e9

  /** The process's peak resident set (`VmHWM`) in MiB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  /** Wall and process CPU seconds of `body`. */
  def timed[T](body: => T): (T, Double, Double) = {
    val c0 = cpuS()
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9, cpuS() - c0)
  }

  /** Percentile by linear interpolation between closest ranks. */
  def pct(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else {
      val pos = p * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.ceil(pos).toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }

  def median(xs: Seq[Double]): Double = pct(xs, 0.5)

  /** Bytes under `p` (recursive). */
  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) org.apache.commons.io.FileUtils.deleteDirectory(p.toFile)
}
