package perfbench

import java.nio.file.Path

import scala.collection.mutable

/** A batch workload: a public call whose output lands in a sink, run
  * by the shared protocol [[run]]: one set-up pass over small inputs,
  * one untimed warm-up pass over the full-size inputs, timed passes
  * over them (the first is `build_s`, the median of the others
  * `wall_s`), and (traced runs only) one traced pass plus the per-layer
  * plan prefixes. Caches are cleared before every pass, so no pass
  * reuses another's persisted frames.
  */
trait BatchWorkload extends Workload {
  type In
  /** Input size multiplier of the set-up (warm) pass. */
  def smallScale: Double
  /** Writes seeded inputs under `dir` (outside any timed region). */
  def generate(ctx: Ctx, dir: Path, seed: Long, scale: Double): In
  /** The public call, through to the sink commit. */
  def runOnce(ctx: Ctx, in: In): Unit
  /** Checks what the sink holds; `None` when it is correct. */
  def check(ctx: Ctx, in: In): Option[String]
  /** The traced run's per-layer measurements over `in`. */
  def layers(ctx: Ctx, in: In, res: Result): Unit

  /** Time one pass and check its output. */
  private def pass(ctx: Ctx, in: In, res: Result, label: String): (Double, Double) = {
    Batch.fresh(ctx)
    val (_, wall, cpu) = Main.timed(runOnce(ctx, in))
    res.op(label, check(ctx, in))
    (wall, cpu)
  }

  def run(ctx: Ctx, res: Result): Unit = {
    val o = ctx.opts
    val (small, genSmall, _) = Main.timed(
      generate(ctx, ctx.dir("small"), o.seed ^ 0x5eed, smallScale * o.scale))
    val (warm, _) = pass(ctx, small, res, "warm")
    res.put("setup_s", ctx.sessionReadyS + warm)
    if (o.setupOnly) return

    val (full, genFull, _) = Main.timed(generate(ctx, ctx.dir("full"), o.seed, o.scale))
    // the first pass over the full-size inputs is also the first to run
    // the hot paths at that size (JIT): 1-3 s slower than the passes
    // after it, by an amount that varies from run to run, so it is not
    // reported
    val (jit, _) = pass(ctx, full, res, "pass0")
    val walls = mutable.ArrayBuffer.empty[Double]
    val cpus = mutable.ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    // a traced run prints no end-to-end metric: it needs only the one
    // steady pass that trace.overhead_s is measured against
    val minPasses = if (ctx.tracer.enabled) 2 else Batch.MinPasses
    while (walls.size < minPasses ||
        (!ctx.tracer.enabled && (System.nanoTime() - t0) / 1e9 < o.seconds)) {
      val (wall, cpu) = pass(ctx, full, res, s"pass${walls.size + 1}")
      walls += wall
      cpus += cpu
    }
    println(f"[perfbench] inputs generated in $genSmall%.3f + $genFull%.3f s")
    println(f"[perfbench] passes: warm $warm%.3f, full-size warm-up $jit%.3f, " +
      s"timed ${walls.map(w => f"$w%.3f").mkString(" ")} s")
    val steady = walls.toSeq.tail
    res.put("wall_s", Main.median(steady))
    res.put("cpu_s", Main.median(cpus.toSeq.tail))
    res.put("peak_rss_mb", Main.peakRssMb())
    res.put("build_s", walls.head)
    res.put("slice_p50_ms", Main.pct(steady, 0.5) * 1e3)
    res.put("slice_p75_ms", Main.pct(steady, 0.75) * 1e3)

    if (ctx.tracer.enabled) {
      ctx.tracer.attach(ctx.spark)
      Batch.fresh(ctx)
      val (_, wall, _) = Main.timed(ctx.tracer.span(s"$name.e2e")(runOnce(ctx, full)))
      res.op("traced", check(ctx, full))
      res.putLayer("trace.overhead_s", wall - Main.median(steady))
      Batch.putSpark(res, ctx.tracer.named(s"$name.e2e").head)
      layers(ctx, full, res)
      ctx.tracer.detach()
    }
  }
}

object Batch {
  /** Timed passes per run, at least: `build_s` and two for `wall_s`. */
  val MinPasses = 3

  /** The engine counters of one span (`spark.*`) as per-layer metrics. */
  def putSpark(res: Result, s: Span): Unit =
    s.counters.foreach { case (k, v) => if (k.startsWith("spark.")) res.putLayer(k, v) }

  def fresh(ctx: Ctx): Unit = {
    ctx.spark.catalog.clearCache()
    System.gc()
  }

  /** Time one plan prefix inside a span, caches cleared first. */
  def prefix(ctx: Ctx, name: String)(body: => Unit): Span = {
    fresh(ctx)
    ctx.tracer.span(name)(body)
    ctx.tracer.named(name).last
  }

  def noop(df: org.apache.spark.sql.DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()
}
