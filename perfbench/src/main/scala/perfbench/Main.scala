package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Order statistics over latency samples. */
object Stats {
  /** Linear-interpolation quantile (q in [0, 1]); NaN on no samples. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted.toIndexedSeq
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

/** One reported number: value, unit and how many samples it summarises. */
final case class Metric(value: Double, unit: String, samples: Int)

/** Everything a workload hands back to [[Main]]. */
final class Outcome {
  var attempted = 0
  var failed = 0
  val problems = scala.collection.mutable.ArrayBuffer[String]()
  /** Metrics of the end-to-end contract, by name. */
  val endToEnd = scala.collection.mutable.LinkedHashMap[String, Metric]()
  /** Per-layer metrics (reported in traced runs). */
  val layers = scala.collection.mutable.LinkedHashMap[String, Metric]()
  /** Workload-specific figures printed above the result line. */
  val details = scala.collection.mutable.LinkedHashMap[String, Metric]()

  def check(ok: Boolean, what: => String): Boolean = {
    attempted += 1
    if (!ok) { failed += 1; if (problems.size < 20) problems += what }
    ok
  }
}

/** Shared state of one benchmark run. */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val work: java.io.File,
                val seed: Long, val seconds: Int, val sessionS: Double) {
  val cores: Int = spark.sparkContext.defaultParallelism
  /** Set-up is repeated this many times per run; `setup_s` takes the median. */
  val setupReps = 2

  def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Progress line on standard error, stamped with seconds since JVM start. */
  def log(msg: String): Unit =
    System.err.println(f"perfbench ${java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%7.2f s: $msg")

  def dir(name: String): String = new java.io.File(work, name).getAbsolutePath

  /** Write generated rows as one parquet table under `dir`. */
  def writeTable(dir: String, name: String, df: DataFrame): Unit =
    df.write.mode("overwrite").parquet(s"$dir/$name.parquet")

  /** Spark storage held by cached or checkpointed blocks at the end of the
    * timed phase, in MB, once the blocks of unreachable results have been
    * released. */
  def memory(out: Outcome): Unit = {
    System.gc()
    var last = -1L
    var cached = 0L
    var n = 0
    while (n < 20 && cached != last) {
      Thread.sleep(150)
      last = cached
      cached = spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
      n += 1
    }
    out.layers("mem.cached_mb") = Metric(cached / 1e6, "MB", 1)
  }

  /** The set-up figure every workload reports: session start once, plus
    * the median of the repeated input generation and build, plus warm-up. */
  def setup(out: Outcome, repsS: Seq[Double], warmupS: Double): Unit = {
    out.endToEnd("setup_s") = Metric(sessionS + Stats.median(repsS) + warmupS, "s", repsS.size)
    out.layers("model.session_s") = Metric(sessionS, "s", 1)
    out.layers("bench.warmup_s") = Metric(warmupS, "s", 1)
  }

  /** Counters of the spans with these names (of the requests `request`
    * accepts), divided per call. */
  def perCall(out: Outcome, prefix: String, names: Seq[String], calls: Int, wallS: Double,
              request: String => Boolean = _ => true): Unit = {
    val c = new Counters
    names.foreach(n => c.add(tracer.layer(n, request)._3))
    val k = math.max(calls, 1).toDouble
    out.layers(s"$prefix.jobs") = Metric(c.jobs.get / k, "count", calls)
    out.layers(s"$prefix.tasks") = Metric(c.tasks.get / k, "count", calls)
    out.layers(s"$prefix.shuffle_bytes") = Metric(c.shuffleWrite.get / k, "bytes", calls)
    out.layers(s"$prefix.core_busy_frac") =
      Metric(if (wallS > 0) c.runMs.get / 1e3 / (wallS * cores) else 0.0, "fraction", calls)
  }
}

/** `perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *  --work <dir> [--trace-out <dir>] [--benchmark <BENCHMARK.json>]`
  *
  * Runs one workload and prints a human-readable table of every figure
  * (value, unit, samples), then, as the last line of standard output, the
  * result object `{"correct", "attempted", "failed", "metrics"}` carrying the
  * end-to-end metrics (untraced) or the per-layer metrics (traced). */
object Main {
  val workloads: Map[String, Ctx => Outcome] = Map(
    "zoe-serve" -> Serve.run,
    "graph-mutate" -> Mutate.run,
    "graph-batch" -> Batch.run)

  /** The metric lists of BENCHMARK.json: (name, unit) of the end-to-end
    * metrics every untraced run reports, and of the per-layer metrics every
    * traced run reports (0 for a layer the workload leaves idle). */
  def declared(benchmark: java.io.File): (Seq[(String, String)], Seq[(String, String)]) = {
    import scala.jdk.CollectionConverters._
    val b = new com.fasterxml.jackson.databind.ObjectMapper().readTree(benchmark)
    def list(key: String) =
      b.get(key).elements().asScala.map(m => m.get("name").asText() -> m.get("unit").asText()).toSeq
    (list("end_to_end"), list("per_layer"))
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = opts.getOrElse("workload", "")
    val run = workloads.getOrElse(workload, sys.error(s"unknown workload '$workload'"))
    val seed = opts.getOrElse("seed", "1").toLong
    val seconds = opts.getOrElse("seconds", "10").toInt
    val trace = opts.getOrElse("trace", "0") == "1"
    val work = new java.io.File(opts.getOrElse("work", "perfbench-work")).getAbsoluteFile
    val traceOut = new java.io.File(opts.getOrElse("trace-out", new java.io.File(work, "trace").getPath))
    val (endToEnd, perLayer) = declared(new java.io.File(opts.getOrElse("benchmark", "BENCHMARK.json")))
    val cores = Runtime.getRuntime.availableProcessors
    work.mkdirs()

    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new java.io.File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new java.io.File(work, "warehouse").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    val sessionS = (System.nanoTime() - t0) / 1e9

    val ctx = new Ctx(spark, new Tracer(spark.sparkContext, trace), work, seed, seconds, sessionS)
    ctx.log("session started")
    val out =
      try run(ctx)
      finally {
        if (trace) {
          ctx.tracer.drain()
          ctx.tracer.write(new java.io.File(traceOut, s"$workload-seed$seed"))
        }
      }
    if (trace) {
      val tot = ctx.tracer.total
      out.layers("run.task_cpu_ms") = Metric(tot.cpuNs.get / 1e6, "ms", tot.tasks.get.toInt)
      out.layers("run.jvm_gc_ms") = Metric(tot.gcMs.get.toDouble, "ms", tot.tasks.get.toInt)
      out.layers("run.spill_bytes") = Metric(tot.spill.get.toDouble, "bytes", tot.tasks.get.toInt)
      out.layers("run.scheduler_delay_ms") = Metric(tot.schedDelayMs.get.toDouble, "ms", tot.tasks.get.toInt)
      out.layers("trace.spans") = Metric(ctx.tracer.all.size.toDouble, "count", 1)
      out.layers("trace.op_p50_ms") = out.endToEnd("op_p50_ms")
    }
    ctx.log("workload done")
    spark.stop()
    ctx.log("session stopped")

    val report = out.endToEnd ++ out.details ++ (if (trace) out.layers else Nil)
    report.foreach { case (k, m) => println(f"$k%-36s ${m.value}%14.4f ${m.unit}%-9s n=${m.samples}") }
    out.problems.foreach(p => println(s"FAILED: $p"))
    val (names, got) = if (trace) (perLayer, out.layers) else (endToEnd, out.endToEnd)
    val undeclared = got.keySet.toSet -- names.map(_._1)
    require(undeclared.isEmpty, s"metrics missing from BENCHMARK.json: ${undeclared.mkString(", ")}")
    val metrics = names.map { case (k, unit) =>
      val m = got.getOrElse(k, Metric(0.0, unit, 0))
      require(m.unit == unit, s"$k reported in ${m.unit}, declared in $unit")
      k -> Json.Raw(Json.obj(Seq("value" -> m.value, "unit" -> unit)))
    }
    println(Json.obj(Seq(
      "correct" -> (out.failed == 0 && out.attempted > 0),
      "attempted" -> out.attempted,
      "failed" -> out.failed,
      "metrics" -> Json.Raw(Json.obj(metrics)))))
  }
}
