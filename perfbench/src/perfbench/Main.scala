package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side: one session, one client thread, a closed loop
  * over a fixed number of ops. Prints every metric with its unit and sample
  * count, then one JSON result line.
  *
  * {{{
  * perfbench.Main --workload trace_interactive --seed 1 --seconds 20 --trace 0 --work DIR
  *                [--inject-wrong] [--generate-only] [--spans FILE]
  * }}}
  */
object Main {
  val Cores = 4

  /** Spark confs of every run; printed at start. */
  def confs(work: Path): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$Cores]",
    "spark.sql.extensions" -> "graft.GraftExtensions",
    "spark.sql.codegen.cache.maxEntries" -> "10000",
    "spark.sql.shuffle.partitions" -> Cores.toString,
    "spark.ui.enabled" -> "false",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.local.dir" -> work.resolve("spark-local").toString,
    "spark.sql.warehouse.dir" -> work.resolve("warehouse").toString)

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean, work: Path,
                        injectWrong: Boolean, generateOnly: Boolean, spans: Option[Path])

  def parse(a: Array[String]): Args = {
    val kv = mutable.HashMap[String, String]()
    var i = 0
    while (i < a.length) {
      val k = a(i).stripPrefix("--")
      if (k == "inject-wrong" || k == "generate-only") { kv(k) = "1"; i += 1 }
      else { require(i + 1 < a.length, s"--$k needs a value"); kv(k) = a(i + 1); i += 2 }
    }
    Args(kv("workload"), kv("seed").toLong, kv("seconds").toInt, kv.getOrElse("trace", "0") == "1",
      Paths.get(kv("work")).toAbsolutePath, kv.contains("inject-wrong"), kv.contains("generate-only"),
      kv.get("spans").map(Paths.get(_).toAbsolutePath))
  }

  def workload(name: String, ctx: Ctx): Workload = name match {
    case "trace_interactive" => new TraceInteractive(ctx)
    case "corpus_dedup" => new CorpusDedup(ctx)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  private def now(): Long = System.nanoTime()
  private def secs(ns: Long): Double = ns / 1e9

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Highest percentile with at least ten samples above it: (value,
    * percentile, samples above); None unless that percentile is at least
    * the median (20 samples or more). */
  def tail(xs: Seq[Double]): Option[(Double, Double, Int)] = {
    val s = xs.sorted
    if (s.size < 20) None else Some((s(s.size - 11), 100.0 * (s.size - 10) / s.size, 10))
  }

  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  private def codegen: (Long, Double) = {
    val h = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    (h.getCount, h.getSnapshot.getMean)
  }

  def main(argv: Array[String]): Unit = {
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val args = parse(argv)
    Files.createDirectories(args.work)

    val t0 = now()
    val b = confs(args.work).foldLeft(SparkSession.builder().appName("perfbench")) {
      case (bb, (k, v)) => if (k == "spark.master") bb.master(v) else bb.config(k, v)
    }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sc = spark.sparkContext
    val listener = new SpanListener
    sc.addSparkListener(listener)
    val tracer = new Tracer(sc)
    val ctx = new Ctx(spark, tracer, args.work, args.seed)
    val w = workload(args.workload, ctx)
    val sessionS = secs(now() - t0)

    val t1 = now()
    w.generate()
    val generateS = secs(now() - t1)
    if (args.generateOnly) {
      println(s"input_digest ${w.inputDigest()}")
      spark.stop()
      return
    }

    println(s"perfbench workload=${args.workload} seed=${args.seed} seconds=${args.seconds} " +
      s"trace=${if (args.trace) 1 else 0} " +
      s"heap=${Runtime.getRuntime.maxMemory / (1L << 20)}MB client_threads=1 loop=closed")
    confs(args.work).foreach { case (k, v) => println(s"conf $k=$v") }

    val t2 = now()
    w.open()
    val openS = secs(now() - t2)

    var attempted = 0
    var failed = 0
    val failures = mutable.ArrayBuffer[String]()
    /** Runs op `id`; returns its wall seconds and its result or error. */
    def runOp(op: String, id: Int, traced: Boolean): (Double, Either[String, OpResult]) = {
      val start = now()
      val res = try Right(tracer.span(s"op.$op", id)(w.run(op, id, traced)))
                catch { case e: Exception =>
                  e.printStackTrace()
                  Left(s"$op: ${e.getClass.getSimpleName}: ${e.getMessage}") }
      (secs(now() - start), res)
    }
    /** Checks a result (untimed), counts it, and releases what ops cached
      * since `before`. */
    def settle(op: String, res: Either[String, OpResult], before: Set[Int],
               inject: Boolean = false): Unit = {
      attempted += 1
      val verdict = res.flatMap { r =>
        val checked = if (inject) w.corrupt(r) else r
        try w.check(op, checked).toLeft(())
        catch { case e: Exception => Left(s"$op check: ${e.getClass.getSimpleName}: ${e.getMessage}") }
      }
      verdict.left.foreach { msg => failed += 1; failures += msg; System.err.println(s"FAILED $msg") }
      ctx.release(before)
    }
    def attempt(op: String, id: Int, traced: Boolean, inject: Boolean = false): Double = {
      val before = sc.getPersistentRDDs.keySet.toSet
      tracer.on = traced
      val (wall, res) = runOp(op, id, traced)
      if (traced) ctx.count("engine.cached_mb", sc.getRDDStorageInfo.map(_.memSize).sum / 1048576.0)
      settle(op, res, before, inject)
      tracer.on = false
      wall
    }

    // Warm-up: one untimed op of every type, run concurrently on `Cores`
    // threads (first runs are dominated by code generation and JIT
    // compilation, which overlap well), then checked one by one.
    val t3 = now()
    val before = sc.getPersistentRDDs.keySet.toSet
    val pool = java.util.concurrent.Executors.newFixedThreadPool(Cores)
    val warm = try {
      val pending = w.opTypes.zipWithIndex.map { case (op, i) =>
        pool.submit(new java.util.concurrent.Callable[(Double, Either[String, OpResult])] {
          def call(): (Double, Either[String, OpResult]) = runOp(op, -1 - i, traced = false)
        })
      }
      w.opTypes.zip(pending.map(_.get()))
    } finally pool.shutdown()
    warm.foreach { case (op, (_, res)) => settle(op, res, before) }
    val warmupS = secs(now() - t3)

    // a traced run spends its op budget half untraced, half traced, so it
    // takes about as long as an untraced one
    val budget = math.round(args.seconds * w.opsPerSecond).toInt
    val nOps = math.max(w.mix.size, if (args.trace) budget / 2 else budget)
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val walls = mutable.ArrayBuffer[Double]()
    val tracedWalls = mutable.ArrayBuffer[Double]()
    val codegenS = mutable.ArrayBuffer[Double]()
    for (i <- 0 until nOps) {
      val op = w.mix(i % w.mix.size)
      def plain(): Unit = walls += attempt(op, i, traced = false, inject = args.injectWrong && i == 0)
      def traced(): Unit = {
        val (n0, _) = codegen
        tracedWalls += attempt(op, i, traced = true)
        val (n1, mean) = codegen
        codegenS += (n1 - n0) * mean / 1000.0
      }
      if (!args.trace) plain()
      else if (i % 2 == 0) { plain(); traced() }
      else { traced(); plain() }
    }
    val timedS = walls.sum

    val e2e = mutable.LinkedHashMap[String, (Double, String)]()
    e2e("setup_s") = (setupS, "s")
    e2e("op_p50_s") = (median(walls.toSeq), "s")
    e2e("ops_per_s") = (walls.size / timedS, "1/s")

    println(f"setup: session ${sessionS}%.3f s, generate ${generateS}%.3f s, open ${openS}%.3f s, " +
      f"warmup ${warmupS}%.3f s (${w.opTypes.size} op types)")
    println("warm-up op seconds (concurrent): " +
      warm.map { case (op, (s, _)) => f"$op $s%.2f" }.mkString(", "))
    println("timed op seconds by type (median): " + w.opTypes.map { op =>
      val xs = walls.indices.filter(i => w.mix(i % w.mix.size) == op).map(walls(_))
      f"$op ${median(xs)}%.2f"
    }.mkString(", "))
    println(s"timed phase: ${walls.size} ops, ${"%.3f".format(timedS)} s of op time")
    e2e.foreach { case (k, (v, u)) => println(f"metric $k%-14s $v%.6f $u (n=${if (k.startsWith("op_")) walls.size else 1})") }
    tail(walls.toSeq).foreach { case (v, p, above) =>
      println(f"op_tail_s $v%.6f s (p$p%.1f, $above samples above it, of ${walls.size})") }
    w match {
      case t: TraceInteractive =>
        val conv = walls.indices.filter(i => w.mix(i % w.mix.size) == "convert").map(walls(_))
        if (conv.nonEmpty)
          println(f"events_per_s ${t.truth.events / median(conv)}%.1f 1/s (events converted, median of ${conv.size} convert ops)")
      case _ =>
    }
    println(f"peak_rss_mb ${peakRssMb()}%.1f MB (VmHWM)")
    println(f"op_fail_ratio ${if (attempted == 0) 0.0 else failed.toDouble / attempted}%.6f " +
      s"($failed of $attempted ops, warm-up included)")

    val metrics: Seq[(String, Double, String)] =
      if (!args.trace) e2e.toSeq.map { case (k, (v, u)) => (k, v, u) }
      else {
        val layers = LayerReport(tracer, listener, sc, ctx, tracedWalls.size, codegenS.toSeq,
          Seq("setup.generate_s" -> generateS, "setup.session_s" -> sessionS,
            "setup.open_s" -> openS, "setup.warmup_s" -> warmupS))
        LayerReport.coverage(tracer).filter(_._2 < LayerReport.MinCoverage).foreach { case (r, c) =>
          val msg = f"${r.name.stripPrefix("op.")} (op ${r.op}): layer spans cover $c%.3f of its wall " +
            f"time, below ${LayerReport.MinCoverage}%.2f"
          failed += 1; failures += msg; System.err.println(s"FAILED $msg")
        }
        val overhead = tracedWalls.sum / timedS - 1
        println(f"tracing overhead: traced ops ${tracedWalls.sum}%.3f s vs untraced ${timedS}%.3f s " +
          f"over the same ${walls.size} ops: ${overhead * 100}%+.1f%%")
        args.spans.foreach { p =>
          tracer.write(p)
          println(s"spans written to $p")
        }
        layers :+ (("trace.overhead_ratio", overhead, "ratio"))
      }
    if (args.trace) metrics.foreach { case (k, v, u) => println(f"metric $k%-32s $v%.6f $u") }

    failures.take(5).foreach(f => println(s"failure: $f"))
    val correct = failed == 0
    val body = metrics.map { case (k, v, u) =>
      s""""$k": {"value": ${fmt(v)}, "unit": "$u"}""" }.mkString(", ")
    spark.stop()
    println(s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {$body}}""")
    if (!correct) sys.exit(1)
  }

  private def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString
}
