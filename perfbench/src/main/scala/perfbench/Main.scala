package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One benchmark run: `--workload <name> --seed <n> --seconds <s>
  * --trace <0|1> --data <dir> --work <dir>`.
  *
  * Closed loop, one client: each operation starts when the previous one
  * has returned, and all cached and checkpointed blocks are dropped
  * between operations. Set-up is session start and input generation from
  * the seed, done `setups` times, each time in a new session, then one warm
  * pass on the last session; `setup_s` is the median of the starts plus the
  * warm pass (output checks excluded). The timed passes run whole on the
  * same session, until `--seconds` have gone and at least `MinOps`
  * operations were timed.
  * Every operation's output is checked after its clock stops.
  *
  * The last line of standard output is the result JSON. With `--trace 1`
  * the per-layer figures are reported instead of the end-to-end ones. */
object Main {
  // op_tail_s needs at least 10 samples above its percentile
  val MinOps = 11

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt.getOrElse("trace", "0") == "1"
    val work = new File(opt("work"))
    val nproc = Runtime.getRuntime.availableProcessors
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).filter(_ > 0)
      .fold(nproc)(math.min(_, nproc))
    val workload = Workload(opt("workload"), seed, new File(opt("data")).getAbsolutePath)

    var failed = 0L
    var attempted = 0L
    val failures = mutable.ArrayBuffer.empty[String]
    var spark: SparkSession = null

    def dropAllBlocks(): Unit = {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    }

    // time spent checking outputs, which the warm pass's time leaves out
    var checkNs = 0L

    // per timed pass: largest driver heap right after the full GC that
    // follows each operation
    val passHeapMb = mutable.ArrayBuffer.empty[Double]

    /** One pass; returns (op name, seconds, bytes written) per operation. */
    def pass(trace: Tracer, outDir: File, timed: Boolean): Seq[(String, Double, Long)] = {
      val res = workload.ops(spark, trace, outDir.getPath).map { op =>
        attempted += 1
        val t0 = System.nanoTime()
        val done = try Right(trace.span(Kind.Op, op.name)(op.run()))
          catch { case e: Throwable => Left(s"${e.getClass.getName}: ${e.getMessage}") }
        val t1 = System.nanoTime()
        val err = done.fold(Some(_), d =>
          try trace.span(Kind.Check, op.name)(d.check())
          catch { case e: Throwable => Some(s"check threw ${e.getClass.getName}: ${e.getMessage}") })
        checkNs += System.nanoTime() - t1
        err.foreach { e => failed += 1; failures += s"${op.name}: $e" }
        val bytes = done.toOption.map(_.written.map(Parquet.bytes).sum).getOrElse(0L)
        if (op.release) dropAllBlocks()
        if (timed) {
          System.gc()
          passHeapMb(passHeapMb.size - 1) = math.max(passHeapMb.last, liveHeapMb())
        }
        (op.name, (t1 - t0) / 1e9, bytes)
      }
      deleteTree(outDir)
      res
    }

    // ---- set-up: `workload.setups` sessions, the last one kept; warm pass --
    val startS = (1 to workload.setups).map { k =>
      val t0 = System.nanoTime()
      if (spark != null) spark.stop()
      spark = session(cpus, work)
      workload.prepare(spark, seed, new File(work, s"in-$k").getPath)
      (System.nanoTime() - t0) / 1e9
    }
    val warmT0 = System.nanoTime()
    pass(new Tracer(spark, enabled = false), new File(work, "warm"), timed = false)
    val warmS = (System.nanoTime() - warmT0 - checkNs) / 1e9

    // ---- timed passes ----------------------------------------------------
    val trace = new Tracer(spark, traced)
    val passes = mutable.ArrayBuffer.empty[Seq[(String, Double, Long)]]
    val t0 = System.nanoTime()
    trace.span(Kind.Workload, workload.name) {
      while (passes.isEmpty || (System.nanoTime() - t0) / 1e9 < seconds ||
          passes.map(_.size).sum < MinOps) {
        passHeapMb += 0.0
        passes += trace.span(Kind.Pass, s"pass-${passes.size}")(
          pass(trace, new File(work, s"pass-${passes.size}"), timed = true))
      }
    }

    val latencies = passes.flatten.map(_._2).sorted
    val passS = passes.map(_.map(_._2).sum).toSeq
    // highest percentile with at least 10 samples above it
    val tailRank = latencies.size - 10
    // the result line carries these; the rest is printed above it
    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    var opRows = Seq.empty[(String, Seq[(String, Double)])]
    if (!traced) {
      metrics("setup_s") = (median(startS) + warmS, "s")
      metrics("pass_s") = (median(passS), "s")
      // the median over passes: one late-cleaned block can double one pass's
      // figure (228 MB against 95 MB in one of ten runs)
      metrics("driver_live_heap_mb") = (median(passHeapMb.toSeq), "MB")
    } else {
      val report = trace.report(Workload.Layers, cpus)
      val layer = report.layers
      opRows = report.ops
      layer.foreach { case (k, v) => if (k != "input_bytes") metrics(k) = (v, unit(k)) }
      metrics("traced_pass_s") = (median(passS), "s")
      // every operation's files, as written on disk
      val written = passes.flatten.map(_._3).sum.toDouble
      metrics("io.output_bytes") = (written, "B")
      metrics("write_bytes_per_input_byte") =
        (if (layer("input_bytes") > 0) written / layer("input_bytes") else 0.0, "ratio")
    }

    spark.stop()
    deleteTree(work)

    // ---- report ----------------------------------------------------------
    println(s"workload ${workload.name} seed $seed cpus $cpus passes ${passes.size} " +
      s"timed_ops ${latencies.size} starts_s ${startS.map(s => f"$s%.3f").mkString(" ")} " +
      s"warm_pass_s ${f"$warmS%.3f"} passes_s ${passS.map(p => f"$p%.3f").mkString(" ")}")
    passes.flatten.groupBy(_._1).toSeq.sortBy(_._1).foreach { case (op, xs) =>
      println(f"  op $op%-28s median ${median(xs.map(_._2).toSeq)}%.4f s over ${xs.size}")
    }
    opRows.foreach { case (op, m) =>
      println(s"  op_trace $op " + m.map { case (k, v) => f"$k=$v%.4f" }.mkString(" "))
    }
    println(f"  op_p50_s                           ${median(latencies.toSeq)}%.6f s")
    println(f"  op_tail_s                          ${latencies(tailRank - 1)}%.6f s " +
      f"(p${100.0 * tailRank / latencies.size}%.1f of ${latencies.size} ops)")
    println(f"  op_fail_ratio                      ${failed.toDouble / attempted}%.6f ratio " +
      s"($failed of $attempted)")
    metrics.foreach { case (k, (v, u)) => println(f"  $k%-34s $v%.6f $u") }
    failures.foreach(f => println(s"FAILED $f"))
    val json = metrics.map { case (k, (v, u)) => s""""$k": {"value": $v, "unit": "$u"}""" }
      .mkString("{", ", ", "}")
    println(s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, "metrics": $json}""")
    System.out.flush()
    sys.exit(if (failed == 0) 0 else 1)
  }

  def session(cpus: Int, work: File): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def unit(metric: String): String = metric.split('.').last match {
    case "calls" | "jobs" | "tasks" => "count"
    case f if f.endsWith("_bytes") => "B"
    case f if f.endsWith("_s") => "s"
    case _ => "ratio"
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def liveHeapMb(): Double =
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}
