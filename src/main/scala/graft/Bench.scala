package graft

import com.fasterxml.jackson.databind.{DeserializationFeature, JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.cfg.JsonNodeFeature
import scala.jdk.CollectionConverters._

/** Per-round benchmark main: runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR and prints one JSON line.
  *
  * Each query is forced through the `noop` sink (full computation of every
  * column, no output cost) rather than `count()`, which would let Catalyst
  * prune the projections away and under-measure. One warm-up query runs
  * first so JIT/classloading costs don't land on the first measured query.
  */
object Bench {
  import LocalSession.dropAllBlocks

  /** A committed JSON artifact (BENCH_LOCAL.json, BENCH_SF1.json), if
    * present. Floats parse as BigDecimal with their written scale, so a
    * carried number re-emits with the digits it was written with. */
  private[graft] def readJson(file: java.io.File): Option[JsonNode] =
    Some(file).filter(_.exists).map(f =>
      new ObjectMapper()
        .enable(DeserializationFeature.USE_BIG_DECIMAL_FOR_FLOATS)
        .configure(JsonNodeFeature.STRIP_TRAILING_BIGDECIMAL_ZEROES, false)
        .readTree(f))

  /** The members of the JSON object `json.name` (empty when absent). */
  private[graft] def fields(json: JsonNode, name: String): Map[String, JsonNode] =
    Option(json.get(name)).map(_.properties.asScala
      .map(e => e.getKey -> e.getValue).toMap).getOrElse(Map.empty)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = LocalSession.cpus(32)
    val spark = LocalSession(cpus)

    def gcMillis(): Long = java.lang.management.ManagementFactory
      .getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

    /** (wall seconds, driver GC ms INSIDE the timed region) — the GC share
      * separates "the query got slower" from "the JVM was collecting under
      * this query" when hunting the interference band. */
    def run(name: String): (Double, Long) = {
      val g0 = gcMillis()
      val t0 = System.nanoTime()
      try SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
        return (-1.0, 0L)
      }
      ((System.nanoTime() - t0) / 1e9, gcMillis() - g0)
    }

    // whole-suite warm pass (JIT, codegen cache, FS metadata) — not measured.
    // Warming only one query left later queries absorbing JIT cost in the
    // driver's n=1-style runs (round 1: q24 clocked 11.9s for a plan
    // equivalent to q08's 1.07s).
    // Optional args narrow the run to matching query prefixes ("q89 q116")
    // for local iteration; the driver passes none and gets the full suite.
    // Broadcast blocks are NOT released by dropAllBlocks — ContextCleaner
    // reclaims them only after the driver GCs the broadcast refs, and its
    // own periodic GC (spark.cleaner.periodicGC.interval) defaults to 30
    // min, longer than the whole run. Across 205 queries x 3 passes the
    // un-reclaimed broadcasts build steady memory pressure that lands on
    // unrelated mid-tier queries (r7: a ~1.6-2.3x inflation band vs r6).
    // An explicit driver GC every GC_EVERY queries keeps the cleaner fed;
    // it runs between queries, outside any timed region. 16 → 8 per the r9
    // audit: ~10 unchanged-code queries still sat >2× best-known under
    // GC_EVERY=16, so halve the broadcast-reclamation latency.
    val GC_EVERY = 8
    def maybeGc(i: Int): Unit = if ((i + 1) % GC_EVERY == 0) System.gc()

    // Host-speed probe: a fixed synthetic workload (range → hash → shuffle
    // agg → sort; no IO, deterministic), min-of-3. Measured BOTH before and
    // after the timed passes (min of the two): this session's probe ranged
    // 1.5–2.4× across a single hour, so one end-of-run sample can land in a
    // slow window and mis-normalize every per-query comparison against
    // minima that were just recorded in a faster one.
    def calibrate(): Double = {
      def once(): Double = {
        val t0 = System.nanoTime()
        spark.range(20L * 1000 * 1000)
          .selectExpr("xxhash64(id) % 9973 AS k", "id")
          .groupBy("k").agg(org.apache.spark.sql.functions.sum("id").as("s"))
          .orderBy("s")
          .write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      once(); math.min(once(), once())
    }

    val all = SparkEntry.queries.keys.toSeq.sorted
    val names =
      if (args.isEmpty) all
      else all.filter(n => args.exists(a => n == a || n.startsWith(a + "_")))
    names.zipWithIndex.foreach { case (n, i) =>
      run(n); dropAllBlocks(spark); maybeGc(i)
    }
    val calibPre = calibrate()

    // min of two runs per query: the host shows multi-second noise spikes
    // (same code measured 50s/118s/69s total across runs), and min-of-N is
    // the standard steady-state estimator under one-sided noise. A failure
    // in either run reports -1 — a 50%-flaky query must not hide behind its
    // surviving run's time.
    // clearCache after each query: the LSH operators persist kernel bases
    // (caller-unpersist contract); across 3 passes x 34 queries those blocks
    // accumulate and the resulting memory pressure lands on unrelated later
    // queries (BENCH_r02: q05, a plain broadcast join, clocked 11.7s under
    // the driver where an isolated run takes 1.5s).
    val gcOfMin = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    val resultsMin2 = names.zipWithIndex.map { case (n, i) =>
      val (a, ga) = run(n)
      val (b, gb) = run(n)
      dropAllBlocks(spark); maybeGc(i)
      gcOfMin(n) = if (a >= 0 && (b < 0 || a <= b)) ga else gb
      n -> (if (a < 0 || b < 0) -1.0 else math.min(a, b))
    }
    // The stdout contract line is FIXED-SIZE (totals only): the driver
    // keeps the last 2000 chars of captured output and sbt's trailing
    // "[success] Total time..." line (~76 chars) lands AFTER this line
    // inside that window. Every per-query encoding eventually overflowed
    // as queries grew (r5 seconds: 2138 chars; r9 centiseconds at 213
    // queries: head fell off again → "parsed": null), so per-query times
    // now live ONLY in the committed BENCH_LOCAL.json artifact
    // (last_run_ms = this run, queries_ms = best-known minima).
    def ms(v: Double): String = if (v < 0) "-1" else math.round(v * 1000).toString
    // Tracking key = the FULL query name. Numeric-prefix keys ("q303")
    // collided once two catalog queries shared a number
    // (q303_jarque_bera / q303_periodogram landed on one rolling-best
    // row, so a regression in the slower member hid behind the faster
    // member's min — VERDICT r13 item 1).

    // Round-over-round guard (VERDICT r5 item 7, tightened per r7): the
    // stored baseline holds the BEST-KNOWN time per query at this scale
    // factor — each full run merges min(previous best, this run) rather
    // than replacing, so a regression can never mask itself by refreshing
    // the baseline it is compared against (r7: q62 2.55x, q154 1.75x slid
    // through exactly that way). Flag any query >1.5x over best-known.
    // Reported as a count in the compact line ("regr") with details in the
    // baseline file + stderr, so a contract-cost creep is visible without
    // failing the measurement run. The baseline file is keyed by sf
    // (BENCH_LOCAL.json is the canonical driver-scale sf0.1 artifact;
    // other sfs get BENCH_LOCAL_sf{sf}.json) so a local sf0.01 iteration
    // run can never clobber the committed sf0.1 baseline.
    // Host-speed calibration (probe defined above, run pre + post): stored
    // with the baseline. Best-known times are ALL-TIME minima — recorded
    // during the host's fastest windows — so on a slower day every
    // unchanged query reads as a "regression" (r8/r9 evidence: the flagged
    // set changes every run, and a fresh-JVM isolated q121 cannot get
    // within 1.5× of its stored best). Comparisons scale the stored best
    // by current_calib/stored_calib, clamped to [1, 2]: a slower host
    // relaxes the bar proportionally (never more than 2×), a faster host
    // never TIGHTENS it below the recorded numbers.
    val calib = math.min(calibPre, calibrate())

    val sfTag = sfDir.split('/').last.stripPrefix("sf")
    val prevFile = new java.io.File(
      if (sfTag == "0.1") "BENCH_LOCAL.json" else s"BENCH_LOCAL_sf$sfTag.json")
    val prevJson = readJson(prevFile)
    def obj(field: String): Map[String, JsonNode] =
      prevJson.map(fields(_, field)).getOrElse(Map.empty)
    // guard against a hand-edited/legacy file holding a different sf
    val sameSf = prevJson.exists(j => Option(j.get("sf")).exists(_.asText == sfDir))
    val (prev: Map[String, Double], prevCalib: Option[Double]) =
      if (!sameSf) (Map.empty[String, Double], None)
      else (obj("queries_ms").map { case (k, v) => k -> v.asDouble / 1000.0 },
        prevJson.flatMap(j => Option(j.get("calib_ms"))).map(_.asDouble / 1000.0))
    // Re-baseline markers: best-known minima are ALL-TIME, so a DELIBERATE
    // design change that trades local speed for scale-safety (r10: q171's
    // checkpoint-frozen shape was faster locally but fail-stop under block
    // loss) would be flagged forever against a best its new shape cannot
    // reach by design. A `"rebaseline":{"q171":"why"}` entry in the
    // baseline file makes the NEXT full run REPLACE that query's stored
    // best with the fresh measurement (instead of min-merging) and report
    // it as a re-baseline, not a regression; the marker is consumed by
    // that run (one-shot — it cannot silently absorb later regressions).
    val rebaseline: Map[String, String] = obj("rebaseline")
      .map { case (k, v) => k -> v.asText }
      .filter { case (k, _) => all.contains(k) }
    // Interference normalization. Two estimators of "how much slower is
    // this run's environment than the conditions the minima were recorded
    // under", and the bar relaxes by the LARGER of the two:
    //   1. the synthetic calib probe ratio (host CPU/scheduler speed at
    //      two instants — misses bursty load that lands between probes);
    //   2. the MEDIAN measured/best ratio across the whole suite — the
    //      suite itself as a 370-point load sensor. Robust to a few real
    //      regressions (they sit in the tail; the median doesn't move),
    //      and exactly what the probe misses: rounds 11-13 each produced
    //      9-25 flags with zero real regressions because the suite ran
    //      ~1.5x slow under driver interference while the probes caught a
    //      quieter moment. A SUITE-WIDE genuine slowdown (e.g. a session
    //      config change) is excused for one run by construction — but it
    //      would persist in last_run_ms vs queries_ms across rounds while
    //      interference noise doesn't, and a single-query regression still
    //      stands out against the median. Clamped to [1, 2] like the
    //      probe factor; reported in the artifact as median_ratio.
    lazy val medianRatio: Double = {
      val ratios = resultsMin2.flatMap { case (k, v) =>
        prev.get(k).filter(_ > 0).filter(_ => v > 0).map(p => v / p)
      }.sorted
      // a narrowed local run has too few ratios for a meaningful median —
      // and a 1-query subset's median IS that query, which must not
      // excuse itself
      if (ratios.size < 30) 1.0
      else math.min(2.0, math.max(1.0, ratios(ratios.size / 2)))
    }
    val calibFactor = prevCalib match {
      case Some(pc) if pc > 0 => math.min(2.0, math.max(1.0, calib / pc))
      case _ => 1.0
    }
    val hostFactor = math.max(calibFactor, medianRatio)
    System.err.println(f"[bench] calibration ${calib}%.3fs" +
      prevCalib.map(pc => f" (stored ${pc}%.3fs, probe factor $calibFactor%.2fx)")
        .getOrElse(" (no stored calib)") +
      f", suite median ratio $medianRatio%.2fx -> host factor $hostFactor%.2fx")
    // two guards beyond the 1.5x ratio: a 0.5s minimum ABSOLUTE delta
    // (sub-second queries live inside scheduler noise — a 0.2s -> 0.45s
    // move is not signal) and the one-shot rebaseline markers (design
    // changes that intentionally moved a query's floor)
    def flagged(k: String, v: Double): Boolean = prev.get(k) match {
      case Some(p0) =>
        val p = p0 * hostFactor
        p0 > 0 && v > 0 && v > p * 1.5 && v - p > 0.5 &&
          !rebaseline.contains(k)
      case None => false
    }
    // Best-of-three ONLY for queries the guard would flag: one extra
    // measurement discriminates a host-wide stall (round 6: 8 contiguous
    // false flags from one ~35s window that hit both timed runs) from a
    // real code regression, which reproduces on the third run too.
    val results = resultsMin2.map { case (k, v) =>
      if (!flagged(k, v)) k -> v
      else {
        val (c, gc) = run(k); dropAllBlocks(spark)
        if (c >= 0 && c < v) gcOfMin(k) = gc
        k -> (if (c < 0) v else math.min(v, c))
      }
    }
    val regressions = results.flatMap { case (k, v) =>
      if (flagged(k, v)) {
        val p = prev(k) * hostFactor
        System.err.println(
          f"[bench] REGRESSION $k: $p%.3fs (host-normalized) -> $v%.3fs (${v / p}%.2fx)")
        Some(k)
      } else None
    }

    val total = results.map(_._2).filter(_ >= 0).sum
    val qsVerbose = results.map { case (k, v) => "\"" + k + "\":" + ms(v) }
      .mkString("{", ",", "}")
    // Verbose artifact (qN keys, seconds, regression list) for in-repo
    // trend tracking; the stdout line is the driver-facing compact form.
    val verbose = results.map { case (k, v) =>
      "\"" + k + "\":" + (if (v < 0) "-1" else f"$v%.3f")
    }.mkString("{", ",", "}")
    val regJson = regressions.map("\"" + _ + "\"").mkString("[", ",", "]")
    // only a FULL-suite run may rewrite the baseline: a prefix-narrowed
    // local iteration ("sbt runMain graft.Bench q89") must not shrink the
    // stored map to its one query and blind the guard for everything else.
    // The stored per-query values are best-known: min(prev, this run) for
    // queries in both, this run's value for new queries, and dropped
    // queries leave the file. A deliberate contract-cost increase (e.g. an
    // oracle pinning an exact mode) must be accompanied by deleting that
    // query's entry from BENCH_LOCAL.json in the same commit — the flag on
    // the next run is otherwise intentional signal, not noise.
    if (args.isEmpty) {
      val best: Map[String, Double] = results.map { case (k, v) =>
        val merged = (prev.get(k), v) match {
          // a consumed rebaseline marker REPLACES the stored best with this
          // run's measurement — the honest floor for the new design
          case (_, cur) if cur > 0 && rebaseline.contains(k) =>
            System.err.println(f"[bench] REBASELINE $k: " +
              f"${prev.getOrElse(k, -1.0)}%.3fs -> $cur%.3fs " +
              f"(${rebaseline(k)})")
            cur
          case (Some(p), cur) if p > 0 && cur > 0 => math.min(p, cur)
          // a transient failure (-1) must NOT clobber a known-good best —
          // that would blind the guard for this query on every later run
          case (Some(p), cur) if p > 0 && cur <= 0 => p
          case (_, cur) => cur
        }
        k -> merged
      }.toMap
      val rebasedJson = results.flatMap { case (k, v) =>
        if (v > 0 && rebaseline.contains(k))
          Some("\"" + k + "\":\"" + rebaseline(k) + "\"")
        else None
      }.mkString("{", ",", "}")
      // markers whose query FAILED this round (cur = -1) were not consumed
      // (the stored best stayed at the old unreachable floor) — write them
      // back under "rebaseline" so the next successful full run can
      // consume them instead of dropping the marker and flagging forever
      val consumed = results.collect {
        case (k, v) if v > 0 && rebaseline.contains(k) => k
      }.toSet
      val carriedJson = (rebaseline -- consumed).map { case (q, why) =>
        "\"" + q + "\":\"" + why + "\""
      }.mkString("{", ",", "}")
      val bestMs = results.map { case (k, _) => "\"" + k + "\":" + ms(best(k)) }
        .mkString("{", ",", "}")
      val bestSec = results.map { case (k, _) =>
        val v = best(k)
        "\"" + k + "\":" + (if (v < 0) "-1" else f"$v%.3f")
      }.mkString("{", ",", "}")
      // calib_ms: the MIN of stored and current — best-known host speed,
      // same ratchet direction as the per-query minima it normalizes. On
      // the cold-start run the current calib is back-scaled by the median
      // ratio so the stored value approximates the (faster) conditions the
      // per-query minima were actually recorded under.
      val calibMs = math.round(1000 *
        prevCalib.map(math.min(_, calib)).getOrElse(calib / hostFactor))
      // last_run_gc_ms: driver GC time inside each query's counted (min)
      // run — the instrument for separating real plan regressions from
      // collector interference when a query sits >2× its best-known
      val gcJson = results.map { case (k, _) =>
        "\"" + k + "\":" + gcOfMin.getOrElse(k, 0L)
      }.mkString("{", ",", "}")
      // "rebaselined" records markers THIS run consumed (audit trail);
      // "rebaseline" carries forward only UNCONSUMED markers (failed
      // measurement this round) — a consumed marker stays one-shot
      val fw = new java.io.PrintWriter(prevFile)
      try fw.println(
        s"""{"total_sec":${f"$total%.3f"},"sf":"$sfDir","calib_ms":$calibMs,"regressions":$regJson,"rebaseline":$carriedJson,"rebaselined":$rebasedJson,"queries_ms":$bestMs,"queries_sec":$bestSec,"last_run_ms":$qsVerbose,"last_run_gc_ms":$gcJson}""")
      finally fw.close()
      // Per-ROUND per-query snapshot (additions-only; VERDICT r14 item 2):
      // BENCH_LOCAL.json is a rolling best-known ratchet that every full
      // run min-merges, so no per-run record existed for the driver's
      // round-over-round and 8-vs-32-core scaling comparisons. This file
      // holds THIS run's seconds verbatim, keyed by cpu count so the
      // driver's low-core pass doesn't clobber the main one.
      val runFw = new java.io.PrintWriter(s"BENCH_RUN_sf${sfTag}_c$cpus.json")
      try runFw.println(
        s"""{"sf":"$sfTag","cpus":$cpus,"total_sec":${f"$total%.3f"},"calib_pre_ms":${math.round(calibPre * 1000)},"calib_min_ms":${math.round(calib * 1000)},"queries_sec":$verbose}""")
      finally runFw.close()
    }

    // narrowed local runs don't write the artifact — echo per-query times
    // to stderr so iteration still sees them
    if (args.nonEmpty) results.foreach { case (k, v) =>
      System.err.println(f"[bench] $k%-28s $v%.3fs")
    }
    // The stdout line carries TOTALS ONLY: the driver keeps the last 2000
    // chars of captured output and the per-query map outgrew that window at
    // 213 queries (BENCH_r09 "parsed": null — the line's HEAD fell off).
    // Per-query times live in the queries_file artifact (last_run_ms =
    // this run, queries_ms = best-known minima) — committed to the repo,
    // so nothing is lost by keeping the contract line fixed-size.
    println(s"""{"metric":"total","value":${f"$total%.1f"},"unit":"sec","n_queries":${results.size},"n_failed":${results.count(_._2 < 0)},"regr":${regressions.size},"queries_file":"${prevFile.getName}","run_file":"BENCH_RUN_sf${sfTag}_c$cpus.json","sf":"$sfTag"}""")
    spark.stop()
  }
}
