package graft

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.{MissingNode, ObjectNode}
import scala.jdk.CollectionConverters._

object Bench {
  /** One query's timed-pass record: the median rep's wall seconds plus
    * that SAME rep's GC and JIT compilation time — the two numbers that
    * classify a round-over-round mover as environment (GC/JIT churn)
    * vs plan (neither moved). sec = -1 marks a failed query. */
  private case class QRes(name: String, sec: Double, gcMs: Long, jitMs: Long)

  // The regression gate: a query whose sweep median exceeds RegFactor x
  // its median in the prior committed record (and RegFloor seconds, so
  // 30 ms -> 100 ms jitter spawns no child JVM) is re-timed in a fresh
  // child JVM, as is any query above IsoSec. The relative gate exists
  // because an absolute threshold alone let queries run ~10x their prior
  // under 10 s with untouched code (x4_tfidf at 8.01 s). Each class is
  // bounded to its IsoMax worst offenders. A child JVM cannot JIT a
  // sub-second query back to a warm full-suite number, so an isolated
  // time under EnvFloor cannot tell plan from startup cost.
  private val RegFactor = 3.0
  private val RegFloor = 0.2
  private val EnvFloor = 1.5
  private val IsoSec = 10.0
  private val IsoMax = 10

  /** `{"name":seconds,...}` in the given order — a non-finite value (JSON
    * has no NaN or Infinity literal) is written as the -1.0 failure
    * sentinel, so the record always parses. */
  private def secs(r: Seq[(String, Double)]): ObjectNode = {
    val o = Util.json.createObjectNode()
    r.foreach { case (k, v) => o.put(k, if (v.isNaN || v.isInfinite) -1.0 else v) }
    o
  }

  private def longs(r: Seq[(String, Long)]): ObjectNode = {
    val o = Util.json.createObjectNode()
    r.foreach { case (k, v) => o.put(k, v) }
    o
  }

  /** The stdout `BENCH_QUERIES` record: the per-query median map. */
  private[graft] def queriesLine(sfDir: String, r: Seq[(String, Double)]): String = {
    val o = Util.json.createObjectNode().put("metric", "queries").put("sf", sfDir)
    o.set[JsonNode]("queries", secs(r))
    Util.json.writeValueAsString(o)
  }

  /** The prior committed record, or a missing node when there is none or
    * it does not parse. */
  private[graft] def readPrior(path: String): JsonNode =
    try Util.json.readTree(new java.io.File(path)) catch { case _: Exception => MissingNode.getInstance }

  /** `prior.<key>` as a name -> seconds map; empty when absent. */
  private[graft] def loadPrior(prior: JsonNode, key: String): Map[String, Double] =
    prior.path(key).properties.iterator.asScala.map(e => e.getKey -> e.getValue.asDouble).toMap

  /** An isolated child run's seconds for `name`: its `queries.<name>`
    * when that is a time. A child whose query throws still exits 0 and
    * records the -1.0 failure sentinel there, which is a failed rerun, not
    * a time. */
  private[graft] def isolatedSeconds(child: JsonNode, name: String): Option[Double] =
    Some(child.path("queries").path(name)).filter(_.isNumber).map(_.asDouble).filter(_ >= 0)

  /** The prior record's top-level fields whose names start with
    * `scale + "_"` ("sf1" / "sf10"), in their original order. A run that
    * skips a scale carries these forward, declared in "carried_scales",
    * so an sf0.1-only run does not erase the committed 3-scale history
    * when it rewrites bench_out.json. */
  private[graft] def scaleBlocks(prior: JsonNode, scale: String): ObjectNode = {
    val o = Util.json.createObjectNode()
    prior.properties.iterator.asScala.filter(_.getKey.startsWith(scale + "_"))
      .foreach(e => o.set[JsonNode](e.getKey, e.getValue))
    o
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.local()
    // Steady-state measurement: one untimed pass first (JIT compilation,
    // codegen cache, parquet footers), then the timed pass. Both passes
    // execute every query fully.
    // optional args: restrict to the named queries (debugging aid)
    val ordered = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => args.isEmpty || args.contains(n) }
    // Force EVERY output column to evaluate: a bare .count() lets Catalyst
    // prune the projections, so a pure-projection query (x1, x5, m1, ...)
    // would "benchmark" as an empty scan. Hashing the full row into one
    // aggregated sum defeats pruning at ~a hash per row of overhead.
    def consume(df: org.apache.spark.sql.DataFrame): Unit = {
      import org.apache.spark.sql.functions._
      // bit_xor, not sum: full-range hash longs overflow an ANSI sum
      df.select(xxhash64(struct(df.columns.map(col): _*)).as("__h"))
        .agg(expr("bit_xor(__h)")).collect()
      ()
    }
    // No clearCache between queries: library operators are contractually
    // leak-free (DedupSpec asserts zero residual persisted RDDs), so a
    // shared session accumulates no storage across calls.
    // A query that fails COLD must be visible here, not silently deferred
    // to the timed pass — print the exception before swallowing it.
    ordered.foreach { case (name, fn) =>
      try { consume(fn(spark, sfDir)) } catch {
        case e: Throwable =>
          System.err.println(s"[warmup] $name FAILED: ${e.getClass.getSimpleName}: ${e.getMessage}")
      }
    }
    // Per-query repeat-and-median (k from SPARK_GRAFT_BENCH_REPEATS,
    // default 3): a single timing in a long-lived shared JVM rides GC /
    // recompilation spikes — recorded totals once swung 710 -> 1097 s
    // round-over-round with ZERO code change. The median of 3 is immune
    // to any single spike, making the JSON comparable across rounds.
    // A query that THROWS records -1 (an impossible duration — the
    // failure marker in the JSON) rather than its milliseconds-to-crash
    // masquerading as a fast success: at 10x scale an OOM is exactly the
    // regression class this run exists to catch, so it must not read as
    // a speedup.
    val repeats = math.max(1, sys.env.getOrElse("SPARK_GRAFT_BENCH_REPEATS", "3").toInt)
    // Per-query stderr lines are OPT-IN (SPARK_GRAFT_BENCH_VERBOSE=1): a
    // caller that captures merged stdout+stderr into a bounded buffer
    // would otherwise lose the final JSON line behind ~600 per-query
    // lines (~60 KB). The default run emits one summary line per pass.
    val verbose = sys.env.getOrElse("SPARK_GRAFT_BENCH_VERBOSE", "0") == "1"
    // Drain accumulated session state before every rep: Spark's
    // ContextCleaner frees shuffle files / broadcasts only when a GC
    // processes their weak references, and with a large heap a GC may
    // simply never happen — the timed pass then runs against tens of GB
    // of undead shuffle state (d1 measured 13 s in the full suite vs
    // 0.5 s isolated; d2 26 s vs 2.1 s — pure pollution, not query cost).
    // An explicit GC keeps each measurement starting from a drained JVM,
    // the same state an isolated run sees.
    def drain(): Unit = { System.gc(); Thread.sleep(50); System.gc() }
    // Per-rep environment telemetry (the neighbor-pollution classifier):
    // GC time and JIT compilation time accumulated INSIDE the rep's
    // timed span. A query whose seconds move round-over-round while its
    // plan is untouched is classified by these — gc_ms/jit_ms moving
    // with it says environment (heap pressure, code-cache churn, a
    // concurrent process stealing cores shows as neither), flat
    // telemetry with moved seconds says the plan itself changed.
    def gcTotalMs(): Long =
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
        .map(_.getCollectionTime).filter(_ >= 0).sum
    val jitBean = java.lang.management.ManagementFactory.getCompilationMXBean
    def jitTotalMs(): Long =
      if (jitBean != null && jitBean.isCompilationTimeMonitoringSupported)
        jitBean.getTotalCompilationTime else -1L
    // JVM-health telemetry, printed after every pass: code-heap and
    // metaspace occupancy. A near-full CodeHeap or a metaspace ramp
    // across passes is the diagnosis when late-alphabet queries inflate
    // 2-5x with untouched code (x9 17.9 s in-sweep vs 4.3 s isolated).
    def jvmHealth(tag: String): Unit = {
      val pools = java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(p => p.getName.startsWith("CodeHeap") || p.getName == "Metaspace")
      val s = pools.map { p =>
        val u = p.getUsage
        f"${p.getName}=${u.getUsed / 1048576}%d/${math.max(u.getMax, u.getCommitted) / 1048576}%dMB"
      }.mkString(" ")
      System.err.println(s"[jvm] $tag $s")
      // Hard gate, not telemetry: when the JIT code cache thrashes,
      // late-alphabet queries inflate 2-5x. Occupancy >90% of a
      // CodeHeap's reserved max means such an episode is underway — fail
      // the whole bench loudly (rc!=0) rather than publish numbers that
      // measure deoptimized re-JIT churn instead of the queries.
      pools.filter(p => p.getName.startsWith("CodeHeap") && p.getUsage.getMax > 0)
        .foreach { p =>
          val u = p.getUsage
          val frac = u.getUsed.toDouble / u.getMax
          if (frac > 0.90)
            throw new IllegalStateException(
              f"[jvm] $tag ${p.getName} at ${frac * 100}%.1f%% of reserved max — " +
                "bench numbers would measure code-cache thrash, not queries; aborting")
        }
    }
    def timedPass(dir: String, tag: String): Seq[QRes] = {
      val out = ordered.map { case (name, fn) =>
        // drain before EVERY rep, not just per query: a shuffle-heavy
        // query's reps otherwise stack tens of GB of not-yet-collected
        // shuffle files inside one median block (d3's median read 86 s
        // in a full run vs 11-13 s isolated; disk pressure, not compute)
        val reps = (1 to repeats).map { i =>
          drain()
          val g0 = gcTotalMs(); val j0 = jitTotalMs()
          val t0 = System.nanoTime()
          val ok = try { consume(fn(spark, dir)); true } catch {
            case e: Throwable =>
              System.err.println(s"[$tag] $name rep $i FAILED: ${e.getClass.getSimpleName}: ${e.getMessage}")
              false
          }
          val sec = if (ok) (System.nanoTime() - t0) / 1e9 else -1.0
          (sec, gcTotalMs() - g0, if (j0 < 0) -1L else jitTotalMs() - j0)
        }
        // the median rep carries its OWN telemetry: the pairing is what
        // lets a reader attribute that specific measurement
        val r = if (reps.exists(_._1 < 0)) QRes(name, -1.0, -1L, -1L) else {
          val (s, g, j) = reps.sortBy(_._1).apply(reps.size / 2)
          QRes(name, s, g, j)
        }
        if (verbose)
          System.err.println(f"[$tag] $name%-22s ${r.sec}%8.2f s  (reps ${reps.map(t => f"${t._1}%.2f").mkString("/")})  gc ${r.gcMs}%dms jit ${r.jitMs}%dms")
        r
      }
      System.err.println(f"[$tag] pass done: ${out.size}%d queries, " +
        f"${out.map(_.sec).filter(_ >= 0).sum}%.1f s live total, ${out.count(_.sec < 0)}%d failed")
      jvmHealth(tag)
      out
    }
    // A total must sum only queries that RAN: -1.0 failure sentinels would
    // otherwise silently subtract from it (a recorded 37.1 s was really
    // 46.1 s over the live queries — nine -1.0s hid 9 s). The failure
    // count is emitted alongside so a "fast" total with failures can
    // never read as a clean win.
    def liveTotal(r: Seq[QRes]): Double = r.map(_.sec).filter(_ >= 0).sum
    def nFailed(r: Seq[QRes]): Int = r.count(_.sec < 0)
    // The record file. Its content at process start is the prior
    // committed record the regression gate compares against; this run
    // replaces it at the end.
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
    val prior = readPrior(outFile)
    def regressions(rows: Seq[QRes], priorSecs: Map[String, Double]): Seq[(String, Double, Double)] =
      rows.filter(_.sec > 0).flatMap { r =>
        priorSecs.get(r.name)
          .filter(p => p > 0 && r.sec > RegFactor * p && r.sec > RegFloor)
          .map(p => (r.name, p, r.sec))
      }
    // Isolated re-timing for the heavy tail AND the regression set: a
    // long shared-JVM sweep inflates its most expensive queries ~1.5-2x
    // through accumulated GC pressure even with the codegen-cache and
    // drain fixes (d15 measured 38 s isolated vs 60.8 s in-sweep at
    // sf10, a23 59 vs 67.3 — same code, same data). Each target is re-run
    // in a FRESH child JVM (same flags as this one, cloned from
    // RuntimeMXBean) and BOTH numbers are recorded, so the JSON's heavy
    // tail measures the operator, not the suite. The child runs Bench
    // restricted to the one query with isolation and extra scales
    // disabled (no recursion).
    val isoOn = sys.env.getOrElse("SPARK_GRAFT_BENCH_ISOLATE", "1") != "0"
    // The child JVM's heap is CAPPED, never inherited: a child cloning
    // the parent's full -Xmx makes parent + child exceed the container's
    // memory limit (kernel OOM-kill, rc=137) the moment a regression trips
    // the gate. A single-query child needs a fraction of the sweep heap;
    // 8g covers the heaviest sf10 query with margin.
    val isoHeap = sys.env.getOrElse("SPARK_GRAFT_BENCH_ISO_HEAP", "8g")
    def isolatedRerun(targets: Seq[(String, Double)], dir: String, tag: String): Seq[(String, Double)] = {
      if (!isoOn) return Seq.empty
      if (targets.nonEmpty) {
        // trim the parent before forking: drop cached relations and give
        // G1 a chance to uncommit heap, shrinking parent RSS so the
        // capped child fits beside it under the container limit
        spark.catalog.clearCache()
        drain()
      }
      targets.flatMap { case (name, sweepSec) =>
        val rt = java.lang.management.ManagementFactory.getRuntimeMXBean
        val javaBin = new java.io.File(new java.io.File(sys.props("java.home"), "bin"), "java").getPath
        val tmp = java.nio.file.Files.createTempFile("graft_iso_", ".json")
        val inherited = rt.getInputArguments.asScala
          .filterNot(a => a.startsWith("-agentlib") || a.startsWith("-Xmx") ||
            a.startsWith("-Xms") || a == "-XX:+AlwaysPreTouch")
        val cmd = (Seq(javaBin) ++ inherited ++ Seq(s"-Xmx$isoHeap")
          ++ Seq("-cp", sys.props("java.class.path"), "graft.Bench", name)).asJava
        val pb = new ProcessBuilder(cmd)
        pb.environment().put("SPARK_GRAFT_SF_DIR", dir)
        pb.environment().put("SPARK_GRAFT_BENCH_ISOLATE", "0")
        pb.environment().put("SPARK_GRAFT_BENCH_SCALES", "sf")
        pb.environment().put("SPARK_GRAFT_BENCH_OUT", tmp.toString)
        pb.redirectErrorStream(false)
        pb.redirectOutput(ProcessBuilder.Redirect.DISCARD)
        pb.redirectError(ProcessBuilder.Redirect.DISCARD)
        val rc = try pb.start().waitFor() catch { case _: Exception => -1 }
        val iso = if (rc != 0) None else isolatedSeconds(readPrior(tmp.toString), name)
        try java.nio.file.Files.deleteIfExists(tmp) catch { case _: Exception => () }
        iso match {
          case Some(s) =>
            System.err.println(f"[$tag-iso] $name%-22s sweep $sweepSec%.2f s -> isolated $s%.2f s")
            Some(name -> s)
          case None =>
            System.err.println(s"[$tag-iso] $name isolated rerun failed (rc=$rc, or the query failed in " +
              "the child) — keeping sweep number only")
            None
        }
      }
    }
    // Every pass flushes its sweep numbers as a "partial":true record
    // before isolation starts, so a child JVM killed mid-way costs only
    // the isolated numbers, never the sweep. Partials land in a SIDECAR
    // (outFile + ".partial"), never over outFile itself: outFile is the
    // git-tracked committed prior, and a killed run must not replace the
    // next run's regression baseline with its own (possibly squeeze-
    // inflated) sweep numbers. Only the final write owns outFile; the
    // sidecar is deleted on success.
    val partialFile = outFile + ".partial"
    def writeTo(path: String, node: ObjectNode): Unit =
      try java.nio.file.Files.write(java.nio.file.Paths.get(path),
        (Util.json.writeValueAsString(node) + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      catch { case e: java.io.IOException =>
        System.err.println(s"[bench] could not write $path: ${e.getMessage}") }
    val results = timedPass(sfDir, "bench")
    val total = liveTotal(results)
    // `rec` is the full record; `compact` the totals-only stdout line
    // (see the println below). Both open with the same four fields.
    val compact = Util.json.createObjectNode()
      .put("metric", "total").put("value", total).put("unit", "sec").put("failed", nFailed(results))
    val rec = compact.deepCopy()
    compact.put("n_queries", results.size).put("sf", sfDir)
    /** One pass's fields of `rec`: queries + telemetry maps + regressions
      * vs the prior committed record + isolated reruns of (heavy ∪
      * regressed), then the pass's data dir under `dirKey`. `prefix` is
      * "" for the main pass, "sf1_"/"sf10_" for the extra scales. */
    def pass(rows: Seq[QRes], dir: String, tag: String, prefix: String, dirKey: String): Unit = {
      // the prior key IS the prefixed queries map — deriving it here
      // removes the mismatched-pair foot-gun (sf10 timings vs sf0.1
      // priors would manufacture bogus regressions)
      val regs = regressions(rows, loadPrior(prior, prefix + "queries")).sortBy(-_._3).take(IsoMax)
      val heavy = rows.filter(_.sec > IsoSec).sortBy(-_.sec).take(IsoMax)
        .map(r => r.name -> r.sec)
      val targets = (heavy ++ regs.map(r => (r._1, r._3)).filterNot(t => heavy.exists(_._1 == t._1)))
      regs.foreach { case (n, p, s) =>
        System.err.println(f"[$tag-reg] $n%-22s prior $p%.2f s -> sweep $s%.2f s (>${RegFactor}%.0fx) — isolating") }
      rec.set[JsonNode](prefix + "queries", secs(rows.map(r => r.name -> r.sec)))
      rec.set[JsonNode](prefix + "gc_ms", longs(rows.map(r => r.name -> r.gcMs)))
      rec.set[JsonNode](prefix + "jit_ms", longs(rows.map(r => r.name -> r.jitMs)))
      val regNode = Util.json.createObjectNode()
      val regEntries = regs.map { case (n, p, s) => (n, p, regNode.putObject(n).put("prior", p).put("sweep", s)) }
      if (regs.nonEmpty) rec.set[JsonNode](prefix + "regressions", regNode)
      // sweep numbers hit disk (sidecar) before any child JVM exists;
      // the partial carries the unadjudicated regressions
      writeTo(partialFile, rec.deepCopy().put(dirKey, dir).put("partial", true))
      val iso = isolatedRerun(targets, dir, tag)
      // Each regression carries its own adjudication: the fresh-JVM
      // rerun's number and a three-way verdict. Under RegFactor x prior
      // the fresh JVM reproduces the prior-class time ⇒ environment
      // (neighbor contention, page-cache squeeze, a concurrent build),
      // not plan. Under EnvFloor but NOT under the gate (cheap query,
      // e.g. prior 0.3 s, isolated 1.4 s = 4.7x prior) the child JVM
      // cannot distinguish plan from startup — assert NEITHER verdict:
      // env_explained:null + an explicit below_jit_floor marker, so
      // sub-second regressions stay visible in the gate log instead of
      // being auto-labeled environment.
      val isoMap = iso.toMap
      regEntries.foreach { case (n, p, r) =>
        isoMap.get(n).foreach { i =>
          r.put("isolated", i)
          if (i < RegFactor * p) r.put("env_explained", true)
          else if (i < EnvFloor) r.putNull("env_explained").put("adjudication", "below_jit_floor")
          else r.put("env_explained", false)
        }
      }
      if (iso.nonEmpty) rec.set[JsonNode](prefix + "isolated_queries", secs(iso))
      rec.put(dirKey, dir)
    }
    pass(results, sfDir, "bench", "", "sf")
    // Extra-scale passes are OPT-IN: at 220+ queries a 3-scale sweep runs
    // ~1.6 h, past a typical bench budget, so the default invocation
    // runs warmup + the sf0.1 timed pass only, and a 3-scale record sets
    // SPARK_GRAFT_BENCH_SCALES=all. A present-but-skipped scale is
    // declared in the JSON so the skip is loud.
    // sf1 (replicated 10x by graft.ScaleData from sf0.1) catches
    // constant-factor and superlinear-scaling regressions the sf0.1
    // numbers alone cannot see (e.g. a quartile-sketch merge: 3.4 s at
    // sf0.1 but 99 s at sf1); sf10 is the 100x check.
    val scales = sys.env.getOrElse("SPARK_GRAFT_BENCH_SCALES", "sf")
    def scaleWanted(s: String) = scales == "all" || scales.split(",").map(_.trim).contains(s)
    var skipped = List.empty[String]
    var carriedScales = List.empty[String]
    for ((scale, dir) <- Seq(
        "sf1" -> sys.env.getOrElse("SPARK_GRAFT_SF1_DIR", "benchdata/sf1"),
        "sf10" -> sys.env.getOrElse("SPARK_GRAFT_SF10_DIR", "benchdata/sf10"))) {
      val present = new java.io.File(dir).isDirectory
      if (present && scaleWanted(scale)) {
        val r = timedPass(dir, s"bench-$scale")
        for (o <- Seq(rec, compact))
          o.put(s"${scale}_total", liveTotal(r)).put(s"${scale}_failed", nFailed(r))
        pass(r, dir, s"bench-$scale", scale + "_", scale + "_dir")
      } else {
        // A scale pass that does NOT run — dataset dir absent (benchdata/
        // is not committed) or the scale not requested — must not erase
        // the committed prior's multi-scale history when this record
        // replaces bench_out.json.
        if (present) skipped ::= scale
        val carried = scaleBlocks(prior, scale)
        if (!carried.isEmpty) { carriedScales ::= scale; rec.setAll[JsonNode](carried) }
      }
    }
    for (o <- Seq(rec, compact)) {
      if (skipped.nonEmpty) o.put("skipped_scales", skipped.sorted.mkString(","))
      if (carriedScales.nonEmpty) o.put("carried_scales", carriedScales.sorted.mkString(","))
    }
    compact.put("detail", outFile)
    // Persist the final record — replaces the sidecar partial; the
    // durable record for round-over-round per-query comparison.
    writeTo(outFile, rec)
    try java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(partialFile))
    catch { case _: Exception => () }
    // A caller that machine-parses the LAST stdout line of a BOUNDED
    // merged stdout+stderr capture that keeps the TAIL needs that line
    // (a) last and (b) small ENOUGH THAT ITS HEAD SURVIVES the
    // truncation. A per-query map is ~8 KB at ~290 queries and grows
    // with every query added, so it does NOT fit. The last line therefore
    // carries TOTALS ONLY (value/failed/n_queries/sf, the per-scale
    // totals, skip/carry markers, and the detail-file path — a few
    // hundred bytes at ANY query count); a grep-able "BENCH_JSON: "
    // marker line with the same payload precedes it as the fallback
    // recovery path. stop() BEFORE the println so Spark's shutdown can't
    // emit stray stdout after it (build.sbt's showSuccess:=false keeps
    // sbt's footer off the tail too).
    // The per-query map goes to stdout on its own grep-able marker line
    // ABOVE the totals line, for a per-query comparison that does not
    // read the detail file. Tail-safe by construction: even if a bounded
    // capture cuts the queries line's head, the last line is untouched.
    val queries = queriesLine(sfDir, results.map(r => r.name -> r.sec))
    spark.stop()
    System.err.println("[bench] full record written to " + outFile)
    val totals = Util.json.writeValueAsString(compact)
    println("BENCH_QUERIES: " + queries)
    println("BENCH_JSON: " + totals)
    println(totals)
  }
}
