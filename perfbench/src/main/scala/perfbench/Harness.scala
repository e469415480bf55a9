package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import scala.jdk.CollectionConverters._
import scala.util.Try
import scala.util.hashing.MurmurHash3

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** One measured operation. Times are epoch milliseconds (span
  * alignment with Spark's listener events) and seconds (the metrics). */
final case class OpRun(key: String, group: String, layer: String, pass: Int,
                       startMs: Double, buildEndMs: Double, endMs: Double,
                       buildS: Double, execS: Double,
                       error: String, counters: Map[String, Double]) {
  def tags: Map[String, Any] = Map("group" -> group, "layer" -> layer, "pass" -> pass,
    "build_s" -> buildS, "exec_s" -> execS, "error" -> error) ++ counters
}

/** Runs one workload in one JVM: repeated set-up, the workload's untimed
  * warm-up passes, then a closed loop of whole passes for at least
  * `--seconds`. The first execution of each distinct operation is its
  * verification. Writes a JSON record for `run.py`, which checks the
  * verified results against DuckDB and prints the metrics.
  *
  * Usage: Harness --workload W --seed N --seconds S --trace 0|1
  *                 --data DIR --out DIR --cores K --setups N */
object Harness {
  val PhaseKey = "perfbench.phase"

  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
  private val epochMs0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  private def nowMs: Double = epochMs0 + (System.nanoTime() - nano0) / 1e6

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workloadName = a("workload"); val seed = a("seed").toLong
    val seconds = a("seconds").toDouble; val traced = a("trace") == "1"
    val out = new File(a("out")); val cores = a("cores").toInt
    val w = Workloads(workloadName, a("data"), seed)
    out.mkdirs()

    def newSession(): SparkSession = {
      val s = SparkSession.builder()
        .master(s"local[$cores]").appName(s"perfbench-$workloadName")
        .config("spark.sql.shuffle.partitions", cores.toString)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.codegen.cache.maxEntries", "2048")
        .config("spark.driver.host", "127.0.0.1")
        .config("spark.driver.bindAddress", "127.0.0.1")
        .config("spark.local.dir", new File(out, "spark-local").getAbsolutePath)
        .config("spark.sql.warehouse.dir", new File(out, "warehouse").getAbsolutePath)
        .getOrCreate()
      s.sparkContext.setLogLevel("ERROR")
      s
    }
    def stop(s: SparkSession): Unit = {
      s.stop(); SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
    }

    // --- set-up, repeated: session start + input registration (the
    // previous session's shutdown is not part of it)
    var spark: SparkSession = null
    val setupS = (1 to a("setups").toInt).map { _ =>
      if (spark != null) stop(spark)
      val t0 = System.nanoTime()
      spark = newSession()
      w.register(spark)
      (System.nanoTime() - t0) / 1e9
    }

    // --- verification: the first execution of each distinct operation
    // dumps its rounded rows for the DuckDB check (run.py), and its hash
    // becomes the reference every later execution must reproduce
    val verifyDir = new File(out, "verify"); verifyDir.mkdirs()
    val verified = scala.collection.mutable.Map.empty[String, Map[String, Any]]
    def check(op: Op, result: Either[String, (String, Array[Row], Seq[String])]): String =
      (verified.get(op.key), result) match {
        case (None, Left(err)) =>
          verified(op.key) = Map("hash" -> "", "error" -> err); err
        case (None, Right((hash, rows, cols))) =>
          val path = new File(verifyDir, s"${op.key}.json")
          mapper.writeValue(path, Map("columns" -> cols, "rows" -> rows.map(_.toSeq.map(jsonValue))))
          verified(op.key) = Map("hash" -> hash, "path" -> path.getAbsolutePath,
            "oracle" -> op.oracle(spark), "drop" -> op.dropCols, "error" -> "")
          ""
        case (Some(_), Left(err)) => err
        case (Some(ref), Right((hash, _, _))) =>
          if (ref("error") != "") s"verification failed: ${ref("error")}"
          else if (hash != ref("hash")) s"result hash $hash != verified ${ref("hash")}"
          else ""
      }

    // --- untimed warm-up passes (JIT, codegen cache); they verify too
    val rnd = new scala.util.Random(seed)
    val v0 = System.nanoTime()
    (1 to w.warmupPasses).foreach(_ => w.pass(rnd).foreach { i =>
      val op = w.ops(i)
      check(op, Try(consume(op.build(spark))).toEither.left.map(describe))
    })
    val warmupS = (System.nanoTime() - v0) / 1e9

    val recorder = if (traced) { val r = new Recorder; r.install(spark); Some(r) } else None

    // --- measured phase: whole passes, next call starts only after the
    // previous result is fully on the driver
    val sc = spark.sparkContext
    val runs = scala.collection.mutable.ArrayBuffer.empty[OpRun]
    var heapPeakMb = 0.0
    val heapLog = scala.collection.mutable.ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    var pass = 0
    while (runs.isEmpty || (System.nanoTime() - t0) / 1e9 < seconds) {
      pass += 1
      w.pass(rnd).foreach { i =>
        val op = w.ops(i)
        val group = s"op-${runs.size}"
        // the group id alone: a job description would replace the call
        // site Spark records for each SQL execution
        sc.setLocalProperty("spark.jobGroup.id", group)
        val before = counters()
        sc.setLocalProperty(PhaseKey, "build")
        val s0 = nowMs; val n0 = System.nanoTime()
        var n1 = n0
        val result = Try {
          val df = op.build(spark)
          n1 = System.nanoTime()
          sc.setLocalProperty(PhaseKey, "exec")
          consume(df)
        }.toEither.left.map(describe)
        val n2 = System.nanoTime()
        if (n1 == n0) n1 = n2
        val after = counters()
        sc.setLocalProperty("spark.jobGroup.id", null); sc.setLocalProperty(PhaseKey, null)
        val error = check(op, result)
        runs += OpRun(op.key, group, op.layer, pass, s0, s0 + (n1 - n0) / 1e6,
          s0 + (n2 - n0) / 1e6, (n1 - n0) / 1e9, (n2 - n1) / 1e9, error,
          after.map { case (k, v) => k -> (v - before(k)) })
        val heapMb = liveHeapMb()
        heapPeakMb = math.max(heapPeakMb, heapMb)
        heapLog += heapMb
      }
    }
    val measuredS = (System.nanoTime() - t0) / 1e9

    val spans = recorder.map { r => org.apache.spark.ListenerBusDrain(sc); SpanTree.build(runs.toSeq, r) }
    val record = Map(
      "workload" -> workloadName, "seed" -> seed, "cores" -> cores, "traced" -> traced,
      "setup_s" -> setupS, "warmup_s" -> warmupS, "measured_s" -> measuredS,
      "heap_peak_mb" -> heapPeakMb, "heap_live_mb" -> heapLog,
      "spark_version" -> spark.version,
      "confs" -> Seq("spark.sql.shuffle.partitions", "spark.sql.codegen.cache.maxEntries",
        "spark.sql.session.timeZone", "spark.ui.enabled", "spark.master")
        .map(k => k -> spark.conf.getOption(k).orElse(sc.getConf.getOption(k)).getOrElse("")).toMap,
      "ops" -> w.ops.map(o => Map("key" -> o.key, "layer" -> o.layer, "inputs" -> o.inputs)),
      "verified" -> verified.toMap,
      "runs" -> runs.map(r => Map("key" -> r.key, "group" -> r.group, "layer" -> r.layer, "pass" -> r.pass,
        "build_s" -> r.buildS, "exec_s" -> r.execS, "error" -> r.error) ++ r.counters),
      "spans" -> spans.getOrElse(Nil).map(s => Map("id" -> s.id, "parent" -> s.parent,
        "kind" -> s.kind, "name" -> s.name, "start_ms" -> s.startMs, "end_ms" -> s.endMs,
        "tags" -> s.tags)))
    mapper.writeValue(new File(out, "result.json"), record)
    stop(spark)
  }

  /** Brings the whole result to the driver with every column forced:
    * the rows, 6dp-rounded as in the oracle compare (so partition-order
    * float noise cannot change them), and an order-insensitive hash of
    * them. Returns (hash, rows, column names). */
  def consume(df: DataFrame): (String, Array[Row], Seq[String]) = {
    val r = graft.Util.roundDoubles(df)
    val rows = r.collect()
    var sum = 0L; var xor = 0L
    rows.foreach { row =>
      val s = row.mkString("\u0001")
      val h = (MurmurHash3.stringHash(s, 1).toLong << 32) | (MurmurHash3.stringHash(s, 2) & 0xffffffffL)
      sum += h; xor ^= h
    }
    (f"$sum%016x$xor%016x:${rows.length}", rows, r.columns.toSeq)
  }

  private def jsonValue(v: Any): Any = v match {
    case d: java.math.BigDecimal => d.doubleValue
    case t: java.sql.Timestamp => t.toString
    case d: java.sql.Date => d.toString
    case s: scala.collection.Seq[_] => s.map(jsonValue)
    case r: Row => r.toSeq.map(jsonValue)
    case other => other
  }

  private def describe(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}"

  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private val jit = ManagementFactory.getCompilationMXBean
  private val oldGen = ManagementFactory.getMemoryPoolMXBeans.asScala
    .find(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))

  /** Process-wide counters read around each operation. */
  private def counters(): Map[String, Double] = Map(
    "codegen_compile_ms" -> CodeGenerator.compileTime / 1e6,
    "codegen_classes" -> CodegenMetrics.METRIC_COMPILATION_TIME.getCount.toDouble,
    "codegen_bytecode_kb" -> {
      val h = CodegenMetrics.METRIC_GENERATED_CLASS_BYTECODE_SIZE
      h.getCount * h.getSnapshot.getMean / 1024.0
    },
    "gc_ms" -> gcBeans.map(_.getCollectionTime).sum.toDouble,
    "jit_ms" -> jit.getTotalCompilationTime.toDouble)

  /** Old-generation occupancy right after a full collection: the live
    * driver heap, sampled after every operation. The collection also lets
    * Spark's ContextCleaner release the operation's shuffle state. */
  private def liveHeapMb(): Double = {
    System.gc()
    // a second collection takes what the cleaner released after the first
    Thread.sleep(20)
    System.gc()
    oldGen.map(_.getUsage.getUsed / 1048576.0).getOrElse(0.0)
  }
}
