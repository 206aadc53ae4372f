package graftbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One benchmark run of one workload in one JVM.
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --cores <n>
  *      --work <scratch dir> --out <result.json> --spans <spans.jsonl>
  * }}}
  *
  * Set-up (everything before the first timed call) creates the session,
  * runs one untimed warm-up pass of the workload's own call sequence on
  * inputs a quarter of the size in a directory of its own, so JIT and
  * first-use costs stay out of the timed region, generates the run's
  * inputs, and lets the JVM settle (see [[settle]]). The timed part runs
  * for `--seconds` (and at least the workload's minimum steps), then the
  * workload checks its outputs. The run writes its raw samples, values
  * and check failures to `--out`, and with `--trace 1` its spans to
  * `--spans`.
  */
object Main {
  val WarmupScale = 0.25

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = Workload.all.getOrElse(a("workload"),
      sys.error(s"unknown workload ${a("workload")}; one of ${Workload.all.keys.mkString(", ")}"))
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val work = a("work")
    val cores = a("cores")

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.graft.merge.shufflePartitions", "8")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val conf0 = spark.conf.getAll
    val sessionS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

    val t0 = System.nanoTime()
    val idle = new Tracer(spark, traced = false)
    workload.prepare(Ctx(spark, s"$work/warmup", WarmupScale, seed, idle, warmup = true))(0L)
    if (idle.failed > 0)
      sys.error(s"warm-up pass failed its checks: ${idle.failures.mkString("; ")}")
    val warmupS = (System.nanoTime() - t0) / 1e9
    val tr = new Tracer(spark, traced)
    val t1 = System.nanoTime()
    val timed = workload.prepare(Ctx(spark, s"$work/run", 1.0, seed, tr))
    val prepareS = (System.nanoTime() - t1) / 1e9
    val t3 = System.nanoTime()
    settle()
    val settleS = (System.nanoTime() - t3) / 1e9
    val setupS = sessionS + warmupS + prepareS + settleS

    val phases0 = graft.store.PhaseStats.snapshot()
    val gc0 = gcSeconds()
    heapPools.foreach(_.resetPeakUsage())
    val jit0 = jitSeconds()
    val t2 = System.nanoTime()
    timed(t2 + (seconds * 1e9).toLong)
    tr.value("timed_s", (System.nanoTime() - t2) / 1e9)
    tr.value("settle_s", settleS)
    tr.value("jit_s_timed", jitSeconds() - jit0)
    tr.value("spark.jvm_gc_s", gcSeconds() - gc0)
    graft.store.PhaseStats.snapshot().foreach { case (k, (n, s)) =>
      val (n0, s0) = phases0.getOrElse(k, (0L, 0.0))
      tr.value(s"phase.$k.n", (n - n0).toDouble)
      tr.value(s"phase.$k.s", s - s0)
    }
    tr.value("jvm.heap_peak_mb", heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0)
    // leak counters, before anything is swept
    tr.value("spark.persistent_rdds_left", spark.sparkContext.getPersistentRDDs.size)
    val conf1 = spark.conf.getAll
    tr.value("spark.conf_keys_changed",
      (conf0.keySet ++ conf1.keySet).count(k => conf0.get(k) != conf1.get(k)))

    if (traced) tr.writeSpans(a("spans"))
    idle.samples.foreach { case (k, xs) => tr.value(s"warmup.$k", xs.sum) }
    writeResult(a("out"), a("workload"), seed, traced, setupS, sessionS, warmupS, prepareS, tr)
    spark.stop()
  }

  /** Lets the JVM finish what the warm-up started, so every run's timed
    * part begins in the same state: a full GC, then a wait until the JIT
    * compilers have been idle for half a second (at most ten seconds). */
  private def settle(): Unit = {
    System.gc()
    val end = System.nanoTime() + 10000000000L
    var last = jitSeconds()
    var idle = 0
    while (idle < 5 && System.nanoTime() < end) {
      Thread.sleep(100)
      val t = jitSeconds()
      idle = if (t == last) idle + 1 else 0
      last = t
    }
  }

  private def jitSeconds(): Double =
    ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3

  private def heapPools =
    ManagementFactory.getMemoryPoolMXBeans.asScala.toSeq
      .filter(_.getType == java.lang.management.MemoryType.HEAP)

  private def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  private def writeResult(path: String, workload: String, seed: Long, traced: Boolean,
      setupS: Double, sessionS: Double, warmupS: Double, prepareS: Double,
      tr: Tracer): Unit = {
    def arr(xs: Iterable[Double]) = xs.map(Json.num).mkString("[", ",", "]")
    val samples = tr.samples.map { case (k, v) => s"${Json.str(k)}:${arr(v)}" }.mkString(",")
    val values = tr.values.map { case (k, v) => s"${Json.str(k)}:${Json.num(v)}" }.mkString(",")
    val failures = tr.failures.map(Json.str).mkString("[", ",", "]")
    val w = new java.io.PrintWriter(path, "UTF-8")
    try w.println(s"""{"workload":${Json.str(workload)},"seed":$seed,"traced":$traced,""" +
      s""""setup_s":${Json.num(setupS)},"session_s":${Json.num(sessionS)},""" +
      s""""warmup_s":${Json.num(warmupS)},"prepare_s":${Json.num(prepareS)},""" +
      s""""attempted":${tr.attempted},"failed":${tr.failed},"failures":$failures,""" +
      s""""samples":{$samples},"values":{$values}}""")
    finally w.close()
  }
}
