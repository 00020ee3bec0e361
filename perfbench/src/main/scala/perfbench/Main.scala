package perfbench

import graft.GraftSession
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._
import scala.util.Try

/** One benchmark run: a named workload under a seed on `local[4]`, as a
  * closed loop (one driver thread starts an operation only after the
  * previous one completed). Prints every metric with its unit and sample
  * count, then one JSON result line.
  *
  * Usage: perfbench.Main --workload <relational|archive_backfill>
  *   --seed <n> --seconds <s> --trace <0|1> --data <dir> --work <dir> --out <dir>
  */
object Main {
  val Cores = 4

  /** Grace given to Spark's ContextCleaner after the full GC that follows
    * every operation, so one operation's shuffle and broadcast cleanup
    * does not run under the next one's timer. Outside every timed region
    * and identical on both sides of any A/B. */
  val CleanerWaitMs = 150L

  /** Wall seconds one pass takes on 4 cores, isolation included. A run
    * makes `--seconds` / this many passes (at least one), so its length
    * follows `--seconds` while the pass count does not vary with timing. */
  val NominalPassSeconds = Map("relational" -> 6.0, "archive_backfill" -> 12.0)

  /** Largest share of an operation's wall time by which its build,
    * job-active and idle parts may fail to add up in a traced run. */
  val ReconcileBound = 0.05

  val Relational = Seq("q01_pricing_summary", "q04_join_inner_revenue",
    "q11_window_running", "q14_pivot_counts", "q20_explode_tokens", "q25_datamart",
    "q38_tumbling_window", "q48_asof_join", "q55_forecast_revenue", "q56_sessionize",
    "q64_asof_broadcast", "q173_html_extract")

  /** One timed operation: a query (build plus count) or a whole backfill. */
  final case class Op(id: String, start: Double, end: Double, ok: Boolean, gcS: Double) {
    def seconds: Double = end - start
  }

  /** What one pass leaves: its operations, its micro-batch latencies
    * (none on `relational`), the driver spans, and per-pass counters
    * measured outside the listeners. */
  final case class Pass(ops: Seq[Op], latencies: Seq[Double], spans: Seq[Span],
                        counters: Map[String, Double]) {
    def seconds: Double = ops.map(_.seconds).sum
  }

  trait Workload {
    /** Build the inputs the timed passes read (timed as `setup.fixture_s`). */
    def fixture(): Unit
    /** Compile and check pass before timing; returns (attempted, failed). */
    def warmup(): (Int, Int)
    def pass(index: Int): Pass
  }

  /** Progress notes go to stderr; stdout carries only the results. */
  def log(msg: String): Unit = System.err.println(f"[perfbench ${Clock.now() % 1000}%7.2f] $msg")

  private def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  /** Release cached data, collect, and let the cleaner run. */
  def isolate(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    System.gc()
    Thread.sleep(CleanerWaitMs)
  }

  /** Heap in use once the context cleaner has released what the pass
    * left: each full GC can free objects whose cleanup frees more, so
    * collect until the reading holds still (within 1 MB, at most 8 GCs). */
  def settledHeapMb(spark: SparkSession): Double = {
    spark.catalog.clearCache()
    def read() = {
      System.gc()
      Thread.sleep(CleanerWaitMs)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }
    var prev = read()
    var cur = read()
    var n = 2
    while (math.abs(cur - prev) >= 1.0 && n < 8) { prev = cur; cur = read(); n += 1 }
    cur
  }

  /** Time operation `id` as its build and execute parts; a build that
    * throws counts as build time. Every job the operation submits, from
    * this thread or one started inside it, carries `id` as the local
    * property [[Recorder.OpProperty]]. */
  def timeOp[T](spark: SparkSession, id: String, spans: collection.mutable.Buffer[Span])(
      build: => T)(execute: T => Boolean): Op = {
    spark.sparkContext.setJobDescription(s"perfbench $id")
    spark.sparkContext.setLocalProperty(Recorder.OpProperty, id)
    val gc0 = gcSeconds()
    val s = Clock.now()
    var b = s
    val ok = Try {
      val built = build
      b = Clock.now()
      execute(built)
    }.recover { case t => System.err.println(s"[perfbench] $id failed: $t"); false }.get
    val e = Clock.now()
    if (b == s) b = e
    spans += Span(id, "", id, "op", id, s, e)
    spans += Span(s"$id/build", id, id, "build", "build", s, b)
    spans += Span(s"$id/execute", id, id, "execute", "execute", b, e)
    spark.sparkContext.setJobDescription(null)
    spark.sparkContext.setLocalProperty(Recorder.OpProperty, null)
    Op(id, s, e, ok, gcSeconds() - gc0)
  }

  /** Unit of a per-layer metric, from its name. */
  private def unitOf(name: String): String =
    if (name.endsWith("_s")) "s"
    else if (name.endsWith("_bytes")) "bytes"
    else if (name.endsWith("cpu_util") || name.endsWith("per_input")) "ratio"
    else "count"

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        data: Path, work: Path, out: Path)

  def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    val a = Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", Paths.get(need("data")), Paths.get(need("work")),
      Paths.get(need("out")))
    require(NominalPassSeconds.contains(a.workload),
      s"unknown workload ${a.workload}")
    require(a.seconds >= 1, "--seconds must be at least 1")
    a
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime / 1e3
    val spark = GraftSession.build(s"local[$Cores]", Cores, "perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    val tSession = Clock.now()
    val wl: Workload = a.workload match {
      case "relational" => new Queries(spark, Relational, a.data.toString, a.seed, Goldens.load())
      case _ => new Backfill(spark, a.work, a.seed)
    }
    log(f"session ready in ${tSession - jvmStart}%.2f s")
    wl.fixture()
    val tFixture = Clock.now()
    log(f"fixture ready in ${tFixture - tSession}%.2f s")
    val (warmAttempted, warmFailed) = wl.warmup()
    val tWarm = Clock.now()
    log(f"warm-up done in ${tWarm - tFixture}%.2f s, $warmFailed of $warmAttempted checks failed")
    val setup = Map("setup_s" -> (tWarm - jvmStart), "setup.session_s" -> (tSession - jvmStart),
      "setup.fixture_s" -> (tFixture - tSession), "setup.warmup_s" -> (tWarm - tFixture))

    val rec = if (a.trace) Some(new Recorder) else None
    val untraced, traced = collection.mutable.ArrayBuffer.empty[Pass]
    val layers = collection.mutable.ArrayBuffer.empty[Layers.PassLayers]
    val heapMb = collection.mutable.ArrayBuffer.empty[Double]
    // traced runs alternate untraced and traced passes, starting and
    // ending untraced, so the overhead compares passes of equal warmth
    val passes = math.max(if (a.trace) 3 else 1, (a.seconds / NominalPassSeconds(a.workload)).toInt)
    for (i <- 0 until passes) {
      val p0 = Clock.now()
      val tracedPass = rec.isDefined && i % 2 == 1
      if (tracedPass) rec.get.attach(spark)
      val p = wl.pass(i)
      if (tracedPass) {
        val (jobs, stages, execs, prog) = rec.get.take()
        rec.get.detach(spark)
        layers += Layers.analyse(Cores, p.spans, jobs, stages, execs, prog)
        traced += p
      } else untraced += p
      heapMb += settledHeapMb(spark)
      log(f"pass $i${if (tracedPass) " (traced)" else ""}: ${p.seconds}%.3f s timed, " +
        f"${Clock.now() - p0}%.3f s wall, heap ${heapMb.last}%.1f MB; " +
        p.ops.map(o => f"${o.id} ${o.seconds}%.3f").mkString(", "))
    }
    spark.stop()

    val all = untraced ++ traced
    val attempted = warmAttempted + all.map(_.ops.size).sum
    val failed = warmFailed + all.map(_.ops.count(!_.ok)).sum
    val lat = untraced.flatMap(_.latencies).toSeq
    val passS = untraced.map(_.seconds).toSeq
    println(f"[perfbench] workload=${a.workload} seed=${a.seed} cores=$Cores passes=${all.size} traced=${traced.size}")
    println(f"[perfbench] error_rate = ${failed.toDouble / attempted}%.4f ($failed failed / $attempted attempted)")

    val (metrics, correct) = if (!a.trace) {
      val m = Seq(
        ("setup_s", setup("setup_s"), "s", 1),
        ("pass_s", Stats.median(passS), "s", passS.size),
        ("heap_after_gc_mb", Stats.median(heapMb.toSeq), "MB", heapMb.size))
      m.foreach { case (n, v, u, k) => println(f"[perfbench] $n = $v%.4f $u (n=$k)") }
      // printed but not in the result: a pass is one micro-batch, so at
      // the benchmark's run length these are one sample each
      if (lat.nonEmpty) {
        val tail = Stats.tail(lat)
        println(f"[perfbench] batch_p50_s = ${Stats.median(lat)}%.4f s (n=${lat.size})")
        println(f"[perfbench] batch_tail_s = ${tail.value}%.4f s (n=${tail.samples}, " +
          f"p${tail.percentile}%.1f)")
      }
      (m.map { case (n, v, u, _) => (n, v, u) }, failed == 0)
    } else {
      val perPass = layers.map(_.metrics)
      val io = traced.map(_.counters)
      val gc = traced.map(_.ops.map(_.gcS).sum)
      def med(f: collection.Seq[Double]) = if (f.isEmpty) 0.0 else Stats.median(f.toSeq)
      val errs = layers.flatMap(_.reconcileErr)
      val errMax = if (errs.isEmpty) 0.0 else errs.max
      val violations = layers.flatMap(_.violations)
      val spans = layers.flatMap(_.spans)
      val negSelf = spans.count(_.selfS < -Layers.Tolerance)
      val overhead = med(traced.map(_.seconds)) - med(untraced.map(_.seconds))
      Files.createDirectories(a.out)
      val spanFile = a.out.resolve(s"${a.workload}-seed${a.seed}.spans.jsonl")
      Files.write(spanFile, spans.map(Layers.jsonLine).asJava)
      val ioKeys = Seq("io.archive_bytes", "io.index_bytes", "io.stored_per_input", "io.compactions")
      val m = perPass.head.keys.toSeq.sorted.map(k => (k, med(perPass.map(_(k))))) ++
        ioKeys.map(k => (k, med(io.map(_.getOrElse(k, 0.0))))) ++
        setup.toSeq.filter(_._1 != "setup_s").sorted ++
        Seq("jvm.gc_s" -> med(gc), "trace.overhead_s" -> overhead,
          "trace.spans" -> spans.size.toDouble)
      val withUnits = m.map { case (n, v) => (n, v, unitOf(n)) }
      withUnits.foreach { case (n, v, u) => println(f"[perfbench] $n = $v%.6f $u (n=${traced.size})") }
      println(s"[perfbench] spans written to $spanFile")
      val traceOk = errMax <= ReconcileBound && negSelf == 0 && violations.isEmpty
      println(f"[perfbench] trace self-check ${if (traceOk) "passed" else "FAILED"}: " +
        f"max reconcile error $errMax%.4f, $negSelf negative self times, " +
        f"${violations.size} attribution violations")
      violations.take(20).foreach(v => println(s"[perfbench]   $v"))
      (withUnits, failed == 0 && traceOk)
    }
    val json = metrics.map { case (n, v, u) => s""""$n":{"value":$v,"unit":"$u"}""" }.mkString(",")
    println(s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,"metrics":{$json}}""")
    if (!correct) sys.exit(1)
  }
}
