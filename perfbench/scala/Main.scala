package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Command-line options; see `run.py` for the user-facing flags. */
final case class Opts(
    workload: String = "",
    seed: Long = 1L,
    seconds: Double = 10.0,
    trace: Boolean = false,
    work: String = "",
    inputsRoot: String = "",
    cores: Int = 4,
    tiny: Boolean = false,
    plantFault: Boolean = false)

/** Everything a workload needs: the session, the tracer, the seeded inputs
  * directory, and the op recorder that feeds the metrics. */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val opts: Opts) {
  val inputs: String = s"${opts.inputsRoot}/${opts.workload}${if (opts.tiny) "-tiny" else ""}-s${opts.seed}"
  val scratch: String = s"${opts.work}/run-${opts.workload}-s${opts.seed}-${ProcessHandle.current.pid}"

  val latencies: mutable.Map[String, mutable.ArrayBuffer[Double]] = mutable.LinkedHashMap.empty
  val units: mutable.Map[String, Double] = mutable.LinkedHashMap.empty.withDefaultValue(0.0)
  var attempted = 0L
  var failed = 0L
  var measuring = false
  /** Time spent in oracle checks during the measured phase. */
  var checkS = 0.0
  val quality: mutable.Map[String, Double] = mutable.LinkedHashMap.empty

  def fail(what: String): Unit = {
    failed += 1
    System.err.println(s"[perfbench] FAILED: $what")
  }

  /** One closed-loop op of class `cls`: time `body`, then run `check` on its
    * value outside the timed region. An exception or a non-empty check
    * result counts the op as failed. Outside the measured phase (set-up,
    * warm-up) nothing is recorded. */
  def op[T](cls: String, work: Double = 0.0)(body: => T)(check: T => Option[String]): Option[T] = {
    if (measuring) attempted += 1
    val t0 = System.nanoTime()
    val res =
      try Right(body)
      catch { case e: Exception => Left(e) }
    val ms = (System.nanoTime() - t0) / 1e6
    res match {
      case Left(e) =>
        e.printStackTrace()
        if (measuring) fail(s"$cls threw ${e.getClass.getName}: ${e.getMessage}")
        else throw e
        None
      case Right(v) =>
        if (measuring) {
          latencies.getOrElseUpdate(cls, mutable.ArrayBuffer.empty) += ms
          units(cls) += work
        }
        val c0 = System.nanoTime()
        val verdict = check(v)
        if (measuring) checkS += (System.nanoTime() - c0) / 1e9
        verdict match {
          case Some(msg) =>
            if (measuring) fail(s"$cls: $msg") else throw new IllegalStateException(s"$cls: $msg")
          case None =>
        }
        Some(v)
    }
  }

  /** Run a (small) query result to completion and bring it back. */
  def rows(df: DataFrame): Array[org.apache.spark.sql.Row] = df.collect()
}

/** A closed-loop workload: raw inputs from the seed, program-side set-up,
  * and a fixed cycle of ops. A run measures ceil(seconds / nominalCycleS)
  * complete cycles, so every run of a workload has the same op mix and
  * count, and a faster program does not change what a run measures. */
trait Workload {
  /** Write the seeded raw inputs under `ctx.inputs` (cached by seed). */
  def generate(): Unit
  /** Program-side preparation (catalog open, store builds): runs
    * `setups` times, each timed; `setup_s` is the median. */
  def setup(): Unit
  def setups: Int
  /** Untimed warm-up after the first set-up: every op kind at least once,
    * so the JVM and Spark's code generation are warm for the later set-ups
    * and the measured ops. Later set-ups rebuild whatever it changes. */
  def warmup(): Unit
  /** One cycle of the op stream. */
  def cycle(): Unit
  /** A cycle's wall time at HEAD on the 4-core reference machine. */
  def nominalCycleS: Double
  /** Checks that need the whole run (outside the timed region). */
  def finish(): Unit = ()
  /** Op classes behind `query_p50_ms`, `load_p50_ms`, and the unit count
    * and time classes behind `work_per_s`. */
  def queryClasses: Seq[String]
  def loadClasses: Seq[String]
  def workPerSecond: Double
  /** Span names that carry this workload's time, for the trace summary. */
  def ownSpans: Set[String]
}

object Main {
  def parse(args: Array[String]): Opts = {
    def go(o: Opts, rest: List[String]): Opts = rest match {
      case "--workload" :: v :: t => go(o.copy(workload = v), t)
      case "--seed" :: v :: t     => go(o.copy(seed = v.toLong), t)
      case "--seconds" :: v :: t  => go(o.copy(seconds = v.toDouble), t)
      case "--trace" :: v :: t    => go(o.copy(trace = v == "1"), t)
      case "--work" :: v :: t     => go(o.copy(work = v), t)
      case "--inputs" :: v :: t   => go(o.copy(inputsRoot = v), t)
      case "--cores" :: v :: t    => go(o.copy(cores = v.toInt), t)
      case "--tiny" :: t          => go(o.copy(tiny = true), t)
      case "--plant-fault" :: t   => go(o.copy(plantFault = true), t)
      case Nil                    => o
      case other => throw new IllegalArgumentException(s"unknown arguments: ${other.mkString(" ")}")
    }
    val o = go(Opts(), args.toList)
    require(o.work.nonEmpty && o.inputsRoot.nonEmpty, "--work and --inputs are required")
    o
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    s(math.min(s.size - 1, math.ceil(q * s.size).toInt - 1).max(0))
  }

  /** Heap occupancy right after a full collection, in MB. Spark drops
    * unpersisted blocks and broadcasts asynchronously, so collect, give
    * those cleanups a moment, and collect again. */
  def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(300)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def session(o: Opts): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[${o.cores}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", o.cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      .config("spark.local.dir", s"${o.work}/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.sparkContext.setCheckpointDir(s"${o.work}/checkpoints")
    spark
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val spark = session(o)
    val tracer = new Tracer(spark.sparkContext, o.trace)
    val ctx = new Ctx(spark, tracer, o)
    val wl: Workload = o.workload match {
      case "esm_catalog_session" => new EsmCatalogSession(ctx)
      case "corpus_curation"     => new CorpusCuration(ctx)
      case "retrieval_store"     => new RetrievalStore(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    }
    def seconds(body: => Unit): Double = {
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    }
    val generateS = seconds(wl.generate())
    // program-side set-up, repeated so its median is steady; the first one
    // runs cold, before the warm-up
    val setup1 = seconds(wl.setup())
    val afterSetup1 = tracer.doneIds()
    val warmupS = seconds(wl.warmup())
    val warmupSpans = tracer.doneIds() -- afterSetup1
    val setupS = setup1 +: (2 to wl.setups).map(_ => seconds(wl.setup()))
    val setupSpans = tracer.doneIds() -- warmupSpans
    val heap = mutable.ArrayBuffer(liveHeapMb())
    val startupS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0

    ctx.measuring = true
    val tStart = System.nanoTime()
    val cycles = math.max(1, math.ceil(o.seconds / wl.nominalCycleS).toInt)
    (1 to cycles).foreach { _ =>
      wl.cycle()
      heap += liveHeapMb()
    }
    val measuredS = (System.nanoTime() - tStart) / 1e9
    ctx.measuring = false
    wl.finish()

    val q = wl.queryClasses.flatMap(ctx.latencies.getOrElse(_, Nil))
    val l = wl.loadClasses.flatMap(ctx.latencies.getOrElse(_, Nil))
    val e2e: Seq[(String, Double, String)] = Seq(
      ("query_p50_ms", median(q), "ms"),
      ("load_p50_ms", median(l), "ms"),
      ("work_per_s", wl.workPerSecond, "1/s"),
      ("setup_s", median(setupS), "s"),
      ("heap_live_peak_mb", heap.max, "MB"))

    // human-readable report: every end-to-end metric by name with its unit,
    // then tails and per-class latencies
    e2e.foreach { case (n, v, u) => println(f"metric $n%-22s $v%14.4f $u") }
    println(f"info   startup_s              $startupS%14.4f s  (process start to first timed op)")
    println(f"info   measured_s             $measuredS%14.4f s  ($cycles cycles, ${ctx.latencies.values.flatten.sum / 1000}%.3f s in ops, ${ctx.checkS}%.3f s in checks)")
    println(f"info   generate_s             $generateS%14.4f s")
    println(f"info   setup_s_all            ${setupS.map(s => f"$s%.3f").mkString(" ")}")
    println(f"info   warmup_s               $warmupS%14.4f s")
    ctx.latencies.foreach { case (cls, xs) =>
      val p90 = if (xs.size >= 100) f" p90=${quantile(xs.toSeq, 0.9)}%.2f" else ""
      println(f"info   op $cls%-20s n=${xs.size}%4d p50=${median(xs.toSeq)}%.2f ms$p90  (in order: ${xs.map(x => f"$x%.0f").mkString(" ")})")
    }
    ctx.quality.foreach { case (k, v) => println(f"info   quality $k%-16s $v%.4f") }
    println(s"info   failed_ops ${ctx.failed} of ${ctx.attempted}")

    val metrics: Seq[(String, Double, String)] =
      if (!o.trace) e2e
      else {
        val spans = tracer.finished()
        val report = TraceReport(spans, setupSpans, warmupSpans, measuredS, o.cores, wl.setups,
          wl.ownSpans, ctx)
        report.print()
        report.write(s"${o.work}/traces/${o.workload}-s${o.seed}.json")
        report.perLayer
      }
    val correct = ctx.failed == 0 && ctx.attempted > 0
    val body = metrics.map { case (n, v, u) =>
      s""""$n": {"value": ${jsonNum(v)}, "unit": "$u"}""" }.mkString(", ")
    println(s"""{"correct": $correct, "attempted": ${ctx.attempted}, "failed": ${ctx.failed}, "metrics": {$body}}""")
    System.out.flush()
    spark.stop()
  }

  def jsonNum(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString
}
