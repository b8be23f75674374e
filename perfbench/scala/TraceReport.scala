package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

/** Per-layer numbers from a traced run.
  *
  * Per span name (`catalog.search`, `operators.clean`, ...): the counters
  * summed over the measured phase (`build_ms`, `wall_ms`, `self_ms`, `jobs`,
  * `tasks`, `task_ms`, `idle_ms`, `codegen_ms`, `codegen_classes`,
  * `shuffle_bytes`, `fs_bytes_read`, `fs_bytes_written`) and the span's
  * share of the measured wall time. Set-up spans (store builds, catalog
  * open) are reported as `setup:<span>`, warm-up spans as `warmup:<span>`.
  * The per-layer metrics of the result line are the same counters per op
  * over all measured spans, which every workload has. */
final case class TraceReport(spans: Seq[Span], setupIds: Set[Long], warmupIds: Set[Long],
                             measuredS: Double, cores: Int, setups: Int,
                             ownSpans: Set[String], ctx: Ctx) {
  private val measured = spans.filterNot(s => setupIds(s.id) || warmupIds(s.id))
  private val setup = spans.filter(s => setupIds(s.id))
  private val warmup = spans.filter(s => warmupIds(s.id))
  private val wallMs = measuredS * 1000.0

  private def counters(ss: Seq[Span]): Seq[(String, Double)] = Seq(
    "calls" -> ss.size.toDouble,
    "wall_ms" -> ss.map(_.wallMs).sum.toDouble,
    "self_ms" -> ss.map(s => s.wallMs - s.childMs).sum.toDouble,
    "build_ms" -> ss.map(_.buildMs).sum,
    "jobs" -> ss.map(_.jobs.get).sum.toDouble,
    "tasks" -> ss.map(_.tasks.get).sum.toDouble,
    "task_ms" -> ss.map(_.taskMs.get).sum.toDouble,
    "idle_ms" -> ss.map(_.idleMs).sum.toDouble,
    "codegen_ms" -> ss.map(_.codegenMs.get).sum.toDouble,
    "codegen_classes" -> ss.map(_.codegenClasses.get).sum.toDouble,
    "shuffle_bytes" -> ss.map(_.shuffleBytes.get).sum.toDouble,
    "fs_bytes_read" -> ss.map(_.fsBytesRead).sum.toDouble,
    "fs_bytes_written" -> ss.map(_.fsBytesWritten).sum.toDouble)

  /** `<span>.<counter>` rows, measured phase first, then set-up spans. */
  val bySpan: Seq[(String, Seq[(String, Double)])] = {
    val m = measured.groupBy(_.name).toSeq.sortBy(_._1).map { case (n, ss) =>
      val c = counters(ss)
      n -> (c :+ ("wall_share" -> c.find(_._1 == "self_ms").get._2 / wallMs))
    }
    def prefixed(p: String, ss: Seq[Span]) =
      ss.groupBy(_.name).toSeq.sortBy(_._1).map { case (n, g) => s"$p:$n" -> counters(g) }
    m ++ prefixed("setup", setup) ++ prefixed("warmup", warmup)
  }

  /** Share of the measured wall time spent inside this workload's own spans
    * (top level only, so nested spans are not counted twice). */
  val ownShare: Double =
    measured.filter(s => s.parent.isEmpty && ownSpans(s.name)).map(_.wallMs).sum / wallMs

  val perLayer: Seq[(String, Double, String)] = {
    val ops = math.max(1L, ctx.attempted).toDouble
    val c = counters(measured).toMap
    val sc = counters(setup).toMap
    Seq(
      ("jobs_per_op", c("jobs") / ops, "count"),
      ("tasks_per_op", c("tasks") / ops, "count"),
      ("task_ms_per_op", c("task_ms") / ops, "ms"),
      ("idle_ms_per_op", c("idle_ms") / ops, "ms"),
      ("build_ms_per_op", c("build_ms") / ops, "ms"),
      ("codegen_ms_per_op", c("codegen_ms") / ops, "ms"),
      ("codegen_classes_per_op", c("codegen_classes") / ops, "count"),
      ("shuffle_bytes_per_op", c("shuffle_bytes") / ops, "bytes"),
      ("fs_bytes_read_per_op", c("fs_bytes_read") / ops, "bytes"),
      ("busy_ratio", c("task_ms") / (wallMs * cores), "ratio"),
      ("own_span_share", ownShare, "ratio"),
      ("setup_jobs", sc("jobs") / setups, "count"),
      ("setup_task_ms", sc("task_ms") / setups, "ms"),
      ("setup_idle_ms", sc("idle_ms") / setups, "ms"))
  }

  def print(): Unit = {
    bySpan.foreach { case (n, cs) =>
      cs.foreach { case (k, v) => println(f"layer  $n.$k%-40s $v%16.3f") } }
    println(f"layer  busy_ratio ${perLayer.find(_._1 == "busy_ratio").get._2}%.4f  own_span_share $ownShare%.4f")
  }

  def write(path: String): Unit = {
    val spansJson = bySpan.map { case (n, cs) =>
      val body = cs.map { case (k, v) => s""""$k": ${Main.jsonNum(v)}""" }.mkString(", ")
      s"""    "$n": {$body}"""
    }.mkString(",\n")
    val layer = perLayer.map { case (n, v, _) => s""""$n": ${Main.jsonNum(v)}""" }.mkString(", ")
    val quality = ctx.quality.map { case (k, v) => s""""$k": ${Main.jsonNum(v)}""" }.mkString(", ")
    val json =
      s"""{
         |  "workload": "${ctx.opts.workload}", "seed": ${ctx.opts.seed},
         |  "measured_s": ${Main.jsonNum(measuredS)}, "cores": $cores,
         |  "per_layer": {$layer},
         |  "quality": {$quality},
         |  "spans": {
         |$spansJson
         |  }
         |}
         |""".stripMargin
    val p = Paths.get(path)
    Files.createDirectories(p.getParent)
    Files.write(p, json.getBytes(UTF_8))
  }
}
