package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.collection.immutable.ListMap

/** One timed operation: a refresh or a shard; `items` is its input size. */
final case class OpResult(ms: Double, ok: Boolean, items: Long)

/** One output check, run outside the timed window. */
final case class Check(name: String, ok: Boolean, detail: String)

/** A benchmark workload. The harness calls `generate` once, then
  * `preload`, then `op` for every operation of the run, then `checks`. */
trait Workload {
  def params: ListMap[String, Any]
  /** Write the inputs of the preload and of `ops` operations. */
  def generate(ops: Int): Unit
  /** Bring the program to its serving state: load history, train, and do
    * untimed work of the operations' kind, so that they start warm. */
  def preload(): Unit
  /** One closed-loop operation; `opId` names it in the trace. */
  def op(tracer: Tracer, opId: Int): OpResult
  def checks(): Seq[Check]
  /** Workload-specific per-layer metrics of the traced phase. */
  def layerExtras: Map[String, Double] = Map.empty
  def close(): Unit = ()
}

object Main {
  /** Module metrics read from span durations (see [[Layers.metrics]]). */
  val moduleSpans: Seq[(String, String)] = Seq(
    "StreamingIngest.drain_s" -> "StreamingIngest.drain",
    "Pipeline.train_s" -> "Pipeline.train",
    "Pipeline.validate_s" -> "Pipeline.validate",
    "Pipeline.test_s" -> "Pipeline.test",
    "Serve.health_ms" -> "Serve.health",
    "TextAnalysis.score_s" -> "TextAnalysis.score",
    "Dedup.exact_s" -> "Dedup.exact",
    "Dedup.lsh_s" -> "Dedup.lsh",
    "Dedup.resolve_s" -> "Dedup.resolve",
    "Similarity.index_s" -> "Similarity.index",
    "Similarity.topk_s" -> "Similarity.topk",
    "Sinks.write_s" -> "Sinks.write")

  /** Seconds one operation of either workload takes on the machine the
    * benchmark was tuned on; a run holds `--seconds` / this operations,
    * so the same arguments always give the same work, however fast the
    * machine runs. */
  val NominalOpS = 6.0

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val cores = a("cores").toInt
    val out = Paths.get(a("out")).toAbsolutePath
    Files.createDirectories(out)

    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = graft.GraftSession.builder(s"local[$cores]", cores.toString)
      .config("spark.sql.warehouse.dir", out.resolve("warehouse").toString)
      .config("spark.local.dir", out.resolve("spark-local").toString)
      .config("spark.hadoop.hadoop.tmp.dir", out.resolve("hadoop-tmp").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0

    val w: Workload = workload match {
      case "monthly_refresh" => new Refresh(spark, seed, out)
      case "corpus_curation" => new Curation(spark, seed, out)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    // Every run of a workload does the same number of operations, so that
    // the data each one sees, the outputs checked and the resident set do
    // not depend on how fast the machine ran. The traced run does them
    // twice over: first untraced, then traced; the difference of the two
    // medians is the tracing overhead.
    val opsPerPhase = math.max(1, math.round(seconds / NominalOpS).toInt)
    val generatedMs = System.currentTimeMillis()
    w.generate(if (traced) 2 * opsPerPhase else opsPerPhase)
    val preloadMs = System.currentTimeMillis()
    w.preload()
    val preloadedMs = System.currentTimeMillis()
    val tracer = new Tracer(spark)
    val layers = new Layers(spark, tracer, cores)
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1000.0

    var opIds = 0
    def phase(): Seq[OpResult] =
      Seq.fill(opsPerPhase) { opIds += 1; w.op(tracer, opIds) }
    val untraced = phase()
    val tracedOps =
      if (!traced) Nil
      else {
        layers.start()
        try phase() finally layers.stop()
      }
    val measured = if (traced) tracedOps else untraced

    val checksMs = System.currentTimeMillis()
    val checks = w.checks() ++ (if (!traced) Nil else {
      val bad = layers.selfTimeViolations()
      Seq(Check("span_self_time_within_op", bad.isEmpty,
        s"operations whose child self times exceed their wall time: ${bad.mkString(",")}"))
    })
    val checksS = (System.currentTimeMillis() - checksMs) / 1000.0
    val peakRssMb = peakRss()
    w.close()

    // Runs hold one or a few operations, too few for any percentile above
    // the median to have ten samples beyond it, so no tail is reported.
    val lat = measured.map(_.ms)
    val endToEnd = ListMap(
      "op_p50_ms" -> Stats.median(lat),
      "items_per_s" -> measured.map(_.items).sum / (lat.sum / 1000.0),
      "setup_s" -> setupS,
      "peak_rss_mb" -> peakRssMb)
    val perLayer: Map[String, Double] = if (!traced) Map.empty else {
      layers.metrics(moduleSpans) ++ w.layerExtras +
        ("trace.overhead_ms" ->
          (Stats.median(tracedOps.map(_.ms)) - Stats.median(untraced.map(_.ms))))
    }
    if (traced)
      Files.write(out.resolve("spans.jsonl"),
        (layers.spanLines().mkString("\n") + "\n").getBytes(StandardCharsets.UTF_8))

    val result = ListMap(
      "workload" -> workload, "seed" -> seed, "trace" -> traced,
      "cores" -> cores, "params" -> w.params,
      "setup_s" -> setupS, "session_s" -> sessionS,
      "generate_s" -> (preloadMs - generatedMs) / 1000.0,
      "preload_s" -> (preloadedMs - preloadMs) / 1000.0, "checks_s" -> checksS,
      "attempted" -> measured.size, "failed" -> measured.count(!_.ok),
      "ops" -> measured.map(o => ListMap("ms" -> o.ms, "ok" -> o.ok, "items" -> o.items)),
      "untraced_ops" -> (if (traced) untraced.size else measured.size),
      "end_to_end" -> endToEnd,
      "per_layer" -> ListMap(perLayer.toSeq.sortBy(_._1): _*),
      "checks" -> checks.map(c => ListMap("name" -> c.name, "ok" -> c.ok,
        "detail" -> c.detail)))
    Files.write(out.resolve("result.json"),
      Json.render(result).getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }

  /** The process's peak resident set (VmHWM) in MiB. */
  def peakRss(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  /** Write a file, creating its directory. */
  def writeFile(p: Path, content: String): Unit = {
    Files.createDirectories(p.getParent)
    Files.write(p, content.getBytes(StandardCharsets.UTF_8))
  }

  /** Recursive copy of a directory of plain files. */
  def copyTree(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.forEach { x =>
      val dst = to.resolve(from.relativize(x).toString)
      if (Files.isDirectory(x)) Files.createDirectories(dst) else Files.copy(x, dst)
    } finally s.close()
  }

  /** Recursive delete; missing paths are fine. */
  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(x => Files.delete(x))
      finally s.close()
    }
}
