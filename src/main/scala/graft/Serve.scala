package graft

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.Sinks

/** The reference's HTTP serving surface (fastapi model/ML Pipeline/
  * main.py:177-391) on the JDK's built-in `com.sun.net.httpserver` —
  * zero dependencies beyond Java 17, which is what a zero-egress Spark
  * deployment actually has. This closes the one "deliberate absence"
  * prior rounds documented: [[Pipeline.automate]] replicated the
  * orchestration semantics without a listener; this is the listener.
  *
  * Observable behavior mirrored from the reference (its WHAT, not its
  * FastAPI HOW):
  *  - `GET /` and `GET /health` — availability flags, a live engine
  *    probe (the reference runs `SELECT 1` against MySQL; here the
  *    probe is a 1-row Spark job), and whether the parameters file
  *    exists (main.py:178-221).
  *  - `POST /train?use_file_params=&merge_params=` with an optional
  *    JSON body of overrides — the reference's hybrid parameter input
  *    (main.py:226-273): file layer loaded when `use_file_params`,
  *    manual body merged over it when `merge_params` (or replacing it
  *    when not), defaults otherwise; body keys accept BOTH the
  *    reference's UPPER_SNAKE names and engine names
  *    ([[Pipeline.Config.fromJsonString]] aliases them). Responds
  *    `{"message": "Training is complete", "parameters_used": ...}`.
  *  - `POST /validate`, `POST /test` — artifact-gated stage runs: the
  *    reference answers "model not found — run /train first" instead
  *    of crashing (main.py:320-323); here [[Pipeline.automate]]'s
  *    existence gate produces the same soft answer. Past the gate, a
  *    stage answers from the train run's stage stamp with no Spark job
  *    when the stamp vouches for the request's events frame, config and
  *    artifact versions; otherwise it recomputes from the artifacts
  *    (see [[Pipeline.automate]]).
  *  - `POST /automate?use_file_params=&skip_training=` — the
  *    sequential train → validate → test chain with SOFT per-stage
  *    failure (main.py:299-391): one bad stage never takes down the
  *    chain, the response carries every stage's status; training is
  *    skipped when requested AND the model artifacts already exist.
  *  - Failures are DATA, not 5xx: the reference returns 200 JSON
  *    bodies with an `error` key from every failure path (its
  *    JSONResponse convention); unknown endpoints answer 404 with an
  *    error body (the unknown-stage analogue).
  *
  * Scale note: the listener is a thin driver-side control plane — every
  * request body is a handful of config keys and every response a status
  * object; all data movement happens inside the Spark jobs it launches,
  * exactly like the reference (FastAPI never carries the dataframes
  * either). One request runs at a time per executor thread pool slot;
  * the SparkSession is thread-safe across concurrent queries.
  */
object Serve {

  /** Start the server. `port = 0` binds an ephemeral port (tests);
    * the reference runs on 9009. Returns the started server — callers
    * stop it with `server.stop(0)`. */
  def start(spark: SparkSession, events: () => DataFrame, outDir: String,
            port: Int = 0,
            paramsFile: Option[String] = None): HttpServer = {
    val server = HttpServer.create(new InetSocketAddress(port), 0)
    // DAEMON worker threads: HttpServer.stop() does not shut down a
    // user-supplied executor, so non-daemon workers would pin the JVM
    // alive after the documented `server.stop(0)` path (round 15)
    server.setExecutor(java.util.concurrent.Executors.newFixedThreadPool(4,
      r => { val t = new Thread(r, "graft-serve"); t.setDaemon(true); t }))

    def fileLayer(): Map[String, String] =
      paramsFile.map(Pipeline.Config.fromJsonFile).getOrElse(Map.empty)

    def respond(ex: HttpExchange, code: Int, body: String): Unit = {
      val bytes = body.getBytes(StandardCharsets.UTF_8)
      ex.getResponseHeaders.set("Content-Type", "application/json")
      ex.sendResponseHeaders(code, bytes.length.toLong)
      val os = ex.getResponseBody
      try os.write(bytes) finally os.close()
    }

    // minimal JSON writer (the Verify escaping discipline — control
    // chars included, so a Spark exception message can't break a body)
    def q(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    def obj(fields: (String, String)*): String =
      fields.map { case (k, v) => s"${q(k)}:$v" }.mkString("{", ",", "}")
    def jmap(m: Map[String, String]): String =
      m.toSeq.sorted.map { case (k, v) => s"${q(k)}:${q(v)}" }
        .mkString("{", ",", "}")

    def query(ex: HttpExchange): Map[String, String] =
      Option(ex.getRequestURI.getQuery).getOrElse("").split("&")
        .filter(_.contains("=")).map { kv =>
          val Array(k, v) = kv.split("=", 2); k -> v
        }.toMap
    def flag(ps: Map[String, String], name: String, dflt: Boolean): Boolean =
      ps.get(name).map(_.equalsIgnoreCase("true")).getOrElse(dflt)
    def readBody(ex: HttpExchange): String =
      new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)

    def handle(path: String, method: String)
              (body: HttpExchange => (Int, String)): Unit =
      server.createContext(path, (ex: HttpExchange) =>
        try {
          // exact-path match: HttpServer contexts are prefix-routed, and
          // the reference 404s /trainx rather than treating it as /train
          if (ex.getRequestURI.getPath != path)
            respond(ex, 404, obj("error" -> q("unknown endpoint")))
          else if (ex.getRequestMethod != method)
            respond(ex, 405, obj("error" -> q(s"use $method")))
          else { val (c, b) = body(ex); respond(ex, c, b) }
        } catch { case scala.util.control.NonFatal(e) =>
          respond(ex, 200, obj("error" ->
            q(s"${e.getClass.getSimpleName}: ${e.getMessage}")))
        })

    def availability: Seq[(String, String)] = Seq(
      "train_available" -> "true", "validate_available" -> "true",
      "test_available" -> "true")

    handle("/", "GET") { _ =>
      (200, obj(Seq(
        "message" -> q("Economic news pipeline engine (Spark)")) ++
        availability :+
        ("parameters_file" -> q(
          if (paramsFile.exists(p => new java.io.File(p).exists()))
            "found" else "not found")): _*))
    }

    handle("/health", "GET") { _ =>
      // live engine probe — the reference's `SELECT 1` against its DB
      val engine =
        try { spark.sql("SELECT 1").head(); "healthy" }
        catch { case scala.util.control.NonFatal(e) =>
          s"error: ${e.getMessage}" }
      (200, obj(Seq(
        "status" -> q("ok"), "engine" -> q(engine)) ++ availability :+
        ("parameters_file_exists" -> paramsFile.exists(p =>
          new java.io.File(p).exists()).toString): _*))
    }

    handle("/train", "POST") { ex =>
      // the reference's hybrid layering (main.py:239-264): file layer
      // when requested; manual body merged over it (or replacing it)
      val params = layeredParams(ex, fileDflt = false)
      try {
        val cfg = Pipeline.Config.merged(params)
        Pipeline.run(spark, events(), cfg, Some(outDir))
        (200, obj("message" -> q("Training is complete"),
          "parameters_used" -> jmap(params)))
      } catch { case scala.util.control.NonFatal(e) =>
        (200, obj("error" -> q(s"Training failed: ${e.getMessage}")))
      }
    }

    // the SAME hybrid parameter layering as /train (round 15): a caller
    // who trained with manual body params must be able to grade that
    // predictor — rebuilding cfg from the file alone would silently
    // score the file's (or default naive) model instead, the exact
    // hazard Pipeline.automate's scaladoc names
    def layeredParams(ex: HttpExchange, fileDflt: Boolean): Map[String, String] = {
      val ps = query(ex)
      val useFile = flag(ps, "use_file_params", dflt = fileDflt)
      val merge = flag(ps, "merge_params", dflt = true)
      val manual = Pipeline.Config.fromJsonString(readBody(ex))
      if (manual.nonEmpty && !merge) manual
      else (if (useFile) fileLayer() else Map.empty[String, String]) ++ manual
    }

    def stageEndpoint(path: String, stage: String, done: String): Unit =
      handle(path, "POST") { ex =>
        val cfg = Pipeline.Config.merged(layeredParams(ex, fileDflt = true))
        val st = Pipeline.automate(spark, events(), outDir, cfg,
          stages = Seq(stage)).head
        if (st.ok) (200, obj("message" -> q(done)))
        else (200, obj("error" ->
          q(s"${stage.capitalize} failed: ${st.detail}")))
      }
    stageEndpoint("/validate", "validate", "Validation is complete")
    stageEndpoint("/test", "test", "Testing is complete")

    handle("/automate", "POST") { ex =>
      val ps = query(ex)
      val skipTraining = flag(ps, "skip_training", dflt = false)
      val cfg = Pipeline.Config.merged(layeredParams(ex, fileDflt = true))
      // the reference skips training only when asked AND the model
      // artifacts already exist (main.py:316-325); the gate is
      // Pipeline.requiredArtifacts — the ONE definition automate's own
      // validate/test gate checks, so skip-into-stage can never pass
      // here and then fail there (round 15)
      // committed versions, not bare dirs (round 16) — same gate class
      // as Pipeline.automate's: a crashed first artifact write must not
      // count as "models already exist" for skip_training
      val modelsExist = Pipeline.requiredArtifacts(cfg).forall(a =>
        Sinks.hasCommittedVersion(spark, s"$outDir/$a"))
      val stages =
        if (skipTraining && modelsExist) Seq("validate", "test")
        else Seq("train", "validate", "test")
      val statuses = Pipeline.automate(spark, events(), outDir, cfg, stages)
      val results =
        (if (stages.head != "train")
          Seq("train" -> obj("status" -> q("skipped"),
            "reason" -> q("models already exist"))) else Nil) ++
        statuses.map(s => s.stage -> obj(
          "status" -> q(if (s.ok) "success" else "error"),
          "detail" -> q(s.detail)))
      (200, obj("message" -> q("Pipeline automation completed"),
        "results" -> results.map { case (k, v) => s"${q(k)}:$v" }
          .mkString("{", ",", "}")))
    }

    server.start()
    server
  }

  /** Standalone entry: `runMain graft.Serve [port] [sfDir] [outDir]` —
    * reference defaults (port 9009, main.py:396). */
  def main(args: Array[String]): Unit = {
    val port = args.headOption.map(_.toInt).getOrElse(9009)
    val sfDir = args.lift(1).orElse(sys.env.get("SPARK_GRAFT_SF_DIR"))
      .getOrElse("/root/testdata/sf0.001")
    val outDir = args.lift(2).getOrElse(
      s"/tmp/graft_serve_${ProcessHandle.current().pid()}")
    // engine config from the shared builder (round 17): the serving
    // surface runs the same engine tuning the bench measures
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.builder(s"local[$cpus]", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val server = start(spark, () => Tables.events(spark, sfDir), outDir,
      port = port)
    System.err.println(
      s"[serve] listening on ${server.getAddress} -> $outDir")
    Thread.currentThread().join() // serve until killed
  }
}
