package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.time.LocalDate
import java.util.{Locale, SplittableRandom}

import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import com.fasterxml.jackson.databind.ObjectMapper
import com.sun.net.httpserver.HttpServer
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Serve
import graft.functions.cleaning
import graft.operators.Sinks
import graft.streaming.StreamingIngest

/** A release as the stream must store it; `value` is what the cleaning
  * chain parses from `actual`. */
final case class Release(date: LocalDate, hour: Int, minute: Int,
                         currency: String, event: String, impact: String,
                         actual: String, forecast: String, previous: String,
                         value: Option[Double]) {
  def line: String = Seq(date.toString, f"$hour%02d:$minute%02d:00", currency,
    event, impact, actual, forecast, previous,
    value.map(java.lang.Double.toString).getOrElse("null")).mkString("|")
}

/** Seeded generator of reference-shaped raw calendar CSV (the 10 forced
  * columns), one file per month.
  *
  * Every month holds `rowsPerMonth` new releases on Zipf-skewed
  * (Currency, Event) keys, plus revisions of earlier releases, rows older
  * than the 30-day watermark and rows whose date does not parse. Dates
  * and times come in the mixed formats the cleaning chain accepts, and
  * the numeric columns in the dirty forms it parses (`5.2%`, `1.2K`,
  * `3.40M`, empty). `month` also returns each new release as the cleaned
  * snapshot row the stream must produce; revisions, late rows and
  * unparseable rows are all dropped by the stream's dedup, watermark and
  * parse steps, so the final snapshot is exactly the new releases. */
final class RefreshGen(seed: Long, val rowsPerMonth: Int, val zipfS: Double,
                       val revisionShare: Double, val lateShare: Double,
                       val junkShare: Double) {
  val currencies = Seq("USD", "EUR", "GBP", "JPY", "AUD", "CAD", "CHF", "NZD")
  val events = Seq("CPI m/m", "Core CPI y/y", "Non-Farm Employment Change",
    "Unemployment Rate", "Retail Sales m/m", "GDP q/q", "Manufacturing PMI",
    "Services PMI", "Trade Balance", "Interest Rate Decision", "PPI m/m",
    "Consumer Confidence")
  private val base = LocalDate.of(2019, 1, 1)
  private val keys: IndexedSeq[(String, String)] = {
    val all = for (c <- currencies; e <- events) yield (c, e)
    shuffle(all.toIndexedSeq, new SplittableRandom(seed ^ 0x5eedL))
  }
  private val zipfCdf: Array[Double] = {
    val w = keys.indices.map(i => 1.0 / math.pow(i + 1, zipfS))
    w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
  }

  private def shuffle[A](xs: IndexedSeq[A], r: SplittableRandom): IndexedSeq[A] = {
    val a = xs.toArray[Any]
    for (i <- a.length - 1 to 1 by -1) {
      val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toIndexedSeq.asInstanceOf[IndexedSeq[A]]
  }

  private def zipfKey(r: SplittableRandom): (String, String) = {
    val u = r.nextDouble()
    val i = java.util.Arrays.binarySearch(zipfCdf, u)
    keys(math.min(if (i >= 0) i else -i - 1, keys.size - 1))
  }

  private val monthNames = Seq("January", "February", "March", "April", "May",
    "June", "July", "August", "September", "October", "November", "December")

  private def renderDate(d: LocalDate, r: SplittableRandom): String = {
    val (y, m, dd) = (d.getYear, d.getMonthValue, d.getDayOfMonth)
    r.nextInt(7) match {
      case 0 => f"$y-$m%02d-$dd%02d"
      case 1 => s"$dd ${monthNames(m - 1)} $y"
      case 2 => s"$m/$dd/$y"
      case 3 => s"$y/$m/$dd"
      case 4 => s"$m-$dd-$y"
      case 5 => s"${monthNames(m - 1).take(3)} $dd, $y"
      case _ => s"${monthNames(m - 1)} $dd, $y"
    }
  }

  private def renderTime(h: Int, mi: Int, r: SplittableRandom): String =
    r.nextInt(3) match {
      case 0 => f"$h:$mi%02d"
      case 1 =>
        val h12 = if (h % 12 == 0) 12 else h % 12
        f"$h12:$mi%02d ${if (h < 12) "AM" else "PM"}"
      case _ => f"0 days $h%02d:$mi%02d:00"
    }

  /** A dirty numeric string and the value the cleaning chain parses. */
  private def numeric(r: SplittableRandom): (String, Option[Double]) = {
    val x = r.nextGaussian() * 4.0
    r.nextInt(20) match {
      case k if k < 8 =>
        val s = String.format(Locale.ROOT, "%.2f", Double.box(x)); (s, Some(s.toDouble))
      case k if k < 14 =>
        val s = String.format(Locale.ROOT, "%.1f", Double.box(x)); (s + "%", Some(s.toDouble))
      case k if k < 17 =>
        val s = String.format(Locale.ROOT, "%.1f", Double.box(math.abs(x) * 40)); (s + "K", Some(s.toDouble * 1e3))
      case k if k < 19 =>
        val s = String.format(Locale.ROOT, "%.2f", Double.box(math.abs(x))); (s + "M", Some(s.toDouble * 1e6))
      case _ => ("", None)
    }
  }

  private def text(s: String): String = if (s.isEmpty) "N/A" else s

  private def csvLine(fields: Seq[String]): String =
    fields.map(f => "\"" + f.replace("\"", "\"\"") + "\"").mkString(",")

  private def rawLine(rel: Release, actualRaw: String, forecastRaw: String,
                      previousRaw: String, r: SplittableRandom): String = {
    val weekStart = rel.date.minusDays(rel.date.getDayOfWeek.getValue - 1L)
    csvLine(Seq(renderDate(rel.date, r), renderTime(rel.hour, rel.minute, r),
      rel.currency, rel.event, rel.impact, actualRaw, forecastRaw, previousRaw,
      if (r.nextInt(10) == 0) "True" else "False",
      s"$weekStart - ${weekStart.plusDays(6)}"))
  }

  private val impacts = Seq("High", "Medium", "Low")

  /** A new release on a date drawn by `day`, unique within `taken`. */
  private def release(day: SplittableRandom => LocalDate, r: SplittableRandom,
                      taken: mutable.Set[(LocalDate, Int, Int, String, String)])
      : (Release, String, String, String) = {
    var rel: Release = null
    var raws: (String, String, String) = null
    while (rel == null) {
      val (c, e) = zipfKey(r)
      val d = day(r)
      val (h, mi) = (r.nextInt(24), r.nextInt(12) * 5)
      if (taken.add((d, h, mi, c, e))) {
        val (a, v) = numeric(r); val (f, _) = numeric(r); val (p, _) = numeric(r)
        rel = Release(d, h, mi, c, e, impacts(r.nextInt(3)), text(a), text(f), text(p), v)
        raws = (a, f, p)
      }
    }
    (rel, raws._1, raws._2, raws._3)
  }

  def monthStart(m: Int): LocalDate = base.plusMonths(m.toLong)

  /** Month `m`'s file: (CSV lines, kept releases). `prior` holds earlier
    * months' releases, the pool that revisions are drawn from; `withNoise`
    * adds revisions, late rows and unparseable rows. */
  def month(m: Int, prior: IndexedSeq[Release], withNoise: Boolean)
      : (Seq[String], Seq[Release]) = {
    val r = new SplittableRandom(seed * 1000003L + m)
    val taken = mutable.Set[(LocalDate, Int, Int, String, String)]()
    val start = monthStart(m)
    val inMonth = (x: SplittableRandom) =>
      start.plusDays(x.nextInt(start.lengthOfMonth()).toLong)
    val kept = ArrayBuffer[Release](); val lines = ArrayBuffer[String]()
    for (_ <- 0 until rowsPerMonth) {
      val (rel, a, f, p) = release(inMonth, r, taken)
      kept += rel; lines += rawLine(rel, a, f, p, r)
    }
    if (withNoise) {
      def count(share: Double) = math.round(rowsPerMonth * share).toInt
      for (_ <- 0 until count(revisionShare) if prior.nonEmpty) {
        val old = prior(prior.size - 1 - r.nextInt(math.min(prior.size, 2 * rowsPerMonth)))
        val (a, _) = numeric(r)
        lines += rawLine(old.copy(actual = text(a)), a, old.forecast, old.previous, r)
      }
      for (_ <- 0 until count(lateShare)) {
        // at least 45 days before the month: older than any watermark
        // the stream can hold after the previous month
        val (rel, a, f, p) = release(x => start.minusDays(45L + x.nextInt(30)), r, taken)
        lines += rawLine(rel, a, f, p, r)
      }
      for (_ <- 0 until count(junkShare)) {
        val (rel, a, f, p) = release(inMonth, r, taken)
        lines += csvLine(Seq("TBD", rel.hour + ":00", rel.currency, rel.event,
          rel.impact, a, f, p, "False", ""))
      }
    }
    (shuffle(lines.toIndexedSeq, r), kept.toSeq)
  }
}

/** `monthly_refresh`: the reference's monthly job, closed loop, one client.
  * `graft.Serve` runs in-process on an ephemeral port over the snapshot's
  * projection onto the pipeline schema. Each operation lands one month of
  * raw CSV, drains it through the streaming ingest into the bucketed
  * snapshot, probes `/health`, and then calls `/train`, `/validate` and
  * `/test` in turn, as the reference's automation client calls its
  * service; behind them run `Pipeline.run` and `Pipeline.automate`. */
final class Refresh(spark: SparkSession, seed: Long, out: Path) extends Workload {
  val historyMonths = 6
  val buckets = 8
  val gen = new RefreshGen(seed, rowsPerMonth = 400, zipfS = 1.1,
    revisionShare = 0.05, lateShare = 0.03, junkShare = 0.01)
  /** The trained predictor; validate and test must grade the same one.
    * Threshold 14 matches the registered `pipeline_e2e_routed` oracle. */
  val body = """{"predictor": "routed", "MODEL_THRESHOLD": 14}"""
  private val key = Seq("Date", "Time", "Currency", "Event")

  private val dir = out.resolve("refresh")
  /** Each operation's month: file name, CSV lines, kept releases. */
  private val months = ArrayBuffer[(String, Seq[String], Seq[Release])]()
  private var nextOp = 0
  /** Releases landed so far: the snapshot the stream must hold. */
  private val releases = ArrayBuffer[Release]()
  private var server: HttpServer = _
  private val http = HttpClient.newHttpClient()
  private val json = new ObjectMapper()
  private val errors = ArrayBuffer[String]()

  def params: ListMap[String, Any] = ListMap(
    "seed" -> seed, "history_months" -> historyMonths,
    "rows_per_month" -> gen.rowsPerMonth, "snapshot_buckets" -> buckets,
    "keys" -> gen.currencies.size * gen.events.size, "zipf_s" -> gen.zipfS,
    "revision_share" -> gen.revisionShare, "late_share" -> gen.lateShare,
    "junk_share" -> gen.junkShare, "request_body" -> body, "clients" -> 1)

  private def landing = dir.resolve("landing")
  private def table = dir.resolve("snapshot").toString
  private def checkpoint = dir.resolve("checkpoint").toString
  private def outDir = dir.resolve("pipeline").toString

  private def stage(name: String, lines: Seq[String]): Unit =
    Main.writeFile(dir.resolve("staging").resolve(name), lines.mkString("", "\n", "\n"))

  /** Move a staged file into the landing directory in one rename, so the
    * file source never lists a partial file. */
  private def land(name: String): Unit = {
    Files.createDirectories(landing)
    Files.move(dir.resolve("staging").resolve(name), landing.resolve(name),
      StandardCopyOption.ATOMIC_MOVE)
  }

  private def drain(tracer: Tracer): Unit =
    tracer.span("StreamingIngest.drain") { s =>
      val q = StreamingIngest.runToBucketedSnapshot(
        StreamingIngest.cleanedStream(spark, landing.toString), table,
        checkpoint, key, orderCol = "EventTime", nBuckets = buckets)
      s.group = q.runId.toString
      q.awaitTermination()
      q.exception.foreach(e => throw e)
    }

  /** A snapshot in the pipeline's events schema. */
  def projected(snapshot: String = table): DataFrame =
    Sinks.readBucketedSnapshot(spark, snapshot).select(
      xxhash64(col("Date"), col("Time"), col("Currency"), col("Event")).as("event_id"),
      col("EventTime").cast("timestamp_ntz").as("ts"),
      xxhash64(col("Currency")).as("user_id"),
      col("Event").as("event_type"),
      cleaning.parseNumeric(col("Actual")).as("value"))

  /** One request to the service; true when it answered 200 with a JSON
    * object that has no `error` key (Serve reports failures as data). */
  private def request(endpoint: String): Boolean = {
    val b = HttpRequest.newBuilder(
      URI.create(s"http://localhost:${server.getAddress.getPort}/$endpoint"))
    val req = if (endpoint == "health") b.GET().build()
      else b.POST(HttpRequest.BodyPublishers.ofString(body)).build()
    val (code, text) =
      try { val r = http.send(req, HttpResponse.BodyHandlers.ofString()); (r.statusCode, r.body) }
      catch { case e: java.io.IOException => (-1, e.toString) }
    val ok = code == 200 && (try {
      val node = json.readTree(text)
      node != null && node.isObject && !node.has("error")
    } catch { case _: Exception => false })
    if (!ok && errors.size < 5) errors += s"/$endpoint $code $text"
    ok
  }

  /** The monthly job after the drain: health probe, then the three stages,
    * each stopping the chain when it fails. */
  private def stages(tracer: Tracer): Boolean =
    tracer.span("Serve.health")(_ => request("health")) &&
      Seq("train", "validate", "test").forall(st =>
        tracer.span(s"Pipeline.$st")(_ => request(st)))

  /** The history and every operation's month; revisions are drawn from
    * the releases of all earlier months. */
  def generate(ops: Int): Unit = {
    Main.deleteTree(dir)
    val prior = ArrayBuffer[Release]()
    val lines = ArrayBuffer[String]()
    for (m <- 0 until historyMonths) {
      val (ls, kept) = gen.month(m, prior.toIndexedSeq, withNoise = false)
      lines ++= ls; prior ++= kept
    }
    stage("history.csv", lines.toSeq)
    releases ++= prior
    for (m <- historyMonths until historyMonths + ops) {
      val (ls, kept) = gen.month(m, prior.toIndexedSeq, withNoise = true)
      val name = f"month-$m%03d.csv"
      stage(name, ls)
      months += ((name, ls, kept)); prior ++= kept
    }
  }

  /** Start the service, drain the history and run the monthly job's
    * stages twice: the first run creates the published tables, the second
    * replaces them as every operation does. Without the second, the first
    * timed refresh took up to 40% longer than the next one. */
  def preload(): Unit = {
    server = Serve.start(spark, () => projected(), outDir, port = 0)
    val tracer = new Tracer(spark)
    land("history.csv")
    drain(tracer)
    for (_ <- 0 until 2) require(stages(tracer), s"preload failed: ${errors.mkString("; ")}")
  }

  def op(tracer: Tracer, opId: Int): OpResult = {
    val (name, lines, kept) = months(nextOp)
    nextOp += 1
    val t = System.nanoTime()
    val ok = tracer.span("op", opId) { _ =>
      land(name)
      drain(tracer)
      stages(tracer)
    }
    val ms = (System.nanoTime() - t) / 1e6
    releases ++= kept
    // untimed: keep what this refresh ran on and what it published, for
    // the oracle check (plain file copies, so that no Spark job of ours
    // reaches the traced phase's listeners)
    Main.copyTree(Paths.get(table), oracleDir(opId).resolve("snapshot"))
    Main.copyTree(Paths.get(outDir, "train_metrics"), oracleDir(opId).resolve("train_metrics"))
    OpResult(ms, ok, lines.size.toLong)
  }

  private def oracleDir(opId: Int) = out.resolve(f"oracle/refresh-$opId%02d")

  def checks(): Seq[Check] = {
    val requests = Check("responses_parsed_no_error_bodies", errors.isEmpty,
      errors.mkString(" | "))
    // the snapshot with its parsed value, in the generator's line form
    val got = Sinks.readBucketedSnapshot(spark, table)
      .select(col("Date").cast("string"), col("Time"), col("Currency"),
        col("Event"), col("Impact"), col("Actual"), col("Forecast"),
        col("Previous"), cleaning.parseNumeric(col("Actual")))
      .collect().map { r =>
        (0 until 8).map(r.getString).mkString("|") + "|" +
          (if (r.isNullAt(8)) "null" else java.lang.Double.toString(r.getDouble(8)))
      }.toSeq.sorted
    val want = releases.map(_.line).toSeq.sorted
    def digest(xs: Seq[String]): String = {
      val md = java.security.MessageDigest.getInstance("SHA-256")
      xs.foreach(x => md.update((x + "\n").getBytes("UTF-8")))
      md.digest().map("%02x".format(_)).mkString
    }
    val (dg, dw) = (digest(got), digest(want))
    val snapshot = Check("snapshot_rows_and_checksum", dg == dw,
      s"rows ${got.size} vs expected ${want.size}; sha256 ${dg.take(16)} vs ${dw.take(16)}" +
        (if (dg == dw) "" else s"; missing ${want.diff(got).take(2).mkString(" / ")}" +
          s"; unexpected ${got.diff(want).take(2).mkString(" / ")}"))
    // inputs of the DuckDB oracle checks: the events each refresh trained
    // on, projected as Serve projects them, and the metrics it published
    val oracles = (1 to nextOp).map { opId =>
      val d = oracleDir(opId)
      projected(d.resolve("snapshot").toString).write.parquet(d.resolve("events").toString)
      ListMap("query" -> "pipeline_e2e_routed", "label" -> s"refresh$opId",
        "sql" -> graft.SparkEntry.oracleSql("pipeline_e2e_routed"),
        "tables" -> ListMap("events" -> d.resolve("events").toString),
        "engine_output" -> d.resolve("train_metrics").toString)
    }
    Main.writeFile(out.resolve("oracle/oracle.json"), Json.render(oracles))
    Seq(requests, snapshot)
  }

  override def close(): Unit = if (server != null) server.stop(0)
}
