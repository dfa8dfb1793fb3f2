package flubench

import java.io.{BufferedReader, InputStreamReader}
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.security.MessageDigest

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.{Canary, GraftSession, SparkEntry, Tables}
import graft.flu.{FluApi, FluFeeds, FluOps, FluReports, FluSchemas}
import graft.sources.{Fetch, Sinks}

/** One benchmark run in one JVM. The benchmark script (`run.py`) makes the
  * inputs, starts this main, drives the HTTP load for `flu_serve`, runs
  * the output gates and turns the raw timings written to
  * `<dir>/result.json` into metrics.
  *
  * Usage: Harness --workload flu_serve|engine_loops --dir <work>
  *          --trace 0|1 --ops <warm loop passes> --golden 0|1
  */
object Harness {

  val FluTables: Seq[String] =
    Seq("county_region", "temporal", "illness", "healthcare", "historics")

  val LoopQueries: Seq[String] =
    Seq("q198_kcore", "q199_label_propagation", "q209_sssp", "q226_hyperball")

  /** Set-ups per run; `setup_s` is their median. */
  val SetupReps = 5

  /** The engine's golden flu fixtures, relative to the checkout root. */
  val Resources: Path = Paths.get("src/test/resources")

  final case class Conf(workload: String, dir: Path, ops: Int, trace: Boolean,
                        golden: Boolean)

  type Record = mutable.LinkedHashMap[String, Any]

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val conf = Conf(kv("workload"), Paths.get(kv("dir")), kv("ops").toInt, kv("trace") == "1",
      kv("golden") == "1")
    val rec: Record = mutable.LinkedHashMap()
    val tracer = new Tracer
    rec("stamp") = Map(
      "nproc" -> Runtime.getRuntime.availableProcessors,
      "spark_graft_cpus" -> sys.env.get("SPARK_GRAFT_CPUS"),
      "driver_max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}",
      "spark_local_dir" -> GraftSession.fastLocalDir,
      "spark_version" -> org.apache.spark.SPARK_VERSION)
    conf.workload match {
      case "flu_serve" => serve(conf, rec, tracer)
      case "engine_loops" => loops(conf, rec, tracer)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    rec("peak_rss_mb") = peakRssMb()
    Files.write(conf.dir.resolve("result.json"), Json.encode(rec).getBytes(UTF_8))
    tracer.dump(conf.dir.resolve("spans.jsonl"))
  }

  // ------------------------------------------------------------ common

  def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** Builds the session and runs the workload's `setup` [[SetupReps]] times,
    * tearing the previous copy down first, and records each round's
    * session-create and total time. The last copy is returned live.
    */
  def setUp[A](rec: Record)(setup: SparkSession => A)(
      teardown: A => Unit): (SparkSession, A) = {
    val create, total = mutable.Buffer[Double]()
    var live: Option[(SparkSession, A)] = None
    for (_ <- 1 to SetupReps) {
      live.foreach { case (s, a) => teardown(a); s.stop() }
      val t0 = System.nanoTime()
      val spark = GraftSession.create(appName = "flubench")
      val t1 = System.nanoTime()
      val a = setup(spark)
      create += (t1 - t0) / 1e9
      total += (System.nanoTime() - t0) / 1e9
      live = Some((spark, a))
    }
    rec("session_create_s") = create.toSeq
    rec("setup_s") = total.toSeq
    live.get
  }

  /** Rounds of a traced run, in ABBA order: untraced, traced, traced,
    * untraced. A warm-up trend then falls on both sides of the tracing
    * overhead estimate alike.
    */
  val TracedRounds: Seq[Boolean] = Seq(false, true, true, false)

  /** The timed window of `engine_loops`: `conf.ops` warm passes, or in a
    * traced run one pass per [[TracedRounds]] entry, the traced ones
    * with spans and the listener on.
    */
  def measure(conf: Conf, rec: Record, spark: SparkSession, tracer: Tracer,
              listener: LayerListener)(op: => Double): Unit =
    if (!conf.trace) {
      val (ops, wall) = timed(Seq.fill(conf.ops)(op))
      rec("ops_s") = ops
      rec("window_s") = wall
    } else {
      val plain, traced = mutable.Buffer[Double]()
      var counters = Counters.Zero
      for (on <- TracedRounds) {
        if (!on) plain += op
        else {
          spark.sparkContext.addSparkListener(listener)
          val base = listener.snapshot(spark)
          tracer.enabled = true
          traced += op
          tracer.enabled = false
          counters = counters + (listener.snapshot(spark) - base)
          spark.sparkContext.removeSparkListener(listener)
        }
      }
      rec("counters") = counters.toMap
      rec("ops_s") = plain.toSeq
      rec("traced_ops_s") = traced.toSeq
    }

  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024 }
      .getOrElse(0.0)

  def md5(s: String): String =
    MessageDigest.getInstance("MD5").digest(s.getBytes(UTF_8)).map("%02x".format(_)).mkString

  // --------------------------------------------------- the DAG (ETL)

  /** Snapshot transport over the three feed files in `dir`. */
  def feedTransport(dir: Path): Fetch.Transport = {
    def body(name: String) = new String(Files.readAllBytes(dir.resolve(name)), UTF_8)
    Fetch.snapshots(Map(
      FluFeeds.rhinoUrl -> body("rhino.csv"),
      FluFeeds.censusUrl -> body("census.csv"),
      Fetch.withQuery(FluFeeds.fluviewUrl, FluFeeds.fluviewParams) -> body("fluview.json")))
  }

  /** The paper's DAG, one pass per call: feeds → five tables → five
    * parquet writes → PK/FK gate. Each pass writes to its own directory
    * so the row-count gate can read every pass afterwards.
    */
  final class EtlPasses(spark: SparkSession, transport: Fetch.Transport,
                        root: Path, tracer: Tracer) {
    val records = mutable.Buffer[Map[String, Any]]()

    def pass(): Double = {
      val dir = root.resolve(f"pass-${records.size + 1}%03d")
      tracer.request = records.size + 1L
      val (violations, seconds) = timed(tracer.span("etl.pass") {
        val tables = tracer.span("fluops.build")(FluFeeds.buildFromFeeds(spark, transport))
        FluTables.foreach(t =>
          tracer.span(s"fluops.$t")(Sinks.parquet(tables(t), dir.resolve(t).toString)))
        tracer.span("gate.constraints")(FluOps.constraintViolations(tables))
      })
      records += Map("dir" -> dir.toString, "seconds" -> seconds, "violations" -> violations)
      seconds
    }
  }

  /** Golden parity at 1×: `feeds_golden` must rebuild the five golden
    * tables (doubles exact, healthcare's means at 1e-12 relative).
    * Returns the number of mismatching rows per table.
    */
  def goldenMismatches(spark: SparkSession): Map[String, Long] = {
    val built = FluFeeds.buildFromFeeds(spark, feedTransport(Resources.resolve("feeds_golden")))
    val goldens = Seq(
      "county_region" -> ("county_region", FluSchemas.countyRegion),
      "temporal" -> ("temporal", FluSchemas.temporal),
      "illness" -> ("illness", FluSchemas.illness),
      "healthcare" -> ("healthcare", FluSchemas.healthcare),
      "historics" -> ("historic_flu", FluSchemas.historics))
    def canon(df: DataFrame): Seq[Seq[Any]] =
      df.collect().toSeq.map(_.toSeq).sortBy(_.map(String.valueOf).mkString("\u0000"))
    goldens.map { case (table, (file, schema)) =>
      val relTol = if (table == "healthcare") 1e-12 else 0.0
      def same(x: Any, y: Any): Boolean = (x, y) match {
        case (a: Double, b: Double) =>
          java.lang.Double.compare(a, b) == 0 ||
            math.abs(a - b) <= relTol * math.max(math.abs(a), math.abs(b))
        case _ => String.valueOf(x) == String.valueOf(y)
      }
      val expected = spark.read.option("header", "true").schema(schema)
        .csv(Resources.resolve(s"golden/$file.csv").toString)
      val (a, e) = (canon(built(table)), canon(expected))
      val bad =
        if (a.length != e.length) math.max(a.length, e.length)
        else a.zip(e).count { case (x, y) =>
          !(x.length == y.length && x.zip(y).forall((same _).tupled)) }
      table -> bad.toLong
    }.toMap
  }

  // --------------------------------------------------------- flu_serve

  def httpGet(port: Int, path: String): Int =
    HttpClient.newHttpClient().send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path")).build(),
      HttpResponse.BodyHandlers.discarding()).statusCode()

  /** One round of direct `FluReports` calls, traced: each report once
    * and an export of every table, planning (forcing the executed plan)
    * and execution (collect) apart. Returns (name, plan ms, exec ms).
    */
  def direct(spark: SparkSession, tracer: Tracer): Seq[(String, Double, Double)] = {
    val calls: Seq[(String, () => DataFrame)] = Seq(
      "weekly" -> (() => FluReports.formatWeeklyTrends(FluReports.weeklyTrends(spark))),
      "healthcare" -> (() =>
        FluReports.formatHealthcareImpact(FluReports.healthcareImpact(spark))),
      "historical" -> (() =>
        FluReports.formatHistoricalSummary(FluReports.historicalSummary(spark))),
      "health" -> (() => spark.sql("SELECT 1"))) ++
      FluTables.map(t => "export" -> (() => FluReports.exportTable(spark, t)))
    tracer.enabled = true
    val out = calls.map { case (name, mk) =>
      val (df, plan) = timed(tracer.span(s"reports.$name.plan") {
        val df = mk()
        df.queryExecution.executedPlan
        df
      })
      val (_, exec) = timed(tracer.span(s"reports.$name.exec")(df.collect()))
      (name, plan * 1e3, exec * 1e3)
    }
    tracer.enabled = false
    out
  }

  /** The paper's pipeline. The DAG runs first, cold: one ETL pass loads
    * the five tables (its time is the run's `cold_s`). Traced, one warm
    * traced pass and an ingest probe follow. Then the dashboard API is
    * set up over the loaded tables; it prints `@@READY <port>` and
    * answers line commands on stdin: LISTEN / UNLISTEN bracket traced
    * load, DIRECT runs one round of the reports without HTTP, STOP ends
    * the load. Golden parity, when asked for, runs last, outside every
    * timed region.
    */
  def serve(conf: Conf, rec: Record, tracer: Tracer): Unit = {
    rec("sqls") = Map("weekly" -> FluReports.weeklyTrendsSql,
      "healthcare" -> FluReports.healthcareImpactSql,
      "historical" -> FluReports.historicalSummarySql)
    val etlSpark = GraftSession.create(appName = "flubench")
    val transport = feedTransport(conf.dir.resolve("feeds"))
    val passes = new EtlPasses(etlSpark, transport, conf.dir.resolve("etl"), tracer)
    rec("cold_s") = passes.pass()
    if (conf.trace) {
      tracer.enabled = true
      passes.pass()
      // FluFeeds' three readers plus the first action on each
      val probes = (1 to 3).map(_ => timed(tracer.span("ingest.parse") {
        Seq(FluFeeds.rhino(etlSpark, transport), FluFeeds.census(etlSpark, transport),
          FluFeeds.fluview(etlSpark, transport)).map(_.count()).sum
      }))
      tracer.enabled = false
      rec("ingest") = Map("parse_s" -> probes.map(_._2), "rows" -> probes.head._1)
    }
    rec("passes") = passes.records.toSeq
    etlSpark.stop()
    val tables = Paths.get(passes.records.head("dir").toString)

    val (spark, server) = setUp(rec) { s =>
      FluTables.foreach(t => s.read.parquet(tables.resolve(t).toString).createOrReplaceTempView(t))
      val server = FluApi.start(s, 0)
      val status = httpGet(server.getAddress.getPort, "/health")
      require(status == 200, s"/health answered $status")
      server
    }(_.stop(0))

    def reply(s: String): Unit = { println(s); Console.out.flush() }
    reply(s"@@READY ${server.getAddress.getPort}")
    val in = new BufferedReader(new InputStreamReader(System.in, UTF_8))
    val listener = new LayerListener
    var (base, traced) = (Counters.Zero, Counters.Zero)
    val directs = mutable.Buffer[(String, Double, Double)]()
    var line = in.readLine()
    while (line != null && line != "STOP") {
      line match {
        case "LISTEN" =>
          spark.sparkContext.addSparkListener(listener)
          base = listener.snapshot(spark)
        case "UNLISTEN" =>
          traced = traced + (listener.snapshot(spark) - base)
          spark.sparkContext.removeSparkListener(listener)
        case "DIRECT" => directs ++= direct(spark, tracer)
        case other => throw new IllegalArgumentException(s"unknown command $other")
      }
      reply("@@OK")
      line = in.readLine()
    }
    server.stop(0)
    if (conf.trace) {
      rec("counters") = traced.toMap
      rec("direct") = directs.groupBy(_._1).map { case (name, xs) =>
        name -> Map("plan_ms" -> xs.map(_._2), "exec_ms" -> xs.map(_._3)) }
    }
    if (conf.golden) rec("golden_mismatches") = goldenMismatches(spark)
    spark.stop()
  }

  // ------------------------------------------------------ engine_loops

  def loops(conf: Conf, rec: Record, tracer: Tracer): Unit = {
    val dir = conf.dir.resolve("tables").toString
    val loads = mutable.Buffer[Double]()
    val (spark, _) = setUp(rec) { s =>
      loads += timed(Tables.names.foreach(Tables.load(s, dir, _)))._2
    }(_ => ())
    rec("tables_load_s") = loads.toSeq

    val queries = SparkEntry.queries
    val listener = new LayerListener
    val digests = mutable.Buffer[Map[String, String]]()
    val perQuery = mutable.Buffer[Map[String, Any]]()
    val passQueries = mutable.Buffer[Map[String, Double]]()
    val last = mutable.LinkedHashMap[String, (Array[String], Array[Row])]()
    def pass(): Double = {
      tracer.request = digests.size + 1L
      var total = 0.0
      val seconds = mutable.LinkedHashMap[String, Double]()
      val digest = mutable.LinkedHashMap[String, String]()
      for (q <- LoopQueries) {
        val before = if (tracer.enabled) Some(listener.snapshot(spark)) else None
        val (df, build) = timed(tracer.span(s"loops.$q.build")(queries(q)(spark, dir)))
        val (rows, action) = timed(tracer.span(s"loops.$q.action")(df.collect()))
        total += build + action
        seconds(q) = build + action
        before.foreach { c0 =>
          val d = listener.snapshot(spark) - c0
          perQuery += Map("query" -> q, "build_s" -> build, "action_s" -> action,
            "jobs" -> d.jobs, "shuffle_write_mb" -> d.shuffleWriteBytes / 1048576.0)
        }
        digest(q) = md5(rows.map(_.mkString("\u0001")).mkString("\n"))
        last(q) = (df.columns, rows)
        // same per-query cleanup as the engine's Bench: drop the loop's
        // local checkpoints before the next query
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
        spark.sharedState.cacheManager.clearCache()
      }
      digests += digest.toMap
      passQueries += seconds.toMap
      total
    }
    rec("cold_s") = pass()
    measure(conf, rec, spark, tracer, listener)(pass())
    rec("digests") = digests.toSeq
    rec("per_query") = perQuery.toSeq
    rec("pass_query_s") = passQueries.toSeq
    rec("oracle_sql") = LoopQueries.map(q => q -> SparkEntry.oracleSql(q)).toMap
    val fingerprint = Canary.check(spark, dir)
    rec("canary") = Map("rows" -> fingerprint.rows,
      "ts_min_year" -> fingerprint.tsMinYear, "ts_max_year" -> fingerprint.tsMaxYear)
    val out = conf.dir.resolve("results")
    Files.createDirectories(out)
    for ((q, (cols, rows)) <- last)
      Files.write(out.resolve(s"$q.jsonl"),
        (Json.encode(cols) +: rows.toSeq.map(r => Json.encode(r.toSeq)))
          .mkString("", "\n", "\n").getBytes(UTF_8))
    spark.stop()
  }
}
