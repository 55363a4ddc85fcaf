package perfbench

import graft.analytics.Caches
import graft.ingest.RawJsonReader
import graft.pipeline.LogisticsPipeline
import graft.schemas.Schemas
import graft.streaming.StreamingPipeline
import org.apache.spark.perfbench.Internals
import org.apache.spark.sql.SparkSession

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One benchmark process: sets up a session the way `graft.Bench`
  * does, runs one workload's timed body on inputs `run.py` generated,
  * checks the JVM-side outputs, and writes a JSON report for `run.py`.
  *
  * Arguments (`--key value`): `workload`, `work` (scratch directory),
  * `seconds` (measurement window of each phase), `trace` (`none`, or
  * `alt` to trace every other operation so the untraced ones give the
  * tracing overhead), `cpus`, `report` (output file), and per workload
  * `raw` + `records` + `warmup-runs` (etl batch phase: the raw layer,
  * its record count, untimed pipeline runs before the window),
  * `staging` + `batch-size` + `warmup-batches` + `min-batches` (etl
  * micro-batch phase: the files to land, their size, untimed batches
  * before the window, fewest batches in it), `tables` + `queries` +
  * `cold` (board_mix: the first `cold` queries are the corpus queries).
  */
object Main {

  /** One timed operation: a pipeline run, a micro-batch or a query. */
  final case class Op(name: String, round: Int, start: Long, seconds: Double,
      traced: Boolean, stats: Map[String, Double] = Map.empty)

  final class Run(val o: Map[String, String]) {
    val work: String = o("work")
    val seconds: Double = o("seconds").toDouble
    val cpus: Int = o("cpus").toInt
    val ops = mutable.ArrayBuffer.empty[Op]
    val failures = mutable.ArrayBuffer.empty[String]
    var attempted = 0
    val layers = mutable.LinkedHashMap.empty[String, Double]
    var spark: SparkSession = _
    /** One tracer per kind of operation (`pipeline`, `stream`, `query`),
      * so each kind's jobs and planning times are read apart. */
    val tracers = mutable.LinkedHashMap.empty[String, Tracer]
    def tracer(kind: String): Tracer = tracers.getOrElseUpdate(kind, new Tracer(spark))

    /** Under `alt` tracing, every other round is traced. */
    def traced(i: Int): Boolean = o("trace") == "alt" && i % 2 == 1

    /** Runs `body` as one operation, under `kind`'s tracer when `tr`. */
    def op[T](tr: Boolean, kind: String)(body: => T): (T, Double, Boolean) = {
      def timed = { val s = System.nanoTime(); val v = body; (v, (System.nanoTime() - s) / 1e9) }
      val (v, dt) = if (tr) tracer(kind).around(timed) else timed
      (v, dt, tr)
    }

    def fail(msg: String): Unit = {
      System.err.println(s"[perfbench] FAILED $msg")
      failures += msg
    }
  }

  def main(argv: Array[String]): Unit = {
    val o = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val run = new Run(o)
    val setup = setUp(run)
    o("workload") match {
      case "etl"       => etlBatch(run); etlMicrobatch(run)
      case "board_mix" => queries(run)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    if (o("trace") != "none") commonLayers(run)
    writeReport(run, setup)
    run.spark.stop()
  }

  private def session(run: Run): SparkSession = SparkSession.builder()
    .master(s"local[${run.cpus}]")
    .config("spark.sql.shuffle.partitions", run.cpus.toString)
    .config("spark.buffer.pageSize", "4m")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
    .config("spark.local.dir", s"${run.work}/spark-local")
    .getOrCreate()

  /** Three set-ups (session ready + warm-up job); the first counts from
    * JVM start, the later ones from a stopped session. The last session
    * is the one the workload runs on. */
  private def setUp(run: Run): Seq[Double] = {
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    (0 until 3).map { i =>
      if (run.spark != null) run.spark.stop()
      val t0 = System.nanoTime()
      run.spark = session(run)
      run.spark.sparkContext.setLogLevel("WARN")
      run.spark.range(1000000).selectExpr("sum(id % 7)").collect()
      if (i == 0) (System.currentTimeMillis() - jvmStart) / 1e3
      else (System.nanoTime() - t0) / 1e9
    }
  }

  private def files(dir: String): Seq[File] = {
    val d = Paths.get(dir)
    if (!Files.exists(d)) Nil
    else {
      val s = Files.walk(d)
      try s.iterator().asScala.map(_.toFile).filter(_.isFile).toList finally s.close()
    }
  }

  private def dataFiles(dir: String): Seq[File] =
    files(dir).filter(f => f.getName.startsWith("part-"))

  private def delete(dir: String): Unit =
    org.apache.commons.io.FileUtils.deleteQuietly(new File(dir))

  /** Seconds since the call, as a function. */
  private def clock(): () => Double = {
    val t0 = System.nanoTime()
    () => (System.nanoTime() - t0) / 1e9
  }

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  // ------------------------------------------------------------ etl: batch

  /** `LogisticsPipeline.run` over the landed raw layer, once per round
    * into a fresh output root, until the window closes. */
  private def etlBatch(run: Run): Unit = {
    val spark = run.spark
    val raw = run.o("raw")
    val records = run.o("records").toLong
    val rawBytes = files(raw).map(_.length).sum.toDouble
    warmUp(run.o("warmup-runs").toInt)(w => {
      LogisticsPipeline.run(spark, raw, s"${run.work}/out/warm$w")
      delete(s"${run.work}/out/warm$w")
    })
    val elapsed = clock()
    val extra = mutable.ArrayBuffer.empty[Map[String, Double]]
    var i = 0
    while (i < minRounds(run) || elapsed() < run.seconds) {
      val out = s"${run.work}/out/r$i"
      val start = System.currentTimeMillis()
      run.attempted += 1
      try {
        val (res, dt, tr) = run.op(run.traced(i), "pipeline")(LogisticsPipeline.run(spark, raw, out))
        val lineage = spark.read.parquet(s"$out/validated").collect()
          .map(r => r.getAs[String]("layer") -> r.getAs[Long]("record_count")).toMap
        def rows(layer: String) =
          if (Files.exists(Paths.get(s"$out/$layer"))) spark.read.parquet(s"$out/$layer").count() else 0L
        val (curated, rejected) = (rows("curated"), rows("rejected"))
        val ok = lineage.get("raw").contains(records) &&
          lineage("raw") == lineage("curated") + lineage("rejected") &&
          curated == lineage("curated") && rejected == lineage("rejected") &&
          res.geStatus == "PASSED"
        if (!ok) run.fail(s"etl pipeline round $i: lineage $lineage, curated files $curated, " +
          s"rejected files $rejected, expected raw $records, GE ${res.geStatus}")
        run.ops += Op("pipeline", i, start, dt, tr)
        if (tr) {
          val out0 = dataFiles(out)
          def noop(df: org.apache.spark.sql.DataFrame): Double = {
            val s = System.nanoTime()
            df.write.format("noop").mode("overwrite").save()
            (System.nanoTime() - s) / 1e9
          }
          val parse = noop(RawJsonReader.read(spark, raw, Schemas.telemetry))
          val validate = noop(LogisticsPipeline.validateStage(
            RawJsonReader.read(spark, raw, Schemas.telemetry)))
          extra += Map(
            "ingest.parse_s" -> parse,
            "rules.validate_s" -> (validate - parse),
            "ingest.input_partitions" ->
              RawJsonReader.read(spark, raw, Schemas.telemetry).rdd.getNumPartitions.toDouble,
            "ingest.files" -> files(raw).size.toDouble,
            "rules.reject_share" -> lineage("rejected").toDouble / lineage("raw"),
            "sinks.files_out" -> out0.size.toDouble,
            "sinks.bytes_out_per_byte_in" -> out0.map(_.length).sum / rawBytes)
        }
      } catch { case e: Exception => run.fail(s"etl pipeline round $i: ${e.getMessage}") }
      delete(out)
      i += 1
    }
    run.layers ++= medianOf(extra.toSeq)
  }

  /** Runs `round` untimed `rounds` times, so the measured rounds start
    * after the JIT has compiled the hot paths. A count, not a time: the
    * rounds keep getting faster well past the warm-up, so every run has
    * to measure the same stretch of that curve. */
  private def warmUp(rounds: Int)(round: Int => Unit): Unit = (0 until rounds).foreach(round)

  private def minRounds(run: Run): Int = if (run.o("trace") == "alt") 4 else 3

  private def medianOf(maps: Seq[Map[String, Double]]): Map[String, Double] =
    maps.flatMap(_.keys).distinct.map(k => k -> median(maps.flatMap(_.get(k)))).toMap

  // ------------------------------------------------------ etl: micro-batch

  /** A closed loop with one client: land one consumer file, drain it
    * with an AvailableNow `StreamingPipeline.run` on one checkpoint,
    * repeat. Latency runs from the file landing to the return of the
    * run that committed it. The window holds at least `min-batches`
    * batches and lasts at least `seconds`. */
  private def etlMicrobatch(run: Run): Unit = {
    val spark = run.spark
    val batchSize = run.o("batch-size").toLong
    val staged = new File(run.o("staging")).listFiles()
      .filter(_.getName.endsWith(".json")).sortBy(_.getName)
    val raw = s"${run.work}/landing"
    val out = s"${run.work}/stream-out"
    val ckpt = s"${run.work}/ckpt"
    Files.createDirectories(Paths.get(raw))
    var landed = 0
    def batch(): Double = {
      val f = staged(landed)
      Files.move(f.toPath, Paths.get(raw, f.getName), StandardCopyOption.ATOMIC_MOVE)
      landed += 1
      val t0 = System.nanoTime()
      val q = StreamingPipeline.run(spark, raw, out, ckpt)
      val started = (System.nanoTime() - t0) / 1e9
      q.awaitTermination()
      started
    }
    // the warm-up batches are checked with the rest
    warmUp(run.o("warmup-batches").toInt)(_ => batch())
    val elapsed = clock()
    var i = 0
    while ((i < run.o("min-batches").toInt || elapsed() < run.seconds) && landed < staged.length) {
      val start = System.currentTimeMillis()
      run.attempted += 1
      try {
        val (started, dt, tr) = run.op(run.traced(i), "stream")(batch())
        run.ops += Op("batch", i, start, dt, tr, Map("start_s" -> started))
      } catch { case e: Exception => run.fail(s"batch $i: ${e.getMessage}") }
      i += 1
    }
    // every landed file committed exactly once: one batch_id per run,
    // each holding exactly one consumer batch of rows
    val perBatch = Seq("curated", "rejected")
      .filter(l => Files.exists(Paths.get(s"$out/$l")))
      .map(l => spark.read.parquet(s"$out/$l").selectExpr("CAST(batch_id AS BIGINT) AS b"))
      .reduce(_ union _).groupBy("b").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val bad = (0L until landed).filterNot(b => perBatch.get(b).contains(batchSize)) ++
      perBatch.keys.filter(b => b < 0 || b >= landed)
    if (bad.nonEmpty) run.fail(s"etl micro-batches: ${bad.size} of $landed batches missing, " +
      s"duplicated or not $batchSize rows: ${bad.take(5).map(b => b -> perBatch.get(b))}")
    if (run.o("trace") != "none") {
      val t = run.tracer("stream")
      val traced = run.ops.filter(o => o.traced && o.name == "batch")
      def progress(k: String) = median(t.progress.toSeq.map(_.getOrElse(k, 0L).toDouble))
      run.layers ++= Seq(
        "streaming.start_s" -> median(traced.map(_.stats("start_s")).toSeq),
        "streaming.query_planning_ms" -> progress("queryPlanning"),
        "streaming.add_batch_ms" -> progress("addBatch"),
        "streaming.wal_commit_ms" -> progress("walCommit"),
        "streaming.commit_ms" -> progress("commitOffsets"),
        "streaming.latest_offset_ms" -> progress("latestOffset"),
        "streaming.jobs_per_batch" -> t.jobs.size.toDouble / traced.size,
        "streaming.job_busy_share" -> t.jobs.map(_.seconds).sum / traced.map(_.seconds).sum,
        "streaming.checkpoint_files" -> files(ckpt).size.toDouble,
        "streaming.out_files" -> dataFiles(out).size.toDouble)
    }
  }

  // --------------------------------------------------------------- board_mix

  /** board_mix: the corpus queries first, in a fixed order, each in the
    * same cold state every run (a fresh JVM), then the short board
    * queries in the given order. Each is built and then written to
    * parquet (an action that materializes every column), with caches
    * and session memos released in between as `graft.Bench` does.
    * One pass; under `alt` tracing a second pass of the short queries
    * follows and traced and untraced short queries alternate in a
    * checkerboard over the two passes, so each is measured both ways,
    * while the corpus queries run once, traced. */
  private def queries(run: Run): Unit = {
    val spark = run.spark
    val sc = spark.sparkContext
    val dir = run.o("tables")
    val (cold, short) = run.o("queries").split(",").toSeq.splitAt(run.o("cold").toInt)
    val board = graft.SparkEntry.queries
    val passes = Seq(cold ++ short) ++ (if (run.o("trace") == "alt") Seq(short) else Nil)
    for ((names, round) <- passes.zipWithIndex; name <- names) {
      val b = short.indexOf(name)
      val traced = run.o("trace") == "alt" && (b < 0 || (b + round) % 2 == 1)
      val out = s"${run.work}/out/$round/$name"
      run.attempted += 1
      try {
        // phase boundaries as epoch ms: jobs are assigned to a phase by
        // submission time, since builders also start jobs from their own
        // threads (streams, futures) that carry no caller properties
        val ((c0, c1, c2), dt, tr) = run.op(traced, "query") {
          val c0 = System.currentTimeMillis()
          val df = board(name)(spark, dir)
          val c1 = System.currentTimeMillis()
          df.write.mode("overwrite").parquet(out)
          (c0, c1, System.currentTimeMillis())
        }
        Internals.drain(sc)
        val starts = Internals.jobStarts(sc)
        def jobs(from: Long, to: Long) = starts.count(t => t >= from && t <= to).toDouble
        run.ops += Op(name, round, c0, dt, tr, Map(
          "construct_s" -> (c1 - c0) / 1e3, "action_s" -> (c2 - c1) / 1e3,
          "construct_jobs" -> jobs(c0, c1), "action_jobs" -> jobs(c1, c2),
          "c0" -> c0.toDouble, "c1" -> c1.toDouble, "c2" -> c2.toDouble,
          "tracked_after" -> Caches.trackedCount.toDouble,
          "memo_entries" -> memoEntries().toDouble))
      } catch { case e: Exception =>
        run.fail(s"$name (round $round): ${e.getMessage}")
        delete(out)
      } finally {
        Caches.release()
        Caches.releaseMemos()
        spark.catalog.clearCache()
      }
    }
    if (run.o("trace") != "none") {
      val traced = run.ops.filter(_.traced).toSeq
      val per = traced.size.toDouble / (cold.size + short.size)
      val t = run.tracer("query")
      def sum(k: String) = traced.map(_.stats(k)).sum / per
      run.layers ++= Seq(
        "construct.s" -> sum("construct_s"),
        "construct.jobs" -> sum("construct_jobs"),
        "construct.tasks" -> traced.map(q => t.jobs.filter(j =>
          j.start >= q.stats("c0") && j.start <= q.stats("c1")).map(_.tasks).sum).sum / per,
        "action.s" -> sum("action_s"),
        "action.jobs" -> sum("action_jobs"),
        "caches.tracked_after" -> traced.map(_.stats("tracked_after")).max,
        "caches.memo_entries" -> traced.map(_.stats("memo_entries")).max)
      traced.filter(q => cold.contains(q.name)).foreach { q =>
        run.layers += s"construct.${q.name}.s" -> q.stats("construct_s")
        run.layers += s"construct.${q.name}.jobs" -> q.stats("construct_jobs")
      }
    }
  }

  /** Live entries across every `Caches.SessionMemo`, read through the
    * registry `Caches.releaseMemos` walks (it has no public size). */
  private def memoEntries(): Int = {
    val f = Caches.getClass.getDeclaredFields.find(_.getName.endsWith("memos")).get
    f.setAccessible(true)
    f.get(Caches).asInstanceOf[java.util.Collection[Caches.SessionMemo[_]]]
      .asScala.map(_.size).sum
  }

  // ------------------------------------------------------------------ layers

  /** Layer metrics every workload reports from the jobs of its main
    * operations, per round: one pipeline run (`etl`; the micro-batches
    * have the `streaming.*` metrics), or one pass over the query list
    * (`board_mix`). */
  private def commonLayers(run: Run): Unit = {
    val (kind, traced, per) = run.o("workload") match {
      case "board_mix" =>
        val ops = run.ops.filter(_.traced)
        ("query", ops, ops.size.toDouble / run.o("queries").split(",").length)
      case _ =>
        val ops = run.ops.filter(o => o.traced && o.name == "pipeline")
        ("pipeline", ops, ops.size.toDouble)
    }
    val t = run.tracer(kind)
    t.attribute(run.ops.toSeq.collect { case o if o.stats.contains("c0") =>
      (o.name, o.stats("c0").toLong, o.stats("c2").toLong) })
    val jobs = t.jobs.toSeq
    val timed = Seq("expect" -> "expect.gate_s", "sinks" -> "sinks.write_s") ++
      (Layers.modules :+ "other").map(m => s"analytics.$m" -> s"analytics.$m.s")
    timed.foreach { case (layer, name) =>
      val js = jobs.filter(_.layer == layer)
      run.layers += name -> js.map(_.seconds).sum / per
      run.layers += s"${name.take(name.lastIndexOf('.'))}.jobs" -> js.size / per
    }
    val wall = traced.map(_.seconds).sum
    run.layers ++= Seq(
      "spark.jobs" -> jobs.size / per,
      "spark.tasks" -> jobs.map(_.tasks).sum / per,
      "spark.task_run_s" -> jobs.map(_.runMs).sum / 1e3 / per,
      "spark.task_cpu_s" -> jobs.map(_.cpuNs).sum / 1e9 / per,
      "spark.gc_s" -> jobs.map(_.gcMs).sum / 1e3 / per,
      "spark.shuffle_write_mb" -> jobs.map(_.shuffleWriteBytes).sum / 1048576.0 / per,
      "spark.spill_mb" -> jobs.map(_.spillBytes).sum / 1048576.0 / per,
      "spark.cpu_share" -> (if (wall > 0) jobs.map(_.cpuNs).sum / 1e9 / (wall * run.cpus) else 0.0),
      "plan.analysis_s" -> t.planMs("analysis") / 1e3 / per,
      "plan.optimization_s" -> t.planMs("optimization") / 1e3 / per,
      "plan.planning_s" -> t.planMs("planning") / 1e3 / per)
  }

  // ------------------------------------------------------------------ report

  private def json(v: Any): String = v match {
    case s: String => "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => json(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ",", "]")
  }

  /** The report `run.py` reads, plus every span (operations and the
    * traced jobs inside them) for offline inspection. */
  private def writeReport(run: Run, setup: Seq[Double]): Unit = {
    val status = scala.io.Source.fromFile("/proc/self/status")
    val hwmKb = try status.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble
    }.getOrElse(0.0) finally status.close()
    val ops = run.ops.map(o => Map("name" -> o.name, "round" -> o.round,
      "seconds" -> o.seconds, "traced" -> o.traced, "stats" -> o.stats))
    Files.writeString(Paths.get(run.o("report")), json(Map(
      "setup_s" -> setup, "ops" -> ops, "attempted" -> run.attempted,
      "failures" -> run.failures, "layers" -> run.layers,
      "peak_rss_mb" -> hwmKb / 1024,
      "oracle" -> graft.SparkEntry.oracleSql.filter { case (k, _) =>
        run.o.get("queries").exists(_.split(",").contains(k)) })))
    def end(o: Op) = o.start + (o.seconds * 1000).toLong
    val spans = run.ops.map(o => Map("span" -> s"${o.name} ${o.round}", "kind" -> "op",
      "start_ms" -> o.start, "end_ms" -> end(o))) ++
      run.tracers.values.flatMap(_.jobs).map(j => Map(
        "span" -> s"job ${j.id}", "kind" -> "job", "layer" -> j.layer,
        "parent" -> run.ops.find(o => j.start >= o.start && j.start <= end(o))
          .fold("")(o => s"${o.name} ${o.round}"),
        "start_ms" -> j.start, "end_ms" -> j.end, "tasks" -> j.tasks))
    Files.writeString(Paths.get(run.work, "spans.json"), json(spans))
  }
}
