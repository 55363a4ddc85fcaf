package perfbench

import org.apache.spark.perfbench.Internals
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Maps a Spark call site to the repo layer that started the job.
  *
  * A call site is the stack of the thread that started the job (or,
  * for jobs of a SQL execution, the stack that started the execution),
  * innermost frame first. The first frame whose class belongs to a
  * layer names the job's layer; shared helpers (session-cache
  * bookkeeping, sizing, table loaders, expression libraries) are
  * skipped so their jobs land on the module that called them. A frame
  * of this benchmark means the job is the action the benchmark itself
  * ran on a returned DataFrame. */
object Layers {
  val modules: Seq[String] = Seq("CorpusBuild", "IncrementalBuild", "Curation",
    "Dedup", "DocEmbed", "Chunking", "Similarity", "Relational", "Multimodal",
    "StreamingQueries", "EventsPipeline")

  val Harness = "harness"

  private val packages = Seq("ingest", "rules", "split", "expect", "sinks",
    "lineage", "pipeline", "streaming")
  private val helpers = Set("Caches", "Sizing")

  def ofClass(cls: String): Option[String] =
    if (cls.startsWith("perfbench.")) Some(Harness)
    else if (cls.startsWith("graft.analytics.")) {
      val m = cls.stripPrefix("graft.analytics.").takeWhile(c => c != '$' && c != '.')
      if (helpers(m)) None
      else Some("analytics." + (if (modules.contains(m)) m else "other"))
    } else packages.find(p => cls.startsWith(s"graft.$p."))

  /** Layer of a call site (`StackTraceElement.toString` lines). */
  def of(callSite: String): String =
    callSite.split("\n").iterator.map { line =>
      val f = line.trim.stripPrefix("at ").takeWhile(_ != '(')
      f.substring(0, math.max(0, f.lastIndexOf('.')))
    }.flatMap(ofClass).nextOption().getOrElse("other")

  /** The analytics module whose board map declares `query`. */
  lazy val owner: Map[String, String] = {
    import graft.analytics._
    Seq("CorpusBuild" -> CorpusBuild.queries, "IncrementalBuild" -> IncrementalBuild.queries,
      "Curation" -> Curation.queries, "Dedup" -> Dedup.queries,
      "DocEmbed" -> DocEmbed.queries, "Chunking" -> Chunking.queries,
      "Similarity" -> Similarity.queries, "Relational" -> Relational.queries,
      "Multimodal" -> Multimodal.queries, "StreamingQueries" -> StreamingQueries.queries,
      "EventsPipeline" -> EventsPipeline.queries)
      .flatMap { case (m, qs) => qs.keys.map(_ -> s"analytics.$m") }.toMap
  }
}

/** Job-level record kept by the [[Tracer]]. Times are epoch ms. */
final class JobSpan(val id: Int, val site: String, val start: Long) {
  /** Resolved by [[Tracer.attribute]] once the operations are known. */
  var layer: String = site
  var end = 0L
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  def seconds: Double = math.max(0L, end - start) / 1e3
}

/** The traced run's listeners: a SparkListener attributing each job
  * (with its tasks' time, shuffle and spill) to a layer, a
  * StreamingQueryListener for micro-batch progress durations, and a
  * QueryExecutionListener for planning-phase times. Attached only
  * around traced operations, so untraced operations run with none of
  * them. Everything is kept in memory and read after [[stop]]. */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  val jobs = mutable.ArrayBuffer.empty[JobSpan]
  val progress = mutable.ArrayBuffer.empty[Map[String, Long]]
  val planMs = mutable.Map("analysis" -> 0L, "optimization" -> 0L, "planning" -> 0L)
  private val byId = mutable.Map.empty[Int, JobSpan]
  private val stageJob = mutable.Map.empty[Int, JobSpan]
  private val execLayer = mutable.Map.empty[Long, String]

  private val jobListener = new SparkListener {
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => Tracer.this.synchronized {
        execLayer(s.executionId) = Layers.of(s.details)
      }
      case _ =>
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val site = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .flatMap(id => execLayer.get(id.toLong))
        .getOrElse(Layers.of(e.stageInfos.headOption.map(_.details).getOrElse("")))
      val j = new JobSpan(e.jobId, site, e.time)
      jobs += j
      byId(e.jobId) = j
      e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, j))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      byId.get(e.jobId).foreach(_.end = e.time)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      for (j <- stageJob.get(e.stageId); m <- Option(e.taskMetrics)) {
        j.tasks += 1
        j.runMs += m.executorRunTime
        j.cpuNs += m.executorCpuTime
        j.gcMs += m.jvmGCTime
        j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        j.spillBytes += m.diskBytesSpilled
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (e.progress.numInputRows > 0) Tracer.this.synchronized {
        progress += e.progress.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      }
  }

  private val planListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      Tracer.this.synchronized {
        qe.tracker.phases.foreach { case (phase, s) =>
          if (planMs.contains(phase)) planMs(phase) += s.durationMs
        }
      }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  def start(): Unit = {
    sc.addSparkListener(jobListener)
    spark.streams.addListener(streamListener)
    spark.listenerManager.register(planListener)
  }

  /** Deliver everything posted so far, then detach. */
  def stop(): Unit = {
    Internals.drain(sc)
    sc.removeSparkListener(jobListener)
    spark.streams.removeListener(streamListener)
    spark.listenerManager.unregister(planListener)
  }

  /** Jobs the benchmark's own frames started (the action on a
    * returned DataFrame) belong to the module owning the query whose
    * window (epoch ms) holds the job's start. */
  def attribute(windows: Seq[(String, Long, Long)]): Unit = synchronized {
    for (j <- jobs if j.site == Layers.Harness;
         (q, from, to) <- windows.find { case (_, f, t) => j.start >= f && j.start <= t })
      j.layer = Layers.owner.getOrElse(q, Layers.Harness)
  }

  /** Brackets one traced operation; the listeners see only its jobs. */
  def around[T](body: => T): T = {
    start()
    try body finally stop()
  }
}
