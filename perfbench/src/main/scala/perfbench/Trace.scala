package perfbench

import java.io.{File, PrintWriter}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** One span: a benchmark call around a public entry point, or a Spark job
  * the listener attributed to a request. Times are epoch ms, the clock
  * Spark's scheduler stamps jobs with; the benchmark's own spans carry
  * sub-ms digits.
  */
final case class Span(req: Long, name: String, parent: String, start: Double, end: Double,
    attrs: Seq[(String, Double)] = Nil) {
  def ms: Double = end - start
  def json: String = {
    val a = attrs.map { case (k, v) => s""","$k":${Report.num(v)}""" }.mkString
    s"""{"req":$req,"name":"$name","parent":"$parent","start":${Report.num(start)},"end":${Report.num(end)}$a}"""
  }
}

final case class StageRec(req: Long, stage: Int, submitted: Long, completed: Long,
    tasks: Int, execMs: Long, inputBytes: Long, shuffleReadBytes: Long,
    shuffleWriteBytes: Long, spillBytes: Long)

/** In-memory trace of one run. The benchmark opens a request span around
  * each request and child spans around each public call in it; Spark jobs
  * carry the request id as a local property, so the listener's job and
  * stage records share it. Nothing is written until [[writeJsonl]] at the
  * end of the run.
  */
final class Trace(spark: SparkSession) {
  private val sc: SparkContext = spark.sparkContext
  private val spans = ArrayBuffer.empty[Span]
  private val jobs = ArrayBuffer.empty[Span]
  private val stages = ArrayBuffer.empty[StageRec]
  private val jobStart = scala.collection.mutable.Map.empty[Int, (Long, Long)]
  private val stageReq = scala.collection.mutable.Map.empty[Int, Long]
  private var nextReq = 0L

  // epoch ms with the resolution of nanoTime
  private val originMs = System.currentTimeMillis().toDouble
  private val originNs = System.nanoTime()
  private def now(): Double = originMs + (System.nanoTime() - originNs) / 1e6

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Trace.this.synchronized {
      val req = Option(e.properties).flatMap(p => Option(p.getProperty(Trace.ReqKey)))
        .map(_.toLong).getOrElse(-1L)
      jobStart(e.jobId) = (req, e.time)
      e.stageIds.foreach(s => stageReq(s) = req)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Trace.this.synchronized {
      jobStart.remove(e.jobId).foreach { case (req, t0) =>
        jobs += Span(req, "job", "request", t0.toDouble, e.time.toDouble, Seq("job_id" -> e.jobId.toDouble))
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Trace.this.synchronized {
      val i = e.stageInfo
      val m = i.taskMetrics
      if (m != null) stages += StageRec(
        stageReq.getOrElse(i.stageId, -1L), i.stageId,
        i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L),
        i.numTasks, m.executorRunTime, m.inputMetrics.bytesRead,
        m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }
  sc.addSparkListener(listener)

  /** Runs `f` as a request named `name`: a top-level span whose jobs carry its id. */
  def request[T](name: String)(f: Long => T): T = {
    val id = synchronized { nextReq += 1; nextReq }
    sc.setLocalProperty(Trace.ReqKey, id.toString)
    val t0 = now()
    try f(id)
    finally {
      val t1 = now()
      sc.setLocalProperty(Trace.ReqKey, null)
      synchronized { spans += Span(id, name, "", t0, t1) }
    }
  }

  /** A child span of request `req` around one public call. */
  def span[T](req: Long, name: String)(f: => T): T = {
    val t0 = now()
    try f
    finally {
      val t1 = now()
      synchronized { spans += Span(req, name, "request", t0, t1) }
    }
  }

  /** Waits until the listener bus has delivered every event posted so far. */
  def drain(): Unit = org.apache.spark.PerfbenchBridge.drainListeners(sc)

  def close(): Unit = {
    drain()
    sc.removeSparkListener(listener)
  }

  def requests(name: String): Seq[Span] = synchronized(spans.filter(s => s.parent == "" && s.name == name).toSeq)
  def childSpans(name: String): Seq[Span] = synchronized(spans.filter(s => s.parent != "" && s.name == name).toSeq)
  def jobsOf(req: Long): Seq[Span] = synchronized(jobs.filter(_.req == req).toSeq)
  def stagesOf(req: Long): Seq[StageRec] = synchronized(stages.filter(_.req == req).toSeq)

  /** Spans, jobs and stages as JSON lines, one object per line. */
  def writeJsonl(file: File): Unit = {
    file.getParentFile.mkdirs()
    val w = new PrintWriter(file, "UTF-8")
    try synchronized {
      spans.foreach(s => w.println(s.json))
      jobs.foreach(s => w.println(s.json))
      stages.foreach { s =>
        w.println(Span(s.req, "stage", "job", s.submitted.toDouble, s.completed.toDouble, Seq(
          "stage_id" -> s.stage.toDouble, "tasks" -> s.tasks.toDouble,
          "exec_ms" -> s.execMs.toDouble, "input_bytes" -> s.inputBytes.toDouble,
          "shuffle_read_bytes" -> s.shuffleReadBytes.toDouble,
          "shuffle_write_bytes" -> s.shuffleWriteBytes.toDouble,
          "spill_bytes" -> s.spillBytes.toDouble)).json)
      }
    } finally w.close()
  }
}

object Trace {
  val ReqKey = "perfbench.request"
}
