package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One timed interval at a layer boundary. `parent` is the enclosing span's
  * id (-1 for a root); all spans of one run share the run's trace. */
final case class Span(id: Int, parent: Int, layer: String, name: String,
                      startNs: Long, var endNs: Long = -1L) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** What one Spark job did, summed over its stages. `span` is the innermost
  * benchmark span open on the thread that submitted it (or the thread that
  * started the streaming query or wave thread that submitted it). */
final class JobRec(val jobId: Int, val span: Int, val startNs: Long) {
  var endNs: Long = -1L
  var stages = 0
  var tasks = 0
  var taskNs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
}

/** One streaming micro-batch, as the progress API reports it. */
final case class BatchRec(query: String, span: Int, triggerMs: Long, addBatchMs: Long,
                          inputRows: Long, stateRows: Long)

/** In-memory span recorder plus the two listeners that count Spark work.
  * Disabled, it records nothing and registers nothing: `span` just runs
  * its body. Spans are written out once, at the end of the run. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val PropKey = "perfbench.span"
  val spans = ArrayBuffer.empty[Span]
  val jobs = ArrayBuffer.empty[JobRec]
  val batches = ArrayBuffer.empty[BatchRec]
  private val jobById = scala.collection.mutable.Map.empty[Int, JobRec]
  private val stageToJob = scala.collection.mutable.Map.empty[Int, JobRec]
  private var open: List[Span] = Nil
  @volatile private var active = enabled
  private val ownNs = new java.util.concurrent.atomic.AtomicLong()

  /** Run tracer bookkeeping, adding its time to [[ownSeconds]]. */
  private def own[T](body: => T): T = {
    val t0 = System.nanoTime()
    try body finally ownNs.addAndGet(System.nanoTime() - t0)
  }

  /** Time spent in the tracer's own code, on every thread: span
    * bookkeeping and the listeners' event handling. */
  def ownSeconds: Double = ownNs.get / 1e9

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (active) own {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(PropKey)))
        .map(_.toInt).getOrElse(currentId)
      val r = new JobRec(e.jobId, span, System.nanoTime())
      r.stages = e.stageIds.size
      Tracer.this.synchronized {
        jobs += r; jobById(e.jobId) = r
        e.stageIds.foreach(s => stageToJob(s) = r)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = own(Tracer.this.synchronized {
      jobById.remove(e.jobId).foreach(_.endNs = System.nanoTime())
    })
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = own {
      val info = e.stageInfo
      Tracer.this.synchronized(stageToJob.remove(info.stageId)).foreach { r =>
        val m = info.taskMetrics
        r.synchronized {
          r.tasks += info.numTasks
          if (m != null) {
            r.taskNs += m.executorRunTime * 1000000L
            r.cpuNs += m.executorCpuTime
            r.gcMs += m.jvmGCTime
            r.shuffleRead += m.shuffleReadMetrics.totalBytesRead
            r.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
            r.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          }
        }
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (active) own {
        val p = e.progress
        def d(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
        val rec = BatchRec(Option(p.name).getOrElse(""), currentId, d("triggerExecution"),
          d("addBatch"), p.numInputRows,
          p.stateOperators.map(_.numRowsTotal).sum)
        Tracer.this.synchronized(batches += rec)
      }
  }

  if (enabled) {
    spark.sparkContext.addSparkListener(jobListener)
    spark.streams.addListener(streamListener)
  }

  private def currentId: Int = synchronized(open.headOption.map(_.id).getOrElse(-1))

  /** Run `body` inside a span; jobs it submits are attached to it. */
  def span[T](layer: String, name: String)(body: => T): T =
    if (!active) body
    else {
      val sc = spark.sparkContext
      val (s, before) = own {
        val sp = synchronized {
          val sp = Span(spans.size, open.headOption.map(_.id).getOrElse(-1), layer, name,
            System.nanoTime())
          spans += sp; open = sp :: open; sp
        }
        val before = sc.getLocalProperty(PropKey)
        sc.setLocalProperty(PropKey, sp.id.toString)
        (sp, before)
      }
      try body
      finally own {
        sc.setLocalProperty(PropKey, before)
        synchronized { s.endNs = System.nanoTime(); open = open.tail }
      }
    }

  /** Wait for the last events, then stop listening; the recorded spans
    * stay. */
  def close(): Unit = if (enabled) {
    drain()
    active = false
    spark.sparkContext.removeSparkListener(jobListener)
    spark.streams.removeListener(streamListener)
  }

  /** Wait (at most 10 s) until every recorded job's end event has arrived.
    * The bus delivers events in order, so a job's stages precede its end. */
  def drain(): Unit = if (enabled) {
    val deadline = System.nanoTime() + 10000000000L
    while (synchronized(jobById.nonEmpty) && System.nanoTime() < deadline) Thread.sleep(20)
  }

  // ── derived views ──────────────────────────────────────────────────────

  def children(s: Span): Seq[Span] = spans.toSeq.filter(_.parent == s.id)

  /** Spans of `s`'s subtree, `s` included. */
  def subtree(s: Span): Seq[Span] = {
    val out = ArrayBuffer(s)
    var frontier = Seq(s.id)
    while (frontier.nonEmpty) {
      val next = spans.filter(x => frontier.contains(x.parent)).toSeq
      out ++= next; frontier = next.map(_.id)
    }
    out.toSeq
  }

  def jobsUnder(s: Span): Seq[JobRec] = {
    val ids = subtree(s).map(_.id).toSet
    jobs.toSeq.filter(j => ids.contains(j.span))
  }

  def batchesUnder(s: Span): Seq[BatchRec] = {
    val ids = subtree(s).map(_.id).toSet
    batches.toSeq.filter(b => ids.contains(b.span))
  }

  /** A span's duration minus the part of it its child spans cover. */
  def selfSeconds(s: Span): Double =
    s.seconds - Tracer.unionNs(children(s).map(c => (c.startNs, c.endNs))) / 1e9

  /** Nanoseconds of the span during which no Spark job of its own ran:
    * scheduling, planning, listing, commits and other work outside jobs. */
  def floorNs(s: Span): Long = {
    val iv = jobsUnder(s).filter(_.endNs > 0)
      .map(j => (math.max(j.startNs, s.startNs), math.min(j.endNs, s.endNs)))
    (s.endNs - s.startNs) - Tracer.unionNs(iv)
  }

  /** Per-layer totals and self time, plus every span, as JSON. */
  def toJson: String = {
    val byLayer = spans.groupBy(_.layer).toSeq.sortBy(_._1).map { case (layer, ss) =>
      layer -> Json.obj(
        "spans" -> Json.num(ss.size),
        "total_s" -> Json.num(ss.map(_.seconds).sum),
        "self_s" -> Json.num(ss.map(selfSeconds).sum))
    }
    val spanRows = spans.map { s =>
      val js = jobs.filter(_.span == s.id)
      Json.obj("id" -> Json.num(s.id), "parent" -> Json.num(s.parent),
        "layer" -> Json.str(s.layer), "name" -> Json.str(s.name),
        "start_ms" -> Json.num((s.startNs - spans.head.startNs) / 1e6),
        "dur_ms" -> Json.num(s.seconds * 1000), "self_ms" -> Json.num(selfSeconds(s) * 1000),
        "jobs" -> Json.arr(js.toSeq.map(j => Json.obj(
          "job" -> Json.num(j.jobId), "start_ms" -> Json.num((j.startNs - s.startNs) / 1e6),
          "dur_ms" -> Json.num((j.endNs - j.startNs) / 1e6), "stages" -> Json.num(j.stages),
          "tasks" -> Json.num(j.tasks)))))
    }
    Json.obj("layers" -> Json.obj(byLayer: _*), "spans" -> Json.arr(spanRows.toSeq))
  }
}

object Tracer {
  /** Total length of the union of `[start, end)` intervals. */
  def unionNs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
      if (a > curE) {
        if (curE > curS) total += curE - curS
        curS = a; curE = b
      } else if (b > curE) curE = b
    }
    if (curE > curS) total += curE - curS
    total
  }
}
