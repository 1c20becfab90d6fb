package lakebench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{ExternalRDDScanExec, FileSourceScanExec, RDDScanExec, SparkPlan}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One span of the traced run. Times are epoch microseconds; `op` is the id
  * shared by every span of one operation, `parent` the enclosing span's id
  * (-1 for an op span). */
final case class Span(id: Int, name: String, startUs: Long, endUs: Long, parent: Int, op: Int)

/** The traced run's recorder, driven from outside graft: timers around the
  * public calls, Spark's public listeners, and the forced QueryExecution
  * phases. Spans are kept in memory and written once at the end.
  *
  * Op attribution: the current op id rides as the Spark local property
  * [[Trace.OpProp]], which Spark copies into every job's properties (and
  * child threads inherit), so jobs launched from a chunk-building pool are
  * charged to the op that started them. */
final class Trace {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0
  /** layer name -> summed value, over every traced op */
  val layers: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  /** per-op detail rows for the trace file */
  val opRows = mutable.ArrayBuffer.empty[Map[String, Any]]

  def add(name: String, v: Double): Unit = synchronized {
    layers(name) = layers.getOrElse(name, 0.0) + v
  }

  def span(name: String, startUs: Long, endUs: Long, parent: Int, op: Int): Int = synchronized {
    val id = nextId
    nextId += 1
    spans += Span(id, name, startUs, endUs, parent, op)
    id
  }

  def allSpans: Seq[Span] = synchronized(spans.toList)

  /** finished ops: (op id, start us, end us) */
  private val finished = mutable.ArrayBuffer.empty[(Int, Long, Long)]

  def finishOp(op: Int, opSpan: Int, startUs: Long, endUs: Long): Unit = {
    synchronized {
      spans(opSpan) = spans(opSpan).copy(endUs = endUs)
      finished += ((op, startUs, endUs))
    }
    add("trace.ops", 1)
  }

  /** Driver gap of every finished op: its wall minus the union of its Spark
    * job intervals. Call once the listener bus is drained. */
  def chargeDriverGaps(): Unit = synchronized {
    finished.foreach { case (op, s, e) =>
      val jobs = jobIntervals.getOrElse(op, mutable.ArrayBuffer.empty).toList
      add("sched.driver_gap_ms", math.max(0.0, (e - s) / 1000.0 - Trace.unionMs(jobs)))
    }
  }

  // ------------------------------------------------------------ Spark jobs
  private val jobOp = mutable.HashMap.empty[Int, Int]
  private val jobStart = mutable.HashMap.empty[Int, Long]
  private val stageOp = mutable.HashMap.empty[Int, Int]
  private val stageSubmit = mutable.HashMap.empty[(Int, Int), Long]
  /** op id -> its op span id, so listener-made job spans find their parent */
  val opSpan = scala.collection.concurrent.TrieMap.empty[Int, Int]
  /** op id -> (job intervals in epoch ms) */
  val jobIntervals = mutable.HashMap.empty[Int, mutable.ArrayBuffer[(Long, Long)]]

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Trace.this.synchronized {
      val op = Option(e.properties).flatMap(p => Option(p.getProperty(Trace.OpProp)))
        .map(_.toInt).getOrElse(-1)
      jobOp(e.jobId) = op
      jobStart(e.jobId) = e.time
      e.stageIds.foreach(s => stageOp(s) = op)
      if (op >= 0) add("sched.jobs", 1)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Trace.this.synchronized {
      val op = jobOp.remove(e.jobId).getOrElse(-1)
      val t0 = jobStart.remove(e.jobId).getOrElse(e.time)
      if (op >= 0) {
        jobIntervals.getOrElseUpdate(op, mutable.ArrayBuffer.empty) += ((t0, e.time))
        span("spark.job", t0 * 1000, e.time * 1000, opSpan.getOrElse(op, -1), op)
      }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = Trace.this.synchronized {
      val si = e.stageInfo
      stageSubmit((si.stageId, si.attemptNumber())) =
        si.submissionTime.getOrElse(System.currentTimeMillis())
      if (stageOp.getOrElse(si.stageId, -1) >= 0) add("sched.stages", 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Trace.this.synchronized {
      if (stageOp.getOrElse(e.stageId, -1) < 0) return
      add("sched.tasks", 1)
      val sub = stageSubmit.getOrElse((e.stageId, e.stageAttemptId), e.taskInfo.launchTime)
      add("sched.task_wait_ms", math.max(0L, e.taskInfo.launchTime - sub).toDouble)
      val m = e.taskMetrics
      if (m != null) {
        add("sched.task_run_ms", m.executorRunTime.toDouble)
        add("sched.task_cpu_ms", m.executorCpuTime / 1e6)
        add("scan.bytes_read", m.inputMetrics.bytesRead.toDouble)
        add("scan.records_read", m.inputMetrics.recordsRead.toDouble)
        add("shuffle.write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        add("shuffle.read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
        add("shuffle.fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime.toDouble)
        add("spill.memory_bytes", m.memoryBytesSpilled.toDouble)
        add("spill.disk_bytes", m.diskBytesSpilled.toDouble)
      }
    }
  }

  // ------------------------------------------------------------- streaming
  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      def d(k: String): Double = Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
      add("stream.batches", 1)
      add("stream.input_rows", p.numInputRows.toDouble)
      add("stream.trigger_ms", d("triggerExecution"))
      add("stream.plan_ms", d("queryPlanning"))
      add("stream.get_batch_ms", d("getBatch"))
      add("stream.add_batch_ms", d("addBatch"))
      add("stream.wal_commit_ms", d("walCommit"))
      p.stateOperators.foreach { s =>
        add("stream.state_rows", s.numRowsTotal.toDouble)
        add("stream.state_mem_bytes", s.memoryUsedBytes.toDouble)
        add("stream.state_commit_ms", s.commitTimeMs.toDouble)
        add("stream.late_rows_dropped", s.numRowsDroppedByWatermark.toDouble)
      }
    }
  }
}

object Trace {
  val OpProp = "lakebench.op"

  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  /** Monotonic epoch microseconds (listener times are epoch ms). */
  def nowUs: Long = baseMs * 1000 + (System.nanoTime() - baseNs) / 1000

  /** Exact plan-shape counts of one executed plan: shuffle exchanges,
    * broadcast exchanges, RDD scans (a route's `Scan ExistingRDD`), and the
    * files the file scans read — None when an RDD scan hides part of the
    * scan, so a hidden scan never reads as "0 files". */
  def planShape(plan: SparkPlan): (Int, Int, Int, Option[Long]) = {
    val nodes = plan.collectWithSubqueries { case p => p }
    val shuffles = nodes.count(_.isInstanceOf[ShuffleExchangeLike])
    val broadcasts = nodes.count(_.isInstanceOf[BroadcastExchangeLike])
    val rddScans = nodes.count {
      case _: RDDScanExec | _: ExternalRDDScanExec[_] => true
      case _ => false
    }
    val files = nodes.collect { case f: FileSourceScanExec =>
      f.metrics.get("numFiles").map(_.value).getOrElse(0L)
    }.sum
    (shuffles, broadcasts, rddScans, if (rddScans > 0) None else Some(files))
  }

  /** Union length (ms) of possibly overlapping intervals. */
  def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Self time of every span: its duration minus the union of its
    * children's intervals (clipped to the span). */
  def selfTimesMs(spans: Seq[Span]): Map[Int, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = kids.getOrElse(s.id, Nil).map(c =>
        (math.max(c.startUs, s.startUs), math.min(c.endUs, s.endUs))).filter(x => x._2 > x._1)
      s.id -> (s.endUs - s.startUs - unionMs(covered)) / 1000.0
    }.toMap
  }
}
