package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanLike, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. Times are epoch milliseconds; `parent` is -1 for a
  * pass. */
final case class Span(id: Int, parent: Int, pass: Int, layer: String, name: String,
    startMs: Long, endMs: Long)

/** Planning phases and plan shape of every query the steps execute, in
  * every session (the class is named in `spark.sql.queryExecutionListeners`,
  * so each session fork gets an instance). */
class PlanListener extends QueryExecutionListener {
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    Tracer.current.filter(_.active).foreach(_.onQuery(qe))
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    Tracer.current.filter(_.active).foreach(_.onQuery(qe))
}

object Tracer {
  @volatile var current: Option[Tracer] = None
  /** Local property that tags every job with the step span that caused it;
    * threads a step starts (micro-batch runners) inherit it. */
  val SpanProp = "perfbench.span"

  def drain(sc: org.apache.spark.SparkContext): Unit = org.apache.spark.PerfbenchBus.drain(sc)

  /** Every node of an executed plan, through adaptive wrappers, query
    * stages and subqueries. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => q +: nodes(q.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }
}

/** Collects spans and counters for a traced run. Spark events arrive on the
  * listener bus; the bus is drained at each pass end before the pass's
  * numbers are read. */
class Tracer(spark: SparkSession) extends SparkListener {
  private val sc = spark.sparkContext
  /** Events are recorded only between beginPass and endPass. */
  @volatile var active = false
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0
  private var passSpan: Option[(Int, Int, Long)] = None // (id, pass, start)
  private var stepSpan: Option[(Int, String, Long)] = None
  // per-pass buffers, filled from the bus thread
  private val lock = new Object
  private val jobs = mutable.Map.empty[Int, (Long, Int)] // jobId -> (start, tag)
  private val jobSpans = mutable.ArrayBuffer.empty[(Int, Long, Long, Int)] // (jobId, start, end, tag)
  private val batchSpans = mutable.ArrayBuffer.empty[(String, Long, Long)]
  private val taskTimes = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]] // stage -> durations
  private val c = mutable.Map.empty[String, Double]
  /** Counters every pass reports, zero when the pass had none of that work. */
  private val counters = Seq("spark.jobs", "spark.stages", "spark.tasks", "spark.task_cpu_s",
    "spark.gc_s", "spark.shuffle_write_bytes", "spark.spill_bytes", "spark.scan_bytes",
    "spark.analysis_s", "spark.optimizer_s", "spark.planning_s", "spark.exchanges",
    "plans.topk_nodes", "streaming.batches", "streaming.input_rows", "streaming.add_batch_s",
    "streaming.query_planning_s", "streaming.commit_s", "streaming.overhead_s",
    "queries.build_s", "queries.sink_s")
  private var peakExecMem = 0L
  // per-pass results
  private val perPass = mutable.ArrayBuffer.empty[Map[String, Double]]
  private var fs0: Map[String, Long] = Map.empty

  sc.addSparkListener(this)
  Tracer.current = Some(this)

  private def newSpan(parent: Int, pass: Int, layer: String, name: String,
      s: Long, e: Long): Int = {
    val id = nextId; nextId += 1
    spans += Span(id, parent, pass, layer, name, s, e); id
  }

  private def fsStats(): Map[String, Long] = {
    val it = org.apache.hadoop.fs.FileSystem.getGlobalStorageStatistics.iterator.asScala
    it.find(_.getScheme == "file").map { st =>
      Seq("bytesRead", "bytesWritten", "readOps", "writeOps")
        .map(k => k -> Option(st.getLong(k)).map(_.longValue).getOrElse(0L)).toMap
    }.getOrElse(Map.empty).withDefaultValue(0L)
  }

  def beginPass(pass: Int): Unit = {
    drain()
    lock.synchronized {
      jobs.clear(); jobSpans.clear(); batchSpans.clear(); taskTimes.clear(); c.clear()
      counters.foreach(c(_) = 0.0)
      peakExecMem = 0L
    }
    fs0 = fsStats()
    passSpan = Some((nextId, pass, System.currentTimeMillis())); nextId += 1
    active = true
  }

  def beginStep(name: String): Unit = {
    val id = nextId; nextId += 1
    stepSpan = Some((id, name, System.currentTimeMillis()))
    sc.setLocalProperty(Tracer.SpanProp, id.toString)
  }

  /** Time `body` as a child span of the current step. */
  def span[T](layer: String, body: => T): T = {
    val s = System.currentTimeMillis()
    try body finally {
      val (sid, name, _) = stepSpan.get
      newSpan(sid, passSpan.get._2, layer, s"$name.$layer", s, System.currentTimeMillis())
      lock.synchronized { c(s"queries.${layer}_s") += (System.currentTimeMillis() - s) / 1e3 }
    }
  }

  def endStep(): Unit = {
    val (id, name, s) = stepSpan.get
    val (pid, pass, _) = passSpan.get
    spans += Span(id, pid, pass, "step", name, s, System.currentTimeMillis())
    sc.setLocalProperty(Tracer.SpanProp, null)
    stepSpan = None
  }

  def endPass(): Unit = {
    val end = System.currentTimeMillis()
    drain()
    active = false
    val (pid, pass, start) = passSpan.get
    spans += Span(pid, -1, pass, "pass", s"pass$pass", start, end)
    val mySteps = spans.filter(s => s.pass == pass && s.layer == "step").toSeq
    val inner = spans.filter(s => s.pass == pass && (s.layer == "build" || s.layer == "sink")).toSeq
    lock.synchronized {
      // micro-batches hang under the step span whose interval holds them;
      // jobs under the innermost span (micro-batch, build/sink, step)
      batchSpans.foreach { case (n, s, e) =>
        val parent = inner.find(x => x.startMs <= s && s <= x.endMs)
          .orElse(mySteps.find(x => x.startMs <= s && s <= x.endMs)).map(_.id).getOrElse(pid)
        newSpan(parent, pass, "micro_batch", n, s, e)
      }
      val batches = spans.filter(s => s.pass == pass && s.layer == "micro_batch").toSeq
      jobSpans.foreach { case (jid, s, e, tag) =>
        val parent = batches.find(b => b.startMs <= s && s <= b.endMs)
          .orElse(inner.find(x => x.startMs <= s && s <= x.endMs))
          .map(_.id).getOrElse(if (tag >= 0) tag else pid)
        newSpan(parent, pass, "job", s"job$jid", s, e)
      }
      // driver gap: step wall not covered by any running job
      val covered = mySteps.map { st =>
        union(jobSpans.toSeq.map(j => (math.max(j._2, st.startMs), math.min(j._3, st.endMs)))
          .filter(x => x._1 < x._2))
      }.sum
      val stepWall = mySteps.map(s => s.endMs - s.startMs).sum
      c("spark.driver_gap_s") = (stepWall - covered) / 1e3
      // task skew: max over median task time in the stage holding the
      // longest task
      val skew = if (taskTimes.isEmpty) 0.0 else {
        val (_, ts) = taskTimes.maxBy(_._2.max)
        val sorted = ts.sorted
        val med = sorted(sorted.size / 2).toDouble
        if (med <= 0) 0.0 else sorted.last / med
      }
      c("spark.task_skew") = skew
      c("spark.peak_exec_mem_mb") = peakExecMem / 1048576.0
      val fs = fsStats()
      Seq("bytesWritten" -> "queries.fs_bytes_written", "bytesRead" -> "queries.fs_bytes_read",
          "writeOps" -> "queries.fs_write_ops", "readOps" -> "queries.fs_read_ops")
        .foreach { case (k, m) => c(m) = (fs(k) - fs0(k)).toDouble }
      c("queries.write_amp") =
        if (c("streaming.input_rows") > 0) c("queries.fs_bytes_written") / c("streaming.input_rows")
        else 0.0
      perPass += c.toMap
    }
    passSpan = None
  }

  private def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L; var curS = -1L; var curE = -1L
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }

  private def drain(): Unit = Tracer.drain(sc)

  // ---- listener bus callbacks
  override def onJobStart(e: SparkListenerJobStart): Unit = if (active) lock.synchronized {
    val tag = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanProp)))
      .map(_.toInt).getOrElse(-1)
    jobs(e.jobId) = (e.time, tag)
    c("spark.jobs") += 1
    c("spark.stages") += e.stageInfos.size
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = if (active) lock.synchronized {
    jobs.remove(e.jobId).foreach { case (s, tag) => jobSpans += ((e.jobId, s, e.time, tag)) }
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (active) lock.synchronized {
    c("spark.tasks") += 1
    Option(e.taskInfo).foreach(i =>
      taskTimes.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += i.duration)
    Option(e.taskMetrics).foreach { m =>
      c("spark.task_cpu_s") += m.executorCpuTime / 1e9
      c("spark.gc_s") += m.jvmGCTime / 1e3
      c("spark.shuffle_write_bytes") += m.shuffleWriteMetrics.bytesWritten
      c("spark.spill_bytes") += m.memoryBytesSpilled + m.diskBytesSpilled
      peakExecMem = math.max(peakExecMem, m.peakExecutionMemory)
    }
  }
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case p: QueryProgressEvent if active => lock.synchronized {
      val pr = p.progress
      val d = pr.durationMs.asScala.map { case (k, v) => k -> v.longValue }.withDefaultValue(0L)
      val start = java.time.Instant.parse(pr.timestamp).toEpochMilli
      batchSpans += ((s"${pr.name}#${pr.batchId}", start, start + d("triggerExecution")))
      c("streaming.batches") += 1
      c("streaming.input_rows") += pr.numInputRows
      c("streaming.add_batch_s") += d("addBatch") / 1e3
      c("streaming.query_planning_s") += d("queryPlanning") / 1e3
      c("streaming.commit_s") += (d("walCommit") + d("commitOffsets")) / 1e3
      c("streaming.overhead_s") += (d("triggerExecution") - d("addBatch")) / 1e3
    }
    case _ => ()
  }

  def onQuery(qe: QueryExecution): Unit = lock.synchronized {
    val ph = qe.tracker.phases
    def phase(n: String) = ph.get(n).map(p => (p.endTimeMs - p.startTimeMs) / 1e3).getOrElse(0.0)
    c("spark.analysis_s") += phase(org.apache.spark.sql.catalyst.QueryPlanningTracker.ANALYSIS)
    c("spark.optimizer_s") += phase(org.apache.spark.sql.catalyst.QueryPlanningTracker.OPTIMIZATION)
    c("spark.planning_s") += phase(org.apache.spark.sql.catalyst.QueryPlanningTracker.PLANNING)
    val ns = try Tracer.nodes(qe.executedPlan) catch { case _: Throwable => Nil }
    c("spark.exchanges") += ns.count(_.isInstanceOf[Exchange])
    // the size of the files each scan selected after partition and file
    // pruning (task input metrics miss most vectorized parquet reads)
    c("spark.scan_bytes") += ns.collect { case s: FileSourceScanLike =>
      s.metrics.get("filesSize").map(_.value).getOrElse(0L) }.sum
    c("plans.topk_nodes") += ns.count {
      case a: BaseAggregateExec => a.aggregateExpressions.exists(x =>
        x.aggregateFunction.getClass.getName.startsWith("graft.plans.BoundedTopK"))
      case _ => false
    }
  }

  /** Per-layer metrics: the median over traced passes of each per-pass
    * value. */
  def metrics(): Map[String, Double] = {
    val keys = perPass.flatMap(_.keys).toSet
    keys.map(k => k -> Main.median(perPass.toSeq.map(_.getOrElse(k, 0.0)))).toMap
  }

  /** Spans and each layer's self time (span minus the part its children
    * cover), one JSON document. */
  def writeSpans(path: String): Unit = {
    val kids = spans.groupBy(_.parent)
    val self = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    spans.foreach { s =>
      val cov = union(kids.getOrElse(s.id, Nil).toSeq.map(k =>
        (math.max(k.startMs, s.startMs), math.min(k.endMs, s.endMs))).filter(x => x._1 < x._2))
      self(s.layer) += (s.endMs - s.startMs - cov) / 1e3
    }
    val passes = math.max(perPass.size, 1)
    val doc = Map(
      "self_s_per_pass" -> self.map { case (k, v) => k -> v / passes }.toMap,
      "spans" -> spans.sortBy(_.id).map(s => Map("id" -> s.id, "parent" -> s.parent,
        "pass" -> s.pass, "layer" -> s.layer, "name" -> s.name,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs)))
    java.nio.file.Files.writeString(new java.io.File(path).toPath, Json(doc))
  }
}

/** Micro-batch `triggerExecution` times: how fresh a maintained output is.
  * Registered in untraced runs too; it sees one event per micro-batch. */
class BatchTimes(spark: SparkSession) extends SparkListener {
  private val times = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
  spark.sparkContext.addSparkListener(this)

  def reset(): Unit = { Tracer.drain(spark.sparkContext); times.clear() }

  /** The pass's batch times, once the bus has delivered them. */
  def drain(): Seq[Double] = {
    Tracer.drain(spark.sparkContext)
    times.asScala.toSeq
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case p: QueryProgressEvent =>
      Option(p.progress.durationMs.get("triggerExecution")).foreach(v => times.add(v / 1e3))
    case _ => ()
  }
}
