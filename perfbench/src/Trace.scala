package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One timed interval around a call the benchmark makes. Task counters of
  * the Spark jobs submitted while the span is the innermost one are summed
  * into `counters`; `firstJobNs` is when its first such job started. */
final class Span(val id: Int, val name: String, val parent: Int,
    val runId: String, val startNs: Long) {
  @volatile var endNs: Long = -1L
  @volatile var firstJobNs: Long = Long.MaxValue
  val counters: mutable.Map[String, Double] = mutable.Map.empty

  def durS: Double = (endNs - startNs) / 1e9
  /** Time before the span's first job (the whole span when it ran none). */
  def planS: Double = (math.min(firstJobNs, endNs) - startNs) / 1e9
  def execS: Double = durS - planS
  def counter(k: String): Double = counters.synchronized(counters.getOrElse(k, 0.0))
}

/** In-memory span recorder. Spans nest on one stack: the benchmark's main
  * thread blocks while a streaming query's thread runs its batches, so the
  * two never open spans concurrently. Jobs are attributed through a
  * SparkContext local property that carries the innermost span id, which a
  * job-start event reports exactly, however late the listener sees it. With
  * `on = false` every call is a pass-through and no listener is attached. */
final class Tracer(spark: SparkSession, val runId: String) {
  private val Key = "perfbench.span"
  private val sc = spark.sparkContext
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private val byId = new java.util.concurrent.ConcurrentHashMap[Int, Span]()
  private val stageSpan = new java.util.concurrent.ConcurrentHashMap[Int, Span]()
  private val runOf = new java.util.concurrent.ConcurrentHashMap[String, mutable.Buffer[Map[String, Double]]]()
  @volatile var on = false

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty(Key)))
        .flatMap(id => Option(byId.get(id.toInt))).foreach { s =>
          val t = System.nanoTime() - (System.currentTimeMillis() - e.time) * 1000000L
          s.firstJobNs = math.min(s.firstJobNs, t)
          add(s, "jobs", 1)
          e.stageInfos.foreach(st => stageSpan.put(st.stageId, s))
        }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageSpan.get(e.stageId)).zip(Option(e.taskMetrics)).foreach {
        case (s, m) =>
          add(s, "tasks", 1)
          add(s, "task_s", m.executorRunTime / 1e3)
          add(s, "deser_s", m.executorDeserializeTime / 1e3)
          add(s, "gc_s", m.jvmGCTime / 1e3)
          add(s, "shuffle_mb", m.shuffleWriteMetrics.bytesWritten / 1048576.0)
          add(s, "fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1e3)
          add(s, "spill_mb",
            (m.memoryBytesSpilled + m.diskBytesSpilled) / 1048576.0)
      }
  }

  /** Per-batch `durationMs` and input rows of every streaming query run,
    * keyed by the query's run id. */
  private val streamListener = new StreamingQueryListener {
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs
      def ms(k: String): Double = Option(d.get(k)).map(_.doubleValue).getOrElse(0.0)
      val b = runOf.computeIfAbsent(p.runId.toString, _ => mutable.Buffer.empty)
      b.synchronized(b += Map(
          "rows" -> p.numInputRows.toDouble,
          "latest_offset_ms" -> ms("latestOffset"),
          "add_batch_ms" -> ms("addBatch"),
          "commit_ms" -> (ms("walCommit") + ms("commitOffsets"))))
    }
  }

  private def add(s: Span, k: String, v: Double): Unit =
    s.counters.synchronized(s.counters(k) = s.counters.getOrElse(k, 0.0) + v)

  def start(): Unit = if (!on) {
    sc.addSparkListener(listener)
    spark.streams.addListener(streamListener)
    on = true
  }

  def stop(): Unit = if (on) {
    org.apache.spark.perfbench.Bus.drain(sc)
    sc.removeSparkListener(listener)
    spark.streams.removeListener(streamListener)
    on = false
  }

  /** Runs `body` inside a span named `name`. With `claimJobs = false` the
    * span times its body but leaves job attribution to its parent. */
  def span[T](name: String, claimJobs: Boolean = true)(body: => T): T =
    if (!on) body
    else {
      val s = synchronized {
        val sp = new Span(spans.length, name, stack.headOption.fold(-1)(_.id),
          runId, System.nanoTime())
        spans += sp
        byId.put(sp.id, sp)
        stack = sp :: stack
        sp
      }
      val prev = sc.getLocalProperty(Key)
      if (claimJobs) sc.setLocalProperty(Key, s.id.toString)
      try body
      finally {
        s.endNs = System.nanoTime()
        if (claimJobs) sc.setLocalProperty(Key, prev)
        synchronized { stack = stack.drop(1) }
      }
    }

  def all: Seq[Span] = synchronized(spans.toList)
  def children(s: Span): Seq[Span] = all.filter(_.parent == s.id)
  def under(s: Span): Seq[Span] = {
    val kids = children(s)
    kids ++ kids.flatMap(under)
  }

  /** Self time: the span's duration minus the part its children cover
    * (children never overlap: they nest on one stack). */
  def selfS(s: Span): Double = s.durS - children(s).map(_.durS).sum

  /** Streaming progress of one query run: one map per batch attempted. */
  def batchesOf(streamRunId: String): Seq[Map[String, Double]] =
    Option(runOf.get(streamRunId)).map(b => b.synchronized(b.toList)).getOrElse(Nil)

  /** One JSON object per span, for the spans file the traced run writes. */
  def jsonLines: Seq[String] = all.map { s =>
    val cs = s.counters.synchronized(s.counters.toList.sortBy(_._1))
      .map { case (k, v) => s""""$k": $v""" }.mkString(", ")
    s"""{"run": "${s.runId}", "id": ${s.id}, "parent": ${s.parent}, "name": "${s.name}", """ +
      s""""start_ns": ${s.startNs}, "end_ns": ${s.endNs}, "self_s": ${selfS(s)}, "counters": {$cs}}"""
  }
}
