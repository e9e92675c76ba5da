package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._

/** In-memory span recorder. A span is (op, name, layer, parent, start,
  * end); every span of one timed op shares its op id. With `on = false`
  * a span is just the body, so the untimed and the traced pass run the
  * same code.
  */
final class Spans(val on: Boolean) {
  final case class Span(id: Int, op: Int, name: String, layer: String,
                        parent: Int, start: Long, end: Long)

  private val done = ArrayBuffer.empty[Span]
  private val nextId = new java.util.concurrent.atomic.AtomicInteger(0)
  private val current = new ThreadLocal[Int] { override def initialValue(): Int = -1 }
  @volatile var op: Int = -1

  /** The caller's open span, to hand to a worker thread's [[under]]. */
  def here: Int = current.get()

  def under[T](parent: Int)(body: => T): T = {
    val prev = current.get(); current.set(parent)
    try body finally current.set(prev)
  }

  def apply[T](layer: String, name: String)(body: => T): T =
    if (!on) body
    else {
      val id = nextId.getAndIncrement()
      val parent = current.get()
      current.set(id)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        current.set(parent)
        done.synchronized { done += Span(id, op, name, layer, parent, t0, t1) }
      }
    }

  def all: Seq[Span] = done.synchronized(done.toList)
  def clear(): Unit = done.synchronized(done.clear())

  /** Seconds of each layer's spans not covered by their child spans. */
  def selfSeconds: Map[String, Double] = {
    val spans = all
    val kids = spans.groupBy(_.parent)
    spans.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map { s =>
        val covered = Spans.unionLength(kids.getOrElse(s.id, Nil)
          .map(k => (math.max(k.start, s.start), math.min(k.end, s.end))))
        (s.end - s.start - covered) / 1e9
      }.sum
    }
  }
}

object Spans {
  /** Total length of the union of [start, end) intervals. */
  def unionLength(iv: Seq[(Long, Long)]): Long = {
    var total = 0L; var hi = Long.MinValue
    for ((s, e) <- iv.filter(x => x._2 > x._1).sortBy(_._1)) {
      if (s >= hi) { total += e - s; hi = e }
      else if (e > hi) { total += e - hi; hi = e }
    }
    total
  }
}

/** Benchmark-owned listener: keeps every job and completed stage in
  * memory and attributes each to a layer, by the job's `tick: …` label
  * where [[Layers.byLabel]] knows it, else by the innermost
  * `graft.<package>` frame of Spark's call site (`StageInfo.details`).
  */
final class LayerListener extends SparkListener {
  final case class Job(id: Int, start: Long, var end: Long, label: String,
                       stages: Seq[Int], layer: String, frame: String)
  final case class Stage(id: Int, job: Int, layer: String, tasks: Int,
                         runMs: Long, shuffleBytes: Long, spillBytes: Long,
                         inputBytes: Long, inputRecords: Long, var failures: Int)

  val jobs = scala.collection.mutable.LinkedHashMap.empty[Int, Job]
  val stages = scala.collection.mutable.LinkedHashMap.empty[Int, Stage]
  private val stageJob = scala.collection.mutable.HashMap.empty[Int, Int]
  private val stageLayer = scala.collection.mutable.HashMap.empty[Int, String]
  private val failures = scala.collection.mutable.HashMap.empty[Int, Int]
  private val execSite = scala.collection.mutable.HashMap.empty[Long, (String, String)]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val prop = (k: String) => Option(e.properties).flatMap(p => Option(p.getProperty(k)))
    val label = prop("spark.job.description").getOrElse("")
    val execId = prop("spark.sql.execution.id").map(_.toLong)
    // (layer, frame) of a stage: its own call site, else — for stages AQE
    // and broadcasts submit from Spark's own threads — the call site of
    // the SQL execution that owns them
    def site(details: String): (String, String) = {
      val layer = Layers.byCallSite(details)
      if (layer != Layers.Other) (layer, Layers.frameOf(details))
      else execId.flatMap(execSite.get).getOrElse((Layers.Other, ""))
    }
    e.stageInfos.foreach { s =>
      stageJob.getOrElseUpdate(s.stageId, e.jobId)
      stageLayer.getOrElseUpdate(s.stageId, Layers.byLabel(label).getOrElse(site(s.details)._1))
    }
    val (siteLayer, frame) = e.stageInfos.maxByOption(_.stageId)
      .map(s => site(s.details)).getOrElse((Layers.Other, ""))
    jobs(e.jobId) = Job(e.jobId, e.time, -1L, label, e.stageIds,
      Layers.byLabel(label).getOrElse(siteLayer), frame)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart => synchronized {
      execSite(x.executionId) = (Layers.byCallSite(x.details), Layers.frameOf(x.details))
    }
    case _ => ()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (!e.taskInfo.successful) failures(e.stageId) = failures.getOrElse(e.stageId, 0) + 1
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val s = e.stageInfo
    val m = s.taskMetrics
    val layer = stageLayer.getOrElse(s.stageId, Layers.byCallSite(s.details))
    val st = Stage(s.stageId, stageJob.getOrElse(s.stageId, -1), layer, s.numTasks,
      if (m == null) 0L else m.executorRunTime,
      if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten,
      if (m == null) 0L else m.memoryBytesSpilled + m.diskBytesSpilled,
      if (m == null) 0L else m.inputMetrics.bytesRead,
      if (m == null) 0L else m.inputMetrics.recordsRead, 0)
    stages(s.stageId) = st
  }

  /** Stage failures are counted on task end, which may follow the stage's
    * completion event; fold them in once the bus is drained.
    */
  def settle(): Unit = synchronized {
    for ((sid, n) <- failures; st <- stages.get(sid)) st.failures = n
  }
}

object Layers {
  val All: Seq[String] = Seq("driver", "state", "sources", "operators", "sink", "functions")
  val Other = "other"
  private val Frame = """\s*graft\.([a-z]+)\.""".r.unanchored
  private val FrameClass = """\s*(graft\.[a-z]+\.[A-Za-z0-9_$]+)\.""".r.unanchored

  /** `semanticTick`'s job labels → (layer, phase): the ANN work is
    * `functions`, the verdict sink `sink`, the batch staging and counts
    * `driver`. `dedupBatch: …` and `margin-append: …` are the labels the
    * verdict and margin-admission phases set on their own jobs.
    */
  def tickPhase(label: String): Option[(String, String)] = label match {
    case "tick: stage batch" | "tick: batch count" | "tick: kept count" => Some(("driver", "count"))
    case "tick: verdicts" => Some(("functions", "verdicts"))
    case l if l.startsWith("dedupBatch: ") => Some(("functions", "verdicts"))
    case "tick: verdict append" => Some(("sink", "verdict_append"))
    case "tick: vec admission" => Some(("functions", "vec_admission"))
    case "tick: margin admission" => Some(("functions", "margin_admission"))
    case l if l.startsWith("margin-append: ") => Some(("functions", "margin_admission"))
    case "tick: compact cadence" => Some(("functions", "compact"))
    case "tick: verdict fold" => Some(("sink", "fold"))
    case _ => None
  }

  def byLabel(label: String): Option[String] = tickPhase(label).map(_._1)

  /** Innermost frame of a known layer package; `graft.util` and other
    * helpers fall through to the frame that called them.
    */
  def byCallSite(details: String): String =
    Option(details).iterator.flatMap(_.linesIterator).collectFirst {
      case Frame(pkg) if All.contains(pkg) => pkg
    }.getOrElse(Other)

  /** Class of the innermost layer frame, e.g. `graft.operators.Validation$`. */
  def frameOf(details: String): String =
    Option(details).iterator.flatMap(_.linesIterator).collectFirst {
      case l @ Frame(pkg) if All.contains(pkg) => l match {
        case FrameClass(c) => c
        case _ => pkg
      }
    }.getOrElse("")
}
