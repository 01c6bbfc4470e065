package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval of the benchmark's own code. `qid` names the
  * query (or table, or kernel) the span belongs to; times are epoch
  * milliseconds with sub-millisecond digits.
  */
final case class Span(id: Int, parent: Int, name: String, qid: String,
    start: Double, var end: Double = Double.NaN)

/** Per-span tallies of the Spark work launched while the span was open:
  * jobs are attributed through a thread-local job property, so work a
  * query's construction launches (memo builds, checkpoints, probes) is
  * told apart from the work of its final write.
  */
final class SpanTally {
  var jobs, stages, tasks = 0L
  var runMs, cpuNs, gcMs = 0L
  var shuffleRead, shuffleWrite, spill, input = 0L
}

/** Span recorder plus the listeners that feed it. With `enabled` false
  * it only runs the bodies, so untraced runs time the same code.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val Prop = "perfbench.span"
  private val ms0 = System.currentTimeMillis().toDouble
  private val ns0 = System.nanoTime()
  private def nowMs: Double = ms0 + (System.nanoTime() - ns0) / 1e6

  val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack[Int]()
  val tallies = mutable.Map.empty[Int, SpanTally]
  private val stageSpan = mutable.Map.empty[Int, Int]
  /** (epoch ms the execution started, analysis, optimization, planning ms). */
  val phases = mutable.ArrayBuffer.empty[(Double, Double, Double, Double)]
  /** False during the untraced passes of a traced run: no spans are
    * kept and the listeners are detached, so those passes price the
    * tracing overhead.
    */
  private var recording = false

  def span[A](name: String, qid: String = "")(body: => A): A =
    if (!enabled || !recording) body
    else {
      val sp = Span(spans.size, stack.headOption.getOrElse(-1), name, qid, nowMs)
      spans += sp
      stack.push(sp.id)
      val sc = spark.sparkContext
      val prev = sc.getLocalProperty(Prop)
      sc.setLocalProperty(Prop, sp.id.toString)
      try body
      finally {
        sp.end = nowMs
        stack.pop()
        sc.setLocalProperty(Prop, prev)
      }
    }

  private def tally(id: Int): SpanTally = tallies.getOrElseUpdate(id, new SpanTally)

  private object Jobs extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val id = Option(e.properties).flatMap(p => Option(p.getProperty(Prop)))
        .map(_.toInt).getOrElse(-1)
      synchronized {
        tally(id).jobs += 1
        e.stageIds.foreach(s => stageSpan(s) = id)
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized {
        stageSpan.get(e.stageInfo.stageId).foreach(id => tally(id).stages += 1)
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      for (id <- stageSpan.get(e.stageId); m <- Option(e.taskMetrics)) {
        val t = tally(id)
        t.tasks += 1
        t.runMs += m.executorRunTime
        t.cpuNs += m.executorCpuTime
        t.gcMs += m.jvmGCTime
        t.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        t.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        t.input += m.inputMetrics.bytesRead
      }
    }
  }

  private object Plans extends QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      add(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      add(qe)
    private def add(qe: QueryExecution): Unit = {
      val p = qe.tracker.phases
      def d(k: String): Double = p.get(k).map(_.durationMs.toDouble).getOrElse(0.0)
      val start = p.values.map(_.startTimeMs).minOption.getOrElse(0L).toDouble
      synchronized { phases += ((start, d("analysis"), d("optimization"), d("planning"))) }
    }
  }

  /** Attach (or, after delivering every pending event, detach) the
    * listeners; a no-op in untraced runs.
    */
  def record(on: Boolean): Unit = if (enabled && on != recording) {
    if (on) {
      spark.sparkContext.addSparkListener(Jobs)
      spark.listenerManager.register(Plans)
    } else {
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(Jobs)
      spark.listenerManager.unregister(Plans)
    }
    recording = on
  }
  record(true)

  def toJson: Any = Map(
    "spans" -> spans.map(s => Seq(s.id, s.parent, s.name, s.qid, s.start, s.end)),
    "tallies" -> tallies.toSeq.sortBy(_._1).map { case (id, t) =>
      Seq(id, t.jobs, t.stages, t.tasks, t.runMs, t.cpuNs, t.gcMs,
        t.shuffleRead, t.shuffleWrite, t.spill, t.input)
    },
    "phases" -> phases.map(p => Seq(p._1, p._2, p._3, p._4)))
}
