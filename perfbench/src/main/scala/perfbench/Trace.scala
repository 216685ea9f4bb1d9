package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._

/** In-memory span recorder. A span is written around each call the
  * benchmark makes into a layer; spans of one query share the trace id
  * `workload/pass/query`. While `on` is false, `span` only runs its body.
  */
final case class Span(id: Int, parent: Int, name: String, trace: String,
    startNs: Long, endNs: Long, attrs: Map[String, Double])

final class Tracer(var on: Boolean) {
  private val done = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var nextId = 1

  def span[T](name: String, trace: String)(body: => T): T =
    if (!on) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(0)
      stack ::= id
      val t0 = System.nanoTime()
      try body
      finally {
        stack = stack.tail
        done += Span(id, parent, name, trace, t0, System.nanoTime(), Map.empty)
      }
    }

  /** Attach counts to the outermost span of a trace id (the last one to
    * finish), so counts sit at the same boundary as the span. */
  def annotate(trace: String, attrs: Map[String, Double]): Unit =
    if (on) {
      val i = done.lastIndexWhere(_.trace == trace)
      if (i >= 0) done(i) = done(i).copy(attrs = done(i).attrs ++ attrs)
    }

  def jsonLines: Iterator[String] = done.iterator.map { s =>
    Json.obj(Seq("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
      "trace" -> s.trace, "start_ns" -> s.startNs, "end_ns" -> s.endNs,
      "attrs" -> s.attrs))
  }
}

/** Task-level Spark metrics summed per job group. The benchmark gives
  * each query execution its own job group, so the totals attribute to
  * one query. Read the totals only after `SparkContext.stop()`, which
  * drains the listener bus.
  */
final class GroupMetrics extends SparkListener {
  final class Totals {
    var jobs, stages, tasks = 0L
    var runMs, cpuNs, gcMs = 0L
    var shuffleRead, shuffleWrite, spillMem, spillDisk, input = 0L
    var peakExecMem = 0L
  }

  private val stageGroup = mutable.Map.empty[Int, String]
  val groups = mutable.Map.empty[String, Totals]

  private def of(g: String): Totals = groups.getOrElseUpdate(g, new Totals)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    of(g).jobs += 1
    e.stageIds.foreach(stageGroup(_) = g)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      stageGroup.get(e.stageInfo.stageId).foreach(of(_).stages += 1)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val t = of(stageGroup.getOrElse(e.stageId, ""))
    t.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      t.runMs += m.executorRunTime
      t.cpuNs += m.executorCpuTime
      t.gcMs += m.jvmGCTime
      t.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      t.spillMem += m.memoryBytesSpilled
      t.spillDisk += m.diskBytesSpilled
      t.input += m.inputMetrics.bytesRead
      t.peakExecMem = t.peakExecMem max m.peakExecutionMemory
    }
  }
}
