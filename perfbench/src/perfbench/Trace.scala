package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Work one span's Spark jobs did, summed from the listener's task ends. */
final class Counters {
  var jobs = 0L
  var tasks = 0L
  var taskMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var rowsIn = 0L
  var rowsOut = 0L
  var bytesOut = 0L

  def +=(o: Counters): Unit = {
    jobs += o.jobs; tasks += o.tasks; taskMs += o.taskMs; shuffleBytes += o.shuffleBytes
    spillBytes += o.spillBytes; rowsIn += o.rowsIn; rowsOut += o.rowsOut; bytesOut += o.bytesOut
  }
}

final case class Span(id: Int, name: String, parent: Int, epoch: Int,
                      startNs: Long, endNs: Long, counters: Counters) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans around the benchmark's own calls into the program.
  *
  * Each span sets a Spark job group named after its id, so the listener can
  * charge every job, and the tasks of the job's stages, to the innermost open
  * span. Spans stay in memory and are written out when the run ends. The
  * listener is registered only while a traced iteration runs ([[listening]]);
  * untraced work sets no job group and has no listener.
  */
final class Tracer {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Int]
  private var nextId = 0
  var epoch: Int = -1
  var on: Boolean = false

  // listener state, written on the listener bus thread
  private val stageSpan = mutable.Map.empty[Int, Int]
  private val counters = mutable.Map.empty[Int, Counters]
  private val jobSpan = mutable.Map.empty[Int, Int]
  private val jobStartMs = mutable.Map.empty[Int, Long]
  /** (span id, job start ms, job end ms) of every finished job. */
  val jobs = mutable.ArrayBuffer.empty[(Int, Long, Long)]
  private val GroupPrefix = "perfbench-span-"

  private def countersOf(id: Int): Counters = counters.getOrElseUpdate(id, new Counters)

  val listener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      val id = g.filter(_.startsWith(GroupPrefix)).map(_.stripPrefix(GroupPrefix).toInt).getOrElse(-1)
      e.stageIds.foreach(s => stageSpan(s) = id)
      jobSpan(e.jobId) = id
      jobStartMs(e.jobId) = e.time
      countersOf(id).jobs += 1
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs += ((jobSpan.getOrElse(e.jobId, -1), jobStartMs.getOrElse(e.jobId, e.time), e.time))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val c = countersOf(stageSpan.getOrElse(e.stageId, -1))
      c.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        c.taskMs += m.executorRunTime
        c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        c.rowsIn += m.inputMetrics.recordsRead
        c.rowsOut += m.outputMetrics.recordsWritten
        c.bytesOut += m.outputMetrics.bytesWritten
      }
    }
  }

  /** Run `body` with the listener registered when tracing is on. Afterwards
    * wait until the listener has seen every event `body` posted, then remove
    * it, so untraced work never pays for it and a traced iteration's time
    * holds the listener's whole cost.
    */
  def listening[A](spark: SparkSession)(body: => A): A =
    if (!on) body
    else {
      val sc = spark.sparkContext
      sc.addSparkListener(listener)
      try body
      finally {
        org.apache.spark.PerfbenchBus.waitUntilEmpty(sc)
        sc.removeSparkListener(listener)
      }
    }

  def span[A](spark: SparkSession, name: String)(body: => A): A =
    if (!on) body
    else {
      val sc = spark.sparkContext
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack.push(id)
      sc.setJobGroup(GroupPrefix + id, name)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.pop()
        if (stack.nonEmpty) sc.setJobGroup(GroupPrefix + stack.head, "") else sc.clearJobGroup()
        spans += Span(id, name, parent, epoch, t0, t1, new Counters)
      }
    }

  /** Every span with its own jobs' counters filled in. */
  def finished: Seq[Span] = synchronized {
    spans.toSeq.map(s => s.copy(counters = counters.getOrElse(s.id, new Counters)))
  }

  /** Wall time of `s` that no Spark job of `ids` covers, in seconds. */
  def driverSeconds(s: Span, ids: Set[Int], nsToMs: Long => Double): Double = synchronized {
    val lo = nsToMs(s.startNs)
    val hi = nsToMs(s.endNs)
    val iv = jobs
      .collect { case (id, a, b) if ids.contains(id) => (math.max(a.toDouble, lo), math.min(b.toDouble, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    iv.foreach { case (a, b) =>
      if (curA.isNaN || a > curB) {
        if (!curA.isNaN) covered += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curA.isNaN) covered += curB - curA
    math.max(0.0, (hi - lo) - covered) / 1000.0
  }
}

/** JVM-wide counters the traced run reports on every workload. */
object Jvm {
  def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ >= 0).sum / 1000.0

  /** Heap in use right after the latest collection of each heap pool, MB. */
  def heapAfterGcMb: Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1048576.0
}
