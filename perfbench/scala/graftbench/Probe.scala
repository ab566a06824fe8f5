package graftbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Task, job and block counters of one job group. */
final class Agg {
  var jobs = 0L
  var cpuNs = 0L
  var runMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  def +=(o: Agg): Unit = {
    jobs += o.jobs; cpuNs += o.cpuNs; runMs += o.runMs
    shuffleBytes += o.shuffleBytes; spillBytes += o.spillBytes
  }
}

/** Listener for both runs. Untraced, it keeps the memory figures and
  * the scan record count of the current window; traced, the
  * same events are also summed per job group so that spans can claim
  * them. All callbacks run on the listener bus thread; readers call
  * [[org.apache.spark.graftbench.Bus.drain]] first. */
final class Probe extends SparkListener {
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val groups = mutable.HashMap[String, Agg]()
  private val blocks = mutable.HashMap[String, Long]()
  private var stored = 0L
  private var execPeak = 0L
  private var records = 0L

  private def agg(g: String): Agg = groups.getOrElseUpdate(g, new Agg)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    val a = agg(g)
    a.jobs += 1
    e.stageIds.foreach(stageGroup.put(_, g))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val a = agg(Option(stageGroup.get(e.stageId)).getOrElse(""))
      a.cpuNs += m.executorCpuTime
      a.runMs += m.executorRunTime
      a.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
      a.spillBytes += m.diskBytesSpilled
      execPeak = math.max(execPeak, m.peakExecutionMemory)
      records += m.inputMetrics.recordsRead
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val i = e.blockUpdatedInfo
    val key = s"${i.blockManagerId.executorId}/${i.blockId.name}"
    val before = blocks.getOrElse(key, 0L)
    if (i.memSize > 0) blocks(key) = i.memSize else blocks.remove(key)
    stored += math.max(0L, i.memSize - before)
  }

  /** Start a measurement window. */
  def resetWindow(): Unit = synchronized { stored = 0L; execPeak = 0L; records = 0L }

  /** Memory blocks the window stored (staged cuts and caches, each at
    * its largest size). Stored rather than held at once: how many blocks
    * overlap depends on when asynchronous frees land. */
  def windowStoredBytes: Long = synchronized { stored }
  /** The largest task execution peak of the window. */
  def windowExecPeakBytes: Long = synchronized { execPeak }
  def windowRecords: Long = synchronized { records }

  def groupAgg(names: Iterable[String]): Agg = synchronized {
    val out = new Agg
    names.foreach(n => groups.get(n).foreach(out += _))
    out
  }
}

/** Collects named `observe()` metrics of finished actions. */
final class Observed extends QueryExecutionListener {
  private val last = mutable.HashMap[String, Map[String, Long]]()
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized {
      qe.observedMetrics.foreach { case (name, row) =>
        last(name) = row.schema.fieldNames.map { f =>
          f -> Option(row.getAs[Any](f)).map(_.toString.toDouble.toLong).getOrElse(0L)
        }.toMap
      }
    }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  def take(name: String): Map[String, Long] = synchronized {
    last.remove(name).getOrElse(Map.empty)
  }
}
