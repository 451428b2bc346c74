package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageSubmitted, SparkListenerTaskEnd}

/** Executor-side totals of one layer, summed over its tasks. */
final class LayerTotals {
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  /** task durations (ms) per stage id */
  val stageTasks: mutable.Map[Int, ArrayBuffer[Long]] = mutable.Map()

  def +=(o: LayerTotals): Unit = {
    cpuNs += o.cpuNs; gcMs += o.gcMs
    shuffleWriteBytes += o.shuffleWriteBytes; spillBytes += o.spillBytes
    o.stageTasks.foreach { case (s, t) => stageTasks.getOrElseUpdate(s, ArrayBuffer()) ++= t }
  }

  /** max / median task time of the layer's heaviest stage (1 if trivial). */
  def taskSkew: Double =
    if (stageTasks.isEmpty) 1.0
    else {
      val ts = stageTasks.values.maxBy(_.sum).sorted
      val median = ts(ts.length / 2)
      if (median <= 0) 1.0 else ts.last.toDouble / median
    }
}

/** Attributes Spark task metrics to layers. The benchmark sets the local
  * property [[LayerListener.Prop]] before each layer call; every stage a
  * job submits carries it, and each finished task's metrics are summed
  * under its stage's layer. */
final class LayerListener extends SparkListener {
  private val stageLayer = mutable.Map[Int, String]()
  private val totals = mutable.Map[String, LayerTotals]()

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val layer = Option(e.properties).flatMap(p => Option(p.getProperty(LayerListener.Prop)))
    stageLayer(e.stageInfo.stageId) = layer.getOrElse(LayerListener.Unattributed)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val t = totals.getOrElseUpdate(
        stageLayer.getOrElse(e.stageId, LayerListener.Unattributed), new LayerTotals)
      t.cpuNs += m.executorCpuTime + m.executorDeserializeCpuTime
      t.gcMs += m.jvmGCTime
      t.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      t.spillBytes += m.diskBytesSpilled
      t.stageTasks.getOrElseUpdate(e.stageId, ArrayBuffer()) += e.taskInfo.duration
    }
  }

  /** Totals of `layers` combined; read after the listener bus is drained. */
  def totalsOf(layers: Seq[String]): LayerTotals = synchronized {
    val out = new LayerTotals
    layers.flatMap(totals.get).foreach(out += _)
    out
  }

}

object LayerListener {
  val Prop = "perfbench.layer"
  val Unattributed = "unattributed"
}

/** Process CPU time and peak memory over one job. The peak is the
  * in-memory size of persisted frames and checkpoints (sampled every 50 ms),
  * which the plan and the data fix. Broadcast blocks are left out: they stay
  * in the block store until a GC lets the cleaner drop them. */
final class JvmProbe(sc: SparkContext) {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  @volatile private var active = false
  @volatile private var storagePeak = 0L
  private var cpu0 = 0L

  private val sampler = new Thread(() => {
    while (true) {
      if (active) {
        val used = sc.getRDDStorageInfo.map(_.memSize).sum
        if (used > storagePeak) storagePeak = used
      }
      Thread.sleep(50)
    }
  }, "perfbench-memory-sampler")
  sampler.setDaemon(true)
  sampler.start()

  def start(): Unit = {
    storagePeak = 0L
    cpu0 = os.getProcessCpuTime; active = true
  }

  /** (process CPU seconds, peak block bytes) since [[start]]. */
  def stop(): (Double, Long) = {
    val cpu = (os.getProcessCpuTime - cpu0) / 1e9
    active = false
    (cpu, storagePeak)
  }
}
