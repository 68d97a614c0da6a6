package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory span recorder. Disabled, `span` is a plain call of its body. */
final class Trace(val enabled: Boolean) {
  val spans = mutable.ArrayBuffer[mutable.LinkedHashMap[String, Any]]()
  private var stack: List[Int] = Nil
  private var started = 0

  def span[T](name: String, attrs: (String, Any)*)(body: => T): T =
    if (!enabled) body
    else {
      started += 1
      val id = started
      val parent = stack.headOption.getOrElse(0)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack = stack.tail
        spans += (mutable.LinkedHashMap[String, Any]("id" -> id, "parent" -> parent,
          "name" -> name, "start_ns" -> t0, "end_ns" -> t1) ++= attrs)
      }
    }
}

/** Per-pass layer counters, from public Spark listeners and `/proc/self/io`.
  *
  * The streaming progress listener is always registered: the trigger
  * durations behind `batch_p50_ms` come from it. The execution and planning
  * listeners are registered only in traced runs. Between passes the listener
  * bus is drained, so each pass's events land in that pass's counters.
  */
final class Layers(spark: SparkSession, traced: Boolean) {
  /** Trigger durations (ms) of every micro-batch, one buffer per pass. */
  val triggerMs = mutable.ArrayBuffer[mutable.ArrayBuffer[Double]]()
  private val acc = mutable.Map[String, Double]().withDefaultValue(0.0)
  private var io0 = Map.empty[String, Long]

  private def add(k: String, v: Double): Unit = acc.synchronized(acc(k) += v)
  private def max(k: String, v: Double): Unit = acc.synchronized(acc(k) = math.max(acc(k), v))
  private def set(k: String, v: Double): Unit = acc.synchronized(acc(k) = v)

  spark.streams.addListener(new StreamingQueryListener {
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs
      def ms(k: String): Double = Option(d.get(k)).map(_.doubleValue).getOrElse(0.0)
      acc.synchronized(triggerMs.last += ms("triggerExecution"))
      if (traced) {
        add("streaming.batches", 1)
        Seq("addBatch", "queryPlanning", "walCommit", "commitOffsets", "latestOffset")
          .foreach(k => add(s"streaming.${k}_ms", ms(k)))
        val ops = p.stateOperators.toSeq
        set("streaming.state_rows", ops.map(_.numRowsTotal).sum.toDouble)
        set("streaming.state_mb", ops.map(_.memoryUsedBytes).sum / 1048576.0)
        add("streaming.state_commit_ms", ops.map(_.commitTimeMs).sum.toDouble)
      }
    }
  })

  if (traced) {
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = add("exec.stages", 1)
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        add("exec.tasks", 1)
        val m = e.taskMetrics
        if (m != null) {
          add("exec.task_s", m.executorRunTime / 1e3)
          add("exec.cpu_s", m.executorCpuTime / 1e9)
          add("exec.gc_s", m.jvmGCTime / 1e3)
          add("exec.shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / 1048576.0)
          add("exec.shuffle_read_mb", m.shuffleReadMetrics.totalBytesRead / 1048576.0)
          add("exec.spill_mb", m.diskBytesSpilled / 1048576.0)
          max("exec.peak_exec_mb", m.peakExecutionMemory / 1048576.0)
          add("exec.input_rows", m.inputMetrics.recordsRead.toDouble)
        }
      }
    })
    spark.listenerManager.register(new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = phases(qe)
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = phases(qe)
      private def phases(qe: QueryExecution): Unit =
        qe.tracker.phases.foreach { case (phase, s) => add(s"plan.${phase}_ms", s.durationMs.toDouble) }
    })
  }

  def passStart(): Unit = {
    org.apache.spark.BusDrain(spark.sparkContext)
    acc.synchronized { acc.clear(); triggerMs += mutable.ArrayBuffer[Double]() }
    io0 = Layers.procIo()
  }

  def passEnd(): Map[String, Double] = {
    org.apache.spark.BusDrain(spark.sparkContext)
    val io = Layers.procIo()
    if (traced) {
      set("io.read_mb", (io("rchar") - io0("rchar")) / 1048576.0)
      set("io.write_mb", (io("wchar") - io0("wchar")) / 1048576.0)
    }
    acc.synchronized(acc.toMap)
  }
}

object Layers {
  private def procFields(path: String): Map[String, String] = {
    val src = scala.io.Source.fromFile(path)
    try src.getLines().flatMap { l =>
      l.split(":", 2) match { case Array(k, v) => Some(k.trim -> v.trim); case _ => None }
    }.toMap
    finally src.close()
  }

  /** Bytes this process moved through read/write system calls. */
  def procIo(): Map[String, Long] =
    procFields("/proc/self/io").collect { case (k, v) if k == "rchar" || k == "wchar" => k -> v.toLong }

  def procStatusKb(field: String): Double =
    procFields("/proc/self/status").get(field).map(_.stripSuffix("kB").trim.toDouble).getOrElse(0.0)
}
