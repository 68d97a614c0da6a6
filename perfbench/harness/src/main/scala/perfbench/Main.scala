package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import graft.{Engine, JobRunner, SparkEntry}
import org.apache.spark.sql.SparkSession

/** One benchmark run of one workload, in a fresh JVM.
  *
  * The program is driven only through its public entry points
  * (`Engine.session`, `Engine.parseConfig`, `JobRunner.run`,
  * `JobRunner.runStreaming`, `SparkEntry.queries`). Every timed operation
  * evaluates the full output a caller gets: the parquet board write for the
  * configured job, the `noop` sink for a query key. Nothing is timed through
  * `count()`.
  *
  * A run is: set-up (session + inputs readable), one cold pass, then measured
  * passes until `--seconds` have elapsed and at least `--min-passes` have
  * run. Each operation records its wall time and the CPU time of the whole
  * process (JIT and GC threads included). The raw timings, the per-pass
  * layer counters and (with `--trace 1`) the span tree go to
  * `<out>/result.json` and `<out>/trace.json`; `run.py` checks the outputs and
  * turns the raw numbers into metrics.
  *
  * Usage (normally through run.py):
  *   Main --workload topn|query_mix --seconds N --trace 0|1
  *        --data DIR --out DIR --cores N --min-passes N --spawned-at-ns EPOCH_NS
  *        [--keys k1,k2,...] [--setup-only 1]
  */
object Main {

  final case class Op(name: String, pass: Int, seconds: Double, cpuSeconds: Double, ok: Boolean,
      error: String)

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seconds = opt("seconds").toDouble
    val trace = new Trace(opt.get("trace").contains("1"))
    val data = opt("data")
    val out = opt("out")
    val setupOnly = opt.get("setup-only").contains("1")
    val keys = opt.getOrElse("keys", "").split(",").filter(_.nonEmpty).toSeq

    val spark = trace.span("engine.session") {
      Engine.session(appName = s"perfbench-$workload", cores = opt("cores").toInt)
    }
    val inputs = workload match {
      case "topn" => Seq(s"$data/topn", s"$data/topn_event_time")
      case "query_mix" => graft.Tables.names.map(t => s"$data/corpus/$t.parquet")
      case other => sys.error(s"unknown workload $other")
    }
    trace.span("inputs.open") { inputs.foreach(p => spark.read.parquet(p).schema) }
    val setupS = (epochNanos() - opt("spawned-at-ns").toLong) / 1e9
    val result = mutable.LinkedHashMap[String, Any]("workload" -> workload, "setup_s" -> setupS)
    if (setupOnly) {
      spark.stop()
      writeJson(s"$out/result.json", result)
      return
    }

    val layers = new Layers(spark, trace.enabled)
    val ops = mutable.ArrayBuffer[Op]()
    val passWall = mutable.ArrayBuffer[Double]()
    val passLayers = mutable.ArrayBuffer[Map[String, Double]]()
    def timedOp(name: String, pass: Int)(body: => Unit): Double = {
      val cpu0 = processCpuNanos()
      val t0 = System.nanoTime()
      val err =
        try { trace.span(name, "pass" -> pass)(body); "" }
        catch { case NonFatal(e) => e.toString }
      val s = (System.nanoTime() - t0) / 1e9
      val cpuS = (processCpuNanos() - cpu0) / 1e9
      if (err.nonEmpty) System.err.println(s"[perfbench] $name pass $pass failed: $err")
      ops += Op(name, pass, s, cpuS, err.isEmpty, err)
      s
    }

    // One round of operations per pass: the configured top-N job in batch
    // mode and in streaming mode, each what JobRunner.main does for its
    // config, then the batch event-time job (outside the pass's wall time).
    val round: Int => Double = workload match {
      case "topn" => pass => {
        val batch = timedOp("topn_batch_job", pass) {
          trace.span("jobrunner.run") {
            val cfg = Engine.parseConfig(jobYaml(s"$data/topn", s"$out/boards/batch_$pass", "batch", None))
            val board = JobRunner.run(spark.read.parquet(cfg.inputPath), cfg)
            trace.span("jobrunner.board_write")(board.write.mode("overwrite").parquet(cfg.outputPath))
          }
        }
        val stream = timedOp("topn_stream_job", pass) {
          val cfg = Engine.parseConfig(jobYaml(s"$data/topn", s"$out/boards/stream_$pass", "streaming", None))
          val board = trace.span("jobrunner.run_streaming")(JobRunner.runStreaming(spark, cfg))
          trace.span("jobrunner.board_write")(board.write.mode("overwrite").parquet(cfg.outputPath))
        }
        timedOp("jobrunner.event_time_run", pass) {
          val cfg = Engine.parseConfig(jobYaml(s"$data/topn_event_time",
            s"$out/boards/event_time_$pass", "batch", Some("ts")))
          JobRunner.run(spark.read.parquet(cfg.inputPath), cfg)
            .write.mode("overwrite").parquet(cfg.outputPath)
        }
        batch + stream
      }
      case "query_mix" =>
        val queries = SparkEntry.queries
        pass => keys.map { k =>
          timedOp(k, pass) {
            queries(k)(spark, s"$data/corpus").write.format("noop").mode("overwrite").save()
          }
        }.sum
    }

    // Pass 0 is the cold pass. The measured passes run until `seconds` have
    // elapsed since the first of them started and at least `min-passes` ran.
    val minPasses = opt("min-passes").toInt
    var measureStart = 0L
    var pass = 0
    while (pass <= minPasses || (System.nanoTime() - measureStart) / 1e9 < seconds) {
      if (pass == 1) measureStart = System.nanoTime()
      layers.passStart()
      passWall += trace.span("pass", "pass" -> pass)(round(pass))
      passLayers += layers.passEnd()
      System.gc()
      pass += 1
    }
    val peakRssMb = Layers.procStatusKb("VmHWM") / 1024.0

    if (workload == "query_mix") {
      // Outputs to check, taken outside the timed region from the same
      // functions, plus the oracle SQL that run.py evaluates in DuckDB.
      val queries = SparkEntry.queries
      val oracle = SparkEntry.oracleSql
      keys.foreach { k =>
        try queries(k)(spark, s"$data/corpus").coalesce(1).write.mode("overwrite")
          .parquet(s"$out/check/$k")
        catch { case NonFatal(e) => System.err.println(s"[perfbench] check output $k failed: $e") }
      }
      writeJson(s"$out/check/oracle_sql.json",
        mutable.LinkedHashMap[String, Any](keys.flatMap(k => oracle.get(k).map(k -> _)): _*))
    }

    result ++= Seq(
      "peak_rss_mb" -> peakRssMb,
      "pass_wall_s" -> passWall.toSeq,
      "ops" -> ops.toSeq,
      "trigger_ms" -> layers.triggerMs.toSeq.map(_.toSeq),
      "layers" -> passLayers.toSeq)
    spark.stop()
    writeJson(s"$out/result.json", result)
    if (trace.enabled) writeJson(s"$out/trace.json",
      mutable.LinkedHashMap[String, Any]("workload" -> workload, "spans" -> trace.spans))
  }

  /** The paper's declared config shape (`config/config_dev.yaml`). */
  def jobYaml(input: String, output: String, mode: String, eventTime: Option[String]): String =
    s"""env: bench
       |input:
       |  path: $input
       |output:
       |  path: $output
       |processing:
       |  group_by_column: region
       |  target_metric: sales
       |  top_n: 3
       |  mode: $mode
       |""".stripMargin + eventTime.map(c => s"  event_time_column: $c\n").getOrElse("")

  /** CPU time of every thread of this process, JIT and GC included. */
  def processCpuNanos(): Long = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  def epochNanos(): Long = {
    val now = java.time.Instant.now()
    now.getEpochSecond * 1000000000L + now.getNano
  }

  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  def writeJson(path: String, value: Any): Unit = {
    Files.createDirectories(Paths.get(path).getParent)
    json.writeValue(new File(path), value)
  }
}
