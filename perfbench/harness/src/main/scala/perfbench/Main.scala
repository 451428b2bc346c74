package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** JVM entry of the benchmark; `perfbench/run.py` drives it.
  *
  *   gen <workload> <seed> <inputDir> <targetBytes>
  *   setup <workload> <inputDir> <resultFile> <workDir>
  *   job <workload> <inputDir> <outputDir> plain|trace <resultFile> <workDir>
  *
  * `setup` builds a fresh session, opens the inputs, records the time and
  * exits: one set-up sample. `job` does the same set-up and, in mode
  * `plain`, runs the job once cold, which pays JIT warm-up and code
  * generation, then [[WarmRuns]] times warm. Mode `trace` makes one cold
  * and one warm untraced run, then one traced run reporting per-layer
  * metrics. Every run's outputs are checked. One JSON result is written. */
object Main {
  /** Warm runs after the cold one in mode `plain`. */
  val WarmRuns = 2

  def session(workload: String, work: Path): SparkSession = {
    val b = SparkSession.builder()
      .master("local[4]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
    // DataPipelineBench.main's session: serialized checkpoints compress
    if (workload == "datapipe-dense") b.config("spark.rdd.compress", "true")
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    args.toList match {
      case "gen" :: workload :: seed :: in :: bytes :: Nil =>
        gen(workload, seed.toLong, Paths.get(in), bytes.toLong)
      case "setup" :: workload :: in :: result :: work :: Nil =>
        setup(workload, Paths.get(in), Paths.get(result), Paths.get(work))
      case "job" :: workload :: in :: out :: mode :: result :: work :: Nil
          if mode == "plain" || mode == "trace" =>
        job(workload, Paths.get(in), Paths.get(out), mode, Paths.get(result), Paths.get(work))
      case _ =>
        System.err.println("usage: gen <workload> <seed> <inputDir> <targetBytes> | " +
          "setup <workload> <inputDir> <resultFile> <workDir> | " +
          "job <workload> <inputDir> <outputDir> plain|trace <resultFile> <workDir>")
        sys.exit(2)
    }
  }

  private def gen(workload: String, seed: Long, in: Path, bytes: Long): Unit = {
    Files.createDirectories(in)
    workload match {
      case "vspace-ref" => VspaceInputs.generate(seed, in, bytes)
      case "datapipe-dense" => DpInputs.generate(seed, in, bytes)
    }
  }

  private def canary(): (Double, Double) = (graft.HostCanary.sec(), graft.HostCanary.parSec())

  private def epochSeconds(): Double = {
    val now = java.time.Instant.now(); now.getEpochSecond + now.getNano / 1e9
  }

  /** The `datapipe-dense` inputs opened, or None for `vspace-ref`, whose
    * pipeline opens its own. */
  private def openInputs(spark: SparkSession, workload: String, in: Path,
      out: Path): Option[DpJob] =
    if (workload == "datapipe-dense") Some(new DpJob(spark, in, out)) else None

  private def setup(workload: String, in: Path, result: Path, work: Path): Unit = {
    val spark = session(workload, work)
    try {
      openInputs(spark, workload, in, work.resolve("out"))
      Io.writeText(result, Io.json(Map("call_epoch_s" -> epochSeconds())))
    } finally spark.stop()
  }

  private def job(workload: String, in: Path, out: Path, mode: String, result: Path,
      work: Path): Unit = {
    val r = mutable.LinkedHashMap[String, Any]()
    var spark: SparkSession = null
    try {
      spark = session(workload, work)
      val sc = spark.sparkContext
      val probe = new JvmProbe(sc)
      // inputs opened before the call; the vspace pipeline opens its own
      val dp = openInputs(spark, workload, in, out)
      val cfg = VspaceJob.config(in, out)
      val tCanary = System.nanoTime()
      val (preSec, prePar) = canary()
      r("canary_pre_spent_s") = (System.nanoTime() - tCanary) / 1e9
      r("loadavg_pre") = graft.HostCanary.loadAvg()
      r("call_epoch_s") = epochSeconds()

      val listener = new LayerListener
      val reps = mutable.ArrayBuffer[mutable.LinkedHashMap[String, Any]]()
      /** One run of the job, timed and checked; traced when `traced`. */
      def rep(traced: Boolean): Unit = {
        val m = mutable.LinkedHashMap[String, Any]("traced" -> traced)
        reps += m
        if (traced) sc.addSparkListener(listener)
        try {
          probe.start()
          val t0 = System.nanoTime()
          val layers: collection.Map[String, Double] = (dp, traced) match {
            case (Some(d), true) => d.traced(listener)
            case (Some(d), false) => d.run(); Map.empty
            case (None, true) => VspaceJob.traced(spark, cfg, listener)
            case (None, false) => graft.pipeline.VspacePipeline.run(spark, cfg); Map.empty
          }
          m("job_s") = (System.nanoTime() - t0) / 1e9
          val (cpuS, blockPeak) = probe.stop()
          m("cpu_s") = cpuS
          m("heap_peak_mb") = blockPeak / 1e6
          if (traced) r("layers") = layers
          val checks = dp.map(_.check()).getOrElse(VspaceJob.check(spark, in, out))
          m("checks") = checks.map { case (n, ok, d) => Map("name" -> n, "ok" -> ok, "detail" -> d) }
          m("ok") = checks.forall(_._2)
        } catch {
          case t: Throwable =>
            m("ok") = false
            m("error") = t.toString + "\n" + t.getStackTrace.take(30).mkString("\n")
        } finally {
          if (traced) sc.removeSparkListener(listener)
          // what a run leaves in the block store is not the next run's
          sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
        }
      }
      if (mode == "trace") { rep(false); rep(false); rep(true) }
      else (0 to WarmRuns).foreach(_ => rep(false))
      val (postSec, postPar) = canary()
      r("canary") = Map("sec_pre" -> preSec, "par_sec_pre" -> prePar,
        "sec_post" -> postSec, "par_sec_post" -> postPar,
        "loadavg_post" -> graft.HostCanary.loadAvg())
      r("reps") = reps
      r("ok") = reps.forall(_("ok") == true)
      r("spark_conf") = spark.conf.getAll.filterNot(_._1.startsWith("spark.app.")).toSeq.sorted.toMap
    } catch {
      case t: Throwable =>
        r("ok") = false
        r("error") = t.toString + "\n" + t.getStackTrace.take(30).mkString("\n")
    } finally {
      r("jvm_flags") = ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toSeq
      r("cores") = Runtime.getRuntime.availableProcessors()
      Io.writeText(result, Io.json(r))
      if (spark != null) spark.stop()
    }
  }
}
