package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, sum, xxhash64}
import org.apache.spark.storage.StorageLevel

import graft.tools.DataPipelineBench

/** The `datapipe-dense` job: `DataPipelineBench.run` over the generated
  * corpus, held-out evaluation set and planted-contamination ids. */
final class DpJob(spark: SparkSession, in: Path, out: Path) {
  val corpus: DataFrame = spark.read.parquet(in.resolve("docs").toString)
  val bench: DataFrame = spark.read.parquet(in.resolve("bench").toString)
  val planted: DataFrame = spark.read.schema("doc_id BIGINT").csv(in.resolve("planted.txt").toString)
  private var counts: Map[String, Long] = Map.empty

  /** Runs the pipeline; `lapSink` receives each stage window as it closes. */
  def run(lapSink: (String, Double) => Unit = (_, _) => ()): Unit =
    counts = DataPipelineBench.run(spark, corpus, bench, out.toString, Some(planted),
      lapSink = lapSink,
      // the serialized checkpoint level DataPipelineBench.main runs with
      ckptLevel = Some(StorageLevel.MEMORY_AND_DISK_SER)).toMap

  /** Runs the pipeline with each Spark stage attributed to the stage window
    * `run` reports it in, and returns the per-stage metrics. */
  def traced(listener: LayerListener): mutable.LinkedHashMap[String, Double] = {
    val sc = spark.sparkContext
    val windows = mutable.ArrayBuffer[(String, Double)]()
    sc.setLocalProperty(LayerListener.Prop, "w0")
    val t0 = System.nanoTime()
    run((name, secs) => {
      windows += name -> secs
      sc.setLocalProperty(LayerListener.Prop, s"w${windows.length}")
    })
    val total = (System.nanoTime() - t0) / 1e9
    sc.setLocalProperty(LayerListener.Prop, "aux")
    org.apache.spark.PerfbenchBus.drain(sc)

    val m = mutable.LinkedHashMap[String, Double]()
    for (stage <- DpJob.Stages) {
      val ws = windows.indices.filter(i => DpJob.stageOf(windows(i)._1).contains(stage))
      val t = listener.totalsOf(ws.map(i => s"w$i"))
      m(s"$stage.wall_s") = ws.map(windows(_)._2).sum
      m(s"$stage.cpu_s") = t.cpuNs / 1e9
      m(s"$stage.shuffle_write_mb") = t.shuffleWriteBytes / 1e6
      m(s"$stage.spill_mb") = t.spillBytes / 1e6
      if (stage == "dp.near_cands") m("dp.near_cands.task_skew") = t.taskSkew
    }
    m("dp.near_verify.pairs_per_candidate") =
      counts("near_verified_pairs").toDouble / math.max(1L, counts("near_candidates"))
    m("trace.total_s") = total
    m("trace.coverage") = DpJob.Stages.map(s => m(s"$s.wall_s")).sum / total
    m
  }

  /** Output checks: survivor counts against the generator's ground truth,
    * the planted contamination caught, and the kept-id checksum equal to
    * the one first recorded with these inputs, which are kept per build:
    * it must repeat across the runs of one seed, and no other build's
    * survivors are compared. */
  def check(): Seq[(String, Boolean, String)] = {
    val exp = Io.readProps(in.resolve("expected.properties"))
    def same(k: String) = (s"counts.$k", counts(k) == exp(k).toLong, s"${counts(k)} vs ${exp(k)}")
    val nPlanted = exp("planted").toLong
    val caught = counts("planted_after_near") - counts("planted_after_decontam")
    // 32-bit hashes summed as longs: no overflow under ANSI arithmetic
    val kept = spark.read.parquet(out.toString)
      .agg(count(lit(1)), sum(xxhash64(col("doc_id")).bitwiseAND(0xffffffffL))).head()
    val keptId = s"${kept.getLong(0)}:${kept.getLong(1)}"
    val keptFile = in.resolve("kept-ids.txt")
    if (!Files.exists(keptFile)) Io.writeText(keptFile, keptId)
    val firstKept = new String(Files.readAllBytes(keptFile), "UTF-8")
    Seq(same("docs_in"), same("after_quality"), same("after_exact_dedup"),
      ("decontam.caught", caught >= 0.9 * nPlanted, s"$caught of $nPlanted planted"),
      ("kept_ids", keptId == firstKept, s"$keptId vs first $firstKept"))
  }
}

object DpJob {
  val Stages = Seq("dp.scan_score", "dp.exact_dedup", "dp.near_cands",
    "dp.near_verify", "dp.near_cc", "dp.decontam", "dp.split_write")

  /** The named stage a window reported by `DataPipelineBench.run` belongs
    * to; windows outside the named stages (quality, keep-best, read-back
    * counts) count against coverage. */
  def stageOf(window: String): Option[String] = window match {
    case "scan+score" => Some("dp.scan_score")
    case "exact_dedup" => Some("dp.exact_dedup")
    case w if w.startsWith("near:cands") || w == "near:bands" => Some("dp.near_cands")
    case "near:verify" => Some("dp.near_verify")
    case "near:cc" => Some("dp.near_cc")
    case "decontam" => Some("dp.decontam")
    case "split_write" => Some("dp.split_write")
    case _ => None
  }
}
