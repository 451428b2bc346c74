package perfbench

import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.storage.StorageLevel

import graft.operators.{Corpus, Sinks, Stats, Vocabulary}
import graft.pipeline.VspaceConfig
import graft.sources.CorpusSources

/** The `vspace-ref` job: the reference pipeline at ≤6-grams with the
  * hashed default and all five sinks. */
object VspaceJob {
  val Layers = Seq("sources", "corpus.normalize", "corpus.grams",
    "vocabulary.filter", "stats.by_source", "stats.global", "sinks")

  def config(in: Path, out: Path): VspaceConfig = VspaceConfig(
    stagingLoc = out.resolve("staging").toString,
    outputFolder = out.toString,
    maxNgrams = VspaceInputs.MaxNgrams,
    splits = None,
    corpus = in.resolve("corpus").toString,
    index2doc = in.resolve("index2doc").toString,
    src2sub = in.resolve("src2sub").toString,
    collections = in.resolve("collections").toString,
    phrases = in.resolve("phrases").toString)

  /** The same job as the layer functions called one by one, each output
    * forced before the next call, with each layer's Spark stages tagged for
    * [[LayerListener]]. Returns the per-layer metrics. `corpus.grams` is too
    * large to cache, so it is timed into the `noop` sink and
    * `vocabulary.filter`, which recomputes it, reports its self time by
    * subtraction. */
  def traced(spark: SparkSession, cfg: VspaceConfig, listener: LayerListener)
      : mutable.LinkedHashMap[String, Double] = {
    val sc = spark.sparkContext
    val walls = mutable.Map[String, Double]()
    val rows = mutable.Map[String, Long]()
    def blockBytes: Long = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
    def layer[T](name: String)(body: => T): T = {
      sc.setLocalProperty(LayerListener.Prop, name)
      val t0 = System.nanoTime()
      try body
      finally {
        walls(name) = (System.nanoTime() - t0) / 1e9
        sc.setLocalProperty(LayerListener.Prop, "aux")
      }
    }
    def cached(df: DataFrame): DataFrame = df.persist(StorageLevel.MEMORY_AND_DISK)
    val out = cfg.outputFolder
    val tTotal = System.nanoTime()

    val (phrases, collections, index, sources, raw) = layer("sources") {
      val loaded = (
        cached(CorpusSources.loadPhrases(spark, cfg.phrases)),
        cached(CorpusSources.loadCollections(spark, cfg.collections)),
        cached(CorpusSources.loadIndex(spark, cfg.index2doc)),
        cached(CorpusSources.loadSources(spark, cfg.src2sub)),
        cached(CorpusSources.loadRawCorpus(spark, cfg.corpus)))
      Seq(loaded._1, loaded._2, loaded._3, loaded._4).foreach(_.count())
      rows("sources") = loaded._5.count()
      loaded
    }

    val cache0 = blockBytes
    val norm = layer("corpus.normalize") {
      val n = cached(Corpus.normalized(raw))
      rows("corpus.normalize") = n.count()
      n
    }
    val normCache = blockBytes - cache0
    raw.unpersist(blocking = true)

    layer("corpus.grams") {
      val obs = Observation("grams")
      Corpus.tokenCountHashesFromNormalized(norm, cfg.maxNgrams)
        .observe(obs, count(lit(1)).as("n"))
        .write.format("noop").mode("overwrite").save()
      rows("corpus.grams") = obs.get("n").asInstanceOf[Long]
    }

    val cache1 = blockBytes
    val (vocabulary, counts) = layer("vocabulary.filter") {
      val v = cached(Vocabulary.build(phrases, collections))
      rows("vocabulary") = v.count()
      val c = cached(Vocabulary.hashedSemiJoinFilter(
        Corpus.tokenCountHashesFromNormalized(norm, cfg.maxNgrams), v))
      rows("vocabulary.filter") = c.count()
      (v, c)
    }
    val filterCache = blockBytes - cache1
    val broadcast = usesBroadcastJoin(spark, counts)

    val bySource = layer("stats.by_source") {
      val s = cached(Stats.computeStatsHashed(
        Stats.combineCorpusWithSources(counts, index, sources), vocabulary, Seq("source")))
      rows("stats.by_source") = s.count()
      s
    }
    val exploded = Stats.combineCorpusWithSources(counts, index, sources).count()

    val global = layer("stats.global") {
      val g = cached(Stats.computeStatsHashed(counts, vocabulary, Seq.empty))
      rows("stats.global") = g.count()
      g
    }

    layer("sinks") {
      Sinks.writeVocabulary(vocabulary, s"$out/vocabulary")
      Sinks.writeNormalizedCorpus(norm, s"$out/normalized_corpus")
      Sinks.writeStatsBySource(bySource, s"$out/stats_by_source")
      Sinks.writeStatsGlobal(global, s"$out/stats_global")
      rows("sinks") = rows("vocabulary") + rows("corpus.normalize") +
        rows("stats.by_source") + rows("stats.global")
    }
    val total = (System.nanoTime() - tTotal) / 1e9
    Seq(phrases, collections, index, sources, norm, vocabulary, counts, bySource, global)
      .foreach(_.unpersist())

    org.apache.spark.PerfbenchBus.drain(sc)
    val m = mutable.LinkedHashMap[String, Double]()
    val grams = listener.totalsOf(Seq("corpus.grams"))
    Layers.foreach { l =>
      val t = listener.totalsOf(Seq(l))
      // the filter's window recomputed the grams: report its self part
      val sub = if (l == "vocabulary.filter") grams else new LayerTotals
      val gramWall = if (l == "vocabulary.filter") walls("corpus.grams") else 0.0
      m(s"$l.wall_s") = walls(l) - gramWall
      m(s"$l.cpu_s") = (t.cpuNs - sub.cpuNs) / 1e9
      m(s"$l.gc_s") = (t.gcMs - sub.gcMs) / 1e3
      m(s"$l.shuffle_write_mb") = (t.shuffleWriteBytes - sub.shuffleWriteBytes) / 1e6
      m(s"$l.spill_mb") = (t.spillBytes - sub.spillBytes) / 1e6
      m(s"$l.rows_out") = rows(l).toDouble
    }
    m("vocabulary.filter.keep_ratio") = rows("vocabulary.filter").toDouble / rows("corpus.grams")
    m("vocabulary.filter.broadcast") = if (broadcast) 1.0 else 0.0
    m("vocabulary.filter.cache_mb") = filterCache / 1e6
    m("corpus.normalize.cache_mb") = normCache / 1e6
    m("stats.by_source.fanout") = exploded.toDouble / rows("vocabulary.filter")
    m("stats.by_source.task_skew") = listener.totalsOf(Seq("stats.by_source")).taskSkew
    m("trace.total_s") = total
    m("trace.coverage") = Layers.map(l => m(s"$l.wall_s")).sum / total
    m
  }

  /** Whether the cached plan of `df` executed a broadcast hash join. */
  private def usesBroadcastJoin(spark: SparkSession, df: DataFrame): Boolean = {
    def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => nodes(q.plan)
      case other => other.children.flatMap(nodes)
    })
    spark.sharedState.cacheManager
      .lookupCachedData(df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]])
      .exists(c => nodes(c.cachedRepresentation.cacheBuilder.cachedPlan)
        .exists(_.isInstanceOf[BroadcastHashJoinExec]))
  }

  /** Output checks against the generator's expected fingerprints. */
  def check(spark: SparkSession, in: Path, out: Path): Seq[(String, Boolean, String)] = {
    val exp = Io.readProps(in.resolve("expected.properties"))
    def fp(prefix: String) = Fingerprint(exp(s"${prefix}_rows").toLong, exp(s"${prefix}_sum").toLong)
    val docs = spark.read.parquet(out.resolve("normalized_corpus").toString).count()
    val global = Fingerprint.ofCsvDir(out.resolve("stats_global"))
    val bySource = Fingerprint.ofCsvDir(out.resolve("stats_by_source"),
      f => f.getParent.getFileName.toString.stripPrefix("source=") + "\t")
    Seq(
      ("normalized_corpus.rows", docs == exp("docs").toLong, s"$docs vs ${exp("docs")}"),
      ("stats_global", global == fp("global"), s"${global.show} vs ${fp("global").show}"),
      ("stats_by_source", bySource == fp("by_source"),
        s"${bySource.show} vs ${fp("by_source").show}"))
  }
}
