package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

/** Empirical scaling probe for the dedup/ANN family: runs each query
  * at two scale factors and reports wall time, SHUFFLE BYTES (from
  * the stage-metrics listener — the quantity that decides 100 TB
  * viability, wall-time alone hides constant factors), and the
  * LSH/prefix CANDIDATE-PAIR counts whose data-proportional growth is
  * the equi-join bound's empirical check. Output: one JSON line per
  * (query, sf). Results are recorded in BASELINE.md.
  *
  * Shuffle bytes are attributed PER JOB GROUP (each measured query
  * runs under its own `setJobGroup`), so late-arriving stage-completed
  * events from a previous query land in that query's own counter and
  * can never bleed into the next measurement — the failure mode of
  * the earlier global-counter + fixed-sleep design. The untimed row
  * count after each measurement runs under a separate throwaway group
  * for the same reason.
  */
object ScaleProbe {

  /** Stage-completed shuffle metrics bucketed by the owning job group
    * (stage → group resolved from SparkListenerJobStart properties). */
  private final class GroupShuffleListener extends SparkListener {
    private val stageGroup = new ConcurrentHashMap[Int, String]()
    private val read = new ConcurrentHashMap[String, AtomicLong]()
    private val write = new ConcurrentHashMap[String, AtomicLong]()

    override def onJobStart(ev: SparkListenerJobStart): Unit = {
      val g = Option(ev.properties)
        .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .getOrElse("")
      ev.stageIds.foreach(id => stageGroup.put(id, g))
    }

    override def onStageCompleted(ev: SparkListenerStageCompleted): Unit = {
      val g = stageGroup.getOrDefault(ev.stageInfo.stageId, "")
      val m = ev.stageInfo.taskMetrics
      if (m != null) {
        read.computeIfAbsent(g, _ => new AtomicLong)
          .addAndGet(m.shuffleReadMetrics.totalBytesRead)
        write.computeIfAbsent(g, _ => new AtomicLong)
          .addAndGet(m.shuffleWriteMetrics.bytesWritten)
      }
    }

    def bytes(g: String): (Long, Long) =
      (Option(read.get(g)).fold(0L)(_.get), Option(write.get(g)).fold(0L)(_.get))

    /** Wait until the async listener bus has delivered everything for
      * `g`: three identical reads over 600 ms, capped at 10 s. A
      * backlogged bus could in principle still pause longer than the
      * stability window — group attribution guarantees any straggler
      * lands in its OWN query's counter (never the next one's), so
      * the residual risk is an undercount for this query only; a cap
      * hit is reported on stderr instead of passing silently. */
    def settled(g: String): (Long, Long) = {
      var stable = 0
      var prev = (-1L, -1L)
      var cur = bytes(g)
      var waited = 0
      while (stable < 2 && waited < 10000) {
        Thread.sleep(200); waited += 200
        prev = cur; cur = bytes(g)
        if (cur == prev) stable += 1 else stable = 0
      }
      if (stable < 2)
        System.err.println(s"[probe] WARN: listener not settled for $g after 10s")
      cur
    }
  }

  def main(args: Array[String]): Unit = {
    val spark = Sessions.local(Sessions.cpus(32))
    spark.sparkContext.setLogLevel("WARN")

    val listener = new GroupShuffleListener
    spark.sparkContext.addSparkListener(listener)

    val qs: Seq[(String, (SparkSession, String) => org.apache.spark.sql.DataFrame)] = Seq(
      "c01_dedup_exact" -> operators.DedupOps.c01Exact _,
      "c02_cand" -> operators.DedupOps.c02Cand _,
      "c02_dedup_minhash" -> operators.DedupOps.c02MinhashLsh _,
      "c03_dedup_simhash" -> operators.DedupOps.c03Simhash _,
      "c04_cand" -> operators.DedupOps.c04Cand _,
      "c04_dedup_ngram" -> operators.DedupOps.c04NgramJaccard _,
      "c05_embed_neardup" -> operators.VectorOps.c05EmbedNeardup _,
      "c06_ann_brute" -> operators.VectorOps.c06AnnBrute _,
      "c07_ann_ivf" -> operators.VectorOps.c07AnnIvf _,
      "c11_semantic_dedup" -> operators.VectorOps.c11SemanticDedup _,
      "c12_kmeans_cells" -> operators.VectorOps.c12KmeansCells _,
      "c07b_ann_ivf_refined" -> operators.VectorOps.c07bAnnIvfRefined _,
      "c13_incremental_dedup" -> operators.DedupOps.c13IncrementalDedup _,
      "c09_decontaminate" -> operators.DedupOps.c09Decontaminate _,
      "c09b_decontaminate_bloom" -> operators.DedupOps.c09bDecontaminateBloom _,
      "c10b_cluster_star" -> operators.DedupOps.c10bClusterStar _,
      "c15_paragraph_dedup" -> operators.DedupOps.c15ParagraphDedup _,
      "c17b_curation_decon" -> operators.DedupOps.c17bCurationDecon _,
      "c18_semantic_decon" -> operators.VectorOps.c18SemanticDecon _,
      "c19_substring_selfdup" -> operators.DedupOps.c19SubstringSelfdup _,
      "c19b_substring_dupfrac" -> operators.DedupOps.c19bSubstringDupfrac _,
      "c20_decon_consensus" -> operators.DedupOps.c20DeconConsensus _,
      "c22_ann_pq" -> operators.VectorOps.c22AnnPq _,
      "c22b_ann_ivfpq" -> operators.VectorOps.c22bAnnIvfPq _,
      "t03b_subword_tokens" -> operators.TextOps.t03bSubwordTokens _,
      "t15_lm_score" -> operators.TextOps.t15LmScore _,
      "t17_dsir_sample" -> operators.TextOps.t17DsirSample _,
      "t18_fertility" -> operators.TextOps.t18Fertility _,
      "c23_df_spectrum" -> operators.CorpusStats.c23DfSpectrum _,
      "c24_bm25_topk" -> operators.SearchOps.c24Bm25TopK _,
      "c25_cluster_sample" -> operators.VectorOps.c25ClusterSample _,
      "m04_media_neardup" -> operators.MediaOps.m04MediaNeardup _,
      "c26_ann_rerank" -> operators.VectorOps.c26AnnRerank _,
      "t12_quality_dist" -> operators.CorpusStats.t12QualityDist _,
      "t13_ngram_topk" -> operators.CorpusStats.t13NgramTopK _,
      "t14_corpus_shuffle" -> operators.CorpusStats.t14CorpusShuffle _,
      "c28_hybrid_rrf" -> operators.SearchOps.c28HybridRrf _,
      "t22_ppl_buckets" -> operators.CorpusStats.t22PplBuckets _,
      "t23_dataset_card" -> operators.CorpusStats.t23DatasetCard _,
      "t24_temperature_mix" -> operators.TextOps.t24TemperatureMix _,
      "t25_annotate" -> operators.TextOps.t25Annotate _,
      "c29_containment" -> operators.DedupOps.c29Containment _,
      "m05_video_neardup" -> operators.MediaOps.m05VideoNeardup _,
      "c30_cross_source_dup" -> operators.DedupOps.c30CrossSourceDup _,
      "t28_classifier_filter" -> operators.TextOps.t28ClassifierFilter _,
      "t29_chunk" -> operators.TextOps.t29Chunk _,
      "c31_chunk_dedup" -> operators.TextOps.c31ChunkDedup _,
      "b13_pagerank" -> operators.AdsQueries.b13Pagerank _,
      "b14_next_page" -> operators.AdsQueries.b14NextPage _,
      "c34_knn_graph" -> operators.VectorOps.c34KnnGraph _,
      "t31_kn_lm" -> operators.TextOps.t31KnLm _,
      "c35_graph_prune" -> operators.VectorOps.c35GraphPrune _,
      "m06_audio_stats" -> operators.MediaOps.m06AudioStats _,
      "t32_vocab_drift" -> operators.TextOps.t32VocabDrift _,
      "c36_incremental_knn" -> operators.VectorOps.c36IncrementalKnn _,
      "b16_spike_detect" -> operators.AdsQueries.b16SpikeDetect _,
      "c13b_incremental_persisted" -> operators.DedupOps.c13bIncrementalPersisted _,
      "c37_cluster_histogram" -> operators.DedupOps.c37ClusterHistogram _,
      "t33_classifier_train" -> operators.TextOps.t33ClassifierTrain _,
      "t33b_classifier_apply" -> operators.TextOps.t33bClassifierApply _,
      "s03_snapshot_read" -> operators.ScaleOps.s03SnapshotRead _,
      "s04_snapshot_diff" -> operators.ScaleOps.s04SnapshotDiff _,
      "c38_multisuite_decon" -> operators.DedupOps.c38MultiSuiteDecon _,
      "c39_ngram_novelty" -> operators.DedupOps.c39NgramNovelty _,
      "c40_mmr_rerank" -> operators.VectorOps.c40MmrRerank _,
      "c41_audit_sample" -> operators.DedupOps.c41AuditSample _,
      "t34_stratified_split" -> operators.TextOps.t34StratifiedSplit _,
      "s05_vacuum_plan" -> operators.ScaleOps.s05VacuumPlan _,
      "m07_media_incremental" -> operators.MediaOps.m07MediaIncremental _,
      "t35_weighted_sample" -> operators.TextOps.t35WeightedSample _,
      "t36_mix_plan" -> operators.TextOps.t36MixPlan _,
      "s06_pruned_read" -> operators.ScaleOps.s06PrunedRead _,
      "c42_cdc_dedup" -> operators.DedupOps.c42CdcDedup _,
      "t37_token_quota" -> operators.TextOps.t37TokenQuota _,
      "c43_effective_tokens" -> operators.DedupOps.c43EffectiveTokens _,
      "s07_release_report" -> operators.ScaleOps.s07ReleaseReport _,
      "s08_incremental_read" -> operators.ScaleOps.s08IncrementalRead _,
      "s09_cow_delete" -> operators.ScaleOps.s09CowDelete _,
      "s10_compact_read" -> operators.ScaleOps.s10CompactRead _,
      "c44_lsh_recall" -> operators.DedupOps.c44LshRecall _,
      "t38_derepetition" -> operators.TextOps.t38Derepetition _,
      "s11_schema_evolution" -> operators.ScaleOps.s11SchemaEvolution _,
      "c45_lsh_tradeoff" -> operators.DedupOps.c45LshTradeoff _,
      "t39_mix_execute" -> operators.TextOps.t39MixExecute _,
      "s12_ref_read" -> operators.ScaleOps.s12RefRead _,
      "t40_classifier_eval" -> operators.TextOps.t40ClassifierEval _,
      "s13_bloom_lookup" -> operators.ScaleOps.s13BloomLookup _,
      "s14_merge_upsert" -> operators.ScaleOps.s14MergeUpsert _,
      "c46_span_scrub" -> operators.DedupOps.c46SpanScrub _,
      "c47_scrub_accounting" -> operators.DedupOps.c47ScrubAccounting _)

    val sfs = if (args.nonEmpty) args.toSeq
      else Seq("/root/testdata/sf0.01", "/root/testdata/sf0.1")

    // SPARK_GRAFT_PROBE_ONLY=c24_bm25_topk,c25_cluster_sample probes a
    // subset — incremental runs for newly added operators without
    // re-measuring the whole family.
    val only = sys.env.get("SPARK_GRAFT_PROBE_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val qsRun = only.fold(qs)(o => qs.filter { case (n, _) => o(n) })

    // warmup (JIT/codegen) outside any measurement
    operators.DedupOps.c01Exact(spark, sfs.head).write
      .format("noop").mode("overwrite").save()
    // c13b's signature store is a lifecycle artifact (Bench's rule):
    // build it OUTSIDE the measured groups so the probe reads the
    // operator's probe-join shuffle, not the one-time build
    if (qsRun.exists(_._1 == "c13b_incremental_persisted"))
      sfs.foreach(operators.DedupOps.buildSigStore(spark, _))
    if (qsRun.exists(_._1 == "m07_media_incremental"))
      sfs.foreach(operators.MediaOps.buildPhashStore(spark, _))
    if (qsRun.exists(n => n._1 == "s05_vacuum_plan" || n._1 == "s06_pruned_read" ||
        n._1 == "s08_incremental_read"))
      sfs.foreach(operators.ScaleOps.ensureSnapshots(spark, _))
    // the release publish is a lifecycle op (Bench's rule): build it
    // outside the measured group so s07's probe reads the pointer
    // read-back path, not the one-time report computation
    if (qsRun.exists(_._1 == "s07_release_report"))
      sfs.foreach(operators.ScaleOps.ensureRelease(spark, _))
    // same rule for the delete/compaction lifecycle stores: the probe
    // times the versioned READ path, not the one-time history build
    if (qsRun.exists(n => n._1 == "s09_cow_delete" || n._1 == "s12_ref_read"))
      sfs.foreach(operators.ScaleOps.ensureDeleteStore(spark, _))
    if (qsRun.exists(_._1 == "s10_compact_read"))
      sfs.foreach(operators.ScaleOps.ensureCompactStore(spark, _))
    if (qsRun.exists(_._1 == "s11_schema_evolution"))
      sfs.foreach(operators.ScaleOps.ensureEvolutionStore(spark, _))
    if (qsRun.exists(_._1 == "s13_bloom_lookup"))
      sfs.foreach(operators.ScaleOps.ensureBloomStore(spark, _))
    if (qsRun.exists(_._1 == "s14_merge_upsert"))
      sfs.foreach(operators.ScaleOps.ensureMergeStore(spark, _))

    for (sf <- sfs; (name, fn) <- qsRun) {
      val group = s"$name@$sf"
      // noop-sink materialization, same methodology as graft.Bench
      // (count() would let the optimizer drop final sorts/projections)
      spark.sparkContext.setJobGroup(group, name)
      val t0 = System.nanoTime()
      fn(spark, sf).write.format("noop").mode("overwrite").save()
      val wall = (System.nanoTime() - t0) / 1e9
      spark.sparkContext.clearJobGroup()
      val (r, w) = listener.settled(group)
      // row count outside the measured window, under its own group
      spark.sparkContext.setJobGroup(s"$group:count", name)
      val rows = fn(spark, sf).count()
      spark.sparkContext.clearJobGroup()
      println(s"""{"probe":"$name","sf":"$sf","rows":$rows,"wall_sec":$wall,""" +
        s""""shuffle_read_bytes":$r,"shuffle_write_bytes":$w}""")
    }
    spark.stop()
  }
}
