package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate

/** Engine extension entry point: register with
  * `spark.sql.extensions=graft.GraftExtensions`. `Sessions.local` does,
  * so every graft main and the tests load it; so does the benchmark's
  * own session. It injects
  *  - two resolution rules: SQL MERGE INTO on snapshot-catalog tables
  *    and the deletion-vector-aware read;
  *  - 33 functions (`graft_*`): native tokenizers, hashing and vector
  *    kernels, and Spark's Bloom-filter aggregate and probe;
  *  - and, first, a larger bound for Spark's generated-class cache
  *    (`spark.sql.codegen.cache.maxEntries` = 1,000 instead of 100,
  *    `SqlShims.sizeActiveCodegenCache`), so a repeated dashboard
  *    refresh reuses its compiled classes instead of recompiling them.
  *
  * An explicit `spark.sql.codegen.cache.maxEntries` (builder, `--conf`
  * or defaults file) wins. The bound is static and read once per JVM:
  * if a session without this extension already compiled code in the
  * same JVM, the sizing has no effect. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    // runs after the context exists and before the session copies its
    // static confs (SparkSession.Builder.getOrCreate → applyExtensions)
    org.apache.spark.sql.graft.SqlShims.sizeActiveCodegenCache()
    // SQL MERGE INTO on snapshot-catalog tables → the engine's own
    // zone-map-planned row-level upsert (plans.ResolveSnapshotMerge)
    ext.injectResolutionRule(session => plans.ResolveSnapshotMerge(session))
    // reads of versions carrying merge-on-read deletion vectors →
    // the DV-aware composed read (plans.ResolveSnapshotDvRead)
    ext.injectResolutionRule(session => plans.ResolveSnapshotDvRead(session))
    ext.injectFunction((
      FunctionIdentifier("graft_tokenize"),
      new ExpressionInfo(classOf[functions.DictTokenize].getName, "graft_tokenize"),
      (children: Seq[Expression]) => functions.DictTokenize(children.head)))
    ext.injectFunction((
      FunctionIdentifier("graft_subword"),
      new ExpressionInfo(classOf[functions.SubwordTokenize].getName, "graft_subword"),
      (children: Seq[Expression]) => functions.SubwordTokenize(children.head)))
    ext.injectFunction((
      FunctionIdentifier("graft_subword_arr"),
      new ExpressionInfo(classOf[functions.SubwordArr].getName, "graft_subword_arr"),
      (children: Seq[Expression]) => functions.SubwordArr(children.head)))
    ext.injectFunction((
      FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[functions.DotProduct].getName, "graft_dot"),
      (children: Seq[Expression]) => functions.DotProduct(children(0), children(1))))
    ext.injectFunction((
      FunctionIdentifier("graft_intdot"),
      new ExpressionInfo(classOf[functions.IntDot].getName, "graft_intdot"),
      (children: Seq[Expression]) => functions.IntDot(children(0), children(1))))
    ext.injectFunction((
      FunctionIdentifier("graft_collapse_runs"),
      new ExpressionInfo(classOf[functions.CollapseRuns].getName, "graft_collapse_runs"),
      (children: Seq[Expression]) => functions.CollapseRuns(children.head)))
    ext.injectFunction((
      FunctionIdentifier("graft_scrub_spans"),
      new ExpressionInfo(classOf[functions.ScrubSpans].getName, "graft_scrub_spans"),
      (children: Seq[Expression]) =>
        functions.ScrubSpans(children(0), children(1), children(2))))
    ext.injectFunction((
      FunctionIdentifier("graft_gram_pairs"),
      new ExpressionInfo(classOf[functions.GramPairs].getName, "graft_gram_pairs"),
      (children: Seq[Expression]) => {
        require(children.size == 1,
          s"graft_gram_pairs expects (tokens), got ${children.size} args")
        functions.GramPairs(children.head)
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_grams"),
      new ExpressionInfo(classOf[functions.Grams].getName, "graft_grams"),
      (children: Seq[Expression]) => {
        require(children.size == 2,
          s"graft_grams expects (tokens, n), got ${children.size} args")
        functions.Grams(children(0), children(1))
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_gram_h60"),
      new ExpressionInfo(classOf[functions.GramH60].getName, "graft_gram_h60"),
      (children: Seq[Expression]) =>
        functions.GramH60(children(0), children(1))))
    ext.injectFunction((
      FunctionIdentifier("graft_para_runs"),
      new ExpressionInfo(classOf[functions.ParaRuns].getName, "graft_para_runs"),
      (children: Seq[Expression]) =>
        functions.ParaRuns(children(0), children(1))))
    ext.injectFunction((
      FunctionIdentifier("graft_cdc_cuts"),
      new ExpressionInfo(classOf[functions.CdcCuts].getName, "graft_cdc_cuts"),
      (children: Seq[Expression]) => {
        require(children.size == 5,
          s"graft_cdc_cuts expects (text, w, div, cmin, cmax), got ${children.size} args")
        functions.CdcCuts(children(0),
          functions.CdcCuts.lit(children(1), "w"),
          functions.CdcCuts.litLong(children(2), "div"),
          functions.CdcCuts.lit(children(3), "cmin"),
          functions.CdcCuts.lit(children(4), "cmax"))
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_rep_stats"),
      new ExpressionInfo(classOf[functions.RepStats].getName, "graft_rep_stats"),
      (children: Seq[Expression]) => functions.RepStats(children.head)))
    ext.injectFunction((
      FunctionIdentifier("graft_pqcodes"),
      new ExpressionInfo(classOf[functions.PqCodes].getName, "graft_pqcodes"),
      (children: Seq[Expression]) =>
        functions.PqCodes(children(0), children(1), children(2), children(3))))
    ext.injectFunction((
      FunctionIdentifier("graft_adc"),
      new ExpressionInfo(classOf[functions.AdcScore].getName, "graft_adc"),
      (children: Seq[Expression]) =>
        functions.AdcScore(children(0), children(1), children(2))))
    ext.injectFunction((
      FunctionIdentifier("graft_count_in"),
      new ExpressionInfo(classOf[functions.CountIn].getName, "graft_count_in"),
      (children: Seq[Expression]) => functions.CountIn(children(0), children(1))))
    ext.injectFunction((
      FunctionIdentifier("graft_clf_margin"),
      new ExpressionInfo(classOf[functions.ClfMargin].getName, "graft_clf_margin"),
      (children: Seq[Expression]) =>
        functions.ClfMargin(children(0), children(1), children(2))))
    ext.injectFunction((
      FunctionIdentifier("graft_filter_in"),
      new ExpressionInfo(classOf[functions.FilterIn].getName, "graft_filter_in"),
      (children: Seq[Expression]) => functions.FilterIn(children(0), children(1))))
    ext.injectFunction((
      FunctionIdentifier("graft_count_rlike"),
      new ExpressionInfo(classOf[functions.CountRlike].getName, "graft_count_rlike"),
      (children: Seq[Expression]) => functions.CountRlike(children(0), children(1))))
    ext.injectFunction((
      FunctionIdentifier("graft_sum_strlen"),
      new ExpressionInfo(classOf[functions.SumStrLen].getName, "graft_sum_strlen"),
      (children: Seq[Expression]) => functions.SumStrLen(children.head)))
    ext.injectFunction((
      FunctionIdentifier("graft_isub"),
      new ExpressionInfo(classOf[functions.ISub].getName, "graft_isub"),
      (children: Seq[Expression]) => functions.ISub(children(0), children(1))))
    ext.injectFunction((
      FunctionIdentifier("graft_cell_assign"),
      new ExpressionInfo(classOf[functions.CellAssign].getName, "graft_cell_assign"),
      (children: Seq[Expression]) =>
        functions.CellAssign(children(0), children(1), children(2))))
    ext.injectFunction((
      FunctionIdentifier("graft_quantize"),
      new ExpressionInfo(classOf[functions.Quantize].getName, "graft_quantize"),
      (children: Seq[Expression]) => functions.Quantize(children.head)))
    ext.injectFunction((
      FunctionIdentifier("graft_h60"),
      new ExpressionInfo(classOf[functions.H60].getName, "graft_h60"),
      (children: Seq[Expression]) => functions.H60(children.head)))
    ext.injectFunction((
      FunctionIdentifier("graft_simhash60"),
      new ExpressionInfo(classOf[functions.SimHash60].getName, "graft_simhash60"),
      (children: Seq[Expression]) => functions.SimHash60(children.head)))
    ext.injectFunction((
      FunctionIdentifier("graft_phash60"),
      new ExpressionInfo(classOf[functions.Phash60].getName, "graft_phash60"),
      (children: Seq[Expression]) => functions.Phash60(children.head)))
    ext.injectFunction((
      FunctionIdentifier("graft_pcm_stats"),
      new ExpressionInfo(classOf[functions.PcmStats].getName, "graft_pcm_stats"),
      (children: Seq[Expression]) => functions.PcmStats(children.head)))
    ext.injectFunction((
      FunctionIdentifier("graft_minhash60"),
      new ExpressionInfo(classOf[functions.MinHash60].getName, "graft_minhash60"),
      (children: Seq[Expression]) => functions.MinHash60(children.head)))
    ext.injectFunction((
      FunctionIdentifier("graft_winnow60"),
      new ExpressionInfo(classOf[functions.Winnow60].getName, "graft_winnow60"),
      (children: Seq[Expression]) => functions.Winnow60(children.head)))
    ext.injectFunction((
      FunctionIdentifier("graft_winhash60"),
      new ExpressionInfo(classOf[functions.WinHash60].getName, "graft_winhash60"),
      (children: Seq[Expression]) =>
        functions.WinHash60(children(0), children(1), children(2))))
    ext.injectFunction((
      FunctionIdentifier("graft_slidemin"),
      new ExpressionInfo(classOf[functions.SlideMin].getName, "graft_slidemin"),
      (children: Seq[Expression]) => functions.SlideMin(children(0), children(1))))
    // Spark's own runtime-filter machinery (InjectRuntimeFilter uses
    // these two internally), surfaced as callable functions so the
    // Bloom-prefiltered decontamination path (DedupOps c09b) can
    // build and probe a sketch with codegen'd expressions instead of
    // a boxed UDF. graft_bloom_agg(col, estimatedItems, numBits) →
    // serialized filter bytes; graft_might_contain(bytes, col) →
    // boolean (no false negatives, so an exact verify join after the
    // probe keeps results exact).
    ext.injectFunction((
      FunctionIdentifier("graft_bloom_agg"),
      new ExpressionInfo(classOf[BloomFilterAggregate].getName, "graft_bloom_agg"),
      (children: Seq[Expression]) => children match {
        // mirror BloomFilterAggregate's own 1/2/3-arg constructors
        // (conf-default sizing) instead of throwing IndexOutOfBounds
        case Seq(c) => new BloomFilterAggregate(c)
        case Seq(c, n) => new BloomFilterAggregate(c, n)
        case Seq(c, n, m) => new BloomFilterAggregate(c, n, m)
        case _ => throw new IllegalArgumentException(
          s"graft_bloom_agg expects 1-3 arguments, got ${children.size}")
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_might_contain"),
      new ExpressionInfo(classOf[BloomFilterMightContain].getName, "graft_might_contain"),
      (children: Seq[Expression]) => children match {
        case Seq(bf, v) => BloomFilterMightContain(bf, v)
        case _ => throw new IllegalArgumentException(
          s"graft_might_contain expects 2 arguments (bloom, value), got ${children.size}")
      }))
  }
}
