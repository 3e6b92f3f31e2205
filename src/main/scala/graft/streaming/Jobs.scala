package graft.streaming

import java.sql.Timestamp
import java.time.format.DateTimeFormatter
import java.time.{Instant, ZoneOffset}

import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** A page-view row after parse + typed projection, keyed by device id
  * (FIXTURES.md §1; BaseLogApp.java:53-90's working shape). */
final case class PageLog(
    mid: String,
    is_new: String,
    last_page_id: String,
    page_id: String,
    during_time: Long,
    ts: Timestamp)

/** Job-level composition: the reference's stream jobs as wired
  * pipelines over the operator library — what a user runs, not just
  * what they compose from. Each function is pure DataFrame→DataFrame
  * so the same wiring executes in batch (tests, backfills) and
  * streaming (production) mode.
  *
  *  - [[splitLog]] + [[repairIsNew]]: BaseLogApp (parse, dirty
  *    side-channel via Sources.parseWithDirty, is_new repair, 3-way
  *    split with display fan-out, BaseLogApp.java:48-138).
  *  - [[visitorMeasures]] + [[visitorStats10s]]: VisitorStatsApp
  *    (per-source measure projection, union, 10s event-time tumble,
  *    VisitorStatsApp.java:77-195).
  */
object Jobs {

  private val dayFmt =
    DateTimeFormatter.ofPattern("yyyy-MM-dd").withZone(ZoneOffset.UTC)

  /** 3-way split of a parsed log DataFrame (Sources.logSchema):
    * (start records, page records, display fan-out rows with the
    * parent page_id attached) — BaseLogApp.java:95-134. */
  def splitLog(parsed: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    val start = parsed.filter(col("start").isNotNull)
    val page = parsed.filter(col("start").isNull)
    val displays = page
      .filter(col("displays").isNotNull)
      .select(
        col("common")("mid").as("mid"),
        col("page")("page_id").as("page_id"),
        col("ts"),
        explode(col("displays")).as("d"))
      .select(col("mid"), col("page_id"), col("ts"),
        col("d.item").as("item"), col("d.item_type").as("item_type"),
        col("d.order").as("display_order"))
    (start, page, displays)
  }

  /** Page records → typed PageLog rows (epoch-ms ts → Timestamp). */
  def toPageLog(spark: SparkSession, page: DataFrame): Dataset[PageLog] = {
    import spark.implicits._
    page.select(
      col("common")("mid").as("mid"),
      coalesce(col("common")("is_new"), lit("0")).as("is_new"),
      coalesce(col("page")("last_page_id"), lit("")).as("last_page_id"),
      coalesce(col("page")("page_id"), lit("")).as("page_id"),
      coalesce(col("page")("during_time").cast("long"), lit(0L)).as("during_time"),
      timestamp_millis(col("ts")).as("ts"))
      .as[PageLog]
  }

  /** is_new repair keyed by mid (BaseLogApp.java:56-90): a claimed
    * is_new=1 survives only on the device's first-seen date. Works on
    * bounded and streaming Datasets alike. */
  def repairIsNew(spark: SparkSession, pages: Dataset[PageLog]): Dataset[PageLog] = {
    import spark.implicits._
    pages
      .groupByKey(_.mid)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (mid: String, it: Iterator[PageLog], state: GroupState[FirstVisitState]) => {
          val sorted = it.toSeq.sortBy(p => (p.ts.getTime, p.page_id))
          var first = state.getOption.map(_.firstDate)
          val out = sorted.map { p =>
            val dt = dayFmt.format(Instant.ofEpochMilli(p.ts.getTime))
            if (first.isEmpty) first = Some(dt)
            p.copy(is_new =
              if (p.is_new == "1" && first.contains(dt)) "1" else "0")
          }
          first.foreach(f => state.update(FirstVisitState(f)))
          out.iterator
        })
  }

  /** Per-source measure projection to the VisitorStats measure row
    * (VisitorStatsApp.java:77-130): pv=1 per page view, sv=1 on
    * session entry (empty last_page_id), dur_sum = dwell ms. */
  def visitorMeasures(pages: Dataset[PageLog]): DataFrame =
    pages.toDF()
      .select(
        col("is_new"), col("ts"),
        lit(1L).as("pv_ct"),
        when(col("last_page_id") === "", 1L).otherwise(0L).as("sv_ct"),
        col("during_time").as("dur_sum"))

  /** 10s tumbling event-time aggregation with stt/edt finishers
    * (VisitorStatsApp.java:164-195). Input must be watermarked when
    * streaming. */
  def visitorStats10s(measures: DataFrame): DataFrame =
    measures
      .groupBy(window(col("ts"), "10 seconds"), col("is_new"))
      .agg(
        sum(col("pv_ct")).as("pv_ct"),
        sum(col("sv_ct")).as("sv_ct"),
        sum(col("dur_sum")).as("dur_sum"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("stt"),
        date_format(col("window.end"), "yyyy-MM-dd HH:mm:ss").as("edt"),
        col("is_new"), col("pv_ct"), col("sv_ct"), col("dur_sum"))

  /** KeywordStatsApp twin (SURVEY.md §3.3, KeywordStatsApp.java:
    * 52-67): filter page views carrying a search phrase → LATERAL
    * tokenize via the graft_tokenize Generator → keyword count per
    * 10s tumble. `pages` needs (ts: Timestamp, item: String);
    * watermark upstream when streaming. */
  def keywordStats10s(pages: DataFrame): DataFrame =
    pages
      .filter(col("item").isNotNull && col("item") =!= "")
      .selectExpr("ts", "graft_tokenize(item) AS (keyword, pos)")
      .groupBy(window(col("ts"), "10 seconds"), col("keyword"))
      .agg(count(lit(1)).as("ct"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("stt"),
        date_format(col("window.end"), "yyyy-MM-dd HH:mm:ss").as("edt"),
        col("keyword"), col("ct"))

  // ---------------------------------------------------------------
  // Entry point 4 (extension): streaming corpus ingest-curation —
  // the training-data pipeline as a wired job, not just queries.
  // ---------------------------------------------------------------

  /** Quality-gate + exact-dedup an ingest stream of documents:
    * the streaming form of the c08 curation shape (TextOps scoring →
    * filter → first-seen-wins dedup via keyed state). Works on
    * bounded and streaming DataFrames alike; `raw` needs (doc_id,
    * text). Downstream near-dup removal stays a batch compaction pass
    * (DedupOps c02/c10) — LSH banding needs corpus-global candidate
    * joins that have no bounded-state streaming form. */
  def curateIngest(spark: SparkSession, raw: DataFrame,
      qualityT: Double = 0.6): Dataset[DocRow] = {
    import spark.implicits._
    val kept = graft.operators.TextOps.withQualityCols(raw)
      .filter(col("quality") >= qualityT)
      .select(col("doc_id"), col("text")).as[DocRow]
    StatefulOps.streamDedupExact(spark, kept)
  }

  /** Streaming incremental dedup — the ingest-time twin of
    * DedupOps.c13: every incoming document is checked against a
    * STATIC existing-corpus index (exact content hash + MinHash-LSH
    * near-dup), then exact-deduped within the stream itself
    * (StatefulOps.streamDedupExact). Survivors are the documents a
    * steady-state crawl ingest actually appends to the corpus.
    *
    * Scale shape — deliberately NO stream-side aggregation: the
    * near-dup probe is four chained stream-static equi-joins (one per
    * LSH band; the static side is pre-grouped per band key, so each
    * join matches at most one index row) and the Jaccard verify is a
    * per-row `exists` over the candidates' shingle sets via
    * array_intersect. The only stateful operator is the final
    * in-stream dedup, so the query stays a single-stateful-op append
    * pipeline; the corpus index is a bounded static table AQE
    * broadcasts when small and shuffles when not. */
  def curateIngestIncremental(spark: SparkSession, raw: DataFrame,
      corpus: DataFrame, qualityT: Double = 0.6): Dataset[DocRow] = {
    import spark.implicits._
    import graft.operators.DedupOps
    val t = DedupOps.JACCARD_T
    val nb = DedupOps.BANDS
    val r = DedupOps.R

    // ---- static corpus index (computed from the bounded snapshot) --
    // persisted: each micro-batch joins it 5 times (hash + 4 bands);
    // without persist the corpus would be re-shingled and re-minhashed
    // per join per batch, forever
    val oldHash = corpus
      .select(md5(DedupOps.norm(col("text"))).as("__h")).distinct()
      .persist()
    val oldSh = DedupOps.shingleDocsOf(corpus, 3, hashed = true)
    // One row per (band, key). A hot bucket (a big boilerplate
    // near-dup cluster — exactly what dedup targets) is CAPPED at 64
    // candidate shingle-sets: bucket members are near-dups of each
    // other, so any surviving member still matches an incoming dup,
    // and the cap bounds both the grouped row and its replication
    // through the per-band joins (an uncapped collect_list over a
    // 100 TB corpus's hottest bucket would not fit an executor row).
    val oldIdx = DedupOps.bandKeys(oldSh)
      .join(oldSh, "doc_id")
      .groupBy(concat_ws("|", col("band"), col("key")).as("__bk"))
      .agg(slice(collect_list(col("shs")), 1, 64).as("__cands"))
      .persist()

    // ---- per-row stream side -------------------------------------
    val kept = graft.operators.TextOps.withQualityCols(raw)
      .filter(col("quality") >= qualityT)
      .select(col("doc_id"), col("text"))
    // exact-vs-corpus: stream-static left join, keep misses
    val notExact = kept
      .withColumn("__h", md5(DedupOps.norm(col("text"))))
      .join(oldHash.withColumn("__seen", lit(1)), Seq("__h"), "left")
      .filter(col("__seen").isNull)
      .drop("__h", "__seen")
    // near-vs-corpus: shingles (empty when < 3 tokens — the shared
    // DedupOps builder, so batch c13 and this stream can never
    // desynchronize on shingle construction), band keys, one left
    // join per band, then a per-row exists() verify
    val withSh = DedupOps.withShingleCol(notExact, 3)
      .withColumn("__ms",
        when(size(col("shs")) > 0, call_function("graft_minhash60", col("shs"))))
    val joined = (0 until nb).foldLeft(
      withSh.withColumn("__all", array().cast("array<array<array<bigint>>>"))) {
      case (df, b) =>
        val key = concat_ws("|", lit(b),
          concat_ws(",", (0 until r).map(i => col("__ms").getItem(b * r + i)): _*))
        val idx = oldIdx
          .withColumnRenamed("__bk", s"__bk$b").withColumnRenamed("__cands", s"__c$b")
        df.join(idx, when(col("__ms").isNotNull, key) === col(s"__bk$b"), "left")
          .withColumn("__all",
            array_append(col("__all"), coalesce(col(s"__c$b"),
              array().cast("array<array<bigint>>"))))
          .drop(s"__bk$b", s"__c$b")
    }
    val inter = (old: org.apache.spark.sql.Column) =>
      size(array_intersect(col("shs"), old))
    val notNear = joined
      .withColumn("__hit", exists(flatten(col("__all")), old =>
        inter(old).cast("double") /
          (size(col("shs")) + size(old) - inter(old)).cast("double") >= t))
      .filter(!col("__hit"))
      .select(col("doc_id"), col("text")).as[DocRow]
    // in-stream exact dedup (cross-micro-batch keyed state)
    StatefulOps.streamDedupExact(spark, notNear)
  }

  /** Bits per eval ngram for the ingest sketch. A document is
    * over-dropped if ANY of its probes collides, so the per-document
    * risk is the union bound n_probes · FPR, NOT the per-probe FPR —
    * sizing must target the document, not the probe. At 28 bits/item
    * (k = 19) the per-probe FPR is ≈ 2e-6, so even a 10,000-ngram
    * clean document over-drops with probability ≤ ~2%. Cost: 3.5
    * bytes per eval ngram — 10^8 eval ngrams ≈ 350 MB, still ~10×
    * under a broadcast hashmap of longs. (BloomFilterAggregate caps
    * items/bits at spark.sql.optimizer.runtime.bloomFilter
    * .maxNumItems/.maxNumBits — 4M items / 8 MB default; raise both
    * for benchmark suites beyond ~2M distinct ngrams.) */
  private val INGEST_BLOOM_BITS_PER_ITEM = 28L

  /** Sizing floor for the ingest sketches. The bits-per-item rate
    * alone is NOT safe for tiny item sets: Spark's BloomFilterImpl
    * probes positions h1 + i·h2 mod numBits (classic double
    * hashing), and when the requested bits round down to one or two
    * 64-bit words those arithmetic progressions degenerate — probe
    * sets overlap whole progressions at once and the false-positive
    * rate lands orders of magnitude above the ideal formula
    * (measured: a 1-item, 28-bit request false-matched 2% of keys).
    * Flooring the ITEM count (not just bits) keeps k = 19 constant
    * and the bit array sparse, at a cost of at most ~14 KB. */
  private val INGEST_BLOOM_MIN_ITEMS = 1L << 12

  /** Streaming benchmark decontamination — the ingest-time twin of
    * DedupOps.c09/c09b: drop incoming documents whose hashed
    * 8-word-ngram sets touch the held-out eval set, BEFORE they enter
    * the corpus.
    *
    * The filter is the Bloom probe ALONE — a per-row
    * `exists(shs, sh -> graft_might_contain(bloom, sh))` (interpreted,
    * like all higher-order-function lambdas — see BASELINE.md's t08
    * note — but per-row and shuffle-free) with zero joins and zero
    * state, so it appends to any ingest query for free. The sketch
    * has no false negatives, so every genuinely contaminated
    * document is dropped (the guarantee decontamination is about).
    * The cost is over-dropping clean documents, and because a doc
    * dies on ANY colliding probe the risk compounds over its ngrams:
    * P(over-drop) ≤ n_ngrams · FPR. The sketch is therefore sized
    * from the MEASURED eval ngram count at
    * [[INGEST_BLOOM_BITS_PER_ITEM]] bits per item (per-probe FPR
    * ≈ 2e-6), keeping even 10k-ngram clean docs ≤ ~2% at-risk — the
    * spec pins recall 1.0 against batch c09 and the bounded
    * over-drop. Docs shorter than the ngram width carry an empty
    * shingle set and always pass. For an audit trail of WHAT was
    * dropped and why, run the batch c09/c09b report over the same
    * snapshot — the streaming filter is the gate, not the report. */
  def decontaminateIngest(spark: SparkSession, raw: DataFrame,
      evalDocs: DataFrame): Dataset[DocRow] = {
    import spark.implicits._
    import graft.operators.DedupOps
    val evalNg = DedupOps.shingleDocsOf(evalDocs, DedupOps.DECON_N, hashed = true)
      .select(explode_outer(col("shs")).as("sh")).distinct()
      .persist() // counted once for sizing, then aggregated into the sketch
    val nEval = evalNg.count()
    val items = math.max(nEval, INGEST_BLOOM_MIN_ITEMS)
    val reqBits = items * INGEST_BLOOM_BITS_PER_ITEM
    val bloom =
      if (nEval == 0) null
      else withBloomCaps(spark, items, reqBits, "decontaminateIngest") {
        DedupOps.bloomOfLongs(evalNg, "sh", items = items, bits = reqBits)
      }
    evalNg.unpersist()
    val withSh = DedupOps.withShingleCol(raw, DedupOps.DECON_N)
    val kept =
      if (bloom == null) withSh // empty eval set: nothing can leak
      // lit(bloom) is DELIBERATE here (contrast c09b's scalar
      // subquery): a streaming filter needs one stable sketch across
      // every micro-batch, computed before the query starts — a
      // subquery would re-derive it per batch against a moving
      // session. The driver round-trip is paid once at job start.
      else withSh.filter(!exists(col("shs"),
        sh => call_function("graft_might_contain", lit(bloom), sh)))
    kept.select(col("doc_id"), col("text")).as[DocRow]
  }

  /** BloomFilterAggregate SILENTLY clamps its item/bit arguments to
    * these session confs (4M items / 8 MB bits by default) — beyond
    * ~2.4M sketch items the union-bound over-drop guarantee would
    * quietly degrade. Raise the caps to what the sketch needs (and
    * say so) for exactly the duration of `body` — the eager sketch
    * build — then RESTORE them, so one large ingest sketch doesn't
    * permanently change the sizing ceiling Spark applies to its own
    * injected runtime filters in every later query of the session. */
  private def withBloomCaps[T](spark: SparkSession, items: Long, bits: Long,
      tag: String)(body: => T): T = {
    val itemsKey = "spark.sql.optimizer.runtime.bloomFilter.maxNumItems"
    val bitsKey = "spark.sql.optimizer.runtime.bloomFilter.maxNumBits"
    val prevItems = spark.conf.get(itemsKey)
    val prevBits = spark.conf.get(bitsKey)
    val needItems = items > prevItems.toLong
    val needBits = bits > prevBits.toLong
    if (needItems) {
      System.err.println(s"[$tag] raising $itemsKey to $items")
      spark.conf.set(itemsKey, items)
    }
    if (needBits) {
      System.err.println(s"[$tag] raising $bitsKey to $bits")
      spark.conf.set(bitsKey, bits)
    }
    try body
    finally {
      if (needItems) spark.conf.set(itemsKey, prevItems)
      if (needBits) spark.conf.set(bitsKey, prevBits)
    }
  }

  /** Streaming boilerplate strip — the ingest-time twin of batch c15:
    * incoming documents lose any paragraph run that the EXISTING
    * corpus marks as boilerplate (df > K distinct docs), before they
    * enter storage. The df pass runs once, batch-side, over the
    * corpus snapshot (the same place c13's band index and c09's eval
    * sketch come from); the boilerplate hash set — bounded by the
    * repeated-paragraph vocabulary, tiny next to the corpus — ships
    * as a Bloom sketch, and the stream side is ONE per-row
    * higher-order filter over the doc's runs: zero joins, zero
    * state, appends to any ingest query for free.
    *
    * Sketch false positives strip a CLEAN paragraph (they can never
    * resurrect boilerplate — no false negatives), so like
    * [[decontaminateIngest]] the risk compounds per document and the
    * sizing targets the union bound: [[INGEST_BLOOM_BITS_PER_ITEM]]
    * bits per boilerplate hash keeps even a 10,000-run clean doc's
    * strip risk ≤ ~2%. BoilerplateIngestSpec pins batch-c15 parity
    * on a shared-footer corpus and the pass-through of unique text.
    * A corpus with no repeated paragraphs yields a null sketch and
    * an untouched stream. */
  def boilerplateIngest(spark: SparkSession, raw: DataFrame,
      corpus: DataFrame): Dataset[ScrubbedDoc] = {
    import spark.implicits._
    import graft.operators.DedupOps
    val boiler = DedupOps.boilerplateHashes(corpus).persist()
    val nBoiler = boiler.count()
    val items = math.max(nBoiler, INGEST_BLOOM_MIN_ITEMS)
    val reqBits = items * INGEST_BLOOM_BITS_PER_ITEM
    val bloom =
      if (nBoiler == 0) null
      else withBloomCaps(spark, items, reqBits, "boilerplateIngest") {
        DedupOps.bloomOfLongs(boiler, "ph", items = items, bits = reqBits)
      }
    boiler.unpersist()
    val out =
      if (bloom == null)
        raw.select(col("doc_id"), col("text"), lit(0L).as("n_removed"))
      else raw
        .withColumn("__toks", split(col("text"), "\\s+"))
        // null-safe: paragraphRuns yields [] for a null token column
        .withColumn("__runs", DedupOps.paragraphRuns("__toks"))
        .withColumn("__keep", filter(col("__runs"), r =>
          !call_function("graft_might_contain", lit(bloom),
            call_function("graft_h60", r))))
        .select(
          col("doc_id"),
          // Untouched documents pass through BYTE-IDENTICAL (tabs,
          // newlines, run-length whitespace preserved) — rejoining
          // normalizes whitespace, so it is applied only when a run
          // was actually stripped. Both branches then share one
          // contract: text changes iff n_removed > 0.
          when(size(col("__keep")) === size(col("__runs")), col("text"))
            .otherwise(array_join(col("__keep"), " ")).as("text"),
          (size(col("__runs")) - size(col("__keep"))).cast("long")
            .as("n_removed"))
    out.as[ScrubbedDoc]
  }

  /** Streaming exact-substring dedup — the ingest-time twin of batch
    * c19: drop incoming documents sharing a verbatim ≥ 40-char run
    * with the EXISTING corpus, before they enter storage. The corpus
    * winnow-fingerprint set (distinct values — ≈ 2/(K+1) of the
    * corpus's windows, longs only) is computed once batch-side and
    * ships as a Bloom sketch; the stream side is ONE per-row
    * higher-order filter over the doc's own fingerprints (both
    * native expressions — graft_winhash60 then graft_slidemin):
    * zero joins, zero state.
    *
    * The sketch has no false negatives and winnowing has none at the
    * guarantee length, so every incoming doc sharing a ≥ W+K−1-char
    * run with the corpus IS dropped. False positives over-drop clean
    * docs; a doc dies on ANY colliding probe, so sizing targets the
    * union bound like the other ingest sketches
    * ([[INGEST_BLOOM_BITS_PER_ITEM]] bits/item keeps a 10k-fingerprint
    * clean doc ≤ ~2% at-risk). An empty corpus yields a null sketch
    * and an untouched stream. */
  /** Streaming DSIR selection — the ingest twin of batch t17: score
    * each incoming (doc_id, lang, text) row against a FROZEN
    * target/raw hashed-bigram model built batch-side over the corpus
    * snapshot (TextOps.dsirModel — a dense 4096-long ratio table,
    * the same place c13's band index and c09's eval sketch come
    * from), keep rows scoring ≥ `minScore`. The model ships as ONE
    * literal array (32 KB) — like decontaminateIngest's lit(bloom),
    * a stable snapshot across every micro-batch — and scoring is a
    * single narrow projection per row: no joins, no shuffle, no
    * state. Batch t17 ranks per-language AFTER seeing the whole
    * corpus (a quota needs a total order); an ingest gate can only
    * threshold — the standard batch-quota/stream-threshold split. */
  def dsirScoreIngest(spark: SparkSession, raw: DataFrame,
      corpus: DataFrame, targetLang: String = "en",
      minScore: Double = 0.0): Dataset[ScoredDoc] = {
    import spark.implicits._
    import graft.operators.TextOps
    val model = TextOps.dsirModel(corpus, targetLang) // eager, bounded
    TextOps.dsirScoreAgainst(raw, model)
      .filter(col("dsir_score") >= minScore)
      .as[ScoredDoc]
  }

  /** Standing-query search over an ingest stream (the "alert me when
    * a document about X arrives" face of c24): the BM25 model — doc
    * count, token count, per-term document frequencies — is FROZEN
    * from a batch corpus snapshot (bounded: |terms| + 1 rows
    * collected once at job start), every constant is baked into the
    * scoring projection as a literal, and each micro-batch is scored
    * by one narrow codegen'd pass: no joins, no shuffle, no state
    * (the dsirScoreIngest pattern). Stream scores are EXACTLY the
    * batch c24 scores when the model snapshot is the same corpus
    * (integer arithmetic, identical truncations — Bm25IngestSpec).
    * Batch c24 ranks top-k AFTER seeing the whole corpus; an ingest
    * gate can only threshold — the same batch-quota/stream-threshold
    * split as DSIR. */
  def bm25SearchIngest(spark: SparkSession, raw: DataFrame,
      corpus: DataFrame,
      queries: Seq[(String, Seq[String])] = graft.operators.SearchOps.QUERIES,
      minScore: Long = 1L): Dataset[SearchHit] = {
    import spark.implicits._
    import graft.operators.SearchOps
    val model = SearchOps.bm25Model(spark, corpus, queries) // eager, bounded
    SearchOps.bm25ScoreAgainst(raw, model, queries)
      .filter(col("score") >= minScore)
      .as[SearchHit]
  }

  /** Standing-query DENSE retrieval over a vector ingest stream —
    * the c06/c28-dense face of [[bm25SearchIngest]]: the query
    * vectors are frozen literals (bounded: |Q|·DIM floats), each
    * micro-batch is scored by one narrow codegen'd projection
    * (graft_dot against every literal), no joins, no shuffle, no
    * state. Stream scores are EXACTLY the batch dot products (same
    * native fold, same order — VecIngestSpec), so a stream-side
    * threshold gate agrees with any batch re-check. Batch c06 ranks
    * top-k after seeing the whole corpus; an ingest gate can only
    * threshold — the same batch-quota/stream-threshold split as
    * DSIR/BM25. */
  def annScoreIngest(spark: SparkSession, raw: DataFrame,
      queryVecs: Seq[(String, Seq[Float])],
      minScore: Double): Dataset[VecHit] = {
    import spark.implicits._
    import graft.functions.Portable
    require(queryVecs.nonEmpty, "need at least one standing query")
    val perQ = queryVecs.map { case (qid, v) =>
      struct(lit(qid).as("qid"),
        Portable.dot(col("embedding"), typedLit(v)).as("score")) }
    raw
      .select(col("vec_id"), explode(array(perQ: _*)).as("q"))
      .select(col("vec_id"), col("q.qid").as("qid"), col("q.score").as("score"))
      .filter(col("score") >= minScore)
      .as[VecHit]
  }

  /** Streaming twin of t23's LEAF grain: the running dataset card.
    * Each micro-batch folds into one stateful aggregation keyed by
    * (source, lang) — bounded state: one row per grain cell, never
    * per document, so the query holds a dataset-card's worth of
    * state over any stream length. Quality accumulates in the same
    * fixed point as batch t23; the mean divides once at read time.
    * After the stream drains, the complete-mode table is EXACTLY the
    * batch t23 lvl-0 rows over the same documents (CardIngestSpec) —
    * integer sums, identical division. The rollup grains (per-source,
    * global) are batch-side reads over this tiny table, not stream
    * state. Emit with outputMode("complete") (grain table is the
    * result) or "update" (changed cells only). */
  /** STANDING PageRank — the periodic-re-rank lifecycle over a live
    * event stream: [[StatefulOps.pageTransitions]] turns events into
    * edges at ingest (per-user last-page state), and each micro-batch
    * (1) writes its (src, dst) counts into a per-batchId hive
    * partition of `dir/edges` — overwrite into one's OWN partition
    * is idempotent under foreachBatch's at-least-once replay, where
    * a SUM-merge into a single table would double-count a replayed
    * delta — then (2) re-runs b13's bounded power iteration over the
    * aggregated store into `dir/scores`. Per-batch work is
    * edge-store-grain (page pairs), never a replay of the event
    * log — the property that makes a standing rank affordable: the
    * raw stream is consumed once, forever, while the rank is
    * recomputed from a saturating pair-grain table. Node set = edge
    * endpoints (an isolated page has no edge in the store; the batch
    * b13 form additionally ranks view-only pages at the teleport
    * base — convention documented in PagerankIngestSpec's parity
    * test). */
  def pagerankIngest(spark: SparkSession, events: Dataset[EventRow],
      dir: String): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    StatefulOps.pageTransitions(spark, events).toDF()
      .writeStream.outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // IDEMPOTENT store: each micro-batch's (src, dst) counts land
        // in their OWN hive partition keyed by batchId, written with
        // overwrite — foreachBatch is at-least-once, and a replayed
        // batch rewrites the SAME partition instead of summing its
        // delta into a merged table twice (the non-idempotent-merge
        // trap writeStatsJdbcExactlyOnce guards against on the JDBC
        // side). A crash mid-write leaves a partial partition that
        // the replay overwrites; no rename protocol needed because
        // no batch ever touches another batch's partition. The
        // partition count grows with batches — ScaleOps.compact is
        // the standing remedy, and the re-rank below reads the
        // store through partition discovery either way.
        batch.groupBy(col("src"), col("dst"))
          .agg(count(lit(1)).as("wt"))
          .write.mode("overwrite").parquet(s"$dir/edges/batch=$batchId")
        val edges = spark.read.parquet(s"$dir/edges")
          .groupBy(col("src"), col("dst")).agg(sum(col("wt")).as("wt"))
        val nodes = edges.select(col("src").as("page"))
          .union(edges.select(col("dst").as("page"))).distinct()
        graft.operators.AdsQueries.pagerankEdges(nodes, edges)
          .write.mode("overwrite").parquet(s"$dir/scores")
      }

  /** STANDING spike alerts — b16's monitoring panel maintained over
    * a live stream with [[pagerankIngest]]'s idempotent-store shape:
    * each micro-batch writes its partial (event_type, hour) counts
    * into a batchId-keyed hive partition of `dir/buckets` (overwrite
    * → an at-least-once replay rewrites the same partition; events
    * of one hour may span batches, so the store holds PARTIALS and
    * the read side sums them), then b16's cross-multiplied integer
    * 3σ flag stage re-runs over the aggregated bucket grid into
    * `dir/alerts`. Per-batch work is bucket-grain; the raw stream is
    * consumed exactly once. */
  def spikeAlertIngest(spark: SparkSession, events: Dataset[EventRow],
      dir: String): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    events.toDF()
      .writeStream.outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        batch
          .select(col("event_type"), date_trunc("hour", col("ts")).as("hr"))
          .groupBy(col("event_type"), col("hr"))
          .agg(count(lit(1)).as("x"))
          .write.mode("overwrite").parquet(s"$dir/buckets/batch=$batchId")
        val hourly = spark.read.parquet(s"$dir/buckets")
          .groupBy(col("event_type"), col("hr"))
          .agg(sum(col("x")).as("x"))
        graft.operators.AdsQueries.spikeFlags(hourly)
          .write.mode("overwrite").parquet(s"$dir/alerts")
      }

  /** Streaming ingest INTO the versioned snapshot store — the
    * streaming-sink face of the s03/s05 lifecycle (what Delta's
    * streaming writer and Iceberg's commit-with-txn-id do): each
    * micro-batch commits exactly one [[graft.operators.ScaleOps
    * .appendSnapshot]] version tagged `batch:<id>`, and foreachBatch's
    * at-least-once replay is absorbed by the committed-tag check
    * (`snapshotAppendOnce`) instead of double-appending rows. Every
    * committed version is immediately time-travel-readable and
    * zone-map-pruned (doc_id stats sidecar), so standing readers pin
    * a version while ingest keeps publishing — reader isolation at
    * ingest speed. Version growth is vacuumSnapshots' standing
    * remedy; vacuum may forget EXPIRED versions' batch tags, which
    * is safe because replays only ever touch the un-checkpointed
    * tail, never batches old enough to expire. */
  def snapshotIngest(spark: SparkSession, docs: Dataset[DocRow],
      root: String): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.toDF()
      .writeStream.outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.operators.ScaleOps.snapshotAppendOnce(
          spark, root, batch, s"batch:$batchId", statsCol = Some("doc_id"))
        ()
      }

  /** STREAMING CDC UPSERT APPLY — [[snapshotIngest]]'s twin for a
    * stream of row-images keyed by doc_id (the compacted-CDC-topic /
    * Debezium-after-image shape, the reference's dim-upsert sink
    * semantics at lakehouse grain: gmall-realtime's
    * DimSink/phoenix upsert, re-expressed as versioned MERGE): each
    * micro-batch is merged into the snapshot store —
    * matched keys replaced, new keys inserted, untouched files
    * carried — as one tagged version. Idempotent under foreachBatch's
    * at-least-once replay (the tag probe absorbs a re-delivered
    * batch), bootstraps an empty store, and every planning/rewrite
    * cost is batch-proportional: the metadata join prunes the rewrite
    * set to the files the batch's keys can touch, never the corpus.
    * Drain parity with sequential batch merges, last-wins across
    * batches, and replay absorption are pinned in UpsertIngestSpec. */
  def upsertIngest(spark: SparkSession, docs: Dataset[DocRow],
      root: String): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.toDF()
      .writeStream.outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.operators.ScaleOps.snapshotMergeOnce(
          spark, root, "doc_id", batch, s"batch:$batchId")
        ()
      }

  /** [[snapshotIngest]] WITH the derived view maintained in the same
    * pipeline: each micro-batch commits its tagged snapshot version,
    * then ScaleOps.changeFeedSync folds exactly the committed delta
    * into the standing per-language profile at `viewDir`. The two
    * steps compose idempotently — a replayed batch's append is
    * absorbed by the tag check, after which the sync sees no new
    * version and does nothing; a crash between append and sync just
    * leaves the view one version behind, and the next batch's sync
    * walks BOTH pending versions (each a pure append, so each folds
    * its file delta only — never a corpus re-scan). This is the
    * 100 TB steady state: ingest, versioned history, and a
    * maintained downstream table in one exactly-once-shaped loop,
    * with per-batch work proportional to the batch. Drain parity
    * with the batch profile is pinned in SnapshotIngestSpec. */
  def snapshotIngestSynced(spark: SparkSession, docs: Dataset[LangDoc],
      root: String, viewDir: String): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.toDF()
      .writeStream.outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.operators.ScaleOps.snapshotAppendOnce(
          spark, root, batch, s"batch:$batchId", statsCol = Some("doc_id"))
        graft.operators.ScaleOps.changeFeedSync(spark, root, viewDir)
        ()
      }

  /** STANDING sub-document dedup — c42's CDC chunk table maintained
    * over a live document stream with [[pagerankIngest]]'s
    * idempotent-store shape: each micro-batch runs the CDC pass over
    * ITS documents only (one narrow codegen'd pass, batch-
    * proportional — never a corpus re-chunk) and writes its
    * chunk-grain partials (chunk_h, min len, occ, docs) into a
    * batchId-keyed hive partition of `dir/chunks` (overwrite → an
    * at-least-once replay rewrites the same partition instead of
    * double-counting). The standing dup report `dir/dups` then
    * re-aggregates the chunk-grain store — every c42 aggregate is
    * decomposable (min/sum, and n_docs sums exactly because a
    * document arrives in exactly one batch), so after a drain the
    * report is BIT-IDENTICAL to batch c42 over the same corpus
    * (ChunkIngestSpec pins the parity). Per-batch cost: chunk the
    * batch + re-agg the chunk store (dedup-proportional, corpus-scan-
    * free) — the steady-state ingest shape of c13b/m07 at
    * sub-document grain. Store partition growth is ScaleOps.compact's
    * standing remedy, like the other ingest stores. */
  def chunkDedupIngest(spark: SparkSession, docs: Dataset[DocRow],
      dir: String): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.toDF()
      .writeStream.outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        chunkIngestBatch(spark, batch, batchId, dir)
      }

  /** [[chunkDedupIngest]]'s per-batch body, factored so the replay
    * spec can drive the exact production path with a pinned batchId. */
  private[graft] def chunkIngestBatch(spark: SparkSession, batch: DataFrame,
      batchId: Long, dir: String): Unit = {
    graft.operators.DedupOps.chunkRowsOf(batch)
      .groupBy(col("chunk_h"))
      .agg(min(col("ln")).as("chunk_len"),
        count(lit(1)).as("n_occ"),
        countDistinct(col("doc_id")).as("n_docs"))
      .write.mode("overwrite").parquet(s"$dir/chunks/batch=$batchId")
    spark.read.parquet(s"$dir/chunks")
      .groupBy(col("chunk_h"))
      .agg(min(col("chunk_len")).as("chunk_len"),
        sum(col("n_occ")).as("n_occ"),
        sum(col("n_docs")).as("n_docs"))
      .filter(col("n_occ") > 1)
      .write.mode("overwrite").parquet(s"$dir/dups")
  }

  def cardIngest(spark: SparkSession, raw: DataFrame): DataFrame =
    graft.operators.CorpusStats.cardFeatures(raw)
      .groupBy(col("source"), col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("nt")).as("n_tokens"),
        sum(col("nc")).as("n_chars"),
        sum(col("qfp")).as("q_sum"),
        count(col("qfp")).as("q_cnt"))
      .select(col("source"), col("lang"), col("n_docs"),
        col("n_tokens"), col("n_chars"),
        (col("q_sum").cast("double") / col("q_cnt").cast("double") /
          lit(graft.operators.CorpusStats.CARD_Q).cast("double"))
          .as("avg_quality"))

  def substringDupIngest(spark: SparkSession, raw: DataFrame,
      corpus: DataFrame): Dataset[DocRow] = {
    import spark.implicits._
    import graft.operators.DedupOps
    val corpusFp = corpus
      .select(explode_outer(DedupOps.winnowFps(col("text"))).as("fp"))
      .where(col("fp").isNotNull).distinct()
      .persist() // counted once for sizing, then aggregated into the sketch
    val nFp = corpusFp.count()
    val items = math.max(nFp, INGEST_BLOOM_MIN_ITEMS)
    val reqBits = items * INGEST_BLOOM_BITS_PER_ITEM
    val bloom =
      if (nFp == 0) null
      else withBloomCaps(spark, items, reqBits, "substringDupIngest") {
        DedupOps.bloomOfLongs(corpusFp, "fp", items = items, bits = reqBits)
      }
    corpusFp.unpersist()
    val kept =
      if (bloom == null) raw
      // lit(bloom) deliberate — one stable sketch across micro-batches
      // (see decontaminateIngest)
      else raw.filter(!exists(DedupOps.winnowFps(col("text")),
        fp => call_function("graft_might_contain", lit(bloom), fp)))
    kept.select(col("doc_id"), col("text")).as[DocRow]
  }

  // ---------------------------------------------------------------
  // Entry point 2: the order path (BaseDBApp → OrderWideApp →
  // PaymentWideApp, SURVEY.md §3.2)
  // ---------------------------------------------------------------

  /** BaseDBApp twin (BaseDBApp.java:52-62 + TableProcessFunction
    * routing): one parsed CDC stream → one filtered substream per
    * routed table, keeping only non-empty insert/update payloads.
    * `data` map fields become typed columns per the caller's pick. */
  def splitDb(parsed: DataFrame, table: String): DataFrame =
    parsed
      .filter(col("table") === table &&
        col("type").isin("insert", "update") &&
        col("data").isNotNull && size(map_keys(col("data"))) > 0)

  /** OrderWideApp twin (OrderWideApp.java:96-105 + 109-214): orders ⋈
    * details within ±5s on order id, then broadcast dim enrichment.
    * Both inputs must be watermarked when streaming; `dimUser` is the
    * (bounded) dim snapshot, broadcast like DimAsyncFunction's cache
    * but planner-visible. */
  def orderWide(orders: DataFrame, details: DataFrame, dimUser: DataFrame): DataFrame =
    IntervalJoins.intervalJoin(
      orders, details, "order_id", "detail_order_id", "ts", "dts",
      loSec = -5, hiSec = 5)
      .select(
        col("l.order_id").as("order_id"), col("r.detail_id").as("detail_id"),
        col("l.user_id").as("user_id"), col("l.ts").as("ts"),
        col("r.sku_id").as("sku_id"), col("r.amount").as("amount"))
      .join(broadcast(dimUser), Seq("user_id"), "left")

  /** PaymentWideApp twin (PaymentWideApp.java:88-96): payments ⋈
    * order-wides within [-15min, 0] on order id. */
  def paymentWide(payments: DataFrame, wides: DataFrame): DataFrame =
    IntervalJoins.intervalJoin(
      wides, payments, "order_id", "pay_order_id", "ts", "pts",
      loSec = 0, hiSec = 900)
      .select(
        col("r.payment_id").as("payment_id"), col("l.order_id").as("order_id"),
        col("l.detail_id").as("detail_id"), col("l.user_id").as("user_id"),
        col("l.user_name").as("user_name"), col("l.sku_id").as("sku_id"),
        col("l.amount").as("amount"), col("r.pts").as("payment_ts"))
}
