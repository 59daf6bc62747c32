package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.EntryOps._

/** Text-analysis + IQPLUS news family: language id, quality, tokenization, fingerprints, the split-merge summarizer.
  *
  * Registry shard of [[SparkEntry]] (split for maintainability; keys are
  * merged — and spec-checked disjoint — in SparkEntry.queries/oracleSql).
  */
private[graft] object TextRegistry {

  /** `documents` as (doc_id, long_text) for the chunking surface: ~20x
    * repetition pushes the short testdata docs past the 1024-token budget,
    * and " the " → ". " gives them sentence structure. The scan is cut to
    * the two source columns and range-widened on doc_id, the key both
    * queries sort on. */
  private def longTextDocs(s: SparkSession, dir: String): DataFrame =
    util.Par.widenByRange(Sources.documents(s, dir).select("doc_id", "text"), col("doc_id"))
      .withColumn("long_text",
        regexp_replace(concat_ws(". ", (0 until 20).map(_ => col("text")): _*),
          " the ", ". "))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // IQPLUS pipeline (U1-U3 + W2): deterministic extractive split-merge
    // summarizer UDF + pinned 1-based index. The summary STRING itself is
    // oracle-checked: the DuckDB mirror replays sentence scoring, greedy
    // pick and original-order reassembly as recursive CTEs
    // (Summarize.summarizeLongTextCtes) — an independent implementation
    // of the same state machines.
    "news_summarize" -> ((s, dir) =>
      news.Summarize.transform(Sources.news(s, dir)).orderBy("index")),


    // Chunking surface (U1) on synthesized long sentence-structured text
    // (testdata docs are short and dot-free): ~20x repetition pushes docs
    // past the 1024-token budget so the split-merge path really runs —
    // and the oracle replays the FULL long path (chunk assignment,
    // per-chunk 512/30 summaries, merge, 250/50 re-summarize) in DuckDB.
    // longTextDocs range-widens the narrow scan on the sort key, so the
    // summarizer chain runs once on every core and the orderBy is a local sort.
    "news_chunking" -> ((s, dir) => {
      longTextDocs(s, dir).select(
        col("doc_id"),
        news.Summarize.tokenCountUdf(col("long_text")).as("n_tokens"),
        news.Summarize.chunkCountUdf(col("long_text")).as("n_chunks"),
        news.Summarize.tokenCountUdf(news.Summarize.summarizeUdf(col("long_text")))
          .as("n_summary_tokens"))
        .orderBy("doc_id")
    }),


    // Oracle-checked half of the U1 chunking surface: token count +
    // greedy-packing chunk count per doc (the summarizer itself stays
    // rows-only — not SQL-expressible). The DuckDB oracle REPLAYS the
    // greedy fold as a recursive CTE, an independent implementation of
    // the same state machine (quirks included).
    "news_chunk_counts" -> ((s, dir) => {
      longTextDocs(s, dir).select(
        col("doc_id"),
        news.Summarize.tokenCountUdf(col("long_text")).cast("long").as("n_tokens"),
        news.Summarize.chunkCountUdf(col("long_text")).cast("long").as("n_chunks"))
        .orderBy("doc_id")
    }),


    // The SQL-expressible ENVELOPE of the U2 summarizer (the prose-
    // emitting core stays rows-only by contract): sentence count, greedy-
    // pick size under the one-shot (250, 50) budgets, and the top-ranked
    // sentence's index — driven by the summarizer's own ranking/pick
    // functions, replayed independently in DuckDB (scoring joins + a
    // recursive-CTE greedy fold). Shrinks the rows-only set to the
    // BART-shaped core.
    "news_summary_stats" -> ((s, dir) =>
      Sources.documents(s, dir)
        .withColumn("dotted", expr("replace(text, ' the ', '. ')"))
        .select(col("doc_id"),
          news.Summarize.summaryStatsUdf(col("dotted")).as("st"))
        .select(col("doc_id"),
          col("st.n_sentences").as("n_sentences"),
          col("st.n_summary_sentences").as("n_summary_sentences"),
          col("st.top_sentence_idx").as("top_sentence_idx"))
        .orderBy("doc_id")),


    // SQL-expressible text stats (SURVEY.md §5.1): char/word/sentence
    // counts via higher-order functions, checked against DuckDB.
    "news_text_stats" -> ((s, dir) =>
      Sources.documents(s, dir)
        .withColumn("dotted", expr("replace(text, ' the ', '. ')"))
        .select(
          col("doc_id"),
          length(col("text")).cast("long").as("len_text"),
          size(split(trim(col("text")), "[ \\t\\n\\x0B\\f\\r]+")).cast("long").as("n_words"),
          size(filter(split(col("dotted"), "\\."),
            x => trim(x) =!= "")).cast("long").as("n_sentences"))
        .orderBy("doc_id")),


    // Corpus vocabulary (training-data extension): per-word document
    // frequency + occurrence count, top-k by df. One shuffle on the word
    // key with partial aggregation; the top-k is TakeOrderedAndProject
    // (per-partition heads, k-row driver merge) — never a global sort.
    "text_vocab" -> ((s, dir) => {
      val words = Sources.documents(s, dir)
        .select(col("doc_id"),
          explode(split(util.Norm.normalize(col("text")), " ")).as("word"))
        .filter(col("word") =!= "")
      words.groupBy("word")
        .agg(
          count(lit(1)).as("n_occurrences"),
          countDistinct(col("doc_id")).as("df"))
        .orderBy(col("df").desc, col("word"))
        .limit(100)
    }),


    // TF-IDF term weighting (training-data relevance scoring): term
    // frequency per (doc, word), document frequency over the FULL corpus
    // (one shuffle each, partial aggregation), idf = ln((N+1)/(df+1))
    // smoothed. The corpus size joins in as a broadcast 1-row aggregate —
    // no driver-side count. Scores are sig-stabilized (ln's last ulp is
    // not a cross-engine contract); the doc_id slice bounds output rows,
    // not the computation.
    "text_tfidf" -> ((s, dir) => {
      val docs = Sources.documents(s, dir)
      val words = docs.select(col("doc_id"),
          explode(split(util.Norm.normalize(col("text")), " ")).as("word"))
        .filter(col("word") =!= "")
      val tf = words.groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))
      val dfreq = words.groupBy("word").agg(countDistinct(col("doc_id")).as("df"))
      val nDocs = docs.agg(count(lit(1)).as("n_docs"))
      tf.filter(col("doc_id") < 50)
        .join(dfreq, "word")
        .crossJoin(broadcast(nDocs))
        .select(col("doc_id"), col("word"), col("tf"), col("df"),
          util.Stable.sig(col("tf") *
            log((col("n_docs") + 1).cast("double") / (col("df") + 1))).as("tfidf"))
        .orderBy("doc_id", "word")
    }),


    // Language ID via stopword-profile scoring with deterministic argmax —
    // single-pass projection, no shuffle at any scale.
    "text_lang_id" -> ((s, dir) =>
      text.TextAnalysis.langId(Sources.documents(s, dir), "doc_id", "text")
        .orderBy("doc_id")),


    // PII redaction (training-data extension): regex scrub of emails and
    // phone numbers — per-row projection, no shuffle at any scale. The
    // fixture text contains no PII, so deterministic PII is INJECTED
    // in-query (mirrored exactly in the oracle) and the redaction is
    // verified by occurrence counts + an md5 of the scrubbed text (both
    // engines must scrub to the identical byte string).
    "text_pii_redact" -> ((s, dir) => {
      val emailRe = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
      val phoneRe = "\\+[0-9]{2} [0-9]{3} [0-9]+"
      val docs = Sources.documents(s, dir).select(col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 7 === 0,
            concat(lit(" contact user"), col("doc_id"), lit("@example.com")))
            .otherwise(lit("")),
          when(col("doc_id") % 11 === 0,
            concat(lit(" call +62 812 "), col("doc_id"))).otherwise(lit("")))
          .as("text"))
      docs.select(
        col("doc_id"),
        regexp_count(col("text"), lit(emailRe)).cast("long").as("n_emails"),
        regexp_count(col("text"), lit(phoneRe)).cast("long").as("n_phones"),
        md5(regexp_replace(regexp_replace(col("text"), emailRe, "<EMAIL>"),
          phoneRe, "<PHONE>").cast("binary")).as("redacted_md5"))
        .orderBy("doc_id")
    }),


    // Repetition scoring (a Gopher-style quality rule): most-common-word
    // ratio per doc — high ratio = degenerate/repetitive text. One
    // keyed shuffle with partial aggregation; ratio of exact longs
    // divides to the same double in any engine.
    "text_repetition" -> ((s, dir) => {
      val words = Sources.documents(s, dir)
        .select(col("doc_id"),
          explode(split(util.Norm.normalize(col("text")), " ")).as("word"))
        .filter(col("word") =!= "")
      words.groupBy("doc_id", "word").agg(count(lit(1)).as("n"))
        .groupBy("doc_id").agg(
          sum(col("n")).as("n_words"),
          max(col("n")).as("max_word_count"),
          count(lit(1)).as("n_distinct_words"))
        .withColumn("top_word_ratio", col("max_word_count") / col("n_words"))
        .orderBy("doc_id")
    }),


    // Duplicate word-3-gram fraction — the Gopher-class repetition
    // signal text_repetition's top-word ratio misses (a doc that cycles
    // two phrases has a low top-word ratio but a high dup-n-gram
    // fraction). ENTIRELY row-local and shuffle-free: the total 3-gram
    // count is arithmetic on the word count, the distinct count reuses
    // the codegen'd WordShingles expression (first-occurrence-distinct by
    // contract), and the fraction is one IEEE division of identical
    // integers per engine. At 100 TB this is a free column on any scan.
    "text_dup_ngrams" -> ((s, dir) => {
      val nWords = size(split(util.Norm.normalize(col("text")), " "))
        .cast("long")
      val total = greatest(nWords - 2, lit(0L))
      val dist = size(dedup.Dedup.shingles(col("text"))).cast("long")
      Sources.documents(s, dir)
        .select(col("doc_id"), total.as("n_grams"), dist.as("n_distinct"),
          (total - dist).as("n_dup"))
        .withColumn("dup_frac",
          when(col("n_grams") > 0,
            col("n_dup").cast("double") / col("n_grams")))
        .orderBy("doc_id")
    }),


    // Unigram-LM quality scoring (training-data extension): avg negative
    // log-probability per doc under the corpus's own unigram model — the
    // cheap statistical fluency filter (the KenLM-score shape without
    // model weights). Two keyed shuffles (word freq, per-doc rollup) +
    // one word-keyed join, all with partial aggregation; the corpus
    // total joins in as a broadcast 1-row aggregate. Per-word -ln(p) is
    // QUANTIZED to 1e-4 longs before summing so the per-doc sum is exact
    // integer arithmetic — order-independent across engines (a raw
    // double sum would be partitioning-dependent).
    "text_unigram_logprob" -> ((s, dir) => {
      // Round 14 A/B: a one-pass restructure (cluster docs, materialize
      // tf, re-aggregate freq/total from it) measured 0.58 -> 1.14 s at
      // sf0.1 — the persist+count of the doc×word cache costs more than
      // re-running this CHEAP split+explode chain three times (the
      // emb_pca_power lesson: actions cost more than recompute at this
      // size). REVERTED; the original three-consumer form stands.
      val words = Sources.documents(s, dir)
        .select(col("doc_id"),
          explode(split(util.Norm.normalize(col("text")), " ")).as("word"))
        .filter(col("word") =!= "")
      val tf = words.groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))
      val freq = words.groupBy("word").agg(count(lit(1)).as("wf"))
      val total = words.agg(count(lit(1)).as("n_total"))
      val negLogQ = floor(-log(col("wf").cast("double") / col("n_total")) * 1e4 + 0.5)
        .cast("long")
      tf.join(freq, "word")
        .crossJoin(broadcast(total))
        .groupBy("doc_id").agg(
          sum(col("tf")).as("n_words"),
          ((sum(col("tf") * negLogQ) / 1e4) / sum(col("tf"))).as("avg_neg_logprob"))
        .orderBy("doc_id")
    }),


    // Bigram-LM fluency scoring — the conditional twin of
    // text_unigram_logprob: avg -ln p(w2|w1) per doc under the corpus's
    // own MLE bigram model (c12/c1; every in-doc bigram occurs in the
    // corpus, so no zero-probability smoothing is needed). Bigram
    // instances from one array transform per row (no self-join); joint +
    // predecessor counts are keyed aggregates with partial aggregation.
    // Per-instance -ln is QUANTIZED to 1e-4 longs before summing — exact
    // order-independent integer arithmetic, like the unigram scorer.
    // Docs with < 2 words have no bigrams and drop out (both engines).
    "text_bigram_logprob" -> ((s, dir) => {
      // Round 14 A/B: the one-pass restructure (materialize tf,
      // re-aggregate c12/c1 from it) measured 1.25 -> 1.74 s at sf0.1 —
      // like text_unigram_logprob, the doc×bigram cache's persist+count
      // costs more than re-running the derivation (REVERTED to the
      // three-consumer form).
      val inst = Sources.documents(s, dir)
        .select(col("doc_id"), split(util.Norm.normalize(col("text")), " ").as("ws"))
        .select(col("doc_id"), explode(expr(
          """CASE WHEN size(ws) >= 2
            |     THEN transform(sequence(1, size(ws) - 1),
            |                    i -> struct(ws[i-1] AS w1, ws[i] AS w2))
            |     ELSE array() END""".stripMargin)).as("b"))
        .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
        .filter(col("w1") =!= "" && col("w2") =!= "")
      val tf = inst.groupBy("doc_id", "w1", "w2").agg(count(lit(1)).as("tf"))
      val cj = inst.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
      val c1 = inst.groupBy("w1").agg(count(lit(1)).as("c1"))
      val negLogQ = floor(-log(col("c12") / col("c1")) * 1e4 + 0.5).cast("long")
      tf.join(cj, Seq("w1", "w2")).join(c1, "w1")
        .groupBy("doc_id").agg(
          sum(col("tf")).as("n_bigrams"),
          ((sum(col("tf") * negLogQ) / 1e4) / sum(col("tf"))).as("avg_neg_logprob"))
        .orderBy("doc_id")
    }),


    // Corpus-level top n-grams (training-data extension): the highest-
    // document-frequency word 3-grams — the boilerplate/contamination
    // audit table. Reuses the dedup shingle derivation (distinct shingles
    // per doc, so count = document frequency); one keyed shuffle with
    // partial aggregation, then a global bounded top-k that plans as
    // TakeOrderedAndProject (per-partition heaps; only 20 rows per
    // partition reach the driver-side merge — no full sort at any scale).
    "text_top_ngrams" -> ((s, dir) =>
      Sources.documents(s, dir)
        .select(col("doc_id"), explode(dedup.Dedup.shingles(col("text"))).as("ngram"))
        .groupBy("ngram").agg(count(lit(1)).as("df"))
        .orderBy(col("df").desc, col("ngram"))
        .limit(20)),


    // Heavy hitters via the native Misra–Gries sketch (mg_sketch, a
    // TypedImperativeAggregate — graft/functions/MisraGries.scala): the
    // bounded-memory frequent-items path. Phase 1 reduces every partition
    // to a fixed-size mergeable sketch whose survivors are a GUARANTEED
    // superset of all items with count > N/(capacity+1); phase 2 exactly
    // recounts ONLY the candidates (broadcast semi-join — the full
    // vocabulary never shuffles) and takes the exact top-20 via
    // TakeOrderedAndProject. At 100 TB this replaces a full-vocabulary
    // groupBy with an O(capacity)-per-partition sketch + a recount
    // restricted to <= capacity keys. Capacity 64 makes the guarantee
    // threshold N/65 sit far below the fixture's 20th-ranked count
    // (~888 vs ~418 at sf0.01), so the sketch provably cannot miss a
    // top-20 word and the output equals DuckDB's exact top-20.
    "text_heavy_hitters" -> ((s, dir) => {
      val words = Sources.documents(s, dir)
        .select(explode(split(util.Norm.normalize(col("text")), " ")).as("word"))
        .filter(col("word") =!= "")
      val sketch = words.agg(
        org.apache.spark.sql.GraftColumnBridge.column(
          functions.MisraGries(
            org.apache.spark.sql.GraftColumnBridge.expression(col("word")),
            capacity = 64).toAggregateExpression()).as("sk"))
      val candidates = sketch.select(explode(map_keys(col("sk"))).as("word"))
      words.join(broadcast(candidates), Seq("word"), "left_semi")
        .groupBy("word").agg(count(lit(1)).as("n_occurrences"))
        .orderBy(col("n_occurrences").desc, col("word"))
        .limit(20)
    }),


    // COUNT-MIN frequency estimation (round 6, completing the sketch
    // family: HLL = cardinality, Misra-Gries = heavy-hitter candidates,
    // Bloom = membership, GK = quantiles, CMS = point frequencies): one
    // pass builds the native mergeable `cms_agg` counter grid — a few KB
    // regardless of key cardinality, the whole point at 100 TB — and the
    // top-20 exact words are then estimated from the broadcast sketch by
    // a pure projection (no second corpus scan for the estimates). The
    // bucket hash is the repo's cross-engine md5→long contract, so the
    // DuckDB oracle REPLAYS the sketch cell-for-cell and hash-matches the
    // estimates — and the CMS one-sided guarantee (estimate never
    // undercounts) is enforced in-query via assert_true, GK-style.
    "text_cms_freq" -> ((s, dir) => {
      import org.apache.spark.sql.GraftColumnBridge.{column => cexpr, expression => eexpr}
      val (depth, width) = (4, 64)
      val words = Sources.documents(s, dir)
        .select(explode(split(util.Norm.normalize(col("text")), " ")).as("word"))
        .filter(col("word") =!= "")
      val sketch = words.agg(cexpr(functions.CmsAgg(
        eexpr(col("word")), depth, width).toAggregateExpression()).as("cms"))
      val exact = words.groupBy("word").agg(count(lit(1)).as("n_exact"))
        .orderBy(col("n_exact").desc, col("word")).limit(20)
      // Per-row point lookup: bucket_j(word) via the same md5 contract the
      // native update loop uses; estimate = least over the depth rows.
      val ests = (0 until depth).map { j =>
        val bkt = conv(substring(md5(
          concat(lit(s"$j:"), col("word")).cast("binary")), 1, 8), 16, 10)
          .cast("long") % width
        element_at(col("cms"), ((lit(j * width) + bkt).cast("int")) + 1)
      }
      exact.crossJoin(broadcast(sketch))
        .withColumn("n_est", least(ests: _*))
        .select(col("word"), col("n_exact"),
          when(assert_true(col("n_est") >= col("n_exact"),
            lit("CMS undercount — one-sided guarantee violated")).isNull,
            col("n_est")).as("n_est"))
        .orderBy(col("n_exact").desc, col("word"))
    }),


    // PMI bigram COLLOCATIONS (corpus statistics): pointwise mutual
    // information over adjacent word pairs — the classic collocation /
    // tokenizer-merge-candidate table. Bigram instances from one array
    // transform per row (no self-join); joint + both marginal counts are
    // keyed aggregates with partial aggregation; the corpus total is a
    // broadcast 1-row aggregate. ln is quantized to 1e-6 longs so the
    // top-20 cut is adjudicated on exact integers in both engines.
    "text_pmi_bigrams" -> ((s, dir) => {
      val inst = Sources.documents(s, dir)
        .select(split(util.Norm.normalize(col("text")), " ").as("ws"))
        .select(explode(expr(
          """CASE WHEN size(ws) >= 2
            |     THEN transform(sequence(1, size(ws) - 1),
            |                    i -> struct(ws[i-1] AS w1, ws[i] AS w2))
            |     ELSE array() END""".stripMargin)).as("b"))
        .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
        .filter(col("w1") =!= "" && col("w2") =!= "")
      val n = inst.agg(count(lit(1)).as("n_bigrams"))
      val c1 = inst.groupBy("w1").agg(count(lit(1)).as("c1"))
      val c2 = inst.groupBy("w2").agg(count(lit(1)).as("c2"))
      val cj = inst.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
        .filter(col("c12") >= 5)
      cj.join(c1, "w1").join(c2, "w2").crossJoin(broadcast(n))
        .withColumn("pmi",
          floor(log((col("c12").cast("double") * col("n_bigrams")) /
            (col("c1").cast("double") * col("c2"))) * 1e6 + 0.5).cast("long") / 1e6)
        .select("w1", "w2", "c12", "pmi")
        .orderBy(col("pmi").desc, col("w1"), col("w2"))
        .limit(20)
    }),


    // Token counting: whitespace tokens + BPE-ish regex pre-tokenization.
    "text_tokens" -> ((s, dir) =>
      text.TextAnalysis.tokenStats(Sources.documents(s, dir), "doc_id", "text")
        .orderBy("doc_id")),


    // Quality scoring: length/stopword/punct/digit signals + composite.
    "text_quality" -> ((s, dir) =>
      text.TextAnalysis.qualityScore(Sources.documents(s, dir), "doc_id", "text")
        .orderBy("doc_id")),


    // Document fingerprinting: content md5 + word-level polynomial
    // rolling hash (Rabin-Karp shape).
    "text_fingerprint" -> ((s, dir) =>
      text.TextAnalysis.fingerprints(Sources.documents(s, dir), "doc_id", "text")
        .orderBy("doc_id")),


    // Word-distribution ENTROPY per doc (training-data extension): the
    // vocabulary-diversity quality signal (low entropy = repetitive spam,
    // keyword stuffing). H = ln(N) - Σ n·ln(n) / N over per-doc word
    // counts; each ln is QUANTIZED to 1e-4 longs so the sum is exact
    // integer arithmetic (order-independent across engines), and the
    // final value is ONE IEEE division of identical integers. One
    // (doc, word) aggregate + one doc rollup, both with map-side partials.
    "text_word_entropy" -> ((s, dir) => {
      val words = Sources.documents(s, dir)
        .select(col("doc_id"),
          explode(split(util.Norm.normalize(col("text")), " ")).as("word"))
        .filter(col("word") =!= "")
      def lnQ(c: org.apache.spark.sql.Column) =
        floor(log(c.cast("double")) * 1e4 + 0.5).cast("long")
      words.groupBy("doc_id", "word").agg(count(lit(1)).as("n"))
        .groupBy("doc_id").agg(
          sum(col("n")).as("n_words"),
          count(lit(1)).as("n_distinct_words"),
          sum(col("n") * lnQ(col("n"))).as("sum_n_ln_n_q4"))
        .withColumn("entropy",
          (col("n_words") * lnQ(col("n_words")) - col("sum_n_ln_n_q4"))
            / (col("n_words") * lit(1e4)))
        .orderBy("doc_id")
    }),


    // INVERTED PHRASE INDEX (retrieval primitive): bigram term → ordered
    // posting list of the documents containing it (bigram terms, not
    // unigrams, because a phrase index is what brute regex search can't
    // do — and the fixture's 31-word unigram vocab is all heavy
    // hitters). Build order is the scale contract: document frequency
    // FIRST, band the terms (df 2..50 — drop hapaxes and stopword-grade
    // heavy hitters), and only collect postings for SURVIVING terms —
    // collecting before filtering would materialize a billion-element
    // list under every hot term before HAVING could drop it. The
    // exploded (term, doc) view is materialized once and read by both
    // passes. Posting lists are df-capped → bounded per key; emitted as
    // a '|'-joined string in ascending doc order (one canonical byte
    // form on both engines).
    "text_inverted_index" -> ((s, dir) => {
      // Doc rows clustered before the bigram explode (round 14, the
      // dedup shingle discipline): the normalize+split+transform chain
      // otherwise runs inside the single-split corpus scan task, and the
      // one exchange paid here ships narrow doc rows instead of the
      // exploded bigram rows the downstream distinct would ship anyway.
      val terms = util.Views.materialize(
        Sources.documents(s, dir)
          .select(col("doc_id"), col("text")).repartition(col("doc_id"))
          .select(col("doc_id"),
            split(util.Norm.normalize(col("text")), " ").as("ws"))
          .select(col("doc_id"), explode(expr(
            """CASE WHEN size(ws) >= 2
              |     THEN transform(sequence(1, size(ws) - 1),
              |                    i -> struct(ws[i-1] AS w1, ws[i] AS w2))
              |     ELSE array() END""".stripMargin)).as("b"))
          .filter(col("b.w1") =!= "" && col("b.w2") =!= "")
          .select(col("doc_id"),
            concat(col("b.w1"), lit(" "), col("b.w2")).as("term"))
          .distinct())
      val surviving = terms.groupBy("term")
        .agg(count(lit(1)).as("df"))
        .filter(col("df").between(2, 50))
      terms.join(surviving, "term")
        .groupBy("term")
        .agg(min("df").as("df"),
          expr("array_join(transform(sort_array(collect_list(doc_id)), " +
            "x -> cast(x AS string)), '|')").as("postings"))
        .orderBy("term")
    }),


    // RAKE KEYWORD EXTRACTION (Rose et al. 2010) — unsupervised
    // keyphrase mining, the corpus-curation primitive behind topic
    // audits and dataset cards. Candidate phrases are maximal stopword-
    // free token runs (split on non-alpha; breaks = empties + the en
    // stopword profile); each word scores degree/frequency (degree =
    // Σ length of phrases containing it), each phrase the sum of its
    // word scores. Word scores quantize to ×1e6 integer division and
    // phrase scores are exact integer sums — no FP summation order
    // anywhere. Shapes at scale: tokenization + break marking are
    // row-local; phrase numbering is a per-doc window (bounded by doc
    // length); word stats are one keyed aggregate whose output (the
    // vocabulary) broadcasts back onto phrase members; the global top-20
    // is TakeOrderedAndProject, never a full sort.
    "text_rake_keywords" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val stops = text.TextAnalysis.stopwords.head._2
      // Doc rows clustered BEFORE the explode (the textrank discipline):
      // the one exchange ships narrow doc rows and satisfies both phrase
      // windows' doc_id distribution, so tokenization + windowing run
      // parallel with no word-row exchange.
      val toks = Sources.documents(s, dir)
        .select(col("doc_id"), col("text")).repartition(col("doc_id"))
        .select(col("doc_id"), posexplode(split(lower(col("text")), "[^a-z]+")))
        .withColumnRenamed("col", "w")
        .withColumn("is_break",
          (col("w") === "" || col("w").isInCollection(stops)).cast("long"))
      val wDoc = Window.partitionBy("doc_id").orderBy("pos")
      val members = toks
        .withColumn("phrase_id", sum(col("is_break")).over(wDoc))
        .filter(col("is_break") === 0)
        .withColumn("plen",
          count(lit(1)).over(Window.partitionBy("doc_id", "phrase_id")))
      val wordStats = members.groupBy("w")
        .agg(count(lit(1)).as("freq"), sum(col("plen")).as("deg"))
        .withColumn("wscore_q", expr("deg * 1000000 div freq"))
      val phraseText = members.groupBy("doc_id", "phrase_id")
        .agg(array_join(transform(
            array_sort(collect_list(struct(col("pos"), col("w")))),
            e => e("w")), " ").as("phrase"),
          count(lit(1)).as("n_words"))
      val phraseScore = members
        .join(broadcast(wordStats.select("w", "wscore_q")), "w")
        .groupBy("doc_id", "phrase_id").agg(sum(col("wscore_q")).as("score_q"))
      phraseText.join(phraseScore, Seq("doc_id", "phrase_id"))
        .filter(col("n_words") >= 2)
        .groupBy("phrase", "n_words")
        .agg(count(lit(1)).as("n_occ"), max(col("score_q")).as("score_q"))
        .withColumn("score", col("score_q") / 1e6)
        .select("phrase", "n_words", "n_occ", "score")
        .orderBy(col("score").desc, col("phrase"))
        .limit(20)
    }),


    // TOKENIZER FERTILITY — BPE-ish tokens per whitespace word, by
    // language: the readout that decides whether a tokenizer is
    // efficient on each language slice of a corpus (fertility ≫ 1 means
    // the vocab fragments that language). Reuses tokenStats' row-local
    // token counters (both engines share the regex contract); the
    // rollup is one lang-keyed aggregate of exact integer counts, and
    // fertility divides the two corpus sums once.
    "text_tokenizer_fertility" -> ((s, dir) => {
      // tokenStats is a per-row projection of the same table the lang
      // column lives in — carrying `lang` through it as the id column
      // deletes the doc_id re-scan join (round 14, the lang_confusion
      // join elimination). No width guard: the A/B read 0.18 -> 0.38 s
      // with one (the regex CPU here is lighter than the doc-row
      // exchange it buys).
      text.TextAnalysis.tokenStats(
          Sources.documents(s, dir).select(col("lang"), col("text")),
          "lang", "text")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_ws_tokens")).as("ws_tokens"),
          sum(col("n_bpe_tokens")).as("bpe_tokens"))
        .withColumn("fertility",
          col("bpe_tokens").cast("double") / col("ws_tokens").cast("double"))
        .select("lang", "n_docs", "ws_tokens", "bpe_tokens", "fertility")
        .orderBy("lang")
    }),


    // LANGUAGE-ID CONFUSION MATRIX — the classifier-eval readout over
    // the heuristic language tagger: truth (the corpus lang column) ×
    // prediction cells with per-truth share. Prediction is the row-local
    // langId projection; the matrix is one keyed aggregate over ≤
    // langs² cells, marginals re-aggregate the cell table (the
    // chi2/seasonality pattern) — the corpus is scanned once.
    "text_lang_confusion" -> ((s, dir) => {
      // Truth and prediction come from the SAME row, so the old
      // pred⋈truth join on doc_id re-scanned the corpus to attach a
      // column the first scan already had (round 14 — join elimination,
      // guide §3): langId is a per-row projection, so carrying `lang`
      // through it as the id column yields (truth, pred) in ONE pass.
      // The scan is width-guarded: the stopword scoring is the query's
      // whole CPU and otherwise runs inside the single-split scan task.
      val cells = text.TextAnalysis.langId(
          util.Par.widen(Sources.documents(s, dir)
            .select(col("doc_id"), col("lang"), col("text")), col("doc_id")),
          "lang", "text")
        .select(col("lang").as("truth"), col("lang_id").as("pred"))
        .groupBy("truth", "pred").agg(count(lit(1)).as("n"))
      val totals = cells.groupBy("truth").agg(sum(col("n")).as("n_truth"))
      cells.join(broadcast(totals), "truth")
        .withColumn("share",
          col("n").cast("double") / col("n_truth").cast("double"))
        .select("truth", "pred", "n", "n_truth", "share")
        .orderBy("truth", "pred")
    }),


    // COHEN'S KAPPA — chance-corrected agreement between the heuristic
    // language tagger and the corpus labels: κ = (p_o − p_e)/(1 − p_e)
    // from the same confusion cells as text_lang_confusion. Diagonal and
    // marginal sums are exact integers; p_o, p_e, and κ are one IEEE
    // tree over them in a single output row — the annotation-QA number
    // every labeling pipeline tracks, at aggregate cost O(langs²).
    "text_lang_kappa" -> ((s, dir) => {
      // Same join elimination + width guard as text_lang_confusion
      // (round 14): (truth, pred) are one per-row projection, no re-scan
      // join on doc_id.
      val cells = text.TextAnalysis.langId(
          util.Par.widen(Sources.documents(s, dir)
            .select(col("doc_id"), col("lang"), col("text")), col("doc_id")),
          "lang", "text")
        .select(col("lang").as("truth"), col("lang_id").as("pred"))
        .groupBy("truth", "pred").agg(count(lit(1)).as("n"))
      val rowT = cells.groupBy("truth").agg(sum(col("n")).as("rt"))
      val colT = cells.groupBy("pred").agg(sum(col("n")).as("ct"))
      val agree = cells.filter(col("truth") === col("pred"))
        .agg(coalesce(sum(col("n")), lit(0L)).as("n_agree"))
      val chance = rowT.join(colT, col("truth") === col("pred"))
        .agg(coalesce(sum(col("rt") * col("ct")), lit(0L)).as("sum_rc"))
      val total = cells.agg(sum(col("n")).as("n_total"))
      total.crossJoin(broadcast(agree)).crossJoin(broadcast(chance))
        .withColumn("po",
          col("n_agree").cast("double") / col("n_total").cast("double"))
        .withColumn("pe",
          col("sum_rc").cast("double") /
            (col("n_total").cast("double") * col("n_total").cast("double")))
        .withColumn("kappa",
          (col("po") - col("pe")) / nullif(lit(1.0) - col("pe"), lit(0.0)))
        .select("n_total", "n_agree", "po", "pe", "kappa")
    }),


    // ZIPF SLOPE — does the vocabulary follow a power law, and how
    // steep? OLS of lnQ(freq) on lnQ(rank) over the frequency-ranked
    // vocabulary, with BOTH log coordinates quantized to 1e-4 longs
    // BEFORE the moment sums (identical integer ln inputs → identical
    // quantized coordinates cross-engine), so the closed-form slope/R²
    // is one IEEE tree over exact BIGINT moments. The rank window runs
    // over vocabulary types only (the docs_ngram_coverage argument); a
    // natural corpus lands near slope −1 — drifting far from it flags
    // synthetic or templated text.
    "text_zipf_slope" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      def lnQ(c: Column) = floor(log(c.cast("double")) * 1e4 + 0.5).cast("long")
      val vocab = Sources.documents(s, dir)
        .select(explode(split(util.Norm.normalize(col("text")), " ")).as("word"))
        .filter(col("word") =!= "")
        .groupBy("word").agg(count(lit(1)).as("freq"))
      val pts = vocab
        .withColumn("rk", row_number().over(
          Window.orderBy(col("freq").desc, col("word"))).cast("long"))
        .select(lnQ(col("rk")).as("x"), lnQ(col("freq")).as("y"))
      pts.agg(count(lit(1)).as("n"),
          sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("y") * col("y")).as("syy"),
          sum(col("x") * col("y")).as("sxy"))
        .withColumn("slope",
          (col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
            nullif((col("n") * col("sxx") - col("sx") * col("sx")).cast("double"),
              lit(0.0)))
        .withColumn("r2",
          ((col("n") * col("sxy") - col("sx") * col("sy")).cast("double") *
            (col("n") * col("sxy") - col("sx") * col("sy")).cast("double")) /
            nullif((col("n") * col("sxx") - col("sx") * col("sx")).cast("double") *
              (col("n") * col("syy") - col("sy") * col("sy")).cast("double"),
              lit(0.0)))
        .select("n", "slope", "r2")
    }),


    // Multinomial NAIVE BAYES language classifier — TRAINED AND EVALUATED
    // in one distributed query: fit Laplace-smoothed per-(lang, word)
    // token counts on the 90% doc_id-hash train split, score the 10%
    // test split, report the truth×prediction confusion matrix. Every
    // log-likelihood term follows the quantized-ln discipline (ln of
    // INTEGER counts, floor(·1e4+0.5) per term BEFORE summing), so doc
    // scores are exact BIGINTs and the argmax (score desc, lang asc) is
    // bit-deterministic in both engines; unseen words contribute
    // qln(0+1) = 0 via the left join's coalesce, which is exactly the
    // smoothing's intent. Scale shape: the model IS a keyed aggregate
    // (lang × vocab); scoring explodes test tokens by the |langs|-row
    // broadcast lang table and joins the model co-keyed on (word, lang)
    // — no per-doc loops, no driver round-trips, model size bounded by
    // vocabulary, not corpus.
    "text_naive_bayes" -> ((s, dir) => {
      val words = Sources.documents(s, dir)
        .select(col("doc_id"), col("lang"),
          explode(split(util.Norm.normalize(col("text")), " ")).as("word"))
        .filter(col("word") =!= "")
      val isTest = col("doc_id") % 10 === 0
      def qln(c: Column): Column =
        floor(log(c.cast("double")) * 1e4 + 0.5).cast("long")
      val trainW = words.filter(!isTest)
      val model = trainW.groupBy(col("lang").as("mlang"), col("word"))
        .agg(count(lit(1)).as("c"))
        .select(col("mlang"), col("word"), qln(col("c") + 1).as("qc"))
      val nTok = trainW.groupBy(col("lang").as("mlang"))
        .agg(count(lit(1)).as("ntok"))
      val nDocs = trainW.select("doc_id", "lang").distinct()
        .groupBy(col("lang").as("mlang")).agg(count(lit(1)).as("ndocs"))
      val vocab = trainW.agg(countDistinct(col("word")).as("v"))
      val langTable = nTok.join(nDocs, "mlang").crossJoin(broadcast(vocab))
        .select(col("mlang"), qln(col("ntok") + col("v")).as("qdenom"),
          qln(col("ndocs")).as("qprior"))
      val testW = words.filter(isTest)
      val docLen = testW.groupBy("doc_id").agg(count(lit(1)).as("dn"))
      val perLang = testW
        .crossJoin(broadcast(langTable))
        .join(model, Seq("word", "mlang"), "left")
        .groupBy(col("doc_id"), col("lang").as("truth"), col("mlang"))
        .agg(sum(coalesce(col("qc"), lit(0L))).as("sqc"),
          max(col("qdenom")).as("qdenom"), max(col("qprior")).as("qprior"))
        .join(docLen, "doc_id")
        .select(col("doc_id"), col("truth"), col("mlang"),
          (col("sqc") - col("dn") * col("qdenom") + col("qprior")).as("score"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("doc_id").orderBy(col("score").desc, col("mlang").asc)
      perLang.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .groupBy(col("truth"), col("mlang").as("pred"))
        .agg(count(lit(1)).as("n_docs"))
        .orderBy("truth", "pred")
    }),


    // FEATURE HASHING (the hashing trick) audit: words hash into 512
    // buckets via the engine's md5 contract; the readout is the bucket
    // OCCUPANCY HISTOGRAM (how many buckets hold k distinct words, with
    // the k=0 empty-bucket row) plus each occupancy class's token mass —
    // what you consult before freezing the hashed dimensionality of a
    // text model: collisions are the accuracy tax, empties are wasted
    // parameters. Vocabulary-grain throughout (the corpus pass is one
    // keyed aggregate); the histogram is at most 512 rows.
    "text_feature_hashing" -> ((s, dir) => {
      val words = Sources.documents(s, dir)
        .select(explode(split(util.Norm.normalize(col("text")), " ")).as("word"))
        .filter(col("word") =!= "")
      val byWord = words.groupBy("word").agg(count(lit(1)).as("tf"))
        .withColumn("bucket",
          conv(substring(md5(col("word").cast("binary")), 1, 8), 16, 10)
            .cast("long") % 512)
      val byBucket = byWord.groupBy("bucket")
        .agg(count(lit(1)).as("n_words"), sum(col("tf")).as("tokens"))
      val hist = byBucket.groupBy("n_words")
        .agg(count(lit(1)).as("n_buckets"), sum(col("tokens")).as("tokens"))
      val empty = byBucket.agg(
        (lit(512L) - count(lit(1))).as("n_buckets")).filter(col("n_buckets") > 0)
        .select(lit(0L).as("n_words"), col("n_buckets"), lit(0L).as("tokens"))
      hist.unionByName(empty).orderBy("n_words")
    }),


    // ONE BPE MERGE STEP — the inner loop of byte-pair-encoding tokenizer
    // TRAINING: over the deduplicated (word, frequency) vocabulary, count
    // every adjacent symbol pair weighted by word frequency and rank the
    // merge candidates. At 100 TB the corpus pass already happened (the
    // vocab aggregate); each merge iteration then touches only the
    // VOCABULARY grain — which is why BPE training is tractable on web-
    // scale corpora at all, and why this is a distributed-aggregate
    // problem, not a driver loop. The pair explode is bounded by word
    // LENGTH (sequence over 1..len−1 — words shorter than 2 symbols are
    // filtered BEFORE sequence(), whose descending-step behaviour on
    // start>stop would otherwise fabricate pairs); top-20 adjudicates by
    // (freq DESC, pair ASC) in TakeOrderedAndProject.
    "text_bpe_merge_step" -> ((s, dir) => {
      val vocab = Sources.documents(s, dir)
        .select(explode(split(util.Norm.normalize(col("text")), " ")).as("word"))
        .filter(col("word") =!= "")
        .groupBy("word").agg(count(lit(1)).as("tf"))
      vocab.filter(length(col("word")) >= 2)
        .select(col("tf"),
          explode(sequence(lit(1), length(col("word")) - 1)).as("i"),
          col("word"))
        .select(col("tf"), expr("substring(word, i, 2)").as("pair"))
        .groupBy("pair").agg(sum(col("tf")).as("freq"))
        .orderBy(col("freq").desc, col("pair").asc)
        .limit(20)
    }),


    // FULL BPE TOKENIZER TRAINING (the loop text_bpe_merge_step is one
    // iteration of): 6 rounds of count-pairs → argmax → apply-merge over
    // the vocabulary-grain symbol table, emitting the merge table + the
    // compression trajectory (corpus/vocab token counts after each
    // merge). Merge application is the classic simultaneous leftmost-
    // greedy non-overlapping rule, done RELATIONALLY (candidate runs →
    // even offsets — gaps-and-islands, no sequential scan); each round
    // materializes + lineage-truncates (the PageRank/kcore loop
    // discipline) and costs |vocab symbols|, never a corpus pass. The
    // oracle replays the identical 6-round unroll as chained
    // MATERIALIZED CTEs. See text/Bpe.scala.
    "text_bpe_train" -> ((s, dir) =>
      text.Bpe.trainTrajectory(Sources.documents(s, dir), 6)),


    // FERTILITY under the corpus's OWN trained tokenizer (the readout
    // text_tokenizer_fertility approximates with a regex proxy): run the
    // same 6-merge training, then join the final per-word token counts
    // (vocabulary grain — broadcastable at any corpus scale) back onto
    // the per-(lang, word) occurrence table. The language whose words
    // the learned merges compress least shows the highest fertility —
    // the number that decides whether a tokenizer needs more vocab for
    // a language slice.
    "text_bpe_fertility" -> ((s, dir) =>
      text.Bpe.fertilityByLang(Sources.documents(s, dir), 6)),


    // STORED trained tokenizer (the publish-once shape): the 6-merge
    // training runs once per corpus and its per-word token counts land
    // as a stored artifact (util.Artifacts.ensure) — every downstream
    // application (here the fertility readout) is then one
    // vocabulary-grain broadcast join, the tokenizer-as-published-table
    // discipline production pipelines actually ship. Same oracle as the
    // in-query twin — the artifact round-trip must change nothing.
    "text_bpe_fertility_stored" -> ((s, dir) => {
      val docs = Sources.documents(s, dir)
      val out = util.Artifacts.inWarehouse(s,
        s"graft_bpe_tok_${util.Artifacts.sfTag(dir)}")
      util.Artifacts.ensure(s, out, s"$dir|steps=6") {
        text.Bpe.trainedWordTokens(docs, 6)
          .write.parquet(out.toString)
      }
      text.Bpe.fertilityByLangWith(docs, s.read.parquet(out.toString))
    }),


    // TEXTRANK keyword extraction — PageRank over the word co-occurrence
    // graph, reusing the engine's ALL-INTEGER power iteration
    // (graph/PageRank.scala): adjacent-word pairs become the undirected
    // edge set, words get DENSE integer ids via the range-sort rank
    // discipline (util.Ranks.withGlobalRank — bit-identical to a
    // row_number over the sorted vocab, never a hash whose collisions
    // would silently merge words, and never a single-partition window),
    // and six damped rounds rank the graph in exact 1e-9 units. The id
    // and readback joins are plain co-keyed joins on the word (round
    // 13, VERDICT r12 #3): a web corpus's noisy vocabulary (1e8+ terms)
    // can neither sort on one partition nor broadcast, and the
    // vocabulary-grain frames shuffle on the same key the pairs frame
    // already shuffles on for its distinct. The corpus pass is one
    // lead() window per doc; every iteration thereafter costs |word
    // graph|, not |corpus| — same property that makes text_bpe_merge_step
    // feasible. Top-20 by (pr DESC, word).
    "text_textrank_keywords" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("doc_id").orderBy("pos")
      // Doc rows clustered BEFORE the explode (round 14, the dedup
      // shingle discipline): a small-file corpus scan is ONE task, so
      // normalize+split+posexplode otherwise run on one core — and the
      // one exchange paid here ships narrow doc rows AND satisfies the
      // adjacency window's doc_id distribution, so the window plans no
      // second exchange over the (3× wider) exploded word rows.
      val docsW = Sources.documents(s, dir)
        .select(col("doc_id"), col("text")).repartition(col("doc_id"))
      val words = docsW
        .select(col("doc_id"),
          posexplode(split(util.Norm.normalize(col("text")), " "))
            .as(Seq("pos", "word")))
        .filter(col("word") =!= "")
      val pairs = words
        .withColumn("nxt", lead(col("word"), 1).over(w))
        .filter(col("nxt").isNotNull && col("word") =!= col("nxt"))
        .select(col("word").as("wa"), col("nxt").as("wb"))
      val ids = util.Views.materialize(util.Ranks.withGlobalRank(
        words.select("word").distinct(), "wid", col("word")))
      val und = pairs
        .join(ids.select(col("word").as("wa"), col("wid").as("ia")), "wa")
        .join(ids.select(col("word").as("wb"), col("wid").as("ib")), "wb")
        .select(least(col("ia"), col("ib")).as("u"),
          greatest(col("ia"), col("ib")).as("v"))
        .distinct()
      // Symmetrize by explode, not union(und, und.swapped) (round 14 —
      // the SCALE.md lesson the graph registry applied in round 13): the
      // union form scanned the whole pair derivation (corpus window +
      // two id joins + distinct) TWICE inside PageRank's edge
      // materialization. One scan, two rows per undirected pair.
      val edges = und.select(explode(array(
          struct(col("u").as("src"), col("v").as("dst")),
          struct(col("v").as("src"), col("u").as("dst")))).as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst"))
      graph.PageRank.ranks(edges, iters = 6)
        .join(ids.select(col("wid").as("node"), col("word")), "node")
        .select(col("word"), col("pr"))
        .orderBy(col("pr").desc, col("word"))
        .limit(20)
    }),


    // READABILITY (Flesch reading ease, vowel-group syllable proxy) —
    // the fourth text-quality lens beside length/repetition/entropy:
    // per-language 206.835 − 1.015·(W/S) − 84.6·(Y/W) computed at the
    // LANGUAGE grain from exact per-doc integer counts (words from the
    // normalized text, sentences from raw-punctuation [.!?]+ splits,
    // "syllables" = vowel groups — declared proxy, no per-word floor).
    // Every per-doc signal is row-local (shuffle-free until the one
    // keyed aggregate); the formula is one fixed IEEE tree over exact
    // sums with the classic constants as build-time literals.
    "text_readability" -> ((s, dir) => {
      val norm = util.Norm.normalize(col("text"))
      val d = Sources.documents(s, dir).select(col("lang"),
        size(filter(split(norm, " "), x => x =!= "")).cast("long").as("w"),
        size(filter(split(col("text"), "[.!?]+"), x => trim(x) =!= ""))
          .cast("long").as("sen"),
        length(regexp_replace(regexp_replace(norm, "[aeiou]+", "V"),
          "[^V]", "")).cast("long").as("y"))
      d.groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("w")).as("words"), sum(col("sen")).as("sentences"),
          sum(col("y")).as("syllables"))
        // nullif-guarded divisors (the house convention): a language with
        // 0 sentences/words would yield NULL here but ±inf/NaN under
        // DuckDB's IEEE double division — guard BOTH sides identically.
        .withColumn("wps",
          col("words").cast("double") /
            nullif(col("sentences"), lit(0L)).cast("double"))
        .withColumn("spw",
          col("syllables").cast("double") /
            nullif(col("words"), lit(0L)).cast("double"))
        .withColumn("flesch",
          lit(206.835) - lit(1.015) * col("wps") - lit(84.6) * col("spw"))
        .orderBy("lang")
    }),


    // HAPAX RATIO — vocabulary-richness profile per language: the share
    // of the vocabulary seen exactly once (hapax legomena) and its
    // token-mass share, the lexical-diversity readout beside
    // word-entropy and Zipf slope (a high hapax share predicts a long
    // vocabulary tail — tokenizer-budget planning input). Two keyed
    // aggregates on the (lang, word) grain; ratios are final IEEE
    // divisions of exact counts.
    "text_hapax_ratio" -> ((s, dir) => {
      val wc = Sources.documents(s, dir)
        .select(col("lang"),
          explode(split(util.Norm.normalize(col("text")), " ")).as("w"))
        .filter(col("w") =!= "")
        .groupBy("lang", "w").agg(count(lit(1)).as("c"))
      wc.groupBy("lang")
        .agg(count(lit(1)).as("vocab"),
          sum(col("c")).as("tokens"),
          sum(when(col("c") === 1L, 1L).otherwise(0L)).as("hapax"))
        .withColumn("hapax_vocab_share",
          col("hapax").cast("double") / col("vocab").cast("double"))
        .withColumn("hapax_token_share",
          col("hapax").cast("double") / col("tokens").cast("double"))
        .orderBy("lang")
    }),


    // ENTITY-EXTRACTION PROFILE — the regexp_extract_all surface as a
    // curation signal: per source, how many number tokens, capitalized
    // words, URL-like and email-like spans the raw text carries (the
    // inputs to PII budgeting and structured-content routing). All
    // counts are row-local exact integers; one keyed rollup.
    "text_entity_extract" -> ((s, dir) => {
      val d = Sources.documents(s, dir).select(col("source"),
        size(expr("regexp_extract_all(text, '[0-9]+', 0)")).cast("long")
          .as("n_numbers"),
        size(expr("regexp_extract_all(text, '[A-Z][a-z]+', 0)")).cast("long")
          .as("n_capitalized"),
        size(expr("regexp_extract_all(text, 'https?://[^ ]+', 0)")).cast("long")
          .as("n_urls"),
        size(expr(
          "regexp_extract_all(text, '[a-z0-9._%+-]+@[a-z0-9.-]+', 0)"))
          .cast("long").as("n_emails"))
      d.groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_numbers")).as("n_numbers"),
          sum(col("n_capitalized")).as("n_capitalized"),
          sum(col("n_urls")).as("n_urls"),
          sum(col("n_emails")).as("n_emails"))
        .orderBy("source")
    }),


    // TYPE-TOKEN RATIO CURVE — vocabulary growth at increasing corpus
    // budgets (the Heaps'-law companion to text_zipf_slope and
    // text_hapax_ratio; the tokenizer-sizing question "how fast does
    // the vocabulary still grow"): doc-granular prefixes by doc_id
    // order (the prefix cut runs on the DOC-grain cumulative-token
    // table — bounded by document count, never a token-grain global
    // window), distinct types counted per budget via one words⋈kept
    // join. Four budgets in one pass.
    "text_ttr_curve" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val norm = util.Norm.normalize(col("text"))
      val docs = Sources.documents(s, dir)
        .select(col("doc_id"),
          size(filter(split(norm, " "), x => x =!= "")).cast("long").as("ntok"))
      val cum = docs.withColumn("cum",
        sum(col("ntok")).over(Window.orderBy("doc_id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val kept = cum
        .select(col("doc_id"), col("ntok"), col("cum"),
          explode(expr("array(1000, 4000, 16000, 64000)")).as("budget"))
        .filter(col("cum") <= col("budget"))
      val stats = kept.groupBy("budget")
        .agg(count(lit(1)).as("n_docs"), sum(col("ntok")).as("n_tokens"))
      val words = Sources.documents(s, dir)
        .select(col("doc_id"), explode(split(norm, " ")).as("w"))
        .filter(col("w") =!= "")
      val types = words.join(kept.select("budget", "doc_id"), "doc_id")
        .groupBy("budget").agg(countDistinct(col("w")).as("n_types"))
      stats.join(types, "budget")
        .withColumn("ttr",
          col("n_types").cast("double") / col("n_tokens").cast("double"))
        .select(col("budget").cast("long").as("budget"), col("n_docs"),
          col("n_tokens"), col("n_types"), col("ttr"))
        .orderBy("budget")
    }),
  )

  def oracles: Map[String, String] = Map(
    "news_chunk_counts" -> {
      val longText = "regexp_replace(" +
        (0 until 20).map(_ => "text").mkString("concat_ws('. ', ", ", ", ")") +
        ", ' the ', '. ', 'g')"
      s"""${news.Summarize.chunkCountsSql("documents", longText)}
         |ORDER BY doc_id""".stripMargin
    },

    "news_summary_stats" ->
      s"""${news.Summarize.summaryStatsSql("documents", "replace(text, ' the ', '. ')")}
         |ORDER BY doc_id""".stripMargin,

    // The summary STRING itself, reconstructed: trim(text) through the
    // full summarizeLongText dispatch (one-shot here — news konten is
    // short — but the long path is generated too and exercised by
    // news_chunking below), then the reference's output field set with
    // the pinned 1-based index.
    "news_summarize" ->
      s"""WITH RECURSIVE
         |base AS (SELECT doc_id, trim(text) AS t FROM documents),
         |${news.Summarize.summarizeLongTextCtes("sm", "base", Seq("doc_id"))
             .stripSuffix(",")}
         |SELECT CAST(row_number() OVER (ORDER BY d.doc_id) AS INTEGER)
         |    AS "index",
         |  d.source AS judul, d.text AS konten,
         |  coalesce(f.summary, '') AS rangkuman,
         |  CAST(d.doc_id AS VARCHAR) AS waktu, d.lang AS tanggal_artikel
         |FROM documents d LEFT JOIN sm_final f USING (doc_id)
         |ORDER BY "index"""".stripMargin,

    // Full split-merge replay on the synthesized >1024-token texts:
    // n_chunks from the greedy-fold state machine (chunkCountsSql as a
    // derived table), n_summary_tokens by re-tokenizing the reconstructed
    // summary string.
    "news_chunking" -> {
      val longText = "regexp_replace(" +
        (0 until 20).map(_ => "text").mkString("concat_ws('. ', ", ", ", ")") +
        ", ' the ', '. ', 'g')"
      s"""WITH RECURSIVE
         |base AS (SELECT doc_id, $longText AS t FROM documents),
         |${news.Summarize.summarizeLongTextCtes("sm", "base", Seq("doc_id"))
             .stripSuffix(",")}
         |SELECT b.doc_id,
         |  CAST(len(regexp_extract_all(b.t, '${news.Summarize.tokenReSql}'))
         |    AS INTEGER) AS n_tokens,
         |  CAST(c.n_chunks AS INTEGER) AS n_chunks,
         |  CAST(len(regexp_extract_all(coalesce(f.summary, ''),
         |    '${news.Summarize.tokenReSql}')) AS INTEGER) AS n_summary_tokens
         |FROM base b
         |JOIN (${news.Summarize.chunkCountsSql("documents", longText)}) c
         |  USING (doc_id)
         |LEFT JOIN sm_final f USING (doc_id)
         |ORDER BY b.doc_id""".stripMargin
    },

    "news_text_stats" ->
      """WITH d AS (SELECT *, replace(text, ' the ', '. ') AS dotted FROM documents)
        |SELECT doc_id,
        |  CAST(length(text) AS BIGINT) AS len_text,
        |  CAST(len(string_split_regex(trim(text), '[ \t\n\x0B\f\r]+')) AS BIGINT) AS n_words,
        |  CAST(len(list_filter(string_split(dotted, '.'), x -> trim(x) <> '')) AS BIGINT) AS n_sentences
        |FROM d ORDER BY doc_id""".stripMargin,

    "text_vocab" ->
      s"""WITH w AS (
         |  SELECT doc_id, unnest(string_split(${util.Norm.normalizeSql("text")}, ' ')) AS word
         |  FROM documents)
         |SELECT word, count(*) AS n_occurrences, count(DISTINCT doc_id) AS df
         |FROM w WHERE word <> ''
         |GROUP BY word ORDER BY df DESC, word LIMIT 100""".stripMargin,

    "text_tfidf" ->
      s"""WITH w AS (
         |  SELECT doc_id, unnest(string_split(${util.Norm.normalizeSql("text")}, ' ')) AS word
         |  FROM documents),
         |w2 AS (SELECT * FROM w WHERE word <> ''),
         |tf AS (SELECT doc_id, word, count(*) AS tf FROM w2 GROUP BY 1, 2),
         |dfreq AS (SELECT word, count(DISTINCT doc_id) AS df FROM w2 GROUP BY 1),
         |n AS (SELECT count(*) AS n_docs FROM documents)
         |SELECT t.doc_id, t.word, t.tf, d.df,
         |  ${util.Stable.sigSql("t.tf * ln(CAST(n_docs + 1 AS DOUBLE) / (d.df + 1))")} AS tfidf
         |FROM tf t JOIN dfreq d USING (word) CROSS JOIN n
         |WHERE t.doc_id < 50
         |ORDER BY t.doc_id, t.word""".stripMargin,

    "text_lang_id" ->
      s"""${text.TextAnalysis.langIdSql("documents", "doc_id", "text")}
         |ORDER BY doc_id""".stripMargin,

    "text_pii_redact" -> {
      val emailRe = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
      val phoneRe = "\\+[0-9]{2} [0-9]{3} [0-9]+"
      s"""WITH d AS (
         |  SELECT doc_id, text ||
         |    (CASE WHEN doc_id % 7 = 0
         |          THEN ' contact user' || doc_id || '@example.com' ELSE '' END) ||
         |    (CASE WHEN doc_id % 11 = 0
         |          THEN ' call +62 812 ' || doc_id ELSE '' END) AS text
         |  FROM documents)
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(text, '$emailRe')) AS BIGINT) AS n_emails,
         |  CAST(len(regexp_extract_all(text, '$phoneRe')) AS BIGINT) AS n_phones,
         |  md5(regexp_replace(regexp_replace(text, '$emailRe', '<EMAIL>', 'g'),
         |    '$phoneRe', '<PHONE>', 'g')) AS redacted_md5
         |FROM d ORDER BY doc_id""".stripMargin
    },

    "text_repetition" ->
      s"""WITH w AS (
         |  SELECT doc_id, unnest(string_split(${util.Norm.normalizeSql("text")}, ' ')) AS word
         |  FROM documents),
         |pw AS (
         |  SELECT doc_id, word, count(*) AS n FROM w WHERE word <> '' GROUP BY 1, 2)
         |SELECT doc_id,
         |  CAST(sum(n) AS BIGINT) AS n_words,
         |  max(n) AS max_word_count,
         |  count(*) AS n_distinct_words,
         |  max(n) / CAST(sum(n) AS BIGINT) AS top_word_ratio
         |FROM pw GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "text_dup_ngrams" ->
      s"""WITH d AS (
         |  SELECT doc_id,
         |    greatest(CAST(len(string_split(${util.Norm.normalizeSql("text")}, ' '))
         |      AS BIGINT) - 2, 0) AS n_grams,
         |    CAST(len(${dedup.Dedup.shinglesSql("text")}) AS BIGINT) AS n_distinct
         |  FROM documents)
         |SELECT doc_id, n_grams, n_distinct,
         |  n_grams - n_distinct AS n_dup,
         |  CASE WHEN n_grams > 0
         |       THEN CAST(n_grams - n_distinct AS DOUBLE) / n_grams END AS dup_frac
         |FROM d ORDER BY doc_id""".stripMargin,

    "text_unigram_logprob" ->
      s"""WITH w AS (
         |  SELECT doc_id, unnest(string_split(${util.Norm.normalizeSql("text")}, ' ')) AS word
         |  FROM documents),
         |w2 AS (SELECT * FROM w WHERE word <> ''),
         |tf AS (SELECT doc_id, word, count(*) AS tf FROM w2 GROUP BY 1, 2),
         |freq AS (SELECT word, count(*) AS wf FROM w2 GROUP BY 1),
         |n AS (SELECT count(*) AS n_total FROM w2)
         |SELECT t.doc_id,
         |  CAST(sum(t.tf) AS BIGINT) AS n_words,
         |  (CAST(sum(t.tf * CAST(floor(-ln(CAST(f.wf AS DOUBLE) / n_total) * 1e4 + 0.5) AS BIGINT)) AS BIGINT) / 1e4)
         |    / CAST(sum(t.tf) AS BIGINT) AS avg_neg_logprob
         |FROM tf t JOIN freq f USING (word) CROSS JOIN n
         |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin,

    "text_top_ngrams" ->
      s"""SELECT ngram, count(*) AS df FROM (
         |  SELECT doc_id, unnest(${dedup.Dedup.shinglesSql("text")}) AS ngram
         |  FROM documents)
         |GROUP BY ngram ORDER BY df DESC, ngram LIMIT 20""".stripMargin,

    // The sketch is a candidate GENERATOR; the verified output is the
    // exact top-20, so the oracle is the plain exact recount — any
    // candidate the sketch missed would surface as a hash mismatch here.
    "text_heavy_hitters" ->
      s"""WITH w AS (
         |  SELECT unnest(string_split(${util.Norm.normalizeSql("text")}, ' ')) AS word
         |  FROM documents)
         |SELECT word, count(*) AS n_occurrences FROM w WHERE word <> ''
         |GROUP BY word ORDER BY n_occurrences DESC, word LIMIT 20""".stripMargin,

    // Replays the Count-Min sketch CELL-FOR-CELL: every word's counts
    // land in the same md5-derived buckets the native update loop fills,
    // per-cell totals are summed, and each top word's estimate is the min
    // over its depth cells — the sketch semantics as SQL. Deterministic
    // because the bucket hash is the shared md5→long contract.
    "text_cms_freq" ->
      s"""WITH w AS (
         |  SELECT unnest(string_split(${util.Norm.normalizeSql("text")}, ' ')) AS word
         |  FROM documents),
         |wf AS (SELECT word, count(*) AS n FROM w WHERE word <> '' GROUP BY 1),
         |jj AS (SELECT unnest(range(0, 4)) AS j),
         |b AS (SELECT word, n, j,
         |        CAST(concat('0x', substring(md5(concat(CAST(j AS VARCHAR), ':', word)), 1, 8))
         |             AS BIGINT) % 64 AS bkt
         |      FROM wf CROSS JOIN jj),
         |cells AS (SELECT j, bkt, CAST(sum(n) AS BIGINT) AS cnt FROM b GROUP BY 1, 2),
         |top AS (SELECT word, n FROM wf ORDER BY n DESC, word LIMIT 20)
         |SELECT t.word, t.n AS n_exact, min(c.cnt) AS n_est
         |FROM top t JOIN b ON b.word = t.word JOIN cells c ON c.j = b.j AND c.bkt = b.bkt
         |GROUP BY t.word, t.n
         |ORDER BY n_exact DESC, t.word""".stripMargin,

    "text_pmi_bigrams" ->
      s"""WITH ws AS (
         |  SELECT string_split(${util.Norm.normalizeSql("text")}, ' ') AS w FROM documents),
         |inst AS (
         |  SELECT w[i] AS w1, w[i + 1] AS w2
         |  FROM (SELECT w, unnest(CASE WHEN len(w) >= 2 THEN range(1, len(w))
         |                              ELSE [] END) AS i
         |        FROM ws)
         |  WHERE w[i] <> '' AND w[i + 1] <> ''),
         |n AS (SELECT count(*) AS n_bigrams FROM inst),
         |c1 AS (SELECT w1, count(*) AS c1 FROM inst GROUP BY 1),
         |c2 AS (SELECT w2, count(*) AS c2 FROM inst GROUP BY 1),
         |cj AS (SELECT w1, w2, count(*) AS c12 FROM inst GROUP BY 1, 2 HAVING count(*) >= 5)
         |SELECT w1, w2, c12,
         |  CAST(floor(ln((CAST(c12 AS DOUBLE) * n_bigrams) /
         |    (CAST(c1 AS DOUBLE) * c2)) * 1e6 + 0.5) AS BIGINT) / 1e6 AS pmi
         |FROM cj JOIN c1 USING (w1) JOIN c2 USING (w2) CROSS JOIN n
         |ORDER BY pmi DESC, w1, w2 LIMIT 20""".stripMargin,

    "text_tokens" ->
      s"""${text.TextAnalysis.tokenStatsSql("documents", "doc_id", "text")}
         |ORDER BY doc_id""".stripMargin,

    "text_quality" ->
      s"""${text.TextAnalysis.qualityScoreSql("documents", "doc_id", "text")}
         |ORDER BY doc_id""".stripMargin,

    "text_fingerprint" ->
      s"""${text.TextAnalysis.fingerprintsSql("documents", "doc_id", "text")}
         |ORDER BY doc_id""".stripMargin,

    "text_bigram_logprob" ->
      s"""WITH ws AS (
         |  SELECT doc_id, string_split(${util.Norm.normalizeSql("text")}, ' ') AS w
         |  FROM documents),
         |inst AS (
         |  SELECT doc_id, w[i] AS w1, w[i + 1] AS w2
         |  FROM (SELECT doc_id, w, unnest(CASE WHEN len(w) >= 2 THEN range(1, len(w))
         |                                      ELSE [] END) AS i
         |        FROM ws)
         |  WHERE w[i] <> '' AND w[i + 1] <> ''),
         |tf AS (SELECT doc_id, w1, w2, count(*) AS tf FROM inst GROUP BY 1, 2, 3),
         |cj AS (SELECT w1, w2, count(*) AS c12 FROM inst GROUP BY 1, 2),
         |c1 AS (SELECT w1, count(*) AS c1 FROM inst GROUP BY 1)
         |SELECT t.doc_id,
         |  CAST(sum(t.tf) AS BIGINT) AS n_bigrams,
         |  (CAST(sum(t.tf * CAST(floor(-ln(CAST(j.c12 AS DOUBLE) / p.c1) * 1e4 + 0.5) AS BIGINT)) AS BIGINT) / 1e4)
         |    / CAST(sum(t.tf) AS BIGINT) AS avg_neg_logprob
         |FROM tf t JOIN cj j USING (w1, w2) JOIN c1 p USING (w1)
         |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin,

    "text_word_entropy" ->
      s"""WITH w AS (
         |  SELECT doc_id, unnest(string_split(${util.Norm.normalizeSql("text")}, ' ')) AS word
         |  FROM documents),
         |w2 AS (SELECT * FROM w WHERE word <> ''),
         |c AS (SELECT doc_id, word, count(*) AS n FROM w2 GROUP BY 1, 2),
         |d AS (SELECT doc_id,
         |        CAST(sum(n) AS BIGINT) AS n_words,
         |        count(*) AS n_distinct_words,
         |        CAST(sum(n * CAST(floor(ln(n) * 1e4 + 0.5) AS BIGINT)) AS BIGINT)
         |          AS sum_n_ln_n_q4
         |      FROM c GROUP BY doc_id)
         |SELECT doc_id, n_words, n_distinct_words, sum_n_ln_n_q4,
         |  (n_words * CAST(floor(ln(n_words) * 1e4 + 0.5) AS BIGINT) - sum_n_ln_n_q4)
         |    / (n_words * 1e4) AS entropy
         |FROM d ORDER BY doc_id""".stripMargin,

    "text_inverted_index" ->
      s"""WITH t AS (
         |  SELECT doc_id, string_split(${util.Norm.normalizeSql("text")}, ' ') AS ws
         |  FROM documents),
         |ix AS (
         |  SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 1)) AS i
         |  FROM t WHERE len(ws) >= 2),
         |b AS (
         |  SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i + 1] AS term
         |  FROM ix WHERE ws[i] <> '' AND ws[i + 1] <> ''),
         |surviving AS (
         |  SELECT term, count(*) AS df FROM b GROUP BY 1
         |  HAVING count(*) BETWEEN 2 AND 50)
         |SELECT b.term, CAST(s.df AS BIGINT) AS df,
         |  string_agg(CAST(b.doc_id AS VARCHAR), '|' ORDER BY b.doc_id) AS postings
         |FROM b JOIN surviving s USING (term)
         |GROUP BY b.term, s.df ORDER BY b.term""".stripMargin,

    "text_rake_keywords" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(range(1, len(t) + 1)) - 1 AS pos, unnest(t) AS w
        |  FROM (SELECT doc_id,
        |          regexp_split_to_array(lower(text), '[^a-z]+') AS t
        |        FROM documents)),
        |marked AS (
        |  SELECT doc_id, pos, w,
        |    CASE WHEN w = '' OR w IN ('the', 'a', 'of', 'and', 'to', 'in',
        |                              'is', 'that', 'it', 'for')
        |         THEN 1 ELSE 0 END AS is_break
        |  FROM toks),
        |members AS (
        |  SELECT doc_id, pos, w, phrase_id,
        |    count(*) OVER (PARTITION BY doc_id, phrase_id) AS plen
        |  FROM (
        |    SELECT doc_id, pos, w, is_break,
        |      CAST(sum(is_break) OVER (PARTITION BY doc_id ORDER BY pos
        |        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS phrase_id
        |    FROM marked)
        |  WHERE is_break = 0),
        |ws AS (
        |  SELECT w, CAST(sum(plen) AS BIGINT) * 1000000 // count(*) AS wscore_q
        |  FROM members GROUP BY 1),
        |pt AS (
        |  SELECT doc_id, phrase_id,
        |    string_agg(w, ' ' ORDER BY pos) AS phrase, count(*) AS n_words
        |  FROM members GROUP BY 1, 2),
        |ps AS (
        |  SELECT doc_id, phrase_id, CAST(sum(wscore_q) AS BIGINT) AS score_q
        |  FROM members JOIN ws USING (w) GROUP BY 1, 2)
        |SELECT phrase, n_words, count(*) AS n_occ, max(score_q) / 1e6 AS score
        |FROM pt JOIN ps USING (doc_id, phrase_id)
        |WHERE n_words >= 2
        |GROUP BY 1, 2
        |ORDER BY score DESC, phrase LIMIT 20""".stripMargin,

    "text_tokenizer_fertility" ->
      s"""WITH ts AS (
         |${text.TextAnalysis.tokenStatsSql("documents", "doc_id", "text")})
         |SELECT lang, count(*) AS n_docs,
         |  CAST(sum(n_ws_tokens) AS BIGINT) AS ws_tokens,
         |  CAST(sum(n_bpe_tokens) AS BIGINT) AS bpe_tokens,
         |  CAST(CAST(sum(n_bpe_tokens) AS BIGINT) AS DOUBLE)
         |    / CAST(CAST(sum(n_ws_tokens) AS BIGINT) AS DOUBLE) AS fertility
         |FROM ts JOIN documents USING (doc_id)
         |GROUP BY 1 ORDER BY lang""".stripMargin,

    "text_lang_confusion" ->
      s"""WITH pred AS (
         |${text.TextAnalysis.langIdSql("documents", "doc_id", "text")}),
         |cells AS (
         |  SELECT d.lang AS truth, p.lang_id AS pred, count(*) AS n
         |  FROM documents d JOIN pred p USING (doc_id)
         |  GROUP BY 1, 2),
         |tot AS (SELECT truth, CAST(sum(n) AS BIGINT) AS n_truth
         |        FROM cells GROUP BY 1)
         |SELECT truth, pred, n, n_truth,
         |  CAST(n AS DOUBLE) / CAST(n_truth AS DOUBLE) AS share
         |FROM cells JOIN tot USING (truth)
         |ORDER BY truth, pred""".stripMargin,

    "text_lang_kappa" ->
      s"""WITH pred AS (
         |${text.TextAnalysis.langIdSql("documents", "doc_id", "text")}),
         |cells AS (
         |  SELECT d.lang AS truth, p.lang_id AS pred, count(*) AS n
         |  FROM documents d JOIN pred p USING (doc_id)
         |  GROUP BY 1, 2),
         |rt AS (SELECT truth, CAST(sum(n) AS BIGINT) AS rt FROM cells GROUP BY 1),
         |ct AS (SELECT pred, CAST(sum(n) AS BIGINT) AS ct FROM cells GROUP BY 1),
         |ag AS (SELECT CAST(coalesce(sum(n), 0) AS BIGINT) AS n_agree
         |       FROM cells WHERE truth = pred),
         |ch AS (SELECT CAST(coalesce(sum(rt.rt * ct.ct), 0) AS BIGINT) AS sum_rc
         |       FROM rt JOIN ct ON rt.truth = ct.pred),
         |t AS (SELECT CAST(sum(n) AS BIGINT) AS n_total FROM cells)
         |SELECT n_total, n_agree,
         |  CAST(n_agree AS DOUBLE) / CAST(n_total AS DOUBLE) AS po,
         |  CAST(sum_rc AS DOUBLE)
         |    / (CAST(n_total AS DOUBLE) * CAST(n_total AS DOUBLE)) AS pe,
         |  (po - pe) / nullif(1.0 - pe, 0.0) AS kappa
         |FROM t, ag, ch""".stripMargin,

    "text_zipf_slope" ->
      s"""WITH words AS (
         |  SELECT w FROM (
         |    SELECT unnest(string_split(${util.Norm.normalizeSql("text")}, ' ')) AS w
         |    FROM documents) WHERE w <> ''),
         |vocab AS (SELECT w AS word, count(*) AS freq FROM words GROUP BY 1),
         |pts AS (
         |  SELECT
         |    CAST(floor(ln(CAST(row_number() OVER (ORDER BY freq DESC, word)
         |      AS DOUBLE)) * 1e4 + 0.5) AS BIGINT) AS x,
         |    CAST(floor(ln(CAST(freq AS DOUBLE)) * 1e4 + 0.5) AS BIGINT) AS y
         |  FROM vocab),
         |m AS (
         |  SELECT count(*) AS n,
         |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         |    CAST(sum(x * x) AS BIGINT) AS sxx,
         |    CAST(sum(y * y) AS BIGINT) AS syy,
         |    CAST(sum(x * y) AS BIGINT) AS sxy
         |  FROM pts)
         |SELECT n,
         |  CAST(n * sxy - sx * sy AS DOUBLE)
         |    / nullif(CAST(n * sxx - sx * sx AS DOUBLE), 0.0) AS slope,
         |  (CAST(n * sxy - sx * sy AS DOUBLE) * CAST(n * sxy - sx * sy AS DOUBLE))
         |    / nullif(CAST(n * sxx - sx * sx AS DOUBLE)
         |             * CAST(n * syy - sy * sy AS DOUBLE), 0.0) AS r2
         |FROM m""".stripMargin,


    "text_naive_bayes" ->
      s"""WITH w AS (
         |  SELECT doc_id, lang,
         |    unnest(string_split(${util.Norm.normalizeSql("text")}, ' ')) AS word
         |  FROM documents),
         |w2 AS (SELECT * FROM w WHERE word <> ''),
         |tr AS (SELECT * FROM w2 WHERE doc_id % 10 <> 0),
         |te AS (SELECT * FROM w2 WHERE doc_id % 10 = 0),
         |model AS (
         |  SELECT lang AS mlang, word,
         |    CAST(floor(ln(count(*) + 1) * 1e4 + 0.5) AS BIGINT) AS qc
         |  FROM tr GROUP BY 1, 2),
         |lt AS (
         |  SELECT t.mlang,
         |    CAST(floor(ln(t.ntok + v.v) * 1e4 + 0.5) AS BIGINT) AS qdenom,
         |    CAST(floor(ln(d.ndocs) * 1e4 + 0.5) AS BIGINT) AS qprior
         |  FROM (SELECT lang AS mlang, count(*) AS ntok FROM tr GROUP BY 1) t
         |  JOIN (SELECT lang AS mlang, count(DISTINCT doc_id) AS ndocs
         |        FROM tr GROUP BY 1) d USING (mlang)
         |  CROSS JOIN (SELECT count(DISTINCT word) AS v FROM tr) v),
         |dl AS (SELECT doc_id, count(*) AS dn FROM te GROUP BY 1),
         |sc AS (
         |  SELECT te.doc_id, te.lang AS truth, lt.mlang,
         |    CAST(sum(COALESCE(m.qc, 0)) AS BIGINT) AS sqc,
         |    max(lt.qdenom) AS qdenom, max(lt.qprior) AS qprior
         |  FROM te CROSS JOIN lt
         |  LEFT JOIN model m ON m.word = te.word AND m.mlang = lt.mlang
         |  GROUP BY 1, 2, 3),
         |scored AS (
         |  SELECT sc.doc_id, truth, mlang, sqc - dl.dn * qdenom + qprior AS score
         |  FROM sc JOIN dl USING (doc_id)),
         |pred AS (
         |  SELECT truth, mlang AS pred,
         |    row_number() OVER (PARTITION BY doc_id
         |      ORDER BY score DESC, mlang) AS rn
         |  FROM scored)
         |SELECT truth, pred, count(*) AS n_docs
         |FROM pred WHERE rn = 1 GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,


    "text_feature_hashing" ->
      s"""WITH w AS (
         |  SELECT unnest(string_split(${util.Norm.normalizeSql("text")}, ' '))
         |    AS word
         |  FROM documents),
         |w2 AS (SELECT * FROM w WHERE word <> ''),
         |bw AS (SELECT word, count(*) AS tf FROM w2 GROUP BY 1),
         |bk AS (
         |  SELECT CAST(concat('0x', substring(md5(word), 1, 8)) AS BIGINT)
         |           % 512 AS bucket,
         |         count(*) AS n_words, CAST(sum(tf) AS BIGINT) AS tokens
         |  FROM bw GROUP BY 1),
         |hist AS (SELECT n_words, count(*) AS n_buckets,
         |           CAST(sum(tokens) AS BIGINT) AS tokens
         |         FROM bk GROUP BY 1),
         |e AS (SELECT CAST(0 AS BIGINT) AS n_words,
         |        512 - count(*) AS n_buckets, CAST(0 AS BIGINT) AS tokens
         |      FROM bk HAVING 512 - count(*) > 0)
         |SELECT * FROM hist UNION ALL SELECT * FROM e ORDER BY n_words""".stripMargin,


    "text_bpe_merge_step" ->
      s"""WITH w AS (
         |  SELECT unnest(string_split(${util.Norm.normalizeSql("text")}, ' '))
         |    AS word
         |  FROM documents),
         |w2 AS (SELECT * FROM w WHERE word <> ''),
         |bw AS (SELECT word, count(*) AS tf FROM w2 GROUP BY 1),
         |p AS (SELECT substring(word, CAST(i AS INTEGER), 2) AS pair, tf
         |      FROM (SELECT word, tf, unnest(range(1, length(word))) AS i
         |            FROM bw WHERE length(word) >= 2))
         |SELECT pair, CAST(sum(tf) AS BIGINT) AS freq
         |FROM p GROUP BY 1 ORDER BY freq DESC, pair LIMIT 20""".stripMargin,


    "text_bpe_train" ->
      text.Bpe.trajectorySql("documents", 6),

    "text_bpe_fertility" ->
      text.Bpe.fertilitySql("documents", 6),

    // The stored path reads the SAME trained table the in-query twin
    // derives — one oracle, proof the artifact round-trip is invisible.
    "text_bpe_fertility_stored" ->
      text.Bpe.fertilitySql("documents", 6),

    "text_textrank_keywords" -> {
      val edgesSql =
        s"""WITH w AS (
           |  SELECT doc_id, word, pos FROM (
           |    SELECT doc_id,
           |      unnest(string_split(${util.Norm.normalizeSql("text")}, ' '))
           |        AS word,
           |      unnest(range(1,
           |        len(string_split(${util.Norm.normalizeSql("text")}, ' '))
           |          + 1)) AS pos
           |    FROM documents)
           |  WHERE word <> ''),
           |p AS (SELECT word AS wa,
           |        lead(word) OVER (PARTITION BY doc_id ORDER BY pos) AS wb
           |      FROM w),
           |p2 AS (SELECT wa, wb FROM p WHERE wb IS NOT NULL AND wa <> wb),
           |ids AS (SELECT word,
           |          CAST(row_number() OVER (ORDER BY word) AS BIGINT) AS wid
           |        FROM (SELECT DISTINCT word FROM w)),
           |und AS (SELECT DISTINCT least(ia.wid, ib.wid) AS u,
           |          greatest(ia.wid, ib.wid) AS v
           |        FROM p2 JOIN ids ia ON ia.word = p2.wa
           |        JOIN ids ib ON ib.word = p2.wb)
           |SELECT u AS src, v AS dst FROM und
           |UNION ALL SELECT v, u FROM und""".stripMargin
      s"""${graph.PageRank.ranksSql(edgesSql, 6)},
         |idmap AS (
         |  SELECT word, CAST(row_number() OVER (ORDER BY word) AS BIGINT)
         |    AS wid
         |  FROM (SELECT DISTINCT word FROM (
         |    SELECT unnest(string_split(${util.Norm.normalizeSql("text")}, ' '))
         |      AS word
         |    FROM documents) WHERE word <> ''))
         |SELECT i.word, r.pr FROM r6 r JOIN idmap i ON i.wid = r.node
         |ORDER BY r.pr DESC, i.word LIMIT 20""".stripMargin
    },


    "text_readability" ->
      s"""WITH d AS (
         |  SELECT lang,
         |    len(list_filter(string_split(${util.Norm.normalizeSql("text")}, ' '),
         |      x -> x <> '')) AS w,
         |    len(list_filter(string_split_regex(text, '[.!?]+'),
         |      x -> trim(x) <> '')) AS sen,
         |    length(regexp_replace(regexp_replace(
         |      ${util.Norm.normalizeSql("text")}, '[aeiou]+', 'V', 'g'),
         |      '[^V]', '', 'g')) AS y
         |  FROM documents),
         |agg AS (
         |  SELECT lang, count(*) AS n_docs,
         |    CAST(sum(w) AS BIGINT) AS words,
         |    CAST(sum(sen) AS BIGINT) AS sentences,
         |    CAST(sum(y) AS BIGINT) AS syllables
         |  FROM d GROUP BY 1)
         |SELECT lang, n_docs, words, sentences, syllables,
         |  CAST(words AS DOUBLE) / CAST(nullif(sentences, 0) AS DOUBLE) AS wps,
         |  CAST(syllables AS DOUBLE) / CAST(nullif(words, 0) AS DOUBLE) AS spw,
         |  206.835e0
         |    - 1.015e0 * (CAST(words AS DOUBLE) / CAST(nullif(sentences, 0) AS DOUBLE))
         |    - 84.6e0 * (CAST(syllables AS DOUBLE) / CAST(nullif(words, 0) AS DOUBLE))
         |    AS flesch
         |FROM agg ORDER BY lang""".stripMargin,


    "text_hapax_ratio" ->
      s"""WITH wc AS (
         |  SELECT lang, word, count(*) AS c FROM (
         |    SELECT lang,
         |      unnest(string_split(${util.Norm.normalizeSql("text")}, ' ')) AS word
         |    FROM documents) WHERE word <> '' GROUP BY 1, 2)
         |SELECT lang, count(*) AS vocab,
         |  CAST(sum(c) AS BIGINT) AS tokens,
         |  CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax,
         |  CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE)
         |    / CAST(count(*) AS DOUBLE) AS hapax_vocab_share,
         |  CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE)
         |    / CAST(CAST(sum(c) AS BIGINT) AS DOUBLE) AS hapax_token_share
         |FROM wc GROUP BY 1 ORDER BY lang""".stripMargin,


    "text_entity_extract" ->
      """WITH d AS (
        |  SELECT source,
        |    len(regexp_extract_all(text, '[0-9]+')) AS n_numbers,
        |    len(regexp_extract_all(text, '[A-Z][a-z]+')) AS n_capitalized,
        |    len(regexp_extract_all(text, 'https?://[^ ]+')) AS n_urls,
        |    len(regexp_extract_all(text, '[a-z0-9._%+-]+@[a-z0-9.-]+'))
        |      AS n_emails
        |  FROM documents)
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(n_numbers) AS BIGINT) AS n_numbers,
        |  CAST(sum(n_capitalized) AS BIGINT) AS n_capitalized,
        |  CAST(sum(n_urls) AS BIGINT) AS n_urls,
        |  CAST(sum(n_emails) AS BIGINT) AS n_emails
        |FROM d GROUP BY 1 ORDER BY source""".stripMargin,


    "text_ttr_curve" ->
      s"""WITH docs AS (
         |  SELECT doc_id,
         |    CAST(len(list_filter(string_split(${util.Norm.normalizeSql("text")},
         |      ' '), x -> x <> '')) AS BIGINT) AS ntok
         |  FROM documents),
         |cum AS (
         |  SELECT doc_id, ntok,
         |    CAST(sum(ntok) OVER (ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |      AS cum
         |  FROM docs),
         |kept AS (
         |  SELECT doc_id, ntok, b.budget
         |  FROM cum CROSS JOIN (SELECT unnest([1000, 4000, 16000, 64000])
         |                       AS budget) b
         |  WHERE cum <= b.budget),
         |stats AS (
         |  SELECT budget, count(*) AS n_docs,
         |    CAST(sum(ntok) AS BIGINT) AS n_tokens
         |  FROM kept GROUP BY 1),
         |w AS (
         |  SELECT doc_id,
         |    unnest(string_split(${util.Norm.normalizeSql("text")}, ' ')) AS w
         |  FROM documents),
         |types AS (
         |  SELECT budget, count(DISTINCT w.w) AS n_types
         |  FROM w JOIN kept USING (doc_id) WHERE w.w <> ''
         |  GROUP BY 1)
         |SELECT CAST(s.budget AS BIGINT) AS budget, n_docs, n_tokens,
         |  n_types,
         |  CAST(n_types AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS ttr
         |FROM stats s JOIN types USING (budget)
         |ORDER BY budget""".stripMargin,
  )
}
