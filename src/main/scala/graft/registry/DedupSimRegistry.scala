package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.EntryOps._

/** Deduplication + embeddings family: exact/MinHash-LSH/SimHash/fuzzy
  * dedup, incremental ingest tiers, embedding analytics. The sim_*
  * similarity-search tiers moved to [[SimRegistry]] round 13 (VERDICT
  * r12 #8) before this shard breached the repo's 2000-LoC rule.
  *
  * Registry shard of [[SparkEntry]] (split for maintainability; keys are
  * merged — and spec-checked disjoint — in SparkEntry.queries/oracleSql).
  */
private[graft] object DedupSimRegistry {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Exact dedup (training-data extension): normalize → md5 fingerprint
    // → hash group-by. One shuffle on a fixed-width key at any scale.
    "dedup_exact" -> ((s, dir) =>
      dedup.Dedup.exactGroups(
        dedup.Dedup.augmented(Sources.documents(s, dir)), "doc_id", "text")
        .orderBy("fingerprint")),


    // n-gram Jaccard near-dedup via the explode→join→count pattern —
    // docs sharing zero shingles never meet (no cartesian product).
    // DIAGNOSTIC FORM, not the scale path: with no df cap and no
    // candidate restriction, one boilerplate shingle shared by k docs
    // contributes k(k-1)/2 join rows. At corpus scale use
    // `dedup_jaccard_capped` (mandatory skew guard) or the LSH pipeline;
    // this entry exists as the exact-recall baseline those are judged
    // against (SCALE.md "Deduplication").
    "dedup_jaccard_pairs" -> ((s, dir) =>
      dedup.Dedup.jaccardPairs(
        dedup.Dedup.augmented(Sources.documents(s, dir)), "doc_id", "text", 0.6)
        .orderBy("id_a", "id_b")),


    // Jaccard with a shingle document-frequency cap — the skew guard that
    // keeps a boilerplate n-gram shared by k docs from contributing
    // k(k-1)/2 join rows; at corpus scale this is what makes the shingle
    // join survive hot keys.
    "dedup_jaccard_capped" -> ((s, dir) =>
      dedup.Dedup.jaccardPairs(
        dedup.Dedup.augmented(Sources.documents(s, dir)), "doc_id", "text", 0.5,
        maxDocFreq = Some(10L))
        .orderBy("id_a", "id_b")),


    // Overlap-coefficient (containment) near-dedup: |A∩B|/min(|A|,|B|) —
    // the subset-duplication detector Jaccard structurally misses (a doc
    // quoted whole inside a much longer one has overlap 1.0 but Jaccard
    // → 0 as the length ratio grows; the augmented fixture's junk-tail
    // variants are exactly this shape). Same explode→join→count plan and
    // df-cap skew guard as the Jaccard tier; only the finalizer differs.
    "dedup_overlap_pairs" -> ((s, dir) =>
      dedup.Dedup.overlapPairs(
        dedup.Dedup.augmented(Sources.documents(s, dir)), "doc_id", "text", 0.9,
        maxDocFreq = Some(10L))
        .orderBy("id_a", "id_b")),


    // Duplicate clusters: connected components of the (df-capped) Jaccard
    // pair graph via ALTERNATING STAR CONTRACTION (large-star/small-star,
    // Kiveris et al. SoCC'14) — O(log n) rounds over a SHRINKING edge
    // set, vs diameter rounds reshuffling the full edge set for the
    // min-label-propagation tier (Dedup.clusters, kept and spec-
    // equivalent). Completes the dedup pipeline: pairs -> clusters ->
    // canonical survivor (is_canonical = doc is its cluster's min id).
    // Oracle = DuckDB RECURSIVE CTE transitive closure (independent
    // algorithm, same unique fixpoint).
    "dedup_clusters" -> ((s, dir) => {
      val docs = dedup.Dedup.augmented(Sources.documents(s, dir))
      val pairs = dedup.Dedup.jaccardPairs(docs, "doc_id", "text", 0.6,
        maxDocFreq = Some(10L))
      dedup.Dedup.clustersStar(docs, "doc_id", pairs)
        .withColumn("is_canonical",
          (col("doc_id") === col("cluster_id")).cast("int"))
        .orderBy("doc_id")
    }),


    // MinHash + banded LSH with exact-Jaccard verification restricted to
    // candidate docs — the sub-quadratic scale path for near-dedup.
    "dedup_minhash_lsh" -> ((s, dir) =>
      dedup.Dedup.lshVerifiedPairs(
        dedup.Dedup.augmented(Sources.documents(s, dir)), "doc_id", "text", 0.6)
        .orderBy("id_a", "id_b")),

    // HOT-BUCKET-guarded LSH (the production form at corpus scale): band
    // buckets larger than the cap are dropped before the candidate
    // self-join — the sf1 rehearsal measured uncapped candidate shuffle
    // growing ~45× for 10× docs on a low-entropy corpus (Σ occ² is
    // quadratic in bucket occupancy; SCALE.md "Deduplication"). Members
    // of a dropped bucket still meet in their other bands unless hot
    // everywhere — the boilerplate case curation wants suppressed anyway.
    "dedup_minhash_lsh_capped" -> ((s, dir) =>
      dedup.Dedup.lshVerifiedPairs(
        dedup.Dedup.augmented(Sources.documents(s, dir)), "doc_id", "text", 0.6,
        bucketCap = Some(8L))
        .orderBy("id_a", "id_b")),

    // ENTROPY-SCALED banding (the durable corpus-growth fix, SCALE.md):
    // 8 bands × 4 rows (32 hashes) keeps the threshold s-curve anchored —
    // t ≈ (1/b)^(1/r): (1/8)^(1/4)=0.59 vs the default (1/4)^(1/3)=0.63 —
    // while each band key carries one more minhash row, dropping the
    // accidental-collision probability per band by another Jaccard
    // factor. This is the knob to turn as the corpus grows (band-key
    // entropy must scale with log |corpus|); the bucket cap above is the
    // skew INSURANCE, this is the capacity plan.
    "dedup_minhash_lsh_scaled" -> ((s, dir) =>
      dedup.Dedup.lshVerifiedPairs(
        dedup.Dedup.augmented(Sources.documents(s, dir)), "doc_id", "text", 0.6,
        numHashes = 32, numBands = 8)
        .orderBy("id_a", "id_b")),

    // CORPUS SELF-DEDUP THROUGH THE PUBLISHED INDEX — the production
    // shape for the corpus-wide near-dup question and the round-10 fix
    // for the sf10 (100×) wall the in-query tier measured (946 s: the
    // re-derived exploded shingle frame, ~1.2 B rows at 6 M docs,
    // exceeds one JVM's storage memory; SCALE.md "sf10 spot-rehearsal").
    // The band index + shingle store are write-once id-bucketed tables
    // (built at ingest, maintained by append — the
    // dedup_incremental_lsh_stored artifacts, here spanning the FULL
    // corpus under the `full` variant); the query self-joins the stored
    // bands for candidates and verifies exact Jaccard over stored
    // shingles of candidate docs only. Same pair set as
    // dedup_minhash_lsh by construction — the oracle is IDENTICAL, so a
    // stored path that drifted a single pair would hash-mismatch.
    "dedup_minhash_lsh_stored" -> ((s, dir) => {
      val base = dedup.Dedup.ensureLshIndexBucketed(
        s, dir, dedup.Dedup.augmented(Sources.documents(s, dir)),
        "doc_id", "text", variant = "full")
      dedup.Dedup.lshVerifiedPairsStored(s, base, 0.6)
        .orderBy("id_a", "id_b")
    }),


    // MinHash ESTIMATE-vs-EXACT audit (the sketch-quality measurement for
    // the dedup tier, like sim_ann_recall for the ANN tier): for every
    // LSH candidate pair, the signature-agreement estimate
    // (matching components / 12 — the unbiased MinHash Jaccard
    // estimator) next to the exact shingle Jaccard. This is the number
    // that justifies the band thresholds in production: est-vs-exact
    // drift says re-tune bands, not "trust the sketch". Signatures ride
    // the same md5 contract, so DuckDB recomputes them component-for-
    // component; comparisons stay on the candidate set only (never
    // all pairs).
    "dedup_minhash_estimate" -> ((s, dir) => {
      // ONE shared clustered shingle view (round 14 — the
      // dedup_lsh_recall discipline from round 13): candidate mining,
      // the flat codegen signatures, AND the exact-Jaccard verification
      // all read it, where each previously re-derived the
      // normalize→shingle corpus pass for itself (three passes).
      val sh = dedup.Dedup.shingleView(
        dedup.Dedup.augmented(Sources.documents(s, dir)), "doc_id", "text")
      val cand = graft.util.Views.materializeTruncated(
        dedup.Dedup.lshCandidatesFromShingles(sh))
      val sigs = dedup.Dedup.minhashSignaturesFromShingles(sh)
      val est = cand
        .join(sigs.select(col("id").as("id_a"), col("sig").as("sig_a")), "id_a")
        .join(sigs.select(col("id").as("id_b"), col("sig").as("sig_b")), "id_b")
        .withColumn("n_match",
          expr("size(filter(zip_with(sig_a, sig_b, (x, y) -> x = y), b -> b))"))
      val exact = dedup.Dedup.jaccardForCandidates(cand, sh, 0.0)
      est.join(exact, Seq("id_a", "id_b"))
        .select(col("id_a"), col("id_b"), col("n_match"),
          (col("n_match") / lit(12.0)).as("est_jaccard"), col("jaccard"))
        .orderBy("id_a", "id_b")
    }),


    // FUZZY matching by EDIT DISTANCE, candidate-restricted: levenshtein
    // is O(len²) PER PAIR, so it must never see all pairs — the LSH
    // bands generate the candidates (sub-quadratic) and the distance
    // scores only those, on an 80-char normalized prefix that bounds the
    // per-pair cost. The alternative verification metric to Jaccard for
    // near-identical prose (char-level edits that barely move shingle
    // sets). Both engines implement standard unit-cost levenshtein.
    "dedup_fuzzy_editdist" -> ((s, dir) => {
      val docs = dedup.Dedup.augmented(Sources.documents(s, dir))
      val cand = dedup.Dedup.lshCandidates(docs, "doc_id", "text")
      // NOT materialized: the A/B (round 14 close) read 1.58 → 2.04 s
      // with materializeTruncated here on flat shuffle bytes — the two
      // prefix-side joins canonicalize to one ReusedExchange already.
      val t = docs.select(col("doc_id"),
        substring(util.Norm.normalize(col("text")), 1, 80).as("prefix"))
      cand
        .join(t.select(col("doc_id").as("id_a"), col("prefix").as("pa")), "id_a")
        .join(t.select(col("doc_id").as("id_b"), col("prefix").as("pb")), "id_b")
        .withColumn("editdist", levenshtein(col("pa"), col("pb")))
        .filter(col("editdist") <= 20)
        .select("id_a", "id_b", "editdist")
        .orderBy("id_a", "id_b")
    }),


    // The CLOSED 100 TB dedup pipeline (SCALE.md "Deduplication"): LSH
    // candidates → exact-Jaccard-verified pairs → connected-component
    // clusters — every stage sub-quadratic (banded candidate equi-join,
    // candidate-restricted verification, star contraction over the
    // duplicate graph only, shrinking the edge set between rounds).
    // `dedup_clusters` above builds from capped-Jaccard pairs; this
    // entry is the advertised end-to-end LSH path, against the same
    // RECURSIVE-CTE closure oracle. Round 10: pair mining goes THROUGH
    // THE PUBLISHED INDEX (dedup_minhash_lsh_stored's artifacts) — the
    // production pipeline clusters what ingest already indexed, and the
    // in-query shingle re-derivation was this query's measured dominant
    // cost (the 146 MB sf1 shuffle the star A/B attributed to pair
    // mining, and the sf10 cache wall). Oracle unchanged — the stored
    // pair set is the in-query pair set.
    "dedup_clusters_lsh" -> ((s, dir) => {
      val docs = dedup.Dedup.augmented(Sources.documents(s, dir))
      val base = dedup.Dedup.ensureLshIndexBucketed(
        s, dir, docs, "doc_id", "text", variant = "full")
      val pairs = dedup.Dedup.lshVerifiedPairsStored(s, base, 0.6)
      dedup.Dedup.clustersStar(docs, "doc_id", pairs)
        .withColumn("is_canonical",
          (col("doc_id") === col("cluster_id")).cast("int"))
        .orderBy("doc_id")
    }),


    // Cluster CANONICALIZATION — the step that actually shrinks the
    // corpus: per duplicate cluster keep the best doc, best = highest
    // composite quality score (doc_id tiebreak), not min-id. Quality is
    // a per-row projection over the same scan; selection runs through
    // the bounded-heap per-key operator (≤ 1 row per cluster per map
    // task reaches the exchange). Oracle = the QUALIFY window form over
    // the RECURSIVE-CTE closure.
    "dedup_survivors" -> ((s, dir) => {
      // Three consumers (pair mining, cluster loop seed, quality scoring)
      // read the augmented frame — materialize it once (the
      // docs_pipeline_e2e lesson from the sf1 rehearsal, SCALE.md).
      val docs = util.Views.materialize(
        dedup.Dedup.augmented(Sources.documents(s, dir)))
      val pairs = dedup.Dedup.jaccardPairs(docs, "doc_id", "text", 0.6,
        maxDocFreq = Some(10L))
      // Quality rides THROUGH the cluster labeling join (round 14,
      // VERDICT r13 #5): scoring is a per-row projection over the same
      // corpus frame the labeler already scans, so carrying
      // quality_score in its vertex side deletes the corpus-grain
      // clusters⋈quality re-join this query used to pay (the one byte
      // metric the round-13 doc-clustering trade moved the wrong way at
      // sf1). Same rows, same columns, same oracle.
      val scored = text.TextAnalysis.qualityScore(docs, "doc_id", "text")
        .select(col("doc_id"), col("quality_score"))
      val clusters = dedup.Dedup.clustersStarKeeping(
        scored, "doc_id", pairs, keep = Seq("quality_score"))
      plans.TopK.perKey(clusters,
        keyCols = Seq("cluster_id"),
        orderBy = Seq("quality_score" -> false, "doc_id" -> true), k = 1)
        .select("cluster_id", "doc_id", "quality_score")
        .orderBy("cluster_id")
    }),


    // SimHash near-dedup: 64-bit sign sketch per doc (two md5s per shingle,
    // flat partial+final aggregate), 4x16-bit banded candidate equi-join
    // (65 536 keys per band — sub-quadratic at corpus scale), full-width
    // hamming verification.
    "dedup_simhash" -> ((s, dir) =>
      dedup.Dedup.simhashPairs(
        dedup.Dedup.augmented(Sources.documents(s, dir)), "doc_id", "text")
        .orderBy("id_a", "id_b")),


    // Benchmark DECONTAMINATION (training-data extension): eval-side
    // n-gram containment between the train corpus and a (small,
    // broadcast) benchmark set — the pre-ship overlap scan of every LLM
    // data pipeline. The fixture's eval set is a deterministic slice of
    // documents; at scale it is a separate table, same plan.
    "dedup_contamination" -> ((s, dir) => {
      // Eval set = the base docs whose injected copies (exact, junk-
      // appended, edited) live in the train side — so real contamination
      // exists to find: a copy contains every shingle of its base doc →
      // containment 1.0 (threshold 0.8 admits the edit variants too).
      val docs = dedup.Dedup.augmented(Sources.documents(s, dir))
      val isEval = col("doc_id") % 5 === 0 && col("doc_id") < dedup.Dedup.NearOffset
      dedup.Dedup.contaminationPairs(
        docs.filter(!isEval), docs.filter(isEval),
        "doc_id", "text", threshold = 0.8)
        .orderBy("train_id", "eval_id")
    }),


    // INCREMENTAL dedup (training-data extension): an incoming batch is
    // deduped against the already-ingested corpus index — the steady-state
    // ingest path (dedup_exact is the from-scratch backfill). Batch side
    // anti-joins the existing content-hash index (one shuffle each side;
    // at scale the index is a written-once hash table scanned from
    // parquet), then collapses within-batch copies by min doc id. The
    // augmented corpus guarantees real cross- and intra-batch hits exist.
    "dedup_incremental" -> ((s, dir) => {
      val docs = dedup.Dedup.augmented(Sources.documents(s, dir))
        .withColumn("h", md5(util.Norm.normalize(col("text")).cast("binary")))
      val incoming = docs.filter(col("doc_id") % 10 === 0).select("doc_id", "h")
      val existing = docs.filter(col("doc_id") % 10 =!= 0).select("h").distinct()
      incoming.join(existing, Seq("h"), "left_anti")
        .groupBy("h").agg(
          min(col("doc_id")).as("doc_id"),
          count(lit(1)).as("n_batch_copies"))
        .select("doc_id", "h", "n_batch_copies")
        .orderBy("doc_id")
    }),


    // Bloom-ACCELERATED incremental exact dedup: the same semantics as
    // dedup_incremental, with a distributed Bloom filter
    // (graft/functions/BloomAgg.scala — partition-local bit arrays,
    // OR-merged; never the driver-collecting built-in) broadcast as the
    // pre-filter. A bloom MISS is definitive (no false negatives), so
    // misses skip the index join entirely; only the ~fpp fraction of
    // positives pays the exact anti-join re-check — output is EXACTLY
    // the anti-join's (the oracle is the same SQL). At 100 TB the 1M-bit
    // filter (128 KB broadcast) replaces a full batch×index shuffle with
    // a map-side probe for almost every genuinely-new document.
    "dedup_incremental_bloom" -> ((s, dir) => {
      import org.apache.spark.sql.GraftColumnBridge.{column => cexpr, expression => eexpr}
      val docs = dedup.Dedup.augmented(Sources.documents(s, dir))
        .withColumn("h", md5(util.Norm.normalize(col("text")).cast("binary")))
      val incoming = docs.filter(col("doc_id") % 10 === 0).select("doc_id", "h")
      val existing = docs.filter(col("doc_id") % 10 =!= 0).select("h").distinct()
      val bloomDf = existing.agg(cexpr(functions.BloomAgg(
        eexpr(col("h")), numBits = 1 << 20, numHashes = 7)
        .toAggregateExpression()).as("bloom"))
      val probed = incoming.crossJoin(broadcast(bloomDf))
        .withColumn("maybe",
          cexpr(functions.MightContain(eexpr(col("bloom")), eexpr(col("h")), 7)))
      val definitelyNew = probed.filter(!col("maybe")).select("doc_id", "h")
      val rechecked = probed.filter(col("maybe")).select("doc_id", "h")
        .join(existing, Seq("h"), "left_anti")
      definitelyNew.unionByName(rechecked)
        .groupBy("h").agg(
          min(col("doc_id")).as("doc_id"),
          count(lit(1)).as("n_batch_copies"))
        .select("doc_id", "h", "n_batch_copies")
        .orderBy("doc_id")
    }),


    // INCREMENTAL near-dedup (the LSH twin of dedup_incremental's exact
    // path): batch docs with no verified near-dup in the existing corpus
    // or among earlier batch docs. Probe-side banding — the corpus never
    // self-joins (SCALE.md "Deduplication").
    "dedup_incremental_lsh" -> ((s, dir) => {
      // Materialized once (round 13): the augmented frame feeds the
      // batch side, the existing side, AND lshNewDocs' id-disjointness
      // probe — three derivations of the same 4-branch union otherwise.
      val docs = util.Views.materializeTruncated(
        dedup.Dedup.augmented(Sources.documents(s, dir)))
      val isBatch = col("doc_id") % 10 === 0
      dedup.Dedup.lshNewDocs(docs.filter(isBatch), docs.filter(!isBatch),
        "doc_id", "text", 0.6)
        .orderBy("doc_id")
    }),


    // INCREMENTAL near-dedup against a STORED index — the true 100 TB
    // ingest shape dedup_incremental_lsh documents but derives in-query:
    // the existing corpus's band index + shingle store are WRITTEN to
    // parquet once (the write-once artifacts an ingest pipeline keeps),
    // read back, and only the batch is shingled/banded at probe time.
    // Same oracle as the in-query twin — identical survivors prove the
    // stored path computes the same verdicts.
    "dedup_incremental_lsh_stored" -> ((s, dir) => {
      val docs = dedup.Dedup.augmented(Sources.documents(s, dir))
      val isBatch = col("doc_id") % 10 === 0
      // WRITE-ONCE and BUCKETED BY DOC ID (round 12 — the sf1 rehearsal's
      // named scale-killer fix): the index tables are built at most once
      // per (sfDir, params) — bench reps probe, never rebuild — and their
      // bucket-by-id layout makes the build's signature aggregate and the
      // probe's id-keyed stages exchange-free (see
      // Dedup.writeLshIndexBucketed; ensure keeps per-SF artifacts so the
      // sf0.001 warm-up never clobbers the bench-SF index — round 5
      // measured 16.8 s rep 1 vs the 6.9 s probe floor when it did).
      val base = dedup.Dedup.ensureLshIndexBucketed(
        s, dir, docs.filter(!isBatch), "doc_id", "text")
      // Round 11 (VERDICT r10 task #1): corpus-partner verification
      // joins on the published shingle DICTIONARY ids, batch-vs-batch
      // stays on batch-local strings (the split shape — see
      // Dedup.lshProbeEncoded's scaladoc for the measured sf10
      // A/B: 29.6 s flat vs 33.9 s for the all-string probe on the same
      // host). Same verdicts; same oracle as the in-query twin.
      dedup.Dedup.lshNewDocsAgainstIndexEncoded(docs.filter(isBatch), base,
        "doc_id", "text", 0.6)
        .orderBy("doc_id")
    }),


    // BUILD-THEN-APPEND stored index (round 11): the artifact a steady-
    // state ingest pipeline actually has on disk — two-thirds of the
    // existing corpus indexed by the one-shot build, the remaining third
    // folded in by appendLshIndexBucketed (bucketed-table appends + the
    // dictionary EXTENSION: batch-new shingles get maxSid+1+rank sids,
    // keeping the dict a dense collision-free bijection). Probe and
    // ORACLE are IDENTICAL to dedup_incremental_lsh_stored —
    // append-equals-rebuild is the contract under the hash gate: one
    // dropped shingle row, one sid collision, or one bucket-layout break
    // in the append path changes a verdict and hash-fails.
    "dedup_incremental_lsh_appended_stored" -> ((s, dir) => {
      val docs = dedup.Dedup.augmented(Sources.documents(s, dir))
      val isBatch = col("doc_id") % 10 === 0
      val existing = docs.filter(!isBatch)
      val base = dedup.Dedup.ensureLshIndexBucketedAppended(
        s, dir, existing.filter(col("doc_id") % 3 =!= 1),
        existing.filter(col("doc_id") % 3 === 1), "doc_id", "text",
        variant = "apnd")
      dedup.Dedup.lshNewDocsAgainstIndexEncoded(docs.filter(isBatch), base,
        "doc_id", "text", 0.6)
        .orderBy("doc_id")
    }),


    // Per-label embedding CENTROIDS (training-data extension): the mean
    // vector per class — the write-once coarse index IVF probes, and the
    // per-cluster summary of any embedding-space audit. posexplode keeps
    // it dimension-agnostic. Components are QUANTIZED to 1e-8 longs
    // before summing (floor(v*1e8+0.5) is pure IEEE arithmetic —
    // engine-identical; a decimal CAST is not: Spark converts a float
    // through its shortest string form while DuckDB rounds the exact
    // binary value, and the two disagree a half-quantum on ~1 in 1e3
    // values). The long sum is exact and order-independent; one keyed
    // shuffle with partial aggregation.
    "emb_label_centroids" -> ((s, dir) =>
      Sources.embeddings(s, dir)
        .select(col("label"), posexplode(col("embedding")).as(Seq("dim_idx", "v")))
        .groupBy("label", "dim_idx")
        .agg(((sum(floor(col("v") * 1e8 + 0.5).cast("long")) / 1e8) / count(lit(1)))
          .as("centroid"))
        .select(col("label"), col("dim_idx").cast("long").as("dim_idx"), col("centroid"))
        .orderBy("label", "dim_idx")),


    // INT8 embedding QUANTIZATION audit (training-data extension): the
    // compression step before shipping an ANN index — per-dimension
    // min/max scaling to 8-bit codes, reported as per-(label, dim) code
    // statistics (n, Σcode, Σcode²) so drift between quantized shards is
    // detectable. Everything is integer-exact end-to-end: components
    // quantize to 1e-8 longs first (pure IEEE floor — engine-identical),
    // the code rounds via integer arithmetic ((Δ·510 + range) DIV
    // 2·range = round-half-up without any double), and code sums are
    // long. The per-dim range frame is |dims| rows — broadcast back; one
    // keyed shuffle for the final rollup.
    "emb_quantize_int8" -> ((s, dir) => {
      val ex = Sources.embeddings(s, dir)
        .select(col("label"), posexplode(col("embedding")).as(Seq("dim_idx", "v")))
        .withColumn("q", floor(col("v") * 1e8 + 0.5).cast("long"))
      val rng = ex.groupBy("dim_idx")
        .agg(min("q").as("min_q"), max("q").as("max_q"))
      ex.join(broadcast(rng), "dim_idx")
        .withColumn("code", when(col("max_q") === col("min_q"), lit(0L))
          .otherwise(expr("((q - min_q) * 510 + (max_q - min_q)) DIV (2 * (max_q - min_q))")))
        .groupBy("label", "dim_idx")
        .agg(count(lit(1)).as("n"), sum("code").as("sum_code"),
          sum(col("code") * col("code")).as("sum_code_sq"))
        .select(col("label"), col("dim_idx").cast("long").as("dim_idx"),
          col("n"), col("sum_code"), col("sum_code_sq"))
        .orderBy("label", "dim_idx")
    }),


    // Embedding-cosine near-dup pairs: full-sketch equality candidates +
    // exact cosine verification (no pairwise scan).
    "dedup_embedding_cosine" -> ((s, dir) =>
      sim.Similarity.cosinePairs(
        sim.Similarity.augmented(Sources.embeddings(s, dir)), 0.95)
        .orderBy("id_a", "id_b")),


    // Embedding-space duplicate CLUSTERS: the cluster machinery over a
    // SECOND pair-graph domain — cosine near-dup pairs instead of shingle
    // Jaccard. This one stays on the min-label-propagation tier
    // (Dedup.clusters) deliberately so BOTH component engines remain
    // oracle-gated (the text-side queries run star contraction); same
    // RECURSIVE-CTE closure oracle either way — an embedding pipeline
    // dedups semantic copies exactly like a text pipeline dedups lexical
    // ones.
    "dedup_embedding_clusters" -> ((s, dir) => {
      val vecs = sim.Similarity.augmented(Sources.embeddings(s, dir))
      val pairs = sim.Similarity.cosinePairs(vecs, 0.95)
        .select(col("id_a"), col("id_b"))
      dedup.Dedup.clusters(vecs.select(col("id")), "id", pairs)
        .withColumn("is_canonical",
          (col("doc_id") === col("cluster_id")).cast("int"))
        .orderBy("doc_id")
    }),


    // LSH RETRIEVAL QUALITY AUDIT (precision/recall of the banding
    // itself — completing the quality-audit symmetry: sim_ann_recall
    // audits the ANN tier, dedup_minhash_estimate audits the similarity
    // ESTIMATOR, this audits the candidate RETRIEVAL): ground truth =
    // the exact all-pairs Jaccard≥0.6 set (the declared exact tier —
    // fixture-feasible here; at corpus scale the truth set comes from a
    // SAMPLE, the standard continuous-audit protocol), retrieved = the
    // banded LSH candidate pairs. Precision/recall/F1 derive from three
    // exact pair counts in one fixed IEEE tree. A recall drop says the
    // band/row split no longer matches the dedup threshold — re-tune
    // bands, don't trust the index (the dedup_minhash_estimate rule,
    // applied to the retrieval stage).
    "dedup_lsh_recall" -> ((s, dir) => {
      val docs = dedup.Dedup.augmented(Sources.documents(s, dir))
      // ONE clustered shingle view feeds both the exact-truth mining and
      // the banded candidate generation (round 13) — the audit used to
      // run the normalize→shingle corpus pass twice, once per side.
      val sh = dedup.Dedup.shingleView(docs, "doc_id", "text")
      val truth = graft.util.Views.materializeTruncated(
        dedup.Dedup.jaccardFromShingles(sh, 0.6)
          .select("id_a", "id_b"))
      val cand = graft.util.Views.materializeTruncated(
        dedup.Dedup.lshCandidatesFromShingles(sh))
      val hit = truth.join(cand, Seq("id_a", "id_b"), "left_semi")
      truth.agg(count(lit(1)).as("n_truth"))
        .crossJoin(broadcast(cand.agg(count(lit(1)).as("n_candidates"))))
        .crossJoin(broadcast(hit.agg(count(lit(1)).as("n_hits"))))
        .withColumn("precision",
          col("n_hits").cast("double") / nullif(col("n_candidates"), lit(0L)))
        .withColumn("recall",
          col("n_hits").cast("double") / nullif(col("n_truth"), lit(0L)))
        .withColumn("f1",
          lit(2.0) * col("precision") * col("recall") /
            nullif(col("precision") + col("recall"), lit(0.0)))
    }),


    // EMBEDDING HYGIENE AUDIT — the pre-flight check before any ANN /
    // clustering run: per label, vector counts, dimensionality drift,
    // zero vectors, and the norm² distribution. Each component quantizes
    // to 1e-8 longs and norm² is a ROW-LOCAL exact-integer fold
    // (dim=64, |v|<1 ⇒ Σq² ≤ ~2e17, inside BIGINT) — no explode, no
    // per-dimension shuffle, and integer sums are order-independent so
    // the rollup hashes identically on any partitioning. One keyed
    // aggregate over row-local projections: scales linearly, zero skew
    // exposure.
    "emb_norm_audit" -> ((s, dir) => {
      val q = transform(col("embedding"),
        v => floor(v.cast("double") * 1e8 + 0.5).cast("long"))
      Sources.embeddings(s, dir)
        .select(col("label"), size(col("embedding")).as("dim"),
          aggregate(q, lit(0L), (acc, x) => acc + x * x).as("norm2_q"))
        .groupBy("label")
        .agg(count(lit(1)).as("n_vecs"),
          min(col("dim")).as("min_dim"), max(col("dim")).as("max_dim"),
          sum(when(col("norm2_q") === 0L, 1L).otherwise(0L)).as("n_zero"),
          min(col("norm2_q")).as("min_norm2_q"),
          max(col("norm2_q")).as("max_norm2_q"),
          sum(col("norm2_q")).as("sum_norm2_q"))
        .withColumn("avg_norm2",
          col("sum_norm2_q").cast("double") / col("n_vecs").cast("double") / 1e16)
        .select("label", "n_vecs", "min_dim", "max_dim", "n_zero",
          "min_norm2_q", "max_norm2_q", "avg_norm2")
        .orderBy("label")
    }),


    // — and the entire iteration is EXACT INTEGER arithmetic, which is
    // what makes a cross-engine (and cross-retry) deterministic PCA
    // possible at all: the centered covariance C = n·Σxᵢxⱼ − Σxᵢ·Σxⱼ is
    // built from 1e-4-quantized components in DECIMAL(38,0) ⇔ HUGEINT
    // (n·Σxᵢxⱼ overflows BIGINT at 100×), and each of the three unrolled
    // steps renormalizes v ← (C·v)·1e6 / max|C·v| with SIGN-SPLIT integer
    // floor division (Spark `div` truncates toward zero, DuckDB `//`
    // floors — identical on magnitudes, so divide |w| and reapply the
    // sign). Scale shape: one corpus pass builds the d² = 4096-cell
    // moment table (pair-exploded, keyed aggregate); the iteration then
    // touches only d²-sized state — corpus size is out of the loop, the
    // graph_kcore fixed-unroll discipline. Output: 64 loadings + the
    // Rayleigh-quotient eigenvalue from one exact rational.
    "emb_pca_power" -> ((s, dir) => {
      val d38 = DecimalType(38, 0)
      // Row-local OUTER PRODUCT (round 13): the moment table used to come
      // from comps ⋈ comps on vec_id — two corpus-explode exchanges plus
      // a join emitting the same n·d² rows the quantized array can emit
      // in place with two chained generators. Now the only exchange of
      // the build is the d²-cell aggregate's partial-combine shuffle.
      // The quantized-array frame is materialized once (it feeds the
      // per-dim sums, the outer product, and the count) and widened
      // behind the util.Par scale guard so the n·4096-row generate runs
      // across cores, not inside a single-split scan task.
      val base = util.Views.materializeTruncated(util.Par.widen(
        Sources.embeddings(s, dir).select(col("vec_id"),
          expr("transform(embedding, x -> " +
            "CAST(floor(CAST(x AS double) * 1e4 + 0.5) AS BIGINT))").as("q")),
        col("vec_id")))
      val comps = base
        .select(col("vec_id"), posexplode(col("q")).as(Seq("i", "xq")))
      val sums = comps.groupBy("i").agg(sum(col("xq")).as("si"))
      val cross = base
        .select(posexplode(col("q")).as(Seq("i", "xi")), col("q"))
        .select(col("i"), col("xi"), posexplode(col("q")).as(Seq("j", "xj")))
        .groupBy("i", "j")
        .agg(sum(col("xi") * col("xj")).as("sij"))
      val n = comps.agg((count(lit(1)) / lit(64)).cast("long").as("n"))
      // cov feeds every unrolled step AND the Rayleigh numerator;
      // uncached, each consumer re-executed the whole moment build
      // (the w-referenced-twice step nesting compounded it to ~2³
      // re-executions in one action before round 13).
      val cov = util.Views.materializeTruncated(cross
        .join(sums.select(col("i"), col("si")), "i")
        .join(sums.select(col("i").as("j"), col("si").as("sj")), "j")
        .crossJoin(broadcast(n))
        .select(col("i"), col("j"),
          (col("n").cast(d38) * col("sij").cast(d38) -
            col("si").cast(d38) * col("sj").cast(d38)).as("c")))
      // v₀ = all-ones; three unrolled C·v steps with integer rescale.
      // The w/v chain stays LAZY: over the cached d²-row cov its
      // re-execution per reference is 64-row arithmetic (an A/B with
      // per-step materialization read +0.6 s — three extra actions cost
      // more than the tiny recompute they saved).
      var v = sums.select(col("i").as("dim"), lit(1L).cast(d38).as("v"))
      for (_ <- 1 to 3) {
        val w = cov.join(v, cov("j") === v("dim"))
          .groupBy(col("i").as("dim")).agg(sum(col("c") * col("v")).as("w"))
        val m = w.agg(max(abs(col("w"))).as("m"))
        v = w.crossJoin(broadcast(m))
          .select(col("dim"),
            (when(col("w") < 0, -lit(1)).otherwise(lit(1)).cast(d38) *
              expr("CAST((abs(w) * 1000000) div m AS DECIMAL(38,0))")).as("v"))
      }
      val vc = util.Views.materialize(v)
      // Rayleigh quotient λ = vᵀCv / vᵀv, exact until the one division.
      val num = cov.join(vc.select(col("dim").as("i"), col("v").as("vi")), "i")
        .join(vc.select(col("dim").as("j"), col("v").as("vj")), "j")
        .agg(sum(col("vi") * col("c") * col("vj")).as("num"))
      val den = vc.agg(sum(col("v") * col("v")).as("den"))
      vc.crossJoin(broadcast(num)).crossJoin(broadcast(den))
        .select(col("dim"),
          (col("v").cast("double") / 1e6).as("loading"),
          (col("num").cast("double") / col("den").cast("double") /
            lit(1e8)).as("eigenvalue_q8"))
        .orderBy("dim")
    }),


    // k-NN CLASSIFIER over the embedding corpus — the non-parametric
    // model you get for free once similarity search exists: each test
    // vector (10% id-hash split) takes the MAJORITY LABEL of its 5
    // nearest train vectors under the exact cosine tier
    // (sim.Similarity.bruteTopK — broadcast queries, bounded-heap top-k,
    // deterministic (sim DESC, vec_id) tie order), votes adjudicate by
    // (count DESC, label ASC), and the readout is the truth×prediction
    // confusion matrix. The all-pairs scoring is the DECLARED exact tier
    // exactly as in sim_brute_topk; at corpus scale the same vote/argmax
    // pipeline runs unchanged over the ANN candidates (sim_ann_rhp/_ivf)
    // instead. One more distributed "trained" model whose inference is
    // pure dataflow.
    "emb_knn_classifier" -> ((s, dir) => {
      val emb = Sources.embeddings(s, dir)
        .select(col("vec_id").as("id"), col("embedding").as("vec"), col("label"))
      val isTest = col("id") % 10 === 0
      val topk = sim.Similarity.bruteTopK(
        emb.filter(isTest).select("id", "vec"),
        emb.filter(!isTest).select("id", "vec"), 5)
      val votes = topk
        .join(emb.filter(!isTest).select(col("id").as("vec_id"),
          col("label").as("nlabel")), "vec_id")
        .groupBy("query_id", "nlabel").agg(count(lit(1)).as("votes"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("query_id").orderBy(col("votes").desc, col("nlabel").asc)
      votes.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .join(emb.filter(isTest).select(col("id").as("query_id"),
          col("label").as("truth")), "query_id")
        .groupBy(col("truth"), col("nlabel").as("pred"))
        .agg(count(lit(1)).as("n_vecs"))
        .orderBy("truth", "pred")
    }),


    // The SCALE tier of the kNN classifier (round 12 — kills the
    // measured 11.2x-at-10x quadratic of the exact tier): neighbors come
    // from the RHP band-candidate generator instead of the full
    // train×test cross product — sim.Similarity.rhpTopKBulk bands BOTH
    // sides and equi-joins on (band_idx, band_key) with no broadcast
    // assumption (the test side is a corpus split, not a handful of
    // probes), then re-ranks candidates only through the bounded-heap
    // operator. The vote/argmax/confusion pipeline is UNCHANGED from
    // emb_knn_classifier; test vectors sharing no band with any train
    // vector are unclassified and drop out — the declared ANN coverage
    // contract, replicated bit-for-bit by the oracle's banding.
    // KnnAnnSpec pins coverage and the accuracy delta vs the exact tier.
    "emb_knn_classifier_ann" -> ((s, dir) => {
      val emb = Sources.embeddings(s, dir)
        .select(col("vec_id").as("id"), col("embedding").as("vec"), col("label"))
      val isTest = col("id") % 10 === 0
      val topk = sim.Similarity.rhpTopKBulk(
        emb.filter(isTest).select("id", "vec"),
        emb.filter(!isTest).select("id", "vec"), 5)
      val votes = topk
        .join(emb.filter(!isTest).select(col("id").as("vec_id"),
          col("label").as("nlabel")), "vec_id")
        .groupBy("query_id", "nlabel").agg(count(lit(1)).as("votes"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("query_id").orderBy(col("votes").desc, col("nlabel").asc)
      votes.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .join(emb.filter(isTest).select(col("id").as("query_id"),
          col("label").as("truth")), "query_id")
        .groupBy(col("truth"), col("nlabel").as("pred"))
        .agg(count(lit(1)).as("n_vecs"))
        .orderBy("truth", "pred")
    }),


    // SIMPLIFIED SILHOUETTE of the label partition over the embeddings —
    // the cluster-quality score consulted before trusting any clustering
    // (or, here, auditing how geometrically coherent the labels are):
    // per vector, a = distance to its OWN label centroid, b = distance
    // to the nearest OTHER centroid, s = (b−a)/max(a,b). Centroids are
    // integer-exact (1e-4-quantized component sums, floor-divided by the
    // class count), squared distances are pure BIGINT, and each row's s
    // — the only IEEE steps are one sqrt pair and one division —
    // QUANTIZES to a 1e-6 integer BEFORE the per-label mean (the
    // summation-order discipline: raw double sums are partition-order-
    // dependent). Scale shape: one broadcast of the |labels|×dims
    // centroid table, explode bounded by dims×|labels| per row, two
    // keyed aggregates. The centroid-simplified form EXISTS because the
    // classic all-pairs silhouette is quadratic — this is the one that
    // runs at 100 TB.
    "emb_silhouette" -> ((s, dir) => {
      val comps = Sources.embeddings(s, dir)
        .select(col("vec_id"), col("label"),
          posexplode(col("embedding")).as(Seq("i", "x")))
        .select(col("vec_id"), col("label"), col("i"),
          floor(col("x").cast("double") * 1e4 + 0.5).cast("long").as("xq"))
      // Sign-split floor division for the centroid mean: component sums
      // can be negative, where Spark `div` truncates toward zero but
      // DuckDB `//` floors — divide magnitudes, reapply the sign.
      val cents = comps.groupBy(col("label").as("cl"), col("i"))
        .agg(sum(col("xq")).as("sx"), count(lit(1)).as("cn"))
        .select(col("cl"), col("i"),
          when(col("sx") < 0, -expr("(-sx) div cn"))
            .otherwise(expr("sx div cn")).as("cq"))
      val d2 = comps
        .join(broadcast(cents), "i")
        .groupBy(col("vec_id"), col("label"), col("cl"))
        .agg(sum((col("xq") - col("cq")) * (col("xq") - col("cq"))).as("d2"))
      val perVec = d2.groupBy("vec_id", "label")
        .agg(
          sqrt(max(when(col("cl") === col("label"), col("d2"))).cast("double"))
            .as("a"),
          sqrt(min(when(col("cl") =!= col("label"), col("d2"))).cast("double"))
            .as("b"))
        .select(col("label"),
          floor((col("b") - col("a")) /
            greatest(col("a"), col("b")) * 1e6 + 0.5).cast("long").as("sq6"))
      perVec.groupBy("label")
        .agg(count(lit(1)).as("n_vecs"),
          (sum(col("sq6")).cast("double") / lit(1e6) /
            count(lit(1)).cast("double")).as("mean_silhouette"))
        .orderBy("label")
    }),


    // MAXIMAL MARGINAL RELEVANCE re-rank — retrieval DIVERSIFICATION:
    // from the query's top-20 exact-cosine candidates, greedily select 5
    // maximizing λ·sim(query) − (1−λ)·max-sim-to-already-selected
    // (λ=0.7) — the standard fix for near-duplicate result lists, run as
    // a FIXED 5-step unroll (each step: candidates × the ≤4-row selected
    // set, one argmax with vec_id tiebreak — bounded work however large
    // the corpus, because only the top-20 candidate set enters).
    // Cosine doubles are the engine's in-order fold (bit-identical in
    // DuckDB via list_reduce), so the greedy trajectory is reproducible.
    "emb_mmr_rerank" -> ((s, dir) => {
      val emb = Sources.embeddings(s, dir)
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      // Candidates materialize ONCE: the greedy unroll references them in
      // every step, and without the cache each step's plan would embed —
      // and re-execute — the whole top-k scan.
      // Lineage-truncated (round 13): the greedy unroll references the
      // candidate cache in every step and each step's selected-set cache
      // embeds the previous step's plan — untruncated, the final plan
      // text reached 3.9 MB and its per-rep Catalyst re-analysis was a
      // visible slice of this query's wall time.
      val cands = util.Views.materializeTruncated(
        sim.Similarity.bruteTopK(emb.filter(col("id") === 0), emb, 20)
          .join(emb.select(col("id").as("vec_id"), col("vec")), "vec_id")
          .select(col("vec_id"), col("vec"), col("sim")))
      var selected = cands
        .orderBy(col("sim").desc, col("vec_id"))
        .limit(1)
        .select(col("vec_id"), col("vec"), col("sim"), lit(1).as("rank"),
          col("sim").as("mmr_score"))
      for (step <- 2 to 5) {
        selected = util.Views.materializeTruncated(selected)
        val selVecs = broadcast(selected
          .select(col("vec_id").as("sid"), col("vec").as("svec")))
        val next = cands
          .join(selected.select(col("vec_id").as("done")),
            col("vec_id") === col("done"), "left_anti")
          .crossJoin(selVecs)
          .groupBy(col("vec_id"), col("sim"))
          .agg(max(sim.Similarity.cosine(
              sim.Similarity.vec(col("vec")),
              sim.Similarity.vec(col("svec")))).as("maxsel"),
            first(col("vec")).as("vec"))
          .select(col("vec_id"), col("vec"), col("sim"),
            (lit(0.7) * col("sim") - lit(0.3) * col("maxsel")).as("mmr_score"))
          .orderBy(col("mmr_score").desc, col("vec_id"))
          .limit(1)
          .select(col("vec_id"), col("vec"), col("sim"),
            lit(step).as("rank"), col("mmr_score"))
        selected = selected.unionByName(next)
      }
      selected.select(col("rank"), col("vec_id"), col("sim"), col("mmr_score"))
        .orderBy("rank")
    }),


    // PER-DIMENSION EMBEDDING VARIANCE — the feature-selection audit
    // beside emb_norm_audit's per-vector hygiene: which dimensions
    // carry signal (variance) and which are near-constant (candidates
    // for pruning before an index build). One posexplode + one keyed
    // aggregate on 1e-4-quantized components (q² sums stay BIGINT at
    // 100× data); mean and variance close with two IEEE divisions;
    // variance rank over the |dims|-row aggregate only.
    "emb_dim_variance" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val ex = Sources.embeddings(s, dir)
        .select(posexplode(col("embedding")).as(Seq("pos", "x")))
        .select(col("pos").cast("long").as("dim_idx"),
          floor(col("x").cast("double") * 1e4 + 0.5).cast("long").as("q"))
      ex.groupBy("dim_idx")
        .agg(count(lit(1)).as("n"), sum(col("q")).as("s1"),
          sum(col("q") * col("q")).as("s2"))
        .withColumn("mean",
          col("s1").cast("double") / col("n").cast("double") / 1e4)
        .withColumn("variance",
          (col("n") * col("s2") - col("s1") * col("s1")).cast("double") /
            (col("n").cast("double") * col("n").cast("double")) / 1e8)
        .withColumn("var_rank", row_number().over(
          Window.orderBy(col("variance").desc, col("dim_idx"))))
        .select("dim_idx", "n", "mean", "variance", "var_rank")
        .orderBy("dim_idx")
    }),


    // TRIPLET MINING for metric learning — the training-data op behind
    // every contrastive/triplet-loss embedding run: per anchor (a
    // deterministic id sample, broadcast), the HARDEST NEGATIVE (most
    // similar vector with a different label) and the HARDEST POSITIVE
    // (least similar with the same label), margin = pos_sim − neg_sim
    // (negative margin ⇒ the triplet violates and carries gradient).
    // Argmax/argmin adjudicate on a single-BIGINT-encoded
    // (q6-sim, id) total order (the events_peak_hours discipline — no
    // cross-engine double-tie ambiguity); cosine is the engine's
    // in-order VecDot fold ⇔ DuckDB list_reduce. Corpus scanned once
    // against the broadcast anchor set; swap the exact scan for the
    // ANN candidate tier at scale (the emb_knn_classifier note).
    "emb_triplet_mining" -> ((s, dir) => {
      val emb = Sources.embeddings(s, dir)
      val anchors = broadcast(emb.filter(col("vec_id") % 29 === 0)
        .select(col("vec_id").as("a_id"),
          sim.Similarity.vec(col("embedding")).as("av"),
          col("label").as("a_label")))
      val scored = emb
        .select(col("vec_id").as("c_id"),
          sim.Similarity.vec(col("embedding")).as("cv"),
          col("label").as("c_label"))
        .crossJoin(anchors)
        .filter(col("c_id") =!= col("a_id"))
        .withColumn("simq",
          floor(sim.Similarity.cosine(col("av"), col("cv")) * 1e6 + 0.5)
            .cast("long") + 2000000L)
      scored.groupBy("a_id", "a_label")
        .agg(
          max(when(col("c_label") =!= col("a_label"),
            col("simq") * 10000000000L + (lit(9999999999L) - col("c_id"))))
            .as("nk"),
          min(when(col("c_label") === col("a_label"),
            col("simq") * 10000000000L + col("c_id"))).as("pk"))
        .filter(col("nk").isNotNull && col("pk").isNotNull)
        .select(col("a_id"), col("a_label"),
          (col("pk") % 10000000000L).as("pos_id"),
          ((expr("pk div 10000000000") - 2000000L).cast("double") / 1e6)
            .as("pos_sim"),
          (lit(9999999999L) - col("nk") % 10000000000L).as("neg_id"),
          ((expr("nk div 10000000000") - 2000000L).cast("double") / 1e6)
            .as("neg_sim"))
        .withColumn("margin", col("pos_sim") - col("neg_sim"))
        .orderBy("a_id")
    }),


    // EMBEDDING CENTROID DRIFT — the model-monitoring readout for a
    // vector store ("did this class's embedding distribution move
    // between snapshots"): per label, the cosine between the two
    // halves' INTEGER-EXACT centroids (sign-split floor division of q8
    // component sums — the emb_silhouette discipline; Spark div
    // truncates, DuckDB // floors, so magnitudes divide and signs
    // reapply). Dim-grain moment products stay in BIGINT (64 dims ×
    // (2e8)² per term); cosine closes with one sqrt·sqrt division.
    "emb_centroid_drift" -> ((s, dir) => {
      val ex = Sources.embeddings(s, dir)
        .select(col("label"), (col("vec_id") % 2).as("half"),
          posexplode(col("embedding")).as(Seq("dim", "x")))
        .select(col("label"), col("half"), col("dim"),
          floor(col("x").cast("double") * 1e8 + 0.5).cast("long").as("q"))
      val cent = ex.groupBy("label", "half", "dim")
        .agg(sum(col("q")).as("sq"), count(lit(1)).as("n"))
        .withColumn("cq",
          expr("CASE WHEN sq >= 0 THEN sq div n ELSE -((-sq) div n) END"))
      val c1 = cent.filter(col("half") === 0)
        .select(col("label"), col("dim"), col("cq").as("c1"), col("n").as("n1"))
      val c2 = cent.filter(col("half") === 1)
        .select(col("label"), col("dim"), col("cq").as("c2"), col("n").as("n2"))
      c1.join(c2, Seq("label", "dim"))
        .groupBy("label")
        .agg(max(col("n1")).as("n1"), max(col("n2")).as("n2"),
          sum(col("c1") * col("c2")).as("sxy"),
          sum(col("c1") * col("c1")).as("sxx"),
          sum(col("c2") * col("c2")).as("syy"))
        .withColumn("cos_drift", col("sxy").cast("double") /
          (sqrt(col("sxx").cast("double")) * sqrt(col("syy").cast("double"))))
        .select("label", "n1", "n2", "cos_drift")
        .orderBy("label")
    }),


    // OUT-OF-DISTRIBUTION FLAGS — the embedding-hygiene gate before
    // vectors enter an index ("is this embedding even from the right
    // distribution"): per-label squared distance to the INTEGER-EXACT
    // label centroid (q6 components keep Σdiff² in BIGINT across 64
    // dims), p99 cut by the exact-rank rule (⌈0.99n⌉-th order statistic
    // — the winsorize integer adjudication, zero interpolation), flags
    // = rows strictly beyond it. Centroids broadcast back; the rank
    // window partitions by label.
    "emb_ood_flags" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val ex = Sources.embeddings(s, dir)
        .select(col("vec_id"), col("label"),
          posexplode(col("embedding")).as(Seq("dim", "x")))
        .select(col("vec_id"), col("label"), col("dim"),
          floor(col("x").cast("double") * 1e6 + 0.5).cast("long").as("q"))
      val cent = ex.groupBy("label", "dim")
        .agg(sum(col("q")).as("sq"), count(lit(1)).as("n"))
        .withColumn("cq",
          expr("CASE WHEN sq >= 0 THEN sq div n ELSE -((-sq) div n) END"))
        .select("label", "dim", "cq")
      val dist = ex.join(broadcast(cent), Seq("label", "dim"))
        .groupBy("label", "vec_id")
        .agg(sum((col("q") - col("cq")) * (col("q") - col("cq"))).as("dist2"))
      val ranked = dist
        .withColumn("rn", row_number().over(
          Window.partitionBy("label").orderBy("dist2", "vec_id")))
        .withColumn("n", count(lit(1)).over(Window.partitionBy("label")))
      val cuts = ranked
        .filter(col("rn") === expr("(n * 99 + 99) div 100"))
        .select(col("label"), col("dist2").as("p99_dist2"))
      dist.join(broadcast(cuts), "label")
        .groupBy("label")
        .agg(count(lit(1)).as("n"), max(col("p99_dist2")).as("p99_dist2"),
          sum(when(col("dist2") > col("p99_dist2"), 1L).otherwise(0L))
            .as("n_flagged"),
          max(col("dist2")).as("max_dist2"))
        .orderBy("label")
    }),


    // LABEL GEOMETRY MATRIX — the class-separation readout before
    // training on labeled embeddings ("which classes are entangled"):
    // pairwise cosine between INTEGER-EXACT label centroids (q6
    // sign-split floor division — the ood/silhouette discipline),
    // C(labels,2) rows from dim-grain BIGINT moments. Centroid table
    // is O(labels·dims); the pair join never touches raw vectors.
    "emb_label_geometry" -> ((s, dir) => {
      val ex = Sources.embeddings(s, dir)
        .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "x")))
        .select(col("label"), col("dim"),
          floor(col("x").cast("double") * 1e6 + 0.5).cast("long").as("q"))
      val cent = ex.groupBy("label", "dim")
        .agg(sum(col("q")).as("sq"), count(lit(1)).as("n"))
        .withColumn("cq",
          expr("CASE WHEN sq >= 0 THEN sq div n ELSE -((-sq) div n) END"))
        .select(col("label"), col("dim"), col("cq"), col("n"))
      cent.as("a").join(cent.as("b"),
          col("a.label") < col("b.label") && col("a.dim") === col("b.dim"))
        .groupBy(col("a.label").as("label_a"), col("b.label").as("label_b"))
        .agg(max(col("a.n")).as("n_a"), max(col("b.n")).as("n_b"),
          sum(col("a.cq") * col("b.cq")).as("sxy"),
          sum(col("a.cq") * col("a.cq")).as("sxx"),
          sum(col("b.cq") * col("b.cq")).as("syy"))
        .withColumn("cos_centroid", col("sxy").cast("double") /
          (sqrt(col("sxx").cast("double")) * sqrt(col("syy").cast("double"))))
        .select("label_a", "label_b", "n_a", "n_b", "cos_centroid")
        .orderBy("label_a", "label_b")
    }),
  )

  def oracles: Map[String, String] = Map(
    "dedup_exact" ->
      s"""WITH docs AS ${dedup.Dedup.augmentedSql}
         |${dedup.Dedup.exactGroupsSql("docs")}
         |ORDER BY fingerprint""".stripMargin,

    "dedup_jaccard_pairs" ->
      s"""WITH docs AS ${dedup.Dedup.augmentedSql},
         |${dedup.Dedup.jaccardPairsCtes("docs", 0.6, None)}
         |SELECT * FROM pairs ORDER BY id_a, id_b""".stripMargin,

    "dedup_jaccard_capped" ->
      s"""WITH docs AS ${dedup.Dedup.augmentedSql},
         |${dedup.Dedup.jaccardPairsCtes("docs", 0.5, None, maxDocFreq = Some(10L))}
         |SELECT * FROM pairs ORDER BY id_a, id_b""".stripMargin,

    "dedup_overlap_pairs" ->
      s"""WITH docs AS ${dedup.Dedup.augmentedSql},
         |${dedup.Dedup.overlapPairsCtes("docs", 0.9, maxDocFreq = Some(10L))}
         |SELECT * FROM pairs ORDER BY id_a, id_b""".stripMargin,

    "dedup_clusters" ->
      s"""WITH docs AS ${dedup.Dedup.augmentedSql},
         |${dedup.Dedup.jaccardPairsCtes("docs", 0.6, None, maxDocFreq = Some(10L))},
         |${dedup.Dedup.clustersSql("docs", "pairs")}
         |SELECT doc_id, cluster_id,
         |  CAST(doc_id = cluster_id AS INTEGER) AS is_canonical
         |FROM clusters ORDER BY doc_id""".stripMargin,

    "dedup_clusters_lsh" ->
      s"""WITH docs AS ${dedup.Dedup.augmentedSql},
         |${dedup.Dedup.lshCandidatesCtes("docs")},
         |${dedup.Dedup.jaccardPairsCtes("docs", 0.6, Some("cand"))},
         |vpairs AS (
         |  SELECT p.id_a, p.id_b FROM pairs p
         |  JOIN cand c ON c.id_a = p.id_a AND c.id_b = p.id_b),
         |${dedup.Dedup.clustersSql("docs", "vpairs")}
         |SELECT doc_id, cluster_id,
         |  CAST(doc_id = cluster_id AS INTEGER) AS is_canonical
         |FROM clusters ORDER BY doc_id""".stripMargin,

    "dedup_minhash_lsh" ->
      s"""WITH docs AS ${dedup.Dedup.augmentedSql},
         |${dedup.Dedup.lshCandidatesCtes("docs")},
         |${dedup.Dedup.jaccardPairsCtes("docs", 0.6, Some("cand"))}
         |SELECT p.id_a, p.id_b, p.jaccard FROM pairs p
         |JOIN cand c ON c.id_a = p.id_a AND c.id_b = p.id_b
         |ORDER BY p.id_a, p.id_b""".stripMargin,

    "dedup_minhash_lsh_capped" ->
      s"""WITH docs AS ${dedup.Dedup.augmentedSql},
         |${dedup.Dedup.lshCandidatesCtes("docs", Some(8L))},
         |${dedup.Dedup.jaccardPairsCtes("docs", 0.6, Some("cand"))}
         |SELECT p.id_a, p.id_b, p.jaccard FROM pairs p
         |JOIN cand c ON c.id_a = p.id_a AND c.id_b = p.id_b
         |ORDER BY p.id_a, p.id_b""".stripMargin,

    "dedup_minhash_lsh_scaled" ->
      s"""WITH docs AS ${dedup.Dedup.augmentedSql},
         |${dedup.Dedup.lshCandidatesCtes("docs", None, 32, 8)},
         |${dedup.Dedup.jaccardPairsCtes("docs", 0.6, Some("cand"))}
         |SELECT p.id_a, p.id_b, p.jaccard FROM pairs p
         |JOIN cand c ON c.id_a = p.id_a AND c.id_b = p.id_b
         |ORDER BY p.id_a, p.id_b""".stripMargin,

    // The stored self-dedup tier computes the SAME verified pair set
    // from the published artifacts — one oracle, shared with the
    // in-query tier (the dedup_incremental_lsh_stored discipline).
    "dedup_minhash_lsh_stored" ->
      s"""WITH docs AS ${dedup.Dedup.augmentedSql},
         |${dedup.Dedup.lshCandidatesCtes("docs")},
         |${dedup.Dedup.jaccardPairsCtes("docs", 0.6, Some("cand"))}
         |SELECT p.id_a, p.id_b, p.jaccard FROM pairs p
         |JOIN cand c ON c.id_a = p.id_a AND c.id_b = p.id_b
         |ORDER BY p.id_a, p.id_b""".stripMargin,

    "dedup_minhash_estimate" ->
      s"""WITH docs AS ${dedup.Dedup.augmentedSql},
         |${dedup.Dedup.lshCandidatesCtes("docs")},
         |${dedup.Dedup.jaccardPairsCtes("docs", 0.0, Some("cand"))},
         |sigs AS (
         |  SELECT doc_id AS id,
         |    ${dedup.Dedup.minhashSignatureSql(dedup.Dedup.shinglesSql("text"))} AS sig
         |  FROM docs),
         |m AS (
         |  SELECT c.id_a, c.id_b,
         |    CAST(len([i FOR i IN range(1, ${dedup.Dedup.NumHashes + 1})
         |              IF sa.sig[i] = sb.sig[i]]) AS INTEGER) AS n_match
         |  FROM cand c
         |  JOIN sigs sa ON sa.id = c.id_a
         |  JOIN sigs sb ON sb.id = c.id_b)
         |SELECT m.id_a, m.id_b, m.n_match,
         |  m.n_match / 12.0 AS est_jaccard, p.jaccard
         |FROM m JOIN pairs p ON p.id_a = m.id_a AND p.id_b = m.id_b
         |ORDER BY m.id_a, m.id_b""".stripMargin,

    "dedup_fuzzy_editdist" ->
      s"""WITH docs AS ${dedup.Dedup.augmentedSql},
         |${dedup.Dedup.lshCandidatesCtes("docs")},
         |t AS (SELECT doc_id,
         |        substring(${util.Norm.normalizeSql("text")}, 1, 80) AS prefix
         |      FROM docs)
         |SELECT c.id_a, c.id_b, levenshtein(a.prefix, b.prefix) AS editdist
         |FROM cand c
         |JOIN t a ON a.doc_id = c.id_a
         |JOIN t b ON b.doc_id = c.id_b
         |WHERE levenshtein(a.prefix, b.prefix) <= 20
         |ORDER BY c.id_a, c.id_b""".stripMargin,

    "dedup_simhash" ->
      s"""WITH docs AS ${dedup.Dedup.augmentedSql},
         |${dedup.Dedup.simhashPairsCtes("docs")}
         |SELECT * FROM shpairs ORDER BY id_a, id_b""".stripMargin,

    "dedup_contamination" ->
      s"""WITH docs AS ${dedup.Dedup.augmentedSql},
         |${dedup.Dedup.contaminationSql("docs",
             s"id % 5 = 0 AND id < ${dedup.Dedup.NearOffset}", 0.8)}
         |SELECT * FROM contam ORDER BY train_id, eval_id""".stripMargin,

    "dedup_incremental" ->
      s"""WITH docs AS ${dedup.Dedup.augmentedSql},
         |hashed AS (
         |  SELECT doc_id, md5(${util.Norm.normalizeSql("text")}) AS h FROM docs),
         |incoming AS (SELECT * FROM hashed WHERE doc_id % 10 = 0),
         |existing AS (SELECT DISTINCT h FROM hashed WHERE doc_id % 10 <> 0)
         |SELECT min(doc_id) AS doc_id, h, count(*) AS n_batch_copies
         |FROM incoming i
         |WHERE NOT EXISTS (SELECT 1 FROM existing e WHERE e.h = i.h)
         |GROUP BY h ORDER BY doc_id""".stripMargin,

    // The bloom path is an internal accelerator; the CONTRACT is the
    // exact anti-join — identical oracle to dedup_incremental.
    "dedup_incremental_bloom" ->
      s"""WITH docs AS ${dedup.Dedup.augmentedSql},
         |hashed AS (
         |  SELECT doc_id, md5(${util.Norm.normalizeSql("text")}) AS h FROM docs),
         |incoming AS (SELECT * FROM hashed WHERE doc_id % 10 = 0),
         |existing AS (SELECT DISTINCT h FROM hashed WHERE doc_id % 10 <> 0)
         |SELECT min(doc_id) AS doc_id, h, count(*) AS n_batch_copies
         |FROM incoming i
         |WHERE NOT EXISTS (SELECT 1 FROM existing e WHERE e.h = i.h)
         |GROUP BY h ORDER BY doc_id""".stripMargin,

    "dedup_incremental_lsh" -> incrementalLshOracle,

    // The stored-index path computes the SAME survivors — one oracle,
    // two engines' worth of proof that the parquet round-trip of the
    // band index + shingle store changes nothing.
    "dedup_incremental_lsh_stored" -> incrementalLshOracle,

    // Same oracle as the one-shot stored tier: the appended artifact must
    // yield byte-identical verdicts (append ≡ rebuild).
    "dedup_incremental_lsh_appended_stored" -> incrementalLshOracle,

    "emb_label_centroids" ->
      // Dimension-agnostic like the Spark side: the unnest bound derives
      // from len(embedding) PER ROW (no hardcoded dim — a fixture dim
      // change can no longer silently count past-the-end NULL positions
      // into the centroid denominator).
      """SELECT label, CAST(i AS BIGINT) - 1 AS dim_idx,
        |  (CAST(sum(CAST(floor(CAST(embedding[i] AS DOUBLE) * 1e8 + 0.5) AS BIGINT))
        |        AS BIGINT) / 1e8) / count(*) AS centroid
        |FROM (SELECT label, embedding,
        |        unnest(range(1, len(embedding) + 1)) AS i
        |      FROM embeddings)
        |GROUP BY 1, 2 ORDER BY label, dim_idx""".stripMargin,

    "emb_quantize_int8" ->
      """WITH ex AS (
        |  SELECT label, CAST(i AS BIGINT) - 1 AS dim_idx,
        |    CAST(floor(CAST(embedding[i] AS DOUBLE) * 1e8 + 0.5) AS BIGINT) AS q
        |  FROM (SELECT label, embedding,
        |          unnest(range(1, len(embedding) + 1)) AS i
        |        FROM embeddings)),
        |rng AS (SELECT dim_idx, min(q) AS min_q, max(q) AS max_q FROM ex GROUP BY 1),
        |codes AS (
        |  SELECT label, ex.dim_idx,
        |    CASE WHEN max_q = min_q THEN 0
        |         ELSE ((q - min_q) * 510 + (max_q - min_q)) // (2 * (max_q - min_q))
        |    END AS code
        |  FROM ex JOIN rng ON ex.dim_idx = rng.dim_idx)
        |SELECT label, dim_idx, count(*) AS n,
        |  CAST(sum(code) AS BIGINT) AS sum_code,
        |  CAST(sum(code * code) AS BIGINT) AS sum_code_sq
        |FROM codes GROUP BY 1, 2 ORDER BY label, dim_idx""".stripMargin,

    "dedup_survivors" ->
      s"""WITH docs AS ${dedup.Dedup.augmentedSql},
         |${dedup.Dedup.jaccardPairsCtes("docs", 0.6, None, maxDocFreq = Some(10L))},
         |${dedup.Dedup.clustersSql("docs", "pairs")},
         |q AS (${text.TextAnalysis.qualityScoreSql("docs", "doc_id", "text")})
         |SELECT cluster_id, doc_id, quality_score
         |FROM (SELECT c.cluster_id, c.doc_id, q.quality_score
         |      FROM clusters c JOIN q USING (doc_id)
         |      QUALIFY row_number() OVER (
         |        PARTITION BY cluster_id
         |        ORDER BY quality_score DESC, doc_id) = 1)
         |ORDER BY cluster_id""".stripMargin,

    "dedup_embedding_cosine" ->
      s"""WITH aug AS ${sim.Similarity.augmentedSql},
         |${sim.Similarity.cosinePairsSql("aug", 0.95)}
         |SELECT id_a, id_b, sim FROM pairs
         |ORDER BY id_a, id_b""".stripMargin,

    "dedup_embedding_clusters" ->
      s"""WITH aug AS ${sim.Similarity.augmentedSql},
         |${sim.Similarity.cosinePairsSql("aug", 0.95)},
         |${dedup.Dedup.clustersSql("(SELECT id AS doc_id FROM aug)", "pairs")}
         |SELECT doc_id, cluster_id,
         |  CAST(doc_id = cluster_id AS INTEGER) AS is_canonical
         |FROM clusters ORDER BY doc_id""".stripMargin,

    "dedup_lsh_recall" ->
      s"""WITH docs AS ${dedup.Dedup.augmentedSql},
         |${dedup.Dedup.lshCandidatesCtes("docs")},
         |${dedup.Dedup.jaccardPairsCtes("docs", 0.6, None)},
         |t AS (SELECT count(*) AS n_truth FROM pairs),
         |c AS (SELECT count(*) AS n_candidates FROM cand),
         |h AS (SELECT count(*) AS n_hits
         |      FROM pairs p JOIN cand x ON p.id_a = x.id_a AND p.id_b = x.id_b)
         |SELECT n_truth, n_candidates, n_hits,
         |  CAST(n_hits AS DOUBLE) / nullif(n_candidates, 0) AS precision,
         |  CAST(n_hits AS DOUBLE) / nullif(n_truth, 0) AS recall,
         |  2.0 * (CAST(n_hits AS DOUBLE) / nullif(n_candidates, 0))
         |      * (CAST(n_hits AS DOUBLE) / nullif(n_truth, 0))
         |    / nullif(CAST(n_hits AS DOUBLE) / nullif(n_candidates, 0)
         |             + CAST(n_hits AS DOUBLE) / nullif(n_truth, 0), 0.0) AS f1
         |FROM t CROSS JOIN c CROSS JOIN h""".stripMargin,

    "emb_norm_audit" ->
      """WITH e AS (
        |  SELECT label, CAST(len(embedding) AS INTEGER) AS dim,
        |    CAST(list_aggregate(list_transform(embedding,
        |      v -> CAST(floor(CAST(v AS DOUBLE) * 1e8 + 0.5) AS BIGINT)
        |           * CAST(floor(CAST(v AS DOUBLE) * 1e8 + 0.5) AS BIGINT)),
        |      'sum') AS BIGINT) AS norm2_q
        |  FROM embeddings)
        |SELECT label, count(*) AS n_vecs, min(dim) AS min_dim,
        |  max(dim) AS max_dim,
        |  CAST(sum(CASE WHEN norm2_q = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero,
        |  min(norm2_q) AS min_norm2_q, max(norm2_q) AS max_norm2_q,
        |  CAST(CAST(sum(norm2_q) AS BIGINT) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE) / 1e16 AS avg_norm2
        |FROM e GROUP BY 1 ORDER BY label""".stripMargin,


    "emb_pca_power" ->
      """WITH comps AS MATERIALIZED (
        |  SELECT vec_id, i,
        |    CAST(floor(CAST(x AS DOUBLE) * 1e4 + 0.5) AS BIGINT) AS xq
        |  FROM (SELECT vec_id, unnest(embedding) AS x,
        |          unnest(range(0, len(embedding))) AS i
        |        FROM embeddings)),
        |sums AS (SELECT i, CAST(sum(xq) AS BIGINT) AS si
        |         FROM comps GROUP BY 1),
        |nn AS (SELECT count(*) // 64 AS n FROM comps),
        |cx AS (SELECT a.i AS i, b.i AS j,
        |         CAST(sum(a.xq * b.xq) AS BIGINT) AS sij
        |       FROM comps a JOIN comps b USING (vec_id) GROUP BY 1, 2),
        |cov AS MATERIALIZED (
        |  SELECT c.i, c.j,
        |    CAST(n.n AS HUGEINT) * sij
        |      - CAST(si.si AS HUGEINT) * sj.si AS c
        |  FROM cx c JOIN sums si ON si.i = c.i
        |  JOIN sums sj ON sj.i = c.j CROSS JOIN nn n),
        |v0 AS (SELECT i AS dim, CAST(1 AS HUGEINT) AS v FROM sums),
        |w1 AS (SELECT cov.i AS dim, sum(cov.c * v.v) AS w
        |       FROM cov JOIN v0 v ON cov.j = v.dim GROUP BY 1),
        |m1 AS (SELECT max(abs(w)) AS m FROM w1),
        |v1 AS MATERIALIZED (SELECT dim,
        |        CASE WHEN w < 0 THEN -((abs(w) * 1000000) // m)
        |             ELSE (abs(w) * 1000000) // m END AS v
        |      FROM w1, m1),
        |w2 AS (SELECT cov.i AS dim, sum(cov.c * v.v) AS w
        |       FROM cov JOIN v1 v ON cov.j = v.dim GROUP BY 1),
        |m2 AS (SELECT max(abs(w)) AS m FROM w2),
        |v2 AS MATERIALIZED (SELECT dim,
        |        CASE WHEN w < 0 THEN -((abs(w) * 1000000) // m)
        |             ELSE (abs(w) * 1000000) // m END AS v
        |      FROM w2, m2),
        |w3 AS (SELECT cov.i AS dim, sum(cov.c * v.v) AS w
        |       FROM cov JOIN v2 v ON cov.j = v.dim GROUP BY 1),
        |m3 AS (SELECT max(abs(w)) AS m FROM w3),
        |v3 AS MATERIALIZED (SELECT dim,
        |        CASE WHEN w < 0 THEN -((abs(w) * 1000000) // m)
        |             ELSE (abs(w) * 1000000) // m END AS v
        |      FROM w3, m3),
        |num AS (SELECT sum(vi.v * cov.c * vj.v) AS num
        |        FROM cov JOIN v3 vi ON cov.i = vi.dim
        |        JOIN v3 vj ON cov.j = vj.dim),
        |den AS (SELECT sum(v * v) AS den FROM v3)
        |SELECT dim, CAST(v AS DOUBLE) / 1e6 AS loading,
        |  CAST(CAST(num AS VARCHAR) AS DOUBLE)
        |    / CAST(CAST(den AS VARCHAR) AS DOUBLE) / 1e8 AS eigenvalue_q8
        |FROM v3, num, den ORDER BY dim""".stripMargin,


    "emb_knn_classifier" ->
      s"""WITH vecs AS ${sim.Similarity.vecsSql},
         |${sim.Similarity.bruteTopKSql(
              "(SELECT * FROM vecs WHERE id % 10 = 0)",
              "(SELECT * FROM vecs WHERE id % 10 <> 0)", 5)},
         |lab AS (SELECT vec_id AS id, label FROM embeddings),
         |votes AS (SELECT t.query_id, l.label AS nlabel, count(*) AS votes
         |          FROM topk t JOIN lab l ON l.id = t.vec_id GROUP BY 1, 2),
         |pred AS (SELECT query_id, nlabel,
         |           row_number() OVER (PARTITION BY query_id
         |             ORDER BY votes DESC, nlabel) AS rn
         |         FROM votes)
         |SELECT lt.label AS truth, p.nlabel AS pred, count(*) AS n_vecs
         |FROM pred p JOIN lab lt ON lt.id = p.query_id
         |WHERE p.rn = 1 GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,


    // Same vote/argmax pipeline over the RHP band candidates — the
    // banding CTEs are sim_ann_rhp's own, so the unclassified-query
    // drop-out is replicated exactly.
    "emb_knn_classifier_ann" ->
      s"""WITH vecs AS ${sim.Similarity.vecsSql},
         |${sim.Similarity.rhpTopKSql(
              "(SELECT * FROM vecs WHERE id % 10 = 0)",
              "(SELECT * FROM vecs WHERE id % 10 <> 0)", 5)},
         |lab AS (SELECT vec_id AS id, label FROM embeddings),
         |votes AS (SELECT t.query_id, l.label AS nlabel, count(*) AS votes
         |          FROM topk t JOIN lab l ON l.id = t.vec_id GROUP BY 1, 2),
         |pred AS (SELECT query_id, nlabel,
         |           row_number() OVER (PARTITION BY query_id
         |             ORDER BY votes DESC, nlabel) AS rn
         |         FROM votes)
         |SELECT lt.label AS truth, p.nlabel AS pred, count(*) AS n_vecs
         |FROM pred p JOIN lab lt ON lt.id = p.query_id
         |WHERE p.rn = 1 GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,


    "emb_silhouette" ->
      """WITH comps AS MATERIALIZED (
        |  SELECT vec_id, label, i,
        |    CAST(floor(CAST(x AS DOUBLE) * 1e4 + 0.5) AS BIGINT) AS xq
        |  FROM (SELECT vec_id, label, unnest(embedding) AS x,
        |          unnest(range(0, len(embedding))) AS i
        |        FROM embeddings)),
        |cs AS (SELECT label AS cl, i, CAST(sum(xq) AS BIGINT) AS sx,
        |         count(*) AS cn
        |       FROM comps GROUP BY 1, 2),
        |cents AS (SELECT cl, i,
        |            CASE WHEN sx < 0 THEN -((-sx) // cn) ELSE sx // cn END
        |              AS cq
        |          FROM cs),
        |d2 AS (SELECT c.vec_id, c.label, ce.cl,
        |         CAST(sum((c.xq - ce.cq) * (c.xq - ce.cq)) AS BIGINT) AS d2
        |       FROM comps c JOIN cents ce USING (i) GROUP BY 1, 2, 3),
        |pv AS (SELECT vec_id, label,
        |         sqrt(CAST(max(CASE WHEN cl = label THEN d2 END) AS DOUBLE))
        |           AS a,
        |         sqrt(CAST(min(CASE WHEN cl <> label THEN d2 END) AS DOUBLE))
        |           AS b
        |       FROM d2 GROUP BY 1, 2),
        |sq AS (SELECT label,
        |         CAST(floor((b - a) / greatest(a, b) * 1e6 + 0.5) AS BIGINT)
        |           AS sq6
        |       FROM pv)
        |SELECT label, count(*) AS n_vecs,
        |  CAST(CAST(sum(sq6) AS BIGINT) AS DOUBLE) / 1e6
        |    / CAST(count(*) AS DOUBLE) AS mean_silhouette
        |FROM sq GROUP BY label ORDER BY label""".stripMargin,


    "emb_mmr_rerank" -> {
      def cos(a: String, b: String) = sim.Similarity.cosineSql(a, b)
      val steps = (2 to 5).map { k =>
        s"""cand$k AS (
           |  SELECT c.vec_id, any_value(c.vec) AS vec, c.sim,
           |    max(${cos("c.vec", "s.vec")}) AS maxsel
           |  FROM cands c CROSS JOIN acc${k - 1} s
           |  WHERE c.vec_id NOT IN (SELECT vec_id FROM acc${k - 1})
           |  GROUP BY c.vec_id, c.sim),
           |sel$k AS (
           |  SELECT vec_id, vec, sim, $k AS rank,
           |    0.7e0 * sim - 0.3e0 * maxsel AS mmr_score
           |  FROM cand$k ORDER BY mmr_score DESC, vec_id LIMIT 1),
           |acc$k AS (SELECT * FROM acc${k - 1}
           |          UNION ALL SELECT * FROM sel$k)""".stripMargin
      }.mkString(",\n")
      s"""WITH vecs AS ${sim.Similarity.vecsSql},
         |${sim.Similarity.bruteTopKSql("(SELECT * FROM vecs WHERE id = 0)", "vecs", 20)},
         |cands AS (
         |  SELECT t.vec_id, v.vec, t.sim
         |  FROM topk t JOIN vecs v ON v.id = t.vec_id),
         |sel1 AS (SELECT vec_id, vec, sim, 1 AS rank, sim AS mmr_score
         |         FROM cands ORDER BY sim DESC, vec_id LIMIT 1),
         |acc1 AS (SELECT * FROM sel1),
         |$steps
         |SELECT rank, vec_id, sim, mmr_score FROM acc5 ORDER BY rank""".stripMargin
    },


    "emb_dim_variance" ->
      """WITH ex AS (
        |  SELECT CAST(i AS BIGINT) - 1 AS dim_idx,
        |    CAST(floor(CAST(embedding[i] AS DOUBLE) * 1e4 + 0.5) AS BIGINT)
        |      AS q
        |  FROM (SELECT embedding, unnest(range(1, len(embedding) + 1)) AS i
        |        FROM embeddings)),
        |m AS (
        |  SELECT dim_idx, count(*) AS n, CAST(sum(q) AS BIGINT) AS s1,
        |    CAST(sum(q * q) AS BIGINT) AS s2
        |  FROM ex GROUP BY 1)
        |SELECT dim_idx, n,
        |  CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) / 1e4 AS mean,
        |  CAST(n * s2 - s1 * s1 AS DOUBLE)
        |    / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) / 1e8 AS variance,
        |  row_number() OVER (ORDER BY
        |    CAST(n * s2 - s1 * s1 AS DOUBLE)
        |      / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) / 1e8 DESC, dim_idx)
        |    AS var_rank
        |FROM m ORDER BY dim_idx""".stripMargin,


    "emb_triplet_mining" ->
      s"""WITH emb AS (
         |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE))
         |    AS v, label
         |  FROM embeddings),
         |anchors AS (SELECT vec_id AS a_id, v AS av, label AS a_label
         |            FROM emb WHERE vec_id % 29 = 0),
         |scored AS (
         |  SELECT a.a_id, a.a_label, c.vec_id AS c_id, c.label AS c_label,
         |    CAST(floor(${sim.Similarity.cosineSql("a.av", "c.v")} * 1e6 + 0.5)
         |      AS BIGINT) + 2000000 AS simq
         |  FROM emb c CROSS JOIN anchors a WHERE c.vec_id <> a.a_id),
         |agg AS (
         |  SELECT a_id, a_label,
         |    max(CASE WHEN c_label <> a_label
         |        THEN simq * 10000000000 + (9999999999 - c_id) END) AS nk,
         |    min(CASE WHEN c_label = a_label
         |        THEN simq * 10000000000 + c_id END) AS pk
         |  FROM scored GROUP BY 1, 2)
         |SELECT a_id, a_label,
         |  pk % 10000000000 AS pos_id,
         |  CAST(pk // 10000000000 - 2000000 AS DOUBLE) / 1e6 AS pos_sim,
         |  9999999999 - (nk % 10000000000) AS neg_id,
         |  CAST(nk // 10000000000 - 2000000 AS DOUBLE) / 1e6 AS neg_sim,
         |  CAST(pk // 10000000000 - 2000000 AS DOUBLE) / 1e6
         |    - CAST(nk // 10000000000 - 2000000 AS DOUBLE) / 1e6 AS margin
         |FROM agg WHERE nk IS NOT NULL AND pk IS NOT NULL
         |ORDER BY a_id""".stripMargin,


    "emb_centroid_drift" ->
      """WITH ex AS (
        |  SELECT label, vec_id % 2 AS half, CAST(i AS BIGINT) - 1 AS dim,
        |    CAST(floor(CAST(embedding[i] AS DOUBLE) * 1e8 + 0.5) AS BIGINT)
        |      AS q
        |  FROM (SELECT label, vec_id, embedding,
        |          unnest(range(1, len(embedding) + 1)) AS i
        |        FROM embeddings)),
        |cent AS (
        |  SELECT label, half, dim, CAST(sum(q) AS BIGINT) AS sq,
        |    count(*) AS n
        |  FROM ex GROUP BY 1, 2, 3),
        |cq AS (
        |  SELECT label, half, dim, n,
        |    CASE WHEN sq >= 0 THEN sq // n ELSE -((-sq) // n) END AS cq
        |  FROM cent),
        |j AS (
        |  SELECT a.label, a.cq AS c1, b.cq AS c2, a.n AS n1, b.n AS n2
        |  FROM cq a JOIN cq b
        |    ON a.label = b.label AND a.dim = b.dim
        |   AND a.half = 0 AND b.half = 1)
        |SELECT label, max(n1) AS n1, max(n2) AS n2,
        |  CAST(CAST(sum(c1 * c2) AS BIGINT) AS DOUBLE)
        |    / (sqrt(CAST(CAST(sum(c1 * c1) AS BIGINT) AS DOUBLE))
        |       * sqrt(CAST(CAST(sum(c2 * c2) AS BIGINT) AS DOUBLE)))
        |    AS cos_drift
        |FROM j GROUP BY 1 ORDER BY label""".stripMargin,


    "emb_ood_flags" ->
      """WITH ex AS (
        |  SELECT vec_id, label, CAST(i AS BIGINT) - 1 AS dim,
        |    CAST(floor(CAST(embedding[i] AS DOUBLE) * 1e6 + 0.5) AS BIGINT)
        |      AS q
        |  FROM (SELECT label, vec_id, embedding,
        |          unnest(range(1, len(embedding) + 1)) AS i
        |        FROM embeddings)),
        |cent AS (
        |  SELECT label, dim,
        |    CASE WHEN CAST(sum(q) AS BIGINT) >= 0
        |         THEN CAST(sum(q) AS BIGINT) // count(*)
        |         ELSE -((-CAST(sum(q) AS BIGINT)) // count(*)) END AS cq
        |  FROM ex GROUP BY 1, 2),
        |dist AS (
        |  SELECT ex.label, vec_id,
        |    CAST(sum((q - cq) * (q - cq)) AS BIGINT) AS dist2
        |  FROM ex JOIN cent ON ex.label = cent.label AND ex.dim = cent.dim
        |  GROUP BY 1, 2),
        |ranked AS (
        |  SELECT label, dist2,
        |    row_number() OVER (PARTITION BY label ORDER BY dist2, vec_id)
        |      AS rn,
        |    count(*) OVER (PARTITION BY label) AS n
        |  FROM dist),
        |cuts AS (
        |  SELECT label, dist2 AS p99_dist2 FROM ranked
        |  WHERE rn = (n * 99 + 99) // 100)
        |SELECT d.label, count(*) AS n, max(p99_dist2) AS p99_dist2,
        |  CAST(sum(CASE WHEN d.dist2 > c.p99_dist2 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_flagged,
        |  max(d.dist2) AS max_dist2
        |FROM dist d JOIN cuts c ON d.label = c.label
        |GROUP BY 1 ORDER BY d.label""".stripMargin,


    "emb_label_geometry" ->
      """WITH ex AS (
        |  SELECT label, CAST(i AS BIGINT) - 1 AS dim,
        |    CAST(floor(CAST(embedding[i] AS DOUBLE) * 1e6 + 0.5) AS BIGINT)
        |      AS q
        |  FROM (SELECT label, embedding,
        |          unnest(range(1, len(embedding) + 1)) AS i
        |        FROM embeddings)),
        |cent AS (
        |  SELECT label, dim, count(*) AS n,
        |    CASE WHEN CAST(sum(q) AS BIGINT) >= 0
        |         THEN CAST(sum(q) AS BIGINT) // count(*)
        |         ELSE -((-CAST(sum(q) AS BIGINT)) // count(*)) END AS cq
        |  FROM ex GROUP BY 1, 2)
        |SELECT a.label AS label_a, b.label AS label_b,
        |  max(a.n) AS n_a, max(b.n) AS n_b,
        |  CAST(CAST(sum(a.cq * b.cq) AS BIGINT) AS DOUBLE)
        |    / (sqrt(CAST(CAST(sum(a.cq * a.cq) AS BIGINT) AS DOUBLE))
        |       * sqrt(CAST(CAST(sum(b.cq * b.cq) AS BIGINT) AS DOUBLE)))
        |    AS cos_centroid
        |FROM cent a JOIN cent b
        |  ON a.label < b.label AND a.dim = b.dim
        |GROUP BY 1, 2 ORDER BY label_a, label_b""".stripMargin,
  )
}
