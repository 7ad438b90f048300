package graft

import graft.operators._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every entry in [[queries]] is one operator from SURVEY §2 (or a scale
  * extension); entries with a matching [[oracleSql]] are hash-checked against
  * DuckDB on the same parquet tables. Queries without an oracle are
  * non-SQL-expressible (probabilistic LSH structures) and carry ScalaTest
  * recall checks instead.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    InvoicePipeline.query(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // reference parity: the full fiscal-document pipeline (SURVEY §2.2-2.6, §3)
    "q_invoice_pipeline" -> ((s, dir) => InvoicePipeline.query(s, dir)),
    // granular scalar-operator differentials (SURVEY §2.2, §2.5)
    "q_cnpj_validate" -> ((s, dir) => ScalarQueries.cnpjValidate(s, dir)),
    "q_nfe_key_validate" -> ((s, dir) => ScalarQueries.nfeKeyValidate(s, dir)),
    "q_money_validate" -> ((s, dir) => ScalarQueries.moneyValidate(s, dir)),
    "q_normalize" -> ((s, dir) => ScalarQueries.normalize(s, dir)),
    "q_clean_names" -> ((s, dir) => ScalarQueries.cleanNames(s, dir)),
    "q_block_segment" -> ((s, dir) => BlockSegmentation.query(s, dir)),
    // corpus analytics extensions (SURVEY §2.6-2.9 ABSENT-in-reference ops)
    "q_agg_pricing" -> ((s, dir) => Analytics.aggPricing(s, dir)),
    "q_join_revenue" -> ((s, dir) => Analytics.joinRevenue(s, dir)),
    "q_window_topk" -> ((s, dir) => Analytics.windowTopK(s, dir)),
    "q_anti_join" -> ((s, dir) => Analytics.antiJoin(s, dir)),
    "q_semi_join" -> ((s, dir) => Analytics.semiJoin(s, dir)),
    "q_set_ops" -> ((s, dir) => Analytics.setOps(s, dir)),
    "q_rollup" -> ((s, dir) => Analytics.rollup(s, dir)),
    "q_salted_agg" -> ((s, dir) => Analytics.saltedAgg(s, dir)),
    "q_salted_join" -> ((s, dir) => Analytics.saltedJoinAgg(s, dir)),
    "q_percentiles" -> ((s, dir) => Analytics.percentiles(s, dir)),
    "q_stats" -> ((s, dir) => Analytics.stats(s, dir)),
    "q_pivot" -> ((s, dir) => Analytics.pivot(s, dir)),
    "q_cube" -> ((s, dir) => Analytics.cube2(s, dir)),
    // event-time operators (SURVEY §2.10)
    "q_events_hourly" -> ((s, dir) => EventOps.hourlyWindow(s, dir)),
    "q_sessionize" -> ((s, dir) => EventOps.sessionize(s, dir)),
    "q_asof_join" -> ((s, dir) => EventOps.asofJoin(s, dir)),
    "q_range_join" -> ((s, dir) => EventOps.binnedRangeJoin(s, dir)),
    "q_running_totals" -> ((s, dir) => EventOps.runningTotals(s, dir)),
    // CDC compaction: latest version per entity, as a partial-aggregatable
    // max(struct) — map-side combine, no window sort (see EventOps.latestOn)
    "q_latest_by_key" -> ((s, dir) => EventOps.latestByKey(s, dir)),
    // training-data pipeline: text analysis
    "q_langid" -> ((s, dir) => TextAnalysis.langId(s, dir)),
    "q_text_quality" -> ((s, dir) => TextAnalysis.quality(s, dir)),
    "q_quality_classifier" -> ((s, dir) => QualityClassifier.query(s, dir)),
    // OUT-OF-SAMPLE evidence: fit on the md5-fold-0 half, score ONLY the
    // disjoint fold-1 remainder (the r10 in-sample caveat, closed)
    "q_quality_holdout" -> ((s, dir) => QualityClassifier.holdoutQuery(s, dir)),
    // CCNet-style bigram-LM perplexity, self-trained on the corpus
    // (Wenzek et al. 2020): train = relational counts, score = equi-joins
    "q_lm_perplexity" -> ((s, dir) => LanguageModel.perplexity(s, dir)),
    // DSIR importance resampling (Xie 2023): hashed unigram+bigram
    // target-vs-raw model, deterministic Gumbel top-k selection
    "q_dsir_weights" -> ((s, dir) => Dsir.weightsQuery(s, dir)),
    "q_dsir_select" -> ((s, dir) => Dsir.select(s, dir)),
    // Bloom-filter dedup gate (Dolma, Soldaini 2024): fixed-memory
    // membership over md5 bit positions; the false-positive SET is
    // deterministic and part of the checked relation
    "q_bloom_dedup" -> ((s, dir) => BloomDedup.query(s, dir)),
    // the past-broadcast tier: membership by bucketable equi-join against
    // the stored words — same verdicts, same oracle SQL (tier equivalence
    // pinned cross-engine)
    "q_bloom_relational" -> ((s, dir) => BloomDedup.queryRelational(s, dir)),
    // the Long-m tier: filter built DISTRIBUTED (bit_or aggregate, never
    // materialized) at m = 2^33 — past any Int-position build
    "q_bloom_distributed" -> ((s, dir) => BloomDedup.queryDistributed(s, dir)),
    "q_token_count" -> ((s, dir) => TextAnalysis.tokenCount(s, dir)),
    "q_repetition" -> ((s, dir) => TextAnalysis.repetition(s, dir)),
    "q_c4_clean" -> ((s, dir) => TextAnalysis.c4Clean(s, dir)),
    "q_gopher_quality" -> ((s, dir) => TextAnalysis.gopherQuality(s, dir)),
    "q_curation_rules" -> ((s, dir) => Sampling.curationRules(s, dir)),
    // curation v4 variant: rules -> dedup -> DSIR resampling tail
    "q_curation_dsir" -> ((s, dir) => Sampling.curationDsir(s, dir)),
    // hybrid retrieval: RRF fusion of BM25 + dense cosine (Cormack 2009)
    "q_hybrid_rrf" -> ((s, dir) => Search.hybridRrf(s, dir)),
    "q_gopher_repetition" -> ((s, dir) => TextAnalysis.gopherRepetition(s, dir)),
    "q_bm25" -> ((s, dir) => Search.bm25(s, dir)),
    "q_fingerprint" -> ((s, dir) => TextAnalysis.fingerprint(s, dir)),
    "q_winnow" -> ((s, dir) => TextAnalysis.winnow(s, dir)),
    "q_winnow_overlap" -> ((s, dir) => TextAnalysis.winnowOverlap(s, dir)),
    "q_passages" -> ((s, dir) => TextAnalysis.passages(s, dir)),
    // substring-level exact dedup (Lee et al. 2022 ExactSubstr): repeated
    // >=L-codepoint spans across documents, and the keep-one-copy cut
    "q_substring_dup" -> ((s, dir) => ExactSubstr.spans(s, dir)),
    "q_substring_cut" -> ((s, dir) => ExactSubstr.cut(s, dir)),
    "q_binary_meta" -> ((s, dir) => TextAnalysis.binaryMeta(s, dir)),
    // the hashing trick: stateless text → fixed-width sparse features
    "q_hashed_features" -> ((s, dir) => TextAnalysis.hashedFeatures(s, dir)),
    // BPE merge candidates: freq-weighted adjacent-char pair counts
    "q_bpe_pairs" -> ((s, dir) => TextAnalysis.bpePairCounts(s, dir)),
    // the full BPE merge LOOP (k rounds of count→merge-top-pair→recount
    // over the cached vocabulary — corpus scanned once)
    "q_bpe_merges" -> ((s, dir) => TextAnalysis.bpeMerges(s, dir)),
    // the BATCHED merge loop (R provably-independent merges per round
    // pair-of-jobs — the real-vocab-size path) against the SAME
    // sequential k-unrolled oracle: batched ≡ one-at-a-time, engine-checked
    "q_bpe_merges_batched" -> ((s, dir) => TextAnalysis.bpeMergesBatched(s, dir)),
    "q_bpe_merges_local" -> ((s, dir) => TextAnalysis.bpeMergesLocal(s, dir)),
    // the trained tokenizer applied back: per-doc BPE token counts,
    // distinct words segmented once (vocab-factored encode)
    "q_bpe_encode" -> ((s, dir) => TextAnalysis.bpeEncodeCounts(s, dir)),
    // the OTHER tokenizer family (Kudo 2018 unigram LM, hard-EM trained)
    "q_unigram_lm" -> ((s, dir) => UnigramLm.query(s, dir)),
    "q_unigram_encode" -> ((s, dir) => UnigramLm.encodeCounts(s, dir)),
    // training-data pipeline: corpus curation (PII scrub, sampling, packing)
    "q_pii_redact" -> ((s, dir) => Privacy.piiRedact(s, dir)),
    "q_sample_stratified" -> ((s, dir) => Sampling.stratifiedSample(s, dir)),
    "q_pack_sequences" -> ((s, dir) => Packing.packSequences(s, dir)),
    "q_curation_pipeline" -> ((s, dir) => Sampling.curationPipeline(s, dir)),
    // v2: the LEARNED gates composed — dedup -> NB-classifier median gate
    // -> reference-trained LM perplexity band (CCNet head+middle) ->
    // langid -> quota, one declarative plan, scalar broadcast thresholds
    "q_curation_learned" -> ((s, dir) => Sampling.curationLearned(s, dir)),
    // the persisted-model deployment shape: models cross catalog tables,
    // result pinned IDENTICAL to q_curation_learned (same oracle SQL)
    "q_curation_served" -> ((s, dir) => Sampling.curationServed(s, dir)),
    // α=0.5 mixture re-weighting (accept-prob k/√n_lang, md5-uniform coin)
    "q_temperature_sample" -> ((s, dir) => Sampling.temperatureSample(s, dir)),
    // deterministic global shuffle → shard manifest (md5 order, running totals)
    "q_shard_manifest" -> ((s, dir) => Sharding.shardManifest(s, dir)),
    // lock-free manifest-log landing: 3 batches + 1 replayed batch read
    // back exactly-once — the result IS the corpus, which the oracle pins
    "q_manifest_log" -> ((s, dir) => ManifestLog.queryRoundTrip(s, dir)),
    // log compaction (r14): the landing layout lever as a protocol
    // feature — compact, retire originals, then a LATE replay of a
    // superseded batch lands across the compaction boundary; segId-level
    // supersede must keep the corpus exact
    "q_manifest_compact" -> ((s, dir) => ManifestLog.queryCompactRoundTrip(s, dir)),
    // training-data pipeline: dedup
    "q_dedup_exact" -> ((s, dir) => Dedup.exact(s, dir)),
    "q_jaccard_pairs" -> ((s, dir) => Dedup.jaccardPairs(s, dir)),
    "q_minhash_dedup" -> ((s, dir) => Dedup.minhashDedup(s, dir)),
    "q_dup_clusters" -> ((s, dir) => Dedup.dupClusters(s, dir)),
    // hasher="md5" puts the whole simhash pipeline (hash included) under
    // the DuckDB oracle; the xxh64 deployment kernel stays pinned by
    // SimHashDifferentialSpec (identical voting/banding code path)
    "q_simhash_pairs" -> ((s, dir) => Dedup.simhashPairs(s, dir, hasher = "md5")),
    // benchmark decontamination: eval-set containment in training docs
    "q_contamination" -> ((s, dir) => Dedup.contamination(s, dir)),
    // incremental dedup: gate a new batch against the existing corpus
    // (exact fingerprint + best near-dup match + keep/drop verdict)
    "q_dedup_incremental" -> ((s, dir) => Dedup.incrementalDedup(s, dir)),
    // the same computation through the PERSISTENT bucketed shingle index
    // (build once / probe per batch — the 100 TB deployment shape); the
    // oracle is literally q_dedup_incremental's SQL, so the index path is
    // pinned to the recompute path's exact answer
    "q_dedup_indexed" -> ((s, dir) => {
      val d = s.read.parquet(s"$dir/documents.parquet")
      val idxDir = new java.io.File(sys.props("java.io.tmpdir"),
        "graft_q_shindex").getAbsolutePath
      ShingleIndex.build(d.filter(col("doc_id") % 13 =!= 0), idxDir, "q_shindex")
      ShingleIndex.probe(s, "q_shindex", d.filter(col("doc_id") % 13 === 0))
        .drop("shared").orderBy("doc_id")
    }),
    // the APPEND maintenance path under the same oracle: build on part of
    // the corpus, append the rest, probe — must equal incremental dedup on
    // the union (the df cap is inert at oracle scale, so append∘build ≡
    // build; ShingleIndexSpec pins the cap-active semantics separately)
    "q_dedup_index_append" -> ((s, dir) => {
      val d = s.read.parquet(s"$dir/documents.parquet")
      val idxDir = new java.io.File(sys.props("java.io.tmpdir"),
        "graft_q_shindex_app").getAbsolutePath
      val corpus = d.filter(col("doc_id") % 13 =!= 0)
      ShingleIndex.build(corpus.filter(col("doc_id") % 3 =!= 0), idxDir, "q_shindex_app")
      ShingleIndex.append(s, "q_shindex_app", idxDir, corpus.filter(col("doc_id") % 3 === 0))
      ShingleIndex.probe(s, "q_shindex_app", d.filter(col("doc_id") % 13 === 0))
        .drop("shared").orderBy("doc_id")
    }),
    // landing-zone -> index-maintenance composition (r13): three lock-free
    // writers + one replay land the incremental corpus, absorb compacts the
    // committed segments into the bucketed index (twice - the second pass
    // must no-op), retire cleans the log; the probe answers over the
    // composed path and is pinned to the SAME recompute SQL as
    // q_dedup_index_append, so any lost segment or duplicated absorb
    // breaks the hash.
    "q_landing_absorb" -> ((s, dir) => LandingZone.queryAbsorb(s, dir)),
    // the same landing lifecycle for the VECTOR index (r14): writers land
    // embedding batches, absorb assigns them into the persistent IVF
    // index under its lease (second pass must no-op), and the
    // q_ivf_indexed search answers over the composed path; oracle trains
    // Lloyd on the base 2/3 and assigns ALL vectors to that frozen model
    // — exactly what build + assignInto store
    "q_landing_vec_absorb" -> ((s, dir) => LandingZone.queryVecAbsorb(s, dir)),
    // training-data pipeline: similarity search
    // q_cosine_pairs: threshold 0.45 because the RAW synthetic embeddings
    // top out near cos 0.51 — the low-threshold exact baseline.
    "q_cosine_pairs" -> ((s, dir) => Similarity.cosinePairs(s, dir, threshold = 0.45)),
    "q_ann_topk" -> ((s, dir) => Similarity.topK(s, dir)),
    // the high-threshold regime runs on the deterministically AUGMENTED
    // corpus (base ∪ 3 sign-flip near-duplicates per vector, exact floats
    // — see Similarity.augmentedEmb): q_cosine_pairs_hi is the exact
    // quadratic baseline at cos 0.8, q_ann_lsh the SRP-LSH scale path that
    // must beat it (48 bands × 12 planes: recall ≥0.958 at the boundary,
    // random-pair candidate rate ≈1.2%)
    "q_cosine_pairs_hi" -> ((s, dir) =>
      Similarity.cosinePairsOn(Similarity.augmentedEmb(s, dir), threshold = 0.8)),
    // banding PINNED at 48×12 here (the operator default is auto/bandingFor)
    // so the DuckDB oracle can embed the exact plane sign-masks
    "q_ann_lsh" -> ((s, dir) =>
      Similarity.annPairsOn(Similarity.augmentedEmb(s, dir), threshold = 0.8,
        bands = 48, planesPerBand = 12)),
    // nCentroids PINNED at 8 for the oracle family (the operator default is
    // auto: cellsFor(n) = √n, the n-scaled rule) — the SQL oracles unroll
    // Lloyd training for exactly these cells
    "q_ivf_assign" -> ((s, dir) => Similarity.ivfAssign(s, dir, nCentroids = 8)),
    // multi-probe IVF search: the dense/low-threshold ANN tool (probe the
    // 2 nearest of 8 cells, exact-rank within) — fully oracled
    "q_ivf_search" -> ((s, dir) => Similarity.ivfSearch(s, dir, nCentroids = 8)),
    // int8 scalar quantization: the 4×-storage-reduction leg of the
    // similarity stack, exact-int oracle on the quantizer itself
    "q_quantize" -> ((s, dir) => Similarity.quantize(s, dir)),
    // the quantizer WIRED into a search path: IVF candidates scored on
    // int8 codes (scale cancels in cosine → pure integer dots, 4× less
    // vector data through the candidate joins) — fully oracled, since
    // integer scoring has zero ulp hazard
    "q_ivf_search_int8" -> ((s, dir) => Similarity.ivfSearchInt8(s, dir, nCentroids = 8)),
    // inverted multi-index: the two-level quantizer past the flat-IVF
    // broadcast-model cap — k1² product cells from 2·k1 half-width model
    // rows; both queries fully DuckDB-oracled (per-half residue seeds +
    // unrolled Lloyd rounds, additive cell ranking)
    "q_imi_assign" -> ((s, dir) => Imi.assign(s, dir, k1 = 8)),
    "q_imi_search" -> ((s, dir) => Imi.search(s, dir, k1 = 8, nprobe = 4)),
    // the seeded Hadamard-sign rotation ahead of the half-split (the
    // public OPQ idea) — the adversarially-correlated-halves defense;
    // fully oracled: the rotation is bit_count algebra in SQL and the
    // kernel pins the oracle's summation order
    "q_imi_assign_rot" -> ((s, dir) => Imi.assignRot(s, dir, k1 = 8)),
    "q_imi_search_rot" -> ((s, dir) => Imi.searchRot(s, dir, k1 = 8, nprobe = 4)),
    // the streaming embedding gate's batch kernel under the DuckDB gate:
    // index on the full corpus, deterministically-derived arrivals
    // (exact copies + sign-flipped), receipts as the output relation
    "q_vector_gate" -> ((s, dir) => graft.streaming.VectorIngestGate.gateQuery(s, dir)),
    // the PERSISTENT bucketed IVF index (build once / search per batch —
    // the ShingleIndex pattern for ANN); oracle is ivfSearch's literal SQL
    // through the stored bucket-pruned path
    "q_ivf_indexed" -> ((s, dir) => {
      val e = s.read.parquet(s"$dir/embeddings.parquet")
      val idxDir = new java.io.File(sys.props("java.io.tmpdir"),
        "graft_q_ivfindex").getAbsolutePath
      IvfIndex.build(e, idxDir, "q_ivfidx", nCentroids = 8, seed = Similarity.ResidueSeed)
      // nprobe pinned at the oracle's constant (the operator default is
      // the nprobeFor recall-floor rule)
      IvfIndex.search(s, "q_ivfidx", e.filter(col("vec_id") < 50), nprobe = 2)
    }),
    // SemDeDup (Abbas et al. 2023): k-means-localized embedding near-dup
    // verdicts — cluster, then dup iff a lower-id cell-mate has cosine ≥ τ
    "q_semantic_dedup" -> ((s, dir) =>
      Dedup.semanticDedup(s, dir, nCentroids = 8, threshold = 0.45)),
    // the same verdict through the PERSISTENT IvfIndex: the bucketed
    // assignment relation makes the within-cell pair join bucket-local
    // (zero Exchange — SemanticDedupSpec pins the plan); identical oracle
    // SQL pins stored ≡ recompute bit-for-bit
    "q_semdedup_indexed" -> ((s, dir) => {
      val e = s.read.parquet(s"$dir/embeddings.parquet")
      val idxDir = new java.io.File(sys.props("java.io.tmpdir"),
        "graft_q_semdedup").getAbsolutePath
      IvfIndex.build(e, idxDir, "q_semdd", nCentroids = 8, seed = Similarity.ResidueSeed)
      Dedup.semanticDedupIndexed(s, "q_semdd", threshold = 0.45)
    }),
    // semantic dedup with the assignment from the persistent IMI — the
    // past-the-broadcast-cap regime; oracle composes Imi's product-cell
    // assignment CTEs with the shared verdict tail
    "q_semdedup_imi" -> ((s, dir) => {
      val e = s.read.parquet(s"$dir/embeddings.parquet")
      val idxDir = new java.io.File(sys.props("java.io.tmpdir"),
        "graft_q_semdd_imi").getAbsolutePath
      ImiIndex.build(e, idxDir, "q_sddimi", k1 = 8)
      Dedup.semanticDedupImi(s, "q_sddimi", threshold = 0.45)
    }),
    // the stored int8 tier of the same index: candidates scored as exact
    // integer dots over the 64-byte code column (scan never reads the
    // float vectors); oracle is ivfSearchInt8's literal SQL through the
    // stored path
    "q_ivf_indexed_int8" -> ((s, dir) => {
      val e = s.read.parquet(s"$dir/embeddings.parquet")
      val idxDir = new java.io.File(sys.props("java.io.tmpdir"),
        "graft_q_ivfindex8").getAbsolutePath
      IvfIndex.build(e, idxDir, "q_ivfidx8", nCentroids = 8, seed = Similarity.ResidueSeed)
      IvfIndex.searchInt8(s, "q_ivfidx8", e.filter(col("vec_id") < 50), nprobe = 2)
    }),
    // the widening composition: int8-wide candidate cut → exact float
    // re-rank of the survivors only; widen=2 makes the cut BITE at this
    // scale so the oracle pins the two-stage semantics, not a degenerate
    // pass-through
    "q_ivf_rerank" -> ((s, dir) => {
      val e = s.read.parquet(s"$dir/embeddings.parquet")
      val idxDir = new java.io.File(sys.props("java.io.tmpdir"),
        "graft_q_ivfrerank").getAbsolutePath
      IvfIndex.build(e, idxDir, "q_ivfrr", nCentroids = 8, seed = Similarity.ResidueSeed)
      IvfIndex.searchRerank(s, "q_ivfrr", e.filter(col("vec_id") < 50),
        nprobe = 2, widen = 2)
    }),
    // the adaptive per-query probe budget: rank-ordered cell chunks with
    // top-k-stability termination (easy queries stop at one chunk, hard
    // ones buy up to the cap); oracle unrolls the rounds + the stability
    // rule relationally
    "q_ivf_adaptive" -> ((s, dir) => {
      val e = s.read.parquet(s"$dir/embeddings.parquet")
      val idxDir = new java.io.File(sys.props("java.io.tmpdir"),
        "graft_q_ivfadaptive").getAbsolutePath
      IvfIndex.build(e, idxDir, "q_ivfad", nCentroids = 8, seed = Similarity.ResidueSeed)
      IvfIndex.searchAdaptive(s, "q_ivfad", e.filter(col("vec_id") < 50),
        chunk = 2, maxChunks = 3)
    }),
    // the PQ/ADC tier of the stored index: 8-byte codes over the rotated
    // space (4 subspaces × 8 centroids at this scale), candidates scored
    // as ADC table lookups — the scan reads (vec_id, cid, pqcode, nrm)
    // only; oracle unrolls the per-subspace Lloyd codebooks + rotation
    "q_ivf_pq" -> ((s, dir) => {
      val e = s.read.parquet(s"$dir/embeddings.parquet")
      val idxDir = new java.io.File(sys.props("java.io.tmpdir"),
        "graft_q_ivfpq").getAbsolutePath
      IvfIndex.build(e, idxDir, "q_ivfpq", nCentroids = 8, seed = Similarity.ResidueSeed,
        pq = Pq.PqSpec(m = 4, k = 8))
      IvfIndex.searchPq(s, "q_ivfpq", e.filter(col("vec_id") < 50), nprobe = 2)
    }),
    // ADC-wide → exact-float re-rank composition; widen=2 makes the PQ
    // cut BITE so the oracle pins the two-stage semantics end-to-end
    "q_ivf_pq_rerank" -> ((s, dir) => {
      val e = s.read.parquet(s"$dir/embeddings.parquet")
      val idxDir = new java.io.File(sys.props("java.io.tmpdir"),
        "graft_q_ivfpqrr").getAbsolutePath
      IvfIndex.build(e, idxDir, "q_ivfpqrr", nCentroids = 8, seed = Similarity.ResidueSeed,
        pq = Pq.PqSpec(m = 4, k = 8))
      IvfIndex.searchPqRerank(s, "q_ivfpqrr", e.filter(col("vec_id") < 50),
        nprobe = 2, widen = 2)
    }),
    // the RESIDUAL PQ tier (IVFADC-proper, Jégou 2011 §IV): codes
    // quantize rot(x − c_cell), search adds the exact per-(query, cell)
    // coarse dot — same 16 B/candidate scan as q_ivf_pq, far lower
    // reconstruction error; oracle unrolls the residual relation, its
    // rotation, the per-subspace codebooks, and the coarse-term join
    "q_ivf_pq_res" -> ((s, dir) => {
      val e = s.read.parquet(s"$dir/embeddings.parquet")
      val idxDir = new java.io.File(sys.props("java.io.tmpdir"),
        "graft_q_ivfpqres").getAbsolutePath
      IvfIndex.build(e, idxDir, "q_ivfpqres", nCentroids = 8, seed = Similarity.ResidueSeed,
        pq = Pq.PqSpec(m = 4, k = 8, residual = true))
      IvfIndex.searchPq(s, "q_ivfpqres", e.filter(col("vec_id") < 50), nprobe = 2)
    }),
    // residual-ADC wide → exact-float re-rank; widen=2 makes the cut BITE
    "q_ivf_pq_res_rerank" -> ((s, dir) => {
      val e = s.read.parquet(s"$dir/embeddings.parquet")
      val idxDir = new java.io.File(sys.props("java.io.tmpdir"),
        "graft_q_ivfpqresrr").getAbsolutePath
      IvfIndex.build(e, idxDir, "q_ivfpqresrr", nCentroids = 8, seed = Similarity.ResidueSeed,
        pq = Pq.PqSpec(m = 4, k = 8, residual = true))
      IvfIndex.searchPqRerank(s, "q_ivfpqresrr", e.filter(col("vec_id") < 50),
        nprobe = 2, widen = 2)
    }),
    // the PERSISTENT product-cell index (the ImiIndex deployment shape
    // past the flat broadcast cap); oracle is Imi.searchSql's literal SQL
    // through the stored bucket-pruned path
    "q_imi_indexed" -> ((s, dir) => {
      val e = s.read.parquet(s"$dir/embeddings.parquet")
      val idxDir = new java.io.File(sys.props("java.io.tmpdir"),
        "graft_q_imiindex").getAbsolutePath
      ImiIndex.build(e, idxDir, "q_imiidx", k1 = 8)
      ImiIndex.search(s, "q_imiidx", e.filter(col("vec_id") < 50), nprobe = 4)
    }),
    // the ROTATED persistent IMI: build commits the seed with the
    // half-models, search rotates the queries to match — the deployed form
    // of the correlated-halves defense; oracle is searchRotSql through
    // the stored bucket-pruned path
    "q_imi_indexed_rot" -> ((s, dir) => {
      val e = s.read.parquet(s"$dir/embeddings.parquet")
      val idxDir = new java.io.File(sys.props("java.io.tmpdir"),
        "graft_q_imiindexrot").getAbsolutePath
      ImiIndex.build(e, idxDir, "q_imiidxrot", k1 = 8, rotSeed = Imi.RotSeed)
      ImiIndex.search(s, "q_imiidxrot", e.filter(col("vec_id") < 50), nprobe = 4)
    }),
    // multimodal columns: REAL JDK codec decode (ImageIO raster /
    // AudioSystem PCM) over constructed uncompressed BMP/WAV payloads —
    // fully DuckDB-oracled because uncompressed decode is byte algebra;
    // the video leg pins the documented byte-level fallback. Compressed
    // codecs (PNG/JPEG/GIF) keep differential specs in MediaDecodeSpec.
    "q_multimodal" -> ((s, dir) => Multimodal.mediaDecodeQuery(s, dir)),
    // the oracle-able byte-feature leg of the multimodal stack: sizes,
    // magic sniff, header-derived dims, nibble histogram bins, md5 — all
    // columnar (hex/regexp builtins), fully pinned by DuckDB
    "q_media_bytes" -> ((s, dir) => Multimodal.byteFeatureQuery(s, dir))
  )

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = Map(
    "q_invoice_pipeline" -> InvoicePipeline.oracleSql,
    "q_cnpj_validate" -> ScalarQueries.cnpjValidateSql,
    "q_nfe_key_validate" -> ScalarQueries.nfeKeyValidateSql,
    "q_money_validate" -> ScalarQueries.moneyValidateSql,
    "q_normalize" -> ScalarQueries.normalizeSql,
    "q_clean_names" -> ScalarQueries.cleanNamesSql,
    "q_block_segment" -> BlockSegmentation.querySql,
    "q_agg_pricing" -> Analytics.aggPricingSql,
    "q_join_revenue" -> Analytics.joinRevenueSql,
    "q_window_topk" -> Analytics.windowTopKSql,
    "q_anti_join" -> Analytics.antiJoinSql,
    "q_semi_join" -> Analytics.semiJoinSql,
    "q_set_ops" -> Analytics.setOpsSql,
    "q_rollup" -> Analytics.rollupSql,
    "q_salted_agg" -> Analytics.saltedAggSql,
    "q_salted_join" -> Analytics.saltedJoinAggSql,
    "q_percentiles" -> Analytics.percentilesSql,
    "q_stats" -> Analytics.statsSql,
    "q_pivot" -> Analytics.pivotSql,
    "q_cube" -> Analytics.cube2Sql,
    "q_events_hourly" -> EventOps.hourlyWindowSql,
    "q_sessionize" -> EventOps.sessionizeSql,
    "q_asof_join" -> EventOps.asofJoinSql,
    "q_range_join" -> EventOps.binnedRangeJoinSql,
    "q_running_totals" -> EventOps.runningTotalsSql,
    "q_latest_by_key" -> EventOps.latestByKeySql,
    "q_langid" -> TextAnalysis.langIdSql,
    "q_text_quality" -> TextAnalysis.qualitySql,
    "q_quality_classifier" -> QualityClassifier.querySql(),
    "q_lm_perplexity" -> LanguageModel.perplexitySql,
    "q_token_count" -> TextAnalysis.tokenCountSql,
    "q_repetition" -> TextAnalysis.repetitionSql,
    "q_c4_clean" -> TextAnalysis.c4CleanSql,
    "q_gopher_quality" -> TextAnalysis.gopherQualitySql,
    "q_curation_rules" -> Sampling.curationRulesSql(),
    "q_gopher_repetition" -> TextAnalysis.gopherRepetitionSql,
    "q_bm25" -> Search.bm25Sql(),
    "q_fingerprint" -> TextAnalysis.fingerprintSql,
    "q_winnow" -> TextAnalysis.winnowSql,
    "q_winnow_overlap" -> TextAnalysis.winnowOverlapSql(),
    "q_passages" -> TextAnalysis.passagesSql(),
    "q_substring_dup" -> ExactSubstr.spansSql(),
    "q_substring_cut" -> ExactSubstr.cutSql(),
    "q_binary_meta" -> TextAnalysis.binaryMetaSql,
    "q_hashed_features" -> TextAnalysis.hashedFeaturesSql(),
    "q_bpe_pairs" -> TextAnalysis.bpePairCountsSql(),
    // k-unrolled merge rounds (the Lloyd-CTE discipline applied to BPE)
    "q_bpe_merges" -> TextAnalysis.bpeMergesSql(),
    "q_bpe_merges_batched" -> TextAnalysis.bpeMergesSql(),
    "q_bpe_merges_local" -> TextAnalysis.bpeMergesSql(),
    "q_bpe_encode" -> TextAnalysis.bpeEncodeCountsSql(),
    "q_unigram_lm" -> UnigramLm.querySql(),
    "q_unigram_encode" -> UnigramLm.encodeCountsSql(),
    "q_pii_redact" -> Privacy.piiRedactSql,
    "q_sample_stratified" -> Sampling.stratifiedSampleSql(),
    "q_pack_sequences" -> Packing.packSequencesSql(),
    "q_curation_pipeline" -> Sampling.curationPipelineSql(),
    "q_curation_learned" -> Sampling.curationLearnedSql(),
    // stored path pinned to the recompute path's exact SQL (the
    // q_dedup_indexed discipline)
    "q_curation_served" -> Sampling.curationLearnedSql(),
    "q_temperature_sample" -> Sampling.temperatureSampleSql(),
    "q_shard_manifest" -> Sharding.shardManifestSql(),
    "q_manifest_log" -> "SELECT doc_id, text FROM documents ORDER BY doc_id",
    "q_manifest_compact" -> "SELECT doc_id, text FROM documents ORDER BY doc_id",
    "q_dedup_exact" -> Dedup.exactSql,
    "q_jaccard_pairs" -> Dedup.jaccardPairsSql(),
    // minhash LSH at 16×2 bands has empirically-total recall at the 0.5
    // threshold on this corpus; every emitted pair is exact-verified, so
    // the exact-Jaccard SQL is its oracle. NOTE this gate therefore encodes
    // an EMPIRICAL property of the current corpus (recall exactly 1.0) on
    // top of the code contract (precision exactly 1.0): if the test corpus
    // is ever regenerated and banding misses one true pair, this entry —
    // not the operator — is what failed; see the recall assertion in
    // OperatorsSpec for the operator's own contract.
    "q_minhash_dedup" -> Dedup.jaccardPairsSql(),
    "q_dup_clusters" -> Dedup.dupClustersSql(),
    "q_contamination" -> Dedup.contaminationSql(),
    "q_dedup_incremental" -> Dedup.incrementalDedupSql(),
    // identical SQL by design: the indexed path must reproduce the
    // recompute path bit-for-bit
    "q_dedup_indexed" -> Dedup.incrementalDedupSql(),
    "q_dedup_index_append" -> Dedup.incrementalDedupSql(),
    "q_landing_absorb" -> Dedup.incrementalDedupSql(),
    "q_landing_vec_absorb" -> Similarity.ivfLandingAbsorbSql(),
    "q_cosine_pairs" -> Similarity.cosinePairsSql(threshold = 0.45),
    "q_cosine_pairs_hi" -> Similarity.cosinePairsHiSql(threshold = 0.8),
    "q_ann_topk" -> Similarity.topKSql(),
    "q_ivf_assign" -> Similarity.ivfAssignSql(),
    "q_ivf_search" -> Similarity.ivfSearchSql(),
    "q_ivf_search_int8" -> Similarity.ivfSearchInt8Sql(),
    "q_ivf_indexed" -> Similarity.ivfSearchSql(),
    "q_ivf_indexed_int8" -> Similarity.ivfSearchInt8Sql(),
    "q_ivf_rerank" -> Similarity.ivfSearchRerankSql(widen = 2),
    "q_ivf_adaptive" -> Similarity.ivfSearchAdaptiveSql(chunk = 2, maxChunks = 3),
    "q_quality_holdout" -> QualityClassifier.holdoutQuerySql(),
    "q_dsir_weights" -> Dsir.weightsSql(),
    "q_dsir_select" -> Dsir.selectSql(),
    "q_bloom_dedup" -> BloomDedup.querySql(),
    "q_bloom_relational" -> BloomDedup.querySql(),
    "q_bloom_distributed" -> BloomDedup.querySql(m = 1L << 33),
    "q_curation_dsir" -> Sampling.curationDsirSql(),
    "q_hybrid_rrf" -> Search.hybridRrfSql(),
    "q_ivf_pq" -> Pq.ivfSearchPqSql(m = 4, kSub = 8),
    "q_ivf_pq_rerank" -> Pq.ivfSearchPqRerankSql(widen = 2, m = 4, kSub = 8),
    "q_ivf_pq_res" -> Pq.ivfSearchPqResSql(m = 4, kSub = 8),
    "q_ivf_pq_res_rerank" -> Pq.ivfSearchPqResRerankSql(widen = 2, m = 4, kSub = 8),
    "q_imi_indexed" -> Imi.searchSql(k1 = 8, nprobe = 4),
    "q_imi_indexed_rot" -> Imi.searchRotSql(k1 = 8, nprobe = 4),
    "q_imi_assign" -> Imi.assignSql(k1 = 8),
    "q_imi_search" -> Imi.searchSql(k1 = 8, nprobe = 4),
    "q_imi_assign_rot" -> Imi.assignRotSql(k1 = 8),
    "q_imi_search_rot" -> Imi.searchRotSql(k1 = 8, nprobe = 4),
    "q_vector_gate" -> graft.streaming.VectorIngestGate.gateQuerySql(),
    "q_semantic_dedup" -> Dedup.semanticDedupSql(nCentroids = 8, threshold = 0.45),
    // identical SQL by design: the indexed path must reproduce the
    // recompute path bit-for-bit
    "q_semdedup_indexed" -> Dedup.semanticDedupSql(nCentroids = 8, threshold = 0.45),
    "q_semdedup_imi" -> Dedup.semanticDedupImiSql(k1 = 8, threshold = 0.45),
    "q_quantize" -> Similarity.quantizeSql(),
    // q_ann_lsh IS oracle-able: the SRP planes are deterministic ±1 sign
    // masks, embedded in the SQL as one BIGINT per plane (band/bits
    // grouping mirrors the engine's injective bucket mix)
    "q_ann_lsh" -> Similarity.annPairsSql(threshold = 0.8, bands = 48, planesPerBand = 12),
    "q_media_bytes" -> Multimodal.byteFeatureSql,
    // the full simhash pipeline under the oracle: MD5 is the one 64-bit
    // hash both engines compute identically, so the query variant pins
    // hash + voting + banding + Hamming end-to-end in DuckDB; the xxh64
    // deployment kernel shares every line but the hash call and keeps its
    // independent differential oracle (SimHashDifferentialSpec)
    "q_simhash_pairs" -> Dedup.simhashPairsSql(),
    // q_multimodal: REAL codec decode under a total oracle — the
    // constructed BMP/WAV payloads are uncompressed, so the decoded
    // raster/PCM stats are exactly the source block's byte algebra (if
    // the JDK decode misbehaved or fell back, dims+histogram mismatch)
    "q_multimodal" -> Multimodal.mediaDecodeSql
  )
}
