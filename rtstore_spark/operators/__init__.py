"""Beyond-parity operators for large-scale training-data pipelines.

Generic DataFrame transforms (no testdata coupling):
- ``dedup``      — exact, minhash+LSH, simhash, jaccard verification,
                   cross-shard incremental near-dup vs stored signatures,
                   semantic dedup over clustered embeddings (SemDeDup),
                   paragraph-granular exact dedup with reconstruction
- ``similarity`` — brute-force cosine top-k, hyperplane-LSH + IVF ANN,
                   product quantization (PQ/IVF-PQ: sampled codebook fit,
                   Arrow-batched encode, one-job batch ADC search over a
                   query table),
                   learned k-means routing, distributed PCA
                   (moments-merge fit, codegen transform),
                   reciprocal-rank fusion of ranked lists,
                   banded-LSH approximate kNN self-join (graph builder)
- ``text``       — unicode/whitespace normalization, language/script ID,
                   quality features, Gopher rule gate, token counts,
                   PII metrics/scrub, intra- and cross-doc repetition,
                   chunking, tf-idf keywords, hashed-TF-IDF content clustering,
                   blocklist term filtering (C4-style)
- ``retrieval``  — persisted BM25 inverted index (bucket-partitioned
                   postings, generation-pointer rebuilds, increment-append
                   incremental + streaming maintenance) + one-job batch
                   search with two-phase top-k and static bucket
                   pruning (decontamination-search shape); the one BM25
                   scorer, with an index-free front (``bm25_batch_topk``)
- ``quality_classifier`` — trainable fastText-style quality classifier
                   (Spark ML tokenize → n-gram TF-IDF → logistic
                   regression) with threshold and Pareto keep policies
- ``multimodal`` — binary media columns: schema, batching, stubbed decode
- ``sampling``   — deterministic stratified sampling, token-budget
                   domain-mixture sampling + per-domain mixture stats,
                   n-gram contamination, DSIR importance resampling
                   (hashed n-gram weights + deterministic Gumbel top-k)
- ``web``        — crawl-corpus front door: boilerplate-removing HTML →
                   text extraction (link-density block filter), URL
                   canonicalization + registrable-domain keys, salted
                   per-domain frequency caps
- ``skew``       — hot-key broadcast-routed joins
- ``sketches``   — mergeable rollup sketches: HLL distinct counts,
                   bounded-error top-k heavy hitters, histogram
                   quantiles, count-min point frequencies, Bloom
                   set-membership filters (cross-shard seen-gate)
- ``lm``         — pruned interpolated bigram LM: perplexity scoring and
                   filtering (CCNet-style quality signal)
- ``tokenizer``  — learned BPE subword vocabulary: one-shuffle distributed
                   fit over word counts, Arrow-batched encode
- ``pipeline``   — end-to-end corpus preparation composition (+ per-stage
                   yield audit via CollectMetrics observations) +
                   training-shard export + fixed-budget sequence packing
"""
