"""Benchmark harness: runs the engine's headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS]
and prints ONE JSON line:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Headline set = the reference-core pipeline (strip + sorted write — the whole
point of the reference tool) plus one representative of each engine family:
scan-agg, window pairing, exact+fuzzy dedup, similarity search, text
analysis. Each query runs twice and reports the best run (standard warm
convention: at the 100 TB design point codegen/JIT compilation amortizes to
zero, so cold-start compile time at sf0.1 would only measure the JVM);
timings are end-to-end (plan + execute + collect/write).

Known measurement behavior (named in round 8): queries whose plans
generate unusually LARGE whole-stage-codegen functions (span_removal,
semdedup, minhash_lsh — HOF lambdas over arrays, wide hash exprs) show a
1.5-3x first-execution-vs-warm spread (codegen compile + JIT). The
interleaved sweeps (r6+) re-pay part of that warmup each sweep because
~40 other plans churn the JVM code cache in between, so their recorded
minima sit BETWEEN cold and warm and wander round-to-round with ambient
churn (measured 2026-08-15: semdedup 7.0 -> 4.6 -> 2.2 -> 2.0 s back-to-
back in one session; span_removal 2.2 -> 1.5 -> 1.4 s). Cross-round
deltas on exactly these entries are measurement, not plan regressions,
unless their implementation actually changed.

Round-11 floor re-pin: BENCH_r10's semdedup warm floor (4.31 s) was
ambient load, not a plan change — that artifact's own metadata records
loadavg 10.2 at sweep start. Two round-11 runs started at loadavg
0.4-1.2 measured floors of 2.69 and 2.22 s (r9 level, unchanged plan),
and the 48-query r9-common subset min summed 71.0 s vs r9's 72.0 —
like-for-like flat. ks_drift 1.46 s after its two-level CDF rework
(extra shard-totals job at toy scale, the logreg_train trade).

Round-12 idle protocol (two runs starting at loadavg 2.2 / 4.3,
2026-08-17, min of 2): r1_subset 13.93 s (vs BENCH_r01's 15.01),
r10-common subset 92.9 s (vs BENCH_r11's 101.8 at loadavg 9.6 —
the r11 gap was ambient, as predicted), r9-common 78.7 s. The
pagerank floor REVERTED to 3.78 s (r11's 4.10 was ambient — closing
that watch item; r9-r10 floor was 3.37, residual delta within the
large-codegen wander above). ks_drift 1.60 s. New entries:
line_dedup 2.09, mkn_perplexity 2.53 (between its add-1 and KN
siblings), anneal_mix 1.82; the doremi-path regrades (two-level
partitioned rank) left doremi_weights/logreg_train at r11 levels
(2.69 / 4.71).

Round-12 OPTIMIZATION floors (same-box idle pair, 2026-08-18,
plans/r12/BENCH_idle_session4_{start,end}.json — this box runs ~25%
slower than the 08-17 one, so compare within the pair only): total
97.89 -> 81.00 s across the optimization commits (featurize hash-once,
driver-held logreg weights, LM stitch-back removal, chained-Generate
pair expansion, Arrow-batch driver-local frames); r1 subset
15.07 -> 12.72 s. Per-entry attribution in OPTIMIZATION_r12.md.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    import pyspark.sql.functions as F

    from cassandra_ttl_remover_spark import (
        annotate_events,
        get_spark,
        scan_table,
        strip_ttl,
        write_sorted,
    )
    from cassandra_ttl_remover_spark.operators import curate, dedup, similarity, text

    spark = get_spark("ctrs-bench")
    spark.range(1).count()  # session warm-up (JVM + context), not query warm-up

    events = scan_table(spark, sf_dir, "events")
    lineitem = scan_table(spark, sf_dir, "lineitem")
    documents = scan_table(spark, sf_dir, "documents")
    embeddings = scan_table(spark, sf_dir, "embeddings")
    out_dir = Path(tempfile.gettempdir()) / "ctrs_bench_out"

    def q_strip_write():
        # the reference's entire job: scan -> strip -> sorted partitioned write
        shutil.rmtree(out_dir, ignore_errors=True)
        stripped = strip_ttl(annotate_events(events))
        write_sorted(stripped, str(out_dir), pk="user_id",
                     clustering=["ts", "event_id"], num_files=32)

    def q_pricing():
        dec = "cast(sum(cast({c} as decimal(18,2))) as double)"
        (
            lineitem.groupBy("l_returnflag", "l_linestatus")
            .agg(
                F.expr(dec.format(c="l_quantity")).alias("sum_qty"),
                F.expr(dec.format(c="l_extendedprice")).alias("sum_base"),
                F.count("*").alias("n"),
            )
            .collect()
        )

    def q_window_pairing():
        from cassandra_ttl_remover_spark.operators.tombstones import pair_range_markers
        ev = events.withColumn("ts_us", F.expr("unix_micros(cast(ts as timestamp))"))
        pair_range_markers(ev, pk="user_id", kind_col="event_type",
                           open_kind="view", close_kind="click",
                           order_cols=("ts_us", "event_id")).count()

    def q_broadcast_join():
        orders = scan_table(spark, sf_dir, "orders")
        customer = scan_table(spark, sf_dir, "customer")
        (
            orders.join(F.broadcast(customer),
                        orders["o_custkey"] == customer["c_custkey"])
            .groupBy("c_mktsegment")
            .agg(F.count("*").alias("n"), F.sum("o_totalprice").alias("s"))
            .collect()
        )

    def q_shuffle_join():
        orders = scan_table(spark, sf_dir, "orders")
        (
            lineitem.join(orders, lineitem["l_orderkey"] == orders["o_orderkey"])
            .groupBy("o_orderpriority")
            .agg(F.count("*").alias("n"), F.sum("l_extendedprice").alias("s"))
            .collect()
        )

    def q_exact_dedup():
        dedup.exact_dedup(documents).count()

    def q_minhash_lsh():
        dedup.minhash_lsh_pairs(documents, num_hashes=64, bands=16,
                                threshold=0.5).count()

    def q_simhash_neardup():
        dedup.simhash_neardup_pairs(documents, max_hamming=3, banded=True).count()

    def q_topk_similarity():
        similarity.topk_dot(embeddings, query_id=0, k=10).collect()

    def q_text_quality():
        text.quality_score(documents).agg(F.avg("quality")).collect()

    def q_curate_pipeline():
        curate.curate_corpus(spark, documents).count()

    def q_curate_pipeline_lsh():
        # the 100 TB candidate-generator path (MinHash-LSH fuzzy stage)
        curate.curate_corpus(spark, documents, use_lsh=True).count()

    def q_decontaminate():
        bench_docs = documents.filter(F.col("doc_id") % 50 == 0)
        curate.decontaminate(documents, bench_docs).filter("NOT is_clean").count()

    def q_mix_sample():
        curate.mix_decisions(
            documents, {"src0": 1.0, "src1": 0.5, "src2": 0.25}, default_rate=0.1
        ).filter("is_sampled").count()

    def q_chunk_sliding():
        # zero-shuffle long-context chunking over the full corpus
        text.chunk_sliding(documents, window=64, stride=48).count()

    def q_dedup_vs_corpus():
        # incremental ingest: odd-id batch vs even-id immutable corpus
        corpus = documents.filter(F.col("doc_id") % 2 == 0)
        batch = documents.filter(F.col("doc_id") % 2 != 0)
        dedup.dedup_against_corpus(batch, corpus, max_hamming=3).count()

    def q_embedding_norms():
        # zero-shuffle exact quantized L2 norms over the embedding table.
        # NB: .count() would prune the unevaluated norm projection (a null
        # measurement — see perf notes); aggregating over the computed
        # column forces every row's ssq to actually be evaluated.
        from cassandra_ttl_remover_spark.operators import similarity as sim
        sim.embedding_norms(embeddings).agg(F.sum("ssq")).collect()

    def q_containment():
        # asymmetric subsumption pairs on the shared inverted-index core
        dedup.containment_pairs(documents, threshold=0.5, max_df=1000).count()

    def q_semdedup():
        # cluster-bounded semantic dedup: centroid assignment bounds the
        # cosine self-join to within-cluster pairs
        similarity.semdedup(embeddings, threshold=0.9).filter("NOT keep").count()

    def q_pagerank():
        # 2-iteration integer PageRank on the customer<->supplier graph:
        # per iteration one edges x ranks join + one combinable sum
        from cassandra_ttl_remover_spark.operators.graph import pagerank
        orders = scan_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
        li = lineitem.select("l_orderkey", "l_suppkey")
        cs = (
            orders.join(li, F.col("o_orderkey") == F.col("l_orderkey"))
            .select((F.col("o_custkey") * 2).alias("c"),
                    (F.col("l_suppkey") * 2 + 1).alias("s"))
            .distinct()
        )
        edges = cs.select(
            F.explode(F.expr("array(struct(c as src, s as dst),"
                             " struct(s as src, c as dst))")).alias("e")
        ).select("e.src", "e.dst")
        pagerank(edges, iters=2).agg(F.sum("rank")).collect()

    def q_det_shuffle():
        # seeded reproducible training order: one exchange, no global sort
        curate.shuffle_deterministic(documents, n_shards=32, seed=7) \
            .agg(F.max("pos")).collect()

    bucketed_ready = []

    def q_bucketed_join():
        # co-located join: the exchange is pre-paid ONCE at write time
        # (first sample; amortized across every later join — the whole
        # point of the layout), so best-of-3 measures the repeated
        # shuffle-free join itself
        from cassandra_ttl_remover_spark.sinks.writer import write_bucketed
        if not bucketed_ready:
            broot = Path(tempfile.gettempdir()) / "ctrs_bench_bucketed"
            shutil.rmtree(broot, ignore_errors=True)
            li = lineitem.select("l_orderkey", "l_quantity")
            od = scan_table(spark, sf_dir, "orders").select(
                "o_orderkey", "o_orderpriority")
            write_bucketed(li, "bench_b_li", "l_orderkey", num_buckets=32,
                           path=str(broot / "li"))
            write_bucketed(od, "bench_b_od", "o_orderkey", num_buckets=32,
                           path=str(broot / "od"))
            bucketed_ready.append(True)
        (
            spark.table("bench_b_li").hint("merge")
            .join(spark.table("bench_b_od").hint("merge"),
                  F.col("l_orderkey") == F.col("o_orderkey"))
            .groupBy("o_orderpriority").count().collect()
        )

    sstable_src: list[str] = []

    def q_sstable_e2e():
        # the reference's ENTIRE job on its NATIVE format, distributed:
        # parallel binary scan -> TTL strip -> range-sharded binary write.
        # The reference does exactly this single-threaded and sequential
        # per SSTable (Cassandra3TTLRemover.java:103-142), so this is the
        # one directly baseline-anchored number. Fixture generation is the
        # input corpus, not the job — built once outside the timing.
        from cassandra_ttl_remover_spark.sources import sstable as ss
        if not sstable_src:
            src = str(Path(tempfile.gettempdir()) / "ctrs_bench_sst_src")
            shutil.rmtree(src, ignore_errors=True)
            ss.events_sstable_fixture(spark, sf_dir, src)
            sstable_src.append(src)
        dst = tempfile.mkdtemp(prefix="ctrs_bench_sst_out")
        stripped = ss.strip_ttl_cells(
            ss.scan_sstable(spark, sstable_src[0], num_splits=32))
        ss.write_sstable_distributed(stripped, dst, shards=8)
        shutil.rmtree(dst, ignore_errors=True)

    merge_src: list[str] = []

    def _ensure_merge_fixture() -> str:
        # fixture = input corpus, not the job: built once, shared by the
        # merge and scrub entries, never runs a query itself
        from cassandra_ttl_remover_spark.sources import sstable as ss
        if not merge_src:
            src = str(Path(tempfile.gettempdir()) / "ctrs_bench_sst_merge")
            shutil.rmtree(src, ignore_errors=True)
            ss.events_sstable_fixture_v2(spark, sf_dir, f"{src}/gen1",
                                         with_partition_deletes=True)
            ss.events_sstable_update_fixture_v2(spark, sf_dir,
                                                f"{src}/gen2")
            ss.events_sstable_delete_fixture_v2(spark, sf_dir,
                                                f"{src}/gen3")
            merge_src.append(src)
        return merge_src[0]

    def q_sstable_merge():
        # zero-shuffle k-way compaction over the FULL atom surface
        # (counters, range tombstones, partition deletes across three
        # generations): index-planned key-range tasks merge locally,
        # no cell bytes cross the network.
        from cassandra_ttl_remover_spark.sources import sstable as ss
        src = _ensure_merge_fixture()
        ss.merge_compact_sorted(
            spark, src, gc_grace_us=10 * 86400 * 1_000_000,
            now_us=1706745600 * 1_000_000, num_splits=32,
        ).groupBy("status").count().collect()

    def q_sstable_scrub():
        # fleet deep scrub: per-table sidecar verdicts + full decode
        # cross-checks (CRC, TOC, index/data set equality, bloom, stats)
        from cassandra_ttl_remover_spark.sources import sstable as ss
        ss.scrub_tables(spark, _ensure_merge_fixture(),
                        deep=True).collect()

    def q_tar_ingest():
        # bulk-drop tar ingestion: pack documents into ustar archives,
        # then the header-checksum-verified walk back out
        from cassandra_ttl_remover_spark.sources.archives import (
            documents_as_tar, tar_entries)
        tar_entries(documents_as_tar(documents)).agg(
            F.count("*"), F.sum("payload_sum")).collect()

    def q_pq_ann():
        # PQ train (one Lloyd pass) + zero-shuffle IP-ADC scan + exact
        # rerank — the full memory-bound ANN pipeline per query
        from cassandra_ttl_remover_spark.operators.similarity import pq_topk
        pq_topk(embeddings, 0, k=10, m=4, k_codes=16, rerank=8).collect()

    def q_ks_drift():
        # exact-integer two-sample KS over spend cents: one scan pass,
        # one ordered window over the distinct-value aggregate
        from cassandra_ttl_remover_spark.operators.audit import ks_drift
        ev = events.withColumn(
            "vcents", F.expr("cast(round(value * 100) as bigint)"))
        ks_drift(ev.filter("event_type = 'view'"),
                 ev.filter("event_type = 'click'"), "vcents").collect()

    def q_ngram_novelty():
        # distinct-shingle membership join: odd-id batch vs even-id corpus
        from cassandra_ttl_remover_spark.operators.dedup import ngram_novelty
        corpus = documents.filter(F.col("doc_id") % 2 == 0)
        batch = documents.filter(F.col("doc_id") % 2 != 0)
        ngram_novelty(batch, corpus).agg(F.sum("n_novel")).collect()

    def q_png_decode():
        # full compressed-codec round trip at the Arrow boundary: encode
        # (filters + DEFLATE) then decode (CRC walk, inflate, unfilter)
        # for every document — the per-blob Python cost the multimodal
        # plumbing is designed to amortize
        from cassandra_ttl_remover_spark.operators.multimodal import (
            documents_as_png,
            png_decode_features,
        )
        png_decode_features(documents_as_png(documents, width=32)) \
            .agg(F.sum("sum_px")).collect()

    def q_bpe_train():
        # 3-round distributed vocabulary induction: one corpus collapse
        # + per-round pair count and argmax
        text.bpe_train(documents, n_merges=3).collect()

    def q_kcore():
        # 2-round k-core peel on the trade graph: degree count + two
        # semi-joins per round
        from cassandra_ttl_remover_spark.operators.graph import kcore
        orders = scan_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
        li = lineitem.select("l_orderkey", "l_suppkey")
        cs = (
            orders.join(li, F.col("o_orderkey") == F.col("l_orderkey"))
            .select((F.col("o_custkey") * 2).alias("c"),
                    (F.col("l_suppkey") * 2 + 1).alias("s"))
            .distinct()
        )
        edges = cs.select(
            F.explode(F.expr("array(struct(c as src, s as dst),"
                             " struct(s as src, c as dst))")).alias("e")
        ).select("e.src", "e.dst")
        kcore(edges, k=12, rounds=2).agg(F.sum("degree")).collect()

    def q_tpch_q3():
        import __spark_entry__ as entry_mod
        from cassandra_ttl_remover_spark import load_tables
        load_tables(spark, sf_dir, ["customer", "orders", "lineitem"])
        spark.sql(entry_mod.SHARED_SQL_Q3).collect()

    def q_tpch_q5():
        import __spark_entry__ as entry_mod
        from cassandra_ttl_remover_spark import load_tables
        load_tables(spark, sf_dir,
                    ["customer", "orders", "lineitem", "supplier", "nation", "region"])
        spark.sql(entry_mod.SHARED_SQL_Q5).collect()

    def q_entity_resolution():
        # blocking + Jaccard + closure end-to-end over documents
        from cassandra_ttl_remover_spark.operators.er import resolve_entities
        resolve_entities(documents, threshold=(1, 2)).filter(
            "NOT is_canon").count()

    def q_jpeg_decode():
        # entropy-coded transform decode: Huffman + bitstream + IDCT
        from cassandra_ttl_remover_spark.operators.multimodal import (
            documents_as_jpeg, jpeg_decode_features)
        jpeg_decode_features(documents_as_jpeg(documents, width=64)).agg(
            F.sum("sum_px")).collect()

    def q_scd2():
        # Type-2 SCD from events: two windows over one key exchange
        from cassandra_ttl_remover_spark.operators.sessions import scd2_build
        scd2_build(events).filter("is_current").count()

    def q_warc_gz():
        # crawl-container ingestion end-to-end: pack -> gzip members ->
        # split -> strict WARC parse
        from cassandra_ttl_remover_spark.sources.archives import (
            documents_as_warc_gz, warc_gz_records)
        warc_gz_records(
            documents_as_warc_gz(documents, records_per_file=50)
        ).agg(F.sum("payload_sum")).collect()

    def q_compact_gc():
        # LWW + tombstone gc_grace purge: one arg-max exchange
        from cassandra_ttl_remover_spark.operators.compact import (
            compact_with_gc)
        cells = events.select(
            "user_id", F.expr("pmod(event_id, 200)").alias("cell"),
            F.expr("unix_micros(cast(ts as timestamp))").alias("writetime"),
            (F.col("event_type") == "error").alias("is_tombstone"))
        compact_with_gc(cells, ["user_id", "cell"],
                        gc_grace_us=10 * 86400 * 1_000_000,
                        now_us=1706745600 * 1_000_000).count()

    def q_winnow():
        # MOSS winnowing: per-row HOF argmin windows, zero shuffle
        from cassandra_ttl_remover_spark.operators import text as text_ops
        text_ops.winnow_fingerprints(documents, window=4).agg(
            F.sum("n_selected")).collect()

    def q_span_removal():
        # substring-dedup rewrite: span pass + coverage-set HOF filter
        from cassandra_ttl_remover_spark.operators import dedup as dedup_ops
        dedup_ops.remove_duplicate_spans(documents, n=8, min_docs=2).agg(
            F.sum("n_removed")).collect()

    def q_pmi():
        # collocations: two explode-aggs + vocab joins + TakeOrdered
        from cassandra_ttl_remover_spark.operators import text as text_ops
        text_ops.pmi_bigrams(documents, k=50, min_count=5).collect()

    def q_int8_quant():
        # per-dim int8 quantization report: two map-side-combined d-row
        # aggs + a broadcast join; the n*d element frame never shuffles
        from cassandra_ttl_remover_spark.operators.similarity import (
            int8_quantization_report)
        int8_quantization_report(embeddings).collect()

    def q_dsir():
        # DSIR importance scores: two histogram aggs (checkpointed dim),
        # broadcast dictionary, one doc-id shuffle
        curate.dsir_importance(
            documents, documents.filter("source IN ('src0', 'src1')")
        ).collect()

    def q_gopher():
        # Gopher rule battery: zero-shuffle HOF projection
        text.gopher_rules(documents, min_words=10).collect()

    def q_bm25():
        # ranked retrieval: zero-shuffle tf/dl projection + broadcast
        # stats + TakeOrdered top-k (one corpus scan per query)
        text.bm25_topk(documents, ["scan", "merge", "vector"], k=25).collect()

    def q_text_knn():
        # text-native cosine top-k over hashed tf-idf: one featurize
        # (checkpointed), broadcast query vector, TakeOrdered
        from cassandra_ttl_remover_spark.operators import classify
        classify.text_knn(documents, 0, k=20, dim=1024).collect()

    def q_logreg_train():
        # classifier training: 2 quantized GD steps, broadcast weights,
        # featurize-once localCheckpoint — then exact AUC on the margin
        from cassandra_ttl_remover_spark.operators import classify
        classify.logreg_auc(documents, "lang = 'en'", dim=64,
                            iters=2).collect()

    def q_lm_perplexity():
        # CCNet bigram-LM fluency scores: one training featurize into a
        # checkpointed pair histogram, derived broadcast context
        # marginal, int-pair join + doc-id reduce over the corpus
        curate.lm_perplexity(documents, "lang = 'en'").collect()

    def q_sbo_perplexity():
        # trigram stupid-backoff LM: one trigram featurize into the
        # checkpointed histogram, all four backoff marginals derived
        # from it, 5-way lookup join + doc-id reduce
        curate.sbo_perplexity(documents, "lang = 'en'").collect()

    def q_doremi_weights():
        # DoReMi mixture weights: one corpus featurize into per-domain
        # bigram histograms (the q_n73 matrix), then a bounded
        # <= |domains|^2 driver iteration — prices the whole
        # matrix-plus-optimizer path
        curate.doremi_weights(documents, domain_col="lang").collect()

    def q_tokenizer_fertility():
        # per-domain tokenizer cost card: bpe_segment's zero-shuffle
        # merge-chain projection + ONE map-side agg keyed by domain
        from cassandra_ttl_remover_spark.operators import text as _text
        _text.tokenizer_fertility(documents, domain_col="lang").collect()

    def q_kn_perplexity():
        # Kneser-Ney fluency: one training featurize, continuation
        # marginals derived from the checkpointed histogram, capped
        # integer inverse-prob join + doc-id reduce
        curate.kn_perplexity(documents, "lang = 'en'").collect()

    def q_mkn_perplexity():
        # modified KN: kn's plan + one count-of-counts 1-row broadcast
        curate.mkn_perplexity(documents, "lang = 'en'").collect()

    def q_anneal_mix():
        # two-phase schedule: one count agg + one shared partitioned
        # two-level rank + broadcast target join + map-side audit agg
        curate.anneal_mix(documents, [
            ("p1_warmup",
             {"de": 140, "en": 390, "es": 160, "fr": 160, "zh": 150}, 600),
            ("p2_anneal",
             {"de": 30, "en": 850, "es": 40, "fr": 45, "zh": 35}, 500),
        ], domain_col="lang").collect()

    def q_line_dedup():
        # C4 line-dedup: in-row block lines, (id, pos, md5) census +
        # keep-first join, HOF rebuild — text never shuffles
        from cassandra_ttl_remover_spark.operators import dedup as dedup_ops
        dedup_ops.line_dedup(documents).agg(
            F.sum("n_removed")).collect()

    def q_model_curate():
        # the composed model-based pipeline: gopher -> train -> exact
        # broadcast margin gate -> temperature mix -> exact dedup, one
        # lazy plan (thresholds stay frames; no corpus driver round-trip)
        from cassandra_ttl_remover_spark.operators import classify
        classify.model_curate_corpus(
            documents, min_words=25, min_stop_hits=0).collect()

    queries = {
        "strip_write": q_strip_write,
        "pricing_rollup": q_pricing,
        "window_pairing": q_window_pairing,
        "broadcast_join": q_broadcast_join,
        "shuffle_join": q_shuffle_join,
        "exact_dedup": q_exact_dedup,
        "minhash_lsh": q_minhash_lsh,
        "simhash_neardup": q_simhash_neardup,
        "topk_similarity": q_topk_similarity,
        "text_quality": q_text_quality,
        "curate_pipeline": q_curate_pipeline,
        "curate_pipeline_lsh": q_curate_pipeline_lsh,
        "decontaminate": q_decontaminate,
        "mix_sample": q_mix_sample,
        "chunk_sliding": q_chunk_sliding,
        "dedup_vs_corpus": q_dedup_vs_corpus,
        "embedding_norms": q_embedding_norms,
        "containment": q_containment,
        "semdedup": q_semdedup,
        "pagerank": q_pagerank,
        "det_shuffle": q_det_shuffle,
        "bucketed_join": q_bucketed_join,
        "sstable_e2e": q_sstable_e2e,
        "pq_ann": q_pq_ann,
        "ks_drift": q_ks_drift,
        "ngram_novelty": q_ngram_novelty,
        "png_decode": q_png_decode,
        "bpe_train": q_bpe_train,
        "kcore": q_kcore,
        "entity_resolution": q_entity_resolution,
        "jpeg_decode": q_jpeg_decode,
        "scd2": q_scd2,
        "pmi_bigrams": q_pmi,
        "int8_quantize": q_int8_quant,
        "warc_gz_ingest": q_warc_gz,
        "compact_gc": q_compact_gc,
        "winnowing": q_winnow,
        "span_removal": q_span_removal,
        "tpch_q3": q_tpch_q3,
        "tpch_q5": q_tpch_q5,
        "dsir_importance": q_dsir,
        "gopher_rules": q_gopher,
        "sstable_merge_compact": q_sstable_merge,
        "sstable_scrub_deep": q_sstable_scrub,
        "tar_ingest": q_tar_ingest,
        "bm25_topk": q_bm25,
        "text_knn": q_text_knn,
        "logreg_train": q_logreg_train,
        "lm_perplexity": q_lm_perplexity,
        "sbo_perplexity": q_sbo_perplexity,
        "model_curate": q_model_curate,
        "doremi_weights": q_doremi_weights,
        "tokenizer_fertility": q_tokenizer_fertility,
        "kn_perplexity": q_kn_perplexity,
        "mkn_perplexity": q_mkn_perplexity,
        "anneal_mix": q_anneal_mix,
        "line_dedup": q_line_dedup,
    }

    # best-of-3 across INTERLEAVED sweeps: this box shows ±50% wall-clock
    # noise under ambient load, and a load spike is a contiguous time slice
    # — running each query's three samples back-to-back lets one spike
    # poison all three, whereas full-suite sweeps space a query's samples
    # across the whole run so the per-query MIN is a stable estimate of
    # the true warm cost. loadavg before/after is recorded so a
    # loaded-box artifact is self-identifying.
    load_before = os.getloadavg()
    best: dict[str, float] = {n: float("inf") for n in queries}
    for _sweep in range(3):
        for name, fn in queries.items():
            t0 = time.perf_counter()
            fn()
            best[name] = min(best[name], time.perf_counter() - t0)
    timings = {n: round(v, 3) for n, v in best.items()}

    # WARM FLOORS for the large-codegen entries: their interleaved minima
    # sit between cold and warm because ~40 other plans churn the JVM
    # code cache between a query's samples (module docstring; measured
    # r3-r8 semdedup history 2.2/3.5/4.7/3.3/2.6/3.7 s with an unchanged
    # plan). Two extra BACK-TO-BACK runs per entry at the end of the
    # sweeps measure the true warm cost; reported alongside the sweep
    # min so a cross-round delta on these entries is attributable to
    # the plan only when the FLOOR moves, not when the churn does.
    warm_floor_queries = ("semdedup", "span_removal", "minhash_lsh",
                          "pagerank", "kcore", "curate_pipeline")
    warm_floors: dict[str, float] = {}
    for name in warm_floor_queries:
        floor = best[name]
        for _ in range(2):
            t0 = time.perf_counter()
            queries[name]()
            floor = min(floor, time.perf_counter() - t0)
        warm_floors[name] = round(floor, 3)
    load_after = os.getloadavg()

    shutil.rmtree(out_dir, ignore_errors=True)
    total = round(sum(timings.values()), 3)
    # the round-1 suite was these 11 queries; the suite has since grown, so
    # surface the like-for-like subtotal alongside the full-suite total
    r1_set = (
        "strip_write pricing_rollup window_pairing broadcast_join "
        "shuffle_join exact_dedup minhash_lsh simhash_neardup "
        "topk_similarity text_quality curate_pipeline"
    ).split()
    # like-for-like vs the PREVIOUS round's suite: the cross-round signal
    # is the common-query subtotal, never the full total (entry count
    # grows every round; see the module docstring on ambient variance)
    new_in_r10 = ("lm_perplexity", "sbo_perplexity", "model_curate")
    new_in_r11 = ("doremi_weights", "tokenizer_fertility",
                  "kn_perplexity")
    new_in_r12 = ("line_dedup", "mkn_perplexity", "anneal_mix")
    print(json.dumps({
        "metric": "headline_suite_seconds",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "r1_subset_seconds": round(sum(timings[q] for q in r1_set), 3),
        "r9_common_subset_seconds": round(
            sum(v for q, v in timings.items()
                if q not in new_in_r10 and q not in new_in_r11
                and q not in new_in_r12), 3),
        "r10_common_subset_seconds": round(
            sum(v for q, v in timings.items()
                if q not in new_in_r11 and q not in new_in_r12), 3),
        "r11_common_subset_seconds": round(
            sum(v for q, v in timings.items() if q not in new_in_r12), 3),
        "warm_floors": warm_floors,
        "sf": sf_dir,
        "sweeps": 3,
        "stat": "per_query_min_across_interleaved_sweeps",
        "loadavg_before": [round(x, 2) for x in load_before],
        "loadavg_after": [round(x, 2) for x in load_after],
        "cpus": os.cpu_count(),
        # the core count the session ran on (session.get_spark's rule)
        "spark_graft_cpus": int(os.environ.get("SPARK_GRAFT_CPUS")
                                or os.cpu_count()),
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
