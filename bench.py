#!/usr/bin/env python
"""Benchmark harness — prints ONE JSON line.

Two modes:

* default — headline queries at ``$SPARK_GRAFT_SF_DIR`` (default
  /root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]`` (default 32), plus
  the north-metric end-to-end contract-table extraction throughput
  (documents/sec) on the seeded generator table (FIXTURES.md §1 shape).
* ``--scaling`` — the BASELINE.json two-cluster-size protocol: the same
  extraction job at local[N] and local[4N] (default N = 2), reporting both
  throughputs and ``eff = T_4N / (4 * T_N)``.  Results also land in
  BENCH/BASELINE.md via tools elsewhere; this prints the JSON line.
* ``--scaling-executors`` — the same criterion with real executor
  PROCESSES: local-cluster[N,2,4096] vs local-cluster[4N,2,4096]
  (default N = 1) — separate executor JVMs, serialized broadcasts, netty
  shuffle transfers; the closest sandbox analog of "N vs 4N executors".
* ``--soak`` — the full-lifecycle soak (BENCH/BASELINE.md §3b family) as
  a reproducible mode: waved checkpointed extraction → durable edit
  batch → durable expire → overlay compaction → exact reconciliation,
  with a /proc RSS sampler recording PEAK memory (JVM, pyspark Arrow
  workers, python driver) across the whole run.
  ``OCR_SPARK_BENCH_DOCS`` sizes it (default 1,000,000).

Output schema (driver contract):
  {"metric": "...", "value": N, "unit": "...", "queries": {...}, "sf": ...}
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

from perfbench.observe import cpu_control, host_stamp

#: The host-health CPU control (perfbench/observe.cpu_control): wall
#: seconds of a fixed pure-Python spin in one spawned process per usable
#: CPU, stamped into every JSON as ``cpu_control_*``.  About 0.15-0.3 s
#: on a quiet 4-CPU host, higher while other tenants hold the cores —
#: shared-tenancy noise reaches ~3.7× (BENCH/BASELINE.md §1), so a Spark
#: number recorded without its stamp is meaningless.
NPROC = len(os.sched_getaffinity(0))


def _contract_path(n_docs: int, seed: int = 42) -> str:
    """Generate (once, cached) the contract spans table for the bench.

    Above 100k docs generation goes parallel (8 workers): single-threaded
    synthesis is ~400 docs/s and the mega-doc tail makes a 400k table an
    ~hour of driver time.  The chunked layout is deterministic for a
    fixed (seed, n_docs, processes) but not byte-identical to the
    single-process layout, so the canonical ≤100k tables keep the
    single-process layout the committed baselines were measured on."""
    path = os.path.join(
        tempfile.gettempdir(), f"ocr_spark_bench_{n_docs}_{seed}.parquet"
    )
    if not os.path.exists(path):
        from ocr_spark import datagen

        datagen.generate_to_path(
            path,
            n_docs=n_docs,
            seed=seed,
            scramble=True,
            n_files=64,
            processes=8 if n_docs > 100_000 else None,
        )
    return path


def _time_extraction(spark, src_path: str) -> tuple[float, int]:
    """End-to-end: read parquet → extraction kernel → write parquet."""
    from ocr_spark.operators.extract import extract_documents

    out_dir = tempfile.mkdtemp(prefix="ocr_bench_out_")
    df = spark.read.parquet(src_path)
    n = df.count()
    t0 = time.perf_counter()
    extract_documents(df, order_by="meta").write.mode("overwrite").parquet(
        os.path.join(out_dir, "spans_out")
    )
    dt = time.perf_counter() - t0
    shutil.rmtree(out_dir, ignore_errors=True)
    return dt, n


def run_headline(sf_dir: str, cpus: int, n_docs: int) -> dict:
    from ocr_spark import get_spark

    if n_docs > 400_000:
        # the §3b soak sizing: the 1M-doc e2e needs the big heap — at
        # the 8 GB default the JVM dies mid-extraction and the bench
        # emits nothing (observed r4)
        os.environ.setdefault("SPARK_DRIVER_MEM", "28g")
    spark = get_spark("ocr-bench", master=f"local[{cpus}]")
    import __spark_entry__ as entry_mod

    qset = entry_mod.queries()
    headline = [
        "span_extract", "word_index", "dedup_exact", "dedup_minhash_lsh",
        "simhash", "ann_topk", "q1_pricing", "q3_topk", "q5_region_revenue",
        "asof_join", "events_windowed", "quality_score",
        # round-2 additions tracked per round
        "inverted_index", "word_pages_raw", "multi_match", "export_csv",
        "ann_ivf_fullprobe", "embedding_neardup_lsh",
        "dedup_components", "ann_ivfpq", "sample_stratified", "corpus_mix",
        "chunk_dedup", "dedup_incremental", "doc_repetition",
        "decontaminate", "pii_scrub", "pack_sequences", "html_extract",
        "lm_quality", "rag_chunks",
        # round-2 continuation
        "substring_scrub", "kmeans_assign", "kmeans_clusters",
        "semantic_dedup",
        "bpe_pair_counts", "bpe_merges",
        "q4_exists", "q13_custdist", "q18_large_volume", "q22_dormant",
        "range_join", "bm25_rank", "dsir_select", "bigram_lm",
        "ccnet_buckets", "pack_interleaved", "simhash_neardup",
        "nb_quality", "url_dedup", "domain_stats", "domain_filter",
        "shard_stats", "web_curate", "domain_pagerank",
        # round-2 wrap-up: the composed one-scan filter battery
        "quality_stack",
        # round-2 continuation: web link family + C4 completion
        "html_links", "link_edges", "anchor_terms", "frontier_plan",
        "c4_badwords", "robots_filter", "html_meta", "canonical_dedup",
        "lang_segments", "gopher_ngram", "sitemap_seeds", "recrawl_diff",
        "corpus_datasheet", "fuzzy_decontaminate", "crawl_plan",
        "quality_full", "domain_cap",
        # round-2 session 4: crawl front end + retrieval + CDC dedup
        "warc_records", "warc_html", "phrase_search", "cdc_chunks",
        "reading_order", "line_dedup", "domain_trustrank",
        # round-2 session 5
        "domain_hits", "winnow_overlap", "bloom_decontaminate",
        "unimax_plan", "phrase_tag", "spam_mass", "domain_communities", "link_features",
        # round-2 session 7
        "html_tables", "zorder_layout", "session_windows", "html_outline",
        "alto_words", "postings_codec", "http_meta", "more_like_this", "kwic_snippets", "robots_sitemaps", "compaction_plan", "html_markdown",
        # round 3: hOCR export round-trip close + newly-oracled encode
        "hocr_export", "bpe_encode", "pdf_export", "size_humanize", "ocr_eta", "path_safety", "chunk_assembly", "export_bundle", "ner_entities", "raster_segments", "document_bundle",
        # round 4: real PNG codec chain + E7 adopt + deterministic sketches
        "png_roundtrip", "raster_from_png", "adopt_registry",
        "vocab_hll", "vocab_heavy_hitters", "doclen_quantile_sketch",
        "wav_features",
        # round 5: the codec family (JPEG/GIF/BMP/AVI) + header gate
        "jpeg_roundtrip", "gif_roundtrip", "bmp_roundtrip",
        "avi_frames", "media_dims",
    ]
    # Per-workload scan tuning (the conf is runtime-settable): thin
    # TPC-H-ish tables are scan-bound and want the vectorized reader's
    # default 4096-row batches (within-session A/B at sf0.1: q1_pricing
    # 1.29 s vs 1.95 s, dedup_minhash_lsh 12.6 s vs 15.9 s at 512); the
    # fat contract spans table wants the engine's 512-row cap (10.2 s vs
    # 13.4 s per 100k-doc extraction, and the cap is what keeps
    # right-sized executors from OOMing on mega-doc batches — see
    # session.py).  A real deployment sets this per job by table width.
    spark.conf.set("spark.sql.parquet.columnarReaderBatchSize", "4096")
    timings: dict[str, float] = {}
    for name in headline:
        t0 = time.perf_counter()
        qset[name](spark, sf_dir).count()
        timings[name] = round(time.perf_counter() - t0, 3)
    spark.conf.set("spark.sql.parquet.columnarReaderBatchSize", "512")

    src = _contract_path(n_docs)
    # Warm to convergence, then measure: the JVM Arrow bridge for nested
    # columns JIT-compiles lazily and early iterations run 3-5x slow; a
    # 100 TB job spends its life in steady state, so the protocol is
    # "warm until two consecutive runs stop improving the best by >8%,
    # then report the median of 3 fresh measured runs" (warm-ups are
    # discarded, never selected from).
    med_dt, n = _warm_then_measure(spark, src)
    timings["contract_extract_e2e"] = round(med_dt, 3)
    docs_per_sec = n / med_dt
    spark.stop()

    return {
        "metric": "documents/sec end-to-end extraction throughput",
        "value": round(docs_per_sec, 1),
        "unit": "docs/sec",
        "queries": timings,
        "sf": sf_dir,
        "cpus": cpus,
        "contract_docs": n,
        "total_sec": round(sum(timings.values()), 3),
        "cpu_control_sec": cpu_control(NPROC),
    }


def run_contract_only(n_docs: int) -> dict:
    """Just the contract-table extraction leg (no query battery) — the
    subprocess body behind the headline's 1M-doc north-metric row
    (r4 verdict item 5).  Runs in its OWN process because driver heap is
    fixed at first JVM launch: the 1M leg needs the 28 GB soak heap the
    100k session must not pay for.  Per-leg cpu-control stamps bracket
    the measurement so the row carries its own host-health calibration."""
    from ocr_spark import get_spark

    if n_docs > 400_000:
        os.environ.setdefault("SPARK_DRIVER_MEM", "28g")
    pre = cpu_control(NPROC)
    src = _contract_path(n_docs)
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark("ocr-bench-contract", master=f"local[{cpus}]")
    med_dt, n = _warm_then_measure(spark, src)
    spark.stop()
    return {
        "metric": "documents/sec end-to-end extraction throughput",
        "value": round(n / med_dt, 1),
        "unit": "docs/sec",
        "contract_docs": n,
        "median_sec": round(med_dt, 3),
        "cpus": cpus,
        "cpu_control_pre": pre,
        "cpu_control_post": cpu_control(NPROC),
    }


def _warm_then_measure(
    spark, src: str, cap: int = 12, stall_n: int = 4, improve: float = 0.95
) -> tuple[float, int]:
    """The measurement protocol used everywhere in this harness: warm-up
    runs until ``stall_n`` consecutive runs fail to improve the best time
    by >(1-improve) (cap ``cap`` runs — JIT keeps compiling the nested
    Arrow bridge for ~10 iterations and run-to-run variance is ±25%, so a
    short stall window under-warms), DISCARD all warm-up runs, then report
    the median of 3 fresh measured runs."""
    import statistics

    best, n = _time_extraction(spark, src)
    stall = 0
    for _ in range(cap - 1):
        dt, n = _time_extraction(spark, src)
        if dt < best * improve:
            best, stall = dt, 0
        else:
            best = min(best, dt)
            stall += 1
            if stall >= stall_n:
                break
    measured = [_time_extraction(spark, src)[0] for _ in range(3)]
    return statistics.median(measured), n


def run_scaling_executors(n_small: int, n_docs: int, cores: int = 2) -> dict:
    """The north rule verbatim: the same job at N and 4N EXECUTORS —
    real separate executor JVMs (local-cluster mode: worker processes,
    serialized broadcasts, netty shuffle transfers), not just local[N]
    threads.  ``cores`` per executor stays fixed; executor count goes
    1 → 4, so total parallelism moves 2 → 8 physical cores — the same
    linear-hardware region as run_scaling (see its docstring for why
    SMT forbids 8 → 32).  Protocol per config: convergence warm-up
    (discarded), then the median of 3 fresh measured runs."""
    from ocr_spark import get_spark

    src = _contract_path(n_docs)
    results = {}
    leg_controls = {}
    mem_mb = int(os.environ.get("OCR_SPARK_EXEC_MEM_MB", "9216"))
    for n_exec in (n_small, 4 * n_small):
        pre = cpu_control(NPROC)  # per-leg host-health stamps, as in run_scaling
        spark = get_spark(
            f"ocr-scale-exec-{n_exec}",
            master=f"local-cluster[{n_exec},{cores},{mem_mb}]",
            extra_conf={"spark.executor.memory": f"{mem_mb - 1024}m"},
        )
        # each executor JVM JITs independently — a 4-executor leg needs
        # ~4x the task stream per JVM to converge, so the deep warm-up
        # (cap 12 / stall 4) is load-bearing here even more than in
        # thread mode
        med_dt, n = _warm_then_measure(spark, src)
        results[n_exec] = n / med_dt
        spark.stop()
        leg_controls[f"cpu_control_pre_{n_exec}exec"] = pre
        leg_controls[f"cpu_control_post_{n_exec}exec"] = cpu_control(NPROC)
    t_n, t_4n = results[n_small], results[4 * n_small]
    eff = t_4n / (4.0 * t_n)
    return {
        "metric": "scaling efficiency N->4N executors (local-cluster)",
        "value": round(eff, 3),
        "unit": "ratio",
        "queries": {
            f"docs_per_sec_{n_small}x{cores}exec": round(t_n, 1),
            f"docs_per_sec_{4 * n_small}x{cores}exec": round(t_4n, 1),
            **leg_controls,
        },
        "sf": f"contract table n_docs={n_docs}",
        "contract_docs": n_docs,
        "cpu_control_sec": cpu_control(NPROC),
    }


def _bw_copy_work(_) -> float:
    import numpy as np

    a = np.ones(8_000_000, dtype=np.float64)  # 64 MB
    b = np.ones(8_000_000, dtype=np.float64)
    np.copyto(b, a)  # touch both buffers (fault outside the timing)
    t0 = time.perf_counter()
    for _ in range(64):
        np.copyto(b, a)
    return time.perf_counter() - t0


def _bw_control(n: int) -> float:
    """Aggregate DRAM copy bandwidth (GB/s) with ``n`` concurrent workers,
    median of 3.  The scaling twin of the CPU control: a raw-CPU spin
    shows ~4× hardware from 2→8 cores, but a memory-BANDWIDTH-bound
    workload sees only ~2.6× (measured: 19.7 → 51.8 GB/s median) because
    the legs share one memory system — so a string/Arrow-heavy job's
    thread-mode efficiency ceiling sits between the two controls, and a
    scaling draw is only interpretable against BOTH."""
    import multiprocessing as mp
    import statistics

    gb = 64 * 64 / 1024.0  # GB copied per worker
    vals = []
    for _ in range(3):
        with mp.get_context("fork").Pool(n) as pool:
            ts = pool.map(_bw_copy_work, range(n))
        vals.append(n * gb / max(ts))
    return round(statistics.median(vals), 1)


def run_scaling(n_small: int, n_docs: int) -> dict:
    """Same job, same input, local[N] vs local[4N] → scaling efficiency.

    Default N=2 so that N→4N is a genuine 4× of physical hardware: on this
    32-logical-core box, cores beyond ~16 are SMT siblings — a raw-CPU
    control (multiprocessing spin) scales only 3.2× from 8→32 procs, so no
    job can show 0.8 efficiency there.  2→8 stays in the linear region.
    Protocol per config: convergence warm-up (discarded), then the median
    of 3 fresh measured runs (see _warm_then_measure).
    """
    from ocr_spark import get_spark

    src = _contract_path(n_docs)
    results = {}
    leg_controls = {}
    for cpus in (n_small, 4 * n_small):
        # Per-LEG host-health stamps: the efficiency metric is a ratio of
        # two ~90 s measurements, so it inherits the host-noise band once
        # per leg — three round-2-close draws gave 0.69/0.55/1.09 with an
        # unchanged kernel (BENCH/BASELINE.md §2).  A single end-of-run
        # control cannot attribute noise to a leg; a control before and
        # after EACH leg can.
        pre = cpu_control(NPROC)
        spark = get_spark(f"ocr-scale-{cpus}", master=f"local[{cpus}]")
        # Both legs use the FULL convergence warm-up (cap 12 / stall 4).
        # A shorter run-count cap is NOT protocol-equivalent across legs:
        # JIT compiles on wall-clock background threads, so at cap 8 the
        # local[8] leg gets ~2.5 min of warm wall-clock vs local[2]'s
        # ~7 min and reports ~30% under its converged rate — measured
        # eff collapsed 0.95 → 0.56 from exactly this bias before the
        # deep warm-up was applied to both legs.
        med_dt, n = _warm_then_measure(spark, src)
        results[cpus] = n / med_dt
        spark.stop()
        leg_controls[f"cpu_control_pre_local[{cpus}]"] = pre
        leg_controls[f"cpu_control_post_local[{cpus}]"] = cpu_control(NPROC)
    t_n, t_4n = results[n_small], results[4 * n_small]
    eff = t_4n / (4.0 * t_n)
    bw_n, bw_4n = _bw_control(n_small), _bw_control(4 * n_small)
    return {
        "metric": "scaling efficiency N->4N",
        "value": round(eff, 3),
        "unit": "ratio",
        "queries": {
            f"docs_per_sec_local[{n_small}]": round(t_n, 1),
            f"docs_per_sec_local[{4 * n_small}]": round(t_4n, 1),
            **leg_controls,
            f"mem_bw_gbps_{n_small}p": bw_n,
            f"mem_bw_gbps_{4 * n_small}p": bw_4n,
            "mem_bw_scale_n_to_4n": round(bw_4n / bw_n, 2),
        },
        "sf": f"contract table n_docs={n_docs}",
        "contract_docs": n_docs,
        "cpu_control_sec": cpu_control(NPROC),
    }


def _shuffle_corpus(mult: int = 10) -> str:
    """Deterministic corpus for the shuffle-stage scaling probe: sf0.1
    documents replicated ``mult``× with a per-replica tail token —
    replicas stay near-duplicates of each other, so the full LSH
    candidate + exact-Jaccard-verify machinery engages (the band-key
    shuffle, the bucket self-join, the verify matmuls), unlike the
    embarrassingly-parallel extraction kernel the default ``--scaling``
    measures.  Content is a pure function of (sf0.1, mult); builder
    parallelism only affects file layout."""
    path = os.path.join(
        tempfile.gettempdir(), f"ocr_spark_lsh_scale_{mult}x.parquet"
    )
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        from pyspark.sql import functions as F

        from ocr_spark import get_spark

        spark = get_spark("lsh-corpus-build", master="local[16]")
        docs = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
        big = docs.crossJoin(
            spark.range(mult).select(F.col("id").alias("r"))
        ).select(
            (F.col("doc_id") * mult + F.col("r")).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" zrep"), F.col("r")).alias(
                "text"
            ),
        )
        big.repartition(32).write.mode("overwrite").parquet(path)
        spark.stop()
    return path


def run_scaling_shuffle(n_small: int, mult: int = 10) -> dict:
    """The N→4N criterion on a SHUFFLE-BOUND stage: minhash_lsh_dedup
    over the replicated corpus at local[N] vs local[4N].  The default
    ``--scaling`` probe measures the extraction kernel — a single narrow
    stage with zero Exchange, i.e. the best case for scaling.  This probe
    measures the worst case the engine ships: three shuffles (signature
    agg, band-key self-join, verify join) plus Arrow verify kernels.
    ``get_spark`` sizes shuffle partitions to the core count per leg, the
    same rule a real cluster deployment uses.  Protocol: convergence
    warm-up (cap 6 / stall 2 — query plans JIT faster than the nested
    Arrow bridge), DISCARDED, then median of 3 fresh runs; per-leg CPU
    controls as in run_scaling."""
    import statistics

    from ocr_spark import get_spark
    from ocr_spark.operators.dedup import minhash_lsh_dedup

    src = _shuffle_corpus(mult)
    results = {}
    leg_controls = {}
    n_docs = None
    for cpus in (n_small, 4 * n_small):
        pre = cpu_control(NPROC)
        spark = get_spark(f"lsh-scale-{cpus}", master=f"local[{cpus}]")
        n_docs = spark.read.parquet(src).count()

        def timed() -> float:
            t0 = time.perf_counter()
            minhash_lsh_dedup(
                spark.read.parquet(src), threshold=0.5
            ).count()
            return time.perf_counter() - t0

        best, stall = timed(), 0
        for _ in range(5):
            dt = timed()
            if dt < best * 0.95:
                best, stall = dt, 0
            else:
                best = min(best, dt)
                stall += 1
                if stall >= 2:
                    break
        med = statistics.median(timed() for _ in range(3))
        results[cpus] = n_docs / med
        spark.stop()
        leg_controls[f"cpu_control_pre_local[{cpus}]"] = pre
        leg_controls[f"cpu_control_post_local[{cpus}]"] = cpu_control(NPROC)
    t_n, t_4n = results[n_small], results[4 * n_small]
    bw_n, bw_4n = _bw_control(n_small), _bw_control(4 * n_small)
    return {
        "metric": "scaling efficiency N->4N (shuffle-bound LSH dedup)",
        "value": round(t_4n / (4.0 * t_n), 3),
        "unit": "ratio",
        "queries": {
            f"docs_per_sec_local[{n_small}]": round(t_n, 1),
            f"docs_per_sec_local[{4 * n_small}]": round(t_4n, 1),
            **leg_controls,
            f"mem_bw_gbps_{n_small}p": bw_n,
            f"mem_bw_gbps_{4 * n_small}p": bw_4n,
            "mem_bw_scale_n_to_4n": round(bw_4n / bw_n, 2),
        },
        "sf": f"sf0.1 documents x{mult} = {n_docs} docs",
        "contract_docs": n_docs,
        "cpu_control_sec": cpu_control(NPROC),
    }


def _peak_rss_sampler(stop, peaks: dict, interval: float = 2.0) -> None:
    """Poll /proc every ``interval`` s and track peak RSS of the local-mode
    JVM (comm 'java'), the pyspark Arrow worker pool (other 'python*'
    processes), and this driver process.  Sandbox-scoped: the host runs
    no other java/python, so comm matching is sufficient; on a cluster
    the same numbers come from the executor metrics endpoint."""
    import glob

    me = os.getpid()
    page = os.sysconf("SC_PAGE_SIZE")
    while not stop.is_set():
        jvm = workers = drv = 0
        for sdir in glob.glob("/proc/[0-9]*"):
            try:
                with open(sdir + "/comm") as f:
                    comm = f.read().strip()
                with open(sdir + "/statm") as f:
                    rss = int(f.read().split()[1]) * page
            except (OSError, ValueError, IndexError):
                continue
            pid = int(sdir.rsplit("/", 1)[1])
            if comm == "java":
                jvm += rss
            elif comm.startswith("python"):
                if pid == me:
                    drv = rss
                else:
                    workers += rss
        peaks["jvm_gb"] = max(peaks.get("jvm_gb", 0.0), jvm / 2**30)
        peaks["pyworkers_gb"] = max(
            peaks.get("pyworkers_gb", 0.0), workers / 2**30
        )
        peaks["driver_py_gb"] = max(
            peaks.get("driver_py_gb", 0.0), drv / 2**30
        )
        peaks["total_gb"] = max(
            peaks.get("total_gb", 0.0), (jvm + workers + drv) / 2**30
        )
        stop.wait(interval)


def run_soak_bundle(mega_pages: int = 1000, n_normal: int = 2000) -> dict:
    """Mega-doc-tail soak of the bundling sinks (BENCH/BASELINE.md §3c,
    VERDICT r3 item 3): ``document_bundle`` over a page IR whose skew
    tail reaches ``mega_pages`` pages in one document — the per-doc
    ``collect_list`` page payloads and the O(pages²) PDF xref
    prefix-sum fold are the two costs bounded only by page count, fine
    at court-document page counts and proven here at the tail.  Peak-RSS
    stamps via the §3b sampler; the mega doc's bundle md5 is re-checked
    byte-identical across partitionings (the zip determinism contract).
    Five mega docs at mega_pages/5 steps plus ``n_normal`` 1-3-page
    docs, ~40 words/page."""
    import threading

    from pyspark.sql import functions as F

    os.environ.setdefault("SPARK_DRIVER_MEM", "8g")
    from ocr_spark import get_spark
    from ocr_spark.jobs.export_all import document_bundle

    pre = cpu_control(NPROC)
    peaks: dict = {}
    stop = threading.Event()
    sampler = threading.Thread(
        target=_peak_rss_sampler, args=(stop, peaks), daemon=True
    )
    sampler.start()
    spark = get_spark("ocr-soak-bundle")
    step = max(mega_pages // 5, 1)
    par_synth = """
transform(sequence(0, 1), p -> array(transform(sequence(1, 20), i ->
  named_struct(
    'text', concat('w', cast(page_no as string), '_',
                   cast(p as string), '_', cast(i as string)),
    'box', array(cast(10 + i * 20 as double),
                 cast(100 + p * 40 as double),
                 cast(25 + i * 20 as double),
                 cast(130 + p * 40 as double)),
    'b', cast(128 + p * 40 as double),
    'confidence', cast(90 as int),
    'font', cast(null as string)))))
"""
    try:
        ir = (
            spark.range(n_normal + 5)
            .selectExpr(
                "concat('doc-', lpad(cast(id as string), 8, '0')) as doc_id",
                f"case when id < 5 then cast((id + 1) * {step} as int) "
                "else cast(1 + id % 3 as int) end as n_pages",
            )
            .selectExpr("doc_id", "explode(sequence(1, n_pages)) as page_no")
            .withColumn("paragraphs", F.expr(par_synth))
        )
        mega_id = "doc-00000004"

        t0 = time.perf_counter()
        rows = (
            document_bundle(ir)
            .select(
                "doc_id", "n_entries", "n_bytes",
                F.md5("zip").alias("bundle_md5"),
            )
            .collect()
        )
        total_sec = round(time.perf_counter() - t0, 1)
        by_id = {r["doc_id"]: r for r in rows}
        mega = by_id[mega_id]

        # tail-only timing: the five mega docs alone
        t1 = time.perf_counter()
        tail_rows = (
            document_bundle(ir.where("doc_id < 'doc-00000005'"))
            .select("doc_id", F.md5("zip").alias("m"))
            .collect()
        )
        tail_sec = round(time.perf_counter() - t1, 1)

        # determinism at the tail: repartitioned input, identical bytes
        t2 = time.perf_counter()
        again = {
            r["doc_id"]: r["m"]
            for r in document_bundle(
                ir.where("doc_id < 'doc-00000005'").repartition(64)
            )
            .select("doc_id", F.md5("zip").alias("m"))
            .collect()
        }
        det_sec = round(time.perf_counter() - t2, 1)
        det_ok = all(
            again[r["doc_id"]] == r["m"] for r in tail_rows
        )
    finally:
        stop.set()
        sampler.join(timeout=5)
        spark.stop()
    return {
        "metric": "bundle mega-doc soak (document_bundle, pages-skew tail)",
        "value": total_sec,
        "unit": "sec",
        "queries": {
            "bundle_all_sec": total_sec,
            "bundle_tail_only_sec": tail_sec,
            "bundle_tail_repartitioned_sec": det_sec,
            "n_docs": n_normal + 5,
            "mega_pages": mega_pages,
            "mega_n_entries": mega["n_entries"],
            "mega_zip_bytes": mega["n_bytes"],
            "tail_md5_identical_across_partitionings": det_ok,
            "peak_jvm_gb": round(peaks.get("jvm_gb", 0.0), 2),
            "peak_pyworkers_gb": round(peaks.get("pyworkers_gb", 0.0), 2),
            "peak_total_gb": round(peaks.get("total_gb", 0.0), 2),
        },
        "sf": f"synthetic page IR, tail up to {mega_pages} pages/doc",
        "cpu_control_pre": pre,
        "cpu_control_sec": cpu_control(NPROC),
    }


def run_soak(
    n_docs: int, n_buckets: int = 128, wave_size: int = 32
) -> dict:
    """Full lifecycle at ``n_docs`` with peak-memory stamps — the §3b
    protocol, committable and re-runnable.  Heap via SPARK_DRIVER_MEM
    (default here 28g, the 1M-scale sizing from §3b-r2c; §3b-r2 showed
    8 GB/32 threads is the OOM cliff for the edit-overlay plan)."""
    import threading

    from pyspark.sql import functions as F

    os.environ.setdefault("SPARK_DRIVER_MEM", "28g")
    from ocr_spark import get_spark
    from ocr_spark.jobs import retention
    from ocr_spark.jobs.edits import apply_edits, compact_overlay
    from ocr_spark.jobs.extract_job import read_documents, run_extraction

    pre = cpu_control(NPROC)
    cached = _contract_path(n_docs)
    work = tempfile.mkdtemp(prefix="ocr_soak_")
    input_path = os.path.join(work, "documents.parquet")
    shutil.copytree(cached, input_path)
    out_path = os.path.join(work, "derived")
    mani = os.path.join(work, "manifest")

    peaks: dict = {}
    stop = threading.Event()
    sampler = threading.Thread(
        target=_peak_rss_sampler, args=(stop, peaks), daemon=True
    )
    sampler.start()
    timings: dict = {}
    spark = get_spark("ocr-soak")
    try:
        t0 = time.perf_counter()
        ext = run_extraction(
            spark, input_path, out_path, mani, "soak-extract",
            n_buckets=n_buckets, wave_size=wave_size,
        )
        timings["extract_sec"] = round(time.perf_counter() - t0, 1)

        # durable edit batch: ~200 docs, first text span tagged
        # contract doc_id is 'doc-%08d' — select on the numeric tail
        dnum = F.expr("cast(substr(doc_id, 5) as bigint)")
        step = max(n_docs // 200, 1)
        upd = (
            read_documents(spark, input_path)
            .where((dnum % step) == 0)
            .select(
                "doc_id",
                F.expr(
                    "transform(spans, s -> named_struct("
                    "'kind', s.kind, "
                    "'text', case when s.kind = 'text' "
                    "then concat(s.text, '_edited') else s.text end, "
                    "'media_ref', s.media_ref, 'offset', s.offset))"
                ).alias("spans"),
                "meta",
            )
        )
        t0 = time.perf_counter()
        ed = apply_edits(
            spark, upd, input_path, out_path, mani, "soak-edit",
            n_buckets=n_buckets, wave_size=wave_size,
        )
        timings["edit_sec"] = round(time.perf_counter() - t0, 1)

        # durable expire: ~1000 docs (tombstones + derived rewrite)
        estep = max(n_docs // 1000, 1)
        t0 = time.perf_counter()
        ex = retention.expire_where(
            spark, out_path, mani, "soak-expire",
            (F.expr("cast(substr(doc_id, 5) as bigint)") % estep) == 3,
            wave_size=wave_size, input_path=input_path,
        )
        timings["expire_sec"] = round(time.perf_counter() - t0, 1)

        t0 = time.perf_counter()
        comp = compact_overlay(spark, input_path)
        timings["compact_sec"] = round(time.perf_counter() - t0, 1)

        # reconciliation — exact, both sides of the seam
        seam_n = read_documents(spark, input_path).count()
        derived_n = (
            spark.read.parquet(out_path).select("doc_id").distinct().count()
        )
        expired_docs = (
            spark.read.parquet(input_path).select("doc_id").distinct()
            .where((dnum % estep) == 3).count()
        )
        edit_eligible = (
            read_documents(spark, input_path)
            .where(((dnum % step) == 0) & ((dnum % estep) != 3))
            .select("doc_id", F.explode("spans").alias("s"))
            .where(F.col("s.kind") == "text")
            .select("doc_id").distinct().count()
        )
        edited_ok = (
            read_documents(spark, input_path)
            .where(((dnum % step) == 0) & ((dnum % estep) != 3))
            .select("doc_id", F.explode("spans").alias("s"))
            .where(F.col("s.text").endswith("_edited"))
            .select("doc_id").distinct().count()
        )
    finally:
        spark.stop()
        stop.set()
        sampler.join(timeout=10)

    reconciled = seam_n == derived_n
    return {
        "metric": "lifecycle soak (extract+edit+expire+compact)",
        "value": round(n_docs / max(timings["extract_sec"], 1e-9), 1),
        "unit": "docs/sec (extraction incl. waves+commits)",
        "queries": {
            **timings,
            "extract_status": ext["status"],
            "doc_count": ext["doc_count"],
            "span_count": ext["span_count"],
            "edited_docs": ed["edited_docs"],
            "touched_buckets": len(ed["touched_buckets"]),
            "expired_rows": ex.get("expired", ex.get("expired_rows", -1)),
            "compacted": comp.get("status", "ok"),
            "seam_docs": seam_n,
            "derived_docs": derived_n,
            "post_expire_seam_docs_match": reconciled,
            "edited_docs_verified": edited_ok,
            "edit_eligible_docs": edit_eligible,
            "peak_jvm_gb": round(peaks.get("jvm_gb", 0.0), 2),
            "peak_pyworkers_gb": round(peaks.get("pyworkers_gb", 0.0), 2),
            "peak_driver_py_gb": round(peaks.get("driver_py_gb", 0.0), 2),
            "peak_total_gb": round(peaks.get("total_gb", 0.0), 2),
            "heap_setting": os.environ.get("SPARK_DRIVER_MEM", "8g"),
            "n_buckets": n_buckets,
            "wave_size": wave_size,
            "expired_from_seam": n_docs - seam_n,
            "expired_still_in_base": expired_docs,
        },
        "sf": f"contract table n_docs={n_docs}",
        "contract_docs": n_docs,
        "cpu_control_pre": pre,
        "cpu_control_sec": cpu_control(NPROC),
    }


def _north_1m_row() -> dict:
    """The soak-scale north metric (1M-doc contract extraction) as a
    per-round driver artifact row (r4 verdict item 5): run in a
    subprocess so it gets its own 28 GB-heap JVM, never the headline
    session's.  Failures degrade to an error note — the driver must
    always receive its JSON line.  Set OCR_SPARK_SKIP_1M=1 to skip
    (small-scale smoke runs)."""
    import subprocess

    if os.environ.get("OCR_SPARK_SKIP_1M"):
        return {"skipped": "OCR_SPARK_SKIP_1M set"}
    env = dict(os.environ, OCR_SPARK_BENCH_DOCS="1000000")
    try:
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--contract-only"],
            capture_output=True, text=True, timeout=5400, env=env,
        )
        line = proc.stdout.strip().splitlines()[-1]
        return json.loads(line)
    except Exception as e:  # noqa: BLE001 — degrade, never kill the bench
        return {"error": f"{type(e).__name__}: {e}"}


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    # 100k matches the committed BENCH/BASELINE.md headline row (the 20k
    # round-1 driver run under-amortized JIT/stage overhead 4x and was not
    # comparable to the baseline; see VERDICT round 1).
    n_docs = int(os.environ.get("OCR_SPARK_BENCH_DOCS", "100000"))
    if "--soak-bundle" in sys.argv:
        out = run_soak_bundle(
            int(os.environ.get("OCR_SPARK_MEGA_PAGES", "1000"))
        )
    elif "--soak" in sys.argv:
        out = run_soak(int(os.environ.get("OCR_SPARK_BENCH_DOCS", "1000000")))
    elif "--scaling-shuffle" in sys.argv:
        out = run_scaling_shuffle(
            int(os.environ.get("OCR_SPARK_SCALE_N", "2"))
        )
    elif "--scaling-executors" in sys.argv:
        n_docs = int(os.environ.get("OCR_SPARK_BENCH_DOCS", "100000"))
        out = run_scaling_executors(
            int(os.environ.get("OCR_SPARK_SCALE_N", "1")), n_docs
        )
    elif "--scaling" in sys.argv:
        n_docs = int(os.environ.get("OCR_SPARK_BENCH_DOCS", "100000"))
        out = run_scaling(int(os.environ.get("OCR_SPARK_SCALE_N", "2")), n_docs)
    elif "--contract-only" in sys.argv:
        out = run_contract_only(n_docs)
    else:
        out = run_headline(sf_dir, cpus, n_docs)
        if n_docs >= 100_000:
            # driver-scale runs also record the soak-scale north metric;
            # small smoke runs (OCR_SPARK_BENCH_DOCS below the committed
            # 100k baseline) skip it
            out["north_1m"] = _north_1m_row()
    out["host"] = host_stamp()
    print(json.dumps(out))


if __name__ == "__main__":
    main()
