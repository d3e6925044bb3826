"""Bench harness (BASELINE.md protocol).

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON
line: {"metric", "value", "unit": "sec", "queries": {...}, "sf": ...}.

Also measures the BASELINE.md comparisons:
- B1: top-10 over sf embeddings vs the single-process NumPy brute force
- B2: top-10 over a synthetic 600k x 64 corpus (seed 42, cached as
  parquet in /tmp) — Spark numpy-pandas_udf path vs NumPy, plus the
  amortized batched-query variant (64 queries in one job)

Protocol: one warmup run, then median of N timed runs per query
(N=3, B-series N=5), time.perf_counter wall clock.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

import numpy as np  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")
SYNTH_N, SYNTH_D = 600_000, 64
SYNTH_PATH = "/tmp/nebuia_bench_synth600k.parquet"
CLUSTERED_PATH = "/tmp/nebuia_bench_clustered600k.parquet"


def _sf_value(sf_dir: str) -> float:
    base = os.path.basename(sf_dir.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return -1.0


def _median_time(fn, runs: int = 3, warmup: int = 1, between=None) -> float:
    """``between`` runs after every call (warmup and timed) OUTSIDE
    the timed interval — for cache releases that must happen between
    runs but whose cost must not inflate the measurement (ADVICE
    r14: b22's from-scratch wall was charging cache-unpersist to the
    crossover denominator)."""
    for _ in range(warmup):
        fn()
        if between is not None:
            between()
    times = []
    for _ in range(runs):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
        if between is not None:
            between()
    return statistics.median(times)


def _read_cpu_ticks() -> tuple[int, int] | None:
    """(steal_ticks, total_ticks) from /proc/stat's aggregate cpu
    line; None off-Linux. Sampled at the start and end of main() so
    the run self-reports its hypervisor steal fraction — every bench
    adjudication so far (r10/r11/r12/r13-b16) needed a manual re-run
    under /proc/stat watch to prove load; a recorded steal_frac makes
    BASELINE.md's re-run policy executable from the artifact alone
    (VERDICT r13 task #6)."""
    try:
        with open("/proc/stat") as fh:
            parts = fh.readline().split()
    except OSError:
        return None
    if not parts or parts[0] != "cpu":
        return None
    vals = [int(x) for x in parts[1:]]
    steal = vals[7] if len(vals) > 7 else 0
    return steal, sum(vals)


class _StealMeter:
    """Per-FAMILY steal attribution (VERDICT r14 task #5): the
    run-wide ``steal_frac`` says a run was contended but not WHICH
    rows to distrust — this round's driver record again showed
    single-family 2-4× moves (b12/b15/b16) that needed cross-run
    inference to adjudicate. ``mark(family)`` samples /proc/stat at
    each bench block's start; ``emit`` attributes each inter-mark
    interval's steal fraction to the family that was running, so a
    moved row is adjudicable from BENCH_SELF.json alone:
    ``steal_frac_<family>`` > ~0.02 ⇒ that block was contended."""

    def __init__(self) -> None:
        self._marks: list[tuple[str, int, int]] = []

    def mark(self, family: str) -> None:
        t = _read_cpu_ticks()
        if t is not None:
            self._marks.append((family, t[0], t[1]))

    def emit(self, timings: dict) -> None:
        t = _read_cpu_ticks()
        if t is None or not self._marks:
            return
        marks = self._marks + [("end", t[0], t[1])]
        for (fam, s0, t0), (_, s1, t1) in zip(marks, marks[1:]):
            timings[f"steal_frac_{fam}"] = round(
                (s1 - s0) / max(t1 - t0, 1), 4
            )


def _median_build(build_fn, runs: int = 3):
    """Median-of-N for OFFLINE build/train steps (VERDICT r2 #3: the
    single-shot b5/b6 build numbers swung 8-40 s across identical
    code). ``build_fn`` must do the full build AND materialize it,
    returning (result, cleanup_fn); intermediate results are cleaned
    up so caches don't accumulate. Returns (median_sec, last_result).
    """
    times, result, cleanup = [], None, None
    for _ in range(runs):
        if cleanup is not None:
            cleanup()
        t0 = time.perf_counter()
        result, cleanup = build_fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times), result


def _synth_matrix() -> np.ndarray:
    rng = np.random.default_rng(42)
    return rng.normal(size=(SYNTH_N, SYNTH_D)).astype(np.float32)


def _ensure_synth(spark) -> np.ndarray:
    mat = _synth_matrix()
    if not os.path.exists(SYNTH_PATH):
        import pandas as pd

        pdf = pd.DataFrame(
            {"vec_id": np.arange(SYNTH_N, dtype=np.int64), "embedding": list(mat)}
        )
        spark.createDataFrame(pdf).repartition(int(CPUS)).write.mode(
            "overwrite"
        ).parquet(SYNTH_PATH)
    return mat


def numpy_topk(mat: np.ndarray, q: np.ndarray, k: int = 10):
    """BASELINE.md §3: single-process NumPy brute force, identical
    semantics (sim = dot(q/||q||, v), exact top-k)."""
    qn = q.astype(np.float64)
    qn = qn / np.sqrt(np.sum(qn * qn))
    sims = mat.astype(np.float64, copy=False) @ qn
    idx = np.argpartition(-sims, k)[:k]
    return idx[np.argsort(-sims[idx])]


def _parse_mem_gb(spec: str) -> float:
    """Parse a JVM memory spec ('8g', '8192m', '64G') to GiB."""
    s = spec.strip().lower()
    try:
        if s.endswith("t"):
            return float(s[:-1]) * 1024
        if s.endswith("g"):
            return float(s[:-1])
        if s.endswith("m"):
            return float(s[:-1]) / 1024
        if s.endswith("k"):
            return float(s[:-1]) / (1024 * 1024)
        return float(s) / (1 << 30)
    except ValueError:
        return 8.0


def _default_driver_memory_gb() -> int:
    """Size the bench driver JVM to the box (VERDICT r6 #2: the 38.4M
    b8 sweep point's ~9.8 GB cached corpus + 32 concurrent cache-build
    tasks OOMed session.py's 8g default ~23 min in, so BENCH_r06
    recorded no numbers at all). Half of physical RAM, clamped to
    [8, 64] GiB — 64g is the verified-complete config (16.7 min,
    rc=0, all gates pass)."""
    try:
        total_b = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
        half_gb = int(total_b / (1 << 30) // 2)
    except (ValueError, OSError):
        half_gb = 8
    return max(8, min(64, half_gb))


#: metrics carried by the final compact gate line: a handful of
#: representative wall-times plus every explicit gate ratio.
GATE_QUERY_KEYS = (
    "vs_topk",
    "tpch_q1",
    "dedup_minhash_lsh",
    "events_sessions",
    "pipe_curate",
    "b2_spark_batched_per_query",
    "b2_numpy_loop_per_query",
)
GATE_RATIO_KEYS = (
    # steal_frac first: the shed loop drops from the END, and the
    # run-validity marker (BASELINE.md re-run protocol: > ~2% steal =
    # contended run, re-time before calling a regression) must
    # survive shedding alongside b2_ratio
    "steal_frac",
    "b8_slope_38400k",
    "b8_slope_overall",
    "b11_slope_320k",
    "b10xl_files_scanned_fraction",
    "b12_batch_recall_at_10",
    "b12_fine_union_cells_fraction",
    "b12_fine_batch_recall_at_10",
    "b15_bq_packed_scan_slope_9600k",
    "b16_lm_slope_64x",
    "b18_semdedup_dropped_total",
    "b21_pagerank_slope_800k",
)


def gate_line(
    timings: dict[str, float], total: float, sf: float, cpus: int
) -> str:
    """The LAST stdout line: an ultra-compact gate summary.

    The grading driver keeps only a ~2,000-char stdout tail; the full
    139-metric compact line is ~7,800 chars, so its head is cut and the
    driver has recorded ``parsed: null`` since round 2. This line keeps
    the {metric, value, unit, queries, sf} shape, carries the headline
    total + the gate ratios, and is asserted < 1,000 chars so it always
    survives the tail whole (with room for log noise after it).
    """
    # b2_ratio first: the shed loop below drops from the END, and the
    # headline baseline gate must be the last one standing
    gates: dict[str, float | None] = {}
    if "b2_spark_batched_per_query" in timings and (
        "b2_numpy_loop_per_query" in timings
    ):
        denom = timings["b2_numpy_loop_per_query"]
        # distinguish missing from zero (ADVICE r8): a denominator that
        # rounds to 0.0 emits null rather than silently dropping the
        # ratio on a very fast machine
        gates["b2_ratio"] = (
            round(timings["b2_spark_batched_per_query"] / denom, 4)
            if denom
            else None
        )
    gates.update({k: timings[k] for k in GATE_RATIO_KEYS if k in timings})

    def _dump(queries: dict[str, float], g: dict) -> str:
        return json.dumps(
            {
                "metric": "headline_queries_total_sec",
                "value": total,
                "unit": "sec",
                "queries": queries,
                "gates": g,
                "n_metrics": len(timings),
                "full_payload": "BENCH_SELF.json",
                "sf": sf,
                "cpus": cpus,
            },
            separators=(",", ":"),
        )

    # keep the line under the budget by shedding query entries, then
    # gate entries (ADVICE r9: GATE_RATIO_KEYS grows each round, so the
    # budget must hold even with zero queries left), never by crashing
    # a completed bench run (the old assert would strip under python -O
    # and, if it fired, leave the 7,800-char full-payload line as the
    # last stdout line — the exact tail-parse failure this line exists
    # to fix). With both dicts empty the fixed fields are ~160 chars,
    # so the <1000 invariant is unconditional.
    queries = {k: timings[k] for k in GATE_QUERY_KEYS if k in timings}
    line = _dump(queries, gates)
    while len(line) >= 1000 and queries:
        queries.pop(next(reversed(queries)))
        line = _dump(queries, gates)
    while len(line) >= 1000 and gates:
        gates.pop(next(reversed(gates)))
        line = _dump(queries, gates)
    return line


def main() -> None:
    os.environ.setdefault("SPARK_MASTER", f"local[{CPUS}]")
    os.environ.setdefault(
        "SPARK_DRIVER_MEMORY", f"{_default_driver_memory_gb()}g"
    )
    from pyspark.sql import functions as F

    from nebuia_vector_db_spark import queries as Q
    from nebuia_vector_db_spark.functions.vector import dot
    from nebuia_vector_db_spark.operators.topk import knn_join, topk_search
    from nebuia_vector_db_spark.session import get_spark

    spark = get_spark("nebuia-bench", shuffle_partitions=int(CPUS))
    spark.sparkContext.setLogLevel("ERROR")

    cpu_ticks_start = _read_cpu_ticks()
    timings: dict[str, float] = {}
    _steal = _StealMeter()

    _steal.mark("headline")
    # ---- headline registry queries (same code paths the driver checks)
    headline = [
        "vs_topk",
        "vs_multi_search",
        "vs_topk_per_label",
        "vs_knn_join",
        "vs_nested_search",
        "vs_neardup_cos",
        "dedup_exact",
        "dedup_ngram_jaccard",
        "dedup_minhash_lsh",
        "dedup_groups",
        "vs_pq_topk",
        "vs_sq8_topk",
        "text_boilerplate",
        "mm_audio_windows",
        "pipe_stratified_sample",
        "text_quality",
        "text_fingerprint",
        "mm_image_features",
        "pipe_chunk_docs",
        "pipe_dataset_split",
        "tpch_q1",
        "tpch_q3",
        "tpch_q5",
        "tpch_q6",
        "part_promo_share",
        "events_hourly",
        "events_user_gap",
        "events_asof_signup",
        "events_sessions",
        "events_funnel",
        "events_retention",
        "events_sliding",
        "pipe_upsert_latest",
        "profile_documents",
        "hybrid_search",
        "pipe_curate",
        "pipe_epoch_shuffle",
        # round-3 query families (cheap pure-query rows; the heavy
        # round-3 storage/codec paths are benched as B10/B11)
        "zorder_cluster",
        "events_variant",
        "lateral_top_orders",
        "lineitem_unpivot",
    ]
    reg = Q.queries()
    for name in headline:
        fn = reg[name]
        # r15: one steal mark per headline query (warmup + 3 timed
        # runs fall in one interval) — the r14-driver adjudication
        # showed single-QUERY 2-15× moves under block-level steal
        # that the one headline-wide number couldn't localize
        _steal.mark(f"hq_{name}")
        timings[name] = round(
            _median_time(lambda: fn(spark, SF_DIR).collect()), 4
        )

    # ---- explicit warm/cold contract for the index-backed headline
    # rows (VERDICT r15 task #1). The rows above run the bench's
    # long-standing WARM protocol (1 warmup + median of 3, session-
    # shared index relations built during warmup). These additive
    # rows time the same queries FROM SCRATCH: release_query_caches()
    # runs between every call — outside the timed interval
    # (`between`, the b22 mechanism) — so each timed run rebuilds the
    # postings/bands/sets/tf-idf index end to end. Both protocols are
    # now recorded side by side; existing row names and methodology
    # are untouched.
    _steal.mark("hq_index_builds")
    for name in (
        "dedup_minhash_lsh",
        "hybrid_search",
        "dedup_ngram_jaccard",
        "dedup_groups",
    ):
        fn = reg[name]
        timings[f"{name}_index_build_sec"] = round(
            _median_time(
                lambda: fn(spark, SF_DIR).collect(),
                between=Q.release_query_caches,
            ),
            4,
        )

    # release every query-registered executor cache (tf-idf weights,
    # substring anchors, image bands, semdedup scored relations) —
    # the B-series needs the storage memory. release_query_caches
    # drops the queries.py memo dicts TOGETHER with their persisted
    # relations (ADVICE r15: releasing only the module registries
    # left the memos serving cold handles that never re-cache).
    from nebuia_vector_db_spark.operators.dedup import (
        release_cached_relations as _release_anchors,
    )
    from nebuia_vector_db_spark.operators.imagehash import (
        release_cached_relations as _release_bands,
    )
    from nebuia_vector_db_spark.operators.semdedup import (
        release_cached_relations as _release_scored,
    )
    from nebuia_vector_db_spark.operators.textvec import (
        release_cached_relations,
    )

    Q.release_query_caches()
    release_cached_relations()
    _release_anchors()
    _release_bands()
    _release_scored()

    _steal.mark("b1")
    # ---- B1: sf embeddings top-10, Spark numpy-UDF path vs NumPy
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").cache()
    emb.count()
    rows = emb.select("vec_id", "embedding").collect()
    mat_small = np.array([r["embedding"] for r in rows], dtype=np.float32)
    q_small = np.asarray(mat_small[0], dtype=np.float64)

    timings["b1_spark_topk"] = round(
        _median_time(
            lambda: topk_search(
                emb, q_small.tolist(), 10, tie_cols=["vec_id"]
            ).collect(),
            runs=5,
        ),
        4,
    )
    timings["b1_numpy_topk"] = round(
        _median_time(lambda: numpy_topk(mat_small, q_small), runs=5), 4
    )

    _steal.mark("b2")
    # ---- B2: synthetic 600k x 64
    mat = _ensure_synth(spark)
    big = spark.read.parquet(SYNTH_PATH).cache()
    big.count()  # materialize cache (warm path, BASELINE.md protocol)
    q_big = mat[7].astype(np.float64)

    timings["b2_spark_topk_600k"] = round(
        _median_time(
            lambda: topk_search(
                big, q_big.tolist(), 10, tie_cols=["vec_id"]
            ).collect(),
            runs=5,
        ),
        4,
    )
    timings["b2_numpy_topk_600k"] = round(
        _median_time(lambda: numpy_topk(mat, q_big), runs=5), 4
    )

    _steal.mark("b2_batched")
    # ---- B2 batched: 64 queries amortized in ONE Spark job
    n_q = 64
    qids = np.arange(0, SYNTH_N, SYNTH_N // n_q, dtype=np.int64)[:n_q]
    queries_df = spark.createDataFrame(
        [(int(i), mat[i].astype(np.float64).tolist()) for i in qids],
        "query_id long, query_vec array<double>",
    ).cache()
    queries_df.count()

    def _batched():
        knn_join(
            queries_df, big, k=10, tie_cols=["vec_id"], method="arrow"
        ).collect()

    t_batch = _median_time(_batched, runs=3)
    timings["b2_spark_batched_per_query"] = round(t_batch / n_q, 4)

    def _numpy_loop():
        for i in qids:
            numpy_topk(mat, mat[i].astype(np.float64))

    timings["b2_numpy_loop_per_query"] = round(
        _median_time(_numpy_loop, runs=3) / n_q, 4
    )

    _steal.mark("b3")
    # ---- B3: multi-collection over 10 label-shards (multi_search)
    def _b3():
        qn = Q.normalize_query(q_big.tolist())
        (
            big.withColumn("label", (F.col("vec_id") % 10))
            .withColumn("sim", dot(F.col("embedding"), qn))
            .orderBy(F.desc("sim"), "vec_id")
            .limit(10)
            .collect()
        )

    timings["b3_spark_multi_600k"] = round(_median_time(_b3, runs=3), 4)

    _steal.mark("b5")
    # ---- B5: IVF candidate pruning at 600k — the indexed scale path.
    # Build once (amortized across the query stream), probe 4/64 cells:
    # ~1/16 of the corpus scanned per query, recall recorded alongside.
    from nebuia_vector_db_spark.operators.ann import build_ivf_index

    def _build_b5():
        idx = build_ivf_index(big, n_cells=64)
        idx.assigned = idx.assigned.cache()
        idx.assigned.count()
        return idx, lambda: idx.assigned.unpersist()

    t_b5, index = _median_build(_build_b5, runs=3)
    timings["b5_ivf_build_sec"] = round(t_b5, 4)
    timings["b5_ivf_topk_nprobe4"] = round(
        _median_time(
            lambda: index.search(
                q_big.tolist(), 10, nprobe=4, tie_cols=["vec_id"]
            ).collect(),
            runs=5,
        ),
        4,
    )
    # Recall probes are REGRESSION SIGNALS, so they must be
    # bit-identical across runs (VERDICT r3 #2: recall flapped
    # 0.5→0.3 on identical code because MLlib KMeans' distributed
    # float-aggregation order varies run-to-run). The probe index is
    # therefore the DETERMINISTIC build (seeded driver-side Lloyd's
    # over a pinned 100k sample + deterministic argmin assignment),
    # and recall averages over a FIXED seeded 16-query set via the
    # two-job batched harness. Build/latency timings above stay on
    # the production MLlib path.
    from nebuia_vector_db_spark.operators.ann import (
        build_ivf_index_deterministic,
        recall_at_k_batch,
    )

    det_idx = build_ivf_index_deterministic(big, 64, mat[:100_000], seed=42)
    det_idx.assigned = det_idx.assigned.cache()
    det_idx.assigned.count()
    b5_qids = np.sort(
        np.random.default_rng(123).choice(SYNTH_N, size=16, replace=False)
    )
    b5_queries = [mat[i].astype(np.float64).tolist() for i in b5_qids]
    timings["b5_ivf_recall_at_10"] = round(
        recall_at_k_batch(det_idx, big, b5_queries, k=10, nprobe=4), 4
    )
    # the honest tradeoff curve on the i.i.d. worst case: recall vs
    # fraction of corpus scanned (nprobe/64) — on clustered data (B5c)
    # the same scan fraction buys far more recall
    for np_ in (8, 16):
        timings[f"b5_ivf_recall_at_10_nprobe{np_}"] = round(
            recall_at_k_batch(det_idx, big, b5_queries, k=10, nprobe=np_), 4
        )
    det_idx.assigned.unpersist()

    _steal.mark("b5c")
    # ---- B5c: IVF on a CLUSTERED 600k corpus (mixture of 128
    # Gaussians) — the distribution IVF cells are built for, vs the
    # i.i.d. worst case above. Recall averaged over 8 queries drawn
    # from distinct mixture components.
    rng_c = np.random.default_rng(7)
    n_clusters = 128
    centers = rng_c.normal(size=(n_clusters, SYNTH_D)) * 4.0
    # cmat is regenerated EVERY run (same seed, same draw order) so the
    # deterministic recall-probe index below has a pinned driver-side
    # sample regardless of whether the parquet cache already exists
    cid = rng_c.integers(0, n_clusters, size=SYNTH_N)
    cmat = (
        centers[cid] + rng_c.normal(scale=1.0, size=(SYNTH_N, SYNTH_D))
    ).astype(np.float64)
    if not os.path.exists(CLUSTERED_PATH):
        import pandas as pd

        spark.createDataFrame(
            pd.DataFrame(
                {"vec_id": np.arange(SYNTH_N), "embedding": list(cmat)}
            )
        ).write.mode("overwrite").parquet(CLUSTERED_PATH)
    clustered = spark.read.parquet(CLUSTERED_PATH).cache()
    clustered.count()
    def _build_b5c():
        idx = build_ivf_index(clustered, n_cells=64)
        idx.assigned = idx.assigned.cache()
        idx.assigned.count()
        return idx, lambda: idx.assigned.unpersist()

    t_b5c, c_index = _median_build(_build_b5c, runs=3)
    timings["b5c_ivf_build_sec"] = round(t_b5c, 4)
    q_rng = np.random.default_rng(11)
    # 16 seeded queries drawn from distinct mixture components
    c_queries = [
        (centers[i] + q_rng.normal(scale=1.0, size=SYNTH_D)).tolist()
        for i in range(0, 16 * 8, 8)
    ]
    timings["b5c_ivf_topk_nprobe4"] = round(
        _median_time(
            lambda: c_index.search(
                c_queries[0], 10, nprobe=4, tie_cols=["vec_id"]
            ).collect(),
            runs=5,
        ),
        4,
    )
    # deterministic probe index on the clustered corpus (same recipe
    # as b5: pinned sample, seeded Lloyd's, batched two-job recall)
    det_c_index = build_ivf_index_deterministic(
        clustered, 64, cmat[:100_000], seed=42
    )
    det_c_index.assigned = det_c_index.assigned.cache()
    det_c_index.assigned.count()
    timings["b5c_ivf_recall_at_10"] = round(
        recall_at_k_batch(det_c_index, clustered, c_queries, k=10, nprobe=4),
        4,
    )
    # nprobe 8/64 (12.5% of the corpus scanned) is the recall>=0.9
    # operating point on clustered data
    timings["b5c_ivf_recall_at_10_nprobe8"] = round(
        recall_at_k_batch(det_c_index, clustered, c_queries, k=10, nprobe=8),
        4,
    )

    _steal.mark("b6")
    # ---- B6: IVF-PQ (memory-bounded ANN) on the clustered 600k
    # corpus — codes quantize the RESIDUAL x − cell centroid (flat PQ
    # measured recall 0 here: whole clusters tie), 8 bytes/vector
    # (32×); ADC scan over codes + exact re-rank of the shortlist,
    # optionally nprobe-pruned through the same cells as B5c.
    from nebuia_vector_db_spark.operators.pq import encode_pq, train_pq
    from nebuia_vector_db_spark.operators.topk import topk_search

    def _build_b6():
        # deterministic cells + pinned training sample: the b6 recall
        # rows double as regression signals (see b5 comment)
        books = train_pq(
            det_c_index.assigned, m=16, k=256, sample=100_000,
            cell_centroids=det_c_index.centroids,
            sample_matrix=cmat[:100_000],
        )
        enc = encode_pq(
            det_c_index.assigned, books, cell_centroids=det_c_index.centroids
        )
        enc.codes = enc.codes.cache()
        enc.codes.count()
        return enc, lambda: enc.codes.unpersist()

    t_b6, pq = _median_build(_build_b6, runs=3)
    timings["b6_pq_train_encode_sec"] = round(t_b6, 4)
    timings["b6_pq_adc_topk"] = round(
        _median_time(
            lambda: pq.search(
                clustered, c_queries[0], 10, tie_cols=["vec_id"]
            ).collect(),
            runs=3,
        ),
        4,
    )
    timings["b6_pq_rerank_topk_nprobe8"] = round(
        _median_time(
            lambda: pq.search(
                clustered, c_queries[0], 10, rerank=3000, nprobe=8,
                tie_cols=["vec_id"],
            ).collect(),
            runs=3,
        ),
        4,
    )
    adc_rec, rr_rec = [], []
    for q in c_queries[:4]:
        want = {
            r["vec_id"]
            for r in topk_search(
                clustered, q, 10, tie_cols=["vec_id"]
            ).collect()
        }
        adc = {
            r["vec_id"]
            for r in pq.search(clustered, q, 10, tie_cols=["vec_id"]).collect()
        }
        rr = {
            r["vec_id"]
            for r in pq.search(
                clustered, q, 10, rerank=3000, nprobe=8, tie_cols=["vec_id"]
            ).collect()
        }
        adc_rec.append(len(adc & want) / 10)
        rr_rec.append(len(rr & want) / 10)
    timings["b6_pq_adc_recall_at_10"] = round(sum(adc_rec) / len(adc_rec), 4)
    timings["b6_pq_rerank_recall_at_10"] = round(sum(rr_rec) / len(rr_rec), 4)

    _steal.mark("b6o_b6x")
    # ---- B6o/B6x: OPQ rotation (round 6) — codes-only ADC recall at
    # the SAME 16-byte budget, paired PQ-vs-OPQ with identical
    # training samples so the rotation is the only variable.
    # B6o = the clustered corpus: IVF residuals there are NEAR-
    # ISOTROPIC (unit Gaussian noise), so theory predicts a modest
    # gain — reported honestly as the unfavorable case.
    # B6x = a rotated anisotropic spectrum (exp eigendecay, basis NOT
    # axis-aligned — the shape of real transformer embeddings), where
    # subspace misallocation is the binding constraint: this is the
    # case OPQ exists for.
    # Round 7 (VERDICT r6 #3): recall rows use 64 queries (6 was
    # ±0.07 sampling noise — below the effect size), each row gets a
    # paired HELD-OUT reconstruction-MSE twin (the direct quantity),
    # and OPQ starts from the parametric eigenvalue-allocation init
    # (train_opq init="eigen"), which on the b6x spectrum is worth
    # far more than alternation alone (driver-measured at 200k x 64:
    # MSE 0.53 PQ -> 0.22 identity-init OPQ -> 0.047 eigen-init OPQ;
    # ADC recall@10 0.50 -> 0.60 -> 0.74).
    from nebuia_vector_db_spark.operators.pq import (
        _encode_np,
        _reconstruct_np,
        _training_residuals,
        pq_search_batch,
        train_opq,
    )

    def _paired_adc_recall(corpus_df, smat, eval_mat, queries, prefix,
                           m_=16, cell_index=None):
        cc = cell_index.centroids if cell_index is not None else None
        src = cell_index.assigned if cell_index is not None else corpus_df
        t0 = time.monotonic()
        books_p = train_pq(
            src, m=m_, k=256, sample=len(smat), iters=10,
            cell_centroids=cc, sample_matrix=smat,
        )
        rot, books_o = train_opq(
            src, m=m_, k=256, sample=len(smat), iters=10, opq_iters=4,
            cell_centroids=cc, sample_matrix=smat, init="eigen",
        )
        timings[f"{prefix}_train_sec"] = round(time.monotonic() - t0, 4)
        timings[f"{prefix}_rotation_orth_err"] = float(
            np.abs(rot @ rot.T - np.eye(rot.shape[0])).max()
        )
        # the direct quantity: reconstruction MSE on a HELD-OUT slice
        # (disjoint from the training sample), same residual
        # convention as training
        xe = _training_residuals(
            src, len(eval_mat), "embedding", "ivf_cell", cc, eval_mat
        )
        for tag, books, r_ in (("pq", books_p, None), ("opq", books_o, rot)):
            y = xe if r_ is None else xe @ r_
            y_hat = _reconstruct_np(_encode_np(y, books), books)
            timings[f"{prefix}_{tag}_holdout_mse"] = round(
                float(np.mean(np.sum((y - y_hat) ** 2, axis=1))), 6
            )
        qdf = spark.createDataFrame(
            [(int(i), list(map(float, q))) for i, q in enumerate(queries)],
            "query_id long, query_vec array<double>",
        ).cache()
        qdf.count()
        exact = knn_join(
            qdf, corpus_df, k=10, tie_cols=["vec_id"], method="arrow"
        ).collect()
        want = {}
        for r in exact:
            want.setdefault(r["query_id"], set()).add(r["vec_id"])
        for tag, books, r_ in (("pq", books_p, None), ("opq", books_o, rot)):
            enc = encode_pq(src, books, cell_centroids=cc, rotation=r_)
            enc.codes = enc.codes.cache()
            enc.codes.count()
            got = {}
            for r in pq_search_batch(
                enc, corpus_df, qdf, topk=10, tie_cols=["vec_id"]
            ).collect():
                got.setdefault(r["query_id"], set()).add(r["vec_id"])
            rec = [
                len(got.get(qid, set()) & w) / 10 for qid, w in want.items()
            ]
            timings[f"{prefix}_{tag}_adc_recall_at_10"] = round(
                sum(rec) / len(rec), 4
            )
            enc.codes.unpersist()
        qdf.unpersist()

    b6o_rng = np.random.default_rng(17)
    b6o_queries = [
        centers[i % len(centers)]
        + b6o_rng.normal(scale=1.0, size=SYNTH_D)
        for i in range(64)
    ]
    _paired_adc_recall(
        clustered, cmat[:30_000], cmat[30_000:40_000], b6o_queries,
        "b6o", cell_index=det_c_index,
    )
    an_d, an_n = SYNTH_D, 200_000
    an_rng = np.random.default_rng(5)
    an_scales = np.exp(-np.arange(an_d) / 12.0)
    an_basis = np.linalg.qr(an_rng.normal(size=(an_d, an_d)))[0]
    an_mat = (
        (an_rng.normal(size=(an_n, an_d)) * an_scales) @ an_basis.T
    ).astype(np.float64)
    import pandas as _pd

    an_df = spark.createDataFrame(
        _pd.DataFrame(
            {"vec_id": np.arange(an_n), "embedding": list(an_mat)}
        )
    ).cache()
    an_df.count()
    an_queries = (an_rng.normal(size=(64, an_d)) * an_scales) @ an_basis.T
    _paired_adc_recall(
        an_df, an_mat[:40_000], an_mat[40_000:50_000],
        list(an_queries), "b6x",
    )
    an_df.unpersist()

    _steal.mark("b7")
    # ---- B7: SQ8 (int8 + per-vector scale, 4×, no training) on the
    # same 600k corpus — the middle rung of the storage ladder.
    from nebuia_vector_db_spark.operators.sq import sq8_encode, sq8_topk

    sq_codes = sq8_encode(clustered).select(
        "vec_id", "sq8_scale", "sq8_codes"
    ).cache()
    sq_codes.count()
    from nebuia_vector_db_spark.operators.sq import sq8_similarity

    def _sq8_query(q):
        return (
            sq_codes.withColumn("similarity", sq8_similarity(q))
            .orderBy(F.desc("similarity"), "vec_id")
            .limit(10)
            .collect()
        )

    timings["b7_sq8_topk_600k"] = round(
        _median_time(lambda: _sq8_query(c_queries[0]), runs=5), 4
    )
    sq_rec = []
    for q in c_queries[:4]:
        want = {
            r["vec_id"]
            for r in topk_search(
                clustered, q, 10, tie_cols=["vec_id"]
            ).collect()
        }
        got = {r["vec_id"] for r in _sq8_query(q)}
        sq_rec.append(len(got & want) / 10)
    timings["b7_sq8_recall_at_10"] = round(sum(sq_rec) / len(sq_rec), 4)
    sq_codes.unpersist()

    _steal.mark("b15")
    # ---- B15: BINARY QUANTIZATION (round 7, operators/bq.py) — the
    # 32× rung under SQ8: one int64 word per vector at d=64, scored
    # with XOR+POPCNT inside codegen. Encode cost is one projection;
    # the scan row shows the 8-byte/vector shortlist pass; recall
    # rows use ALL 16 seeded queries (the b6 OPQ lesson: 4-6 queries
    # is sampling noise) — raw sign-cosine recall is the SimHash
    # estimator's, and the rerank row shows the two-stage design
    # (Hamming shortlist 100 → exact re-rank) recovering it.
    from nebuia_vector_db_spark.operators.bq import (
        bq_encode,
        bq_similarity_bits,
        bq_topk_rerank,
        encode_query_bits,
    )

    def _build_b15():
        packed = bq_encode(clustered, dim=SYNTH_D).select(
            "vec_id", "embedding", "bq_w0"
        ).cache()
        packed.count()
        return packed, lambda: packed.unpersist()

    t_b15, bq_packed = _median_build(_build_b15, runs=3)
    timings["b15_bq_encode_sec"] = round(t_b15, 4)

    def _bq_query(q):
        qw = encode_query_bits(q)
        return (
            bq_packed.select(
                "vec_id", bq_similarity_bits(qw, SYNTH_D).alias("sim_bits")
            )
            .orderBy(F.desc("sim_bits"), "vec_id")
            .limit(10)
            .collect()
        )

    timings["b15_bq_topk_600k"] = round(
        _median_time(lambda: _bq_query(c_queries[0]), runs=5), 4
    )
    # Recall curve vs shortlist size. On the CLUSTERED corpus the
    # 64-bit code resolves BETWEEN clusters but barely WITHIN one
    # (every member shares the center's sign pattern, so the true
    # top-10 scatter across the ~4.7k-member cluster's Hamming
    # ranks — measured worst needed rank 4670). The honest numbers:
    # raw sign-cosine ≈ 0, shortlist-100 ≈ 0.04, and a 1%-of-corpus
    # shortlist (6000) is EXACT (recall 1.0) while the corpus scan
    # still reads 8 B/vector and the float column is fetched for 1%.
    bq_raw_rec, bq_rr100_rec, bq_rr6k_rec = [], [], []
    for q in c_queries:
        want = {
            r["vec_id"]
            for r in topk_search(
                clustered, q, 10, tie_cols=["vec_id"]
            ).collect()
        }
        raw = {r["vec_id"] for r in _bq_query(q)}
        rr100 = {
            r["vec_id"]
            for r in bq_topk_rerank(
                bq_packed, q, 10, rerank_k=100, tie_cols=["vec_id"]
            ).collect()
        }
        rr6k = {
            r["vec_id"]
            for r in bq_topk_rerank(
                bq_packed, q, 10, rerank_k=6000, tie_cols=["vec_id"]
            ).collect()
        }
        bq_raw_rec.append(len(raw & want) / 10)
        bq_rr100_rec.append(len(rr100 & want) / 10)
        bq_rr6k_rec.append(len(rr6k & want) / 10)
    timings["b15_bq_recall_at_10"] = round(sum(bq_raw_rec) / len(bq_raw_rec), 4)
    timings["b15_bq_rerank100_recall_at_10"] = round(
        sum(bq_rr100_rec) / len(bq_rr100_rec), 4
    )
    timings["b15_bq_rerank6000_recall_at_10"] = round(
        sum(bq_rr6k_rec) / len(bq_rr6k_rec), 4
    )
    timings["b15_bq_rerank6000_topk_sec"] = round(
        _median_time(
            lambda: bq_topk_rerank(
                bq_packed, c_queries[0], 10, rerank_k=6000,
                tie_cols=["vec_id"],
            ).collect(),
            runs=5,
        ),
        4,
    )
    bq_packed.unpersist()

    _steal.mark("b12")
    # ---- B12: BATCH ANN (round 4, IVFIndex.search_batch) — 16 queries
    # through per-query probed cells in ONE cell-grouped GEMM corpus pass,
    # vs the exact batch kNN full scan. On the clustered corpus the
    # probed cells concentrate, so the scan fraction (union of probed
    # cells / all cells, and candidate rows / corpus) is the
    # scale-relevant number; recall comes from the same deterministic
    # index as b5c so it is bit-stable.
    b12_qdf = spark.createDataFrame(
        [(int(i), q) for i, q in enumerate(c_queries)],
        "query_id long, query_vec array<double>",
    ).cache()
    b12_qdf.count()

    def _b12_batch():
        det_c_index.search_batch(
            b12_qdf, 10, nprobe=8, tie_cols=["vec_id"]
        ).collect()

    timings["b12_batch_ann_nprobe8_sec"] = round(
        _median_time(_b12_batch, runs=3), 4
    )

    def _b12_exact():
        knn_join(
            b12_qdf, clustered, k=10, tie_cols=["vec_id"], method="arrow"
        ).collect()

    timings["b12_exact_knn_sec"] = round(_median_time(_b12_exact, runs=3), 4)
    union_cells = set()
    for q in c_queries:
        union_cells.update(det_c_index.probe_cells(q, 8))
    timings["b12_union_cells_fraction"] = round(
        len(union_cells) / det_c_index.n_cells, 4
    )
    timings["b12_candidate_rows_fraction"] = round(
        det_c_index.assigned.where(
            F.col("ivf_cell").isin(sorted(union_cells))
        ).count()
        / SYNTH_N,
        4,
    )
    timings["b12_batch_recall_at_10"] = round(
        recall_at_k_batch(det_c_index, clustered, c_queries, k=10, nprobe=8),
        4,
    )
    # Locality batch — the realistic serving shape (a query batch
    # clusters around hot topics): 16 queries drawn from only 4
    # mixture components. The probed-cell union collapses and the
    # masked single-pass scan beats the exact full scan outright;
    # the diverse 16-component batch above is the honest worst case
    # (union ≈ most cells — batch ANN can't prune what doesn't
    # overlap).
    loc_rng = np.random.default_rng(13)
    loc_queries = [
        (centers[c] + loc_rng.normal(scale=1.0, size=SYNTH_D)).tolist()
        for c in (3, 40, 77, 110)
        for _ in range(4)
    ]
    loc_qdf = spark.createDataFrame(
        [(int(i), q) for i, q in enumerate(loc_queries)],
        "query_id long, query_vec array<double>",
    ).cache()
    loc_qdf.count()
    timings["b12_local_batch_ann_nprobe8_sec"] = round(
        _median_time(
            lambda: det_c_index.search_batch(
                loc_qdf, 10, nprobe=8, tie_cols=["vec_id"]
            ).collect(),
            runs=3,
        ),
        4,
    )
    timings["b12_local_exact_knn_sec"] = round(
        _median_time(
            lambda: knn_join(
                loc_qdf, clustered, k=10, tie_cols=["vec_id"],
                method="arrow",
            ).collect(),
            runs=3,
        ),
        4,
    )
    loc_union = set()
    for q in loc_queries:
        loc_union.update(det_c_index.probe_cells(q, 8))
    timings["b12_local_union_cells_fraction"] = round(
        len(loc_union) / det_c_index.n_cells, 4
    )
    timings["b12_local_candidate_rows_fraction"] = round(
        det_c_index.assigned.where(
            F.col("ivf_cell").isin(sorted(loc_union))
        ).count()
        / SYNTH_N,
        4,
    )
    timings["b12_local_batch_recall_at_10"] = round(
        recall_at_k_batch(
            det_c_index, clustered, loc_queries, k=10, nprobe=8
        ),
        4,
    )
    _steal.mark("b12_fine")
    # ---- B12-FINE (round 9, VERDICT r8 task #3): same diverse
    # 16-component batch, FINER geometry. The 64-cell union saturation
    # above is pigeonhole (16 disjoint queries x 8 probes >= 84% of 64
    # cells), not a routing defect: at C=512 the same batch unions
    # ~23% of cells at recall 1.0.
    det_fine_index = build_ivf_index_deterministic(
        clustered, 512, cmat[:100_000], seed=42
    )
    det_fine_index.assigned = det_fine_index.assigned.cache()
    det_fine_index.assigned.count()
    timings["b12_fine_batch_ann_nprobe8_sec"] = round(
        _median_time(
            lambda: det_fine_index.search_batch(
                b12_qdf, 10, nprobe=8, tie_cols=["vec_id"]
            ).collect(),
            runs=3,
        ),
        4,
    )
    fine_union = set()
    for q in c_queries:
        fine_union.update(det_fine_index.probe_cells(q, 8))
    timings["b12_fine_union_cells_fraction"] = round(
        len(fine_union) / det_fine_index.n_cells, 4
    )
    timings["b12_fine_candidate_rows_fraction"] = round(
        det_fine_index.assigned.where(
            F.col("ivf_cell").isin(sorted(fine_union))
        ).count()
        / SYNTH_N,
        4,
    )
    timings["b12_fine_batch_recall_at_10"] = round(
        recall_at_k_batch(
            det_fine_index, clustered, c_queries, k=10, nprobe=8
        ),
        4,
    )
    det_fine_index.assigned.unpersist()

    loc_qdf.unpersist()
    b12_qdf.unpersist()
    det_c_index.assigned.unpersist()

    _steal.mark("b8")
    # ---- B8: scale-slope sweep — the 100 TB claim measured, not just
    # argued from plans. The batched-GEMM kNN (16 queries in one job)
    # runs at 600k / 2.4M / 9.6M vectors; with a fixed query set the
    # work is exactly linear in corpus size, so wall time should grow
    # ~4x per step. b8_slope_* records t(next) / (t(prev) * 4) — 1.0 is
    # perfectly linear, the gate in VERDICT r2 #4 is <= 1.3.
    import pandas as pd

    def _ensure_scaled(n: int, path: str) -> None:
        if os.path.exists(path):
            return

        def _gen(batches):
            for pdf in batches:
                ids = pdf["id"].to_numpy()
                rng = np.random.default_rng(
                    1000 + (int(ids[0]) if len(ids) else 0)
                )
                m = rng.normal(size=(len(ids), SYNTH_D)).astype(np.float32)
                yield pd.DataFrame({"vec_id": ids, "embedding": list(m)})

        # same partition count as the 600k base corpus: a mismatched
        # count quantizes the sweep into task waves (measured: 64
        # partitions on 32 cores bent the 2.4M point to slope 1.45
        # while the 16x overall slope was 0.98)
        (
            spark.range(n)
            .repartition(int(CPUS))
            .mapInPandas(_gen, "vec_id long, embedding array<float>")
            .write.mode("overwrite")
            .parquet(path)
        )

    sweep_queries = spark.createDataFrame(
        [(int(i), mat[i].astype(np.float64).tolist()) for i in qids[:16]],
        "query_id long, query_vec array<double>",
    ).cache()
    sweep_queries.count()
    # round 6 (VERDICT r5 task #4): extended 4x past the round-4
    # top — 38.4M x 64-dim float32 ~ 9.8 GB cached, the order-
    # of-magnitude point the 100 TB linearity claim was missing
    sweep_sizes = [600_000, 2_400_000, 9_600_000, 38_400_000]
    sweep_times: list[float] = []
    for n_rows in sweep_sizes:
        if n_rows == SYNTH_N:
            corpus = big  # already cached
        else:
            path = f"/tmp/nebuia_bench_sweep_{n_rows}.parquet"
            _ensure_scaled(n_rows, path)
            corpus = spark.read.parquet(path)
            # VERDICT r6 #2: a deserialized in-memory cache of the
            # 38.4M x 64-d corpus (~10 GB columnar) OOMs small driver
            # heaps. Memory-cache only when the heap comfortably fits
            # it (est. ~280 B/row cached); otherwise DISK_ONLY — the
            # GEMM is compute-bound, so the re-read is noise.
            heap_gb = _parse_mem_gb(
                os.environ.get("SPARK_DRIVER_MEMORY", "8g")
            )
            est_gb = n_rows * 280 / (1 << 30)
            if est_gb < heap_gb * 0.4:
                corpus = corpus.cache()
            else:
                from pyspark import StorageLevel

                corpus = corpus.persist(StorageLevel.DISK_ONLY)
            corpus.count()
        t = _median_time(
            lambda: knn_join(
                sweep_queries, corpus, k=10, tie_cols=["vec_id"],
                method="arrow",
            ).collect(),
            # round 9 (VERDICT r8 #8): the 38.4M point sits close to
            # the <=1.3 slope bar (r7 0.87, r8 1.32 on identical
            # code — box-load variance); median-of-5 at the largest
            # size tightens the estimate where one outlier run moves
            # the gate. See BASELINE.md's slope tolerance note.
            runs=5 if n_rows == sweep_sizes[-1] else 3,
        )
        sweep_times.append(t)
        timings[f"b8_scale_sweep_{n_rows // 1000}k"] = round(t, 4)
        if corpus is not big:
            corpus.unpersist()
    for prev_n, next_n, t_prev, t_next in zip(
        sweep_sizes, sweep_sizes[1:], sweep_times, sweep_times[1:]
    ):
        ratio = (t_next / t_prev) / (next_n / prev_n)
        timings[f"b8_slope_{next_n // 1000}k"] = round(ratio, 4)
    # end-to-end slope over the full 16x: the per-step ratios wobble
    # with scheduling quantization; this is the number the linearity
    # claim rests on (1.0 = perfectly linear)
    timings["b8_slope_overall"] = round(
        (sweep_times[-1] / sweep_times[0])
        / (sweep_sizes[-1] / sweep_sizes[0]),
        4,
    )
    sweep_queries.unpersist()

    _steal.mark("b15_scale_pair")
    # ---- B15 scale pair: the BQ scan-bytes story measured. Pack the
    # 600k and 9.6M sweep corpora ONCE each to a words-only parquet
    # (vec_id + one int64 word — what a 100 TB deployment stores
    # beside the floats), then time the Hamming top-k on the PACKED
    # table: the scan reads ~16 B/row instead of 260+, and the slope
    # row shows the XOR/POPCNT pass staying linear across the 16×.
    from nebuia_vector_db_spark.operators.bq import (
        bq_encode as _bq_enc,
        bq_similarity_bits as _bq_sim,
        encode_query_bits as _bq_qbits,
    )

    b15_scan_times = {}
    for n_rows in (600_000, 9_600_000):
        src = (
            SYNTH_PATH
            if n_rows == SYNTH_N
            else f"/tmp/nebuia_bench_sweep_{n_rows}.parquet"
        )
        packed_path = f"/tmp/nebuia_bench_bqwords_{n_rows}.parquet"
        if not os.path.exists(packed_path):
            t0 = time.perf_counter()
            _bq_enc(spark.read.parquet(src), dim=SYNTH_D).select(
                "vec_id", "bq_w0"
            ).write.mode("overwrite").parquet(packed_path)
            timings[f"b15_bq_pack_{n_rows // 1000}k_sec"] = round(
                time.perf_counter() - t0, 4
            )
        qw = _bq_qbits(mat[qids[0]].astype(np.float64).tolist())

        def _bq_packed_scan():
            return (
                spark.read.parquet(packed_path)
                .select("vec_id", _bq_sim(qw, SYNTH_D).alias("sim_bits"))
                .orderBy(F.desc("sim_bits"), "vec_id")
                .limit(10)
                .collect()
            )

        t = _median_time(_bq_packed_scan, runs=5)
        b15_scan_times[n_rows] = t
        timings[f"b15_bq_packed_topk_{n_rows // 1000}k"] = round(t, 4)
    timings["b15_bq_packed_scan_slope_9600k"] = round(
        (b15_scan_times[9_600_000] / b15_scan_times[600_000]) / 16.0, 4
    )

    _steal.mark("b9")
    # ---- B9: the blocked (above-cap) exact-cosine scale path with a
    # measured number (VERDICT r2 #5): 240k vectors forced onto
    # _cosine_pairs_blocked (max_broadcast_rows below N, 6 blocks ->
    # 21 block-pair GEMM tasks). Kept to a 240k subset so the
    # quadratic all-pairs job stays bounded per round; the number to
    # watch is b9_blocked_pairs_per_sec (scale-invariant throughput).
    from nebuia_vector_db_spark.operators.dedup import exact_cosine_pairs

    b9_n = 240_000
    sub = big.where(F.col("vec_id") < b9_n).cache()
    sub.count()

    def _b9():
        exact_cosine_pairs(
            sub, threshold=0.9, max_broadcast_rows=100_000,
            block_rows=40_000,
        ).count()

    t_b9 = _median_time(_b9, runs=3, warmup=0)
    timings["b9_blocked_cosine_240k_sec"] = round(t_b9, 4)
    timings["b9_blocked_pairs_per_sec"] = round(
        (b9_n * (b9_n - 1) / 2) / t_b9, 1
    )
    sub.unpersist()

    _steal.mark("b10")
    # ---- B10: SnapshotTable + Z-order planning-time data skipping
    # (round 3): lay lineitem out z-ordered on (l_orderkey,
    # l_partkey), snapshot it, and measure a box query on the SECOND
    # dimension — the one a linear sort cannot prune. Recorded:
    # layout cost, fraction of files the planner scans (the headline:
    # at 100 TB scan cost is proportional to files touched), and both
    # read wall times. At sf0.1 the two times sit AT THE ~0.2 s
    # dispatch floor (BASELINE.md §3) — 600k rows is scheduling-
    # bound either way; the fraction is the scale-relevant number.
    # Results are identical (predicate applied on both paths).
    from nebuia_vector_db_spark.operators.zorder import cluster_by_zorder
    from nebuia_vector_db_spark.sources.snapshot import SnapshotTable

    import shutil as _sh
    import tempfile as _tf

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").select(
        "l_orderkey", "l_partkey", "l_quantity", "l_extendedprice"
    )
    zroot = _tf.mkdtemp(prefix="nvdb_bench_z_")
    t0 = time.perf_counter()
    ztbl = SnapshotTable.create(
        spark,
        os.path.join(zroot, "t"),
        cluster_by_zorder(li, ["l_orderkey", "l_partkey"], 32, bits=8),
    )
    timings["b10_zorder_snapshot_layout_sec"] = round(
        time.perf_counter() - t0, 4
    )
    pk_hi = li.agg(F.max("l_partkey")).head()[0]
    box = [("l_partkey", ">=", 1), ("l_partkey", "<=", max(1, pk_hi // 20))]
    n_files = ztbl.n_files()
    n_scanned = ztbl.pruned_file_count(box)
    timings["b10_files_scanned_fraction"] = round(n_scanned / n_files, 4)
    # each timed run builds a FRESH DataFrame: re-collecting one plan
    # object lets Spark 4 AQE reuse the materialized query stages and
    # the second run times a no-op (~45 ms regardless of data volume)
    timings["b10_pruned_read_sec"] = round(
        _median_time(lambda: ztbl.read(where=box).count(), runs=3), 4
    )
    timings["b10_full_scan_read_sec"] = round(
        _median_time(
            lambda: ztbl.read()
            .where(
                (F.col("l_partkey") >= box[0][2])
                & (F.col("l_partkey") <= box[1][2])
            )
            .count(),
            runs=3,
        ),
        4,
    )
    _sh.rmtree(zroot, ignore_errors=True)

    _steal.mark("b10_xl")
    # ---- B10-XL (VERDICT r3 #6): the same read pair at the b8 9.6M-row
    # scale laid out as 512 files — the regime where planning-time file
    # skipping must win WALL CLOCK. At 100 TB the full-scan cost the
    # snapshot pruning removes is per-FILE overhead (open + footer
    # read + task schedule): Spark's own row-group pruning hides the
    # difference at 64 files, so the XL layout uses 512 (≙ a day's
    # commit count), where the pruned plan launches ~1/6 of the tasks.
    # The aggregate projects the Z-ordered key columns, so both paths
    # do real column IO on every surviving row group.
    xl_src = spark.read.parquet("/tmp/nebuia_bench_sweep_9600000.parquet")
    xl = xl_src.select(
        "vec_id",
        "embedding",
        F.pmod(F.xxhash64("vec_id"), F.lit(4096)).cast("long").alias("zx"),
        F.pmod(F.xxhash64("vec_id", F.lit(7)), F.lit(4096))
        .cast("long")
        .alias("zy"),
    )
    zroot_xl = _tf.mkdtemp(prefix="nvdb_bench_zxl_")

    # carry the 64-float embedding payload: with only the three long
    # key columns the whole 9.6M-row scan is ~20 ms of page-cached IO
    # and both read paths sit at the job-dispatch floor (the r4 lesson
    # from the first sf0.1 run); a wide payload column makes the scan
    # volume — exactly what file skipping removes — the dominant cost.
    # Median-of-3 (the b14 treatment, VERDICT r10 task #2): the
    # single-shot layout number swung 17.4 → 70.4 s across identical
    # code under box load — a real snapshot-write regression must be
    # distinguishable from a noisy run. Each run builds into a fresh
    # directory and deletes the losers.
    _xl_seq = [0]

    def _build_xl():
        _xl_seq[0] += 1
        d = os.path.join(zroot_xl, f"t{_xl_seq[0]}")
        t = SnapshotTable.create(
            spark,
            d,
            cluster_by_zorder(xl, ["zx", "zy"], 512, bits=8),
            stats_cols=["zx", "zy"],
        )
        return t, lambda: _sh.rmtree(d, ignore_errors=True)

    t_xl_build, ztbl_xl = _median_build(_build_xl, runs=3)
    timings["b10xl_zorder_snapshot_layout_sec"] = round(t_xl_build, 4)
    box_xl = [("zy", ">=", 0), ("zy", "<=", 255)]
    timings["b10xl_files_total"] = ztbl_xl.n_files()
    timings["b10xl_files_scanned_fraction"] = round(
        ztbl_xl.pruned_file_count(box_xl) / ztbl_xl.n_files(), 4
    )
    # the aggregate reads the payload column on every surviving row
    # (deterministic long sum, so pruned ≡ full is assertable); fresh
    # DataFrames per timed run — see the b10 stage-reuse note above
    def _ps():
        return F.sum((F.element_at("embedding", 1) * 1000).cast("long"))

    def _pruned_xl():
        return ztbl_xl.read(where=box_xl).agg(
            F.count("*"), F.sum("zx"), _ps()
        )

    def _full_xl():
        return (
            ztbl_xl.read()
            .where((F.col("zy") >= 0) & (F.col("zy") <= 255))
            .agg(F.count("*"), F.sum("zx"), _ps())
        )

    assert _pruned_xl().collect() == _full_xl().collect()
    timings["b10xl_pruned_read_sec"] = round(
        _median_time(lambda: _pruned_xl().collect(), runs=3), 4
    )
    timings["b10xl_full_scan_read_sec"] = round(
        _median_time(lambda: _full_xl().collect(), runs=3), 4
    )
    _sh.rmtree(zroot_xl, ignore_errors=True)

    _steal.mark("b11")
    # ---- B11: dedup-pipeline scale sweep (round 3): MinHash-LSH
    # end-to-end (shingle -> 128-perm signatures -> 32-band self-join
    # -> exact-Jaccard verify) at 5k / 20k / 80k synthetic docs with
    # a fixed 2% near-dup rate. b8 sweeps the GEMM family; this
    # sweeps the shuffle/join family — the other half of the 100 TB
    # claim. Slope = t(next) / (t(prev) * 4); ~1.0 is linear.
    # Round 6 (VERDICT r5 task #4): the sweep now tops out at 320k
    # docs — an order of magnitude past the round-4 80k point, so
    # the join-family linearity claim is measured, not extrapolated.
    from nebuia_vector_db_spark.operators.dedup import minhash_lsh_pairs

    def _synth_docs(n_docs: int):
        # every 50th doc duplicates its predecessor's text exactly
        src = F.when(
            (F.col("id") % 50 == 0) & (F.col("id") > 0),
            F.col("id") - 1,
        ).otherwise(F.col("id"))
        return (
            spark.range(n_docs)
            .select(F.col("id").alias("doc_id"), src.alias("_src"))
            .select(
                "doc_id",
                # hash-mixed words: distinct docs share almost no
                # shingles, so the only >=0.9 pairs are the injected
                # exact dups (a periodic arithmetic generator would
                # alias whole documents)
                F.expr(
                    "concat_ws(' ', transform(sequence(0, 29), j -> "
                    "concat('w', pmod(xxhash64(concat(cast(_src as "
                    "string), '_', cast(j as string))), 100000))))"
                ).alias("text"),
            )
        )

    prev_t = None
    b11_sizes = [5_000, 20_000, 80_000, 320_000]
    for n_docs in b11_sizes:
        docs_n = _synth_docs(n_docs).cache()
        docs_n.count()

        def _b11():
            minhash_lsh_pairs(docs_n, threshold=0.9).count()

        t = _median_time(_b11, runs=3, warmup=1)
        timings[f"b11_minhash_sweep_{n_docs // 1000}k"] = round(t, 4)
        if prev_t is not None:
            timings[f"b11_slope_{n_docs // 1000}k"] = round(
                t / (prev_t * 4), 4
            )
        prev_t = t
        docs_n.unpersist()
    from nebuia_vector_db_spark.operators.textvec import (
        release_cached_relations as _release,
    )

    _release()  # b11 registers one band cache per run

    _steal.mark("b13")
    # ---- B13 (round 4): multimodal container/codec throughput on a
    # bounded 128-doc sample — AVI mux (sliding text windows -> exact
    # flat-block JPEG frames -> RIFF container) and demux+per-frame
    # JPEG decode (the mm_video_frames path), plus a pure-codec
    # progressive-vs-baseline throughput pair. Bounded so the heavy
    # Python codec work stays a few seconds; the Spark side is
    # mapInPandas map-side work that scales with executors.
    from nebuia_vector_db_spark.multimodal.assets import (
        attach_avi_assets,
        video_frame_stats,
    )

    b13_docs = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .select("doc_id", "text")
        .limit(128)
        .cache()
    )
    b13_docs.count()
    t0 = time.perf_counter()
    b13_assets = attach_avi_assets(b13_docs).cache()
    b13_assets.count()
    timings["b13_video_mux_sec"] = round(time.perf_counter() - t0, 4)
    t0 = time.perf_counter()
    b13_frames = video_frame_stats(b13_assets).agg(
        F.count("*").alias("n"), F.sum("frame_max").alias("s")
    ).head()
    timings["b13_video_demux_decode_sec"] = round(
        time.perf_counter() - t0, 4
    )
    timings["b13_video_frames_total"] = int(b13_frames["n"])
    timings["b13_video_decode_fps"] = round(
        b13_frames["n"] / max(timings["b13_video_demux_decode_sec"], 1e-9),
        1,
    )
    b13_assets.unpersist()

    # the same 128-doc sample through the other two container
    # grammars (ISO-BMFF, EBML): identical frames, so the fps deltas
    # isolate pure demux cost across the three parsers
    from nebuia_vector_db_spark.multimodal.assets import (
        attach_mkv_assets,
        attach_mp4_assets,
    )

    for label, attach in (
        ("mp4", attach_mp4_assets), ("mkv", attach_mkv_assets)
    ):
        a = attach(b13_docs).cache()
        a.count()
        t0 = time.perf_counter()
        n = video_frame_stats(a).agg(F.count("*")).head()[0]
        dt = time.perf_counter() - t0
        timings[f"b13_{label}_demux_decode_sec"] = round(dt, 4)
        timings[f"b13_{label}_decode_fps"] = round(n / max(dt, 1e-9), 1)
        a.unpersist()
    b13_docs.unpersist()

    # pure-codec pair: progressive vs baseline on the same 16 frames
    # (driver-side, no Spark dispatch — isolates codec throughput)
    from nebuia_vector_db_spark.multimodal.jpeg import (
        decode_jpeg as _dj,
        encode_jpeg_gray as _ejg,
        encode_jpeg_progressive as _ejp,
    )

    _rng13 = np.random.default_rng(13)
    _frames13 = [
        _rng13.integers(0, 256, (64, 64), dtype=np.uint8)
        for _ in range(16)
    ]
    t0 = time.perf_counter()
    _base13 = [_dj(_ejg(f, 85)) for f in _frames13]
    timings["b13_jpeg_baseline_roundtrip_sec"] = round(
        time.perf_counter() - t0, 4
    )
    t0 = time.perf_counter()
    _prog13 = [_dj(_ejp(f, 85)) for f in _frames13]
    timings["b13_jpeg_progressive_roundtrip_sec"] = round(
        time.perf_counter() - t0, 4
    )
    assert all(
        np.array_equal(a, b) for a, b in zip(_base13, _prog13)
    )  # progressive ≡ baseline, re-proved inside the bench

    _steal.mark("b14")
    # ---- B14: MPEG-1 Layer II perceptual-codec throughput (round 7):
    # distributed bitstream encode+decode over the documents table
    # (the mm_mp2_audio code path), plus a driver-side full lossy
    # PCM round trip (filterbank + quantizer) with its measured SNR —
    # the codec's quality-vs-rate artifact.
    from nebuia_vector_db_spark.multimodal.assets import (
        attach_mp2_assets,
        decode_audio_mp2,
    )

    b14_docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").cache()
    b14_docs.count()
    t0 = time.perf_counter()
    b14_assets = attach_mp2_assets(b14_docs).cache()
    b14_assets.count()
    timings["b14_mp2_encode_sec"] = round(time.perf_counter() - t0, 4)
    # median-of-3 (VERDICT r9 task #5: the single-shot number swung
    # 7.3 -> 21 s across rounds with the codec untouched — box load,
    # not regression). The first call doubles as warmup + the count
    # source; each timed call builds a FRESH DataFrame so AQE can't
    # reuse materialized stages (the b10 trap).
    b14_row = decode_audio_mp2(b14_assets).agg(
        F.sum("n_frames").alias("nf"), F.sum("total_bytes").alias("nb")
    ).head()
    dt = _median_time(
        lambda: decode_audio_mp2(b14_assets)
        .agg(F.sum("n_frames"))
        .head(),
        runs=3,
        warmup=0,
    )
    timings["b14_mp2_decode_sec"] = round(dt, 4)
    timings["b14_mp2_frames_total"] = int(b14_row["nf"])
    timings["b14_mp2_decode_frames_per_sec"] = round(
        b14_row["nf"] / max(dt, 1e-9), 1
    )
    b14_assets.unpersist()
    b14_docs.unpersist()
    from nebuia_vector_db_spark.multimodal.mpegaudio import (
        decode_mp2_pcm as _dmp,
        encode_pcm_mp2 as _epm,
    )

    _t14 = np.arange(1152 * 16)
    _x14 = sum(
        0.15 * np.sin(2 * np.pi * f * _t14 / 48000 + p)
        for f, p in [(440, 0.0), (2000, 1.0), (5500, 2.0)]
    )
    t0 = time.perf_counter()
    _bytes14 = _epm(_x14, 48000, 192)
    _, _y14 = _dmp(_bytes14)
    timings["b14_mp2_pcm_roundtrip_sec"] = round(
        time.perf_counter() - t0, 4
    )
    _a14, _b14 = _x14[2000:16000], _y14[2000:16000]
    timings["b14_mp2_roundtrip_snr_db"] = round(
        10 * np.log10(np.sum(_a14**2) / np.sum((_a14 - _b14) ** 2)), 2
    )
    timings["b14_mp2_compression_x"] = round(
        (len(_x14) * 2) / len(_bytes14), 2
    )

    _steal.mark("b16")
    # ---- B16: corpus LM tier (operators/lm.py) — count-only bigram
    # training on the lang='en' subset, broadcast-model perplexity
    # scoring of the whole corpus, DSIR top-N selection. Recorded, no
    # gate: the scale-relevant property (broadcast joins + single
    # doc_id shuffle, no SinglePartition) is plan-pinned in
    # tests/test_lm.py; these rows track absolute throughput.
    from nebuia_vector_db_spark.operators import lm as _lm

    b16_docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").cache()
    b16_n = b16_docs.count()
    t0 = time.perf_counter()
    b16_model = _lm.train_bigram_lm(b16_docs.where(F.col("lang") == "en"))
    b16_model.uni.cache().count()
    b16_model.big.cache().count()
    timings["b16_lm_train_sec"] = round(time.perf_counter() - t0, 4)

    def _b16_score():
        _lm.perplexity(b16_docs, b16_model, keep_avg_nll=3.42).agg(
            F.sum("nll_micro"), F.sum(F.col("keep").cast("long"))
        ).head()

    dt = _median_time(_b16_score, runs=3)
    timings["b16_lm_score_sec"] = round(dt, 4)
    timings["b16_lm_score_docs_per_sec"] = round(b16_n / max(dt, 1e-9), 1)

    def _b16_dsir():
        _lm.dsir_select(b16_docs, F.col("lang") == "en", top_n=500).agg(
            F.sum(F.col("selected").cast("long"))
        ).head()

    timings["b16_dsir_select_sec"] = round(
        _median_time(_b16_dsir, runs=3), 4
    )
    # scale sweep: replicate the corpus 1x/8x/64x via one scan +
    # explode (5k -> 40k -> 320k docs, ~17M scored transitions at
    # 64x) against the SAME trained model — slope vs linear per 8x
    # step, the b8/b11 convention (1.0 = linear)
    b16_prev = None
    for b16_k in (1, 8, 64):
        b16_dk = (
            b16_docs.select("doc_id", "text")
            if b16_k == 1
            else b16_docs.select(
                F.explode(
                    F.sequence(F.lit(1), F.lit(b16_k))
                ).alias("_r"),
                "doc_id",
                "text",
            ).select(
                (F.col("doc_id") * 100 + F.col("_r")).alias("doc_id"),
                "text",
            )
        ).cache()
        b16_dk.count()

        def _b16_scaled(dk=b16_dk):
            _lm.perplexity(dk, b16_model, keep_avg_nll=3.42).agg(
                F.sum("nll_micro")
            ).head()

        t = _median_time(_b16_scaled, runs=3)
        timings[f"b16_lm_score_{b16_k}x_sec"] = round(t, 4)
        if b16_prev is not None:
            timings[f"b16_lm_slope_{b16_k}x"] = round(
                t / (b16_prev * 8), 4
            )
        b16_prev = t
        b16_dk.unpersist()
    b16_model.uni.unpersist()
    b16_model.big.unpersist()
    b16_docs.unpersist()

    _steal.mark("b17")
    # ---- B17: BM25 ranking + discriminative quality classifier
    # (round-9 tiers; recorded, no gate — plan shapes pytest-pinned)
    from nebuia_vector_db_spark.operators.textvec import bm25_topk
    from nebuia_vector_db_spark.operators.classifier import (
        score_quality,
        train_quality_classifier,
    )
    from nebuia_vector_db_spark.functions.text import quality_score

    b17_docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").cache()
    b17_n = b17_docs.count()

    def _b17_bm25():
        bm25_topk(
            b17_docs, ["vector", "hash", "join", "scan"], k=20
        ).collect()

    timings["b17_bm25_topk_sec"] = round(_median_time(_b17_bm25, runs=3), 4)
    b17_q = b17_docs.withColumn("_q", quality_score("text"))
    b17_thr = b17_q.agg(F.expr("percentile(_q, 0.5)")).collect()[0][0]
    t0 = time.perf_counter()
    b17_clf = train_quality_classifier(
        b17_q.where(F.col("doc_id") % 2 == 0),
        F.col("_q") >= F.lit(float(b17_thr)),
    )
    timings["b17_clf_train_sec"] = round(time.perf_counter() - t0, 4)

    def _b17_score():
        score_quality(b17_q, b17_clf).agg(
            F.sum(F.col("pred").cast("long"))
        ).head()

    dt = _median_time(_b17_score, runs=3)
    timings["b17_clf_score_sec"] = round(dt, 4)
    timings["b17_clf_score_docs_per_sec"] = round(b17_n / max(dt, 1e-9), 1)
    b17_docs.unpersist()

    _steal.mark("b18")
    # ---- B18 (round 10): perceptual image near-dup + SemDeDup.
    # dHash: real PNG encode + decode + hash over a bounded 1024-doc
    # sample (decode dominates — the b13/b14 codec discipline), then
    # the banded pair join. SemDeDup: the full md5-hyperplane pass
    # over the sf embedding corpus. The *_total rows are
    # deterministic (pinned by bench_compare); timings are timed rows.
    from nebuia_vector_db_spark.multimodal.assets import attach_png_assets
    from nebuia_vector_db_spark.operators.imagehash import (
        hash_band_pairs,
        image_dhash_bands,
    )
    from nebuia_vector_db_spark.operators.semdedup import semdedup

    b18_docs = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .where(F.octet_length("text") >= 225)
        .limit(1024)
        .cache()
    )
    b18_docs.count()
    t0 = time.perf_counter()
    b18_hashed = image_dhash_bands(attach_png_assets(b18_docs)).cache()
    b18_n_hashed = b18_hashed.count()
    timings["b18_dhash_hash_sec"] = round(time.perf_counter() - t0, 4)
    timings["b18_dhash_imgs_total"] = int(b18_n_hashed)
    t0 = time.perf_counter()
    b18_pairs = hash_band_pairs(b18_hashed, max_hamming=3).count()
    timings["b18_dhash_pairs_sec"] = round(time.perf_counter() - t0, 4)
    timings["b18_dhash_pairs_total"] = int(b18_pairs)
    b18_hashed.unpersist()
    # ---- acoustic near-dup (round 11): 1024 mixed WAV/FLAC clips
    # (fixture encode + decode dominate — FLAC Rice coding is the
    # pure-Python cost; the fingerprint grid is O(samples×16) numpy),
    # then the shared band pair join — the audio third of the
    # multimodal dedup triad at bench scale. Totals deterministic.
    from nebuia_vector_db_spark.multimodal.assets import (
        attach_audio_dup_assets,
    )
    from nebuia_vector_db_spark.operators.audiofp import (
        audio_fingerprint_bands,
    )

    t0 = time.perf_counter()
    b18_afp = audio_fingerprint_bands(
        attach_audio_dup_assets(b18_docs)
    ).cache()
    b18_afp_n = b18_afp.count()
    timings["b18_audiofp_hash_sec"] = round(time.perf_counter() - t0, 4)
    timings["b18_audiofp_clips_total"] = int(b18_afp_n)
    t0 = time.perf_counter()
    b18_afp_pairs = hash_band_pairs(b18_afp, max_hamming=3).count()
    timings["b18_audiofp_pairs_sec"] = round(time.perf_counter() - t0, 4)
    timings["b18_audiofp_pairs_total"] = int(b18_afp_pairs)
    b18_afp.unpersist()
    # ---- video near-dup (round 11): 256 docs × 2 containers
    # (AVI + MKV re-mux) → demux + per-frame JPEG decode + dHash +
    # temporal-shingle alignment — decode dominates (pure-Python
    # JPEG, the codec-row discipline); the planted re-mux pairs make
    # the pair count a deterministic gate-adjacent total.
    from nebuia_vector_db_spark.multimodal.assets import (
        attach_avi_assets,
        attach_mkv_assets,
    )
    from nebuia_vector_db_spark.operators.videofp import (
        release_cached_relations as _release_vfp,
        video_align_pairs,
        video_frame_dhash,
    )

    b18_vdocs = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .where(
            (F.octet_length("text") >= 304)
            & (F.octet_length("text") == F.length("text"))
        )
        # order BEFORE limiting: an unordered limit on a filtered scan
        # picks whichever partitions answer first, so the planted-pair
        # total would only be incidentally stable (ADVICE r11);
        # TakeOrdered is cheap at 256 rows
        .orderBy("doc_id")
        .limit(256)
        .cache()
    )
    b18_vdocs.count()
    b18_va = b18_vdocs.select(
        (F.col("doc_id") * 2).alias("doc_id"), "text"
    )
    b18_vb = b18_vdocs.select(
        (F.col("doc_id") * 2 + 1).alias("doc_id"), "text"
    )
    b18_vassets = attach_avi_assets(b18_va).unionByName(
        attach_mkv_assets(b18_vb)
    )
    t0 = time.perf_counter()
    b18_vfh = video_frame_dhash(b18_vassets)
    b18_vpairs = video_align_pairs(b18_vfh, min_aligned=4).count()
    timings["b18_videofp_sec"] = round(time.perf_counter() - t0, 4)
    timings["b18_videofp_pairs_total"] = int(b18_vpairs)
    _release_vfp()
    b18_vdocs.unpersist()
    b18_docs.unpersist()
    # Plant near-duplicates — 1 clone per 16 rows, every component
    # nudged by +5e-4 so cosine(orig, clone) ≈ 0.9999: the raw corpus
    # has NO semantic duplicates at the 0.35 threshold, so r10's row
    # recorded dropped_total = 0 and timed only the bucketing
    # (VERDICT r10 watch #3 — compounded by n_planes=3: 8 buckets of
    # ~250 rows all exceeded the 128-row pair cap, excluding EVERY
    # bucket from pair generation; 6 planes give 64 buckets under the
    # cap). With planted pairs the timing covers the within-bucket
    # pair join and the keep rule doing real work, and a zero drop
    # count now means the drop path broke.
    b18_base = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    b18_planted = b18_base.where(
        F.pmod(F.col("vec_id"), F.lit(16)) == 0
    ).select(
        (F.col("vec_id") + F.lit(10_000_000)).alias("vec_id"),
        F.transform(
            "embedding", lambda x: x + F.lit(0.0005)
        ).alias("embedding"),
        "label",
    )
    b18_emb = b18_base.unionByName(b18_planted).cache()
    timings["b18_semdedup_rows_total"] = int(b18_emb.count())
    t0 = time.perf_counter()
    b18_dropped = (
        semdedup(b18_emb, threshold=0.35, n_planes=6)
        .where("dropped")
        .count()
    )
    timings["b18_semdedup_sec"] = round(time.perf_counter() - t0, 4)
    timings["b18_semdedup_dropped_total"] = int(b18_dropped)
    b18_emb.unpersist()
    _release_bands()
    _release_scored()

    _steal.mark("b19")
    # ---- B19 (round 10): change-data-feed — the churn-proportional
    # cost claim measured. Snapshot the sf lineitem slice range-
    # partitioned on orderkey, delete ONE order (COW rewrites one
    # file), and read the change feed: it must touch the 2 churned
    # files (removed + its rewrite), not the table. The deterministic
    # counts are pinned; wall times are timed rows (both near the
    # dispatch floor at this SF — the fraction is the scale number).
    from nebuia_vector_db_spark.sources.snapshot import (
        SnapshotTable as _ST,
    )

    b19_root = _tf.mkdtemp(prefix="nvdb_bench_cdc_")
    b19_li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").select(
        "l_orderkey", "l_partkey", "l_quantity"
    )
    b19_key = int(b19_li.agg(F.max("l_orderkey")).head()[0])
    t0 = time.perf_counter()
    b19_tbl = _ST.create(
        spark,
        os.path.join(b19_root, "t"),
        b19_li.repartitionByRange(16, "l_orderkey"),
    )
    b19_tbl.delete_where(f"l_orderkey = {b19_key}")
    timings["b19_cdc_setup_sec"] = round(time.perf_counter() - t0, 4)
    b19_add, b19_rm = b19_tbl._step_delta(2)
    timings["b19_cdc_files_touched_total"] = len(b19_add) + len(b19_rm)
    timings["b19_cdc_files_touched_fraction"] = round(
        (len(b19_add) + len(b19_rm)) / max(b19_tbl.n_files(), 1), 4
    )
    t0 = time.perf_counter()
    b19_n = b19_tbl.changes(1, 2).count()
    timings["b19_cdc_changes_sec"] = round(time.perf_counter() - t0, 4)
    timings["b19_cdc_delta_rows_total"] = int(b19_n)
    timings["b19_cdc_full_read_sec"] = round(
        _median_time(lambda: b19_tbl.read().count(), runs=3), 4
    )
    _sh.rmtree(b19_root, ignore_errors=True)

    _steal.mark("b20")
    # ---- B20 (round 12): incremental cross-snapshot dedup — the
    # daily-ingest operation: dedup a 1/16 delta against the PERSISTED
    # band index instead of re-fingerprinting the corpus. Same 80k
    # synthetic corpus as b11's 80k tier so the from-scratch baseline
    # is the ALREADY MEASURED b11_minhash_sweep_80k. The b19 CDC
    # discipline applies to the recorded rows: at this scale the wall
    # ratio measures the HARNESS, not the algorithm (the ingest is a
    # ~12-job pipeline of ~0.15-0.35 s dispatch floors + a full-row
    # exceptAll in the change feed, while the 80k from-scratch pass is
    # 3 heavily-parallel jobs — local[32] hides O(corpus) work that a
    # 1000-executor cluster cannot hide); the 100 TB-relevant numbers
    # are the pinned fractions — the ingest fingerprints ONLY the
    # delta's documents (b20_churn_fraction of the corpus text) and
    # verifies ONLY candidate pairs, vs the full pass re-reading and
    # re-hashing everything. Incremental ≡ from-scratch restricted to
    # the delta is hash-certified by the dedup_incremental oracle row;
    # b20_incremental_pairs_total pins the planted-pair count here.
    # Ingest runs median-of-3 into FRESH index clones (each ingest
    # advances the index — reusing one would double bands).
    from nebuia_vector_db_spark.operators.incremental import (
        MinhashBandIndex as _MBI,
        release_cached_relations as _release_inc,
    )

    b20_root = _tf.mkdtemp(prefix="nvdb_bench_inc_")
    b20_docs = _synth_docs(80_000).cache()
    b20_n = b20_docs.count()
    b20_base = b20_docs.where(F.col("doc_id") % 16 != 0)
    b20_delta = b20_docs.where(F.col("doc_id") % 16 == 0)
    b20_nd = b20_delta.count()
    timings["b20_corpus_docs_total"] = int(b20_n)
    timings["b20_delta_docs_fingerprinted"] = int(b20_nd)
    timings["b20_churn_fraction"] = round(b20_nd / max(b20_n, 1), 4)
    t0 = time.perf_counter()
    _MBI.create(
        spark, os.path.join(b20_root, "seed"),
        corpus=b20_base, threshold=0.9,
    )
    timings["b20_index_seed_build_sec"] = round(
        time.perf_counter() - t0, 4
    )
    b20_corpus = _ST.create(
        spark, os.path.join(b20_root, "corpus"), b20_base
    )
    b20_corpus.append(b20_delta)
    b20_times, b20_pairs = [], 0
    for b20_i in range(3):
        # a SnapshotTable is just files: clone the seed instead of
        # re-fingerprinting the 80k corpus per iteration
        b20_dir = os.path.join(b20_root, f"i{b20_i}")
        _sh.copytree(os.path.join(b20_root, "seed"), b20_dir)
        b20_idx = _MBI(spark, b20_dir, threshold=0.9)
        t0 = time.perf_counter()
        b20_pairs = b20_idx.ingest_commit(b20_corpus).count()
        b20_times.append(time.perf_counter() - t0)
        _release_inc()
    timings["b20_incremental_ingest_sec"] = round(
        statistics.median(b20_times), 4
    )
    timings["b20_incremental_pairs_total"] = int(b20_pairs)
    # recorded, not a gate: see the block comment — at 80k this is a
    # floor-count comparison, not a scalability statement
    timings["b20_ingest_vs_full_ratio"] = round(
        timings["b20_incremental_ingest_sec"]
        / max(timings["b11_minhash_sweep_80k"], 1e-9),
        4,
    )
    b20_docs.unpersist()
    _sh.rmtree(b20_root, ignore_errors=True)

    _steal.mark("b21")
    # ---- B21: late-round-12 tiers — iterative PageRank scaling,
    # hard-negative mining throughput, WebDataset shard interchange.
    # b21_pagerank: 5 power iterations over synthetic 3-out-degree
    # graphs at 200k and 800k nodes (0.6M / 2.4M edges, generated by
    # modular arithmetic on spark.range — zero data-gen cost). The
    # slope (time ratio / 4x size ratio) gates near-linearity: each
    # iteration is one groupBy shuffle + one ranks join, so superlinear
    # drift here means the iterative-loop plan regressed (lineage
    # blowup / lost map-side combine).
    from nebuia_vector_db_spark.operators.graph import (
        pagerank_exact,
        release_cached_relations as _release_graph,
    )

    def _synth_edges(n_nodes: int):
        base = spark.range(n_nodes).select(F.col("id").alias("src"))
        return (
            base.select(
                "src", ((F.col("src") * 17 + 3) % n_nodes).alias("dst")
            )
            .unionByName(
                base.select(
                    "src", ((F.col("src") * 29 + 7) % n_nodes).alias("dst")
                )
            )
            .unionByName(
                base.select(
                    "src", ((F.col("src") * 43 + 11) % n_nodes).alias("dst")
                )
            )
        )

    b21_prev = None
    for b21_n in (200_000, 800_000):
        b21_e = _synth_edges(b21_n)

        def _b21_run(e=b21_e):
            pagerank_exact(e, iters=5).agg(F.sum("rank_micro")).collect()
            _release_graph()

        b21_dt = _median_time(_b21_run, runs=3, warmup=1)
        timings[f"b21_pagerank_{b21_n // 1000}k_sec"] = round(b21_dt, 4)
        if b21_prev is not None:
            timings["b21_pagerank_slope_800k"] = round(
                (b21_dt / max(b21_prev, 1e-9)) / 4.0, 4
            )
        b21_prev = b21_dt

    # b21_hardneg: 16 queries x 600k corpus, label-excluded top-10
    # through the codegen'd HOF dot + WindowGroupLimit cut (the
    # oracle-exact sql path; a label-grouped GEMM arrow variant would only
    # be faster). Labels synthesized as vec_id % 16.
    from nebuia_vector_db_spark.operators.mining import hard_negatives

    b21_corpus = big.withColumn("label", (F.col("vec_id") % 16).cast("int"))
    # deterministic query subset (ADVICE r12): LIMIT without a sort is
    # partition-order dependent — a different run could time a
    # different 16 queries; orderBy pins the benched workload
    b21_q = queries_df.orderBy("query_id").limit(16).withColumn(
        "query_label", F.lit(0).cast("int")
    )
    b21_q.cache().count()

    def _b21_hn():
        hard_negatives(
            b21_q,
            b21_corpus,
            k=10,
            tie_cols=["vec_id"],
            exclude_ids=("query_id", "vec_id"),
        ).collect()

    timings["b21_hardneg_16q_600k_sec"] = round(
        _median_time(_b21_hn, runs=3), 4
    )
    b21_q.unpersist()

    # b21_wds: WebDataset tar-shard export of 40k synthetic docs into
    # 32 shards + full re-read (docs/sec both ways, recorded, no
    # gate — tarfile is single-stream per shard by design; shard
    # count is the parallelism knob).
    from nebuia_vector_db_spark.sources.webdataset import (
        read_webdataset,
        write_webdataset,
    )

    b21_docs = _synth_docs(40_000).cache()
    b21_nd = b21_docs.count()
    b21_dir = _tf.mkdtemp(prefix="nvdb_bench_wds_")
    t0 = time.perf_counter()
    write_webdataset(
        b21_docs, b21_dir, key_col="doc_id",
        members={"txt": "text"}, num_shards=32,
    ).collect()
    timings["b21_wds_write_docs_per_sec"] = round(
        b21_nd / (time.perf_counter() - t0), 1
    )
    t0 = time.perf_counter()
    b21_back = read_webdataset(spark, b21_dir).count()
    timings["b21_wds_read_docs_per_sec"] = round(
        b21_nd / (time.perf_counter() - t0), 1
    )
    assert b21_back == b21_nd, "webdataset round-trip lost samples"
    b21_docs.unpersist()
    _sh.rmtree(b21_dir, ignore_errors=True)

    _steal.mark("b22")
    # ---- B22 (round 13): incremental SUBSTRING dedup — the span-level
    # sibling of b20, same discipline: at this scale the wall ratio
    # measures the harness (the ingest is a multi-job CDC pipeline of
    # dispatch floors), so the 100 TB-relevant pins are the CHURN
    # FRACTION (the ingest winnows only the delta's chars — the O(n·w)
    # md5 window scan that dominates from-scratch — and df-counts only
    # delta grams) and the from-scratch wall measured side by side.
    # Incremental ≡ from-scratch restricted to the delta is
    # hash-certified by the dedup_substring_incremental oracle row;
    # fresh index clones per ingest iteration (b20's convention).
    from nebuia_vector_db_spark.operators.dedup import (
        exact_substring_pairs as _esp,
    )
    from nebuia_vector_db_spark.operators.incremental import (
        SubstringAnchorIndex as _SAI,
    )

    # Two tiers (VERDICT r13 task #5): 20k docs is the harness-floor
    # point (the ~12-job CDC ingest is dispatch-bound there); the 8×
    # b22xl tier MEASURES the crossover the r13 BASELINE.md note only
    # extrapolated from b20 — from-scratch winnowing grows with corpus
    # chars while the ingest grows with churn chars (fraction pinned
    # at 0.0625 in both tiers), so the ratio must fall toward and past
    # 1 as the corpus grows.
    for b22_tag, b22_ndocs in (("b22", 20_000), ("b22xl", 160_000)):
        b22_root = _tf.mkdtemp(prefix="nvdb_bench_subinc_")
        b22_docs = _synth_docs(b22_ndocs).cache()
        b22_n = b22_docs.count()
        b22_base = b22_docs.where(F.col("doc_id") % 16 != 0)
        b22_delta = b22_docs.where(F.col("doc_id") % 16 == 0)
        b22_nd = b22_delta.count()
        timings[f"{b22_tag}_corpus_docs_total"] = int(b22_n)
        timings[f"{b22_tag}_delta_docs_winnowed"] = int(b22_nd)
        timings[f"{b22_tag}_churn_fraction"] = round(
            b22_nd / max(b22_n, 1), 4
        )

        def _b22_full():
            _esp(b22_docs, k=32, min_shared=2).count()

        # release the persisted anchors BETWEEN runs (round 14): each
        # call builds a plan-identical anchors relation, and Spark's
        # plan-based cache substitution lets post-warmup runs reuse
        # the warmup's persisted one — timing only the post-anchor
        # join (measured 4.4 s cache-assisted vs 13.2 s honest at the
        # 160k tier). The crossover claim needs a COLD-EQUIVALENT
        # from-scratch wall, so every run re-winnows — but the
        # unpersist itself runs OUTSIDE the timed interval (`between`,
        # ADVICE r14) so cleanup cost never inflates the crossover
        # denominator. (The b11 sweep deliberately keeps the uniform
        # warm-cache protocol — its gate is a SLOPE across sizes,
        # internally consistent either way.)
        timings[f"{b22_tag}_substring_from_scratch_sec"] = round(
            _median_time(_b22_full, runs=3, between=_release_anchors), 4
        )
        t0 = time.perf_counter()
        _SAI.create(
            spark, os.path.join(b22_root, "seed"),
            corpus=b22_base, k=32, min_shared=2,
        )
        timings[f"{b22_tag}_index_seed_build_sec"] = round(
            time.perf_counter() - t0, 4
        )
        b22_corpus = _ST.create(
            spark, os.path.join(b22_root, "corpus"), b22_base
        )
        b22_corpus.append(b22_delta)
        b22_times, b22_pairs = [], 0
        for b22_i in range(3):
            b22_dir = os.path.join(b22_root, f"i{b22_i}")
            _sh.copytree(os.path.join(b22_root, "seed"), b22_dir)
            b22_idx = _SAI(spark, b22_dir, k=32, min_shared=2)
            t0 = time.perf_counter()
            b22_pairs = b22_idx.ingest_commit(b22_corpus).count()
            b22_times.append(time.perf_counter() - t0)
            _release_inc()
        timings[f"{b22_tag}_substring_ingest_sec"] = round(
            statistics.median(b22_times), 4
        )
        timings[f"{b22_tag}_substring_pairs_total"] = int(b22_pairs)
        # recorded, not a gate — see the block comment (the 20k point
        # is floor-dominated; the 160k point pins the crossover)
        timings[f"{b22_tag}_ingest_vs_full_ratio"] = round(
            timings[f"{b22_tag}_substring_ingest_sec"]
            / max(
                timings[f"{b22_tag}_substring_from_scratch_sec"], 1e-9
            ),
            4,
        )
        b22_docs.unpersist()
        _sh.rmtree(b22_root, ignore_errors=True)

    _steal.mark("b23")
    # ---- B23 (round 14): pretraining-export throughput — the
    # pipe_pretrain_export composition (encode → pack → WebDataset
    # shards) at 200k docs / ~6.4M tokens, 32 shards. Recorded, no
    # gate (single-shot throughput row, b4's convention): the
    # correctness pin is the registry row's value-hash oracle; this
    # records what the last mile costs — tokens/sec is the number a
    # trainer-feeding pipeline is sized by.
    from nebuia_vector_db_spark.operators.pipeline import (
        pack_token_bins as _ptb,
        word_vocab as _wv,
    )
    from nebuia_vector_db_spark.sources.webdataset import (
        write_webdataset as _wwds,
    )

    b23_docs = _synth_docs(200_000).cache()
    b23_docs.count()
    b23_out = _tf.mkdtemp(prefix="nvdb_bench_ptx_")
    t0 = time.perf_counter()
    b23_manifest = _wwds(
        _ptb(b23_docs, _wv(b23_docs, 4096), capacity=2048),
        b23_out,
        key_col="bin_id",
        members={"txt": "payload"},
        num_shards=32,
    ).agg(
        F.sum("n_samples").alias("b"), F.sum("tar_bytes").alias("tb")
    ).head()
    b23_wall = time.perf_counter() - t0
    b23_tokens = int(
        b23_docs.select(
            F.sum(F.size(F.split("text", " ")) + 2)
        ).head()[0]
    )
    timings["b23_pretrain_export_sec"] = round(b23_wall, 4)
    timings["b23_pretrain_export_tokens_total"] = b23_tokens
    timings["b23_pretrain_export_tokens_per_sec"] = round(
        b23_tokens / max(b23_wall, 1e-9), 1
    )
    timings["b23_pretrain_export_bins"] = int(b23_manifest["b"])
    timings["b23_pretrain_export_tar_mb"] = round(
        b23_manifest["tb"] / 1e6, 1
    )
    b23_docs.unpersist()
    _sh.rmtree(b23_out, ignore_errors=True)

    _steal.mark("b24")
    # ---- B24 (round 15): incremental KN-model maintenance — the
    # NgramCountIndex ledger (sixth incremental artifact) vs a full
    # re-train at 200k docs / ~6M tokens, churn fraction 0.0625
    # (b22's convention). From-scratch training aggregates ALL corpus
    # tokens per refresh (one bigram groupBy + the vocab distinct —
    # O(corpus)); the ledger ingest counts only the commit's churn
    # tokens and appends (O(churn)), so the ratio must fall as the
    # corpus grows while churn is pinned. Model equality is
    # hash-certified by the text_lm_kn_incremental oracle row; this
    # block records what each path COSTS, plus the fold wall (ledger
    # → live model — what a scoring deployment pays to refresh its
    # joins). Recorded, no gate (the harness floor argument of b20/
    # b22 applies at this scale: the CDC ingest is a multi-job
    # pipeline of dispatch floors).
    from nebuia_vector_db_spark.operators.incremental import (
        NgramCountIndex as _NCI,
    )
    from nebuia_vector_db_spark.operators.lm import (
        train_kn_lm as _tkn,
    )

    b24_root = _tf.mkdtemp(prefix="nvdb_bench_kninc_")
    b24_docs = _synth_docs(200_000).cache()
    b24_n = b24_docs.count()
    b24_base = b24_docs.where(F.col("doc_id") % 16 != 0)
    b24_delta = b24_docs.where(F.col("doc_id") % 16 == 0)
    timings["b24_corpus_docs_total"] = int(b24_n)
    timings["b24_churn_fraction"] = round(
        b24_delta.count() / max(b24_n, 1), 4
    )

    def _b24_full():
        # train_kn_lm's B/V scalars are eager actions over the full
        # bigram aggregation + token distinct — the O(corpus) work a
        # per-refresh re-train pays
        _tkn(b24_docs)

    timings["b24_kn_train_from_scratch_sec"] = round(
        _median_time(_b24_full, runs=3), 4
    )
    t0 = time.perf_counter()
    _NCI.create(spark, os.path.join(b24_root, "seed"), corpus=b24_base)
    timings["b24_ledger_seed_build_sec"] = round(
        time.perf_counter() - t0, 4
    )
    b24_corpus = _ST.create(
        spark, os.path.join(b24_root, "corpus"), b24_base
    )
    b24_corpus.append(b24_delta)
    b24_times = []
    for b24_i in range(3):
        b24_dir = os.path.join(b24_root, f"i{b24_i}")
        _sh.copytree(os.path.join(b24_root, "seed"), b24_dir)
        b24_idx = _NCI(spark, b24_dir)
        t0 = time.perf_counter()
        b24_idx.ingest_commit(b24_corpus)
        b24_times.append(time.perf_counter() - t0)
        _release_inc()
    timings["b24_ledger_ingest_sec"] = round(
        statistics.median(b24_times), 4
    )
    timings["b24_ingest_vs_retrain"] = round(
        timings["b24_ledger_ingest_sec"]
        / max(timings["b24_kn_train_from_scratch_sec"], 1e-9),
        4,
    )
    t0 = time.perf_counter()
    _NCI(spark, os.path.join(b24_root, "i0")).lm()
    timings["b24_ledger_fold_to_model_sec"] = round(
        time.perf_counter() - t0, 4
    )
    _release_inc()
    b24_docs.unpersist()
    _sh.rmtree(b24_root, ignore_errors=True)

    _steal.mark("b4")
    # ---- B4: ingest 5000 documents (docs/sec, recorded, no gate)
    from nebuia_vector_db_spark.engine import VectorEngine
    import shutil, tempfile

    docs_df = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .limit(5000)
        .select(
            F.lit("bench").alias("collection"),
            F.col("doc_id").cast("string").alias("doc_id"),
            "text",
            F.struct(
                F.col("source").alias("source"), F.col("lang").alias("name")
            ).alias("metadata"),
            F.array(
                F.struct(
                    F.col("text").alias("text"),
                    F.array_repeat(F.lit(0.0), 8).alias("embedding"),
                    F.struct(
                        F.col("source").alias("source"),
                        F.col("lang").alias("name"),
                    ).alias("metadata"),
                    F.lit(0.0).alias("semantic_score"),
                )
            ).alias("chunks"),
        )
        .cache()
    )
    n_docs = docs_df.count()
    wh = tempfile.mkdtemp(prefix="nvdb_bench_wh_")
    eng = VectorEngine(spark, wh)
    t0 = time.perf_counter()
    eng.store_dataframe(docs_df)
    t_ingest = time.perf_counter() - t0
    timings["b4_ingest_docs_per_sec"] = round(n_docs / t_ingest, 1)
    shutil.rmtree(wh, ignore_errors=True)

    # headline total sums EXACTLY the registry-query wall times — a
    # whitelist, not the old startswith-blacklist, which silently
    # admitted every new non-time B-row (round 7: the committed
    # round-6-era artifact's 'sec' value included 57.05 of pure
    # reconstruction-MSE from the b6o/b6x rows, and the new b14
    # frame counts/rates would have inflated it by orders of
    # magnitude).
    total = round(sum(timings[k] for k in headline), 4)

    # steal self-report (VERDICT r13 task #6): fraction of this run's
    # machine-wide cpu ticks stolen by the hypervisor, from /proc/stat
    # deltas across the whole bench. BASELINE.md's re-run protocol
    # reads this straight from the artifact: > ~0.02 means the run was
    # contended and per-row regressions are suspect until re-timed.
    cpu_ticks_end = _read_cpu_ticks()
    if cpu_ticks_start is not None and cpu_ticks_end is not None:
        d_steal = cpu_ticks_end[0] - cpu_ticks_start[0]
        d_total = cpu_ticks_end[1] - cpu_ticks_start[1]
        timings["steal_frac"] = round(d_steal / max(d_total, 1), 4)
    # per-family attribution (VERDICT r14 task #5): one
    # steal_frac_<family> per bench block, so a single moved row is
    # adjudicable from this artifact without a cross-run re-time
    _steal.emit(timings)

    payload = {
        "metric": "headline_queries_total_sec",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": _sf_value(SF_DIR),
        "cpus": int(CPUS),
    }
    notes = {
                    "value": "sum of the headline registry-query wall "
                    "times ONLY (round 7 redefinition: the previous "
                    "blacklist admitted non-time B-rows — recall/MSE/"
                    "fps — into the 'sec' total)",
                    "b1/b2": "sec/query warm, median of 5 (BASELINE.md §3)",
                    "b2_batched": "64 queries in one job, sec/query amortized",
                    "b4": "docs/sec (recorded, no gate)",
                    "b5": "IVF probes 4/64 cells; the synthetic corpus is "
                    "i.i.d. Gaussian (no cluster structure), ANN's "
                    "adversarial case — recall is recorded as the honest "
                    "tradeoff; on real embedding distributions cells "
                    "capture semantic neighborhoods",
                    "b5c": "same IVF on a 600k mixture-of-128-Gaussians "
                    "corpus (the distribution cells model): recall@10 "
                    "averaged over 8 cross-component queries at "
                    "nprobe 4/64 — the usable operating point",
                    "b6": "IVF-PQ (residual product quantization) on the "
                    "clustered corpus: 16 bytes/vector (16x vs float32), "
                    "ADC over codes, exact re-rank of the top-3000 "
                    "shortlist (0.5%) at nprobe 8/64; recall over 4 queries",
                    "b7": "SQ8 int8 scan (4x vs float32, no training) on "
                    "the clustered corpus; recall over 4 queries",
                    "b5/b5c/b6 builds": "median of 3 full rebuilds "
                    "(offline numbers were single-shot before r3 and "
                    "swung 8-40 s across identical code)",
                    "b8": "batched-GEMM kNN (16 queries/job) at "
                    "600k/2.4M/9.6M vectors; b8_slope_* = "
                    "t(next)/(t(prev)*4), 1.0 = perfectly linear, "
                    "gate <= 1.3",
                    "b9": "distributed block-pair GEMM exact cosine "
                    "(the above-cap path, 21 block-pair tasks) on a "
                    "240k subset; pairs/sec is the scale-invariant "
                    "throughput",
                    "b10": "Z-order + SnapshotTable planning-time data "
                    "skipping on lineitem: files_scanned_fraction is "
                    "the scale-relevant number (box query on the "
                    "second clustered dim); both read times sit at "
                    "the dispatch floor at sf0.1",
                    "b11": "MinHash-LSH dedup end-to-end at 5k/20k/80k "
                    "docs (2% exact dups): slope = t_next/(4*t_prev), "
                    "~1.0 linear — the shuffle/join-family counterpart "
                    "of b8's GEMM sweep",
                    "b10xl": "the b10 read pair at the 9.6M-row b8 "
                    "corpus (2.4 GB payload), where skipping must win "
                    "wall clock, not just file fraction",
                    "b12": "batch ANN (search_batch): 16 queries, one "
                    "cell-grouped GEMM pass over the union of probed cells "
                    "(nprobe 8/64) vs exact batch kNN. The plain rows "
                    "are the 16-component diverse batch (worst case: "
                    "union covers most cells); b12_local_* is a "
                    "4-component locality batch where the union "
                    "collapses and pruning wins wall clock. Recall "
                    "from the same deterministic index as b5c",
                    "b10xl files": "512-file layout: the pruned win "
                    "is per-file overhead (open/footer/schedule) — "
                    "exactly what snapshot skipping removes at 100 TB",
                    "b15": "binary quantization (1 bit/dim, one int64 "
                    "word per vector at d=64 — 32x vs float32): "
                    "XOR+POPCNT Hamming top-k on the packed column, "
                    "recall over ALL 16 seeded queries as a CURVE in "
                    "shortlist size. On the clustered corpus 64-bit "
                    "codes resolve between clusters, not within one "
                    "(members share the center's signs; measured "
                    "worst needed Hamming rank 4670 of 600k), so raw "
                    "and rerank-100 recall are honestly ~0 while the "
                    "1%-shortlist rerank-6000 row is EXACT (1.0) — "
                    "the operating point: 8 B/vector corpus scan, "
                    "floats fetched for 1% of rows. The packed rows "
                    "(b15_bq_packed_topk_*) time the Hamming pass on "
                    "a words-only parquet (vec_id + int64 — what a "
                    "deployment stores beside the floats) at 600k "
                    "and 9.6M with a fresh plan per run; the slope "
                    "row is t(9.6M)/(16*t(600k)), ~1.0 = linear",
                    "b24": "incremental KN-model maintenance at 200k "
                    "docs, churn 0.0625: from-scratch re-train "
                    "(tokenize + bigram agg + vocab distinct over ALL "
                    "corpus tokens) vs ledger ingest (churn tokens "
                    "only); b24_ledger_fold_to_model_sec is the "
                    "ledger → live-model fold a scoring refresh pays "
                    "— type-bounded, no tokenization (the from-"
                    "scratch relations re-pay the corpus agg in every "
                    "scoring plan instead). 30-token synthetic docs "
                    "UNDERSTATE the from-scratch side vs real text "
                    "(tokens/type here ~1; web corpora are Zipfian "
                    "with docs 10-30x longer). Recorded, no gate "
                    "(b20/b22 harness-floor argument); model equality "
                    "is the text_lm_kn_incremental oracle row",
                    "recall determinism": "ALL recall rows (b5/b5c/"
                    "b6/b12) run on the seeded deterministic index "
                    "(pinned sample + driver-side Lloyd's) with fixed "
                    "query sets — bit-identical across runs (r3 #2); "
                    "build/latency timings stay on the MLlib path",
                }
    # The grading driver captures only a ~2,000-char TAIL of stdout
    # (BENCH_r02..r07 recorded parsed: null). The round-4 fix printed
    # ONE compact line, but at 139 metrics that line is now ~7,800
    # chars — the tail starts mid-line and nothing parses. Round-8 fix
    # (VERDICT r7 task #1): the LAST stdout line is an ultra-compact
    # gate summary (< 1,000 chars) in the same {metric, value, unit,
    # queries, sf} shape, so it always survives the tail whole; the
    # full payload goes to BENCH_SELF.json (and, for humans scrolling,
    # the full compact line is still printed FIRST).
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                           "BENCH_SELF.json"), "w") as fh:
        json.dump({**payload, "notes": notes}, fh, indent=1)
    print(json.dumps(payload, separators=(",", ":")))

    # regression line vs the last committed BENCH_SELF.json (r7 task #4)
    sys.path.insert(0, os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "tools"))
    try:
        from bench_compare import compare_line

        print(compare_line(payload))
    except Exception as exc:  # the diff must never kill the bench
        print(json.dumps({"bench_diff": f"comparator failed: {exc}"}))

    print(gate_line(timings, total, payload["sf"], payload["cpus"]))


if __name__ == "__main__":
    main()
