"""The two workloads: ANN serving with index mutation, and corpus curation.

Each is a closed loop with one client thread: the next op starts when the
previous one has returned and its output has been checked. Every workload
follows the same shape:

1. generate inputs from the seed (numpy only, before Spark starts);
2. start the session (``session.start_ms``);
3. set up ``SETUP_REPS`` times and keep the last: read the inputs into
   Spark and build what the ops need (``setup_s`` is the median);
4. one untimed warm-up round (``warmup_ms``);
5. timed rounds until ``--seconds`` have passed.
"""

from __future__ import annotations

import gc
import os
import shutil
import statistics
import time
import traceback

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

import gen
import oracle
from stats import OpLog, finite_ms
from tracing import FIELDS, TraceError, Tracer

#: the first set-up of a process runs cold (about 3x the later ones), and
#: the second is still warming, so the median needs five
SETUP_REPS = 5
K = oracle.K


def _write_vectors(path: str, ids: np.ndarray, vecs: np.ndarray) -> None:
    flat = pa.array(np.ascontiguousarray(vecs, np.float32).ravel())
    col = pa.FixedSizeListArray.from_arrays(flat, vecs.shape[1]).cast(
        pa.list_(pa.float32())
    )
    pq.write_table(pa.table({"id": pa.array(ids, pa.int64()), "vec": col}), path)


#: ``IvfIndex.search``'s default ``cheap_threshold``
CHEAP_THRESHOLD = 8192


def _probes_for(n_rows: int, lists: int) -> int:
    """Probes whose expected probed rows are 1.5x the search's
    ``cheap_threshold``, so the RaBitQ rough-scoring and guarantee path runs
    instead of the small-probe exact shortcut."""
    return min(lists, int(np.ceil(1.5 * CHEAP_THRESHOLD * lists / n_rows)))


class Run:
    """State and bookkeeping shared by every workload of one process."""

    def __init__(self, spark, work: str, seconds: float, trace: bool):
        self.spark = spark
        self.work = work
        self.seconds = seconds
        self.trace = trace
        self.tracer = Tracer(spark)
        self.log = OpLog()          # untraced ops: the end-to-end figures
        self.log_traced = OpLog()   # traced ops (trace runs only)
        self.warm = OpLog()
        self._round = 0
        self._traced = False
        self.layers: dict[str, float] = {}
        self.named: dict[str, float] = {}
        self.setup_reps: list[float] = []
        self.extra: dict = {}

    def op(self, kind: str, prepare, act, check, items: float = 1.0):
        """Run, time and check one op; a failed op is counted, not raised."""
        log = self.warm if self._round == 0 else (self.log_traced if self._traced else self.log)
        t0 = time.perf_counter()
        try:
            result, secs = self.tracer.run(kind, prepare, act, self._traced)
            why = check(result)
        except TraceError:
            raise
        except Exception as e:  # an op failure is counted and the loop goes on
            traceback.print_exc()
            log.record(kind, time.perf_counter() - t0, False, why=repr(e))
            return None
        log.record(kind, secs, not why, items, why)
        return result

    def loop(self, round_fn, warmup_rounds: int = 1) -> None:
        """Untimed warm-up rounds (``round_fn(0)``), then whole timed rounds
        until ``seconds`` have passed (a round in progress completes, so
        every op kind is measured in every run). A trace run alternates
        untraced and traced rounds and runs at least one of each, so the two
        sets of figures come from the same stretch of the run and their
        difference is the tracing cost."""
        self.quiesce()
        t0 = time.perf_counter()
        for _ in range(warmup_rounds):
            round_fn(0)
        self.layers["warmup_ms"] = (time.perf_counter() - t0) * 1e3
        self.quiesce()
        deadline = time.perf_counter() + self.seconds
        r = 1
        while time.perf_counter() < deadline or (self.trace and r <= 2):
            self._round = r
            self._traced = self.trace and r % 2 == 0
            round_fn(r)
            r += 1
        self._traced = False

    def setup(self, build_fn):
        """Run ``build_fn(rep_dir)`` ``SETUP_REPS`` times in fresh
        directories; keep the last state and delete the others."""
        state = prev = None
        for rep in range(SETUP_REPS):
            d = os.path.join(self.work, f"rep{rep}")
            os.makedirs(d)
            self.quiesce()
            t0 = time.perf_counter()
            state = build_fn(d)
            self.setup_reps.append(time.perf_counter() - t0)
            if prev is not None:
                shutil.rmtree(prev, ignore_errors=True)
            prev = d
        return state

    def counts(self) -> tuple[int, int]:
        """(attempted, failed) over every op of the run, warm-up included."""
        logs = (self.warm, self.log, self.log_traced)
        return sum(g.attempted for g in logs), sum(g.failed for g in logs)

    def quiesce(self) -> None:
        """Settle what earlier steps left behind before a timed step: collect
        the driver's garbage and write dirty pages to disk, so a timed op
        does not pay for an earlier step's collection or writeback. The JVM
        is left alone: a forced full GC there lets Spark's ContextCleaner
        delete the shuffle files and broadcasts it frees, concurrently with
        the next op (measured: the first curate after it ran 10-20% slower)."""
        gc.collect()
        os.sync()

    def timed_layer(self, name: str, fn):
        t0 = time.perf_counter()
        out = fn()
        self.layers[name] = (time.perf_counter() - t0) * 1e3
        return out


def _noop(df) -> None:
    """Evaluate every column of ``df`` without collecting it."""
    df.write.format("noop").mode("overwrite").save()


# ----------------------------------------------------------------------------
# ann_serve_mutate
# ----------------------------------------------------------------------------

ANN_N = 30_000
ANN_GRAPH_N = 2_000
ANN_BATCH = 64
ANN_QUERIES = 64
ANN_INSERT = 2_000
ANN_DELETE = 500
ANN_MAX_ROUNDS = 30
VIEW = "perfbench_vectors"


def ann_inputs(seed: int) -> dict:
    x = gen.vectors(seed, ANN_N + ANN_INSERT * (ANN_MAX_ROUNDS + 1))
    q = gen.queries(seed, x[:ANN_N], ANN_QUERIES)
    qb = gen.queries(seed, x[:ANN_N], 2 * ANN_BATCH, stream=5).reshape(2, ANN_BATCH, -1)
    return {"x": x, "q": q, "qb": qb, "digest": gen.digest(x, q, qb)}


def ann_serve_mutate(run: Run, seed: int, inp: dict) -> None:
    """Reads (IVF, SQL, graph, exact and batch k-NN) and writes (insert,
    delete, compact) on one IVF index; see the benchmark doc."""
    from vectorchord_spark import IvfIndex, IvfOptions, VamanaIndex, VamanaOptions, knn_exact
    from vectorchord_spark.functions.quantize import register_sql_functions
    from vectorchord_spark.plans import ann_sql, register_ann_index, unregister_ann_index

    spark = run.spark
    x, q, qb = inp["x"], inp["q"], inp["qb"]
    x64 = x.astype(np.float64)
    ids = np.arange(len(x), dtype=np.int64)
    src = os.path.join(run.work, "vectors.parquet")
    _write_vectors(src, ids[:ANN_N], x[:ANN_N])
    lists = int(round(ANN_N**0.5))
    probes = _probes_for(ANN_N, lists)
    run.extra.update(rows=ANN_N, lists=lists, probes=probes, graph_rows=ANN_GRAPH_N)
    ivf_ms, graph_ms = [], []

    def build(d):
        df = spark.read.parquet(src)
        t0 = time.perf_counter()
        ivf = IvfIndex.build(
            spark, df, "id", "vec", os.path.join(d, "ivf"),
            IvfOptions(metric="l2", lists=[lists], build_hierarchical=True),
        )
        t1 = time.perf_counter()
        graph = VamanaIndex.build(
            spark, df.where(f"id < {ANN_GRAPH_N}"), "id", "vec",
            os.path.join(d, "graph"), VamanaOptions(metric="l2"),
        )
        ivf_ms.append((t1 - t0) * 1e3)
        graph_ms.append((time.perf_counter() - t1) * 1e3)
        df.createOrReplaceTempView(VIEW)
        register_ann_index(VIEW, "vec", ivf, id_col="id", probes=[probes],
                           rerank_factor=4)
        return df, ivf, graph

    register_sql_functions(spark)
    df, ivf, graph = run.setup(build)
    run.layers["ivf_build.total_ms"] = statistics.median(ivf_ms)
    run.layers["graph_build.total_ms"] = statistics.median(graph_ms)

    rng = np.random.default_rng([seed, 4])
    live = np.zeros(len(x), bool)
    live[:ANN_N] = True
    deleted: set[int] = set()
    next_row = [ANN_N]
    recall: dict[str, list] = {"ivf": [], "graph": [], "batch": []}

    def collect(d):
        return d.collect()

    def check_ranked(rows, qv, index_has_deletes: bool = True) -> str:
        got = [int(r["id"]) for r in rows]
        dist = [float(r["dist"]) for r in rows]
        if len(got) != K or len(set(got)) != K:
            return f"{len(got)} results ({len(set(got))} distinct), expected {K}"
        if any(a > b for a, b in zip(dist, dist[1:])):
            return "distances not ascending"
        dead = deleted.intersection(got) if index_has_deletes else None
        if dead:
            return f"returned deleted ids {sorted(dead)[:5]}"
        true_d = np.sqrt(((x64[got] - qv) ** 2).sum(axis=1))
        if not np.allclose(dist, true_d, rtol=1e-6, atol=1e-9):
            return "a returned distance is not the true distance"
        return ""

    def ivf_search(qv, first: "int | None" = None):
        """One ``ivf_search`` op; ``first`` is an id that must come back at
        rank 1. Returns the rows when the op passed its checks."""
        out = {}

        def check(rows):
            why = check_ranked(rows, qv)
            if not why and first is not None and int(rows[0]["id"]) != first:
                why = f"inserted id {first} not at rank 1 (got {rows[0]['id']})"
            if not why:
                want = oracle.exact_topk(x64[live], ids[live], qv)[0]
                recall["ivf"].append(oracle.recall([r["id"] for r in rows], want))
                out["rows"] = rows
            return why

        run.op("ivf_search",
               lambda: ivf.search(qv, k=K, probes=[probes], rerank_factor=4),
               collect, check)
        return out.get("rows")

    def sql_ann(qv, check) -> None:
        """One ``sql_ann`` op; ``qv`` must be whole numbers of 1e-4, so its
        SQL literal parses back to the same doubles."""
        lits = ",".join(f"{v:.4f}" for v in qv)
        sql = (f"SELECT id, vc_l2(vec, array({lits})) AS dist FROM {VIEW} "
               f"ORDER BY dist LIMIT {K}")
        run.op("sql_ann", lambda: ann_sql(spark, sql), collect, check)

    def round_fn(r):
        qv = q[r % ANN_QUERIES]
        ref = ivf_search(qv)

        def check_sql(rows):
            if ref is None:
                return "no ivf_search result to compare with"
            return oracle.same_topk([x["id"] for x in rows], [x["dist"] for x in rows],
                                    [x["id"] for x in ref], [x["dist"] for x in ref])

        sql_ann(qv, check_sql)

        def check_graph(rows):
            # the graph is built once over the first rows and never mutated
            why = check_ranked(rows, qv, index_has_deletes=False)
            if not why:
                want = oracle.exact_topk(x64[:ANN_GRAPH_N], ids[:ANN_GRAPH_N], qv)[0]
                recall["graph"].append(oracle.recall([x["id"] for x in rows], want))
            return why

        run.op("graph_search", lambda: graph.search(qv, k=K), collect, check_graph)

        def check_exact(rows):
            want_ids, want_d = oracle.exact_topk(x64[:ANN_N], ids[:ANN_N], qv)
            return oracle.same_topk([x["id"] for x in rows], [x["dist"] for x in rows],
                                    want_ids, want_d)

        run.op("exact_knn", lambda: knn_exact(df, "id", "vec", qv.tolist(), K),
               collect, check_exact)

        qs = qb[r % len(qb)]

        def check_batch(rows):
            per: dict[int, list] = {}
            for x_ in rows:
                per.setdefault(int(x_["qid"]), []).append(x_)
            if sorted(per) != list(range(ANN_BATCH)):
                return f"results for {len(per)} of {ANN_BATCH} queries"
            for qid, rs in per.items():
                rs.sort(key=lambda x_: int(x_["rank"]))
                why = check_ranked(rs, qs[qid])
                if why:
                    return f"query {qid}: {why}"
            want = oracle.topk_many(x64[live], ids[live], qs)
            recall["batch"].append(float(np.mean(
                [oracle.recall([x_["id"] for x_ in per[j]], want[j]) for j in range(ANN_BATCH)]
            )))
            return ""

        run.op("ivf_batch",
               lambda: ivf.search_batch(qs, k=K, probes=[probes], rerank_factor=4),
               collect, check_batch, items=ANN_BATCH)

        if next_row[0] + ANN_INSERT > len(x):
            return
        lo, hi = next_row[0], next_row[0] + ANN_INSERT
        next_row[0] = hi
        new_df = spark.createDataFrame(
            pd.DataFrame({"id": ids[lo:hi], "vec": list(x[lo:hi])}),
            "id long, vec array<float>",
        )
        run.op("ivf_insert", lambda: ivf.insert(new_df), lambda _: None,
               lambda _: "", items=ANN_INSERT)
        live[lo:hi] = True

        gone = rng.choice(np.flatnonzero(live), ANN_DELETE, replace=False)
        run.op("ivf_delete", lambda: ivf.delete([int(i) for i in gone]),
               lambda _: None, lambda _: "", items=ANN_DELETE)
        live[gone] = False
        deleted.update(int(i) for i in gone)

        # freshness: a just-inserted vector comes back at rank 1, and a
        # just-deleted one never comes back. The warm-up round skips these
        # three: they run the code paths the round's first searches warmed.
        if r > 0:
            fresh = int(rng.choice(np.flatnonzero(live[lo:hi]))) + lo
            ivf_search(x64[fresh], first=fresh)
            ivf_search(x64[int(gone[0])])
            # the view holds only the rows the index was built from, so the
            # fresh id at rank 1 shows that ann_sql was served by the index
            # and did not fall back to a plain scan of the view
            qf = np.rint(x64[fresh] * 1e4) / 1e4

            def check_fresh_sql(rows):
                why = check_ranked(rows, qf)
                if not why and int(rows[0]["id"]) != fresh:
                    why = (f"inserted id {fresh} not at rank 1 (got {rows[0]['id']}): "
                           "not served by the index")
                return why

            sql_ann(qf, check_fresh_sql)

        run.op("ivf_compact", ivf.compact, lambda _: None, lambda _: "")

    try:
        run.loop(round_fn)
    finally:
        unregister_ann_index(VIEW)
    for k, v in recall.items():
        run.named[f"{k}_recall_at_10"] = float(np.mean(v)) if v else 0.0
    if run.trace:
        _ivf_build_layers(run, df, lists)


def _ivf_build_layers(run: Run, df, lists: int) -> None:
    """Time the build's sampling and k-means layers on the build's input,
    with the options ``IvfIndex.build`` uses."""
    from pyspark.sql import functions as F

    from vectorchord_spark.operators import kmeans as KM
    from vectorchord_spark.operators.ivf import IvfOptions
    from vectorchord_spark.operators.sampling import bounded_sample_vectors

    opts = IvfOptions(metric="l2", lists=[lists], build_hierarchical=True)
    src = df.select(F.col("id").cast("long").alias("id"), F.col("vec"))
    sample = run.timed_layer(
        "ivf_build.sample_ms",
        lambda: bounded_sample_vectors(src, lists * opts.sampling_factor, opts.seed),
    )
    samples = np.stack(sample["vec"].to_numpy()).astype(np.float32)
    run.timed_layer(
        "ivf_build.kmeans_ms",
        lambda: KM.hierarchical(samples, lists, opts.kmeans_iterations, opts.seed, False),
    )


# ----------------------------------------------------------------------------
# curate_corpus
# ----------------------------------------------------------------------------

CURATE_DOCS = 3_000


def lcg_quality_model() -> dict:
    """``bench.py``'s fixed deterministic quality model (LCG weights)."""
    dim = 1 << 14
    w = (
        ((np.arange(dim, dtype=np.int64) * 2654435761) % 1999).astype(np.float64) / 1999.0
        - 0.5
    ).astype(np.float32)
    return {"w": w, "b": 0.125, "dim": dim, "bigrams": True}


def curate_inputs(seed: int) -> dict:
    c = gen.corpus(seed, CURATE_DOCS)
    c["digest"] = gen.digest(c["doc_id"], c["text"], c["lang"])
    return c


def curate_corpus(run: Run, seed: int, corpus: dict) -> None:
    from pyspark.sql import functions as F

    from vectorchord_spark.pipeline.curate import CurateConfig, curate

    spark = run.spark
    src = os.path.join(run.work, "docs.parquet")
    pq.write_table(
        pa.table({"doc_id": pa.array(corpus["doc_id"], pa.int64()),
                  "text": corpus["text"], "lang": corpus["lang"]}),
        src,
    )
    n_docs = len(corpus["doc_id"])
    model = lcg_quality_model()
    cfg = CurateConfig(
        min_words=10,
        langs=gen.ALLOWED_LANGS,
        max_top_2gram_frac=0.2,
        max_dup_3gram_frac=0.5,
        min_quality=0.2,
        quality_model=model,
    )

    def curated(docs):
        """``kept ∪ audit`` of one ``curate()`` call, as (id, stage, detail)."""
        res = curate(docs, cfg)
        return res.kept.select(
            F.col("doc_id").alias("id"), F.lit(None).cast("string").alias("stage"),
            F.lit(None).cast("string").alias("detail"),
        ).unionByName(res.audit)

    def load(d):
        docs = spark.read.parquet(src)
        docs.count()
        # build and plan the curate query as an op does, without running
        # it, so set-up includes the program's driver-side work: the stage
        # plans, their persisted frames and the quality model's broadcast
        curated(docs)._jdf.queryExecution().executedPlan()
        return docs

    docs = run.setup(load)
    last = {}

    def check(rows):
        kept = [int(r["id"]) for r in rows if r["stage"] is None]
        audit = [(int(r["id"]), r["stage"], r["detail"]) for r in rows if r["stage"] is not None]
        last["audit"] = audit
        return oracle.check_curate(corpus, kept, audit)

    def round_fn(r):
        run.op("curate", lambda: curated(docs), lambda d: d.collect(), check, items=n_docs)

    # after one warm-up curate the next is still 10-20% slower than the one
    # after it (JIT and Python workers still warming), so warm up twice
    run.loop(round_fn, warmup_rounds=2)
    dropped: dict[str, int] = {}
    for _, st, _ in last.get("audit", []):
        dropped[st] = dropped.get(st, 0) + 1
    for st in ("length", "language", "repetition", "quality", "quality_model",
               "exact_dup", "near_dup"):
        run.layers[f"curate.dropped.{st}"] = dropped.get(st, 0)
    if run.trace:
        _pipeline_layers(run, docs, cfg, dropped.get("near_dup", 0))


def _pipeline_layers(run: Run, docs, cfg, near_dups: int) -> None:
    """Time the pipeline layers curate composes, each on the whole corpus."""
    from vectorchord_spark.pipeline.dedup import (
        connected_components,
        exact_dedup,
        minhash_lsh_pairs,
    )
    from vectorchord_spark.pipeline.quality_model import score_quality
    from vectorchord_spark.pipeline.text import row_filter_stats

    run.timed_layer("pipeline.row_filter_stats_ms",
                    lambda: _noop(row_filter_stats(docs, "text", rep=True, quality=True)))
    run.timed_layer("pipeline.exact_dedup_ms",
                    lambda: _noop(exact_dedup(docs, ["text"], id_col="doc_id")))
    pairs = minhash_lsh_pairs(
        docs, id_col="doc_id", text_col="text", n=cfg.shingle_n,
        num_hashes=cfg.minhash_hashes, band_rows=cfg.minhash_band_rows,
        max_bucket=cfg.minhash_max_bucket,
    ).persist()
    n_pairs = run.timed_layer("pipeline.minhash_lsh_pairs_ms", pairs.count)
    run.timed_layer("pipeline.connected_components_ms",
                    lambda: _noop(connected_components(pairs)))
    pairs.unpersist()
    run.timed_layer("pipeline.score_quality_ms",
                    lambda: _noop(score_quality(docs, cfg.quality_model)))
    run.layers["dedup.candidate_pairs"] = n_pairs
    run.layers["dedup.candidate_pairs_per_near_dup"] = n_pairs / max(near_dups, 1)


WORKLOADS = {
    "ann_serve_mutate": (ann_inputs, ann_serve_mutate),
    "curate_corpus": (curate_inputs, curate_corpus),
}


def end_to_end(run: Run, retained: float) -> dict:
    return {
        "setup_s": statistics.median(run.setup_reps),
        "op_p50_ms": run.log.op_p50_ms(),
        "throughput": run.log.throughput(),
        "retained_mb": retained,
    }


def per_layer(run: Run) -> dict:
    """Layer figures present in every workload: for each field, the mean
    over op kinds of the kind's median traced op, plus set-up layers."""
    med = run.tracer.layer_medians()
    kinds = sorted(run.tracer.ops)
    out = {}
    for f in FIELDS:
        out[f"op.{f}"] = float(np.mean([med[f"{k}.{f}"] for k in kinds]))
    results = sum(statistics.median(r["results"] for r in run.tracer.ops[k]) for k in kinds)
    out["op.rows_scanned_per_result"] = (
        sum(med[f"{k}.rows_scanned"] for k in kinds) / max(results, 1)
    )
    for name in ("session.start_ms", "warmup_ms"):
        out[name] = run.layers[name]
    out["trace.overhead_op_p50_ms"] = trace_overhead(run)["op_p50_ms"]
    return out


def trace_overhead(run: Run) -> dict:
    """Traced minus untraced, for every end-to-end figure a trace run can
    compare within itself: the op-latency and throughput metrics and each op
    kind's median. ``setup_s`` and ``retained_mb`` are not traced."""
    t, u = run.log_traced, run.log
    out = {
        "op_p50_ms": t.op_p50_ms() - u.op_p50_ms(),
        "throughput": t.throughput() - u.throughput(),
    }
    for kind in sorted(set(t.kinds) & set(u.kinds)):
        out[f"{kind}_p50_ms"] = t.p50_ms(kind) - u.p50_ms(kind)
    return out


def named_metrics(run: Run) -> dict:
    """The per-op end-to-end figures the workload measures, by the names
    the benchmark doc uses, from untraced ops."""
    s = run.log.summary()
    out = dict(run.named)
    for kind, v in s.items():
        out[f"{kind}_p50_ms"] = v["p50_ms"]
        if kind == "ivf_search":
            out["ivf_search_tail_ms"] = v["tail_ms"]
            out["ivf_search_tail_pct"] = v["tail_pct"]
            out["ivf_search_n"] = v["n"]
    if "ivf_batch" in s:
        out["ivf_batch_qps"] = ANN_BATCH / (s["ivf_batch"]["p50_ms"] / 1e3)
    if "ivf_insert" in s:
        out["insert_rows_per_s"] = ANN_INSERT / (s["ivf_insert"]["p50_ms"] / 1e3)
    if "curate" in s:
        out["curate_docs_per_s"] = CURATE_DOCS / (s["curate"]["p50_ms"] / 1e3)
    attempted, failed = run.counts()
    out["failed_op_frac"] = failed / max(attempted, 1)
    return {k: (finite_ms(v) if isinstance(v, float) else v) for k, v in out.items()}
