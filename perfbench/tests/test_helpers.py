"""Fast tests for the benchmark's helpers (no Spark session needed).

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

import math
import os
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402
import oracle  # noqa: E402
from stats import UNMEASURED_MS, OpLog, tail  # noqa: E402
from tracing import covered_ms, plan_metrics  # noqa: E402

# ----------------------------------------------------------------------------
# percentile and sample-count rule
# ----------------------------------------------------------------------------


def test_tail_needs_ten_samples_beyond_it():
    assert tail([1.0] * 10) is None
    assert tail(list(range(11))) == (0, 100 / 11, 11)


def test_tail_is_highest_percentile_with_ten_beyond():
    samples = list(range(100, 0, -1))  # unsorted on purpose
    value, pct, n = tail(samples)
    assert (value, pct, n) == (90, 90.0, 100)
    assert sum(s > value for s in samples) == 10
    value, pct, _ = tail(list(range(1, 21)))
    assert (value, pct) == (10, 50.0)


# ----------------------------------------------------------------------------
# failure counting
# ----------------------------------------------------------------------------


def test_failed_op_counts_and_misses_every_latency_figure():
    log = OpLog()
    log.record("a", 0.010, True, items=5)
    log.record("a", 0.020, True, items=5)
    log.record("a", 0.030, False, why="wrong answer")
    log.record("b", 0.040, True)
    assert (log.attempted, log.failed) == (4, 1)
    assert log.failures == ["a: wrong answer"]
    # the failed op is an infinite sample, so it pushes the median up
    assert log.p50_ms("a") == pytest.approx(20.0)
    assert log.items == 11  # work of the failed op is not counted
    assert log.throughput() == pytest.approx(11 / 0.100)
    assert log.op_p50_ms() == pytest.approx(math.sqrt(20.0 * 40.0))


def test_all_failed_kind_reports_unmeasured():
    log = OpLog()
    log.record("a", 0.01, False, why="raised")
    assert log.op_p50_ms() == UNMEASURED_MS
    assert log.summary()["a"]["p50_ms"] == UNMEASURED_MS


# ----------------------------------------------------------------------------
# plan-metric walker
# ----------------------------------------------------------------------------


class _JSeq:
    def __init__(self, items):
        self._items = list(items)

    def iterator(self):
        it = iter(self._items)
        nxt = []

        class _It:
            def hasNext(self):
                if not nxt:
                    nxt.append(next(it, _JSeq))
                return nxt[0] is not _JSeq

            def next(self):
                self.hasNext()
                return nxt.pop()

        return _It()


class _Pair:
    def __init__(self, a, b):
        self.a, self.b = a, b

    def _1(self):
        return self.a

    def _2(self):
        return self.b


class _Metric:
    def __init__(self, acc_id, value):
        self._id, self._value = acc_id, value

    def id(self):
        return self._id

    def value(self):
        return self._value


class _Node:
    """Just enough of a py4j ``SparkPlan`` proxy for the walker."""

    def __init__(self, cls, metrics=None, children=(), **inner):
        self._cls, self._children, self._inner = cls, children, inner
        self._metrics = [_Pair(k, _Metric(*v)) for k, v in (metrics or {}).items()]

    def getClass(self):
        cls = self._cls
        return type("C", (), {"getSimpleName": staticmethod(lambda: cls)})

    def metrics(self):
        return _JSeq(self._metrics)

    def children(self):
        return _JSeq(self._children)

    def executedPlan(self):
        return self._inner["executed"]

    def plan(self):
        return self._inner["plan"]

    def relation(self):
        cached = self._inner["cached"]
        return type("R", (), {"cachedPlan": staticmethod(lambda: cached)})


def test_walker_unwraps_adaptive_stage_and_in_memory_plans():
    scan = _Node("FileSourceScanExec",
                 {"numOutputRows": (1, 50_000), "scanTime": (2, 70)})
    udf = _Node("MapInPandasExec",
                {"pythonTotalTime": (3, 900), "pythonBootTime": (4, 40),
                 "pythonInitTime": (5, 60)}, [scan])
    cached = _Node("InMemoryTableScanExec", {"numOutputRows": (6, 12_000)},
                   cached=udf)
    stage = _Node("ShuffleQueryStageExec",
                  plan=_Node("ShuffleExchangeExec",
                             {"shuffleBytesWritten": (7, 2048)}, [cached]))
    other_scan = _Node("FileSourceScanExec", {"numOutputRows": (8, 100)})
    root = _Node("AdaptiveSparkPlanExec",
                 executed=_Node("SortMergeJoinExec", {}, [stage, other_scan]))
    assert plan_metrics(root) == {
        "rows_scanned": 50_100,
        "scan_ms": 70,
        "python_ms": 900,
        "python_init_ms": 100,
        "shuffle_bytes": 2048,
    }


def test_walker_counts_a_shared_subtree_once():
    scan = _Node("FileSourceScanExec", {"numOutputRows": (1, 10)})
    a = _Node("InMemoryTableScanExec", {}, cached=scan)
    b = _Node("InMemoryTableScanExec", {}, cached=scan)
    assert plan_metrics(_Node("UnionExec", {}, [a, b]))["rows_scanned"] == 10


def test_covered_ms_merges_overlapping_jobs():
    jobs = [(1.0, 2.0), (1.5, 3.0), (5.0, 6.0), (9.0, 12.0)]
    assert covered_ms(jobs, 0.0, 10.0) == pytest.approx(4000.0)


# ----------------------------------------------------------------------------
# generator determinism
# ----------------------------------------------------------------------------


def test_vectors_and_queries_are_seed_determined():
    a, b, c = gen.vectors(7, 500), gen.vectors(7, 500), gen.vectors(8, 500)
    assert gen.digest(a) == gen.digest(b) != gen.digest(c)
    q = gen.queries(7, a, 4)
    assert gen.digest(q) == gen.digest(gen.queries(7, b, 4))
    # every coordinate survives a 4-decimal SQL literal unchanged
    assert all(float(f"{v:.4f}") == v for v in q.ravel())


def test_corpus_is_seed_determined_and_plants_its_defects():
    c1, c2 = gen.corpus(3, 400), gen.corpus(3, 400)
    assert gen.digest(c1["doc_id"], c1["text"]) == gen.digest(c2["doc_id"], c2["text"])
    assert gen.digest(gen.corpus(4, 400)["text"]) != gen.digest(c1["text"])
    text = dict(zip(c1["doc_id"].tolist(), c1["text"]))
    assert sorted(text) == list(range(400))
    for group in c1["exact_groups"]:
        assert len({text[i] for i in group}) == 1
    for a, b in c1["near_pairs"]:
        wa, wb = text[a].split(" "), text[b].split(" ")
        assert len(wa) == len(wb) and sum(x != y for x, y in zip(wa, wb)) == 1
    assert all(len(text[i].split(" ")) < 10 for i in c1["short"])


# ----------------------------------------------------------------------------
# oracles
# ----------------------------------------------------------------------------


def test_exact_topk_breaks_ties_by_id_and_same_topk_allows_tie_swaps():
    base = np.array([[1.0, 0.0], [0.0, 1.0], [2.0, 0.0]])
    ids = np.array([5, 3, 9])
    got_ids, got_d = oracle.exact_topk(base, ids, np.zeros(2), k=3)
    assert got_ids.tolist() == [3, 5, 9]
    assert got_d.tolist() == [1.0, 1.0, 2.0]
    assert oracle.same_topk([5, 3, 9], [1.0, 1.0, 2.0], got_ids, got_d) == ""
    assert oracle.same_topk([9, 3, 5], [1.0, 1.0, 2.0], got_ids, got_d) != ""


def test_check_curate_catches_a_broken_partition_and_a_missed_duplicate():
    corpus = {
        "doc_id": np.array([0, 1, 2, 3]),
        "text": ["a b", "a b", "c d", "e f"],
        "exact_groups": [[0, 1]],
    }
    good = oracle.check_curate(corpus, [0, 2], [(1, "exact_dup", "keeper=0"),
                                               (3, "length", "n_words=2")])
    assert good == ""
    assert "cover" in oracle.check_curate(corpus, [0, 2], [(1, "exact_dup", "keeper=0")])
    assert "both" in oracle.check_curate(
        corpus, [0, 1, 2], [(1, "exact_dup", "keeper=0"), (3, "length", "")])
    missed = oracle.check_curate(corpus, [0, 2], [(1, "near_dup", "keeper=0"),
                                                 (3, "length", "")])
    assert "not dropped at exact_dup" in missed
    wrong_keeper = oracle.check_curate(corpus, [0, 1], [(2, "exact_dup", "keeper=0"),
                                                       (3, "length", "")])
    assert "exact_dup of 0" in wrong_keeper
