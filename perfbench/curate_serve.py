"""The ``curate_serve`` workload: batch curation and index-served search over
the benchmark corpus.

One operation is one round of thirteen requests in seeded order:

- the nine registry curation queries in ``QUERIES``, each fully collected
  with ``toPandas()``;
- four searches against the persisted indexes built during set-up:
  ``operators.text_index.probe_text_index`` with 2, 3 and 4 terms sampled
  from the corpus vocabulary, and ``operators.vector_index.probe_ivf_index``
  with one corpus vector and ``nprobe=1``.

Every response is checked against DuckDB over the same corpus files:

- each query against its oracle SQL, order-insensitively;
- each BM25 search against a DuckDB BM25 for the same terms, with the
  tokenizer and formula of the ``search_bm25_topk`` oracle;
- each IVF search against the ``sim_ann_ivf`` oracle rows of that query
  vector. An ``nprobe=1`` probe with a corpus vector scores exactly its own
  cell, so those rows are the full answer.

Query vectors are normalized by DuckDB, not by the program. The oracle
results are cached (see corpus.py) and computed before the session starts.
"""

from __future__ import annotations

import shutil
import time
from concurrent.futures import ThreadPoolExecutor

import numpy as np

import corpus

QUERIES = (
    "dedup_exact",
    "dedup_simhash",
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "text_tfidf_topk",
    "text_quality_score",
    "curate_corpus",
    "sim_ann_ivf",
    "search_bm25_topk",
)
BM25_TERMS = (2, 3, 4)
BM25_K1 = 1.2
BM25_B = 0.75
TOPK = 20
WARMUP_THREADS = 4
ROUNDS = 256


class Workload:
    name = "curate_serve"

    def __init__(self, ctx) -> None:
        from doc2dataset_spark.queries import REGISTRY

        self.ctx = ctx
        self.registry = REGISTRY
        self.sf = str(ctx.corpus)
        rng = np.random.default_rng(ctx.seed)
        self.rounds = [self._round(rng) for _ in range(ROUNDS)]
        self.expected = {
            name: corpus.expected(ctx.cache, ctx.corpus, name, REGISTRY[name].oracle)
            for name in QUERIES
        }
        ivf = self.expected["sim_ann_ivf"]
        self.ivf_expected = {q: g.reset_index(drop=True) for q, g in ivf.groupby("qid")}
        self.vectors = corpus.normalized_vectors(ctx.cache, ctx.corpus)
        self.duck = corpus.duck_connect(ctx.corpus)
        self.index = ctx.work / "index"
        self.problems: list[str] = []
        self.request_s: dict[str, list[float]] = {}
        self.plain_times: list[list[tuple[str, float]]] = []
        self.build_s: dict[str, float] = {}

    @staticmethod
    def _round(rng) -> list[tuple]:
        requests = [("query", name) for name in QUERIES]
        for size in BM25_TERMS:
            terms = sorted(rng.choice(corpus.VOCAB, size=size, replace=False))
            requests.append(("bm25", tuple(str(t) for t in terms)))
        requests.append(("ivf", int(rng.integers(corpus.N_VECS))))
        return [requests[i] for i in rng.permutation(len(requests))]

    def __enter__(self):
        return self

    def __exit__(self, *exc) -> None:
        self.duck.close()

    @property
    def items(self) -> int:
        return len(self.rounds[0])

    # -- program calls ------------------------------------------------------
    def setup(self, spark) -> None:
        """Build both indexes, then warm up: every request of the first
        round once, four at a time, results discarded."""
        from doc2dataset_spark.operators.text_index import build_text_index
        from doc2dataset_spark.operators.vector_index import build_ivf_index

        self.spark = spark
        shutil.rmtree(self.index, ignore_errors=True)
        t0 = time.perf_counter()
        build_text_index(spark, self.sf, str(self.index / "text"))
        t1 = time.perf_counter()
        build_ivf_index(spark, self.sf, str(self.index / "ivf"))
        t2 = time.perf_counter()
        self.build_s = {"text": t1 - t0, "ivf": t2 - t1}
        with ThreadPoolExecutor(WARMUP_THREADS) as pool:
            for fut in [pool.submit(self._request, r) for r in self.rounds[0]]:
                fut.result()

    def _request(self, req):
        from doc2dataset_spark.operators.text_index import probe_text_index
        from doc2dataset_spark.operators.vector_index import probe_ivf_index

        kind, arg = req
        if kind == "query":
            return self.registry[arg].builder(self.spark, self.sf).toPandas()
        if kind == "bm25":
            return probe_text_index(self.spark, str(self.index / "text"), list(arg),
                                    topk=TOPK).toPandas()
        queries = self.spark.createDataFrame(
            [(arg, self.vectors[arg])], "qid bigint, qne array<double>")
        return probe_ivf_index(self.spark, str(self.index / "ivf"), queries,
                               nprobe=1).toPandas()

    @staticmethod
    def layer(req) -> str:
        kind, arg = req
        if kind == "query":
            return f"queries.{arg}"
        if kind == "bm25":
            return "operators.text_index.probe"
        return "operators.vector_index.probe"

    # -- checks -------------------------------------------------------------
    def _want(self, req):
        kind, arg = req
        if kind == "query":
            return self.expected[arg]
        if kind == "bm25":
            return self.duck.execute(
                corpus.bm25_sql(list(arg), BM25_K1, BM25_B, TOPK)).fetchdf()
        return self.ivf_expected[arg]

    def _check(self, responses: list, label: str, self_test_too: bool) -> bool:
        from doc2dataset_spark.oracle import compare_frames

        problems = []
        for req, got in responses:
            want = self._want(req)
            if req[0] != "query" and set(want.columns) <= set(got.columns):
                got = got[list(want.columns)]  # probes may return extra columns
            res = compare_frames(f"{req[0]} {req[1]}", got, want)
            if not res.ok:
                problems.append(f"{label}: {res}")
            elif self_test_too:
                problems += [f"self-test: checker missed {m} for {req}"
                             for m in self_test(got, want)]
        self.problems += problems
        return not problems

    # -- operations ---------------------------------------------------------
    def _run_round(self, i: int, tracer=None, parent=None):
        responses, times = [], []
        t0 = time.perf_counter()
        for req in self.rounds[i % ROUNDS]:
            q0 = time.perf_counter()
            if tracer is None:
                got = self._request(req)
            else:
                with tracer.span(self.layer(req), parent=parent):
                    got = self._request(req)
            times.append((self.layer(req), time.perf_counter() - q0))
            responses.append((req, got))
        return time.perf_counter() - t0, responses, times

    def op(self, i: int) -> tuple[float, bool]:
        dt, responses, times = self._run_round(i)
        self.plain_times.append(times)
        return dt, self._check(responses, f"round {i}", self_test_too=(i == 0))

    def own_metrics(self) -> dict:
        """The workload's own metric names: pass_s is the median over rounds of the
        nine queries' summed time; request_s_* are over the searches."""
        from tracing import median, percentile

        passes = [sum(t for layer, t in r if layer.startswith("queries.")) for r in self.plain_times]
        searches = [t for r in self.plain_times for layer, t in r
                    if not layer.startswith("queries.")]
        if not searches:
            return {}
        return {"pass_s": (median(passes), "s"),
                "request_s_p50": (median(searches), "s"),
                "request_s_p90": (percentile(searches, 90), "s")}

    def traced_op(self, i: int, tracer) -> tuple[float, bool]:
        with tracer.span("op", mode="traced", index=i) as op:
            dt, responses, times = self._run_round(i, tracer, op)
        for layer, t in times:
            self.request_s.setdefault(layer, []).append(t)
        return dt, self._check(responses, f"traced round {i}", self_test_too=False)

    def layer_metrics(self, tracer) -> dict:
        from tracing import median

        out = {f"{layer}_s" if layer.startswith("operators") else f"{layer}.s": median(ts)
               for layer, ts in self.request_s.items()}
        out["operators.text_index.build_s"] = self.build_s.get("text", 0.0)
        out["operators.vector_index.build_s"] = self.build_s.get("ivf", 0.0)
        return out


def self_test(got, want) -> list[str]:
    """Corrupt a correct response two ways; return the corruptions the
    checker failed to flag (empty when it caught both)."""
    from doc2dataset_spark.oracle import compare_frames

    missed = []
    if len(got) > 1 and compare_frames("self-test", got.iloc[1:], want).ok:
        missed.append("one row dropped")
    floats = [c for c in got.columns if got[c].dtype.kind == "f"]
    if floats:
        altered = got.copy()
        altered.loc[altered.index[0], floats[0]] += 1e-4
        if compare_frames("self-test", altered, want).ok:
            missed.append(f"one {floats[0]} altered")
    return missed
