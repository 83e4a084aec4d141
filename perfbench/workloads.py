"""The benchmark's workloads.

Both run one closed-loop client: the next operation starts when the
previous one has returned its rows.  An operation's latency runs from the
call until its rows are collected; its check against the oracle runs after
that, outside the latency.  A raised or mismatched operation is counted as
failed and never skipped.

- ``serve_mixed``: one long-lived ``SearchIndex`` over an artifact built in
  set-up serves a seeded request mix (get hit/miss, get_many, search with
  q + fq + sort + rows, bm25 top-k, facet, ``{!knn}`` through the ANN
  sidecar).  Nothing writes.
- ``ingest_update``: the write path.  Each cycle builds the artifact from
  the raw JSON files (read_input -> pipeline -> IndexJob.build with
  retain-most-recent dedup and the bloom, stats and key-range sidecars),
  finds the planted near-duplicates in it with minhash_dedup, then runs
  merge_into, update_fields and delete_where against it, each followed by
  a read-your-writes get_many through one long-lived handle.
"""

from __future__ import annotations

import os
import statistics
import sys
import time
import traceback
from contextlib import contextmanager
from dataclasses import dataclass, field

import numpy as np

from perfbench import gen, oracle

SERVE_DOCS = 4000
INGEST_DOCS = 8000
WARM_DOCS = 200
N_CENTROIDS = 8
KNN_K = 10
NEAR_DUP_THRESHOLD = 0.8

# ``--seconds`` sets how much work a run measures, at the nominal pace of a
# 4-core host: whole serve blocks of about 7 s, whole ingest cycles of
# about 30 s, at least one.  The work is fixed rather than timed so that a
# faster or slower host (or commit) runs the same requests, with the same
# memo hits, and its figures stay comparable.
SERVE_BLOCK_S = 7.0
INGEST_CYCLE_S = 30.0

# Zipf ranks below HEAD_RANKS are the head: their queries repeat, so the
# handle's plan memo hits; the tail above keeps producing new plans.
HEAD_RANKS = 50

# One serve block: fixed request counts in a seeded order, so every run
# serves the same mix.  The proportions are an unverified assumption, not a
# measured or cited traffic mix: no traffic source exists for this engine.
# They were chosen so that every request kind runs in every block, point
# lookups are the majority, and the percentiles stay steady across seeds: a
# memoized repeat is much faster than a new plan, so a fixed head/tail split
# keeps the median inside the lookup band and the 90th percentile inside the
# band of new plans and bm25.  Single-key gets are 9 of 16 requests so that
# the median falls among them, not on the edge with the slower get_many.
# The mix therefore decides which gains op_p50_ms and op_p90_ms can show;
# the per-kind latencies are in the results file.
SERVE_BLOCK = (
    ("get_hit", 8), ("get_miss", 1), ("get_many", 2), ("facet", 1),
    ("search_head", 1), ("search_tail", 1), ("knn", 1), ("bm25", 1),
)


@dataclass
class Op:
    kind: str
    seconds: float


@dataclass
class Result:
    """What a measured window did; ``errors`` holds one line per failed
    operation."""

    ops: list[Op] = field(default_factory=list)
    errors: list[str] = field(default_factory=list)
    attempted: int = 0
    work_items: int = 0
    stored_bytes: int = 0
    input_bytes: int = 0
    write_input_bytes: int = 0
    files_scanned: dict[str, list[float]] = field(default_factory=dict)

    def op_summary(self) -> dict[str, dict[str, float]]:
        kinds: dict[str, list[float]] = {}
        for op in self.ops:
            kinds.setdefault(op.kind, []).append(op.seconds * 1000.0)
        return {
            k: {"n": len(v), "p50_ms": statistics.median(v), "max_ms": max(v)}
            for k, v in kinds.items()
        }

    def ratios(self, profile: dict[str, dict[str, float]]) -> dict[str, float]:
        out = {
            f"index_reader.{k}.files_scanned_ratio": statistics.mean(v)
            for k, v in self.files_scanned.items()
        }
        written = sum(
            row["output_bytes"] for name, row in profile.items()
            if name.startswith("search_stats.")
        )
        if self.write_input_bytes:
            out["search_stats.output_bytes_per_input_byte"] = written / self.write_input_bytes
        return out

    def summary(self, e2e: dict[str, float], overhead: dict | None) -> str:
        lines = [f"attempted {self.attempted}, failed {len(self.errors)} "
                 f"(error rate {len(self.errors) / max(self.attempted, 1):.4f})"]
        lines += [f"  {k}: {v:.4f}" for k, v in e2e.items()]
        for k, v in sorted(self.op_summary().items()):
            lines.append(f"  {k}: n={v['n']} p50={v['p50_ms']:.1f} ms max={v['max_ms']:.1f} ms")
        if overhead:
            lines.append("  tracing overhead: " + ", ".join(
                f"{k} {v:+.4f}" for k, v in overhead.items()))
        lines += [f"  ERROR {e}" for e in self.errors]
        return "\n".join(lines)


def _tree_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


def _data_files(path: str) -> int:
    return sum(
        1 for d, _, fs in os.walk(path) for f in fs
        if f.endswith(".parquet") and os.path.basename(d).startswith("shard=")
    )


def _row_tuple(r) -> tuple:
    import calendar

    return (r["id"], r["title"], r["category"], r["views"],
            calendar.timegm(r["updated_at"].utctimetuple()))


class Workload:
    """Shared set-up: engine handles, schema, pipeline and DuckDB.

    ``SPANS`` and ``RATIOS`` name the spans and ratios a traced run of the
    workload must record; one that stays unrecorded fails the run."""

    SPANS: tuple[str, ...] = ()
    RATIOS: tuple[str, ...] = ()

    def __init__(self, spark, seed: int, work: str, tracer):
        import duckdb
        import pyspark.sql.functions as F

        from solr_map_reduce_spark import indexing, sources
        from solr_map_reduce_spark.extensions import text_dedup
        from solr_map_reduce_spark.index_reader import SearchIndex
        from solr_map_reduce_spark.plans import pipeline
        from solr_map_reduce_spark.schema import Field, IndexSchema

        self.spark, self.seed, self.work, self.tracer = spark, seed, work, tracer
        self.setup_steps: dict[str, float] = {}
        self.F, self.indexing, self.sources = F, indexing, sources
        self.text_dedup, self.SearchIndex = text_dedup, SearchIndex
        self.cores = len(os.sched_getaffinity(0))
        self.duck = duckdb.connect()
        self.duck.execute("SET threads = 1")
        self.schema = IndexSchema(
            fields=(
                Field("id", "string", required=True),
                Field("tenant", "string"),
                Field("updated_at", "date"),
                Field("title", "string"),
                Field("body", "text_general"),
                Field("category", "string"),
                Field("views", "long"),
                Field("price", "double"),
                Field("embedding", "array<float>"),
            ),
            unique_key="id",
        )
        self.pipe = pipeline.compile_pipeline([
            {"op": "convert_timestamp", "field": "updated_at",
             "input_formats": (gen.RAW_TS_FORMAT,)},
            {"op": "sanitize", "schema": self.schema},
        ])
        self.job = indexing.IndexJob(indexing.IndexJobConfig(
            schema=self.schema, shards=4, micro_shards=8,
            dedup="retain_most_recent", order_field="updated_at", routing="solr",
            term_blooms=True, search_stats=True, key_ranges=True,
        ))

    @contextmanager
    def step(self, name: str):
        """Time one set-up step into ``setup_steps``."""
        t0 = time.perf_counter()
        yield
        self.setup_steps[name] = time.perf_counter() - t0

    def write_raw(self, records: list[dict], name: str, n_files: int) -> tuple[list[str], int]:
        return gen.write_jsonl(records, os.path.join(self.work, name), n_files)

    def read_raw(self, files: list[str], schema: str = gen.RAW_SCHEMA_DDL):
        return self.sources.read_input(self.spark, files, format="json", schema=schema)

    def build(self, files: list[str], path: str) -> None:
        self.job.build(self.pipe.run(self.read_raw(files)), path)

    def request(self, res: Result | None, kind: str, make_df) -> tuple[list, float]:
        """Plan the request, then collect it; returns (rows, seconds)."""
        t0 = time.perf_counter()
        with self.tracer.span(f"index_reader.{kind}.plan"):
            df = make_df()
        with self.tracer.span(f"index_reader.{kind}.exec"):
            rows = df.collect()
        seconds = time.perf_counter() - t0
        if res is not None and self.tracer.enabled:
            # After the collect, outside the latency: the collect has
            # memoised the optimised plan that inputFiles() reads, so this
            # moves no planning time out of the spans above.
            files = _data_files(self.path)
            res.files_scanned.setdefault(kind, []).append(
                len(df.inputFiles()) / files if files else 0.0)
        return rows, seconds

    def verify(self, res: Result) -> None:
        """Checks after the measured operations; failures go to ``res``."""

    def check_stored(self, res: Result, state: oracle.DocState, what: str) -> None:
        """Every stored document, read back with DuckDB, against ``state``."""
        res.attempted += 1
        try:
            oracle.check_artifact(self.duck, self.path, state, what)
        except oracle.Mismatch as e:
            res.errors.append(str(e))

    @staticmethod
    def attempt(res: Result, kind: str, items: int, run, check) -> None:
        """One measured operation: ``run()`` returns (output, seconds);
        ``check(output)`` raises on a wrong answer."""
        res.attempted += 1
        t0 = time.perf_counter()
        try:
            out, seconds = run()
        except Exception as e:  # the engine raised: a failed operation
            res.ops.append(Op(kind, time.perf_counter() - t0))
            res.errors.append(f"{kind}: raised {type(e).__name__}: {e}".splitlines()[0])
            traceback.print_exc(file=sys.stderr)
            return
        res.ops.append(Op(kind, seconds))
        try:
            check(out)
        except Exception as e:  # a mismatch, or a check that could not run
            res.errors.append(f"{kind}: {type(e).__name__}: {e}".splitlines()[0][:500])
            return
        res.work_items += items


class ServeMixed(Workload):
    name = "serve_mixed"
    # Spans a traced run must open; a per-layer metric of any other span is
    # one this workload never reaches, and reads 0.
    SPANS = tuple(
        f"index_reader.{k}.{p}"
        for k in ("get", "get_many", "search", "bm25", "facet", "knn")
        for p in ("plan", "exec")
    ) + ("ann_sidecar.probe_topk", "search_stats.term_dfs")
    RATIOS = tuple(
        f"index_reader.{k}.files_scanned_ratio"
        for k in ("get", "get_many", "search", "bm25", "facet", "knn")
    )

    def setup(self) -> None:
        with self.step("generate"):
            self.gen = gen.Generator(self.seed)
            corpus = self.gen.corpus(SERVE_DOCS, dup_frac=0.1)
            self.state = oracle.DocState(corpus.winners)
            files, self.input_bytes = self.write_raw(corpus.records, "raw", max(8, self.cores))
            oracle.check_winners(self.duck, files, self.state)
        self.path = os.path.join(self.work, "serve_index")
        with self.step("build"):
            self.build(files, self.path)
        oracle.check_artifact(self.duck, self.path, self.state, "serve artifact")
        with self.step("build_ann"):
            self.idx = self.SearchIndex.open(self.spark, self.path)
            self.idx.build_ann("embedding", kind="ivf", n_centroids=N_CENTROIDS, nprobe=2)
        self.stored_bytes = _tree_bytes(self.path)
        with self.step("warm_up"):
            # one request per code path, from its own stream, checked
            warm = np.random.default_rng([self.seed, 2])
            for kind in ("get_hit", "get_many", "facet", "search_tail", "knn", "bm25"):
                self._serve_one(None, kind, warm, block=0)

    def _params(self, kind: str, rng, block: int) -> dict:
        st, g = self.state, self.gen
        if kind == "get_hit":
            return {"key": st.ids[int(rng.integers(st.n_docs))]}
        if kind == "get_miss":
            # an id shaped like the live ones, inside its tenant's key range,
            # that was never issued, so key ranges cannot rule it out.  An id
            # past the tenant's last key would be pruned or not depending on
            # which tenants share its files, and its latency with it.
            while True:
                key = f"t{int(rng.integers(gen.TENANTS)):02d}!k{int(rng.integers(st.n_docs)):07d}"
                if key not in st.docs:
                    return {"key": key}
        if kind == "get_many":
            hits = [st.ids[int(i)] for i in rng.integers(st.n_docs, size=6)]
            return {"keys": hits + [f"t00!m{int(rng.integers(1 << 30)):010d}" for _ in range(2)],
                    "want": sorted(set(hits))}
        if kind == "knn":
            # alternate blocks: a full probe (provably exact) and nprobe=2
            return {"vec": g.embeddings(1, rng)[0],
                    "nprobe": N_CENTROIDS if block % 2 == 0 else 2}

        def term(lo: int, hi: int) -> str:
            t = g.zipf_term(rng, lo, hi)
            while t not in st.postings:  # so no hit request is vacuous
                t = g.zipf_term(rng, lo, hi)
            return t

        if kind in ("search_head", "search_tail"):
            t = term(0, HEAD_RANKS) if kind == "search_head" else term(HEAD_RANKS, gen.VOCAB_SIZE)
            cats = sorted({st.docs[i]["category"] for i in st.postings[t]})
            return {"term": t, "category": cats[int(rng.integers(len(cats)))]}
        if kind == "facet":
            return {"term": term(HEAD_RANKS, gen.VOCAB_SIZE)}
        return {"terms": sorted({term(0, HEAD_RANKS), term(HEAD_RANKS, gen.VOCAB_SIZE)})}  # bm25

    def _serve_one(self, res: Result | None, kind: str, rng, block: int) -> None:
        p = self._params(kind, rng, block)
        idx, st = self.idx, self.state
        if kind in ("get_hit", "get_miss"):
            span, make = "get", lambda: idx.get(p["key"])
            want = [p["key"]] if kind == "get_hit" else []

            def check(rows):
                if kind == "get_hit":
                    oracle.expect(len(want) > 0, "get_hit: vacuous")
                oracle.check_rows([_row_tuple(r) for r in rows], st, want, kind)
        elif kind == "get_many":
            span, make = "get_many", lambda: idx.get_many(p["keys"])

            def check(rows):
                oracle.expect(len(p["want"]) > 0, "get_many: vacuous")
                oracle.check_rows([_row_tuple(r) for r in rows], st, p["want"], kind)
        elif kind in ("search_head", "search_tail"):
            span = "search"

            def make():
                return idx.search(q=p["term"], filters={"category": p["category"]},
                                  sort=[("views", "desc")], limit=10)

            def check(rows):
                oracle.check_ranked([r["id"] for r in rows],
                                    st.search(p["term"], p["category"], 10), kind)
        elif kind == "facet":
            span, make = "facet", lambda: idx.facet("category", q=p["term"])

            def check(rows):
                want = st.facet(p["term"])
                oracle.expect(len(want) > 0, "facet: vacuous")
                got = {r["category"]: r["cnt"] for r in rows}
                oracle.expect(got == want, f"facet {p['term']}: got {got} want {want}")
        elif kind == "bm25":
            span, make = "bm25", lambda: idx.bm25(p["terms"], k=10)

            def check(rows):
                oracle.check_topk_scores([(r["id"], r["score"]) for r in rows],
                                         st.bm25_scores(p["terms"]), 10, f"bm25 {p['terms']}")
        else:  # knn
            span = "knn"
            lit = ", ".join(repr(x) for x in p["vec"])
            q = f"{{!knn f=embedding topK={KNN_K} nprobe={p['nprobe']}}}[{lit}]"

            def make():
                return idx.query(q)

            def check(rows):
                oracle.check_knn([r["id"] for r in rows], st, p["vec"], KNN_K,
                                 exact=p["nprobe"] == N_CENTROIDS, what=kind)

        if res is None:  # warm-up: a wrong answer fails the set-up
            rows, _ = self.request(None, span, make)
            check(rows)
            return
        self.attempt(res, kind, 1, lambda: self.request(res, span, make), check)

    def run(self, seconds: float) -> Result:
        res = Result(stored_bytes=self.stored_bytes, input_bytes=self.input_bytes)
        rng = np.random.default_rng([self.seed, 1])
        kinds = [k for k, n in SERVE_BLOCK for _ in range(n)]
        for block in range(max(1, round(seconds / SERVE_BLOCK_S))):
            for i in rng.permutation(len(kinds)):
                self._serve_one(res, kinds[i], rng, block)
        return res

    def verify(self, res: Result) -> None:
        """Serving never writes: the artifact still holds the set-up state."""
        self.check_stored(res, self.state, "served artifact after run")


class IngestUpdate(Workload):
    name = "ingest_update"
    SPANS = (
        "sources.read_input", "plans.pipeline.run", "indexing.build",
        "indexing.merge_into", "indexing.update_fields", "indexing.delete_where",
        "indexing.read_index", "term_blooms.write_term_blooms",
        "search_stats.write_search_stats", "search_stats.write_search_sidecars",
        "search_stats.prepare_stats_delta", "key_ranges.write_key_ranges",
        "text_dedup.minhash_dedup", "text_dedup.minhash_features",
        "text_dedup.verified_jaccard",
        "index_reader.get_many.plan", "index_reader.get_many.exec",
    )
    RATIOS = (
        "index_reader.get_many.files_scanned_ratio",
        "search_stats.output_bytes_per_input_byte",
    )

    def setup(self) -> None:
        n_files = max(8, self.cores)
        with self.step("generate"):
            g = gen.Generator(self.seed)
            self.corpus = g.corpus(INGEST_DOCS, dup_frac=0.15, near_dup_frac=0.03)
            self.files, self.input_bytes = self.write_raw(self.corpus.records, "raw", n_files)
            oracle.check_winners(self.duck, self.files, oracle.DocState(self.corpus.winners))
            self.batches = self._batches(g)
        self.path = os.path.join(self.work, "live_index")
        with self.step("warm_up"):
            # a small build of its own starts the Python workers and
            # compiles the shared write path, so the measured build runs warm
            wcorpus = gen.Generator(self.seed + 1_000_003).corpus(WARM_DOCS, dup_frac=0.15)
            wfiles, _ = self.write_raw(wcorpus.records, "warm_raw", n_files)
            self.build(wfiles, os.path.join(self.work, "warm_index"))

    def _batches(self, g: gen.Generator) -> dict:
        """Disjoint key sets of one tenant for one merge, one update and one
        delete: composite-id routing keeps a tenant on one shard, so each
        mutation rewrites one shard directory."""
        rng = np.random.default_rng([g.seed, 3])
        tenant = int(rng.integers(gen.TENANTS))
        ids = sorted(i for i in self.corpus.winners if i.startswith(f"t{tenant:02d}!"))
        picked = [ids[i] for i in rng.choice(len(ids), size=130, replace=False)]
        replace, upd, dele = picked[:50], picked[50:100], picked[100:130]
        later = np.full(100, gen.EPOCH_2024 + 400 * 86400) + rng.integers(0, 86400, size=100)
        merge = g.records(replace + g.new_ids(50, tenant), later)
        views = {i: int(v) for i, v in zip(upd, rng.integers(0, 1_000_000, size=len(upd)))}
        d = os.path.join(self.work, "batch")
        merge_files, merge_bytes = gen.write_jsonl(merge, os.path.join(d, "merge"), 1)
        upd_files, upd_bytes = gen.write_jsonl(
            [{"id": i, "views": v} for i, v in views.items()], os.path.join(d, "update"), 1)
        return {"merge": merge, "merge_files": merge_files, "views": views,
                "update_files": upd_files, "delete": dele,
                "bytes": merge_bytes + upd_bytes}

    def _ryw(self, res: Result, handle, keys: list[str]):
        """Read-your-writes: get_many through the long-lived handle."""
        rows, seconds = self.request(res, "get_many", lambda: handle.get_many(keys))
        return [_row_tuple(r) for r in rows], seconds

    def _cycle(self, res: Result) -> None:
        F, spark, path = self.F, self.spark, self.path
        files, corpus, batches = self.files, self.corpus, self.batches
        state = oracle.DocState(corpus.winners)

        def build():
            t0 = time.perf_counter()
            self.build(files, path)
            return None, time.perf_counter() - t0

        self.attempt(res, "build", len(corpus.records), build,
                     lambda _: oracle.check_artifact(self.duck, path, state, "built artifact"))
        res.stored_bytes = _tree_bytes(path)
        res.write_input_bytes += sum(os.path.getsize(f) for f in files)

        def near_dup():
            t0 = time.perf_counter()
            docs = self.indexing.read_index(spark, path).select("id", "body")
            pairs = self.text_dedup.minhash_dedup(
                docs, text_col="body", id_col="id", threshold=NEAR_DUP_THRESHOLD
            ).collect()
            return [(r["id_a"], r["id_b"], r["jaccard"]) for r in pairs], time.perf_counter() - t0

        self.attempt(res, "near_dup", state.n_docs, near_dup,
                     lambda pairs: oracle.check_near_dups(
                         pairs, state, corpus.near_dups, NEAR_DUP_THRESHOLD))

        handle = self.SearchIndex.open(spark, path)
        merge = batches["merge"]
        merge_keys = [r["id"] for r in merge[::10]]

        def do_merge():
            t0 = time.perf_counter()
            self.job.merge_into(self.pipe.run(self.read_raw(batches["merge_files"])), path)
            mutate_s = time.perf_counter() - t0
            rows, read_s = self._ryw(res, handle, merge_keys)
            return rows, mutate_s + read_s

        def check_merge(rows):
            state.upsert(merge)
            oracle.check_rows(rows, state, merge_keys, "merge_into read-your-writes")

        self.attempt(res, "merge_into", len(merge), do_merge, check_merge)
        views = batches["views"]
        upd_keys = sorted(views)[::5]

        def do_update():
            t0 = time.perf_counter()
            self.job.update_fields(
                self.read_raw(batches["update_files"], "id STRING, views BIGINT"), path)
            mutate_s = time.perf_counter() - t0
            rows, read_s = self._ryw(res, handle, upd_keys)
            return rows, mutate_s + read_s

        def check_update(rows):
            state.set_views(views)
            oracle.check_rows(rows, state, upd_keys, "update_fields read-your-writes")

        self.attempt(res, "update_fields", len(views), do_update, check_update)
        dele = batches["delete"]
        live = upd_keys[:5]
        del_keys = dele[:5] + live

        def do_delete():
            t0 = time.perf_counter()
            n = self.job.delete_where(spark, path, F.col("id").isin(dele))
            mutate_s = time.perf_counter() - t0
            rows, read_s = self._ryw(res, handle, del_keys)
            return (n, rows), mutate_s + read_s

        def check_delete(out):
            n, rows = out
            state.delete(dele)
            oracle.expect(n == len(dele), f"delete_where removed {n}, want {len(dele)}")
            oracle.check_rows(rows, state, live, "delete_where read-your-writes")

        self.attempt(res, "delete_where", len(dele), do_delete, check_delete)
        res.write_input_bytes += batches["bytes"]
        self.check_stored(res, state, "artifact after mutations")

    def run(self, seconds: float) -> Result:
        res = Result(input_bytes=self.input_bytes)
        for _ in range(max(1, round(seconds / INGEST_CYCLE_S))):
            self._cycle(res)
        return res


WORKLOADS = {w.name: w for w in (ServeMixed, IngestUpdate)}
