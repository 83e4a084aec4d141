"""Expected results, computed without the engine.

Serving and curation oracles work from the generator's own records; the
built artifacts are read back with DuckDB, an independent Parquet reader.
Every check raises ``Mismatch`` on a wrong answer, and every hit-request
check first asserts that its expected answer is non-empty, so no check can
pass by comparing nothing with nothing.
"""

from __future__ import annotations

import calendar
import math
import re
import time
from collections import Counter

import numpy as np

K1, B = 1.2, 0.75  # the engine's BM25 defaults
SHINGLE_K = 3


class Mismatch(AssertionError):
    """The engine returned something other than the expected result."""


def expect(cond: bool, msg: str) -> None:
    if not cond:
        raise Mismatch(msg)


def tokens(text: str) -> list[str]:
    """text_general analysis: lowercase, split on non-word characters."""
    return [t for t in re.split(r"[^\w]+|_", text.lower()) if t]


def epoch_s(raw_ts: str) -> int:
    return calendar.timegm(time.strptime(raw_ts, "%Y-%m-%d %H:%M:%S"))


class DocState:
    """The expected live documents, id -> generated record, with the
    derived structures the serving oracles need."""

    def __init__(self, docs: dict[str, dict]):
        self.docs = dict(docs)
        self._index()

    def _index(self) -> None:
        self.toks = {i: tokens(d["body"]) for i, d in self.docs.items()}
        self.postings: dict[str, dict[str, int]] = {}
        for i, ts in self.toks.items():
            for t, n in Counter(ts).items():
                self.postings.setdefault(t, {})[i] = n
        self.n_docs = len(self.docs)
        self.avgdl = sum(len(t) for t in self.toks.values()) / max(self.n_docs, 1)
        self.ids = sorted(self.docs)
        vecs = np.array([self.docs[i]["embedding"] for i in self.ids], dtype=np.float64)
        self.unit = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)

    # -- mutations (mirror what the engine is asked to do) --------------
    def upsert(self, records: list[dict]) -> None:
        for r in records:
            cur = self.docs.get(r["id"])
            if cur is None or epoch_s(r["updated_at"]) >= epoch_s(cur["updated_at"]):
                self.docs[r["id"]] = r
        self._index()

    def set_views(self, updates: dict[str, int]) -> None:
        for i, v in updates.items():
            self.docs[i] = dict(self.docs[i], views=v)
        self._index()

    def delete(self, ids: list[str]) -> None:
        for i in ids:
            self.docs.pop(i, None)
        self._index()

    # -- per-request expectations ---------------------------------------
    def row_of(self, doc_id: str) -> tuple:
        d = self.docs[doc_id]
        return (d["id"], d["title"], d["category"], d["views"], epoch_s(d["updated_at"]))

    def search(self, term: str, category: str, rows: int) -> list[str]:
        hits = [i for i in self.postings.get(term, {}) if self.docs[i]["category"] == category]
        hits.sort(key=lambda i: (-self.docs[i]["views"], i))
        return hits[:rows]

    def facet(self, term: str) -> dict[str, int]:
        return dict(Counter(self.docs[i]["category"] for i in self.postings.get(term, {})))

    def bm25_scores(self, terms: list[str]) -> dict[str, float]:
        scores: dict[str, float] = {}
        for t in terms:
            post = self.postings.get(t, {})
            df = len(post)
            idf = math.log(1.0 + (self.n_docs - df + 0.5) / (df + 0.5))
            for i, tf in post.items():
                dl = len(self.toks[i])
                s = idf * (tf * (K1 + 1)) / (tf + K1 * (1 - B + B * dl / self.avgdl))
                scores[i] = scores.get(i, 0.0) + s
        return scores

    def cosine(self, qvec: list[float]) -> np.ndarray:
        q = np.asarray(qvec, dtype=np.float64)
        return self.unit @ (q / np.linalg.norm(q))


# -- checks ---------------------------------------------------------------

def check_rows(got_rows: list[tuple], state: DocState, want_ids: list[str], what: str) -> None:
    got = sorted(got_rows)
    want = sorted(state.row_of(i) for i in want_ids)
    expect(got == want, f"{what}: got {got[:3]}... ({len(got)}) want {want[:3]}... ({len(want)})")


def check_ranked(got_ids: list[str], want_ids: list[str], what: str) -> None:
    expect(len(want_ids) > 0, f"{what}: oracle expects no rows (vacuous request)")
    expect(got_ids == want_ids, f"{what}: got {got_ids} want {want_ids}")


def check_topk_scores(got: list[tuple[str, float]], oracle: dict[str, float], k: int,
                      what: str, tol: float = 1e-9) -> None:
    """Top-k by score, robust to ties: the scores must be the oracle's k
    best, each id must carry its oracle score, and ids strictly above the
    k-th best score must all be present."""
    expect(len(oracle) > 0, f"{what}: oracle expects no rows (vacuous request)")
    best = sorted(oracle.values(), reverse=True)[:k]
    expect(len(got) == len(best), f"{what}: got {len(got)} rows want {len(best)}")
    for (doc_id, score), want in zip(got, best):
        expect(doc_id in oracle and abs(oracle[doc_id] - score) <= tol * max(1.0, abs(score)),
               f"{what}: {doc_id} scored {score}, oracle {oracle.get(doc_id)}")
        expect(abs(score - want) <= tol * max(1.0, abs(want)),
               f"{what}: rank score {score} want {want}")
    cut = best[-1]
    must = {i for i, s in oracle.items() if s > cut + tol * max(1.0, abs(cut))}
    expect(must <= {i for i, _ in got}, f"{what}: missing {sorted(must - {i for i, _ in got})}")


def check_knn(got_ids: list[str], state: DocState, qvec: list[float], k: int,
              exact: bool, what: str, tol: float = 1e-6) -> None:
    """``exact``: the k returned ids are the k nearest (ties within ``tol``
    may swap).  Otherwise (a partial probe): k distinct live ids in
    non-increasing true cosine order."""
    sims = state.cosine(qvec)
    pos = {i: n for n, i in enumerate(state.ids)}
    expect(len(got_ids) == min(k, state.n_docs) and len(set(got_ids)) == len(got_ids),
           f"{what}: {len(got_ids)} ids, want {k} distinct")
    expect(all(i in pos for i in got_ids), f"{what}: returned a non-live id")
    got_sims = [sims[pos[i]] for i in got_ids]
    expect(all(a >= b - tol for a, b in zip(got_sims, got_sims[1:])),
           f"{what}: not in cosine order {got_sims}")
    if exact:
        kth = np.sort(sims)[::-1][k - 1]
        expect(min(got_sims) >= kth - tol, f"{what}: {min(got_sims)} below the k-th best {kth}")


def shingles(text: str) -> set[tuple[str, ...]]:
    ts = tokens(text)
    if len(ts) < SHINGLE_K:
        return {tuple(ts)}
    return {tuple(ts[i:i + SHINGLE_K]) for i in range(len(ts) - SHINGLE_K + 1)}


def jaccard(a: str, b: str) -> float:
    sa, sb = shingles(a), shingles(b)
    return len(sa & sb) / len(sa | sb)


def check_near_dups(pairs: list[tuple[str, str, float]], state: DocState,
                    planted: list[tuple[str, str]], threshold: float) -> None:
    """Planted near-duplicates are all found (recall), and every reported
    pair carries its exact Jaccard, at or above the threshold (precision)."""
    live_planted = [p for p in planted if p[0] in state.docs and p[1] in state.docs]
    expect(len(live_planted) > 0, "near-dup: no planted pairs (vacuous)")
    got = {(a, b): j for a, b, j in pairs}
    missing = [p for p in live_planted if p not in got]
    expect(not missing, f"near-dup: {len(missing)} planted pairs missed, e.g. {missing[:3]}")
    for (a, b), j in got.items():
        want = jaccard(state.docs[a]["body"], state.docs[b]["body"])
        expect(abs(j - want) < 1e-9 and want >= threshold,
               f"near-dup: ({a}, {b}) reported {j}, exact {want}")


def artifact_rows(duck, path: str) -> list[tuple]:
    """(id, title, category, views, updated_at epoch s) of every stored
    document, read with DuckDB straight from the artifact's Parquet."""
    return duck.execute(
        f"""SELECT id, title, category, views, CAST(epoch(updated_at) AS BIGINT)
            FROM read_parquet('{path}/shard=*/*.parquet', hive_partitioning = true)"""
    ).fetchall()


def check_artifact(duck, path: str, state: DocState, what: str) -> None:
    got = artifact_rows(duck, path)
    expect(len(got) == state.n_docs, f"{what}: {len(got)} stored docs, want {state.n_docs}")
    check_rows(got, state, state.ids, what)


def check_winners(duck, files: list[str], state: DocState) -> None:
    """Retain-most-recent winners recomputed by DuckDB from the raw files
    agree with the generator's own bookkeeping."""
    file_list = ", ".join(f"'{f}'" for f in files)
    got = duck.execute(
        f"""SELECT id, max(updated_at) FROM read_json([{file_list}],
                format = 'newline_delimited',
                columns = {{id: 'VARCHAR', updated_at: 'VARCHAR'}})
            GROUP BY id"""
    ).fetchall()
    want = {i: d["updated_at"] for i, d in state.docs.items()}
    expect(dict(got) == want, "raw winners: DuckDB and the generator disagree")
