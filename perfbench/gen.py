"""Seeded input generator for the benchmark.

Everything the engine sees is written here as raw JSON-lines files; the
generator also keeps its own state (the records it wrote, the winner of
every duplicated id, the planted near-duplicate pairs) so the oracles in
``oracle.py`` can compute expected results without asking the engine.

The same seed always gives the same files, byte for byte.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

import numpy as np

TENANTS = 16
BODY_TOKENS = (30, 70)
CATEGORIES = 12
EMB_DIM = 16
EMB_CLUSTERS = 8
VOCAB_SIZE = 4000
ZIPF_S = 1.1

# JSON read schema: the raw files are ingested with an explicit schema so
# the build measures the pipeline, not Spark's JSON schema inference pass.
# ``blob`` is not a schema field: sanitize drops it.
RAW_SCHEMA_DDL = (
    "id STRING, tenant STRING, updated_at STRING, title STRING, body STRING, "
    "category STRING, views BIGINT, price DOUBLE, embedding ARRAY<FLOAT>, "
    "blob STRING"
)
RAW_TS_FORMAT = "yyyy-MM-dd HH:mm:ss"
EPOCH_2024 = 1704067200  # 2024-01-01T00:00:00Z


def _vocab(rng: np.random.Generator, n: int) -> list[str]:
    """Pronounceable lowercase pseudo-words: one token each under every
    analyzer the engine applies (letters only, no stop words)."""
    cons = list("bcdfghjklmnprstvz")
    vows = list("aeiou")
    out: list[str] = []
    seen: set[str] = set()
    while len(out) < n:
        syl = int(rng.integers(2, 4))
        w = "".join(
            cons[int(rng.integers(len(cons)))] + vows[int(rng.integers(len(vows)))]
            for _ in range(syl)
        )
        if w not in seen:
            seen.add(w)
            out.append(w)
    return out


def _fmt_ts(epoch_s: int) -> str:
    import datetime as dt

    return dt.datetime.fromtimestamp(epoch_s, dt.timezone.utc).strftime(
        "%Y-%m-%d %H:%M:%S"
    )


@dataclass
class Corpus:
    """Generated records plus the generator-side truth about them."""

    records: list[dict]  # as written, duplicates included, file order
    winners: dict[str, dict]  # id -> the most recent record for that id
    near_dups: list[tuple[str, str]]  # planted pairs, (smaller id, larger id)


class Generator:
    """One seeded stream of documents, terms, vectors and request params."""

    def __init__(self, seed: int):
        self.seed = seed
        self.rng = np.random.default_rng(seed)
        self.vocab = _vocab(self.rng, VOCAB_SIZE)
        ranks = np.arange(1, VOCAB_SIZE + 1, dtype=np.float64)
        p = ranks ** -ZIPF_S
        self.zipf_p = p / p.sum()
        self.centroids = self.rng.normal(size=(EMB_CLUSTERS, EMB_DIM))
        self._next_key = 0

    # -- documents -----------------------------------------------------
    def texts(self, lengths: np.ndarray) -> list[str]:
        """One Zipf-distributed text per entry of ``lengths`` (token counts)."""
        idx = self.rng.choice(VOCAB_SIZE, size=int(lengths.sum()), p=self.zipf_p)
        words = np.asarray(self.vocab, dtype=object)[idx]
        bounds = np.concatenate([[0], np.cumsum(lengths)])
        return [" ".join(words[a:b]) for a, b in zip(bounds[:-1], bounds[1:])]

    def zipf_term(self, rng: np.random.Generator, lo: int = 0, hi: int = VOCAB_SIZE) -> str:
        """A term drawn by Zipf weight from the ranks in [lo, hi)."""
        p = self.zipf_p[lo:hi]
        return self.vocab[lo + int(rng.choice(hi - lo, p=p / p.sum()))]

    def embeddings(self, n: int, rng: np.random.Generator | None = None) -> list[list[float]]:
        """Clustered vectors (so IVF buckets mean something), float32 values
        so they survive the artifact's array<float> column exactly."""
        rng = rng or self.rng
        c = self.centroids[rng.integers(EMB_CLUSTERS, size=n)]
        v = c + 0.35 * rng.normal(size=(n, EMB_DIM))
        return v.astype(np.float32).tolist()

    def new_ids(self, n: int, tenant: int | None = None) -> list[str]:
        tenants = self.rng.integers(TENANTS, size=n) if tenant is None else [tenant] * n
        k0 = self._next_key
        self._next_key += n
        return [f"t{t:02d}!k{k0 + i:07d}" for i, t in enumerate(tenants)]

    def records(self, ids: list[str], stamps: np.ndarray,
                bodies: list[str] | None = None) -> list[dict]:
        """Fresh records for ``ids`` at epoch-second ``stamps``; random
        bodies unless given."""
        n = len(ids)
        rng = self.rng
        if bodies is None:
            bodies = self.texts(rng.integers(*BODY_TOKENS, size=n))
        titles = self.texts(np.full(n, 4))
        cats = rng.integers(CATEGORIES, size=n)
        views = rng.integers(0, 1_000_000, size=n)
        prices = np.round(rng.uniform(1, 500, size=n), 2)
        embs = self.embeddings(n)
        blobs = rng.integers(0, 40, size=n)
        return [
            {
                "id": ids[i],
                "tenant": ids[i].split("!", 1)[0],
                "updated_at": _fmt_ts(int(stamps[i])),
                "title": titles[i],
                "body": bodies[i],
                "category": f"c{int(cats[i]):02d}",
                "views": int(views[i]),
                "price": float(prices[i]),
                "embedding": embs[i],
                "blob": "x" * int(blobs[i]),
            }
            for i in range(n)
        ]

    def corpus(self, n_docs: int, dup_frac: float, near_dup_frac: float = 0.0) -> Corpus:
        """``n_docs`` distinct ids; ``dup_frac`` of them are written 2-3
        times with distinct ``updated_at`` (only the latest version carries
        the final body); ``near_dup_frac`` of them get a planted
        near-duplicate body: a copy of an earlier document's body with one
        token appended, so its 3-shingle set gains one shingle and the
        pair's Jaccard is n/(n+1) >= 0.96 for bodies of 30 tokens or more."""
        rng = self.rng
        ids = self.new_ids(n_docs)
        bodies = self.texts(rng.integers(*BODY_TOKENS, size=n_docs))
        near: list[tuple[str, str]] = []
        if near_dup_frac:
            is_near = rng.random(n_docs) < near_dup_frac
            is_near[0] = False
            base = np.flatnonzero(~is_near)
            for i in np.flatnonzero(is_near):
                earlier = base[base < i]
                src = int(earlier[rng.integers(len(earlier))])
                bodies[i] = bodies[src] + " " + self.vocab[int(rng.integers(VOCAB_SIZE))]
                near.append((min(ids[src], ids[i]), max(ids[src], ids[i])))
        n_versions = np.where(
            rng.random(n_docs) < dup_frac, rng.integers(2, 4, size=n_docs), 1
        )
        owner = np.repeat(np.arange(n_docs), n_versions)
        version = np.concatenate([np.arange(v) for v in n_versions])
        latest = version == n_versions[owner] - 1
        # strictly increasing stamps per id: the winner is unambiguous
        base_ts = rng.integers(0, 200 * 86400, size=n_docs)
        step = np.where(version > 0, rng.integers(1, 30 * 86400, size=len(owner)), 0)
        climb = np.cumsum(step)
        climb -= np.repeat(climb[version == 0], n_versions)
        stamps = EPOCH_2024 + base_ts[owner] + climb
        rec_bodies = self.texts(rng.integers(*BODY_TOKENS, size=len(owner)))
        for r in np.flatnonzero(latest):
            rec_bodies[r] = bodies[owner[r]]
        recs = self.records([ids[o] for o in owner], stamps, rec_bodies)
        winners = {recs[r]["id"]: recs[r] for r in np.flatnonzero(latest)}
        order = rng.permutation(len(recs))
        return Corpus([recs[i] for i in order], winners, sorted(set(near)))


def write_jsonl(records: list[dict], out_dir: str, n_files: int) -> tuple[list[str], int]:
    """Spread ``records`` over ``n_files`` JSON-lines files (round robin);
    returns the paths and their total size in bytes."""
    os.makedirs(out_dir, exist_ok=True)
    chunks: list[list[str]] = [[] for _ in range(n_files)]
    for i, rec in enumerate(records):
        chunks[i % n_files].append(json.dumps(rec, separators=(",", ":")))
    paths, total = [], 0
    for i, lines in enumerate(chunks):
        p = os.path.join(out_dir, f"part-{i:03d}.jsonl")
        data = ("\n".join(lines) + "\n").encode("utf-8")
        with open(p, "wb") as f:
            f.write(data)
        paths.append(p)
        total += len(data)
    return paths, total
