"""Seeded input generator for the benchmark workloads.

Everything here is plain NumPy + pyarrow: the engine under test never
runs while inputs are made, and it receives only the parquet files.

Texts are drawn from the shipped sf0.1 corpus (its word vocabulary and
its per-document word counts), so generated pages look like the shipped
ones. Page coordinates are a pure function of ``doc_id``
(``corpus.ORACLE_LON`` / ``ORACLE_LAT``), so the generator places a page
by choosing its id: both formulas repeat with period
``lcm(360000, 170000)``, so every reachable location is the location of
an id in ``[0, PERIOD)``, and ``id + k * PERIOD`` is another page at the
same spot.
"""

from __future__ import annotations

import hashlib
import os
import shutil
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
SF01 = os.path.join(HERE, "data", "sf0.1")

# the shipped sf0.1 files the pinned seed output was produced from
SF01_SHA256 = {
    "documents.parquet":
        "d10b0da67e5aceb465e89365781dab5c69d3c62b64a8308398c6fd3fb09bcf82",
    "nation.parquet":
        "590830f49a4bd515abef3c3e70cd5ec083b2977574ca9867317d5545413b3696",
    "region.parquet":
        "ce0717013cdeb77e1b29870f1f191f46bd2f0c661a18364441ac008e0e5c00a0",
}

PERIOD = 6_120_000          # lcm(360000, 170000): id -> location period
LON_MULT, LAT_MULT = 7919, 104729


def lonlat(ids: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """The engine's geocode formula, evaluated in the same float order."""
    ids = np.asarray(ids, dtype=np.int64)
    lon = ((ids * LON_MULT) % 360000).astype(np.float64) / 1000.0 - 180.0 + 0.0005
    lat = ((ids * LAT_MULT) % 170000).astype(np.float64) / 1000.0 - 85.0 + 0.0005
    return lon, lat


_BASE: list = []


def _base_lonlat() -> tuple[np.ndarray, np.ndarray]:
    """Location of every id in one period (computed once, ~100 MB)."""
    if not _BASE:
        _BASE.extend(lonlat(np.arange(PERIOD, dtype=np.int64)))
    return _BASE[0], _BASE[1]


def in_box(lon, lat, box) -> np.ndarray:
    x0, y0, x1, y1 = box
    return (lon >= x0) & (lon < x1) & (lat >= y0) & (lat < y1)


def check_sf01() -> None:
    for name, want in SF01_SHA256.items():
        with open(os.path.join(SF01, name), "rb") as f:
            got = hashlib.sha256(f.read()).hexdigest()
        if got != want:
            raise RuntimeError(f"{name}: sha256 {got} != pinned {want}")


class IdPool:
    """Hands out distinct doc ids at chosen locations."""

    def __init__(self, rng: np.random.Generator, taken=()):
        self.rng = rng
        self.taken = set(int(i) for i in taken)

    def _fresh(self, base: np.ndarray) -> np.ndarray:
        # lift each base id by a random multiple of PERIOD (same spot,
        # new id); redraw the rare collisions
        out = base + PERIOD * self.rng.integers(1, 1_000_000, len(base))
        while True:
            _, first = np.unique(out, return_index=True)
            clash = np.ones(len(out), dtype=bool)
            clash[first] = False
            clash |= np.fromiter((int(i) in self.taken for i in out.tolist()),
                                 dtype=bool, count=len(out))
            if not clash.any():
                break
            out[clash] = base[clash] + PERIOD * self.rng.integers(
                1, 1_000_000, int(clash.sum()))
        self.taken.update(out.tolist())
        return out

    def in_box(self, n: int, box) -> np.ndarray:
        base = np.nonzero(in_box(*_base_lonlat(), box))[0]
        if not len(base):
            raise ValueError(f"no reachable location in {box}")
        return self._fresh(self.rng.choice(base, size=n))

    def uniform(self, n: int, avoid=None) -> np.ndarray:
        ok = np.ones(PERIOD, dtype=bool) if avoid is None \
            else ~in_box(*_base_lonlat(), avoid)
        base = np.nonzero(ok)[0]
        return self._fresh(self.rng.choice(base, size=n))


class TextSource:
    """Random word sequences with the sf0.1 vocabulary and lengths."""

    def __init__(self, docs: pa.Table, rng: np.random.Generator):
        self.rng = rng
        words = [t.split() for t in docs.column("text").to_pylist()]
        self.vocab = np.array(sorted({w for ws in words for w in ws}))
        self.lengths = np.array([len(ws) for ws in words])
        self.langs = np.array(docs.column("lang").to_pylist())
        self.sources = np.array(docs.column("source").to_pylist())
        self.seen: set[str] = set(docs.column("text").to_pylist())

    def texts(self, n: int, min_words: int = 0) -> list[str]:
        out: list[str] = []
        while len(out) < n:
            m = n - len(out)
            k = np.maximum(self.rng.choice(self.lengths, m), min_words)
            words = self.vocab[self.rng.integers(0, len(self.vocab),
                                                 int(k.sum()))].tolist()
            ends = np.cumsum(k).tolist()
            start = 0
            for end in ends:
                t = " ".join(words[start:end])
                start = end
                if t not in self.seen:       # every text distinct
                    self.seen.add(t)
                    out.append(t)
        return out

    def near_duplicate(self, text: str) -> str:
        """Replace one word: character-shingle jaccard stays ~0.9."""
        while True:
            ws = text.split()
            i = int(self.rng.integers(len(ws) // 2, len(ws)))
            ws[i] = str(self.rng.choice(self.vocab))
            t = " ".join(ws)
            if t not in self.seen:
                self.seen.add(t)
                return t

    def table(self, ids, texts) -> pa.Table:
        n = len(ids)
        return pa.table({
            "doc_id": pa.array(np.asarray(ids, dtype=np.int64)),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(self.rng.choice(self.langs, n), pa.string()),
            "source": pa.array(self.rng.choice(self.sources, n), pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        })


def _copy_layers(out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name in ("nation.parquet", "region.parquet"):
        shutil.copyfile(os.path.join(SF01, name), os.path.join(out_dir, name))


def _box_around(cx: float, cy: float, w: float, h: float):
    return (cx - w / 2, cy - h / 2, cx + w / 2, cy + h / 2)


# Where the hot spots, the empty region and the kNN queries are is fixed;
# the seed draws the pages (their ids, hence locations, and texts). So
# every seed asks the engine for the same kind and amount of work.
UPDATE_HOT = _box_around(139.5, 35.5, 1.5, 1.5)
JOIN_HOT = _box_around(10.0, 48.0, 2.0, 2.0)
# left empty: the kNN query at its centre must grow its radius
JOIN_EMPTY = _box_around(-130.0, -25.0, 40.0, 30.0)
JOIN_QUERIES = [(10.0, 48.0), (-130.0, -25.0), (-73.9, 40.7), (139.7, 35.6),
                (28.0, -26.2), (-58.4, -34.6), (77.2, 28.6), (151.2, -33.9)]


# ---------------------------------------------------------------------------
# seed_update: the shipped sf0.1 pages as wave 0, then waves of new pages
# ---------------------------------------------------------------------------

@dataclass
class SeedUpdateInputs:
    layers_dir: str           # nation + region: the polygon layers
    waves: list               # pa.Table per wave, in landing order
    total_dir: str            # every wave's pages in one file + the layers


def seed_update(out_dir: str, seed: int, waves: int, wave_pages: int
                ) -> SeedUpdateInputs:
    """Wave 0 is the shipped sf0.1 corpus; ``waves`` seeded waves of
    ``wave_pages`` new pages follow, odd ones in one ~1.5 degree hot
    spot (so they rebuild some of the same tiles), even ones anywhere."""
    rng = np.random.default_rng([seed, 1])
    layers_dir = os.path.join(out_dir, "layers")
    _copy_layers(layers_dir)
    base = pq.read_table(os.path.join(SF01, "documents.parquet"))
    base = base.replace_schema_metadata(None)
    text = TextSource(base, rng)
    pool = IdPool(rng, taken=base.column("doc_id").to_pylist())
    tables = [base]
    for w in range(1, waves + 1):
        ids = pool.in_box(wave_pages, UPDATE_HOT) if w % 2 \
            else pool.uniform(wave_pages)
        tables.append(text.table(ids, text.texts(wave_pages)).cast(base.schema))
    # all waves as one file with one row group, laid out like sf0.1
    total_dir = os.path.join(out_dir, "total")
    _copy_layers(total_dir)
    total = pa.concat_tables(tables)
    pq.write_table(total, os.path.join(total_dir, "documents.parquet"),
                   row_group_size=total.num_rows)
    return SeedUpdateInputs(layers_dir, tables, total_dir)


# ---------------------------------------------------------------------------
# join_dedup: one generated corpus file + kNN queries
# ---------------------------------------------------------------------------

@dataclass
class JoinDedupInputs:
    corpus_dir: str
    doc_ids: np.ndarray
    planted_pairs: set        # (id_a, id_b), id_a < id_b: near-duplicates
    queries: list             # (query_id, qlon, qlat)


def join_dedup(out_dir: str, seed: int, n_docs: int, hot_share: float,
               dup_share: float) -> JoinDedupInputs:
    rng = np.random.default_rng([seed, 2])
    corpus_dir = os.path.join(out_dir, "corpus")
    _copy_layers(corpus_dir)
    base = pq.read_table(os.path.join(SF01, "documents.parquet"))
    text = TextSource(base, rng)
    pool = IdPool(rng)

    n_hot = int(n_docs * hot_share)
    n_dup = int(n_docs * dup_share)
    n_uni = n_docs - n_hot - n_dup
    ids = np.concatenate([pool.in_box(n_hot, JOIN_HOT),
                          pool.uniform(n_uni + n_dup, avoid=JOIN_EMPTY)])
    # near-duplicates are long texts plus a one-word variant of each
    n_plain = n_docs - 2 * n_dup
    texts = text.texts(n_plain) + [None] * (2 * n_dup)
    originals = text.texts(n_dup, min_words=40)
    for j, t in enumerate(originals):
        texts[n_plain + 2 * j] = t
        texts[n_plain + 2 * j + 1] = text.near_duplicate(t)
    perm = rng.permutation(n_docs)        # scatter pairs through the file
    ids = ids[perm]
    texts = [texts[i] for i in perm]
    pos = np.empty(n_docs, dtype=np.int64)
    pos[perm] = np.arange(n_docs)
    planted = set()
    for j in range(n_dup):
        a = int(ids[pos[n_plain + 2 * j]])
        b = int(ids[pos[n_plain + 2 * j + 1]])
        planted.add((min(a, b), max(a, b)))
    # one file, one row group: the scan plans a single split, the case
    # the engine's spread repartition exists for
    table = text.table(ids, texts)
    pq.write_table(table, os.path.join(corpus_dir, "documents.parquet"),
                   row_group_size=n_docs)

    queries = [(i, lon, lat) for i, (lon, lat) in enumerate(JOIN_QUERIES)]
    return JoinDedupInputs(corpus_dir, ids, planted, queries)
