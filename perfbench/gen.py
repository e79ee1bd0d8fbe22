"""Seeded, vectorised input generators for the benchmark.

Every generator is a pure function of its seed and size arguments: the
same arguments give the same bytes. Results are cached on disk under a
key made of those arguments, so a second run with the same seed skips
generation, and generation never counts towards set-up or timed work.

Two input families:

- word-count corpora (``corpus``): whitespace-separated lowercase ASCII
  words with case and punctuation decorations that the HEAD normalizer
  strips, plus the expected per-word counts after normalization;
- a TPC-H-like star schema plus ``events``, ``documents`` and
  ``embeddings`` (``star_schema``), with the column types and value
  domains the registered queries and their DuckDB oracles expect.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from dataclasses import asdict, dataclass
from pathlib import Path

import numpy as np

LETTERS = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz", dtype=np.uint8)
SPACE, NEWLINE = ord(" "), ord("\n")


@dataclass(frozen=True)
class CorpusSpec:
    """Shape of a generated word-count corpus: ``n_tokens`` tokens drawn
    by a Zipf law over ``vocab`` words."""

    n_tokens: int
    vocab: int
    zipf_s: float = 1.0
    files: int = 8
    tokens_per_line: int = 12
    #: share of tokens that carry a decoration (capitals or punctuation)
    decorated: float = 0.2


@dataclass
class Corpus:
    files: list[str]
    n_bytes: int
    #: normalized words in byte order, with their expected counts
    words: np.ndarray
    counts: np.ndarray

    @property
    def total_words(self) -> int:
        return int(self.counts.sum())

    @property
    def unique_words(self) -> int:
        return len(self.words)


def _cached(cache_root: Path, kind: str, key: dict, build) -> Path:
    """Run ``build(tmp_dir)`` once per key; return the finished directory.

    The directory is built under a temporary name and renamed into place,
    so an interrupted build never leaves a half-written cache entry.
    """
    digest = hashlib.sha256(json.dumps(key, sort_keys=True).encode()).hexdigest()[:16]
    final = cache_root / f"{kind}-{digest}"
    if final.is_dir():
        return final
    tmp = cache_root / f".{kind}-{digest}.{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    (tmp / "key.json").write_text(json.dumps(key, sort_keys=True))
    build(tmp)
    try:
        tmp.rename(final)
    except OSError:  # another process finished the same entry first
        shutil.rmtree(tmp, ignore_errors=True)
    return final


def _random_words(rng: np.random.Generator, n: int, lo: int, hi: int) -> np.ndarray:
    """``n`` random lowercase words as a zero-padded uint8 matrix (n, hi)."""
    lengths = rng.integers(lo, hi + 1, size=n)
    mat = LETTERS[rng.integers(0, 26, size=(n, hi))]
    mat[np.arange(hi)[None, :] >= lengths[:, None]] = 0
    return mat


def _zipf_vocab(rng: np.random.Generator, vocab: int) -> np.ndarray:
    """``vocab`` distinct words, shortest-first so frequent words are short,
    as in natural text."""
    mat = _random_words(rng, vocab * 2, 2, 12)
    words = mat.view(f"S{mat.shape[1]}").ravel()
    _, first = np.unique(words, return_index=True)
    keep = np.sort(first)[:vocab]
    if len(keep) < vocab:
        raise ValueError(f"vocabulary of {vocab} words could not be drawn")
    mat = mat[keep]
    return mat[np.argsort((mat != 0).sum(axis=1), kind="stable")]


def _decorate(rng: np.random.Generator, base: np.ndarray, share: float) -> np.ndarray:
    """Add decorations the HEAD normalizer strips back to ``base``:
    a capital first letter, all capitals, a trailing ``,``/``.``/``!!``,
    or surrounding quotes. Returns a wider zero-padded matrix."""
    n, width = base.shape
    lengths = (base != 0).sum(axis=1)
    out = np.zeros((n, width + 3), dtype=np.uint8)
    kind = np.where(rng.random(n) < share, rng.integers(1, 7, size=n), 0)
    quoted = kind == 6
    out[~quoted, :width] = base[~quoted]
    out[quoted, 1 : width + 1] = base[quoted]
    out[quoted, 0] = ord('"')
    rows = np.flatnonzero(quoted)
    out[rows, lengths[rows] + 1] = ord('"')
    out[kind == 1, 0] -= 32
    caps = kind == 2
    out[caps] = np.where(out[caps] != 0, out[caps] - 32, 0)
    for k, tail in ((3, b","), (4, b"."), (5, b"!!")):
        rows = np.flatnonzero(kind == k)
        for i, ch in enumerate(tail):
            out[rows, lengths[rows] + i] = ch
    return out


def _token_stream(spec: CorpusSpec, seed: int) -> tuple[np.ndarray, np.ndarray]:
    """(decorated token matrix, normalized token matrix), one row per token."""
    rng = np.random.default_rng([seed, 0xC0FFEE])
    vocab = _zipf_vocab(rng, spec.vocab)
    weights = 1.0 / np.arange(1, spec.vocab + 1) ** spec.zipf_s
    cdf = np.cumsum(weights / weights.sum())
    ids = np.minimum(np.searchsorted(cdf, rng.random(spec.n_tokens)), spec.vocab - 1)
    base = np.zeros((spec.n_tokens, 12), dtype=np.uint8)
    base[:, : vocab.shape[1]] = vocab[ids]
    return _decorate(rng, base, spec.decorated), base


def _write_lines(tokens: np.ndarray, spec: CorpusSpec, out: Path) -> None:
    """Join tokens into lines and split them over ``spec.files`` files."""
    n, per_line = len(tokens), spec.tokens_per_line
    sep = np.full((n, 1), SPACE, dtype=np.uint8)
    sep[per_line - 1 :: per_line] = NEWLINE
    sep[-1] = NEWLINE
    # cut at line ends so every file holds whole lines
    n_lines = -(-n // per_line)
    cuts = np.minimum(np.linspace(0, n_lines, spec.files + 1).astype(int) * per_line, n)
    for i, (lo, hi) in enumerate(zip(cuts[:-1], cuts[1:])):
        flat = np.hstack([tokens[lo:hi], sep[lo:hi]]).ravel()
        (out / f"part-{i:02d}.txt").write_bytes(flat[flat != 0].tobytes())


def corpus(spec: CorpusSpec, seed: int, cache_root: Path) -> Corpus:
    """Generate (or load from cache) a corpus and its expected counts."""

    def build(tmp: Path) -> None:
        tokens, base = _token_stream(spec, seed)
        _write_lines(tokens, spec, tmp)
        words, counts = np.unique(base.view("S12").ravel(), return_counts=True)
        np.savez(tmp / "expected.npz", words=words, counts=counts)

    key = {"spec": asdict(spec), "seed": seed, "v": 1}
    root = _cached(cache_root, "corpus", key, build)
    files = sorted(str(p) for p in root.glob("part-*.txt"))
    expected = np.load(root / "expected.npz")
    return Corpus(
        files=files,
        n_bytes=sum(os.path.getsize(f) for f in files),
        words=expected["words"],
        counts=expected["counts"],
    )


# --- star schema -----------------------------------------------------------

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
DOC_WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
LANGS, LANG_P = ["en", "de", "es", "fr", "zh"], [0.44, 0.14, 0.14, 0.14, 0.14]


def _days(rng, n, start, end):
    lo, hi = np.datetime64(start, "D"), np.datetime64(end, "D")
    return (lo + rng.integers(0, (hi - lo).astype(int) + 1, size=n)).astype("datetime64[us]")


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, size=n), 2)


def _tables(sf: float, seed: int) -> dict:
    """Column arrays for every table at scale factor ``sf``."""
    import pyarrow as pa

    rng = np.random.default_rng([seed, int(sf * 1_000_000)])
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    i32, i64 = pa.int32(), pa.int64()

    def pick(options, n, p=None):
        return np.asarray(options, dtype=object)[rng.choice(len(options), size=n, p=p)]

    t = {}
    t["region"] = {"r_regionkey": pa.array(np.arange(5), i32), "r_name": REGIONS}
    t["nation"] = {
        "n_nationkey": pa.array(np.arange(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, i32),
    }
    t["customer"] = {
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": pick(SEGMENTS, n_cust),
    }
    t["supplier"] = {
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
    }
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    t["part"] = {
        "p_partkey": pa.array(np.arange(n_part), i64),
        "p_name": pick(names, n_part),
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": pick(PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1),
    }
    t["orders"] = {
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": pick(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, n_ord, 1000, 500_000),
        "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": pick(PRIORITIES, n_ord),
    }
    t["lineitem"] = {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
        "l_quantity": rng.integers(1, 51, n_line).astype(float),
        "l_extendedprice": _money(rng, n_line, 900, 105_000),
        # rounded uniforms, so the end values carry half the mass of the others
        "l_discount": np.round(rng.uniform(0, 0.10, n_line), 2),
        "l_tax": np.round(rng.uniform(0, 0.08, n_line), 2),
        "l_returnflag": pick(["A", "N", "R"], n_line),
        "l_linestatus": pick(["F", "O"], n_line),
        "l_shipdate": _days(rng, n_line, "1995-01-02", "2001-11-04"),
    }
    # events: uniform over one month, increasing in event_id order
    ts_us = np.sort(rng.uniform(0, 30 * 86_400 * 1_000_000, n_ev))
    t["events"] = {
        "event_id": pa.array(np.arange(n_ev), i64),
        "ts": np.datetime64("2024-01-01", "us") + ts_us.astype("timedelta64[us]"),
        "user_id": pa.array(rng.integers(0, max(1, n_cust // 10), n_ev), i64),
        "event_type": pick(EVENT_TYPES, n_ev),
        "value": np.maximum(0.01, np.round(rng.exponential(50, n_ev), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    }
    words = np.asarray(DOC_WORDS, dtype=object)
    lens = rng.integers(10, 100, n_doc)
    texts = [" ".join(words[rng.integers(0, len(words), k)]) for k in lens]
    # 5% of documents are near-duplicates: another document's text plus " dup"
    # (a copy of an already copied one gets " dup dup")
    dups = np.sort(rng.choice(n_doc, n_doc // 20, replace=False))
    for i, src in zip(dups, rng.integers(0, n_doc, len(dups))):
        texts[i] = texts[src] + " dup"
    t["documents"] = {
        "doc_id": pa.array(np.arange(n_doc), i64),
        "text": texts,
        "lang": pick(LANGS, n_doc, LANG_P),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(s) for s in texts], i64),
    }
    emb = rng.normal(size=(n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    t["embeddings"] = {
        "vec_id": pa.array(np.arange(n_emb), i64),
        "embedding": pa.FixedSizeListArray.from_arrays(emb.ravel(), 64).cast(
            pa.list_(pa.float32())
        ),
        "label": pa.array(rng.integers(0, 10, n_emb), i32),
    }
    return t


def star_schema(sf: float, seed: int, cache_root: Path) -> Path:
    """Directory with one parquet file per table, laid out like the sf test data."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    def build(tmp: Path) -> None:
        for name, cols in _tables(sf, seed).items():
            pq.write_table(pa.table(cols), tmp / f"{name}.parquet")

    key = {"sf": sf, "seed": seed, "v": 2}
    return _cached(cache_root, "star", key, build)


def copy_of(src: Path, tag: str) -> Path:
    """The same files as ``src`` under another path (``<src>-<tag>``), made
    once. Spark's cache pins match on file paths, so a query over a copy
    cannot reuse what a query over ``src`` pinned."""
    final = src.parent / f"{src.name}-{tag}"
    if not final.is_dir():
        tmp = src.parent / f".{final.name}.{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        shutil.copytree(src, tmp)
        try:
            tmp.rename(final)
        except OSError:  # another process made the same copy first
            shutil.rmtree(tmp, ignore_errors=True)
    return final


def dir_bytes(path: Path) -> int:
    return sum(p.stat().st_size for p in Path(path).iterdir() if p.is_file())
