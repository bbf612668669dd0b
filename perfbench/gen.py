"""Seeded input generator for the benchmark workloads.

Every input the engine sees is built here from ``(seed, variant)`` before the
first timed operation, so the same seed always gives the same bytes. Each
``*_variant`` function returns a pyarrow table plus the *facts* the output
checks need (rows left after duplicate removal, which columns are imputed,
which near-duplicate pairs were injected). Only numpy and pyarrow are used: the
engine under test never touches this module.
"""

from __future__ import annotations

import re

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Ids of injected near-duplicate copies are ``COPY_OFFSET + original id``, so
#: a check can tell which original a copy belongs to with one subtraction.
COPY_OFFSET = 1_000_000

NULL_FRAC = 0.05
OUTLIER_FRAC = 0.01
OUTLIER_SCALE = 50.0
NOISE_FRAC = 0.10
DUP_FRAC = 0.02

_STATUSES = np.array(["O", "F", "P"])
_PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
_SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])

# 64 lower-case words; word 3-grams over this vocabulary make two unrelated
# 20+ word documents share essentially no shingles.
VOCAB = np.array(
    """a agg batch big block cache cell chunk column commit data delta disk
    driver edge fast file filter frame graph group hash heap index join key
    lake layer line log map merge node order page pair part plan pool query
    rank read row scan schema shard slow sort spark spill split stage stream
    table task tier token tree union value vector window write""".split()
)


def rng_for(seed: int, variant: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([int(seed), int(variant), int(stream)])


def _mask(rng: np.random.Generator, n: int, frac: float) -> np.ndarray:
    return rng.random(n) < frac


def _noisy_text(rng: np.random.Generator, values: np.ndarray) -> np.ndarray:
    """Case and whitespace noise on ~NOISE_FRAC of the values each; lower-case
    plus trim maps every noisy value back onto its clean form."""
    out = values.astype(object)
    lower = _mask(rng, len(out), NOISE_FRAC)
    out[lower] = np.char.lower(values[lower].astype(str))
    pad = np.flatnonzero(_mask(rng, len(out), NOISE_FRAC))
    left = rng.random(len(pad)) < 0.5
    out[pad[left]] = [" " + v for v in out[pad[left]]]
    out[pad[~left]] = [v + "  " for v in out[pad[~left]]]
    return out


def _with_duplicates(rng: np.random.Generator, columns: dict[str, pa.Array]) -> tuple[pa.Table, int]:
    """Append exact copies of DUP_FRAC of the rows, then shuffle row order."""
    table = pa.table(columns)
    n = table.num_rows
    n_dup = int(n * DUP_FRAC)
    dup_idx = rng.choice(n, n_dup, replace=False)
    both = pa.concat_tables([table, table.take(pa.array(dup_idx))])
    return both.take(pa.array(rng.permutation(both.num_rows))), n_dup


def orders_variant(seed: int, variant: int, n: int = 150_000) -> tuple[pa.Table, dict]:
    """A dirtied ``orders`` table: nulls, x50 price outliers, case and
    whitespace noise, string dates and exact duplicate rows. ``o_orderkey``
    is unique and never null, so the rows left after exact-duplicate removal
    are exactly the ``n`` base rows."""
    rng = rng_for(seed, variant, 1)
    price = np.round(rng.uniform(850.0, 550_000.0, n), 2)
    price[_mask(rng, n, OUTLIER_FRAC)] *= OUTLIER_SCALE
    days = rng.integers(0, 2400, n).astype("timedelta64[D]")
    dates = np.datetime_as_string(np.datetime64("1992-01-01") + days, unit="D")
    status = _noisy_text(rng, rng.choice(_STATUSES, n, p=[0.49, 0.49, 0.02]))
    priority = _noisy_text(rng, rng.choice(_PRIORITIES, n))
    cols = {
        "o_orderkey": pa.array(np.arange(1, n + 1, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(1, 15_001, n), mask=_mask(rng, n, NULL_FRAC)),
        "o_orderstatus": pa.array(status, pa.string(), mask=_mask(rng, n, NULL_FRAC)),
        "o_totalprice": pa.array(price, mask=_mask(rng, n, NULL_FRAC)),
        "o_orderdate": pa.array(dates, pa.string(), mask=_mask(rng, n, NULL_FRAC)),
        "o_orderpriority": pa.array(priority, pa.string(), mask=_mask(rng, n, NULL_FRAC)),
    }
    table, n_dup = _with_duplicates(rng, cols)
    facts = {
        "rows": table.num_rows,
        "unique_rows": n,
        "duplicates": n_dup,
        "imputed": ["o_custkey", "o_totalprice"],
    }
    return table, facts


def customer_variant(seed: int, variant: int, n: int = 15_000) -> tuple[pa.Table, dict]:
    """A dirtied ``customer`` table (same kinds of dirt as orders)."""
    rng = rng_for(seed, variant, 2)
    bal = np.round(rng.uniform(-999.99, 9999.99, n), 2)
    bal[_mask(rng, n, OUTLIER_FRAC)] *= OUTLIER_SCALE
    keys = np.arange(1, n + 1, dtype=np.int64)
    cols = {
        "c_custkey": pa.array(keys),
        "c_name": pa.array([f"Customer#{k:09d}" for k in keys], pa.string()),
        "c_nationkey": pa.array(rng.integers(0, 25, n).astype(np.int32), mask=_mask(rng, n, NULL_FRAC)),
        "c_acctbal": pa.array(bal, mask=_mask(rng, n, NULL_FRAC)),
        "c_mktsegment": pa.array(
            _noisy_text(rng, rng.choice(_SEGMENTS, n)), pa.string(), mask=_mask(rng, n, NULL_FRAC)
        ),
    }
    table, n_dup = _with_duplicates(rng, cols)
    facts = {
        "rows": table.num_rows,
        "unique_rows": n,
        "duplicates": n_dup,
        "imputed": ["c_acctbal", "c_mktsegment"],
    }
    return table, facts


_TOKEN = re.compile(r"[a-z0-9']+")


def shingle_set(text: str, n: int = 3) -> set[str]:
    """Distinct word n-grams, tokenized the way the engine's MinHash path
    tokenizes (lower case, ``[a-z0-9']+`` runs)."""
    toks = _TOKEN.findall(text.lower())
    return {" ".join(toks[i : i + n]) for i in range(max(len(toks) - n + 1, 0))}


def jaccard(a: set, b: set) -> float:
    return len(a & b) / len(a | b) if a or b else 0.0


def documents_variant(
    seed: int, variant: int, n: int = 5000, n_copies: int = 250, threshold: float = 0.8
) -> tuple[pa.Table, dict]:
    """``n`` unrelated documents plus ``n_copies`` near-duplicate copies, each
    a long original (60+ words) with one word replaced. Copy ids are
    ``COPY_OFFSET + original id``. The facts state how many injected pairs
    reach ``threshold`` exact word-3-gram Jaccard."""
    rng = rng_for(seed, variant, 3)
    lengths = rng.integers(20, 121, n)
    docs = [rng.integers(0, len(VOCAB), m) for m in lengths]
    long_ids = np.flatnonzero(lengths >= 60)
    originals = np.sort(rng.choice(long_ids, n_copies, replace=False))
    ids, texts = list(range(n)), [" ".join(VOCAB[d]) for d in docs]
    min_j, pairs = 1.0, 0
    for o in originals:
        toks = docs[o].copy()
        pos = int(rng.integers(3, len(toks) - 3))
        toks[pos] = (toks[pos] + 1 + int(rng.integers(0, len(VOCAB) - 1))) % len(VOCAB)
        text = " ".join(VOCAB[toks])
        j = jaccard(shingle_set(texts[o]), shingle_set(text))
        min_j = min(min_j, j)
        pairs += j >= threshold
        ids.append(COPY_OFFSET + int(o))
        texts.append(text)
    table = pa.table({"doc_id": pa.array(ids, pa.int64()), "text": pa.array(texts, pa.string())})
    table = table.take(pa.array(rng.permutation(table.num_rows)))
    facts = {"rows": table.num_rows, "near_dup_pairs": int(pairs), "min_pair_jaccard": min_j}
    return table, facts


def embeddings_variant(
    seed: int, variant: int, n: int = 2000, dim: int = 64, n_copies: int = 200, noise: float = 1e-3
) -> tuple[pa.Table, dict]:
    """``n`` random unit vectors plus ``n_copies`` noisy copies (cosine to the
    original above 0.9999). Copy ids are ``COPY_OFFSET + original id``."""
    rng = rng_for(seed, variant, 4)
    base = rng.standard_normal((n, dim))
    base /= np.linalg.norm(base, axis=1, keepdims=True)
    originals = np.sort(rng.choice(n, n_copies, replace=False))
    copies = base[originals] + noise * rng.standard_normal((n_copies, dim)) / np.sqrt(dim)
    vecs = np.vstack([base, copies]).astype(np.float32)
    ids = np.concatenate([np.arange(n), COPY_OFFSET + originals]).astype(np.int64)
    emb = pa.FixedSizeListArray.from_arrays(pa.array(vecs.ravel()), dim).cast(pa.list_(pa.float32()))
    table = pa.table({"vec_id": pa.array(ids), "embedding": emb})
    table = table.take(pa.array(rng.permutation(table.num_rows)))
    return table, {"rows": table.num_rows, "copies": n_copies, "dim": dim}


def write(table: pa.Table, path: str) -> str:
    pq.write_table(table, path)
    return path
