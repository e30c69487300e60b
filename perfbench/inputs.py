"""Seeded input generators and their ground truth.

Everything here is numpy/pandas on the driver: the library under test only
ever receives the files (or batches) these functions produce, and the
benchmark checks its outputs against the truth computed here. The same
``seed`` always gives the same inputs.
"""

from __future__ import annotations

import os
import re
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

PART_FILES = 8  # files per table, so a scan splits across local[4] cores


def write_parquet_dir(cols: dict[str, np.ndarray], path: str, parts: int = PART_FILES) -> int:
    """Write the columns as ``parts`` parquet files under directory
    ``path``. Returns the bytes written."""
    os.makedirs(path, exist_ok=True)
    table = pa.table(cols)
    step = -(-table.num_rows // parts)
    total = 0
    for i in range(parts):
        p = os.path.join(path, f"part-{i:05d}.parquet")
        pq.write_table(table.slice(i * step, step), p)
        total += os.path.getsize(p)
    return total


def _word_pool(rng: np.random.Generator, n: int, syllables: int = 3) -> np.ndarray:
    """``n`` distinct pronounceable lowercase pseudo-words."""
    cons = list("bcdfghjklmnprstvwz")
    vows = list("aeiou")
    sylls = np.array([c + v for c in cons for v in vows])
    words: dict[str, None] = {}
    while len(words) < n:
        k = rng.integers(1, syllables + 1, size=n)
        picks = rng.integers(0, len(sylls), size=(n, syllables))
        for row, kk in zip(picks, k):
            words.setdefault("".join(sylls[row[:kk]]), None)
            if len(words) == n:
                break
    return np.array(list(words), dtype=object)


# ----------------------------------------------------------------- sample_diff


@dataclass
class DiffTruth:
    """Planted differences between ``orders`` and its perturbed copy."""

    num_total: int
    num_same: int
    num_diff: int
    num_missing_lhs: int
    num_missing_rhs: int
    price_shift: float  # exact: every shifted price moves by this much
    n_shifted: int
    n_rewritten: int


@dataclass
class OrdersInputs:
    n_orders: int
    n_lineitem: int
    lines_sq_sum: int  # sum over orders of (lines per order)^2
    input_bytes: int
    returnflag_counts: dict[str, int]
    diff: DiffTruth


def make_orders_inputs(seed: int, n_orders: int, out_dir: str) -> OrdersInputs:
    """TPC-H-shaped ``orders`` + ``lineitem`` and a perturbed ``orders``.

    Prices are multiples of 0.25, so ``rhs - lhs`` of a shifted price is
    exactly the planted shift in double arithmetic. The perturbation keys
    on ``o_orderkey`` (unique); it drops, shifts and rewrites disjointly
    chosen-at-random fractions of the rows."""
    rng = np.random.default_rng(seed)
    comments = np.array(
        [" ".join(ws) for ws in rng.choice(_word_pool(rng, 400), size=(5000, 5))],
        dtype=object,
    )
    okey = (np.sort(rng.choice(8 * n_orders, size=n_orders, replace=False)) + 1).astype(np.int64)
    # timestamp[us], the type of the repo's sf0.1 testdata dates
    dates = (np.datetime64("1992-01-01") + rng.integers(0, 2400, n_orders)).astype("datetime64[us]")
    cidx = rng.integers(0, len(comments), n_orders)
    orders = {
        "o_orderkey": okey,
        "o_custkey": rng.integers(1, max(n_orders // 10, 2), n_orders),
        "o_orderstatus": rng.choice(np.array(["F", "O", "P"], dtype=object), n_orders, p=[0.49, 0.49, 0.02]),
        "o_totalprice": rng.integers(400, 2_000_000, n_orders) * 0.25,
        "o_orderdate": dates,
        "o_orderpriority": rng.choice(
            np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], dtype=object),
            n_orders,
        ),
        "o_comment": comments[cidx],
    }
    lines = rng.integers(1, 8, n_orders)
    n_l = int(lines.sum())
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    flags = rng.choice(np.array(["N", "A", "R"], dtype=object), n_l, p=[0.7, 0.2, 0.1])
    lineitem = {
        "l_orderkey": np.repeat(okey, lines),
        "l_linenumber": (np.arange(n_l) - starts + 1).astype(np.int32),
        "l_partkey": rng.integers(1, 20_000, n_l),
        "l_quantity": rng.integers(1, 51, n_l).astype(np.float64),
        "l_extendedprice": rng.integers(4000, 400_000, n_l) * 0.25,
        "l_discount": rng.integers(0, 11, n_l) / 100.0,
        # skewed strata: the exact stratified sampler must hit each one
        "l_returnflag": flags,
        "l_shipmode": rng.choice(
            np.array(["AIR", "FOB", "MAIL", "RAIL", "REG AIR", "SHIP", "TRUCK"], dtype=object), n_l
        ),
        "l_shipdate": np.repeat(dates, lines) + rng.integers(1, 122, n_l).astype("timedelta64[D]"),
        "l_comment": comments[rng.integers(0, len(comments), n_l)],
    }

    drop = rng.random(n_orders) < 0.02
    shift = ~drop & (rng.random(n_orders) < 0.05)
    rewrite = ~drop & (rng.random(n_orders) < 0.03)
    price_shift = 2.5 * (seed % 7 + 1)
    new_cidx = (cidx + rng.integers(1, len(comments), n_orders)) % len(comments)
    # the pool can repeat a comment: count only real rewrites
    rewrite &= comments[new_cidx] != comments[cidx]
    rhs = dict(orders)
    rhs["o_totalprice"] = np.where(shift, orders["o_totalprice"] + price_shift, orders["o_totalprice"])
    rhs["o_comment"] = np.where(rewrite, comments[new_cidx], comments[cidx])
    rhs = {k: v[~drop] for k, v in rhs.items()}
    n_diff = int((shift | rewrite).sum())
    diff = DiffTruth(
        num_total=n_orders,
        num_same=n_orders - int(drop.sum()) - n_diff,
        num_diff=n_diff,
        num_missing_lhs=0,
        num_missing_rhs=int(drop.sum()),
        price_shift=price_shift,
        n_shifted=int(shift.sum()),
        n_rewritten=int(rewrite.sum()),
    )
    nbytes = write_parquet_dir(orders, os.path.join(out_dir, "orders.parquet"))
    nbytes += write_parquet_dir(lineitem, os.path.join(out_dir, "lineitem.parquet"))
    nbytes += write_parquet_dir(rhs, os.path.join(out_dir, "orders_perturbed.parquet"))
    names, counts = np.unique(flags, return_counts=True)
    return OrdersInputs(
        n_orders=n_orders,
        n_lineitem=n_l,
        lines_sq_sum=int((lines.astype(np.int64) ** 2).sum()),
        input_bytes=nbytes,
        returnflag_counts={str(f): int(c) for f, c in zip(names, counts)},
        diff=diff,
    )


# ---------------------------------------------------------------- dedup_corpus

_CONTROL = re.compile(r"[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]")
_WS = re.compile(r"\s+")
EDIT_RATES = (0.01, 0.02, 0.03, 0.05, 0.1)


def normalize(text: str) -> str:
    """Python twin of ``normalize_text`` defaults on ASCII input (NFC is
    the identity there): strip C0 controls, squash whitespace, trim."""
    return _WS.sub(" ", _CONTROL.sub("", text)).strip()


def shingles(text: str, n: int = 3) -> set[str]:
    """Python twin of ``word_shingles``: distinct space-joined word n-grams
    of the single-space split."""
    w = text.strip().split(" ")
    return {" ".join(w[i : i + n]) for i in range(max(len(w) - n + 1, 1))}


def jaccard(a: set[str], b: set[str]) -> float:
    c = len(a & b)
    return c / float(len(a) + len(b) - c)


@dataclass
class CorpusInputs:
    n_docs: int
    input_bytes: int
    n_changed: int  # rows normalize_text must flag as changed
    exact_survivors: set[int]
    families: list[list[int]]
    planted_pairs: dict[tuple[int, int], float]  # every intra-family pair -> J
    texts: dict[int, str] = field(repr=False)  # normalized text of each survivor


def make_corpus(seed: int, n_base: int, out_dir: str) -> CorpusInputs:
    """Base documents, near-duplicate families and messy exact copies.

    * ``n_base`` documents of 30-90 words over a 20k-word vocabulary with a
      flat Zipf(0.8) law, so no word trigram approaches the dedup kernel's
      1000-document posting cap;
    * a quarter of them seed a family of 1-3 variants, each made by
      substituting every word with probability drawn from ``EDIT_RATES``;
    * a tenth of all documents get an exact copy re-spaced, with a control
      character, or re-cased, which ``normalize_text`` + ``exact_dedup``
      must fold back onto the original.

    Ids: originals first, then variants, then copies, so ``exact_dedup``'s
    min-id survivor is always the clean original."""
    rng = np.random.default_rng(seed + 7919)
    vocab = _word_pool(rng, 20_000)
    p = 1.0 / np.arange(1, len(vocab) + 1) ** 0.8
    p /= p.sum()
    words = [rng.choice(len(vocab), size=int(k), p=p) for k in rng.integers(30, 91, n_base)]
    families = []
    for src in rng.choice(n_base, size=n_base // 4, replace=False):
        fam = [int(src)]
        for _ in range(int(rng.integers(1, 4))):
            rate = EDIT_RATES[int(rng.integers(0, len(EDIT_RATES)))]
            w = words[src].copy()
            hit = rng.random(len(w)) < rate
            hit[int(rng.integers(0, len(w)))] = True  # at least one edit
            # a substitution always changes the word
            w[hit] = (w[hit] + rng.integers(1, len(vocab), int(hit.sum()))) % len(vocab)
            fam.append(len(words))
            words.append(w)
        families.append(fam)
    texts = [" ".join(vocab[w]) for w in words]
    n_clean = len(texts)
    n_changed = 0
    for src in rng.choice(n_clean, size=n_clean // 10, replace=False):
        t = texts[src]
        kind = int(rng.integers(0, 3))
        if kind == 0:
            t = "  " + t.replace(" ", "   ", 3) + " \n"
        elif kind == 1:
            cut = t.index(" ")
            t = t[:cut] + "\x07" + t[cut:] + "\t"
        else:
            t = t.upper()  # not changed by normalize_text; exact_dedup lowercases
        n_changed += normalize(t) != t
        texts.append(t)
    nbytes = write_parquet_dir(
        {"doc_id": np.arange(len(texts), dtype=np.int64), "text": np.array(texts, dtype=object)},
        os.path.join(out_dir, "documents.parquet"),
    )

    # exact_dedup's key: fingerprint = lower + squash whitespace of the text
    first: dict[str, int] = {}
    for i, t in enumerate(texts):
        first.setdefault(_WS.sub(" ", normalize(t).lower().strip()), i)
    survivors = set(first.values())
    norm = {i: normalize(texts[i]) for i in survivors}
    sets = {i: shingles(norm[i]) for i in survivors}
    planted = {}
    for fam in families:
        fam = [i for i in fam if i in survivors]
        for a_i, a in enumerate(fam):
            for b in fam[a_i + 1 :]:
                lo, hi = min(a, b), max(a, b)
                planted[(lo, hi)] = jaccard(sets[lo], sets[hi])
    return CorpusInputs(
        n_docs=len(texts),
        input_bytes=nbytes,
        n_changed=n_changed,
        exact_survivors=survivors,
        families=families,
        planted_pairs=planted,
        texts=norm,
    )


# --------------------------------------------------------------- table_commits

TABLE_SCHEMA = "k long, g int, v double, s string"


class TableModel:
    """The benchmark's own model of the snapshot table: key -> (g, v, s).
    ``v`` values are multiples of 0.25 so column sums are exact."""

    def __init__(self, seed: int):
        self.rng = np.random.default_rng(seed + 104729)
        self.rows = pd.DataFrame(
            {"g": pd.Series(dtype=np.int32), "v": pd.Series(dtype=np.float64),
             "s": pd.Series(dtype=object)},
            index=pd.Index([], dtype=np.int64, name="k"),
        )
        self.next_key = 0
        self.low_key = 0

    def _values(self, keys: np.ndarray) -> pd.DataFrame:
        n = len(keys)
        return pd.DataFrame(
            {
                "k": keys.astype(np.int64),
                "g": (keys % 97).astype(np.int32),
                "v": self.rng.integers(0, 1 << 20, n) * 0.25,
                "s": np.char.add("s", self.rng.integers(0, 1 << 30, n).astype(str)).astype(object),
            }
        )

    def append_batch(self, n: int) -> pd.DataFrame:
        keys = np.arange(self.next_key, self.next_key + n)
        self.next_key += n
        return self._values(keys)

    def upsert_batch(self, n: int, span: int | None = None) -> pd.DataFrame:
        """``n`` distinct live keys with fresh values; ``span`` confines them
        to the newest ``span`` keys (a range-local batch)."""
        live = self.rows.index.to_numpy()
        if span is not None:
            live = live[live >= self.next_key - span]
        keys = np.sort(self.rng.choice(live, size=min(n, len(live)), replace=False))
        return self._values(keys)

    def delete_range(self, n: int) -> tuple[int, int]:
        """The oldest ``n`` keys as an inclusive range."""
        lo, self.low_key = self.low_key, self.low_key + n
        return lo, self.low_key - 1

    def apply_upsert(self, batch: pd.DataFrame) -> None:
        b = batch.set_index("k")
        self.rows = pd.concat([self.rows.drop(b.index, errors="ignore"), b]).sort_index()

    def apply_delete(self, lo: int, hi: int) -> None:
        idx = self.rows.index
        self.rows = self.rows[(idx < lo) | (idx > hi)]

    def summary(self, lo: int | None = None, hi: int | None = None) -> tuple[int, int, float]:
        r = self.rows
        if lo is not None:
            r = r[(r.index >= lo) & (r.index <= hi)]
        return len(r), int(r.index.to_numpy().sum()), float(r["v"].sum())
