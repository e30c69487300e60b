"""The workloads. Each one generates its inputs from the seed in
``prepare`` and runs one pass of its pipeline in ``run_pass``, calling the
library's public functions directly through the recorder and checking
every output against the generator's ground truth.

``run_pass`` returns the pass's phase timings; ``input_rows`` is the
number of input rows one pass processes (the base of ``rows_per_s``).
"""

from __future__ import annotations

import csv
import glob
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from perfbench import inputs
from perfbench.harness import Recorder, storage_bytes
from ratatool_spark.cache import unpersist_intermediates
from ratatool_spark.generators import correlated_pair
from ratatool_spark.operators.corpus import normalize_text
from ratatool_spark.operators.dedup import (
    exact_dedup,
    jaccard_verify,
    minhash_lsh_pairs,
    near_dedup,
    ngram_jaccard_pairs,
)
from ratatool_spark.operators.diffy import BigDiffy
from ratatool_spark.operators.sampler import sample
from ratatool_spark.operators.snapshots import (
    commit_append,
    compact_snapshot,
    delete_snapshot_where_mor,
    merge_snapshot,
    merge_snapshot_mor,
    read_manifest,
    read_snapshot,
)
from ratatool_spark.sources.io import load_tables, read_table, write_table


class Workload:
    name = ""

    def __init__(self, spark, rec: Recorder, work: str, seed: int, scale: float):
        self.spark, self.rec, self.work, self.seed, self.scale = spark, rec, work, seed, scale
        self.input_bytes = 0
        self.input_rows = 0
        self.cache_released = 0
        self.cache_peak_bytes = 0

    def prepare(self, in_dir: str) -> None:
        raise NotImplementedError

    def run_pass(self) -> dict[str, list[float]]:
        raise NotImplementedError

    def begin_measure(self) -> None:
        """Called after the warm-up pass: counters cover measured passes only."""
        self.cache_released = 0
        self.cache_peak_bytes = 0

    def release_caches(self) -> None:
        """End of pass: record what the operators left cached, release it."""
        self.cache_peak_bytes = max(self.cache_peak_bytes, storage_bytes(self.spark))
        self.cache_released += self.rec.call("cache", unpersist_intermediates)

    def cache_stats(self) -> tuple[int, int]:
        """(intermediates released, peak cached bytes) over measured passes."""
        return self.cache_released, self.cache_peak_bytes

    def layer_extras(self) -> dict[str, float]:
        """Workload-specific per-layer counters for the traced run."""
        return {}


def _read_tsv(path: str) -> list[dict[str, str]]:
    rows = []
    for p in sorted(glob.glob(os.path.join(path, "part-*"))):
        with open(p, newline="") as f:
            rows.extend(csv.DictReader(f, delimiter="\t"))
    return rows


# ----------------------------------------------------------------- sample_diff

FRACTION = 0.1
SAMPLER_MODES = (
    ("random", {}),
    ("hash", {"fields": ["l_orderkey"]}),
    ("stratified_exact", {"strata": ["l_returnflag"], "exact": True}),
    ("uniform_exact", {"strata": ["l_returnflag"], "uniform": True, "exact": True}),
)
# BASELINE.md's approximate envelope, +-250 of 12,500 (50% of 25k rows), is
# 3.16 binomial standard deviations; the same multiple applies at this size.
# Hash dice on l_orderkey keeps or drops whole orders, so its deviation is
# that of the order count, weighted by lines per order.
APPROX_SIGMAS = 250 / (25_000 * 0.5 * 0.5) ** 0.5
EXACT_TOLERANCE = 0.01  # the tolerance of the reference's (and sample(audit=True)'s) audit
PAIR_FIELDS = ("id long", "amount double", "profile struct<age:int,city:string>",
               "scores array<double>")
PAIR_SCHEMA = ", ".join(PAIR_FIELDS)


class SampleDiff(Workload):
    """Four sampler modes over ``lineitem``, each sample written; a BigDiffy
    of ``orders`` against a planted perturbation, stats saved; a generated
    correlated pair with a nested schema, written."""

    name = "sample_diff"

    def prepare(self, in_dir: str) -> None:
        n_orders = max(int(10_000 * self.scale), 200)
        self.truth = inputs.make_orders_inputs(self.seed, n_orders, in_dir)
        self.n_pair = max(int(2_000 * self.scale), 100)
        self.input_bytes = self.truth.input_bytes
        with self.rec.span("sources.load_tables", "sources"):
            t = load_tables(self.spark, in_dir, names=("orders", "lineitem"))
            self.lineitem, self.orders = t["lineitem"], t["orders"]
        self.orders_rhs = self.rec.call(
            "sources", read_table, self.spark, os.path.join(in_dir, "orders_perturbed.parquet")
        )
        self.input_rows = 4 * self.truth.n_lineitem + 2 * n_orders + 2 * self.n_pair

    def run_pass(self) -> dict[str, list[float]]:
        rec, out = self.rec, os.path.join(self.work, "out")
        t = {"sample_s": [], "diff_s": [], "generate_s": []}
        n_l = self.truth.n_lineitem
        for mode, kw in SAMPLER_MODES:
            path = os.path.join(out, mode)
            with rec.span(f"sampler.sample[{mode}]", "sampler") as s:
                smp = sample(self.lineitem, FRACTION, seed=self.seed, **kw)
                write_table(smp, path, mode="overwrite")
            t["sample_s"].append(s.dur)
            self._check_sample(s, mode, kw, path)

        with rec.span("diffy.BigDiffy", "diffy") as s:
            d = BigDiffy(self.orders, self.orders_rhs, keys=["o_orderkey"])
            d.save_stats(os.path.join(out, "diff"))
            d.unpersist()
        t["diff_s"].append(s.dur)
        self._check_diff(s, os.path.join(out, "diff"))

        with rec.span("generators.correlated_pair", "generators") as g:
            pair = correlated_pair(self.spark, PAIR_SCHEMA, PAIR_SCHEMA, "id", self.n_pair,
                                   seed=self.seed)
            for side, df in zip("ab", pair):
                write_table(df, os.path.join(out, f"pair_{side}"), mode="overwrite")
        t["generate_s"].append(g.dur)
        self._check_pair(g, out)
        self.release_caches()
        return t

    def _check_sample(self, s, mode: str, kw: dict, path: str) -> None:
        """Exact modes: every stratum within the reference audit's 1% of its
        target; approximate modes: the total within the envelope above."""
        flags = pq.read_table(path, columns=["l_returnflag"]).column(0).to_pylist()
        got = {k: flags.count(k) for k in self.truth.returnflag_counts}
        n_l = self.truth.n_lineitem
        if "exact" in kw:
            per_stratum = n_l * FRACTION / len(got)
            for k, n_k in self.truth.returnflag_counts.items():
                target = min(per_stratum, n_k) if kw.get("uniform") else n_k * FRACTION
                self.rec.check(s, abs(got[k] - target) <= EXACT_TOLERANCE * target + 1,
                               f"{mode} stratum {k}: {got[k]} vs target {target:.1f}")
        else:
            weight = self.truth.lines_sq_sum if "fields" in kw else n_l
            tol = APPROX_SIGMAS * (weight * FRACTION * (1 - FRACTION)) ** 0.5
            self.rec.check(s, abs(len(flags) - n_l * FRACTION) <= tol,
                           f"{mode}: {len(flags)} rows vs {n_l * FRACTION:.0f} +- {tol:.0f}")

    def _check_pair(self, s, out: str) -> None:
        """Both sides hold ``n_pair`` rows of the nested schema and share
        one set of distinct keys (read back with pyarrow)."""
        keys = []
        for side in "ab":
            t = pq.read_table(os.path.join(out, f"pair_{side}"))
            ok = t.column_names == [f.split(" ")[0] for f in PAIR_FIELDS]
            self.rec.check(s, ok, f"pair_{side} columns {t.column_names}")
            keys.append(set(t.column("id").to_pylist()))
            self.rec.check(s, t.num_rows == self.n_pair == len(keys[-1]),
                           f"pair_{side}: {t.num_rows} rows, {len(keys[-1])} keys, want {self.n_pair}")
        self.rec.check(s, keys[0] == keys[1], "pair sides have different keys")

    def _check_diff(self, s, path: str) -> None:
        tr = self.truth.diff
        rows = _read_tsv(os.path.join(path, "global"))
        want = {"num_total": tr.num_total, "num_same": tr.num_same, "num_diff": tr.num_diff,
                "num_missing_lhs": tr.num_missing_lhs, "num_missing_rhs": tr.num_missing_rhs}
        got = {k: int(rows[0][k]) for k in want} if len(rows) == 1 else rows
        self.rec.check(s, got == want, f"global stats {got} != {want}")
        fields = {r["field"]: r for r in _read_tsv(os.path.join(path, "fields"))}
        price = fields.get("o_totalprice", {})
        self.rec.check(
            s,
            int(price.get("count", -1)) == tr.n_shifted and float(price.get("mean", "nan")) == tr.price_shift,
            f"o_totalprice stats {price} vs count {tr.n_shifted} mean {tr.price_shift}",
        )
        n_comment = int(fields.get("o_comment", {}).get("count", -1))
        self.rec.check(s, n_comment == tr.n_rewritten,
                       f"o_comment count {n_comment} != {tr.n_rewritten}")


# ---------------------------------------------------------------- dedup_corpus

THRESHOLD = 0.7


class DedupCorpus(Workload):
    """normalize_text -> exact_dedup -> near_dedup and ngram_jaccard_pairs at
    J >= 0.7, over a corpus with planted near-duplicate families."""

    name = "dedup_corpus"

    def prepare(self, in_dir: str) -> None:
        self.truth = inputs.make_corpus(self.seed, max(int(1000 * self.scale), 40), in_dir)
        self.input_bytes = self.truth.input_bytes
        self.docs = self.rec.call(
            "sources", read_table, self.spark, os.path.join(in_dir, "documents.parquet")
        )
        self.input_rows = self.truth.n_docs

    def run_pass(self) -> dict[str, list[float]]:
        rec, tr = self.rec, self.truth
        with rec.span("corpus.normalize_text", "corpus") as s:
            norm = normalize_text(self.docs).persist()
            n_changed = norm.where("changed").count()
        rec.check(s, n_changed == tr.n_changed, f"changed {n_changed} != {tr.n_changed}")

        with rec.span("dedup.exact_dedup", "dedup") as s:
            exact = exact_dedup(norm.drop("changed")).persist()
            ids = {r.doc_id for r in exact.select("doc_id").collect()}
        rec.check(s, ids == tr.exact_survivors,
                  f"exact survivors differ: {len(ids ^ tr.exact_survivors)} ids")

        with rec.span("dedup.near_dedup", "dedup") as s:
            near = {r.doc_id for r in near_dedup(exact, threshold=THRESHOLD)
                    .select("doc_id").collect()}
        dedup_s = s.dur

        with rec.span("dedup.ngram_jaccard_pairs", "dedup") as p:
            pairs = {(r.id_a, r.id_b): r.jaccard
                     for r in ngram_jaccard_pairs(exact, threshold=THRESHOLD).collect()}
        self._check_pairs(p, pairs)
        self._check_near(s, near, pairs)
        if rec.trace and not hasattr(self, "lsh_counts"):
            self.lsh_counts = self._lsh_counts(exact)
        norm.unpersist()
        exact.unpersist()
        self.release_caches()
        return {"dedup_s": [dedup_s], "pairs_s": [p.dur]}

    def _check_pairs(self, s, pairs: dict) -> None:
        tr = self.truth
        missing = [k for k, j in tr.planted_pairs.items() if j >= THRESHOLD and k not in pairs]
        self.rec.check(s, not missing, f"{len(missing)} planted pairs J>=0.7 missing")
        sets = {}

        def sh(i):
            if i not in sets:
                sets[i] = inputs.shingles(tr.texts[i])
            return sets[i]

        wrong = [k for k, j in pairs.items()
                 if k[0] >= k[1] or j < THRESHOLD or j != inputs.jaccard(sh(k[0]), sh(k[1]))]
        self.rec.check(s, not wrong, f"{len(wrong)} pairs with a wrong jaccard, e.g. {wrong[:3]}")

    def _check_near(self, s, survivors: set, pairs: dict) -> None:
        """near_dedup removes only docs joined to a smaller id by verified
        pairs, and finds most planted near-copies (LSH is probabilistic:
        16 hashes in 4 bands catch a J=0.85 pair with p~0.95)."""
        tr = self.truth
        label = {i: i for i in tr.exact_survivors}

        def find(i):
            while label[i] != i:
                label[i] = label[label[i]]
                i = label[i]
            return i

        for a, b in pairs:
            ra, rb = find(a), find(b)
            label[max(ra, rb)] = min(ra, rb)
        removable = {i for i in tr.exact_survivors if find(i) != i}
        removed = tr.exact_survivors - survivors
        self.rec.check(s, survivors <= tr.exact_survivors and removed <= removable,
                       f"{len(removed - removable)} docs removed without a J>=0.7 path")
        easy = [k for k, j in tr.planted_pairs.items() if j >= 0.85]
        caught = sum(1 for a, b in easy if b in removed)
        self.rec.check(s, caught >= 0.8 * len(easy),
                       f"near_dedup removed {caught} of {len(easy)} planted J>=0.85 copies")

    def _lsh_counts(self, exact) -> dict[str, int]:
        """The candidate and verified pair counts inside near_dedup, replayed
        outside any timed span with the same arguments."""
        cand = minhash_lsh_pairs(exact).persist()
        n_cand = cand.count()
        n_ver = jaccard_verify(exact, cand).where(F.col("jaccard") >= THRESHOLD).count()
        cand.unpersist()
        unpersist_intermediates()
        return {"candidate_pairs": n_cand, "verified_pairs": n_ver}

    def layer_extras(self) -> dict[str, float]:
        c = getattr(self, "lsh_counts", {"candidate_pairs": 0, "verified_pairs": 0})
        return {
            "dedup.candidate_pairs": c["candidate_pairs"],
            "dedup.verified_pairs": c["verified_pairs"],
            "dedup.useful_ratio": c["verified_pairs"] / max(c["candidate_pairs"], 1),
        }


# --------------------------------------------------------------- table_commits


def _arrow_bytes(batch) -> int:
    return pa.Table.from_pandas(batch, preserve_index=False).nbytes


class TableCommits(Workload):
    """Appends, merge-on-read upserts and range deletes and copy-on-write
    merges on one snapshot table, each commit followed by a read (full
    after the append and the delete, pruned to a key range after the two
    merges); then a compaction, checked by the pass's final read.
    Merge-on-read deletes are never folded, so they pile up by two per
    pass (``snapshots.pending_deletes_at_read``)."""

    name = "table_commits"

    def prepare(self, in_dir: str) -> None:
        self.path = os.path.join(in_dir, "table")
        self.model = inputs.TableModel(self.seed)
        k = max(int(self.scale * 250), 10)
        self.sizes = {"append": 2 * k, "upsert": k, "merge": k // 2, "live": 40 * k}
        batch = self.model.append_batch(self.sizes["live"])
        self.rec.call("snapshots", commit_append, self._df(batch), self.path)
        self.model.apply_upsert(batch)
        self.input_bytes = _dir_bytes(self.path)
        self.input_rows = self.sizes["append"] + self.sizes["upsert"] + self.sizes["merge"]
        self.begin_measure()

    def begin_measure(self) -> None:
        super().begin_measure()
        self.user_bytes = 0
        self.written_bytes = 0
        self.files_added: list[int] = []
        self.pending_at_read: list[int] = []

    def _df(self, batch):
        return self.spark.createDataFrame(batch, inputs.TABLE_SCHEMA)

    def run_pass(self) -> dict[str, list[float]]:
        m, sz, rec = self.model, self.sizes, self.rec
        before = _dir_bytes(self.path)
        travel = None
        for op in ("append", "upsert_mor", "delete_mor", "merge_cow"):
            if op == "append":
                batch = m.append_batch(sz["append"])
                fn, args = commit_append, (self._df(batch), self.path)
            elif op == "upsert_mor":
                batch = m.upsert_batch(sz["upsert"])
                fn, args = merge_snapshot_mor, (self.spark, self.path, self._df(batch), ["k"])
            elif op == "merge_cow":
                batch = m.upsert_batch(sz["merge"], span=sz["append"])
                fn, args = merge_snapshot, (self.spark, self.path, self._df(batch), ["k"])
            else:
                batch = None
                lo, hi = m.delete_range(sz["append"])
                fn, args = delete_snapshot_where_mor, (self.spark, self.path, {"k": (lo, hi)})
            self._commit(fn, *args)
            where = op in ("upsert_mor", "merge_cow")
            if batch is None:
                m.apply_delete(lo, hi)
            else:
                m.apply_upsert(batch)
                self.user_bytes += _arrow_bytes(batch)
            self._read(where)
            if op == "upsert_mor":
                travel = (self._current(), m.rows.copy())
        self._commit(compact_snapshot, self.spark, self.path, 1 << 20)
        self._check_full(travel[0], travel[1], "time-travel read")
        self._check_full(None, m.rows, "final read")
        self.written_bytes += _dir_bytes(self.path) - before
        self.release_caches()
        return {}

    def _current(self) -> int:
        return read_manifest(self.path, load_files=False)["snapshot_id"]

    def _commit(self, fn, *args):
        files_before = {e["path"] for e in read_manifest(self.path)["files"]}
        with self.rec.span(f"snapshots.{fn.__name__}", "snapshots") as s:
            sid = fn(*args)
        if sid is not None:
            added = {e["path"] for e in read_manifest(self.path)["files"]} - files_before
            self.files_added.append(len(added))
        return sid

    def _read(self, where: bool) -> None:
        """A full read, or one pruned to a range of recent keys; both are
        checked against the model's (rows, sum k, sum v)."""
        m = self.model
        self.pending_at_read.append(len(read_manifest(self.path, load_files=False)["deletes"]))
        lo, hi = m.next_key - 3 * self.sizes["append"], m.next_key - self.sizes["append"] - 1
        box = {"k": (lo, hi)} if where else None
        name = "read_snapshot[where]" if where else "read_snapshot"
        with self.rec.span(f"snapshots.{name}", "snapshots") as s:
            r = read_snapshot(self.spark, self.path, where=box).agg(
                F.count(F.lit(1)), F.sum("k"), F.sum("v")).collect()[0]
        got = (r[0], int(r[1] or 0), float(r[2] or 0.0))
        want = m.summary(lo, hi) if where else m.summary()
        self.rec.check(s, got == want, f"{name}: (rows, sum k, sum v) {got} != {want}")

    def _check_full(self, snapshot_id, rows, what: str) -> None:
        with self.rec.span("snapshots.read_snapshot[full]", "snapshots") as s:
            got = read_snapshot(self.spark, self.path, snapshot_id=snapshot_id).toPandas()
        got = got.sort_values("k").reset_index(drop=True)
        want = rows.reset_index()
        ok = len(got) == len(want) and all(
            np.array_equal(got[c].to_numpy(), want[c].to_numpy()) for c in ("k", "g", "v", "s"))
        self.rec.check(s, ok, f"{what}: table differs from the model ({len(got)} vs {len(want)} rows)")

    def layer_extras(self) -> dict[str, float]:
        live = _arrow_bytes(self.model.rows.reset_index())
        return {
            "snapshots.files_added_per_commit": float(np.mean(self.files_added or [0])),
            "snapshots.pending_deletes_at_read": float(np.mean(self.pending_at_read or [0])),
            "snapshots.bytes_written_per_user_byte": self.written_bytes / max(self.user_bytes, 1),
            "snapshots.table_bytes_per_live_byte": _dir_bytes(self.path) / max(live, 1),
        }


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


class DedupCommits(Workload):
    """The training-data side: a DedupCorpus pass, then a TableCommits pass
    on an independent table. One workload instead of two keeps the run
    count inside the benchmark's time budget; the spans still separate the
    corpus, dedup and snapshots layers."""

    name = "dedup_commits"

    def __init__(self, spark, rec: Recorder, work: str, seed: int, scale: float):
        super().__init__(spark, rec, work, seed, scale)
        self.parts = [cls(spark, rec, work, seed, scale) for cls in (DedupCorpus, TableCommits)]

    def prepare(self, in_dir: str) -> None:
        for part in self.parts:
            part.prepare(os.path.join(in_dir, part.name))
        self.input_bytes = sum(p.input_bytes for p in self.parts)
        self.input_rows = sum(p.input_rows for p in self.parts)

    def run_pass(self) -> dict[str, list[float]]:
        return {k: v for part in self.parts for k, v in part.run_pass().items()}

    def begin_measure(self) -> None:
        for part in self.parts:
            part.begin_measure()

    def cache_stats(self) -> tuple[int, int]:
        stats = [p.cache_stats() for p in self.parts]
        return sum(r for r, _ in stats), max(b for _, b in stats)

    def layer_extras(self) -> dict[str, float]:
        return {k: v for part in self.parts for k, v in part.layer_extras().items()}


WORKLOADS = {w.name: w for w in (SampleDiff, DedupCommits)}


def clear(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
