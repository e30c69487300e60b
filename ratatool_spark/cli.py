"""CLI mirroring the reference's three entry points
(Ratatool.scala:39-68: bigDiffy | bigSampler | directSampler), argparse
instead of scopt, DataFrames instead of Beam pipelines.

    python -m ratatool_spark.cli bigSampler --input X --output Y --fraction 0.1 \\
        [--fields a,b] [--distribution stratified|uniform --distributionFields c] \\
        [--exact] [--seed 42]
    python -m ratatool_spark.cli bigDiffy --lhs X --rhs Y --key k1,k2 --output Z \\
        [--ignore f1,f2] [--unordered f3] [--ignoreNan]
    python -m ratatool_spark.cli directSampler --input X --output Y -n 100 [--head]

Each subcommand is declared once, as a ``_cmd(name, help, run, *flags)``
entry in ``COMMANDS``; ``build_parser()`` and ``main()`` are both built
from it. To add one, list its flags (``flag(*names, **add_argument_kw)``
or the shared ``_input()``/``_output()``/``TEXT``/``ID``/``FORMAT``) and
say what runs:

- ``"module:function"`` (under ``ratatool_spark.``, imported only when
  run) for "read tables, call one operator, overwrite --output": flags
  with ``table=`` are read and passed positionally, flags with ``kw=``
  (through ``conv=``) as keywords;
- otherwise a runner ``_run_x(spark, args)``, which may pass
  ``**_kwargs(args)`` to its operator.

``split=(expects, pattern, build)`` parses each item of a structured
value (``col:lo:hi``), and ``requires={mode: (dest, ...)}`` names the flags
a ``--mode`` needs; both are checked before Spark starts.
"""

from __future__ import annotations

import argparse
import importlib
import json
import operator
import re
import sys
from typing import Any, Callable, NamedTuple


def _csv(s: str) -> list[str]:
    return [x for x in s.split(",") if x]


class Flag(NamedTuple):
    names: tuple[str, ...]
    opts: dict[str, Any]  # argparse add_argument keywords
    kw: str | None = None  # operator keyword this flag feeds
    conv: Callable[[Any], Any] | None = None  # flag value -> keyword value
    table: bool | str = False  # read as a table (True: with --format)
    split: tuple | None = None  # (expects, pattern, build) per item

    @property
    def dest(self) -> str:
        # argparse's rule: first long option, dashes stripped/underscored
        long = [n for n in self.names if n.startswith("--")]
        name = (long or self.names)[0].lstrip("-").replace("-", "_")
        return self.opts.get("dest") or name


def flag(*names, kw=None, conv=None, table=False, split=None, **opts) -> Flag:
    return Flag(names, opts, kw, conv, table, split)


def _input(help=None) -> Flag:
    return flag("--input", required=True, help=help, table=True)


def _output(help=None) -> Flag:
    return flag("--output", required=True, help=help)


TEXT = flag("--textField", default="text", kw="text_col")
ID = flag("--idField", default="doc_id", kw="id_col")
FORMAT = flag("--format", default=None, help="override input format sniffing")


def _or_none(v):
    return v or None


class Command(NamedTuple):
    help: str
    run: str | Callable  # "module:function" for _run_op, or a runner
    flags: tuple[Flag, ...]
    requires: dict[str, tuple[str, ...]]


COMMANDS: dict[str, Command] = {}


def _cmd(name, help, run, *flags, requires=None) -> None:
    COMMANDS[name] = Command(help, run, flags, requires or {})


# ------------------------------------------------------- structured values


def _split(flag: str, item: str, expects: str, pattern: str,
           build: Callable = lambda *fields: fields):
    """``build(*groups)`` of ``pattern`` fully matching ``item``; a
    SystemExit naming the flag if it does not match or ``build`` raises
    ValueError."""
    m = re.fullmatch(pattern, item)
    try:
        if m:
            return build(*m.groups())
    except ValueError:
        pass
    raise SystemExit(f"{flag} expects {expects}, got {item!r}")


def _range(col, lo, hi):
    try:
        return col, (int(lo), int(hi))
    except ValueError:
        return col, (float(lo), float(hi))


def _partition_item(col, transform, param):
    d = {"col": col, "transform": transform or "identity"}
    if param is not None:
        d["param"] = int(param)
    return d


_NUMBERS = ("numbers", r"(.+)", float)
_COLUMN_PAIRS = ("left[:right] column pairs", r"([^:]+)(?::(.+))?",
                 lambda lc, rc: (lc, rc or lc))
_SCORED_PAIRS = ("left:right:m:u quadruples in score mode",
                 r"([^:]+):([^:]+):([^:]+):([^:]+)",
                 lambda lc, rc, m, u: (lc, rc, float(m), float(u)))
_PARTITION_SPEC = ("col:transform[:param] items",
                   r"([^:]+)(?::([^:]+)(?::([^:]+))?)?", _partition_item)


# ----------------------------------------------------------------- running


def _kwargs(args) -> dict[str, Any]:
    """The operator keywords the parsed command's flags feed."""
    return {
        f.kw: f.conv(getattr(args, f.dest)) if f.conv else getattr(args, f.dest)
        for f in COMMANDS[args.command].flags
        if f.kw
    }


def _read_input(spark, args):
    from ratatool_spark.sources.io import read_table

    return read_table(spark, args.input, fmt=args.format)


def _write(out, path) -> None:
    from ratatool_spark.sources.io import write_table

    write_table(out, path, mode="overwrite")


def _run_op(spark, args) -> None:
    """The shared runner: read the table flags, call the operator with them
    (positionally) and the keyword flags, overwrite --output."""
    from ratatool_spark.sources.io import read_table

    cmd = COMMANDS[args.command]
    kwargs = _kwargs(args)
    tables = [
        read_table(spark, getattr(args, f.dest),
                   fmt=args.format if f.table is True else f.table)
        for f in cmd.flags
        if f.table
    ]
    module, _, name = cmd.run.partition(":")
    op = getattr(importlib.import_module(f"ratatool_spark.{module}"), name)
    _write(op(*tables, **kwargs), args.output)


def _run_big_sampler(spark, args):
    from ratatool_spark.operators.sampler import sample
    from ratatool_spark.sources.io import row_restriction

    df = _read_input(spark, args)
    if args.rowRestriction:
        df = row_restriction(df, args.rowRestriction)
    out = sample(
        df,
        strata=args.distributionFields if args.distribution else None,
        uniform=args.distribution == "uniform",
        **_kwargs(args),
    )
    _write(out, args.output)


def _run_big_diffy(spark, args):
    from ratatool_spark.operators.diffy import BigDiffy
    from ratatool_spark.sources.io import read_table, row_restriction

    unordered_keys = {}
    for path, key in args.unorderedFieldKey:
        if path in unordered_keys:
            raise SystemExit(f"--unorderedFieldKey repeats path {path!r}")
        unordered_keys[path] = key
    lhs = read_table(spark, args.lhs)
    rhs = read_table(spark, args.rhs)
    if args.rowRestriction:
        lhs = row_restriction(lhs, args.rowRestriction)
        rhs = row_restriction(rhs, args.rowRestriction)
    d = BigDiffy(
        lhs,
        rhs,
        keys=args.key,
        ignore=set(args.ignore),
        unordered=set(args.unordered),
        unordered_keys=unordered_keys or None,
        ignore_nan=args.ignoreNan,
    )
    d.save_stats(args.output)


def _run_direct_sampler(spark, args):
    from ratatool_spark.operators.sampler import head_sample, reservoir_sample
    from ratatool_spark.sources.io import read_table

    df = read_table(spark, args.input)
    out = head_sample(df, args.n) if args.head else reservoir_sample(df, args.n, args.seed)
    _write(out, args.output)


def _run_generate(spark, args):
    from ratatool_spark.generators import random_dataframe

    _write(random_dataframe(spark, args.schema, args.n, seed=args.seed), args.output)


def _run_upsert(spark, args):
    from ratatool_spark.sources.io import read_table, upsert_table

    stats = upsert_table(
        spark,
        args.base,
        read_table(spark, args.updates, fmt=args.updatesFormat),
        args.keys,
        fmt=args.format,
        delete_col=args.deleteField,
    )
    print(json.dumps(stats))


def _run_unigram_segment(spark, args):
    from ratatool_spark.operators.unigram import segment_docs

    df = _read_input(spark, args)
    vocab = spark.read.parquet(args.vocab)
    _write(segment_docs(df, vocab, **_kwargs(args)), args.output)


def _run_wordpiece_train(spark, args):
    from ratatool_spark.operators.wordpiece import (
        save_wordpiece_tokenizer,
        wordpiece_learn,
        wordpiece_vocab,
    )

    df = _read_input(spark, args)
    merges = wordpiece_learn(df, **_kwargs(args))
    vocab = wordpiece_vocab(df, merges, text_col=args.textField)
    save_wordpiece_tokenizer(spark, args.output, merges, vocab=vocab)


def _run_wordpiece_segment(spark, args):
    from ratatool_spark.operators.wordpiece import (
        load_wordpiece_tokenizer,
        wordpiece_match_segment,
        wordpiece_segment,
    )

    df = _read_input(spark, args)
    merges, vocab = load_wordpiece_tokenizer(spark, args.tokenizer)
    if args.mode == "match":
        if vocab is None:
            raise SystemExit(
                "--mode match needs an artifact with a vocab "
                "(wordpieceTrain writes one)"
            )
        out = wordpiece_match_segment(
            df, vocab, text_col=args.textField, unk=args.unk)
    else:
        out = wordpiece_segment(df, merges, text_col=args.textField)
    _write(out, args.output)


def _run_bpe_learn(spark, args):
    from ratatool_spark.operators.corpus import bpe_learn
    from ratatool_spark.sources.shards import _write_text

    merges = bpe_learn(_read_input(spark, args), **_kwargs(args))
    _write_text(spark, args.output, json.dumps(merges))


def _run_bpe_encode(spark, args):
    from ratatool_spark.operators.corpus import bpe_segment
    from ratatool_spark.sources.shards import _read_text

    merges = [tuple(m) for m in json.loads(_read_text(spark, args.merges))]
    df = _read_input(spark, args)
    _write(bpe_segment(df, merges, text_col=args.textField), args.output)


def _grouped_input(spark, args):
    """--input, plus the constant column the default ``--groupBy __all__``
    groups on."""
    df = _read_input(spark, args)
    if args.groupBy == ["__all__"]:
        from pyspark.sql import functions as F

        df = df.withColumn("__all__", F.lit("all"))
    return df


def _read_sketches(spark, args) -> list:
    from ratatool_spark.sources.io import read_table

    if len(args.inputs) < 2:
        raise SystemExit("merge mode needs --inputs a,b[,...]")
    return [read_table(spark, p, fmt=args.format or "parquet") for p in args.inputs]


def _run_quantile_sketch(spark, args):
    from ratatool_spark.operators.timeagg import (
        build_quantile_sketches,
        estimate_quantiles,
        merge_quantile_sketches,
    )
    from ratatool_spark.sources.io import read_table

    if args.mode == "build":
        out = build_quantile_sketches(
            _grouped_input(spark, args), args.groupBy, args.valueField,
            args.keyFields, k=args.k,
        )
    elif args.mode == "merge":
        out = merge_quantile_sketches(*_read_sketches(spark, args))
    else:
        out = estimate_quantiles(
            read_table(spark, args.input, fmt=args.format or "parquet"),
            args.quantiles,
        )
    _write(out, args.output)


def _run_freq_sketch(spark, args):
    from ratatool_spark.operators.freq import (
        build_freq_sketches,
        estimate_freqs,
        merge_freq_sketches,
    )
    from ratatool_spark.sources.io import read_table

    if args.mode == "build":
        out = build_freq_sketches(
            _grouped_input(spark, args), args.groupBy, args.keyField,
            depth=args.depth, width=args.width, seed=args.seed,
        )
    elif args.mode == "merge":
        out = merge_freq_sketches(*_read_sketches(spark, args))
    else:
        keys_df = spark.createDataFrame(
            [(k,) for k in args.keys], f"{args.keyField} string"
        )
        out = estimate_freqs(
            read_table(spark, args.input, fmt=args.format or "parquet"),
            keys_df,
            args.keyField,
            seed=args.seed,
        )
    _write(out, args.output)


def _run_dedup_against(spark, args):
    from ratatool_spark.operators.dedup import filter_against, load_signatures
    from ratatool_spark.sources.io import read_table

    new = _read_input(spark, args)
    corpus = read_table(spark, args.corpus, fmt=args.format)
    corpus_sigs = None
    if args.corpusSigs:
        corpus_sigs, meta = load_signatures(spark, args.corpusSigs)
        for cli_v, meta_k in (
            (args.numHashes, "num_hashes"),
            (args.shingleN, "shingle_n"),
            (args.hasher, "hasher"),
        ):
            if meta.get(meta_k) != cli_v:
                raise SystemExit(
                    f"--corpusSigs was saved with {meta_k}="
                    f"{meta.get(meta_k)!r} but the command asks for "
                    f"{cli_v!r}; align the flags or resave"
                )
    out = filter_against(new, corpus, corpus_sigs=corpus_sigs, **_kwargs(args))
    _write(out, args.output)


def _run_save_signatures(spark, args):
    from ratatool_spark.operators.dedup import save_signatures

    save_signatures(
        _read_input(spark, args), args.output, mode="overwrite", **_kwargs(args)
    )


def _run_checks(spark, args):
    from ratatool_spark.operators.checks import run_checks
    from ratatool_spark.sources.io import read_table

    with open(args.checks) as f:
        suite = json.load(f)
    # foreign_key refs come as paths in the JSON form
    for c in suite:
        if c.get("kind") == "foreign_key" and isinstance(c.get("ref"), str):
            c["ref"] = read_table(spark, c["ref"])
    report = run_checks(_read_input(spark, args), suite)
    # the report is one row per check — collect it ONCE, then both
    # write and derive the exit status from the collected rows
    # (write_table(report) + a second .count() would re-execute
    # the whole suite: full scan, unique groupBy, FK anti-join)
    rows = report.collect()
    _write(spark.createDataFrame(rows, report.schema), args.output)
    if any(not r["passed"] for r in rows):
        return 1


def _run_write_shards(spark, args):
    from ratatool_spark.sources.shards import verify_shards, write_training_shards

    write_training_shards(
        _read_input(spark, args), args.output, args.numShards, args.keyFields,
        mode="overwrite",
    )
    if args.verify and not verify_shards(spark, args.output)["ok"]:
        return 1


def _run_compact(spark, args):
    from ratatool_spark.sources.io import compact_files

    compact_files(spark, args.input, args.output, fmt=args.format,
                  mode="overwrite", **_kwargs(args))


def _run_semantic_dedup(spark, args):
    from pyspark.sql import functions as F

    from ratatool_spark.operators.dedup import semantic_dedup

    df = _read_input(spark, args)
    out = semantic_dedup(df, **_kwargs(args))
    if args.keptOnly:
        out = df.join(
            out.where(F.col("kept")).select(args.idField),
            args.idField,
            "left_semi",
        )
    _write(out, args.output)


def _run_nb_classify(spark, args):
    from ratatool_spark.operators.corpus import nb_classify, train_nb_class_weights
    from ratatool_spark.sources.io import read_table

    common = dict(text_col=args.textField, n=args.n, seed=args.seed)
    w, pri = train_nb_class_weights(
        read_table(spark, args.train, fmt=args.format),
        args.labelField,
        n_buckets=args.nBuckets,
        smoothing=args.smoothing,
        **common,
    )
    out = nb_classify(_read_input(spark, args), w, pri, args.nBuckets,
                      id_col=args.idField, **common)
    _write(out, args.output)


def _run_quality_classify(spark, args):
    from ratatool_spark.operators.corpus import (
        build_hashed_ngram_freqs,
        quality_classifier_score,
        train_quality_weights,
    )
    from ratatool_spark.sources.io import read_table

    ngrams = dict(text_col=args.textField, n=args.n, n_buckets=args.nBuckets,
                  seed=args.seed)
    pos, neg = (
        build_hashed_ngram_freqs(read_table(spark, p, fmt=args.format), **ngrams)
        for p in (args.posInput, args.negInput)
    )
    w = train_quality_weights(pos, neg, n_buckets=args.nBuckets)
    out = quality_classifier_score(_read_input(spark, args), w,
                                   id_col=args.idField, bias=args.bias, **ngrams)
    _write(out, args.output)


def _run_k_anonymity(spark, args):
    from ratatool_spark.operators.profile import k_anonymity, k_anonymity_summary

    fn = k_anonymity_summary if args.summary else k_anonymity
    _write(fn(_read_input(spark, args), **_kwargs(args)), args.output)


def _run_bm25_search(spark, args):
    from ratatool_spark.operators.retrieval import (
        bm25_topk,
        bm25_topk_index,
        save_bm25_index,
    )
    from ratatool_spark.sources.io import read_table

    q = read_table(spark, args.queries, fmt=args.format)
    scoring = dict(k=args.k, k1=args.k1, b=args.b, max_df=args.maxDf)
    if args.index and not args.corpus:
        out = bm25_topk_index(spark, args.index, q, **scoring)
    else:
        if not args.corpus:
            raise SystemExit("bm25Search needs --corpus or --index")
        docs = read_table(spark, args.corpus, fmt=args.format)
        analyzer = dict(id_col=args.idField, text_col=args.textField)
        if args.saveIndex:
            save_bm25_index(docs, args.saveIndex, **analyzer)
            out = bm25_topk_index(spark, args.saveIndex, q, **scoring)
        else:
            out = bm25_topk(docs, q, **scoring, **analyzer)
    _write(out, args.output)


def _run_rrf_fuse(spark, args):
    from ratatool_spark.operators.retrieval import rrf_fuse
    from ratatool_spark.sources.io import read_table

    rankings = [read_table(spark, p, fmt=args.format) for p in args.inputs]
    _write(rrf_fuse(rankings, **_kwargs(args)), args.output)


def _run_c4_filter(spark, args):
    from ratatool_spark.operators.corpus import c4_page_filter

    out = c4_page_filter(_read_input(spark, args), **_kwargs(args))
    if args.keepOnly:
        out = out.where("keep")
    _write(out, args.output)


def _run_url_normalize(spark, args):
    from pyspark.sql import functions as F

    from ratatool_spark.functions.urls import (
        normalize_url,
        registered_domain,
        url_host,
    )

    df = _read_input(spark, args)
    u = F.col(args.urlField)
    out = df.withColumns(
        {
            "url_norm": normalize_url(u),
            "host": url_host(u),
            "domain": registered_domain(url_host(u)),
        }
    )
    _write(out, args.output)


def _run_sketch_join_size(spark, args):
    from ratatool_spark.operators.freq import sketch_join_size

    sa = spark.read.parquet(args.sketchA)
    sb = spark.read.parquet(args.sketchB)
    _write(sketch_join_size(sa, sb), args.output)


def _run_update_ivf_index(spark, args):
    from ratatool_spark.operators.similarity import update_ivf_index

    print(json.dumps(update_ivf_index(spark, args.index, _read_input(spark, args))))


def _run_zorder_write(spark, args):
    from ratatool_spark.operators.layout import hilbert_repartition, zorder_repartition

    rep = hilbert_repartition if args.curve == "hilbert" else zorder_repartition
    _write(rep(_read_input(spark, args), **_kwargs(args)), args.output)


def _run_rendezvous_shard(spark, args):
    from pyspark.sql import functions as F

    from ratatool_spark.operators.layout import rendezvous_shard

    df = _read_input(spark, args)
    out = df.withColumn(
        "shard", rendezvous_shard(F.col(args.keyField), args.shards, args.seed)
    )
    _write(out, args.output)


def _run_linkage(spark, args):
    from ratatool_spark.operators.fuzzy import fellegi_sunter_em, fellegi_sunter_links
    from ratatool_spark.sources.io import read_table
    from ratatool_spark.sources.shards import _read_text, _write_text

    score = args.mode == "score"
    if not score:
        pairs = [_split("--compare", s, *_COLUMN_PAIRS) for s in args.compare]
    elif not args.model:
        compares = [_split("--compare", s, *_SCORED_PAIRS) for s in args.compare]
    blocked = (
        read_table(spark, args.leftInput, fmt=args.format),
        read_table(spark, args.rightInput, fmt=args.format),
        args.leftId,
        args.rightId,
        args.blockField,
    )
    if score and args.model:
        meta = json.loads(_read_text(spark, args.model))
        compares = [(f["left"], f["right"], f["m"], f["u"]) for f in meta["fields"]]
    elif not score:
        model = fellegi_sunter_em(*blocked, pairs, n_iters=args.iters,
                                  max_block_size=args.maxBlockSize)
        fields = list(zip(pairs, model["fields"]))
        if args.mode == "train":
            _write_text(spark, args.output, json.dumps({
                "lam": model["lam"],
                "fields": [{"left": lc, "right": rc, "m": m, "u": u}
                           for (lc, rc), (m, u) in fields],
            }))
            return
        compares = [(lc, rc, m, u) for (lc, rc), (m, u) in fields]
    out = fellegi_sunter_links(*blocked, compares, threshold=args.threshold,
                               max_block_size=args.maxBlockSize)
    _write(out, args.output)


def _run_zorder_audit(spark, args):
    from ratatool_spark.operators.layout import row_group_skip_audit, row_group_stats

    box = dict(args.box)
    stats = row_group_stats(args.input, list(box))
    n_groups, n_scanned = row_group_skip_audit(stats, box)
    print(json.dumps({
        "n_row_groups": n_groups,
        "n_scanned": n_scanned,
        "n_pruned": n_groups - n_scanned,
    }))


def _run_scd2(spark, args):
    from ratatool_spark.operators.scd2 import scd2_apply, scd2_history
    from ratatool_spark.sources.io import read_table

    changes = _read_input(spark, args)
    if args.mode == "history":
        out = scd2_history(changes, **_kwargs(args))
    else:
        hist = read_table(spark, args.history, fmt=args.format)
        out = scd2_apply(hist, changes, **_kwargs(args))
    _write(out, args.output)


def _run_logreg(spark, args):
    from ratatool_spark.operators.linear import lr_score, train_lr_fixed_point
    from ratatool_spark.sources.shards import _read_text, _write_text

    df = _read_input(spark, args)
    if args.mode == "train":
        scales = args.scales or None
        w = train_lr_fixed_point(
            df, args.features, args.label, scales=scales,
            lr=args.lr, n_iters=args.iters,
        )
        _write_text(spark, args.model, json.dumps({
            "version": 1, "features": args.features,
            "scales": scales or [1.0] * len(args.features),
            "weights": w,
        }))
        print(json.dumps({"weights": w}))
    else:
        meta = json.loads(_read_text(spark, args.model))
        _write(lr_score(df, meta["features"], meta["scales"], meta["weights"]),
               args.output)


def _run_snapshot(spark, args):
    from ratatool_spark.operators import snapshots as snap
    from ratatool_spark.sources.io import write_table

    t, branch, mode = args.table, args.branch, args.mode

    def on_ref(main_fn, branch_fn, *a, **kw):
        # with --branch the write lands on the branch head instead of main
        if branch:
            return branch_fn(spark, t, branch, *a, **kw)
        return main_fn(spark, t, *a, **kw)

    def at_snapshot():
        if args.tagName is not None and args.snapshotId is None:
            return snap.read_tag(t, args.tagName)
        return args.snapshotId

    def removed(dead):
        return {"n_removed": len(dead), "removed": dead}

    where = dict(args.where or ()) or None
    res = None  # printed as one JSON line
    if mode == "append":
        df = _read_input(spark, args)
        sid = snap.commit_append(df, t, partition_spec=args.partitionBy or None)
        res = {"snapshot_id": sid}
    elif mode == "rename-column":
        res = {"snapshot_id": snap.rename_column(t, args.column, args.to)}
    elif mode == "widen-column":
        res = {"snapshot_id": snap.widen_column_type(t, args.column, args.to)}
    elif mode == "evolve-spec":
        res = {"snapshot_id": snap.evolve_partition_spec(t, args.spec)}
    elif mode == "create-branch":
        base = snap.create_branch(t, branch, snapshot_id=args.snapshotId)
        res = {"branch": branch, "base": base}
    elif mode == "append-branch":
        k = snap.commit_append_branch(_read_input(spark, args), t, branch)
        res = {"branch": branch, "branch_snapshot_id": k}
    elif mode in ("read-branch-snapshot", "metadata"):
        if mode == "metadata":
            out = snap.metadata_table(spark, t, args.metadataKind,
                                      snapshot_id=args.snapshotId, branch=branch)
        else:
            out = snap.read_branch_snapshot(spark, t, branch,
                                            snapshot_id=args.snapshotId)
        if args.output:
            write_table(out, args.output, fmt=args.format)
            res = {"rows": out.count(), "output": args.output}
        else:
            for r in out.collect():
                print(json.dumps(r.asDict(), default=str))
    elif mode == "fast-forward":
        sid = snap.fast_forward_branch(t, branch, spark=spark)
        res = {"branch": branch, "snapshot_id": sid}
    elif mode == "delete-branch":
        res = {"branch": branch, "existed": snap.delete_branch(t, branch)}
    elif mode == "branches":
        res = snap.table_branches(t)
    elif mode == "tag":
        sid = snap.create_tag(t, args.tagName, snapshot_id=args.snapshotId)
        res = {"tag": args.tagName, "snapshot_id": sid}
    elif mode == "untag":
        res = {"tag": args.tagName, "existed": snap.delete_tag(t, args.tagName)}
    elif mode == "tags":
        res = snap.table_tags(t)
    elif mode == "count":
        sid = at_snapshot()
        n = snap.snapshot_rowcount(t, sid)
        res = {"rows": n, "snapshot_id": sid or snap.current_snapshot_id(t)}
    elif mode == "agg":
        out, md = snap.scan_aggregate(
            spark,
            t,
            minmax_cols=tuple(args.minmaxCols or ()),
            snapshot_id=args.snapshotId,
            where=dict(args.whereEq) if args.whereEq else None,
        )
        res = out.collect()[0].asDict()
        res["from_metadata"] = md
    elif mode == "set-bloom":
        import os

        os.makedirs(t, exist_ok=True)
        snap.set_bloom_filter(t, args.bloomCols, bits_per_key=args.bitsPerKey)
        res = snap.table_properties(t)
    elif mode == "stage":
        parent = snap.stage_append(_read_input(spark, args), t, branch)
        res = {"staged_on": parent, "branch": branch}
    elif mode == "read-branch":
        _write(snap.read_branch(spark, t, branch), args.output)
    elif mode == "publish":
        res = {"snapshot_id": snap.publish_branch(spark, t, branch)}
    elif mode == "discard":
        res = {"discarded": snap.discard_branch(t, branch)}
    elif mode == "add-constraint":
        snap.add_constraint(spark, t, args.name, args.expr)
        res = {"added": args.name}
    elif mode == "drop-constraint":
        res = {"dropped": snap.drop_constraint(t, args.name)}
    elif mode == "delete-rows":
        res = {"snapshot_id": snap.delete_snapshot_rows_mor(spark, t, args.predicate)}
    elif mode == "drop-partition":
        res = {"snapshot_id": snap.drop_partition(spark, t, dict(args.partition))}
    elif mode == "read":
        _write(snap.read_snapshot(spark, t, at_snapshot(), where=where), args.output)
    elif mode in ("merge", "merge-mor"):
        df = _read_input(spark, args)
        if mode == "merge":
            sid = on_ref(snap.merge_snapshot, snap.merge_branch, df, args.keys)
        else:
            sid = on_ref(snap.merge_snapshot_mor, snap.merge_branch_mor, df, args.keys)
        res = {"snapshot_id": sid}
    elif mode == "fold":
        sid = on_ref(snap.fold_deletes, snap.fold_branch_deletes)
        res = {"snapshot_id": sid, "folded": sid is not None}
    elif mode == "changes":
        out = snap.snapshot_change_feed(spark, t, args.fromId, args.snapshotId)
        _write(out, args.output)
    elif mode == "mirror":
        from ratatool_spark.streaming.snapshots import stream_snapshot_mirror

        q = stream_snapshot_mirror(spark, args.source, t, args.checkpoint)
        q.awaitTermination()
        res = {"snapshot_id": snap.current_snapshot_id(t)}
    elif mode == "delete":
        res = {"snapshot_id": on_ref(snap.delete_snapshot_where,
                                     snap.delete_branch_where, where)}
    elif mode == "delete-mor":
        res = {"snapshot_id": on_ref(snap.delete_snapshot_where_mor,
                                     snap.delete_branch_where_mor, where)}
    elif mode == "cluster":
        res = {"snapshot_id": on_ref(snap.cluster_snapshot, snap.cluster_branch,
                                     args.zorderBy, curve=args.curve)}
    elif mode == "compact":
        sid = on_ref(snap.compact_snapshot, snap.compact_branch, args.targetBytes)
        res = {"snapshot_id": sid, "compacted": sid is not None}
    elif mode == "rollback":
        res = {"snapshot_id": snap.rollback_snapshot(t, args.snapshotId)}
    elif mode == "expire":
        res = removed(snap.expire_snapshots(t, keep_last=args.keepLast,
                                            delete=not args.dryRun))
    elif mode == "vacuum":
        res = removed(snap.vacuum_orphans(t, delete=not args.dryRun,
                                          older_than=args.olderThan))
    else:
        out = snap.snapshot_log(spark, t)
        if args.output:
            _write(out, args.output)
        else:
            for r in out.orderBy("snapshot_id").collect():
                print(json.dumps(r.asDict()))
    if res is not None:
        print(json.dumps(res))


def _run_decontaminate(spark, args):
    from pyspark.sql import functions as F

    from ratatool_spark.operators.dedup import minhash_lsh_cross_pairs
    from ratatool_spark.sources.io import read_table

    df = _read_input(spark, args)
    bench = read_table(spark, args.benchmark, fmt=args.format)
    flagged = (
        minhash_lsh_cross_pairs(df, bench, **_kwargs(args))
        .select(F.col("left_id").alias(args.idField))
        .distinct()
    )
    _write(df.join(flagged, args.idField, "left_anti"), args.output)


# ---------------------------------------------------------------- commands

_cmd(
    "bigSampler", "distributed sampling", _run_big_sampler,
    _input(),
    _output(),
    flag(
        "--fraction",
        "--sample",  # the reference's flag name (BigSampler usage: --sample=<pct>)
        dest="fraction",
        type=float,
        required=True,
        kw="fraction",
    ),
    flag("--fields", type=_csv, default=None, help="deterministic hash fields",
         kw="fields"),
    flag("--distribution", choices=["stratified", "uniform"], default=None),
    flag("--distributionFields", type=_csv, default=None),
    flag("--exact", action="store_true", kw="exact"),
    flag("--seed", type=int, default=42, kw="seed"),
    flag(
        "--hashAlgorithm",
        choices=["portable", "xx", "farm", "murmur"],
        default="portable",
        help="dice hash backend (Util.scala:85-103 farm|murmur parity; "
        "portable = md5 cross-engine default, xx = fastest Spark-native)",
        kw="hasher",
    ),
    flag(
        "--byteEncoding",
        choices=["hex", "base64"],
        default="hex",
        help="bytes-field pre-hash encoding (ByteHasher.scala parity; "
        "raw is documented-rejected — see functions/hashing.py)",
        kw="byte_encoding",
    ),
    flag(
        "--rowRestriction",
        default=None,
        help="SQL predicate applied at the scan (the reference's BigQuery "
        "row restriction, pushed into the parquet read here)",
    ),
    FORMAT,
)
_cmd(
    "bigDiffy", "pairwise keyed dataset diff", _run_big_diffy,
    flag("--lhs", required=True),
    flag("--rhs", required=True),
    flag("--key", type=_csv, required=True),
    _output(),
    flag("--ignore", type=_csv, default=[]),
    flag("--unordered", type=_csv, default=[]),
    flag(
        "--unorderedFieldKey",
        type=_csv,
        default=[],
        help="path:key pairs for keyed unordered nested-record arrays "
        "(BigDiffy --unorderedFieldKey=fieldPath:fieldKey,...)",
        split=("non-empty path:key pairs", r"([^:]+):(.+)"),
    ),
    flag("--rowRestriction", default=None,
         help="SQL predicate applied to BOTH sides at the scan"),
    flag("--ignoreNan", action="store_true"),
)
_cmd(
    "directSampler", "local head/random sample", _run_direct_sampler,
    _input(),
    _output(),
    flag("-n", type=int, required=True),
    flag("--head", action="store_true"),
    flag("--seed", type=int, default=42),
)
_cmd(
    "nearDedup",
    "near-duplicate removal: minhash-LSH -> jaccard verify -> "
    "connected components -> keep min-id doc per cluster",
    "operators.dedup:near_dedup",
    _input(),
    _output(),
    TEXT,
    ID,
    flag("--threshold", type=float, default=0.7, help="jaccard keep-threshold",
         kw="threshold"),
    flag("--numHashes", type=int, default=16, kw="num_hashes"),
    flag("--bands", type=int, default=4, kw="bands"),
    flag("--shingleN", type=int, default=3, kw="shingle_n"),
    flag("--hasher", choices=["portable", "xx"], default="portable",
         help="xx = Spark-native fast path (not cross-engine reproducible)",
         kw="hasher"),
    FORMAT,
    flag("--scoreField", default=None,
         help="quality column: each duplicate cluster keeps its max-score doc "
         "(ties -> min id) instead of the min-id doc",
         kw="score_col"),
)
_cmd(
    "substringDedup",
    "substring-containment pairs: docs whose token sequence occurs "
    "verbatim inside another doc (anchored inverted index + verify)",
    "operators.dedup:substring_containment_pairs",
    _input(),
    _output(),
    TEXT,
    ID,
    flag("--shingleLen", type=int, default=8, kw="shingle_len"),
    flag("--maxDocFreq", type=int, default=None,
         help="skip docs whose rarest anchor shingle is hotter than this "
         "(recall envelope; bounds candidate fan-out)",
         kw="max_doc_freq"),
    FORMAT,
)
_cmd(
    "generate", "schema-driven random records", _run_generate,
    flag("--schema", required=True, help="DDL string, e.g. 'a bigint, b string'"),
    flag("-n", type=int, required=True),
    _output(),
    flag("--seed", type=int, default=42),
)
_cmd(
    "packSequences",
    "assign docs to fixed-token-budget training bins "
    "(concat-and-chunk; grouped windows, parallel by group)",
    "operators.packing:pack_sequences",
    _input(),
    _output(),
    flag("--tokenField", required=True, kw="token_col"),
    flag("--budget", type=int, required=True, kw="budget"),
    flag("--orderBy", type=_csv, required=True, kw="order_cols"),
    flag("--groupBy", type=_csv, default=None, kw="group_cols"),
    flag("--offsetField", default=None, kw="offset_col"),
    FORMAT,
)
_cmd(
    "dedupLines",
    "C4/Gopher line dedup: drop lines repeated past a threshold "
    "(corpus-wide boilerplate or intra-document junk), reassemble docs",
    "operators.corpus:remove_duplicate_lines",
    _input(),
    _output(),
    TEXT,
    ID,
    flag("--maxOccurrences", type=int, default=1, kw="max_occurrences"),
    flag("--minLineChars", type=int, default=2, kw="min_line_chars"),
    flag("--scope", choices=["corpus", "document"], default="corpus", kw="scope"),
    FORMAT,
)
_cmd(
    "upsert",
    "keyed upsert into a stored table (replace same-key rows, "
    "append new keys, optional delete flag; tmp-write + rename swap)",
    _run_upsert,
    flag("--base", required=True, help="table path to merge into"),
    flag("--updates", required=True),
    flag("--keys", type=_csv, required=True),
    flag("--deleteField", default=None),
    flag("--format", default="parquet"),
    flag("--updatesFormat", default=None, help="override sniffing"),
)
_cmd(
    "bpeLearn",
    "train BPE merges over a corpus; writes an ordered JSON merge "
    "list (tokenizer-training inner loop, distributed)",
    _run_bpe_learn,
    _input(),
    _output("merges JSON path (any Hadoop scheme)"),
    TEXT,
    flag("--nMerges", type=int, default=100, kw="n_merges"),
    flag("--batch", type=int, default=1,
         help="merges admitted per round (pairwise symbol-disjoint); "
         ">1 = batched selection, O(n/yield) jobs instead of one per merge",
         kw="batch"),
    flag("--pool", type=int, default=128, help="candidate pool per round",
         kw="pool"),
    flag("--rounds", type=int, default=None,
         help="explicit round schedule (default ceil(nMerges/batch))",
         kw="rounds"),
    FORMAT,
)
_cmd(
    "bpeEncode",
    "segment a corpus with a learned merge list (adds bpe_syms + "
    "n_bpe_tokens; Arrow-batched kernel past 16 merges)",
    _run_bpe_encode,
    _input(),
    _output(),
    flag("--merges", required=True, help="merges JSON from bpeLearn"),
    TEXT,
    FORMAT,
)
_cmd(
    "unigramTrain",
    "train a unigram-LM tokenizer (SentencePiece model: seed "
    "substrings -> EM over word lattices -> pruned vocab); writes a "
    "(piece, p, logp) parquet artifact",
    "operators.unigram:unigram_train",
    _input(),
    _output("vocab parquet path"),
    TEXT,
    flag("--vocabSize", type=int, default=512, kw="vocab_size"),
    flag("--maxPieceLen", type=int, default=4, kw="max_piece_len"),
    flag("--emRounds", type=int, default=2, kw="em_rounds"),
    flag("--minSeedCount", type=int, default=2, kw="min_seed_count"),
    flag("--maxWordLen", type=int, default=16, kw="max_word_len"),
    FORMAT,
)
_cmd(
    "unigramSegment",
    "apply a trained unigram tokenizer to a corpus (per-doc "
    "token/piece/OOV counts; Viterbi computed once per distinct word)",
    _run_unigram_segment,
    _input(),
    _output(),
    flag("--vocab", required=True, help="vocab parquet from unigramTrain"),
    TEXT,
    ID,
    flag("--maxWordLen", type=int, default=16, kw="max_word_len"),
    FORMAT,
)
_cmd(
    "wordpieceTrain",
    "train a WordPiece tokenizer (BERT model: likelihood-scored "
    "merges over ##-marked symbols, batched disjoint selection); "
    "writes a JSON artifact (merges + inference vocab)",
    _run_wordpiece_train,
    _input(),
    _output("tokenizer JSON path"),
    TEXT,
    flag("--nMerges", type=int, default=64, kw="n_merges"),
    flag("--batch", type=int, default=16, kw="batch"),
    flag("--pool", type=int, default=64, kw="pool"),
    flag("--rounds", type=int, default=None, kw="rounds"),
    FORMAT,
)
_cmd(
    "wordpieceSegment",
    "apply a trained WordPiece tokenizer to a corpus — "
    "--mode replay (training-order merge replay) or match (BERT "
    "greedy longest-match against the frozen vocab, [UNK] fallback)",
    _run_wordpiece_segment,
    _input(),
    _output(),
    flag("--tokenizer", required=True, help="JSON artifact from wordpieceTrain"),
    flag("--mode", choices=["replay", "match"], default="replay"),
    TEXT,
    flag("--unk", default="[UNK]"),
    FORMAT,
)
_cmd(
    "tfidfDedup",
    "sparse TF-IDF cosine near-dup pairs (inverted-index term "
    "join; idf auto-drops corpus-wide boilerplate)",
    "operators.dedup:tfidf_cosine_pairs",
    _input(),
    _output(),
    TEXT,
    ID,
    flag("--threshold", type=float, default=0.5, kw="threshold"),
    flag("--maxDocFreq", type=int, default=1000, kw="max_doc_freq"),
    FORMAT,
)
_cmd(
    "quantileSketch",
    "mergeable deterministic bottom-k (KMV) quantile sketch "
    "tables: build per-batch, merge losslessly, estimate any quantile",
    _run_quantile_sketch,
    flag("--mode", choices=["build", "merge", "estimate"], required=True),
    flag("--input", help="input table (build/estimate)"),
    flag("--inputs", type=_csv, help="sketch tables to merge"),
    _output(),
    flag("--groupBy", type=_csv, default=["__all__"], help="group columns (build)"),
    flag("--valueField", default="value"),
    flag("--keyFields", type=_csv, default=None,
         help="unique row key columns (build)"),
    flag("--k", type=int, default=1024),
    flag("--quantiles", type=_csv, default=["0.5", "0.9", "0.99"],
         help="estimate mode", split=_NUMBERS),
    FORMAT,
    requires={"build": ("input", "keyFields"), "merge": ("inputs",),
              "estimate": ("input",)},
)
_cmd(
    "dsirSelect",
    "DSIR importance resampling: weight docs by target-vs-raw "
    "unigram log-ratio, select top-n by deterministic Gumbel-top-k",
    "operators.corpus:dsir_select",
    _input(),
    flag("--targetFreqs", required=True,
         help="build_token_freqs parquet of the target corpus", table="parquet"),
    flag("--rawFreqs", required=True,
         help="build_token_freqs parquet of the raw pool", table="parquet"),
    _output(),
    flag("--n", type=int, required=True, kw="n_select"),
    TEXT,
    ID,
    flag("--smoothing", type=float, default=0.5, kw="smoothing"),
    flag("--seed", type=int, default=0, kw="seed"),
    FORMAT,
)
_cmd(
    "fuzzyJoin",
    "blocked fuzzy join (entity resolution): equality blocking "
    "key + Levenshtein/token-Jaccard verify, optional best link per "
    "left id",
    "operators.fuzzy:fuzzy_join",
    flag("--leftInput", required=True, table=True),
    flag("--rightInput", required=True, table=True),
    _output(),
    flag("--leftId", required=True, kw="left_id"),
    flag("--rightId", required=True, kw="right_id"),
    flag("--blockField", type=_csv, required=True,
         help="one or more blocking keys (comma-separated: multi-pass "
         "recall net, candidates unioned and deduped); must exist on "
         "both sides",
         kw="block_col"),
    flag("--compare", type=_csv, required=True,
         help="column pairs left:right (e.g. name:name,addr:address)",
         kw="compare_cols", split=_COLUMN_PAIRS),
    flag("--method", choices=["lev_ratio", "token_jaccard"], default="lev_ratio",
         kw="method"),
    flag("--threshold", type=float, default=0.85, kw="threshold"),
    flag("--keepBest", action="store_true", kw="keep_best"),
    flag("--maxBlockSize", type=int, default=1000, kw="max_block_size"),
    FORMAT,
)
_cmd(
    "freqSketch",
    "mergeable count-min frequency sketch tables: build "
    "per-batch, merge (exact counter sum), estimate key counts",
    _run_freq_sketch,
    flag("--mode", choices=["build", "merge", "estimate"], required=True),
    flag("--input", help="input table (build/estimate)"),
    flag("--inputs", type=_csv, help="sketch tables to merge"),
    _output(),
    flag("--groupBy", type=_csv, default=["__all__"], help="group columns (build)"),
    flag("--keyField", default="key", help="counted key column"),
    flag("--depth", type=int, default=4),
    flag("--width", type=int, default=1024),
    flag("--seed", type=int, default=0),
    flag("--keys", type=_csv, default=None, help="probe keys (estimate mode)"),
    FORMAT,
    requires={"build": ("input",), "merge": ("inputs",),
              "estimate": ("input", "keys")},
)
_cmd(
    "heavyHitters",
    "exact top-k most frequent keys per group (two-stage "
    "aggregate + window group limit; deterministic tie-break)",
    "operators.freq:heavy_hitters",
    _input(),
    _output(),
    flag("--groupBy", type=_csv, default=[], help="group columns", kw="group_cols"),
    flag("--keyField", required=True, kw="key_col"),
    flag("--k", type=int, default=10, kw="k"),
    FORMAT,
)
_cmd(
    "skewReport",
    "per-column hot-value report (share + skew-vs-uniform "
    "ratio): the pre-salting join-key diagnostic, one scan",
    "operators.freq:skew_report",
    _input(),
    _output(),
    flag("--columns", type=_csv, required=True, kw="cols"),
    flag("--topK", type=int, default=5, kw="top_k"),
    FORMAT,
)
_cmd(
    "capPerGroup",
    "deterministic 'at most N rows per group' cap (C4 per-domain "
    "rule): keeps each group's smallest-hash rows",
    "operators.corpus:cap_per_group",
    _input(),
    _output(),
    flag("--groupField", default="source", kw="group_col"),
    flag("--maxRows", type=int, default=100, kw="max_rows"),
    flag("--diceFields", type=_csv, default=["doc_id"], kw="dice_cols"),
    flag("--seed", type=int, default=0, kw="seed"),
    FORMAT,
)
_cmd(
    "profilePii",
    "column-level PII scan: per-column email/IP/phone/SSN/card "
    "match counts (+ Luhn-verified cards), one pass, optional "
    "deterministic sample",
    "operators.profile:profile_pii",
    _input(),
    _output(),
    flag("--columns", type=_csv, default=None, help="default: all string columns",
         kw="columns"),
    flag("--sampleFraction", type=float, default=None, kw="sample_fraction"),
    flag("--seed", type=int, default=0, kw="seed"),
    FORMAT,
)
_cmd(
    "mixtureSample",
    "resample toward a target per-source mixture "
    "(deterministic portable dice; broadcast rates, no driver collect)",
    "operators.corpus:mixture_sample",
    _input(),
    _output(),
    flag("--shares", required=True,
         help="comma list source=share, e.g. web=0.6,books=0.3,code=0.1",
         kw="target_shares", conv=dict,
         split=("source=share pairs", r"([^=]+)=(.+)",
                lambda k, v: (k, float(v)))),
    flag("--sourceField", default="source", kw="source_col"),
    flag("--diceFields", type=_csv, default=["doc_id"], kw="dice_cols"),
    flag("--seed", type=int, default=0, kw="seed"),
    FORMAT,
)
_cmd(
    "contamination",
    "n-gram-overlap train/test leakage check against a benchmark set",
    "operators.corpus:contamination",
    _input(),
    flag("--benchmark", required=True, table=True),
    _output(),
    TEXT,
    ID,
    flag("--shingleN", type=int, default=3, kw="n"),
    FORMAT,
)
_cmd(
    "dedupAgainst",
    "incremental near-dedup: drop new-batch docs that "
    "near-duplicate an existing corpus (banded LSH + verified Jaccard)",
    _run_dedup_against,
    _input("the new batch"),
    flag("--corpus", required=True, help="the existing corpus"),
    _output("kept (non-duplicate) rows"),
    TEXT,
    ID,
    flag("--threshold", type=float, default=0.7, kw="threshold"),
    flag("--numHashes", type=int, default=16, kw="num_hashes"),
    flag("--bands", type=int, default=8, kw="bands"),
    flag("--shingleN", type=int, default=3, kw="shingle_n"),
    flag("--hasher", choices=["portable", "xx"], default="portable", kw="hasher"),
    flag("--corpusSigs", default=None,
         help="path of a saveSignatures table: skips the per-batch corpus "
         "shingle/signature pass (parameters validated from the sidecar)"),
    FORMAT,
)
_cmd(
    "exactDedupAgainst",
    "exact incremental dedup: keep new-batch rows whose key "
    "columns have no exact match in the corpus (Bloom-routed — the "
    "corpus is scanned, never shuffled)",
    "operators.dedup:exact_filter_against",
    _input("the new batch"),
    flag("--corpus", required=True, help="the existing corpus", table=True),
    _output(),
    flag("--keyFields", type=_csv, required=True, kw="cols"),
    flag("--fpp", type=float, default=0.01, help="Bloom false-positive rate",
         kw="fpp"),
    flag("--noBloom", action="store_true",
         help="plain anti-join (new batch comparable to corpus size)",
         kw="use_bloom", conv=operator.not_),
    FORMAT,
)
_cmd(
    "saveSignatures",
    "persist a corpus minhash signature table (+ parameter "
    "sidecar) for corpus-size-independent incremental dedup",
    _run_save_signatures,
    _input(),
    _output(),
    TEXT,
    ID,
    flag("--numHashes", type=int, default=16, kw="num_hashes"),
    flag("--shingleN", type=int, default=3, kw="shingle_n"),
    flag("--hasher", choices=["portable", "xx"], default="portable", kw="hasher"),
    FORMAT,
)
_cmd(
    "profile",
    "single-pass per-column profile (completeness/cardinality/range)",
    "operators.profile:profile_table",
    _input(),
    _output(),
    flag("--columns", type=_csv, default=None, kw="cols"),
    flag("--exactDistinct", action="store_true", kw="exact_distinct"),
    FORMAT,
)
_cmd(
    "runChecks",
    "declarative data-quality gate from a JSON check-suite file; "
    "exit 1 if any check fails",
    _run_checks,
    _input(),
    flag("--checks", required=True,
         help="JSON file: list of check dicts (see operators/checks.py)"),
    _output(),
    FORMAT,
)
_cmd(
    "writeShards",
    "write deterministic training shards + integrity manifest "
    "(portable-hash assignment, shard=N layout, per-shard checksums)",
    _run_write_shards,
    _input(),
    _output(),
    flag("--numShards", type=int, required=True),
    flag("--keyFields", type=_csv, required=True),
    flag("--verify", action="store_true",
         help="re-read and verify against the manifest after writing"),
    FORMAT,
)
_cmd(
    "compact",
    "small-files compaction: rewrite a table into size-targeted, "
    "optionally sort-clustered files (min/max pruning locality)",
    _run_compact,
    _input(),
    _output(),
    flag("--sortBy", type=_csv, default=None, kw="sort_cols"),
    flag("--zorderBy", type=_csv, default=None, kw="zorder_cols"),
    flag("--targetFileMb", type=float, default=128, kw="target_file_mb"),
    FORMAT,
)
_cmd(
    "dedupSpans",
    "exact duplicated-span removal (Lee et al. substring dedup): "
    "drop every word span of >= L tokens repeated past a threshold, "
    "reassemble docs from surviving tokens",
    "operators.corpus:remove_duplicate_spans",
    _input(),
    _output(),
    TEXT,
    ID,
    flag("--spanTokens", type=int, default=50, kw="span_tokens"),
    flag("--maxOccurrences", type=int, default=1, kw="max_occurrences"),
    flag("--scope", choices=["corpus", "document"], default="corpus", kw="scope"),
    FORMAT,
)
_cmd(
    "semanticDedup",
    "SemDeDup: cluster embeddings, drop within-cell near-dups "
    "(cosine >= tau), keeping the duplicate farthest from its centroid",
    _run_semantic_dedup,
    _input(),
    _output(),
    flag("--tau", type=float, required=True, kw="tau"),
    flag("--idField", default="vec_id", kw="id_col"),
    flag("--vecField", default="embedding", kw="vec_col"),
    flag("--nCentroids", type=int, default=8, kw="n_centroids"),
    flag("--trainIters", type=int, default=0, kw="train_iters"),
    flag("--seed", type=int, default=13, kw="seed"),
    flag("--keptOnly", action="store_true",
         help="write only surviving rows instead of the full kept-flag report"),
    FORMAT,
)
_cmd(
    "nbClassify",
    "train a multi-class NB text classifier over hashed word "
    "n-grams from a labeled table, then classify an input table",
    _run_nb_classify,
    flag("--train", required=True, help="labeled training table"),
    flag("--labelField", required=True),
    _input("table to classify"),
    _output(),
    TEXT,
    ID,
    flag("--n", type=int, default=1, help="word n-gram order"),
    flag("--nBuckets", type=int, default=10000),
    flag("--smoothing", type=float, default=0.5),
    flag("--seed", type=int, default=0),
    FORMAT,
)
_cmd(
    "qualityClassify",
    "train an NBSVM-style quality classifier (positive corpus vs "
    "negative/raw pool) over hashed n-grams, score every input doc "
    "with mean log-odds + sigmoid",
    _run_quality_classify,
    flag("--posInput", required=True, help="trusted/positive corpus"),
    flag("--negInput", required=True, help="negative / raw pool"),
    _input("docs to score"),
    _output(),
    TEXT,
    ID,
    flag("--n", type=int, default=2, help="word n-gram order"),
    flag("--nBuckets", type=int, default=10000),
    flag("--bias", type=float, default=0.0),
    flag("--seed", type=int, default=0),
    FORMAT,
)
_cmd(
    "imageDedup",
    "perceptual image near-dup pairs: dHash over the real "
    "decoders + Manku Hamming-blocked self-join",
    "operators.multimodal:image_near_dup_pairs",
    _input("media table (media_id, content)"),
    _output(),
    flag("--maxHamming", type=int, default=6, kw="max_hamming"),
    flag("--gridRows", type=int, default=10, kw="rows"),
    flag("--gridCols", type=int, default=6, kw="cols"),
    FORMAT,
)
_cmd(
    "chunkDocs",
    "split documents into fixed-token-count chunks with overlap "
    "(context-window construction; trailing partial kept)",
    "operators.corpus:chunk_documents",
    _input(),
    _output(),
    TEXT,
    ID,
    flag("--chunkSize", type=int, default=256, kw="chunk_size"),
    flag("--overlap", type=int, default=32, kw="overlap"),
    FORMAT,
)
_cmd(
    "vocabCoverage",
    "per-document OOV rate against a frozen vocab table "
    "(vocab side broadcast; column named by --tokenField)",
    "operators.corpus:vocab_coverage",
    _input(),
    flag("--vocab", required=True, help="vocab table path", table=True),
    _output(),
    TEXT,
    ID,
    flag("--tokenField", default="token", kw="token_col"),
    FORMAT,
)
_cmd(
    "kAnonymity",
    "k-anonymity audit over quasi-identifier columns: "
    "per-class sizes + at-risk flags, or the one-row summary",
    _run_k_anonymity,
    _input(),
    _output(),
    flag("--quasiFields", type=_csv, required=True, kw="quasi_cols"),
    flag("--k", type=int, default=10, kw="k"),
    flag("--summary", action="store_true",
         help="write the one-row verdict instead of per-class rows"),
    FORMAT,
)
_cmd(
    "bm25Search",
    "BM25 top-k lexical retrieval (fixed-point scores); "
    "optionally against / into a persisted parquet index",
    _run_bm25_search,
    flag("--corpus", help="document table (or use --index)"),
    flag("--queries", required=True, help="(query_id, qtext) table"),
    _output(),
    flag("--index", help="persisted index dir (see --saveIndex)"),
    flag("--saveIndex", help="build + persist the index here first"),
    flag("--k", type=int, default=10),
    flag("--k1", type=float, default=1.2),
    flag("--b", type=float, default=0.75),
    TEXT,
    ID,
    flag("--maxDf", type=int, default=None),
    FORMAT,
)
_cmd(
    "rrfFuse",
    "reciprocal-rank fusion of N per-query rankings "
    "(hybrid lexical + vector retrieval)",
    _run_rrf_fuse,
    flag("--inputs", type=_csv, required=True,
         help="comma-separated ranking tables (query_id, doc_id, rank)"),
    _output(),
    flag("--kRrf", type=int, default=60, kw="k_rrf"),
    flag("--topk", type=int, default=None, kw="topk"),
    FORMAT,
)
_cmd(
    "c4Filter",
    "C4 page/line cleaning (terminal-punct line filter, "
    "lorem-ipsum/brace/badword page flags)",
    _run_c4_filter,
    _input(),
    _output(),
    TEXT,
    ID,
    flag("--minWordsPerLine", type=int, default=5, kw="min_words_per_line"),
    flag("--minKeptLines", type=int, default=3, kw="min_kept_lines"),
    flag("--badwords", type=_csv, default=[], kw="badwords", conv=tuple),
    flag("--keepOnly", action="store_true",
         help="write only pages passing every rule"),
    FORMAT,
)
_cmd(
    "normalizeText",
    "unicode normalization (NFC/NFKC), control-char strip, "
    "whitespace squash — the pre-dedup canonicalization pass",
    "operators.corpus:normalize_text",
    _input(),
    _output(),
    TEXT,
    flag("--form", default="NFC", choices=["NFC", "NFD", "NFKC", "NFKD", "none"],
         kw="form", conv=lambda f: None if f == "none" else f),
    flag("--keepControls", action="store_true", kw="strip_controls",
         conv=operator.not_),
    flag("--keepWhitespace", action="store_true", kw="squash_whitespace",
         conv=operator.not_),
    flag("--lowercase", action="store_true", kw="lowercase"),
    FORMAT,
)
_cmd(
    "pageRank",
    "fixed-point PageRank over an edge list "
    "(link-graph quality prior; bit-reproducible)",
    "operators.graph:pagerank",
    _input("edge table"),
    _output(),
    flag("--srcField", default="src", kw="src"),
    flag("--dstField", default="dst", kw="dst"),
    flag("--iterations", type=int, default=10, kw="iterations"),
    flag("--dampingNum", type=int, default=85, kw="damping_num"),
    flag("--dampingDen", type=int, default=100, kw="damping_den"),
    FORMAT,
)
_cmd(
    "urlNormalize",
    "canonicalize a URL column (scheme/host case, default "
    "ports, tracking params, fragments) + host and eTLD+1 domain",
    _run_url_normalize,
    _input(),
    _output(),
    flag("--urlField", default="url"),
    FORMAT,
)
_cmd(
    "mutualInfo",
    "pairwise mutual information / entropies / normalized "
    "leakage score between column pairs",
    "operators.profile:mutual_information",
    _input(),
    flag("--pairs", type=_csv, required=True,
         help="colon-separated column pairs, comma-delimited: a:b,c:d",
         kw="pairs", split=("colon-separated pairs", r"([^:]+):(.+)")),
    _output(),
    FORMAT,
)
_cmd(
    "madOutliers",
    "robust per-group outlier flags via the MAD modified "
    "z-score (Iglewicz-Hoaglin)",
    "operators.profile:mad_outliers",
    _input(),
    _output(),
    flag("--valueField", required=True, kw="value_col"),
    flag("--groupBy", type=_csv, default=[], kw="group_cols", conv=_or_none),
    flag("--cutoff", type=float, default=3.5, kw="k"),
    flag("--exact", action="store_true",
         help="exact percentiles (default: mergeable approx sketches)",
         kw="approx", conv=operator.not_),
    FORMAT,
)
_cmd(
    "sketchJoinSize",
    "estimate equi-join output cardinality from two count-min "
    "sketch tables (no fact rescan)",
    _run_sketch_join_size,
    flag("--sketchA", required=True),
    flag("--sketchB", required=True),
    _output(),
)
_cmd(
    "driftReport",
    "PSI drift between two table snapshots "
    "(categorical top-k pooled bins, numeric equi-width bins)",
    "operators.profile:drift_report",
    flag("--lhs", required=True, table=True),
    flag("--rhs", required=True, table=True),
    _output(),
    flag("--categorical", type=_csv, default=[], kw="categorical", conv=_or_none),
    flag("--numeric", type=_csv, default=[], kw="numeric", conv=_or_none),
    flag("--buckets", type=int, default=10, kw="n_buckets"),
    flag("--topK", type=int, default=20, kw="top_k"),
    FORMAT,
)
_cmd(
    "updateIvfIndex",
    "append vectors to a persisted IVF ANN index against its "
    "frozen centroids (no retrain)",
    _run_update_ivf_index,
    flag("--index", required=True),
    _input("new vector table"),
    FORMAT,
)
_cmd(
    "neymanSampler",
    "exact-count stratified sample under Neyman (variance-"
    "optimal) allocation: n_h proportional to N_h*stddev(value)",
    "operators.sampler:sample_neyman",
    _input(),
    _output(),
    flag("--totalN", type=int, required=True, kw="total_n"),
    flag("--valueField", required=True, kw="value_col"),
    flag("--strata", type=_csv, required=True, kw="strata"),
    flag("--fields", type=_csv, required=True, help="dice fields", kw="fields"),
    flag("--seed", type=int, default=42, kw="seed"),
    FORMAT,
)
_cmd(
    "zorderWrite",
    "rewrite a table clustered by the z-order (Morton) key of "
    "the given columns so parquet min/max stats prune scans on every "
    "z-column",
    _run_zorder_write,
    _input(),
    _output(),
    flag("--by", type=_csv, required=True, help="z-order columns", kw="cols"),
    flag("--bits", type=int, default=16, kw="bits"),
    flag("--numPartitions", type=int, default=None, kw="num_partitions"),
    flag("--curve", choices=["zorder", "hilbert"], default="zorder",
         help="space-filling curve (hilbert: tighter boxes, same write shape)"),
    FORMAT,
)
_cmd(
    "rendezvousShard",
    "assign rows to named shards by rendezvous (HRW) hashing — "
    "adding/removing a shard moves only that shard's keys",
    _run_rendezvous_shard,
    _input(),
    _output(),
    flag("--keyField", required=True),
    flag("--shards", type=_csv, required=True),
    flag("--seed", type=int, default=0),
    FORMAT,
)
_cmd(
    "recordLinkage",
    "Fellegi-Sunter probabilistic record linkage over blocked "
    "candidate pairs (compare spec: col:m:u, repeatable)",
    "operators.fuzzy:fellegi_sunter_links",
    flag("--lhs", required=True, table=True),
    flag("--rhs", required=True, table=True),
    _output(),
    flag("--lhsId", required=True, kw="left_id"),
    flag("--rhsId", required=True, kw="right_id"),
    flag("--blockField", required=True, kw="block_col"),
    flag("--compare", action="append", required=True,
         help="field:m:u (e.g. phone:0.95:0.001); repeat per field",
         kw="compares",
         split=("field:m:u triples", r"(.+):([^:]+):([^:]+)",
                lambda col, m, u: (col, col, float(m), float(u)))),
    flag("--threshold", type=float, default=0.0, kw="threshold"),
    flag("--maxBlockSize", type=int, default=1000, kw="max_block_size"),
    FORMAT,
)
_cmd(
    "linkage",
    "probabilistic record linkage (Fellegi-Sunter): train m/u "
    "by EM over blocked candidate pairs, score links with trained "
    "or supplied weights",
    _run_linkage,
    flag("--mode", choices=["train", "score", "auto"], required=True),
    flag("--leftInput", required=True),
    flag("--rightInput", required=True),
    _output("links table, or model JSON for train"),
    flag("--leftId", required=True),
    flag("--rightId", required=True),
    flag("--blockField", type=_csv, required=True,
         help="one or more blocking keys (comma-separated, multi-pass)"),
    flag("--compare", type=_csv, required=True,
         help="train/auto: column pairs left:right; score: "
         "left:right:m:u quadruples"),
    flag("--model", help="score mode: model JSON from train"),
    flag("--iters", type=int, default=5),
    flag("--threshold", type=float, default=0.0),
    flag("--maxBlockSize", type=int, default=1000),
    FORMAT,
)
_cmd(
    "zorderAudit",
    "row-group skip audit from parquet footer min/max stats: "
    "how many groups a conjunctive range predicate scans vs prunes",
    _run_zorder_audit,
    _input("parquet file or directory"),
    flag("--box", type=_csv, required=True,
         help="col:lo:hi triples (comma-separated) — the range predicate",
         split=("col:lo:hi triples", r"([^:]+):([^:]+):([^:]+)",
                lambda col, lo, hi: (col, (float(lo), float(hi))))),
)
_cmd(
    "scd2",
    "SCD Type-2 history: build versioned dimension rows from a "
    "changelog, or merge a change batch into an existing history "
    "(incremental == rebuild)",
    _run_scd2,
    flag("--mode", choices=["history", "apply"], required=True),
    _input("change stream table"),
    flag("--history", help="apply mode: existing SCD2 table"),
    _output(),
    flag("--key", type=_csv, required=True, help="business key column(s)",
         kw="key_cols"),
    flag("--ts", required=True, help="change timestamp column", kw="ts_col"),
    flag("--attrs", type=_csv, required=True, help="tracked attribute column(s)",
         kw="attr_cols"),
    flag("--changeId", default=None, help="tie-break column for equal timestamps",
         kw="change_id"),
    flag("--keepChangeId", action="store_true",
         help="carry the change id into the output so later applies replay "
         "ties exactly",
         kw="keep_change_id"),
    flag("--noCollapse", action="store_true", help="keep no-op versions",
         kw="collapse", conv=operator.not_),
    FORMAT,
    requires={"apply": ("history",)},
)
_cmd(
    "compactionPlan",
    "bin-pack a file/partition manifest into ~targetBytes "
    "compaction bins (size-desc cumulative-sum assignment)",
    "operators.layout:compaction_plan",
    _input("manifest table (one row per file)"),
    _output(),
    flag("--sizeField", required=True, kw="size_col"),
    flag("--orderField", type=_csv, required=True, help="tie-break column(s)",
         kw="order_cols"),
    flag("--targetBytes", type=int, required=True, kw="target_bytes"),
    FORMAT,
)
_cmd(
    "logreg",
    "fixed-point logistic regression: bit-reproducible "
    "full-batch gradient descent over integer count features "
    "(train writes a weights JSON; score applies one)",
    _run_logreg,
    flag("--mode", choices=["train", "score"], required=True),
    _input(),
    flag("--features", type=_csv, required=True, help="integer feature column(s)"),
    flag("--label", help="train mode: 0/1 label column"),
    flag("--scales", type=_csv, default=None,
         help="per-feature scale constants (default 1.0 each)", split=_NUMBERS),
    flag("--lr", type=float, default=1.0),
    flag("--iters", type=int, default=4),
    flag("--model", required=True,
         help="weights JSON path (written by train, read by score)"),
    flag("--output", help="score mode: scored table destination"),
    FORMAT,
    requires={"train": ("label",), "score": ("output",)},
)
_cmd(
    "snapshot",
    "snapshot-manifest table maintenance: atomic append/replace "
    "commits, time-travel read, bin-packed compaction, expiry",
    _run_snapshot,
    flag(
        "--mode",
        choices=["append", "read", "compact", "cluster", "merge",
                 "merge-mor", "fold", "delete", "delete-mor", "delete-rows",
                 "drop-partition", "expire", "vacuum",
                 "changes", "mirror", "rollback", "log",
                 "stage", "read-branch", "publish", "discard",
                 "create-branch", "append-branch", "read-branch-snapshot",
                 "fast-forward", "delete-branch", "branches",
                 "metadata",
                 "add-constraint", "drop-constraint",
                 "rename-column", "widen-column", "evolve-spec",
                 "tag", "untag", "tags", "set-bloom", "count", "agg"],
        required=True,
    ),
    flag("--table", required=True, help="snapshot table root"),
    flag("--input", help="append/merge mode: data to commit"),
    flag("--keys", type=_csv, default=None,
         help="merge/merge-mor mode: upsert key column(s)"),
    flag("--fromId", type=int, default=None,
         help="changes mode: feed from this snapshot (exclusive)"),
    flag("--source", default=None,
         help="mirror mode: source snapshot table to subscribe to"),
    flag("--checkpoint", default=None,
         help="mirror mode: streaming checkpoint location"),
    flag("--zorderBy", type=_csv, default=None,
         help="cluster mode: z-order column(s)"),
    flag("--curve", choices=["zorder", "hilbert"], default="zorder",
         help="cluster mode: space-filling curve"),
    flag("--where", type=_csv, default=None,
         help="delete/read mode: col:lo:hi triples (conjunctive ranges)",
         split=("col:lo:hi triples", r"([^:]+):([^:]+):([^:]+)", _range)),
    flag("--output", help="read/log mode: where to write the result"),
    flag("--snapshotId", type=int, default=None,
         help="read mode: time-travel to this snapshot (default: current)"),
    flag("--targetBytes", type=int, default=512 * 1024 * 1024,
         help="compact mode: bin size (default 512 MiB)"),
    flag("--keepLast", type=int, default=1,
         help="expire mode: snapshots to retain (default 1)"),
    flag("--dryRun", action="store_true",
         help="expire/vacuum mode: list deletable files without deleting"),
    flag("--partitionBy", type=_csv, default=None,
         help="append mode, first commit only: partition spec items as "
         "col:transform[:param] (identity/truncate/bucket/month)",
         split=_PARTITION_SPEC),
    flag("--predicate", default=None,
         help="delete-rows mode: SQL predicate selecting rows to remove "
         "(merge-on-read position delete)"),
    flag("--partition", type=_csv, default=None,
         help="drop-partition mode: name=value pairs (value 'null' "
         "matches the NULL partition)",
         split=("name=value pairs", r"([^=]+)=(.*)",
                lambda k, v: (k, None if v == "null" else v))),
    flag("--branch", default=None,
         help="stage/read-branch/publish/discard mode (write-audit-"
         "publish) and create-branch/append-branch/read-branch-snapshot/"
         "fast-forward/delete-branch (named multi-commit branches): "
         "branch name; with merge/merge-mor/delete/delete-mor/fold the "
         "write lands on the BRANCH head instead of main"),
    flag("--metadataKind", default=None,
         choices=["files", "snapshots", "history", "partitions", "refs"],
         help="metadata mode: which inspection table to emit"),
    flag("--name", default=None,
         help="add-constraint/drop-constraint mode: constraint name"),
    flag("--expr", default=None,
         help="add-constraint mode: CHECK expression (SQL; NULL passes)"),
    flag("--olderThan", type=float, default=6 * 3600.0,
         help="vacuum mode: only remove orphans older than this many "
         "seconds (default 6h) — protects in-flight commits whose "
         "manifest has not been published yet"),
    flag("--column", default=None,
         help="rename-column/widen-column mode: the column to evolve"),
    flag("--to", default=None,
         help="rename-column: the new name; widen-column: the wider type "
         "(exact promotions only: tinyint→smallint→int→bigint, "
         "float→double)"),
    flag("--spec", type=_csv, default=None,
         help="evolve-spec mode: new partition spec items as "
         "col:transform[:param] — future writes route through it; "
         "existing files keep their layout",
         split=_PARTITION_SPEC),
    flag("--tagName", default=None,
         help="tag/untag mode: the tag name (tag also accepts "
         "--snapshotId; default current); read mode: time-travel to the "
         "tagged snapshot. Tagged snapshots never expire."),
    flag("--minmaxCols", type=_csv, default=None,
         help="agg mode: columns to MIN/MAX alongside COUNT(*)"),
    flag("--whereEq", type=_csv, default=None,
         help="agg mode: col:value equality conjunction (identity "
         "partition value, or the granule string on a time transform)",
         split=("col:value pairs", r"([^:]+):(.*)")),
    flag("--bloomCols", type=_csv, default=None,
         help="set-bloom mode: columns to build per-file bloom filters "
         "on (future writes; point lookups and scattered-key merges "
         "then skip non-holding files)"),
    flag("--bitsPerKey", type=int, default=10,
         help="set-bloom mode: bloom bits per row (default 10, ~1%% "
         "false positives)"),
    FORMAT,
    requires={
        "append": ("input",),
        "read": ("output",),
        "cluster": ("zorderBy",),
        "merge": ("input", "keys"),
        "merge-mor": ("input", "keys"),
        "delete": ("where",),
        "delete-mor": ("where",),
        "delete-rows": ("predicate",),
        "drop-partition": ("partition",),
        "changes": ("fromId", "output"),
        "mirror": ("source", "checkpoint"),
        "rollback": ("snapshotId",),
        "stage": ("input", "branch"),
        "read-branch": ("branch", "output"),
        "publish": ("branch",),
        "discard": ("branch",),
        "create-branch": ("branch",),
        "append-branch": ("input", "branch"),
        "read-branch-snapshot": ("branch", "output"),
        "fast-forward": ("branch",),
        "delete-branch": ("branch",),
        "metadata": ("metadataKind",),
        "add-constraint": ("name", "expr"),
        "drop-constraint": ("name",),
        "rename-column": ("column", "to"),
        "widen-column": ("column", "to"),
        "evolve-spec": ("spec",),
        "tag": ("tagName",),
        "untag": ("tagName",),
        "set-bloom": ("bloomCols",),
    },
)
_cmd(
    "decontaminate",
    "drop corpus docs that fuzzy-match a benchmark corpus "
    "(cross-corpus MinHash-LSH flag + anti-join)",
    _run_decontaminate,
    _input(),
    flag("--benchmark", required=True),
    _output(),
    TEXT,
    ID,
    flag("--minEstJaccard", type=float, default=0.5, kw="min_est_jaccard"),
    flag("--numHashes", type=int, default=16, kw="num_hashes"),
    flag("--bands", type=int, default=4, kw="bands"),
    FORMAT,
)


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="ratatool_spark")
    sub = p.add_subparsers(dest="command", required=True)
    for name, c in COMMANDS.items():
        sp = sub.add_parser(name, help=c.help)
        for f in c.flags:
            sp.add_argument(*f.names, **f.opts)
    return p


def _validate(args) -> None:
    """Usage checks that need no Spark: the flags the chosen ``--mode``
    requires, then the structured flag values (parsed in place)."""
    cmd = COMMANDS[args.command]
    missing = [
        f"--{dest}"
        for dest in cmd.requires.get(getattr(args, "mode", None), ())
        if getattr(args, dest) in (None, "", [])
    ]
    if missing:
        verb = "is" if len(missing) == 1 else "are"
        raise SystemExit(
            f"{' and '.join(missing)} {verb} required with --mode {args.mode}"
        )
    for f in cmd.flags:
        value = getattr(args, f.dest)
        if f.split and value is not None:
            items = _csv(value) if isinstance(value, str) else value
            setattr(args, f.dest,
                    [_split(f.names[0], item, *f.split) for item in items])


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    _validate(args)
    from pyspark.sql import SparkSession

    from ratatool_spark.session import get_spark

    cmd = COMMANDS[args.command]
    preexisting = SparkSession.getActiveSession() is not None
    spark = get_spark(f"ratatool_{args.command}")
    try:
        return (cmd.run if callable(cmd.run) else _run_op)(spark, args) or 0
    finally:
        if not preexisting:  # don't tear down a session we joined
            spark.stop()


if __name__ == "__main__":
    sys.exit(main())
