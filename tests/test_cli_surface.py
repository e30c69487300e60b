"""Pins the CLI's user-visible surface and its dispatch.

Two goldens live in ``golden_cli_surface.json``:

- ``parser``: every subcommand's help text and every argparse action's
  option strings, dest, type name, default, choices, required, nargs, const
  and help.
- ``dispatch``: for each argv in ``CASES``, what ``main()`` does with a
  recorded Spark session. ``get_spark``, ``read_table``/``write_table`` and
  every library function the CLI reaches are replaced by recorders. A
  recorder logs ``inspect.signature(fn).bind(...)`` arguments and returns a
  placeholder labelled ``<i>``, the index of its call. Calls on placeholders
  (``df.where(...)``, ``spark.read.parquet(...)``) are logged the same way.

Only cases marked ``needs_spark`` start a session: their runners build
``Column``s, which need a live SparkContext.

Regenerate the golden (after a deliberate surface change) with
``python tests/test_cli_surface.py``.
"""

from __future__ import annotations

import contextlib
import importlib
import inspect
import io
import json
import os
import shlex
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[1]
GOLDEN = Path(__file__).with_name("golden_cli_surface.json")

# modules whose public and private functions the CLI may call
RECORDED_MODULES = (
    "ratatool_spark.generators",
    "ratatool_spark.functions.urls",
    "ratatool_spark.sources.io",
    "ratatool_spark.sources.shards",
    "ratatool_spark.streaming.snapshots",
    "ratatool_spark.operators.checks",
    "ratatool_spark.operators.corpus",
    "ratatool_spark.operators.dedup",
    "ratatool_spark.operators.freq",
    "ratatool_spark.operators.fuzzy",
    "ratatool_spark.operators.graph",
    "ratatool_spark.operators.layout",
    "ratatool_spark.operators.linear",
    "ratatool_spark.operators.multimodal",
    "ratatool_spark.operators.packing",
    "ratatool_spark.operators.profile",
    "ratatool_spark.operators.retrieval",
    "ratatool_spark.operators.sampler",
    "ratatool_spark.operators.scd2",
    "ratatool_spark.operators.similarity",
    "ratatool_spark.operators.snapshots",
    "ratatool_spark.operators.timeagg",
    "ratatool_spark.operators.unigram",
    "ratatool_spark.operators.wordpiece",
)
RECORDED_CLASSES = (("ratatool_spark.operators.diffy", "BigDiffy"),)

_SIG_META = {"num_hashes": 16, "shingle_n": 3, "hasher": "portable"}
_LINK_MODEL = json.dumps({"lam": 0.1, "fields": [
    {"left": "name", "right": "nm", "m": 0.9, "u": 0.1}]})
_LR_MODEL = json.dumps({"features": ["f1", "f2"], "scales": [1.0, 2.0],
                        "weights": [0.5, -0.25, 0.125]})
_CHECKS = [{"kind": "not_null", "col": "a"},
           {"kind": "foreign_key", "col": "b", "ref": "ref_tbl", "ref_col": "b"}]


def _case(argv, returns=None, needs_spark=False):
    return {"argv": shlex.split(argv), "returns": returns or {},
            "needs_spark": needs_spark}


_SN = "snapshot --table t --mode "
CASES = [
    _case("bigSampler --input in --output out --sample 0.25 --fields a,b "
          "--distribution stratified --distributionFields c --exact --seed 7 "
          "--hashAlgorithm farm --byteEncoding base64 --rowRestriction 'x > 1' "
          "--format json"),
    _case("bigSampler --input in --output out --fraction 0.5 "
          "--distribution uniform --distributionFields c"),
    _case("bigDiffy --lhs l --rhs r --key id,k2 --output o --ignore f1,f2 "
          "--unordered u1 --unorderedFieldKey p:k,q:j --rowRestriction 'id > 0' "
          "--ignoreNan"),
    _case("bigDiffy --lhs l --rhs r --key id --output o"),
    _case("directSampler --input in --output out -n 5 --seed 3"),
    _case("directSampler --input in --output out -n 5 --head"),
    _case("nearDedup --input in --output out --textField t --idField i "
          "--threshold 0.8 --numHashes 32 --bands 8 --shingleN 5 --hasher xx "
          "--format json --scoreField q"),
    _case("substringDedup --input in --output out --textField t --idField i "
          "--shingleLen 4 --maxDocFreq 9 --format json"),
    _case("generate --schema 'a bigint, b string' -n 10 --output o --seed 5"),
    _case("packSequences --input in --output out --tokenField n --budget 64 "
          "--orderBy a,b --groupBy g --offsetField off --format json"),
    _case("dedupLines --input in --output out --textField t --idField i "
          "--maxOccurrences 3 --minLineChars 4 --scope document --format json"),
    _case("upsert --base b --updates u --keys k1,k2 --deleteField del "
          "--format orc --updatesFormat json"),
    _case("bpeLearn --input in --output m.json --textField t --nMerges 7 "
          "--batch 2 --pool 9 --rounds 4 --format json"),
    _case("bpeEncode --input in --output out --merges m.json --textField t "
          "--format json", returns={"_read_text": '[["a", "b"], ["ab", "c"]]'}),
    _case("unigramTrain --input in --output v --textField t --vocabSize 64 "
          "--maxPieceLen 3 --emRounds 1 --minSeedCount 1 --maxWordLen 8 "
          "--format json"),
    _case("unigramSegment --input in --output out --vocab v --textField t "
          "--idField i --maxWordLen 8 --format json"),
    _case("wordpieceTrain --input in --output tok.json --textField t "
          "--nMerges 8 --batch 4 --pool 16 --rounds 2 --format json"),
    _case("wordpieceSegment --input in --output out --tokenizer tok.json "
          "--textField t --format json",
          returns={"load_wordpiece_tokenizer": ([("a", "b")], ["a", "##b"])}),
    _case("wordpieceSegment --input in --output out --tokenizer tok.json "
          "--mode match --unk '<unk>'",
          returns={"load_wordpiece_tokenizer": ([("a", "b")], ["a", "##b"])}),
    _case("wordpieceSegment --input in --output out --tokenizer tok.json "
          "--mode match",
          returns={"load_wordpiece_tokenizer": ([("a", "b")], None)}),
    _case("tfidfDedup --input in --output out --textField t --idField i "
          "--threshold 0.6 --maxDocFreq 50 --format json"),
    _case("quantileSketch --mode build --input in --output out --groupBy g "
          "--valueField v --keyFields k1,k2 --k 64 --format json"),
    _case("quantileSketch --mode build --input in --output out --keyFields k",
          needs_spark=True),
    _case("quantileSketch --mode merge --inputs s1,s2,s3 --output out"),
    _case("quantileSketch --mode estimate --input s --output out "
          "--quantiles 0.25,0.75 --format json"),
    _case("dsirSelect --input in --targetFreqs tf --rawFreqs rf --output out "
          "--n 5 --textField t --idField i --smoothing 0.25 --seed 3 "
          "--format json"),
    _case("fuzzyJoin --leftInput l --rightInput r --output out --leftId li "
          "--rightId ri --blockField zip,city --compare name:nm,addr "
          "--method token_jaccard --threshold 0.5 --keepBest --maxBlockSize 9 "
          "--format json"),
    _case("freqSketch --mode build --input in --output out --groupBy g "
          "--keyField k --depth 3 --width 64 --seed 2 --format json"),
    _case("freqSketch --mode build --input in --output out", needs_spark=True),
    _case("freqSketch --mode merge --inputs s1,s2 --output out --format orc"),
    _case("freqSketch --mode estimate --input s --output out --keyField k "
          "--keys x,y --seed 2"),
    _case("heavyHitters --input in --output out --groupBy g --keyField k --k 3 "
          "--format json"),
    _case("skewReport --input in --output out --columns a,b --topK 2 "
          "--format json"),
    _case("capPerGroup --input in --output out --groupField g --maxRows 5 "
          "--diceFields a,b --seed 1 --format json"),
    _case("profilePii --input in --output out --columns a,b "
          "--sampleFraction 0.5 --seed 1 --format json"),
    _case("mixtureSample --input in --output out --shares web=0.6,books=0.4 "
          "--sourceField s --diceFields a --seed 1 --format json"),
    _case("contamination --input in --benchmark bench --output out "
          "--textField t --idField i --shingleN 5 --format json"),
    _case("dedupAgainst --input in --corpus c --output out --textField t "
          "--idField i --threshold 0.8 --numHashes 32 --bands 4 --shingleN 5 "
          "--hasher xx --format json"),
    _case("dedupAgainst --input in --corpus c --output out --corpusSigs sigs",
          returns={"load_signatures": ("SIGS", _SIG_META)}),
    _case("dedupAgainst --input in --corpus c --output out --corpusSigs sigs "
          "--numHashes 32", returns={"load_signatures": ("SIGS", _SIG_META)}),
    _case("exactDedupAgainst --input in --corpus c --output out "
          "--keyFields a,b --fpp 0.05 --noBloom --format json"),
    _case("saveSignatures --input in --output sigs --textField t --idField i "
          "--numHashes 32 --shingleN 5 --hasher xx --format json"),
    _case("profile --input in --output out --columns a,b --exactDistinct "
          "--format json"),
    _case("runChecks --input in --checks checks.json --output out "
          "--format json"),
    _case("writeShards --input in --output out --numShards 4 --keyFields a,b "
          "--verify --format json"),
    _case("compact --input in --output out --sortBy a --zorderBy b,c "
          "--targetFileMb 16 --format json"),
    _case("dedupSpans --input in --output out --textField t --idField i "
          "--spanTokens 8 --maxOccurrences 2 --scope document --format json"),
    _case("semanticDedup --input in --output out --tau 0.9 --idField i "
          "--vecField v --nCentroids 4 --trainIters 2 --seed 1 --format json"),
    _case("semanticDedup --input in --output out --tau 0.9 --keptOnly",
          needs_spark=True),
    _case("nbClassify --train tr --labelField lab --input in --output out "
          "--textField t --idField i --n 2 --nBuckets 64 --smoothing 1.0 "
          "--seed 1 --format json"),
    _case("qualityClassify --posInput p --negInput n --input in --output out "
          "--textField t --idField i --n 1 --nBuckets 64 --bias 0.5 --seed 1 "
          "--format json"),
    _case("imageDedup --input in --output out --maxHamming 3 --gridRows 9 "
          "--gridCols 8 --format json"),
    _case("chunkDocs --input in --output out --textField t --idField i "
          "--chunkSize 16 --overlap 4 --format json"),
    _case("vocabCoverage --input in --vocab v --output out --textField t "
          "--idField i --tokenField tok --format json"),
    _case("kAnonymity --input in --output out --quasiFields a,b --k 3 "
          "--format json"),
    _case("kAnonymity --input in --output out --quasiFields a --summary"),
    _case("bm25Search --queries q --output out --index idx --k 3 --k1 1.5 "
          "--b 0.5 --maxDf 7 --format json"),
    _case("bm25Search --corpus c --queries q --output out --k 3 --k1 1.5 "
          "--b 0.5 --textField t --idField i --maxDf 7"),
    _case("bm25Search --corpus c --queries q --output out --saveIndex idx "
          "--textField t --idField i"),
    _case("bm25Search --queries q --output out"),
    _case("rrfFuse --inputs r1,r2 --output out --kRrf 10 --topk 5 "
          "--format json"),
    _case("c4Filter --input in --output out --textField t --idField i "
          "--minWordsPerLine 3 --minKeptLines 2 --badwords x,y --format json"),
    _case("c4Filter --input in --output out --keepOnly"),
    _case("normalizeText --input in --output out --textField t --form none "
          "--keepControls --keepWhitespace --lowercase --format json"),
    _case("normalizeText --input in --output out --form NFKC"),
    _case("pageRank --input e --output out --srcField s --dstField d "
          "--iterations 3 --dampingNum 8 --dampingDen 10 --format json"),
    _case("urlNormalize --input in --output out --urlField u --format json",
          needs_spark=True),
    _case("mutualInfo --input in --pairs a:b,c:d --output out --format json"),
    _case("madOutliers --input in --output out --valueField v --groupBy g "
          "--cutoff 2.5 --exact --format json"),
    _case("madOutliers --input in --output out --valueField v"),
    _case("sketchJoinSize --sketchA a --sketchB b --output out"),
    _case("driftReport --lhs l --rhs r --output out --categorical a "
          "--numeric b,c --buckets 5 --topK 3 --format json"),
    _case("driftReport --lhs l --rhs r --output out"),
    _case("updateIvfIndex --index idx --input in --format json"),
    _case("neymanSampler --input in --output out --totalN 10 --valueField v "
          "--strata s --fields a,b --seed 1 --format json"),
    _case("zorderWrite --input in --output out --by a,b --bits 8 "
          "--numPartitions 4 --format json"),
    _case("zorderWrite --input in --output out --by a --curve hilbert"),
    _case("rendezvousShard --input in --output out --keyField k --shards a,b "
          "--seed 1 --format json", needs_spark=True),
    _case("recordLinkage --lhs l --rhs r --output out --lhsId li --rhsId ri "
          "--blockField zip --compare phone:0.9:0.01 --compare name:0.8:0.1 "
          "--threshold 1.5 --maxBlockSize 9 --format json"),
    _case("linkage --mode train --leftInput l --rightInput r --output m.json "
          "--leftId li --rightId ri --blockField zip,city --compare name:nm,addr "
          "--iters 3 --maxBlockSize 9 --format json"),
    _case("linkage --mode auto --leftInput l --rightInput r --output out "
          "--leftId li --rightId ri --blockField zip --compare name:nm "
          "--threshold 1.5"),
    _case("linkage --mode score --leftInput l --rightInput r --output out "
          "--leftId li --rightId ri --blockField zip --compare x --model m.json",
          returns={"_read_text": _LINK_MODEL}),
    _case("linkage --mode score --leftInput l --rightInput r --output out "
          "--leftId li --rightId ri --blockField zip "
          "--compare name:nm:0.9:0.1,zip:zip:0.95:0.01"),
    _case("zorderAudit --input f.parquet --box a:0:5,b:1.5:2.5",
          returns={"row_group_skip_audit": (4, 1)}),
    _case("scd2 --mode history --input ch --output out --key k1,k2 --ts ts "
          "--attrs a,b --changeId cid --keepChangeId --noCollapse --format json"),
    _case("scd2 --mode apply --input ch --history h --output out --key k "
          "--ts ts --attrs a"),
    _case("compactionPlan --input m --output out --sizeField sz "
          "--orderField p,q --targetBytes 1000 --format json"),
    _case("logreg --mode train --input in --features f1,f2 --label y "
          "--scales 1,2 --lr 0.5 --iters 2 --model w.json --format json"),
    _case("logreg --mode train --input in --features f1 --label y "
          "--model w.json"),
    _case("logreg --mode score --input in --features f1,f2 --model w.json "
          "--output out", returns={"_read_text": _LR_MODEL}),
    _case(_SN + "append --input in --partitionBy c:bucket:4,d,e:month "
          "--format json"),
    _case(_SN + "read --output o --snapshotId 3 --where a:1:5,b:0.5:2.5"),
    _case(_SN + "read --output o --tagName v1"),
    _case(_SN + "compact --targetBytes 1000"),
    _case(_SN + "compact --branch b"),
    _case(_SN + "cluster --zorderBy a,b --curve hilbert"),
    _case(_SN + "cluster --zorderBy a --branch b"),
    _case(_SN + "merge --input in --keys k1,k2 --format json"),
    _case(_SN + "merge --input in --keys k --branch b"),
    _case(_SN + "merge-mor --input in --keys k"),
    _case(_SN + "merge-mor --input in --keys k --branch b"),
    _case(_SN + "fold"),
    _case(_SN + "fold --branch b"),
    _case(_SN + "delete --where a:1:5"),
    _case(_SN + "delete --where a:1:5 --branch b"),
    _case(_SN + "delete-mor --where a:1.5:5"),
    _case(_SN + "delete-mor --where a:1:5 --branch b"),
    _case(_SN + "delete-rows --predicate 'x > 1'"),
    _case(_SN + "drop-partition --partition a=1,b=null"),
    _case(_SN + "expire --keepLast 2 --dryRun"),
    _case(_SN + "vacuum --olderThan 60 --dryRun"),
    _case(_SN + "changes --fromId 0 --output o --snapshotId 4"),
    _case(_SN + "mirror --source s --checkpoint c"),
    _case(_SN + "rollback --snapshotId 2"),
    _case(_SN + "log"),
    _case(_SN + "log --output o"),
    _case(_SN + "stage --input in --branch b --format json"),
    _case(_SN + "read-branch --branch b --output o"),
    _case(_SN + "publish --branch b"),
    _case(_SN + "discard --branch b"),
    _case(_SN + "create-branch --branch b --snapshotId 1"),
    _case(_SN + "append-branch --input in --branch b --format json"),
    _case(_SN + "read-branch-snapshot --branch b --output o --snapshotId 1 "
          "--format json"),
    _case(_SN + "fast-forward --branch b"),
    _case(_SN + "delete-branch --branch b"),
    _case(_SN + "branches"),
    _case(_SN + "metadata --metadataKind files --snapshotId 1 --branch b"),
    _case(_SN + "metadata --metadataKind refs --output o --format json"),
    _case(_SN + "add-constraint --name c1 --expr 'x > 0'"),
    _case(_SN + "drop-constraint --name c1"),
    _case(_SN + "rename-column --column a --to b"),
    _case(_SN + "widen-column --column a --to bigint"),
    _case(_SN + "evolve-spec --spec a:truncate:3,b"),
    _case(_SN + "tag --tagName v1 --snapshotId 2"),
    _case(_SN + "untag --tagName v1"),
    _case(_SN + "tags"),
    _case(_SN + "set-bloom --bloomCols a,b --bitsPerKey 12"),
    _case(_SN + "count --snapshotId 2"),
    _case(_SN + "count --tagName v1"),
    _case(_SN + "agg --minmaxCols a,b --whereEq p:x,q:y:z --snapshotId 3"),
    _case("decontaminate --input in --benchmark bench --output out "
          "--textField t --idField i --minEstJaccard 0.6 --numHashes 32 "
          "--bands 8 --format json", needs_spark=True),
]
CASE_IDS = [" ".join(c["argv"]) for c in CASES]


# ---------------------------------------------------------------- parser


def _subparsers(parser):
    import argparse

    (sub,) = [a for a in parser._actions
              if isinstance(a, argparse._SubParsersAction)]
    return sub


def _action(a) -> dict:
    return {
        "action": type(a).__name__,
        "option_strings": a.option_strings,
        "dest": a.dest,
        "type": None if a.type is None else a.type.__name__,
        "default": a.default,
        "choices": None if a.choices is None else list(a.choices),
        "required": a.required,
        "nargs": a.nargs,
        "const": a.const,
        "help": a.help,
    }


def parser_surface() -> dict:
    from ratatool_spark.cli import build_parser

    p = build_parser()
    sub = _subparsers(p)
    return {
        "prog": p.prog,
        "help": p.format_help(),
        "commands": {
            name: {
                "help": sp.format_help(),
                "actions": [_action(a) for a in sp._actions],
            }
            for name, sp in sub.choices.items()
        },
    }


# -------------------------------------------------------------- dispatch


class Placeholder(dict):
    """Stands in for any value the CLI gets back from a recorded call.

    A dict subclass so ``json.dumps`` accepts it (as ``{}``); attribute
    access yields a callable placeholder whose calls are logged; indexing
    yields a placeholder; iteration yields two (tuple unpacking).
    """

    def __init__(self, label: str, log: list):
        super().__init__()
        self._label = label
        self._log = log

    def __getattr__(self, name):
        if name.startswith("__"):
            raise AttributeError(name)
        return Placeholder(f"{self._label}.{name}", self._log)

    def __call__(self, *args, **kwargs):
        self._log.append({"call": self._label, "args": _norm(list(args)),
                          "kwargs": _norm(kwargs)})
        return Placeholder(f"<{len(self._log) - 1}>", self._log)

    def __getitem__(self, key):
        return Placeholder(f"{self._label}[{key!r}]", self._log)

    def __iter__(self):
        return iter([self[0], self[1]])

    def __hash__(self):
        return hash(self._label)

    def __eq__(self, other):
        return isinstance(other, Placeholder) and other._label == self._label


def _norm(v):
    if isinstance(v, Placeholder):
        return v._label
    if isinstance(v, dict):
        return {str(k): _norm(x) for k, x in v.items()}
    if isinstance(v, list):
        return [_norm(x) for x in v]
    if isinstance(v, tuple):
        return {"tuple": [_norm(x) for x in v]}
    if isinstance(v, (set, frozenset)):
        return {"set": sorted(json.dumps(_norm(x), sort_keys=True) for x in v)}
    if v is None or isinstance(v, (bool, int, float, str)):
        return v
    return repr(v)


def _recorder(qualname, fn, log, returns):
    sig = inspect.signature(fn)
    short = qualname.rsplit(".", 1)[1]

    def rec(*args, **kwargs):
        bound = sig.bind(*args, **kwargs)
        log.append({"call": qualname, "args": _norm(dict(bound.arguments))})
        if short in returns:
            return returns[short]
        return Placeholder(f"<{len(log) - 1}>", log)

    return rec


def dispatch_record(case: dict, mp, workdir) -> dict:
    """Run ``main(case['argv'])`` under recorders; return what happened."""
    from pyspark.sql import SparkSession

    import ratatool_spark.session
    from ratatool_spark.cli import main

    log: list = []
    returns = case["returns"]
    # import everything before patching anything: a module imported while
    # another is patched would bind the recorder for good
    # (``from ratatool_spark.operators.corpus import ...`` at import time)
    modules = [importlib.import_module(m) for m in RECORDED_MODULES]
    classes = [(importlib.import_module(m), name) for m, name in RECORDED_CLASSES]
    for mod in modules:
        modname = mod.__name__
        for name, fn in list(vars(mod).items()):
            if inspect.isfunction(fn) and fn.__module__ == modname:
                mp.setattr(mod, name, _recorder(f"{modname}.{name}", fn, log,
                                                returns))
    for mod, name in classes:
        mp.setattr(mod, name, _recorder(f"{mod.__name__}.{name}",
                                        getattr(mod, name), log, returns))

    def fake_get_spark(app_name="ratatool_spark", *a, **k):
        log.append({"call": "get_spark", "args": _norm([app_name, *a, k])})
        return Placeholder("spark", log)

    mp.setattr(ratatool_spark.session, "get_spark", fake_get_spark)
    # a live test session must not change whether main() stops "its" session
    mp.setattr(SparkSession, "getActiveSession", classmethod(lambda cls: None))
    mp.chdir(workdir)
    with open("checks.json", "w") as f:
        json.dump(_CHECKS, f)
    out = io.StringIO()
    with contextlib.redirect_stdout(out):
        try:
            rc = main(list(case["argv"]))
        except SystemExit as e:
            rc = f"SystemExit: {e.code}"
    return {"rc": rc, "events": log, "stdout": out.getvalue()}


# ----------------------------------------------------------------- tests


@pytest.fixture(scope="module")
def golden():
    return json.loads(GOLDEN.read_text())


@pytest.fixture
def fixed_columns(monkeypatch):
    monkeypatch.setenv("COLUMNS", "100")


def test_parser_surface_matches_golden(golden, fixed_columns):
    assert parser_surface() == golden["parser"]


def test_every_subcommand_and_snapshot_mode_has_a_dispatch_case():
    surface_cmds = {c["argv"][0] for c in CASES}
    surface_modes = {c["argv"][c["argv"].index("--mode") + 1]
                     for c in CASES if c["argv"][0] == "snapshot"}
    from ratatool_spark.cli import build_parser

    sp = _subparsers(build_parser()).choices
    assert surface_cmds == set(sp)
    (mode,) = [a for a in sp["snapshot"]._actions if a.dest == "mode"]
    assert surface_modes == set(mode.choices)


@pytest.mark.parametrize("case", CASES, ids=CASE_IDS)
def test_dispatch_matches_golden(case, golden, monkeypatch, tmp_path, request):
    if case["needs_spark"]:
        request.getfixturevalue("spark")
    got = dispatch_record(case, monkeypatch, tmp_path)
    assert got == golden["dispatch"][" ".join(case["argv"])]


def test_build_parser_imports_neither_pyspark_nor_operators():
    code = (
        "import sys\n"
        "from ratatool_spark.cli import build_parser\n"
        "build_parser()\n"
        "print([m for m in sys.modules if m.split('.')[0] == 'pyspark'"
        " or m.startswith('ratatool_spark.operators')])\n"
    )
    res = subprocess.run([sys.executable, "-c", code], cwd=ROOT,
                         capture_output=True, text=True, timeout=120)
    assert res.returncode == 0, res.stderr
    assert res.stdout.strip() == "[]"


def _regenerate() -> None:
    import tempfile

    from ratatool_spark.session import get_spark

    os.environ["COLUMNS"] = "100"
    get_spark("cli_surface_golden")
    dispatch = {}
    for case, cid in zip(CASES, CASE_IDS):
        with pytest.MonkeyPatch.context() as mp, \
                tempfile.TemporaryDirectory() as d:
            dispatch[cid] = dispatch_record(case, mp, d)
    GOLDEN.write_text(json.dumps(
        {"parser": parser_surface(), "dispatch": dispatch},
        indent=1, sort_keys=True) + "\n")


if __name__ == "__main__":
    sys.path.insert(0, str(ROOT))
    _regenerate()
