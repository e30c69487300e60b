"""CLI usage errors: a malformed flag value or a flag its ``--mode``
requires exits with a ``SystemExit`` that names the flag — never a raw
``ValueError`` — and before any table is read. A missing mode-required flag
exits before a Spark session is even requested."""

from __future__ import annotations

import shlex

import pytest

from ratatool_spark.cli import main


class _StubSpark:
    """Any use beyond ``stop()`` means the CLI went past validation."""

    def stop(self):
        pass


@pytest.fixture
def stub_spark(monkeypatch):
    import ratatool_spark.session

    monkeypatch.setattr(ratatool_spark.session, "get_spark",
                        lambda *a, **k: _StubSpark())


@pytest.fixture
def no_spark(monkeypatch):
    import ratatool_spark.session

    def refuse(*a, **k):
        raise AssertionError("a usage error must not start Spark")

    monkeypatch.setattr(ratatool_spark.session, "get_spark", refuse)


_LINK = ("--leftInput l --rightInput r --output o --leftId a --rightId b "
         "--blockField z")
_RL = "recordLinkage --lhs l --rhs r --output o --lhsId a --rhsId b --blockField z"
MALFORMED = [
    ("mixtureSample --input i --output o --shares a", "--shares"),
    ("mixtureSample --input i --output o --shares web=x", "--shares"),
    ("mixtureSample --input i --output o --shares =0.5", "--shares"),
    (_RL + " --compare col", "--compare"),
    (_RL + " --compare col:x:0.1", "--compare"),
    ("fuzzyJoin " + _LINK + " --compare :x", "--compare"),
    ("linkage --mode train " + _LINK + " --compare a:", "--compare"),
    ("linkage --mode score " + _LINK + " --compare a:b:0.9", "--compare"),
    ("linkage --mode score " + _LINK + " --compare a:b:x:0.1", "--compare"),
    ("mutualInfo --input i --output o --pairs a", "--pairs"),
    ("zorderAudit --input f --box a:1", "--box"),
    ("zorderAudit --input f --box a:x:1", "--box"),
    ("snapshot --table t --mode delete --where c:lo", "--where"),
    ("snapshot --table t --mode read --output o --where c:1:x", "--where"),
    ("snapshot --table t --mode drop-partition --partition k", "--partition"),
    ("snapshot --table t --mode agg --whereEq k", "--whereEq"),
    ("snapshot --table t --mode append --input i --partitionBy c:bucket:x",
     "--partitionBy"),
    ("snapshot --table t --mode evolve-spec --spec c:truncate:", "--spec"),
    ("quantileSketch --mode estimate --input s --output o --quantiles 0.5,x",
     "--quantiles"),
    ("logreg --mode train --input i --features f --label y --model m "
     "--scales x", "--scales"),
]


@pytest.mark.parametrize("argv,flag", MALFORMED, ids=[a for a, _ in MALFORMED])
def test_malformed_spec_names_the_flag(argv, flag, stub_spark):
    with pytest.raises(SystemExit, match=f"^{flag} expects .*, got '") as e:
        main(shlex.split(argv))
    assert isinstance(e.value.code, str)


_BASE = {
    "snapshot": "snapshot --table t",
    "quantileSketch": "quantileSketch --output o",
    "freqSketch": "freqSketch --output o",
    "scd2": "scd2 --input i --output o --key k --ts ts --attrs a",
    "logreg": "logreg --input i --features f --model m",
}
# command, mode: the flags that mode requires
MODE_REQUIRED = [
    "quantileSketch build: --input --keyFields",
    "quantileSketch merge: --inputs",
    "quantileSketch estimate: --input",
    "freqSketch build: --input",
    "freqSketch merge: --inputs",
    "freqSketch estimate: --input --keys",
    "scd2 apply: --history",
    "logreg train: --label",
    "logreg score: --output",
    "snapshot append: --input",
    "snapshot read: --output",
    "snapshot cluster: --zorderBy",
    "snapshot merge: --input --keys",
    "snapshot merge-mor: --input --keys",
    "snapshot delete: --where",
    "snapshot delete-mor: --where",
    "snapshot delete-rows: --predicate",
    "snapshot drop-partition: --partition",
    "snapshot changes: --fromId --output",
    "snapshot mirror: --source --checkpoint",
    "snapshot rollback: --snapshotId",
    "snapshot stage: --input --branch",
    "snapshot read-branch: --branch --output",
    "snapshot publish: --branch",
    "snapshot discard: --branch",
    "snapshot create-branch: --branch",
    "snapshot append-branch: --input --branch",
    "snapshot read-branch-snapshot: --branch --output",
    "snapshot fast-forward: --branch",
    "snapshot delete-branch: --branch",
    "snapshot metadata: --metadataKind",
    "snapshot add-constraint: --name --expr",
    "snapshot drop-constraint: --name",
    "snapshot rename-column: --column --to",
    "snapshot widen-column: --column --to",
    "snapshot evolve-spec: --spec",
    "snapshot tag: --tagName",
    "snapshot untag: --tagName",
    "snapshot set-bloom: --bloomCols",
]


@pytest.mark.parametrize("entry", MODE_REQUIRED)
def test_missing_mode_flag_exits_before_spark(entry, no_spark):
    head, flags = entry.split(": ")
    cmd, mode = head.split()
    flags = flags.split()
    verb = "is" if len(flags) == 1 else "are"
    want = f"{' and '.join(flags)} {verb} required with --mode {mode}"
    with pytest.raises(SystemExit) as e:
        main(shlex.split(_BASE[cmd]) + ["--mode", mode])
    assert e.value.code == want


def test_present_but_empty_mode_flag_counts_as_missing(no_spark):
    with pytest.raises(SystemExit) as e:
        main(["snapshot", "--table", "t", "--mode", "merge", "--input", "i",
              "--keys", ""])
    assert e.value.code == "--keys is required with --mode merge"
