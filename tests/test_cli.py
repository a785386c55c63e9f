"""CLI flag validation: a flag the chosen mode would ignore (a mode-only
flag in another ingest mode, an ingest flag in a maintenance mode) is an
argparse error before any Spark session starts."""

from __future__ import annotations

import pytest

from binlogsub_spark import run as run_mod

_INGEST = ["--source", "src", "--table", "tbl", "--checkpoint", "ckpt"]


class _SparkStarted(Exception):
    pass


def _no_spark(**kw):
    raise _SparkStarted


_REJECTED = [
    _INGEST + ["--raw", "--mysql"],
    _INGEST + ["--debezium", "--canal"],
    _INGEST + ["--canal", "--maxwell"],
    _INGEST + ["--debezium", "--dead-letter", "dl"],
    _INGEST + ["--canal", "--dead-letter", "dl"],
    _INGEST + ["--maxwell", "--dead-letter", "dl"],
    _INGEST + ["--dead-letter", "dl"],
    _INGEST + ["--atomic"],
    _INGEST + ["--raw", "--gtid"],
    _INGEST + ["--debezium", "--gtid-auto-position"],
    ["--table", "tbl", "--generate", "10"],
    ["--table", "tbl", "--compact", "--mysql"],
    ["--table", "tbl", "--vacuum", "3", "--atomic"],
    ["--table", "tbl", "--get", "k", "--dead-letter", "d"],
    ["--table", "tbl", "--freshness", "--audit-max-drop", "0.5"],
    _INGEST + ["--rebucket", "8"],
]
_ACCEPTED = [
    _INGEST,
    _INGEST + ["--audit-max-drop", "0"],
    _INGEST + ["--raw", "--audit-max-drop", "0.5"],
    _INGEST + ["--mysql", "--audit-max-drop", "0"],
    _INGEST + ["--debezium", "--audit-max-drop", "0.5"],
    _INGEST + ["--raw", "--dead-letter", "dl"],
    _INGEST + ["--mysql", "--atomic", "--gtid", "--gtid-auto-position", "--dead-letter", "dl"],
    ["--table", "tbl", "--vacuum", "0"],
    ["--table", "tbl", "--changes", "none"],
]


@pytest.mark.parametrize(
    "argv,raised",
    [(a, SystemExit) for a in _REJECTED] + [(a, _SparkStarted) for a in _ACCEPTED],
    ids=lambda v: " ".join(a for a in v if a.startswith("--") and a not in _INGEST)
    if isinstance(v, list) else v.__name__.strip("_"),
)
def test_mode_flags_checked_before_spark(argv, raised, monkeypatch):
    monkeypatch.setattr(run_mod, "get_spark", _no_spark)
    with pytest.raises(raised):
        run_mod.main(argv)
