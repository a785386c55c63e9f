"""Every public top-level function and class in ``binlogsub_spark/``, and
every public method of those classes, has a user outside tests: some
non-test ``.py`` file names it (word match) outside its own definition.
Code only tests reach is deleted, or listed below with the reason it
stays."""

from __future__ import annotations

import ast
import os
import re

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = os.path.join(ROOT, "binlogsub_spark")

# module-relative name -> why it stays with no non-test user
ALLOWED = {
    "config.load_ini": "reference ini-dialect parity, documented in the README",
    "config.IniConfig": "what load_ini returns",
    "secrets.des_ecb_encrypt": "DES parity with the reference; encodes the DES test vectors",
    "codec_mysql.decode_datetime2": "scalar truth the DATETIME2 fixture encoder is checked against",
    "codec_mysql.decode_timestamp2": "scalar truth the TIMESTAMP2 fixture encoder is checked against",
    "codec_mysql.decode_time2": "scalar truth the TIME2 fixture encoder is checked against",
    "codec_mysql.bin_to_decimal": "scalar truth the NEWDECIMAL fixture encoder is checked against",
    "codec.validate_payload_batch": "Spark-free validation entry point for tests",
    "codec.decode_payload_batch": "Spark-free decode entry point for tests",
    "audits.all_of": "write-audit-publish guard library",
    "audits.no_null_keys_guard": "write-audit-publish guard library",
    "oracle.expected_final_state": "reference final state the engine is tested against",
    "mysql_binlog.encode_rotate": "control-frame fixture encoder",
    "lake.table.LakeTable.read_tag": "documented tag API (README, Backfill)",
    "lake.table.LakeTable.drop_tag": "documented tag API (README, Backfill)",
}


def _non_test_sources() -> dict[str, str]:
    out = {}
    for d, dirs, files in os.walk(ROOT):
        dirs[:] = [x for x in dirs if not x.startswith(".") and x not in ("tests", "__pycache__")]
        for f in files:
            if f.endswith(".py"):
                p = os.path.join(d, f)
                with open(p, encoding="utf-8") as fh:
                    out[p] = fh.read()
    return out


def _public_defs(sources: dict[str, str]):
    for path, text in sources.items():
        if not path.startswith(PACKAGE + os.sep):
            continue
        module = os.path.relpath(path, PACKAGE)[: -len(".py")].replace(os.sep, ".")
        for node in ast.parse(text).body:
            for qual, d in _public(module, node):
                yield qual, path, d.name, _first_line(d), d.end_lineno
                if isinstance(d, ast.ClassDef):
                    for sub, m in _public(qual, *d.body):
                        yield sub, path, m.name, _first_line(m), m.end_lineno


def _public(prefix: str, *nodes):
    """(qualified name, node) of the public defs and classes in ``nodes``."""
    for node in nodes:
        if isinstance(
            node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
        ) and not node.name.startswith("_"):
            yield f"{prefix}.{node.name}", node


def _first_line(node) -> int:
    return min([node.lineno] + [d.lineno for d in node.decorator_list])


def test_public_names_have_a_non_test_user():
    sources = _non_test_sources()
    defined, unused = set(), []
    for qual, path, name, first, last in _public_defs(sources):
        defined.add(qual)
        word = re.compile(rf"\b{re.escape(name)}\b")
        for p, text in sources.items():
            if p == path:
                lines = text.splitlines()
                text = "\n".join(lines[: first - 1] + lines[last:])
            if word.search(text):
                break
        else:
            unused.append(qual)
    assert sorted(set(unused) - set(ALLOWED)) == []
    # an entry for a name that no longer exists is stale
    assert sorted(set(ALLOWED) - defined) == []
