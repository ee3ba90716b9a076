"""CLI driver edge probes (the verify-skill checklist, pinned as
tests): golden byte-identity, cutoff 101 → all NA, -n 1, hostile
input lines (empty / whitespace / 1-char must be filtered, not
crash), multibyte UTF-8 terms."""

from __future__ import annotations

import os

import pytest

from queryengine_spark import cli

GOLDEN_Q = "/root/reference/example/test_query.txt"
GOLDEN_R = "/root/reference/example/test_refs.txt"
GOLDEN_OUT = "/root/reference/example/output.txt"

needs_example = pytest.mark.skipif(
    not os.path.isdir(os.path.dirname(GOLDEN_OUT)),
    reason="the heurFuzz reference example (inputs and golden output) is absent",
)


@pytest.fixture(autouse=True)
def _reuse_test_session(spark, monkeypatch):
    # cli.run builds its own session; reuse the test one (same JVM)
    monkeypatch.setattr(cli, "get_spark", lambda *a, **k: spark)


def _read(path) -> str:
    with open(path) as f:
        return f.read()


@needs_example
def test_cli_golden_byte_identity(tmp_path):
    out = tmp_path / "out.tsv"
    cli.run(GOLDEN_Q, GOLDEN_R, 5, 90, 500, str(out))
    assert _read(out) == _read(GOLDEN_OUT)


@needs_example
def test_cli_cutoff_101_all_na(tmp_path):
    out = tmp_path / "out.tsv"
    cli.run(GOLDEN_Q, GOLDEN_R, 5, 101, 500, str(out))
    lines = _read(out).splitlines()
    assert lines[0] == "query\tmatch"
    assert len(lines) == 5  # header + 4 queries, each exactly once
    assert all(ln.endswith("\tNA") for ln in lines[1:])


@needs_example
def test_cli_topn_1_still_matches_exacts(tmp_path):
    out = tmp_path / "out.tsv"
    cli.run(GOLDEN_Q, GOLDEN_R, 1, 90, 500, str(out))
    rows = dict(
        ln.split("\t") for ln in _read(out).splitlines()[1:]
    )
    # an exact-match query keeps its match even with a 1-candidate
    # refine pool
    assert rows["vanilla"] == "vanilla"
    assert rows["peanutbutter"] == "NA"
    assert len(rows) == 4  # every query exactly once


def test_cli_hostile_lines_filtered_not_crashed(tmp_path):
    q = tmp_path / "q.txt"
    r = tmp_path / "r.txt"
    # empty line, whitespace-only, 1-char (all violate the 2..500-byte
    # contract and crash the reference; we filter), plus real terms
    q.write_text("\n \nx\nspark engine\nünïcode tërm\n", encoding="utf-8")
    r.write_text("spark engine room\n\nünïcode tërms\nz\n", encoding="utf-8")
    out = tmp_path / "out.tsv"
    cli.run(str(q), str(r), 5, 60, 500, str(out))
    lines = _read(out).splitlines()
    assert lines[0] == "query\tmatch"
    rows = dict(ln.split("\t") for ln in lines[1:])
    # only the two contract-valid queries appear, each exactly once
    assert set(rows) == {"spark engine", "ünïcode tërm"}
    assert rows["spark engine"] == "spark engine room"
    assert rows["ünïcode tërm"] == "ünïcode tërms"


def test_cli_buffer_size_filters_long_terms(tmp_path):
    q = tmp_path / "q.txt"
    r = tmp_path / "r.txt"
    q.write_text("short term\n" + "x" * 600 + "\n")
    r.write_text("short term too\n")
    out = tmp_path / "out.tsv"
    cli.run(str(q), str(r), 5, 60, 500, str(out))
    rows = dict(ln.split("\t") for ln in _read(out).splitlines()[1:])
    assert set(rows) == {"short term"}  # >500-byte line dropped, no exit
