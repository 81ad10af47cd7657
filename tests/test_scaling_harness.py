"""The N-vs-4N probe harness (scripts/scaling.py) without Spark: which
pairs a box runs, the per-leg affinity guard, and when a cached corpus
is reused."""

from __future__ import annotations

import importlib.util
from pathlib import Path

import pytest

_spec = importlib.util.spec_from_file_location(
    "scaling", Path(__file__).resolve().parents[1] / "scripts/scaling.py"
)
scaling = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(scaling)


@pytest.mark.parametrize(
    "n_cpus,pairs",
    [(4, [(1, 4)]), (7, [(1, 4)]), (8, [(2, 8)]), (31, [(2, 8)]), (32, [(2, 8), (8, 32)])],
)
def test_leg_pairs_fit_the_box(n_cpus, pairs):
    assert scaling.leg_pairs(n_cpus) == pairs


def test_leg_pairs_below_four_cpus_raise_naming_the_count():
    with pytest.raises(RuntimeError, match="may use 3"):
        scaling.leg_pairs(3)


def test_affinity_guard():
    scaling.check_affinity(4, {0, 1, 2, 3})
    # a local[8] leg that taskset clamped to the box's 4 CPUs
    with pytest.raises(RuntimeError, match=r"local\[8\] may use 4 CPUs"):
        scaling.check_affinity(8, {0, 1, 2, 3})


def _build_into(out: Path, calls: list):
    def build():
        calls.append(1)
        out.mkdir(parents=True, exist_ok=True)
        (out / "part-0.parquet").write_text("new")

    return build


def test_corpus_without_marker_is_rebuilt(tmp_path):
    out = tmp_path / "corpus"
    out.mkdir()
    (out / "stale.parquet").write_text("half-written")  # a killed build
    calls: list = []
    scaling.ensure_corpus(str(out), "s", _build_into(out, calls))
    assert calls == [1]
    assert not (out / "stale.parquet").exists()
    assert (out / scaling.BUILT).read_text() == "s"


def test_corpus_with_marker_is_reused(tmp_path):
    out = tmp_path / "corpus"
    calls: list = []
    scaling.ensure_corpus(str(out), "s", _build_into(out, calls))
    scaling.ensure_corpus(str(out), "s", _build_into(out, calls))
    assert calls == [1]
    # a marker from another build (replicas, sf dir) does not count
    scaling.ensure_corpus(str(out), "t", _build_into(out, calls))
    assert calls == [1, 1]


def test_failed_build_leaves_no_marker(tmp_path):
    out = tmp_path / "corpus"

    def build():
        out.mkdir()
        raise RuntimeError("build exited 1")

    with pytest.raises(RuntimeError):
        scaling.ensure_corpus(str(out), "s", build)
    assert not (out / scaling.BUILT).exists()
