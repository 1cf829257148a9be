"""bench.py CLI plumbing (no Spark): current_round must read the driver's
PROGRESS.jsonl tail and fall back to the BENCH_r*.json scan on ANY
malformed tail — including the ADVICE-r9 case of a last line that is
valid JSON but not an object (bare number/string/list), which used to
raise TypeError out of the whole bench run. And a snapshot records the
cores it ran on, and no run overwrites a snapshot of another provenance
or core count."""

import json

import pytest

from bench import current_round, run_identity, safe_suffix, snapshot_path


def _repo(tmp_path, progress_tail=None, bench_rounds=()):
    for n in bench_rounds:
        (tmp_path / f"BENCH_r{n:02d}.json").write_text("{}")
    if progress_tail is not None:
        lines = [json.dumps({"round": 3}), progress_tail]
        (tmp_path / "PROGRESS.jsonl").write_text("\n".join(lines) + "\n")
    return tmp_path


def test_progress_tail_object_wins(tmp_path):
    root = _repo(tmp_path, json.dumps({"round": 7}), bench_rounds=(1, 2))
    assert current_round(root) == 7


@pytest.mark.parametrize(
    "tail",
    [
        "42",  # valid JSON, not an object → TypeError path (ADVICE r9)
        '"str"',
        "[1, 2]",
        "{not json",
        json.dumps({"no_round_key": 1}),
        json.dumps({"round": "seven"}),  # int() ValueError
    ],
)
def test_malformed_tail_falls_back_to_bench_scan(tmp_path, tail):
    root = _repo(tmp_path, tail, bench_rounds=(1, 4))
    assert current_round(root) == 5  # max(BENCH_r) + 1


def test_no_progress_no_bench(tmp_path):
    assert current_round(_repo(tmp_path)) == 1


def test_snapshot_records_spark_cores(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "8")
    monkeypatch.setenv("SPARK_GRAFT_BENCH_PROVENANCE", "gate")
    assert run_identity() == {"provenance": "gate", "spark_cpus": 8}
    monkeypatch.delenv("SPARK_GRAFT_CPUS")
    monkeypatch.delenv("SPARK_GRAFT_BENCH_PROVENANCE")
    assert run_identity() == {"provenance": "unlabeled", "spark_cpus": 32}


def _snapshot(tmp_path, **fields):
    full = tmp_path / "BENCH_full_r15.json"
    full.write_text(json.dumps({"value": 1.0, **fields}))
    return full


def test_core_count_is_part_of_the_overwrite_key(tmp_path):
    """An 8-core run of the same provenance must not replace a 32-core
    snapshot; a run with the same provenance and cores overwrites it."""
    full = _snapshot(tmp_path, provenance="unlabeled", spark_cpus=32)
    run8 = {"provenance": "unlabeled", "spark_cpus": 8}
    assert snapshot_path(full, run8).name == "BENCH_full_r15_unlabeled_c8.json"
    assert snapshot_path(full, {**run8, "spark_cpus": 32}) == full
    # a snapshot from before core counts were recorded is never replaced
    legacy = _snapshot(tmp_path, provenance="unlabeled")
    assert snapshot_path(legacy, run8) != legacy
    # no snapshot yet, or one without provenance: write in place
    assert snapshot_path(tmp_path / "BENCH_full_r16.json", run8).name == "BENCH_full_r16.json"
    assert snapshot_path(_snapshot(tmp_path), run8) == full


def test_provenance_suffix_is_sanitized(tmp_path):
    assert safe_suffix("gate run/../x:1") == "gate_run_.._x_1"
    assert safe_suffix("ok_name-1.2") == "ok_name-1.2"
    full = _snapshot(tmp_path, provenance="gate", spark_cpus=4)
    got = snapshot_path(full, {"provenance": "../../etc/x y", "spark_cpus": 4})
    assert got.parent == tmp_path
    assert got.name == "BENCH_full_r15_.._.._etc_x_y_c4.json"
