"""Tests of the benchmark itself (no Spark session needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import filecmp
import json
import os
import shutil
import subprocess
import sys

from perfbench import datagen, run

ROOT = run.ROOT


def _csv_files(directory: str) -> list[str]:
    return sorted(
        os.path.relpath(os.path.join(r, f), directory)
        for r, _d, files in os.walk(directory)
        for f in files
    )


def test_same_seed_gives_byte_identical_csvs(tmp_path):
    a, b, c = tmp_path / "a", tmp_path / "b", tmp_path / "c"
    datagen.write_lake_batches(str(a), seed=7)
    datagen.write_lake_batches(str(b), seed=7)
    datagen.write_lake_batches(str(c), seed=8)
    names = _csv_files(str(a))
    assert names == _csv_files(str(b)) == _csv_files(str(c))
    assert len(names) == 2 * datagen.LAKE_FILES
    assert all(filecmp.cmp(a / n, b / n, shallow=False) for n in names)
    assert not any(filecmp.cmp(a / n, c / n, shallow=False) for n in names)


def test_lake_expectation_counts_bad_and_repeated_rows(tmp_path):
    _dirs, expect = datagen.write_lake_batches(str(tmp_path), seed=3)
    rows = datagen.LAKE_FILES * datagen.LAKE_ROWS_PER_FILE
    assert expect.rows_in == [rows, rows]
    # about 1% of amounts do not parse; every other row is kept
    for valid in expect.rows_valid:
        assert 0.97 * rows < valid < rows
    # batch 2 re-sends half of batch 1's keys, so the merged lake holds
    # fewer keys than the two batches have valid rows
    assert rows < expect.keys < sum(expect.rows_valid)


def test_same_seed_gives_identical_tables(tmp_path):
    datagen.write_tables(str(tmp_path / "a"), seed=5)
    datagen.write_tables(str(tmp_path / "b"), seed=5)
    datagen.write_tables(str(tmp_path / "c"), seed=6)
    a = run.inputs_digest(str(tmp_path / "a"))
    assert a == run.inputs_digest(str(tmp_path / "b"))
    assert a["digest"] != run.inputs_digest(str(tmp_path / "c"))["digest"]


def _values(spec: dict, kind: str) -> dict[str, float]:
    return {m["name"]: 1.5 + i for i, m in enumerate(spec[kind])}


def test_printer_emits_every_named_metric_with_its_unit():
    spec = run.load_spec()
    for kind in ("end_to_end", "per_layer"):
        values = _values(spec, kind)
        lines = run.format_report(spec, kind, values)
        assert len(lines) == len(spec[kind])
        for line, m in zip(lines, spec[kind]):
            name, _value, unit = line.split()
            assert (name, unit) == (m["name"], m["unit"])
        result = json.loads(run.result_json(spec, kind, values, attempted=4, failed=0))
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
        assert result["metrics"] == {
            m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
            for m in spec[kind]
        }


def test_printer_refuses_a_missing_metric():
    spec = run.load_spec()
    values = _values(spec, "end_to_end")
    values.pop(spec["end_to_end"][0]["name"])
    try:
        run.format_report(spec, "end_to_end", values)
    except KeyError:
        return
    raise AssertionError("a missing metric was printed")


def test_end_to_end_metrics_match_the_spec():
    spec = run.load_spec()
    ops = [run.Op(name, "g", s) for name, s in zip("xyz", [1.0, 2.0, 4.0])]
    values = run.end_to_end(setup_s=3.0, ops=ops)
    assert set(values) == {m["name"] for m in spec["end_to_end"]}
    assert values["ops_per_s"] == 3 / 7.0
    assert values["op_p50_s"] == 2.0


def test_ops_the_host_took_cpu_from_are_left_out():
    """Per kind of op, the half with the least host steal is kept."""
    ops = [
        run.Op("x", "p0", 1.0, steal_s=0.0),
        run.Op("x", "p1", 3.0, steal_s=2.0),
        run.Op("y", "p0", 9.0, steal_s=1.5),
        run.Op("y", "p1", 2.0, steal_s=0.1),
        run.Op("y", "p2", 2.5, steal_s=0.0),
    ]
    assert [(o.name, o.group) for o in run.calm_ops(ops)] == [
        ("x", "p0"), ("y", "p2"), ("y", "p1"),
    ]
    values = run.end_to_end(setup_s=3.0, ops=ops)
    assert values["ops_per_s"] == 3 / 5.5
    assert values["op_p50_s"] == (1.0 + 2.25) / 2  # median of x's and y's medians


def test_a_corrupted_oracle_row_raises_fail_frac(tmp_path):
    """Feed the lane check the oracle's own rows (pass), then the same
    rows with one value changed (fail)."""
    import babylon_data_loader_spark.queries as q
    from tests.oracle_harness import duck_connection

    q.load_all()
    lane = "q_substring_dedup"
    workload = run.LaneWorkload([lane], seed=11, work=str(tmp_path))
    con = duck_connection(workload.inputs)
    try:
        res = con.execute(q.ORACLES[lane])
        cols = [d[0] for d in res.description]
        rows = res.fetchall()
    finally:
        con.close()
    assert rows
    good = run.Op(lane, "p0", 1.0, output=(cols, rows))
    assert workload.check([good]) == []
    corrupted = [tuple(rows[0][:-1]) + ("corrupted",)] + rows[1:]
    bad = run.Op(lane, "p1", 1.0, output=(cols, corrupted))
    mismatches = workload.check([good, bad])
    attempted, failed = run.tally([good, bad], mismatches)
    assert failed / attempted > 0
    failing = run.Op(lane, "p2", 1.0, error="RuntimeError")
    assert run.tally([good, failing], []) == (2, 1)


def test_without_the_package_it_fails_and_prints_no_result(tmp_path):
    """In a directory holding only BENCHMARK.json and the benchmark, the
    run exits non-zero and prints nothing on stdout."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(
        os.path.join(ROOT, "perfbench"),
        tmp_path / "perfbench",
        ignore=shutil.ignore_patterns("__pycache__"),
    )
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "curation",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
        env={k: v for k, v in os.environ.items() if k != "PYTHONPATH"},
    )
    assert proc.returncode != 0
    assert proc.stdout == ""
