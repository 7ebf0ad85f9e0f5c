"""The comparison step refuses records taken at different core counts."""

import json

import pytest

import compare


def _rec(tmp_path, name, cpus, value):
    r = {"workload": "w", "seed": 1, "trace": 0, "cpus": cpus, "correct": True,
         "end_to_end": {"docs_per_s": {"value": value, "unit": "docs/s"}}}
    p = tmp_path / name
    p.write_text(json.dumps(r))
    return str(p)


def test_refuses_mixed_core_counts(tmp_path):
    a = _rec(tmp_path, "a.json", 4, 10.0)
    b = _rec(tmp_path, "b.json", 32, 12.0)
    with pytest.raises(SystemExit, match="different core counts"):
        compare.main([a, "--vs", b])


def test_same_core_count_compares(tmp_path, capsys):
    a = _rec(tmp_path, "a.json", 4, 10.0)
    b = _rec(tmp_path, "b.json", 4, 12.0)
    assert compare.main([a, "--vs", b]) == 0
    assert "change=+20.0%" in capsys.readouterr().out


def test_tracing_overhead_is_the_inprocess_span_cost(tmp_path, capsys):
    a = _rec(tmp_path, "a.json", 4, 10.0)
    t = {"workload": "w", "seed": 1, "trace": 1, "cpus": 4, "correct": True,
         "per_layer": {"trace.docs_per_s": 9.0, "trace.inproc_overhead_share": 0.03}}
    (tmp_path / "t.json").write_text(json.dumps(t))
    assert compare.main([a, str(tmp_path / "t.json"), "--vs", a]) == 0
    out = capsys.readouterr().out
    assert "tracing overhead (base): +3.0% in-process time" in out
    assert "traced-run drift (base): -10.0% docs_per_s (not a span cost)" in out
