import json

from perfbench import diff


def _trace(path, rows):
    path.write_text(json.dumps({"queries": rows}))
    return str(path)


def test_wall_move_without_work_is_noise(tmp_path):
    base = {"exec.cpu_s": 1.0, "py.run_s": 0.5, "plans.build_driver_s": 0.2, "exec.shuffle_write_mb": 3.0}
    a = _trace(tmp_path / "a.json", [{"query": "q", "pass": 2, "wall_s": 2.0, **base}])
    b = _trace(tmp_path / "b.json", [{"query": "q", "pass": 2, "wall_s": 3.0, **base}])
    (row,) = diff.compare(diff.load(a), diff.load(b))
    assert row["verdict"] == "noise" and row["work_moved"] == []


def test_wall_move_with_cpu_is_a_move_and_ranked_first(tmp_path):
    a = _trace(
        tmp_path / "a.json",
        [
            {"query": "slow", "pass": 2, "wall_s": 2.0, "exec.cpu_s": 1.0},
            {"query": "same", "pass": 2, "wall_s": 1.0, "exec.cpu_s": 1.0},
        ],
    )
    b = _trace(
        tmp_path / "b.json",
        [
            {"query": "slow", "pass": 2, "wall_s": 4.0, "exec.cpu_s": 3.0},
            {"query": "same", "pass": 2, "wall_s": 1.01, "exec.cpu_s": 1.0},
        ],
    )
    rows = diff.compare(diff.load(a), diff.load(b))
    assert [r["query"] for r in rows] == ["slow", "same"]
    assert rows[0]["verdict"] == "moved" and rows[0]["work_moved"] == ["exec.cpu_s"]
    assert rows[0]["top_layers"][0] == {"metric": "exec.cpu_s", "delta": 2.0}
    assert rows[1]["verdict"] == "same"


def test_load_takes_the_median_over_traced_passes(tmp_path):
    a = _trace(
        tmp_path / "a.json",
        [{"query": "q", "pass": p, "wall_s": w} for p, w in ((2, 1.0), (4, 5.0), (6, 2.0))],
    )
    assert diff.load(a)["q"]["wall_s"] == 2.0
