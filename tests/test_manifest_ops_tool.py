"""tools/manifest_ops.py --compare on synthetic dump dirs (no Spark, no
engine run)."""

from __future__ import annotations

import copy
import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "tools"))

import manifest_ops  # noqa: E402


def _part(pid: int, base: str) -> dict:
    return {"part_id": pid, "path": f"{base}/part_{pid}", "row_count": 10,
            "created_at": 1000.0 + pid}


def _manifest(base: str, version: int, tombstone_version: int,
              lw_version: int) -> dict:
    return {
        "next_part_id": 4,
        "parts": [_part(2, base), _part(3, base)],
        "version": version,
        "log": [[v, [2, 3]] for v in range(1, version + 1)],
        "tombstones": {"1": [_part(1, base), tombstone_version]},
        "table_meta": {
            "lw_deletes": [{"id": 1, "pred": "key = 1",
                            "version": lw_version, "parts": [2]}],
            "mutation_log": [{"mutation_id": 1, "kind": "delete",
                              "created_at": 5.0 + version}],
        },
    }


def _dump(tmp_path, name: str, manifests: dict) -> str:
    d = tmp_path / name
    d.mkdir()
    for op, m in manifests.items():
        (d / f"{op}.json").write_text(json.dumps(m))
    return str(d)


def test_version_axis_paths_and_created_at_are_not_compared(tmp_path,
                                                            capsys):
    a = _dump(tmp_path, "a", {"01_insert": _manifest("/x/t", 9, 7, 8)})
    b = _dump(tmp_path, "b", {"01_insert": _manifest("/y/t", 3, 2, 3)})
    assert manifest_ops.compare(a, b) == 0
    out = capsys.readouterr().out
    assert "01_insert.json: same" in out
    assert "version 9 vs 3" in out
    assert "lw_delete versions [8] vs [3]" in out


def test_a_changed_part_set_is_a_diff(tmp_path, capsys):
    m = _manifest("/x/t", 3, 2, 3)
    other = copy.deepcopy(m)
    other["tombstones"]["4"] = [_part(4, "/x/t"), 3]
    a = _dump(tmp_path, "a", {"01_insert": m, "02_update": m})
    b = _dump(tmp_path, "b", {"01_insert": m, "02_update": other})
    assert manifest_ops.compare(a, b) == 1
    out = capsys.readouterr().out
    assert "01_insert.json: same" in out
    assert "02_update.json: DIFF" in out
    assert "tombstones differs" in out


def test_different_operations_are_a_diff(tmp_path, capsys):
    m = _manifest("/x/t", 3, 2, 3)
    a = _dump(tmp_path, "a", {"01_insert": m})
    b = _dump(tmp_path, "b", {"01_insert": m, "02_update": m})
    assert manifest_ops.compare(a, b) == 1
    assert "DIFF operations" in capsys.readouterr().out
