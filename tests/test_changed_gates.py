"""tools/changed_gates.py ``closable``: a queued rule-1 entry can leave
``_CHANGED_THIS_ROUND`` once its gate took a green row in the newest
CORRECTNESS file and the diff since that row does not reach it."""

import json
import os
import sys

TOOLS = os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "tools")


def test_closable_needs_newest_green_row_and_no_diff(tmp_path, monkeypatch):
    sys.path.insert(0, TOOLS)
    try:
        import changed_gates as cg
    finally:
        sys.path.remove(TOOLS)
    green = {"rows_match": True, "schema_match": True, "hash_match": True}
    (tmp_path / "CORRECTNESS_r3.json").write_text(json.dumps(
        {"old_green": green}))
    (tmp_path / "CORRECTNESS_r4.json").write_text(json.dumps({
        "green": green, "changed_since": green,
        "red": {**green, "hash_match": False}}))
    monkeypatch.setattr(cg, "REPO", str(tmp_path))
    queued = ["green", "changed_since", "red", "old_green", "no_row"]
    assert cg.closable(queued, {"changed_since": "q_changed_since"}) == \
        ["green"]
    for f in tmp_path.iterdir():
        f.unlink()
    assert cg.closable(queued, {}) == []
