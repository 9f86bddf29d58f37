"""``tools/check_oracle.py --diff``: the hash comparison of two oracle runs."""

import os
import subprocess
import sys

TOOL = os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools", "check_oracle.py")

RUN_A = """PASS q1 (3 rows) [0.1s] 6g:aa repr:11 oracle:22
weak q2: rows=3 (no oracle) [0.1s] 6g:bb repr:33
FAIL q3: value mismatch, first diffs: []
     q3 spark output 6g:cc repr:44 oracle:55
PASS q4 (1 rows) [0.1s] 6g:dd repr:66 oracle:77

4 pass, 1 fail, 1 weak (rows-only)
"""


def _diff(tmp_path, a: str, b: str):
    pa, pb = tmp_path / "a.txt", tmp_path / "b.txt"
    pa.write_text(a)
    pb.write_text(b)
    return subprocess.run(
        [sys.executable, TOOL, "--diff", str(pa), str(pb)], capture_output=True, text=True
    )


def test_diff_of_equal_runs_passes(tmp_path):
    """Timings and ``6g`` hashes may differ; equal repr and oracle hashes
    pass."""
    p = _diff(tmp_path, RUN_A, RUN_A.replace("[0.1s]", "[0.2s]").replace("6g:aa", "6g:ab"))
    assert p.returncode == 0, p.stdout
    assert "4 entries in both, 0 differ" in p.stdout


def test_diff_lists_changed_and_missing_entries(tmp_path):
    b = (
        RUN_A.replace("repr:33", "repr:34")
        .replace("oracle:55", "oracle:56")
        .replace("PASS q4", "PASS q5")
    )
    p = _diff(tmp_path, RUN_A, b)
    assert p.returncode == 1
    assert p.stdout.splitlines() == [
        "q2: repr 33 -> 34",
        "q3: oracle 55 -> 56",
        f"q4: only in {tmp_path / 'a.txt'}",
        f"q5: only in {tmp_path / 'b.txt'}",
        "3 entries in both, 4 differ",
    ]
