"""Determinism of the benchmark's inputs and quality figures.

    python3 -m pytest perfbench/test_perfbench.py -q

The last test runs the benchmark itself (``link`` and ``profile``, twice
each) and takes a few minutes.
"""

import json
import subprocess
import sys
from pathlib import Path

import numpy as np

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import gen  # noqa: E402


def _write_all(seed: int, out: Path) -> dict[str, bytes]:
    """Every input table the workloads generate for ``seed``, as file bytes."""
    gen.write_parquet(gen.persons(np.random.default_rng([seed, 1]), 2_000, "p"), out / "persons")
    dom, rng_side, truth = gen.link_parties(np.random.default_rng([seed, 2]), 1_000, 0.5)
    gen.write_parquet(dom, out / "domain")
    gen.write_parquet(rng_side, out / "range")
    gen.write_parquet(truth, out / "truth")
    gen.write_parquet(gen.pages(np.random.default_rng([seed, 3]), 20_000), out / "pages")
    return {str(p.relative_to(out)): p.read_bytes() for p in sorted(out.rglob("*.parquet"))}


def test_same_seed_gives_identical_files(tmp_path):
    a = _write_all(7, tmp_path / "a")
    b = _write_all(7, tmp_path / "b")
    assert a.keys() == b.keys() and len(a) == 5 * gen.N_FILES
    assert a == b


def test_different_seed_gives_different_files(tmp_path):
    a = _write_all(7, tmp_path / "a")
    b = _write_all(8, tmp_path / "b")
    assert all(a[k] != b[k] for k in a)


def test_planted_truth_points_at_typo_copies():
    dom, rng_side, truth = gen.link_parties(np.random.default_rng(3), 500, 0.5)
    assert len(truth["domain_id"]) == 250 and len(set(rng_side["id"])) == 500
    row_of = {x: i for i, x in enumerate(rng_side["id"])}
    for d, r in zip(truth["domain_id"], truth["range_id"]):
        i, j = int(d[1:]), row_of[r]
        diffs = [c for c in ("first_name", "last_name", "dob", "city") if dom[c][i] != rng_side[c][j]]
        assert len(diffs) == 1 and diffs[0] != "dob"


def _report(workload: str, seed: int) -> dict:
    proc = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", str(seed),
         "--seconds", "1", "--trace", "0"],
        cwd=HERE.parent, capture_output=True, text=True, timeout=300, check=True,
    )
    lines = proc.stdout.splitlines()
    assert json.loads(lines[-1])["correct"]
    return json.loads(lines[-2])["report"]["quality"]


def test_same_seed_repeats_recall_and_sketch_error():
    first = _report("link", 5)
    assert first == _report("link", 5)
    assert first["recall"] > 0.9
    first = _report("profile", 5)
    assert first["sketch_max_rel_error"] == _report("profile", 5)["sketch_max_rel_error"]
