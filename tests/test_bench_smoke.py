"""bench.py is the driver's per-round feedback loop — a regression that
breaks it loses the round's BENCH record. This smoke runs the whole
harness end-to-end on its smallest corpus (SPARK_GRAFT_BENCH_PAGES
override; bench.py floors it at 400 pages) and validates the one-line
JSON contract."""

import json
import os
import subprocess
import sys


def test_bench_emits_valid_json_line():
    env = dict(os.environ)
    env.update({
        "SPARK_GRAFT_SF_DIR": "/root/testdata/sf0.001",
        "SPARK_GRAFT_CPUS": "4",
        "SPARK_GRAFT_BENCH_PAGES": "200",
    })
    proc = subprocess.run(
        [sys.executable, "bench.py"], env=env, capture_output=True,
        text=True, timeout=840,  # worst case: 8 corroboration pairs
        # (16 builds) in a degraded phase — measured 415 s typical
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    assert proc.returncode == 0, proc.stderr[-2000:]
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    assert lines, proc.stderr[-2000:]
    out = json.loads(lines[-1])
    assert out["unit"] == "sec" and out["value"] > 0
    q = out["queries"]
    for key in ("scaling_efficiency", "wand_query_p50_sec", "bm25_topk"):
        assert key in q, (key, sorted(q))
    assert 0 < q["scaling_efficiency"] <= 1.5  # sanity, not a perf gate
    # no unpartitioned-window warnings anywhere in the bench run
    assert "No Partition Defined" not in proc.stderr
