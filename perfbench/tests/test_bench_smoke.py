"""Each workload end to end at a tiny size, traced: exits 0, every gate
passes, and it prints exactly the declared metrics. Also checks the
Arrow-kernel panel against its recursive-CTE oracle, which is too slow
to run inside the benchmark at full size."""

import json
import os
import subprocess
import sys

import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)

SMALL = {
    "tick_pipeline": (
        "w.REPLAY = {'files': 3, 'ticks_per_file': 500, 'hours': 1.0}; w.MIN_DRAINS = 1; "
        "w.REPLAY_SHARE = 0; w.LIVE_TICKS_PER_FILE = 50"
    ),
    "dashboard_reads": "w.DASH_ROWS = 2000",
}


def _run(code: str, timeout: int = 600) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "-c", f"import sys; sys.path.insert(0, {BENCH!r}); {code}"],
        cwd=ROOT, capture_output=True, text=True, timeout=timeout,
    )


@pytest.mark.parametrize("workload", sorted(SMALL))
@pytest.mark.parametrize("trace", [0, 1])
def test_workload_smoke(workload, trace):
    if trace == 0 and workload != "tick_pipeline":
        pytest.skip("the untraced path is shared; one workload covers it")
    code = (
        f"import workloads as w; {SMALL[workload]}; import run; "
        f"sys.exit(run.main(['--workload', {workload!r}, '--seed', '3', '--seconds', '12', '--trace', '{trace}']))"
    )
    proc = _run(code)
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        declared = json.load(fh)["per_layer" if trace else "end_to_end"]
    assert list(result["metrics"]) == [m["name"] for m in declared]
    if trace:
        assert result["metrics"]["tmp.dirs_left"]["value"] >= 0
    else:
        assert all(m["value"] > 0 for m in result["metrics"].values())
    assert not os.path.exists(os.path.join(BENCH, ".scratch"))


def test_macd_panel_matches_its_recursive_oracle(tmp_path):
    code = f"""
import os
sys.path.insert(0, {ROOT!r})
import gen, oracle
from cryptopulse_real_time_arbitrage_detection_lakehouse_spark import plans
from cryptopulse_real_time_arbitrage_detection_lakehouse_spark.session import get_spark
sf = {str(tmp_path)!r}
gen.write_parquet(gen.events_table(11, rows=1500, days=2), os.path.join(sf, 'events.parquet'))
spark = get_spark('perfbench-test')
got = oracle.canon_panel(plans.get('candle_macd').fn(spark, sf).toPandas())
want = oracle.registry_oracle(plans.get('candle_macd').oracle, os.path.join(sf, 'events.parquet'))
spark.stop()
assert len(got) > 0 and got.equals(want), (got.head(), want.head())
"""
    proc = _run(code)
    assert proc.returncode == 0, proc.stderr[-3000:]
