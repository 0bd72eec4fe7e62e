"""bench.py's stdout contract: the last line is a compact summary the
driver parses from a ~2 KB stdout tail. Pure-python test — no Spark
session."""

import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from bench import HEADLINE, _compact  # noqa: E402


def test_compact_summary_is_small_and_carries_only_measured_sections():
    artifact = {
        "metric": "headline_battery_seconds",
        "value": 123.456,
        "unit": "sec",
        "queries": {name: 12.345678 for name in HEADLINE},
        "queries_steal_jiffies": {name: 3 for name in HEADLINE},
        "battery_steal_cap": 500,
        "sf": "/data/sf0.1",
        "throughput": {"flagship_rows_in": 102_400_000, "flagship_sec": 9.876,
                       "events_per_sec": 10_368_570, "amplification": 1024},
        # sections an older artifact carried: a summary must never pass
        # them through, since this run did not measure them
        "streaming": {"sustained_rows_per_sec": 7_543_337, "p99_batch_ms": 900},
        "scaling": {"efficiency_8_to_32": 0.695, "headline_valid": True},
    }
    c = _compact(artifact)
    line = json.dumps(c, separators=(",", ":"))
    assert len(line.encode()) <= 1500, len(line.encode())
    for key in ("metric", "value", "unit", "queries", "sf", "throughput",
                "full_artifact"):
        assert key in c, key
    assert c["queries"] == {name: 12.35 for name in HEADLINE}
    assert c["throughput"] == {"events_per_sec": 10_368_570, "rows_in": 102_400_000}
    assert "streaming" not in c and "scaling" not in c
