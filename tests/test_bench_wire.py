"""Pin the bench wire line under the driver's stdout capture.

The driver records only the LAST 2000 characters of bench.py's stdout;
BENCH_r05 and BENCH_r06 both came back ``parsed: null`` because the
printed per-query dict grew with the headline suite and the line's
head (the opening brace, flagship, every r5-comparable entry) fell off
the capture. The fix is structural — ``bench.WIRE`` is a FROZEN subset
that does not grow with ``bench.HEADLINE`` — and this test makes the
budget mechanical: the WORST-CASE printed line (every number at its
widest plausible rendering) must stay under 1900 bytes. Adding a wire
entry without shrinking another fails here, not in the next driver
round.
"""

import json
import os
import subprocess
import sys

import pytest

import bench


def _worst_case_line() -> str:
    # Mirror bench.main()'s compact dict with every value at the widest
    # rendering the formatters can produce: 2-dp query seconds up to
    # 5 digits (a 99999-second query would be a different bug), the
    # tpch suite total, 3-dp calibrations, and streaming ints at the
    # fixture ceiling.
    compact = {
        "metric": "headline_queries_total",
        "value": 9999999.999,
        "unit": "sec",
        "queries": {
            **{q: 99999.99 for q in bench.WIRE},
            "tpch_suite_21q": 99999.99,
        },
        "sf": 0.1,
        "calibration_sec": 99999.999,
        "calibration_stages_sec": 99999.999,
        "streaming": {
            "rocksdb": {
                "ticks_in": 99999999,
                "rows_out": 99999999,
                "sec": 99999.999,
                "ticks_per_sec": 99999999,
                "sec_spread": 99999.99,
            }
        },
    }
    return json.dumps(compact, separators=(",", ":"))


def test_wire_line_fits_driver_capture():
    line = _worst_case_line()
    assert len(line) < 1900, (
        f"worst-case wire line is {len(line)} bytes; the driver captures "
        "2000 — shrink bench.WIRE (it is a frozen subset, not a mirror "
        "of HEADLINE)"
    )


def test_wire_is_subset_of_headline():
    missing = [q for q in bench.WIRE if q not in bench.HEADLINE]
    assert not missing, f"WIRE entries not in HEADLINE: {missing}"
    # Frozen size: growing WIRE requires consciously re-checking the
    # byte budget above (the two tests move together).
    assert len(bench.WIRE) <= 40


def test_wire_keeps_cross_round_anchors():
    # The entries every round-over-round perf comparison reads; losing
    # any of these silently would orphan the historical record.
    for anchor in (
        "flagship_sma_5row",
        "agg_pricing_summary",  # the calibration query itself
        "tpch_q5_local_supplier_volume",
        "ann_cosine_ivf",
        "pipeline_curate",
        "kmeans_train_3iter",
    ):
        assert anchor in bench.WIRE


def test_streaming_noise_treatment_pins():
    """The streaming ticks/s measurement gets the same min-of-N + spread
    treatment as every headline entry. Pin the knob so a refactor can't
    silently drop back to a single warm drain."""
    assert bench.STREAM_REPS >= 3
    # The wire worst-case above must mirror what main() emits —
    # sec_spread is part of the frozen streaming shape.
    assert '"sec_spread"' in _worst_case_line()


def test_stream_fixture_is_cached_and_sized():
    """The tick fixture is a pure function of (symbols, seconds); the
    min-of-N treatment drains it STREAM_REPS times per bench run, so it
    must be built once and reused, not re-serialized per drain."""
    a_dir, a_n = bench._stream_fixture(3, 4)
    b_dir, b_n = bench._stream_fixture(3, 4)
    assert a_dir == b_dir and a_n == b_n == 12
    path = os.path.join(a_dir, "ticks.ndjson")
    with open(path) as fh:
        assert sum(1 for _ in fh) == 12
    # A different size gets its own fixture.
    c_dir, c_n = bench._stream_fixture(2, 2)
    assert c_dir != a_dir and c_n == 4


@pytest.mark.parametrize(
    "argv",
    [["--isolate", "x"], ["--isolate-streaming"], ["--bogus"]],
    ids=["isolate", "isolate_streaming", "bogus"],
)
def test_bench_rejects_arguments(argv, tmp_path):
    """bench.py takes no arguments: any argument exits non-zero with the
    usage message before a session starts, and writes no BENCH_SELF."""
    self_path = tmp_path / "BENCH_SELF.json"
    out = subprocess.run(
        [sys.executable, os.path.abspath(bench.__file__), *argv],
        capture_output=True,
        text=True,
        timeout=120,
        cwd=tmp_path,
        env={**os.environ, "SPARK_GRAFT_BENCH_SELF": str(self_path)},
    )
    assert out.returncode != 0
    assert "usage:" in out.stderr
    assert not self_path.exists()
