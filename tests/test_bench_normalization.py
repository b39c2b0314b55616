"""bench.py's host-speed normalization contract (r11 verdict #2): the
probe correction emits a number ONLY where it is honest — observed probe
inside the pinned host-family band AND a stable host across the suite.
Pure-function tests; no Spark session."""

import bench


def test_in_band_stable_host_emits_scaled_value():
    # observed median == the pin → no scaling
    v, flags = bench.normalize_warm(20.0, 0.20, 0.20)
    assert v == 20.0
    assert not flags["probe_out_of_band"] and not flags["probe_drifted"]
    assert flags["probe_ratio"] == 1.0
    # 25% slower host, stable → scaled down by the ratio
    v, flags = bench.normalize_warm(20.0, 0.25, 0.25)
    assert v == 16.0
    assert not flags["probe_out_of_band"] and not flags["probe_drifted"]


def test_band_covers_recorded_driver_hosts():
    # the r10/r11 driver hosts (0.164 / ~0.20 / 0.243) must all normalize
    # — the old r08-r09 pin left the field null on every recent host
    for probe in (0.164, 0.20, 0.243):
        v, flags = bench.normalize_warm(20.0, probe, probe)
        assert v is not None, probe
        assert not flags["probe_out_of_band"]


def test_out_of_band_nulls():
    for probe in (0.05, 0.45):  # beyond either band edge
        v, flags = bench.normalize_warm(20.0, probe, probe)
        assert v is None
        assert flags["probe_out_of_band"]


def test_intra_run_drift_nulls_even_when_median_in_band():
    # the r11 driver run: 0.164 → 0.243 (+48% mid-suite).  The median
    # (0.2035) is comfortably in-band — but a host that changed speed
    # mid-suite has no single honest correction factor
    v, flags = bench.normalize_warm(20.0, 0.164, 0.243)
    assert not flags["probe_out_of_band"]
    assert flags["probe_drifted"]
    assert v is None
    # the r11 judge's own run drifted 2.8× (0.37 → 0.133): also null
    v, flags = bench.normalize_warm(20.0, 0.37, 0.133)
    assert flags["probe_drifted"] and v is None
    # mild drift (under the gate) still normalizes off the median
    v, flags = bench.normalize_warm(20.0, 0.18, 0.22)
    assert not flags["probe_drifted"] and v is not None


def test_drift_ratio_reported():
    _, flags = bench.normalize_warm(10.0, 0.1, 0.3)
    assert flags["probe_intra_run_drift"] == 3.0


def test_numpy_canary_drift_also_gates():
    # BENCH_r13_c8: the Spark canary stayed under the gate (0.282 -> 0.32)
    # while the numpy one moved 0.086 -> 0.285 (3.3×)
    v, flags = bench.normalize_warm(26.575, 0.282, 0.32, 0.086, 0.285)
    assert not flags["probe_drifted"]  # the Spark-only field is unchanged
    assert flags["probe_numpy_drifted"] and flags["probe_any_drifted"]
    assert flags["probe_numpy_intra_run_drift"] == 3.314
    assert v is None
    # a steady numpy canary leaves the Spark-gated value as it was
    v, flags = bench.normalize_warm(20.0, 0.20, 0.20, 0.09, 0.10)
    assert v == 20.0
    assert not flags["probe_numpy_drifted"] and not flags["probe_any_drifted"]


def test_numpy_fields_only_when_its_canary_is_given():
    _, flags = bench.normalize_warm(20.0, 0.20, 0.20)
    assert set(flags) == {
        "probe_ratio", "probe_out_of_band", "probe_intra_run_drift",
        "probe_drifted",
    }


def test_unsteady_queries_flagged_above_2x():
    # BENCH_r13_c8's warm spreads: text_fingerprint 2.29-9.04 s (3.9×)
    out = bench.warm_steadiness({
        "text_fingerprint": [2.293, 9.041],
        "exstream_explain": [2.523, 5.375],
        "join_broadcast_dims": [0.251, 0.26],
        "exactly_2x": [1.0, 2.0],
    })
    assert out["queries_unsteady"] == ["exstream_explain", "text_fingerprint"]
    assert out["queries_warm_spread_ratio"]["text_fingerprint"] == 3.943
    assert out["queries_warm_spread_ratio"]["exactly_2x"] == 2.0
