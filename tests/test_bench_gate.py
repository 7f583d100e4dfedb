"""Pin the bench.py adjudication-gate ceiling (VERDICT r11 ask #5).

The driver's per-row performance ceiling is 2.0x BASELINE. The
calib-scaled retime trigger must therefore never exceed 2.0x, or a
genuinely regressed row could file past the driver gate unadjudicated
on a slow host. bench.retime_gate caps the scaled gate at GATE_CAP.

No SparkSession needed — pure arithmetic.
"""

import importlib.util
import pathlib

spec = importlib.util.spec_from_file_location(
    "bench", pathlib.Path(__file__).resolve().parent.parent / "bench.py"
)
bench = importlib.util.module_from_spec(spec)
spec.loader.exec_module(bench)


def test_gate_is_raw_on_fast_hosts():
    # At or faster than the reference host the raw 1.5x applies.
    assert bench.retime_gate(bench.REFERENCE_CALIB) == 1.5
    assert bench.retime_gate(0.2) == 1.5


def test_gate_scales_on_slow_hosts():
    # r11's driver host: calib 0.532 -> 1.5 * 0.532/0.45 ~= 1.773.
    g = bench.retime_gate(0.532)
    assert abs(g - 1.5 * 0.532 / 0.45) < 1e-9
    assert g < bench.GATE_CAP


def test_gate_never_reaches_driver_ceiling():
    # The interaction VERDICT r11 flagged: at calib >= 0.57 the uncapped
    # gate would exceed the driver's 2.0x ceiling. Capped at 1.9.
    assert bench.GATE_CAP < 2.0
    for calib in (0.57, 0.60, 0.77, 1.42, 1.67, 5.0):
        assert bench.retime_gate(calib) == bench.GATE_CAP


def test_gate_monotone_until_cap():
    vals = [bench.retime_gate(c) for c in (0.1, 0.45, 0.5, 0.55, 0.57, 1.0)]
    assert vals == sorted(vals)


def test_control_pass_skips_rows_without_an_insuite_time():
    # A row that failed or was skipped mid-suite has no in-suite time;
    # the control pass must leave it out on both paths, not KeyError.
    names = ["q01", "q02", "q03"]
    timings = {"q01": 1.0, "q03": 2.0}
    assert bench.control_rows(names, timings, True) == ["q01", "q03"]
    sample = list(bench.CONTROL_SAMPLE)
    partial = {n: 1.0 for n in sample[1:]}
    assert bench.control_rows(names + sample, partial, False) == sample[1:]
