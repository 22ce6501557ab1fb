"""F1/F2 golden matrix of the staged operators the patients pipeline runs
(``with_height_cm`` / ``with_weight_struct``) — expected values verified by
executing the reference's height_to_cm / weight_to_kg on the same inputs
(SURVEY §5.3 method). NaN in the reference == NULL here (documented
mapping)."""

import math

import pytest
from assignment_etl_spark.ops.units import with_height_cm, with_weight_struct

HEIGHT_GOLDENS = [
    (None, None),
    ("170 cm", 170.0),
    ("165cm", 165.0),
    ("68 in", 172.72),
    ("72in", 182.88),
    ("5ft 6in", 167.64),
    ("5'6\"", 167.64),
    ("5'6", 167.64),
    ("1.8m", 180.0),
    ("1.75 m", 175.0),
    ("162", 162.0),
    ("1.75", 175.0),
    ("300", 300.0),
    ("tall", None),
    ("", None),
    ("2.9", 290.0),
    ("3.0", 3.0),  # not < 3 → taken as cm (reference quirk kept)
    ("100 cm tall", 100.0),
    ("6ft", 182.88),
    ("  170 CM  ", 170.0),
    ("0.5", 50.0),
    ("12in", 30.48),
    ("5 ft 11 in", 180.34),
    ("1m80", None),  # no word boundary after the m → unrecognized
]

WEIGHT_GOLDENS = [
    # (weight, height_cm, expected_kg, flagged, reason)
    (None, 170.0, None, True, "missing_value"),
    ("", 170.0, None, True, "missing_marker"),
    ("na", 170.0, None, True, "missing_marker"),
    ("n/a", None, None, True, "missing_marker"),
    ("-", 170.0, None, True, "missing_marker"),
    ("none", 170.0, None, True, "missing_marker"),
    ("65 kg", 170.0, 65.0, False, "ok"),
    ("65kg", 170.0, 65.0, False, "ok"),
    ("150 lb", 170.0, 68.0388, False, "ok"),
    ("130lb", 165.0, 58.96696, False, "ok"),
    ("54.5", 162.0, 54.5, True, "missing_unit_assumed_kg"),
    ("150", 180.0, 68.0388, True, "missing_unit_assumed_lb"),
    ("150", None, 68.0388, True, "no_height_missing_unit"),
    ("135", None, 135.0, True, "no_height_missing_unit"),
    ("141", None, 63.956472, True, "no_height_missing_unit"),
    ("300 kg", 220.0, 300.0, True, "implausible_bmi_62.0"),
    ("300 kg", 165.0, 300.0, True, "implausible_bmi_110.2"),
    ("30 kg", 180.0, 66.13873260551333, True, "implausible_bmi_fixed"),
    ("500 lb", 170.0, 102.872851232, True, "implausible_bmi_fixed"),
    ("no weight", 170.0, None, True, "no_numeric_found"),
    ("abc", None, None, True, "no_numeric_found"),
    ("70", 170.0, 70.0, True, "missing_unit_assumed_kg"),
    ("200", 170.0, 90.7184, True, "missing_unit_assumed_lb"),
    ("95", 150.0, 95.0, True, "missing_unit_assumed_kg"),
    ("40 kg", 100.0, 40.0, False, "ok"),
    ("20 kg", 180.0, 44.09248840367555, True, "implausible_bmi_fixed"),
    ("1000 kg", 180.0, 1000.0, True, "implausible_bmi_308.6"),
    ("2 lb", 170.0, 0.907184, True, "implausible_bmi_0.3"),
]


def test_height_to_cm_goldens(spark):
    df = spark.createDataFrame(
        [(i, h) for i, (h, _) in enumerate(HEIGHT_GOLDENS)], "i int, height string"
    )
    got = {r.i: r.cm for r in with_height_cm(df, out="cm").collect()}
    for i, (h, expected) in enumerate(HEIGHT_GOLDENS):
        if expected is None:
            assert got[i] is None, (h, got[i])
        else:
            assert got[i] == pytest.approx(expected, abs=1e-9), (h, got[i])


def test_weight_to_kg_goldens(spark):
    df = spark.createDataFrame(
        [(i, w, h) for i, (w, h, *_rest) in enumerate(WEIGHT_GOLDENS)],
        "i int, weight string, height_cm double",
    )
    got = {r.i: r.w for r in with_weight_struct(df, out="w").collect()}
    for i, (w, h, kg, flagged, reason) in enumerate(WEIGHT_GOLDENS):
        res = got[i]
        if kg is None:
            assert res.weight_kg is None, (w, h, res)
        else:
            assert res.weight_kg == pytest.approx(kg, rel=1e-12), (w, h, res)
        assert res.flagged == flagged, (w, h, res)
        assert res.reason == reason, (w, h, res)


def test_weight_bmi_invariant(spark):
    """Property (SURVEY §5.4.3): unitless weight with known height and an
    assumed_* reason implies a plausible BMI."""
    rows = [(str(v), h) for v in range(20, 400, 7) for h in (150.0, 175.0, 200.0)]
    df = spark.createDataFrame(rows, "weight string, height_cm double")
    out = with_weight_struct(df, out="w").select("height_cm", "w").collect()
    for r in out:
        if r.w.reason in ("missing_unit_assumed_kg", "missing_unit_assumed_lb"):
            bmi = r.w.weight_kg / (r.height_cm / 100.0) ** 2
            assert 10.0 <= bmi <= 45.0 or not math.isfinite(bmi)
