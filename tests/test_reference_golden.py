"""Golden parity vs the ACTUAL reference implementation.

tests/golden/reference_rewards.json was produced by executing the reference's
``entropy_based_single_feature_reward`` + ``reward_leap_filter``
(reference exstream/entropy_based_single_reward_feature.py:203-314, with the
driver's single-feature guard from script_1.py:22-26) on deterministic
synthetic ref/ano slices.  Only the OUTPUTS are stored — no reference code.

Cases cover: clean separation + constant column (the dropped-final-segment
quirk Q2 makes constants score high — the reference keeps f_const and so must
we), heavy duplicate values, graded multi-feature leap cuts, and the
single-feature guard.
"""

import json
import pathlib

import pytest

from exstream_implementation_spark.operators.leap import reward_leap_filter
from exstream_implementation_spark.operators.rewards import single_feature_rewards

GOLDEN = json.loads(
    (pathlib.Path(__file__).parent / "golden" / "reference_rewards.json").read_text()
)


def melted_from_case(spark, case):
    feats = list(case["refs"])
    rows = []
    for td, side in ((0, "refs"), (1, "anos")):
        n = len(case[side][feats[0]])
        for t in range(n):
            for i, f in enumerate(feats):
                rows.append(("g", td, t, f, i, float(case[side][f][t])))
    return spark.createDataFrame(
        rows,
        "ano_key string, type_data int, timestamp long, feature string, "
        "feature_order int, value double",
    )


@pytest.mark.parametrize("name", sorted(GOLDEN))
def test_rewards_and_leap_match_reference(spark, name):
    case = GOLDEN[name]
    rewards = single_feature_rewards(
        melted_from_case(spark, case), list(case["refs"])
    )
    got = {r["feature"]: r for r in rewards.collect()}
    assert set(got) == set(case["rewards"])
    for f, want in case["rewards"].items():
        assert got[f]["reward"] == pytest.approx(want, rel=1e-9), f
    kept = reward_leap_filter(
        (r["ano_key"], r["feature"], r["feature_order"], r["reward"])
        for r in got.values()
    )
    assert [r[1] for r in kept] == case["kept"]
