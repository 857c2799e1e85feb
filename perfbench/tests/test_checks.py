"""The quantify output check tells the expected abundances, and their
floor variants, from a uniform guess and from the planted truth."""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402
import workloads as W  # noqa: E402


@pytest.fixture(scope="module")
def truth(tmp_path_factory):
    out = tmp_path_factory.mktemp("genomics")
    return gen.make_genomics(str(out), 301, k=W.K, **W.SIZES["full"]["genomics"])


def _write(tmp_path, abundances):
    with open(tmp_path / "part-00000", "w") as fh:
        for t_id, ab in abundances.items():
            fh.write(f"{t_id}, {ab!r}\n")
    return str(tmp_path)


def _l1(a, b):
    return sum(abs(a[t] - b[t]) for t in a)


def test_expected_output_passes(tmp_path, truth):
    quality = W.check("quantify", _write(tmp_path, truth["expected"][0]), truth, {})
    assert quality["model_l1"] < 1e-12
    assert quality["truth_score"] > 1 - 1e-12


def test_floor_variant_passes(tmp_path_factory, tmp_path):
    """On seed 505 a k-mer's exact calibrated count is 173.0000124, and
    Spark's L-BFGS fallback fits it as 172.9998. So a correct pipeline
    may floor it to 172, which moves the output by 2.2e-6 (L1): more
    than the check allows from the exact floors, but a floor variant."""
    truth = gen.make_genomics(
        str(tmp_path_factory.mktemp("genomics")), 505, k=W.K, **W.SIZES["full"]["genomics"]
    )
    exact = truth["expected"][0]
    far = [v for v in truth["expected"][1:] if _l1(exact, v) > W.MAX_MODEL_L1]
    assert far
    for variant in far:
        assert W.check("quantify", _write(tmp_path, variant), truth, {})["model_l1"] < 1e-12


@pytest.mark.parametrize("guess", ["uniform", "planted"])
def test_output_that_ignores_the_pipeline_fails(tmp_path, truth, guess):
    planted = truth["abundance"]
    got = {t: 1 / len(planted) for t in planted} if guess == "uniform" else planted
    with pytest.raises(W.CheckFailed, match="from the expected ones"):
        W.check("quantify", _write(tmp_path, got), truth, {})
