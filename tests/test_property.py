"""Property-based tests (hypothesis) over the pure kernel functions —
`Calibrator.run` must equal the per-event oracle for ANY
score sequence and any (alpha, window, warmup) configuration, not just
the handpicked fixtures."""

import math

import numpy as np
from hypothesis import given, settings, strategies as st

from log_project_spark import oracle
from log_project_spark.adwin import Adwin
from log_project_spark.calibrator import Calibrator
from log_project_spark.config import PipelineConfig

scores_strategy = st.lists(
    st.floats(min_value=-1e6, max_value=1e6, allow_nan=False, allow_infinity=False),
    min_size=1,
    max_size=300,
)


@settings(max_examples=60, deadline=None)
@given(
    scores=scores_strategy,
    alpha=st.floats(min_value=0.001, max_value=0.5),
    window=st.integers(min_value=1, max_value=200),
    warmup=st.integers(min_value=0, max_value=250),
)
def test_conformal_kernel_equals_oracle(scores, alpha, window, warmup):
    thr, anom, drift = Calibrator(
        PipelineConfig(alpha=alpha, window=window, warmup=warmup, drift_detector="none")
    ).run(np.asarray(scores))
    want = oracle.run_stream(scores, alpha=alpha, window=window, warmup=warmup)
    assert list(thr) == want.thresholds
    assert list(anom) == want.is_anom
    assert not drift.any()


@settings(max_examples=40, deadline=None)
@given(
    scores=scores_strategy,
    alpha=st.floats(min_value=0.001, max_value=0.5),
    warmup=st.integers(min_value=1, max_value=250),
)
def test_fixed_threshold_kernel_equals_oracle(scores, alpha, warmup):
    thr, anom, _ = Calibrator(
        PipelineConfig(
            alpha=alpha, window=1000, warmup=warmup, calibration="no_calib",
            drift_detector="none",
        )
    ).run(np.asarray(scores))
    want = oracle.run_stream(scores, alpha=alpha, warmup=warmup, no_calib=True)
    for a, b in zip(thr, want.thresholds):
        assert (math.isinf(a) and math.isinf(b)) or a == b
    assert list(anom) == want.is_anom


@settings(max_examples=25, deadline=None)
@given(
    scores=st.lists(
        st.floats(min_value=-100, max_value=100, allow_nan=False, allow_infinity=False),
        min_size=50,
        max_size=400,
    ),
    delta=st.floats(min_value=0.0005, max_value=0.05),
)
def test_adwin_kernel_equals_oracle_sequence(scores, delta):
    """The kernel's embedded detector sees the same score sequence as a
    standalone ADWIN (drift bits equal), and resets keep thresholds
    equal to the oracle's."""
    thr, anom, drift = Calibrator(
        PipelineConfig(alpha=0.05, window=50, warmup=10, drift_detector="adwin", adwin_delta=delta)
    ).run(np.asarray(scores))
    want = oracle.run_stream(
        scores, alpha=0.05, window=50, warmup=10, detector=Adwin(delta=delta)
    )
    assert list(drift) == want.is_drift
    assert list(thr) == want.thresholds
    assert list(anom) == want.is_anom


@settings(max_examples=60, deadline=None)
@given(
    samples=st.lists(
        st.floats(min_value=-1e9, max_value=1e9, allow_nan=False), min_size=1, max_size=500
    ),
    p=st.floats(min_value=0.0, max_value=100.0),
)
def test_exact_percentile_properties(samples, p):
    v = oracle.exact_percentile(samples, p)
    assert v in samples  # exact pick, never interpolated
    assert min(samples) <= v <= max(samples)


@settings(max_examples=40, deadline=None)
@given(
    buf=st.lists(
        st.floats(min_value=-1e6, max_value=1e6, allow_nan=False), min_size=1, max_size=300
    ),
    alpha=st.floats(min_value=0.001, max_value=0.999),
)
def test_conformal_threshold_monotone_in_alpha(buf, alpha):
    """Lower alpha (stricter FPR) can only raise the threshold."""
    lo = oracle.conformal_threshold(buf, min(alpha * 2, 0.999))
    hi = oracle.conformal_threshold(buf, alpha)
    assert hi >= lo
    assert hi in buf


@settings(max_examples=30, deadline=None)
@given(
    tokens=st.lists(
        st.text(alphabet="abcdefghij <>x0123456789.\t", min_size=0, max_size=40),
        min_size=1,
        max_size=30,
    )
)
def test_mask_chain_idempotent_and_digit_free(tokens):
    """Masking is idempotent and leaves no raw digits outside
    placeholders."""
    line = " ".join(tokens)
    once = oracle.mask_line(line)
    assert oracle.mask_line(once) == once
    import re

    leftover = re.sub(r"<num>|<ip>|<hex>", "", once)
    assert not re.search(r"\d", leftover)
