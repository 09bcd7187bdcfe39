"""Constants that two statistical families share: the A/B assignment
salt (agg_power_mde, agg_diff_in_diff, sample_ab_assignment_srm) and
the calibration buckets of the length-score classifier
(agg_expected_calibration_error and the ml_* evaluations).
"""

from __future__ import annotations


AB_SALT = "exp42"


ECE_BUCKETS = 10

ECE_SCALE_CHARS = 3000  # score saturates at this doc length
