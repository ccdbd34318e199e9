"""Engine configuration mirroring the reference's frozen Settings dataclass.

Reference: /root/reference/one_one_one_rule/settings.py:22-65 and
config/.env.example:10-20. Only the valuation thresholds affect query
semantics; the Drive/logging knobs are out-of-engine sink options.
"""

from __future__ import annotations

import math
import os
from dataclasses import dataclass


@dataclass(frozen=True)
class ValuationThresholds:
    """Valuation screen thresholds (reference settings.py:61-65 defaults)."""

    undervalued: float = 0.90
    overvalued: float = 1.10
    peg_max: float = 1.0
    pe_sector_max_mult: float = 1.0
    margin_of_safety_min: float = 0.0

    @classmethod
    def from_env(cls) -> "ValuationThresholds":
        def _f(name: str, default: float) -> float:
            # float() also parses nan/inf; a non-finite threshold is as
            # unusable as an unparsable one (NaN orders above every double
            # in Spark, so PEG_MAX=nan would pass every positive PEG)
            raw = os.environ.get(name)
            try:
                value = float(raw) if raw not in (None, "") else default
            except ValueError:
                return default
            return value if math.isfinite(value) else default

        return cls(
            undervalued=_f("UNDERVALUED_THRESHOLD", 0.90),
            overvalued=_f("OVERVALUED_THRESHOLD", 1.10),
            peg_max=_f("PEG_MAX", 1.0),
            pe_sector_max_mult=_f("PE_SECTOR_MAX_MULT", 1.0),
            margin_of_safety_min=_f("MARGIN_OF_SAFETY_MIN", 0.0),
        )


DEFAULT_THRESHOLDS = ValuationThresholds()

# Pinned clock for deterministic (oracle-checked / golden) runs.
# Live runs use current_date()/current_timestamp() instead — see
# plans.pipeline.run_metadata.
FIXED_AS_OF_DATE = "2026-01-01"
FIXED_RUN_TS_UTC = "2026-01-01T00:00:00Z"
